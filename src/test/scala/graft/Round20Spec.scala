package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.diff.{PrivilegeCheck => PC}

/** Round-20 properties: the privilege lattice vs a brute-force twin, the
  * Debezium decoder's Go renders and encode→decode fixpoint, the openapi
  * round trip and the shown-grant normalizations. */
class Round20Spec extends AnyFunSuite {

  test("privilege lattice vs brute-force leaf coverage, 300 random trials") {
    // independent twin: enumerate every required LEAF and decide
    // coverage directly from the grant statements — no shared code with
    // the kernel's fold (LIKE matching via regex translation here)
    val rnd = new scala.util.Random(308)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    def likeMatches(pattern: String, s: String): Boolean = {
      val sb = new StringBuilder
      var i = 0
      while (i < pattern.length) {
        val c = pattern.charAt(i)
        if (c == '\\' && i + 1 < pattern.length) {
          sb ++= java.util.regex.Pattern.quote(
            pattern.charAt(i + 1).toString); i += 2
        } else {
          if (c == '%') sb ++= ".*"
          else if (c == '_') sb ++= "."
          else sb ++= java.util.regex.Pattern.quote(c.toString)
          i += 1
        }
      }
      s.matches(sb.toString)
    }
    val privPool = Seq(PC.Select -> "SELECT", PC.Insert -> "INSERT",
      PC.Reload -> "RELOAD", PC.ReplicationClient -> "REPLICATION CLIENT",
      PC.LockTables -> "LOCK TABLES")
    val dbPool = Seq("db1", "db2", "db_x", "demo_foobar")
    for (trial <- 0 until 300) {
      // random required lattice
      val required: PC.Lack = privPool
        .filter(_ => rnd.nextBoolean()).map { case (p, _) =>
          if (rnd.nextBoolean()) p -> PC.Priv(needGlobal = true)
          else p -> PC.Priv(dbs = dbPool.filter(_ => rnd.nextBoolean())
            .map { db =>
              if (rnd.nextBoolean()) db -> PC.DbPriv(wholeDB = true)
              else db -> PC.DbPriv(tables = Seq("t1", "t2")
                .filter(_ => rnd.nextBoolean())
                .map(_ -> PC.TablePriv(wholeTable = true)).toMap)
            }.toMap)
        }.toMap
      // random grant set (grant-only; no columns, no wildickery beyond
      // db patterns)
      case class G(priv: String, level: Int, db: String, table: String)
      val grants = (0 until rnd.nextInt(5)).map { _ =>
        val p = pick(privPool.map(_._2) ++
          Seq("ALL PRIVILEGES", "SUPER", "FLUSH_TABLES", "USAGE"))
        pick(Seq(0, 1, 2)) match {
          case 0 => G(p, 0, "", "")
          case 1 => G(p, 1, pick(dbPool :+ "db\\_x" :+ "d%"), "")
          case 2 => G(p, 2, pick(dbPool), pick(Seq("t1", "t2")))
        }
      }
      val stmts = grants.map {
        case G(p, 0, _, _) => s"GRANT $p ON *.* TO 'u'@'%'"
        case G(p, 1, db, _) => s"GRANT $p ON `$db`.* TO 'u'@'%'"
        case G(p, 2, db, t) => s"GRANT $p ON `$db`.`$t` TO 'u'@'%'"
      }
      // brute force per-leaf coverage
      def privCovers(gp: String, p: PC.PrivT, global: Boolean): Boolean =
        gp == privPool.find(_._1 == p).map(_._2).getOrElse("?") ||
          gp == "ALL PRIVILEGES" ||
          (gp == "SUPER" && (global && p == PC.ReplicationClient)) ||
          (gp == "FLUSH_TABLES" && global && p == PC.Reload)
      def globalCovered(p: PC.PrivT): Boolean =
        grants.exists(g => g.level == 0 && privCovers(g.priv, p,
          global = true))
      def dbCovered(p: PC.PrivT, db: String): Boolean =
        globalCovered(p) || grants.exists(g => g.level == 1 &&
          privCovers(g.priv, p, global = false) && likeMatches(g.db, db))
      def tableCovered(p: PC.PrivT, db: String, t: String): Boolean =
        dbCovered(p, db) || grants.exists(g => g.level == 2 &&
          privCovers(g.priv, p, global = false) && g.db == db &&
          g.table == t)
      val expected: PC.Lack = required.flatMap { case (p, pr) =>
        if (pr.needGlobal) {
          if (globalCovered(p)) None else Some(p -> pr)
        } else {
          val dbs = pr.dbs.flatMap { case (db, dp) =>
            if (dp.wholeDB) {
              if (dbCovered(p, db)) None else Some(db -> dp)
            } else {
              val ts = dp.tables.filter { case (t, _) =>
                !tableCovered(p, db, t)
              }
              if (ts.isEmpty) None else Some(db -> dp.copy(tables = ts))
            }
          }
          if (dbs.isEmpty) None else Some(p -> pr.copy(dbs = dbs))
        }
      }
      if (stmts.nonEmpty) {
        val got = PC.verifyPrivileges(stmts, required)
        assert(got == Right(expected),
          s"trial $trial\n grants=$stmts\n required=$required")
        // revoke round-trip: revoking one granted GLOBAL statement then
        // re-granting it restores the original outcome. Global-only by
        // design: below global the reference's restore is deliberately
        // conservative (a table-level revoke under a wholeDB
        // requirement re-opens the WHOLE db, which re-granting the
        // table cannot close; SUPER's ReplicationClient equivalence
        // applies on revoke at any level but on grant only at global) —
        // those asymmetries are the reference's real semantics, pinned
        // by the replayed vectors above
        val revocable = grants.filter(_.level == 0)
        if (revocable.nonEmpty) {
          val g = pick(revocable)
          val (revoke, regrant) = g match {
            case G(p, 0, _, _) =>
              (s"REVOKE $p ON *.* FROM 'u'@'%'",
                s"GRANT $p ON *.* TO 'u'@'%'")
            case G(p, 1, db, _) =>
              (s"REVOKE $p ON `$db`.* FROM 'u'@'%'",
                s"GRANT $p ON `$db`.* TO 'u'@'%'")
            case G(p, _, db, t) =>
              (s"REVOKE $p ON `$db`.`$t` FROM 'u'@'%'",
                s"GRANT $p ON `$db`.`$t` TO 'u'@'%'")
          }
          val rt = PC.verifyPrivileges(stmts ++ Seq(revoke, regrant),
            required)
          assert(rt == Right(expected), s"trial $trial revoke round-trip")
        }
      }
    }
  }

  test("decoder Go-render edges: time strings, durations, bit buffers") {
    import graft.functions.{DebeziumEnvelope => DE}
    // Go time.Time.String() trims trailing fraction zeros
    assert(DE.goUtcString(1640995200000000L) ==
      "2022-01-01 00:00:00 +0000 UTC")
    assert(DE.goUtcString(1640995200123450L) ==
      "2022-01-01 00:00:00.12345 +0000 UTC")
    assert(DE.goUtcString(1640995200100000L) ==
      "2022-01-01 00:00:00.1 +0000 UTC")
    // pre-epoch (negative micros) renders the earlier date
    assert(DE.goUtcString(-86400000000L) ==
      "1969-12-31 00:00:00 +0000 UTC")
    // types.Duration at MaxFsp always carries six digits; sign leads
    assert(DE.goDurationString(36610000005L) == "10:10:10.000005")
    assert(DE.goDurationString(-3600000000L) == "-01:00:00.000000")
    // tidb_type parse-back: unsigned/binary flag strips
    assert(DE.parseTidbType("int unsigned") == (("long", true, false)))
    assert(DE.parseTidbType("varbinary") == (("varchar", false, true)))
    assert(DE.parseTidbType("text") == (("blob", false, false)))
    assert(DE.parseTidbType("blob") == (("blob", false, true)))
    // size variants the reference encoder emits via types.TypeToStr
    assert(DE.parseTidbType("longblob") == (("blob", false, true)))
    assert(DE.parseTidbType("tinyblob") == (("blob", false, true)))
    assert(DE.parseTidbType("mediumtext") == (("blob", false, false)))
    // TestGetSchemaTopicName, replayed from source: leading digit keeps
    // the digit after the replacement char, '.' sanitizes in names but
    // survives in topic names, non-ASCII letters replace in topics.
    // The replay runs only where the reference checkout's helper_test.go
    // exists; without it the checks above still run.
    val helperTest = RefSource
      .sourceOpt("pkg/sink/codec/debezium/helper_test.go").getOrElse("")
    val fnAt = helperTest.indexOf("func TestGetSchemaTopicName")
    if (fnAt >= 0) {
      val body = helperTest.substring(fnAt)
      def lit(k: String): String =
        (k + """ := "([^"]+)"""").r.findFirstMatchIn(body).get.group(1)
      val expected = """name, "([^"]+)"""".r
        .findFirstMatchIn(body).get.group(1)
      assert(DE.schemaTopicName(lit("namespace"), lit("schema"),
        lit("table")) == expected)
    }
  }

  test("debezium encode→decode fixpoint over 200 random typed rows") {
    import graft.functions.{DebeziumEnvelope => DE}
    import graft.functions.DebeziumFields.FieldSpec
    val rnd = new scala.util.Random(20)
    def pad2(n: Int) = f"$n%02d"
    for (trial <- 0 until 200) {
      // one random column per family, values drawn in-range so the
      // decode render can be derived INDEPENDENTLY of the kernel
      val intV = rnd.nextInt(1 << 16) - (1 << 15)
      val utinyV = rnd.nextInt(256)
      val strV = "s" + rnd.alphanumeric.take(rnd.nextInt(8)).mkString
      val binV = rnd.alphanumeric.take(3).mkString
      val day = java.time.LocalDate.of(2000 + rnd.nextInt(60),
        1 + rnd.nextInt(12), 1 + rnd.nextInt(28))
      val h = rnd.nextInt(24); val mi = rnd.nextInt(60)
      val se = rnd.nextInt(60)
      val dtV = s"$day $h:$mi:$se".replaceAll(" (\\d):", " 0$1:")
      val dtRaw = f"$day $h%02d:$mi%02d:$se%02d"
      val bitV = rnd.nextInt(1 << 16)
      val yearV = 1990 + rnd.nextInt(40)
      val cols = Seq(
        FieldSpec("pk", "long", notNull = true) ->
          Some(intV.toString),
        FieldSpec("ut", "tiny", unsigned = true) ->
          Some(utinyV.toString),
        FieldSpec("st", "varchar", flen = 20) -> Some(strV),
        FieldSpec("bi", "varchar", flen = 20, binary = true,
          charset = "binary") -> Some(binV),
        FieldSpec("dt", "date") -> Some(day.toString),
        FieldSpec("ts6", "datetime", fsp = 6) ->
          Some(dtRaw + ".250000"),
        FieldSpec("tm", "time", fsp = 0) ->
          Some(f"$h%02d:$mi%02d:$se%02d"),
        FieldSpec("b16", "bit", flen = 16) -> Some(bitV.toString),
        FieldSpec("yr", "year") -> Some(yearV.toString))
      val key = DE.rowKey("c1", "d1", "t1",
        cols.filter(_._1.notNull), ext = true)
      val value = DE.rowValue("c1", 42L, 0L, "d1", "t1", "c", cols,
        ext = true)
      val decoded = DE.rowEventOf(key, value).after.map {
        case (n, v, _) => n -> v
      }.toMap
      // independent expected renders
      assert(decoded("pk") == intV.toString, s"trial $trial pk")
      assert(decoded("ut") == utinyV.toString)
      assert(decoded("st") == strV)
      assert(decoded("bi") == "0x" +
        binV.getBytes("UTF-8").map(b => f"$b%02x").mkString)
      assert(decoded("dt") == s"$day 00:00:00 +0000 UTC")
      assert(decoded("ts6") ==
        f"$day $h%02d:$mi%02d:$se%02d.25 +0000 UTC", s"trial $trial dt")
      assert(decoded("tm") == f"$h%02d:$mi%02d:$se%02d.000000")
      assert(decoded("b16") == bitV.toString)
      assert(decoded("yr") == yearV.toString)
    }
  }

  test("TaskConverters openapi round-trip fixpoint over 100 random tasks") {
    import graft.streaming.{TaskConverters => CV}
    import graft.streaming.{SubTaskValidate => STV}
    val rnd = new scala.util.Random(2020)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    var converted = 0
    for (trial <- 0 until 100) {
      val nSources = 1 + rnd.nextInt(3)
      val sourceNames = (0 until nSources).map(i => s"s$i")
      val sources = sourceNames.map(n =>
        n -> STV.SourceCfgModel(sourceId = n,
          caseSensitive = rnd.nextBoolean())).toMap
      val filterRules =
        if (rnd.nextBoolean())
          Map(s"fr$trial" -> CV.BinlogFilterRule(
            Seq(pick(Seq("delete", "insert", "update"))), Seq("^DROP")))
        else Map.empty[String, CV.BinlogFilterRule]
      // filter references only on sources with EXACTLY ONE migrate
      // rule: the reference's stamping is per (rule × reference) and
      // its re-export attaches every stamped name to every rule of the
      // source (task_converters.go:301-311 + :635-640), so a source
      // with 2 filtered rules GROWS templates on every round trip —
      // pinned as a quirk below; the fixpoint class excludes it
      val ruleCounts = sourceNames.map(_ -> (1 + rnd.nextInt(2))).toMap
      val migrate = sourceNames.flatMap { sn =>
        (0 until ruleCounts(sn)).map { i =>
          CV.MigrateRule(sn, s"db$i",
            if (rnd.nextBoolean()) s"t$i" else "",
            if (rnd.nextBoolean())
              Some(CV.MigrateRuleTarget(Some("dst"),
                if (rnd.nextBoolean()) Some(s"t$i") else None))
            else None,
            binlogFilterRules =
              if (ruleCounts(sn) == 1) filterRules.keys.toSeq else Nil)
        }
      }
      val task = CV.OpenApiTask(
        name = s"mig$trial",
        taskMode = pick(Seq("all", "full", "incremental")),
        shardMode =
          if (rnd.nextBoolean()) Some(pick(Seq("pessimistic",
            "optimistic"))) else None,
        metaSchema = "dm_meta",
        enhanceOnlineSchemaChange = rnd.nextBoolean(),
        sourceConf = sourceNames.map(n => CV.SourceConf(n)),
        fullConf = Some(CV.FullMigrateConf(
          exportThreads = Some(4), importThreads = Some(16),
          dataDir = Some("./exported_data"),
          consistency = Some(pick(Seq("auto", "none"))))),
        incrConf = Some(CV.IncrMigrateConf(
          replThreads = Some(16), replBatch = Some(100))),
        migrateRules = migrate,
        binlogFilterRules = filterRules)
      CV.openApiTaskToSubTasks(task, sources) match {
        case Left(e) => fail(s"trial $trial rejected: $e")
        case Right(subTasks) =>
          converted += 1
          val back = CV.subTasksToOpenApiTask(subTasks)
          // the reference re-runs the converters on the re-exported
          // task (openapi GET → edit → POST); the second pass must be
          // a FIXPOINT
          CV.openApiTaskToSubTasks(back, sources) match {
            case Left(e) => fail(s"trial $trial round-2 rejected: $e")
            case Right(subTasks2) =>
              val back2 = CV.subTasksToOpenApiTask(subTasks2)
              assert(back2 == back, s"trial $trial not a fixpoint")
          }
      }
    }
    assert(converted == 100)
    // the excluded class, pinned: a source with TWO filtered migrate
    // rules doubles its stamped templates on re-export — the
    // reference's real divergence, faithfully reproduced
    val fr = Map("fr" -> CV.BinlogFilterRule(Seq("delete"), Seq("^DROP")))
    val twoRules = CV.OpenApiTask(name = "t", taskMode = "all",
      sourceConf = Seq(CV.SourceConf("s0")),
      migrateRules = Seq(
        CV.MigrateRule("s0", "db0", "", binlogFilterRules = Seq("fr")),
        CV.MigrateRule("s0", "db1", "", binlogFilterRules = Seq("fr"))),
      binlogFilterRules = fr)
    val srcs = Map("s0" -> STV.SourceCfgModel(sourceId = "s0"))
    val b1 = CV.subTasksToOpenApiTask(
      CV.openApiTaskToSubTasks(twoRules, srcs).toOption.get)
    val b2 = CV.subTasksToOpenApiTask(
      CV.openApiTaskToSubTasks(b1, srcs).toOption.get)
    assert(b1.binlogFilterRules.size == 2 &&
      b2.binlogFilterRules.size == 4)
  }

  test("trimAdminOption and role discovery match the shown-grant tests") {
    // TestTrimAdminOption's Unicode case: suffix matching is ASCII-fold,
    // the role name's İ must survive untouched
    assert(PC.trimAdminOption(
      "GRANT `admİN`@`%` TO `dmtest`@`%` WITH ADMIN OPTION") ==
      "GRANT `admİN`@`%` TO `dmtest`@`%`")
    assert(PC.trimAdminOption("GRANT SELECT ON *.* TO `dmtest`@`%`") ==
      "GRANT SELECT ON *.* TO `dmtest`@`%`")
    // TestShowGrantsWithMultipleRoles: the USING query assembled from
    // discovered roles
    val roles = PC.discoverRoles(Seq(
      "GRANT `r1`@`%`,`r2`@`%` TO `dmtest`@`%` WITH ADMIN OPTION"))
    assert(PC.usingQuery("SHOW GRANTS FOR CURRENT_USER", roles) ==
      "SHOW GRANTS FOR CURRENT_USER USING `r1`@`%`, `r2`@`%`")
    // TestShowGrantsIgnoresUnparseableGrantForRoleDiscovery: a MariaDB
    // grant contributes no roles and kills nothing
    assert(PC.discoverRoles(Seq(
      "GRANT BINLOG MONITOR ON *.* TO `dmtest`@`%`",
      "GRANT SELECT ON *.* TO `dmtest`@`%`")).isEmpty)
    // the IDENTIFIED BY PASSWORD rewrites (privilege.go:660-670)
    assert(PC.normalizeShownGrant(
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD <secret>") ==
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD 'secret'")
    assert(PC.normalizeShownGrant(
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD WITH GRANT OPTION")
      == "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD 'secret' " +
        "WITH GRANT OPTION")
    assert(PC.normalizeShownGrant(
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD") ==
      "GRANT ALL ON *.* TO 'u'@'%' IDENTIFIED BY PASSWORD 'secret'")
  }
}
