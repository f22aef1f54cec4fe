package graft

import org.scalatest.funsuite.AnyFunSuite

import graft.streaming.{DmTaskConfig => TC}
import graft.streaming.{SubTaskValidate => STV}

/** Round-19 properties of the DM task-admission surface: import-into
  * rejection, size algebra, diff short-circuits, Debezium field edges,
  * the adjust fixpoint and storage path round trips. */
class Round19Spec extends AnyFunSuite {

  test("TestTaskConfigImportIntoMultiSourceRejected, replayed") {
    // task_test.go:538-566: first instance loads with import-into,
    // second is plain; adjust must reject the multi-source task
    val cfg = TC.TaskConfig(name = "test", taskMode = "all",
      loaders = Map("only" -> TC.LoaderCfg(importMode = "import-into")),
      instances = Seq(
        TC.Instance("mysql-replica-01", loaderConfigName = "only"),
        TC.Instance("mysql-replica-02", loaderConfigName = "only")))
    TC.adjust(cfg) match {
      case Left((err, _)) => assert(err == TC.ErrImportIntoSharding)
      case Right(_) => fail("import-into multi-source must be rejected")
    }
  }

  test("RAMInBytes / ParseFileSize algebra (go-units binary multipliers)") {
    assert(TC.ramInBytes("500m") == Right(500L * 1024 * 1024))
    assert(TC.ramInBytes("32") == Right(32L))
    assert(TC.ramInBytes("1g") == Right(1L << 30))
    assert(TC.ramInBytes("1.5k") == Right(1536L))
    assert(TC.ramInBytes("2KiB") == Right(2048L))
    assert(TC.ramInBytes("12q").isLeft)
    // ParseFileSize: a bare integer is MiB (file.go:81-82)
    assert(TC.parseFileSize("64", 0) == Right(64L << 20))
    assert(TC.parseFileSize("1g", 0) == Right(1L << 30))
    assert(TC.parseFileSize("", 7) == Right(7L))
    assert(TC.parseFileSize("12q", 0).isLeft)
  }

  test("pkg/diff chunk pipeline short-circuits (diff.go:425-470)") {
    import graft.diff.{DiffSample => DS}
    var checksumRan = 0; var rowsRan = 0
    def checksum(eq: Boolean) = { checksumRan += 1; eq }
    def rows(eq: Boolean) = { rowsRan += 1; eq }
    // sampled-out chunks pay NO IO at all
    assert(DS.chunkCheckDecision(filterByRand = true, roll = 80, sample = 40,
      useChecksum = true, onlyUseChecksum = false,
      checksum(true), rows(true)) == DS.Ignore)
    assert(checksumRan == 0 && rowsRan == 0)
    // equal checksum short-circuits the row compare
    assert(DS.chunkCheckDecision(filterByRand = true, roll = 10, sample = 40,
      useChecksum = true, onlyUseChecksum = false,
      checksum(true), rows(true)) == DS.Success)
    assert(checksumRan == 1 && rowsRan == 0)
    // only-use-checksum fails WITHOUT the row fall-through
    assert(DS.chunkCheckDecision(filterByRand = false, roll = 0, sample = 100,
      useChecksum = true, onlyUseChecksum = true,
      checksum(false), rows(true)) == DS.Failed)
    assert(checksumRan == 2 && rowsRan == 0)
    // unequal checksum without only-mode falls through to rows
    assert(DS.chunkCheckDecision(filterByRand = false, roll = 0, sample = 100,
      useChecksum = true, onlyUseChecksum = false,
      checksum(false), rows(true)) == DS.Success)
    assert(checksumRan == 3 && rowsRan == 1)
    // no checksum mode goes straight to rows
    assert(DS.chunkCheckDecision(filterByRand = false, roll = 0, sample = 100,
      useChecksum = false, onlyUseChecksum = false,
      checksum(true), rows(false)) == DS.Failed)
    assert(checksumRan == 3 && rowsRan == 2)
    // config fills parsed semantics (diff.go:186-211)
    val DS.AdjustedDiffCfg(cfg, warns) = DS.adjustConfig(DS.TableDiffCfg())
    assert(cfg == DS.TableDiffCfg(1000, "TRUE", 100, 4))
    assert(warns == Seq("chunk-size-default"))
  }

  test("Debezium field matrix edges the golden fixture doesn't reach") {
    import graft.functions.{DebeziumFields => DF}
    import DF.FieldSpec
    // two-digit-year windows (codec.go date/datetime/year legs)
    assert(DF.fieldValue(FieldSpec("c", "year"), Some("18")) == "2018")
    assert(DF.fieldValue(FieldSpec("c", "year"), Some("99")) == "1999")
    assert(DF.fieldValue(FieldSpec("c", "date"), Some("0018-01-01")) ==
      java.time.LocalDate.of(2018, 1, 1).toEpochDay.toString)
    // NOT NULL zero-date renders 0, nullable renders null
    assert(DF.fieldValue(FieldSpec("c", "date", notNull = true),
      Some("0000-00-00")) == "0")
    assert(DF.fieldValue(FieldSpec("c", "date"), Some("0000-00-00")) == "null")
    // int range clamps: only uint64 MAX itself clamps for bigint; other
    // unsigned types clamp strictly above their max (codec.go:763)
    assert(DF.fieldValue(FieldSpec("c", "longlong", unsigned = true),
      Some("18446744073709551615")) == "-1")
    assert(DF.fieldValue(FieldSpec("c", "tiny", unsigned = true),
      Some("255")) == "255")
    assert(DF.fieldValue(FieldSpec("c", "tiny", unsigned = true),
      Some("256")) == "-1")
    assert(DF.fieldValue(FieldSpec("c", "tiny"), Some("-129")) == "-1")
    // FLOAT with a declared (M,D) upgrades the schema to double
    assert(DF.fieldSchema(FieldSpec("c", "float")).schType == "float")
    assert(DF.fieldSchema(FieldSpec("c", "float", fsp = 2)).schType == "double")
    // the vector logical type carries NO version field (codec.go:456-463)
    val v = DF.fieldSchema(FieldSpec("c", "vector"))
    assert(v.logicalName == "io.debezium.data.TiDBVectorFloat32" &&
      v.version == 0)
    // enum option escaping (common/helper.go:323-328)
    assert(DF.escapeEnumOption("a,b") == "a\\,b")
    assert(DF.escapeEnumOption("it''s") == "it's")
    // bit bytes are little-endian, sized to the declared bit length
    assert(DF.bitBytes(5, 16).toSeq == Seq(16.toByte))
    assert(DF.bitBytes(60, 16).length == 8)
    // fsp rounding carries into the next second
    assert(DF.fieldValue(FieldSpec("c", "datetime", fsp = 0),
      Some("2022-01-01 00:00:00.600000")) == "1640995201000")
    // a timestamp WITH a row value below MinTimestamp (incl. zero-date)
    // renders the epoch string even when NULLABLE — the reference keys
    // on col.Value == nil, not the NOT NULL flag (codec.go:705-712);
    // only a nil-sourced value (None) is null
    assert(DF.fieldValue(FieldSpec("c", "timestamp", fsp = 0),
      Some("0000-00-00 00:00:00")) == "\"1970-01-01T00:00:00Z\"")
    assert(DF.fieldValue(FieldSpec("c", "timestamp", fsp = 0), None) == "null")
    // CURRENT_TIMESTAMP value legs (codec.go:640-643, :691-698)
    assert(DF.fieldValue(FieldSpec("c", "datetime", fsp = 0),
      Some("CURRENT_TIMESTAMP")) == "0")
    assert(DF.fieldValue(FieldSpec("c", "timestamp", notNull = true),
      Some("CURRENT_TIMESTAMP")) == "\"1970-01-01T00:00:00Z\"")
    // garbage datetime is an ENCODE ERROR, not a silent 0/null
    intercept[IllegalArgumentException] {
      DF.fieldValue(FieldSpec("c", "datetime", fsp = 0), Some("not-a-date"))
    }
  }

  test("task-config adjust is idempotent over 300 random valid configs") {
    // the reference re-runs adjust on already-adjusted configs (dmctl
    // check-task then start-task both call it); a filled field must
    // never re-fill differently and a valid config must stay valid
    import graft.streaming.{DmTaskConfig => TCx}
    val rnd = new scala.util.Random(19)
    def pick[A](xs: Seq[A]): A = xs(rnd.nextInt(xs.length))
    for (trial <- 0 until 300) {
      val nRoutes = rnd.nextInt(3)
      val routes = (0 until nRoutes).map(i => s"r$i").toSet
      val nLoaders = rnd.nextInt(2)
      val loaders = (0 until nLoaders).map(i => s"l$i" ->
        TCx.LoaderCfg(importMode = pick(Seq("", "SQL", "logical",
          "physical")))).toMap
      val validators = if (rnd.nextBoolean()) Map("v0" ->
        TCx.ValidatorCfg(mode = pick(Seq("", "none", "fast", "full"))))
        else Map.empty[String, TCx.ValidatorCfg]
      val nInst = 1 + rnd.nextInt(3)
      // import-into is only valid single-source — avoid planting it
      val insts = (0 until nInst).map { i =>
        TCx.Instance(s"src$i",
          meta = if (rnd.nextBoolean())
            Some(TCx.Meta(binlogName = "mysql-bin.000001")) else None,
          routeRules = routes.toSeq.sorted.take(rnd.nextInt(nRoutes + 1)),
          loaderConfigName =
            if (loaders.nonEmpty && rnd.nextBoolean()) "l0" else "",
          validatorConfigName =
            if (validators.nonEmpty) "v0" else "",
          syncerCheckpointFlushInterval = pick(Seq(0, 10, 30, 45)))
      }
      // every global must be referenced or adjust rejects as unused
      val referencedRoutes = insts.flatMap(_.routeRules).toSet
      val referencedLoaders =
        insts.map(_.loaderConfigName).filter(_.nonEmpty).toSet
      val cfg = TCx.TaskConfig(
        name = s"t$trial",
        taskMode = pick(Seq("all", "full", "incremental", "load&sync")),
        shardMode = pick(Seq("", "pessimistic", "optimistic")),
        isSharding = rnd.nextBoolean(),
        collationCompatible = pick(Seq("", "loose", "strict")),
        onlineDdlScheme = pick(Seq("", "pt", "gh-ost")),
        routes = referencedRoutes,
        loaders = loaders.filter(kv => referencedLoaders(kv._1)),
        validators =
          if (insts.exists(_.validatorConfigName.nonEmpty)) validators
          else Map.empty,
        instances = insts)
      TCx.adjust(cfg) match {
        case Left(e) => fail(s"trial $trial unexpectedly rejected: $e")
        case Right(TCx.Adjusted(once, _)) =>
          TCx.adjust(once) match {
            case Left(e) => fail(s"trial $trial rejects its own output: $e")
            case Right(TCx.Adjusted(twice, _)) =>
              assert(twice == once, s"trial $trial not idempotent")
          }
      }
    }
  }

  test("review fixes: duration-grammar offsets and Go PathEscape") {
    import graft.streaming.{DmTaskConfig => TCx, SubTaskValidate => SV}
    // the reference parses offsets with the MySQL TIME grammar: a bare
    // number is SECONDS, h:m:s carries seconds; render keeps h:mm
    assert(TCx.parseTimeZone("+10:00:30") == Right("+10:00"))
    assert(TCx.parseTimeZone("+30") == Right("+00:00"))
    assert(TCx.parseTimeZone("-12:59:59").isLeft) // > 12:59 on the minus side
    assert(TCx.parseTimeZone("+10:75").isLeft) // minutes out of range
    // Go url.PathEscape: space -> %20, '+' kept, '/' escaped
    assert(SV.pathEscape("my task") == "my%20task")
    assert(SV.pathEscape("a+b") == "a+b")
    assert(SV.pathEscape("a/b") == "a%2Fb")
    assert(SV.pathEscape("tâche") == "t%C3%A2che")
  }

  test("AdjustPath/TrimPath round trip (storage/utils.go semantics)") {
    // local: trailing separator trimmed, suffix appended once
    assert(STV.adjustPath("./dump_data/", ".task") == "./dump_data.task")
    assert(STV.adjustPath("./dump_data.task", ".task") == "./dump_data.task")
    assert(STV.trimPath("./dump_data.task", ".task") == "./dump_data")
    // s3: operates on the path component, query preserved
    assert(STV.adjustPath("s3://b/p?region=us", "/t.s1") ==
      "s3://b/p/t.s1?region=us")
    assert(STV.trimPath("s3://b/p/t.s1?region=us", "/t.s1") ==
      "s3://b/p?region=us")
    // empty inputs pass through (utils.go:43-45)
    assert(STV.adjustPath("", ".x") == "")
    assert(STV.adjustPath("./d", "") == "./d")
  }
}
