package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.diff.{ConnCheck => CC}
import RefSource.goStrings

/** The DM connection, binlog-db, free-space, primary-key and online-DDL
  * checkers: formulas, privilege sets, templates and the reference's own
  * TestConnNumberChecker scenarios, parsed from the checker source. */
class ConnCheckSpec extends AnyFunSuite {

  test("conn-checker formulas, priv sets and renders, parsed from source") {
    val connSrc = RefSource.source("dm/pkg/checker/conn_checker.go")
    // needed-connection formulas (conn_checker.go:163, :196)
    assert(connSrc.contains("stCfg.LoaderConfig.PoolSize + 1"))
    assert(connSrc.contains("return dumperThreads + 2"))
    // required privileges per checker
    val loaderBody = connSrc.substring(
      connSrc.indexOf("func (l *LoaderConnNumberChecker) Check"),
      connSrc.indexOf("func NewDumperConnNumberChecker"))
    assert(loaderBody.contains("mysql.SuperPriv: {needGlobal: true}"))
    val dumperBody = connSrc.substring(
      connSrc.indexOf("func (d *DumperConnNumberChecker) Check"))
    assert(dumperBody.contains("mysql.ProcessPriv: {needGlobal: true}"))
    // the error renders, parsed and re-instantiated: %d/%s substituted
    // in argument order
    def render(template: String, args: Any*): String = {
      var out = template
      args.foreach(a => out = out.replaceFirst("%[ds]", a.toString))
      out
    }
    def templateAfter(anchor: String): String = {
      val at = connSrc.indexOf(anchor)
      assert(at >= 0, s"$anchor not found")
      goStrings(connSrc.substring(at, at + 600))
        .find(_.contains("%d")).get
    }
    val exceeds = templateAfter("if neededConn > maxConn {")
    val tight = templateAfter("} else if maxConn-usedConn < neededConn {")
    val got = CC.dumperConnCheck(16,
      Seq("GRANT PROCESS ON *.* TO 'u'@'%'"), 5, 32)
    assert(got.errs.map(_._2) ==
      Seq(render(exceeds, 16, "dumper", 34)))
    val gotTight = CC.dumperConnCheck(40,
      Seq("GRANT PROCESS ON *.* TO 'u'@'%'"), 10, 32)
    assert(gotTight.errs.map(_._2) ==
      Seq(render(tight, 40, 9, 31, "dumper", 34)))
    // loader formula: pools [3,5] need (3+1)+(5+1) = 10
    val loader = CC.loaderConnCheck(8,
      Seq("GRANT SUPER ON *.* TO 'u'@'%'"), 1, Seq(3, 5))
    assert(loader.errs.head._2 == render(exceeds, 8, "loader", 10))
    // instruction strings + the lightning downgrade warn
    for (lit <- Seq(got.instruction, loader.instruction) ++
        loader.errs.lastOption.map(_._2))
      assert(connSrc.contains(s""""$lit""""), lit.take(40))
  }

  test("binlog do/ignore-db templates and precedence, parsed from source") {
    val binlogSrc = RefSource.source("dm/pkg/checker/binlog.go")
    assert(binlogSrc.contains(
      "these dbs [%s] are not in binlog_do_db[%s]"))
    assert(binlogSrc.contains(
      "these dbs [%s] are in binlog_ignore_db[%s]"))
    val miss = CC.binlogDbCheck(Seq("db1", "db2"), "db1", "",
      caseSensitive = true)
    assert(binlogSrc.contains(s""""${miss.instruction}""""))
    val ign = CC.binlogDbCheck(Seq("db1"), "", "db0,db1",
      caseSensitive = true)
    assert(binlogSrc.contains(s""""${ign.instruction}""""))
    // do-db set wins: an ignore-db hit is IGNORED when any do-db is set
    assert(CC.binlogDbCheck(Seq("db1"), "db1", "db1",
      caseSensitive = true).state == "success")
    // the warn legs keep the Result's INITIAL StateFailure — the quirk
    // is in the source: state is only ever set to success at the end
    val checkBody = binlogSrc.substring(
      binlogSrc.indexOf("func (c *BinlogDBChecker) Check"),
      binlogSrc.indexOf("func (c *BinlogDBChecker) Name"))
    assert(checkBody.contains("State: StateFailure"))
    assert(!checkBody.contains("StateWarning"))
    assert(miss.state == "failure" &&
      miss.errs.forall(_._1 == "warning"))
  }

  test("lightning free-space ladder, parsed from lightning.go") {
    val lightSrc = RefSource.source("dm/pkg/checker/lightning.go")
    // the safe-size rule: replicas × 2 headroom (lightning.go:196)
    assert(lightSrc.contains(
      "safeSize := uint64(c.sourceDataSize) * maxReplicas * 2"))
    val gib = 1024L * 1024 * 1024
    // render shapes parsed from source, re-instantiated via goBytesSize
    assert(lightSrc.contains(
      "Downstream doesn't have enough space, available is %s, but we need %s"))
    assert(lightSrc.contains(
      "Cluster may not have enough space, available is %s, but we need %s"))
    val fail = CC.freeSpaceCheck(Seq("4GiB", "2GiB"), 10 * gib, 3)
    assert(fail.errs.head._2 == "Downstream doesn't have enough space, " +
      "available is 6GiB, but we need 10GiB")
    val warn = CC.freeSpaceCheck(Seq("40GiB"), 10 * gib, 3)
    assert(warn.errs.head._2 == "Cluster may not have enough space, " +
      "available is 40GiB, but we need 60GiB")
    assert(lightSrc.contains(s""""${fail.instruction}""""))
    // go-units BytesSize / %.4g shape: trailing zeros trimmed, 4
    // significant digits, binary units
    assert(CC.goBytesSize(1536.0) == "1.5KiB")
    assert(CC.goBytesSize(1024.0 * 1024) == "1MiB")
    assert(CC.goBytesSize(1234.5 * 1024) == "1.206MiB")
    assert(CC.goBytesSize(1000) == "1000B")
    assert(CC.goBytesSize(0) == "0B")
  }

  test("TestConnNumberChecker scenarios, replayed from source") {
    val src = RefSource.source("dm/pkg/checker/conn_checker_test.go")
    // the four scenario parameters anchored in the test source:
    // loader pool 16 (needed 17), max_connections 16/17, processlist
    // 1 or 2 rows, ALL-vs-INDEX grants
    assert(src.contains("PoolSize: 16"))
    assert(src.contains("""AddRow("max_connections", 16)"""))
    assert(src.contains("""AddRow("max_connections", 17)"""))
    assert(src.contains("GRANT ALL PRIVILEGES ON *.* TO 'test'@'%'"))
    assert(src.contains("GRANT INDEX ON *.* TO 'test'@'%'"))
    val all = Seq("GRANT ALL PRIVILEGES ON *.* TO 'test'@'%'")
    val indexOnly = Seq("GRANT INDEX ON *.* TO 'test'@'%'")
    // 1: capacity failure downgraded for lightning — warning, 2 errors
    val r1 = CC.loaderConnCheck(16, all, 1, Seq(16))
    assert(r1.state == "warning" && r1.errs.size == 2)
    assert(r1.errs(0)._2.contains("is less than the number loader"))
    assert(r1.errs(1)._2.contains("task precheck cannot accurately " +
      "check the number of connection needed for Lightning"))
    // 2: exactly enough — success, no errors
    val r2 = CC.loaderConnCheck(17, all, 1, Seq(16))
    assert(r2.state == "success" && r2.errs.isEmpty)
    // 3: available < needed — warning, 1 error
    val r3 = CC.loaderConnCheck(17, all, 2, Seq(16))
    assert(r3.state == "warning" && r3.errs.size == 1)
    assert(r3.errs.head._2.contains("is less than loader needs"))
    // 4: no SUPER — privilege warn, usedConn pinned 0 keeps capacity ok
    val r4 = CC.loaderConnCheck(17, indexOnly, 1, Seq(16))
    assert(r4.state == "warning" && r4.errs.size == 1)
    assert(r4.errs.head._2.contains("lack of Super global"))
    // primary_key.go's strings + TestPrimaryKeyChecker's pinned render,
    // replayed from the test source
    val pkTest = RefSource.source("dm/pkg/checker/primary_key_test.go")
    val pkRender = """Contains\(t, res.Errors\[0\].ShortErr, "([^"]+)"\)""".r
      .findFirstMatchIn(pkTest).get.group(1)
    val pkFail = CC.primaryKeyCheck(
      Seq(("test-db", "test-table-1", Some(false))))
    assert(pkFail.errs.head._2 == pkRender)
    val pkSrc = RefSource.source("dm/pkg/checker/primary_key.go")
    assert(pkSrc.contains(s""""${pkFail.instruction}""""))
    assert(pkSrc.contains(s"""return "${pkFail.name}""""))
    // the deleted-table race skips silently (primary_key.go ErrNoSuchTable)
    assert(CC.primaryKeyCheck(Seq(("d", "gone", None))).state == "success")
    // onlineddl.go's strings, parsed from source
    val oddlSrc = RefSource.source("dm/pkg/checker/onlineddl.go")
    val ghost = CC.onlineDdlCheck(Seq("db1" -> Seq("_users_gho")),
      Seq(graft.streaming.SubTaskValidate.DefaultShadowTableRules),
      (_, _) => true)
    assert(oddlSrc.contains(s"""NewError("${ghost.errs.head._2}")"""))
    assert(oddlSrc.contains(s""""${ghost.instruction}""""))
    assert(oddlSrc.contains(s"""return "${ghost.name}""""))
  }
}
