package graft

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.diff.Precheck

/** Failure paths of the precheck suite — each checker must actually trip. */
class PrecheckSpec extends SparkSpec {
  import spark.implicits._

  private def verdictOf(df: org.apache.spark.sql.DataFrame, check: String): String =
    df.filter(col("check_name") === check).select("verdict").head().getString(0)

  test("schema checkers trip on float PK, name collision, wide decimals") {
    val schema = new StructType()
      .add("Id", DoubleType, nullable = true)
      .add("id", LongType)
      .add("d", DecimalType(38, 2))
    val res = Precheck.schemaChecks("bad", schema, Seq("Id")).toDF()
    assert(verdictOf(res, "pk_type_sane") === "fail")
    assert(verdictOf(res, "column_name_collision") === "fail")
    assert(verdictOf(res, "pk_schema_not_nullable") === "warn")
    assert(verdictOf(res, "decimal_precision_bound") === "pass")
  }

  test("data checkers trip on dup PKs, mojibake, out-of-range timestamps") {
    val df = Seq(
      (1L, "ok", java.sql.Timestamp.valueOf("2020-01-01 00:00:00")),
      (1L, "bad � text", java.sql.Timestamp.valueOf("2040-01-01 00:00:00")))
      .toDF("pk", "s", "ts")
    val res = Precheck.dataChecks(spark, "t", df, Seq("pk"))
    assert(verdictOf(res, "pk_unique") === "fail")
    assert(verdictOf(res, "charset_clean") === "fail")
    assert(verdictOf(res, "timestamp_range") === "fail")
    assert(verdictOf(res, "non_empty") === "pass")
  }

  test("server checkers replay the reference acceptance logic offline") {
    import graft.diff.Precheck.SourceMeta
    def v(meta: SourceMeta, name: String): String =
      Precheck.serverChecks("s", meta).find(_.check_name == name).get.verdict
    // healthy modern MySQL: everything passes
    val ok = SourceMeta()
    assert(Precheck.serverChecks("s", ok).forall(_.verdict == "pass"))
    // version window [5.6.0, 8.5.0): below warns, at/above warns
    assert(v(ok.copy(version = "5.5.62-log"), "mysql_version") === "warn")
    assert(v(ok.copy(version = "8.5.0"), "mysql_version") === "warn")
    assert(v(ok.copy(version = "5.6.0"), "mysql_version") === "pass")
    // MariaDB and TiDB upstreams warn regardless of number
    assert(v(ok.copy(version = "10.6.1-MariaDB"), "mysql_version") === "warn")
    assert(v(ok.copy(version = "8.0.11-TiDB-v7.1.0"), "mysql_version") === "warn")
    // server_id unset warns; binlog off / non-ROW / non-FULL fail
    assert(v(ok.copy(serverId = 0), "mysql_server_id") === "warn")
    assert(v(ok.copy(logBin = "OFF"), "mysql_binlog_enable") === "fail")
    assert(v(ok.copy(binlogFormat = "MIXED"), "mysql_binlog_format") === "fail")
    assert(v(ok.copy(binlogRowImage = "MINIMAL"), "mysql_binlog_row_image") === "fail")
    // row_image is vacuous below 5.6.2 (MySQL) / 10.1.6 (MariaDB) - the
    // variable does not exist and full images are implied
    assert(v(ok.copy(version = "5.6.1", binlogRowImage = "MINIMAL"),
      "mysql_binlog_row_image") === "pass")
    assert(v(ok.copy(version = "10.1.2-MariaDB", binlogRowImage = "MINIMAL"),
      "mysql_binlog_row_image") === "pass")
    assert(v(ok.copy(version = "10.1.6-MariaDB", binlogRowImage = "MINIMAL"),
      "mysql_binlog_row_image") === "fail")
    // case-insensitive variable values, like SHOW VARIABLES
    assert(v(ok.copy(logBin = "on", binlogFormat = "row"),
      "mysql_binlog_enable") === "pass")
  }

  test("shard checkers trip on schema conflict and pk collisions") {
    val a = Seq((1L, "x")).toDF("pk", "v")
    val b = Seq((1L, 2.0)).toDF("pk", "v") // same field, different type
    val res = Precheck.shardChecks(spark, "grp", Seq(a, b), Seq("pk"))
    assert(verdictOf(res, "shard_schema_consistent") === "fail")
    assert(verdictOf(res, "auto_increment_conflict") === "fail") // pk=1 in both
    val c = Seq((2L, "y")).toDF("pk", "v")
    val ok = Precheck.shardChecks(spark, "grp2", Seq(a, c), Seq("pk"))
    assert(verdictOf(ok, "shard_schema_consistent") === "pass")
    assert(verdictOf(ok, "auto_increment_conflict") === "pass")
  }

  test("mysql_server/binlog checker vectors, replayed from source") {
    import graft.diff.{ConnCheck => CC, Precheck => P}
    import RefSource.braceChunks
    val serverTest = RefSource.source("dm/pkg/checker/mysql_server_test.go")
    val binlogTest = RefSource.source("dm/pkg/checker/binlog_test.go")
    // TestMysqlVersion's 16 (version, pass) vectors drive the q54
    // serverChecks version window
    val verBody = serverTest.substring(
      serverTest.indexOf("func TestMysqlVersion"),
      serverTest.indexOf("func TestVersionInstruction"))
    val verCases = """\{"([^"]+)", (true|false)\}""".r
      .findAllMatchIn(verBody)
      .map(m => m.group(1) -> m.group(2).toBoolean).toSeq
    assert(verCases.size >= 15)
    for ((v, pass) <- verCases) {
      val verdict = P.serverChecks("s", P.SourceMeta(version = v))
        .find(_.check_name == "mysql_version").get.verdict
      assert((verdict == "pass") == pass, s"version $v")
    }
    // TestBinlogDB's do/ignore/case vectors drive binlogDbCheck — the
    // expected StateFailure on warn legs confirms the kept quirk
    val dbBody = binlogTest.substring(
      binlogTest.indexOf("func TestBinlogDB"),
      binlogTest.indexOf("func TestMySQLBinlogRowImageChecker"))
    val listAt = dbBody.indexOf("}{")
    val forAt = dbBody.indexOf("\n\tfor ")
    val dbCases = braceChunks(dbBody.substring(listAt + 2, forAt))
    assert(dbCases.size == 10)
    for ((chunk, i) <- dbCases.zipWithIndex) {
      def field(k: String): String =
        (k + """:\s+"([^"]*)"""").r.findFirstMatchIn(chunk)
          .map(_.group(1)).getOrElse("")
      val schemas = """"(\w+)": \{\}""".r.findAllMatchIn(chunk)
        .map(_.group(1)).toSeq
      val caseSensitive = chunk.contains("caseSensitive: true")
      val state = """state:\s+State(\w+)""".r
        .findFirstMatchIn(chunk).get.group(1).toLowerCase
      val got = CC.binlogDbCheck(schemas, field("doDB"),
        field("ignoreDB"), caseSensitive)
      assert(got.state == state, s"binlogDB case $i")
      if (state == "failure") assert(got.errs.size == 1)
    }
    // TestMySQLBinlogRowImageChecker's version-gated vectors drive the
    // q54 row-image check
    val riBody = binlogTest.substring(
      binlogTest.indexOf("func TestMySQLBinlogRowImageChecker"))
    val riAt = riBody.indexOf("}{")
    val riFor = riBody.indexOf("\n\tfor ")
    val riCases = braceChunks(riBody.substring(riAt + 2, riFor))
    assert(riCases.size == 6)
    for ((chunk, i) <- riCases.zipWithIndex) {
      def field(k: String): String =
        (k + """:\s+"([^"]*)"""").r.findFirstMatchIn(chunk)
          .map(_.group(1)).getOrElse("")
      val state = """state:\s+State(\w+)""".r
        .findFirstMatchIn(chunk).get.group(1)
      val verdict = P.serverChecks("s", P.SourceMeta(
        version = field("version"),
        binlogRowImage = field("rowImage")))
        .find(_.check_name == "mysql_binlog_row_image").get.verdict
      assert(verdict == (if (state == "Success") "pass" else "fail"),
        s"rowImage case $i (${field("version")})")
    }
  }
}
