package graft

import org.apache.spark.sql.functions._

import graft.operators.Filters
import graft.operators.Filters.TableRule

/** Full table-filter matcher syntax (reference tidb-tools table-filter):
  * wildcards, character classes, negated classes, textual `!` rules,
  * last-match-wins ordering. */
class TableFilterSpec extends SparkSpec {
  import spark.implicits._

  private def keep(rules: Seq[TableRule],
                   tables: Seq[(String, String)]): Set[(String, String)] = {
    val df = tables.toDF("schema_name", "table_name")
    Filters.tableFilter(df, rules).as[(String, String)].collect().toSet
  }

  private val tables = Seq(
    ("shop", "orders"), ("shop", "orders_2024"), ("shop", "t1"),
    ("shard01", "t1"), ("shard02", "t2"), ("logs", "audit"))

  test("character classes and negated classes") {
    assert(keep(Filters.parseRules(Seq("shard[0-9][0-9].t[12]")), tables) ===
      Set(("shard01", "t1"), ("shard02", "t2")))
    assert(keep(Filters.parseRules(Seq("[!s]*.*")), tables) ===
      Set(("logs", "audit")))
  }

  test("textual rules: last match wins, ! excludes, schema-only form") {
    val rules = Filters.parseRules(Seq("*.*", "!shop.orders*", "shop.orders_2024"))
    assert(keep(rules, tables) ===
      tables.toSet - (("shop", "orders")))
    // schema-only rule means all its tables
    assert(keep(Filters.parseRules(Seq("logs")), tables) === Set(("logs", "audit")))
  }

  test("wildcards ? and * and literal specials") {
    assert(keep(Filters.parseRules(Seq("shard0?.*")), tables) ===
      Set(("shard01", "t1"), ("shard02", "t2")))
    // a dot in the table pattern is literal, not regex-any
    assert(keep(Seq(TableRule("a.b", "c", allow = true)),
      Seq(("a.b", "c"), ("axb", "c"))) === Set(("a.b", "c")))
  }

  test("unclosed bracket is treated literally") {
    assert(Filters.wildcardToRegex("a[b") === "^a\\[b$")
  }

  // ---- binlog-filter taxonomy pinned against the parsed reference -------

  test("ClassifyEvent's case lists match the reference, parsed from source") {
    val src = RefSource.source("pkg/binlog-filter/filter.go")
    // const block: identifier -> event string
    val names = """(?m)^\s*(\w+)\s+EventType = "([^"]*)"""".r
      .findAllMatchIn(src).map(m => m.group(1) -> m.group(2)).toMap
    // ClassifyEvent's case groups, keyed by their return value
    val body = src.substring(src.indexOf("func ClassifyEvent"))
    val bodyEnd = body.substring(0, body.indexOf("\n}"))
    val groups = """case ([\w,\s]+?):\s*\n\s*return (\w+), nil""".r
      .findAllMatchIn(bodyEnd).map { m =>
        m.group(2) -> m.group(1).split(",").map(_.trim).filter(_.nonEmpty).toSeq
      }.toMap
    def strings(ret: String) = groups(ret).map(names).toSet
    assert(strings("dml") == Filters.BinlogDmlEvents.toSet)
    assert(strings("ddl") == Filters.BinlogCompatibleDdl.toSet,
      s"ddl missing=${strings("ddl") -- Filters.BinlogCompatibleDdl}")
    val incompat = strings("incompatibleDDL")
    assert(incompat.size == 44)
    assert(incompat == Filters.BinlogIncompatibleDdl.toSet,
      s"missing=${incompat -- Filters.BinlogIncompatibleDdl} " +
        s"extra=${Filters.BinlogIncompatibleDdl.toSet -- incompat}")
  }
}
