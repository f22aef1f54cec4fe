package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.diff.{CheckerDispatch => CD}

/** The checker dispatch's mode sets, item vocabulary and gate order,
  * parsed from the reference's config and checker source. */
class CheckerDispatchSpec extends AnyFunSuite {

  test("checker dispatch: mode sets, item vocabulary and gate order, parsed") {
    val helperSrc = RefSource.source("dm/config/helper.go")
    val subtaskSrc2 = RefSource.source("dm/config/subtask.go")
    val checkingSrc = RefSource.source("dm/config/checking_item.go")
    val checkerSrc = RefSource.source("dm/checker/checker.go")
    // mode tokens (ModeX = "token", subtask.go) drive the parsed
    // HasDump/HasLoad/HasSync case arms
    val modeTok = """(Mode\w+)\s+= "([\w&]+)"""".r
      .findAllMatchIn(subtaskSrc2).map(m => m.group(1) -> m.group(2)).toMap
    def modeSet(fn: String): Set[String] = {
      val body = helperSrc.substring(helperSrc.indexOf(s"func $fn"))
      """case ((?:Mode\w+(?:, )?)+):""".r.findFirstMatchIn(body)
        .get.group(1).split(", ").map(modeTok).toSet
    }
    val allModes = modeTok.values.toSet + "nonsense"
    for (m <- allModes) {
      assert(CD.hasDump(m) == modeSet("HasDump")(m), s"hasDump $m")
      assert(CD.hasLoad(m) == modeSet("HasLoad")(m), s"hasLoad $m")
      assert(CD.hasSync(m) == modeSet("HasSync")(m), s"hasSync $m")
    }
    // checking-item vocabulary: AllCheckingItems map keys − "all"
    val itemTok = """(\w+Checking)\s+= "(\w+)"""".r
      .findAllMatchIn(checkingSrc).map(m => m.group(1) -> m.group(2)).toMap
    val allMapBlock = checkingSrc.substring(
      checkingSrc.indexOf("var AllCheckingItems"),
      checkingSrc.indexOf("// LightningPrechecks"))
    val mapKeys = """\t(\w+Checking):""".r.findAllMatchIn(allMapBlock)
      .map(m => itemTok(m.group(1))).toSet
    assert(CD.DefaultItems == mapKeys - "all")
    // filter semantics
    assert(CD.filterCheckingItems(Seq("all")).isEmpty)
    assert(CD.filterCheckingItems(Seq("version")) ==
      CD.DefaultItems - "version")
    // LightningPrechecks order from the list literal
    val lpBlock = checkingSrc.substring(
      checkingSrc.indexOf("var LightningPrechecks"),
      checkingSrc.indexOf("}", checkingSrc.indexOf("var LightningPrechecks")))
    val lpOrder = """\t(Lightning\w+Checking),""".r
      .findAllMatchIn(lpBlock).map(m => itemTok(m.group(1))).toSeq
    assert(lpOrder == CD.LightningPrechecks)
    // Init's gate order: the sequence of checkingItems[config.X] probes
    // must order the kernel's all-items single-instance output
    val initBody = checkerSrc.substring(
      checkerSrc.indexOf("func (c *Checker) Init"),
      checkerSrc.indexOf("func (c *Checker) displayCheckingItems"))
    val gateOrder = """checkingItems\[config\.(\w+Checking)\]""".r
      .findAllMatchIn(initBody).map(m => itemTok(m.group(1))).toSeq.distinct
    val nameToItem = Map(
      "dumper_conn_number_checker" -> "conn_number",
      "loader_conn_number_checker" -> "conn_number",
      "target db privilege checker" -> "target_privilege",
      "mysql_version" -> "version",
      "source db dump privilege checker" -> "dump_privilege",
      "meta position check" -> "meta_position",
      "mysql_server_id" -> "server_id",
      "mysql_binlog_enable" -> "binlog_enable",
      "mysql_binlog_format" -> "binlog_format",
      "mysql_binlog_row_image" -> "binlog_row_image",
      "source db replication privilege checker" -> "replication_privilege",
      "online ddl checker" -> "online_ddl",
      "binlog_do_db/binlog_ignore_db check" -> "binlog_db",
      "table structure compatibility check" -> "table_schema",
      "primary key existence check" -> "primary_key")
    val out = CD.checkList(CD.DispatchSpec(
      CD.filterCheckingItems(Nil) + "primary_key",
      Seq(CD.InstanceSpec("s1", "all", onlineDDL = true))))
    val itemSeq = out.map(_._1).map(nameToItem).distinct
    // every emitted family appears, in Init's own probe order
    assert(itemSeq == gateOrder.filter(itemSeq.toSet), s"order: $itemSeq")
    // the lazy-plugin quirk in source: the plugin init precedes the
    // sync block within the SAME instance iteration
    assert(initBody.indexOf("instance.cfg.OnlineDDL && c.onlineDDL == nil") <
      initBody.indexOf("config.HasSync(instance.cfg.Mode)"))
  }
}
