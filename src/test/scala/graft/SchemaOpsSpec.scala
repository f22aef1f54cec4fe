package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.SchemaOps

/** The binlog-schema ops: the SchemaOp enum and the one-row render recipe,
  * parsed from the reference source. */
class SchemaOpsSpec extends AnyFunSuite {

  test("schema-op enum and the one-row render match the reference, parsed") {
    val pbSrc = RefSource.source("dm/pb/dmworker.pb.go")
    def opVal(n: String): Int = RefSource.goEnumVal(pbSrc, "SchemaOp", n)
    assert(SchemaOps.GetSchema == opVal("GetSchema"))
    assert(SchemaOps.SetSchema == opVal("SetSchema"))
    assert(SchemaOps.RemoveSchema == opVal("RemoveSchema"))
    assert(SchemaOps.ListSchema == opVal("ListSchema"))
    assert(SchemaOps.ListTable == opVal("ListTable"))
    assert(SchemaOps.ListMigrateTargets == opVal("ListMigrateTargets"))
    // CreateTableSQLToOneRow's exact two-replace recipe (db.go:447-452):
    // note the double-space pass is SINGLE and non-overlapping
    val dbSrc = RefSource.source("dm/pkg/conn/db.go")
    assert(dbSrc.contains("""sql = strings.ReplaceAll(sql, "\n", "")"""))
    assert(dbSrc.contains("""sql = strings.ReplaceAll(sql, "  ", " ")"""))
    assert(SchemaOps.createTableSqlToOneRow("a\n    b") == "a  b")
  }
}
