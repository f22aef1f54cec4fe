package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.QueryStatus

/** The query-status aggregation's constants, verdict strings and UnitType
  * enum, parsed from the reference source. */
class QueryStatusSpec extends AnyFunSuite {

  test("query-status constants match the reference, parsed") {
    val qsSrc = RefSource.source("dm/ctl/master/query_status.go")
    val pbSrc = RefSource.source("dm/pb/dmworker.pb.go")
    assert(QueryStatus.StageError == RefSource.goStringConst(qsSrc, "const stageError"))
    // the two error verdict strings and the render suffix, verbatim
    assert(qsSrc.contains(
      "stageError + \" - Some error occurred in subtask\""))
    assert(qsSrc.contains("stageError + \" - Relay status is \""))
    assert(qsSrc.contains(
      "\". Please run `query-status \" + curTaskName + \"` to get more details.\""))
    // pb.UnitType values
    def unitVal(n: String): Int = RefSource.goEnumVal(pbSrc, "UnitType", n)
    assert(QueryStatus.UnitSync == unitVal("Sync"))
    assert(QueryStatus.UnitLoad == unitVal("Load"))
    assert(QueryStatus.UnitDump == unitVal("Dump"))
    assert(QueryStatus.UnitRelay == unitVal("Relay"))
  }
}
