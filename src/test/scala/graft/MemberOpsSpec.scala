package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.MemberOps

/** The member-op constants, member type strings and CLI validation
  * messages the q297 oracle shares with [[MemberOps]], parsed from the
  * reference source. */
class MemberOpsSpec extends AnyFunSuite {

  test("member-op constants match the reference, parsed") {
    val masterPb = RefSource.source("dm/pb/dmmaster.pb.go")
    def opVal(n: String): Int = RefSource.goEnumVal(masterPb, "LeaderOp", n)
    assert(MemberOps.InvalidLeaderOp == opVal("InvalidLeaderOp"))
    assert(MemberOps.EvictLeaderOp == opVal("EvictLeaderOp"))
    assert(MemberOps.CancelEvictLeaderOp == opVal("CancelEvictLeaderOp"))
    // operate_leader.go's op-string table
    val olSrc = RefSource.source("dm/ctl/master/operate_leader.go")
    assert(olSrc.contains("case \"evict\":") &&
      olSrc.contains("case \"cancel-evict\":"))
    // member type strings — dm/ctl/common/config.go
    val cfgSrc = RefSource.source("dm/ctl/common/config.go")
    def strConst(n: String): String = {
      val m = (n + """\s*=\s*"(\w+)"""").r.findFirstMatchIn(cfgSrc)
      assert(m.isDefined, s"$n not found"); m.get.group(1)
    }
    assert(MemberOps.Master == strConst("Master"))
    assert(MemberOps.Worker == strConst("Worker"))
    // the CLI validation messages the q297 oracle shares
    val offSrc = RefSource.source("dm/ctl/master/offline_member.go")
    assert(offSrc.contains("should specify either --master or --worker"))
    assert(offSrc.contains("a member name must be specified"))
    // the invalid-offline-type terror identifier exists as declared
    assert(("""ErrMasterInvalidOfflineType\s+=\s+New\(""").r
      .findFirstIn(RefSource.source("dm/pkg/terror/error_list.go")).isDefined)
  }
}
