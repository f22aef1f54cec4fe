package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.RelayControl

/** The relay holder's constants pinned against the reference source, and
  * the GTID-set compare behind EnableRelay's checkpoint seeding checked
  * against a brute-force element expansion. */
class RelayControlSpec extends AnyFunSuite {

  test("relay op enum and the BeforeAnyOp label match the reference, parsed") {
    import RefSource.goStringConst
    val pbSrc = RefSource.source("dm/pb/dmworker.pb.go")
    def opVal(n: String): Int = RefSource.goEnumVal(pbSrc, "RelayOp", n)
    assert(RelayControl.InvalidRelayOp == opVal("InvalidRelayOp"))
    assert(RelayControl.StopRelay == opVal("StopRelay"))
    assert(RelayControl.PauseRelay == opVal("PauseRelay"))
    assert(RelayControl.ResumeRelay == opVal("ResumeRelay"))
    val metricsSrc = RefSource.source("dm/worker/metrics.go")
    assert(RelayControl.OpErrTypeBeforeOp ==
      goStringConst(metricsSrc, "opErrTypeBeforeOp"))
  }

  test("GTID-set compare: interval algebra == element-wise containment") {
    // CompareGTID's mutual-containment semantics
    // (dm/pkg/binlog/position.go:368-397), the kernel's merged-interval
    // containment checked against a brute-force element expansion
    val rnd = new Random(289)
    def randSet(): String = {
      val uuids = Seq("ua", "ub", "uc").take(1 + rnd.nextInt(3))
      uuids.take(1 + rnd.nextInt(uuids.size)).map { u =>
        val ivs = (1 to 1 + rnd.nextInt(3)).map { _ =>
          val lo = 1 + rnd.nextInt(20); val hi = lo + rnd.nextInt(6)
          if (lo == hi) s"$lo" else s"$lo-$hi"
        }
        s"$u:${ivs.mkString(":")}"
      }.mkString(",")
    }
    def elems(s: String): Set[(String, Long)] =
      if (s.isEmpty) Set.empty
      else s.split(",").flatMap { part =>
        val ps = part.split(":")
        ps.tail.flatMap { r =>
          val b = r.split("-").map(_.toLong)
          val (lo, hi) = (b(0), if (b.length == 2) b(1) else b(0))
          (lo to hi).map(ps.head -> _)
        }
      }.toSet
    for (_ <- 1 to 500) {
      val (s1, s2) = (randSet(), if (rnd.nextBoolean()) randSet() else "")
      val (e1, e2) = (elems(s1), elems(s2))
      val want =
        if (e1.isEmpty && e2.isEmpty) (0, true)
        else if (e1.isEmpty) (-1, true)
        else if (e2.isEmpty) (1, true)
        else {
          val (c1, c2) = (e2.subsetOf(e1), e1.subsetOf(e2))
          if (c1 && c2) (0, true)
          else if (c1) (1, true) else if (c2) (-1, true) else (0, false)
        }
      assert(RelayControl.compareGtid(s1, s2) == want, s"s1=$s1 s2=$s2")
    }
  }
}
