package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.KeySpanSplit
import graft.streaming.KeySpanSplit._

/**
 * Keyspan splitters (cdc/scheduler/internal/v3/keyspan/): directed legs
 * from the reference walks, plus conservation properties — the
 * written-keys walk must TILE the region list with counts summing to n
 * and weights to the normalized total, and the region-count stepper must
 * match its closed form (base step n/pages with the remainder
 * front-loaded ceil(remain/pages) at a time).
 */
class KeySpanSplitSpec extends AnyFunSuite {

  private def regs(wks: Seq[Long]): Seq[Region] =
    wks.zipWithIndex.map { case (w, i) => Region(s"k$i", s"k${i + 1}", w) }

  test("spansNumber: coefficient floor, region cap, max cap (reconciler.go:219-234)") {
    assert(KeySpanSplit.spansNumber(1, 4) == 1) // single region
    assert(KeySpanSplit.spansNumber(40, 1) == 3) // 1 * max(0,3)
    assert(KeySpanSplit.spansNumber(40, 2) == 6) // 2 * max(1,3)
    assert(KeySpanSplit.spansNumber(40, 5) == 20) // 5 * 4
    assert(KeySpanSplit.spansNumber(1000000, 2) == 20) // regions/50000 wins
    assert(KeySpanSplit.spansNumber(40, 200) == 100) // maxSpanNumber cap
  }

  test("written-keys: below threshold keeps one span with normalized weight") {
    val info = KeySpanSplit.splitByWrittenKeys(1L, regs(Seq(5, 5, 5)), 3,
      writeKeyThreshold = 100L)
    assert(info.spans == Seq(Span(1L, "k0", "k3")))
    assert(info.regionCounts == Seq(3) && info.weights == Seq(18L))
  }

  test("written-keys: uniform load splits on strictly-greater; skew isolates the hot region") {
    // 6 regions of norm weight 11, base 3 -> limit 22: the walk emits only
    // when the running weight EXCEEDS the limit (splitter_write.go:204),
    // so the first span takes 3 regions (33 > 22), then B/A close 2 and 1.
    val even = KeySpanSplit.splitByWrittenKeys(1L,
      regs(Seq.fill(6)(10L)), 3, 1L)
    assert(even.spans.size == 3)
    assert(even.regionCounts == Seq(3, 2, 1))
    // one region carries ~all the write: it closes a span by itself
    val skew = KeySpanSplit.splitByWrittenKeys(1L,
      regs(Seq(1, 1, 1000, 1, 1, 1)), 3, 1L)
    assert(skew.spans.exists(s => s.startKey == "k0" && s.endKey == "k3"))
    assert(skew.regionCounts.sum == 6)
  }

  test("written-keys: rest-span re-estimation still tiles (splitter_write.go:176-183)") {
    // heavy tail after a light prefix forces restSpans==1 with restWeight
    // above the limit -> re-estimate
    val info = KeySpanSplit.splitByWrittenKeys(1L,
      regs(Seq(100, 1, 1, 1, 40, 40, 40)), 2, 1L)
    assert(info.regionCounts.sum == 7)
    assert(info.weights.sum == 7 + 223)
    assert(info.spans.head.startKey == "k0" &&
      info.spans.last.endKey == "k7")
  }

  test("written-keys property: 300 random loads tile with conserved weight") {
    val rnd = new scala.util.Random(1801L)
    for (trial <- 0 until 300) {
      val n = 1 + rnd.nextInt(60)
      val wks = Seq.fill(n)(rnd.nextInt(1000).toLong)
      val base = 1 + rnd.nextInt(10)
      val info = KeySpanSplit.splitByWrittenKeys(1L, regs(wks), base, 1L)
      assert(info.regionCounts.sum == n, s"trial $trial")
      assert(info.weights.sum == wks.sum + n, s"trial $trial")
      // spans tile: consecutive, full coverage
      assert(info.spans.head.startKey == "k0")
      assert(info.spans.last.endKey == s"k$n")
      info.spans.sliding(2).foreach {
        case Seq(a, b) => assert(a.endKey == b.startKey, s"trial $trial")
        case _ =>
      }
      assert(info.spans.size == info.regionCounts.size)
    }
  }

  test("region-count: threshold/zero-capture skips; stepper front-loads the remainder") {
    val span = Span(1L, "TSTART", "TEND")
    val rs = regs(Seq.fill(40)(1L))
    assert(KeySpanSplit.splitByRegionCount(span, rs, 2, 40) == Seq(span))
    assert(KeySpanSplit.splitByRegionCount(span, rs, 0, 10) == Seq(span))
    val out = KeySpanSplit.splitByRegionCount(span, rs, 2, 10)
    // 6 pages over 40: steps 7,7,7,7,6,6 -> bounds 7,14,21,28,34,40
    assert(out.size == 6)
    assert(out.head.startKey == "TSTART" && out.last.endKey == "TEND")
    assert(out.map(_.endKey).init == Seq("k7", "k14", "k21", "k28", "k34"))
  }

  test("split constants parsed from the reference source (de-share)") {
    val recSrc = RefSource.source(
      "cdc/scheduler/internal/v3/keyspan/reconciler.go")
    val schSrc = RefSource.source("cdc/scheduler/internal/scheduler.go")
    def c(name: String): Int =
      (name + """\s*=\s*(\d+)""").r.findFirstMatchIn(recSrc)
        .map(_.group(1).toInt)
        .getOrElse(fail(s"$name not found in reconciler.go"))
    assert(c("spanRegionLimit") == KeySpanSplit.SpanRegionLimit)
    assert(c("baseSpanNumberCoefficient") ==
      KeySpanSplit.BaseSpanNumberCoefficient)
    assert(c("maxSpanNumber") == KeySpanSplit.MaxSpanNumber)
    val cp = """CheckpointCannotProceed = model\.Ts\((\d+)\)""".r
      .findFirstMatchIn(schSrc).map(_.group(1).toLong)
    assert(cp.contains(
      graft.streaming.ReplicationManager.CannotProceed))
  }

  test("region-count property: stepper equals its closed form") {
    val rnd = new scala.util.Random(1901L)
    for (trial <- 0 until 300) {
      val n = 2 + rnd.nextInt(200)
      val pages0 = 1 + rnd.nextInt(20)
      val st = new Stepper(pages0, n)
      val pages = st.spanCount
      val rps = math.max(n / pages0, 1)
      val remain = if (n / pages0 == 0) n % pages0 else n % pages0
      val extra =
        if (n / pages0 == 0) 0
        else if (remain != 0) math.ceil(remain.toDouble / pages0).toInt
        else 0
      val b = if (extra == 0) 0 else math.ceil(remain.toDouble / extra).toInt
      // closed form: cum_j = j*rps + extra*min(j, b)
      var cum = 0
      var j = 0
      while (cum < n && j < pages + n) {
        j += 1
        val step = st.step()
        val expected = rps + (if (j <= b) extra else 0)
        assert(step == expected, s"trial $trial step $j")
        cum += step
      }
    }
  }
}
