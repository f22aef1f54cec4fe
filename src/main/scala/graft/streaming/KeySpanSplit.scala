package graft.streaming

/**
 * Hot-table keyspan splitting (SURVEY §2 R5's span-splitter leg): how the
 * owner decides HOW MANY pieces a big table shards into and WHERE the
 * boundaries fall, before the scheduler places the pieces. Reference:
 * cdc/scheduler/internal/v3/keyspan/reconciler.go:34-38,217-234 (the
 * spanRegionLimit=50000 / baseSpanNumberCoefficient=3 / maxSpanNumber=100
 * constants and getSpansNumber), splitter_write.go:53-271 (the
 * written-keys splitter: +1-per-region normalization, writeLimitPerSpan,
 * the rest-spans re-estimation and the three emission branches), and
 * splitter_region_count.go:46-160 (the evenly-split stepper with
 * front-loaded remainder distribution).
 *
 * Spark-first framing: AQE's skew-split is the runtime analog SURVEY maps
 * this to, but the reference's split ARITHMETIC decides the unit of work
 * the whole scheduler tier (ReplicationSet/TableSchedulers) operates on,
 * so it is contract: q278 pins both splitters and the span-count formula
 * against a SQL replay of the same walks.
 *
 * Keys are opaque strings here (the Go hex-decodes PD's keys — transport,
 * not semantics). Regions arrive sorted by key range, as PD returns them.
 */
object KeySpanSplit {

  /** reconciler.go:34-38. */
  val SpanRegionLimit = 50000
  val BaseSpanNumberCoefficient = 3
  val MaxSpanNumber = 100

  /** One PD region: [start, end) plus its written-keys counter. */
  final case class Region(startKey: String, endKey: String,
                          writtenKeys: Long)

  /** One produced span. */
  final case class Span(tableId: Long, startKey: String, endKey: String)

  /** splitRegionsInfo (splitter_write.go:39-44). Per the reference,
    * `writeKeys` is only populated by the last-span branches — the
    * mid-walk emissions fill counts and weights alone (:186-200 vs
    * :156-170), quirk kept. */
  final case class SplitInfo(regionCounts: Seq[Int], weights: Seq[Long],
                             writeKeys: Seq[Long], spans: Seq[Span])

  /** getSpansNumber (reconciler.go:219-234):
    * max(captureNum × max(captureNum−1, 3), regions/spanRegionLimit),
    * 1 when the table is a single region, capped at 100. */
  def spansNumber(regionNum: Int, captureNum: Int): Int = {
    val coefficient = math.max(captureNum - 1, BaseSpanNumberCoefficient)
    var spanNum = 1
    if (regionNum > 1) {
      spanNum = captureNum * coefficient
      if (regionNum / SpanRegionLimit > spanNum)
        spanNum = regionNum / SpanRegionLimit
    }
    math.min(spanNum, MaxSpanNumber)
  }

  /**
   * splitRegionsByWrittenKeysV1 (splitter_write.go:117-271). Every
   * region's written keys is normalized by +1 (regionWrittenKeyBase);
   * below `writeKeyThreshold` total RAW write the table stays one span;
   * otherwise the walk emits a span when the running weight exceeds
   * totalNormalized/baseSpansNum, the region count hits spanRegionLimit,
   * or the remaining regions only just cover the remaining span budget —
   * with the rest-span budget re-estimated from the remaining weight
   * when it drops to one (:176-183).
   */
  def splitByWrittenKeys(tableId: Long, regions0: Seq[Region],
                         baseSpansNum: Int, writeKeyThreshold: Long)
      : SplitInfo = {
    require(regions0.nonEmpty, "regions must be non-empty")
    val totalWrite = regions0.map(_.writtenKeys).sum
    val regions = regions0.map(r => r.copy(writtenKeys = r.writtenKeys + 1))
    val totalNorm = regions.map(_.writtenKeys).sum
    if (totalWrite < writeKeyThreshold)
      return SplitInfo(Seq(regions.size), Seq(totalNorm), Seq.empty,
        Seq(Span(tableId, regions.head.startKey, regions.last.endKey)))

    val limit = totalNorm / baseSpansNum
    val n = regions.size
    val counts = scala.collection.mutable.ArrayBuffer.empty[Int]
    val weights = scala.collection.mutable.ArrayBuffer.empty[Long]
    val writeKeys = scala.collection.mutable.ArrayBuffer.empty[Long]
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var spanWeight = 0L
    var spanStart = 0
    var restSpans = baseSpansNum
    var regionCount = 0
    var restWeight = totalNorm
    var i = 0
    var broke = false
    while (i < n && !broke) {
      val restRegions = n - i
      regionCount += 1
      spanWeight += regions(i).writtenKeys
      if (restSpans == 1) {
        if (restWeight <= limit) {
          // last-span absorb + break (:156-175)
          spans += Span(tableId, regions(spanStart).startKey,
            regions(n - 1).endKey)
          val w = regions.drop(spanStart).map(_.writtenKeys).sum
          counts += (n - spanStart); weights += w; writeKeys += w
          spanStart = n
          broke = true
        } else restSpans = (restWeight / limit).toInt + 1 // re-estimate
      }
      if (!broke) {
        if (restRegions <= restSpans) {
          // every remaining region becomes a span (:186-202)
          spans += Span(tableId, regions(spanStart).startKey,
            regions(i).endKey)
          counts += regionCount; weights += spanWeight
          restSpans -= 1; restWeight -= spanWeight
          spanWeight = 0L; regionCount = 0; spanStart = i + 1
        } else if (spanWeight > limit || regionCount >= SpanRegionLimit) {
          // weight/size overflow emission (:204-219)
          spans += Span(tableId, regions(spanStart).startKey,
            regions(i).endKey)
          counts += regionCount; weights += spanWeight
          restSpans -= 1; restWeight -= spanWeight
          spanWeight = 0L; regionCount = 0; spanStart = i + 1
        }
        i += 1
      }
    }
    if (spanStart != n) {
      // catch-all: leftover regions close the last span (:222-246)
      spans += Span(tableId, regions(spanStart).startKey,
        regions(n - 1).endKey)
      val w = regions.drop(spanStart).map(_.writtenKeys).sum
      counts += (n - spanStart); weights += w; writeKeys += w
    }
    SplitInfo(counts.toSeq, weights.toSeq, writeKeys.toSeq, spans.toSeq)
  }

  /** The evenly-split stepper (splitter_region_count.go:128-160):
    * base step = regions/pages; the remainder is front-loaded
    * ceil(remain/pages) at a time; a page budget beyond the region
    * count degrades to one region per span. */
  final class Stepper(pages0: Int, totalRegion: Int) {
    private var pages = pages0
    private var regionPerSpan = totalRegion / pages
    private var extra = 0
    private var remain = totalRegion % pages
    if (regionPerSpan == 0) {
      regionPerSpan = 1; extra = 0; pages = totalRegion
    } else if (remain != 0)
      extra = math.ceil(remain.toDouble / pages).toInt
    def spanCount: Int = pages
    def step(): Int =
      if (remain <= 0) regionPerSpan
      else { remain -= extra; regionPerSpan + extra }
  }

  /**
   * The region-count splitter (splitter_region_count.go:46-126): no
   * split at or below `regionThreshold` regions (or zero captures);
   * otherwise spansNumber pages walked with the stepper, the final
   * group absorbing the tail, and the outer span's own bounds
   * re-imposed on the first/last piece (:110-112).
   */
  def splitByRegionCount(span: Span, regions: Seq[Region],
                         captureNum: Int, regionThreshold: Int)
      : Seq[Span] = {
    if (regions.size <= regionThreshold || captureNum == 0)
      return Seq(span)
    val stepper = new Stepper(spansNumber(regions.size, captureNum),
      regions.size)
    val spans = scala.collection.mutable.ArrayBuffer.empty[Span]
    var start = 0
    var end = stepper.step()
    var loop = true
    while (loop) {
      spans += Span(span.tableId, regions(start).startKey,
        regions(end - 1).endKey)
      if (end == regions.size) loop = false
      else {
        start = end
        val s = stepper.step()
        end = if (end + s < regions.size) end + s else regions.size
      }
    }
    (spans.zipWithIndex.map { case (sp, k) =>
      var out = sp
      if (k == 0) out = out.copy(startKey = span.startKey)
      if (k == spans.size - 1) out = out.copy(endKey = span.endKey)
      out
    }).toSeq
  }
}
