package graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._
import graft.operators.{Dedup, VectorOps}
import graft.functions.{LmKernels, PairKernels, TextRuns, VectorKernels}

/**
 * r21 optimization pins: every kernel/reshape of the second optimization
 * round must equal the legacy column form it replaced, bit-for-bit.
 */
class Round21Spec extends SparkSpec {
  import spark.implicits._

  // ---- l2q16 kernel == legacy bin()/pow()/element_at tree -------------

  private def legacyL2q16(x: Column): Column = {
    val table = Seq(0, 1, 2, 3, 5, 6, 7, 8, 9, 10, 11, 12, 12, 13, 14, 15)
    val e = (length(bin(x.cast("long"))) - 1).cast("long")
    val p2 = pow(lit(2.0), e.cast("double")).cast("long")
    val a = x.cast("long") * 16L
    val m = ((a - pmod(a, p2)) / p2).cast("long")
    e * 16L + element_at(array(table.map(v => lit(v.toLong)): _*), (m - 15L).cast("int"))
  }

  test("l2q16 kernel equals the legacy expression tree on the whole domain") {
    val rnd = new scala.util.Random(21)
    val xs = (0L to 2000L) ++
      (0 to 58).flatMap(b => Seq((1L << b) - 1, 1L << b, (1L << b) + 1)) ++
      Seq.fill(500)(math.abs(rnd.nextLong()) % ((1L << 59) - 1) + 1)
    val df = xs.filter(_ >= 0).distinct.toDF("x")
    val bad = df.select(col("x"), LmKernels.l2q16(col("x")).as("k"),
        legacyL2q16(col("x")).as("l"))
      .filter(col("k") =!= col("l") || col("k").isNull =!= col("l").isNull)
    assert(bad.count() === 0, bad.collect().take(5).mkString(","))
  }

  test("l2q16 kernel propagates NULL and matches TextLm.l2q16Long") {
    val got = Seq(Some(5L), None, Some(1L)).toDF("x")
      .select(LmKernels.l2q16(col("x"))).collect()
    assert(got(0).getLong(0) === graft.operators.TextLm.l2q16Long(5L))
    assert(got(1).isNullAt(0))
    assert(got(2).getLong(0) === 0L)
  }

  // ---- exactKey kernel == legacy lower/regexp/md5/conv chain ----------

  test("exactKey kernel equals the legacy column chain, unicode included") {
    val legacy = (t: Column) =>
      conv(substring(md5(regexp_replace(lower(t), "\\s+", " ")), 1, 15), 16, 10)
        .cast("long")
    val texts = Seq(
      "Hello  World", " leading and trailing ", "tabs\tand\nnewlines\r\nmix",
      "ALL CAPS TEXT", "ümlauts ÄÖÜ ß", "İstanbul I ı", "ΣΊΣΥΦΟΣ Σ",
      "日本語 テキスト", "a", "", "   ", "exact dup", "exact  dup")
    val df = texts.toDF("t")
    val bad = df.select(col("t"), Dedup.exactKey(col("t")).as("k"),
        legacy(col("t")).as("l"))
      .filter(col("k") =!= col("l"))
    assert(bad.count() === 0, bad.collect().take(5).mkString(","))
  }

  // ---- gramTriples == gramPairs + re-split ----------------------------

  test("gramTriples equals gramPairs with split-derived w2") {
    val texts = Seq("one two three four", "single", "", "a  b c",
      " padded  text here ").toDF("t")
    val viaPairs = texts
      .select(col("t"), explode(TextRuns.gramPairs(col("t"))).as("p"))
      .select(col("t"), col("p.w1"), element_at(split(col("p.g"), " "), 2).as("w2"),
        col("p.g"))
      .collect().map(_.toSeq).toSeq
    val viaTriples = texts
      .select(col("t"), explode(TextRuns.gramTriples(col("t"))).as("p"))
      .select(col("t"), col("p.w1"), col("p.w2"), col("p.g"))
      .collect().map(_.toSeq).toSeq
    assert(viaTriples === viaPairs)
  }

  // ---- bucketTf == legacy tokenTf + portableLong + pmod regroup -------

  test("bucketTf per-bucket totals equal the legacy md5 column chain") {
    val b = 7
    val texts = Seq("the quick brown fox the quick", "one", "",
      "x y z x y x w v u t s r q").toDF("t")
    val legacy = texts
      .select(col("t"), explode(TextRuns.tokenTf(col("t"))).as("p"))
      .select(col("t"),
        pmod(conv(substring(md5(col("p.w")), 1, 15), 16, 10).cast("long"),
          lit(b.toLong)).as("bucket"),
        col("p.tf").as("tf"))
      .groupBy("t", "bucket").agg(sum("tf").as("tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val kernel = texts
      .select(col("t"), explode(TextRuns.bucketTf(col("t"), b)).as("p"))
      .select(col("t"), col("p.bucket"), col("p.tf"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(kernel === legacy)
  }

  // ---- nearestCells kernel == crossJoin + row_number window -----------

  test("nearestCells equals the legacy probe window, degenerates included") {
    import org.apache.spark.sql.expressions.Window
    val dim = 8
    def f(i: Long, d: Int): Long = (i * 2654435761L + d * 97L) % 1000L - 500L
    val cents = (0L until 9L).map(c => (c, Seq.tabulate(dim)(d => f(c, d))))
    val qs = (0L until 60L).map { i =>
      val arr: Seq[java.lang.Long] =
        if (i == 7L) Seq.tabulate(3)(d => java.lang.Long.valueOf(f(i, d))) // len mismatch
        else if (i == 9L) Seq.tabulate(dim)(d =>
          if (d == 2) null else java.lang.Long.valueOf(f(i, d))) // null element
        else Seq.tabulate(dim)(d => java.lang.Long.valueOf(f(i % 5, d) + i / 5))
      (i, arr)
    }.toDF("qid", "qq")
    val nProbe = 3
    val kernel = qs.select(col("qid"),
        explode(VectorKernels.nearestCells(col("qq"),
          cents.map(_._1), cents.map(_._2), nProbe)).as("cell"))
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val cdf = cents.toDF("cell", "cent")
    val w = Window.partitionBy(col("qid")).orderBy(col("cdist"), col("cell"))
    val legacy = qs.crossJoin(broadcast(cdf))
      .withColumn("cdist", VectorOps.sqDistQ(col("qq"), col("cent")))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= nProbe)
      .select("qid", "cell")
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    assert(kernel === legacy)
  }

  // ---- assignCentroids: kernel path == broadcast cutover ---------------

  test("assignCentroids strategies agree across the plan-bytes threshold") {
    def f(i: Long, d: Int): Float =
      ((i * 1103515245L + d * 12345L) % 2048L).toFloat / 1024f - 1f
    val dim = 6
    def emb(src: Long): Array[java.lang.Float] =
      Array.tabulate(dim)(d => java.lang.Float.valueOf(f(src, d)))
    val vecs = (0L until 80L).map { i =>
      val src = if (i >= 40 && i < 44) 11L else i // planted distance ties
      // NULL embedding must keep the row, lowest cid
      (Option(i), if (i == 13L) null else emb(src))
    }.toDF("vec_id", "embedding")
    // a NULL id and a repeated id (5 again, another vector): both paths
    // must keep every input row with its own assignment
    val input = vecs.union(
      Seq((Option.empty[Long], emb(17L)), (Option(5L), emb(70L)))
        .toDF("vec_id", "embedding"))
    val cents = VectorOps.centroids(
      vecs.filter(col("embedding").isNotNull)
        .withColumn("label", col("vec_id") % 5), "label", "embedding")
    def run(maxBytes: Long) =
      VectorOps.assignCentroids(input, cents, maxPlanBytes = maxBytes)
        .select(col("vec_id"), col("centroid_id"), col("centroid"), col("dist"))
        .collect().map(r => (if (r.isNullAt(0)) None else Some(r.getLong(0)),
          r.getLong(1), Option(r.getSeq[Long](2)).map(_.toSeq),
          if (r.isNullAt(3)) None else Some(r.getLong(3))))
        .toSeq.sortBy(_.toString)
    val kernelPath = run(Long.MaxValue)
    val broadcastPath = run(0L)
    assert(kernelPath === broadcastPath)
    assert(kernelPath.size === 82)
    // the NULL-embedding row is present with the lowest cid and NULL dist
    assert(kernelPath.exists { case (id, _, _, d) => id.contains(13L) && d.isEmpty })
    assert(kernelPath.count(_._1.isEmpty) === 1)
    assert(kernelPath.count(_._1.contains(5L)) === 2)
  }

  // ---- dupClusters: mid-loop short-circuit == full distributed loop ---

  test("dupClusters mid-loop union-find switch matches the full loop") {
    val rnd = new scala.util.Random(42)
    val n = 100
    // dense graph: ~290 distinct edges over 100 nodes, so the entry count
    // exceeds the threshold (no entry short-circuit) while one
    // contraction round leaves < 100 star edges — the MID-LOOP switch
    // fires and must agree with the pure distributed loop
    val pairs = Seq.fill(300)((rnd.nextInt(n).toLong, rnd.nextInt(n).toLong))
      .filter { case (a, b) => a != b }
    val nodes = (0L until n.toLong).toDF("id")
    val edges = pairs.toDF("id_a", "id_b")
    val mid = Dedup.dupClusters(nodes, edges, localEdgeThreshold = 150)
      .as[(Long, Long)].collect().toMap
    val full = Dedup.dupClusters(nodes, edges, localEdgeThreshold = 0)
      .as[(Long, Long)].collect().toMap
    assert(mid === full)
  }

  // ---- bucketPairs: oversized bucket fails loud ------------------------

  test("bucketPairs rejects a bucket whose pair count overflows Int") {
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
    val big = new GenericArrayData(Array.tabulate[Any](70000)(i =>
      new GenericInternalRow(Array[Any](i.toLong,
        new GenericArrayData(Array.empty[Long])))))
    val e = intercept[IllegalArgumentException](PairKernels.bucketPairs(big))
    assert(e.getMessage.contains("70000"))
  }

  // ---- simhashCandidates cap drops whole buckets ------------------------

  test("simhashCandidates maxBucket caps degenerate buckets only") {
    val docs = ((0L until 12L).map(i => (i, "identical flood text " * 3)) ++
      Seq((20L, "alpha beta gamma delta"), (21L, "alpha beta gamma delta")))
      .toDF("id", "text")
    val sh = Dedup.simhashTable(docs, "id", "text")
    val uncapped = Dedup.simhashCandidates(sh, 32, 4, 3)
      .as[(Long, Long, Int)].collect().toSet
    val capped = Dedup.simhashCandidates(sh, 32, 4, 3, maxBucket = 8)
      .as[(Long, Long, Int)].collect().toSet
    // the 12-member flood bucket is dropped; the pair (20, 21) survives
    assert(capped.contains((20L, 21L, 0)))
    assert(!capped.exists { case (a, b, _) => a < 12L && b < 12L })
    assert(uncapped.exists { case (a, b, _) => a < 12L && b < 12L })
  }

  // ---- bloomProbe: map-only probe path (no Exchange) --------------------

  test("bloomProbe probe side is map-only — no shuffle in the plan") {
    import graft.core.Hashing
    import graft.operators.Sketches
    val base = (1 to 50).map(i => s"k$i").toDF("k")
      .select(Hashing.portableLong(col("k")).as("key"))
    val probe = (1 to 30).map(i => (i.toLong, s"p$i")).toDF("id", "raw")
      .select(col("id"), Hashing.portableLong(col("raw")).as("key"))
    val bits = Sketches.bloomBits(base, "key", 512L, 3)
    val plan = Sketches.bloomProbe(bits, probe, "id", "key", 512L, 3)
      .queryExecution.executedPlan.toString
    // the probe path itself must be map-only: no shuffle keyed on the
    // probe id (the old explode → groupBy(id, key) reassembly), no
    // generator. The bit table's own distinct still shuffles under its
    // broadcast build (AQE reuses the identical build stages at runtime).
    assert(!plan.contains("hashpartitioning(id#"), s"plan:\n$plan")
    assert("BroadcastHashJoin".r.findAllIn(plan).size == 3, s"plan:\n$plan")
  }
}
