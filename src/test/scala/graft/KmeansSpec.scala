package graft

import org.apache.spark.sql.functions._
import graft.operators.VectorOps
import graft.streaming.Sinks

/** Unit semantics for the round-6 operators: k-means Lloyd iterations
  * and sink-progress checkpoint algebra. */
class KmeansSpec extends SparkSpec {
  import spark.implicits._

  test("kmeans separates two obvious groups and is deterministic") {
    // two tight groups around (0,0,...) and (10,10,...)
    val vecs = (0L to 5L).map { i =>
      val base = if (i < 3) 0.0 else 10.0
      (i, Array.fill(4)(base + i * 0.01f).map(_.toFloat))
    }.toDF("vec_id", "embedding")
    val got = VectorOps.kmeans(vecs, k = 2, iters = 2)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(got(0L) == got(1L) && got(1L) == got(2L))
    assert(got(3L) == got(4L) && got(4L) == got(5L))
    assert(got(0L) != got(3L))
    // second run: identical assignment (deterministic seeds/ties/means)
    val again = VectorOps.kmeans(vecs, k = 2, iters = 2)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    assert(again == got)
  }

  test("kmeans kernel assignment equals the legacy broadcast-join argmin exactly") {
    // r20: the NearestCellKernel replaced both former assignment paths
    // (literal fold and broadcast-join min(struct)); this pin re-runs the
    // SAME Lloyd loop with the legacy join-argmin rebuilt inline — (id,
    // centroid, dist) must match row for row, including tie-breaks.
    val vecs = (0L until 40L).map { i =>
      (i, Array.tabulate(4)(d => ((i * 7 + d * 3) % 11).toFloat))
    }.toDF("vec_id", "embedding")
    val kernel0 = VectorOps.kmeans(vecs, k = 6, iters = 2)
      .select("vec_id", "centroid_id", "dist")
      .as[(Long, Long, Long)].collect().toSet
    // legacy loop: identical seeds (k smallest ids), identical means
    // (VectorOps.centroids), legacy assignment (crossJoin + min(struct))
    def legacySqDist(a: org.apache.spark.sql.Column, b: org.apache.spark.sql.Column) =
      aggregate(zip_with(a, b, (x, y) => (x - y) * (x - y)), lit(0L), (acc, x) => acc + x)
    val q = vecs.select(col("vec_id"), col("embedding"))
      .withColumn("qv", VectorOps.quantize(col("embedding")))
    def legacyAssign(cents: Seq[(Long, Seq[Long])]) = {
      val cdf = cents.toDF("centroid_id", "centroid")
      q.crossJoin(broadcast(cdf))
        .withColumn("dist", legacySqDist(col("qv"), col("centroid")))
        .groupBy(col("vec_id"))
        .agg(min(struct(col("dist"), col("centroid_id"),
          col("embedding").as("v"))).as("best"))
        .select(col("vec_id"), col("best.v").as("embedding"),
          col("best.centroid_id").as("centroid_id"), col("best.dist").as("dist"))
    }
    var cents: Seq[(Long, Seq[Long])] = q.orderBy(col("vec_id")).limit(6)
      .select(col("qv")).collect()
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Long](0)) }.toSeq
    for (_ <- 0 until 2)
      cents = VectorOps.centroids(
          legacyAssign(cents).select(col("centroid_id"), col("embedding")),
          "centroid_id", "embedding")
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq
        .sortBy(_._1)
    val legacy0 = legacyAssign(cents)
      .select("vec_id", "centroid_id", "dist")
      .as[(Long, Long, Long)].collect().toSet
    assert(legacy0 == kernel0)
  }

  test("kmeans survives total cluster collapse (identical vectors)") {
    val vecs = (0L to 3L).map(i => (i, Array.fill(4)(1.0f)))
      .toDF("vec_id", "embedding")
    val got = VectorOps.kmeans(vecs, k = 2, iters = 1)
      .select("vec_id", "centroid_id").as[(Long, Long)].collect().toMap
    // all vectors tie → everything lands in cid 0, cid 1 disappears,
    // and the final assign over ONE surviving centroid must not crash
    assert(got.values.toSet == Set(0L))
  }

  test("sinkProgress: an entirely-unflushed table pins the checkpoint to null") {
    val ev = Seq(
      ("db", "a", 10L, true), ("db", "a", 20L, true),
      ("db", "b", 5L, false))
      .toDF("schema_name", "table_name", "commit_ts", "f")
    val got = Sinks.sinkProgress(ev, col("f"))
      .select("table_name", "n_safe").as[(String, Long)].collect().toMap
    // nothing is covered by the guarantee while b has flushed nothing —
    // a bare min() would skip b's NULL watermark and claim a's events safe
    assert(got == Map("a" -> 0L, "b" -> 0L))
  }

  test("sinkProgress: checkpoint is the min flushed watermark across tables") {
    val ev = Seq(
      ("db", "a", 10L, true), ("db", "a", 20L, true), ("db", "a", 30L, false),
      ("db", "b", 12L, true), ("db", "b", 40L, false))
      .toDF("schema_name", "table_name", "commit_ts", "f")
    val got = Sinks.sinkProgress(ev, col("f"))
      .select("table_name", "n_flushed", "flushed_ts", "checkpoint_ts", "n_safe")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // flushed: a→20, b→12; checkpoint = min = 12; safe: ts <= 12
    assert(got == Set(("a", 2L, 20L, 12L, 1L), ("b", 1L, 12L, 12L, 1L)))
  }

  test("sinkProgress: a non-prefix flush set cannot advance past the hole") {
    // ADVICE r6: table flushed ts=30 but NOT ts=20 — max(flushed ts) would
    // falsely mark the unflushed ts=20 event as covered. The watermark must
    // stop strictly below the first unflushed event.
    val ev = Seq(
      ("db", "a", 10L, true), ("db", "a", 20L, false), ("db", "a", 30L, true),
      ("db", "b", 25L, true))
      .toDF("schema_name", "table_name", "commit_ts", "f")
    val got = Sinks.sinkProgress(ev, col("f"))
      .select("table_name", "n_flushed", "flushed_ts", "checkpoint_ts", "n_safe")
      .as[(String, Long, Long, Long, Long)].collect().toSet
    // a's watermark = min(30, 20-1) = 19; checkpoint = min(19, 25) = 19;
    // only a's ts=10 is safe
    assert(got == Set(("a", 2L, 19L, 19L, 1L), ("b", 1L, 25L, 19L, 0L)))
  }
}
