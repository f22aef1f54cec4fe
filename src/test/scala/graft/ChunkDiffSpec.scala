package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.diff.ChunkDiff

/** The sync_diff chunk algebra: [[ChunkDiff.chunkRange]] inverts
  * [[ChunkDiff.chunkByWidth]] exactly, [[ChunkDiff.compareChunks]] keeps
  * a chunk only one side has, and [[ChunkDiff.chunkChecksums]] is the
  * digest kernel over the table's own width bounds. */
class ChunkDiffSpec extends SparkSpec {
  import spark.implicits._

  test("chunkRange is the exact inverse of chunkByWidth") {
    val rnd = new scala.util.Random(9)
    val fixed = Seq(
      (-17L, 3L, 4),  // negative lo, span 21 not divisible by 4
      (5L, 7L, 10),   // more chunks than keys: some chunks are empty
      (0L, 99L, 4),   // divisible span
      (-5L, -5L, 3),  // one key
      (-40L, 40L, 1)) // one chunk
    val random = (1 to 30).map { _ =>
      val lo = rnd.nextInt(2001) - 1000L
      (lo, lo + rnd.nextInt(200), 1 + rnd.nextInt(40))
    }
    val cases = (fixed ++ random).zipWithIndex
    // every key of [lo, hi] plus three past hi (the last chunk's clamp),
    // all cases in one job
    val got = cases.map { case ((lo, hi, n), t) =>
      spark.range(lo, hi + 4).select(lit(t), col("id"),
        ChunkDiff.chunkByWidth(col("id"), lo, hi, n))
    }.reduce(_ union _).as[(Int, Long, Int)].collect()
      .groupBy(_._1).map { case (t, rs) => t -> rs.map(r => r._2 -> r._3).toMap }
    cases.foreach { case ((lo, hi, n), t) =>
      val chunkOf = got(t)
      val ranges = (0 until n).map(ChunkDiff.chunkRange(_, lo, hi, n))
      for (key <- lo to hi; c <- 0 until n) {
        val (kLo, kHi) = ranges(c)
        assert((chunkOf(key) == c) == (kLo <= key && key <= kHi),
          s"lo=$lo hi=$hi n=$n key=$key chunk=${chunkOf(key)} c=$c [$kLo, $kHi]")
      }
      assert(ranges.last._2 == hi, s"lo=$lo hi=$hi n=$n")
      (hi + 1 to hi + 3).foreach(key => assert(chunkOf(key) == n - 1))
    }
  }

  test("compareChunks keeps a chunk only one side has, with 0 on the other") {
    val canon = (df: DataFrame) => Seq(col("k").cast("string"), col("v"))
    val down = Seq((0L, "a"), (10L, "b"), (99L, "c"), (-300L, "d_only"))
      .toDF("k", "v")
    val up = Seq((0L, "a"), (10L, "b"), (99L, "C"), (-150L, "u_only"))
      .toDF("k", "v")
    val (lo, hi) = (0L, 99L) // shared bounds: both extra keys lie below lo
    def digest(df: DataFrame) = ChunkDiff.chunkDigest(df,
      ChunkDiff.chunkByWidth(col("k"), lo, hi, 4), col("k"), canon(df))
    def rowDigest(df: DataFrame, k: Long) = df.filter(col("k") === k)
      .select(ChunkDiff.rowDigest(canon(df))).as[Long].head()
    val cmp = ChunkDiff.compareChunks(digest(up), digest(down))
      .as[(Int, Long, Long, Long, Long, Boolean)].collect()
      .map(r => r._1 -> r).toMap
    // -150 and -300 map to chunks -6 and -12: an inner join drops both
    assert(cmp.keySet == Set(-12, -6, 0, 3))
    assert(cmp(-6) == ((-6, 1L, rowDigest(up, -150L), 0L, 0L, false)))
    assert(cmp(-12) == ((-12, 0L, 0L, 1L, rowDigest(down, -300L), false)))
    assert(cmp(0)._6 && cmp(0)._2 == 2L && cmp(0)._4 == 2L)
    assert(!cmp(3)._6 && cmp(3)._2 == 1L && cmp(3)._4 == 1L) // v differs
  }

  test("chunkChecksums is the digest kernel over widthBounds, row for row") {
    val li = graft.core.Tables.load(spark, sf, "lineitem")
    val k = col("l_orderkey")
    val canon = Seq(k, col("l_linenumber"),
      col("l_quantity").cast("decimal(12,2)").cast("string"))
    val viaChecksums = ChunkDiff.chunkChecksums(li,
      Seq(k, col("l_linenumber")), 16, canon)
    val (lo, hi) = ChunkDiff.widthBounds(li, "l_orderkey")
    val viaKernel = ChunkDiff.chunkDigest(li,
      ChunkDiff.chunkByWidth(k, lo, hi, 16), k, canon)
    // an independent hand-rolled aggregate, as the gates had it
    val handRolled = li
      .withColumn("d", ChunkDiff.rowDigest(canon))
      .groupBy(ChunkDiff.chunkByWidth(k, lo, hi, 16).as("chunk_id"))
      .agg(count(lit(1)).as("cnt"), expr("bit_xor(d)").as("checksum"),
        min(k).as("chunk_lo"), max(k).as("chunk_hi"))
    def rows(df: DataFrame) = df.orderBy("chunk_id").collect().toSeq
    assert(viaChecksums.columns.toSeq ==
      Seq("chunk_id", "cnt", "checksum", "chunk_lo", "chunk_hi"))
    assert(viaKernel.columns.toSeq == viaChecksums.columns.toSeq)
    val got = rows(viaChecksums)
    assert(got.size == 16)
    assert(got == rows(viaKernel))
    assert(got == rows(handRolled))
    // each chunk's key bounds lie inside its inverse range
    got.foreach { r =>
      val (kLo, kHi) = ChunkDiff.chunkRange(r.getInt(0), lo, hi, 16)
      assert(kLo <= r.getLong(3) && r.getLong(4) <= kHi, r.toString)
    }
  }
}
