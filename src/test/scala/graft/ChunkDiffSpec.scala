package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.diff.ChunkDiff

/** The sync_diff chunk algebra: [[ChunkDiff.chunkRange]] inverts
  * [[ChunkDiff.chunkByWidth]] exactly, [[ChunkDiff.compareChunks]] keeps
  * a chunk only one side has, and [[ChunkDiff.chunkChecksums]] is the
  * digest kernel over the table's own width bounds. The row level:
  * [[ChunkDiff.rowDiff]] carries a payload through its join,
  * [[ChunkDiff.fixSql]] renders every value, NULL included, and
  * [[ChunkDiff.check]] refines only the mismatched chunks. */
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

  test("inChunks keeps exactly chunkByWidth's keys, out-of-bounds keys too") {
    val (lo, hi, n) = (10L, 49L, 4)
    val keys = spark.range(-30, 90).select(col("id").as("k"),
      ChunkDiff.chunkByWidth(col("id"), lo, hi, n).as("c"))
    val chunkOf = keys.as[(Long, Int)].collect().toMap
    assert(chunkOf.values.toSet.contains(-1)) // far enough below lo
    for (cs <- Seq(Seq(0), Seq(-1), Seq(3), Seq(1, 2), Seq(0, 3), Nil)) {
      val got = keys.filter(ChunkDiff.inChunks(col("k"), cs, lo, hi, n))
        .select("k").as[Long].collect().toSet
      // chunk 0's predicate reads every key below its end, the chunks
      // below 0 included, so a negative id selects what chunk 0 does
      val want = chunkOf.collect {
        case (k, c) if cs.exists(w => c == w || (w <= 0 && c <= 0)) => k
      }.toSet
      assert(got == want, s"chunks $cs")
    }
  }

  // rows with missing, extra, different and equal keys, and NULL payloads
  private def sides = {
    val src = Seq[(Long, Int, String, String)](
      (1L, 1, "a", "1.00"), (1L, 2, "b", null), (2L, 1, "c", "3.00"),
      (3L, 1, "d", "4.00"), (5L, 1, "e", "5.00"))
      .toDF("k1", "k2", "x", "qty")
    val dst = Seq[(Long, Int, String, String)](
      (1L, 1, "a", "1.00"), (1L, 2, "B", null), (2L, 1, "c", null),
      (4L, 1, "f", "6.00"), (5L, 1, "e", "5.00"))
      .toDF("k1", "k2", "x", "qty")
    (src, dst)
  }
  private val keys = Seq("k1", "k2")
  private val canon = (df: DataFrame) =>
    Seq(col("k1"), col("k2"), col("x"), coalesce(col("qty"), lit("")))

  test("rowDiff with a payload equals the hand-written join it replaces") {
    val (src, dst) = sides
    val payload = Seq("qty" -> col("qty"), "x" -> upper(col("x")))
    val got = ChunkDiff.rowDiff(src, dst, keys, canon, payload)
    assert(got.columns.toSeq == Seq("k1", "k2", "s_digest", "s_qty", "s_x",
      "t_digest", "t_qty", "t_x", "diff_type"))
    def side(df: DataFrame, p: String) = df.select(col("k1"), col("k2"),
      ChunkDiff.rowDigest(canon(df)).as(s"${p}_digest"),
      col("qty").as(s"${p}_qty"), upper(col("x")).as(s"${p}_x"))
    val handWritten = side(src, "s").join(side(dst, "t"), keys, "full_outer")
      .withColumn("diff_type",
        when(col("t_digest").isNull, "missing")
          .when(col("s_digest").isNull, "extra")
          .when(col("s_digest") =!= col("t_digest"), "different"))
      .filter(col("diff_type").isNotNull)
    def rows(df: DataFrame) = df.select(got.columns.map(col): _*)
      .collect().map(_.toSeq).sortBy(_.take(2).mkString(",")).toSeq
    assert(rows(got) == rows(handWritten))
    val byKey = got.select("k1", "k2", "diff_type", "s_qty", "t_qty")
      .as[(Long, Int, String, String, String)].collect()
      .map(r => (r._1, r._2) -> (r._3, r._4, r._5)).toMap
    assert(byKey == Map(
      (1L, 2) -> (("different", null, null)),
      (2L, 1) -> (("different", "3.00", null)),
      (3L, 1) -> (("missing", "4.00", null)),
      (4L, 1) -> (("extra", null, "6.00"))))
  }

  test("fixSql renders q52's strings, and NULL for a NULL value") {
    val diff = Seq[(Long, Int, String, String)]((7L, 2, "extra", "9.00"),
        (7L, 3, "missing", "12.00"), (8L, 1, "different", null))
      .toDF("l_orderkey", "l_linenumber", "diff_type", "qty")
    val got = ChunkDiff.fixSql(diff, "lineitem",
        Seq("l_orderkey", "l_linenumber"),
        Seq(col("l_orderkey"), col("l_linenumber"), col("qty")))
      .select("fix_sql").as[String].collect().toSeq
    assert(got == Seq(
      "DELETE FROM lineitem WHERE l_orderkey = 7 AND l_linenumber = 2;",
      "REPLACE INTO lineitem VALUES (7, 3, 12.00);",
      "REPLACE INTO lineitem VALUES (8, 1, NULL);"))
  }

  /** Jobs `f` starts, counted by a job group of its own. */
  private def jobsOf[A](f: => A): (A, Int) =
    JobTap.on(spark.sparkContext)(_.inGroup(f))

  private def wide(n: Long) = spark.range(0, n).select(col("id").as("k1"),
    (col("id") % 3).cast("int").as("k2"), (col("id") % 7).cast("string").as("x"),
    lit("1.00").as("qty"))

  test("check over equal sides finds no mismatched chunk and runs no row diff") {
    val side = wide(400)
    val bounds = ChunkDiff.widthBounds(side, "k1")
    val checked = ChunkDiff.check(side, side, keys, canon, bounds, 8)
    assert(checked.mismatched.isEmpty)
    assert(checked.compared.count() == 8L)
    assert(checked.compared.filter(!col("equal")).isEmpty)
    val (rows, jobs) = jobsOf(checked.rows.collect())
    assert(rows.isEmpty && jobs == 0, s"${rows.length} rows, $jobs jobs")
    // a digested target is used as given: the same verdict
    val digested = ChunkDiff.widthDigest(side, "k1", canon, bounds, 8)
    assert(ChunkDiff.check(side, side, keys, canon, bounds, 8, Some(digested))
      .mismatched.isEmpty)
  }

  test("check over faulted sides returns the unrestricted rowDiff's rows") {
    val base = wide(400)
    val k = col("k1")
    // 60 differs, 120 is target-only, 260 source-only, and the target has
    // a key below lo and one above hi (bounds from the source side only)
    val src = base.filter(k =!= 120L)
      .withColumn("x", when(k === 60L, "changed").otherwise(col("x")))
    val dst = base.filter(k =!= 260L).unionByName(
      Seq[(Long, Int, String, String)]((-3L, 0, "low", "1.00"),
        (450L, 0, "high", "1.00")).toDF("k1", "k2", "x", "qty"))
    val bounds = ChunkDiff.widthBounds(src, "k1")
    val (checked, jobs) = jobsOf(
      ChunkDiff.check(src, dst, keys, canon, bounds, 8))
    assert(jobs > 0)
    def chunkOf(key: Long) = spark.range(1).select(ChunkDiff.chunkByWidth(
      lit(key), bounds._1, bounds._2, 8)).as[Int].head()
    assert(checked.mismatched ==
      Seq(-3L, 60L, 120L, 260L, 450L).map(chunkOf).distinct.sorted)
    def rows(df: DataFrame) = df.collect().map(_.toSeq).sortBy(_.head.toString)
      .toSeq
    val unrestricted = ChunkDiff.rowDiff(src, dst, keys, canon)
    assert(rows(checked.rows) == rows(unrestricted))
    assert(rows(checked.rows).map(r => (r.head, r.last)) == Seq(
      (-3L, "extra"), (60L, "different"), (120L, "extra"), (260L, "missing"),
      (450L, "extra")).sortBy(_._1.toString))
  }
}
