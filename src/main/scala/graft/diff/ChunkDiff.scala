package graft.diff

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Batch table-equivalence engine (SURVEY.md §2.13) — the Spark-native
 * sync_diff_inspector.
 *
 * Reference pipeline (sync_diff_inspector/diff/diff.go:284-660): split both
 * tables into key-range chunks, compute per-chunk
 * `COUNT + BIT_XOR(hash(row))` digests on each side, and for mismatched
 * chunks drill down to row level, emitting fix-SQL.
 *
 * Spark-first: chunking is a deterministic column expression over the key
 * (equal-width arithmetic, key hash or shared split points) instead of
 * stats-guided range scans; the checksum is one hash aggregation
 * per side; and the row-level drill-down is a single full-outer join on the
 * key — no binary search needed because the join IS the row-level diff at
 * scale (one shuffle, AQE handles skew). At 100 TB both sides stay fully
 * distributed; only [[check]]'s per-chunk compare reaches the driver.
 * One path per step: [[chunkDigest]] builds every chunk digest,
 * [[compareChunks]] is the one two-sided compare, [[rowDiff]] the one
 * row-level classifier, [[fixSql]] the one repair renderer, and [[check]]
 * the one checksum-then-refine flow over the first two and [[rowDiff]].
 */
object ChunkDiff {

  /**
   * A1 — order-insensitive row-set digest: BIT_XOR over a 60-bit integer
   * carved from md5 of the canonicalized row. Canonical form must use
   * engine-portable renderings only: ints, decimal-cast floats, ISO dates.
   * The value is the reference's CONV(SUBSTRING(MD5(CONCAT_WS(...)),1,15),
   * 16,10) (sync_diff_inspector/utils/utils.go:860-918), computed by the
   * [[graft.core.Hashing.portableLong]] kernel straight from the row
   * string's bytes, with no hex string in between.
   */
  def rowDigest(canonicalCols: Seq[Column]): Column =
    graft.core.Hashing.portableLong(concat_ws("|", canonicalCols: _*))

  /**
   * V1 scale path: range-partition on the key (distributed sampling picks
   * boundaries — the analog of the reference's stats-bucket splitter) and
   * use the partition id as the chunk id. No global sort, no single-task
   * stage; chunk sizes are approximate, which is fine for checksum compare
   * (V2) — only chunk MEMBERSHIP must agree between the two sides, and the
   * same boundaries can be reused by both via a join on chunk_id ranges.
   */
  def withRangeChunk(df: DataFrame, orderKeys: Seq[Column], nChunks: Int): DataFrame =
    df.repartitionByRange(nChunks, orderKeys: _*)
      .withColumn("chunk_id", spark_partition_id())

  /**
   * A4 — stats-guided split points (the reference samples `ORDER BY rand()
   * LIMIT n` keys, sync_diff_inspector/utils/utils.go:929-960; bucket
   * splitter uses index stats). Spark's approxQuantile IS that sampler:
   * returns nChunks-1 key boundaries usable as both-sides-identical range
   * predicates — unlike [[withRangeChunk]]'s internal sampling, these
   * boundaries can be SHARED across two tables being compared.
   */
  def splitPoints(df: DataFrame, keyCol: String, nChunks: Int,
                  relErr: Double = 0.01): Array[Double] = {
    val probs = (1 until nChunks).map(_.toDouble / nChunks).toArray
    df.stat.approxQuantile(keyCol, probs, relErr)
  }

  /** Chunk id from shared split points: chunk = #boundaries below the key
    * (one when/otherwise cascade — codegen'd, no shuffle). */
  def chunkBySplitPoints(key: Column, points: Array[Double]): Column =
    points.foldLeft(lit(0)) { (acc, p) => acc + when(key > p, 1).otherwise(0) }

  /** Key bounds for [[chunkByWidth]] — one distributed min/max agg; the two
    * longs to the driver are the same metadata fetch the reference's split
    * planner does before chunking. */
  def widthBounds(df: DataFrame, keyCol: String): (Long, Long) = {
    val r = df.agg(min(col(keyCol)).cast("long"), max(col(keyCol)).cast("long")).head()
    (r.getLong(0), r.getLong(1))
  }

  /**
   * V1 scale path with ORACLE-REPRODUCIBLE boundaries: equal-width key
   * ranges from the table's min/max. Pure per-row arithmetic — no window,
   * no sort, no shuffle; both diff sides (and the oracle) assign identical
   * chunk membership from the same two numbers. Exact integer division via
   * (a - a%b)/b keeps it bit-stable across engines (exact while
   * (hi-lo)*nChunks < 2^53 — holds far past 100 TB key spans).
   */
  def chunkByWidth(key: Column, lo: Long, hi: Long, nChunks: Int): Column = {
    val span = lit(hi - lo + 1L)
    val scaled = (key - lit(lo)) * nChunks
    least(lit(nChunks - 1), ((scaled - scaled % span) / span).cast("int"))
  }

  /**
   * V1 composite/string-key path (reference bucket splitter
   * sync_diff_inspector/splitter/bucket.go:38-300 walks index stats over
   * ARBITRARY index columns): when the chunk key is composite or
   * non-numeric, width arithmetic doesn't apply — chunk membership comes
   * from the portable row-key hash instead. Deterministic across engines,
   * uniformly balanced regardless of key type or skew, and both diff sides
   * agree with no shared state at all.
   */
  def chunkByKeyHash(keys: Seq[Column], nChunks: Int): Column =
    pmod(graft.core.Hashing.portableLong(
      concat_ws("|", keys.map(_.cast("string")): _*)), lit(nChunks.toLong))
      .cast("int")

  /** The exact inverse of [[chunkByWidth]]: the key range `[kLo, kHi]` of
    * chunk `c` within `[lo, hi]` (the last chunk ends at `hi`; a chunk no
    * key reaches reads `kLo > kHi`). */
  def chunkRange(c: Int, lo: Long, hi: Long, nChunks: Int): (Long, Long) = {
    def start(i: Int) = lo + ((i.toLong * (hi - lo + 1) + nChunks - 1) / nChunks)
    (start(c), if (c == nChunks - 1) hi else start(c + 1) - 1)
  }

  /** Keys [[chunkByWidth]] puts in `chunks`, as pushable range predicates;
    * false for none. Keys outside `[lo, hi]` are kept too: those above
    * `hi` clamp into the last chunk, those below `lo` fall in chunk 0 or
    * below, so chunk 0's predicate reads every key up to its end. */
  def inChunks(key: Column, chunks: Seq[Int], lo: Long, hi: Long,
      nChunks: Int): Column =
    chunks.map(_ max 0).distinct.map { c =>
      val (kLo, kHi) = chunkRange(c, lo, hi, nChunks)
      (if (c > 0) key >= kLo else lit(true)) &&
        (if (c < nChunks - 1) key <= kHi else lit(true))
    }.reduceOption(_ || _).getOrElse(lit(false))

  /** V2 — the chunk-digest kernel: per `chunkId`, `(chunk_id, cnt,
    * checksum, chunk_lo, chunk_hi)` — row count, BIT_XOR of [[rowDigest]]
    * and `orderKey` min/max, in one hash aggregation. Callers that select
    * the bounds away get them pruned from the plan. */
  def chunkDigest(df: DataFrame, chunkId: Column, orderKey: Column,
      canonicalCols: Seq[Column]): DataFrame =
    df.withColumn("row_digest", rowDigest(canonicalCols))
      .withColumn("chunk_id", chunkId)
      .groupBy("chunk_id")
      .agg(
        count(lit(1)).as("cnt"),
        expr("bit_xor(row_digest)").as("checksum"),
        min(orderKey).as("chunk_lo"),
        max(orderKey).as("chunk_hi"))

  /** V2 — `(chunk_id, cnt, checksum)` of [[chunkDigest]] over [[chunkByWidth]]
    * chunks of `key` within the caller's shared `bounds`: the side form
    * [[compareChunks]] and [[check]] take. */
  def widthDigest(df: DataFrame, key: String,
      canonicalCols: DataFrame => Seq[Column], bounds: (Long, Long),
      nChunks: Int): DataFrame =
    chunkDigest(df, chunkByWidth(col(key), bounds._1, bounds._2, nChunks),
      col(key), canonicalCols(df)).select("chunk_id", "cnt", "checksum")

  /** V2 — [[chunkDigest]] over equal-width key chunks of the first order
    * key, bounded by the table's own [[widthBounds]]. */
  def chunkChecksums(df: DataFrame, orderKeys: Seq[Column], nChunks: Int,
                     canonicalCols: Seq[Column]): DataFrame = {
    val keyCol = orderKeys.head
    val (lo, hi) = widthBounds(df, keyCol.toString())
    chunkDigest(df, chunkByWidth(keyCol, lo, hi, nChunks), keyCol, canonicalCols)
  }

  /** V2 — the two-sided chunk compare of two [[chunkDigest]] frames:
    * `(chunk_id, up_cnt, up_checksum, down_cnt, down_checksum, equal)`,
    * full-outer on `chunk_id`, so a chunk one side lacks is kept, with 0
    * count and checksum there, and unequal (a digested chunk counts at
    * least one row). Digests in, not rows: callers cache the small
    * digests, never the digested bases. */
  def compareChunks(up: DataFrame, down: DataFrame): DataFrame = {
    def side(df: DataFrame, p: String) = df.select(col("chunk_id"),
      col("cnt").as(s"${p}_cnt"), col("checksum").as(s"${p}_checksum"))
    side(up, "up").join(side(down, "down"), Seq("chunk_id"), "full_outer")
      .na.fill(0L, Seq("up_cnt", "up_checksum", "down_cnt", "down_checksum"))
      .withColumn("equal", col("up_cnt") === col("down_cnt") &&
        col("up_checksum") === col("down_checksum"))
  }

  /** J4 — the row class from the source and target digests: missing
    * (source only, needs INSERT), extra (target only, needs DELETE),
    * different (needs REPLACE), NULL where equal. */
  def diffType(s: Column, t: Column): Column =
    when(t.isNull, "missing").when(s.isNull, "extra").when(s =!= t, "different")

  /**
   * J4 — row-level diff via full-outer join on the key columns: one row
   * per difference, `(keyCols…, s_digest, s_<p>…, t_digest, t_<p>…,
   * diff_type)` with [[diffType]]'s class. Each `payload` entry `p -> c`
   * is evaluated on each side and carried through the join as `s_<p>` and
   * `t_<p>` (NULL on the side that lacks the key), so a consumer such as
   * [[fixSql]] need not read either side again.
   * Never cache a digested wide frame to share it: at sf10 that ran 50%
   * SLOWER than re-digesting per consumer (round-19 NOTES).
   */
  def rowDiff(source: DataFrame, target: DataFrame, keyCols: Seq[String],
              canonicalCols: DataFrame => Seq[Column],
              payload: Seq[(String, Column)] = Nil): DataFrame = {
    def side(df: DataFrame, p: String) = df.withColumn("digest",
      rowDigest(canonicalCols(df))).select(keyCols.map(col) ++
        (col("digest").as(s"${p}_digest") +:
          payload.map { case (n, c) => c.as(s"${p}_$n") }): _*)
    side(source, "s").join(side(target, "t"), keyCols, "full_outer")
      .withColumn("diff_type", diffType(col("s_digest"), col("t_digest")))
      .filter(col("diff_type").isNotNull)
  }

  /** [[check]]'s outcome: the [[compareChunks]] rows (collected into a
    * local frame), the unequal chunks' ids in order, and their [[rowDiff]]. */
  final case class Checked(compared: DataFrame, mismatched: Seq[Int],
      rows: DataFrame)

  /**
   * V2→V3 — the checksum-then-refine flow (reference
   * sync_diff_inspector/diff/diff.go:284-505): [[widthDigest]] both sides
   * within the caller's one `bounds`, compare in one collect, and
   * [[rowDiff]] only the unequal chunks' key ranges, pushed into both
   * sides by [[inChunks]] — with none, the row diff reads an empty
   * relation and runs no job. A `targetDigest` (a [[widthDigest]] over the
   * same bounds) is used as is, so a shared target is digested once.
   */
  def check(source: DataFrame, target: DataFrame, keyCols: Seq[String],
      canonicalCols: DataFrame => Seq[Column], bounds: (Long, Long),
      nChunks: Int, targetDigest: Option[DataFrame] = None): Checked = {
    val key = keyCols.head
    def digest(df: DataFrame) =
      widthDigest(df, key, canonicalCols, bounds, nChunks)
    val cmp = compareChunks(digest(source), targetDigest.getOrElse(digest(target)))
    val rows = cmp.collect()
    val mismatched = rows.filterNot(_.getAs[Boolean]("equal"))
      .map(_.getAs[Int]("chunk_id")).sorted.toSeq
    val inBad = inChunks(col(key), mismatched, bounds._1, bounds._2, nChunks)
    Checked(source.sparkSession.createDataFrame(rows.toSeq.asJava, cmp.schema),
      mismatched,
      rowDiff(source.filter(inBad), target.filter(inBad), keyCols, canonicalCols))
  }

  /**
   * Ignore-columns support (reference sync_diff_inspector config
   * `ignore-columns`, sync_diff_inspector/source/common/table_diff.go —
   * columns excluded from both the checksum and the row compare, used when
   * a column is expected to diverge: timestamps, generated columns,
   * replica-local counters). Rows differing ONLY in ignored columns
   * compare equal. Canonical columns are passed NAMED so the exclusion is
   * by config string, exactly like the reference's per-table column list;
   * pass `df => canonicalIgnoring(named(df), ignore)` to [[rowDiff]].
   */
  def canonicalIgnoring(named: Seq[(String, Column)],
      ignore: Set[String]): Seq[Column] =
    named.collect { case (n, c) if !ignore.contains(n) => c }

  /**
   * Per-table `range` config (reference sync_diff_inspector config
   * `[[table-config]] range = "..."` — an arbitrary SQL predicate applied
   * to BOTH sides before chunking / checksums / row compare, used to diff
   * a slice of a huge table or to align sides with different retention).
   * The predicate string goes through Catalyst `expr`, so bound predicates
   * reach the parquet scan as pushed filters (at 100 TB the range is the
   * difference between scanning a partition and scanning the table).
   * Side-asymmetric membership is intentional and matches the reference:
   * a row whose perturbed value crosses the range boundary appears on one
   * side only and classifies as missing/extra.
   */
  def withRange(df: DataFrame, rangeSql: String): DataFrame =
    df.filter(expr(rangeSql))

  /**
   * V4 — fix-SQL generation: REPLACE for missing/different, DELETE for
   * extra (reference sync_diff_inspector/diff/diff.go:792-890). Pure string
   * building from typed columns; values must be rendered engine-portably by
   * the caller (ints / decimal casts / quoted strings), and a NULL value
   * renders as `NULL` (as [[graft.operators.ForceReplicate.insertSql]]
   * does) rather than vanishing from the VALUES list.
   */
  def fixSql(diff: DataFrame, table: String, keyCols: Seq[String],
             valueExprs: Seq[Column]): DataFrame =
    diff.withColumn("fix_sql",
      when(col("diff_type") === "extra",
        concat(lit(s"DELETE FROM $table WHERE "),
          concat_ws(" AND ", keyCols.map(k => concat(lit(s"$k = "), col(k))): _*),
          lit(";")))
        .otherwise(
          concat(lit(s"REPLACE INTO $table VALUES ("),
            concat_ws(", ",
              valueExprs.map(v => coalesce(v.cast("string"), lit("NULL"))): _*),
            lit(");"))))
}
