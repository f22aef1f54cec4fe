package graft.diff

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
 * distributed; nothing is collected to the driver.
 * One path per step: [[chunkDigest]] builds every chunk digest,
 * [[compareChunks]] is the one two-sided compare.
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

  /** Keys of `chunks` as pushable range predicates; false for none. */
  def inChunks(key: Column, chunks: Seq[Int], lo: Long, hi: Long,
      nChunks: Int): Column =
    chunks.map { c =>
      val (kLo, kHi) = chunkRange(c, lo, hi, nChunks)
      key >= kLo && key <= kHi
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

  /**
   * J4/V3 — row-level diff via full-outer join on the key columns.
   * Emits one row per difference with a class:
   *   missing   — key present in source, absent in target (needs INSERT)
   *   extra     — key absent in source, present in target (needs DELETE)
   *   different — key on both sides but the digest differs (needs REPLACE)
   * Never cache a digested wide frame to share it: at sf10 that ran 50%
   * SLOWER than re-digesting per consumer (round-19 NOTES).
   */
  def rowDiff(source: DataFrame, target: DataFrame, keyCols: Seq[String],
              canonicalCols: DataFrame => Seq[Column]): DataFrame = {
    def side(df: DataFrame, d: String) = df.withColumn("digest",
      rowDigest(canonicalCols(df))).select(keyCols.map(col) :+ col("digest").as(d): _*)
    side(source, "s_digest").join(side(target, "t_digest"), keyCols, "full_outer")
      .withColumn("diff_type",
        when(col("t_digest").isNull, "missing")
          .when(col("s_digest").isNull, "extra")
          .when(col("s_digest") =!= col("t_digest"), "different"))
      .filter(col("diff_type").isNotNull)
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
   * the caller (ints / decimal casts / quoted strings).
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
            concat_ws(", ", valueExprs: _*), lit(");"))))
}
