package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Tables
import graft.diff.ChunkDiff

/**
 * Gate queries for the diff engine (SURVEY.md §2.13 V1-V4, §2.9 A1,
 * §2.10 J4). The "target" side is a deterministic perturbation of lineitem
 * (updates on orderkey%97, deletes on %101, inserts on %103) so both Spark
 * and the DuckDB oracle can derive it independently.
 */
object DiffQueries {

  /** Engine-portable canonical rendering of a lineitem row for digesting,
    * NAMED so ignore-columns (q161) can exclude by config string. */
  private def namedCanonical(df: DataFrame): Seq[(String, Column)] = Seq(
    "l_orderkey" -> col("l_orderkey"),
    "l_linenumber" -> col("l_linenumber"),
    "l_quantity" -> col("l_quantity").cast(DecimalType(12, 2)).cast("string"),
    "l_extendedprice" -> col("l_extendedprice").cast(DecimalType(18, 2)).cast("string"),
    "l_returnflag" -> col("l_returnflag"),
    "l_shipdate" -> col("l_shipdate").cast("date").cast("string"))

  private def canonical(df: DataFrame): Seq[Column] = namedCanonical(df).map(_._2)

  private val oracleCanonical =
    """l_orderkey || '|' || l_linenumber || '|' ||
      |CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
      |CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS VARCHAR) || '|' ||
      |l_returnflag || '|' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)"""
      .stripMargin.replace("\n", " ")

  private def oracleDigest(row: String) =
    s"CAST(('0x' || substr(md5($row), 1, 15)) AS BIGINT)"

  private val perturbedCte =
    """WITH perturbed AS (
      |  SELECT l_orderkey, l_linenumber,
      |    CASE WHEN l_orderkey % 97 = 0 THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
      |    l_extendedprice, l_returnflag, l_shipdate
      |  FROM lineitem WHERE l_orderkey % 101 <> 0
      |  UNION ALL
      |  SELECT l_orderkey, l_linenumber + 100, l_quantity, l_extendedprice,
      |    l_returnflag, l_shipdate
      |  FROM lineitem WHERE l_orderkey % 103 = 0
      |)""".stripMargin

  /** The deterministic perturbed copy (Spark side). */
  def perturbed(spark: SparkSession, dir: String): DataFrame = {
    val li = Tables.load(spark, dir, "lineitem")
    val updatedNotDeleted = li.filter(col("l_orderkey") % 101 =!= 0)
      .withColumn("l_quantity",
        when(col("l_orderkey") % 97 === 0, col("l_quantity") + 1)
          .otherwise(col("l_quantity")))
    val inserted = li.filter(col("l_orderkey") % 103 === 0)
      .withColumn("l_linenumber", col("l_linenumber") + 100)
    updatedNotDeleted.select(li.columns.map(col): _*)
      .unionByName(inserted.select(li.columns.map(col): _*))
  }

  // A1/V2 — per-chunk count + order-insensitive checksum over 32
  // equal-width key chunks. The boundaries are pure arithmetic from the
  // table's min/max key, so the oracle reproduces identical membership and
  // the Spark side needs no global window (one hash agg, fully parallel).
  val chunkChecksum = GateQuery(
    "q50_chunk_checksum",
    Some(
      s"""WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem)
         |SELECT chunk_id, count(*) AS cnt, bit_xor(row_digest) AS checksum,
         |  min(l_orderkey) AS chunk_lo, max(l_orderkey) AS chunk_hi
         |FROM (
         |  SELECT l_orderkey,
         |    CAST(least(31, ((l_orderkey - b.lo) * 32) // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
         |    ${oracleDigest(oracleCanonical)} AS row_digest
         |  FROM lineitem, b
         |) GROUP BY chunk_id""".stripMargin)) { (spark, dir) =>
    val li = Tables.load(spark, dir, "lineitem")
    ChunkDiff.chunkChecksums(li, Seq(col("l_orderkey"), col("l_linenumber")),
      32, canonical(li))
  }

  // V1 composite/string-key chunking: the same checksum gate over a
  // (string, numeric) composite key via the portable key hash — the path a
  // table without a single numeric PK takes.
  val chunkChecksumComposite = GateQuery(
    "q50b_chunk_checksum_composite",
    Some {
      val keyHash = graft.core.Hashing.Sql.portableLong(
        "l_returnflag || '|' || CAST(l_orderkey AS VARCHAR)")
      s"""SELECT chunk_id, count(*) AS cnt, bit_xor(row_digest) AS checksum
         |FROM (
         |  SELECT CAST(($keyHash) % 16 AS INT) AS chunk_id,
         |    ${oracleDigest(oracleCanonical)} AS row_digest
         |  FROM lineitem
         |) GROUP BY chunk_id""".stripMargin
    }) { (spark, dir) =>
    val li = Tables.load(spark, dir, "lineitem")
    ChunkDiff.chunkDigest(li,
        ChunkDiff.chunkByKeyHash(Seq(col("l_returnflag"), col("l_orderkey")), 16),
        col("l_orderkey"), canonical(li))
      .select("chunk_id", "cnt", "checksum")
  }

  /**
   * Shared diff derivation — the diff JOB shape: in sync_diff the chunk
   * compare, the row-level classification, and the fix-SQL emission are one
   * pass over the same source×target join, not three. Compute the
   * classified diff rows ONCE (digest both sides, full-outer join on the
   * PK, classify), persist, and let q51 (aggregate report) and q52
   * (fix-SQL rendering) consume the same table; the diff rows carry the
   * rendered quantity, so q52 never reads the source again.
   */
  private val classifiedDiff = Gate.shared("diff table") { (spark, dir) =>
    val diff = ChunkDiff.rowDiff(Tables.load(spark, dir, "lineitem"),
        perturbed(spark, dir), Seq("l_orderkey", "l_linenumber"), canonical,
        Seq("qty" -> col("l_quantity").cast(DecimalType(12, 2)).cast("string")))
      .withColumn("qty", coalesce(col("s_qty"), col("t_qty")))
      .select("l_orderkey", "l_linenumber", "diff_type", "qty")
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    diff.count() // materialize: both consumers read the small diff set
    diff
  }

  // J4/V3 — row-level diff classification, aggregated.
  val rowDiff = GateQuery(
    "q51_row_diff",
    Some(perturbedCte +
      s""", s AS (SELECT l_orderkey, l_linenumber,
         |         ${oracleDigest(oracleCanonical)} AS s_digest FROM lineitem),
         |  t AS (SELECT l_orderkey, l_linenumber,
         |         ${oracleDigest(oracleCanonical)} AS t_digest FROM perturbed)
         |SELECT diff_type, count(*) AS cnt,
         |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
         |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lnum
         |FROM (
         |  SELECT coalesce(s.l_orderkey, t.l_orderkey) AS l_orderkey,
         |    coalesce(s.l_linenumber, t.l_linenumber) AS l_linenumber,
         |    CASE WHEN t_digest IS NULL THEN 'missing'
         |         WHEN s_digest IS NULL THEN 'extra'
         |         WHEN s_digest <> t_digest THEN 'different' END AS diff_type
         |  FROM s FULL OUTER JOIN t
         |    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
         |)
         |WHERE diff_type IS NOT NULL
         |GROUP BY diff_type""".stripMargin)) { (spark, dir) =>
    classifiedDiff(spark, dir)
      .groupBy("diff_type").agg(
        count(lit(1)).as("cnt"),
        sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_linenumber")).as("sum_lnum"))
  }

  // V4 — fix-SQL emission for every diff row.
  val fixSql = GateQuery(
    "q52_fix_sql",
    Some(perturbedCte +
      s""", s AS (SELECT l_orderkey, l_linenumber,
         |         CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS qty,
         |         ${oracleDigest(oracleCanonical)} AS s_digest FROM lineitem),
         |  t AS (SELECT l_orderkey, l_linenumber,
         |         CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) AS qty,
         |         ${oracleDigest(oracleCanonical)} AS t_digest FROM perturbed)
         |SELECT l_orderkey, l_linenumber, diff_type,
         |  CASE WHEN diff_type = 'extra'
         |       THEN 'DELETE FROM lineitem WHERE l_orderkey = ' || l_orderkey ||
         |            ' AND l_linenumber = ' || l_linenumber || ';'
         |       ELSE 'REPLACE INTO lineitem VALUES (' || l_orderkey || ', ' ||
         |            l_linenumber || ', ' || qty || ');' END AS fix_sql
         |FROM (
         |  SELECT coalesce(s.l_orderkey, t.l_orderkey) AS l_orderkey,
         |    coalesce(s.l_linenumber, t.l_linenumber) AS l_linenumber,
         |    coalesce(s.qty, t.qty) AS qty,
         |    CASE WHEN t_digest IS NULL THEN 'missing'
         |         WHEN s_digest IS NULL THEN 'extra'
         |         WHEN s_digest <> t_digest THEN 'different' END AS diff_type
         |  FROM s FULL OUTER JOIN t
         |    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
         |)
         |WHERE diff_type IS NOT NULL""".stripMargin)) { (spark, dir) =>
    lineitemFixSql(classifiedDiff(spark, dir), col("qty"))
      .select("l_orderkey", "l_linenumber", "diff_type", "fix_sql")
  }

  /** q52's and q118's repair statements over a (l_orderkey, l_linenumber)
    * diff: DELETE for extra rows, key-implicit REPLACE carrying `qty`. */
  private def lineitemFixSql(diff: DataFrame, qty: Column): DataFrame =
    ChunkDiff.fixSql(diff, "lineitem", Seq("l_orderkey", "l_linenumber"),
      Seq(col("l_orderkey"), col("l_linenumber"), qty))

  private val FixSample = 153L

  /**
   * q118 — fix-SQL APPLIED, tables converge (the sync_diff end-game the
   * reference's integration suite checks: run the diff, apply the fix
   * SQL, re-diff shows zero): the perturbed downstream (projected to the
   * repaired columns) seeds a live embedded database, the diff's fix
   * statements execute on it (key-implicit REPLACE resolved against the
   * composite primary key, DELETE as-is), and the resulting table must
   * equal the upstream — the oracle reads upstream directly. Sampled by
   * order key to keep the single-threaded apply gate-sized. (The diff is
   * recomputed over the DEDUPED per-key projection rather than reusing
   * the q51/q52 digest diff — see the duplicate-key note below.)
   */
  val fixApply = GateQuery(
    "q118_fix_apply",
    Some(
      s"""WITH up AS (
         |  SELECT l_orderkey, l_linenumber,
         |    max(CAST(l_quantity AS DECIMAL(12,2))) AS qty
         |  FROM lineitem WHERE l_orderkey % $FixSample = 0 GROUP BY 1, 2
         |)
         |SELECT count(*) AS n_rows, CAST(sum(qty) AS DOUBLE) AS sum_qty,
         |  CAST(sum(l_orderkey) AS BIGINT) AS sum_ok,
         |  CAST(sum(l_linenumber) AS BIGINT) AS sum_ln
         |FROM up""".stripMargin), heavy = true) {
    (spark, dir) =>
    import spark.implicits._
    import graft.streaming.SqlApply
    // sync-diff presumes a unique key; the synthetic lineitem carries a
    // few duplicate (orderkey, linenumber) pairs, so both sides diff a
    // deduped per-key projection (max quantity — deterministic)
    def side(df: org.apache.spark.sql.DataFrame) = df
      .filter(col("l_orderkey") % FixSample === 0)
      .groupBy("l_orderkey", "l_linenumber")
      .agg(max(col("l_quantity").cast(DecimalType(12, 2))).as("qd"))
      .select(col("l_orderkey"), col("l_linenumber"),
        col("qd").cast("string").as("qty"))
    // both sides feed two actions (seed collect, fixes collect) — persist
    val up = side(Tables.load(spark, dir, "lineitem")).persist()
    val down = side(perturbed(spark, dir)).persist()
    // seed = the downstream state; unquoted identifiers throughout (the
    // rendered fix SQL uses bare column names — Derby uppercases both
    // sides consistently only if the DDL is unquoted too)
    val seedSql = down.as[(Long, Long, String)].collect().grouped(256).map { g =>
      "INSERT INTO diff.lineitem VALUES " +
        g.map { case (ok, ln, q) => s"($ok, $ln, $q)" }.mkString(", ")
    }.toSeq
    val diff = ChunkDiff.rowDiff(up, down, Seq("l_orderkey", "l_linenumber"),
      _ => Seq(col("qty")), Seq("qty" -> col("qty")))
    val fixes = lineitemFixSql(diff, col("s_qty"))
      .select("fix_sql").as[String].collect()
      // fix SQL targets the bare table name; qualify for the embedded DB
      .map(_.replace("lineitem", "diff.lineitem").stripSuffix(";"))
      .flatMap(SqlApply.toDerbyKeyed(_, Seq("l_orderkey", "l_linenumber")))
    up.unpersist(); down.unpersist()
    val state = SqlApply.applyBatch(
      s"graft_fix_${ProcessHandle.current.pid}",
      Seq("CREATE SCHEMA diff",
        """CREATE TABLE diff.lineitem (l_orderkey BIGINT,
          |l_linenumber BIGINT, qty DECIMAL(12,2),
          |PRIMARY KEY (l_orderkey, l_linenumber))""".stripMargin),
      seedSql.toSeq ++ fixes)(
      "SELECT COUNT(*), SUM(qty), SUM(l_orderkey), SUM(l_linenumber) FROM diff.lineitem") { rs =>
      // SUM over an empty table is SQL NULL — surface 0, not an NPE
      (rs.getLong(1),
        Option(rs.getBigDecimal(2)).map(_.doubleValue).getOrElse(0.0),
        rs.getLong(3), rs.getLong(4))
    }
    state.toSeq.toDF("n_rows", "sum_qty", "sum_ok", "sum_ln")
  }

  /**
   * q161 — sync_diff `ignore-columns` semantics
   * ([[ChunkDiff.canonicalIgnoring]], reference per-table config): the
   * target gets a SECOND perturbation (price bump on %89) on top of the
   * standard one (quantity on %97), then one full-outer join carries BOTH
   * digests per side — the full compare and the compare ignoring
   * `l_extendedprice`. Rows differing only in the ignored column must
   * compare equal (ign_different < full_different by exactly the
   * price-only rows, pinned by id-checksums), while missing/extra are
   * identical across modes (key presence is not a column property). One
   * shuffle pair for both modes — ignore-columns is a digest projection,
   * never a second diff run.
   */
  val diffIgnoreColumns = GateQuery(
    "q161_diff_ignore_columns",
    Some {
      val oracleCanonicalIgn =
        """l_orderkey || '|' || l_linenumber || '|' ||
          |CAST(CAST(l_quantity AS DECIMAL(12,2)) AS VARCHAR) || '|' ||
          |l_returnflag || '|' || CAST(CAST(l_shipdate AS DATE) AS VARCHAR)"""
          .stripMargin.replace("\n", " ")
      perturbedCte +
        s""", p2 AS (
           |  SELECT l_orderkey, l_linenumber, l_quantity,
           |    CASE WHEN l_orderkey % 89 = 0 THEN l_extendedprice + 10
           |         ELSE l_extendedprice END AS l_extendedprice,
           |    l_returnflag, l_shipdate
           |  FROM perturbed
           |), s AS (
           |  SELECT l_orderkey, l_linenumber,
           |    ${oracleDigest(oracleCanonical)} AS s_full,
           |    ${oracleDigest(oracleCanonicalIgn)} AS s_ign
           |  FROM lineitem
           |), t AS (
           |  SELECT l_orderkey, l_linenumber,
           |    ${oracleDigest(oracleCanonical)} AS t_full,
           |    ${oracleDigest(oracleCanonicalIgn)} AS t_ign
           |  FROM p2
           |), j AS (
           |  SELECT coalesce(s.l_orderkey, t.l_orderkey) AS okey,
           |    CASE WHEN t_full IS NULL THEN 'missing'
           |         WHEN s_full IS NULL THEN 'extra'
           |         WHEN s_full <> t_full THEN 'different' END AS ft,
           |    CASE WHEN t_ign IS NULL THEN 'missing'
           |         WHEN s_ign IS NULL THEN 'extra'
           |         WHEN s_ign <> t_ign THEN 'different' END AS it
           |  FROM s FULL OUTER JOIN t
           |    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
           |)
           |SELECT
           |  CAST(sum(CASE WHEN ft = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS full_missing,
           |  CAST(sum(CASE WHEN ft = 'extra' THEN 1 ELSE 0 END) AS BIGINT) AS full_extra,
           |  CAST(sum(CASE WHEN ft = 'different' THEN 1 ELSE 0 END) AS BIGINT) AS full_different,
           |  CAST(sum(CASE WHEN it = 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS ign_missing,
           |  CAST(sum(CASE WHEN it = 'extra' THEN 1 ELSE 0 END) AS BIGINT) AS ign_extra,
           |  CAST(sum(CASE WHEN it = 'different' THEN 1 ELSE 0 END) AS BIGINT) AS ign_different,
           |  CAST(sum(CASE WHEN ft = 'different' THEN okey ELSE 0 END) AS BIGINT) AS full_diff_check,
           |  CAST(sum(CASE WHEN it = 'different' THEN okey ELSE 0 END) AS BIGINT) AS ign_diff_check
           |FROM j""".stripMargin
    }) { (spark, dir) =>
    val ignore = Set("l_extendedprice")
    val pricePerturbed = perturbed(spark, dir)
      .withColumn("l_extendedprice",
        when(col("l_orderkey") % 89 === 0, col("l_extendedprice") + 10)
          .otherwise(col("l_extendedprice")))
    def side(df: DataFrame, p: String) = df.select(
      col("l_orderkey"), col("l_linenumber"),
      ChunkDiff.rowDigest(canonical(df)).as(s"${p}_full"),
      ChunkDiff.rowDigest(
        ChunkDiff.canonicalIgnoring(namedCanonical(df), ignore)).as(s"${p}_ign"))
    side(Tables.load(spark, dir, "lineitem"), "s")
      .join(side(pricePerturbed, "t"), Seq("l_orderkey", "l_linenumber"),
        "full_outer")
      .withColumn("ft", ChunkDiff.diffType(col("s_full"), col("t_full")))
      .withColumn("it", ChunkDiff.diffType(col("s_ign"), col("t_ign")))
      .agg(
        sum(when(col("ft") === "missing", 1L).otherwise(0L)).as("full_missing"),
        sum(when(col("ft") === "extra", 1L).otherwise(0L)).as("full_extra"),
        sum(when(col("ft") === "different", 1L).otherwise(0L)).as("full_different"),
        sum(when(col("it") === "missing", 1L).otherwise(0L)).as("ign_missing"),
        sum(when(col("it") === "extra", 1L).otherwise(0L)).as("ign_extra"),
        sum(when(col("it") === "different", 1L).otherwise(0L)).as("ign_different"),
        sum(when(col("ft") === "different", col("l_orderkey")).otherwise(0L))
          .as("full_diff_check"),
        sum(when(col("it") === "different", col("l_orderkey")).otherwise(0L))
          .as("ign_diff_check"))
  }

  /** sync-diff per-table `range` predicate, q163. */
  private val RangeSql =
    "l_orderkey BETWEEN 2000 AND 15000 AND l_quantity > 5"

  /**
   * q163 — per-table `range` config ([[ChunkDiff.withRange]], reference
   * sync_diff_inspector `[[table-config]] range`): the same predicate
   * string filters BOTH sides before the compare, so rows outside the
   * range never classify even when they differ, and the bound predicates
   * reach the parquet scans as pushed filters (PlanShapeSpec asserts it).
   * The quantity term makes boundary-crossing real: a %97-perturbed row
   * with base quantity 5 is outside the source range but inside the
   * target's (5 → 6), so it classifies `extra` — the side-asymmetric
   * membership the reference's per-side WHERE produces. The gate pins the
   * per-class counts/key-checks plus both sides' in-range row counts.
   */
  val diffRange = GateQuery(
    "q163_diff_range",
    Some(perturbedCte +
      s""", s AS (SELECT l_orderkey, l_linenumber,
         |         ${oracleDigest(oracleCanonical)} AS s_digest
         |       FROM lineitem WHERE $RangeSql),
         |  t AS (SELECT l_orderkey, l_linenumber,
         |         ${oracleDigest(oracleCanonical)} AS t_digest
         |       FROM perturbed WHERE $RangeSql),
         |  sides AS (SELECT (SELECT count(*) FROM s) AS src_rows,
         |                   (SELECT count(*) FROM t) AS tgt_rows)
         |SELECT diff_type, count(*) AS cnt,
         |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
         |  CAST(sum(l_linenumber) AS BIGINT) AS sum_lnum,
         |  src_rows, tgt_rows
         |FROM (
         |  SELECT coalesce(s.l_orderkey, t.l_orderkey) AS l_orderkey,
         |    coalesce(s.l_linenumber, t.l_linenumber) AS l_linenumber,
         |    CASE WHEN t_digest IS NULL THEN 'missing'
         |         WHEN s_digest IS NULL THEN 'extra'
         |         WHEN s_digest <> t_digest THEN 'different' END AS diff_type
         |  FROM s FULL OUTER JOIN t
         |    ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
         |) CROSS JOIN sides
         |WHERE diff_type IS NOT NULL
         |GROUP BY diff_type, src_rows, tgt_rows""".stripMargin)) { (spark, dir) =>
    val s = ChunkDiff.withRange(Tables.load(spark, dir, "lineitem"), RangeSql)
    val t = ChunkDiff.withRange(perturbed(spark, dir), RangeSql)
    val counts = ChunkDiff
      .rowDiff(s, t, Seq("l_orderkey", "l_linenumber"), df => canonical(df))
      .groupBy("diff_type").agg(
        count(lit(1)).as("cnt"),
        sum(col("l_orderkey")).as("sum_okey"),
        sum(col("l_linenumber")).as("sum_lnum"))
    val sides = s.agg(count(lit(1)).as("src_rows"))
      .crossJoin(t.agg(count(lit(1)).as("tgt_rows")))
    counts.crossJoin(broadcast(sides))
  }

  // ---- sync_diff report + checkpoint resume (report.go, checkpoints.go)

  /** Shared chunk-compare facts for q240/q241: per-chunk
    * (chunk_id, eq, up_count, down_count) from both sides' 32-chunk
    * (count, checksum) digests over SOURCE-side width bounds — the
    * reference's one-side split planner shares boundaries the same way.
    * Persisted + shared: both gates consume it and q240 reads it
    * three times (ok facts, bad facts, summary) — without the persist
    * the two full-table digest scans would re-run per consumer. */
  private val chunkCmpFacts = Gate.shared("chunk-compare facts") {
    (spark, dir) =>
      val li = Tables.load(spark, dir, "lineitem")
      val (lo, hi) = ChunkDiff.widthBounds(li, "l_orderkey")
      def chk(df: DataFrame) =
        ChunkDiff.widthDigest(df, "l_orderkey", canonical, (lo, hi), 32)
      val cmp = ChunkDiff.compareChunks(chk(li), chk(perturbed(spark, dir)))
        .select(col("chunk_id"), col("equal").as("chunk_equal"),
          col("up_cnt").as("up_count"), col("down_cnt").as("down_count"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      cmp.count() // 32 rows — materialize once for all consumers
      (cmp, lo, hi)
  }

  /** DuckDB twin of [[chunkCmpFacts]] (appended after `perturbedCte`). */
  private val cmpCte =
    s""", b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem),
       |schk AS (
       |  SELECT chunk_id, count(*) AS cnt, bit_xor(d) AS cs FROM (
       |    SELECT CAST(least(31, ((l_orderkey - b.lo) * 32) // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
       |      ${oracleDigest(oracleCanonical)} AS d
       |    FROM lineitem, b) GROUP BY chunk_id
       |), tchk AS (
       |  SELECT chunk_id, count(*) AS cnt, bit_xor(d) AS cs FROM (
       |    SELECT CAST(least(31, ((l_orderkey - b.lo) * 32) // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
       |      ${oracleDigest(oracleCanonical)} AS d
       |    FROM perturbed, b) GROUP BY chunk_id
       |), cmp AS (
       |  SELECT coalesce(s.chunk_id, t.chunk_id) AS chunk_id,
       |    CASE WHEN s.cnt IS NOT NULL AND t.cnt IS NOT NULL
       |              AND s.cnt = t.cnt AND s.cs = t.cs THEN 1 ELSE 0 END AS eq,
       |    coalesce(s.cnt, 0) AS up_cnt, coalesce(t.cnt, 0) AS down_cnt
       |  FROM schk s FULL OUTER JOIN tchk t ON s.chunk_id = t.chunk_id
       |)""".stripMargin

  /**
   * q240 — the sync_diff REPORT artifact ([[graft.diff.DiffReport]],
   * reference report.go): four tables through the real assembly — an
   * equal pair (all 32 chunks match), the perturbed pair (failing chunks
   * + `+rowsAdd/-rowsDelete` totals where a `different` row counts in
   * both, compareRows:762-768), a struct-mismatched pair (data check
   * skipped, still FAILS the run), and a downstream-missing table
   * (counts as SKIPPED, rowsAdd = its full upstream count per
   * diff.go:460-464, and does NOT flip the overall verdict). Pins every
   * per-table row of the summary table plus the CommitSummary counts and
   * the pass|fail result on each row.
   */
  val diffReport = GateQuery(
    "q240_diff_report",
    Some(perturbedCte + cmpCte +
      s""", drows AS (
         |  SELECT chunk_id,
         |    CAST(sum(CASE WHEN diff_type <> 'extra' THEN 1 ELSE 0 END) AS BIGINT) AS ra,
         |    CAST(sum(CASE WHEN diff_type <> 'missing' THEN 1 ELSE 0 END) AS BIGINT) AS rd
         |  FROM (
         |    SELECT CAST(least(31, ((coalesce(s.l_orderkey, t.l_orderkey) - b.lo) * 32)
         |             // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
         |      CASE WHEN t_digest IS NULL THEN 'missing'
         |           WHEN s_digest IS NULL THEN 'extra'
         |           WHEN s_digest <> t_digest THEN 'different' END AS diff_type
         |    FROM (SELECT l_orderkey, l_linenumber,
         |            ${oracleDigest(oracleCanonical)} AS s_digest FROM lineitem) s
         |      FULL OUTER JOIN (SELECT l_orderkey, l_linenumber,
         |            ${oracleDigest(oracleCanonical)} AS t_digest FROM perturbed) t
         |        ON s.l_orderkey = t.l_orderkey AND s.l_linenumber = t.l_linenumber
         |      CROSS JOIN b
         |  ) WHERE diff_type IS NOT NULL GROUP BY chunk_id
         |), chunkfacts AS (
         |  SELECT 'sf' AS sn, 'lineitem_ok' AS tn, chunk_id, 1 AS eq,
         |    CAST(0 AS BIGINT) AS ra, CAST(0 AS BIGINT) AS rd,
         |    cnt AS up_cnt, cnt AS down_cnt
         |  FROM schk
         |  UNION ALL
         |  SELECT 'sf', 'lineitem_bad', c.chunk_id, c.eq,
         |    coalesce(d.ra, 0), coalesce(d.rd, 0), c.up_cnt, c.down_cnt
         |  FROM cmp c LEFT JOIN drows d USING (chunk_id)
         |  UNION ALL
         |  SELECT 'sf', 'nation_gone', 0, 0,
         |    (SELECT count(*) FROM nation), 0,
         |    (SELECT count(*) FROM nation), 0
         |), structf AS (
         |  SELECT * FROM (VALUES
         |    ('sf', 'lineitem_ok', 1, 0, 0),
         |    ('sf', 'lineitem_bad', 1, 0, 0),
         |    ('sf', 'orders_badschema', 0, 1, 0),
         |    ('sf', 'nation_gone', 0, 1, -1)) AS v(sn, tn, seq_, skip_, lack_)
         |), tbl AS (
         |  SELECT f.sn AS schema_name, f.tn AS table_name,
         |    CAST(f.seq_ AS INT) AS struct_equal,
         |    CASE WHEN coalesce(a.failed, 0) = 0 THEN 1 ELSE 0 END AS data_equal,
         |    f.lack_, CAST(coalesce(a.nchunks, 0) AS BIGINT) AS chunks_compared,
         |    CAST(coalesce(a.failed, 0) AS BIGINT) AS failed_chunks,
         |    CAST(coalesce(a.ra, 0) AS BIGINT) AS rows_add,
         |    CAST(coalesce(a.rd, 0) AS BIGINT) AS rows_delete,
         |    CAST(coalesce(a.up, 0) AS BIGINT) AS up_count,
         |    CAST(coalesce(a.down, 0) AS BIGINT) AS down_count
         |  FROM structf f LEFT JOIN (
         |    SELECT sn, tn, count(*) AS nchunks, sum(1 - eq) AS failed,
         |      sum(ra) AS ra, sum(rd) AS rd, sum(up_cnt) AS up, sum(down_cnt) AS down
         |    FROM chunkfacts GROUP BY sn, tn) a
         |    ON a.sn = f.sn AND a.tn = f.tn
         |), tbl2 AS (
         |  SELECT *, CASE WHEN struct_equal = 1 AND data_equal = 1 THEN 'pass'
         |                 WHEN lack_ <> 0 THEN 'skipped'
         |                 ELSE 'fail' END AS state,
         |    CASE WHEN lack_ <> 0 THEN 'skipped' ELSE 'succeed' END AS check_status,
         |    '+' || rows_add || '/-' || rows_delete AS data_diff
         |  FROM tbl
         |), summ AS (
         |  SELECT CAST(sum(CASE WHEN state = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS pass_num,
         |    CAST(sum(CASE WHEN state = 'fail' THEN 1 ELSE 0 END) AS BIGINT) AS failed_num,
         |    CAST(sum(CASE WHEN state = 'skipped' THEN 1 ELSE 0 END) AS BIGINT) AS skipped_num,
         |    CASE WHEN max(CASE WHEN lack_ = 0 AND (struct_equal = 0 OR data_equal = 0)
         |                       THEN 1 ELSE 0 END) = 1
         |         THEN 'fail' ELSE 'pass' END AS result
         |  FROM tbl2
         |)
         |SELECT schema_name, table_name, state, check_status, struct_equal,
         |  data_equal, chunks_compared, failed_chunks, rows_add, rows_delete,
         |  data_diff, up_count, down_count, result, pass_num, failed_num,
         |  skipped_num
         |FROM tbl2 CROSS JOIN summ""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.diff.DiffReport
    val (cmp, lo, hi) = chunkCmpFacts(spark, dir)
    val drows = classifiedDiff(spark, dir)
      .withColumn("chunk_id",
        ChunkDiff.chunkByWidth(col("l_orderkey"), lo, hi, 32))
      .groupBy("chunk_id").agg(
        sum(when(col("diff_type") =!= "extra", 1L).otherwise(0L)).as("ra"),
        sum(when(col("diff_type") =!= "missing", 1L).otherwise(0L)).as("rd"))
    val nationCnt = Tables.load(spark, dir, "nation").count()
    val okFacts = cmp.select(lit("sf").as("schema_name"),
      lit("lineitem_ok").as("table_name"), col("chunk_id"),
      lit(true).as("chunk_equal"), lit(0L).as("rows_add"),
      lit(0L).as("rows_delete"), col("up_count"), col("up_count").as("down_count"))
    val badFacts = cmp.join(drows, Seq("chunk_id"), "left")
      .select(lit("sf").as("schema_name"), lit("lineitem_bad").as("table_name"),
        col("chunk_id"), col("chunk_equal"),
        coalesce(col("ra"), lit(0L)).as("rows_add"),
        coalesce(col("rd"), lit(0L)).as("rows_delete"),
        col("up_count"), col("down_count"))
    val lackFacts = Seq(("sf", "nation_gone", 0, false, nationCnt, 0L,
        nationCnt, 0L))
      .toDF("schema_name", "table_name", "chunk_id", "chunk_equal",
        "rows_add", "rows_delete", "up_count", "down_count")
    val structFacts = Seq(
      ("sf", "lineitem_ok", true, false, DiffReport.AllTableExistFlag),
      ("sf", "lineitem_bad", true, false, DiffReport.AllTableExistFlag),
      ("sf", "orders_badschema", false, true, DiffReport.AllTableExistFlag),
      ("sf", "nation_gone", false, true, DiffReport.DownstreamTableLackFlag))
      .toDF("schema_name", "table_name", "struct_equal", "data_skip",
        "table_lack")
    DiffReport.withSummary(DiffReport.tableResults(structFacts,
        okFacts.unionByName(badFacts).unionByName(lackFacts)))
      .select(col("schema_name"), col("table_name"), col("state"),
        col("check_status"), col("struct_equal").cast("int"),
        col("data_equal").cast("int"), col("chunks_compared"),
        col("failed_chunks"), col("rows_add"), col("rows_delete"),
        col("data_diff"), col("up_count"), col("down_count"),
        col("result"), col("pass_num"), col("failed_num"),
        col("skipped_num"))
  }

  /**
   * q241 — chunk-checkpoint RESUME ([[graft.diff.DiffCheckpoint]],
   * reference checkpoints.go): run 1 completes 28 of 32 chunks in a
   * scrambled order (mix32 of the chunk id — workers finish out of
   * order); the checkpoint saves only the last chunk of the maximal
   * CONTIGUOUS prefix (the heap-pop fold), the resumed run re-checksums
   * exactly the chunks past it, and the stitched per-chunk results must
   * XOR-match the one-shot diff. Pins both runs' processed counts, the
   * saved id, the deliberately re-done (wasted) chunk count, and the
   * stitched-vs-one-shot digest equality.
   */
  private val CkptRun1 = 28

  val diffCheckpointResume = GateQuery(
    "q241_diff_checkpoint_resume",
    Some(perturbedCte + cmpCte +
      s""", withh AS (
         |  SELECT chunk_id, eq, up_cnt, down_cnt,
         |    ${graft.core.Hashing.Sql.portableLong(
               "chunk_id || '|' || eq || '|' || up_cnt || '|' || down_cnt")} AS h
         |  FROM cmp
         |), ranked AS (
         |  SELECT *, row_number() OVER (ORDER BY ${graft.core.Hashing.Sql
               .mix32("chunk_id")}, chunk_id) AS rk
         |  FROM withh
         |), saved AS (
         |  SELECT coalesce((SELECT min(chunk_id) FROM ranked WHERE rk > $CkptRun1), 32) - 1 AS sid
         |), merged AS (
         |  SELECT h FROM ranked, saved
         |  WHERE (rk <= $CkptRun1 AND chunk_id <= sid) OR chunk_id > sid
         |)
         |SELECT CAST(32 AS BIGINT) AS n_chunks,
         |  CAST($CkptRun1 AS BIGINT) AS run1_processed,
         |  CAST(s.sid AS BIGINT) AS saved_chunk,
         |  CAST(31 - s.sid AS BIGINT) AS run2_processed,
         |  CAST($CkptRun1 - (s.sid + 1) AS BIGINT) AS wasted_rechecks,
         |  (SELECT CAST(bit_xor(h) AS BIGINT) FROM merged) AS merged_xor,
         |  (SELECT CAST(bit_xor(h) AS BIGINT) FROM withh) AS oneshot_xor,
         |  CASE WHEN (SELECT bit_xor(h) FROM merged) =
         |            (SELECT bit_xor(h) FROM withh)
         |       THEN 1 ELSE 0 END AS stitched_equal
         |FROM saved s""".stripMargin)) { (spark, dir) =>
    import graft.diff.DiffCheckpoint
    val (cmp0, _, _) = chunkCmpFacts(spark, dir)
    val cmp = cmp0.withColumn("eq", col("chunk_equal").cast("int"))
      .withColumn("h", graft.core.Hashing.portableLong(concat_ws("|",
        col("chunk_id"), col("eq"), col("up_count"), col("down_count"))))
      .persist()
    cmp.count()
    // run 1: first 20 completions in scrambled (worker-finish) order
    val completed = cmp
      .withColumn("m", graft.core.Hashing.mix32(col("chunk_id").cast("long")))
      .orderBy("m", "chunk_id").limit(CkptRun1)
    val saved = DiffCheckpoint.savedNodeId(completed, "chunk_id", 32)
    // run 2: resume past the checkpoint; stitch with run 1's prefix
    val run2 = DiffCheckpoint.resumeFrom(cmp, "chunk_id", saved)
    val merged = completed.filter(col("chunk_id") <= saved)
      .select("h").unionByName(run2.select("h"))
    val mergedXor = merged.agg(expr("bit_xor(h)")).head().getLong(0)
    val oneshotXor = cmp.agg(expr("bit_xor(h)")).head().getLong(0)
    cmp.unpersist()
    import spark.implicits._
    Seq((32L, CkptRun1.toLong, saved, 31L - saved,
        CkptRun1 - (saved + 1), mergedXor, oneshotXor,
        if (mergedXor == oneshotXor) 1 else 0))
      .toDF("n_chunks", "run1_processed", "saved_chunk", "run2_processed",
        "wasted_rechecks", "merged_xor", "oneshot_xor", "stitched_equal")
  }

  /**
   * q243 — the check-mode switch ([[graft.diff.DiffReport.applyCheckMode]],
   * main.go:115-140) over three tables (equal, perturbed,
   * downstream-lacking): `both` gives pass/fail/skipped with verdict
   * fail; `check-struct-only` never runs the data check, so the
   * PERTURBED table passes and the verdict flips to pass (the lack table
   * still reports skipped); `check-data-only` skips StructEqual, so the
   * lack flag never reaches the report and the lack-table's failing
   * Empty-chunk data check counts as FAIL with skipped_num = 0 — the
   * experimental flag's rough edge, modeled faithfully.
   */
  val diffCheckModes = GateQuery(
    "q243_diff_check_modes",
    Some(perturbedCte + cmpCte +
      s""", facts AS (
         |  SELECT 'lineitem_ok' AS table_name, 1 AS struct_eq, 0 AS lack,
         |    1 AS data_eq
         |  UNION ALL
         |  SELECT 'lineitem_bad', 1, 0,
         |    CASE WHEN (SELECT sum(1 - eq) FROM cmp) = 0 THEN 1 ELSE 0 END
         |  UNION ALL
         |  SELECT 'nation_gone', 0, -1, 0
         |), modal AS (
         |  SELECT m.mode, f.table_name,
         |    CASE WHEN m.mode = 'data-only' THEN 1 ELSE f.struct_eq END AS se,
         |    CASE WHEN m.mode = 'struct-only' THEN 1 ELSE f.data_eq END AS de,
         |    CASE WHEN m.mode = 'data-only' THEN 0 ELSE f.lack END AS lk
         |  FROM facts f, (SELECT unnest(['both', 'struct-only', 'data-only']) AS mode) m
         |), states AS (
         |  SELECT mode, table_name,
         |    CASE WHEN se = 1 AND de = 1 THEN 'pass'
         |         WHEN lk <> 0 THEN 'skipped' ELSE 'fail' END AS state,
         |    se, de, lk
         |  FROM modal
         |)
         |SELECT s.mode, s.table_name, s.state, t.result,
         |  t.pass_num, t.failed_num, t.skipped_num
         |FROM states s JOIN (
         |  SELECT mode,
         |    CASE WHEN max(CASE WHEN lk = 0 AND (se = 0 OR de = 0)
         |                       THEN 1 ELSE 0 END) = 1
         |         THEN 'fail' ELSE 'pass' END AS result,
         |    CAST(sum(CASE WHEN state = 'pass' THEN 1 ELSE 0 END) AS BIGINT) AS pass_num,
         |    CAST(sum(CASE WHEN state = 'fail' THEN 1 ELSE 0 END) AS BIGINT) AS failed_num,
         |    CAST(sum(CASE WHEN state = 'skipped' THEN 1 ELSE 0 END) AS BIGINT) AS skipped_num
         |  FROM states GROUP BY mode) t USING (mode)""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.diff.DiffReport
    val (cmp, _, _) = chunkCmpFacts(spark, dir)
    val nationCnt = Tables.load(spark, dir, "nation").count()
    val chunkFacts = cmp.select(lit("sf").as("schema_name"),
        lit("lineitem_ok").as("table_name"), col("chunk_id"),
        lit(true).as("chunk_equal"), lit(0L).as("rows_add"),
        lit(0L).as("rows_delete"), col("up_count"),
        col("up_count").as("down_count"))
      .unionByName(cmp.select(lit("sf").as("schema_name"),
        lit("lineitem_bad").as("table_name"), col("chunk_id"),
        col("chunk_equal"), lit(0L).as("rows_add"), lit(0L).as("rows_delete"),
        col("up_count"), col("down_count")))
      .unionByName(Seq(("sf", "nation_gone", 0, false, nationCnt, 0L,
        nationCnt, 0L)).toDF("schema_name", "table_name", "chunk_id",
        "chunk_equal", "rows_add", "rows_delete", "up_count", "down_count"))
    val structFacts = Seq(
      ("sf", "lineitem_ok", true, false, DiffReport.AllTableExistFlag),
      ("sf", "lineitem_bad", true, false, DiffReport.AllTableExistFlag),
      ("sf", "nation_gone", false, true, DiffReport.DownstreamTableLackFlag))
      .toDF("schema_name", "table_name", "struct_equal", "data_skip",
        "table_lack")
    Seq("both", "struct-only", "data-only").map { mode =>
      val (sf2, cf2) = DiffReport.applyCheckMode(mode, structFacts, chunkFacts)
      DiffReport.withSummary(DiffReport.tableResults(sf2, cf2))
        .select(lit(mode).as("mode"), col("table_name"), col("state"),
          col("result"), col("pass_num"), col("failed_num"),
          col("skipped_num"))
    }.reduce(_ unionByName _)
  }

  /**
   * Oracle twin of the bucket-splitter pipeline for one (B, chunk-size
   * divisor) parameterization: the width histogram (chunkByWidth
   * arithmetic), a recursive-CTE replay of produceChunks' greedy fold,
   * the sub-split expansion, and BOTH membership forms — range predicates
   * and the boundary cascade — whose per-chunk counts must agree (the
   * tiling proof).
   */
  private def bucketOracleSql(b: Int, csDiv: Int): String =
    s"""WITH RECURSIVE bounds AS (
       |  SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi,
       |         CAST(count(*) AS BIGINT) AS n FROM lineitem
       |), params AS (SELECT lo, hi, n, n // $csDiv AS cs FROM bounds),
       |buck0 AS (
       |  SELECT CAST(least($b - 1,
       |           ((l_orderkey - p.lo) * $b) // (p.hi - p.lo + 1)) AS INT) AS wb,
       |         count(*) AS c, max(l_orderkey) AS ub
       |  FROM lineitem, params p GROUP BY 1
       |), stats AS (
       |  SELECT CAST(row_number() OVER (ORDER BY wb) - 1 AS INT) AS i,
       |         CAST(sum(c) OVER (ORDER BY wb) AS BIGINT) AS cum,
       |         CAST(ub AS BIGINT) AS ub
       |  FROM buck0
       |), fold AS (
       |  SELECT -1 AS i, CAST(0 AS BIGINT) AS latest,
       |         CAST(NULL AS BIGINT) AS lower_b, -1 AS last_close,
       |         0 AS closed, CAST(NULL AS BIGINT) AS g_lower,
       |         CAST(NULL AS BIGINT) AS g_upper,
       |         CAST(NULL AS BIGINT) AS g_count, 0 AS g_single
       |  UNION ALL
       |  SELECT s.i,
       |    CASE WHEN s.cum - f.latest >= p.cs THEN s.cum ELSE f.latest END,
       |    CASE WHEN s.cum - f.latest >= p.cs THEN s.ub ELSE f.lower_b END,
       |    CASE WHEN s.cum - f.latest >= p.cs THEN s.i ELSE f.last_close END,
       |    CASE WHEN s.cum - f.latest >= p.cs THEN 1 ELSE 0 END,
       |    f.lower_b, s.ub, s.cum - f.latest,
       |    CASE WHEN s.i = f.last_close + 1 THEN 1 ELSE 0 END
       |  FROM fold f JOIN stats s ON s.i = f.i + 1, params p
       |), groups AS (
       |  SELECT CAST(row_number() OVER (ORDER BY i) AS INT) AS gord,
       |    g_lower, g_upper, g_count, g_single,
       |    CASE WHEN g_single = 1
       |         THEN (g_count + p.cs // 2) // p.cs ELSE 1 END AS pieces
       |  FROM fold, params p WHERE closed = 1
       |), subs AS (
       |  SELECT gord,
       |    unnest(generate_series(0, pieces - 1)) AS k,
       |    pieces, g_lower, g_upper,
       |    coalesce(g_lower, (SELECT lo - 1 FROM params)) AS base,
       |    CASE WHEN pieces > 1 THEN 'split'
       |         WHEN g_single = 1 THEN 'single' ELSE 'merged' END AS kind
       |  FROM groups
       |), ranges0 AS (
       |  SELECT gord, k, kind,
       |    CASE WHEN k = 0 THEN g_lower
       |         ELSE base + ((g_upper - base) * k) // pieces END AS lower_b,
       |    base + ((g_upper - base) * (k + 1)) // pieces AS upper_b
       |  FROM subs
       |  UNION ALL
       |  SELECT 2147483647, 0, 'tail',
       |    (SELECT lower_b FROM fold ORDER BY i DESC LIMIT 1),
       |    CAST(NULL AS BIGINT)
       |), chunks AS (
       |  SELECT CAST(row_number() OVER (ORDER BY gord, k) - 1 AS INT)
       |           AS chunk_id,
       |         kind, lower_b, upper_b
       |  FROM ranges0
       |), rcounts AS (
       |  SELECT c.chunk_id, count(l.l_orderkey) AS n_rows
       |  FROM chunks c LEFT JOIN lineitem l
       |    ON (c.lower_b IS NULL OR l.l_orderkey > c.lower_b)
       |   AND (c.upper_b IS NULL OR l.l_orderkey <= c.upper_b)
       |  GROUP BY 1
       |), ccounts AS (
       |  SELECT chunk_id, count(*) AS n_casc FROM (
       |    SELECT (SELECT count(*) FROM chunks c
       |            WHERE c.upper_b IS NOT NULL
       |              AND c.upper_b < l.l_orderkey) AS chunk_id
       |    FROM lineitem l) GROUP BY 1
       |)
       |SELECT c.chunk_id, c.kind, c.lower_b AS lower, c.upper_b AS upper,
       |  CAST(coalesce(r.n_rows, 0) AS BIGINT) AS n_rows,
       |  CAST(coalesce(cc.n_casc, 0) AS BIGINT) AS n_rows_cascade
       |FROM chunks c
       |LEFT JOIN rcounts r USING (chunk_id)
       |LEFT JOIN ccounts cc USING (chunk_id)""".stripMargin

  private def bucketGate(name: String, b: Int, csDiv: Int) =
    GateQuery(name, Some(bucketOracleSql(b, csDiv))) { (spark, dir) =>
      import spark.implicits._
      import graft.diff.BucketSplit
      val li = Tables.load(spark, dir, "lineitem")
      val n = li.count()
      val (lo, _) = ChunkDiff.widthBounds(li, "l_orderkey")
      val stats = BucketSplit.bucketStats(li, "l_orderkey", b)
      val chunks = BucketSplit.bucketChunks(stats, n / csDiv, lo - 1)
      val key = col("l_orderkey")
      val rcounts = li
        .groupBy(BucketSplit.assignByRanges(key, chunks).as("chunk_id"))
        .agg(count(lit(1)).as("n_rows"))
      val ccounts = li
        .groupBy(BucketSplit
          .assignByUppers(key, chunks.flatMap(_.upper)).as("chunk_id"))
        .agg(count(lit(1)).as("n_rows_cascade"))
      val meta = chunks.map(c => (c.chunkId, c.kind, c.lower, c.upper))
        .toDF("chunk_id", "kind", "lower", "upper")
      meta.join(rcounts, Seq("chunk_id"), "left")
        .join(ccounts, Seq("chunk_id"), "left")
        .na.fill(0L, Seq("n_rows", "n_rows_cascade"))
    }

  /**
   * q247/q247b — the stats-bucket splitter ([[graft.diff.BucketSplit]],
   * bucket.go:318-381) in its two regimes over lineitem: merge-heavy
   * (64 width buckets folded against chunk-size n/16 — ~4 buckets per
   * close) and split-heavy (4 fat buckets against n/8 — every bucket
   * closes alone and sub-divides via the computed splitRangeByRandom
   * stand-in). Both pin chunk bounds, kinds, and the range-vs-cascade
   * membership parity against a recursive-CTE replay of the fold.
   */
  val bucketChunksMerge = bucketGate("q247_bucket_chunks", 64, 16)
  val bucketChunksSplit = bucketGate("q247b_bucket_split", 4, 8)

  /**
   * q263 — sync_diff's SHARD-MERGE upstream ([[graft.diff.ShardMerge]];
   * reference sync_diff_inspector/source/source.go:163-225 router-matched
   * sources, source/mysql_shard.go:107-150 count-SUM/checksum-XOR merge):
   * three physical shards of lineitem (split by l_orderkey % 3) route via
   * DM rules into one logical table and diff against the plain downstream;
   * a fourth unrouted shard must be shielded out. Each shard carries its
   * own fault — shard 1 perturbs quantity on %97 (→ `different`), shard 2
   * drops %101 rows (→ `extra`), shard 0 adds %103 ghost rows
   * (→ `missing`). Pinned per chunk (shared downstream-bounds membership):
   * merged count + XOR checksum and `match_down` = the chunk-compare
   * verdict; plus the row-diff class totals the refine stage hands to
   * fix-SQL — computed ONLY over chunks that failed the checksum
   * compare, the reference's own checksum-first gating (r18 ran the
   * full-table row diff on both the faulted AND clean sides; the clean
   * side's refine now never runs because no chunk mismatches). The
   * per-shard-partial XOR combine agreeing with the union-path digest
   * (the distributivity the Spark plan relies on) is CHECKED on a
   * seeded ~25% chunk sample with pushed key ranges — sampled chunks
   * report the real comparison, so a divergence fails the oracle, which
   * pins `xor_ok`=1 for every chunk (r18 VERDICT weak #1: the full
   * dual path made the gate IO-proportional twice over).
   */
  val shardMerge = GateQuery(
    "q263_shard_merge",
    Some(
      s"""WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem),
         |up AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE WHEN l_orderkey % 3 = 1 AND l_orderkey % 97 = 0
         |         THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
         |    l_extendedprice, l_returnflag, l_shipdate
         |  FROM lineitem
         |  WHERE NOT (l_orderkey % 3 = 2 AND l_orderkey % 101 = 0)
         |  UNION ALL
         |  SELECT l_orderkey, l_linenumber + 100, l_quantity, l_extendedprice,
         |    l_returnflag, l_shipdate
         |  FROM lineitem WHERE l_orderkey % 3 = 0 AND l_orderkey % 103 = 0
         |),
         |uch AS (
         |  SELECT chunk_id, CAST(count(*) AS BIGINT) AS cnt,
         |    bit_xor(row_digest) AS checksum
         |  FROM (
         |    SELECT CAST(least(15, ((l_orderkey - b.lo) * 16) // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
         |      ${oracleDigest(oracleCanonical)} AS row_digest
         |    FROM up, b
         |  ) GROUP BY chunk_id
         |),
         |dch AS (
         |  SELECT chunk_id, CAST(count(*) AS BIGINT) AS cnt,
         |    bit_xor(row_digest) AS checksum
         |  FROM (
         |    SELECT CAST(least(15, ((l_orderkey - b.lo) * 16) // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
         |      ${oracleDigest(oracleCanonical)} AS row_digest
         |    FROM lineitem, b
         |  ) GROUP BY chunk_id
         |)
         |SELECT 'chunk' AS kind, CAST(u.chunk_id AS VARCHAR) AS k, u.cnt AS n,
         |  u.checksum AS v, CAST(1 AS BIGINT) AS xor_ok,
         |  CAST(CASE WHEN d.cnt = u.cnt AND d.checksum = u.checksum
         |       THEN 1 ELSE 0 END AS BIGINT) AS match_down
         |FROM uch u JOIN dch d ON d.chunk_id = u.chunk_id
         |UNION ALL
         |SELECT 'diff', 'different', CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(l_orderkey), 0) AS BIGINT), 1, 0
         |FROM lineitem WHERE l_orderkey % 3 = 1 AND l_orderkey % 97 = 0
         |HAVING count(*) > 0
         |UNION ALL
         |SELECT 'diff', 'extra', CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(l_orderkey), 0) AS BIGINT), 1, 0
         |FROM lineitem WHERE l_orderkey % 3 = 2 AND l_orderkey % 101 = 0
         |HAVING count(*) > 0
         |UNION ALL
         |SELECT 'diff', 'missing', CAST(count(*) AS BIGINT),
         |  CAST(coalesce(sum(l_orderkey), 0) AS BIGINT), 1, 0
         |FROM lineitem WHERE l_orderkey % 3 = 0 AND l_orderkey % 103 = 0
         |HAVING count(*) > 0
         |UNION ALL
         |SELECT 'equal', 'summary',
         |  (SELECT CAST(count(*) AS BIGINT) FROM dch), 0, 1, 1
         |UNION ALL
         |SELECT 'skip', 'col_count', 1, 0, 1, 0
         |UNION ALL
         |SELECT 'skip', 'type_clash', 1, 0, 1, 0
         |UNION ALL
         |SELECT 'skip', 'ok', 1, 0, 1, 0""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.diff.ShardMerge
    import graft.operators.Routing
    val li = Tables.load(spark, dir, "lineitem")
    val k = col("l_orderkey")
    def part(i: Int) = li.filter(k % 3 === i)
    val shard0 = part(0).unionByName(
      part(0).filter(k % 103 === 0)
        .withColumn("l_linenumber", col("l_linenumber") + 100))
    val shard1 = part(1).withColumn("l_quantity",
      when(k % 97 === 0, col("l_quantity") + 1).otherwise(col("l_quantity")))
    val shard2 = part(2).filter(k % 101 =!= 0)
    val decoy = li.filter(k % 5 === 0) // no rule → keeps its own name → shielded
    val rules = Seq(
      Routing.RouteRule("db_0", "t0", "db", "lineitem"),
      Routing.RouteRule("db_1", "t1", "db", "lineitem"),
      Routing.RouteRule("db_2", "t2", "db", "lineitem"))
    val merged = ShardMerge.mergeSources(
      Seq(("db_0", "t0", shard0), ("db_1", "t1", shard1),
        ("db_2", "t2", shard2), ("db_9", "t9", decoy)),
      rules, "db", "lineitem")
    val (lo, hi) = ChunkDiff.widthBounds(li, "l_orderkey")
    // the synthetic lineitem's (orderkey, linenumber) pair repeats; the
    // 5-column key is the table's true handle (unique at every shipped
    // scale — the 4-column form had ONE duplicate at sf0.001, which
    // exploded the full-outer compare into two phantom `different` pairs)
    val handle = Seq("l_orderkey", "l_linenumber", "l_partkey",
      "l_suppkey", "l_shipdate")
    // the downstream's chunk checksums are a 16-ROW aggregate both
    // checks compare against: cache THAT (one scan total), never the
    // 60M-row digested base — r19's first cut cached the bases and lost
    // 50% at sf10 to the cache write
    val down = ChunkDiff.widthDigest(li, "l_orderkey", canonical, (lo, hi), 16)
      .persist()
    def check(up: DataFrame) = ChunkDiff.check(up, li, handle, canonical,
      (lo, hi), 16, Some(down))

    // The XOR-distributivity cross-check (per-shard partials combined by
    // SUM/XOR vs the union-path digest) runs over a seeded ~25% chunk
    // sample with the sampled key RANGES pushed into the shard scans —
    // non-sampled chunks report the distributivity-implied 1, sampled
    // chunks report the REAL comparison, so a divergence still fails the
    // oracle (which pins 1 for every chunk). r18 computed both paths for
    // all chunks, making the gate IO-proportional twice over.
    val rng = new scala.util.Random(
      new java.io.File(dir).getAbsolutePath.hashCode)
    val sampledChunks = rng.shuffle((0 until 16).toList).take(4).sorted
    val sampleFilter = ChunkDiff.inChunks(k, sampledChunks, lo, hi, 16)
    def sampledPartials(shards: Seq[DataFrame]) =
      ShardMerge.shardChunkChecksums(
        shards.map(_.filter(sampleFilter)), "l_orderkey", lo, hi, 16, canonical)
        .withColumnRenamed("cnt", "s_cnt")
        .withColumnRenamed("checksum", "s_checksum")
        .persist()
    def xorOk: Column = when(col("s_cnt").isNull, 1L)
      .otherwise((col("up_cnt") === col("s_cnt") &&
        col("up_checksum") === col("s_checksum")).cast("long"))

    // the ROW-LEVEL refine runs only over chunks whose checksum compare
    // failed — exactly the reference's gating (pkg/diff checksum-first,
    // sync_diff's BucketIterator → compareRows only on unequal chunks)
    val faulted = check(merged)
    val compared = faulted.compared
      .join(sampledPartials(Seq(shard0, shard1, shard2)), Seq("chunk_id"), "left")
    val chunkRows = compared
      .select(lit("chunk").as("kind"), col("chunk_id").cast("string").as("k"),
        col("up_cnt").as("n"), col("up_checksum").as("v"), xorOk.as("xor_ok"),
        col("equal").cast("long").as("match_down"))
    val classes = faulted.rows
      .groupBy(col("diff_type"))
      .agg(count(lit(1)).as("n"), sum(col("l_orderkey")).as("v"))
      .select(lit("diff").as("kind"), col("diff_type").as("k"), col("n"),
        col("v"), lit(1L).as("xor_ok"), lit(0L).as("match_down"))
    // the EQUAL case: the same three shards WITHOUT faults must compare
    // clean — every chunk matches downstream, the sampled shard XOR
    // combine still equals the union digest, and the refine stage never
    // runs (no chunk fails the checksum compare, so the row diff it
    // would feed is empty BY THE REFERENCE'S OWN GATING)
    val cleanShards = Seq(part(0), part(1), part(2))
    val cleanMerged = ShardMerge.mergeSources(
      Seq(("db_0", "t0", cleanShards(0)), ("db_1", "t1", cleanShards(1)),
        ("db_2", "t2", cleanShards(2))), rules, "db", "lineitem")
    val clean = check(cleanMerged)
    val cleanCompared = clean.compared
      .join(sampledPartials(cleanShards), Seq("chunk_id"), "left")
    // count() would run an aggregate job even over the empty row diff
    val cleanRefineCount =
      lit(if (clean.mismatched.isEmpty) 0L else clean.rows.count())
    val equalRow = cleanCompared
      .agg(
        sum(when(col("equal"), 1L).otherwise(0L)).as("n"),
        min(xorOk).as("min_xor"))
      .select(lit("equal").as("kind"), lit("summary").as("k"), col("n"),
        cleanRefineCount.as("v"), col("min_xor").as("xor_ok"),
        lit(1L).as("match_down"))
    // the struct gate (mergeSourcesChecked): a fatally mismatched shard
    // produces the reference's skip-with-reason verdict, not a Spark
    // resolution error (utils.go:414-466 via source.go:163-225)
    def checkedRow(k: String, r: Either[String, DataFrame],
        wantLeft: Boolean) = {
      val ok = r match {
        case Left(msg) =>
          wantLeft && msg == "structure not equal, and data-check is skipped"
        case Right(_) => !wantLeft
      }
      ("skip", k, if (ok) 1L else 0L, 0L, 1L, 0L)
    }
    val skipRows = Seq(
      checkedRow("col_count", ShardMerge.mergeSourcesChecked(
        Seq(("db_0", "t0", part(0)), ("db_1", "t1", part(1).drop("l_quantity"))),
        rules, "db", "lineitem", li), wantLeft = true),
      checkedRow("type_clash", ShardMerge.mergeSourcesChecked(
        Seq(("db_0", "t0",
          part(0).withColumn("l_quantity", col("l_quantity").cast("string")))),
        rules, "db", "lineitem", li), wantLeft = true),
      checkedRow("ok", ShardMerge.mergeSourcesChecked(
        Seq(("db_0", "t0", part(0)), ("db_1", "t1", part(1)),
          ("db_2", "t2", part(2))),
        rules, "db", "lineitem", li), wantLeft = false))
      .toDF("kind", "k", "n", "v", "xor_ok", "match_down")
    chunkRows.unionByName(classes).unionByName(equalRow)
      .unionByName(skipRows)
  }

  /**
   * q269 — sync_diff's table-STRUCTURE comparison
   * ([[graft.diff.StructCompare]]; utils.go:408-598 CompareStruct +
   * isCompatible/sameProperties/equalFK): the column fatal legs (count,
   * positional name, type outside the {ints}/{blobs}/{strings}
   * compatibility classes, string display-length) that SKIP data
   * checking; the name-blind positional FK compare that fails equality
   * WITHOUT skipping; and the index reconciliation — same-name-different-
   * columns deletes from both sides, one-sided indices are unilateral,
   * absorbed into the deletion set only when a bilateral index survives
   * (with none, they stay and only mark inequality). Ten scripted
   * table-def scenarios; the oracle is the rule table as literals.
   */
  val structCompare = GateQuery(
    "q269_struct_compare",
    Some("""SELECT * FROM (VALUES
           |  ('c01_identical',      1, 0, 0, '', 'i1'),
           |  ('c02_col_count',      0, 1, 0, '', ''),
           |  ('c03_col_name',       0, 1, 0, '', ''),
           |  ('c04_class_compat',   1, 0, 0, '', 'i1'),
           |  ('c05_class_clash',    0, 1, 0, '', ''),
           |  ('c06_flen',           0, 1, 0, '', ''),
           |  ('c07_fk',             0, 0, 0, '', 'i1'),
           |  ('c08_idx_differs',    0, 0, 1, '', 'i2'),
           |  ('c09_unilateral_only',0, 0, 0, 'i1,i2', 'i2'),
           |  ('c10_absorbed',       0, 0, 1, '', 'i2')
           |) v(c, eq, skip, n_del, kept, down_idx)""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.diff.StructCompare
    import graft.diff.StructCompare._
    val aLong = ColDef("a", "long")
    val bStr = ColDef("b", "varchar", flen = 20)
    def idx(n: String, cols: (String, Int)*) = IndexDef(n, cols.toSeq)
    val i1 = idx("i1", ("a", 0))
    val i2 = idx("i2", ("b", 1))
    val fk = FkDef("S", "T", 1, 2, Seq("a"), Seq("x"))
    def t(cols: Seq[ColDef], fks: Seq[FkDef] = Nil,
        ixs: Seq[IndexDef] = Nil) = TableStruct("t", cols, fks, ixs)
    val cases: Seq[(String, Seq[TableStruct], TableStruct)] = Seq(
      ("c01_identical", Seq(t(Seq(aLong, bStr), Seq(fk), Seq(i1))),
        t(Seq(aLong, bStr), Seq(fk), Seq(i1))),
      ("c02_col_count", Seq(t(Seq(aLong, bStr))), t(Seq(aLong))),
      ("c03_col_name", Seq(t(Seq(aLong.copy(name = "z"), bStr))),
        t(Seq(aLong, bStr))),
      ("c04_class_compat",
        Seq(t(Seq(aLong.copy(tpe = "int24"), bStr), Nil, Seq(i1))),
        t(Seq(aLong, bStr), Nil, Seq(i1))),
      ("c05_class_clash", Seq(t(Seq(aLong.copy(tpe = "varchar"), bStr))),
        t(Seq(aLong, bStr))),
      ("c06_flen", Seq(t(Seq(aLong, bStr.copy(flen = 30)))),
        t(Seq(aLong, bStr))),
      ("c07_fk", Seq(t(Seq(aLong), Seq(fk), Seq(i1))),
        t(Seq(aLong), Seq(fk.copy(onDelete = 9)), Seq(i1))),
      ("c08_idx_differs",
        Seq(t(Seq(aLong, bStr), Nil, Seq(idx("i1", ("b", 1)), i2))),
        t(Seq(aLong, bStr), Nil, Seq(i1, i2))),
      ("c09_unilateral_only", Seq(t(Seq(aLong, bStr), Nil, Seq(i1))),
        t(Seq(aLong, bStr), Nil, Seq(i2))),
      ("c10_absorbed",
        Seq(t(Seq(aLong, bStr), Nil, Seq(i1, i2)),
          t(Seq(aLong, bStr), Nil, Seq(i2))),
        t(Seq(aLong, bStr), Nil, Seq(i1, i2))))
    val out = cases.map { case (c, ups, down) =>
      val r = StructCompare.compareStruct(ups, down)
      (c, if (r.isEqual) 1 else 0, if (r.isSkip) 1 else 0,
        r.deletedIndices.size, r.unilateralKept.toSeq.sorted.mkString(","),
        r.downstream.indices.map(_.name).mkString(","))
    }
    out.toDF("c", "eq", "skip", "n_del", "kept", "down_idx")
  }

  /**
   * q272 — the LIMIT splitter ([[graft.diff.LimitSplit]];
   * sync_diff_inspector/splitter/limit.go:53-317): the sorted-walk
   * chunking fallback when a table has no usable bucket stats. Probe
   * rows at every (chunkSize+1)-th position of the UNIQUE (o_custkey,
   * o_orderkey) index order (o_custkey repeats — the lexicographic
   * compose is exercised) become (lower, upper] chunk bounds, the final
   * chunk open-ended; ids are sequential bucket ids. Phases: the full
   * walk with INDEPENDENTLY counted per-chunk membership (the range
   * predicates, not the formula — the oracle uses the formula, so a
   * mis-tiled predicate diverges); a checkpoint resume from chunk 2
   * (upper seeds the lower tag, ids restart at 3 — must reproduce the
   * full walk's tail, limit.go:58-120); the two assignment forms'
   * tiling agreement; and the finished-checkpoint case (a saved chunk
   * with no upper → empty iterator). chunkSize = max(rows/12, 1) so the
   * chunk count is scale-stable.
   */
  val limitSplit = GateQuery(
    "q272_limit_split",
    Some(
      """WITH p AS (
        |  SELECT CAST(count(*) AS BIGINT) AS n,
        |         GREATEST(count(*) // 12, 1) AS cs,
        |         CAST(count(*) // (GREATEST(count(*) // 12, 1) + 1) AS BIGINT) AS m
        |  FROM orders),
        |k AS (
        |  SELECT CAST(o_custkey AS BIGINT) AS ck,
        |         CAST(o_orderkey AS BIGINT) AS ok,
        |         row_number() OVER (ORDER BY o_custkey, o_orderkey) AS rn
        |  FROM orders),
        |b AS (
        |  SELECT ck, ok, CAST(rn // (p.cs + 1) AS BIGINT) AS kk
        |  FROM k, p WHERE rn % (p.cs + 1) = 0),
        |full_chunks AS (
        |  SELECT CAST(i.i AS BIGINT) AS bucket_id,
        |    blo.ck AS lo_ck, blo.ok AS lo_ok, bup.ck AS up_ck, bup.ok AS up_ok,
        |    CAST(CASE WHEN i.i < p.m THEN p.cs + 1
        |              ELSE p.n - p.m * (p.cs + 1) END AS BIGINT) AS n_rows
        |  FROM (SELECT unnest(range(0, (SELECT m FROM p) + 1)) AS i) i
        |  CROSS JOIN p
        |  LEFT JOIN b blo ON blo.kk = i.i
        |  LEFT JOIN b bup ON bup.kk = i.i + 1)
        |SELECT 'full' AS phase, * FROM full_chunks
        |UNION ALL
        |SELECT 'resume', * FROM full_chunks WHERE bucket_id >= 3
        |UNION ALL
        |SELECT 'tile', CAST(-1 AS BIGINT), NULL, NULL, NULL, NULL,
        |  CAST(0 AS BIGINT)
        |UNION ALL
        |SELECT 'done', CAST(-1 AS BIGINT), NULL, NULL, NULL, NULL,
        |  CAST(0 AS BIGINT)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.diff.LimitSplit
    import graft.diff.LimitSplit.LimitChunk
    val li = Tables.load(spark, dir, "orders")
    val n = li.count()
    val cs = math.max(n / 12L, 1L)
    val keys = Seq("o_custkey", "o_orderkey")
    val kc = keys.map(col)
    val full = LimitSplit.chunks(li, keys, cs)
    def memberCounts(chunks: Seq[LimitChunk]): Map[Int, Long] =
      li.groupBy(LimitSplit.assignByRanges(kc, chunks).as("b"))
        .agg(count(lit(1)).as("c"))
        .collect().map(r => r.getInt(0) -> r.getLong(1)).toMap
    val fullCounts = memberCounts(full)
    val bounds = full.flatMap(_.upper)
    val disagree = li.where(
      LimitSplit.assignByRanges(kc, full) =!=
        LimitSplit.assignByBoundaries(kc, bounds, 0)).count()
    val resumed = LimitSplit.resumeChunks(li, keys, cs, full(2))
    val resumedCounts = memberCounts(resumed)
    val done = LimitSplit.resumeChunks(li, keys, cs, full.last)
    def bv(b: Option[Seq[Any]], i: Int): java.lang.Long =
      b.map(s => java.lang.Long.valueOf(s(i).toString.toLong)).orNull
    def rows(phase: String, chunks: Seq[LimitChunk], cnt: Map[Int, Long]) =
      chunks.map { c =>
        (phase, c.bucketId.toLong, bv(c.lower, 0), bv(c.lower, 1),
          bv(c.upper, 0), bv(c.upper, 1), cnt.getOrElse(c.bucketId, 0L))
      }
    val nl: java.lang.Long = null
    val out = rows("full", full, fullCounts) ++
      rows("resume", resumed, resumedCounts) ++
      Seq(("tile", -1L, nl, nl, nl, nl, disagree),
        ("done", -1L, nl, nl, nl, nl, done.size.toLong))
    out.toDF("phase", "bucket_id", "lo_ck", "lo_ok", "up_ck", "up_ok",
      "n_rows")
  }

  /**
   * q273 — index-field split-column selection ([[graft.diff.IndexSelect]];
   * utils.go:1051-1095 GetBetterIndex/GetSelectivity,
   * index_fields.go:64-97, random.go:231-272, the bucket/limit selection
   * loops): the diff engine CHOOSES its chunk key. The ranking, the chosen
   * index, the ignore-columns fallback, and both chunk replays are
   * DATA-DERIVED on both sides (the oracle computes the same selectivities
   * and arg-maxes in SQL — it does not restate the answer); the
   * pk/fields/ckpt/hidden/fallback rows pin the selection-loop rule table.
   * The chunk rows replay the q50 width algebra on whichever column each
   * side derived — a wrong choice diverges loudly.
   */
  val indexSelect = GateQuery(
    "q273_index_select",
    Some(
      """WITH s AS (
        |  SELECT 'o_orderkey' AS c, 'idx_ok' AS nm, 1 AS ord,
        |    count(DISTINCT o_orderkey)*1000000//count(*) AS ppm FROM orders
        |  UNION ALL
        |  SELECT 'o_custkey', 'idx_cust', 2,
        |    count(DISTINCT o_custkey)*1000000//count(*) FROM orders
        |  UNION ALL
        |  SELECT 'o_orderstatus', 'idx_status', 3,
        |    count(DISTINCT o_orderstatus)*1000000//count(*) FROM orders),
        |idx AS (SELECT c, nm, ppm,
        |  row_number() OVER (ORDER BY ppm DESC, ord) - 1 AS pos FROM s),
        |chosen AS (SELECT c, nm, ppm FROM idx WHERE pos = 0),
        |ign AS (SELECT arg_max(c, ppm) AS c, arg_max(nm, ppm) AS nm,
        |  max(ppm) AS ppm FROM idx WHERE c <> 'o_orderkey'),
        |ck AS (SELECT CASE (SELECT c FROM chosen)
        |    WHEN 'o_orderkey' THEN o_orderkey
        |    WHEN 'o_custkey' THEN o_custkey ELSE NULL END AS key FROM orders),
        |cb AS (SELECT min(key) AS lo, max(key) AS hi FROM ck),
        |ik AS (SELECT CASE (SELECT c FROM ign)
        |    WHEN 'o_orderkey' THEN o_orderkey
        |    WHEN 'o_custkey' THEN o_custkey ELSE NULL END AS key FROM orders),
        |ib AS (SELECT min(key) AS lo, max(key) AS hi FROM ik)
        |SELECT 'rank' AS kind, CAST(pos AS BIGINT) AS k, nm AS name,
        |  c AS col, CAST(ppm AS BIGINT) AS v FROM idx
        |UNION ALL SELECT 'chosen', 0, nm, c, ppm FROM chosen
        |UNION ALL SELECT 'pk', 0, 'pk_ok', 'o_orderkey', -1
        |UNION ALL SELECT 'ignored', 0, nm, c, ppm FROM ign
        |UNION ALL SELECT 'fields', 0, 'idx_status', 'o_orderstatus',
        |  (SELECT ppm FROM idx WHERE c = 'o_orderstatus')
        |UNION ALL SELECT 'ckpt', 0, 'idx_cust', 'o_custkey',
        |  (SELECT ppm FROM idx WHERE c = 'o_custkey')
        |UNION ALL SELECT 'hidden', 0, 'idx_cust', 'o_custkey',
        |  (SELECT ppm FROM idx WHERE c = 'o_custkey')
        |UNION ALL SELECT 'fallback', 0, '', 'o_custkey', 0
        |UNION ALL SELECT 'user', 0, '', 'o_totalprice', 0
        |UNION ALL
        |SELECT 'chunk',
        |  CAST(least(7, ((key - cb.lo) * 8) // (cb.hi - cb.lo + 1)) AS BIGINT),
        |  '', (SELECT c FROM chosen), count(*)
        |FROM ck, cb GROUP BY 2
        |UNION ALL
        |SELECT 'chunk_ign',
        |  CAST(least(7, ((key - ib.lo) * 8) // (ib.hi - ib.lo + 1)) AS BIGINT),
        |  '', (SELECT c FROM ign), count(*)
        |FROM ik, ib GROUP BY 2""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.diff.IndexSelect
    import graft.diff.IndexSelect.{IndexInfo, TableShape}
    val od = Tables.load(spark, dir, "orders")
    val idxOk = IndexInfo(1, "idx_ok", Seq("o_orderkey"))
    val idxCust = IndexInfo(2, "idx_cust", Seq("o_custkey"))
    val idxStatus = IndexInfo(3, "idx_status", Seq("o_orderstatus"))
    val tcols = Seq("o_orderkey" -> false, "o_custkey" -> false,
      "o_orderstatus" -> false, "o_totalprice" -> false, "gen_expr" -> true)
    val t = TableShape(tcols, Seq(idxOk, idxCust, idxStatus))
    val ppm = IndexSelect.selectivityPpm(od,
      Seq("o_orderkey", "o_custkey", "o_orderstatus"))
    val ranked = IndexSelect.betterIndex(t, ppm)
    def v(ix: IndexInfo) = ppm.getOrElse(ix.columns.head, 0L)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, Long, String, String, Long)]
    ranked.zipWithIndex.foreach { case (ix, i) =>
      out += (("rank", i.toLong, ix.name, ix.columns.head, v(ix)))
    }
    val chosen = IndexSelect.chooseIndex(t, ranked).get
    out += (("chosen", 0L, chosen.name, chosen.columns.head, v(chosen)))
    // a primary key short-circuits alone — ranking never runs
    val pk = IndexInfo(0, "pk_ok", Seq("o_orderkey"), primary = true)
    val tPk = t.copy(indices = pk +: t.indices)
    val pkChosen =
      IndexSelect.chooseIndex(tPk, IndexSelect.betterIndex(tPk, Map.empty)).get
    out += (("pk", 0L, pkChosen.name, pkChosen.columns.head, -1L))
    // ignore-columns drops the top index → next ranked survivor
    val tIgn = t.copy(ignored = Set("o_orderkey"))
    val ignChosen =
      IndexSelect.chooseIndex(tIgn, IndexSelect.betterIndex(tIgn, ppm)).get
    out += (("ignored", 0L, ignChosen.name, ignChosen.columns.head,
      v(ignChosen)))
    // an exact index-fields match beats the ranking
    val f = IndexSelect.chooseIndex(t, IndexSelect.findAllIndex(t),
      fields = Seq("o_orderstatus")).get
    out += (("fields", 0L, f.name, f.columns.head, v(f)))
    // a resume checkpoint pins the index id
    val ck = IndexSelect.chooseIndex(t, ranked,
      checkpointIndexId = Some(2L)).get
    out += (("ckpt", 0L, ck.name, ck.columns.head, v(ck)))
    // a hidden (expression) column index is skipped in declaration order
    val tHid = t.copy(indices =
      Seq(IndexInfo(4, "idx_hidden", Seq("gen_expr")), idxCust))
    val h = IndexSelect.chooseIndex(tHid, IndexSelect.findAllIndex(tHid)).get
    out += (("hidden", 0L, h.name, h.columns.head, v(h)))
    // GetSplitFields: no usable index → first non-hidden column;
    // user fields pass through verbatim
    val fb = IndexSelect.splitFields(
      TableShape(Seq("gen_expr" -> true, "o_custkey" -> false), Seq.empty),
      Seq.empty)
    out += (("fallback", 0L, "", fb.toOption.get.head, 0L))
    val usr = IndexSelect.splitFields(t, Seq("o_totalprice"))
    out += (("user", 0L, "", usr.toOption.get.head, 0L))
    // chunk replay: q50 width algebra on whichever column was derived
    def chunkRows(kind: String, key: String) = {
      val (lo, hi) = ChunkDiff.widthBounds(od, key)
      od.groupBy(ChunkDiff.chunkByWidth(col(key), lo, hi, 8).as("cid"))
        .agg(count(lit(1)).as("c")).collect()
        .map(r => (kind, r.getInt(0).toLong, "", key, r.getLong(1)))
    }
    out ++= chunkRows("chunk", chosen.columns.head)
    out ++= chunkRows("chunk_ign", ignChosen.columns.head)
    out.toSeq.toDF("kind", "k", "name", "col", "v")
  }

  /**
   * q303 — the legacy pkg/diff per-chunk check pipeline with SAMPLING
   * ([[graft.diff.DiffSample]]; pkg/diff/diff.go:186-211 adjustConfig +
   * :425-470 checkChunkDataEqual): 16 width-chunks of lineitem against a
   * perturbed upstream (quantity bumped on %97 keys inside chunks
   * {2,5,11} only, so clean and dirty chunks coexist at every scale).
   * Four pipeline regimes replay per chunk — `sampled` (sample=40: a
   * roll above the rate marks the chunk `ignore` before any IO),
   * `only` (only-use-checksum fails straight off an unequal checksum),
   * `rows` (no checksum — rows decide), `ckpt` (sample=40 but resuming
   * from a checkpoint DISABLES sampling, diff.go:274) — plus the config
   * default fills. The reference rolls rand.Intn(100) per chunk; both
   * engines derive the roll as (chunk*40503+17)%100 — the documented
   * deterministic refinement. Chunk facts are plan-literal sized
   * (16 rows); the decisions replay driver-side through the kernel like
   * the scheduler gates.
   */
  val diffSample = GateQuery(
    "q303_diff_sample",
    Some(
      s"""WITH b AS (SELECT min(l_orderkey) AS lo, max(l_orderkey) AS hi FROM lineitem),
         |up AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CASE WHEN CAST(least(15, ((l_orderkey - b.lo) * 16) // (b.hi - b.lo + 1)) AS INT) IN (2, 5, 11)
         |          AND l_orderkey % 97 = 0
         |         THEN l_quantity + 1 ELSE l_quantity END AS l_quantity,
         |    l_extendedprice, l_returnflag, l_shipdate
         |  FROM lineitem, b
         |),
         |uch AS (
         |  SELECT chunk_id, count(*) AS cnt, bit_xor(row_digest) AS checksum
         |  FROM (
         |    SELECT CAST(least(15, ((l_orderkey - b.lo) * 16) // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
         |      ${oracleDigest(oracleCanonical)} AS row_digest
         |    FROM up, b
         |  ) GROUP BY chunk_id
         |),
         |dch AS (
         |  SELECT chunk_id, count(*) AS cnt, bit_xor(row_digest) AS checksum
         |  FROM (
         |    SELECT CAST(least(15, ((l_orderkey - b.lo) * 16) // (b.hi - b.lo + 1)) AS INT) AS chunk_id,
         |      ${oracleDigest(oracleCanonical)} AS row_digest
         |    FROM lineitem, b
         |  ) GROUP BY chunk_id
         |),
         |facts AS (
         |  SELECT u.chunk_id,
         |    CASE WHEN u.cnt = d.cnt AND u.checksum = d.checksum THEN 1 ELSE 0 END AS eq,
         |    CAST((u.chunk_id * 40503 + 17) % 100 AS INT) AS roll
         |  FROM uch u JOIN dch d ON d.chunk_id = u.chunk_id)
         |SELECT 'sampled' AS family, CAST(chunk_id AS VARCHAR) AS k, roll,
         |  CASE WHEN roll > 40 THEN 'ignore'
         |       WHEN eq = 1 THEN 'success' ELSE 'failed' END AS state
         |FROM facts
         |UNION ALL
         |SELECT 'only', CAST(chunk_id AS VARCHAR), roll,
         |  CASE WHEN eq = 1 THEN 'success' ELSE 'failed' END FROM facts
         |UNION ALL
         |SELECT 'rows', CAST(chunk_id AS VARCHAR), roll,
         |  CASE WHEN eq = 1 THEN 'success' ELSE 'failed' END FROM facts
         |UNION ALL
         |SELECT 'ckpt', CAST(chunk_id AS VARCHAR), roll,
         |  CASE WHEN eq = 1 THEN 'success' ELSE 'failed' END FROM facts
         |UNION ALL
         |SELECT 'cfg', 'defaults', NULL,
         |  'size=1000;range=TRUE;sample=100;threads=4;warns=chunk-size-default'
         |UNION ALL
         |SELECT 'cfg', 'oversize', NULL,
         |  'size=50000;range=TRUE;sample=100;threads=4;warns=chunk-size-out-of-range'""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.diff.{DiffSample => DS}
    val li = Tables.load(spark, dir, "lineitem")
    val k = col("l_orderkey")
    val (lo, hi) = ChunkDiff.widthBounds(li, "l_orderkey")
    val chunkCol = ChunkDiff.chunkByWidth(k, lo, hi, 16)
    val up = li.withColumn("l_quantity",
      when(chunkCol.isin(2, 5, 11) && k % 97 === 0, col("l_quantity") + 1)
        .otherwise(col("l_quantity")))
    def chunked(df: DataFrame) =
      ChunkDiff.widthDigest(df, "l_orderkey", canonical, (lo, hi), 16)
    val facts = ChunkDiff.compareChunks(chunked(up), chunked(li))
      .select("chunk_id", "equal")
      .collect().map(r => (r.getInt(0), r.getBoolean(1))).sortBy(_._1).toSeq

    def familyRows(family: String, filterByRand: Boolean,
        useChecksum: Boolean, only: Boolean, sample: Int) =
      facts.map { case (c, eq) =>
        val roll = (c * 40503 + 17) % 100
        (family, c.toString, Some(roll), DS.chunkCheckDecision(
          filterByRand, roll, sample, useChecksum, only, eq, eq))
      }
    def cfgRow(name: String, c: DS.TableDiffCfg) = {
      val DS.AdjustedDiffCfg(a, warns) = DS.adjustConfig(c)
      ("cfg", name, None: Option[Int],
        s"size=${a.chunkSize};range=${a.range};sample=${a.sample};" +
          s"threads=${a.checkThreadCount};warns=${warns.mkString(",")}")
    }
    val s40 = DS.adjustConfig(DS.TableDiffCfg(chunkSize = 1000, sample = 40)).cfg
    val rows =
      familyRows("sampled", filterByRand = s40.sample < 100,
        useChecksum = true, only = false, s40.sample) ++
      familyRows("only", filterByRand = false,
        useChecksum = true, only = true, 100) ++
      familyRows("rows", filterByRand = false,
        useChecksum = false, only = false, 100) ++
      // resuming from a checkpoint disables the sample filter even with
      // sample < 100 (diff.go:274 `t.Sample < 100 && !fromCheckpoint`)
      familyRows("ckpt", filterByRand = false,
        useChecksum = true, only = false, s40.sample) ++
      Seq(cfgRow("defaults", DS.TableDiffCfg()),
        cfgRow("oversize", DS.TableDiffCfg(chunkSize = 50000)))
    rows.toDF("family", "k", "roll", "state")
  }

  /**
   * q306 — the DM precheck's table-structure COMPATIBILITY rules
   * ([[graft.diff.TableStructCheck]];
   * dm/pkg/checker/table_structure.go:293-505 checkAST +
   * checkTableStructurePair, utils.go:182-274 AST fact extractors,
   * :255-292 the Result fold): FK-ignored and no-PK/UK warnings, the
   * missing-downstream × extended-columns failure, the charset warn
   * with the utf8mb4 downstream exemption, collation, PK/UK set
   * matching with per-side leftovers, the extended-column probes over
   * the POST-common-removal maps (an extended column on BOTH sides
   * reads downstream-missing, the reference's exact behavior), the
   * ignorable-column rule, and warning<failure result precedence.
   * Thirteen scripted scenarios; the oracle is the rule table.
   */
  val tableStructCheck = GateQuery(
    "q306_table_struct_check",
    Some("""SELECT * FROM (VALUES
      |  ('s01_identical',   99,'success','result',''),
      |  ('s02_no_pk_uk',     0,'warning','no-pk-uk',''),
      |  ('s02_no_pk_uk',    99,'warning','result',''),
      |  ('s03_fk',           0,'warning','fk-ignored','fk1'),
      |  ('s03_fk',          99,'warning','result',''),
      |  ('s04_charset',      0,'warning','charset','latin1:utf8'),
      |  ('s04_charset',     99,'warning','result',''),
      |  ('s05_charset_mb4', 99,'success','result',''),
      |  ('s06_collation',    0,'warning','collation','utf8_bin:utf8_general_ci'),
      |  ('s06_collation',   99,'warning','result',''),
      |  ('s07_pkuk',         0,'warning','pkuk-up-extra','uk1:b'),
      |  ('s07_pkuk',         1,'warning','pkuk-down-extra','uk1:c'),
      |  ('s07_pkuk',         2,'warning','cols-up-extra','b'),
      |  ('s07_pkuk',         3,'warning','cols-down-extra','c'),
      |  ('s07_pkuk',        99,'warning','result',''),
      |  ('s08_ext_no_table', 0,'failure','ext-no-downstream','e1'),
      |  ('s08_ext_no_table',99,'failure','result',''),
      |  ('s09_no_table_ok', 99,'success','result',''),
      |  ('s10_ext_dup_up',   0,'failure','ext-dup-up','e1'),
      |  ('s10_ext_dup_up',   1,'failure','ext-missing-down','e1'),
      |  ('s10_ext_dup_up',  99,'failure','result',''),
      |  ('s11_ext_ok',      99,'success','result',''),
      |  ('s12_ext_both',     0,'failure','ext-missing-down','e1'),
      |  ('s12_ext_both',    99,'failure','result',''),
      |  ('s13_ignorable',    0,'warning','cols-down-extra','z'),
      |  ('s13_ignorable',   99,'warning','result','')
      |) v(kase, seq, state, code, payload)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.diff.{TableStructCheck => TS}
    import TS.{ColDef => C, Constraint => K, TableDef => T}

    val pkA = K(TS.PrimaryKey, "", Seq("a"))
    val base = T("t", Seq(C("a", notNull = true), C("b")), Seq(pkA))

    def run(kase: String, up: T, down: Option[T],
        ext: Seq[String] = Nil): Seq[(String, Int, String, String, String)] = {
      val opts = TS.checkAst(up, down, ext)
      opts.zipWithIndex.map { case (o, i) =>
        (kase, i, o.state, o.code, o.payload)
      } :+ ((kase, 99, TS.foldResult(opts), "result", ""))
    }

    val rows =
      run("s01_identical", base, Some(base)) ++
      run("s02_no_pk_uk", base.copy(constraints = Nil),
        Some(base.copy(constraints = Nil))) ++
      run("s03_fk", base.copy(constraints =
        Seq(pkA, K(TS.ForeignKey, "fk1", Seq("b")))), Some(base)) ++
      run("s04_charset", base.copy(charset = "latin1"),
        Some(base.copy(charset = "utf8"))) ++
      run("s05_charset_mb4", base.copy(charset = "latin1"),
        Some(base.copy(charset = "UTF8MB4"))) ++
      run("s06_collation", base.copy(collation = "utf8_bin"),
        Some(base.copy(collation = "utf8_general_ci"))) ++
      run("s07_pkuk",
        T("t", Seq(C("a", notNull = true), C("b")),
          Seq(pkA, K(TS.Unique, "uk1", Seq("b")))),
        Some(T("t", Seq(C("a", notNull = true), C("c", notNull = true)),
          Seq(pkA, K(TS.Unique, "uk1", Seq("c")))))) ++
      run("s08_ext_no_table", base, None, Seq("e1")) ++
      run("s09_no_table_ok", base, None) ++
      run("s10_ext_dup_up",
        T("t", Seq(C("a", notNull = true), C("e1")), Seq(pkA)),
        Some(T("t", Seq(C("a", notNull = true)), Seq(pkA))), Seq("e1")) ++
      run("s11_ext_ok", T("t", Seq(C("a", notNull = true)), Seq(pkA)),
        Some(T("t", Seq(C("a", notNull = true), C("e1")), Seq(pkA))),
        Seq("e1")) ++
      run("s12_ext_both",
        T("t", Seq(C("a", notNull = true), C("e1")), Seq(pkA)),
        Some(T("t", Seq(C("a", notNull = true), C("e1")), Seq(pkA))),
        Seq("e1")) ++
      run("s13_ignorable", T("t", Seq(C("a", notNull = true)), Seq(pkA)),
        Some(T("t", Seq(C("a", notNull = true),
          C("x", notNull = true, hasDefault = true), C("y"),
          C("z", notNull = true)), Seq(pkA))))

    rows.toDF("kase", "seq", "state", "code", "payload")
  }

  /**
   * q308 — the DM privilege checkers as an offline decision matrix
   * ([[graft.diff.PrivilegeCheck]]; dm/pkg/checker/privilege.go:81-219
   * checkers + :290-452 VerifyPrivileges + :243-286 the lacking
   * render): grant statements ride the task spec the way
   * [[graft.diff.Precheck.SourceMeta]] carries server variables, and
   * the kernel replays the reference's GRANT/REVOKE lattice — global /
   * LIKE-pattern db / table erasure, ALL-PRIVILEGES and SUPER and
   * FLUSH_TABLES equivalences, literal-name revoke restores — plus the
   * goyacc-shaped parse errors and per-checker instructions. Exercises
   * every decision family of privilege_test.go (whose 60+ vectors
   * PrivilegeCheckSpec replays verbatim from the Go source).
   */
  val privilegeCheck = GateQuery(
    "q308_privilege_check",
    Some("""SELECT * FROM (VALUES
      |  ('dump','no_grants',     'failure','there is no such grant defined for current user on host ''%%''','Please grant the required privileges to the account.'),
      |  ('dump','invalid_grant', 'failure','line 1 column 7 near "invalid SQL statement" ','Please grant the required privileges to the account.'),
      |  ('dump','not_grant_stmt','failure','CREATE DATABASE db1 is not grant statement','Please grant the required privileges to the account.'),
      |  ('dump','reload_only',   'failure','lack of Select privilege: {`db1`.`tb1`}; ','Please grant the required privileges to the account.'),
      |  ('dump','no_do_tables',  'success','',''),
      |  ('dump','select_reload', 'success','',''),
      |  ('dump','all_privs',     'success','',''),
      |  ('dump','db_level_all',  'failure','lack of RELOAD global (*.*) privilege; ','Please grant the required privileges to the account.'),
      |  ('dump','column_select', 'failure','lack of Select privilege: {`lance`.`t`}; ','Please grant the required privileges to the account.'),
      |  ('dump','flush_tables',  'success','',''),
      |  ('dump','flush_status',  'failure','lack of RELOAD global (*.*) privilege; ','Please grant the required privileges to the account.'),
      |  ('dump','revoke_reopens','failure','lack of Select privilege: {`db1`.`tb1`}; ','Please grant the required privileges to the account.'),
      |  ('dump','revoke_literal','success','',''),
      |  ('dump','whole_instance','failure','lack of Select global (*.*) privilege; ','Please grant the required privileges to the account.'),
      |  ('dump','lock_mode',     'failure','lack of LOCK TABLES global (*.*) privilege; ','Please grant the required privileges to the account.'),
      |  ('dump','none_mode',     'success','',''),
      |  ('dump','wildcard_both', 'failure','lack of Select privilege: {`block_db`.`t1`}; ','Please grant the required privileges to the account.'),
      |  ('repl','ok',            'success','',''),
      |  ('repl','slave_only',    'failure','lack of REPLICATION CLIENT global (*.*) privilege; ','Grant the required privileges to the account.'),
      |  ('repl','client_only',   'failure','lack of REPLICATION SLAVE global (*.*) privilege; ','Grant the required privileges to the account.'),
      |  ('repl','super_covers',  'success','',''),
      |  ('repl','revoke_super',  'failure','lack of REPLICATION CLIENT global (*.*) privilege; ','Grant the required privileges to the account.'),
      |  ('repl','neither',       'failure','lack of REPLICATION CLIENT global (*.*) privilege; lack of REPLICATION SLAVE global (*.*) privilege; ','Grant the required privileges to the account.'),
      |  ('target','all_privs',   'success','',''),
      |  ('target','eight',       'success','',''),
      |  ('target','missing_two', 'warning','lack of Create global (*.*) privilege; lack of Update global (*.*) privilege; ','You need grant related privileges.'),
      |  ('target','no_grants',   'warning','there is no such grant defined for current user on host ''%%''','')
      |) v(checker, kase, state, err, instruction)""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.diff.{PrivilegeCheck => PC}

    def dump(kase: String, grants: Seq[String],
             tables: Seq[(String, String)] = Seq("db1" -> "tb1"),
             consistency: String = "auto", whole: Boolean = false) = {
      val o = PC.dumpPrivilegeCheck(grants, tables, consistency, whole)
      ("dump", kase, o.state, o.err, o.instruction)
    }
    def repl(kase: String, grants: Seq[String]) = {
      val o = PC.replicationPrivilegeCheck(grants)
      ("repl", kase, o.state, o.err, o.instruction)
    }
    def target(kase: String, grants: Seq[String]) = {
      val o = PC.targetPrivilegeCheck(grants)
      ("target", kase, o.state, o.err, o.instruction)
    }

    val rows = Seq(
      dump("no_grants", Nil),
      dump("invalid_grant", Seq("invalid SQL statement")),
      dump("not_grant_stmt", Seq("CREATE DATABASE db1")),
      dump("reload_only", Seq("GRANT RELOAD ON *.* TO 'user'@'%'")),
      dump("no_do_tables", Seq("GRANT RELOAD ON *.* TO 'user'@'%'"),
        tables = Nil),
      dump("select_reload",
        Seq("GRANT RELOAD, SELECT ON *.* TO 'user'@'%'")),
      dump("all_privs", Seq("GRANT ALL PRIVILEGES ON *.* TO 'user'@'%'" +
        " IDENTIFIED BY PASSWORD 'secret'")),
      dump("db_level_all", Seq("GRANT ALL PRIVILEGES ON `medz`.* TO " +
        "`zhangsan`@`10.8.1.9` WITH GRANT OPTION"),
        tables = Seq("medz" -> "medz")),
      dump("column_select", Seq("GRANT RELOAD ON *.* TO 'user'@'%'",
        "GRANT SELECT (c) ON `lance`.`t` TO 'user'@'%'"),
        tables = Seq("lance" -> "t")),
      dump("flush_tables", Seq("GRANT SELECT ON *.* TO `root`@`localhost`",
        "GRANT FLUSH_TABLES ON *.* TO `root`@`localhost`"), tables = Nil),
      dump("flush_status", Seq("GRANT SELECT ON *.* TO `root`@`localhost`",
        "GRANT FLUSH_STATUS ON *.* TO `root`@`localhost`"), tables = Nil),
      dump("revoke_reopens",
        Seq("GRANT RELOAD, SELECT ON *.* TO `dmtest`@`%`",
          "REVOKE SELECT ON `db1`.* FROM `dmtest`@`%`")),
      dump("revoke_literal",
        Seq("GRANT RELOAD, SELECT ON *.* TO `dmtest`@`%`",
          "REVOKE SELECT ON `db_%`.* FROM `dmtest`@`%`"),
        tables = Seq("db_01" -> "tb1")),
      dump("whole_instance", Seq("GRANT RELOAD ON *.* TO `u1`@`localhost`",
        "GRANT SELECT ON `db1`.* TO `u1`@`localhost`"), whole = true),
      dump("lock_mode", Seq("GRANT SELECT ON *.* TO 'user'@'%'"),
        tables = Nil, consistency = "lock"),
      dump("none_mode", Seq("GRANT SELECT ON *.* TO 'user'@'%'"),
        consistency = "none"),
      dump("wildcard_both", Seq("GRANT RELOAD ON *.* TO `dmuser`@`%`",
        "GRANT SELECT ON `demo%`.* TO `dmuser`@`%`"),
        tables = Seq("demo_some" -> "t1", "block_db" -> "t1")),
      repl("ok", Seq(
        "GRANT REPLICATION SLAVE, REPLICATION CLIENT ON *.* TO 'user'@'%'")),
      repl("slave_only",
        Seq("GRANT REPLICATION SLAVE ON *.* TO 'user'@'%'")),
      repl("client_only",
        Seq("GRANT REPLICATION CLIENT ON *.* TO 'user'@'%'")),
      repl("super_covers",
        Seq("GRANT REPLICATION SLAVE, SUPER ON *.* TO `dmtest`@`%`")),
      repl("revoke_super",
        Seq("GRANT REPLICATION SLAVE, SUPER ON *.* TO `dmtest`@`%`",
          "REVOKE SUPER ON *.* FROM `dmtest`@`%`")),
      repl("neither", Seq("GRANT SELECT ON *.* TO 'user'@'%'")),
      target("all_privs", Seq("GRANT ALL PRIVILEGES ON *.* TO 'user'@'%'")),
      target("eight", Seq("GRANT SELECT, CREATE, INSERT, UPDATE, DELETE, " +
        "ALTER, DROP, INDEX ON *.* TO 'root'@'%'")),
      target("missing_two", Seq("GRANT SELECT, INSERT, DELETE, ALTER, " +
        "DROP, INDEX ON *.* TO 'root'@'%'")),
      target("no_grants", Nil))

    rows.toDF("checker", "kase", "state", "err", "instruction")
  }

  /**
   * q309 — the DM connection-capacity and lightning free-space
   * prechecks ([[graft.diff.ConnCheck]]; dm/pkg/checker/
   * conn_checker.go:28-218 + lightning.go:144-216): the unlimited
   * (max_connections=0) early-success, the SUPER/PROCESS privilege
   * degrade with the reference's instruction-overwrite quirk, the
   * needed-vs-max failure and needed-vs-available warning renders with
   * the loader/dumper needed-connection formulas (Σ(poolSize+1),
   * threads+2), the loader's lightning downgrade, the free-space
   * ladder with go-units BytesSize renders, and the binlog do/ignore-db
   * precedence check (binlog.go:216-273) with its real
   * failure-state-warn-error quirk. Error rows carry (severity,
   * message) per seq; seq=99 is the (final state, instruction) summary.
   */
  val connCapacityCheck = GateQuery(
    "q309_conn_capacity",
    Some("""SELECT * FROM (VALUES
      |  ('dumper_unlimited', 99,'success',''),
      |  ('dumper_ok',        99,'success',''),
      |  ('dumper_exceeds',    0,'failure','checked database''s max_connections: 16 is less than the number dumper needs: 34'),
      |  ('dumper_exceeds',   99,'failure','You need to set a larger max_connection, or adjust the configuration of DM such as reducing the worker count of sycner and reducing the pool size of the dumper and loader.'),
      |  ('dumper_no_priv',    0,'warning','lack of Process global (*.*) privilege; '),
      |  ('dumper_no_priv',   99,'warning',''),
      |  ('dumper_tight',      0,'failure','database''s max_connections: 40, used_connections: 9, available_connections: 31 is less than dumper needs: 34'),
      |  ('dumper_tight',     99,'warning','You need to set a larger max_connection, or adjust the configuration of DM such as reducing the worker count of sycner and reducing the pool size of the dumper and loader.'),
      |  ('loader_ok',        99,'success',''),
      |  ('loader_downgrade',  0,'failure','checked database''s max_connections: 20 is less than the number loader needs: 33'),
      |  ('loader_downgrade',  1,'warning','task precheck cannot accurately check the number of connection needed for Lightning.'),
      |  ('loader_downgrade', 99,'warning','You need to set a larger connection for TiDB.'),
      |  ('loader_no_priv',    0,'warning','lack of Super global (*.*) privilege; '),
      |  ('loader_no_priv',   99,'warning',''),
      |  ('space_ok',         99,'success',''),
      |  ('space_warn',        0,'warning','Cluster may not have enough space, available is 40GiB, but we need 60GiB'),
      |  ('space_warn',       99,'warning','you can try to scale-out TiKV storage or TiKV instance to gain more storage space'),
      |  ('space_fail',        0,'failure','Downstream doesn''t have enough space, available is 6GiB, but we need 10GiB'),
      |  ('space_fail',       99,'failure','you can try to scale-out TiKV storage or TiKV instance to gain more storage space'),
      |  ('bdb_do_ok',        99,'success',''),
      |  ('bdb_do_missing',    0,'warning','these dbs [db2] are not in binlog_do_db[db1]'),
      |  ('bdb_do_missing',   99,'failure','Ensure that the do_dbs contains the dbs you want to migrate'),
      |  ('bdb_ignore_hit',    0,'warning','these dbs [db1] are in binlog_ignore_db[db0,db1]'),
      |  ('bdb_ignore_hit',   99,'failure','Ensure that the ignore_dbs does not contain the dbs you want to migrate'),
      |  ('bdb_both_empty',   99,'success',''),
      |  ('bdb_case_fold',    99,'success',''),
      |  ('oddl_clean',       99,'success',''),
      |  ('oddl_ghost',        0,'failure','your ddl is in pt/ghost online-ddl'),
      |  ('oddl_ghost',       99,'failure','please wait the online-ddl over'),
      |  ('oddl_filtered',    99,'success',''),
      |  ('pk_ok',            99,'success',''),
      |  ('pk_missing',        0,'failure','table `test-db`.`test-table-1` primary key does not exist'),
      |  ('pk_missing',       99,'failure','You need to set primary key for the upstream table. Otherwise replication efficiency may be low, and correctness (e.g., deduplication and idempotency) may be affected if no primary key exists.'),
      |  ('pk_deleted_skip',  99,'success','')
      |) v(kase, seq, state, msg)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.diff.{ConnCheck => CC}

    def rows(kase: String, o: CC.ConnOutcome)
        : Seq[(String, Int, String, String)] =
      o.errs.zipWithIndex.map { case ((sev, err), i) => (kase, i, sev, err) } :+
        ((kase, 99, o.state, o.instruction))

    val procGrant = Seq("GRANT PROCESS ON *.* TO 'u'@'%'")
    val superGrant = Seq("GRANT SUPER ON *.* TO 'u'@'%'")
    val selectOnly = Seq("GRANT SELECT ON *.* TO 'u'@'%'")
    val gib = 1024L * 1024 * 1024

    val out =
      rows("dumper_unlimited", CC.dumperConnCheck(0, Nil, 0, 32)) ++
      rows("dumper_ok", CC.dumperConnCheck(100, procGrant, 10, 4)) ++
      rows("dumper_exceeds", CC.dumperConnCheck(16, procGrant, 5, 32)) ++
      rows("dumper_no_priv", CC.dumperConnCheck(40, selectOnly, 7, 32)) ++
      rows("dumper_tight", CC.dumperConnCheck(40, procGrant, 10, 32)) ++
      rows("loader_ok",
        CC.loaderConnCheck(200, superGrant, 3, Seq(16, 16))) ++
      rows("loader_downgrade",
        CC.loaderConnCheck(20, superGrant, 3, Seq(32))) ++
      rows("loader_no_priv",
        CC.loaderConnCheck(100, selectOnly, 3, Seq(8))) ++
      rows("space_ok",
        CC.freeSpaceCheck(Seq("100GiB", "100GiB"), 10 * gib, 3)) ++
      rows("space_warn", CC.freeSpaceCheck(Seq("40GiB"), 10 * gib, 3)) ++
      rows("space_fail",
        CC.freeSpaceCheck(Seq("4GiB", "2GiB"), 10 * gib, 3)) ++
      rows("bdb_do_ok", CC.binlogDbCheck(Seq("db1", "db2"),
        "db1,db2,db3", "", caseSensitive = true)) ++
      rows("bdb_do_missing", CC.binlogDbCheck(Seq("db1", "db2"),
        "db1", "", caseSensitive = true)) ++
      rows("bdb_ignore_hit", CC.binlogDbCheck(Seq("db1"),
        "", "db0,db1", caseSensitive = true)) ++
      rows("bdb_both_empty", CC.binlogDbCheck(Seq("db1"), "", "",
        caseSensitive = true)) ++
      rows("bdb_case_fold", CC.binlogDbCheck(Seq("db1"),
        "DB1,Other", "", caseSensitive = false)) ++ {
      val shadow = Seq(graft.streaming.SubTaskValidate
        .DefaultShadowTableRules)
      rows("oddl_clean", CC.onlineDdlCheck(
        Seq("db1" -> Seq("users", "orders")), shadow, (_, _) => true)) ++
      rows("oddl_ghost", CC.onlineDdlCheck(
        Seq("db1" -> Seq("users", "_users_gho")), shadow,
        (_, _) => true)) ++
      rows("oddl_filtered", CC.onlineDdlCheck(
        Seq("db1" -> Seq("_users_gho")), shadow,
        (_, t) => t != "users")) ++
      rows("pk_ok", CC.primaryKeyCheck(
        Seq(("test-db", "test-table-1", Some(true))))) ++
      rows("pk_missing", CC.primaryKeyCheck(
        Seq(("test-db", "test-table-1", Some(false))))) ++
      rows("pk_deleted_skip", CC.primaryKeyCheck(
        Seq(("test-db", "gone", None))))
    }

    out.toDF("kase", "seq", "state", "msg")
  }

  /**
   * q312 — the DM precheck DISPATCH matrix
   * ([[graft.diff.CheckerDispatch]]; dm/checker/checker.go:262-558
   * Checker.Init + dm/config/helper.go mode predicates +
   * checking_item.go FilterCheckingItems): which checkers run, in which
   * order, for a given task — conn-number fan-out by dump/load legs,
   * the per-instance version/dump-privilege vs meta-position
   * alternation, the sync-mode family, the lazy online-DDL-plugin
   * ordering quirk (earlier instances skip the checker), the
   * fresh-sharded-dump-only shard checkers with
   * pessimistic/optimistic renders, the physical-import lightning
   * block, and ignore-item filtering incl. `all`.
   */
  val checkerDispatch = GateQuery(
    "q312_checker_dispatch",
    Some("""SELECT * FROM (VALUES
      |  ('all_mode',  0,'dumper_conn_number_checker','s1'),
      |  ('all_mode',  1,'loader_conn_number_checker',''),
      |  ('all_mode',  2,'target db privilege checker',''),
      |  ('all_mode',  3,'mysql_version','s1'),
      |  ('all_mode',  4,'source db dump privilege checker','s1'),
      |  ('all_mode',  5,'mysql_server_id','s1'),
      |  ('all_mode',  6,'mysql_binlog_enable','s1'),
      |  ('all_mode',  7,'mysql_binlog_format','s1'),
      |  ('all_mode',  8,'mysql_binlog_row_image','s1'),
      |  ('all_mode',  9,'source db replication privilege checker','s1'),
      |  ('all_mode', 10,'binlog_do_db/binlog_ignore_db check','s1'),
      |  ('all_mode', 11,'table structure compatibility check',''),
      |  ('incr_meta', 0,'target db privilege checker',''),
      |  ('incr_meta', 1,'mysql_version','s1'),
      |  ('incr_meta', 2,'meta position check','s1'),
      |  ('incr_meta', 3,'mysql_server_id','s1'),
      |  ('incr_meta', 4,'mysql_binlog_enable','s1'),
      |  ('incr_meta', 5,'mysql_binlog_format','s1'),
      |  ('incr_meta', 6,'mysql_binlog_row_image','s1'),
      |  ('incr_meta', 7,'source db replication privilege checker','s1'),
      |  ('incr_meta', 8,'binlog_do_db/binlog_ignore_db check','s1'),
      |  ('incr_meta', 9,'table structure compatibility check',''),
      |  ('incr_relay',0,'target db privilege checker',''),
      |  ('incr_relay',1,'mysql_version','s1'),
      |  ('incr_relay',2,'mysql_server_id','s1'),
      |  ('incr_relay',3,'mysql_binlog_enable','s1'),
      |  ('incr_relay',4,'mysql_binlog_format','s1'),
      |  ('incr_relay',5,'mysql_binlog_row_image','s1'),
      |  ('incr_relay',6,'source db replication privilege checker','s1'),
      |  ('incr_relay',7,'binlog_do_db/binlog_ignore_db check','s1'),
      |  ('incr_relay',8,'table structure compatibility check',''),
      |  ('full_mode', 0,'dumper_conn_number_checker','s1'),
      |  ('full_mode', 1,'loader_conn_number_checker',''),
      |  ('full_mode', 2,'target db privilege checker',''),
      |  ('full_mode', 3,'mysql_version','s1'),
      |  ('full_mode', 4,'source db dump privilege checker','s1'),
      |  ('full_mode', 5,'table structure compatibility check',''),
      |  ('ignore_some',0,'dumper_conn_number_checker','s1'),
      |  ('ignore_some',1,'loader_conn_number_checker',''),
      |  ('ignore_some',2,'target db privilege checker',''),
      |  ('ignore_some',3,'source db dump privilege checker','s1'),
      |  ('ignore_some',4,'mysql_server_id','s1'),
      |  ('ignore_some',5,'source db replication privilege checker','s1'),
      |  ('ignore_some',6,'binlog_do_db/binlog_ignore_db check','s1'),
      |  ('ignore_some',7,'table structure compatibility check',''),
      |  ('ignore_all', 0,'(none)',''),
      |  ('online_ddl', 0,'target db privilege checker',''),
      |  ('online_ddl', 1,'mysql_version','s1'),
      |  ('online_ddl', 2,'mysql_server_id','s1'),
      |  ('online_ddl', 3,'mysql_binlog_enable','s1'),
      |  ('online_ddl', 4,'mysql_binlog_format','s1'),
      |  ('online_ddl', 5,'mysql_binlog_row_image','s1'),
      |  ('online_ddl', 6,'source db replication privilege checker','s1'),
      |  ('online_ddl', 7,'binlog_do_db/binlog_ignore_db check','s1'),
      |  ('online_ddl', 8,'mysql_version','s2'),
      |  ('online_ddl', 9,'mysql_server_id','s2'),
      |  ('online_ddl',10,'mysql_binlog_enable','s2'),
      |  ('online_ddl',11,'mysql_binlog_format','s2'),
      |  ('online_ddl',12,'mysql_binlog_row_image','s2'),
      |  ('online_ddl',13,'source db replication privilege checker','s2'),
      |  ('online_ddl',14,'online ddl checker','s2'),
      |  ('online_ddl',15,'binlog_do_db/binlog_ignore_db check','s2'),
      |  ('online_ddl',16,'table structure compatibility check',''),
      |  ('shard_pess', 0,'table structure compatibility check',''),
      |  ('shard_pess', 1,'sharding table `db`.`t_a` consistency checking','`db`.`t_a`'),
      |  ('shard_pess', 2,'sharding table `db`.`t_c` consistency checking','`db`.`t_c`'),
      |  ('shard_opt',  0,'table structure compatibility check',''),
      |  ('shard_opt',  1,'optimistic sharding table `db`.`t_a` consistency checking','`db`.`t_a`'),
      |  ('shard_stale',0,'table structure compatibility check',''),
      |  ('lightning',  0,'table structure compatibility check',''),
      |  ('lightning',  1,'primary key existence check',''),
      |  ('lightning',  2,'lightning_free_space',''),
      |  ('lightning',  3,'lightning_empty_region',''),
      |  ('lightning',  4,'lightning_region_distribution',''),
      |  ('lightning',  5,'lightning_cluster_version',''),
      |  ('lightning',  6,'lightning_downstream_mutex_features',''),
      |  ('lightning',  7,'lightning_downstream_empty_table','')
      |) v(kase, seq, checker, scope)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.diff.{CheckerDispatch => CD}
    import CD.{DispatchSpec => D, InstanceSpec => I}

    def rows(kase: String, spec: D): Seq[(String, Int, String, String)] = {
      val cl = CD.checkList(spec)
      if (cl.isEmpty) Seq((kase, 0, "(none)", ""))
      else cl.zipWithIndex.map { case ((n, s), i) => (kase, i, n, s) }
    }
    val s1all = I("s1", "all")
    val defaults = CD.filterCheckingItems(Nil)

    val out =
      rows("all_mode", D(defaults, Seq(s1all))) ++
      rows("incr_meta", D(defaults, Seq(I("s1", "incremental",
        hasMeta = true, metaBinlogName = "mysql-bin.000001")))) ++
      rows("incr_relay", D(defaults, Seq(I("s1", "incremental",
        useRelay = true, hasMeta = true,
        metaBinlogName = "mysql-bin.000001")))) ++
      rows("full_mode", D(defaults, Seq(I("s1", "full")))) ++
      rows("ignore_some", D(CD.filterCheckingItems(Seq("version",
        "binlog_enable", "binlog_format", "binlog_row_image")),
        Seq(s1all))) ++
      rows("ignore_all",
        D(CD.filterCheckingItems(Seq("all")), Seq(s1all))) ++
      rows("online_ddl", D(defaults -- Set("conn_number",
        "dump_privilege"),
        Seq(I("s1", "incremental"), I("s2", "incremental",
          onlineDDL = true)))) ++
      rows("shard_pess", D(Set("table_schema", "schema_of_shard_tables",
        "auto_increment_ID"), Seq(s1all), shardMode = "pessimistic",
        shardTargets = Seq(("`db`.`t_c`", 3), ("`db`.`t_a`", 2),
          ("`db`.`t_b`", 1)))) ++
      rows("shard_opt", D(Set("table_schema", "schema_of_shard_tables"),
        Seq(s1all), shardMode = "optimistic",
        shardTargets = Seq(("`db`.`t_a`", 2)))) ++
      rows("shard_stale", D(Set("table_schema",
        "schema_of_shard_tables"), Seq(s1all),
        shardMode = "pessimistic", isFresh = false,
        shardTargets = Seq(("`db`.`t_a`", 2)))) ++
      rows("lightning", D(
        Set("table_schema", "primary_key") ++
          CD.LightningPrechecks.toSet,
        Seq(I("s1", "full")), importMode = "physical"))

    out.toDF("kase", "seq", "checker", "scope")
  }

  def all: Seq[GateQuery] =
    Seq(chunkChecksum, chunkChecksumComposite, rowDiff, fixSql, fixApply,
      diffIgnoreColumns, diffRange, diffReport, diffCheckpointResume,
      diffCheckModes, bucketChunksMerge, bucketChunksSplit, shardMerge,
      structCompare, limitSplit, indexSelect, diffSample, tableStructCheck,
      privilegeCheck, connCapacityCheck, checkerDispatch)

  // shared-cache warmers: Bench prebuilds these as their own entries so
  // consuming gates (q51/q52/q240/q243…) report marginal cost
  Gate.registerBuild("b1_diff_table")((s, d) => { classifiedDiff(s, d); () })
  Gate.registerBuild("b2_cmp_facts")((s, d) => { chunkCmpFacts(s, d); () })
}
