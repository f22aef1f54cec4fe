package graft.queries

import org.apache.spark.sql.functions._
import graft.core.CdcStream
import graft.operators.{Compaction, Transforms}

/**
 * Batch TWINS of streaming-only operators, so the batch-SQL correctness
 * gate covers them (the driver cannot oracle-check a running streaming
 * query): W2 exactly-once checkpoint replay and G3 optimistic shard-DDL
 * schema lattice. Each twin computes, in one deterministic batch plan, the
 * algebra the streaming path enforces at runtime — same operators, same
 * invariants.
 */
object StreamTwinQueries {

  private val cte = CdcStream.sqlCte

  /**
   * W2 — exactly-once under at-least-once delivery: microbatches are keyed
   * by batch id; a crash between sink-write and checkpoint-commit redelivers
   * a whole batch, and the idempotent sink (Sinks.parquetStateSink) skips
   * batch ids it already applied. Twin: duplicate one whole batch in the
   * delivery stream, apply the batch-id dedup, then fold to net state
   * through the REAL updateSplit + compact operators — final state must
   * equal the replay-free stream's. n_deliveries > n_applied witnesses that
   * the replay actually happened.
   */
  private val BatchTs = 500L
  private val ReplayBatch = 2001L

  val checkpointResume = GateQuery(
    "q74_checkpoint_resume",
    Some(cte +
      s""", b AS (SELECT *, commit_ts // $BatchTs AS batch_id FROM cdc),
         |deliv AS (
         |  SELECT * FROM b
         |  UNION ALL SELECT * FROM b WHERE batch_id = $ReplayBatch
         |), applied AS (
         |  SELECT * FROM deliv
         |  QUALIFY row_number() OVER (PARTITION BY batch_id, seq ORDER BY seq) = 1
         |), split AS (
         |  SELECT seq * 2 + leg AS seq,
         |    CASE WHEN leg = 1 THEN 'I'
         |         WHEN op = 'U' AND pk <> pk_after THEN 'D'
         |         ELSE op END AS op,
         |    commit_ts, schema_name, table_name,
         |    CASE WHEN leg = 1 THEN pk_after ELSE pk END AS pk,
         |    CASE WHEN leg = 1 THEN val_after
         |         WHEN op = 'U' AND pk <> pk_after THEN NULL
         |         WHEN op = 'D' THEN NULL
         |         ELSE val_after END AS val_after
         |  FROM (SELECT *,
         |          unnest(CASE WHEN op = 'U' AND pk <> pk_after
         |                      THEN [0, 1] ELSE [0] END) AS leg
         |        FROM applied)
         |), net AS (
         |  SELECT schema_name, table_name, pk,
         |    CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
         |         WHEN last_op = 'D' THEN 'D'
         |         WHEN first_op = 'I' THEN 'I'
         |         WHEN first_op = 'D' THEN 'R'
         |         ELSE 'U' END AS net_op,
         |    CASE WHEN last_op = 'D' THEN NULL ELSE last_val_raw END AS final_val
         |  FROM (
         |    SELECT schema_name, table_name, pk,
         |      arg_min(op, seq) AS first_op, arg_max(op, seq) AS last_op,
         |      arg_max(coalesce(val_after, -1), seq) AS last_val_raw
         |    FROM split GROUP BY 1, 2, 3
         |  ) WHERE (CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
         |                WHEN last_op = 'D' THEN 'D'
         |                WHEN first_op = 'I' THEN 'I'
         |                WHEN first_op = 'D' THEN 'R'
         |                ELSE 'U' END) IS NOT NULL
         |), state AS (
         |  SELECT schema_name, table_name, count(*) AS n_keys,
         |    CAST(sum(CASE WHEN net_op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
         |    CAST(coalesce(sum(CASE WHEN net_op <> 'D'
         |      THEN CAST(final_val AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS sum_val
         |  FROM net GROUP BY 1, 2
         |), dcount AS (
         |  SELECT schema_name, table_name, count(*) AS n_deliveries,
         |    count(DISTINCT seq) AS n_applied
         |  FROM deliv GROUP BY 1, 2
         |)
         |SELECT s.schema_name, s.table_name, d.n_deliveries, d.n_applied,
         |  s.n_keys, s.n_live, s.sum_val
         |FROM state s JOIN dcount d
         |  ON d.schema_name = s.schema_name AND d.table_name = s.table_name"""
        .stripMargin)) { (spark, dir) =>
    val cdc = CdcStream.derive(spark, dir)
      .withColumn("batch_id", expr(s"commit_ts DIV $BatchTs"))
    val deliv = cdc.unionByName(cdc.filter(col("batch_id") === ReplayBatch))
    // the idempotent sink's replay guard: one application per (batch, event)
    val applied = deliv.dropDuplicates("batch_id", "seq")
    val net = Compaction.compact(Transforms.updateSplit(applied))
    val state = net.groupBy("schema_name", "table_name").agg(
      count(lit(1)).as("n_keys"),
      sum(when(col("net_op") =!= "D", 1L).otherwise(0L)).as("n_live"),
      coalesce(sum(when(col("net_op") =!= "D",
        col("final_val").cast("decimal(18,6)"))), lit(0).cast("decimal(18,6)"))
        .cast("double").as("sum_val"))
    val dcount = deliv.groupBy("schema_name", "table_name").agg(
      count(lit(1)).as("n_deliveries"),
      countDistinct(col("seq")).as("n_applied"))
    state.join(dcount, Seq("schema_name", "table_name"))
      .select("schema_name", "table_name", "n_deliveries", "n_applied",
        "n_keys", "n_live", "sum_val")
  }

  /**
   * G3 — optimistic shard-DDL lattice: drifted shard schemas join to the
   * field-union (nullable where a shard lacks the column), and a same-name/
   * different-type drift surfaces as a CONFLICT instead of merging
   * (dm/pkg/shardddl/optimism). Twin: three shards declared in DDL TEXT
   * (parser → StructType → joinSchemas), one table with a type conflict;
   * the gate pins the joined field list, nullability, and the conflict row.
   */
  val optimisticLattice = GateQuery(
    "q75_optimistic_lattice",
    Some("""SELECT * FROM (VALUES
           |  ('tbl_0', 'pk', 'BIGINT', 'false', 'ok'),
           |  ('tbl_0', 'val', 'DOUBLE', 'true', 'ok'),
           |  ('tbl_0', 'c2', 'STRING', 'true', 'ok'),
           |  ('tbl_1', 'pk', 'BIGINT', 'false', 'ok'),
           |  ('tbl_1', 'val', 'DOUBLE', 'true', 'ok'),
           |  ('tbl_1', 'c2', 'STRING', 'true', 'ok'),
           |  ('tbl_2', 'pk', 'BIGINT', 'false', 'ok'),
           |  ('tbl_2', 'val', 'DOUBLE', 'true', 'ok'),
           |  ('tbl_2', 'c2', 'STRING', 'true', 'ok'),
           |  ('tbl_3', 'val', 'DOUBLE vs STRING', NULL, 'conflict')
           |) v(table_name, field, dtype, nullable, status)""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.core.{DdlParser, SchemaRegistry}
    import org.apache.spark.sql.types.StructType
    def schemaOf(ddl: String): StructType = {
      val ct = DdlParser.parse(ddl)
        .collectFirst { case c: DdlParser.CreateTable => c }.get
      StructType(ct.columns.map(c =>
        org.apache.spark.sql.types.StructField(c.name, c.dataType, c.nullable)))
    }
    val tables = Seq("tbl_0", "tbl_1", "tbl_2", "tbl_3")
    val rows = tables.flatMap { t =>
      val shard0 = schemaOf(
        s"CREATE TABLE s0.$t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)")
      val shard1 = schemaOf(
        s"CREATE TABLE s1.$t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE, c2 VARCHAR(64))")
      val shard2 = schemaOf(
        if (t == "tbl_3")
          s"CREATE TABLE s2.$t (pk BIGINT NOT NULL PRIMARY KEY, val VARCHAR(32))"
        else s"CREATE TABLE s2.$t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)")
      SchemaRegistry.joinSchemas(Seq(shard0, shard1, shard2)) match {
        case Right(joined) => joined.fields.toSeq.map(f =>
          (t, f.name, f.dataType.sql, f.nullable.toString, "ok"))
        case Left(c) =>
          Seq((t, c.field, c.types.map(_.sql).mkString(" vs "),
            null.asInstanceOf[String], "conflict"))
      }
    }
    rows.toDF("table_name", "field", "dtype", "nullable", "status")
  }

  // ---- shared SQL fragments for the W3/W4 twins ------------------------

  /** DuckDB twin of Transforms.updateSplit over `src`. */
  private def splitSql(src: String): String =
    s"""SELECT seq * 2 + leg AS seq,
       |    CASE WHEN leg = 1 THEN 'I'
       |         WHEN op = 'U' AND pk <> pk_after THEN 'D'
       |         ELSE op END AS op,
       |    commit_ts, schema_name, table_name,
       |    CASE WHEN leg = 1 THEN pk_after ELSE pk END AS pk,
       |    CASE WHEN leg = 1 THEN val_after
       |         WHEN op = 'U' AND pk <> pk_after THEN NULL
       |         WHEN op = 'D' THEN NULL
       |         ELSE val_after END AS val_after
       |  FROM (SELECT *,
       |          unnest(CASE WHEN op = 'U' AND pk <> pk_after
       |                      THEN [0, 1] ELSE [0] END) AS leg
       |        FROM $src)""".stripMargin

  /** DuckDB twin of Compaction.compact over post-split `src`, keyed by
    * `keys` (comma-separated column list). */
  private def netSql(src: String, keys: String): String =
    s"""SELECT * FROM (
       |  SELECT $keys,
       |    CASE WHEN first_op = 'I' AND last_op = 'D' THEN NULL
       |         WHEN last_op = 'D' THEN 'D'
       |         WHEN first_op = 'I' THEN 'I'
       |         WHEN first_op = 'D' THEN 'R'
       |         ELSE 'U' END AS net_op,
       |    CASE WHEN last_op = 'D' THEN NULL ELSE last_val_raw END AS final_val
       |  FROM (
       |    SELECT $keys,
       |      arg_min(op, seq) AS first_op, arg_max(op, seq) AS last_op,
       |      arg_max(coalesce(val_after, -1), seq) AS last_val_raw
       |    FROM $src GROUP BY $keys
       |  )) WHERE net_op IS NOT NULL""".stripMargin

  /**
   * W4 — redo-log disaster recovery: WAL rows in (checkpointTs, resolvedTs]
   * replay on top of the state materialized at the checkpoint
   * (streaming.Redo.replay; reference applier pkg/applier/redo.go:162-420).
   * Twin: stage-1 state at C, stage-2 net of the redo window, merged with
   * the state sink's apply rule (touched keys replaced, deletes dropped) —
   * which must equal the oracle's DIRECT compaction to R. The twin passing
   * means crash recovery converges to the no-crash state.
   */
  private val CkptTs = 1001000L
  private val ResolvedTs = 1002000L

  val redoReplay = GateQuery(
    "q76_redo_replay",
    Some(cte +
      s""", split AS (${splitSql(s"(SELECT * FROM cdc WHERE commit_ts <= $ResolvedTs)")}),
         |net AS (${netSql("split", "schema_name, table_name, pk")}),
         |state AS (
         |  SELECT schema_name, table_name, count(*) AS n_live,
         |    CAST(coalesce(sum(CAST(final_val AS DECIMAL(18,6))), 0) AS DOUBLE) AS sum_val
         |  FROM net WHERE net_op <> 'D' GROUP BY 1, 2
         |), redo AS (
         |  SELECT schema_name, table_name, count(*) AS n_redo_rows
         |  FROM split WHERE commit_ts > $CkptTs GROUP BY 1, 2
         |)
         |SELECT s.schema_name, s.table_name, r.n_redo_rows, s.n_live, s.sum_val
         |FROM state s JOIN redo r
         |  ON r.schema_name = s.schema_name AND r.table_name = s.table_name"""
        .stripMargin)) { (spark, dir) =>
    val keys = Seq("schema_name", "table_name", "pk")
    val wal = Transforms.updateSplit(CdcStream.derive(spark, dir))
      .filter(col("commit_ts") <= ResolvedTs)
    val stage1 = Compaction.compact(wal.filter(col("commit_ts") <= CkptTs))
    val redo = wal.filter(col("commit_ts") > CkptTs)
    val stage2 = Compaction.compact(redo)
    // the state sink's apply rule (Sinks.parquetStateSink): keys touched by
    // the replayed batch are replaced, net deletes drop out
    val merged = stage1.filter(col("net_op") =!= "D")
      .join(stage2.select(keys.map(col): _*), keys, "left_anti")
      .unionByName(stage2.filter(col("net_op") =!= "D"))
    val state = merged.groupBy("schema_name", "table_name").agg(
      count(lit(1)).as("n_live"),
      coalesce(sum(col("final_val").cast("decimal(18,6)")),
        lit(0).cast("decimal(18,6)")).cast("double").as("sum_val"))
    val redoCount = redo.groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("n_redo_rows"))
    state.join(redoCount, Seq("schema_name", "table_name"))
      .select("schema_name", "table_name", "n_redo_rows", "n_live", "sum_val")
  }

  /**
   * W3 — syncpoint map: per syncpoint ts, the consistent as-of state a
   * downstream reader sees when it queries at that point
   * (cdc/syncpointstore/mysql_syncpoint_store.go:110-180 — the
   * primary-ts → secondary-snapshot table). Twin: a broadcast list of
   * syncpoint tss × the stream, net state per syncpoint via the same
   * compaction algebra keyed by (sp_ts, table key). Monotonicity of
   * n_applied across rows witnesses the map is usable for
   * point-in-time recovery.
   */
  private val SyncTss = Seq(1000500L, 1001000L, 1001500L, 1002000L)

  val syncpoints = GateQuery(
    "q77_syncpoint",
    Some(cte +
      s""", sp AS (SELECT CAST(unnest([${SyncTss.mkString(", ")}]) AS BIGINT) AS sp_ts),
         |split AS (${splitSql("cdc")}),
         |j AS (
         |  SELECT sp.sp_ts, s.* FROM split s JOIN sp ON s.commit_ts <= sp.sp_ts
         |), net AS (${netSql("j", "sp_ts, schema_name, table_name, pk")}),
         |state AS (
         |  SELECT sp_ts, CAST(sum(CASE WHEN net_op <> 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_live,
         |    CAST(coalesce(sum(CASE WHEN net_op <> 'D'
         |      THEN CAST(final_val AS DECIMAL(18,6)) END), 0) AS DOUBLE) AS sum_val
         |  FROM net GROUP BY 1
         |), applied AS (
         |  SELECT sp_ts, count(*) AS n_applied FROM j GROUP BY 1
         |)
         |SELECT s.sp_ts, a.n_applied, s.n_live, s.sum_val
         |FROM state s JOIN applied a ON a.sp_ts = s.sp_ts""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    val sps = SyncTss.toDF("sp_ts")
    val wal = Transforms.updateSplit(CdcStream.derive(spark, dir))
    val j = wal.join(broadcast(sps), col("commit_ts") <= col("sp_ts"))
    val net = Compaction.compact(j,
      keyCols = Seq("sp_ts", "schema_name", "table_name", "pk"))
    val state = net.groupBy("sp_ts").agg(
      sum(when(col("net_op") =!= "D", 1L).otherwise(0L)).as("n_live"),
      coalesce(sum(when(col("net_op") =!= "D",
        col("final_val").cast("decimal(18,6)"))), lit(0).cast("decimal(18,6)"))
        .cast("double").as("sum_val"))
    val applied = j.groupBy("sp_ts").agg(count(lit(1)).as("n_applied"))
    state.join(applied, Seq("sp_ts"))
      .select("sp_ts", "n_applied", "n_live", "sum_val")
  }

  /**
   * G5 — DDL barrier (control-before-rows): deterministic DDL
   * announcements split each table's stream into schema epochs; every
   * row's epoch is the count of its table's DDLs at or below its commit
   * ts, and the epoch's opening barrier ts lower-bounds all its rows
   * (min_ts >= barrier_ts is pinned by the hash). Twin of the streaming
   * path's apply-DDLs-then-rows microbatch ordering
   * (`DdlStream.peel` inside the batch body of
   * [[graft.streaming.Changefeed.start]]).
   */
  private val BarrierDdls = Seq(
    ("tbl_0", 1001500L), ("tbl_0", 1003000L),
    ("tbl_1", 1002500L), ("tbl_2", 1004000L))
  private val barrierValuesSql =
    BarrierDdls.map { case (t, ts) => s"('$t', $ts)" }.mkString(", ")

  val ddlBarrier = GateQuery(
    "q99_ddl_barrier",
    Some(cte +
      s""", ddl(table_name, ddl_ts) AS (VALUES $barrierValuesSql)
         |SELECT table_name, epoch, barrier_ts, count(*) AS n_rows,
         |  min(commit_ts) AS min_ts, max(commit_ts) AS max_ts,
         |  CAST(sum(pk) AS BIGINT) AS sum_pk
         |FROM (
         |  SELECT c.*,
         |    (SELECT count(*) FROM ddl d
         |     WHERE d.table_name = c.table_name AND d.ddl_ts <= c.commit_ts) AS epoch,
         |    coalesce((SELECT max(ddl_ts) FROM ddl d
         |     WHERE d.table_name = c.table_name AND d.ddl_ts <= c.commit_ts), 0) AS barrier_ts
         |  FROM cdc c
         |)
         |GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val ddls = BarrierDdls.toDF("table_name", "ddl_ts")
    graft.streaming.DdlStream.barrierEpochs(CdcStream.derive(spark, dir), ddls)
      .groupBy("table_name", "epoch", "barrier_ts")
      .agg(count(lit(1)).as("n_rows"),
        min(col("commit_ts")).as("min_ts"), max(col("commit_ts")).as("max_ts"),
        sum(col("pk")).as("sum_pk"))
  }

  /**
   * K7 — sink progress / checkpoint = min flushed: each table has flushed
   * a deterministic prefix of its events (seq at or below 7/10 of its max
   * seq); the changefeed checkpoint is the minimum per-table flushed
   * watermark, and n_safe counts the events at or below it. Twin of the
   * table-sink progress tracking behind
   * [[graft.streaming.Sinks.parquetStateSink]]'s batch pointer.
   */
  val sinkProgress = GateQuery(
    "q100_sink_progress",
    Some(cte +
      """, marked AS (
        |  SELECT *, (max(seq) OVER (PARTITION BY schema_name, table_name) * 7) // 10 AS flush_cap
        |  FROM cdc
        |), pt0 AS (
        |  SELECT schema_name, table_name,
        |    CAST(sum(CASE WHEN seq <= flush_cap THEN 1 ELSE 0 END) AS BIGINT) AS n_flushed,
        |    max(CASE WHEN seq <= flush_cap THEN commit_ts END) AS max_flushed,
        |    min(CASE WHEN seq > flush_cap THEN commit_ts END) AS first_unflushed
        |  FROM marked GROUP BY 1, 2
        |), pt AS (
        |  SELECT schema_name, table_name, n_flushed,
        |    CASE WHEN max_flushed IS NULL THEN NULL
        |         WHEN first_unflushed IS NULL THEN max_flushed
        |         ELSE least(max_flushed, first_unflushed - 1) END AS flushed_ts
        |  FROM pt0
        |), cp AS (
        |  SELECT CASE WHEN sum(CASE WHEN flushed_ts IS NULL THEN 1 ELSE 0 END) > 0
        |              THEN NULL ELSE min(flushed_ts) END AS checkpoint_ts
        |  FROM pt
        |)
        |SELECT p.schema_name, p.table_name, p.n_flushed, p.flushed_ts,
        |  cp.checkpoint_ts,
        |  CAST((SELECT count(*) FROM cdc c
        |        WHERE c.schema_name = p.schema_name
        |          AND c.table_name = p.table_name
        |          AND c.commit_ts <= cp.checkpoint_ts) AS BIGINT) AS n_safe
        |FROM pt p CROSS JOIN cp""".stripMargin)) { (spark, dir) =>
    val events = CdcStream.derive(spark, dir)
    val caps = events.groupBy("schema_name", "table_name")
      .agg(expr("max(seq) * 7 div 10").as("flush_cap"))
    val marked = events.join(broadcast(caps), Seq("schema_name", "table_name"))
    graft.streaming.Sinks.sinkProgress(marked, col("seq") <= col("flush_cap"))
      .select("schema_name", "table_name", "n_flushed", "flushed_ts",
        "checkpoint_ts", "n_safe")
  }

  /**
   * W6 — late-data drop (batch twin of Structured Streaming's watermark):
   * event times are deterministically jittered against arrival order, the
   * watermark in force DURING a microbatch is the max event time of all
   * COMPLETED batches minus the delay (exactly how SS advances watermarks
   * between triggers), and rows below it are late. The per-batch max
   * table is control-plane sized, so the running-max window runs over
   * hundreds of rows, not the stream.
   */
  private val WmBatch = 500L
  private val WmDelay = 300L

  val lateData = GateQuery(
    "q104_late_data",
    Some(cte +
      s""", ev AS (
         |  SELECT *, commit_ts + (pk % 7) * 100 - 300 AS et,
         |    commit_ts // $WmBatch AS batch_id
         |  FROM cdc
         |), bmax AS (
         |  SELECT batch_id, max(et) AS bmax FROM ev GROUP BY 1
         |), wm AS (
         |  SELECT batch_id,
         |    max(bmax) OVER (ORDER BY batch_id
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) - $WmDelay AS wm
         |  FROM bmax
         |)
         |SELECT schema_name, table_name, count(*) AS n_total,
         |  CAST(sum(CASE WHEN et < wm THEN 1 ELSE 0 END) AS BIGINT) AS n_late,
         |  CAST(sum(CASE WHEN et < wm THEN 0 ELSE 1 END) AS BIGINT) AS n_kept,
         |  min(CASE WHEN et < wm THEN NULL ELSE et END) AS min_kept_et,
         |  max(CASE WHEN et < wm THEN NULL ELSE et END) AS max_kept_et
         |FROM ev JOIN wm USING (batch_id)
         |GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val ev = CdcStream.derive(spark, dir)
      .withColumn("et", col("commit_ts") + (col("pk") % 7) * 100 - 300)
      .withColumn("batch_id",
        graft.operators.VectorOps.floorDiv(col("commit_ts"), lit(WmBatch)))
    val bmax = ev.groupBy("batch_id").agg(max(col("et")).as("bmax"))
    // single-partition window is fine: one row per microbatch (control
    // plane), not per event
    val wm = bmax.withColumn("wm",
      max(col("bmax")).over(Window.orderBy("batch_id")
        .rowsBetween(Window.unboundedPreceding, -1)) - WmDelay)
      .select("batch_id", "wm")
    val late = col("et") < col("wm")
    ev.join(broadcast(wm), Seq("batch_id"))
      .groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("n_total"),
        sum(when(late, 1L).otherwise(0L)).as("n_late"),
        sum(when(late, 0L).otherwise(1L)).as("n_kept"),
        min(when(late, lit(null)).otherwise(col("et"))).as("min_kept_et"),
        max(when(late, lit(null)).otherwise(col("et"))).as("max_kept_et"))
  }

  /**
   * W4/K1 composition — the redo APPLIER (q111; reference pkg/applier,
   * `cdc redo apply`): checkpoint state seeds a live embedded database,
   * the redo window renders to causality-partitioned SQL and EXECUTES on
   * top of it in SAFE MODE (net inserts re-render as REPLACE — the
   * applier cannot know whether a key already landed before the crash,
   * exactly the reference's forced safe-mode window), and the resulting
   * downstream table state must equal direct compaction to the resolved
   * ts. q76 proves the merge ALGEBRA; this proves the executable path.
   * Sampled by key (pk % 19, both engines) to keep the single-threaded
   * embedded apply gate-sized.
   */
  val redoApply = GateQuery(
    "q111_redo_apply",
    Some(cte +
      s""", split AS (${splitSql(s"(SELECT * FROM cdc WHERE commit_ts <= $ResolvedTs)")}),
         |sampled AS (SELECT * FROM split WHERE pk % 19 = 0),
         |net AS (${netSql("sampled", "schema_name, table_name, pk")})
         |SELECT schema_name, table_name, count(*) AS n_live,
         |  CAST(sum(pk) AS BIGINT) AS sum_pk,
         |  CAST(coalesce(sum(CAST(final_val AS DECIMAL(18,6))), 0) AS DOUBLE) AS sum_val
         |FROM net WHERE net_op <> 'D' GROUP BY 1, 2""".stripMargin), heavy = true) { (spark, dir) =>
    import graft.streaming.{Sinks, SqlApply}
    val wal = Transforms.updateSplit(
        CdcStream.derive(spark, dir)
          .filter(col("pk") % 19 === 0 || col("pk_after") % 19 === 0))
      .filter(col("pk") % 19 === 0 && col("commit_ts") <= ResolvedTs)
      .persist()
    val stage1 = Compaction.compact(wal.filter(col("commit_ts") <= CkptTs))
    val (base, tag) = Gate.freshScratch("graft_redo_apply_", dir)
    // the redo window round-trips through a REAL redo dir (q262's on-disk
    // contract): framed rotate-and-rename logs + flushed meta written by
    // graft.streaming.Redo.writeRedoDir, then the applier resumes from the
    // layout exactly as `cdc redo apply` does — meta window, file
    // selection, frame decode (RedoLayout.Reader). Losslessness of the
    // round-trip is part of what the oracle checks.
    graft.streaming.Redo.writeRedoDir(
      wal.filter(col("commit_ts") > CkptTs).drop("split_part"),
      s"$base/redo", "cap-1", "default", "feed-apply",
      checkpointTs = CkptTs, resolvedTs = ResolvedTs)
    val redoRows = graft.streaming.RedoLayout.Reader.readRows(spark, s"$base/redo")
    // safe mode: the applier re-renders net inserts as REPLACE
    val redo = Compaction.compact(redoRows)
      .withColumn("net_op",
        when(col("net_op") === "I", "R").otherwise(col("net_op")))
    val sqlDir = s"$base/sql"
    Sinks.sqlFileSink(sqlDir)(stage1, 0L) // seed = checkpoint state
    Sinks.sqlFileSink(sqlDir)(redo, 1L)   // then the redo window, safe mode
    val tables = wal.select("schema_name", "table_name").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).toSeq.sorted
    wal.unpersist()
    SqlApply.applyAndReadState(spark, sqlDir, tables,
        dbName = s"graft_redo_$tag")
      .groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("n_live"), sum(col("pk")).as("sum_pk"),
        coalesce(sum(col("final_val").cast("decimal(18,6)")),
          lit(0).cast("decimal(18,6)")).cast("double").as("sum_val"))
  }

  /**
   * A7 — per-table DML metrics (q124; reference table-sink counters behind
   * the Grafana series, cdc sink metrics / dm syncer metrics): the stream
   * splits into 4 deterministic ts-range batches, each runs through the
   * REAL [[graft.streaming.Metrics.withDmlMetrics]] wrapper (one counter
   * row per batch × table × op appended to the metrics table), batch 0 is
   * REPLAYED once (at-least-once delivery), and [[Metrics.totals]] must
   * still equal the plain per-(table, op) counts — the replayed counter
   * rows dedup on (batch_id, table, op).
   */
  val dmlMetrics = GateQuery(
    "q124_dml_metrics",
    Some(cte +
      """, b AS (SELECT min(commit_ts) AS lo, max(commit_ts) AS hi FROM cdc)
        |SELECT schema_name, table_name, op,
        |  CAST(count(*) AS BIGINT) AS total_rows,
        |  CAST(max((commit_ts - lo) * 4 // (hi - lo + 1)) AS BIGINT) AS last_batch
        |FROM cdc, b GROUP BY 1, 2, 3""".stripMargin), heavy = true) { (spark, dir) =>
    import graft.streaming.Metrics
    val ev = CdcStream.derive(spark, dir)
    val r = ev.agg(min(col("commit_ts")), max(col("commit_ts"))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val withB = ev.withColumn("batch_id",
      expr(s"(commit_ts - $lo) * 4 div ${hi - lo + 1}")).persist()
    val (metricsDir, _) = Gate.freshScratch("graft_metrics_", dir)
    val sink = Metrics.withDmlMetrics(spark, metricsDir)((_, _) => ())
    (0L to 3L).foreach { b =>
      sink(withB.filter(col("batch_id") === b).drop("batch_id"), b)
    }
    // at-least-once: redeliver batch 0 whole; totals must not change
    sink(withB.filter(col("batch_id") === 0L).drop("batch_id"), 0L)
    withB.unpersist()
    Metrics.totals(spark, metricsDir)
      .select("schema_name", "table_name", "op", "total_rows", "last_batch")
  }

  /**
   * L1 — changefeed CRUD lifecycle (q125; reference cdc/api/v2 create /
   * pause / resume / delete / status): a REAL ChangefeedManager drives a
   * file-source changefeed through the full lifecycle — create drains the
   * first half of the stream, pause stops the query (checkpoint retained),
   * rows arriving while paused are delivered EXACTLY ONCE on resume, and
   * delete forgets the feed. Each phase pins (manager state, rows
   * delivered in that phase); the oracle recomputes the half-split counts
   * from the plain stream.
   */
  val changefeedCrud = GateQuery(
    "q125_changefeed_crud",
    Some(cte +
      """, b AS (SELECT (min(commit_ts) + max(commit_ts)) // 2 AS mid FROM cdc)
        |SELECT '1_created' AS phase, 'created' AS state,
        |  CAST(count(*) AS BIGINT) AS n_rows FROM cdc, b WHERE commit_ts <= mid
        |UNION ALL SELECT '2_paused', 'paused', CAST(0 AS BIGINT)
        |UNION ALL SELECT '3_resumed', 'created', CAST(count(*) AS BIGINT)
        |  FROM cdc, b WHERE commit_ts > mid
        |UNION ALL SELECT '4_deleted', 'not-found', CAST(0 AS BIGINT)"""
        .stripMargin), heavy = true) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.{ChangefeedManager, ChangefeedSpec}
    val ev = CdcStream.derive(spark, dir)
    val r = ev.agg(min(col("commit_ts")), max(col("commit_ts"))).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val (base, _) = Gate.freshScratch("graft_cf_crud_", dir)
    // phase input 1: first half of the stream lands in the source dir
    ev.filter(col("commit_ts") <= mid)
      .write.mode("append").parquet(s"$base/in")
    val mgr = new ChangefeedManager(spark)
    val outDir = s"$base/out"
    def delivered(): Long =
      try spark.read.parquet(outDir).count() catch { case _: Throwable => 0L }
    val spec = ChangefeedSpec(id = "cf_gate", checkpointDir = s"$base/ckpt",
      splitUpdates = false, compact = false)
    mgr.create(spec, () => spark.readStream.schema(ev.schema)
      .parquet(s"$base/in")) { (b, _) =>
      b.write.mode("append").parquet(outDir)
    }
    val n1 = delivered()
    val state1 = mgr.status("cf_gate")("state").toString
    mgr.pause("cf_gate")
    val statePaused = mgr.status("cf_gate")("state").toString
    // rows arriving while paused: second half appended to the source dir
    ev.filter(col("commit_ts") > mid)
      .write.mode("append").parquet(s"$base/in")
    mgr.resume("cf_gate")
    val n3 = delivered() - n1
    val state3 = mgr.status("cf_gate")("state").toString
    mgr.delete("cf_gate")
    val stateDeleted = mgr.status("cf_gate")("state").toString
    Seq(
      ("1_created", state1, n1),
      ("2_paused", statePaused, 0L),
      ("3_resumed", state3, n3),
      ("4_deleted", stateDeleted, 0L))
      .toDF("phase", "state", "n_rows")
  }

  /**
   * L2 — DM task lifecycle (q129; reference dmctl start-task / pause-task /
   * resume-task / stop-task / query-status, dm/master/server.go): a REAL
   * [[graft.streaming.DmTaskManager]] runs a task parsed from the
   * reference's task-YAML shape in `all` mode — full snapshot load (rows
   * ≤ mid through the same rule pipeline) PLUS the changefeed from the
   * `meta.binlog-pos` resume point — with a block-allow-list that drops
   * one table. Pause retains the checkpoint; rows arriving while paused
   * deliver exactly once on resume; stop-task FORGETS the task (unlike
   * pause). Each phase pins (stage, rows delivered in that phase); the
   * oracle recomputes the windowed counts from the plain stream
   * (key-changing updates weigh 2: update-split emits delete+insert pairs
   * only when pk changes).
   */
  val dmLifecycle = GateQuery(
    "q129_dm_lifecycle",
    Some(cte +
      """, b AS (SELECT (min(commit_ts) + max(commit_ts)) // 2 AS mid,
        |  ((min(commit_ts) + max(commit_ts)) // 2 + max(commit_ts)) // 2 AS q3
        |  FROM cdc)
        |SELECT '1_started' AS phase, 'Running' AS stage,
        |  CAST(sum(CASE WHEN op = 'U' AND pk <> pk_after THEN 2 ELSE 1 END)
        |    AS BIGINT) AS n_rows
        |  FROM cdc, b WHERE table_name <> 'tbl_0' AND commit_ts <= q3
        |UNION ALL SELECT '2_paused', 'Paused', CAST(0 AS BIGINT)
        |UNION ALL SELECT '3_resumed', 'Running',
        |  CAST(sum(CASE WHEN op = 'U' AND pk <> pk_after THEN 2 ELSE 1 END)
        |    AS BIGINT)
        |  FROM cdc, b WHERE table_name <> 'tbl_0' AND commit_ts > q3
        |UNION ALL SELECT '4_stopped', 'not-found', CAST(0 AS BIGINT)"""
        .stripMargin), heavy = true) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.DmTaskManager
    val ev = CdcStream.derive(spark, dir)
    val r = ev.agg(min(col("commit_ts")), max(col("commit_ts"))).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val q3 = (mid + r.getLong(1)) / 2
    val (base, _) = Gate.freshScratch("graft_dm_gate_", dir)
    val yaml =
      s"""name: dm-gate
         |task-mode: all
         |target-database:
         |  sink-uri: "storage://$base/out"
         |mysql-instances:
         |  - source-id: "src-1"
         |    block-allow-list: "ba"
         |    meta:
         |      binlog-pos: $mid
         |block-allow-list:
         |  ba:
         |    ignore-tables:
         |      - db-name: "*"
         |        tbl-name: "tbl_0"
         |syncers:
         |  s1:
         |    compact: false
         |""".stripMargin
    // snapshot = rows at-or-before the resume point; the stream dir holds
    // (mid, q3] at start — binlog-pos keeps the two from overlapping
    ev.filter(col("commit_ts") > mid && col("commit_ts") <= q3)
      .write.mode("append").parquet(s"$base/in")
    val mgr = new DmTaskManager(spark, s"$base/ckpt")
    def delivered(): Long =
      try spark.read.parquet(s"$base/out").count() catch { case _: Throwable => 0L }
    val name = mgr.startTask(yaml,
      snapshotSources = Map("src-1" -> (() => ev.filter(col("commit_ts") <= mid))),
      streamSources = Map("src-1" -> (() => spark.readStream.schema(ev.schema)
        .parquet(s"$base/in"))))
    val n1 = delivered()
    val stage1 = mgr.queryStatus(name).head("stage")
    mgr.pauseTask(name)
    val stagePaused = mgr.queryStatus(name).head("stage")
    // rows arriving while the task is paused
    ev.filter(col("commit_ts") > q3).write.mode("append").parquet(s"$base/in")
    mgr.resumeTask(name)
    val n3 = delivered() - n1
    val stage3 = mgr.queryStatus(name).head("stage")
    mgr.stopTask(name)
    val stageStopped =
      try mgr.queryStatus(name).head("stage")
      catch { case _: NoSuchElementException => "not-found" }
    Seq(
      ("1_started", stage1, n1),
      ("2_paused", stagePaused, 0L),
      ("3_resumed", stage3, n3),
      ("4_stopped", stageStopped, 0L))
      .toDF("phase", "stage", "n_rows")
  }

  /**
   * L2 — handle-error (q131; reference dmctl handle-error skip/replace,
   * dm/syncer err-operator): a poison event makes the downstream apply
   * throw, which pauses the subtask with the error recorded (batch rolls
   * back — nothing delivered). `handle-error skip` drops the event from
   * the source and resume drains cleanly; a SECOND poison pauses the task
   * again, and `handle-error replace` rewrites the event's value (the
   * engine analog of "apply these statements instead"), after which the
   * rewritten row — and only it — carries the replacement value
   * downstream. The checkpoint is untouched throughout, so the failed
   * batch replays through the wrapped source and committed batches never
   * replay.
   */
  private val FixedVal = 424242.5

  val handleError = GateQuery(
    "q131_handle_error",
    Some(cte +
      s""", b AS (SELECT (min(commit_ts) + max(commit_ts)) // 2 AS mid FROM cdc),
         |px AS (SELECT min(CASE WHEN commit_ts <= mid THEN seq END) AS p1,
         |              min(CASE WHEN commit_ts > mid THEN seq END) AS p2
         |       FROM cdc, b WHERE op = 'I'),
         |w1 AS (SELECT sum(CASE WHEN op = 'U' AND pk <> pk_after THEN 2 ELSE 1 END) AS w
         |       FROM cdc, b, px WHERE commit_ts <= mid AND seq <> px.p1),
         |w2 AS (SELECT sum(CASE WHEN op = 'U' AND pk <> pk_after THEN 2 ELSE 1 END) AS w
         |       FROM cdc, b WHERE commit_ts > mid)
         |SELECT '1_start_failed' AS phase, 'Paused' AS stage, 'yes' AS has_error,
         |  CAST(0 AS BIGINT) AS n_rows, CAST(0 AS BIGINT) AS n_fixed
         |UNION ALL SELECT '2_skip_resumed', 'Running', 'no',
         |  (SELECT CAST(w AS BIGINT) FROM w1), CAST(0 AS BIGINT)
         |UNION ALL SELECT '3_poison_again', 'Paused', 'yes',
         |  CAST(0 AS BIGINT), CAST(0 AS BIGINT)
         |UNION ALL SELECT '4_replace_resumed', 'Running', 'no',
         |  (SELECT CAST(w AS BIGINT) FROM w2), CAST(1 AS BIGINT)"""
        .stripMargin), heavy = true) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.DmTaskManager
    val ev = CdcStream.derive(spark, dir)
    val r = ev.agg(min(col("commit_ts")), max(col("commit_ts"))).head()
    val mid = (r.getLong(0) + r.getLong(1)) / 2
    val inserts = ev.filter(col("op") === "I")
    val p1 = inserts.filter(col("commit_ts") <= mid).agg(min("seq")).head().getLong(0)
    val p2 = inserts.filter(col("commit_ts") > mid).agg(min("seq")).head().getLong(0)
    val (base, _) = Gate.freshScratch("graft_dm_err_", dir)
    // poison sink: refuses the two marked events unless carrying the fix
    // value (seq doubles through update-split: insert legs keep 2*seq)
    val poisonSink: (org.apache.spark.sql.DataFrame, Long) => Unit = { (b, _) =>
      val bad = b.filter(col("seq").isin(2 * p1, 2 * p2) &&
        !(col("val_after") <=> lit(FixedVal))).count()
      if (bad > 0) throw new RuntimeException("poison event")
      b.write.mode("append").parquet(s"$base/out")
    }
    def delivered(): Long =
      try spark.read.parquet(s"$base/out").count() catch { case _: Throwable => 0L }
    ev.filter(col("commit_ts") <= mid).write.mode("append").parquet(s"$base/in")
    val mgr = new DmTaskManager(spark, s"$base/ckpt")
    val name = mgr.startTask(
      s"""name: dm-err
         |task-mode: incremental
         |mysql-instances:
         |  - source-id: "src-1"
         |syncers:
         |  s1:
         |    compact: false
         |""".stripMargin,
      streamSources = Map("src-1" -> (() => spark.readStream.schema(ev.schema)
        .parquet(s"$base/in"))),
      sinkOverride = Some(poisonSink))
    def status(): (String, String) = {
      val st = mgr.queryStatus(name).head
      (st("stage"), if (st("error").nonEmpty) "yes" else "no")
    }
    val (st1, er1) = status()
    val n1 = delivered()
    mgr.handleError(name, "src-1", "skip", Seq(p1))
    mgr.resumeTask(name)
    val (st2, er2) = status()
    val n2 = delivered() - n1
    mgr.pauseTask(name)
    ev.filter(col("commit_ts") > mid).write.mode("append").parquet(s"$base/in")
    mgr.resumeTask(name)
    val (st3, er3) = status()
    val n3 = delivered() - n1 - n2
    mgr.handleError(name, "src-1", "replace", Seq(p2),
      replaceValues = Map("val_after" -> lit(FixedVal)))
    mgr.resumeTask(name)
    val (st4, er4) = status()
    val n4 = delivered() - n1 - n2 - n3
    val nFixed = spark.read.parquet(s"$base/out")
      .filter(col("seq") === 2 * p2 && col("val_after") === FixedVal).count()
    mgr.stopTask(name)
    Seq(
      ("1_start_failed", st1, er1, n1, 0L),
      ("2_skip_resumed", st2, er2, n2, 0L),
      ("3_poison_again", st3, er3, n3, 0L),
      ("4_replace_resumed", st4, er4, n4, nFixed))
      .toDF("phase", "stage", "has_error", "n_rows", "n_fixed")
  }

  /**
   * S6 — relay log (q139; reference dm/relay: rotating binlog files,
   * relay.meta position, local_reader start-offset, purger): four
   * ts-quarter batches write through the REAL relay sink with rotation
   * after every batch, so segments align with batches deterministically.
   * The gate then pins: the full read-back, a position-pruned read from
   * mid (whole sealed segments skipped before any row is scanned), an
   * idempotent REPLAY of the last batch (relay.meta dedup — counts must
   * not move), and a purge at mid (sealed segments at-or-below the
   * watermark deleted; everything after mid still readable).
   */
  val relayLog = GateQuery(
    "q139_relay_log",
    Some(cte +
      """, b AS (SELECT (min(commit_ts) + max(commit_ts)) // 2 AS mid FROM cdc)
        |SELECT '1_full' AS phase, count(*) AS n_rows,
        |  CAST(sum(pk) AS BIGINT) AS sum_pk FROM cdc
        |UNION ALL SELECT '2_from_mid', count(*), CAST(sum(pk) AS BIGINT)
        |  FROM cdc, b WHERE commit_ts > mid
        |UNION ALL SELECT '3_replay', count(*), CAST(sum(pk) AS BIGINT) FROM cdc
        |UNION ALL SELECT '4_purged', count(*), CAST(sum(pk) AS BIGINT)
        |  FROM cdc, b WHERE commit_ts > mid""".stripMargin), heavy = true) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.Relay
    val ev = CdcStream.derive(spark, dir)
    val r = ev.agg(min(col("commit_ts")), max(col("commit_ts"))).head()
    val (lo, hi) = (r.getLong(0), r.getLong(1))
    val mid = (lo + hi) / 2
    val (p25, p75) = ((lo + mid) / 2, (mid + hi) / 2)
    val (base, _) = Gate.freshScratch("graft_relay_gate_", dir)
    val relayDir = s"$base/relay"
    val bounds = Seq((Long.MinValue, p25), (p25, mid), (mid, p75),
      (p75, Long.MaxValue))
    bounds.zipWithIndex.foreach { case ((a, b2), i) =>
      Relay.relaySink(spark, relayDir, rotateRows = 1)(
        ev.filter(col("commit_ts") > a && col("commit_ts") <= b2), i.toLong)
    }
    def stats(df: org.apache.spark.sql.DataFrame): (Long, Long) = {
      val s = df.agg(count(lit(1)), coalesce(sum(col("pk")), lit(0L))).head()
      (s.getLong(0), s.getLong(1))
    }
    val full = stats(Relay.readRelay(spark, relayDir))
    val fromMid = stats(Relay.readRelay(spark, relayDir, fromTs = mid))
    // replay of the last durable batch: relay.meta dedup must skip it
    Relay.relaySink(spark, relayDir, rotateRows = 1)(
      ev.filter(col("commit_ts") > p75), 3L)
    val replayed = stats(Relay.readRelay(spark, relayDir))
    Relay.purgeRelay(relayDir, beforeTs = mid)
    val purged = stats(Relay.readRelay(spark, relayDir))
    Seq(("1_full", full._1, full._2), ("2_from_mid", fromMid._1, fromMid._2),
      ("3_replay", replayed._1, replayed._2), ("4_purged", purged._1, purged._2))
      .toDF("phase", "n_rows", "sum_pk")
  }

  // ---- q147: S3 multiplexing puller twin --------------------------------

  private val MuxBatchTs = 100L
  private val MuxSample = "seq % 7 = 0"
  private val MuxDupEvery = 11L // entries re-delivered one round later
  private val MuxLagRegion = 3L // forwards resolved only on even rounds

  /**
   * S3 — the multiplexing puller's merge algebra as a batch twin
   * ([[graft.operators.Multiplex.progress]]; reference
   * cdc/puller/multiplexing_puller.go). Four region streams (pk % 4)
   * deliver the CDC sample in commit-ts rounds; every 11th entry is
   * RE-delivered by its region one round later (the post-error re-scan),
   * and region 3 forwards its resolved-ts only on even rounds (the
   * lagging-region case). The gate pins, per round: raw/accepted/dup
   * counts (first delivery wins), how many regions forwarded, the span
   * frontier (min over per-region running-max watermarks, 0 until all
   * regions initialize), and whether the frontier advanced — the rounds
   * that emit a resolved event downstream. The oracle replays the whole
   * delivery/dedup/frontier fold in SQL.
   */
  val multiplex = GateQuery(
    "q147_multiplex",
    Some(cte +
      s""", ev AS (
         |  SELECT seq, pk % 4 AS region, commit_ts // $MuxBatchTs AS batch,
         |    commit_ts AS ts
         |  FROM cdc WHERE $MuxSample
         |), deliv AS (
         |  SELECT region, batch, seq, ts FROM ev
         |  UNION ALL
         |  SELECT region, batch + 1, seq, ts FROM ev WHERE seq % $MuxDupEvery = 0
         |), d AS (
         |  SELECT *,
         |    NOT (region = $MuxLagRegion AND batch % 2 = 1) AS fwd,
         |    row_number() OVER (PARTITION BY seq ORDER BY batch, region) AS rn
         |  FROM deliv
         |), pb AS (
         |  SELECT batch, count(*) AS n_raw,
         |    sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS n_accepted,
         |    sum(CASE WHEN rn <> 1 THEN 1 ELSE 0 END) AS n_dup
         |  FROM d GROUP BY 1
         |), f AS (
         |  SELECT region, batch, max(ts) AS rts FROM d WHERE fwd GROUP BY 1, 2
         |), grid AS (
         |  SELECT r.region, b.batch
         |  FROM (SELECT DISTINCT region FROM deliv) r
         |  CROSS JOIN (SELECT DISTINCT batch FROM deliv) b
         |), carried AS (
         |  SELECT grid.region, grid.batch, f.rts,
         |    max(f.rts) OVER (PARTITION BY grid.region ORDER BY grid.batch
         |      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS wm
         |  FROM grid LEFT JOIN f USING (region, batch)
         |), fr AS (
         |  SELECT batch,
         |    sum(CASE WHEN rts IS NOT NULL THEN 1 ELSE 0 END) AS n_fwd,
         |    CASE WHEN sum(CASE WHEN wm IS NULL THEN 1 ELSE 0 END) > 0 THEN 0
         |         ELSE min(wm) END AS frontier_ts
         |  FROM carried GROUP BY 1
         |)
         |SELECT CAST(pb.batch AS BIGINT) AS batch,
         |  CAST(n_raw AS BIGINT) AS n_raw,
         |  CAST(n_accepted AS BIGINT) AS n_accepted,
         |  CAST(n_dup AS BIGINT) AS n_dup,
         |  CAST(n_fwd AS BIGINT) AS n_fwd,
         |  CAST(frontier_ts AS BIGINT) AS frontier_ts,
         |  CAST(CASE WHEN frontier_ts >
         |      coalesce(lag(frontier_ts) OVER (ORDER BY pb.batch), 0)
         |    THEN 1 ELSE 0 END AS INT) AS advanced
         |FROM pb JOIN fr ON pb.batch = fr.batch""".stripMargin)) {
    (spark, dir) =>
    import graft.operators.Multiplex
    val ev = CdcStream.derive(spark, dir).filter(expr(MuxSample))
      .select(col("seq"), (col("pk") % 4).as("region"),
        expr(s"commit_ts DIV $MuxBatchTs").as("batch"),
        col("commit_ts").as("ts"))
    val deliveries = ev.unionByName(
        ev.filter(col("seq") % MuxDupEvery === 0)
          .withColumn("batch", col("batch") + 1))
      .withColumn("fwd",
        !(col("region") === MuxLagRegion && col("batch") % 2 === 1))
    Multiplex.progress(deliveries)
  }

  private val DedupDeltaUs = 345_600_000_000L // 4-day suppression window

  /**
   * q199 — `dropDuplicatesWithinWatermark` batch twin
   * ([[graft.operators.Dedup.dedupWithinDelta]]): per (user, event type)
   * the first event anchors a 4-day suppression window; events inside it
   * drop without extending it, the first event past it re-anchors — the
   * exact per-key state SS holds under a 4-day watermark gap.
   * StreamingSpec runs the REAL streaming operator over the same events
   * and pins equality with this fold; the oracle walks every per-key
   * chain through an indexed recursive CTE.
   */
  val watermarkDedup = GateQuery(
    "q199_watermark_dedup",
    Some(
      s"""WITH RECURSIVE e AS (
         |  SELECT user_id, event_type, event_id, epoch_us(ts) AS us,
         |    row_number() OVER (PARTITION BY user_id, event_type
         |      ORDER BY epoch_us(ts), event_id) AS i
         |  FROM events
         |), rec AS (
         |  SELECT user_id, event_type, event_id, us, i,
         |    1 AS kept, us AS anchor
         |  FROM e WHERE i = 1
         |  UNION ALL
         |  SELECT n.user_id, n.event_type, n.event_id, n.us, n.i,
         |    CASE WHEN n.us >= r.anchor + $DedupDeltaUs THEN 1 ELSE 0 END,
         |    CASE WHEN n.us >= r.anchor + $DedupDeltaUs THEN n.us
         |         ELSE r.anchor END
         |  FROM rec r JOIN e n ON n.user_id = r.user_id
         |    AND n.event_type = r.event_type AND n.i = r.i + 1
         |)
         |SELECT event_type, CAST(count(*) AS BIGINT) AS n_kept,
         |  CAST(bit_xor(event_id) AS BIGINT) AS xor_kept
         |FROM rec WHERE kept = 1 GROUP BY 1""".stripMargin)) { (spark, dir) =>
    import graft.core.Tables
    import graft.operators.Dedup
    val e = Tables.load(spark, dir, "events")
      .select(col("user_id"), col("event_type"),
        expr("ts DIV 1000").as("us"), col("event_id"))
    val kept = Dedup.dedupWithinDelta(
      e, Seq("user_id", "event_type"), "us", "event_id", DedupDeltaUs)
    e.select(col("event_id").as("id"), col("event_type"))
      .join(kept.select("id"), "id")
      .groupBy("event_type")
      .agg(count(lit(1)).as("n_kept"), expr("bit_xor(id)").as("xor_kept"))
  }

  /**
   * q239 — simple-protocol bootstrap send cadence
   * ([[graft.streaming.Bootstrap]], reference bootstraper.go:36-150 +
   * config sink.go:85-91): replay the per-table worker over a
   * rate-shaped stream — tbl_0/tbl_1 at full rate (the msg-COUNT trigger
   * trips between ticks), tbl_2/tbl_3 thinned 16× (only the INTERVAL
   * trigger ever fires), and db_1.tbl_1 given periodic dead windows
   * longer than max-inactive (GC removal → the next event re-registers
   * the table and re-sends as NEW). The oracle replays the identical
   * machine as a recursive CTE over the 5 s tick grid: epochs from the
   * GC-gap rule, then per-tick state (lastSend, counted-rows base) with
   * the Go condition order (time first). Send positions pin by count +
   * sum + order-insensitive hash; the all-partition fan-out by
   * n_msgs = n_sends × partitions. The `send-all-bootstrap-at-start`
   * leg adds one 'start' send per current table at t = 0 through the
   * DDL-sink path (worker state untouched — every table still gets its
   * 'new' send), with a planted VIEW that must be skipped
   * (ddl_manager.go:220-222).
   */
  private val BootIntervalMs = 60000L
  private val BootCount = 40L
  private val BootInactMs = 120000L

  val bootstrapCadence = GateQuery(
    "q239_bootstrap_cadence",
    Some(cte.replace("WITH cdc", "WITH RECURSIVE cdc") +
      s""", ev AS (
         |  SELECT schema_name, table_name, seq,
         |    (commit_ts - 1000000) * 400 AS ts,
         |    CAST(1 + (CAST(substr(table_name, 5) AS INT) % 3) AS INT) AS parts
         |  FROM cdc
         |  WHERE (table_name IN ('tbl_0', 'tbl_1') OR seq % 16 = 0)
         |    AND NOT (schema_name = 'db_1' AND table_name = 'tbl_1'
         |             AND (commit_ts - 1000000) % 1250 < 500)
         |), bounds AS (SELECT max(ts) AS horizon FROM ev),
         |evo AS (
         |  SELECT *, lag(ts) OVER (
         |      PARTITION BY schema_name, table_name ORDER BY ts, seq) AS prev_ts
         |  FROM ev
         |), epoched AS (
         |  SELECT *, sum(is_new) OVER (
         |      PARTITION BY schema_name, table_name
         |      ORDER BY ts, seq ROWS UNBOUNDED PRECEDING) AS epoch
         |  FROM (SELECT *, CASE WHEN prev_ts IS NULL THEN 1
         |          WHEN 30000 * ((prev_ts + $BootInactMs) // 30000 + 1) < ts
         |          THEN 1 ELSE 0 END AS is_new
         |        FROM evo)
         |), ebounds AS (
         |  SELECT e.schema_name, e.table_name, e.epoch, e.start_ts, e.parts,
         |    5000 * CASE WHEN e.start_ts % 5000 = 0
         |                THEN greatest(e.start_ts // 5000, 1)
         |                ELSE e.start_ts // 5000 + 1 END AS t0,
         |    least(30000 * ((e.last_ts + $BootInactMs) // 30000 + 1),
         |          5000 * (b.horizon // 5000)) AS tend
         |  FROM (SELECT schema_name, table_name, epoch, min(ts) AS start_ts,
         |          max(ts) AS last_ts, max(parts) AS parts
         |        FROM epoched GROUP BY 1, 2, 3) e, bounds b
         |), ticks AS (
         |  SELECT e.schema_name, e.table_name, e.epoch,
         |    e.t0 + 5000 * g.x AS tick
         |  FROM ebounds e,
         |    LATERAL unnest(range(0, (e.tend - e.t0) // 5000 + 1)) AS g(x)
         |), evbuck AS (
         |  -- bucket each event to the first tick that sees it (ts <= tick,
         |  -- ticks are 5000-aligned); the greatest() pre-rolls events that
         |  -- precede the epoch's first tick (the t0 = max(..,1) quirk) so
         |  -- the cumulative matches the old ticks-x-events inequality join,
         |  -- which was O(ticks*events) and ground for hours at sf0.1
         |  SELECT p.schema_name, p.table_name, p.epoch,
         |    greatest(5000 * ((p.ts + 4999) // 5000), e.t0) AS tb,
         |    count(*) AS c
         |  FROM epoched p JOIN ebounds e
         |    ON e.schema_name = p.schema_name AND e.table_name = p.table_name
         |   AND e.epoch = p.epoch
         |  GROUP BY 1, 2, 3, 4
         |), tickcum AS (
         |  SELECT t.schema_name, t.table_name, t.epoch, t.tick,
         |    CAST(sum(coalesce(b.c, 0)) OVER (
         |      PARTITION BY t.schema_name, t.table_name, t.epoch
         |      ORDER BY t.tick ROWS UNBOUNDED PRECEDING) AS BIGINT) AS r
         |  FROM ticks t LEFT JOIN evbuck b
         |    ON b.schema_name = t.schema_name AND b.table_name = t.table_name
         |   AND b.epoch = t.epoch AND b.tb = t.tick
         |), stepper AS (
         |  SELECT e.schema_name, e.table_name, e.epoch, e.tend,
         |    e.t0 - 5000 AS tick, e.start_ts AS last_send,
         |    CAST(1 AS BIGINT) AS base,
         |    CAST(NULL AS BIGINT) AS send_at, CAST(NULL AS VARCHAR) AS trig
         |  FROM ebounds e
         |  UNION ALL
         |  SELECT s.schema_name, s.table_name, s.epoch, s.tend,
         |    s.tick + 5000,
         |    CASE WHEN s.tick + 5000 - s.last_send >= $BootIntervalMs
         |           OR c.r - s.base >= $BootCount
         |         THEN s.tick + 5000 ELSE s.last_send END,
         |    CASE WHEN s.tick + 5000 - s.last_send >= $BootIntervalMs
         |           OR c.r - s.base >= $BootCount
         |         THEN c.r ELSE s.base END,
         |    CASE WHEN s.tick + 5000 - s.last_send >= $BootIntervalMs
         |           OR c.r - s.base >= $BootCount
         |         THEN s.tick + 5000 ELSE NULL END,
         |    CASE WHEN s.tick + 5000 - s.last_send >= $BootIntervalMs
         |         THEN 'interval'
         |         WHEN c.r - s.base >= $BootCount THEN 'count' END
         |  FROM stepper s JOIN tickcum c
         |    ON c.schema_name = s.schema_name AND c.table_name = s.table_name
         |   AND c.epoch = s.epoch AND c.tick = s.tick + 5000
         |  WHERE s.tick + 5000 <= s.tend
         |), all_sends AS (
         |  SELECT schema_name, table_name, start_ts AS send_ms,
         |    'new' AS trig, parts
         |  FROM ebounds
         |  UNION ALL
         |  SELECT s.schema_name, s.table_name, s.send_at, s.trig, e.parts
         |  FROM stepper s JOIN ebounds e
         |    ON e.schema_name = s.schema_name AND e.table_name = s.table_name
         |   AND e.epoch = s.epoch
         |  WHERE s.send_at IS NOT NULL
         |  UNION ALL
         |  SELECT schema_name, table_name, CAST(0 AS BIGINT), 'start',
         |    max(parts)
         |  FROM ev GROUP BY 1, 2
         |)
         |SELECT schema_name, table_name, trig,
         |  count(*) AS n_sends,
         |  CAST(sum(send_ms) AS BIGINT) AS sum_send_ms,
         |  CAST(bit_xor(${graft.core.Hashing.Sql.portableLong("send_ms")})
         |       AS BIGINT) AS xor_send,
         |  CAST(max(parts) AS INT) AS parts,
         |  CAST(count(*) * max(parts) AS BIGINT) AS n_msgs
         |FROM all_sends GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import graft.streaming.Bootstrap
    import spark.implicits._
    val shaped = CdcStream.derive(spark, dir)
      .filter(col("table_name").isin("tbl_0", "tbl_1") ||
        col("seq") % 16 === 0)
      .filter(!(col("schema_name") === "db_1" &&
        col("table_name") === "tbl_1" &&
        (col("commit_ts") - 1000000L) % 1250 < 500))
      .select(col("schema_name"), col("table_name"),
        ((col("commit_ts") - 1000000L) * 400).as("ts_ms"),
        (lit(1) + expr("CAST(substring(table_name, 5) AS INT) % 3"))
          .cast("int").as("total_partition"))
    val horizon = shaped.agg(max("ts_ms")).head().getLong(0)
    val cfg = Bootstrap.BootstrapConfig(intervalSec = BootIntervalMs / 1000,
      inMsgCount = BootCount.toInt, maxInactiveSec = BootInactMs / 1000)
    // current tables for the at-start leg: the shaped stream's tables
    // plus a planted VIEW the emitter must skip
    val tables = shaped.groupBy("schema_name", "table_name")
      .agg(max("total_partition").as("total_partition"))
      .withColumn("is_view", lit(false))
      .unionByName(Seq(("db_0", "v_gone", 1, true))
        .toDF("schema_name", "table_name", "total_partition", "is_view"))
    Bootstrap.sends(shaped, cfg, horizon)
      .unionByName(Bootstrap.atStartSends(tables, cfg, sendAllAtStart = true))
      .withColumn("h", graft.core.Hashing.portableLong(col("send_ms")))
      .groupBy(col("schema_name"), col("table_name"),
        col("trigger").as("trig"))
      .agg(count(lit(1)).as("n_sends"),
        sum("send_ms").as("sum_send_ms"),
        expr("bit_xor(h)").as("xor_send"),
        max("total_partition").as("parts"))
      .withColumn("n_msgs", (col("n_sends") * col("parts")).cast("long"))
  }

  /**
   * q244 — the /synced decision kernel
   * ([[graft.streaming.SyncedStatus.decide]], changefeed.go:972-1102):
   * per source changefeed the progress marks anchor in the stream
   * (lastSynced = max commit ts; pullerResolved 2 s past it), then a
   * matrix of checkpoint lags {2 s behind, at lastSynced, idle-advanced
   * 3.2 s past} × clock offsets {1 s, 3.5 s after lastSynced} × PD
   * up/down drives every branch: strict-sync (case 2), the
   * suspect-PD/TiKV vs plain-wait split of a stale checkpoint (case 3),
   * recent-writes wait (case 4), and both PD-unavailable messages
   * (case 1). SCI = 3 s, CI = 1 s for the matrix; oracle = the same
   * decision as a CASE chain over the same stream-derived anchors.
   */
  val syncedStatus = GateQuery(
    "q244_synced_status",
    Some(cte +
      """, marks AS (
        |  SELECT source_id, max(commit_ts) AS last_synced,
        |    max(commit_ts) + 2000 AS puller_resolved
        |  FROM cdc GROUP BY source_id
        |), matrix AS (
        |  SELECT m.source_id, m.last_synced, m.puller_resolved,
        |    m.last_synced + ck.d AS ckpt, m.last_synced + nw.d AS now,
        |    pd.up AS pd_up
        |  FROM marks m,
        |    (SELECT unnest([-2000, 0, 3200]) AS d) ck,
        |    (SELECT unnest([1000, 3500]) AS d) nw,
        |    (SELECT unnest([0, 1]) AS up) pd
        |)
        |SELECT source_id, ckpt - last_synced AS ckpt_lag,
        |  now - last_synced AS now_lag, pd_up,
        |  CASE WHEN pd_up = 0 THEN 0
        |       WHEN now - last_synced > 3000 AND now - ckpt < 1000 THEN 1
        |       ELSE 0 END AS synced,
        |  CASE WHEN pd_up = 0 THEN
        |         CASE WHEN puller_resolved - ckpt > 1000
        |              THEN 'pd-unavailable-behind'
        |              ELSE 'pd-unavailable-check' END
        |       WHEN now - last_synced > 3000 AND now - ckpt < 1000
        |         THEN 'synced'
        |       WHEN now - last_synced > 3000 THEN
        |         CASE WHEN puller_resolved - ckpt < 1000
        |              THEN 'check-pd-tikv' ELSE 'wait' END
        |       ELSE 'wait' END AS info
        |FROM matrix""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.SyncedStatus
    val cfg = SyncedStatus.SyncedConfig(syncedCheckIntervalSec = 3,
      checkpointIntervalSec = 1)
    val marks = CdcStream.derive(spark, dir)
      .groupBy("source_id").agg(max("commit_ts").as("last_synced"))
      .collect() // one row per source changefeed — control-plane sized
      .map(r => (r.getInt(0), r.getLong(1)))
    val rows = for {
      (src, last) <- marks.toSeq
      ckLag <- Seq(-2000L, 0L, 3200L)
      nowLag <- Seq(1000L, 3500L)
      pdUp <- Seq(false, true)
    } yield {
      val (synced, info) = SyncedStatus.decide(last + nowLag, last,
        last + ckLag, last + 2000L, cfg, pdAvailable = pdUp)
      (src, ckLag, nowLag, if (pdUp) 1 else 0,
        if (synced) 1 else 0, info)
    }
    rows.toDF("source_id", "ckpt_lag", "now_lag", "pd_up", "synced", "info")
  }

  /**
   * W1/G5 — the owner barrier at the MICROBATCH BOUNDARY
   * (`DdlStream.peel`'s control step — ddl_manager.go:508-584
   * wired into foreachBatch; the live path is exercised in
   * StreamingSpec): four batch windows over the cdc stream, each with its
   * announced-but-unexecuted textual DDLs classified through the REAL
   * parser by the control step's own function
   * ([[graft.streaming.OwnerBarrier.ofTextDdls]]). Per batch the feed's
   * clamp record: resolved (data-derived max commit ts), the global
   * barrier held at a create_table's commit ts (batch 2 — and, redo ON,
   * the redo resolved ts held there too, exactly ddl_manager.go:521-526's
   * new-physical-table rule), per-table min barriers for the non-global
   * DDLs, and the lift once nothing is pending (batch 4). DDL timestamps
   * are fractions of the data span so every value is data-anchored.
   */
  val barrierClamp = GateQuery(
    "q274_barrier_clamp",
    Some(cte +
      s""", bounds AS (SELECT min(commit_ts) AS tmin, max(commit_ts) AS tmax FROM cdc),
         |ddl AS (
         |  SELECT v.action, v.tbl,
         |    b.tmin + (b.tmax - b.tmin) * v.num // 8 + v.off AS ts,
         |    v.is_global, v.is_redo
         |  FROM (VALUES
         |    ('add_column',    'tbl_0', 1, 0, 0, 0),
         |    ('create_table',  'tbl_9', 3, 0, 1, 1),
         |    ('modify_column', 'tbl_0', 5, 0, 0, 0),
         |    ('drop_table',    'tbl_1', 5, 1, 0, 0)
         |  ) v(action, tbl, num, off, is_global, is_redo), bounds b),
         |cuts AS (
         |  SELECT k, b.tmin + (b.tmax - b.tmin) * (k - 1) // 4 AS prev,
         |    b.tmin + (b.tmax - b.tmin) * k // 4 AS cut
         |  FROM (SELECT unnest([1, 2, 3, 4]) AS k), bounds b),
         |res AS (
         |  SELECT c.k, c.prev, c.cut,
         |    (SELECT max(commit_ts) FROM cdc WHERE commit_ts <= c.cut) AS resolved
         |  FROM cuts c)
         |SELECT CAST(r.k AS BIGINT) AS batch, r.resolved,
         |  least(r.resolved, coalesce((SELECT min(ts) FROM ddl d
         |    WHERE d.is_global = 1 AND d.ts > r.prev AND d.ts <= r.cut),
         |    r.resolved)) AS global_ts,
         |  least(r.resolved, coalesce((SELECT min(ts) FROM ddl d
         |    WHERE d.ts > r.prev AND d.ts <= r.cut), r.resolved)) AS min_table_ts,
         |  least(r.resolved, coalesce((SELECT min(ts) FROM ddl d
         |    WHERE d.is_redo = 1 AND d.ts > r.prev AND d.ts <= r.cut),
         |    r.resolved)) AS redo_on_ts,
         |  r.resolved AS redo_off_ts,
         |  (SELECT count(DISTINCT d.tbl) FROM ddl d
         |   WHERE d.is_global = 0 AND d.ts > r.prev AND d.ts <= r.cut) AS n_tb
         |FROM res r""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.OwnerBarrier
    val cdc = CdcStream.derive(spark, dir)
    val bounds = cdc.agg(min("commit_ts"), max("commit_ts")).head()
    val (tmin, tmax) = (bounds.getLong(0), bounds.getLong(1))
    def at(num: Long, off: Long) = tmin + (tmax - tmin) * num / 8 + off
    // announced DDLs as SQL TEXT (sql, ts, schema, table) — classified by
    // the function the streaming boundary's control step calls
    val ddls = Seq(
      ("ALTER TABLE db.tbl_0 ADD COLUMN c2 BIGINT", at(1, 0), "db", "tbl_0"),
      ("CREATE TABLE db.tbl_9 (pk BIGINT, val DOUBLE)", at(3, 0), "db", "tbl_9"),
      ("ALTER TABLE db.tbl_0 MODIFY COLUMN val BIGINT", at(5, 0), "db", "tbl_0"),
      ("DROP TABLE db.tbl_1", at(5, 1), "db", "tbl_1"))
    val cuts = (1 to 4).map(k =>
      (k, tmin + (tmax - tmin) * (k - 1) / 4, tmin + (tmax - tmin) * k / 4))
    val res = cdc.agg(
      max(when(col("commit_ts") <= cuts(0)._3, col("commit_ts"))).as("r1"),
      cuts.tail.map { case (k, _, c) =>
        max(when(col("commit_ts") <= c, col("commit_ts"))).as(s"r$k")
      }: _*).head()
    val out = cuts.map { case (k, prev, cut) =>
      val resolved = res.getAs[Long](s"r$k")
      val pending = ddls.filter(d => d._2 > prev && d._2 <= cut)
      val on = OwnerBarrier.ofTextDdls(resolved, pending, redoEnabled = true, "db")
      val off = OwnerBarrier.ofTextDdls(resolved, pending, redoEnabled = false, "db")
      (k.toLong, resolved, on.globalBarrierTs, on.minTableBarrierTs,
        on.redoBarrierTs, off.redoBarrierTs, on.tableBarriers.size.toLong)
    }
    out.toDF("batch", "resolved", "global_ts", "min_table_ts", "redo_on_ts",
      "redo_off_ts", "n_tb")
  }

  def all: Seq[GateQuery] =
    Seq(checkpointResume, optimisticLattice, redoReplay, syncpoints,
      ddlBarrier, sinkProgress, lateData, redoApply, dmlMetrics,
      changefeedCrud, dmLifecycle, handleError, relayLog, multiplex,
      watermarkDedup, bootstrapCadence, syncedStatus, barrierClamp)
}
