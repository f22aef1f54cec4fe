package perfbench

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.BenchMetrics
import graft.diff.ChunkDiff
import graft.operators.Compaction
import graft.streaming.{Changefeed, ChangefeedSpec, DdlStream, Sinks, SqlApply}

/** What one timed round produced. `ops` are per-op latencies in ms. */
final case class RoundOut(wallNs: Long, ops: Seq[Double], rows: Long,
    outBytes: Long, dir: String, queryIds: Seq[String] = Nil)

final case class Check(ok: Boolean, detail: String)

/** Per-layer readings of a traced run, and why any layer is absent. */
final case class Layers(values: Map[String, Double], absent: Map[String, String])

/** A workload's inputs, written and ready; everything the timed loop runs. */
trait Prepared {
  /** Ops one round attempts (microbatches of a drain, or one check). */
  def opsPerRound: Int
  /** Rounds a run makes even when the time is up, so op counts (and with
    * them the tail percentile) stay steady from run to run, and the median
    * round has neighbours on both sides. */
  def minRounds: Int
  /** Untimed rounds run before timing starts, so the JIT has compiled the
    * driver's planning code. */
  def warmRounds: Int
  /** One untimed round (or a shorter one) run before timing starts. */
  def warmUp(dir: String): Unit
  def round(dir: String, trace: Option[Trace], defect: Boolean): RoundOut
  /** Output check, outside the timed region. */
  def check(last: RoundOut): Check
  def layers(trace: Trace, rounds: Seq[RoundOut]): Layers
}

trait Workload {
  def name: String
  def setup(spark: SparkSession, seed: Long, dir: String): Prepared
}

object Workloads {
  val Names = Seq("feed_catchup_state", "feed_bulk_mysql", "diff_sync_check")

  def named(name: String, scale: String): Workload = {
    require(Set("standard", "tiny")(scale), s"unknown scale $scale")
    val tiny = scale == "tiny"
    name match {
      case "feed_catchup_state" => Feed(name,
        Inputs.FeedShape(rows = if (tiny) 1200 else 3000, batches = 3,
          keySpace = if (tiny) 400 else 1500, updatePct = 40,
          deletePct = 15, churnPct = 5, txnSize = 4, ddlEvery = 2),
        allOptions = true, scheme = "state", stateBuckets = 8,
        warmBatches = 3, warmRounds = 1, minRounds = if (tiny) 1 else 3)
      case "feed_bulk_mysql" => Feed(name,
        Inputs.FeedShape(rows = if (tiny) 8000 else 120000, batches = 4,
          keySpace = if (tiny) 80 else 1200, updatePct = 90, deletePct = 0,
          churnPct = 0, txnSize = 8, ddlEvery = 0),
        allOptions = false, scheme = "mysql", stateBuckets = 0,
        warmBatches = 1, warmRounds = 2, minRounds = 1)
      case "diff_sync_check" => SyncCheck(
        Inputs.DiffShape(rows = if (tiny) 20000 else 600000, chunks = 64,
          clusters = 4, clusterRows = 150, stride = 3),
        warmRounds = 2, minRounds = 3)
      case other => throw new IllegalArgumentException(
        s"unknown workload $other (known: ${Names.mkString(", ")})")
    }
  }

  /** Median wall ms of `reps` runs of `f`. */
  def timeMs(reps: Int)(f: => Unit): Double =
    Stats.median((1 to reps).map { _ =>
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e6
    })

  def absent(names: Seq[String], why: String): Map[String, String] =
    names.map(_ -> why).toMap
}

/**
 * A changefeed drained in catch-up mode: an `AvailableNow` query over a
 * backlog written beforehand, one backlog file per microbatch. Each round
 * drains the whole backlog into fresh checkpoint and sink directories.
 */
final case class Feed(name: String, shape: Inputs.FeedShape,
    allOptions: Boolean, scheme: String, stateBuckets: Int, warmBatches: Int,
    warmRounds: Int, minRounds: Int)
    extends Workload {

  def setup(spark: SparkSession, seed: Long, dir: String): Prepared =
    new FeedRun(spark, this, Inputs.writeBacklog(spark, seed, shape, s"$dir/backlog"))
}

final class FeedRun(spark: SparkSession, w: Feed, backlog: Backlog)
    extends Prepared {
  private val keys = Seq("target_schema", "target_table", "pk")
  private val stateCols = Seq("schema_name", "table_name", "pk", "final_val")

  def opsPerRound: Int = backlog.files.size
  def minRounds: Int = w.minRounds
  def warmRounds: Int = w.warmRounds

  private def spec(dir: String): ChangefeedSpec = {
    def opt(sub: String) = if (w.allOptions) Some(s"$dir/$sub") else None
    ChangefeedSpec(id = w.name, checkpointDir = s"$dir/checkpoint",
      metricsDir = opt("metrics"), textDdlRegistryDir = opt("ddl"),
      barrierDir = opt("barrier"), redoEnabled = w.allOptions)
  }

  private def sinkDir(dir: String) = s"$dir/sink"

  private def outBytes(dir: String): Long = w.scheme match {
    case "state" => Sinks.stateVersions(sinkDir(dir)).toSeq.map { case (b, v) =>
        Fs.bytes(Paths.get(s"${sinkDir(dir)}/b$b/v$v"), ".parquet")
      }.sum
    case _ => Fs.bytes(Paths.get(sinkDir(dir)), ".sql")
  }

  private def drain(b: Backlog, dir: String, trace: Option[Trace],
      defect: Boolean): RoundOut = {
    val sc = spark.sparkContext
    val inner: (DataFrame, Long) => Unit = w.scheme match {
      // the state:// sink, with its bucket count sized to the state
      case "state" => Sinks.parquetStateSink(spark, sinkDir(dir),
        numBuckets = w.stateBuckets) _
      case s => Sinks.forUri(spark, s"$s://${sinkDir(dir)}")
    }
    val sink: (DataFrame, Long) => Unit = (df, id) =>
      // the planted defect: a sink that silently drops one microbatch
      if (defect && id == 1) ()
      else trace match {
        case Some(t) =>
          t.span("sinks", sc.getLocalProperty("sql.streaming.queryId"), id)(
            inner(df, id))
        case None => inner(df, id)
      }
    val src = spark.readStream.schema(b.schema)
      .option("maxFilesPerTrigger", 1).parquet(b.dir)
    val t0 = System.nanoTime()
    val q = Changefeed.start(spark, src, spec(dir))(sink)
    try q.awaitTermination() finally q.stop()
    val wall = System.nanoTime() - t0
    val ops = q.recentProgress.toSeq
      .filter(_.durationMs.containsKey("addBatch"))
      .map(_.durationMs.get("triggerExecution").doubleValue)
    RoundOut(wall, ops, b.rows, outBytes(dir), dir, Seq(q.id.toString))
  }

  def warmUp(dir: String): Unit = {
    drain(Inputs.prefix(backlog, w.warmBatches, s"$dir/backlog"), dir, None,
      defect = false)
    ()
  }

  def round(dir: String, trace: Option[Trace], defect: Boolean): RoundOut =
    drain(backlog, dir, trace, defect)

  /** The whole backlog as one batch DataFrame, without DDL rows, tagged
    * with the microbatch (`_b`) each row belongs to. */
  private def allRows: DataFrame =
    spark.read.schema(backlog.schema).parquet(backlog.dir)
      .filter(col("op") =!= DdlStream.DdlOp)
      .withColumn("_b", regexp_extract(input_file_name(), "batch-(\\d+)", 1)
        .cast("int"))

  /** Expected sink state: the same public operators over the whole input. */
  private def reference: DataFrame =
    Compaction.compact(Changefeed.pipeline(allRows.drop("_b"), spec("")), keys)
      .filter(col("net_op") =!= "D")
      .select(col("target_schema").as("schema_name"),
        col("target_table").as("table_name"), col("pk"), col("final_val"))

  def check(last: RoundOut): Check = try {
    val got = w.scheme match {
      case "state" =>
        val s = Sinks.readState(spark, sinkDir(last.dir))
        if (s.columns.isEmpty) reference.limit(0) else s.select(stateCols.map(col): _*)
      case _ => SqlApply.applyAndReadState(spark, sinkDir(last.dir),
        Inputs.Tables.map("gen" -> _),
        dbName = s"perfbench_${ProcessHandle.current.pid}")
    }
    val ref = reference
    val missing = ref.exceptAll(got).count()
    val extra = got.exceptAll(ref).count()
    Check(missing == 0 && extra == 0,
      s"${ref.count()} reference rows; $missing missing or different, $extra unexpected")
  } catch { case e: Exception => Check(false, s"check failed: $e") }

  /** Rows a sink got from one round: net effects per key per microbatch. */
  private def delivered(piped: DataFrame): Long =
    Compaction.compact(piped, keys :+ "_b").count()

  def layers(t: Trace, rounds: Seq[RoundOut]): Layers = {
    val qids = rounds.flatMap(_.queryIds).toSet
    val prog = t.progressList.filter(p =>
      qids(p.id.toString) && p.durationMs.containsKey("addBatch"))
    val nb = math.max(1, prog.size).toDouble
    def dur(p: org.apache.spark.sql.streaming.StreamingQueryProgress,
        ks: String*): Double =
      ks.map(k => Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0d)).sum
    def med(ks: String*) = Stats.median(prog.map(dur(_, ks: _*)))
    val busy = t.spanList.filter(_.layer == "sinks")
      .map(s => (s.name, s.batch) -> s.ms).toMap
    val batchJob = (j: JobRec) => qids(j.queryId) && j.batchId >= 0
    val sinkStages = t.stagesOf(_.layer == "sinks")
    val r = rounds.size.toDouble

    val piped = Changefeed.pipeline(allRows, spec("")).persist()
    val pipedRows = piped.count()
    val perRound = delivered(piped)
    val pipelineMs = Workloads.timeMs(3)(
      BenchMetrics.materialize(Changefeed.pipeline(allRows, spec(""))))
    val compactMs = Workloads.timeMs(3)(
      BenchMetrics.materialize(Compaction.compact(piped, keys :+ "_b")))
    piped.unpersist()

    val last = rounds.last
    val sink: Map[String, Double] = w.scheme match {
      case "state" => Map(
        "sinks.write_amp" -> sinkStages.map(_.recordsOut).sum / (perRound * r),
        "sinks.buckets_per_batch" ->
          Sinks.stateVersions(sinkDir(last.dir)).values.map(_ + 1).sum / nb * r,
        "sinks.bytes_written_mb" -> sinkStages.map(_.bytesOut).sum / 1e6 / r)
      case _ => Map(
        "sinks.write_amp" -> sqlRows(sinkDir(last.dir)).toDouble / perRound,
        "sinks.bytes_written_mb" -> last.outBytes / 1e6)
    }
    val values = sink ++ Map(
      "changefeed.source_reread" -> prog.map(_.numInputRows).sum / (backlog.rows * r),
      "changefeed.jobs_per_batch" -> t.jobList.count(batchJob) / nb,
      "changefeed.stages_per_batch" -> t.stagesOf(batchJob).size / nb,
      "changefeed.add_ms" -> med("addBatch"),
      "changefeed.control_ms" -> Stats.median(prog.map(p =>
        dur(p, "addBatch") - busy.getOrElse((p.id.toString, p.batchId), 0d))),
      "changefeed.plan_ms" -> med("queryPlanning"),
      "changefeed.offsets_ms" -> med("latestOffset", "getBatch"),
      "changefeed.commit_ms" -> med("walCommit", "commitOffsets"),
      "sinks.busy_ms" -> Stats.median(busy.values.toSeq),
      "operators.pipeline_ms" -> pipelineMs,
      "operators.compact_ms" -> compactMs,
      "operators.compact_fold" -> perRound.toDouble / math.max(1L, pipedRows))
    val noBuckets =
      if (w.scheme == "state") Map.empty[String, String]
      else Map("sinks.buckets_per_batch" -> "the mysql sink keeps no bucketed state")
    Layers(values, noBuckets ++ Workloads.absent(SyncCheck.LayerNames,
      "a changefeed workload runs no sync check"))
  }

  /** Row images in the rendered SQL: VALUES tuples and DELETE keys. */
  private def sqlRows(dir: String): Long = {
    val files = Option(new java.io.File(dir).listFiles()).getOrElse(Array.empty)
      .filter(_.getName.endsWith(".sql"))
    files.iterator.flatMap(f => Files.readAllLines(f.toPath).asScala).map { l =>
      if (l.startsWith("DELETE")) l.count(_ == ',') + 1L
      else l.split("\\), \\(", -1).length.toLong
    }.sum
  }
}

object FeedRun {
  val LayerNames: Seq[String] = Seq("changefeed.source_reread",
    "changefeed.jobs_per_batch", "changefeed.stages_per_batch",
    "changefeed.add_ms", "changefeed.control_ms", "changefeed.plan_ms",
    "changefeed.offsets_ms", "changefeed.commit_ms", "sinks.busy_ms",
    "sinks.write_amp", "sinks.buckets_per_batch", "sinks.bytes_written_mb",
    "operators.pipeline_ms", "operators.compact_ms", "operators.compact_fold")
}

/**
 * sync_diff over a generated table pair: chunk checksums on both sides,
 * the mismatched chunks, a row diff restricted to them, then fix-SQL.
 * One round is one table-pair check.
 */
final case class SyncCheck(shape: Inputs.DiffShape, warmRounds: Int,
    minRounds: Int)
    extends Workload {
  def name: String = "diff_sync_check"
  def setup(spark: SparkSession, seed: Long, dir: String): Prepared =
    new SyncRun(spark, this, Inputs.writeDiffTables(spark, seed, shape, dir))
}

object SyncCheck {
  val LayerNames: Seq[String] = Seq("diff.checksum_ms", "diff.bad_chunk_share",
    "diff.rowdiff_ms", "diff.rowdiff_hit", "diff.fixsql_ms")
}

final class SyncRun(spark: SparkSession, w: SyncCheck, t: DiffTables)
    extends Prepared {
  import spark.implicits._

  def opsPerRound: Int = 1
  def minRounds: Int = w.minRounds
  def warmRounds: Int = w.warmRounds

  private val found = collection.mutable.Map.empty[String, Set[(Long, String)]]
  private var lastBad: Seq[(Long, Long)] = Nil

  private def canon(df: DataFrame): Seq[Column] =
    Seq(col("id"), col("k"), col("v").cast("decimal(20,2)"), col("s"))

  private def restrict(df: DataFrame, ranges: Seq[(Long, Long)]): DataFrame =
    df.filter(ranges.map { case (lo, hi) => col("id").between(lo, hi) }
      .reduce(_ || _))

  /** Key range of every chunk whose (count, checksum) differs. */
  private def mismatched(a: Array[org.apache.spark.sql.Row],
      b: Array[org.apache.spark.sql.Row]): Seq[(Long, Long)] = {
    def byChunk(rs: Array[org.apache.spark.sql.Row]) = rs.map(r =>
      r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3), r.getLong(4))).toMap
    val (x, y) = (byChunk(a), byChunk(b))
    (x.keySet ++ y.keySet).toSeq.sorted.flatMap { c =>
      (x.get(c), y.get(c)) match {
        case (Some(p), Some(q)) if p._1 == q._1 && p._2 == q._2 => None
        case (p, q) =>
          val both = p.toSeq ++ q.toSeq
          Some((both.map(_._3).min, both.map(_._4).max))
      }
    }
  }

  def warmUp(dir: String): Unit = { round(dir, None, defect = false); () }

  def round(dir: String, trace: Option[Trace], defect: Boolean): RoundOut = {
    def step[A](name: String)(f: => A): A =
      trace.fold(f)(_.span("diff", name)(f))
    Files.createDirectories(Paths.get(dir))
    val t0 = System.nanoTime()
    val src = spark.read.parquet(t.src)
    val dst = spark.read.parquet(t.dst)
    def sums(df: DataFrame) = ChunkDiff.chunkChecksums(df, Seq(col("id")),
        w.shape.chunks, canon(df))
      .select("chunk_id", "cnt", "checksum", "chunk_lo", "chunk_hi").collect()
    val bad = step("checksum")(mismatched(sums(src), sums(dst)))
    val diffs = step("rowdiff") {
      if (bad.isEmpty) Array.empty[(Long, String)]
      else ChunkDiff.rowDiff(restrict(src, bad), restrict(dst, bad), Seq("id"),
          canon).select(col("id"), col("diff_type")).as[(Long, String)].collect()
    }
    // the planted defect: a check that loses one difference
    val kept = if (defect) diffs.sorted.drop(1) else diffs
    val fix = step("fixsql") {
      if (kept.isEmpty) Array.empty[String]
      else ChunkDiff.fixSql(kept.toSeq.toDF("id", "diff_type")
          .join(restrict(src, bad), Seq("id"), "left"), "bench.src", Seq("id"),
          Seq(col("id").cast("string"), col("k").cast("string"),
            col("v").cast("decimal(20,2)").cast("string"),
            concat(lit("'"), col("s"), lit("'"))))
        .select("fix_sql").as[String].collect().sorted
    }
    val out = Paths.get(dir, "fix.sql")
    Files.write(out, fix.toSeq.asJava)
    val wall = System.nanoTime() - t0
    found(dir) = kept.toSet
    lastBad = bad
    RoundOut(wall, Seq(wall / 1e6), t.srcRows + t.dstRows, Files.size(out), dir)
  }

  def check(last: RoundOut): Check = {
    val got = found.getOrElse(last.dir, Set.empty)
    val missed = t.planted -- got
    val spurious = got -- t.planted
    Check(missed.isEmpty && spurious.isEmpty,
      s"${t.planted.size} planted differences; ${missed.size} missed, " +
        s"${spurious.size} spurious")
  }

  def layers(tr: Trace, rounds: Seq[RoundOut]): Layers = {
    def med(name: String) = Stats.median(
      tr.spanList.filter(s => s.layer == "diff" && s.name == name).map(_.ms))
    val joined =
      if (lastBad.isEmpty) 0L
      else restrict(spark.read.parquet(t.src), lastBad).count() +
        restrict(spark.read.parquet(t.dst), lastBad).count()
    val hits = (found.getOrElse(rounds.last.dir, Set.empty) & t.planted).size
    Layers(Map(
      "diff.checksum_ms" -> med("checksum"),
      "diff.bad_chunk_share" -> lastBad.size.toDouble / w.shape.chunks,
      "diff.rowdiff_ms" -> med("rowdiff"),
      "diff.rowdiff_hit" -> hits.toDouble / math.max(1L, joined),
      "diff.fixsql_ms" -> med("fixsql")),
      Workloads.absent(FeedRun.LayerNames,
        "a sync check runs no changefeed, sink or changefeed operator"))
  }
}
