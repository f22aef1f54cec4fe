package graft.streaming

import java.nio.file.{Files, Paths}
import graft.core.FileOps
import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.storage.StorageLevel

/**
 * foreachBatch sinks (SURVEY.md §2.8). Each receives a compacted net-effect
 * microbatch (net_op ∈ I/U/D/R per key) and applies it idempotently —
 * replaying a batch after a restart converges to the same state, which is
 * how Structured Streaming's at-least-once foreachBatch becomes effectively
 * exactly-once (tiflow reaches the same place via checkpointTs + safe-mode
 * REPLACE, dm/syncer/checkpoint.go:538-800).
 */
object Sinks {

  /**
   * Sink-URI factory — the reference's `--sink-uri` scheme switch
   * (cdc/api/v2/changefeed.go verifyCreateChangefeedConfig → sink factory).
   * Schemes: `storage://dir` (date-partitioned files), `mysql://dir`
   * (multi-row SQL, socket stubbed to .sql files per SURVEY K1),
   * `state://dir` (bucketed table state), `kafka://` and `kafka+ssl://`
   * ([[kafkaSink]]), `blackhole://` (reads every row and drops it, through
   * Spark's `noop` writer, as the reference's blackhole sink consumes
   * every event), each dir being the URI's [[SinkUri.location]].
   */
  def forUri(spark: SparkSession, uri: String): (DataFrame, Long) => Unit = {
    val u = SinkUri(uri)
    u.invalid.foreach(e =>
      throw new IllegalArgumentException(s"malformed sink uri: $uri: $e"))
    u.scheme match {
      case "" => throw new IllegalArgumentException(s"malformed sink uri: $uri")
      case "storage" =>
        // K4 option surface (pkg/sink/cloudstorage/config.go via
        // [[StorageOptions]]): a bad worker-count or flush-interval
        // rejects the changefeed CREATE; the clamp/reset repairs are pure
        orReject(StorageOptions(Map.empty, u.params))
        storageSink(u.location) _
      case "mysql" | "mysql+ssl" | "tidb" | "tidb+ssl" =>
        // K1 option surface (pkg/sink/mysql/config.go via [[MySqlOptions]]):
        // bad params reject the changefeed CREATE, the adjusted knobs drive
        // the SQL generator — max-txn-row bounds each multi-row statement,
        // worker-count is the causality-slot parallelism
        val serverTz = spark.conf.get("spark.sql.session.timeZone", "UTC")
        val adj = orReject(MySqlOptions(serverTz, Map.empty, u.params)).options
        sqlFileSink(u.location, maxTxnRow = adj.maxTxnRow,
          numPartitions = adj.workerCount) _
      case "state"     => parquetStateSink(spark, u.location)
      case "kafka" | "kafka+ssl" => kafkaSink(spark, u)
      case "blackhole" =>
        (b, _) => b.write.format("noop").mode(SaveMode.Overwrite).save()
      case other => throw new IllegalArgumentException(s"unsupported sink scheme: $other")
    }
  }

  /** An option surface's `Left((errClass, message))` rejects the
    * changefeed CREATE. */
  private def orReject[A](r: Either[(String, String), A]): A =
    r.fold({ case (err, msg) => throw new IllegalArgumentException(s"$err: $msg") },
      identity)

  /**
   * K2 — the Kafka sink URI path with the REAL option surface
   * (pkg/sink/kafka/options.go via [[KafkaOptions]]): params parse and
   * validate at changefeed creation (a bad `partition-num` or
   * `required-acks` rejects the create — the reference's
   * verifyCreateChangefeedConfig behavior), then the producer options
   * auto-adjust against the cluster metadata. Sockets are out of scope,
   * so the topic materializes as a local dir (`dir` param) and the
   * cluster metadata is declared (`broker-message-max-bytes` param,
   * defaulting to Kafka's stock `message.max.bytes` 1048588; the topic is
   * treated as absent → the broker cap and the partition-num default-3
   * rule apply). Every batch enforces the ADJUSTED `max-message-bytes`
   * the way the producer's size check does — oversize records fail the
   * batch loudly instead of truncating silently.
   */
  def kafkaSink(spark: SparkSession, u: SinkUri): (DataFrame, Long) => Unit = {
    import graft.streaming.{KafkaOptions => KO}
    val o0 = orReject(KO.fromUri(u))
    val topic = Some(u.path.stripPrefix("/")).filter(_.nonEmpty)
      .getOrElse(throw new IllegalArgumentException(
        "kafka sink uri carries no topic path"))
    val dir = u.param("dir").getOrElse(throw new IllegalArgumentException(
      "kafka sink uri needs dir=<path> (socket transport is out of scope)"))
    val brokerMax = u.param("broker-message-max-bytes").map(v =>
      orReject(v.toIntOption.toRight(KO.ErrInvalidConfig ->
        s"invalid broker-message-max-bytes $v, which is not a number")))
      .getOrElse(1048588)
    val adj = orReject(KO.adjust(o0, KO.TopicMeta(exists = false,
      brokerMessageMaxBytes = Some(brokerMax)))).options
    (batch: DataFrame, batchId: Long) => {
      val recs = batch.select(
        pmod(graft.core.Hashing.portableLong(concat_ws("\u0001",
          col("schema_name"), col("table_name"))),
          lit(adj.partitionNum.toLong)).cast("int").as("partition"),
        concat_ws(".", col("schema_name"), col("table_name"),
          col("pk").cast("string")).as("key"),
        to_json(struct(batch.columns.map(col).toIndexedSeq: _*)).as("value"))
      val over = recs
        .filter(length(col("value")) > adj.maxMessageBytes).count()
      if (over > 0) throw new IllegalStateException(
        s"ErrMessageTooLarge: $over records exceed the adjusted " +
          s"max-message-bytes ${adj.maxMessageBytes}")
      recs.withColumn("batch_id", lit(batchId))
        .write.mode(SaveMode.Append).partitionBy("partition")
        .parquet(s"$dir/$topic")
    }
  }

  /** Pointer state for the bucketed sink: last applied batch, bucket
    * count (frozen at table creation), and each bucket's live version. */
  private final case class StatePointer(lastBatch: Long, numBuckets: Int,
                                        versions: Map[Int, Long])

  private def readPointer(ptr: java.nio.file.Path): Option[StatePointer] =
    if (!Files.exists(ptr)) None
    else {
      val lines = Files.readString(ptr).trim.split('\n')
      val head = lines.head.split(' ') // "batch <id> buckets <N>"
      Some(StatePointer(head(1).toLong, head(3).toInt,
        lines.tail.map { l =>
          val p = l.split(' '); p(0).toInt -> p(1).toLong
        }.toMap))
    }

  private def writePointer(stateDir: String, p: StatePointer): Unit = {
    val body = (s"batch ${p.lastBatch} buckets ${p.numBuckets}" +:
      p.versions.toSeq.sorted.map { case (b, v) => s"$b $v" }).mkString("\n")
    FileOps.publishAtomic(Paths.get(s"$stateDir/CURRENT"), body)
  }

  /** Bucket dirs holding at least one parquet file (a bucket whose keys
    * were all deleted leaves an empty version dir). */
  private def liveBucketPaths(stateDir: String, versions: Map[Int, Long]): Seq[String] =
    versions.toSeq.sorted.map { case (b, v) => s"$stateDir/b$b/v$v" }
      .filter(d => Option(new java.io.File(d).listFiles())
        .exists(_.exists(_.getName.endsWith(".parquet"))))

  /**
   * K1-analog keyed state table on parquet: MERGE the batch into the state
   * by key (delete on D, upsert otherwise). Production target is a format
   * with native MERGE (Delta/Iceberg — transactional, partition-pruned);
   * on plain parquet the state is HASH-BUCKETED by key and only the
   * buckets a batch touches are re-merged and rewritten. Hashing spreads a
   * batch of m keys over nb·(1 − (1 − 1/nb)^m) of the nb buckets on
   * average — every bucket once m is a few times nb — so per-batch I/O is
   * O(state) for all but batches much smaller than nb. The merge is one
   * shuffle on the bucket: each bucket is merged and written by one task,
   * so each new bucket version is one parquet file, and nb bounds the
   * write parallelism. Each bucket is independently versioned; an atomic
   * pointer swap publishes the batch.
   */
  def parquetStateSink(spark: SparkSession, stateDir: String,
                       keyCols: Seq[String] = Seq("schema_name", "table_name", "pk"),
                       numBuckets: Int = 64)
                      (batch: DataFrame, batchId: Long): Unit = {
    val ptr = Paths.get(s"$stateDir/CURRENT")
    val cur = readPointer(ptr)
    // Replays of an already-applied batch are skipped — that, not the
    // write itself, turns at-least-once foreachBatch into exactly-once.
    if (cur.exists(_.lastBatch == batchId)) return
    val nb = cur.map(_.numBuckets).getOrElse(numBuckets)
    val versions = cur.map(_.versions).getOrElse(Map.empty[Int, Long])

    def bucketOf = pmod(hash(keyCols.map(col): _*), lit(nb))
    // the touched set and the merge both read the batch: cache it, unless
    // the caller already has
    val own = batch.storageLevel == StorageLevel.NONE
    if (own) batch.persist()
    try {
      val stateCols = (keyCols ++ Seq("final_val", "last_commit_ts")).map(col)
      val incoming = batch.select(stateCols ++ Seq(bucketOf.as("_bucket"),
        lit(1).as("_src"), (col("net_op") === "D").as("_del")): _*)
      // one scan folds each partition to its bucket set (≤ nb small ints)
      val touched = incoming.select(col("_bucket")).rdd
        .mapPartitions(it => Iterator(it.map(_.getInt(0)).toSet))
        .collect().flatten.distinct.sorted
      if (touched.isEmpty) { writePointer(stateDir, StatePointer(batchId, nb, versions)); return }

      val existing = liveBucketPaths(stateDir,
        versions.filter { case (b, _) => touched.contains(b) })
      // read ONLY the touched buckets' live state, with the state's known
      // schema (inferring it from the footers would cost a job)
      val rows =
        if (existing.isEmpty) incoming
        else spark.read.schema(incoming.select(stateCols: _*).schema)
          .parquet(existing: _*)
          .select(stateCols ++ Seq(bucketOf.as("_bucket"), lit(0).as("_src"),
            lit(false).as("_del")): _*)
          .unionByName(incoming)
      // last writer per key: the batch (_src 1) over the state (_src 0),
      // then tombstones dropped. Hash partitioning on the bucket already
      // clusters the grouping, so this is the only shuffle, and each bucket
      // lands in one task.
      val merged = rows.repartition(col("_bucket"))
        .groupBy(col("_bucket") +: keyCols.map(col): _*)
        .agg(max_by(struct(col("final_val"), col("last_commit_ts"), col("_del")),
          col("_src")).as("_w"))
        .filter(!col("_w._del"))
        .select(keyCols.map(col) ++ Seq(col("_w.final_val").as("final_val"),
          col("_w.last_commit_ts").as("last_commit_ts"), col("_bucket")): _*)
      // stage partitioned by bucket, then publish each touched bucket as its
      // next version (staging is a sibling dir: the merge reads the current
      // versions lazily, so writing in place would destroy its own input)
      val staging = s"$stateDir/.staging"
      merged.write.mode(SaveMode.Overwrite).partitionBy("_bucket").parquet(staging)
      val nextVersions = versions ++ touched.map { b =>
        val next = versions.getOrElse(b, -1L) + 1
        val dst = Paths.get(s"$stateDir/b$b/v$next")
        Files.createDirectories(dst.getParent)
        if (Files.exists(dst)) FileOps.deleteTree(dst.toFile) // leftover of a failed attempt
        val src = Paths.get(s"$staging/_bucket=$b")
        if (Files.exists(src)) Files.move(src, dst)
        else Files.createDirectories(dst) // bucket fully deleted → empty state
        b -> next
      }
      FileOps.deleteTree(new java.io.File(staging))
      writePointer(stateDir, StatePointer(batchId, nb, nextVersions))
    } finally if (own) { batch.unpersist(); () }
  }

  /** Read the current materialized state (union of live bucket versions). */
  def readState(spark: SparkSession, stateDir: String): DataFrame = {
    val p = readPointer(Paths.get(s"$stateDir/CURRENT"))
      .getOrElse(throw new IllegalStateException(s"no state at $stateDir"))
    val paths = liveBucketPaths(stateDir, p.versions)
    if (paths.isEmpty) spark.emptyDataFrame
    else spark.read.parquet(paths: _*)
  }

  /**
   * K7 — sink-progress algebra (batch twin of the table-sink progress
   * tracker; reference cdc/processor/sinkmanager: each table sink
   * advances a flushed resolved-ts, and the changefeed CHECKPOINT is the
   * MIN across tables — no event at or below it can be unflushed).
   * `flushed` marks events the sink has already flushed. Returns one row
   * per (schema, table): flushed count, the table's flushed watermark,
   * the global checkpoint, and `n_safe` — events at or below the
   * checkpoint, i.e. covered by the exactly-once guarantee.
   *
   * Scale shape: two partial-aggregated groupBys over the stream plus a
   * one-row checkpoint broadcast back — the per-table progress table is
   * control-plane sized, exactly the reference's in-memory progress map.
   */
  def sinkProgress(events: DataFrame, flushed: org.apache.spark.sql.Column): DataFrame = {
    // The per-table watermark must have NO unflushed event at or below it.
    // A bare max(flushed commit_ts) is only valid when the flush set is a
    // ts-prefix; if an unflushed event sits at ts=X while a later (or
    // ts-tied) event is flushed, the watermark has to stop strictly below
    // X. Single pass: min(max flushed ts, first unflushed ts - 1).
    val pt = events.withColumn("_f", flushed)
      .groupBy("schema_name", "table_name")
      .agg(sum(when(col("_f"), 1L).otherwise(0L)).as("n_flushed"),
        max(when(col("_f"), col("commit_ts"))).as("_max_flushed"),
        min(when(!col("_f"), col("commit_ts"))).as("_first_unflushed"))
      .withColumn("flushed_ts",
        when(col("_max_flushed").isNull, lit(null).cast("long"))
          .when(col("_first_unflushed").isNull, col("_max_flushed"))
          .otherwise(least(col("_max_flushed"), col("_first_unflushed") - 1)))
      .drop("_max_flushed", "_first_unflushed")
    // a table with NOTHING flushed pins the checkpoint to null (nothing is
    // safe) — a bare min() would skip its NULL watermark and falsely mark
    // other tables' events as covered
    val cp = pt.agg(
      when(sum(when(col("flushed_ts").isNull, 1L).otherwise(0L)) > 0,
        lit(null).cast("long"))
        .otherwise(min(col("flushed_ts"))).as("checkpoint_ts"))
    val safe = events.crossJoin(broadcast(cp))
      .filter(col("commit_ts") <= col("checkpoint_ts"))
      .groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("n_safe"))
    pt.crossJoin(broadcast(cp))
      .join(safe, Seq("schema_name", "table_name"), "left")
      .withColumn("n_safe", coalesce(col("n_safe"), lit(0L)))
  }

  /** Per-bucket version map from the pointer (observability / tests). */
  def stateVersions(stateDir: String): Map[Int, Long] =
    readPointer(Paths.get(s"$stateDir/CURRENT")).map(_.versions).getOrElse(Map.empty)

  /** Drop bucket versions older than that bucket's current minus `keep`
    * (time-travel window); live versions are never removed. */
  def vacuumState(stateDir: String, keep: Int = 2): Unit = {
    readPointer(Paths.get(s"$stateDir/CURRENT")).foreach { p =>
      p.versions.foreach { case (b, cur) =>
        Option(new java.io.File(s"$stateDir/b$b").listFiles())
          .getOrElse(Array.empty).foreach { f =>
            val v = f.getName.stripPrefix("v").toLongOption
            if (f.isDirectory && v.exists(_ < cur - keep)) FileOps.deleteTree(f)
          }
      }
    }
  }

  /**
   * K4 — cloud-storage sink: per-table files under
   * {base}/{schema}/{table}/{date}/ in the chosen format (reference layout
   * pkg/sink/cloudstorage/path.go:136-430). partitionBy gives the layout
   * for free and keeps writes parallel per partition.
   */
  /** Date bucket of the storage layout (reference path.go uses the commit
    * physical time's date). */
  def storageDate(ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    date_format(timestamp_seconds(ts / 1000), "yyyy-MM-dd")

  /** Full relative path of a row in the storage-sink layout
    * {schema}/{table}/{date} — shared by the sink and its gate. */
  def storagePath(schema: org.apache.spark.sql.Column,
                  table: org.apache.spark.sql.Column,
                  ts: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
    concat_ws("/", schema, table, storageDate(ts))

  def storageSink(base: String, format: String = "parquet",
                  schemaVersion: Option[Int] = None)
                 (batch: DataFrame, batchId: Long): Unit = {
    val tsCol = if (batch.columns.contains("last_commit_ts")) "last_commit_ts"
                else "commit_ts"
    // With a schemaVersion, the table version becomes a path segment —
    // the reference nests data under {schema}/{table}/{version}/ and
    // re-reads schema.json per version (pkg/sink/cloudstorage/path.go
    // :136-430) so a mid-stream DDL bumps the version and new files land
    // under the new subtree while a consumer can still read the old one.
    val versioned = schemaVersion
      .map(v => batch.withColumn("_sv", lit(v))).getOrElse(batch)
    val partCols = Seq("schema_name", "table_name") ++
      schemaVersion.map(_ => "_sv").toSeq :+ "_date"
    versioned
      .withColumn("_date", storageDate(col(tsCol)))
      .write.mode(SaveMode.Append)
      .partitionBy(partCols: _*)
      .format(format)
      .save(base)
    // schema sidecar per routed table (reference writes schema.json next to
    // the data files, pkg/sink/cloudstorage/path.go schema path) — consumers
    // discover column layout without opening data files
    val payloadSchema = org.apache.spark.sql.types.StructType(
      batch.schema.filterNot(f =>
        Set("schema_name", "table_name", "_date", "_sv").contains(f.name)))
    val sidecarName = schemaVersion
      .map(v => s"_schema_v$v.json").getOrElse("_schema.json")
    batch.select("schema_name", "table_name").distinct().collect().foreach { r =>
      val dir = Paths.get(s"$base/schema_name=${r.getString(0)}/table_name=${r.getString(1)}")
      if (Files.exists(dir)) {
        Files.writeString(dir.resolve(sidecarName), payloadSchema.json)
      }
    }
  }

  /**
   * K1 — JDBC-shaped sink: partition by causality slot so same-key rows
   * serialize while distinct keys parallelize (reference
   * pkg/causality/conflict_detector.go via SURVEY R4), then generate
   * multi-row SQL per bounded batch. Without a live MySQL the statements
   * are written to per-partition .sql files — the full pipeline short of
   * the socket.
   */
  def sqlFileSink(outDir: String, maxTxnRow: Int = SqlGen.DefaultMaxTxnRow,
                  numPartitions: Int = 16)
                 (batch: DataFrame, batchId: Long): Unit = {
    import graft.operators.Routing
    Files.createDirectories(Paths.get(outDir))
    val parted = batch
      .withColumn("slot", Routing.causalitySlot(col("pk")))
      .repartition(numPartitions, col("slot"))
      .sortWithinPartitions(col("last_commit_ts"), col("pk"))
    parted.select("schema_name", "table_name", "pk", "net_op", "final_val")
      .foreachPartition { (rows: Iterator[org.apache.spark.sql.Row]) =>
        val pid = org.apache.spark.TaskContext.getPartitionId()
        val sqls = SqlGen.generate(rows, maxTxnRow)
        if (sqls.nonEmpty) {
          Files.writeString(
            Paths.get(s"$outDir/batch${batchId}_p$pid.sql"),
            sqls.mkString("\n") + "\n")
        }
        ()
      }
  }
}
