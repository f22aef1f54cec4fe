package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.operators.Filters
import graft.streaming._

/** Region delivery row for the live multiplexing test (top-level so Spark
  * derives its Encoder). */
final case class MuxDelivery(region: Int, batch: Long, seq: Long, ts: Long,
                             fwd: Boolean)

/** Session-window event (micros since epoch) for the live session test. */
final case class SessEv(user: Long, tsUs: Long)

/** End-to-end changefeed runtime specs: stream → pipeline → state sink. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  private def ev(seq: Long, op: String, pk: Long, v: Double,
                 pkAfter: Option[Long] = None): StreamEv =
    StreamEv(seq, op, 100 + seq, 99 + seq, 0, "db", "t", pk,
      pkAfter.getOrElse(pk), Some(v - 1), if (op == "D") None else Some(v), "e")

  test("changefeed end-to-end: stream compacts and merges into state table") {
    val dir = Files.createTempDirectory("graft_cf").toString
    val spec = ChangefeedSpec(id = "cf-test", checkpointDir = s"$dir/ckpt")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    // batch 1: inserts + one update
    mem.addData(ev(1, "I", 1, 10), ev(2, "I", 2, 20), ev(3, "U", 1, 11))
    val q1 = Changefeed.start(spark, mem.toDF(), spec)(
      Sinks.parquetStateSink(spark, s"$dir/state"))
    q1.awaitTermination()

    val s1 = Sinks.readState(spark, s"$dir/state")
      .select("pk", "final_val").as[(Long, Double)].collect().toMap
    assert(s1 == Map(1L -> 11.0, 2L -> 20.0))

    // batch 2 (resume from checkpoint): delete pk 2, key-churn update 1→5
    mem.addData(ev(4, "D", 2, 20), ev(5, "U", 1, 12, pkAfter = Some(5)))
    val q2 = Changefeed.start(spark, mem.toDF(), spec)(
      Sinks.parquetStateSink(spark, s"$dir/state"))
    q2.awaitTermination()

    val s2 = Sinks.readState(spark, s"$dir/state")
      .select("pk", "final_val").as[(Long, Double)].collect().toMap
    assert(s2 == Map(5L -> 12.0))
  }

  test("changefeed filters and routes apply in-stream") {
    val dir = Files.createTempDirectory("graft_cf2").toString
    val spec = ChangefeedSpec(
      id = "cf-filter",
      eventRules = Seq(Filters.EventRule("*", "*", ignoreOps = Set("D"))),
      routes = Seq(graft.operators.Routing.RouteRule("db", "*", "dw", "merged")),
      checkpointDir = s"$dir/ckpt")

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, "I", 1, 10), ev(2, "D", 1, 10), ev(3, "I", 2, 20))
    var seen: org.apache.spark.sql.DataFrame = null
    val q = Changefeed.start(spark, mem.toDF(), spec) { (b, _) => seen = b.cache() }
    q.awaitTermination()

    assert(seen.filter(col("net_op") === "D").count() == 0)
    assert(seen.select("table_name").distinct().as[String].collect().toSeq == Seq("merged"))
    assert(seen.count() == 2)
  }

  test("a barrier dir without the textual-DDL path is refused at start") {
    // the control step is the only barrier writer: without a registry the
    // barrier would never be written, so the feed must not start
    val dir = Files.createTempDirectory("graft_cfbar_req").toString
    val spec = ChangefeedSpec(id = "cf-barrier-only",
      checkpointDir = s"$dir/ckpt", barrierDir = Some(s"$dir/bar"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    val e = intercept[IllegalArgumentException] {
      Changefeed.start(spark, mem.toDF(), spec)((_, _) => ())
    }
    assert(e.getMessage.contains("barrierDir requires textDdlRegistryDir"))
    assert(spark.streams.active.forall(_.name != "cf-barrier-only"))
  }

  test("owner barrier clamps the microbatch boundary; executing the DDLs lifts it") {
    // W1/G5 stretch (r15 VERDICT #8): a redo-enabled feed's boundary
    // record must hold the global barrier AND the redo resolved ts at a
    // create_table's commit ts (ddl_manager.go:521-526 — the new table's
    // pipeline doesn't exist until the DDL executes), and a non-global
    // add_column contributes a per-table barrier; once the batch executes
    // the DDLs, the next boundary lifts to its own resolved ts.
    val dir = Files.createTempDirectory("graft_cfbar").toString
    val spec = ChangefeedSpec(id = "cf-barrier",
      checkpointDir = s"$dir/ckpt",
      textDdlRegistryDir = Some(s"$dir/reg"),
      textDdlDefaultSchema = "db",
      redoEnabled = true,
      barrierDir = Some(s"$dir/bar"))
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    def ddl(seq: Long, ts: Long, table: String, sql: String) =
      StreamEv(seq, "G", ts, ts - 1, 0, "db", table, 0, 0, None, None, sql)
    def data(seq: Long, ts: Long, pk: Long, v: Double) =
      StreamEv(seq, "I", ts, ts - 1, 0, "db", "t", pk, pk, None, Some(v), "e")
    def run(evs: StreamEv*): Unit = {
      mem.addData(evs: _*)
      val q = Changefeed.start(spark, mem.toDF(), spec)((_, _) => ())
      q.awaitTermination()
    }
    // batch 0: the base table's create — held at its own commit ts
    run(ev(1, "I", 1, 10), ev(2, "I", 2, 20), // ts 101, 102
      ddl(3, 110, "t", "CREATE TABLE db.t (pk BIGINT, val DOUBLE)"),
      data(4, 115, 3, 30.0))
    // batch 1: a non-global add_column (120) + a create_table (150) with
    // data running ahead to 200
    run(data(5, 200, 4, 40.0),
      ddl(6, 150, "t2", "CREATE TABLE db.t2 (pk BIGINT, v DOUBLE)"),
      ddl(7, 120, "t", "ALTER TABLE db.t ADD COLUMN c2 BIGINT"))
    // batch 2: nothing pending — the barrier lifts
    run(data(8, 210, 5, 50.0))

    val lines = Files.readAllLines(
        java.nio.file.Paths.get(s"$dir/bar/barriers.jsonl"))
      .toArray.map(_.toString).toSeq
    def f(l: String, k: String): Long =
      s""""$k":(-?\\d+)""".r.findFirstMatchIn(l).get.group(1).toLong
    assert(lines.size == 3, s"lines=$lines")
    // boundary 0: held at the base create_table's 110 (global + redo)
    assert(f(lines(0), "resolved_ts") == 115L)
    assert(f(lines(0), "global_ts") == 110L)
    assert(f(lines(0), "redo_ts") == 110L)
    assert(f(lines(0), "n_tb") == 0L)
    // boundary 1: global + redo held at the create_table's 150 (data ran
    // to 200), the add_column's per-table barrier at 120
    assert(f(lines(1), "resolved_ts") == 200L)
    assert(f(lines(1), "global_ts") == 150L)
    assert(f(lines(1), "redo_ts") == 150L)
    assert(f(lines(1), "min_table_ts") == 120L)
    assert(f(lines(1), "n_tb") == 1L)
    // boundary 2: lifted — the DDLs executed inside their batches
    assert(f(lines(2), "resolved_ts") == 210L)
    assert(f(lines(2), "global_ts") == 210L)
    assert(f(lines(2), "redo_ts") == 210L)
    assert(f(lines(2), "n_tb") == 0L)
    // the registry really advanced (all three DDLs applied, in ts order)
    val applied = graft.streaming.DdlStream.loadApplied(s"$dir/reg")
    assert(applied.map(_._2) == Seq(110L, 120L, 150L))
    // replay idempotence: a foreachBatch RETRY of an already-recorded
    // batchId must not append a second, contradictory record — the
    // first attempt may already have applied the batch's DDLs, so the
    // recomputed barrier differs
    val barFile = java.nio.file.Paths.get(s"$dir/bar/barriers.jsonl")
    val before = java.nio.file.Files.readAllLines(barFile).size
    graft.streaming.DdlStream.appendBarrier(s"$dir/bar", 1L, 999L,
      graft.streaming.OwnerBarrier.barrier(999L, Seq.empty,
        redoEnabled = true))
    assert(java.nio.file.Files.readAllLines(barFile).size == before)
    // a NEW batchId still appends
    graft.streaming.DdlStream.appendBarrier(s"$dir/bar", 99L, 999L,
      graft.streaming.OwnerBarrier.barrier(999L, Seq.empty,
        redoEnabled = true))
    assert(java.nio.file.Files.readAllLines(barFile).size == before + 1)
  }

  test("a fresh feed on a deleted barrier dir logs every batch") {
    // The replay guard reads the log itself, so nothing about the first
    // feed outlives its dir: the second feed restarts its batch ids at 0
    // and must log each of them again.
    val dir = Files.createTempDirectory("graft_cfbar_fresh").toString
    val bar = java.nio.file.Paths.get(s"$dir/bar/barriers.jsonl")
    implicit val sqlCtx = spark.sqlContext
    for (run <- 0 to 1) {
      val spec = ChangefeedSpec(id = s"cf-bar-fresh$run",
        checkpointDir = s"$dir/ckpt$run", textDdlRegistryDir = Some(s"$dir/reg$run"),
        barrierDir = Some(s"$dir/bar"))
      val mem = MemoryStream[StreamEv]
      ddlBatches.foreach { evs =>
        mem.addData(evs: _*)
        Changefeed.start(spark, mem.toDF(), spec)((_, _) => ()).awaitTermination()
      }
      val logged = Files.readAllLines(bar).toArray.map(_.toString).toSeq
        .map(l => """"batch":(\d+)""".r.findFirstMatchIn(l).get.group(1).toLong)
      assert(logged == ddlBatches.indices.map(_.toLong), s"run $run")
      graft.core.FileOps.deleteTree(new java.io.File(s"$dir/bar"))
    }
  }

  test("live multiplexed changefeed: two region streams merge through the puller semantics") {
    // S3's one remaining streaming-native surface: a REAL StreamingQuery
    // over the union of two independent region delivery streams, consumed
    // as one changefeed with the multiplexing puller's runtime behavior -
    // first-delivery dedup against accumulated state, per-region
    // running-max watermarks, min-frontier, and advance-only emission.
    // Every consumed quantity is then replayed through the batch algebra
    // (Multiplex.progress, the q147 contract) and must agree exactly.
    implicit val sqlCtx = spark.sqlContext
    val r1 = MemoryStream[MuxDelivery]
    val r2 = MemoryStream[MuxDelivery]
    val merged = r1.toDF().unionByName(r2.toDF())

    val log = scala.collection.mutable.ArrayBuffer.empty[MuxDelivery]
    val seen = scala.collection.mutable.Set.empty[Long]
    var consumed = 0L                 // entries actually handed downstream
    var frontier = 0L
    val emissions = scala.collection.mutable.ArrayBuffer.empty[Long]
    val q = merged.writeStream
      .outputMode("append")
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        val rows = b.collect().map(r => MuxDelivery(r.getInt(0), r.getLong(1),
          r.getLong(2), r.getLong(3), r.getBoolean(4)))
          .sortBy(d => (d.batch, d.region, d.seq))
        rows.foreach { d =>
          log += d
          if (seen.add(d.seq)) consumed += 1 // first delivery wins
        }
        ()
      }
      .start()

    def round(ds: MuxDelivery*): Unit = {
      ds.filter(_.region == 1).foreach(d => r1.addData(d))
      ds.filter(_.region == 2).foreach(d => r2.addData(d))
      q.processAllAvailable()
      // recompute the span frontier over the log-to-date; emit a
      // resolved event downstream only on a strict advance. Computed at
      // the ROUND boundary: a round's deliveries may split across
      // microbatches (MemoryStream gives no single-batch guarantee), and
      // the frontier contract is defined over the delivered set, not
      // over Spark's internal batch slicing.
      val f = graft.operators.Multiplex.progress(log.toSeq.toDF())
        .agg(max(col("frontier_ts"))).head().getLong(0)
      if (f > frontier) { frontier = f; emissions += f }
    }
    // round 1: both regions deliver; region 2 does NOT forward → frontier 0
    round(MuxDelivery(1, 1, 10, 105, fwd = true),
      MuxDelivery(2, 1, 20, 103, fwd = false))
    assert(frontier == 0L && emissions.isEmpty)
    // round 2: region 1 re-delivers seq 10 (post-error re-scan; must not
    // re-consume); region 2 initializes → frontier = min(105, 104)
    round(MuxDelivery(1, 2, 10, 105, fwd = true),
      MuxDelivery(2, 2, 21, 104, fwd = true))
    assert(frontier == 104L && emissions == Seq(104L))
    // round 3: region 2 silent → carries 104, no advance, no emission
    round(MuxDelivery(1, 3, 11, 110, fwd = true))
    assert(frontier == 104L && emissions == Seq(104L))
    // round 4: region 2 catches up past region 1's watermark
    round(MuxDelivery(2, 4, 22, 120, fwd = true))
    assert(frontier == 110L && emissions == Seq(104L, 110L))
    q.stop()

    assert(consumed == 5 && log.size == 6) // 6 deliveries, 1 dup dropped
    // the live run must agree with the batch twin on every round
    val twin = graft.operators.Multiplex.progress(log.toSeq.toDF())
      .orderBy("batch")
      .select("batch", "n_accepted", "n_dup", "frontier_ts", "advanced")
      .as[(Long, Long, Long, Long, Int)].collect().toSeq
    assert(twin == Seq((1L, 2L, 0L, 0L, 0), (2L, 1L, 1L, 104L, 1),
      (3L, 1L, 0L, 104L, 0), (4L, 1L, 0L, 110L, 1)))
    assert(twin.filter(_._5 == 1).map(_._4) == emissions.toSeq)
  }

  test("session_window runs streaming-native; closed sessions equal the batch twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEv]
    val gapUs = 10_000_000L // 10 s
    val agg = mem.toDF()
      .withColumn("ets", timestamp_micros(col("tsUs")))
      .withWatermark("ets", "0 seconds")
      .groupBy(col("user"),
        session_window(col("ets"), s"$gapUs microseconds").as("sw"))
      .agg(count(lit(1)).as("n_events"),
        min(col("tsUs")).as("start_us"), max(col("tsUs")).as("end_us"))
    val q = agg.writeStream.format("memory").queryName("sess_live")
      .outputMode("append").start()
    // main events: user 1 = two sessions (0-5s, then 30s); user 2 = one
    val main = Seq(
      SessEv(1L, 0L), SessEv(1L, 5_000_000L), SessEv(1L, 30_000_000L),
      SessEv(2L, 1_000_000L))
    mem.addData(main: _*)
    q.processAllAvailable()
    // two watermark-advancing flush batches close every main session
    mem.addData(SessEv(99L, 3_600_000_000L)); q.processAllAvailable()
    mem.addData(SessEv(99L, 7_200_000_000L)); q.processAllAvailable()
    q.stop()
    val live = spark.table("sess_live")
      .filter(col("user") =!= 99L)
      .select("user", "n_events", "start_us", "end_us")
      .as[(Long, Long, Long, Long)].collect().toSet
    // the batch twin over the same events (ns grain = us·1000)
    val twin = graft.operators.Sessions.sessionize(
        main.toDF(), col("user"), col("tsUs") * 1000L, gapUs * 1000L)
      .select(col("k"), col("n_events"),
        (col("start_ns") / 1000L).cast("long"),
        (col("end_ns") / 1000L).cast("long"))
      .as[(Long, Long, Long, Long)].collect().toSet
    assert(live == twin && live.size == 3)
  }

  test("stream-stream interval join runs native and matches the batch algebra") {
    implicit val sqlCtx = spark.sqlContext
    val clicks = MemoryStream[SessEv]
    val buys = MemoryStream[SessEv]
    val c = clicks.toDF().select(col("user").as("cu"),
        timestamp_micros(col("tsUs")).as("cts"), col("tsUs").as("cus"))
      .withWatermark("cts", "1 hour")
    val b = buys.toDF().select(col("user").as("bu"),
        timestamp_micros(col("tsUs")).as("bts"), col("tsUs").as("bus"))
      .withWatermark("bts", "1 hour")
    val q = c.join(b, expr(
        "cu = bu AND bts >= cts AND bts < cts + interval 10 seconds"))
      .writeStream.format("memory").queryName("ssj_live")
      .outputMode("append").start()
    // base the fixture away from epoch 0: Spark's INITIAL watermark is
    // 1970-01-01, and an event AT the watermark is dropped as late
    val base = 1_700_000_000_000_000L
    clicks.addData(SessEv(1L, base), SessEv(1L, base + 50_000_000L),
      SessEv(2L, base))
    buys.addData(SessEv(1L, base + 5_000_000L), SessEv(1L, base + 52_000_000L),
      SessEv(2L, base + 30_000_000L)) // user 2: outside the 10 s bound
    q.processAllAvailable()
    q.stop()
    val live = spark.table("ssj_live").select("cu", "cus", "bus")
      .as[(Long, Long, Long)].collect().toSet
    assert(live == Set((1L, base, base + 5_000_000L),
      (1L, base + 50_000_000L, base + 52_000_000L)))
  }

  test("dropDuplicatesWithinWatermark matches the batch anchor-chain twin") {
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[SessEv]
    val deduped = mem.toDF()
      .withColumn("ets", timestamp_micros(col("tsUs")))
      .withWatermark("ets", "5 seconds")
      .dropDuplicatesWithinWatermark("user")
    val q = deduped.writeStream.format("memory").queryName("ddw_live")
      .outputMode("append").start()
    val base = 1_700_000_000_000_000L
    // dup inside the 5 s window in-batch; a second key interleaved
    val evs1 = Seq(SessEv(1L, base), SessEv(1L, base + 2_000_000L),
      SessEv(2L, base + 1_000_000L))
    mem.addData(evs1: _*)
    q.processAllAvailable()
    // watermark flush past base+5s evicts the anchors (live state expiry
    // = the twin's anchor+delta rule once the watermark has moved)
    mem.addData(SessEv(99L, base + 20_000_000L)); q.processAllAvailable()
    // re-anchor above the watermark, with a fresh in-window dup
    val evs2 = Seq(SessEv(1L, base + 30_000_000L),
      SessEv(1L, base + 31_000_000L))
    mem.addData(evs2: _*)
    q.processAllAvailable()
    q.stop()
    val live = spark.table("ddw_live").filter(col("user") =!= 99L)
      .select("user", "tsUs").as[(Long, Long)].collect().toSet
    val twin = graft.operators.Dedup.dedupWithinDelta(
        (evs1 ++ evs2).toDF(), Seq("user"), "tsUs", "tsUs", 5_000_000L)
      .select(col("k").cast("long"), col("ts"))
      .as[(Long, Long)].collect().toSet
    assert(live == twin &&
      live == Set((1L, base), (2L, base + 1_000_000L),
        (1L, base + 30_000_000L)))
  }

  test("incremental view maintenance runs streaming-native across microbatches") {
    import graft.operators.Ivm
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(String, String, Option[Double], Option[Double])]
    val keys = Seq("k")
    // state starts from a base snapshot; each microbatch folds its delta
    var state = Ivm.aggState(
      Seq(("A", 1.0), ("A", 2.0), ("B", 5.0)).toDF("k", "v"), keys, "v")
      .localCheckpoint(true)
    val q = mem.toDF().toDF("op", "k", "val_before", "val_after")
      .writeStream.outputMode("append")
      .foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        state = Ivm.applyDelta(state, Ivm.deltaState(batch, keys), keys)
          .localCheckpoint(true)
        ()
      }.start()
    mem.addData(("i", "C", None, Some(7.0)), ("d", "A", Some(1.0), None))
    q.processAllAvailable()
    mem.addData(("u", "B", Some(5.0), Some(6.0)))
    q.processAllAvailable()
    mem.addData(("d", "A", Some(2.0), None)) // A vanishes mid-stream
    q.processAllAvailable()
    q.stop()
    val got = state.select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val rebuilt = Ivm.aggState(
        Seq(("B", 6.0), ("C", 7.0)).toDF("k", "v"), keys, "v")
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == rebuilt && got == Set(("B", 1L, 6.0), ("C", 1L, 7.0)))
  }

  test("scheduled changefeed: placement routes through the live coordinator") {
    // r16 VERDICT stretch #8: q281/q282 prove the coordinator/agent loop
    // in isolation; here the REAL changefeed's per-batch sink consults a
    // live SchedulerBridge (real Coord + real CaptureAgents exchanging
    // heartbeats/dispatches) and Spark EXECUTES the placement: every
    // data row is routed to the capture its replication set names
    // primary, through add → move → drain → crash.
    val dir = Files.createTempDirectory("graft_cf_sched").toString
    val spec = ChangefeedSpec(id = "cf-sched", checkpointDir = s"$dir/ckpt")
    val bridge = new SchedulerBridge(Seq("cap-1", "cap-2", "cap-3"))
    def tid(t: String): Long = OwnerBarrier.physicalId("db", t)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    def evT(seq: Long, table: String, pk: Long): StreamEv =
      StreamEv(seq, "I", 100 + seq, 99 + seq, 0, "db", table, pk, pk,
        None, Some(pk.toDouble), "e")

    // the scheduled sink: one owner round + converge, then the data
    // plane routes rows by the coordinator's placement (broadcast map
    // join — at scale the owner map is O(tables), never the data)
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, batchId) => {
      val tables = b.select("schema_name", "table_name").distinct()
        .collect().map(r => (r.getString(0), r.getString(1)))
      val ids = tables.map { case (s, t) => OwnerBarrier.physicalId(s, t) }
      bridge.round(ids.toSeq)
      val placement = bridge.converge(ids.toSeq)
      val pdf = tables.map { case (s, t) =>
        (s, t, placement.getOrElse(OwnerBarrier.physicalId(s, t), ""))
      }.toSeq.toDF("schema_name", "table_name", "capture")
      b.join(broadcast(pdf), Seq("schema_name", "table_name"))
        .withColumn("batch", lit(batchId))
        .write.mode("append").parquet(s"$dir/out")
    }

    def runBatch(): Unit = {
      val q = Changefeed.start(spark, mem.toDF(), spec)(sink)
      q.awaitTermination()
    }
    def owners(): Map[(String, Long), String] =
      spark.read.parquet(s"$dir/out")
        .select("table_name", "batch", "capture").distinct()
        .as[(String, Long, String)].collect()
        .map { case (t, b, c) => (t, b) -> c }.toMap

    // batch 0: two tables appear and get scheduled
    mem.addData(evT(1, "t1", 1), evT(2, "t2", 2))
    runBatch()
    val o0 = owners()
    assert(bridge.error.isEmpty)
    assert(bridge.allReplicating(Seq(tid("t1"), tid("t2"))))
    assert(Set("cap-1", "cap-2", "cap-3").contains(o0(("t1", 0L))))
    assert(o0(("t1", 0L)).nonEmpty && o0(("t2", 0L)).nonEmpty)

    // batch 1: move t1 to a specific capture; a NEW table t3 joins
    val dest = Seq("cap-1", "cap-2", "cap-3").find(_ != o0(("t1", 0L))).get
    assert(bridge.moveTable(tid("t1"), dest))
    mem.addData(evT(3, "t1", 3), evT(4, "t3", 4))
    runBatch()
    val o1 = owners()
    assert(o1(("t1", 1L)) == dest, s"move not executed: $o1")
    assert(o1(("t3", 1L)).nonEmpty)

    // batch 2: drain whatever holds t3 — its tables must leave
    val drained = o1(("t3", 1L))
    assert(bridge.drainCapture(drained))
    mem.addData(evT(5, "t1", 5), evT(6, "t2", 6), evT(7, "t3", 7))
    runBatch()
    val o2 = owners()
    assert(o2(("t3", 2L)) != drained, s"drain not executed: $o2")

    // batch 3: crash a capture that still owns a table — survivors pick
    // its tables up and every row lands on a live capture
    val alive3 = bridge.aliveCaptures
    val victim = Seq(("t1", o2(("t1", 2L))), ("t2", o2(("t2", 2L))),
      ("t3", o2(("t3", 2L)))).map(_._2).find(alive3.contains).get
    bridge.crashCapture(victim)
    mem.addData(evT(8, "t1", 8), evT(9, "t2", 9), evT(10, "t3", 10))
    runBatch()
    val o3 = owners()
    for (t <- Seq("t1", "t2", "t3")) {
      assert(o3((t, 3L)).nonEmpty && o3((t, 3L)) != victim,
        s"table $t still on crashed $victim: $o3")
      assert(bridge.aliveCaptures.contains(o3((t, 3L))))
    }
    assert(bridge.error.isEmpty, s"coordinator error: ${bridge.error}")
  }

  test("dm task: source placement routes through the live source scheduler") {
    // round-18: q293-q295 prove the DM-master bind kernels in isolation;
    // here the REAL streaming query's per-batch sink consults a live
    // SourceScheduler.Kernel and Spark EXECUTES the placement — every
    // row is routed to the worker its source is bound to, through
    // auto-register → worker-offline orphaning → re-online rebind →
    // transfer-source → relay-constrained failover. Rows of an unbound
    // source are held back (DM replicates a source only while bound),
    // surfacing as worker='' pending rows.
    import graft.streaming.SourceScheduler.{Kernel, SourceCfg}
    val dir = Files.createTempDirectory("graft_dm_sched").toString
    val spec = ChangefeedSpec(id = "dm-sched", checkpointDir = s"$dir/ckpt")
    val k = new Kernel
    (1 to 3).foreach(i => k.addWorker(s"w$i", s"addr$i"))
    Seq("w1", "w2").foreach(k.workerOnline)

    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    def evS(seq: Long, source: String, pk: Long): StreamEv =
      StreamEv(seq, "I", 100 + seq, 99 + seq, 0, source, "t", pk, pk,
        None, Some(pk.toDouble), "e")

    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = (b, batchId) => {
      val srcs = b.select("schema_name").distinct()
        .collect().map(_.getString(0)).sorted
      srcs.filterNot(k.sourceCfgs.contains)
        .foreach(s => k.addSourceCfg(SourceCfg(s)))
      val pdf = srcs.map(s => (s, k.placement.getOrElse(s, "")))
        .toSeq.toDF("schema_name", "worker")
      b.join(broadcast(pdf), Seq("schema_name"))
        .withColumn("batch", lit(batchId))
        .select("schema_name", "pk", "worker", "batch")
        .write.mode("append").parquet(s"$dir/out")
    }
    def runBatch(): Unit = {
      val q = Changefeed.start(spark, mem.toDF(), spec)(sink)
      q.awaitTermination()
    }
    def routed(): Map[(String, Long), Set[String]] =
      spark.read.parquet(s"$dir/out")
        .select("schema_name", "batch", "worker").distinct()
        .as[(String, Long, String)].collect()
        .groupBy { case (s, b, _) => (s, b) }
        .view.mapValues(_.map(_._3).toSet).toMap

    // batch 0: two sources appear, auto-register, bind to the free pair
    mem.addData(evS(1, "src-a", 1), evS(2, "src-a", 2), evS(3, "src-b", 3))
    runBatch()
    val r0 = routed()
    assert(r0(("src-a", 0L)) == Set("w1") && r0(("src-b", 0L)) == Set("w2"))

    // batch 1: src-b's worker dies with no free replacement — its rows
    // are PENDING (empty worker); src-a is untouched
    k.workerOffline("w2")
    mem.addData(evS(4, "src-a", 4), evS(5, "src-b", 5))
    runBatch()
    val r1 = routed()
    assert(r1(("src-a", 1L)) == Set("w1") && r1(("src-b", 1L)) == Set(""))

    // batch 2: w3 comes online and picks the orphan up; w2 returns free;
    // then transfer-source moves src-a onto it
    k.workerOnline("w3")
    k.workerOnline("w2")
    assert(k.transferSource("src-a", "w2").isRight)
    mem.addData(evS(6, "src-a", 6), evS(7, "src-b", 7))
    runBatch()
    val r2 = routed()
    assert(r2(("src-a", 2L)) == Set("w2") && r2(("src-b", 2L)) == Set("w3"))

    // batch 3: w1 starts relay for src-b, then src-b's worker dies —
    // the rebind must prefer the RELAY worker (scheduler.go:2324-2420)
    assert(k.startRelay("src-b", Seq("w1")).isRight)
    k.workerOffline("w3")
    mem.addData(evS(8, "src-a", 8), evS(9, "src-b", 9))
    runBatch()
    val r3 = routed()
    assert(r3(("src-b", 3L)) == Set("w1"), s"relay failover missed: $r3")
    assert(r3(("src-a", 3L)) == Set("w2"))
    assert(k.workers("w1").relaySource == "src-b")
  }

  test("idempotent replay: re-applying a batch converges to same state") {
    val dir = Files.createTempDirectory("graft_cf3").toString
    val batch = Seq(
      ("db", "t", 1L, "I", Some(10.0), 101L),
      ("db", "t", 2L, "U", Some(20.0), 102L),
      ("db", "t", 3L, "D", None, 103L))
      .toDF("schema_name", "table_name", "pk", "net_op", "final_val", "last_commit_ts")
    Sinks.parquetStateSink(spark, s"$dir/state")(batch, 0L)
    val once = Sinks.readState(spark, s"$dir/state").collect().toSet
    Sinks.parquetStateSink(spark, s"$dir/state")(batch, 1L)
    val twice = Sinks.readState(spark, s"$dir/state").collect().toSet
    assert(once == twice)
  }

  // Three microbatches with DDL control rows, one query start each (the
  // AvailableNow trigger drains one MemoryStream offset per start).
  private def ddlBatches: Seq[Seq[StreamEv]] = {
    def ddl(seq: Long, ts: Long, sql: String) =
      StreamEv(seq, "G", ts, ts - 1, 0, "db", "t", 0, 0, None, None, sql)
    Seq(
      Seq(ddl(1, 100, "CREATE TABLE db.t (pk BIGINT PRIMARY KEY, val DOUBLE)"),
        ev(2, "I", 1, 10), ev(3, "I", 2, 20), ev(4, "U", 1, 11)),
      Seq(ddl(5, 105, "ALTER TABLE db.t ADD COLUMN c2 BIGINT"),
        ev(6, "I", 3, 30), ev(7, "D", 2, 20)),
      Seq(ev(8, "U", 3, 31), ev(9, "I", 4, 40)))
  }

  private def fullSpec(id: String, dir: String) = ChangefeedSpec(id = id,
    checkpointDir = s"$dir/ckpt", metricsDir = Some(s"$dir/m"),
    textDdlRegistryDir = Some(s"$dir/reg"), barrierDir = Some(s"$dir/bar"),
    redoEnabled = true)

  test("full-option feed: the DDL control step is one job per microbatch") {
    // Jobs the microbatch engine runs per batch (tagged with
    // streaming.sql.batchId). On top of the plain feed's jobs, the
    // full-option feed adds the control step's single scan (resolved ts
    // and DDL rows together) and the metrics write; the schema bind is a
    // plan literal and runs no job: 4 jobs.
    JobTap.on(spark.sparkContext) { tap =>
      def perBatch(spec: ChangefeedSpec): Seq[Int] = {
        implicit val sqlCtx = spark.sqlContext
        val mem = MemoryStream[StreamEv]
        val ids = ddlBatches.map { evs =>
          mem.addData(evs: _*)
          val q = Changefeed.start(spark, mem.toDF(), spec) { (b, _) =>
            b.write.format("noop").mode("overwrite").save()
          }
          q.awaitTermination()
          q.id.toString
        }.toSet
        val mine = tap.perBatch(ids)
        ddlBatches.indices.map(b => mine.getOrElse(b.toLong, 0))
      }
      val plainDir = Files.createTempDirectory("graft_cfjobs0").toString
      val plain = perBatch(
        ChangefeedSpec(id = "cf-jobs-plain", checkpointDir = s"$plainDir/ckpt"))
      val fullDir = Files.createTempDirectory("graft_cfjobs1").toString
      val full = perBatch(fullSpec("cf-jobs-full", fullDir))
      assert(full.zip(plain).map { case (f, p) => f - p } == Seq(4, 4, 4),
        s"plain=$plain full=$full")
    }
  }

  test("full-option feed reads its source once per microbatch") {
    // Every scan of a microbatch's source adds to its progress numInputRows
    // (perfbench's changefeed.source_reread): the control step, the
    // metrics counters and the state sink must share one computed batch.
    val dir = Files.createTempDirectory("graft_cfonce").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    val read = ddlBatches.map { evs =>
      mem.addData(evs: _*)
      val q = Changefeed.start(spark, mem.toDF(), fullSpec("cf-once", dir))(
        Sinks.parquetStateSink(spark, s"$dir/state", numBuckets = 4))
      q.awaitTermination()
      q.recentProgress.filter(_.durationMs.containsKey("addBatch"))
        .map(_.numInputRows).sum
    }
    assert(read == ddlBatches.map(_.size.toLong))
    val state = Sinks.readState(spark, s"$dir/state")
      .select("pk", "final_val").as[(Long, Double)].collect().toMap
    assert(state == Map(1L -> 11.0, 3L -> 31.0, 4L -> 40.0))
  }

  test("changefeed replay of a committed-then-lost batch rewrites nothing") {
    // A crash after batch 1's side effects but before its commit: the
    // restart re-runs batch 1 from its offsets. The barrier log and the
    // DDL registry must come out byte-identical, and the sink must see
    // the same schema-bound rows again.
    val dir = Files.createTempDirectory("graft_cfreplay").toString
    val spec = fullSpec("cf-replay", dir)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    val delivered = scala.collection.mutable.Map.empty[Long, Set[String]]
    val versions = scala.collection.mutable.Map.empty[Long, Set[Int]]
    def run(): Unit = {
      val q = Changefeed.start(spark, mem.toDF(), spec) { (b, id) =>
        delivered(id) = b.collect().map(_.toString).toSet
        versions(id) = b.select("schema_version").as[Int].collect().toSet
      }
      q.awaitTermination()
    }
    ddlBatches.take(2).foreach { evs => mem.addData(evs: _*); run() }
    def bytes(p: String) = Files.readAllBytes(java.nio.file.Paths.get(p)).toSeq
    val log0 = bytes(s"$dir/reg/ddls.log")
    val bar0 = bytes(s"$dir/bar/barriers.jsonl")
    val rows1 = delivered(1L)
    assert(versions(1L) == Set(2), "batch 1 rows bind after its ALTER")
    delivered.clear()
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(java.nio.file.Paths.get(s"$dir/ckpt/commits/$f")))
    run()
    assert(delivered.keySet == Set(1L), "the restart re-runs batch 1 only")
    assert(delivered(1L) == rows1)
    assert(versions(1L) == Set(2))
    assert(bytes(s"$dir/reg/ddls.log") == log0)
    assert(bytes(s"$dir/bar/barriers.jsonl") == bar0)
  }
}
