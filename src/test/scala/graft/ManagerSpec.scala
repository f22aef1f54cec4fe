package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import graft.streaming.{Changefeed, ChangefeedManager, ChangefeedSpec, Sinks}

/** Changefeed CRUD lifecycle: create → pause → resume (continues from
  * checkpoint, no reprocessing) → delete. */
class ManagerSpec extends SparkSpec {
  import spark.implicits._

  private def ev(seq: Long, pk: Long, v: Double): StreamEv =
    StreamEv(seq, "I", 100 + seq, 99 + seq, 0, "db", "t", pk, pk, None, Some(v), "e")

  test("create/pause/resume/delete with checkpointed continuation") {
    val dir = Files.createTempDirectory("graft_mgr").toString
    val mgr = new ChangefeedManager(spark)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]

    mem.addData(ev(1, 1, 10), ev(2, 2, 20))
    mgr.create(ChangefeedSpec(id = "cf1", checkpointDir = s"$dir/ckpt"),
      () => mem.toDF())(Sinks.parquetStateSink(spark, s"$dir/state"))
    assert(mgr.list() == Seq("cf1"))
    assert(Sinks.readState(spark, s"$dir/state").count() == 2)

    mgr.pause("cf1")
    assert(mgr.status("cf1")("state") == "paused")

    // rows arriving while paused are picked up on resume, exactly once
    mem.addData(ev(3, 3, 30))
    mgr.resume("cf1")
    val state = Sinks.readState(spark, s"$dir/state")
      .select("pk", "final_val").as[(Long, Double)].collect().toMap
    assert(state == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))

    mgr.delete("cf1")
    assert(mgr.list().isEmpty)
    assert(mgr.status("cf1")("state") == "not-found")
  }

  test("/synced kernel over REAL tracked marks: all four cases + both PD legs") {
    import graft.streaming.SyncedStatus
    val dir = Files.createTempDirectory("graft_mgr_sync").toString
    val mgr = new ChangefeedManager(spark)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    var added = Seq.empty[StreamEv] // the puller's view = source snapshot
    def push(es: StreamEv*): Unit = { mem.addData(es: _*); added ++= es }
    val cfg = SyncedStatus.SyncedConfig(syncedCheckIntervalSec = 3,
      checkpointIntervalSec = 1)

    push(ev(1, 1, 10), ev(2, 2, 20)) // commit ts 101, 102
    mgr.create(ChangefeedSpec(id = "cfS", checkpointDir = s"$dir/ckpt"),
      () => mem.toDF())(Sinks.forUri(spark, "blackhole://"))
    mgr.setIntrospect("cfS", () => added.toDF())
    def ask(now: Long, pd: Boolean = true) = mgr.synced("cfS", now, pd, cfg)

    // marks came from the APPLIED batches, not from any caller input
    assert(ask(102)("last_synced_ts") == 102L)
    assert(ask(102)("checkpoint_ts") == 102L)

    // case 4 — recent writes: not synced, wait
    assert(ask(102 + 500) ==
      ask(602) && ask(602)("synced") == false && ask(602)("info") == "wait")
    // case 3 (resolved stuck at checkpoint) — suspect PD/TiKV
    assert(ask(102 + 5000)("info") == SyncedStatus.InfoCheckPdTikv)
    // case 1 with a small resolved-checkpoint gap — pd-unavailable-check
    assert(ask(102 + 5000, pd = false)("info") ==
      SyncedStatus.InfoPdUnavailableCheck)

    // rows arrive while the feed is down: the puller frontier moves ahead
    // of the checkpoint (NOT resumed yet)
    push(ev(2000, 9, 90)) // commit ts 2100
    assert(ask(102 + 5000)("puller_resolved_ts") == 2100L)
    // case 3 (checkpoint genuinely behind) — plain wait
    assert(ask(102 + 5000)("info") == SyncedStatus.InfoWait)
    // case 1 with the puller ahead — pd-unavailable-behind
    assert(ask(102 + 5000, pd = false)("info") ==
      SyncedStatus.InfoPdUnavailableBehind)

    // drain the pending rows, then the resolved-ts heartbeat advances the
    // checkpoint past lastSynced (idle progress)
    mgr.resume("cfS")
    assert(ask(2100)("last_synced_ts") == 2100L)
    mgr.tickResolved("cfS", 6000)
    assert(ask(6500)("checkpoint_ts") == 6000L)
    assert(ask(6500)("last_synced_ts") == 2100L)
    // case 2 — strictly synced: no recent writes, checkpoint fresh
    assert(ask(6500)("synced") == true &&
      ask(6500)("info") == SyncedStatus.InfoSynced)

    // a tick with pending source rows must NOT advance the checkpoint
    push(ev(7000, 5, 50)) // commit ts 7100 pending
    mgr.tickResolved("cfS", 8000)
    assert(ask(8100)("checkpoint_ts") == 6000L)
    assert(ask(8100)("puller_resolved_ts") == 8000L)
    mgr.delete("cfS")
  }

  test("a managed feed runs as many jobs per batch as Changefeed.start") {
    // The /synced marks come from the query's own observation, so the
    // manager adds no job to a batch, whether or not metricsDir caches it.
    implicit val sqlCtx = spark.sqlContext
    def sink(b: org.apache.spark.sql.DataFrame, id: Long): Unit =
      b.write.format("noop").mode("overwrite").save()
    val batches = Seq(Seq(ev(1, 1, 10), ev(2, 2, 20)), Seq(ev(3, 1, 11)),
      Seq(ev(4, 3, 30), ev(5, 4, 40)))
    for (metrics <- Seq(false, true)) {
      def spec(id: String) = {
        val dir = Files.createTempDirectory(s"graft_mgr_jobs_$id").toString
        ChangefeedSpec(id = id, checkpointDir = s"$dir/ckpt",
          metricsDir = if (metrics) Some(s"$dir/m") else None)
      }
      val started = JobTap.on(spark.sparkContext) { tap =>
        val mem = MemoryStream[StreamEv]
        val once = spec("cfJobsStart")
        batches.foreach { evs =>
          mem.addData(evs: _*)
          Changefeed.start(spark, mem.toDF(), once)(sink)
            .awaitTermination()
        }
        tap.perBatch()
      }
      val mgr = new ChangefeedManager(spark)
      val managed = JobTap.on(spark.sparkContext) { tap =>
        val mem = MemoryStream[StreamEv]
        mem.addData(batches.head: _*)
        mgr.create(spec("cfJobsMgr"), () => mem.toDF())(sink)
        batches.tail.foreach { evs => mem.addData(evs: _*); mgr.resume("cfJobsMgr") }
        tap.perBatch()
      }
      assert(managed.keySet == batches.indices.map(_.toLong).toSet)
      assert(managed == started, s"metricsDir=$metrics")
      assert(mgr.synced("cfJobsMgr", 105)("last_synced_ts") == 105L)
      mgr.delete("cfJobsMgr")
    }
  }

  test("the marks leave DDL control rows out, as the sink does") {
    val dir = Files.createTempDirectory("graft_mgr_ddlmarks").toString
    val mgr = new ChangefeedManager(spark)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(StreamEv(0, "G", 100, 99, 0, "db", "t", 0, 0, None, None,
        "CREATE TABLE db.t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)"),
      ev(1, 1, 10), // commit_ts 101
      StreamEv(5, "G", 150, 149, 0, "db", "t", 0, 0, None, None,
        "ALTER TABLE db.t ADD COLUMN c2 BIGINT"))
    mgr.create(ChangefeedSpec(id = "cfDdlMarks", checkpointDir = s"$dir/ckpt",
      textDdlRegistryDir = Some(s"$dir/reg")), () => mem.toDF())(
      Sinks.forUri(spark, "blackhole://"))
    assert(mgr.synced("cfDdlMarks", 101)("last_synced_ts") == 101L)
    assert(mgr.synced("cfDdlMarks", 101)("checkpoint_ts") == 101L)
    mgr.delete("cfDdlMarks")
  }

  test("metricsDir and textDdlRegistryDir are first-class spec options") {
    import graft.streaming.Metrics
    val dir = Files.createTempDirectory("graft_mgr2").toString
    val mgr = new ChangefeedManager(spark)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    var bound: org.apache.spark.sql.DataFrame = null

    def ddl(seq: Long, ts: Long, sql: String): StreamEv =
      StreamEv(seq, "G", ts, ts - 1, 0, "db", "t", 0, 0, None, None, sql)
    mem.addData(
      ddl(0, 100,
        "CREATE TABLE db.t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)"),
      ev(1, 1, 10), // commit_ts 101 → binds version 1
      ddl(5, 150, "ALTER TABLE db.t ADD COLUMN c2 VARCHAR(16)"),
      StreamEv(6, "I", 151, 150, 0, "db", "t", 7, 7, None, Some(70), "e"))

    mgr.create(ChangefeedSpec(id = "cf2", checkpointDir = s"$dir/ckpt",
      metricsDir = Some(s"$dir/m"), textDdlRegistryDir = Some(s"$dir/reg")),
      () => mem.toDF()) { (b, _) => bound = b.cache(); () }

    // DDL rows applied to the registry, never compacted into state; data
    // rows bind the version in force at their commit ts
    val sv = bound.select("pk", "schema_version").as[(Long, Int)].collect().toMap
    assert(sv == Map(1L -> 1, 7L -> 2))
    // the metrics wrapper recorded the compacted batch at table×op grain
    val totals = Metrics.totals(spark, s"$dir/m")
      .select("schema_name", "table_name", "op", "total_rows")
      .as[(String, String, String, Long)].collect().toSet
    assert(totals == Set(("db", "t", "I", 2L)))
    mgr.delete("cf2")
  }

  test("feed state machine end-to-end: failing sink parks pending, backoff gates retry, resume revives") {
    val dir = Files.createTempDirectory("graft_mgr_fsm").toString
    val mgr = new ChangefeedManager(spark)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10))

    // a sink that fails while the poison flag is up
    @volatile var poison = true
    intercept[Exception] {
      mgr.create(ChangefeedSpec(id = "fsm", checkpointDir = s"$dir/ckpt"),
        () => mem.toDF()) { (b, _) =>
        if (poison) throw new RuntimeException("sink down")
        b.write.format("noop").mode("overwrite").save()
      }
    }
    // the processor error parked the feed in pending (retry armed)
    assert(mgr.feedState("fsm") == "pending")
    assert(mgr.status("fsm")("feed_state") == "pending")

    // the FIRST retry is immediate (resetErrRetry leaves
    // lastErrorRetryTime at the epoch) — resume ticks the machine into
    // warning, restarts the query, the sink fails again → pending
    intercept[Exception] { mgr.resume("fsm") }
    assert(mgr.feedState("fsm") == "pending")

    // now a real 20 s window is armed: an immediate second resume must
    // NOT restart (shouldRetry false) — no exception, state unchanged
    mgr.resume("fsm")
    assert(mgr.feedState("fsm") == "pending")

    // operator path out: pending→stop is legal; resume from stopped
    // resets the backoff and restarts cleanly once the sink is fixed
    mgr.pause("fsm")
    assert(mgr.feedState("fsm") == "stopped")
    poison = false
    mgr.resume("fsm")
    assert(mgr.feedState("fsm") == "normal")

    // a GC fast-fail processor error kills the running feed outright,
    // and the API surface carries the patched error
    mgr.reportError("fsm", "CDC:ErrSnapshotLostByGC", "snapshot lost")
    assert(mgr.feedState("fsm") == "failed")
    assert(mgr.feedError("fsm").map(_.code)
      .contains("CDC:ErrSnapshotLostByGC"))
    mgr.delete("fsm")
  }
}
