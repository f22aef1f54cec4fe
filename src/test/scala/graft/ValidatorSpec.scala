package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Validator

/** V5 — pending/error row lifecycle across validation rounds against a
  * lagging target (the reference's validate_worker + checkpoint flow). */
class ValidatorSpec extends SparkSpec {
  import spark.implicits._

  private def expected(rows: (Long, Double)*): DataFrame =
    rows.map { case (pk, v) => ("db", "t", pk, v) }
      .toDF("schema_name", "table_name", "pk", "exp_val")

  private def target(rows: (Long, Double)*): DataFrame =
    rows.map { case (pk, v) => ("db", "t", pk, v) }
      .toDF("schema_name", "table_name", "pk", "tgt_val")

  test("a lagging row moves pending -> ok once the target catches up") {
    val dir = Files.createTempDirectory("validator").toString
    // round 1: target has pk=1 applied, pk=2 not yet
    val r1 = Validator.validateRound(spark, dir,
      expected(1L -> 10.0, 2L -> 20.0), target(1L -> 10.0), batchTs = 1L)
    assert(r1.ok === 1 && r1.pending === 1 && r1.newErrors === 0)
    val p1 = Validator.pendingState(spark, dir).as[(String, String, Long, Double, Long, Int)].collect()
    assert(p1.map(_._3).toSeq === Seq(2L) && p1.head._6 === 1)

    // round 2: target caught up -> pending drains, nothing new
    val r2 = Validator.validateRound(spark, dir,
      expected(), target(1L -> 10.0, 2L -> 20.0), batchTs = 2L)
    assert(r2.ok === 1 && r2.pending === 0 && r2.newErrors === 0)
  }

  test("persistently failing rows escalate to the error table after the delay") {
    val dir = Files.createTempDirectory("validator2").toString
    // pk=3 never arrives downstream
    Validator.validateRound(spark, dir, expected(3L -> 30.0), target(), 1L, errorDelay = 3)
    Validator.validateRound(spark, dir, expected(), target(), 2L, errorDelay = 3)
    Validator.validateRound(spark, dir, expected(), target(), 3L, errorDelay = 3)
    val r4 = Validator.validateRound(spark, dir, expected(), target(), 4L, errorDelay = 3)
    assert(r4.newErrors === 1 && r4.pending === 0)
    val errs = Validator.errorRows(spark, dir)
    assert(errs.count() === 1)
    val e = errs.select("pk", "failed_cnt", "first_fail_ts").head()
    assert(e.getLong(0) === 3L && e.getInt(1) === 4 && e.getLong(2) === 1L)
  }

  test("a new change for a pending key replaces it and resets the clock") {
    val dir = Files.createTempDirectory("validator3").toString
    Validator.validateRound(spark, dir, expected(5L -> 1.0), target(), 1L, errorDelay = 3)
    Validator.validateRound(spark, dir, expected(5L -> 2.0), target(), 3L, errorDelay = 3)
    val p = Validator.pendingState(spark, dir)
      .select("exp_val", "first_fail_ts", "failed_cnt").head()
    // replaced image, clock restarted at ts=3, count restarted at 1
    assert(p.getDouble(0) === 2.0 && p.getLong(1) === 3L && p.getInt(2) === 1)
    // and the value mismatch case: target has the OLD value -> still pending
    val r = Validator.validateRound(spark, dir, expected(), target(5L -> 1.0), 4L, errorDelay = 3)
    assert(r.pending === 1 && r.ok === 0)
  }

  test("live rounds gate through the lifecycle: stop halts, restart resets") {
    // the r17 kernel↔runtime wiring (the q285 machine driving the REAL
    // validateRound loop, mirroring how the reference's doValidate only
    // consumes events while the DataValidator stage is Running, and how
    // dmctl validation stop/start wraps the same object)
    import graft.streaming.ValidatorLifecycle
    import graft.streaming.ValidatorLifecycle._
    val dir = Files.createTempDirectory("validator_lc").toString
    val lc = new ValidatorLifecycle(ModeFast)
    var rounds = 0
    def round(ts: Long, exp: DataFrame, tgt: DataFrame): Unit =
      // the worker loop consults the stage exactly like doValidate's
      // context: no round runs unless the validator is Running
      if (lc.stage == Running) {
        Validator.validateRound(spark, dir, exp, tgt, batchTs = ts)
        rounds += 1
      }

    // subtask starts WITHOUT the validator expectation → nothing runs
    lc.subtaskRun(Running, InvalidStage, nowMs = 0L)
    round(1L, expected(1L -> 10.0), target())
    assert(rounds == 0 && lc.stage == InvalidStage)

    // dmctl validation start → rounds flow; pk=1 goes pending
    lc.startValidator(Running, nowMs = 10L)
    round(1L, expected(1L -> 10.0), target())
    assert(rounds == 1)
    assert(Validator.pendingState(spark, dir).count() == 1)

    // subtask pause does NOT stop the validator (the independence)
    lc.subtaskPause()
    round(2L, expected(), target(1L -> 10.0))
    assert(rounds == 2 && lc.stage == Running)
    assert(Validator.pendingState(spark, dir).count() == 0)

    // dmctl validation stop → the loop halts mid-stream
    lc.stopValidator()
    round(3L, expected(2L -> 20.0), target())
    assert(rounds == 2 && lc.stage == Stopped)

    // restart on the SAME handle resumes the loop
    lc.startValidator(Running, nowMs = 40L)
    round(4L, expected(2L -> 20.0), target(2L -> 20.0))
    assert(rounds == 3)

    // subtask close discards the handle → InvalidStage, loop dead
    lc.subtaskClose()
    round(5L, expected(3L -> 30.0), target())
    assert(rounds == 3 && lc.stage == InvalidStage)
  }

  test("stall flag trips when pending exceeds the cap") {
    val dir = Files.createTempDirectory("validator4").toString
    val r = Validator.validateRound(spark, dir,
      expected((1L to 50L).map(i => i -> i.toDouble): _*), target(), 1L,
      errorDelay = 10, maxPending = 10L)
    assert(r.pending === 50 && r.stalled)
  }

  // ---- lifecycle constants the q285 oracle shares, parsed from source ---

  private lazy val valSrc = RefSource.source("dm/syncer/data_validator.go")
  private lazy val pbSrc = RefSource.source("dm/pb/dmworker.pb.go")

  test("table-stop messages match data_validator.go:57-60, parsed") {
    import graft.streaming.ValidatorLifecycle._
    import RefSource.goStringConst
    assert(MoreColumnInBinlogMsg ==
      goStringConst(valSrc, "moreColumnInBinlogMsg"))
    assert(TableWithoutPrimaryKeyMsg ==
      goStringConst(valSrc, "tableWithoutPrimaryKeyMsg"))
    assert(TableNotSyncedOrDropped ==
      goStringConst(valSrc, "tableNotSyncedOrDropped"))
    assert(DownstreamPKColumnOutOfBoundsMsg ==
      goStringConst(valSrc, "downstreamPKColumnOutOfBoundsMsg"))
  }

  test("validation modes and defaults match dm/config/task.go:68-83, parsed") {
    import graft.streaming.ValidatorLifecycle._
    import RefSource.{goDurationMs, goStringConst}
    val taskSrc = RefSource.source("dm/config/task.go")
    assert(ModeNone == goStringConst(taskSrc, "ValidationNone"))
    assert(ModeFast == goStringConst(taskSrc, "ValidationFast"))
    assert(ModeFull == goStringConst(taskSrc, "ValidationFull"))
    assert(DefaultWorkerCount ==
      goDurationMs(taskSrc, "DefaultValidatorWorkerCount"))
    assert(DefaultValidateIntervalMs ==
      goDurationMs(taskSrc, "DefaultValidatorValidateInterval"))
    assert(DefaultCheckIntervalMs ==
      goDurationMs(taskSrc, "DefaultValidatorCheckInterval"))
    assert(DefaultRowErrorDelayMs ==
      goDurationMs(taskSrc, "DefaultValidatorRowErrorDelay"))
    assert(DefaultMetaFlushIntervalMs ==
      goDurationMs(taskSrc, "DefaultValidatorMetaFlushInterval"))
    assert(DefaultBatchQuerySize ==
      goDurationMs(taskSrc, "DefaultValidatorBatchQuerySize"))
  }

  test("validator error-op/state enums match dmworker.pb.go, parsed") {
    def enumVal(tpe: String, n: String): Int =
      RefSource.goEnumVal(pbSrc, tpe, n)
    assert(Validator.InvalidErr == enumVal("ValidateErrorState", "InvalidErr"))
    assert(Validator.NewErr == enumVal("ValidateErrorState", "NewErr"))
    assert(Validator.IgnoredErr == enumVal("ValidateErrorState", "IgnoredErr"))
    assert(Validator.ResolvedErr ==
      enumVal("ValidateErrorState", "ResolvedErr"))
    assert(Validator.IgnoreErrOp == enumVal("ValidationErrOp", "IgnoreErrOp"))
    assert(Validator.ResolveErrOp ==
      enumVal("ValidationErrOp", "ResolveErrOp"))
    assert(Validator.ClearErrOp == enumVal("ValidationErrOp", "ClearErrOp"))
  }

  test("pb.Stage enum values match dmworker.pb.go, parsed") {
    import graft.streaming.ValidatorLifecycle._
    def stageVal(n: String): Int = RefSource.goEnumVal(pbSrc, "Stage", n)
    assert(InvalidStage == stageVal("InvalidStage"))
    assert(StageNew == stageVal("New"))
    assert(Running == stageVal("Running"))
    assert(Paused == stageVal("Paused"))
    assert(Stopped == stageVal("Stopped"))
    assert(Finished == stageVal("Finished"))
    assert(Pausing == stageVal("Pausing"))
    assert(Resuming == stageVal("Resuming"))
    assert(Stopping == stageVal("Stopping"))
  }

  // ---- randomized stage-machine property vs an independent simulator ----

  /** Flat-state replay written directly from the Go control flow (NOT via
    * the kernel's methods): classification strings come from the PARSED
    * reference constants, transitions from first principles. */
  private final class Sim(modeOk: Boolean, syncer: Boolean, delay: Long,
                          flushIv: Long) {
    import RefSource.goStringConst
    var closed = false; var created = false; var running = false
    var mark = false; var errs = 0
    var startT = 0L; var lastF = 0L
    var cut: Option[Long] = None; var floc: Option[Long] = None
    var flushes = 0
    var ins = 0L; var upd = 0L; var del = 0L
    var sub = 1
    val tables = scala.collection.mutable.Map.empty[String, (Boolean, String)]

    private def msgOf(trk: Boolean, vis: Int, bc: Int, epk: Boolean,
                      cpk: Boolean): Option[String] =
      if (!trk) Some(goStringConst(valSrc, "tableNotSyncedOrDropped"))
      else if (vis < bc) Some(goStringConst(valSrc, "moreColumnInBinlogMsg"))
      else if (!epk && cpk)
        Some(goStringConst(valSrc, "downstreamPKColumnOutOfBoundsMsg"))
      else if (!epk) Some(goStringConst(valSrc, "tableWithoutPrimaryKeyMsg"))
      else None

    def start(expect: Int, t: Long, fails: Boolean): Unit = {
      if (closed || expect == 0 || !modeOk || !syncer) return
      if (!created) { created = true; running = false }
      if (running || expect != 2) return
      mark = false; errs = 0; ins = 0; upd = 0; del = 0; tables.clear()
      if (fails) { errs = 1; return }
      startT = t; lastF = t; running = true
    }
    def delayMark(t: Long): Unit =
      if (running && t - startT >= delay) mark = true
    def row(t: Long, tbl: String, trk: Boolean, vis: Int, bc: Int,
            epk: Boolean, cpk: Boolean, ct: Int, n: Long, filt: Boolean,
            id: Boolean): Unit = {
      if (!created || !running) return
      delayMark(t)
      if (filt) return
      if (tables.get(tbl).exists(!_._1)) return
      msgOf(trk, vis, bc, epk, cpk) match {
        case Some(m) => tables(tbl) = (false, m)
        case None =>
          tables(tbl) = (true, "")
          if (ct == 1 && id) { del += n; ins += n }
          else if (ct == 0) ins += n
          else if (ct == 1) upd += n
          else del += n
      }
    }
    def xid(t: Long, loc: Long): Unit = {
      if (!created || !running) return
      delayMark(t)
      val nc = cut.exists(_ <= loc)
      if (t - lastF > flushIv || nc) {
        if (nc) cut = None
        lastF = t; flushes += 1; floc = Some(loc)
      }
    }
  }

  test("300 random traces: kernel == independent simulator") {
    import graft.streaming.ValidatorLifecycle
    import graft.streaming.ValidatorLifecycle._
    RefSource.source("dm/syncer/data_validator.go") // cancels up front
    val rnd = new scala.util.Random(17)
    for (trace <- 1 to 300) {
      val modeOk = rnd.nextInt(8) > 0
      val syncer = rnd.nextInt(8) > 0
      val delay = 200L + rnd.nextInt(800)
      val flushIv = 100L + rnd.nextInt(400)
      val m = new ValidatorLifecycle(
        mode = if (modeOk) (if (rnd.nextBoolean()) ModeFast else ModeFull)
               else ModeNone,
        hasSyncer = syncer, rowErrorDelayMs = delay,
        metaFlushIntervalMs = flushIv)
      val s = new Sim(modeOk, syncer, delay, flushIv)
      var t = 0L
      for (step <- 1 to 40) {
        t += rnd.nextInt(120)
        rnd.nextInt(11) match {
          case 0 =>
            val (es, ev) = (Seq(2, 4)(rnd.nextInt(2)), Seq(0, 2, 4)(rnd.nextInt(3)))
            m.subtaskRun(es, ev, t)
            if (!s.closed && s.sub != 2 && s.sub != 5) {
              s.start(ev, t, fails = false); s.sub = es
            }
          case 1 =>
            val (e, f) = (Seq(0, 2, 4)(rnd.nextInt(3)), rnd.nextInt(4) == 0)
            m.startValidator(e, t, initFails = f); s.start(e, t, f)
          case 2 => m.stopValidator(); if (s.created && s.running) s.running = false
          case 3 =>
            val c = rnd.nextBoolean()
            m.validatorError(contextCancelled = c)
            if (s.created && s.running && !c) { s.errs += 1; s.running = false }
          case 4 => m.subtaskPause(); if (s.sub == 2) s.sub = 3
          case 5 => m.subtaskResume(); if (s.sub == 3) s.sub = 2
          case 6 =>
            m.subtaskClose()
            if (s.sub != 4 && s.sub != 5) {
              s.sub = 4; s.running = false; s.created = false; s.closed = true
            }
          case 7 =>
            val (v, y) = (rnd.nextInt(100).toLong, rnd.nextInt(100).toLong)
            m.observeProgress(v, y, t)
            if (s.created && s.running) { s.delayMark(t); if (v >= y) s.mark = true }
          case 8 =>
            val loc = rnd.nextInt(1000).toLong
            m.setCutOver(loc); if (s.created) s.cut = Some(loc)
          case 9 =>
            val loc = rnd.nextInt(1000).toLong
            m.txnBoundary(loc, t); s.xid(t, loc)
          case _ =>
            val tbl = if (rnd.nextBoolean()) "t1" else "t2"
            val (trk, vis, bc) = (rnd.nextInt(6) > 0, 2 + rnd.nextInt(2), 3)
            val (epk, cpk) = (rnd.nextInt(4) > 0, rnd.nextBoolean())
            val (ct, n) = (rnd.nextInt(3), 1L + rnd.nextInt(5))
            val (filt, id) = (rnd.nextInt(5) == 0, rnd.nextBoolean())
            m.rowsEvent(tbl, s"tgt_$tbl",
              TableFacts(trk, vis, bc, epk, cpk), ct, n.toInt, t,
              filtered = filt, identityUpdated = id)
            s.row(t, tbl, trk, vis, bc, epk, cpk, ct, n, filt, id)
        }
        val ctx = s"trace $trace step $step"
        assert(m.stage == (if (s.created) (if (s.running) 2 else 4) else 0), ctx)
        assert(m.subtaskView == s.sub, ctx)
        assert(m.isMarkErrorStarted == (s.created && s.mark), ctx)
        assert(m.errorCount == s.errs, ctx)
        assert(m.processedRowCounts == ((s.ins, s.upd, s.del)), ctx)
        assert(m.flushes == s.flushes, ctx)
        assert(m.lastFlushedLoc == s.floc, ctx)
        val kt = m.tableStatuses().map(x =>
          x.source -> (x.stage == Running, x.message)).toMap
        assert(kt == s.tables.toMap, ctx)
      }
    }
  }
}
