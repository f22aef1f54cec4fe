package graft.streaming

import scala.collection.mutable

/**
 * DM task-status checker — the AUTO-RESUME decision machine
 * (dm/worker/task_checker.go): every check round classifies each paused
 * subtask (and the relay) into one of four strategies and drives a
 * congestion-window backoff:
 *
 *  - ResumeIgnore: not paused / paused manually (cancelled result) — and
 *    if the task has been out of trouble longer than the backoff-rollback
 *    window, the backoff ROLLS BACK one step (task_checker.go:265-270);
 *  - ResumeNoSense: paused on an error auto-resume cannot fix — the
 *    un-resumable classifier (dm/unit/unit.go:115-163) matches the DDL/
 *    DML/replication message tables and the un-resumable code set from
 *    dm/pkg/retry/errors.go, with the relay-log-parse messages gated on
 *    ErrParserParseRelayLog and the lightning-runtime rawCause carve-outs;
 *  - ResumeSkip: resumable, but the last auto-resume is younger than the
 *    backoff's current window;
 *  - ResumeDispatch: resume now; a SUCCESSFUL dispatch advances the
 *    backoff (BoundaryForward — the window stops growing at max,
 *    dm/pkg/backoff/backoff.go:86-91) and stamps latestResumeTime.
 *
 * A freshly tracked task starts with latestResumeTime = now, so its
 * FIRST paused sighting always Skips (0 < min window) — the reference's
 * deliberate one-round damping. Tasks that vanish from the status map
 * are dropped and re-tracked fresh if they return
 * (task_checker.go:322-331). The relay check runs only while relay is
 * enabled and classifies with the RELAY un-resumable code set
 * (unit.go:196-201).
 *
 * Time is an explicit ms argument; the backoff runs jitter-free in gates
 * (the reference's equal-jitter randomizes within [d/2, d); the WINDOW
 * arithmetic — cwnd, factor, min/max clamp, boundary stop — is what the
 * oracle replays exactly).
 */
object TaskChecker {

  // ResumeStrategy (task_checker.go:64-79)
  val ResumeIgnore = 1
  val ResumeSkip = 2
  val ResumeNoSense = 3
  val ResumeDispatch = 4
  /** resumeStrategy2Str (task_checker.go:80-86). */
  val StrategyNames: Map[Int, String] = Map(
    ResumeIgnore -> "ignore task",
    ResumeSkip -> "skip task resume",
    ResumeNoSense -> "resume task makes no sense",
    ResumeDispatch -> "dispatch auto resume")

  // checker defaults (dm/config/checker_config.go:23-28)
  val DefaultCheckIntervalMs = 5000L
  val DefaultBackoffRollbackMs = 5L * 60 * 1000
  val DefaultBackoffMinMs = 1000L
  val DefaultBackoffMaxMs = 5L * 60 * 1000
  val DefaultBackoffJitter = true
  val DefaultBackoffFactor = 2.0

  // retry tables (dm/pkg/retry/errors.go:29-64), matched lowercased
  val UnsupportedDdlMsgs: Seq[String] = Seq(
    "can't drop column with index",
    "with tidb_enable_change_multi_schema is disable",
    "unsupported add column",
    "unsupported modify column",
    "unsupported modify charset",
    "unsupported modify collate",
    "unsupported drop integer primary key",
    "Unsupported collation",
    "Invalid default value for",
    "Unsupported drop primary key",
    "Error 1059",
    "Error 1117",
    "Error 1069")
  val UnsupportedDmlMsgs: Seq[String] = Seq(
    "Error 1062", "Error 1406", "Error 1366", "Error 8025")
  val ReplicationErrMsgs: Seq[String] = Seq(
    "Could not find first log file name in binary log index file",
    "The slave is connecting using CHANGE MASTER TO MASTER_AUTO_POSITION = 1, but the master has purged binary logs containing GTIDs that the slave requires")
  val ParseRelayLogErrMsgs: Seq[String] = Seq(
    "binlog checksum mismatch, data may be corrupted",
    "get event err EOF")

  // un-resumable code sets (retry/errors.go:66-84); numbers are the
  // iota-derived terror codes, PARSED from error_list.go in TaskCheckerSpec
  val UnresumableErrCodes: Set[Long] =
    Set(36008L, 32004L, 32001L, 36027L, 11129L, 34020L, 34021L)
  val UnresumableRelayErrCodes: Set[Long] =
    Set(30001L, 30002L, 30004L, 30005L, 30008L)
  val ErrParserParseRelayLogCode = 11038L
  val ErrLoadLightningRuntimeCode = 34019L

  /** pb.ProcessError's classifier-relevant fields. */
  final case class ProcessError(errCode: Long, message: String,
                                rawCause: String)

  /** unit.IsResumableError (dm/unit/unit.go:115-163). */
  def isResumableError(e: ProcessError): Boolean = {
    val raw = e.rawCause.toLowerCase
    if (UnsupportedDdlMsgs.exists(m => raw.contains(m.toLowerCase)))
      return false
    if (UnsupportedDmlMsgs.exists(m => raw.contains(m.toLowerCase)))
      return false
    if (ReplicationErrMsgs.exists(m => raw.contains(m.toLowerCase)))
      return false
    if (e.errCode == ErrParserParseRelayLogCode) {
      val msg = e.message.toLowerCase
      if (ParseRelayLogErrMsgs.exists(m => msg.contains(m.toLowerCase)))
        return false
    }
    if (UnresumableErrCodes.contains(e.errCode)) return false
    if (e.errCode == ErrLoadLightningRuntimeCode) {
      return raw.contains("doesn't exist") || raw.contains("is in mode import")
    }
    true
  }

  /** unit.IsResumableRelayError (unit.go:196-201). */
  def isResumableRelayError(e: ProcessError): Boolean =
    !UnresumableRelayErrCodes.contains(e.errCode)

  /** dm/pkg/backoff Backoff, jitter-free variant (backoff.go:48-120):
    * window = min·factorᶜ clamped to max; BoundaryForward stops growing
    * once the window hits max; Rollback floors at zero. */
  final class DmBackoff(factor: Double, minMs: Long, maxMs: Long) {
    private var cwndVar = 0
    def cwnd: Int = cwndVar
    def current: Long = {
      val d = minMs.toDouble * math.pow(factor, cwndVar)
      if (d > maxMs.toDouble) maxMs else d.toLong
    }
    def boundaryForward(): Unit = if (current < maxMs) cwndVar += 1
    def rollback(): Unit = if (cwndVar > 0) cwndVar -= 1
  }

  /** One unit's paused-status snapshot for a check round. */
  final case class UnitStatus(stage: Int, hasResult: Boolean,
                              isCanceled: Boolean,
                              errors: Seq[ProcessError])

  /** AutoResumeInfo (task_checker.go:110-118, 207-282). */
  final class AutoResumeInfo(val backoff: DmBackoff, now0: Long) {
    var latestPausedMs: Long = now0
    var latestResumeMs: Long = now0

    private def decide(st: Option[UnitStatus], resumable: ProcessError => Boolean,
                       nowMs: Long): Int = st match {
      case Some(s) if s.stage == ValidatorLifecycle.Paused && s.hasResult &&
        !s.isCanceled =>
        if (s.errors.exists(e => !resumable(e))) ResumeNoSense
        else if (nowMs - latestResumeMs < backoff.current) ResumeSkip
        else ResumeDispatch
      case _ => ResumeIgnore
    }

    private def update(strategy: Int, rollbackMs: Long, nowMs: Long): Unit =
      strategy match {
        case ResumeIgnore =>
          if (nowMs - latestPausedMs > rollbackMs) {
            backoff.rollback()
            latestPausedMs = nowMs // reset the rollback timer
          }
        case ResumeNoSense =>
          // the reference also stamps LatestBlockTime here, read only by
          // its "paused duration" log line — not an observable we carry
          latestPausedMs = nowMs
        case _ => latestPausedMs = nowMs // Skip / Dispatch
      }

    def checkResumeSubtask(st: Option[UnitStatus], rollbackMs: Long,
                           nowMs: Long): Int = {
      val s = decide(st, isResumableError, nowMs)
      update(s, rollbackMs, nowMs); s
    }

    def checkResumeRelay(st: Option[UnitStatus], rollbackMs: Long,
                         nowMs: Long): Int = {
      val s = decide(st, isResumableRelayError, nowMs)
      update(s, rollbackMs, nowMs); s
    }
  }
}

/**
 * The checker over one worker: per-task AutoResumeInfo map with the
 * vanished-task cleanup, plus the relay slot (task_checker.go:284-378).
 * `dispatch` models OperateSubTask/operateRelay — false = dispatch error
 * (no resume stamp, no backoff forward).
 */
final class TaskChecker(
    factor: Double = TaskChecker.DefaultBackoffFactor,
    minMs: Long = TaskChecker.DefaultBackoffMinMs,
    maxMs: Long = TaskChecker.DefaultBackoffMaxMs,
    rollbackMs: Long = TaskChecker.DefaultBackoffRollbackMs) {
  import TaskChecker._

  private val subtasks = mutable.LinkedHashMap.empty[String, AutoResumeInfo]
  private var relaySlot: Option[AutoResumeInfo] = None

  def trackedTasks: Seq[String] = subtasks.keys.toSeq

  /** One checkTaskStatus round: returns (task, strategy, dispatched) per
    * present task; vanished tasks drop from tracking afterwards. */
  def checkTaskStatus(all: Seq[(String, UnitStatus)], nowMs: Long,
                      dispatch: String => Boolean): Seq[(String, Int, Boolean)] = {
    val out = all.map { case (task, st) =>
      val info = subtasks.getOrElseUpdate(task,
        new AutoResumeInfo(new DmBackoff(factor, minMs, maxMs), nowMs))
      val strategy = info.checkResumeSubtask(Some(st), rollbackMs, nowMs)
      var dispatched = false
      if (strategy == ResumeDispatch && dispatch(task)) {
        dispatched = true
        info.latestResumeMs = nowMs
        info.backoff.boundaryForward()
      }
      (task, strategy, dispatched)
    }
    val present = all.map(_._1).toSet
    subtasks.keys.toSeq.filterNot(present).foreach(subtasks.remove)
    out
  }

  /** One checkRelayStatus round (only called while relay is enabled). */
  def checkRelayStatus(st: UnitStatus, nowMs: Long,
                       dispatch: () => Boolean): (Int, Boolean) = {
    val info = relaySlot.getOrElse {
      val i = new AutoResumeInfo(new DmBackoff(factor, minMs, maxMs), nowMs)
      relaySlot = Some(i); i
    }
    val strategy = info.checkResumeRelay(Some(st), rollbackMs, nowMs)
    var dispatched = false
    if (strategy == ResumeDispatch && dispatch()) {
      dispatched = true
      info.latestResumeMs = nowMs
      info.backoff.boundaryForward()
    }
    (strategy, dispatched)
  }

  def backoffOf(task: String): Option[(Int, Long)] =
    subtasks.get(task).map(i => (i.backoff.cwnd, i.backoff.current))
  def relayBackoff: Option[(Int, Long)] =
    relaySlot.map(i => (i.backoff.cwnd, i.backoff.current))
}
