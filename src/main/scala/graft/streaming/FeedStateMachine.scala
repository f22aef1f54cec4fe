package graft.streaming

import scala.collection.mutable.ArrayBuffer

/**
 * Changefeed lifecycle state machine (SURVEY.md §2.14 L1 depth): a
 * deterministic model of the owner's feed-state manager
 * (reference cdc/owner/feed_state_manager.go) — the component that decides,
 * tick by tick, whether a changefeed should run, retry, or die:
 *
 *  - states (cdc/model/changefeed.go:86-95): "" (uninitialized), normal,
 *    warning, pending, stopped, failed, finished, removed;
 *  - admin jobs (feed_state_manager.go:280-346): stop is legal from
 *    normal/warning/pending, resume from failed/stopped/finished, finish
 *    from normal/warning, remove from anywhere; an ILLEGAL job is popped,
 *    warned, and the tick CONTINUES into the state switch (the Go `return`
 *    leaves jobsPending false);
 *  - errors (:400-452): any GC fast-fail code (ErrGCTTLExceeded,
 *    ErrSnapshotLostByGC, ErrStartTsBeforeGC — pkg/errors/helper.go:41-44)
 *    or unretryable error fails the feed outright; a generic error parks it
 *    in `pending` and arms an exponential backoff (10 s … 10 min, ×2) whose
 *    total elapsed time is capped by `changefeed-error-stuck-duration`;
 *  - retry (:196-227): once the backoff window has elapsed the feed
 *    restarts in `warning`; when the backoff's elapsed budget is exhausted
 *    (NextBackOff == Stop) the feed patches `failed` permanently;
 *  - warnings (:454-494): park the feed in `warning`; if the checkpoint
 *    has not advanced for longer than the stuck duration the manager
 *    synthesizes an ErrChangefeedUnretryable and fails the feed;
 *  - recovery (:501-522): warning → normal only when the checkpoint passes
 *    BOTH the last retry checkpoint and the last warning-report checkpoint.
 *
 * Pure control plane: one instance per changefeed, clock injected, no I/O.
 */
object FeedStateMachine {

  // model.FeedState literals (cdc/model/changefeed.go:86-95)
  val UnInitialized = ""
  val Normal = "normal"
  val Pending = "pending"
  val Failed = "failed"
  val Stopped = "stopped"
  val Removed = "removed"
  val Finished = "finished"
  val Warning = "warning"

  /** ChangeFeedGCFastFailError codes (pkg/errors/helper.go:41-44): the data
    * is gone from TiKV; retrying is pointless and the feed fails at once. */
  val GcFastFailCodes: Set[String] = Set(
    "CDC:ErrGCTTLExceeded", "CDC:ErrSnapshotLostByGC", "CDC:ErrStartTsBeforeGC")

  /** changefeedUnRetryableErrors (pkg/errors/helper.go:74-87). */
  val UnretryableCodes: Seq[String] = Seq(
    "CDC:ErrExpressionColumnNotFound",
    // ErrExpressionParseFailed's RFC code is NOT its identifier
    // (cdc_errors.go:938-941) — the contains-match keys on the RFC code
    "CDC:ErrInvalidFilterExpression",
    "CDC:ErrSchemaSnapshotNotFound", "CDC:ErrSyncRenameTableFailed",
    "CDC:ErrChangefeedUnretryable", "CDC:ErrCorruptedDataMutation",
    "CDC:ErrDispatcherFailed", "CDC:ErrColumnSelectorFailed",
    "CDC:ErrSinkURIInvalid", "CDC:ErrKafkaInvalidConfig",
    "CDC:ErrMySQLInvalidConfig", "CDC:ErrStorageSinkInvalidConfig")

  /** A processor-reported running error (cdc/model/errors.go:27-37). */
  final case class RunningError(code: String, message: String = "")

  /** RunningError.ShouldFailChangefeed (cdc/model/errors.go:34-36) wraps the
    * concatenation `message + code` in a PLAIN error, so the RFC-code
    * unwrap legs of pkg/errors.ShouldFailChangefeed never fire — only the
    * strings.Contains leg over the concatenation does (helper.go:90-106). */
  def shouldFailChangefeed(e: RunningError): Boolean = {
    val text = e.message + e.code
    UnretryableCodes.exists(text.contains)
  }

  def isGcFastFailCode(code: String): Boolean = GcFastFailCodes.contains(code)

  /**
   * cenkalti/backoff/v4 ExponentialBackOff, unit-mapped to milliseconds
   * (the +1 in the randomized draw is one least-significant unit — 1 ms
   * here, 1 ns in Go; irrelevant at the 10 s scale the manager uses).
   * `rand` supplies the uniform draw in [0,1); the manager configures
   * RandomizationFactor 0.1 to avoid a thundering herd — a replay pins it
   * to 0 (the library's documented "no randomness" switch).
   */
  final class ExpBackoff(
      val initialMs: Long = 10000L,           // defaultBackoffInitInterval
      val maxMs: Long = 600000L,              // defaultBackoffMaxInterval
      val multiplier: Double = 2.0,
      val randomizationFactor: Double = 0.0,
      var maxElapsedMs: Long,                 // ChangefeedErrorStuckDuration
      rand: () => Double = () => 0.0,
      clock: () => Long) {

    /** NextBackOff's Stop sentinel (-1). */
    val Stop: Long = -1L

    private var currentIntervalMs: Long = initialMs
    private var startTimeMs: Long = clock()

    def reset(): Unit = { currentIntervalMs = initialMs; startTimeMs = clock() }

    def elapsedMs: Long = clock() - startTimeMs

    private def randomized(cur: Long): Long =
      if (randomizationFactor == 0) cur
      else {
        val delta = randomizationFactor * cur.toDouble
        val lo = cur.toDouble - delta
        val hi = cur.toDouble + delta
        (lo + rand() * (hi - lo + 1)).toLong
      }

    private def increment(): Unit =
      currentIntervalMs =
        if (currentIntervalMs.toDouble >= maxMs.toDouble / multiplier) maxMs
        else (currentIntervalMs.toDouble * multiplier).toLong

    /** v4 NextBackOff: draw around the current interval, grow it, and
      * return Stop once elapsed + next would exceed MaxElapsedTime. */
    def nextBackOff(): Long = {
      val elapsed = elapsedMs
      val next = randomized(currentIntervalMs)
      increment()
      if (maxElapsedMs != 0 && elapsed + next > maxElapsedMs) Stop else next
    }
  }

  /** One tick's observable outcome. */
  final case class TickResult(
      state: String,
      shouldRunning: Boolean,
      shouldRemoved: Boolean,
      adminJobPending: Boolean,
      isRetrying: Boolean,
      backoffMs: Long,
      epochBumped: Boolean,
      errorSet: String,
      warningSet: String,
      resumedOverwriteTs: Option[Long])
}

/**
 * @param stuckDurationMs changefeed-error-stuck-duration: both the
 *        backoff's MaxElapsedTime and the warning-stuck threshold.
 * @param clock injected wall clock in ms (tests drive it; the manager
 *        passes System.currentTimeMillis).
 */
final class FeedStateMachine(
    stuckDurationMs: Long,
    clock: () => Long,
    rand: () => Double = () => 0.0,
    randomizationFactor: Double = 0.0) {
  import FeedStateMachine._

  // ---- the ChangefeedState the Go manager patches ------------------------
  private var infoState: String = UnInitialized
  private var infoError: Option[RunningError] = None
  private var epochBumps: Long = 0L
  private var resumeOverwrite: Option[Long] = None

  // ---- feedStateManager fields -------------------------------------------
  private var shouldBeRunning = true
  private var shouldBeRemoved = false
  private val adminJobQueue = ArrayBuffer.empty[(String, Option[Long])]
  private var isRetrying = false
  private var lastErrorRetryTimeMs = 0L            // time.Unix(0,0)
  private var lastErrorRetryCheckpointTs = 0L
  private var lastWarningReportCheckpointTs = 0L
  private var backoffIntervalMs = 0L
  private val errBackoff = new ExpBackoff(maxElapsedMs = stuckDurationMs,
    rand = rand, randomizationFactor = randomizationFactor, clock = clock)
  private var currentStuckMs = stuckDurationMs

  private var checkpointTs = 0L
  private var resolvedTs = 0L
  private var checkpointTsAdvancedMs = 0L

  // errors/warnings reported between ticks (state.TakeProcessorErrors /
  // TakeProcessorWarnings in the Go — drained by the next tick)
  private val pendingErrors = ArrayBuffer.empty[RunningError]
  private val pendingWarnings = ArrayBuffer.empty[RunningError]

  resetErrRetry()
  isRetrying = false

  def state: String = infoState
  def shouldRunning: Boolean = shouldBeRunning
  def shouldRemoved: Boolean = shouldBeRemoved
  def lastError: Option[RunningError] = infoError
  def backoffMs: Long = backoffIntervalMs
  def retrying: Boolean = isRetrying

  /** PushAdminJob (stop/resume/remove only; finish arrives via
    * markFinished). `overwriteTs` rides along on resume. */
  def pushAdminJob(job: String, overwriteTs: Option[Long] = None): Unit = {
    require(Set("stop", "resume", "remove").contains(job),
      s"can not handle admin job $job")
    adminJobQueue += ((job, overwriteTs))
  }

  def markFinished(): Unit = adminJobQueue += (("finish", None))

  def reportErrors(errs: RunningError*): Unit = pendingErrors ++= errs
  def reportWarnings(ws: RunningError*): Unit = pendingWarnings ++= ws

  /** Dynamic config update: picked up on admin-pending ticks, exactly where
    * the Go re-reads ChangefeedErrorStuckDuration (:173-183). */
  def updateStuckDuration(ms: Long): Unit = currentStuckMs = ms

  private def patchState(st: String): Unit = {
    st match {
      case Normal | Warning => // AdminNone, no epoch bump
      case Finished | Pending | Stopped | Failed | Removed => epochBumps += 1
      case other => throw new IllegalStateException(s"unreachable: $other")
    }
    infoState = st
  }

  private def resetErrRetry(): Unit = {
    errBackoff.reset()
    backoffIntervalMs = errBackoff.nextBackOff()
    lastErrorRetryTimeMs = 0L
  }

  private def shouldRetry: Boolean =
    clock() - lastErrorRetryTimeMs >= backoffIntervalMs

  private def shouldFailWhenRetry(): Boolean = {
    backoffIntervalMs = errBackoff.nextBackOff()
    if (backoffIntervalMs == errBackoff.Stop) true
    else { lastErrorRetryTimeMs = clock(); false }
  }

  private def cleanUp(): Unit = {
    checkpointTs = 0L
    checkpointTsAdvancedMs = 0L
    resolvedTs = 0L
  }

  /**
   * The Tick (:143-241). `statusCkpt` is the changefeed status' checkpoint
   * (None = status not yet created). Returns the tick's observable outcome.
   */
  def tick(resolved: Long, statusCkpt: Option[Long]): TickResult = {
    val epochsBefore = epochBumps
    var errorSet = ""
    var warningSet = ""
    var resumedOvw: Option[Long] = None
    resumeOverwrite = None

    // checkAndInitLastRetryCheckpointTs (:524-532)
    statusCkpt.foreach { ck =>
      if (lastErrorRetryCheckpointTs == 0L) {
        lastWarningReportCheckpointTs = ck
        lastErrorRetryCheckpointTs = ck
      }
    }

    statusCkpt.foreach { ck =>
      if (checkpointTs < ck) {
        checkpointTs = ck
        checkpointTsAdvancedMs = clock()
      }
      if (resolvedTs < resolved) resolvedTs = resolved
      if (checkpointTs >= resolvedTs) checkpointTsAdvancedMs = clock()
    }

    shouldBeRunning = true
    var adminPending = false

    def finish(): TickResult = {
      if (!shouldBeRunning) cleanUp()
      TickResult(infoState, shouldBeRunning, shouldBeRemoved, adminPending,
        isRetrying, backoffIntervalMs, epochBumps > epochsBefore,
        errorSet, warningSet, resumedOvw)
    }

    if (handleAdminJob(statusCkpt)) {
      adminPending = true
      resumedOvw = resumeOverwrite
      if (currentStuckMs != errBackoff.maxElapsedMs)
        errBackoff.maxElapsedMs = currentStuckMs
      return finish()
    }

    infoState match {
      case UnInitialized =>
        patchState(Normal)
        finish()
      case Removed =>
        shouldBeRunning = false
        shouldBeRemoved = true
        finish()
      case Stopped | Failed | Finished =>
        shouldBeRunning = false
        finish()
      case Pending =>
        if (!shouldRetry) {
          shouldBeRunning = false
          finish()
        } else if (shouldFailWhenRetry()) {
          shouldBeRunning = false
          patchState(Failed)
          finish()
        } else {
          shouldBeRunning = true
          statusCkpt.foreach(lastErrorRetryCheckpointTs = _)
          patchState(Warning)
          finish()
        }
      case Normal | Warning =>
        checkAndChangeState(statusCkpt)
        val errs = pendingErrors.toSeq; pendingErrors.clear()
        handleErrorInternal(errs).foreach(errorSet = _)
        // warnings are only TAKEN when there were no errors; otherwise they
        // stay buffered for a later tick (feed_state_manager.go:229-237)
        if (errs.isEmpty) {
          val warns = pendingWarnings.toSeq; pendingWarnings.clear()
          handleWarningInternal(warns, statusCkpt) match {
            case Left(err) => errorSet = err
            case Right(w) => w.foreach(warningSet = _)
          }
        }
        finish()
      case other =>
        throw new IllegalStateException(s"unknown feed state $other")
    }
  }

  /** :280-348. Returns true when a job was handled (jobsPending); an
    * ILLEGAL job is consumed but returns false — the tick continues. */
  private def handleAdminJob(statusCkpt: Option[Long]): Boolean = {
    if (adminJobQueue.isEmpty) return false
    val (job, ovw) = adminJobQueue.remove(0)
    job match {
      case "stop" =>
        if (!Set(Normal, Warning, Pending).contains(infoState)) return false
        shouldBeRunning = false
        patchState(Stopped)
        true
      case "remove" =>
        shouldBeRunning = false
        shouldBeRemoved = true
        true
      case "resume" =>
        if (!Set(Failed, Stopped, Finished).contains(infoState)) return false
        shouldBeRunning = true
        resetErrRetry()
        isRetrying = false
        patchState(Normal)
        resumeOverwrite = ovw
        true
      case "finish" =>
        if (!Set(Normal, Warning).contains(infoState)) return false
        shouldBeRunning = false
        patchState(Finished)
        true
      case _ => false
    }
  }

  /** HandleError (:400-452) over this tick's drained errors. Returns the
    * error code patched into the info, if any. */
  private def handleErrorInternal(errs: Seq[RunningError]): Option[String] =
    if (errs.isEmpty) None
    else errs.find(e => isGcFastFailCode(e.code) || shouldFailChangefeed(e))
      match {
      case Some(fatal) =>
        infoError = Some(fatal)
        shouldBeRunning = false
        patchState(Failed)
        Some(fatal.code)
      // stopped→failed is allowed but stopped→error/normal is not;
      // unreachable from the tick's normal/warning branch, kept for the
      // direct-call surface
      case None if infoState == Stopped => None
      case None =>
        errs.reverse.find(_ != null).map { e =>
          shouldBeRunning = false
          patchState(Pending)
          infoError = Some(e)
          if (!isRetrying) {
            resetErrRetry()
            isRetrying = true
          }
          e.code
        }
    }

  /** Direct-call surface of the Go HandleError (processor errors arriving
    * outside the tick's drain — e.g. the stopped-feed ignore rule). */
  def handleError(errs: RunningError*): Unit = { handleErrorInternal(errs); () }

  /** HandleWarning (:454-494): Left(failCode) when the stuck rule
    * synthesized an unretryable error, Right(warning code) otherwise. */
  private def handleWarningInternal(ws: Seq[RunningError],
      statusCkpt: Option[Long]): Either[String, Option[String]] =
    if (ws.isEmpty) Right(None)
    else {
      val lastWarn = ws.last
      val stuck = statusCkpt.isDefined && {
        statusCkpt.foreach(lastWarningReportCheckpointTs = _)
        clock() - checkpointTsAdvancedMs > currentStuckMs
      }
      if (stuck) {
        val synthesized = RunningError("CDC:ErrChangefeedUnretryable",
          lastWarn.message)
        Left(handleErrorInternal(Seq(synthesized)).getOrElse(""))
      } else {
        patchState(Warning)
        Right(Some(lastWarn.code))
      }
    }

  /** checkAndChangeState (:501-522). */
  private def checkAndChangeState(statusCkpt: Option[Long]): Unit =
    statusCkpt.foreach { ck =>
      if (infoState == Warning && ck > lastErrorRetryCheckpointTs &&
        ck > lastWarningReportCheckpointTs) {
        patchState(Normal)
        isRetrying = false
      }
    }
}
