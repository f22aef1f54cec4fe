package graft.streaming

import scala.collection.mutable

/**
 * DM-master's source↔worker scheduler, re-expressed as a pure in-memory
 * decision kernel (reference: dm/master/scheduler/scheduler.go,
 * dm/master/scheduler/worker.go). This is the control plane that decides
 * which worker replicates which upstream source; the data plane (the
 * actual per-source replication) is a Spark structured-streaming job per
 * bound source, so the kernel's output — the bound table — is all the
 * cluster needs, and it is O(workers + sources) driver-side state exactly
 * like [[SchedulerBridge]]'s CDC twin.
 *
 * Worker stage machine (worker.go:37-68):
 *   Offline -> Free (keep-alive), Free -> Offline | Bound | Relay,
 *   Bound -> Offline | Free | Relay (unbind picks Relay iff relaySource
 *   set), Relay -> Offline | Free (stop-relay) | Bound (only its relay
 *   source). Offline -> Bound/Relay is invalid.
 *
 * Bind-selection priority:
 *  - for a newly free worker (scheduler.go:2242-2321 tryBoundForWorker):
 *    unfinished-load-task transfer, then the last bound source if still
 *    unbound (skipped when the worker relays a different source), then
 *    its relay source (kept free if that source is bound elsewhere), then
 *    any unbound source.
 *  - for a newly unbound source (scheduler.go:2324-2420 tryBoundForSource):
 *    unfinished-load-task transfer, then a history relay worker, then any
 *    relay worker, then a history free worker, then any free worker.
 * Where the reference picks an ARBITRARY element of a Go map (the
 * "randomly pick one" loops), this kernel picks the lexicographically
 * smallest so replays are deterministic; every other branch is
 * clause-for-clause the reference's.
 *
 * Errors are returned as the reference's terror identifier names
 * (dm/pkg/terror/error_list.go:1390-1424); SourceSchedulerSpec parses those
 * identifiers from the reference source so the tokens cannot drift.
 */
object SourceScheduler {

  // worker stages — worker.go:63-68
  val Offline = "offline"
  val Free = "free"
  val Bound = "bound"
  val Relay = "relay"

  // expectant stages (pb.Stage) used by relay/subtask stage records
  val StageRunning = "Running"
  val StagePaused = "Paused"
  val StageStopped = "Stopped"

  // terror identifiers (error_list.go:1390-1424)
  val ErrNotStarted = "ErrSchedulerNotStarted"
  val ErrWorkerExist = "ErrSchedulerWorkerExist"
  val ErrWorkerNotExist = "ErrSchedulerWorkerNotExist"
  val ErrWorkerOnline = "ErrSchedulerWorkerOnline"
  val ErrWorkerInvalidTrans = "ErrSchedulerWorkerInvalidTrans"
  val ErrSourceCfgExist = "ErrSchedulerSourceCfgExist"
  val ErrSourceCfgNotExist = "ErrSchedulerSourceCfgNotExist"
  val ErrSourcesUnbound = "ErrSchedulerSourcesUnbound"
  val ErrSourceOpTaskExist = "ErrSchedulerSourceOpTaskExist"
  val ErrMultiTask = "ErrSchedulerMultiTask"
  val ErrSubTaskExist = "ErrSchedulerSubTaskExist"
  val ErrSubTaskStageInvalidUpdate = "ErrSchedulerSubTaskStageInvalidUpdate"
  val ErrSubTaskOpTaskNotExist = "ErrSchedulerSubTaskOpTaskNotExist"
  val ErrSubTaskOpSourceNotExist = "ErrSchedulerSubTaskOpSourceNotExist"
  val ErrRequireRunningTaskInSyncUnit = "ErrSchedulerRequireRunningTaskInSyncUnit"
  val ErrRelayWorkersBusy = "ErrSchedulerRelayWorkersBusy"
  val ErrRelayWorkersWrongBound = "ErrSchedulerRelayWorkersWrongBound"
  val ErrRelayWorkersWrongRelay = "ErrSchedulerRelayWorkersWrongRelay"
  val ErrSourceOpRelayExist = "ErrSchedulerSourceOpRelayExist"
  val ErrSourceCfgUpdate = "ErrSchedulerSourceCfgUpdate"
  val ErrWrongWorkerInput = "ErrSchedulerWrongWorkerInput"
  val ErrBoundDiffWithStartedRelay = "ErrSchedulerBoundDiffWithStartedRelay"
  val ErrStartRelayOnSpecified = "ErrSchedulerStartRelayOnSpecified"
  val ErrStopRelayOnSpecified = "ErrSchedulerStopRelayOnSpecified"
  val ErrStartRelayOnBound = "ErrSchedulerStartRelayOnBound"
  val ErrStopRelayOnBound = "ErrSchedulerStopRelayOnBound"
  val ErrWorkerNotFree = "ErrSchedulerWorkerNotFree"
  val ErrTaskNotExist = "ErrSchedulerTaskNotExist"
  val ErrSubTaskNotExist = "ErrSchedulerSubTaskNotExist"
  val ErrSubTaskCfgUpdate = "ErrSchedulerSubTaskCfgUpdate"
  val ErrRelayStageInvalidUpdate = "ErrSchedulerRelayStageInvalidUpdate"
  val ErrRelayStageSourceNotExist = "ErrSchedulerRelayStageSourceNotExist"

  /** Upstream source config — only the fields the scheduler reads. */
  final case class SourceCfg(sourceId: String, enableRelay: Boolean = false)

  /** One subtask of a task on a source: expectant stage + current
    * processing unit (the unit gates transfer-source,
    * scheduler.go:717-722). */
  final case class Subtask(stage: String, unit: String = "Sync")

  /** Worker agent — the worker.go stage machine verbatim. */
  final class WorkerAgent(val name: String, val addr: String) {
    var stage: String = Offline
    var boundSource: String = "" // "" = nullBound
    var relaySource: String = ""

    /** worker.go:121-128 — stage to Offline, clear bound (relaySource
      * survives: online recovery re-reads it, scheduler.go:2166-2183). */
    def toOffline(): Unit = { stage = Offline; boundSource = "" }

    /** worker.go:130-138 — stage to Free, clear bound AND relay. */
    def toFree(): Unit = { stage = Free; boundSource = ""; relaySource = "" }

    /** worker.go:140-158 — Offline can't bind; a relay worker binds only
      * its relay source. */
    def toBound(source: String): Either[String, Unit] =
      if (stage == Offline) Left(ErrWorkerInvalidTrans)
      else if (stage == Relay && relaySource != source)
        Left(ErrBoundDiffWithStartedRelay)
      else { stage = Bound; boundSource = source; Right(()) }

    /** worker.go:160-176 — Bound -> Relay iff relaySource set, else Free. */
    def unbound(): Either[String, Unit] =
      if (stage != Bound) Left(ErrWorkerInvalidTrans)
      else {
        boundSource = ""
        stage = if (relaySource.nonEmpty) Relay else Free
        Right(())
      }

    /** worker.go:178-199 — Free gets promoted to Relay; a Bound worker
      * may only relay its own source. */
    def startRelay(source: String): Either[String, Unit] = stage match {
      case Bound if boundSource != source => Left(ErrRelayWorkersWrongBound)
      case s =>
        if (s == Free) stage = Relay
        relaySource = source
        Right(())
    }

    /** worker.go:200-216 — Relay drops to Free; Bound/Offline keep stage. */
    def stopRelay(): Unit = {
      relaySource = ""
      if (stage == Relay) stage = Free
    }
  }

  /**
   * The scheduler state + decision kernel. Mutation methods mirror the
   * reference's public API; each returns Left(terror identifier) on a
   * rejected request. `log` accumulates the would-be etcd writes and
   * worker RPCs (put-bound / del-bound / put-relay-stage / pause / resume)
   * so a gate can assert side effects, not just final state.
   */
  final class Kernel {
    val sourceCfgs = mutable.SortedMap.empty[String, SourceCfg]
    val workers = mutable.SortedMap.empty[String, WorkerAgent]
    val bounds = mutable.SortedMap.empty[String, WorkerAgent] // source -> w
    val unbounds = mutable.SortedSet.empty[String]
    val lastBound = mutable.Map.empty[String, String] // worker -> source
    val relayWorkers = mutable.Map.empty[String, mutable.SortedSet[String]]
    val expectRelayStages = mutable.Map.empty[String, String] // source -> st
    // task -> source -> subtask (cfg + expectant stage fused: the kernel
    // keeps them in one map because delete/exist checks always pair)
    val subtasks = mutable.SortedMap
      .empty[String, mutable.SortedMap[String, Subtask]]
    val loadTasks = mutable.SortedMap
      .empty[String, mutable.SortedMap[String, String]] // task->source->w
    val log = mutable.ArrayBuffer.empty[String]

    private def note(s: String): Unit = { log += s; () }

    // ---- worker membership -------------------------------------------

    /** scheduler.go:1262-1292 AddWorker — idempotent for the same addr,
      * rejected for a different one; records an Offline agent. */
    def addWorker(name: String, addr: String): Either[String, Unit] =
      workers.get(name) match {
        case Some(w) if w.addr == addr => Right(()) // restart, first wins
        case Some(_) => Left(ErrWorkerExist)
        case None =>
          workers(name) = new WorkerAgent(name, addr)
          note(s"put-worker:$name")
          Right(())
      }

    /** scheduler.go:1296-1318 RemoveWorker — only Offline workers;
      * deleteWorker (:2463-2474) also drops relay-worker membership. */
    def removeWorker(name: String): Either[String, Unit] =
      workers.get(name) match {
        case None => Left(ErrWorkerNotExist)
        case Some(w) if w.stage != Offline => Left(ErrWorkerOnline)
        case Some(_) =>
          // deleteWorker removes the MEMBER, not the source key — an
          // emptied set still triggers stop-relay's stage cleanup later
          relayWorkers.values.foreach(_.remove(name))
          workers.remove(name)
          note(s"del-worker:$name")
          Right(())
      }

    // ---- source configs ----------------------------------------------

    /** scheduler.go:344-361 AddSourceCfg = addSource + tryBoundForSource. */
    def addSourceCfg(cfg: SourceCfg): Either[String, Unit] =
      for {
        _ <- addSource(cfg)
        _ <- tryBoundForSource(cfg.sourceId)
      } yield ()

    /** scheduler.go:364-388 AddSourceCfgWithWorker — worker must exist
      * and be Free (relay workers are NOT eligible here). */
    def addSourceCfgWithWorker(
        cfg: SourceCfg, workerName: String): Either[String, Unit] =
      workers.get(workerName) match {
        case None => Left(ErrWorkerNotExist)
        case Some(w) if w.stage != Free => Left(ErrWorkerNotFree)
        case Some(w) =>
          for {
            _ <- addSource(cfg)
            _ <- boundSourceToWorker(cfg.sourceId, w)
          } yield ()
      }

    /** scheduler.go:390-406 addSource. */
    private def addSource(cfg: SourceCfg): Either[String, Unit] =
      if (sourceCfgs.contains(cfg.sourceId)) Left(ErrSourceCfgExist)
      else {
        sourceCfgs(cfg.sourceId) = cfg
        unbounds += cfg.sourceId
        note(s"put-source:${cfg.sourceId}")
        Right(())
      }

    /** scheduler.go:408-442 UpdateSourceCfg — only when no running task
      * uses the source and relay is not expected on it. */
    def updateSourceCfg(cfg: SourceCfg): Either[String, Unit] =
      if (!sourceCfgs.contains(cfg.sourceId)) Left(ErrSourceCfgNotExist)
      else if (taskNamesBySource(cfg.sourceId, Some(StageRunning)).nonEmpty)
        Left(ErrSourceCfgUpdate)
      else if (expectRelayStages.contains(cfg.sourceId))
        Left(ErrSourceCfgUpdate)
      else { sourceCfgs(cfg.sourceId) = cfg; Right(()) }

    /** scheduler.go:444-514 RemoveSourceCfg — rejected while subtasks or
      * relay workers exist; unbinds, then re-binds the freed worker. */
    def removeSourceCfg(source: String): Either[String, Unit] = {
      if (!sourceCfgs.contains(source)) return Left(ErrSourceCfgNotExist)
      val tasksOnSource = subtasks.collect {
        case (task, m) if m.contains(source) => task
      }
      if (tasksOnSource.nonEmpty) return Left(ErrSourceOpTaskExist)
      if (relayWorkers.get(source).exists(_.nonEmpty))
        return Left(ErrSourceOpRelayExist)
      val worker = bounds.get(source)
      note(s"del-source:$source")
      sourceCfgs.remove(source)
      expectRelayStages.remove(source)
      updateStatusToUnbound(source)
      unbounds -= source
      worker match {
        case Some(w) => tryBoundForWorker(w).map(_ => ())
        case None => Right(())
      }
    }

    // ---- subtasks ------------------------------------------------------

    /** scheduler.go:843-962 AddSubTasks (expectant stage + existence and
      * bound checks; config plumbing like lightning-readiness elided). */
    def addSubTasks(
        expectStage: String,
        cfgs: Seq[(String, String, String)]): Either[String, Unit] = {
      if (cfgs.isEmpty) return Right(())
      val taskNames = cfgs.map(_._1).distinct.sorted
      if (taskNames.size > 1) return Left(ErrMultiTask)
      val task = taskNames.head
      val existing =
        subtasks.getOrElse(task, mutable.SortedMap.empty[String, Subtask])
      val fresh = cfgs.filterNot(c => existing.contains(c._2))
      if (fresh.isEmpty) return Left(ErrSubTaskExist)
      val unboundSrcs = fresh.map(_._2).filterNot(bounds.contains)
      if (unboundSrcs.nonEmpty) return Left(ErrSourcesUnbound)
      val m = subtasks.getOrElseUpdate(task, mutable.SortedMap.empty)
      fresh.foreach { case (_, src, unit) =>
        m(src) = Subtask(expectStage, unit)
        note(s"put-subtask:$task/$src=$expectStage")
      }
      Right(())
    }

    /** scheduler.go:964-1046 RemoveSubTasks. */
    def removeSubTasks(task: String, sources: Seq[String]): Either[String, Unit] = {
      if (task.isEmpty || sources.isEmpty) return Right(())
      val m = subtasks.get(task) match {
        case None => return Left(ErrSubTaskOpTaskNotExist)
        case Some(x) => x
      }
      if (sources.exists(s => !m.contains(s)))
        return Left(ErrSubTaskOpSourceNotExist)
      sources.foreach { s => m.remove(s); note(s"del-subtask:$task/$s") }
      if (m.isEmpty) subtasks.remove(task)
      Right(())
    }

    /** scheduler.go:1699-1766 UpdateExpectSubTaskStage. */
    def updateExpectSubTaskStage(
        newStage: String, task: String,
        sources: Seq[String]): Either[String, Unit] = {
      if (task.isEmpty || sources.isEmpty) return Right(())
      if (newStage != StageRunning && newStage != StagePaused &&
          newStage != StageStopped)
        return Left(ErrSubTaskStageInvalidUpdate)
      val m = subtasks.get(task) match {
        case None => return Left(ErrSubTaskOpTaskNotExist)
        case Some(x) => x
      }
      if (sources.exists(s => !m.contains(s)))
        return Left(ErrSubTaskOpSourceNotExist)
      sources.foreach { s =>
        m(s) = m(s).copy(stage = newStage)
        note(s"put-stage:$task/$s=$newStage")
      }
      Right(())
    }

    /** scheduler.go:1048-1110 UpdateSubTasks — config update is allowed
      * only for one task, only for existing subtasks, only when NOT
      * Running, and only while the source is bound (the worker-side
      * checkSubtasksCanUpdate RPC is wire; its gate here is the bound
      * check). Unit is preserved; only the config identity "updates". */
    def updateSubTasks(
        cfgs: Seq[(String, String)]): Either[String, Unit] = {
      if (cfgs.isEmpty) return Right(())
      val taskNames = cfgs.map(_._1).distinct.sorted
      if (taskNames.size > 1) return Left(ErrMultiTask)
      val task = taskNames.head
      val m = subtasks.get(task) match {
        case None => return Left(ErrTaskNotExist)
        case Some(x) => x
      }
      if (cfgs.exists(c => !m.contains(c._2)))
        return Left(ErrSubTaskNotExist)
      if (m(cfgs.head._2).stage == StageRunning)
        return Left(ErrSubTaskCfgUpdate)
      if (cfgs.exists(c => !bounds.contains(c._2)))
        return Left(ErrSubTaskCfgUpdate)
      cfgs.foreach { case (t, s) => note(s"put-subtask-cfg:$t/$s") }
      Right(())
    }

    /** scheduler.go:1617-1680 UpdateExpectRelayStage — Running/Paused
      * only; ALL named sources must have a config (stage-less sources
      * are warned about but written). */
    def updateExpectRelayStage(
        newStage: String, sources: Seq[String]): Either[String, Unit] = {
      if (sources.isEmpty) return Right(())
      if (newStage != StageRunning && newStage != StagePaused)
        return Left(ErrRelayStageInvalidUpdate)
      val missing = sources.filterNot(sourceCfgs.contains)
      if (missing.nonEmpty) return Left(ErrRelayStageSourceNotExist)
      sources.foreach { s =>
        expectRelayStages(s) = newStage
        note(s"put-relay-stage:$s=$newStage")
      }
      Right(())
    }

    /** scheduler.go:1239-1259 GetTaskNameListBySourceName. */
    def taskNamesBySource(
        source: String, expect: Option[String] = None): Seq[String] =
      subtasks.collect {
        case (task, m) if m.get(source)
          .exists(st => expect.forall(_ == st.stage)) => task
      }.toSeq

    // ---- relay ---------------------------------------------------------

    /** scheduler.go:1376-1488 StartRelay — the no-worker quick path
      * toggles enable-relay on the config; the named path validates all
      * workers then registers relay membership. */
    def startRelay(
        source: String, workerNames: Seq[String]): Either[String, Unit] = {
      val cfg = sourceCfgs.get(source) match {
        case None => return Left(ErrSourceCfgNotExist)
        case Some(c) => c
      }
      val started =
        relayWorkers.getOrElse(source, mutable.SortedSet.empty[String])
      if (workerNames.isEmpty) {
        if (started.nonEmpty) return Left(ErrStartRelayOnSpecified)
        sourceCfgs(source) = cfg.copy(enableRelay = true)
        bounds.get(source).foreach { w =>
          note(s"put-relay-stage:$source=$StageRunning")
          note(s"put-bound:$source->${w.name}")
        }
        return Right(())
      }
      if (cfg.enableRelay) return Left(ErrStartRelayOnBound)
      // validation sweep over the requested workers (scheduler.go:1420-1459)
      val missing = workerNames.filterNot(workers.contains)
      if (missing.nonEmpty) return Left(ErrWorkerNotExist)
      val wrongBound = workerNames.filter { n =>
        val w = workers(n)
        w.boundSource.nonEmpty && w.boundSource != source
      }
      if (wrongBound.nonEmpty) return Left(ErrRelayWorkersWrongBound)
      val busy = workerNames.filter { n =>
        val w = workers(n)
        w.relaySource.nonEmpty && w.relaySource != source
      }
      if (busy.nonEmpty) return Left(ErrRelayWorkersBusy)
      if (started.isEmpty) {
        expectRelayStages(source) = StageRunning
        note(s"put-relay-stage:$source=$StageRunning")
      }
      val set = relayWorkers.getOrElseUpdate(source, mutable.SortedSet.empty)
      workerNames.foreach { n =>
        set += n
        note(s"put-relay-config:$source/$n")
        workers(n).startRelay(source).left.foreach(e =>
          throw new IllegalStateException(s"prechecked startRelay failed: $e"))
      }
      Right(())
    }

    /** scheduler.go:1490-1585 StopRelay. */
    def stopRelay(
        source: String, workerNames: Seq[String]): Either[String, Unit] = {
      val cfg = sourceCfgs.get(source) match {
        case None => return Left(ErrSourceCfgNotExist)
        case Some(c) => c
      }
      if (workerNames.isEmpty) {
        if (relayWorkers.get(source).exists(_.nonEmpty))
          return Left(ErrStopRelayOnSpecified)
        sourceCfgs(source) = cfg.copy(enableRelay = false)
        bounds.get(source).foreach(w => note(s"put-bound:$source->${w.name}"))
        return Right(())
      }
      if (cfg.enableRelay) return Left(ErrStopRelayOnBound)
      val missing = workerNames.filterNot(workers.contains)
      if (missing.nonEmpty) return Left(ErrWorkerNotExist)
      // workers relaying a DIFFERENT source are rejected; never-started
      // ones are only warned about (scheduler.go:1536-1560)
      val active = workerNames.filter(n => workers(n).relaySource.nonEmpty)
      val unmatched = active.filter(n => workers(n).relaySource != source)
      if (unmatched.nonEmpty) return Left(ErrRelayWorkersWrongRelay)
      workerNames.foreach { n =>
        relayWorkers.get(source).foreach(_.remove(n))
        workers(n).stopRelay()
        note(s"del-relay-config:$source/$n")
      }
      if (relayWorkers.get(source).exists(_.isEmpty)) {
        relayWorkers.remove(source)
        expectRelayStages.remove(source)
        note(s"del-relay-stage:$source")
      }
      Right(())
    }

    // ---- keep-alive events ----------------------------------------------

    /** scheduler.go:2133-2190 handleWorkerOnline — a Bound worker just
      * re-puts its bound; otherwise Offline -> Free (+ relay recovery from
      * relayWorkers membership), then a bind try. */
    def workerOnline(name: String): Either[String, Unit] =
      workers.get(name) match {
        case None => Right(()) // event for an unknown worker: warn + skip
        case Some(w) if w.stage == Bound =>
          if (w.relaySource.nonEmpty)
            note(s"put-relay-config:${w.relaySource}/$name")
          note(s"put-bound:${w.boundSource}->$name")
          Right(())
        case Some(w) =>
          val lastRelay =
            if (w.relaySource.nonEmpty) w.relaySource
            else relayWorkers.collectFirst {
              case (src, ws) if ws.contains(name) => src
            }.getOrElse("")
          w.toFree()
          if (lastRelay.nonEmpty)
            w.startRelay(lastRelay).left.foreach(e =>
              throw new IllegalStateException(s"online relay recovery: $e"))
          tryBoundForWorker(w).map(_ => ())
      }

    /** scheduler.go:2192-2239 handleWorkerOffline — unbind if bound, stage
      * to Offline, then try to re-bind the orphaned source elsewhere. */
    def workerOffline(name: String): Either[String, Unit] =
      workers.get(name) match {
        case None => Right(())
        case Some(w) if w.boundSource.isEmpty =>
          w.toOffline()
          Right(())
        case Some(w) =>
          val source = w.boundSource
          note(s"del-bound:$name")
          updateStatusToUnbound(source)
          w.toOffline()
          tryBoundForSource(source).map(_ => ())
      }

    // ---- transfer --------------------------------------------------------

    /** scheduler.go:675-769 TransferSource — validation chain, then the
      * auto pause/resume envelope for running tasks, then the rebind. */
    def transferSource(source: String, worker: String): Either[String, Unit] = {
      if (!sourceCfgs.contains(source)) return Left(ErrSourceCfgNotExist)
      val w = workers.get(worker) match {
        case None => return Left(ErrWorkerNotExist)
        case Some(x) => x
      }
      val oldWorker = bounds.get(source)
      if (oldWorker.exists(_.name == worker)) return Right(()) // no-op
      w.stage match {
        case Offline | Bound => return Left(ErrWorkerInvalidTrans)
        case Relay if w.relaySource != source =>
          return Left(ErrBoundDiffWithStartedRelay)
        case _ => ()
      }
      oldWorker match {
        case None => boundSourceToWorker(source, w)
        case Some(old) =>
          val running = taskNamesBySource(source, Some(StageRunning))
          if (running.nonEmpty) {
            // all running subtasks must be in the Sync unit
            // (scheduler.go:717-722) before the auto pause/resume
            val notSync = running.exists(t =>
              subtasks(t)(source).unit != "Sync")
            if (notSync) return Left(ErrRequireRunningTaskInSyncUnit)
            running.foreach { t =>
              updateExpectSubTaskStage(StagePaused, t, Seq(source))
              note(s"pause:$t/$source")
            }
          }
          note(s"replace-bound:$source:${old.name}->$worker")
          old.unbound().left.foreach(e =>
            throw new IllegalStateException(s"old worker unbound: $e"))
          updateStatusToBound(w, source).left.foreach(e =>
            throw new IllegalStateException(s"checked-free bind: $e"))
          val r = tryBoundForWorker(old).map(_ => ())
          // auto-resume what we paused (the reference does this async,
          // post-transfer; the kernel is synchronous so it lands here)
          running.foreach { t =>
            updateExpectSubTaskStage(StageRunning, t, Seq(source))
            note(s"resume:$t/$source")
          }
          r
      }
    }

    /** scheduler.go:558-672 transferWorkerAndSource — the 4-way bound
      * shuffle used by load-task resolution: validates both (worker,
      * source) inputs, unbinds, cross-binds (worker i takes source i^1),
      * then re-bind tries for whoever came out free/unbound. */
    def transferWorkerAndSource(
        lworker: String, lsource: String,
        rworker: String, rsource: String): Either[String, Unit] = {
      val inW = Array(lworker, rworker)
      val inS = Array(lsource, rsource)
      val ws = new Array[WorkerAgent](2)
      for (i <- 0 to 1; if inW(i).nonEmpty) {
        ws(i) = workers.getOrElse(inW(i), null)
        if (ws(i) == null) return Left(ErrWorkerNotExist)
      }
      for (i <- 0 to 1; if inW(i).nonEmpty) {
        if (ws(i).boundSource != inS(i)) return Left(ErrWrongWorkerInput)
        val relay = ws(i).relaySource
        val toBind = inS(i ^ 1)
        if (relay.nonEmpty && toBind.nonEmpty && relay != toBind)
          return Left(ErrBoundDiffWithStartedRelay)
      }
      for (i <- 0 to 1; if inW(i).nonEmpty && inS(i).nonEmpty)
        note(s"del-bound:${inW(i)}")
      inS.filter(_.nonEmpty).foreach(updateStatusToUnbound)
      for (i <- 0 to 1; if inW(i).nonEmpty && inS(i ^ 1).nonEmpty) {
        note(s"put-bound:${inS(i ^ 1)}->${inW(i)}")
        updateStatusToBound(ws(i), inS(i ^ 1)).left.foreach(e =>
          throw new IllegalStateException(s"validated cross-bind: $e"))
      }
      for (i <- 0 to 1; if inW(i).nonEmpty && inS(i ^ 1).isEmpty)
        tryBoundForWorker(ws(i)) match {
          case Left(e) => return Left(e)
          case Right(_) => ()
        }
      for (i <- 0 to 1; if inS(i).nonEmpty && inW(i ^ 1).isEmpty)
        tryBoundForSource(inS(i)) match {
          case Left(e) => return Left(e)
          case Right(_) => ()
        }
      Right(())
    }

    // ---- load tasks -------------------------------------------------------

    /** scheduler.go:2718-2726 handleLoadTaskPut. */
    def loadTaskPut(task: String, source: String, worker: String): Unit = {
      loadTasks.getOrElseUpdate(task, mutable.SortedMap.empty)(source) = worker
      ()
    }

    /** scheduler.go:2698-2715 handleLoadTaskDel — drop the record, then
      * try to hand the freed worker/source pair back to their load-task
      * homes. */
    def loadTaskDel(task: String, source: String): Either[String, Unit] = {
      val m = loadTasks.get(task) match {
        case None => return Right(())
        case Some(x) => x
      }
      val originWorker = m.get(source) match {
        case None => return Right(())
        case Some(x) => x
      }
      m.remove(source)
      if (m.isEmpty) loadTasks.remove(task)
      tryResolveLoadTask(originWorker, source)
    }

    /** scheduler.go:2649-2667 hasLoadTaskByWorkerAndSource — only counts
      * load tasks whose subtask still exists. */
    def hasLoadTask(worker: String, source: String): Boolean =
      loadTasks.exists { case (task, m) =>
        subtasks.get(task).exists(_.contains(source)) &&
          m.get(source).contains(worker)
      }

    /** scheduler.go:2607-2646 getNextLoadTaskTransfer — the four probes in
      * reference order: unbound source with a load task on this worker;
      * bound source whose current worker has no load task for it; free
      * worker with a load task for this source; bound worker whose own
      * source it has no load task for. */
    def getNextLoadTaskTransfer(
        worker: String, source: String): (String, String) = {
      if (worker.nonEmpty) {
        unbounds.find(s => s != source && hasLoadTask(worker, s)) match {
          case Some(s) => return ("", s)
          case None => ()
        }
        bounds.find { case (s, w) =>
          s != source && hasLoadTask(worker, s) && !hasLoadTask(w.name, s)
        } match {
          case Some((s, w)) => return (w.name, s)
          case None => ()
        }
      }
      if (source.nonEmpty) {
        workers.valuesIterator.find(w =>
          w.name != worker && w.stage == Free &&
            hasLoadTask(w.name, source)) match {
          case Some(w) => return (w.name, "")
          case None => ()
        }
        workers.valuesIterator.find(w =>
          w.name != worker && w.stage == Bound &&
            hasLoadTask(w.name, source) &&
            !hasLoadTask(w.name, w.boundSource)) match {
          case Some(w) => return (w.name, w.boundSource)
          case None => ()
        }
      }
      ("", "")
    }

    /** scheduler.go:2685-2696 tryResolveLoadTask. */
    def tryResolveLoadTask(
        originWorker: String, originSource: String): Either[String, Unit] = {
      if (hasLoadTask(originWorker, originSource)) return Right(())
      val (w, s) = getNextLoadTaskTransfer(originWorker, originSource)
      if (w.isEmpty && s.isEmpty) Right(())
      else transferWorkerAndSource(originWorker, originSource, w, s)
    }

    // ---- bind engine -------------------------------------------------------

    /** scheduler.go:2242-2321 tryBoundForWorker (priority chain in the
      * object Scaladoc). Returns whether a bind happened. */
    def tryBoundForWorker(w: WorkerAgent): Either[String, Boolean] = {
      val (tw, ts) = getNextLoadTaskTransfer(w.name, "")
      if (ts.nonEmpty)
        return transferWorkerAndSource(w.name, "", tw, ts).map(_ => true)
      var source = lastBound.getOrElse(w.name, "")
      if (!unbounds.contains(source)) source = ""
      if (source.nonEmpty && w.relaySource.nonEmpty &&
          w.relaySource != source) source = ""
      if (source.isEmpty) {
        source = w.relaySource
        if (source.nonEmpty && bounds.contains(source))
          return Right(false) // relay source bound elsewhere: stay free
      }
      if (source.isEmpty) source = unbounds.headOption.getOrElse("")
      if (source.isEmpty) Right(false)
      else boundSourceToWorker(source, w).map(_ => true)
    }

    /** scheduler.go:2324-2420 tryBoundForSource (priority chain in the
      * object Scaladoc). */
    def tryBoundForSource(source: String): Either[String, Boolean] = {
      val (tw, ts) = getNextLoadTaskTransfer("", source)
      if (tw.nonEmpty)
        return transferWorkerAndSource("", source, tw, ts).map(_ => true)
      val relaySet =
        relayWorkers.getOrElse(source, mutable.SortedSet.empty[String])
      def historyOf(stage: String, inRelay: Boolean): Option[WorkerAgent] =
        workers.valuesIterator.find { w =>
          lastBound.get(w.name).contains(source) && w.stage == stage &&
            (!inRelay || relaySet.contains(w.name))
        }
      val worker =
        historyOf(Relay, inRelay = true)
          .orElse(relaySet.iterator.flatMap(workers.get)
            .find(_.stage == Relay))
          .orElse(historyOf(Free, inRelay = false))
          .orElse(workers.valuesIterator.find(_.stage == Free))
      worker match {
        case None => Right(false)
        case Some(w) => boundSourceToWorker(source, w).map(_ => true)
      }
    }

    /** scheduler.go:2423-2448 boundSourceToWorker — enable-relay sources
      * also (re)put a Running relay stage alongside the bound. */
    private def boundSourceToWorker(
        source: String, w: WorkerAgent): Either[String, Unit] = {
      if (sourceCfgs.get(source).exists(_.enableRelay))
        note(s"put-relay-stage:$source=$StageRunning")
      note(s"put-bound:$source->${w.name}")
      updateStatusToBound(w, source)
    }

    /** scheduler.go:2481-2492 updateStatusToBound. */
    private def updateStatusToBound(
        w: WorkerAgent, source: String): Either[String, Unit] =
      w.toBound(source).map { _ =>
        bounds(source) = w
        lastBound(w.name) = source
        unbounds -= source
      }

    /** scheduler.go:2496-2507 updateStatusToUnbound. */
    private def updateStatusToUnbound(source: String): Unit = {
      unbounds += source
      bounds.remove(source).foreach { w =>
        w.unbound().left.foreach(e =>
          throw new IllegalStateException(s"unbound a non-bound worker: $e"))
      }
    }

    /**
     * Start's bootstrap recovery (scheduler.go:226-310): rebuild the
     * scheduler from persisted state, reconciling conflicts the way a
     * restarted DM-master leader does —
     *  - recoverRelayConfigs (:1865-1889): an enable-relay source's
     *    per-worker relay configs are PURGED (the two relay-scheduling
     *    modes may not coexist); configs of unknown sources are warned
     *    about but KEPT in memory;
     *  - recoverWorkersBounds (:1908-2016): workers restore Offline or
     *    (if keep-alive) Free, then relay stage from relay membership,
     *    then their persisted bound — a bound whose source conflicts
     *    with the worker's recovered relay source is DROPPED
     *    (ErrSchedulerBoundDiffWithStartedRelay → skip, :1966-1972), as
     *    is a bound without a source config or on a dead worker (the
     *    invalid set is deleted from etcd, :1984-1995); every source
     *    not bound ends in unbounds;
     *  - the post-recovery bind sweep (:270-281): every Free/Relay
     *    worker gets a bind try, stopping at the first that stays
     *    unbound.
     * `bindAfter = false` stops before the sweep (the reference's
     * bootstrap unit tests exercise exactly that prefix).
     */
    def bootstrap(
        cfgs: Seq[SourceCfg],
        workerInfos: Seq[(String, String)],
        sbm: Map[String, String],
        lastBounds: Map[String, String],
        aliveWorkers: Set[String],
        relayCfg: Map[String, Set[String]],
        subtasksIn: Seq[(String, String, String, String)] = Seq.empty,
        loadTasksIn: Seq[(String, String, String)] = Seq.empty,
        bindAfter: Boolean = true): Unit = {
      sourceCfgs.clear(); workers.clear(); bounds.clear(); unbounds.clear()
      lastBound.clear(); relayWorkers.clear(); expectRelayStages.clear()
      subtasks.clear(); loadTasks.clear()
      cfgs.foreach(c => sourceCfgs(c.sourceId) = c)
      subtasksIn.foreach { case (t, s, st, u) =>
        subtasks.getOrElseUpdate(t, mutable.SortedMap.empty)(s) =
          Subtask(st, u)
      }
      relayCfg.toSeq.sortBy(_._1).foreach { case (src, ws) =>
        if (sourceCfgs.get(src).exists(_.enableRelay))
          ws.toSeq.sorted.foreach(w => note(s"del-relay-config:$src/$w"))
        else relayWorkers(src) = mutable.SortedSet(ws.toSeq: _*)
      }
      loadTasksIn.foreach { case (t, s, w) => loadTaskPut(t, s, w) }
      lastBounds.foreach { case (w, s) => lastBound(w) = s }
      val relayInfo = relayWorkers.toSeq
        .flatMap { case (src, ws) => ws.toSeq.map(_ -> src) }.toMap
      val boundOk = mutable.Set.empty[String]
      workerInfos.sortBy(_._1).foreach { case (name, addr) =>
        val w = new WorkerAgent(name, addr)
        workers(name) = w
        if (aliveWorkers(name)) {
          w.toFree()
          relayInfo.get(name).foreach { src =>
            w.startRelay(src).left.foreach(e =>
              throw new IllegalStateException(s"bootstrap relay: $e"))
          }
          sbm.get(name).filter(sourceCfgs.contains).foreach { src =>
            updateStatusToBound(w, src) match {
              case Left(_) => () // relay/bound conflict: bound dropped
              case Right(_) =>
                boundOk += name
                note(s"put-bound:$src->$name")
            }
          }
        }
      }
      (sbm.keySet -- boundOk).toSeq.sorted
        .foreach(n => note(s"del-bound:$n"))
      sourceCfgs.keys.filterNot(bounds.contains).foreach(unbounds += _)
      if (bindAfter) {
        workers.valuesIterator
          .filter(w => w.stage == Free || w.stage == Relay)
          .find(w => tryBoundForWorker(w) != Right(true))
        ()
      }
    }

    /** The placement the data plane executes: source → bound worker.
      * O(sources) and broadcastable — the DM twin of SchedulerBridge's
      * (tableId → capture) map; an unbound source is absent (DM does not
      * replicate it until a worker binds). */
    def placement: Map[String, String] =
      bounds.map { case (s, w) => s -> w.name }.toMap

    // ---- snapshots ------------------------------------------------------

    /** Compact state fingerprint for gates: sorted `src->wkr` bounds,
      * sorted free workers, sorted relay-stage workers, sorted unbounds. */
    def snapshot(): (String, String, String, String) = (
      bounds.map { case (s, w) => s"$s->${w.name}" }.mkString(","),
      workers.valuesIterator.filter(_.stage == Free).map(_.name)
        .mkString(","),
      workers.valuesIterator.filter(_.stage == Relay)
        .map(w => s"${w.name}:${w.relaySource}").mkString(","),
      unbounds.mkString(","))
  }
}
