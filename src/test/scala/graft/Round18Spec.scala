package graft

import scala.util.Random

import graft.streaming.SourceScheduler
import graft.streaming.SourceScheduler.{Kernel, SourceCfg}

/** Round-18 properties of the DM-master source↔worker scheduler: the
  * reference's worker_test.go / scheduler_test.go sequences replayed step
  * for step, and a randomized script property on its invariants. */
class Round18Spec extends SparkSpec {

  test("worker stage machine replays worker_test.go TestWorker") {
    // the reference's own unit sequence (worker_test.go:29-133),
    // step-for-step minus the gRPC legs
    import SourceScheduler._
    val w = new WorkerAgent("dm-worker-1", "127.0.0.1:51803")
    val s1 = "mysql-replica-1"; val s2 = "mysql-replica-2"
    assert(w.stage == Offline && w.boundSource.isEmpty)
    w.toFree(); assert(w.stage == Free && w.boundSource.isEmpty)
    assert(w.toBound(s1).isRight)
    assert(w.stage == Bound && w.boundSource == s1)
    w.toFree(); assert(w.stage == Free && w.boundSource.isEmpty)
    w.toOffline(); assert(w.stage == Offline && w.boundSource.isEmpty)
    // Offline -> Bound is invalid
    assert(w.toBound(s1) == Left(ErrWorkerInvalidTrans))
    assert(w.stage == Offline && w.boundSource.isEmpty)
    w.toFree(); assert(w.toBound(s1).isRight)
    assert(w.stage == Bound && w.boundSource == s1)
    w.toOffline(); assert(w.stage == Offline && w.boundSource.isEmpty)
    // Offline -> Free -> Relay
    w.toFree(); assert(w.startRelay(s1).isRight)
    assert(w.stage == Relay && w.relaySource == s1)
    // Relay -> Free
    w.stopRelay(); assert(w.stage == Free && w.relaySource.isEmpty)
    // Relay -> Bound (bound with relay)
    assert(w.startRelay(s1).isRight && w.toBound(s1).isRight)
    assert(w.stage == Bound && w.boundSource == s1 && w.relaySource == s1)
    // Bound turns relay off: stage keeps
    w.stopRelay(); assert(w.stage == Bound && w.relaySource.isEmpty)
    // Bound + wrong-source relay
    assert(w.startRelay(s2) == Left(ErrRelayWorkersWrongBound))
    assert(w.relaySource.isEmpty)
    assert(w.startRelay(s1).isRight)
    assert(w.stage == Bound && w.relaySource == s1)
    // Bound -> Relay via unbound
    assert(w.unbound().isRight)
    assert(w.stage == Relay && w.boundSource.isEmpty && w.relaySource == s1)
    // Relay -> Offline RETAINS the relay source (online recovery reads it)
    w.toOffline(); assert(w.stage == Offline && w.relaySource == s1)
    // stop-relay while offline clears it
    w.stopRelay(); assert(w.stage == Offline && w.relaySource.isEmpty)
  }

  test("transfer-source replays scheduler_test.go TestTransferSource") {
    // the reference's own integration sequence (scheduler_test.go:
    // 1228-1348), minus the etcd failpoint and query-status retry legs
    // (wire plumbing); state injections (manual unbounds) mirror the
    // test's direct map writes.
    import SourceScheduler._
    val k = new Kernel
    (1 to 4).foreach(i => k.addWorker(s"dm-worker-$i", s"a$i"))
    def w(i: Int) = k.workers(s"dm-worker-$i")
    def src(i: Int) = s"mysql-replica-$i"
    k.workerOnline("dm-worker-1"); k.addSourceCfg(SourceCfg(src(1)))
    k.workerOnline("dm-worker-2"); k.addSourceCfg(SourceCfg(src(2)))
    k.workerOnline("dm-worker-3"); k.workerOnline("dm-worker-4")
    assert(k.bounds(src(1)).name == "dm-worker-1")
    assert(k.bounds(src(2)).name == "dm-worker-2")
    assert(w(3).stage == Free && w(4).stage == Free)
    // invalid: source not exists
    assert(k.transferSource("not-exist", "dm-worker-3").isLeft)
    // valid: bound -> free
    assert(k.transferSource(src(1), "dm-worker-4").isRight)
    assert(k.bounds(src(1)).name == "dm-worker-4" && w(1).stage == Free)
    // valid: unbound -> free (manual unbound injection as in the test)
    k.sourceCfgs(src(3)) = SourceCfg(src(3)); k.unbounds += src(3)
    assert(k.transferSource(src(3), "dm-worker-3").isRight)
    assert(k.bounds(src(3)).name == "dm-worker-3")
    // valid: self = no-op
    assert(k.transferSource(src(3), "dm-worker-3").isRight)
    assert(k.bounds(src(3)).name == "dm-worker-3")
    // invalid: bound -> bound
    assert(k.transferSource(src(1), "dm-worker-3") ==
      Left(ErrWorkerInvalidTrans))
    assert(k.bounds(src(1)).name == "dm-worker-4")
    assert(k.bounds(src(3)).name == "dm-worker-3")
    // invalid: bound -> offline
    w(1).toOffline()
    assert(k.transferSource(src(1), "dm-worker-1") ==
      Left(ErrWorkerInvalidTrans))
    assert(k.bounds(src(1)).name == "dm-worker-4")
    // invalid: unbound -> bound
    k.sourceCfgs(src(4)) = SourceCfg(src(4)); k.unbounds += src(4)
    assert(k.transferSource(src(4), "dm-worker-3") ==
      Left(ErrWorkerInvalidTrans))
    assert(k.bounds(src(3)).name == "dm-worker-3")
    k.unbounds -= src(4); k.sourceCfgs.remove(src(4))
    w(1).toFree()
    // running task NOT in sync unit refuses the transfer
    k.subtasks(("test")) = scala.collection.mutable.SortedMap(
      src(1) -> Subtask(StageRunning, unit = "Load"))
    assert(k.transferSource(src(1), "dm-worker-1") ==
      Left(ErrRequireRunningTaskInSyncUnit))
    // all running tasks in sync unit: transfer pauses, moves, resumes
    k.subtasks("test")(src(1)) = Subtask(StageRunning, unit = "Sync")
    assert(k.transferSource(src(1), "dm-worker-1").isRight)
    assert(k.bounds(src(1)).name == "dm-worker-1" && w(1).stage == Bound)
    assert(k.subtasks("test")(src(1)).stage == StageRunning) // resumed
    assert(k.log.exists(_.startsWith("pause:test/")) &&
      k.log.exists(_.startsWith("resume:test/")))
  }

  test("relay ops replay scheduler_test.go TestStartStopRelay") {
    // the reference's relay centerpiece (scheduler_test.go:1351-1477),
    // step-for-step; updateStatusToUnbound's direct call is mirrored by
    // the same three state writes it performs.
    import SourceScheduler._
    val k = new Kernel
    (1 to 4).foreach(i => k.addWorker(s"dm-worker-$i", s"a$i"))
    def w(i: Int) = k.workers(s"dm-worker-$i")
    def wn(i: Int) = s"dm-worker-$i"
    def src(i: Int) = s"mysql-replica-$i"
    k.workerOnline(wn(1)); k.addSourceCfg(SourceCfg(src(1)))
    k.workerOnline(wn(2)); k.addSourceCfg(SourceCfg(src(2)))
    k.workerOnline(wn(3)); k.workerOnline(wn(4))
    // not-exist source
    assert(k.startRelay(src(3), Seq(wn(1))) == Left(ErrSourceCfgNotExist))
    assert(k.stopRelay(src(4), Seq(wn(1))) == Left(ErrSourceCfgNotExist))
    // start-relay on bound-same-source (idempotent) and a free worker
    assert(k.startRelay(src(1), Seq(wn(1))).isRight)
    assert(k.startRelay(src(1), Seq(wn(1))).isRight)
    assert(k.expectRelayStages.keySet == Set(src(1)))
    assert(k.startRelay(src(1), Seq(wn(3))).isRight)
    assert(k.relayWorkers(src(1)).toSet == Set(wn(1), wn(3)))
    // wrong-bound / not-exist / busy
    assert(k.startRelay(src(1), Seq(wn(2))) ==
      Left(ErrRelayWorkersWrongBound))
    assert(k.startRelay(src(1), Seq("not-exist")) == Left(ErrWorkerNotExist))
    assert(k.startRelay(src(2), Seq(wn(3))) == Left(ErrRelayWorkersBusy))
    // a second relay source
    assert(k.startRelay(src(2), Seq(wn(2))).isRight)
    assert(k.expectRelayStages.keySet == Set(src(1), src(2)))
    assert(k.relayWorkers(src(2)).toSet == Set(wn(2)))
    // stop-relay rejections leave everything unchanged
    assert(k.stopRelay(src(1), Seq(wn(2))) ==
      Left(ErrRelayWorkersWrongRelay))
    assert(k.stopRelay(src(1), Seq("not-exist")) == Left(ErrWorkerNotExist))
    assert(k.relayWorkers(src(1)).toSet == Set(wn(1), wn(3)))
    // stop-relay success (idempotent), stage cleanup when the set drains
    assert(k.stopRelay(src(1), Seq(wn(1))).isRight)
    assert(k.stopRelay(src(1), Seq(wn(1))).isRight)
    assert(k.stopRelay(src(1), Seq(wn(3))).isRight)
    assert(k.expectRelayStages.keySet == Set(src(2)))
    assert(!k.relayWorkers.contains(src(1)))
    assert(k.bounds(src(1)).name == wn(1) && k.bounds(src(2)).name == wn(2))
    // unbind source2: its worker drops to Relay (it relays source2)
    k.unbounds += src(2); k.bounds.remove(src(2))
    assert(w(2).unbound().isRight)
    assert(w(2).stage == Relay)
    assert(k.stopRelay(src(2), Seq(wn(2))).isRight)
    assert(w(2).stage == Free)
    // w2 can now relay source1
    assert(k.startRelay(src(1), Seq(wn(2))).isRight)
    assert(w(2).stage == Relay && w(2).relaySource == src(1))
    // a worker relaying a DIFFERENT source is not eligible for source2
    w(3).toOffline(); w(4).toOffline()
    assert(k.tryBoundForSource(src(2)) == Right(false))
  }

  test("relay modes replay scheduler_test.go TestRelayWithWithoutWorker") {
    // the enable-relay (no worker name) vs named-worker mode exclusivity
    // (scheduler_test.go:1478-1549): both quick paths toggle the flag
    // idempotently; the named path may include the BOUND worker; the two
    // modes refuse to mix in either direction.
    import SourceScheduler._
    val k = new Kernel
    k.addWorker("dm-worker-1", "a"); k.addWorker("dm-worker-2", "a")
    k.workerOnline("dm-worker-1")
    k.addSourceCfg(SourceCfg("mysql-replica-1")) // binds worker-1
    k.workerOnline("dm-worker-2")
    def w(i: Int) = k.workers(s"dm-worker-$i")
    val s1 = "mysql-replica-1"
    // step 2: enable-relay off — quick start/stop toggles the flag
    assert(k.startRelay(s1, Seq.empty).isRight)
    assert(k.sourceCfgs(s1).enableRelay)
    assert(k.startRelay(s1, Seq.empty).isRight)
    assert(k.sourceCfgs(s1).enableRelay)
    assert(k.stopRelay(s1, Seq.empty).isRight)
    assert(!k.sourceCfgs(s1).enableRelay)
    assert(k.stopRelay(s1, Seq.empty).isRight)
    assert(!k.sourceCfgs(s1).enableRelay)
    // step 3: named path over the bound worker AND a free one
    assert(k.startRelay(s1, Seq("dm-worker-1", "dm-worker-2")).isRight)
    assert(!k.sourceCfgs(s1).enableRelay)
    assert(w(1).stage == Bound && w(2).stage == Relay)
    assert(k.stopRelay(s1, Seq("dm-worker-1")).isRight)
    assert(w(1).stage == Bound)
    assert(k.stopRelay(s1, Seq("dm-worker-2")).isRight)
    assert(w(1).stage == Bound && w(2).stage == Free)
    // step 4: enable-relay on — named ops refuse both directions
    assert(k.startRelay(s1, Seq.empty).isRight)
    assert(k.startRelay(s1, Seq("dm-worker-1")) ==
      Left(ErrStartRelayOnBound))
    assert(k.startRelay(s1, Seq("dm-worker-2")) ==
      Left(ErrStartRelayOnBound))
    assert(k.stopRelay(s1, Seq("dm-worker-1")) == Left(ErrStopRelayOnBound))
    assert(k.stopRelay(s1, Seq("dm-worker-2")) == Left(ErrStopRelayOnBound))
    assert(k.stopRelay(s1, Seq.empty).isRight)
    // step 5: named relay started — quick ops refuse both directions
    assert(k.startRelay(s1, Seq("dm-worker-1")).isRight)
    assert(k.startRelay(s1, Seq.empty) == Left(ErrStartRelayOnSpecified))
    assert(k.stopRelay(s1, Seq.empty) == Left(ErrStopRelayOnSpecified))
  }

  test("bootstrap replays scheduler_test.go TestWorkerHasDiffRelayAndBound") {
    // a worker persisted BOTH a relay membership for source2 and a bound
    // for source1: recovery keeps the relay and DROPS the bound
    // (scheduler.go:1966-1972), leaving source1 unbound
    import SourceScheduler._
    val k = new Kernel
    k.bootstrap(
      cfgs = Seq(SourceCfg("mysql-replica-1"), SourceCfg("mysql-replica-2")),
      workerInfos = Seq(("dm-worker-1", "workerinfo.addr")),
      sbm = Map("dm-worker-1" -> "mysql-replica-1"),
      lastBounds = Map.empty,
      aliveWorkers = Set("dm-worker-1"),
      relayCfg = Map("mysql-replica-2" -> Set("dm-worker-1")),
      bindAfter = false)
    assert(k.relayWorkers("mysql-replica-2").toSet == Set("dm-worker-1"))
    val w = k.workers("dm-worker-1")
    assert(w.stage == Relay && w.relaySource == "mysql-replica-2")
    assert(k.unbounds.contains("mysql-replica-1"))
    assert(k.log.contains("del-bound:dm-worker-1"))
  }

  test("bootstrap replays scheduler_test.go TestUpgradeCauseConflictRelayType") {
    // an enable-relay source with leftover per-worker relay configs (the
    // pre-upgrade representation): recovery purges the configs
    // (scheduler.go:1877-1884) and the bound recovers clean
    import SourceScheduler._
    val k = new Kernel
    k.bootstrap(
      cfgs = Seq(SourceCfg("mysql-replica-1", enableRelay = true)),
      workerInfos = Seq(("dm-worker-1", "workerinfo.addr"),
        ("dm-worker-2", "workerinfo.addr")),
      sbm = Map("dm-worker-1" -> "mysql-replica-1"),
      lastBounds = Map.empty,
      aliveWorkers = Set("dm-worker-1", "dm-worker-2"),
      relayCfg = Map("mysql-replica-1" ->
        Set("dm-worker-1", "dm-worker-2")),
      bindAfter = false)
    assert(!k.relayWorkers.contains("mysql-replica-1"))
    val w1 = k.workers("dm-worker-1")
    assert(w1.stage == Bound && w1.relaySource.isEmpty)
    assert(k.workers("dm-worker-2").stage == Free)
    assert(k.log.count(_.startsWith("del-relay-config:")) == 2)
  }

  test("randomized scripts keep the scheduler's structural invariants") {
    // invariants the reference maintains by construction:
    // (1) bounds and worker.boundSource agree bijectively,
    // (2) stage Bound <=> boundSource set; stage Relay => relaySource set,
    // (3) a bound relay worker is bound to ITS relay source,
    // (4) in the NO-RELAY regime, a Free worker and an unbound source
    //     never coexist — every op that frees a worker or unbinds a
    //     source ends in a try-bound. StopRelay is the one documented
    //     exception (scheduler.go:1570-1585 frees the worker with NO
    //     try-bound; the worker idles until the next scheduling event),
    //     so (4) is asserted only on relay-free scripts.
    val workers = (0 until 5).map(i => s"w$i")
    val sources = (0 until 7).map(i => s"s$i")
    for (seed <- 0 until 40; relayOps <- Seq(false, true)) {
      val rnd = new Random(seed)
      val k = new Kernel
      workers.foreach(w => k.addWorker(w, s"addr-$w"))
      for (step <- 0 until 300) {
        val w = workers(rnd.nextInt(workers.size))
        val s = sources(rnd.nextInt(sources.size))
        rnd.nextInt(if (relayOps) 10 else 8) match {
          case 0 | 1 => k.workerOnline(w)
          case 2 => k.workerOffline(w)
          case 3 => k.addSourceCfg(SourceCfg(s))
          case 4 => k.removeSourceCfg(s)
          case 5 => k.transferSource(s, w)
          case 6 => k.addSubTasks("Running", Seq((s"t-$s", s, "Sync")))
          case 7 => k.removeSubTasks(s"t-$s", Seq(s))
          case 8 => k.startRelay(s, Seq(w))
          case 9 => k.stopRelay(s, Seq(w))
        }
        if (!relayOps) {
          val free =
            k.workers.values.filter(_.stage == SourceScheduler.Free)
          assert(free.isEmpty || k.unbounds.isEmpty,
            s"seed $seed step $step: free ${free.map(_.name)} with " +
              s"unbound ${k.unbounds}")
        }
        k.bounds.foreach { case (src, wk) =>
          assert(wk.boundSource == src && wk.stage == SourceScheduler.Bound,
            s"seed $seed step $step: bounds/agent disagree on $src")
        }
        k.workers.values.foreach { wk =>
          assert((wk.stage == SourceScheduler.Bound) ==
            wk.boundSource.nonEmpty,
            s"seed $seed step $step: ${wk.name} stage/bound mismatch")
          if (wk.stage == SourceScheduler.Relay)
            assert(wk.relaySource.nonEmpty,
              s"seed $seed step $step: relay stage without source")
          if (wk.boundSource.nonEmpty && wk.relaySource.nonEmpty)
            assert(wk.boundSource == wk.relaySource,
              s"seed $seed step $step: ${wk.name} bound " +
                s"${wk.boundSource} while relaying ${wk.relaySource}")
        }
      }
    }
  }
}
