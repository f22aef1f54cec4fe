package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.SourceScheduler

/** Every constant the q293/q294/q295 oracles share with the DM-master
  * source↔worker scheduler (the worker stage strings, the terror
  * identifiers, the pb.Stage names) is parsed out of the reference source
  * and asserted against the repo's constants, so a re-typed-wrong token
  * diverges here instead of agreeing with an oracle that re-typed it the
  * same way. */
class SourceSchedulerSpec extends AnyFunSuite {

  test("worker stage strings match worker.go:63-68, parsed") {
    val workerSrc = RefSource.source("dm/master/scheduler/worker.go")
    def stage(n: String): String = {
      val m = ("""Worker""" + n + """\s+WorkerStage = "(\w+)"""").r
        .findFirstMatchIn(workerSrc)
      assert(m.isDefined, s"Worker$n not found"); m.get.group(1)
    }
    assert(SourceScheduler.Offline == stage("Offline"))
    assert(SourceScheduler.Free == stage("Free"))
    assert(SourceScheduler.Bound == stage("Bound"))
    assert(SourceScheduler.Relay == stage("Relay"))
  }

  test("every kernel terror token is a real error_list.go identifier") {
    val errSrc = RefSource.source("dm/pkg/terror/error_list.go")
    // the identifiers as DECLARED (left of `= New(codeScheduler...`)
    val declared = ("""(ErrScheduler\w+)\s+=\s+New\(""").r
      .findAllMatchIn(errSrc).map(_.group(1)).toSet
    val used = Seq(
      SourceScheduler.ErrNotStarted, SourceScheduler.ErrWorkerExist,
      SourceScheduler.ErrWorkerNotExist, SourceScheduler.ErrWorkerOnline,
      SourceScheduler.ErrWorkerInvalidTrans,
      SourceScheduler.ErrSourceCfgExist,
      SourceScheduler.ErrSourceCfgNotExist,
      SourceScheduler.ErrSourcesUnbound,
      SourceScheduler.ErrSourceOpTaskExist, SourceScheduler.ErrMultiTask,
      SourceScheduler.ErrSubTaskExist,
      SourceScheduler.ErrSubTaskStageInvalidUpdate,
      SourceScheduler.ErrSubTaskOpTaskNotExist,
      SourceScheduler.ErrSubTaskOpSourceNotExist,
      SourceScheduler.ErrRequireRunningTaskInSyncUnit,
      SourceScheduler.ErrRelayWorkersBusy,
      SourceScheduler.ErrRelayWorkersWrongBound,
      SourceScheduler.ErrRelayWorkersWrongRelay,
      SourceScheduler.ErrSourceOpRelayExist,
      SourceScheduler.ErrSourceCfgUpdate,
      SourceScheduler.ErrWrongWorkerInput,
      SourceScheduler.ErrBoundDiffWithStartedRelay,
      SourceScheduler.ErrStartRelayOnSpecified,
      SourceScheduler.ErrStopRelayOnSpecified,
      SourceScheduler.ErrStartRelayOnBound,
      SourceScheduler.ErrStopRelayOnBound,
      SourceScheduler.ErrWorkerNotFree, SourceScheduler.ErrTaskNotExist,
      SourceScheduler.ErrSubTaskNotExist,
      SourceScheduler.ErrSubTaskCfgUpdate,
      SourceScheduler.ErrRelayStageInvalidUpdate,
      SourceScheduler.ErrRelayStageSourceNotExist)
    assert(used.distinct.size == used.size, "duplicate kernel tokens")
    used.foreach(t => assert(declared.contains(t), s"$t not declared"))
  }

  test("expectant stage names match pb.Stage_name, parsed") {
    val pbSrc = RefSource.source("dm/pb/dmworker.pb.go")
    def stageName(v: Int): String = {
      val m = (v.toString + """:\s+"(\w+)",""").r.findFirstMatchIn(
        pbSrc.substring(pbSrc.indexOf("Stage_name = map")))
      assert(m.isDefined, s"Stage_name[$v] not found"); m.get.group(1)
    }
    assert(SourceScheduler.StageRunning == stageName(2))
    assert(SourceScheduler.StagePaused == stageName(3))
    assert(SourceScheduler.StageStopped == stageName(4))
  }
}
