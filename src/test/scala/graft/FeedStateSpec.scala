package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.FeedStateMachine
import graft.streaming.FeedStateMachine.RunningError

/**
 * FeedStateMachine vs an INDEPENDENT functional simulator (a third
 * implementation besides the machine and q252's recursive-CTE oracle):
 * random traces with random configs, including the reference's 0.1
 * randomization factor driven by a shared seeded draw sequence, nil-status
 * ticks, and the buffered error/warning semantics (errors reported while
 * stopped are drained by the next normal tick, exactly like the Go
 * orchestrator state). Plus the direct HandleError legs the tick never
 * reaches.
 */
class FeedStateSpec extends AnyFunSuite {

  import FeedSim._

  // ---- randomized trace property ----------------------------------------

  test("machine equals the independent simulator on 200 random traces") {
    val rnd = new scala.util.Random(1401L)
    for (trial <- 0 until 200) {
      val stuck = 5000L + rnd.nextInt(200000)
      val factor = if (trial % 2 == 0) 0.0 else 0.1
      val seed = rnd.nextLong()
      val mRand = new scala.util.Random(seed)
      val sRand = new scala.util.Random(seed)
      val nSteps = 15 + rnd.nextInt(25)
      var t = 1000000L
      var ck = 100000L
      val evs = Seq.fill(nSteps) {
        t += 5000L * (1 + rnd.nextInt(12))
        val adm =
          if (rnd.nextInt(100) < 15)
            Some((rnd.nextInt(100) match {
              case x if x < 30 => "stop"
              case x if x < 65 => "resume"
              case x if x < 95 => "finish"
              case _ => "remove"
            }, if (rnd.nextBoolean()) Some(ck + 7) else None))
          else None
        val errs =
          if (rnd.nextInt(100) < 25) Seq(rnd.nextInt(10) match {
            case 0 => ("CDC:ErrSnapshotLostByGC", "")
            case 1 => ("CDC:ErrProcessorUnknown",
              "wrapped CDC:ErrKafkaInvalidConfig text")
            case _ => ("CDC:ErrProcessorUnknown", "dial fail")
          })
          else Seq.empty
        val warns =
          if (rnd.nextInt(100) < 25) Seq("CDC:ErrSinkManagerRunError")
          else Seq.empty
        if (rnd.nextInt(100) < 40)
          ck += (if (rnd.nextInt(100) < 15) 20L else 1L + rnd.nextInt(3))
        val sck = if (rnd.nextInt(100) < 5) None else Some(ck)
        val rts = ck + (if (rnd.nextBoolean()) 0L else rnd.nextInt(100).toLong)
        Ev(t, adm, errs, warns, sck, rts)
      }

      var now = evs.head.t
      val m = new FeedStateMachine(stuck, () => now,
        () => mRand.nextDouble(), factor)
      // simulator's construction-time consumed backoff
      val (bo0, cur0, st0, lt0) =
        resetConsume(evs.head.t, stuck, factor, () => sRand.nextDouble())
      var sim = SimState(bo = bo0, cur = cur0, boStart = st0, lretT = lt0)

      evs.zipWithIndex.foreach { case (e, i) =>
        now = e.t
        e.adm.foreach { case (j, ovw) =>
          if (j == "finish") m.markFinished() else m.pushAdminJob(j, ovw)
        }
        e.errs.foreach { case (c, msg) =>
          m.reportErrors(RunningError(c, msg))
        }
        e.warns.foreach(w => m.reportWarnings(RunningError(w)))
        val r = m.tick(e.rts, e.sck)
        val (sim2, o) = simTick(stuck, factor,
          () => sRand.nextDouble(), sim, e)
        sim = sim2
        val got = (r.state, r.shouldRunning, r.shouldRemoved,
          r.adminJobPending, r.isRetrying, r.backoffMs, r.epochBumped,
          r.errorSet, r.warningSet, r.resumedOverwriteTs)
        val want = (o.st, o.run, o.rm, o.pend, o.retrying, o.bo, o.bump,
          o.err, o.warn, o.ovw)
        assert(got == want,
          s"trial=$trial step=$i stuck=$stuck factor=$factor ev=$e")
      }
    }
  }

  // ---- three-way agreement: the q252 gate scripts through the sim --------

  test("the q252 scripted scenarios agree with the independent simulator") {
    import graft.queries.LifecycleQueries
    val base = 1000L // any anchor: the machine only compares checkpoints
    LifecycleQueries.scripts.foreach { case (sc, stuck, steps) =>
      var now = steps.head.t
      val m = new FeedStateMachine(stuck, () => now)
      val (bo0, cur0, st0, lt0) = resetConsume(steps.head.t, stuck, 0.0,
        () => 0.0)
      var sim = SimState(bo = bo0, cur = cur0, boStart = st0, lretT = lt0)
      steps.foreach { e =>
        now = e.t
        if (e.adm != null) {
          if (e.adm == "finish") m.markFinished()
          else m.pushAdminJob(e.adm, e.ovw.map(base + _))
        }
        if (e.code != null) m.reportErrors(RunningError(e.code, e.msg))
        if (e.warn) m.reportWarnings(RunningError("W"))
        val r = m.tick(base + e.r, Some(base + e.k))
        val ev = Ev(e.t,
          Option(e.adm).map(a => (a, e.ovw.map(base + _))),
          if (e.code != null) Seq((e.code, e.msg)) else Nil,
          if (e.warn) Seq("W") else Nil,
          Some(base + e.k), base + e.r)
        val (sim2, o) = simTick(stuck, 0.0, () => 0.0, sim, ev)
        sim = sim2
        assert((r.state, r.shouldRunning, r.shouldRemoved,
          r.adminJobPending, r.backoffMs, r.epochBumped) ==
          (o.st, o.run, o.rm, o.pend, o.bo, o.bump),
          s"scenario=$sc step=${e.step}")
      }
    }
  }

  // ---- direct HandleError legs the tick never reaches --------------------

  test("direct HandleError: a stopped feed ignores generic errors but still fast-fails") {
    var now = 1000000L
    val m = new FeedStateMachine(300000L, () => now)
    m.tick(10L, Some(5L)) // '' -> normal
    m.pushAdminJob("stop")
    now += 5000; m.tick(10L, Some(5L))
    assert(m.state == "stopped")
    m.handleError(RunningError("CDC:ErrProcessorUnknown", "x"))
    assert(m.state == "stopped") // generic error ignored while stopped
    m.handleError(RunningError("CDC:ErrGCTTLExceeded"))
    assert(m.state == "failed") // stopped -> failed IS allowed
  }

  test("direct HandleError: fatal scan sees every error; last non-nil wins otherwise") {
    var now = 2000000L
    val m = new FeedStateMachine(300000L, () => now)
    m.tick(10L, Some(5L))
    // a fatal error anywhere in the batch wins over a later generic one
    m.handleError(RunningError("CDC:ErrStartTsBeforeGC"),
      RunningError("CDC:ErrProcessorUnknown", "later"))
    assert(m.state == "failed")
    assert(m.lastError.map(_.code).contains("CDC:ErrStartTsBeforeGC"))

    var now2 = 3000000L
    val m2 = new FeedStateMachine(300000L, () => now2)
    m2.tick(10L, Some(5L))
    m2.handleError(RunningError("CDC:ErrA", "a"), RunningError("CDC:ErrB", "b"))
    assert(m2.state == "pending")
    assert(m2.lastError.map(_.code).contains("CDC:ErrB"))
  }

  test("dynamic stuck-duration update lands on admin-pending ticks") {
    var now = 4000000L
    val m = new FeedStateMachine(50000L, () => now)
    m.tick(10L, Some(5L))
    m.updateStuckDuration(400000L)
    // picked up only on an admin-pending tick (the Go re-reads the config
    // there) — a plain tick leaves MaxElapsedTime alone
    m.reportErrors(RunningError("CDC:ErrProcessorUnknown", "x"))
    now += 5000; m.tick(10L, Some(5L))
    assert(m.state == "pending")
    m.pushAdminJob("stop")
    now += 5000; m.tick(10L, Some(5L)) // admin tick applies the new budget
    m.pushAdminJob("resume")
    now += 5000; m.tick(10L, Some(5L))
    assert(m.state == "normal")
    m.reportErrors(RunningError("CDC:ErrProcessorUnknown", "x"))
    now += 5000; m.tick(10L, Some(5L))
    // with the 400 s budget a retry 100 s out survives (the old 50 s
    // budget would have failed it)
    now += 100000; val r = m.tick(10L, Some(5L))
    assert(r.state == "warning" && r.shouldRunning)
  }

  test("changefeed error-code sets match helper.go, parsed from source") {
    val src = RefSource.source("pkg/errors/helper.go")
    // identifier -> RFC code from the DECLARATIONS (cdc_errors.go): the
    // match keys on the RFC code, and it is NOT always the identifier —
    // ErrExpressionParseFailed declares CDC:ErrInvalidFilterExpression
    // (cdc_errors.go:938-941); assuming identifier==code hid a real
    // divergence in UnretryableCodes until this parse
    val cdcErrs = RefSource.source("pkg/errors/cdc_errors.go")
    val rfcOf = """(?s)(Err\w+) = errors\.Normalize\(.*?RFCCodeText\("(CDC:\w+)"\)""".r
      .findAllMatchIn(cdcErrs).map(m => m.group(1) -> m.group(2)).toMap
    def errList(varName: String): Set[String] = {
      val start = src.indexOf(s"var $varName = []*errors.Error{")
      assert(start >= 0, s"$varName not found")
      val body = src.substring(start + s"var $varName".length,
        src.indexOf("\n}", start))
      """\bErr[A-Z]\w+""".r.findAllIn(body).map(rfcOf).toSet
    }
    assert(errList("ChangeFeedGCFastFailError") ==
      FeedStateMachine.GcFastFailCodes)
    assert(errList("changefeedUnRetryableErrors") ==
      FeedStateMachine.UnretryableCodes.toSet,
      s"want=${errList("changefeedUnRetryableErrors")}")
  }
}
