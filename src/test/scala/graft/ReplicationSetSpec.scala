package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.ReplicationSet
import graft.streaming.ReplicationSet._
import graft.streaming.TableSchedulers
import graft.streaming.TableSchedulers._

/**
 * The owner's replication-set handoff protocol
 * (cdc/scheduler/internal/v3/replication/replication_set.go) — directed
 * transitions for every reference leg, then a randomized MINI-CLUSTER
 * property in the FeedSim style: captures behave as honest processors
 * (Preparing→Prepared after AddTable(secondary), Replicating after
 * AddTable(primary), Stopping→Stopped after RemoveTable), the owner
 * injects random add/move/remove/crash, and after every trace the system
 * must settle into Replicating-with-live-primary / Absent / fully
 * Removed, with the at-most-one-primary invariant and checkpoint
 * monotonicity held at every step. The scheduler kernels
 * (scheduler_{basic,balance,rebalance,drain_capture,move_table}.go) get
 * directed cases plus a balance property: post-move no capture exceeds
 * ceil(tables/captures) and the move count equals the total excess.
 */
class ReplicationSetSpec extends AnyFunSuite {

  private def rep(cp: Long = 100L): Rep =
    ReplicationSet.init(7L, cp, Seq.empty).toOption.get

  private def st(s: Int, ck: Long = 0L, rts: Long = 0L): TableStatus =
    TableStatus(7L, s, Checkpoint(ck, rts))

  // ---- init (NewReplicationSet, :141-283) --------------------------------

  test("init: empty statuses -> Absent") {
    val r = rep()
    assert(r.currentState == RepState.Absent)
    assert(r.currentCheckpoint == Checkpoint(100L, 100L))
  }

  test("init: replicating report -> Replicating with promoted primary") {
    val r = ReplicationSet.init(7L, 100L, Seq(
      "cap-a" -> st(TableState.Replicating, 250L, 260L))).toOption.get
    assert(r.currentState == RepState.Replicating)
    assert(r.currentPrimary == "cap-a")
    assert(r.currentCaptures == Map("cap-a" -> Role.Primary))
    assert(r.currentCheckpoint == Checkpoint(250L, 260L))
  }

  test("init: replicating + prepared -> Commit (move was in flight)") {
    val r = ReplicationSet.init(7L, 100L, Seq(
      "cap-a" -> st(TableState.Replicating, 250L, 260L),
      "cap-b" -> st(TableState.Prepared))).toOption.get
    assert(r.currentState == RepState.Commit)
    assert(r.currentPrimary == "cap-a")
    assert(r.currentCaptures("cap-b") == Role.Secondary)
  }

  test("init: preparing only -> Prepare; stopping only -> Removing") {
    val p = ReplicationSet.init(7L, 100L,
      Seq("cap-b" -> st(TableState.Preparing))).toOption.get
    assert(p.currentState == RepState.Prepare)
    val m = ReplicationSet.init(7L, 100L,
      Seq("cap-c" -> st(TableState.Stopping))).toOption.get
    assert(m.currentState == RepState.Removing)
    assert(m.currentCaptures("cap-c") == Role.Undetermined)
  }

  test("init: two replicating reports -> multiple-primary error") {
    val r = ReplicationSet.init(7L, 100L, Seq(
      "cap-a" -> st(TableState.Replicating),
      "cap-b" -> st(TableState.Replicating)))
    assert(r == Left("schedulerv3: multiple primary"))
  }

  test("init: span mismatch -> inconsistent error") {
    val r = ReplicationSet.init(7L, 100L,
      Seq("cap-a" -> TableStatus(8L, TableState.Replicating)))
    assert(r == Left("schedulerv3: table id inconsistent"))
  }

  // ---- add-table lifecycle (:471-576, :869-901) --------------------------

  test("add table: Absent->Prepare->Commit->Replicating with the two dispatches") {
    val r = rep()
    // handleAddTable: secondary AddTable dispatched.
    assert(r.handleAddTable("cap-a") ==
      Right(Seq(AddTableReq(7L, "cap-a", isSecondary = true, Checkpoint(100, 100)))))
    assert(r.currentState == RepState.Prepare)
    // Preparing heartbeat: wait, no message.
    assert(r.poll(st(TableState.Preparing), "cap-a") == Right(Seq.empty))
    assert(r.currentState == RepState.Prepare)
    // Prepared: Prepare -> Commit, then same poll promotes (no primary,
    // no undetermined) and retries AddTable as primary (:626-641).
    assert(r.poll(st(TableState.Prepared), "cap-a") ==
      Right(Seq(AddTableReq(7L, "cap-a", isSecondary = false, Checkpoint(100, 100)))))
    assert(r.currentState == RepState.Commit)
    assert(r.currentPrimary == "cap-a")
    // Replicating: Commit -> Replicating, checkpoint merged.
    assert(r.poll(st(TableState.Replicating, 180L, 190L), "cap-a") ==
      Right(Seq.empty))
    assert(r.currentState == RepState.Replicating)
    assert(r.currentCheckpoint == Checkpoint(180L, 190L))
    // add table on a non-Absent set is ignored (:871-879).
    assert(r.handleAddTable("cap-b") == Right(Seq.empty))
    assert(r.currentCaptures.get("cap-b").isEmpty)
  }

  test("poll from an untracked capture is a no-op (:424-426)") {
    val r = rep()
    assert(r.poll(st(TableState.Replicating), "ghost") == Right(Seq.empty))
    assert(r.currentState == RepState.Absent)
  }

  // ---- move-table lifecycle (:903-949 + the Commit legs) ------------------

  private def replicatingOn(cap: String): Rep = {
    val r = rep()
    r.handleAddTable(cap)
    r.poll(st(TableState.Prepared), cap)
    r.poll(st(TableState.Replicating, 200L, 210L), cap)
    assert(r.currentState == RepState.Replicating)
    r
  }

  test("move table: full handoff keeps exactly-once ownership") {
    val r = replicatingOn("cap-a")
    assert(r.handleMoveTable("cap-b") ==
      Right(Seq(AddTableReq(7L, "cap-b", isSecondary = true, Checkpoint(200, 210)))))
    assert(r.currentState == RepState.Prepare)
    // Old primary keeps replicating through the prepare phase (:544-548).
    assert(r.poll(st(TableState.Replicating, 220L, 230L), "cap-a") ==
      Right(Seq.empty))
    assert(r.currentCheckpoint == Checkpoint(220L, 230L))
    // Secondary prepared: Commit, and the OLD primary is asked to stop
    // (:584-598) — not the secondary promoted yet.
    assert(r.poll(st(TableState.Prepared), "cap-b") ==
      Right(Seq(RemoveTableReq(7L, "cap-a"))))
    assert(r.currentState == RepState.Commit)
    assert(r.currentPrimary == "cap-a")
    // Old primary still replicating in Commit: re-ask (:716-728).
    assert(r.poll(st(TableState.Replicating, 240L, 250L), "cap-a") ==
      Right(Seq(RemoveTableReq(7L, "cap-a"))))
    // Old primary stopped: promote the secondary, dispatch primary add,
    // checkpoint carries the old primary's final report (:643-684).
    assert(r.poll(st(TableState.Stopped, 260L, 270L), "cap-a") ==
      Right(Seq(AddTableReq(7L, "cap-b", isSecondary = false, Checkpoint(260, 270)))))
    assert(r.currentState == RepState.Commit)
    assert(r.currentPrimary == "cap-b")
    assert(r.currentCaptures == Map("cap-b" -> Role.Primary))
    // New primary replicating: Replicating.
    assert(r.poll(st(TableState.Replicating, 280L, 290L), "cap-b") ==
      Right(Seq.empty))
    assert(r.currentState == RepState.Replicating)
    // move to the current primary / while not Replicating: ignored.
    assert(r.handleMoveTable("cap-b") == Right(Seq.empty))
  }

  test("move table: secondary dies mid-prepare -> back to Replicating") {
    val r = replicatingOn("cap-a")
    r.handleMoveTable("cap-b")
    val out = r.handleCaptureShutdown("cap-b")
    assert(out == Right((Seq.empty, true)))
    assert(r.currentState == RepState.Replicating)
    assert(r.currentPrimary == "cap-a")
  }

  test("move table: primary dies mid-prepare -> wait, then promote") {
    val r = replicatingOn("cap-a")
    r.handleMoveTable("cap-b")
    // Primary stops during Prepare: cleared, state stays Prepare (:549-565).
    assert(r.handleCaptureShutdown("cap-a") == Right((Seq.empty, true)))
    assert(r.currentState == RepState.Prepare)
    assert(r.currentPrimary == "")
    // Secondary prepared: Commit; no primary, no undetermined -> promote.
    assert(r.poll(st(TableState.Prepared), "cap-b") ==
      Right(Seq(AddTableReq(7L, "cap-b", isSecondary = false, Checkpoint(200, 210)))))
    assert(r.currentPrimary == "cap-b")
  }

  test("commit: undetermined capture blocks promotion until it stops (:599-612)") {
    val r = ReplicationSet.init(7L, 100L, Seq(
      "cap-b" -> st(TableState.Prepared),
      "cap-c" -> st(TableState.Stopping))).toOption.get
    assert(r.currentState == RepState.Commit)
    // Prepared report with an undetermined capture around: wait.
    assert(r.poll(st(TableState.Prepared), "cap-b") == Right(Seq.empty))
    assert(r.currentPrimary == "")
    // The undetermined capture reports stopped: cleared (:705-711).
    assert(r.poll(st(TableState.Stopped), "cap-c") == Right(Seq.empty))
    assert(r.currentCaptures.get("cap-c").isEmpty)
    // Now the promotion goes through.
    assert(r.poll(st(TableState.Prepared), "cap-b") ==
      Right(Seq(AddTableReq(7L, "cap-b", isSecondary = false, Checkpoint(100, 100)))))
    assert(r.currentPrimary == "cap-b")
  }

  // ---- remove-table lifecycle (:819-861, :951-994) ------------------------

  test("remove table: Removing dispatches removes until all captures stop") {
    val r = replicatingOn("cap-a")
    assert(r.handleRemoveTable() == Right(Seq(RemoveTableReq(7L, "cap-a"))))
    assert(r.currentState == RepState.Removing)
    assert(!r.hasRemoved)
    // Stopping: wait. Still-replicating report: re-ask.
    assert(r.poll(st(TableState.Stopping), "cap-a") == Right(Seq.empty))
    assert(r.poll(st(TableState.Replicating), "cap-a") ==
      Right(Seq(RemoveTableReq(7L, "cap-a"))))
    // Stopped: cleared; the set is fully removed.
    assert(r.poll(st(TableState.Stopped), "cap-a") == Right(Seq.empty))
    assert(r.hasRemoved)
    // remove/move on a removed set: ignored (:905-912, :953-960).
    assert(r.handleRemoveTable() == Right(Seq.empty))
    assert(r.handleMoveTable("cap-b") == Right(Seq.empty))
  }

  // ---- shutdown + replicating legs (:774-816, :996-1020) ------------------

  test("primary shutdown while Replicating -> Absent") {
    val r = replicatingOn("cap-a")
    assert(r.handleCaptureShutdown("cap-a") == Right((Seq.empty, true)))
    assert(r.currentState == RepState.Absent)
    assert(r.currentCaptures.isEmpty)
    // Unaffected shutdown: affected=false.
    assert(r.handleCaptureShutdown("cap-z") == Right((Seq.empty, false)))
  }

  test("second replicating report -> multiple-primary error") {
    val r = ReplicationSet.init(7L, 100L, Seq(
      "cap-a" -> st(TableState.Replicating),
      "cap-c" -> st(TableState.Stopping))).toOption.get
    assert(r.poll(st(TableState.Replicating), "cap-c") ==
      Left("schedulerv3: multiple primary"))
  }

  test("checkpoint merge: monotonic, zero resolvedTs backfilled (:1023-1056)") {
    val r = replicatingOn("cap-a") // at (200, 210)
    r.poll(st(TableState.Replicating, 150L, 0L), "cap-a") // regress: ignored
    assert(r.currentCheckpoint == Checkpoint(200L, 210L))
    r.poll(st(TableState.Replicating, 300L, 0L), "cap-a") // rts 0 -> ck
    assert(r.currentCheckpoint == Checkpoint(300L, 300L))
    r.poll(TableStatus(7L, TableState.Replicating,
      Checkpoint(310L, 320L, 42L)), "cap-a")
    assert(r.currentCheckpoint == Checkpoint(310L, 320L, 42L))
  }

  // ---- randomized mini-cluster convergence --------------------------------

  test("mini-cluster: 300 random traces settle with invariants held") {
    val rnd = new scala.util.Random(1601L)
    for (trial <- 0 until 300) {
      val capIds = (0 until (2 + rnd.nextInt(3))).map(i => s"cap-$i")
      // Capture-local processor state for the one table.
      val local = scala.collection.mutable.Map[String, Int](
        capIds.map(_ -> TableState.Absent): _*)
      val timer = scala.collection.mutable.Map[String, Int]() // delay ticks
      val alive = scala.collection.mutable.Set[String](capIds: _*)
      var ck = 100L
      val r = rep()
      var lastCp = r.currentCheckpoint

      def invariants(): Unit = {
        val prims = r.currentCaptures.filter(_._2 == Role.Primary)
        assert(prims.size <= 1, s"trial $trial: two primaries $prims")
        if (r.currentPrimary.nonEmpty)
          assert(prims.keySet == Set(r.currentPrimary))
        val cp = r.currentCheckpoint
        assert(cp.checkpointTs >= lastCp.checkpointTs &&
          cp.resolvedTs >= lastCp.resolvedTs, s"trial $trial: cp regressed")
        lastCp = cp
      }

      def apply(ms: Seq[Msg]): Unit = ms.foreach {
        case AddTableReq(_, to, sec, _) if alive(to) =>
          if (sec) {
            if (local(to) == TableState.Absent) {
              local(to) = TableState.Preparing
              timer(to) = rnd.nextInt(3)
            }
          } else local(to) = TableState.Replicating
        case RemoveTableReq(_, to) if alive(to) =>
          if (local(to) != TableState.Absent &&
              local(to) != TableState.Stopped) {
            local(to) = TableState.Stopping
            timer(to) = rnd.nextInt(3)
          }
        case _ => // message to a dead capture: lost, like the wire
      }

      def tick(cap: String): Unit = {
        // advance local processor timers
        local(cap) match {
          case TableState.Preparing if timer.getOrElse(cap, 0) <= 0 =>
            local(cap) = TableState.Prepared
          case TableState.Stopping if timer.getOrElse(cap, 0) <= 0 =>
            local(cap) = TableState.Stopped
          case _ => timer(cap) = timer.getOrElse(cap, 0) - 1
        }
        if (local(cap) == TableState.Replicating) ck += 1 + rnd.nextInt(5)
        val cp = if (local(cap) == TableState.Replicating)
          Checkpoint(ck, ck + rnd.nextInt(10)) else Checkpoint(0, 0)
        r.poll(TableStatus(7L, local(cap), cp), cap) match {
          case Left(e) => fail(s"trial $trial: $e")
          case Right(ms) => apply(ms)
        }
        invariants()
        // a capture that reported Stopped drops the table entirely
        if (local(cap) == TableState.Stopped) local(cap) = TableState.Absent
      }

      // random phase: owner ops interleaved with capture heartbeats
      for (_ <- 0 until 25 + rnd.nextInt(30)) {
        rnd.nextInt(10) match {
          case 0 if alive.nonEmpty => // crash
            val c = alive.toSeq.sorted(Ordering.String)(
              rnd.nextInt(alive.size))
            alive -= c; local(c) = TableState.Absent
            r.handleCaptureShutdown(c) match {
              case Left(e) => fail(s"trial $trial: shutdown: $e")
              case Right((ms, _)) => apply(ms)
            }
            invariants()
            if (alive.isEmpty) { // revive one so the trace can go on
              val c2 = capIds(rnd.nextInt(capIds.size))
              alive += c2; local(c2) = TableState.Absent
            }
          case 1 =>
            val dest = alive.toSeq.sorted(Ordering.String)(
              rnd.nextInt(alive.size))
            r.handleMoveTable(dest) match {
              case Left(e) => fail(s"trial $trial: move: $e")
              case Right(ms) => apply(ms)
            }
            invariants()
          case 2 if rnd.nextInt(4) == 0 =>
            r.handleRemoveTable() match {
              case Left(e) => fail(s"trial $trial: remove: $e")
              case Right(ms) => apply(ms)
            }
            invariants()
          case 3 =>
            val c = alive.toSeq.sorted(Ordering.String)(
              rnd.nextInt(alive.size))
            r.handleAddTable(c) match {
              case Left(e) => fail(s"trial $trial: add: $e")
              case Right(ms) => apply(ms)
            }
            invariants()
          case _ =>
            val c = alive.toSeq.sorted(Ordering.String)(
              rnd.nextInt(alive.size))
            tick(c)
        }
      }
      // settle phase: honest heartbeats until quiescent; re-add if Absent
      var guard = 0
      var settled = false
      while (!settled && guard < 400) {
        guard += 1
        if (r.currentState == RepState.Absent && alive.nonEmpty)
          r.handleAddTable(alive.toSeq.sorted.head) match {
            case Left(e) => fail(s"trial $trial: settle add: $e")
            case Right(ms) => apply(ms)
          }
        alive.toSeq.sorted.foreach(tick)
        settled = r.currentState == RepState.Replicating &&
          alive(r.currentPrimary) &&
          local(r.currentPrimary) == TableState.Replicating &&
          !r.currentCaptures.exists(_._2 != Role.Primary)
        settled ||= r.hasRemoved
      }
      assert(settled,
        s"trial $trial: did not settle; state=${r.currentState} " +
          s"captures=${r.currentCaptures} primary=${r.currentPrimary} " +
          s"local=$local alive=$alive")
    }
  }

  // ---- scheduler kernels ---------------------------------------------------

  private def cluster(states: (String, Int)*): Seq[CaptureStatus] =
    states.map { case (id, s) => CaptureStatus(id, s) }

  private def replicatingReps(assign: (Long, String)*): Map[Long, Rep] =
    assign.map { case (t, cap) =>
      val r = ReplicationSet.init(t, 100L,
        Seq(cap -> TableStatus(t, TableState.Replicating))).toOption.get
      t -> r
    }.toMap

  test("basic: round-robin adds over non-stopping captures, batch capped") {
    val caps = cluster("cap-a" -> CaptureState.Initialized,
      "cap-b" -> CaptureState.Initialized,
      "cap-c" -> CaptureState.Stopping)
    val tasks = TableSchedulers.basicSchedule(500L, Seq(1L, 2L, 3L, 4L, 5L),
      caps, Map.empty, batchSize = 4)
    assert(tasks == Seq(BurstBalance(adds = Seq(
      AddTable(1L, "cap-a", 500L), AddTable(2L, "cap-b", 500L),
      AddTable(3L, "cap-a", 500L), AddTable(4L, "cap-b", 500L)))))
    // all captures stopping: no adds at all (:91-102)
    val stuck = TableSchedulers.basicSchedule(500L, Seq(1L),
      cluster("cap-a" -> CaptureState.Stopping), Map.empty, 10)
    assert(stuck.isEmpty)
  }

  test("basic: dropped tables removed from the capture that holds them") {
    val reps = replicatingReps(1L -> "cap-a", 9L -> "cap-b")
    val tasks = TableSchedulers.basicSchedule(500L, Seq(1L),
      cluster("cap-a" -> CaptureState.Initialized,
        "cap-b" -> CaptureState.Initialized), reps, 10)
    assert(tasks == Seq(BurstBalance(removes =
      Seq(RemoveTable(9L, "cap-b")))))
  }

  test("balance: skewed 4/0 over two captures moves ceil-half, capped") {
    val reps = replicatingReps(1L -> "cap-a", 2L -> "cap-a",
      3L -> "cap-a", 4L -> "cap-a")
    val caps = cluster("cap-a" -> CaptureState.Initialized,
      "cap-b" -> CaptureState.Initialized)
    // upperLimit = ceil(4/2) = 2 -> two victims 1,2 -> both to cap-b.
    assert(TableSchedulers.balanceMoveTables(caps, reps, Int.MaxValue) ==
      Seq(MoveTable(1L, "cap-b"), MoveTable(2L, "cap-b")))
    // task cap = 1 keeps only the first.
    assert(TableSchedulers.balanceMoveTables(caps, reps, 1) ==
      Seq(MoveTable(1L, "cap-b")))
    // stopping capture suppresses the periodic tick entirely.
    assert(TableSchedulers.balanceSchedule(
      cluster("cap-a" -> CaptureState.Initialized,
        "cap-b" -> CaptureState.Stopping), reps, 10).isEmpty)
  }

  test("balance property: post-move sizes never exceed the ceiling") {
    val rnd = new scala.util.Random(1701L)
    for (trial <- 0 until 200) {
      val caps = (0 until 1 + rnd.nextInt(5)).map(i =>
        CaptureStatus(s"cap-$i", CaptureState.Initialized))
      val nTables = rnd.nextInt(40)
      val reps = replicatingReps((1L to nTables.toLong).map(t =>
        t -> caps(rnd.nextInt(caps.size)).id): _*)
      val moves = TableSchedulers.balanceMoveTables(caps, reps, Int.MaxValue)
      val upper = math.ceil(nTables.toDouble / caps.size).toInt
      val sizes = scala.collection.mutable.Map.empty[String, Int]
      caps.foreach(c => sizes(c.id) = 0)
      reps.foreach { case (_, r) => sizes(r.currentPrimary) += 1 }
      val excess = sizes.values.map(s => math.max(0, s - upper)).sum
      assert(moves.size == excess, s"trial $trial")
      moves.foreach { m =>
        sizes(m.destCapture) += 1
        sizes(reps(m.tableId).currentPrimary) -= 1
      }
      assert(sizes.values.forall(_ <= upper), s"trial $trial: $sizes")
      // moved tables must actually come from over-ceiling captures
      assert(moves.map(_.tableId).distinct.size == moves.size)
    }
  }

  test("rebalance: gated on trigger, stopping captures, and all-replicating") {
    val reps = replicatingReps(1L -> "cap-a", 2L -> "cap-a")
    val caps = cluster("cap-a" -> CaptureState.Initialized,
      "cap-b" -> CaptureState.Initialized)
    assert(TableSchedulers.rebalanceSchedule(triggered = false,
      Seq(1L, 2L), caps, reps) == (Seq.empty, false))
    // stopping capture: ignored AND trigger cleared (:69-77)
    assert(TableSchedulers.rebalanceSchedule(triggered = true, Seq(1L, 2L),
      cluster("cap-a" -> CaptureState.Stopping,
        "cap-b" -> CaptureState.Initialized), reps) == (Seq.empty, false))
    // a non-replicating table: premature, trigger kept (:79-91)
    val mixed = reps + (3L -> ReplicationSet.init(3L, 100L,
      Seq("cap-b" -> TableStatus(3L, TableState.Preparing))).toOption.get)
    assert(TableSchedulers.rebalanceSchedule(triggered = true,
      Seq(1L, 2L, 3L), caps, mixed) == (Seq.empty, true))
    // clean trigger: one unlimited burst, trigger cleared on accept
    val (tasks, after) = TableSchedulers.rebalanceSchedule(triggered = true,
      Seq(1L, 2L), caps, reps)
    assert(tasks == Seq(BurstBalance(moves = Seq(MoveTable(1L, "cap-b")))))
    assert(!after)
  }

  test("drain: adopts a stopping non-owner, moves its tables, then resets") {
    val caps = Seq(CaptureStatus("cap-a", CaptureState.Initialized,
      isOwner = true), CaptureStatus("cap-b", CaptureState.Stopping),
      CaptureStatus("cap-c", CaptureState.Initialized))
    val reps = replicatingReps(1L -> "cap-b", 2L -> "cap-b", 3L -> "cap-a")
    val (tasks, target) = TableSchedulers.drainSchedule(None, caps, reps, 10)
    assert(target.contains("cap-b"))
    // workloads: cap-a has 1 (+owner), cap-c has 0 -> first victim to
    // cap-c, second to cap-a/cap-c alternating by incremented workload.
    assert(tasks == Seq(MoveTable(1L, "cap-c"), MoveTable(2L, "cap-a")))
    // drained capture with no tables left: finished, target reset.
    val done = replicatingReps(3L -> "cap-a")
    assert(TableSchedulers.drainSchedule(Some("cap-b"), caps, done, 10) ==
      (Seq.empty, None))
    // a non-replicating table skips the tick, target kept.
    val mixed = reps + (9L -> ReplicationSet.init(9L, 100L,
      Seq("cap-c" -> TableStatus(9L, TableState.Preparing))).toOption.get)
    assert(TableSchedulers.drainSchedule(Some("cap-b"), caps, mixed, 10) ==
      (Seq.empty, Some("cap-b")))
    // owner never adopted as drain target (:85-88)
    val ownerStopping = Seq(CaptureStatus("cap-a", CaptureState.Stopping,
      isOwner = true), CaptureStatus("cap-c", CaptureState.Initialized))
    assert(TableSchedulers.drainSchedule(None, ownerStopping, reps, 10) ==
      (Seq.empty, None))
  }

  // ---- constants pinned against the reference source (de-share) -----------

  test("state/role enum values parsed from the reference source") {
    val pb = RefSource.source("cdc/processor/tablepb/table.pb.go")
    val rs = RefSource.source(
      "cdc/scheduler/internal/v3/replication/replication_set.go")
    val cm = RefSource.source(
      "cdc/scheduler/internal/v3/member/capture_manager.go")
    def consts(src: String, re: String): Map[String, Int] =
      re.r.findAllMatchIn(src)
        .map(m => m.group(1) -> m.group(2).toInt).toMap
    val ts = consts(pb, """TableState(\w+)\s+TableState = (\d+)""")
    assert(ts == Map("Unknown" -> 0, "Absent" -> TableState.Absent,
      "Preparing" -> TableState.Preparing,
      "Prepared" -> TableState.Prepared,
      "Replicating" -> TableState.Replicating,
      "Stopping" -> TableState.Stopping,
      "Stopped" -> TableState.Stopped))
    val st = consts(rs,
      """ReplicationSetState(\w+) ReplicationSetState = (\d+)""")
    assert(st == Map("Unknown" -> 0, "Absent" -> RepState.Absent,
      "Prepare" -> RepState.Prepare, "Commit" -> RepState.Commit,
      "Replicating" -> RepState.Replicating,
      "Removing" -> RepState.Removing))
    val role = consts(rs, """Role(\w+) = (\d+)""")
    assert(role == Map("Primary" -> Role.Primary,
      "Secondary" -> Role.Secondary,
      "Undetermined" -> Role.Undetermined))
    val cs = consts(cm, """CaptureState(\w+) CaptureState = (\d+)""")
    assert(cs == Map("Uninitialized" -> CaptureState.Uninitialized,
      "Initialized" -> CaptureState.Initialized,
      "Stopping" -> CaptureState.Stopping))
  }

  test("move-table: stale/ineligible requests dropped, survivors emitted") {
    val caps = cluster("cap-a" -> CaptureState.Initialized,
      "cap-b" -> CaptureState.Uninitialized)
    val reps = replicatingReps(1L -> "cap-a", 2L -> "cap-a") +
      (3L -> ReplicationSet.init(3L, 100L,
        Seq("cap-a" -> TableStatus(3L, TableState.Preparing))).toOption.get)
    val pending = Seq(
      MoveTable(1L, "cap-a"),  // ok: current, init'd dest, replicating
      MoveTable(2L, "cap-b"),  // dest not initialized -> drop
      MoveTable(3L, "cap-a"),  // not replicating -> drop
      MoveTable(4L, "cap-a"),  // not a current table -> drop
      MoveTable(5L, "cap-a"))  // no replication set -> drop
    val (emitted, dropped) = TableSchedulers.moveTableSchedule(pending,
      Seq(1L, 2L, 3L), caps, reps)
    assert(emitted == Seq(MoveTable(1L, "cap-a")))
    assert(dropped == Seq(2L, 3L, 4L, 5L))
  }
}
