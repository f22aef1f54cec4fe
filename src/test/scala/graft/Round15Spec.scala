package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{FeedStateMachine, ShardDdl}
import graft.streaming.FeedStateMachine.RunningError
import FeedSim._

/** Round-15 properties: the feed-state machine under randomized ADMIN-JOB
  * interleaving (the generator pattern that found a real bug four rounds
  * running), and the shard-DDL lock inspection kernel. */
class Round15Spec extends SparkSpec {

  // ---- 300 random traces, admin-heavy, always-nonzero randomization ------

  test("machine equals the simulator on 300 admin-heavy randomized traces") {
    val rnd = new scala.util.Random(1501L)
    for (trial <- 0 until 300) {
      val stuck = 5000L + rnd.nextInt(200000)
      val factor = Seq(0.05, 0.1, 0.3)(trial % 3) // never zero: every
      // backoff draw goes through the shared randomization sequence
      val seed = rnd.nextLong()
      val mRand = new scala.util.Random(seed)
      val sRand = new scala.util.Random(seed)
      val nSteps = 15 + rnd.nextInt(25)
      var t = 1000000L
      var ck = 100000L
      val evs = Seq.fill(nSteps) {
        t += 5000L * (1 + rnd.nextInt(12))
        // 35% admin probability, uniform over the four jobs — most draws
        // are ILLEGAL for the current state and must consume-and-continue
        val adm =
          if (rnd.nextInt(100) < 35)
            Some((Seq("stop", "resume", "finish", "remove")(rnd.nextInt(4)),
              if (rnd.nextBoolean()) Some(ck + 7) else None))
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
      val (bo0, cur0, st0, lt0) =
        resetConsume(evs.head.t, stuck, factor, () => sRand.nextDouble())
      var sim = SimState(bo = bo0, cur = cur0, boStart = st0, lretT = lt0)

      evs.zipWithIndex.foreach { case (e, i) =>
        now = e.t
        e.adm.foreach { case (j, ovw) =>
          if (j == "finish") m.markFinished() else m.pushAdminJob(j, ovw)
        }
        e.errs.foreach { case (c, msg) => m.reportErrors(RunningError(c, msg)) }
        e.warns.foreach(w => m.reportWarnings(RunningError(w)))
        val r = m.tick(e.rts, e.sck)
        val (sim2, o) = simTick(stuck, factor, () => sRand.nextDouble(), sim, e)
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

  // ---- every admin job at every reachable state, deterministically -------

  test("every admin job at every state: legal transitions fire, illegal ones consume-and-continue") {
    val states = Seq("", "normal", "warning", "pending", "stopped",
      "failed", "finished")
    val jobs = Seq("stop", "resume", "finish", "remove")
    for (target <- states; job <- jobs) {
      // drive a fresh machine (and the simulator) into `target`
      var t = 1000000L
      val prefix: Seq[Ev] = target match {
        case "" => Seq.empty
        case "normal" => Seq(Ev(t, None, Nil, Nil, Some(10L), 20L))
        case "warning" => Seq(
          Ev(t, None, Nil, Nil, Some(10L), 20L),
          Ev(t + 5000, None, Nil, Seq("CDC:ErrSinkManagerRunError"),
            Some(10L), 20L))
        case "pending" => Seq(
          Ev(t, None, Nil, Nil, Some(10L), 20L),
          Ev(t + 5000, None, Seq(("CDC:ErrProcessorUnknown", "x")), Nil,
            Some(10L), 20L))
        case "stopped" => Seq(
          Ev(t, None, Nil, Nil, Some(10L), 20L),
          Ev(t + 5000, Some(("stop", None)), Nil, Nil, Some(10L), 20L))
        case "failed" => Seq(
          Ev(t, None, Nil, Nil, Some(10L), 20L),
          Ev(t + 5000, None, Seq(("CDC:ErrStartTsBeforeGC", "")), Nil,
            Some(10L), 20L))
        case "finished" => Seq(
          Ev(t, None, Nil, Nil, Some(10L), 20L),
          Ev(t + 5000, Some(("finish", None)), Nil, Nil, Some(10L), 20L))
      }
      val steps = prefix :+
        Ev(t + 5000L * (prefix.size + 1), Some((job, Some(77L))), Nil, Nil,
          Some(10L), 20L)
      var now = steps.head.t
      val m = new FeedStateMachine(300000L, () => now)
      val (bo0, cur0, st0, lt0) =
        resetConsume(steps.head.t, 300000L, 0.0, () => 0.0)
      var sim = SimState(bo = bo0, cur = cur0, boStart = st0, lretT = lt0)
      steps.zipWithIndex.foreach { case (e, i) =>
        now = e.t
        e.adm.foreach { case (j, ovw) =>
          if (j == "finish") m.markFinished() else m.pushAdminJob(j, ovw)
        }
        e.errs.foreach { case (c, msg) => m.reportErrors(RunningError(c, msg)) }
        e.warns.foreach(w => m.reportWarnings(RunningError(w)))
        val r = m.tick(e.rts, e.sck)
        val (sim2, o) = simTick(300000L, 0.0, () => 0.0, sim, e)
        sim = sim2
        assert((r.state, r.shouldRunning, r.shouldRemoved, r.adminJobPending,
          r.isRetrying, r.backoffMs, r.epochBumped, r.errorSet, r.warningSet,
          r.resumedOverwriteTs) ==
          (o.st, o.run, o.rm, o.pend, o.retrying, o.bo, o.bump, o.err,
            o.warn, o.ovw),
          s"state=$target job=$job step=$i")
      }
      // an admin job was pushed on the last step: whatever its legality,
      // it must be CONSUMED (adminJobPending on that tick, none after)
      now += 5000
      val after = m.tick(20L, Some(10L))
      assert(!after.adminJobPending, s"state=$target job=$job leftover job")
    }
  }

  // ---- safe-mode phase kernel ---------------------------------------------

  test("safe-mode refcount: nesting, negative-count error, per-table idempotence") {
    import graft.streaming.SafeModePhase
    val c = new SafeModePhase.Counter
    assert(!c.enable)
    c.add(1); c.add(1)
    assert(c.enable && c.current == 2)
    c.add(-1)
    assert(c.enable) // nested: still on
    assert(c.add(-2).isLeft) // would go negative (mode.go:93-103)
    assert(c.current == 1)
    // IncrForTable counts a table once; Desc only if present
    c.incrForTable("db.t1"); c.incrForTable("db.t1")
    assert(c.current == 2)
    c.descForTable("db.t2") // never added: no-op
    assert(c.current == 2)
    c.descForTable("db.t1"); c.descForTable("db.t1")
    assert(c.current == 1)
    c.reset()
    assert(!c.enable && c.current == 0)
  }

  test("safe-mode init branches: cli beats config, exit-point rules, windows") {
    import graft.streaming.SafeModePhase
    import graft.streaming.SafeModePhase.InitCfg
    // cli duration returns early: config safe-mode is NOT added on top
    val cli = SafeModePhase.init(InitCfg(cliDurationSec = Some(10L),
      cfgSafeMode = true), nowTs = 100L).toOption.get
    assert(cli.counter.current == 1 && cli.timer.isEmpty)
    // first step arms exitTs = first binlog ts + duration; ts > exitTs exits
    val (cli1, s1) = SafeModePhase.step(cli, 100L, 100L, 100L)
    assert(s1 && cli1.cliExitTs.contains(110L))
    val (cli2, s2) = SafeModePhase.step(cli1, 110L, 110L, 110L)
    assert(s2) // boundary: ts == exitTs still safe
    val (_, s3) = SafeModePhase.step(cli2, 111L, 111L, 111L)
    assert(!s3)
    // exit point == begin clears immediately with the flush-now flag
    val cleared = SafeModePhase.init(InitCfg(exitPoint = Some(50L),
      beginLocation = 50L), 50L).toOption.get
    assert(cleared.clearedExitPointAtInit && !cleared.counter.enable)
    // zero duration with a real exit point is the reprocess conflict
    assert(SafeModePhase.init(InitCfg(cfgDurationSec = Some(0L),
      exitPoint = Some(60L), beginLocation = 50L), 50L).isLeft)
    // default window = 2 x checkpoint flush interval
    val win = SafeModePhase.init(InitCfg(checkpointFlushIntervalSec = 30L),
      nowTs = 1000L).toOption.get
    assert(win.timer.contains((1000L, 60L)))
    val (_, w1) = SafeModePhase.step(win, 1059L, 1059L, 1059L)
    assert(w1)
    val (_, w2) = SafeModePhase.step(win, 1060L, 1060L, 1060L)
    assert(!w2)
    // exit point passes on the first STRICTLY greater location
    val ep = SafeModePhase.init(InitCfg(exitPoint = Some(70L),
      beginLocation = 50L), 50L).toOption.get
    val (ep1, e1) = SafeModePhase.step(ep, 70L, 70L, 70L)
    assert(e1)
    val (_, e2) = SafeModePhase.step(ep1, 71L, 71L, 71L)
    assert(!e2)
    // nesting: config-on + exit point stays enabled after the point passes
    val nest = SafeModePhase.init(InitCfg(cfgSafeMode = true,
      exitPoint = Some(70L), beginLocation = 50L), 50L).toOption.get
    assert(nest.counter.current == 2)
    val (_, n2) = SafeModePhase.step(nest, 71L, 71L, 71L)
    assert(n2)
  }

  // ---- redo layout randomized lifecycle property ---------------------------

  test("redo writer/meta/GC/restart invariants hold over 120 random traces") {
    import java.nio.file.{Files, Paths}
    import scala.jdk.CollectionConverters._
    import graft.streaming.RedoLayout
    import graft.streaming.RedoLayout._
    val rnd = new scala.util.Random(1503L)
    for (trial <- 0 until 120) {
      val dir = Files.createTempDirectory(s"graft_redo_prop_$trial").toString
      val ns = if (rnd.nextBoolean()) "default" else "nsx"
      val maxLog = 64L + rnd.nextInt(512)
      var wu = 0; var mu = 0
      var w = new LogWriter(dir, "cap", ns, "feed", RowFileType, maxLog,
        () => { wu += 1; f"u$wu%05d" })
      var m = new MetaManager(dir, "cap", ns, "feed",
        () => { mu += 1; f"m$mu%05d" })
      m.initMeta(1L)
      var ts = 10L
      var maxWritten = 0L
      val writtenTs = scala.collection.mutable.ArrayBuffer.empty[Long]
      var flushedCkpt = 1L; var flushedRes = 1L
      def names(): Seq[String] = {
        val s = Files.list(Paths.get(dir))
        try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
        finally s.close()
      }
      for (_ <- 0 until 40 + rnd.nextInt(60)) rnd.nextInt(10) match {
        case k if k < 5 => // write a record (ts may repeat or jump)
          ts += rnd.nextInt(5)
          val payload = new Array[Byte](1 + rnd.nextInt(60))
          rnd.nextBytes(payload)
          if (payload.length <= maxLog) {
            w.writeAt(ts, payload)
            writtenTs += ts
            if (ts > maxWritten) maxWritten = ts
          }
        case 5 | 6 => // meta update (sometimes deliberately regressed)
          val c = if (rnd.nextInt(4) == 0) flushedCkpt - 5 - rnd.nextInt(10)
            else math.max(1L, maxWritten - rnd.nextInt(20))
          val r = math.max(c, maxWritten)
          m.update(c, r)
          if (m.maybeFlush()) {
            val (fc, fr) = m.flushedMeta
            // flushed pair is monotone and internally ordered
            assert(fc >= flushedCkpt && fr >= flushedRes && fr >= fc,
              s"trial=$trial flushed regressed: ($fc,$fr) after ($flushedCkpt,$flushedRes)")
            flushedCkpt = fc; flushedRes = fr
          }
          // at most one meta file ever survives a flush
          assert(names().count(_.endsWith(MetaExt)) == 1, s"trial=$trial")
        case 7 => // GC pass
          m.gc()
          for (n <- names() if n.endsWith(LogExt)) {
            val p = parseLogFileName(n).get
            assert(p.commitTs >= flushedCkpt,
              s"trial=$trial GC left $n below ckpt $flushedCkpt")
          }
        case 8 => // writer close (rotate-to-final)
          w.close()
          assert(names().forall(!_.endsWith(TmpExt)), s"trial=$trial")
          w = new LogWriter(dir, "cap", ns, "feed", RowFileType, maxLog,
            () => { wu += 1; f"u$wu%05d" })
        case _ => // owner restart: a fresh meta manager recovers the pair
          m = new MetaManager(dir, "cap", ns, "feed",
            () => { mu += 1; f"m$mu%05d" })
          m.initMeta(1L)
          val (fc, fr) = m.flushedMeta
          assert(fc == flushedCkpt && fr == flushedRes,
            s"trial=$trial restart lost ($flushedCkpt,$flushedRes) -> ($fc,$fr)")
      }
      w.close()
      // final: every decoded record in every surviving closed log sits at
      // or below the file's name ts, and frames round-trip losslessly
      for (n <- names() if n.endsWith(LogExt)) {
        val frames = readFrames(Files.readAllBytes(Paths.get(dir, n)))
        assert(frames.nonEmpty, s"trial=$trial empty log $n")
      }
      // reader selection never opens a file whose name ts <= checkpoint
      val sel = Reader.selectFiles(dir, RowFileType, flushedCkpt)
      sel.foreach { n =>
        assert(n.endsWith(TmpExt) ||
          parseLogFileName(n).get.commitTs > flushedCkpt, s"trial=$trial $n")
      }
      graft.core.FileOps.deleteTree(new java.io.File(dir))
    }
  }

  // ---- owner barrier composition ------------------------------------------

  test("owner barrier: seeds, global vs per-table, redo gating, the 256 cap") {
    import graft.streaming.OwnerBarrier
    import graft.streaming.OwnerBarrier.DdlAt
    // empty: everything sits at the resolved ts
    val e = OwnerBarrier.barrier(1000L, Seq.empty, redoEnabled = true)
    assert(e == OwnerBarrier.Barrier(1000L, 1000L, 1000L, Seq.empty))
    // a global DDL lowers global; a redo-barrier DDL lowers redo only when on
    val ddls = Seq(
      DdlAt(900L, "create_table", Seq(7L)), // global + redo-barrier
      DdlAt(800L, "add_column", Seq(1L)),
      DdlAt(950L, "truncate_table", Seq(2L))) // non-global + redo-barrier
    val b = OwnerBarrier.barrier(1000L, ddls, redoEnabled = true)
    assert(b.globalBarrierTs == 900L && b.minTableBarrierTs == 800L &&
      b.redoBarrierTs == 900L)
    // table barriers above the global barrier drop (truncate at 950 > 900)
    assert(b.tableBarriers == Seq((1L, 800L)))
    val off = OwnerBarrier.barrier(1000L, ddls, redoEnabled = false)
    assert(off.redoBarrierTs == 1000L)
    // several DDLs on one physical table keep the min commit
    val dup = OwnerBarrier.barrier(1000L, Seq(
      DdlAt(700L, "add_index", Seq(5L)), DdlAt(600L, "drop_index", Seq(5L))),
      redoEnabled = true)
    assert(dup.tableBarriers == Seq((5L, 600L)))
    // the cap: 300 tables → keep 256, global drops to the 257th entry's ts
    val many = (1 to 300).map(i => DdlAt(i.toLong, "add_column", Seq(i.toLong)))
    val c = OwnerBarrier.barrier(10000L, many, redoEnabled = true)
    assert(c.tableBarriers.size == 256 && c.globalBarrierTs == 257L)
    assert(c.tableBarriers.last == ((256L, 256L)))
    // partition ids ride along with the table id
    val p = OwnerBarrier.barrier(1000L,
      Seq(DdlAt(500L, "drop_table_partition", Seq(9L, 91L, 92L))), true)
    assert(p.tableBarriers.map(_._1) == Seq(9L, 91L, 92L))
  }

  // ---- relay filename purge (dmctl purge-relay) ---------------------------

  test("purge-relay -filename: older subdirs whole, safe subdir below the seq, errors") {
    import java.nio.file.{Files, Paths}
    import graft.streaming.Relay
    val base = Files.createTempDirectory("graft_purge_fn").toString
    val uuids = Seq("u1.000001", "u2.000002", "u3.000003")
    def touch(sub: String, name: String): Unit = {
      Files.createDirectories(Paths.get(base, sub))
      Files.write(Paths.get(base, sub, name), Array[Byte](1))
    }
    touch("u1.000001", "mysql-bin.000001"); touch("u1.000001", "mysql-bin.000002")
    touch("u2.000002", "mysql-bin.000001"); touch("u2.000002", "mysql-bin.000002")
    touch("u2.000002", "mysql-bin.000003"); touch("u2.000002", "other-bin.000001")
    touch("u3.000003", "mysql-bin.000001")

    // unknown safe subdir: the trim-UUID-not-found error
    assert(Relay.purgeRelayByFilename(base, uuids, "nope.000009",
      "mysql-bin.000001").isLeft)
    // missing base file: ErrBaseFileNotFound
    assert(Relay.purgeRelayByFilename(base, uuids, "u2.000002",
      "mysql-bin.000099").isLeft)

    val got = Relay.purgeRelayByFilename(base, uuids, "u2.000002",
      "mysql-bin.000002").toOption.get
    // u1 purges whole (and its dir), u2 purges only 000001 of the SAME
    // base name; other-bin untouched; u3 (newer) untouched
    assert(got == Seq("u1.000001/mysql-bin.000001",
      "u1.000001/mysql-bin.000002", "u1.000001/",
      "u2.000002/mysql-bin.000001"))
    assert(!Files.exists(Paths.get(base, "u1.000001")))
    assert(Files.exists(Paths.get(base, "u2.000002", "mysql-bin.000002")))
    assert(Files.exists(Paths.get(base, "u2.000002", "other-bin.000001")))
    assert(Files.exists(Paths.get(base, "u3.000003", "mysql-bin.000001")))
  }

  test("purge-relay safeTime cutoff: first newer file stops the walk (hasAll cascade)") {
    import java.nio.file.{Files, Paths}
    import java.nio.file.attribute.FileTime
    import graft.streaming.Relay
    val base = Files.createTempDirectory("graft_purge_t").toString
    val uuids = Seq("u1.000001", "u2.000002")
    def touch(sub: String, name: String, mtimeMs: Long): Unit = {
      Files.createDirectories(Paths.get(base, sub))
      val p = Paths.get(base, sub, name)
      Files.write(p, Array[Byte](1))
      Files.setLastModifiedTime(p, FileTime.fromMillis(mtimeMs))
    }
    touch("u1.000001", "mysql-bin.000001", 1000L)
    touch("u1.000001", "mysql-bin.000002", 9000L) // newer than the cutoff
    touch("u1.000001", "mysql-bin.000003", 1000L) // would be old, but after the break
    touch("u2.000002", "mysql-bin.000001", 1000L)
    touch("u2.000002", "mysql-bin.000002", 1000L)
    val got = Relay.purgeRelayByFilename(base, uuids, "u2.000002",
      "mysql-bin.000002", safeTimeMs = Some(5000L)).toOption.get
    // only the first old file of u1 goes: the newer 000002 breaks the
    // file loop AND the subdir walk — u2 is never reached
    assert(got == Seq("u1.000001/mysql-bin.000001"))
    assert(Files.exists(Paths.get(base, "u2.000002", "mysql-bin.000001")))
  }

  // ---- shard-merge randomized equivalence ----------------------------------

  test("shard XOR-combine equals the union digest; diff classes match brute force (12 random splits)") {
    import org.apache.spark.sql.functions._
    import graft.diff.{ChunkDiff, ShardMerge}
    import spark.implicits._
    val rnd = new scala.util.Random(1504L)
    for (trial <- 0 until 12) {
      val n = 200 + rnd.nextInt(300)
      val nShards = 2 + rnd.nextInt(3)
      val nChunks = 1 + rnd.nextInt(8)
      val rows = (1 to n).map { i =>
        (i.toLong, rnd.nextInt(1000).toLong, rnd.nextInt(3))
      } // (k, v, shard)
      // upstream: random per-row faults — drop, perturb, ghost
      val perturbK = rows.filter(_ => rnd.nextInt(20) == 0).map(_._1).toSet
      val dropK = rows.filter(r => !perturbK(r._1) && rnd.nextInt(20) == 0)
        .map(_._1).toSet
      val ghosts = (1 to rnd.nextInt(10)).map(i => (100000L + i, 7L, rnd.nextInt(3)))
      val down = rows.map { case (k, v, _) => (k, v) }
        .toDF("k", "v")
      val shards = (0 until nShards).map { s =>
        (rows.filter(_._3 % nShards == s) ++ ghosts.filter(_._3 % nShards == s))
          .filterNot(r => dropK(r._1))
          .map { case (k, v, _) => (k, if (perturbK(k)) v + 1 else v) }
          .toDF("k", "v")
      }
      val union = shards.reduce(_ unionByName _)
      def canon(df: org.apache.spark.sql.DataFrame) =
        Seq(col("k"), col("v").cast("string"))
      val (lo, hi) = (1L, n.toLong)
      val viaShards = ShardMerge.shardChunkChecksums(shards, "k", lo, hi,
        nChunks, canon).collect()
        .map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
      val viaUnion = union
        .withColumn("row_digest", ChunkDiff.rowDigest(canon(union)))
        .withColumn("chunk_id", ChunkDiff.chunkByWidth(col("k"), lo, hi, nChunks))
        .groupBy("chunk_id")
        .agg(count(lit(1)).as("cnt"), expr("bit_xor(row_digest)").as("checksum"))
        .collect().map(r => (r.getInt(0), (r.getLong(1), r.getLong(2)))).toMap
      assert(viaShards == viaUnion, s"trial=$trial XOR combine diverged")

      val classes = ChunkDiff.rowDiff(union, down, Seq("k"), canon)
        .groupBy("diff_type").count().collect()
        .map(r => r.getString(0) -> r.getLong(1)).toMap
      val wantDifferent = rows.count(r => perturbK(r._1) && !dropK(r._1))
      val wantExtra = rows.count(r => dropK(r._1))
      val wantMissing = ghosts.size
      assert(classes.getOrElse("different", 0L) == wantDifferent, s"trial=$trial")
      assert(classes.getOrElse("extra", 0L) == wantExtra, s"trial=$trial")
      assert(classes.getOrElse("missing", 0L) == wantMissing, s"trial=$trial")
    }
  }

  // ---- shard-DDL lock kernel ---------------------------------------------

  test("lock-ID algebra: gen/extract round-trip, malformed ids reject") {
    val rnd = new scala.util.Random(15L)
    for (_ <- 0 until 200) {
      val task = "task" + rnd.nextInt(1000)
      val db = "db" + rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
      val tbl = "t" + rnd.alphanumeric.take(1 + rnd.nextInt(6)).mkString
      val id = ShardDdl.genDDLLockID(task, db, tbl)
      assert(ShardDdl.extractTaskFromLockID(id) == task)
      assert(ShardDdl.extractDbTableFromLockID(id) == ((db, tbl)))
    }
    assert(ShardDdl.extractTaskFromLockID("invalid-lock-id") == "")
    assert(ShardDdl.extractDbTableFromLockID("nope") == (("", "")))
    // the task segment may itself contain dashes (greedy first group)
    val id = ShardDdl.genDDLLockID("a-b-c", "d", "t")
    assert(ShardDdl.extractTaskFromLockID(id) == "a-b-c")
  }

  test("pessimisticLocks: resolved groups leave the table, owner is the first announcer") {
    val ann = Seq(
      ("tb", "s1", "ddl", 20L), ("tb", "s0", "ddl", 10L), // s0 first by ts
      ("tc", "s0", "ddl", 30L), ("tc", "s1", "ddl", 40L), ("tc", "s2", "ddl", 50L))
    val locks = ShardDdl.pessimisticLocks("t", "db", ann, Seq("s0", "s1", "s2"))
    assert(locks.map(_.id) == Seq(ShardDdl.genDDLLockID("t", "db", "tb")))
    assert(locks.head.owner == "s0")
    assert(locks.head.ready == Map("s0" -> true, "s1" -> true, "s2" -> false))
    val views = ShardDdl.showLocks(locks)
    assert(views.head.synced == Seq("s0", "s1") &&
      views.head.unsynced == Seq("s2"))
    // filters
    assert(ShardDdl.showLocks(locks, task = "other").isEmpty)
    assert(ShardDdl.showLocks(locks, sources = Seq("s2")).size == 1)
    assert(ShardDdl.showLocks(locks, sources = Seq("s9")).isEmpty)
  }

  test("optimistic lock view: per-table triples, conflict owners, source-filtered owners") {
    import graft.streaming.ShardDdl.OptTableState
    val tables = Seq(
      OptTableState("s0", "s0db", "t", synced = true),
      OptTableState("s1", "s1db", "t", synced = false,
        conflictDdls = Some(Seq("ALTER TABLE t MODIFY v INT"))),
      OptTableState("s2", "s2db", "t", synced = false))
    val locks = Seq((ShardDdl.genDDLLockID("task", "db", "t"), "task", tables))
    val all = ShardDdl.showOptimisticLocks(locks)
    assert(all.size == 1)
    assert(all.head.mode == "optimistic")
    assert(all.head.synced == Seq("s0-`s0db`.`t`"))
    assert(all.head.unsynced == Seq("s1-`s1db`.`t`", "s2-`s2db`.`t`"))
    assert(all.head.owner == "s1-`s1db`.`t`" &&
      all.head.ddls == Seq("ALTER TABLE t MODIFY v INT"))
    // two conflicts → two rows sharing id and lists
    val two = tables.map {
      case x if x.source == "s2" =>
        x.copy(conflictDdls = Some(Seq("ALTER TABLE t ADD c INT")))
      case x => x
    }
    val rows2 = ShardDdl.showOptimisticLocks(Seq((locks.head._1, "task", two)))
    assert(rows2.size == 2 && rows2.map(_.id).distinct.size == 1)
    // a sources filter that misses the conflicting source keeps the lock
    // visible but drops the owner (optimist.go:174-186)
    val filtered = ShardDdl.showOptimisticLocks(locks, sources = Seq("s0"))
    assert(filtered.size == 1 && filtered.head.owner == "" &&
      filtered.head.unsynced.size == 2)
    // task/sources misses hide the lock entirely
    assert(ShardDdl.showOptimisticLocks(locks, task = "nope").isEmpty)
    assert(ShardDdl.showOptimisticLocks(locks, sources = Seq("s9")).isEmpty)
  }

  test("unlockLock: owner-must-be-synced, replace-owner, state threading") {
    val ann = Seq(("tb", "s0", "ddl", 10L), ("tb", "s1", "ddl", 20L))
    val locks = ShardDdl.pessimisticLocks("t", "db", ann, Seq("s0", "s1", "s2"))
    val id = ShardDdl.genDDLLockID("t", "db", "tb")
    // replace-owner at an un-synced source refuses and leaves state intact
    val (same, bad) = ShardDdl.unlockLock(locks, id, Some("s2"))
    assert(!bad.ok && bad.msg.contains("s2 is not waiting for a lock") &&
      same == locks)
    // default owner: exec + skip the other synced source + removal
    val (next, ok) = ShardDdl.unlockLock(locks, id)
    assert(ok.ok && ok.execOwner.contains("s0") && ok.skipped == Seq("s1"))
    assert(next.isEmpty)
    // unknown and malformed ids
    assert(!ShardDdl.unlockLock(locks, ShardDdl.genDDLLockID("t", "db", "x"))
      ._2.ok)
    assert(ShardDdl.unlockLock(locks, "garbage")._2.msg ==
      "can't find task name from lock-ID")
  }
}
