package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

/**
 * Changefeed lifecycle manager (SURVEY.md §2.14): the REST/CLI surface of
 * tiflow's owner (`cdc/api/v2/api.go` create/pause/resume/delete/list,
 * /status) mapped onto StreamingQuery management. Pause = stop the query
 * (checkpoint retains progress); resume = start again from the same
 * checkpoint; delete = stop + forget. HA/etcd state is Spark's checkpoint
 * store — a restarted driver re-`resume`s every spec it knows.
 */
final class ChangefeedManager(spark: SparkSession,
    clock: () => Long = () => System.currentTimeMillis()) {

  private final case class Entry(spec: ChangefeedSpec,
                                 source: () => DataFrame,
                                 sink: (DataFrame, Long) => Unit,
                                 // owner-side lifecycle state machine
                                 // (cdc/owner/feed_state_manager.go)
                                 machine: FeedStateMachine,
                                 var query: Option[StreamingQuery],
                                 // /synced progress marks, read from the
                                 // committed batches' progress (resume)
                                 var lastSynced: Long = 0L,
                                 var checkpoint: Long = 0L,
                                 var resolvedTick: Long = 0L,
                                 var introspect: Option[() => DataFrame] = None,
                                 // create-time ts marks (verifyTs): the
                                 // update path's target_ts floor reads them
                                 var startTs: Long = 0L,
                                 var targetTs: Long = 0L)

  private val feeds = collection.concurrent.TrieMap.empty[String, Entry]

  /** Create + start a changefeed. Fails if the id already exists.
    * `errorStuckMs` = changefeed-error-stuck-duration (reference default
    * 30 min): the error backoff's elapsed budget AND the warning-stuck
    * threshold of the feed's state machine. */
  def create(spec: ChangefeedSpec, source: () => DataFrame,
             errorStuckMs: Long = 1800000L)
            (sink: (DataFrame, Long) => Unit): Unit = {
    require(!feeds.contains(spec.id), s"changefeed ${spec.id} already exists")
    val e = Entry(spec, source, sink,
      new FeedStateMachine(errorStuckMs, clock), None)
    feeds.put(spec.id, e)
    machineTick(e) // uninitialized -> normal
    resume(spec.id)
  }

  private def machineTick(e: Entry): Unit = {
    e.machine.tick(e.resolvedTick, Some(e.checkpoint)); ()
  }

  /** Pause: the AdminStop job transitions the machine (legal from
    * normal/warning/pending), and the query stops because ShouldRunning
    * went false — the owner's order of operations. */
  def pause(id: String): Unit =
    feeds.get(id).foreach { e =>
      e.machine.pushAdminJob("stop"); machineTick(e)
      if (!e.machine.shouldRunning) {
        e.query.foreach { q => q.stop(); q.awaitTermination() }
        e.query = None
      }
    }

  /** Resume from checkpoint (no-op if already running). When the drain
    * returns, or fails and before its error is reported, lastSynced
    * advances to the max data commit ts its committed batches observed
    * ([[Changefeed.committedTs]]) and the checkpoint follows (a microbatch
    * is a complete ts range, so its max is a safe watermark — the same
    * prefix rule as [[Sinks.sinkProgress]]). A failed batch has no
    * progress, so a failing sink advances nothing. */
  def resume(id: String): Unit =
    feeds.get(id).foreach { e =>
      // AdminResume is only legal from failed/stopped/finished; from a
      // live state the tick is a plain heartbeat
      if (Set(FeedStateMachine.Failed, FeedStateMachine.Stopped,
          FeedStateMachine.Finished).contains(e.machine.state))
        e.machine.pushAdminJob("resume")
      machineTick(e)
      if (e.machine.shouldRunning && !e.query.exists(_.isActive)) {
        val q = Changefeed.start(spark, e.source(), e.spec)(e.sink)
        try {
          try q.awaitTermination() // AvailableNow triggers drain-and-stop
          finally Changefeed.committedTs(q).foreach { ts =>
            e.lastSynced = math.max(e.lastSynced, ts)
            e.checkpoint = math.max(e.checkpoint, ts)
          }
        } catch {
          case ex: Exception =>
            // processor error: report to the state machine (an unretryable
            // RFC code inside the message fails the feed via the
            // strings.Contains leg; anything else parks it pending)
            e.machine.reportErrors(FeedStateMachine.RunningError(
              "CDC:ErrProcessorUnknown",
              Option(ex.getMessage).getOrElse(ex.toString)))
            machineTick(e)
            e.query = None
            throw ex
        }
        e.query = Some(q)
      }
    }

  /** Replace a paused changefeed's source thunk (error-handling surfaces:
    * DM's handle-error swaps in a skip/replace-wrapped source, then resume
    * rebuilds the query from it; the checkpoint is untouched, so already-
    * committed batches never replay). */
  def swapSource(id: String, source: () => DataFrame): Unit =
    feeds.get(id).foreach { e =>
      require(!e.query.exists(_.isActive), s"changefeed $id must be paused")
      feeds.put(id, e.copy(source = source))
      ()
    }

  /** Replace a paused changefeed's sink (the UPDATE path's sink-uri
    * change, cdc/api/v2/changefeed.go updateChangefeed — the reference
    * also requires a stopped feed; resume rebuilds the query around the
    * new sink with the checkpoint untouched). */
  def updateSink(id: String, sink: (DataFrame, Long) => Unit): Unit =
    feeds.get(id).foreach { e =>
      require(!e.query.exists(_.isActive), s"changefeed $id must be paused")
      feeds.put(id, e.copy(sink = sink))
      ()
    }

  /** Create/update-time ts marks. */
  def setTs(id: String, startTs: Option[Long], targetTs: Option[Long]): Unit =
    feeds.get(id).foreach { e =>
      startTs.foreach(e.startTs = _)
      targetTs.foreach(e.targetTs = _)
    }
  def tsInfo(id: String): (Long, Long) =
    feeds.get(id).map(e => (e.startTs, e.targetTs)).getOrElse((0L, 0L))

  /** Delete: AdminRemove, stop and forget (checkpoint dir is the
    * caller's to clean). */
  def delete(id: String): Unit = {
    feeds.get(id).foreach { e =>
      e.machine.pushAdminJob("remove"); machineTick(e)
      e.query.foreach { q => q.stop(); q.awaitTermination() }
      e.query = None
    }
    feeds.remove(id)
    ()
  }

  def list(): Seq[String] = feeds.keys.toSeq.sorted

  /** Register a batch snapshot of the feed's SOURCE (the ApiServer's
    * `introspect` pattern) — the puller's view, from which the resolved
    * ts derives. Without it the puller is assumed caught up. */
  def setIntrospect(id: String, snapshot: () => DataFrame): Unit =
    feeds.get(id).foreach(_.introspect = Some(snapshot))

  private def sourceMax(e: Entry): Long =
    e.introspect.map(_ ()).filter(_.columns.contains("commit_ts"))
      .map { df =>
        // a schema-only snapshot (no ts column) says nothing about the
        // puller frontier — treated as caught up
        val r = df.agg(org.apache.spark.sql.functions.max("commit_ts")).head()
        if (r.isNullAt(0)) 0L else r.getLong(0)
      }.getOrElse(0L)

  /**
   * The puller's resolved-ts heartbeat (the reference's resolved ts keeps
   * advancing via PD TSO even with no writes, and the checkpoint follows
   * once the sink has drained — cdc/owner/changefeed.go resolvedTs
   * handling). With pending source rows beyond the checkpoint the tick
   * only advances the RESOLVED mark; a drained feed's checkpoint follows
   * the tick.
   */
  def tickResolved(id: String, ts: Long): Unit =
    feeds.get(id).foreach { e =>
      e.resolvedTick = math.max(e.resolvedTick, ts)
      if (sourceMax(e) <= e.checkpoint)
        e.checkpoint = math.max(e.checkpoint, ts)
    }

  /** `/synced` over the REAL marks ([[SyncedStatus.decide]]): lastSynced /
    * checkpoint tracked from applied batches, pullerResolved = the source
    * snapshot's frontier ∨ the resolved heartbeat ∨ the checkpoint. The
    * caller supplies the evaluation clock (commit-ts domain). */
  def synced(id: String, nowMs: Long, pdAvailable: Boolean = true,
             cfg: SyncedStatus.SyncedConfig = SyncedStatus.SyncedConfig())
      : Map[String, Any] = {
    val e = feeds.getOrElse(id,
      throw new NoSuchElementException(s"changefeed $id not found"))
    val pullerResolved =
      math.max(math.max(sourceMax(e), e.resolvedTick), e.checkpoint)
    val (s, info) = SyncedStatus.decide(nowMs, e.lastSynced, e.checkpoint,
      pullerResolved, cfg, pdAvailable)
    Map("synced" -> s, "info" -> info,
      "last_synced_ts" -> e.lastSynced,
      "checkpoint_ts" -> e.checkpoint,
      "puller_resolved_ts" -> pullerResolved)
  }

  /** /status analog; `feed_state` carries the machine's model state
    * (normal/warning/pending/stopped/failed/finished). */
  def status(id: String): Map[String, Any] =
    feeds.get(id) match {
      case None => Map("id" -> id, "state" -> "not-found")
      case Some(e) =>
        val base = e.query match {
          case Some(q) => Changefeed.status(q) + ("state" -> "created")
          case None => Map("id" -> id, "state" -> "paused")
        }
        base + ("feed_state" -> e.machine.state)
    }

  /** The machine's model state for a feed ("" when unknown). */
  def feedState(id: String): String =
    feeds.get(id).map(_.machine.state).getOrElse("")

  /** The last error patched into the feed's info, if any. */
  def feedError(id: String): Option[FeedStateMachine.RunningError] =
    feeds.get(id).flatMap(_.machine.lastError)

  /** Report processor errors into a feed's state machine and
    * tick it (the owner's HandleError/HandleWarning path). */
  def reportError(id: String, code: String, message: String = ""): Unit =
    feeds.get(id).foreach { e =>
      e.machine.reportErrors(FeedStateMachine.RunningError(code, message))
      machineTick(e)
    }
}
