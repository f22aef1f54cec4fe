package graft.streaming

/**
 * Capture/processor inspection surface (SURVEY.md §2.14 L1): the read-only
 * cluster views an operator of the real product uses —
 * `GET /api/v2/captures`, `POST /api/v2/captures/{id}/drain`
 * (cdc/api/v2/capture.go:27-124), `GET /api/v2/processors` and
 * `GET /api/v2/processors/{changefeed}/{capture}` (processor.go:37-155).
 *
 * Spark-first mapping: a "capture" models an executor host with the driver
 * as owner; a "processor" is one (changefeed × capture) pair, exactly the
 * reference's model. Spark schedules tasks dynamically, so the per-capture
 * table placement here is the SCHEDULER'S STEADY STATE modeled
 * deterministically: each table hashes onto the alive capture ring
 * ([[graft.core.Hashing.portableLong]] mod n over the id-sorted alive
 * list). Draining a capture shrinks the ring and every table re-places —
 * the observable end state of the reference's gradual table moves
 * (scheduler/internal/v3/keyspan, drain = move all tables off).
 *
 * Error semantics mirror the reference byte-for-byte in class:
 *  - drain with ≤1 alive capture → ErrSchedulerRequestFailed
 *    ("only one capture alive", capture.go:38-43)
 *  - drain of an unknown capture → ErrCaptureNotExist (:45-58)
 *  - drain of the owner → ErrSchedulerRequestFailed ("cannot drain the
 *    owner", :60-71)
 *  - processor lookup: changefeed/capture ids validated by
 *    `ValidateChangefeedID`'s `^[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*$` (≤128,
 *    model/changefeed.go:178-189, reused for capture ids at
 *    processor.go:52); a non-running changefeed state rejects
 *    (processor.go:71-80, `IsRunning` = normal|warning); an unknown
 *    capture rejects only after the processor list confirms absence
 *    (:84-99); a capture with no attached tables is an EMPTY detail, not
 *    an error (:113-115).
 */
object Captures {

  final case class CaptureInfo(id: String, advertiseAddr: String)

  val ErrSchedulerRequestFailed = "ErrSchedulerRequestFailed"
  val ErrCaptureNotExist = "ErrCaptureNotExist"
  val ErrAPIInvalidParam = "ErrAPIInvalidParam"

  /** model.ValidateChangefeedID (changefeed.go:178-189). */
  def validId(id: String): Boolean =
    id.matches("[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*") && id.length <= 128

  /** Place one qualified table on the id-sorted alive ring. Table lists
    * are control-plane sized, so the placement hash runs on the driver. */
  def placement(table: String, aliveSorted: IndexedSeq[String]): String =
    aliveSorted((graft.core.Hashing.md5Long(table.getBytes("UTF-8")) %
      aliveSorted.size).toInt)
}

/**
 * The registry: capture membership + per-changefeed table scope. Owner =
 * the first registered alive capture (the driver). All methods are
 * control-plane (table lists, capture lists) — nothing here touches a
 * corpus-scale path.
 */
final class CaptureRegistry(val clusterId: String,
                            initial: Seq[Captures.CaptureInfo]) {
  import Captures._

  private var caps: Vector[CaptureInfo] = initial.toVector
  private val gone = collection.mutable.Set.empty[String]
  // changefeed id -> (namespace, qualified tables in scope)
  private val scopes =
    collection.concurrent.TrieMap.empty[String, (String, Seq[String])]

  def register(c: CaptureInfo): Unit = synchronized { caps :+= c }

  def alive: Seq[CaptureInfo] = caps.filterNot(c => gone(c.id))

  def ownerId: Option[String] = alive.headOption.map(_.id)

  /** GET /api/v2/captures rows (capture.go:91-124). */
  def listCaptures(): Seq[Map[String, Any]] =
    alive.map(c => Map(
      "id" -> c.id,
      "is_owner" -> ownerId.contains(c.id),
      "address" -> c.advertiseAddr,
      "cluster_id" -> clusterId))

  def setScope(changefeedId: String, namespace: String,
               tables: Seq[String]): Unit =
    scopes.put(changefeedId, (namespace, tables.sorted)) : Unit

  def dropScope(changefeedId: String): Unit = scopes.remove(changefeedId) : Unit

  /** Tables currently placed on `captureId` for one changefeed. */
  def tablesOn(changefeedId: String, captureId: String): Seq[String] = {
    val ring = alive.map(_.id).sorted.toIndexedSeq
    scopes.get(changefeedId).map(_._2).getOrElse(Nil)
      .filter(t => ring.nonEmpty && placement(t, ring) == captureId)
  }

  /** POST /api/v2/captures/{id}/drain (capture.go:27-80). Right = the
    * drained capture's table count at request time (DrainCaptureResp). */
  def drain(target: String): Either[(String, String), Int] = synchronized {
    val a = alive
    if (a.size <= 1)
      Left(ErrSchedulerRequestFailed -> "only one capture alive")
    else if (!a.exists(_.id == target))
      Left(ErrCaptureNotExist -> target)
    else if (ownerId.contains(target))
      Left(ErrSchedulerRequestFailed -> "cannot drain the owner")
    else {
      val moved = scopes.keys.toSeq.map(cf => tablesOn(cf, target).size).sum
      gone += target
      Right(moved)
    }
  }

  /** GET /api/v2/processors rows (processor.go:125-155): every running
    * (changefeed × alive capture) pair. */
  def listProcessors(running: String => Boolean): Seq[Map[String, Any]] =
    for {
      cf <- scopes.keys.toSeq.sorted if running(cf)
      c <- alive.map(_.id).sorted
    } yield Map(
      "namespace" -> scopes(cf)._1,
      "changefeed_id" -> cf,
      "capture_id" -> c)

  /** GET /api/v2/processors/{changefeed}/{capture} (processor.go:37-123):
    * the validation chain, then the placed-table detail. */
  def getProcessor(changefeedId: String, captureId: String,
                   state: String => String)
      : Either[(String, String), Seq[String]] = {
    if (!validId(changefeedId))
      Left(ErrAPIInvalidParam -> s"invalid changefeed_id: $changefeedId")
    else if (!validId(captureId))
      Left(ErrAPIInvalidParam -> s"invalid capture_id: $captureId")
    else {
      val st = state(changefeedId)
      if (st != "normal" && st != "warning")
        Left(ErrAPIInvalidParam ->
          s"changefeed in abnormal state: $st")
      else if (!listProcessors(_ => true).exists(_("capture_id") == captureId))
        Left(ErrCaptureNotExist -> captureId)
      else Right(tablesOn(changefeedId, captureId))
    }
  }
}
