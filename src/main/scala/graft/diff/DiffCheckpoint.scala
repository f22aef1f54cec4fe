package graft.diff

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/**
 * sync_diff chunk-checkpoint resume — the reference persists the diff's
 * progress so an interrupted run restarts without re-checksumming
 * finished work (sync_diff_inspector/checkpoints/checkpoints.go).
 *
 * The reference mechanism: workers complete chunks OUT OF ORDER; each
 * completed node goes into a min-heap keyed by global chunk order
 * (Insert:208), and `GetChunkSnapshot`:259-269 pops while the next heap
 * head is ADJACENT to the current saved node — i.e. the persisted
 * checkpoint is always the last chunk of the maximal CONTIGUOUS prefix
 * of completed chunks (a later chunk that finished early is NOT safe to
 * save: the gap before it would be skipped on resume). `SaveChunk`:272
 * writes it with write-temp-then-rename atomicity (writeFileAtomic:34),
 * and a resumed run starts from the node after the saved one, so only
 * the incomplete remainder re-checksums; completed-but-past-the-gap work
 * is deliberately redone.
 *
 * Spark-first: the heap-pop fold collapses to ONE distributed question —
 * "what is the smallest chunk id that has NOT completed?" — answered by
 * an anti-join of the chunk-id domain against the completed set (both
 * control-plane-sized: chunks, not rows). No heap, no ordering of the
 * completion events at all: the maximal contiguous prefix is a property
 * of the completed SET.
 */
object DiffCheckpoint {

  /** checkpoints.go SuccessState / FailedState / IgnoreState — both
    * success and failed chunks checkpoint (a failed chunk's diff rows are
    * already in the report snapshot saved alongside). */
  val SuccessState = "success"
  val FailedState = "failed"
  val IgnoreState = "ignore"

  /**
   * GetChunkSnapshot as a set fold: `completed` holds the chunk ids
   * finished so far (any completion order, any state); returns the saved
   * node id = (smallest missing id in [0, nChunks)) - 1, i.e. -1 when
   * chunk 0 is still outstanding, nChunks-1 when everything finished.
   */
  def savedNodeId(completed: DataFrame, idCol: String, nChunks: Int): Long = {
    val spark = completed.sparkSession
    val firstMissing = spark.range(nChunks).toDF("cid")
      .join(completed.select(col(idCol).cast("long").as("cid")).distinct(),
        Seq("cid"), "left_anti")
      .agg(min("cid")).head()
    if (firstMissing.isNullAt(0)) nChunks - 1L
    else firstMissing.getLong(0) - 1L
  }

  /** Resume filter: the re-run processes only chunks PAST the saved node
    * (diff.go startRange — everything at or before it is trusted from
    * the checkpointed report). */
  def resumeFrom(chunks: DataFrame, idCol: String, savedId: Long): DataFrame =
    chunks.filter(col(idCol) > savedId)

  /** SaveChunk's write-temp-then-rename atomicity (writeFileAtomic:34-52)
    * for the tiny saved-state sidecar: a crashed writer can never leave a
    * torn checkpoint, only the previous complete one. */
  def save(path: String, savedId: Long, state: String): Unit = {
    val json =
      s"""{"chunk-info":{"state":"$state","chunk-id":$savedId}}"""
    graft.core.FileOps.publishAtomic(java.nio.file.Paths.get(path), json)
  }

  /** LoadChunk: (savedId, state), or None when no checkpoint exists —
    * the caller starts from scratch like a fresh diff. */
  def load(path: String): Option[(Long, String)] = {
    val p = java.nio.file.Paths.get(path)
    if (!java.nio.file.Files.exists(p)) return None
    val s = new String(java.nio.file.Files.readAllBytes(p), "UTF-8")
    val id = """"chunk-id":(-?\d+)""".r.findFirstMatchIn(s).map(_.group(1).toLong)
    val st = """"state":"([a-z]+)"""".r.findFirstMatchIn(s).map(_.group(1))
    for (i <- id; t <- st) yield (i, t)
  }
}
