package graft.streaming

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SaveMode, SparkSession}
import org.apache.spark.sql.functions._

/**
 * S6 — relay log (SURVEY.md §2.1): a durable, replayable local copy of the
 * upstream event stream, so downstream consumers re-read without re-pulling
 * the source (reference dm/relay/relay.go + relay_writer.go: rotating
 * binlog files under a server-uuid subdir, `relay.meta` carrying
 * {binlog-name, binlog-pos}, and purge strategies in purger.go).
 *
 * Spark-first mapping: relay "files" are parquet SEGMENT directories —
 * `<uuid>.<gen>/seg.NNNNNN/` — appended by a foreachBatch sink, rotated by
 * row count (the analog of max-file-size rotation), and read back as one
 * DataFrame with position pushdown: a reader resuming from position P
 * prunes whole segments by each segment's recorded max commit_ts before
 * any row is scanned — the same skip a binlog reader gets by starting at
 * a file offset. relay.meta replays are idempotent: an already-applied
 * batchId is skipped, matching the writer's recover-on-restart dedup
 * (dm/relay/relay_writer.go Recover).
 */
object Relay {

  private val mapper = new com.fasterxml.jackson.databind.ObjectMapper()

  /** relay.meta analog: {binlog-name, binlog-pos} plus replay bookkeeping. */
  final case class RelayMeta(segment: Long, position: Long, lastBatch: Long,
                             segmentRows: Long)

  private def metaPath(dir: String) = Paths.get(s"$dir/relay.meta")

  private def readMeta(dir: String): Option[RelayMeta] = {
    val p = metaPath(dir)
    if (!Files.exists(p)) None
    else {
      val n = mapper.readTree(Files.readString(p))
      Some(RelayMeta(n.get("binlog-name").asLong(), n.get("binlog-pos").asLong(),
        n.get("last-batch").asLong(), n.get("segment-rows").asLong()))
    }
  }

  private def writeMeta(dir: String, m: RelayMeta): Unit = {
    val node = mapper.createObjectNode()
    node.put("binlog-name", m.segment)
    node.put("binlog-pos", m.position)
    node.put("last-batch", m.lastBatch)
    node.put("segment-rows", m.segmentRows)
    graft.core.FileOps.publishAtomic(metaPath(dir), mapper.writeValueAsString(node))
  }

  private def segDir(dir: String, seg: Long): String = f"$dir/seg.$seg%06d"

  /** Per-segment sidecar: the max commit_ts inside, for reader pruning. */
  private def segMax(dir: String, seg: Long): Long = {
    val p = Paths.get(s"${segDir(dir, seg)}/_max_ts")
    if (Files.exists(p)) Files.readString(p).trim.toLong else Long.MaxValue
  }

  /**
   * Relay writer as a foreachBatch sink. Rotation: a segment closes once
   * it holds ≥ `rotateRows` rows (relay_writer rotates on max file size).
   * Position = max commit_ts appended so far.
   */
  def relaySink(spark: SparkSession, relayDir: String, rotateRows: Long = 1000000L)
               (batch: DataFrame, batchId: Long): Unit = {
    Files.createDirectories(Paths.get(relayDir))
    val cur = readMeta(relayDir)
    if (cur.exists(_.lastBatch == batchId)) return // replay: already durable
    val m = cur.getOrElse(RelayMeta(0L, Long.MinValue, -1L, 0L))

    val rows = batch.persist()
    try {
      val stats = rows.agg(
        count(lit(1)).as("n"), max(col("commit_ts")).as("maxTs")).head()
      val n = stats.getLong(0)
      if (n > 0) {
        val maxTs = stats.getLong(1)
        rows.write.mode(SaveMode.Append).parquet(segDir(relayDir, m.segment))
        val total = m.segmentRows + n
        val pos = math.max(m.position, maxTs)
        if (total >= rotateRows) {
          // seal: record the segment's max ts, open the next segment
          Files.writeString(
            Paths.get(s"${segDir(relayDir, m.segment)}/_max_ts"), pos.toString)
          writeMeta(relayDir, RelayMeta(m.segment + 1, pos, batchId, 0L))
        } else {
          writeMeta(relayDir, RelayMeta(m.segment, pos, batchId, total))
        }
      } else {
        writeMeta(relayDir, m.copy(lastBatch = batchId))
      }
    } finally { rows.unpersist(); () }
  }

  private def segments(relayDir: String): Seq[Long] =
    Files.list(Paths.get(relayDir)).iterator().asScala
      .map(_.getFileName.toString).filter(_.startsWith("seg."))
      .map(_.stripPrefix("seg.").toLong).toSeq.sorted

  /**
   * Relay reader (dm/relay/local_reader.go): all events strictly after
   * `fromTs`. Whole sealed segments with max_ts ≤ fromTs are pruned here
   * on the driver — the scan never opens them (binlog start-offset analog);
   * within surviving segments the commit_ts predicate pushes down to
   * parquet row groups.
   */
  def readRelay(spark: SparkSession, relayDir: String,
                fromTs: Long = Long.MinValue): DataFrame = {
    val live = segments(relayDir)
      .filter(s => fromTs == Long.MinValue || segMax(relayDir, s) > fromTs)
      .map(segDir(relayDir, _))
    require(live.nonEmpty || segments(relayDir).nonEmpty,
      s"no relay segments under $relayDir")
    if (live.isEmpty) {
      // everything pruned: empty frame with the relay schema
      spark.read.parquet(segDir(relayDir, segments(relayDir).head)).limit(0)
    } else {
      spark.read.parquet(live: _*).filter(col("commit_ts") > fromTs)
    }
  }

  /** Current replication position, `{binlog-name, binlog-pos}` shaped. */
  def position(relayDir: String): Map[String, Long] =
    readMeta(relayDir).map(m =>
      Map("binlog-name" -> m.segment, "binlog-pos" -> m.position))
      .getOrElse(Map("binlog-name" -> 0L, "binlog-pos" -> Long.MinValue))

  /**
   * Purge sealed segments whose max commit_ts ≤ `beforeTs`
   * (dm/relay/purger.go time/space strategies). The active segment and
   * relay.meta are never touched, so writers keep appending mid-purge.
   */
  def purgeRelay(relayDir: String, beforeTs: Long): Seq[Long] = {
    val active = readMeta(relayDir).map(_.segment).getOrElse(Long.MaxValue)
    val victims = segments(relayDir)
      .filter(s => s < active && segMax(relayDir, s) <= beforeTs)
    victims.foreach { s =>
      val d = Paths.get(segDir(relayDir, s))
      Files.walk(d).sorted(java.util.Comparator.reverseOrder())
        .iterator().asScala.foreach(Files.delete)
    }
    victims
  }

  /**
   * dmctl `purge-relay -filename` — MySQL's PURGE BINARY LOGS TO over the
   * UUID-sequenced relay tree (dm/relay/purge_strategy.go:131-169,
   * purger_helper.go:36-162, file.go:46-100):
   *
   *  - subdirs strictly OLDER than the safe one (by position in the
   *    uuid index) purge ENTIRELY and their emptied dirs are removed;
   *    an unknown safe subdir is the trim-UUID-not-found error;
   *  - inside the safe subdir only files with the SAME base name and a
   *    smaller sequence purge (the safe file itself is kept and must
   *    EXIST — ErrBaseFileNotFound otherwise); files with another base
   *    name are ignored with a warning in the reference;
   *  - an optional safeTime modification-time cutoff stops collection at
   *    the FIRST newer file — later files are assumed newer too, and a
   *    subdir that hit the cutoff also stops the subdir walk
   *    (purger_helper.go:128-154's hasAll cascade).
   *
   * Returns removed paths relative to `relayBaseDir`, in removal order.
   */
  def purgeRelayByFilename(relayBaseDir: String, uuids: Seq[String],
      safeSubDir: String, safeFilename: String,
      safeTimeMs: Option[Long] = None): Either[String, Seq[String]] = {
    val endIdx = uuids.indexOf(safeSubDir)
    if (endIdx < 0)
      return Left(s"UUID $safeSubDir in UUIDs ${uuids.mkString("[", ",", "]")} not found")
    val keep = uuids.take(endIdx + 1)
    val safeParsed = BinlogPos.parseFilename(safeFilename) match {
      case Right(f) => f
      case Left(e) => return Left(e)
    }
    if (!Files.exists(Paths.get(relayBaseDir, safeSubDir, safeFilename)))
      return Left(s"base file $safeFilename in directory " +
        s"${Paths.get(relayBaseDir, safeSubDir)} not found")

    def listSorted(dir: java.nio.file.Path): Seq[String] = {
      if (!Files.exists(dir)) return Seq.empty
      val s = Files.list(dir)
      try s.iterator().asScala.map(_.getFileName.toString)
        .filter(n => BinlogPos.parseFilename(n).isRight).toSeq.sorted
      finally s.close()
    }

    val removed = scala.collection.mutable.ArrayBuffer.empty[String]
    var stop = false
    for ((uuid, i) <- keep.zipWithIndex if !stop) {
      val dir = Paths.get(relayBaseDir, uuid)
      val shortFiles =
        if (i + 1 == keep.size)
          // the safe subdir: only same-base-name files below the safe seq
          listSorted(dir).filter { n =>
            BinlogPos.parseFilename(n).exists(f =>
              f.baseName == safeParsed.baseName &&
                f.seqInt < safeParsed.seqInt)
          }
        else listSorted(dir) // an older subdir: everything goes
      var hasAll = i + 1 < keep.size || shortFiles.nonEmpty
      val victims = scala.collection.mutable.ArrayBuffer.empty[String]
      var cut = false
      for (n <- shortFiles if !cut) {
        val p = dir.resolve(n)
        if (safeTimeMs.exists(t => Files.getLastModifiedTime(p).toMillis > t)) {
          hasAll = false; cut = true // newer found: later files newer too
        } else victims += n
      }
      victims.foreach { n =>
        Files.deleteIfExists(dir.resolve(n))
        removed += s"$uuid/$n"
      }
      // an emptied subdir is removed (purgeRelayFiles' dir cleanup); the
      // safe subdir always keeps the safe file so never empties
      if (hasAll && i + 1 < keep.size && listSorted(dir).isEmpty &&
          Files.exists(dir)) {
        val rest = Files.list(dir)
        val empty = try !rest.iterator().hasNext finally rest.close()
        if (empty) { Files.delete(dir); removed += s"$uuid/" }
      }
      if (!hasAll) stop = true // hasAll cascade: stop the subdir walk
    }
    Right(removed.toSeq)
  }
}
