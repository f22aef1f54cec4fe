package graft.streaming

import scala.collection.mutable

/**
 * Relay uuid-subdirectory META LIFECYCLE — the `server-uuid.index` +
 * per-subdir `relay.meta` state machine behind DM's relay storage
 * (dm/relay/meta.go:1-484, helpers dm/pkg/utils/relay.go:30-100):
 *
 *  - each upstream master gets a subdirectory `<server-uuid>.NNNNNN`; the
 *    6-digit suffix increments on every master switch / RESET MASTER, and
 *    the ordered list of subdirectories lives in `server-uuid.index`
 *    (AddDir, meta.go:268-335; AddSuffixForUUID, relay.go:70-72);
 *  - the per-subdir `relay.meta` file carries (binlog-name, binlog-pos,
 *    binlog-gtid); Save marks memory dirty, Flush writes-through
 *    (meta.go:199-250); AddDir flushes the PREVIOUS subdir's meta before
 *    rotating and resets the position to the 4-byte minimum checkpoint
 *    while KEEPING the GTID set — the GTID is what lets the reader
 *    continue across the switch (meta.go:296-334);
 *  - Load resumes from the index file: subdir suffixes must be
 *    consecutive, the CURRENT subdir is the last line, and its meta file
 *    (if any) restores the position (meta.go:120-149, 433-441);
 *  - TrimUUIDIndexFile drops index entries whose directory no longer
 *    exists and rewrites the file only when something was trimmed
 *    (meta.go:363-392);
 *  - AdjustWithStartPos seeds a meaningless position (first subdir,
 *    ≤ min checkpoint, no GTID) from the task's configured or latest
 *    upstream position (meta.go:151-196).
 *
 * The reference does real file IO; here the "filesystem" is an explicit
 * in-memory image (dirs / index text / meta texts) so every transition is
 * deterministic and replayable by the SQL oracle, and the repo's
 * [[Relay]] file-layout writer stays the IO path. Two deliberately
 * preserved reference subtleties: Save(gset=nil) clears the FILE gtid but
 * not the in-memory gset (meta.go:206-214 only assigns on non-nil), and
 * non-GTID AdjustWithStartPos RESETS the memory gset to empty while
 * still writing whatever gtid string it picked up (meta.go:168-189 —
 * `gset` keeps the empty clone on that branch).
 */
object RelayMeta {
  val MinUuidSuffix = 1
  /** go-mysql's zero-name 4-byte minimum checkpoint (meta.go:32). */
  val MinCheckpointName = ""
  val MinCheckpointPos = 4L
  val UuidIndexFilename = "server-uuid.index"
  val MetaFilename = "relay.meta"

  def addSuffixForUuid(uuid: String, id: Int): String =
    f"$uuid.$id%06d"

  /** mysql.Position.Compare: name lexically, then pos. */
  def comparePos(n1: String, p1: Long, n2: String, p2: Long): Int =
    if (n1 > n2) 1 else if (n1 < n2) -1
    else java.lang.Long.compare(p1, p2)

  /** The shared simulated filesystem image: the index file text, the set
    * of existing subdirectories, and each subdir's relay.meta rendering
    * (the reference's three toml-tagged fields). */
  final class Fs {
    var indexFile: Option[String] = None
    val dirs = mutable.LinkedHashSet.empty[String]
    val metas = mutable.LinkedHashMap.empty[String, (String, Long, String)]
    def indexLines: Seq[String] =
      indexFile.toSeq.flatMap(_.split("\n", -1)).map(_.trim).filter(_.nonEmpty)
  }
}

/** One LocalMeta instance over a shared [[RelayMeta.Fs]]. A `reload` in
  * the gate script is a FRESH instance + Load() over the same image —
  * the fail-over resume path. (The reference's flavor parameter only
  * feeds gtid.ParserGTID, which this kernel keeps as opaque strings.) */
final class RelayMeta(fs: RelayMeta.Fs) {
  import RelayMeta._

  private var currentSubDir: String = ""
  private var subDirs: Seq[String] = Seq.empty
  private var binLogName: String = MinCheckpointName
  private var binLogPos: Long = MinCheckpointPos
  /** the file-facing gtid string (toml `binlog-gtid`). */
  private var binlogGtid: String = ""
  /** the in-memory gset view (GTID() reads THIS, not binlogGtid). */
  private var gset: String = ""
  private var dirtyFlag: Boolean = false

  def pos: (String, String, Long) = (currentSubDir, binLogName, binLogPos)
  def gtidView: (String, String) = (currentSubDir, gset)
  def fileGtid: String = binlogGtid
  def dirty: Boolean = dirtyFlag

  /** Load (meta.go:120-149): parse index, verify consecutive suffixes,
    * point at the LAST subdir, restore its meta file. */
  def load(): Either[String, Unit] = {
    val lines = fs.indexLines
    verifySubDirs(lines) match {
      case Some(err) => Left(err)
      case None =>
        if (lines.nonEmpty) currentSubDir = lines.last
        subDirs = lines
        loadMetaData()
        Right(())
    }
  }

  /** verifySubDirs (meta.go:414-431): every suffix after the first must
    * be exactly previous+1; parse failures surface first. */
  private def verifySubDirs(uuids: Seq[String]): Option[String] = {
    var prev = 0
    for (u <- uuids) {
      BinlogPos.parseRelaySubDir(u) match {
        case Left(e) => return Some(e)
        case Right((_, suffix)) =>
          if (prev > 0 && prev + 1 != suffix)
            return Some("ErrRelayUUIDSuffixNotValid")
          prev = suffix
      }
    }
    None
  }

  /** loadMetaData (meta.go:455-484): missing meta file is fine; the gset
    * is re-derived from the file's gtid string. */
  private def loadMetaData(): Unit = {
    gset = ""
    if (currentSubDir.isEmpty) return
    fs.metas.get(currentSubDir).foreach { case (n, p, g) =>
      binLogName = n; binLogPos = p; binlogGtid = g
      if (g.nonEmpty) gset = g
    }
  }

  /**
   * AdjustWithStartPos (meta.go:151-196). Returns (adjusted, error) —
   * the Go signature, because the reference reports adjusted=true even
   * when the trailing flush errors (`return true, lm.doFlush()`).
   * "Meaningful" current state (suffix past the minimum, position past
   * the 4-byte checkpoint, or any gtid) blocks the adjustment.
   */
  def adjustWithStartPos(binlogName0: String, binlogGtid0: String,
                         enableGtid: Boolean, latestName: String,
                         latestGtid: String): (Boolean, Option[String]) = {
    if (currentSubDir.nonEmpty) {
      BinlogPos.parseRelaySubDir(currentSubDir) match {
        case Left(e) => return (false, Some(e))
        case Right((_, suffix)) =>
          if (suffix != MinUuidSuffix ||
            comparePos(binLogName, binLogPos,
              MinCheckpointName, MinCheckpointPos) > 0 ||
            binlogGtid.nonEmpty)
            return (false, None)
      }
    }
    var (name, g) = (binlogName0, binlogGtid0)
    var newGset = "" // the empty clone — survives the non-GTID branch
    if (enableGtid) {
      if (g.isEmpty) { g = latestGtid; name = latestName }
      newGset = g
    } else {
      if (name.isEmpty) { g = latestGtid; name = latestName }
      else if (BinlogPos.parseFilename(name).isLeft)
        return (false, Some("ErrRelayBinlogNameNotValid"))
    }
    binLogName = name
    binLogPos = MinCheckpointPos // always reset to 4
    binlogGtid = g
    gset = newGset
    (true, doFlush().left.toOption)
  }

  /** Save (meta.go:199-221): memory-only + dirty; a nil gset CLEARS the
    * file gtid but leaves the memory gset untouched. */
  def save(name: String, p: Long, g: Option[String]): Either[String, Unit] = {
    if (currentSubDir.isEmpty) return Left("ErrRelayNoCurrentUUID")
    binLogName = name; binLogPos = p
    g match {
      case None => binlogGtid = ""
      case Some(s) => binlogGtid = s; gset = s
    }
    dirtyFlag = true
    Right(())
  }

  def flush(): Either[String, Unit] = doFlush()

  private def doFlush(): Either[String, Unit] = {
    if (currentSubDir.isEmpty) return Left("ErrRelayNoCurrentUUID")
    fs.metas(currentSubDir) = (binLogName, binLogPos, binlogGtid)
    dirtyFlag = false
    Right(())
  }

  /**
   * AddDir (meta.go:268-335): pick the next subdir name (argument suffix
   * only seeds the FIRST dir; afterwards always current+1 — even for the
   * same server uuid, the RESET MASTER case), flush a dirty previous
   * meta, mkdir (failing if the directory already exists — with the
   * previous flush KEPT, a deliberate partial-effect edge), append to the
   * index, reset the position to the minimum checkpoint unless given,
   * and KEEP the gtid unless given.
   */
  def addDir(serverUuid: String, newPos: Option[(String, Long)],
             newGtid: Option[String], suffixArg: Int): Either[String, String] = {
    val newSubDir =
      if (currentSubDir.isEmpty)
        addSuffixForUuid(serverUuid,
          if (suffixArg == 0) MinUuidSuffix else suffixArg)
      else BinlogPos.parseRelaySubDir(currentSubDir) match {
        case Left(e) => return Left(e)
        case Right((_, suffix)) => addSuffixForUuid(serverUuid, suffix + 1)
      }
    if (dirtyFlag) doFlush() match {
      case Left(e) => return Left(e)
      case Right(_) =>
    }
    if (fs.dirs.contains(newSubDir)) return Left("ErrRelayMkdir")
    fs.dirs += newSubDir
    val uuids = subDirs :+ newSubDir
    fs.indexFile = Some(uuids.map(_ + "\n").mkString)
    currentSubDir = newSubDir
    subDirs = uuids
    newPos match {
      case Some((n, p)) => binLogName = n; binLogPos = p
      case None => binLogName = MinCheckpointName; binLogPos = MinCheckpointPos
    }
    newGtid.foreach { g => gset = g; binlogGtid = g }
    doFlush().map(_ => newSubDir)
  }

  /** TrimUUIDIndexFile (meta.go:363-392): drop index entries whose dir
    * vanished; rewrite only when something was trimmed. */
  def trimUuidIndexFile(): Either[String, Seq[String]] = {
    val (kept, trimmed) = subDirs.partition(fs.dirs.contains)
    if (trimmed.isEmpty) Right(Seq.empty)
    else {
      fs.indexFile = Some(kept.map(_ + "\n").mkString)
      subDirs = kept
      Right(trimmed)
    }
  }
}
