package graft

import scala.util.Random
import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.{BinlogPos, RelayMeta}

/** The relay UUID-directory meta (dm/relay/meta.go): its filenames and
  * suffix format parsed from the reference source, and random event
  * sequences driven through [[RelayMeta]] against a flat-state replay. */
class RelayMetaSpec extends AnyFunSuite {

  test("relay meta filenames/suffix format match the reference, parsed") {
    import RefSource.goStringConst
    val relayUtilSrc = RefSource.source("dm/pkg/utils/relay.go")
    val relayMetaSrc = RefSource.source("dm/relay/meta.go")
    assert(RelayMeta.UuidIndexFilename ==
      goStringConst(relayUtilSrc, "UUIDIndexFilename"))
    assert(RelayMeta.MetaFilename ==
      goStringConst(relayUtilSrc, "MetaFilename"))
    // AddSuffixForUUID's format string (relay.go:70-72): sep + %06d
    val fm = """fmt\.Sprintf\("%s%s%06d", uuid, uuidIndexSeparator, id\)""".r
      .findFirstIn(relayUtilSrc)
    assert(fm.isDefined, "AddSuffixForUUID format changed")
    val sep = goStringConst(relayUtilSrc, "uuidIndexSeparator")
    assert(RelayMeta.addSuffixForUuid("u", 7) == s"u${sep}000007")
    // minUUIDSuffix / minCheckpoint (meta.go:31-33)
    val minSfx = """minUUIDSuffix\s*=\s*(\d+)""".r
      .findFirstMatchIn(relayMetaSrc)
    assert(minSfx.isDefined && minSfx.get.group(1).toInt ==
      RelayMeta.MinUuidSuffix)
    val minCk = """minCheckpoint\s*=\s*mysql\.Position\{Pos:\s*(\d+)\}""".r
      .findFirstMatchIn(relayMetaSrc)
    assert(minCk.isDefined && minCk.get.group(1).toLong ==
      RelayMeta.MinCheckpointPos)
  }

  test("300 random relay-meta traces: kernel == flat-state simulator") {
    // the q286 oracle replays four scripts; this drives RANDOM event
    // sequences through RelayMeta against a from-the-Go flat replay
    // (meta.go AddDir/Save/Flush/Trim/Load) holding its OWN copy of the
    // filesystem image, so edges the scripts don't compose diverge loudly
    val rnd = new Random(86)
    for (trace <- 1 to 300) {
      val fs = new RelayMeta.Fs
      var m = new RelayMeta(fs)
      // fully independent sim state (its own fs image)
      var cur = ""; var name = ""; var pos = 4L; var btid = ""; var gs = ""
      var dirty = false
      var mem = Vector.empty[String]   // the kernel's MEMORY subDirs
      var sFile = Vector.empty[String] // the server-uuid.index FILE lines
      var sDirs = Set.empty[String]
      val sMetas = scala.collection.mutable.Map.empty[String, (String, Long, String)]
      def sFlush(): Unit =
        if (cur.nonEmpty) { sMetas(cur) = (name, pos, btid); dirty = false }
      for (step <- 1 to 30) {
        rnd.nextInt(7) match {
          case 0 => // adddir
            val uuid = Seq("ua", "ub")(rnd.nextInt(2))
            val sfx = if (rnd.nextInt(4) == 0) 1 + rnd.nextInt(3) else 0
            val np = if (rnd.nextBoolean())
              Some((s"f.${"%06d".format(1 + rnd.nextInt(9))}",
                rnd.nextInt(100).toLong)) else None
            val ng = if (rnd.nextInt(3) == 0) Some(s"g:$step") else None
            val newSub =
              if (cur.isEmpty)
                RelayMeta.addSuffixForUuid(uuid, if (sfx == 0) 1 else sfx)
              else RelayMeta.addSuffixForUuid(uuid,
                BinlogPos.parseRelaySubDir(cur).toOption.get._2 + 1)
            val existed = sDirs.contains(newSub)
            m.addDir(uuid, np, ng, sfx)
            if (dirty) sFlush() // the pre-rotation flush happens either way
            if (!existed) {
              sDirs += newSub
              mem = mem :+ newSub
              sFile = mem // updateIndexFile writes memory+new, overwriting
              cur = newSub
              np match {
                case Some((n, p)) => name = n; pos = p
                case None => name = ""; pos = 4L
              }
              ng.foreach { g => gs = g; btid = g }
              sFlush()
            }
          case 1 => // save
            val g = if (rnd.nextBoolean()) Some(s"g:$step") else None
            m.save(s"bin.${"%06d".format(step)}", step.toLong, g)
            if (cur.nonEmpty) {
              name = s"bin.${"%06d".format(step)}"; pos = step.toLong
              g match {
                case None => btid = ""
                case Some(x) => btid = x; gs = x
              }
              dirty = true
            }
          case 2 =>
            m.flush(); sFlush()
          case 3 => // an external rm -rf: the subdir AND its relay.meta go
            if (sDirs.nonEmpty) {
              val d = sDirs.toSeq.sorted.apply(rnd.nextInt(sDirs.size))
              fs.dirs -= d
              fs.metas.remove(d)
              sDirs -= d
              sMetas.remove(d)
            }
          case 4 => // trim
            m.trimUuidIndexFile()
            val kept = mem.filter(sDirs.contains)
            if (kept.size != mem.size) {
              mem = kept
              sFile = kept
            }
          case 5 => // reload (fresh instance over the same image)
            m = new RelayMeta(fs)
            m.load()
            val lines = sFile
            val sfxs = lines.map(l =>
              BinlogPos.parseRelaySubDir(l).toOption.map(_._2))
            val consec = sfxs.forall(_.isDefined) &&
              sfxs.flatten.sliding(2).forall(w =>
                w.size < 2 || w(1) == w(0) + 1)
            name = ""; pos = 4L; btid = ""; gs = ""; dirty = false
            if (consec) {
              cur = lines.lastOption.getOrElse("")
              mem = lines
              sMetas.get(cur).foreach { case (n, p, g) =>
                name = n; pos = p; btid = g; if (g.nonEmpty) gs = g
              }
            } else { cur = ""; mem = Vector.empty }
          case _ => // adjust (non-gtid, valid configured name)
            val nm = s"adj.${"%06d".format(1 + rnd.nextInt(5))}"
            m.adjustWithStartPos(nm, "", enableGtid = false, "", "")
            val meaningless = cur.isEmpty ||
              (BinlogPos.parseRelaySubDir(cur).toOption.exists(_._2 == 1) &&
                !(name > "" || (name == "" && pos > 4L)) && btid.isEmpty)
            if (meaningless) {
              name = nm; pos = 4L; btid = ""; gs = ""
              sFlush()
            }
        }
        val ctx = s"trace $trace step $step"
        val (kc, kn, kp) = m.pos
        assert(kc == cur && kn == name && kp == pos, ctx)
        assert(m.fileGtid == btid && m.gtidView._2 == gs, ctx)
        assert(m.dirty == dirty, ctx)
        assert(fs.indexLines == sFile, ctx)
        assert(fs.dirs.toSet == sDirs, ctx)
        assert(fs.metas.toMap == sMetas.toMap, ctx)
      }
    }
  }
}
