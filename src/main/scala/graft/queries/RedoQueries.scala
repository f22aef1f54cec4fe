package graft.queries

import java.nio.file.{Files, Paths}
import org.apache.spark.sql.functions._
import graft.core.CdcStream
import graft.streaming.RedoLayout

/**
 * Redo on-disk contract gates (SURVEY §2.11 W4 — the durable artifact a DR
 * user's `cdc redo apply` resumes from). The q76/q111 gates prove the replay
 * ALGEBRA; q262 pins the LAYOUT: exact file names across write→rotate→
 * rename, the meta flush/supersede lifecycle, the GC boundary, and the
 * reader's resume selection — reference cdc/redo/writer/file/file.go,
 * cdc/redo/meta_manager.go, cdc/redo/reader/, formats pkg/redo/config.go.
 */
object RedoQueries {

  /** Gate-sized writer knobs: a 512-byte max log forces rotation every
    * ~15-20 records; checkpoint trails the max seen commit ts by 600 (so several files straddle the GC boundary); meta
    * updates land every 25 writes per feed. */
  private val MaxLog = 512L
  private val Lag = 600L
  private val Every = 25

  private val oracleSql: String =
    CdcStream.sqlCte.replaceFirst("WITH ", "WITH RECURSIVE ") +
      s""", ev0 AS (
         |  SELECT seq, op, commit_ts, pk FROM cdc WHERE pk % 23 = 0
         |), b AS (SELECT min(commit_ts) - 1 AS st FROM ev0),
         |ev AS (
         |  SELECT seq, op, commit_ts, pk,
         |    CASE WHEN pk % 2 = 0 THEN 'feed-a' ELSE 'feed-b' END AS cf,
         |    CASE WHEN pk % 2 = 0 THEN 'default' ELSE 'ns1' END AS ns,
         |    CAST(row_number() OVER (PARTITION BY pk % 2 ORDER BY seq) AS BIGINT) AS rn,
         |    length(printf('r|%d|%d|%s|%d', commit_ts, pk, op, seq)) AS len
         |  FROM ev0
         |), evp AS (SELECT *, len + (8 - len % 8) % 8 AS chg FROM ev),
         |asg AS (
         |  -- the writer's file assignment: rotate when the UNPADDED record
         |  -- would overflow; the file charge accumulates payload+pad
         |  SELECT cf, rn, CAST(1 AS BIGINT) AS file_ord, CAST(chg AS BIGINT) AS sz
         |  FROM evp WHERE rn = 1
         |  UNION ALL
         |  SELECT e.cf, e.rn,
         |    CASE WHEN a.sz + e.len > $MaxLog THEN a.file_ord + 1 ELSE a.file_ord END,
         |    CASE WHEN a.sz + e.len > $MaxLog THEN CAST(e.chg AS BIGINT)
         |         ELSE a.sz + e.chg END
         |  FROM asg a JOIN evp e ON e.cf = a.cf AND e.rn = a.rn + 1
         |),
         |files AS (
         |  SELECT a.cf, any_value(e.ns) AS ns, a.file_ord,
         |    CAST(count(*) AS BIGINT) AS n,
         |    min(e.commit_ts) AS min_ts, max(e.commit_ts) AS max_ts,
         |    CAST(sum(e.chg) AS BIGINT) AS sz
         |  FROM asg a JOIN evp e ON e.cf = a.cf AND e.rn = a.rn
         |  GROUP BY a.cf, a.file_ord
         |),
         |named AS (
         |  -- close draws a SECOND uid after the open's tmp uid, so the
         |  -- final name of file j carries uid ordinal 2j
         |  SELECT *,
         |    CASE WHEN ns = 'default'
         |      THEN printf('cap-1_%s_row_%d_u%04d.log', cf, max_ts, 2 * file_ord)
         |      ELSE printf('cap-1_%s_%s_row_%d_u%04d.log', ns, cf, max_ts, 2 * file_ord)
         |    END AS name
         |  FROM files
         |),
         |pts AS (
         |  SELECT cf, rn, max(commit_ts) OVER (PARTITION BY cf ORDER BY rn) AS mx,
         |    max(rn) OVER (PARTITION BY cf) AS n_ev
         |  FROM evp
         |),
         |upd AS (
         |  SELECT cf, rn * 10 AS ord, mx - $Lag AS prop_c, mx AS prop_r
         |  FROM pts WHERE rn % $Every = 0
         |  UNION ALL
         |  SELECT cf, ${2 * Every} * 10 + 1, st, st FROM pts, b WHERE rn = ${2 * Every}
         |  UNION ALL
         |  SELECT cf, 100000000, mx - $Lag, mx FROM pts, b WHERE rn = n_ev
         |),
         |acc AS (
         |  SELECT u.cf, u.ord, u.prop_c, u.prop_r,
         |    greatest(b.st, coalesce(max(u.prop_c) OVER w1, b.st)) AS prev_c,
         |    greatest(b.st, coalesce(max(u.prop_r) OVER w1, b.st)) AS prev_r
         |  FROM upd u, b
         |  WINDOW w1 AS (PARTITION BY u.cf ORDER BY u.ord
         |    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
         |),
         |ign AS (
         |  SELECT cf,
         |    CAST(count(*) FILTER (WHERE prop_c < prev_c) +
         |         count(*) FILTER (WHERE prop_r < prev_r) AS BIGINT) AS ignored
         |  FROM acc GROUP BY 1
         |),
         |fin AS (
         |  SELECT u.cf, greatest(b.st, max(u.prop_c)) AS fin_c,
         |    greatest(b.st, max(u.prop_r)) AS fin_r
         |  FROM upd u, b GROUP BY u.cf, b.st
         |),
         |ptmax AS (
         |  SELECT cf, ord - (ord % 10) AS pt, max(prop_c) AS pc, max(prop_r) AS pr
         |  FROM upd GROUP BY 1, 2
         |),
         |ptrun AS (
         |  SELECT p.cf, p.pt,
         |    greatest(b.st, max(p.pc) OVER w2) AS rc,
         |    greatest(b.st, max(p.pr) OVER w2) AS rr, b.st
         |  FROM ptmax p, b
         |  WINDOW w2 AS (PARTITION BY p.cf ORDER BY p.pt)
         |),
         |flush_steps AS (
         |  SELECT cf, st, rc, rr,
         |    lag(rc) OVER (PARTITION BY cf ORDER BY pt) AS prc,
         |    lag(rr) OVER (PARTITION BY cf ORDER BY pt) AS prr
         |  FROM ptrun
         |),
         |flushes AS (
         |  -- init writes flush #1; each point that moved either field adds one
         |  SELECT cf, CAST(1 + count(*) FILTER (WHERE
         |      rc > coalesce(prc, st) OR rr > coalesce(prr, st)) AS BIGINT) AS n_flush
         |  FROM flush_steps GROUP BY cf
         |),
         |removed AS (
         |  SELECT n.cf, n.name, n.max_ts FROM named n JOIN fin f ON f.cf = n.cf
         |  WHERE n.max_ts < f.fin_c
         |),
         |gc AS (
         |  SELECT f.cf,
         |    coalesce((SELECT r.name FROM removed r WHERE r.cf = f.cf
         |              ORDER BY r.max_ts DESC, r.name DESC LIMIT 1), 'none') AS name,
         |    coalesce((SELECT max(r.max_ts) FROM removed r WHERE r.cf = f.cf), 0) AS ts1,
         |    (SELECT CAST(count(*) AS BIGINT) FROM removed r WHERE r.cf = f.cf) AS n
         |  FROM fin f
         |),
         |win AS (
         |  SELECT f.cf, CAST(count(e.seq) AS BIGINT) AS n_win,
         |    CAST(coalesce(sum(e.pk), 0) AS BIGINT) AS sum_pk
         |  FROM fin f LEFT JOIN evp e
         |    ON e.cf = f.cf AND e.commit_ts > f.fin_c AND e.commit_ts <= f.fin_r
         |  GROUP BY f.cf
         |),
         |nsel AS (
         |  SELECT f.cf, CAST(count(n.name) AS BIGINT) AS n_sel
         |  FROM fin f LEFT JOIN named n ON n.cf = f.cf AND n.max_ts > f.fin_c
         |  GROUP BY f.cf
         |)
         |SELECT n.cf, 'file' AS kind, n.name, n.max_ts AS ts1, n.min_ts AS ts2,
         |  n.n, n.sz AS n2
         |FROM named n JOIN fin f ON f.cf = n.cf WHERE n.max_ts >= f.fin_c
         |UNION ALL
         |SELECT f.cf, 'meta',
         |  printf('cap-1_%s_%s_meta_m%04d.meta',
         |    CASE WHEN f.cf = 'feed-a' THEN 'default' ELSE 'ns1' END, f.cf, fl.n_flush),
         |  f.fin_c, f.fin_r, fl.n_flush, i.ignored
         |FROM fin f JOIN flushes fl ON fl.cf = f.cf JOIN ign i ON i.cf = f.cf
         |UNION ALL
         |SELECT g.cf, 'gc', g.name, g.ts1, 0, g.n, 0 FROM gc g
         |UNION ALL
         |SELECT f.cf, 'resume', 'selected:' || s.n_sel, f.fin_c, f.fin_r,
         |  w.n_win, w.sum_pk
         |FROM fin f JOIN nsel s ON s.cf = f.cf JOIN win w ON w.cf = f.cf"""
        .stripMargin

  /**
   * q262 — the redo dir across a scripted write→rotate→meta-flush→GC→resume
   * run, two changefeeds sharing the script: `feed-a` in the default
   * namespace (V1 log names) and `feed-b` in `ns1` (V2 names), both with
   * always-namespaced meta names. Pinned per feed: every surviving log
   * file's EXACT name (rotation boundaries, max-commit-ts rename, uid
   * draw order), record count, min content ts and the writer's byte
   * accounting; the surviving meta's exact name (uid ordinal = flush
   * count), flushed (checkpointTs, resolvedTs), flush count and the
   * regressed-update-ignored count; GC's removal count, last removal and
   * its ts (the `< checkpoint` boundary); and the reader's resume — file
   * selection count (`> checkpoint`, distinct from GC's `>=` survival) and
   * the decoded row count/pk sum inside (checkpointTs, resolvedTs]. The
   * oracle replays the writer's size arithmetic as a recursive CTE and the
   * meta/GC rules as window algebra over the same sampled stream.
   */
  val redoLayout = GateQuery("q262_redo_layout", Some(oracleSql),
    heavy = true) { (spark, dir) =>
    import spark.implicits._
    import RedoLayout._
    val sample = CdcStream.derive(spark, dir)
      .filter(col("pk") % 23 === 0)
      .select("seq", "op", "commit_ts", "pk")
      .orderBy("seq")
      .collect()
      .map(r => (r.getLong(0), r.getString(1), r.getLong(2), r.getLong(3)))
    val startTs = sample.map(_._3).min - 1
    val (base, _) = Gate.freshScratch("graft_redo_layout_", dir)
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, Long, Long, Long, Long)]

    for ((ns, cf, par) <- Seq(("default", "feed-a", 0L), ("ns1", "feed-b", 1L))) {
      val fdir = s"$base/$ns.$cf"
      var wu = 0; var mu = 0
      val w = new LogWriter(fdir, "cap-1", ns, cf, RowFileType, MaxLog,
        () => { wu += 1; f"u$wu%04d" })
      val m = new MetaManager(fdir, "cap-1", ns, cf,
        () => { mu += 1; f"m$mu%04d" })
      m.initMeta(startTs)
      var i = 0; var maxTs = 0L
      for ((seq, op, ct, pk) <- sample if pk % 2 == par) {
        i += 1
        if (ct > maxTs) maxTs = ct
        w.writeAt(ct, s"r|$ct|$pk|$op|$seq".getBytes("UTF-8"))
        if (i % Every == 0) {
          m.update(maxTs - Lag, maxTs)
          if (i == 2 * Every) m.update(startTs, startTs) // scripted regression
          m.maybeFlush(); m.gc(); ()
        }
      }
      w.close()
      m.update(maxTs - Lag, maxTs); m.maybeFlush(); m.gc()

      import scala.jdk.CollectionConverters._
      def names(suffix: String): Seq[String] = {
        val s = Files.list(Paths.get(fdir))
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(_.endsWith(suffix)).toSeq.sorted
        finally s.close()
      }
      for (name <- names(LogExt)) {
        val bytes = Files.readAllBytes(Paths.get(fdir, name))
        val frames = readFrames(bytes)
        val cts = frames.map(b => new String(b, "UTF-8").split("\\|")(1).toLong)
        out += ((cf, "file", name, parseLogFileName(name).get.commitTs,
          cts.min, frames.size.toLong, bytes.length - 8L * frames.size))
      }
      val (mc, mr) = m.flushedMeta
      out += ((cf, "meta", names(MetaExt).head, mc, mr,
        m.flushCount.toLong, m.ignoredUpdates.toLong))
      val rem = m.removedLogs.toSeq
      out += ((cf, "gc",
        if (rem.isEmpty) "none"
        else rem.maxBy(n => (parseLogFileName(n).get.commitTs, n)),
        rem.map(n => parseLogFileName(n).get.commitTs)
          .foldLeft(0L)(math.max), 0L, rem.size.toLong, 0L))
      val (rc, rr) = Reader.readMeta(fdir)
      val selected = Reader.selectFiles(fdir, RowFileType, rc)
      val winRows = selected
        .flatMap(n => readFrames(Files.readAllBytes(Paths.get(fdir, n))))
        .map { b => val p = new String(b, "UTF-8").split("\\|"); (p(1).toLong, p(2).toLong) }
        .filter(t => t._1 > rc && t._1 <= rr)
      out += ((cf, "resume", s"selected:${selected.size}", rc, rr,
        winRows.size.toLong, winRows.map(_._2).sum))
    }
    out.toSeq.toDF("cf", "kind", "name", "ts1", "ts2", "n", "n2")
  }

  /**
   * q267 — dmctl `purge-relay -filename` over the UUID-sequenced relay
   * tree ([[graft.streaming.Relay.purgeRelayByFilename]]; reference
   * dm/relay/purge_strategy.go:131-169, purger_helper.go:36-162,
   * file.go:46-100). The tree derives from the stream: commit-ts ninths
   * map to 3 uuid subdirs × 3 binlog files (every file created, empties
   * included, so the layout is data-independent while the CONTENTS pin
   * the data). Purge to (subdir 2, mysql-bin.000002): subdir 1 removes
   * entirely (its emptied dir too), subdir 2 keeps the safe file and
   * newer, subdir 3 untouched; the removal ORDER and each survivor's
   * row count + pk sum are pinned; unknown-uuid and missing-base-file
   * refuse.
   */
  val relayPurge = GateQuery(
    "q267_relay_purge",
    Some(CdcStream.sqlCte +
      """, ev AS (SELECT commit_ts AS ct, pk FROM cdc WHERE pk % 37 = 0),
        |b AS (SELECT min(ct) AS lo, max(ct) AS hi FROM ev),
        |bks(bk) AS (VALUES (0),(1),(2),(3),(4),(5),(6),(7),(8)),
        |asg AS (
        |  SELECT least(8, ((ct - lo) * 9) // (hi - lo + 1)) AS bk, pk
        |  FROM ev, b
        |),
        |files AS (
        |  SELECT bks.bk // 3 + 1 AS sd, bks.bk % 3 + 1 AS fi,
        |    CAST(count(a.pk) AS BIGINT) AS n,
        |    CAST(coalesce(sum(a.pk), 0) AS BIGINT) AS sp
        |  FROM bks LEFT JOIN asg a ON a.bk = bks.bk GROUP BY 1, 2
        |),
        |named AS (
        |  SELECT *, CASE sd WHEN 1 THEN 'aaaa.000001' WHEN 2 THEN 'bbbb.000002'
        |    ELSE 'cccc.000003' END || '/' || printf('mysql-bin.%06d', fi) AS k
        |  FROM files
        |)
        |SELECT 'file' AS kind, k, n, sp AS v FROM named
        |WHERE (sd = 2 AND fi >= 2) OR sd = 3
        |UNION ALL
        |SELECT 'removed', x.k, x.n, 0 FROM (VALUES
        |  ('aaaa.000001/mysql-bin.000001', CAST(1 AS BIGINT)),
        |  ('aaaa.000001/mysql-bin.000002', 2),
        |  ('aaaa.000001/mysql-bin.000003', 3),
        |  ('aaaa.000001/', 4),
        |  ('bbbb.000002/mysql-bin.000001', 5)) AS x(k, n)
        |UNION ALL
        |SELECT 'err', 'uuid_not_found', 1, 0
        |UNION ALL
        |SELECT 'err', 'base_not_found', 1, 0""".stripMargin),
    heavy = true) { (spark, dir) =>
    import spark.implicits._
    import java.nio.file.{Files => JFiles}
    import scala.jdk.CollectionConverters._
    import graft.streaming.Relay
    val evs = CdcStream.derive(spark, dir)
      .filter(col("pk") % 37 === 0)
      .select("commit_ts", "pk").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val (lo, hi) = (evs.map(_._1).min, evs.map(_._1).max)
    def bucket(ct: Long): Int =
      math.min(8, ((ct - lo) * 9 / (hi - lo + 1)).toInt)
    val uuids = Seq("aaaa.000001", "bbbb.000002", "cccc.000003")
    val (base, _) = Gate.freshScratch("graft_relay_purge_", dir)
    val byBucket = evs.groupBy(e => bucket(e._1))
    for (bk <- 0 until 9) {
      val sub = uuids(bk / 3)
      JFiles.createDirectories(Paths.get(base, sub))
      val lines = byBucket.getOrElse(bk, Array.empty)
        .sortBy(_._1).map { case (ct, pk) => s"$ct,$pk" }
      JFiles.write(Paths.get(base, sub, f"mysql-bin.${bk % 3 + 1}%06d"),
        lines.mkString("\n").getBytes("UTF-8"))
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, Long, Long)]
    out += (("err", "uuid_not_found",
      if (Relay.purgeRelayByFilename(base, uuids, "zzzz.000009",
        "mysql-bin.000001").isLeft) 1L else 0L, 0L))
    out += (("err", "base_not_found",
      if (Relay.purgeRelayByFilename(base, uuids, "bbbb.000002",
        "mysql-bin.000099").isLeft) 1L else 0L, 0L))
    val removed = Relay.purgeRelayByFilename(base, uuids, "bbbb.000002",
      "mysql-bin.000002").toOption.get
    removed.zipWithIndex.foreach { case (p, i) =>
      out += (("removed", p, i + 1L, 0L))
    }
    for (sub <- uuids if JFiles.exists(Paths.get(base, sub));
         n <- {
           val s = JFiles.list(Paths.get(base, sub))
           try s.iterator().asScala.map(_.getFileName.toString).toSeq.sorted
           finally s.close()
         }) {
      val content = new String(
        JFiles.readAllBytes(Paths.get(base, sub, n)), "UTF-8")
      val rows = content.split("\n").filter(_.nonEmpty)
        .map(l => l.split(",")(1).toLong)
      out += (("file", s"$sub/$n", rows.length.toLong, rows.sum))
    }
    out.toSeq.toDF("kind", "k", "n", "v")
  }

  // ---------------------------------------------------------------------
  // q286 — relay uuid-dir meta lifecycle
  // ---------------------------------------------------------------------

  /** One relay-meta scripted step (ev ∈ adddir/save/flush/adjust/mkdir/
    * rmdir/trim/reload); a1..a5 carry string args, n1/n2 numerics. For
    * `save`, n2=1 adds count(orders) to the position so the oracle stays
    * data-anchored. */
  final case class REv(step: Int, ev: String, a1: String = "",
      a2: String = "", a3: String = "", a4: String = "", a5: String = "",
      n1: Long = 0, n2: Long = 0)

  private val UA = "53ea0ed1-9bf8-11e6-8bea-64006a897c73"
  private val UB = "c6ae5afe-c7a3-11e8-a19d-0242ac130006"

  /** (scenario, steps). */
  val rScripts: Seq[(String, Seq[REv])] = Seq(
    // the full rotation story: save-before-any-dir refuses; an adjust
    // with no current dir mutates and reports adjusted=true WITH the
    // flush error; first AddDir carries that state into .000001's meta;
    // RESET MASTER (same uuid) rotates to .000002 flushing the dirty
    // previous meta; Save(gset=nil) clears the FILE gtid but not the
    // memory gset; a master switch to a new uuid with explicit pos+gtid;
    // reload resumes from the last index line; a stale leftover dir
    // fails mkdir AFTER the dirty pre-flush landed; trimming a deleted
    // middle dir poisons the NEXT reload's consecutive-suffix check
    ("rotate", Seq(
      REv(1, "reload"),
      REv(2, "save", a1 = "mysql-bin.000003", n1 = 77),
      REv(3, "adjust", a3 = "0", a4 = "mysql-bin.000077", a5 = "ga:1-5"),
      REv(4, "adddir", a1 = UA),
      REv(5, "adjust", a3 = "0", a4 = "mysql-bin.000088", a5 = "ga:1-8"),
      REv(6, "save", a1 = "mysql-bin.000003", a2 = "ga:1-10", n1 = 7, n2 = 1),
      REv(7, "adddir", a1 = UA),
      REv(8, "save", a1 = "mysql-bin.000001", n1 = 2000),
      REv(9, "flush"),
      REv(10, "adddir", a1 = UB, a2 = "mysql-bin.000005", n1 = 4,
        a3 = "gb:1-3"),
      REv(11, "reload"),
      REv(12, "mkdir", a1 = s"$UB.000004"),
      REv(13, "save", a1 = "mysql-bin.000009", a2 = "gb:1-9", n1 = 900),
      REv(14, "adddir", a1 = UB),
      REv(15, "rmdir", a1 = s"$UA.000002"),
      REv(16, "trim"),
      REv(17, "reload"),
      REv(18, "trim"))),
    // AdjustWithStartPos around a minimum-suffix dir: invalid configured
    // binlog name refuses; a valid one seeds name + pos=4 and flushes;
    // once meaningful (name past the min checkpoint) later adjusts no-op,
    // including across a reload
    ("adjust", Seq(
      REv(1, "adddir", a1 = UA),
      REv(2, "adjust", a1 = "bad-name", a3 = "0", a4 = "late.000001",
        a5 = "lg:1-2"),
      REv(3, "adjust", a1 = "mysql-bin.000042", a3 = "0",
        a4 = "late.000001", a5 = "lg:1-2"),
      REv(4, "adjust", a2 = "gx:1-4", a3 = "1", a4 = "late.000009",
        a5 = "lg:9"),
      REv(5, "reload"),
      REv(6, "adjust", a3 = "1", a4 = "late.000009", a5 = "lg:9"))),
    // GTID-mode seeding falls back to the LATEST upstream pos+gtid when
    // none configured; a present gtid then blocks re-adjust, as does a
    // suffix past the minimum after a rotation
    ("gtidadj", Seq(
      REv(1, "adddir", a1 = UA),
      REv(2, "adjust", a3 = "1", a4 = "latest-bin.000010", a5 = "lg:1-9"),
      REv(3, "adjust", a3 = "1", a4 = "latest-bin.000011", a5 = "lg:1-11"),
      REv(4, "adddir", a1 = UA),
      REv(5, "adjust", a3 = "0", a4 = "x.000001"))),
    // explicit first-dir suffix (bound-to-source case): AddDir(suffix=5)
    // names .000005 directly and later rotation continues from there
    ("seedsfx", Seq(
      REv(1, "adddir", a1 = UA, n1 = 5),
      REv(2, "adjust", a3 = "0", a4 = "y.000002", a5 = "gy:1"),
      REv(3, "adddir", a1 = UB),
      REv(4, "reload"))))


  private def rScriptValues: String =
    rScripts.flatMap { case (sc, steps) =>
      steps.map { e =>
        s"(${Gate.sqlStr(sc)}, ${e.step}, ${Gate.sqlStr(e.ev)}, ${Gate.sqlStr(e.a1)}, " +
          s"${Gate.sqlStr(e.a2)}, ${Gate.sqlStr(e.a3)}, ${Gate.sqlStr(e.a4)}, " +
          s"${Gate.sqlStr(e.a5)}, ${e.n1}, ${e.n2})"
      }
    }.mkString(",\n")

  /**
   * q286 — relay uuid-dir META LIFECYCLE ([[graft.streaming.RelayMeta]],
   * dm/relay/meta.go + dm/pkg/utils/relay.go): four scripted scenarios ×
   * every observable per step — current subdir, binlog name/pos, the
   * FILE gtid and the MEMORY gset (they diverge by design on
   * Save(gset=nil) and non-GTID adjust), the dirty flag, the
   * `server-uuid.index` contents, the error identifier, and the call's
   * return. The oracle re-steps the machine as a recursive CTE over LIST
   * columns: suffix allocation, dirty pre-flush ordering (kept even when
   * the subsequent mkdir fails), trim's index rewrite, and the
   * consecutive-suffix verification that poisons a post-trim reload.
   */
  val relayMeta = GateQuery(
    "q286_relay_meta",
    Some(s"""WITH RECURSIVE b AS (
      |  SELECT CAST(count(*) AS BIGINT) AS base FROM orders
      |), vals(sc, step, ev, a1, a2, a3, a4, a5, n1, n2) AS (VALUES
      |$rScriptValues
      |), st AS (
      |  SELECT DISTINCT sc, 0 AS step, '' AS cur, '' AS name,
      |    CAST(4 AS BIGINT) AS pos, '' AS btid, '' AS gset, 0 AS dirty,
      |    CAST([] AS VARCHAR[]) AS mem, CAST([] AS VARCHAR[]) AS idxf,
      |    CAST([] AS VARCHAR[]) AS dirs, CAST([] AS VARCHAR[]) AS metas,
      |    '' AS err, '' AS ret
      |  FROM vals
      |  UNION ALL
      |  SELECT sc, estep,
      |    CASE WHEN add_ok THEN newsub
      |         WHEN rl AND NOT rl_bad THEN rl_cur
      |         WHEN rl THEN '' ELSE cur END,
      |    CASE WHEN add_ok AND a2 <> '' THEN a2
      |         WHEN add_ok THEN ''
      |         WHEN save_ok THEN a1
      |         WHEN adj_do THEN adj_name
      |         WHEN rl AND NOT rl_bad AND has_meta THEN meta_name
      |         WHEN rl THEN '' ELSE name END,
      |    CASE WHEN add_ok AND a2 <> '' THEN n1
      |         WHEN add_ok THEN 4
      |         WHEN save_ok THEN effpos
      |         WHEN adj_do THEN 4
      |         WHEN rl AND NOT rl_bad AND has_meta THEN meta_pos
      |         WHEN rl THEN 4 ELSE pos END,
      |    CASE WHEN add_ok AND a3 <> '' THEN a3
      |         WHEN add_ok THEN btid
      |         WHEN save_ok THEN a2
      |         WHEN adj_do THEN adj_g
      |         WHEN rl AND NOT rl_bad AND has_meta THEN meta_btid
      |         WHEN rl THEN '' ELSE btid END,
      |    CASE WHEN add_ok AND a3 <> '' THEN a3
      |         WHEN add_ok THEN gset
      |         WHEN save_ok AND a2 <> '' THEN a2
      |         WHEN save_ok THEN gset
      |         WHEN adj_do THEN adj_gset
      |         WHEN rl AND NOT rl_bad AND has_meta THEN meta_btid
      |         WHEN rl THEN '' ELSE gset END,
      |    CASE WHEN save_ok THEN 1
      |         WHEN add_ok OR (is_add AND dirty = 1) THEN 0
      |         WHEN flush_ok THEN 0
      |         WHEN adj_do AND cur <> '' THEN 0
      |         WHEN rl THEN 0 ELSE dirty END,
      |    CASE WHEN add_ok THEN list_append(mem, newsub)
      |         WHEN rl AND NOT rl_bad THEN idxf
      |         WHEN rl THEN CAST([] AS VARCHAR[])
      |         WHEN tr_act THEN tr_kept ELSE mem END,
      |    CASE WHEN add_ok THEN list_append(mem, newsub)
      |         WHEN tr_act THEN tr_kept ELSE idxf END,
      |    CASE WHEN add_ok THEN list_append(dirs, newsub)
      |         WHEN ev = 'mkdir' THEN list_append(dirs, a1)
      |         WHEN ev = 'rmdir' THEN list_filter(dirs, x -> x <> a1)
      |         ELSE dirs END,
      |    CASE WHEN add_ok THEN
      |           list_append(
      |             list_filter(metas1, x -> NOT starts_with(x, newsub || '|')),
      |             newsub || '|' ||
      |               (CASE WHEN a2 <> '' THEN a2 ELSE '' END) || '|' ||
      |               CAST(CASE WHEN a2 <> '' THEN n1 ELSE 4 END AS VARCHAR)
      |               || '|' ||
      |               (CASE WHEN a3 <> '' THEN a3 ELSE btid END))
      |         WHEN flush_ok THEN
      |           list_append(
      |             list_filter(metas, x -> NOT starts_with(x, cur || '|')),
      |             cur || '|' || name || '|' || CAST(pos AS VARCHAR)
      |               || '|' || btid)
      |         WHEN adj_do AND cur <> '' THEN
      |           list_append(
      |             list_filter(metas, x -> NOT starts_with(x, cur || '|')),
      |             cur || '|' || adj_name || '|4|' || adj_g)
      |         ELSE metas1 END,
      |    CASE WHEN save_err OR flush_err THEN 'ErrRelayNoCurrentUUID'
      |         WHEN add_fail THEN 'ErrRelayMkdir'
      |         WHEN adj_badname THEN 'ErrRelayBinlogNameNotValid'
      |         WHEN adj_do AND cur = '' THEN 'ErrRelayNoCurrentUUID'
      |         WHEN rl_parse THEN 'ErrRelayParseUUIDSuffix'
      |         WHEN rl_bad THEN 'ErrRelayUUIDSuffixNotValid'
      |         ELSE '' END,
      |    CASE WHEN add_ok THEN newsub
      |         WHEN adj_do THEN '1'
      |         WHEN ev = 'adjust' THEN '0'
      |         WHEN tr_act THEN array_to_string(tr_trimmed, ';')
      |         ELSE '' END
      |  FROM (
      |    SELECT *,
      |      (is_add AND NOT list_contains(dirs, newsub)) AS add_ok,
      |      (is_add AND list_contains(dirs, newsub)) AS add_fail,
      |      (rl_parse OR rl_bad0) AS rl_bad,
      |      (ev = 'adjust' AND NOT adj_blocked AND NOT adj_badname)
      |        AS adj_do,
      |      CASE WHEN is_add AND dirty = 1 THEN
      |        list_append(
      |          list_filter(metas, x -> NOT starts_with(x, cur || '|')),
      |          cur || '|' || name || '|' || CAST(pos AS VARCHAR)
      |            || '|' || btid)
      |      ELSE metas END AS metas1,
      |      coalesce(nullif(string_split(meta_row, '|')[2], ''), '')
      |        AS meta_name,
      |      coalesce(CAST(string_split(meta_row, '|')[3] AS BIGINT), 4)
      |        AS meta_pos,
      |      coalesce(string_split(meta_row, '|')[4], '') AS meta_btid,
      |      meta_row IS NOT NULL AS has_meta
      |    FROM (
      |      SELECT s.sc, e.step AS estep, e.ev, e.a1, e.a2, e.a3, e.a4,
      |        e.a5, e.n1,
      |        e.n1 + CASE WHEN e.n2 = 1 THEN b.base ELSE 0 END AS effpos,
      |        s.cur, s.name, s.pos, s.btid, s.gset, s.dirty, s.mem,
      |        s.idxf, s.dirs, s.metas,
      |        (e.ev = 'adddir') AS is_add,
      |        CASE WHEN e.ev <> 'adddir' THEN ''
      |             -- with an explicit newPos (a2 set), n1 is the POSITION
      |             -- and the suffix argument is 0 (→ the minimum)
      |             WHEN s.cur = '' THEN e.a1 || '.' ||
      |               lpad(CAST(CASE WHEN e.n1 = 0 OR e.a2 <> '' THEN 1
      |                         ELSE e.n1 END AS VARCHAR), 6, '0')
      |             ELSE e.a1 || '.' ||
      |               lpad(CAST(coalesce(TRY_CAST(right(s.cur, 6) AS INT), 0) + 1
      |                    AS VARCHAR), 6, '0') END AS newsub,
      |        (e.ev = 'save' AND s.cur = '') AS save_err,
      |        (e.ev = 'save' AND s.cur <> '') AS save_ok,
      |        (e.ev = 'flush' AND s.cur = '') AS flush_err,
      |        (e.ev = 'flush' AND s.cur <> '') AS flush_ok,
      |        (e.ev = 'adjust' AND s.cur <> '' AND
      |          (coalesce(TRY_CAST(right(s.cur, 6) AS INT), 0) != 1
      |           OR s.name > '' OR (s.name = '' AND s.pos > 4)
      |           OR s.btid <> '')) AS adj_blocked,
      |        CASE WHEN e.a3 = '1' AND e.a2 = '' THEN e.a4
      |             WHEN e.a3 = '1' THEN e.a1
      |             WHEN e.a1 = '' THEN e.a4 ELSE e.a1 END AS adj_name,
      |        CASE WHEN e.a3 = '1' AND e.a2 = '' THEN e.a5
      |             WHEN e.a3 = '1' THEN e.a2
      |             WHEN e.a1 = '' THEN e.a5 ELSE e.a2 END AS adj_g,
      |        CASE WHEN e.a3 = '1' THEN
      |          (CASE WHEN e.a2 = '' THEN e.a5 ELSE e.a2 END)
      |        ELSE '' END AS adj_gset,
      |        (e.ev = 'adjust' AND NOT (s.cur <> '' AND
      |            (coalesce(TRY_CAST(right(s.cur, 6) AS INT), 0) != 1
      |             OR s.name > '' OR (s.name = '' AND s.pos > 4)
      |             OR s.btid <> ''))
      |          AND e.a3 = '0' AND e.a1 <> ''
      |          AND NOT (len(string_split(e.a1, '.')) = 2
      |                   AND coalesce(TRY_CAST(string_split(e.a1, '.')[2]
      |                        AS BIGINT), 0) > 0)) AS adj_badname,
      |        (e.ev = 'reload') AS rl,
      |        (e.ev = 'reload' AND len(list_filter(s.idxf,
      |           x -> NOT regexp_matches(x, '^[^.]+\\.[0-9]{6}$$'))) > 0)
      |          AS rl_parse,
      |        (e.ev = 'reload' AND NOT (len(s.idxf) <= 1 OR
      |          len(list_filter(range(2, len(s.idxf) + 1),
      |            i -> coalesce(TRY_CAST(right(s.idxf[i], 6) AS INT) !=
      |                 TRY_CAST(right(s.idxf[i-1], 6) AS INT) + 1, TRUE)))
      |            = 0))
      |          AS rl_bad0,
      |        coalesce(s.idxf[-1], '') AS rl_cur,
      |        list_filter(s.metas,
      |          x -> starts_with(x, coalesce(s.idxf[-1], '') || '|'))[1]
      |          AS meta_row,
      |        (e.ev = 'trim') AS tr,
      |        list_filter(s.mem, x -> list_contains(s.dirs, x)) AS tr_kept,
      |        list_filter(s.mem, x -> NOT list_contains(s.dirs, x))
      |          AS tr_trimmed,
      |        (e.ev = 'trim' AND
      |          len(list_filter(s.mem, x -> NOT list_contains(s.dirs, x)))
      |            > 0) AS tr_act
      |      FROM st s
      |      JOIN vals e ON e.sc = s.sc AND e.step = s.step + 1, b
      |    ) l1
      |  ) l2
      |)
      |SELECT sc, step, cur, name, pos, btid, gset, dirty,
      |  coalesce(array_to_string(idxf, ';'), '') AS idx, err, ret
      |FROM st WHERE step > 0""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.RelayMeta
    val base = graft.core.Tables.load(spark, dir, "orders").count()
    val rows = rScripts.flatMap { case (sc, steps) =>
      val fs = new RelayMeta.Fs
      var m = new RelayMeta(fs)
      steps.map { e =>
        var err = ""; var ret = ""
        e.ev match {
          case "reload" =>
            m = new RelayMeta(fs)
            m.load().left.foreach(err = _)
          case "save" =>
            val p = e.n1 + (if (e.n2 == 1) base else 0L)
            m.save(e.a1, p, if (e.a2.isEmpty) None else Some(e.a2))
              .left.foreach(err = _)
          case "flush" => m.flush().left.foreach(err = _)
          case "adddir" =>
            val np = if (e.a2.isEmpty) None else Some((e.a2, e.n1))
            val ng = if (e.a3.isEmpty) None else Some(e.a3)
            m.addDir(e.a1, np, ng, if (e.a2.isEmpty) e.n1.toInt else 0) match {
              case Left(x) => err = x
              case Right(s) => ret = s
            }
          case "adjust" =>
            val (adj, er) = m.adjustWithStartPos(e.a1, e.a2, e.a3 == "1",
              e.a4, e.a5)
            ret = if (adj) "1" else "0"
            er.foreach(err = _)
          case "mkdir" => fs.dirs += e.a1
          case "rmdir" => fs.dirs -= e.a1
          case "trim" =>
            m.trimUuidIndexFile() match {
              case Left(x) => err = x
              case Right(t) => ret = t.mkString(";")
            }
        }
        val (cur, name, pos) = m.pos
        (sc, e.step, cur, name, pos, m.fileGtid, m.gtidView._2,
          if (m.dirty) 1 else 0,
          fs.indexLines.mkString(";"), err, ret)
      }
    }
    rows.toDF("sc", "step", "cur", "name", "pos", "btid", "gset", "dirty",
      "idx", "err", "ret")
  }

  // ---------------------------------------------------------------------
  // q289 — relay enable/operate orchestration
  // ---------------------------------------------------------------------

  /** One relay-control step: ev ∈ enable/disable/closew/exit/op/stage/
    * purge; i1 carries the op / expect / exit-error-count, i2 the
    * deleted-stage flag, a2 a purge check's "name:stage,..." subtask
    * encoding. */
  final case class CEv(step: Int, ev: String, i1: Long = 0, i2: Long = 0,
                       a2: String = "")

  val cScripts: Seq[(String, Seq[CEv])] = Seq(
    // the holder stage machine under the worker's expectant-stage ops:
    // ops on a disabled worker silently no-op; enable is CAS; the first
    // Running expectation STARTS a New holder (BeforeAnyOp) and a second
    // one maps to an invalid resume; a process exit degrades to Paused;
    // resume clears the result; a deleted stage key stops AND closes;
    // post-stop ops refuse; re-enable builds a fresh holder; a closed
    // worker refuses ops but the New-holder start path has no closed
    // guard in the reference
    ("ops", Seq(
      CEv(1, "op", i1 = 2),
      CEv(2, "enable"),
      CEv(3, "enable"),
      CEv(4, "stage", i1 = 2),
      CEv(5, "stage", i1 = 2),
      CEv(6, "exit", i1 = 2),
      CEv(7, "stage", i1 = 2),
      CEv(8, "stage", i1 = 3),
      CEv(9, "op", i1 = 3),
      CEv(10, "stage", i2 = 1),
      CEv(11, "op", i1 = 2),
      CEv(12, "disable"),
      CEv(13, "disable"),
      CEv(14, "enable"),
      CEv(15, "closew"),
      CEv(16, "op", i1 = 2),
      CEv(17, "stage", i1 = 2))),
    // crash-loop: a CLEAN process exit also degrades to Paused (crash
    // and pause are one observable), resume restarts, an error exit
    // carries its count until the next resume clears it
    ("crash", Seq(
      CEv(1, "enable"),
      CEv(2, "stage", i1 = 2),
      CEv(3, "exit", i1 = 0),
      CEv(4, "stage", i1 = 2),
      CEv(5, "exit", i1 = 5),
      CEv(6, "op", i1 = 1),
      CEv(7, "exit", i1 = 9))),
    // ForbidPurge: the FIRST New/Paused subtask blocks purging, named;
    // all-running allows; a closed worker never forbids
    ("purge", Seq(
      CEv(1, "purge", a2 = "ta:2,tb:2"),
      CEv(2, "purge", a2 = "ta:2,tb:3,tc:1"),
      CEv(3, "purge", a2 = "tc:1,tb:3"),
      CEv(4, "closew"),
      CEv(5, "purge", a2 = "ta:1"))))

  /** Seed cases: (sid, locations as (ord, name, pos, gtid, enableGtid)).
    * GTID cases use single-uuid `u:1-N` sets so the oracle's containment
    * reduces to range-end comparison (the kernel's full interval algebra
    * is property-tested in RelayControlSpec). */
  val seedCases: Seq[(Long, Seq[(Long, String, Long, String, Int)])] = Seq(
    // both suffixed: RAW compare picks the smaller seq; name strips the
    // subdir suffix, the uuid suffix parses from the RAW winner
    (1L, Seq((1L, "mysql-bin|000002.000003", 4L, "g:1-5", 0),
      (2L, "mysql-bin|000002.000002", 100L, "g:1-3", 0))),
    // mixed: the suffixed location ADJUSTS for comparison and wins
    (2L, Seq((1L, "mysql-bin.000005", 10L, "", 0),
      (2L, "mysql-bin|000001.000004", 50L, "g:1", 0))),
    // exact tie: the FIRST subtask's location is kept (>= 1 replace)
    (3L, Seq((1L, "mysql-bin.000003", 7L, "first:1", 0),
      (2L, "mysql-bin.000003", 7L, "second:1", 0))),
    // no checkpoints: empty name/gtid, the minimum suffix
    (4L, Seq.empty),
    // single unsuffixed: name unchanged, minimum suffix
    (5L, Seq((1L, "mysql-bin.000007", 4L, "gg:9", 0))),
    // GTID leg: the SUBSET gtid wins despite the larger filename (the
    // reference compares GTID sets first when the subtask enables GTID)
    (6L, Seq((1L, "mysql-bin.000002", 4L, "u:1-100", 1),
      (2L, "mysql-bin.000010", 4L, "u:1-50", 1))),
    // GTID non-comparable (disjoint uuids): falls back to the position
    (7L, Seq((1L, "mysql-bin.000009", 4L, "ua:1-5", 1),
      (2L, "mysql-bin.000004", 4L, "ub:1-5", 1))))

  private def cScriptValues: String =
    cScripts.flatMap { case (sc, steps) =>
      steps.map(e => s"(${Gate.sqlStr(sc)}, ${e.step}, ${Gate.sqlStr(e.ev)}, " +
        s"${e.i1}, ${e.i2}, ${Gate.sqlStr(e.a2)})")
    }.mkString(",\n")

  private def seedValues: String =
    seedCases.flatMap { case (sid, locs) =>
      if (locs.isEmpty) Seq(s"($sid, 0, '', 0, '', 0)")
      else locs.map { case (ord, n, p, g, eg) =>
        s"($sid, $ord, ${Gate.sqlStr(n)}, $p, ${Gate.sqlStr(g)}, $eg)"
      }
    }.mkString(",\n")

  /**
   * q289 — relay ENABLE/OPERATE orchestration
   * ([[graft.streaming.RelayControl]], dm/worker/relay.go:60-255 +
   * source_worker.go:385-533,1038-1124 + server.go:928-947): three
   * scripted scenarios over the holder stage machine (New→Running,
   * exit-degrades-to-Paused, pause/resume/stop guards, closed-reads-
   * Stopped, enable/disable CAS, closed-worker refusals, ForbidPurge)
   * plus the EnableRelay start-position seeding cases (earliest subtask
   * checkpoint with the both-suffixed raw-compare subtlety, subdir-suffix
   * strip, raw-name suffix extraction, first-wins ties, empty fallback).
   * The oracle re-steps the machine as a recursive CTE and re-folds the
   * seed selection with the same pairwise compare.
   */
  val relayControl = GateQuery(
    "q289_relay_control",
    Some(s"""WITH RECURSIVE vals(sc, step, ev, i1, i2, a2) AS (VALUES
      |$cScriptValues
      |), st AS (
      |  SELECT DISTINCT sc, 0 AS step, 0 AS enabled, 0 AS wclosed,
      |    1 AS hstage, 1 AS hclosed, 0 AS purger, CAST(0 AS BIGINT) AS errs,
      |    '' AS label, '' AS err, '' AS ret, 0 AS forbid, '' AS reason
      |  FROM vals
      |  UNION ALL
      |  SELECT sc, estep,
      |    CASE WHEN ev = 'enable' AND enabled = 0 THEN 1
      |         WHEN ev = 'disable' THEN 0 ELSE enabled END,
      |    CASE WHEN ev = 'closew' THEN 1 ELSE wclosed END,
      |    CASE WHEN ev = 'enable' AND enabled = 0 THEN 1
      |         WHEN starts THEN 2
      |         WHEN op_eff = 2 AND can_op AND hstage = 2 THEN 3
      |         WHEN op_eff = 3 AND can_op AND hstage = 3 THEN 2
      |         WHEN op_eff = 1 AND can_op AND hstage <> 4 THEN 4
      |         WHEN ev = 'exit' AND live AND hstage = 2 THEN 3
      |         ELSE hstage END,
      |    CASE WHEN ev = 'enable' AND enabled = 0 THEN 0
      |         WHEN ev = 'disable' AND enabled = 1 THEN 1
      |         WHEN op_eff = 1 AND can_op AND hstage <> 4 THEN 1
      |         ELSE hclosed END,
      |    CASE WHEN ev = 'enable' AND enabled = 0 THEN 0
      |         WHEN ev = 'disable' AND enabled = 1 THEN 0
      |         WHEN starts THEN 1 ELSE purger END,
      |    CASE WHEN ev = 'enable' AND enabled = 0 THEN 0
      |         WHEN starts THEN 0
      |         WHEN op_eff = 3 AND can_op AND hstage = 3 THEN 0
      |         WHEN ev = 'exit' AND live AND hstage = 2 THEN i1
      |         ELSE errs END,
      |    CASE WHEN starts THEN 'BeforeAnyOp'
      |         WHEN ev = 'stage' THEN
      |           CASE op_eff WHEN 1 THEN 'StopRelay' WHEN 2 THEN 'PauseRelay'
      |                WHEN 3 THEN 'ResumeRelay' ELSE 'InvalidRelayOp' END
      |         ELSE '' END,
      |    CASE WHEN starts THEN ''
      |         WHEN ev IN ('op', 'stage') AND wclosed = 1
      |           THEN 'ErrWorkerAlreadyClosed'
      |         WHEN ev IN ('op', 'stage') AND enabled = 0 THEN ''
      |         WHEN op_eff = 2 AND hstage <> 2
      |           THEN 'ErrWorkerRelayStageNotValid'
      |         WHEN op_eff = 3 AND hstage <> 3
      |           THEN 'ErrWorkerRelayStageNotValid'
      |         WHEN op_eff = 1 AND hstage = 4
      |           THEN 'ErrWorkerRelayStageNotValid'
      |         WHEN ev IN ('op', 'stage') AND op_eff = 0
      |           THEN 'ErrWorkerRelayOperNotSupport'
      |         ELSE '' END,
      |    CASE WHEN ev = 'enable' THEN
      |           CAST(CASE WHEN enabled = 0 THEN 1 ELSE 0 END AS VARCHAR)
      |         WHEN ev = 'disable' THEN
      |           CAST(CASE WHEN enabled = 1 THEN 1 ELSE 0 END AS VARCHAR)
      |         ELSE '' END,
      |    CASE WHEN ev = 'purge' AND wclosed = 0 AND offender <> ''
      |         THEN 1 ELSE 0 END,
      |    CASE WHEN ev = 'purge' AND wclosed = 0 AND offender <> ''
      |         THEN 'sub task ' || string_split(offender, ':')[1] ||
      |           ' current stage is ' ||
      |           (CASE string_split(offender, ':')[2]
      |            WHEN '1' THEN 'New' WHEN '3' THEN 'Paused' END)
      |         ELSE '' END
      |  FROM (
      |    SELECT s.sc, e.step AS estep, e.ev, e.i1, e.i2,
      |      s.enabled, s.wclosed, s.hstage, s.hclosed, s.purger, s.errs,
      |      (e.ev = 'stage' AND e.i1 = 2 AND e.i2 = 0 AND s.enabled = 1
      |        AND s.hstage = 1) AS starts,
      |      CASE WHEN e.ev = 'op' THEN e.i1
      |           WHEN e.ev = 'stage' AND e.i2 = 1 THEN 1
      |           WHEN e.ev = 'stage' AND e.i1 = 2 THEN 3
      |           WHEN e.ev = 'stage' AND e.i1 = 3 THEN 2
      |           WHEN e.ev = 'stage' THEN 0
      |           ELSE -1 END AS op_eff,
      |      (e.ev IN ('op', 'stage') AND s.wclosed = 0 AND s.enabled = 1)
      |        AS can_op,
      |      (s.enabled = 1 AND s.hclosed = 0) AS live,
      |      coalesce(list_filter(string_split(e.a2, ','),
      |        x -> string_split(x, ':')[2] IN ('1', '3'))[1], '')
      |        AS offender
      |    FROM st s JOIN vals e ON e.sc = s.sc AND e.step = s.step + 1
      |  ) l1
      |), seeds(sid, ord, name, pos, gtid, eg) AS (VALUES
      |$seedValues
      |), adj AS (
      |  -- realMySQLPos faithfully: filename = base '.' seq with seq > 0,
      |  -- the LAST '|' of the base (not at position 0) carrying a
      |  -- positive numeric suffix strips; anything else keeps the name
      |  SELECT sid, ord, name, pos, gtid, eg,
      |    CASE WHEN len(string_split(name, '.')) = 2
      |           AND coalesce(TRY_CAST(string_split(name, '.')[2]
      |               AS BIGINT), 0) > 0
      |           AND regexp_matches(string_split(name, '.')[1],
      |               '^.+\\|[^|]*$$')
      |           AND coalesce(TRY_CAST(regexp_extract(
      |               string_split(name, '.')[1], '\\|([^|]*)$$', 1)
      |               AS BIGINT), 0) > 0
      |         THEN regexp_replace(string_split(name, '.')[1],
      |                '\\|[^|]*$$', '') || '.' || string_split(name, '.')[2]
      |         ELSE name END AS adj_name,
      |    -- the restricted single-uuid u:1-N gtid shape for the oracle's
      |    -- containment: (uuid, range end); empty set = ('', 0)
      |    coalesce(string_split(gtid, ':')[1], '') AS guuid,
      |    coalesce(TRY_CAST(regexp_extract(gtid, '-([0-9]+)$$', 1)
      |             AS BIGINT), 0) AS gend
      |  FROM seeds WHERE name <> ''
      |), fold AS (
      |  SELECT sid, ord, name, pos, gtid, adj_name, guuid, gend
      |  FROM adj WHERE ord = 1
      |  UNION ALL
      |  SELECT t.sid, t.aord,
      |    CASE WHEN t.repl THEN t.aname ELSE t.name END,
      |    CASE WHEN t.repl THEN t.apos ELSE t.pos END,
      |    CASE WHEN t.repl THEN t.agtid ELSE t.gtid END,
      |    CASE WHEN t.repl THEN t.aadj ELSE t.adj_name END,
      |    CASE WHEN t.repl THEN t.aguuid ELSE t.guuid END,
      |    CASE WHEN t.repl THEN t.agend ELSE t.gend END
      |  FROM (
      |    SELECT f.sid, f.name, f.pos, f.gtid, f.adj_name, f.guuid, f.gend,
      |      a.ord AS aord, a.name AS aname, a.pos AS apos,
      |      a.gtid AS agtid, a.adj_name AS aadj, a.guuid AS aguuid,
      |      a.gend AS agend,
      |      -- CompareLocation(min, loc, a.eg) >= 1: the GTID leg first
      |      -- when the incoming subtask enables it (empty-set and
      |      -- same-uuid containment shapes; disjoint uuids are not
      |      -- comparable and fall back), then ComparePosition with the
      |      -- both-suffixed raw-compare subtlety
      |      (CASE
      |        WHEN a.eg = 1 AND f.gtid = '' AND a.gtid = '' THEN FALSE
      |        WHEN a.eg = 1 AND f.gtid = '' THEN FALSE      -- cmp = -1
      |        WHEN a.eg = 1 AND a.gtid = '' THEN TRUE       -- cmp = +1
      |        WHEN a.eg = 1 AND f.guuid = a.guuid
      |          THEN f.gend > a.gend                        -- containment
      |        WHEN f.adj_name <> f.name AND a.adj_name <> a.name
      |          THEN (f.name > a.name OR (f.name = a.name AND f.pos > a.pos))
      |        ELSE (f.adj_name > a.adj_name OR
      |              (f.adj_name = a.adj_name AND f.pos > a.pos)) END)
      |        AS repl
      |    FROM fold f JOIN adj a ON a.sid = f.sid AND a.ord = f.ord + 1
      |  ) t
      |), seedout AS (
      |  SELECT s.sid,
      |    coalesce(f.adj_name, '') AS name,
      |    coalesce(f.gtid, '') AS gtid,
      |    CAST(coalesce(CASE WHEN regexp_matches(
      |        string_split(f.name, '.')[1], '^.+\\|[^|]*$$')
      |      THEN TRY_CAST(regexp_extract(string_split(f.name, '.')[1],
      |             '\\|([^|]*)$$', 1) AS BIGINT)
      |      ELSE 1 END, 1) AS BIGINT) AS sfx
      |  FROM (SELECT DISTINCT sid FROM seeds) s
      |  LEFT JOIN (
      |    SELECT sid, name, gtid, adj_name,
      |      row_number() OVER (PARTITION BY sid ORDER BY ord DESC) AS rn
      |    FROM fold) f ON f.sid = s.sid AND f.rn = 1
      |)
      |SELECT sc, CAST(step AS BIGINT) AS step, 'step' AS kind,
      |  enabled,
      |  CASE WHEN enabled = 0 OR hclosed = 1 THEN 4 ELSE hstage END AS stage,
      |  hstage AS raw, purger, errs, label, err, ret, forbid, reason,
      |  '' AS name, '' AS gtid, CAST(0 AS BIGINT) AS sfx
      |FROM st WHERE step > 0
      |UNION ALL
      |SELECT 'seed', sid, 'seed', 0, 0, 0, 0, 0, '', '', '', 0, '',
      |  name, gtid, sfx
      |FROM seedout""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.{BinlogPos, RelayControl}
    val stepRows = cScripts.flatMap { case (sc, steps) =>
      val m = new RelayControl
      steps.map { e =>
        var label = ""; var err = ""; var ret = ""
        var forbid = 0; var reason = ""
        e.ev match {
          case "enable" => ret = if (m.enableRelay()) "1" else "0"
          case "disable" => ret = if (m.disableRelay()) "1" else "0"
          case "closew" => m.closeWorker()
          case "exit" => m.processExit(e.i1.toInt)
          case "op" => m.operateRelay(e.i1.toInt).foreach(err = _)
          case "stage" =>
            val (l, er) = m.operateRelayStage(e.i1.toInt, e.i2 == 1)
            label = l; er.foreach(err = _)
          case "purge" =>
            val subs = e.a2.split(",").toSeq.filter(_.nonEmpty).map { p =>
              val Array(n, s) = p.split(":"); (n, s.toInt)
            }
            val (f, r) = RelayControl.forbidPurge(m.isWorkerClosed, subs)
            forbid = if (f) 1 else 0; reason = r
        }
        (sc, e.step, "step", if (m.isEnabled) 1 else 0, m.stage, m.rawStage,
          if (m.purgerRunning) 1 else 0, m.resultErrorCount.toLong, label,
          err, ret, forbid, reason, "", "", 0L)
      }
    }
    val seedRows = seedCases.map { case (sid, locs) =>
      val seeded = RelayControl.seedFromCheckpoints(
        locs.map { case (_, n, p, g, eg) =>
          (BinlogPos.Position(n, p), g, eg == 1) })
        .getOrElse(RelayControl.SeededCfg("", "", 0))
      ("seed", sid.toInt, "seed", 0, 0, 0, 0, 0L, "", "", "", 0, "",
        seeded.binlogName, seeded.gtid, seeded.uuidSuffix.toLong)
    }
    (stepRows ++ seedRows).toDF("sc", "step", "kind", "enabled", "stage",
      "raw", "purger", "errs", "label", "err", "ret", "forbid", "reason",
      "name", "gtid", "sfx")
  }

  def all: Seq[GateQuery] = Seq(redoLayout, relayPurge, relayMeta,
    relayControl)
}
