package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.streaming.SourceScheduler
import graft.streaming.SourceScheduler.{Kernel, SourceCfg}

/**
 * DM-master source↔worker scheduler gates ([[graft.streaming
 * .SourceScheduler]]; dm/master/scheduler/scheduler.go + worker.go): the
 * control plane that binds upstream sources to DM-worker instances. q293
 * replays a data-derived 86-event bind/transfer/offline script through the
 * kernel with the ORACLE replaying the full bind-priority algebra
 * (lastBound preference, history-worker preference, min-free fallback) in
 * a recursive CTE over the same parquet — a divergence in any branch of
 * either engine shows up as a value mismatch, not a shared constant. q294
 * drives the relay-scheduling and validation surface (start/stop-relay
 * quick + named paths, the TransferSource validation chain with the
 * pause/resume envelope, subtask gating, expect-stage updates); q295 the
 * load-task transfer probes; q297 the dmctl member-ops surface; q298 the
 * bootstrap recovery reconciliation. Error tokens are the reference's
 * terror identifiers, parsed from dm/pkg/terror/error_list.go in
 * SourceSchedulerSpec so they cannot drift; Round18Spec replays the
 * reference's own worker/transfer/relay/bootstrap test sequences against
 * the kernel, step-for-step.
 */
object SchedulerQueries {

  /**
   * q293 — the bind/transfer/offline script. Fleet: workers w0-w3
   * (Offline until an online event), source pool s0-s3 widening to s0-s5
   * after step 46 (two regimes: worker-surplus exercises transfer/freed/
   * rebind, source-surplus exercises unbound/orphaned). Events derive
   * from the first 80 orderkeys via a multiplicative hash so the op mix
   * is decorrelated from key order; both engines compute the same script
   * from the same parquet. Where scheduler.go picks an arbitrary Go-map
   * element ("randomly pick one" at :2303, :2398) both sides pick the
   * lexicographically smallest — a deterministic refinement inside the
   * reference's allowed nondeterminism. Per step: the result token
   * (bind destination / rebind victim / terror identifier) and the full
   * sorted bounds/free/unbound snapshot.
   */
  val sourceScheduler = GateQuery(
    "q293_source_scheduler",
    Some("""WITH RECURSIVE ks AS (
      |  SELECT (o_orderkey * 2654435761) % 1000003 AS k,
      |    row_number() OVER (ORDER BY o_orderkey) AS i
      |  FROM orders
      |  QUALIFY i <= 80
      |), ev AS (
      |  SELECT * FROM (VALUES
      |    (1, 'online', '', 'w0'), (2, 'online', '', 'w1'),
      |    (3, 'online', '', 'w2'),
      |    (4, 'add', 's0', ''), (5, 'add', 's1', ''), (6, 'add', 's2', '')
      |  ) p(step, op, s, w)
      |  UNION ALL
      |  SELECT CAST(i + 6 AS INT) AS step,
      |    ['online','online','offline','add','add',
      |     'remove','transfer','transfer'][(k % 8) + 1] AS op,
      |    's' || CAST((k // 8) % (CASE WHEN i <= 40 THEN 4 ELSE 6 END)
      |      AS VARCHAR) AS s,
      |    'w' || CAST((k // 32) % 4 AS VARCHAR) AS w
      |  FROM ks
      |), st AS (
      |  SELECT 0 AS step, '' AS op, '' AS s, '' AS w, '' AS res,
      |    CAST([] AS VARCHAR[]) AS bounds,
      |    ['w0','w1','w2','w3'] AS off,
      |    CAST([] AS VARCHAR[]) AS srcs,
      |    CAST([] AS VARCHAR[]) AS last
      |  UNION ALL
      |  SELECT step, op, s, w, res0 AS res, bounds1 AS bounds,
      |    off1 AS off, srcs1 AS srcs, last1 AS last FROM (
      |  SELECT ev.step AS step, ev.op AS op, ev.s AS s, ev.w AS w,
      |    coalesce(list_filter(st.bounds,
      |      b -> string_split(b,'->')[1] = ev.s)[1], '') AS bw0,
      |    CASE WHEN bw0 = '' THEN ''
      |      ELSE string_split(bw0,'->')[2] END AS s_worker,
      |    coalesce(list_filter(st.bounds,
      |      b -> string_split(b,'->')[2] = ev.w)[1], '') AS wb0,
      |    CASE WHEN wb0 = '' THEN ''
      |      ELSE string_split(wb0,'->')[1] END AS w_source,
      |    list_sort(list_filter(['w0','w1','w2','w3'], x ->
      |      NOT list_contains(st.off, x) AND
      |      len(list_filter(st.bounds,
      |        b -> string_split(b,'->')[2] = x)) = 0)) AS free0,
      |    list_sort(list_filter(st.srcs, x ->
      |      len(list_filter(st.bounds,
      |        b -> string_split(b,'->')[1] = x)) = 0)) AS unb0,
      |    coalesce(list_filter(st.last,
      |      x -> string_split(x,'->')[1] = ev.w)[1], '') AS lb0,
      |    CASE WHEN lb0 = '' THEN ''
      |      ELSE string_split(lb0,'->')[2] END AS w_last,
      |    -- tryBoundForWorker on online: lastBound-if-unbound else min unb
      |    CASE WHEN ev.op = 'online' THEN
      |      CASE WHEN w_source <> '' THEN 'kept'
      |        WHEN w_last <> '' AND list_contains(unb0, w_last) THEN w_last
      |        WHEN len(unb0) > 0 THEN unb0[1]
      |        ELSE '' END
      |      ELSE NULL END AS on_src,
      |    -- tryBoundForSource on offline: history-free worker else min free
      |    CASE WHEN ev.op = 'offline' AND w_source <> '' THEN
      |      coalesce(list_sort(list_filter(free0, x -> x <> ev.w AND
      |          list_contains(st.last, x || '->' || w_source)))[1],
      |        coalesce(list_filter(free0, x -> x <> ev.w)[1], ''))
      |      ELSE NULL END AS off_dst,
      |    CASE WHEN ev.op = 'add' AND NOT list_contains(st.srcs, ev.s) THEN
      |      coalesce(list_sort(list_filter(free0, x ->
      |          list_contains(st.last, x || '->' || ev.s)))[1],
      |        coalesce(free0[1], ''))
      |      ELSE NULL END AS add_dst,
      |    -- freed worker rebinds to min unbound (its lastBound IS ev.s)
      |    CASE WHEN ev.op = 'remove' AND s_worker <> '' THEN
      |      coalesce(list_filter(unb0, x -> x <> ev.s)[1], '')
      |      ELSE NULL END AS rm_src,
      |    CASE WHEN ev.op = 'transfer' THEN
      |      CASE WHEN NOT list_contains(st.srcs, ev.s)
      |             THEN 'err:ErrSchedulerSourceCfgNotExist'
      |        WHEN s_worker = ev.w THEN 'noop'
      |        WHEN list_contains(st.off, ev.w) OR w_source <> ''
      |             THEN 'err:ErrSchedulerWorkerInvalidTrans'
      |        WHEN s_worker = '' THEN 'bound'
      |        ELSE 'moved' END
      |      ELSE NULL END AS tr_class,
      |    CASE WHEN tr_class = 'moved' THEN
      |      coalesce(list_filter(unb0, x -> x <> ev.s)[1], '')
      |      ELSE '' END AS tr_rebind,
      |    CASE ev.op
      |      WHEN 'online' THEN
      |        CASE WHEN on_src = 'kept' THEN 'kept-bound'
      |          WHEN on_src <> '' THEN 'bound:' || on_src ELSE 'free' END
      |      WHEN 'offline' THEN
      |        CASE WHEN w_source = '' THEN 'offline'
      |          WHEN off_dst <> '' THEN 'rebound:' || off_dst
      |          ELSE 'orphaned' END
      |      WHEN 'add' THEN
      |        CASE WHEN list_contains(st.srcs, ev.s)
      |               THEN 'err:ErrSchedulerSourceCfgExist'
      |          WHEN add_dst <> '' THEN 'bound:' || add_dst
      |          ELSE 'unbound' END
      |      WHEN 'remove' THEN
      |        CASE WHEN NOT list_contains(st.srcs, ev.s)
      |               THEN 'err:ErrSchedulerSourceCfgNotExist'
      |          WHEN s_worker = '' THEN 'removed'
      |          WHEN rm_src <> '' THEN 'rebind:' || rm_src
      |          ELSE 'freed' END
      |      ELSE
      |        CASE WHEN tr_class = 'moved' AND tr_rebind <> ''
      |               THEN 'moved+rebind:' || tr_rebind
      |          ELSE tr_class END
      |      END AS res0,
      |    CASE ev.op
      |      WHEN 'online' THEN
      |        CASE WHEN on_src IN ('', 'kept') THEN st.bounds
      |          ELSE list_append(st.bounds, on_src || '->' || ev.w) END
      |      WHEN 'offline' THEN
      |        CASE WHEN w_source = '' THEN st.bounds
      |          ELSE list_append(
      |            list_filter(st.bounds, b -> b <> wb0),
      |            CASE WHEN off_dst = '' THEN NULL
      |              ELSE w_source || '->' || off_dst END) END
      |      WHEN 'add' THEN
      |        CASE WHEN res0 LIKE 'err:%' OR add_dst = '' THEN st.bounds
      |          ELSE list_append(st.bounds, ev.s || '->' || add_dst) END
      |      WHEN 'remove' THEN
      |        CASE WHEN res0 LIKE 'err:%' OR s_worker = '' THEN st.bounds
      |          ELSE list_append(
      |            list_filter(st.bounds, b -> b <> bw0),
      |            CASE WHEN rm_src = '' THEN NULL
      |              ELSE rm_src || '->' || s_worker END) END
      |      ELSE
      |        CASE WHEN res0 = 'bound' THEN
      |            list_append(st.bounds, ev.s || '->' || ev.w)
      |          WHEN tr_class = 'moved' THEN
      |            list_append(list_append(
      |              list_filter(st.bounds, b -> b <> bw0),
      |              ev.s || '->' || ev.w),
      |              CASE WHEN tr_rebind = '' THEN NULL
      |                ELSE tr_rebind || '->' || s_worker END)
      |          ELSE st.bounds END
      |      END AS b1,
      |    list_filter(b1, b -> b IS NOT NULL) AS bounds1,
      |    CASE ev.op
      |      WHEN 'online' THEN list_filter(st.off, x -> x <> ev.w)
      |      WHEN 'offline' THEN
      |        CASE WHEN list_contains(st.off, ev.w) THEN st.off
      |          ELSE list_append(st.off, ev.w) END
      |      ELSE st.off END AS off1,
      |    CASE ev.op
      |      WHEN 'add' THEN
      |        CASE WHEN res0 LIKE 'err:%' THEN st.srcs
      |          ELSE list_append(st.srcs, ev.s) END
      |      WHEN 'remove' THEN
      |        CASE WHEN res0 LIKE 'err:%' THEN st.srcs
      |          ELSE list_filter(st.srcs, x -> x <> ev.s) END
      |      ELSE st.srcs END AS srcs1,
      |    -- lastBound updates: one entry per bind made this step
      |    CASE ev.op
      |      WHEN 'online' THEN
      |        CASE WHEN on_src IN ('', 'kept') THEN CAST([] AS VARCHAR[])
      |          ELSE [ev.w || '->' || on_src] END
      |      WHEN 'offline' THEN
      |        CASE WHEN w_source <> '' AND off_dst <> ''
      |          THEN [off_dst || '->' || w_source]
      |          ELSE CAST([] AS VARCHAR[]) END
      |      WHEN 'add' THEN
      |        CASE WHEN res0 LIKE 'bound:%'
      |          THEN [add_dst || '->' || ev.s]
      |          ELSE CAST([] AS VARCHAR[]) END
      |      WHEN 'remove' THEN
      |        CASE WHEN res0 LIKE 'rebind:%'
      |          THEN [s_worker || '->' || rm_src]
      |          ELSE CAST([] AS VARCHAR[]) END
      |      ELSE
      |        CASE WHEN res0 = 'bound' THEN [ev.w || '->' || ev.s]
      |          WHEN tr_class = 'moved' AND tr_rebind <> ''
      |            THEN [ev.w || '->' || ev.s, s_worker || '->' || tr_rebind]
      |          WHEN tr_class = 'moved' THEN [ev.w || '->' || ev.s]
      |          ELSE CAST([] AS VARCHAR[]) END
      |      END AS newbinds,
      |    list_concat(
      |      list_filter(st.last, x ->
      |        len(list_filter(newbinds, nb ->
      |          string_split(nb,'->')[1] = string_split(x,'->')[1])) = 0),
      |      newbinds) AS last1
      |  FROM st JOIN ev ON ev.step = st.step + 1
      |  ) q
      |)
      |SELECT step, op, s, w, res,
      |  coalesce(array_to_string(list_sort(bounds), ','), '') AS bounds,
      |  coalesce(array_to_string(list_sort(
      |    list_filter(['w0','w1','w2','w3'], x ->
      |      NOT list_contains(off, x) AND
      |      len(list_filter(bounds,
      |        b -> string_split(b,'->')[2] = x)) = 0)), ','), '') AS free,
      |  coalesce(array_to_string(list_sort(list_filter(srcs, x ->
      |    len(list_filter(bounds,
      |      b -> string_split(b,'->')[1] = x)) = 0)), ','), '') AS unb
      |FROM st WHERE step > 0 ORDER BY step""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      // script derivation — the o_orderkey walk is tiny (80 longs) and
      // feeds plan-literal construction, like q277's placement derivation
      val ks = Tables.load(spark, dir, "orders")
        .select(col("o_orderkey").cast("long"))
        .orderBy("o_orderkey").limit(80)
        .collect().map(r => r.getLong(0) * 2654435761L % 1000003L)
      val ops = Array("online", "online", "offline", "add", "add",
        "remove", "transfer", "transfer")
      val prologue = Seq(
        (1, "online", "", "w0"), (2, "online", "", "w1"),
        (3, "online", "", "w2"),
        (4, "add", "s0", ""), (5, "add", "s1", ""), (6, "add", "s2", ""))
      val script = prologue ++ ks.zipWithIndex.map { case (k, i0) =>
        val i = i0 + 1
        val pool = if (i <= 40) 4 else 6
        (i + 6, ops((k % 8).toInt),
          s"s${k / 8 % pool}", s"w${k / 32 % 4}")
      }

      val kernel = new Kernel
      (0 to 3).foreach(i => kernel.addWorker(s"w$i", s"addr$i"))
      val rows = script.map { case (step, op, s, w) =>
        // pre-state facts needed to token-ize the kernel's outcome
        val preBoundW = kernel.bounds.get(s).map(_.name).getOrElse("")
        val wAgent = kernel.workers.get(w)
        val preWSource = wAgent.map(_.boundSource).getOrElse("")
        val res = op match {
          case "online" =>
            if (preWSource.nonEmpty) { kernel.workerOnline(w); "kept-bound" }
            else {
              kernel.workerOnline(w)
              val bs = wAgent.map(_.boundSource).getOrElse("")
              if (bs.nonEmpty) s"bound:$bs" else "free"
            }
          case "offline" =>
            kernel.workerOffline(w)
            if (preWSource.isEmpty) "offline"
            else kernel.bounds.get(preWSource) match {
              case Some(nw) => s"rebound:${nw.name}"
              case None => "orphaned"
            }
          case "add" =>
            kernel.addSourceCfg(SourceCfg(s)) match {
              case Left(e) => s"err:$e"
              case Right(_) => kernel.bounds.get(s) match {
                case Some(nw) => s"bound:${nw.name}"
                case None => "unbound"
              }
            }
          case "remove" =>
            kernel.removeSourceCfg(s) match {
              case Left(e) => s"err:$e"
              case Right(_) =>
                if (preBoundW.isEmpty) "removed"
                else {
                  val nb = kernel.workers(preBoundW).boundSource
                  if (nb.nonEmpty) s"rebind:$nb" else "freed"
                }
            }
          case "transfer" =>
            kernel.transferSource(s, w) match {
              case Left(e) => s"err:$e"
              case Right(_) =>
                if (preBoundW == w) "noop"
                else if (preBoundW.isEmpty) "bound"
                else {
                  val nb = kernel.workers(preBoundW).boundSource
                  if (nb.nonEmpty) s"moved+rebind:$nb" else "moved"
                }
            }
        }
        val (bounds, free, _, unb) = kernel.snapshot()
        (step, op, s, w, res, bounds, free, unb)
      }
      rows.toDF("step", "op", "s", "w", "res", "bounds", "free", "unb")
  }

  private val q294Oracle: String =
    """WITH b AS (SELECT CAST(count(*) AS INT) AS base FROM region)
      |SELECT b.base + v.i AS step, v.kase, v.res, v.bounds, v.free,
      |  v.relay, v.unb
      |FROM (VALUES
      |  (0, 'sr_nosrc', 'err:ErrSchedulerSourceCfgNotExist', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (1, 'sr_nowkr', 'err:ErrSchedulerWorkerNotExist', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (2, 'sr_bound', 'err:ErrSchedulerRelayWorkersWrongBound', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (3, 'sr_ok', 'ok', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (4, 'sr_busy', 'err:ErrSchedulerRelayWorkersBusy', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (5, 'sr_spec', 'err:ErrSchedulerStartRelayOnSpecified', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (6, 'st_spec', 'err:ErrSchedulerStopRelayOnSpecified', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (7, 'tr_relay', 'err:ErrSchedulerBoundDiffWithStartedRelay', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (8, 'tr_ok', 'ok', 'r1->w3,r2->w2', 'w1', '', ''),
      |  (9, 'off_hist', 'ok', 'r1->w1,r2->w2', '', '', ''),
      |  (10, 'on_relay', 'ok', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (11, 'st_wrong', 'err:ErrSchedulerRelayWorkersWrongRelay', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (12, 'st_already', 'ok', 'r1->w1,r2->w2', '', 'w3:r1', ''),
      |  (13, 'st_ok', 'ok', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (14, 'upd_ok', 'ok', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (15, 'sr_quick', 'ok', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (16, 'sr_onbound', 'err:ErrSchedulerStartRelayOnBound', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (17, 'st_onbound', 'err:ErrSchedulerStopRelayOnBound', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (18, 'st_quick', 'ok', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (19, 'task_ok', 'ok', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (20, 'task_multi', 'err:ErrSchedulerMultiTask', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (21, 'task_exist', 'err:ErrSchedulerSubTaskExist', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (22, 'task_unb', 'err:ErrSchedulerSourcesUnbound', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (23, 'rm_task', 'err:ErrSchedulerSourceOpTaskExist', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (24, 'upd_task', 'err:ErrSchedulerSourceCfgUpdate', 'r1->w1,r2->w2', 'w3', '', ''),
      |  (25, 'tr_sync', 'ok', 'r1->w3,r2->w2', 'w1', '', ''),
      |  (26, 'task_load', 'ok', 'r1->w3,r2->w2', 'w1', '', ''),
      |  (27, 'tr_load', 'err:ErrSchedulerRequireRunningTaskInSyncUnit', 'r1->w3,r2->w2', 'w1', '', ''),
      |  (28, 'pause', 'ok', 'r1->w3,r2->w2', 'w1', '', ''),
      |  (29, 'tr_paused', 'ok', 'r1->w3,r2->w1', 'w2', '', ''),
      |  (30, 'st_inv', 'err:ErrSchedulerSubTaskStageInvalidUpdate', 'r1->w3,r2->w1', 'w2', '', ''),
      |  (31, 'st_notask', 'err:ErrSchedulerSubTaskOpTaskNotExist', 'r1->w3,r2->w1', 'w2', '', ''),
      |  (32, 'st_nosrc', 'err:ErrSchedulerSubTaskOpSourceNotExist', 'r1->w3,r2->w1', 'w2', '', ''),
      |  (33, 'rmt_nosrc', 'err:ErrSchedulerSubTaskOpSourceNotExist', 'r1->w3,r2->w1', 'w2', '', ''),
      |  (34, 'rmt_notask', 'err:ErrSchedulerSubTaskOpTaskNotExist', 'r1->w3,r2->w1', 'w2', '', ''),
      |  (35, 'rmt_ok', 'ok', 'r1->w3,r2->w1', 'w2', '', ''),
      |  (36, 'sr_free', 'ok', 'r1->w3,r2->w1', '', 'w2:r2', ''),
      |  (37, 'rmt2', 'ok', 'r1->w3,r2->w1', '', 'w2:r2', ''),
      |  (38, 'rm_relayex', 'err:ErrSchedulerSourceOpRelayExist', 'r1->w3,r2->w1', '', 'w2:r2', ''),
      |  (39, 'aww_nofree', 'err:ErrSchedulerWorkerNotFree', 'r1->w3,r2->w1', '', 'w2:r2', ''),
      |  (40, 'aww_nowkr', 'err:ErrSchedulerWorkerNotExist', 'r1->w3,r2->w1', '', 'w2:r2', ''),
      |  (41, 'on_w4', 'ok', 'r1->w3,r2->w1', 'w4', 'w2:r2', ''),
      |  (42, 'aww_ok', 'ok', 'r1->w3,r2->w1,r3->w4', '', 'w2:r2', ''),
      |  (43, 'aw_dup', 'ok', 'r1->w3,r2->w1,r3->w4', '', 'w2:r2', ''),
      |  (44, 'aw_diff', 'err:ErrSchedulerWorkerExist', 'r1->w3,r2->w1,r3->w4', '', 'w2:r2', ''),
      |  (45, 'rw_online', 'err:ErrSchedulerWorkerOnline', 'r1->w3,r2->w1,r3->w4', '', 'w2:r2', ''),
      |  (46, 'rw_nowkr', 'err:ErrSchedulerWorkerNotExist', 'r1->w3,r2->w1,r3->w4', '', 'w2:r2', ''),
      |  (47, 'off_w2', 'ok', 'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (48, 'rw_ok', 'ok', 'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (49, 'urs_inv', 'err:ErrSchedulerRelayStageInvalidUpdate',
      |     'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (50, 'urs_nosrc', 'err:ErrSchedulerRelayStageSourceNotExist',
      |     'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (51, 'urs_ok', 'ok', 'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (52, 'ust_notask', 'err:ErrSchedulerTaskNotExist',
      |     'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (53, 'task2', 'ok', 'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (54, 'ust_multi', 'err:ErrSchedulerMultiTask',
      |     'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (55, 'ust_nosub', 'err:ErrSchedulerSubTaskNotExist',
      |     'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (56, 'ust_ok', 'ok', 'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (57, 'resume_t3', 'ok', 'r1->w3,r2->w1,r3->w4', '', '', ''),
      |  (58, 'ust_running', 'err:ErrSchedulerSubTaskCfgUpdate',
      |     'r1->w3,r2->w1,r3->w4', '', '', '')
      |) v(i, kase, res, bounds, free, relay, unb), b""".stripMargin

  /**
   * q294 — relay scheduling + the validation surface: start/stop-relay
   * quick (no worker name: toggles enable-relay) and named paths with
   * their full precheck sweeps (scheduler.go:1376-1585), the
   * TransferSource validation chain incl. the Sync-unit requirement and
   * the pause/resume envelope (:675-769), relay-constrained binds and
   * relay recovery on re-online (:2133-2189), subtask add/remove/stage
   * gating (:843-1046, :1699-1766), worker membership (:1262-1318), and
   * AddSourceCfgWithWorker (:364-388). A fixed 47-step script; each row
   * pins the result token (ok / bind outcome / terror identifier) plus
   * the sorted bounds/free/relay/unbound snapshot. Timestamps don't
   * exist in this algebra, so the oracle is the expected transition
   * table (q276 form); every terror identifier it shares with the gate
   * is parsed from dm/pkg/terror/error_list.go in SourceSchedulerSpec.
   */
  val schedulerRelayOps = GateQuery(
    "q294_scheduler_relay_ops",
    Some(q294Oracle)) { (spark, dir) =>
    import spark.implicits._
    // anchor: steps are offset by count(region)=5 so the row ids are
    // data-derived in both engines
    val base = Tables.load(spark, dir, "region").count().toInt
    val k = new Kernel
    (1 to 4).foreach(i => k.addWorker(s"w$i", s"addr$i"))
    Seq("w1", "w2", "w3").foreach(k.workerOnline)
    k.addSourceCfg(SourceCfg("r1")) // binds w1
    k.addSourceCfg(SourceCfg("r2")) // binds w2
    def tok(r: Either[String, Any]): String =
      r.fold(e => s"err:$e", _ => "ok")
    val steps = Seq[(String, () => String)](
      ("sr_nosrc", () => tok(k.startRelay("r9", Seq("w3")))),
      ("sr_nowkr", () => tok(k.startRelay("r1", Seq("w9")))),
      ("sr_bound", () => tok(k.startRelay("r1", Seq("w2")))),
      ("sr_ok", () => tok(k.startRelay("r1", Seq("w3")))),
      ("sr_busy", () => tok(k.startRelay("r2", Seq("w3")))),
      ("sr_spec", () => tok(k.startRelay("r1", Seq.empty))),
      ("st_spec", () => tok(k.stopRelay("r1", Seq.empty))),
      ("tr_relay", () => tok(k.transferSource("r2", "w3"))),
      ("tr_ok", () => tok(k.transferSource("r1", "w3"))),
      ("off_hist", () => tok(k.workerOffline("w3"))),
      ("on_relay", () => tok(k.workerOnline("w3"))),
      ("st_wrong", () => tok(k.stopRelay("r2", Seq("w3")))),
      ("st_already", () => tok(k.stopRelay("r1", Seq("w2")))),
      ("st_ok", () => tok(k.stopRelay("r1", Seq("w3")))),
      ("upd_ok", () =>
        tok(k.updateSourceCfg(SourceCfg("r1", enableRelay = true)))),
      ("sr_quick", () => tok(k.startRelay("r1", Seq.empty))),
      ("sr_onbound", () => tok(k.startRelay("r1", Seq("w3")))),
      ("st_onbound", () => tok(k.stopRelay("r1", Seq("w3")))),
      ("st_quick", () => tok(k.stopRelay("r1", Seq.empty))),
      ("task_ok", () => tok(k.addSubTasks("Running",
        Seq(("t1", "r1", "Sync"), ("t1", "r2", "Sync"))))),
      ("task_multi", () => tok(k.addSubTasks("Running",
        Seq(("t2", "r1", "Sync"), ("t3", "r2", "Sync"))))),
      ("task_exist", () => tok(k.addSubTasks("Running",
        Seq(("t1", "r1", "Sync"))))),
      ("task_unb", () => tok(k.addSubTasks("Running",
        Seq(("t2", "r5", "Sync"))))),
      ("rm_task", () => tok(k.removeSourceCfg("r1"))),
      ("upd_task", () =>
        tok(k.updateSourceCfg(SourceCfg("r1")))),
      ("tr_sync", () => tok(k.transferSource("r1", "w3"))),
      ("task_load", () => tok(k.addSubTasks("Running",
        Seq(("t2", "r2", "Load"))))),
      ("tr_load", () => tok(k.transferSource("r2", "w1"))),
      ("pause", () =>
        tok(k.updateExpectSubTaskStage("Paused", "t2", Seq("r2")))),
      ("tr_paused", () => tok(k.transferSource("r2", "w1"))),
      ("st_inv", () =>
        tok(k.updateExpectSubTaskStage("Finished", "t1", Seq("r1")))),
      ("st_notask", () =>
        tok(k.updateExpectSubTaskStage("Paused", "t9", Seq("r1")))),
      ("st_nosrc", () =>
        tok(k.updateExpectSubTaskStage("Paused", "t1", Seq("r9")))),
      ("rmt_nosrc", () => tok(k.removeSubTasks("t1", Seq("r9")))),
      ("rmt_notask", () => tok(k.removeSubTasks("t9", Seq("r1")))),
      ("rmt_ok", () => tok(k.removeSubTasks("t1", Seq("r1", "r2")))),
      ("sr_free", () => tok(k.startRelay("r2", Seq("w2")))),
      ("rmt2", () => tok(k.removeSubTasks("t2", Seq("r2")))),
      ("rm_relayex", () => tok(k.removeSourceCfg("r2"))),
      ("aww_nofree", () =>
        tok(k.addSourceCfgWithWorker(SourceCfg("r3"), "w2"))),
      ("aww_nowkr", () =>
        tok(k.addSourceCfgWithWorker(SourceCfg("r3"), "w9"))),
      ("on_w4", () => tok(k.workerOnline("w4"))),
      ("aww_ok", () =>
        tok(k.addSourceCfgWithWorker(SourceCfg("r3"), "w4"))),
      ("aw_dup", () => tok(k.addWorker("w1", "addr1"))),
      ("aw_diff", () => tok(k.addWorker("w1", "elsewhere"))),
      ("rw_online", () => tok(k.removeWorker("w1"))),
      ("rw_nowkr", () => tok(k.removeWorker("w9"))),
      ("off_w2", () => tok(k.workerOffline("w2"))),
      ("rw_ok", () => tok(k.removeWorker("w2"))),
      // expect-relay-stage updates (scheduler.go:1617-1680)
      ("urs_inv", () =>
        tok(k.updateExpectRelayStage("Stopped", Seq("r2")))),
      ("urs_nosrc", () =>
        tok(k.updateExpectRelayStage("Paused", Seq("r9")))),
      ("urs_ok", () =>
        tok(k.updateExpectRelayStage("Paused", Seq("r2")))),
      // subtask config updates (scheduler.go:1048-1110)
      ("ust_notask", () => tok(k.updateSubTasks(Seq(("t9", "r1"))))),
      ("task2", () => tok(k.addSubTasks("Paused",
        Seq(("t3", "r1", "Sync"))))),
      ("ust_multi", () =>
        tok(k.updateSubTasks(Seq(("t3", "r1"), ("t4", "r1"))))),
      ("ust_nosub", () => tok(k.updateSubTasks(Seq(("t3", "r3"))))),
      ("ust_ok", () => tok(k.updateSubTasks(Seq(("t3", "r1"))))),
      ("resume_t3", () =>
        tok(k.updateExpectSubTaskStage("Running", "t3", Seq("r1")))),
      ("ust_running", () => tok(k.updateSubTasks(Seq(("t3", "r1"))))))
    val rows = steps.zipWithIndex.map { case ((kase, run), i) =>
      val res = run()
      val (bounds, free, relay, unb) = k.snapshot()
      (base + i, kase, res, bounds, free, relay, unb)
    }
    rows.toDF("step", "kase", "res", "bounds", "free", "relay", "unb")
  }

  private val q295Oracle: String =
    """WITH b AS (SELECT CAST(count(*) AS INT) AS base FROM region)
      |SELECT b.base + v.i AS step, v.kase, v.res, v.bounds, v.free,
      |  v.relay, v.unb
      |FROM (VALUES
      |  (0, 'swap', 'ok', 'm1->w2,m2->w1,m3->w3', 'w4', '', ''),
      |  (1, 'handoff', 'ok', 'm1->w2,m2->w1,m3->w4', 'w3', '', ''),
      |  (2, 'drain', 'ok', 'm1->w2,m2->w1,m3->w4', '', '', ''),
      |  (3, 'orphan', 'ok', 'm1->w2,m3->w4', '', '', 'm2'),
      |  (4, 'load_home', 'ok', 'm1->w2,m2->w1,m3->w4', '', '', ''),
      |  (5, 'steal', 'ok', 'm1->w2,m2->w1,m3->w3', 'w4', '', ''),
      |  (6, 'del_noop', 'ok', 'm1->w2,m2->w1,m3->w3', 'w4', '', ''),
      |  (7, 'twas_wrong', 'err:ErrSchedulerWrongWorkerInput', 'm1->w2,m2->w1,m3->w3', 'w4', '', ''),
      |  (8, 'twas_relay', 'err:ErrSchedulerBoundDiffWithStartedRelay', 'm1->w2,m2->w1,m3->w3', '', 'w4:m1', ''),
      |  (9, 'stale_load', 'stale', 'm1->w2,m2->w1,m3->w3', '', 'w4:m1', '')
      |) v(i, kase, res, bounds, free, relay, unb), b""".stripMargin

  /**
   * q295 — load-task placement: a dump/load unit leaves its files on the
   * worker that ran it, so the scheduler steers sources back to their
   * load homes. The script drives all four probes of
   * getNextLoadTaskTransfer (scheduler.go:2607-2646): an unbound source
   * whose files live on the newly free worker; a bound source stolen
   * from a worker with no files for it; a free worker holding the
   * source's files; the 4-way swap via transferWorkerAndSource
   * (:558-672) incl. its wrong-input and started-relay validations; plus
   * handleLoadTaskDel's resolve (:2698-2715) and the stale-load guard
   * (a load record whose subtask is gone stops counting, :2649-2667).
   */
  val loadTaskTransfer = GateQuery(
    "q295_load_task_transfer",
    Some(q295Oracle)) { (spark, dir) =>
    import spark.implicits._
    val base = Tables.load(spark, dir, "region").count().toInt
    val k = new Kernel
    (1 to 4).foreach(i => k.addWorker(s"w$i", s"addr$i"))
    (1 to 4).foreach(i => k.workerOnline(s"w$i"))
    Seq("m1", "m2", "m3").foreach(s => k.addSourceCfg(SourceCfg(s)))
    k.addSubTasks("Running", Seq(
      ("lt", "m1", "Load"), ("lt", "m2", "Load"), ("lt", "m3", "Load")))
    def tok(r: Either[String, Any]): String =
      r.fold(e => s"err:$e", _ => "ok")
    val steps = Seq[(String, () => String)](
      // m1's files are on w2 (bound to m2): resolve swaps the pair
      ("swap", () => {
        k.loadTaskPut("lt", "m1", "w2")
        tok(k.tryResolveLoadTask("w1", "m1"))
      }),
      // m3's files are on the FREE worker w4: handoff, w3 comes out free
      ("handoff", () => {
        k.loadTaskPut("lt", "m3", "w4")
        tok(k.tryResolveLoadTask("w3", "m3"))
      }),
      // drain the free worker, orphan m2 (its files on w1), then w1's
      // re-online finds the unbound load home first
      ("drain", () => tok(k.workerOffline("w3"))),
      ("orphan", () => {
        k.loadTaskPut("lt", "m2", "w1")
        tok(k.workerOffline("w1"))
      }),
      ("load_home", () => tok(k.workerOnline("w1"))),
      // m3's files move to the offline w3; its re-online steals m3 from
      // w4 (which holds no files for it)
      ("steal", () => {
        k.loadTaskPut("lt", "m3", "w3")
        tok(k.workerOnline("w3"))
      }),
      // deleting the record re-resolves; everything is already home
      ("del_noop", () => tok(k.loadTaskDel("lt", "m3"))),
      // 4-way swap validations
      ("twas_wrong", () =>
        tok(k.transferWorkerAndSource("w1", "m1", "w2", "m2"))),
      ("twas_relay", () => {
        k.startRelay("m1", Seq("w4"))
        tok(k.transferWorkerAndSource("w4", "", "w3", "m3"))
      }),
      // a load record whose subtask is gone stops counting
      ("stale_load", () => {
        k.removeSubTasks("lt", Seq("m1"))
        if (k.hasLoadTask("w2", "m1")) "counts" else "stale"
      }))
    val rows = steps.zipWithIndex.map { case ((kase, run), i) =>
      val res = run()
      val (bounds, free, relay, unb) = k.snapshot()
      (base + i, kase, res, bounds, free, relay, unb)
    }
    rows.toDF("step", "kase", "res", "bounds", "free", "relay", "unb")
  }

  private val q297Oracle: String =
    """WITH b AS (SELECT CAST(count(*) AS INT) AS base FROM region)
      |SELECT b.base + v.i AS step, v.kind, v.a, v.b, v.c, v.d
      |FROM (VALUES
      |  (0, 'sections', 'leader,master,worker', '', '', ''),
      |  (1, 'sections', 'leader', '', '', ''),
      |  (2, 'sections', 'master,worker', '', '', ''),
      |  (3, 'worker', 'w1', 'addr1', 'bound', 'm1'),
      |  (4, 'worker', 'w2', 'addr2', 'free', ''),
      |  (5, 'worker', 'w3', 'addr3', 'offline', ''),
      |  (6, 'worker_filtered', 'w2', 'addr2', 'free', ''),
      |  (7, 'off_both', 'should specify either --master or --worker',
      |     '', '', ''),
      |  (8, 'off_neither', 'should specify either --master or --worker',
      |     '', '', ''),
      |  (9, 'off_noname', 'a member name must be specified', '', '', ''),
      |  (10, 'off_online', 'ErrSchedulerWorkerOnline', '', '', ''),
      |  (11, 'off_unknown', 'ErrSchedulerWorkerNotExist', '', '', ''),
      |  (12, 'off_ok', 'ok', '', '', ''),
      |  (13, 'off_badtype', 'ErrMasterInvalidOfflineType', '', '', ''),
      |  (14, 'leader_op', 'evict', '1', '', ''),
      |  (15, 'leader_op', 'cancel-evict', '2', '', ''),
      |  (16, 'leader_op', 'foo', '0', '', '')
      |) v(i, kind, a, b, c, d), b""".stripMargin

  /**
   * q297 — dmctl member ops ([[graft.streaming.MemberOps]];
   * dm/master/server.go ListMember/OfflineMember + dm/ctl/master/
   * {list_member,offline_member,operate_leader}.go): the
   * default-to-all-sections rule, name-filtered worker rows rendered
   * off live scheduler agents, the offline-member validation chain
   * (exactly-one-type, required name, online-worker rejection through
   * the scheduler's RemoveWorker), and the leader-op token mapping.
   * The etcd master/leader listing is wire-protocol (COVERAGE rows);
   * the Ops strings and pb.LeaderOp values are parsed from the
   * reference in MemberOpsSpec.
   */
  val memberOps = GateQuery(
    "q297_member_ops",
    Some(q297Oracle)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.MemberOps
    val base = Tables.load(spark, dir, "region").count().toInt
    val k = new Kernel
    (1 to 3).foreach(i => k.addWorker(s"w$i", s"addr$i"))
    Seq("w1", "w2").foreach(k.workerOnline)
    k.addSourceCfg(SourceCfg("m1")) // binds w1
    def off(m: Boolean, w: Boolean, name: String): String =
      MemberOps.offlineMemberType(m, w, name)
        .flatMap(t => MemberOps.offlineMember(k, t, name))
        .fold(identity, _ => "ok")
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, String, String, String, String)]
    var i = 0
    def add(kind: String, a: String, b: String = "", c: String = "",
        d: String = ""): Unit = {
      rows += ((base + i, kind, a, b, c, d)); i += 1
    }
    add("sections", MemberOps.sections(false, false, false).mkString(","))
    add("sections", MemberOps.sections(true, false, false).mkString(","))
    add("sections", MemberOps.sections(false, true, true).mkString(","))
    MemberOps.listWorkers(k, Seq.empty).foreach { case (n, a, st, src) =>
      add("worker", n, a, st, src)
    }
    MemberOps.listWorkers(k, Seq("w2")).foreach { case (n, a, st, src) =>
      add("worker_filtered", n, a, st, src)
    }
    add("off_both", off(m = true, w = true, "w1"))
    add("off_neither", off(m = false, w = false, "w1"))
    add("off_noname", off(m = false, w = true, ""))
    add("off_online", off(m = false, w = true, "w1"))
    add("off_unknown", off(m = false, w = true, "w9"))
    add("off_ok", off(m = false, w = true, "w3"))
    add("off_badtype",
      MemberOps.offlineMember(k, "pd", "w1").fold(identity, _ => "ok"))
    add("leader_op", "evict", MemberOps.leaderOp("evict").toString)
    add("leader_op", "cancel-evict",
      MemberOps.leaderOp("cancel-evict").toString)
    add("leader_op", "foo", MemberOps.leaderOp("foo").toString)
    rows.toSeq.toDF("step", "kind", "a", "b", "c", "d")
  }

  /**
   * q298 — bootstrap recovery ([[SourceScheduler.Kernel.bootstrap]];
   * scheduler.go:226-310 Start + :1865-2016 recover*): a restarted
   * DM-master leader reconciling persisted state. Six scenarios:
   * `conflict` = a worker persisted BOTH a relay membership and a bound
   * for a different source — the bound is dropped (:1966-1972, the
   * TestWorkerHasDiffRelayAndBound shape); `purge` = an enable-relay
   * source's leftover per-worker relay configs are deleted (:1877-1884,
   * the TestUpgradeCauseConflictRelayType shape); `dead` = a bound on a
   * worker that lost keep-alive is dropped and the source rebinds in
   * the post-recovery sweep; `nocfg` = a bound without a source config
   * is dropped; `sweep` = the bind sweep honors the RECOVERED lastBound
   * preference; `relaybind` = a recovered relay worker binds its relay
   * source in the sweep. Per scenario: the full snapshot plus the
   * etcd-delete log (which stale bounds / relay configs a real leader
   * would remove).
   */
  val bootstrapRecovery = GateQuery(
    "q298_bootstrap_recovery",
    Some("""WITH b AS (SELECT CAST(count(*) AS INT) AS base FROM region)
      |SELECT b.base + v.i AS step, v.kase, v.bounds, v.free, v.relay,
      |  v.unb, v.dels
      |FROM (VALUES
      |  (0, 'conflict', '', '', 'w1:r2', 'r1,r2', 'del-bound:w1'),
      |  (1, 'purge', 'r1->w1', 'w2', '', '',
      |     'del-relay-config:r1/w1,del-relay-config:r1/w2'),
      |  (2, 'dead', 'r1->w2', '', '', '', 'del-bound:w1'),
      |  (3, 'nocfg', 'r1->w1', '', '', '', 'del-bound:w1'),
      |  (4, 'sweep', 'rA->w1,rB->w2', '', '', '', ''),
      |  (5, 'relaybind', 'rC->w1', '', '', '', '')
      |) v(i, kase, bounds, free, relay, unb, dels), b""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      val base = Tables.load(spark, dir, "region").count().toInt
      def scenario(kase: String)(run: Kernel => Unit)
          : (String, String, String, String, String) = {
        val k = new Kernel
        run(k)
        val (bounds, free, relay, unb) = k.snapshot()
        val dels = k.log.filter(l =>
          l.startsWith("del-bound:") || l.startsWith("del-relay-config:"))
        (kase, bounds, free, relay, unb + "|" + dels.mkString(","))
      }
      val rows = Seq(
        scenario("conflict")(_.bootstrap(
          cfgs = Seq(SourceCfg("r1"), SourceCfg("r2")),
          workerInfos = Seq(("w1", "a1")),
          sbm = Map("w1" -> "r1"), lastBounds = Map.empty,
          aliveWorkers = Set("w1"),
          relayCfg = Map("r2" -> Set("w1")), bindAfter = false)),
        scenario("purge")(_.bootstrap(
          cfgs = Seq(SourceCfg("r1", enableRelay = true)),
          workerInfos = Seq(("w1", "a1"), ("w2", "a2")),
          sbm = Map("w1" -> "r1"), lastBounds = Map.empty,
          aliveWorkers = Set("w1", "w2"),
          relayCfg = Map("r1" -> Set("w1", "w2")), bindAfter = false)),
        scenario("dead")(_.bootstrap(
          cfgs = Seq(SourceCfg("r1")),
          workerInfos = Seq(("w1", "a1"), ("w2", "a2")),
          sbm = Map("w1" -> "r1"), lastBounds = Map.empty,
          aliveWorkers = Set("w2"), relayCfg = Map.empty)),
        scenario("nocfg")(_.bootstrap(
          cfgs = Seq(SourceCfg("r1")),
          workerInfos = Seq(("w1", "a1")),
          sbm = Map("w1" -> "rX"), lastBounds = Map.empty,
          aliveWorkers = Set("w1"), relayCfg = Map.empty)),
        scenario("sweep")(_.bootstrap(
          cfgs = Seq(SourceCfg("rA"), SourceCfg("rB")),
          workerInfos = Seq(("w1", "a1"), ("w2", "a2")),
          sbm = Map.empty, lastBounds = Map("w2" -> "rB"),
          aliveWorkers = Set("w1", "w2"), relayCfg = Map.empty)),
        scenario("relaybind")(_.bootstrap(
          cfgs = Seq(SourceCfg("rC")),
          workerInfos = Seq(("w1", "a1")),
          sbm = Map.empty, lastBounds = Map.empty,
          aliveWorkers = Set("w1"),
          relayCfg = Map("rC" -> Set("w1")))))
      rows.zipWithIndex.map { case ((kase, bounds, free, relay, ud), i) =>
        val Array(unb, dels) = ud.split("\\|", -1)
        (base + i, kase, bounds, free, relay, unb, dels)
      }.toDF("step", "kase", "bounds", "free", "relay", "unb", "dels")
  }

  val all: Seq[GateQuery] =
    Seq(sourceScheduler, schedulerRelayOps, loadTaskTransfer, memberOps,
      bootstrapRecovery)
}
