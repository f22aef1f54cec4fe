package graft.streaming

import java.net.InetSocketAddress
import java.nio.charset.StandardCharsets
import com.sun.net.httpserver.{HttpExchange, HttpHandler, HttpServer}
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.{DataFrame, SparkSession}

import graft.operators.Filters

/**
 * L1 — REST lifecycle surface (SURVEY.md §2.14): the HTTP API every real
 * operator uses to drive the system, mirroring the reference's OpenAPI v2
 * route table (cdc/api/v2/api.go:39-110 — health/status, changefeed
 * create/list/get/pause/resume/delete, per-feed /status and /synced).
 *
 * Spark-first mapping: the "owner" is the Spark driver, so the server is a
 * thin JDK-HttpServer shim over [[ChangefeedManager]] — no gin/etcd
 * machinery to port. Sources are REGISTERED by name (a changefeed body
 * says `"source": "name"`) because a JSON body cannot carry a DataFrame;
 * sink URIs are parsed into the real sink implementations the same way the
 * reference parses `--sink-uri` schemes (cdc/api/v2/changefeed.go
 * verifyCreateChangefeedConfig → sink factory):
 *
 *   - `storage://<dir>`   → [[Sinks.storageSink]] (date-partitioned files)
 *   - `mysql://<dir>`     → [[Sinks.sqlFileSink]] (multi-row SQL, socket
 *                           stubbed to .sql files per SURVEY K1)
 *   - `state://<dir>`     → [[Sinks.parquetStateSink]] (bucketed table state)
 *   - `blackhole://`      → drop (reference blackhole sink)
 *
 * JSON in/out via Jackson (already on the Spark classpath).
 */
final class ApiServer(spark: SparkSession,
                      manager: ChangefeedManager,
                      sources: Map[String, () => DataFrame],
                      port: Int = 0,
                      registry: CaptureRegistry = new CaptureRegistry(
                        "default", Seq(Captures.CaptureInfo(
                          "capture-0", "127.0.0.1:8300")))) {

  private val mapper = new ObjectMapper()
  // per-feed effective sink config (sinkUri, protocol, txnAtomicity) after
  // the create's URI-wins merge — the UPDATE path's "old config" side
  private val feedCfg =
    collection.concurrent.TrieMap.empty[String, (String, String, String)]
  private val server = HttpServer.create(new InetSocketAddress("127.0.0.1", port), 0)
  private val started = System.currentTimeMillis()

  def boundPort: Int = server.getAddress.getPort

  // ---- JSON helpers ----------------------------------------------------

  private def toJson(v: Any): Object = v match {
    case m: Map[_, _] =>
      val node = mapper.createObjectNode()
      m.foreach { case (k, x) =>
        node.putPOJO(k.toString, toJson(x))
      }
      node
    case s: Seq[_] =>
      val arr = mapper.createArrayNode()
      s.foreach(x => arr.addPOJO(toJson(x)))
      arr
    case other => other.asInstanceOf[Object]
  }

  private def respond(ex: HttpExchange, code: Int, body: Any): Unit = {
    val bytes = mapper.writeValueAsBytes(toJson(body))
    ex.getResponseHeaders.set("Content-Type", "application/json")
    ex.sendResponseHeaders(code, bytes.length.toLong)
    ex.getResponseBody.write(bytes)
    ex.close()
  }

  private def error(ex: HttpExchange, code: Int, msg: String): Unit =
    respond(ex, code, Map("error_msg" -> msg))

  private def queryParams(ex: HttpExchange): Map[String, String] =
    SinkUri(ex.getRequestURI.toString).params

  private def readBody(ex: HttpExchange): Map[String, Any] = {
    val raw = new String(ex.getRequestBody.readAllBytes(), StandardCharsets.UTF_8)
    if (raw.isEmpty) Map.empty
    else {
      val node = mapper.readTree(raw)
      import scala.jdk.CollectionConverters._
      node.properties().asScala.map { e =>
        val v = e.getValue
        val x: Any =
          if (v.isTextual) v.asText()
          else if (v.isIntegralNumber) v.asLong()
          else if (v.isBoolean) v.asBoolean()
          else if (v.isArray) v.elements().asScala.map(_.asText()).toSeq
          else v.toString
        e.getKey -> x
      }.toMap
    }
  }

  /** The `replica_config` body block → [[ReplicaValidate.ReplicaConfig]]
    * (api/v2 ChangefeedConfig JSON, flattened sink fields; consistent
    * block nested as in the reference). Unset fields keep NewConfig
    * defaults — advance-timeout pre-filled so a pure-validation create
    * doesn't warn. */
  private def parseReplicaConfig(json: String): ReplicaValidate.ReplicaConfig = {
    val n = mapper.readTree(json)
    def str(k: String, d: String = "") =
      if (n.has(k)) n.get(k).asText() else d
    def lng(k: String): Option[Long] =
      if (n.has(k)) Some(n.get(k).asLong()) else None
    val cons = Option(n.get("consistent")).map { c =>
      ReplicaValidate.ConsistentConfig(
        level = if (c.has("level")) c.get("level").asText() else "none",
        maxLogSize = if (c.has("max_log_size")) c.get("max_log_size").asLong() else 0,
        flushIntervalMs =
          if (c.has("flush_interval_ms")) c.get("flush_interval_ms").asLong() else 0,
        metaFlushIntervalMs =
          if (c.has("meta_flush_interval_ms")) c.get("meta_flush_interval_ms").asLong() else 0,
        compression = if (c.has("compression")) c.get("compression").asText() else "",
        storage = if (c.has("storage")) c.get("storage").asText() else "blackhole://")
    }.getOrElse(ReplicaValidate.ConsistentConfig())
    ReplicaValidate.ReplicaConfig(
      memoryQuota = lng("memory_quota").getOrElse(0L),
      protocol = str("protocol"),
      txnAtomicity = str("transaction_atomicity"),
      encoderConcurrency =
        lng("encoder_concurrency").map(_.toInt).getOrElse(16),
      deleteOnlyOutputHandleKeyColumns =
        n.has("delete_only_output_handle_key_columns") &&
          n.get("delete_only_output_handle_key_columns").asBoolean(),
      dateSeparator = str("date_separator"),
      advanceTimeoutSec = lng("advance_timeout_sec").getOrElse(150L),
      consistent = cons,
      enableSyncPoint =
        n.has("enable_sync_point") && n.get("enable_sync_point").asBoolean(),
      syncPointIntervalSec = lng("sync_point_interval_sec"),
      syncPointRetentionSec = lng("sync_point_retention_sec"),
      integrityCheckLevel = str("integrity_check_level", "none"),
      errorStuckDurationSec = lng("error_stuck_duration_sec"))
  }

  // ---- route handlers --------------------------------------------------

  private def feedState(id: String): Map[String, Any] = {
    val st = manager.status(id)
    val machineState = manager.feedState(id)
    val state =
      if (st.get("state").contains("not-found")) "not-found"
      // the feed's OWN state machine (cdc/owner/feed_state_manager.go):
      // normal/warning/pending/stopped/failed/finished
      else if (machineState.nonEmpty) machineState
      else if (st.get("state").contains("paused")) "stopped"
      else "normal"
    // the reference's changefeed commonInfo carries the last RunningError
    // (cdc/api/v2/model.go ChangefeedCommonInfo.RunningError)
    val err = manager.feedError(id).map(e =>
      Map("code" -> e.code, "message" -> e.message)).orNull
    Map("id" -> id, "state" -> state, "error" -> err)
  }

  private def handleChangefeeds(ex: HttpExchange, tail: String): Unit = {
    val method = ex.getRequestMethod
    val parts = tail.split("/").filter(_.nonEmpty)
    (method, parts.toList) match {
      case ("GET", Nil) =>
        val items = manager.list().map(feedState)
        respond(ex, 200, Map("total" -> items.size, "items" -> items))
      case ("POST", Nil) =>
        val body = readBody(ex)
        val id = body.get("changefeed_id").map(_.toString)
          .getOrElse(return error(ex, 400, "changefeed_id is required"))
        val srcName = body.get("source").map(_.toString)
          .getOrElse(return error(ex, 400, "source is required"))
        val source = sources.getOrElse(srcName,
          return error(ex, 400, s"unknown source: $srcName"))
        val sinkUri = body.get("sink_uri").map(_.toString)
          .getOrElse(return error(ex, 400, "sink_uri is required"))
        val ckpt = body.get("checkpoint_dir").map(_.toString)
          .getOrElse(return error(ex, 400, "checkpoint_dir is required"))
        val rules = body.get("table_filter") match {
          case Some(pats: Seq[_]) => Filters.parseRules(pats.map(_.toString))
          case _ => Seq(Filters.TableRule("*", "*", allow = true))
        }
        if (manager.list().contains(id))
          return error(ex, 400, s"changefeed $id already exists")
        // creation-time eligibility rule (api/v1/validator.go:170-174,
        // api/v2/api_helpers.go:236): ineligible tables in scope reject
        // the changefeed unless force-replicate or
        // ignore-ineligible-table; with the ignore flag they are dropped
        // from scope (force-replicate keeps them, F7/force path). The
        // reference validates against schema STORAGE, not the stream —
        // here the check introspects the optional batch `introspect`
        // source (or the main source when it is batch); a streaming
        // source with no introspection snapshot skips the check, with
        // verify_table as the standalone introspection surface.
        val force = body.get("force_replicate").contains(true)
        val ignoreInel = body.get("ignore_ineligible_table").contains(true)
        val introspect = body.get("introspect").map(_.toString)
          .flatMap(sources.get).map(_ ())
          .orElse(Some(source()).filter(!_.isStreaming))
        val inel =
          introspect.map(df => ineligibility(df, rules)._2).getOrElse(Nil)
        if (inel.nonEmpty && !force && !ignoreInel)
          return error(ex, 400,
            s"ErrTableIneligible: ineligible tables: ${inel.mkString(", ")}")
        val effRules =
          if (inel.nonEmpty && !force)
            rules ++ inel.map { full =>
              val Array(s, t) = full.split("\\.", 2)
              Filters.TableRule(s, t, allow = false)
            }
          else rules
        // id validation (model.ValidateChangefeedID — the reference's
        // create runs it before anything else, api_helpers.go:118-124)
        if (!Captures.validId(id))
          return error(ex, 400,
            s"ErrInvalidChangefeedID: $id (pattern ^[a-zA-Z0-9]+(-[a-zA-Z0-9]+)*$$, max 128)")
        // create-time ts verification (ReplicaValidate.verifyTs): runs
        // when the body speaks the ts surface; current_tso defaults to
        // the declared start (PD is out of scope — the clock is declared,
        // the /synced pattern)
        var effStartTs: Option[Long] = None
        if (Seq("start_ts", "target_ts", "gc_safepoint", "current_tso")
            .exists(body.contains)) {
          def l(k: String) = body.get(k).map(_.asInstanceOf[Long])
          val startTs = l("start_ts").getOrElse(0L)
          ReplicaValidate.verifyTs(startTs,
            l("target_ts").getOrElse(0L),
            l("current_tso").getOrElse(math.max(startTs, 0L)),
            l("gc_safepoint").getOrElse(0L)) match {
            case Left((errC, msg)) => return error(ex, 400, s"$errC: $msg")
            case Right(st) => effStartTs = Some(st)
          }
        }
        // replica-config validation ROOT (ReplicaValidate ←
        // replica_config.go:245-328): runs when the create carries the
        // reference's config block, or when the sink URI itself carries
        // `protocol`/`transaction-atomicity` — rejects exactly what
        // verifyCreateChangefeedConfig rejects. Bare URIs keep the
        // existing sink defaults (the reference's MQ protocol-required
        // rule only binds once the user speaks the config surface).
        val sink = SinkUri(sinkUri)
        sink.invalid.foreach(e => return error(ex, 400, s"ErrSinkURIInvalid: $e"))
        val rcBlock = body.get("replica_config").map(_.toString)
        val rcParsed = rcBlock.map(parseReplicaConfig)
        if (rcParsed.isDefined || sink.param("protocol").isDefined ||
            sink.param("transaction-atomicity").isDefined) {
          val rc = rcParsed
            .getOrElse(ReplicaValidate.ReplicaConfig(advanceTimeoutSec = 150))
          ReplicaValidate.validateAndAdjust(sink.scheme, sink.params, rc) match {
            case Left((errC, msg)) => return error(ex, 400, s"$errC: $msg")
            case Right(_) => ()
          }
        }
        try {
          val spec = ChangefeedSpec(
            id = id,
            tableRules = effRules,
            checkpointDir = ckpt,
            safeModeUntilTs = body.get("safe_mode_until_ts").map(_.asInstanceOf[Long]),
            metricsDir = body.get("metrics_dir").map(_.toString))
          manager.create(spec, source)(Sinks.forUri(spark, sinkUri))
          // capture/processor views + /synced puller marks both key off the
          // introspectable source snapshot (absent for opaque streams)
          introspect.foreach { df =>
            val (el, il) = ineligibility(df, effRules)
            registry.setScope(id, "default", el ++ il)
          }
          body.get("introspect").map(_.toString).flatMap(sources.get)
            .foreach(th => manager.setIntrospect(id, th))
          // the UPDATE path's "old" side: config after the URI-wins merge
          feedCfg.put(id, (sinkUri,
            sink.param("protocol")
              .getOrElse(rcParsed.map(_.protocol).getOrElse("")),
            sink.param("transaction-atomicity")
              .getOrElse(rcParsed.map(_.txnAtomicity).getOrElse(""))))
          manager.setTs(id, effStartTs,
            body.get("target_ts").map(_.asInstanceOf[Long]).filter(_ > 0))
          respond(ex, 200, feedState(id) + ("sink_uri" -> sinkUri))
        } catch {
          case e: IllegalArgumentException => error(ex, 400, e.getMessage)
        }
      case ("GET", id :: Nil) =>
        if (!manager.list().contains(id)) error(ex, 404, s"changefeed $id not found")
        else respond(ex, 200, feedState(id))
      case ("GET", id :: "meta_info" :: Nil) =>
        // GET /changefeeds/{id}/meta_info (api.go:62, changefeed.go:696-745):
        // id validation first, then info + status, task_status populated
        // only for a NORMAL feed (processor placements from the hash ring)
        if (!Captures.validId(id)) error(ex, 400, s"invalid changefeed_id: $id")
        else if (!manager.list().contains(id))
          error(ex, 404, s"changefeed $id not found")
        else {
          val st = manager.status(id)
          val state = feedState(id)("state").toString
          val taskStatus =
            if (state != "normal") Seq.empty
            else registry.listCaptures().map(_("id").toString).sorted.map { cap =>
              Map("capture_id" -> cap,
                "table_ids" -> registry.tablesOn(id, cap))
            }.filter(_("table_ids").asInstanceOf[Seq[_]].nonEmpty)
          val (sinkUri, _, _) = feedCfg.getOrElse(id, ("", "", ""))
          respond(ex, 200, Map(
            "id" -> id,
            "namespace" -> "default",
            "sink_uri" -> sinkUri,
            "state" -> state,
            "error" -> feedState(id)("error"),
            "checkpoint_ts" -> st.getOrElse("lastBatch", -1L),
            "task_status" -> taskStatus))
        }
      case ("GET", id :: "status" :: Nil) =>
        if (!manager.list().contains(id)) error(ex, 404, s"changefeed $id not found")
        else respond(ex, 200, manager.status(id).map { case (k, v) => k -> v })
      case ("GET", id :: "synced" :: Nil) =>
        if (!manager.list().contains(id)) error(ex, 404, s"changefeed $id not found")
        else queryParams(ex).get("now") match {
          // with an evaluation clock (commit-ts domain) the full decision
          // kernel runs over the feed's REAL marks (SyncedStatus.decide,
          // changefeed.go:972-1102); the envelope's commit ts carries no
          // wall clock, so the caller supplies the instant
          case Some(now) =>
            val q = queryParams(ex)
            val malformed = q.toSeq.sorted.collectFirst {
              case (k @ ("now" | "sci" | "ci"), v) if v.toLongOption.isEmpty => k -> v
              case ("pd", v) if v.toBooleanOption.isEmpty => "pd" -> v
            }
            malformed match {
              case Some((k, v)) =>
                error(ex, 400, s"invalid query parameter $k: $v")
              case None =>
                // intervals come from the changefeed's replica config in
                // the reference (replica_config.go:109 defaults 5 min / 15 s)
                val cfg = SyncedStatus.SyncedConfig(
                  syncedCheckIntervalSec =
                    q.get("sci").map(_.toLong).getOrElse(300L),
                  checkpointIntervalSec =
                    q.get("ci").map(_.toLong).getOrElse(15L))
                respond(ex, 200, manager.synced(id, now.toLong,
                  pdAvailable = q.get("pd").forall(_.toBoolean), cfg))
            }
          // clockless degenerate case: AvailableNow feeds drain to the
          // source end each resume, so "drained" IS "synced"
          case None =>
            val active = manager.status(id).get("isActive").contains(true)
            respond(ex, 200, Map("synced" -> !active,
              "info" -> (if (active) "processing" else "caught up")))
        }
      case ("POST", id :: "pause" :: Nil) =>
        if (!manager.list().contains(id)) error(ex, 404, s"changefeed $id not found")
        else { manager.pause(id); respond(ex, 200, Map.empty[String, Any]) }
      case ("POST", id :: "resume" :: Nil) =>
        if (!manager.list().contains(id)) error(ex, 404, s"changefeed $id not found")
        else {
          // verifyResumeChangefeedConfig (api_helpers.go:417-455): an
          // override checkpoint of 0 means "resume from the saved
          // checkpoint" and skips every check; a real override must not
          // pass the TSO and must clear the GC safepoint (+1 rule)
          val rb = readBody(ex)
          def l(k: String) = rb.get(k).map(_.asInstanceOf[Long])
          val overrideCkpt = l("overwrite_checkpoint_ts").getOrElse(0L)
          if (overrideCkpt != 0) {
            ReplicaValidate.verifyTs(overrideCkpt, 0L,
              l("current_tso").getOrElse(overrideCkpt),
              l("gc_safepoint").getOrElse(0L)) match {
              case Left((errC, msg)) => return error(ex, 400, s"$errC: $msg")
              case Right(_) => ()
            }
          }
          manager.resume(id); respond(ex, 200, Map.empty[String, Any])
        }
      case ("PUT", id :: Nil) =>
        // updateChangefeed (cdc/api/v2/changefeed.go) +
        // verifyUpdateChangefeedConfig (api_helpers.go:295-413)
        if (!manager.list().contains(id))
          return error(ex, 404, s"changefeed $id not found")
        if (!manager.status(id).get("state").contains("paused"))
          return error(ex, 400, "ErrChangefeedUpdateRefused: can only " +
            "update changefeed config when it is stopped")
        val ub = readBody(ex)
        val (oldUri, oldP, oldA) =
          feedCfg.getOrElse(id, ("blackhole://", "", ""))
        // target_ts floor against the feed's recorded start
        val (st0, _) = manager.tsInfo(id)
        ub.get("target_ts").map(_.asInstanceOf[Long]).filter(_ != 0)
          .foreach { t =>
            if (t <= st0)
              return error(ex, 400, "ErrChangefeedUpdateRefused: can not " +
                s"update target_ts:$t less than start_ts:$st0")
          }
        val newUri = ub.get("sink_uri").map(_.toString).filter(_.nonEmpty)
        val rcBlock = ub.get("replica_config").map(_.toString)
          .map(parseReplicaConfig)
        if (newUri.isDefined || rcBlock.isDefined) {
          val effUri = newUri.getOrElse(oldUri)
          val eff = SinkUri(effUri)
          eff.invalid.foreach(e => return error(ex, 400,
            s"ErrChangefeedUpdateRefused: ErrSinkURIInvalid: $e"))
          val newP = rcBlock.map(_.protocol).getOrElse(oldP)
          val newA = rcBlock.map(_.txnAtomicity).getOrElse(oldA)
          ReplicaValidate.checkCompatibilityWithSinkUri(
              newP, newA, oldP, oldA, eff.params) match {
            case Left((errC, msg)) =>
              return error(ex, 400, s"ErrChangefeedUpdateRefused: $errC: $msg")
            case Right(()) => ()
          }
          val rc = rcBlock
            .getOrElse(ReplicaValidate.ReplicaConfig(advanceTimeoutSec = 150))
            .copy(protocol = newP, txnAtomicity = newA)
          ReplicaValidate.validateAndAdjust(eff.scheme, eff.params, rc) match {
            case Left((errC, msg)) =>
              return error(ex, 400, s"ErrChangefeedUpdateRefused: $errC: $msg")
            case Right(v) =>
              newUri.foreach { u =>
                try manager.updateSink(id, Sinks.forUri(spark, u))
                catch {
                  case e: IllegalArgumentException =>
                    return error(ex, 400,
                      s"ErrChangefeedUpdateRefused: ${e.getMessage}")
                }
              }
              feedCfg.put(id, (effUri,
                eff.param("protocol").getOrElse(v.config.protocol),
                eff.param("transaction-atomicity")
                  .getOrElse(v.config.txnAtomicity)))
          }
        }
        manager.setTs(id, None,
          ub.get("target_ts").map(_.asInstanceOf[Long]).filter(_ > 0))
        respond(ex, 200, feedState(id) +
          ("sink_uri" -> feedCfg.get(id).map(_._1).getOrElse(oldUri)))
      case ("DELETE", id :: Nil) =>
        // DELETE is idempotent in the reference (removing a missing
        // changefeed succeeds) — cdc/api/v2/changefeed.go deleteChangefeed.
        manager.delete(id)
        registry.dropScope(id)
        feedCfg.remove(id)
        respond(ex, 200, Map.empty[String, Any])
      case _ => error(ex, 404, s"no route: $method /api/v2/changefeeds/$tail")
    }
  }

  /** POST /verify_table (cdc/api/v2/changefeed.go verifyTable): report
    * which tables a filter config selects and which of those are
    * INELIGIBLE for replication. The reference's eligibility rule is "has
    * a handle key"; in the envelope model that is a non-null pk on every
    * event of the table. */
  /** (eligible, ineligible) table names for a filter scope — shared by
    * verify_table and the creation-time eligibility rule. */
  private def ineligibility(df: org.apache.spark.sql.DataFrame,
      rules: Seq[Filters.TableRule]): (Seq[String], Seq[String]) = {
    import org.apache.spark.sql.functions._
    val selected = Filters.tableFilter(df, rules)
      .groupBy("schema_name", "table_name")
      .agg(sum(when(col("pk").isNull, 1L).otherwise(0L)).as("n_no_key"))
      .collect() // one row per selected table — control-plane sized
    def names(p: org.apache.spark.sql.Row => Boolean) = selected.filter(p)
      .map(r => s"${r.getString(0)}.${r.getString(1)}").sorted.toSeq
    (names(_.getLong(2) == 0L), names(_.getLong(2) > 0L))
  }

  private def handleVerifyTable(ex: HttpExchange): Unit = {
    val body = readBody(ex)
    val srcName = body.get("source").map(_.toString)
      .getOrElse(return error(ex, 400, "source is required"))
    val source = sources.getOrElse(srcName,
      return error(ex, 400, s"unknown source: $srcName"))
    val rules = body.get("table_filter") match {
      case Some(pats: Seq[_]) => Filters.parseRules(pats.map(_.toString))
      case _ => Seq(Filters.TableRule("*", "*", allow = true))
    }
    val (eligible, ineligible) = ineligibility(source(), rules)
    respond(ex, 200, Map(
      "eligible_tables" -> eligible,
      "ineligible_tables" -> ineligible))
  }

  // ---- DM shard-DDL lock inspection (dmctl `shard-ddl-lock` [unlock];
  // reference dm/master/server.go:901-980 ShowDDLLocks/UnlockDDLLock over
  // the pessimistic coordinator's live state) --------------------------

  // the live lock table — a view over ShardDdl.coordinate state, set by
  // whoever drives the coordination (test harness / gate script)
  @volatile private var ddlLocks: Seq[ShardDdl.PessLock] = Seq.empty
  def setDdlLocks(locks: Seq[ShardDdl.PessLock]): Unit = ddlLocks = locks

  private def lockJson(v: ShardDdl.LockView): Map[String, Any] = Map(
    "ID" -> v.id, "task" -> v.task, "mode" -> v.mode, "owner" -> v.owner,
    "DDLs" -> v.ddls, "synced" -> v.synced, "unsynced" -> v.unsynced)

  private def handleShowDdlLocks(ex: HttpExchange): Unit = {
    val qp = queryParams(ex)
    val task = qp.getOrElse("task", "")
    val srcs = qp.get("sources")
      .map(_.split(",").filter(_.nonEmpty).toSeq).getOrElse(Seq.empty)
    val views = ShardDdl.showLocks(ddlLocks, task, srcs)
    respond(ex, 200, Map(
      "result" -> true,
      "msg" -> (if (views.isEmpty) "no DDL lock exists" else ""),
      "locks" -> views.map(lockJson)))
  }

  private def handleUnlockDdlLock(ex: HttpExchange): Unit = {
    val body = readBody(ex)
    val id = body.get("ID").orElse(body.get("id")).map(_.toString)
      .getOrElse(return error(ex, 400, "lock ID is required"))
    val (next, res) = ShardDdl.unlockLock(ddlLocks, id,
      body.get("replace_owner").map(_.toString).filter(_.nonEmpty),
      forceRemove = body.get("force_remove").exists(v => String.valueOf(v) == "true"),
      // the simulated outcome of pessimist.go:345-354's owner wait — the
      // reference learns it at runtime; the test surface passes it in
      ownerOpDone = !body.get("owner_op_done").exists(v => String.valueOf(v) == "false"))
    ddlLocks = next
    respond(ex, 200, Map(
      "result" -> res.ok, "msg" -> res.msg,
      "exec_owner" -> res.execOwner.orNull, "skipped" -> res.skipped))
  }

  private val handler = new HttpHandler {
    override def handle(ex: HttpExchange): Unit =
      try {
        val path = ex.getRequestURI.getPath
        (ex.getRequestMethod, path) match {
          case ("GET", "/api/v2/health") =>
            respond(ex, 200, Map.empty[String, Any])
          case ("GET", "/api/v2/status") =>
            respond(ex, 200, Map(
              "version" -> "graft-0.3",
              "id" -> spark.sparkContext.applicationId,
              "is_owner" -> true,
              "liveness" -> 0,
              "uptime_ms" -> (System.currentTimeMillis() - started)))
          case ("POST", "/api/v2/log") =>
            // POST /api/v2/log (api.go:49, log.go:36-52): body
            // {"log_level": ...} defaulting to "info"; the level set is
            // zap's vocabulary, applied to the Spark logger's nearest tier
            val level = readBody(ex).get("log_level")
              .map(_.toString).getOrElse("info")
            val log4j = Map(
              "debug" -> "DEBUG", "info" -> "INFO", "warn" -> "WARN",
              "error" -> "ERROR", "dpanic" -> "ERROR", "panic" -> "ERROR",
              "fatal" -> "FATAL")
            log4j.get(level) match {
              case None =>
                error(ex, 400, s"fail to change log level: $level")
              case Some(l) =>
                spark.sparkContext.setLogLevel(l)
                respond(ex, 200, Map.empty[String, Any])
            }
          case ("POST", "/api/v2/verify_table") =>
            handleVerifyTable(ex)
          case ("GET", "/api/v2/captures") =>
            val items = registry.listCaptures()
            respond(ex, 200, Map("total" -> items.size, "items" -> items))
          case ("POST", p) if p.startsWith("/api/v2/captures/") &&
              p.endsWith("/drain") =>
            val target = p.stripPrefix("/api/v2/captures/")
              .stripSuffix("/drain")
            registry.drain(target) match {
              case Left((err, msg)) =>
                error(ex, if (err == Captures.ErrCaptureNotExist) 404
                          else 400, s"$err: $msg")
              // 202 Accepted, as the reference's async drain responds
              case Right(n) =>
                respond(ex, 202, Map("current_table_count" -> n))
            }
          case ("GET", "/api/v2/processors") =>
            // model.FeedState.IsRunning (changefeed.go:146): normal|warning
            val items = registry.listProcessors(
              cf => Set("normal", "warning")
                .contains(feedState(cf)("state").toString))
            respond(ex, 200, Map("total" -> items.size, "items" -> items))
          case ("GET", p) if p.startsWith("/api/v2/processors/") =>
            p.stripPrefix("/api/v2/processors/").split("/")
                .filter(_.nonEmpty).toList match {
              case cf :: cap :: Nil =>
                registry.getProcessor(cf, cap,
                  f => feedState(f)("state").toString) match {
                  case Left((err, msg)) =>
                    error(ex, if (err == Captures.ErrCaptureNotExist) 404
                              else 400, s"$err: $msg")
                  case Right(tables) =>
                    respond(ex, 200, Map("tables" -> tables))
                }
              case _ => error(ex, 404, s"no route: GET $p")
            }
          case ("GET", "/api/v1/ddl-locks") =>
            handleShowDdlLocks(ex)
          case ("POST", "/api/v1/ddl-locks/unlock") =>
            handleUnlockDdlLock(ex)
          case (_, p) if p.startsWith("/api/v2/changefeeds") =>
            handleChangefeeds(ex, p.stripPrefix("/api/v2/changefeeds"))
          case (m, p) => error(ex, 404, s"no route: $m $p")
        }
      } catch {
        case e: Exception => error(ex, 500, String.valueOf(e.getMessage))
      }
  }

  def start(): ApiServer = {
    server.createContext("/", handler)
    server.setExecutor(null) // serial: lifecycle ops must not interleave
    server.start()
    this
  }

  def stop(): Unit = server.stop(0)
}
