package graft.streaming

import com.fasterxml.jackson.databind.{JsonNode, ObjectMapper}
import com.fasterxml.jackson.dataformat.yaml.YAMLFactory
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{Filters, Routing}

/**
 * L2 — DM task lifecycle (SURVEY.md §2.14, §3.2): parse the reference's
 * task YAML (dm/config/task.go field names: `name`, `task-mode`,
 * `mysql-instances[].{source-id, block-allow-list, route-rules,
 * filter-rules, expression-filters, meta.binlog-pos}`, and the named
 * `block-allow-list` / `routes` / `filters` / `expression-filters` rule
 * tables) into the engine's own rule types, and run the task as one
 * Spark job (full mode) or changefeed (incremental/all) per upstream
 * instance.
 *
 * Spark-first mapping of the three DM units (dm/worker/subtask.go
 * createUnits): dump+load = one batch `pipeline(...).write` over the
 * snapshot source (Spark's distributed scan replaces mydumper/lightning
 * worker pools); sync = the changefeed runtime. The per-unit worker-count
 * knobs disappear — Spark's scheduler owns parallelism.
 *
 * Stage machine per subtask (dm/pb/dmworker.pb.go:107-115 New/Running/
 * Paused/Stopped/Finished; the transitional Pausing/Resuming/Stopping
 * states collapse because our lifecycle ops are synchronous). Illegal
 * transitions are rejected exactly where dmctl would reject the op.
 */
object DmTask {

  // ---- stages ----------------------------------------------------------

  sealed abstract class Stage(val name: String)
  case object New      extends Stage("New")
  case object Running  extends Stage("Running")
  case object Paused   extends Stage("Paused")
  case object Stopped  extends Stage("Stopped")
  case object Finished extends Stage("Finished")

  // ---- config model (subset of dm/config/task.go) ----------------------

  final case class InstanceConfig(sourceId: String,
                                  tableRules: Seq[Filters.TableRule],
                                  routes: Seq[Routing.RouteRule],
                                  eventRules: Seq[Filters.EventRule],
                                  exprRules: Seq[Filters.ExprRule],
                                  startFromTs: Option[Long])

  final case class TaskConfig(name: String,
                              taskMode: String, // full | incremental | all
                              sinkUri: String,
                              safeModeUntilTs: Option[Long],
                              compact: Boolean,
                              instances: Seq[InstanceConfig]) {
    require(Set("full", "incremental", "all").contains(taskMode),
      s"invalid task-mode: $taskMode") // dm/config/task.go:703-706
    require(instances.nonEmpty, "task needs at least one mysql-instance")
  }

  private val yaml = new ObjectMapper(new YAMLFactory())

  private def strings(n: JsonNode): Seq[String] = {
    import scala.jdk.CollectionConverters._
    if (n == null) Nil else n.elements().asScala.map(_.asText()).toSeq
  }

  /** Parse the task YAML. Unknown keys are ignored (the reference's config
    * surface is far wider; everything Spark subsumes — worker counts, pool
    * sizes, mydumper paths — parses as no-ops). */
  def parse(text: String): TaskConfig = {
    import scala.jdk.CollectionConverters._
    val root = yaml.readTree(text)
    def section(key: String): Map[String, JsonNode] =
      Option(root.get(key)).map(_.properties().asScala.map(e => e.getKey -> e.getValue).toMap)
        .getOrElse(Map.empty)

    // block-allow-list: do-dbs / do-tables / ignore-dbs / ignore-tables
    // (dm table filter semantics: do-* = allow-list, ignore-* = deny).
    val baLists = section("block-allow-list").map { case (name, n) =>
      val doDbs = strings(n.get("do-dbs")).map(p => Filters.TableRule(p, "*", allow = true))
      val doTables = Option(n.get("do-tables")).toSeq.flatMap(_.elements().asScala).map(t =>
        Filters.TableRule(t.get("db-name").asText(), t.get("tbl-name").asText(), allow = true))
      val ignDbs = strings(n.get("ignore-dbs")).map(p => Filters.TableRule(p, "*", allow = false))
      val ignTables = Option(n.get("ignore-tables")).toSeq.flatMap(_.elements().asScala).map(t =>
        Filters.TableRule(t.get("db-name").asText(), t.get("tbl-name").asText(), allow = false))
      // deny rules FIRST so they win under last-match-wins evaluation;
      // with no allow rules at all, everything not denied passes.
      val allows = doDbs ++ doTables
      name -> (if (allows.isEmpty) Seq(Filters.TableRule("*", "*", allow = true)) ++ ignDbs ++ ignTables
               else allows ++ ignDbs ++ ignTables)
    }

    val routeTable = section("routes").map { case (name, n) =>
      name -> Routing.RouteRule(
        n.get("schema-pattern").asText(),
        Option(n.get("table-pattern")).map(_.asText()).getOrElse("*"),
        n.get("target-schema").asText(),
        // missing target-table = schema-only routing (keep table name)
        Option(n.get("target-table")).map(_.asText()).getOrElse(""))
    }

    // binlog event filters: events=[insert|update|delete], action: Ignore
    val filterTable = section("filters").map { case (name, n) =>
      val action = Option(n.get("action")).map(_.asText()).getOrElse("Ignore")
      require(action == "Ignore", s"filter $name: only action=Ignore is supported")
      val ops = strings(n.get("events")).map {
        case "insert" => "I"
        case "update" => "U"
        case "delete" => "D"
        case "all"    => "*"
        case other    => throw new IllegalArgumentException(s"unknown event: $other")
      }.toSet
      name -> Filters.EventRule(
        n.get("schema-pattern").asText(),
        Option(n.get("table-pattern")).map(_.asText()).getOrElse("*"),
        ignoreOps = if (ops.contains("*")) Set("I", "U", "D") else ops)
    }

    // expression filters: skip rows of an op kind where the SQL expr holds
    val exprTable = section("expression-filters").flatMap { case (name, n) =>
      val cases = Seq(
        "insert-value-expr" -> "I",
        "update-new-value-expr" -> "U",
        "delete-value-expr" -> "D")
      val rules = cases.flatMap { case (key, op) =>
        Option(n.get(key)).map(e => Filters.ExprRule(op, e.asText()))
      }
      rules.map(r => s"$name/${r.op}" -> r)
    }

    val instances = Option(root.get("mysql-instances")).toSeq
      .flatMap(_.elements().asScala).map { inst =>
        val ba = Option(inst.get("block-allow-list")).map(_.asText())
        val routes = strings(inst.get("route-rules")).map(routeTable)
        val evs = strings(inst.get("filter-rules")).map(filterTable)
        val exprs = strings(inst.get("expression-filters"))
          .flatMap(n => exprTable.collect { case (k, v) if k.startsWith(n + "/") => v })
        InstanceConfig(
          sourceId = inst.get("source-id").asText(),
          tableRules = ba.map(baLists).getOrElse(Seq(Filters.TableRule("*", "*", allow = true))),
          routes = routes,
          eventRules = evs,
          exprRules = exprs,
          startFromTs = Option(inst.get("meta"))
            .flatMap(m => Option(m.get("binlog-pos"))).map(_.asLong()))
      }

    val syncer = Option(root.get("syncers")).flatMap(s =>
      Option(s.properties().asScala.headOption.map(_.getValue).orNull))
    TaskConfig(
      name = root.get("name").asText(),
      taskMode = Option(root.get("task-mode")).map(_.asText()).getOrElse("all"),
      sinkUri = Option(root.get("target-database"))
        .flatMap(t => Option(t.get("sink-uri"))).map(_.asText())
        .getOrElse("blackhole://"),
      safeModeUntilTs = syncer.flatMap(s => Option(s.get("safe-mode-until-ts"))).map(_.asLong()),
      compact = syncer.flatMap(s => Option(s.get("compact"))).forall(_.asBoolean()),
      instances = instances)
  }

  /** The per-instance changefeed spec a task compiles to. */
  def specFor(cfg: TaskConfig, inst: InstanceConfig, checkpointRoot: String): ChangefeedSpec =
    ChangefeedSpec(
      id = s"${cfg.name}/${inst.sourceId}",
      tableRules = inst.tableRules,
      eventRules = inst.eventRules,
      exprRules = inst.exprRules,
      routes = inst.routes,
      compact = cfg.compact,
      safeModeUntilTs = cfg.safeModeUntilTs,
      checkpointDir = s"$checkpointRoot/${cfg.name}/${inst.sourceId}")
}

/**
 * Task lifecycle driver: start-task / pause-task / resume-task / stop-task /
 * query-status (dmctl verbs, dm/master/server.go). One subtask per
 * mysql-instance; the task stage is the min of its subtask stages,
 * mirroring how dmctl reports per-source stages under one task name.
 */
final class DmTaskManager(spark: SparkSession, checkpointRoot: String) {
  import DmTask._

  private final case class SubTask(inst: InstanceConfig, var stage: Stage,
                                   var streamSrc: Option[() => DataFrame] = None,
                                   var lastError: Option[String] = None)
  private final case class Task(cfg: TaskConfig, subs: Seq[SubTask],
                                sink: (DataFrame, Long) => Unit)

  private val tasks = collection.concurrent.TrieMap.empty[String, Task]
  private val feeds = new ChangefeedManager(spark)

  /** start-task: full snapshot first (full/all), then the changefeed
    * (incremental/all). Sources are keyed by `source-id`; each thunk
    * yields that upstream's envelope DataFrame (batch for the snapshot,
    * streaming for sync — the caller picks per mode, matching how a DM
    * worker is handed both a dump and a binlog connection). */
  def startTask(yamlText: String,
                snapshotSources: Map[String, () => DataFrame] = Map.empty,
                streamSources: Map[String, () => DataFrame] = Map.empty,
                sinkOverride: Option[(DataFrame, Long) => Unit] = None): String = {
    val cfg = parse(yamlText)
    require(!tasks.contains(cfg.name), s"task ${cfg.name} already exists")
    // sinkOverride: embedding hook for custom downstream apply (tests,
    // fault-injecting harnesses); production tasks resolve the task YAML's
    // sink-uri.
    val sink = sinkOverride.getOrElse(Sinks.forUri(spark, cfg.sinkUri))

    val subs = cfg.instances.map { inst =>
      val st = SubTask(inst, New)
      try {
        if (cfg.taskMode == "full" || cfg.taskMode == "all") {
          // dump+load as ONE distributed batch job through the same pipeline
          val snap = snapshotSources.getOrElse(inst.sourceId,
            throw new IllegalArgumentException(s"no snapshot source for ${inst.sourceId}"))
          val spec = specFor(cfg, inst, checkpointRoot)
          sink(Changefeed.pipeline(snap(), spec)
            .transform(d => if (cfg.compact) Changefeed.compactRouted(d) else d),
            -1L)
        }
        if (cfg.taskMode == "incremental" || cfg.taskMode == "all") {
          val raw = streamSources.getOrElse(inst.sourceId,
            throw new IllegalArgumentException(s"no stream source for ${inst.sourceId}"))
          // meta.binlog-pos = resume point: events at-or-before it are
          // already in the snapshot (dm/config/task.go Meta)
          val src = inst.startFromTs match {
            case Some(ts) => () => raw().filter(col("commit_ts") > ts)
            case None => raw
          }
          st.streamSrc = Some(src)
          feeds.create(specFor(cfg, inst, checkpointRoot), src)(sink)
          st.stage = Running
        } else {
          st.stage = Finished // full-only task completes with the load
        }
      } catch {
        // a failing unit pauses its subtask with the error recorded —
        // dmctl query-status surfaces it, handle-error + resume recover
        // (dm/worker subtask error → stage Paused with Result.Errors).
        // NonFatal only: an OOM/LinkageError must propagate, not be
        // recorded as a recoverable 'Paused' subtask.
        case scala.util.control.NonFatal(e) =>
          st.stage = Paused
          st.lastError = Some(rootMessage(e))
      }
      st
    }
    tasks.put(cfg.name, Task(cfg, subs, sink))
    cfg.name
  }

  private def rootMessage(e: Throwable): String = {
    var c = e
    while (c.getCause != null && c.getCause != c) c = c.getCause
    Option(c.getMessage).getOrElse(c.getClass.getSimpleName)
  }

  private def task(name: String): Task =
    tasks.getOrElse(name, throw new NoSuchElementException(s"task $name not found"))

  private def transition(name: String, from: Set[Stage], to: Stage)
                        (effect: SubTask => Unit): Unit = {
    val t = task(name)
    val movable = t.subs.filter(s => from.contains(s.stage))
    require(movable.nonEmpty,
      s"task $name: no subtask in ${from.map(_.name).mkString("/")} to move to ${to.name}")
    movable.foreach { s => effect(s); s.stage = to }
  }

  def pauseTask(name: String): Unit =
    transition(name, Set(Running), Paused) { s =>
      feeds.pause(s"$name/${s.inst.sourceId}")
    }

  /** resume-task: a subtask that fails again while draining STAYS Paused
    * with the new error recorded (dmctl resume-task reports the failure;
    * query-status carries it) — it does not throw out of the manager. */
  def resumeTask(name: String): Unit = {
    val t = task(name)
    val movable = t.subs.filter(_.stage == Paused)
    require(movable.nonEmpty, s"task $name: no paused subtask to resume")
    movable.foreach { s =>
      try {
        feeds.resume(s"$name/${s.inst.sourceId}")
        s.stage = Running
        s.lastError = None
      } catch {
        case scala.util.control.NonFatal(e) => s.lastError = Some(rootMessage(e))
      }
    }
  }

  /**
   * handle-error (dmctl, dm/syncer/err-operator): recover a subtask that
   * paused on a failing event. `skip` drops the named events from the
   * source; `replace` rewrites their columns with the supplied values
   * (the engine analog of "apply these statements instead of the binlog
   * event"). The wrapped source is swapped into the paused changefeed —
   * the checkpoint is untouched, so the failed (uncommitted) batch
   * replays through the new source on the next resume; committed batches
   * never replay. Resume is explicit, as with dmctl.
   */
  def handleError(name: String, sourceId: String, action: String,
                  seqs: Seq[Long],
                  replaceValues: Map[String, org.apache.spark.sql.Column] = Map.empty): Unit = {
    val t = task(name)
    val s = t.subs.find(_.inst.sourceId == sourceId).getOrElse(
      throw new NoSuchElementException(s"subtask $sourceId not found in $name"))
    require(s.stage == Paused, s"handle-error applies to a PAUSED subtask; " +
      s"$sourceId is ${s.stage.name}")
    val orig = s.streamSrc.getOrElse(
      throw new IllegalStateException(s"subtask $sourceId has no stream unit"))
    require(seqs.nonEmpty, "handle-error needs the failing event seq(s)")
    val matches = col("seq").isin(seqs: _*)
    val wrapped: () => DataFrame = action match {
      case "skip" => () => orig().filter(!matches)
      case "replace" =>
        require(replaceValues.nonEmpty, "replace needs replacement values")
        () => {
          val d = orig()
          d.select(d.columns.toSeq.map { c =>
            replaceValues.get(c)
              .map(v => when(matches, v).otherwise(col(c)).as(c))
              .getOrElse(col(c))
          }: _*)
        }
      case other =>
        throw new IllegalArgumentException(s"unknown handle-error action: $other")
    }
    s.streamSrc = Some(wrapped)
    feeds.swapSource(s"$name/${s.inst.sourceId}", wrapped)
  }

  /** stop-task tears the subtasks down; unlike pause, the task is removed
    * (dm stop-task semantics — a stopped task must be re-started). */
  def stopTask(name: String): Unit = {
    transition(name, Set(Running, Paused, Finished, New), Stopped) { s =>
      feeds.delete(s"$name/${s.inst.sourceId}")
    }
    tasks.remove(name)
    ()
  }

  /** query-status: per-subtask stage rows (dmctl query-status shape). */
  def queryStatus(name: String): Seq[Map[String, String]] = {
    val t = task(name)
    t.subs.map(s => Map(
      "task" -> name,
      "source" -> s.inst.sourceId,
      "taskMode" -> t.cfg.taskMode,
      "stage" -> s.stage.name,
      "error" -> s.lastError.getOrElse("")))
  }

  def list(): Seq[String] = tasks.keys.toSeq.sorted
}
