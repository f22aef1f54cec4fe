package graft

import java.nio.file.Files
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{Changefeed, DmTask, DmTaskManager, Sinks}
import graft.operators.Filters

// top-level so both MemoryStream and Seq(...).toDF() derive the encoder
case class DmEv(seq: Long, op: String, commit_ts: Long, start_ts: Long,
                source_id: Int, schema_name: String, table_name: String,
                pk: Long, pk_after: Long, val_before: Option[Double],
                val_after: Option[Double], etype: String)

/** L2 DM task lifecycle: task YAML → rules, full/incremental/all modes,
  * stage machine legality (dm/pb Stage semantics, dmctl verbs). */
class DmTaskSpec extends SparkSpec {
  import spark.implicits._
  private type Ev = DmEv
  private def Ev = DmEv

  private def ev(seq: Long, db: String, t: String, pk: Long, v: Double,
                 op: String = "I"): Ev =
    Ev(seq, op, 100 + seq, 99 + seq, 0, db, t, pk, pk, None, Some(v), "e")

  private val taskYaml =
    """name: shard-merge
      |task-mode: all
      |target-database:
      |  sink-uri: "state://SINKDIR"
      |mysql-instances:
      |  - source-id: "src-1"
      |    block-allow-list: "ba"
      |    route-rules: ["merge"]
      |    filter-rules: ["no-del"]
      |    expression-filters: ["small"]
      |    meta:
      |      binlog-pos: 102
      |block-allow-list:
      |  ba:
      |    do-dbs: ["shop*"]
      |    ignore-tables:
      |      - db-name: "shop_1"
      |        tbl-name: "scratch"
      |routes:
      |  merge:
      |    schema-pattern: "shop_*"
      |    table-pattern: "t_*"
      |    target-schema: "shop"
      |    target-table: "t"
      |filters:
      |  no-del:
      |    schema-pattern: "*"
      |    table-pattern: "*"
      |    events: ["delete"]
      |    action: Ignore
      |expression-filters:
      |  small:
      |    schema: "shop"
      |    table: "t"
      |    insert-value-expr: "val_after < 0"
      |""".stripMargin

  test("task YAML parses into engine rule types") {
    val cfg = DmTask.parse(taskYaml.replace("SINKDIR", "/tmp/x"))
    assert(cfg.name == "shard-merge" && cfg.taskMode == "all")
    val i = cfg.instances.head
    assert(i.sourceId == "src-1" && i.startFromTs.contains(102L))
    // allow-list dbs first, deny rules after (last-match-wins ⇒ deny wins)
    assert(i.tableRules == Seq(
      Filters.TableRule("shop*", "*", allow = true),
      Filters.TableRule("shop_1", "scratch", allow = false)))
    assert(i.routes.head.targetSchema == "shop" && i.routes.head.targetTable == "t")
    assert(i.eventRules.head.ignoreOps == Set("D"))
    assert(i.exprRules == Seq(Filters.ExprRule("I", "val_after < 0")))
  }

  test("schema-only route keeps the source table name") {
    val cfg = DmTask.parse(
      """name: t2
        |task-mode: full
        |mysql-instances:
        |  - source-id: "s"
        |    route-rules: ["r"]
        |routes:
        |  r:
        |    schema-pattern: "shop_*"
        |    target-schema: "shop"
        |""".stripMargin)
    val snap = Seq(ev(1, "shop_7", "orders", 1, 5)).toDF()
    val routed = graft.operators.Routing.route(snap, cfg.instances.head.routes)
    val r = routed.select("target_schema", "target_table").as[(String, String)].head()
    assert(r == ("shop", "orders"))
  }

  test("all-mode: snapshot load + changefeed, stage machine, shard merge") {
    val dir = Files.createTempDirectory("graft_dm").toString
    val mgr = new DmTaskManager(spark, s"$dir/ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]

    // snapshot: two shards merge into shop.t; scratch + other db excluded;
    // a delete filtered; a negative insert expression-filtered
    val snapRows = Seq(
      ev(1, "shop_1", "t_1", 1, 10),
      ev(2, "shop_2", "t_2", 2, 20),
      ev(3, "shop_1", "scratch", 9, 90),  // ignore-tables
      ev(4, "crm", "t_1", 8, 80),         // not in do-dbs
      ev(5, "shop_1", "t_1", 7, -7),      // expression filter
      ev(6, "shop_2", "t_2", 6, 60, op = "D")) // event filter
    val name = mgr.startTask(
      taskYaml.replace("SINKDIR", s"$dir/state"),
      snapshotSources = Map("src-1" -> (() => snapRows.toDF())),
      streamSources = Map("src-1" -> (() => mem.toDF())))

    assert(name == "shard-merge")
    assert(mgr.queryStatus(name).map(_("stage")) == Seq("Running"))
    val afterSnap = Sinks.readState(spark, s"$dir/state")
      .select("pk", "final_val").as[(Long, Double)].collect().toMap
    assert(afterSnap == Map(1L -> 10.0, 2L -> 20.0))

    // incremental rows: one below binlog-pos (already in snapshot → must
    // be skipped), one above
    mem.addData(ev(2, "shop_2", "t_2", 2, 20), ev(50, "shop_1", "t_1", 3, 30))
    mgr.pauseTask(name)
    assert(mgr.queryStatus(name).map(_("stage")) == Seq("Paused"))
    intercept[IllegalArgumentException](mgr.pauseTask(name)) // already paused
    mgr.resumeTask(name)
    val afterSync = Sinks.readState(spark, s"$dir/state")
      .select("pk", "final_val").as[(Long, Double)].collect().toMap
    assert(afterSync == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))

    mgr.stopTask(name)
    assert(mgr.list().isEmpty)
    intercept[NoSuchElementException](mgr.queryStatus(name))
  }

  test("full load and a catch-up changefeed of one spec leave the same state") {
    // DM's full load runs the changefeed's own batch body: over the same
    // rows, a full-mode task and Changefeed.start with the spec the task
    // compiles to must agree bucket for bucket
    val dir = Files.createTempDirectory("graft_dm_body").toString
    val rows = Seq(
      ev(1, "shop_1", "t_1", 1, 10),
      ev(2, "shop_2", "t_2", 2, 20),
      ev(3, "shop_1", "t_1", 1, 11, op = "U"),  // folds onto pk 1
      ev(4, "shop_2", "t_2", 1, 12, op = "U"),  // shard merge: same target key
      ev(5, "shop_1", "scratch", 9, 90),        // ignore-tables
      ev(6, "crm", "t_1", 8, 80),               // not in do-dbs
      ev(7, "shop_1", "t_1", 7, -7),            // expression filter
      ev(8, "shop_2", "t_2", 2, 0, op = "D"),   // event filter
      ev(9, "shop_1", "t_1", 3, 30))
    val yaml = taskYaml.replace("task-mode: all", "task-mode: full")
      .replace("SINKDIR", s"$dir/load")
    val mgr = new DmTaskManager(spark, s"$dir/ckpt")
    mgr.startTask(yaml, snapshotSources = Map("src-1" -> (() => rows.toDF())))
    assert(mgr.queryStatus("shard-merge").map(_("stage")) == Seq("Finished"))

    val cfg = DmTask.parse(yaml)
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    mem.addData(rows: _*)
    Changefeed.start(spark, mem.toDF(),
        DmTask.specFor(cfg, cfg.instances.head, s"$dir/feed-ckpt"))(
      Sinks.forUri(spark, s"state://$dir/feed")).awaitTermination()

    def state(sub: String) = {
      val df = Sinks.readState(spark, s"$dir/$sub")
      df.select(df.columns.sorted.map(org.apache.spark.sql.functions.col): _*)
        .collect().map(_.toSeq).toSet
    }
    val loaded = state("load")
    assert(loaded.size == 3, loaded) // shop.t pk 1 (merged), 2 and 3
    assert(state("feed") == loaded)
  }

  test("handle-error: skip and replace recover a paused subtask") {
    val dir = Files.createTempDirectory("graft_dmh").toString
    val mgr = new DmTaskManager(spark, s"$dir/ckpt")
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Ev]
    val out = collection.mutable.ArrayBuffer.empty[(Long, Double)]
    // refuses events with source seq 13 or 21 (insert legs surface as
    // 2*seq after update-split) unless carrying the fix value 0.0
    val sink: (org.apache.spark.sql.DataFrame, Long) => Unit = { (b, _) =>
      val rows = b.select("seq", "val_after").as[(Long, Option[Double])].collect()
      if (rows.exists { case (s, v) => (s == 26L || s == 42L) && !v.contains(0.0) })
        throw new RuntimeException("poison")
      out ++= rows.map { case (s, v) => (s, v.getOrElse(-1d)) }
    }
    mem.addData(ev(1, "db", "t", 1, 10), ev(13, "db", "t", 2, 5), ev(2, "db", "t", 3, 30))
    val y = "name: herr\ntask-mode: incremental\nmysql-instances:\n" +
      "  - source-id: \"s\"\nsyncers:\n  s1:\n    compact: false\n"
    mgr.startTask(y, streamSources = Map("s" -> (() => mem.toDF())),
      sinkOverride = Some(sink))
    // the poisoned first drain pauses the subtask with the error recorded
    // and delivers nothing (the batch rolled back)
    val st1 = mgr.queryStatus("herr").head
    assert(st1("stage") == "Paused" && st1("error").nonEmpty && out.isEmpty)
    intercept[IllegalArgumentException](
      mgr.handleError("herr", "s", "replace", Seq(13))) // replace needs values
    mgr.handleError("herr", "s", "skip", Seq(13))
    mgr.resumeTask(name = "herr")
    assert(mgr.queryStatus("herr").head("stage") == "Running")
    assert(out.map(_._1).sorted == Seq(2L, 4L)) // 13 skipped, batch replayed
    // handle-error is a paused-subtask verb
    intercept[IllegalArgumentException](mgr.handleError("herr", "s", "skip", Seq(1)))
    // second poison: pauses again on resume; replace rewrites it through
    mem.addData(ev(21, "db", "t", 4, 7))
    mgr.pauseTask("herr")
    mgr.resumeTask("herr")
    val st3 = mgr.queryStatus("herr").head
    assert(st3("stage") == "Paused" && st3("error").nonEmpty)
    mgr.handleError("herr", "s", "replace", Seq(21),
      replaceValues = Map("val_after" -> org.apache.spark.sql.functions.lit(0.0)))
    mgr.resumeTask("herr")
    assert(mgr.queryStatus("herr").head("stage") == "Running")
    assert(out.contains((42L, 0.0))) // rewritten event delivered with the fix
    mgr.stopTask("herr")
  }

  test("full-mode task finishes immediately; bad mode rejected") {
    val dir = Files.createTempDirectory("graft_dmf").toString
    val mgr = new DmTaskManager(spark, s"$dir/ckpt")
    val y =
      """name: onetime
        |task-mode: full
        |target-database:
        |  sink-uri: "state://STATE"
        |mysql-instances:
        |  - source-id: "s"
        |""".stripMargin.replace("STATE", s"$dir/state")
    mgr.startTask(y, snapshotSources = Map("s" -> (() => Seq(ev(1, "db", "t", 1, 1)).toDF())))
    assert(mgr.queryStatus("onetime").map(_("stage")) == Seq("Finished"))
    assert(Sinks.readState(spark, s"$dir/state").count() == 1)
    intercept[IllegalArgumentException](mgr.pauseTask("onetime")) // Finished can't pause

    intercept[IllegalArgumentException](
      DmTask.parse("name: x\ntask-mode: nope\nmysql-instances:\n  - source-id: s\n"))
  }
}
