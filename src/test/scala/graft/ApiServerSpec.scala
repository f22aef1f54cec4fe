package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.file.Files
import com.fasterxml.jackson.databind.ObjectMapper
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{ApiServer, ChangefeedManager, Sinks}

/** L1 REST surface: the full lifecycle (create → status → pause → resume →
  * synced → delete) driven purely over HTTP against the route table of the
  * reference's OpenAPI v2 (cdc/api/v2/api.go). */
class ApiServerSpec extends SparkSpec {
  import spark.implicits._

  private val http = HttpClient.newHttpClient()
  private val mapper = new ObjectMapper()

  private def ev(seq: Long, pk: Long, v: Double): StreamEv =
    StreamEv(seq, "I", 100 + seq, 99 + seq, 0, "db", "t", pk, pk, None, Some(v), "e")

  private def get(base: String, path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).GET().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def post(base: String, path: String, body: String = ""): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path))
      .POST(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def delete(base: String, path: String): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path)).DELETE().build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  private def put(base: String, path: String, body: String = ""): (Int, String) = {
    val r = http.send(HttpRequest.newBuilder(URI.create(base + path))
      .PUT(HttpRequest.BodyPublishers.ofString(body)).build(),
      HttpResponse.BodyHandlers.ofString())
    (r.statusCode(), r.body())
  }

  test("full changefeed lifecycle over HTTP") {
    val dir = Files.createTempDirectory("graft_api").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10), ev(2, 2, 20))

    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      assert(get(base, "/api/v2/health")._1 == 200)
      val (sc, sb) = get(base, "/api/v2/status")
      assert(sc == 200 && mapper.readTree(sb).get("is_owner").asBoolean())

      // empty list, then create
      assert(mapper.readTree(get(base, "/api/v2/changefeeds")._2)
        .get("total").asInt() == 0)
      val createBody =
        s"""{"changefeed_id":"cf-api","source":"mem",
           |"sink_uri":"state://$dir/state",
           |"checkpoint_dir":"$dir/ckpt"}""".stripMargin
      val (cc, cb) = post(base, "/api/v2/changefeeds", createBody)
      assert(cc == 200, cb)
      assert(Sinks.readState(spark, s"$dir/state").count() == 2)

      // validation errors
      assert(post(base, "/api/v2/changefeeds", createBody)._1 == 400) // dup id
      assert(post(base, "/api/v2/changefeeds",
        """{"changefeed_id":"x","source":"nope","sink_uri":"blackhole://",
          |"checkpoint_dir":"/tmp/x"}""".stripMargin)._1 == 400) // bad source
      assert(post(base, "/api/v2/changefeeds",
        """{"changefeed_id":"y","source":"mem","sink_uri":"ftp://z",
          |"checkpoint_dir":"/tmp/y"}""".stripMargin)._1 == 400) // bad scheme

      // list + get + status + synced
      val listed = mapper.readTree(get(base, "/api/v2/changefeeds")._2)
      assert(listed.get("total").asInt() == 1)
      assert(listed.get("items").get(0).get("state").asText() == "normal")
      assert(get(base, "/api/v2/changefeeds/cf-api")._1 == 200)
      assert(get(base, "/api/v2/changefeeds/nope")._1 == 404)
      assert(mapper.readTree(get(base, "/api/v2/changefeeds/cf-api/synced")._2)
        .get("synced").asBoolean())

      // pause → stopped; rows added while paused arrive after resume
      assert(post(base, "/api/v2/changefeeds/cf-api/pause")._1 == 200)
      assert(mapper.readTree(get(base, "/api/v2/changefeeds/cf-api")._2)
        .get("state").asText() == "stopped")
      mem.addData(ev(3, 3, 30))
      assert(post(base, "/api/v2/changefeeds/cf-api/resume")._1 == 200)
      val state = Sinks.readState(spark, s"$dir/state")
        .select("pk", "final_val").as[(Long, Double)].collect().toMap
      assert(state == Map(1L -> 10.0, 2L -> 20.0, 3L -> 30.0))

      // delete is idempotent
      assert(delete(base, "/api/v2/changefeeds/cf-api")._1 == 200)
      assert(mapper.readTree(get(base, "/api/v2/changefeeds")._2)
        .get("total").asInt() == 0)
      assert(delete(base, "/api/v2/changefeeds/cf-api")._1 == 200)
    } finally srv.stop()
  }

  test("verify_table: filter-selected tables split by handle-key eligibility") {
    // db.bad has a null-pk event (no handle key) → ineligible; db.skip is
    // filtered out entirely; db.t is eligible
    val df = Seq(
      ("db", "t", Option(1L)),
      ("db", "skip", Option(2L)),
      ("db", "bad", Option.empty[Long]))
      .toDF("schema_name", "table_name", "pk")
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => df))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val (code, body) = post(base, "/api/v2/verify_table",
        """{"source":"mem","table_filter":["db.t","db.bad"]}""")
      assert(code == 200, body)
      val node = mapper.readTree(body)
      assert(node.get("eligible_tables").get(0).asText() == "db.t")
      assert(node.get("eligible_tables").size() == 1)
      assert(node.get("ineligible_tables").get(0).asText() == "db.bad")
      assert(post(base, "/api/v2/verify_table", """{"source":"nope"}""")._1 == 400)
    } finally srv.stop()
  }

  test("create rejects ineligible tables unless force/ignore (validator.go:170)") {
    val dir = Files.createTempDirectory("graft_api_inel").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    // the STREAM carries rows for both tables (pk values present on the
    // wire); the INTROSPECTION snapshot declares db.bad handle-key-less
    mem.addData(ev(1, 1, 10),
      StreamEv(2, "I", 102, 101, 0, "db", "bad", 7, 7, None, Some(5.0), "e"))
    val snapshot = Seq(
      ("db", "t", Option(1L)), ("db", "bad", Option.empty[Long]))
      .toDF("schema_name", "table_name", "pk")
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()),
        "schema" -> (() => snapshot))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    def body(extra: String) =
      s"""{"changefeed_id":"cf-inel","source":"mem","introspect":"schema",
         |"sink_uri":"state://$dir/state",
         |"checkpoint_dir":"$dir/ckpt"$extra}""".stripMargin
    try {
      // neither flag → ErrTableIneligible-style rejection naming the table
      val (c1, b1) = post(base, "/api/v2/changefeeds", body(""))
      assert(c1 == 400 && b1.contains("ErrTableIneligible") &&
        b1.contains("db.bad"), b1)
      // ignore_ineligible_table → creation proceeds; db.bad's stream rows
      // are excluded from scope by the appended block rule
      val (c2, b2) = post(base, "/api/v2/changefeeds",
        body(""","ignore_ineligible_table":true"""))
      assert(c2 == 200, b2)
      val state = Sinks.readState(spark, s"$dir/state")
      assert(state.filter(org.apache.spark.sql.functions.col("table_name") === "bad").count() === 0L)
      assert(state.count() === 1L) // db.t flowed
    } finally srv.stop()
  }

  test("kafka sink uri: option validation at create, adjusted size cap enforced") {
    val dir = Files.createTempDirectory("graft_api_kafka").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10), ev(2, 2, 20))
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    def body(id: String, sink: String) =
      s"""{"changefeed_id":"$id","source":"mem",
         |"sink_uri":"$sink","checkpoint_dir":"$dir/ckpt-$id"}""".stripMargin
    try {
      // day-one option errors reject the CREATE (verifyCreateChangefeedConfig)
      val (c1, b1) = post(base, "/api/v2/changefeeds", body("k1",
        s"kafka://h:9092/t?dir=$dir/mq&partition-num=0"))
      assert(c1 == 400 && b1.contains("ErrKafkaInvalidPartitionNum"), b1)
      val (c2, b2) = post(base, "/api/v2/changefeeds", body("k2",
        s"kafka://h:9092/t?dir=$dir/mq&required-acks=2"))
      assert(c2 == 400 && b2.contains("ErrKafkaInvalidRequiredAcks"), b2)
      // rf < min.insync... not declarable here (topic absent, broker ISR
      // hidden) — but a declared broker cap BELOW the declared
      // max-message-bytes adjusts silently and the adjusted cap enforces:
      // records (~160 B json) exceed a 30-byte adjusted cap → batch fails
      val (c3, b3) = post(base, "/api/v2/changefeeds", body("k3",
        s"kafka://h:9092/t?dir=$dir/mq&broker-message-max-bytes=158"))
      assert(c3 == 500 && b3.contains("ErrMessageTooLarge"), b3)
      // healthy create: records land partitioned under dir/topic with the
      // default-3 partition rule applied
      val (c4, b4) = post(base, "/api/v2/changefeeds", body("k4",
        s"kafka://h:9092/t?dir=$dir/mq4"))
      assert(c4 == 200, b4)
      val recs = spark.read.parquet(s"$dir/mq4/t")
      assert(recs.count() == 2L)
      assert(recs.select("partition").distinct().as[Int].collect()
        .forall(p => p >= 0 && p < 3))
      assert(recs.columns.toSet ==
        Set("partition", "key", "value", "batch_id"))
    } finally srv.stop()
  }

  test("PUT update: stopped-only, target floor, compat asymmetry, sink swap") {
    val dir = Files.createTempDirectory("graft_api_upd").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10), ev(2, 2, 20))
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      assert(post(base, "/api/v2/changefeeds",
        s"""{"changefeed_id":"u1","source":"mem",
           |"sink_uri":"kafka://h:9092/t?dir=$dir/mq&protocol=canal-json",
           |"checkpoint_dir":"$dir/ckpt","start_ts":100,
           |"current_tso":200}""".stripMargin)._1 == 200)
      // running feeds refuse updates (reference: stopped/failed only)
      val (c1, b1) = put(base, "/api/v2/changefeeds/u1", """{"target_ts":500}""")
      assert(c1 == 400 && b1.contains("when it is stopped"), b1)
      assert(post(base, "/api/v2/changefeeds/u1/pause")._1 == 200)
      // target_ts at or below the recorded start refuses
      val (c2, b2) = put(base, "/api/v2/changefeeds/u1", """{"target_ts":100}""")
      assert(c2 == 400 && b2.contains("less than start_ts"), b2)
      // the UPDATE asymmetry: a config block conflicting with the
      // UNCHANGED uri refuses (at create the same conflict only warns)
      val (c3, b3) = put(base, "/api/v2/changefeeds/u1",
        """{"replica_config":{"protocol":"open-protocol"}}""")
      assert(c3 == 400 && b3.contains("ErrIncompatibleSinkConfig"), b3)
      // but a CHANGED uri wins over the old config
      val (c4, b4) = put(base, "/api/v2/changefeeds/u1",
        s"""{"sink_uri":"kafka://h:9092/t?dir=$dir/mq2&protocol=simple"}""")
      assert(c4 == 200, b4)
      // resume override checkpoint: beyond-tso and GC legs
      val (c5, b5) = post(base, "/api/v2/changefeeds/u1/resume",
        """{"overwrite_checkpoint_ts":500,"current_tso":400}""")
      assert(c5 == 400 && b5.contains("ErrAPIInvalidParam"), b5)
      val (c6, b6) = post(base, "/api/v2/changefeeds/u1/resume",
        """{"overwrite_checkpoint_ts":50,"gc_safepoint":50}""")
      assert(c6 == 400 && b6.contains("ErrStartTsBeforeGC"), b6)
      // clean resume delivers NEW rows through the UPDATED sink (dir mq2)
      // — the checkpoint is untouched, so the two pre-pause rows do not
      // replay into the new sink
      mem.addData(ev(3, 3, 30))
      assert(post(base, "/api/v2/changefeeds/u1/resume")._1 == 200)
      assert(spark.read.parquet(s"$dir/mq2/t").count() == 1L)
    } finally srv.stop()
  }

  test("replica_config block runs the validation root at create") {
    val dir = Files.createTempDirectory("graft_api_rc").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10))
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    def body(id: String, sink: String, rc: String) =
      s"""{"changefeed_id":"$id","source":"mem","sink_uri":"$sink",
         |"checkpoint_dir":"$dir/ckpt-$id","replica_config":$rc}""".stripMargin
    try {
      // sync-point floor (only when enabled)
      val (c1, b1) = post(base, "/api/v2/changefeeds", body("r1",
        "blackhole://",
        """{"enable_sync_point":true,"sync_point_interval_sec":10}"""))
      assert(c1 == 400 && b1.contains("ErrInvalidReplicaConfig"), b1)
      // redo compression rule through the nested consistent block
      val (c2, b2) = post(base, "/api/v2/changefeeds", body("r2",
        "blackhole://",
        """{"consistent":{"level":"eventual","compression":"zstd"}}"""))
      assert(c2 == 400 && b2.contains("must be 'none' or 'lz4'"), b2)
      // URI protocol param alone triggers the root: bad protocol rejects
      val (c3, b3) = post(base, "/api/v2/changefeeds",
        s"""{"changefeed_id":"r3","source":"mem",
           |"sink_uri":"kafka://h:9092/t?dir=$dir/mq&protocol=protobuf",
           |"checkpoint_dir":"$dir/ckpt-r3"}""".stripMargin)
      assert(c3 == 400 && b3.contains("ErrSinkUnknownProtocol"), b3)
      // healthy block passes and the feed runs
      val (c4, b4) = post(base, "/api/v2/changefeeds", body("r4",
        "blackhole://",
        """{"enable_sync_point":true,"sync_point_interval_sec":60,
          |"sync_point_retention_sec":7200,
          |"consistent":{"level":"eventual"}}""".stripMargin))
      assert(c4 == 200, b4)
      // id regex (ValidateChangefeedID) guards the create
      val (c5, b5) = post(base, "/api/v2/changefeeds",
        s"""{"changefeed_id":"bad_id!","source":"mem",
           |"sink_uri":"blackhole://","checkpoint_dir":"$dir/x"}""".stripMargin)
      assert(c5 == 400 && b5.contains("ErrInvalidChangefeedID"), b5)
      // ts verification: start beyond tso, start at GC safepoint (the +1
      // rule), target at start — each its own error class
      def tsBody(id: String, ts: String) =
        s"""{"changefeed_id":"$id","source":"mem",
           |"sink_uri":"blackhole://","checkpoint_dir":"$dir/$id",$ts}""".stripMargin
      val (c6, b6) = post(base, "/api/v2/changefeeds",
        tsBody("t1", """"start_ts":500,"current_tso":400"""))
      assert(c6 == 400 && b6.contains("ErrAPIInvalidParam"), b6)
      val (c7, b7) = post(base, "/api/v2/changefeeds",
        tsBody("t2", """"start_ts":300,"gc_safepoint":300"""))
      assert(c7 == 400 && b7.contains("ErrStartTsBeforeGC"), b7)
      val (c8, b8) = post(base, "/api/v2/changefeeds",
        tsBody("t3", """"start_ts":300,"target_ts":300"""))
      assert(c8 == 400 && b8.contains("ErrTargetTsBeforeStartTs"), b8)
      // start 0 adopts the tso, then target must clear it
      val (c9, b9) = post(base, "/api/v2/changefeeds",
        tsBody("t4", """"start_ts":0,"current_tso":400,"target_ts":500"""))
      assert(c9 == 200, b9)
    } finally srv.stop()
  }

  test("mysql sink uri: option surface validates at create, knobs drive SqlGen") {
    val dir = Files.createTempDirectory("graft_api_mysql").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10), ev(2, 2, 20))
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    def body(id: String, sink: String) =
      s"""{"changefeed_id":"$id","source":"mem",
         |"sink_uri":"$sink","checkpoint_dir":"$dir/ckpt-$id"}""".stripMargin
    try {
      val (c1, b1) = post(base, "/api/v2/changefeeds", body("m1",
        s"mysql://$dir/sql1?worker-count=0"))
      assert(c1 == 400 && b1.contains("ErrMySQLInvalidConfig"), b1)
      val (c2, b2) = post(base, "/api/v2/changefeeds", body("m2",
        s"mysql://$dir/sql2?time-zone=Asia/Shanghai")) // server runs UTC
      assert(c2 == 400 && b2.contains("inconsistent"), b2)
      val (c3, b3) = post(base, "/api/v2/changefeeds", body("m3",
        s"mysql://$dir/sql3?worker-count=4&max-txn-row=1&time-zone=UTC"))
      assert(c3 == 200, b3)
      val sqlFiles = new java.io.File(s"$dir/sql3").listFiles()
      assert(sqlFiles != null && sqlFiles.nonEmpty)
      // max-txn-row=1 → one INSERT statement per row, never multi-row
      val stmts = sqlFiles.flatMap(f =>
        scala.io.Source.fromFile(f).getLines()).filter(_.nonEmpty)
      assert(stmts.forall(s => !s.contains("), (")), stmts.mkString("\n"))
    } finally srv.stop()
  }

  test("captures/processors/drain routes + /synced with an evaluation clock") {
    import graft.streaming.{CaptureRegistry, Captures}
    val dir = Files.createTempDirectory("graft_api_cap").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10), ev(2, 2, 20)) // commit ts 101, 102
    val snapshot = Seq(("db", "t", Option(1L)))
      .toDF("schema_name", "table_name", "pk")
    val registry = new CaptureRegistry("cluster-t", Seq(
      Captures.CaptureInfo("capture-0", "10.0.0.1:8300"),
      Captures.CaptureInfo("capture-1", "10.0.0.2:8300")))
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()), "schema" -> (() => snapshot)),
      registry = registry).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val caps = mapper.readTree(get(base, "/api/v2/captures")._2)
      assert(caps.get("total").asInt() == 2)
      assert(caps.get("items").get(0).get("is_owner").asBoolean())
      assert(caps.get("items").get(0).get("cluster_id").asText() == "cluster-t")

      // before any changefeed: no processors
      assert(mapper.readTree(get(base, "/api/v2/processors")._2)
        .get("total").asInt() == 0)

      assert(post(base, "/api/v2/changefeeds",
        s"""{"changefeed_id":"cf-cap","source":"mem","introspect":"schema",
           |"sink_uri":"blackhole://",
           |"checkpoint_dir":"$dir/ckpt"}""".stripMargin)._1 == 200)

      // one changefeed × two captures
      val procs = mapper.readTree(get(base, "/api/v2/processors")._2)
      assert(procs.get("total").asInt() == 2)
      assert(procs.get("items").get(0).get("changefeed_id").asText() == "cf-cap")

      // detail: db.t placed on exactly one of the two captures
      val details = Seq("capture-0", "capture-1").map { c =>
        mapper.readTree(
          get(base, s"/api/v2/processors/cf-cap/$c")._2).get("tables")
      }
      assert(details.map(_.size()).sum == 1)
      // validation chain over HTTP
      assert(get(base, "/api/v2/processors/bad!id/capture-0")._1 == 400)
      assert(get(base, "/api/v2/processors/cf-cap/capture-9")._1 == 404)

      // drain: owner refused, peer drained (table count in response),
      // then the last capture refused
      assert(post(base, "/api/v2/captures/capture-0/drain")._1 == 400)
      val (dc, db) = post(base, "/api/v2/captures/capture-1/drain")
      assert(dc == 202 && mapper.readTree(db).has("current_table_count"), db)
      assert(post(base, "/api/v2/captures/capture-0/drain")._1 == 400)
      assert(mapper.readTree(get(base, "/api/v2/captures")._2)
        .get("total").asInt() == 1)

      // /synced with an explicit clock runs the kernel over REAL marks
      // (drained feed: lastSynced = checkpoint = 102)
      val s1 = mapper.readTree(
        get(base, "/api/v2/changefeeds/cf-cap/synced?now=5102&sci=3&ci=1")._2)
      assert(!s1.get("synced").asBoolean() &&
        s1.get("info").asText() == "check-pd-tikv")
      assert(s1.get("last_synced_ts").asLong() == 102L)
      val s2 = mapper.readTree(get(base,
        "/api/v2/changefeeds/cf-cap/synced?now=5102&sci=3&ci=1&pd=false")._2)
      assert(s2.get("info").asText() == "pd-unavailable-check")
      // a malformed clock or flag is the caller's error, and named
      for ((qs, bad) <- Seq("now=abc&sci=3" -> "now", "now=5102&pd=maybe" -> "pd")) {
        val (code, body) = get(base, s"/api/v2/changefeeds/cf-cap/synced?$qs")
        assert(code == 400 && body.contains(s"invalid query parameter $bad"), body)
      }
      // clockless degenerate form still answers drained == synced
      assert(mapper.readTree(get(base, "/api/v2/changefeeds/cf-cap/synced")._2)
        .get("synced").asBoolean())

      // delete clears the processor scope
      assert(delete(base, "/api/v2/changefeeds/cf-cap")._1 == 200)
      assert(mapper.readTree(get(base, "/api/v2/processors")._2)
        .get("total").asInt() == 0)
    } finally srv.stop()
  }

  test("POST /log validates the zap vocabulary; GET meta_info guards the id") {
    val srv = new ApiServer(spark, new ChangefeedManager(spark), Map.empty).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      // empty body defaults to info (log.go:37 LogLevelReq{Level:"info"})
      assert(post(base, "/api/v2/log", "{}")._1 == 200)
      assert(post(base, "/api/v2/log", """{"log_level":"warn"}""")._1 == 200)
      val (bc, bb) = post(base, "/api/v2/log", """{"log_level":"loud"}""")
      assert(bc == 400 && bb.contains("fail to change log level: loud"))

      // meta_info: invalid id is a 400 BEFORE the existence check
      assert(get(base, "/api/v2/changefeeds/bad_id!/meta_info")._1 == 400)
      assert(get(base, "/api/v2/changefeeds/nope/meta_info")._1 == 404)
    } finally srv.stop()
  }

  test("meta_info returns state, sink uri, and normal-only task placements") {
    val dir = Files.createTempDirectory("graft_api_meta").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(ev(1, 1, 10), ev(2, 2, 20))
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      val createBody =
        s"""{"changefeed_id":"cf-meta","source":"mem",
           |"sink_uri":"state://$dir/state",
           |"checkpoint_dir":"$dir/ckpt"}""".stripMargin
      assert(post(base, "/api/v2/changefeeds", createBody)._1 == 200)
      val m = mapper.readTree(get(base, "/api/v2/changefeeds/cf-meta/meta_info")._2)
      assert(m.get("id").asText() == "cf-meta")
      assert(m.get("namespace").asText() == "default")
      assert(m.get("sink_uri").asText() == s"state://$dir/state")
      assert(m.get("state").asText() == "normal")
      // a normal feed carries its processor placements
      assert(m.get("task_status").isArray)
      // paused: state flips and the task list empties (info.State != normal)
      assert(post(base, "/api/v2/changefeeds/cf-meta/pause")._1 == 200)
      val p = mapper.readTree(get(base, "/api/v2/changefeeds/cf-meta/meta_info")._2)
      assert(p.get("state").asText() == "stopped")
      assert(p.get("task_status").size() == 0)
      assert(delete(base, "/api/v2/changefeeds/cf-meta")._1 == 200)
    } finally srv.stop()
  }

  test("shard-ddl-lock list/unlock routes over the pessimistic lock state") {
    import graft.streaming.ShardDdl
    val srv = new ApiServer(spark, new ChangefeedManager(spark), Map.empty).start()
    val base = s"http://127.0.0.1:${srv.boundPort}"
    try {
      // empty state: the reference's "no DDL lock exists" message
      val empty = mapper.readTree(get(base, "/api/v1/ddl-locks")._2)
      assert(empty.get("result").asBoolean() &&
        empty.get("msg").asText() == "no DDL lock exists")

      val ann = Seq(("tbl_a", "src_0", "add_col", 10L),
        ("tbl_a", "src_1", "add_col", 20L), ("tbl_b", "src_2", "drop_col", 30L))
      srv.setDdlLocks(ShardDdl.pessimisticLocks("t1", "db", ann,
        Seq("src_0", "src_1", "src_2")))

      val list = mapper.readTree(get(base, "/api/v1/ddl-locks")._2)
      assert(list.get("locks").size() == 2)
      val first = list.get("locks").get(0)
      assert(first.get("ID").asText() == "t1-`db`.`tbl_a`")
      assert(first.get("owner").asText() == "src_0")
      assert(first.get("synced").get(1).asText() == "src_1")
      assert(first.get("unsynced").get(0).asText() == "src_2")
      // sources filter: a source in no lock's ready map hides everything
      assert(mapper.readTree(get(base, "/api/v1/ddl-locks?sources=src_9")._2)
        .get("locks").size() == 0)
      assert(mapper.readTree(get(base, "/api/v1/ddl-locks?task=t1")._2)
        .get("locks").size() == 2)

      // unlock: owner exec + synced-non-owner skip + removal
      val un = mapper.readTree(post(base, "/api/v1/ddl-locks/unlock",
        """{"ID":"t1-`db`.`tbl_a`"}""")._2)
      assert(un.get("result").asBoolean() &&
        un.get("exec_owner").asText() == "src_0" &&
        un.get("skipped").get(0).asText() == "src_1")
      assert(mapper.readTree(get(base, "/api/v1/ddl-locks")._2)
        .get("locks").size() == 1)
      // replace-owner pointing at an un-synced source is refused
      val bad = mapper.readTree(post(base, "/api/v1/ddl-locks/unlock",
        """{"ID":"t1-`db`.`tbl_b`","replace_owner":"src_0"}""")._2)
      assert(!bad.get("result").asBoolean() &&
        bad.get("msg").asText().contains("src_0 is not waiting for a lock"))
      // malformed id can't name a task
      val mal = mapper.readTree(post(base, "/api/v1/ddl-locks/unlock",
        """{"ID":"invalid-lock-id"}""")._2)
      assert(!mal.get("result").asBoolean() &&
        mal.get("msg").asText() == "can't find task name from lock-ID")
    } finally srv.stop()
  }
}
