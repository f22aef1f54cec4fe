package graft

import java.net.URI
import java.net.http.{HttpClient, HttpRequest, HttpResponse}
import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import graft.streaming.{ApiServer, ChangefeedManager, CreatorFix, KafkaOptions,
  MySqlOptions, PulsarOptions, SinkUri, Sinks, StorageOptions}
import graft.streaming.CreatorFix.FeedInfo

/** The one sink-URI grammar ([[SinkUri]]): its query rules, the readers
  * that route through it, and a source guard that keeps it the only one. */
class SinkUriSpec extends SparkSpec {
  import spark.implicits._

  test("a bare key reads \"\", and Query().Get-style lookup treats it as absent") {
    val u = SinkUri("kafka://h:9092/t?dir&partition-num=3&&protocol=")
    assert(u.params == Map("dir" -> "", "partition-num" -> "3", "protocol" -> ""))
    assert(u.param("dir").isEmpty && u.param("protocol").isEmpty)
    assert(u.param("partition-num").contains("3"))
    assert(u.pairs == Seq("dir" -> "", "partition-num" -> "3", "protocol" -> ""))
  }

  test("values decode %2F and + as UTF-8; keys and raw pairs stay raw") {
    val u = SinkUri("s3://b/p?dir=%2Ftmp%2Fx&note=a+b&tz=Asia%2FShanghai&k%41=%C3%A9")
    assert(u.params("dir") == "/tmp/x")
    assert(u.params("note") == "a b")
    assert(u.params("tz") == "Asia/Shanghai")
    assert(u.params("k%41") == "é")
    assert(u.pairs.toMap.apply("dir") == "%2Ftmp%2Fx")
  }

  test("the fragment is not part of the query; the location is the raw text up to ?") {
    val u = SinkUri("kafka://h1:9092,h2:9092/my%2Btopic+x?dir=/x&protocol=canal-json#a")
    assert(u.scheme == "kafka")
    assert(u.params == Map("dir" -> "/x", "protocol" -> "canal-json"))
    assert(u.authority == "h1:9092,h2:9092")
    assert(u.path == "/my+topic+x")
    assert(u.location == "h1:9092,h2:9092/my%2Btopic+x")
    assert(SinkUri("kafka://h/t#x?protocol=y").params.isEmpty)
    val noScheme = SinkUri("/api/v2/changefeeds?state=normal&x=%20")
    assert(noScheme.scheme.isEmpty)
    assert(noScheme.params == Map("state" -> "normal", "x" -> " "))
  }

  test("forUri accepts a state dir with a space and a relative one") {
    assert(SinkUri("state:///tmp/a b").location == "/tmp/a b")
    assert(SinkUri("state://dir").location == "dir")
    assert(Try(Sinks.forUri(spark, "state:///tmp/a b")).isSuccess)
    assert(Try(Sinks.forUri(spark, "state://dir")).isSuccess)
    assert(intercept[IllegalArgumentException](Sinks.forUri(spark, "dir"))
      .getMessage == "malformed sink uri: dir")
  }

  test("CreatorFix re-renders the untouched parts of a URI byte-identically") {
    val sorted = "kafka://u@h:9092/t?aa=%2Fx&protocol=canal-json&zz=a+b#frag"
    assert(SinkUri(sorted).withQuery(SinkUri(sorted).pairs) == sorted)
    def info(uri: String, cfg: Option[String] = None) = FeedInfo(state = "normal",
      adminJobType = 0, errorCode = None, creatorVersion = "5.3.0",
      sinkUri = uri, configProtocol = cfg)
    // a known protocol needs nothing, fragment or not
    assert(CreatorFix.fixMqProtocol(info(sorted)).sinkUri == sorted)
    assert(CreatorFix.fixMqProtocol(
      info("kafka://h:9092/t?zz=a+b&protocol=bogus&aa=%2Fx#frag")).sinkUri ==
      "kafka://h:9092/t?aa=%2Fx&protocol=open-protocol&zz=a+b#frag")
    assert(CreatorFix.fixMysqlProtocol(
      info("mysql://u@h:3306/d?b=%2F&a=1&protocol=canal", Some("x"))).sinkUri ==
      "mysql://u@h:3306/d?a=1&b=%2F")
    assert(CreatorFix.fixMysqlProtocol(info("mysql://h:3306/d", Some("x")))
      .sinkUri == "mysql://h:3306/d")
  }

  test("POST /changefeeds and Sinks.forUri agree on a URI with a fragment") {
    val dir = Files.createTempDirectory("graft_sinkuri").toString
    val uri = s"kafka://h:9092/t?dir=$dir/mq&protocol=canal-json#a"
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    mem.addData(StreamEv(1, "I", 101, 100, 0, "db", "t", 1, 1, None, Some(1.0), "e"))
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    try {
      val req = HttpRequest.newBuilder(
          URI.create(s"http://127.0.0.1:${srv.boundPort}/api/v2/changefeeds"))
        .POST(HttpRequest.BodyPublishers.ofString(
          s"""{"changefeed_id":"frag","source":"mem","sink_uri":"$uri",
             |"checkpoint_dir":"$dir/ckpt"}""".stripMargin)).build()
      val r = HttpClient.newHttpClient().send(req, HttpResponse.BodyHandlers.ofString())
      val factory = Try(Sinks.forUri(spark, uri))
      assert(factory.isSuccess, factory)
      assert(r.statusCode() == 200, r.body())
      assert(spark.read.parquet(s"$dir/mq/t").count() == 1L)
    } finally srv.stop()
  }

  test("a malformed escape or value is a Left on every option surface") {
    assert(SinkUri("pulsar://h/%zz").invalid.contains("invalid URL escape \"%zz\""))
    assert(SinkUri("kafka://h/t?a=%2F&b=%4").invalid.contains("invalid URL escape \"%4\""))
    assert(SinkUri("kafka://h/%2Ft?a=%C3%A9").invalid.isEmpty)
    def errClass[E](r: Either[(String, String), E]) = r.left.toOption.map(_._1)
    assert(errClass(MySqlOptions.fromUri("mysql://h/?worker-count=%zz", "UTC"))
      .contains(MySqlOptions.ErrInvalidConfig))
    assert(errClass(MySqlOptions.fromUri("mysql://h/?worker-count=abc", "UTC"))
      .contains(MySqlOptions.ErrInvalidConfig))
    assert(errClass(MySqlOptions.fromUri("mysql://h/?safe-mode=maybe", "UTC"))
      .contains(MySqlOptions.ErrInvalidConfig))
    assert(PulsarOptions.fromUri("pulsar://h/%zz") ==
      Left("invalid URL escape \"%zz\""))
    assert(errClass(KafkaOptions.fromUri("kafka://h/t?partition-num=abc"))
      .contains(KafkaOptions.ErrInvalidConfig))
    assert(errClass(KafkaOptions.fromUri("kafka://h/t?auto-create-topic=yes"))
      .contains(KafkaOptions.ErrInvalidConfig))
    assert(errClass(KafkaOptions.fromUri("kafka://h/t?dir=%zz"))
      .contains(KafkaOptions.ErrInvalidConfig))
    assert(errClass(StorageOptions.fromUri("file:///x?file-size=1MB"))
      .contains(StorageOptions.ErrInvalidConfig))
    assert(errClass(StorageOptions.fromUri("s3://b/%zz"))
      .contains(StorageOptions.ErrInvalidConfig))
  }

  test("a repeated query key reads its first value, as Query().Get does") {
    assert(SinkUri("kafka://h/t?a=1&b=2&a=3").params == Map("a" -> "1", "b" -> "2"))
    assert(KafkaOptions.fromUri("kafka://h/t?partition-num=0&partition-num=3") ==
      Left(KafkaOptions.ErrInvalidPartitionNum -> "invalid partition num 0"))
  }

  test("forUri builds the Kafka sink for kafka+ssl") {
    val dir = Files.createTempDirectory("graft_kafkassl").toString
    val sink = Sinks.forUri(spark, s"kafka+ssl://h:9093/t?dir=$dir")
    sink(Seq(("db", "t", 1L)).toDF("schema_name", "table_name", "pk"), 0L)
    assert(spark.read.parquet(s"$dir/t").count() == 1L)
  }

  test("POST /changefeeds answers 400 for a malformed escape or value") {
    val dir = Files.createTempDirectory("graft_sinkuri_bad").toString
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[StreamEv]
    val srv = new ApiServer(spark, new ChangefeedManager(spark),
      Map("mem" -> (() => mem.toDF()))).start()
    try {
      def post(id: String, uri: String) = HttpClient.newHttpClient().send(
        HttpRequest.newBuilder(
            URI.create(s"http://127.0.0.1:${srv.boundPort}/api/v2/changefeeds"))
          .POST(HttpRequest.BodyPublishers.ofString(
            s"""{"changefeed_id":"$id","source":"mem","sink_uri":"$uri",
               |"checkpoint_dir":"$dir/$id"}""".stripMargin)).build(),
        HttpResponse.BodyHandlers.ofString())
      val escape = post("bad-escape", "mysql://h/?worker-count=%zz")
      assert(escape.statusCode() == 400, escape.body())
      assert(escape.body().contains("ErrSinkURIInvalid"), escape.body())
      val value = post("bad-value", s"kafka://h/t?dir=$dir/mq&partition-num=abc")
      assert(value.statusCode() == 400, value.body())
      assert(value.body().contains(KafkaOptions.ErrInvalidConfig), value.body())
    } finally srv.stop()
  }

  /** The files under src/main/scala whose text contains `needle`,
    * relative to it. */
  private def mainFilesWith(needle: String): Seq[String] = {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains(needle))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("only SinkUri parses a query; only it and the redo storage split on ://") {
    val sinkUri = "graft/streaming/SinkUri.scala"
    assert((mainFilesWith("getRawQuery") ++ mainFilesWith("split('&')")).toSet ==
      Set(sinkUri))
    // the redo log's consistent.storage URI has its own blackhole rule
    assert(mainFilesWith("split(\"://\"").toSet
      .subsetOf(Set(sinkUri, "graft/streaming/ReplicaValidate.scala")))
  }
}
