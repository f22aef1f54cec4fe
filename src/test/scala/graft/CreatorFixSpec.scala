package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.CreatorFix
import graft.streaming.CreatorFix.FeedInfo

/** Upgrade-fixup properties: the fix runs on EVERY owner adoption, so it
  * must be idempotent; plus the creator-gate boundary table. */
class CreatorFixSpec extends AnyFunSuite {

  test("creator gate boundaries") {
    // state-from-admin-job: same-major < 4.0.16 / < 5.0.6, '' = oldest
    assert(CreatorFix.stateFromAdminJob(""))
    assert(CreatorFix.stateFromAdminJob("v4.0.15"))
    assert(!CreatorFix.stateFromAdminJob("4.0.16"))
    assert(CreatorFix.stateFromAdminJob("5.0.5"))
    assert(!CreatorFix.stateFromAdminJob("5.0.6"))
    assert(!CreatorFix.stateFromAdminJob("4.1.0")) // major-4 gate is 4.0.16
    assert(!CreatorFix.stateFromAdminJob("6.5.0"))
    assert(CreatorFix.acceptUnknownProtocols("5.3.99"))
    assert(!CreatorFix.acceptUnknownProtocols("5.4.0"))
    assert(CreatorFix.acceptProtocolInMysqlUri("6.1.0"))
    assert(!CreatorFix.acceptProtocolInMysqlUri("6.1.1"))
    assert(CreatorFix.inheritSchedulerV66("6.6.0"))
    assert(CreatorFix.inheritSchedulerV66("v6.6.2"))
    assert(!CreatorFix.inheritSchedulerV66("6.7.0"))
    assert(!CreatorFix.inheritSchedulerV66(""))
  }

  test("fixIncompatible is idempotent over 300 random infos") {
    val rnd = new scala.util.Random(1408L)
    def pick[T](xs: T*): T = xs(rnd.nextInt(xs.size))
    for (_ <- 0 until 300) {
      val params = rnd.shuffle(Seq(
        Some("protocol=" + pick("whatever", "default", "canal-json",
          "open-protocol", "simple")),
        if (rnd.nextBoolean()) Some("zz=1") else None,
        if (rnd.nextBoolean()) Some("aa=2") else None).flatten)
      val query = if (params.isEmpty || rnd.nextInt(4) == 0) ""
        else "?" + params.mkString("&")
      val info = FeedInfo(
        state = pick("normal", "stopped", "warning", ""),
        adminJobType = rnd.nextInt(5),
        errorCode = pick(None, Some("CDC:ErrProcessorUnknown"),
          Some("CDC:ErrSnapshotLostByGC")),
        creatorVersion = pick("", "4.0.15", "4.0.16", "5.0.5", "5.3.0",
          "5.4.0", "6.1.0", "6.1.1", "6.6.1", "7.5.0"),
        sinkUri = pick("kafka://h:9092/t", "pulsar+ssl://h:6650/t",
          "mysql://h:3306/d", "blackhole://") + query,
        configProtocol = pick(None, Some(""), Some("weird"),
          Some("canal-json")),
        memoryQuota = pick(0L, 5L),
        errorStuckMs = pick(None, Some(60000L)),
        schedulerPresent = rnd.nextBoolean(),
        regionPerSpan = pick(0L, 512L))
      val once = CreatorFix.fixIncompatible(info)
      val twice = CreatorFix.fixIncompatible(once)
      assert(once == twice, s"not idempotent for $info -> $once")
      // post-conditions that hold regardless of input
      assert(once.memoryQuota > 0)
      assert(once.errorStuckMs.nonEmpty)
      assert(once.schedulerPresent)
    }
  }

  test("rmUnusedFields: idempotent, monotone, keep-everything legs") {
    val rnd = new scala.util.Random(1411L)
    val universe = CreatorFix.MqOnlyFields ++ CreatorFix.StorageOnlyFields ++
      CreatorFix.DbOnlyFields ++ Set("protocol", "terminator")
    val uris = Seq("kafka://h/t", "pulsar+https://h/t", "mysql://h/d",
      "tidb://h/d", "s3://b/p", "noop://", "blackhole://", "junk")
    for (_ <- 0 until 200) {
      val uri = uris(rnd.nextInt(uris.size))
      val proto = Seq(None, Some("avro"), Some("canal-json"))(rnd.nextInt(3))
      val fields = universe.filter(_ => rnd.nextBoolean())
      val once = CreatorFix.rmUnusedFields(uri, proto, fields)
      assert(CreatorFix.rmUnusedFields(uri, proto, once) == once) // idempotent
      assert(once.subsetOf(fields)) // scrubbing never invents fields
      if (uri == "blackhole://" || uri == "junk") assert(once == fields)
    }
    // the avro exception keeps the schema registry on MQ only
    assert(CreatorFix.rmUnusedFields("kafka://h/t", Some("avro"),
      Set("schema_registry")).contains("schema_registry"))
    assert(!CreatorFix.rmUnusedFields("kafka://h/t", Some("canal-json"),
      Set("schema_registry")).contains("schema_registry"))
    assert(!CreatorFix.rmUnusedFields("mysql://h/d", Some("avro"),
      Set("schema_registry", "protocol")).exists(_ == "protocol"))
  }

  test("URI rewrite re-encodes with sorted keys like url.Values.Encode") {
    val f = CreatorFix.fixMqProtocol(FeedInfo(state = "normal",
      adminJobType = 0, errorCode = None, creatorVersion = "5.3.0",
      sinkUri = "kafka://h:9092/t?zz=1&protocol=bogus&aa=2",
      configProtocol = None))
    assert(f.sinkUri == "kafka://h:9092/t?aa=2&protocol=open-protocol&zz=1")
    assert(f.configProtocol.contains("open-protocol"))
  }

  // ---- scheme and protocol sets parsed from the reference source --------

  test("sink scheme sets match sink_type.go, parsed from source") {
    val src = RefSource.source("pkg/sink/sink_type.go")
    val consts = """(\w+Scheme)\s*=\s*"([^"]+)"""".r
      .findAllMatchIn(src).map(m => m.group(1) -> m.group(2)).toMap
    def schemesOf(fn: String): Set[String] = {
      val start = src.indexOf(s"func $fn(scheme string) bool {")
      assert(start >= 0, s"$fn not found")
      val body = src.substring(start, src.indexOf("\n}", start))
      """scheme == (\w+Scheme)""".r.findAllMatchIn(body)
        .map(m => consts(m.group(1))).toSet
    }
    assert(schemesOf("IsMQScheme") == CreatorFix.MqSchemes)
    assert(schemesOf("IsStorageScheme") == CreatorFix.StorageSchemes)
    assert(schemesOf("IsMySQLCompatibleScheme") == CreatorFix.MySqlCompatSchemes)
  }

  test("protocol and task-mode sets match their reference case lists") {
    val proto = RefSource.source("pkg/config/sink_protocol.go")
    val fromStr = proto.substring(
      proto.indexOf("func ParseSinkProtocolFromString"))
    val cases = """case "([^"]+)"""".r
      .findAllMatchIn(fromStr.substring(0, fromStr.indexOf("\n}")))
      .map(_.group(1)).toSet
    assert(cases == CreatorFix.KnownProtocols,
      s"missing=${cases -- CreatorFix.KnownProtocols}")

    val sub = RefSource.source("dm/config/subtask.go")
    val modes = """Mode(?:All|Full|Increment|Dump|LoadSync|Load)\s*=\s*"([^"]+)"""".r
      .findAllMatchIn(sub).map(_.group(1)).toSet
    assert(modes == graft.streaming.DmTaskConfig.TaskModes,
      s"modes=$modes")
  }
}
