package graft

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

import graft.streaming.{Changefeed, ChangefeedSpec, DdlStream}

/** Textual DDL flowing IN the change stream: fold-at-commit-ts, version
  * binding of data rows, persistence across restarts, replay idempotence,
  * and the batch twin's DDL-barrier epochs. */
class DdlStreamSpec extends SparkSpec {
  import spark.implicits._

  private def ev(op: String, ts: Long, pk: Long, etype: String = "e"): StreamEv =
    StreamEv(ts, op, ts, ts, 0, "db", "t", pk, pk, None,
      if (op == "G") None else Some(pk.toDouble), etype)

  private def ddl(ts: Long, sql: String): StreamEv = ev("G", ts, 0L, sql)

  /** A changefeed with its registry at `dir/reg`: each `batch` call
    * drains one microbatch through `Changefeed.start`, and `bound` keeps
    * what the sink saw per batch id — pk → schema_version, and columns. */
  private final class Feed(dir: String, compact: Boolean) {
    private implicit val sqlCtx: org.apache.spark.sql.SQLContext = spark.sqlContext
    private val mem = MemoryStream[StreamEv]
    private val spec = ChangefeedSpec(id = "ddl-stream",
      checkpointDir = s"$dir/ckpt", compact = compact,
      textDdlRegistryDir = Some(s"$dir/reg"))
    val bound = scala.collection.mutable.Map.empty[Long, (Map[Long, Int], Seq[String])]
    def run(): Unit =
      Changefeed.start(spark, mem.toDF(), spec) { (b, id) =>
        bound(id) = (b.select("pk", "schema_version").as[(Long, Int)]
          .collect().toMap, b.columns.toSeq)
      }.awaitTermination()
    def batch(evs: StreamEv*): Unit = { mem.addData(evs: _*); run() }
  }

  test("DDL control rows bump versions; data rows bind as-of their ts") {
    val dir = Files.createTempDirectory("ddl_stream").toString
    val feed = new Feed(dir, compact = false)
    // batch 0: CREATE at ts 0, then data at ts 5
    feed.batch(ddl(0L, "CREATE TABLE db.t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)"),
      ev("I", 5L, 1L), ev("I", 6L, 2L))
    // batch 1: ALTER at ts 10, data straddling it
    feed.batch(ddl(10L, "ALTER TABLE db.t ADD COLUMN c2 VARCHAR(64)"),
      ev("I", 8L, 3L), ev("I", 12L, 4L))
    assert(feed.bound(0L)._1 === Map(1L -> 1, 2L -> 1))
    assert(feed.bound(1L)._1 === Map(3L -> 1, 4L -> 2),
      "row before the DDL ts stays v1")

    // restart: the registry dir alone carries the history
    val vs = DdlStream.versions(s"$dir/reg")
    assert(vs.map(_.version).max === 2)
    assert(vs.last.schema.fieldNames.contains("c2"))

    // replay of batch 1 (its commit lost): the same DDL text+ts must not
    // create version 3, and its rows bind as before
    feed.bound.clear()
    Seq("1", ".1.crc").foreach(f =>
      Files.deleteIfExists(Paths.get(s"$dir/ckpt/commits/$f")))
    feed.run()
    assert(feed.bound.keySet === Set(1L), "the restart re-runs batch 1 only")
    assert(feed.bound(1L)._1 === Map(3L -> 1, 4L -> 2))
    assert(DdlStream.versions(s"$dir/reg").map(_.version).max === 2)
  }

  test("compacted batches bind on last_commit_ts") {
    val dir = Files.createTempDirectory("ddl_stream2").toString
    val feed = new Feed(dir, compact = true)
    feed.batch(ddl(0L, "CREATE TABLE db.t (pk BIGINT PRIMARY KEY)"))
    // pk 8's first event precedes the ALTER, its last follows it
    feed.batch(ddl(10L, "ALTER TABLE db.t ADD COLUMN c2 VARCHAR(64)"),
      ev("I", 3L, 7L), ev("I", 4L, 8L), ev("U", 12L, 8L))
    val (versions, columns) = feed.bound(1L)
    assert(versions === Map(7L -> 1, 8L -> 2))
    assert(columns.contains("last_commit_ts"))
    assert(!columns.contains("commit_ts"))
  }

  test("barrierEpochs: epoch counts DDLs at or below the row ts") {
    val rows = Seq(
      ("t1", 100L), ("t1", 150L), ("t1", 200L), ("t1", 250L),
      ("t2", 120L)).toDF("table_name", "commit_ts")
    val ddls = Seq(("t1", 150L), ("t1", 240L)).toDF("table_name", "ddl_ts")
    val got = DdlStream.barrierEpochs(rows, ddls)
      .select("table_name", "commit_ts", "epoch", "barrier_ts")
      .as[(String, Long, Long, Long)].collect().toSet
    assert(got == Set(
      ("t1", 100L, 0L, 0L),   // before any DDL
      ("t1", 150L, 1L, 150L), // at the barrier → after it applies
      ("t1", 200L, 1L, 150L),
      ("t1", 250L, 2L, 240L),
      ("t2", 120L, 0L, 0L)))  // no DDLs for t2
  }
}
