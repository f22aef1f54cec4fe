package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.streaming.Sinks

/** The bucketed state sink: a batch rewrites only the buckets it touches
  * (m keys touch nb·(1 − (1 − 1/nb)^m) of nb buckets on average, so only
  * batches much smaller than nb leave buckets untouched), each new bucket
  * version is one file, and the last writer per key wins. */
class BucketedStateSpec extends SparkSpec {

  private def mkBatch(keys: Seq[Long], v: Double, op: String = "U"): DataFrame = {
    import spark.implicits._
    keys.map(k => ("db", "t", k, op, v, 1000L + k)).toDF(
      "schema_name", "table_name", "pk", "net_op", "final_val", "last_commit_ts")
  }

  test("a batch touching 1% of keys rewrites only its buckets") {
    val dir = Files.createTempDirectory("bucket_state").toString
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 1000L, 1.0), 0L)
    val v0 = Sinks.stateVersions(s"$dir/state")
    assert(v0.size >= 50, s"1000 keys should occupy most of 64 buckets, got ${v0.size}")

    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 10L, 2.0), 1L)
    val v1 = Sinks.stateVersions(s"$dir/state")
    val changed = v1.count { case (b, v) => v0.get(b) != Some(v) }
    assert(changed <= 10, s"10 keys must touch <=10 buckets, rewrote $changed")
    assert(changed >= 1)

    val state = Sinks.readState(spark, s"$dir/state")
    assert(state.count() === 1000)
    assert(state.filter(col("final_val") === 2.0).count() === 10)
    assert(state.filter(col("pk") < 10 && col("final_val") === 1.0).count() === 0)
  }

  test("deletes clear keys (even a whole bucket) and replay is a no-op") {
    val dir = Files.createTempDirectory("bucket_state2").toString
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 100L, 1.0), 0L)
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 100L, 0.0, "D"), 1L)
    assert(Sinks.readState(spark, s"$dir/state").count() === 0)
    // replay the delete batch (same batchId): skipped, state unchanged
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 100L, 9.0), 1L)
    assert(Sinks.readState(spark, s"$dir/state").count() === 0)
    // next batch re-inserts
    Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(0L until 5L, 3.0), 2L)
    assert(Sinks.readState(spark, s"$dir/state").count() === 5)
  }

  test("vacuum keeps each bucket's live version") {
    val dir = Files.createTempDirectory("bucket_state3").toString
    for (b <- 0L to 4L)
      Sinks.parquetStateSink(spark, s"$dir/state")(mkBatch(Seq(b), b * 1.0), b)
    Sinks.vacuumState(s"$dir/state", keep = 0)
    assert(Sinks.readState(spark, s"$dir/state").count() === 5)
  }

  private def parquetFiles(d: String): Seq[String] =
    Option(new java.io.File(d).listFiles()).toSeq.flatten
      .map(_.getName).filter(_.endsWith(".parquet"))

  test("one merge updates, deletes, inserts and empties a bucket; one file per bucket version") {
    val dir = Files.createTempDirectory("bucket_state4").toString
    val st = s"$dir/state"
    def sink(b: DataFrame, id: Long) = Sinks.parquetStateSink(spark, st, numBuckets = 4)(b, id)
    val keys = 0L until 40L
    sink(mkBatch(keys, 1.0), 0L)
    val v0 = Sinks.stateVersions(st)
    assert(v0.keySet == Set(0, 1, 2, 3))
    v0.foreach { case (b, v) =>
      assert(parquetFiles(s"$st/b$b/v$v").size == 1, s"bucket $b version $v")
    }

    import spark.implicits._
    val bucketOf = mkBatch(keys :+ 1000L, 1.0)
      .select(col("pk"), pmod(hash(col("schema_name"), col("table_name"), col("pk")), lit(4)))
      .as[(Long, Int)].collect().toMap
    // the bucket to empty holds neither the new key nor the kept ones
    val emptied = keys.map(bucketOf).find(_ != bucketOf(1000L)).get
    val inEmptied = keys.filter(bucketOf(_) == emptied)
    val Seq(upd, del) = keys.filterNot(bucketOf(_) == emptied).take(2)
    sink(mkBatch(Seq(upd), 5.0, "U")
      .unionByName(mkBatch(Seq(del), 0.0, "D"))
      .unionByName(mkBatch(Seq(1000L), 7.0, "I"))
      .unionByName(mkBatch(inEmptied, 0.0, "D")), 1L)

    val state = Sinks.readState(spark, st).select("pk", "final_val")
      .as[(Long, Double)].collect()
    assert(state.length == state.map(_._1).distinct.length, "one row per key")
    val expected = keys.filterNot(k => inEmptied.contains(k) || k == del)
      .map(_ -> 1.0).toMap + (upd -> 5.0) + (1000L -> 7.0)
    assert(state.toMap == expected)

    val v1 = Sinks.stateVersions(st)
    val touched = (Seq(upd, del, 1000L) ++ inEmptied).map(bucketOf).toSet
    touched.foreach(b => assert(v1(b) == v0(b) + 1, s"bucket $b"))
    val emptiedDir = new java.io.File(s"$st/b$emptied/v${v1(emptied)}")
    assert(emptiedDir.isDirectory && emptiedDir.listFiles().isEmpty,
      "a fully deleted bucket publishes an empty version")
    (touched - emptied).foreach { b =>
      val files = parquetFiles(s"$st/b$b/v${v1(b)}")
      assert(files.size == 1, s"bucket $b version ${v1(b)}: $files")
    }
  }
}
