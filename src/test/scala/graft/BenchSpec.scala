package graft

import java.nio.file.Files

import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import org.apache.spark.sql.functions._

/** The bench tooling's shared measurement, shared builds and artifact
  * naming. */
class BenchSpec extends SparkSpec {

  test("measure records a throwing body's error and wall time; the next measure still works") {
    val sc = spark.sparkContext
    val failed = BenchMetrics.measure(sc) {
      Thread.sleep(50)
      throw new IllegalStateException("boom")
    }
    assert(failed.error.exists(_.getMessage == "boom"))
    assert(failed.sec >= 0.05, failed)
    assert(failed.rows == 0L)
    val ok = BenchMetrics.measure(sc)(BenchMetrics.materialize(spark.range(7).toDF()))
    assert(ok.error.isEmpty && ok.rows == 7L, ok)
  }

  test("measure attributes shuffle bytes to the entry that wrote them") {
    val sc = spark.sparkContext
    def groupBy() = spark.range(10000).groupBy((col("id") % 10).as("k")).count()
    BenchMetrics.materialize(groupBy()) // compiled before it is timed
    // a slow listener on the same bus queue holds every stage-completed
    // event back behind the task events, so only measure's drains can
    // land the groupBy's shuffle bytes on the groupBy
    val slow = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = Thread.sleep(100)
    }
    sc.addSparkListener(slow)
    try {
      val grouped = BenchMetrics.measure(sc)(BenchMetrics.materialize(groupBy()))
      assert(grouped.error.isEmpty && grouped.rows == 10L, grouped)
      assert(grouped.shuffleBytes > 0L, grouped)
      // a map-only entry right after an unmeasured groupBy whose stage
      // events are still queued: none of those bytes land on it
      BenchMetrics.materialize(groupBy())
      val mapOnly = BenchMetrics.measure(sc)(BenchMetrics.materialize(
        spark.range(10000).select((col("id") * 2).as("x"))))
      assert(mapOnly.error.isEmpty && mapOnly.rows == 10000L, mapOnly)
      assert(mapOnly.shuffleBytes == 0L, mapOnly)
    } finally sc.removeSparkListener(slow)
  }

  test("sidecar: BENCH_FULL.json only at sf0.1 on 32 cores; other runs are suffixed") {
    assert(Bench.sidecar("/data/sf0.1", "32") == "BENCH_FULL.json")
    assert(Bench.sidecar("/data/sf0.1", "8") == "BENCH_FULL_c8.json")
    assert(Bench.sidecar("/data/sf0.001", "32") == "BENCH_FULL_sf0.001.json")
    assert(Bench.sidecar("/data/sf0.001", "4") == "BENCH_FULL_sf0.001_c4.json")
  }

  test("run totals leave a failed entry's partial wall time out") {
    val ok = BenchMetrics.Reading(1.5, 0L, 3L, None)
    val died = BenchMetrics.Reading(0.04, 0L, 0L, Some(new IllegalStateException("boom")))
    val line = Bench100x.summary("/d", Seq("q01_a" -> ok, "q183_b" -> died), 100.0)
    assert(line.contains("\"value\":1.50,"), line)
    assert(line.contains("\"failed\":1,"), line)
    // the failed entry's reading is still reported, only not summed
    assert(line.contains("\"q183_b\":0.04"), line)
    // Bench's total: a failed gate and the failed ingest's -1.0 marker
    val total = BenchMetrics.completedTotal(
      Seq("q01" -> 2.0, "q183" -> 0.04, "s0_stream_ingest" -> -1.0),
      Set("q183", "s0_stream_ingest"))
    assert(total == 2.0)
  }

  test("warm-ups survive a scale dir without documents or the CDC events") {
    val dir = Files.createTempDirectory("bench_warm").toString
    spark.range(100).select(col("id").as("l_orderkey"), lit("A").as("l_returnflag"))
      .write.parquet(s"$dir/lineitem.parquet")
    Bench100x.warmUp(spark, dir)
    Bench.warmUp(spark, dir)
  }

  test("a shared build runs once per (session, dir) until the caches clear") {
    val builds = new java.util.concurrent.atomic.AtomicInteger
    val shared = graft.queries.Gate.shared("spec build") { (_, dir) =>
      builds.incrementAndGet(); dir.length
    }
    assert(shared(spark, "/a") == 2 && shared(spark, "/a") == 2)
    assert(builds.get == 1)
    assert(shared(spark, "/bb") == 3 && builds.get == 2)
    graft.queries.Gate.clearSharedCaches()
    assert(shared(spark, "/a") == 2 && builds.get == 3)
  }
}
