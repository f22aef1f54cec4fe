package graft

/**
 * Drift-adjudication micro-harness: run ONE gate N times inside a single
 * warmed JVM and print every reading. Cross-binary A/B with fresh-JVM
 * single shots cannot resolve a 20% question on this host (the band
 * breathes ±40% between consecutive JVMs — NOTES r13); in-JVM repeats
 * after warmup give a stable min/median.
 *
 * Usage: SPARK_GRAFT_SF_DIR=... tools/run.sh graft.BenchRepeat <gate> [n]
 */
object BenchRepeat {
  def main(args: Array[String]): Unit = {
    val name = args(0)
    val n = args.lift(1).map(_.toInt).getOrElse(5)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = Session.local(cpus.toInt)
    spark.sparkContext.setLogLevel("ERROR")
    val q = SparkEntry.queries(name)
    val times = (0 until n).map { i =>
      val r = BenchMetrics.measure(spark.sparkContext)(
        BenchMetrics.materialize(q(spark, sfDir)))
      r.error.foreach(e => throw e)
      println(f"[repeat] $name run$i: ${r.sec}%.2f s (${r.rows} rows)")
      r.sec
    }
    val sorted = times.sorted
    println(f"""{"gate":"$name","n":$n,"min":${sorted.head}%.2f,""" +
      f""""median":${sorted(n / 2)}%.2f,"max":${sorted.last}%.2f}""")
    spark.stop()
  }
}
