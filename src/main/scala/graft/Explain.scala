package graft

/** Dev utility: print the formatted physical plan (or row count) of named
  * gate queries — the plan-audit loop behind the per-round scale review.
  * Usage: tools/run.sh graft.Explain <q1,q2,...> [count];
  * SPARK_GRAFT_SF_DIR picks the scale. */
object Explain {
  def main(a: Array[String]): Unit = {
    val spark = Session.local(8)
    spark.sparkContext.setLogLevel("ERROR")
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")
    val names =
      if (a.nonEmpty && a(0) != "count") a(0).split(',').toSeq
      else SparkEntry.queries.keys.toSeq.sorted
    val doCount = a.contains("count")
    names.foreach { n =>
      println(s"=== $n")
      val df = SparkEntry.queries(n)(spark, sfDir)
      if (doCount) println(s"rows = ${df.count()}") else df.explain("formatted")
    }
    spark.stop()
  }
}
