package graft

import org.apache.spark.sql.SparkSession

/** The one way to build a graft session: `local[cpus]` with as many
  * shuffle partitions, UTC session time, the UI off and the graft
  * extensions injected. Shared by every main and the test fixture. */
object Session {
  def local(cpus: Int): SparkSession = SparkSession.builder()
    .master(s"local[$cpus]")
    .config("spark.sql.shuffle.partitions", cpus)
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.ui.enabled", "false")
    .config("spark.sql.extensions", "graft.GraftExtensions")
    .getOrCreate()
}
