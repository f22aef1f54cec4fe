package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import graft.core.FileOps

/**
 * One driver-gradeable query: a Spark implementation plus (usually) an
 * equivalent DuckDB oracle SQL over the same parquet tables. Column names
 * MUST match between the two — the driver sorts columns by name and hashes
 * values. Results must be deterministic across engines: integer/decimal
 * arithmetic only in derived values; raw doubles may pass through untouched.
 *
 * `heavy` classifies the gate BY BEHAVIOR for Bench's phased run: set it at
 * the definition of any gate that starts a StreamingQuery, opens an embedded
 * Derby database, writes checkpoint dirs, or loops driver-side — such gates
 * churn the driver heap and run in Bench's final phase with GC settles, so
 * their collection pauses are never billed to a neighboring map-only gate.
 * Bench cross-checks the tag at runtime (a StreamingQueryListener flags any
 * untagged gate that starts a stream), so a forgotten tag is loud.
 */
final case class GateQuery(
    name: String,
    oracle: Option[String],
    heavy: Boolean = false)(
    val run: (SparkSession, String) => DataFrame)

object Gate {

  /** The tiflow reference checkout q287, q305 and q310 read; the one place
    * main code names it. */
  val ReferenceRoot = "/root/reference"

  /** SQL string-literal rendering for generated VALUES scripts (null →
    * NULL) — ONE copy so gate script quoting cannot drift per file. */
  def sqlStr(s: String): String =
    if (s == null) "NULL" else "'" + s.replace("'", "''") + "'"

  /**
   * Remove stale PID-keyed scratch dirs of FINISHED gate processes under
   * java.io.tmpdir (dirs are named `<prefix>..._<pid>` so concurrent live
   * runs never collide — but without this sweep every bench/verify
   * invocation would leak its predecessor's tree). A dir is removed only
   * when its embedded PID is not alive.
   */
  def sweepStaleScratch(prefix: String): Unit = {
    val tmp = new java.io.File(System.getProperty("java.io.tmpdir"))
    Option(tmp.listFiles).getOrElse(Array.empty)
      .filter(f => f.isDirectory && f.getName.startsWith(prefix))
      .foreach { f =>
        val pid = f.getName.substring(f.getName.lastIndexOf('_') + 1).toLongOption
        val alive = pid.exists(p =>
          p == ProcessHandle.current.pid ||
            ProcessHandle.of(p).map[Boolean](_.isAlive).orElse(false))
        if (!alive) FileOps.deleteTree(f)
      }
  }

  /** Fresh per-(scale-dir, process) scratch dir under tmpdir: sweeps
    * finished peers' leftovers, clears any prior dir of this process, and
    * returns (path, tag) — the shared scaffold of every gate that renders
    * files or opens an embedded database. */
  def freshScratch(prefix: String, dir: String): (String, String) = {
    sweepStaleScratch(prefix)
    val abs = new java.io.File(dir).getAbsolutePath
    val tag = Integer.toHexString(abs.hashCode) + "_" + ProcessHandle.current.pid
    val path = System.getProperty("java.io.tmpdir") + s"/$prefix$tag"
    FileOps.deleteTree(new java.io.File(path))
    (path, tag)
  }

  /**
   * Registry of the shared-build caches (LSH candidates, diff
   * table, labels, cosine pairs, …). Verify/Bench keep them — the builds
   * log as their own `[bench]` line items so attribution stays explicit —
   * but Bench100x's clean-room sweep clears them BETWEEN entries: after
   * its unpersist pass a cached DataFrame reference would silently
   * recompute unpersisted on every downstream action (r12 finding: q67 at
   * 112 s re-deriving q65's swept LSH table), whereas a cleared map makes
   * the next consumer rebuild-and-re-persist — paying exactly what an
   * isolated run pays.
   */
  private val sharedCaches = scala.collection.mutable.ArrayBuffer
    .empty[scala.collection.concurrent.TrieMap[_, _]]
  def clearSharedCaches(): Unit = synchronized { sharedCaches.foreach(_.clear()) }

  /** Time a shared-table build and emit it as its own `[bench]` line item,
    * so the cost of a cached intermediate (LSH signature/candidate table,
    * the diff table) is attributed explicitly instead of billed to whichever
    * consuming gate happens to run first. */
  def timedBuild[T](what: String)(body: => T): T = {
    val t0 = System.nanoTime()
    val r = body
    System.err.println(
      f"[bench] built shared $what in ${(System.nanoTime() - t0) / 1e9}%.2f s")
    r
  }

  /** A build several gates consume, run once per (session, dir) through
    * [[timedBuild]] — persist inside `build` what the consumers read. An
    * entry whose session has stopped (repeated programmatic runs in one
    * JVM) is dropped and rebuilt, never reused. */
  def shared[T](what: String)(build: (SparkSession, String) => T)
      : (SparkSession, String) => T = {
    val cache = scala.collection.concurrent.TrieMap
      .empty[(SparkSession, String), T]
    synchronized { sharedCaches += cache }
    (spark, dir) => {
      cache.keys.filter(_._1.sparkContext.isStopped).foreach(cache.remove)
      cache.getOrElseUpdate((spark, dir),
        timedBuild(s"$what ($dir)")(build(spark, dir)))
    }
  }

  /**
   * Named warmers for the shared builds above: Bench runs these
   * FIRST, each as its own bench entry (b1_…), so a shared cache's
   * one-time cost is billed explicitly instead of to whichever consuming
   * gate happens to run first (r17 VERDICT: q243 re-billed the compare-facts
   * build under adjudication because raw-vs-repeat saw different cache
   * states; with a prebuild phase every gate reading a shared cache
   * reports marginal cost in both). Registration happens in the query
   * objects' initializers — call `all` (which touches every object)
   * before reading `builds`.
   */
  private val buildWarmers = scala.collection.mutable.ArrayBuffer
    .empty[(String, (SparkSession, String) => Unit)]
  def registerBuild(name: String)(warm: (SparkSession, String) => Unit): Unit =
    synchronized { buildWarmers += (name -> warm); () }
  def builds: Seq[(String, (SparkSession, String) => Unit)] =
    synchronized { buildWarmers.sortBy(_._1).toSeq }

  def all: Seq[GateQuery] =
    CoreQueries.all ++ CdcQueries.all ++ DiffQueries.all ++
      CodecQueries.all ++ GenericCodecQueries.all ++ DocQueries.all ++
      CurationQueries.all ++ LmQueries.all ++ EmbeddingQueries.all ++
      StatsQueries.all ++ ExtraQueries.all ++ ScaleQueries.all ++
      AnalyticsQueries.all ++
      DdlQueries.all ++ StreamTwinQueries.all ++ ConfigQueries.all ++
      LifecycleQueries.all ++ RedoQueries.all ++ SchedulerQueries.all ++
      TaskConfigQueries.all

  def queries: Map[String, (SparkSession, String) => DataFrame] =
    all.map(q => q.name -> q.run).toMap

  def oracleSql: Map[String, String] =
    all.flatMap(q => q.oracle.map(q.name -> _)).toMap
}
