package graft

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import scala.jdk.CollectionConverters._

import org.apache.spark.SparkContext
import org.apache.spark.graftbridge.SparkInternals
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/**
 * Counts the jobs Spark starts while it is installed: per streaming
 * microbatch, keyed by the job's `sql.streaming.queryId` and
 * `streaming.sql.batchId` properties, and per job group. Every read drains
 * the listener bus first, so it sees every job started before the call.
 */
final class JobTap private (sc: SparkContext) extends SparkListener {
  private val batches = new ConcurrentHashMap[(String, Long), AtomicInteger]
  private val groups = new ConcurrentHashMap[String, AtomicInteger]

  private def bump[K](m: ConcurrentHashMap[K, AtomicInteger], k: K): Unit = {
    m.computeIfAbsent(k, _ => new AtomicInteger).incrementAndGet(); ()
  }

  override def onJobStart(e: SparkListenerJobStart): Unit =
    Option(e.properties).foreach { p =>
      Option(p.getProperty("streaming.sql.batchId")).foreach(b =>
        bump(batches, (p.getProperty("sql.streaming.queryId"), b.toLong)))
      Option(p.getProperty("spark.jobGroup.id")).foreach(bump(groups, _))
    }

  /** Jobs per microbatch id, summed over the streaming queries whose id
    * `query` accepts. */
  def perBatch(query: String => Boolean = _ => true): Map[Long, Int] = {
    SparkInternals.waitListenerEmpty(sc)
    batches.asScala.toSeq.collect { case ((q, b), n) if query(q) => b -> n.get }
      .groupMapReduce(_._1)(_._2)(_ + _)
  }

  /** Runs `f` under a job group of its own; returns its result and the
    * jobs it started. */
  def inGroup[A](f: => A): (A, Int) = {
    val group = s"jobtap-${System.nanoTime()}"
    sc.setJobGroup(group, "JobTap")
    try {
      val r = f
      SparkInternals.waitListenerEmpty(sc)
      (r, Option(groups.get(group)).fold(0)(_.get))
    } finally sc.clearJobGroup()
  }
}

object JobTap {
  /** Installs a tap for the length of `body`. */
  def on[A](sc: SparkContext)(body: JobTap => A): A = {
    val tap = new JobTap(sc)
    sc.addSparkListener(tap)
    try body(tap) finally sc.removeSparkListener(tap)
  }
}
