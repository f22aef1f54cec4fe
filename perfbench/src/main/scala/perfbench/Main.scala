package perfbench

import java.nio.file.{Files, Paths}

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.SparkSession

/**
 * One benchmark run of one workload in one JVM. Prints a single line
 * `PERFBENCH_RESULT {json}` on stdout; `perfbench/run.py` turns it into the
 * reported result. Flags: --workload --seed --seconds --trace 0|1 --work DIR
 * --trace-dir DIR --cpus N [--scale standard|tiny] [--defect skip_batch].
 */
object Main {
  /** Input generations per run; setup time counts their median. */
  val SetupReps = 3

  def main(argv: Array[String]): Unit = {
    val o = argv.grouped(2).collect {
      case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
    }.toMap
    val work = o("work")
    val scale = o.getOrElse("scale", "standard")
    // a comma-separated list runs each workload in turn in one JVM: the
    // class-loading pass run.py records into a class-data archive
    val names = o("workload").split(',').toSeq
    val workloads = names.map(Workloads.named(_, scale))
    Files.createDirectories(Paths.get(work))
    val t0 = System.nanoTime()
    val cpus = o("cpus").toInt
    val spark = SparkSession.builder().master(s"local[$cpus]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.local.dir", s"$work/spark-local")
      .config("spark.sql.warehouse.dir", s"$work/warehouse")
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val sessionS = (System.nanoTime() - t0) / 1e9
    try workloads.zipWithIndex.foreach { case (w, i) =>
      val r = new Runner(spark, w, seed = o("seed").toLong,
        seconds = o("seconds").toDouble, work = s"$work/w$i",
        defect = o.get("defect").contains("skip_batch"))
      val result = r.run(sessionS, traced = o("trace") == "1", o("trace-dir"))
      println("PERFBENCH_RESULT " + Json.render(result ++ Map(
        "cpus" -> cpus, "scale" -> scale)))
    } finally spark.stop()
  }
}

/** What the timed loop of one run did. */
final case class Measured(rounds: Seq[RoundOut], attempted: Int, failed: Int,
    cpuNs: Long, errors: Seq[String])

/** Untimed-setup, timed-loop, untimed-check driver of one workload. */
final class Runner(spark: SparkSession, w: Workload, seed: Long,
    seconds: Double, work: String, defect: Boolean) {
  private val sc = spark.sparkContext
  private val cpu = new CpuMeter
  sc.addSparkListener(cpu)

  /** At least `minRounds` rounds, then more while one more still fits in
    * `seconds`, so every run does the same whole number of rounds. Only the
    * last round's output is kept on disk, for the check. */
  private def measure(p: Prepared, tag: String, trace: Option[Trace]): Measured = {
    Trace.drain(sc)
    val cpu0 = cpu.cpuNs.get
    val deadline = System.nanoTime() + (seconds * 1e9).toLong
    val rounds = ArrayBuffer.empty[RoundOut]
    val errors = ArrayBuffer.empty[String]
    var attempted, failed, i = 0
    var prev: Option[String] = None
    var lastNs = 0L
    while (i < p.minRounds || deadline - System.nanoTime() > lastNs) {
      val dir = s"$work/$tag$i"
      val t0 = System.nanoTime()
      try rounds += p.round(dir, trace, defect)
      catch {
        case e: Exception =>
          failed += p.opsPerRound
          errors += e.toString.take(300)
      }
      attempted += p.opsPerRound
      lastNs = System.nanoTime() - t0
      prev.filter(d => rounds.lastOption.exists(_.dir != d))
        .foreach(d => Fs.rm(Paths.get(d)))
      prev = Some(dir)
      i += 1
    }
    Trace.drain(sc)
    Measured(rounds.toSeq, attempted, failed, cpu.cpuNs.get - cpu0, errors.toSeq)
  }

  private def endToEnd(m: Measured, setupS: Double): (Map[String, Double], Double) = {
    val ops = m.rounds.flatMap(_.ops)
    val rows = m.rounds.map(_.rows).sum.toDouble
    val (tail, pct) = Stats.tail(ops)
    // the median round's throughput: one round slowed by a burst of host
    // contention does not move it
    (Map("setup_s" -> setupS,
      "rows_per_s" -> Stats.median(m.rounds.map(r => r.rows / (r.wallNs / 1e9))),
      "op_p50_ms" -> Stats.median(ops),
      "op_tail_ms" -> tail,
      "cpu_s_per_mrow" -> m.cpuNs / 1e9 / (rows / 1e6),
      "out_mb" -> m.rounds.last.outBytes / 1e6), pct)
  }

  def run(sessionS: Double, traced: Boolean, traceDir: String): Map[String, Any] = {
    // generate the inputs SetupReps times (the last set is measured), then
    // warm up: setup = session start + median generation + warm-up
    val setups = (0 until Main.SetupReps).map { i =>
      val t0 = System.nanoTime()
      val p = w.setup(spark, seed, s"$work/setup$i")
      if (i > 0) Fs.rm(Paths.get(s"$work/setup${i - 1}"))
      (System.nanoTime() - t0) / 1e9 -> p
    }
    val p = setups.last._2
    val w0 = System.nanoTime()
    (0 until p.warmRounds).foreach { i =>
      p.warmUp(s"$work/warm$i")
      Fs.rm(Paths.get(s"$work/warm$i"))
    }
    val warmS = (System.nanoTime() - w0) / 1e9
    val setupS = sessionS + Stats.median(setups.map(_._1)) + warmS

    val plain = measure(p, "round", None)
    if (plain.rounds.isEmpty) throw new IllegalStateException(
      s"no round of ${w.name} completed: ${plain.errors.mkString("; ")}")
    val checks = ArrayBuffer.empty[Check]
    plain.rounds.lastOption.foreach(r => checks += p.check(r))

    var layers = Layers(Map.empty, Map.empty)
    var traceFile = ""
    var traceRounds = 0
    if (traced) {
      val tr = new Trace(sc)
      sc.addSparkListener(tr)
      spark.streams.addListener(tr.queryListener)
      val m = try measure(p, "traced", Some(tr)) finally {
        Trace.drain(sc)
        spark.streams.removeListener(tr.queryListener)
        sc.removeSparkListener(tr)
      }
      traceRounds = m.rounds.size
      m.rounds.lastOption.foreach(r => checks += p.check(r))
      if (m.rounds.nonEmpty) {
        val l = p.layers(tr, m.rounds)
        val base = Stats.median(plain.rounds.flatMap(_.ops))
        val overMs = Stats.median(m.rounds.flatMap(_.ops)) - base
        layers = Layers(l.values ++ tr.runtime(m.rounds.size) ++ Map(
          "trace.overhead_ms" -> overMs,
          "trace.overhead_pct" -> 100 * overMs / base), l.absent)
      }
      Files.createDirectories(Paths.get(traceDir))
      traceFile = s"$traceDir/${w.name}-seed$seed.json"
      Files.writeString(Paths.get(traceFile), Json.obj(
        "workload" -> w.name, "seed" -> seed, "rounds" -> m.rounds.size,
        "layers" -> layers.values, "absent" -> layers.absent,
        "errors" -> m.errors, "trace" -> new RawJson(tr.toJson)))
    }
    val disk = graft.BenchMetrics.diskMbps(64L << 20)
    val (e2e, tailPct) = endToEnd(plain, setupS)
    val checkOk = checks.nonEmpty && checks.forall(_.ok)
    // a failed output check fails every op of the run
    val failed = if (checkOk) plain.failed else plain.attempted
    Map(
      "workload" -> w.name, "seed" -> seed,
      "correct" -> checkOk, "attempted" -> plain.attempted, "failed" -> failed,
      "error_rate" -> failed.toDouble / plain.attempted,
      "check" -> checks.map(_.detail), "errors" -> plain.errors,
      "metrics" -> e2e,
      "layers" -> (layers.values ++ Map("host.disk_mbps" -> disk)),
      "absent" -> layers.absent,
      "ops" -> plain.rounds.map(_.ops.size).sum,
      "tail_percentile" -> tailPct, "rounds" -> plain.rounds.size,
      "round_s" -> plain.rounds.map(_.wallNs / 1e9),
      "traced_rounds" -> traceRounds,
      "session_s" -> sessionS, "setup_reps_s" -> setups.map(_._1),
      "warm_up_s" -> warmS,
      "host.disk_mbps" -> disk, "trace_file" -> traceFile)
  }
}
