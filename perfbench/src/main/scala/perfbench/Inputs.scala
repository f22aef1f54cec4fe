package perfbench

import java.nio.file.{Files, Path, Paths}

import org.apache.spark.Partitioner
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import graft.core.ChangeGen

/** One change event of the envelope, as the feed workloads write it. */
final case class Ev(seq: Long, op: String, commit_ts: Long, start_ts: Long,
    source_id: Int, schema_name: String, table_name: String, pk: Long,
    pk_after: Long, val_before: Option[Double], val_after: Option[Double],
    etype: String)

/** A backlog of change events, one parquet file per microbatch. */
final case class Backlog(dir: String, schema: StructType, files: Seq[Path],
    rows: Long, dataRows: Long)

/** Source and replica tables of a sync check, plus the planted mismatches. */
final case class DiffTables(src: String, dst: String, srcRows: Long,
    dstRows: Long, planted: Set[(Long, String)])

/** Seeded input generators. Everything here runs before timing starts. */
object Inputs {

  /** Shape of a generated change backlog. `ddlEvery` > 0 adds DDL control
    * rows (op "G"): a CREATE per table in batch 0 and an ADD COLUMN every
    * `ddlEvery` batches after it. */
  final case class FeedShape(rows: Int, batches: Int, keySpace: Int,
      updatePct: Int, deletePct: Int, churnPct: Int, txnSize: Int,
      ddlEvery: Int)

  val Tables: Seq[String] = (0 until 4).map(i => s"t$i") // ChangeGen's

  private final class ExactPartitioner(n: Int) extends Partitioner {
    def numPartitions: Int = n
    def getPartition(key: Any): Int = key.asInstanceOf[Int]
  }

  /**
   * A `ChangeGen` stream made consistent per key: the first event of a key
   * inserts it, a delete removes it, the event after a delete re-inserts
   * it, and a key-changing update moves the row to a key nothing else
   * touches. A sink that applies the stream in order therefore never sees
   * an INSERT of a live key or a DELETE of a missing one.
   */
  def changeStream(spark: SparkSession, seed: Long, s: FeedShape): DataFrame = {
    import spark.implicits._
    val raw = ChangeGen.generate(spark, ChangeGen.Config(seed = seed,
      n = s.rows, keySpace = s.keySpace, updatePct = s.updatePct,
      deletePct = s.deletePct, churnPct = s.churnPct, txnSize = s.txnSize))
    val ks = s.keySpace.toLong
    raw.as[Ev].groupByKey(_.pk).flatMapSortedGroups($"seq") { (_, events) =>
      var live = false
      var n = 0L
      events.map { e =>
        val v = e.val_after.getOrElse(e.val_before.getOrElse(0d) + 1)
        val out =
          if (!live) {
            live = true
            e.copy(op = "I", pk_after = e.pk, val_before = None, val_after = Some(v))
          } else if (e.op == "D") {
            live = false
            e.copy(pk_after = e.pk, val_before = Some(v - 1), val_after = None)
          } else if (e.pk_after != e.pk) {
            live = false
            e.copy(op = "U", pk_after = e.pk + ks * (n + 1),
              val_before = Some(v - 1), val_after = Some(v))
          } else e.copy(op = "U", val_before = Some(v - 1), val_after = Some(v))
        n += 1
        out
      }
    }.toDF()
  }

  /** DDL control rows, one group at the first commit ts of its batch. */
  private def ddlRows(s: FeedShape): Seq[Ev] = {
    val perBatch = s.rows / s.batches
    def at(b: Int, table: String, sql: String): Ev = {
      val seq = b.toLong * perBatch
      val ts = 1000L + seq / s.txnSize
      Ev(seq, "G", ts, ts - 1, 0, "gen", table, 0L, 0L, None, None, sql)
    }
    if (s.ddlEvery <= 0) Nil
    else Tables.map(t =>
        at(0, t, s"CREATE TABLE gen.$t (pk BIGINT PRIMARY KEY, final_val DOUBLE)")) ++
      (s.ddlEvery until s.batches by s.ddlEvery).map { b =>
        val t = Tables((b / s.ddlEvery) % Tables.size)
        at(b, t, s"ALTER TABLE gen.$t ADD COLUMN c$b INT")
      }
  }

  /**
   * Write the seeded backlog under `dir`: file i holds exactly the events
   * of microbatch i in seq order, and file mtimes increase with i, so a
   * file source with one file per trigger replays the batches in order.
   */
  def writeBacklog(spark: SparkSession, seed: Long, s: FeedShape,
      dir: String): Backlog = {
    import spark.implicits._
    val perBatch = s.rows / s.batches
    require(perBatch > 0 && s.rows % s.batches == 0,
      s"rows ${s.rows} must split evenly into ${s.batches} batches")
    val ddl = ddlRows(s)
    val events = changeStream(spark, seed, s).unionByName(ddl.toDF())
    val schema = events.schema
    val parted = events.rdd
      .map(r => (r.getAs[Long]("seq") / perBatch).toInt -> r)
      .partitionBy(new ExactPartitioner(s.batches)).values
    val staging = s"$dir.staging"
    spark.createDataFrame(parted, schema).sortWithinPartitions("seq")
      .write.parquet(staging)
    val parts = Files.list(Paths.get(staging)).toArray.map(_.asInstanceOf[Path])
      .filter(_.getFileName.toString.startsWith("part-"))
      .filter(_.getFileName.toString.endsWith(".parquet"))
      .sortBy(p => p.getFileName.toString.drop(5).takeWhile(_ != '-').toInt)
    require(parts.length == s.batches,
      s"expected ${s.batches} backlog files, found ${parts.length}")
    Files.createDirectories(Paths.get(dir))
    val base = System.currentTimeMillis() - 1000L * (s.batches + 1)
    val files = parts.toSeq.zipWithIndex.map { case (p, i) =>
      val dst = Paths.get(dir, f"batch-$i%05d.parquet")
      Files.move(p, dst)
      dst.toFile.setLastModified(base + 1000L * i)
      dst
    }
    Fs.rm(Paths.get(staging))
    Backlog(dir, schema, files, s.rows.toLong + ddl.size, s.rows.toLong)
  }

  /** A backlog holding the first `n` files of `b` (same order, same mtimes). */
  def prefix(b: Backlog, n: Int, dir: String): Backlog = {
    Files.createDirectories(Paths.get(dir))
    val files = b.files.take(n).map { f =>
      val dst = Paths.get(dir, f.getFileName.toString)
      Files.copy(f, dst)
      dst.toFile.setLastModified(f.toFile.lastModified())
      dst
    }
    b.copy(dir = dir, files = files)
  }

  /** Shape of a generated sync-check table pair. */
  final case class DiffShape(rows: Int, chunks: Int, clusters: Int,
      clusterRows: Int, stride: Int)

  /**
   * Source table with a unique key `id` (even numbers), and a replica with
   * seeded missing, extra (odd ids) and changed rows. Mismatches sit in
   * `clusters` narrow key ranges away from both ends of the key space, so
   * both sides keep the same key bounds (hence the same chunk boundaries)
   * and only the chunks holding a cluster differ.
   */
  def writeDiffTables(spark: SparkSession, seed: Long, s: DiffShape,
      dir: String): DiffTables = {
    val rnd = new java.util.Random(seed)
    val chunkRows = s.rows / s.chunks
    val zone = (s.rows - 2 * chunkRows) / s.clusters
    require(zone > s.clusterRows, "clusters do not fit the table")
    val planted = (0 until s.clusters).flatMap { c =>
      val start = chunkRows + c * zone + rnd.nextInt(zone - s.clusterRows)
      (0 until s.clusterRows by s.stride).zipWithIndex.map { case (j, k) =>
        val i = (start + j).toLong
        k % 3 match {
          case 0 => (2 * i, "missing")
          case 1 => (2 * i, "different")
          case _ => (2 * i + 1, "extra")
        }
      }
    }
    def ids(kind: String) = planted.filter(_._2 == kind).map(_._1)
    val i = col("id")
    def h(salt: Int) = xxhash64(lit(seed), i, lit(salt))
    val src = spark.range(s.rows).select((i * 2).as("id"))
      .select(i, pmod(h(1), lit(1000000007L)).as("k"),
        (pmod(h(2), lit(10000000L)) / 100d).as("v"),
        concat(lit("n"), pmod(h(3), lit(100000000L)).cast("string")).as("s"))
    val extraRows = ids("extra").map { id =>
      Row(id, (rnd.nextInt() & 0x7fffffff).toLong, rnd.nextInt(10000000) / 100d,
        s"x${rnd.nextInt(100000000)}")
    }
    val dst = src.filter(!i.isin(ids("missing"): _*))
      .withColumn("v", when(i.isin(ids("different"): _*), col("v") + 1d)
        .otherwise(col("v")))
      .unionByName(spark.createDataFrame(
        spark.sparkContext.parallelize(extraRows, 1), src.schema))
    src.write.parquet(s"$dir/src")
    dst.write.parquet(s"$dir/dst")
    DiffTables(s"$dir/src", s"$dir/dst", s.rows.toLong,
      s.rows.toLong - ids("missing").size + ids("extra").size, planted.toSet)
  }
}

/** Small file-system helpers. */
object Fs {
  def rm(p: Path): Unit = {
    val f = p.toFile
    Option(f.listFiles()).getOrElse(Array.empty).foreach(c => rm(c.toPath))
    f.delete(); ()
  }

  /** Bytes of the regular files under `p` whose names end with `suffix`. */
  def bytes(p: Path, suffix: String): Long =
    if (!Files.exists(p)) 0L
    else {
      val s = Files.walk(p)
      try s.filter(f => Files.isRegularFile(f) &&
          f.getFileName.toString.endsWith(suffix))
        .mapToLong(f => Files.size(f)).sum()
      finally s.close()
    }
}
