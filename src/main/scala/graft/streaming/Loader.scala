package graft.streaming

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.diff.ChunkDiff

/**
 * L2 (load unit) — DM's dump+load with PER-CHUNK checkpoints (reference
 * dm/loader/checkpoint.go: every data file's load progress persists, a
 * restarted task skips finished files and re-loads unfinished ones;
 * lightning's chunk checkpoints share the shape).
 *
 * Spark-first mapping: a "file" is an equal-width key-range chunk (the S8
 * chunker, `ChunkDiff.chunkByWidth`); each chunk lands in its own
 * directory, and a `_CHUNK_DONE` marker is written only AFTER the chunk's
 * data commits. Resume = list markers, skip done chunks, and OVERWRITE
 * any partially-written chunk (per-chunk replace is idempotent, so a
 * crash mid-chunk can never double-load rows). At scale each chunk write
 * is a distributed job over one key range; the marker scan is O(chunks).
 */
object Loader {

  private def chunkDir(destDir: String, c: Int) = s"$destDir/chunk_$c"
  private def marker(destDir: String, c: Int) =
    Paths.get(s"${chunkDir(destDir, c)}__DONE")

  /** Chunk ids already checkpointed in destDir. */
  def loadedChunks(destDir: String, nChunks: Int): Seq[Int] =
    (0 until nChunks).filter(c => Files.exists(marker(destDir, c)))

  /**
   * Load `src` into destDir chunk by chunk, skipping checkpointed chunks.
   * Test/fault hooks mirror how the reference's integration suite kills a
   * loader mid-task: `completeAtMost` bounds this pass's finished chunks,
   * and `partialNext` then writes HALF of the next chunk without its
   * marker (the crash-mid-chunk state). Returns the chunk ids completed
   * this pass.
   */
  def loadChunks(spark: SparkSession, src: DataFrame, keyCol: String,
                 nChunks: Int, destDir: String,
                 completeAtMost: Int = Int.MaxValue,
                 partialNext: Boolean = false): Seq[Int] = {
    val (lo, hi) = ChunkDiff.widthBounds(src, keyCol)
    val chunked = src.withColumn("_chunk",
      ChunkDiff.chunkByWidth(col(keyCol).cast("long"), lo, hi, nChunks))
    val todo = (0 until nChunks).filterNot(c => Files.exists(marker(destDir, c)))
    val completed = todo.take(completeAtMost)
    completed.foreach { c =>
      chunked.filter(col("_chunk") === c).drop("_chunk")
        .write.mode("overwrite").parquet(chunkDir(destDir, c))
      Files.createFile(marker(destDir, c))
      ()
    }
    if (partialNext) todo.drop(completeAtMost).headOption.foreach { c =>
      // crash mid-chunk: half the rows land, the marker never does
      chunked.filter(col("_chunk") === c && pmod(col(keyCol), lit(2)) === 0)
        .drop("_chunk")
        .write.mode("overwrite").parquet(chunkDir(destDir, c))
    }
    completed
  }

  /** The loaded table: every CHECKPOINTED chunk, tagged with its id.
    * Partial (marker-less) chunk dirs are invisible — exactly the
    * reference's restart contract. */
  def readLoaded(spark: SparkSession, destDir: String, nChunks: Int): DataFrame = {
    val done = loadedChunks(destDir, nChunks)
    require(done.nonEmpty, s"no checkpointed chunks under $destDir")
    done.map(c => spark.read.parquet(chunkDir(destDir, c))
        .withColumn("_chunk", lit(c)))
      .reduce(_.unionByName(_))
  }
}
