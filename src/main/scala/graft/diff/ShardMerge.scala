package graft.diff

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.operators.Routing

/**
 * sync_diff's shard-merge upstream (SURVEY §2.13 — the mode every DM
 * shard-merge user validates with): N physical shard tables, router rules
 * mapping each to ONE logical table, diffed against a single downstream
 * (reference sync_diff_inspector/source/source.go:163-225 builds the
 * per-source routers; source/mysql_shard.go holds the shard-side source).
 *
 * Spark-first shape: the reference fans a goroutine per shard for each
 * chunk, then merges — counts SUM, checksums XOR
 * (mysql_shard.go:107-150 `totalChecksum ^= info.Checksum`) — and row
 * iterators heap-merge k sorted streams (mysql_shard.go:286-325). Here the
 * shards union into one DataFrame: the XOR merge falls out of bit_xor's
 * distributivity over the union's partial aggregates, and the heap merge is
 * the shuffle sort any downstream consumer already pays — no per-shard
 * orchestration survives at the plan level. [[shardChunkChecksums]] keeps
 * the reference's explicit per-shard-partial + XOR-combine path so the
 * equivalence is CHECKED (q263), not assumed.
 */
object ShardMerge {

  /**
   * Tag each physical shard with its (schema, table), route through the DM
   * router rules, keep rows landing on the logical target, return the
   * merged upstream. A shard whose route misses the target is shielded —
   * exactly source.go:163-211's shield-rule behavior for sources with no
   * self-match.
   */
  def mergeSources(shards: Seq[(String, String, DataFrame)],
      rules: Seq[Routing.RouteRule],
      targetSchema: String, targetTable: String): DataFrame = {
    val dataCols = shards.head._3.columns.toSeq
    shards.map { case (s, t, df) =>
      Routing.route(
        df.withColumn("schema_name", lit(s)).withColumn("table_name", lit(t)),
        rules)
    }.reduce(_ unionByName _)
      .filter(col("target_schema") === targetSchema &&
        col("target_table") === targetTable)
      .select(dataCols.map(col): _*)
  }

  /** Derive a [[StructCompare.TableStruct]] from a shard's Spark schema so
    * the struct gate can run ahead of the union: Spark types map onto the
    * reference's type-class names (integrals into the int class, strings
    * into varchar, binary into blob — utils.go:324-354's classes), other
    * types compare exactly by type name. */
  def structOf(name: String, df: DataFrame): StructCompare.TableStruct = {
    import org.apache.spark.sql.types._
    val cols = df.schema.fields.toSeq.map { f =>
      val t = f.dataType match {
        case ByteType => "tiny"
        case ShortType => "short"
        case IntegerType => "long"
        case LongType => "longlong"
        case StringType => "varchar"
        case BinaryType => "blob"
        case other => other.typeName
      }
      StructCompare.ColDef(f.name, t)
    }
    StructCompare.TableStruct(name, cols)
  }

  /**
   * [[mergeSources]] behind the reference's struct gate (source.go:163-225
   * runs utils.CompareStruct over every shard before any data work): a
   * shard whose struct FATALLY mismatches the downstream — column count,
   * positional name, or type class (utils.go:414-466) — yields the
   * reference's skip-with-reason verdict instead of a Spark
   * column-resolution error mid-union.
   */
  def mergeSourcesChecked(shards: Seq[(String, String, DataFrame)],
      rules: Seq[Routing.RouteRule],
      targetSchema: String, targetTable: String,
      downstream: DataFrame): Either[String, DataFrame] = {
    val r = StructCompare.compareStruct(
      shards.map { case (_, t, df) => structOf(t, df) },
      structOf(targetTable, downstream))
    if (r.isSkip) Left("structure not equal, and data-check is skipped")
    else Right(mergeSources(shards, rules, targetSchema, targetTable))
  }

  /**
   * The reference's merge rule made explicit: per-shard per-chunk partial
   * digests ([[ChunkDiff.chunkDigest]]: count, bit_xor of row digests)
   * combined across shards by SUM/XOR (mysql_shard.go:127-150). Chunk
   * membership must come from SHARED bounds (the downstream's key
   * min/max) so every shard and the downstream agree on boundaries; the
   * result is `(chunk_id, cnt, checksum)`, ready for
   * [[ChunkDiff.compareChunks]]. Scale shape: one partial agg per shard +
   * one nChunks-sized combine — never an all-shard row union in the
   * checksum path.
   */
  def shardChunkChecksums(shards: Seq[DataFrame], keyCol: String,
      lo: Long, hi: Long, nChunks: Int,
      canonicalCols: DataFrame => Seq[Column]): DataFrame =
    shards.map { df =>
      val key = col(keyCol)
      ChunkDiff.chunkDigest(df, ChunkDiff.chunkByWidth(key, lo, hi, nChunks),
        key, canonicalCols(df)).select("chunk_id", "cnt", "checksum")
    }.reduce(_ unionByName _)
      .groupBy("chunk_id")
      .agg(sum("cnt").as("cnt"), expr("bit_xor(checksum)").as("checksum"))
}
