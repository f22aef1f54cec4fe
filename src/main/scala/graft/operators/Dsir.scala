package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Hashing

/**
 * Importance-weighted data selection over hashed n-gram features — the
 * DSIR shape (Xie et al. 2023, "Data Selection for Language Models via
 * Importance Resampling", public): estimate a target and a raw unigram
 * model over HASHED feature buckets, weight every raw document by its
 * log importance ratio Σ tf·(log p̂_target(b) − log p̂_raw(b)), and select
 * the high-weight slice. Hashing makes the model a FIXED-width table
 * (b buckets however large the vocabulary), which is what lets the
 * method run at corpus scale.
 *
 * Exact integer arithmetic: with Laplace smoothing the per-bucket log
 * ratio is λ_b = (l2q16(n_t(b)+1) − l2q16(N_t+B)) − (l2q16(n_r(b)+1) −
 * l2q16(N_r+B)) in fixed-point log2 ([[TextLm.l2q16]]) — no float
 * anywhere, so the oracle replays every λ and every document score.
 *
 * Scale shape (100 TB): bucket counting is one partial-aggregated pass
 * per side (per-partition state ≤ B); the λ table (B rows) broadcasts;
 * scoring folds the single-tokenization [[graft.functions.TextRuns.tokenTf]]
 * pair array against it — token occurrences never shuffle, and the
 * selection itself is a map-only predicate on the score.
 */
object Dsir {

  /** Occurrence counts per hashed bucket: (bucket, n), one bounded
    * partial agg; buckets with no mass are absent (the λ builder
    * completes the range). r21: the tokenize→md5→mod-b chain is ONE
    * in-row kernel ([[graft.functions.TextRuns.bucketTf]]) emitting
    * per-bucket pre-summed tf pairs — the former form exploded a row per
    * distinct token STRING and hashed each with portableLong; per-bucket
    * totals are identical (both are [[graft.core.Hashing.md5Long]] and
    * regrouping commutes with the sum). */
  def bucketCounts(df: DataFrame, textCol: String, b: Int): DataFrame =
    df.select(explode(graft.functions.TextRuns.bucketTf(col(textCol), b)).as("p"))
      .groupBy(col("p.bucket").as("bucket")).agg(sum(col("p.tf")).as("n"))

  /**
   * The importance model: per bucket 0..b−1, λ_q16 = smoothed target
   * log-prob minus smoothed raw log-prob, exact fixed point. Returns
   * (bucket, lam_q16) — b rows, broadcastable at any corpus size.
   */
  def bucketLogRatio(target: DataFrame, raw: DataFrame, textCol: String,
                     b: Int): DataFrame = {
    val spark = target.sparkSession
    val tc = bucketCounts(target, textCol, b)
      .withColumnRenamed("n", "nt")
    val rc = bucketCounts(raw, textCol, b)
      .withColumnRenamed("n", "nr")
    val full = spark.range(b).select(col("id").as("bucket"))
      .join(tc, Seq("bucket"), "left").join(rc, Seq("bucket"), "left")
      .withColumn("nt", coalesce(col("nt"), lit(0L)))
      .withColumn("nr", coalesce(col("nr"), lit(0L)))
    val tot = full.agg(sum(col("nt")).as("snt"), sum(col("nr")).as("snr"))
    full.crossJoin(broadcast(tot))
      .withColumn("lam_q16",
        (TextLm.l2q16(col("nt") + 1) - TextLm.l2q16(col("snt") + b.toLong)) -
          (TextLm.l2q16(col("nr") + 1) - TextLm.l2q16(col("snr") + b.toLong)))
      .select("bucket", "lam_q16")
  }

  /**
   * Per-document importance score: Σ over distinct tokens of tf·λ_bucket,
   * via the in-row tf kernel + a broadcast join on the hashed bucket.
   * Returns doc grain (id…, n_tokens, score_q16); score may be negative
   * (doc less target-like than raw-average).
   */
  def scoreDocs(corpus: DataFrame, lam: DataFrame, idCol: String,
                textCol: String, b: Int, keepCols: Seq[String] = Nil): DataFrame = {
    val keyCols = (idCol +: keepCols).map(col)
    // r21: one in-row kernel hashes and pre-sums the doc's tf mass per
    // bucket (see [[bucketCounts]]); Σ tf·λ over buckets equals the
    // per-token sum because tokens sharing a bucket share its λ.
    // n_tokens = Σ tf folds in the SAME partial aggregation (the former
    // per-doc interpreted `aggregate` fold fell out of whole-stage
    // codegen); `lam` must be the COMPLETE 0..b−1 table
    // ([[bucketLogRatio]]'s output) so the inner join keeps every bucket.
    val tf = corpus
      .select(keyCols :+
        explode(graft.functions.TextRuns.bucketTf(col(textCol), b)).as("p"): _*)
      .select(keyCols :+ col("p.bucket").as("bucket") :+ col("p.tf").as("tf"): _*)
    tf.join(broadcast(lam), Seq("bucket"))
      .groupBy(idCol, keepCols: _*)
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("tf") * col("lam_q16")).as("score_q16"))
  }

  /** DuckDB SQL twins — keep in lockstep with the Column builders. */
  object Sql {
    /** Per-bucket occurrence counts over `tableExpr` rows' `text`. */
    def bucketCounts(fromSql: String, b: Int): String =
      s"""SELECT ${Hashing.Sql.portableLong("w")} % $b AS bucket,
         |  CAST(count(*) AS BIGINT) AS n
         |FROM (SELECT unnest(regexp_split_to_array(text, '\\s+')) AS w
         |      FROM $fromSql) GROUP BY 1""".stripMargin.replace("\n", " ")
  }
}
