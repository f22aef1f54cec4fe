package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * CCNet-style n-gram language-model scoring: build a bigram LM from a
 * held-in corpus slice, score every document's per-position surprisal
 * (add-one / add-V smoothed), and bucket documents by bits-per-gram —
 * the standard "perplexity filter" stage of a training-data pipeline
 * (reference capability class: per-row quality transforms, cf. the
 * reference's expression/event filter stages, pkg/filter).
 *
 * Scale shape (100 TB corpus):
 *   - the LM is built ONCE from a bounded slice and thresholded, so both
 *     LM tables broadcast; the corpus side is one map-only gram-kernel
 *     pass (each row tokenized exactly once, inside whole-stage codegen) +
 *     two broadcast hash joins — the corpus never shuffles gram strings.
 *   - the only exchange is the final (doc_id → bits) partial-aggregated
 *     groupBy, integer payload.
 *
 * Determinism: all arithmetic is INTEGER. Logarithms use a fixed-point
 * floor(16·log2 x) computed from the binary string length (exact floor
 * log2) plus a 16-entry mantissa correction table — no transcendental
 * function is evaluated at runtime in either engine, so Spark and the
 * DuckDB oracle agree bit-for-bit on every score.
 */
object TextLm {

  /** floor(16·log2(m/16)) for mantissa m = 16..31 (precomputed constants —
    * shared by both engines, never re-derived from floats at runtime). */
  private val MantissaQ16: Seq[Int] =
    Seq(0, 1, 2, 3, 5, 6, 7, 8, 9, 10, 11, 12, 12, 13, 14, 15)

  /** Fixed-point log2 for integer x >= 1: 16·floor(log2 x) + T[m-16],
    * where e = floor(log2 x) comes from the binary-string length and the
    * mantissa cell m = floor(16x / 2^e) ∈ [16,31] indexes the precomputed
    * correction table. Within 1/16 bit of 16·log2 x (cell-boundary floor
    * error only) — and, the property that matters here, every step is
    * INTEGER (the one division is by a power of two with an exact double
    * representation and a quotient < 32), so both engines produce the
    * identical value for every x without evaluating any transcendental. */
  /** Driver-side integer twin of [[l2q16]] — same formula, same table,
    * bit-identical; used when a trained model's weights are finalized on
    * collected control-plane counts. */
  def l2q16Long(x: Long): Long = {
    require(x >= 1, s"l2q16 domain: $x")
    val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
    val m = ((x * 16) >> e).toInt
    e.toLong * 16 + MantissaQ16(m - 16)
  }

  // r21: kernel-backed ([[graft.functions.LmKernels]]) — the former
  // expression tree materialized a base-2 STRING (bin) and called pow()
  // per evaluation, once per scored gram/token at corpus scale; the
  // kernel is one static call with bit-identical values on the
  // documented domain (Round21Spec pins kernel == the legacy tree).
  def l2q16(x: Column): Column =
    graft.functions.LmKernels.l2q16(x.cast("long"))

  /** Per-position word bigrams: struct(w1, "w1 w2"); empty array below two
    * tokens. Occurrence grain (NOT distinct) — LM counts are true
    * frequencies. Delegates to the codegen'd one-pass kernel
    * [[graft.functions.TextRuns.gramPairs]]: the earlier
    * `transform(sequence(...), element_at(tokens, i))` form re-evaluated
    * `split` at every position (O(L²) per doc). */
  private def gramPairs(text: Column): Column =
    graft.functions.TextRuns.gramPairs(text)

  /** Unigram occurrence counts over the held-in slice: (w, cu). */
  def unigramLm(held: DataFrame, textCol: String, minCount: Long): DataFrame =
    held.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .groupBy("w").agg(count(lit(1)).as("cu"))
      .filter(col("cu") >= minCount)

  /** Bigram occurrence counts over the held-in slice: (g, cb). The
    * threshold bounds the broadcast size (prod would add a top-K cap). */
  def bigramLm(held: DataFrame, textCol: String, minCount: Long): DataFrame =
    held.select(explode(gramPairs(col(textCol))).as("p"))
      .select(col("p.g").as("g"))
      .groupBy("g").agg(count(lit(1)).as("cb"))
      .filter(col("cb") >= minCount)

  /**
   * Score documents against the LM: per bigram position,
   * bits_q = l2q16(cu(w1) + V) − l2q16(cb(w1 w2) + 1)  (×16 fixed point),
   * i.e. −log2 of the add-smoothed conditional probability. Returns doc
   * grain (id, n_grams, bits) for docs with at least one bigram. Both LM
   * joins are broadcast; unseen grams coalesce to count 0.
   *
   * INVARIANT: callers must build `uni`/`bi` with uniMinCount <= biMinCount
   * (as [[unigramLm]]/[[bigramLm]] from the same held-in slice then
   * guarantee cu + V >= cb + 1, so `bits` is non-negative). Violating it
   * can push l2q16's argument to 0/negative, where the fixed-point log2
   * (and DuckDB's `//` on negatives) silently diverge between engines.
   */
  def scoreDocs(corpus: DataFrame, uni: DataFrame, bi: DataFrame,
                idCol: String, textCol: String,
                keepCols: Seq[String] = Nil): DataFrame = {
    // r21 (guide §1.2 step 2): the two l2q16 terms are functions of the
    // LM-TABLE row alone — l2q16(cu + V) of the unigram row, l2q16(cb + 1)
    // of the bigram row — so they are computed ONCE per vocab-bounded
    // model row before the broadcast instead of once per corpus gram
    // position. V is a control-plane scalar: collected once (same one
    // evaluation the old 1-row crossJoin frame paid) and folded as a
    // literal, so the per-gram plan loses the cross join outright.
    // Unseen grams fall back to the same constants the old per-row
    // coalesce produced: l2q16(0 + V) and l2q16(0 + 1) = 0. Integers
    // identical position for position (Round21Spec/oracle-pinned).
    val v = uni.agg(count(lit(1)).as("v")).head().getLong(0)
    val a0 = graft.functions.LmKernels.l2q16(v)
    val keyCols = (idCol +: keepCols).map(col)
    val uniA = uni.select(col("w").as("w1"),
      l2q16(col("cu") + lit(v)).as("a_q16"))
    val biB = bi.select(col("g"), l2q16(col("cb") + 1L).as("b_q16"))
    corpus
      .select(keyCols :+ explode(gramPairs(col(textCol))).as("p"): _*)
      .select(keyCols :+ col("p.w1").as("w1") :+ col("p.g").as("g"): _*)
      .join(broadcast(uniA), Seq("w1"), "left")
      .join(broadcast(biB), Seq("g"), "left")
      .withColumn("bits",
        coalesce(col("a_q16"), lit(a0)) - coalesce(col("b_q16"), lit(0L)))
      .groupBy(idCol, keepCols: _*)
      .agg(count(lit(1)).as("n_grams"), sum(col("bits")).as("bits"))
  }

  /** Integer bits-per-gram bucket: (bits // n_grams) // 16 — the whole-doc
    * average surprisal floored to whole bits. */
  def bptBucket(bits: Column, nGrams: Column): Column =
    VectorOps.floorDiv(VectorOps.floorDiv(bits, nGrams), lit(16L))

  // ---- Kneser-Ney smoothing (the KenLM/CCNet production smoother) -----

  /**
   * Kneser-Ney statistics from a held-in slice (the tables interpolated KN
   * needs beyond raw bigram counts — Kneser & Ney 1995; the smoother KenLM
   * ships and CCNet's quality LM uses in production):
   *   - `bi`   (g → cb): bigram occurrence counts, thresholded at
   *     `biMinCount` like [[bigramLm]] (bounds the broadcast; a dropped
   *     bigram backs off to the continuation term, in BOTH engines).
   *   - `ctx`  (w1 → cv, n1v): per context, total outgoing bigram
   *     occurrences and DISTINCT continuations N1+(v·). UNthresholded —
   *     vocab-bounded, so it broadcasts at any corpus size.
   *   - `cont` (w2 → ncw): distinct predecessors N1+(·w). Unthresholded.
   *   - `bu` (1 row): B + U where B = distinct bigram types and U =
   *     distinct held tokens — the +U widens the continuation denominator
   *     so unseen words get mass 1/(B+U) instead of log(0).
   *
   * One shuffle over the held slice builds everything (pairs aggregate);
   * the corpus side never shuffles.
   */
  def knStats(held: DataFrame, textCol: String, biMinCount: Long)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    // r21: w2 comes out of the gram kernel directly
    // ([[graft.functions.TextRuns.gramTriples]]) — the former
    // element_at(split(g, " "), 2) re-split every gram string
    val pairs = held.select(
        explode(graft.functions.TextRuns.gramTriples(col(textCol))).as("p"))
      .select(col("p.w1").as("w1"), col("p.g").as("g"), col("p.w2").as("w2"))
    val biFull = pairs.groupBy("g").agg(count(lit(1)).as("cb"))
    val bi = biFull.filter(col("cb") >= biMinCount)
    val ctx = pairs.groupBy("w1")
      .agg(count(lit(1)).as("cv"), countDistinct(col("w2")).as("n1v"))
    val cont = pairs.groupBy("w2").agg(countDistinct(col("w1")).as("ncw"))
    val b = biFull.agg(count(lit(1)).as("b"))
    val u = held.select(explode(TextOps.tokens(col(textCol))).as("w"))
      .agg(countDistinct(col("w")).as("u"))
    val bu = b.crossJoin(u).select((col("b") + col("u")).as("bu"))
    (bi, ctx, cont, bu)
  }

  /**
   * Score documents with interpolated Kneser-Ney (discount d = 3/4 held
   * EXACTLY as a rational — never a float):
   *
   *   P(w|v) = (max(c(vw)−d, 0) + d·N1+(v·)·Pcont(w)) / c(v),
   *   Pcont(w) = (N1+(·w)+1) / (B+U)
   *
   * folded over the common denominator 4·c(v)·(B+U) into ONE integer
   * quotient per position:
   *
   *   num = max(4·c(vw)−3, 0)·(B+U) + 3·N1+(v·)·(N1+(·w)+1)
   *   den = 4·c(v)·(B+U)
   *   bits_q16 = l2q16(den) − l2q16(num)
   *
   * Unseen contexts (c(v) = 0) back off to the continuation distribution
   * alone: bits = l2q16(B+U) − l2q16(N1+(·w)+1). num ≥ 3 whenever the
   * context is seen (N1+(v·) ≥ 1 then), so l2q16 never leaves its domain.
   * All four model tables broadcast; scoring is map-only. Returns doc
   * grain (id, keepCols, n_grams, bits).
   *
   * Scale note (100 TB): den = 4·cv·(B+U) must stay < 2^63 — fine to
   * ~1e12-occurrence contexts against a ~1e9 type pool; past that, split
   * the log as l2q16(4·cv) + l2q16(B+U) (costs ≤ 2/16 bit of floor error
   * per term, breaks nothing else).
   */
  def knScoreDocs(corpus: DataFrame, bi: DataFrame, ctx: DataFrame,
                  cont: DataFrame, bu: DataFrame,
                  idCol: String, textCol: String,
                  keepCols: Seq[String] = Nil): DataFrame = {
    val keyCols = (idCol +: keepCols).map(col)
    // r21: B+U is a control-plane scalar — collected once (the same one
    // evaluation the old 1-row crossJoin broadcast paid) and folded as a
    // literal, removing the per-gram cross join from the plan.
    val buV = bu.head().getLong(0)
    val cb0 = coalesce(col("cb"), lit(0L))
    val ncw0 = coalesce(col("ncw"), lit(0L))
    val seen =
      l2q16(lit(4L) * col("cv") * lit(buV)) -
        l2q16(greatest(lit(4L) * cb0 - 3L, lit(0L)) * lit(buV) +
          lit(3L) * col("n1v") * (ncw0 + 1L))
    val unseenCtx = lit(graft.functions.LmKernels.l2q16(buV)) - l2q16(ncw0 + 1L)
    corpus
      .select(keyCols :+
        explode(graft.functions.TextRuns.gramTriples(col(textCol))).as("p"): _*)
      .select(keyCols :+ col("p.w1").as("w1") :+ col("p.g").as("g")
        :+ col("p.w2").as("w2"): _*)
      .join(broadcast(bi), Seq("g"), "left")
      .join(broadcast(ctx), Seq("w1"), "left")
      .join(broadcast(cont), Seq("w2"), "left")
      .withColumn("bits", when(col("cv").isNull, unseenCtx).otherwise(seen))
      .groupBy(idCol, keepCols: _*)
      .agg(count(lit(1)).as("n_grams"), sum(col("bits")).as("bits"))
  }

  /** DuckDB SQL twins — keep in lockstep with the Column builders. */
  object Sql {
    private val Table = "[0,1,2,3,5,6,7,8,9,10,11,12,12,13,14,15]"

    /** `e` must be a PARENTHESIZED expression (it is expanded 3 times). */
    def l2q16(e: String): String = {
      val lg = s"(length(bin(CAST($e AS BIGINT))) - 1)"
      s"($lg * 16 + ($Table)[CAST((($e * 16) >> $lg) AS INT) - 15])"
    }

    /** Per-position bigram columns over a tokens array `t` (pair with
      * `unnest(range(len(t) - 1)) AS i` in the enclosing SELECT, the q68
      * pattern). */
    val gramW1 = "t[i + 1]"
    val gramG = "t[i + 1] || ' ' || t[i + 2]"
  }
}
