package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import graft.core.Hashing

/**
 * Text-analysis operators for training-data pipelines: tokenization, token
 * counting, quality scoring, language identification, and document
 * fingerprinting. All are pure column expressions (higher-order array
 * functions) — fully distributed, no UDFs, no driver-side loops; at 100 TB
 * each is a single map-only pass over the documents table (no shuffle).
 */
object TextOps {

  /** Whitespace tokenizer. */
  def tokens(text: Column): Column = split(text, "\\s+")

  /** Word-boundary token count plus a BPE-ish subword estimate: words plus
    * one extra unit per 4 chars beyond the first 4 of each word — a cheap
    * deterministic proxy for BPE piece counts. */
  def tokenCount(text: Column): Column = size(tokens(text))

  def bpeEstimate(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + lit(1L) + ((length(t) - 1) / lit(4)).cast("long"))

  /** BPE-ish regex tokenization: word runs, digit runs, and single
    * punctuation marks each count as one piece (the GPT-2-style pre-token
    * split, simplified to an engine-portable regex). */
  val PieceRegex = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\s]"
  def regexPieceCount(text: Column): Column =
    size(regexp_extract_all(text, lit(PieceRegex), lit(0)))

  /**
   * Quality score in [0,100]: combines type-token ratio (vocabulary
   * diversity), mean word length, and a length band. Double arithmetic with
   * a FIXED expression tree — every individual IEEE op (div/mul/add) is
   * exactly rounded, so per-row scalar results are bit-identical across
   * engines (unlike multi-row float aggregation, where order matters).
   */
  def qualityScore(text: Column): Column = {
    val toks = tokens(text)
    val nTok = size(toks).cast("double")
    val ttr = size(array_distinct(toks)).cast("double") / nTok      // 0..1
    val meanLen = length(text).cast("double") / nTok
    val lenBand = when(size(toks) >= 20 && size(toks) <= 200, 1d).otherwise(0d)
    ttr * 50 + least(meanLen / 10, lit(1d)) * 30 + lenBand * 20
  }

  // ---- Gopher filter rules (Rae et al. 2021, Table A1) ----------------

  /** The 9 integer quality counters, one codegen'd in-row pass
    * ([[graft.functions.GopherStats.quality]]). */
  def gopherQuality(text: Column): Column =
    graft.functions.GopherStats.gopherQuality(text)

  /** The 13 integer repetition counters
    * ([[graft.functions.GopherStats.repetition]]). */
  def gopherRepetition(text: Column): Column =
    graft.functions.GopherStats.gopherRepetition(text)

  /** Bitmask of FAILED Gopher quality rules (bit i ⇔ rule i+1 fails);
    * keep ⇔ mask = 0. All thresholds are exact cross-multiplied integer
    * comparisons: word count ∈ [50, 100k]; mean word length ∈ [3, 10];
    * (# + ellipsis)-to-word ratio ≤ 0.1; ≤90% bullet lines; ≤30%
    * ellipsis-ending lines; ≥80% words with an alphabetic char; ≥2 of
    * the required stop words. */
  def gopherQualityFailMask(sig: Column): Column = {
    val n = sig.getField("n_words")
    val rules = Seq(
      n >= 50 && n <= 100000,
      sig.getField("sum_word_len") >= n * 3 &&
        sig.getField("sum_word_len") <= n * 10,
      (sig.getField("n_hash") + sig.getField("n_ellipsis")) * 10 <= n,
      sig.getField("n_bullet_lines") * 10 <= sig.getField("n_lines") * 9,
      sig.getField("n_ellipsis_lines") * 10 <= sig.getField("n_lines") * 3,
      sig.getField("n_alpha_words") * 5 >= n * 4,
      sig.getField("n_stop") >= 2)
    rules.zipWithIndex.map { case (ok, i) =>
      when(ok, 0L).otherwise(1L << i)
    }.reduce(_ + _)
  }

  /** Bitmask of FAILED Gopher repetition rules over `sig` and the doc's
    * total char count: dup line/para fraction ≤ 0.30; dup line/para CHAR
    * fraction ≤ 0.20; top 2/3/4-gram char fraction ≤ 0.20/0.18/0.16;
    * duplicate 5-gram char fraction ≤ 0.15. */
  def gopherRepetitionFailMask(sig: Column, totalChars: Column): Column = {
    val t = totalChars.cast("long")
    val rules = Seq(
      sig.getField("dup_lines") * 10 <= sig.getField("n_lines") * 3,
      sig.getField("dup_paras") * 10 <= sig.getField("n_paras") * 3,
      sig.getField("chars_dup_lines") * 5 <= t,
      sig.getField("chars_dup_paras") * 5 <= t,
      sig.getField("top2_cnt") * sig.getField("top2_len") * 5 <= t,
      sig.getField("top3_cnt") * sig.getField("top3_len") * 50 <= t * 9,
      sig.getField("top4_cnt") * sig.getField("top4_len") * 25 <= t * 4,
      sig.getField("dup5_chars") * 20 <= t * 3)
    rules.zipWithIndex.map { case (ok, i) =>
      when(ok, 0L).otherwise(1L << i)
    }.reduce(_ + _)
  }

  /** C4 line cleaning ([[graft.functions.GopherStats.c4Clean]]); keep the
    * page iff it retains ≥3 sentences and no page-level flag fired
    * (Raffel et al. 2020 §2.2). */
  def c4Clean(text: Column, badWords: Seq[String] = Nil): Column =
    graft.functions.GopherStats.c4Clean(text, badWords)

  def c4Keep(sig: Column): Column =
    sig.getField("n_sentences") >= 3 &&
      sig.getField("flag_lorem") === 0 && sig.getField("flag_brace") === 0 &&
      sig.getField("flag_bad") === 0

  /** Marker stopwords per language (public-knowledge high-frequency words). */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "en" -> Seq("the", "and", "of", "to", "in", "a", "is"),
    "es" -> Seq("el", "la", "de", "que", "y", "los"),
    "fr" -> Seq("le", "la", "les", "et", "des", "un"),
    "de" -> Seq("der", "die", "und", "das", "ist", "ein"))

  /**
   * N-gram-heuristic language ID: score each language by marker-token hits;
   * highest score wins, ties broken by language-code order, zero hits →
   * "und" (undetermined). ONE tokenization + ONE array traversal for all
   * languages: per-language hit counts pack into 16-bit lanes of a single
   * long accumulator (marker hits per doc are far below 2^16). Higher-order
   * array functions are interpreted (no codegen), so the naive
   * one-filter-per-language form re-evaluates the split+filter subtree per
   * language and per argmax comparison; this packed form does the array
   * work exactly once per row.
   */
  def langId(text: Column): Column = {
    val packed = aggregate(tokens(text), lit(0L), (acc, t) =>
      acc + LangMarkers.zipWithIndex.map { case ((_, markers), i) =>
        when(t.isin(markers.map(lit(_)): _*), lit(1L << (i * 16))).otherwise(0L)
      }.reduce(_ + _))
    val scored = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      lang -> shiftright(packed, i * 16).bitwiseAND(0xffffL)
    }
    // argmax with ties to first in LangMarkers order: strictly-greater chain
    // over the four small extracted counters (cheap scalar exprs).
    val best = scored.tail.foldLeft((lit(scored.head._1), scored.head._2)) {
      case ((bl, bs), (lang, s)) =>
        (when(s > bs, lit(lang)).otherwise(bl), greatest(s, bs))
    }
    when(best._2 > 0, best._1).otherwise(lit("und"))
  }

  /**
   * Rolling-hash document fingerprint: left fold h' = (h*31 + tokenHash) mod
   * 2^50 over token hashes. Order-sensitive (unlike a bag-of-words hash) so
   * token transpositions change the fingerprint; 2^50 headroom keeps
   * h*31 + hash inside int64 for exact cross-engine arithmetic.
   */
  val FingerprintMod = 1L << 50
  def fingerprint(text: Column): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => pmod(acc * 31 + pmod(Hashing.portableLong(t), lit(FingerprintMod)),
        lit(FingerprintMod)))

  /**
   * Repetition signals (the Gopher paper's repetition filters; ccnet-style
   * segment dedup). Three scale shapes:
   *   - duplicate-token fraction: pure column expression, map-only;
   *   - top n-gram fraction: sort-the-grams + longest-equal-run fold — also
   *     map-only (per-doc statistics never shuffle their grams);
   *   - duplicate-segment stats: explode on a separator — degenerate to one
   *     segment when the separator is absent, still correct.
   */
  def dupTokenFrac(text: Column): Column = {
    val t = tokens(text)
    lit(1d) - size(array_distinct(t)).cast("double") / size(t).cast("double")
  }

  /** Occurrence fraction of a doc's most frequent word n-gram — the
    * codegen'd [[graft.functions.TextRuns]] kernel over the token array
    * (token-hash combine + primitive sort + longest run, inside the row).
    * NULL when the doc has fewer than n tokens. */
  def topNgramFrac(text: Column, n: Int): Column =
    graft.functions.TextRuns.topNgramFrac(tokens(text), n)

  /** Per-doc occurrence fraction of the most frequent word n-gram
    * (docs shorter than n tokens drop out — no n-grams to measure). */
  def topNgramFrac(df: DataFrame, idCol: String, n: Int): DataFrame =
    df.select(col(idCol), topNgramFrac(col("text"), n).as("top_frac"))
      .filter(col("top_frac").isNotNull)

  /** Non-empty trimmed segments of a document (lines by default). */
  def segments(text: Column, sep: String = "\n"): Column =
    filter(transform(split(text, sep), s => trim(s)), s => length(s) > 0)

  /** Per-doc duplicate-segment stats: segment count, fraction of segments
    * that are repeats of another, fraction of characters inside repeated
    * segments (the Gopher duplicate-line-fraction pair). */
  def dupSegmentStats(df: DataFrame, idCol: String, sep: String = "\n"): DataFrame =
    df.select(col(idCol), explode(segments(col("text"), sep)).as("seg"))
      .groupBy(col(idCol), col("seg"))
      .agg(count(lit(1)).as("cnt"), length(col("seg")).as("chars"))
      .groupBy(col(idCol)).agg(
        sum(col("cnt")).as("n_segments"),
        (coalesce(sum(when(col("cnt") > 1, col("cnt"))), lit(0L)).cast("double") /
          sum(col("cnt")).cast("double")).as("dup_seg_frac"),
        (coalesce(sum(when(col("cnt") > 1, col("chars") * col("cnt"))), lit(0L)).cast("double") /
          sum(col("chars") * col("cnt")).cast("double")).as("dup_char_frac"))

  /**
   * Hashed-feature linear classifier SERVING — the model-based quality
   * filter stage (fastText-shape): each token maps to an integer weight
   * in [-10, 10] via a seeded portable hash (the feature-hashing trick;
   * a trained model supplies the same token→weight map as a broadcast
   * lookup or a literal array indexed by bucket), and the document score
   * is the fold of its token weights. Map-only, in-row, no join or
   * shuffle anywhere — the serving plan is identical whichever weight
   * source is plugged in. At 100 TB the per-token md5 moves into a
   * codegen'd kernel (TextRuns pattern); values here stay oracle-portable.
   */
  /**
   * Naive-Bayes classifier TRAINING in the engine — the other half of the
   * [[linearScore]] serving path (fastText-shape: hashed-token features,
   * linear scores): per-class bucket counts come from ONE partial-
   * aggregated explode+groupBy over the corpus (token occurrences combine
   * map-side; only `buckets` rows reach the driver — control-plane
   * sized), and the multinomial NB weights are Laplace-smoothed
   * class-conditional log-odds in EXACT fixed-point log2
   * ([[TextLm.l2q16Long]]): training never touches a float, so the
   * trained model is bit-identical across engines and runs. Returns
   * (per-bucket weights ×16 fixed point, prior bias). Buckets unseen in
   * training still get the smoothing-only weight — absence is evidence
   * too.
   */
  def nbTrain(df: DataFrame, textCol: String, label: Column,
              buckets: Int): (Seq[Long], Long) = {
    import graft.operators.{TextLm => Lm}
    val counts = df
      .select(label.as("y"), explode(tokens(col(textCol))).as("tk"))
      .select(col("y"),
        pmod(Hashing.portableLong(col("tk")), lit(buckets.toLong)).as("b"))
      .groupBy("b")
      .agg(sum(when(col("y"), 1L).otherwise(0L)).as("n1"),
        sum(when(!col("y"), 1L).otherwise(0L)).as("n0"))
      .collect().map(r => r.getLong(0).toInt -> (r.getLong(1), r.getLong(2)))
      .toMap
    val t1 = counts.valuesIterator.map(_._1).sum + buckets
    val t0 = counts.valuesIterator.map(_._2).sum + buckets
    val w = (0 until buckets).map { b =>
      val (n1, n0) = counts.getOrElse(b, (0L, 0L))
      (Lm.l2q16Long(n1 + 1) - Lm.l2q16Long(t1)) -
        (Lm.l2q16Long(n0 + 1) - Lm.l2q16Long(t0))
    }
    val d = df.agg(sum(when(label, 1L).otherwise(0L)),
      sum(when(!label, 1L).otherwise(0L))).head()
    (w, Lm.l2q16Long(d.getLong(0)) - Lm.l2q16Long(d.getLong(1)))
  }

  /** Serve a trained NB model in-row: weights fold into the plan as a
    * literal array, the score is one `aggregate` pass over the tokens —
    * no join, no shuffle, the [[linearScore]] plan shape with trained
    * weights plugged in. Positive score ⇒ class 1. */
  def nbScore(text: Column, weights: Seq[Long], bias: Long,
              buckets: Int): Column = {
    val wArr = array(weights.map(lit): _*)
    aggregate(tokens(text), lit(bias), (acc, t) =>
      acc + element_at(wArr,
        (pmod(Hashing.portableLong(t), lit(buckets.toLong)) + 1L).cast("int")))
  }

  def linearScore(text: Column, seed: Int): Column =
    aggregate(tokens(text), lit(0L),
      (acc, t) => acc + pmod(Hashing.seeded(t, lit(seed)), lit(21L)) - 10L)

  /** DuckDB twins (keep in lockstep). */
  object Sql {
    val tokens = "regexp_split_to_array(%s, '\\s+')"
    def tokenCount(e: String) = s"len(${tokens.format(e)})"
    def bpeEstimate(e: String) =
      s"list_sum([1 + (len(t) - 1) // 4 FOR t IN ${tokens.format(e)}])"
    def regexPieceCount(e: String) =
      s"len(regexp_extract_all($e, '$PieceRegex'))"
    def qualityScore(e: String): String = {
      val toks = tokens.format(e)
      s"""(CAST(len(list_distinct($toks)) AS DOUBLE) / CAST(len($toks) AS DOUBLE)) * 50
         | + least((CAST(length($e) AS DOUBLE) / CAST(len($toks) AS DOUBLE)) / 10, 1.0) * 30
         | + (CASE WHEN len($toks) BETWEEN 20 AND 200 THEN 1.0 ELSE 0.0 END) * 20"""
        .stripMargin.replace("\n", " ")
    }
    def langId(e: String): String = {
      val toks = tokens.format(e)
      val scores = LangMarkers.map { case (lang, markers) =>
        val set = markers.map(m => s"'$m'").mkString(", ")
        lang -> s"len(list_filter($toks, t -> t IN ($set)))"
      }
      val (bl0, bs0) = (s"'${scores.head._1}'", scores.head._2)
      val (bestLang, bestScore) = scores.tail.foldLeft((bl0, bs0)) {
        case ((bl, bs), (lang, s)) =>
          (s"CASE WHEN $s > ($bs) THEN '$lang' ELSE $bl END", s"greatest($s, $bs)")
      }
      s"CASE WHEN ($bestScore) > 0 THEN $bestLang ELSE 'und' END"
    }
    def fingerprint(e: String): String = {
      val tokHash = Hashing.Sql.portableLong("t") + s" % $FingerprintMod"
      s"list_reduce(list_prepend(0, [($tokHash) FOR t IN ${tokens.format(e)}])," +
        s" (h, x) -> (h * 31 + x) % $FingerprintMod)"
    }
    def dupTokenFrac(e: String): String = {
      val toks = tokens.format(e)
      s"(1.0 - CAST(len(list_distinct($toks)) AS DOUBLE) / CAST(len($toks) AS DOUBLE))"
    }
    def linearScore(e: String, seed: Int): String = {
      val h = Hashing.Sql.seeded("t", seed.toString)
      s"list_sum([(($h) % 21) - 10 FOR t IN ${tokens.format(e)}])"
    }
  }
  // ---- stable vocabulary ids -----------------------------------------

  /**
   * Deterministic dense id assignment over a corpus's distinct tokens
   * (vocabulary building — the embedding-row / feature-index primitive):
   * ids are 1-based dense ranks in lexicographic token order, so any
   * engine reproduces the exact mapping with no RNG and no
   * zipWithIndex partition-order dependence. The ranking window runs
   * over the DISTINCT-TOKEN table (vocab-bounded, ≪ corpus — the same
   * bounded-table exemption as the q160 gram ranking), never the corpus.
   */
  def vocabIds(df: DataFrame, textCol: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    df.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .withColumn("id", row_number().over(Window.orderBy(col("token")))
        .cast("long"))
  }

  /**
   * Incremental admission (the q109/q151 index-admission shape for
   * vocabularies): existing (token, id) rows are IMMUTABLE — a batch
   * admits only unseen tokens, which take dense ids after the current
   * max in lexicographic order among themselves. Embedding row i keeps
   * meaning row i across vocabulary growth. Returns
   * (token, id, is_new).
   */
  def vocabAdmit(vocab: DataFrame, batch: DataFrame, textCol: String)
  : DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val maxId = vocab.agg(coalesce(max(col("id")), lit(0L)).as("_mx"))
    val fresh = batch.select(explode(tokens(col(textCol))).as("token"))
      .filter(col("token") =!= "")
      .distinct()
      .join(vocab.select(col("token").as("_t")), col("token") === col("_t"),
        "left_anti")
      .crossJoin(broadcast(maxId))
      .withColumn("id", col("_mx") +
        row_number().over(Window.orderBy(col("token"))).cast("long"))
      .select(col("token"), col("id"), lit(true).as("is_new"))
    vocab.select(col("token"), col("id"), lit(false).as("is_new"))
      .unionByName(fresh)
  }
}
