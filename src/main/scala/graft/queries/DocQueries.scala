package graft.queries

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.{Curation, Dedup, TextOps}

/**
 * Gate queries for the training-data document pipeline: text analysis
 * (token stats, quality, language-ID, fingerprints) and deduplication
 * (exact, MinHash+LSH, SimHash). The dedup corpora plant deterministic
 * duplicates (exact copies at doc_id+200000 for doc_id%13=0; near-dups with
 * one appended token at doc_id+100000 for doc_id%11=0) so both engines can
 * derive identical inputs.
 */
object DocQueries {

  /** Corpus with planted exact + near duplicates (Spark side). */
  def corpus(spark: SparkSession, dir: String): DataFrame = {
    val d = Tables.load(spark, dir, "documents").select("doc_id", "text", "lang", "source")
    val exact = d.filter(col("doc_id") % 13 === 0)
      .withColumn("doc_id", col("doc_id") + 200000L)
    val near = d.filter(col("doc_id") % 11 === 0)
      .withColumn("doc_id", col("doc_id") + 100000L)
      .withColumn("text", concat(col("text"), lit(" graft near dup marker")))
    d.unionByName(exact).unionByName(near)
  }

  /** DuckDB twin of [[corpus]] as a CTE named `corpus`. */
  val corpusCte: String =
    """WITH corpus AS (
      |  SELECT doc_id, text, lang, source FROM documents
      |  UNION ALL
      |  SELECT doc_id + 200000, text, lang, source FROM documents WHERE doc_id % 13 = 0
      |  UNION ALL
      |  SELECT doc_id + 100000, text || ' graft near dup marker', lang, source
      |  FROM documents WHERE doc_id % 11 = 0
      |)""".stripMargin

  // ---- text analysis -------------------------------------------------

  val textStats = GateQuery(
    "q60_text_stats",
    Some(s"""SELECT lang, count(*) AS n_docs,
            |  CAST(sum(${TextOps.Sql.tokenCount("text")}) AS BIGINT) AS sum_tokens,
            |  CAST(sum(${TextOps.Sql.bpeEstimate("text")}) AS BIGINT) AS sum_bpe,
            |  CAST(sum(${TextOps.Sql.regexPieceCount("text")}) AS BIGINT) AS sum_pieces,
            |  CAST(sum(CASE WHEN (${TextOps.Sql.qualityScore("text")}) >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_quality
            |FROM documents GROUP BY lang""".stripMargin)) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .groupBy("lang")
      .agg(
        count(lit(1)).as("n_docs"),
        sum(TextOps.tokenCount(col("text")).cast("long")).as("sum_tokens"),
        sum(TextOps.bpeEstimate(col("text"))).as("sum_bpe"),
        sum(TextOps.regexPieceCount(col("text")).cast("long")).as("sum_pieces"),
        sum(when(TextOps.qualityScore(col("text")) >= 50, 1L).otherwise(0L)).as("n_quality"))
  }

  val qualityHist = GateQuery(
    "q61_quality_hist",
    Some(s"""SELECT CAST(floor((${TextOps.Sql.qualityScore("text")}) / 10) AS BIGINT) AS bucket,
            |  count(*) AS cnt
            |FROM documents GROUP BY 1""".stripMargin)) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .groupBy(floor(TextOps.qualityScore(col("text")) / 10).as("bucket"))
      .agg(count(lit(1)).as("cnt"))
  }

  val langIdQ = GateQuery(
    "q62_langid",
    Some(s"""SELECT lang, ${TextOps.Sql.langId("text")} AS guess, count(*) AS cnt
            |FROM documents GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .groupBy(col("lang"), TextOps.langId(col("text")).as("guess"))
      .agg(count(lit(1)).as("cnt"))
  }

  val fingerprints = GateQuery(
    "q63_fingerprint",
    Some(s"""SELECT lang, count(*) AS cnt,
            |  count(DISTINCT ${TextOps.Sql.fingerprint("text")}) AS n_fp,
            |  CAST(sum((${TextOps.Sql.fingerprint("text")}) % 97) AS BIGINT) AS fp_check
            |FROM documents GROUP BY lang""".stripMargin)) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .withColumn("fp", TextOps.fingerprint(col("text")))
      .groupBy("lang")
      .agg(count(lit(1)).as("cnt"),
        countDistinct(col("fp")).as("n_fp"),
        sum(col("fp") % 97).as("fp_check"))
  }

  /** Gopher-style repetition filters (q68): histograms of the duplicate-
    * token fraction and the top-bigram / top-trigram occurrence fraction.
    * All three are map-only column expressions computed in ONE scan of the
    * documents table (per-doc stats never shuffle their grams); the only
    * exchange is the final tiny (metric, bucket) aggregation. Fractions are
    * one exact-integer division per doc, so floor-bucketing is bit-identical
    * cross-engine; only integer counts aggregate across docs. */
  val repetition = GateQuery(
    "q68_repetition",
    Some {
      def gramHist(n: Int, name: String): String = {
        val idx = s"unnest(range(len(t) - ${n - 1})) AS i"
        val gram = (0 until n).map(k => s"t[i + ${k + 1}]").mkString(" || ' ' || ")
        s"""g$n AS (SELECT doc_id, $gram AS g
           |  FROM (SELECT doc_id, t, $idx FROM toks)),
           |c$n AS (SELECT doc_id, g, count(*) AS cnt FROM g$n GROUP BY 1, 2),
           |f$n AS (SELECT doc_id, CAST(max(cnt) AS DOUBLE) / CAST(sum(cnt) AS DOUBLE) AS frac
           |  FROM c$n GROUP BY 1),
           |h$n AS (SELECT '$name' AS metric, CAST(floor(frac * 20) AS BIGINT) AS bucket,
           |  count(*) AS n_docs FROM f$n GROUP BY 1, 2)""".stripMargin
      }
      s"""WITH toks AS (SELECT doc_id, ${TextOps.Sql.tokens.format("text")} AS t FROM documents),
         |hd AS (
         |  SELECT 'dup_token' AS metric,
         |    CAST(floor(${TextOps.Sql.dupTokenFrac("text")} * 20) AS BIGINT) AS bucket,
         |    count(*) AS n_docs
         |  FROM documents GROUP BY 1, 2
         |),
         |${gramHist(2, "top_bigram")},
         |${gramHist(3, "top_trigram")}
         |SELECT * FROM hd UNION ALL SELECT * FROM h2 UNION ALL SELECT * FROM h3"""
        .stripMargin
    }) { (spark, dir) =>
    def bucket(frac: Column): Column = floor(frac * 20).cast("long")
    Tables.load(spark, dir, "documents")
      .select(explode(filter(array(
        struct(lit("dup_token").as("metric"),
          bucket(TextOps.dupTokenFrac(col("text"))).as("bucket")),
        struct(lit("top_bigram").as("metric"),
          bucket(TextOps.topNgramFrac(col("text"), 2)).as("bucket")),
        struct(lit("top_trigram").as("metric"),
          bucket(TextOps.topNgramFrac(col("text"), 3)).as("bucket"))),
        s => s.getField("bucket").isNotNull)).as("mb"))
      .groupBy(col("mb.metric").as("metric"), col("mb.bucket").as("bucket"))
      .agg(count(lit(1)).as("n_docs"))
  }

  // ---- dedup ---------------------------------------------------------

  val exactDedup = GateQuery(
    "q64_exact_dedup",
    Some(corpusCte +
      s""", keyed AS (
         |  SELECT source, doc_id, ${Dedup.Sql.exactKey("text")} AS k FROM corpus
         |), kept AS (
         |  SELECT source, k, min(doc_id) AS keeper, count(*) AS copies
         |  FROM keyed GROUP BY source, k
         |)
         |SELECT source, count(*) AS n_unique, CAST(sum(copies) AS BIGINT) AS n_raw,
         |  CAST(sum(copies - 1) AS BIGINT) AS n_removed,
         |  CAST(sum(keeper) AS BIGINT) AS keeper_check
         |FROM kept GROUP BY source""".stripMargin)) { (spark, dir) =>
    corpus(spark, dir)
      .select(col("source"), col("doc_id"), Dedup.exactKey(col("text")).as("k"))
      .groupBy("source", "k")
      .agg(min(col("doc_id")).as("keeper"), count(lit(1)).as("copies"))
      .groupBy("source")
      .agg(count(lit(1)).as("n_unique"), sum(col("copies")).as("n_raw"),
        sum(col("copies") - 1).as("n_removed"), sum(col("keeper")).as("keeper_check"))
  }

  // MinHash-LSH parameters shared by Spark and oracle.
  private val ShingleN = 3
  private val MinhashK = 12
  private val Bands = 4
  private val BandRows = MinhashK / Bands
  // Degenerate-bucket cap (see Dedup.lshCandidates): ON in the job path so
  // the gate exercises the exact production plan.
  private val MaxBucket = 500

  /**
   * Shared LSH derivation — the dedup JOB shape: the signature/candidate
   * pipeline (shingle→minhash→band→bucket-join→Jaccard) is computed ONCE
   * and persisted; the pair-level gate (q65) and the clustering gate (q67)
   * both consume it instead of re-deriving the whole pipeline.
   */
  private val scoredCandidates = Gate.shared("LSH candidate table") {
    (spark, dir) =>
      import org.apache.spark.storage.StorageLevel
      // r20 reshape (guide §8 — move heavy bytes once): ONE kernel pass
      // computes signature + shingle set; the shingle sets ride the banded
      // rows into the single (band, band_sig) exchange and every bucket
      // scores its own pairs locally (Dedup.bucketScoredPairs). The old
      // pairs→join-sh-twice shape shuffled (pairs × sh-array) bytes —
      // 7.2 GB at the 100× point vs ~0.9 GB for this form, identical
      // output (LshScoredPairsSpec pins equality).
      val an = Dedup.minhashAnalyzed(corpus(spark, dir), "doc_id", "text",
        ShingleN, MinhashK)
      val banded = an.select(col("id"), col("sh"),
          explode(Dedup.lshBands(col("sig"), MinhashK, Bands)).as("b"))
        .select(col("id"), col("sh"),
          col("b.band").as("band"), col("b.sig").as("band_sig"))
      val scored = Dedup.bucketScoredPairs(banded, MaxBucket)
        .persist(StorageLevel.MEMORY_AND_DISK)
      scored.count() // materialize the shared candidate table
      scored
  }

  val minhashLsh = GateQuery(
    "q65_minhash_lsh",
    Some {
      val shingleE = Dedup.Sql.shingles("text", ShingleN)
      val bandSig = (0 until BandRows)
        .map(i => s"CAST(sig[band * $BandRows + ${i + 1}] AS VARCHAR)")
        .mkString(" || ',' || ")
      corpusCte +
        s""", sigs AS (
           |  SELECT doc_id, ${Dedup.Sql.minhash(shingleE, MinhashK)} AS sig,
           |    list_distinct($shingleE) AS sh
           |  FROM corpus
           |), banded AS (
           |  SELECT doc_id, sh, band, ${graft.core.Hashing.Sql.portableLong(bandSig)} AS band_sig
           |  FROM sigs, range(0, $Bands) r(band)
           |  QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= $MaxBucket
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           |    CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) AS jac
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
           |)
           |SELECT count(*) AS n_candidates,
           |  CAST(sum(CASE WHEN jac >= 0.5 THEN 1 ELSE 0 END) AS BIGINT) AS n_dups,
           |  CAST(sum(CASE WHEN jac >= 0.5 THEN id_b - id_a ELSE 0 END) AS BIGINT) AS pair_check
           |FROM pairs""".stripMargin
    }) { (spark, dir) =>
    scoredCandidates(spark, dir)
      .agg(count(lit(1)).as("n_candidates"),
        sum(when(col("jac") >= 0.5, 1L).otherwise(0L)).as("n_dups"),
        sum(when(col("jac") >= 0.5, col("id_b") - col("id_a")).otherwise(0L)).as("pair_check"))
  }

  private val SimhashBits = 32

  val simhashQ = GateQuery(
    "q66_simhash",
    Some(corpusCte +
      s""", sh AS (SELECT doc_id, ${Dedup.Sql.simhash("text", SimhashBits)} AS h FROM corpus)
         |SELECT bit_count(CAST(xor(a.h, b.h) AS BIGINT)) AS hamming, count(*) AS cnt
         |FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 100000
         |GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val sh = Dedup.simhashTable(corpus(spark, dir), "doc_id", "text", SimhashBits)
      .withColumnRenamed("simhash", "h")
    sh.as("a").join(sh.as("b"), col("b.id") === col("a.id") + 100000L)
      .groupBy(Dedup.hamming(col("a.h"), col("b.h")).as("hamming"))
      .agg(count(lit(1)).as("cnt"))
  }

  /** Dedup clustering: connected components over LSH candidate pairs with
    * jaccard >= 0.5; output = cluster-size histogram + canonical-id check.
    * Oracle computes components with a recursive CTE. */
  /** Shared oracle chain for clustering gates: LSH candidates → verified
    * pairs → recursive-CTE connected components cc(doc_id, comp) with
    * comp = min reachable id. q67 reads cluster sizes; q117 selects
    * survivors. */
  private val ccCte: String = {
      val shingleE = Dedup.Sql.shingles("text", ShingleN)
      val bandSig = (0 until BandRows)
        .map(i => s"CAST(sig[band * $BandRows + ${i + 1}] AS VARCHAR)")
        .mkString(" || ',' || ")
      corpusCte +
        s""", sigs AS (
           |  SELECT doc_id, ${Dedup.Sql.minhash(shingleE, MinhashK)} AS sig,
           |    list_distinct($shingleE) AS sh
           |  FROM corpus
           |), banded AS (
           |  SELECT doc_id, sh, band, ${graft.core.Hashing.Sql.portableLong(bandSig)} AS band_sig
           |  FROM sigs, range(0, $Bands) r(band)
           |  QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= $MaxBucket
           |), pairs AS (
           |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM banded a JOIN banded b
           |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
           |  WHERE CAST(len(list_intersect(a.sh, b.sh)) AS DOUBLE)
           |      / CAST(len(list_distinct(a.sh || b.sh)) AS DOUBLE) >= 0.5
           |), edges AS (
           |  SELECT id_a AS src, id_b AS dst FROM pairs
           |  UNION ALL SELECT id_b, id_a FROM pairs
           |), cc AS (
           |  WITH RECURSIVE reach(node, comp) AS (
           |    SELECT doc_id, doc_id FROM corpus
           |    UNION
           |    SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
           |  )
           |  SELECT node AS doc_id, min(comp) AS comp FROM reach GROUP BY node
           |)""".stripMargin
  }

  val dupClusters = GateQuery(
    "q67_dup_clusters",
    Some(ccCte +
      s"""
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(comp) AS BIGINT) AS comp_check
         |FROM (SELECT comp, count(*) AS cluster_size FROM cc GROUP BY comp)
         |GROUP BY cluster_size""".stripMargin)) { (spark, dir) =>
    val c = corpus(spark, dir)
    val cands = scoredCandidates(spark, dir)
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b")
    val labels = Dedup.dupClusters(c.select(col("doc_id").as("id")), cands)
    labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"), sum(col("comp")).as("comp_check"))
  }

  /**
   * q150: the labels-NOT-pairs production path (Dedup.lshClusterLabels) —
   * cluster labels straight from band buckets via per-bucket verified
   * union-find + star edges, never materializing the global pair list
   * (the measured 100× bottleneck: 1.22e9 pairs on a dup-dense corpus).
   * The oracle is the SAME recursive-CTE clustering as q67, so green here
   * pins label-for-label equality with the pair-based path — the
   * connectivity-equivalence argument in the operator's scaladoc, checked
   * by the driver.
   */
  /** Shared labels-not-pairs table (the q150 production path): built once
    * per (session, dir) and persisted — q150 reads the cluster-size
    * histogram, q155 the recall harness's predicted-pair side. Same
    * job-sharing pattern as [[scoredCandidates]]/[[incrementalParts]];
    * the build logs as its own `[bench]` line item. */
  private val clusterLabels = Gate.shared("labels-not-pairs table") {
    (spark, dir) =>
      val l = Dedup.lshClusterLabels(corpus(spark, dir), "doc_id", "text",
          ShingleN, MinhashK, Bands, MaxBucket, 0.5)
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      l.count()
      l
  }

  /** Corpus row count, a per-(session, dir) constant — cached so sizing
    * rules (q155's slice modulus) don't re-scan the 3-way union corpus
    * on every invocation. */
  private val corpusCount = Gate.shared("corpus count") {
    (spark, dir) => corpus(spark, dir).count()
  }

  val dupLabelsNoPairs = GateQuery(
    "q150_labels_nopairs",
    Some(ccCte +
      s"""
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(comp) AS BIGINT) AS comp_check
         |FROM (SELECT comp, count(*) AS cluster_size FROM cc GROUP BY comp)
         |GROUP BY cluster_size""".stripMargin)) { (spark, dir) =>
    clusterLabels(spark, dir)
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"), sum(col("comp")).as("comp_check"))
  }

  /**
   * q94: incremental dedup — a new batch of documents (the planted dups
   * plus token-reversed "novel" docs) matched against a persisted MinHash
   * index of the base corpus (doc_id < 100000). Only the new batch is
   * hashed; the index side replays its STORED signatures. Per new doc with
   * >= 1 LSH candidate: candidate count, accepted-match count
   * (jac_pct >= 50), and the best match decoded from an integer max key
   * (jac desc, old_id asc) — no window, no floats.
   */
  /** Shared oracle chain for the incremental-dedup pair of gates: the
    * persisted index, the new batch, LSH banding on both sides, candidate
    * pairs, and integer-Jaccard scoring. q94 reads `scored`; q109 also
    * reads `idx`/`nsig` to rebuild the admitted index. */
  private val incrementalCte: String = {
      val shingleE = Dedup.Sql.shingles("text", ShingleN)
      val bandSig = (0 until BandRows)
        .map(i => s"CAST(sig[band * $BandRows + ${i + 1}] AS VARCHAR)")
        .mkString(" || ',' || ")
      corpusCte +
        s""", idx AS (
           |  SELECT doc_id, ${Dedup.Sql.minhash(shingleE, MinhashK)} AS sig,
           |    list_distinct($shingleE) AS sh
           |  FROM corpus WHERE doc_id < 100000
           |), newb AS (
           |  SELECT doc_id, text FROM corpus WHERE doc_id >= 100000
           |  UNION ALL
           |  SELECT doc_id + 300000,
           |    array_to_string(list_reverse(${TextOps.Sql.tokens.format("text")}), ' ')
           |  FROM documents WHERE doc_id % 7 = 0
           |), nsig AS (
           |  SELECT doc_id, ${Dedup.Sql.minhash(shingleE, MinhashK)} AS sig,
           |    list_distinct($shingleE) AS sh
           |  FROM newb
           |), ibanded AS (
           |  SELECT doc_id, band, ${graft.core.Hashing.Sql.portableLong(bandSig)} AS band_sig
           |  FROM idx, range(0, $Bands) r(band)
           |  QUALIFY count(*) OVER (PARTITION BY band, band_sig) <= $MaxBucket
           |), nbanded AS (
           |  SELECT doc_id, band, ${graft.core.Hashing.Sql.portableLong(bandSig)} AS band_sig
           |  FROM nsig, range(0, $Bands) r(band)
           |), cand AS (
           |  SELECT DISTINCT n.doc_id AS new_id, i.doc_id AS old_id
           |  FROM nbanded n JOIN ibanded i USING (band, band_sig)
           |), scored AS (
           |  SELECT new_id, old_id,
           |    (100 * len(list_intersect(n.sh, i.sh)))
           |      // len(list_distinct(n.sh || i.sh)) AS jac_pct
           |  FROM cand
           |  JOIN nsig n ON cand.new_id = n.doc_id
           |  JOIN idx i ON cand.old_id = i.doc_id
           |)""".stripMargin
  }

  /** Shared Spark-side derivation for the incremental pair (q94 + q109):
    * the persisted index (base corpus), the analyzed new batch (planted
    * dups + token-reversed novel docs), and the match table. Persisted
    * per (session, dir) — the index/batch analysis is the expensive one-time build
    * and both gates consume it (the q84/q86 job-sharing pattern). */
  private val incrementalParts = Gate.shared("incremental dedup index") {
    (spark, dir) =>
      val lvl = org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK
      val c = corpus(spark, dir)
      val idx = Dedup.minhashAnalyzed(c.filter(col("doc_id") < 100000L),
        "doc_id", "text", ShingleN, MinhashK).persist(lvl)
      val fresh = Tables.load(spark, dir, "documents")
        .filter(col("doc_id") % 7 === 0)
        .select((col("doc_id") + 300000L).as("doc_id"),
          concat_ws(" ", reverse(split(col("text"), "\\s+"))).as("text"))
      val nb = c.filter(col("doc_id") >= 100000L).select("doc_id", "text")
        .unionByName(fresh)
      val na = Dedup.minhashAnalyzed(nb, "doc_id", "text", ShingleN, MinhashK)
        .persist(lvl)
      val matches = Dedup.incrementalMatches(idx, na, MinhashK, Bands, MaxBucket)
        .persist(lvl)
      // materialize all three: the consumers read them, not the corpus
      Seq(idx, na, matches).foreach(_.count())
      (idx, na, matches)
  }

  val incrementalDedup = GateQuery(
    "q94_incremental_dedup",
    Some(incrementalCte +
      s"""
           |SELECT new_id, count(*) AS n_cand,
           |  CAST(sum(CASE WHEN jac_pct >= 50 THEN 1 ELSE 0 END) AS BIGINT) AS n_match,
           |  CAST(CASE WHEN max(CASE WHEN jac_pct >= 50
           |      THEN jac_pct * 1000000 + (999999 - old_id) ELSE -1 END) < 0 THEN -1
           |    ELSE 999999 - (max(CASE WHEN jac_pct >= 50
           |      THEN jac_pct * 1000000 + (999999 - old_id) ELSE -1 END) % 1000000)
           |    END AS BIGINT) AS best_old,
           |  CAST(CASE WHEN max(CASE WHEN jac_pct >= 50
           |      THEN jac_pct * 1000000 + (999999 - old_id) ELSE -1 END) < 0 THEN -1
           |    ELSE max(CASE WHEN jac_pct >= 50
           |      THEN jac_pct * 1000000 + (999999 - old_id) ELSE -1 END) // 1000000
           |    END AS BIGINT) AS best_jac
           |FROM scored GROUP BY new_id""".stripMargin)) { (spark, dir) =>
    import graft.operators.VectorOps.floorDiv
    val (_, _, matches) = incrementalParts(spark, dir)
    val matchKey = when(col("jac_pct") >= 50L,
      col("jac_pct") * 1000000L + (lit(999999L) - col("old_id"))).otherwise(-1L)
    matches
      .groupBy(col("new_id"))
      .agg(count(lit(1)).as("n_cand"),
        sum(when(col("jac_pct") >= 50L, 1L).otherwise(0L)).as("n_match"),
        max(matchKey).as("_bk"))
      .withColumn("best_old", when(col("_bk") < 0, -1L)
        .otherwise(lit(999999L) - pmod(col("_bk"), lit(1000000L))))
      .withColumn("best_jac", when(col("_bk") < 0, -1L)
        .otherwise(floorDiv(col("_bk"), lit(1000000L))))
      .drop("_bk")
  }

  /**
   * q109 — index maintenance, the other half of the incremental loop:
   * non-duplicate new docs (no accepted match) ADMIT their analyzed rows
   * into the persisted index ([[Dedup.admitToIndex]] — anti-join +
   * append, never a rewrite). The oracle rebuilds the admitted index
   * independently, so the stored signatures/shingle sets must be exactly
   * what a from-scratch build over (existing ∪ admitted) produces.
   */
  val indexAdmit = GateQuery(
    "q109_index_admit",
    Some(incrementalCte +
      s"""
         |, matched AS (SELECT DISTINCT new_id FROM scored WHERE jac_pct >= 50)
         |, idx2 AS (
         |  SELECT doc_id, sig, sh FROM idx
         |  UNION ALL
         |  SELECT doc_id, sig, sh FROM nsig
         |  WHERE doc_id NOT IN (SELECT new_id FROM matched)
         |)
         |SELECT count(*) AS n_docs, count(DISTINCT doc_id) AS n_ids,
         |  CAST(sum(sig[1]) AS BIGINT) AS sum_sig1,
         |  CAST(sum(len(sh)) AS BIGINT) AS sum_sh,
         |  max(doc_id) AS max_doc
         |FROM idx2""".stripMargin), heavy = true) { (spark, dir) =>
    val (idx, na, matches) = incrementalParts(spark, dir)
    Dedup.admitToIndex(idx, na, matches, 50L)
      .agg(count(lit(1)).as("n_docs"), countDistinct(col("id")).as("n_ids"),
        sum(element_at(col("sig"), 1)).as("sum_sig1"),
        sum(size(col("sh")).cast("long")).as("sum_sh"),
        max(col("id")).as("max_doc"))
  }

  /**
   * q151 — incremental LABEL admission, the labels-not-pairs path in the
   * streaming-index regime ([[Dedup.admitEdges]]): the persisted index
   * carries its [[Dedup.bucketStars]] edge set; a new batch adds only
   * NEW-involving verified edges from the buckets it touches (broadcast
   * of the batch's bands against the index, old-old pairs never
   * re-verify), and CC over (old stars ∪ new edges) must equal the full
   * recompute over the combined corpus. The oracle builds that full
   * recompute independently: old-old, new-old, and new-new verified pair
   * sets unioned into one recursive-CTE clustering — green pins the
   * bridge case (a new doc joining two old clusters merges them).
   */
  val incrementalLabels = GateQuery(
    "q151_incremental_labels",
    Some(incrementalCte +
      s"""
         |, oo AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM ibanded a JOIN ibanded b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |  JOIN idx ia ON ia.doc_id = a.doc_id
         |  JOIN idx ib ON ib.doc_id = b.doc_id
         |  WHERE (100 * len(list_intersect(ia.sh, ib.sh)))
         |      // len(list_distinct(ia.sh || ib.sh)) >= 50
         |), nn AS (
         |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
         |  FROM nbanded a JOIN nbanded b
         |    ON a.band = b.band AND a.band_sig = b.band_sig AND a.doc_id < b.doc_id
         |  JOIN nsig xa ON xa.doc_id = a.doc_id
         |  JOIN nsig xb ON xb.doc_id = b.doc_id
         |  WHERE (100 * len(list_intersect(xa.sh, xb.sh)))
         |      // len(list_distinct(xa.sh || xb.sh)) >= 50
         |), noe AS (
         |  SELECT old_id AS id_a, new_id AS id_b FROM scored WHERE jac_pct >= 50
         |), alledges AS (
         |  SELECT DISTINCT id_a, id_b FROM (
         |    SELECT * FROM oo UNION ALL SELECT * FROM nn UNION ALL SELECT * FROM noe)
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM alledges
         |  UNION ALL SELECT id_b, id_a FROM alledges
         |), cc AS (
         |  WITH RECURSIVE reach(node, comp) AS (
         |    SELECT doc_id, doc_id FROM (
         |      SELECT doc_id FROM idx UNION ALL SELECT doc_id FROM nsig)
         |    UNION
         |    SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
         |  )
         |  SELECT node AS doc_id, min(comp) AS comp FROM reach GROUP BY node
         |)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(comp) AS BIGINT) AS comp_check
         |FROM (SELECT comp, count(*) AS cluster_size FROM cc GROUP BY comp)
         |GROUP BY cluster_size""".stripMargin), heavy = true) { (spark, dir) =>
    val (idx, na, _) = incrementalParts(spark, dir)
    val ib = Dedup.bandedTable(idx, MinhashK, Bands, MaxBucket)
    val nb = Dedup.bandedTable(na, MinhashK, Bands, 0)
    val oldStars = Dedup.bucketStars(ib, 0.5)
    val newEdges = Dedup.admitEdges(ib, nb, 0.5)
    val nodes = idx.select("id").unionByName(na.select("id"))
    Dedup.dupClusters(nodes, oldStars.unionByName(newEdges))
      .groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"), sum(col("comp")).as("comp_check"))
  }

  /**
   * q117 — dedup REMOVAL policy, the output step of the dedup story:
   * each duplicate cluster keeps its canonical document (the minimum id —
   * the component label itself) and drops the rest; the gate pins the
   * surviving corpus (counts, id checks, kept token volume) and the
   * removed mass. Survivor selection is a map-only predicate on the
   * cluster labels (id = comp) — no extra shuffle beyond the clustering.
   */
  val dedupKeep = GateQuery(
    "q117_dedup_keep",
    Some(ccCte +
      s"""
         |SELECT CASE WHEN doc_id = comp THEN 1 ELSE 0 END AS kept,
         |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_check,
         |  CAST(sum(len(${TextOps.Sql.tokens.format("text")})) AS BIGINT) AS sum_tokens
         |FROM cc JOIN corpus USING (doc_id)
         |GROUP BY 1""".stripMargin), heavy = true) { (spark, dir) =>
    val c = corpus(spark, dir)
    val cands = scoredCandidates(spark, dir)
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b")
    val labels = Dedup.dupClusters(c.select(col("doc_id").as("id")), cands)
    labels.join(c, col("id") === col("doc_id"))
      .groupBy(when(col("id") === col("comp"), 1).otherwise(0).as("kept"))
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_check"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_tokens"))
  }

  private val ShBands = 4
  // at most bands − 1 for COMPLETE recall: a pair within 3 differing bits
  // must share one of the 4 bands (pigeonhole); above that the bucket
  // join can miss pairs whose diffs spread across every band
  private val ShMaxHam = ShBands - 1

  /**
   * q116 — SimHash banded near-dup JOIN ([[Dedup.simhashCandidates]]):
   * candidates from shared 8-bit simhash bands (bucket join on integer
   * keys, never all-pairs), exact hamming ≤ bands−1 confirms — the
   * threshold where the pigeonhole guarantee makes the candidate set
   * COMPLETE. The hamming histogram pins band splitting, bucket join,
   * dedup across bands, and the distance check.
   */
  val simhashNearDup = GateQuery(
    "q116_simhash_neardup",
    Some(corpusCte +
      s""", sh AS (SELECT doc_id, ${Dedup.Sql.simhash("text", SimhashBits)} AS h FROM corpus),
         |banded AS (
         |  SELECT doc_id, h, band, (h >> (band * ${SimhashBits / ShBands}))
         |    & ${(1L << (SimhashBits / ShBands)) - 1} AS chunk
         |  FROM sh, range(0, $ShBands) r(band)
         |), cand AS (
         |  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.h AS ha, b.h AS hb
         |  FROM banded a JOIN banded b
         |    ON a.band = b.band AND a.chunk = b.chunk AND a.doc_id < b.doc_id
         |)
         |SELECT bit_count(CAST(xor(ha, hb) AS BIGINT)) AS hamming,
         |  count(*) AS n_pairs, CAST(sum(id_a + id_b) AS BIGINT) AS id_check
         |FROM cand
         |WHERE bit_count(CAST(xor(ha, hb) AS BIGINT)) <= $ShMaxHam
         |GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val sh = Dedup.simhashTable(corpus(spark, dir), "doc_id", "text", SimhashBits)
    Dedup.simhashCandidates(sh, SimhashBits, ShBands, ShMaxHam)
      .groupBy("hamming")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("id_a") + col("id_b")).as("id_check"))
  }

  /**
   * q152 — PRIORITY-aware removal policy, the production form of q117:
   * within each duplicate cluster keep the doc from the highest-priority
   * SOURCE (curated > crawled), ties broken by smallest id — the
   * canonical-by-quality rule every corpus build applies rather than
   * min-id. Priority here derives deterministically from the source name
   * (srcN → N % 5). Selection is one integer arg-max per cluster
   * ([[Dedup.keepByPriority]]): priority·2³⁰ + (2³⁰−1−id) folds the
   * (priority desc, id asc) order into one max, so the per-cluster
   * reduction is a partial-aggregable groupBy — no window over the
   * corpus, and the survivor table broadcasts back.
   */
  val priorityKeep = GateQuery(
    "q152_priority_keep",
    Some(ccCte +
      s"""
         |, prio AS (
         |  SELECT c.doc_id, c.comp, d.source,
         |    (CAST(substr(d.source, 4) AS BIGINT) % 5) AS p
         |  FROM cc c JOIN corpus d USING (doc_id)
         |), best AS (
         |  SELECT comp,
         |    1073741823 - (max(p * 1073741824 + (1073741823 - doc_id))
         |      % 1073741824) AS keep_id
         |  FROM prio GROUP BY comp
         |)
         |SELECT source,
         |  count(*) AS n_docs,
         |  CAST(sum(CASE WHEN doc_id = keep_id THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  CAST(sum(CASE WHEN doc_id = keep_id THEN doc_id ELSE 0 END) AS BIGINT) AS kept_id_check
         |FROM prio JOIN best USING (comp)
         |GROUP BY source""".stripMargin), heavy = true) { (spark, dir) =>
    val c = corpus(spark, dir)
    val cands = scoredCandidates(spark, dir)
      .filter(col("jac") >= 0.5)
      .select("id_a", "id_b")
    val labels = Dedup.dupClusters(c.select(col("doc_id").as("id")), cands)
    val prio = substring(col("source"), 4, 10).cast("long") % 5
    Dedup.keepByPriority(labels, c, "doc_id", prio)
      .groupBy("source")
      .agg(count(lit(1)).as("n_docs"),
        sum(col("kept").cast("long")).as("n_kept"),
        sum(when(col("kept") === 1, col("id")).otherwise(0L))
          .as("kept_id_check"))
  }

  /**
   * q153 — deterministic train/val/test split by portable hash: the
   * assignment must be a pure function of the doc id (stable across
   * engines, runs, and corpus growth — adding docs never reassigns old
   * ones), so both engines hash `split:<id>` through the shared portable
   * kernel and bucket 80/10/10. Map-only; the gate pins membership (id
   * checksums per split), not just sizes.
   */
  val hashSplit = GateQuery(
    "q153_hash_split",
    Some(corpusCte +
      s"""
         |SELECT CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val'
         |            ELSE 'test' END AS split,
         |  count(*) AS n_docs, CAST(sum(doc_id) AS BIGINT) AS id_check,
         |  CAST(sum(len(${TextOps.Sql.tokens.format("text")})) AS BIGINT) AS sum_tokens
         |FROM (
         |  SELECT doc_id, text,
         |    ((${graft.core.Hashing.Sql.portableLong("'split:' || CAST(doc_id AS VARCHAR)")}
         |      % 100) + 100) % 100 AS b
         |  FROM corpus
         |)
         |GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val b = pmod(graft.core.Hashing.portableLong(
      concat(lit("split:"), col("doc_id").cast("string"))), lit(100))
    corpus(spark, dir)
      .withColumn("split",
        when(b < 80, "train").when(b < 90, "val").otherwise("test"))
      .groupBy("split")
      .agg(count(lit(1)).as("n_docs"), sum(col("doc_id")).as("id_check"),
        sum(size(TextOps.tokens(col("text"))).cast("long")).as("sum_tokens"))
  }

  /**
   * q155 — dedup RECALL harness, the evaluation gate that legitimizes the
   * LSH configuration the whole dedup suite runs on (k=12, bands=4,
   * jac ≥ 0.5) — the dedup analog of q132's ANN recall. Ground truth is
   * EXACT integer Jaccard over every pair of a deterministic corpus
   * slice (sliced on the BASE id so planted dup families stay together);
   * the prediction is same-cluster membership from the labels-not-pairs
   * path over the FULL corpus. The gate pins truth/predicted/hit counts
   * and integer recall/precision — banding misses (sig collisions that
   * never shared a band) lower recall, transitive cluster merges lower
   * pairwise precision, and either drifting under a parameter change
   * fails the gate.
   *
   * The Spark truth side is an INVERTED-INDEX join, not an all-pairs
   * nested loop: explode the distinct shingle-hash sets, equi-join on the
   * hash, and the per-pair match count IS |A∩B| (|A∪B| = |A|+|B|−|∩|).
   * A pair sharing zero shingles has Jaccard 0 < 0.5, so restricting to
   * pairs with ≥1 shared hash loses nothing — the result is exactly the
   * brute-force answer (the DuckDB oracle stays all-pairs, deliberately,
   * as the independent check), but the work is Σ df² over shingle hashes
   * instead of O(slice²·|sh|): ~19 s → ~1 s at sf0.1.
   *
   * The slice modulus GROWS with the corpus (max(7, n/1000), identical
   * arithmetic in both engines) so the evaluation slice stays ~1000 docs
   * at any scale — ground-truth recall evaluation is a bounded-sample
   * exercise, not a corpus-scale one. The 100× run without this cap hit
   * 424 s: on that corpus the ~27 k-trigram shingle space saturates
   * (per-hash df ≈ 10³), and Σ df² degenerates toward all-pairs no matter
   * how the truth join is indexed. Capping the slice bounds df within the
   * slice; statistical power is the same (recall estimates on ~500 k
   * pairs), and the driver-scale gates (sf0.01/sf0.1) keep mod = 7, so
   * oracle values are unchanged there.
   */
  private val RecallSliceMod = 7
  private val RecallSliceTarget = 1000L
  val dedupRecall = GateQuery(
    "q155_dedup_recall",
    Some {
      val shingleE = Dedup.Sql.shingles("text", ShingleN)
      ccCte +
        s"""
           |, smod AS (
           |  SELECT greatest($RecallSliceMod, count(*) // $RecallSliceTarget) AS md
           |  FROM corpus
           |), slice AS (
           |  SELECT doc_id, list_distinct($shingleE) AS sh
           |  FROM corpus WHERE (doc_id % 100000) % (SELECT md FROM smod) = 0
           |), truth AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM slice a JOIN slice b ON a.doc_id < b.doc_id
           |  WHERE (100 * len(list_intersect(a.sh, b.sh)))
           |      // len(list_distinct(a.sh || b.sh)) >= 50
           |), pred AS (
           |  SELECT a.doc_id AS id_a, b.doc_id AS id_b
           |  FROM cc a JOIN cc b
           |    ON a.comp = b.comp AND a.doc_id < b.doc_id
           |  WHERE (a.doc_id % 100000) % (SELECT md FROM smod) = 0
           |    AND (b.doc_id % 100000) % (SELECT md FROM smod) = 0
           |)
           |SELECT
           |  (SELECT count(*) FROM slice) AS n_slice,
           |  (SELECT count(*) FROM truth) AS n_truth,
           |  (SELECT count(*) FROM pred) AS n_pred,
           |  (SELECT count(*) FROM truth JOIN pred USING (id_a, id_b)) AS n_hit,
           |  CASE WHEN (SELECT count(*) FROM truth) = 0 THEN -1
           |    ELSE (100 * (SELECT count(*) FROM truth JOIN pred USING (id_a, id_b)))
           |      // (SELECT count(*) FROM truth) END AS recall_pct,
           |  CASE WHEN (SELECT count(*) FROM pred) = 0 THEN -1
           |    ELSE (100 * (SELECT count(*) FROM truth JOIN pred USING (id_a, id_b)))
           |      // (SELECT count(*) FROM pred) END AS precision_pct""".stripMargin
    }, heavy = true) { (spark, dir) =>
    val c = corpus(spark, dir)
    val labels = clusterLabels(spark, dir)
    // slice modulus scales with corpus size (the bounded-sample rule above)
    val sliceMod = math.max(RecallSliceMod.toLong,
      corpusCount(spark, dir) / RecallSliceTarget)
    val slice = Dedup.minhashAnalyzed(
        c.filter(col("doc_id") % 100000 % sliceMod === 0), "doc_id", "text",
        ShingleN, MinhashK)
      .select(col("id"), col("sh"))
    // inverted index: one row per (doc, distinct shingle hash); the pair
    // match count is |A∩B| exactly because `sh` is already distinct
    val ex = slice.select(col("id"), size(col("sh")).as("nsh"),
      explode(col("sh")).as("h"))
    val truth = ex.as("a").join(ex.as("b"),
        col("a.h") === col("b.h") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"),
        col("a.nsh").as("na"), col("b.nsh").as("nb"))
      .agg(count(lit(1)).as("i"))
      .filter(((lit(100) * col("i")) /
        (col("na") + col("nb") - col("i"))).cast("long") >= 50L)
      .select(col("id_a"), col("id_b"))
      .persist()
    val sliceLabels = labels.filter(col("id") % 100000 % sliceMod === 0)
    val pred = sliceLabels.as("a").join(sliceLabels.as("b"),
        col("a.comp") === col("b.comp") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .persist()
    val nSlice = slice.count()
    val nTruth = truth.count()
    val nPred = pred.count()
    val nHit = truth.join(pred, Seq("id_a", "id_b")).count()
    truth.unpersist()
    pred.unpersist()
    import spark.implicits._
    Seq((nSlice, nTruth, nPred, nHit,
      if (nTruth == 0) -1L else 100L * nHit / nTruth,
      if (nPred == 0) -1L else 100L * nHit / nPred))
      .toDF("n_slice", "n_truth", "n_pred", "n_hit", "recall_pct",
        "precision_pct")
  }

  // ---- q182: winnowing fingerprint overlap ----------------------------

  private val WinK = 3       // n-gram width
  private val WinW = 4       // winnowing window (density 2/(w+1))
  private val WinCap = 8     // fingerprint df cap — the LSH bucket-cap rule
  private val WinShared = 5  // report pairs sharing >= this many fps

  /**
   * q182 — winnowing fingerprint overlap
   * ([[graft.functions.TextRuns.winnowHashes]], Schleimer et al. 2003 —
   * the MOSS detector): each doc keeps the min hash of every w-window of
   * its positional 3-gram hashes, so any shared run of ≥ n+w−1 tokens
   * provably shares a fingerprint (the LOCAL guarantee MinHash sampling
   * lacks — q65 samples globally, this pins matches positionally).
   * Docs sharing ≥ 5 fingerprints (df-capped at 8, the q65 degenerate-
   * bucket rule, so stop-gram buckets never explode) are reported with
   * their overlap percentage — the plagiarism/near-dup report shape.
   * Plan: fingerprints are one in-row codegen'd pass; the pair join is
   * bucketed by fingerprint with bounded buckets; pct ranks the pair
   * table, never the corpus.
   */
  val winnowOverlap = GateQuery(
    "q182_winnow_overlap",
    Some {
      val pl = graft.core.Hashing.Sql.portableLong _
      corpusCte +
        s""", t AS (
           |  SELECT doc_id, text, regexp_split_to_array(text, '\\s+') AS tk
           |  FROM corpus
           |), hh AS (
           |  SELECT doc_id, CASE WHEN len(tk) >= $WinK
           |    THEN [${pl("array_to_string(tk[i + 1 : i + " + WinK + "], ' ')")}
           |          FOR i IN range(len(tk) - ${WinK - 1})]
           |    ELSE [${pl("text")}] END AS hs
           |  FROM t
           |), fp AS (
           |  SELECT doc_id, list_sort(list_distinct(
           |    [list_min(hs[j + 1 : j + $WinW])
           |     FOR j IN range(greatest(len(hs) - ${WinW - 1}, 1))])) AS fps
           |  FROM hh
           |), ex AS (
           |  SELECT doc_id, unnest(fps) AS f FROM fp
           |), nf AS (
           |  SELECT doc_id, CAST(len(fps) AS BIGINT) AS n_fp FROM fp
           |), rare AS (
           |  SELECT f FROM ex GROUP BY 1 HAVING count(*) <= $WinCap
           |), pairs AS (
           |  SELECT a.doc_id AS a, b.doc_id AS b, count(*) AS shared
           |  FROM ex a JOIN rare USING (f) JOIN ex b USING (f)
           |  WHERE a.doc_id < b.doc_id
           |  GROUP BY 1, 2 HAVING count(*) >= $WinShared
           |)
           |SELECT a, b, CAST(shared AS BIGINT) AS shared,
           |  CAST(100 * shared // least(na.n_fp, nb.n_fp) AS BIGINT) AS pct
           |FROM pairs JOIN nf na ON na.doc_id = a
           |JOIN nf nb ON nb.doc_id = b""".stripMargin
    }) { (spark, dir) =>
    import graft.functions.TextRuns
    import graft.operators.VectorOps
    val c = corpus(spark, dir)
    val fp = c.select(col("doc_id"),
        TextRuns.winnowHashes(col("text"), WinK, WinW).as("fps"))
      .persist()
    val ex = fp.select(col("doc_id"), explode(col("fps")).as("f"))
    val nf = fp.select(col("doc_id"), size(col("fps")).cast("long").as("n_fp"))
    val rare = ex.groupBy("f").agg(count(lit(1)).as("dfq"))
      .filter(col("dfq") <= WinCap).select("f")
    val exr = ex.join(rare, Seq("f"))
    val out = exr.select(col("f"), col("doc_id").as("a"))
      .join(exr.select(col("f"), col("doc_id").as("b")), Seq("f"))
      .filter(col("a") < col("b"))
      .groupBy("a", "b").agg(count(lit(1)).as("shared"))
      .filter(col("shared") >= WinShared)
      .join(nf.select(col("doc_id").as("a"), col("n_fp").as("na")), Seq("a"))
      .join(nf.select(col("doc_id").as("b"), col("n_fp").as("nb")), Seq("b"))
      .select(col("a"), col("b"), col("shared"),
        VectorOps.floorDiv(lit(100L) * col("shared"),
          least(col("na"), col("nb"))).as("pct"))
      .persist()
    out.count()
    fp.unpersist()
    out
  }

  // ---- q184: exact similarity join by prefix filtering ----------------

  private val PfN = 3          // shingle width
  private val PfTNum = 4L      // threshold t = 4/5
  private val PfTDen = 5L

  /**
   * q184 — EXACT set-similarity self-join
   * ([[Dedup.prefixFilterJoin]], the PPJoin/AllPairs prefix-filtering
   * family): every doc pair with shingle-Jaccard ≥ 4/5, with NO
   * approximation — the exact complement to MinHash-LSH (q65, trades
   * recall) and winnowing (q182, positional). Candidate completeness is
   * the pigeonhole over the global (df, value) shingle order: similar
   * pairs MUST collide inside their (1−t)·|s|+1 prefixes; verification
   * is the integer cross-multiplication 5·|∩| ≥ 4·|∪|. The oracle
   * replays ranking, prefixes, bucketing and verification; a Round10Spec
   * property test checks output equality against brute-force all-pairs
   * on random corpora. Plan: one (id, shingle) shuffle ranks prefixes,
   * the candidate join buckets on RARE shingles only, verification
   * touches candidates' in-row sets.
   */
  val prefixFilterPairs = GateQuery(
    "q184_prefix_filter_join",
    Some {
      val pl = graft.core.Hashing.Sql.portableLong _
      val ceilT = s"((${PfTNum} * sz + ${PfTDen - 1}) // ${PfTDen})"
      corpusCte +
        s""", shs AS (
           |  SELECT doc_id AS id, list_sort(list_distinct(
           |    [${pl("s")} FOR s IN ${Dedup.Sql.shingles("text", PfN)}])) AS sh
           |  FROM corpus
           |), ex AS (
           |  SELECT id, unnest(sh) AS s FROM shs
           |), dft AS (
           |  SELECT s, count(*) AS df FROM ex GROUP BY 1
           |), rnk AS (
           |  SELECT id, s,
           |    row_number() OVER (PARTITION BY id ORDER BY df, s) AS rnk,
           |    count(*) OVER (PARTITION BY id) AS sz
           |  FROM ex JOIN dft USING (s)
           |), pref AS (
           |  SELECT id, s FROM rnk WHERE rnk <= sz - $ceilT + 1
           |), cand AS (
           |  SELECT DISTINCT a.id AS a, b.id AS b
           |  FROM pref a JOIN pref b USING (s) WHERE a.id < b.id
           |), ver AS (
           |  SELECT a, b,
           |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
           |    CAST(len(list_distinct(x.sh || y.sh)) AS BIGINT) AS uni
           |  FROM cand JOIN shs x ON x.id = a JOIN shs y ON y.id = b
           |)
           |SELECT a, b, inter, uni, 1000000 * inter // uni AS jac_ppm
           |FROM ver WHERE $PfTDen * inter >= $PfTNum * uni""".stripMargin
    }) { (spark, dir) =>
    Dedup.prefixFilterJoin(corpus(spark, dir), "doc_id", "text",
      PfN, PfTNum, PfTDen)
  }

  // ---- q188: directed containment join --------------------------------

  private val CjN = 3
  private val CjTNum = 49L // t = 49/50 = 0.98: base→near qualifies (1.0),
  private val CjTDen = 50L // near→base (~0.95) does NOT — direction matters

  /**
   * q188 — DIRECTED containment join ([[Dedup.containmentJoin]], the
   * JOSIE/quote-detection shape): ordered pairs with
   * |Sa∩Sb| / |Sa| ≥ 49/50. On the planted corpus the relation is
   * visibly ASYMMETRIC: every base doc is fully contained in its
   * near-dup (C = 1, the appended marker only grows Sb) while the
   * reverse direction sits at ~0.95 and fails the bar — the
   * strict-superset case symmetric Jaccard (q184) cannot separate.
   * Candidates join only the query-side prefix (the |Sa|−⌈t·|Sa|⌉+1
   * globally-rarest shingles — 3 per doc at this t) against the posting
   * list; the oracle replays ordering, prefixes and verification.
   */
  val containmentPairs = GateQuery(
    "q188_containment_join",
    Some {
      val pl = graft.core.Hashing.Sql.portableLong _
      val ceilT = s"((${CjTNum} * sz + ${CjTDen - 1}) // ${CjTDen})"
      corpusCte +
        s""", shs AS (
           |  SELECT doc_id AS id, list_sort(list_distinct(
           |    [${pl("s")} FOR s IN ${Dedup.Sql.shingles("text", CjN)}])) AS sh
           |  FROM corpus
           |), ex AS (
           |  SELECT id, unnest(sh) AS s FROM shs
           |), dft AS (
           |  SELECT s, count(*) AS df FROM ex GROUP BY 1
           |), rnk AS (
           |  SELECT id, s,
           |    row_number() OVER (PARTITION BY id ORDER BY df, s) AS rnk,
           |    count(*) OVER (PARTITION BY id) AS sz
           |  FROM ex JOIN dft USING (s)
           |), pref AS (
           |  SELECT id, s FROM rnk WHERE rnk <= sz - $ceilT + 1
           |), cand AS (
           |  SELECT DISTINCT p.id AS a, e.id AS b
           |  FROM pref p JOIN ex e USING (s) WHERE p.id <> e.id
           |), ver AS (
           |  SELECT a, b,
           |    CAST(len(list_intersect(x.sh, y.sh)) AS BIGINT) AS inter,
           |    CAST(len(x.sh) AS BIGINT) AS size_a
           |  FROM cand JOIN shs x ON x.id = a JOIN shs y ON y.id = b
           |)
           |SELECT a, b, inter, size_a, 1000000 * inter // size_a AS cont_ppm
           |FROM ver WHERE $CjTDen * inter >= $CjTNum * size_a""".stripMargin
    }) { (spark, dir) =>
    Dedup.containmentJoin(corpus(spark, dir), "doc_id", "text",
      CjN, CjTNum, CjTDen)
  }

  // ---- q179: c-TF-IDF cluster keywords --------------------------------

  private val CtfTopK = 5

  /**
   * q179 — c-TF-IDF cluster keywords ([[graft.operators.TfIdf.cTfIdf]],
   * the BERTopic formulation): each embedding-space cluster (the
   * `label` column — at scale, the q102 k-means assignment) is treated
   * as one pseudo-document and its top-5 most characteristic terms are
   * surfaced by tf_c · (l2q16(f + A) − l2q16(f)) in exact fixed point —
   * the "name the clusters" reporting stage after semantic grouping.
   * Plan: the docs⋈labels join is id-to-id (at scale the label comes
   * from a map-only broadcast-centroid assignment, no join at all), then
   * ONE corpus shuffle (partial-aggregated (class, term) counts); corpus
   * frequency f and the per-class average A derive from that bounded
   * gram table, and the top-k window ranks vocab×classes rows, never
   * the corpus.
   */
  val cTfIdfKeywords = GateQuery(
    "q179_ctfidf_keywords",
    Some {
      val toks = TextOps.Sql.tokens.format("text")
      import graft.operators.TextLm
      s"""WITH lab AS (
         |  SELECT vec_id AS doc_id, label FROM embeddings
         |), toks AS (
         |  SELECT label, unnest($toks) AS term
         |  FROM documents JOIN lab USING (doc_id)
         |), ctf AS (
         |  SELECT label, term, count(*) AS tf_c FROM toks GROUP BY 1, 2
         |), ft AS (
         |  SELECT term, CAST(sum(tf_c) AS BIGINT) AS f FROM ctf GROUP BY 1
         |), consts AS (
         |  SELECT CAST((SELECT sum(tf_c) FROM ctf)
         |    // (SELECT count(DISTINCT label) FROM ctf) AS BIGINT) AS a
         |), scored AS (
         |  SELECT label, term, tf_c,
         |    tf_c * (${TextLm.Sql.l2q16("(f + a)")} - ${TextLm.Sql.l2q16("(f)")})
         |      AS score_q16
         |  FROM ctf JOIN ft USING (term) CROSS JOIN consts
         |), ranked AS (
         |  SELECT label, term, tf_c, score_q16,
         |    CAST(row_number() OVER (PARTITION BY label
         |      ORDER BY score_q16 DESC, term) AS INT) AS rank
         |  FROM scored
         |)
         |SELECT label, rank, term, CAST(tf_c AS BIGINT) AS tf_c,
         |  CAST(score_q16 AS BIGINT) AS score_q16
         |FROM ranked WHERE rank <= $CtfTopK""".stripMargin
    }) { (spark, dir) =>
    import graft.operators.TfIdf
    val labels = Tables.load(spark, dir, "embeddings")
      .select(col("vec_id").as("doc_id"), col("label"))
    val docs = Tables.load(spark, dir, "documents").select("doc_id", "text")
      .join(labels, Seq("doc_id"))
    val ctf = TfIdf.classTermCounts(docs, "label", "text").persist()
    val out = TfIdf.cTfIdfFromCounts(ctf, "label", CtfTopK).persist()
    out.count()
    ctf.unpersist()
    out
  }

  // ---- Gopher filter rules --------------------------------------------

  // Deterministic multi-line "page" per document so the line/paragraph
  // rules have real structure to judge: a duplicated heading line, a
  // bullet line, a conditional ellipsis line, a '#'-density tail, and a
  // duplicated trailing paragraph on doc_id%5=0. Shared derivation — the
  // Spark and DuckDB forms must produce byte-identical pages.
  private def pageCol: Column = {
    val h = substring(col("text"), 1, 40)
    val b = concat(lit("- item "), (col("doc_id") % 7).cast("string"))
    val e = concat(lit("trailing thought"),
      when(col("doc_id") % 3 === 0, "...").otherwise("."))
    val m = substring(col("text"), 41, 120)
    val hashes = expr("repeat('#', CAST(doc_id % 12 AS INT))")
    val base = concat(h, lit("\n"), b, lit("\n"), h, lit("\n\n"),
      e, lit("\n"), m, lit(" "), hashes)
    when(col("doc_id") % 5 === 0,
      concat(base, lit("\n\n"), e, lit("\n"), m)).otherwise(base)
  }

  private val pageSqlCte: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 5 = 0
      |         THEN base || chr(10) || chr(10) || e || chr(10) || m
      |         ELSE base END AS page
      |  FROM (
      |    SELECT doc_id, e, m,
      |      h || chr(10) || b || chr(10) || h || chr(10) || chr(10) ||
      |        e || chr(10) || m || ' ' || repeat('#', CAST(doc_id % 12 AS INT)) AS base
      |    FROM (
      |      SELECT doc_id,
      |        substr(text, 1, 40) AS h,
      |        '- item ' || CAST(doc_id % 7 AS VARCHAR) AS b,
      |        'trailing thought' ||
      |          CASE WHEN doc_id % 3 = 0 THEN '...' ELSE '.' END AS e,
      |        substr(text, 41, 120) AS m
      |      FROM documents)
      |  )
      |)""".stripMargin

  /**
   * q234 — Gopher QUALITY rules (Rae et al. 2021 Table A1) over the
   * synthesized pages: the 9-counter kernel
   * ([[graft.functions.GopherStats.quality]], one codegen'd in-row pass,
   * zero shuffle before the final histogram) against a DuckDB oracle
   * computing every counter with list comprehensions. Grouped by the
   * fail-rule BITMASK so a drift in any single rule, threshold, or
   * counter flips rows; signal sums bind the raw counters too.
   */
  val gopherQualityGate = GateQuery(
    "q234_gopher_quality",
    Some(pageSqlCte +
      """, q AS (
        |  SELECT doc_id,
        |    len(words) AS n_words,
        |    coalesce(list_sum([length(w) FOR w IN words]), 0) AS sum_word_len,
        |    length(page) - length(replace(page, '#', '')) AS n_hash,
        |    (length(page) - length(replace(page, '...', ''))) // 3
        |      + (length(page) - length(replace(page, chr(8230), ''))) AS n_ellipsis,
        |    len(lines) AS n_lines,
        |    len([l FOR l IN lines
        |         IF left(trim(l, ' ' || chr(9) || chr(13)), 1) IN ('-', '*', chr(8226))]) AS n_bullet_lines,
        |    len([l FOR l IN lines
        |         IF right(trim(l, ' ' || chr(9) || chr(13)), 3) = '...'
        |            OR right(trim(l, ' ' || chr(9) || chr(13)), 1) = chr(8230)]) AS n_ellipsis_lines,
        |    len([w FOR w IN words IF regexp_matches(w, '[A-Za-z]')]) AS n_alpha_words,
        |    len(list_distinct([lower(w) FOR w IN words
        |         IF lower(w) IN ('the','be','to','of','and','that','have','with')])) AS n_stop
        |  FROM (SELECT doc_id, page,
        |          regexp_split_to_array(page, '\s+') AS words,
        |          string_split(page, chr(10)) AS lines
        |        FROM pages)
        |)
        |SELECT fail_mask, count(*) AS n_docs,
        |  CAST(sum(n_words) AS BIGINT) AS sum_words,
        |  CAST(sum(n_ellipsis) AS BIGINT) AS sum_ellipsis,
        |  CAST(sum(n_bullet_lines) AS BIGINT) AS sum_bullets,
        |  CAST(sum(n_stop) AS BIGINT) AS sum_stop
        |FROM (
        |  SELECT *,
        |    (CASE WHEN n_words BETWEEN 50 AND 100000 THEN 0 ELSE 1 END)
        |    + (CASE WHEN sum_word_len BETWEEN 3 * n_words AND 10 * n_words THEN 0 ELSE 2 END)
        |    + (CASE WHEN 10 * (n_hash + n_ellipsis) <= n_words THEN 0 ELSE 4 END)
        |    + (CASE WHEN 10 * n_bullet_lines <= 9 * n_lines THEN 0 ELSE 8 END)
        |    + (CASE WHEN 10 * n_ellipsis_lines <= 3 * n_lines THEN 0 ELSE 16 END)
        |    + (CASE WHEN 5 * n_alpha_words >= 4 * n_words THEN 0 ELSE 32 END)
        |    + (CASE WHEN n_stop >= 2 THEN 0 ELSE 64 END) AS fail_mask
        |  FROM q
        |) GROUP BY fail_mask""".stripMargin)) { (spark, dir) =>
    val sig = TextOps.gopherQuality(pageCol)
    Tables.load(spark, dir, "documents")
      .select(sig.as("sig"))
      .select(TextOps.gopherQualityFailMask(col("sig")).as("fail_mask"),
        col("sig.n_words"), col("sig.n_ellipsis"),
        col("sig.n_bullet_lines"), col("sig.n_stop"))
      .groupBy("fail_mask")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_words").as("sum_words"),
        sum("n_ellipsis").as("sum_ellipsis"),
        sum("n_bullet_lines").as("sum_bullets"),
        sum("n_stop").as("sum_stop"))
  }

  /**
   * q235 — Gopher REPETITION rules over the same pages: duplicate
   * line/paragraph fractions (count and char coverage), top 2/3/4-gram
   * char fractions with the count-desc/gram-asc tie-break, and the
   * duplicate-5-gram char sum. The kernel keeps every gram inside the
   * row (per-doc hash maps, no gram explode); the oracle EXPLODES to
   * (doc, value) groups — maximally different formulations.
   */
  val gopherRepetitionGate = GateQuery(
    "q235_gopher_repetition",
    Some(pageSqlCte +
      """, linestats AS (
        |  SELECT doc_id, sum(cnt) AS n_lines, sum(cnt - 1) AS dup_lines,
        |    sum((cnt - 1) * length(l)) AS chars_dup_lines
        |  FROM (SELECT doc_id, l, count(*) AS cnt FROM (
        |          SELECT doc_id, unnest(string_split(page, chr(10))) AS l
        |          FROM pages) GROUP BY doc_id, l)
        |  GROUP BY doc_id
        |), parastats AS (
        |  SELECT doc_id, sum(cnt) AS n_paras, sum(cnt - 1) AS dup_paras,
        |    sum((cnt - 1) * length(p)) AS chars_dup_paras
        |  FROM (SELECT doc_id, p, count(*) AS cnt FROM (
        |          SELECT doc_id, unnest(string_split(page, chr(10) || chr(10))) AS p
        |          FROM pages) GROUP BY doc_id, p)
        |  GROUP BY doc_id
        |), words AS (
        |  SELECT doc_id, regexp_split_to_array(page, '\s+') AS ws FROM pages
        |), top2 AS (
        |  SELECT doc_id, cnt AS top2_cnt, length(g) AS top2_len FROM (
        |    SELECT doc_id, g, count(*) AS cnt, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM (SELECT doc_id,
        |            unnest([array_to_string(ws[i:i+1], ' ') FOR i IN range(1, len(ws))]) AS g
        |          FROM words) GROUP BY doc_id, g) WHERE rn = 1
        |), top3 AS (
        |  SELECT doc_id, cnt AS top3_cnt, length(g) AS top3_len FROM (
        |    SELECT doc_id, g, count(*) AS cnt, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM (SELECT doc_id,
        |            unnest([array_to_string(ws[i:i+2], ' ') FOR i IN range(1, len(ws) - 1)]) AS g
        |          FROM words) GROUP BY doc_id, g) WHERE rn = 1
        |), top4 AS (
        |  SELECT doc_id, cnt AS top4_cnt, length(g) AS top4_len FROM (
        |    SELECT doc_id, g, count(*) AS cnt, row_number() OVER (
        |        PARTITION BY doc_id ORDER BY count(*) DESC, g ASC) AS rn
        |    FROM (SELECT doc_id,
        |            unnest([array_to_string(ws[i:i+3], ' ') FOR i IN range(1, len(ws) - 2)]) AS g
        |          FROM words) GROUP BY doc_id, g) WHERE rn = 1
        |), d5 AS (
        |  SELECT doc_id,
        |    sum(CASE WHEN cnt > 1 THEN (cnt - 1) * length(g) ELSE 0 END) AS dup5_chars
        |  FROM (SELECT doc_id, g, count(*) AS cnt
        |        FROM (SELECT doc_id,
        |                unnest([array_to_string(ws[i:i+4], ' ') FOR i IN range(1, len(ws) - 3)]) AS g
        |              FROM words) GROUP BY doc_id, g)
        |  GROUP BY doc_id
        |), sig AS (
        |  SELECT p.doc_id, length(p.page) AS total,
        |    l.n_lines, l.dup_lines, l.chars_dup_lines,
        |    pa.n_paras, pa.dup_paras, pa.chars_dup_paras,
        |    coalesce(t2.top2_cnt, 0) AS top2_cnt, coalesce(t2.top2_len, 0) AS top2_len,
        |    coalesce(t3.top3_cnt, 0) AS top3_cnt, coalesce(t3.top3_len, 0) AS top3_len,
        |    coalesce(t4.top4_cnt, 0) AS top4_cnt, coalesce(t4.top4_len, 0) AS top4_len,
        |    coalesce(d5.dup5_chars, 0) AS dup5_chars
        |  FROM pages p
        |  JOIN linestats l USING (doc_id) JOIN parastats pa USING (doc_id)
        |  LEFT JOIN top2 t2 USING (doc_id) LEFT JOIN top3 t3 USING (doc_id)
        |  LEFT JOIN top4 t4 USING (doc_id) LEFT JOIN d5 USING (doc_id)
        |)
        |SELECT fail_mask, count(*) AS n_docs,
        |  CAST(sum(dup_lines) AS BIGINT) AS sum_dup_lines,
        |  CAST(sum(chars_dup_paras) AS BIGINT) AS sum_dup_para_chars,
        |  CAST(sum(top2_cnt * top2_len) AS BIGINT) AS sum_top2_chars,
        |  CAST(sum(dup5_chars) AS BIGINT) AS sum_dup5_chars
        |FROM (
        |  SELECT *,
        |    (CASE WHEN 10 * dup_lines <= 3 * n_lines THEN 0 ELSE 1 END)
        |    + (CASE WHEN 10 * dup_paras <= 3 * n_paras THEN 0 ELSE 2 END)
        |    + (CASE WHEN 5 * chars_dup_lines <= total THEN 0 ELSE 4 END)
        |    + (CASE WHEN 5 * chars_dup_paras <= total THEN 0 ELSE 8 END)
        |    + (CASE WHEN 5 * top2_cnt * top2_len <= total THEN 0 ELSE 16 END)
        |    + (CASE WHEN 50 * top3_cnt * top3_len <= 9 * total THEN 0 ELSE 32 END)
        |    + (CASE WHEN 25 * top4_cnt * top4_len <= 4 * total THEN 0 ELSE 64 END)
        |    + (CASE WHEN 20 * dup5_chars <= 3 * total THEN 0 ELSE 128 END) AS fail_mask
        |  FROM sig
        |) GROUP BY fail_mask""".stripMargin)) { (spark, dir) =>
    val page = pageCol
    Tables.load(spark, dir, "documents")
      .select(TextOps.gopherRepetition(page).as("sig"),
        length(page).cast("long").as("total"))
      .select(TextOps.gopherRepetitionFailMask(col("sig"), col("total"))
          .as("fail_mask"),
        col("sig.dup_lines"), col("sig.chars_dup_paras"),
        (col("sig.top2_cnt") * col("sig.top2_len")).as("top2_chars"),
        col("sig.dup5_chars"))
      .groupBy("fail_mask")
      .agg(count(lit(1)).as("n_docs"),
        sum("dup_lines").as("sum_dup_lines"),
        sum("chars_dup_paras").as("sum_dup_para_chars"),
        sum("top2_chars").as("sum_top2_chars"),
        sum("dup5_chars").as("sum_dup5_chars"))
  }

  // Deterministic C4-shaped page: lines exercising every line rule
  // (terminal punctuation, the ≥5-word floor, the javascript token) and
  // every page flag (lorem ipsum, brace, bad word) on doc_id moduli.
  private def c4PageCol: Column = {
    val l1 = concat(substring(col("text"), 1, 50), lit("."))
    val l2 = substring(col("text"), 51, 30)
    val l3 = concat(lit("click here"),
      when(col("doc_id") % 4 === 0, ".").otherwise(""))
    val l4 = concat(substring(col("text"), 81, 40),
      when(col("doc_id") % 2 === 0, "?").otherwise(""))
    val l5 = when(col("doc_id") % 6 === 0,
      lit("enable javascript to view this page please."))
      .otherwise(concat(substring(col("text"), 121, 40), lit("!")))
    val l6 = when(col("doc_id") % 7 === 0, lit("template { placeholder }"))
      .otherwise(lit("a quote line with five words\""))
    val base = concat_ws("\n", l1, l2, l3, l4, l5, l6)
    val withLorem = when(col("doc_id") % 11 === 0,
      concat(base, lit("\nLorem ipsum dolor sit amet."))).otherwise(base)
    when(col("doc_id") % 13 === 0,
      concat(withLorem, lit("\nthis page mentions the badword here.")))
      .otherwise(withLorem)
  }

  private val c4PageSqlCte: String =
    """WITH pages AS (
      |  SELECT doc_id,
      |    CASE WHEN doc_id % 13 = 0
      |         THEN lp || chr(10) || 'this page mentions the badword here.'
      |         ELSE lp END AS page
      |  FROM (
      |    SELECT doc_id,
      |      CASE WHEN doc_id % 11 = 0
      |           THEN base || chr(10) || 'Lorem ipsum dolor sit amet.'
      |           ELSE base END AS lp
      |    FROM (
      |      SELECT doc_id,
      |        substr(text, 1, 50) || '.' || chr(10) ||
      |        substr(text, 51, 30) || chr(10) ||
      |        'click here' || (CASE WHEN doc_id % 4 = 0 THEN '.' ELSE '' END) || chr(10) ||
      |        substr(text, 81, 40) || (CASE WHEN doc_id % 2 = 0 THEN '?' ELSE '' END) || chr(10) ||
      |        (CASE WHEN doc_id % 6 = 0 THEN 'enable javascript to view this page please.'
      |              ELSE substr(text, 121, 40) || '!' END) || chr(10) ||
      |        (CASE WHEN doc_id % 7 = 0 THEN 'template { placeholder }'
      |              ELSE 'a quote line with five words"' END) AS base
      |      FROM documents)
      |  )
      |)""".stripMargin

  /**
   * q236 — C4 line cleaning (Raffel et al. 2020 §2.2): the
   * [[graft.functions.GopherStats.c4Clean]] kernel (terminal-punctuation
   * line rule, ≥5-word floor, javascript-token drop, lorem/brace/bad-word
   * page flags, ≥3-sentence page rule) over synthesized pages vs a DuckDB
   * list-comprehension rebuild. The CLEANED TEXT is bound byte-exactly by
   * a portable-hash sum, not just counters.
   */
  val c4CleanGate = GateQuery(
    "q236_c4_clean",
    Some(c4PageSqlCte +
      s""", sig AS (
         |  SELECT doc_id, page,
         |    array_to_string(kept, chr(10)) AS clean,
         |    len(kept) AS n_kept, n_lines - len(kept) AS n_dropped,
         |    CASE WHEN contains(lower(page), 'lorem ipsum') THEN 1 ELSE 0 END AS flag_lorem,
         |    CASE WHEN contains(page, '{') THEN 1 ELSE 0 END AS flag_brace,
         |    CASE WHEN list_contains([lower(w) FOR w IN regexp_split_to_array(page, '\\s+')], 'badword')
         |         THEN 1 ELSE 0 END AS flag_bad
         |  FROM (
         |    SELECT doc_id, page, len(ts) AS n_lines,
         |      [t FOR t IN ts
         |       IF right(t, 1) IN ('.', '!', '?', '"')
         |          AND len(regexp_split_to_array(t, '\\s+')) >= 5
         |          AND NOT list_contains([lower(w) FOR w IN regexp_split_to_array(t, '\\s+')], 'javascript')] AS kept
         |    FROM (SELECT doc_id, page,
         |            [trim(l, ' ' || chr(9) || chr(13)) FOR l IN string_split(page, chr(10))] AS ts
         |          FROM pages)
         |  )
         |), scored AS (
         |  SELECT *,
         |    (length(clean) - length(replace(clean, '.', '')))
         |    + (length(clean) - length(replace(clean, '!', '')))
         |    + (length(clean) - length(replace(clean, '?', ''))) AS n_sentences
         |  FROM sig
         |)
         |SELECT keep, flag_lorem, flag_brace, flag_bad,
         |  count(*) AS n_docs,
         |  CAST(sum(n_kept) AS BIGINT) AS sum_kept,
         |  CAST(sum(n_dropped) AS BIGINT) AS sum_dropped,
         |  CAST(sum(n_sentences) AS BIGINT) AS sum_sentences,
         |  CAST(sum(length(clean)) AS BIGINT) AS sum_clean_len,
         |  CAST(bit_xor(${graft.core.Hashing.Sql.portableLong("clean")}) AS BIGINT) AS xor_clean_hash
         |FROM (SELECT *,
         |        CASE WHEN n_sentences >= 3 AND flag_lorem = 0
         |                  AND flag_brace = 0 AND flag_bad = 0
         |             THEN 1 ELSE 0 END AS keep
         |      FROM scored)
         |GROUP BY 1, 2, 3, 4""".stripMargin)) { (spark, dir) =>
    Tables.load(spark, dir, "documents")
      .select(TextOps.c4Clean(c4PageCol, Seq("badword")).as("sig"))
      .select(when(TextOps.c4Keep(col("sig")), 1L).otherwise(0L).as("keep"),
        col("sig.flag_lorem"), col("sig.flag_brace"), col("sig.flag_bad"),
        col("sig.n_kept"), col("sig.n_dropped"), col("sig.n_sentences"),
        length(col("sig.clean")).cast("long").as("clean_len"),
        graft.core.Hashing.portableLong(col("sig.clean")).as("clean_hash"))
      .groupBy("keep", "flag_lorem", "flag_brace", "flag_bad")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_kept").as("sum_kept"),
        sum("n_dropped").as("sum_dropped"),
        sum("n_sentences").as("sum_sentences"),
        sum("clean_len").as("sum_clean_len"),
        expr("bit_xor(clean_hash)").as("xor_clean_hash"))
  }

  /**
   * q237 — boilerplate-line removal by corpus document frequency
   * ([[Curation.removeBoilerplateLines]], the RefinedWeb/FineWeb line
   * correction): over the synthesized Gopher pages the shared `- item k`
   * and `trailing thought` lines cross the ≥10-doc threshold while the
   * per-doc heading/body lines stay (including the heading DUPLICATED
   * within its own doc — within-doc repeats must not count). The engine
   * buckets by in-row 60-bit line hashes; the oracle groups RAW line
   * strings — rebuilt text bound byte-exactly by a portable-hash xor.
   */
  val boilerplateGate = GateQuery(
    "q237_boilerplate_lines",
    Some(pageSqlCte +
      s""", lines2 AS (
         |  SELECT doc_id, e.pos AS pos, e.line AS line FROM (
         |    SELECT doc_id,
         |      unnest([struct_pack(pos := i, line := ls[i])
         |              FOR i IN range(1, len(ls) + 1)]) AS e
         |    FROM (SELECT doc_id, string_split(page, chr(10)) AS ls FROM pages))
         |), bp AS (
         |  SELECT line FROM (
         |    SELECT line, count(DISTINCT doc_id) AS nd FROM lines2 GROUP BY line
         |  ) WHERE nd >= 10
         |), clean AS (
         |  SELECT l.doc_id,
         |    coalesce(string_agg(CASE WHEN b.line IS NULL THEN l.line END,
         |                        chr(10) ORDER BY l.pos), '') AS clean_text,
         |    CAST(sum(CASE WHEN b.line IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_removed,
         |    count(*) AS n_lines
         |  FROM lines2 l LEFT JOIN bp b USING (line) GROUP BY l.doc_id
         |)
         |SELECT n_removed, count(*) AS n_docs,
         |  CAST(sum(n_lines) AS BIGINT) AS sum_lines,
         |  CAST(sum(length(clean_text)) AS BIGINT) AS sum_clean_len,
         |  CAST(bit_xor(${graft.core.Hashing.Sql.portableLong("clean_text")}) AS BIGINT) AS xor_clean_hash
         |FROM clean GROUP BY n_removed""".stripMargin)) { (spark, dir) =>
    val pages = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), pageCol.as("page"))
    Curation.removeBoilerplateLines(pages, "doc_id", "page", minDocs = 10)
      .withColumn("h", graft.core.Hashing.portableLong(col("clean_text")))
      .groupBy("n_removed")
      .agg(count(lit(1)).as("n_docs"),
        sum("n_lines").as("sum_lines"),
        sum(length(col("clean_text")).cast("long")).as("sum_clean_len"),
        expr("bit_xor(h)").as("xor_clean_hash"))
  }

  def all: Seq[GateQuery] =
    Seq(textStats, qualityHist, langIdQ, fingerprints, repetition, exactDedup,
      minhashLsh, simhashQ, dupClusters, dupLabelsNoPairs, incrementalDedup,
      indexAdmit, incrementalLabels, simhashNearDup, dedupKeep, priorityKeep,
      hashSplit, dedupRecall, cTfIdfKeywords, winnowOverlap, prefixFilterPairs,
      containmentPairs, gopherQualityGate, gopherRepetitionGate, c4CleanGate,
      boilerplateGate)

  // shared-cache warmers: Bench prebuilds these as their own entries so
  // consuming gates (q65/q67/q103/q150…) report marginal cost
  Gate.registerBuild("b3_lsh_table")((s, d) => { scoredCandidates(s, d); () })
  Gate.registerBuild("b4_cc_labels")((s, d) => { clusterLabels(s, d); () })
}
