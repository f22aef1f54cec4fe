package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Hashing

/**
 * Deduplication operators for training-data pipelines: exact, MinHash+LSH,
 * SimHash, and n-gram Jaccard. Scale design (100 TB):
 *
 *  - Exact dedup = one hash aggregation on a text digest — map-side partial
 *    aggregation collapses duplicate-heavy corpora before the shuffle.
 *  - MinHash signatures and SimHash are map-only array expressions.
 *  - LSH candidate generation shuffles by (band, signature) — each band
 *    bucket is tiny, so the self-join explodes only true candidate groups,
 *    never the full corpus. This is the standard shingle→minhash→band→
 *    bucket-join pipeline, entirely in DataFrame ops (AQE handles the
 *    skewed mega-bucket case).
 *  - Jaccard verification touches only candidate pairs (joined back to the
 *    shingle arrays), not the n² pair space.
 */
/** Band-bucket member for the labels-not-pairs local verify (top-level so
  * Spark derives its Encoder). */
final case class LshBucketMember(id: Long, sh: Seq[Long])

/** Band-bucket member with an index/new-batch side tag, for incremental
  * label admission. */
final case class LshAdmitMember(id: Long, sh: Seq[Long], is_new: Boolean)

object Dedup {

  /** Word n-gram shingles; documents shorter than n words collapse to one
    * whole-text shingle. */
  def shingles(text: Column, n: Int): Column = {
    val toks = TextOps.tokens(text)
    when(size(toks) >= n,
      transform(sequence(lit(1), size(toks) - n + 1),
        i => concat_ws(" ", slice(toks, i, lit(n)))))
      .otherwise(array(text))
  }

  /** Exact-dup digest of normalized text (lower + collapsed whitespace).
    * r21: kernel-backed ([[graft.functions.TextRuns.exactKey]]) — the
    * legacy `portableLong(regexp_replace(lower(text), "\\s+", " "))`
    * chain materialized three intermediate strings per row (lowered copy,
    * collapsed copy, md5 hex) before the conv(substring(…)) parse; the
    * kernel is one in-row pass with byte-identical values (pinned by
    * Round21Spec against the legacy chain, unicode cases included). */
  def exactKey(text: Column): Column =
    graft.functions.TextRuns.exactKey(text)

  /** MinHash signature (column form): k seeded hashes min'd over the
    * shingle set. Prefer [[minhashSignatures]] in pipelines — projection
    * collapsing inlines `shingleCol` into every outer lambda, recomputing
    * the digests k times when the expression falls out of codegen. */
  def minhash(shingleCol: Column, k: Int): Column = {
    val hashes = transform(shingleCol, s => Hashing.portableLong(s))
    transform(sequence(lit(0), lit(k - 1)),
      seed => array_min(transform(hashes,
        h => pmod(pmod(h, lit(Hashing.MixP)) * (seed * 2 + 3) + seed.cast("long"),
          lit(Hashing.MixP)))))
  }

  /**
   * MinHash signatures, kernel form: one md5 per DISTINCT shingle, k
   * integer mixes in a tight in-row loop ([[graft.functions.TextRuns]]).
   * Map-only — digest work is linear in corpus size, never multiplied by
   * k, and the signature stage needs NO exchange at all (the earlier
   * explode/aggregate form shuffled one row per doc through a partial-min
   * agg; this one keeps the scan in a single codegen span).
   */
  def minhashSignatures(df: DataFrame, idCol: String, textCol: String,
                        shingleN: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.TextRuns.minhashAnalyze(col(textCol), shingleN, k)
        .getField("sig").as("sig"))

  /** MinHash signature AND sorted distinct-shingle-hash set in one pass —
    * the dedup-job shape: bands come from `sig`, Jaccard verification from
    * `sh`, one digest pass serves both. */
  def minhashAnalyzed(df: DataFrame, idCol: String, textCol: String,
                      shingleN: Int, k: Int): DataFrame =
    df.select(col(idCol).as("id"),
        graft.functions.TextRuns.minhashAnalyze(col(textCol), shingleN, k).as("an"))
      .select(col("id"), col("an.sig").as("sig"), col("an.sh").as("sh"))

  /** LSH band signatures: split the k-length signature into `bands` groups
    * of r = k/bands and hash each group. Row explodes to one row per band
    * for the bucket join. */
  def lshBands(sigCol: Column, k: Int, bands: Int): Column = {
    val r = k / bands
    transform(sequence(lit(0), lit(bands - 1)),
      b => struct(b.as("band"),
        Hashing.portableLong(concat_ws(",",
          transform(sequence(lit(0), lit(r - 1)),
            i => element_at(sigCol, b * r + i + 1).cast("string")))).as("sig")))
  }

  /**
   * Candidate pairs via LSH: explode bands, self-join on (band, sig),
   * keep each unordered pair once. `df` must have columns (id, text).
   */
  /**
   * @param maxBucket degenerate-bucket cap: a band bucket holding more than
   *   this many docs (boilerplate/empty-text pathologies at corpus scale)
   *   would explode the self-join quadratically; such buckets are dropped
   *   (its members still pair through their other, more selective bands;
   *   identical-text floods are exact dups and belong to [[exactKey]] dedup,
   *   which runs FIRST in the standard pipeline). Defaults ON — at corpus
   *   scale one unguarded mega-bucket makes the self-join quadratic.
   *   0 disables the cap.
   */
  def lshCandidates(df: DataFrame, idCol: String, textCol: String,
                    shingleN: Int = 3, k: Int = 12, bands: Int = 4,
                    maxBucket: Int = 500): DataFrame = {
    val sig = minhashSignatures(df, idCol, textCol, shingleN, k)
    val banded0 = sig.select(col("id"),
        explode(lshBands(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("b.band").as("band"), col("b.sig").as("band_sig"))
    val banded =
      if (maxBucket <= 0) banded0
      else {
        import org.apache.spark.sql.expressions.Window
        banded0.withColumn("_bsz",
            count(lit(1)).over(Window.partitionBy(col("band"), col("band_sig"))))
          .filter(col("_bsz") <= maxBucket).drop("_bsz")
      }
    banded.as("a").join(banded.as("b"),
        col("a.band") === col("b.band") &&
          col("a.band_sig") === col("b.band_sig") &&
          col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()
  }

  /**
   * Incremental dedup: match a NEW batch of documents against a PERSISTED
   * MinHash index of the existing corpus. `index` carries (id, sig, sh) —
   * the stored output of [[minhashAnalyzed]]; on a cluster this is a
   * parquet table bucketed by band hash, built once and appended to, so
   * arriving batches never re-read or re-hash existing text. Only the new
   * batch computes signatures; its exploded bands BROADCAST against the
   * index's band buckets (a batch is small against a 100 TB index), and
   * Jaccard verification touches only the candidates' stored shingle
   * sets. Returns (new_id, old_id, jac_pct) with jac_pct the integer
   * floor(100·|∩|/|∪|) — all-integer, cross-engine exact.
   *
   * @param maxBucket degenerate-bucket cap applied to the INDEX side (in
   *   prod it is enforced once at index build); 0 disables.
   */
  def incrementalMatches(index: DataFrame, newAnalyzed: DataFrame,
                         k: Int, bands: Int, maxBucket: Int = 500): DataFrame = {
    def banded(df: DataFrame, as: String): DataFrame =
      df.select(col("id").as(as), explode(lshBands(col("sig"), k, bands)).as("b"))
        .select(col(as), col("b.band").as("band"), col("b.sig").as("band_sig"))
    val ib0 = banded(index, "old_id")
    val ib =
      if (maxBucket <= 0) ib0
      else {
        import org.apache.spark.sql.expressions.Window
        ib0.withColumn("_bsz",
            count(lit(1)).over(Window.partitionBy(col("band"), col("band_sig"))))
          .filter(col("_bsz") <= maxBucket).drop("_bsz")
      }
    val nb = banded(newAnalyzed, "new_id")
    val cand = broadcast(nb).join(ib, Seq("band", "band_sig"))
      .select("new_id", "old_id").distinct()
    cand
      .join(broadcast(newAnalyzed.select(col("id").as("new_id"), col("sh").as("nsh"))),
        Seq("new_id"))
      .join(index.select(col("id").as("old_id"), col("sh").as("ish")), Seq("old_id"))
      .withColumn("jac_pct", VectorOps.floorDiv(
        lit(100L) * size(array_intersect(col("nsh"), col("ish"))).cast("long"),
        size(array_union(col("nsh"), col("ish"))).cast("long")))
      .select("new_id", "old_id", "jac_pct")
  }

  /**
   * Index MAINTENANCE — the other half of the incremental-dedup loop:
   * admit the non-duplicate slice of a new analyzed batch into the
   * persisted index. Duplicates (any match at or above `minJacPct`) are
   * dropped; everything else appends its already-computed (id, sig, sh)
   * row, so the updated index is byte-identical to one built from
   * scratch over (existing ∪ admitted) — analysis is deterministic and
   * no existing row is touched. Anti-join on the matched ids + append:
   * at 100 TB this is a partition append to the bucketed index table,
   * never a rewrite.
   */
  def admitToIndex(index: DataFrame, newAnalyzed: DataFrame,
                   matches: DataFrame, minJacPct: Long): DataFrame =
    index.unionByName(
      newAnalyzed.join(
        matches.filter(col("jac_pct") >= minJacPct)
          .select(col("new_id").as("id")).distinct(),
        Seq("id"), "left_anti"))

  /** Exact n-gram Jaccard similarity between two shingle arrays. Integer
    * set sizes + one double division — cross-engine deterministic. */
  def jaccard(aShingles: Column, bShingles: Column): Column = {
    val inter = size(array_intersect(array_distinct(aShingles), array_distinct(bShingles)))
    val union = size(array_union(aShingles, bShingles))
    inter.cast("double") / union.cast("double")
  }

  /**
   * SimHash (width-`bits` locality-sensitive digest): per bit position b,
   * sum +1/-1 over token hashes' bit b; bit set iff the sum is positive.
   * Near-dup docs differ in few bits (small hamming distance). Map-only;
   * the expression is generated per bit but evaluates one token-hash array.
   */
  def simhash(text: Column, bits: Int = 32): Column = {
    val hashes = transform(TextOps.tokens(text), t => Hashing.portableLong(t))
    (0 until bits).map { b =>
      val bitSum = aggregate(hashes, lit(0L),
        (acc, h) => acc + (shiftright(h, b).bitwiseAND(1) * 2 - 1))
      when(bitSum > 0, lit(1L << b)).otherwise(lit(0L))
    }.reduce(_ + _)
  }

  /**
   * SimHash, kernel form (same rationale as [[minhashSignatures]]): one
   * md5 per token occurrence, bit votes summed in-row — map-only, no
   * explode, no shuffle. Returns (id, simhash).
   */
  def simhashTable(df: DataFrame, idCol: String, textCol: String,
                   bits: Int = 32): DataFrame =
    df.select(col(idCol).as("id"),
      graft.functions.TextRuns.simhash64(col(textCol), bits).as("simhash"))

  /** Hamming distance between two simhashes. */
  def hamming(a: Column, b: Column): Column = bit_count(a.bitwiseXOR(b))

  /**
   * SimHash banded near-dup candidates — the simhash JOIN path: split the
   * `bits`-wide simhash into `bands` equal chunks; documents sharing any
   * (band, chunk) bucket are candidates (pigeonhole guarantee: any pair
   * within `bands − 1` differing bits shares at least one band), and
   * exact hamming distance at or under `maxHam` confirms. Candidate
   * generation is a bucket join on small integer keys — never all-pairs —
   * the same scale shape as MinHash LSH with cheaper signatures.
   * Returns (id_a, id_b, hamming).
   *
   * Size the bands with [[simhashBandPlan]]. Note the OUTPUT shape is the
   * other scale knob: on a dup-dense corpus the true pair list itself is
   * Ω(Σ group²) — a 100-way duplicate group has 4,950 pairs (measured:
   * the 100× corpus holds 1.22e9 genuine pairs). Downstream should
   * consume [[dupClusters]] labels + the q117 removal predicate (linear
   * in group size), not materialized pair lists.
   */
  /**
   * Band plan for a corpus of n docs: completeness for hamming ≤ maxHam
   * needs bands = maxHam + 1 (pigeonhole), and the band width is the knob
   * that keeps the bucket join LINEAR as the corpus grows — buckets per
   * band number 2^w, so expected occupancy is n/2^w and candidate pairs
   * per band grow ~n²/2^w; holding occupancy near a constant (~16) needs
   * w ≈ log2(n/16). 8-bit bands are right at 10⁴-10⁵ docs and start
   * going quadratic past ~10⁶ (measured: see NOTES 100× table); corpus
   * scale wants 15-bit bands on the 60-bit simhash. Width is capped so
   * bands·w ≤ 60: the signature kernel ([[graft.functions.TextRuns]]
   * simhash64) derives each plane from md5Long's 60 meaningful bits, so a
   * 64-bit plan would both trip the kernel's bits ≤ 63 require and spend
   * band width on degenerate always-zero planes.
   */
  def simhashBandPlan(n: Long, maxHam: Int): (Int, Int) = {
    require(maxHam >= 0 && maxHam <= 7, s"maxHam out of range: $maxHam")
    val bands = maxHam + 1
    val occ = math.max(1L, n / 16)
    val log2ceil = 64 - java.lang.Long.numberOfLeadingZeros(math.max(1L, occ - 1))
    val w = math.min(60 / bands, math.max(8, log2ceil))
    (bands * w, bands)
  }

  /**
   * @param maxBucket degenerate-bucket cap, same contract as
   *   [[lshCandidates]]: buckets above it are dropped whole (members
   *   still pair through their other bands). 0 disables — the declared
   *   gates run uncapped to keep their pinned outputs, but NOTE that
   *   uncapped is UNSAFE at corpus scale: one identical-text flood bucket
   *   holds its whole quadratic pair list in a single row value
   *   (Ω(Σ group²) — the measured 1.22e9-pair pathology), and the pair
   *   kernel fails loud rather than overflow. Production pipelines run
   *   exact dedup first and set a cap.
   */
  def simhashCandidates(sh: DataFrame, bits: Int, bands: Int,
                        maxHam: Int, maxBucket: Int = 0): DataFrame = {
    require(bands >= 1 && bits % bands == 0)
    val w = bits / bands
    val mask = (1L << w) - 1
    val banded = sh.select(col("id"), col("simhash"),
      explode(array((0 until bands).map { b =>
        struct(lit(b).as("band"),
          shiftright(col("simhash"), b * w).bitwiseAND(lit(mask)).as("chunk"))
      }: _*)).as("bc"))
      .select(col("id"), col("simhash"),
        col("bc.band").as("band"), col("bc.chunk").as("chunk"))
    // r20 (the q65 bucket-local reshape): ONE (band, chunk) exchange and
    // per-bucket pair generation through a codegen'd kernel — the banded
    // self-join + distinct shuffled every candidate pair twice (898 MB at
    // the 100× point) and materialized far pairs the maxHam filter then
    // discarded. Identical output: same buckets → same pairs, hamming is
    // a pure function of the pair, and filtering before the distinct
    // commutes with it.
    banded.groupBy("band", "chunk")
      .agg(collect_list(struct(col("id").as("id"),
        col("simhash").as("h"))).as("ms"))
      .filter(size(col("ms")) > 1 &&
        (if (maxBucket <= 0) lit(true) else size(col("ms")) <= maxBucket))
      .select(explode(
        graft.functions.PairKernels.bucketHamPairs(col("ms"), maxHam)).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.hamming").as("hamming"))
      .distinct()
  }

  /**
   * Duplicate clustering: connected components over the candidate-pair
   * graph (LSH edges), so each near-dup GROUP keeps one canonical doc —
   * the endgame of corpus dedup. Alternating LARGE-STAR/SMALL-STAR
   * contraction (Kiveris et al., "Connected Components in MapReduce and
   * Beyond"): each round hooks every node to the minimum of its
   * neighborhood, flattening trees aggressively, so convergence is
   * O(log² n) rounds even on pathological chains — where plain label
   * propagation needs O(diameter). Each star op is one aggregation + one
   * join, both shuffling on the node id (AQE co-partitions them).
   */
  def dupClusters(nodes: DataFrame, edges: DataFrame, maxIter: Int = 20,
                  localEdgeThreshold: Long = 1000000L): DataFrame = {
    // each round references the previous frame several times (window + both
    // union directions), so lineage grows multiplicatively — localCheckpoint
    // TRUNCATES the plan per round (cache alone would not). r21: the
    // checkpoints are LAZY — the action that already has to read each
    // round's fixpoint signature materializes them, so neither the entry
    // sizing count nor any round pays a separate materialization pass.
    var e = edges.select(col("id_a").as("u"), col("id_b").as("v"))
      .filter(col("u") =!= col("v")).distinct().localCheckpoint(false)
    // ADAPTIVE SHORT-CIRCUIT: the candidate-pair graph is orders of
    // magnitude smaller than the corpus (it exists only where LSH found
    // collisions). When the deduped edge set fits trivially on the driver,
    // α(E) union-find there beats O(log² n) distributed rounds of fixed
    // job overhead; the labels broadcast back (small by the same argument).
    // Past the threshold — the genuine 100 TB regime — the star-contraction
    // loop below takes over. Same decision AQE makes join-side: plan by
    // measured size, not hope.
    val edgeCount = e.count() // one action: sizes the short-circuit AND
    // materializes the entry checkpoint
    if (edgeCount <= localEdgeThreshold) return localUnionFind(nodes, e)
    var prevSig: (Long, Long) = (-1L, -1L)
    var iter = 0
    var done = edgeCount == 0L
    while (!done && iter < maxIter) {
      // one alternating LARGE-STAR / SMALL-STAR round (r21 reshape: each
      // star op attaches the neighborhood minimum through a window over
      // the SAME u-keyed exchange the old groupBy(min) + join pair paid
      // for twice — guide §2.4, operations keyed the same way share one
      // exchange; per half-round the plan is one Exchange+sort instead
      // of three Exchanges and a sort-merge join)
      val next = starHalf(starHalf(e, large = true), large = false)
        .localCheckpoint(false)
      // fixpoint signature: edge count + sum of endpoints (both stable
      // exactly when the star forest stops changing). This one action
      // also materializes the round's checkpoint.
      val sigRow = next.agg(count(lit(1)), sum(col("u") + col("v"))).head()
      val sig = (sigRow.getLong(0), if (sigRow.isNullAt(1)) 0L else sigRow.getLong(1))
      e = next
      iter += 1
      if (sig == prevSig) done = true
      else if (sig._1 <= localEdgeThreshold)
        // r21: contraction shrinks the frontier geometrically — once the
        // edge set fits the driver, finish with the exact α(E) union-find
        // instead of paying more distributed rounds. Star ops preserve
        // connected components and never drop a member of a ≥2-node
        // component, so CC(e) at any round equals CC(input) — the same
        // invariant the post-loop extraction itself relies on when
        // maxIter stops the loop early.
        return localUnionFind(nodes, e)
      prevSig = sig
    }
    // at the fixpoint every edge points u→component-min; isolated nodes
    // label themselves
    val parents = e.unionByName(e.select(col("v").as("u"), col("u").as("v")))
      .groupBy("u").agg(min(col("v")).as("p"))
    nodes.select(col("id"))
      .join(parents.withColumnRenamed("u", "id"), Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("p"), col("id"))).as("comp"))
  }

  /** One star half-round over a symmetric-closed edge frame: every node's
    * strictly-larger (large star) or ≤ (small star) neighbors re-hook to
    * the minimum of its closed neighborhood, and the node itself hooks
    * there too. The min attaches via a whole-partition window so the
    * u-keyed exchange is paid ONCE (the former groupBy(min) + join shape
    * shuffled the 2|E| frame by u twice per half-round); the hook branch
    * emits (u, m) per ROW instead of per group — duplicates are
    * co-partitioned and collapse in the distinct's map-side partial
    * aggregation, so the emitted edge SET is identical. */
  private def starHalf(in: DataFrame, large: Boolean): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val n = in.unionByName(in.select(col("v").as("u"), col("u").as("v")))
    val withM = n.withColumn("m",
      least(col("u"), min(col("v")).over(Window.partitionBy(col("u")))))
    val rehooked =
      (if (large) withM.filter(col("v") > col("u"))
       else withM.filter(col("v") <= col("u")))
        .select(col("v").as("u"), col("m").as("v"))
    rehooked.unionByName(withM.select(col("u"), col("m").as("v")))
      .filter(col("u") =!= col("v")).distinct()
  }

  /** Driver-side exact α(E) union-find over a collected edge frame —
    * the [[dupClusters]] short-circuit: labels = min id per component,
    * isolated nodes label themselves (identical to the distributed
    * extraction at the star fixpoint). */
  private def localUnionFind(nodes: DataFrame, e: DataFrame): DataFrame = {
    val parent = collection.mutable.Map.empty[Long, Long]
    def find(x: Long): Long = {
      var r = x
      while (parent.getOrElse(r, r) != r) r = parent(r)
      var c = x // path compression
      while (parent.getOrElse(c, c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    e.select(col("u"), col("v")).collect().foreach { row =>
      val (ra, rb) = (find(row.getLong(0)), find(row.getLong(1)))
      if (ra != rb) parent(math.max(ra, rb)) = math.min(ra, rb)
    }
    val labels = parent.keys.map(x => (x, find(x))).toSeq
    if (labels.isEmpty) return nodes.select(col("id"), col("id").as("comp"))
    val spark = nodes.sparkSession
    import spark.implicits._
    val labelDf = labels.toDF("id", "p")
    nodes.select(col("id"))
      .join(broadcast(labelDf), Seq("id"), "left")
      .select(col("id"), least(col("id"), coalesce(col("p"), col("id"))).as("comp"))
  }

  /**
   * Production dedup path for dup-DENSE corpora: cluster labels straight
   * from band buckets, never materializing the global candidate-pair list.
   * The pair-based path ([[lshCandidates]] → verify → [[dupClusters]])
   * emits a quadratic clique per bucket — the measured 100× blow-up on a
   * dup-dense corpus was 1.22e9 pairs for star-shaped duplication that
   * only needed linear edges. Here each (band, band_sig) bucket runs a
   * LOCAL union-find over Jaccard-VERIFIED pairs (with a
   * skip-if-already-connected check, so a bucket of m near-identical docs
   * costs m−1 verifications, not m²/2) and emits one star edge per member
   * to its local component's min id.
   *
   * Connectivity proof of q67-parity: the global verified-pair graph is
   * the union over buckets of each bucket's verified edges; a bucket's
   * local components partition exactly those edges, and the emitted star
   * connects precisely the members of each local component — so the union
   * of bucket stars has the same connected components as the union of
   * verified cliques, and [[dupClusters]] over the stars yields identical
   * labels. Edge volume is bounded by the BANDED row count (n × bands),
   * never by pair density.
   *
   * Scale shape: one shuffle on (band, band_sig) carrying (id, sh) — the
   * same columns the pair path ships to its two verification joins — then
   * per-bucket work bounded by `maxBucket`, then the star CC. Raw text
   * never shuffles.
   */
  /** Banded (id, sh, band, band_sig) table from [[minhashAnalyzed]] output,
    * with the degenerate-bucket cap (0 disables) — the shared first stage
    * of the labels-not-pairs and incremental-admission paths. */
  def bandedTable(an: DataFrame, k: Int, bands: Int, maxBucket: Int): DataFrame = {
    val banded0 = an.select(col("id"), col("sh"),
        explode(lshBands(col("sig"), k, bands)).as("b"))
      .select(col("id"), col("sh"),
        col("b.band").as("band"), col("b.sig").as("band_sig"))
    if (maxBucket <= 0) banded0
    else {
      import org.apache.spark.sql.expressions.Window
      banded0.withColumn("_bsz",
          count(lit(1)).over(Window.partitionBy(col("band"), col("band_sig"))))
        .filter(col("_bsz") <= maxBucket).drop("_bsz")
    }
  }

  /**
   * Per-bucket EXACT-JACCARD candidate scoring — the r20 shuffle fix for
   * the pair-REPORT path (q65/q67's scored-candidate table). The old
   * shape generated (id_a, id_b) pairs from a slim banded table, then
   * JOINED the shingle-set table back twice to compute jac — the second
   * join shuffles (pairs × sh-array) bytes, the measured 7.2 GB at the
   * 100× point (candidate pairs outnumber docs on a dup-dense corpus).
   * Here the shingle sets ride the banded rows into ONE
   * (band, band_sig) exchange (bands × |sh| bytes ≈ corpus-linear), each
   * bucket scores its own pairs locally, and only (id_a, id_b, jac)
   * triples shuffle for the global distinct — guide §8: move the heavy
   * bytes once, decide locally, ship the decision.
   *
   * Result-identical to the join form: a bucket's pairs are exactly the
   * banded self-join's matches (same cap, same id ordering), jac is the
   * same merge-count over the SAME sorted-distinct hash sets with the
   * division in the same IEEE op, and a pair colliding in several bands
   * computes the identical triple, so the distinct collapses it exactly
   * as before (pinned by LshScoredPairsSpec).
   *
   * `banded` must carry (id, sh, band, band_sig) with `sh` sorted
   * distinct ([[minhashAnalyzed]] output). The cap drops whole buckets
   * above `maxBucket` members (0 disables), counting every member like
   * the window form did.
   */
  def bucketScoredPairs(banded: DataFrame, maxBucket: Int): DataFrame =
    banded
      .groupBy("band", "band_sig")
      .agg(collect_list(struct(col("id").as("id"), col("sh").as("sh"))).as("ms"))
      .filter(size(col("ms")) > 1 &&
        (if (maxBucket <= 0) lit(true) else size(col("ms")) <= maxBucket))
      // columnar pair generation: one kernel call per bucket, primitive
      // merges — a typed-Dataset flatMap here boxed every shingle set
      // and dominated the 100× wall time
      .select(explode(graft.functions.PairKernels.bucketPairs(col("ms"))).as("p"))
      .select(col("p.id_a").as("id_a"), col("p.id_b").as("id_b"),
        col("p.jac").as("jac"))
      .distinct()

  /** Per-bucket verified star edges (see [[lshClusterLabels]]). */
  def bucketStars(banded: DataFrame, minJac: Double): DataFrame = {
    val spark = banded.sparkSession
    import spark.implicits._
    banded
      .groupBy("band", "band_sig")
      .agg(collect_list(struct(col("id").as("id"), col("sh").as("sh"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(col("ms"))
      .as[Seq[LshBucketMember]]
      .flatMap(ms => localVerifiedStars(ms, minJac))
      .toDF("id_a", "id_b")
      .distinct()
  }

  def lshClusterLabels(df: DataFrame, idCol: String, textCol: String,
                       shingleN: Int = 3, k: Int = 12, bands: Int = 4,
                       maxBucket: Int = 500, minJac: Double = 0.5): DataFrame = {
    val an = minhashAnalyzed(df, idCol, textCol, shingleN, k)
    val starEdges = bucketStars(bandedTable(an, k, bands, maxBucket), minJac)
    dupClusters(df.select(col(idCol).as("id")), starEdges)
  }

  /**
   * Incremental admission for the labels path: edges a NEW batch adds to
   * an existing cluster labeling, without re-verifying the index against
   * itself. Buckets untouched by the batch contribute nothing; within a
   * touched bucket only NEW-involving pairs verify (new×old and new×new —
   * the old members' mutual connectivity is already carried by the
   * persisted [[bucketStars]] edges), and each local component emits star
   * edges. CC over (old stars ∪ these edges) equals CC over the full
   * recompute's verified graph: a new doc that bridges two old clusters
   * contributes verified edges to members of both, and the bridge rides
   * the star.
   *
   * Scale shape: the new batch's bands broadcast against the index's
   * banded table (a batch is small against a 100 TB index — the
   * [[incrementalMatches]] argument); per-bucket work is bounded by
   * (new-in-bucket × bucket size) with the index side capped at build.
   */
  def admitEdges(indexBanded: DataFrame, newBanded: DataFrame,
                 minJac: Double = 0.5): DataFrame = {
    val spark = indexBanded.sparkSession
    import spark.implicits._
    val touched = broadcast(newBanded.select("band", "band_sig").distinct())
    val tagged = indexBanded.join(touched, Seq("band", "band_sig"))
      .select(col("id"), col("sh"), col("band"), col("band_sig"),
        lit(false).as("is_new"))
      .unionByName(newBanded.select(col("id"), col("sh"), col("band"),
        col("band_sig"), lit(true).as("is_new")))
    tagged
      .groupBy("band", "band_sig")
      .agg(collect_list(struct(col("id").as("id"), col("sh").as("sh"),
        col("is_new").as("is_new"))).as("ms"))
      .filter(size(col("ms")) > 1)
      .select(col("ms"))
      .as[Seq[LshAdmitMember]]
      .flatMap(ms => localAdmitStars(ms, minJac))
      .toDF("id_a", "id_b")
      .distinct()
  }

  /** Local (per-bucket) verified union-find → star edges to each
    * component's min id. Members arrive with SORTED distinct shingle
    * hashes, so Jaccard is a merge-count; pairs already connected are
    * skipped before any shingle work. */
  private[operators] def localVerifiedStars(
      ms: Seq[LshBucketMember], minJac: Double): Iterator[(Long, Long)] =
    localStars(ms.map(m => (m.id, m.sh)), minJac, (_, _) => true)

  /** Admission variant: only NEW-involving pairs are eligible to verify. */
  private[operators] def localAdmitStars(
      ms: Seq[LshAdmitMember], minJac: Double): Iterator[(Long, Long)] = {
    val sorted = ms.sortBy(_.id)
    val isNew = sorted.map(_.is_new).toArray
    localStars(sorted.map(m => (m.id, m.sh)), minJac,
      (i, j) => isNew(i) || isNew(j))
  }

  /** Local (per-bucket) verified union-find → star edges to each
    * component's min id. Members arrive with SORTED distinct shingle
    * hashes, so Jaccard is a merge-count; pairs already connected (or not
    * `eligible`) are skipped before any shingle work. `eligible` indexes
    * into the id-sorted member order. */
  private def localStars(members: Seq[(Long, Seq[Long])], minJac: Double,
                         eligible: (Int, Int) => Boolean): Iterator[(Long, Long)] = {
    val arr = members.sortBy(_._1).toArray
    val n = arr.length
    val parent = Array.tabulate(n)(identity)
    def find(x: Int): Int = {
      var r = x
      while (parent(r) != r) r = parent(r)
      var c = x
      while (parent(c) != r) { val nx = parent(c); parent(c) = r; c = nx }
      r
    }
    def jacOk(a: Array[Long], b: Array[Long]): Boolean = {
      var i = 0; var j = 0; var inter = 0
      while (i < a.length && j < b.length) {
        if (a(i) == b(j)) { inter += 1; i += 1; j += 1 }
        else if (a(i) < b(j)) i += 1
        else j += 1
      }
      val union = a.length + b.length - inter
      union > 0 && inter.toDouble / union.toDouble >= minJac
    }
    val shs = arr.map(_._2.toArray)
    var i = 0
    while (i < n) {
      var j = i + 1
      while (j < n) {
        if (eligible(i, j)) {
          val (ri, rj) = (find(i), find(j))
          if (ri != rj && jacOk(shs(i), shs(j)))
            parent(math.max(ri, rj)) = math.min(ri, rj)
        }
        j += 1
      }
      i += 1
    }
    // arr is id-sorted and unions keep the min index as root, so a
    // component's root index holds its min id
    (0 until n).iterator.flatMap { x =>
      val r = find(x)
      if (r == x) Iterator.empty else Iterator((arr(r)._1, arr(x)._1))
    }
  }

  /**
   * Priority-aware removal policy: within each duplicate cluster keep the
   * member with the highest `priority` (curated > crawled), ties broken
   * by smallest id. The (priority desc, id asc) order folds into ONE
   * integer max key — priority·2³⁰ + (2³⁰−1−id) — so survivor selection
   * is a partial-aggregable groupBy on the cluster label (map-side
   * combine collapses big clusters before the shuffle) and the tiny
   * survivor table broadcasts back onto the corpus; no window function
   * ever sees the full corpus. Requires ids and priorities < 2³⁰.
   *
   * Returns the labeled corpus with an integer `kept` flag (1 = survivor).
   */
  def keepByPriority(labels: DataFrame, docs: DataFrame, idCol: String,
                     priority: Column): DataFrame = {
    val Big = 1073741824L // 2^30
    val withP = labels.join(docs, labels("id") === docs(idCol))
      .drop(idCol)
      .withColumn("_prio", priority.cast("long"))
    val best = withP.groupBy("comp")
      .agg(max(col("_prio") * Big + (lit(Big - 1) - col("id"))).as("_bk"))
      .select(col("comp"), (lit(Big - 1) - pmod(col("_bk"), lit(Big))).as("_keep_id"))
    withP.join(broadcast(best), "comp")
      .withColumn("kept", (col("id") === col("_keep_id")).cast("int"))
      .drop("_bk", "_keep_id", "_prio")
  }

  /**
   * EXACT set-similarity self-join by prefix filtering (the
   * PPJoin/AllPairs family — Bayardo et al. 2007, Xiao et al. 2008):
   * every pair with shingle-set Jaccard ≥ tNum/tDen is found with NO
   * approximation. The guarantee: order each doc's shingles by (global
   * df asc, value asc); if jac(A,B) ≥ t, the two docs MUST share a
   * shingle among their first |s| − ceil(t·|s|) + 1 (the prefix —
   * pigeonhole over the consistent global order), so bucketing on prefix
   * shingles alone is candidate-complete. Candidates then verify with
   * the exact integer test tDen·|A∩B| ≥ tNum·|A∪B|.
   *
   * The exact complement to the approximate tiers: q65 (MinHash LSH)
   * trades recall for fewer buckets, q182 (winnowing) pins positional
   * runs — this one misses NOTHING above t, at the cost of bucketing on
   * rare shingles (prefix size ≈ (1−t)·|s|+1, so high thresholds stay
   * cheap). Plan: one (id, shingle) shuffle ranks prefixes (df joins the
   * bounded shingle-vocab table), the candidate join buckets on prefix
   * shingles only, verification touches candidate pairs' in-row sets.
   * Returns (a, b, inter, uni, jac_ppm).
   *
   * DUP-DENSE CAUTION (the q65/q150 lesson, measured at the 100× point):
   * the TRUE pair list on a dup-dense corpus is Ω(Σ group²) — a 100-copy
   * group contributes 4,950 pairs no matter how exactly they're found.
   * When consuming dedup decisions (not the pair report), run exact
   * dedup FIRST (`exactKey`), then feed these verified pairs into
   * [[dupClusters]]/`lshClusterLabels`-style star edges instead of
   * materializing the full pair table.
   */
  def prefixFilterJoin(docs: DataFrame, idCol: String, textCol: String,
                       n: Int, tNum: Long, tDen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tNum <= tDen)
    val sh = docs.select(col(idCol).as("id"),
      graft.functions.TextRuns.shingleHashes(col(textCol), n).as("sh"))
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val wSize = Window.partitionBy(col("id"))
    // prefix length = sz − ceil(t·sz) + 1, all integer
    val ceilT = VectorOps.floorDiv(
      lit(tNum) * col("sz") + (tDen - 1L), lit(tDen))
    val pref = ex.join(dfTab, Seq("s"))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("sz", count(lit(1)).over(wSize))
      .filter(col("rnk") <= col("sz") - ceilT + 1L)
      .select(col("id"), col("s"))
    val cand = pref.select(col("s"), col("id").as("a"))
      .join(pref.select(col("s"), col("id").as("b")), Seq("s"))
      .filter(col("a") < col("b"))
      .select("a", "b").distinct()
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
    val uni = size(array_union(col("sha"), col("shb"))).cast("long")
    cand
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("inter", inter).withColumn("uni", uni)
      .filter(lit(tDen) * col("inter") >= lit(tNum) * col("uni"))
      .select(col("a"), col("b"), col("inter"), col("uni"),
        VectorOps.floorDiv(lit(1000000L) * col("inter"), col("uni"))
          .as("jac_ppm"))
  }

  /**
   * DIRECTED set-containment self-join by asymmetric prefix filtering
   * (the JOSIE/quote-detection shape): every ordered pair (a, b), a ≠ b,
   * with C(a→b) = |Sa∩Sb| / |Sa| ≥ tNum/tDen — "a's shingles are
   * t-contained in b" — found exactly. The asymmetric prefix principle:
   * order a's shingles by global (df, value); if C(a→b) ≥ t then a's
   * first |Sa| − ⌈t·|Sa|⌉ + 1 shingles must hit Sb (pigeonhole — more
   * than (1−t)·|Sa| misses are impossible), so candidates join the
   * QUERY-side prefix against the corpus-wide posting list, and only
   * the query side shrinks with t. Verification is the integer test
   * tDen·|∩| ≥ tNum·|Sa|. Unlike [[prefixFilterJoin]] (symmetric
   * Jaccard) this finds strict-superset relations Jaccard misses: a
   * short doc fully quoted inside a long one has C = 1 but tiny
   * Jaccard. Returns (a, b, inter, size_a, cont_ppm).
   */
  def containmentJoin(docs: DataFrame, idCol: String, textCol: String,
                      n: Int, tNum: Long, tDen: Long): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    require(tNum > 0 && tNum <= tDen)
    val sh = docs.select(col(idCol).as("id"),
      graft.functions.TextRuns.shingleHashes(col(textCol), n).as("sh"))
    val ex = sh.select(col("id"), explode(col("sh")).as("s"))
    val dfTab = ex.groupBy("s").agg(count(lit(1)).as("df"))
    val wRank = Window.partitionBy(col("id")).orderBy(col("df"), col("s"))
    val wSize = Window.partitionBy(col("id"))
    val ceilT = VectorOps.floorDiv(
      lit(tNum) * col("sz") + (tDen - 1L), lit(tDen))
    val pref = ex.join(dfTab, Seq("s"))
      .withColumn("rnk", row_number().over(wRank))
      .withColumn("sz", count(lit(1)).over(wSize))
      .filter(col("rnk") <= col("sz") - ceilT + 1L)
      .select(col("id"), col("s"))
    val cand = pref.select(col("s"), col("id").as("a"))
      .join(ex.select(col("s"), col("id").as("b")), Seq("s"))
      .filter(col("a") =!= col("b"))
      .select("a", "b").distinct()
    val inter = size(array_intersect(col("sha"), col("shb"))).cast("long")
    cand
      .join(sh.select(col("id").as("a"), col("sh").as("sha")), Seq("a"))
      .join(sh.select(col("id").as("b"), col("sh").as("shb")), Seq("b"))
      .withColumn("inter", inter)
      .withColumn("size_a", size(col("sha")).cast("long"))
      .filter(lit(tDen) * col("inter") >= lit(tNum) * col("size_a"))
      .select(col("a"), col("b"), col("inter"), col("size_a"),
        VectorOps.floorDiv(lit(1000000L) * col("inter"), col("size_a"))
          .as("cont_ppm"))
  }

  /** DuckDB SQL twins (keep in lockstep with the Column builders). */
  /**
   * Batch twin of Structured Streaming's `dropDuplicatesWithinWatermark`:
   * per key (events ordered by event time, id tie-break), the FIRST event
   * is kept and anchors a suppression window of `delta` — later events
   * inside it drop WITHOUT extending it (dropped duplicates don't keep
   * state alive); the first event at or past anchor+delta is kept and
   * becomes the new anchor. That anchor-chain is exactly the state SS
   * holds per key with a `delta` watermark gap: StreamingSpec runs the
   * real streaming operator over the same events and pins equality with
   * this fold.
   *
   * Scale shape: one shuffle by key, per-group state is one long, groups
   * stream through `flatMapSortedGroups` (spill-safe sorted iterators) —
   * the same shape SS uses for its dedup state store. Returns the kept
   * (key, ts, id) rows; join back on id for full payloads.
   */
  def dedupWithinDelta(df: DataFrame, keyCols: Seq[String], tsCol: String,
      idCol: String, delta: Long): DataFrame = {
    require(delta > 0, s"delta: $delta")
    val spark = df.sparkSession
    import spark.implicits._
    // INJECTIVE NULL-safe key encoding: concat_ws silently DROPS null
    // slots, and raw concatenation would let a value containing the
    // separator shift content between slots — so every slot carries a
    // present/null marker AND values escape the escape byte (\u0003) and
    // the separator (\u0001) before joining. Distinct key tuples now map
    // to distinct strings; plain numeric keys stay castable.
    val keyParts = keyCols.map { c0 =>
      val escaped = regexp_replace(
        regexp_replace(col(c0), "\u0003", "\u0003\u0003"),
        "\u0001", "\u0003\u0001")
      when(col(c0).isNull, "\u0000")
        .otherwise(concat(lit("\u0002"), escaped))
    }
    df.select(concat_ws("\u0001", keyParts: _*).as("k"),
        col(tsCol).cast("long").as("ts"), col(idCol).cast("long").as("id"))
      .as[(String, Long, Long)]
      .groupByKey(_._1)
      .flatMapSortedGroups($"ts", $"id") { case (_, it) =>
        var anchor = Long.MinValue
        it.flatMap { case (k, ts, id) =>
          if (anchor == Long.MinValue || ts >= anchor + delta) {
            anchor = ts; Some((k, ts, id))
          } else None
        }
      }
      .toDF("k", "ts", "id")
  }

  object Sql {
    def shingles(e: String, n: Int): String = {
      val toks = TextOps.Sql.tokens.format(e)
      s"CASE WHEN len($toks) >= $n THEN " +
        s"[array_to_string(($toks)[i:i+${n - 1}], ' ') FOR i IN range(1, len($toks) - ${n - 2})] " +
        s"ELSE [$e] END"
    }
    def exactKey(e: String): String =
      Hashing.Sql.portableLong(s"regexp_replace(lower($e), '\\s+', ' ', 'g')")
    def minhash(shinglesE: String, k: Int): String = {
      val mins = (0 until k).map { seed =>
        s"list_min([${Hashing.Sql.seededMix(Hashing.Sql.portableLong("s"), seed)} " +
          s"FOR s IN ($shinglesE)])"
      }
      mins.mkString("[", ", ", "]")
    }
    def jaccard(aE: String, bE: String): String =
      s"CAST(len(list_intersect(list_distinct($aE), list_distinct($bE))) AS DOUBLE)" +
        s" / CAST(len(list_distinct($aE || $bE)) AS DOUBLE)"
    def simhash(e: String, bits: Int = 32): String = {
      val hashes = s"[${Hashing.Sql.portableLong("t")} FOR t IN ${TextOps.Sql.tokens.format(e)}]"
      (0 until bits).map { b =>
        s"(CASE WHEN list_sum([((h >> $b) & 1) * 2 - 1 FOR h IN ($hashes)]) > 0 " +
          s"THEN ${1L << b} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
  }
}
