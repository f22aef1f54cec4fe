package graft

/**
 * Plan-SHAPE regression gates: the five load-bearing physical-plan
 * properties behind the per-round scale audit, asserted in CI so a future
 * change that un-pushes a filter, drops a map-side limit, or degrades a
 * broadcast join to a sort-merge join fails `sbt test` instead of waiting
 * for a judge pass. Checks run on the PRE-execution adaptive plan (the
 * statically chosen shape); counts are exact so any added shuffle is loud.
 */
class PlanShapeSpec extends SparkSpec {

  private def planOf(name: String): String =
    SparkEntry.queries(name)(spark, sf).queryExecution.executedPlan.toString

  /** Shuffle exchanges only (BroadcastExchange is data movement we WANT). */
  private def shuffles(plan: String): Int =
    "(?<!Broadcast)Exchange".r.findAllIn(plan).size

  private def count(plan: String, token: String): Int =
    token.r.findAllIn(plan).size

  test("q234/q235: Gopher kernels stay in-row — one mask-histogram shuffle, codegen span") {
    for (g <- Seq("q234_gopher_quality", "q235_gopher_repetition")) {
      val p = planOf(g)
      // the 9/13-counter kernel runs inside the scan projection; the ONLY
      // exchange is the ≤256-row fail-mask partial-agg pair. A regression
      // to exploded grams/lines would add (doc, value) exchanges here.
      assert(shuffles(p) == 1, s"$g: got ${shuffles(p)} shuffles; plan:\n$p")
      assert(!p.contains("Generate"), s"$g: explode leaked in; plan:\n$p")
    }
  }

  test("q143: rank limit runs map-side (partial WindowGroupLimit below the exchange)") {
    val p = planOf("q143_source_caps")
    // partial + final = 2; a regression to post-shuffle-only limiting
    // leaves 1 and ships every row of every source through the shuffle
    assert(count(p, "WindowGroupLimit") == 2, s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  test("q141: dup table broadcasts; corpus aggregates partially before its shuffle") {
    val p = planOf("q141_passage_dedup")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // two shuffles: the passage-hash partial-agg pair and the dup-table
    // build - raw text reaches neither
    assert(shuffles(p) == 2, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q101: tf-idf joins its small doc-frequency tables by broadcast only") {
    val p = planOf("q101_tfidf")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // r21: 3 shuffles — the DF-table agg pair and the per-doc score agg;
    // the former 4th (the corpus-count 1-row frame's agg feeding a per-row
    // cross join) is now a driver-collected literal and idf_q16 rides the
    // broadcast DF table precomputed
    assert(shuffles(p) == 3, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q93: LM perplexity keeps every gram table broadcast-joined") {
    val p = planOf("q93_lm_perplexity")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // r21: 4 shuffles (uni agg, bi agg, per-doc agg, report agg) — the
    // vocab-count 1-row frame's agg + per-row cross join are gone (the
    // scalar folds as a literal; l2q16 terms ride the broadcast tables)
    assert(shuffles(p) == 4, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q85: IVF centroids broadcast to the probe side; top-k limits map-side") {
    val p = planOf("q85_ivf_search")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // r20: the corpus-side centroid ASSIGNMENT is the NearestCell kernel
    // (a projection — no join, no window). r21: the per-query PROBE
    // selection is the NearestCells top-N kernel — the former
    // crossJoin(queries × cells) (a BroadcastNestedLoopJoin) + row_number
    // window pair is gone, leaving only the in-cell top-k window with its
    // partial+final WindowGroupLimit. A regression back re-adds the
    // nested-loop join or more window group-limits and fails loud.
    assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(count(p, "WindowGroupLimit") == 2, s"plan:\n$p")
    assert(p.toLowerCase.contains("nearestcell"),
      s"kernel assignment missing from plan:\n$p")
    assert(p.toLowerCase.contains("nearestcells"),
      s"probe-cells kernel missing from plan:\n$p")
  }

  test("q156: HLL runs ONE explode into one gram shuffle; branches read the cache") {
    // r17 restructure (the q216 disease, 2× here): the corpus explode now
    // lands in a single (h, multiplicity) aggregation that the register
    // build AND the exact counts both read; the builder materializes the
    // 1-row result, so the returned plan is a cache read whose embedded
    // executed build shows the shared hash table participating as
    // TableCacheQueryStage. Shuffle counts over the printed tree are not
    // usable post-caching (InMemoryTableScan re-prints lineage per
    // mention) — the cache-participation pin is the regression guard.
    val p = planOf("q156_hll_distinct")
    assert(p.linesIterator.take(2).mkString("\n").contains("InMemoryTableScan"),
      s"plan root is not a cache read:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(count(p, "TableCacheQueryStage") >= 2,
      s"shared gram table did not participate; plan:\n$p")
  }

  test("q158: PR sweep aggregates the histogram BEFORE the threshold fan-out") {
    val p = planOf("q158_pr_curve")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // exactly two shuffles: the (score,label) histogram partial agg and the
    // 11-row sweep agg; thresholds broadcast. A regression that sweeps the
    // raw corpus 11x adds corpus-scale exchanges and fails here
    assert(shuffles(p) == 2, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q160: coverage ranks the gram table, never reshuffling the corpus") {
    val p = planOf("q160_vocab_coverage")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // gram-count partial agg + the vocab-table window exchange; the final
    // 3-row agg rides the window's single partition and the V-values side
    // broadcasts. The corpus-scale gram agg appears ONCE — a split totals
    // subtree would double-scan it
    assert(shuffles(p) == 2, s"got ${shuffles(p)} shuffles; plan:\n$p")
    assert(count(p, "Scan parquet") == 1, s"plan:\n$p")
  }

  test("q162: BM25 scoring is map-only with a TakeOrdered top-k (no sort exchange)") {
    val p = planOf("q162_bm25")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // the model is plan literals: the scoring subtree has NO join and NO
    // aggregation exchange — zero shuffles, or someone reintroduced a
    // corpus-scale stats join into the serving path
    assert(shuffles(p) == 0, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q163: the range predicate reaches both parquet scans pushed") {
    import graft.diff.ChunkDiff
    import graft.core.Tables
    val p = ChunkDiff.withRange(Tables.load(spark, sf, "lineitem"),
        "l_orderkey BETWEEN 2000 AND 15000 AND l_quantity > 5")
      .queryExecution.executedPlan.toString
    // the toString elides the tail of long filter lists — assert the
    // stable prefix (both bounds present implies the list reached the scan)
    assert(p.contains("GreaterThanOrEqual(l_orderkey,2000)"), s"plan:\n$p")
    assert(p.contains("PushedFilters: [IsNotNull(l_orderkey), IsNotNull(l_quantity)"),
      s"plan:\n$p")
  }

  test("q167: DSIR scoring joins the lambda table by broadcast only") {
    val p = planOf("q167_dsir_select")
    assert(p.contains("BroadcastHashJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
  }

  /** Distinct shuffle exchanges by plan id — the toString re-renders a
    * shared/cached subtree at every consumer, so raw token counts
    * overcount; plan ids dedupe them. */
  private def distinctShuffles(plan: String): Int =
    "(?<!Broadcast)Exchange\\w* \\S[^\\n]*?plan_id=(\\d+)".r
      .findAllMatchIn(plan).map(_.group(1)).toSet.size

  test("q178: KN scoring keeps all four model tables broadcast-joined") {
    val p = planOf("q178_kneser_ney")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    // r21: six exchanges, ALL on the bounded held-slice model side
    // (bi/ctx/cont agg pairs) plus the final per-doc agg; the two scalar
    // aggs behind B+U are driver-collected before planning and the
    // per-gram cross join is gone. The corpus gram stream itself never
    // exchanges — a regression that shuffle-joins a model table adds a
    // SortMergeJoin and fails above
    assert(distinctShuffles(p) == 6, s"got ${distinctShuffles(p)}; plan:\n$p")
  }

  test("q179: c-tf-idf scores from the CACHED counts table, broadcast f-join") {
    val p = planOf("q179_ctfidf_keywords")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(p.contains("InMemoryTableScan"), s"plan:\n$p") // ctf built once
    // the recurring stage over a persisted counts table: f agg + the
    // countDistinct expand pair + singleton const + the top-k window
    import graft.operators.TfIdf
    import spark.implicits._
    val ctf = TfIdf.classTermCounts(
      Seq((0, "x y"), (1, "y z")).toDF("label", "text"), "label", "text")
      .persist()
    ctf.count()
    val p2 = TfIdf.cTfIdfFromCounts(ctf, "label", 2)
      .queryExecution.executedPlan.toString
    assert(!p2.contains("SortMergeJoin"), s"plan:\n$p2")
    assert(distinctShuffles(p2) == 6, s"got ${distinctShuffles(p2)}; plan:\n$p2")
    ctf.unpersist()
  }

  test("q216: set-algebra witnesses come from the persisted hash sets, not re-explodes") {
    // the r16 weak plan: ha/hb fed five branches unpersisted, so the
    // trigram explode re-ran per branch (~6x the corpus scan). The gate
    // now distinct+persists both sides and materializes its 1-row result
    // inside the builder — the RETURNED plan must be a cache read with no
    // surviving Generate (explode) or parquet scan.
    // the returned node is the cached 1-row result (the builder
    // materialized it before unpersisting the inputs)…
    val p = planOf("q216_hll_setops")
    assert(p.linesIterator.take(2).mkString("\n").contains("InMemoryTableScan"),
      s"plan root is not a cache read:\n$p")
    // …and the embedded EXECUTED build (printed inside the
    // InMemoryRelation as the isFinalPlan=true tree) ran its branches
    // against the two hash-set caches: TableCacheQueryStage nodes exist
    // only when a cache actually participated at execution time — the
    // pre-fix (unpersisted) shape had none. Printed Generate counts are
    // NOT usable here: every InMemoryTableScan re-prints its relation's
    // full lineage, so the explode text repeats per cache mention.
    assert(count(p, "TableCacheQueryStage") >= 2,
      s"hash-set caches did not participate in the executed build; plan:\n$p")
  }

  test("q187: the native as-of rewrite plans NO join — one union-window pass") {
    val p = planOf("q187_asof_native")
    // the whole point of the custom operator: a range join would fan out
    // |events| x |versions-per-key|; the rewrite is union + window + agg.
    // The ONLY join in the gate plan is the 3-row version-table build
    // (distinct tables x version constants) feeding the as-of's right side
    assert(count(p, "Join") == 1, s"plan:\n$p")
    assert(p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    assert(!p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(p.contains("Window"), s"plan:\n$p")
  }

  test("dynamic partition pruning: the dim filter reaches the fact scan") {
    // the star-join 100 TB lever: a selective dimension predicate prunes
    // fact PARTITIONS at runtime. Write a partitioned fact, join through
    // the partition column with a filtered dim, and the fact scan must
    // carry a dynamicpruning subquery instead of reading every partition.
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_dpp").toString
    val prevStats =
      spark.conf.get("spark.sql.optimizer.dynamicPartitionPruning.useStats")
    try {
      // tiny CI fixtures fail DPP's benefit heuristic on stats alone;
      // disabling the stats estimate keeps the structural check about the
      // PATTERN (join through a partition column with a filtered dim)
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", "false")
      spark.range(200000).selectExpr("id AS v", "CAST(id % 10 AS INT) AS part")
        .write.partitionBy("part").parquet(s"$dir/fact")
      (0 until 10).map(i => (i, s"n$i")).toDF("part", "name")
        .write.parquet(s"$dir/dim")
      val fact = spark.read.parquet(s"$dir/fact")
      val dim = spark.read.parquet(s"$dir/dim")
      import org.apache.spark.sql.functions.col
      val p = fact.join(dim.filter(col("name") === "n3"), "part")
        .queryExecution.executedPlan.toString
      assert(p.toLowerCase.contains("dynamicpruning"), s"plan:\n$p")
    } finally {
      spark.conf.set(
        "spark.sql.optimizer.dynamicPartitionPruning.useStats", prevStats)
      graft.core.FileOps.deleteTree(new java.io.File(dir))
    }
  }

  test("bucketed tables co-locate: the fact-fact join plans ZERO shuffles") {
    // the 100 TB fact-fact join story: pre-bucket both tables on the join
    // key and the join needs NO exchange at all — each task zips bucket i
    // with bucket i. (Broadcast disabled so the small fixture doesn't take
    // the broadcast path the real fact-fact case can't use.)
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft_bkt").toString
    val prevThresh = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bkt LOCATION '$dir'")
    try {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      (1 to 1000).map(i => (i.toLong, i * 2L)).toDF("k", "va")
        .write.bucketBy(8, "k").sortBy("k").saveAsTable("bkt.ta")
      (1 to 1000).map(i => (i.toLong, i * 3L)).toDF("k", "vb")
        .write.bucketBy(8, "k").sortBy("k").saveAsTable("bkt.tb")
      val p = spark.table("bkt.ta").join(spark.table("bkt.tb"), "k")
        .queryExecution.executedPlan.toString
      assert(p.contains("SortMergeJoin"), s"plan:\n$p")
      assert(shuffles(p) == 0, s"got ${shuffles(p)} shuffles; plan:\n$p")
      assert(p.contains("SelectedBucketsCount"), s"plan:\n$p")
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThresh)
      spark.sql("DROP DATABASE IF EXISTS bkt CASCADE")
      graft.core.FileOps.deleteTree(new java.io.File(dir))
    }
  }

  test("q193: the binned range join plans an EQUI join — no nested loop, no cartesian") {
    val p = planOf("q193_range_join")
    // the whole point of the rewrite: the keyless range predicate must NOT
    // surface as an O(|P|·|I|) nested-loop/cartesian anywhere in the plan
    assert(!p.contains("CartesianProduct"), s"plan:\n$p")
    assert(!p.contains("BroadcastNestedLoopJoin"), s"plan:\n$p")
    // and the bin-key equi join is really there
    assert(p.contains("HashJoin") || p.contains("SortMergeJoin"), s"plan:\n$p")
    // the naive formulation of the SAME inputs degenerates to a nested loop
    // — the anti-plan this operator exists to avoid
    val (points, intervals) = graft.queries.CoreQueries.rangeJoinInputs(spark, sf)
    import org.apache.spark.sql.functions.col
    val naive = points.join(intervals,
      col("pus") >= col("s_us") && col("pus") < col("e_us"))
      .queryExecution.executedPlan.toString
    assert(naive.contains("BroadcastNestedLoopJoin") ||
      naive.contains("CartesianProduct"), s"plan:\n$naive")
  }

  test("q195: weighted sampling is one map pass + TakeOrdered — zero shuffles") {
    val p = planOf("q195_weighted_sample")
    assert(p.contains("TakeOrderedAndProject"), s"plan:\n$p")
    assert(shuffles(p) == 0, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q212: the per-group sample limit runs map-side (partial WindowGroupLimit)") {
    val p = planOf("q212_stratified_sample")
    assert(count(p, "WindowGroupLimit") == 2, s"plan:\n$p") // partial+final
    assert(shuffles(p) == 1, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q230: the reference-layout CSV encode is map-only (zero shuffles)") {
    // the whole encode — two-row UPDATE assembly included — is one
    // projection over the derived stream; any Exchange here would mean a
    // codec started shuffling the corpus
    val p = planOf("q230_csv_ref_layout")
    assert(shuffles(p) == 0, s"got ${shuffles(p)} shuffles; plan:\n$p")
  }

  test("q224: claim-check encodes map-side — only the stats shuffles") {
    // both modes run the full encode + location + payload per row as pure
    // projections; the two exchanges are the gate's OWN statistics — the
    // count-distinct(loc) expansion plus the final group — each fed by a
    // partial aggregate, never the encoded corpus rows themselves
    val p = planOf("q224_claim_check_raw")
    assert(shuffles(p) == 2, s"got ${shuffles(p)} shuffles; plan:\n$p")
    assert(count(p, "partial_count") >= 1, s"plan:\n$p")
  }

  test("bloom probe joins the bit table by broadcast, never sort-merge") {
    import org.apache.spark.sql.functions._
    import graft.core.Hashing
    import graft.operators.Sketches
    import spark.implicits._
    val base = (1 to 100).map(i => s"k$i").toDF("k")
      .select(Hashing.portableLong(col("k")).as("key"))
    val bits = Sketches.bloomBits(base, "key", 1024L, 3)
    val probe = (1 to 50).map(i => (i.toLong, s"p$i")).toDF("id", "raw")
      .select(col("id"), Hashing.portableLong(col("raw")).as("key"))
    val p = Sketches.bloomProbe(bits, probe, "id", "key", 1024L, 3)
      .queryExecution.executedPlan.toString
    assert(p.contains("BroadcastHashJoin") && !p.contains("SortMergeJoin"),
      s"plan:\n$p")
  }

  test("q263: shard-merge keeps partial-agg checksums and a keyed SMJ, no broadcast of the corpus") {
    val p = planOf("q263_shard_merge")
    // no nested-loop/cartesian anywhere: the full-outer row compare must
    // be a keyed sort-merge join, and every digest path is a partial+final
    // hash-agg over the shard scans — a regression that collects a shard
    // or cross-joins the compare would show here
    assert(!p.contains("BroadcastNestedLoopJoin") && !p.contains("Cartesian"),
      s"plan:\n$p")
    assert(p.contains("SortMergeJoin"), s"plan:\n$p")
    assert(count(p, "HashAggregate") >= 8, s"plan:\n$p")
  }

  test("bootstrap replay: one table-key shuffle feeds the per-table fold") {
    import org.apache.spark.sql.functions._
    import graft.streaming.Bootstrap
    import spark.implicits._
    val ev = Seq(("db", "t", 1000L, 2), ("db", "u", 2000L, 1))
      .toDF("schema_name", "table_name", "ts_ms", "total_partition")
    val p = Bootstrap.sends(ev, Bootstrap.BootstrapConfig(), 10000L)
      .queryExecution.executedPlan.toString
    assert(shuffles(p) == 1, s"got ${shuffles(p)} shuffles; plan:\n$p")
    assert(p.contains("hashpartitioning(schema_name"), s"plan:\n$p")
  }
}
