package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._
import graft.core.Hashing

/**
 * Embedding similarity operators: brute-force cosine top-k (baseline) and
 * hyperplane-LSH bucketed ANN (scale path).
 *
 * Scale design (100 TB): brute-force is O(Q×N) — fine when the query set is
 * small and broadcast (`broadcast(queries)` turns it into a map-only pass
 * over the corpus, no shuffle). The LSH path buckets vectors by random-
 * hyperplane sign signatures, so candidate generation only joins within
 * buckets (shuffle keyed by 16-bit signature ≈ 65k balanced partitionable
 * buckets); multi-probe = also join neighboring signatures.
 *
 * All dot products fold sequentially over the array (zip_with + aggregate in
 * doubles) — deterministic per row and codegen-friendly; no UDFs.
 */
object VectorOps {

  /** Sequential-fold dot product of two float-array columns, in doubles.
    * r20: kernel-backed ([[graft.functions.VectorKernels]]) — the
    * zip_with+aggregate form evaluated interpreted and allocated an
    * intermediate array per call; the kernel is one codegen'd primitive
    * loop with the identical IEEE fold order (bit-equal results, pinned
    * by VectorKernelSpec). */
  def dot(a: Column, b: Column): Column = graft.functions.VectorKernels.dotF(a, b)

  def norm(a: Column): Column = graft.functions.VectorKernels.normF(a)

  def cosine(a: Column, b: Column): Column = dot(a, b) / (norm(a) * norm(b))

  /**
   * Brute-force cosine top-k: join a (small, broadcast) query set against
   * the corpus, rank per query. Deterministic tie-break on neighbor id.
   * Returns (query_id, rank, neighbor_id, cos).
   */
  def bruteForceTopK(queries: DataFrame, corpus: DataFrame, k: Int,
                     idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    // norms are per-vector, not per-pair: computed once on each side before
    // the join (identical IEEE result, O(Q+N) instead of O(Q·N) sqrt work)
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"))
    val scored = broadcast(q).join(c, col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    scored.withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /**
   * Deterministic pseudo-random hyperplane weights for (plane j, dim d):
   * integers in [-1000, 1000] derived from the portable md5 hash of "j_d".
   * Derived ONCE at plan-build time and embedded as literals — the md5s are
   * constants per (plane, dim), so computing them per row (or per query in
   * the oracle) would be pure waste. Same derivation on both engines.
   */
  def hyperplaneWeights(planes: Int, dim: Int): Seq[Seq[Long]] =
    (0 until planes).map { j =>
      (0 until dim).map { d =>
        Hashing.md5Long(s"${j}_$d".getBytes("UTF-8")) % 2001L - 1000L
      }
    }

  /** LSH signature: `planes` sign bits of literal-weight projections.
    * r20: kernel-backed — one pass over the vector computes every plane's
    * projection (same sequential double fold per plane) instead of
    * `planes` interpreted zip_with+aggregate trees. r21: a NULL vector
    * coalesces to signature 0, the legacy when(proj > 0, …).otherwise(0)
    * value — the bare kernel is null-intolerant and would silently move
    * null-embedding docs from bucket 0 to a NULL group. */
  def lshSignature(vec: Column, planes: Int, dim: Int): Column =
    coalesce(
      graft.functions.VectorKernels.lshSig(vec, hyperplaneWeights(planes, dim)),
      lit(0L))

  /** Bucketed ANN: exact cosine ranking restricted to same-signature
    * candidates. Recall < 1 by construction; `planes` trades recall for
    * bucket size. */
  def lshTopK(df: DataFrame, queries: DataFrame, planes: Int, dim: Int, k: Int,
              idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sigd = df.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"),
      norm(col(vecCol)).as("cn"), lshSignature(col(vecCol), planes, dim).as("sig"))
    val sigq = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"), lshSignature(col(vecCol), planes, dim).as("sig"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(sigq).join(sigd, Seq("sig"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /**
   * Fixed-point (2^-20 resolution) vector quantization. Float sums across a
   * shuffle are order-dependent and NOT reproducible; quantizing to integers
   * first makes every downstream aggregate exact and portable. `floor` of a
   * double is IEEE-exact, so quantization itself is deterministic too.
   */
  val QuantScale = 1L << 20
  // r20: kernel-backed (identical floor/cast per element, one codegen'd
  // primitive loop instead of an interpreted transform)
  def quantize(vec: Column): Column =
    graft.functions.VectorKernels.quantize(vec, QuantScale)

  /**
   * int8 unit-sphere quantization: floor(127·x/‖x‖) per element — the
   * values fit a signed byte, so a 100 TB float32 corpus stores and scans
   * at 1/4 size (the PQ-lite memory-bandwidth path; IVF+int8 is the
   * standard billion-vector layout). Ranking by integer dot of quantized
   * vectors approximates cosine order; the quantization itself is one
   * per-row fixed-shape IEEE tree (norm, divide, floor), bit-identical
   * across engines, and everything downstream is exact integer math.
   */
  // Zero-norm guard: x/0 would give NaN→null in Spark but a CAST error in
  // the DuckDB twin — map degenerate vectors to all-zeros in BOTH engines.
  // r20: kernel-backed — the norm computes once per row inside the kernel
  // (the former bind-once transform trick is moot) and the per-element
  // floor(x·127/‖x‖) runs in one codegen'd loop.
  def quantizeInt8(vec: Column): Column =
    graft.functions.VectorKernels.quantizeInt8(vec)

  /** Exact integer dot product of quantized vectors (r20: kernel-backed). */
  def dotQ(a: Column, b: Column): Column =
    graft.functions.VectorKernels.dotQ(a, b)

  /** Portable floor-division: both engines agree because (s - pmod(s,c)) is
    * exactly divisible, and an integer-valued double casts exactly. */
  def floorDiv(s: Column, c: Column): Column =
    ((s - pmod(s, c)) / c).cast("long")

  /**
   * Exact per-group centroids over quantized vectors, the IVF building
   * block: partition the corpus by assigned centroid, search only probed
   * cells. One explode + one hash aggregation (map-side combinable).
   * Returns (centroid_id, centroid: array<long>).
   */
  def centroids(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("centroid_id"),
        posexplode(quantize(col(vecCol))).as(Seq("d", "q")))
      .groupBy("centroid_id", "d")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("cnt"))
      .withColumn("c", floorDiv(col("s"), col("cnt")))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("d"), col("c")))).as("pairs"))
      .select(col("centroid_id"), transform(col("pairs"), p => p.getField("c")).as("centroid"))

  /** Exact integer squared L2 distance between quantized vectors
    * (r20: kernel-backed — identical integer math and null rules). */
  def sqDistQ(a: Column, b: Column): Column =
    graft.functions.VectorKernels.sqDistQ(a, b)

  // ---- incremental (mini-batch) k-means state ------------------------

  /**
   * Per-centroid RUNNING STATE from an assignment — the mergeable form
   * behind mini-batch/streaming k-means (Sculley 2010, web-scale
   * k-means, held as batch sums): (centroid_id, sums per dim, count).
   * Unlike [[centroids]] this keeps the raw sums so states from
   * successive batches MERGE by addition — the commutative-monoid
   * property that lets 1000 workers fold their shards independently.
   */
  def centroidSums(df: DataFrame, labelCol: String, vecCol: String): DataFrame =
    df.select(col(labelCol).as("centroid_id"),
        posexplode(quantize(col(vecCol))).as(Seq("d", "q")))
      .groupBy("centroid_id", "d")
      .agg(sum(col("q")).as("s"), count(lit(1)).as("cnt"))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("d"), col("s")))).as("pairs"),
        min(col("cnt")).as("cnt"))
      .select(col("centroid_id"),
        transform(col("pairs"), p => p.getField("s")).as("sums"), col("cnt"))

  /** Merge two centroid states by adding sums and counts (a centroid
    * absent from one side passes through). Both inputs are k rows —
    * control-plane sized at any corpus scale. */
  def mergeStates(a: DataFrame, b: DataFrame): DataFrame =
    a.unionByName(b)
      .select(col("centroid_id"), posexplode(col("sums")).as(Seq("d", "s")),
        col("cnt"))
      .groupBy("centroid_id", "d")
      // cnt repeats per dim within one side; sum of the per-side minima =
      // per-(cid, d) total count, identical across d
      .agg(sum(col("s")).as("s"), sum(col("cnt")).as("cnt"))
      .groupBy("centroid_id")
      .agg(array_sort(collect_list(struct(col("d"), col("s")))).as("pairs"),
        min(col("cnt")).as("cnt"))
      .select(col("centroid_id"),
        transform(col("pairs"), p => p.getField("s")).as("sums"), col("cnt"))

  /** Serving centroids from a state: element-wise floor(sums/cnt). */
  def stateCentroids(state: DataFrame): DataFrame =
    state.select(col("centroid_id"),
      transform(col("sums"), s => floorDiv(s, col("cnt"))).as("centroid"))

  /** least() requires >= 2 args; degenerate single-candidate sets (all
    * clusters collapsed to one, single-codeword codebooks) are legal. */
  private def leastOf(ds: Seq[Column]): Column =
    if (ds.sizeIs == 1) ds.head else least(ds: _*)

  /**
   * k-CENTER coreset selection (farthest-first traversal, the Gonzalez
   * 2-approximation): pick the point farthest from the already-selected
   * set, k times — the diversity-maximizing data-selection stage
   * (coreset subsampling for training, seed selection for clustering).
   * Returns (sel_rank, vec_id, d2_sel) where d2_sel is the point's exact
   * squared distance to the selected set at the moment it was chosen —
   * a non-increasing sequence whose last value bounds the covering
   * radius (every corpus point is within √d2_sel(k) · 2 of a center).
   *
   * Scale shape: the corpus never moves — each of the k rounds is one
   * broadcast map pass (≤ k literal centers in the expression) + a 1-row
   * TakeOrdered argmax to the driver; ties break to the smaller id so
   * the selection replays exactly in any engine. Recompute-per-round
   * keeps it stateless at O(k²·n) integer dots; big-k pipelines keep a
   * running-min column instead (the q186 incremental pattern, with
   * localCheckpoint per round).
   */
  def kCenterGreedy(df: DataFrame, idCol: String, vecCol: String,
      k: Int): DataFrame = {
    require(k >= 1, s"k: $k")
    val spark = df.sparkSession
    val q = df.select(col(idCol).cast("long").as("id"),
      quantizeInt8(col(vecCol)).as("qv")).persist()
    try {
      q.count() // materialize once; k rounds reuse the quantized corpus
      val first = q.orderBy("id").limit(1).collect().head
      var sel = Vector((first.getLong(0), first.getSeq[Long](1).toSeq, 0L))
      var saturated = false
      while (sel.size < k && !saturated) {
        val centers = array(sel.map { case (_, v, _) =>
          array(v.map(lit(_)): _*) }: _*)
        val md = array_min(transform(centers, c => sqDistQ(col("qv"), c)))
        val next = q.select(col("id"), col("qv"), md.as("md"))
          .orderBy(desc("md"), asc("id")).limit(1).collect().head
        // max min-distance 0 ⇒ every remaining point duplicates a selected
        // center: stop instead of silently re-emitting duplicate seeds
        // (the result then has < k rows — distinct vectors ran out)
        if (next.getLong(2) == 0L) saturated = true
        else sel = sel :+ ((next.getLong(0), next.getSeq[Long](1).toSeq,
          next.getLong(2)))
      }
      import spark.implicits._
      sel.zipWithIndex.map { case ((id, _, d2), i) =>
        (i + 1L, id, d2) }.toDF("sel_rank", "vec_id", "d2_sel")
    } finally { q.unpersist(); () }
  }

  /** Above this many packed centroid BYTES (k·d·8) the argmin kernel's
    * reference arrays stop riding the serialized expression (they would
    * bloat every task binary and plan string) and assignment cuts over to
    * a one-row broadcast of the centroid array with a per-row array_min —
    * same results, one broadcast per executor instead of a table per
    * task. Small-k plans (every declared gate) are unchanged. */
  private[operators] val CentroidPlanMaxBytes: Long = 4L << 20

  /**
   * Nearest-centroid assignment (all-integer, deterministic): the argmin
   * with centroid_id tie-break, map-only over the corpus.
   *
   * r20 reshape: the centroid table is control-plane data (k·d longs), so
   * it collects once and folds into a single codegen'd argmin kernel
   * ([[graft.functions.VectorKernels.nearestCell]]) — ONE primitive loop
   * per row with early-exit pruning, replacing the crossJoin (k rows per
   * corpus row) + per-candidate interpreted sqDistQ + row_number window.
   * Results are identical: strict < over ascending ids == the old
   * (dist, centroid_id) ordering (pinned by VectorKernelSpec). The
   * `centroid` array column re-attaches through a broadcast join on the
   * k-row table for consumers that read it (IVF residuals).
   */
  def assignCentroids(df: DataFrame, cents: DataFrame,
                      vecCol: String = "embedding",
                      maxPlanBytes: Long = CentroidPlanMaxBytes): DataFrame = {
    // centroid_id may arrive int-typed (label-derived cents); normalize to
    // long for the kernel — the join back recoerces, and the driver hash
    // is int-width-insensitive
    val centRows = cents
      .select(col("centroid_id").cast("long"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.longValue()).toSeq))
      .sortBy(_._1).toSeq
    // cast back to the incoming centroid_id dtype (it may be int-typed)
    // so the output schema is unchanged from the pre-kernel form
    val cidType = cents.schema("centroid_id").dataType
    if (centRows.isEmpty)
      // empty centroid table: the old crossJoin produced zero rows
      return df
        .withColumn("centroid_id", lit(null).cast(cidType))
        .withColumn("centroid", lit(null).cast("array<bigint>"))
        .withColumn("dist", lit(null).cast("long"))
        .filter(lit(false))
    // re-attach the centroid array from the rows ALREADY collected — a
    // broadcast join against the `cents` plan would recompute its whole
    // subtree a second time (measured: q85_ivf_search 1.29 → 2.07 s
    // before this local-rows fix)
    val spark = df.sparkSession
    import spark.implicits._
    val centLocal = broadcast(centRows.toDF("centroid_id", "centroid")
      .select(col("centroid_id").cast(cidType), col("centroid")))
    val centBytes =
      centRows.length.toLong * centRows.head._2.length.toLong * 8L
    val assigned =
      if (centBytes <= maxPlanBytes) {
        val best = graft.functions.VectorKernels.nearestCell(
          quantize(col(vecCol)), centRows.map(_._1), centRows.map(_._2))
        // NULL-embedding rows keep the legacy crossJoin+window labeling —
        // lowest centroid id, NULL dist (the kernel itself already maps
        // degenerate non-null vectors there; a bare NULL input nulls the
        // whole struct, which an inner join would silently drop)
        df.withColumn("_best", best)
          .withColumn("centroid_id",
            coalesce(col("_best.centroid_id"), lit(centRows.head._1))
              .cast(cidType))
          .withColumn("dist", col("_best.dist"))
          .drop("_best")
      } else {
        // cutover: the SAME collected rows broadcast as ONE array row, and
        // a per-row array_min over (dist, cid) structs — map-only like the
        // kernel, so every input row (NULL or repeated ids included) keeps
        // its own assignment. The struct order replays the kernel's tie
        // rule (strict < over ascending ids == lexicographic (dist, cid)
        // min) and its degenerate rule (NULL dists sort first → lowest
        // cid, NULL dist). Round21Spec pins both strategies equal.
        val centArr = broadcast(Seq(centRows).toDF("_cents"))
        df.withColumn("_qv", quantize(col(vecCol)))
          .crossJoin(centArr)
          .withColumn("_best", array_min(transform(col("_cents"), c =>
            struct(sqDistQ(col("_qv"), c.getField("_2")).as("dist"),
              c.getField("_1").as("centroid_id")))))
          .withColumn("centroid_id", col("_best.centroid_id").cast(cidType))
          .withColumn("dist", col("_best.dist"))
          .drop("_qv", "_cents", "_best")
      }
    assigned
      .join(centLocal, Seq("centroid_id"))
      .select(df.columns.map(col) ++
        Seq(col("centroid_id"), col("centroid"), col("dist")): _*)
  }

  /**
   * K-means Lloyd iterations over quantized vectors — the clustering
   * stage of semantic dedup (SemDeDup: cluster the corpus, then near-dup
   * only within clusters) and of IVF index training. Deterministic and
   * engine-exact end to end: seeds are the k smallest-id vectors, all
   * distances are exact integer squared-L2 over quantized vectors, means
   * use portable floor division, and argmin ties break on centroid id.
   * Clusters that lose every member disappear (no re-seeding) so both
   * engines agree on the surviving set.
   *
   * Scale shape: centroids are control-plane data (k·d longs) — each
   * round is ONE map-only assignment pass (centroid literals folded into
   * the plan, no join/shuffle on the corpus) plus one partial-aggregated
   * groupBy for the means; the corpus itself never shuffles.
   *
   * Returns the final assignment (idCol, vecCol, centroid_id, dist)
   * against the centroids after `iters` recompute rounds — the vector
   * rides along so downstream within-cluster work (SemDeDup pair
   * generation, IVF cell search) needs no join back.
   */
  def kmeans(df: DataFrame, k: Int, iters: Int,
             idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    require(k >= 2 && iters >= 0)
    val spark = df.sparkSession
    val q = df.select(col(idCol), col(vecCol)).withColumn("qv", quantize(col(vecCol)))
    val seeds: Seq[(Long, Seq[Long])] = q.orderBy(col(idCol)).limit(k)
      .select(col("qv")).collect()
      .zipWithIndex.map { case (r, i) => (i.toLong, r.getSeq[Long](0)) }.toSeq

    // r20: ONE assignment strategy for any k — the codegen'd argmin kernel
    // (centroids ship with the expression as a flat long[], early-exit
    // pruned inner loop, no join, no window, no per-candidate interpreted
    // distance tree). Replaces BOTH former paths — the small-k literal
    // fold (k separate sqDistQ struct exprs, codegen-method-limit bound)
    // and the large-k broadcast-join min(struct) agg (which shuffled one
    // pre-aggregated row per id). Identical results: strict < over
    // ascending cids == the (dist, cid) tuple min of both old forms
    // (KmeansSpec pins kernel == legacy-join equality row for row).
    def assign(cents: Seq[(Long, Seq[Long])]): DataFrame = {
      val sorted = cents.sortBy(_._1)
      val best = graft.functions.VectorKernels.nearestCell(
        col("qv"), sorted.map(_._1), sorted.map(_._2))
      q.withColumn("best", best)
        .select(col(idCol), col(vecCol),
          col("best.centroid_id").as("centroid_id"), col("best.dist").as("dist"))
    }

    var cents = seeds
    var round = 0
    while (round < iters) {
      cents = centroids(assign(cents).select(col("centroid_id"), col(vecCol)),
          "centroid_id", vecCol)
        .collect().map(r => (r.getLong(0), r.getSeq[Long](1))).toSeq
        .sortBy(_._1)
      round += 1
    }
    assign(cents)
  }

  /**
   * Product quantization (PQ) — the billion-vector compression layout
   * (IVF+PQ): the vector splits into `m` subspaces; each subspace has a
   * small codebook and stores only the nearest codeword's id (log2(k)
   * bits per subspace instead of 4 bytes per float). Codebooks are
   * control-plane data (m·k·subDim longs) folded into the plan as
   * literals, so ENCODING is one map-only pass — no join, no shuffle.
   * Search uses asymmetric distance computation (ADC): the query
   * precomputes its distance to every codeword (m·k values) and a doc's
   * distance is m table lookups by code — never touching the original
   * vectors.
   *
   * `codebooks(s)(j)` = quantized codeword j of subspace s. Training is
   * [[kmeans]] per subspace slice (or any offline trainer); encode/search
   * only consume the table. Deterministic: integer distances, code ties
   * break low.
   */
  def pqEncode(df: DataFrame, codebooks: Seq[Seq[Seq[Long]]], subDim: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val q = df.withColumn("qv", quantize(col(vecCol)))
    val codes = codebooks.zipWithIndex.map { case (book, s) =>
      val sub = slice(col("qv"), s * subDim + 1, subDim)
      val ds = book.zipWithIndex.map { case (cw, j) =>
        struct(sqDistQ(sub, array(cw.map(lit): _*)).as("dist"),
          lit(j.toLong).as("code"))
      }
      leastOf(ds).getField("code")
    }
    q.select(col(idCol), col(vecCol), array(codes: _*).as("codes"))
  }

  /**
   * PQ-ADC top-k: per query, distance to a doc = Σ over subspaces of the
   * query's precomputed distance to the doc's codeword. Queries are few
   * (broadcast); the corpus side reads only the code arrays.
   */
  def pqSearch(encoded: DataFrame, queries: DataFrame,
               codebooks: Seq[Seq[Seq[Long]]], subDim: Int, k: Int,
               idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val qq = queries.withColumn("qq", quantize(col(vecCol)))
    val dtabs = codebooks.zipWithIndex.map { case (book, s) =>
      val sub = slice(col("qq"), s * subDim + 1, subDim)
      array(book.map(cw => sqDistQ(sub, array(cw.map(lit): _*))): _*).as(s"dt$s")
    }
    val qside = qq.select(col(idCol).as("query_id") +: dtabs: _*)
    val adc = codebooks.indices.map { s =>
      element_at(col(s"dt$s"), element_at(col("codes"), s + 1).cast("int") + 1)
    }.reduce(_ + _)
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    encoded.select(col(idCol).as("neighbor_id"), col("codes"))
      .crossJoin(broadcast(qside))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "adc")
  }

  /** Residual of a quantized vector against its assigned coarse
    * centroid (cell literals folded into the plan — cells are
    * control-plane data at any corpus size). */
  def residual(qv: Column, cellCol: Column,
               cents: Seq[(Long, Seq[Long])]): Column = {
    val centArr = cents.foldRight(lit(null).cast("array<bigint>")) {
      case ((id, c), rest) =>
        when(cellCol === id, array(c.map(lit): _*)).otherwise(rest)
    }
    zip_with(qv, centArr, (x, y) => x - y)
  }

  /**
   * RESIDUAL product quantization — IVF-PQ proper: codes quantize the
   * residual x − centroid(cell), not the raw vector, which is what makes
   * small codebooks accurate (residuals cluster near the origin; the
   * FAISS IVF-PQ layout). `assigned` must carry (id, vec, centroid_id);
   * codebooks live in RESIDUAL space. Encoding stays one map-only pass —
   * cells and codebooks are plan literals.
   */
  def pqEncodeResidual(assigned: DataFrame, cents: Seq[(Long, Seq[Long])],
      codebooks: Seq[Seq[Seq[Long]]], subDim: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    val r = assigned
      .withColumn("rv", residual(quantize(col(vecCol)), col("centroid_id"), cents))
    val codes = codebooks.zipWithIndex.map { case (book, s) =>
      val sub = slice(col("rv"), s * subDim + 1, subDim)
      val ds = book.zipWithIndex.map { case (cw, j) =>
        struct(sqDistQ(sub, array(cw.map(lit): _*)).as("dist"),
          lit(j.toLong).as("code"))
      }
      leastOf(ds).getField("code")
    }
    r.select(col(idCol), col("centroid_id"), array(codes: _*).as("codes"))
  }

  /**
   * IVF-PQ search: per query, probe the `nProbe` nearest cells; within a
   * probed cell the query's RESIDUAL against that cell's centroid builds
   * the ADC table (the per-cell tables are the structural difference from
   * flat PQ — q106), and a doc's distance is m lookups by its code.
   * Queries × probed cells broadcast; the corpus side reads only
   * (cell, codes).
   */
  def pqSearchResidual(encoded: DataFrame, queries: DataFrame,
      cents: Seq[(Long, Seq[Long])], codebooks: Seq[Seq[Seq[Long]]],
      subDim: Int, nProbe: Int, k: Int,
      idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val spark = encoded.sparkSession
    import spark.implicits._
    val cellsDf = cents.map(_._1).toDF("cell")
    val qq = queries.withColumn("qv", quantize(col(vecCol)))
      .select(col(idCol).as("query_id"), col("qv"))
    val centArr = cents.foldRight(lit(null).cast("array<bigint>")) {
      case ((id, c), rest) =>
        when(col("cell") === id, array(c.map(lit): _*)).otherwise(rest)
    }
    val wProbe = Window.partitionBy(col("query_id"))
      .orderBy(col("cdist"), col("cell"))
    val probes = qq.crossJoin(broadcast(cellsDf))
      .withColumn("cdist", sqDistQ(col("qv"), centArr))
      .withColumn("prn", row_number().over(wProbe))
      .filter(col("prn") <= nProbe)
      .withColumn("rv", zip_with(col("qv"), centArr, (x, y) => x - y))
    val dtabs = codebooks.zipWithIndex.map { case (book, s) =>
      val sub = slice(col("rv"), s * subDim + 1, subDim)
      array(book.map(cw => sqDistQ(sub, array(cw.map(lit): _*))): _*).as(s"dt$s")
    }
    val qside = probes.select(col("query_id") +: col("cell") +: dtabs: _*)
    val adc = codebooks.indices.map { s =>
      element_at(col(s"dt$s"), element_at(col("codes"), s + 1).cast("int") + 1)
    }.reduce(_ + _)
    val wRank = Window.partitionBy(col("query_id"))
      .orderBy(col("adc"), col("neighbor_id"))
    encoded.select(col(idCol).as("neighbor_id"),
        col("centroid_id").as("cell"), col("codes"))
      .join(broadcast(qside), Seq("cell"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("adc", adc)
      .withColumn("rank", row_number().over(wRank))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cell", "adc")
  }

  /** Deterministic codebook stand-in for gates: subspace slices of the k
    * smallest-id quantized vectors (the kmeans seed rule — a production
    * pipeline trains per-subspace [[kmeans]] offline and plugs the result
    * in here unchanged). */
  def seedCodebooks(df: DataFrame, m: Int, k: Int, subDim: Int,
                    idCol: String = "vec_id", vecCol: String = "embedding"): Seq[Seq[Seq[Long]]] = {
    val seeds = df.orderBy(col(idCol)).limit(k)
      .select(quantize(col(vecCol)).as("qv")).collect()
      .map(_.getSeq[Long](0).toSeq).toSeq
    (0 until m).map(s => seeds.map(_.slice(s * subDim, (s + 1) * subDim)))
  }

  /** Cell count for an n-vector corpus: the FAISS-style nlist ≈ √n rule.
    * Per-query probe cost is nProbe·n/nlist, so a FIXED cell count makes
    * probe cost grow linearly with the corpus (measured super-linear
    * total at the 100× point — NOTES) while √n cells keep it at
    * nProbe·√n. Training √n centroids is a one-off [[kmeans]] job. */
  def recommendedCells(n: Long): Int =
    math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)

  /**
   * IVF probe search: rank candidate cells per query by centroid distance,
   * search only the `nProbe` nearest cells. With the corpus PARTITIONED by
   * assigned centroid (the 100 TB layout: one directory per cell, partition
   * pruning skips the rest), cost scales with probed cells, not corpus
   * size. Exact integer cell ranking (quantized), exact cosine within
   * cells. Size `cents` with [[recommendedCells]] — per-query cost is
   * nProbe·n/nlist, so the cell count must grow with the corpus (√n keeps
   * a probe at nProbe·√n vectors no matter the scale).
   */
  def ivfSearch(corpusAssigned: DataFrame, queries: DataFrame, cents: DataFrame,
                nProbe: Int, k: Int,
                idCol: String = "vec_id", vecCol: String = "embedding"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"),
      norm(col(vecCol)).as("qn"), quantize(col(vecCol)).as("qq"))
    // probe list: nProbe nearest centroids per query. r21: the centroid
    // table is control-plane data (k·d longs — the assignCentroids
    // argument), so probe selection folds into one codegen'd top-N kernel
    // per query row; the former crossJoin(|Q|·nlist rows) + row_number
    // window paid the vector tier's last Exchange+sort. Identical probe
    // sets: the kernel's (dist asc, id asc) strict ordering is the
    // window's (cdist, centroid_id) rule, degenerate/NULL embeddings fall
    // back to the first nProbe ids exactly as the nulls-first window
    // ranking did (pinned by Round21Spec).
    val centRows = cents
      .select(col("centroid_id").cast("long"), col("centroid")).collect()
      .map(r => (r.getLong(0), r.getSeq[Number](1).map(_.longValue()).toSeq))
      .sortBy(_._1).toSeq
    val cidType = cents.schema("centroid_id").dataType
    if (centRows.isEmpty)
      // empty centroid table: the old crossJoin produced zero probe rows
      return q.select(col("query_id"), lit(0).as("rank"),
        col("query_id").as("neighbor_id"), lit(0d).as("cos"))
        .filter(lit(false))
    val fallback = array(centRows.map(_._1).take(nProbe).map(lit(_)): _*)
    val probeCells = graft.functions.VectorKernels.nearestCells(
      col("qq"), centRows.map(_._1), centRows.map(_._2), nProbe)
    val probes = q
      .withColumn("_pc", when(col("qq").isNull, fallback).otherwise(probeCells))
      .select(col("query_id"), col("qv"), col("qn"),
        explode(col("_pc")).as("_cid"))
      .select(col("query_id"), col("qv"), col("qn"),
        col("_cid").cast(cidType).as("centroid_id"))
    val c = corpusAssigned.select(col("centroid_id"),
      col(idCol).as("neighbor_id"), col(vecCol).as("cv"), norm(col(vecCol)).as("cn"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("cos").desc, col("neighbor_id"))
    broadcast(probes).join(c, Seq("centroid_id"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .withColumn("cos", dot(col("qv"), col("cv")) / (col("qn") * col("cn")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select("query_id", "rank", "neighbor_id", "cos")
  }

  /** DuckDB SQL twins. */
  object Sql {
    def dot(aE: String, bE: String): String =
      s"list_sum([CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE) FOR x IN list_zip($aE, $bE)])"
    def norm(aE: String): String =
      s"sqrt(list_sum([CAST(x AS DOUBLE) * CAST(x AS DOUBLE) FOR x IN $aE]))"
    def cosine(aE: String, bE: String): String =
      s"(${dot(aE, bE)}) / ((${norm(aE)}) * (${norm(bE)}))"
    // zero-norm guard on the NORM only — NULL elements must stay NULL in
    // both engines (a blanket coalesce would turn them into 0 here while
    // Spark's otherwise-branch propagates the null)
    def quantizeInt8(vecE: String): String =
      s"[CASE WHEN (${norm(vecE)}) = 0 THEN 0 " +
        s"ELSE CAST(floor(CAST(x AS DOUBLE) * 127 / (${norm(vecE)})) AS BIGINT) END FOR x IN $vecE]"
    def dotQ(aE: String, bE: String): String =
      s"CAST(list_sum([x[1] * x[2] FOR x IN list_zip($aE, $bE)]) AS BIGINT)"
    def lshSignature(vecE: String, planes: Int, dim: Int): String = {
      val ws = hyperplaneWeights(planes, dim)
      (0 until planes).map { j =>
        val wlist = ws(j).mkString("[", ", ", "]")
        val proj = s"list_sum([CAST(($vecE)[i + 1] AS DOUBLE) * CAST(($wlist)[i + 1] AS DOUBLE) " +
          s"FOR i IN range(0, $dim)])"
        s"(CASE WHEN ($proj) > 0 THEN ${1L << j} ELSE 0 END)"
      }.mkString("(", " + ", ")")
    }
  }
}
