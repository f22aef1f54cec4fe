package graft.queries

import org.apache.spark.sql.functions._
import graft.core.Tables
import graft.operators.VectorOps

/**
 * Gate queries for embedding similarity search: brute-force cosine top-k
 * (baseline), hyperplane-LSH bucketed ANN (scale path), and fixed-point
 * IVF centroid assignment. Cosine values are emitted as raw doubles — the
 * per-row sequential fold is bit-identical across engines (verified), so
 * exact hash comparison is safe.
 */
object EmbeddingQueries {

  private val QueryFilter = "vec_id % 50 = 0"

  val knnBrute = GateQuery(
    "q80_knn_brute",
    Some {
      val cos = VectorOps.Sql.cosine("q.embedding", "c.embedding")
      s"""SELECT query_id, rank, neighbor_id, cos FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
         |  FROM embeddings q JOIN embeddings c ON q.vec_id <> c.vec_id
         |  WHERE q.${QueryFilter}
         |) WHERE rank <= 5""".stripMargin
    }) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    VectorOps.bruteForceTopK(e.filter(expr(QueryFilter)), e, 5)
  }

  private val Planes = 12

  val lshAnn = GateQuery(
    "q81_lsh_ann",
    Some {
      val sig = VectorOps.Sql.lshSignature("embedding", Planes, 64)
      val cos = VectorOps.Sql.cosine("q.embedding", "c.embedding")
      s"""WITH sigs AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings)
         |SELECT query_id, rank, neighbor_id, cos FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $cos AS cos,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $cos DESC, c.vec_id) AS rank
         |  FROM sigs q JOIN sigs c ON q.sig = c.sig AND q.vec_id <> c.vec_id
         |  WHERE q.${QueryFilter}
         |) WHERE rank <= 3""".stripMargin
    }) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    VectorOps.lshTopK(e, e.filter(expr(QueryFilter)), Planes, 64, 3)
  }

  val lshBuckets = GateQuery(
    "q82_lsh_buckets",
    Some {
      val sig = VectorOps.Sql.lshSignature("embedding", Planes, 64)
      s"""SELECT sig_pop, count(*) AS n_buckets,
         |  CAST(sum(cnt) AS BIGINT) AS n_vectors FROM (
         |  SELECT $sig AS sig, bit_count(CAST($sig AS BIGINT)) AS sig_pop, count(*) AS cnt
         |  FROM embeddings GROUP BY 1, 2
         |) GROUP BY sig_pop""".stripMargin
    }) { (spark, dir) =>
    Tables.load(spark, dir, "embeddings")
      .groupBy(VectorOps.lshSignature(col("embedding"), Planes, 64).as("sig"))
      .agg(count(lit(1)).as("cnt"))
      .groupBy(bit_count(col("sig")).as("sig_pop"))
      .agg(count(lit(1)).as("n_buckets"), sum(col("cnt")).as("n_vectors"))
  }

  val centroidAssign = GateQuery(
    "q83_centroid_assign",
    Some {
      val scale = VectorOps.QuantScale
      s"""WITH q AS (
         |  SELECT vec_id, label,
         |    [CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT) FOR x IN embedding] AS qv
         |  FROM embeddings
         |), expl AS (
         |  SELECT label,
         |    unnest([{'d': i - 1, 'v': qv[i]} FOR i IN range(1, len(qv) + 1)]) AS u
         |  FROM q
         |), comp AS (
         |  SELECT label AS centroid_id, u.d AS d, sum(u.v) AS s, count(*) AS cnt
         |  FROM expl GROUP BY 1, 2
         |), cents AS (
         |  SELECT centroid_id,
         |    list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT) ORDER BY d) AS centroid
         |  FROM comp GROUP BY centroid_id
         |), assigned AS (
         |  SELECT vec_id, label, centroid_id,
         |    list_sum([(q.qv[i] - c.centroid[i]) * (q.qv[i] - c.centroid[i])
         |              FOR i IN range(1, len(q.qv) + 1)]) AS dist,
         |    row_number() OVER (PARTITION BY vec_id ORDER BY
         |      list_sum([(q.qv[i] - c.centroid[i]) * (q.qv[i] - c.centroid[i])
         |                FOR i IN range(1, len(q.qv) + 1)]), centroid_id) AS rn
         |  FROM q, cents c
         |)
         |SELECT label, centroid_id AS assigned, count(*) AS cnt
         |FROM assigned WHERE rn = 1 GROUP BY 1, 2""".stripMargin
    }) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val cents = VectorOps.centroids(e, "label", "embedding")
    VectorOps.assignCentroids(e, cents)
      .groupBy(col("label"), col("centroid_id").as("assigned"))
      .agg(count(lit(1)).as("cnt"))
  }

  private val NearDupPlanes = 6

  /**
   * Shared cosine-pair derivation — the near-dup JOB shape (mirrors
   * DocQueries.scoredCandidates): LSH-bucketed candidate generation + exact
   * cosine confirmation is computed ONCE and persisted; the pair-level gate
   * (q84) and the clustering gate (q86) both consume it instead of each
   * re-deriving the sig+join+filter pipeline.
   */
  private val cosinePairs = Gate.shared("cosine pair table") {
    (spark, dir) =>
      val e = Tables.load(spark, dir, "embeddings")
        .select(col("vec_id"), col("label"), col("embedding"),
          VectorOps.lshSignature(col("embedding"), NearDupPlanes, 64).as("sig"),
          VectorOps.norm(col("embedding")).as("n"))
      val pairs = e.as("a").join(e.as("b"),
          col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
        .withColumn("cos",
          VectorOps.dot(col("a.embedding"), col("b.embedding")) /
            (col("a.n") * col("b.n")))
        .filter(col("cos") >= 0.3)
        .select(col("a.vec_id").as("id_a"), col("b.vec_id").as("id_b"),
          (col("a.label") === col("b.label")).as("same_label"), col("cos"))
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      pairs.count() // materialize: both consumers read the pair table
      pairs
  }

  /** Embedding-cosine near-dup detection: LSH buckets generate candidate
    * pairs, exact cosine ≥ threshold confirms — the vector analog of the
    * MinHash pipeline (candidate generation never goes n²). */
  val cosineNearDup = GateQuery(
    "q84_cosine_neardup",
    Some {
      val sig = VectorOps.Sql.lshSignature("embedding", NearDupPlanes, 64)
      val cos = VectorOps.Sql.cosine("a.embedding", "b.embedding")
      s"""WITH sigs AS (SELECT vec_id, label, embedding, $sig AS sig FROM embeddings)
         |SELECT same_label, count(*) AS n_pairs,
         |  CAST(sum(CAST(cos AS DECIMAL(18,9))) AS DOUBLE) AS sum_cos
         |FROM (
         |  SELECT a.label = b.label AS same_label, $cos AS cos
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |)
         |WHERE cos >= 0.3
         |GROUP BY same_label""".stripMargin
    }) { (spark, dir) =>
    cosinePairs(spark, dir)
      .groupBy("same_label")
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cos").cast("decimal(18,9)")).cast("double").as("sum_cos"))
  }

  /** Embedding-cosine dup CLUSTERS: the near-dup pairs (q84 pipeline)
    * become edges and connected components give semantic dup groups — the
    * vector analog of q67's MinHash clustering, sharing the same
    * star-contraction CC operator. */
  val embeddingDupClusters = GateQuery(
    "q86_embedding_dup_clusters",
    Some {
      val sig = VectorOps.Sql.lshSignature("embedding", NearDupPlanes, 64)
      val cos = VectorOps.Sql.cosine("a.embedding", "b.embedding")
      s"""WITH sigs AS (SELECT vec_id, embedding, $sig AS sig FROM embeddings),
         |pairs AS (
         |  SELECT a.vec_id AS id_a, b.vec_id AS id_b
         |  FROM sigs a JOIN sigs b ON a.sig = b.sig AND a.vec_id < b.vec_id
         |  WHERE $cos >= 0.3
         |), edges AS (
         |  SELECT id_a AS src, id_b AS dst FROM pairs
         |  UNION ALL SELECT id_b, id_a FROM pairs
         |), cc AS (
         |  WITH RECURSIVE reach(node, comp) AS (
         |    SELECT vec_id, vec_id FROM embeddings
         |    UNION
         |    SELECT e.dst, r.comp FROM reach r JOIN edges e ON e.src = r.node
         |  )
         |  SELECT node, min(comp) AS comp FROM reach GROUP BY node
         |)
         |SELECT cluster_size, count(*) AS n_clusters,
         |  CAST(sum(comp) AS BIGINT) AS comp_check
         |FROM (SELECT comp, count(*) AS cluster_size FROM cc GROUP BY comp)
         |GROUP BY cluster_size""".stripMargin
    }) { (spark, dir) =>
    import graft.operators.Dedup
    val pairs = cosinePairs(spark, dir).select("id_a", "id_b")
    val labels = Dedup.dupClusters(
      Tables.load(spark, dir, "embeddings").select(col("vec_id").as("id")), pairs)
    labels.groupBy("comp").agg(count(lit(1)).as("cluster_size"))
      .groupBy("cluster_size")
      .agg(count(lit(1)).as("n_clusters"), sum(col("comp")).as("comp_check"))
  }

  /** Shared oracle CTE chain for the IVF probe path (q85, q132): quantized
    * vectors → per-label integer centroids → cell assignment → per-query
    * probe list. */
  private def ivfCtes: String = {
    val scale = VectorOps.QuantScale
    s"""WITH q AS (
         |  SELECT vec_id, label, embedding,
         |    [CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT) FOR x IN embedding] AS qq
         |  FROM embeddings
         |), expl AS (
         |  SELECT label,
         |    unnest([{'d': i - 1, 'v': qq[i]} FOR i IN range(1, len(qq) + 1)]) AS u
         |  FROM q
         |), comp AS (
         |  SELECT label AS centroid_id, u.d AS d, sum(u.v) AS s, count(*) AS cnt
         |  FROM expl GROUP BY 1, 2
         |), cents AS (
         |  SELECT centroid_id,
         |    list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT) ORDER BY d) AS centroid
         |  FROM comp GROUP BY centroid_id
         |), assigned AS (
         |  SELECT vec_id, centroid_id AS cell FROM (
         |    SELECT q.vec_id, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_sum([(q.qq[i] - c.centroid[i]) * (q.qq[i] - c.centroid[i])
         |                  FOR i IN range(1, len(q.qq) + 1)]), c.centroid_id) AS rn
         |    FROM q, cents c
         |  ) WHERE rn = 1
         |), probes AS (
         |  SELECT vec_id AS query_id, qv, centroid_id FROM (
         |    SELECT q.vec_id, q.embedding AS qv, c.centroid_id,
         |      row_number() OVER (PARTITION BY q.vec_id ORDER BY
         |        list_sum([(q.qq[i] - c.centroid[i]) * (q.qq[i] - c.centroid[i])
         |                  FOR i IN range(1, len(q.qq) + 1)]), c.centroid_id) AS prank
         |    FROM q, cents c
         |    WHERE q.${QueryFilter.replace("vec_id", "vec_id")}
         |  ) WHERE prank <= 3
         |)""".stripMargin
  }

  /** The IVF top-3 select over [[ivfCtes]]'s tables. */
  private def ivfTop(cols: String): String = {
    val cos = VectorOps.Sql.cosine("p.qv", "c.embedding")
    s"""SELECT $cols FROM (
       |  SELECT p.query_id, c.vec_id AS neighbor_id, $cos AS cos,
       |    row_number() OVER (PARTITION BY p.query_id ORDER BY $cos DESC, c.vec_id) AS rank
       |  FROM probes p
       |  JOIN assigned a ON a.cell = p.centroid_id
       |  JOIN q c ON c.vec_id = a.vec_id
       |  WHERE c.vec_id <> p.query_id
       |) WHERE rank <= 3""".stripMargin
  }

  /** IVF probe search: top-3 within the 3 nearest centroid cells. */
  val ivfSearch = GateQuery(
    "q85_ivf_search",
    Some(ivfCtes + "\n" + ivfTop("query_id, rank, neighbor_id, cos"))) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val cents = VectorOps.centroids(e, "label", "embedding")
    val assigned = VectorOps.assignCentroids(e, cents)
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
    VectorOps.ivfSearch(assigned, e.filter(expr(QueryFilter)), cents,
      nProbe = 3, k = 3)
  }

  /**
   * q96: int8-quantized brute-force top-k — the memory-bandwidth scale
   * path. Vectors quantize once to signed bytes (4× smaller than float32
   * at rest and in cache; the quantized corpus is what a 100 TB ANN scan
   * reads), and ranking is EXACT integer dot-product arithmetic, so the
   * oracle reproduces every score and the tie-break ordering bit-for-bit.
   */
  val int8Knn = GateQuery(
    "q96_int8_knn",
    Some {
      val qv = VectorOps.Sql.quantizeInt8("embedding")
      val dq = VectorOps.Sql.dotQ("q.qq", "c.qq")
      s"""WITH qt AS (SELECT vec_id, $qv AS qq FROM embeddings)
         |SELECT query_id, rank, neighbor_id, dotq FROM (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dq AS dotq,
         |    row_number() OVER (PARTITION BY q.vec_id ORDER BY $dq DESC, c.vec_id) AS rank
         |  FROM qt q JOIN qt c ON q.vec_id <> c.vec_id
         |  WHERE q.${QueryFilter}
         |) WHERE rank <= 5""".stripMargin
    }) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "embeddings")
    val qt = e.select(col("vec_id"), VectorOps.quantizeInt8(col("embedding")).as("qq"))
    val q = qt.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("qq").as("q_qq"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dotq").desc, col("neighbor_id"))
    broadcast(q).join(qt.select(col("vec_id").as("neighbor_id"), col("qq")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dotq", VectorOps.dotQ(col("q_qq"), col("qq")))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 5)
      .select("query_id", "rank", "neighbor_id", "dotq")
  }

  /**
   * q102 — k-means Lloyd iterations (the SemDeDup clustering stage / IVF
   * training): deterministic smallest-id seeds, one full refinement round
   * (assign → integer-mean recompute → re-assign), exact integer
   * distances throughout. The oracle unrolls the same round in SQL, so
   * every vector's final cluster and distance must match bit-for-bit.
   */
  /** Shared oracle CTE chain for one k=4 Lloyd round: seeds c0 → assign
    * a0 → integer-mean recompute c1 → final assignment a1(vec_id, cid,
    * dist). Consumed by q102 (cluster shape) and q103 (semantic dedup). */
  private val kmeansCteSql: String = {
      val scale = VectorOps.QuantScale
      val dist = (qv: String, c: String) =>
        s"list_sum([($qv[i] - $c[i]) * ($qv[i] - $c[i]) FOR i IN range(1, len($qv) + 1)])"
      s"""WITH q AS (
         |  SELECT vec_id,
         |    [CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT) FOR x IN embedding] AS qv
         |  FROM embeddings
         |), c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |    qv AS cent
         |  FROM q ORDER BY vec_id LIMIT 4
         |), a0 AS (
         |  SELECT vec_id, qv, cid FROM (
         |    SELECT q.vec_id, q.qv, c.cid,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dist("q.qv", "c.cent")}, c.cid) AS rn
         |    FROM q, c0 c
         |  ) WHERE rn = 1
         |), e1 AS (
         |  SELECT cid,
         |    unnest([{'d': i - 1, 'v': qv[i]} FOR i IN range(1, len(qv) + 1)]) AS u
         |  FROM a0
         |), m1 AS (
         |  SELECT cid, u.d AS d, sum(u.v) AS s, count(*) AS cnt
         |  FROM e1 GROUP BY 1, 2
         |), c1 AS (
         |  SELECT cid,
         |    list(CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT) ORDER BY d) AS cent
         |  FROM m1 GROUP BY cid
         |), a1 AS (
         |  SELECT vec_id, cid, dist FROM (
         |    SELECT q.vec_id, c.cid, ${dist("q.qv", "c.cent")} AS dist,
         |      row_number() OVER (PARTITION BY q.vec_id
         |        ORDER BY ${dist("q.qv", "c.cent")}, c.cid) AS rn
         |    FROM q, c1 c
         |  ) WHERE rn = 1
         |)""".stripMargin
  }

  val kmeansIter = GateQuery(
    "q102_kmeans",
    Some(kmeansCteSql +
      s"""
         |SELECT cid AS centroid_id, count(*) AS n_vecs,
         |  CAST(sum(dist // ${VectorOps.QuantScale}) AS BIGINT) AS sum_dist_u,
         |  min(vec_id) AS min_vec
         |FROM a1 GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    VectorOps.kmeans(e, k = 4, iters = 1)
      .groupBy("centroid_id")
      .agg(count(lit(1)).as("n_vecs"),
        sum(VectorOps.floorDiv(col("dist"), lit(VectorOps.QuantScale)))
          .as("sum_dist_u"),
        min(col("vec_id")).as("min_vec"))
  }

  /**
   * q103 — semantic dedup (SemDeDup): cluster the corpus (k-means), then
   * find near-duplicates ONLY within (cluster × LSH bucket) — two
   * independent pruning keys compose, so candidate generation stays far
   * from n² even inside big clusters; exact cosine confirms. At 100 TB
   * the corpus is partitioned by cluster id and each pair join touches
   * one cell. Both pruning keys are SCALE KNOBS: per-bucket pairs grow as
   * (n/(k·2^planes))², so the cluster count follows the IVF rule
   * (k ∝ √n, [[graft.operators.VectorOps.recommendedCells]]) and the
   * plane count grows with log₂(n) — the gate's fixed (k, planes) pins
   * semantics at gate scale, not the production sizing.
   */
  val semanticDedup = GateQuery(
    "q103_semantic_dedup",
    Some {
      val sig = VectorOps.Sql.lshSignature("e.embedding", NearDupPlanes, 64)
      val cos = VectorOps.Sql.cosine("a.embedding", "b.embedding")
      kmeansCteSql +
        s""", members AS (
           |  SELECT a1.cid, a1.vec_id, e.embedding, $sig AS sig
           |  FROM a1 JOIN embeddings e USING (vec_id)
           |)
           |SELECT cid AS centroid_id, count(*) AS n_pairs,
           |  CAST(sum(CAST(cos AS DECIMAL(18,9))) AS DOUBLE) AS sum_cos,
           |  min(id_a) AS min_a, max(id_b) AS max_b
           |FROM (
           |  SELECT a.cid, a.vec_id AS id_a, b.vec_id AS id_b, $cos AS cos
           |  FROM members a JOIN members b
           |    ON a.cid = b.cid AND a.sig = b.sig AND a.vec_id < b.vec_id
           |)
           |WHERE cos >= 0.3
           |GROUP BY 1""".stripMargin
    }) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val m = VectorOps.kmeans(e, k = 4, iters = 1)
      .withColumn("sig", VectorOps.lshSignature(col("embedding"), NearDupPlanes, 64))
      .withColumn("n", VectorOps.norm(col("embedding")))
      .select("centroid_id", "vec_id", "embedding", "sig", "n")
    m.as("a").join(m.as("b"),
        col("a.centroid_id") === col("b.centroid_id") &&
          col("a.sig") === col("b.sig") && col("a.vec_id") < col("b.vec_id"))
      .withColumn("cos",
        VectorOps.dot(col("a.embedding"), col("b.embedding")) /
          (col("a.n") * col("b.n")))
      .filter(col("cos") >= 0.3)
      .groupBy(col("a.centroid_id").as("centroid_id"))
      .agg(count(lit(1)).as("n_pairs"),
        sum(col("cos").cast("decimal(18,9)")).cast("double").as("sum_cos"),
        min(col("a.vec_id")).as("min_a"), max(col("b.vec_id")).as("max_b"))
  }

  /**
   * q106 — product quantization + ADC search (the IVF-PQ compression
   * layout): docs store only m=4 codeword ids (codebooks = subspace
   * slices of the deterministic seed vectors), queries precompute m·k
   * codeword distances, and ranking uses table lookups only — the
   * original vectors never participate in search. Exact integer
   * arithmetic end to end; the oracle derives codebooks, codes, and ADC
   * ranks independently and every (query, rank, neighbor, distance) must
   * match.
   */
  val pqAdc = GateQuery(
    "q106_pq_adc",
    Some {
      val scale = VectorOps.QuantScale
      val sub = "qv[(s * 16 + 1):((s + 1) * 16)]"
      def d16(a: String, b: String) =
        s"list_sum([($a[(s * 16 + i)] - $b[i]) * ($a[(s * 16 + i)] - $b[i]) FOR i IN range(1, 17)])"
      s"""WITH q AS (
         |  SELECT vec_id,
         |    [CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT) FOR x IN embedding] AS qv
         |  FROM embeddings
         |), seeds AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS code, qv
         |  FROM q ORDER BY vec_id LIMIT 4
         |), sub AS (
         |  SELECT ss.s, seeds.code, $sub AS cw
         |  FROM seeds, (SELECT unnest([0, 1, 2, 3]) AS s) ss
         |), dcodes AS (
         |  SELECT vec_id, s, code FROM (
         |    SELECT d.vec_id, sub.s, sub.code,
         |      row_number() OVER (PARTITION BY d.vec_id, sub.s
         |        ORDER BY ${d16("d.qv", "sub.cw")}, sub.code) AS rn
         |    FROM q d, sub
         |  ) WHERE rn = 1
         |), qs AS (
         |  SELECT vec_id AS query_id, qv FROM q WHERE $QueryFilter
         |), qdt AS (
         |  SELECT query_id, sub.s, sub.code, ${d16("qs.qv", "sub.cw")} AS d
         |  FROM qs, sub
         |), adc AS (
         |  SELECT query_id, vec_id AS neighbor_id, CAST(sum(d) AS BIGINT) AS adc
         |  FROM dcodes JOIN qdt USING (s, code)
         |  GROUP BY 1, 2
         |)
         |SELECT query_id, rank, neighbor_id, adc FROM (
         |  SELECT query_id, neighbor_id, adc,
         |    row_number() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS rank
         |  FROM adc WHERE query_id <> neighbor_id
         |) WHERE rank <= 3""".stripMargin
    }) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val books = VectorOps.seedCodebooks(e, m = 4, k = 4, subDim = 16)
    val enc = VectorOps.pqEncode(e, books, subDim = 16)
    VectorOps.pqSearch(enc, e.filter(expr(QueryFilter)), books, subDim = 16, k = 3)
  }

  /**
   * q132 — ANN recall evaluation: the quality harness every approximate
   * index needs before it replaces the exact path. Exact recall@3 of the
   * IVF probe search (q85 configuration) against brute-force ground truth
   * on the same query set, reported as a per-hit-count histogram — a
   * wrong probe list, a distance bug, or a tie-break drift all move rows
   * between buckets. At 100 TB ground truth comes from exactly this
   * shape: brute force over a SAMPLED query set (the filter) while the
   * index answers from its cells; the comparison is two already-computed
   * top-k tables joined on (query, neighbor) — negligible next to either
   * search.
   */
  val annRecall = GateQuery(
    "q132_ann_recall",
    Some(ivfCtes +
      s""", ivf AS (
         |${ivfTop("query_id, neighbor_id")}
         |), truth AS (
         |  SELECT query_id, neighbor_id FROM (
         |    SELECT tq.vec_id AS query_id, tc.vec_id AS neighbor_id,
         |      row_number() OVER (PARTITION BY tq.vec_id ORDER BY
         |        ${VectorOps.Sql.cosine("tq.embedding", "tc.embedding")} DESC,
         |        tc.vec_id) AS rank
         |    FROM embeddings tq JOIN embeddings tc ON tq.vec_id <> tc.vec_id
         |    WHERE tq.${QueryFilter}
         |  ) WHERE rank <= 3
         |), hits AS (
         |  SELECT t.query_id,
         |    sum(CASE WHEN i.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |  FROM truth t LEFT JOIN ivf i
         |    ON t.query_id = i.query_id AND t.neighbor_id = i.neighbor_id
         |  GROUP BY 1
         |)
         |SELECT CAST(n_hit AS BIGINT) AS recall_hits,
         |  count(*) AS n_queries FROM hits GROUP BY 1""".stripMargin)) {
    (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    val queries = e.filter(expr(QueryFilter))
    val truth = VectorOps.bruteForceTopK(queries, e, 3)
      .select("query_id", "neighbor_id")
    val cents = VectorOps.centroids(e, "label", "embedding")
    val assigned = VectorOps.assignCentroids(e, cents)
      .select(col("centroid_id"), col("vec_id"), col("embedding"))
    val ivf = VectorOps.ivfSearch(assigned, queries, cents, nProbe = 3, k = 3)
      .select("query_id", "neighbor_id").withColumn("hit", lit(1))
    truth.join(ivf, Seq("query_id", "neighbor_id"), "left")
      .groupBy("query_id")
      .agg(sum(coalesce(col("hit"), lit(0)).cast("long")).as("recall_hits"))
      .groupBy("recall_hits").agg(count(lit(1)).as("n_queries"))
  }

  // ---- q171: hard-negative mining -------------------------------------

  /** Positive cutoff in int8-dot units (≈ cos 0.30 · 127² — the q84
    * near-dup regime): candidates at or above it are positives/dups and
    * excluded from the negative pool. */
  private val HardNegThr = 4800L

  /**
   * q171 — hard-negative mining for retrieval training (the DPR/ANCE
   * data-prep shape): per query, the top-3 most-similar candidates BELOW
   * the positive threshold — similar enough to be hard, not so similar
   * they're duplicates/positives. Runs on the int8-quantized corpus
   * (q96's exact-integer dot), so ranking and the exclusion boundary are
   * bit-exact cross-engine; each output row carries the query's excluded
   * positive count (witnesses the exclusion actually bit). At corpus
   * scale candidate generation swaps to the IVF probe path (q85) with
   * the same selection algebra — the gate pins that algebra on the exact
   * path.
   */
  val hardNegatives = GateQuery(
    "q171_hard_negatives",
    Some {
      val qv = VectorOps.Sql.quantizeInt8("embedding")
      val dq = VectorOps.Sql.dotQ("q.qq", "c.qq")
      s"""WITH qt AS (SELECT vec_id, $qv AS qq FROM embeddings),
         |cand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dq AS dotq
         |  FROM qt q JOIN qt c ON q.vec_id <> c.vec_id
         |  WHERE q.$QueryFilter
         |), ex AS (
         |  SELECT query_id,
         |    CAST(sum(CASE WHEN dotq >= $HardNegThr THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_pos_excluded
         |  FROM cand GROUP BY 1
         |)
         |SELECT query_id, rank, neighbor_id, dotq, n_pos_excluded FROM (
         |  SELECT query_id, neighbor_id, dotq,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY dotq DESC, neighbor_id) AS rank
         |  FROM cand WHERE dotq < $HardNegThr
         |) r JOIN ex USING (query_id) WHERE rank <= 3""".stripMargin
    }) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "embeddings")
    val qt = e.select(col("vec_id"), VectorOps.quantizeInt8(col("embedding")).as("qq"))
    val q = qt.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("qq").as("q_qq"))
    val cand = broadcast(q)
      .join(qt.select(col("vec_id").as("neighbor_id"), col("qq")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dotq", VectorOps.dotQ(col("q_qq"), col("qq")))
      .select("query_id", "neighbor_id", "dotq")
    val ex = cand.groupBy("query_id")
      .agg(sum(when(col("dotq") >= HardNegThr, 1L).otherwise(0L))
        .as("n_pos_excluded"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("dotq").desc, col("neighbor_id"))
    cand.filter(col("dotq") < HardNegThr)
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= 3)
      .join(broadcast(ex), Seq("query_id"))
      .select("query_id", "rank", "neighbor_id", "dotq", "n_pos_excluded")
  }

  // ---- q173: residual IVF-PQ ------------------------------------------

  /**
   * q173 — IVF-PQ proper ([[VectorOps.pqEncodeResidual]]/
   * [[VectorOps.pqSearchResidual]]): the q102 coarse quantizer assigns
   * every vector to a cell, codes quantize the RESIDUAL x − centroid
   * (what makes 4-codeword books accurate — residuals cluster near the
   * origin), and search probes the nProbe=2 nearest cells with a
   * PER-CELL ADC table built from the query's residual against that
   * cell's centroid — the structural difference from flat PQ (q106).
   * Exact integer arithmetic end to end; the oracle re-derives the
   * coarse quantizer (the shared q102 CTE chain), the residual
   * codebooks, every doc's codes, the probe set, and every ADC rank.
   */
  val ivfPq = GateQuery(
    "q173_ivf_pq",
    Some {
      def d16(a: String, b: String) =
        s"list_sum([($a[(s * 16 + i)] - $b[i]) * ($a[(s * 16 + i)] - $b[i]) FOR i IN range(1, 17)])"
      val dfull = (a: String, b: String) =>
        s"list_sum([($a[i] - $b[i]) * ($a[i] - $b[i]) FOR i IN range(1, len($a) + 1)])"
      kmeansCteSql +
        s""", av AS (
           |  SELECT a1.vec_id, a1.cid, q.qv FROM a1 JOIN q USING (vec_id)
           |), resd AS (
           |  SELECT av.vec_id, av.cid,
           |    [av.qv[i] - c.cent[i] FOR i IN range(1, len(av.qv) + 1)] AS rv
           |  FROM av JOIN c1 c ON c.cid = av.cid
           |), cw AS (
           |  SELECT ss.s,
           |    CAST(row_number() OVER (PARTITION BY ss.s ORDER BY r.vec_id) - 1
           |      AS BIGINT) AS code,
           |    r.rv[(ss.s * 16 + 1):((ss.s + 1) * 16)] AS cw
           |  FROM (SELECT vec_id, rv FROM resd ORDER BY vec_id LIMIT 4) r,
           |       (SELECT unnest([0, 1, 2, 3]) AS s) ss
           |), dcodes AS (
           |  SELECT vec_id, cid, s, code FROM (
           |    SELECT d.vec_id, d.cid, cw.s, cw.code,
           |      row_number() OVER (PARTITION BY d.vec_id, cw.s
           |        ORDER BY ${d16("d.rv", "cw.cw")}, cw.code) AS rn
           |    FROM resd d, cw
           |  ) WHERE rn = 1
           |), qs AS (
           |  SELECT vec_id AS query_id, qv FROM q WHERE $QueryFilter
           |), probes AS (
           |  SELECT query_id, cid, qv FROM (
           |    SELECT qs.query_id, c.cid, qs.qv,
           |      row_number() OVER (PARTITION BY qs.query_id
           |        ORDER BY ${dfull("qs.qv", "c.cent")}, c.cid) AS rn
           |    FROM qs, c1 c
           |  ) WHERE rn <= 2
           |), qres AS (
           |  SELECT p.query_id, p.cid,
           |    [p.qv[i] - c.cent[i] FOR i IN range(1, len(p.qv) + 1)] AS rv
           |  FROM probes p JOIN c1 c USING (cid)
           |), qdt AS (
           |  SELECT query_id, qres.cid, cw.s, cw.code,
           |    ${d16("qres.rv", "cw.cw")} AS d
           |  FROM qres, cw
           |), adc AS (
           |  SELECT qdt.query_id, dc.vec_id AS neighbor_id, dc.cid AS cell,
           |    CAST(sum(d) AS BIGINT) AS adc
           |  FROM dcodes dc JOIN qdt
           |    ON qdt.cid = dc.cid AND qdt.s = dc.s AND qdt.code = dc.code
           |  GROUP BY 1, 2, 3
           |)
           |SELECT query_id, rank, neighbor_id, cell, adc FROM (
           |  SELECT query_id, neighbor_id, cell, adc,
           |    row_number() OVER (PARTITION BY query_id
           |      ORDER BY adc, neighbor_id) AS rank
           |  FROM adc WHERE query_id <> neighbor_id
           |) WHERE rank <= 3""".stripMargin
    }) { (spark, dir) =>
    val e = Tables.load(spark, dir, "embeddings")
    // coarse quantizer = the q102 chain: seeds → a0 → integer-mean c1
    val a0 = VectorOps.kmeans(e, k = 4, iters = 0)
    val c1 = VectorOps.centroids(
      a0.select(col("centroid_id"), col("embedding")), "centroid_id", "embedding")
    val cents = c1.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)
    val a1 = VectorOps.assignCentroids(e, c1)
    // residual codebooks: residuals of the 4 smallest ids, engine-exact
    val baseRes = a1.orderBy("vec_id").limit(4)
      .select(VectorOps.residual(VectorOps.quantize(col("embedding")),
        col("centroid_id"), cents).as("rv"))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val books = (0 until 4).map(s => baseRes.map(_.slice(s * 16, (s + 1) * 16)))
    val enc = VectorOps.pqEncodeResidual(a1, cents, books, subDim = 16)
    VectorOps.pqSearchResidual(enc, e.filter(expr(QueryFilter)), cents, books,
      subDim = 16, nProbe = 2, k = 3)
  }

  // ---- q176: reciprocal-rank fusion -----------------------------------

  private val RrfDepth = 20
  private val RrfTopK = 3

  /**
   * q176 — hybrid retrieval by reciprocal-rank fusion
   * ([[graft.operators.Retrieval.rrfFuse]], Cormack et al. 2009): per
   * query, a DENSE ranking (exact int8 dots — at scale the q85 IVF probe)
   * and a LEXICAL ranking (integer token-Jaccard ppm — at scale the q162
   * BM25 index) each contribute their top-20; candidates fuse by
   * Σ 1000000 // (60 + rank) over the union and the gate pins the fused
   * top-3 with both source ranks (0 = absent from that list). Everything
   * after candidate generation touches only queries × depth rows.
   */
  val rrfFusion = GateQuery(
    "q176_rrf_fusion",
    Some {
      val qv = VectorOps.Sql.quantizeInt8("embedding")
      val dq = VectorOps.Sql.dotQ("q.qq", "c.qq")
      val toks = graft.operators.TextOps.Sql.tokens.format("text")
      val pl = graft.core.Hashing.Sql.portableLong _
      s"""WITH qt AS (SELECT vec_id, $qv AS qq FROM embeddings),
         |dcand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dq AS dotq
         |  FROM qt q JOIN qt c ON q.vec_id <> c.vec_id
         |  WHERE q.$QueryFilter
         |), dr AS (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dotq DESC, neighbor_id) AS r
         |  FROM dcand
         |), drk AS (SELECT * FROM dr WHERE r <= $RrfDepth),
         |dt AS (SELECT doc_id,
         |  list_distinct([${pl("t")} FOR t IN $toks]) AS ts FROM documents),
         |lcand AS (
         |  SELECT q.doc_id AS query_id, c.doc_id AS neighbor_id,
         |    1000000 * len(list_intersect(q.ts, c.ts))
         |      // (len(q.ts) + len(c.ts) - len(list_intersect(q.ts, c.ts))) AS jac
         |  FROM dt q JOIN dt c ON q.doc_id <> c.doc_id
         |  WHERE q.doc_id % 50 = 0
         |), lr AS (
         |  SELECT query_id, neighbor_id, row_number() OVER (
         |    PARTITION BY query_id ORDER BY jac DESC, neighbor_id) AS r
         |  FROM lcand
         |), lrk AS (SELECT * FROM lr WHERE r <= $RrfDepth),
         |fused AS (
         |  SELECT coalesce(d.query_id, l.query_id) AS query_id,
         |    coalesce(d.neighbor_id, l.neighbor_id) AS neighbor_id,
         |    (CASE WHEN d.r IS NULL THEN 0 ELSE 1000000 // (60 + d.r) END) +
         |    (CASE WHEN l.r IS NULL THEN 0 ELSE 1000000 // (60 + l.r) END)
         |      AS rrf_ppm,
         |    coalesce(d.r, 0) AS r_a, coalesce(l.r, 0) AS r_b
         |  FROM drk d FULL JOIN lrk l
         |    ON d.query_id = l.query_id AND d.neighbor_id = l.neighbor_id
         |)
         |SELECT query_id, CAST(rank AS INT) AS rank, neighbor_id,
         |  CAST(rrf_ppm AS BIGINT) AS rrf_ppm,
         |  CAST(r_a AS BIGINT) AS r_a, CAST(r_b AS BIGINT) AS r_b
         |FROM (SELECT *, row_number() OVER (
         |        PARTITION BY query_id ORDER BY rrf_ppm DESC, neighbor_id)
         |        AS rank FROM fused)
         |WHERE rank <= $RrfTopK""".stripMargin
    }, heavy = true) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.{Retrieval, TextOps}
    val e = Tables.load(spark, dir, "embeddings")
    val qt = e.select(col("vec_id"), VectorOps.quantizeInt8(col("embedding")).as("qq"))
    val dq = qt.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("qq").as("q_qq"))
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("dotq").desc, col("neighbor_id"))
    val drk = broadcast(dq)
      .join(qt.select(col("vec_id").as("neighbor_id"), col("qq")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dotq", VectorOps.dotQ(col("q_qq"), col("qq")))
      .withColumn("rank", row_number().over(wd))
      .filter(col("rank") <= RrfDepth)
      .select("query_id", "neighbor_id", "rank")
    // token sets as 60-bit hashes: the per-pair intersect then runs over
    // long arrays (one md5 per token per doc, never per pair)
    val dt = Tables.load(spark, dir, "documents")
      .select(col("doc_id"), array_distinct(transform(
        TextOps.tokens(col("text")),
        t => graft.core.Hashing.portableLong(t))).as("ts"))
    val ql = dt.filter(col("doc_id") % 50 === 0)
      .select(col("doc_id").as("query_id"), col("ts").as("q_ts"))
    val wl = Window.partitionBy(col("query_id"))
      .orderBy(col("jac").desc, col("neighbor_id"))
    val lrk = broadcast(ql)
      .join(dt.select(col("doc_id").as("neighbor_id"), col("ts")),
        col("query_id") =!= col("neighbor_id"))
      // |A∪B| = |A|+|B|−|∩| over the pre-distinct arrays: one
      // array_intersect per pair instead of intersect + a built union array
      .withColumn("_in", size(array_intersect(col("q_ts"), col("ts"))).cast("long"))
      .withColumn("jac", VectorOps.floorDiv(lit(1000000L) * col("_in"),
        size(col("q_ts")) + size(col("ts")) - col("_in")))
      .withColumn("rank", row_number().over(wl))
      .filter(col("rank") <= RrfDepth)
      .select("query_id", "neighbor_id", "rank")
    Retrieval.rrfFuse(drk, lrk, RrfTopK)
  }

  // ---- q177: maximal-marginal-relevance selection ---------------------

  private val MmrPool = 8
  private val MmrK = 3

  /**
   * q177 — MMR diversified selection
   * ([[graft.operators.Retrieval.mmrSelect]], Carbonell & Goldstein
   * 1998): per query take the dense top-8 pool, then greedily pick 3
   * maximizing λ·rel − (1−λ)·max-sim-to-selected with λ = 7/10 held as
   * an exact rational (the common denominator cancels in the argmax) —
   * the standard redundancy-penalized selection for RAG context packing
   * and eval-set construction. Pool relevances and pairwise sims are
   * exact int8 dots; the oracle replays all three greedy steps. Every
   * post-pool join is queries × pool² rows, corpus-independent.
   */
  val mmrSelect = GateQuery(
    "q177_mmr_select",
    Some {
      val qv = VectorOps.Sql.quantizeInt8("embedding")
      val dq = VectorOps.Sql.dotQ("q.qq", "c.qq")
      val sq = VectorOps.Sql.dotQ("x.qq", "y.qq")
      s"""WITH qt AS (SELECT vec_id, $qv AS qq FROM embeddings),
         |dcand AS (
         |  SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, $dq AS dotq
         |  FROM qt q JOIN qt c ON q.vec_id <> c.vec_id
         |  WHERE q.$QueryFilter
         |), pool AS (
         |  SELECT query_id, neighbor_id AS doc_id, dotq AS rel
         |  FROM (SELECT *, row_number() OVER (
         |    PARTITION BY query_id ORDER BY dotq DESC, neighbor_id) AS r
         |    FROM dcand)
         |  WHERE r <= $MmrPool
         |), sims AS (
         |  SELECT p1.query_id, p1.doc_id AS a, p2.doc_id AS b, $sq AS sim
         |  FROM pool p1 JOIN pool p2
         |    ON p1.query_id = p2.query_id AND p1.doc_id <> p2.doc_id
         |  JOIN qt x ON x.vec_id = p1.doc_id
         |  JOIN qt y ON y.vec_id = p2.doc_id
         |), sel1 AS (
         |  SELECT query_id, doc_id, m FROM (
         |    SELECT query_id, doc_id, 7 * rel AS m, row_number() OVER (
         |      PARTITION BY query_id ORDER BY 7 * rel DESC, doc_id) AS rn
         |    FROM pool) WHERE rn = 1
         |), c2 AS (
         |  SELECT p.query_id, p.doc_id, 7 * p.rel - 3 * s.sim AS m
         |  FROM pool p
         |  JOIN sel1 ON sel1.query_id = p.query_id AND p.doc_id <> sel1.doc_id
         |  JOIN sims s ON s.query_id = p.query_id AND s.a = p.doc_id
         |    AND s.b = sel1.doc_id
         |), sel2 AS (
         |  SELECT query_id, doc_id, m FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY m DESC, doc_id) AS rn
         |    FROM c2) WHERE rn = 1
         |), c3 AS (
         |  SELECT p.query_id, p.doc_id, 7 * p.rel - 3 * max(s.sim) AS m
         |  FROM pool p
         |  JOIN sel1 ON sel1.query_id = p.query_id
         |  JOIN sel2 ON sel2.query_id = p.query_id
         |  JOIN sims s ON s.query_id = p.query_id AND s.a = p.doc_id
         |    AND (s.b = sel1.doc_id OR s.b = sel2.doc_id)
         |  WHERE p.doc_id <> sel1.doc_id AND p.doc_id <> sel2.doc_id
         |  GROUP BY p.query_id, p.doc_id, p.rel
         |), sel3 AS (
         |  SELECT query_id, doc_id, m FROM (
         |    SELECT *, row_number() OVER (
         |      PARTITION BY query_id ORDER BY m DESC, doc_id) AS rn
         |    FROM c3) WHERE rn = 1
         |)
         |SELECT query_id, 1 AS pick, doc_id, CAST(m AS BIGINT) AS mmr_q FROM sel1
         |UNION ALL
         |SELECT query_id, 2 AS pick, doc_id, CAST(m AS BIGINT) AS mmr_q FROM sel2
         |UNION ALL
         |SELECT query_id, 3 AS pick, doc_id, CAST(m AS BIGINT) AS mmr_q FROM sel3
         |""".stripMargin
    }, heavy = true) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    import graft.operators.Retrieval
    val e = Tables.load(spark, dir, "embeddings")
    val qt = e.select(col("vec_id"), VectorOps.quantizeInt8(col("embedding")).as("qq"))
    val dq = qt.filter(expr(QueryFilter))
      .select(col("vec_id").as("query_id"), col("qq").as("q_qq"))
    val wd = Window.partitionBy(col("query_id"))
      .orderBy(col("dotq").desc, col("neighbor_id"))
    val pool = broadcast(dq)
      .join(qt.select(col("vec_id").as("neighbor_id"), col("qq")),
        col("query_id") =!= col("neighbor_id"))
      .withColumn("dotq", VectorOps.dotQ(col("q_qq"), col("qq")))
      .withColumn("r", row_number().over(wd))
      .filter(col("r") <= MmrPool)
      .select(col("query_id"), col("neighbor_id").as("doc_id"),
        col("dotq").as("rel"))
      .persist()
    val mem = pool.select("query_id", "doc_id")
      .join(qt.withColumnRenamed("vec_id", "doc_id"), Seq("doc_id"))
    val sims = mem.select(col("query_id"), col("doc_id").as("a"), col("qq").as("qa"))
      .join(mem.select(col("query_id"), col("doc_id").as("b"), col("qq").as("qb")),
        Seq("query_id"))
      .filter(col("a") =!= col("b"))
      .withColumn("sim", VectorOps.dotQ(col("qa"), col("qb")))
      .select("query_id", "a", "b", "sim")
      .persist()
    val out = Retrieval.mmrSelect(pool, sims, MmrK, lamNum = 7L, lamDen = 10L)
      .persist()
    out.count()
    pool.unpersist(); sims.unpersist()
    out
  }

  // ---- q186: incremental (mini-batch) k-means -------------------------

  /**
   * q186 — incremental k-means by mergeable batch sums
   * ([[VectorOps.centroidSums]]/[[VectorOps.mergeStates]]/
   * [[VectorOps.stateCentroids]], the Sculley 2010 web-scale k-means
   * update held as exact sums): the model trains on batch 1 (even ids:
   * seed → assign → state), then batch 2 (odd ids) ASSIGNS TO THE
   * CURRENT centroids and folds its sums in — no re-read, no re-assign
   * of batch 1, the streaming/append path IVF index maintenance needs.
   * Because the state is a commutative monoid (sums + counts), shard
   * states fold independently at any parallelism. The gate pins per
   * centroid: batch-1 count, batch-2 count, the UPDATED centroid vector
   * (exact floor(sums/cnt)) and batch-2 distance mass; the oracle
   * replays seeds, both assignments and the merge bit-for-bit.
   */
  val kmeansIncrement = GateQuery(
    "q186_kmeans_increment",
    Some {
      val scale = VectorOps.QuantScale
      val dist = (qv: String, c: String) =>
        s"list_sum([($qv[i] - $c[i]) * ($qv[i] - $c[i]) FOR i IN range(1, len($qv) + 1)])"
      val fdiv = "CAST((s - ((s % cnt) + cnt) % cnt) / cnt AS BIGINT)"
      s"""WITH q AS (
         |  SELECT vec_id,
         |    [CAST(floor(CAST(x AS DOUBLE) * $scale) AS BIGINT) FOR x IN embedding] AS qv
         |  FROM embeddings
         |), b1 AS (SELECT * FROM q WHERE vec_id % 2 = 0
         |), b2 AS (SELECT * FROM q WHERE vec_id % 2 = 1
         |), c0 AS (
         |  SELECT CAST(row_number() OVER (ORDER BY vec_id) - 1 AS BIGINT) AS cid,
         |    qv AS cent
         |  FROM b1 ORDER BY vec_id LIMIT 4
         |), a0 AS (
         |  SELECT vec_id, qv, cid FROM (
         |    SELECT b.vec_id, b.qv, c.cid,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${dist("b.qv", "c.cent")}, c.cid) AS rn
         |    FROM b1 b, c0 c
         |  ) WHERE rn = 1
         |), s1 AS (
         |  SELECT cid, u.d AS d, sum(u.v) AS s, count(*) AS cnt
         |  FROM (SELECT cid,
         |          unnest([{'d': i - 1, 'v': qv[i]} FOR i IN range(1, len(qv) + 1)]) AS u
         |        FROM a0)
         |  GROUP BY 1, 2
         |), c1 AS (
         |  SELECT cid, list($fdiv ORDER BY d) AS cent FROM s1 GROUP BY cid
         |), a2 AS (
         |  SELECT vec_id, qv, cid, dist FROM (
         |    SELECT b.vec_id, b.qv, c.cid, ${dist("b.qv", "c.cent")} AS dist,
         |      row_number() OVER (PARTITION BY b.vec_id
         |        ORDER BY ${dist("b.qv", "c.cent")}, c.cid) AS rn
         |    FROM b2 b, c1 c
         |  ) WHERE rn = 1
         |), s2 AS (
         |  SELECT cid, u.d AS d, sum(u.v) AS s, count(*) AS cnt
         |  FROM (SELECT cid,
         |          unnest([{'d': i - 1, 'v': qv[i]} FOR i IN range(1, len(qv) + 1)]) AS u
         |        FROM a2)
         |  GROUP BY 1, 2
         |), sm AS (
         |  SELECT cid, d, sum(s) AS s, sum(cnt) AS cnt
         |  FROM (SELECT * FROM s1 UNION ALL SELECT * FROM s2)
         |  GROUP BY 1, 2
         |), c2 AS (
         |  SELECT cid, list($fdiv ORDER BY d) AS cent, min(cnt) AS cnt
         |  FROM sm GROUP BY cid
         |), n1 AS (SELECT cid, min(cnt) AS n_old FROM s1 GROUP BY cid
         |), n2 AS (
         |  SELECT cid, count(*) AS n_new,
         |    CAST(sum(dist // $scale) AS BIGINT) AS sum_dist_u
         |  FROM a2 GROUP BY cid
         |)
         |SELECT c2.cid AS centroid_id,
         |  CAST(coalesce(n_old, 0) AS BIGINT) AS n_old,
         |  CAST(coalesce(n_new, 0) AS BIGINT) AS n_new,
         |  array_to_string(c2.cent, ',') AS cent_str,
         |  CAST(coalesce(sum_dist_u, 0) AS BIGINT) AS sum_dist_u
         |FROM c2 LEFT JOIN n1 USING (cid) LEFT JOIN n2 USING (cid)""".stripMargin
    }, heavy = true) { (spark, dir) =>
    import org.apache.spark.sql.expressions.Window
    val e = Tables.load(spark, dir, "embeddings")
    val b1 = e.filter(col("vec_id") % 2 === 0)
    val b2 = e.filter(col("vec_id") % 2 === 1)
    val c0 = b1.orderBy("vec_id").limit(4)
      .withColumn("cid",
        (row_number().over(Window.orderBy(col("vec_id"))) - 1).cast("long"))
      .select(col("cid").as("centroid_id"),
        VectorOps.quantize(col("embedding")).as("centroid"))
    val a0 = VectorOps.assignCentroids(b1, c0)
    val st1 = VectorOps.centroidSums(a0, "centroid_id", "embedding").persist()
    val a2 = VectorOps.assignCentroids(b2, VectorOps.stateCentroids(st1))
      .persist()
    val st2 = VectorOps.mergeStates(st1,
      VectorOps.centroidSums(a2, "centroid_id", "embedding"))
    val n2 = a2.groupBy("centroid_id")
      .agg(count(lit(1)).as("n_new"),
        sum(VectorOps.floorDiv(col("dist"), lit(VectorOps.QuantScale)))
          .as("sum_dist_u"))
    val out = VectorOps.stateCentroids(st2)
      .join(st1.select(col("centroid_id"), col("cnt").as("n_old")),
        Seq("centroid_id"), "left")
      .join(n2, Seq("centroid_id"), "left")
      .select(col("centroid_id"),
        coalesce(col("n_old"), lit(0L)).as("n_old"),
        coalesce(col("n_new"), lit(0L)).as("n_new"),
        concat_ws(",", col("centroid")).as("cent_str"),
        coalesce(col("sum_dist_u"), lit(0L)).as("sum_dist_u"))
      .persist()
    out.count()
    st1.unpersist(); a2.unpersist()
    out
  }

  def all: Seq[GateQuery] =
    Seq(knnBrute, lshAnn, lshBuckets, centroidAssign, cosineNearDup,
      embeddingDupClusters, ivfSearch, int8Knn, kmeansIter, semanticDedup,
      pqAdc, annRecall, hardNegatives, ivfPq, rrfFusion, mmrSelect,
      kmeansIncrement)
}
