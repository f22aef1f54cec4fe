package graft.queries

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.LongType
import graft.core.{CdcStream, Hashing, SchemaRegistry, Tables}
import graft.operators.{Codecs, Multimodal, Transforms}

/**
 * Gate queries for schema versioning (J2/G1), the continuous validator
 * (V5/J3), multimodal plumbing, claim-check large-message handling (C5),
 * and column-shaping operators (D6/D8).
 */
object ExtraQueries {

  private val cte = CdcStream.sqlCte

  /** J2 — as-of schema binding: events bind to the version in force at
    * their commit ts (3 deterministic versions per table). */
  val schemaAsof = GateQuery(
    "q72_schema_asof",
    Some(cte +
      """SELECT schema_name, table_name,
        |  CASE WHEN commit_ts >= 1005000 THEN 3
        |       WHEN commit_ts >= 1002000 THEN 2 ELSE 1 END AS schema_version,
        |  count(*) AS cnt, min(commit_ts) AS min_ts, max(commit_ts) AS max_ts
        |FROM cdc GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val base = new StructType().add("pk", LongType).add("val", DoubleType)
    val versions = for {
      s <- Seq("db_0", "db_1"); t <- Seq("tbl_0", "tbl_1", "tbl_2", "tbl_3")
      (v, from) <- Seq((1, 0L), (2, 1002000L), (3, 1005000L))
    } yield SchemaRegistry.TableVersion(s, t, v, from,
      if (v == 1) base else base.add(s"c$v", StringType))
    SchemaRegistry.bindSchemaVersion(CdcStream.derive(spark, dir), versions)
      .groupBy("schema_name", "table_name", "schema_version")
      .agg(count(lit(1)).as("cnt"),
        min(col("commit_ts")).as("min_ts"), max(col("commit_ts")).as("max_ts"))
  }

  /** The validator scenario's live expected-row set, shared by q53 and
    * q288 (one definition so the two gates cannot drift): compacted net
    * images per PK from the split change stream, minus rows whose net
    * effect is absence (I..D round trips and trailing deletes). */
  private def liveExpected(spark: org.apache.spark.sql.SparkSession,
                           dir: String): org.apache.spark.sql.DataFrame = {
    val split = Transforms.updateSplit(CdcStream.derive(spark, dir))
    val expected = split.groupBy("schema_name", "table_name", "pk").agg(
      max_by(coalesce(col("val_after"), lit(-1d)), col("seq")).as("exp_val"),
      min_by(col("op"), col("seq")).as("first_op"),
      max_by(col("op"), col("seq")).as("last_op"))
    expected.filter(
      !(col("first_op") === "I" && col("last_op") === "D") &&
        col("last_op") =!= "D")
  }

  /**
   * V5/J3 — continuous-validator core: expected row images (from the
   * compacted change stream) batch-compared against the "downstream" state
   * by PK. Downstream = deterministic perturbation (drops pk%151=0,
   * corrupts val for pk%97=0), so both engines derive it independently.
   * Verdicts mirror validate_worker.go:282-440: missing (expected but
   * absent), mismatch (value differs), delete_leak (should be absent but
   * present is not derivable without a target DB — covered by 'extra').
   */
  val validator = GateQuery(
    "q53_validator",
    Some(CdcQueries.splitCte +
      """, expected AS (
        |  SELECT schema_name, table_name, pk,
        |    arg_max(coalesce(val_after, -1), seq) AS exp_val,
        |    arg_min(op, seq) AS first_op, arg_max(op, seq) AS last_op
        |  FROM split GROUP BY 1, 2, 3
        |), live AS (
        |  SELECT * FROM expected
        |  WHERE NOT (first_op = 'I' AND last_op = 'D') AND last_op <> 'D'
        |), target AS (
        |  SELECT schema_name, table_name, pk,
        |    CASE WHEN pk % 97 = 0 THEN exp_val + 1 ELSE exp_val END AS tgt_val
        |  FROM live WHERE pk % 151 <> 0
        |)
        |SELECT l.schema_name, l.table_name,
        |  CAST(sum(CASE WHEN t.pk IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_missing,
        |  CAST(sum(CASE WHEN t.pk IS NOT NULL AND l.exp_val <> t.tgt_val THEN 1 ELSE 0 END) AS BIGINT) AS n_mismatch,
        |  CAST(sum(CASE WHEN t.pk IS NOT NULL AND l.exp_val = t.tgt_val THEN 1 ELSE 0 END) AS BIGINT) AS n_ok
        |FROM live l LEFT JOIN target t
        |  ON l.schema_name = t.schema_name AND l.table_name = t.table_name AND l.pk = t.pk
        |GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    val live = liveExpected(spark, dir)
      .select("schema_name", "table_name", "pk", "exp_val")
    val target = live.filter(col("pk") % 151 =!= 0)
      .withColumn("tgt_val",
        when(col("pk") % 97 === 0, col("exp_val") + 1).otherwise(col("exp_val")))
      .select("schema_name", "table_name", "pk", "tgt_val")
    live.join(target, Seq("schema_name", "table_name", "pk"), "left")
      .groupBy("schema_name", "table_name")
      .agg(
        sum(when(col("tgt_val").isNull, 1L).otherwise(0L)).as("n_missing"),
        sum(when(col("tgt_val").isNotNull && col("exp_val") =!= col("tgt_val"), 1L)
          .otherwise(0L)).as("n_mismatch"),
        sum(when(col("tgt_val").isNotNull && col("exp_val") === col("tgt_val"), 1L)
          .otherwise(0L)).as("n_ok"))
  }

  /** Multimodal — typed mapPartitions decode stub must equal the pure-SQL
    * feature derivation (oracle). `frame_offsets` is emitted as a
    * comma-joined string: the driver's pandas-based hasher cannot sort
    * array-typed cells. */
  val mediaFeatures = GateQuery(
    "q90_media_features",
    Some("""SELECT doc_id AS media_id,
           |  ['image', 'audio', 'video'][CAST(doc_id % 3 + 1 AS INT)] AS kind,
           |  CAST(length(text) AS BIGINT) AS byte_len,
           |  ascii(substr(text, 1, 1)) AS head_byte,
           |  CAST(('0x' || substr(md5(text), 1, 15)) AS BIGINT) AS phash,
           |  array_to_string([CAST(i * (length(text) // 4) AS BIGINT) FOR i IN range(0, 4)], ',') AS frame_offsets
           |FROM documents""".stripMargin)) { (spark, dir) =>
    val media = Multimodal.mediaTable(Tables.load(spark, dir, "documents"))
    Multimodal.decodeFeatures(spark, media).toDF()
      .withColumn("frame_offsets",
        array_join(col("frame_offsets").cast("array<string>"), ","))
  }

  /** REAL image decode: PNG fixtures are encoded on the executors from a
    * closed-form pixel function of the id, decoded back with
    * `javax.imageio` ([[graft.operators.Multimodal.decodeImageFeatures]]),
    * and the decoded luma statistics must equal the oracle's independent
    * recomputation of the SAME closed form (PNG is lossless — one flipped
    * pixel anywhere fails the hash). Every 7th document to keep the
    * fixture set ~71 images at gate scale. */
  val imageDecode = GateQuery(
    "q120_image_decode",
    Some("""WITH ids AS (
           |  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
           |  FROM documents WHERE doc_id % 7 = 0
           |), pix AS (
           |  SELECT media_id, w, h,
           |    (299 * ((media_id + 3*x.x + 7*y.y) % 256)
           |     + 587 * ((2*media_id + 5*x.x + y.y) % 256)
           |     + 114 * ((3*media_id + x.x + 11*y.y) % 256)) // 1000 AS luma,
           |    ((media_id + 3*x.x + 7*y.y) % 256)
           |     + ((2*media_id + 5*x.x + y.y) % 256)
           |     + ((3*media_id + x.x + 11*y.y) % 256) AS psum
           |  FROM ids, range(0, 17) x(x), range(0, 15) y(y)
           |  WHERE x.x < w AND y.y < h
           |)
           |SELECT media_id, CAST(max(w) AS INT) AS width,
           |  CAST(max(h) AS INT) AS height, CAST(3 AS INT) AS channels,
           |  CAST(sum(luma) // count(*) AS BIGINT) AS mean_luma,
           |  CAST(sum(CASE WHEN luma < 64 THEN 1 ELSE 0 END) AS BIGINT) AS n_dark,
           |  CAST(sum(CASE WHEN luma >= 192 THEN 1 ELSE 0 END) AS BIGINT) AS n_bright,
           |  CAST(sum(psum) AS BIGINT) AS pix_sum
           |FROM pix GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val ids = Tables.load(spark, dir, "documents").filter(col("doc_id") % 7 === 0)
    Multimodal.decodeImageFeatures(spark, Multimodal.pngTable(spark, ids)).toDF()
  }

  /** REAL image resize: the q120 PNG fixtures are decoded and nearest-
    * neighbor downscaled to 4×3 ([[graft.operators.Multimodal.resizeImageFeatures]]);
    * the sampled-pixel statistics (mean luma, channel sum, both corner
    * lumas) must equal the oracle's independent evaluation of the SAME
    * closed-form source at the SAME integer sampling positions
    * (⌊x'·w/4⌋, ⌊y'·h/3⌋) — a wrong sampling map, axis swap, or
    * off-by-one moves some image's row. */
  val imageResize = GateQuery(
    "q149_image_resize",
    Some("""WITH ids AS (
           |  SELECT doc_id AS media_id, 8 + doc_id % 9 AS w, 8 + doc_id % 7 AS h
           |  FROM documents WHERE doc_id % 7 = 0
           |), pos AS (
           |  SELECT media_id, w, h, (x.x * w) // 4 AS sx, (y.y * h) // 3 AS sy
           |  FROM ids, range(0, 4) x(x), range(0, 3) y(y)
           |), pix AS (
           |  SELECT media_id, w, h, sx, sy,
           |    (299 * ((media_id + 3*sx + 7*sy) % 256)
           |     + 587 * ((2*media_id + 5*sx + sy) % 256)
           |     + 114 * ((3*media_id + sx + 11*sy) % 256)) // 1000 AS luma,
           |    ((media_id + 3*sx + 7*sy) % 256)
           |     + ((2*media_id + 5*sx + sy) % 256)
           |     + ((3*media_id + sx + 11*sy) % 256) AS psum
           |  FROM pos
           |)
           |SELECT media_id, CAST(4 AS INT) AS out_w, CAST(3 AS INT) AS out_h,
           |  CAST(sum(luma) // 12 AS BIGINT) AS mean_luma,
           |  CAST(sum(psum) AS BIGINT) AS pix_sum,
           |  CAST(max(CASE WHEN sx = 0 AND sy = 0 THEN luma END) AS BIGINT) AS tl_luma,
           |  CAST(max(CASE WHEN sx = (3 * w) // 4 AND sy = (2 * h) // 3
           |           THEN luma END) AS BIGINT) AS br_luma
           |FROM pix GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val ids = Tables.load(spark, dir, "documents").filter(col("doc_id") % 7 === 0)
    Multimodal.resizeImageFeatures(
      spark, Multimodal.pngTable(spark, ids), 4, 3).toDF()
  }

  /** REAL audio decode: WAV fixtures are encoded on the executors from a
    * closed-form PCM sample function of the id, decoded back with
    * `javax.sound.sampled` ([[graft.operators.Multimodal.decodeAudioFeatures]]
    * — format fields read from the decoder, not assumed), and the decoded
    * integer sample statistics must equal the oracle's independent
    * recomputation of the SAME closed form (PCM is lossless — one flipped
    * sample anywhere fails the hash). Every 5th document → ~100 clips at
    * gate scale. */
  val audioDecode = GateQuery(
    "q127_audio_decode",
    Some("""WITH ids AS (
           |  SELECT doc_id AS media_id, 240 + doc_id % 64 AS n
           |  FROM documents WHERE doc_id % 5 = 0
           |), samp AS (
           |  SELECT media_id, n, i.i AS i,
           |    ((media_id * 31 + i.i * 17) % 65536) - 32768 AS s
           |  FROM ids, range(0, 304) i(i) WHERE i.i < n
           |), lagd AS (
           |  SELECT media_id, n, s,
           |    lag(s) OVER (PARTITION BY media_id ORDER BY i) AS ps
           |  FROM samp
           |)
           |SELECT media_id, CAST(8000 AS INT) AS sample_rate,
           |  CAST(1 AS INT) AS channels, CAST(16 AS INT) AS bits,
           |  CAST(max(n) AS BIGINT) AS n_frames,
           |  CAST(sum(abs(s)) AS BIGINT) AS sum_abs,
           |  CAST(sum(s * s) AS BIGINT) AS sum_sq,
           |  CAST(sum(CASE WHEN ps IS NOT NULL AND ((s >= 0) <> (ps >= 0))
           |           THEN 1 ELSE 0 END) AS BIGINT) AS zero_cross
           |FROM lagd GROUP BY 1""".stripMargin)) { (spark, dir) =>
    val ids = Tables.load(spark, dir, "documents").filter(col("doc_id") % 5 === 0)
    Multimodal.decodeAudioFeatures(spark, Multimodal.wavTable(spark, ids)).toDF()
  }

  /** REAL video frame sampling: GFV1 containers (length-prefixed PNG
    * frames, closed-form pixels per frame) are built on the executors,
    * then [[graft.operators.Multimodal.sampleVideoFrames]] strides the
    * index decoding ONLY every 2nd frame; per-frame decoded luma stats
    * must equal the oracle's recomputation for exactly the sampled frame
    * indices (a stride bug changes the row set, a decode bug changes the
    * values). Every 19th document → ~26 containers at gate scale. */
  val videoFrames = GateQuery(
    "q128_video_frames",
    Some("""WITH ids AS (
           |  SELECT doc_id AS media_id, 3 + doc_id % 4 AS nf
           |  FROM documents WHERE doc_id % 19 = 0
           |), frames AS (
           |  SELECT media_id, f.f AS frame_idx, media_id * 100 + f.f AS fid,
           |    8 + (media_id * 100 + f.f) % 9 AS w,
           |    8 + (media_id * 100 + f.f) % 7 AS h
           |  FROM ids, range(0, 7) f(f) WHERE f.f < nf AND f.f % 2 = 0
           |), pix AS (
           |  SELECT media_id, frame_idx, w, h,
           |    (299 * ((fid + 3*x.x + 7*y.y) % 256)
           |     + 587 * ((2*fid + 5*x.x + y.y) % 256)
           |     + 114 * ((3*fid + x.x + 11*y.y) % 256)) // 1000 AS luma,
           |    ((fid + 3*x.x + 7*y.y) % 256)
           |     + ((2*fid + 5*x.x + y.y) % 256)
           |     + ((3*fid + x.x + 11*y.y) % 256) AS psum
           |  FROM frames, range(0, 17) x(x), range(0, 15) y(y)
           |  WHERE x.x < w AND y.y < h
           |)
           |SELECT media_id, CAST(frame_idx AS INT) AS frame_idx,
           |  CAST(max(w) AS INT) AS width, CAST(max(h) AS INT) AS height,
           |  CAST(sum(luma) // count(*) AS BIGINT) AS mean_luma,
           |  CAST(sum(psum) AS BIGINT) AS pix_sum
           |FROM pix GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    val ids = Tables.load(spark, dir, "documents").filter(col("doc_id") % 19 === 0)
    Multimodal.sampleVideoFrames(spark, Multimodal.videoTable(spark, ids)).toDF()
  }

  /**
   * L2 (load unit) — chunked full load with per-chunk checkpoint RESUME
   * (q138; reference dm/loader/checkpoint.go): pass 1 completes three
   * chunks and then "crashes" mid-chunk-3 (half its rows on disk, no
   * checkpoint marker); pass 2 resumes, skips the three checkpointed
   * chunks, and rewrites the partial chunk from scratch plus the rest.
   * The gate reads the assembled table back per chunk: the pass
   * assignment pins that resume did ONLY the remaining work, and the
   * per-chunk counts/key sums pin that the crash-mid-chunk rewrite never
   * double-loaded a row — the loader restart contract, exactly-once per
   * chunk.
   */
  val chunkedLoad = GateQuery(
    "q138_chunked_load",
    Some("""WITH b AS (SELECT min(o_orderkey) AS lo, max(o_orderkey) AS hi
           |  FROM orders),
           |c AS (
           |  SELECT least(7, ((o_orderkey - lo) * 8) // (hi - lo + 1)) AS chunk,
           |    o_orderkey FROM orders, b
           |)
           |SELECT CAST(chunk AS INT) AS chunk,
           |  CAST(CASE WHEN chunk < 3 THEN 1 ELSE 2 END AS INT) AS pass,
           |  count(*) AS n_rows, CAST(sum(o_orderkey) AS BIGINT) AS sum_key
           |FROM c GROUP BY 1, 2""".stripMargin), heavy = true) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.Loader
    val src = Tables.load(spark, dir, "orders")
    val (base, _) = graft.queries.Gate.freshScratch("graft_load_", dir)
    val dest = s"$base/load"
    val pass1 = Loader.loadChunks(spark, src, "o_orderkey", nChunks = 8,
      destDir = dest, completeAtMost = 3, partialNext = true)
    val pass2 = Loader.loadChunks(spark, src, "o_orderkey", nChunks = 8,
      destDir = dest)
    val passOf = (pass1.map(_ -> 1) ++ pass2.map(_ -> 2)).toMap
    val passDf = passOf.toSeq.toDF("chunk", "pass")
    Loader.readLoaded(spark, dest, nChunks = 8)
      .groupBy(col("_chunk").as("chunk"))
      .agg(count(lit(1)).as("n_rows"), sum(col("o_orderkey")).as("sum_key"))
      .join(passDf, "chunk")
      .select("chunk", "pass", "n_rows", "sum_key")
  }

  /** C5 — claim-check / large-message handling: oversized encoded messages
    * are replaced by a storage reference; small ones pass inline (reference
    * pkg/sink/kafka/claimcheck/claim_check.go, handle-key-only downgrade
    * open_protocol_encoder.go:43-80). */
  val claimCheck = GateQuery(
    "q47_claim_check",
    Some(cte +
      s"""SELECT is_claim, count(*) AS cnt, CAST(sum(msg_len) AS BIGINT) AS sum_len FROM (
         |  SELECT length(msg) AS msg_len,
         |    CASE WHEN length(msg) > 90 THEN 1 ELSE 0 END AS is_claim
         |  FROM (
         |    SELECT to_json(struct_pack(
         |      u := CASE WHEN op <> 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_after AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END,
         |      d := CASE WHEN op = 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_before AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END
         |    )) AS msg FROM cdc
         |  )
         |) GROUP BY is_claim""".stripMargin)) { (spark, dir) =>
    val df = CdcStream.derive(spark, dir)
    val msg = Codecs.openProtocolValue(df)
    df.select(length(msg).as("msg_len"),
        when(length(msg) > 90, 1).otherwise(0).as("is_claim"))
      .groupBy("is_claim")
      .agg(count(lit(1)).as("cnt"), sum(col("msg_len")).as("sum_len"))
  }

  /**
   * C5 (downgrade half) — handle-key-only fallback for oversized messages:
   * values longer than the cap re-encode with only the handle column and
   * the key gains `"ohk":true` (open_protocol_encoder.go:43-80). The gate
   * groups by downgrade flag and pins counts and exact byte lengths of the
   * FINAL key and value messages.
   */
  val handleKeyOnly = GateQuery(
    "q47b_handle_key_only",
    Some(cte +
      s"""SELECT ohk, count(*) AS cnt,
         |  CAST(sum(length(key_msg)) AS BIGINT) AS sum_key_len,
         |  CAST(sum(length(val_msg)) AS BIGINT) AS sum_val_len
         |FROM (
         |  SELECT
         |    CASE WHEN length(full_val) > 90 THEN 1 ELSE 0 END AS ohk,
         |    CASE WHEN length(full_val) > 90 THEN to_json(struct_pack(
         |           ts := commit_ts, scm := schema_name, tbl := table_name,
         |           t := 1, ohk := true))
         |         ELSE to_json(struct_pack(
         |           ts := commit_ts, scm := schema_name, tbl := table_name,
         |           t := 1)) END AS key_msg,
         |    CASE WHEN length(full_val) > 90 THEN to_json(struct_pack(
         |           u := CASE WHEN op <> 'D'
         |                THEN struct_pack(pk := struct_pack(t := 8, v := pk))
         |                ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT))) END,
         |           d := CASE WHEN op = 'D'
         |                THEN struct_pack(pk := struct_pack(t := 8, v := pk))
         |                ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT))) END))
         |         ELSE full_val END AS val_msg
         |  FROM (
         |    SELECT *, to_json(struct_pack(
         |      u := CASE WHEN op <> 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_after AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END,
         |      d := CASE WHEN op = 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_before AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END
         |    )) AS full_val FROM cdc
         |  )
         |) GROUP BY ohk""".stripMargin)) { (spark, dir) =>
    val df = CdcStream.derive(spark, dir)
    val (key, value) = Codecs.openProtocolWithDowngrade(df, maxBytes = 90)
    df.select(
        when(length(Codecs.openProtocolValue(df)) > 90, 1).otherwise(0).as("ohk"),
        key.as("key_msg"), value.as("val_msg"))
      .groupBy("ohk")
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("key_msg"))).as("sum_key_len"),
        sum(length(col("val_msg"))).as("sum_val_len"))
  }

  /**
   * C5 (claim-check side-write) — the full claim-check path: oversized
   * messages keep the handle-key-only value, the key gains the
   * `"ccl":"<location>"` claim-check address, and the wrapped
   * `{"key":…,"value":…}` payload (base64 bytes, common/message.go
   * ClaimCheckMessage) is what lands in external storage. The gate pins
   * counts, EXACT final key/value bytes, exact payload bytes, and that
   * content-addressed locations are unique per distinct message.
   */
  val claimCheckWrite = GateQuery(
    "q47c_claim_check_write",
    Some(cte +
      s"""SELECT is_claim, count(*) AS cnt,
         |  CAST(sum(length(key_msg)) AS BIGINT) AS sum_key_len,
         |  CAST(sum(length(val_msg)) AS BIGINT) AS sum_val_len,
         |  CAST(coalesce(sum(length(payload)), 0) AS BIGINT) AS sum_payload_len,
         |  count(DISTINCT loc) AS n_objects
         |FROM (
         |  SELECT
         |    CASE WHEN length(full_val) > 90 THEN 1 ELSE 0 END AS is_claim,
         |    CASE WHEN length(full_val) > 90 THEN to_json(struct_pack(
         |           ts := commit_ts, scm := schema_name, tbl := table_name,
         |           t := 1,
         |           ccl := 'cc/' || md5(plain_key || full_val) || '.json'))
         |         ELSE plain_key END AS key_msg,
         |    CASE WHEN length(full_val) > 90 THEN to_json(struct_pack(
         |           u := CASE WHEN op <> 'D'
         |                THEN struct_pack(pk := struct_pack(t := 8, v := pk))
         |                ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT))) END,
         |           d := CASE WHEN op = 'D'
         |                THEN struct_pack(pk := struct_pack(t := 8, v := pk))
         |                ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT))) END))
         |         ELSE full_val END AS val_msg,
         |    CASE WHEN length(full_val) > 90
         |         THEN 'cc/' || md5(plain_key || full_val) || '.json' END AS loc,
         |    CASE WHEN length(full_val) > 90
         |         THEN '{"key":"' || to_base64(encode(plain_key))
         |           || '","value":"' || to_base64(encode(full_val)) || '"}' END AS payload
         |  FROM (
         |    SELECT *,
         |      to_json(struct_pack(ts := commit_ts, scm := schema_name,
         |                          tbl := table_name, t := 1)) AS plain_key,
         |      to_json(struct_pack(
         |      u := CASE WHEN op <> 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_after AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END,
         |      d := CASE WHEN op = 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_before AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END
         |    )) AS full_val FROM cdc
         |  )
         |) GROUP BY is_claim""".stripMargin)) { (spark, dir) =>
    val df = CdcStream.derive(spark, dir)
    val (key, value, loc, payload) =
      Codecs.openProtocolWithClaimCheck(df, maxBytes = 90, storagePrefix = "cc")
    df.select(
        when(length(Codecs.openProtocolValue(df)) > 90, 1).otherwise(0).as("is_claim"),
        key.as("key_msg"), value.as("val_msg"), loc.as("loc"),
        payload.as("payload"))
      .groupBy("is_claim")
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("key_msg"))).as("sum_key_len"),
        sum(length(col("val_msg"))).as("sum_val_len"),
        coalesce(sum(length(col("payload"))), lit(0L)).as("sum_payload_len"),
        countDistinct(col("loc")).as("n_objects"))
  }

  /** K4 — storage-sink layout: every row's target path under the
    * {schema}/{table}/{date} tree (reference
    * pkg/sink/cloudstorage/path.go:136-430); the gate pins path derivation
    * and per-path row counts. */
  val storageLayout = GateQuery(
    "q55_storage_layout",
    Some(cte +
      """SELECT schema_name || '/' || table_name || '/' ||
        |    strftime(to_timestamp(commit_ts / 1000), '%Y-%m-%d') AS path,
        |  count(*) AS cnt, CAST(sum(pk) AS BIGINT) AS sum_pk
        |FROM cdc GROUP BY 1""".stripMargin)) { (spark, dir) =>
    import graft.streaming.Sinks
    CdcStream.derive(spark, dir)
      .withColumn("path", Sinks.storagePath(
        col("schema_name"), col("table_name"), col("commit_ts")))
      .groupBy("path")
      .agg(count(lit(1)).as("cnt"), sum(col("pk")).as("sum_pk"))
  }

  /** D6 — column selector: project away non-selected payload columns,
    * envelope retained (columnselector/column_selector.go:25-140). */
  val columnSelector = GateQuery(
    "q36_column_selector",
    Some(cte +
      """SELECT schema_name, table_name, op, count(*) AS cnt,
        |  CAST(sum(pk) AS BIGINT) AS sum_pk
        |FROM cdc GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    Transforms.columnSelector(CdcStream.derive(spark, dir), keep = Nil)
      .groupBy("schema_name", "table_name", "op")
      .agg(count(lit(1)).as("cnt"), sum(col("pk")).as("sum_pk"))
  }

  /** D8 — column value mapping: shard index embedded into bigint high bits
    * (pkg/column-mapping/column.go:442-530 partitionID). */
  val partitionId = GateQuery(
    "q37_partition_id",
    Some(cte +
      """SELECT source_id, count(*) AS cnt,
        |  min((CAST(source_id AS BIGINT) << 44) | pk) AS min_mapped,
        |  max((CAST(source_id AS BIGINT) << 44) | pk) AS max_mapped
        |FROM cdc GROUP BY source_id""".stripMargin)) { (spark, dir) =>
    CdcStream.derive(spark, dir)
      .withColumn("mapped",
        Transforms.partitionId(0, col("pk"))
          .bitwiseOR(shiftleft(col("source_id").cast(LongType), 44)))
      .groupBy("source_id")
      .agg(count(lit(1)).as("cnt"),
        min(col("mapped")).as("min_mapped"), max(col("mapped")).as("max_mapped"))
  }

  /** S2/J1 — 2PC prewrite×commit matching. The 2PC event stream derives
    * deterministically from the cdc stream: every row expands to a
    * prewrite + (commit | rollback-every-13th). Only committed prewrites
    * survive the match. */
  val twoPcMatch = GateQuery(
    "q39_2pc_match",
    Some(cte +
      """, twopc AS (
        |  SELECT 'P' AS kind, start_ts, pk AS key,
        |         coalesce(val_after, -1) AS value, NULL::BIGINT AS commit_ts
        |  FROM cdc
        |  UNION ALL
        |  SELECT CASE WHEN seq % 13 = 0 THEN 'R' ELSE 'C' END, start_ts, pk,
        |         NULL, commit_ts
        |  FROM cdc
        |), pre AS (SELECT start_ts, key, value FROM twopc WHERE kind = 'P'),
        |   com AS (SELECT start_ts, key, commit_ts FROM twopc WHERE kind = 'C'),
        |   rb  AS (SELECT DISTINCT start_ts, key FROM twopc WHERE kind = 'R')
        |SELECT count(*) AS n_matched,
        |  CAST(sum(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS sum_val,
        |  count(DISTINCT commit_ts) AS n_commit_ts
        |FROM (
        |  SELECT p.*, c.commit_ts FROM pre p
        |  JOIN com c ON p.start_ts = c.start_ts AND p.key = c.key
        |  WHERE NOT EXISTS (SELECT 1 FROM rb r
        |                    WHERE r.start_ts = p.start_ts AND r.key = p.key)
        |)""".stripMargin)) { (spark, dir) =>
    import graft.operators.Matcher
    val cdc = CdcStream.derive(spark, dir)
    val pre = cdc.select(lit("P").as("kind"), col("start_ts"), col("pk").as("key"),
      coalesce(col("val_after"), lit(-1d)).as("value"),
      lit(null).cast(LongType).as("commit_ts"))
    val comRb = cdc.select(
      when(col("seq") % 13 === 0, "R").otherwise("C").as("kind"),
      col("start_ts"), col("pk").as("key"),
      lit(null).cast("double").as("value"), col("commit_ts"))
    Matcher.matchBatch(pre.unionByName(comRb))
      .agg(count(lit(1)).as("n_matched"),
        sum(col("value").cast("decimal(18,6)")).cast("double").as("sum_val"),
        countDistinct(col("commit_ts")).as("n_commit_ts"))
  }

  /** G4 — online-DDL ghost-table recognition and rename-back mapping. */
  val onlineDdl = GateQuery(
    "q27_online_ddl",
    Some("""SELECT t AS table_name, kind, real_table, count(*) AS cnt FROM (
           |  SELECT t,
           |    CASE WHEN regexp_matches(t, '^_(.+)_gho$') THEN 'gho'
           |         WHEN regexp_matches(t, '^_(.+)_ghc$') THEN 'ghc'
           |         WHEN regexp_matches(t, '^_(.+)_del$') THEN 'del'
           |         WHEN regexp_matches(t, '^_(.+)_new$') THEN 'new'
           |         WHEN regexp_matches(t, '^_(.+)_old$') THEN 'old'
           |         ELSE 'real' END AS kind,
           |    CASE WHEN regexp_matches(t, '^_(.+)_(gho|ghc|del|new|old)$')
           |         THEN regexp_extract(t, '^_(.+)_(gho|ghc|del|new|old)$', 1)
           |         ELSE t END AS real_table
           |  FROM (VALUES ('users'), ('_users_gho'), ('_users_ghc'), ('_users_del'),
           |               ('_orders_new'), ('_orders_old'), ('order_new'), ('_a_b_gho')) v(t)
           |) GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.Matcher
    Seq("users", "_users_gho", "_users_ghc", "_users_del",
      "_orders_new", "_orders_old", "order_new", "_a_b_gho")
      .toDF("table_name")
      .select(col("table_name"),
        Matcher.ghostKind(col("table_name")).as("kind"),
        Matcher.ghostToReal(col("table_name")).as("real_table"))
      .groupBy("table_name", "kind", "real_table")
      .agg(count(lit(1)).as("cnt"))
  }

  /** D3 (JSON branch) — tiflow maps the MySQL JSON type to a string column
    * queried with path expressions (SURVEY.md §1.4 "JSON → StringType +
    * get_json_object"). The JSON payload derives deterministically from the
    * envelope; extraction must agree with DuckDB's json functions. */
  val jsonOps = GateQuery(
    "q28_json_ops",
    Some(cte +
      """SELECT etype_x, count(*) AS cnt, CAST(sum(pk_x) AS BIGINT) AS sum_pk,
        |  count(DISTINCT nested_x) AS n_nested
        |FROM (
        |  SELECT
        |    json_extract_string(doc, '$.etype') AS etype_x,
        |    CAST(json_extract_string(doc, '$.pk') AS BIGINT) AS pk_x,
        |    json_extract_string(doc, '$.meta.src') AS nested_x
        |  FROM (
        |    SELECT to_json(struct_pack(pk := pk, etype := etype,
        |      meta := struct_pack(src := 'db_' || CAST(source_id AS VARCHAR)))) AS doc
        |    FROM cdc
        |  )
        |) GROUP BY etype_x""".stripMargin)) { (spark, dir) =>
    val doc = to_json(struct(col("pk"), col("etype"),
      struct(concat(lit("db_"), col("source_id").cast("string")).as("src")).as("meta")))
    CdcStream.derive(spark, dir)
      .select(doc.as("doc"))
      .select(
        get_json_object(col("doc"), "$.etype").as("etype_x"),
        get_json_object(col("doc"), "$.pk").cast(LongType).as("pk_x"),
        get_json_object(col("doc"), "$.meta.src").as("nested_x"))
      .groupBy("etype_x")
      .agg(count(lit(1)).as("cnt"), sum(col("pk_x")).as("sum_pk"),
        countDistinct(col("nested_x")).as("n_nested"))
  }

  /**
   * D3 (JSON branch, Spark-4-native) — the same JSON capability through
   * VariantType: the document parses ONCE into the binary variant encoding
   * and every extraction reads the variant (no re-parsing per path, pushes
   * through codegen) — the scale-preferred representation over q28's
   * string + get_json_object. Same oracle: results must be identical
   * whatever the internal representation.
   */
  val jsonVariant = GateQuery(
    "q28b_json_variant",
    Some(cte +
      """SELECT etype_x, count(*) AS cnt, CAST(sum(pk_x) AS BIGINT) AS sum_pk,
        |  count(DISTINCT nested_x) AS n_nested
        |FROM (
        |  SELECT
        |    json_extract_string(doc, '$.etype') AS etype_x,
        |    CAST(json_extract_string(doc, '$.pk') AS BIGINT) AS pk_x,
        |    json_extract_string(doc, '$.meta.src') AS nested_x
        |  FROM (
        |    SELECT to_json(struct_pack(pk := pk, etype := etype,
        |      meta := struct_pack(src := 'db_' || CAST(source_id AS VARCHAR)))) AS doc
        |    FROM cdc
        |  )
        |) GROUP BY etype_x""".stripMargin)) { (spark, dir) =>
    val doc = to_json(struct(col("pk"), col("etype"),
      struct(concat(lit("db_"), col("source_id").cast("string")).as("src")).as("meta")))
    CdcStream.derive(spark, dir)
      .select(parse_json(doc).as("v"))
      .select(
        variant_get(col("v"), "$.etype", "string").as("etype_x"),
        variant_get(col("v"), "$.pk", "long").as("pk_x"),
        variant_get(col("v"), "$.meta.src", "string").as("nested_x"))
      .groupBy("etype_x")
      .agg(count(lit(1)).as("cnt"), sum(col("pk_x")).as("sum_pk"),
        countDistinct(col("nested_x")).as("n_nested"))
  }

  /** D3 (enum/set + decimal branches) — tiflow maps Enum/Set to their
    * uint64 ordinal with the dictionary kept in table metadata
    * (cdc/entry/mounter.go:772-841), and NewDecimal to a STRING to avoid
    * precision loss. Ordinals come from a broadcast dictionary join;
    * decimal rendering is the canonical fixed-scale string. */
  val enumDict = GateQuery(
    "q29_enum_decimal",
    Some(cte +
      """SELECT ord, etype, count(*) AS cnt,
        |  min(CAST(CAST(coalesce(val_after, 0) AS DECIMAL(18,2)) AS VARCHAR)) AS min_dec,
        |  max(CAST(CAST(coalesce(val_after, 0) AS DECIMAL(18,2)) AS VARCHAR)) AS max_dec
        |FROM (
        |  SELECT etype, val_after,
        |    CASE etype WHEN 'click' THEN 1 WHEN 'error' THEN 2 WHEN 'purchase' THEN 3
        |               WHEN 'signup' THEN 4 WHEN 'view' THEN 5 ELSE 0 END AS ord
        |  FROM cdc
        |) GROUP BY ord, etype""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    // the Enum dictionary: ordinal per value, broadcast-joined like the
    // reference's TableInfo-resident dictionary
    val dict = Seq("click", "error", "purchase", "signup", "view")
      .zipWithIndex.map { case (v, i) => (v, (i + 1).toLong) }
      .toDF("etype", "ord")
    CdcStream.derive(spark, dir)
      .join(broadcast(dict), Seq("etype"), "left")
      .withColumn("ord", coalesce(col("ord"), lit(0L)))
      .groupBy("ord", "etype")
      .agg(count(lit(1)).as("cnt"),
        min(coalesce(col("val_after"), lit(0d)).cast("decimal(18,2)").cast("string")).as("min_dec"),
        max(coalesce(col("val_after"), lit(0d)).cast("decimal(18,2)").cast("string")).as("max_dec"))
  }

  /**
   * GTID-set algebra (DM replication progress — dm/pkg/gtid/gtid.go):
   * per-source transaction ids with per-source gaps merge to canonical
   * disjoint intervals (gaps-and-islands), render to the MySQL canonical
   * string form, and the Spark side then PARSES its own rendered string
   * back to answer a membership probe — exercising merge, render, parse,
   * and contains in one gate. Txn 100 is kept by u0 (100%5=0) and u1
   * (100%6=4) but dropped by u2 (100%7=2), so the probe differentiates.
   */
  val gtidSets = GateQuery(
    "q56_gtid_sets",
    Some(cte +
      s""", txns AS (
         |  SELECT DISTINCT 'u' || CAST(source_id AS VARCHAR) AS uuid,
         |    seq // 4 AS txn
         |  FROM cdc WHERE (seq // 4) % (source_id + 5) <> 2
         |), isl AS (
         |  SELECT uuid, txn,
         |    txn - row_number() OVER (PARTITION BY uuid ORDER BY txn) AS grp
         |  FROM txns
         |), merged AS (
         |  SELECT uuid, min(txn) AS s, max(txn) AS e
         |  FROM isl GROUP BY uuid, grp
         |)
         |SELECT uuid, count(*) AS n_intervals,
         |  CAST(sum(e - s + 1) AS BIGINT) AS n_txns,
         |  uuid || ':' || string_agg(
         |    CASE WHEN s = e THEN CAST(s AS VARCHAR)
         |         ELSE CAST(s AS VARCHAR) || '-' || CAST(e AS VARCHAR) END,
         |    ':' ORDER BY s) AS gtid_block,
         |  CAST(max(CASE WHEN s <= 100 AND e >= 100 THEN 1 ELSE 0 END) AS BIGINT)
         |    AS has_100
         |FROM merged GROUP BY uuid""".stripMargin)) { (spark, dir) =>
    import graft.operators.Gtid
    val txns = CdcStream.derive(spark, dir)
      .select(concat(lit("u"), col("source_id")).as("uuid"),
        expr("seq DIV 4").as("txn"))
      .filter(col("txn") % (col("uuid").substr(2, 8).cast("int") + 5) =!= 2)
    val merged = Gtid.mergeIntervals(txns)
    merged.groupBy("uuid")
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("end") - col("start") + 1).as("n_txns"),
        collect_list(struct(col("start"), col("end"))).as("ivs"))
      .withColumn("gtid_block",
        concat(col("uuid"), lit(":"), Gtid.renderIntervals(col("ivs"))))
      .withColumn("has_100",
        Gtid.containsTxn(col("gtid_block"), col("uuid"), lit(100L)).cast("long"))
      .select("uuid", "n_intervals", "n_txns", "gtid_block", "has_100")
  }

  /**
   * q107 — skew mitigation is RESULT-INVARIANT: a 70 %-hot key joins
   * through [[graft.operators.Skew.saltedJoin]] (dim exploded salts×,
   * shuffle keys become (key, salt)) and aggregates through
   * [[graft.operators.Skew.saltedAgg]] (two-phase partial fold), and the
   * result must equal the plain join + groupBy the oracle computes — the
   * salts are random per run, so only a semantics-preserving rewrite
   * passes the hash check.
   */
  val saltedJoin = GateQuery(
    "q107_salted_join",
    Some(cte +
      """, fact AS (
        |  SELECT *, CASE WHEN pk % 10 < 7 THEN 0 ELSE pk % 100 END AS hot_key
        |  FROM cdc
        |), dim AS (
        |  SELECT k AS hot_key, k * 7 + 1 AS attr
        |  FROM (SELECT unnest(range(0, 100)) AS k)
        |)
        |SELECT hot_key % 10 AS kb, count(*) AS cnt,
        |  CAST(sum(pk) AS BIGINT) AS sum_pk,
        |  CAST(sum(attr) AS BIGINT) AS sum_attr
        |FROM fact JOIN dim USING (hot_key)
        |GROUP BY 1""".stripMargin)) { (spark, dir) =>
    import graft.operators.Skew
    val fact = CdcStream.derive(spark, dir)
      .withColumn("hot_key",
        when(col("pk") % 10 < 7, 0L).otherwise(col("pk") % 100))
    val dim = spark.range(100)
      .select(col("id").as("hot_key"), (col("id") * 7 + 1).as("attr"))
    val joined = Skew.saltedJoin(fact, dim, "hot_key", salts = 8)
      .withColumn("kb", col("hot_key") % 10)
    Skew.saltedAgg(joined, Seq("kb"), salts = 8,
      partial = Seq(count(lit(1)).as("c"), sum(col("pk")).as("sp"),
        sum(col("attr")).as("sa")),
      fin = Seq(sum(col("c")).as("cnt"), sum(col("sp")).as("sum_pk"),
        sum(col("sa")).as("sum_attr")))
  }

  // ---- q172: mydumper/dumpling dump-format round trip ------------------

  private val DumpRowsPerFile = 500
  private val DumpMetaText =
    """Started dump at: 2024-01-01 00:00:00
      |SHOW MASTER STATUS:
      |	Log: mysql-bin.000003
      |	Pos: 193
      |	GTID: 3ccc4298-0000-0000-0000-000000000000:1-29
      |
      |SHOW MASTER STATUS: /* AFTER CONNECTION POOL ESTABLISHED */
      |	Log: mysql-bin.000003
      |	Pos: 451
      |	GTID: 3ccc4298-0000-0000-0000-000000000000:1-32
      |
      |Finished dump at: 2024-01-01 00:00:10
      |""".stripMargin

  /**
   * q172 — the dumpling/mydumper dump DIRECTORY format DM's load unit
   * consumes ([[graft.streaming.DumpFormat]]): a lineitem slice renders
   * to `metadata` + schema file + one multi-row INSERT per data file
   * (quote-escaped string literals included), then the PRODUCTION reader
   * parses it back distributed and the metadata parser recovers BOTH
   * binlog locations (the main one and the after-connection-pool one DM
   * resumes from — dm/pkg/dumpling/utils.go ParseMetaData). The gate pins
   * per-file row counts, key sums, exact decimal cents, and a quote-
   * escape-sensitive comment digest ('' → ' must unescape byte-exactly),
   * plus every recovered metadata field; the oracle rebuilds the file
   * assignment from lineitem with the same ordering rule.
   */
  val dumpLoad = GateQuery(
    "q172_dump_load",
    Some {
      val cmtHash = Hashing.Sql.portableLong("'x''' || l_returnflag")
      s"""WITH sliced AS (
         |  SELECT l_orderkey, l_linenumber,
         |    CAST(CAST(l_quantity AS DECIMAL(12,2)) * 100 AS BIGINT) AS cents,
         |    l_returnflag,
         |    row_number() OVER (ORDER BY l_orderkey, l_linenumber) - 1 AS rn
         |  FROM lineitem WHERE l_orderkey <= 2000
         |)
         |SELECT rn // $DumpRowsPerFile AS file_seq,
         |  count(*) AS n_rows,
         |  CAST(sum(l_orderkey) AS BIGINT) AS sum_okey,
         |  CAST(sum(cents) AS BIGINT) AS sum_cents,
         |  CAST(bit_xor($cmtHash) AS BIGINT) AS cmt_check,
         |  'mysql-bin.000003' AS log_file, CAST(193 AS BIGINT) AS pos,
         |  '3ccc4298-0000-0000-0000-000000000000:1-29' AS gtid,
         |  CAST(451 AS BIGINT) AS pos2,
         |  '3ccc4298-0000-0000-0000-000000000000:1-32' AS gtid2
         |FROM sliced GROUP BY 1""".stripMargin
    }) { (spark, dir) =>
    import graft.streaming.DumpFormat
    val (scratch, _) = Gate.freshScratch("graft_dump_", dir)
    // fixture: render the dump the way the upstream tool would
    val slice = Tables.load(spark, dir, "lineitem")
      .filter(col("l_orderkey") <= 2000)
      .select(col("l_orderkey"), col("l_linenumber"),
        col("l_quantity").cast("decimal(12,2)").cast("string").as("qty"),
        col("l_returnflag"))
      .orderBy("l_orderkey", "l_linenumber")
      .collect() // bounded fixture slice; production path is the READER
    val files = slice.zipWithIndex
      .map { case (r, i) =>
        val flag = r.getString(3)
        val cmtLit = "x'" + flag // contains a quote → '' escaping exercised
        (i / DumpRowsPerFile,
          s"(${r.getLong(0)}, ${r.getInt(1)}, '${r.getString(2)}', " +
            s"'$flag', '${cmtLit.replace("'", "''")}')")
      }
      .groupBy(_._1).toSeq
      .map { case (seq, rows) => (seq, rows.map(_._2).toSeq) }
    DumpFormat.writeDump(scratch, "db", "lineitem",
      "CREATE TABLE db.lineitem (k BIGINT, n INT, q DECIMAL(12,2), f VARCHAR(1), c VARCHAR(2))",
      DumpMetaText, files)
    // production side: metadata + distributed data-file parse
    val meta = DumpFormat.parseMetaData(DumpMetaText)
    DumpFormat.readDumpTable(spark, scratch, "db", "lineitem", nCols = 5)
      .select(col("file_seq"),
        col("c0").cast("long").as("okey"),
        (col("c2").cast("decimal(12,2)") * 100).cast("long").as("cents"),
        Hashing.portableLong(col("c4")).as("cmt_h"))
      .groupBy("file_seq")
      .agg(count(lit(1)).as("n_rows"), sum(col("okey")).as("sum_okey"),
        sum(col("cents")).as("sum_cents"),
        expr("bit_xor(cmt_h)").as("cmt_check"))
      .withColumn("log_file", lit(meta.logFile))
      .withColumn("pos", lit(meta.pos))
      .withColumn("gtid", lit(meta.gtid))
      .withColumn("pos2", lit(meta.pos2))
      .withColumn("gtid2", lit(meta.gtid2))
  }

  /**
   * q180 — CONSUMER-side handle-key-only reassembly (reference
   * canal_json_decoder.go:244-300 `assembleHandleKeyOnlyRowChangedEvent`):
   * a downgraded message carries only the handle key, so the consumer
   * recovers the full row from an upstream snapshot — data at commitTs
   * for upserts, at commitTs−1 for deletes, and the reassembled UPDATE
   * additionally GAINS an old image from the commitTs−1 snapshot. The
   * snapshot service is modeled as the envelope's own version chain
   * (committed state per (pk, commit_ts) = last event in the ts; the
   * prior state is the chain's lag) — an as-of join, the J2 shape. The
   * Spark side decodes the REAL q47b wire messages (the consumer path:
   * nothing but bytes in), the oracle replays flag + chain + recovery;
   * the gate pins per (kind, ohk) counts, pk sums, null-image counts and
   * decimal-exact value sums. Plan: decode is map-only; the chain is one
   * window pass; the as-of join is key-equality (pk, ts) — no range scan.
   */
  val handleKeyReassemble = GateQuery(
    "q180_handle_key_reassemble",
    Some(cte +
      s""", enc AS (
         |  SELECT seq, op, commit_ts, pk, val_before, val_after,
         |    CASE WHEN length(to_json(struct_pack(
         |      u := CASE WHEN op <> 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_after AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END,
         |      d := CASE WHEN op = 'D' THEN struct_pack(
         |             pk := struct_pack(t := 8, v := pk),
         |             val := struct_pack(t := 5, v := CAST(val_before AS DOUBLE)),
         |             etype := struct_pack(t := 15, v := etype))
         |           ELSE CAST(NULL AS STRUCT(pk STRUCT(t INT, v BIGINT),
         |                  val STRUCT(t INT, v DOUBLE), etype STRUCT(t INT, v VARCHAR))) END
         |    ))) > 90 THEN 1 ELSE 0 END AS ohk
         |  FROM cdc
         |), chain AS (
         |  SELECT pk, commit_ts,
         |    CASE WHEN op = 'D' THEN NULL ELSE val_after END AS v
         |  FROM (SELECT *, row_number() OVER (
         |          PARTITION BY pk, commit_ts ORDER BY seq DESC) AS rn
         |        FROM cdc)
         |  WHERE rn = 1
         |), chain2 AS (
         |  SELECT pk, commit_ts, v,
         |    lag(v) OVER (PARTITION BY pk ORDER BY commit_ts) AS v_prev
         |  FROM chain
         |), re AS (
         |  SELECT CASE WHEN e.op = 'D' THEN 'd' ELSE 'u' END AS kind, e.ohk,
         |    e.pk,
         |    CASE WHEN e.ohk = 0 THEN
         |           (CASE WHEN e.op = 'D' THEN e.val_before ELSE e.val_after END)
         |         WHEN e.op <> 'D' THEN c.v ELSE c.v_prev END AS data,
         |    CASE WHEN e.ohk = 1 AND e.op <> 'D' THEN c.v_prev
         |         ELSE NULL END AS old
         |  FROM enc e JOIN chain2 c
         |    ON e.pk = c.pk AND e.commit_ts = c.commit_ts
         |)
         |SELECT kind, ohk, count(*) AS n, CAST(sum(pk) AS BIGINT) AS sum_pk,
         |  CAST(sum(CASE WHEN data IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_data_null,
         |  CAST(coalesce(sum(CAST(data AS DECIMAL(18,6))), 0) AS DOUBLE)
         |    AS sum_data,
         |  CAST(sum(CASE WHEN old IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_old_null,
         |  CAST(coalesce(sum(CAST(old AS DECIMAL(18,6))), 0) AS DOUBLE)
         |    AS sum_old
         |FROM re GROUP BY 1, 2""".stripMargin), heavy = true) { (spark, dir) =>
    val env = CdcStream.derive(spark, dir)
    val (key, value) = Codecs.openProtocolWithDowngrade(env, 90)
    val msgs = env.select(key.as("key_msg"), value.as("val_msg"))
    // parse each JSON message ONCE into a struct column, then project
    // fields — referencing from_json(...) per output column would
    // re-parse the message for every field
    val parsed = msgs.select(
      Codecs.openDecodeKey(col("key_msg")).as("k"),
      Codecs.openDecodeValue(col("val_msg")).as("v"))
    val dec = parsed.select(
      col("k.ts").as("ts"),
      coalesce(col("k.ohk"), lit(false)).cast("int").as("ohk"),
      when(col("v.d").isNotNull, "d").otherwise("u").as("kind"),
      coalesce(col("v.u.pk.v"), col("v.d.pk.v")).as("pk"),
      coalesce(col("v.u.val.v"), col("v.d.val.v")).as("inline_val"))
    val chain = Codecs.snapshotChain(env)
    val zeroDec = lit(0).cast("decimal(18,6)")
    dec.join(chain, Seq("pk", "ts"))
      .withColumn("data",
        when(col("ohk") === 0, col("inline_val"))
          .when(col("kind") === "u", col("v"))
          .otherwise(col("v_prev")))
      .withColumn("old",
        when(col("ohk") === 1 && col("kind") === "u", col("v_prev"))
          .otherwise(lit(null).cast("double")))
      .groupBy("kind", "ohk")
      .agg(count(lit(1)).as("n"), sum(col("pk")).as("sum_pk"),
        sum(when(col("data").isNull, 1L).otherwise(0L)).as("n_data_null"),
        coalesce(sum(col("data").cast("decimal(18,6)")), zeroDec)
          .cast("double").as("sum_data"),
        sum(when(col("old").isNull, 1L).otherwise(0L)).as("n_old_null"),
        coalesce(sum(col("old").cast("decimal(18,6)")), zeroDec)
          .cast("double").as("sum_old"))
  }

  /**
   * q187 — the NATIVE as-of join ([[graft.plans.AsOfJoin]], the custom
   * Catalyst logical operator + rewrite rule installed by
   * `GraftExtensions`): events bind to the schema version in force at
   * their commit ts through the plan node itself, and the ORACLE is
   * DuckDB's own `ASOF LEFT JOIN` — two independent native as-of
   * implementations must agree row-for-row. Version 1 starts ABOVE the
   * earliest commit ts, so the left-outer band (no version in force,
   * version −1) is non-empty in data; the inclusive bound and
   * latest-wins are Round10Spec-pinned. Plan: the rewrite is the
   * union-window form — ONE shuffle by key, NO join operator anywhere
   * (PlanShapeSpec), vs the |events|·|versions| fan-out a range join
   * would plan.
   */
  val asofNative = GateQuery(
    "q187_asof_native",
    Some(cte +
      s""", vers AS (
         |  SELECT schema_name || '.' || table_name AS vkey, v, from_ts
         |  FROM (SELECT DISTINCT schema_name, table_name FROM cdc),
         |       (VALUES (1, 1000500), (2, 1002000), (3, 1005000)) AS t(v, from_ts)
         |)
         |SELECT e.schema_name, e.table_name,
         |  CAST(coalesce(v.v, -1) AS INT) AS version,
         |  count(*) AS cnt, CAST(sum(e.pk) AS BIGINT) AS sum_pk
         |FROM (SELECT *, schema_name || '.' || table_name AS ekey FROM cdc) e
         |ASOF LEFT JOIN vers v
         |  ON e.ekey = v.vkey AND e.commit_ts >= v.from_ts
         |GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val env = CdcStream.derive(spark, dir)
      .withColumn("ekey", concat_ws(".", col("schema_name"), col("table_name")))
    val vers = env.select("schema_name", "table_name").distinct()
      .crossJoin(Seq((1, 1000500L), (2, 1002000L), (3, 1005000L))
        .toDF("v", "from_ts"))
      .select(concat_ws(".", col("schema_name"), col("table_name")).as("vkey"),
        col("v"), col("from_ts"))
    graft.plans.AsOf.join(spark, env, vers, "ekey", "vkey",
        "commit_ts", "from_ts")
      .groupBy(col("schema_name"), col("table_name"),
        coalesce(col("v"), lit(-1)).as("version"))
      .agg(count(lit(1)).as("cnt"), sum(col("pk")).as("sum_pk"))
  }

  /**
   * q215 — native FORWARD as-of join ([[graft.plans.AsOfJoin]] with
   * `forward = true`): each event picks the NEAREST version AT OR AFTER
   * its timestamp (the "next scheduled change" / lead-version lookup) —
   * the same single-shuffle union-window plan as q187 run in reverse
   * time order, still no join operator in the plan. Oracle = DuckDB's
   * own forward `ASOF LEFT JOIN ... ON e.ts <= v.ts`: two independent
   * native forward implementations agreeing row-for-row.
   */
  val asofForward = GateQuery(
    "q215_asof_forward",
    Some(cte +
      s""", vers AS (
         |  SELECT schema_name || '.' || table_name AS vkey, v, from_ts
         |  FROM (SELECT DISTINCT schema_name, table_name FROM cdc),
         |       (VALUES (1, 1000500), (2, 1002000), (3, 1005000)) AS t(v, from_ts)
         |)
         |SELECT e.schema_name, e.table_name,
         |  CAST(coalesce(v.v, -1) AS INT) AS version,
         |  count(*) AS cnt, CAST(sum(e.pk) AS BIGINT) AS sum_pk
         |FROM (SELECT *, schema_name || '.' || table_name AS ekey FROM cdc) e
         |ASOF LEFT JOIN vers v
         |  ON e.ekey = v.vkey AND e.commit_ts <= v.from_ts
         |GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val env = CdcStream.derive(spark, dir)
      .withColumn("ekey", concat_ws(".", col("schema_name"), col("table_name")))
    val vers = env.select("schema_name", "table_name").distinct()
      .crossJoin(Seq((1, 1000500L), (2, 1002000L), (3, 1005000L))
        .toDF("v", "from_ts"))
      .select(concat_ws(".", col("schema_name"), col("table_name")).as("vkey"),
        col("v"), col("from_ts"))
    graft.plans.AsOf.join(spark, env, vers, "ekey", "vkey",
        "commit_ts", "from_ts", forward = true)
      .groupBy(col("schema_name"), col("table_name"),
        coalesce(col("v"), lit(-1)).as("version"))
      .agg(count(lit(1)).as("cnt"), sum(col("pk")).as("sum_pk"))
  }

  /**
   * q217 — NEAREST-version join: backward and forward native as-of
   * composed per event, whichever version is temporally closer wins
   * (ties to backward — the committed past beats the scheduled future);
   * the late-arriving-dimension reconciliation shape. Two single-shuffle
   * as-of passes + one seq-keyed join; the gate pins the per-version
   * groups AND the forward-pick count so the direction arbitration
   * itself is oracle-checked (DuckDB runs both of ITS native ASOF
   * directions and the same arbitration).
   */
  val asofNearest = GateQuery(
    "q217_asof_nearest",
    Some(cte +
      s""", vers AS (
         |  SELECT schema_name || '.' || table_name AS vkey, v, from_ts
         |  FROM (SELECT DISTINCT schema_name, table_name FROM cdc),
         |       (VALUES (1, 1000500), (2, 1002000), (3, 1005000)) AS t(v, from_ts)
         |), e AS (SELECT *, schema_name || '.' || table_name AS ekey FROM cdc),
         |back AS (
         |  SELECT e.seq, e.schema_name, e.table_name, e.pk, e.commit_ts,
         |    v.v AS bv, v.from_ts AS bts
         |  FROM e ASOF LEFT JOIN vers v
         |    ON e.ekey = v.vkey AND e.commit_ts >= v.from_ts
         |), fwd AS (
         |  SELECT e.seq, v.v AS fv, v.from_ts AS fts
         |  FROM e ASOF LEFT JOIN vers v
         |    ON e.ekey = v.vkey AND e.commit_ts <= v.from_ts
         |), j AS (
         |  SELECT b.schema_name, b.table_name, b.pk,
         |    CASE WHEN b.bts IS NULL THEN TRUE WHEN f.fts IS NULL THEN FALSE
         |         ELSE (f.fts - b.commit_ts) < (b.commit_ts - b.bts) END AS pf,
         |    b.bv, f.fv
         |  FROM back b JOIN fwd f USING (seq)
         |)
         |SELECT schema_name, table_name,
         |  CAST(coalesce(CASE WHEN pf THEN fv ELSE bv END, -1) AS INT)
         |    AS version,
         |  count(*) AS cnt, CAST(sum(pk) AS BIGINT) AS sum_pk,
         |  CAST(sum(CASE WHEN pf THEN 1 ELSE 0 END) AS BIGINT) AS n_forward
         |FROM j GROUP BY 1, 2, 3""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val env = CdcStream.derive(spark, dir)
      .withColumn("ekey", concat_ws(".", col("schema_name"), col("table_name")))
    val vers = env.select("schema_name", "table_name").distinct()
      .crossJoin(Seq((1, 1000500L), (2, 1002000L), (3, 1005000L))
        .toDF("v", "from_ts"))
      .select(concat_ws(".", col("schema_name"), col("table_name")).as("vkey"),
        col("v"), col("from_ts"))
    val back = graft.plans.AsOf.join(spark, env, vers, "ekey", "vkey",
        "commit_ts", "from_ts")
      .select(col("seq").as("bseq"), col("schema_name"), col("table_name"),
        col("pk"), col("commit_ts"), col("v").as("bv"),
        col("from_ts").as("bts"))
    val fwd = graft.plans.AsOf.join(spark, env, vers, "ekey", "vkey",
        "commit_ts", "from_ts", forward = true)
      .select(col("seq").as("fseq"), col("v").as("fv"),
        col("from_ts").as("fts"))
    back.join(fwd, col("bseq") === col("fseq"))
      .withColumn("pf", when(col("bts").isNull, lit(true))
        .when(col("fts").isNull, lit(false))
        .otherwise((col("fts") - col("commit_ts")) <
          (col("commit_ts") - col("bts"))))
      .groupBy(col("schema_name"), col("table_name"),
        coalesce(when(col("pf"), col("fv")).otherwise(col("bv")), lit(-1))
          .as("version"))
      .agg(count(lit(1)).as("cnt"), sum(col("pk")).as("sum_pk"),
        sum(when(col("pf"), 1L).otherwise(0L)).as("n_forward"))
  }

  /**
   * q189 — SCD Type-2 history ([[graft.operators.Scd.type2]]): the
   * warehouse-side dimension-history materialization of the change
   * stream — each I/U image opens a version valid from its commit ts,
   * the next event for the key closes it (update supersedes, delete
   * terminates), the last stays open unless deleted. One window pass,
   * no join, no state loop. The gate pins per table: version counts,
   * open-version counts, exact from/to ts sums (open = −1), the open
   * keys' checksum and their decimal-exact value sum — so every
   * version boundary and every chain termination is bit-checked.
   */
  val scdHistory = GateQuery(
    "q189_scd2_history",
    Some(cte +
      s""", led AS (
         |  SELECT schema_name, table_name, pk, op, commit_ts, seq, val_after,
         |    lead(commit_ts) OVER (PARTITION BY schema_name, table_name, pk
         |      ORDER BY commit_ts, seq) AS next_ts
         |  FROM cdc
         |), ver AS (
         |  SELECT schema_name, table_name, pk, commit_ts AS valid_from,
         |    next_ts AS valid_to, next_ts IS NULL AS is_current, val_after
         |  FROM led WHERE op <> 'D'
         |)
         |SELECT schema_name, table_name, count(*) AS n_versions,
         |  CAST(sum(CASE WHEN is_current THEN 1 ELSE 0 END) AS BIGINT)
         |    AS n_current,
         |  CAST(sum(valid_from) AS BIGINT) AS sum_from,
         |  CAST(sum(coalesce(valid_to, -1)) AS BIGINT) AS sum_to,
         |  CAST(sum(CASE WHEN is_current THEN pk ELSE 0 END) AS BIGINT)
         |    AS current_pk_check,
         |  CAST(coalesce(sum(CASE WHEN is_current
         |    THEN CAST(val_after AS DECIMAL(18,6)) END), 0) AS DOUBLE)
         |    AS sum_current_val
         |FROM ver GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import graft.operators.Scd
    val hist = Scd.type2(CdcStream.derive(spark, dir),
      Seq("schema_name", "table_name", "pk"), "commit_ts", "seq", "op",
      Seq("val_after"))
    hist.groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("n_versions"),
        sum(when(col("is_current"), 1L).otherwise(0L)).as("n_current"),
        sum(col("valid_from")).as("sum_from"),
        sum(coalesce(col("valid_to"), lit(-1L))).as("sum_to"),
        sum(when(col("is_current"), col("pk")).otherwise(0L))
          .as("current_pk_check"),
        coalesce(sum(when(col("is_current"),
            col("val_after").cast("decimal(18,6)"))),
          lit(0).cast("decimal(18,6)")).cast("double").as("sum_current_val"))
  }

  private val TravelTs = 1003000L

  /**
   * q219 — TIME-TRAVEL read ([[graft.operators.Scd.asOf]]): the table
   * AS OF an instant, reconstructed from the q189 Type-2 history — the
   * version row covering `TravelTs` per key (deleted-before keys have
   * none). Completes the SCD2 story: build (q189), incrementally
   * maintain (Scd.type2Increment), read as of any instant (here). Gate
   * pins per table: snapshot row count, pk XOR and the decimal-exact
   * value sum at the instant.
   */
  val timeTravel = GateQuery(
    "q219_time_travel",
    Some(cte +
      s""", led AS (
         |  SELECT schema_name, table_name, pk, op, commit_ts, seq, val_after,
         |    lead(commit_ts) OVER (PARTITION BY schema_name, table_name, pk
         |      ORDER BY commit_ts, seq) AS next_ts
         |  FROM cdc
         |), ver AS (
         |  SELECT schema_name, table_name, pk, commit_ts AS valid_from,
         |    next_ts AS valid_to, val_after
         |  FROM led WHERE op <> 'D'
         |), snap AS (
         |  SELECT * FROM ver
         |  WHERE valid_from <= $TravelTs
         |    AND (valid_to IS NULL OR valid_to > $TravelTs)
         |)
         |SELECT schema_name, table_name, CAST(count(*) AS BIGINT) AS n_rows,
         |  CAST(coalesce(bit_xor(pk), 0) AS BIGINT) AS xor_pk,
         |  CAST(coalesce(sum(CAST(val_after AS DECIMAL(18,6))), 0) AS DOUBLE)
         |    AS sum_val
         |FROM snap GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import graft.operators.Scd
    val hist = Scd.type2(CdcStream.derive(spark, dir),
      Seq("schema_name", "table_name", "pk"), "commit_ts", "seq", "op",
      Seq("val_after"))
    Scd.asOf(hist, TravelTs)
      .groupBy("schema_name", "table_name")
      .agg(count(lit(1)).as("n_rows"),
        coalesce(expr("bit_xor(pk)"), lit(0L)).as("xor_pk"),
        coalesce(sum(col("val_after").cast("decimal(18,6)")),
          lit(0).cast("decimal(18,6)")).cast("double").as("sum_val"))
  }

  private val WhT0 = 1002000L

  /**
   * q220 — the WAREHOUSE pipeline end to end (the q146 capstone for the
   * round-10 tier): one table's change stream → snapshot at T0 (last
   * non-delete image per key) → net batch of the post-T0 tail → guarded
   * MERGE into the snapshot → independently, the SCD2 history read AS OF
   * the final instant. Five stages, each pinned (rows, pk XOR,
   * decimal-exact value sum); the 'merged' and 'scd_asof' rows must be
   * IDENTICAL — two different operator paths (merge-apply vs
   * history-reconstruction) agreeing on the final state, checked in
   * data, with the oracle re-deriving every stage from scratch.
   */
  val warehousePipeline = GateQuery(
    "q220_warehouse_pipeline",
    Some(cte +
      s""", e AS (
         |  SELECT pk, op, commit_ts, seq, val_after FROM cdc
         |  WHERE schema_name = 'db_0' AND table_name = 'tbl_0'
         |), snap0 AS (
         |  SELECT pk, val_after AS v, commit_ts AS ts FROM (
         |    SELECT *, row_number() OVER (PARTITION BY pk
         |      ORDER BY commit_ts DESC, seq DESC) AS rn
         |    FROM e WHERE commit_ts <= $WhT0)
         |  WHERE rn = 1 AND op <> 'D'
         |), batch AS (
         |  SELECT pk, op, val_after AS v, commit_ts AS ts FROM (
         |    SELECT *, row_number() OVER (PARTITION BY pk
         |      ORDER BY commit_ts DESC, seq DESC) AS rn
         |    FROM e WHERE commit_ts > $WhT0)
         |  WHERE rn = 1
         |), mrows AS (
         |  SELECT coalesce(s.pk, b.pk) AS pk,
         |    CASE WHEN b.pk IS NULL THEN s.v
         |         WHEN s.pk IS NULL THEN b.v
         |         WHEN b.ts > s.ts THEN b.v ELSE s.v END AS v
         |  FROM snap0 s FULL OUTER JOIN batch b ON s.pk = b.pk
         |  WHERE b.pk IS NULL OR b.op <> 'D'
         |), led AS (
         |  SELECT pk, op, commit_ts, seq, val_after,
         |    lead(commit_ts) OVER (PARTITION BY pk
         |      ORDER BY commit_ts, seq) AS next_ts
         |  FROM e
         |), mx AS (SELECT max(commit_ts) AS m FROM e),
         |asofv AS (
         |  SELECT pk, val_after AS v FROM led, mx
         |  WHERE op <> 'D' AND commit_ts <= m
         |    AND (next_ts IS NULL OR next_ts > m)
         |), stagerows AS (
         |  SELECT 'a_changes' AS stage, count(*) AS n,
         |    coalesce(bit_xor(pk), 0) AS x,
         |    coalesce(sum(CAST(coalesce(val_after, 0) AS DECIMAL(18,6))), 0)
         |      AS sv
         |  FROM e
         |  UNION ALL SELECT 'b_snap0', count(*), coalesce(bit_xor(pk), 0),
         |    coalesce(sum(CAST(coalesce(v, 0) AS DECIMAL(18,6))), 0)
         |  FROM snap0
         |  UNION ALL SELECT 'c_batch_net', count(*), coalesce(bit_xor(pk), 0),
         |    coalesce(sum(CAST(coalesce(v, 0) AS DECIMAL(18,6))), 0)
         |  FROM batch
         |  UNION ALL SELECT 'd_merged', count(*), coalesce(bit_xor(pk), 0),
         |    coalesce(sum(CAST(coalesce(v, 0) AS DECIMAL(18,6))), 0)
         |  FROM mrows
         |  UNION ALL SELECT 'e_scd_asof', count(*), coalesce(bit_xor(pk), 0),
         |    coalesce(sum(CAST(coalesce(v, 0) AS DECIMAL(18,6))), 0)
         |  FROM asofv
         |)
         |SELECT stage, CAST(n AS BIGINT) AS n_rows, CAST(x AS BIGINT)
         |  AS xor_pk, CAST(sv AS DOUBLE) AS sum_val
         |FROM stagerows""".stripMargin)) { (spark, dir) =>
    import graft.operators.{Merge, Scd}
    val e = CdcStream.derive(spark, dir)
      .filter(col("schema_name") === "db_0" && col("table_name") === "tbl_0")
      .select(col("pk"), col("op"), col("commit_ts"), col("seq"),
        col("val_after"))
    def lastPer(df: org.apache.spark.sql.DataFrame) =
      df.groupBy("pk").agg(
        max_by(col("op"), struct(col("commit_ts"), col("seq"))).as("op"),
        max_by(col("val_after"), struct(col("commit_ts"), col("seq")))
          .as("v"),
        max(col("commit_ts")).as("ts"))
    val snap0 = lastPer(e.filter(col("commit_ts") <= WhT0))
      .filter(col("op") =!= "D")
      .select(col("pk"), col("v"), col("ts"), lit("I").as("op"))
    val batch = lastPer(e.filter(col("commit_ts") > WhT0))
      .select(col("pk"), col("v"), col("ts"), col("op"))
    val merged = Merge.merge(snap0, batch, Seq("pk"),
      updateCond = col("s.ts") > col("t.ts"),
      deleteCond = col("s.op") === "D",
      insertCond = col("s.op") =!= "D")
    val hist = Scd.type2(e.withColumn("k", col("pk")), Seq("k"),
      "commit_ts", "seq", "op", Seq("pk", "val_after"))
    val maxTs = e.agg(max("commit_ts")).head().getLong(0)
    val snapAsOf = Scd.asOf(hist, maxTs)
      .select(col("pk"), col("val_after").as("v"))
    def stage(name: String, df: org.apache.spark.sql.DataFrame,
        vCol: org.apache.spark.sql.Column) =
      df.withColumn("_v", vCol)
        .agg(count(lit(1)).as("n_rows"),
          coalesce(expr("bit_xor(pk)"), lit(0L)).as("xor_pk"),
          coalesce(sum(coalesce(col("_v"), lit(0d))
            .cast("decimal(18,6)")), lit(0).cast("decimal(18,6)"))
            .cast("double").as("sum_val"))
        .select(lit(name).as("stage"), col("n_rows"), col("xor_pk"),
          col("sum_val"))
    stage("a_changes", e, col("val_after"))
      .unionByName(stage("b_snap0", snap0, col("v")))
      .unionByName(stage("c_batch_net", batch, col("v")))
      .unionByName(stage("d_merged", merged, col("v")))
      .unionByName(stage("e_scd_asof", snapAsOf, col("v")))
  }

  /**
   * q275 — GTID flavor kernels ([[graft.operators.Gtid]];
   * dm/pkg/gtid/gtid.go:29-122): the IsZeroMySQLGTIDSet /
   * IsZeroMariaDBGTIDSet "start from scratch" placeholders
   * ("uuid:0" / "0-0-0"), ParserGTID's flavor decision (explicit flavor
   * zero-replaces to the EMPTY set, empty flavor tries MySQL then
   * MariaDB, unknown flavor errors), and the canonical uuid-sorted render
   * of a shuffled 7-source set. Every scenario string and the expected
   * sorted render are the reference's OWN gtid_test.go vectors.
   */
  val gtidFlavor = GateQuery(
    "q275_gtid_flavor",
    Some("""SELECT * FROM (VALUES
           |  ('zero_mysql',   'z1', '', 0), ('zero_mysql',   'z2', '', 0),
           |  ('zero_mysql',   'z3', '', 0), ('zero_mysql',   'z4', '', 0),
           |  ('zero_mysql',   'z5', '', 0), ('zero_mysql',   'z6', '', 1),
           |  ('zero_mysql',   'z7', '', 1),
           |  ('zero_mariadb', 'm1', '', 0), ('zero_mariadb', 'm2', '', 0),
           |  ('zero_mariadb', 'm3', '', 0), ('zero_mariadb', 'm4', '', 0),
           |  ('zero_mariadb', 'm5', '', 1), ('zero_mariadb', 'm6', '', 1),
           |  ('parser', 'p1', 'mysql',   1), ('parser', 'p2', 'mysql', 1),
           |  ('parser', 'p3', 'mariadb', 1), ('parser', 'p4', 'mysql', 0),
           |  ('parser', 'p5', 'mariadb', 0), ('parser', 'p6', 'mysql', 1),
           |  ('parser', 'p7', 'error',   0), ('parser', 'p8', 'error', 0),
           |  ('sorted', 's1', '03fc0263-28c7-11e7-a653-6c0b84d59f30:1-7041423,05474d3c-28c7-11e7-8352-203db246dd3d:1-170,10b039fc-c843-11e7-8f6a-1866daf8d810:1-308290454,3ccc475b-2343-11e7-be21-6c0b84d59f30:1-14,406a3f61-690d-11e7-87c5-6c92bf46f384:1-94321383,53bfca22-690d-11e7-8a62-18ded7a37b78:1-495,686e1ab6-c47e-11e7-a42c-6c92bf46f384:1-34981190', 1)
           |) v(kind, c, res, n)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.Gtid
    val zeroMy = Seq("", "xxxxx", "xxxxx:0,yyyy:0", "xxxxx:1-2",
      "xxxxx:0-0", "xxxxx:0", " xxxxx:0 ")
    val zeroMa = Seq("", "xxxxx", "a-b-0,c-d:0", "xxxxx:1", "x-y-0",
      " x-y-0 ")
    val parsers = Seq(
      ("mysql", ""),
      ("mysql", "3ccc475b-2343-11e7-be21-6c0b84d59f30:0"),
      ("mariadb", "0-0-0"),
      ("", "3ccc475b-2343-11e7-be21-6c0b84d59f30:1-14"),
      ("", "0-0-1,1-1-1,4-20-1,3-1-1,10-10-10"),
      ("", ""),
      ("wrong flavor", "x"),
      ("mysql", "not-a-gtid"))
    val big = "3ccc475b-2343-11e7-be21-6c0b84d59f30:1-14," +
      "406a3f61-690d-11e7-87c5-6c92bf46f384:1-94321383," +
      "53bfca22-690d-11e7-8a62-18ded7a37b78:1-495," +
      "05474d3c-28c7-11e7-8352-203db246dd3d:1-170," +
      "10b039fc-c843-11e7-8f6a-1866daf8d810:1-308290454," +
      "686e1ab6-c47e-11e7-a42c-6c92bf46f384:1-34981190," +
      "03fc0263-28c7-11e7-a653-6c0b84d59f30:1-7041423"
    val merged = Seq(big).toDF("s")
      .select(explode(Gtid.parseSet(col("s"))).as("iv"))
      .select(col("iv.uuid").as("uuid"), col("iv.start").as("start"),
        col("iv.end").as("end"))
    val rendered = Gtid.renderSet(merged).head().getString(0)
    val rows =
      zeroMy.zipWithIndex.map { case (s, i) =>
        ("zero_mysql", s"z${i + 1}", "",
          if (Gtid.isZeroMySqlSet(s)) 1 else 0)
      } ++
      zeroMa.zipWithIndex.map { case (s, i) =>
        ("zero_mariadb", s"m${i + 1}", "",
          if (Gtid.isZeroMariaDbSet(s)) 1 else 0)
      } ++
      parsers.zipWithIndex.map { case ((f, s), i) =>
        Gtid.parserDecision(f, s) match {
          case Right((fl, empty)) =>
            ("parser", s"p${i + 1}", fl, if (empty) 1 else 0)
          case Left(_) => ("parser", s"p${i + 1}", "error", 0)
        }
      } ++
      Seq(("sorted", "s1", rendered, 1))
    rows.toDF("kind", "c", "res", "n")
  }

  /** The q288 op script: two escalation waves (missing at ts=1, mismatch
    * at ts=2), then the dmctl sequence — ignore one early id, resolve-all
    * of wave 1, clear one wave-1 row, ignore-all over both waves, and a
    * final targeted resolve that must win the same-ts tie by op order.
    * (ts, op, errId, isAll) rendered into BOTH engines. */
  private val errOps: Seq[graft.streaming.Validator.ErrorOp] = {
    import graft.streaming.Validator._
    Seq(
      ErrorOp(1L, IgnoreErrOp, errId = 3L),
      ErrorOp(1L, ResolveErrOp, isAll = true),
      ErrorOp(1L, ClearErrOp, errId = 5L),
      ErrorOp(2L, IgnoreErrOp, isAll = true),
      ErrorOp(2L, ResolveErrOp, errId = 4L),
      ErrorOp(2L, ClearErrOp, errId = 7L))
  }

  /**
   * q288 — VALIDATOR ERROR OPERATIONS (`dmctl validation
   * ignore-error/resolve-error/clear-error`,
   * data_validator.go:1341-1362 → validator_checkpoint.go:683-724 +
   * loadError :634-681): the q53 validation scenario's failures become
   * two escalation waves of persisted error rows (ids in escalation
   * order), a scripted op sequence folds over them — clear deletes
   * permanently, ignore/resolve set status with latest-applicable-wins,
   * ops only touch rows existing at their time so wave-2 escapes wave-1's
   * resolve-all — and the gate pins the surviving per-row statuses plus
   * the per-state counts of GetValidatorError's filter views.
   */
  val validatorErrorOps = GateQuery(
    "q288_validator_error_ops",
    Some(CdcQueries.splitCte +
      s""", expected AS (
        |  SELECT schema_name, table_name, pk,
        |    arg_max(coalesce(val_after, -1), seq) AS exp_val,
        |    arg_min(op, seq) AS first_op, arg_max(op, seq) AS last_op
        |  FROM split GROUP BY 1, 2, 3
        |), live AS (
        |  SELECT * FROM expected
        |  WHERE NOT (first_op = 'I' AND last_op = 'D') AND last_op <> 'D'
        |), errs AS (
        |  SELECT schema_name, table_name, pk,
        |    CASE WHEN pk % 151 = 0 THEN 1 ELSE 2 END AS error_ts
        |  FROM live WHERE pk % 151 = 0 OR pk % 97 = 0
        |), ids AS (
        |  SELECT *, CAST(row_number() OVER (ORDER BY error_ts, schema_name,
        |    table_name, pk) AS BIGINT) AS id
        |  FROM errs
        |), ops(op_seq, op_ts, op_kind, op_err_id, op_is_all) AS (VALUES
        |  ${errOps.zipWithIndex.map { case (o, i) =>
             s"(${i}, ${o.ts}, ${o.op}, ${o.errId}, ${if (o.isAll) "TRUE" else "FALSE"})"
           }.mkString(", ")}
        |), folded AS (
        |  SELECT i.id, i.schema_name, i.table_name, i.pk, i.error_ts,
        |    max(CASE WHEN o.op_kind = ${graft.streaming.Validator.ClearErrOp}
        |        THEN 1 ELSE 0 END) AS cleared,
        |    coalesce(arg_max(o.op_kind, CASE WHEN o.op_kind IN (
        |        ${graft.streaming.Validator.IgnoreErrOp},
        |        ${graft.streaming.Validator.ResolveErrOp})
        |      THEN o.op_ts * 1000000 + o.op_seq END), 0) AS last_set
        |  FROM ids i LEFT JOIN ops o
        |    ON o.op_ts >= i.error_ts AND (o.op_is_all OR o.op_err_id = i.id)
        |  GROUP BY 1, 2, 3, 4, 5
        |), view AS (
        |  SELECT id, schema_name, table_name, pk, error_ts,
        |    CASE WHEN last_set = ${graft.streaming.Validator.IgnoreErrOp}
        |           THEN ${graft.streaming.Validator.IgnoredErr}
        |         WHEN last_set = ${graft.streaming.Validator.ResolveErrOp}
        |           THEN ${graft.streaming.Validator.ResolvedErr}
        |         ELSE ${graft.streaming.Validator.NewErr} END AS status
        |  FROM folded WHERE cleared = 0
        |)
        |SELECT 'row' AS kind, id, schema_name, table_name, pk, error_ts,
        |  CAST(status AS BIGINT) AS status, CAST(1 AS BIGINT) AS cnt
        |FROM view
        |UNION ALL
        |SELECT 'count', CAST(status AS BIGINT), '', '', 0, 0, CAST(status AS BIGINT),
        |  CAST(count(*) AS BIGINT)
        |FROM view GROUP BY status""".stripMargin)) { (spark, dir) =>
    import graft.streaming.Validator
    val live = liveExpected(spark, dir)
    // the q53 failure classes as escalation waves: missing rows (dropped
    // downstream) escalate first, value mismatches a round later
    val errors = live
      .filter(col("pk") % 151 === 0 || col("pk") % 97 === 0)
      .withColumn("error_ts",
        when(col("pk") % 151 === 0, 1L).otherwise(2L))
      .select("schema_name", "table_name", "pk", "error_ts")
    val view = Validator.errorView(errors, errOps)
    val rows = view.select(lit("row").as("kind"), col("id"),
      col("schema_name"), col("table_name"), col("pk"), col("error_ts"),
      col("status").cast("long").as("status"), lit(1L).as("cnt"))
    val counts = view.groupBy("status")
      .agg(count(lit(1)).as("cnt"))
      .select(lit("count").as("kind"), col("status").cast("long").as("id"),
        lit("").as("schema_name"), lit("").as("table_name"),
        lit(0L).as("pk"), lit(0L).as("error_ts"),
        col("status").cast("long").as("status"), col("cnt"))
    rows.unionByName(counts)
  }

  def all: Seq[GateQuery] = Seq(
    schemaAsof, validator, mediaFeatures, imageDecode, imageResize,
    audioDecode, videoFrames,
    chunkedLoad, claimCheck, handleKeyOnly,
    claimCheckWrite, handleKeyReassemble,
    storageLayout, columnSelector, partitionId, twoPcMatch, onlineDdl,
    jsonOps, jsonVariant, enumDict, gtidSets, saltedJoin, dumpLoad,
    asofNative, asofForward, asofNearest, scdHistory, timeTravel,
    warehousePipeline, gtidFlavor, validatorErrorOps)
}
