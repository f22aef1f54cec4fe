package graft

import graft.diff.ChunkDiff
import graft.operators.{ForceReplicate, Sketches, TextLm, TfIdf}
import org.apache.spark.sql.functions._

/** Specs for the round-9 operators: BM25 ranking, histogram quantiles,
  * force-replicate (PK-less) multiset apply + SQL forms, diff range. */
class Round9Spec extends SparkSpec {
  import spark.implicits._

  // ---- BM25 ----------------------------------------------------------

  test("bm25 ranks an exact-match doc above a diluted one, hand-checked") {
    // d1: "cat" once in 2 tokens; d2: "cat" once in 8 tokens; d3: no hit.
    val docs = Seq(
      (1L, "cat dog"),
      (2L, "cat a b c d e f g"),
      (3L, "x y z")).toDF("doc_id", "text")
    val out = TfIdf.bm25TopK(docs, "doc_id", "text", Seq("cat"), 3)
      .collect().map(r => (r.getLong(0), r.getLong(3)))
    // N=3, df=2 → idf_q16 = l2q16(3) − l2q16(2); avgdl = 13/3 = 4
    val idf = TextLm.l2q16Long(3) - TextLm.l2q16Long(2)
    def score(dl: Long) = (idf * 22 * 4) / (10 * 4 + 3 * 4 + 9 * dl)
    assert(out.head == ((1L, score(2))))
    assert(out(1) == ((2L, score(8))))
    assert(out(2) == ((3L, 0L))) // no hit scores zero, still ranked
    assert(score(2) > score(8))  // length normalization is live
  }

  test("bm25 repeated term saturates (diminishing, monotone in tf)") {
    val docs = Seq(
      (1L, "cat cat cat cat"),
      (2L, "cat cat dog dog"),
      (3L, "cat dog dog dog"),
      (4L, "dog dog dog dog")).toDF("doc_id", "text") // df < N → idf > 0
    val s = TfIdf.bm25TopK(docs, "doc_id", "text", Seq("cat"), 4)
      .collect().map(r => r.getLong(0) -> r.getLong(3)).toMap
    assert(s(1L) > s(2L) && s(2L) > s(3L))
    // saturation: tf 1→2 gains more than tf 2→4 per added occurrence
    assert((s(2L) - s(3L)) > (s(1L) - s(2L)) / 2)
  }

  // ---- histogram quantiles -------------------------------------------

  test("histQuantiles picks the ceil-rank bin with exact cumulative") {
    // values 0..99, bin width 10 → bins 0..9 with 10 each
    val df = (0 until 100).map(_.toLong).toDF("v")
    val hist = Sketches.histogram(df, col("v"), 10L)
    val q = Sketches.histQuantiles(hist, 10L, Seq(25, 50, 99, 100))
      .collect().map(r => r.getInt(0) -> (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(q(25) == ((2L, 30L, 29L)))  // cum 30 ≥ 25; upper bound 29
    assert(q(50) == ((4L, 50L, 49L)))  // cum 50 ≥ 50 exactly
    assert(q(99) == ((9L, 100L, 99L)))
    assert(q(100) == ((9L, 100L, 99L)))
  }

  test("histogram shards merge by adding counts (mergeability contract)") {
    val a = Seq(1L, 5L, 9L).toDF("v")
    val b = Seq(2L, 5L, 19L).toDF("v")
    val merged = Sketches.histogram(a.union(b), col("v"), 10L)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val sumOfParts = (Sketches.histogram(a, col("v"), 10L) union
        Sketches.histogram(b, col("v"), 10L))
      .groupBy("bin").agg(sum("n").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(merged == sumOfParts)
  }

  // ---- force-replicate ------------------------------------------------

  test("multiset applied lifts above net exactly by the no-op delete depth") {
    // value X: D (no-op), I, I, D → net 0, applied 1
    // value Y: I, D, D, I    → net 0, applied 1 (second D is the no-op)
    // value Z: I, I          → net 2, applied 2
    val evs = Seq(
      (1L, "D", "X"), (2L, "I", "X"), (3L, "I", "X"), (4L, "D", "X"),
      (1L, "I", "Y"), (2L, "D", "Y"), (3L, "D", "Y"), (4L, "I", "Y"),
      (1L, "I", "Z"), (2L, "I", "Z")).toDF("ord", "op", "v")
    val out = ForceReplicate.multisetApply(evs.toDF(), Seq("v"), col("ord"))
      .collect().map(r => r.getString(0) -> (r.getLong(3), r.getLong(4))).toMap
    assert(out("X") == ((0L, 1L)))
    assert(out("Y") == ((0L, 1L)))
    assert(out("Z") == ((2L, 2L)))
  }

  test("delete SQL uses all columns, IS NULL for nulls, and LIMIT 1") {
    val rows = Seq(("g1", Some(5L)), ("g2", None)).toDF("grp", "v")
    val fields: Seq[ForceReplicate.Field] = Seq(
      ("grp", col("grp"), concat(lit("'"), col("grp"), lit("'"))),
      ("v", col("v"), col("v").cast("string")))
    val sqls = rows.select(ForceReplicate.deleteSql("`d`.`t`", fields))
      .as[String].collect()
    assert(sqls(0) == "DELETE FROM `d`.`t` WHERE `grp` = 'g1' AND `v` = 5 LIMIT 1;")
    assert(sqls(1) == "DELETE FROM `d`.`t` WHERE `grp` = 'g2' AND `v` IS NULL LIMIT 1;")
    val ins = rows.select(ForceReplicate.insertSql("`d`.`t`", fields))
      .as[String].collect()
    assert(ins(0) == "INSERT INTO `d`.`t` (`grp`, `v`) VALUES ('g1', 5);")
    assert(ins(1) == "INSERT INTO `d`.`t` (`grp`, `v`) VALUES ('g2', NULL);")
  }

  // ---- residual IVF-PQ -------------------------------------------------

  test("ivf-pq: results only come from probed cells; codes cover every doc") {
    import graft.operators.VectorOps
    val rnd = new scala.util.Random(11)
    // two well-separated 8-dim clusters around +10 and -10
    val vecs = (0L until 20L).map { i =>
      val base = if (i % 2 == 0) 10.0 else -10.0
      (i, (0 until 8).map(d => base + rnd.nextGaussian() * 0.5).toArray)
    }
    val e = vecs.toDF("vec_id", "embedding")
    val a0 = VectorOps.kmeans(e, k = 2, iters = 0)
    val c1 = VectorOps.centroids(
      a0.select(col("centroid_id"), col("embedding")), "centroid_id", "embedding")
    val cents = c1.collect()
      .map(r => (r.getLong(0), r.getSeq[Long](1).toSeq)).toSeq.sortBy(_._1)
    val a1 = VectorOps.assignCentroids(e, c1)
    val baseRes = a1.orderBy("vec_id").limit(2)
      .select(VectorOps.residual(VectorOps.quantize(col("embedding")),
        col("centroid_id"), cents).as("rv"))
      .collect().map(_.getSeq[Long](0).toSeq).toSeq
    val books = (0 until 4).map(s => baseRes.map(_.slice(s * 2, (s + 1) * 2)))
    val enc = VectorOps.pqEncodeResidual(a1, cents, books, subDim = 2)
    assert(enc.count() == 20)
    assert(enc.select(size(col("codes"))).distinct().collect()
      .map(_.getInt(0)).toSeq == Seq(4))
    // nProbe = 1: every neighbor must share the query's OWN cell (the
    // nearest cell to a cluster member is its cluster)
    val res = VectorOps.pqSearchResidual(enc,
      e.filter(col("vec_id") < 4), cents, books, subDim = 2, nProbe = 1, k = 3)
    val own = a1.select(col("vec_id").as("query_id"),
      col("centroid_id").as("own_cell"))
    val joined = res.join(own, Seq("query_id"))
      .filter(col("cell") =!= col("own_cell")).count()
    assert(joined == 0)
  }

  // ---- dumpling dump format -------------------------------------------

  test("dump metadata: GTID continuation lines, slave-status skip, location2") {
    import graft.streaming.DumpFormat
    val meta = DumpFormat.parseMetaData(
      """Started dump at: 2024-01-01 00:00:00
        |SHOW SLAVE STATUS:
        |	Host: upstream
        |	Log: should-be-skipped.000001
        |
        |SHOW MASTER STATUS:
        |	Log: mysql-bin.000011
        |	Pos: 5213
        |	GTID: aaaa-bbbb:1-5,
        |cccc-dddd:1-9
        |
        |Finished dump at: 2024-01-01 00:00:09
        |""".stripMargin)
    assert(meta.logFile == "mysql-bin.000011" && meta.pos == 5213L)
    assert(meta.gtid == "aaaa-bbbb:1-5,cccc-dddd:1-9") // continuation joined
    assert(!meta.hasLocation2)
    intercept[IllegalArgumentException] {
      DumpFormat.parseMetaData("Started dump at: x\nFinished dump at: y\n")
    }
  }

  test("insert-values parser: quotes, escaped quotes, commas in strings, NULL") {
    import graft.streaming.DumpFormat
    val rows = DumpFormat.parseInsertValues(
      "INSERT INTO `t` VALUES (1, 'a,b', 'it''s', NULL, 2.50),\n" +
        "(2, '', 'x(y)', 'NULL', 3)")
    assert(rows == Seq(
      Seq("1", "a,b", "it's", null, "2.50"),
      Seq("2", "", "x(y)", "NULL", "3"))) // quoted 'NULL' stays a string
  }

  // ---- DM binlog event filter -----------------------------------------

  test("binlog filter: Do whitelists, empty-events Do ignores everything") {
    import graft.operators.Filters
    def decide(rules: Seq[Filters.BinlogEventRule],
               rows: Seq[(String, String, String, String)]): Seq[String] =
      rows.toDF("s", "t", "ev", "q")
        .select(Filters.binlogEventDecision(col("s"), col("t"), col("ev"),
          col("q"), rules)).as[String].collect().toSeq
    val doInsert = Seq(Filters.BinlogEventRule("d", "*", Seq("insert"), Nil, "Do"))
    assert(decide(doInsert, Seq(
      ("d", "t", "insert", ""), ("d", "t", "delete", ""),
      ("x", "t", "delete", ""))) == Seq("Do", "Ignore", "Do"))
    // empty event list + Do = nothing ever matches -> everything ignored
    // (the reference code path: unmatched && Do -> Ignore, before SQL)
    val doNothing = Seq(Filters.BinlogEventRule("d", "*", Nil, Nil, "Do"))
    assert(decide(doNothing, Seq(("d", "t", "insert", ""))) == Seq("Ignore"))
  }

  test("binlog filter: entry order is sequential — none terminates the scan") {
    import graft.operators.Filters
    def one(events: Seq[String], ev: String): String =
      Seq(("d", "t", ev, "")).toDF("s", "t", "ev", "q")
        .select(Filters.binlogEventDecision(col("s"), col("t"), col("ev"),
          col("q"),
          Seq(Filters.BinlogEventRule("d", "*", events, Nil, "Ignore"))))
        .as[String].collect().head
    assert(one(Seq("none", "insert"), "insert") == "Do")  // none wins first
    assert(one(Seq("insert", "none"), "insert") == "Ignore")
    assert(one(Seq("all dml"), "truncate table") == "Do") // group scoped to dml
    assert(one(Seq("incompatible ddl changes"), "truncate table") == "Ignore")
    assert(one(Seq("incompatible ddl changes"), "create table") == "Do")
  }

  test("binlog filter: sql patterns decide only when the event block didn't") {
    import graft.operators.Filters
    val r = Seq(Filters.BinlogEventRule("d", "*", Nil, Seq("^DROP"), "Ignore"))
    val got = Seq(
      ("d", "t", "drop table", "DROP TABLE d.t"),
      ("d", "t", "create table", "CREATE TABLE d.t (i INT)"),
      ("d", "t", "insert", "")) // no raw query -> sql block skipped -> Do
      .toDF("s", "t", "ev", "q")
      .select(Filters.binlogEventDecision(col("s"), col("t"), col("ev"),
        col("q"), r)).as[String].collect().toSeq
    assert(got == Seq("Ignore", "Do", "Do"))
  }

  // ---- transaction-atomicity batching ---------------------------------

  test("atomicBatchIds closes only at txn boundaries and may overshoot the cap") {
    import graft.operators.Compaction
    // txns in commit order: 5, 4, 6 (closes at 15 ≥ 10), 9, 2 (closes at 11), 3
    val txns = Seq(
      ("s", "t", 1L, 5L), ("s", "t", 2L, 4L), ("s", "t", 3L, 6L),
      ("s", "t", 4L, 9L), ("s", "t", 5L, 2L), ("s", "t", 6L, 3L))
      .toDF("schema_name", "table_name", "commit_ts", "n_rows")
    val got = Compaction.atomicBatchIds(txns, 10L)
      .orderBy("commit_ts")
      .select("commit_ts", "batch_id").as[(Long, Long)].collect().toSeq
    assert(got == Seq(1L -> 0L, 2L -> 0L, 3L -> 0L, 4L -> 1L, 5L -> 1L, 6L -> 2L))
    // batch 0 = 15 rows (overshoot to keep txn 3 whole), batch 1 = 11
  }

  test("a single oversized txn gets its own batch, unsplit") {
    import graft.operators.Compaction
    val txns = Seq(("s", "t", 1L, 25L), ("s", "t", 2L, 1L))
      .toDF("schema_name", "table_name", "commit_ts", "n_rows")
    val got = Compaction.atomicBatchIds(txns, 10L)
      .orderBy("commit_ts").select("batch_id").as[Long].collect().toSeq
    assert(got == Seq(0L, 1L)) // 25-row txn alone in batch 0, never split
  }

  // ---- BPE encode -----------------------------------------------------

  test("applyMerges chains ranks and consumes boundary spaces greedily") {
    import graft.operators.Curation
    val out = Seq("a a the x a a a table hash")
      .toDF("text")
      .select(Curation.applyMerges(col("text"),
        Seq("a a", "a_a the", "table hash")))
      .as[String].collect().head
    // pass1: "a a"→a_a twice? "a a the x a a a ..." → first "a a" fuses;
    // then "a a" in the tail: boundary space consumed → only one fuse there
    // pass2 fuses "a_a the"; rank-3 independent
    assert(out == "a_a_the x a_a a table_hash")
  }

  test("applyMerges rejects non-word merge rules (SQL-splice guard)") {
    import graft.operators.Curation
    intercept[IllegalArgumentException] {
      Curation.applyMerges(col("text"), Seq("a' b"))
    }
  }

  // ---- DSIR importance weighting --------------------------------------

  test("dsir weights target-like docs above anti-target ones") {
    import graft.operators.Dsir
    // target loves "cat", raw is dominated by "dog"
    val target = Seq("cat cat cat cat cat cat").toDF("text")
    val raw = Seq(
      (1L, "cat cat cat cat"),
      (2L, "dog dog dog dog"),
      (3L, "cat cat dog dog")).toDF("doc_id", "text")
    val lam = Dsir.bucketLogRatio(target, raw, "text", 64)
    val s = Dsir.scoreDocs(raw, lam, "doc_id", "text", 64)
      .collect().map(r => r.getLong(0) -> r.getAs[Long]("score_q16")).toMap
    assert(s(1L) > s(3L) && s(3L) > s(2L))
    assert(s(1L) > 0 && s(2L) < 0) // sign = more/less target-like than raw
  }

  test("dsir lambda table covers every bucket exactly once") {
    import graft.operators.Dsir
    val lam = Dsir.bucketLogRatio(
      Seq("x").toDF("text"), Seq("y").toDF("text"), "text", 32).collect()
    assert(lam.length == 32)
    assert(lam.map(_.getLong(0)).sorted.toSeq == (0L until 32L))
  }

  // ---- duplicated-substring span excision ------------------------------

  test("dupSpans merges overlapping windows; exciseSpans removes exactly them") {
    import graft.operators.Curation
    // doc 1 and 2 share the 8-token run "a b c d e f g h" twice in doc 1
    // (positions 0 and 10), once in doc 2; doc 3 is clean.
    val shared = "a b c d e f g h"
    val docs = Seq(
      (1L, s"$shared x y $shared z"),
      (2L, s"p q $shared r s t u v w"),
      (3L, "k l m n o kk ll mm nn oo")).toDF("id", "text")
    val spans = Curation.dupSpans(docs, "id", "text", 8)
      .orderBy("id", "s")
      .select("id", "s", "e", "n_windows", "span_tokens")
      .as[(Long, Long, Long, Long, Long)].collect().toSeq
    // doc 1: windows at 0 and 10 — gap 10 > w-1? 10 - 0 = 10 > 7 → two spans
    // doc 2: one window at 2
    assert(spans == Seq((1L, 0L, 0L, 1L, 8L), (1L, 10L, 10L, 1L, 8L),
      (2L, 2L, 2L, 1L, 8L)))
  }

  test("exciseSpans drops covered tokens, keeps order, empty when fully covered") {
    import graft.operators.Curation
    val docs = Seq(
      (1L, "a b c d e f g h x y a b c d e f g h z"),
      (2L, "p q a b c d e f g h r s t u v w")).toDF("id", "text")
    val spans = Curation.dupSpans(docs, "id", "text", 8)
    val surv = Curation.exciseSpans(docs, spans, "id", "text", 8)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(surv == Seq((1L, "x y z"), (2L, "p q r s t u v w")))
    // fully-covered doc: two identical 8-token docs
    val dup = Seq((1L, "a b c d e f g h"), (2L, "a b c d e f g h"))
      .toDF("id", "text")
    val s2 = Curation.exciseSpans(dup, Curation.dupSpans(dup, "id", "text", 8),
      "id", "text", 8).orderBy("id").as[(Long, String)].collect().toSeq
    assert(s2 == Seq((1L, ""), (2L, "")))
  }

  test("dupSpans interval-merge bridges gaps smaller than the window") {
    import graft.operators.Curation
    // doc 1 repeats two overlapping-coverage runs: windows at 0 and 4
    // (gap 4 < w=8) must merge into ONE span covering tokens 0..11
    val r1 = "a b c d e f g h"          // window at 0 (shared with doc 2)
    val mid = "m1 m2 m3 m4"
    val r2 = "q r s t u v w x"          // window at 4+... construct precisely:
    // doc1 tokens: a b c d q r s t u v w x  → windows: [a..t]? simpler:
    // make doc1 = "a b c d e f g h i j k l" and doc2/doc3 share windows
    // starting at 0 and 4 respectively
    val doc1 = "a b c d e f g h i j k l"
    val w0 = "a b c d e f g h"          // positions 0..7
    val w4 = "e f g h i j k l"          // positions 4..11
    val docs = Seq((1L, doc1), (2L, s"zz $w0 yy"), (3L, s"xx $w4 ww"))
      .toDF("id", "text")
    val spans = Curation.dupSpans(docs, "id", "text", 8)
      .filter(col("id") === 1L)
      .select("s", "e", "n_windows", "span_tokens")
      .as[(Long, Long, Long, Long)].collect().toSeq
    assert(spans == Seq((0L, 4L, 2L, 12L))) // merged: covers tokens 0..11
  }

  test("keep-first excision: the canonical copy survives intact, clones excise") {
    import graft.operators.Curation
    val shared = "a b c d e f g h"
    val selfRep = "p q r s t u v w"
    val docs = Seq(
      (1L, s"$shared tail one"),     // corpus-wide owner: keeps everything
      (2L, s"head $shared"),         // clone: loses the shared run
      (3L, s"$selfRep $selfRep"))    // self-repeat, first occurrence owns
      .toDF("id", "text")
    val spans = Curation.dupSpansKeepFirst(docs, "id", "text", 8)
    val surv = Curation.exciseSpans(docs, spans, "id", "text", 8)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(surv(0) == ((1L, s"$shared tail one"))) // byte-identical
    assert(surv(1) == ((2L, "head")))
    assert(surv(2) == ((3L, selfRep))) // second in-doc copy excised
    // ownership is CORPUS-wide: if another doc owns the run, BOTH of a
    // later doc's copies are foreign and the whole doc can excise away
    val docs2 = Seq((1L, shared), (2L, s"$shared $shared")).toDF("id", "text")
    val surv2 = Curation.exciseSpans(docs2,
      Curation.dupSpansKeepFirst(docs2, "id", "text", 8), "id", "text", 8)
      .orderBy("id").as[(Long, String)].collect().toSeq
    assert(surv2 == Seq((1L, shared), (2L, "")))
  }

  test("span excision ≡ brute-force covered-set reference on random corpora") {
    import graft.operators.Curation
    val w = 3
    val rnd = new scala.util.Random(7)
    val vocab = Seq("a", "b", "c", "d") // tiny vocab → dup windows happen
    for (trial <- 1 to 5) {
      val docs = (1L to 12L).map { id =>
        id -> (0 until (w + rnd.nextInt(15)))
          .map(_ => vocab(rnd.nextInt(vocab.length))).mkString(" ")
      }
      // brute force: global window occurrence counts → covered positions
      val toks = docs.map { case (id, t) => id -> t.split(" ").toSeq }.toMap
      val winCount = collection.mutable.Map.empty[String, Int]
      toks.values.foreach { ts =>
        ts.sliding(w).foreach(win =>
          winCount(win.mkString(" ")) = winCount.getOrElse(win.mkString(" "), 0) + 1)
      }
      val expect = toks.map { case (id, ts) =>
        val covered = Array.fill(ts.length)(false)
        ts.sliding(w).zipWithIndex.foreach { case (win, p) =>
          if (winCount(win.mkString(" ")) >= 2)
            (p until p + w).foreach(covered(_) = true)
        }
        id -> (covered.count(identity),
          ts.zipWithIndex.collect { case (t, i) if !covered(i) => t }.mkString(" "))
      }
      val df = docs.toDF("id", "text")
      val spans = Curation.dupSpans(df, "id", "text", w)
      val got = Curation.exciseSpans(df, spans, "id", "text", w)
        .as[(Long, String)].collect().toMap
      val cov = spans.groupBy("id").agg(sum("span_tokens").as("c"))
        .as[(Long, Long)].collect().toMap
      expect.foreach { case (id, (nCov, surviving)) =>
        assert(got(id) == surviving, s"trial $trial doc $id: '${got(id)}' vs '$surviving'")
        assert(cov.getOrElse(id, 0L) == nCov.toLong, s"trial $trial doc $id coverage")
      }
    }
  }

  // ---- streaming incremental dedup ------------------------------------

  test("streaming incremental dedup loop equals the sequential batch algebra") {
    import graft.operators.Dedup
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val (n3, k, bands, minJac) = (3, 12, 4, 60L)

    def uniq(i: Int) = (0 until 20).map(j => s"w${i}_$j").mkString(" ")
    def nearDup(base: String) = base.split(" ").dropRight(1).mkString(" ") + " changed"
    val d1 = uniq(1); val d2 = uniq(2); val d4 = uniq(4)
    // cross-batch plants: d3 ~ d1 (flag), d5 ~ d4 (flag), d6 ~ d2 (flag)
    val batches = Seq(
      Seq(1L -> d1, 2L -> d2),
      Seq(3L -> nearDup(d1), 4L -> d4),
      Seq(5L -> nearDup(d4), 6L -> nearDup(d2)))

    def analyzed(rows: Seq[(Long, String)]): DataFrame =
      Dedup.minhashAnalyzed(rows.toDF("id", "text"), "id", "text", n3, k)

    // sequential batch twin: same operators, driver loop
    var twinIndex = analyzed(batches.head)
    val twinFlagged = scala.collection.mutable.Set.empty[Long]
    batches.tail.foreach { b =>
      val an = analyzed(b)
      val m = Dedup.incrementalMatches(twinIndex, an, k, bands)
      twinFlagged ++= m.filter(col("jac_pct") >= minJac)
        .select("new_id").as[Long].collect()
      twinIndex = Dedup.admitToIndex(twinIndex, an, m, minJac).localCheckpoint(true)
    }

    // live loop: one StreamingQuery, three real microbatches, index carried
    // across foreachBatch invocations exactly as a production job would
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Long, String)]
    var liveIndex: DataFrame = null
    val liveFlagged = scala.collection.mutable.Set.empty[Long]
    val q = mem.toDF().toDF("id", "text").writeStream
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val an = Dedup.minhashAnalyzed(batch, "id", "text", n3, k)
        if (liveIndex == null) liveIndex = an.localCheckpoint(true)
        else {
          val m = Dedup.incrementalMatches(liveIndex, an, k, bands)
          liveFlagged ++= m.filter(col("jac_pct") >= minJac)
            .select("new_id").as[Long].collect()
          liveIndex = Dedup.admitToIndex(liveIndex, an, m, minJac)
            .localCheckpoint(true)
        }
        ()
      }
      .start()
    batches.foreach { b => mem.addData(b: _*); q.processAllAvailable() }
    q.stop()

    assert(liveFlagged == twinFlagged && twinFlagged == Set(3L, 5L, 6L))
    val liveIds = liveIndex.select("id").as[Long].collect().sorted.toSeq
    val twinIds = twinIndex.select("id").as[Long].collect().sorted.toSeq
    assert(liveIds == twinIds && liveIds == Seq(1L, 2L, 4L))
  }

  // ---- diff range -----------------------------------------------------

  test("rowDiffIgnoring: rows differing only in an ignored column compare equal") {
    val src = Seq((1L, "a", 10L), (2L, "b", 20L), (3L, "c", 30L))
      .toDF("k", "v", "ts")
    val tgt = Seq((1L, "a", 99L), (2L, "B", 20L), (3L, "c", 30L))
      .toDF("k", "v", "ts")
    def named(df: org.apache.spark.sql.DataFrame) = Seq(
      "k" -> col("k").cast("string"), "v" -> col("v"),
      "ts" -> col("ts").cast("string"))
    val ign = ChunkDiff.rowDiff(src, tgt, Seq("k"),
        df => ChunkDiff.canonicalIgnoring(named(df), Set("ts")))
      .select("k", "diff_type").as[(Long, String)].collect().toSet
    assert(ign == Set((2L, "different"))) // k=1's ts-only change is invisible
    val full = ChunkDiff.rowDiff(src, tgt, Seq("k"), df => named(df).map(_._2))
      .select("k", "diff_type").as[(Long, String)].collect().toSet
    assert(full == Set((1L, "different"), (2L, "different")))
  }

  test("Sql.applyMerges rejects non-word rules like its Column twin") {
    import graft.operators.Curation
    intercept[IllegalArgumentException] {
      Curation.Sql.applyMerges("text", Seq("a' b"))
    }
  }

  test("withRange excludes out-of-range diffs; boundary crossers classify") {
    val src = Seq((1L, 10L), (2L, 5L), (3L, 7L)).toDF("k", "q")
    // k=1 differs but is outside range; k=2 crosses the q>5 boundary
    val tgt = Seq((1L, 99L), (2L, 6L), (3L, 7L)).toDF("k", "q")
    val range = "k >= 2 AND q > 5"
    val diff = ChunkDiff.rowDiff(
      ChunkDiff.withRange(src, range), ChunkDiff.withRange(tgt, range),
      Seq("k"), df => Seq(col("k"), col("q").cast("string")))
      .select("k", "diff_type").as[(Long, String)].collect().toSet
    assert(diff == Set((2L, "extra"))) // k=1 never compared; k=3 equal
  }
}
