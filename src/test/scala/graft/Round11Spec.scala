package graft

import graft.operators.Ranges
import org.apache.spark.sql.functions._

/** Specs for the round-10 operators: the keyless binned range join and
  * the data-layout / sampling / curation tier that follows it. */
class Round11Spec extends SparkSpec {
  import spark.implicits._

  // ---- binned range join --------------------------------------------

  test("range join equals brute force on a seeded random workload") {
    val rnd = new scala.util.Random(421L)
    val points = Seq.tabulate(400)(i => (i.toLong, rnd.nextInt(10000).toLong))
      .toDF("pid", "p")
    val intervals = Seq.tabulate(60) { i =>
      val s = rnd.nextInt(10000).toLong
      (1000L + i, s, s + rnd.nextInt(900).toLong) // includes empty (len 0)
    }.toDF("iid", "s", "e")
    for (bin <- Seq(1L, 7L, 64L, 1000L, 100000L)) {
      val got = Ranges.pointInInterval(points, "p", intervals, "s", "e", bin)
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      val want = points.join(intervals,
          col("p") >= col("s") && col("p") < col("e"))
        .select("pid", "iid").as[(Long, Long)].collect().toSet
      assert(got == want, s"bin=$bin: ${got.size} vs ${want.size}")
      // exactly-once: no dedup hidden inside
      val n = Ranges.pointInInterval(points, "p", intervals, "s", "e", bin).count()
      assert(n == got.size.toLong, s"bin=$bin produced duplicate pairs")
    }
  }

  test("interval overlap join equals brute force; each pair exactly once") {
    val rnd = new scala.util.Random(423L)
    def ivs(n: Int, idBase: Long) = Seq.tabulate(n) { i =>
      val s = rnd.nextInt(3000).toLong
      (idBase + i, s, s + rnd.nextInt(500).toLong)
    }
    val a = ivs(80, 0L).toDF("aid", "as", "ae")
    val b = ivs(60, 1000L).toDF("bid", "bs", "be")
    for (bin <- Seq(1L, 13L, 256L, 10000L)) {
      val df = Ranges.intervalOverlap(a, "as", "ae", b, "bs", "be", bin)
      val got = df.select("aid", "bid").as[(Long, Long)].collect()
      val want = a.join(b, col("as") < col("be") && col("bs") < col("ae"))
        .select("aid", "bid").as[(Long, Long)].collect().toSet
      assert(got.toSet == want, s"bin=$bin: ${got.length} vs ${want.size}")
      assert(got.length == got.toSet.size, s"bin=$bin duplicated a pair")
    }
  }

  test("range join fails FAST with an actionable message on sentinel-wide intervals") {
    val points = Seq((1L, 10L)).toDF("pid", "p")
    val wide = Seq((9L, 0L, Long.MaxValue)).toDF("iid", "s", "e")
    val err = intercept[Exception] {
      Ranges.pointInInterval(points, "p", wide, "s", "e", 1000L).count()
    }
    // the opaque billion-element Sequence failure is replaced by guidance
    assert(err.getMessage.contains("cap sentinel end values"),
      err.getMessage)
  }

  test("k-center stops early instead of emitting duplicate seeds") {
    import graft.operators.VectorOps
    val df = Seq((1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(1f, 0f))).toDF("vec_id", "embedding") // 2 distinct dirs
    val got = VectorOps.kCenterGreedy(df, "vec_id", "embedding", 5)
      .as[(Long, Long, Long)].collect().toSeq
    assert(got.map(_._2) == Seq(1L, 2L)) // distinct vectors ran out at 2
  }

  test("range join boundaries: start inclusive, end exclusive, empty interval") {
    val points = Seq((1L, 10L), (2L, 19L), (3L, 20L), (4L, 9L)).toDF("pid", "p")
    val intervals = Seq((100L, 10L, 20L), (101L, 15L, 15L)).toDF("iid", "s", "e")
    val got = Ranges.pointInInterval(points, "p", intervals, "s", "e", 4L)
      .select("pid", "iid").as[(Long, Long)].collect().toSet
    assert(got == Set((1L, 100L), (2L, 100L)))
  }

  // ---- z-order layout -----------------------------------------------

  test("writeZOrdered real parquet files prune a 2-dim box on min/max stats") {
    import graft.operators.Layout
    val (dir, _) = graft.queries.Gate.freshScratch("graft_zorder_", sf)
    val li = graft.core.Tables.load(spark, sf, "lineitem")
    Layout.writeZOrdered(li, "l_partkey", "l_suppkey", 10, 16, s"$dir/z")
    val back = spark.read.parquet(s"$dir/z")
    assert(back.count() == li.count()) // layout rewrites lose nothing
    // per real file: min/max of both dims; box = middle of each domain
    val stats = back
      .groupBy(input_file_name().as("f"))
      .agg(count(lit(1)).as("n"), min("l_partkey").as("nx"),
        max("l_partkey").as("xx"), min("l_suppkey").as("ny"),
        max("l_suppkey").as("xy"))
      .collect()
    assert(stats.length == 16, s"got ${stats.length} files")
    val (bx0, bx1, by0, by1) = (500L, 900L, 25L, 50L)
    val skipped = stats.count { r =>
      r.getAs[Long]("xx") < bx0 || r.getAs[Long]("nx") > bx1 ||
        r.getAs[Long]("xy") < by0 || r.getAs[Long]("ny") > by1
    }
    // the z-curve gives every file a bounded rectangle: a quarter-domain
    // box must prune a majority of the 16 files
    assert(skipped >= 8, s"only $skipped of 16 files skipped")
    graft.core.FileOps.deleteTree(new java.io.File(dir))
  }

  test("zValueN interleaves k dims; 2-dim case equals the original zValue2") {
    import graft.operators.Layout
    // 3 dims, 2 bits: (x1 y1 z1 x0 y0 z0) for x=0b01, y=0b11, z=0b10
    // → bits: x0=1,y0=1,z0=0,x1=0,y1=1,z1=1 → 1+2+0+0+16+32 = 51
    val r = Seq((1L, 3L, 2L)).toDF("x", "y", "z")
      .select(Layout.zValueN(Seq(col("x"), col("y"), col("z")), 2))
      .as[Long].head()
    assert(r == 51L)
    val both = Seq((5L, 3L)).toDF("x", "y")
      .select(Layout.zValue2(col("x"), col("y"), 10),
        Layout.zValueN(Seq(col("x"), col("y")), 10))
      .as[(Long, Long)].head()
    assert(both._1 == both._2 && both._1 == 27L)
  }

  // ---- weighted sampling --------------------------------------------

  test("l2q8 mantissa table is exact and the column twin matches the long twin") {
    import graft.operators.Sampling
    // exact table: floor(256·log2(m/256)) strictly between the bounds
    for (i <- Seq(0, 1, 100, 254, 255)) {
      val k = Sampling.MantissaQ8(i)
      val m = BigInt(i + 256)
      assert(m.pow(256) >= (BigInt(256).pow(256) << k.toInt))
      assert(m.pow(256) < (BigInt(256).pow(256) << (k.toInt + 1)))
    }
    // driver twin of the COLUMN formula (mantissa truncated to 8 bits
    // before the table lookup — both engines share this quantization)
    def viaTable(x: Long): Long = {
      val e = 63 - java.lang.Long.numberOfLeadingZeros(x)
      e.toLong * 256 + Sampling.MantissaQ8((((x * 256) >> e) - 256).toInt)
    }
    val xs = (Seq(1L, 2L, 3L, 255L, 256L, 257L, 65535L, 65536L, 1048576L) ++
      Seq.tabulate(50)(i => 1L + i * 20101L)).distinct
    val got = xs.toDF("x").select(Sampling.l2q8(col("x")).as("l"))
      .as[Long].collect()
    assert(got.toSeq == xs.map(viaTable))
    // within one quantum of the exact log, and monotone (sampling order
    // is preserved by the quantization)
    for (x <- xs) assert((Sampling.l2q8Long(x) - viaTable(x)).abs <= 1L)
    val dense = (1L to 4096L) ++ xs
    assert(dense.sorted.map(viaTable) == dense.map(viaTable).sorted)
  }

  test("weighted sampling overrepresents heavy rows and stays deterministic") {
    import graft.operators.Sampling
    val df = Seq.tabulate(2000) { i =>
      (i.toLong, if (i < 200) 500L else 1L) // 10% heavy, 500x weight
    }.toDF("id", "w")
    val s1 = Sampling.weightedSampleK(df, "id", "w", 200, 7)
      .select("id").as[Long].collect().toSet
    val s2 = Sampling.weightedSampleK(df, "id", "w", 200, 7)
      .select("id").as[Long].collect().toSet
    assert(s1 == s2) // same seed → same draw
    val heavy = s1.count(_ < 200L)
    // E[heavy] ≈ 186 of 200 under A-ES with these odds; far from the 20
    // a uniform draw would give
    assert(heavy > 120, s"heavy rows drawn: $heavy")
    val s3 = Sampling.weightedSampleK(df, "id", "w", 200, 8)
      .select("id").as[Long].collect().toSet
    assert(s3 != s1) // seed moves the draw
  }

  // ---- url canonicalization -----------------------------------------

  test("url canonicalization: ports, www, trackers, sorting, slash, fragment") {
    import graft.operators.UrlOps
    val cases = Seq(
      // default port strips only under its own scheme
      "HTTPS://WWW.A.Com:443/x/" -> "https://a.com/x",
      "http://a.com:443/x" -> "http://a.com:443/x",
      "http://A.COM:80" -> "http://a.com/",
      "https://a.com:8443/x" -> "https://a.com:8443/x",
      // tracker params drop, the rest sort; fragment drops
      "https://a.com/p?utm_source=s&b=2&a=1#frag" -> "https://a.com/p?a=1&b=2",
      "https://a.com/p?gclid=xyz" -> "https://a.com/p",
      // multiple trailing slashes; root path survives
      "https://a.com/x///" -> "https://a.com/x",
      "https://a.com///" -> "https://a.com/")
    val got = cases.map(_._1).toDF("u")
      .select(UrlOps.canonicalUrl(col("u"))).as[String].collect().toSeq
    assert(got == cases.map(_._2), got.zip(cases).filter(c => c._1 != c._2._2))
    val dom = Seq("https://www.cdn.x.srcA.CoM:443/p")
      .toDF("u").select(UrlOps.registeredDomain(col("u"))).as[String].head()
    assert(dom == "srca.com")
  }

  // ---- k-center coreset ---------------------------------------------

  test("k-center greedy picks the hand-derived farthest-first path") {
    import graft.operators.VectorOps
    // unit directions: quantized (127,0), (0,127), (89,89), (-127,0)
    val s2 = (1.0 / math.sqrt(2)).toFloat
    val df = Seq(
      (1L, Array(1f, 0f)), (2L, Array(0f, 1f)),
      (3L, Array(s2, s2)), (4L, Array(-1f, 0f))).toDF("vec_id", "embedding")
    val got = VectorOps.kCenterGreedy(df, "vec_id", "embedding", 3)
      .orderBy("sel_rank")
      .as[(Long, Long, Long)].collect().toSeq
    // start at min id; then the antipode (254² = 64516); then the
    // orthogonal axis (127²+127² = 32258) — d2_sel non-increasing
    assert(got == Seq((1L, 1L, 0L), (2L, 4L, 64516L), (3L, 2L, 32258L)))
  }

  // ---- SQL-surface registration -------------------------------------

  test("graft text kernels answer from SQL text identically to the Column API") {
    import org.apache.spark.sql.graftbridge.ColumnBridge
    import graft.functions._
    Seq(("the cat sat on the mat the cat sat", 0))
      .toDF("t", "z").createOrReplaceTempView("g_sqlfn")
    val viaSql = spark.sql(
      """SELECT graft_simhash(t) AS sh, graft_shingle_hashes(t, 3) AS shg,
        |  graft_winnow(t, 3, 4) AS wn, graft_token_tf(t) AS tf,
        |  graft_top_ngram_frac(t, 2) AS fr
        |FROM g_sqlfn""".stripMargin).collect().head
    val t = col("t")
    val viaApi = spark.table("g_sqlfn").select(
      TextRuns.simhash64(t, 32), TextRuns.shingleHashes(t, 3),
      TextRuns.winnowHashes(t, 3, 4), TextRuns.tokenTf(t),
      TextRuns.topNgramFrac(split(t, "\\s+"), 2)).collect().head
    assert(viaSql.toSeq == viaApi.toSeq)
    assert(viaSql.getAs[Long]("sh") != 0L)
  }

  // ---- forward as-of ---------------------------------------------------

  test("forward as-of: inclusive bound, nearest-following, none-after null") {
    val e = Seq((1L, 5L), (1L, 10L), (1L, 50L)).toDF("k", "ts")
    val v = Seq((1L, 10L, 100L), (1L, 20L, 200L)).toDF("vk", "vts", "value")
    val got = graft.plans.AsOf.join(spark, e, v, "k", "vk", "ts", "vts",
        forward = true)
      .orderBy("ts").select("ts", "vts", "value")
      .as[(Long, Option[Long], Option[Long])].collect().toSeq
    assert(got == Seq(
      (5L, Some(10L), Some(100L)),   // nearest following
      (10L, Some(10L), Some(100L)),  // AT the version ts: inclusive
      (50L, None, None)))            // nothing after
    // and the plan still contains no join operator
    val p = graft.plans.AsOf.join(spark, e, v, "k", "vk", "ts", "vts",
      forward = true).queryExecution.executedPlan.toString
    assert(!p.contains("Join"), s"plan:\n$p")
  }

  // ---- capped sessions ------------------------------------------------

  test("capped sessions: the duration cap splits even when the gap is small") {
    import graft.operators.Sessions
    val df = Seq((1L, 0L, 1L), (1L, 10L, 2L), (1L, 20L, 3L), (1L, 24L, 4L),
      (1L, 26L, 5L), (1L, 50L, 6L)).toDF("u", "us", "id")
    val got = Sessions.sessionizeCapped(df, "u", "us", "id", gapUs = 15L,
        capUs = 25L)
      .orderBy("ts").select("ts", "sess").as[(Long, Long)].collect().toSeq
    // ts 26: gap only 2 but duration 26 >= cap 25 → new session;
    // ts 50: gap 24 > 15 → new session
    assert(got == Seq((0L, 1L), (10L, 1L), (20L, 1L), (24L, 1L),
      (26L, 2L), (50L, 3L)))
  }

  // ---- randomized reference-fold properties ---------------------------

  test("dedupWithinDelta equals the reference fold on random event streams") {
    import graft.operators.Dedup
    val rnd = new scala.util.Random(424L)
    val evs = Seq.tabulate(400)(i =>
      (rnd.nextInt(5).toLong, rnd.nextInt(1000).toLong, i.toLong))
    val got = Dedup.dedupWithinDelta(
        evs.toDF("k", "ts", "id"), Seq("k"), "ts", "id", 37L)
      .select("ts", "id").as[(Long, Long)].collect().toSet
    val want = evs.groupBy(_._1).values.flatMap { g =>
      var anchor = Long.MinValue
      g.sortBy(e => (e._2, e._3)).flatMap { case (_, ts, id) =>
        if (anchor == Long.MinValue || ts >= anchor + 37L) {
          anchor = ts; Some((ts, id))
        } else None
      }
    }.toSet
    assert(got == want, s"${got.size} vs ${want.size}")
  }

  test("sessionizeCapped equals the reference fold on random event streams") {
    import graft.operators.Sessions
    val rnd = new scala.util.Random(425L)
    val evs = Seq.tabulate(400)(i =>
      (rnd.nextInt(4).toLong, rnd.nextInt(2000).toLong, i.toLong))
    val got = Sessions.sessionizeCapped(
        evs.toDF("k", "ts", "id"), "k", "ts", "id", gapUs = 25L, capUs = 90L)
      .select("k", "ts", "id", "sess")
      .as[(Long, Long, Long, Long)].collect().toSet
    val want = evs.groupBy(_._1).toSeq.flatMap { case (k, g) =>
      var sess = 0L; var start = Long.MinValue; var last = Long.MinValue
      g.sortBy(e => (e._2, e._3)).map { case (_, ts, id) =>
        if (sess == 0L || ts - last > 25L || ts - start >= 90L) {
          sess += 1; start = ts
        }
        last = ts
        (k, ts, id, sess)
      }
    }.toSet
    assert(got == want, s"${got.size} vs ${want.size}")
  }

  test("ivm maintenance equals rebuild under a random mutation stream") {
    import graft.operators.Ivm
    val rnd = new scala.util.Random(426L)
    val keys = Seq("a", "b", "c", "d")
    var current = Seq.tabulate(40)(i =>
      (keys(rnd.nextInt(4)), (rnd.nextInt(100) + 1).toDouble))
    val base = current
    val log = scala.collection.mutable.Buffer
      .empty[(String, String, Option[Double], Option[Double])]
    for (_ <- 1 to 120) {
      rnd.nextInt(3) match {
        case 0 => // insert
          val r = (keys(rnd.nextInt(4)), (rnd.nextInt(100) + 1).toDouble)
          current = current :+ r
          log += (("i", r._1, None, Some(r._2)))
        case 1 if current.nonEmpty => // delete a live row
          val i = rnd.nextInt(current.size)
          val r = current(i)
          current = current.patch(i, Nil, 1)
          log += (("d", r._1, Some(r._2), None))
        case 2 if current.nonEmpty => // in-place value update
          val i = rnd.nextInt(current.size)
          val (k, v) = current(i)
          val v2 = (rnd.nextInt(100) + 1).toDouble
          current = current.patch(i, Seq((k, v2)), 1)
          log += (("u", k, Some(v), Some(v2)))
        case _ => ()
      }
    }
    val state0 = Ivm.aggState(base.toDF("k", "v"), Seq("k"), "v")
    val maintained = Ivm.applyDelta(state0,
        Ivm.deltaState(log.toSeq.toDF("op", "k", "val_before", "val_after"),
          Seq("k")), Seq("k"))
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    val rebuilt = Ivm.aggState(current.toDF("k", "v"), Seq("k"), "v")
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(maintained == rebuilt)
  }

  test("merge equals the clause-cascade interpreter on random snapshots") {
    import graft.operators.Merge
    val rnd = new scala.util.Random(427L)
    val target = rnd.shuffle((0L to 30L).toList).take(20)
      .map(k => (k, rnd.nextInt(100).toLong, "T"))
    val source = rnd.shuffle((0L to 40L).toList).take(25)
      .map(k => (k, rnd.nextInt(100).toLong, "S"))
    val got = Merge.merge(
        target.toDF("k", "v", "tag"), source.toDF("k", "v", "tag"), Seq("k"),
        updateCond = col("s.v") > col("t.v"),
        deleteCond = col("s.k") % 7 === 0,
        insertCond = col("s.k") % 2 === 0)
      .as[(Long, Long, String)].collect().toSet
    val tMap = target.map(r => r._1 -> r).toMap
    val sMap = source.map(r => r._1 -> r).toMap
    val want = (tMap.keySet ++ sMap.keySet).flatMap { k =>
      (tMap.get(k), sMap.get(k)) match {
        case (Some(t), None) => Some(t)
        case (None, Some(s)) => if (s._1 % 2 == 0) Some(s) else None
        case (Some(t), Some(s)) =>
          if (s._1 % 7 == 0) None
          else if (s._2 > t._2) Some(s)
          else Some(t)
        case _ => None
      }
    }
    assert(got == want, s"${got.size} vs ${want.size}")
  }

  // ---- pagerank -------------------------------------------------------

  test("pagerank: one damped iteration matches the hand-computed ppm ranks") {
    import graft.operators.Graphs
    val edges = Seq((1L, 2L), (1L, 3L), (2L, 3L)).toDF("src", "dst")
    val got = Graphs.pageRank(edges, "src", "dst", iters = 1)
      .as[(Long, Long)].collect().toMap
    // A splits 10^6 across 2 edges (500000 each), B forwards 10^6 whole
    assert(got == Map(
      1L -> 150000L,                       // no in-edges: (1-d) only
      2L -> 575000L,                       // 150000 + 850000·500000÷10^6
      3L -> 1425000L))                     // 150000 + 850000·1500000÷10^6
  }

  // ---- incremental view maintenance ---------------------------------

  test("ivm: vanishing groups disappear; key-moving updates apply pre-split") {
    import graft.operators.Ivm
    val base = Seq(("A", 1.0), ("A", 2.0), ("B", 3.0)).toDF("k", "v")
    val state0 = Ivm.aggState(base, Seq("k"), "v")
    // delete all of A; move B's row to C as the split d+i pair
    val log = Seq(
      ("d", "A", Some(1.0), None), ("d", "A", Some(2.0), None),
      ("d", "B", Some(3.0), None), ("i", "C", None, Some(3.0)))
      .toDF("op", "k", "val_before", "val_after")
    val got = Ivm.applyDelta(state0, Ivm.deltaState(log, Seq("k")), Seq("k"))
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == Set(("C", 1L, 3.0)))
    // equals the from-scratch rebuild of the final table
    val rebuilt = Ivm.aggState(Seq(("C", 3.0)).toDF("k", "v"), Seq("k"), "v")
      .select(col("k"), col("cnt"), col("sum_v").cast("double"))
      .as[(String, Long, Double)].collect().toSet
    assert(got == rebuilt)
  }

  // ---- time-series resample -----------------------------------------

  test("resampleFfill: in-bucket last wins by (ts,id), gaps carry, leading stays null") {
    import graft.operators.Timeseries
    val df = Seq(
      // key a: bucket1 has ties at ts=15 → id 7 wins; bucket2 empty;
      // bucket3 observed
      ("a", 15L, 6L, 1.5), ("a", 15L, 7L, 2.5), ("a", 33L, 8L, 9.0),
      // key b: first observation in bucket 2 → buckets 0,1 stay null
      ("b", 25L, 9L, 4.0))
      .toDF("k", "us", "id", "v")
    val got = Timeseries.resampleFfill(df, "k", "us", "id", "v", 10L, 0L, 40L)
      .orderBy("k", "bucket_us")
      .as[(String, Long, Option[Double], Long)].collect().toSeq
    assert(got == Seq(
      ("a", 0L, None, 1L), ("a", 10L, Some(2.5), 0L),
      ("a", 20L, Some(2.5), 1L), ("a", 30L, Some(9.0), 0L),
      ("b", 0L, None, 1L), ("b", 10L, None, 1L),
      ("b", 20L, Some(4.0), 0L), ("b", 30L, Some(4.0), 1L)))
  }

  // ---- conditional merge --------------------------------------------

  test("merge clause matrix: guard holds stale rows, delete wins, insert filters") {
    import graft.operators.Merge
    val target = Seq((1L, 10L, "T"), (2L, 20L, "T"), (3L, 30L, "T"),
      (4L, 40L, "T")).toDF("k", "v", "tag")
    val source = Seq((1L, 11L, "S"), (2L, 19L, "S"), (3L, 99L, "S"),
      (5L, 50L, "S"), (6L, 60L, "S")).toDF("k", "v", "tag")
    val got = Merge.merge(target, source, Seq("k"),
        updateCond = col("s.v") > col("t.v"),
        deleteCond = col("s.k") === 3L,
        insertCond = col("s.k") === 5L)
      .as[(Long, Long, String)].collect().toSet
    assert(got == Set(
      (1L, 11L, "S"), // matched, guard passes → source row
      (2L, 20L, "T"), // matched, STALE source → target held
      // 3 deleted (delete precedes the update clause: 99 > 30 is true)
      (4L, 40L, "T"), // target-only passthrough
      (5L, 50L, "S"))) // insert allowed; 6 filtered by insertCond
  }

  test("recommendedBinSize snaps the median length down to a power of two") {
    val iv = Seq.tabulate(101)(i => (i.toLong, 0L, 1000L + i.toLong))
      .toDF("iid", "s", "e") // median length 1050
    val b = Ranges.recommendedBinSize(iv, "s", "e", quantum = 1L)
    assert(b == 1024L, s"got $b")
  }
}
