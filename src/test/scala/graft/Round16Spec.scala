package graft

/** Round-16 properties: the redo DDL codec's size classes, the LIMIT
  * splitter, the GTID flavor vectors and pessimistic forceRemove. */
class Round16Spec extends SparkSpec {

  // ---- redo str16/str32: long DDL text survives the durable codec ------

  test("redo DDL codec round-trips across every msgpack str size class") {
    import graft.streaming.RedoLayout.{RedoDdl, RedoDdlCodec}
    // boundary lengths: fixstr/str8/str16/str32 edges, plus a long ALTER
    // (the realistic 256+-byte case the str8-only writer corrupted) and a
    // multi-byte UTF-8 payload straddling the str8 limit
    val lens = Seq(0, 1, 31, 32, 255, 256, 257, 4000, 65535, 65536, 70000)
    for (len <- lens) {
      val q = "A" * len
      val d = RedoDdl(1000L, 999L, "db", "t", q, 7)
      val got = RedoDdlCodec.decode(RedoDdlCodec.encode(d))
      assert(got == d, s"len=$len")
    }
    val utf8 = "é" * 200 // 400 UTF-8 bytes, 200 chars — byte-length rules
    val d = RedoDdl(1L, 0L, "db", "t", utf8, 1)
    assert(RedoDdlCodec.decode(RedoDdlCodec.encode(d)) == d)
  }

  // ---- LIMIT splitter edges (limit.go:100-108, 141-152) ------------------

  test("limit splitter: auto chunk size and the mismatched-checkpoint quirk") {
    import graft.diff.LimitSplit
    import graft.diff.LimitSplit.LimitChunk
    // limit.go:141-152 via utils.CalculateChunkSize
    assert(LimitSplit.autoChunkSize(777, 1000000, hasIndex = true) == 777)
    assert(LimitSplit.autoChunkSize(0, 1000000, hasIndex = true) == 50000)
    assert(LimitSplit.autoChunkSize(0, 600000000L, hasIndex = true) == 60000)
    assert(LimitSplit.autoChunkSize(0, 1234, hasIndex = false) == 1234)
    assert(LimitSplit.autoChunkSize(0, 0, hasIndex = false) == 1)
    // a checkpoint whose bound arity mismatches the index columns closes
    // the iterator EMPTY (the Go's undone-stays-false quirk)
    import spark.implicits._
    val df = Seq((1L, 1L), (2L, 2L)).toDF("a", "b")
    val ck = LimitChunk(2, Some(Seq(1L)), Some(Seq(5L))) // 1 bound, 2 keys
    assert(LimitSplit.resumeChunks(df, Seq("a", "b"), 1, ck).isEmpty)
    // sanity: a matching-arity checkpoint still resumes
    val ck2 = LimitChunk(2, Some(Seq(0L, 0L)), Some(Seq(1L, 1L)))
    assert(LimitSplit.resumeChunks(df, Seq("a", "b"), 5, ck2).nonEmpty)
  }

  test("limit splitter property: tiling, chunk sizes, resume-equals-tail") {
    import org.apache.spark.sql.functions._
    import graft.diff.LimitSplit
    import spark.implicits._
    val rnd = new scala.util.Random(1602L)
    for (trial <- 0 until 6) {
      val n = 120 + rnd.nextInt(400)
      val cs = 5 + rnd.nextInt(40)
      // unique composite key, duplicate-heavy first column
      val rows = (0 until n).map(i => (i % 13L, i.toLong * 3 + 1))
      val df = rnd.shuffle(rows).toDF("a", "b")
      val keys = Seq("a", "b")
      val kc = keys.map(col)
      val chunks = LimitSplit.chunks(df, keys, cs)
      val m = n / (cs + 1)
      assert(chunks.size == m + 1, s"trial=$trial n=$n cs=$cs")
      // membership: every bounded chunk holds exactly cs+1 rows, the tail
      // holds the remainder; the two assignment forms agree on every row
      val counts = df.groupBy(LimitSplit.assignByRanges(kc, chunks).as("c"))
        .agg(count(lit(1)).as("k")).collect()
        .map(r => r.getInt(0) -> r.getLong(1)).toMap
      chunks.init.foreach(c =>
        assert(counts(c.bucketId) == cs + 1L, s"trial=$trial chunk=$c"))
      assert(counts.getOrElse(chunks.last.bucketId, 0L) == (n - m * (cs + 1)).toLong)
      val bounds = chunks.flatMap(_.upper)
      assert(df.where(LimitSplit.assignByRanges(kc, chunks) =!=
        LimitSplit.assignByBoundaries(kc, bounds, 0)).count() == 0)
      // resume from a random bounded checkpoint reproduces the tail
      if (m > 0) {
        val at = rnd.nextInt(m)
        val resumed = LimitSplit.resumeChunks(df, keys, cs, chunks(at))
        assert(resumed == chunks.drop(at + 1), s"trial=$trial at=$at")
      }
      // resume from the final open chunk is the finished table
      assert(LimitSplit.resumeChunks(df, keys, cs, chunks.last).isEmpty)
    }
  }

  // ---- GTID flavor kernels on the reference's own test vectors ----------

  test("GTID zero-set and flavor decisions match gtid_test.go vectors") {
    import graft.operators.Gtid._
    // TestIsNilMySQLGTIDSet
    assert(!isZeroMySqlSet(""))
    assert(!isZeroMySqlSet("xxxxx"))
    assert(!isZeroMySqlSet("xxxxx:0,yyyy:0"))
    assert(!isZeroMySqlSet("xxxxx:1-2"))
    assert(!isZeroMySqlSet("xxxxx:0-0"))
    assert(isZeroMySqlSet("xxxxx:0"))
    assert(isZeroMySqlSet(" xxxxx:0 "))
    // TestIsNilMariaDBGTIDSet
    assert(!isZeroMariaDbSet(""))
    assert(!isZeroMariaDbSet("xxxxx"))
    assert(!isZeroMariaDbSet("a-b-0,c-d:0"))
    assert(!isZeroMariaDbSet("xxxxx:1"))
    assert(isZeroMariaDbSet("x-y-0"))
    assert(isZeroMariaDbSet(" x-y-0 "))
    // TestParseZeroAsEmptyGTIDSet + TestParseGTIDNoFlavor + TestMinGTIDSet
    assert(parserDecision("mariadb", "0-0-0") == Right(("mariadb", true)))
    assert(parserDecision("mysql", "") == Right(("mysql", true)))
    assert(parserDecision("mysql",
      "3ccc475b-2343-11e7-be21-6c0b84d59f30:0") == Right(("mysql", true)))
    assert(parserDecision("",
      "3ccc475b-2343-11e7-be21-6c0b84d59f30:1-14") == Right(("mysql", false)))
    assert(parserDecision("",
      "0-0-1,1-1-1,4-20-1,3-1-1,10-10-10") == Right(("mariadb", false)))
    assert(parserDecision("", "") == Right(("mysql", true)))
    assert(parserDecision("wrong flavor", "x").isLeft)
    assert(parserDecision("mysql", "not-a-gtid").isLeft)
  }

  // ---- unlockLock forceRemove leg (pessimist.go:279-283, 345-354) -------

  test("unlockLock: owner-not-done refuses, forceRemove removes anyway") {
    import graft.streaming.ShardDdl
    val id = ShardDdl.genDDLLockID("t", "db", "tbl")
    val locks = Seq(ShardDdl.PessLock(id, "t", "s0",
      Seq("ALTER TABLE tbl ADD COLUMN c INT"),
      Map("s0" -> true, "s1" -> true, "s2" -> false)))
    val (kept, refused) = ShardDdl.unlockLock(locks, id, ownerOpDone = false)
    assert(!refused.ok && kept == locks &&
      refused.msg == s"the owner s0 of the lock $id has not done the operation")
    val (gone, forced) = ShardDdl.unlockLock(locks, id,
      forceRemove = true, ownerOpDone = false)
    assert(forced.ok && gone.isEmpty && forced.execOwner.contains("s0") &&
      forced.skipped == Seq("s1"))
    // owner done: forceRemove is a no-op on the success path
    val (gone2, ok2) = ShardDdl.unlockLock(locks, id)
    assert(ok2.ok && gone2.isEmpty)
  }
}
