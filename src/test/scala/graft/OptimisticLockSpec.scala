package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.OptimisticLock
import graft.streaming.OptimisticLock._

/**
 * The optimistic shard-DDL coordination algebra
 * (dm/pkg/shardddl/optimism/lock.go trySyncForOneDDL + the
 * smaller/larger lattice proofs): directed scenarios for every decision
 * leg — additive DDLs execute immediately, renames wait shard-by-shard
 * and resolve with redirects when the last shard announces, disagreeing
 * conflict DDLs are DETECTED, modify-column routes through the same
 * wait/resolve machinery, idempotent replays pass — plus a convergence
 * property: any same-DDL announcement order over N shards ends resolved
 * with all images equal and redirects exactly once per non-final shard.
 */
class OptimisticLockSpec extends AnyFunSuite {

  private val base: Tbl = Seq("id" -> "bigint", "a" -> "varchar")
  private def k(i: Int) = (s"src$i", "db", "tb")

  private def lock(n: Int): Lock = {
    val l = new Lock("li-1")
    (0 until n).foreach(i => l.addTable(k(i), base))
    l
  }

  test("lattice: join unions, compare orders subsets, type clash is incomparable") {
    val withC = base :+ ("c" -> "int")
    assert(OptimisticLock.join(base, withC) == Right(withC))
    assert(OptimisticLock.compare(base, withC) == Right(-1))
    assert(OptimisticLock.compare(withC, base) == Right(1))
    assert(OptimisticLock.compare(base, base) == Right(0))
    assert(OptimisticLock.compare(
      Seq("id" -> "bigint", "a" -> "int"), base).isLeft)
    assert(OptimisticLock.compare(base :+ ("x" -> "int"),
      base :+ ("y" -> "int")).isLeft)
  }

  test("additive DDL: first shard changes the join, later shards re-execute") {
    val l = lock(3)
    val post = base :+ ("c" -> "int")
    assert(l.trySyncOne(k(0), base, post) ==
      Outcome(schemaChanged = true, Stage.None, Seq.empty))
    // second shard: the join is unchanged BUT post == joined (the
    // CREATE-TABLE-like case of the disjunction, :883-888)
    assert(l.trySyncOne(k(1), base, post) ==
      Outcome(schemaChanged = true, Stage.None, Seq.empty))
    assert(l.trySyncOne(k(2), base, post).schemaChanged)
    assert(l.conflicts.isEmpty)
  }

  test("drop column: a shrink defers until the last shard drops it too") {
    val l = lock(2)
    val dropped: Tbl = Seq("id" -> "bigint")
    // shard 0 drops `a`: prev > post is a NORMAL DDL; the join still
    // carries `a` (shard 1 has it) so the joined schema is unchanged and
    // prev > post -> schemaChanged false: the drop does NOT run yet
    val o0 = l.trySyncOne(k(0), base, dropped)
    assert(o0 == Outcome(schemaChanged = false, Stage.None, Seq.empty))
    // the LAST shard's drop moves the join: now it executes
    val o1 = l.trySyncOne(k(1), base, dropped)
    assert(o1.schemaChanged && o1.stage == Stage.None)
  }

  test("rename: shards wait, the last announcement resolves and redirects") {
    val l = lock(3)
    val prev = base
    val post: Tbl = Seq("id" -> "bigint", "b" -> "varchar") // a -> b
    assert(l.trySyncOne(k(0), prev, post) ==
      Outcome(schemaChanged = false, Stage.SkipWaitRedirect, Seq.empty))
    assert(l.conflicts == Seq(k(0)))
    assert(l.trySyncOne(k(1), prev, post) ==
      Outcome(schemaChanged = false, Stage.SkipWaitRedirect, Seq.empty))
    val last = l.trySyncOne(k(2), prev, post)
    assert(last.schemaChanged && last.stage == Stage.None)
    assert(last.redirected == Seq(k(0), k(1))) // not the caller (:1190)
    assert(l.conflicts.isEmpty)
    assert((0 until 3).forall(i => l.table(k(i)).contains(post)))
  }

  test("disagreeing conflict DDLs -> ConflictDetected (:905-910)") {
    val l = lock(2)
    val postB: Tbl = Seq("id" -> "bigint", "b" -> "varchar")
    val postD: Tbl = Seq("id" -> "bigint", "d" -> "varchar")
    assert(l.trySyncOne(k(0), base, postB).stage == Stage.SkipWaitRedirect)
    assert(l.trySyncOne(k(1), base, postD) ==
      Outcome(schemaChanged = false, Stage.Detected, Seq.empty))
  }

  test("modify column routes through the conflict machinery and resolves") {
    val l = lock(2)
    val post: Tbl = Seq("id" -> "bigint", "a" -> "text")
    assert(l.trySyncOne(k(0), base, post).stage == Stage.SkipWaitRedirect)
    val last = l.trySyncOne(k(1), base, post)
    assert(last.schemaChanged && last.redirected == Seq(k(0)))
  }

  test("late joiner already post-DDL: noConflictWithOneNormalTable (:1084-1116)") {
    val l = lock(2)
    val post: Tbl = Seq("id" -> "bigint", "b" -> "varchar")
    // shard 1 already migrated (e.g. re-sync after restart): master holds
    // its POST image as the normal table
    l.trySyncOne(k(0), base, post)
    l.trySyncOne(k(1), base, post) // both resolved now
    // a THIRD shard appears still pre-DDL and announces the same rename:
    // one normal table already looks post-DDL, so it passes immediately
    l.addTable(k(2), base)
    val o = l.trySyncOne(k(2), base, post)
    assert(o == Outcome(schemaChanged = true, Stage.None, Seq.empty))
  }

  test("idempotent replay: the master already holds the POST image (:836-846)") {
    val l = lock(2)
    val post = base :+ ("c" -> "int")
    l.trySyncOne(k(0), base, post)
    // replay of the same info (worker restart): prev != master (post),
    // post == master -> idempotent, executes again without conflict
    val o = l.trySyncOne(k(0), base, post)
    assert(o.schemaChanged && o.stage == Stage.None)
  }

  test("dropped-column stages: NotDone -> Partially/Done -> removed once all done") {
    val l = lock(2)
    val noA: Tbl = Seq("id" -> "bigint")
    // shard 0 drops `a`: checkAddDropColumn returns it for tracking
    // (the join shrank because shard 1 hasn't dropped yet? no — the join
    // still has `a` from shard 1, cmp == 0 -> still >= 0 -> tracked)
    assert(l.checkAddDropColumn(k(0), None, Some("a"), base, noA,
      Seq.empty) == Right(Some("a")))
    assert(l.addDroppedColumns(k(0), Seq("a")) == Seq("a"))
    assert(l.addDroppedColumns(k(0), Seq("a")).isEmpty) // already tracked
    assert(l.isDroppedColumn(k(0), "a"))
    assert(l.dropStage(k(0), "a") == DropStage.NotDone)
    // shard 1 re-ADDING `a` while the drop is mid-flight is refused —
    // but only for the shard that tracks it (per-shard key, :601-615)
    l.addDroppedColumns(k(1), Seq("a"))
    assert(l.checkAddDropColumn(k(1), Some("a"), None, noA, base,
      Seq.empty) == Left(ErrAddNotFullyDropped))
    // an add of a column listed in the SAME info's new drops also fails
    assert(l.checkAddDropColumn(k(0), Some("z"), None, base,
      base :+ ("z" -> "int"), Seq("z")) == Left(ErrAddNotFullyDropped))
    // ops confirm: shard 0 partially, shard 1 with the downstream drop
    assert(l.deleteColumnsByOp(k(0), Seq("a"),
      doneDropCols = Set.empty).isEmpty) // PartiallyDone, a still blocked
    assert(l.dropStage(k(0), "a") == DropStage.PartiallyDone)
    val removed = l.deleteColumnsByOp(k(1), Seq("a"),
      doneDropCols = Set("a"))
    assert(removed == Seq("a")) // all done + one Done -> column released
    assert(!l.isDroppedColumn(k(0), "a"))
    // after full release, re-adding `a` is allowed again
    assert(l.checkAddDropColumn(k(0), Some("a"), None, noA, base,
      Seq.empty) == Right(None))
  }

  test("DropColumnStage values and the add-not-dropped error parsed from source") {
    val src = RefSource.source("dm/pkg/shardddl/optimism/lock.go")
    val terr = RefSource.source("dm/pkg/terror/error_list.go")
    // the iota block: DropNotDone = 0, DropPartiallyDone, DropDone
    val block = src.substring(src.indexOf("type DropColumnStage"),
      src.indexOf("type tableType"))
    val names = block.linesIterator.map(_.trim)
      .filter(l => l.startsWith("Drop") && !l.startsWith("//"))
      .map(_.split("[ \t]")(0).stripPrefix("Drop")).toSeq
    assert(names.indexOf("NotDone") == DropStage.NotDone)
    assert(names.indexOf("PartiallyDone") == DropStage.PartiallyDone)
    assert(names.indexOf("Done") == DropStage.Done)
    assert(terr.contains("ErrShardDDLOptimismAddNotFullyDroppedColumn"))
    assert(ErrAddNotFullyDropped ==
      "ErrShardDDLOptimismAddNotFullyDroppedColumn")
  }

  test("property: any rename announcement order converges with N-1 redirects") {
    val rnd = new scala.util.Random(2201L)
    for (trial <- 0 until 200) {
      val n = 2 + rnd.nextInt(4)
      val l = new Lock("li-p")
      (0 until n).foreach(i => l.addTable(k(i), base))
      val post: Tbl = Seq("id" -> "bigint", "b" -> "varchar")
      val order = rnd.shuffle((0 until n).toList)
      var redirects = 0
      var resolved = false
      order.zipWithIndex.foreach { case (i, idx) =>
        val o = l.trySyncOne(k(i), base, post)
        if (idx < n - 1) {
          assert(o.stage == Stage.SkipWaitRedirect, s"trial $trial")
          assert(!o.schemaChanged)
        } else {
          assert(o.schemaChanged && o.stage == Stage.None, s"trial $trial")
          redirects += o.redirected.size
          resolved = true
        }
      }
      assert(resolved && redirects == n - 1, s"trial $trial")
      assert((0 until n).forall(i => l.table(k(i)).contains(post)),
        s"trial $trial")
      assert(l.conflicts.isEmpty, s"trial $trial")
    }
  }
}
