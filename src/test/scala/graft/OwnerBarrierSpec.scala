package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.streaming.OwnerBarrier
import graft.streaming.OwnerBarrier.{Barrier, DdlAt}

/** The owner-barrier action tables, parsed out of
  * `cdc/owner/ddl_manager.go` (the gate's oracle once re-typed both lists
  * two entries short and stayed green), and a randomized barrier property
  * whose simulator classifies actions from the parsed sets. */
class OwnerBarrierSpec extends AnyFunSuite {

  /** timodel.ActionFoo → this repo's snake-case action name. */
  private def goToSnake(n: String): String =
    if (n == "ModifyTableCharsetAndCollate") "modify_table_charset"
    else n.replace("ID", "Id").replace("TTL", "Ttl")
      .replaceAll("([a-z0-9])([A-Z])", "$1_$2").toLowerCase

  /** Extract the action set of one `var <name> = map[timodel.ActionType]
    * struct{}{...}` literal (ddl_manager.go:58-97), ignoring the
    * commented-out entries above it. */
  private def goActionSet(src: String, varName: String): Set[String] = {
    val start = src.indexOf(s"var $varName = map[timodel.ActionType]")
    assert(start >= 0, s"$varName literal not found in ddl_manager.go")
    val end = src.indexOf("\n}", start)
    val body = src.substring(start, end)
    """(?m)^\s*timodel\.Action(\w+):""".r
      .findAllMatchIn(body).map(m => goToSnake(m.group(1))).toSet
  }

  private lazy val refSrc = RefSource.source("cdc/owner/ddl_manager.go")
  private lazy val refNonGlobal = goActionSet(refSrc, "nonGlobalDDLs")
  private lazy val refRedoBarrier = goActionSet(refSrc, "redoBarrierDDLs")

  test("NonGlobalDDLs matches the reference table, parsed from the source") {
    assert(refNonGlobal.size == 27)
    assert(OwnerBarrier.NonGlobalDDLs == refNonGlobal,
      s"missing=${refNonGlobal -- OwnerBarrier.NonGlobalDDLs} " +
        s"extra=${OwnerBarrier.NonGlobalDDLs -- refNonGlobal}")
  }

  test("RedoBarrierDDLs matches the reference table, parsed from the source") {
    assert(refRedoBarrier.size == 8)
    assert(OwnerBarrier.RedoBarrierDDLs == refRedoBarrier,
      s"missing=${refRedoBarrier -- OwnerBarrier.RedoBarrierDDLs} " +
        s"extra=${OwnerBarrier.RedoBarrierDDLs -- refRedoBarrier}")
  }

  // ---- barrier property: 300 random traces vs a from-the-reference sim ---

  /** Brute-force barrier oracle: classification comes from the PARSED
    * reference sets, composition from first principles (group/min/sort),
    * not from OwnerBarrier's loop. ddl_manager.go:508-584. */
  private def brute(resolved: Long, ddls: Seq[DdlAt],
      redoOn: Boolean): Barrier = {
    val minTable = (resolved +: ddls.map(_.commitTs)).min
    val redo =
      if (!redoOn) resolved
      else (resolved +: ddls.collect {
        case d if refRedoBarrier(d.action) => d.commitTs }).min
    val globalCand = (resolved +: ddls.collect {
      case d if !refNonGlobal(d.action) => d.commitTs }).min
    val perTable = ddls.filter(d => refNonGlobal(d.action))
      .flatMap(d => d.physicalTableIds.map(_ -> d.commitTs))
      .groupBy(_._1).map { case (id, xs) => (id, xs.map(_._2).min) }
      .toSeq.filter(_._2 <= globalCand)
      .sortBy { case (id, ts) => (ts, id) }
    if (perTable.size > OwnerBarrier.TableBarrierNumberLimit)
      Barrier(perTable(OwnerBarrier.TableBarrierNumberLimit)._2, minTable,
        redo, perTable.take(OwnerBarrier.TableBarrierNumberLimit))
    else Barrier(globalCand, minTable, redo, perTable)
  }

  test("barrier equals the reference-derived simulator on 300 random traces") {
    val globals = Seq("create_table", "rename_table", "rename_tables",
      "exchange_table_partition", "create_schema", "drop_schema",
      // global-by-absence: the text path's unparseable marker and an
      // action outside the table (Changefeed.ddlAction's outputs)
      "unknown", "rename_column")
    val actions = (refNonGlobal.toSeq.sorted ++ globals).toIndexedSeq
    val rnd = new scala.util.Random(1601L)
    for (trial <- 0 until 300) {
      val resolved = 1000000L + rnd.nextInt(1000)
      // one in three trials is cap-heavy: enough distinct tables to
      // overflow 256 and force the 257th-entry global redefinition
      val n = if (trial % 3 == 0) 260 + rnd.nextInt(200)
        else rnd.nextInt(40)
      val tableSpread = if (trial % 3 == 0) 600 else 30
      val ddls = Seq.fill(n) {
        val fan = 1 + rnd.nextInt(4) // partitions: related physical ids
        DdlAt(resolved - rnd.nextInt(5000),
          actions(rnd.nextInt(actions.size)),
          Seq.fill(fan)(rnd.nextInt(tableSpread).toLong).distinct)
      }
      val redoOn = rnd.nextBoolean()
      val got = OwnerBarrier.barrier(resolved, ddls, redoOn)
      val want = brute(resolved, ddls, redoOn)
      assert(got == want, s"trial=$trial n=$n redoOn=$redoOn")
    }
  }
}
