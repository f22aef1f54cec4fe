package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.diff.{TableStructCheck => TS}

/** The table-structure checker's tokens and result fold, pinned against
  * the reference checker source. */
class TableStructCheckSpec extends AnyFunSuite {

  test("table-structure checker tokens, parsed from checker source") {
    val tsSrc = RefSource.source("dm/pkg/checker/table_structure.go")
    val utSrc = RefSource.source("dm/pkg/checker/utils.go")
    // the utf8mb4 downstream exemption is the ONLY charset escape hatch
    assert(tsSrc.contains(
      "!strings.EqualFold(downstreamCharset, mysql.UTF8MB4Charset)"))
    // the PRIMARY index-name literal for pk constraints (utils.go:213)
    assert(utSrc.contains("""ret["PRIMARY"]"""))
    // checkUnique's constraint set = {PrimaryKey, Uniq, UniqKey, UniqIndex}
    val uniqSet = """case (ast\.Constraint[\w, .]+):\s*\n\s*return true""".r
      .findFirstMatchIn(tsSrc).map(_.group(1)).getOrElse("")
    for (t <- Seq("ConstraintPrimaryKey", "ConstraintUniq",
        "ConstraintUniqKey", "ConstraintUniqIndex"))
      assert(uniqSet.contains(t), s"$t missing from checkUnique")
    // ignorable = nullable OR default/auto-increment/auto-random/generated
    for (t <- Seq("ColumnOptionDefaultValue", "ColumnOptionAutoIncrement",
        "ColumnOptionAutoRandom", "ColumnOptionGenerated"))
      assert(utSrc.contains(t), s"$t missing from getColumnsAndIgnorable")
    // warning never outranks failure in the Result fold
    assert(TS.foldResult(Seq(TS.Opt(TS.Warning, "x", ""),
      TS.Opt(TS.Failure, "y", ""))) == TS.Failure)
    assert(TS.foldResult(Nil) == TS.Success)
  }
}
