package graft

import org.scalatest.funsuite.AnyFunSuite
import graft.core.SpecialComment

/** DDL special comments: the reference's own TestAddSpecialComment table
  * (cdc/owner/ddl_sink_test.go) is the spec. */
class SpecialCommentSpec extends AnyFunSuite {

  private val SinkTestFile = "cdc/owner/ddl_sink_test.go"

  test("addSpecialComment: every reference test-table case reproduces") {
    RefSource.source(SinkTestFile) // cancels where the checkout is missing
    // the q287 gate's Scala-side extraction (its DuckDB oracle re-parses
    // the same file independently)
    val cases = graft.queries.DdlQueries.specialCommentCases()
    assert(cases.size == 54, s"expected 54 parsed cases, got ${cases.size}")
    for (((q, cs, want), i) <- cases.zipWithIndex) {
      val got = SpecialComment.render(q, cs)
      assert(got == want, s"case ${i + 1}:\n  Q: $q\n  want: $want\n  got:  $got")
    }
    // the trailing multi-statement case errors (ddl_sink_test.go:570-575)
    intercept[SpecialComment.RenderError] {
      SpecialComment.render(
        "alter table t force, auto_increment = 12;" +
          "alter table t force, auto_increment = 12;")
    }
  }

  test("addSpecialComment: rendering is a fixpoint (q119's render contract)") {
    RefSource.source(SinkTestFile) // cancels where the checkout is missing
    // the emitted T![...] comments are live syntax to the parser — the
    // reference's own round-trip property (an already-commented DDL
    // re-renders identically, ddl_sink_test cases 17/23/33/43). Modulo
    // whitespace runs: every REMOVED placement leaves a pure-whitespace
    // artifact (trailing / before-comma / doubled space) that a second
    // render — with the placement gone — cannot reproduce.
    def norm(s: String) =
      s.replaceAll("\\s+", " ").replaceAll(" ,", ",").trim
    for ((q, cs, _) <- graft.queries.DdlQueries.specialCommentCases()) {
      val once = SpecialComment.render(q, cs)
      if (once.nonEmpty)
        assert(norm(SpecialComment.render(once, cs)) == norm(once),
          s"not a fixpoint: $q")
    }
  }
}
