package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.exceptions.TestCanceledException
import org.scalatest.funsuite.AnyFunSuite

/** The reference reader itself: a missing file cancels (never fails), the
  * Go-literal parsers read what the specs rely on, and no spec but
  * [[RefSource]] names the reference root, so a new unguarded read fails
  * here instead of on a host without the checkout. In main code only
  * `Gate.ReferenceRoot` names it. */
class RefSourceSpec extends AnyFunSuite {

  private val Missing = "no/such/dir/missing_file.go"

  test("source cancels on a missing file; sourceOpt returns None") {
    intercept[TestCanceledException] { RefSource.source(Missing) }
    assert(RefSource.sourceOpt(Missing).isEmpty)
  }

  /** The .scala files under `dir` that name the reference root, relative
    * to `dir`. The needle is built from two parts so it does not match
    * this file. */
  private def namingRoot(dir: String): Seq[String] = {
    val needle = "/root/" + "reference"
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the project root: $root")
    val walk = Files.walk(root)
    try walk.iterator.asScala
      .filter(p => Files.isRegularFile(p) && p.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), UTF_8).contains(needle))
      .map(p => root.relativize(p).toString).toSeq.sorted
    finally walk.close()
  }

  test("only RefSource names the reference root under src/test/scala") {
    val offenders = namingRoot("src/test/scala")
    assert(offenders == Seq("graft/RefSource.scala"))
  }

  test("only Gate.ReferenceRoot names the reference root under src/main/scala") {
    assert(namingRoot("src/main/scala") == Seq("graft/queries/Gate.scala"))
  }

  test("Go-literal parsers on an inline fixture") {
    import RefSource._
    val src =
      """const (
        |	ModeFast = "fast"
        |	DefaultInterval = 5 * time.Minute
        |	DefaultCount = 8
        |	Stage_Running Stage = 2
        |)
        |var Msgs = []string{"a, b", "c\"d"}
        |
        |func TestSomething(t *testing.T) {
        |	cases := []struct {
        |		in  string
        |		out bool
        |	}{
        |		{in: "x{", out: true}, // a brace { in a comment
        |		{in: "y", out: false},
        |	}
        |	for _, c := range cases {
        |	}
        |}
        |""".stripMargin
    assert(goStringConst(src, "ModeFast") == "fast")
    assert(goEnumVal(src, "Stage", "Running") == 2)
    assert(goDurationMs(src, "DefaultInterval") == 300000L)
    assert(goDurationMs(src, "DefaultCount") == 8L)
    assert(goStringSlice(src, "Msgs") == Seq("a, b", "c\\\"d"))
    assert(goStrings("""x "a\"b" y "c\\d\n" z""") == Seq("a\"b", "c\\d\n"))
    assert(unGo("""tab\tquote\"""") == "tab\tquote\"")
    assert(parseCases(src, "TestSomething") ==
      Seq("""{in: "x{", out: true}""", """{in: "y", out: false}"""))
    assert(braceChunks("""{a} // {b}
      |{c "}" d}""".stripMargin) == Seq("{a}", """{c "}" d}"""))
  }
}
