package graft

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Path, Paths}

import org.scalatest.Assertions._

/** The one reader of the tiflow reference checkout. Specs that pin a
  * constant table or replay a Go unit test read the reference source
  * through here, so every read is guarded the same way: [[source]] cancels
  * the test where the file is missing, [[sourceOpt]] lets a test guard only
  * the part of its body that needs the file. Plus the Go-literal parsers
  * those specs share. */
object RefSource {

  val Root: Path = Paths.get("/root/reference")

  /** The text of `rel` (relative to [[Root]]), or None where it is missing. */
  def sourceOpt(rel: String): Option[String] = {
    val p = Root.resolve(rel)
    if (Files.exists(p)) Some(new String(Files.readAllBytes(p), UTF_8))
    else None
  }

  /** The text of `rel`; cancels the calling test where it is missing. */
  def source(rel: String): String = {
    val src = sourceOpt(rel)
    assume(src.isDefined, s"reference checkout not present: $rel")
    src.get
  }

  // ------------------------------------------------- Go-literal parsers

  /** The value of one `name = "..."` string constant. */
  def goStringConst(src: String, name: String): String = {
    val m = (java.util.regex.Pattern.quote(name) + """\s*=\s*"([^"]*)"""").r
      .findFirstMatchIn(src)
    assert(m.isDefined, s"$name not found")
    m.get.group(1)
  }

  /** The value of one protobuf enum constant `Type_Name Type = N`. */
  def goEnumVal(src: String, tpe: String, name: String): Int = {
    val m = (tpe + "_" + name + """\s+""" + tpe + """ = (\d+)""").r
      .findFirstMatchIn(src)
    assert(m.isDefined, s"${tpe}_$name not found"); m.get.group(1).toInt
  }

  /** `N * time.Second` / `N * time.Minute` / bare int → milliseconds or
    * the raw count. */
  def goDurationMs(src: String, name: String): Long = {
    val m = (java.util.regex.Pattern.quote(name) +
      """\s*=\s*(\d+)(?:\s*\*\s*time\.(\w+))?""").r.findFirstMatchIn(src)
    assert(m.isDefined, s"$name not found")
    val n = m.get.group(1).toLong
    Option(m.get.group(2)) match {
      case Some("Second") => n * 1000L
      case Some("Minute") => n * 60000L
      case Some(u) => fail(s"unhandled unit $u")
      case None => n
    }
  }

  /** Parse one `Name = []string{ "...", ... }` literal. */
  def goStringSlice(src: String, name: String): Seq[String] = {
    val start = src.indexOf(s"$name = []string{")
    assert(start >= 0, s"$name not found")
    val body = src.substring(start, src.indexOf("}", start))
    """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(body).map(_.group(1)).toSeq
  }

  /** Unescape a Go interpreted string body (the escapes the reference test
    * fixtures use: \" \\ \n \t). */
  def unGo(s: String): String = {
    val b = new StringBuilder
    var i = 0
    while (i < s.length) {
      val c = s.charAt(i)
      if (c == '\\' && i + 1 < s.length) {
        s.charAt(i + 1) match {
          case '"' => b += '"'
          case '\\' => b += '\\'
          case 'n' => b += '\n'
          case 't' => b += '\t'
          case o => b += '\\'; b += o
        }
        i += 2
      } else { b += c; i += 1 }
    }
    b.toString
  }

  /** All "..."-literal bodies in order, honoring escapes. */
  def goStrings(chunk: String): Seq[String] =
    """"((?:[^"\\]|\\.)*)"""".r.findAllMatchIn(chunk)
      .map(m => unGo(m.group(1))).toSeq

  /** Top-level `{...}` chunks of a Go composite literal, skipping
    * strings and line comments (the fixture comments contain backticks
    * and commas that would desync a naive scan). */
  def braceChunks(body: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = -1
    var i = 0
    while (i < body.length) {
      val c = body.charAt(i)
      if (c == '"') {
        i += 1
        while (i < body.length && body.charAt(i) != '"') {
          if (body.charAt(i) == '\\') i += 1
          i += 1
        }
        i += 1
      } else if (c == '/' && i + 1 < body.length &&
          body.charAt(i + 1) == '/') {
        while (i < body.length && body.charAt(i) != '\n') i += 1
      } else {
        if (c == '{') {
          if (depth == 0) start = i
          depth += 1
        } else if (c == '}') {
          depth -= 1
          if (depth == 0 && start >= 0) {
            out += body.substring(start, i + 1); start = -1
          }
        }
        i += 1
      }
    }
    out.result()
  }

  /** The per-case entries of a table-driven Go test: the top-level chunks
    * of the `cases := []struct{...}{ ... }` literal in function `fnName`
    * of the test source `src`. */
  def parseCases(src: String, fnName: String): Seq[String] = {
    val fnStart = src.indexOf(s"func $fnName")
    assert(fnStart >= 0, s"$fnName not found")
    val fnEnd = src.indexOf("\nfunc ", fnStart + 1) match {
      case -1 => src.length
      case x => x
    }
    val body = src.substring(fnStart, fnEnd)
    val listAt = body.indexOf("}{")
    assert(listAt >= 0, s"$fnName has no cases literal")
    // the list literal runs to the `}` that closes `}{`; braceChunks on
    // the slice after `}{` yields exactly the per-case entries (nested
    // literals are inside each entry)
    val forAt = body.indexOf("\n\tfor ")
    braceChunks(body.substring(listAt + 2,
      if (forAt > 0) forAt else body.length))
  }
}
