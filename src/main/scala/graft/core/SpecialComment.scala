package graft.core

import scala.collection.mutable.ArrayBuffer

/**
 * DDL SPECIAL-COMMENT re-rendering — the owner's `addSpecialComment` pass
 * (cdc/owner/ddl_sink.go:431-478): before a DDL goes to a MySQL-family
 * downstream, TiDB-specific features are re-rendered inside version-gated
 * `T![feature_id]` block comments (a TiDB that knows `feature_id`
 * executes the content, anything else sees a comment), placement rules
 * are REMOVED (`format.SkipPlacementRuleForRestore`), TTL is re-emitted
 * with `TTL_ENABLE = 'OFF'` forced (`format.RestoreWithTTLEnableOff`),
 * keywords uppercase, names backquoted, strings single-quoted
 * (ddl_sink.go:452-464's restore-flag set).
 *
 * The behavior contract is the reference's own
 * `TestAddSpecialComment` table (cdc/owner/ddl_sink_test.go:172-575,
 * 54 query→result pairs): SpecialCommentSpec PARSES that table out of the
 * test source and asserts this renderer reproduces every pair, and the
 * q287 gate's DuckDB oracle re-parses the same file — so none of the
 * expected strings is ever re-typed in this repo.
 *
 * Feature-comment table exercised by the contract:
 *  - `auto_rand` / `auto_rand_base`  — AUTO_RANDOM column / base option
 *  - `auto_id_cache`                 — AUTO_ID_CACHE table option
 *  - `clustered_index`               — CLUSTERED/NONCLUSTERED PK option
 *  - `force_inc`                     — ALTER TABLE FORCE auto_increment
 *  - `ttl`                           — TTL options (TTL_ENABLE forced OFF)
 *  - `pre_split`                     — index-level PRE_SPLIT_REGIONS
 *  - (no id)                         — SHARD_ROW_ID_BITS and
 *                                      PRE_SPLIT_REGIONS table options
 *  - `placement`                     — REMOVED entirely on restore
 * Incoming `T![id]` and `!90000` version comments are unwrapped and
 * re-parsed (the parser reads them as live syntax).
 */
object SpecialComment {

  final case class RenderError(reason: String)
      extends RuntimeException(reason)

  // ---- tokenizer -------------------------------------------------------

  /** kind: w=word, q=backquoted ident, s='string', n=number, p=punct. */
  private final case class Tok(kind: Char, text: String) {
    def isWord(w: String): Boolean = kind == 'w' && text.equalsIgnoreCase(w)
  }

  /** Tokenize, UNWRAPPING special comments: `T![id]`, bare `T!` and
    * `!NNNNN` version comments contribute their content as live tokens;
    * plain comments vanish. */
  private def tokenize(sql: String): Vector[Tok] = {
    val out = ArrayBuffer.empty[Tok]
    var i = 0
    val s = sql
    while (i < s.length) {
      val c = s.charAt(i)
      if (c.isWhitespace) i += 1
      else if (s.startsWith("/*", i)) {
        val end = s.indexOf("*/", i + 2)
        if (end < 0) throw RenderError("unterminated comment")
        val inner0 = s.substring(i + 2, end)
        val inner =
          if (inner0.startsWith("T![")) inner0.substring(inner0.indexOf(']') + 1)
          else if (inner0.startsWith("T!")) inner0.substring(2)
          else if (inner0.startsWith("!")) inner0.dropWhile(!_.isWhitespace)
          else "" // plain comment: dropped
        out ++= tokenize(inner)
        i = end + 2
      } else if (c == '`') {
        val end = s.indexOf('`', i + 1)
        if (end < 0) throw RenderError("unterminated identifier")
        out += Tok('q', s.substring(i + 1, end)); i = end + 1
      } else if (c == '\'') {
        val end = s.indexOf('\'', i + 1)
        if (end < 0) throw RenderError("unterminated string")
        out += Tok('s', s.substring(i + 1, end)); i = end + 1
      } else if (c.isDigit) {
        val j = s.indexWhere(x => !x.isDigit, i)
        val end = if (j < 0) s.length else j
        out += Tok('n', s.substring(i, end)); i = end
      } else if (c.isLetter || c == '_' || c == '$') {
        val j = s.indexWhere(x => !(x.isLetterOrDigit || x == '_' || x == '$'), i)
        val end = if (j < 0) s.length else j
        out += Tok('w', s.substring(i, end)); i = end
      } else if (s.startsWith("->", i)) {
        out += Tok('p', "->"); i += 2
      } else {
        out += Tok('p', c.toString); i += 1
      }
    }
    out.toVector
  }

  private def bq(name: String): String = "`" + name + "`"

  // ---- cursor over the token stream ------------------------------------

  private final class Cur(toks: Vector[Tok]) {
    var i = 0
    def more: Boolean = i < toks.length
    def peek: Tok = toks(i)
    def peekIs(w: String): Boolean = more && toks(i).isWord(w)
    def peekIsP(p: String): Boolean =
      more && toks(i).kind == 'p' && toks(i).text == p
    def next(): Tok = { val t = toks(i); i += 1; t }
    def expectWord(w: String): Unit =
      if (!peekIs(w)) throw RenderError(s"expected $w") else i += 1
    def expectP(p: String): Unit =
      if (!peekIsP(p)) throw RenderError(s"expected $p") else i += 1
    def takeIfP(p: String): Boolean = { val r = peekIsP(p); if (r) i += 1; r }
    def takeIf(w: String): Boolean = { val r = peekIs(w); if (r) i += 1; r }
    /** identifier: word or backquoted. */
    def ident(): String = {
      val t = next()
      if (t.kind == 'w' || t.kind == 'q') t.text
      else throw RenderError(s"expected identifier, got ${t.text}")
    }
  }

  /** Balanced ( ... ) starting AT the '(' — returns inner tokens. */
  private def parenGroup(c: Cur): Vector[Tok] = {
    c.expectP("(")
    val out = ArrayBuffer.empty[Tok]
    var depth = 1
    while (depth > 0) {
      val t = c.next()
      if (t.kind == 'p' && t.text == "(") depth += 1
      if (t.kind == 'p' && t.text == ")") depth -= 1
      if (depth > 0) out += t
    }
    out.toVector
  }

  /** Generic token rendering: keywords UPPER, idents backquoted, strings
    * quoted; space-joined except none after '(' or before ')'/','. */
  private def renderToks(toks: Seq[Tok], upperWords: Boolean = true): String = {
    val sb = new StringBuilder
    for (t <- toks) {
      val piece = t.kind match {
        case 'w' => if (upperWords) t.text.toUpperCase else t.text
        case 'q' => bq(t.text)
        case 's' => "'" + t.text + "'"
        case _ => t.text
      }
      val noSpace = sb.isEmpty || sb.last == '(' ||
        (t.kind == 'p' && (t.text == ")" || t.text == ","))
      if (!noSpace) sb += ' '
      sb ++= piece
    }
    sb.toString
  }

  // ---- entry -----------------------------------------------------------

  /**
   * The addSpecialComment contract: one statement in, re-rendered SQL out
   * (possibly "" when everything was placement); multiple statements are
   * an error (ddl_sink.go:444-450). `charset` is the DDL event's charset
   * (the `_UTF8MB4` introducer default, ddl_sink_test.go:536-551).
   */
  def render(sql: String, charset: String = ""): String = {
    val body = sql.trim.stripSuffix(";")
    if (body.contains(";"))
      throw RenderError("invalid ddlQuery statement size")
    val c = new Cur(tokenize(body))
    if (!c.more) return ""
    val head = c.next()
    if (head.isWord("create")) {
      if (c.peekIs("database")) { c.next(); s"CREATE DATABASE ${bq(c.ident())}" }
      else if (c.peekIs("table")) { c.next(); renderCreateTable(c, charset) }
      else throw RenderError("unsupported CREATE")
    } else if (head.isWord("alter")) {
      if (c.peekIs("table")) { c.next(); renderAlterTable(c, charset) }
      else if (c.peekIs("database")) { c.next(); renderAlterDatabase(c) }
      else if (c.peekIs("placement")) "" // ALTER PLACEMENT POLICY: skipped
      else throw RenderError("unsupported ALTER")
    } else throw RenderError(s"unsupported statement ${head.text}")
  }

  // ---- CREATE TABLE ----------------------------------------------------

  private def renderCreateTable(c: Cur, charset: String): String = {
    val name = c.ident()
    val cols = parenGroup(c)
    val items = splitTop(cols, ",").map(renderTableItem)
    val sb = new StringBuilder(s"CREATE TABLE ${bq(name)} (${items.mkString(",")})")
    // table options until PARTITION BY or end; a null render (the
    // swallowed TTL_ENABLE) contributes nothing, an empty one (skipped
    // placement) still leaves its joining space — the restore artifact
    while (c.more && !c.peekIs("partition")) {
      val r = renderTableOption(c)
      if (r != null) sb ++= " " + r
    }
    if (c.more) sb ++= " " + renderPartitionBy(c)
    sb.toString
  }

  /** Split a token slice on top-level (depth-0) punct. */
  private def splitTop(toks: Vector[Tok], p: String): Vector[Vector[Tok]] = {
    val out = ArrayBuffer.empty[Vector[Tok]]
    val cur = ArrayBuffer.empty[Tok]
    var depth = 0
    for (t <- toks) {
      if (t.kind == 'p' && t.text == "(") depth += 1
      if (t.kind == 'p' && t.text == ")") depth -= 1
      if (depth == 0 && t.kind == 'p' && t.text == p) {
        out += cur.toVector; cur.clear()
      } else cur += t
    }
    out += cur.toVector
    out.toVector
  }

  /** One create-table item: a PRIMARY KEY table constraint or a column
    * definition with its options. */
  private def renderTableItem(toks: Vector[Tok]): String = {
    val c = new Cur(toks)
    if (c.peekIs("primary")) {
      c.next(); c.expectWord("key")
      val keys = splitTop(parenGroup(c), ",")
        .map(ks => bq(new Cur(ks).ident())).mkString(", ")
      s"PRIMARY KEY($keys)" + clusteredSuffix(c)
    } else {
      val name = c.ident()
      val sb = new StringBuilder(bq(name) + " " + renderType(c))
      while (c.more) sb ++= renderColumnOption(c)
      sb.toString
    }
  }

  private def renderType(c: Cur): String = {
    val base = c.next().text.toUpperCase
    if (c.peekIsP("(")) base + "(" + renderToks(parenGroup(c)) + ")"
    else base
  }

  /** Column options, each contributing " OPT". */
  private def renderColumnOption(c: Cur): String = {
    if (c.takeIf("not")) { c.expectWord("null"); " NOT NULL" }
    else if (c.takeIf("null")) " NULL"
    else if (c.takeIf("default")) {
      val v = c.next()
      " DEFAULT " + (v.kind match {
        case 'w' => v.text.toUpperCase // NULL
        case 's' => "'" + v.text + "'"
        case _ => v.text
      })
    } else if (c.takeIf("primary")) { c.expectWord("key"); " PRIMARY KEY" }
    else if (c.takeIf("key")) " PRIMARY KEY"
    else if (c.takeIf("unique")) { c.takeIf("key"); " UNIQUE KEY" }
    else if (c.takeIf("auto_increment")) " AUTO_INCREMENT"
    else if (c.takeIf("auto_random")) {
      val arg = if (c.peekIsP("(")) "(" + renderToks(parenGroup(c)) + ")" else ""
      s" /*T![auto_rand] AUTO_RANDOM$arg */"
    } else if (c.peekIs("clustered") || c.peekIs("nonclustered")) {
      " /*T![clustered_index] " + c.next().text.toUpperCase + " */"
    } else throw RenderError(s"unsupported column option ${c.peek.text}")
  }

  private def clusteredSuffix(c: Cur): String =
    if (c.more && (c.peekIs("clustered") || c.peekIs("nonclustered")))
      " /*T![clustered_index] " + c.next().text.toUpperCase + " */"
    else ""

  /** One table option; placement renders "" (the skip flag) — the caller
    * has already emitted the joining space, reproducing the restore's
    * trailing-space artifact. */
  private def renderTableOption(c: Cur): String = {
    val w = c.next().text.toLowerCase
    w match {
      case "shard_row_id_bits" | "pre_split_regions" =>
        c.takeIfP("=")
        s"/*T! ${w.toUpperCase} = ${c.next().text} */"
      case "engine" =>
        c.takeIfP("=")
        s"ENGINE = ${c.next().text}"
      case "auto_random_base" =>
        c.takeIfP("=")
        s"/*T![auto_rand_base] AUTO_RANDOM_BASE = ${c.next().text} */"
      case "auto_id_cache" =>
        c.takeIfP("=")
        s"/*T![auto_id_cache] AUTO_ID_CACHE = ${c.next().text} */"
      case "default" => renderTableOption(c) // DEFAULT CHARSET / COLLATE
      case "charset" =>
        c.takeIfP("=")
        s"DEFAULT CHARACTER SET = ${c.next().text.toUpperCase}"
      case "character" =>
        c.expectWord("set"); c.takeIfP("=")
        s"DEFAULT CHARACTER SET = ${c.next().text.toUpperCase}"
      case "collate" =>
        c.takeIfP("=")
        s"DEFAULT COLLATE = ${c.next().text.toUpperCase}"
      case "placement" =>
        c.expectWord("policy"); c.takeIfP("="); c.next()
        "" // SkipPlacementRuleForRestore
      case "ttl" =>
        c.takeIfP("=")
        val expr = ttlExpr(c)
        s"/*T![ttl] TTL = $expr */ /*T![ttl] TTL_ENABLE = 'OFF' */"
      case "ttl_enable" =>
        c.takeIfP("="); c.next()
        null // RestoreWithTTLEnableOff: the forced OFF replaced it —
             // dropped WITHOUT the placement skip's space artifact
      case "ttl_job_interval" =>
        c.takeIfP("=")
        s"/*T![ttl] TTL_JOB_INTERVAL = '${c.next().text}' */"
      case other => throw RenderError(s"unsupported table option $other")
    }
  }

  /** TTL expression: tokens up to the next table-option keyword. */
  private def ttlExpr(c: Cur): String = {
    val stop = Set("ttl_enable", "ttl_job_interval", "engine", "charset",
      "collate", "default", "placement", "auto_id_cache", "partition",
      "shard_row_id_bits", "pre_split_regions", "auto_random_base", "ttl")
    val toks = ArrayBuffer.empty[Tok]
    while (c.more && !(c.peek.kind == 'w' && stop(c.peek.text.toLowerCase)))
      toks += c.next()
    renderToks(toks.toSeq)
  }

  private def renderPartitionBy(c: Cur): String = {
    c.expectWord("partition"); c.expectWord("by")
    val method = c.next().text.toUpperCase // RANGE
    val arg = parenGroup(c) // e.g. YEAR(joined)
    val argS = {
      val ac = new Cur(arg)
      val fn = ac.next().text.toUpperCase
      val inner = splitTop(parenGroup(ac), ",")
        .map(ks => bq(new Cur(ks).ident())).mkString(", ")
      s"$fn($inner)"
    }
    val defs = splitTop(parenGroup(c), ",").map(renderPartitionDef)
    s"PARTITION BY $method ($argS) (${defs.mkString(",")})"
  }

  /** PARTITION p0 VALUES LESS THAN (1960|MAXVALUE) [PLACEMENT POLICY=x]:
    * a dropped placement leaves its joining space behind. */
  private def renderPartitionDef(toks: Vector[Tok]): String = {
    val c = new Cur(toks)
    c.expectWord("partition")
    val name = c.ident()
    c.expectWord("values"); c.expectWord("less"); c.expectWord("than")
    val bound =
      if (c.peekIsP("(")) "(" + renderToks(parenGroup(c)) + ")"
      else { c.expectWord("maxvalue"); "(MAXVALUE)" }
    val sb = new StringBuilder(s"PARTITION ${bq(name)} VALUES LESS THAN $bound")
    if (c.takeIf("placement")) {
      c.expectWord("policy"); c.takeIfP("="); c.next()
      sb ++= " " // the skip artifact
    }
    sb.toString
  }

  // ---- ALTER TABLE -----------------------------------------------------

  private def renderAlterTable(c: Cur, charset: String): String = {
    val name = c.ident()
    // the no-comma FORCE AUTO_INCREMENT shape is ONE spec with the
    // force_inc comment hugging the following option (ddl_sink_test
    // case "alter table t force auto_increment = 12")
    val specToks = splitTop(c.rest(), ",")
    var partitionPlacementOnly = specToks.nonEmpty
    val rendered = specToks.flatMap { st =>
      val r = renderAlterSpec(st, charset)
      if (!(r.isEmpty && isPartitionPlacement(st))) partitionPlacementOnly = false
      if (r.isEmpty) None else Some(r)
    }
    if (rendered.isEmpty && partitionPlacementOnly) ""
    else if (rendered.isEmpty) s"ALTER TABLE ${bq(name)}"
    else s"ALTER TABLE ${bq(name)} ${rendered.mkString(", ")}"
  }

  private def isPartitionPlacement(toks: Vector[Tok]): Boolean =
    toks.nonEmpty && toks.head.isWord("partition")

  private def renderAlterSpec(toks: Vector[Tok], charset: String): String = {
    val c = new Cur(toks)
    if (!c.more) return ""
    if (c.takeIf("add")) {
      if (c.takeIf("primary")) {
        c.expectWord("key")
        val keys = splitTop(parenGroup(c), ",")
          .map(ks => bq(new Cur(ks).ident())).mkString(", ")
        s"ADD PRIMARY KEY($keys)" + clusteredSuffix(c)
      } else if (c.takeIf("index")) {
        val iname = c.ident()
        val grp = parenGroup(c)
        val keyS =
          if (grp.nonEmpty && grp.head.kind == 'p' && grp.head.text == "(")
            renderIndexExpr(grp, charset)
          else splitTop(grp, ",").map(ks => bq(new Cur(ks).ident()))
            .mkString(", ")
        val sb = new StringBuilder(s"ADD INDEX ${bq(iname)}($keyS)")
        if (c.takeIf("pre_split_regions")) {
          c.takeIfP("=") // present in the re-rendered (fixpoint) form
          val spec = "(" + renderToks(parenGroup(c)) + ")"
          sb ++= s" /*T![pre_split] PRE_SPLIT_REGIONS = $spec */"
        }
        sb.toString
      } else {
        c.takeIf("column")
        val col = c.ident()
        s"ADD COLUMN ${bq(col)} " + renderType(c)
      }
    } else if (c.takeIf("force")) {
      if (c.more && c.peekIs("auto_increment")) {
        c.next(); c.takeIfP("=")
        s"/*T![force_inc] FORCE  */AUTO_INCREMENT = ${c.next().text}"
      } else "FORCE /* AlterTableForce is not supported */ "
    } else if (c.takeIf("auto_increment")) {
      c.takeIfP("=")
      s"AUTO_INCREMENT = ${c.next().text}"
    } else if (c.takeIf("placement")) {
      c.expectWord("policy"); c.takeIfP("="); c.next()
      "" // table-level placement: spec dropped, head kept
    } else if (c.takeIf("set")) {
      c.expectWord("tiflash"); c.expectWord("replica")
      val n = c.next().text
      // a trailing partition-level placement rider is dropped
      s"SET TIFLASH REPLICA $n"
    } else if (c.takeIf("partition")) {
      "" // partition-level placement options: whole spec skipped
    } else if (c.takeIf("ttl")) {
      c.takeIfP("=")
      val expr = ttlExpr(c)
      s"/*T![ttl] TTL = $expr */ /*T![ttl] TTL_ENABLE = 'OFF' */"
    } else if (c.takeIf("ttl_enable")) {
      c.takeIfP("="); c.next(); ""
    } else if (c.takeIf("ttl_job_interval")) {
      c.takeIfP("=")
      s"/*T![ttl] TTL_JOB_INTERVAL = '${c.next().text}' */"
    } else throw RenderError(s"unsupported alter spec ${c.peek.text}")
  }

  /** Expression index key `((expr))` — inner: cast(col->'path' as T...) →
    * CAST(JSON_EXTRACT(`col`, _CHARSET'path') AS T...). Accepts the
    * already-rewritten JSON_EXTRACT form too (re-render fixpoint). */
  private def renderIndexExpr(grp: Vector[Tok], charset: String): String = {
    val inner = new Cur(grp)
    val exprToks = parenGroup(inner)
    val c = new Cur(exprToks)
    c.expectWord("cast")
    val castArgs = parenGroup(c)
    val ac = new Cur(castArgs)
    val (col, path, intro0) =
      if (ac.peekIs("json_extract")) {
        ac.next()
        val args = splitTop(parenGroup(ac), ",")
        val colName = new Cur(args(0)).ident()
        val pc = new Cur(args(1))
        val t = pc.next()
        if (t.kind == 'w') (colName, pc.next(), Some(t.text)) // _CS'path'
        else (colName, t, None)
      } else {
        val colName = ac.ident()
        ac.expectP("->")
        (colName, ac.next(), None)
      }
    ac.expectWord("as")
    val tpe = renderToks(ac.rest())
    val intro = intro0.map(_.toUpperCase).getOrElse(
      "_" + (if (charset.isEmpty) "utf8mb4" else charset).toUpperCase)
    s"(CAST(JSON_EXTRACT(${bq(col)}, $intro'${path.text}') AS $tpe))"
  }

  // ---- ALTER DATABASE --------------------------------------------------

  private def renderAlterDatabase(c: Cur): String = {
    val name = c.ident()
    val opts = ArrayBuffer.empty[String]
    var nonPlacement = false
    while (c.more) {
      if (c.takeIf("placement")) {
        c.expectWord("policy")
        if (c.takeIf("set")) { c.expectWord("default") }
        else { c.takeIfP("="); c.next() }
        opts += "" // skip, keeping the joining space
      } else if (c.takeIf("charset") || c.takeIf("character")) {
        if (c.peekIs("set")) c.next()
        c.takeIfP("=")
        opts += s"CHARACTER SET = ${c.next().text}"
        nonPlacement = true
      } else throw RenderError(s"unsupported database option ${c.peek.text}")
    }
    if (!nonPlacement) "" // placement-only ALTER DATABASE restores empty
    else s"ALTER DATABASE ${bq(name)} ${opts.mkString(" ")}"
  }

  // Cur.rest helper
  implicit private class CurOps(c: Cur) {
    def rest(): Vector[Tok] = {
      val out = ArrayBuffer.empty[Tok]
      while (c.more) out += c.next()
      out.toVector
    }
  }
}
