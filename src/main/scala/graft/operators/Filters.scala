package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Event filters (SURVEY.md §2.4, F1-F7 + W7).
 *
 * tiflow evaluates filter rules row-at-a-time in Go (table filter:
 * pkg/filter/filter.go:100-165; event filter:
 * pkg/filter/sql_event_filter.go:193-222; expression filter:
 * pkg/filter/expr_filter.go:41-260 embeds a TiDB expression evaluator).
 * Spark-first design: each rule set compiles ONCE into a Catalyst `Column`
 * predicate, so filters participate in whole-stage codegen and can be pushed
 * into scans by the optimizer — no per-row interpretation.
 */
object Filters {

  /** One allow/block rule over (schema, table), table-filter wildcard
    * syntax: `*` = any run, `?` = one char, `[a-z]` / `[!a-z]` character
    * classes (reference tidb-tools table-filter, used by
    * pkg/filter/filter.go:100-165). */
  final case class TableRule(schemaPat: String, tablePat: String, allow: Boolean)

  /** Compile a table-filter wildcard pattern to an anchored Java regex,
    * including `[...]`/`[!...]` classes. */
  def wildcardToRegex(pat: String): String = {
    val out = new StringBuilder("^")
    var i = 0
    while (i < pat.length) {
      pat.charAt(i) match {
        case '*' => out ++= ".*"
        case '?' => out += '.'
        case '[' =>
          // character class: passes through to regex, with `!` negation
          val close = pat.indexOf(']', i + 1)
          if (close < 0) { out ++= "\\["; }
          else {
            val body0 = pat.substring(i + 1, close)
            val body = if (body0.startsWith("!")) "^" + body0.substring(1) else body0
            out ++= s"[$body]"
            i = close
          }
        case c if "\\.{}()+-^$|]".contains(c) => out ++= "\\" + c
        case c => out += c
      }
      i += 1
    }
    out.append('$').result()
  }

  /**
   * Parse textual table-filter rules (the reference's config surface:
   * `["*.*", "!scm.tbl", "shard[0-9]+.t?"]` — a leading `!` makes the rule
   * an exclusion, later rules override earlier). Rules without a dot apply
   * to the schema with `*` tables.
   */
  def parseRules(rules: Seq[String]): Seq[TableRule] =
    rules.map { raw =>
      val (allow, body) =
        if (raw.startsWith("!")) (false, raw.substring(1)) else (true, raw)
      body.split("\\.", 2) match {
        case Array(s, t) => TableRule(s.trim, t.trim, allow)
        case Array(s) => TableRule(s.trim, "*", allow)
      }
    }

  /**
   * F1 — table filter. Last matching rule wins (tiflow's table-filter
   * semantics: rules are evaluated in order, later rules override earlier).
   * Rows matching no rule are dropped (allow-list behavior when the first
   * rule is an allow; callers can prepend `TableRule("*","*",true)`).
   */
  def tableFilterPredicate(rules: Seq[TableRule],
                           schemaCol: Column, tableCol: Column,
                           caseSensitive: Boolean = true): Column = {
    // DM's `case-sensitive` flag (dm/config/subtask.go:105, tidb-tools
    // filter.New): when false — the DM DEFAULT — both the rule patterns
    // and the incoming names case-fold before matching.
    val (sc, tc) =
      if (caseSensitive) (schemaCol, tableCol)
      else (lower(schemaCol), lower(tableCol))
    // Locale.ROOT: Spark's lower() is locale-independent; a default-locale
    // fold on the pattern side would diverge (tr_TR dotless-ı etc.)
    def rx(p: String) = wildcardToRegex(
      if (caseSensitive) p else p.toLowerCase(java.util.Locale.ROOT))
    val matchNone = lit(false)
    rules.foldLeft(matchNone) { (acc, r) =>
      val m = sc.rlike(rx(r.schemaPat)) && tc.rlike(rx(r.tablePat))
      when(m, lit(r.allow)).otherwise(acc)
    }
  }

  def tableFilter(df: DataFrame, rules: Seq[TableRule],
                  caseSensitive: Boolean = true): DataFrame =
    df.filter(tableFilterPredicate(rules, col("schema_name"),
      col("table_name"), caseSensitive))

  /** F2 — event-type filter: drop listed DML op types for matching tables. */
  final case class EventRule(schemaPat: String, tablePat: String,
                             ignoreOps: Set[String] = Set.empty,
                             ignoreEtypes: Set[String] = Set.empty)

  def eventFilter(df: DataFrame, rules: Seq[EventRule]): DataFrame = {
    val drop = rules.foldLeft(lit(false)) { (acc, r) =>
      val tableMatch = col("schema_name").rlike(wildcardToRegex(r.schemaPat)) &&
        col("table_name").rlike(wildcardToRegex(r.tablePat))
      val opMatch =
        (if (r.ignoreOps.nonEmpty) col("op").isin(r.ignoreOps.toSeq.sorted: _*)
         else lit(false)) ||
        (if (r.ignoreEtypes.nonEmpty) col("etype").isin(r.ignoreEtypes.toSeq.sorted: _*)
         else lit(false))
      acc || (tableMatch && opMatch)
    }
    df.filter(!drop)
  }

  /**
   * F3 — expression filter. tiflow parses the user SQL expression with the
   * TiDB parser and interprets it per row; in Spark `expr()` hands the same
   * string to Catalyst, which parses, optimizes (constant folding), and
   * code-generates it. Each rule skips rows of a given op kind for which the
   * expression is TRUE (null-safe: null = no skip, matching tiflow).
   */
  final case class ExprRule(op: String, skipWhen: String)

  def exprFilter(df: DataFrame, rules: Seq[ExprRule]): DataFrame = {
    val skip = rules.foldLeft(lit(false)) { (acc, r) =>
      acc || (col("op") === r.op && coalesce(expr(r.skipWhen), lit(false)))
    }
    df.filter(!skip)
  }

  /**
   * F3, update-image split — the reference evaluates FOUR expressions per
   * rule, each written against the TABLE's columns and bound to a row
   * image: ignore-insert (new image), ignore-delete (old image), and for
   * UPDATE two separate expressions against the before and after images
   * (pkg/filter/expr_filter.go:93-124 parses IgnoreUpdateOldValueExpr /
   * IgnoreUpdateNewValueExpr independently; dm/syncer/expr_filter_group.go
   * applies old-OR-new). tiflow binds the parsed expression to a column
   * layout per image; here the same rebinding is a Catalyst transform —
   * the user writes `val > 100` against the table schema, and the valued
   * column is re-pointed at `val_before` or `val_after` in the envelope.
   * An expression left empty never skips; null evaluates to no-skip.
   */
  final case class ImageExprRule(ignoreInsert: String = "",
                                 ignoreDelete: String = "",
                                 ignoreUpdateOld: String = "",
                                 ignoreUpdateNew: String = "")

  /** Rebind table-schema attribute names in a user expression to envelope
    * columns of one image (old: val→val_before, new: val→val_after). */
  private def bindImage(sql: String, mapping: Map[String, String]): Column = {
    import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
    import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
    import org.apache.spark.sql.graftbridge.ColumnBridge
    // parse eagerly (expr() defers to a lazy SqlExpression node the
    // transform below could not see into), then re-point attributes
    val rebound = CatalystSqlParser.parseExpression(sql).transform {
      case a: UnresolvedAttribute if mapping.contains(a.name) =>
        UnresolvedAttribute.quoted(mapping(a.name))
    }
    ColumnBridge.column(rebound)
  }

  private val OldImage = Map("val" -> "val_before")
  private val NewImage = Map("val" -> "val_after")

  def exprFilterImages(df: DataFrame, rules: Seq[ImageExprRule]): DataFrame = {
    def pred(sql: String, img: Map[String, String]): Column =
      if (sql.isEmpty) lit(false) else coalesce(bindImage(sql, img), lit(false))
    val skip = rules.foldLeft(lit(false)) { (acc, r) =>
      acc ||
        (col("op") === "I" && pred(r.ignoreInsert, NewImage)) ||
        (col("op") === "D" && pred(r.ignoreDelete, OldImage)) ||
        (col("op") === "U" &&
          (pred(r.ignoreUpdateOld, OldImage) || pred(r.ignoreUpdateNew, NewImage)))
    }
    df.filter(!skip)
  }

  /** F4 — drop txns whose start_ts is in an ignore list (error recovery;
    * reference pkg/filter/filter.go:246-254). */
  def startTsFilter(df: DataFrame, ignored: Seq[Long]): DataFrame =
    if (ignored.isEmpty) df else df.filter(!col("start_ts").isin(ignored: _*))

  /** F6 — drop events at-or-before a per-table replication checkpoint
    * (reference dm/syncer/syncer.go:2641-2649). Checkpoints come in as a
    * small map broadcast into the predicate. */
  def checkpointFilter(df: DataFrame, checkpoints: Map[(String, String), Long],
                       defaultTs: Long = Long.MinValue): DataFrame = {
    val pred = checkpoints.foldLeft(col("commit_ts") > lit(defaultTs)) {
      case (acc, ((s, t), ts)) =>
        when(col("schema_name") === s && col("table_name") === t,
          col("commit_ts") > lit(ts)).otherwise(acc)
    }
    df.filter(pred)
  }

  /** W7 — BDR/bidirectional filter: drop events originated by self. */
  def bdrFilter(df: DataFrame, selfSourceIds: Seq[Int]): DataFrame =
    if (selfSourceIds.isEmpty) df
    else df.filter(!col("source_id").isin(selfSourceIds: _*))

  /** F2 (ignore-sql branch) / F5 — DDL statement filter: drop control-
    * stream DDL whose SQL matches any ignore regex (reference
    * pkg/binlog-filter/filter.go ignore-sql rules, e.g. ["^DROP"]). */
  def ddlSqlFilter(ddl: DataFrame, ignoreRegexes: Seq[String],
                   sqlCol: String = "ddl"): DataFrame =
    if (ignoreRegexes.isEmpty) ddl
    else ddl.filter(!ignoreRegexes
      .map(r => col(sqlCol).rlike(r))
      .reduce(_ || _))

  // ---- DM binlog event filter (pkg/binlog-filter/filter.go) ----------

  /** One rule of DM's binlog event filter: schema/table wildcard scope,
    * an event-type list (with the group entries `all`, `all dml`,
    * `all ddl`, `none`, `none dml`, `none ddl`,
    * `incompatible ddl changes`), optional SQL regexes (OR-joined,
    * case-insensitive — filter.go:219), and an action. `Do` is a
    * whitelist (a matching-scope event NOT in the list is ignored),
    * `Ignore` drops listed events, `Error` surfaces them. */
  final case class BinlogEventRule(schemaPat: String, tablePat: String,
      events: Seq[String], sqlPatterns: Seq[String], action: String) {
    require(Seq("Do", "Ignore", "Error").contains(action),
      s"action must be Do/Ignore/Error: $action")
  }

  /** ClassifyEvent's compatible-DDL set (filter.go:128-145); DML is
    * insert/update/delete. */
  val BinlogDmlEvents: Seq[String] = Seq("insert", "update", "delete")
  val BinlogCompatibleDdl: Seq[String] = Seq(
    "create database", "alter database", "alter schema", "create table",
    "create index", "create view", "drop view", "alter table",
    "create schema", "add table partition")

  /** ClassifyEvent's incompatible-DDL case list (filter.go:148-193) — the
    * FULL taxonomy, not an `otherwise`: an event OUTSIDE every list is the
    * reference's classify ERROR (→ Ignore), and the empty NullEvent skips
    * the event block entirely (filter.go:196,350). Pinned against the
    * parsed reference source in TableFilterSpec. */
  val BinlogIncompatibleDdl: Seq[String] = Seq(
    "value range decrease", "precision decrease", "modify column",
    "rename column", "rename index", "drop column", "drop primary key",
    "drop unique key", "modify default value", "modify constraint",
    "modify columns order", "modify charset", "modify collation",
    "remove auto increment", "modify storage engine",
    "reorganize table partition", "rebuild table partition",
    "coalesce table partition", "split table partition",
    "exchange table partition", "add foreign key", "drop foreign key",
    "drop database", "drop table", "drop index", "rename table",
    "truncate table", "drop schema", "drop table partition",
    "truncate table partition", "modify schema charset and collate",
    "modify table charset and collate", "modify table comment",
    "recover table", "alter table partitioning",
    "remove table partitioning", "add column", "set default value",
    "rebase auto id", "add primary key", "alter index visibility",
    "alter ttl info", "alter ttl remove", "multi schema change")

  /** dml / ddl / incompatible ddl / null (empty NullEvent) / error
    * (outside the taxonomy) from the event-type string —
    * ClassifyEvent, filter.go:127-197. */
  def binlogEventClass(ev: Column): Column =
    when(ev.isNull || ev === "", "null")
      .when(ev.isin(BinlogDmlEvents: _*), "dml")
      .when(ev.isin(BinlogCompatibleDdl: _*), "ddl")
      .when(ev.isin(BinlogIncompatibleDdl: _*), "incompatible ddl")
      .otherwise("error")

  /** matchEvent (filter.go:394-435): entries evaluate IN ORDER and the
    * first decisive one wins — `["none", "insert"]` matches nothing
    * because `none` terminates before `insert` is consulted. */
  private def matchEventCol(tp: Column, ev: Column, entries: Seq[String]): Column =
    entries.foldRight(lit(false)) { (e, rest) =>
      e match {
        case "all" => lit(true)
        case "none" => lit(false)
        case "all ddl" =>
          when(tp.isin("ddl", "incompatible ddl"), lit(true)).otherwise(rest)
        case "none ddl" =>
          when(tp.isin("ddl", "incompatible ddl"), lit(false)).otherwise(rest)
        case "all dml" => when(tp === "dml", lit(true)).otherwise(rest)
        case "none dml" => when(tp === "dml", lit(false)).otherwise(rest)
        case "incompatible ddl changes" =>
          when(tp === "incompatible ddl", lit(true)).otherwise(rest)
        case specific => when(ev === specific, lit(true)).otherwise(rest)
      }
    }

  /**
   * The Filter method's decision (filter.go:325-392) as one column:
   * rules apply in config order; per rule the EVENT block decides first
   * (matched+Ignore → Ignore, matched+Error → Error, unmatched+Do →
   * Ignore — so a `Do` rule with an empty event list ignores every
   * classified event, exactly as the reference code does), then the SQL
   * block (only when the raw query is non-empty AND the rule has
   * patterns), else the next rule; no rule deciding → Do. A NullEvent
   * (empty/unclassifiable-to-a-type DDL) SKIPS the event block and is
   * filtered by SQL patterns alone (filter.go:350); an event outside the
   * taxonomy is the classify error → Ignore (filter.go:330-333).
   */
  def binlogEventDecision(schemaCol: Column, tableCol: Column, evCol: Column,
      sqlCol: Column, rules: Seq[BinlogEventRule]): Column = {
    val tp = binlogEventClass(evCol)
    val folded = rules.foldRight(lit("Do")) { (r, rest) =>
      val tm = schemaCol.rlike(wildcardToRegex(r.schemaPat)) &&
        tableCol.rlike(wildcardToRegex(r.tablePat))
      val m = matchEventCol(tp, evCol, r.events)
      val evD0 = r.action match {
        case "Ignore" => when(m, "Ignore")
        case "Error" => when(m, "Error")
        case "Do" => when(!m, "Ignore")
      }
      val evD = when(tp =!= "null", evD0)
      val sqlD =
        if (r.sqlPatterns.isEmpty) lit(null).cast("string")
        else {
          val re = "(?i)" + r.sqlPatterns.mkString("|")
          r.action match {
            case "Ignore" => when(length(sqlCol) > 0 && sqlCol.rlike(re), "Ignore")
            case "Error" => when(length(sqlCol) > 0 && sqlCol.rlike(re), "Error")
            case "Do" => when(length(sqlCol) > 0 && !sqlCol.rlike(re), "Ignore")
          }
        }
      when(tm, coalesce(evD, sqlD, rest)).otherwise(rest)
    }
    when(tp === "error", "Ignore").otherwise(folded)
  }

  /** DuckDB SQL twin of [[binlogEventDecision]] — generated from the SAME
    * rule objects so engine and oracle cannot drift. Expression arguments
    * must be parenthesized column references. */
  object BinlogSql {
    private def esc(s: String) = s.replace("'", "''")

    def eventClass(evE: String): String = {
      val dml = BinlogDmlEvents.map(e => s"'$e'").mkString(", ")
      val ddl = BinlogCompatibleDdl.map(e => s"'$e'").mkString(", ")
      val incompat = BinlogIncompatibleDdl.map(e => s"'$e'").mkString(", ")
      s"(CASE WHEN $evE IS NULL OR $evE = '' THEN 'null' " +
        s"WHEN $evE IN ($dml) THEN 'dml' " +
        s"WHEN $evE IN ($ddl) THEN 'ddl' " +
        s"WHEN $evE IN ($incompat) THEN 'incompatible ddl' " +
        s"ELSE 'error' END)"
    }

    private def matchEvent(tpE: String, evE: String, entries: Seq[String]): String =
      entries.foldRight("FALSE") { (e, rest) =>
        e match {
          case "all" => "TRUE"
          case "none" => "FALSE"
          case "all ddl" =>
            s"(CASE WHEN $tpE IN ('ddl', 'incompatible ddl') THEN TRUE ELSE $rest END)"
          case "none ddl" =>
            s"(CASE WHEN $tpE IN ('ddl', 'incompatible ddl') THEN FALSE ELSE $rest END)"
          case "all dml" => s"(CASE WHEN $tpE = 'dml' THEN TRUE ELSE $rest END)"
          case "none dml" => s"(CASE WHEN $tpE = 'dml' THEN FALSE ELSE $rest END)"
          case "incompatible ddl changes" =>
            s"(CASE WHEN $tpE = 'incompatible ddl' THEN TRUE ELSE $rest END)"
          case specific => s"(CASE WHEN $evE = '${esc(specific)}' THEN TRUE ELSE $rest END)"
        }
      }

    def decision(schemaE: String, tableE: String, evE: String, sqlE: String,
        rules: Seq[BinlogEventRule]): String = {
      val tpE = eventClass(evE)
      val folded = rules.foldRight("'Do'") { (r, rest) =>
        val tm = s"(regexp_matches($schemaE, '${esc(wildcardToRegex(r.schemaPat))}')" +
          s" AND regexp_matches($tableE, '${esc(wildcardToRegex(r.tablePat))}'))"
        val m = matchEvent(tpE, evE, r.events)
        val evD0 = r.action match {
          case "Ignore" => s"(CASE WHEN $m THEN 'Ignore' END)"
          case "Error" => s"(CASE WHEN $m THEN 'Error' END)"
          case "Do" => s"(CASE WHEN NOT $m THEN 'Ignore' END)"
        }
        val evD = s"(CASE WHEN $tpE <> 'null' THEN $evD0 END)"
        val sqlD =
          if (r.sqlPatterns.isEmpty) "NULL"
          else {
            val re = esc("(?i)" + r.sqlPatterns.mkString("|"))
            val hasQ = s"length($sqlE) > 0"
            r.action match {
              case "Ignore" =>
                s"(CASE WHEN $hasQ AND regexp_matches($sqlE, '$re') THEN 'Ignore' END)"
              case "Error" =>
                s"(CASE WHEN $hasQ AND regexp_matches($sqlE, '$re') THEN 'Error' END)"
              case "Do" =>
                s"(CASE WHEN $hasQ AND NOT regexp_matches($sqlE, '$re') THEN 'Ignore' END)"
            }
          }
        s"(CASE WHEN $tm THEN coalesce($evD, $sqlD, $rest) ELSE $rest END)"
      }
      s"(CASE WHEN $tpE = 'error' THEN 'Ignore' ELSE $folded END)"
    }
  }

  // ---- the DDL puller's rename-table filter decision ---------------------
  // (cdc/puller/ddl_puller.go:302-321 general discards, :417-470 single
  // rename, :560-610 RenameTables)

  /** One rename entry as the puller sees it: whether the OLD table is in
    * the schema snapshot, and the filter verdicts on the old and new
    * names. An unknown old table filters as discarded. */
  final case class RenameEntry(oldKnown: Boolean, oldDiscard: Boolean,
      newDiscard: Boolean)

  /**
   * handleJob's pre-filter discards (ddl_puller.go:308-321): a job at or
   * below the puller's resolved ts is a REPLAY and drops; SchemaVersion 0
   * means the upstream itself ignored the DDL.
   */
  def ddlJobStale(finishedTs: Long, resolvedTs: Long,
      schemaVersion: Long): Boolean =
    finishedTs <= resolvedTs || schemaVersion == 0

  /**
   * The single-rename decision (ddl_puller.go:417-455): renaming a table
   * INTO the replicated set from outside it must FAIL the changefeed —
   * its history was never captured (ErrSyncRenameTableFailed) — while a
   * rename wholly outside the filter skips, and a rename whose old name
   * was replicated keeps (even when the new name leaves the filter).
   * Returns Left(errorCode) | Right(skip).
   */
  def renameTableDecision(e: RenameEntry): Either[String, Boolean] = {
    val oldDiscard = if (e.oldKnown) e.oldDiscard else true
    if (oldDiscard) {
      if (!e.newDiscard) Left("CDC:ErrSyncRenameTableFailed")
      else Right(true)
    } else Right(false)
  }

  /**
   * The RenameTables (multi) decision (ddl_puller.go:560-610): entries
   * filtered on BOTH names drop from the job; any old-filtered/new-kept
   * entry fails the whole job; the job skips only when NO entry remains.
   * Returns Left(errorCode) | Right((skip, keptEntryCount)).
   */
  def renameTablesDecision(entries: Seq[RenameEntry])
      : Either[String, (Boolean, Int)] = {
    var kept = 0
    for (e <- entries) {
      val oldDiscard = if (e.oldKnown) e.oldDiscard else true
      if (oldDiscard && !e.newDiscard)
        return Left("CDC:ErrSyncRenameTableFailed")
      if (!(oldDiscard && e.newDiscard)) kept += 1
    }
    Right((kept == 0, kept))
  }
}
