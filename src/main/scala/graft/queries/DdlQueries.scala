package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{CdcStream, Tables}
import graft.diff.Precheck
import graft.streaming.ShardDdl

/** Gate queries for shard-DDL coordination (G2) and the precheck suite (V6). */
object DdlQueries {

  private val cte = CdcStream.sqlCte

  /** Deterministic DDL announcements: tbl_0/tbl_1 resolved by all 3 shards,
    * tbl_2 stuck at 2/3, tbl_3 at 1/3. */
  private val ddlRows = Seq(
    ("tbl_0", 0, "add_col", 1001000L), ("tbl_0", 1, "add_col", 1001200L),
    ("tbl_0", 2, "add_col", 1001400L),
    ("tbl_1", 0, "add_col", 1002000L), ("tbl_1", 1, "add_col", 1002100L),
    ("tbl_1", 2, "add_col", 1002200L),
    ("tbl_2", 0, "add_col", 1003000L), ("tbl_2", 1, "add_col", 1003100L),
    ("tbl_3", 0, "add_col", 1004000L))

  private val ddlValuesSql = ddlRows
    .map { case (t, s, d, ts) => s"('$t', $s, '$d', $ts)" }.mkString(", ")

  val shardDdlGate = GateQuery(
    "q38_shard_ddl_gate",
    Some(cte +
      s""", ddl(target_table, shard_id, ddl, commit_ts) AS (VALUES $ddlValuesSql),
         |barriers AS (
         |  SELECT target_table, ddl, count(DISTINCT shard_id) AS n_shards,
         |    min(commit_ts) AS barrier_ts,
         |    count(DISTINCT shard_id) >= 3 AS resolved
         |  FROM ddl GROUP BY 1, 2
         |), unresolved AS (
         |  SELECT target_table, min(barrier_ts) AS gate_ts
         |  FROM barriers WHERE NOT resolved GROUP BY 1
         |)
         |SELECT c.table_name,
         |  CAST(sum(CASE WHEN u.gate_ts IS NULL OR c.commit_ts < u.gate_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_pass,
         |  CAST(sum(CASE WHEN u.gate_ts IS NOT NULL AND c.commit_ts >= u.gate_ts THEN 1 ELSE 0 END) AS BIGINT) AS n_hold
         |FROM cdc c LEFT JOIN unresolved u ON u.target_table = c.table_name
         |GROUP BY 1""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val ddls = ddlRows.toDF("target_table", "shard_id", "ddl", "commit_ts")
    val bars = ShardDdl.barriers(ddls, totalShards = 3)
    val dml = CdcStream.derive(spark, dir)
      .withColumn("target_table", col("table_name"))
    ShardDdl.dmlGate(dml, bars)
      .groupBy("table_name")
      .agg(
        sum(when(col("pass"), 1L).otherwise(0L)).as("n_pass"),
        sum(when(!col("pass"), 1L).otherwise(0L)).as("n_hold"))
  }

  val precheck = GateQuery(
    "q54_precheck",
    Some("""WITH data_checks AS (
           |  SELECT 'lineitem' AS table_name, count(*) AS n_rows,
           |    sum(CASE WHEN l_orderkey IS NULL OR l_linenumber IS NULL THEN 1 ELSE 0 END) AS n_null,
           |    count(DISTINCT (l_orderkey, l_linenumber)) AS n_distinct,
           |    sum(CASE WHEN strpos(l_returnflag, chr(65533)) > 0
           |              OR strpos(l_linestatus, chr(65533)) > 0 THEN 1 ELSE 0 END) AS n_bad_utf8,
           |    sum(CASE WHEN epoch(l_shipdate) < 0
           |              OR epoch(l_shipdate) > 2147483647 THEN 1 ELSE 0 END) AS n_ts_oob
           |  FROM lineitem
           |  UNION ALL
           |  SELECT 'orders', count(*),
           |    sum(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END),
           |    count(DISTINCT o_orderkey),
           |    sum(CASE WHEN strpos(o_orderstatus, chr(65533)) > 0
           |              OR strpos(o_orderpriority, chr(65533)) > 0 THEN 1 ELSE 0 END),
           |    sum(CASE WHEN epoch(o_orderdate) < 0
           |              OR epoch(o_orderdate) > 2147483647 THEN 1 ELSE 0 END)
           |  FROM orders
           |), shard_conflicts AS (
           |  SELECT count(*) AS n FROM (
           |    SELECT o_orderkey FROM orders
           |    GROUP BY o_orderkey HAVING count(DISTINCT o_orderkey % 2) > 1
           |  )
           |)
           |SELECT table_name, check_name, verdict FROM (
           |  SELECT table_name, 'non_empty' AS check_name,
           |    CASE WHEN n_rows > 0 THEN 'pass' ELSE 'fail' END AS verdict FROM data_checks
           |  UNION ALL
           |  SELECT table_name, 'pk_not_null',
           |    CASE WHEN n_null = 0 THEN 'pass' ELSE 'fail' END FROM data_checks
           |  UNION ALL
           |  SELECT table_name, 'pk_unique',
           |    CASE WHEN n_distinct = n_rows - n_null THEN 'pass' ELSE 'fail' END FROM data_checks
           |  UNION ALL
           |  SELECT table_name, 'charset_clean',
           |    CASE WHEN n_bad_utf8 = 0 THEN 'pass' ELSE 'fail' END FROM data_checks
           |  UNION ALL
           |  SELECT table_name, 'timestamp_range',
           |    CASE WHEN n_ts_oob = 0 THEN 'pass' ELSE 'fail' END FROM data_checks
           |  UNION ALL
           |  SELECT t, c, v FROM (VALUES
           |    ('lineitem', 'pk_present', 'pass'),
           |    ('lineitem', 'types_supported', 'pass'),
           |    ('lineitem', 'pk_schema_not_nullable', 'warn'),
           |    ('lineitem', 'pk_type_sane', 'pass'),
           |    ('lineitem', 'column_name_collision', 'pass'),
           |    ('lineitem', 'column_count_bound', 'pass'),
           |    ('lineitem', 'decimal_precision_bound', 'pass'),
           |    ('orders', 'pk_present', 'pass'),
           |    ('orders', 'types_supported', 'pass'),
           |    ('orders', 'pk_schema_not_nullable', 'warn'),
           |    ('orders', 'pk_type_sane', 'pass'),
           |    ('orders', 'column_name_collision', 'pass'),
           |    ('orders', 'column_count_bound', 'pass'),
           |    ('orders', 'decimal_precision_bound', 'pass'),
           |    ('orders_sharded', 'shard_schema_consistent', 'pass'),
           |    ('source_1', 'mysql_version', 'pass'),
           |    ('source_1', 'mysql_server_id', 'pass'),
           |    ('source_1', 'mysql_binlog_enable', 'pass'),
           |    ('source_1', 'mysql_binlog_format', 'pass'),
           |    ('source_1', 'mysql_binlog_row_image', 'pass'),
           |    ('source_2', 'mysql_version', 'warn'),
           |    ('source_2', 'mysql_server_id', 'warn'),
           |    ('source_2', 'mysql_binlog_enable', 'fail'),
           |    ('source_2', 'mysql_binlog_format', 'fail'),
           |    ('source_2', 'mysql_binlog_row_image', 'pass')) v(t, c, v)
           |  UNION ALL
           |  SELECT 'orders_sharded', 'auto_increment_conflict',
           |    CASE WHEN n = 0 THEN 'pass' ELSE 'fail' END FROM shard_conflicts
           |)""".stripMargin)) { (spark, dir) =>
    val orders = Tables.load(spark, dir, "orders")
    Precheck.run(spark,
      Seq(
        ("lineitem", Tables.load(spark, dir, "lineitem"),
          Seq("l_orderkey", "l_linenumber")),
        ("orders", orders, Seq("o_orderkey"))),
      shardGroups = Seq(
        ("orders_sharded",
          Seq(orders.filter(col("o_orderkey") % 2 === 0),
            orders.filter(col("o_orderkey") % 2 === 1)),
          Seq("o_orderkey"))),
      // server-config checkers over the task spec's variable snapshots:
      // source_1 healthy; source_2 a misconfigured old MariaDB — version
      // warns (experimental), server_id unset warns, binlog off/STATEMENT
      // fail, and row_image passes VACUOUSLY (10.1.2 < 10.1.6, the
      // variable does not exist yet — reference binlog.go:129-190)
      sources = Seq(
        ("source_1", Precheck.SourceMeta()),
        ("source_2", Precheck.SourceMeta(version = "10.1.2-MariaDB",
          serverId = 0L, logBin = "OFF", binlogFormat = "STATEMENT",
          binlogRowImage = "MINIMAL"))))
      .select("table_name", "check_name", "verdict")
  }

  /**
   * G1 — textual DDL end-to-end: raw `CREATE TABLE`/`ALTER TABLE` strings →
   * [[graft.core.DdlParser]] → versioned registry → as-of bind of every
   * event to the version in force at its commit ts. The third DDL is a
   * multi-schema-change ALTER that SPLITS into two single-change versions
   * at the same ts (reference splitDDLs, dm/syncer/ddl.go:223-414), so
   * events at/after it bind to version 4 with 4 columns.
   */
  val ddlText = GateQuery(
    "q73_ddl_text",
    Some(cte +
      """SELECT schema_name, table_name,
        |  CASE WHEN commit_ts >= 1005000 THEN 4
        |       WHEN commit_ts >= 1002000 THEN 2 ELSE 1 END AS schema_version,
        |  CASE WHEN commit_ts >= 1005000 THEN 4
        |       WHEN commit_ts >= 1002000 THEN 3 ELSE 2 END AS n_cols,
        |  count(*) AS cnt, min(commit_ts) AS min_ts, max(commit_ts) AS max_ts
        |FROM cdc GROUP BY 1, 2, 3, 4""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.core.{DdlParser, SchemaRegistry}
    val ddls = for {
      s <- Seq("db_0", "db_1"); t <- Seq("tbl_0", "tbl_1", "tbl_2", "tbl_3")
      d <- Seq(
        (s"CREATE TABLE $s.$t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)", 0L),
        (s"ALTER TABLE $s.$t ADD COLUMN c2 VARCHAR(64)", 1002000L),
        (s"ALTER TABLE `$s`.`$t` ADD COLUMN c3 DECIMAL(10,2), MODIFY COLUMN c2 TEXT",
          1005000L))
    } yield d
    val versions = DdlParser.applyToRegistry(Nil, ddls)
    val nCols = versions
      .map(v => (v.schemaName, v.tableName, v.version, v.schema.fields.length))
      .toDF("schema_name", "table_name", "schema_version", "n_cols")
    SchemaRegistry.bindSchemaVersion(CdcStream.derive(spark, dir), versions)
      .join(broadcast(nCols), Seq("schema_name", "table_name", "schema_version"))
      .groupBy("schema_name", "table_name", "schema_version", "n_cols")
      .agg(count(lit(1)).as("cnt"),
        min(col("commit_ts")).as("min_ts"), max(col("commit_ts")).as("max_ts"))
  }

  /**
   * F5 — DDL allow-list + ignore-regex filter (q110): a deterministic DDL
   * corpus classifies through the REAL parser
   * ([[graft.core.DdlParser.parse]] → canal event-type), then the
   * allow-set and the ignore-SQL regexes
   * ([[graft.operators.Filters.ddlSqlFilter]]) decide what passes. The
   * oracle classifies the same statements with INDEPENDENT SQL regexes,
   * so parser kind assignment and filter semantics are both pinned.
   */
  private val DdlCorpus = Seq(
    "CREATE TABLE db.t1 (id BIGINT, v DOUBLE)",
    "CREATE DATABASE db2",
    "DROP TABLE db.t1",
    "DROP DATABASE db2",
    "ALTER TABLE db.t1 ADD COLUMN c INT",
    "ALTER TABLE db.t1 DROP COLUMN c",
    "ALTER TABLE db.t1 MODIFY COLUMN v BIGINT",
    "ALTER TABLE db._t1_gho ADD COLUMN g INT",
    "RENAME TABLE db.t1 TO db.t2",
    "TRUNCATE TABLE db.t2",
    "ALTER TABLE db.t1 ADD INDEX idx_v (v)",
    "ALTER TABLE db.t1 DROP INDEX idx_v",
    "ALTER TABLE db.t1 ADD PRIMARY KEY (id)",
    "ALTER TABLE db.t1 DROP PRIMARY KEY")
  private val AllowKinds = Seq("CREATE", "ALTER", "RENAME", "CINDEX")
  private val IgnoreRes = Seq("_gho")

  /** Shared oracle fragments for the DDL gates: the corpus as a VALUES
    * list and the independent SQL-regex kind classification (kept in ONE
    * place so q110 and q119 cannot drift). */
  private val corpusValuesSql =
    DdlCorpus.map(s => s"('${s.replace("'", "''")}')").mkString(", ")
  private val kindCaseSql =
    """CASE WHEN regexp_matches(sql, '(?i)^CREATE TABLE') THEN 'CREATE'
      |     WHEN regexp_matches(sql, '(?i)^(CREATE|DROP) DATABASE') THEN 'QUERY'
      |     WHEN regexp_matches(sql, '(?i)^DROP TABLE') THEN 'ERASE'
      |     WHEN regexp_matches(sql, '(?i)^RENAME TABLE') THEN 'RENAME'
      |     WHEN regexp_matches(sql, '(?i)^TRUNCATE') THEN 'TRUNCATE'
      |     WHEN regexp_matches(sql, '(?i)^ALTER TABLE .* ADD (INDEX|PRIMARY KEY)') THEN 'CINDEX'
      |     WHEN regexp_matches(sql, '(?i)^ALTER TABLE .* DROP (INDEX|PRIMARY KEY)') THEN 'DINDEX'
      |     ELSE 'ALTER' END""".stripMargin

  val ddlAllowList = GateQuery(
    "q110_ddl_allowlist",
    Some {
      val allowIn = AllowKinds.map(k => s"'$k'").mkString(", ")
      s"""WITH ddl(sql) AS (VALUES $corpusValuesSql),
         |cls AS (SELECT sql, $kindCaseSql AS kind FROM ddl)
         |SELECT kind, count(*) AS n_stmts,
         |  CAST(sum(CASE WHEN kind IN ($allowIn)
         |                 AND NOT regexp_matches(sql, '_gho')
         |            THEN 1 ELSE 0 END) AS BIGINT) AS n_passed
         |FROM cls GROUP BY 1""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    import graft.core.DdlParser
    import graft.operators.{Codecs, Filters}
    val rows = DdlCorpus.flatMap { sql =>
      DdlParser.parse(sql, "db").map(st => (sql, Codecs.canalDdlType(st)))
    }.toDF("ddl", "kind")
    val passed = Filters.ddlSqlFilter(
        rows.filter(col("kind").isin(AllowKinds: _*)), IgnoreRes)
      .groupBy("kind").agg(count(lit(1)).as("n_passed"))
    rows.groupBy("kind").agg(count(lit(1)).as("n_stmts"))
      .join(passed, Seq("kind"), "left")
      .withColumn("n_passed", coalesce(col("n_passed"), lit(0L)))
  }

  /**
   * K6/G1 — DDL re-render fixpoint (q119): the DDL sink re-renders parsed
   * statements downstream (`DdlParser.toSql`); for every corpus statement
   * the render must be STABLE (toSql∘parse is a fixpoint: re-parsing the
   * rendered text and rendering again reproduces it byte-for-byte) and
   * kind-preserving (the re-parse classifies identically). The oracle
   * independently classifies the original statements and asserts every
   * one is stable — an unstable or kind-shifting renderer breaks the
   * count columns.
   */
  val ddlRenderFixpoint = GateQuery(
    "q119_ddl_render",
    Some(
      s"""WITH ddl(sql) AS (VALUES $corpusValuesSql),
         |cls AS (SELECT sql, $kindCaseSql AS kind FROM ddl)
         |SELECT kind, count(*) AS n_stmts, count(*) AS n_stable,
         |  count(*) AS n_kind_kept
         |FROM cls GROUP BY 1""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.core.DdlParser
    import graft.operators.Codecs
    val rows = DdlCorpus.flatMap { sql =>
      DdlParser.parse(sql, "db").map { st =>
        val r1 = DdlParser.toSql(st)
        val reparsed = DdlParser.parse(r1, "db")
        val stable = reparsed.size == 1 && DdlParser.toSql(reparsed.head) == r1
        val kindKept = reparsed.size == 1 &&
          Codecs.canalDdlType(reparsed.head) == Codecs.canalDdlType(st)
        (Codecs.canalDdlType(st), stable, kindKept)
      }
    }.toDF("kind", "stable", "kind_kept")
    rows.groupBy("kind").agg(count(lit(1)).as("n_stmts"),
      sum(when(col("stable"), 1L).otherwise(0L)).as("n_stable"),
      sum(when(col("kind_kept"), 1L).otherwise(0L)).as("n_kind_kept"))
  }

  /**
   * E5 (DDL half) — Debezium schema-change envelopes (q122; reference
   * EncodeDDLEvent, pkg/sink/codec/debezium/codec.go:1154+): every corpus
   * statement renders to a (key, value) message pair, the value is decoded
   * BACK from JSON, and the gate groups on the decoded `tableChanges`
   * classification — CREATE/ALTER/DROP per the reference's switch (DROP
   * INDEX → DROP but DROP PRIMARY KEY → ALTER), NONE for truncate and
   * database-level statements, rename ids concatenating old and new
   * identifiers. The oracle classifies the same statements with
   * independent SQL regexes.
   */
  val debeziumDdl = GateQuery(
    "q122_debezium_ddl",
    Some {
      s"""WITH ddl(sql) AS (VALUES $corpusValuesSql),
         |cls AS (SELECT sql,
         |  CASE WHEN regexp_matches(sql, '(?i)^(CREATE|DROP) DATABASE')
         |         OR regexp_matches(sql, '(?i)^TRUNCATE') THEN 'NONE'
         |       WHEN regexp_matches(sql, '(?i)^CREATE TABLE') THEN 'CREATE'
         |       WHEN regexp_matches(sql, '(?i)^(DROP TABLE|ALTER TABLE .* DROP INDEX)') THEN 'DROP'
         |       ELSE 'ALTER' END AS kind FROM ddl)
         |SELECT kind, count(*) AS n_msgs,
         |  CAST(sum(CASE WHEN kind = 'NONE' THEN 0 ELSE 1 END) AS BIGINT) AS n_with_changes,
         |  CAST(sum(CASE WHEN regexp_matches(sql, '(?i)^RENAME') THEN 1 ELSE 0 END) AS BIGINT) AS n_rename_ids,
         |  CAST(count(*) AS BIGINT) AS n_sql_echoed,
         |  CAST(count(*) AS BIGINT) AS n_key_db_match
         |FROM cls GROUP BY 1""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    import graft.core.DdlParser
    import graft.core.DdlParser._
    import graft.operators.Codecs
    val rows = DdlCorpus.flatMap { sql =>
      DdlParser.parse(sql, "db").map { st =>
        val (schema, table, toS, toT) = st match {
          case s: CreateTable => (s.schema, s.table, null, null)
          case s: DropTable => (s.schema, s.table, null, null)
          case s: TruncateTable => (s.schema, s.table, null, null)
          case s: AlterTable => (s.schema, s.table, null, null)
          case s: AlterIndex => (s.schema, s.table, null, null)
          case s: RenameTable => (s.schema, s.table, s.toSchema, s.toTable)
          case s: CreateDatabase => (s.schema, null, null, null)
          case s: DropDatabase => (s.schema, null, null, null)
        }
        val noChanges = st.isInstanceOf[TruncateTable]
        (schema, table, 1001000L, Codecs.debeziumDdlType(st), sql, toS, toT,
          noChanges)
      }
    }.toDF("schema_name", "table_name", "commit_ts", "change_type", "ddl_sql",
      "to_schema", "to_table", "no_changes")
    val (k, v) = Codecs.debeziumDdl(rows)
    val valueSchema = new org.apache.spark.sql.types.StructType()
      .add("payload", new org.apache.spark.sql.types.StructType()
        .add("databaseName", org.apache.spark.sql.types.StringType)
        .add("ddl", org.apache.spark.sql.types.StringType)
        .add("tableChanges", org.apache.spark.sql.types.ArrayType(
          new org.apache.spark.sql.types.StructType()
            .add("type", org.apache.spark.sql.types.StringType)
            .add("id", org.apache.spark.sql.types.StringType))))
    val keySchema = new org.apache.spark.sql.types.StructType()
      .add("payload", new org.apache.spark.sql.types.StructType()
        .add("databaseName", org.apache.spark.sql.types.StringType))
    rows.select(col("ddl_sql"), from_json(k, keySchema).as("km"),
        from_json(v, valueSchema).as("m"))
      .select(
        coalesce(try_element_at(col("m.payload.tableChanges"), lit(1))("type"),
          lit("NONE")).as("kind"),
        (size(col("m.payload.tableChanges")) > 0).as("with_changes"),
        try_element_at(col("m.payload.tableChanges"), lit(1))("id").contains(",")
          .as("rename_id"),
        (col("m.payload.ddl") === col("ddl_sql")).as("sql_echoed"),
        (col("km.payload.databaseName") === col("m.payload.databaseName"))
          .as("key_db_match"))
      .groupBy("kind")
      .agg(count(lit(1)).as("n_msgs"),
        sum(when(col("with_changes"), 1L).otherwise(0L)).as("n_with_changes"),
        sum(when(coalesce(col("rename_id"), lit(false)), 1L).otherwise(0L))
          .as("n_rename_ids"),
        sum(when(col("sql_echoed"), 1L).otherwise(0L)).as("n_sql_echoed"),
        sum(when(col("key_db_match"), 1L).otherwise(0L)).as("n_key_db_match"))
  }

  /**
   * E6 (DDL half) — Maxwell DDL messages (q123; reference
   * ddlMaxwellMessage, maxwell_message.go:174+): the q73 DDL sequence
   * folds through the registry so each (split) statement knows its
   * before/after column lists, renders as a Maxwell message with
   * `old`/`def` table structures, and is decoded back; the gate pins the
   * classified type, the old/def column counts along the schema
   * evolution (2→3→4 columns), and the column-type names (pk stays
   * `bigint` in every def).
   */
  val maxwellDdl = GateQuery(
    "q123_maxwell_ddl",
    Some("""SELECT * FROM (VALUES
           |  ('table-create', 2, 0, CAST(8 AS BIGINT), CAST(8 AS BIGINT)),
           |  ('table-alter', 3, 2, CAST(8 AS BIGINT), CAST(8 AS BIGINT)),
           |  ('table-alter', 4, 3, CAST(8 AS BIGINT), CAST(8 AS BIGINT)),
           |  ('table-alter', 4, 4, CAST(8 AS BIGINT), CAST(8 AS BIGINT)))
           |v(mtype, n_def, n_old, n_msgs, n_pk_bigint)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.core.{DdlParser, SchemaRegistry}
    import graft.core.DdlParser.{AlterTable, CreateTable}
    import graft.operators.Codecs
    val rows = for {
      s <- Seq("db_0", "db_1"); t <- Seq("tbl_0", "tbl_1", "tbl_2", "tbl_3")
      texts = Seq(
        (s"CREATE TABLE $s.$t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)", 0L),
        (s"ALTER TABLE $s.$t ADD COLUMN c2 VARCHAR(64)", 1002000L),
        (s"ALTER TABLE $s.$t ADD COLUMN c3 DECIMAL(10,2), MODIFY COLUMN c2 TEXT",
          1005000L))
      row <- {
        // fold the parsed statements into running (name, maxwell-type)
        // column lists: old = before the statement, def = after
        var cols = Vector.empty[(String, String)]
        texts.flatMap { case (sql, ts) =>
          DdlParser.parse(sql).map { st =>
            val old = cols
            st match {
              case ct: CreateTable =>
                cols = ct.columns.map(c =>
                  (c.name, Codecs.maxwellColType(c.dataType))).toVector
              case AlterTable(_, _, SchemaRegistry.AddColumn(n, dt)) =>
                cols = cols :+ ((n, Codecs.maxwellColType(dt)))
              case AlterTable(_, _, SchemaRegistry.ModifyColumn(n, dt)) =>
                cols = cols.map { case (cn, ct0) =>
                  if (cn == n) (cn, Codecs.maxwellColType(dt)) else (cn, ct0) }
              case other => throw new IllegalStateException(other.toString)
            }
            (s, t, ts, Codecs.maxwellDdlType(st), DdlParser.toSql(st),
              cols.map { case (n, ty) => (n, ty) }, old)
          }
        }
      }
    } yield row
    val df = rows.toDF("schema_name", "table_name", "commit_ts", "ddl_kind",
        "ddl_sql", "def_cols", "old_cols")
      .withColumn("def_cols", col("def_cols").cast(
        "array<struct<name:string,type:string>>"))
      .withColumn("old_cols", col("old_cols").cast(
        "array<struct<name:string,type:string>>"))
    val msgSchema = org.apache.spark.sql.types.StructType.fromDDL(
      """type STRING, `database` STRING, `table` STRING,
        |old STRUCT<`database`: STRING, `table`: STRING,
        |  columns: ARRAY<STRUCT<name: STRING, type: STRING>>,
        |  `primary-key`: ARRAY<STRING>>,
        |def STRUCT<`database`: STRING, `table`: STRING,
        |  columns: ARRAY<STRUCT<name: STRING, type: STRING>>,
        |  `primary-key`: ARRAY<STRING>>,
        |ts BIGINT, sql STRING""".stripMargin.replace("\n", " "))
    df.select(from_json(Codecs.maxwellDdl(df), msgSchema).as("m"))
      .select(col("m.type").as("mtype"),
        size(col("m.def.columns")).as("n_def"),
        coalesce(size(col("m.old.columns")), lit(0)).as("n_old"),
        exists(col("m.def.columns"),
          c => c("name") === "pk" && c("type") === "bigint").as("pk_bigint"))
      .withColumn("n_old", when(col("n_old") < 0, 0).otherwise(col("n_old")))
      .groupBy("mtype", "n_def", "n_old")
      .agg(count(lit(1)).as("n_msgs"),
        sum(when(col("pk_bigint"), 1L).otherwise(0L)).as("n_pk_bigint"))
  }

  /**
   * E7 (DDL half) — simple-protocol DDL messages (q134; reference
   * simple/message.go newDDLMessage + getDDLType): a six-statement
   * lifecycle per table (create → add column → add index → drop index →
   * truncate → drop) folds through the registry, renders as simple DDL
   * messages, and is decoded back; the gate pins the classified type
   * taxonomy (CREATE/ALTER/CINDEX/DINDEX/TRUNCATE/ERASE), the
   * post/pre schema column counts along the evolution (a dropped table
   * has no post-schema, a created one no pre-schema), and that `pk`
   * stays BIGINT in every present schema.
   */
  val simpleDdl = GateQuery(
    "q134_simple_ddl",
    Some("""SELECT * FROM (VALUES
           |  ('ALTER', 3, 2, true, CAST(8 AS BIGINT)),
           |  ('CINDEX', 3, 3, true, CAST(8 AS BIGINT)),
           |  ('CREATE', 2, 0, true, CAST(8 AS BIGINT)),
           |  ('DINDEX', 3, 3, true, CAST(8 AS BIGINT)),
           |  ('ERASE', 0, 3, false, CAST(8 AS BIGINT)),
           |  ('TRUNCATE', 3, 3, true, CAST(8 AS BIGINT)))
           |v(mtype, n_schema, n_pre, pk_bigint, n_msgs)""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.core.DdlParser
    import graft.core.DdlParser.{AlterTable, CreateTable, DropTable}
    import graft.core.SchemaRegistry.AddColumn
    import graft.operators.Codecs
    val rows = for {
      s <- Seq("db_0", "db_1"); t <- Seq("tbl_0", "tbl_1", "tbl_2", "tbl_3")
      texts = Seq(
        (s"CREATE TABLE $s.$t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)", 0L),
        (s"ALTER TABLE $s.$t ADD COLUMN c2 VARCHAR(64)", 1002000L),
        (s"ALTER TABLE $s.$t ADD INDEX idx_val (val)", 1003000L),
        (s"ALTER TABLE $s.$t DROP INDEX idx_val", 1004000L),
        (s"TRUNCATE TABLE $s.$t", 1005000L),
        (s"DROP TABLE $s.$t", 1006000L))
      row <- {
        var cols = Vector.empty[(String, String, Boolean)]
        texts.flatMap { case (sql, ts) =>
          DdlParser.parse(sql).map { st =>
            val old = cols
            st match {
              case ct: CreateTable =>
                cols = ct.columns.map(c => (c.name,
                  Codecs.simpleColType(c.dataType), c.nullable)).toVector
              case AlterTable(_, _, AddColumn(n, dt)) =>
                cols = cols :+ ((n, Codecs.simpleColType(dt), true))
              case _: DropTable => cols = Vector.empty
              case _ => () // index/truncate: row schema unchanged
            }
            (s, t, ts, Codecs.simpleDdlType(st), DdlParser.toSql(st), cols, old)
          }
        }
      }
    } yield row
    val colsType = "array<struct<name:string,dataType:string,nullable:boolean>>"
    val df = rows.toDF("schema_name", "table_name", "commit_ts", "ddl_kind",
        "ddl_sql", "def_cols", "old_cols")
      .withColumn("def_cols", col("def_cols").cast(colsType))
      .withColumn("old_cols", col("old_cols").cast(colsType))
    val schemaStruct = "STRUCT<`database`: STRING, `table`: STRING, " +
      "columns: ARRAY<STRUCT<name: STRING, dataType: STRING, nullable: BOOLEAN>>>"
    val msgSchema = org.apache.spark.sql.types.StructType.fromDDL(
      s"version INT, type STRING, commitTs BIGINT, sql STRING, " +
        s"tableSchema $schemaStruct, preTableSchema $schemaStruct")
    df.select(from_json(Codecs.simpleDdl(df), msgSchema).as("m"))
      .filter(col("m.version") === 1) // every message carries the version
      .select(col("m.type").as("mtype"),
        coalesce(size(col("m.tableSchema.columns")), lit(0)).as("n_schema"),
        coalesce(size(col("m.preTableSchema.columns")), lit(0)).as("n_pre"),
        coalesce(exists(col("m.tableSchema.columns"),
          c => c("name") === "pk" && c("dataType") === "BIGINT"), lit(false))
          .as("pk_bigint"))
      .withColumn("n_schema", when(col("n_schema") < 0, 0).otherwise(col("n_schema")))
      .withColumn("n_pre", when(col("n_pre") < 0, 0).otherwise(col("n_pre")))
      .groupBy("mtype", "n_schema", "n_pre", "pk_bigint")
      .agg(count(lit(1)).as("n_msgs"))
  }

  /**
   * E1 (DDL half) — open-protocol DDL messages (q135; reference
   * ddlEventToMsg/msgToDDLEvent, open_protocol_message.go:101-113 +
   * 235-260): each statement of the lifecycle corpus renders as the
   * key/value pair (key type=2, value = `{"q": sql, "t": actionType}`)
   * and decodes back the way the reference's consumer rebuilds a
   * DDLEvent. The gate pins the TiDB action-code taxonomy, that every
   * key is MessageTypeDDL, and that the SQL text survives the round trip
   * byte-for-byte.
   */
  val openDdl = GateQuery(
    "q135_open_ddl",
    Some("""SELECT * FROM (VALUES
           |  (3, 2, true, CAST(8 AS BIGINT)),
           |  (5, 2, true, CAST(8 AS BIGINT)),
           |  (7, 2, true, CAST(8 AS BIGINT)),
           |  (8, 2, true, CAST(8 AS BIGINT)),
           |  (11, 2, true, CAST(8 AS BIGINT)),
           |  (4, 2, true, CAST(8 AS BIGINT)))
           |v(action_type, key_type, sql_match, n_msgs)""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.core.DdlParser
    import graft.operators.Codecs
    val rows = for {
      s <- Seq("db_0", "db_1"); t <- Seq("tbl_0", "tbl_1", "tbl_2", "tbl_3")
      sql <- Seq(
        s"CREATE TABLE $s.$t (pk BIGINT NOT NULL PRIMARY KEY, val DOUBLE)",
        s"ALTER TABLE $s.$t ADD COLUMN c2 VARCHAR(64)",
        s"ALTER TABLE $s.$t ADD INDEX idx_val (val)",
        s"ALTER TABLE $s.$t DROP INDEX idx_val",
        s"TRUNCATE TABLE $s.$t",
        s"DROP TABLE $s.$t")
      st <- DdlParser.parse(sql)
    } yield (s, t, 1002000L, Codecs.tidbActionType(st), DdlParser.toSql(st))
    val df = rows.toDF("schema_name", "table_name", "commit_ts",
      "action_type", "ddl_sql")
    val keySchema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts BIGINT, scm STRING, tbl STRING, t INT")
    val valSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "q STRING, t INT")
    df.select(col("ddl_sql"),
        from_json(Codecs.openDdlKey(df), keySchema).as("k"),
        from_json(Codecs.openDdlValue(df), valSchema).as("v"))
      .groupBy(col("v.t").as("action_type"), col("k.t").as("key_type"),
        (col("v.q") === col("ddl_sql")).as("sql_match"))
      .agg(count(lit(1)).as("n_msgs"))
  }

  /**
   * Watermark / resolved-ts control messages (q136): the per-table
   * resolved frontier (the q70 aggregation) renders as BOTH remaining
   * control-message envelopes — canal-JSON's data-less TIDB_WATERMARK
   * with the ts in the `_tidb` extension block, and the open protocol's
   * resolved key `{ts, t:3}` — and decodes back; the gate pins the
   * decoded watermark against the oracle's own frontier. With q121
   * (simple WATERMARK in Avro), checkpoint messages now exist for every
   * protocol that defines them.
   */
  val watermarkMessages = GateQuery(
    "q136_watermark_msgs",
    Some(CdcStream.sqlCte +
      """SELECT schema_name, table_name, max(commit_ts) AS wm,
        |  'TIDB_WATERMARK' AS mtype, false AS is_ddl,
        |  CAST(3 AS INT) AS open_t
        |FROM cdc GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import graft.operators.Codecs
    val frontier = graft.core.CdcStream.derive(spark, dir)
      .groupBy("schema_name", "table_name")
      .agg(max(col("commit_ts")).as("wm_ts"))
    val canalSchema = org.apache.spark.sql.types.StructType.fromDDL(
      "id BIGINT, isDdl BOOLEAN, type STRING, es BIGINT, " +
        "`_tidb` STRUCT<watermarkTs: BIGINT>")
    val keySchema = org.apache.spark.sql.types.StructType.fromDDL(
      "ts BIGINT, t INT")
    frontier.select(col("schema_name"), col("table_name"),
        from_json(Codecs.canalJsonWatermark(frontier), canalSchema).as("c"),
        from_json(Codecs.openResolvedKey(frontier), keySchema).as("k"))
      .select(col("schema_name"), col("table_name"),
        col("c._tidb.watermarkTs").as("wm"),
        col("c.type").as("mtype"), col("c.isDdl").as("is_ddl"),
        col("k.t").as("open_t"))
      // both renderings must carry the SAME ts
      .filter(col("wm") === col("k.ts") && col("wm") === col("c.es"))
  }

  /** q264's scripted announcements: (table, source, ddl, ts offset).
    * tbl_0 fully announced (resolved → leaves the lock table); tbl_2 at
    * 2/3 with src_0 first (owner); tbl_3 at 1/3 announced by src_1. */
  private val lockAnn = Seq(
    ("tbl_0", "src_0", "add_col", 10L), ("tbl_0", "src_1", "add_col", 20L),
    ("tbl_0", "src_2", "add_col", 30L),
    ("tbl_2", "src_0", "add_col", 40L), ("tbl_2", "src_1", "add_col", 50L),
    ("tbl_3", "src_1", "add_col", 60L))

  private val lockAnnSql = lockAnn
    .map { case (t, s, d, o) => s"('$t', '$s', '$d', $o)" }.mkString(", ")

  /**
   * q264 — dmctl's `shard-ddl-lock` inspection over the live pessimistic
   * coordination state ([[ShardDdl.pessimisticLocks]]/showLocks/unlockLock;
   * reference dm/master/server.go:901-980, shardddl/pessimist.go:233-385,
   * lock-ID algebra dm/pkg/utils/common.go:83-108). Script points: (p1)
   * before any announcement — "no DDL lock exists"; (p2) mid-coordination —
   * the lock table (exact IDs, first-announcer owner, sorted
   * synced/unsynced) plus ShowLocks' task/sources filters; (p3) the unlock
   * matrix — malformed ID, unknown ID, a successful unlock (owner exec +
   * synced-non-owner skip + removal), and a replace-owner pointing at an
   * un-synced source (refused: the operator should break, not unlock);
   * (p3f) the table after. ts offsets anchor to count(orders).
   */
  val shardDdlLocks = GateQuery(
    "q264_shard_ddl_locks",
    Some(
      s"""WITH b AS (SELECT CAST(count(*) AS BIGINT) AS base FROM orders),
         |ann(tbl, src, ddl, off) AS (VALUES $lockAnnSql),
         |locks AS (
         |  SELECT tbl, 'task1-' || chr(96) || 'db' || chr(96) || '.' ||
         |      chr(96) || tbl || chr(96) AS id,
         |    arg_min(src, base + off) AS owner,
         |    string_agg(src, ',' ORDER BY src) AS synced,
         |    array_to_string([s FOR s IN ['src_0', 'src_1', 'src_2']
         |      IF NOT list_contains(list(src), s)], ',') AS unsynced,
         |    CAST(count(DISTINCT src) AS BIGINT) AS n
         |  FROM ann, b GROUP BY tbl
         |  HAVING count(DISTINCT src) < 3
         |),
         |nlocks AS (SELECT CAST(count(*) AS BIGINT) AS n FROM locks)
         |SELECT 'p1' AS phase, 'msg' AS kind, '' AS k, '' AS owner,
         |  '' AS synced, '' AS unsynced, CAST(1 AS BIGINT) AS ok,
         |  'no DDL lock exists' AS msg
         |UNION ALL
         |SELECT 'p2', 'lock', id, owner, synced, unsynced, 1, '' FROM locks
         |UNION ALL
         |SELECT 'p2', 'filter', 'task:task1', '', '', '', n, '' FROM nlocks
         |UNION ALL
         |SELECT 'p2', 'filter', 'task:other', '', '', '', 0, ''
         |UNION ALL
         |SELECT 'p2', 'filter', 'sources:src_0', '', '', '', n, '' FROM nlocks
         |UNION ALL
         |SELECT 'p2', 'filter', 'sources:src_9', '', '', '', 0, ''
         |UNION ALL
         |SELECT 'p3', 'unlock', 'invalid-lock-id', '', '', '', 0,
         |  'can''t find task name from lock-ID'
         |UNION ALL
         |SELECT 'p3', 'unlock', 'task1-' || chr(96) || 'db' || chr(96) ||
         |    '.' || chr(96) || 'nope' || chr(96), '', '', '', 0,
         |  'lock with ID task1-' || chr(96) || 'db' || chr(96) || '.' ||
         |    chr(96) || 'nope' || chr(96) || ' not found'
         |UNION ALL
         |SELECT 'p3', 'unlock', id, owner,
         |  array_to_string([s FOR s IN string_split(synced, ',')
         |    IF s <> owner], ','), '', 1, ''
         |FROM locks WHERE tbl = 'tbl_2'
         |UNION ALL
         |SELECT 'p3', 'unlock', id, '', '', '', 0,
         |  'owner src_2 is not waiting for a lock, but sources ' || synced ||
         |  ' are waiting for the lock'
         |FROM locks WHERE tbl = 'tbl_3'
         |UNION ALL
         |SELECT 'p3f', 'lock', id, owner, synced, unsynced, 1, ''
         |FROM locks WHERE tbl = 'tbl_3'""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.ShardDdl
    val base = Tables.load(spark, dir, "orders").count()
    val ann = lockAnn.map { case (t, s, d, o) => (t, s, d, base + o) }
    val sources = Seq("src_0", "src_1", "src_2")
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, String, String, Long, String)]
    def lockRows(phase: String, locks: Seq[ShardDdl.PessLock]): Unit = {
      val views = ShardDdl.showLocks(locks)
      if (views.isEmpty)
        out += ((phase, "msg", "", "", "", "", 1L, "no DDL lock exists"))
      else views.foreach { v =>
        out += ((phase, "lock", v.id, v.owner, v.synced.mkString(","),
          v.unsynced.mkString(","), 1L, ""))
      }
    }
    // p1: before any announcement
    lockRows("p1", ShardDdl.pessimisticLocks("task1", "db", Seq.empty, sources))
    // p2: mid-coordination + ShowLocks filters
    var locks = ShardDdl.pessimisticLocks("task1", "db", ann, sources)
    lockRows("p2", locks)
    for ((label, t, ss) <- Seq(("task:task1", "task1", Seq.empty[String]),
      ("task:other", "other", Seq.empty[String]),
      ("sources:src_0", "", Seq("src_0")), ("sources:src_9", "", Seq("src_9"))))
      out += (("p2", "filter", label, "", "", "",
        ShardDdl.showLocks(locks, t, ss).size.toLong, ""))
    // p3: the unlock matrix, state threading through each attempt
    def unlock(id: String, replace: Option[String]): Unit = {
      val (next, r) = ShardDdl.unlockLock(locks, id, replace)
      locks = next
      out += (("p3", "unlock", id, r.execOwner.getOrElse(""),
        r.skipped.mkString(","), "", if (r.ok) 1L else 0L, r.msg))
    }
    unlock("invalid-lock-id", None)
    unlock(ShardDdl.genDDLLockID("task1", "db", "nope"), None)
    unlock(ShardDdl.genDDLLockID("task1", "db", "tbl_2"), None)
    unlock(ShardDdl.genDDLLockID("task1", "db", "tbl_3"), Some("src_2"))
    lockRows("p3f", locks)
    out.toSeq.toDF("phase", "kind", "k", "owner", "synced", "unsynced",
      "ok", "msg")
  }

  /**
   * q265 — DM's safe-mode PHASE kernel ([[graft.streaming.SafeModePhase]];
   * reference dm/syncer/safe_mode.go:34-120 + the runtime exits at
   * dm/syncer/syncer.go:2337-2356/2508-2540 + the refcount
   * dm/syncer/safe-mode/mode.go). q34 pins the row REWRITE; this pins WHEN
   * it applies: eight scenarios replay the sampled stream through
   * init+step and pin the per-event on/off timeline — config-on forever;
   * the default 2×flush-interval window; a checkpointed exit point
   * (strictly-greater pass, checked before the event's render snapshot);
   * exit-point==begin clears immediately (flush-now flag); the
   * zero-duration-with-exit-point conflict error; cli-args duration
   * BEATING config (the config +1 never happens); a custom window; and
   * refcount NESTING (config-on + exit point stays on after the point
   * passes). Clocks all derive from the stream's commit ts.
   */
  val safeModePhase = GateQuery(
    "q265_safe_mode_phase",
    Some(cte +
      s""", ev AS (SELECT seq, commit_ts AS ct FROM cdc WHERE pk % 97 = 0),
         |b AS (SELECT min(ct) AS lo, max(ct) AS hi,
         |  (min(ct) + max(ct)) // 2 AS mid FROM ev)
         |SELECT 's1_cfg_on' AS sc, CAST(count(*) AS BIGINT) AS n_safe,
         |  CAST(0 AS BIGINT) AS n_normal, CAST(0 AS BIGINT) AS first_normal_ts,
         |  CAST(0 AS BIGINT) AS cleared, CAST(0 AS BIGINT) AS err
         |FROM ev
         |UNION ALL
         |SELECT 's2_default_window',
         |  CAST(count(*) FILTER (WHERE ct - lo < 60) AS BIGINT),
         |  CAST(count(*) FILTER (WHERE ct - lo >= 60) AS BIGINT),
         |  CAST(coalesce(min(ct) FILTER (WHERE ct - lo >= 60), 0) AS BIGINT),
         |  0, 0
         |FROM ev, b
         |UNION ALL
         |SELECT 's3_exit_point',
         |  CAST(count(*) FILTER (WHERE ct <= mid) AS BIGINT),
         |  CAST(count(*) FILTER (WHERE ct > mid) AS BIGINT),
         |  CAST(coalesce(min(ct) FILTER (WHERE ct > mid), 0) AS BIGINT), 0, 0
         |FROM ev, b
         |UNION ALL
         |SELECT 's4_exit_at_begin', 0, CAST(count(*) AS BIGINT),
         |  CAST(min(ct) AS BIGINT), 1, 0
         |FROM ev
         |UNION ALL
         |SELECT 's5_zero_conflict', 0, 0, 0, 0, 1
         |UNION ALL
         |SELECT 's6_cli_priority',
         |  CAST(count(*) FILTER (WHERE ct <= lo + 90) AS BIGINT),
         |  CAST(count(*) FILTER (WHERE ct > lo + 90) AS BIGINT),
         |  CAST(coalesce(min(ct) FILTER (WHERE ct > lo + 90), 0) AS BIGINT),
         |  0, 0
         |FROM ev, b
         |UNION ALL
         |SELECT 's7_custom_window',
         |  CAST(count(*) FILTER (WHERE ct - lo < 45) AS BIGINT),
         |  CAST(count(*) FILTER (WHERE ct - lo >= 45) AS BIGINT),
         |  CAST(coalesce(min(ct) FILTER (WHERE ct - lo >= 45), 0) AS BIGINT),
         |  0, 0
         |FROM ev, b
         |UNION ALL
         |SELECT 's8_nested', CAST(count(*) AS BIGINT), 0, 0, 0, 0
         |FROM ev""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.SafeModePhase
    import SafeModePhase.InitCfg
    val evs = CdcStream.derive(spark, dir)
      .filter(col("pk") % 97 === 0)
      .select("seq", "commit_ts").orderBy("commit_ts", "seq")
      .collect().map(r => r.getLong(1))
    val (lo, hi) = (evs.min, evs.max)
    val mid = (lo + hi) / 2
    val scenarios = Seq(
      ("s1_cfg_on", InitCfg(cfgSafeMode = true, beginLocation = lo)),
      ("s2_default_window", InitCfg(beginLocation = lo)),
      ("s3_exit_point", InitCfg(exitPoint = Some(mid), beginLocation = lo)),
      ("s4_exit_at_begin", InitCfg(exitPoint = Some(lo), beginLocation = lo)),
      ("s5_zero_conflict", InitCfg(cfgDurationSec = Some(0L),
        exitPoint = Some(mid), beginLocation = lo)),
      ("s6_cli_priority", InitCfg(cliDurationSec = Some(90L),
        cfgSafeMode = true, beginLocation = lo)),
      ("s7_custom_window", InitCfg(cfgDurationSec = Some(45L),
        beginLocation = lo)),
      ("s8_nested", InitCfg(cfgSafeMode = true, exitPoint = Some(mid),
        beginLocation = lo)))
    val out = scenarios.map { case (sc, cfg) =>
      SafeModePhase.init(cfg, nowTs = lo) match {
        case Left(_) => (sc, 0L, 0L, 0L, 0L, 1L)
        case Right(ph0) =>
          var ph = ph0
          var nSafe = 0L; var nNorm = 0L; var firstNorm = 0L
          evs.foreach { ct =>
            val (ph2, safe) = SafeModePhase.step(ph, ct, ct, ct)
            ph = ph2
            if (safe) nSafe += 1
            else { nNorm += 1; if (firstNorm == 0L) firstNorm = ct }
          }
          (sc, nSafe, nNorm, firstNorm,
            if (ph0.clearedExitPointAtInit) 1L else 0L, 0L)
      }
    }
    out.toDF("sc", "n_safe", "n_normal", "first_normal_ts", "cleared", "err")
  }

  /**
   * q266 — the OPTIMISTIC half of the lock inspection
   * ([[ShardDdl.showOptimisticLocks]]; dm/master/shardddl/optimist.go:
   * 125-220): locks per (task, downstream table) over q75's schema-lattice
   * scenario, with the synced flag DERIVED from the real
   * SchemaRegistry.joinSchemas (a source is synced when its announced
   * schema already equals the join); synced/unsynced render as
   * upstream-table triples; tbl_3's type conflict contributes a
   * conflict-owner row carrying its pending DDL, and a `sources` filter
   * that excludes the conflicting source must still show the lock but
   * with an EMPTY owner (appendOwnerDDLs loops only requested sources —
   * the subtle leg of optimist.go:174-186).
   */
  val optimisticLocks = GateQuery(
    "q266_optimistic_locks",
    Some(
      s"""WITH st(tbl, src, synced, cddl) AS (VALUES
         |  ('tbl_0','s0',0,NULL),('tbl_0','s1',1,NULL),('tbl_0','s2',0,NULL),
         |  ('tbl_1','s0',0,NULL),('tbl_1','s1',1,NULL),('tbl_1','s2',0,NULL),
         |  ('tbl_2','s0',0,NULL),('tbl_2','s1',1,NULL),('tbl_2','s2',0,NULL),
         |  ('tbl_3','s0',1,NULL),('tbl_3','s1',0,NULL),
         |  ('tbl_3','s2',0,'ALTER TABLE tbl_3 MODIFY COLUMN val VARCHAR(32)')),
         |ent AS (SELECT *, src || '-' || chr(96) || src || 'db' || chr(96) ||
         |  '.' || chr(96) || tbl || chr(96) AS e FROM st),
         |locks AS (
         |  SELECT tbl, 'opt-' || chr(96) || 'sh' || chr(96) || '.' ||
         |    chr(96) || tbl || chr(96) AS id,
         |    coalesce(string_agg(e, ',' ORDER BY e) FILTER (WHERE synced = 1), '') AS synced_s,
         |    coalesce(string_agg(e, ',' ORDER BY e) FILTER (WHERE synced = 0), '') AS unsynced_s
         |  FROM ent GROUP BY tbl
         |),
         |conf AS (SELECT tbl, e AS owner, cddl FROM ent WHERE cddl IS NOT NULL)
         |SELECT 'lock' AS kind, l.id AS k, coalesce(c.owner, '') AS owner,
         |  coalesce(c.cddl, '') AS ddls, l.synced_s AS synced,
         |  l.unsynced_s AS unsynced, CAST(1 AS BIGINT) AS n
         |FROM locks l LEFT JOIN conf c ON c.tbl = l.tbl
         |UNION ALL
         |SELECT 'filter', 'task:other', '', '', '', '', 0
         |UNION ALL
         |SELECT 'filter', 'sources:s1', '', '', '', '',
         |  (SELECT CAST(count(*) AS BIGINT) FROM locks)
         |UNION ALL
         |SELECT 'lock_src_s1', l.id, '', '', l.synced_s, l.unsynced_s, 1
         |FROM locks l WHERE l.tbl = 'tbl_3'""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.core.SchemaRegistry
    import graft.streaming.ShardDdl
    import graft.streaming.ShardDdl.OptTableState
    import org.apache.spark.sql.types.{DataType, StructField, StructType}
    val srcs = Seq("s0", "s1", "s2")
    def fieldsOf(t: String, s: String): Seq[(String, String)] = s match {
      case "s1" => Seq("pk" -> "BIGINT", "val" -> "DOUBLE", "c2" -> "STRING")
      case "s2" if t == "tbl_3" => Seq("pk" -> "BIGINT", "val" -> "STRING")
      case _ => Seq("pk" -> "BIGINT", "val" -> "DOUBLE")
    }
    def struct(fs: Seq[(String, String)]) =
      StructType(fs.map { case (n, d) => StructField(n, DataType.fromDDL(d)) })
    val locks = Seq("tbl_0", "tbl_1", "tbl_2", "tbl_3").map { t =>
      val perSrc = srcs.map(s => s -> fieldsOf(t, s))
      val states = SchemaRegistry.joinSchemas(perSrc.map(x => struct(x._2))) match {
        case Right(j) =>
          val jSig = j.fields.toSeq.map(f => (f.name, f.dataType.sql))
          perSrc.map { case (s, fs) =>
            OptTableState(s, s + "db", t,
              synced = fs.map { case (n, d) => (n, DataType.fromDDL(d).sql) } == jSig)
          }
        case Left(_) =>
          // conflict: the base source stays synced, the diverging source
          // carries its pending DDL in ConflictDetected
          perSrc.map { case (s, _) =>
            OptTableState(s, s + "db", t, synced = s == "s0",
              conflictDdls = if (s == "s2")
                Some(Seq("ALTER TABLE tbl_3 MODIFY COLUMN val VARCHAR(32)"))
              else None)
          }
      }
      (ShardDdl.genDDLLockID("opt", "sh", t), "opt", states)
    }
    val out = scala.collection.mutable.ArrayBuffer
      .empty[(String, String, String, String, String, String, Long)]
    ShardDdl.showOptimisticLocks(locks).foreach { v =>
      out += (("lock", v.id, v.owner, v.ddls.mkString(","),
        v.synced.mkString(","), v.unsynced.mkString(","), 1L))
    }
    out += (("filter", "task:other", "", "", "", "",
      ShardDdl.showOptimisticLocks(locks, task = "other").size.toLong))
    val bySrc = ShardDdl.showOptimisticLocks(locks, sources = Seq("s1"))
    out += (("filter", "sources:s1", "", "", "", "", bySrc.size.toLong))
    bySrc.filter(_.id.contains("tbl_3")).foreach { v =>
      out += (("lock_src_s1", v.id, v.owner, v.ddls.mkString(","),
        v.synced.mkString(","), v.unsynced.mkString(","), 1L))
    }
    out.toSeq.toDF("kind", "k", "owner", "ddls", "synced", "unsynced", "n")
  }

  /**
   * q268 — the owner's barrier composition
   * ([[graft.streaming.OwnerBarrier]]; cdc/owner/ddl_manager.go:508-584 +
   * schedulepb/barrier.go:29-37): global/min-table/redo barriers seeded at
   * the DDL resolved ts, global DDLs lowering the global barrier, redo-
   * barrier DDLs lowering the redo barrier only when redo is ON,
   * non-global DDLs contributing per-physical-table (incl. partitions)
   * min-commit barriers filtered to the global, and the 256-entry cap
   * that REDEFINES the global barrier down to the 257th entry's ts.
   * Five scenarios anchored in count(orders); oracle = closed-form SQL.
   */
  val ownerBarrier = GateQuery(
    "q268_owner_barrier",
    Some(
      """WITH b AS (SELECT CAST(count(*) AS BIGINT) AS base FROM orders)
        |SELECT 's1_empty' AS sc, base+100 AS global_ts, base+100 AS min_table_ts,
        |  base+100 AS redo_ts, CAST(0 AS BIGINT) AS n_tb,
        |  CAST(0 AS BIGINT) AS min_tb, CAST(0 AS BIGINT) AS max_tb,
        |  CAST(0 AS BIGINT) AS sum_tb FROM b
        |UNION ALL
        |SELECT 's2_mixed', base+50, base+30, base+50, 5, base+30, base+45,
        |  5*base + 195 FROM b
        |UNION ALL
        |SELECT 's3_cap', base+257, base+1, base+1000, 256, base+1, base+256,
        |  256*base + 32896 FROM b
        |UNION ALL
        |SELECT 's4_redo_off', base+50, base+30, base+100, 5, base+30,
        |  base+45, 5*base + 195 FROM b
        |UNION ALL
        |SELECT 's5_dup_tables', base+100, base+55, base+100, 1, base+55,
        |  base+55, base+55 FROM b
        |UNION ALL
        |SELECT 's6_repartition', base+100, base+20, base+20, 4, base+20,
        |  base+25, 4*base + 85 FROM b
        |UNION ALL
        |SELECT 's7_repart_redo_off', base+100, base+20, base+100, 4,
        |  base+20, base+25, 4*base + 85 FROM b""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.OwnerBarrier
    import graft.streaming.OwnerBarrier.DdlAt
    val base = Tables.load(spark, dir, "orders").count()
    def mixed = Seq(
      DdlAt(base + 50, "create_table", Seq(7L)),
      DdlAt(base + 30, "add_column", Seq(1L)),
      DdlAt(base + 40, "drop_index", Seq(2L, 21L, 22L)),
      DdlAt(base + 45, "drop_table", Seq(3L)))
    val scenarios = Seq(
      ("s1_empty", base + 100, Seq.empty[DdlAt], true),
      ("s2_mixed", base + 100, mixed, true),
      ("s3_cap", base + 1000,
        (1 to 300).map(i => DdlAt(base + i, "add_column", Seq(i.toLong))),
        true),
      ("s4_redo_off", base + 100, mixed, false),
      ("s5_dup_tables", base + 100, Seq(
        DdlAt(base + 60, "add_column", Seq(5L)),
        DdlAt(base + 55, "modify_column", Seq(5L))), true),
      // ddl_manager.go:83-84 + :94-95 — ALTER TABLE ... PARTITION BY /
      // REMOVE PARTITIONING are NON-global (block only the related
      // physical tables) and redo-barrier (they create physical tables,
      // so redo's resolved ts must not pass them).
      ("s6_repartition", base + 100, Seq(
        DdlAt(base + 20, "alter_table_partitioning", Seq(9L, 91L, 92L)),
        DdlAt(base + 25, "remove_partitioning", Seq(10L))), true),
      ("s7_repart_redo_off", base + 100, Seq(
        DdlAt(base + 20, "alter_table_partitioning", Seq(9L, 91L, 92L)),
        DdlAt(base + 25, "remove_partitioning", Seq(10L))), false))
    val out = scenarios.map { case (sc, resolved, ddls, redoOn) =>
      val r = OwnerBarrier.barrier(resolved, ddls, redoOn)
      val ts = r.tableBarriers.map(_._2)
      (sc, r.globalBarrierTs, r.minTableBarrierTs, r.redoBarrierTs,
        ts.size.toLong, if (ts.isEmpty) 0L else ts.min,
        if (ts.isEmpty) 0L else ts.max, ts.sum)
    }
    out.toDF("sc", "global_ts", "min_table_ts", "redo_ts", "n_tb",
      "min_tb", "max_tb", "sum_tb")
  }

  /**
   * q270 — the DDL puller's rename-table filter decision
   * ([[graft.operators.Filters.renameTableDecision]]/renameTablesDecision;
   * cdc/puller/ddl_puller.go:302-321, 417-470, 560-610): renaming a table
   * INTO the replicated set from outside it fails the changefeed
   * (ErrSyncRenameTableFailed — its history was never captured); wholly
   * outside skips; an old-replicated rename keeps even when the new name
   * leaves the filter. The multi form drops both-filtered entries, fails
   * the whole job on any old-filtered/new-kept entry, and skips only when
   * nothing remains. Plus handleJob's replay/upstream-ignored discards
   * (finishedTs ≤ resolved ts, SchemaVersion 0), ts-anchored in
   * count(orders).
   */
  val renameFilter = GateQuery(
    "q270_rename_filter",
    Some(
      """WITH b AS (SELECT CAST(count(*) AS BIGINT) AS base FROM orders)
        |SELECT * FROM (VALUES
        |  ('s1_keep_keep',     '', 0, 1),
        |  ('s2_keep_filtered', '', 0, 1),
        |  ('s3_filtered_keep', 'CDC:ErrSyncRenameTableFailed', 0, 0),
        |  ('s4_filtered_both', '', 1, 0),
        |  ('s5_unknown_keep',  'CDC:ErrSyncRenameTableFailed', 0, 0),
        |  ('s6_unknown_filtered', '', 1, 0),
        |  ('m1_partial',       '', 0, 1),
        |  ('m2_all_dropped',   '', 1, 0),
        |  ('m3_poisoned',      'CDC:ErrSyncRenameTableFailed', 0, 0)
        |) v(c, err, skip, kept)
        |UNION ALL
        |SELECT 't1_replay', '', CASE WHEN base <= base THEN 1 ELSE 0 END, 0 FROM b
        |UNION ALL
        |SELECT 't2_upstream_ignored', '', 1, 0 FROM b
        |UNION ALL
        |SELECT 't3_fresh', '', CASE WHEN base + 1 <= base THEN 1 ELSE 0 END, 0 FROM b"""
        .stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.operators.Filters.{RenameEntry, ddlJobStale,
      renameTableDecision, renameTablesDecision}
    val base = Tables.load(spark, dir, "orders").count()
    def single(c: String, e: RenameEntry) = renameTableDecision(e) match {
      case Left(err) => (c, err, 0, 0)
      case Right(skip) => (c, "", if (skip) 1 else 0, if (skip) 0 else 1)
    }
    def multi(c: String, es: Seq[RenameEntry]) = renameTablesDecision(es) match {
      case Left(err) => (c, err, 0, 0)
      case Right((skip, kept)) => (c, "", if (skip) 1 else 0, kept)
    }
    val keepKeep = RenameEntry(oldKnown = true, oldDiscard = false, newDiscard = false)
    val dropBoth = RenameEntry(oldKnown = true, oldDiscard = true, newDiscard = true)
    val poisoned = RenameEntry(oldKnown = true, oldDiscard = true, newDiscard = false)
    val out = Seq(
      single("s1_keep_keep", keepKeep),
      single("s2_keep_filtered", keepKeep.copy(newDiscard = true)),
      single("s3_filtered_keep", poisoned),
      single("s4_filtered_both", dropBoth),
      single("s5_unknown_keep",
        RenameEntry(oldKnown = false, oldDiscard = false, newDiscard = false)),
      single("s6_unknown_filtered",
        RenameEntry(oldKnown = false, oldDiscard = false, newDiscard = true)),
      multi("m1_partial", Seq(dropBoth, keepKeep)),
      multi("m2_all_dropped", Seq(dropBoth, dropBoth)),
      multi("m3_poisoned", Seq(keepKeep, poisoned)),
      ("t1_replay", "",
        if (ddlJobStale(base, base, 5L)) 1 else 0, 0),
      ("t2_upstream_ignored", "",
        if (ddlJobStale(base + 9, base, 0L)) 1 else 0, 0),
      ("t3_fresh", "",
        if (ddlJobStale(base + 1, base, 5L)) 1 else 0, 0))
    out.toDF("c", "err", "skip", "kept")
  }

  /**
   * q271 — the DM syncer's checkpoint SNAPSHOT/FLUSH decision
   * ([[graft.streaming.SyncerCheckpoint]];
   * dm/syncer/checkpoint.go:404-445, 956-967) over the q261 binlog
   * position algebra: only out-of-date table points enter a snapshot; the
   * global point flushes on advance, on a FILENAME change without an
   * ordering advance (the GTID relay-toggle case — the adjusted compare
   * says equal but the raw names differ), on first flush, or on a
   * pending safe-mode exit point carried ONLY by a sync flush; nothing
   * moved → no snapshot; the both-suffixed raw-name compare makes a
   * relay-subdir bump out-of-date even at a lower file seq;
   * LastFlushOutdated needs BOTH clocks stale.
   */
  val syncerCheckpoint = GateQuery(
    "q271_syncer_checkpoint",
    Some("""SELECT * FROM (VALUES
           |  ('c1_nothing',        0, 0, 0),
           |  ('c2_global_pos',     1, 1, 0),
           |  ('c3_filename_flip',  1, 1, 0),
           |  ('c4_first_flush',    1, 1, 0),
           |  ('c5_safemode_sync',  1, 1, 0),
           |  ('c6_safemode_async', 0, 0, 0),
           |  ('c7_table_only',     1, 0, 1),
           |  ('c8_suffix_raw',     1, 1, 0),
           |  ('t1_both_stale',     1, 0, 0),
           |  ('t2_recent_save',    0, 0, 0),
           |  ('t3_recent_snapshot',0, 0, 0)
           |) v(c, a, b, n)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.BinlogPos.Position
    import graft.streaming.SyncerCheckpoint
    import graft.streaming.SyncerCheckpoint.Point
    def pt(sName: String, sPos: Long, fName: String, fPos: Long) =
      Point(Position(sName, sPos), Position(fName, fPos))
    val clean = pt("mysql-bin.000003", 500L, "mysql-bin.000003", 500L)
    def snap(c: String, global: Point, zero: Boolean = false,
        sync: Boolean = false, exit: Boolean = false,
        tables: Map[(String, String), Point] = Map.empty) =
      SyncerCheckpoint.snapshot(1L, global, zero, sync, exit, tables) match {
        case None => (c, 0, 0, 0)
        case Some(s) => (c, 1, if (s.flushGlobal) 1 else 0, s.tablePoints.size)
      }
    val out = Seq(
      snap("c1_nothing", clean,
        tables = Map(("db", "t1") -> clean)),
      snap("c2_global_pos",
        pt("mysql-bin.000003", 600L, "mysql-bin.000003", 500L)),
      // relay toggle under GTID: adjusted compare says EQUAL (the suffix
      // strips to the same real position) but the raw names differ
      snap("c3_filename_flip",
        pt("mysql-bin.000001", 500L, "mysql-bin|000001.000001", 500L)),
      snap("c4_first_flush", clean, zero = true),
      snap("c5_safemode_sync", clean, sync = true, exit = true),
      snap("c6_safemode_async", clean, sync = false, exit = true),
      snap("c7_table_only", clean, tables = Map(
        ("db", "t1") -> pt("mysql-bin.000003", 700L, "mysql-bin.000003", 500L),
        ("db", "t2") -> clean)),
      // both suffixed: RAW name compare — a relay-subdir bump outranks a
      // higher file seq and position
      snap("c8_suffix_raw",
        pt("mysql-bin|000002.000001", 4L, "mysql-bin|000001.000009", 400L)),
      ("t1_both_stale",
        if (SyncerCheckpoint.lastFlushOutdated(100000L, 60000L, 60000L, 30L)) 1 else 0, 0, 0),
      ("t2_recent_save",
        if (SyncerCheckpoint.lastFlushOutdated(100000L, 80000L, 60000L, 30L)) 1 else 0, 0, 0),
      ("t3_recent_snapshot",
        if (SyncerCheckpoint.lastFlushOutdated(100000L, 60000L, 80000L, 30L)) 1 else 0, 0, 0))
    out.toDF("c", "a", "b", "n")
  }

  /**
   * q283 — the schema-snapshot table universe
   * ([[graft.core.SchemaSnapshot]]; cdc/entry/schema/snapshot.go): one
   * timeline through the structural DDL ops — schema create/duplicate
   * errors and replace-renames dropping the old name binding (:722-780),
   * table eligibility tracking with partition inheritance and
   * latest-version-wins (:884-906), truncate branding only the VANISHED
   * physical ids with rebirth clearing the brand (:811-842), the
   * exchange-partition id swap (the standalone table adopts the
   * exchanged partition's id, :977-1083), alter-partitioning's
   * id move (:1063-1082), rename into a dropped schema silently leaving
   * the universe (:443-455), the drop-all-then-create-all batch rename
   * that permits in-batch name swaps (:1084-1115), and the drop-schema
   * cascade (:722-735). Timestamps anchor to count(orders); oracle =
   * the expected op-by-op observations.
   */
  val schemaSnapshot = GateQuery(
    "q283_schema_snapshot",
    Some("""WITH b AS (
      |  SELECT CAST(count(*) AS BIGINT) * 50 AS t0 FROM orders
      |)
      |SELECT v.step, v.kind,
      |  CASE WHEN v.v = -99 THEN b.t0 + 20 ELSE CAST(v.v AS BIGINT)
      |  END AS v, v.txt
      |FROM (VALUES
      |  (1, 'ok', 1, ''),
      |  (2, 'err', 0, 'ErrSnapshotSchemaExists'),
      |  (3, 'err', 0, 'ErrSnapshotSchemaExists'),
      |  (4, 'name', 1, 'renamed'),
      |  (5, 'inel', 1, ''),
      |  (6, 'inel', 1, ''),
      |  (7, 'owner', 10, ''),
      |  (8, 'inel', 0, ''),
      |  (9, 'trunc', 1, ''),
      |  (10, 'byname', 13, ''),
      |  (11, 'trunc', 1, ''),
      |  (12, 'trunc', 0, ''),
      |  (13, 'owner', 14, ''),
      |  (14, 'byname', 102, ''),
      |  (15, 'owner', 14, ''),
      |  (16, 'err', 0, 'ErrExchangePartition'),
      |  (17, 'gone', 0, ''),
      |  (18, 'byname', 42, ''),
      |  (19, 'byname', 43, ''),
      |  (20, 'count', 0, ''),
      |  (21, 'ts', -99, '')
      |) v(step, kind, v, txt), b""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.core.SchemaSnapshot
    import SchemaSnapshot._
    val t0 = Tables.load(spark, dir, "orders").count() * 50
    val s = new Snapshot()
    val rows = scala.collection.mutable.ArrayBuffer
      .empty[(Int, String, Long, String)]
    def ok(step: Int, r: Either[String, Unit]): Unit = r match {
      case Right(_) => rows += ((step, "ok", 1L, ""))
      case Left(e) => rows += ((step, "err", 0L, e))
    }
    // schema legs
    ok(1, s.createSchema(DbInfo(1L, "sdb"), t0 + 1))
    ok(2, s.createSchema(DbInfo(1L, "other"), t0 + 2))
    ok(3, s.createSchema(DbInfo(2L, "sdb"), t0 + 3))
    s.createSchema(DbInfo(2L, "sdb2"), t0 + 3)
    s.replaceSchema(DbInfo(2L, "renamed"), t0 + 4)
    rows += ((4, "name",
      if (s.schemaIdByName("sdb2").isEmpty &&
        s.schemaIdByName("renamed").contains(2L)) 1L else 0L, "renamed"))
    // eligibility + partitions
    s.createTable(TableDefn(10L, 1L, "t", eligible = false,
      partitions = Seq(100L, 101L)), t0 + 5)
    rows += ((5, "inel", if (s.isIneligibleTableId(10L)) 1L else 0L, ""))
    rows += ((6, "inel", if (s.isIneligibleTableId(100L)) 1L else 0L, ""))
    rows += ((7, "owner",
      s.physicalTableById(101L).map(_.id).getOrElse(-1L), ""))
    s.replaceTable(TableDefn(10L, 1L, "t", eligible = true,
      partitions = Seq(100L, 101L)), t0 + 6)
    rows += ((8, "inel", if (s.isIneligibleTableId(100L)) 1L else 0L, ""))
    // truncate: plain + partitioned branding
    s.createTable(TableDefn(11L, 1L, "u"), t0 + 7)
    s.truncateTable(11L, TableDefn(13L, 1L, "u"), t0 + 8)
    rows += ((9, "trunc", if (s.isTruncateTableId(11L)) 1L else 0L, ""))
    rows += ((10, "byname",
      s.tableIdByName("sdb", "u").getOrElse(-1L), ""))
    s.truncateTable(10L,
      TableDefn(14L, 1L, "t", partitions = Seq(101L, 102L)), t0 + 9)
    rows += ((11, "trunc", if (s.isTruncateTableId(100L)) 1L else 0L, ""))
    rows += ((12, "trunc", if (s.isTruncateTableId(101L)) 1L else 0L, ""))
    rows += ((13, "owner",
      s.physicalTableById(102L).map(_.id).getOrElse(-1L), ""))
    // exchange partition: 102 out, standalone 20 in
    s.createTable(TableDefn(20L, 2L, "src"), t0 + 10)
    s.exchangePartition(
      TableDefn(14L, 1L, "t", partitions = Seq(101L, 20L)), t0 + 11)
    rows += ((14, "byname",
      s.tableIdByName("renamed", "src").getOrElse(-1L), ""))
    rows += ((15, "owner",
      s.physicalTableById(20L).map(_.id).getOrElse(-1L), ""))
    s.createTable(TableDefn(21L, 2L, "src2"), t0 + 12)
    ok(16, s.exchangePartition(
      TableDefn(14L, 1L, "t", partitions = Seq(21L, 30L)), t0 + 13))
    // rename into a dropped schema: silently gone
    s.createSchema(DbInfo(3L, "doomed"), t0 + 14)
    s.dropSchema(3L, t0 + 15)
    s.renameTable(13L, TableDefn(31L, 3L, "u2"), t0 + 16)
    rows += ((17, "gone",
      if (s.physicalTableById(31L).isEmpty &&
        s.tableIdByName("sdb", "u").isEmpty) 0L else 1L, ""))
    // batch rename swap
    s.createTable(TableDefn(40L, 1L, "a"), t0 + 17)
    s.createTable(TableDefn(41L, 1L, "b"), t0 + 18)
    s.renameTables(Seq(40L -> TableDefn(42L, 1L, "b"),
      41L -> TableDefn(43L, 1L, "a")), t0 + 19)
    rows += ((18, "byname",
      s.tableIdByName("sdb", "b").getOrElse(-1L), ""))
    rows += ((19, "byname",
      s.tableIdByName("sdb", "a").getOrElse(-1L), ""))
    // drop-schema cascade clears schema 1's tables
    s.dropSchema(1L, t0 + 20)
    rows += ((20, "count",
      s.tables.count(_.schemaId == 1L).toLong, ""))
    rows += ((21, "ts", s.currentTs, ""))
    rows.toSeq.toDF("step", "kind", "v", "txt")
  }

  /**
   * q284 — the optimistic shard-DDL coordination algebra
   * ([[graft.streaming.OptimisticLock]];
   * dm/pkg/shardddl/optimism/lock.go trySyncForOneDDL :829-929 + the
   * smaller/larger lattice proofs :976-1054): a DATA-DERIVED shard
   * count (count(orders) % 4 + 2) driven through four scenarios —
   * `add` (an additive DDL executes on every shard, the later shards
   * via the CREATE-TABLE-like post==joined case), `rename` (the first
   * n−1 shards park in skip-and-wait, the last announcement resolves
   * with exactly n−1 redirects — one per OTHER conflict table), `drop`
   * (a shrink defers until the last shard drops too), and `detect`
   * (two shards renaming to DIFFERENT names is a hard conflict).
   * Oracle = the same per-announcement decision table generated over
   * the same derived n.
   */
  val optimisticTrySync = GateQuery(
    "q284_optimistic_trysync",
    Some("""WITH b AS (
      |  SELECT CAST(count(*) % 4 + 2 AS BIGINT) AS n
      |  FROM lineitem WHERE l_quantity > 25
      |), js AS (
      |  SELECT unnest(generate_series(1, CAST(n AS BIGINT)))
      |    AS j, n FROM b
      |)
      |SELECT 'add' AS part, j AS k, CAST(1 AS BIGINT) AS changed,
      |  'none' AS stage, CAST(0 AS BIGINT) AS nredir
      |FROM js
      |UNION ALL
      |SELECT 'rename', j,
      |  CAST(CASE WHEN j = n THEN 1 ELSE 0 END AS BIGINT),
      |  CASE WHEN j = n THEN 'none' ELSE 'skip_wait_redirect' END,
      |  CAST(CASE WHEN j = n THEN n - 1 ELSE 0 END AS BIGINT)
      |FROM js
      |UNION ALL
      |SELECT 'drop', 1, 0, 'none', 0
      |UNION ALL
      |SELECT 'drop', 2, 1, 'none', 0
      |UNION ALL
      |SELECT 'detect', 1, 0, 'skip_wait_redirect', 0
      |UNION ALL
      |SELECT 'detect', 2, 0, 'detected', 0
      |UNION ALL
      |SELECT 'col', 1, 1, 'track', 0
      |UNION ALL
      |SELECT 'col', 2, 1, 'reg', 0
      |UNION ALL
      |SELECT 'col', 3, 0,
      |  'ErrShardDDLOptimismAddNotFullyDroppedColumn', 0
      |UNION ALL
      |SELECT 'col', 4, 0, 'partial', 1
      |UNION ALL
      |SELECT 'col', 5, 1, 'done', 2
      |UNION ALL
      |SELECT 'col', 6, 1, 'ok', 0""".stripMargin)) {
    (spark, dir) =>
      import spark.implicits._
      import graft.streaming.OptimisticLock
      import OptimisticLock._
      val n = (Tables.load(spark, dir, "lineitem")
        .filter(col("l_quantity") > 25).count() % 4 + 2).toInt
      val base: Tbl = Seq("id" -> "bigint", "a" -> "varchar")
      def mk(m: Int): Lock = {
        val l = new Lock("li-g")
        (0 until m).foreach(i => l.addTable((s"src$i", "db", "tb"), base))
        l
      }
      val rows = scala.collection.mutable.ArrayBuffer
        .empty[(String, Long, Long, String, Long)]
      def rec(part: String, kk: Int, o: Outcome): Unit =
        rows += ((part, kk.toLong, if (o.schemaChanged) 1L else 0L,
          o.stage, o.redirected.size.toLong))
      // add: every shard executes
      locally {
        val l = mk(n)
        val post = base :+ ("c" -> "int")
        (0 until n).foreach(i =>
          rec("add", i + 1, l.trySyncOne((s"src$i", "db", "tb"), base, post)))
      }
      // rename: wait, wait, ..., resolve with n-1 redirects
      locally {
        val l = mk(n)
        val post: Tbl = Seq("id" -> "bigint", "b" -> "varchar")
        (0 until n).foreach(i =>
          rec("rename", i + 1,
            l.trySyncOne((s"src$i", "db", "tb"), base, post)))
      }
      // drop: shrink defers until the last shard
      locally {
        val l = mk(2)
        val post: Tbl = Seq("id" -> "bigint")
        rec("drop", 1, l.trySyncOne(("src0", "db", "tb"), base, post))
        rec("drop", 2, l.trySyncOne(("src1", "db", "tb"), base, post))
      }
      // detect: disagreeing renames
      locally {
        val l = mk(2)
        rec("detect", 1, l.trySyncOne(("src0", "db", "tb"), base,
          Seq("id" -> "bigint", "b" -> "varchar")))
        rec("detect", 2, l.trySyncOne(("src1", "db", "tb"), base,
          Seq("id" -> "bigint", "d" -> "varchar")))
      }
      // col: the partially-dropped-column lifecycle (:601-724, :778-827)
      locally {
        val l = mk(2)
        val k0 = ("src0", "db", "tb"); val k1 = ("src1", "db", "tb")
        val noA: Tbl = Seq("id" -> "bigint")
        val tracked = l.checkAddDropColumn(k0, None, Some("a"), base,
          noA, Seq.empty)
        rows += (("col", 1L,
          if (tracked == Right(Some("a"))) 1L else 0L, "track", 0L))
        val reg = l.addDroppedColumns(k0, Seq("a")) ++
          l.addDroppedColumns(k1, Seq("a"))
        rows += (("col", 2L, if (reg == Seq("a", "a")) 1L else 0L,
          "reg", 0L))
        val blocked = l.checkAddDropColumn(k1, Some("a"), None, noA,
          base, Seq.empty)
        rows += (("col", 3L, 0L,
          blocked.left.getOrElse("unexpected"), 0L))
        l.deleteColumnsByOp(k0, Seq("a"), doneDropCols = Set.empty)
        rows += (("col", 4L, 0L, "partial",
          l.dropStage(k0, "a").toLong))
        val removed = l.deleteColumnsByOp(k1, Seq("a"),
          doneDropCols = Set("a"))
        rows += (("col", 5L, removed.size.toLong, "done",
          if (l.isDroppedColumn(k0, "a")) 1L else 2L))
        val readd = l.checkAddDropColumn(k0, Some("a"), None, noA, base,
          Seq.empty)
        rows += (("col", 6L, if (readd == Right(None)) 1L else 0L,
          "ok", 0L))
      }
      rows.toSeq.toDF("part", "k", "changed", "stage", "nredir")
  }

  // ---------------------------------------------------------------------
  // q287 — DDL special comments
  // ---------------------------------------------------------------------

  private val SinkTestPath = s"${Gate.ReferenceRoot}/cdc/owner/ddl_sink_test.go"

  /** Parse the reference's TestAddSpecialComment []struct literal into
    * (query, charset, result) triples: Go string concatenations joined,
    * `\n`/`\"` escapes decoded. The q287 oracle runs the SAME extraction
    * in DuckDB over the same file, so the expected strings are never
    * re-typed into this repo. */
  def specialCommentCases(path: String = SinkTestPath): Seq[(String, String, String)] = {
    val src = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path)), "UTF-8")
    val body = src.substring(src.indexOf("testCase := []struct"),
      src.indexOf("s := &ddlSinkImpl{}"))
    val caseRe =
      """(?s)\{\s*event: &model\.DDLEvent\{(.*?)\n\t\t\t\},\s*result: (.*?),\n\t\t\}""".r
    val strRe = """"((?:[^"\\]|\\.)*)"""".r
    def joinStrings(goExpr: String): String =
      strRe.findAllMatchIn(goExpr).map(_.group(1)).mkString
        .replace("\\n", "\n").replace("\\\"", "\"")
    caseRe.findAllMatchIn(body).map { m =>
      val ev = m.group(1)
      val qEnd = """,\n\t\t\t\t(Charset|Collate):""".r.findFirstMatchIn(ev)
        .map(_.start).getOrElse(ev.length)
      val qraw = ev.substring(ev.indexOf("Query:"), qEnd)
      val charset = """Charset:\s*"([^"]*)"""".r.findFirstMatchIn(ev)
        .map(_.group(1)).getOrElse("")
      (joinStrings(qraw), charset, joinStrings(m.group(2)))
    }.toSeq
  }

  /**
   * q287 — DDL SPECIAL COMMENTS ([[graft.core.SpecialComment]],
   * cdc/owner/ddl_sink.go:431-478 `addSpecialComment`): every query of
   * the reference's own TestAddSpecialComment table re-rendered by the
   * repo's renderer — version-gated `T![feature]` comment wrapping
   * (auto_rand/auto_rand_base/auto_id_cache/clustered_index/force_inc/
   * ttl/pre_split and the id-less SHARD_ROW_ID_BITS/PRE_SPLIT_REGIONS),
   * placement-rule removal, and the forced TTL_ENABLE='OFF'. The oracle
   * does NOT restate any expected string: it parses the (query, result)
   * pairs straight out of ddl_sink_test.go with DuckDB's read_text, so
   * the hash gate is "renderer == the reference's published contract".
   */
  val specialComments = GateQuery(
    "q287_ddl_special_comments",
    Some(s"""WITH raw AS (
      |  SELECT content FROM read_text('$SinkTestPath')
      |), body AS (
      |  SELECT substring(content,
      |    strpos(content, 'testCase := []struct'),
      |    strpos(content, 's := &ddlSinkImpl{}')
      |      - strpos(content, 'testCase := []struct')) AS b
      |  FROM raw
      |), cases AS (
      |  SELECT row_number() OVER () AS idx,
      |    regexp_extract(c,
      |      '(?s)\\{\\s*event: &model\\.DDLEvent\\{(.*?)\\n\\t\\t\\t\\},\\s*result: (.*?),\\n\\t\\t\\}',
      |      ['ev', 'res']) AS g
      |  FROM (SELECT unnest(regexp_extract_all(b,
      |    '(?s)\\{\\s*event: &model\\.DDLEvent\\{(.*?)\\n\\t\\t\\t\\},\\s*result: (.*?),\\n\\t\\t\\}',
      |    0)) AS c FROM body)
      |), fields AS (
      |  SELECT idx,
      |    regexp_extract(g.ev,
      |      '(?s)Query:\\s*(.*?)(,\\n\\t\\t\\t\\t(?:Charset|Collate):|,?\\s*$$)',
      |      1) AS qraw,
      |    g.res AS rraw
      |  FROM cases
      |), joined AS (
      |  SELECT idx,
      |    list_aggregate(regexp_extract_all(qraw,
      |      '"((?:[^"\\\\]|\\\\.)*)"', 1), 'string_agg', '') AS q,
      |    list_aggregate(regexp_extract_all(rraw,
      |      '"((?:[^"\\\\]|\\\\.)*)"', 1), 'string_agg', '') AS r
      |  FROM fields
      |)
      |SELECT idx,
      |  replace(replace(q, '\\n', chr(10)), '\\"', '"') AS query,
      |  replace(replace(r, '\\n', chr(10)), '\\"', '"') AS rendered
      |FROM joined ORDER BY idx""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    specialCommentCases().zipWithIndex.map { case ((q, cs, _), i) =>
      (i + 1L, q, graft.core.SpecialComment.render(q, cs))
    }.toDF("idx", "query", "rendered")
  }

  // ---------------------------------------------------------------------
  // q292 — dmctl binlog-schema operations
  // ---------------------------------------------------------------------

  /** The scripted sync unit: tracker universe + the dw/`s`_`t` router +
    * downstream/source create texts (the GET fallback pins the one-row
    * render and the name swap). */
  private val SoSchemas = Seq("db1", "db2")
  private val SoTables = Map("db1" -> Seq("t1", "t2"), "db2" -> Seq("t3"))
  private def soRoute(s: String, t: String) = ("dw", s + "_" + t)
  private val SoTargetSql = Map(
    ("dw", "db1_t1") ->
      "CREATE TABLE `db1_t1` (\n  `a` int NOT NULL,\n  `b` varchar(10)\n)",
    ("dw", "db2_t3") -> "create table dw.db2_t3 (`k` bigint, `v` int)")

  /** One schema-op step: (step, vstage, op, db, tbl, text, fromTarget,
    * sync). SET texts carry deliberately WRONG embedded names so the
    * force-names leg is observable. */
  final case class SEv(step: Int, vstage: Int, op: Int, db: String = "",
      tbl: String = "", text: String = "", fromTarget: Int = 0,
      sync: Int = 0)

  private val soScript: Seq[SEv] = {
    import graft.streaming.SchemaOps._
    Seq(
      SEv(1, 2, ListSchema),                        // validator Running: blocked
      SEv(2, 2, ListMigrateTargets),                // ...except this op
      SEv(3, 4, ListSchema),
      SEv(4, 4, ListTable, db = "db1"),
      SEv(5, 4, ListTable, db = "nosuch"),
      SEv(6, 4, GetSchema, db = "db1", tbl = "t1"), // checkpoint miss → swap
      SEv(7, 4, SetSchema, db = "db1", tbl = "t1",  // wrong names forced over
        text = "create table wrong.name (`a` int not null, `c` varchar(8))",
        sync = 1),
      SEv(8, 4, GetSchema, db = "db1", tbl = "t1"), // now from checkpoint
      SEv(9, 4, SetSchema, db = "db1", tbl = "t2",
        text = "drop table db1.t2"),                // not a CREATE TABLE
      SEv(10, 4, SetSchema, db = "db2", tbl = "t3", fromTarget = 1, sync = 1),
      SEv(11, 4, RemoveSchema, db = "db1", tbl = "t1"),
      SEv(12, 4, GetSchema, db = "db1", tbl = "t1"), // remove was a no-op
      SEv(13, 4, ListMigrateTargets, text = "db[2]", tbl = ".*3"),
      SEv(14, 4, ListMigrateTargets, text = "("),   // bad regex
      SEv(15, 4, ListMigrateTargets, text = "zzz")) // nil slice → "null"
  }

  /**
   * q292 — `dmctl binlog-schema` OPERATIONS
   * ([[graft.streaming.SchemaOps]], dm/syncer/schema.go:43-234 +
   * dm/worker/subtask.go:700-710): the validator-Running guard (only
   * list-migrate-targets passes), the list ops' Go-JSON renders, GET's
   * checkpoint-miss fallback to the downstream create text with the
   * target→source name swap and the one-row render, SET's
   * must-be-CREATE-TABLE check with the request's names FORCED over the
   * statement's and the sync-only-under-optimistic info put, REMOVE's
   * documented no-op, and the regex-filtered migrate-target listing.
   * Scripted over one optimistic-mode unit and one no-shard-mode twin
   * (whose --sync is silently ignored); the oracle derives every output
   * string from the same scripted universe.
   */
  val schemaOps = GateQuery(
    "q292_schema_ops",
    Some {
      def sqlStr(s: String) = Gate.sqlStr(s)
      val univValues = SoTables.toSeq.sortBy(x => SoSchemas.indexOf(x._1))
        .flatMap { case (sch, ts) => ts.map(sch -> _) }
        .zipWithIndex.map { case ((sch, t), i) =>
          s"(${i + 1}, ${sqlStr(sch)}, ${sqlStr(t)})"
        }.mkString(", ")
      def row(sc: String, step: Int, err: String, nck: Int, nsync: Int) =
        s"(${sqlStr(sc)}, $step, ${sqlStr(err)}, $nck, $nsync)"
      // outputs DERIVED in SQL from the same scripted universe: the
      // router is dw/`s`_`t`, list JSONs aggregate the universe, the GET
      // render transforms the scripted downstream text, and the SET
      // render transforms the scripted request text (keyword uppercase +
      // forced names — the toSql shape for these inputs)
      s"""WITH univ(ord, s, t) AS (VALUES $univValues),
         |tgt AS (
         |  SELECT ord, s, t, 'dw' AS ts, s || '_' || t AS tt FROM univ
         |),
         |mig AS (
         |  SELECT '[' || string_agg('{"source_schema":"' || s ||
         |    '","source_table":"' || t || '","target_schema":"' || ts ||
         |    '","target_table":"' || tt || '"}', ',' ORDER BY ord) || ']'
         |    AS all_t,
         |  '[' || string_agg('{"source_schema":"' || s ||
         |    '","source_table":"' || t || '","target_schema":"' || ts ||
         |    '","target_table":"' || tt || '"}', ',' ORDER BY ord)
         |    FILTER (WHERE regexp_matches(s, 'db[2]')
         |            AND regexp_matches(t, '.*3')) || ']' AS t13
         |  FROM tgt
         |),
         |lists AS (
         |  SELECT (SELECT '[' || string_agg('"' || s || '"',
         |            ',' ORDER BY mo) || ']'
         |          FROM (SELECT s, min(ord) AS mo FROM univ GROUP BY s) u)
         |      AS schemas_j,
         |    (SELECT '[' || string_agg('"' || t || '"', ',' ORDER BY ord)
         |       || ']' FROM univ WHERE s = 'db1') AS db1_j
         |),
         |get6 AS (
         |  SELECT replace(replace(replace(
         |    ${sqlStr(SoTargetSql(("dw", "db1_t1")))},
         |    'CREATE TABLE `db1_t1`', 'CREATE TABLE `t1`'),
         |    chr(10), ''), '  ', ' ') AS v
         |),
         |set7 AS (
         |  SELECT 'CREATE TABLE `db1`.`t1` (' ||
         |    replace(regexp_extract(
         |      ${sqlStr(soScript.find(_.step == 7).get.text)},
         |      '\\((.*)\\)', 1), 'not null', 'NOT NULL') || ')' AS v
         |)
         |SELECT sc, CAST(step AS BIGINT) AS step,
         |  CASE step WHEN 2 THEN (SELECT all_t FROM mig)
         |    WHEN 3 THEN (SELECT schemas_j FROM lists)
         |    WHEN 4 THEN (SELECT db1_j FROM lists)
         |    WHEN 6 THEN (SELECT v FROM get6)
         |    WHEN 8 THEN (SELECT v FROM set7)
         |    WHEN 12 THEN (SELECT v FROM set7)
         |    WHEN 13 THEN (SELECT t13 FROM mig)
         |    WHEN 15 THEN 'null'
         |    ELSE '' END AS ret,
         |  err, CAST(nck AS BIGINT) AS nck, CAST(nsync AS BIGINT) AS nsync
         |FROM (VALUES
         |  ${row("opt", 1, "ErrWorkerValidatorNotPaused", 0, 0)},
         |  ${row("opt", 2, "", 0, 0)},
         |  ${row("opt", 3, "", 0, 0)},
         |  ${row("opt", 4, "", 0, 0)},
         |  ${row("opt", 5, "ErrSchemaTrackerUnSchemaNotExist", 0, 0)},
         |  ${row("opt", 6, "", 0, 0)},
         |  ${row("opt", 7, "", 1, 1)},
         |  ${row("opt", 8, "", 1, 1)},
         |  ${row("opt", 9, "ErrSchemaTrackerInvalidCreateTableStmt", 1, 1)},
         |  ${row("opt", 10, "", 2, 2)},
         |  ${row("opt", 11, "", 2, 2)},
         |  ${row("opt", 12, "", 2, 2)},
         |  ${row("opt", 13, "", 2, 2)},
         |  ${row("opt", 14, "ErrInvalidRegex", 2, 2)},
         |  ${row("opt", 15, "", 2, 2)},
         |  ${row("noshard", 6, "", 0, 0)},
         |  ${row("noshard", 7, "", 1, 0)},
         |  ${row("noshard", 10, "", 2, 0)}
         |) t(sc, step, err, nck, nsync)""".stripMargin
    }) { (spark, dir) =>
    import spark.implicits._
    import graft.streaming.SchemaOps
    import graft.streaming.SchemaOps.Request
    val rows = Seq("opt", "noshard").flatMap { sc =>
      val so = new SchemaOps(SoSchemas, SoTables, soRoute,
        shardMode = if (sc == "opt") "optimistic" else "",
        targetSql = SoTargetSql.get)
      val steps = if (sc == "opt") soScript
        else soScript.filter(e => Seq(6, 7, 10).contains(e.step))
      steps.map { e =>
        val res = so.operate(Request(e.op, e.db, e.tbl, e.text,
          fromTarget = e.fromTarget == 1, sync = e.sync == 1), e.vstage)
        val (ret, err) = res.fold(x => ("", x), r => (r, ""))
        (sc, e.step.toLong, ret, err, so.checkpoint.size.toLong,
          so.syncedInfos.size.toLong)
      }
    }
    rows.toDF("sc", "step", "ret", "err", "nck", "nsync")
  }

  def all: Seq[GateQuery] =
    Seq(shardDdlGate, precheck, ddlText, ddlAllowList, ddlRenderFixpoint,
      debeziumDdl, maxwellDdl, simpleDdl, openDdl, watermarkMessages,
      shardDdlLocks, safeModePhase, optimisticLocks, ownerBarrier,
      renameFilter, syncerCheckpoint, schemaSnapshot, optimisticTrySync,
      specialComments, schemaOps)
}
