package graft.queries

import org.apache.spark.sql.functions._
import graft.core.{ColumnSpec, MySqlTypes, WideCdc}
import graft.operators.{Codecs, GenericCodecs}

/**
 * Gate queries for the schema-GENERIC codec layer: a 20-column mixed-type
 * table ([[WideCdc]]) flows through Canal-JSON, Open Protocol, CSV,
 * Maxwell, Debezium (payload + Connect schema block) and the Simple
 * protocol with NO codec code knowing the schema — encoders and the DuckDB
 * oracles are BOTH generated from the same `Seq[ColumnSpec]`, so the two
 * engines stay in lockstep by construction.
 */
object GenericCodecQueries {

  private val cte = WideCdc.sqlCte
  private val specs = WideCdc.specs
  private val Sample = "seq % 29 = 0"

  /** SQL string literal with single quotes escaped. */
  private def lit1(s: String): String = "'" + s.replace("'", "''") + "'"

  private def aE(s: ColumnSpec) = "a_" + s.name
  private def bE(s: ColumnSpec) = "b_" + s.name
  private def effE(s: ColumnSpec) =
    s"CASE WHEN op = 'D' THEN ${bE(s)} ELSE ${aE(s)} END"

  // ---- q40b: Canal-JSON -----------------------------------------------

  private def canalImgSql(ss: Seq[ColumnSpec], v: ColumnSpec => String): String =
    "[struct_pack(" + ss.map(s =>
      s"${s.name} := ${MySqlTypes.Sql.canalValue(s, v(s))}").mkString(", ") + ")]"

  /** Full canal-JSON message expression over image columns `ss` (the
    * handle subset under onlyHandleKey — maps restrict too, encoder :172);
    * `data`/`old` select per op like the Spark encoder. */
  private def canalMsgSql(ss: Seq[ColumnSpec]): String =
    s"""to_json(struct_pack(
       |  id := CAST(0 AS BIGINT),
       |  "database" := schema_name,
       |  "table" := table_name,
       |  pkNames := [${specs.filter(_.isHandle).map(s => lit1(s.name)).mkString(", ")}],
       |  isDdl := false,
       |  type := CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
       |  es := commit_ts,
       |  ts := commit_ts,
       |  sql := '',
       |  sqlType := struct_pack(${ss.map(s =>
            s"${s.name} := ${MySqlTypes.Sql.javaSqlType(s, effE(s))}").mkString(", ")}),
       |  mysqlType := struct_pack(${ss.map(s =>
            s"${s.name} := ${lit1(s.mysqlType)}").mkString(", ")}),
       |  data := CASE WHEN op = 'D' THEN ${canalImgSql(ss, bE)} ELSE ${canalImgSql(ss, aE)} END,
       |  old := CASE WHEN op = 'U' THEN ${canalImgSql(ss, bE)} END
       |))""".stripMargin

  val canalGeneric = GateQuery(
    "q40b_canal_generic",
    Some(cte +
      s"""SELECT seq, ${canalMsgSql(specs)} AS msg
         |FROM wide WHERE $Sample""".stripMargin)) { (spark, dir) =>
    WideCdc.derive(spark, dir).filter(expr(Sample))
      .select(col("seq"), GenericCodecs.canalJson(specs).as("msg"))
  }

  // ---- q43b: Open Protocol --------------------------------------------

  private def openImgSql(v: ColumnSpec => String): String =
    "struct_pack(" + specs.map { s =>
      val h = if (s.isHandle) "h := true, " else ""
      s"${s.name} := struct_pack(t := ${MySqlTypes.mysqlTypeCode(s)}, ${h}f := " +
        s"CAST(${MySqlTypes.columnFlags(s)} AS BIGINT), v := ${MySqlTypes.Sql.nativeValue(s, v(s))})"
    }.mkString(", ") + ")"

  val openGeneric = GateQuery(
    "q43b_open_generic",
    Some(cte +
      s"""SELECT seq,
         |  to_json(struct_pack(ts := commit_ts, scm := schema_name,
         |                      tbl := table_name, t := 1)) AS msg_key,
         |  to_json(struct_pack(
         |    u := CASE WHEN op <> 'D' THEN ${openImgSql(aE)} END,
         |    d := CASE WHEN op = 'D' THEN ${openImgSql(bE)} END
         |  )) AS msg_value
         |FROM wide WHERE $Sample""".stripMargin)) { (spark, dir) =>
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    df.select(col("seq"),
      Codecs.openProtocolKey(df).as("msg_key"),
      GenericCodecs.openProtocolValue(specs).as("msg_value"))
  }

  // ---- q42b: Maxwell --------------------------------------------------

  private def nativeImgSqlFor(ss: Seq[ColumnSpec],
                              v: ColumnSpec => String): String =
    "struct_pack(" + ss.map(s =>
      s"${s.name} := ${MySqlTypes.Sql.nativeValue(s, v(s))}").mkString(", ") + ")"

  private def nativeImgSql(v: ColumnSpec => String): String =
    nativeImgSqlFor(specs, v)

  val maxwellGeneric = GateQuery(
    "q42b_maxwell_generic",
    Some(cte +
      s"""SELECT seq, to_json(struct_pack(
         |  "database" := schema_name,
         |  "table" := table_name,
         |  type := CASE op WHEN 'I' THEN 'insert' WHEN 'U' THEN 'update' ELSE 'delete' END,
         |  ts := commit_ts,
         |  xid := start_ts,
         |  data := CASE WHEN op = 'D' THEN ${nativeImgSql(bE)} ELSE ${nativeImgSql(aE)} END,
         |  old := CASE WHEN op = 'U' THEN ${nativeImgSql(bE)} END
         |)) AS msg
         |FROM wide WHERE $Sample""".stripMargin)) { (spark, dir) =>
    WideCdc.derive(spark, dir).filter(expr(Sample))
      .select(col("seq"), GenericCodecs.maxwell(specs).as("msg"))
  }

  // ---- q44b: CSV ------------------------------------------------------

  private val blobBases = Set("binary", "varbinary", "tinyblob", "blob",
    "mediumblob", "longblob")
  private val quotedBases = Set("char", "varchar", "tinytext", "text",
    "mediumtext", "longtext", "json", "date", "datetime", "timestamp", "time")

  private def csvCellSql(s: ColumnSpec, e: String): String =
    if (s.isBool)
      s"CASE WHEN $e IS NULL THEN '\\N' WHEN $e THEN '1' ELSE '0' END"
    else if (blobBases(s.base))
      s"CASE WHEN $e IS NULL THEN '\\N' ELSE to_base64($e) END"
    else if (quotedBases(s.base))
      s"""CASE WHEN $e IS NULL THEN '\\N' ELSE '"' || replace(CAST($e AS VARCHAR), '"', '""') || '"' END"""
    else if (s.base == "vector")
      s"""CASE WHEN $e IS NULL THEN '\\N' ELSE '"' || replace(${MySqlTypes.Sql.canalValue(s, e)}, '"', '""') || '"' END"""
    else if (s.base == "decimal" || s.base == "numeric")
      s"coalesce(${MySqlTypes.Sql.canalValue(s, e)}, '\\N')"
    else s"coalesce(CAST($e AS VARCHAR), '\\N')"

  val csvGeneric = GateQuery(
    "q44b_csv_generic",
    Some(cte +
      s"""SELECT seq, concat_ws(',',
         |  '"' || op || '"',
         |  '"' || schema_name || '"',
         |  '"' || table_name || '"',
         |  CAST(commit_ts AS VARCHAR),
         |  ${specs.map(s => csvCellSql(s, effE(s))).mkString(",\n  ")}) AS line
         |FROM wide WHERE $Sample""".stripMargin)) { (spark, dir) =>
    WideCdc.derive(spark, dir).filter(expr(Sample))
      .select(col("seq"), GenericCodecs.csvLine(specs).as("line"))
  }

  // ---- q41b: Debezium with Connect schema block -----------------------

  private def dbzImgSql(v: ColumnSpec => String): String =
    "struct_pack(" + specs.map(s =>
      s"${s.name} := ${MySqlTypes.Sql.debeziumValue(s, v(s))}").mkString(", ") + ")"

  val debeziumSchemaGate = GateQuery(
    "q41b_debezium_schema", {
      val fieldsJson = specs.map(MySqlTypes.connectField).mkString("[", ",", "]")
      val sourceSchema =
        """{"type":"struct","optional":false,"name":"io.debezium.connector.mysql.Source","field":"source"}"""
      def imageSchema(field: String): String =
        lit1(s"""{"type":"struct","optional":true,"fields":$fieldsJson,"name":"""") +
          s""" || topic || ${lit1(s""".Value","field":"$field"}""")}"""
      Some(cte +
        s"""SELECT seq, '{"payload":' || to_json(struct_pack(
           |  source := struct_pack(version := '2.4.0.Final', connector := 'graft',
           |    name := 'graft', ts_ms := commit_ts, snapshot := 'false',
           |    db := schema_name, "table" := table_name,
           |    server_id := CAST(0 AS BIGINT), gtid := CAST(NULL AS VARCHAR),
           |    file := '', pos := CAST(0 AS BIGINT), "row" := CAST(0 AS BIGINT),
           |    thread := CAST(0 AS BIGINT), query := CAST(NULL AS VARCHAR),
           |    commit_ts := commit_ts, cluster_id := 'graft'),
           |  ts_ms := commit_ts,
           |  transaction := CAST(NULL AS VARCHAR),
           |  op := CASE op WHEN 'I' THEN 'c' WHEN 'U' THEN 'u' ELSE 'd' END,
           |  before := CASE WHEN op <> 'I' THEN ${dbzImgSql(bE)} END,
           |  after := CASE WHEN op <> 'D' THEN ${dbzImgSql(aE)} END
           |)) || ',"schema":'
           |  || ${lit1("""{"type":"struct","optional":false,"name":"""")} || topic
           |  || ${lit1(s""".Envelope","fields":[$sourceSchema,{"type":"int64","optional":true,"field":"ts_ms"},{"type":"string","optional":true,"field":"transaction"},{"type":"string","optional":false,"field":"op"},""")}
           |  || ${imageSchema("before")} || ',' || ${imageSchema("after")}
           |  || ']}' || '}' AS msg
           |FROM (SELECT *, 'graft.' || schema_name || '.' || table_name AS topic
           |      FROM wide) WHERE $Sample""".stripMargin)
    }) { (spark, dir) =>
    WideCdc.derive(spark, dir).filter(expr(Sample))
      .select(col("seq"), GenericCodecs.debezium(specs).as("msg"))
  }

  // ---- q48b: Simple protocol ------------------------------------------

  val simpleGeneric = GateQuery(
    "q48b_simple_generic",
    Some(cte +
      s"""SELECT seq, msg FROM (
         |  SELECT DISTINCT -1 - dense_rank() OVER (ORDER BY schema_name, table_name) AS seq,
         |    to_json(struct_pack(
         |      type := 'BOOTSTRAP', "database" := schema_name, "table" := table_name,
         |      schemaVersion := 1,
         |      columns := [${specs.map(s =>
              s"struct_pack(name := ${lit1(s.name)}, dataType := ${lit1(MySqlTypes.simpleDataType(s))}, nullable := ${s.nullable})")
              .mkString(", ")}]
         |    )) AS msg
         |  FROM wide
         |  UNION ALL
         |  SELECT seq, to_json(struct_pack(
         |    type := CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
         |    commitTs := commit_ts, "database" := schema_name, "table" := table_name,
         |    schemaVersion := 1,
         |    data := CASE WHEN op <> 'D' THEN ${nativeImgSql(aE)} END,
         |    old := CASE WHEN op <> 'I' THEN ${nativeImgSql(bE)} END
         |  )) AS msg FROM wide WHERE $Sample
         |)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    val df = WideCdc.derive(spark, dir)
    val pairs = df.select("schema_name", "table_name").distinct().collect()
      .map(r => (r.getString(0), r.getString(1))).sorted
    val boot = pairs.zipWithIndex
      .map { case ((s, t), i) => (-1L - (i + 1), s, t) }.toSeq
      .toDF("seq", "schema_name", "table_name")
    val bootMsgs = boot.select(col("seq"),
      GenericCodecs.simpleBootstrap(specs, 1).as("msg"))
    bootMsgs.unionByName(
      df.filter(expr(Sample))
        .select(col("seq"), GenericCodecs.simpleRow(specs, 1).as("msg")))
  }

  /**
   * q112b — wire integrity over the FULL 19-column mixed-type schema:
   * the checksum digests the canal-rendered (all-string) values, so the
   * consumer recomputes it from the decoded message with no type
   * metadata; a deterministic subset corrupts in flight (digit injected
   * into the id value) and must be flagged exactly. Generic twin of the
   * fixed-envelope q112.
   */
  val integrityGeneric = GateQuery(
    "q112b_generic_integrity",
    Some(cte +
      s"""SELECT op, count(*) AS n_msgs,
         |  CAST(sum(CASE WHEN (${effE(specs.head)}) % 97 = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt,
         |  CAST(sum(CASE WHEN (${effE(specs.head)}) % 97 = 0 THEN 0 ELSE 1 END) AS BIGINT) AS n_verified
         |FROM wide WHERE $Sample GROUP BY 1""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.types.{LongType, StringType, StructType}
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    def eff(s: ColumnSpec) =
      when(col("op") === "D", col("b_" + s.name)).otherwise(col("a_" + s.name))
    val msg = to_json(struct(
      struct(specs.map(s => MySqlTypes.canalValue(s, eff(s)).as(s.name)): _*)
        .as("data"),
      GenericCodecs.rowChecksum(specs, eff).as("checksum")))
    val corruptible = eff(specs.head) % 97 === 0 // id: handle, never null
    val wire = df.select(col("op"),
      when(corruptible, regexp_replace(msg, "\"id\":\"", "\"id\":\"9"))
        .otherwise(msg).as("msg"))
    val schema = new StructType()
      .add("data", specs.foldLeft(new StructType())((t, s) =>
        t.add(s.name, StringType)))
      .add("checksum", LongType)
    wire.withColumn("m", from_json(col("msg"), schema))
      .withColumn("ok", GenericCodecs.verifyIntegrity(
        col("m.data"), col("m.checksum"), specs))
      .groupBy("op")
      .agg(count(lit(1)).as("n_msgs"),
        sum(when(!col("ok"), 1L).otherwise(0L)).as("n_corrupt"),
        sum(when(col("ok"), 1L).otherwise(0L)).as("n_verified"))
  }

  // ---- q221: vector column encode∘decode = id per format --------------

  /**
   * q221 — the TiDB VECTOR column (`vec vector(4)`, mysql.TypeTiDBVectorFloat32)
   * round-trips every generic format: encode the wide row, DECODE the
   * message (from_json / cell extraction), parse the `[e1,e2,...]` string
   * back to `array<float>`, and require exact equality with the source
   * image — shortest-round-trip rendering (mounter.go:832-834 →
   * canal_entry.go:112 / internal/column.go:65 / debezium/codec.go:831 /
   * csv_message.go:366) makes string→float32 lossless by construction.
   * Output pins per-format×op message and match counts; a lossy renderer
   * (e.g. cast to double, exponent form) would break n_match = n.
   */
  val vectorRoundtrip = GateQuery(
    "q221_vector_roundtrip",
    Some(cte +
      s"""SELECT f.format, w.op, count(*) AS n, count(*) AS n_match
         |FROM wide w CROSS JOIN (
         |  SELECT unnest(['canal','csv','debezium','maxwell','open','simple']) AS format) f
         |WHERE $Sample GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.types._
    import org.apache.spark.sql.{Column, DataFrame}
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    val a = col("a_vec"); val b = col("b_vec")
    val effV = when(col("op") === "D", b).otherwise(a)
    // `[e1,e2,...]` → array<float>; exact because the rendering is the
    // shortest decimal that round-trips float32.
    def parseVec(s: Column): Column = when(s.isNotNull,
      transform(split(regexp_replace(s, "^\\[|\\]$", ""), ","),
        x => x.cast("float")))
    def strField(names: String*): StructType =
      names.foldLeft(new StructType())((t, n) => t.add(n, StringType))
    def ok(parsed: Column, src: Column): Column = parsed <=> src
    // one (format, matched) pair per encoded+decoded message
    def gate(format: String, checks: Column*): DataFrame =
      df.select(lit(format).as("format"), col("op"),
        checks.reduce(_ && _).as("m"))
    // r20: STAGE the parse per format (the q222 fix) — `m` as a Scala val
    // copied the whole from_json(encoder) tree into both checks, encoding
    // and parsing every message twice; the staged alias parses once.
    def gateM(format: String, parse: Column)(
        checks: Column => Seq[Column]): DataFrame =
      df.withColumn("_m", parse)
        .select(lit(format).as("format"), col("op"),
          checks(col("_m")).reduce(_ && _).as("m"))
    val canal = {
      val sch = new StructType()
        .add("data", ArrayType(strField("vec")))
        .add("old", ArrayType(strField("vec")))
      gateM("canal", from_json(GenericCodecs.canalJson(specs), sch)) { m => Seq(
        ok(parseVec(element_at(m.getField("data"), 1).getField("vec")), effV),
        ok(parseVec(element_at(m.getField("old"), 1).getField("vec")),
          when(col("op") === "U", b)))
      }
    }
    val open = {
      val vw = new StructType().add("vec",
        new StructType().add("v", StringType))
      val sch = new StructType().add("u", vw).add("d", vw)
      gateM("open", from_json(GenericCodecs.openProtocolValue(specs), sch)) { m => Seq(
        ok(parseVec(m.getField("u").getField("vec").getField("v")),
          when(col("op") =!= "D", a)),
        ok(parseVec(m.getField("d").getField("vec").getField("v")),
          when(col("op") === "D", b)))
      }
    }
    val maxwell = {
      val sch = new StructType().add("data", strField("vec"))
        .add("old", strField("vec"))
      gateM("maxwell", from_json(GenericCodecs.maxwell(specs), sch)) { m => Seq(
        ok(parseVec(m.getField("data").getField("vec")), effV),
        ok(parseVec(m.getField("old").getField("vec")),
          when(col("op") === "U", b)))
      }
    }
    val dbz = {
      val sch = new StructType().add("payload", new StructType()
        .add("before", strField("vec")).add("after", strField("vec")))
      gateM("debezium", from_json(GenericCodecs.debezium(specs), sch)) { m0 =>
        val m = m0.getField("payload")
        Seq(
          ok(parseVec(m.getField("before").getField("vec")),
            when(col("op") =!= "I", b)),
          ok(parseVec(m.getField("after").getField("vec")),
            when(col("op") =!= "D", a)))
      }
    }
    val csv = {
      // the vector is the line's only bracketed cell — extract its quoted
      // form; no match (NULL plant rendered as \N) → NULL
      val cell = regexp_extract(GenericCodecs.csvLine(specs),
        "\"(\\[[^\\]]*\\])\"", 1)
      gate("csv", ok(parseVec(nullif(cell, lit(""))), effV))
    }
    val simple = {
      val sch = new StructType().add("data", strField("vec"))
        .add("old", strField("vec"))
      gateM("simple", from_json(GenericCodecs.simpleRow(specs, 1), sch)) { m => Seq(
        ok(parseVec(m.getField("data").getField("vec")),
          when(col("op") =!= "D", a)),
        ok(parseVec(m.getField("old").getField("vec")),
          when(col("op") =!= "I", b)))
      }
    }
    Seq(canal, open, maxwell, dbz, csv, simple).reduce(_.unionByName(_))
      .groupBy("format", "op")
      .agg(count(lit(1)).as("n"),
        sum(when(col("m"), 1L).otherwise(0L)).as("n_match"))
  }

  // ---- q222/q223: only-output-updated-columns -------------------------

  // Sparse-update twin of `wide`: UPDATE rows keep the before image EQUAL
  // to the after image except on a rolling ~25% column subset — the shape
  // `only-output-updated-columns` exists for. Column i of row seq is a
  // candidate change iff (seq + 3i) % 4 = 0; actual emission is decided by
  // null-safe VALUE inequality (IsColumnValueEqual, encoder.go:76-91), so
  // coincidentally-equal candidates (e.g. `code`, both NULL plants) still
  // prune — the oracle recomputes that rule from the images, not the flag.
  private def sparseChanged(i: Int) = s"(seq + ${3 * i}) % 4 = 0"

  private def sparseWide(spark: org.apache.spark.sql.SparkSession,
                         dir: String): org.apache.spark.sql.DataFrame = {
    val df0 = WideCdc.derive(spark, dir).filter(expr(Sample))
    val head = Seq("seq", "op", "commit_ts", "start_ts", "schema_name",
      "table_name").map(col)
    val imgs = specs.zipWithIndex.flatMap { case (s, i) =>
      Seq(col("a_" + s.name),
        when(col("op") === "U" && !expr(sparseChanged(i)), col("a_" + s.name))
          .otherwise(col("b_" + s.name)).as("b_" + s.name))
    }
    df0.select(head ++ imgs: _*)
  }

  /** DuckDB twin of [[sparseWide]] as a CTE named `sparse`. */
  private val sparseCte: String = cte + ", sparse AS (\n  SELECT " +
    "seq, op, commit_ts, start_ts, schema_name, table_name,\n  " +
    specs.zipWithIndex.flatMap { case (s, i) =>
      Seq(aE(s),
        s"CASE WHEN op = 'U' AND NOT (${sparseChanged(i)}) THEN ${aE(s)} " +
          s"ELSE ${bE(s)} END AS ${bE(s)}")
    }.mkString(",\n  ") + s"\n  FROM wide WHERE $Sample\n)"

  /** Sorted comma-joined names of columns whose modified before image
    * null-safe-differs from the after image (the emitted OLD set). */
  private val changedColsSql: String =
    "array_to_string(list_sort(list_filter([" +
      specs.map(s =>
        s"CASE WHEN NOT (${aE(s)} IS NOT DISTINCT FROM ${bE(s)}) THEN '${s.name}' END")
        .mkString(", ") + "], x -> x IS NOT NULL)), ',')"

  /**
   * q222 — canal-JSON `only-output-updated-columns` +
   * `delete-only-output-handle-key-columns`
   * (canal_json_row_event_encoder.go:231-247,92-94): an UPDATE touching k
   * of 20 columns emits EXACTLY those k in `old` (pinned by name list), a
   * DELETE emits only the handle key in `data`, and overlaying the decoded
   * `old` onto `data` recovers the full pre-image (the lossy contract —
   * verified Spark-side against the true before image, pinned as a count).
   */
  val canalUpdatedColumns = GateQuery(
    "q222_canal_updated_columns",
    Some(sparseCte +
      s"""SELECT seq, op,
         |  CAST(CASE WHEN op = 'D' THEN ${specs.count(_.isHandle)}
         |       ELSE ${specs.size} END AS BIGINT) AS n_data,
         |  CASE WHEN op = 'U' THEN $changedColsSql END AS old_cols,
         |  true AS recovered
         |FROM sparse""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val df = sparseWide(spark, dir)
    val opts = GenericCodecs.CodecOpts.validate(
      GenericCodecs.CodecOpts(onlyOutputUpdatedColumns = true,
        deleteOnlyHandleKeyColumns = true), "canal-json")
    val msg = GenericCodecs.canalJsonWith(specs, opts)
    val sch = new StructType()
      .add("data", ArrayType(MapType(StringType, StringType)))
      .add("old", ArrayType(MapType(StringType, StringType)))
    // r20: STAGE the parse — encode once, parse once, then consume. The
    // single-select form inlined the from_json(to_json(…)) tree into every
    // consumer expression (62 from_json / 1488 message-encoder copies in
    // the physical plan; see plans/r20/q222_*_before.txt), re-encoding and
    // re-parsing the message dozens of times per row. Materializing the
    // two decoded maps as their own projection leaves ONE encoder and ONE
    // parser per row — CollapseProject keeps the stages apart because the
    // aliases are non-cheap and multiply referenced.
    val parsed = df.withColumn("_m", from_json(msg, sch))
    val dataM = element_at(col("_m").getField("data"), 1)
    val oldM = element_at(col("_m").getField("old"), 1)
    // lossy-contract recovery: pre[col] = old[col] if emitted else data[col]
    val recovered = specs.map { s =>
      val rec = when(map_contains_key(oldM, s.name), element_at(oldM, s.name))
        .otherwise(element_at(dataM, s.name))
      rec <=> MySqlTypes.canalValue(s, col("b_" + s.name))
    }.reduce(_ && _)
    parsed.select(col("seq"), col("op"),
      size(map_keys(dataM)).cast("long").as("n_data"),
      when(col("op") === "U",
        array_join(array_sort(map_keys(oldM)), ",")).as("old_cols"),
      when(col("op") === "U", recovered).otherwise(true).as("recovered"))
  }

  /**
   * q223 — open protocol `output-old-value` + `only-output-updated-columns`
   * + `delete-only-output-handle-key-columns`
   * (open_protocol_message.go:130-167, dropNotUpdatedColumns:83-99): the
   * UPDATE `u` block stays FULL, the `p` pre-image block carries exactly
   * the changed columns, the DELETE `d` block only the handle key.
   */
  val openUpdatedColumns = GateQuery(
    "q223_open_updated_columns",
    Some(sparseCte +
      s"""SELECT seq, op,
         |  CAST(CASE WHEN op <> 'D' THEN ${specs.size} END AS BIGINT) AS n_u,
         |  CASE WHEN op = 'U' THEN $changedColsSql END AS p_cols,
         |  CAST(CASE WHEN op = 'D' THEN ${specs.count(_.isHandle)} END AS BIGINT) AS n_d
         |FROM sparse""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.types._
    val df = sparseWide(spark, dir)
    val opts = GenericCodecs.CodecOpts.validate(
      GenericCodecs.CodecOpts(onlyOutputUpdatedColumns = true,
        deleteOnlyHandleKeyColumns = true, openOutputOldValue = true), "open")
    val msg = GenericCodecs.openProtocolValueWith(specs, opts)
    val colT = new StructType().add("t", LongType)
    val sch = new StructType()
      .add("u", MapType(StringType, colT))
      .add("p", MapType(StringType, colT))
      .add("d", MapType(StringType, colT))
    // r20: staged parse (the q222 fix) — one encode+parse per row instead
    // of one per consumer expression
    df.withColumn("_m", from_json(msg, sch))
      .select(col("seq"), col("op"),
        size(map_keys(col("_m").getField("u"))).cast("long").as("n_u"),
        when(col("op") === "U",
          array_join(array_sort(map_keys(col("_m").getField("p"))), ","))
          .as("p_cols"),
        size(map_keys(col("_m").getField("d"))).cast("long").as("n_d"))
  }

  // ---- q224: claim-check, wrapped vs raw-value ------------------------

  /** Claim-check size threshold: splits the wide canal+ext messages (the
    * fatter UPDATE double-image messages go to storage, single-image
    * I/D mostly stay inline — both classes non-empty at every SF). */
  private val CcMax = 1400

  private def extSql(msgE: String, extE: String): String =
    s"""(regexp_replace($msgE, '\\}$$', '') || ',"_tidb":' || $extE || '}')"""

  /**
   * q224 — canal-JSON claim-check in BOTH side-file modes
   * (claim_check.go:85-104, canal_json_decoder.go:177-204): oversized
   * messages are replaced in-stream by the handle-key-only message whose
   * `_tidb` block carries `claimCheckLocation`; the side payload is the
   * wrapped `{"key":null,"value":"<b64>"}` ClaimCheckMessage by default or
   * the message bytes VERBATIM under `claim-check-raw-value`. The gate
   * runs both modes, pins per-mode×class counts, in-stream/payload byte
   * lengths and object counts against the oracle, and verifies Spark-side
   * that the CONSUMER recovery (raw: read file as message; wrapped:
   * unwrap + base64-decode) reproduces the full message byte-identically.
   */
  val claimCheckRaw = GateQuery(
    "q224_claim_check_raw",
    Some(cte +
      s"""SELECT mode, is_claim, count(*) AS cnt,
         |  CAST(sum(length(msg)) AS BIGINT) AS sum_msg_len,
         |  CAST(coalesce(sum(length(payload)), 0) AS BIGINT) AS sum_payload_len,
         |  count(DISTINCT loc) AS n_objects,
         |  CAST(sum(is_claim) AS BIGINT) AS n_roundtrip
         |FROM (
         |  SELECT m.mode,
         |    CASE WHEN big THEN 1 ELSE 0 END AS is_claim,
         |    CASE WHEN big THEN instream ELSE full_msg END AS msg,
         |    CASE WHEN big THEN
         |      CASE WHEN m.mode = 'raw' THEN full_msg
         |           ELSE '{"key":null,"value":"' || to_base64(encode(full_msg)) || '"}' END
         |    END AS payload,
         |    CASE WHEN big THEN loc END AS loc
         |  FROM (
         |    SELECT *,
         |      ${extSql("instream0",
              "to_json(struct_pack(commitTs := commit_ts, claimCheckLocation := loc))")} AS instream
         |    FROM (
         |      SELECT *, length(full_msg) > $CcMax AS big,
         |        'cc/' || md5(full_msg) || '.json' AS loc,
         |        ${canalMsgSql(specs.filter(_.isHandle)).replace("\n", "\n      ")} AS instream0
         |      FROM (
         |        SELECT *, ${extSql(canalMsgSql(specs).replace("\n", "\n        "),
                  "to_json(struct_pack(commitTs := commit_ts))")} AS full_msg
         |        FROM wide WHERE $Sample)
         |    )
         |  ) CROSS JOIN (SELECT unnest(['raw', 'wrapped']) AS mode) m
         |) GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{StringType, StructType}
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    def run(mode: String): DataFrame = {
      val handle = GenericCodecs.LargeMessageHandle("claim-check",
        claimCheckStorageUri = "cc", claimCheckRawValue = mode == "raw")
      // r20: stage the full message and the claim-check triple as named
      // columns — the Scala-val form inlined the whole canal+ext encoder
      // into the length gate, the md5 location, the payload, the
      // in-stream fallback AND the rt compare (4-5 encodes per row)
      val staged = df
        .withColumn("_full", GenericCodecs.canalJsonTidb(specs))
      val (msg, loc, pay) =
        GenericCodecs.canalJsonClaimCheck(specs, CcMax, handle, col("_full"))
      val cols = staged
        .withColumn("_msg", msg).withColumn("_loc", loc)
        .withColumn("_pay", pay)
      // consumer recovery (canal_json_decoder.go:183-189): raw mode reads
      // the side file AS the message; wrapped unmarshals and b64-decodes
      val recovered =
        if (mode == "raw") col("_pay")
        else decode(unbase64(from_json(col("_pay"),
          new StructType().add("key", StringType).add("value", StringType))
          .getField("value")), "UTF-8")
      cols.select(lit(mode).as("mode"),
        when(col("_loc").isNotNull, 1).otherwise(0).as("is_claim"),
        col("_msg").as("msg"), col("_pay").as("payload"), col("_loc").as("loc"),
        (recovered <=> col("_full")).as("rt"))
    }
    run("raw").unionByName(run("wrapped"))
      .groupBy("mode", "is_claim")
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("msg"))).as("sum_msg_len"),
        coalesce(sum(length(col("payload"))), lit(0L)).as("sum_payload_len"),
        countDistinct(col("loc")).as("n_objects"),
        sum(when(col("rt") && col("is_claim") === 1, 1L).otherwise(0L))
          .as("n_roundtrip"))
  }

  // ---- q226: debezium output-old-value / disable-schema ---------------

  /**
   * q226 — the Debezium sink options (codec.go:1025-1048, sink.go:259):
   * with `output-old-value=false` an UPDATE omits `before` entirely; with
   * `debezium-disable-schema` the Connect schema half disappears. The gate
   * runs both old-value settings under disable-schema and pins the
   * per-op field-presence matrix (reference writer: INSERT never has
   * `before`, DELETE writes an explicit `"after":null`).
   */
  val debeziumOptions = GateQuery(
    "q226_debezium_options",
    Some(cte +
      s"""SELECT cfg, op, count(*) AS n,
         |  CAST(0 AS BIGINT) AS n_schema,
         |  CAST(sum(CASE WHEN op = 'D' OR (cfg = 'old' AND op = 'U')
         |           THEN 1 ELSE 0 END) AS BIGINT) AS n_before,
         |  count(*) AS n_after,
         |  CAST(sum(CASE WHEN op = 'D' THEN 1 ELSE 0 END) AS BIGINT) AS n_after_null
         |FROM wide CROSS JOIN (SELECT unnest(['old', 'noold']) AS cfg)
         |WHERE $Sample GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.DataFrame
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    def leg(cfg: String): DataFrame = {
      val msg = GenericCodecs.debeziumWith(specs,
        outputOldValue = cfg == "old", disableSchema = true)
      df.select(lit(cfg).as("cfg"), col("op"),
        (instr(msg, "\"schema\":") > 0).as("hs"),
        (instr(msg, "\"before\":") > 0).as("hb"),
        (instr(msg, "\"after\":") > 0).as("ha"),
        (instr(msg, "\"after\":null") > 0).as("han"))
    }
    leg("old").unionByName(leg("noold"))
      .groupBy("cfg", "op")
      .agg(count(lit(1)).as("n"),
        sum(when(col("hs"), 1L).otherwise(0L)).as("n_schema"),
        sum(when(col("hb"), 1L).otherwise(0L)).as("n_before"),
        sum(when(col("ha"), 1L).otherwise(0L)).as("n_after"),
        sum(when(col("han"), 1L).otherwise(0L)).as("n_after_null"))
  }

  // ---- q228: canal default (short) type names -------------------------

  /**
   * q228 — the canal `mysqlType` map in the reference's DEFAULT rendering
   * (utils/mysql_types.go GetMySQLType:25-33 with fullType=false, i.e.
   * content-compatible OFF): bare base names + unsigned suffix — "varchar"
   * not "varchar(32)", "int unsigned", "enum" without members. The gate
   * decodes the map from the encoded message and pins every (column,
   * short-name) pair; the oracle derives the expected names from the SAME
   * spec list.
   */
  val canalShortTypes = GateQuery(
    "q228_canal_short_types",
    Some(cte +
      s"""SELECT col, mysql_type, count(*) AS n FROM (
         |  SELECT unnest(${"[" + specs.map(s =>
              s"struct_pack(col := ${lit1(s.name)}, mysql_type := " +
                s"${lit1(MySqlTypes.mysqlTypeName(s, fullType = false))})")
              .mkString(", ") + "]"}, recursive := true)
         |  FROM wide WHERE $Sample
         |) GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.types.{MapType, StringType, StructType}
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    val msg = GenericCodecs.canalJsonWith(specs,
      GenericCodecs.CodecOpts(fullTypeNames = false))
    val sch = new StructType().add("mysqlType", MapType(StringType, StringType))
    df.select(explode(from_json(msg, sch).getField("mysqlType"))
        .as(Seq("col", "mysql_type")))
      .groupBy("col", "mysql_type").agg(count(lit(1)).as("n"))
  }

  // ---- q229: avro handling modes --------------------------------------

  /**
   * q229 — the Avro value-handling modes (common/config.go:55-56, avro.go
   * columnToAvroSchema:645-780 + :833-840): schema generation over the
   * full 20-column spec list under the default (precise decimal → bytes
   * with logicalType decimal(p,s); unsigned bigint → long) and the
   * string-modes config (decimal → string; unsigned bigint → the true
   * uint64 decimal digits), plus the VALUE-level unsigned-bigint
   * rendering — `long` re-wraps the bits (negative longs), `string`
   * renders FormatUint digits — digested over a synthesized uint64 stream
   * where half the values exceed 2^63.
   */
  val avroModes = GateQuery(
    "q229_avro_modes", {
      val defaults = GenericCodecs.AvroOpts()
      val strings = GenericCodecs.AvroOpts(
        decimalHandlingMode = "string", bigintUnsignedHandlingMode = "string")
      def schemaJson(o: GenericCodecs.AvroOpts) =
        GenericCodecs.avroRecordSchema("wd", "wt", specs, o)
      val uvalSql = "CASE WHEN seq % 2 = 0 THEN -commit_ts ELSE commit_ts END"
      def renderedSql(mode: String) =
        if (mode == "long") s"CAST(($uvalSql) AS VARCHAR)"
        else s"CASE WHEN ($uvalSql) >= 0 THEN CAST(($uvalSql) AS VARCHAR) " +
          s"ELSE CAST(CAST(($uvalSql) AS HUGEINT) + 18446744073709551616 AS VARCHAR) END"
      Some(cte +
        s"""SELECT item, n, payload FROM (
           |  SELECT 'schema_default' AS item, CAST(1 AS BIGINT) AS n,
           |    ${lit1(schemaJson(defaults))} AS payload
           |  UNION ALL
           |  SELECT 'schema_string_modes', CAST(1 AS BIGINT),
           |    ${lit1(schemaJson(strings))}
           |  UNION ALL
           |  SELECT 'uvalue_long', count(*),
           |    CAST(bit_xor(${graft.core.Hashing.Sql.portableLong(renderedSql("long"))}) AS VARCHAR)
           |  FROM wide WHERE $Sample
           |  UNION ALL
           |  SELECT 'uvalue_string', count(*),
           |    CAST(bit_xor(${graft.core.Hashing.Sql.portableLong(renderedSql("string"))}) AS VARCHAR)
           |  FROM wide WHERE $Sample
           |)""".stripMargin)
    }) { (spark, dir) =>
    import spark.implicits._
    import org.apache.spark.sql.DataFrame
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    val defaults = GenericCodecs.AvroOpts()
    val strings = GenericCodecs.AvroOpts(
      decimalHandlingMode = "string", bigintUnsignedHandlingMode = "string")
    val schemaRows = Seq(
      ("schema_default", 1L,
        GenericCodecs.avroRecordSchema("wd", "wt", specs, defaults)),
      ("schema_string_modes", 1L,
        GenericCodecs.avroRecordSchema("wd", "wt", specs, strings)))
      .toDF("item", "n", "payload")
    val uval = when(col("seq") % 2 === 0, -col("commit_ts"))
      .otherwise(col("commit_ts"))
    def leg(mode: String): DataFrame =
      df.select(graft.core.Hashing.portableLong(
          GenericCodecs.avroBigintUnsignedValue(uval, mode).cast("string"))
          .as("h"))
        .agg(count(lit(1)).as("n"), expr("bit_xor(h)").cast("string").as("payload"))
        .select(lit("uvalue_" + mode).as("item"), col("n"), col("payload"))
    schemaRows.unionByName(leg("long")).unionByName(leg("string"))
  }

  // ---- q230: reference CSV row layout + output-old-value --------------

  /**
   * q230 — the reference's EXACT CSV message layout (csv_message.go
   * encode:105-148): `op, TABLE, SCHEMA, commit-ts, is-updated`, CRLF
   * terminators, and the `output-old-value` two-row UPDATE — old image
   * as a "D" row + new image as an "I" row in ONE message, both with
   * is-updated=true; I/D single rows carry false. Full 20-column image
   * cells reuse the per-type q44b rendering.
   */
  val csvRefLayout = GateQuery(
    "q230_csv_ref_layout", {
      def metaSql(opE: String) = Seq(
        s"""'"' || $opE || '"'""",
        """'"' || table_name || '"'""",
        """'"' || schema_name || '"'""",
        "CAST(commit_ts AS VARCHAR)",
        "CASE WHEN op = 'U' THEN 'true' ELSE 'false' END")
      def rowSql(opE: String, v: ColumnSpec => String) =
        "concat_ws(','," + (metaSql(opE) ++ specs.map(s =>
          csvCellSql(s, v(s)))).mkString(", ") + ") || e'\\r\\n'"
      // the output-field-header row (once per batch; encodeHeader:492-518)
      // rides as seq -1, generated in lockstep from the same spec list
      val headerLit = lit1(GenericCodecs.csvHeaderRef(specs,
        opts = GenericCodecs.CsvRowOpts(includeCommitTs = true,
          outputOldValue = true)).stripSuffix("\r\n")) + " || e'\\r\\n'"
      Some(cte +
        s"""SELECT CAST(-1 AS BIGINT) AS seq, $headerLit AS msg
           |UNION ALL
           |SELECT seq,
           |  CASE WHEN op = 'U'
           |       THEN ${rowSql("'D'", bE)} || ${rowSql("'I'", aE)}
           |       ELSE ${rowSql("op", s => effE(s))} END AS msg
           |FROM wide WHERE $Sample""".stripMargin)
    }) { (spark, dir) =>
    import spark.implicits._
    val opts = GenericCodecs.CsvRowOpts(includeCommitTs = true,
      outputOldValue = true)
    val header = Seq((-1L, GenericCodecs.csvHeaderRef(specs, opts = opts)))
      .toDF("seq", "msg")
    header.unionByName(
      WideCdc.derive(spark, dir).filter(expr(Sample))
        .select(col("seq"),
          GenericCodecs.csvLinesRef(specs, opts = opts).as("msg")))
  }

  // ---- q231: simple-protocol large-message matrix ---------------------

  /** Simple row-message SQL over image columns `ss` with optional extra
    * members (handleKeyOnly / claimCheckLocation). */
  private def simpleMsgSql(ss: Seq[ColumnSpec], extra: Seq[String]): String =
    s"""to_json(struct_pack(
       |    type := CASE op WHEN 'I' THEN 'INSERT' WHEN 'U' THEN 'UPDATE' ELSE 'DELETE' END,
       |    commitTs := commit_ts, "database" := schema_name, "table" := table_name,
       |    schemaVersion := 1,
       |    data := CASE WHEN op <> 'D' THEN ${nativeImgSqlFor(ss, aE)} END,
       |    old := CASE WHEN op <> 'I' THEN ${nativeImgSqlFor(ss, bE)} END${
         extra.map(",\n    " + _).mkString}
       |  ))""".stripMargin

  private val SimpleMax = 600

  /**
   * q231 — the simple protocol's large-message matrix
   * (simple/encoder.go:70-92, message.go:487-489, decoder.go:174):
   * `handle-key-only` replaces oversized messages in-stream with the
   * handle-image form flagged `handleKeyOnly:true`; `claim-check`
   * additionally side-writes the FULL message (wrapped vs raw-value
   * modes) and stamps `claimCheckLocation`. Pins per-mode×class counts,
   * byte lengths, object counts, consumer recovery, and the decoded
   * handleKeyOnly flag count.
   */
  val simpleLargeMessage = GateQuery(
    "q231_simple_large_message",
    Some(cte +
      s"""SELECT mode, is_claim, count(*) AS cnt,
         |  CAST(sum(length(msg)) AS BIGINT) AS sum_msg_len,
         |  CAST(coalesce(sum(length(payload)), 0) AS BIGINT) AS sum_payload_len,
         |  count(DISTINCT loc) AS n_objects,
         |  CAST(sum(CASE WHEN mode <> 'hko' THEN is_claim ELSE 0 END) AS BIGINT) AS n_roundtrip,
         |  CAST(sum(is_claim) AS BIGINT) AS n_hko
         |FROM (
         |  SELECT m.mode,
         |    CASE WHEN big THEN 1 ELSE 0 END AS is_claim,
         |    CASE WHEN big THEN (CASE WHEN m.mode = 'hko' THEN hmsg ELSE hmsg_cc END)
         |         ELSE full_msg END AS msg,
         |    CASE WHEN big AND m.mode = 'cc_raw' THEN full_msg
         |         WHEN big AND m.mode = 'cc_wrapped'
         |         THEN '{"key":null,"value":"' || to_base64(encode(full_msg)) || '"}'
         |    END AS payload,
         |    CASE WHEN big AND m.mode <> 'hko' THEN loc END AS loc
         |  FROM (
         |    SELECT *,
         |      ${simpleMsgSql(specs.filter(_.isHandle),
                Seq("handleKeyOnly := true")).replace("\n", "\n      ")} AS hmsg,
         |      ${simpleMsgSql(specs.filter(_.isHandle),
                Seq("handleKeyOnly := true",
                  "claimCheckLocation := loc")).replace("\n", "\n      ")} AS hmsg_cc
         |    FROM (
         |      SELECT *, length(full_msg) > $SimpleMax AS big,
         |        'cc/' || md5(full_msg) || '.json' AS loc
         |      FROM (
         |        SELECT *, ${simpleMsgSql(specs, Nil).replace("\n", "\n        ")} AS full_msg
         |        FROM wide WHERE $Sample)
         |    )
         |  ) CROSS JOIN (SELECT unnest(['hko', 'cc_wrapped', 'cc_raw']) AS mode) m
         |) GROUP BY 1, 2""".stripMargin)) { (spark, dir) =>
    import org.apache.spark.sql.DataFrame
    import org.apache.spark.sql.types.{BooleanType, StringType, StructType}
    val df = WideCdc.derive(spark, dir).filter(expr(Sample))
    def run(mode: String): DataFrame = {
      val handle = mode match {
        case "hko" => GenericCodecs.LargeMessageHandle("handle-key-only")
        case m => GenericCodecs.LargeMessageHandle("claim-check",
          claimCheckStorageUri = "cc", claimCheckRawValue = m == "cc_raw")
      }
      // r20: stage the full message and the triple (the q224 fix) — the
      // Scala-val form re-encoded the simple message at every reference
      val staged = df
        .withColumn("_full", GenericCodecs.simpleRow(specs, 1))
      val (msg, loc, pay) = GenericCodecs.simpleRowLargeMessage(
        specs, 1, SimpleMax, handle, col("_full"))
      val cols = staged
        .withColumn("_msg", msg).withColumn("_loc", loc)
        .withColumn("_pay", pay)
      val recovered =
        if (mode == "cc_raw") col("_pay")
        else if (mode == "cc_wrapped")
          decode(unbase64(from_json(col("_pay"), new StructType()
            .add("key", StringType).add("value", StringType))
            .getField("value")), "UTF-8")
        else lit(null).cast("string")
      val hko = from_json(col("_msg"),
        new StructType().add("handleKeyOnly", BooleanType))
        .getField("handleKeyOnly")
      cols.select(lit(mode).as("mode"),
        when(length(col("_full")) > SimpleMax, 1).otherwise(0).as("is_claim"),
        col("_msg").as("msg"), col("_pay").as("payload"), col("_loc").as("loc"),
        (recovered <=> col("_full")).as("rt"),
        coalesce(hko, lit(false)).as("hko"))
    }
    run("hko").unionByName(run("cc_wrapped")).unionByName(run("cc_raw"))
      .groupBy("mode", "is_claim")
      .agg(count(lit(1)).as("cnt"),
        sum(length(col("msg"))).as("sum_msg_len"),
        coalesce(sum(length(col("payload"))), lit(0L)).as("sum_payload_len"),
        countDistinct(col("loc")).as("n_objects"),
        sum(when(col("rt") && col("is_claim") === 1, 1L).otherwise(0L))
          .as("n_roundtrip"),
        sum(when(col("hko"), 1L).otherwise(0L)).as("n_hko"))
  }

  // ---- q232: storage-sink schema sidecar ------------------------------

  /**
   * q232 — the cloud-storage sink's `TableDefinition` schema file
   * (table_definition.go:183-327, path.go:93-110): exact
   * MarshalIndent bytes, the crc32-of-name-sorted-marshal path checksum,
   * the `output-column-id` variant, the db-schema (no-table) form, and
   * the reference's own TestTableDefinition fixture. Content bytes are
   * control-plane literals (one per table VERSION, written by the DDL
   * sink); the gate pins path+len+crc for the wide forms and full bytes
   * for the short ones — crc agreement is three-way (JVM CRC32 in the
   * path, Spark's codegen'd crc32 here, python-zlib-derived oracle
   * literals).
   */
  val schemaSidecar = GateQuery(
    "q232_schema_sidecar",
    Some(
      """SELECT variant, path, len, crc, content FROM (VALUES
        |  ('wide', 'test/wide/meta/schema_1100_3940333362.json',
        |   CAST(2676 AS BIGINT), CAST(1163498593 AS BIGINT), CAST(NULL AS VARCHAR)),
        |  ('wide_colid', 'test/wide/meta/schema_1100_2634825215.json',
        |   CAST(3267 AS BIGINT), CAST(3281096929 AS BIGINT), CAST(NULL AS VARCHAR)),
        |  ('db_schema', 'test/meta/schema_1100_2269286383.json',
        |   CAST(171 AS BIGINT), CAST(3161240458 AS BIGINT), $j${
        |    "Table": "",
        |    "Schema": "test",
        |    "Version": 1,
        |    "TableVersion": 1100,
        |    "Query": "",
        |    "Type": 1,
        |    "TableColumns": null,
        |    "TableColumnsTotal": 0
        |}$j$),
        |  ('ref_fixture', 'schema1/table1/meta/schema_100_0173756772.json',
        |   CAST(948 AS BIGINT), CAST(3638795722 AS BIGINT), $j${
        |    "Table": "table1",
        |    "Schema": "schema1",
        |    "Version": 1,
        |    "TableVersion": 100,
        |    "Query": "",
        |    "Type": 0,
        |    "TableColumns": [
        |        {
        |            "ColumnName": "Id",
        |            "ColumnType": "INT",
        |            "ColumnDefault": 10,
        |            "ColumnPrecision": "11",
        |            "ColumnNullable": "false",
        |            "ColumnIsPk": "true"
        |        },
        |        {
        |            "ColumnName": "LastName",
        |            "ColumnType": "VARCHAR",
        |            "ColumnDefault": "Default LastName",
        |            "ColumnPrecision": "128",
        |            "ColumnNullable": "false"
        |        },
        |        {
        |            "ColumnName": "FirstName",
        |            "ColumnType": "VARCHAR",
        |            "ColumnDefault": "Default FirstName",
        |            "ColumnPrecision": "64"
        |        },
        |        {
        |            "ColumnName": "Birthday",
        |            "ColumnType": "DATETIME",
        |            "ColumnDefault": 12345678
        |        }
        |    ],
        |    "TableColumnsTotal": 4
        |}$j$)
        |) t(variant, path, len, crc, content)""".stripMargin)) { (spark, _) =>
    import spark.implicits._
    import graft.streaming.TableDef
    val wideQuery =
      "CREATE TABLE test.wide (id BIGINT PRIMARY KEY, qty INT CHECK (qty > -1000))"
    val refSpecs = Seq(
      ColumnSpec("Id", "int", nullable = false, isHandle = true),
      ColumnSpec("LastName", "varchar(128)", nullable = false),
      ColumnSpec("FirstName", "varchar(64)"),
      ColumnSpec("Birthday", "datetime"))
    val refDefaults = Map[String, Any]("Id" -> 10,
      "LastName" -> "Default LastName",
      "FirstName" -> "Default FirstName", "Birthday" -> 12345678)
    def row(variant: String, schema: String, table: String, ver: Long,
            query: String, tp: Int, ss: Seq[ColumnSpec], colId: Boolean,
            defaults: Map[String, Any], keepContent: Boolean) = {
      val content = TableDef.marshalWithQuery(schema, table, ver, query, tp,
        ss, outputColumnId = colId, defaults = defaults)
      val ck = TableDef.checksum(schema, table, ss, outputColumnId = colId,
        defaults = defaults)
      (variant, TableDef.schemaPath(schema, table, ver, ck), content,
        keepContent)
    }
    Seq(
      row("wide", "test", "wide", 1100L, wideQuery,
        TableDef.ActionCreateTable, specs, colId = false, Map.empty, keepContent = false),
      row("wide_colid", "test", "wide", 1100L, wideQuery,
        TableDef.ActionCreateTable, specs, colId = true, Map.empty, keepContent = false),
      row("db_schema", "test", "", 1100L, "", 1, Nil, colId = false,
        Map.empty, keepContent = true),
      row("ref_fixture", "schema1", "table1", 100L, "", 0, refSpecs,
        colId = false, refDefaults, keepContent = true))
      .toDF("variant", "path", "full_content", "keep")
      .select(col("variant"), col("path"),
        length(col("full_content")).cast("long").as("len"),
        crc32(col("full_content").cast("binary")).as("crc"),
        when(col("keep"), col("full_content")).as("content"))
  }

  // ---- q242: Avro watermark events ------------------------------------

  /** The comment block carries every character class the Go escaper
    * touches: quote, HTML chars, backslash. */
  private val DdlQuerySuffix = "` (id INT) /* \"a\"<&>\\ */"

  /**
   * q242 — Avro WATERMARK events ([[GenericCodecs.avroDdlWatermark]] /
   * `avroCheckpointWatermark`, reference avro.go:254-307 + the
   * `AvroEnableWatermark` gate in common/config.go:58-63): per table a
   * DDL message (`0x01` ++ Go-JSON with the struct field order and the
   * HTML-escaping encoding/json applies), per schema a checkpoint
   * (`0x02` ++ big-endian uint64 ts) whose ts decodes back through the
   * consumer path, both dispatched by first-byte kind; and with either
   * flag off the encoder yields nil — pinned as n_disabled = 0 non-null
   * messages across BOTH flag-off matrices.
   */
  val avroWatermark = GateQuery(
    "q242_avro_watermark",
    Some {
      val esc = GenericCodecs.goWatermarkEscapeSql _
      val qExpr = "'CREATE TABLE `' || schema_name || '`.`' || table_name" +
        s" || ${lit1(DdlQuerySuffix)}"
      graft.core.CdcStream.sqlCte +
        s""", tables AS (
           |  SELECT schema_name, table_name, min(commit_ts) AS cts,
           |    max(commit_ts) AS mts
           |  FROM cdc GROUP BY 1, 2
           |), ddl AS (
           |  SELECT schema_name, table_name, 'ddl' AS kind,
           |    '01' || upper(hex(
           |      '{"query":"' || ${esc(qExpr)} ||
           |      '","type":3,"schema":"' || ${esc("schema_name")} ||
           |      '","table":"' || ${esc("table_name")} ||
           |      '","commitTs":' || cts || '}')) AS msg_hex,
           |    CAST(-1 AS BIGINT) AS ts_back
           |  FROM tables
           |), cp AS (
           |  SELECT schema_name, '' AS table_name, 'checkpoint' AS kind,
           |    '02' || lpad(upper(to_hex(ts)), 16, '0') AS msg_hex,
           |    CAST(ts AS BIGINT) AS ts_back
           |  FROM (SELECT schema_name, max(mts) AS ts FROM tables GROUP BY 1)
           |)
           |SELECT *, CAST(0 AS BIGINT) AS n_disabled FROM ddl
           |UNION ALL
           |SELECT *, CAST(0 AS BIGINT) AS n_disabled FROM cp""".stripMargin
    }) { (spark, dir) =>
    import graft.core.CdcStream
    val tables = CdcStream.derive(spark, dir)
      .groupBy("schema_name", "table_name")
      .agg(min("commit_ts").as("cts"), max("commit_ts").as("mts"))
    val q = concat(lit("CREATE TABLE `"), col("schema_name"), lit("`.`"),
      col("table_name"), lit(DdlQuerySuffix))
    def ddlMsg(ext: Boolean, wm: Boolean) = GenericCodecs.avroDdlWatermark(
      q, lit(3L), col("schema_name"), col("table_name"), col("cts"),
      enableTiDBExtension = ext, enableWatermark = wm)
    val ddl = tables.select(col("schema_name"), col("table_name"),
      GenericCodecs.avroWatermarkKind(ddlMsg(ext = true, wm = true))
        .as("kind"),
      hex(ddlMsg(ext = true, wm = true)).as("msg_hex"),
      lit(-1L).as("ts_back"))
    val cpMsg = GenericCodecs.avroCheckpointWatermark(col("ts"),
      enableTiDBExtension = true, enableWatermark = true)
    val cp = tables.groupBy("schema_name").agg(max("mts").as("ts"))
      .select(col("schema_name"), lit("").as("table_name"),
        GenericCodecs.avroWatermarkKind(cpMsg).as("kind"),
        hex(cpMsg).as("msg_hex"),
        GenericCodecs.avroCheckpointTs(cpMsg).as("ts_back"))
    // either flag off → nil messages, both matrices (avro.go:257,284)
    val disabled = tables.select(
        ddlMsg(ext = false, wm = true).as("m1"),
        ddlMsg(ext = true, wm = false).as("m2"),
        GenericCodecs.avroCheckpointWatermark(col("cts"),
          enableTiDBExtension = false, enableWatermark = true).as("m3"),
        GenericCodecs.avroCheckpointWatermark(col("cts"),
          enableTiDBExtension = true, enableWatermark = false).as("m4"))
      .agg(sum(when(col("m1").isNotNull || col("m2").isNotNull ||
        col("m3").isNotNull || col("m4").isNotNull, 1L).otherwise(0L))
        .as("n_disabled"))
    ddl.unionByName(cp).crossJoin(broadcast(disabled))
  }

  // the reference's Debezium codec: q305 reads its fixtures, q310 its test
  private val DbzRef = s"${Gate.ReferenceRoot}/pkg/sink/codec/debezium"

  /**
   * q305 — the Debezium per-column TYPE MATRIX
   * ([[graft.functions.DebeziumFields]];
   * pkg/sink/codec/debezium/codec.go:88-472 writeDebeziumFieldSchema +
   * :477-837 writeDebeziumFieldValue): the CONTRACT is the reference's
   * own golden fixture — testdata/datatype.{ddl.sql,dml.sql,dbz.json} —
   * 51 columns spanning every mapped MySQL type (date windows,
   * fsp-rounded datetime millis/micros, ZonedTimestamp fraction
   * truncation, BIT(1)/BIT(n) little-endian base64, BINARY NUL
   * padding, enum/set invalid-member "", the uint64-max → -1 clamp,
   * float through float32 precision). Spark parses the DDL + DML and
   * renders each field through the kernel; DuckDB reads the EXPECTED
   * JSON document directly (q287 form — no expected value re-typed).
   */
  val debeziumTypeMatrix = GateQuery(
    "q305_debezium_types",
    Some(("""WITH raw AS (SELECT content FROM
      |  read_text('""" + DbzRef + """/testdata/datatype.dbz.json')),
      |doc AS (SELECT CAST(content AS JSON) AS j FROM raw),
      |tops AS (
      |  SELECT unnest(CAST(json_extract(j, '$.schema.fields') AS JSON[])) AS af
      |  FROM doc),
      |fields AS (
      |  SELECT unnest(CAST(json_extract(af, '$.fields') AS JSON[])) AS f
      |  FROM tops WHERE json_extract_string(af, '$.field') = 'after'),
      |vals AS (SELECT json_extract(j, '$.payload.after') AS a FROM doc)
      |SELECT json_extract_string(f, '$.field') AS field,
      |  json_extract_string(f, '$.type') AS sch_type,
      |  CASE WHEN json_extract_string(f, '$.optional') = 'true'
      |       THEN 1 ELSE 0 END AS opt,
      |  coalesce(json_extract_string(f, '$.name'), '') AS logical_name,
      |  coalesce(TRY_CAST(json_extract(f, '$.version') AS INT), 0) AS version,
      |  coalesce(json_extract_string(f, '$.parameters.length'),
      |           json_extract_string(f, '$.parameters.allowed'), '') AS params,
      |  CAST(json_extract(a, '$.' || json_extract_string(f, '$.field'))
      |       AS VARCHAR) AS val
      |FROM fields, vals
      |UNION ALL
      |SELECT '_key_' || json_extract_string(kf, '$.field'),
      |  json_extract_string(kf, '$.type'),
      |  CASE WHEN json_extract_string(kf, '$.optional') = 'true'
      |       THEN 1 ELSE 0 END,
      |  coalesce(json_extract_string(kf, '$.name'), ''),
      |  coalesce(TRY_CAST(json_extract(kf, '$.version') AS INT), 0), '',
      |  CAST(json_extract(json_extract(kj, '$.payload'),
      |       '$.' || json_extract_string(kf, '$.field')) AS VARCHAR)
      |FROM (
      |  SELECT CAST(content AS JSON) AS kj FROM
      |  read_text('""" + DbzRef + """/testdata/datatype.dbz.key.json')
      |), LATERAL (SELECT unnest(CAST(json_extract(kj, '$.schema.fields') AS JSON[])) AS kf)
      |UNION ALL
      |SELECT '_key_schema_', 'struct', 0,
      |  json_extract_string(CAST(content AS JSON), '$.schema.name'), 0, '',
      |  NULL
      |FROM read_text('""" + DbzRef + """/testdata/datatype.dbz.key.json')""").stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.{DebeziumFields => DF}
    val base = s"$DbzRef/testdata"
    def slurp(p: String) = new String(
      java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(p)), "UTF-8")

    // parse the fixture DDL: `name TYPE(args) [UNSIGNED] [PRIMARY KEY]`
    val colRe = ("""(?m)^\s*(\w+)\s+([A-Z]+)(?:\(([^)]*)\))?""" +
      """(\s+UNSIGNED)?(\s+PRIMARY KEY)?,?\s*$""").r
    val specs = colRe.findAllMatchIn(slurp(s"$base/datatype.ddl.sql")).map { m =>
      val name = m.group(1)
      val sqlT = m.group(2)
      val args = Option(m.group(3)).getOrElse("")
      val unsigned = m.group(4) != null
      val pk = m.group(5) != null
      val elems = if (sqlT == "ENUM" || sqlT == "SET")
        args.split(",").map(_.trim.stripPrefix("'").stripSuffix("'")).toSeq
        else Nil
      val nums = if (elems.isEmpty && args.nonEmpty)
        args.split(",").map(_.trim.toInt).toSeq else Nil
      val (tpe, flen, fsp, binary) = sqlT match {
        case "INT" => ("long", -1, -1, false)
        case "TINYINT" => ("tiny", -1, -1, false)
        case "SMALLINT" => ("short", -1, -1, false)
        case "MEDIUMINT" => ("int24", -1, -1, false)
        case "BIGINT" => ("longlong", -1, -1, false)
        case "DATE" => ("date", -1, -1, false)
        case "DATETIME" => ("datetime", -1, nums.headOption.getOrElse(-1), false)
        case "TIME" => ("time", -1, nums.headOption.getOrElse(-1), false)
        case "TIMESTAMP" => ("timestamp", -1, nums.headOption.getOrElse(-1), false)
        case "YEAR" => ("year", -1, -1, false)
        case "BIT" => ("bit", nums.headOption.getOrElse(1), -1, false)
        case "VARCHAR" => ("varchar", nums.headOption.getOrElse(-1), -1, false)
        case "CHAR" => ("string", nums.headOption.getOrElse(-1), -1, false)
        case "VARBINARY" => ("varchar", nums.headOption.getOrElse(-1), -1, true)
        case "BINARY" => ("string", nums.headOption.getOrElse(-1), -1, true)
        case "BLOB" => ("blob", -1, -1, true)
        case "DECIMAL" | "NUMERIC" => ("newdecimal",
          nums.headOption.getOrElse(-1), nums.lift(1).getOrElse(-1), false)
        case "FLOAT" => ("float", -1, nums.lift(1).getOrElse(-1), false)
        case "DOUBLE" => ("double", -1, -1, false)
        case "ENUM" => ("enum", -1, -1, false)
        case "SET" => ("set", -1, -1, false)
        case "JSON" => ("json", -1, -1, false)
        case other => throw new IllegalArgumentException(other)
      }
      DF.FieldSpec(name, tpe, flen, fsp, elems, notNull = pk,
        unsigned = unsigned, binary = binary)
    }.toSeq

    // parse the fixture DML value list (single-quote aware)
    val body = slurp(s"$base/datatype.dml.sql")
    val inner = body.substring(body.indexOf('(') + 1, body.lastIndexOf(')'))
    val values = {
      val out = Vector.newBuilder[String]
      val cur = new StringBuilder
      var inQ = false
      for (c <- inner) c match {
        case '\'' => inQ = !inQ; cur += c
        case ',' if !inQ => out += cur.toString; cur.clear()
        case _ => cur += c
      }
      out += cur.toString
      out.result().map(_.trim).map { v =>
        if (v.startsWith("'") && v.endsWith("'"))
          v.substring(1, v.length - 1)
        else v
      }
    }
    require(specs.length == values.length,
      s"fixture mismatch: ${specs.length} cols vs ${values.length} values")

    val afterRows = specs.zip(values).map { case (spec, raw) =>
      val s = DF.fieldSchema(spec)
      val v = DF.fieldValue(spec, Some(raw))
      (spec.name, s.schType, if (s.optional) 1 else 0, s.logicalName,
        s.version, s.params, if (v == "null") None else Some(v))
    }
    // the KEY message (EncodeKey, codec.go:937-971): HANDLE-KEY columns
    // only, schema named `<clusterID>.<schema>.<table>.Key` — the
    // cluster id and schema are the generating test's runtime config
    // ("dbserver1"/"test"); the table name comes from the DDL fixture
    val keySpecs = specs.zip(values).filter(_._1.notNull)
    val keyRows = keySpecs.map { case (spec, raw) =>
      val s = DF.fieldSchema(spec)
      val v = DF.fieldValue(spec, Some(raw))
      ("_key_" + spec.name, s.schType, if (s.optional) 1 else 0,
        s.logicalName, s.version, s.params,
        if (v == "null") None else Some(v))
    } :+ (("_key_schema_", "struct", 0, "dbserver1.test.foo.Key", 0, "",
      None: Option[String]))
    (afterRows ++ keyRows).toDF("field", "sch_type", "opt", "logical_name",
      "version", "params", "val")
  }

  /**
   * q307 — the Debezium DDL `tableChanges` column entries
   * ([[graft.functions.DebeziumFields]];
   * pkg/sink/codec/debezium/codec.go:1273-1392 EncodeDDLEvent's table
   * block + helper.go:119-241 extractors + internal/java.go:155-230
   * MySQLType2JdbcType): the jdbcType matrix — DISTINCT from the Canal
   * map already gated (TINYINT→SMALLINT, YEAR→INTEGER,
   * TIMESTAMP→TIMESTAMP_WITH_TIMEZONE 2014, ENUM/SET→CHAR, FLOAT→6) —
   * plus typeName/typeExpression (early-return types carry no
   * suffix/UNSIGNED; DOUBLE(M,D) only with a declared non-zero D),
   * tidb_type, the length rule (defaults compare with the unsigned -1 /
   * tiny-zerofill +1 adjustments; SET = 2n-1, ENUM = 1, temporal = fsp),
   * scale, the binary-charset erasure, the rename id render
   * (PreTableInfo FIRST), CURRENT_TIMESTAMP default folding, and the
   * ON-UPDATE-NOW → autoIncremented+generated rule that applies ONLY to
   * TIMESTAMP_WITH_TIMEZONE columns.
   */
  val debeziumDdlColumns = GateQuery(
    "q307_debezium_ddl_columns",
    Some("""SELECT * FROM (VALUES
      |  ('col','int_signed',      4,'INT','INT','int',NULL,NULL,''),
      |  ('col','int_unsigned',    4,'INT UNSIGNED','INT UNSIGNED','int unsigned',NULL,NULL,''),
      |  ('col','int_uns_wide',    4,'INT UNSIGNED','INT UNSIGNED','int unsigned',11,NULL,''),
      |  ('col','tiny_zerofill',   5,'TINYINT UNSIGNED ZEROFILL','TINYINT UNSIGNED ZEROFILL','tinyint unsigned',NULL,NULL,''),
      |  ('col','bigint',         -5,'BIGINT','BIGINT','bigint',NULL,NULL,''),
      |  ('col','year',            4,'YEAR','YEAR','year',4,NULL,''),
      |  ('col','float_plain',     6,'FLOAT','FLOAT','float',NULL,NULL,''),
      |  ('col','double_md',       8,'DOUBLE','DOUBLE(10,2)','double',10,2,''),
      |  ('col','decimal',         3,'DECIMAL','DECIMAL','decimal',10,5,''),
      |  ('col','varchar_utf8',   12,'VARCHAR','VARCHAR','varchar',100,NULL,'utf8mb4'),
      |  ('col','varbinary',      -3,'VARBINARY','VARBINARY','varbinary',100,NULL,''),
      |  ('col','char_bin',       -2,'BINARY','BINARY','binary',50,NULL,''),
      |  ('col','text',           12,'TEXT','TEXT','text',NULL,NULL,'utf8mb4'),
      |  ('col','blob_bin',     2004,'BLOB','BLOB','blob',NULL,NULL,''),
      |  ('col','timestamp6',   2014,'TIMESTAMP','TIMESTAMP','timestamp',6,NULL,''),
      |  ('col','datetime3',      93,'DATETIME','DATETIME','datetime',3,NULL,''),
      |  ('col','time0',          92,'TIME','TIME','time',0,NULL,''),
      |  ('col','enum',            1,'ENUM','ENUM','enum',1,NULL,'utf8mb4'),
      |  ('col','set3',            1,'SET','SET','set',5,NULL,'utf8mb4'),
      |  ('col','bit5',           -7,'BIT','BIT','bit',5,NULL,''),
      |  ('col','json',         1111,'JSON','JSON','json',NULL,NULL,''),
      |  ('ddl','id_plain',     NULL,'','"test"."t1"','',NULL,NULL,''),
      |  ('ddl','id_rename',    NULL,'','"test"."t1","test"."t2"','',NULL,NULL,''),
      |  ('ddl','default_now',  NULL,'','1970-01-01 00:00:00','',NULL,NULL,''),
      |  ('ddl','default_plain',NULL,'','x','',NULL,NULL,''),
      |  ('ddl','auto_onupdate',NULL,'','true','',NULL,NULL,''),
      |  ('ddl','auto_on_dt',   NULL,'','false','',NULL,NULL,'')
      |) v(family, kase, jdbc, type_name, type_expr, tidb_type, len,
      |    scale, cs)""".stripMargin)) { (spark, dir) =>
    import spark.implicits._
    import graft.functions.{DebeziumFields => DF}
    import DF.FieldSpec

    def col(kase: String, f: FieldSpec)
        : (String, Option[Int], String, String, String, Option[Int],
           Option[Int], String, String) = {
      val (expr, name) = DF.expressionAndName(f)
      ("col", Some(DF.jdbcType(f.tpe, f.binary)), name, expr,
        DF.tidbType(f), DF.lenOf(f), DF.scaleOf(f), DF.charsetOf(f), kase)
    }
    def ddl(kase: String, payload: String)
        : (String, Option[Int], String, String, String, Option[Int],
           Option[Int], String, String) =
      ("ddl", None, "", payload, "", None, None, "", kase)

    val rows = Seq(
      col("int_signed", FieldSpec("c", "long", flen = 11)),
      col("int_unsigned", FieldSpec("c", "long", flen = 10, unsigned = true)),
      col("int_uns_wide", FieldSpec("c", "long", flen = 11, unsigned = true)),
      col("tiny_zerofill", FieldSpec("c", "tiny", flen = 4,
        unsigned = true, zerofill = true)),
      col("bigint", FieldSpec("c", "longlong", flen = 20)),
      col("year", FieldSpec("c", "year", flen = 4)),
      col("float_plain", FieldSpec("c", "float", flen = 12)),
      col("double_md", FieldSpec("c", "double", flen = 10, fsp = 2)),
      col("decimal", FieldSpec("c", "newdecimal", flen = 10, fsp = 5)),
      col("varchar_utf8", FieldSpec("c", "varchar", flen = 100,
        charset = "utf8mb4")),
      col("varbinary", FieldSpec("c", "varchar", flen = 100,
        binary = true, charset = "binary")),
      col("char_bin", FieldSpec("c", "string", flen = 50,
        binary = true, charset = "binary")),
      col("text", FieldSpec("c", "blob", charset = "utf8mb4")),
      col("blob_bin", FieldSpec("c", "blob", binary = true,
        charset = "binary")),
      col("timestamp6", FieldSpec("c", "timestamp", fsp = 6)),
      col("datetime3", FieldSpec("c", "datetime", fsp = 3)),
      col("time0", FieldSpec("c", "time", fsp = 0)),
      col("enum", FieldSpec("c", "enum", elems = Seq("a", "b", "c"),
        charset = "utf8mb4")),
      col("set3", FieldSpec("c", "set", elems = Seq("a", "b", "c"),
        charset = "utf8mb4")),
      col("bit5", FieldSpec("c", "bit", flen = 5)),
      col("json", FieldSpec("c", "json")),
      ddl("id_plain", DF.tableChangeId("test", "t1", None)),
      ddl("id_rename", DF.tableChangeId("test", "t2", Some(("test", "t1")))),
      ddl("default_now", DF.defaultValueExpression("timestamp",
        Some("CURRENT_TIMESTAMP")).getOrElse("")),
      ddl("default_plain",
        DF.defaultValueExpression("varchar", Some("x")).getOrElse("")),
      ddl("auto_onupdate", DF.autoIncrementedFlag("timestamp",
        binary = false, autoIncrement = false, onUpdateNow = true).toString),
      ddl("auto_on_dt", DF.autoIncrementedFlag("datetime",
        binary = false, autoIncrement = false, onUpdateNow = true).toString))

    rows.map { case (fam, j, n, e, t, l, s, c, k) =>
      (fam, k, j, n, e, t, l, s, c)
    }.toDF("family", "kase", "jdbc", "type_name", "type_expr",
      "tidb_type", "len", "scale", "cs")
  }

  /**
   * q310 — the COMPLETE Debezium message assembly
   * ([[graft.functions.DebeziumEnvelope]];
   * pkg/sink/codec/debezium/codec.go:937-1698 EncodeKey / EncodeValue /
   * EncodeDDLEvent / EncodeCheckpointEvent): the CONTRACT is the
   * reference's own codec_test.go — ALL 22 of its require.JSONEq golden
   * documents (rename/create/drop DDL key+value with and without
   * schema, the watermark checkpoint pair, and the insert/update/delete
   * row key+value pairs incl. the OutputOldValue=false update and the
   * pre-image delete key) are extracted from the test source by the
   * ORACLE (read_text + regexp, q287/q305 form) and path-flattened by a
   * recursive CTE; Spark assembles the same messages through the kernel
   * and flattens identically — every field of every envelope, source
   * block, tableChanges table block and schema struct pinned; nothing
   * re-typed.
   */
  val debeziumEnvelope = GateQuery(
    "q310_debezium_envelope",
    Some(("""WITH RECURSIVE l AS (
      |  SELECT regexp_extract_all(content,
      |    'require\.JSONEq\(t, `([^`]+)`', 1) AS ls
      |  FROM read_text('""" + DbzRef + """/codec_test.go')
      |),
      |docs AS (
      |  SELECT v.kase AS kase, CAST(ls[v.i] AS JSON) AS j
      |  FROM l, (VALUES
      |    ('ddl_rename_key', 1), ('ddl_rename_value', 2),
      |    ('ddl_create_key', 3), ('ddl_create_value', 4),
      |    ('ddl_drop_key', 5), ('ddl_drop_value', 6),
      |    ('cp_key', 7), ('cp_value', 8),
      |    ('ins_key_noschema', 9), ('ins_value_noschema', 10),
      |    ('ins_key_schema', 11), ('ins_value_schema', 12),
      |    ('upd_key_noschema', 13), ('upd_value_noschema', 14),
      |    ('upd_key_schema', 15), ('upd_value_schema', 16),
      |    ('upd_key_noold', 17), ('upd_value_noold', 18),
      |    ('del_key_noschema', 19), ('del_value_noschema', 20),
      |    ('del_key_schema', 21), ('del_value_schema', 22)
      |  ) v(kase, i)
      |),
      |tree AS (
      |  SELECT kase, '$' AS path, j AS node FROM docs
      |  UNION ALL
      |  SELECT kase, path || s.u.p AS path, s.u.n AS node FROM (
      |    SELECT kase, path, unnest(
      |      CASE WHEN json_type(node) = 'OBJECT' THEN
      |        [ {'p': '.' || k,
      |           'n': coalesce(json_extract(node, '$."' || k || '"'),
      |                         CAST('null' AS JSON)) }
      |          for k in json_keys(node) ]
      |      WHEN json_type(node) = 'ARRAY' THEN
      |        [ {'p': '[' || (i-1) || ']',
      |           'n': coalesce(json_extract(node, '$[' || (i-1) || ']'),
      |                         CAST('null' AS JSON)) }
      |          for i in generate_series(1,
      |            CAST(json_array_length(node) AS INT)) ]
      |      ELSE CAST([] AS STRUCT(p VARCHAR, n JSON)[]) END) AS u
      |    FROM tree) s
      |)
      |SELECT kase, path,
      |  CASE WHEN json_type(node) = 'OBJECT' THEN '(empty-object)'
      |       WHEN json_type(node) = 'ARRAY' THEN '(empty-array)'
      |       ELSE coalesce(json_extract_string(node, '$'), 'null')
      |  END AS val
      |FROM tree
      |WHERE json_type(node) NOT IN ('OBJECT', 'ARRAY')
      |   OR (json_type(node) = 'OBJECT' AND len(json_keys(node)) = 0)
      |   OR (json_type(node) = 'ARRAY'
      |       AND CAST(json_array_length(node) AS INT) = 0)""").stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.{DebeziumEnvelope => DE}
    import graft.functions.DebeziumFields.FieldSpec

    // the generating test's runtime: cluster "test_cluster", nowFunc
    // pinned to Unix(1701326309) (codec_test.go:31-36)
    val cluster = "test_cluster"
    val nowMs = 1701326309L * 1000
    val idCol = DE.DdlColumn(FieldSpec("id", "long", flen = 0,
      notNull = true))
    val tiny = Seq(FieldSpec("tiny", "tiny") -> Option("1"))

    def ddlVal(action: String, query: String,
               table: (String, String), pre: Option[(String, String)],
               noSchema: Boolean): String =
      DE.ddlValue(cluster, 1L, nowMs, action, query, Some(table), pre,
        charset = "", pkNames = Seq("id"), columns = Seq(idCol),
        disableSchema = noSchema).toOption.get

    val docs: Seq[(String, String)] = Seq(
      "ddl_rename_key" -> DE.ddlKey("test"),
      "ddl_rename_value" -> ddlVal("RenameTable",
        "RENAME TABLE test.table1 to test.table2",
        ("test", "table1"), Some(("test", "table2")), noSchema = false),
      "ddl_create_key" -> DE.ddlKey("test", disableSchema = true),
      "ddl_create_value" -> ddlVal("CreateTable",
        "CREATE TABLE test.table1",
        ("test", "table1"), None, noSchema = true),
      "ddl_drop_key" -> DE.ddlKey("test", disableSchema = true),
      "ddl_drop_value" -> ddlVal("DropTable", "DROP TABLE test.table2",
        ("test", "table2"), Some(("test", "table2")), noSchema = true),
      "cp_key" -> DE.checkpointKey(cluster),
      "cp_value" -> DE.checkpointValue(cluster, 3L, nowMs),
      "ins_key_noschema" -> DE.rowKey(cluster, "test", "table1", tiny,
        disableSchema = true),
      "ins_value_noschema" -> DE.rowValue(cluster, 1L, nowMs, "test",
        "table1", "c", tiny, disableSchema = true),
      "ins_key_schema" -> DE.rowKey(cluster, "test", "table1", tiny),
      "ins_value_schema" -> DE.rowValue(cluster, 1L, nowMs, "test",
        "table1", "c", tiny)) ++ {
      // update/delete: after tiny=1, before tiny=2 (codec_test.go:
      // 918-1290); the delete KEY carries the PRE handle values
      val tinyPre = Seq(FieldSpec("tiny", "tiny") -> Option("2"))
      def upd(noSchema: Boolean, oldValue: Boolean) =
        DE.rowValue(cluster, 1L, nowMs, "test", "table1", "u", tiny,
          preCols = tinyPre, disableSchema = noSchema,
          outputOldValue = oldValue)
      def del(noSchema: Boolean) =
        DE.rowValue(cluster, 1L, nowMs, "test", "table1", "d", Nil,
          preCols = tinyPre, disableSchema = noSchema)
      Seq(
        "upd_key_noschema" -> DE.rowKey(cluster, "test", "table1", tiny,
          disableSchema = true),
        "upd_value_noschema" -> upd(noSchema = true, oldValue = true),
        "upd_key_schema" -> DE.rowKey(cluster, "test", "table1", tiny),
        "upd_value_schema" -> upd(noSchema = false, oldValue = true),
        "upd_key_noold" -> DE.rowKey(cluster, "test", "table1", tiny,
          disableSchema = true),
        "upd_value_noold" -> upd(noSchema = true, oldValue = false),
        "del_key_noschema" -> DE.rowKey(cluster, "test", "table1",
          tinyPre, disableSchema = true),
        "del_value_noschema" -> del(noSchema = true),
        "del_key_schema" -> DE.rowKey(cluster, "test", "table1", tinyPre),
        "del_value_schema" -> del(noSchema = false))
    }

    docs.flatMap { case (kase, json) =>
      DE.flatten(json).map { case (path, v) => (kase, path, v) }
    }.toDF("kase", "path", "val")
  }

  /**
   * q311 — the Debezium DECODER round-trip
   * ([[graft.functions.DebeziumEnvelope]] decoder half;
   * pkg/sink/codec/debezium/decoder.go:1-377): full encode→decode
   * fixpoint over a 19-type row — messages assembled by the q310-gated
   * encoders (TiDB extension on, schema on), decoded through the
   * reference's semantics: message-type classification by `op`
   * (decoder.go:87-106), resolved/DDL extraction from the source block,
   * schema-driven row decoding (tidb_type parse-back with the
   * unsigned/binary flag strips, MicroTimestamp fsp promotion, PK flags
   * from the key payload, column-id-DESCENDING sort), and the value
   * conversions (base64 binary, Go `time.UTC().String()` renders for
   * date/datetime, `types.Duration` fsp-6 renders, unsigned
   * reinterpretation — uint64-max survives the encode clamp to -1 and
   * decodes back to 18446744073709551615 — and little-endian BIT). The
   * oracle is the expected decode matrix: insert/update/delete sections
   * share one field table, so every section must decode identically.
   */
  val debeziumDecoder = GateQuery(
    "q311_debezium_decoder",
    Some("""WITH fields(ord, field, val, pk) AS (VALUES
      |  (0, 's_null', 'null', 0),
      |  (1, 'r_ubig', '18446744073709551615', 0),
      |  (2, 'q_json', '{"k":1}', 0),
      |  (3, 'p_float', '1.5', 0),
      |  (4, 'o_dec', '3.14', 0),
      |  (5, 'n_set', 'a,b', 0),
      |  (6, 'm_enum', 'a', 0),
      |  (7, 'l_bit16', '5', 0),
      |  (8, 'k_bit1', '1', 0),
      |  (9, 'j_year', '2022', 0),
      |  (10, 'i_ts', '2022-01-01T00:00:00Z', 0),
      |  (11, 'h_time', '10:10:10.000000', 0),
      |  (12, 'g_dt6', '2022-01-01 12:34:56.123456 +0000 UTC', 0),
      |  (13, 'f_dt0', '2022-01-01 12:34:56 +0000 UTC', 0),
      |  (14, 'e_date', '2022-01-03 00:00:00 +0000 UTC', 0),
      |  (15, 'd_bin', '0x4142', 0),
      |  (16, 'c_str', 'héllo', 0),
      |  (17, 'b_utiny', '200', 0),
      |  (18, 'a_int', '7', 1)
      |), sections(op, section) AS (VALUES
      |  ('ins', 'after'), ('del', 'before'),
      |  ('upd', 'before'), ('upd', 'after'))
      |SELECT s.op, s.section, f.ord, f.field, f.val, f.pk
      |FROM fields f CROSS JOIN sections s
      |UNION ALL
      |SELECT * FROM (VALUES
      |  ('mt', 'ddl_value', 0, 'type', 'ddl', 0),
      |  ('mt', 'cp_value', 0, 'type', 'resolved', 0),
      |  ('mt', 'row_value', 0, 'type', 'row', 0),
      |  ('mt', 'bad_op', 0, 'type', 'ErrDebeziumInvalidMessage', 0),
      |  ('meta', 'ddl', 0, 'db', 'test', 0),
      |  ('meta', 'ddl', 1, 'table', 'table1', 0),
      |  ('meta', 'ddl', 2, 'query', 'RENAME TABLE test.table1 to test.table2', 0),
      |  ('meta', 'ddl', 3, 'commit_ts', '1', 0),
      |  ('meta', 'resolved', 0, 'ts', '3', 0),
      |  ('meta', 'row', 0, 'commit_ts', '9', 0),
      |  ('meta', 'row', 1, 'schema', 'test', 0),
      |  ('meta', 'row', 2, 'table', 't1', 0)
      |) v(op, section, ord, field, val, pk)""".stripMargin)) {
    (spark, dir) =>
    import spark.implicits._
    import graft.functions.{DebeziumEnvelope => DE}
    import graft.functions.DebeziumFields.FieldSpec

    val cols: Seq[(FieldSpec, Option[String])] = Seq(
      FieldSpec("a_int", "long", notNull = true) -> Some("7"),
      FieldSpec("b_utiny", "tiny", unsigned = true) -> Some("200"),
      FieldSpec("c_str", "varchar", flen = 20) -> Some("héllo"),
      FieldSpec("d_bin", "varchar", flen = 20, binary = true,
        charset = "binary") -> Some("AB"),
      FieldSpec("e_date", "date") -> Some("2022-01-03"),
      FieldSpec("f_dt0", "datetime", fsp = 0) ->
        Some("2022-01-01 12:34:56"),
      FieldSpec("g_dt6", "datetime", fsp = 6) ->
        Some("2022-01-01 12:34:56.123456"),
      FieldSpec("h_time", "time", fsp = 0) -> Some("10:10:10"),
      FieldSpec("i_ts", "timestamp", fsp = 0) ->
        Some("2022-01-01 00:00:00"),
      FieldSpec("j_year", "year") -> Some("2022"),
      FieldSpec("k_bit1", "bit", flen = 1) -> Some("1"),
      FieldSpec("l_bit16", "bit", flen = 16) -> Some("5"),
      FieldSpec("m_enum", "enum", elems = Seq("a", "b")) -> Some("a"),
      FieldSpec("n_set", "set", elems = Seq("a", "b")) -> Some("a,b"),
      FieldSpec("o_dec", "newdecimal", flen = 10, fsp = 2) -> Some("3.14"),
      FieldSpec("p_float", "float") -> Some("1.5"),
      FieldSpec("q_json", "json") -> Some("""{"k":1}"""),
      FieldSpec("r_ubig", "longlong", unsigned = true) ->
        Some("18446744073709551615"),
      FieldSpec("s_null", "varchar", flen = 10) -> None)
    val keyCols = cols.filter(_._1.notNull)

    val cluster = "test_cluster"
    val nowMs = 1701326309L * 1000
    val key = DE.rowKey(cluster, "test", "t1", keyCols, ext = true)
    def value(op: String) = DE.rowValue(cluster, 9L, nowMs, "test",
      "t1", op, cols, preCols = cols, ext = true)

    val rows = Seq.newBuilder[(String, String, Int, String, String, Int)]
    def emit(op: String, section: String,
             decoded: Seq[(String, String, Boolean)]): Unit =
      decoded.zipWithIndex.foreach { case ((f, v, pk), i) =>
        rows += ((op, section, i, f, v, if (pk) 1 else 0))
      }
    val ins = DE.rowEventOf(key, value("c"))
    emit("ins", "after", ins.after)
    val del = DE.rowEventOf(key, value("d"))
    emit("del", "before", del.before)
    val upd = DE.rowEventOf(key, value("u"))
    emit("upd", "before", upd.before)
    emit("upd", "after", upd.after)

    // message-type classification + resolved/DDL extraction over the
    // kernel's own encoded messages
    val ddlDoc = DE.ddlValue(cluster, 1L, nowMs, "RenameTable",
      "RENAME TABLE test.table1 to test.table2",
      Some(("test", "table1")), Some(("test", "table2")),
      pkNames = Seq("id"), columns = Seq(DE.DdlColumn(
        FieldSpec("id", "long", flen = 0, notNull = true))))
      .toOption.get
    val cpDoc = DE.checkpointValue(cluster, 3L, nowMs)
    def mt(kase: String, doc: String): Unit =
      rows += (("mt", kase, 0, "type",
        DE.messageType(doc).fold(identity, identity), 0))
    mt("ddl_value", ddlDoc)
    mt("cp_value", cpDoc)
    mt("row_value", value("c"))
    mt("bad_op", """{"payload":{"op":"x"}}""")
    val (db, tbl, q, cts) = DE.ddlEventOf(ddlDoc)
    rows += (("meta", "ddl", 0, "db", db, 0))
    rows += (("meta", "ddl", 1, "table", tbl, 0))
    rows += (("meta", "ddl", 2, "query", q, 0))
    rows += (("meta", "ddl", 3, "commit_ts", cts.toString, 0))
    rows += (("meta", "resolved", 0, "ts",
      DE.resolvedTs(cpDoc).toString, 0))
    rows += (("meta", "row", 0, "commit_ts", ins.commitTs.toString, 0))
    rows += (("meta", "row", 1, "schema", ins.schemaName, 0))
    rows += (("meta", "row", 2, "table", ins.tableName, 0))

    rows.result().toDF("op", "section", "ord", "field", "val", "pk")
  }

  def all: Seq[GateQuery] = Seq(canalGeneric, openGeneric, maxwellGeneric,
    csvGeneric, debeziumSchemaGate, simpleGeneric, integrityGeneric,
    vectorRoundtrip, canalUpdatedColumns, openUpdatedColumns, claimCheckRaw,
    debeziumOptions, canalShortTypes, avroModes, csvRefLayout,
    simpleLargeMessage, schemaSidecar, avroWatermark, debeziumTypeMatrix,
    debeziumDdlColumns, debeziumEnvelope, debeziumDecoder)
}
