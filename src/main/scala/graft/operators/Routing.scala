package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/**
 * Routing / repartitioning operators (SURVEY.md §2.5, R1-R4 + D7).
 *
 * tiflow routes with per-row Go rule evaluation (table router:
 * dm/syncer/syncer.go:3268-3280; MQ dispatchers:
 * cdc/sink/dmlsink/mq/dispatcher/partition/{table,ts,index_value,columns}.go).
 * Spark-first: routes are
 * `when/otherwise` Column chains (codegen'd, vectorizable) and partition
 * dispatch is just a derived column used by `repartition` or the Kafka
 * sink's `partition` column — the shuffle itself is Spark's.
 */
object Routing {

  /** R1 — table router rule: wildcard match on source (schema, table) →
    * literal target names. First matching rule wins (DM semantics). */
  final case class RouteRule(schemaPat: String, tablePat: String,
                             targetSchema: String, targetTable: String)

  def route(df: DataFrame, rules: Seq[RouteRule],
            caseSensitive: Boolean = true): DataFrame = {
    // DM's `case-sensitive` flag reaches the router too
    // (dm/config/subtask.go:439 regexprrouter.NewRegExprRouter): when
    // false, patterns and incoming names case-fold before matching —
    // target names stay as configured.
    val (sc, tc) =
      if (caseSensitive) (col("schema_name"), col("table_name"))
      else (lower(col("schema_name")), lower(col("table_name")))
    def rx(p: String) = Filters.wildcardToRegex(
      if (caseSensitive) p else p.toLowerCase(java.util.Locale.ROOT))
    // An empty target keeps the source name — a DM rule may set only
    // target-schema (schema-routing), leaving the table name untouched.
    def chain(pick: RouteRule => String, default: Column): Column =
      rules.foldRight(default) { (r, acc) =>
        val m = sc.rlike(rx(r.schemaPat)) && tc.rlike(rx(r.tablePat))
        when(m, if (pick(r).isEmpty) default else lit(pick(r))).otherwise(acc)
      }
    df.withColumn("target_schema", chain(_.targetSchema, col("schema_name")))
      .withColumn("target_table", chain(_.targetTable, col("table_name")))
  }

  /** D7 — extend columns: synthesize columns from regex captures over the
    * source schema/table names (shard index extraction;
    * reference dm/syncer/syncer.go:2821-2836). */
  def extendColumns(df: DataFrame, extracts: Seq[(String, Column)]): DataFrame =
    extracts.foldLeft(df) { case (d, (name, e)) => d.withColumn(name, e) }

  /** R2 — topic router: `[prefix]{schema}[mid]{table}[suffix]`
    * (reference cdc/sink/dmlsink/mq/dispatcher/topic/expression.go:29-110). */
  def topic(prefix: String, mid: String, suffix: String = ""): Column =
    concat(lit(prefix), col("target_schema"), lit(mid), col("target_table"), lit(suffix))

  // -- full topic-expression semantics (expression.go:29-110) -------------

  /** Kafka topic expression shape: [prefix]{schema}[middle][{table}][suffix]
    * with literal runs restricted to [A-Za-z0-9._-]. */
  private val TopicExprRe =
    "^[A-Za-z0-9._\\-]*(\\{schema\\})?([A-Za-z0-9._\\-]*\\{table\\})?[A-Za-z0-9._\\-]*$".r
  private val AvroTopicExprRe =
    "^[A-Za-z0-9._\\-]*\\{schema\\}[A-Za-z0-9._\\-]*\\{table\\}[A-Za-z0-9._\\-]*$".r

  /** Kafka's topic-name length ceiling. */
  val KafkaTopicMaxLength = 249

  def validateTopicExpression(expr: String): Boolean =
    TopicExprRe.matches(expr)

  /** Avro sinks REQUIRE both placeholders (subject naming). */
  def validateTopicExpressionForAvro(expr: String): Boolean =
    AvroTopicExprRe.matches(expr)

  private val PulsarTopicRe =
    ("(^((persistent|non-persistent)://)[A-Za-z0-9{}._\\-]*/[A-Za-z0-9{}._\\-]*/[A-Za-z0-9{}._\\-]*$)|" +
      "(^[A-Za-z0-9._\\-]*\\{schema\\}[A-Za-z0-9._\\-]*\\{table\\}[A-Za-z0-9._\\-]*)$").r

  /** K3 — Pulsar topic form: full `persistent://tenant/ns/topic` URL or a
    * `{schema}`/`{table}` expression (expression.go pulsarTopicNameRE). */
  def validateTopicExpressionForPulsar(expr: String): Boolean =
    PulsarTopicRe.matches(expr)

  /**
   * Substitute `{schema}`/`{table}` in a topic expression: characters
   * outside [A-Za-z0-9._-] in the names become '_', the result truncates
   * at Kafka's 249-char limit, and the invalid names "." / ".." map to
   * "_" / "__" — byte-for-byte the reference's Substitute.
   */
  def topicFromExpression(expr: String,
                          schema: Column = col("target_schema"),
                          table: Column = col("target_table")): Column = {
    require(validateTopicExpression(expr), s"invalid topic expression: $expr")
    def sanitize(c: Column) = regexp_replace(c, "[^a-zA-Z0-9._\\-]", "_")
    // split the expression into literal runs and placeholders, preserving order
    val parts = "(\\{schema\\}|\\{table\\})".r.split(expr) // literals
    val phs = "(\\{schema\\}|\\{table\\})".r.findAllIn(expr).toSeq
    val cols = Seq.newBuilder[Column]
    for (i <- parts.indices) {
      if (parts(i).nonEmpty) cols += lit(parts(i))
      if (i < phs.length)
        cols += (if (phs(i) == "{schema}") sanitize(schema) else sanitize(table))
    }
    // trailing placeholder(s) when the expression ends with one
    for (i <- parts.length until phs.length)
      cols += (if (phs(i) == "{schema}") sanitize(schema) else sanitize(table))
    val joined = concat(cols.result(): _*)
    val trunc = substring(joined, 1, KafkaTopicMaxLength)
    when(trunc === ".", "_").when(trunc === "..", "__").otherwise(trunc)
  }

  /**
   * K3 — Pulsar topic resolution: substitute `{schema}`/`{table}` and
   * expand a short name with the default tenant/namespace, the way the
   * reference's topic manager completes partial names from the sink URI
   * (pkg/sink/pulsar/config.go, dispatcher/topic/expression.go
   * PulsarValidate). Unlike Kafka there is no 249-char truncation.
   */
  def pulsarTopic(expr: String,
                  tenant: String = "public", namespace: String = "default",
                  schema: Column = col("target_schema"),
                  table: Column = col("target_table")): Column = {
    require(validateTopicExpressionForPulsar(expr), s"invalid pulsar topic: $expr")
    val full =
      if (expr.startsWith("persistent://") || expr.startsWith("non-persistent://")) expr
      else s"persistent://$tenant/$namespace/$expr"
    def sanitize(c: Column) = regexp_replace(c, "[^a-zA-Z0-9._\\-]", "_")
    val parts = "(\\{schema\\}|\\{table\\})".r.split(full)
    val phs = "(\\{schema\\}|\\{table\\})".r.findAllIn(full).toSeq
    val cols = Seq.newBuilder[Column]
    for (i <- parts.indices) {
      if (parts(i).nonEmpty) cols += lit(parts(i))
      if (i < phs.length)
        cols += (if (phs(i) == "{schema}") sanitize(schema) else sanitize(table))
    }
    for (i <- parts.length until phs.length)
      cols += (if (phs(i) == "{schema}") sanitize(schema) else sanitize(table))
    concat(cols.result(): _*)
  }

  /**
   * Partition KEYS (K3): Pulsar routes by message key, not partition
   * number — the dispatchers' second return value
   * (partition/table.go:39-45 → "schema.table",
   * partition/index_value.go:86 → decimal string of the PositionInertia
   * sum32, partition/key.go:35 → the configured constant).
   */
  def partitionKeyByTable(schema: Column = col("target_schema"),
                          table: Column = col("target_table")): Column =
    concat_ws(".", schema, table)

  /** Index-value partition key, byte-exact with the reference: decimal
    * rendering of the same crc32-XOR mix as [[dispatchTiflowCompat]]. */
  def partitionKeyByIndexValue(schema: Column, table: Column,
                               keyCols: Seq[(String, Column)]): Column = {
    val base = crc32(concat(schema, table).cast("binary"))
    keyCols.foldLeft(base) { case (acc, (name, value)) =>
      acc.bitwiseXOR(crc32(concat(lit(name), value.cast("string")).cast("binary")))
    }.cast("string")
  }

  /**
   * Deterministic 32-bit multiplicative hash used by all dispatchers
   * (Knuth mix over the key's long value — see [[graft.core.Hashing]]).
   * For byte-exact parity with tiflow's own partition placement use
   * [[dispatchTiflowCompat]] instead.
   */
  def hash32(key: Column): Column = graft.core.Hashing.mix32(key)

  /** R3 dispatchers — partition index derivations. */
  def dispatchByTable(n: Int): Column =
    pmod(hash32(xxhashLess(col("target_schema"), col("target_table"))), lit(n.toLong))
  def dispatchByTs(n: Int): Column = pmod(col("commit_ts"), lit(n.toLong))
  def dispatchByIndexValue(n: Int): Column = pmod(hash32(col("pk_after")), lit(n.toLong))
  def dispatchByColumns(n: Int, cols: Seq[Column]): Column =
    pmod(hash32(cols.reduce(_ * lit(31L) + _)), lit(n.toLong))

  /** R3 — explicit-key dispatcher (partition/key.go:22-37): every matched
    * event carries the CONFIGURED literal as its partition key, partition
    * index 0 — the broker's own key-hash routing takes over. */
  def dispatchByKey(partitionKey: String): (Column, Column) =
    (lit(0L), lit(partitionKey))

  /**
   * Partition-rule resolution (event_router.go getPartitionDispatcher:
   * 213-239): named rules map to their dispatchers — "default" delegates
   * to the table dispatcher (partition/default.go:34-37), "rowid" is the
   * deprecated alias of index-value. Any OTHER string is a constant
   * partition KEY under a Pulsar-scheme sink (NewKeyDispatcher), and
   * falls back to the default dispatcher elsewhere (the reference warns).
   * Returns (partition index, optional constant message key).
   */
  def resolvePartitionRule(rule: String, scheme: String, n: Int,
                           columns: Seq[Column] = Nil)
      : (Column, Option[Column]) =
    rule.toLowerCase(java.util.Locale.ROOT) match {
      case "default" | "table" => (dispatchByTable(n), None)
      case "ts" => (dispatchByTs(n), None)
      case "index-value" | "rowid" => (dispatchByIndexValue(n), None)
      case "columns" => (dispatchByColumns(n, columns), None)
      case _ if scheme.toLowerCase(java.util.Locale.ROOT)
          .startsWith("pulsar") =>
        // the RAW configured string is the key (NewKeyDispatcher receives
        // the unfolded rule) — folding it would re-route mixed-case keys
        val (part, key) = dispatchByKey(rule)
        (part, Some(key))
      case _ => (dispatchByTable(n), None)
    }

  /**
   * BYTE-EXACT tiflow partition parity. The reference's index-value
   * dispatcher hashes with PositionInertia — XOR of CRC32-IEEE over each
   * write group: crc32(schema ++ table) ^ crc32(colName ++ valueString) per
   * handle-key column, then % partitionNum
   * (pkg/hash/position_inertia.go:41-56, partition/index_value.go:45-67).
   * Spark's built-in `crc32` is the same IEEE polynomial and codegen'd, so
   * a migrating user's rows land on the SAME Kafka partitions they did
   * under tiflow — no custom Expression needed.
   *
   * `keyCols` are (columnName, valueString) pairs; value rendering must
   * match the reference's ColumnValueString (int64 → decimal string).
   */
  def dispatchTiflowCompat(n: Int, schema: Column, table: Column,
                           keyCols: Seq[(String, Column)]): Column = {
    val base = crc32(concat(schema, table).cast("binary"))
    val mixed = keyCols.foldLeft(base) { case (acc, (name, value)) =>
      acc.bitwiseXOR(crc32(concat(lit(name), value.cast("string")).cast("binary")))
    }
    pmod(mixed, lit(n.toLong))
  }

  /**
   * R3 — index-value dispatcher with a NAMED index
   * (partition/index_value.go:57-82, the `index` option of the
   * dispatch rule, config/sink.go:390): resolve the configured index's
   * columns from the table's index registry and hash (name, value)
   * pairs exactly like the handle-key path. A missing index fails the
   * dispatch like `ErrDispatcherFailed` (:68-74) — NOT a silent
   * fallback. `colValue` supplies per-column values; pass the
   * before-image for DELETE rows (the dispatchCols fallback :50-53).
   *
   * Engine-portable form: XOR of seeded per-column hashes mod n —
   * mirrors the reference's XOR-of-write-groups structure. For
   * byte-exact broker-partition parity use
   * [[dispatchTiflowCompatIndex]].
   */
  def dispatchByNamedIndex(n: Int, indexes: Map[String, Seq[String]],
      indexName: String, colValue: String => Column): Column = {
    val cols = resolveIndex(indexes, indexName)
    // the 0x01 separator keeps (name, value) injective ("pk","180" vs
    // "pk1","80"); oracle twin: name || chr(1) || valueString
    pmod(cols.map(c => graft.core.Hashing.portableLong(
        concat(lit(c), lit("\u0001"), colValue(c).cast("string"))))
      .reduce(_ bitwiseXOR _), lit(n.toLong))
  }

  /** Byte-exact tiflow parity for the named-index dispatcher — resolves
    * the index then hashes like [[dispatchTiflowCompat]]. */
  def dispatchTiflowCompatIndex(n: Int, schema: Column, table: Column,
      indexes: Map[String, Seq[String]], indexName: String,
      colValue: String => Column): Column =
    dispatchTiflowCompat(n, schema, table,
      resolveIndex(indexes, indexName).map(c => c -> colValue(c)))

  private def resolveIndex(indexes: Map[String, Seq[String]],
      indexName: String): Seq[String] =
    indexes.getOrElse(indexName, throw new IllegalArgumentException(
      s"index not found when dispatch event, index: $indexName"))

  private def xxhashLess(a: Column, b: Column): Column =
    graft.core.Hashing.portableLong(concat_ws("\u0001", a, b))

  /**
   * R4 — causality/conflict partitioning. tiflow maintains a conflict-
   * detector DAG with 16384 slots (pkg/causality/conflict_detector.go:31-141)
   * to serialize txns touching the same key while parallelizing the rest.
   * Under Spark microbatch semantics the DAG collapses to: derive a
   * causality key per row; `repartition` on it; apply each partition
   * sequentially ordered by commit_ts — same-key rows land in the same
   * partition in order, different keys parallelize. `Sinks.sqlFileSink`
   * does exactly that with this slot.
   */
  val DefaultSlots = 16384
  def causalitySlot(key: Column, slots: Int = DefaultSlots): Column =
    pmod(hash32(key), lit(slots.toLong))
}
