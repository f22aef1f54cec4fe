package graft.streaming

import graft.core.VersionGate

/**
 * Changefeed meta-info upgrade fixups (reference
 * cdc/model/changefeed.go:411-577 FixIncompatible +
 * pkg/version/creator_version_gate.go): when an owner of a NEWER TiCDC
 * adopts changefeeds written by an OLDER creator version, it repairs the
 * stored info in place. The creator gates:
 *
 *  - state-from-admin-job: creator "" (pre-gate owners) or < 4.0.16 /
 *    < 5.0.6 WITHIN THE SAME MAJOR — old owners encoded pause/finish in
 *    AdminJobType while leaving State "normal";
 *  - accept-unknown-protocols: creator "" or < 5.4.0 — those accepted any
 *    protocol string on MQ sinks; unknown (or "default") protocols are
 *    rewritten to open-protocol, the URI taking priority over the config;
 *  - protocol-in-mysql-uri: creator "" or < 6.1.1 — a protocol parameter
 *    smuggled onto a NON-MQ sink is deleted and the config protocol
 *    cleared;
 *  - inherit-scheduler-v66: creator 6.6.x exactly — v6.6's
 *    region-per-span knob migrates to enable-table-across-nodes +
 *    region-threshold.
 *
 * Plus the unconditional zero/nil fills (memory quota 1 GiB, error stuck
 * duration 30 min, default scheduler). URI rewrites re-encode the query
 * with SORTED keys, exactly like Go's url.Values.Encode.
 */
object CreatorFix {

  // ---- CreatorVersionGate -------------------------------------------------

  private def creator(v: String): Option[VersionGate.SemVer] =
    VersionGate.parse(VersionGate.sanitize(v)).toOption

  /** changefeedStateFromAdminJobVersions: 4.0.16, 5.0.6 (same-major). */
  def stateFromAdminJob(creatorVersion: String): Boolean =
    if (creatorVersion.isEmpty) true
    else creator(creatorVersion).exists { v =>
      Seq(VersionGate.SemVer(4, 0, 16, "", ""),
        VersionGate.SemVer(5, 0, 6, "", ""))
        .exists(g => v.major == g.major && v.compare(g) < 0)
    }

  def acceptUnknownProtocols(creatorVersion: String): Boolean =
    creatorVersion.isEmpty || creator(creatorVersion)
      .exists(_.compare(VersionGate.SemVer(5, 4, 0, "", "")) < 0)

  def acceptProtocolInMysqlUri(creatorVersion: String): Boolean =
    creatorVersion.isEmpty || creator(creatorVersion)
      .exists(_.compare(VersionGate.SemVer(6, 1, 1, "", "")) < 0)

  def inheritSchedulerV66(creatorVersion: String): Boolean =
    creatorVersion.nonEmpty && creator(creatorVersion)
      .exists(v => v.major == 6 && v.minor == 6)

  // ---- protocol / scheme tables ------------------------------------------

  /** ParseSinkProtocolFromString's accepted names (sink_protocol.go). */
  val KnownProtocols: Set[String] = Set("default", "canal", "avro",
    "flat-avro", "maxwell", "canal-json", "craft", "open-protocol", "csv",
    "debezium", "simple")

  val MqSchemes: Set[String] = Set("kafka", "kafka+ssl", "pulsar",
    "pulsar+ssl", "pulsar+http", "pulsar+https")

  // ---- the changefeed info model -----------------------------------------

  final case class FeedInfo(
      state: String,
      adminJobType: Int, // 0 none, 1 stop, 2 resume, 3 remove, 4 finish
      errorCode: Option[String],
      creatorVersion: String,
      sinkUri: String,
      configProtocol: Option[String],
      memoryQuota: Long = 0L,
      errorStuckMs: Option[Long] = None,
      schedulerPresent: Boolean = true,
      regionPerSpan: Long = 0L,
      enableTableAcrossNodes: Boolean = false,
      regionThreshold: Long = 0L)

  /** url.Values.Encode: keys sorted; an empty set renders no '?'. */
  private def renderUri(u: SinkUri, params: Seq[(String, String)]): String =
    u.withQuery(params.sortBy(_._1))

  /** fixState (changefeed.go:451-487). */
  def fixState(info: FeedInfo): FeedInfo =
    if (info.state != "normal") info
    else info.adminJobType match {
      case 0 | 2 =>
        info.errorCode match {
          case Some(code) if FeedStateMachine.isGcFastFailCode(code) =>
            info.copy(state = "failed")
          case Some(_) => info.copy(state = "warning")
          case None => info
        }
      case 1 => info.copy(state = "stopped")
      case 4 => info.copy(state = "finished")
      case 3 => info.copy(state = "removed")
      case _ => info
    }

  private def needsMqFix(protocol: String): Boolean =
    !KnownProtocols.contains(protocol) || protocol == "default"

  /** fixMQSinkProtocol (:518-556). */
  def fixMqProtocol(info: FeedInfo): FeedInfo = {
    val u = SinkUri(info.sinkUri)
    if (!MqSchemes.contains(u.scheme)) return info
    val params = u.pairs
    val uriProto = params.collectFirst { case ("protocol", v) => v }
    uriProto match {
      case Some(p) if needsMqFix(p) =>
        val fixed = params.map {
          case ("protocol", _) => ("protocol", "open-protocol")
          case kv => kv
        }
        info.copy(sinkUri = renderUri(u, fixed),
          configProtocol = Some("open-protocol"))
      case Some(_) => info // a known URI protocol wins and needs nothing
      case None =>
        if (needsMqFix(info.configProtocol.getOrElse("")))
          info.copy(configProtocol = Some("open-protocol"))
        else info
    }
  }

  /** fixMySQLSinkProtocol (:488-516). */
  def fixMysqlProtocol(info: FeedInfo): FeedInfo = {
    val u = SinkUri(info.sinkUri)
    if (MqSchemes.contains(u.scheme)) return info
    val params = u.pairs
    val uriProto = params.collectFirst { case ("protocol", v) => v }
    if (uriProto.nonEmpty || info.configProtocol.nonEmpty) {
      val stripped = params.filterNot(_._1 == "protocol")
      info.copy(sinkUri = renderUri(u, stripped),
        configProtocol = Some(""))
    } else info
  }

  // ---- RmUnusedFields (changefeed.go:343-409) -----------------------------

  val MqOnlyFields: Set[String] = Set("dispatch_rules", "schema_registry",
    "encoder_concurrency", "enable_kafka_sink_v2",
    "only_output_updated_columns", "delete_only_output_handle_key_columns",
    "content_compatible", "kafka_config")
  val StorageOnlyFields: Set[String] = Set("csv_config", "date_separator",
    "enable_partition_separator", "file_index_width", "cloud_storage_config")
  val DbOnlyFields: Set[String] = Set("enable_sync_point", "bdr_mode",
    "sync_point_interval", "sync_point_retention", "consistent", "safe_mode",
    "mysql_config")

  val StorageSchemes: Set[String] = Set("file", "s3", "gcs", "gs", "azblob",
    "azure", "noop")
  val MySqlCompatSchemes: Set[String] = Set("mysql", "mysql+ssl", "tidb",
    "tidb+ssl")

  /**
   * VerifyAndComplete's serialization hygiene (changefeed.go:343-380): a
   * changefeed's stored config only keeps the fields its sink scheme can
   * ever use. Blackhole (a testing sink) and an unparsable URI keep
   * everything; MQ sinks drop the schema registry unless the protocol is
   * avro; MySQL-compatible sinks additionally shed protocol+terminator.
   * `fields` are the present config field names; returns the retained set.
   */
  def rmUnusedFields(sinkUri: String, protocol: Option[String],
      fields: Set[String]): Set[String] = {
    val sch = SinkUri(sinkUri).scheme
    if (sch.isEmpty) return fields // unparsable: keep (warn)
    if (sch == "blackhole") return fields
    var f = fields
    if (!MqSchemes.contains(sch)) f = f -- MqOnlyFields
    else if (!protocol.contains("avro")) f -= "schema_registry"
    if (!StorageSchemes.contains(sch)) f = f -- StorageOnlyFields
    if (!MySqlCompatSchemes.contains(sch)) f = f -- DbOnlyFields
    else f = f - "protocol" - "terminator"
    f
  }

  val DefaultMemoryQuota: Long = 1024L * 1024 * 1024
  val DefaultErrorStuckMs: Long = 30 * 60 * 1000L
  val DefaultRegionThreshold: Long = 100000L

  /** FixIncompatible (:411-448), gates applied in order. */
  def fixIncompatible(info0: FeedInfo): FeedInfo = {
    var info = info0
    if (stateFromAdminJob(info.creatorVersion)) info = fixState(info)
    if (acceptUnknownProtocols(info.creatorVersion)) info = fixMqProtocol(info)
    if (acceptProtocolInMysqlUri(info.creatorVersion))
      info = fixMysqlProtocol(info)
    if (info.memoryQuota == 0L)
      info = info.copy(memoryQuota = DefaultMemoryQuota)
    if (info.errorStuckMs.isEmpty)
      info = info.copy(errorStuckMs = Some(DefaultErrorStuckMs))
    // fixScheduler (replica_config.go FixScheduler)
    if (!info.schedulerPresent)
      info = info.copy(schedulerPresent = true, regionPerSpan = 0L,
        enableTableAcrossNodes = false,
        regionThreshold = DefaultRegionThreshold)
    else if (inheritSchedulerV66(info.creatorVersion) &&
      info.regionPerSpan != 0L)
      info = info.copy(enableTableAcrossNodes = true,
        regionThreshold = info.regionPerSpan, regionPerSpan = 0L)
    info
  }
}
