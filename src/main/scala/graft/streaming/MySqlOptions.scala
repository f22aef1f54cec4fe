package graft.streaming

/**
 * MySQL sink-URI option surface (SURVEY.md §2.8 K1): the reference
 * validates and normalizes the `mysql://` sink's producer knobs out of the
 * URI query string before the backend ever dials (`pkg/sink/mysql/
 * config.go:152-498`). Same pattern as [[KafkaOptions]]: the rule set is a
 * pure function of (file config, URI params, server timezone):
 *
 *  - Numeric clamp/error rules: `worker-count` (≤0 error, >1024 clamps,
 *    config.go:466-484), `max-txn-row` (≤0 error, >2048 clamps, :486-504),
 *    `max-multi-update-row` (≤0 error, >256 clamps, :506-524),
 *    `max-multi-update-row-size` (<0 error — 0 is legal "never multi
 *    update", >8192 clamps, :526-545).
 *  - `tidb-txn-mode` (:547-560): lowercased; anything but
 *    optimistic/pessimistic WARNS and keeps the default (never an error).
 *  - `time-zone` (:577-630): absent → the server's zone is adopted (warn —
 *    the reference nags to set it explicitly); present-but-empty → empty
 *    string, the downstream's zone decides (warn); present → must parse
 *    AND match the server zone exactly, else a hard error (silent data
 *    inconsistency otherwise). Adopted zones render %q-quoted — the DSN
 *    fragment is `time_zone="UTC"`.
 *  - `read-timeout`/`write-timeout`/`timeout` (:632-642): Go-duration
 *    validated, stored as the original string.
 *  - Plain overrides: `safe-mode`, `batch-dml-enable`, `multi-stmt-enable`,
 *    `cache-prep-stmts`, `has-vector-type`.
 *  - Merge order (mergeConfig :229-259, mergo.WithOverride): the file
 *    config block fills first, URI params override per-field.
 *  - Scheme gate (:163-166): only mysql / mysql+ssl / tidb / tidb+ssl.
 *  - `IsSinkSafeMode` (:261-283): the pre-start safe-mode probe — merged
 *    `safe-mode` param or the default (false since v6.4.0).
 *
 * Defaults per NewConfig (config.go:131-151).
 */
object MySqlOptions {

  val DefaultWorkerCount = 16
  val DefaultMaxTxnRow = 256
  val DefaultMaxMultiUpdateRowCount = 40
  val DefaultMaxMultiUpdateRowSize = 1024
  val MaxWorkerCount = 1024
  val MaxMaxTxnRow = 2048
  val MaxMaxMultiUpdateRowCount = 256
  val MaxMaxMultiUpdateRowSize = 8192
  val DefaultTiDBTxnMode = "optimistic"
  val DefaultTimeout = "2m"
  val DefaultSafeMode = false

  val ErrInvalidConfig = "ErrMySQLInvalidConfig"

  final case class Options(
      workerCount: Int = DefaultWorkerCount,
      maxTxnRow: Int = DefaultMaxTxnRow,
      maxMultiUpdateRowCount: Int = DefaultMaxMultiUpdateRowCount,
      maxMultiUpdateRowSize: Int = DefaultMaxMultiUpdateRowSize,
      tidbTxnMode: String = DefaultTiDBTxnMode,
      readTimeout: String = DefaultTimeout,
      writeTimeout: String = DefaultTimeout,
      dialTimeout: String = DefaultTimeout,
      safeMode: Boolean = DefaultSafeMode,
      timezone: String = "",
      batchDMLEnable: Boolean = true,
      multiStmtEnable: Boolean = true,
      cachePrepStmts: Boolean = true,
      hasVectorType: Boolean = false)

  final case class Adjusted(options: Options, warnings: Seq[String])

  /** sink.IsMySQLCompatibleScheme (pkg/sink/sink_type.go). */
  def isMySqlCompatibleScheme(scheme: String): Boolean =
    Set("mysql", "mysql+ssl", "tidb", "tidb+ssl")(scheme.toLowerCase)

  /** util.GetTimezone semantics for the names the rule set compares:
    * "local"/"system" adopt the server's zone at the call site, otherwise
    * the IANA name must load. Returns the normalized zone id string. */
  private def loadZone(name: String, serverZone: String)
      : Either[(String, String), String] =
    name.toLowerCase match {
      case "local" | "system" => Right(serverZone)
      case _ =>
        try Right(java.time.ZoneId.of(name).getId)
        catch {
          case _: java.time.DateTimeException =>
            Left(ErrInvalidConfig -> s"invalid time zone: $name")
        }
    }

  /** `Config.Apply` over merged params (file block fills, URI overrides —
    * mergeConfig's mergo.WithOverride order). Left = (errClass, message);
    * Right carries the reference's warn-level events as stable flags. */
  def apply(serverTimezone: String, fileParams: Map[String, String],
            uriParams: Map[String, String]): Either[(String, String), Adjusted] = {
    val params = fileParams ++ uriParams
    var o = Options()
    var warnings = Vector.empty[String]

    // numeric clamp/error rules: only max-multi-update-row-size may be 0
    for ((key, cap, set) <- Seq[(String, Int, Int => Options)](
        ("worker-count", MaxWorkerCount, n => o.copy(workerCount = n)),
        ("max-txn-row", MaxMaxTxnRow, n => o.copy(maxTxnRow = n)),
        ("max-multi-update-row", MaxMaxMultiUpdateRowCount,
          n => o.copy(maxMultiUpdateRowCount = n)),
        ("max-multi-update-row-size", MaxMaxMultiUpdateRowSize,
          n => o.copy(maxMultiUpdateRowSize = n)))) {
      val zeroLegal = key == "max-multi-update-row-size"
      params.get(key).foreach { v =>
        val n = v.toIntOption.getOrElse(return Left(ErrInvalidConfig ->
          s"invalid $key $v, which is not a number"))
        if (n < 0 || (n == 0 && !zeroLegal))
          return Left(ErrInvalidConfig ->
            s"invalid $key $n, which must be greater than ${if (zeroLegal) "or equal to 0" else "0"}")
        if (n > cap) warnings :+= s"$key-capped"
        o = set(math.min(n, cap))
      }
    }

    params.get("tidb-txn-mode").filter(_.nonEmpty).foreach { v =>
      val s = v.toLowerCase
      if (s == "optimistic" || s == "pessimistic") o = o.copy(tidbTxnMode = s)
      else warnings :+= "invalid-tidb-txn-mode"
    }

    for ((key, set) <- Seq[(String, Boolean => Options)](
        "safe-mode" -> (b => o.copy(safeMode = b)),
        "batch-dml-enable" -> (b => o.copy(batchDMLEnable = b)),
        "multi-stmt-enable" -> (b => o.copy(multiStmtEnable = b)),
        "cache-prep-stmts" -> (b => o.copy(cachePrepStmts = b)),
        "has-vector-type" -> (b => o.copy(hasVectorType = b)))) {
      params.get(key).foreach { v =>
        o = set(boolParam(key, v).fold(e => return Left(e), identity))
      }
    }

    params.get("time-zone") match {
      case None =>
        warnings :+= "time-zone-not-specified"
        o = o.copy(timezone = s""""$serverTimezone"""")
      case Some("") =>
        warnings :+= "time-zone-empty-use-downstream"
        o = o.copy(timezone = "")
      case Some(tz) =>
        loadZone(tz, serverTimezone) match {
          case Left(e) => return Left(e)
          case Right(z) =>
            if (z != serverTimezone)
              return Left(ErrInvalidConfig ->
                ("the timezone of the TiCDC server and the sink-uri are " +
                  s"inconsistent. TiCDC server timezone: $serverTimezone, " +
                  s"sink-uri timezone: $z."))
            o = o.copy(timezone = s""""$z"""")
        }
    }

    for ((key, set) <- Seq[(String, String => Options)](
        "read-timeout" -> (s => o.copy(readTimeout = s)),
        "write-timeout" -> (s => o.copy(writeTimeout = s)),
        "timeout" -> (s => o.copy(dialTimeout = s)))) {
      params.get(key).foreach { v =>
        KafkaOptions.parseGoDurationMs(v) match {
          case Left(e) => return Left(ErrInvalidConfig -> e)
          case Right(_) => o = set(v)
        }
      }
    }

    Right(Adjusted(o, warnings))
  }

  /** `Config.Apply` straight off a sink URI (scheme gate included). */
  def fromUri(uri: String, serverTimezone: String,
              fileParams: Map[String, String] = Map.empty)
      : Either[(String, String), Adjusted] = {
    val u = SinkUri(uri)
    u.invalid.foreach(e => return Left(ErrInvalidConfig -> e))
    if (!isMySqlCompatibleScheme(u.scheme))
      return Left(ErrInvalidConfig ->
        s"can't create MySQL sink with unsupported scheme: ${u.scheme}")
    apply(serverTimezone, fileParams, u.params)
  }

  /** `IsSinkSafeMode` (config.go:261-283): the merged safe-mode param or
    * the default — no other validation runs on this early probe, but a
    * value that is not a boolean is an error, as in [[apply]]. */
  def isSinkSafeMode(uriParams: Map[String, String],
                     fileSafeMode: Option[Boolean])
      : Either[(String, String), Boolean] =
    uriParams.get("safe-mode").map(boolParam("safe-mode", _))
      .getOrElse(Right(fileSafeMode.getOrElse(DefaultSafeMode)))

  private def boolParam(key: String, v: String): Either[(String, String), Boolean] =
    v.toBooleanOption.toRight(ErrInvalidConfig ->
      s"invalid $key $v, which is not a boolean")
}
