package graft.diff

/**
 * sync_diff_inspector data-source config surfaces beyond the table/range
 * rules: the TLS `security` block and the MySQL driver parameter
 * derivation (reference sync_diff_inspector/config/config.go:106-218).
 * The sandbox has no MySQL socket, so like Precheck's offline
 * server-config checks this models the CONFIG semantics — validation,
 * registration naming, and the exact driver params a connection would
 * carry — as pure, testable functions.
 */
object DiffConfig {

  /**
   * The `security` wrapper (config.go:106-118): CA/cert/key each settable
   * by path OR raw content. Mirrors RegisterTLS (:164-190): an all-empty
   * block registers nothing; a populated one must not set path and bytes
   * for the same item, and cert/key must come together (a cert without
   * its key cannot complete a handshake — NewTLSConfig rejects the pair).
   */
  final case class Security(
      caPath: String = "", certPath: String = "", keyPath: String = "",
      caBytes: String = "", certBytes: String = "", keyBytes: String = "") {

    def isEmpty: Boolean =
      Seq(caPath, certPath, keyPath, caBytes, certBytes, keyBytes)
        .forall(_.isEmpty)

    /**
     * Validate and mint the driver-registry TLS name (:186-188 —
     * `sync-diff-inspector-<uuid>`; deterministic content hash here so
     * replayed configs register idempotently). None = no TLS configured.
     */
    def register(): Option[String] = {
      require(!(caPath.nonEmpty && caBytes.nonEmpty),
        "security: cannot set both ca-path and ca-bytes")
      require(!(certPath.nonEmpty && certBytes.nonEmpty),
        "security: cannot set both cert-path and cert-bytes")
      require(!(keyPath.nonEmpty && keyBytes.nonEmpty),
        "security: cannot set both key-path and key-bytes")
      val hasCert = certPath.nonEmpty || certBytes.nonEmpty
      val hasKey = keyPath.nonEmpty || keyBytes.nonEmpty
      require(hasCert == hasKey,
        "security: cert and key must be provided together")
      if (isEmpty) None
      else {
        val digest = graft.core.Hashing.md5(
          Seq(caPath, certPath, keyPath, caBytes, certBytes, keyBytes)
            .mkString("\u0000").getBytes("UTF-8"))
        Some("sync-diff-inspector-" +
          digest.take(8).map("%02x".format(_)).mkString)
      }
    }
  }

  /** `snapshot = "auto"` (case-insensitive) means "resolve from the
    * target's syncpoint" (IsAutoSnapshot, config.go:142-145). */
  def isAutoSnapshot(snapshot: String): Boolean =
    snapshot.equalsIgnoreCase("auto")

  /**
   * Driver connection params (ToDriverConfig, config.go:192-218): fixed
   * utf8mb4 charset, the unified UTC time_zone, `tidb_snapshot` only for
   * a concrete (non-auto) snapshot, the registered TLS name when the
   * security block is populated, then per-source session overrides —
   * strings SQL-quoted with '' doubling, everything else formatted raw.
   */
  def driverParams(snapshot: String = "", security: Security = Security(),
                   sessionConfig: Seq[(String, Any)] = Nil)
      : Map[String, String] = {
    val base = Map("charset" -> "utf8mb4", "time_zone" -> "'+00:00'")
    val snap =
      if (snapshot.nonEmpty && !isAutoSnapshot(snapshot))
        Map("tidb_snapshot" -> snapshot)
      else Map.empty[String, String]
    val tls = security.register().map("tls" -> _).toMap
    val session = sessionConfig.map {
      case (k, v: String) => k -> ("'" + v.replace("'", "''") + "'")
      case (k, v) => k -> String.valueOf(v)
    }.toMap
    base ++ snap ++ tls ++ session
  }
}
