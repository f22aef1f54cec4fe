package graft.streaming

/**
 * Pulsar sink option surface (SURVEY.md §2.8 K3):
 * `pkg/sink/pulsar/config.go:41-129` — URI sanity (scheme, host, AND
 * path must be non-empty: the path names the topic), the pulsar scheme
 * gate, broker-URL derivation (`pulsar+http`/`pulsar+https` downgrade to
 * plain `http`/`https` for the admin endpoint, the rest keep their
 * scheme), and nil-coalescing default fill of the five producer knobs
 * (connection-timeout 5 s, operation-timeout 30 s, batching-max-messages
 * 1000, batching-max-publish-delay 10 ms, send-timeout 30 s) over the
 * changefeed's config block.
 */
object PulsarOptions {

  val DefaultConnectionTimeoutSec = 5
  val DefaultOperationTimeoutSec = 30
  val DefaultBatchingMaxMessages = 1000
  val DefaultBatchingMaxPublishDelayMs = 10
  val DefaultSendTimeoutSec = 30

  final case class Options(
      brokerUrl: String,
      topic: String,
      connectionTimeoutSec: Int = DefaultConnectionTimeoutSec,
      operationTimeoutSec: Int = DefaultOperationTimeoutSec,
      batchingMaxMessages: Int = DefaultBatchingMaxMessages,
      batchingMaxPublishDelayMs: Int = DefaultBatchingMaxPublishDelayMs,
      sendTimeoutSec: Int = DefaultSendTimeoutSec)

  def isPulsarScheme(scheme: String): Boolean =
    Set("pulsar", "pulsar+ssl", "pulsar+http", "pulsar+https")(scheme)

  /** `NewPulsarConfig`: Left = the reference's plain-error strings
    * (checkSinkURI fires before the scheme gate). The config block is a
    * per-knob Option map; set knobs survive, unset fill from defaults. */
  def fromUri(uri: String, configBlock: Map[String, Int] = Map.empty)
      : Either[String, Options] = {
    val u = SinkUri(uri)
    u.invalid.foreach(e => return Left(e))
    val (scheme, host, path) = (u.scheme, u.authority, u.path)
    if (scheme.isEmpty) return Left("scheme is empty")
    if (host.isEmpty) return Left("host is empty")
    // Go url.Parse leaves Path "" for `pulsar://host` and "/" for
    // `pulsar://host/` — only the former fails checkSinkURI
    if (path.isEmpty) return Left("path is empty")
    if (!isPulsarScheme(scheme)) return Left(s"invalid pulsar scheme $scheme")
    val brokerScheme = scheme match {
      case "pulsar+http" => "http"
      case "pulsar+https" => "https"
      case s => s
    }
    def knob(key: String, dflt: Int): Int = configBlock.getOrElse(key, dflt)
    Right(Options(
      brokerUrl = s"$brokerScheme://$host",
      topic = path.stripPrefix("/"),
      connectionTimeoutSec =
        knob("connection-timeout", DefaultConnectionTimeoutSec),
      operationTimeoutSec =
        knob("operation-timeout", DefaultOperationTimeoutSec),
      batchingMaxMessages =
        knob("batching-max-messages", DefaultBatchingMaxMessages),
      batchingMaxPublishDelayMs =
        knob("batching-max-publish-delay", DefaultBatchingMaxPublishDelayMs),
      sendTimeoutSec = knob("send-timeout", DefaultSendTimeoutSec)))
  }
}
