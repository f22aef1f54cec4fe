package graft.streaming

/**
 * Kafka sink-URI option surface (SURVEY.md §2.8 K2): the reference parses
 * producer options out of the `--sink-uri` query string, then validates and
 * auto-adjusts them against the live topic/broker metadata before the
 * producer ever starts (`pkg/sink/kafka/options.go`). A live broker is out
 * of scope in this sandbox, so — like [[graft.diff.DiffConfig]] — the rule
 * set is modeled as a pure function of (options, topic metadata):
 *
 *  - URI params (options.go:119-127,229-325): `partition-num` (must be
 *    positive), `replication-factor`, `kafka-version`, `max-message-bytes`,
 *    `max-retry` (negative silently ignored, :263-267), `compression`,
 *    `kafka-client-id`, `auto-create-topic`, `dial/write/read-timeout`
 *    (Go duration grammar), `required-acks` (only -1/0/1 valid, :104-115).
 *  - Client-id minting (options.go:563-578): a configured id is taken
 *    verbatim; otherwise `TiCDC_producer_<addr>_<namespace>_<id>` with
 *    `[?:,"]` squashed to `_`; either way the result must match
 *    `\A[A-Za-z0-9._-]+\z`.
 *  - `SetPartitionNum` (options.go:199-226): unset adopts the topic's real
 *    count; fewer-than-actual only warns (some partitions get no traffic);
 *    more-than-actual is a hard error (messages would target partitions
 *    that do not exist).
 *  - `AdjustOptions` (options.go:580-686): with `required-acks = -1` the
 *    declared `replication-factor` must cover `min.insync.replicas`
 *    (topic config falling back to broker when the topic exists, broker
 *    config when it does not; an invisible config — Confluent Cloud —
 *    only warns, :688-756). The producer's `max-message-bytes` is capped
 *    to the topic's `max.message.bytes` (broker's `message.max.bytes`
 *    when the topic has no override or does not exist yet) MINUS a
 *    128-byte overhead (:44-48) — messages grow in flight, so a produce
 *    sized exactly at the broker cap still fails server-side. An absent
 *    topic with no visible broker cap is an error; an absent topic with
 *    `partition-num` unset falls back to the default 3 (:44 top, :680-685).
 *
 * Compression names are normalized lowercase/trimmed; an unknown algorithm
 * warns and degrades to `none` (sarama.go:78-92).
 */
object KafkaOptions {

  val DefaultMaxMessageBytes: Int = 10 * 1024 * 1024 // config/sink.go:35
  val MaxMessageBytesOverhead: Int = 128             // options.go:48
  val DefaultPartitionNum: Int = 3                   // options.go:39
  val DefaultMaxRetry: Int = 5                       // options.go:41

  // RequiredAcks (options.go:90-101)
  val NoResponse = 0
  val WaitForLocal = 1
  val WaitForAll = -1

  final case class Options(
      brokerEndpoints: Seq[String] = Nil,
      autoCreate: Boolean = true,
      partitionNum: Int = 0, // 0 = unset in the URI
      replicationFactor: Int = 1,
      version: String = "2.4.0",
      isAssignedVersion: Boolean = false,
      maxMessageBytes: Int = DefaultMaxMessageBytes,
      maxRetry: Int = DefaultMaxRetry,
      compression: String = "none",
      clientId: String = "",
      requiredAcks: Int = WaitForAll,
      dialTimeoutMs: Long = 10000L,
      writeTimeoutMs: Long = 10000L,
      readTimeoutMs: Long = 10000L)

  /** What AdjustOptions sees of the cluster: the topic (if it exists), its
    * per-topic config overrides, and the broker-level configs. `None` for a
    * broker config models "invisible to us" (Confluent Cloud hides
    * `min.insync.replicas`; a broker that hides `message.max.bytes` fails
    * topic creation sizing). */
  final case class TopicMeta(
      exists: Boolean,
      numPartitions: Int = 0,
      topicMaxMessageBytes: Option[Int] = None,
      brokerMessageMaxBytes: Option[Int] = None,
      topicMinInsyncReplicas: Option[Int] = None,
      brokerMinInsyncReplicas: Option[Int] = None)

  /** One adjusted result: the final options plus the reference's warn-level
    * log events, as stable machine-checkable flags. */
  final case class Adjusted(options: Options, warnings: Seq[String])

  // Error classes, named after the reference's cerror codes.
  val ErrInvalidPartitionNum = "ErrKafkaInvalidPartitionNum"
  val ErrInvalidRequiredAcks = "ErrKafkaInvalidRequiredAcks"
  val ErrInvalidConfig = "ErrKafkaInvalidConfig"
  val ErrInvalidClientID = "ErrKafkaInvalidClientID"
  val ErrBrokerConfigNotFound = "ErrKafkaBrokerConfigNotFound"

  final case class KafkaConfigException(errClass: String, msg: String)
      extends IllegalArgumentException(s"$errClass: $msg")

  // ---------------------------------------------------------------- URI --

  /** Go `time.ParseDuration` for the grammar the sink URIs use:
    * `300ms`, `1.5h`, `2h45m`, bare-number-less units over ns/us/ms/s/m/h.
    * Returns milliseconds. */
  def parseGoDurationMs(s: String): Either[String, Long] = {
    val re = raw"([0-9]*\.?[0-9]+)(ns|us|µs|ms|s|m|h)".r
    val all = re.findAllMatchIn(s).toSeq
    val consumed = all.map(_.matched).mkString
    val sign = if (s.startsWith("-")) -1 else 1
    val body = s.stripPrefix("-").stripPrefix("+")
    if (body == "0") Right(0L) // Go's special case: bare 0 needs no unit
    else if (body.isEmpty || consumed != body) Left(s"invalid duration: $s")
    else {
      val ns = all.map { m =>
        val v = m.group(1).toDouble
        val unit = m.group(2) match {
          case "ns" => 1.0
          case "us" | "µs" => 1e3
          case "ms" => 1e6
          case "s" => 1e9
          case "m" => 60e9
          case "h" => 3600e9
        }
        v * unit
      }.sum
      Right(sign * (ns / 1e6).toLong)
    }
  }

  /** `Options.Apply` (options.go:229-325) over the sink URI: host list +
    * query params, with the reference's validation. */
  def fromUri(uri: String): Either[(String, String), Options] =
    fromUri(SinkUri(uri))

  def fromUri(u: SinkUri): Either[(String, String), Options] =
    u.invalid.map(e => Left(ErrInvalidConfig -> e)).getOrElse(
      applyParams(Options(brokerEndpoints = u.authority.split(',').toSeq), u.params))

  /** The per-param fold; Left = (errClass, message). As the reference
    * binds every param before it checks any, a value that does not parse
    * as its knob's type is an `ErrKafkaInvalidConfig` first. */
  def applyParams(base: Options, params: Map[String, String])
      : Either[(String, String), Options] = {
    var o = base
    val ints = Seq("partition-num", "replication-factor", "max-message-bytes",
        "max-retry", "required-acks").flatMap(k => params.get(k).map { v =>
      k -> v.toIntOption.getOrElse(return Left(
        ErrInvalidConfig -> s"invalid $k $v, which is not a number"))
    }).toMap
    val autoCreate = params.get("auto-create-topic").map(v =>
      v.toBooleanOption.getOrElse(return Left(
        ErrInvalidConfig -> s"invalid auto-create-topic $v, which is not a boolean")))
    ints.get("partition-num").foreach { n =>
      if (n <= 0)
        return Left(ErrInvalidPartitionNum -> s"invalid partition num $n")
      o = o.copy(partitionNum = n)
    }
    ints.get("replication-factor").foreach(n => o = o.copy(replicationFactor = n))
    params.get("kafka-version")
      .foreach(v => o = o.copy(version = v, isAssignedVersion = true))
    ints.get("max-message-bytes").foreach(n => o = o.copy(maxMessageBytes = n))
    ints.get("max-retry").filter(_ >= 0).foreach(n => o = o.copy(maxRetry = n))
    params.get("compression").foreach(v => o = o.copy(compression = v))
    autoCreate.foreach(b => o = o.copy(autoCreate = b))
    for ((key, set) <- Seq[(String, Long => Options)](
        "dial-timeout" -> (ms => o.copy(dialTimeoutMs = ms)),
        "write-timeout" -> (ms => o.copy(writeTimeoutMs = ms)),
        "read-timeout" -> (ms => o.copy(readTimeoutMs = ms)))) {
      params.get(key).filter(_.nonEmpty).foreach { v =>
        parseGoDurationMs(v) match {
          case Left(e) => return Left(ErrInvalidConfig -> e)
          case Right(ms) => o = set(ms)
        }
      }
    }
    ints.get("required-acks").foreach { a =>
      if (a != WaitForAll && a != WaitForLocal && a != NoResponse)
        return Left(ErrInvalidRequiredAcks -> s"invalid required acks $a")
      o = o.copy(requiredAcks = a)
    }
    Right(o)
  }

  /** `NewKafkaClientID` (options.go:563-578). */
  def clientId(captureAddr: String, namespace: String, changefeedId: String,
               configured: String = ""): Either[(String, String), String] = {
    val id =
      if (configured.nonEmpty) configured
      else s"TiCDC_producer_${captureAddr}_${namespace}_$changefeedId"
        .replaceAll("[?:,\"]", "_")
    if (id.matches("[A-Za-z0-9._-]+")) Right(id)
    else Left(ErrInvalidClientID -> id)
  }

  /** Normalized producer compression + the degrade warning
    * (sarama.go:78-92). */
  def producerCompression(compression: String): (String, Seq[String]) =
    compression.trim.toLowerCase match {
      case c @ ("none" | "gzip" | "snappy" | "lz4" | "zstd") => (c, Nil)
      case _ => ("none", Seq("unsupported-compression"))
    }

  // ------------------------------------------------------------- adjust --

  /** `SetPartitionNum` (options.go:199-226). */
  def setPartitionNum(o: Options, realPartitionCount: Int)
      : Either[(String, String), Adjusted] =
    if (o.partitionNum == 0)
      Right(Adjusted(o.copy(partitionNum = realPartitionCount), Nil))
    else if (o.partitionNum < realPartitionCount)
      Right(Adjusted(o, Seq("partition-num-less-than-topic")))
    else if (o.partitionNum > realPartitionCount)
      Left(ErrInvalidPartitionNum ->
        s"sink-uri partition-num ${o.partitionNum} > actual $realPartitionCount")
    else Right(Adjusted(o, Nil))

  /** `getTopicConfig` (options.go:759-774): the topic-level override if the
    * topic carries one, else the broker-level config. */
  private def topicThenBroker(topicCfg: Option[Int], brokerCfg: Option[Int])
      : Option[Int] = topicCfg.orElse(brokerCfg)

  /** `validateMinInsyncReplicas` (options.go:688-756): only meaningful for
    * acks=-1; an invisible config warns and passes. */
  def validateMinInsyncReplicas(o: Options, meta: TopicMeta)
      : Either[(String, String), Seq[String]] = {
    val (cfg, from) =
      if (meta.exists)
        (topicThenBroker(meta.topicMinInsyncReplicas,
          meta.brokerMinInsyncReplicas), "topic")
      else (meta.brokerMinInsyncReplicas, "broker")
    cfg match {
      case None => Right(Seq("min-insync-replicas-not-found"))
      case Some(minIsr) =>
        if (o.replicationFactor < minIsr)
          Left(ErrInvalidConfig ->
            s"replication-factor ${o.replicationFactor} < min.insync.replicas $minIsr of $from")
        else Right(Nil)
    }
  }

  /** The two-branch `max-message-bytes` cap shared by the exists/absent
    * legs (options.go:621-632,664-676): net effect
    * `min(declared, cap − overhead)`, with a warning only on the
    * cap-not-larger-than-declared leg. */
  private def capMaxMessageBytes(o: Options, cap: Int, warnFlag: String)
      : (Options, Seq[String]) = {
    val real = cap - MaxMessageBytesOverhead
    if (cap <= o.maxMessageBytes)
      (o.copy(maxMessageBytes = real), Seq(warnFlag))
    else if (real < o.maxMessageBytes) (o.copy(maxMessageBytes = real), Nil)
    else (o, Nil)
  }

  /** `AdjustOptions` (options.go:580-686) as a pure function. */
  def adjust(o0: Options, meta: TopicMeta): Either[(String, String), Adjusted] = {
    var warnings = Vector.empty[String]
    if (o0.requiredAcks == WaitForAll)
      validateMinInsyncReplicas(o0, meta) match {
        case Left(e) => return Left(e)
        case Right(w) => warnings ++= w
      }
    if (meta.exists) {
      val cap = topicThenBroker(meta.topicMaxMessageBytes,
        meta.brokerMessageMaxBytes) match {
        case Some(c) => c
        case None =>
          return Left(ErrBrokerConfigNotFound ->
            "cannot find max.message.bytes from topic or broker")
      }
      val (o1, w1) = capMaxMessageBytes(o0, cap, "topic-cap-below-declared")
      warnings ++= w1
      if (o1.autoCreate) warnings :+= "topic-already-exists"
      setPartitionNum(o1, meta.numPartitions) match {
        case Left(e) => Left(e)
        case Right(Adjusted(o2, w2)) => Right(Adjusted(o2, warnings ++ w2))
      }
    } else {
      val cap = meta.brokerMessageMaxBytes match {
        case Some(c) => c
        case None =>
          return Left(ErrBrokerConfigNotFound ->
            "cannot find message.max.bytes from broker")
      }
      val (o1, w1) = capMaxMessageBytes(o0, cap, "broker-cap-below-declared")
      warnings ++= w1
      val o2 =
        if (o1.partitionNum == 0) {
          warnings :+= "partition-num-defaulted"
          o1.copy(partitionNum = DefaultPartitionNum)
        } else o1
      Right(Adjusted(o2, warnings))
    }
  }
}
