package graft.streaming

/**
 * Storage sink option surface (SURVEY.md §2.8 K4): the reference's
 * cloud-storage sink validates and repairs its knobs out of the sink URI
 * and the replica-config block before the writer starts
 * (`pkg/sink/cloudstorage/config.go:34-235`). Pure function of
 * (file config, URI params) like [[KafkaOptions]]/[[MySqlOptions]] —
 * notable because THREE repair semantics live side by side:
 *
 *  - `worker-count` (:172-190): ≤0 hard error, >512 clamps with a warn.
 *  - `flush-interval` (:192-215): Go-duration parsed (parse failure is a
 *    hard error), then clamped into [2s, 10m] with a warn either way;
 *    empty string silently ignored.
 *  - `file-size` (:217-234): NO error leg at all — anything below 1 MiB
 *    (including 0 and negatives) clamps UP to the minimum, anything above
 *    512 MiB clamps down, both with warns.
 *  - `file-index-width` / `flush-concurrency` (Apply:146-152, from the
 *    config block only, never the URI): out-of-range values silently
 *    RESET TO THE DEFAULT — no error, no warn, no clamp (width range
 *    [6,20] default 20 per pkg/config/sink.go:66-71, concurrency range
 *    [1,512] default 1).
 *  - Scheme gate (sink_type.go:94-97): file/s3/gcs/gs/azblob/azure/noop.
 *  - Merge order (mergeConfig:156-170): config block fills, URI params
 *    override per-field.
 */
object StorageOptions {

  val DefaultWorkerCount = 16
  val MaxWorkerCount = 512
  val DefaultFlushIntervalMs = 5000L
  val MinFlushIntervalMs = 2000L
  val MaxFlushIntervalMs = 600000L
  val DefaultFileSize = 64 * 1024 * 1024
  val MinFileSize = 1024 * 1024
  val MaxFileSize = 512 * 1024 * 1024
  val MinFileIndexWidth = 6
  val MaxFileIndexWidth = 20
  val DefaultFileIndexWidth = MaxFileIndexWidth
  val DefaultFlushConcurrency = 1
  val MaxFlushConcurrency = 512

  val ErrInvalidConfig = "ErrStorageSinkInvalidConfig"

  final case class Options(
      workerCount: Int = DefaultWorkerCount,
      flushIntervalMs: Long = DefaultFlushIntervalMs,
      fileSize: Int = DefaultFileSize,
      fileIndexWidth: Int = DefaultFileIndexWidth,
      flushConcurrency: Int = DefaultFlushConcurrency)

  final case class Adjusted(options: Options, warnings: Seq[String])

  def isStorageScheme(scheme: String): Boolean =
    Set("file", "s3", "gcs", "gs", "azblob", "azure", "noop")(
      scheme.toLowerCase)

  /** `Config.Apply` over merged params (config block fills, URI
    * overrides). `fileIndexWidth`/`flushConcurrency` ride the config
    * block only, exactly like the reference (the URI never carries
    * them). */
  def apply(fileParams: Map[String, String], uriParams: Map[String, String],
            fileIndexWidth: Option[Int] = None,
            flushConcurrency: Option[Int] = None)
      : Either[(String, String), Adjusted] = {
    val params = fileParams ++ uriParams
    var o = Options()
    var warnings = Vector.empty[String]

    def notNumber(key: String, v: String) =
      Left(ErrInvalidConfig -> s"invalid $key $v, which is not a number")

    params.get("worker-count").foreach { v =>
      val n = v.toIntOption.getOrElse(return notNumber("worker-count", v))
      if (n <= 0)
        return Left(ErrInvalidConfig ->
          s"invalid worker-count $n, it must be greater than 0")
      if (n > MaxWorkerCount) { warnings :+= "worker-count-capped"
        o = o.copy(workerCount = MaxWorkerCount) }
      else o = o.copy(workerCount = n)
    }

    params.get("flush-interval").filter(_.nonEmpty).foreach { v =>
      KafkaOptions.parseGoDurationMs(v) match {
        case Left(e) => return Left(ErrInvalidConfig -> e)
        case Right(ms) =>
          val clamped =
            if (ms > MaxFlushIntervalMs) { warnings :+= "flush-interval-capped"
              MaxFlushIntervalMs }
            else if (ms < MinFlushIntervalMs) { warnings :+= "flush-interval-raised"
              MinFlushIntervalMs }
            else ms
          o = o.copy(flushIntervalMs = clamped)
      }
    }

    params.get("file-size").foreach { v =>
      val sz = v.toIntOption.getOrElse(return notNumber("file-size", v))
      val clamped =
        if (sz > MaxFileSize) { warnings :+= "file-size-capped"; MaxFileSize }
        else if (sz < MinFileSize) { warnings :+= "file-size-raised"; MinFileSize }
        else sz
      o = o.copy(fileSize = clamped)
    }

    // silent reset-to-default repairs (Apply:146-152) — never warn
    val w = fileIndexWidth.getOrElse(0)
    o = o.copy(fileIndexWidth =
      if (w < MinFileIndexWidth || w > MaxFileIndexWidth) DefaultFileIndexWidth
      else w)
    val fc = flushConcurrency.getOrElse(0)
    o = o.copy(flushConcurrency =
      if (fc < 1 || fc > MaxFlushConcurrency) DefaultFlushConcurrency
      else fc)

    Right(Adjusted(o, warnings))
  }

  /** `Config.Apply` straight off a sink URI (scheme gate included). */
  def fromUri(uri: String, fileParams: Map[String, String] = Map.empty,
              fileIndexWidth: Option[Int] = None,
              flushConcurrency: Option[Int] = None)
      : Either[(String, String), Adjusted] = {
    val u = SinkUri(uri)
    u.invalid.foreach(e => return Left(ErrInvalidConfig -> e))
    if (!isStorageScheme(u.scheme))
      return Left(ErrInvalidConfig ->
        s"can't create cloud storage sink with unsupported scheme: ${u.scheme}")
    apply(fileParams, u.params, fileIndexWidth, flushConcurrency)
  }
}
