package graft.streaming

import java.net.URLDecoder
import java.nio.charset.StandardCharsets.UTF_8

/**
 * The sink-URI grammar, in one place. The reference parses `--sink-uri`
 * once with Go's `url.Parse` and reads parameters through `Query().Get`
 * (cdc/api/v2/changefeed.go → the sink factory); every reader here — the
 * sink factory, the option surfaces, the REST API and the upgrade fixups
 * — reads the same parse of `scheme://location?query#fragment`:
 *
 *  - `scheme` is the text before the first `://` ("" when there is none;
 *    the rest of the URI is then the whole string);
 *  - `location` is the raw rest up to the first `?` — the directory of a
 *    file-backed sink;
 *  - `authority` and `path` split the rest before its query or fragment at
 *    the first `/` (Kafka's host list and topic, Pulsar's broker and
 *    topic; without `://` it is all path); `path` is percent-decoded, like
 *    `url.URL.Path`;
 *  - the query runs from the first `?` to the first `#` and splits on `&`;
 *    `k=v` reads `v` URL-decoded as UTF-8 and a bare `k` reads "". As with
 *    `Query().Get`, a repeated key reads its first value, and a caller
 *    treats an empty value as absent;
 *  - a `%` not followed by two hex digits, in the path or a query value,
 *    makes the URI [[invalid]]; `path` and `params` throw on it, so an
 *    Either-returning reader checks `invalid` first.
 */
final case class SinkUri(raw: String) {
  private val sep = raw.indexOf("://")

  val scheme: String = if (sep < 0) "" else raw.substring(0, sep)

  private val rest = if (sep < 0) raw else raw.substring(sep + 3)

  val location: String = rest.takeWhile(_ != '?')

  private val hashAt = rest.indexOf('#')
  private val body = if (hashAt < 0) rest else rest.substring(0, hashAt)
  private val queryAt = body.indexOf('?')
  private val hier = if (queryAt < 0) body else body.substring(0, queryAt)

  val authority: String = if (sep < 0) "" else hier.takeWhile(_ != '/')

  private val rawPath = hier.substring(authority.length)

  /** Percent-decoded; a `+` in a path is a plus, not a space. */
  lazy val path: String = URLDecoder.decode(rawPath.replace("+", "%2B"), UTF_8)

  /** The query's `(key, raw value)` pairs in URI order. */
  val pairs: Seq[(String, String)] =
    if (queryAt < 0) Nil
    else body.substring(queryAt + 1).split('&').toSeq.filter(_.nonEmpty)
      .map { p =>
        p.indexOf('=') match {
          case -1 => (p, "")
          case i => (p.substring(0, i), p.substring(i + 1))
        }
      }

  /** The first malformed percent-escape in the path or a query value, as
    * Go's `url.Parse` reports it: `invalid URL escape "%zz"`. */
  lazy val invalid: Option[String] = "%(?![0-9A-Fa-f]{2}).{0,2}".r
    .findFirstIn((rawPath +: pairs.map(_._2)).mkString("\n"))
    .map(e => s"""invalid URL escape "$e"""")

  /** Decoded query values by key; the first of a repeated key wins. */
  lazy val params: Map[String, String] =
    pairs.reverseIterator.map { case (k, v) => k -> URLDecoder.decode(v, UTF_8) }
      .toMap

  /** A param as `Query().Get` reads it: an empty value is absent. */
  def param(key: String): Option[String] = params.get(key).filter(_.nonEmpty)

  /** This URI with its query replaced by the raw `query` pairs, in the
    * given order (`url.URL.String` after a query rewrite): an empty list
    * renders no `?`, and the fragment is kept. */
  def withQuery(query: Seq[(String, String)]): String = {
    val q = if (query.isEmpty) ""
      else query.map { case (k, v) => s"$k=$v" }.mkString("?", "&", "")
    raw.substring(0, raw.length - rest.length) + hier + q +
      (if (hashAt < 0) "" else rest.substring(hashAt))
  }
}
