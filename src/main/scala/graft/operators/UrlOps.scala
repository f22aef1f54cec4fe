package graft.operators

import org.apache.spark.sql.Column
import org.apache.spark.sql.functions._

/**
 * URL canonicalization + registered-domain extraction — the first stage
 * of every web-scale curation pipeline (RefinedWeb/CCNet shape): raw
 * crawl URLs vary in case, default ports, `www.`, tracking params,
 * trailing slashes and fragments, and the SAME page must collapse to ONE
 * canonical key before url-level dedup, domain-level mixing caps
 * (q143's consumers) and blocklist filtering can work.
 *
 * Rules (the portable, widely-published subset):
 *   scheme/host lowercased; `www.` stripped; default port (`:443` https,
 *   `:80` http) stripped, explicit non-default ports kept; path trailing
 *   slashes trimmed (empty path → `/`); query params filtered of
 *   `utm_*`/`gclid` trackers then SORTED and rejoined; fragment dropped.
 * Registered domain = last two dot-labels of the port-less host (a fixed
 * public-suffix list plugs in here at production; the two-label rule is
 * the oracle-replayable core).
 *
 * Everything is native column expressions (regexp + array ops — one
 * interpreted higher-order filter over a tiny param array); no UDF, no
 * shuffle: canonicalization is a map-only pass no matter the corpus size.
 */
object UrlOps {

  private val UrlRe = "^([A-Za-z]+)://([^/?#]+)([^?#]*)\\??([^#]*)(#.*)?$"

  /** ONE regex pass per row: rewrite the url into its four
    * \u0001-delimited capture groups and bind the split result once as a
    * lambda variable (the quantizeInt8 bind-once pattern) — the naive
    * composition re-ran the extraction ~10× per row on the map-only hot
    * path. Unmatched strings degrade to garbage-in-garbage-out exactly
    * as the per-group extraction did. */
  private def withParts(url: Column)(build: Column => Column): Column =
    element_at(
      transform(
        array(split(regexp_replace(url, UrlRe,
          "$1\u0001$2\u0001$3\u0001$4"), "\u0001")),
        build),
      1)

  private def scheme(p: Column) = lower(element_at(p, 1))
  private def rawHost(p: Column) = lower(element_at(p, 2))

  private def hostOf(p: Column): Column = {
    val h = regexp_replace(rawHost(p), "^www\\.", "")
    when(scheme(p) === "https", regexp_replace(h, ":443$", ""))
      .when(scheme(p) === "http", regexp_replace(h, ":80$", ""))
      .otherwise(h)
  }

  private def pathOf(p: Column): Column = {
    val t = regexp_replace(element_at(p, 3), "/+$", "")
    when(t === "", "/").otherwise(t)
  }

  private def queryOf(p: Column): Column = {
    val kept = filter(split(element_at(p, 4), "&"),
      x => !startswith(x, lit("utm_")) && !startswith(x, lit("gclid=")))
    array_join(array_sort(kept), "&")
  }

  /** The canonical form — equal strings ⇔ same page under the rules. */
  def canonicalUrl(url: Column): Column = withParts(url) { p =>
    val q = queryOf(p)
    concat(scheme(p), lit("://"), hostOf(p), pathOf(p),
      when(q === "", "").otherwise(concat(lit("?"), q)))
  }

  /** Last two labels of the port-less canonical host. */
  def registeredDomain(url: Column): Column = withParts(url) { p =>
    regexp_extract(regexp_replace(hostOf(p), ":[0-9]+$", ""),
      "([^.]+\\.[^.]+)$", 1)
  }
}
