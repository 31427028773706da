package graft.core

import graft.model.Span

/**
 * Link extraction — re-expresses the reference's `HTMLLinkExtractor`
 * (worker/src/extractor/html.rs:62-91):
 *   - only anchors WITH an href are considered (html.rs:97-120)
 *   - hrefs are resolved against the page's base URL (html.rs:74-79)
 *   - only http/https survive (html.rs:80-86)
 * Failures at any step drop the candidate (`.ok()` ⇒ None).
 *
 * Two surfaces: span-model extraction (the durable corpus stores parsed
 * spans; links are `kind='link'` spans carrying the raw href in `media_ref`)
 * and raw-HTML extraction for `body: BinaryType` payloads, backed by the
 * tolerant one-pass HTML5-style tokenizer in HtmlScan — the analogue of the
 * reference's full DOM parse (html.rs:25-27).
 */
object Extract {

  /** Resolve + scheme-filter one raw href against a base URL. */
  def resolveLink(baseUrl: String, rawHref: String): Option[String] =
    UrlCanon.resolve(baseUrl, rawHref).filter(UrlCanon.isFetchableScheme)

  /** Links of a span-model document, in span (offset) order. */
  def linksFromSpans(baseUrl: String, spans: Seq[Span]): Seq[String] =
    spans.sortBy(_.offset).iterator
      .filter(_.kind == Span.Link)
      .flatMap(s => resolveLink(baseUrl, s.media_ref))
      .toSeq

  /** Raw hrefs of an HTML body, in document order — every anchor element
   * carrying an `href` attribute, whatever its other attributes, quoting or
   * nesting; href-less anchors produce nothing (html.rs:97-120). Backed by
   * the tolerant HTML5-style tokenizer (HtmlScan), the Spark-side analogue
   * of the reference's DOM-parse + `select("a")` (html.rs:25-27,71-87);
   * values arrive entity-decoded exactly as a DOM `attr("href")` would.
   * Runs the tokenizer's hrefs-only mode: no span/coverage construction. */
  def rawHrefs(html: String): Seq[String] =
    HtmlScan.parse(html, buildSpans = false).hrefs

  /** The per-page candidate kernel every fetch path runs (reference worker:
   * extract → normalise, worker.rs:68-119): each href resolved against
   * `base`, scheme-filtered, canonicalized and host-split in one parse
   * (UrlCanon.resolveCanonHost), then deduplicated within the page
   * (defaultnormaliser.rs:22-34) — first occurrence wins, document order
   * kept. Yields canonical (url, host) pairs. */
  def pageCandidates(base: String, hrefs: IterableOnce[String]): Iterator[(String, String)] = {
    val inPage = new java.util.HashSet[String]()
    hrefs.iterator.flatMap(href =>
      UrlCanon.resolveCanonHost(base, href).filter(c => inPage.add(c._1)))
  }

  /** Full raw-HTML pipeline: UTF-8 decode → anchor scan → resolve → scheme filter. */
  def linksFromHtml(baseUrl: String, body: Array[Byte]): Seq[String] =
    UrlCanon.decodeUtf8(body).toSeq.flatMap(h =>
      rawHrefs(h).flatMap(resolveLink(baseUrl, _)))

  /** Parse an HTML body into the interleaved span model (input_hint shape):
   * visible text → text spans (one per block-boundary flush, whitespace-
   * normalized), `<img src=…>` → media spans, hrefed anchors → link spans
   * (raw href in `media_ref`, anchor text in `text`), offsets dense from 0
   * in document order. Tolerant of arbitrary real-world markup — see
   * HtmlScan for the tokenizer and the exact span-model rules. On corpus-
   * serializer pages (CorpusGen.pageHtml) the result is byte-equal to the
   * durable corpus spans (per-row span-sequence invariant): the html/body
   * wrapper flushes nothing and the serializer's href-less `<a name="top">`
   * chrome is dropped by the reference's own skip rule. */
  def spansFromHtml(html: String): Seq[Span] = HtmlScan.parse(html).spans

  /** Fraction of the body's VISIBLE text captured into spans — exact under
   * the tolerant tokenizer, not a heuristic: markup, comments and raw-text
   * elements (script/style/…) never count; the only deduction is rule-
   * dropped visible text (href-less anchor content). ≈1.0 for any real
   * page; low values flag pages that are mostly dead-anchor chrome. */
  def spanCoverage(html: String): Double = HtmlScan.parse(html).coverage

  /** One-pass fetch-partition product: (hrefs, spans, coverage) from a
   * single scan of the body — the hot-path form (FrontierStep.Http fetch
   * used to pay three passes for the same three answers). `withSpans =
   * false` (the non-archiving fetch) skips span/coverage construction
   * entirely and returns (hrefs, Nil, 0.0) — hrefs are identical in both
   * modes (HtmlParseSpec pins the parity). */
  def parsePage(html: String, withSpans: Boolean = true): (Seq[String], Seq[Span], Double) = {
    val r = HtmlScan.parse(html, buildSpans = withSpans)
    (r.hrefs, if (withSpans) r.spans else Nil, if (withSpans) r.coverage else 0.0)
  }
}
