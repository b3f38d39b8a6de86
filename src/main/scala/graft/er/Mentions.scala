package graft.er

import java.nio.charset.StandardCharsets

import org.apache.spark.sql.Dataset

import graft.model.{Mention, Page}
import graft.text.Extract

/** Pages → mention rows (the exploded form of the reference's per-article
  * `entity_mentions` dict, SURVEY.md §1.3).
  *
  * One narrow `flatMap` — no shuffle: extraction, hyperlink explosion and
  * context-window tokenization are all per-row. The mention's context is
  * the token set of its own paragraph (text between "\n\n" separators)
  * minus the tokens of the mention surface itself; gold entity comes from
  * the hyperlink target (reference precedent: hyperlinks as weak labels,
  * /root/reference/scripts/get_link_frequencies.py:13-47).
  */
object Mentions {

  /** String ordering by Unicode CODE POINT — identical to UTF-8 byte order
    * and to UTF8String.compareTo, unlike String's natural (UTF-16 code-unit)
    * order which ranks U+E000..U+FFFF above supplementary-plane characters. */
  val CodePointOrdering: Ordering[String] = new Ordering[String] {
    def compare(x: String, y: String): Int = {
      var i = 0
      var j = 0
      while (i < x.length && j < y.length) {
        val cx = x.codePointAt(i)
        val cy = y.codePointAt(j)
        if (cx != cy) return Integer.compare(cx, cy)
        i += Character.charCount(cx)
        j += Character.charCount(cy)
      }
      Integer.compare(x.length - i, y.length - j)
    }
  }

  def domainOf(url: String): String = {
    val noScheme = {
      val i = url.indexOf("://")
      if (i >= 0) url.substring(i + 3) else url
    }
    val slash = noScheme.indexOf('/')
    if (slash >= 0) noScheme.substring(0, slash) else noScheme
  }

  /** Deterministic 64-bit mention id from (url, begin) — stable under any
    * partitioning, unlike monotonically_increasing_id. */
  def mentionId(url: String, begin: Int): Long = {
    var h = graft.synth.Synth.splitmix64(begin.toLong + 0x9E37L)
    var i = 0
    while (i < url.length) { h = graft.synth.Synth.splitmix64(h ^ url.charAt(i).toLong); i += 1 }
    h
  }

  def fromPages(pages: Dataset[Page]): Dataset[Mention] = {
    import pages.sparkSession.implicits._
    pages.flatMap { page =>
      mentionsOf(page.url,
        Extract.processExtractorText(new String(page.html, StandardCharsets.UTF_8)))
    }
  }

  /** Same derivation over an ALREADY-extracted (url, Extracted) dataset —
    * lets a session that has materialized the extraction pass (the
    * catalog's shared memo) build mentions without re-parsing the HTML. */
  def fromExtracted(extracted: Dataset[(String, graft.model.Extracted)]): Dataset[Mention] = {
    import extracted.sparkSession.implicits._
    extracted.flatMap { case (url, ex) => mentionsOf(url, ex) }
  }

  private def mentionsOf(url: String, ex: graft.model.Extracted): Seq[Mention] = {
      val text = ex.text
      val domain = domainOf(url)
      // paragraph boundaries: [start, end) between "\n\n" separators
      val paraBounds = {
        val b = scala.collection.mutable.ArrayBuffer[(Int, Int)]()
        var start = 0
        var idx = text.indexOf("\n\n")
        while (idx >= 0) { b += ((start, idx)); start = idx + 2; idx = text.indexOf("\n\n", start) }
        b += ((start, text.length))
        b.toArray
      }
      def paragraphOf(pos: Int): (Int, Int) =
        paraBounds.find { case (s, e) => pos >= s && pos < e }.getOrElse((0, text.length))

      ex.hyperlinks.zipWithIndex.map { case (h, _) =>
        val surface = text.substring(h.begin, h.end)
        val (ps, pe) = paragraphOf(h.begin)
        // tokens of the paragraph excluding the mention's own surface span
        val before = text.substring(ps, h.begin)
        // a malformed page (unclosed <a>) can yield a hyperlink span that
        // crosses the paragraph boundary; clamp instead of throwing — the
        // context window simply ends at the paragraph for such spans
        val after = if (h.end <= pe) text.substring(h.end, pe) else ""
        // sorted by CODE POINT (== UTF-8 byte order, UTF8String.compareTo's
        // order), not UTF-16 code-unit order: this fixes the stored
        // `context` order, and the two orders differ for supplementary-plane
        // vs U+E000..U+FFFF tokens, so a default `sorted` would store a
        // different array.
        val ctx = (Extract.tokenize(before) ++ Extract.tokenize(after))
          // Locale.ROOT: default-locale lowercasing would break bit-exact
          // determinism across JVMs (e.g. tr_TR dotless-i)
          .map(_.toLowerCase(java.util.Locale.ROOT)).distinct
          .sorted(Mentions.CodePointOrdering)
        Mention(
          url = url,
          mention_id = mentionId(url, h.begin),
          begin = h.begin,
          end = h.end,
          surface = surface,
          norm_surface = Extract.normalizeSurface(surface),
          context = ctx,
          domain = domain,
          gold_entity = h.target)
      }
  }
}
