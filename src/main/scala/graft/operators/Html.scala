package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML → main-text extraction: the FIRST stage of a real pretraining
  * pipeline. Crawled corpora arrive as raw HTML; every downstream gate
  * (language, quality, dedup) wants the article text with markup,
  * scripts, and boilerplate chrome gone.
  *
  * Three composable layers, all map-only:
  *
  *   1. [[removeNonContent]] — drop comments, `script`/`style`
  *      elements (with their content), and boilerplate CONTAINERS
  *      (`nav`/`header`/`footer`/`aside`, the elements HTML5 defines as
  *      page chrome) with their content;
  *   2. [[stripTags]] — remaining tags → space, named/apos/#39 entity
  *      decode (`&amp;` last, so `&amp;lt;` yields the literal `&lt;`
  *      exactly as a browser would), whitespace collapse, trim;
  *   3. [[extract]] — the boilerpipe-style TEXT-DENSITY heuristic:
  *      split the cleaned page into candidate blocks at block-level tag
  *      boundaries, keep blocks whose stripped text is long enough
  *      (`minTextChars`) and not link-dominated (`maxLinkDensity` —
  *      anchor innerHTML chars / stripped text chars), and join the
  *      keepers in document order.
  *
  * Scale shape: there is NO shuffle anywhere — the block split, per-block
  * stats, density filter, and ordered re-join all happen INSIDE one row
  * via higher-order functions (`transform`/`filter`/`aggregate` over the
  * split array), so at 100 TB this runs at scan speed as a projection,
  * partition-count-invariant, nothing wider than one document in flight.
  *
  * Every regex sticks to the Java-regex/RE2 common subset (char classes,
  * `(?i)`/`(?s)` flags, lazy `*?`, `\b`, `\s` — no backrefs, no
  * lookaround) so the DuckDB oracle replays the exact extraction; `\s`
  * differs between the engines only on `\x0B` (vertical tab), which real
  * HTML never contains. Nesting caveat (documented, not hidden): the
  * container removal is regex-based, so a `nav` INSIDE a `nav` ends the
  * strip at the first `</nav>` — fine for chrome removal (browsers
  * don't nest chrome), wrong for a full DOM parse, which a distributed
  * scan-speed stage deliberately is not.
  *
  * Reference behavior studied: the reference pipeline starts from parsed
  * text (no HTML stage) — this operator is part of the
  * training-data-pipeline extension surface, not a reference port.
  */
object Html {

  /** Block-level boundary tags: a fragment between two of these is one
    * candidate text block. Inline tags (`a`, `b`, `em`, `span`, ...)
    * stay inside their block and are stripped by [[stripTags]].
    */
  private val blockTags: String =
    "html|head|body|title|p|div|h[1-6]|li|ul|ol|dl|dt|dd|table|thead" +
      "|tbody|tfoot|tr|td|th|section|article|main|blockquote|pre|br" +
      "|hr|form|fieldset"

  /** Split pattern: any opening or closing block-level tag. */
  val blockBoundary: String = s"(?i)</?(?:$blockTags)\\b[^>]*>"

  /** Anchor innerHTML (group 1) — the link-density numerator. */
  val anchorInner: String = "(?is)<a\\b[^>]*>(.*?)</a>"

  private val containerTags = Seq("nav", "header", "footer", "aside")

  /** Comments, `script`/`style` elements, and boilerplate containers
    * (`nav`/`header`/`footer`/`aside`) removed WITH their content, each
    * replaced by one space so adjacent text doesn't fuse.
    */
  def removeNonContent(c: Column): Column = {
    val noComments = regexp_replace(c, "(?s)<!--.*?-->", " ")
    val noScripts = Seq("script", "style").foldLeft(noComments) { (x, t) =>
      regexp_replace(x, s"(?is)<$t\\b[^>]*>.*?</$t>", " ")
    }
    containerTags.foldLeft(noScripts) { (x, t) =>
      regexp_replace(x, s"(?is)<$t\\b[^>]*>.*?</$t>", " ")
    }
  }

  /** Ordered literal entity decode; `&amp;` LAST so `&amp;lt;` decodes
    * to the literal text `&lt;` (browser semantics), never to `<`.
    */
  def decodeEntities(c: Column): Column = {
    val named = Seq(
      "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"",
      "&#39;" -> "'", "&apos;" -> "'", "&nbsp;" -> " ")
    named.foldLeft(c) { case (x, (e, r)) => replace(x, lit(e), lit(r)) }
      .pipe(x => replace(x, lit("&amp;"), lit("&")))
  }

  private implicit class Piped(private val c: Column) extends AnyVal {
    def pipe(f: Column => Column): Column = f(c)
  }

  /** Tags → space, entities decoded, whitespace collapsed, trimmed.
    * On tag-free text this is identity (modulo entity/whitespace
    * normalization), so the stage is safe to run on already-clean docs.
    */
  def stripTags(c: Column): Column =
    trim(regexp_replace(
      decodeEntities(regexp_replace(c, "<[^>]+>", " ")), "\\s+", " "))

  /** Main-text extraction with the block text-density heuristic.
    *
    * Adds to each row: `<htmlCol>_text` (kept blocks' stripped text,
    * document order, newline-joined; empty string when nothing
    * survives — the doc stays, downstream length gates decide),
    * `n_blocks` (candidate blocks with any text), `n_kept`.
    *
    * A block is kept iff its stripped text has at least `minTextChars`
    * chars AND its anchor-text length — each anchor's innerHTML put
    * through the SAME [[stripTags]] normalization as the block text,
    * so marked-up anchors (`<a><b>x</b></a>`) and entity-bearing ones
    * measure their visible characters, not their markup — is at most
    * `maxLinkDensity` × the stripped text length (link farms and
    * related-article rails fail this even when long). Anchors that
    * span a block-tag boundary are split by the block split before
    * anchor matching and don't count — a documented convention of
    * split-then-measure extraction (such markup is invalid HTML).
    * Density compares in IEEE double — one multiply, one compare — so
    * the oracle replays the decision bit-for-bit.
    */
  def extract(df: DataFrame, htmlCol: String, minTextChars: Int = 20,
      maxLinkDensity: Double = 0.5): DataFrame = {
    require(minTextChars >= 1, "minTextChars must be >= 1")
    require(maxLinkDensity >= 0.0, "maxLinkDensity must be >= 0")
    val blocks = split(removeNonContent(col(htmlCol)), blockBoundary)
    // per-block (stripped text, stripped anchor-text chars), in order
    val cand = transform(blocks, b => struct(
      stripTags(b).as("btxt"),
      aggregate(regexp_extract_all(b, lit(anchorInner), lit(1)),
        lit(0), (acc, x) => acc + length(stripTags(x))).as("ll")))
    val kept = filter(cand, x =>
      length(x.getField("btxt")) >= minTextChars &&
        x.getField("ll").cast("double") <=
          length(x.getField("btxt")) * lit(maxLinkDensity))
    df.select(df.columns.map(col).toIndexedSeq ++ Seq(
      array_join(transform(kept, x => x.getField("btxt")), "\n")
        .as(s"${htmlCol}_text"),
      size(filter(cand, x => length(x.getField("btxt")) > 0))
        .cast("long").as("n_blocks"),
      size(kept).cast("long").as("n_kept")): _*)
  }
}
