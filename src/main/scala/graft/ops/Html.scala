package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** HTML→text extraction and boilerplate removal — the first stage of the
  * crawl-curation chain (fetch → [[Web]] URL triage → **this** →
  * [[TextAnalysis]] quality/lang-id → [[Dedup]]). Every real crawl corpus
  * arrives as HTML; what the downstream text operators want is the main
  * content with markup, scripts, navigation, and footers gone.
  *
  * Approach (jusText-class, Pomikálek 2011 "Removing boilerplate and
  * duplicate content from web corpora", context-free core): drop
  * non-content elements wholesale (script/style/noscript/head/comments),
  * segment on block-level tags, then classify each block by three
  * signals — character length, link density (chars inside `<a>` ÷ block
  * chars), and stopword ratio — keeping blocks that read like prose.
  * The context-sensitive second pass of full jusText (short blocks
  * inherit their neighbors' class) is deliberately NOT implemented: it
  * buys marginal recall on headline blocks at the cost of a sequential
  * per-document scan that resists the columnar form below, and headline
  * text is low-value for training corpora anyway (documented gap).
  *
  * Scale shape: the entire chain is a composition of builtin string /
  * higher-order array expressions — per-row, shuffle-free, no UDFs — so
  * extraction over 100 TB of crawl HTML is one narrow projection pass
  * that pipelines into whatever shuffle the downstream operator needs.
  * Parsing fidelity: regex-level, not a DOM — malformed nesting never
  * errors (blocks just segment differently), entities outside
  * [[DecodedEntities]] pass through literally, and a `</script>` hidden
  * inside a string literal ends the script early (exactly like the
  * reference grep-class extractors). The rules are mirrored operator-for-
  * operator in the wq DuckDB oracles.
  */
object Html {

  /** Block-classification thresholds. Defaults are jusText's "good"
    * operating point (length_low≈70 chars, link density 0.2, stopword
    * ratio 0.30 for a stopword-dense language like English); corpora with
    * thin stopword lists (ours ships [[TextAnalysis.Stopwords]]'s 10-word
    * set) should lower `minStopwordRatio` accordingly.
    */
  final case class BoilerplateRules(
      minChars: Int = 70,
      maxLinkDensity: Double = 0.2,
      minStopwordRatio: Double = 0.30)

  /** Entities decoded after tag-strip, applied in ORDER — `&amp;` must be
    * last or `&amp;lt;` would double-decode to `<` instead of the literal
    * `&lt;` its author escaped. Everything else (named exotics, numeric
    * escapes) passes through literally: a per-codepoint decoder needs
    * computed replacements regex engines don't do, and unknown entities
    * are rare enough in prose blocks that downstream tokenizers treat
    * them as one odd token.
    */
  val DecodedEntities: Seq[(String, String)] = Seq(
    "&lt;" -> "<", "&gt;" -> ">", "&quot;" -> "\"", "&#34;" -> "\"",
    "&apos;" -> "'", "&#39;" -> "'", "&nbsp;" -> " ", "&amp;" -> "&")

  /** Elements dropped WITH their content before segmentation (scripts,
    * styles, head, comments, svg, template) — non-greedy to the matching
    * close tag, case-insensitive, DOTALL so multi-line bodies match. An
    * unterminated element (no close tag) is left in place and its tags
    * fall to the generic tag-strip — graceful, mirror-identical.
    */
  /** One alternation branch per dropped element — the shared source of
    * BOTH drop patterns below, so adding an element (e.g. `iframe`) can
    * never update the text paths while leaving the title path stale.
    */
  private def dropBranches(elements: Seq[String]): String =
    ("<!--.*?-->" +: elements.map(e => s"<$e\\b[^>]*>.*?</$e>"))
      .mkString("(?is)(", "|", ")")

  private[graft] val DropElementPattern: String =
    dropBranches(Seq("script", "style", "noscript", "head", "svg", "template"))

  /** Block-level tags (open or close) — segmentation boundaries. Inline
    * tags (`a`, `span`, `b`, …) stay inside their block so link density
    * can be measured before they are stripped.
    */
  private[graft] val BlockTagPattern: String =
    "(?i)</?(?:html|body|p|div|br|hr|h[1-6]|li|ul|ol|dl|dt|dd|table|thead" +
      "|tbody|tfoot|tr|td|th|caption|section|article|header|footer|nav" +
      "|aside|main|blockquote|pre|form|fieldset|figure|figcaption|address" +
      "|center)\\b[^>]*>"

  private[graft] val AnchorPattern: String = "(?is)<a\\b[^>]*>(.*?)</a>"

  private def decodeEntities(c: Column): Column =
    DecodedEntities.foldLeft(c) { case (acc, (k, v)) =>
      replace(acc, lit(k), lit(v))
    }

  private def stripTags(c: Column): Column = regexp_replace(c, "<[^>]*>", " ")

  private def normWs(c: Column): Column =
    trim(regexp_replace(c, "\\s+", " "))

  /** Raw-markup fragments between block boundaries, non-content elements
    * already dropped. Inline markup still present.
    */
  private def rawBlocks(html: Column): Column =
    split(regexp_replace(html, DropElementPattern, " "), BlockTagPattern)

  /** Visible text of one raw block: tags stripped, entities decoded,
    * whitespace collapsed.
    */
  private def blockTextOf(b: Column): Column =
    normWs(decodeEntities(stripTags(b)))

  /** Characters of visible text inside `<a>` elements of one raw block —
    * the numerator of link density.
    */
  private def linkedCharsOf(b: Column): Column =
    aggregate(
      transform(regexp_extract_all(b, lit(AnchorPattern), lit(1)),
        a => length(blockTextOf(a))),
      lit(0), (acc, x) => acc + x)

  /** [[DropElementPattern]] minus the `<head>` element — the title LIVES
    * in head, but a `<title>` inside a comment or script must not win
    * over the real one (the same commented-out-markup rule the text/link
    * paths apply).
    */
  private[graft] val TitleDropPattern: String =
    dropBranches(Seq("script", "style", "noscript", "svg", "template"))

  /** The `<head>` element (with content) alone — the one branch that
    * separates the title surface from the text surface. Applied by
    * [[mainTextOfStripped]] to a document [[titleStrip]] already cleaned,
    * so the second full-document pass carries a 1-branch alternation
    * instead of re-running all of [[DropElementPattern]]'s 7.
    */
  private[graft] val HeadDropPattern: String = "(?is)<head\\b[^>]*>.*?</head>"

  /** The comment/script/style/… strip SHARED by the title and main-text
    * surfaces ([[TitleDropPattern]] — everything but `<head>`). A pipeline
    * that extracts BOTH title and text (wq1) should project this ONCE per
    * row and feed the staged column to [[titleOfStripped]] and
    * [[mainTextOfStripped]]: the alternation scan over the full document
    * is the dominant per-row cost of extraction, and the two un-fused
    * surfaces each paid their own (r15, guide §1.2 — don't compute things
    * twice). Column-builder note ([[effectiveBase]]): reference the staged
    * ATTRIBUTE, never pass this builder inline into both consumers.
    */
  def titleStrip(html: Column): Column =
    regexp_replace(html, TitleDropPattern, " ")

  /** `<title>` text of a [[titleStrip]]-cleaned document. */
  def titleOfStripped(stripped: Column): Column =
    normWs(decodeEntities(
      regexp_extract(stripped, "(?is)<title\\b[^>]*>(.*?)</title>", 1)))

  /** Main content of a [[titleStrip]]-cleaned document: drops the
    * remaining `<head>` element (1-branch pass) and applies
    * [[htmlMainText]]'s block classification. Equivalent to
    * [[htmlMainText]] on every document whose `</head>` is not hidden
    * inside a script/comment string — and strictly MORE robust when one
    * is (the script is gone before the head drop scans).
    */
  def mainTextOfStripped(
      stripped: Column,
      rules: BoilerplateRules = BoilerplateRules()): Column =
    mainTextOfBlocks(
      split(regexp_replace(stripped, HeadDropPattern, " "), BlockTagPattern),
      rules)

  /** `<title>` text: decoded, whitespace-normalized; `''` when absent.
    * Comments/scripts are dropped first (via [[TitleDropPattern]] — not
    * the full [[DropElementPattern]], which would drop `<head>` and the
    * title with it).
    */
  def htmlTitle(html: Column): Column =
    titleOfStripped(titleStrip(html))

  /** ALL visible text, one line per block — tag/script/style strip and
    * entity decode without any boilerplate judgment (the "lynx -dump"
    * surface; feed to [[htmlMainText]]'s rules when curating).
    */
  def htmlText(html: Column): Column =
    array_join(
      filter(transform(rawBlocks(html), b => blockTextOf(b)), t => t =!= ""),
      "\n")

  /** The block tokenization both stopword signals share — stage its
    * result (struct field or projected column) and pass it to
    * [[keepPredicate]]: HOF lambda bodies get no subexpression
    * elimination, so referencing an INLINE token array three times
    * (stopword filter + the two `nullif` copies of the denominator)
    * re-split the block three times (r15).
    */
  private def blockToks(text: Column): Column =
    filter(split(lower(text), " "), w => w =!= "")

  /** The keep predicate over (text, toks, linkedChars) — one place, so
    * the column op, the exploded diagnostic op, and the scaladoc can't
    * drift. `toks` must be [[blockToks]] of `text`, pre-staged by the
    * caller. Link density sits LAST (3VL AND short-circuits and is
    * commutative, so verdicts are unchanged): a caller passing `linked`
    * as an in-place expression only pays the per-anchor strip on blocks
    * that cleared the cheap gates.
    */
  private def keepPredicate(
      text: Column, toks: Column, linked: Column,
      rules: BoilerplateRules): Column = {
    val nStop = size(filter(toks, w => w.isin(TextAnalysis.Stopwords: _*)))
    val stopRatio = nStop.cast("double") / nullif(size(toks), lit(0))
    val linkDensity = linked.cast("double") / nullif(length(text), lit(0))
    (length(text) >= rules.minChars) &&
      (stopRatio >= rules.minStopwordRatio) &&
      (linkDensity <= rules.maxLinkDensity)
  }

  /** Main content: the concatenation (one line per block) of blocks the
    * [[BoilerplateRules]] classify as prose. `''` when nothing survives;
    * null HTML stays null.
    */
  def htmlMainText(
      html: Column,
      rules: BoilerplateRules = BoilerplateRules()): Column =
    mainTextOfBlocks(rawBlocks(html), rules)

  /** Shared body of [[htmlMainText]] / [[mainTextOfStripped]], staged so
    * each block pays each signal at most once and only when reached
    * (r15): a first filter applies the free gates (non-blank, length),
    * survivors tokenize ONCE into a struct field, and the final filter
    * reads the staged tokens and evaluates the per-anchor link-density
    * scan lazily in the last conjunct — nav/footer blocks fail length
    * without ever being tokenized or anchor-scanned. Verdicts are
    * [[keepPredicate]]'s exactly (conjunct split across filters = 3VL
    * AND: null and false both drop).
    */
  private def mainTextOfBlocks(
      blocks: Column, rules: BoilerplateRules): Column = {
    val feats = transform(blocks, b =>
      struct(blockTextOf(b).as("t"), b.as("raw")))
    val longEnough = filter(feats, s =>
      (s.getField("t") =!= "") && (length(s.getField("t")) >= rules.minChars))
    val withToks = transform(longEnough, s => struct(
      s.getField("t").as("t"), s.getField("raw").as("raw"),
      blockToks(s.getField("t")).as("toks")))
    val kept = filter(withToks, s =>
      keepPredicate(
        s.getField("t"), s.getField("toks"),
        linkedCharsOf(s.getField("raw")), rules))
    array_join(transform(kept, s => s.getField("t")), "\n")
  }

  /** Outlink extraction: every `href` value of every `<a>` tag, in
    * document order — the raw material of the crawl frontier and of the
    * domain link graph ([[Graph.pageRank]] over host edges). Both quote
    * styles and unquoted hrefs match; surrounding whitespace inside the
    * attribute is the site's problem and passes through (resolve with
    * [[Web.resolveUrl]], which trims). Scripts/comments are dropped first
    * so commented-out markup doesn't contribute links. Returns
    * `array<string>`; empty array when there are none, null for null
    * HTML.
    */
  def extractLinks(html: Column): Column =
    transform(
      regexp_extract_all(
        regexp_replace(html, DropElementPattern, " "),
        lit("(?is)<a\\b[^>]*?\\bhref\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)"),
        lit(1)),
      h => regexp_replace(h, "^[\"']|[\"']$", ""))

  /** First `<base href>` of the document (comments dropped first, both
    * quote styles, value trimmed), or null when absent — HTML redirects
    * RELATIVE link resolution through it, so a crawl that resolves
    * `extractLinks` output against the fetch URI alone mis-resolves pages
    * that declare one. Compose via [[effectiveBase]].
    */
  def baseHref(html: Column): Column =
    nullif(
      trim(regexp_replace(
        regexp_extract(
          regexp_replace(html, "(?s)<!--.*?-->", " "),
          "(?is)<base\\b[^>]*?\\bhref\\s*=\\s*(\"[^\"]*\"|'[^']*'|[^\\s>]+)", 1),
        "^[\"']|[\"']$", "")),
      lit(""))

  /** The base URL every relative link of the page resolves against: the
    * `<base href>` — ITSELF resolved against the fetched URI when
    * relative, per the HTML spec — else the fetched URI. Feed this (not
    * the raw fetch URI) to [[Web.resolveUrl]] for outlink resolution.
    *
    * PERFORMANCE: Column builders substitute their argument TREE at every
    * reference site, and [[Web.resolveUrl]] references its base in many
    * `when` branches — branches codegen subexpression elimination does not
    * deduplicate. Passing this column INLINE into further URL builders
    * therefore re-runs [[baseHref]]'s full-document regex per branch copy,
    * combinatorially (a 70× slowdown in the cq7 discovery chain, r14).
    * In a pipeline, stage it: project `baseHref(html)` to a column, then
    * `coalesce(resolveUrl(uri, bh), uri)` to another, then resolve hrefs
    * against that ATTRIBUTE (cq7 / wq6 show the pattern).
    */
  def effectiveBase(fetchedUri: Column, html: Column): Column =
    coalesce(Web.resolveUrl(fetchedUri, baseHref(html)), fetchedUri)

  /** Diagnostic/block-level surface: one row per non-blank block with its
    * classification signals and the keep verdict — what a curation run
    * inspects when tuning [[BoilerplateRules]] for a corpus. Columns:
    * `(idCol, block_idx, block_text, n_chars, linked_chars, kept)`;
    * `block_idx` is the 0-based index among the doc's NON-BLANK blocks.
    */
  def htmlBlocks(
      df: DataFrame,
      idCol: String,
      htmlCol: String,
      rules: BoilerplateRules = BoilerplateRules()): DataFrame = {
    val feats = transform(rawBlocks(col(htmlCol)), b =>
      struct(blockTextOf(b).as("t"), linkedCharsOf(b).as("l")))
    val nonBlank = filter(feats, s => s.getField("t") =!= "")
    df.select(col(idCol), posexplode(nonBlank).as(Seq("block_idx", "_b")))
      // tokens staged as a projected column: the diagnostic surface
      // reports every block, so the lazy gates don't apply, but the
      // stopword signals still share ONE tokenization (r15)
      .withColumn("_toks", blockToks(col("_b.t")))
      .select(
        col(idCol),
        col("block_idx"),
        col("_b.t").as("block_text"),
        length(col("_b.t")).as("n_chars"),
        col("_b.l").as("linked_chars"),
        keepPredicate(col("_b.t"), col("_toks"), col("_b.l"), rules).as("kept"))
  }
}
