package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Text-pipeline operators: tokenization, quality scoring, language ID,
  * fingerprinting. All column expressions (codegen'd), designed to run as a
  * single projection pass over a 100 TB documents table — no shuffles, no
  * UDFs, trivially partition-parallel.
  */
object TextAnalysis {

  /** Whitespace tokens — a token is a NON-EMPTY maximal `\S+` run, so
    * blank/whitespace-only text has ZERO tokens (null text stays null).
    * `split(trim(x), "\\s+")` alone leaves a phantom `""` element exactly
    * when the trimmed text is empty (and only then — after trim, `\s+`
    * splitting can produce no other empties), which used to count blank
    * docs as 1 token, emit an empty chunk from [[chunkByTokens]], and feed
    * a phantom `md5("")`-bucket feature into [[linearScore]] (review r11).
    * The DuckDB oracle mirror is
    * `list_filter(regexp_split_to_array(trim(text), '\s+'), w -> w <> '')`.
    */
  def tokens(text: Column): Column =
    array_remove(split(trim(text), "\\s+"), "")

  /** Whitespace token count (0 for blank text, null for null text). */
  def tokenCount(text: Column): Column = size(tokens(text))

  /** BPE-ish subword count: alphanumeric runs plus individual punctuation
    * marks, the usual cheap proxy for LLM token budgeting when no tokenizer
    * model is loaded. Uses `regexp_extract_all` with an RE2-compatible
    * pattern (no lookaround) so the same pattern runs in oracle engines.
    */
  val SubwordPattern = "[\\p{L}\\p{N}]+|[^\\p{L}\\p{N}\\s]"

  def subwordCount(text: Column): Column =
    size(regexp_extract_all(text, lit(SubwordPattern), lit(0)))

  /** Document fingerprint: md5 of whitespace-normalized lowercased text —
    * the exact-dup key that survives formatting noise.
    */
  def fingerprint(text: Column): Column =
    md5(regexp_replace(lower(trim(text)), "\\s+", " "))

  /** Quality features in one pass: lengths, token stats, stopword ratio,
    * punctuation ratio, mean token length.
    */
  def qualityFeatures(df: DataFrame, idCol: String, textCol: String): DataFrame = {
    val t = col(textCol)
    val toks = tokens(t)
    df.select(
      col(idCol),
      length(t).as("n_chars"),
      size(toks).as("n_tokens"),
      size(array_distinct(toks)).as("n_distinct_tokens"),
      size(filter(toks, w => w.isin(Stopwords: _*))).as("n_stopwords"),
      (length(t) - length(regexp_replace(t, "[\\p{Punct}]", ""))).as("n_punct"),
      // nullif keeps a 0-token (blank) doc's ratio NULL instead of the
      // engine-variant 0/0 double (Spark NaN vs DuckDB's div-by-zero rules)
      round(size(array_distinct(toks)).cast("double") / nullif(size(toks), lit(0)), 6)
        .as("distinct_ratio"))
  }

  val Stopwords: Seq[String] =
    Seq("the", "a", "an", "of", "to", "and", "in", "is", "it", "that")

  /** Gopher-style document quality rules (Rae et al. 2021 §A1.1, adapted:
    * token-count window, lexical diversity floor, repetition ceiling).
    * Comparisons run on raw doubles — integer-count divisions are
    * bit-identical across engines, so the boolean reproduces in the oracle.
    */
  final case class QualityRules(
      minTokens: Int = 20,
      maxTokens: Int = 90,
      minDistinctRatio: Double = 0.32,
      maxTopBigramRatio: Double = 0.07)

  /** Unicode text normalization — the preprocessing normal form applied
    * BEFORE hashing/shingling so byte-different encodings of the same text
    * dedup together: NFC composition, optional accent stripping
    * (NFD → drop combining marks → NFC), optional ROOT-locale lowercase.
    * One codegen'd projection; SQL-oracle counterpart
    * `lower(nfc_normalize(text))` (accent-strip semantics are
    * engine-variant and spec-gated on Unicode fixtures instead).
    */
  def normalizeText(
      text: Column,
      lower: Boolean = true,
      stripAccents: Boolean = false): Column =
    graft.functions.normalize_text(text, lower, stripAccents)

  /** Model-based quality scoring: a linear bag-of-words classifier in
    * fixed-point integer arithmetic (the fastText/CCNet shape — hashed
    * token features, one weight per bucket, mean-pooled logit). `weights`
    * are integer fixed-point (caller picks the scale; 1e-6 units by
    * convention) over `weights.length` md5-derived buckets; the score is
    * the raw BIGINT sum over tokens — exact, order-independent, and
    * reproducible in a SQL oracle (`('0x' || substr(md5(t), 1, 8))::BIGINT
    * % D` is the same bucket rule). One codegen'd pass, no shuffle.
    */
  def linearScore(text: Column, weights: Array[Long]): Column =
    graft.functions.linear_bow_score(text, weights)

  /** Mean-pooled fixed-point logit as an integer: `n·biasFp + Σ w[b(tᵢ)]`,
    * which is `n ×` the mean-pooled logit `biasFp + (1/n)·Σ` — the sign
    * (the classifier decision) is identical for n > 0 and the arithmetic
    * stays exact BIGINT.
    */
  def linearLogitFp(text: Column, weights: Array[Long], biasFp: Long): Column =
    tokenCount(text).cast("long") * lit(biasFp) + linearScore(text, weights)

  /** The classifier keep decision: mean-pooled logit >= 0. */
  def linearKeep(text: Column, weights: Array[Long], biasFp: Long): Column =
    linearLogitFp(text, weights, biasFp) >= 0

  /** Keep/drop decision as one codegen'd boolean column — the filter stage
    * of a curation pipeline (no shuffle; composes with any scan).
    */
  def qualityKeep(text: Column, rules: QualityRules = QualityRules()): Column = {
    // minTokens >= 1 keeps the 0-token (blank) case out of the distinct
    // ratio's division via the first conjunct — and a 0-token doc is never
    // a "quality" document under any Gopher-style rule set anyway
    require(rules.minTokens >= 1,
      s"qualityKeep: minTokens=${rules.minTokens} must be >= 1")
    val toks = tokens(text)
    val n = size(toks)
    n.geq(rules.minTokens)
      .and(n.leq(rules.maxTokens))
      .and(size(array_distinct(toks)).cast("double") / n >= rules.minDistinctRatio)
      .and(graft.functions.top_ngram_ratio(text, 2) <= rules.maxTopBigramRatio)
  }

  /** Language-ID marker vocabularies (tiny n-gram-free heuristic: count
    * language-specific high-frequency words; argmax wins, ties break
    * alphabetically). A real deployment swaps in char-trigram profiles —
    * the plan shape (single projection) is identical.
    */
  val LangMarkers: Seq[(String, Seq[String])] = Seq(
    "de" -> Seq("der", "die", "und", "ist", "nicht"),
    "en" -> Seq("the", "a", "and", "is", "not"),
    "es" -> Seq("el", "los", "y", "es", "no"),
    "fr" -> Seq("le", "les", "et", "est", "pas"),
    "zh" -> Seq("的", "是", "不", "了", "在"))

  /** All language marker counts in ONE tokenization pass (native
    * expression), ordered like [[LangMarkers]].
    */
  def allMarkerCounts(text: Column): Column =
    graft.functions.marker_counts(text, LangMarkers.map(_._2))

  /** Predicted language from a marker-count array: argmax, alphabetical
    * tie-break (strictly-greater fold in fixed language order).
    */
  def langIdFromCounts(counts: Column): Column = {
    val pairs = LangMarkers.zipWithIndex.map { case ((lang, _), i) =>
      (lang, counts.getItem(i))
    }
    pairs.tail.foldLeft(
      struct(lit(pairs.head._1).as("lang"), pairs.head._2.as("cnt"))) {
      case (best, (lang, cnt)) =>
        when(cnt > best.getField("cnt"), struct(lit(lang).as("lang"), cnt.as("cnt")))
          .otherwise(best)
    }.getField("lang")
  }

  def langId(text: Column): Column = langIdFromCounts(allMarkerCounts(text))

  /** Corpus-relative n-gram LM novelty signal — the exact-integer surrogate
    * of the CCNet/KenLM perplexity filter: a document whose bigrams are
    * mostly RARE in the corpus-wide bigram table is "high-perplexity under
    * the corpus's own bigram LM" (boilerplate scores low, anomalous/noisy
    * text scores high). Exact counts instead of log-probabilities keep the
    * result BIGINT-reproducible in any engine — no transcendental-function
    * last-ulp drift in the oracle compare; callers threshold on the
    * `n_rare / n_bigrams` ratio.
    *
    * Output: one row per input doc — `(id, n_bigrams, n_rare)` where
    * `n_rare` counts bigram POSITIONS (multiplicity kept — a doc repeating
    * one rare bigram is all-rare) whose corpus-wide occurrence count is
    * below `minCount`. Docs with < 2 tokens emit (0, 0).
    *
    * Plan shape (both stages the vb1 aggregation tree): explode the
    * multiplicity-preserving [[graft.functions.word_ngrams]] kernel →
    * map-side partial count shuffled by gram (the LM "training" pass) →
    * re-join the exploded grams to their counts on the gram key → per-doc
    * partial-aggregated count. Work is linear in corpus token count and
    * every shuffle is keyed (gram, then id) — no broadcast of the gram
    * table (the rare tail IS most of the vocabulary at scale).
    */
  def bigramNovelty(
      df: DataFrame, idCol: String, textCol: String, minCount: Long): DataFrame = {
    require(minCount >= 1, s"bigramNovelty: minCount=$minCount must be >= 1")
    val grams = df.select(
      col(idCol),
      explode(graft.functions.word_ngrams(col(textCol), 2)).as("_gram"))
    val counts = grams.groupBy(col("_gram")).agg(count(lit(1)).as("_c"))
    val perDoc = grams
      .join(counts, "_gram")
      .groupBy(col(idCol))
      .agg(
        count(lit(1)).as("n_bigrams"),
        sum(when(col("_c") < minCount, 1L).otherwise(0L)).as("n_rare"))
    // a null id would silently report (0, 0): its gram rows group under the
    // null key, which this left join (null never equi-matches) then drops —
    // fail loudly at the first offending row instead (the Corpus-review
    // convention; guarded HERE, on the side evaluated once per doc, not in
    // the generator projection a 0-bigram doc never reaches). Ids must also
    // be unique: a reused id fans out the re-join and double-counts.
    df.select(
        when(col(idCol).isNull, raise_error(lit(
          s"bigramNovelty: null id in '$idCol' — every doc needs a unique id")))
          .otherwise(col(idCol)).as(idCol))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("n_bigrams"), lit(0L)).as("n_bigrams"),
        coalesce(col("n_rare"), lit(0L)).as("n_rare"))
  }

  /** CCNet-style frequent-line removal (Wenzek et al. 2020 §3.1, the
    * dedup that targets per-SITE boilerplate surviving HTML extraction):
    * drop every line whose normalized form appears in at least `minDocs`
    * DISTINCT documents. Normalization for the frequency key is
    * lowercase + whitespace-collapse (the [[fingerprint]] preimage);
    * blank lines are structure, not boilerplate — they are exempt and
    * kept.
    *
    * Plan shape: one pass explodes lines with their positions; the
    * frequency count shuffles by line key with map-side partial
    * aggregation (hot boilerplate lines combine before the exchange);
    * the frequent-line set — at most (corpus lines)/minDocs keys, small
    * for any sane threshold — BROADCASTS into a left-anti join (no
    * second shuffle); reassembly is one groupBy(id). Linear in corpus
    * lines, two shuffles total.
    *
    * Output: `(idCol, textCol, n_lines, n_dropped)` — the cleaned text
    * (original line spelling and order, surviving lines re-joined with
    * `\n`; `''` when everything dropped), the doc's original line count,
    * and how many lines were removed.
    */
  def dropFrequentLines(
      df: DataFrame, idCol: String, textCol: String, minDocs: Long): DataFrame = {
    require(minDocs >= 2, s"dropFrequentLines: minDocs=$minDocs must be >= 2")
    val lines = df.select(
      col(idCol),
      posexplode(split(col(textCol), "\n")).as(Seq("_pos", "_line")))
      .withColumn("_key", lower(trim(regexp_replace(col("_line"), "\\s+", " "))))
    val frequent = lines
      .where(col("_key") =!= "")
      .groupBy(col("_key"))
      .agg(countDistinct(col(idCol)).as("_docs"))
      .where(col("_docs") >= minDocs)
      .select(col("_key"))
    val kept = lines.join(broadcast(frequent), Seq("_key"), "left_anti")
    val perDoc = kept
      .groupBy(col(idCol))
      .agg(
        array_join(
          transform(
            array_sort(collect_list(struct(col("_pos"), col("_line")))),
            s => s.getField("_line")),
          "\n").as("_clean"),
        count(lit(1)).as("_kept"))
    df.select(col(idCol), size(split(col(textCol), "\n")).cast("bigint").as("_total"))
      .join(perDoc, Seq(idCol), "left")
      .select(
        col(idCol),
        coalesce(col("_clean"), lit("")).as(textCol),
        col("_total").as("n_lines"),
        (col("_total") - coalesce(col("_kept"), lit(0L))).as("n_dropped"))
  }

  /** Sliding token-window chunking — the context-window/RAG chunker: split
    * each document into `maxTokens`-token chunks that step by `maxTokens -
    * overlap`, so consecutive chunks share `overlap` tokens. Chunk starts
    * are `0, stride, 2·stride, …` while they begin new content (a start
    * whose window the previous chunk already fully covered — `start +
    * overlap >= n` — is dropped); docs with no tokens emit no chunks.
    *
    * One codegen'd explode — a pure projection, no shuffle, linear in
    * corpus tokens (each token appears in at most
    * `ceil(maxTokens / stride)` chunks).
    *
    * Output: `(id, chunk_idx, chunk_text, chunk_tokens)` with chunk_idx
    * counting from 0 in document order.
    */
  def chunkByTokens(
      df: DataFrame,
      idCol: String,
      textCol: String,
      maxTokens: Int,
      overlap: Int = 0): DataFrame = {
    require(maxTokens >= 1, s"chunkByTokens: maxTokens=$maxTokens must be >= 1")
    require(
      overlap >= 0 && overlap < maxTokens,
      s"chunkByTokens: overlap=$overlap must be in [0, maxTokens)")
    require(!df.columns.contains("_toks"),
      "chunkByTokens: input already has a '_toks' working column")
    val stride = maxTokens - overlap
    // tokenize ONCE into a staged column (r14 optimization): a lambda body
    // that references the outer array EXPRESSION re-evaluates it per
    // element — with `toks = tokens(text)` inline, the filter lambda
    // (via n) and the transform lambda re-tokenized the document once per
    // start candidate and once per chunk (~2×chunks tokenizations/doc;
    // tq12 solo 2.2 → 0.76 s, cq5 1.6 → 0.65 s). Against an attribute the lambdas are
    // array ops only. chunk_tokens = size(slice) replaces re-tokenizing
    // the joined chunk text: tokens are whitespace-free and non-empty, so
    // splitting their single-space join returns exactly the slice.
    val toks = col("_toks")
    val n = size(toks)
    val starts = filter(
      sequence(lit(0), greatest(n - 1, lit(0)), lit(stride)),
      s => s === 0 || s + overlap < n)
    df.select(col(idCol), tokens(col(textCol)).as("_toks"))
      .where(size(col("_toks")) > 0)
      .select(
        col(idCol),
        posexplode(
          transform(starts, s => struct(
            array_join(slice(toks, s + 1, lit(maxTokens)), " ").as("t"),
            size(slice(toks, s + 1, lit(maxTokens))).cast("int").as("n")))))
      .select(
        col(idCol),
        col("pos").cast("int").as("chunk_idx"),
        col("col.t").as("chunk_text"),
        col("col.n").as("chunk_tokens"))
  }

  /** PII redaction patterns, ordered: email first (its local part can
    * contain digits/dots that the later numeric patterns would mangle),
    * then SSN (3-2-4 grouping) before the generic 3-3-4 phone, then IPv4.
    * Restricted to syntax with identical semantics in Java regex and RE2
    * (`\b`, `\d`, bounded repetition, non-capturing groups) so a SQL
    * engine applying the same patterns byte-matches the output.
    */
  val PiiPatterns: Seq[(String, String)] = Seq(
    "[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}" -> "<EMAIL>",
    "\\b\\d{3}-\\d{2}-\\d{4}\\b" -> "<SSN>",
    "\\b\\d{3}[-. ]\\d{3}[-. ]\\d{4}\\b" -> "<PHONE>",
    "\\b\\d{1,3}(?:\\.\\d{1,3}){3}\\b" -> "<IP>")

  /** Redact emails, SSNs, phone numbers, and IPv4 addresses — one chained
    * codegen'd `regexp_replace` pass per pattern, a pure projection (no
    * shuffle, scales linearly with corpus bytes).
    */
  def piiScrub(text: Column): Column =
    PiiPatterns.foldLeft(text) { case (c, (pat, tag)) =>
      regexp_replace(c, pat, tag)
    }

  /** Winnowing fingerprints (Schleimer, Wilkerson & Aiken, SIGMOD 2003 —
    * the MOSS algorithm): positional local fingerprints with the
    * guarantee that any shared run of ≥ `w + k − 1` tokens between two
    * documents shares at least one selected fingerprint. Word-k-gram
    * hashes (32-bit md5 prefix — engine-portable, like every hash the
    * oracle re-derives); per window of `w` consecutive hashes select the
    * MINIMUM, ties to the RIGHTMOST occurrence (the paper's robust
    * winnowing rule); identical (position, hash) selections across
    * overlapping windows dedupe. Documents shorter than `k` tokens emit
    * nothing; shorter than `w` grams form one whole-array window.
    *
    * Everything is codegen'd array HOFs in ONE projection pass —
    * O(grams·w) per document, no shuffle, no UDF; output rows
    * (id, pos, fp) are join keys for containment/overlap detection
    * (the positional complement of [[Dedup]]'s set-similarity paths:
    * winnowing localizes WHERE the shared run is).
    */
  def winnowingFingerprints(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      portableHash: Boolean = true): DataFrame = {
    require(k >= 1, s"k must be >= 1, got $k")
    require(w >= 1, s"w must be >= 1, got $w")
    // one codegen'd kernel call per document ([[graft.functions.winnow_fps]]
    // — monotonic-deque window minima, O(grams) amortized; the original
    // HOF formulation was allocation-bound at ~21 s/500k docs regardless
    // of hash choice, the kernel runs the same selection in one pass).
    // `portableHash` keeps the md5-prefix value the oracle re-derives;
    // production runs can pass false for xxhash64.
    df.select(
        col(idCol),
        explode(graft.functions.winnow_fps(col(textCol), k, w, portableHash))
          .as("_sel"))
      .select(
        col(idCol),
        col("_sel.pos").as("pos"),
        col("_sel.fp").as("fp"))
  }

  /** Winnowing overlap pairs: document pairs sharing at least `minShared`
    * DISTINCT winnowing fingerprints, with the shared count — the
    * positional containment detector built on
    * [[winnowingFingerprints]]' guarantee (any shared token run of
    * ≥ w+k−1 shares a fingerprint, so real containment can't be missed
    * at that granularity). Plan: fingerprint both sides in one pass
    * each, equi-join on the fp VALUE (positions localize matches but
    * pair identity only needs the hash), count distinct shared fps per
    * pair, threshold. Shuffle is bounded by fingerprint rows (~1/(w+1)
    * of grams — winnowing's expected density), and hot fingerprints
    * (boilerplate shared by thousands of docs) are capped at
    * `maxDocsPerFp` by frequency pre-filter — the same hot-bucket
    * discipline as the minhash band join; dropped fps are the
    * boilerplate a containment detector WANTS to ignore.
    */
  def winnowingOverlapPairs(
      df: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxDocsPerFp: Int = 64,
      portableHash: Boolean = true): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFp >= 2, s"maxDocsPerFp must be >= 2, got $maxDocsPerFp")
    // the fingerprint pass (the md5/xxhash-heavy part) feeds the frequency
    // count AND both join sides — persist it once instead of recomputing
    // 3× (O(fps) rows, tiny next to the corpus). Registered with OpCaches
    // (r15): long-lived sessions release via OpCaches.release(spark).
    val fps = OpCaches.persist(
      winnowingFingerprints(df, idCol, textCol, k, w, portableHash)
        .select(col(idCol).as("_id"), col("fp"))
        .distinct())
    val keep = fps.groupBy(col("fp"))
      .agg(count(lit(1)).as("_n"))
      .where(col("_n") <= maxDocsPerFp && col("_n") >= 2)
      .select(col("fp"))
    val pruned = fps.join(keep, "fp")
    // per-doc fingerprint totals (pre-prune — the containment denominator
    // is the document's real fingerprint mass, not the post-prune subset)
    val totals = fps.groupBy(col("_id")).agg(count(lit(1)).as("_nfp"))
    pruned.as("a")
      .join(pruned.as("b"),
        col("a.fp") === col("b.fp") && col("a._id") < col("b._id"))
      .groupBy(col("a._id").as("doc_a"), col("b._id").as("doc_b"))
      .agg(count(lit(1)).cast("bigint").as("shared_fps"))
      .where(col("shared_fps") >= minShared)
      .join(totals.select(col("_id").as("doc_a"), col("_nfp").as("_na")), "doc_a")
      .join(totals.select(col("_id").as("doc_b"), col("_nfp").as("_nb")), "doc_b")
      .select(
        col("doc_a"), col("doc_b"), col("shared_fps"),
        // containment of the smaller doc in the larger — 1.0 means every
        // fingerprint of the smaller doc also appears in the other
        round(col("shared_fps") / least(col("_na"), col("_nb")), 6)
          .as("containment"))
  }

  /** Cross-corpus winnowing containment — the DIRECTIONAL form of
    * [[winnowingOverlapPairs]] for incremental ingest and contamination
    * checks: which batch documents contain runs already present in the
    * corpus, and where. Per (batch doc, corpus doc) with ≥ `minShared`
    * shared fingerprints: the shared count and `containment` = shared /
    * batch doc's fingerprint mass (1.0 ⇒ every batch fingerprint already
    * exists in that corpus doc — verbatim inclusion at winnowing
    * granularity). Never a corpus self-join: corpus fingerprints are
    * computed once (re-usable as a persisted artifact by writing the
    * [[winnowingFingerprints]] frame), the hot-fp cap is corpus-side
    * frequency (boilerplate suppression), and the join is
    * batch-fps × capped-corpus-fps on the hash value. Stream-safe: the
    * batch side is stateless row-local work, so a micro-batch replay
    * equals the batch form (the dx1/st6 pattern).
    */
  def winnowingContainsAgainst(
      corpus: DataFrame,
      batch: DataFrame,
      idCol: String,
      textCol: String,
      k: Int = 3,
      w: Int = 4,
      minShared: Int = 2,
      maxDocsPerFp: Int = 64,
      portableHash: Boolean = true): DataFrame = {
    require(minShared >= 1, s"minShared must be >= 1, got $minShared")
    require(maxDocsPerFp >= 1, s"maxDocsPerFp must be >= 1, got $maxDocsPerFp")
    // NOT persisted, although corpusFps feeds two consumers and streaming
    // callers re-invoke per micro-batch: A/B at sf0.1 (r14) measured the
    // persisted form NO faster for st14 and ~0.3-1 s SLOWER for the
    // one-shot dx3 (materializing the fingerprint table costs what the
    // second derivation does, and the cache write is a barrier the
    // pipelined form doesn't pay). A standing ingest that wants the
    // corpus side amortized should persist the winnowingFingerprints
    // frame itself, as the scaladoc describes.
    val corpusFps = winnowingFingerprints(corpus, idCol, textCol, k, w, portableHash)
      .select(col(idCol).as("_cid"), col("fp"))
      .distinct()
    val keep = corpusFps.groupBy(col("fp"))
      .agg(count(lit(1)).as("_n"))
      .where(col("_n") <= maxDocsPerFp)
      .select(col("fp"))
    val prunedCorpus = corpusFps.join(keep, "fp")
    val batchFps = winnowingFingerprints(batch, idCol, textCol, k, w, portableHash)
      .select(col(idCol).as("_bid"), col("fp"))
      .distinct()
    val batchTotals = batchFps.groupBy(col("_bid")).agg(count(lit(1)).as("_nb"))
    batchFps
      .join(prunedCorpus, "fp")
      .groupBy(col("_bid"), col("_cid"))
      .agg(count(lit(1)).cast("bigint").as("shared_fps"))
      .where(col("shared_fps") >= minShared)
      .join(batchTotals, "_bid")
      .select(
        col("_bid").as("doc_id"),
        col("_cid").as("corpus_doc"),
        col("shared_fps"),
        round(col("shared_fps") / col("_nb"), 6).as("containment"))
  }

  /** Blocklist screening — the safety-filter primitive: per document, the
    * total match count across a pattern list (chained codegen'd
    * `regexp_count` — one projection pass, no shuffle) and the keep/flag
    * verdict. Patterns must stay in the RE2-safe subset ([[PiiPatterns]]'
    * rule: `\b`, `\d`, bounded repetition, no lookaround) so oracle
    * engines byte-match the counts. For blocklists far beyond regex
    * alternation scale (~10⁴+ literal terms), route through the postings
    * machinery ([[Lexical]]) instead — term-match-as-join.
    */
  def blocklistHits(text: Column, patterns: Seq[String]): Column = {
    require(patterns.nonEmpty, "need at least one blocklist pattern")
    patterns.map(p => regexp_count(text, lit(p))).reduce(_ + _)
  }

  def blocklistKeep(text: Column, patterns: Seq[String]): Column =
    blocklistHits(text, patterns) === 0

  /** EXACT heavy-hitter n-grams via a count-min sketch candidate pass
    * (Cormode & Muthukrishnan 2005): pass 1 folds every gram occurrence
    * into ONE driver-merged CMS (an aggregate — no shuffle of the gram
    * table, sketch size is eps/confidence-bounded and corpus-independent);
    * pass 2 re-derives grams, keeps only those whose broadcast-sketch
    * estimate reaches `minCount`, exactly counts the survivors, and
    * re-applies the threshold on the exact counts. CMS never
    * UNDER-estimates, so the candidate set is a superset of the true heavy
    * hitters and the final exact filter makes the result identical to the
    * plain `GROUP BY gram HAVING count >= minCount` — hash-gateable — while
    * the shuffle carries candidate grams only (∝ heavy hitters + sketch
    * false positives) instead of the full distinct-gram vocabulary. At
    * 100 TB the vocabulary is billions of tail grams and that shuffle is
    * the dominant cost of the exact form; here it disappears into two scan
    * passes. The sketch lookup runs in a UDF (a few hash probes; no
    * builtin expression exists for CMS), confined to the filter pass.
    * Deterministic output: count desc, gram asc.
    */
  def heavyHitterNgrams(
      df: DataFrame,
      textCol: String,
      n: Int,
      minCount: Long,
      eps: Double = 1e-4,
      confidence: Double = 0.99,
      seed: Int = 42): DataFrame = {
    require(n >= 1, s"n must be >= 1, got $n")
    require(minCount >= 1, s"minCount must be >= 1, got $minCount")
    // fail here with the CMS sizing story, not inside Spark's sketch ctor
    require(eps > 0 && eps < 1,
      s"eps=$eps must be in (0, 1) — sketch width is ceil(2/eps) counters")
    require(confidence > 0 && confidence < 1,
      s"confidence=$confidence must be in (0, 1) — depth is ceil(ln(1/(1-c)))")
    def grams = df.select(explode(Decontaminate.ngrams(col(textCol), n)).as("gram"))
    val cms = grams.stat.countMinSketch("gram", eps, confidence, seed)
    val bc = df.sparkSession.sparkContext.broadcast(cms)
    val mc = minCount
    val mightBeHeavy =
      udf((g: String) => g != null && bc.value.estimateCount(g) >= mc)
    grams
      .where(mightBeHeavy(col("gram")))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .where(col("n") >= mc)
      .orderBy(col("n").desc, col("gram"))
  }
}
