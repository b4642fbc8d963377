package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Lexical retrieval: BM25 scoring and reciprocal-rank fusion — the
  * keyword-search half of a hybrid (dense + sparse) retrieval stack. In an
  * LLM data pipeline these drive corpus search, targeted decontamination
  * ("find training docs lexically close to this eval item"), and hybrid
  * ranking next to the IVF vector path ([[graft.ivf.VectorTopK]]).
  *
  * BM25 (Robertson & Zaragoza 2009, "The Probabilistic Relevance
  * Framework") with one deliberate deviation: the idf is the RATIONAL form
  * `(N - df + 0.5) / (df + 0.5)` — the standard formula without the
  * surrounding `ln`. Rationale: every input (tf, df, N, doclen) is an exact
  * integer, so the whole per-term score stays a composition of IEEE-exact
  * rational ops that a second engine (the DuckDB oracle) reproduces
  * bit-identically, which `ln` — correctly-rounded nowhere in either
  * engine's contract — would break. The rational idf is a strictly monotone
  * transform of the log idf on df, so single-term rankings are identical;
  * multi-term rankings weight rare terms more aggressively than the log
  * form (documented, deterministic). It is also positive for every
  * df ∈ [0, N], sidestepping the negative-idf clamp the log variant needs.
  *
  * Scale shape (the 100 TB story): query terms become per-row `size(filter(
  * tokens, _ == term))` projections — one codegen'd pass over the corpus,
  * NO explode and NO shuffle for tf. Corpus stats (N, Σdl, per-term df)
  * are one 1-row aggregate broadcast back into the scoring scan; the only
  * other exchange is the final top-k (`TakeOrderedAndProject`). Two corpus
  * scans total; at petabyte scale the stats pass is the thing a production
  * deployment precomputes once per corpus snapshot and reuses across
  * queries — [[bm25Stats]] is exposed separately for exactly that, and the
  * returned [[Bm25Stats]] carries its term list so a stats/query mismatch
  * is refused instead of silently mis-scoring.
  *
  * Tokenization is [[TextAnalysis.tokens]] — the one whitespace tokenizer
  * every text operator in the engine shares.
  */
object Lexical {

  /** Lucene-default BM25 parameters. */
  val DefaultK1 = 1.2
  val DefaultB = 0.75

  /** Per-term columns are codegen'd projections; past a few hundred the
    * plan goes wide for no retrieval-quality reason. Real engines switch to
    * a posting-list join at that point (the [[Decontaminate]] gram-explode
    * shape); refuse rather than degrade silently.
    */
  private val MaxTerms = 256

  /** Corpus statistics bound to the term list they were computed for:
    * `df` has one row with `_n` (doc count), `_sumdl` (total token count)
    * and `_df0.._dfI` (document frequency of `terms(i)`). Reusable across
    * [[bm25]] calls sharing a corpus snapshot and term list; [[bm25]]
    * refuses a stats object whose terms differ from the query's.
    */
  final case class Bm25Stats(terms: Seq[String], df: DataFrame)

  private def tfCol(ws: Column, term: String): Column =
    size(filter(ws, _ === lit(term)))

  /** Lexical tokenization: [[TextAnalysis.tokens]] minus the phantom
    * empty-string token that `split(trim(x), "\\s+")` produces for
    * blank/whitespace-only text (Java regex split on "" yields [""]) —
    * without the filter a blank doc carried dl=1, a `""` posting, and
    * df("") > 0, and a blank QUERY matched every blank doc with a nonzero
    * score (review r11). Non-blank text never yields empty tokens, so
    * only blank rows change. The DuckDB oracles mirror this with
    * `list_filter(ws, x -> x <> '')`.
    */
  private def lexTokens(c: Column): Column =
    array_remove(TextAnalysis.tokens(c), "")

  private def validate(terms: Seq[String]): Unit = {
    require(terms.nonEmpty, "bm25: empty query")
    require(terms.forall(_.nonEmpty), "bm25: empty-string query term")
    require(terms.size <= MaxTerms,
      s"bm25: ${terms.size} query terms > $MaxTerms — use a posting-list " +
        "join (Decontaminate-style gram explode) for bulk term sets")
    require(terms.distinct.size == terms.size, s"bm25: duplicate query terms")
  }

  /** Working columns are underscore-prefixed, so only an underscore-leading
    * or output-shadowing id column can collide — refuse those up front
    * (case-insensitively: Spark resolves column names case-insensitively
    * by default).
    */
  private def checkIdCol(idCol: String): Unit = {
    require(!idCol.startsWith("_") && !idCol.equalsIgnoreCase("score_e9"),
      s"bm25: idCol '$idCol' collides with a scoring working/output column")
  }

  /** Compute [[Bm25Stats]] for `terms`: one aggregate over one corpus scan;
    * precompute and reuse across queries sharing a corpus snapshot.
    */
  def bm25Stats(docs: DataFrame, textCol: String, terms: Seq[String]): Bm25Stats = {
    validate(terms)
    // tokenize ONCE per row through a staged projection (r15): Column
    // builders substitute their argument tree per reference, so an inline
    // `ws` re-ran the split/trim/remove chain once per term per row
    // (terms+1 tokenizations; the engine's recurring blowup) — the
    // aggregate now computes terms+2 cheap array passes over one array
    val tok = docs.select(lexTokens(col(textCol)).as("_ws"))
    val dfs = terms.indices.map { i =>
      sum((tfCol(col("_ws"), terms(i)) > 0).cast("long")).as(s"_df$i")
    }
    val aggs =
      count(lit(1)).as("_n") +: sum(size(col("_ws"))).as("_sumdl") +: dfs
    Bm25Stats(terms, tok.agg(aggs.head, aggs.tail: _*))
  }

  /** BM25 scores for every document: `(idCol, score_e9)` where `score_e9`
    * is the score in fixed-point nano units (`BIGINT`). Per-term scores are
    * quantized to integers BEFORE the cross-term sum, so the total is
    * order-independent and cross-engine exact (the money-column idiom of
    * [[graft.Queries]]).
    *
    * @param stats optional precomputed [[bm25Stats]] result — refused if
    *              its term list differs from `terms`; recomputed when
    *              absent.
    */
  def bm25(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[Bm25Stats] = None): DataFrame = {
    validate(terms)
    checkIdCol(idCol)
    stats.foreach(st => require(st.terms == terms,
      s"bm25: stats were computed for terms ${st.terms}, query has $terms"))
    val st = stats.getOrElse(bm25Stats(docs, textCol, terms)).df
    // same staged-tokenization shape as bm25Stats (r15): one split per
    // row, terms+1 array passes over the staged attribute
    val tf = docs
      .select(col(idCol), lexTokens(col(textCol)).as("_ws"))
      .select(
        col(idCol) +: size(col("_ws")).as("_dl") +:
          terms.indices.map(i => tfCol(col("_ws"), terms(i)).as(s"_tf$i")): _*)
    // 1-row stats side: always broadcast, never a shuffle
    val joined = tf.crossJoin(broadcast(st))
    // every sub-expression below is mirrored token-for-token in the oracle
    // SQL (Queries.bm25OracleScore) — the parenthesization IS the contract
    val avgdl = col("_sumdl") / col("_n").cast("double")
    // per-term contributions stay BIGINT (the oracle's inner CAST), but
    // the SUM runs in exact DECIMAL(38,0) and casts back at the end —
    // DuckDB's BIGINT sum is HUGEINT, so this keeps the engines aligned
    // and extends the overflow envelope from N·terms to per-term only
    // (~6e9 docs at df=1); a genuinely out-of-BIGINT total refuses loudly
    // under ANSI (both engines) instead of wrapping (review r11)
    val scoreE9 = terms.indices.map { i =>
      val idf = (col("_n") - col(s"_df$i") + lit(0.5)) / (col(s"_df$i") + lit(0.5))
      val num = col(s"_tf$i") * lit(k1 + 1)
      val den = col(s"_tf$i") + lit(k1) * (lit(1 - b) + lit(b) * (col("_dl") / avgdl))
      round(idf * (num / den) * lit(1e9)).cast("bigint").cast("decimal(38,0)")
    }.reduce(_ + _).cast("bigint")
    joined.select(col(idCol), scoreE9.as("score_e9"))
  }

  /** Top-k by BM25: `(idCol, score_e9)`, ties broken by id. */
  def bm25TopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      terms: Seq[String],
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB,
      stats: Option[Bm25Stats] = None): DataFrame = {
    require(k > 0, s"bm25TopK: k=$k must be positive")
    bm25(docs, idCol, textCol, terms, k1, b, stats)
      .orderBy(col("score_e9").desc, col(idCol))
      .limit(k)
  }

  /** Bulk BM25 over a QUERY TABLE: top-k docs per query, scored via a
    * posting-list equi-join — the bulk path for many/large queries that the
    * per-term-projection scorer ([[bm25]]) deliberately refuses past
    * [[MaxTerms]], and the basis of doc-as-query similar-document search.
    * Query terms are the DISTINCT tokens of the query text (set semantics,
    * matching [[bm25]]'s distinct-terms contract); only (query, doc) pairs
    * sharing ≥ 1 term get a row (an unmatched doc's score is 0 by the
    * formula, so top-k is unaffected unless fewer than k docs match —
    * standard retrieval semantics, unlike [[bm25]] which emits all docs).
    * Same rational-idf fixed-point arithmetic, so scores equal [[bm25]]'s
    * for the same terms.
    *
    * Scale shape: postings are one explode + (doc, term) partial-agg'd
    * count; df is one more agg over postings; the query-terms join
    * broadcasts when the query table is small (Catalyst's stats decide);
    * scoring is a (qid, doc) aggregate of integer contributions and the
    * final top-k a per-qid window — every step an equi-join/agg on a key,
    * nothing quadratic, corpus scanned twice (postings + doc lengths share
    * the first scan's shuffle).
    *
    * PRECONDITION: corpus ids are unique (same contract as
    * [[appendPostings]] documents for ingest). A duplicated id merges tf
    * across its rows in the postings while keeping one dl row per ROW, so
    * the dl join fans out and the merged contribution double-counts —
    * matching neither duplicate's [[bm25]] score. Dedup upstream
    * ([[Dedup.exact]] / dropDuplicates) or verify with
    * [[Corpus.integrityReport]].
    *
    * NOT fully lazy: constructing the result runs one bounded job over the
    * QUERIES side (tokenize + distinct, ≤64k+1 rows collected) to localize
    * the term set for the postings-scan pushdown — the corpus side stays
    * untouched until an action. Applies to the snapshot overloads too.
    */
  def bm25BulkTopK(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      k: Int,
      k1: Double = DefaultK1,
      b: Double = DefaultB): DataFrame = {
    checkIdCol(idCol)
    checkQueryCols(idCol, qidCol, qtextCol)
    require(k > 0, s"bm25BulkTopK: k=$k must be positive")
    val (post, dft, dl, stats) = corpusArtifacts(docs, idCol, textCol)
    scoreBulk(post, dft, dl, stats, idCol, queries, qidCol, qtextCol, k, k1, b)
  }

  /** The working-column/collision guard for the query side of the bulk
    * scorer — same refuse-don't-guess posture as [[checkIdCol]]. The
    * doc-as-query use (similar-document search, both sides carrying
    * `doc_id`) must rename the query side's id first: a qidCol equal to
    * idCol would hit an ambiguous-column AnalysisException deep inside the
    * join pipeline instead of an actionable error here.
    */
  private def checkQueryCols(idCol: String, qidCol: String, qtextCol: String): Unit = {
    for (c <- Seq(qidCol, qtextCol)) {
      require(!c.startsWith("_") && !c.equalsIgnoreCase("score_e9"),
        s"bm25BulkTopK: query column '$c' collides with a scoring working/output column")
    }
    require(!qidCol.equalsIgnoreCase(idCol),
      s"bm25BulkTopK: qidCol '$qidCol' equals the corpus idCol — rename the query " +
        "side's id (e.g. .withColumnRenamed) for doc-as-query search")
  }

  /** The corpus-derived tables the bulk scorer consumes: postings
    * `(id, _term, _tf)`, document frequencies `(_term, _df)`, doc lengths
    * `(id, _dl)`, and the 1-row `(_n, _sumdl)` stats — one tokenizing scan,
    * one explode, shared by the per-call path ([[bm25BulkTopK]]) and the
    * persisted artifact ([[writePostings]]).
    */
  private def corpusArtifacts(
      docs: DataFrame,
      idCol: String,
      textCol: String): (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val ws = lexTokens(col(textCol))
    val tok = docs.select(col(idCol), ws.as("_ws"))
    val dl = tok.select(col(idCol), size(col("_ws")).as("_dl"))
    val post = tok
      .select(col(idCol), explode(col("_ws")).as("_term"))
      .groupBy(col(idCol), col("_term"))
      .agg(count(lit(1)).as("_tf"))
    val dft = post.groupBy(col("_term")).agg(count(lit(1)).as("_df"))
    val stats = dl.agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sumdl"))
    (post, dft, dl, stats)
  }

  /** Max (qid, term) pairs [[scoreBulk]] localizes for the term-pushdown
    * fast path. Under the cap the batch's terms become a SCAN PREDICATE on
    * the postings/df sides — on the `_term`-bucketed+sorted snapshot layout
    * that is bucket pruning plus row-group min/max pruning, which is what
    * makes score time ∝ postings TOUCHED instead of ∝ corpus postings (the
    * 5M-doc probe measured a rare-term batch at the same ~18 s as a 41×
    * bigger common-term batch before this — the full 248M-row postings
    * scan dominated both). Over the cap (a corpus-sized doc-as-query
    * batch, where a full scan is the right plan anyway) the path is the
    * unchanged full-scan join. 64k pairs ≈ a few MB localized — broadcast
    * territory.
    */
  private val PushdownMaxPairs = 65536

  /** Term sets at most this large push down as an or-of-equalities
    * predicate — parquet translates it eq-by-eq, so row-group min/max
    * stats prune PRECISELY on the sorted-by-`_term` layout. Larger sets
    * (up to [[IsinMaxTerms]]) use `isin`: Spark still bucket-prunes any
    * In, but parquet collapses big In lists to one min/max range, which
    * on a vocabulary-spanning term set prunes nothing — precision there
    * would cost a per-row-group OR-tree walk of thousands of branches.
    */
  private val OrEqMaxTerms = 64

  /** Above this many distinct terms the scan predicate switches from
    * `isin` to the broadcast term-set SEMI-JOIN (the same shape as the
    * over-pair-cap mid-tier): a giant In list whose min/max range covers
    * the layout prunes nothing and still charges a per-row set probe
    * inside the scan — measured 68.5 s for a 55k-term isin vs 51.4 s for
    * the equivalent semi-join vs 45.8 s for no filter at all on the same
    * 248M-posting corpus (LexicalScaleProbe r13, now in BENCHNOTES
    * "Retired tools"). Up to this size the In
    * list still has a real chance of pruning buckets/row groups (the r12
    * rare-batch shape: ≤64k pairs of ≤8k distinct terms, 17.9 → 1.12 s).
    */
  private val IsinMaxTerms = 8192

  /** Mid-tier row cap: past [[PushdownMaxPairs]] (no driver-side
    * localization) but at most this many DISTINCT terms, the batch's term
    * set is broadcast-SEMI-JOINED into the postings/df scans instead of
    * reverting straight to the full-scan shuffle join. No row-group
    * pruning — the postings scan still reads every row — but the 248M-row
    * postings side is filtered IN-STREAM by the broadcast hash semi-join
    * and never shuffled, which is where the 16× step at the 64,001st pair
    * actually lived (round-12 verdict item #3; the 5M-doc probe measured
    * the cliff 1.12 s → 17.9 s). Past the cap (a vocabulary-spanning
    * doc-as-query batch) the term set filters nothing and broadcasting it
    * is pure overhead — the full-scan join IS the right plan there.
    */
  private val MidPushdownMaxTerms = 1 << 21

  /** Mid-tier BYTE cap on the estimated broadcast hash relation (r13
    * advice): the broadcast hint bypasses autoBroadcastJoinThreshold, so a
    * row-count-only gate would let ~2M long terms build a multi-hundred-MB
    * relation on EVERY executor — an OOM regression vs the old full-scan
    * plan, which had no executor-resident collect at all. The estimate is
    * sum(octet_length)×4 + 64 B/entry (UTF-16 String + hash-entry
    * overhead, deliberately conservative); both aggregates come from the
    * same single job that counts the terms. 64 MB keeps the relation in
    * ordinary broadcast territory (~640k ten-byte terms) while still
    * covering the measured 55k-term sweet spot forty times over. `var`
    * only as a spec hook (like [[disableMidTier]]) — never reassigned in
    * production paths.
    */
  private[graft] var MidPushdownMaxBytes = 64L << 20

  /** Probe/test hook: force the pre-mid-tier full-scan join for over-cap
    * batches, so a spec (and the retired LexicalScaleProbe) can A/B the
    * mid-tier against the old plan on the SAME batch. Never set in
    * production paths.
    */
  @volatile private[graft] var disableMidTier = false

  private def registerBatchCache(
      spark: org.apache.spark.sql.SparkSession, df: DataFrame): Unit =
    OpCaches.register(spark, df, CacheOwner)

  /** The [[OpCaches]] owner of [[scoreBulk]]'s batch caches. */
  private val CacheOwner = "lexical"

  /** Unpersist [[scoreBulk]]'s mid-tier (qid, term) batch plans registered
    * in this session — only Lexical's entries of the engine-wide
    * [[OpCaches]] registry; other operators' persists stay (drop those
    * with `OpCaches.release`) — and return how many were dropped. Call
    * between batches in a loop-heavy bulk-scoring service, AFTER the
    * previous batch's result has been fully consumed — an un-consumed
    * result recomputes from lineage, which for a non-deterministic
    * `queries` input reintroduces the broadcast/join consistency hazard
    * the persist exists to close (so the op cannot safely auto-evict on
    * your behalf).
    */
  def releaseBatchCaches(spark: org.apache.spark.sql.SparkSession): Int =
    OpCaches.release(spark, CacheOwner)

  private def scoreBulk(
      post: DataFrame,
      dft: DataFrame,
      dl: DataFrame,
      stats: DataFrame,
      idCol: String,
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    // DISTINCT across rows, not just within one (the oracle's
    // `SELECT DISTINCT qid, unnest(...)`): a qid appearing on several
    // query rows must not double-count shared terms (review r11)
    val qtPlan = queries.select(
      col(qidCol),
      explode(array_distinct(lexTokens(col(qtextCol)))).as("_term"))
      .distinct()
    // term-pushdown fast path: localize the (qid, term) batch (bounded
    // collect) and filter the postings/df scans by the batch's term set.
    // The SAME collected rows serve as the join side, so the filter and
    // the join are consistent by construction even for a non-deterministic
    // `queries` input. Exact in all cases: the joins on `_term` are inner
    // against qt, so rows outside qt's term set never contribute.
    val head = qtPlan.limit(PushdownMaxPairs + 1).collect()
    val (qt, postSide, dftSide) =
      if (head.length > PushdownMaxPairs) {
        if (disableMidTier) (qtPlan, post, dft)
        else {
          // mid-tier: the batch is too big to localize, but if its DISTINCT
          // term set is still far short of the vocabulary, semi-joining it
          // into the corpus-side scans keeps the postings table out of the
          // shuffle (exact either way: the scoring joins are inner on qt, so
          // rows outside qt's terms never contribute — the semi-join only
          // removes rows those joins would drop).
          // PERSISTED first: the term-set job and the scoring join are two
          // evaluations of the same lineage — for a non-deterministic
          // `queries` input (unseeded sample, re-read source) a term could
          // appear in the join's evaluation but not the broadcast's, and
          // its contributions would be silently semi-joined away. Caching
          // pins one materialization for both (each partition computed
          // once, by whichever job touches it first). The blocks are
          // query-batch-sized and die with the context cleaner once the
          // returned DataFrame is dropped; loop-heavy callers (bulk query
          // services) should call [[releaseBatchCaches]] between batches —
          // the persist is registered there — instead of waiting on GC.
          val qtCached = qtPlan.persist(
            org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
          val termSet = qtCached.select(col("_term")).distinct()
          // one job gates BOTH caps: row count (backstop) and the estimated
          // broadcast-relation bytes (see MidPushdownMaxBytes — the hint
          // bypasses autoBroadcastJoinThreshold, so the gate is here).
          // The gate is a real Spark job: if it dies, unpersist before
          // rethrowing — a persisted-but-unregistered plan would be
          // unreleasable for the rest of the session.
          val gate =
            try termSet
              .agg(count(lit(1)).as("_nt"), sum(octet_length(col("_term"))).as("_bytes"))
              .head()
            catch {
              case e: Throwable =>
                qtCached.unpersist(blocking = false)
                throw e
            }
          val nTerms = gate.getLong(0)
          val estBytes =
            (if (gate.isNullAt(1)) 0L else gate.getLong(1)) * 4L + nTerms * 64L
          if (nTerms > MidPushdownMaxTerms || estBytes > MidPushdownMaxBytes) {
            qtCached.unpersist(blocking = false)
            (qtPlan, post, dft)
          } else {
            // register only the KEPT persist (the over-cap path above just
            // unpersisted; registering it would inflate release counts)
            registerBatchCache(queries.sparkSession, qtCached)
            (qtCached,
              post.join(broadcast(termSet), Seq("_term"), "left_semi"),
              dft.join(broadcast(termSet), Seq("_term"), "left_semi"))
          }
        }
      } else {
        val spark = queries.sparkSession
        val local = spark.createDataFrame(
          java.util.Arrays.asList(head: _*), qtPlan.schema)
        val terms = head.iterator.map(_.getString(1)).toArray.distinct
        if (terms.length > IsinMaxTerms && !disableMidTier) {
          // localized batch, but the term set is too big for a useful In
          // predicate — semi-join it like the mid-tier (built from the
          // SAME collected terms, so filter and join stay consistent)
          import spark.implicits._
          val termSet = broadcast(terms.toIndexedSeq.toDF("_term"))
          (local,
            post.join(termSet, Seq("_term"), "left_semi"),
            dft.join(termSet, Seq("_term"), "left_semi"))
        } else {
          val pred =
            if (terms.isEmpty) lit(false)
            else if (terms.length <= OrEqMaxTerms)
              terms.map(t => col("_term") === lit(t)).reduce(_ or _)
            else col("_term").isin(terms.toIndexedSeq: _*)
          (local, post.where(pred), dft.where(pred))
        }
      }
    // mirrored token-for-token in Queries.bq1Oracle — parenthesization is
    // the contract, as in bm25
    val idf = (col("_n") - col("_df") + lit(0.5)) / (col("_df") + lit(0.5))
    val num = col("_tf") * lit(k1 + 1)
    val den = col("_tf") +
      lit(k1) * (lit(1 - b) + lit(b) * (col("_dl") / (col("_sumdl") / col("_n").cast("double"))))
    val contrib = round(idf * (num / den) * lit(1e9)).cast("bigint")
    val scored = qt
      .join(postSide, "_term")
      .join(dftSide, "_term")
      .join(dl, idCol)
      .crossJoin(broadcast(stats))
      .groupBy(col(qidCol), col(idCol))
      // exact DECIMAL sum, BIGINT out — see bm25's scoreE9 comment
      .agg(sum(contrib.cast("decimal(38,0)")).cast("bigint").as("score_e9"))
    import org.apache.spark.sql.expressions.Window
    val w = Window.partitionBy(col(qidCol))
      .orderBy(col("score_e9").desc, col(idCol))
    scored
      .withColumn("_r", row_number().over(w))
      .where(col("_r") <= k)
      .select(col(qidCol), col(idCol), col("score_e9"))
  }

  /** Handle to a persisted postings artifact: four managed tables under
    * `prefix` (see [[writePostings]]). Serializable metadata only — reread
    * via [[bm25BulkTopK]]'s snapshot overload.
    */
  final case class PostingsSnapshot(prefix: String, idCol: String, buckets: Int)

  /** Persist the corpus side of the bulk scorer ONCE per corpus snapshot —
    * the artifact a production deployment reuses across query batches
    * (per-call [[bm25BulkTopK]] re-tokenizes and re-aggregates the whole
    * corpus every time; at 100 TB that is the dominant cost of every
    * batch after the first). Four managed tables:
    *
    *  - `{prefix}_postings` `(id, _term, _tf)` — BUCKETED by `_term`;
    *  - `{prefix}_df`       `(_term, _df)`     — bucketed by `_term` with
    *    the SAME bucket count, so the postings⋈df term join plans with NO
    *    exchange on either side (asserted by LexicalSpec);
    *  - `{prefix}_dl`       `(id, _dl)`        — bucketed by the id;
    *  - `{prefix}_stats`    1 row `(_n, _sumdl)`.
    *
    * Bucket count is a corpus-level choice (per-bucket bytes that fit an
    * executor at full scale), like [[Layout.writeBucketed]] documents.
    */
  def writePostings(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      prefix: String,
      buckets: Int): PostingsSnapshot = {
    checkIdCol(idCol)
    require(buckets >= 1, s"writePostings: buckets=$buckets must be >= 1")
    val (post, _, dl, _) = corpusArtifacts(docs, idCol, textCol)
    writeArtifacts(docs.sparkSession, post, dl, prefix, idCol, buckets)
  }

  /** The table-writing half of [[writePostings]], shared with
    * [[compactPostings]]. Takes only the two CORPUS-DERIVED tables;
    * df/stats are re-derived from the freshly WRITTEN postings/dl tables
    * (r15, guide §1.2/§2.4): the old four-way fan-out re-tokenized the
    * corpus once per table (4 scans — the df job even recomputed the
    * whole postings aggregate), where df is exactly the per-term row
    * count of the postings table ((id, term) is unique) and stats the
    * (count, sum) of dl — vocabulary-sized aggregates over bucketed
    * parquet, no third and fourth corpus pass. Two phases, each
    * overlapped (guide §2.6); WAL cleanup still runs only after all four
    * tables committed.
    */
  private def writeArtifacts(
      spark: org.apache.spark.sql.SparkSession,
      post: DataFrame,
      dl: DataFrame,
      prefix: String,
      idCol: String,
      buckets: Int): PostingsSnapshot = {
    val rebuildStartMs = System.currentTimeMillis()
    // phase 1: the corpus-scan writes, overlapped
    inParallel(Seq(
      () => Layout.writeBucketed(post, s"${prefix}_postings", "_term", buckets),
      () => Layout.writeBucketed(dl, s"${prefix}_dl", idCol, buckets)))
    // phase 2: derived tables, read back from phase 1's output
    inParallel(Seq(
      () => Layout.writeBucketed(
        spark.table(s"${prefix}_postings")
          .groupBy(col("_term")).agg(count(lit(1)).as("_df")),
        s"${prefix}_df", "_term", buckets),
      () => {
        Layout.dropManagedTable(spark, s"${prefix}_stats")
        spark.table(s"${prefix}_dl")
          .agg(count(lit(1)).as("_n"), sum(col("_dl")).as("_sumdl"))
          .write.format("parquet").mode("overwrite")
          .saveAsTable(s"${prefix}_stats")
      }))
    // phase 2's reads populated the shared file-listing cache for the
    // postings/dl tables — for an EMPTY seed snapshot (the streaming
    // ingest path) that stale empty listing would hide every later
    // appendPostings batch from readers (measured: snapshot reads
    // returned 0 rows while the parquet files held the appends). Drop
    // the entries so the next read re-lists.
    spark.catalog.refreshTable(s"${prefix}_postings")
    spark.catalog.refreshTable(s"${prefix}_dl")
    // a completed full rebuild supersedes any CRASHED partial append: the
    // four tables were just rewritten from one consistent source, so a
    // leftover ingest-pending marker (which would otherwise block readers
    // FOREVER — the recovery walMessage points at) is cleared here. Done
    // last, after every table write succeeded — and only for a marker that
    // PREDATES this rebuild: a marker younger than rebuildStartMs belongs
    // to an appendPostings that started while we were rewriting (its
    // deltas landed in tables we may have already overwritten), and
    // deleting it would un-protect readers from exactly the inconsistency
    // it records (round-12 review)
    val (fs, marker) = walMarker(spark, prefix)
    try {
      if (fs.getFileStatus(marker).getModificationTime < rebuildStartMs)
        fs.delete(marker, false): Unit
    } catch { case _: java.io.FileNotFoundException => () } // no marker: done
    PostingsSnapshot(prefix, idCol, buckets)
  }

  /** Fold a snapshot's log-structured df/stats deltas (accumulated by
    * [[appendPostings]]) into a fresh one-row-per-key snapshot under
    * `newPrefix` — the LSM compaction step, run on a schedule when batch
    * counts grow. Reads artifacts only (never re-tokenizes the corpus) and
    * writes to a NEW prefix because the source tables are being read
    * (blue/green swap: point readers at the new handle, then drop the old
    * tables).
    *
    * COST SHAPE: the df/stats FOLD is tiny (|vocabulary| + 1 rows), but
    * this full form also rewrites the postings/dl tables — semantically
    * pass-through, operationally the small-file coalesce for the batches
    * [[appendPostings]] accumulated. That rewrite is corpus-proportional;
    * schedule it like any file compaction (by appended-batch count), not
    * per ingest.
    */
  def compactPostings(
      spark: org.apache.spark.sql.SparkSession,
      snapshot: PostingsSnapshot,
      newPrefix: String): PostingsSnapshot = {
    require(newPrefix != snapshot.prefix,
      "compactPostings: newPrefix must differ from the snapshot's prefix — " +
        "the source tables are being read (blue/green swap)")
    checkWal(spark, snapshot.prefix)
    // df/stats need no fold input: writeArtifacts re-derives them from
    // the compacted postings/dl — per-term postings row counts ARE the
    // summed df deltas ((id, term) is unique under the append-only
    // contract), and (count, sum) over dl IS the summed stats deltas
    writeArtifacts(
      spark,
      spark.table(s"${snapshot.prefix}_postings"),
      spark.table(s"${snapshot.prefix}_dl"),
      newPrefix, snapshot.idCol, snapshot.buckets)
  }

  /** Append a batch of NEW documents to a persisted postings artifact —
    * the incremental-maintenance half of [[writePostings]]. The postings
    * and doc-length rows append into the bucketed tables (same bucket
    * spec, so the shuffle-free join plan survives); the df and stats
    * tables are LOG-STRUCTURED — each batch appends per-term df deltas and
    * one (n, sumdl) delta row, and the snapshot reader sums them at read
    * (a term-bucketed partial aggregation, exchange-free). Assumes batch
    * ids are new to the corpus (append-only ingest) — re-appending an id
    * double-counts it, the standard at-least-once caveat; dedup upstream
    * (e.g. [[Dedup.exact]] or a `dropDuplicates` on the id).
    */
  def appendPostings(
      batch: DataFrame, snapshot: PostingsSnapshot, textCol: String): Unit = {
    val spark = batch.sparkSession
    val (post, dft, dl, stats) = corpusArtifacts(batch, snapshot.idCol, textCol)
    // NO bucket-aligned repartition here, unlike [[Layout.writeBucketed]]
    // (r14, measured): ingest batches are small by design (cost ∝ batch),
    // AQE already coalesces their aggregates to ~1 task — so one append
    // writes ~buckets files either way, and a forced repartition only adds
    // 3 shuffles per batch (st8 solo: 7.5 s → 9.0 s with it). Large-batch
    // small-file accumulation is [[compactPostings]]' job, per its doc.
    def app(df: DataFrame, table: String, key: String): Unit =
      df.write
        .format("parquet")
        .bucketBy(snapshot.buckets, key)
        .sortBy(key)
        .mode("append")
        .saveAsTable(table)
    // WRITE-AHEAD marker around the four non-atomic table appends: a crash
    // mid-call would otherwise leave postings without their df/stats
    // deltas — new terms silently score 0, existing terms get overstated
    // idf, with no error ever raised (review r11). The marker makes the
    // damage DETECTABLE: readers and further appends refuse while it
    // exists. It also serializes concurrent appenders (second caller
    // refuses instead of interleaving).
    val (fs, marker) = walMarker(spark, snapshot.prefix)
    require(!fs.exists(marker), walMessage(snapshot.prefix))
    require(fs.createNewFile(marker),
      s"appendPostings: could not claim ingest marker $marker — concurrent append?")
    // independent tables → overlapped write jobs (guide §2.6), same as
    // writeArtifacts: the four per-batch appends are the fixed cost of
    // every ingest micro-batch, and sequential submission paid 4 job
    // launch+drain latencies per batch (st8 solo 7.2 → 6.3 s, bq2 2.9 →
    // 2.4 s with both sites overlapped).
    // The WAL marker semantics are unchanged: claimed before any write
    // starts, released only after ALL four committed — a crash or failure
    // mid-flight leaves it in place exactly as the sequential form did.
    inParallel(Seq(
      () => app(post, s"${snapshot.prefix}_postings", "_term"),
      () => app(dft, s"${snapshot.prefix}_df", "_term"),
      () => app(dl, s"${snapshot.prefix}_dl", snapshot.idCol),
      () => stats.write.format("parquet").mode("append")
        .saveAsTable(s"${snapshot.prefix}_stats")))
    fs.delete(marker, false): Unit
  }

  /** Run independent write tasks concurrently (guide §2.6 — concurrent
    * jobs back-fill each other's stragglers); waits for ALL to finish
    * (no early abandon — a partially-written artifact set must never look
    * "done"), then rethrows the first failure.
    *
    * The pool is PER-INVOCATION (r15 — was a global 4-thread JVM
    * singleton): concurrent ingests into DIFFERENT prefixes are legal
    * (the WAL marker is per-prefix), and sharing one fixed pool made
    * them serialize each other's four writes — quietly reverting the
    * overlap this exists for. Each task just parks a thread driving one
    * Spark job, so a short-lived pool sized to the task count costs
    * microseconds against multi-second write jobs.
    */
  private def inParallel(tasks: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(
      math.max(1, tasks.size),
      (r: Runnable) => {
        val t = new Thread(r, "graft-artifact-write")
        t.setDaemon(true)
        t
      })
    try {
      val futures = tasks.map { t =>
        pool.submit(new java.util.concurrent.Callable[Unit] {
          override def call(): Unit = t()
        })
      }
      var firstErr: Throwable = null
      futures.foreach { f =>
        try f.get()
        catch {
          case e: java.util.concurrent.ExecutionException =>
            if (firstErr == null) firstErr = e.getCause
        }
      }
      if (firstErr != null) throw firstErr
    } finally pool.shutdown()
  }

  /** The ingest write-ahead marker for `prefix` — lives next to the
    * artifact tables in the warehouse dir, so it travels with them.
    */
  private def walMarker(
      spark: org.apache.spark.sql.SparkSession,
      prefix: String): (org.apache.hadoop.fs.FileSystem, org.apache.hadoop.fs.Path) = {
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier(s"${prefix}_stats"))
        .toString + ".ingest-pending")
    (loc.getFileSystem(spark.sessionState.newHadoopConf()), loc)
  }

  private def walMessage(prefix: String): String =
    s"postings artifact '$prefix' has a pending ingest marker: a previous " +
      "appendPostings crashed mid-write (or another is running) — the " +
      "df/stats deltas may be inconsistent with the postings; rebuild the " +
      "artifact with writePostings from the source corpus (a successful " +
      "rebuild under the same prefix clears this marker)"

  /** Refuse to read an artifact a crashed append may have left
    * inconsistent — loud and actionable, not silently mis-scored.
    */
  private def checkWal(
      spark: org.apache.spark.sql.SparkSession, prefix: String): Unit = {
    val (fs, marker) = walMarker(spark, prefix)
    require(!fs.exists(marker), walMessage(prefix))
  }

  /** Bulk BM25 over a persisted [[PostingsSnapshot]]: identical scores to
    * the per-call path (same pipeline from the same artifacts — how bq2 is
    * oracled against bq1), but the corpus is never re-tokenized and the
    * term join consumes the bucketed layout shuffle-free. The df and stats
    * sides fold the log-structured deltas [[appendPostings]] may have
    * added (for a one-shot snapshot the fold is a no-op aggregation over
    * one row per key, planned exchange-free on the bucketed layout).
    */
  def bm25BulkTopK(
      spark: org.apache.spark.sql.SparkSession,
      snapshot: PostingsSnapshot,
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      k: Int,
      k1: Double,
      b: Double): DataFrame = {
    checkQueryCols(snapshot.idCol, qidCol, qtextCol)
    require(k > 0, s"bm25BulkTopK: k=$k must be positive")
    checkWal(spark, snapshot.prefix)
    scoreBulk(
      spark.table(s"${snapshot.prefix}_postings"),
      spark.table(s"${snapshot.prefix}_df")
        .groupBy(col("_term")).agg(sum(col("_df")).as("_df")),
      spark.table(s"${snapshot.prefix}_dl"),
      spark.table(s"${snapshot.prefix}_stats")
        .agg(sum(col("_n")).as("_n"), sum(col("_sumdl")).as("_sumdl")),
      snapshot.idCol, queries, qidCol, qtextCol, k, k1, b)
  }

  /** Snapshot overload with default BM25 parameters. */
  def bm25BulkTopK(
      spark: org.apache.spark.sql.SparkSession,
      snapshot: PostingsSnapshot,
      queries: DataFrame,
      qidCol: String,
      qtextCol: String,
      k: Int): DataFrame =
    bm25BulkTopK(spark, snapshot, queries, qidCol, qtextCol, k, DefaultK1, DefaultB)

  /** Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009): fuse ranked
    * lists `(idCol, rankCol)` (rank 1-based) into `(idCol, rrf_e12)` where
    * `rrf_e12 = Σ_lists round(1e12 / (kRrf + rank))` — per-list
    * contributions quantized to `BIGINT` picounits before the sum, same
    * exactness idiom as [[bm25]]. A document missing from a list
    * contributes 0 from it.
    *
    * Scale shape: inputs are top-k lists (k rows each), so the outer joins
    * are trivially small; with corpus-sized inputs they become ordinary
    * shuffle joins on the id — still linear, no special handling needed.
    */
  def rrfFuse(
      lists: Seq[DataFrame],
      idCol: String,
      rankCol: String,
      kRrf: Int = 60): DataFrame = {
    require(lists.nonEmpty, "rrfFuse: no lists")
    require(kRrf >= 0, s"rrfFuse: negative kRrf=$kRrf")
    // same refuse-don't-guess posture as checkIdCol: a working/output-
    // shadowing id column would hit an ambiguous-reference error deep in
    // the join chain (or silently shadow) instead of an actionable one here
    require(!idCol.startsWith("_") && !idCol.equalsIgnoreCase("rrf_e12"),
      s"rrfFuse: idCol '$idCol' collides with a working/output column")
    require(!rankCol.startsWith("_") && !rankCol.equalsIgnoreCase(idCol),
      s"rrfFuse: rankCol '$rankCol' collides with a working column or the id")
    val parts = lists.zipWithIndex.map { case (l, i) =>
      l.select(
        col(idCol),
        round(lit(1e12) / (lit(kRrf) + col(rankCol))).cast("bigint").as(s"_c$i"))
    }
    val joined = parts.reduce((a, b) => a.join(b, Seq(idCol), "full_outer"))
    val score = lists.indices
      .map(i => coalesce(col(s"_c$i"), lit(0L)))
      .reduce(_ + _)
    joined.select(col(idCol), score.as("rrf_e12"))
  }

  /** Attach a 1-based `row_number` rank by `(orderCols, idCol)` — a total
    * order (the appended id breaks ties), the shape [[rrfFuse]] consumes.
    * Intended for already-top-k inputs (a global window); ranking a full
    * corpus through this is a single-partition sort by construction.
    */
  def ranked(topK: DataFrame, idCol: String, orderCols: Seq[Column]): DataFrame = {
    require(!idCol.equalsIgnoreCase("rank"),
      s"ranked: idCol '$idCol' would be overwritten by the output 'rank' column")
    import org.apache.spark.sql.expressions.Window
    topK.withColumn(
      "rank",
      row_number().over(Window.orderBy(orderCols :+ col(idCol): _*)))
  }
}
