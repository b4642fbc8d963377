package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Text-pipeline scale probe: the dedup / lexical / curation headliners on a
  * corpus 1000× the per-round fixture (the sf documents table is 500 rows at
  * EVERY sf — the per-round numbers measure per-job fixed cost, not the
  * operators). Twin of [[ScaleBench]] for the non-vector half of the engine:
  * generates a seeded 500k-doc corpus with a CONTROLLED duplicate structure
  * (per 10-doc block: 1 base, 1 exact copy, 1 near-dup with 2 word
  * substitutions, 7 unique) over a 10k-word Zipf-ish vocabulary, plus
  * lang/source columns for the sampling operators, then times the
  * production paths end to end.
  *
  * NOT part of the per-round driver bench or its 2× gate (minutes-long);
  * run manually, record in BENCHNOTES.md:
  * `sbt "runMain graft.tools.TextScaleBench"` (env: SPARK_GRAFT_TEXTSCALE_ROWS,
  * _DIR to override). Prints one JSON line like Bench.
  */
object TextScaleBench {

  // shared timing harness (graft.BenchTiming) — same methodology as Bench
  private def time(f: => Unit): Double = graft.BenchTiming.time(f)
  private def timeMin(f: => Unit): Double = graft.BenchTiming.timeMin("textscale")(f)
  private def materialize(df: DataFrame): Unit = graft.BenchTiming.materialize(df)

  private val Vocab = 10000
  private val DocWords = 50
  private val Langs = Array("en", "en", "en", "en", "en", "de", "de", "fr", "fr", "es")

  /** Words of the block-base doc for `baseId`, regenerated (not joined) so
    * every row is derivable from its id alone — identical under any
    * partitioning. Zipf-ish: u² concentrates mass on low word indexes.
    */
  private def baseWords(baseId: Long): Array[String] = {
    val rng = new java.util.Random(baseId * 0x9E3779B97F4A7C15L + 7L)
    Array.fill(DocWords) {
      val u = rng.nextDouble()
      s"w${(u * u * Vocab).toInt}"
    }
  }

  /** Deterministic corpus: (doc_id, text, lang, source). Block structure per
    * 10 ids — base (k=0), near-dup of base (k=1, 2 substitutions), exact
    * copy of base (k=2), unique (k>=3, own seed).
    */
  private def generate(spark: SparkSession, dir: String, rows: Long): Unit = {
    import spark.implicits._
    spark.range(rows)
      .as[Long]
      .mapPartitions { it =>
        it.map { id =>
          val k = (id % 10).toInt
          val base = id - k
          val words = k match {
            case 0 | 2 => baseWords(base)
            case 1 =>
              val w = baseWords(base)
              val rng = new java.util.Random(id * 0x5DEECE66DL + 11L)
              // two DISTINCT positions — the documented "2 substitutions"
              // structure (independent draws collide for ~1/50 of docs)
              val i1 = rng.nextInt(DocWords)
              var i2 = rng.nextInt(DocWords)
              while (i2 == i1) i2 = rng.nextInt(DocWords)
              w(i1) = s"w${rng.nextInt(Vocab)}"
              w(i2) = s"w${rng.nextInt(Vocab)}"
              w
            case _ => baseWords(id) // unique: own stream
          }
          val meta = new java.util.Random(id * 0x2545F4914F6CDD1DL + 3L)
          (id, words.mkString(" "), Langs(meta.nextInt(Langs.length)),
            s"src${meta.nextInt(20)}")
        }
      }
      .toDF("doc_id", "text", "lang", "source")
      .repartition(32)
      .write.mode("overwrite").parquet(dir)
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_TEXTSCALE_ROWS", "500000").toLong
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_TEXTSCALE_DIR", "/root/repo/.graft/scale")
    // generator-versioned: a generator change must never silently reuse a
    // stale cached corpus
    val corpus = s"$baseDir/docs_${rows}_v2"

    val spark = graft.Harness.session(defaultCpus = 32)

    val genTime =
      if (new java.io.File(corpus).exists()) -1.0
      else time(generate(spark, corpus, rows))

    def docs = spark.read.parquet(corpus)
    // eval slice for decontamination: 0.2% of the corpus
    def evalDocs = docs.where(col("doc_id") % 500 === 0)

    def exactDedup() = docs
      .groupBy(col("text")).agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
    def minhashPairs() =
      graft.ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    def simhashPairs() =
      graft.ops.Dedup.simhashNearDupPairs(docs, "doc_id", "text")
    def curation() = {
      val pairs = graft.ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text")
      val clusters = graft.ops.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
      graft.ops.Dedup.keepRepresentatives(docs, "doc_id", clusters)
        .where(graft.ops.TextAnalysis.qualityKeep(col("text")))
        .select(col("doc_id"))
    }
    def dupSpans() =
      graft.ops.Dedup.duplicatedNgramSpans(docs, "doc_id", "text", n = 10)
    def textSignals() = docs.select(
      col("doc_id"),
      graft.ops.TextAnalysis.tokenCount(col("text")).as("toks"),
      graft.ops.TextAnalysis.langId(col("text")).as("lid"),
      graft.ops.TextAnalysis.fingerprint(col("text")).as("fp"),
      graft.ops.TextAnalysis.qualityKeep(col("text")).cast("int").as("keep"))
    def bm25() = graft.ops.Lexical.bm25TopK(
      docs, "doc_id", "text",
      Seq("w1", "w17", "w211", "w1375", "w6021"), k = 100)
    def decontam() = graft.ops.Decontaminate.overlapStats(
      docs.where(col("doc_id") % 500 =!= 0), evalDocs, "doc_id", "text", n = 4)
    def mix() = graft.ops.Corpus.mixToWeights(
      docs, col("doc_id"), col("lang"),
      Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.2))

    // Bloom novelty A/B: batch = blocks' k ∈ {2, 5, 6} (the k=2 exact
    // copies duplicate the corpus's k=0 bases → 1/3 of the batch is dup),
    // corpus = the rest. Three arms answer "what does the sketch buy over
    // the plain anti-join?": standing sketch (built once, the per-batch
    // production shape), cold sketch (build + filter, the one-shot shape),
    // and the plain anti-join both replace.
    def novelCorpus = docs.where(!(col("doc_id") % 10).isin(2, 5, 6))
    def novelBatch = docs.where((col("doc_id") % 10).isin(2, 5, 6))
    lazy val standingSketch = graft.ops.Dedup.shardedBloom(
      novelCorpus, col("text"), expectedItems = rows * 7 / 10, shards = 8)
    def bloomNovelStanding() = graft.ops.Dedup
      .exactNovelAgainst(
        novelCorpus, novelBatch, col("text"), standingSketch,
        broadcastCandidates = true)
      .select(col("doc_id"))
    def bloomNovelCold() = graft.ops.Dedup
      .exactNovelAgainst(
        novelCorpus, novelBatch, col("text"), expectedItems = rows * 7 / 10,
        shards = 8)
      .select(col("doc_id"))
    def plainAntiNovel() = novelBatch
      .join(novelCorpus.select(col("text")), Seq("text"), "left_anti")
      .select(col("doc_id"))
    // the zero-corpus-access approximate mode: definitely-novel rows only
    // (drops the fpp sliver of novels; never admits a dup) — the form a
    // stream uses when the corpus is too big to even scan per batch
    def bloomFilterOnly() = novelBatch
      .where(!graft.ops.Dedup.mightContain(standingSketch, col("text")))
      .select(col("doc_id"))

    // round-9 session-2 operators at 1000× fixture scale
    def chunk() = graft.ops.TextAnalysis
      .chunkByTokens(docs, "doc_id", "text", maxTokens = 32, overlap = 8)
    def bigramNov() = graft.ops.TextAnalysis
      .bigramNovelty(docs, "doc_id", "text", minCount = 25L)
    def gShuffle() = graft.ops.Corpus
      .globalShuffle(docs.select(col("doc_id")), col("doc_id"), shards = 32, seed = "ep")
    def wSample() = graft.ops.Corpus.weightedSample(
      docs, col("doc_id"),
      least(lit(1.0),
        graft.ops.TextAnalysis.tokenCount(col("text")).cast("double") / lit(60)))
    // BPE at 1000× fixture scale: 16 merges trained on the 500k corpus,
    // then the encoder applied corpus-wide (timed as one suite arm each;
    // the trainer's corpus-sized cost is the single word-freq shuffle)
    lazy val bpeMerges = graft.ops.Bpe.trainMerges(docs, "text", 16)
    def bpeTrain() = {
      graft.ops.Bpe.trainMerges(docs, "text", 16): Unit
      docs.select(col("doc_id")).limit(1) // timed body is the trainer
    }
    def bpeEncode() = docs.select(
      col("doc_id"), graft.ops.Bpe.tokenCount(col("text"), bpeMerges).as("n"))

    // round-9 session-3 operators at 1000× fixture scale
    def winnowFps() = graft.ops.TextAnalysis
      .winnowingFingerprints(docs, "doc_id", "text", k = 3, w = 4)
    def winnowFpsFast() = graft.ops.TextAnalysis
      .winnowingFingerprints(docs, "doc_id", "text", k = 3, w = 4,
        portableHash = false)
    def winnowPairs() = graft.ops.TextAnalysis
      .winnowingOverlapPairs(docs, "doc_id", "text", k = 3, w = 4,
        minShared = 2, maxDocsPerFp = 64, portableHash = false)
    def heavyHitters() = graft.ops.TextAnalysis
      .heavyHitterNgrams(docs, "text", n = 2, minCount = 500L)
    // A/B control: the plain exact form the CMS path must beat — only
    // when the vocabulary outgrows memory-cheap groupBy (honest note:
    // this corpus's 10k-word vocab keeps the exact form competitive)
    def heavyHittersExact() = docs
      .select(explode(graft.ops.Decontaminate.ngrams(col("text"), 2)).as("gram"))
      .groupBy("gram").agg(count(lit(1)).as("n"))
      .where(col("n") >= 500L)
      .orderBy(col("n").desc, col("gram"))
    def blocklist() = docs.select(
      col("doc_id"),
      graft.ops.TextAnalysis
        .blocklistHits(col("text"), Seq("\\bw17\\b", "\\bw211\\b", "w1\\s+w2"))
        .as("n_hits"))
    def curriculum() = graft.ops.Corpus.quantileBuckets(
      docs, length(col("text")), col("doc_id"), buckets = 8)
    // detection-quality A/B: winnowing pairs (positional containment
    // candidates) scored against the exact-jaccard near-dup truth the
    // minhash path verifies — one row of precision/recall/F1
    def winnowQuality() = graft.ops.Dedup.pairQuality(
      graft.ops.TextAnalysis.winnowingOverlapPairs(
        docs, "doc_id", "text", minShared = 2, maxDocsPerFp = 64,
        portableHash = false).select(col("doc_a"), col("doc_b")),
      graft.ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text"))
    def lrMoments() = graft.ops.Linear.bowMoments(
      docs, col("doc_id"), col("text"),
      (col("lang") === "en").cast("int"), dim = 16)
    def cdcMerge() = graft.ops.Corpus.mergeUpsert(
      docs.where(col("doc_id") % 7 =!= 0),
      docs.where(col("doc_id") % 5 === 0)
        .withColumn("_del", col("doc_id") % 20 === 0),
      "doc_id", tombstoneCol = Some("_del"))

    // round-14: HTML→text extraction at 1000× fixture scale — the page
    // wrapper mirrors the wq fixture structure (head/nav/h1/2×p/script-
    // with-decoy/footer); stopword floor 0.0 because the corpus vocabulary
    // is stopword-free w### word soup
    def htmlPage = concat(
      lit("<html><head><title>Doc "), col("doc_id").cast("string"),
      lit("</title><style>p{margin:0}</style></head><body>" +
        "<nav><a href=\"/\">Home</a> <a href=\"/n\">Next</a></nav><div><h1>T</h1><p>"),
      col("text"), lit(" &amp; more.</p><p>"), col("text"),
      lit("</p></div><script>var x = \"</p>\";</script>" +
        "<footer><a href=\"/a\">About</a> &copy; 2026</footer></body></html>"))
    val htmlRules = graft.ops.Html.BoilerplateRules(
      minChars = 25, maxLinkDensity = 0.2, minStopwordRatio = 0.0)
    // mirrors wq1's staged shared strip (r15) so the scale arm measures
    // the plan the gated query executes
    def htmlExtract() = docs.select(col("doc_id"), htmlPage.as("html"))
      .withColumn("_stripped", graft.ops.Html.titleStrip(col("html")))
      .select(col("doc_id"),
        graft.ops.Html.titleOfStripped(col("_stripped")).as("title"),
        graft.ops.Html.mainTextOfStripped(col("_stripped"), htmlRules).as("main_text"))
    def htmlBlocksAgg() = graft.ops.Html.htmlBlocks(
      docs.select(col("doc_id"), htmlPage.as("html")), "doc_id", "html", htmlRules)
      .groupBy("kept").agg(count(lit(1)).as("n"), sum("n_chars").as("chars"))

    // round-14: link-graph analytics at scale — a 100k-node / ~1M-edge
    // synthetic host graph (two deterministic edge families per doc),
    // 5 fixed-point PageRank iterations (the crawl-curation domain-quality
    // prior) and the degree extraction
    def graphEdges = docs.select(
      (col("doc_id") % 100000).cast("string").as("src"),
      ((col("doc_id") * 7 + 13) % 100000).cast("string").as("dst"))
      .union(docs.select(
        (col("doc_id") % 100000).cast("string").as("src"),
        expr("(doc_id div 2) % 100000").cast("string").as("dst")))
    def pagerank5() = graft.ops.Graph.pageRank(graphEdges, "src", "dst", 5)
    def degreesArm() = graft.ops.Graph.degrees(graphEdges, "src", "dst")

    // registrable-domain at REAL list size: a synthetic 10k-rule PSL
    // (9k exact 2-label + 500 wildcards + 500 exceptions) over 500k hosts
    // through the broadcast-join form — the claim the Web scaladoc makes
    // ("use withRegistrableDomain for the official ~10k-rule list")
    def bigPsl = graft.ops.Web.Psl(
      exact = Map(2 -> (0 until 9000).map(i => s"t${i % 100}.x$i")),
      wildcard = Map(1 -> (0 until 500).map(i => s"wild$i")),
      exception = Map(2 -> (0 until 500).map(i => s"ok.wild$i")))
    def pslHosts = docs.select(col("doc_id"),
      concat(lit("h"), (col("doc_id") % 1000).cast("string"),
        lit(".t"), (col("doc_id") % 100).cast("string"),
        lit(".x"), (col("doc_id") % 9000).cast("string")).as("host"))
    def psl10kJoin() = graft.ops.Web
      .withRegistrableDomain(pslHosts, "host", "domain", bigPsl)
      .groupBy(col("domain")).agg(count(lit(1)).as("n"))

    // WARC parse throughput: per-doc 2-record WARC (odd docs gzipped —
    // the crawl-shard mix), encode+parse measured together (encode is the
    // cheaper half; real shards amortize it to zero)
    def warcParse() = {
      import spark.implicits._
      val src = docs.select(col("doc_id"), col("text")).as[(Long, String)]
        .map { case (id, text) =>
          val html = s"<html><head><title>D$id</title></head><body><p>" +
            text + "</p></body></html>"
          val w = graft.ops.Warc.concat(Seq(
            graft.ops.Warc.encodeRecord("warcinfo", "", "", "g\r\n".getBytes),
            graft.ops.Warc.encodeRecord("response", s"https://s$id/p", "",
              graft.ops.Warc.encodeHttpResponse(200, "text/html; charset=utf-8",
                html.getBytes("UTF-8")))))
          (id, if (id % 2 == 1) graft.ops.Warc.gzip(w) else w)
        }.toDF("id", "media")
      graft.ops.Warc.records(spark, src).toDF()
        .groupBy(col("http_status")).agg(count(lit(1)).as("n"),
          sum(col("n_body_bytes")).as("bytes"))
    }
    // the cq7 crawl-discovery chain at 1000×: WARC parse → link extract →
    // resolve → normalize → broadcast robots filter → frontier dedup
    def discovery() = {
      import spark.implicits._
      val src = docs.select(col("doc_id")).as[Long]
        .map { id =>
          val html = "<html><body>" +
            s"""<a href="/a?utm_source=x&p=$id">i</a>""" +
            s"""<a href="/private/p$id">p</a>""" +
            s"""<a href="https://ext${id % 997}.co.uk/x">e</a></body></html>"""
          (id, graft.ops.Warc.encodeRecord("response",
            s"http://site${id % 5000}.com/c/$id", "",
            graft.ops.Warc.encodeHttpResponse(200, "text/html; charset=utf-8",
              html.getBytes("UTF-8"))))
        }.toDF("id", "media")
      // staged one level per projection, mirroring cq7 (inlined Column
      // composition re-substitutes baseHref's full-document regex at every
      // branch reference — hundreds of evaluations per row)
      val links = graft.ops.Warc.records(spark, src).toDF()
        .select(col("id"), col("target_uri"), col("body_text"))
        .withColumn("_bh", graft.ops.Html.baseHref(col("body_text")))
        .withColumn("base",
          coalesce(
            graft.ops.Web.resolveUrl(col("target_uri"), col("_bh")),
            col("target_uri")))
        .select(col("id"), col("base"),
          explode(graft.ops.Html.extractLinks(col("body_text"))).as("href"))
        .withColumn("_resolved",
          graft.ops.Web.resolveUrl(col("base"), col("href")))
        .select(col("id"),
          graft.ops.Web.normalizeUrl(col("_resolved")).as("url"))
        // one materialization for the two consumers (robots host set +
        // frontier probe side), mirroring cq7 — the arm measures the same
        // plan the gate query executes
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      val robots = links.select(graft.ops.Web.urlHost(col("url")).as("host"))
        .distinct()
        .withColumn("robots_txt", lit("User-agent: *\nDisallow: /private\n"))
      val pathQ = graft.ops.Web.urlPathQuery(col("url"))
      val allowed = links
        .withColumn("host", graft.ops.Web.urlHost(col("url")))
        .join(broadcast(robots), Seq("host"))
        .where(graft.functions.robots_allowed(col("robots_txt"), pathQ))
      graft.ops.Web.urlDedup(allowed, "id", "url")
    }
    // DSIR importance selection at 1000×: 1% target slice, 2^16 buckets,
    // top 25% of the corpus — counts ∝ corpus, weight join ∝ buckets
    def dsirSelect() = graft.ops.Corpus.dsirSelect(
      docs, docs.where(col("doc_id") % 100 === 0), "doc_id", "text",
      frac = 0.25, buckets = 1 << 16)
    // frequent-line removal on 5-line wrapped docs (the tq14 shape at 1000×)
    def lineDedup() = graft.ops.TextAnalysis.dropFrequentLines(
      docs.select(col("doc_id"),
        concat_ws("\n", lit("Site Nav Home"), col("text"), lit(""),
          lit("Copyright 2026"), concat(lit("tail "), col("doc_id").cast("string")))
          .as("text")),
      "doc_id", "text", minDocs = 1000)

    val suite: Seq[(String, () => DataFrame)] = Seq(
      "exact_dedup" -> (exactDedup _),
      "minhash_pairs" -> (minhashPairs _),
      "simhash_pairs" -> (simhashPairs _),
      "neardup_curation" -> (curation _),
      "dup_spans_n10" -> (dupSpans _),
      "text_signals" -> (textSignals _),
      "bm25_topk100" -> (bm25 _),
      "decontam_overlap" -> (decontam _),
      "mix_to_weights" -> (mix _),
      "bloom_novel_standing" -> (bloomNovelStanding _),
      "bloom_filter_only" -> (bloomFilterOnly _),
      "bloom_novel_cold" -> (bloomNovelCold _),
      "plain_antijoin_novel" -> (plainAntiNovel _),
      "chunk_tokens_32" -> (chunk _),
      "bigram_novelty" -> (bigramNov _),
      "global_shuffle_32" -> (gShuffle _),
      "weighted_sample" -> (wSample _),
      "bpe_train_16" -> (bpeTrain _),
      "bpe_encode_16" -> (bpeEncode _),
      "winnow_fps" -> (winnowFps _),
      "winnow_fps_fast" -> (winnowFpsFast _),
      "winnow_pairs" -> (winnowPairs _),
      "heavy_hitters_cms" -> (heavyHitters _),
      "heavy_hitters_exact" -> (heavyHittersExact _),
      "blocklist_screen" -> (blocklist _),
      "curriculum_ntile8" -> (curriculum _),
      "lr_moments_d16" -> (lrMoments _),
      "winnow_vs_jaccard_quality" -> (winnowQuality _),
      "cdc_merge" -> (cdcMerge _),
      "html_extract" -> (htmlExtract _),
      "html_blocks" -> (htmlBlocksAgg _),
      "pagerank_5it_1m_edges" -> (pagerank5 _),
      "graph_degrees" -> (degreesArm _),
      "warc_parse" -> (warcParse _),
      "psl_10k_join" -> (psl10kJoin _),
      "crawl_discovery" -> (discovery _),
      "dsir_select" -> (dsirSelect _),
      "line_dedup" -> (lineDedup _))

    // SPARK_GRAFT_TEXTSCALE_ONLY=name1,name2 narrows a re-probe to the
    // arms under study (full suite ~10 min)
    val only = sys.env.getOrElse("SPARK_GRAFT_TEXTSCALE_ONLY", "")
      .split(',').map(_.trim).filter(_.nonEmpty).toSet
    val active = if (only.isEmpty) suite else suite.filter(s => only(s._1))
    // warmup pass (JIT/codegen/page cache), then timed min-of-2
    active.foreach { case (n, f) =>
      try materialize(f())
      catch { case e: Throwable => System.err.println(s"[textscale] warm FAIL $n: $e") }
    }
    val results = active.map { case (n, f) => n -> timeMin(materialize(f())) }

    // structure sanity: the generator promises ~rows/10 exact dups and the
    // near-dup pairs should recover (base, near) + (base, copy) + (near,
    // copy) per block — report counts so a generator regression is visible
    val nDocs = docs.count()
    val nDistinctText = docs.select("text").distinct().count()
    val nPairs =
      try minhashPairs().count()
      catch { case _: Throwable => -1L }
    // candidate-scheme quality at scale: simhash's verified pairs scored
    // against the minhash set (both jaccard-verified, so this measures the
    // CANDIDATE recall difference — e.g. the degenerate-mass star-pair
    // concession) via the Dedup.pairQuality harness
    val (shP, shR) =
      try {
        val r = graft.ops.Dedup
          .pairQuality(simhashPairs(), minhashPairs())
          .select("precision", "recall")
          .head()
        (r.getDouble(0), r.getDouble(1))
      } catch { case _: Throwable => (-1.0, -1.0) }

    // winnowing detection quality at scale: positional-containment pairs
    // scored against the same exact-jaccard truth (precision here is
    // "of winnow pairs, how many are jaccard-0.5 near-dups" — winnowing
    // detects CONTAINMENT, a different relation, so precision reads as
    // overlap of the two relations, recall as coverage of the truth)
    val (wnP, wnR) =
      try {
        val r = winnowQuality().select("precision", "recall").head()
        (r.getDouble(0), r.getDouble(1))
      } catch { case _: Throwable => (-1.0, -1.0) }

    // bloom exactness sanity at scale: the pruned path must return exactly
    // the anti-join's rows
    val (bloomNovelRows, plainNovelRows) =
      try (bloomNovelStanding().count(), plainAntiNovel().count())
      catch { case _: Throwable => (-1L, -1L) }

    val qs = results.map { case (n, v) => "\"" + n + "\":" + v }.mkString("{", ",", "}")
    println(
      s"""{"metric":"text_scale_probe","rows":$rows,"unit":"sec","queries":$qs,"gen_time":$genTime,"n_docs":$nDocs,"n_distinct_text":$nDistinctText,"neardup_pairs":$nPairs,"simhash_vs_minhash_precision":$shP,"simhash_vs_minhash_recall":$shR,"winnow_vs_jaccard_precision":$wnP,"winnow_vs_jaccard_recall":$wnR,"bloom_novel_rows":$bloomNovelRows,"plain_antijoin_rows":$plainNovelRows}""")
    spark.stop()
  }
}
