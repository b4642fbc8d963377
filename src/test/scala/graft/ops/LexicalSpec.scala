package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LexicalSpec extends SparkSpec {
  import spark.implicits._

  private lazy val docs = Seq(
    (0L, "cat dog cat"),        // tf(cat)=2, dl=3
    (1L, "cat fish"),           // tf(cat)=1, dl=2
    (2L, "dog dog dog dog"),    // no cat, dl=4
    (3L, "bird"),               // nothing
    (4L, "cat")                 // tf(cat)=1, dl=1
  ).toDF("id", "text")

  /** Reference scorer mirroring Lexical.bm25's formula. */
  private def score(
      tfs: Seq[Int], dfs: Seq[Long], n: Long, dls: Long, dl: Int,
      k1: Double = 1.2, b: Double = 0.75): Long =
    tfs.indices.map { i =>
      val idf = (n - dfs(i) + 0.5) / (dfs(i) + 0.5)
      val c = idf * ((tfs(i) * (k1 + 1)) /
        (tfs(i) + k1 * ((1 - b) + b * (dl / (dls / n.toDouble)))))
      math.round(c * 1e9)
    }.sum

  test("bm25 matches a hand-rolled scorer on a tiny corpus") {
    val got = Lexical.bm25(docs, "id", "text", Seq("cat", "fish"))
      .as[(Long, Long)].collect().toMap
    // corpus: n=5, sumdl=11, df(cat)=3, df(fish)=1
    val expect = Map(
      0L -> score(Seq(2, 0), Seq(3, 1), 5, 11, 3),
      1L -> score(Seq(1, 1), Seq(3, 1), 5, 11, 2),
      2L -> score(Seq(0, 0), Seq(3, 1), 5, 11, 4),
      3L -> score(Seq(0, 0), Seq(3, 1), 5, 11, 1),
      4L -> score(Seq(1, 0), Seq(3, 1), 5, 11, 1))
    assert(got == expect)
    assert(got(2L) == 0L && got(3L) == 0L)
  }

  test("bm25 ranking: tf, rarity, and length normalization behave") {
    val scores = Lexical.bm25(docs, "id", "text", Seq("cat", "fish"))
      .as[(Long, Long)].collect().toMap
    // doc 1 has the rare term (df=1) — rational idf outweighs the common cat
    assert(scores(1L) > scores(0L))
    // among cat-only docs: shorter doc 4 beats doc 0 per unit tf? doc 0 has
    // tf=2 but dl=3 vs doc 4 tf=1 dl=1 — both orderings are formula-driven;
    // just pin positivity and the zero floor
    assert(scores(0L) > 0L && scores(4L) > 0L)
  }

  test("bm25TopK is (score desc, id) with ties broken by id") {
    val two = Seq((10L, "same text"), (7L, "same text")).toDF("id", "text")
    val top = Lexical.bm25TopK(two, "id", "text", Seq("same"), 2)
      .as[(Long, Long)].collect()
    assert(top.map(_._1).toSeq == Seq(7L, 10L)) // equal scores -> id asc
    assert(top(0)._2 == top(1)._2)
  }

  test("bm25 accepts precomputed stats and matches the inline path") {
    val terms = Seq("cat", "dog")
    val st = Lexical.bm25Stats(docs, "text", terms)
    val a = Lexical.bm25(docs, "id", "text", terms)
      .as[(Long, Long)].collect().toSet
    val b = Lexical.bm25(docs, "id", "text", terms, stats = Some(st))
      .as[(Long, Long)].collect().toSet
    assert(a == b)
    // stats computed for DIFFERENT terms are refused, not silently mis-scored
    intercept[IllegalArgumentException] {
      Lexical.bm25(docs, "id", "text", Seq("fish", "bird"), stats = Some(st))
    }
  }

  test("bm25 input validation") {
    intercept[IllegalArgumentException] {
      Lexical.bm25(docs, "id", "text", Nil)
    }
    intercept[IllegalArgumentException] {
      Lexical.bm25(docs, "id", "text", Seq("cat", "cat"))
    }
    intercept[IllegalArgumentException] {
      Lexical.bm25(docs, "id", "text", (0 to 256).map(i => s"t$i"))
    }
    // id column shadowing a scoring working/output column is refused
    // (internals are _-prefixed, so ordinary names like "n" or "dl" are fine)
    intercept[IllegalArgumentException] {
      Lexical.bm25(docs.withColumnRenamed("id", "_dl"), "_dl", "text", Seq("cat"))
    }
    intercept[IllegalArgumentException] {
      Lexical.bm25(docs.withColumnRenamed("id", "SCORE_E9"), "SCORE_E9", "text", Seq("cat"))
    }
    val viaN = Lexical.bm25(docs.withColumnRenamed("id", "n"), "n", "text", Seq("cat"))
      .as[(Long, Long)].collect()
    assert(viaN.length == 5)
  }

  test("bm25BulkTopK matches the per-term scorer on matched pairs") {
    val queries = Seq((0L, "cat fish"), (1L, "dog"), (2L, "absentterm")).toDF("qid", "qtext")
    val bulk = Lexical.bm25BulkTopK(docs, "id", "text", queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect()
    // query 0 == the projection scorer's terms; bulk omits 0-score docs
    val proj = Lexical.bm25(docs, "id", "text", Seq("cat", "fish"))
      .as[(Long, Long)].collect().toMap
    val bulk0 = bulk.filter(_._1 == 0L).map(r => r._2 -> r._3).toMap
    assert(bulk0 == proj.filter(_._2 > 0L))
    // query 1: only the dog docs (0 and 2) match
    assert(bulk.filter(_._1 == 1L).map(_._2).toSet == Set(0L, 2L))
    // an out-of-vocabulary query matches nothing
    assert(!bulk.exists(_._1 == 2L))
  }

  test("bm25BulkTopK honors k with (score desc, id) tie-breaking") {
    val many = (0L until 20L).map(i => (i, "same words here")).toDF("id", "text")
    val q = Seq((0L, "same")).toDF("qid", "qtext")
    val top = Lexical.bm25BulkTopK(many, "id", "text", q, "qid", "qtext", k = 3)
      .as[(Long, Long, Long)].collect()
    // all scores tie -> lowest ids win
    assert(top.map(_._2).sorted.toSeq == Seq(0L, 1L, 2L))
  }

  test("rrfFuse: overlap sums, misses contribute zero, kRrf honored") {
    val l1 = Seq((1L, 1), (2L, 2), (3L, 3)).toDF("id", "rank")
    val l2 = Seq((2L, 1), (4L, 2)).toDF("id", "rank")
    val fused = Lexical.rrfFuse(Seq(l1, l2), "id", "rank", kRrf = 60)
      .as[(Long, Long)].collect().toMap
    def c(r: Int) = math.round(1e12 / (60 + r))
    assert(fused == Map(
      1L -> c(1), 2L -> (c(2) + c(1)), 3L -> c(3), 4L -> c(2)))
    // a doc in both lists outranks a doc leading only one
    assert(fused(2L) > fused(1L))
  }

  test("ranked assigns 1-based ranks with id tie-break") {
    val in = Seq((5L, 100L), (9L, 100L), (1L, 50L)).toDF("id", "s")
    val r = Lexical.ranked(in, "id", Seq(col("s").desc))
      .select("id", "rank").as[(Long, Int)].collect().toMap
    assert(r == Map(5L -> 1, 9L -> 2, 1L -> 3))
  }

  test("persisted postings snapshot scores identically to the per-call path") {
    val queries = Seq((0L, "cat fish"), (1L, "dog")).toDF("qid", "qtext")
    val direct = Lexical.bm25BulkTopK(docs, "id", "text", queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    val snap = Lexical.writePostings(docs, "id", "text", "graft_spec_post", buckets = 4)
    val persisted = Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(persisted == direct)
  }

  test("bulk term pushdown reaches the postings scan in both predicate forms, exactly") {
    val snap = Lexical.writePostings(docs, "id", "text", "graft_spec_push", buckets = 4)
    // ≤64 distinct terms: or-of-equalities (parquet prunes row groups
    // eq-by-eq on the _term-sorted layout)
    val small = Seq((0L, "cat fish")).toDF("qid", "qtext")
    val smallPlan = Lexical.bm25BulkTopK(spark, snap, small, "qid", "qtext", k = 10)
      .queryExecution.executedPlan.toString
    assert(smallPlan.contains("Or(EqualTo(_term,cat),EqualTo(_term,fish))")
      || smallPlan.contains("Or(EqualTo(_term,fish),EqualTo(_term,cat))"),
      s"or-of-equalities not pushed:\n$smallPlan")
    // and the In/Or on the bucket column prunes buckets at planning time:
    // both terms hash to one of the 4 buckets on this fixture
    assert(smallPlan.contains("SelectedBucketsCount: 1 out of 4"),
      s"bucket pruning did not engage:\n$smallPlan")
    // >64 distinct terms (under the pair cap): the isin form — still a
    // scan-level In filter, and still exact vs the per-call path
    val wide = Seq((0L, (0 until 70).map(i => s"t$i").mkString(" ") + " cat dog"))
      .toDF("qid", "qtext")
    val fromSnap = Lexical.bm25BulkTopK(spark, snap, wide, "qid", "qtext", k = 10)
    assert(fromSnap.queryExecution.executedPlan.toString.contains("In(_term, ["),
      "wide term set must push as an In filter")
    val direct = Lexical.bm25BulkTopK(docs, "id", "text", wide, "qid", "qtext", k = 10)
    assert(fromSnap.as[(Long, Long, Long)].collect().toSet ==
      direct.as[(Long, Long, Long)].collect().toSet)
  }

  test("huge localized term sets (>8192) ride the semi-join and match the isin plan") {
    // a batch under the pair cap whose DISTINCT term count exceeds the
    // isin ceiling: 830 queries × 11 unique terms = 9130 pairs AND 9130
    // distinct terms (+2 real ones). The r13 path semi-joins the term set
    // into the scans; the probe hook forces the old isin plan for the A/B.
    val wide = (0 until 830).map { q =>
      (q.toLong, (0 until 11).map(j => s"zz${q}w$j").mkString(" ") + " cat dog")
    }.toDF("qid", "qtext")
    def run() = Lexical.bm25BulkTopK(docs, "id", "text", wide, "qid", "qtext", k = 5)
    val semiPlan = run().queryExecution.executedPlan.toString
    assert(semiPlan.contains("LeftSemi"), s"semi-join tier not engaged:\n$semiPlan")
    assert(!semiPlan.contains("In(_term, ["), s"isin must not fire over the ceiling")
    val semi = run().as[(Long, Long, Long)].collect().toSet
    Lexical.disableMidTier = true
    val old = try run().as[(Long, Long, Long)].collect().toSet
      finally Lexical.disableMidTier = false
    assert(semi == old, "semi-join tier diverges from the isin plan")
    assert(semi.nonEmpty)
  }

  test("mid-tier: releaseBatchCaches returns blocks to zero; byte gate falls back exactly") {
    // >64k (qid, term) pairs forces the over-cap mid-tier (no driver
    // localization): 6,100 queries × 11 unique terms = 67,100 pairs and
    // 67,100 distinct terms — far under both mid-tier caps, so the term
    // set broadcasts and the batch plan persists (registered for release)
    val huge = (0 until 6100).map { q =>
      (q.toLong, (0 until 11).map(j => s"mm${q}w$j").mkString(" ") + " cat dog")
    }.toDF("qid", "qtext")
    def run() = Lexical.bm25BulkTopK(docs, "id", "text", huge, "qid", "qtext", k = 5)
    Lexical.releaseBatchCaches(spark) // drain any earlier tests' entries
    val before = spark.sparkContext.getPersistentRDDs.size
    val mid = run()
    assert(mid.queryExecution.executedPlan.toString.contains("LeftSemi"),
      "over-cap batch must ride the semi-join mid-tier")
    val midRes = mid.as[(Long, Long, Long)].collect().toSet
    assert(midRes.nonEmpty)
    assert(spark.sparkContext.getPersistentRDDs.size > before,
      "mid-tier must persist the batch plan")
    assert(Lexical.releaseBatchCaches(spark) >= 1)
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "explicit release must return the block count to its baseline")
    assert(Lexical.releaseBatchCaches(spark) == 0, "release is idempotent")
    // loop-heavy caller shape: N batches + release each → no storage growth
    (0 until 3).foreach { _ =>
      run().as[(Long, Long, Long)].collect()
      Lexical.releaseBatchCaches(spark)
    }
    assert(spark.sparkContext.getPersistentRDDs.size == before,
      "looped batches with release must not accumulate blocks")
    // byte gate: an estimated broadcast-relation size over the cap must
    // fall back to the full-scan join (no term-set broadcast — the hint
    // bypasses autoBroadcastJoinThreshold, so this gate is the only one),
    // and the fallback plan's results must match the mid-tier's
    Lexical.MidPushdownMaxBytes = 1024L
    val fbRes = try {
      val fb = run()
      assert(!fb.queryExecution.executedPlan.toString.contains("LeftSemi"),
        "over-byte-cap term set must fall back to the full-scan join")
      fb.as[(Long, Long, Long)].collect().toSet
    } finally Lexical.MidPushdownMaxBytes = 64L << 20
    assert(fbRes == midRes, "byte-gate fallback diverges from the mid-tier plan")
    Lexical.releaseBatchCaches(spark): Unit
  }

  test("releaseBatchCaches leaves another op's registered persist in place") {
    val huge = (0 until 6100).map { q =>
      (q.toLong, (0 until 11).map(j => s"ow${q}w$j").mkString(" ") + " cat dog")
    }.toDF("qid", "qtext")
    Lexical.releaseBatchCaches(spark): Unit
    OpCaches.release(spark): Unit
    // another operator's multi-consumer intermediate, registered the way
    // every op persist is
    val other = OpCaches.persist(docs.select(col("id") * 2 as "id2"))
    other.count(): Unit
    Lexical.bm25BulkTopK(docs, "id", "text", huge, "qid", "qtext", k = 5)
      .as[(Long, Long, Long)].collect(): Unit
    assert(Lexical.releaseBatchCaches(spark) >= 1, "the batch plan was not registered")
    assert(other.storageLevel != org.apache.spark.storage.StorageLevel.NONE,
      "releaseBatchCaches unpersisted another op's cache")
    assert(OpCaches.queued(spark) == 1)
    assert(OpCaches.release(spark) == 1)
    assert(other.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
  }

  test("incremental appendPostings reproduces the one-shot snapshot scores") {
    val queries = Seq((0L, "cat fish"), (1L, "dog")).toDF("qid", "qtext")
    val direct = Lexical.bm25BulkTopK(docs, "id", "text", queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    // seed an EMPTY snapshot, then append the corpus in three uneven
    // batches — df/stats accumulate as log-structured deltas
    val empty = docs.where(lit(false))
    val snap = Lexical.writePostings(empty, "id", "text", "graft_spec_inc", buckets = 4)
    Lexical.appendPostings(docs.where(col("id") <= 1), snap, "text")
    Lexical.appendPostings(docs.where(col("id") === 2), snap, "text")
    Lexical.appendPostings(docs.where(col("id") >= 3), snap, "text")
    val incremental = Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(incremental == direct)
    // the df side really is multi-row per term now (deltas, not a rewrite)
    val dfRows = spark.table("graft_spec_inc_df")
      .groupBy("_term").count().where(col("count") > 1).count()
    assert(dfRows > 0, "expected log-structured df deltas across batches")
  }

  test("compactPostings folds deltas to one row per key, scores unchanged") {
    val queries = Seq((0L, "cat fish"), (1L, "dog")).toDF("qid", "qtext")
    val empty = docs.where(lit(false))
    val snap = Lexical.writePostings(empty, "id", "text", "graft_spec_cmp", buckets = 4)
    Lexical.appendPostings(docs.where(col("id") <= 2), snap, "text")
    Lexical.appendPostings(docs.where(col("id") > 2), snap, "text")
    val before = Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    val compacted = Lexical.compactPostings(spark, snap, "graft_spec_cmp2")
    val after = Lexical.bm25BulkTopK(spark, compacted, queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(after == before)
    // folded: exactly one df row per term, one stats row
    assert(spark.table("graft_spec_cmp2_df")
      .groupBy("_term").count().where(col("count") > 1).count() == 0)
    assert(spark.table("graft_spec_cmp2_stats").count() == 1)
    intercept[IllegalArgumentException] {
      Lexical.compactPostings(spark, snap, snap.prefix)
    }
  }

  test("streaming PostingsIngest replays to the same snapshot scores") {
    val queries = Seq((0L, "cat fish"), (1L, "dog")).toDF("qid", "qtext")
    val direct = Lexical.bm25BulkTopK(docs, "id", "text", queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    val stage = java.nio.file.Files.createTempDirectory("graft-postings-stage").toString
    docs.repartition(3).write.mode("overwrite").parquet(stage)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val (snap, batches) = graft.streaming.PostingsIngest.ingest(
      spark, stream, "id", "text", "graft_spec_stream_post", buckets = 4)
    assert(batches >= 1)
    val streamed = Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(streamed == direct)
  }

  test("snapshot term join is shuffle-free (both sides bucketed on _term)") {
    val snap = Lexical.writePostings(docs, "id", "text", "graft_spec_shuf", buckets = 4)
    // on a toy fixture the planner prefers broadcasting the tiny df side
    // (also shuffle-free); disable it to expose the bucketed join the
    // layout buys at corpus scale, where neither side broadcasts
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val joined = spark.table(s"${snap.prefix}_postings")
        .join(spark.table(s"${snap.prefix}_df"), "_term")
      val plan = joined.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange"), plan)
      assert(plan.contains("Bucketed: true"), plan)
    } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bulk query-side columns are validated up front") {
    val queries = Seq((0L, "cat")).toDF("qid", "qtext")
    // qidCol == corpus idCol: the doc-as-query case must rename, not AnalysisException
    val sameId = queries.withColumnRenamed("qid", "id")
    val e1 = intercept[IllegalArgumentException](
      Lexical.bm25BulkTopK(docs, "id", "text", sameId, "id", "qtext", k = 3))
    assert(e1.getMessage.contains("rename"), e1.getMessage)
    // underscore-leading query columns collide with working columns
    val under = queries.withColumnRenamed("qid", "_term")
    val e2 = intercept[IllegalArgumentException](
      Lexical.bm25BulkTopK(docs, "id", "text", under, "_term", "qtext", k = 3))
    assert(e2.getMessage.contains("collides"), e2.getMessage)
    // the snapshot overload applies the same guard
    val snap = Lexical.PostingsSnapshot("graft_spec_guard", "id", 4)
    val e3 = intercept[IllegalArgumentException](
      Lexical.bm25BulkTopK(spark, snap, sameId, "id", "qtext", k = 3))
    assert(e3.getMessage.contains("rename"), e3.getMessage)
  }

  test("bm25_topk SQL table function matches the programmatic path") {
    graft.Graft.install(spark)
    docs.createOrReplaceTempView("lex_tvf_docs")
    val sql = spark
      .sql("SELECT * FROM bm25_topk('lex_tvf_docs', 'id', 'text', 'cat fish', 3)")
      .as[(Long, Long)].collect().toSeq
    val api = Lexical.bm25TopK(docs, "id", "text", Seq("cat", "fish"), 3)
      .as[(Long, Long)].collect().toSeq
    assert(sql == api)
    assert(sql.nonEmpty)
    // duplicate tokens in the query string collapse (distinct-terms contract)
    val dup = spark
      .sql("SELECT * FROM bm25_topk('lex_tvf_docs', 'id', 'text', 'cat cat fish', 3)")
      .as[(Long, Long)].collect().toSeq
    assert(dup == api)
  }

  test("bm25_topk SQL table function refuses non-literal and missing args") {
    graft.Graft.install(spark)
    docs.createOrReplaceTempView("lex_tvf_docs")
    val e1 = intercept[Exception](
      spark.sql("SELECT * FROM bm25_topk('lex_tvf_docs', 'id', 'text', 'cat')"))
    assert(e1.getMessage.contains("bm25_topk"), e1.getMessage)
    val e2 = intercept[Exception](
      spark.sql("SELECT * FROM bm25_topk('lex_tvf_docs', 'id', 'text', 'cat', id)"))
    assert(e2.getMessage.contains("bm25_topk"), e2.getMessage)
  }

  // --- r11 review regressions ---

  test("blank docs and blank queries carry no phantom empty-string token") {
    val withBlank = docs.union(Seq((9L, "   "), (10L, "")).toDF("id", "text"))
    // blank docs: dl=0, no postings — scores for real queries are as if
    // the blanks were dl-0 members (n and df unchanged by them)
    val scored = Lexical.bm25(withBlank, "id", "text", Seq("cat"))
      .as[(Long, Long)].collect().toMap
    assert(scored(9L) == 0L && scored(10L) == 0L)
    // a blank query matches nothing in the bulk path (no phantom '' join)
    val queries = Seq((0L, "   "), (1L, "cat")).toDF("qid", "qtext")
    val hits = Lexical
      .bm25BulkTopK(withBlank, "id", "text", queries, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect()
    assert(!hits.exists(_._1 == 0L), s"blank query scored: ${hits.toSeq}")
    assert(hits.exists(_._1 == 1L))
    // and a blank doc is never a hit
    assert(!hits.exists(h => h._2 == 9L || h._2 == 10L))
  }

  test("duplicate qid rows dedupe terms across rows (oracle DISTINCT semantics)") {
    val once = Seq((0L, "cat")).toDF("qid", "qtext")
    val twice = Seq((0L, "cat"), (0L, "cat")).toDF("qid", "qtext")
    val a = Lexical.bm25BulkTopK(docs, "id", "text", once, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    val b = Lexical.bm25BulkTopK(docs, "id", "text", twice, "qid", "qtext", k = 10)
      .as[(Long, Long, Long)].collect().toSet
    assert(a == b, "a duplicated query row must not double-count scores")
  }

  test("a pending ingest marker makes readers and appenders refuse loudly") {
    val snap = Lexical.writePostings(docs, "id", "text", "graft_spec_wal", buckets = 2)
    val queries = Seq((0L, "cat")).toDF("qid", "qtext")
    // healthy artifact reads fine
    assert(Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 3).count() > 0)
    // simulate a crash mid-append: plant the marker by hand
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("graft_spec_wal_stats"))
        .toString + ".ingest-pending")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.createNewFile(loc))
    try {
      val eRead = intercept[IllegalArgumentException](
        Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 3))
      assert(eRead.getMessage.contains("pending ingest"), eRead.getMessage)
      val eAppend = intercept[IllegalArgumentException](
        Lexical.appendPostings(docs.where(lit(false)), snap, "text"))
      assert(eAppend.getMessage.contains("pending ingest"), eAppend.getMessage)
      val eCompact = intercept[IllegalArgumentException](
        Lexical.compactPostings(spark, snap, "graft_spec_wal2"))
      assert(eCompact.getMessage.contains("pending ingest"), eCompact.getMessage)
    } finally fs.delete(loc, false)
    // marker cleared -> everything works again, and a full append cycle
    // leaves no marker behind
    Lexical.appendPostings(
      Seq((99L, "cat zebra")).toDF("id", "text"), snap, "text")
    assert(!fs.exists(loc))
    assert(Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 3).count() > 0)
  }

  test("a full rebuild under the same prefix clears a leftover ingest marker (crash recovery)") {
    val snap = Lexical.writePostings(docs, "id", "text", "graft_spec_walrec", buckets = 2)
    val queries = Seq((0L, "cat")).toDF("qid", "qtext")
    // crash mid-append: the marker is left behind and readers refuse
    val loc = new org.apache.hadoop.fs.Path(
      spark.sessionState.catalog.defaultTablePath(
        org.apache.spark.sql.catalyst.TableIdentifier("graft_spec_walrec_stats"))
        .toString + ".ingest-pending")
    val fs = loc.getFileSystem(spark.sessionState.newHadoopConf())
    assert(fs.createNewFile(loc))
    intercept[IllegalArgumentException](
      Lexical.bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 3))
    // the documented recovery: rebuild with writePostings — it must clear
    // the marker itself (a full rewrite supersedes any partial append),
    // not leave the artifact refusing forever (r12 advice)
    val snap2 = Lexical.writePostings(docs, "id", "text", "graft_spec_walrec", buckets = 2)
    assert(!fs.exists(loc), "a successful rebuild must clear the stale marker")
    assert(Lexical.bm25BulkTopK(spark, snap2, queries, "qid", "qtext", k = 3).count() > 0)
  }

  test("rrfFuse and ranked refuse colliding column names; bm25TopK validates k") {
    val l = Seq((1L, 1)).toDF("id", "rank")
    intercept[IllegalArgumentException](Lexical.rrfFuse(Seq(l), "_c0", "rank"))
    intercept[IllegalArgumentException](Lexical.rrfFuse(Seq(l), "rrf_e12", "rank"))
    intercept[IllegalArgumentException](Lexical.rrfFuse(Seq(l), "id", "id"))
    intercept[IllegalArgumentException](Lexical.ranked(l, "rank", Seq(col("id"))))
    intercept[IllegalArgumentException](
      Lexical.bm25TopK(docs, "id", "text", Seq("cat"), k = 0))
    intercept[IllegalArgumentException](
      Lexical.bm25(docs, "id", "text", Seq("cat", "")))
  }
}
