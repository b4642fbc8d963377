package graft.plans

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ivf.{IndexStore, IvfBuilder}

/** Plan-shape and semantics tests for the SQL-transparent topk rewrite —
  * the Spark analog of the reference's snapshot plan tests (the `.snap`
  * files under `/root/reference/src/df_vector/snapshots/`).
  */
class VectorTopKRuleSpec extends SparkSpec {

  private lazy val storeDir = Files.createTempDirectory("graft-rule-store").toString
  private lazy val dataDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(42)
    val dir = Files.createTempDirectory("graft-rule-data").toString
    (0 until 200).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat()), i % 4))
      .toDF("id", "vec", "label")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("label"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(8)), new IndexStore(storeDir))
    dir
  }

  private def withRule[T](nprobe: Int)(body: => T): T = {
    graft.Graft.install(spark)
    spark.conf.set(VectorTopKRule.IndexDirKey, storeDir)
    spark.conf.set(VectorTopKRule.NprobeKey, nprobe.toString)
    // range tests assert plan shape — pin the selectivity bailout off so
    // firing is a function of the predicate, not the random fixture
    spark.conf.set(VectorTopKRule.RangeMaxSelectivityKey, "1.0")
    try body
    finally {
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      spark.conf.unset(VectorTopKRule.NprobeKey)
      spark.conf.unset(VectorTopKRule.RangeMaxSelectivityKey)
    }
  }

  private def sqlTopk(extra: String = "", order: String = "ASC"): DataFrame =
    spark.sql(
      s"""SELECT id FROM graft_vecs $extra
         |ORDER BY array_distance(vec, array(${Seq.fill(8)("0.5F").mkString(",")})) $order
         |LIMIT 5""".stripMargin)

  private def register(): Unit =
    spark.read.parquet(dataDir).createOrReplaceTempView("graft_vecs")

  /** The rewrite fired: its payload tag reads `page`, and a
    * `WinnerPayload` sits in the plan (every shape: filter-free, filtered,
    * range).
    */
  private def fired(df: DataFrame): Boolean =
    graft.Graft.payloadResolution(df).contains(VectorTopKRule.PagePayload) &&
      df.queryExecution.optimizedPlan.toString.contains("WinnerPayload")

  private def payload(df: DataFrame): String =
    graft.Graft.payloadResolution(df).getOrElse(fail("the rule did not match"))

  /** The optimized plan's one [[WinnerPayload]]. */
  private def payloadNode(df: DataFrame): WinnerPayload =
    df.queryExecution.optimizedPlan.collectFirst { case w: WinnerPayload => w }
      .getOrElse(fail(df.queryExecution.optimizedPlan.toString))

  test("rewrite fires on ORDER BY array_distance ASC LIMIT k and stays exact") {
    register()
    withRule(nprobe = 8) { // nprobe = nClusters → exhaustive → exact
      val df = sqlTopk()
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      // filter-free → winner-first feed: the payload reads the phase-1
      // top-k over selective reads, not the full candidate scan
      assert(payload(df) == "page")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("_dist"), optimized)
      assert(!optimized.contains("LeftSemi"), optimized)
      // the k winners: a bounded feed
      assert(payloadNode(df).child.maxRows.contains(5L), optimized)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val brute = sqlTopk()
      assert(!fired(brute))
      assert(df.collect().map(_.getLong(0)).toSeq ==
        brute.collect().map(_.getLong(0)).toSeq)
    }
  }

  test("residual WHERE keeps the one-phase candidate feed (post-filter)") {
    register()
    withRule(nprobe = 8) {
      val df = sqlTopk(extra = "WHERE label >= 2")
      assert(fired(df))
      // a filter below the top-k must see full candidate rows — the
      // winner-first shortcut must NOT engage: the payload's feed is every
      // candidate, and Spark's TakeOrdered ranks the filtered rows
      assert(payloadNode(df).child.maxRows.isEmpty, df.queryExecution.optimizedPlan.toString)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("TakeOrderedAndProject") && !physical.contains("TopKCollect"),
        physical)
    }
  }

  test("residual WHERE composes post-pruning and pushes into the pruned scan") {
    register()
    withRule(nprobe = 8) {
      val df = sqlTopk(extra = "WHERE label >= 2")
      assert(fired(df))
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val brute = sqlTopk(extra = "WHERE label >= 2")
      assert(df.collect().map(_.getLong(0)).toSeq ==
        brute.collect().map(_.getLong(0)).toSeq)
      // predicate survives the rewrite down to a scan (pushed filters)
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("label"), physical)
    }
  }

  test("ANN mode: small nprobe returns a subset ranked consistently") {
    register()
    withRule(nprobe = 2) {
      val ann = sqlTopk()
      assert(fired(ann))
      val annIds = ann.collect().map(_.getLong(0)).toSeq
      assert(annIds.nonEmpty && annIds.length <= 5)
    }
  }

  test("maxCandidates conf caps the fetched candidate set, winner-first") {
    register()
    withRule(nprobe = 8) {
      spark.conf.set(VectorTopKRule.MaxCandidatesKey, "2")
      try {
        val df = sqlTopk()
        assert(fired(df))
        // the cap keeps the winner-first feed, with round-robin capping
        // inside the plan
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(optimized.contains("_pos"), optimized)
        // 200 rows, exhaustive probe, but only 2 candidates survive the cap
        assert(df.collect().length == 2)

        // semantic twin: a capped filter that keeps every row reads every
        // capped candidate, so it must select the SAME round-robin-capped
        // candidate set
        val filtered = sqlTopk(extra = "WHERE label >= 0")
        assert(fired(filtered))
        assert(payloadNode(filtered).child.maxRows.isEmpty)
        assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
          filtered.collect().map(_.getLong(0)).sorted.toSeq)
      } finally spark.conf.unset(VectorTopKRule.MaxCandidatesKey)
    }
  }

  test("maxCandidates with a residual WHERE still caps via one-phase") {
    register()
    withRule(nprobe = 8) {
      spark.conf.set(VectorTopKRule.MaxCandidatesKey, "4")
      try {
        val df = sqlTopk(extra = "WHERE label >= 0")
        assert(fired(df))
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(optimized.contains("_pos"), optimized)
        assert(payloadNode(df).child.maxRows.isEmpty, optimized)
        assert(df.collect().length == 4)
      } finally spark.conf.unset(VectorTopKRule.MaxCandidatesKey)
    }
  }

  private def sqlCosineTopk(extra: String = "", order: String = "DESC"): DataFrame =
    spark.sql(
      s"""SELECT id FROM graft_vecs $extra
         |ORDER BY array_cosine_similarity(vec, array(${Seq.fill(8)("0.5F").mkString(",")})) $order
         |LIMIT 5""".stripMargin)

  test("cosine DESC rewrites via the angular winner-first feed and stays exact") {
    register()
    withRule(nprobe = 8) { // exhaustive → exact regardless of probe order
      val df = sqlCosineTopk()
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      assert(payload(df) == "page")
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("_dist"), optimized)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val brute = sqlCosineTopk()
      assert(!fired(brute))
      assert(df.collect().map(_.getLong(0)).toSeq ==
        brute.collect().map(_.getLong(0)).toSeq)
    }
  }

  test("no cosine rewrite for ASC (least-similar-first has no probe order)") {
    register()
    withRule(nprobe = 8) {
      assert(!fired(sqlCosineTopk(order = "ASC")))
    }
  }

  test("filtered cosine rewrites via the ANGULAR one-phase feed and stays exact") {
    register()
    withRule(nprobe = 8) { // exhaustive → both probe orders emit every row
      val df = sqlCosineTopk(extra = "WHERE label >= 2")
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      // post-filter semantics need the full candidate feed, probed angularly
      assert(payloadNode(df).child.maxRows.isEmpty, df.queryExecution.optimizedPlan.toString)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val brute = sqlCosineTopk(extra = "WHERE label >= 2")
      assert(!fired(brute))
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      assert(df.collect().map(_.getLong(0)).toSeq ==
        brute.collect().map(_.getLong(0)).toSeq)

      // the filter-free cosine twin reads the k winners and equals brute
      // force too
      val ff = sqlCosineTopk()
      assert(fired(ff), ff.queryExecution.optimizedPlan.toString)
      assert(payloadNode(ff).child.maxRows.contains(5L))
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val b2 = sqlCosineTopk()
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      assert(ff.collect().map(_.getLong(0)).toSeq == b2.collect().map(_.getLong(0)).toSeq)
    }
  }

  test("ANN filtered cosine at small nprobe probes the angular neighborhood") {
    register()
    withRule(nprobe = 2) {
      val df = sqlCosineTopk(extra = "WHERE label >= 2")
      assert(fired(df))
      val ids = df.collect().map(_.getLong(0)).toSeq
      assert(ids.nonEmpty && ids.length <= 5)
      // the candidates are the cells nearest by centroid COSINE
      assert(ids == annOracle("label >= 2", cosine = true, nprobe = 2))
    }
  }

  test("capped filtered cosine: angular one-phase feed honors maxCandidates") {
    register()
    withRule(nprobe = 8) {
      spark.conf.set(VectorTopKRule.MaxCandidatesKey, "4")
      try {
        val df = sqlCosineTopk(extra = "WHERE label >= 0") // filter keeps all
        assert(fired(df))
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(optimized.contains("_pos"), optimized)
        // exhaustive probe over 200 rows, but only 4 candidates survive
        assert(df.collect().length == 4)
      } finally spark.conf.unset(VectorTopKRule.MaxCandidatesKey)
    }
  }

  test("DSv2 filtered cosine also rewrites via the angular one-phase feed") {
    import graft.functions.{array_cosine_similarity, float_vector}
    withRule(nprobe = 8) {
      val prev = spark.conf.get("spark.sql.sources.useV1SourceList")
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      try {
        def q = spark.read.parquet(dataDir)
          .where(col("label") >= 2)
          .orderBy(
            array_cosine_similarity(col("vec"), float_vector(Seq.fill(8)(0.5f))).desc)
          .limit(5)
          .select("id")
        val df = q
        assert(fired(df), df.queryExecution.optimizedPlan.toString)
        assert(payloadNode(df).child.maxRows.isEmpty)
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        val brute = q
        assert(!fired(brute))
        spark.conf.set(VectorTopKRule.EnabledKey, "true")
        assert(df.collect().map(_.getLong(0)).toSeq ==
          brute.collect().map(_.getLong(0)).toSeq)
      } finally spark.conf.set("spark.sql.sources.useV1SourceList", prev)
    }
  }

  test("no rewrite for DESC, multiple sort keys, or unindexed columns") {
    register()
    withRule(nprobe = 8) {
      assert(!fired(sqlTopk(order = "DESC")))
      val multi = spark.sql(
        s"""SELECT id FROM graft_vecs
           |ORDER BY array_distance(vec, array(${Seq.fill(8)("0.5F").mkString(",")})), id
           |LIMIT 5""".stripMargin)
      assert(!fired(multi))
      // unindexed: point the rule at an empty index dir
      spark.conf.set(VectorTopKRule.IndexDirKey,
        Files.createTempDirectory("graft-empty").toString)
      assert(!fired(sqlTopk()))
    }
  }

  test("no rewrite when an aggregate sits between sort and scan") {
    register()
    withRule(nprobe = 8) {
      val agg = spark.sql(
        s"""SELECT first(vec) AS v, count(*) AS n FROM graft_vecs GROUP BY label
           |ORDER BY array_distance(first(vec), array(${Seq.fill(8)("0.5F").mkString(",")}))
           |LIMIT 2""".stripMargin)
      assert(!fired(agg))
    }
  }

  test("DSv2 parquet scan (useV1SourceList='') also rewrites and stays exact") {
    import graft.functions.{array_distance, float_vector}
    withRule(nprobe = 8) {
      val prev = spark.conf.get("spark.sql.sources.useV1SourceList")
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      try {
        def topk = spark.read.parquet(dataDir)
          .orderBy(array_distance(col("vec"), float_vector(Seq.fill(8)(0.5f))).asc)
          .limit(5)
          .select("id")
        val df = topk
        // confirm the plan really is on the V2 path, then that we fired
        val optimized = df.queryExecution.optimizedPlan.toString
        assert(!optimized.contains("HadoopFsRelation") || fired(df), optimized)
        assert(fired(df), optimized)
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        val brute = topk
        assert(!fired(brute))
        spark.conf.set(VectorTopKRule.EnabledKey, "true")
        assert(df.collect().map(_.getLong(0)).toSeq ==
          brute.collect().map(_.getLong(0)).toSeq)

        // a residual filter on the V2 path keeps post-filter semantics
        def filtered = spark.read.parquet(dataDir)
          .where(col("label") >= 2)
          .orderBy(array_distance(col("vec"), float_vector(Seq.fill(8)(0.5f))).asc)
          .limit(5)
          .select("id")
        val fdf = filtered
        assert(fired(fdf), fdf.queryExecution.optimizedPlan.toString)
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        val fbrute = filtered
        spark.conf.set(VectorTopKRule.EnabledKey, "true")
        assert(fdf.collect().map(_.getLong(0)).toSeq ==
          fbrute.collect().map(_.getLong(0)).toSeq)
      } finally spark.conf.set("spark.sql.sources.useV1SourceList", prev)
    }
  }

  test("Column-API query with float_vector literal also rewrites") {
    withRule(nprobe = 8) {
      import graft.functions.{array_distance, float_vector}
      val df = spark.read.parquet(dataDir)
        .orderBy(array_distance(col("vec"), float_vector(Seq.fill(8)(0.5f))).asc)
        .limit(5)
        .select("id")
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
    }
  }

  private def vecLit: String = s"array(${Seq.fill(8)("0.5F").mkString(",")})"

  /** The ids an ANN top-k at `nprobe` must return on the one-file fixture:
    * brute force over the members of the probed cells (in the metric's
    * probe order; the first `cap` of them under a cap) — the candidate set
    * the rewrite has always read.
    */
  private def annOracle(
      where: String, cosine: Boolean, nprobe: Int, cap: Option[Int] = None): Seq[Long] = {
    val files = graft.ivf.IndexManager.listFiles(spark, dataDir)
    assert(files.size == 1)
    val index = graft.ivf.IndexManager.loadIndex(new IndexStore(storeDir), files.head, "vec")
    val probed = index.probeCells(Array.fill(8)(0.5f), nprobe, cosine).flatMap(index.invertedLists)
    val kept = cap.fold(probed)(probed.take).map(_.toLong).toSeq
    val order =
      if (cosine) s"array_cosine_similarity(vec, $vecLit) DESC"
      else s"array_distance(vec, $vecLit) ASC"
    spark.read.parquet(dataDir)
      .where(col("_metadata.row_index").isin(kept: _*))
      .createOrReplaceTempView("graft_ann_oracle")
    spark.conf.set(VectorTopKRule.EnabledKey, "false")
    try spark.sql(s"SELECT id FROM graft_ann_oracle WHERE $where ORDER BY $order LIMIT 5")
      .collect().map(_.getLong(0)).toSeq
    finally spark.conf.set(VectorTopKRule.EnabledKey, "true")
  }

  test("nprobe 2: filtered and capped shapes return the probed cells' top-k") {
    register()
    withRule(nprobe = 2) {
      def ids(df: DataFrame) = {
        assert(fired(df), df.queryExecution.optimizedPlan.toString)
        df.collect().map(_.getLong(0)).toSeq
      }
      assert(ids(sqlTopk(extra = "WHERE label >= 2")) ==
        annOracle("label >= 2", cosine = false, nprobe = 2))
      assert(ids(sqlCosineTopk(extra = "WHERE label >= 2")) ==
        annOracle("label >= 2", cosine = true, nprobe = 2))
      spark.conf.set(VectorTopKRule.MaxCandidatesKey, "12")
      try {
        assert(ids(sqlTopk(extra = "WHERE label >= 1")) ==
          annOracle("label >= 1", cosine = false, nprobe = 2, cap = Some(12)))
        assert(ids(sqlCosineTopk(extra = "WHERE label >= 1")) ==
          annOracle("label >= 1", cosine = true, nprobe = 2, cap = Some(12)))
        assert(ids(sqlTopk()) == annOracle("true", cosine = false, nprobe = 2, cap = Some(12)))
      } finally spark.conf.unset(VectorTopKRule.MaxCandidatesKey)
      assert(ids(sqlTopk()) == annOracle("true", cosine = false, nprobe = 2))
    }
  }

  test("filteredTier opt-in reads the tier's survivors through the payload, exactly") {
    register()
    withRule(nprobe = 8) {
      graft.ivf.Sq8Sidecar.ensure(spark, dataDir, "vec", new IndexStore(storeDir))
      spark.conf.set(VectorTopKRule.TierKey, "sq8")
      spark.conf.set(VectorTopKRule.FilteredTierKey, "true")
      // 200 rows: k·oversample = 5·40 covers every candidate → exact
      spark.conf.set(VectorTopKRule.OversampleKey, "40")
      try {
        val df = sqlTopk(extra = "WHERE label >= 2")
        assert(fired(df), df.queryExecution.optimizedPlan.toString)
        val tiers = df.queryExecution.optimizedPlan.collect {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
            s.getTagValue(VectorTopKRule.TierTag)
        }.flatten
        assert(tiers == Seq("sq8"), tiers.toString)
        assert(payloadNode(df).child.maxRows.isEmpty)
        val got = df.collect().map(_.getLong(0)).toSeq
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        assert(got == sqlTopk(extra = "WHERE label >= 2").collect().map(_.getLong(0)).toSeq)
      } finally {
        spark.conf.unset(VectorTopKRule.TierKey)
        spark.conf.unset(VectorTopKRule.FilteredTierKey)
        spark.conf.unset(VectorTopKRule.OversampleKey)
      }
    }
  }

  private def rows(df: DataFrame): Seq[(Long, Float)] =
    df.collect().map(r => (r.getLong(0), r.getFloat(1))).toSeq

  test("ORDER BY a select-list alias of the L2 distance rewrites, exactly") {
    register()
    withRule(nprobe = 8) {
      def q = spark.sql(
        s"SELECT id, array_distance(vec, $vecLit) AS d FROM graft_vecs ORDER BY d LIMIT 5")
      val df = q
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      assert(payload(df) == "page")
      val got = rows(df)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val brute = q
      assert(!fired(brute))
      assert(got == rows(brute))
    }
  }

  test("ORDER BY a select-list alias of cosine similarity DESC rewrites, exactly") {
    register()
    withRule(nprobe = 8) {
      def q = spark.sql(
        s"""SELECT id, array_cosine_similarity(vec, $vecLit) AS s FROM graft_vecs
           |ORDER BY s DESC LIMIT 5""".stripMargin)
      val df = q
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      assert(payload(df) == "page")
      val got = rows(df)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val brute = q
      assert(!fired(brute))
      assert(got == rows(brute))
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      // the alias ASC is least-similar-first: no rewrite
      assert(!fired(spark.sql(
        s"SELECT id, array_cosine_similarity(vec, $vecLit) AS s FROM graft_vecs ORDER BY s LIMIT 5")))
    }
  }

  /** Runs `sql` with the rule on and off: the rule declines with `reason`,
    * leaving Spark's own plan, and both return the same ids in the same
    * order.
    */
  private def assertRefused(sql: String, reason: String): Unit = {
    val df = spark.sql(sql)
    assert(payload(df) == s"declined: $reason")
    assert(!fired(df), df.queryExecution.optimizedPlan.toString)
    val got = df.collect().map(_.getLong(0)).toSeq
    spark.conf.set(VectorTopKRule.EnabledKey, "false")
    try assert(got == spark.sql(sql).collect().map(_.getLong(0)).toSeq)
    finally spark.conf.set(VectorTopKRule.EnabledKey, "true")
  }

  /** An indexed copy of the fixture with `cols` selected. */
  private def indexedVariant(cols: String*): String = {
    val dir = Files.createTempDirectory("graft-rule-variant").toString
    spark.read.parquet(dataDir).selectExpr(cols: _*)
      .coalesce(1).write.mode("overwrite").parquet(dir)
    IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(8)), new IndexStore(storeDir))
    dir
  }

  test("payload refusal: a non-atomic column declines to Spark's plan, exactly") {
    withRule(nprobe = 8) {
      spark.read.parquet(indexedVariant("id", "vec", "named_struct('l', label) AS st"))
        .createOrReplaceTempView("graft_struct")
      assertRefused(
        s"SELECT id, st FROM graft_struct ORDER BY array_distance(vec, $vecLit) LIMIT 5",
        "column 'st' is struct<l:int>, not an atomic type")
    }
  }

  test("payload refusal: a list<double> vector declines to Spark's plan, exactly") {
    withRule(nprobe = 8) {
      spark.read.parquet(indexedVariant("id", "CAST(vec AS array<double>) AS vec"))
        .createOrReplaceTempView("graft_double")
      assertRefused(
        s"SELECT id FROM graft_double ORDER BY array_distance(vec, $vecLit) LIMIT 5",
        "vector column 'vec' is array<double>, not array<float>")
    }
  }

  test("payload refusal: INT96 timestamp conversion declines to Spark's plan, exactly") {
    register()
    withRule(nprobe = 8) {
      val key = "spark.sql.parquet.int96TimestampConversion"
      spark.conf.set(key, "true")
      try assertRefused(
        s"SELECT id FROM graft_vecs ORDER BY array_distance(vec, $vecLit) LIMIT 5",
        s"$key is on")
      finally spark.conf.unset(key)
    }
  }

  test("payload refusal: a scan of two root paths declines to Spark's plan, exactly") {
    withRule(nprobe = 8) {
      spark.read.parquet(dataDir,
          indexedVariant("id + 1000 AS id", "transform(vec, x -> x * 0.9F) AS vec", "label"))
        .createOrReplaceTempView("graft_two_roots")
      assertRefused(
        s"SELECT id FROM graft_two_roots ORDER BY array_distance(vec, $vecLit) LIMIT 5",
        "the scan has 2 root paths")
    }
  }

  test("payload refusal: a _metadata column in the scan declines to Spark's plan, exactly") {
    withRule(nprobe = 8) {
      spark.read.parquet(dataDir).select(col("*"), col("_metadata"))
        .createOrReplaceTempView("graft_meta")
      assertRefused(
        s"""SELECT id, _metadata.file_name AS f FROM graft_meta
           |ORDER BY array_distance(vec, $vecLit) LIMIT 5""".stripMargin,
        "the scan outputs _metadata")
    }
  }

  /** One Spark job: its stages' task counts and the shuffle bytes its
    * completed stages wrote and read.
    */
  private final case class JobShape(tasksPerStage: Seq[Int], shuffleBytes: Long)

  /** The Spark jobs `f` runs, in start order: its jobs carry a job group,
    * then a fence job proves the listener bus has delivered them.
    */
  private def jobsOf(f: => Unit): Seq[JobShape] = {
    import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart,
      SparkListenerStageCompleted}
    val sc = spark.sparkContext
    val group = "graft-rule-spec-" + java.util.UUID.randomUUID()
    val jobs = new java.util.concurrent.ConcurrentLinkedQueue[(String, Seq[(Int, Int)])]()
    val shuffled = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        jobs.add((String.valueOf(e.properties.getProperty("spark.jobGroup.id")),
          e.stageInfos.map(s => (s.stageId, s.numTasks))))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = e.stageInfo.taskMetrics
        shuffled.put(e.stageInfo.stageId,
          m.shuffleWriteMetrics.bytesWritten + m.shuffleReadMetrics.totalBytesRead)
      }
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      def fenced = jobs.toArray.exists(_.asInstanceOf[(String, _)]._1 == group + "-fence")
      while (!fenced && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced, "fence job never reached the listener")
      jobs.toArray.toSeq.map(_.asInstanceOf[(String, Seq[(Int, Int)])]).collect {
        case (`group`, stages) =>
          JobShape(stages.map(_._2), stages.map(s => shuffled.getOrDefault(s._1, 0L)).sum)
      }
    } finally sc.removeSparkListener(listener)
  }

  /** The stage count of each Spark job `f` runs. */
  private def stagesPerJob(f: => Unit): Seq[Int] = jobsOf(f).map(_.tasksPerStage.size)

  test("a Hive-partitioned table reads its partition column on the payload") {
    withRule(nprobe = 8) {
      val dir = Files.createTempDirectory("graft-rule-part").toString
      spark.read.parquet(dataDir).write.mode("overwrite").partitionBy("label").parquet(dir)
      IvfBuilder.build(spark, dir,
        IvfBuilder.Config("vec", nClusters = Some(4)), new IndexStore(storeDir))
      spark.read.parquet(dir).createOrReplaceTempView("graft_parted")
      // the partition column read, and left out of the payload's output
      Seq("id, label", "id").foreach { cols =>
        def q = spark.sql(
          s"SELECT $cols FROM graft_parted ORDER BY array_distance(vec, $vecLit) LIMIT 5")
        val df = q
        assert(payload(df) == "page")
        assert(fired(df), df.queryExecution.optimizedPlan.toString)
        val got = df.collect().map(_.toSeq).toSeq
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        try assert(got == q.collect().map(_.toSeq).toSeq, cols)
        finally spark.conf.set(VectorTopKRule.EnabledKey, "true")
      }
    }
  }

  test("a collected filter-free top-k runs as one job of one stage") {
    register()
    withRule(nprobe = 8) {
      val df = sqlTopk()
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("TopKCollect") && physical.contains("WinnerPayloadExec"), physical)
      assert(stagesPerJob(df.collect(): Unit) == Seq(1))
    }
  }

  test("a collected filtered top-k runs as one job: scoring, payload and TakeOrdered") {
    register()
    withRule(nprobe = 8) {
      val df = sqlTopk(extra = "WHERE label >= 2")
      val physical = df.queryExecution.executedPlan.toString
      assert(physical.contains("TakeOrderedAndProject") && physical.contains("WinnerPayloadExec"),
        physical)
      assert(stagesPerJob(df.collect(): Unit) == Seq(1))
    }
  }

  /** The fixture's rows in four files, with sq8 and pq sidecars. */
  private lazy val quantizedDir: String = {
    val dir = Files.createTempDirectory("graft-rule-quantized").toString
    spark.read.parquet(dataDir).repartition(4).write.mode("overwrite").parquet(dir)
    val store = new IndexStore(storeDir)
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    graft.ivf.Sq8Sidecar.ensure(spark, dir, "vec", store)
    graft.ivf.PqSidecar.ensure(spark, dir, "vec", m = 4, store)
    dir
  }

  /** `body` for each quantized tier over [[quantizedDir]], registered as
    * `graft_quantized`, at an exhaustive probe and an oversample that
    * covers the table (5·40 = 200 rows), so every tier is exact.
    */
  private def withQuantized(body: String => Unit): Unit =
    withRule(nprobe = 4) {
      spark.read.parquet(quantizedDir).createOrReplaceTempView("graft_quantized")
      spark.conf.set(VectorTopKRule.OversampleKey, "40")
      try Seq("sq8", "pq").foreach { tier =>
        spark.conf.set(VectorTopKRule.TierKey, tier)
        body(tier)
      } finally {
        spark.conf.unset(VectorTopKRule.TierKey)
        spark.conf.unset(VectorTopKRule.OversampleKey)
      }
    }

  private def quantizedTopk(): DataFrame = spark.sql(
    s"SELECT id FROM graft_quantized ORDER BY array_distance(vec, $vecLit) LIMIT 5")

  test("a collected quantized top-k runs a coarse job and a refine job, one stage each, no shuffle") {
    withQuantized { tier =>
      val df = quantizedTopk()
      assert(graft.Graft.tierResolution(df).exists(_.contains(s"resolved=$tier")),
        graft.Graft.tierResolution(df).toString)
      var got: Seq[Long] = Nil
      val jobs = jobsOf { got = df.collect().map(_.getLong(0)).toSeq }
      assert(jobs.map(_.tasksPerStage.size) == Seq(1, 1), s"$tier: $jobs")
      assert(jobs.map(_.shuffleBytes).sum == 0L, s"$tier: $jobs")
      // every one of the four files holds survivors: the refine is parallel
      assert(jobs(1).tasksPerStage.head > 1, s"$tier: $jobs")
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      try assert(got == quantizedTopk().collect().map(_.getLong(0)).toSeq, tier)
      finally spark.conf.set(VectorTopKRule.EnabledKey, "true")
    }
  }

  test("planning a quantized top-k runs no job") {
    withQuantized { tier =>
      val df = quantizedTopk()
      assert(jobsOf(df.queryExecution.executedPlan: Unit).isEmpty, tier)
      assert(graft.Graft.tierResolution(df).exists(_.contains(s"resolved=$tier")))
    }
  }

  private def sqlRange(pred: String): DataFrame =
    spark.sql(s"SELECT id FROM graft_vecs WHERE $pred")

  test("range WHERE reads the admitted cells' candidates on the page payload, exactly") {
    register()
    withRule(nprobe = 8) {
      val pred = s"array_distance(vec, $vecLit) < 0.55"
      val df = sqlRange(pred)
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      assert(payload(df) == "page")
      // the feed is every member of the admitted cells; the Filter stays
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(optimized.contains("Filter") && payloadNode(df).child.maxRows.isEmpty, optimized)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val brute = sqlRange(pred)
      assert(!fired(brute))
      val expected = brute.collect().map(_.getLong(0)).sorted.toSeq
      assert(expected.nonEmpty, "fixture radius catches no rows")
      assert(df.collect().map(_.getLong(0)).sorted.toSeq == expected)
    }
  }

  test("a SQL range query's payload reads only its in-range rows") {
    register()
    withRule(nprobe = 8) {
      val df = sqlRange(s"array_distance(vec, $vecLit) < 0.55")
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      val rows = df.collect().length
      val candidates = df.queryExecution.executedPlan.collect {
        case p: WinnerPayloadExec => p.metrics("candidateRows").value
      }.sum
      assert(rows > 0 && candidates == rows, s"$candidates candidate rows for $rows in range")
    }
  }

  test("range rewrite fires for flipped, <=, squared, and conjunct forms") {
    register()
    withRule(nprobe = 8) {
      val forms = Seq(
        s"0.55 > array_distance(vec, $vecLit)",
        s"array_distance(vec, $vecLit) <= 0.55",
        s"array_squared_l2(vec, $vecLit) < 0.3",
        s"label >= 0 AND array_distance(vec, $vecLit) < 0.55")
      forms.foreach { pred =>
        val df = sqlRange(pred)
        assert(fired(df), s"$pred: ${df.queryExecution.optimizedPlan}")
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        val brute = sqlRange(pred)
        spark.conf.set(VectorTopKRule.EnabledKey, "true")
        assert(df.collect().map(_.getLong(0)).sorted.toSeq ==
          brute.collect().map(_.getLong(0)).sorted.toSeq, pred)
      }
    }
  }

  test("selectivity bailout: a barely-pruning radius keeps the plain scan") {
    register()
    withRule(nprobe = 8) {
      // radius covering everything → candidate fraction 1.0 > 0.5
      spark.conf.set(VectorTopKRule.RangeMaxSelectivityKey, "0.5")
      val wide = sqlRange(s"array_distance(vec, $vecLit) < 100.0")
      assert(!fired(wide), wide.queryExecution.optimizedPlan.toString)
      // and the result is still the plain-filter answer
      assert(wide.count() == 200)
    }
  }

  test("no range rewrite for non-literal radius, upper bounds, or unindexed columns") {
    register()
    withRule(nprobe = 8) {
      // radius from a column — not a constant bound
      assert(!fired(sqlRange(s"array_distance(vec, $vecLit) < cast(label AS FLOAT)")))
      // farthest-first has no triangle bound
      assert(!fired(sqlRange(s"array_distance(vec, $vecLit) > 0.55")))
      // unindexed table
      import spark.implicits._
      val plainDir = java.nio.file.Files.createTempDirectory("graft-rule-plain").toString
      (0 until 20).map(i => (i.toLong, Seq.fill(8)(i.toFloat)))
        .toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .write.mode("overwrite").parquet(plainDir)
      spark.read.parquet(plainDir).createOrReplaceTempView("graft_plain")
      assert(!fired(spark.sql(
        s"SELECT id FROM graft_plain WHERE array_distance(vec, $vecLit) < 0.5")))
    }
  }

  /** Every row of `df` as strings, sorted: a whole-row comparison that
    * sees each column by position.
    */
  private def allRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toSeq.map {
      case s: scala.collection.Seq[_] => s.mkString("[", ",", "]")
      case v => String.valueOf(v)
    }.mkString("|")).sorted.toSeq

  /** `sql` with the rule on: it fired in `branches` payloads, and its rows
    * equal the rule-off plan's.
    */
  private def assertPositional(sql: String, branches: Int): Unit = {
    val df = spark.sql(sql)
    val payloads = df.queryExecution.optimizedPlan.collect { case w: WinnerPayload => w }
    assert(payloads.size == branches, df.queryExecution.optimizedPlan.toString)
    // a Union takes each branch's columns by position: every leaf column
    payloads.foreach(w => assert(w.output.map(_.name) == Seq("id", "vec", "label"), w))
    spark.conf.set(VectorTopKRule.EnabledKey, "false")
    val expected = allRows(spark.sql(sql))
    spark.conf.set(VectorTopKRule.EnabledKey, "true")
    assert(expected.nonEmpty)
    assert(allRows(df) == expected, sql)
  }

  test("UNION ALL of two SELECT * top-ks keeps every column of each branch") {
    register()
    withRule(nprobe = 8) {
      def topk(where: String, v: String) =
        s"(SELECT * FROM graft_vecs $where ORDER BY array_distance(vec, " +
          s"array(${Seq.fill(8)(v).mkString(",")})) ASC LIMIT 5)"
      assertPositional(s"${topk("", "0.5F")} UNION ALL ${topk("", "0.2F")}", 2)
      assertPositional(
        s"${topk("WHERE label >= 2", "0.5F")} UNION ALL ${topk("WHERE label < 2", "0.2F")}", 2)
    }
  }

  test("UNION ALL of two SELECT * range predicates keeps every column of each branch") {
    register()
    withRule(nprobe = 8) {
      assertPositional(
        s"SELECT * FROM graft_vecs WHERE array_distance(vec, $vecLit) < 0.55 UNION ALL " +
          s"SELECT * FROM graft_vecs WHERE array_distance(vec, $vecLit) < 0.5", 2)
    }
  }

  test("a written SELECT * top-k keeps every column") {
    register()
    withRule(nprobe = 8) {
      val sql = s"SELECT * FROM graft_vecs WHERE label >= 1 " +
        s"ORDER BY array_distance(vec, $vecLit) ASC LIMIT 5"
      val out = Files.createTempDirectory("graft-rule-write").toString
      val df = spark.sql(sql)
      assert(fired(df), df.queryExecution.optimizedPlan.toString)
      df.write.mode("overwrite").parquet(out)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val expected = allRows(spark.sql(sql))
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      assert(allRows(spark.read.parquet(out)) == expected)
    }
  }
}
