package graft.plans

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ivf.{IndexStore, IvfBuilder}

/** Repeat plans of the rewrite, which caches no plan: a repeat top-k (or
  * range) plan over an unchanged table stays exact, under concurrent
  * planning and in a self-join too, and sees any rename-landed change to
  * the data dir or sidecar store — the staleness contract of
  * `IndexStore.memoizedTableProbe`, the only memo a plan reads. (The name
  * is that of the rewritten-plan cache these cases pinned until the
  * page-level payload replaced it.)
  */
class PlanCacheSpec extends SparkSpec {

  private lazy val storeDir = Files.createTempDirectory("graft-plancache-store").toString
  private lazy val dataDir: String = {
    import spark.implicits._
    val rnd = new scala.util.Random(7)
    val dir = Files.createTempDirectory("graft-plancache-data").toString
    (0 until 300).map(i => (i.toLong, Seq.fill(6)(rnd.nextFloat()), i % 3))
      .toDF("id", "vec", "label")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("label"))
      .repartition(4).write.mode("overwrite").parquet(dir)
    IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(6)), new IndexStore(storeDir))
    dir
  }

  private def withRule[T](body: => T): T = {
    graft.Graft.install(spark)
    spark.conf.set(VectorTopKRule.IndexDirKey, storeDir)
    spark.conf.set(VectorTopKRule.NprobeKey, "6") // exhaustive → exact
    try body
    finally {
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      spark.conf.unset(VectorTopKRule.NprobeKey)
    }
  }

  /** The FILTERED top-k; `where = ""` gives the filter-free top-k. */
  private def topk(k: Int = 5, q: String = "0.5F", where: String = "WHERE label >= 1"): DataFrame =
    spark.sql(
      s"""SELECT id FROM plancache_vecs $where
         |ORDER BY array_distance(vec, array(${Seq.fill(6)(q).mkString(",")})) ASC
         |LIMIT $k""".stripMargin)

  private def register(): Unit =
    spark.read.parquet(dataDir).createOrReplaceTempView("plancache_vecs")

  /** The rewrite fired: its payload tag reads `page`, and a `WinnerPayload`
    * sits in the plan.
    */
  private def fired(df: DataFrame): Boolean =
    graft.Graft.payloadResolution(df).contains(VectorTopKRule.PagePayload) &&
      df.queryExecution.optimizedPlan.toString.contains("WinnerPayload")

  private def ids(df: DataFrame): Seq[Long] = df.collect().map(_.getLong(0)).toSeq

  test("repeat plan rebuilds the rewrite and stays exact") {
    register()
    withRule {
      val first = topk()
      assert(fired(first))
      val firstIds = ids(first)
      val second = topk()
      assert(fired(second))
      // tier tags on the repeat
      val tiers = second.queryExecution.optimizedPlan.collect {
        case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
          s.getTagValue(VectorTopKRule.TierTag)
      }.flatten
      assert(tiers == Seq("float"), tiers.toString)
      assert(ids(second) == firstIds)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      assert(ids(topk()) == firstIds)
    }
  }

  test("a data-dir change invalidates: new unindexed file stops the rewrite") {
    register()
    withRule {
      assert(fired(topk()))
      // land a NEW parquet file (no sidecar) in the table dir by rename
      import spark.implicits._
      val extraDir = Files.createTempDirectory("graft-plancache-extra").toString
      Seq((9999L, Seq.fill(6)(0.9f), 0)).toDF("id", "vec", "label")
        .select(col("id"), col("vec").cast("array<float>").as("vec"), col("label"))
        .coalesce(1).write.mode("overwrite").parquet(extraDir)
      val part = new java.io.File(extraDir).listFiles()
        .find(_.getName.endsWith(".parquet")).get
      val target = java.nio.file.Paths.get(dataDir, "part-extra.parquet")
      Files.move(part.toPath, target)
      try {
        register() // re-list the table
        val df = topk()
        assert(!fired(df),
          "rewrite planned for a table with an unindexed new file:\n" +
            df.queryExecution.optimizedPlan.toString)
      } finally {
        Files.delete(target)
        register()
      }
    }
  }

  test("a sidecar-store change invalidates instead of serving stale plans") {
    register()
    withRule {
      val before = ids(topk())
      assert(fired(topk()))
      // rebuild the index (atomic-rename into the store dir bumps its mtime)
      val store = new IndexStore(storeDir)
      IvfBuilder.build(spark, dataDir, IvfBuilder.Config("vec", nClusters = Some(3)), store)
      val df = topk()
      assert(fired(df))
      assert(ids(df) == before) // exhaustive probe → exact under either k-means
      // at nprobe 1 the plan reads the nearest cell of the NEW 3-cell index
      spark.conf.set(VectorTopKRule.NprobeKey, "1")
      val narrow = topk()
      narrow.collect()
      val read = narrow.queryExecution.executedPlan.collect {
        case p: WinnerPayloadExec => p.metrics("candidateRows").value
      }.sum
      val q = Array.fill(6)(0.5f)
      val expected = graft.ivf.IndexManager.listFiles(spark, dataDir).map { f =>
        val index = graft.ivf.IndexManager.loadIndex(store, f, "vec")
        assert(index.nClusters == 3)
        index.probeCells(q, 1, false).map(index.invertedLists(_).length.toLong).sum
      }.sum
      assert(read == expected)
      spark.conf.set(VectorTopKRule.NprobeKey, "6")
      // restore the 6-cluster index for the other tests
      IvfBuilder.build(spark, dataDir,
        IvfBuilder.Config("vec", nClusters = Some(6)), new IndexStore(storeDir))
    }
  }

  test("range rewrite repeat plans stay exact") {
    register()
    withRule {
      spark.conf.set(VectorTopKRule.RangeMaxSelectivityKey, "1.0")
      try {
        def range() = spark.sql(
          s"""SELECT id FROM plancache_vecs
             |WHERE array_distance(vec, array(${Seq.fill(6)("0.5F").mkString(",")})) < 0.6
             |""".stripMargin)
        val first = range()
        assert(fired(first), first.queryExecution.optimizedPlan.toString)
        val want = ids(first).sorted
        val second = range()
        assert(fired(second))
        assert(ids(second).sorted == want)
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        assert(ids(range()).sorted == want)
      } finally spark.conf.unset(VectorTopKRule.RangeMaxSelectivityKey)
    }
  }

  test("DSv2 parquet repeat plans stay exact") {
    withRule {
      val prev = spark.conf.get("spark.sql.sources.useV1SourceList")
      spark.conf.set("spark.sql.sources.useV1SourceList", "")
      try {
        register()
        val first = topk()
        assert(fired(first), first.queryExecution.optimizedPlan.toString)
        val want = ids(first)
        val second = topk()
        assert(fired(second), second.queryExecution.optimizedPlan.toString)
        assert(ids(second) == want)
        spark.conf.set(VectorTopKRule.EnabledKey, "false")
        assert(ids(topk()) == want)
      } finally {
        spark.conf.set("spark.sql.sources.useV1SourceList", prev)
        register()
      }
    }
  }

  test("concurrent planning of the same query is safe and exact") {
    register()
    withRule {
      // the filtered shape and the filter-free one
      Seq("WHERE label >= 1", "").foreach { where =>
        val want = ids(topk(where = where))
        val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
        try {
          val tasks = (0 until 16).map { _ =>
            pool.submit(new java.util.concurrent.Callable[Seq[Long]] {
              override def call(): Seq[Long] = ids(topk(where = where))
            })
          }
          tasks.foreach(t => assert(t.get(120, java.util.concurrent.TimeUnit.SECONDS) == want))
        } finally pool.shutdownNow()
      }
    }
  }

  test("self-join of two identical top-k subqueries stays correct") {
    register()
    withRule {
      val joined = selfJoin("WHERE label >= 1")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.split("WinnerPayload ").length - 1 == 2, plan)
      val got = ids(joined).sorted
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val want = ids(selfJoin("WHERE label >= 1")).sorted
      assert(got == want, s"self-join diverged: $got vs $want")
    }
  }

  private def selfJoin(where: String): DataFrame = spark.sql(
    s"""SELECT a.id FROM
       |  (SELECT id FROM plancache_vecs $where
       |   ORDER BY array_distance(vec, array(${Seq.fill(6)("0.5F").mkString(",")})) ASC
       |   LIMIT 5) a
       |JOIN
       |  (SELECT id FROM plancache_vecs $where
       |   ORDER BY array_distance(vec, array(${Seq.fill(6)("0.5F").mkString(",")})) ASC
       |   LIMIT 5) b
       |ON a.id = b.id""".stripMargin)

  test("a filter-free top-k plans the payload and adds no cache entry") {
    register()
    withRule {
      val first = topk(where = "")
      assert(fired(first), first.queryExecution.optimizedPlan.toString)
      val firstIds = ids(first)
      assert(ids(topk(where = "")) == firstIds)
      assert(VectorTopKRule.planCacheStats == ((0L, 0L)))
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      assert(ids(topk(where = "")) == firstIds)
    }
  }

  test("self-join of two filter-free top-k subqueries stays exact") {
    register()
    withRule {
      val joined = selfJoin("")
      val plan = joined.queryExecution.optimizedPlan.toString
      assert(plan.split("WinnerPayload ").length - 1 == 2, plan)
      val got = ids(joined).sorted
      assert(got.length == 5)
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val want = ids(selfJoin("")).sorted
      assert(got == want, s"self-join diverged: $got vs $want")
    }
  }

  // The file-list intern key joins its parts with NUL. Written as a literal
  // byte it makes grep and rg treat the whole source file as binary and
  // skip it silently; the "\u0000" escape is the same runtime string.
  test("no Scala source holds a literal NUL byte") {
    val sources = Files.walk(java.nio.file.Paths.get("src"))
    val withNul =
      try sources.iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => Files.readAllBytes(p).contains(0.toByte))
        .map(_.toString).toList
      finally sources.close()
    assert(withNul.isEmpty, s"NUL bytes in $withNul")
  }
}
