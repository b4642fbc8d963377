package graft

import org.apache.spark.sql.SparkSession
import org.scalatest.funsuite.AnyFunSuite

/** The production install path: a session configured with
  * `spark.sql.extensions=graft.GraftExtensions` gets the SQL functions,
  * the optimizer rule, AND the planner strategy without any imperative
  * install call.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  /** Run `body` on a fresh session built through the extensions injection
    * path, restoring the suite-shared default/active sessions afterwards.
    * `spark.sql.extensions` is a static conf — it only takes effect on a
    * fresh SparkContext, and the test JVM shares one; withExtensions
    * exercises the identical injection path programmatically.
    */
  private def withExtSession[T](body: SparkSession => T): T = {
    val prevDefault = SparkSession.getDefaultSession
    val prevActive = SparkSession.getActiveSession
    SparkSession.clearDefaultSession()
    SparkSession.clearActiveSession()
    val spark = SparkSession.builder()
      .master("local[2]")
      .appName("graft-ext-test")
      .withExtensions(new GraftExtensions)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    try body(spark)
    finally {
      // do NOT stop(): the SparkContext is shared with the other suites —
      // just restore the previous default/active sessions
      SparkSession.clearDefaultSession()
      SparkSession.clearActiveSession()
      prevDefault.foreach(SparkSession.setDefaultSession)
      prevActive.foreach(SparkSession.setActiveSession)
    }
  }

  test("extensions-configured session resolves graft SQL functions") {
    withExtSession { spark =>
      val d = spark
        .sql("SELECT array_distance(array(1.0F,2.0F,3.0F), array(4.0F,5.0F,6.0F)) d")
        .head().getFloat(0)
      assert(math.abs(d - math.sqrt(27.0)) < 1e-5)
      val sim = spark
        .sql("SELECT simhash64(array('a','b','c')) s")
        .head().getLong(0)
      assert(sim != 0L)
      assert(spark.sql("SELECT 1 + 1").head().getInt(0) == 2)
    }
  }

  test("graft_index_info table function surfaces per-cell index stats in SQL") {
    withExtSession { spark =>
      import java.nio.file.Files
      import org.apache.spark.sql.functions.col
      val dir = Files.createTempDirectory("graft-info-data").toString
      val storeDir = Files.createTempDirectory("graft-info-store").toString
      val rnd = new scala.util.Random(23)
      spark.createDataFrame((0 until 120).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat()))))
        .toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .coalesce(2).write.mode("overwrite").parquet(dir)
      val store = new graft.ivf.IndexStore(storeDir)
      graft.ivf.IvfBuilder.build(spark, dir,
        graft.ivf.IvfBuilder.Config("vec", nClusters = Some(3)), store)
      // the TVF resolves against the rule's configured sidecar store
      spark.conf.set(plans.VectorTopKRule.IndexDirKey, storeDir)
      try {
        val rows = spark
          .sql(s"SELECT file, cell, size FROM graft_index_info('$dir', 'vec')")
          .collect()
          .map(r => (r.getString(0), r.getInt(1), r.getLong(2)))
        assert(rows.length == 6, s"expected 2 files x 3 cells, got ${rows.length}")
        assert(rows.map(_._3).sum == 120L)
        // SQL aggregation over the TVF — the operational health query
        val skew = spark
          .sql(s"""SELECT max(size) FROM graft_index_info('$dir', 'vec')""")
          .head().getLong(0)
        assert(skew >= 120L / 6)
        val e = intercept[Exception](
          spark.sql("SELECT * FROM graft_index_info('/nope', vec)"))
        assert(e.getMessage.contains("graft_index_info"), e.getMessage)
      } finally spark.conf.unset(plans.VectorTopKRule.IndexDirKey)
    }
  }

  test("extensions session runs the indexed SQL rewrite end to end") {
    withExtSession { spark =>
      import java.nio.file.Files
      import org.apache.spark.sql.functions.col
      val dir = Files.createTempDirectory("graft-ext-data").toString
      val storeDir = Files.createTempDirectory("graft-ext-store").toString
      val rnd = new scala.util.Random(17)
      spark.createDataFrame((0 until 100).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat()))))
        .toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .coalesce(1).write.mode("overwrite").parquet(dir)
      graft.ivf.IvfBuilder.build(spark, dir,
        graft.ivf.IvfBuilder.Config("vec", nClusters = Some(4)),
        new graft.ivf.IndexStore(storeDir))
      spark.conf.set(plans.VectorTopKRule.IndexDirKey, storeDir)
      spark.conf.set(plans.VectorTopKRule.NprobeKey, "4") // exhaustive
      spark.read.parquet(dir).createOrReplaceTempView("ext_vecs")
      val sql =
        s"""SELECT id FROM ext_vecs
           |ORDER BY array_distance(vec, array(${Seq.fill(4)("0.5F").mkString(",")}))
           |LIMIT 5""".stripMargin
      val df = spark.sql(sql)
      // the rewrite fired — filter-free SQL gets the winner-first feed
      // (phase-1 `_dist` ranking under a WinnerPayload) — and the
      // ANN-exhaustive answer equals brute force
      val optimized = df.queryExecution.optimizedPlan.toString
      assert(graft.Graft.payloadResolution(df).contains(plans.VectorTopKRule.PagePayload))
      assert(optimized.contains("WinnerPayload") && optimized.contains("_dist"), optimized)
      // collected, the rewrite is one job of one stage here too: the
      // optimizer, running on after the rewrite, drops the Limit the
      // payload's maxRows bounds, and the root still collects on the driver
      assert(df.queryExecution.executedPlan.toString.contains("TopKCollect"),
        df.queryExecution.executedPlan.toString)
      val stages = new java.util.concurrent.ConcurrentLinkedQueue[Integer]()
      val listener = new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          if (e.properties.getProperty("spark.jobGroup.id") == "graft-ext-topk")
            stages.add(e.stageInfos.size)
      }
      spark.sparkContext.addSparkListener(listener)
      val got = try {
        spark.sparkContext.setJobGroup("graft-ext-topk", "top-k")
        try df.collect().map(_.getLong(0)).toSet
        finally spark.sparkContext.clearJobGroup()
      } finally {
        // a fence job: the listener bus delivers in order
        spark.sparkContext.parallelize(Seq(1), 1).count()
        val deadline = System.nanoTime() + 10000000000L
        while (stages.isEmpty && System.nanoTime() < deadline) Thread.sleep(10)
        spark.sparkContext.removeSparkListener(listener)
      }
      assert(stages.toArray.toSeq == Seq(1), s"stages per job: ${stages.toArray.toSeq}")
      spark.conf.set(plans.VectorTopKRule.EnabledKey, "false")
      val brute = spark.sql(sql).collect().map(_.getLong(0)).toSet
      spark.conf.set(plans.VectorTopKRule.EnabledKey, "true")
      assert(got == brute)
    }
  }
}
