package graft.tools

import org.apache.spark.sql.functions.col

import graft.ivf.{IndexStore, IvfBuilder, PqSidecar, Sq8Sidecar}
import graft.plans.VectorTopKRule

/** Planning-latency probe over many-file tables (round-12 verdict item #1):
  * `tier=auto` availability probes and the rule's per-file header peeks
  * are driver-side, per planned query — before the store-level probe memo
  * ([[IndexStore.memoizedProbe]]) every NEW query against a cold-profile
  * F-file table re-opened every sidecar header (O(F) driver round-trips
  * per plan; the reference keeps per-file footer work execution-side,
  * `/root/reference/src/df_vector/index_exec.rs:96-143`, so plan time must
  * not multiply it). The claim to pin: a repeat plan costs stat calls
  * only, flat in F, for both shapes the rule plans:
  *  - the FILTER-FREE top-k (`ff_*`), which plans the page-level payload
  *    and touches no rewritten-plan cache — `ff_cache` counts the cache
  *    hits plus misses its plans caused, and must read 0;
  *  - the FILTERED top-k (`flt_*`), whose `scan ⋉ feed` subtree the
  *    rewritten-plan cache serves — `flt_hits` counts its warm plans the
  *    cache served, and must read 4.
  * Method: same table staged at F ∈ {512, 2048, 8192} tiny files,
  * tier=auto + storageProfile=cold (the worst probe chain: pqr → pq → sq8
  * fall-through would probe 3 kinds; all-usable pqr stops at one), time
  * `spark.sql(topk).queryExecution.optimizedPlan` with the memo and cache
  * cleared (cold) vs warm (the min of 4), and the filter-free plan with
  * the rule off (`ruleoff_min_s`: Spark's own analysis/optimization cost at
  * F files). Run manually, record in BENCHNOTES:
  * `sbt "runMain graft.tools.PlanLatencyProbe [F ...]"`.
  */
object PlanLatencyProbe {
  def main(args: Array[String]): Unit = {
    val fileCounts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(512, 2048, 8192)
    val spark = graft.Harness.session(defaultCpus = 32)
    import spark.implicits._
    graft.Graft.install(spark)

    val storeDir = java.nio.file.Files.createTempDirectory("graft-planprobe-store").toString
    val store = new IndexStore(storeDir)
    spark.conf.set(VectorTopKRule.IndexDirKey, storeDir)
    spark.conf.set(VectorTopKRule.TierKey, "auto")
    spark.conf.set(VectorTopKRule.StorageProfileKey, "cold")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    val out = Seq.newBuilder[String]
    out += "F\tbuild_s\tff_cold_s\tff_warm_min_s\tflt_cold_s\tflt_warm_min_s\t" +
      "ruleoff_min_s\tff_cache\tflt_hits\ttier"

    fileCounts.foreach { f =>
      val dir = java.nio.file.Files.createTempDirectory(s"graft-planprobe-$f").toString
      val rnd = new scala.util.Random(42)
      (0 until f * 4).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat())))
        .toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .repartition(f).write.mode("overwrite").parquet(dir)
      val (_, buildS) = timed {
        IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), store)
        Sq8Sidecar.ensure(spark, dir, "vec", store)
        PqSidecar.ensure(spark, dir, "vec", m = 4, store)
        PqSidecar.ensure(spark, dir, "vec", m = 4, store, residual = true)
      }
      spark.read.parquet(dir).createOrReplaceTempView(s"plan_probe_$f")
      def sql(where: String) =
        s"""SELECT id FROM plan_probe_$f $where
           |ORDER BY array_distance(vec, array(${Seq.fill(8)("0.5F").mkString(",")})) ASC
           |LIMIT 5""".stripMargin
      def planOnce(where: String): (Option[String], Double) = {
        val (plan, t) = timed(spark.sql(sql(where)).queryExecution.optimizedPlan)
        val tier = plan.collect {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
            s.getTagValue(VectorTopKRule.TierTag)
        }.flatten.headOption
        (tier, t)
      }
      /** (tier, cold plan s, warm plans' s, cache (hits, misses) over all five) */
      def shape(where: String) = {
        IndexStore.clearProbeMemo()
        VectorTopKRule.clearPlanCache()
        val (h0, m0) = VectorTopKRule.planCacheStats
        val (tierCold, cold) = planOnce(where)
        val (tierWarm, warm1) = planOnce(where)
        val warms = warm1 +: (1 to 3).map(_ => planOnce(where)._2)
        val (h1, m1) = VectorTopKRule.planCacheStats
        require(tierCold == tierWarm, s"tier flapped: $tierCold vs $tierWarm")
        (tierCold, cold, warms, (h1 - h0, m1 - m0))
      }
      val (tier, ffCold, ffWarms, (ffHits, ffMisses)) = shape("")
      val ffCache = ffHits + ffMisses
      require(ffCache == 0, s"filter-free plans touched the rewritten-plan cache $ffCache times")
      val (_, fltCold, fltWarms, (fltHits, _)) = shape("WHERE id >= 0")
      require(fltHits == 4, s"rewritten-plan cache served $fltHits of 4 warm filtered plans")
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val base = (1 to 3).map(_ => planOnce("")._2).min
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      out += f"$f%d\t$buildS%.1f\t$ffCold%.3f\t${ffWarms.min}%.3f\t$fltCold%.3f\t" +
        f"${fltWarms.min}%.3f\t$base%.3f\t$ffCache%d\t$fltHits%d\t${tier.getOrElse("none")}"
      println(out.result().last)
    }
    println("== PlanLatencyProbe ==")
    out.result().foreach(println)
    spark.stop()
  }
}
