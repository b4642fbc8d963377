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
  * not multiply it). The claim to pin: with the memo, a repeat plan costs
  * stat calls only — second-query planning latency is dominated by Spark's
  * own file-listing/analysis and grows far slower than the cold O(F) probe
  * cost. Every warm plan is served by the rewritten-plan cache before any
  * probe-memo lookup, so `planhits` (which must read 4, one per warm plan)
  * is the warm-path counter. Method: same table staged at F ∈ {512, 2048, 8192} tiny files,
  * tier=auto + storageProfile=cold (the worst probe chain: pqr → pq → sq8
  * fall-through would probe 3 kinds; all-usable pqr stops at one), time
  * `spark.sql(topk).queryExecution.optimizedPlan` with the memo cleared
  * (cold) vs warm. Run manually, record in BENCHNOTES:
  * `sbt "runMain graft.tools.PlanLatencyProbe"`.
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
    out += "F\tbuild_s\tcold_plan_s\twarm_plan_s\twarm_min_s\truleoff_min_s\tplanhits\ttier"

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
      val sql =
        s"""SELECT id FROM plan_probe_$f
           |ORDER BY array_distance(vec, array(${Seq.fill(8)("0.5F").mkString(",")})) ASC
           |LIMIT 5""".stripMargin
      def planOnce(): (Option[String], Double) = {
        val (plan, t) = timed(spark.sql(sql).queryExecution.optimizedPlan)
        val tier = plan.collect {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
            s.getTagValue(VectorTopKRule.TierTag)
        }.flatten.headOption
        (tier, t)
      }
      IndexStore.clearProbeMemo()
      VectorTopKRule.clearPlanCache()
      val (tierCold, cold) = planOnce()
      val (ph0, _) = VectorTopKRule.planCacheStats
      val (tierWarm, warm1) = planOnce()
      val warms = warm1 +: (1 to 3).map(_ => planOnce()._2)
      val (ph1, _) = VectorTopKRule.planCacheStats
      require(tierCold == tierWarm, s"tier flapped: $tierCold vs $tierWarm")
      // the r13 rewritten-plan cache must serve EVERY warm plan (4 of them)
      require(ph1 - ph0 == 4,
        s"rewritten-plan cache served ${ph1 - ph0} of 4 warm plans")
      // baseline: the rule OFF — Spark's own analysis/optimization cost for
      // the same query at F files; the memo's residual warm overhead is
      // (warm_min − base_min), to separate "the memo is O(F)" from "any
      // plan over F files is O(F) in Spark itself"
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val base = (1 to 3).map(_ => planOnce()._2).min
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      out += f"$f%d\t$buildS%.1f\t$cold%.3f\t$warm1%.3f\t${warms.min}%.3f\t$base%.3f\t${ph1 - ph0}%d\t${tierCold.getOrElse("none")}"
      println(out.result().last)
    }
    println("== PlanLatencyProbe ==")
    out.result().foreach(println)
    spark.stop()
  }
}
