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
  * `src/df_vector/index_exec.rs:96-143`, so plan time must not multiply
  * it). The claim to pin: a warm plan costs stat calls plus the feed's
  * construction, flat in F, for both shapes the rule plans — the
  * FILTER-FREE top-k (`ff_*`) and the FILTERED top-k (`flt_*`). Neither is
  * cached, so a plan for a NEW query vector (`*_new_s`) should cost what a
  * repeat of the same vector (`*_warm_s`) does.
  * Method: same table staged at F ∈ {512, 2048, 8192} tiny files, one row
  * per requested tier: `auto` with storageProfile=cold (the worst probe
  * chain: pqr → pq → sq8 fall-through would probe 3 kinds; all-usable pqr
  * stops at one) and `float`; the filtered shape runs the float feed
  * under either, without the `filteredTier` opt-in. Time
  * `spark.sql(topk).queryExecution.optimizedPlan` with the probe memo
  * cleared (cold), then the median of 15 repeats of that query and of 15
  * plans each with a new query vector, and the filter-free plan with the
  * rule off (`ruleoff_min_s`: Spark's own analysis/optimization cost at F
  * files). Run manually, record in BENCHNOTES:
  * `sbt "runMain graft.tools.PlanLatencyProbe [F ...]"`.
  */
object PlanLatencyProbe {
  private val Warm = 15

  def main(args: Array[String]): Unit = {
    val fileCounts = if (args.nonEmpty) args.map(_.toInt).toSeq else Seq(512, 2048, 8192)
    val spark = graft.Harness.session(defaultCpus = 32)
    import spark.implicits._
    graft.Graft.install(spark)

    val storeDir = java.nio.file.Files.createTempDirectory("graft-planprobe-store").toString
    val store = new IndexStore(storeDir)
    spark.conf.set(VectorTopKRule.IndexDirKey, storeDir)
    spark.conf.set(VectorTopKRule.StorageProfileKey, "cold")

    def timed[T](f: => T): (T, Double) = {
      val t0 = System.nanoTime(); val r = f; (r, (System.nanoTime() - t0) / 1e9)
    }
    def median(xs: Seq[Double]): Double = xs.sorted.apply(xs.size / 2)
    val vectors = new scala.util.Random(7)
    val out = Seq.newBuilder[String]
    out += "F\tbuild_s\tff_cold_s\tff_warm_s\tff_new_s\tflt_cold_s\tflt_warm_s\tflt_new_s\t" +
      "ruleoff_min_s\trequested\ttier"

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
      def sql(where: String, q: Seq[Float]) =
        s"""SELECT id FROM plan_probe_$f $where
           |ORDER BY array_distance(vec, array(${q.map(v => s"${v}F").mkString(",")})) ASC
           |LIMIT 5""".stripMargin
      val fixed = Seq.fill(8)(0.5f)
      def planOnce(where: String, q: Seq[Float] = fixed): (Option[String], Double) = {
        val (plan, t) = timed(spark.sql(sql(where, q)).queryExecution.optimizedPlan)
        val tier = plan.collect {
          case s: org.apache.spark.sql.catalyst.plans.logical.Sort =>
            s.getTagValue(VectorTopKRule.TierTag)
        }.flatten.headOption
        (tier, t)
      }
      /** (tier, cold plan s, median repeat plan s, median new-vector plan s) */
      def shape(where: String) = {
        IndexStore.clearProbeMemo()
        val (tierCold, cold) = planOnce(where)
        val (tierWarm, _) = planOnce(where)
        require(tierCold == tierWarm, s"tier flapped: $tierCold vs $tierWarm")
        val repeat = median((1 to Warm).map(_ => planOnce(where)._2))
        val fresh = median((1 to Warm).map(_ => planOnce(where, Seq.fill(8)(vectors.nextFloat()))._2))
        (tierCold, cold, repeat, fresh)
      }
      val rows = Seq("auto", "float").map { requested =>
        spark.conf.set(VectorTopKRule.TierKey, requested)
        (requested, shape(""), shape("WHERE id >= 0"))
      }
      spark.conf.set(VectorTopKRule.EnabledKey, "false")
      val base = (1 to 3).map(_ => planOnce("")._2).min
      spark.conf.set(VectorTopKRule.EnabledKey, "true")
      rows.foreach { case (requested, (tier, ffCold, ffWarm, ffNew), (_, fltCold, fltWarm, fltNew)) =>
        out += f"$f%d\t$buildS%.1f\t$ffCold%.3f\t$ffWarm%.3f\t$ffNew%.3f\t$fltCold%.3f\t" +
          f"$fltWarm%.3f\t$fltNew%.3f\t$base%.3f\t$requested\t${tier.getOrElse("none")}"
        println(out.result().last)
      }
    }
    println("== PlanLatencyProbe ==")
    out.result().foreach(println)
    spark.stop()
  }
}
