package graft.tools

/** Run named registry queries and keep their plans: each entry runs once
  * (so AQE-final shapes — join strategy, coalesced reads — are what the
  * plan shows), its `explain("formatted")` goes to
  * `plans/<tag>/<query>_<suffix>.txt` — the before/after plan evidence an
  * optimization round commits next to its writeup — and one line per entry
  * prints the plan audit and the run's wall time:
  * `== <query> exchanges=… bhj=… smj=… wscg=… scans=… sec=…`.
  * The audit counts string-match the executed plan, whose text holds both
  * the final and the "Initial Plan" sections, so they read about 2× the
  * real number — compare entries against each other.
  * Usage: `sbt "runMain graft.tools.Plans r14 before cq7_crawl_discovery ..."`
  * Env: SPARK_GRAFT_SF_DIR (required: the scale-factor dir the entries
  * read), SPARK_GRAFT_CPUS (default 8). Plans over `MaxBytes` are truncated
  * with a marker line (a pathological expression tree IS the evidence;
  * megabytes of it are not).
  */
object Plans {
  private val MaxBytes = 400 * 1024

  def main(args: Array[String]): Unit = {
    require(args.length >= 3, "usage: Plans <roundTag> <suffix> <query>...")
    val (tag, suffix, names) = (args(0), args(1), args.drop(2).toSeq)
    val sf = sys.env.getOrElse("SPARK_GRAFT_SF_DIR",
      sys.error("set SPARK_GRAFT_SF_DIR to the scale-factor dir the entries read"))
    val spark = graft.Harness.session(defaultCpus = 8, logLevel = "ERROR")
    graft.Graft.install(spark)
    val dir = java.nio.file.Paths.get("plans", tag)
    java.nio.file.Files.createDirectories(dir): Unit
    graft.Harness.eachEntry(spark, "plans", graft.Harness.select(names)) { name =>
      val df = graft.SparkEntry.queries(name)(spark, sf)
      val sec = graft.BenchTiming.time(graft.BenchTiming.materialize(df))
      val full =
        s"-- $name ($suffix, sf=$sf)\n" +
          df.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
      val text =
        if (full.length <= MaxBytes) full
        else full.take(MaxBytes) +
          s"\n... [TRUNCATED: full plan text was ${full.length} bytes]\n"
      java.nio.file.Files.write(
        dir.resolve(s"${name}_$suffix.txt"), text.getBytes("UTF-8")): Unit
      val p = df.queryExecution.executedPlan.toString
      def n(pat: String) = pat.r.findAllIn(p).length
      println(s"== $name exchanges=${n("Exchange hashpartitioning")} " +
        s"bhj=${n("BroadcastHashJoin")} smj=${n("SortMergeJoin")} " +
        f"wscg=${n("\\*\\([0-9]+\\)")} scans=${n("FileScan|BatchScan")} sec=$sec%.3f")
    }: Unit
    spark.stop()
  }
}
