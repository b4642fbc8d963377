package vecbench

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper

import graft.ivf.{IndexManager, IvfBuilder, KMeans, SelectiveFetch}

object PlanMetrics extends AdaptiveSparkPlanHelper {
  /** Sum of each named SQL metric over the executed plan, adaptive query
    * stages and subqueries included.
    */
  def sums(plan: SparkPlan, names: Seq[String]): Map[String, Long] = {
    val nodes = collectWithSubqueries(plan) { case p => p }
    names.map(n => n -> nodes.flatMap(_.metrics.get(n)).map(_.value).sum).toMap
  }
}

/** Per-layer metrics of a traced run, named `<layer>.<metric>` after
  * graft's modules: `plans` (planner, rewrite rule, plan cache), `ivf.index`
  * (index load, probe, decoded cache), `ivf.fetch` (selective fetch),
  * `ivf.pq` (codebook cache), `ivf.build` (build, k-means, append, extend)
  * and `spark` (jobs, stages and tasks of each request). Writes the spans
  * and derived numbers to the trace file.
  */
final class Layers(
    run: Run, w: Workload, tracer: Tracer, listener: Listener, corpus: Corpus, served: Served,
    args: Main.Args) {
  import Workload._

  private def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.length
  private def frac(h: Long, m: Long): Double = if (h + m == 0) 0.0 else h.toDouble / (h + m)
  private def delta(a: (Long, Long), b: (Long, Long)): (Long, Long) = (b._1 - a._1, b._2 - a._2)

  def metrics(ok: Seq[Req], c0: Run.Caches, c1: Run.Caches, ingestS: Seq[Double]): Seq[(String, Double, String)] = {
    val traced = ok.filter(_.traced)
    val plain = ok.filterNot(_.traced)
    val spans = tracer.all
    val byId = spans.map(s => s.id -> s).toMap
    val byReq = spans.groupBy(_.req)
    // closed loop: throughput = clients / mean latency (Little's law)
    def windowQps(rs: Seq[Req]): Double = if (rs.isEmpty) 0.0 else w.clients * 1000.0 / mean(rs.map(_.ms))

    // Spark work of each traced request: jobs, stages, tasks, driver time
    final case class Work(jobs: Int, stages: Int, tasks: Long, cpuMs: Double, input: Long,
        shuffle: Long, driverMs: Double, waitMs: Long, optimizeMs: Double)
    val work = traced.flatMap(r => byId.get(r.spanId)).map { rs =>
      val kids = byReq.getOrElse(rs.id, Nil)
      val jobs = kids.filter(_.name == "spark.job")
      val t = Option(listener.perReq.get(rs.id)).getOrElse(new listener.TaskSums)
      Work(jobs.length, kids.count(_.name == "spark.stage"), t.tasks, t.cpuNs / 1e6, t.inputBytes,
        t.shuffleBytes, rs.dur - Tracer.covered(jobs.map(j => (j.start, j.end)), rs.start, rs.end),
        t.waitMs, kids.filter(_.name.startsWith("spark.sql.")).flatMap(_.attrs.get("optimization_ms")).sum)
    }

    // set-up build of the served table (last set-up)
    val build = spans.filter(_.name == "setup.build").sortBy(_.start).lastOption
    val (bDriver, bJobs, bCpu) = build.map { b =>
      val jobs = byReq.getOrElse(b.id, Nil).filter(_.name == "spark.job").map(j => (j.start, j.end))
      val jobsMs = Tracer.covered(jobs, b.start, b.end)
      val cpu = Option(listener.perReq.get(b.id)).map(_.cpuNs / 1e9).getOrElse(0.0)
      ((b.dur - jobsMs) / 1000, jobsMs / 1000, cpu)
    }.getOrElse((0.0, 0.0, 0.0))
    def spanMeanS(name: String): Double = mean(spans.filter(_.name == name).map(_.dur / 1000))

    val probes = new Probes(served, ok.filter(_.shape != "filtered").map(_.qkey).distinct.take(16)
      .map(corpus.query))
    val sqlAll = ok.filter(r => SqlShapes.contains(r.shape))
    val sql = traced.filter(r => SqlShapes.contains(r.shape))
    def planSum(n: String): Double = mean(sql.map(_.plan.getOrElse(n, 0L).toDouble))
    val tracedP50 = Stats.mixP50(traced, w.mix)
    val plainP50 = Stats.mixP50(plain, w.mix)
    val decoded = delta(c0.decoded, c1.decoded)
    val probe = delta(c0.probe, c1.probe)
    val codebook = delta(c0.codebook, c1.codebook)

    val m = Seq(
      ("plans.plan_ms_p50", Stats.quantile(traced.map(_.planMs), 0.5), "ms"),
      ("plans.optimize_ms_p50", Stats.quantile(work.map(_.optimizeMs), 0.5), "ms"),
      ("plans.plan_cache_hit_frac",
        if (sqlAll.isEmpty) 0.0 else (c1.plan._1 - c0.plan._1).toDouble / sqlAll.length, "fraction"),
      ("plans.rewrite_fired_frac", if (sql.isEmpty) 0.0 else sql.count(_.fired).toDouble / sql.length, "fraction"),
      ("plans.candidate_rows_per_query", planSum("candidateRows"), "count"),
      ("plans.embeddings_fetched_per_query", planSum("embeddingsFetched"), "count"),
      ("plans.files_scanned_per_query", planSum("filesScanned"), "count"),
      ("ivf.index.load_ms", probes.loadMs, "ms"),
      ("ivf.index.probe_us", probes.probeUs, "us"),
      ("ivf.index.candidate_frac", probes.candidateFrac, "fraction"),
      ("ivf.index.decoded_cache_hit_frac", frac(decoded._1, decoded._2), "fraction"),
      ("ivf.index.probe_memo_hit_frac", frac(probe._1, probe._2), "fraction"),
      ("ivf.pq.codebook_cache_hit_frac", frac(codebook._1, codebook._2), "fraction"),
      ("ivf.fetch.ms_per_query", probes.fetchMs, "ms"),
      ("ivf.fetch.row_groups_per_query", probes.rowGroups, "count"),
      ("ivf.build.driver_s", bDriver, "s"),
      ("ivf.build.jobs_s", bJobs, "s"),
      ("ivf.build.tasks_cpu_s", bCpu, "s"),
      ("ivf.build.kmeans_fit_s", kmeansFitS(), "s"),
      ("ivf.build.append_s", spanMeanS("ingest.append"), "s"),
      ("ivf.build.extend_s", spanMeanS("ingest.extend"), "s"),
      // the first batch runs cold code paths; the rate is the steady one
      ("ivf.build.ingest_rows_per_s", BatchRows / Stats.quantile(ingestS.drop(1), 0.5), "rows/s"),
      ("spark.jobs_per_query", mean(work.map(_.jobs.toDouble)), "count"),
      ("spark.stages_per_query", mean(work.map(_.stages.toDouble)), "count"),
      ("spark.tasks_per_query", mean(work.map(_.tasks.toDouble)), "count"),
      ("spark.executor_cpu_ms_per_query", mean(work.map(_.cpuMs)), "ms"),
      ("spark.input_bytes_per_query", mean(work.map(_.input.toDouble)), "bytes"),
      ("spark.shuffle_bytes_per_query", mean(work.map(_.shuffle.toDouble)), "bytes"),
      ("spark.driver_ms_per_query", mean(work.map(_.driverMs)), "ms"),
      ("spark.scheduler_wait_ms_per_query", mean(work.map(_.waitMs.toDouble)), "ms"),
      ("trace.query_p50_ms", tracedP50, "ms"),
      ("trace.qps", windowQps(traced), "queries/s"),
      ("trace.p50_overhead_frac", if (plainP50 > 0) tracedP50 / plainP50 - 1 else 0.0, "fraction"),
      ("trace.qps_overhead_frac", if (plain.isEmpty) 0.0 else 1 - windowQps(traced) / windowQps(plain),
        "fraction"))

    // shape latencies and self time per span name: trace file and log only
    val self = Tracer.selfTimes(spans)
    val selfByName = spans.groupBy(_.name).map { case (n, ss) => n -> ss.map(s => self(s.id)).sum }
    val shapeP50 = ok.groupBy(_.shape).map { case (sh, rs) => sh -> Stats.quantile(rs.map(_.ms), 0.5) }
    shapeP50.toSeq.sorted.foreach { case (sh, v) => run.say(f"shape.$sh.p50_ms $v%.2f") }
    selfByName.toSeq.sortBy(-_._2).take(10).foreach { case (n, v) =>
      run.say(f"self time $n%-22s $v%10.1f ms") }
    def entry(n: String, v: Double, u: String) = s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}"""
    val derived = (m.map { case (n, v, u) => entry(n, v, u) } ++
      shapeP50.toSeq.sorted.map { case (sh, v) => entry(s"shape.$sh.p50_ms", v, "ms") } ++
      selfByName.toSeq.sorted.map { case (n, v) => entry(s"self_ms.$n", v, "ms") }).mkString("{", ",", "}")
    val file = java.nio.file.Paths.get(args.out).toAbsolutePath.resolve(s"trace-${w.name}-seed${args.seed}.json")
    Files.write(file, tracer.json(derived).getBytes("UTF-8"))
    run.say(s"${spans.length} spans written to $file")
    m
  }

  /** `KMeans.fit` on a seeded sample of the build's size and parameters. */
  private def kmeansFitS(): Double = {
    val k = served.nClusters
    val n = w.rows
    val sample = math.min(math.max(n / 20, k.toLong), IvfBuilder.MaxTrainSample).toInt
    val flat = new Array[Float](sample * Dim)
    (0 until sample).foreach(i =>
      System.arraycopy(corpus.vector(i * (n / sample)), 0, flat, i * Dim, Dim))
    val t = System.nanoTime()
    KMeans.fit(flat, Dim, KMeans.Params(k, IvfBuilder.Config("emb").maxIters, IvfBuilder.Config("emb").seed))
    (System.nanoTime() - t) / 1e9
  }
}

/** Direct timing of graft's index and fetch layers, from outside, on query
  * vectors the loop sent.
  */
final class Probes(served: Served, queries: Seq[Array[Float]]) {
  import Workload.Nprobe

  private val files = IndexManager.listFiles(SparkSession.active, served.dir)
  // IndexStore.load reads and decodes the sidecar, bypassing the LRU
  private val (indexes, loadTimes) = files.map { f =>
    val t = System.nanoTime()
    val idx = served.store.load(f, "emb").getOrElse(throw new IllegalStateException(s"no index for $f"))
    (idx, (System.nanoTime() - t) / 1e6)
  }.unzip
  val loadMs: Double = loadTimes.sum / loadTimes.length

  private val cands: Seq[Seq[Array[Int]]] = queries.map(q => indexes.map(_.candidateRows(q, Nprobe)))

  /** Mean `candidateRows(q, nprobe)` time per file per query. */
  val probeUs: Double = {
    val t = System.nanoTime()
    queries.foreach(q => indexes.foreach(_.candidateRows(q, Nprobe)))
    (System.nanoTime() - t) / 1e3 / math.max(1, queries.length * indexes.length)
  }

  val candidateFrac: Double = {
    val rows = indexes.map(_.numRows).sum.toDouble
    if (queries.isEmpty) 0.0
    else queries.map(q => indexes.map(_.candidateCount(q, Nprobe)).sum / rows).sum / queries.length
  }

  /** Distinct parquet row groups holding each query's candidates, from
    * the files' footers.
    */
  val rowGroups: Double = {
    val starts = files.map { f =>
      val in = org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(new java.net.URI(f)), new org.apache.hadoop.conf.Configuration())
      val reader = org.apache.parquet.hadoop.ParquetFileReader.open(in)
      try reader.getFooter.getBlocks.asScala.map(_.getRowCount).scanLeft(0L)(_ + _).toArray
      finally reader.close()
    }
    def group(s: Array[Long], o: Int): Int = {
      val i = java.util.Arrays.binarySearch(s, o.toLong)
      if (i >= 0) i else -i - 2
    }
    if (queries.isEmpty) 0.0
    else cands.map(_.zip(starts).map { case (c, s) => c.map(group(s, _)).distinct.length }.sum).sum.toDouble /
      queries.length
  }

  /** `SelectiveFetch.embeddings` over every file's candidates, per query. */
  val fetchMs: Double = {
    val sample = cands.take(4)
    val t = System.nanoTime()
    sample.foreach(perFile => files.zip(perFile).foreach { case (f, c) => SelectiveFetch.embeddings(f, "emb", c) })
    if (sample.isEmpty) 0.0 else (System.nanoTime() - t) / 1e6 / sample.length
  }
}
