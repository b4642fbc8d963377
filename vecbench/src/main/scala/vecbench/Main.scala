package vecbench

import java.nio.file.{Files, Path, Paths}
import java.util.concurrent.atomic.AtomicInteger

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

import graft.ivf.{IndexManager, IndexStore, IvfBuilder, PqSidecar, Sq8Sidecar, VectorTopK}
import graft.plans.VectorTopKRule

/** Vector-search benchmark over graft's user-facing surfaces: the SQL
  * top-k rewrite, the `VectorTopK` API, and `IvfBuilder.build`/`extend`.
  *
  * `vecbench.Main --workload <name> --seed <n> --seconds <s> --trace <0|1>
  * --work <dir> --out <dir>` prints progress lines, then one JSON result
  * line: the end-to-end metrics with `--trace 0`, the per-layer metrics
  * with `--trace 1` (spans go to `<out>/trace-<workload>-seed<n>.json`).
  * The work directory is deleted at the end.
  * Exits 1 when any correctness check fails.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, seconds: Int, trace: Boolean, work: String, out: String)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    def need(k: String) = m.getOrElse(k, throw new IllegalArgumentException(s"missing --$k"))
    Args(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", m.getOrElse("work", "vecbench/work"), m.getOrElse("out", "vecbench/out"))
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    if (!new Run(Workload.byName(args.workload), args).run()) sys.exit(1)
  }
}

/** Outcome of one request. `ids` are row ids, except for the `search`
  * shape, whose answer is file-local row ordinals.
  */
final case class Req(
    r: Int, shape: String, qkey: Long, start: Double, end: Double, traced: Boolean,
    ids: Array[Long], dists: Array[Float], spanId: Long = 0L,
    planMs: Double = 0, fired: Boolean = false, plan: Map[String, Long] = Map.empty,
    error: Boolean = false) {
  def ms: Double = end - start
}

/** The table a run serves: data directory, index store, cell count, and
  * the build configuration set-up indexed it with.
  */
final case class Served(dir: String, store: IndexStore, nClusters: Int, cfg: IvfBuilder.Config)

final class Run(w: Workload, args: Main.Args) {
  import Workload._

  private val nproc = Runtime.getRuntime.availableProcessors()
  private val corpus = Corpus(args.seed, Dim, Blobs, CenterScale, Labels)
  private val work = Paths.get(args.work).toAbsolutePath
  private val tracer = new Tracer(args.trace)
  private val off = new Tracer(false)
  private val failures = ArrayBuffer.empty[String]
  private val attempted = new AtomicInteger(0)
  private val born = System.nanoTime()

  private[vecbench] def say(s: String): Unit = {
    println(f"[vecbench ${secs(born)}%6.1fs] $s"); Console.flush()
  }
  private def fail(s: String): Unit = failures.synchronized { failures += s; say(s"FAIL $s") }
  private def secs(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private def files(p: String): Seq[Path] =
    Files.walk(Paths.get(p)).iterator().asScala.filter(Files.isRegularFile(_)).toSeq
  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) Files.walk(p).iterator().asScala.toSeq.reverse.foreach(Files.delete)

  /** Bytes of live objects on the driver heap, in MiB, as a class
    * histogram counts them after its full collection. The heap's used
    * bytes after `System.gc()` read about 10 MiB more in some runs than in
    * others whose histograms matched. Each collection lets Spark's cleaner
    * drop the blocks of broadcasts the previous one found unreachable, so
    * collections repeat until the count stops shrinking by more than 1 MiB.
    */
  private def retainedHeapMb(): Double = {
    def collect(): Long = {
      val histogram = java.lang.management.ManagementFactory.getPlatformMBeanServer.invoke(
        new javax.management.ObjectName("com.sun.management:type=DiagnosticCommand"),
        "gcClassHistogram", Array[AnyRef](Array.empty[String]), Array(classOf[Array[String]].getName))
      Thread.sleep(200)
      // the last line is "Total <instances> <bytes>"
      histogram.toString.linesIterator.map(_.trim).filter(_.startsWith("Total")).toSeq.last
        .split("\\s+")(2).toLong
    }
    var prev = collect()
    var cur = collect()
    var rounds = 2
    while (rounds < 8 && prev - cur > (1L << 20)) { prev = cur; cur = collect(); rounds += 1 }
    cur / 1048576.0
  }

  // ── session and set-up ─────────────────────────────────────────────────

  private def session(): SparkSession =
    SparkSession.builder()
      .master(s"local[$nproc]")
      .appName(s"vecbench-${w.name}")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.shuffle.partitions", nproc.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      // bound the driver's job and query history, so the retained heap
      // reflects graft's state rather than how many requests a run sent
      .config("spark.ui.retainedJobs", "100")
      .config("spark.ui.retainedStages", "100")
      .config("spark.sql.ui.retainedExecutions", "50")
      .getOrCreate()

  /** Decoded size of the table's IVF index as graft's cache accounts it:
    * per file a centroid copy plus 16 bytes per posting list, plus 4
    * bytes per row; k is the builder's default ⌈√rows⌉.
    */
  private def decodedIndexBytes: Long = {
    val k = math.ceil(math.sqrt(w.rows.toDouble)).toLong
    w.files * (4L * k * Dim + 16L * k) + 4L * w.rows
  }

  /** One complete set-up into fresh directories: (seconds, seconds of the
    * served table's build, served table).
    */
  private def setupOnce(spark: SparkSession, raw: String, rep: Int): (Double, Double, Served) = {
    val t0 = System.nanoTime()
    val store = new IndexStore(work.resolve(s"store-$rep").toString)
    val cfg = IvfBuilder.Config("emb")
    def build(dir: String, c: IvfBuilder.Config) = {
      val tb = System.nanoTime()
      val b = tracer.span("setup.build", request = true)(IvfBuilder.build(spark, dir, c, store))
      (secs(tb), Served(dir, store, b.nClusters, c))
    }
    val (buildS, served) =
      if (!w.byCell) build(raw, cfg)
      else {
        // cluster, rewrite in cell order, re-index with the same centroids
        val first = tracer.span("setup.build.raw", request = true) {
          IvfBuilder.build(spark, raw, cfg, new IndexStore(work.resolve(s"store-raw-$rep").toString))
        }
        val dir = work.resolve(s"bycell-$rep").toString
        tracer.span("setup.layout", request = true) {
          graft.ops.Layout.writeByCell(spark.read.parquet(raw), dir, "emb", first.centroids, Dim, w.files)
        }
        build(dir, cfg.copy(warmStart = Some(first.centroids)))
      }
    if (w.quantized) {
      tracer.span("setup.sq8", request = true)(Sq8Sidecar.ensure(spark, served.dir, "emb", store))
      tracer.span("setup.pq", request = true)(
        PqSidecar.ensure(spark, served.dir, "emb", PqSubspaces, store))
    }
    (secs(t0), buildS, served)
  }

  // ── requests ───────────────────────────────────────────────────────────

  private def sqlText(shape: String, q: Array[Float], k: Int): String = {
    val where = if (shape == "filtered") s"WHERE label >= $LabelMin " else ""
    // the ORDER BY repeats the distance expression: the rule does not
    // match an ORDER BY on its select-list alias
    val dist = q.map(f => java.lang.Float.toString(f) + "F")
      .mkString("array_distance(emb, array(", ",", "))")
    s"SELECT id, $dist AS dist FROM vecs ${where}ORDER BY $dist LIMIT $k"
  }

  private def tierOf(shape: String): String = shape match {
    case "sq8" | "pq" => shape
    case _ => "float"
  }

  /** Runs one request of `shape` for query vector `q` on session `s`, whose
    * `vecs` view is the served table. SQL shapes: plan, then execute; API
    * shapes: construct (which may run jobs), plan, execute.
    */
  private def request(
      s: SparkSession, served: Served, shape: String, q: Array[Float], k: Int,
      t: Tracer, r: Int, qkey: Long, nprobe: Int = Nprobe): Req = {
    var spanId = 0L
    var planMs = 0.0
    var fired = false
    var planSums = Map.empty[String, Long]
    def planned(qe: org.apache.spark.sql.execution.QueryExecution): Unit = {
      t.own(qe)
      val p0 = t.now()
      t.span("plan")(qe.executedPlan)
      planMs = t.now() - p0
    }
    val start = t.now()
    val (ids, dists) = t.span(s"request.$shape", request = true) {
      spanId = t.currentReq
      if (shape == "search" || shape == "indexed") {
        val opts = VectorTopK.Options(nprobe)
        if (shape == "search") {
          val ds = t.span("construct")(
            VectorTopK.search(s, served.dir, "emb", q.toSeq, k, opts, served.store))
          planned(ds.queryExecution)
          val rows = t.span("execute")(ds.collect())
          (rows.map(_.row_idx), rows.map(_.distance))
        } else {
          val df = t.span("construct")(
            VectorTopK.indexed(s, served.dir, "emb", q.toSeq, k, opts, None, served.store))
          planned(df.queryExecution)
          val rows = t.span("execute")(df.collect())
          (rows.map(_.getAs[Long]("id")), rows.map(row => Run.l2(row.getAs[scala.collection.Seq[Float]]("emb"), q)))
        }
      } else {
        s.conf.set(VectorTopKRule.TierKey, tierOf(shape))
        s.conf.set(VectorTopKRule.NprobeKey, nprobe.toString)
        val df = s.sql(sqlText(shape, q, k))
        planned(df.queryExecution)
        val rows = t.span("execute")(df.collect())
        if (t.enabled) {
          fired = graft.Graft.tierResolution(df).isDefined
          planSums = PlanMetrics.sums(df.queryExecution.executedPlan,
            Seq("candidateRows", "embeddingsFetched", "filesScanned"))
        }
        (rows.map(_.getLong(0)), rows.map(_.getFloat(1)))
      }
    }
    Req(r, shape, qkey, start, t.now(), t.enabled, ids, dists, spanId, planMs, fired, planSums)
  }

  private def clientSession(spark: SparkSession, served: Served): SparkSession = {
    val s = spark.newSession()
    s.conf.set(VectorTopKRule.IndexDirKey, served.store.dir)
    s.conf.set(VectorTopKRule.NprobeKey, Nprobe.toString)
    s.read.parquet(served.dir).createOrReplaceTempView("vecs")
    if (args.trace) s.listenerManager.register(new PhaseListener(tracer))
    s
  }

  // ── the run ────────────────────────────────────────────────────────────

  def run(): Boolean = {
    deleteTree(work)
    Files.createDirectories(work)
    val loadAvg = java.lang.management.ManagementFactory.getOperatingSystemMXBean.getSystemLoadAverage
    // graft reads the cache budget once, when IndexManager initializes
    w.cacheFrac.foreach(f =>
      System.setProperty("graft.index.cacheBytes", (decodedIndexBytes * f).toLong.toString))
    val tSession = System.nanoTime()
    val spark = tracer.span("setup.session")(session())
    val sessionS = secs(tSession)
    tracer.sc = spark.sparkContext
    spark.sparkContext.setLogLevel("ERROR")
    val listener = new Listener(tracer)
    if (args.trace) spark.sparkContext.addSparkListener(listener)
    try runWith(spark, sessionS, loadAvg, listener)
    finally {
      spark.stop()
      deleteTree(work)
    }
  }

  private def runWith(spark: SparkSession, sessionS: Double, loadAvg: Double, listener: Listener): Boolean = {
    val raw = work.resolve("raw").toString
    corpus.write(spark, raw, 0, w.rows, w.files)
    say("input written")

    // set-up, several times into fresh directories; the last one is served
    val reps = (1 to w.setupReps).map(i => setupOnce(spark, raw, i))
    val served = reps.last._3
    (1 to w.setupReps).foreach { i =>
      deleteTree(work.resolve(s"store-raw-$i"))
      if (i < w.setupReps) { deleteTree(work.resolve(s"store-$i")); deleteTree(work.resolve(s"bycell-$i")) }
    }
    val setupS = sessionS + Stats.quantile(reps.map(_._1), 0.5)
    say(f"set-up: session $sessionS%.2f s, reps ${reps.map(r => f"${r._1}%.2f").mkString(" ")} s, " +
      f"builds ${reps.map(r => f"${r._2}%.2f").mkString(" ")} s, ${served.nClusters} cells")
    val heapSetup = retainedHeapMb()

    val sessions = (0 until w.clients).map(_ => clientSession(spark, served))
    // warm-up: a closed loop over every shape until JIT and caches settle,
    // with vectors outside the measured stream
    val warmUntil = System.nanoTime() + (WarmSeconds * 1e9).toLong
    Run.parallel(sessions.zipWithIndex.map { case (s, c) => () =>
      var i = 0
      while (i < w.shapes.length || System.nanoTime() < warmUntil) {
        val shape = w.shapes(i % w.shapes.length)
        val j = Run.WarmBase + c * 10000 + i
        try request(s, served, shape, corpus.query(j), K, off, -1, j)
        catch { case e: Exception => fail(s"warm-up $shape: $e") }
        i += 1
      }
    })
    say("warm-up done")

    // ── measured closed loop ──
    val stream = new RequestStream(args.seed, w)
    val counter = new AtomicInteger(0)
    val done = new java.util.concurrent.ConcurrentLinkedQueue[Req]()
    val cache0 = Run.caches()
    val t0 = tracer.now()
    val runMs = args.seconds * 1000.0
    // a traced run traces every other request, so the traced and untraced
    // halves see the same phase of the JIT's warm-up and of the host's load
    def traced(r: Int): Boolean = args.trace && r % 2 == 1
    Run.parallel(sessions.map { s => () =>
      var now = tracer.now()
      while (now < t0 + runMs) {
        val r = counter.getAndIncrement()
        val (shape, qkey) = stream(r)
        attempted.incrementAndGet()
        done.add(
          try request(s, served, shape, corpus.query(qkey), K, if (traced(r)) tracer else off, r, qkey)
          catch {
            case e: Exception =>
              fail(s"request $r ($shape): $e")
              Req(r, shape, qkey, now, tracer.now(), false, Array.empty, Array.empty, error = true)
          })
        now = tracer.now()
      }
    })
    val cache1 = Run.caches()
    val reqs = done.asScala.toSeq.sortBy(_.r)
    val ok = reqs.filterNot(_.error)
    val loopS = (ok.map(_.end).maxOption.getOrElse(t0 + runMs) - t0) / 1000.0
    val heapAfterLoop = retainedHeapMb()
    val indexRatio =
      files(served.store.dir).map(Files.size).sum.toDouble /
        files(served.dir).filter(_.toString.endsWith(".parquet")).map(Files.size).sum
    say(s"loop done: ${reqs.length} requests in ${f"$loopS%.2f"} s")

    // ── exactness spot checks, builds, then appends with freshness probes ──
    val spots = spotChecks(sessions, served)
    // set-up's builds run in a JVM still warming up; these run after the loop
    val builds = (1 to Builds).map(i => rebuild(spark, served, i))
    // the serving state again, before the appends change it: in about one
    // run in ten a single reading held 16 MiB more live objects
    val heapLoop = math.min(heapAfterLoop, retainedHeapMb())
    val ingest = (0 until Batches).flatMap(b => ingestBatch(sessions.head, served, b))
    if (args.trace) listener.drain()
    say(f"checks and appends done: appends ${ingest.map(x => f"$x%.2f").mkString(" ")} s, " +
      f"builds ${builds.map(x => f"$x%.2f").mkString(" ")} s, heap $heapSetup%.1f $heapLoop%.1f MiB")

    // ── ground truth (benchmark code only): recall and exactness ──
    val check = new Check(spark, served, corpus, w.rows)
    val recall = check.recall(ok.filter(_.shape != "filtered"))
    spots.foreach { case (shape, req) =>
      check.exactness(req).fold(say(s"exact $shape: 100/100 at nprobe ${served.nClusters}"))(m =>
        fail(s"exactness $shape: $m"))
    }

    val lat = ok.map(_.ms)
    // every measured request: its shape, start (ms into the loop) and latency
    Files.createDirectories(Paths.get(args.out))
    Files.writeString(Paths.get(args.out, s"requests-${w.name}-seed${args.seed}.json"),
      ok.map(q => f"""{"r":${q.r},"shape":${Json.str(q.shape)},"at":${q.start - t0}%.1f,"ms":${q.ms}%.2f}""")
        .mkString("[\n", ",\n", "\n]\n"))
    // a loop completes about 60 requests: p80 is the highest percentile
    // with at least 10 of them beyond it
    val e2e = Seq(
      ("query_p50_ms", Stats.mixP50(ok, w.mix), "ms"),
      ("query_p80_ms", Stats.quantile(lat, 0.8), "ms"),
      ("qps", ok.length / loopS, "queries/s"),
      ("recall_at_100", recall, "fraction"),
      ("setup_s", setupS, "s"),
      ("build_s", Stats.quantile(builds, 0.5), "s"),
      ("index_bytes_per_data_byte", indexRatio, "ratio"),
      ("heap_peak_mb", math.max(heapSetup, heapLoop), "MiB"))
    val failed = failures.length
    val total = math.max(attempted.get(), 1)
    say(s"host: nproc $nproc, load average ${f"$loadAvg%.2f"} at start; ${w.name} seed ${args.seed}: " +
      s"${ok.length} queries (${lat.count(_ > Stats.quantile(lat, 0.8))} beyond p80), " +
      s"${reqs.length - ok.length} errors")
    w.shapes.foreach { sh =>
      val l = ok.filter(_.shape == sh).map(_.ms)
      say(f"shape $sh%-9s n=${l.length}%4d p50=${Stats.quantile(l, 0.5)}%8.2f ms")
    }
    say(f"failed_frac ${failed.toDouble / total}%.4f ($failed of $total operations)")
    e2e.foreach { case (n, v, u) => say(f"$n%-26s $v%14.4f $u") }

    val metrics =
      if (!args.trace) e2e
      else new Layers(this, w, tracer, listener, corpus, served, args).metrics(ok, cache0, cache1, ingest)
    val correct = failed == 0 && ok.nonEmpty
    val body = metrics.map { case (n, v, u) =>
      s"""${Json.str(n)}:{"value":${Json.num(v)},"unit":${Json.str(u)}}""" }.mkString(",")
    println(s"""{"correct":$correct,"attempted":$total,"failed":$failed,"metrics":{$body}}""")
    correct
  }

  /** Times one more `IvfBuilder.build` of the served table, configured
    * as set-up built it, into a throwaway store.
    */
  private def rebuild(spark: SparkSession, served: Served, i: Int): Double = {
    val store = new IndexStore(work.resolve(s"store-rebuild-$i").toString)
    val t0 = System.nanoTime()
    IvfBuilder.build(spark, served.dir, served.cfg, store)
    val s = secs(t0)
    deleteTree(Paths.get(store.dir))
    s
  }

  /** One query per shape at graft's exact settings: nprobe = nClusters,
    * and for the quantized tiers an oversample that covers the table. The
    * shapes are spread over the client sessions, which run in parallel.
    */
  private def spotChecks(sessions: Seq[SparkSession], served: Served): Seq[(String, Req)] = {
    val out = new java.util.concurrent.ConcurrentHashMap[Int, (String, Req)]()
    Run.parallel(sessions.indices.map { c => () =>
      val s = sessions(c)
      s.conf.set(VectorTopKRule.OversampleKey, ((w.rows + K - 1) / K).toString)
      try w.shapes.indices.filter(_ % sessions.length == c).foreach { i =>
        val shape = w.shapes(i)
        val qkey = Run.SpotBase + i
        attempted.incrementAndGet()
        try out.put(i, shape -> request(s, served, shape, corpus.query(qkey), K, off, -1, qkey,
          nprobe = served.nClusters))
        catch { case e: Exception => fail(s"exactness $shape: $e") }
      } finally s.conf.unset(VectorTopKRule.OversampleKey)
    })
    out.asScala.toSeq.sortBy(_._1).map(_._2)
  }

  /** Appends batch `b` and extends the index over it, then checks
    * freshness: a top-1 query for a just-appended vector must return that
    * row. Returns the append-plus-extend seconds.
    */
  private def ingestBatch(s: SparkSession, served: Served, b: Int): Option[Double] = {
    val from = w.rows + b.toLong * BatchRows
    attempted.incrementAndGet()
    try {
      val t0 = System.nanoTime()
      tracer.span("ingest.append", request = true) {
        corpus.write(s, served.dir, from, from + BatchRows, BatchFiles, mode = "append")
      }
      tracer.span("ingest.extend", request = true) {
        IvfBuilder.extend(s, served.dir, IvfBuilder.Config("emb"), served.store)
      }
      val seconds = secs(t0)
      s.read.parquet(served.dir).createOrReplaceTempView("vecs")
      val probe = from + b * 997 % BatchRows
      val got = request(s, served, "float", corpus.vector(probe), 1, off, -1, probe)
      if (!got.ids.sameElements(Array(probe)))
        fail(s"freshness: batch $b top-1 for row $probe returned ${got.ids.mkString(",")}")
      Some(seconds)
    } catch {
      case e: Exception => fail(s"append batch $b: $e"); None
    }
  }
}

/** Ground truth for the served table's first `rows` rows, and the checks
  * that use it.
  */
final class Check(spark: SparkSession, served: Served, corpus: Corpus, rows: Long) {
  import org.apache.spark.sql.functions.col

  /** File-local ordinal of every row id (the `search` answer's unit). */
  private lazy val ordOf: Array[Long] = {
    val out = new Array[Long](rows.toInt)
    spark.read.parquet(served.dir)
      .select(col("id"), col("_metadata.row_index"))
      .where(col("id") < rows)
      .collect()
      .foreach(r => out(r.getLong(0).toInt) = r.getLong(1))
    out
  }

  private def truth(reqs: Seq[Req]): Seq[Seq[Truth.Hit]] = {
    val keys = reqs.map(r => (r.qkey, r.shape == "filtered")).distinct
    val t = Truth.topK(corpus, rows, keys.map(k => corpus.query(k._1)).toIndexedSeq, Workload.K,
      labelMin = q => if (keys(q)._2) Workload.LabelMin else 0)
    val byKey = keys.zip(t).toMap
    reqs.map(r => byKey((r.qkey, r.shape == "filtered")))
  }

  /** Truth hits present in the answer; a `search` hit is a matching
    * ordinal at a matching distance.
    */
  private def hits(req: Req, t: Seq[Truth.Hit]): Int =
    if (req.shape == "search")
      t.count(h => req.ids.indices.exists(i =>
        req.ids(i) == ordOf(h.id.toInt) && Run.close(req.dists(i), h.dist)))
    else {
      val got = req.ids.toSet
      t.count(h => got.contains(h.id))
    }

  /** Recall@k per request, averaged per query vector, then over the
    * vectors: a vector that repeats (the Zipf pool) counts once.
    */
  def recall(reqs: Seq[Req]): Double = {
    val perVector = reqs.zip(truth(reqs))
      .map { case (r, t) => r.qkey -> hits(r, t).toDouble / t.length }
      .groupBy(_._1).values.map(v => v.map(_._2).sum / v.length)
    if (perVector.isEmpty) 0.0 else perVector.sum / perVector.size
  }

  /** None when the answer is the exact top-k with matching distances. */
  def exactness(req: Req): Option[String] = {
    val t = truth(Seq(req)).head
    val want = t.map(h => h.id -> h.dist).toMap
    val n = hits(req, t)
    val distOk = req.shape == "search" ||
      req.ids.indices.forall(i => want.get(req.ids(i)).exists(d => Run.close(req.dists(i), d)))
    if (n == t.length && req.ids.length == t.length && distOk) None
    else Some(s"$n of ${t.length} exact hits in ${req.ids.length} rows, distances ${if (distOk) "ok" else "off"}")
  }
}

/** The seeded request stream: request r → (shape, query key). Shapes come
  * in blocks of [[RequestStream.Block]] requests holding the mix's exact
  * proportions in a seeded order, so every run sends the same mix.
  */
final class RequestStream(seed: Long, w: Workload) {
  private val slots: Seq[String] = w.mix.flatMap { case (shape, weight) =>
    Seq.fill(math.round(weight * RequestStream.Block).toInt)(shape)
  }
  private val zipfCdf: Array[Double] = {
    val p = (1 to w.zipfPool).map(i => math.pow(i.toDouble, -Workload.ZipfExponent))
    p.scanLeft(0.0)(_ + _).tail.map(_ / p.sum).toArray
  }
  def apply(r: Int): (String, Long) = {
    val block = new java.util.SplittableRandom(Corpus.mix(seed, Run.StreamBase + r / slots.length))
    val order = slots.indices.toArray
    for (i <- order.length - 1 to 1 by -1) {
      val j = block.nextInt(i + 1)
      val t = order(i); order(i) = order(j); order(j) = t
    }
    val shape = slots(order(r % slots.length))
    val key =
      if (w.zipfPool == 0) r.toLong
      else {
        val rng = new java.util.SplittableRandom(Corpus.mix(seed, Run.ZipfBase + r))
        val i = java.util.Arrays.binarySearch(zipfCdf, rng.nextDouble())
        (if (i >= 0) i else -i - 1).min(w.zipfPool - 1).toLong
      }
    (shape, key)
  }
}

object RequestStream {
  val Block = 20
}

object Run {
  val WarmBase: Long = 1L << 30
  val SpotBase: Long = 1L << 31
  val StreamBase: Long = 1L << 36
  val ZipfBase: Long = 1L << 37

  final case class Caches(decoded: (Long, Long), probe: (Long, Long), plan: (Long, Long), codebook: (Long, Long))
  def caches(): Caches = Caches(IndexManager.decodedCacheStats, IndexStore.probeCacheStats,
    VectorTopKRule.planCacheStats, PqSidecar.codebookCacheStats)

  /** Runs the bodies on their own threads and waits for all of them. */
  def parallel(bodies: Seq[() => Unit]): Unit =
    bodies.map { b => val t = new Thread(() => b()); t.start(); t }.foreach(_.join())

  def l2(v: scala.collection.Seq[Float], q: Array[Float]): Float = {
    var s = 0.0
    var j = 0
    while (j < q.length) { val d = (v(j) - q(j)).toDouble; s += d * d; j += 1 }
    math.sqrt(s).toFloat
  }

  /** Distance agreement: 1e-4 relative to the distance (at least 1). */
  def close(got: Float, want: Double): Boolean = math.abs(got - want) <= 1e-4 * math.max(1.0, want)
}

object Stats {
  /** Each shape's median latency, weighted by the shape's share of `mix`.
    * The shapes' latencies form separate modes, and the median of the mixed
    * stream falls in the gap between them; each shape's median stays inside
    * its mode.
    */
  def mixP50(reqs: Seq[Req], mix: Seq[(String, Double)]): Double =
    mix.map { case (sh, wt) => wt * quantile(reqs.filter(_.shape == sh).map(_.ms), 0.5) }.sum /
      mix.map(_._2).sum

  /** Linear-interpolated quantile (0 for no samples). */
  def quantile(xs: Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = p * (s.length - 1)
      val lo = pos.toInt
      val hi = math.min(lo + 1, s.length - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
