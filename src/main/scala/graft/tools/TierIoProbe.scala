package graft.tools

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.DataFrame

import graft.ivf.{IndexManager, IndexStore, IvfBuilder, PqSidecar, Sq8Sidecar, VectorTopK}

/** Quantized-tier win-regime probe (round-10 verdict item #3): three rounds
  * of warm-NVMe probes showed float selective search beating the sq8/pq
  * tiers everywhere, leaving the tiers' IO-starved claim unmeasured. This
  * measures the claimed regime FOR REAL: cgroup-v1 blkio read throttling
  * (the sandbox runs as root on /dev/vda) plus a page-cache drop before
  * every rep, so each arm's reads hit an actually-slow device — the
  * remote/cold-storage bandwidth class the tiers were designed for
  * (reference premise: IO-starved selective reads,
  * `/root/reference/src/ivf/search.rs:155-244`).
  *
  * Protocol: the reference bench shape (1M x 1024, k=100, nprobe=16) on
  * the CLUSTERED by-cell layout (the designed scale path, where candidate
  * pruning is IO pruning), arms = float-selective / sq8 / pq, each timed
  * cold at each throttle level with per-arm BYTES READ from the cgroup's
  * own io_service_bytes counter — the byte ratios prove the tiers read
  * less; the times show where that converts to a win. An unthrottled
  * cold-cache row gives the local-NVMe contrast. The decoded centroid
  * index stays in the process LRU across reps (a long-running service
  * caches it), so the measurement isolates DATA reads — exactly what the
  * tiers differ on.
  *
  * NOT part of the round bench (minutes + system-global cache drops); run
  * manually as root, record in BENCHNOTES.md:
  * `sbt "runMain graft.tools.TierIoProbe"`
  * (env: SPARK_GRAFT_SCALE_ROWS/_DIM/_DIR, SPARK_GRAFT_BLKIO_BPS
  * comma-list of read-bps limits, SPARK_GRAFT_BLKIO_DEV maj:min).
  */
object TierIoProbe {
  private val CgRoot = "/sys/fs/cgroup/blkio"
  private val Cg = s"$CgRoot/graft_tier_probe"

  private def write(path: String, s: String): Unit =
    Files.writeString(Paths.get(path), s): Unit

  private def pid: Long = ProcessHandle.current().pid()

  /** Sum of this cgroup's completed READ bytes on `dev`. */
  private def readBytes(dev: String): Long = {
    val p = Paths.get(s"$Cg/blkio.throttle.io_service_bytes")
    if (!Files.exists(p)) 0L
    else {
      val src = scala.io.Source.fromFile(p.toFile)
      try src.getLines()
        .filter(l => l.startsWith(s"$dev Read"))
        .map(_.split(' ').last.toLong).sum
      finally src.close()
    }
  }

  private def dropCaches(): Unit = {
    Runtime.getRuntime.exec(Array("sync")).waitFor(): Unit
    write("/proc/sys/vm/drop_caches", "3")
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "1000000").toLong
    val dim = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIM", "1024").toInt
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/root/repo/.graft/scale")
    val dev = sys.env.getOrElse("SPARK_GRAFT_BLKIO_DEV", "254:0")
    // 0 = unthrottled cold; 100 MB/s ~ entry cloud block storage;
    // 25 MB/s ~ congested object store / cold tier
    val limits = sys.env.getOrElse("SPARK_GRAFT_BLKIO_BPS", "0,104857600,26214400")
      .split(',').map(_.trim.toLong).toSeq
    // file count matters: with F files each probing nprobe of its OWN
    // cells, candidate volume is F x the single-file fraction (the 16-file
    // first run read ~6.4% of rows, not 1.6% — round-10 BENCHNOTES);
    // 1 file is the reference's per-file regime and the tiers' home turf
    val numFiles = sys.env.getOrElse("SPARK_GRAFT_SCALE_FILES", "16").toInt
    // rows per parquet page in the by-cell layout (SPARK_GRAFT_PAGE_ROWS;
    // unset = writer defaults ~256 rows/page at dim=1024): the round-10
    // probe showed refine page amplification dominating the tier bytes —
    // this knob measures the 1-row-page pairing the reference uses
    val pageRows = sys.env.get("SPARK_GRAFT_PAGE_ROWS").map(_.toInt)
    val trueClusters = 64
    val corpus = s"$baseDir/corpus_${rows}x$dim"
    val pageSuffix = pageRows.fold("")(n => s"_p$n")
    val clustered =
      (if (numFiles == 16) s"${corpus}_bycell" else s"${corpus}_bycell$numFiles") +
        pageSuffix

    val spark = graft.Harness.session(defaultCpus = 32)

    if (!new java.io.File(corpus).exists())
      ScaleBench.generate(spark, corpus, rows, dim, trueClusters)
    val store = new IndexStore(s"$baseDir/index")
    val (ti0, centroids) =
      IndexManager.ensureWithCentroids(spark, corpus, "embedding", store)
    if (!new java.io.File(clustered).exists())
      graft.ops.Layout.writeByCell(
        spark.read.parquet(corpus), clustered, "embedding",
        centroids, ti0.dim, numFiles = numFiles, pageRows = pageRows): Unit
    IndexManager.ensure(spark, clustered, "embedding", store = store): Unit
    Sq8Sidecar.ensure(spark, clustered, "embedding", store)
    PqSidecar.ensure(spark, clustered, "embedding", m = dim / 8, store)

    val query: Seq[Float] = {
      val centers = ScaleBench.mixtureCenters(trueClusters, dim)
      val jitter = new java.util.Random(777L)
      Seq.tabulate(dim)(j => centers(7 * dim + j) + (jitter.nextGaussian() * 0.25).toFloat)
    }
    val k = 100
    val nprobe = 16
    def selective() = VectorTopK.search(
      spark, clustered, "embedding", query, k,
      VectorTopK.Options(nprobe = nprobe), store = store).toDF()
    def sq8() = VectorTopK.search(
      spark, clustered, "embedding", query, k,
      VectorTopK.Options(nprobe, tier = VectorTopK.Tier.Sq8, oversample = Some(4)),
      store = store).toDF()
    def pq() = VectorTopK.search(
      spark, clustered, "embedding", query, k,
      VectorTopK.Options(nprobe, tier = VectorTopK.Tier.Pq(), oversample = Some(4)),
      store = store).toDF()
    val arms: Seq[(String, () => DataFrame)] =
      Seq("float_selective" -> (selective _), "sq8" -> (sq8 _), "pq" -> (pq _))

    // warm everything ONCE unthrottled: JIT, codegen, decoded-index LRU
    arms.foreach { case (_, f) => graft.BenchTiming.materialize(f()) }

    // cgroup setup; tasks enter/leave around the measured section only so
    // sbt/JVM housekeeping IO is never throttled
    new java.io.File(Cg).mkdirs()
    def setLimit(bps: Long): Unit =
      write(s"$Cg/blkio.throttle.read_bps_device",
        if (bps == 0L) s"$dev 0" else s"$dev $bps") // 0 clears the limit
    def enter(): Unit = write(s"$Cg/cgroup.procs", pid.toString)
    def leave(): Unit = write(s"$CgRoot/cgroup.procs", pid.toString)

    val out = Seq.newBuilder[String]
    limits.foreach { bps =>
      setLimit(bps)
      arms.foreach { case (name, f) =>
        val reps = 2
        val times = Seq.newBuilder[Double]
        var bytes = 0L
        (0 until reps).foreach { _ =>
          dropCaches()
          enter()
          val b0 = readBytes(dev)
          val t0 = System.nanoTime()
          graft.BenchTiming.materialize(f())
          times += (System.nanoTime() - t0) / 1e9
          bytes = readBytes(dev) - b0
          leave()
        }
        val ts = times.result()
        out += f""""${name}_bps$bps":{"min_sec":${ts.min}%.3f,"reps":[${ts.map(t => f"$t%.3f").mkString(",")}],"read_bytes":$bytes}"""
        System.err.println(s"[tier-io] $name @ $bps bps: ${ts.map(t => f"$t%.2f").mkString(",")} s, $bytes bytes")
      }
    }
    setLimit(0L)
    println(s"""{"metric":"tier_io_probe","rows":$rows,"dim":$dim,"dev":"$dev","k":$k,"nprobe":$nprobe,"layout":"bycell","files":$numFiles,"page_rows":${pageRows.getOrElse(0)},"arms":{${out.result().mkString(",")}}}""")
    spark.stop()
  }
}
