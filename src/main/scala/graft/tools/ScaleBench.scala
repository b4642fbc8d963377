package graft.tools

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.ivf.{IndexManager, IndexStore, IvfBuilder, PqSidecar, Recall, Sq8Sidecar, VectorTopK}

/** Scale-probe bench: the vector headline on a corpus big enough that the
  * index can actually WIN (the per-round sf0.1 fixture is 2,000 rows, where
  * per-job fixed cost dominates and every number sits below ~0.5 s). This
  * generates a seeded GAUSSIAN-MIXTURE corpus — the reference's protocol
  * shape (`/root/reference/benches/query.rs:27-31`: 1M × 1024 uniform) but
  * clustered, because uniform random vectors make nearest-neighbor recall
  * meaningless (all pairwise distances concentrate) — and measures brute /
  * indexed / selective / SQ8 / PQ / range / build plus recall@100.
  *
  * NOT part of the per-round driver bench or its 2× gate (a quarter-hour
  * 500k-row run would flake it); run manually, record in BENCHNOTES.md:
  * `sbt "runMain graft.tools.ScaleBench"` (env: SPARK_GRAFT_SCALE_ROWS,
  * _DIM, _DIR to override). Prints one JSON line like Bench.
  */
object ScaleBench {

  // shared timing harness (graft.BenchTiming) — same methodology as Bench
  private def time(f: => Unit): Double = graft.BenchTiming.time(f)
  private def timeMin(f: => Unit): Double = graft.BenchTiming.timeMin("scale")(f)
  private def materialize(df: DataFrame): Unit = graft.BenchTiming.materialize(df)

  /** The mixture centers — ONE definition shared by [[generate]] and the
    * query-vector derivation, so an edit to the seed/scale/fill order can
    * never silently desynchronize them (the query must sit near a real
    * blob for the recall/range numbers to mean anything).
    */
  private[tools] def mixtureCenters(trueClusters: Int, dim: Int): Array[Float] = {
    val r = new java.util.Random(2026L)
    Array.fill(trueClusters * dim)(r.nextFloat() * 10f)
  }

  /** Deterministic clustered corpus: `trueClusters` Gaussian blobs, centers
    * uniform in [0,10)^dim, per-element noise σ=0.5 — at dim=256 a member
    * sits ~σ·√dim = 8 from its center while centers sit ~46 apart, so the
    * blobs are cleanly separated and IVF cells align with real structure.
    * Per-row RNG is seeded from the row id, so the data is identical for
    * any partitioning.
    */
  private[tools] def generate(
      spark: SparkSession, dir: String, rows: Long, dim: Int, trueClusters: Int): Unit = {
    import spark.implicits._
    val centers = mixtureCenters(trueClusters, dim)
    val bc = spark.sparkContext.broadcast(centers)
    val d = dim
    val c = trueClusters
    spark.range(rows)
      .as[Long]
      .mapPartitions { it =>
        val cents = bc.value
        it.map { id =>
          val rng = new java.util.Random(id * 0x9E3779B97F4A7C15L + 42L)
          val cluster = (id % c).toInt
          val vec = Array.tabulate(d)(j =>
            cents(cluster * d + j) + (rng.nextGaussian() * 0.5).toFloat)
          (id, cluster, vec)
        }
      }
      .toDF("vec_id", "label", "embedding")
      .repartition(16)
      .write.mode("overwrite").parquet(dir)
  }

  def main(args: Array[String]): Unit = {
    val rows = sys.env.getOrElse("SPARK_GRAFT_SCALE_ROWS", "500000").toLong
    val dim = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIM", "256").toInt
    val trueClusters = 64
    val baseDir = sys.env.getOrElse("SPARK_GRAFT_SCALE_DIR", "/root/repo/.graft/scale")
    val corpus = s"$baseDir/corpus_${rows}x$dim"

    val spark = graft.Harness.session(defaultCpus = 32)
    // deliberately NOT Graft.install: every path below is the programmatic
    // API, and the brute baseline must never meet the rewrite rule

    val genTime =
      if (new java.io.File(corpus).exists()) -1.0
      else time(generate(spark, corpus, rows, dim, trueClusters))

    // clustered-LAYOUT twin: same rows, physically grouped by assigned IVF
    // cell via the production operator (Layout.writeByCell — range-shuffle
    // on cell id, sort within files). On the random layout candidates
    // spread over every page of every file, so candidate-proportional
    // pruning buys no page savings; grouping is what converts pruned
    // candidate COUNTS into pruned IO. (The cell assignment uses the
    // corpus index's centroids, built below.)
    val clustered = s"${corpus}_bycell"

    // query: a jittered point near cluster 7's center — a "natural" query
    // whose true neighborhood is one blob, like production retrieval
    val query: Seq[Float] = {
      val centers = mixtureCenters(trueClusters, dim)
      val jitter = new java.util.Random(777L)
      Seq.tabulate(dim)(j => centers(7 * dim + j) + (jitter.nextGaussian() * 0.25).toFloat)
    }
    val k = 100
    val nprobe = 16

    // cold build, timed once (25k-sample k-means at k=√500k≈707 is minutes,
    // not worth 2 reps), then a persistent store serves the query section
    val buildTime = time {
      val tmp = new IndexStore(
        java.nio.file.Files.createTempDirectory("graft-scale-build").toString)
      IvfBuilder.build(spark, corpus, IvfBuilder.Config("embedding"), tmp): Unit
    }
    val store = new IndexStore(s"$baseDir/index")
    val clusterTime =
      if (new java.io.File(clustered).exists()) -1.0
      else {
        val (ti0, centroids) =
          IndexManager.ensureWithCentroids(spark, corpus, "embedding", store)
        time {
          graft.ops.Layout.writeByCell(
            spark.read.parquet(corpus), clustered, "embedding",
            centroids, ti0.dim, numFiles = 16): Unit
        }
      }
    // radius ~10: catches most of the query's blob (~rows/64 ≈ 1.5% of the
    // corpus), i.e. a selective, localized neighborhood — the regime the
    // point-read pruned path is FOR
    val radius = 10.0f

    /** The vector headline over one table layout, keys prefixed. */
    def suite(prefix: String, table: String): (Seq[(String, Double)], Recall.Result) = {
      IndexManager.ensure(spark, table, "embedding", store = store): Unit
      Sq8Sidecar.ensure(spark, table, "embedding", store)
      PqSidecar.ensure(spark, table, "embedding", m = dim / 8, store)
      def brute() = VectorTopK.bruteForce(
        spark.read.parquet(table), "embedding", query, k)
      def indexed() = VectorTopK.indexed(
        spark, table, "embedding", query, k,
        VectorTopK.Options(nprobe = nprobe), store = store)
      def selective() = VectorTopK.search(
        spark, table, "embedding", query, k,
        VectorTopK.Options(nprobe = nprobe), store = store).toDF()
      def sq8() = VectorTopK.search(
        spark, table, "embedding", query, k,
        VectorTopK.Options(nprobe, tier = VectorTopK.Tier.Sq8, oversample = Some(4)),
        store = store).toDF()
      def pq() = VectorTopK.search(
        spark, table, "embedding", query, k,
        VectorTopK.Options(nprobe, tier = VectorTopK.Tier.Pq(), oversample = Some(4)),
        store = store).toDF()
      def rangePruned() = VectorTopK.rangeRows(
        spark, table, "embedding", query, radius, store = store)
      def rangeBrute() = spark.read.parquet(table).where(
        graft.functions.array_distance(
          col("embedding"), graft.functions.float_vector(query)) < lit(radius))

      // warmup (JIT/codegen/page cache), then timed min-of-2
      Seq(brute(), indexed(), selective(), sq8(), pq(), rangePruned(), rangeBrute())
        .foreach(df => try materialize(df) catch { case e: Throwable =>
          System.err.println(s"[scale] warm FAIL: $e") })

      val results = Seq(
        s"${prefix}brute_topk100" -> timeMin(materialize(brute())),
        s"${prefix}indexed_topk100_nprobe16" -> timeMin(materialize(indexed())),
        s"${prefix}search_selective_topk100_nprobe16" -> timeMin(materialize(selective())),
        s"${prefix}sq8_search_topk100_nprobe16" -> timeMin(materialize(sq8())),
        s"${prefix}pq_search_topk100_nprobe16" -> timeMin(materialize(pq())),
        s"${prefix}range_pruned" -> timeMin(materialize(rangePruned())),
        s"${prefix}range_brute" -> timeMin(materialize(rangeBrute())))
      val recall =
        try Recall.atK(spark, table, "embedding", "vec_id", query, k, nprobe, store)
        catch { case e: Throwable =>
          System.err.println(s"[scale] recall FAIL: $e")
          Recall.Result(k, nprobe, -1.0, -1L)
        }
      (results, recall)
    }

    val (randomResults, recall) = suite("", corpus)
    val (clusteredResults, clusteredRecall) = suite("clustered_", clustered)
    val ti = IndexManager.ensure(spark, corpus, "embedding", store = store)
    val results = randomResults ++ clusteredResults ++
      Seq("index_build" -> buildTime, "cluster_layout_write" -> clusterTime)

    val rangeRows_ = try spark.read.parquet(corpus).where(
      graft.functions.array_distance(
        col("embedding"), graft.functions.float_vector(query)) < lit(radius)).count()
    catch { case _: Throwable => -1L }
    val (cacheHits, cacheMisses) = IndexManager.decodedCacheStats

    val qs = results.map { case (n, v) => "\"" + n + "\":" + v }.mkString("{", ",", "}")
    println(
      s"""{"metric":"scale_probe","rows":$rows,"dim":$dim,"n_clusters":${ti.nClusters},"files":${ti.files.size},"unit":"sec","queries":$qs,"gen_time":$genTime,"recall_at100_nprobe16":${recall.recall},"clustered_recall_at100_nprobe16":${clusteredRecall.recall},"probe_candidates":${recall.candidates},"range_rows":$rangeRows_,"index_cache_hits":$cacheHits,"index_cache_misses":$cacheMisses}""")
    spark.stop()
  }
}
