package graft.tools

import graft.ivf.{IndexStore, IvfBuilder, Recall, VectorTopK}

/** Self-measured BASELINE protocol (BASELINE.md "Self-measured baseline"):
  * reference-default index params on sf0.1 embeddings, k=100, nprobe=16 —
  * brute time, build time, indexed time, Recall@100. One JSON line out.
  */
object Baseline {
  private def time[T](f: => T): (T, Double) = {
    val t0 = System.nanoTime()
    val r = f
    (r, (System.nanoTime() - t0) / 1e9)
  }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Harness.session(defaultCpus = 16)
    graft.Graft.install(spark)

    val path = s"$sfDir/embeddings.parquet"
    val k = 100
    val nprobe = 16
    val query = graft.Queries.queryVec
    val store = new IndexStore(
      java.nio.file.Files.createTempDirectory("graft-baseline").toString)

    // warmup the session
    spark.read.parquet(path).count()
    VectorTopK.bruteForce(spark.read.parquet(path), "embedding", query, k).count()

    val (_, brute) = time {
      VectorTopK.bruteForce(spark.read.parquet(path), "embedding", query, k)
        .queryExecution.toRdd.count()
    }
    val (build, buildSec) = time {
      IvfBuilder.build(spark, path, IvfBuilder.Config("embedding"), store)
    }
    // warm indexed path once, then measure
    VectorTopK.indexed(spark, path, "embedding", query, k,
      VectorTopK.Options(nprobe), store = store).queryExecution.toRdd.count()
    val (_, indexed) = time {
      VectorTopK.indexed(spark, path, "embedding", query, k,
        VectorTopK.Options(nprobe), store = store).queryExecution.toRdd.count()
    }
    val recall = Recall.atK(spark, path, "embedding", "vec_id", query, k, nprobe, store)

    println(
      s"""{"sf":"$sfDir","rows":${build.numRows},"dim":${build.dim},"n_clusters":${build.nClusters},""" +
        s""""k":$k,"nprobe":$nprobe,"brute_sec":$brute,"index_build_sec":$buildSec,""" +
        s""""indexed_sec":$indexed,"recall":${recall.recall},"candidates":${recall.candidates}}""")
    spark.stop()
  }
}
