package graft.ivf

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions.{broadcast, col}

/** Recall@k harness — the reference's benchmark quality metric
  * (`/root/reference/benches/query.rs:562-569`):
  * `|indexed ∩ exact| / k` for an ANN configuration vs brute force,
  * for both the L2 and the angular (cosine) index paths.
  */
object Recall {

  final case class Result(k: Int, nprobe: Int, recall: Double, candidates: Long)

  /** Recall@k of the L2 indexed path vs brute-force `array_distance`. */
  def atK(
      spark: SparkSession,
      path: String,
      column: String,
      idCol: String,
      query: Seq[Float],
      k: Int,
      nprobe: Int,
      store: IndexStore = IndexStore.default): Result =
    measure(spark, path, column, idCol, query, k, nprobe, store, cosine = false)

  /** Recall@k of the ANGULAR (cosine) index path — the winner-first feed
    * the SQL rewrite serves `ORDER BY array_cosine_similarity DESC LIMIT k`
    * from — vs the brute cosine top-k. vq8 gates this path's EXACTNESS at
    * exhaustive probe; this tracks its quality on the recall curve at a
    * production nprobe.
    */
  def cosineAtK(
      spark: SparkSession,
      path: String,
      column: String,
      idCol: String,
      query: Seq[Float],
      k: Int,
      nprobe: Int,
      store: IndexStore = IndexStore.default): Result =
    measure(spark, path, column, idCol, query, k, nprobe, store, cosine = true)

  /** Shared metric plumbing: exact top-k ids by the metric's brute
    * ordering, approximate ids via the metric's winner feed + the
    * (file, ordinal) → id payload semi-join, candidate accounting via the
    * metric's probe order — one implementation, so the L2 and angular
    * harnesses cannot drift apart.
    */
  private def measure(
      spark: SparkSession,
      path: String,
      column: String,
      idCol: String,
      query: Seq[Float],
      k: Int,
      nprobe: Int,
      store: IndexStore,
      cosine: Boolean): Result = {
    val base = spark.read.parquet(path)
    val ordering =
      if (cosine)
        graft.functions
          .array_cosine_similarity(col(column), graft.functions.float_vector(query))
          .desc_nulls_last
      else
        graft.functions
          .array_distance(col(column), graft.functions.float_vector(query))
          .asc_nulls_last
    // the exact side is literally the rewrite's match shape
    // (orderBy(distance).limit(k) over an indexed table) — if the session
    // has the rule installed and enabled, the "brute" baseline would
    // silently become the indexed ANN feed and recall would read ~1.0.
    // Pin the rule off around it (save/restore, so callers' confs survive).
    val exact = {
      val key = graft.plans.VectorTopKRule.EnabledKey
      val prev = spark.conf.getOption(key)
      spark.conf.set(key, "false")
      try base.orderBy(ordering).limit(k)
        .select(col(idCol)).collect().map(_.getLong(0)).toSet
      finally prev match {
        case Some(v) => spark.conf.set(key, v)
        case None => spark.conf.unset(key)
      }
    }

    val files = IndexManager.listFiles(spark, path)
    val metric = if (cosine) VectorTopK.Metric.Cosine else VectorTopK.Metric.L2
    val winners = VectorTopK
      .winnerFeed(
        spark, files, column, query, k, VectorTopK.Options(nprobe, metric = metric), store)
      .orderBy(col("_dist").asc_nulls_last) // cosine feed emits 1 − cos
      .limit(k)
      .select(col("_file"), col("_ri"))
    val approx = spark.read.parquet(path)
      .withColumn("_file", col("_metadata.file_path"))
      .withColumn("_ri", col("_metadata.row_index"))
      .join(broadcast(winners), Seq("_file", "_ri"), "left_semi")
      .select(col(idCol)).collect().map(_.getLong(0)).toSet

    val q = query.toArray
    val candidates = files.flatMap { f =>
      scala.util.Try(IndexManager.loadIndex(store, f, column)).toOption
        .map(_.candidateCount(q, nprobe, cosine))
    }.sum
    Result(k, nprobe, (exact & approx).size.toDouble / k, candidates)
  }
}
