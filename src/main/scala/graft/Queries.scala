package graft

import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.{array_cosine_similarity, array_distance, float_vector}
import graft.ivf.{IndexManager, VectorTopK}

/** The engine's query inventory: every operator from SURVEY.md §2 plus the
  * LLM-data-pipeline extensions, each as a (SparkSession, sfDir) => DataFrame
  * paired (where SQL-expressible) with a DuckDB oracle in [[oracle]].
  *
  * Oracle-compare discipline: outputs are integral columns only (ids, counts,
  * cents via per-element `round(x*100)` before an integer sum), every query
  * has a total deterministic ORDER BY, and Spark/DuckDB column names match
  * exactly — floating-point sum order and hash instability never reach the
  * comparator.
  */
object Queries {

  private def t(spark: SparkSession, sfDir: String, name: String): DataFrame =
    spark.read.parquet(s"$sfDir/$name.parquet")

  /** Deterministic 64-dim query vector, multiples of 0.1 in [-0.9, 0.9] so
    * the SQL literal round-trips to identical float32 bits in both engines.
    */
  val queryVec: IndexedSeq[Float] = (0 until 64).map(i => (((i * 37) % 19) - 9) / 10.0f)

  private def duckVecLit: String =
    queryVec.map(_.toString).mkString("[", ", ", "]") + "::FLOAT[]"

  private def distAsc(column: String): Column =
    array_distance(col(column), float_vector(queryVec)).asc_nulls_last

  /** Money columns carry 2-decimal values; `round(x*100)` per element is
    * computed on bit-identical doubles in both engines, and the integer sum
    * is order-independent — exact cross-engine equality.
    */
  private def cents(c: Column): Column = round(c * 100).cast("bigint")

  private val corpusRowsCache =
    scala.collection.concurrent.TrieMap.empty[(String, Int, Int), Long]

  /** Oversample making `k·oversample` cover the whole corpus — the
    * covering-exactness gate shared by zq4/zq5/zq6. The row count is
    * derived from the actual table (so the assumption is checked where it
    * is made, not silently broken at a larger sf) and cached per
    * (path, file-list signature): the bench re-invokes query functions per
    * timed rep, and a count job per rep would bill setup, not the operator
    * under test — but a table that GROWS within the session (new files)
    * must not reuse a stale count, or the gate silently goes approximate.
    */
  private def coveringOversample(spark: SparkSession, path: String, k: Int): Int = {
    // driver-side file listing, no scan job; appends to parquet tables
    // arrive as new files, so (count, name-set hash) catches growth
    val fileList = spark.read.parquet(path).inputFiles
    val corpusRows = corpusRowsCache.getOrElseUpdate(
      (path, fileList.length, fileList.toSeq.sorted.hashCode()),
      spark.read.parquet(path).count())
    val oversample = math.max(1L, (corpusRows + k - 1) / k)
    require(
      oversample <= Int.MaxValue,
      s"corpus of $corpusRows rows too large for the covering-oversample exactness gate")
    oversample.toInt
  }

  // ---------------------------------------------------------------- vector

  def vq1BruteTopk(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")
      .orderBy(distAsc("embedding"), col("vec_id"))
      .limit(10)
      .select(col("vec_id"))

  val vq1Oracle: String =
    s"""SELECT vec_id FROM embeddings
       |ORDER BY list_distance(embedding::FLOAT[], $duckVecLit) ASC, vec_id LIMIT 10""".stripMargin

  def vq2IvfTopkExact(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    // nprobe = nClusters makes IVF exhaustive => must equal brute force.
    VectorTopK
      .indexed(spark, path, "embedding", queryVec, 10,
        VectorTopK.Options(nprobe = ti.nClusters))
      .orderBy(distAsc("embedding"), col("vec_id"))
      .select(col("vec_id"))
  }

  def vq3IvfTopkFilter(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    VectorTopK
      .indexed(spark, path, "embedding", queryVec, 10,
        VectorTopK.Options(nprobe = ti.nClusters),
        filter = Some(col("label") >= 5))
      .orderBy(distAsc("embedding"), col("vec_id"))
      .select(col("vec_id"))
  }

  val vq3Oracle: String =
    s"""SELECT vec_id FROM embeddings WHERE label >= 5
       |ORDER BY list_distance(embedding::FLOAT[], $duckVecLit) ASC, vec_id LIMIT 10""".stripMargin

  /** SQL-transparent path: the optimizer rule rewrites the ORDER BY +
    * LIMIT over the indexed table into an IVF-pruned scan; nprobe is set
    * exhaustive so the result is exact and shares vq1's oracle. Output is
    * re-sorted by id outside the topk so row order is deterministic.
    */
  def vq7SqlTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    // pin the float tier: confs persist across queries in one session (they
    // must — optimization is lazy), so a tier twin running earlier would
    // otherwise leak its tier into this entry
    spark.conf.set(plans.VectorTopKRule.TierKey, "float")
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    // NOTE: the nprobe conf must stay set — optimization (where the rule
    // reads it) happens lazily when the returned DataFrame executes.
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings
         |  ORDER BY array_distance(embedding, $vecLit) ASC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  val vq7Oracle: String =
    s"""SELECT vec_id FROM (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY list_distance(embedding::FLOAT[], $duckVecLit) ASC LIMIT 10)
       |ORDER BY vec_id""".stripMargin

  def vq4RangeSearch(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")
      .where(array_distance(col("embedding"), float_vector(queryVec)) < lit(4.5f))
      .select(col("vec_id"))
      .orderBy(col("vec_id"))

  val vq4Oracle: String =
    s"""SELECT vec_id FROM embeddings
       |WHERE list_distance(embedding::FLOAT[], $duckVecLit) < 4.5 ORDER BY vec_id""".stripMargin

  /** Index-accelerated range search: same predicate as vq4 but served from
    * the IVF index with triangle-inequality cell pruning (per-cell radius
    * sidecars). Unlike top-k, range pruning is LOSSLESS — no nprobe knob,
    * exact at any radius — so vq9 shares vq4's oracle unconditionally.
    */
  def vq9IvfRange(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    IndexManager.ensure(spark, path, "embedding")
    // backfill radius sidecars for indexes built before they existed;
    // no-op when present (missing radii would still be exact, just unpruned)
    ivf.IvfBuilder.ensureRadii(spark, path, "embedding")
    VectorTopK
      .rangeRows(spark, path, "embedding", queryVec, 4.5f)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** SQL-transparent range search: the rule rewrites the WHERE-clause
    * range predicate itself — no API call — into a cell-pruned page read
    * (the original Filter stays and applies the exact predicate, so the
    * rewrite is lossless by construction and shares vq4's oracle with no
    * probe knob).
    */
  def vq10SqlRange(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    IndexManager.ensure(spark, path, "embedding")
    ivf.IvfBuilder.ensureRadii(spark, path, "embedding")
    Graft.install(spark)
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_range")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    val df = spark.sql(
      s"""SELECT vec_id FROM graft_embeddings_range
         |WHERE array_distance(embedding, $vecLit) < 4.5
         |ORDER BY vec_id""".stripMargin)
    // the fixture radius is ~10%-selective but cell-wide — pin the
    // selectivity bailout off so the gate always exercises the rewrite,
    // and RESTORE it before returning (the optimized plan memoizes inside
    // df's QueryExecution, so forcing optimization under the pin is enough;
    // leaving the conf set would disable the bailout for every later query
    // in the session, including vq4's brute baseline)
    spark.conf.set(plans.VectorTopKRule.RangeMaxSelectivityKey, "1.0")
    try df.queryExecution.optimizedPlan
    finally spark.conf.unset(plans.VectorTopKRule.RangeMaxSelectivityKey)
    df
  }

  def vq5CosineTopk(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")
      .orderBy(
        array_cosine_similarity(col("embedding"), float_vector(queryVec)).desc_nulls_last,
        col("vec_id"))
      .limit(10)
      .select(col("vec_id"))

  val vq5Oracle: String =
    s"""SELECT vec_id FROM embeddings
       |ORDER BY list_cosine_similarity(embedding::FLOAT[], $duckVecLit) DESC, vec_id LIMIT 10""".stripMargin

  /** Cosine top-k through the SQL rewrite: the rule matches
    * `ORDER BY array_cosine_similarity(col, lit) DESC LIMIT k` and serves
    * it from the SAME IVF index via the angular winner-first feed
    * (descending cosine ≡ ascending 1 − cos). nprobe is exhaustive so the
    * result is exact and hash-gates against the DuckDB cosine oracle; the
    * production operating point (nprobe ≪ nClusters) is the same code on
    * the recall curve.
    */
  /** The ANGULAR quantized tier: `tier=sq8` under `ORDER BY
    * array_cosine_similarity DESC LIMIT k` — code-grid integer dot/norm
    * coarse ranking over the angular cell probe, exact 1 − cos float
    * refine. Exhaustive probe + covering oversample ⇒ exact, so it shares
    * vq8's oracle (the vq15/zq4 gate argument on the angular metric).
    */
  def vq20CosineTierSq8(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.Sq8Sidecar.ensure(spark, path, "embedding")
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "sq8")
    spark.conf.set(
      plans.VectorTopKRule.OversampleKey, coveringOversample(spark, path, 10).toString)
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_cos_sq8")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_cos_sq8
         |  ORDER BY array_cosine_similarity(embedding, $vecLit) DESC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  /** The angular pq tier: reconstruction-cosine coarse ranking from
    * per-(subspace, entry) dot/norm tables; same covering-exactness gate
    * as vq20, same oracle as vq8.
    */
  def vq21CosineTierPq(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.PqSidecar.ensure(spark, path, "embedding", m = 8)
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "pq")
    spark.conf.set(
      plans.VectorTopKRule.OversampleKey, coveringOversample(spark, path, 10).toString)
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_cos_pq")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_cos_pq
         |  ORDER BY array_cosine_similarity(embedding, $vecLit) DESC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  def vq8CosineIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "float") // see vq7 note
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_cos")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_cos
         |  ORDER BY array_cosine_similarity(embedding, $vecLit) DESC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  val vq8Oracle: String =
    s"""SELECT vec_id FROM (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY list_cosine_similarity(embedding::FLOAT[], $duckVecLit) DESC LIMIT 10)
       |ORDER BY vec_id""".stripMargin

  /** FILTERED cosine top-k through the SQL rewrite — the LLM-retrieval
    * staple (`WHERE lang = 'en' ORDER BY cosine DESC LIMIT k`). A residual
    * WHERE rules out the winner-first feed (post-filter semantics must see
    * every candidate row), so the rule reads every candidate of the
    * ANGULAR probe — cells ranked by centroid cosine — and the untouched
    * Filter + Sort above re-rank exactly. nprobe
    * is exhaustive here so the result hash-gates against DuckDB; the
    * production operating point is the same plan at nprobe ≪ nClusters.
    */
  def vq13FilteredCosine(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "float") // see vq7 note
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_fcos")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_fcos
         |  WHERE label >= 5
         |  ORDER BY array_cosine_similarity(embedding, $vecLit) DESC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  val vq13Oracle: String =
    s"""SELECT vec_id FROM (
       |  SELECT vec_id FROM embeddings WHERE label >= 5
       |  ORDER BY list_cosine_similarity(embedding::FLOAT[], $duckVecLit) DESC LIMIT 10)
       |ORDER BY vec_id""".stripMargin

  /** Programmatic angular quantized twins (`VectorTopK.indexed` with
    * `metric = Cosine` and `tier = Sq8` / `Pq()`): the API forms of the
    * vq20/vq21 SQL tiers, exhaustive probe + covering oversample ⇒ exact,
    * sharing vq8's oracle.
    */
  def vq22QuantizedCosineApi(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.Sq8Sidecar.ensure(spark, path, "embedding")
    VectorTopK
      .indexed(
        spark, path, "embedding", queryVec, 10,
        VectorTopK.Options(
          nprobe = ti.nClusters, metric = VectorTopK.Metric.Cosine,
          tier = VectorTopK.Tier.Sq8, oversample = Some(coveringOversample(spark, path, 10))))
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  def vq23PqCosineApi(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.PqSidecar.ensure(spark, path, "embedding", m = 8)
    VectorTopK
      .indexed(
        spark, path, "embedding", queryVec, 10,
        VectorTopK.Options(
          nprobe = ti.nClusters, metric = VectorTopK.Metric.Cosine,
          tier = VectorTopK.Tier.Pq(), oversample = Some(coveringOversample(spark, path, 10))))
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** Programmatic twin of vq8: `VectorTopK.indexed` with
    * `metric = Cosine` (angular probe + winner-first payload fetch) at
    * exhaustive probe — exact, so it shares vq8's DuckDB cosine oracle.
    */
  def vq14CosineApi(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    VectorTopK
      .indexed(
        spark, path, "embedding", queryVec, 10,
        VectorTopK.Options(nprobe = ti.nClusters, metric = VectorTopK.Metric.Cosine))
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  /** vq7 through the SQL rewrite with `spark.graft.ivf.tier=sq8`: identical
    * SQL, coarse ranking on the int8 code sidecar instead of float reads.
    * Exhaustive probe + covering oversample ⇒ the refine sees every
    * candidate in exact float space ⇒ exact, shares vq7's oracle (the same
    * gate zq4 uses for the programmatic path — this entry gates the SQL
    * routing on top of it).
    */
  def vq15SqlTopkSq8(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.Sq8Sidecar.ensure(spark, path, "embedding")
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "sq8")
    spark.conf.set(
      plans.VectorTopKRule.OversampleKey, coveringOversample(spark, path, 10).toString)
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_sq8")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_sq8
         |  ORDER BY array_distance(embedding, $vecLit) ASC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  /** vq7 under `tier=pq` (m=8 product codes, ADC coarse ranking) — same
    * covering-exactness gate as vq15/zq5; shares vq7's oracle.
    */
  def vq16SqlTopkPq(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.PqSidecar.ensure(spark, path, "embedding", m = 8)
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "pq")
    spark.conf.set(
      plans.VectorTopKRule.OversampleKey, coveringOversample(spark, path, 10).toString)
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_pq")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_pq
         |  ORDER BY array_distance(embedding, $vecLit) ASC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  /** The vq13 shape (filtered cosine) with `tier=pq` REQUESTED: code
    * distances are L2 and a residual Filter rules out the winner feed, so
    * the rule must fall back to the float angular one-phase path and still
    * answer exactly — this entry hash-gates the fallback, not the tier.
    */
  def vq17FilteredTierFallback(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.PqSidecar.ensure(spark, path, "embedding", m = 8)
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "pq")
    // the scenario under test: tier REQUESTED but the filtered-shape
    // opt-in OFF, so the rule must ignore the tier under a Filter
    spark.conf.set(plans.VectorTopKRule.FilteredTierKey, "false")
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_ftier")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_ftier
         |  WHERE label >= 5
         |  ORDER BY array_cosine_similarity(embedding, $vecLit) DESC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  /** The FILTERED quantized shape's exactness gate: vq3's query (predicate
    * + L2 top-k) served SQL-transparently with `tier=sq8` under the
    * `filteredTier` opt-in — the k·oversample coarse-ranked survivors feed
    * the payload, the untouched Filter re-applies the predicate, the
    * untouched Sort re-ranks exactly. Exhaustive nprobe + covering
    * oversample make the survivor feed ALL candidates, so the result is
    * exact and shares vq3's oracle (the same gate construction as
    * vq15/vq16).
    */
  def vq24FilteredTierSq8(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.Sq8Sidecar.ensure(spark, path, "embedding")
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "sq8")
    spark.conf.set(plans.VectorTopKRule.FilteredTierKey, "true")
    spark.conf.set(
      plans.VectorTopKRule.OversampleKey, coveringOversample(spark, path, 10).toString)
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_fsq8")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_fsq8
         |  WHERE label >= 5
         |  ORDER BY array_distance(embedding, $vecLit) ASC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  val vq24Oracle: String =
    s"""SELECT vec_id FROM (
       |  SELECT vec_id FROM embeddings WHERE label >= 5
       |  ORDER BY list_distance(embedding::FLOAT[], $duckVecLit) ASC LIMIT 10)
       |ORDER BY vec_id""".stripMargin

  /** vq17's query (filtered angular top-k) under `tier=pq` WITH the
    * `filteredTier` opt-in — the filtered+cosine+quantized corner of the
    * matrix; covering settings ⇒ exact, shares vq13's oracle.
    */
  def vq25FilteredTierPqCosine(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.PqSidecar.ensure(spark, path, "embedding", m = 8)
    Graft.install(spark)
    spark.conf.set(plans.VectorTopKRule.NprobeKey, ti.nClusters.toString)
    spark.conf.set(plans.VectorTopKRule.TierKey, "pq")
    spark.conf.set(plans.VectorTopKRule.FilteredTierKey, "true")
    spark.conf.set(
      plans.VectorTopKRule.OversampleKey, coveringOversample(spark, path, 10).toString)
    spark.read.parquet(path).createOrReplaceTempView("graft_embeddings_fpq")
    val vecLit = queryVec.map(v => s"${v}F").mkString("array(", ", ", ")")
    spark.sql(
      s"""SELECT vec_id FROM (
         |  SELECT vec_id FROM graft_embeddings_fpq
         |  WHERE label >= 5
         |  ORDER BY array_cosine_similarity(embedding, $vecLit) DESC LIMIT 10)
         |ORDER BY vec_id""".stripMargin)
  }

  /** MMR diverse top-k ([[ops.Similarity.mmrTopK]]): k=5 from a pool of
    * 50, λ=0.7. The oracle UNROLLS the greedy selection — five chained
    * CTE steps, each an argmax of `0.7·simq − (1−0.7)·max cos-to-selected`
    * over the remaining pool with the id tie-break — so the sequential
    * algorithm itself is gated, not just its output shape.
    */
  def vq27MmrTopk(spark: SparkSession, sfDir: String): DataFrame =
    ops.Similarity
      .mmrTopK(
        t(spark, sfDir, "embeddings"), "vec_id", "embedding", queryVec,
        k = 5, lambda = 0.7, poolSize = 50)
      .select(col("vec_id"), col("rank"))
      .orderBy(col("rank"))

  val vq27Oracle: String = {
    val steps = (2 to 5).map { i =>
      s"""s$i AS (
         |  SELECT p.vec_id, p.emb, p.simq, $i AS rank FROM pool p
         |  WHERE p.vec_id NOT IN (SELECT vec_id FROM sel${i - 1})
         |  ORDER BY 0.7 * p.simq -
         |    (1 - 0.7) * (SELECT max(list_cosine_similarity(p.emb, s.emb)) FROM sel${i - 1} s)
         |    DESC, p.vec_id
         |  LIMIT 1),
         |sel$i AS (SELECT * FROM sel${i - 1} UNION ALL SELECT * FROM s$i)""".stripMargin
    }.mkString(",\n")
    s"""WITH pool AS (
       |  SELECT vec_id, embedding::FLOAT[] AS emb,
       |         list_cosine_similarity(embedding::FLOAT[], $duckVecLit) AS simq
       |  FROM embeddings
       |  ORDER BY simq DESC, vec_id LIMIT 50),
       |s1 AS (
       |  SELECT vec_id, emb, simq, 1 AS rank FROM pool
       |  ORDER BY 0.7 * simq DESC, vec_id LIMIT 1),
       |sel1 AS (SELECT * FROM s1),
       |$steps
       |SELECT vec_id, CAST(rank AS INT) AS rank FROM sel5 ORDER BY rank""".stripMargin
  }

  // ------------------------------------------------- int8 quantization

  /** DuckDB twin of [[graft.functions.Sq8.code]]: the float widens to f64
    * exactly, x·127 is exact in f64, and floor(v + 0.5) has identical
    * semantics in the JVM and DuckDB — codes are bit-reproducible, so
    * quantized queries hash-match exactly.
    */
  private val duckSq8 =
    "x -> CAST(CASE WHEN isnan(x::DOUBLE) THEN 0 " +
      "ELSE floor(least(greatest(x::DOUBLE, -1), 1) * 127 + 0.5) END AS BIGINT)"

  private def duckQCodesLit: String =
    graft.functions.Sq8.encode(queryVec.toArray).map(_.toString).mkString("[", ", ", "]")

  /** Coarse top-k in SQ8 code space: integer squared L2 on the 4×-smaller
    * binary codes — exact arithmetic, so distances themselves are gated.
    */
  def zq1Sq8CoarseTopk(spark: SparkSession, sfDir: String): DataFrame =
    ops.Quantize.coarseTopK(
      ops.Quantize.compress(t(spark, sfDir, "embeddings"), "embedding"),
      "vec_id", "sq8", queryVec, 10)

  val zq1Oracle: String =
    s"""WITH z AS (
       |  SELECT vec_id,
       |         unnest(list_transform(embedding, $duckSq8)) AS c,
       |         unnest($duckQCodesLit) AS q
       |  FROM embeddings)
       |SELECT vec_id, CAST(sum((c - q) * (c - q)) AS BIGINT) AS code_dist
       |FROM z GROUP BY vec_id
       |ORDER BY code_dist, vec_id LIMIT 10""".stripMargin

  /** Encode→codes round trip, gated per vector via integral code stats. */
  def zq2Sq8Roundtrip(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")
      .select(
        col("vec_id"),
        graft.functions.sq8_codes(graft.functions.sq8_encode(col("embedding"))).as("c"))
      .select(
        col("vec_id"),
        aggregate(col("c"), lit(0L), (acc, x) => acc + x).as("code_sum"),
        array_min(col("c")).as("code_min"),
        array_max(col("c")).as("code_max"))
      .orderBy(col("vec_id"))

  val zq2Oracle: String =
    s"""SELECT vec_id,
       |  CAST(list_sum(c) AS BIGINT) AS code_sum,
       |  CAST(list_min(c) AS INT) AS code_min,
       |  CAST(list_max(c) AS INT) AS code_max
       |FROM (SELECT vec_id, list_transform(embedding, $duckSq8) AS c FROM embeddings)
       |ORDER BY vec_id""".stripMargin

  /** Quantized mean-pooling ([[ops.Quantize.sq8MeanPool]]): 10-vector
    * groups reduced to one SQ8 embedding each in exact integer
    * arithmetic (floor-div of code sums) — hash-gated per (group, dim).
    */
  def zq9Sq8MeanPool(spark: SparkSession, sfDir: String): DataFrame =
    ops.Quantize
      .sq8MeanPool(
        t(spark, sfDir, "embeddings"),
        floor(col("vec_id") / 10).cast("bigint"), "embedding")
      .orderBy(col("group_id"), col("dim"))

  val zq9Oracle: String =
    s"""WITH z AS (
       |  SELECT vec_id // 10 AS group_id,
       |         unnest(list_transform(embedding, $duckSq8)) AS c,
       |         unnest(range(0, len(embedding))) AS dim
       |  FROM embeddings)
       |SELECT group_id, CAST(dim AS INT) AS dim,
       |       CAST(floor(sum(c)::DOUBLE / count(*)) AS BIGINT) AS code
       |FROM z GROUP BY 1, 2 ORDER BY group_id, dim""".stripMargin

  /** Two-phase compressed search: coarse rank on codes, exact re-rank of
    * the oversampled survivors — gated against the exact brute-force top-k
    * (the refine step must recover it).
    */
  def zq3Sq8RefinedTopk(spark: SparkSession, sfDir: String): DataFrame =
    ops.Quantize
      .sq8TopK(t(spark, sfDir, "embeddings"), "vec_id", "embedding", queryVec, 10)
      .select(col("vec_id"))

  /** Matryoshka prefix-dim two-phase top-k ([[ops.Similarity.mrlTopK]]):
    * coarse rank on the first 16 of 64 dims, exact full-dim refine.
    * Covering oversample (k·oversample >= corpus) makes the pipeline
    * exactly brute force — the zq3/zq4 exactness-gate trick; the ANN
    * operating point (small oversample, stored prefix column) is
    * spec-gated in SimilaritySpec and benched.
    */
  def vq26MrlTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val k = 10
    ops.Similarity
      .mrlTopK(
        spark.read.parquet(path), "vec_id", "embedding", queryVec, k,
        prefixDim = 16, oversample = coveringOversample(spark, path, k))
      .select(col("vec_id"))
  }

  /** IVF-SQ8 two-phase search over the code SIDECAR (coarse integer ranking
    * on point-read codes, float re-rank of survivors). Exhaustive probe +
    * covering oversample (k·oversample >= corpus at every tested sf) makes
    * the pipeline exactly brute force — the same exactness-gate trick as
    * vq2; the real ANN operating point is benched as
    * baseline_sq8_search_topk100_nprobe16.
    */
  def zq4IvfSq8Topk(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.Sq8Sidecar.ensure(spark, path, "embedding")
    // the exactness gate needs k·oversample to cover the whole corpus —
    // derive it from the actual row count so the assumption is checked where
    // it is made instead of silently going approximate at a larger sf
    val k = 10
    val oversample = coveringOversample(spark, path, k)
    VectorTopK
      .indexed(spark, path, "embedding", queryVec, k,
        VectorTopK.Options(
          nprobe = ti.nClusters, tier = VectorTopK.Tier.Sq8, oversample = Some(oversample)))
      .orderBy(distAsc("embedding"), col("vec_id"))
      .select(col("vec_id"))
  }

  /** IVF-PQ top-k (m=8 subspaces → 8-byte codes, 32× under fp32): ADC
    * coarse ranking + exact float refine, gated exactly like zq4 —
    * exhaustive probe + covering oversample make the refine see every
    * candidate in exact float space, so the result equals brute force
    * REGARDLESS of codebook quality (what the covering gate isolates is the
    * plumbing: sidecar IO, ADC table addressing, heap, refine ordinals).
    * The ANN operating point is benched as baseline_pq_search.
    */
  def zq5IvfPqTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.PqSidecar.ensure(spark, path, "embedding", m = 8)
    val k = 10
    val oversample = coveringOversample(spark, path, k)
    VectorTopK
      .indexed(spark, path, "embedding", queryVec, k,
        VectorTopK.Options(
          nprobe = ti.nClusters, tier = VectorTopK.Tier.Pq(), oversample = Some(oversample)))
      .orderBy(distAsc("embedding"), col("vec_id"))
      .select(col("vec_id"))
  }

  /** Residual IVF-PQ (IVF-ADC, the faiss IndexIVFPQ convention): codes
    * quantize `vec − cellCentroid`, the ADC table rebuilds per probed cell
    * from `query − cellCentroid` — same covering-exactness gate as zq5,
    * exercising the residual encode path, the per-cell table addressing,
    * and the .pqr sidecar variant end to end.
    */
  def zq6IvfPqResidualTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val ti = IndexManager.ensure(spark, path, "embedding")
    graft.ivf.PqSidecar.ensure(spark, path, "embedding", m = 8, residual = true)
    val k = 10
    val oversample = coveringOversample(spark, path, k)
    VectorTopK
      .indexed(spark, path, "embedding", queryVec, k,
        VectorTopK.Options(
          nprobe = ti.nClusters, tier = VectorTopK.Tier.Pq(residual = true),
          oversample = Some(oversample)))
      .orderBy(distAsc("embedding"), col("vec_id"))
      .select(col("vec_id"))
  }

  // ------------------------------------------------- 1-bit binary quantization

  private def duckQBitsLit: String =
    queryVec.map(v => if (!v.isNaN && v > 0f) "1" else "0").mkString("[", ", ", "]")

  /** Coarse top-k in packed sign-code space ([[ops.Quantize.binCoarseTopK]]):
    * exact integer Hamming distance on the 32×-smaller codes, so the
    * DISTANCES themselves are gated, not just the ids. The oracle reproduces
    * the bit rule verbatim (`bit = x > 0`, NaN → 0 explicitly — DuckDB's
    * `NaN > 0` is TRUE under its total float order, Java's is false, so the
    * isnan branch is load-bearing cross-engine).
    */
  def zq7BinCoarseTopk(spark: SparkSession, sfDir: String): DataFrame =
    ops.Quantize.binCoarseTopK(
      ops.Quantize.binCompress(t(spark, sfDir, "embeddings"), "embedding"),
      "vec_id", "bin1", queryVec, 10)

  val zq7Oracle: String =
    s"""WITH z AS (
       |  SELECT vec_id,
       |         unnest(list_transform(embedding, x -> CASE WHEN isnan(x::DOUBLE) THEN 0 WHEN x > 0 THEN 1 ELSE 0 END)) AS b,
       |         unnest($duckQBitsLit) AS q
       |  FROM embeddings)
       |SELECT vec_id, CAST(sum(CASE WHEN b != q THEN 1 ELSE 0 END) AS BIGINT) AS hamming
       |FROM z GROUP BY vec_id
       |ORDER BY hamming, vec_id LIMIT 10""".stripMargin

  /** Two-phase binary-quantized search ([[ops.Quantize.binTopK]]): Hamming
    * coarse rank, exact float re-rank — covering oversample makes the
    * pipeline exactly brute force (the zq3/zq4 gate trick); the coarse
    * ranking itself is gated by zq7's exact integer distances.
    */
  def zq8BinRefinedTopk(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val k = 10
    val oversample = coveringOversample(spark, path, k)
    ops.Quantize
      .binTopK(t(spark, sfDir, "embeddings"), "vec_id", "embedding", queryVec, k, oversample)
      .select(col("vec_id"))
  }

  /** Late-interaction MaxSim top-k ([[ops.Similarity.maxSimTopK]]): vectors
    * grouped into multi-vector "documents" (vec_id div 10), each scoring as
    * its best member's cosine to the query, top-5 groups win. Output is the
    * group ids only — float scores never reach the comparator.
    */
  def vq11MaxsimTopk(spark: SparkSession, sfDir: String): DataFrame =
    ops.Similarity
      .maxSimTopK(
        t(spark, sfDir, "embeddings")
          .withColumn("group_id", (col("vec_id") / 10).cast("bigint")),
        "group_id", "embedding", queryVec, 5)
      .select(col("group_id"))
      .orderBy(col("group_id"))

  val vq11Oracle: String =
    s"""SELECT group_id FROM (
       |  SELECT vec_id // 10 AS group_id,
       |         max(list_cosine_similarity(embedding::FLOAT[], $duckVecLit)) AS s
       |  FROM embeddings GROUP BY 1
       |  ORDER BY s DESC, group_id LIMIT 5)
       |ORDER BY group_id""".stripMargin

  /** Deterministic 64-dim "query token" m — row m of the [[semCentroids]]
    * formula (m = 0 is [[queryVec]]); multiples of 0.1, exact f32
    * round-trip in both engines.
    */
  private def tokenVec(m: Int): IndexedSeq[Float] =
    (0 until 64).map(j => ((((j * 37 + m * 11) % 19) - 9) / 10.0f))

  private def duckTokenLit(m: Int): String =
    tokenVec(m).map(_.toString).mkString("[", ", ", "]") + "::FLOAT[]"

  /** Full ColBERT late-interaction scoring: a 3-token multi-vector query,
    * `score(group) = Σ over tokens of max over member vectors of cos` —
    * one groupBy with a max-agg column per token, shuffle stays
    * |groups| rows regardless of query length. Boundary margin on the
    * fixture is ~0.02, orders above cross-engine float noise.
    */
  def vq12ColbertTopk(spark: SparkSession, sfDir: String): DataFrame =
    ops.Similarity
      .colbertTopK(
        t(spark, sfDir, "embeddings")
          .withColumn("group_id", (col("vec_id") / 10).cast("bigint")),
        "group_id", "embedding", (0 until 3).map(tokenVec), 5)
      .select(col("group_id"))
      .orderBy(col("group_id"))

  val vq12Oracle: String = {
    val terms = (0 until 3)
      .map(m => s"max(list_cosine_similarity(embedding::FLOAT[], ${duckTokenLit(m)}))")
      .mkString(" + ")
    s"""SELECT group_id FROM (
       |  SELECT vec_id // 10 AS group_id, $terms AS s
       |  FROM embeddings GROUP BY 1
       |  ORDER BY s DESC, group_id LIMIT 5)
       |ORDER BY group_id""".stripMargin
  }

  /** Index-accelerated MaxSim (the PLAID candidate shape): probe per query
    * token, union candidate docs via a map-side cell filter, exact
    * sum-of-max on survivors only. Exhaustive probes admit every cell ⇒
    * identical to vq11's flat aggregation ⇒ shares its oracle; the ANN
    * operating point is recall-gated in the bench (maxsim_recall_probe4).
    */
  def vq18MaxsimIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val (ti, centroids) = IndexManager.ensureWithCentroids(spark, path, "embedding")
    ops.Similarity
      .maxSimTopKIvf(
        t(spark, sfDir, "embeddings")
          .withColumn("group_id", (col("vec_id") / 10).cast("bigint")),
        "group_id", "embedding", queryVec, 5,
        centroids, ti.dim, probes = ti.nClusters)
      .select(col("group_id"))
      .orderBy(col("group_id"))
  }

  /** vq12 through the PLAID shape — 3-token query, exhaustive probes ⇒
    * exact ⇒ shares vq12's oracle.
    */
  def vq19ColbertIvf(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val (ti, centroids) = IndexManager.ensureWithCentroids(spark, path, "embedding")
    ops.Similarity
      .colbertTopKIvf(
        t(spark, sfDir, "embeddings")
          .withColumn("group_id", (col("vec_id") / 10).cast("bigint")),
        "group_id", "embedding", (0 until 3).map(tokenVec), 5,
        centroids, ti.dim, probes = ti.nClusters)
      .select(col("group_id"))
      .orderBy(col("group_id"))
  }

  /** Brute-force k-NN join: for each query vector (vec_id < 5), its top-3
    * neighbors. The query side is tiny => broadcast; the big side streams.
    */
  def vq6KnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val e = t(spark, sfDir, "embeddings")
    ops.Similarity
      .knnJoin(e.where(col("vec_id") < 5), e, "vec_id", "vec_id", "embedding", 3)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  val vq6Oracle: String =
    """SELECT q.vec_id AS query_id, n.vec_id AS neighbor_id
      |FROM embeddings q JOIN embeddings n ON n.vec_id != q.vec_id
      |WHERE q.vec_id < 5
      |QUALIFY row_number() OVER (PARTITION BY q.vec_id
      |  ORDER BY list_distance(n.embedding::FLOAT[], q.embedding::FLOAT[]) ASC, n.vec_id ASC) <= 3
      |ORDER BY query_id, neighbor_id""".stripMargin

  /** Batch ANN: IVF-accelerated k-NN join at EXHAUSTIVE probes, which
    * makes it exact — so the scale-path machinery (cell bucketing, probe
    * explode, per-query heap) is oracled against the same plain-SQL k-NN
    * as vq6. The production setting (probes ≪ nClusters) is the same code
    * on the recall curve; SimilaritySpec pins the subset/recall behavior.
    */
  def va2IvfKnnJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val (ti, centroids) = IndexManager.ensureWithCentroids(spark, path, "embedding")
    val e = t(spark, sfDir, "embeddings")
    ops.Similarity
      .ivfKnnJoin(
        e.where(col("vec_id") < 5), e, "vec_id", "vec_id", "embedding",
        centroids, ti.dim, k = 3, probes = ti.nClusters)
      .select(col("query_id"), col("neighbor_id"))
      .orderBy(col("query_id"), col("neighbor_id"))
  }

  // ------------------------------------------------------------ relational

  def q1Agg(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "lineitem")
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        sum(col("l_quantity").cast("bigint")).cast("bigint").as("sum_qty"),
        sum(cents(col("l_extendedprice"))).cast("bigint").as("base_cents"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("bigint").as("disc_cents"),
        count(lit(1)).as("count_order"))
      .orderBy(col("l_returnflag"), col("l_linestatus"))

  val q1Oracle: String =
    """SELECT l_returnflag, l_linestatus,
      |  CAST(SUM(CAST(l_quantity AS BIGINT)) AS BIGINT) AS sum_qty,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS base_cents,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS disc_cents,
      |  COUNT(*) AS count_order
      |FROM lineitem GROUP BY l_returnflag, l_linestatus
      |ORDER BY l_returnflag, l_linestatus""".stripMargin

  def q3Join(spark: SparkSession, sfDir: String): DataFrame = {
    val customer = t(spark, sfDir, "customer")
    val orders = t(spark, sfDir, "orders")
    val lineitem = t(spark, sfDir, "lineitem")
    // customer scales with SF — shuffle-join it (AQE may still broadcast at
    // small SF); only fixed-cardinality dims get explicit broadcast hints.
    lineitem
      .join(orders, col("l_orderkey") === col("o_orderkey"))
      .join(customer, col("o_custkey") === col("c_custkey"))
      .groupBy(col("o_orderkey"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .cast("bigint").as("revenue_cents"))
      .orderBy(col("revenue_cents").desc, col("o_orderkey"))
      .limit(10)
  }

  val q3Oracle: String =
    """SELECT o_orderkey,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |GROUP BY o_orderkey
      |ORDER BY revenue_cents DESC, o_orderkey LIMIT 10""".stripMargin

  def q5RegionRevenue(spark: SparkSession, sfDir: String): DataFrame = {
    // nation/region are fixed-size → broadcast; customer scales with SF →
    // shuffle join (AQE handles the small-SF case).
    val dims = t(spark, sfDir, "customer")
      .join(broadcast(t(spark, sfDir, "nation")), col("c_nationkey") === col("n_nationkey"))
      .join(broadcast(t(spark, sfDir, "region")), col("n_regionkey") === col("r_regionkey"))
      .select(col("c_custkey"), col("n_name"), col("r_name"))
    t(spark, sfDir, "lineitem")
      .join(t(spark, sfDir, "orders"), col("l_orderkey") === col("o_orderkey"))
      .join(dims, col("o_custkey") === col("c_custkey"))
      .groupBy(col("r_name"), col("n_name"))
      .agg(sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
        .cast("bigint").as("revenue_cents"))
      .orderBy(col("r_name"), col("n_name"))
  }

  val q5Oracle: String =
    """SELECT r_name, n_name,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS revenue_cents
      |FROM lineitem
      |JOIN orders ON l_orderkey = o_orderkey
      |JOIN customer ON o_custkey = c_custkey
      |JOIN nation ON c_nationkey = n_nationkey
      |JOIN region ON n_regionkey = r_regionkey
      |GROUP BY r_name, n_name ORDER BY r_name, n_name""".stripMargin

  def qwWindow(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val w = Window
      .partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey").asc)
    t(spark, sfDir, "orders")
      .withColumn("rn", row_number().over(w).cast("int"))
      .where(col("rn") <= 2)
      .select(col("o_custkey"), col("o_orderkey"), col("rn"))
      .orderBy(col("o_custkey"), col("rn"))
  }

  val qwOracle: String =
    """SELECT o_custkey, o_orderkey, CAST(rn AS INTEGER) AS rn FROM (
      |  SELECT o_custkey, o_orderkey,
      |    row_number() OVER (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey ASC) AS rn
      |  FROM orders) WHERE rn <= 2 ORDER BY o_custkey, rn""".stripMargin

  def qsSetOp(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "customer")
      .select(col("c_custkey"))
      .except(
        t(spark, sfDir, "orders")
          .where(col("o_orderstatus") === "F")
          .select(col("o_custkey").as("c_custkey")))
      .orderBy(col("c_custkey"))

  val qsOracle: String =
    """SELECT c_custkey FROM customer
      |EXCEPT SELECT o_custkey AS c_custkey FROM orders WHERE o_orderstatus = 'F'
      |ORDER BY c_custkey""".stripMargin

  /** Grouping sets (inherited rollup surface): per-(status,priority) counts
    * plus per-status subtotals plus a grand total.
    */
  def qgRollup(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .rollup(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"))
      .select(
        coalesce(col("o_orderstatus"), lit("ALL")).as("status"),
        coalesce(col("o_orderpriority"), lit("ALL")).as("priority"),
        col("n"))
      .orderBy(col("status"), col("priority"))

  val qgOracle: String =
    """SELECT coalesce(o_orderstatus, 'ALL') AS status,
      |  coalesce(o_orderpriority, 'ALL') AS priority, COUNT(*) AS n
      |FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority)
      |ORDER BY status, priority""".stripMargin

  def qs2Intersect(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "orders")
      .where(col("o_orderstatus") === "F")
      .select(col("o_custkey"))
      .intersect(
        t(spark, sfDir, "orders")
          .where(col("o_orderstatus") === "O")
          .select(col("o_custkey")))
      .orderBy(col("o_custkey"))

  val qs2Oracle: String =
    """SELECT o_custkey FROM orders WHERE o_orderstatus = 'F'
      |INTERSECT SELECT o_custkey FROM orders WHERE o_orderstatus = 'O'
      |ORDER BY o_custkey""".stripMargin

  /** The ANN production operating point (nprobe=4 ≪ nClusters) made
    * CORRECTNESS-verifiable (round-10 verdict item #1). Recall at this
    * point is a fixture property — 0/10 on sf0.1's uniform-random vectors,
    * which carry no neighborhood structure to recover (GateProbe, round-10
    * BENCHNOTES; its source is under BENCHNOTES "Retired tools") — so a recall oracle would gate the fixture, not the code.
    * Instead this gates the EXACT IVF contract (reference
    * `src/ivf/index.rs:57-63`): the indexed result must equal the
    * brute-force top-k over exactly the probed cells' members. The expected
    * set is re-derived independently of the production path end to end
    * (round-10 verdict item #7): the probed-cell set comes from a SQL
    * argmin-4 over a centroid-distance table (the codegen'd
    * `array_distance` expression — NOT `findClosestCentroids`, so a
    * probe-order bug cannot shift both sides together), and home cells are
    * recomputed with the `nearest_centroid` kernel rather than read from
    * the stored inverted lists. A broken build-time assignment, probe,
    * selective fetch, or rank all flip `n_mismatch` and fail the hash
    * against the constant oracle. Quality at the operating point stays
    * tracked by the bench recall metrics, where floors belong; the raw
    * path's timing stays in Bench under this name.
    */
  def va1AnnNprobe4(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val (ti, centroids) = IndexManager.ensureWithCentroids(spark, path, "embedding")
    require(ti.files.size == 1,
      s"va1 gate assumes the single-file fixture layout; got ${ti.files.size} files")
    val k = 10
    val nCells = centroids.length / ti.dim
    val probed = spark
      .createDataFrame((0 until nCells).map(c =>
        (c, centroids.slice(c * ti.dim, (c + 1) * ti.dim).toSeq)))
      .toDF("_pcell", "_centroid")
      .select(col("_pcell"), graft.functions
        .array_distance(
          col("_centroid").cast("array<float>"),
          graft.functions.float_vector(queryVec))
        .as("_pd"))
      .orderBy(col("_pd"), col("_pcell"))
      .limit(4)
      .collect().map(r => Int.box(r.getInt(0)))
    val members = ops.Similarity
      .withCell(t(spark, sfDir, "embeddings"), "embedding", centroids, ti.dim)
      .where(col("_cell").isin(probed: _*))
    val expect = VectorTopK.bruteForce(members, "embedding", queryVec, k)
      .select(col("vec_id").as("_eid"))
    VectorTopK
      .indexed(spark, path, "embedding", queryVec, k,
        VectorTopK.Options(nprobe = 4))
      .select(col("vec_id"))
      .join(expect, col("vec_id") === col("_eid"), "full")
      .agg(
        count(col("vec_id")).as("n_results"),
        count(when(col("vec_id").isNull || col("_eid").isNull, 1)).as("n_mismatch"))
      .select(
        lit(10L).as("k"),
        col("n_results").cast("bigint").as("n_results"),
        col("n_mismatch").cast("bigint").as("n_mismatch"))
  }

  val va1Oracle: String =
    """SELECT CAST(10 AS BIGINT) AS k, CAST(10 AS BIGINT) AS n_results,
      |  CAST(0 AS BIGINT) AS n_mismatch""".stripMargin

  def qeEventsHourly(spark: SparkSession, sfDir: String): DataFrame =
    // events.ts is TIMESTAMP(MICROS) without tz — Spark reads TIMESTAMP_NTZ,
    // which date_format renders directly (no session-tz shift).
    t(spark, sfDir, "events")
      .groupBy(
        date_format(col("ts"), "yyyy-MM-dd HH").as("hour"),
        col("event_type"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("hour"), col("event_type"))

  val qeOracle: String =
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Per-user event sequences ([[ops.Corpus.assembleSequences]]): the
    * first 20 event types per user in (ts, event_id) order, joined to one
    * string for the cross-engine gate. The window cap runs BEFORE the
    * aggregation — the hot-key-bounded sequence-assembly primitive.
    */
  def qe2UserSequences(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .assembleSequences(
        t(spark, sfDir, "events"),
        col("user_id"), Seq(col("ts"), col("event_id")), col("event_type"),
        maxLen = 20)
      .select(
        col("key").as("user_id"),
        concat_ws(">", col("seq")).as("seq_str"),
        col("n"))
      .orderBy(col("user_id"))

  val qe2Oracle: String =
    """SELECT user_id,
      |  array_to_string((list(event_type ORDER BY ts, event_id))[1:20], '>') AS seq_str,
      |  CAST(least(count(*), 20) AS INTEGER) AS n
      |FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Sequence-context features ([[ops.Features.lagFeatures]]): per-user
    * event rank, inter-event gap, and 1-hour rolling count — the
    * behavioral-model feature pass, gated against DuckDB's identical
    * window chain (rank/lag tie-broken on event_id; the rolling count is
    * time-RANGE framed, so tied timestamps share a frame in both
    * engines).
    */
  def qe3LagFeatures(spark: SparkSession, sfDir: String): DataFrame =
    ops.Features
      .lagFeatures(
        t(spark, sfDir, "events"),
        col("user_id"), col("ts"), col("event_id"), windowUs = 3600L * 1000000L)
      .select(col("event_id"), col("user_id"), col("seq"), col("gap_us"), col("rolling_n"))
      .orderBy(col("event_id"))

  val qe3Oracle: String =
    """SELECT event_id, user_id,
      |  CAST(row_number() OVER w AS INT) AS seq,
      |  epoch_us(ts) - lag(epoch_us(ts), 1) OVER w AS gap_us,
      |  CAST(count(*) OVER (PARTITION BY user_id ORDER BY epoch_us(ts)
      |       RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW) AS BIGINT)
      |    AS rolling_n
      |FROM events
      |WINDOW w AS (PARTITION BY user_id ORDER BY epoch_us(ts), event_id)
      |ORDER BY event_id""".stripMargin

  /** Streaming lag features ([[streaming.EventStreams.lagFeaturesStream]]):
    * the events table staged as two TIME-SPLIT files replayed one per
    * micro-batch — the second batch's first event per user needs the
    * state carried from the first (seq counter, last timestamp, rolling
    * window), so this gates genuine cross-batch state, not just replay
    * plumbing. Shares qe3's batch oracle.
    */
  def st15StreamLagFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val events = t(spark, sfDir, "events")
    val Row(lo: Long, hi: Long) = events
      .agg(
        unix_micros(min(col("ts")).cast("timestamp")),
        unix_micros(max(col("ts")).cast("timestamp")))
      .head()
    val cutoff = lo + (hi - lo) / 2
    val us = unix_micros(col("ts").cast("timestamp"))
    val stage = java.nio.file.Files.createTempDirectory("graft-st15-stage").toString
    events.where(us < cutoff).coalesce(1).write.mode("overwrite").parquet(stage)
    // lagFeaturesStream's state is order-sensitive (unlike st13/st14's
    // order-free replays): pin the replay order explicitly — equal mtimes
    // would leave FileStreamSource's (mtime, path) order to random
    // part-file names (round-10 advice item)
    def parts() = new java.io.File(stage).listFiles()
      .filter(_.getName.startsWith("part-")).toSet
    val firstBatch = parts()
    events.where(us >= cutoff).coalesce(1).write.mode("append").parquet(stage)
    firstBatch.foreach(_.setLastModified(1000000L): Unit)
    (parts() -- firstBatch).foreach(_.setLastModified(2000000L): Unit)
    val stream = spark.readStream.schema(events.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    streaming.EventStreams
      .replayToTable(
        spark,
        streaming.EventStreams.lagFeaturesStream(spark, stream, 3600L * 1000000L),
        OutputMode.Append(), statePartitions = Some(ReplayStatePartitions))
      .select(col("event_id"), col("user_id"), col("seq"), col("gap_us"), col("rolling_n"))
      .orderBy(col("event_id"))
  }

  /** Range-sorted layout: events rewritten range-partitioned + sorted on
    * (user_id, ts) so per-user time-range scans prune at the row-group
    * level (zone-map skipping — LayoutSpec proves the pruning; this query
    * gates that relayout never changes results). Aggregates a user-id
    * range off the laid-out copy against the plain-table oracle.
    */
  def lq1SortedLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lq1_events"
    val laid = ops.Layout.writeSortedBy(
      t(spark, sfDir, "events"), dir, Seq("user_id", "ts"), numFiles = 8)
    laid
      .where(col("user_id") >= 50 && col("user_id") < 100)
      .groupBy(col("user_id"))
      // UTC session: NTZ→TIMESTAMP cast is instant-preserving, so
      // unix_micros matches DuckDB's epoch_us
      .agg(
        count(lit(1)).as("n"),
        unix_micros(min(col("ts")).cast("timestamp")).as("first_ts_us"))
      .orderBy(col("user_id"))
  }

  val lq1Oracle: String =
    """SELECT user_id, COUNT(*) AS n, CAST(epoch_us(MIN(ts)) AS BIGINT) AS first_ts_us
      |FROM events WHERE user_id >= 50 AND user_id < 100
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** Cell-grouped relayout of the embeddings table
    * ([[ops.Layout.writeByCell]] — the write-once shuffle that converts
    * candidate-proportional pruning into actual IO savings, measured 12×
    * on coarse reads in the round-6 scale probe), gated on exact content
    * preservation: the reread table must hold exactly the source rows.
    */
  def lq3ByCellLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val (ti, centroids) = IndexManager.ensureWithCentroids(spark, path, "embedding")
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_lq3_embeddings"
    val laid = ops.Layout.writeByCell(
      spark.read.parquet(path), out, "embedding", centroids, ti.dim, numFiles = 4)
    laid
      .select(col("vec_id"), col("label"))
      .orderBy(col("vec_id"))
  }

  val lq3Oracle: String =
    """SELECT vec_id, label FROM embeddings ORDER BY vec_id""".stripMargin

  /** Z-order layout ([[ops.Layout.writeZOrder]]): events rewritten
    * Morton-interleaved on (user_id, value) so BOX predicates over both
    * dims prune row groups — the multi-dimensional selective-scan layout
    * ([[lq1SortedLayout]] only prunes on its leading column; LayoutSpec
    * proves the per-file bounding boxes and trailing-dim pruning). This
    * query gates that the relayout never changes results: a 2-D box
    * aggregate off the z-ordered copy against the plain-table oracle,
    * integer-exact via the milli-cents pattern.
    */
  def lq4ZOrderLayout(spark: SparkSession, sfDir: String): DataFrame = {
    val dir = s"${System.getProperty("java.io.tmpdir")}/graft_lq4_events"
    val laid = ops.Layout.writeZOrder(
      t(spark, sfDir, "events"), dir, Seq("user_id", "value"), numFiles = 8)
    laid
      .where(col("user_id") >= 50 && col("user_id") < 200 &&
        col("value") >= 10.0 && col("value") < 60.0)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(round(col("value") * 1000).cast("bigint")).as("value_millis"))
      .orderBy(col("event_type"))
  }

  val lq4Oracle: String =
    """SELECT event_type, COUNT(*) AS n,
      |  CAST(SUM(CAST(round(value * 1000) AS BIGINT)) AS BIGINT) AS value_millis
      |FROM events
      |WHERE user_id >= 50 AND user_id < 200 AND value >= 10.0 AND value < 60.0
      |GROUP BY event_type ORDER BY event_type""".stripMargin

  // ------------------------------------------------------- text / dedup

  def dq1ExactDedup(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  val dq1Oracle: String =
    """SELECT CAST(MIN(doc_id) AS BIGINT) AS doc_id FROM documents
      |GROUP BY text ORDER BY doc_id""".stripMargin

  def tq1TokenCount(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.tokenCount(col("text")).cast("int").as("n_tokens"))
      .orderBy(col("doc_id"))

  // the list_filter mirrors the library's non-empty-token rule (blank text
  // = 0 tokens, not the phantom '' that a bare split leaves)
  val tq1Oracle: String =
    """SELECT doc_id,
      |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''))
      |    AS INTEGER) AS n_tokens
      |FROM documents ORDER BY doc_id""".stripMargin

  def tq2TextStats(spark: SparkSession, sfDir: String): DataFrame = {
    val toks = ops.TextAnalysis.tokens(col("text"))
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        length(col("text")).cast("int").as("n_chars"),
        size(array_distinct(toks)).cast("int").as("n_distinct_tokens"),
        size(filter(toks, t => t === "the" || t === "a")).cast("int").as("n_stopwords"))
      .orderBy(col("doc_id"))
  }

  val tq2Oracle: String =
    """SELECT doc_id,
      |  CAST(length(text) AS INTEGER) AS n_chars,
      |  CAST(len(list_distinct(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |       t -> t <> ''))) AS INTEGER) AS n_distinct_tokens,
      |  CAST(len(list_filter(regexp_split_to_array(trim(text), '\s+'),
      |       t -> t = 'the' OR t = 'a')) AS INTEGER) AS n_stopwords
      |FROM documents ORDER BY doc_id""".stripMargin

  // --------------------------------------------- dedup / text extensions

  /** Shared DuckDB CTE: distinct word-3-gram shingle sets per doc. */
  private val duckShingleCte: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk FROM documents),
      |sh AS (
      |  SELECT doc_id,
      |    list_distinct([tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]
      |                   for i in range(1, len(tk) - 1)]) shingles
      |  FROM toks WHERE len(tk) >= 3)""".stripMargin

  /** Exact-jaccard near-dup pairs — the shared oracle for every
    * candidate-generation strategy (minhash / simhash / inverted index):
    * the verify step makes precision exact, and on this corpus the dup
    * pairs sit at jaccard ≈ 0.98 (next pair < 0.2), so recall is certain.
    */
  private val duckNearDupOracle: String =
    s"""$duckShingleCte
       |SELECT doc_a, doc_b FROM (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b,
       |    len(list_intersect(a.shingles, b.shingles))::DOUBLE /
       |    len(list_distinct(list_concat(a.shingles, b.shingles))) j
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  def dq2MinhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .minhashNearDupPairs(t(spark, sfDir, "documents"), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  /** SimHash recall: guaranteed for hamming <= numBlocks-1 = 7 by banding,
    * probabilistic in the 8..hammingMax band (block-sharing pairs survive
    * via the small-bucket or second-block-refined hot-bucket path, and the
    * exact-jaccard verify keeps precision exact). Every true dup pair at all
    * three sf corpora is recovered (measured; see simhashNearDupPairs docs);
    * pathological perturbations beyond that are MinHash's regime (dq2).
    */
  def dq3SimhashNearDup(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .simhashNearDupPairs(t(spark, sfDir, "documents"), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  /** Dedup-scheme evaluation ([[ops.Dedup.pairQuality]]): exact-text dup
    * pairs scored against the near-dup truth set — how much near-duplicate
    * mass exact dedup misses, as one (counts, precision, recall, f1) row.
    * The Spark truth side is the minhash pair set, which dq2 proves equals
    * the all-pairs jaccard set on this corpus; the oracle recomputes both
    * sides from scratch (text self-join; all-pairs jaccard) with the same
    * ratio arithmetic, so the gate is exact.
    */
  def dq10PairQuality(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val found = docs.as("a")
      .join(
        docs.as("b"),
        col("a.text") === col("b.text") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("doc_a"), col("b.doc_id").as("doc_b"))
    val truth = ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    ops.Dedup.pairQuality(found, truth)
  }

  val dq10Oracle: String =
    s"""$duckShingleCte,
       |truth AS (
       |  SELECT DISTINCT a.doc_id pa, b.doc_id pb
       |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
       |  WHERE len(list_intersect(a.shingles, b.shingles))::DOUBLE /
       |        len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.5),
       |found AS (
       |  SELECT DISTINCT a.doc_id pa, b.doc_id pb
       |  FROM documents a JOIN documents b
       |    ON a.text = b.text AND a.doc_id < b.doc_id),
       |counts AS (
       |  SELECT
       |    (SELECT CAST(count(*) AS BIGINT) FROM found) n_found,
       |    (SELECT CAST(count(*) AS BIGINT) FROM truth) n_truth,
       |    (SELECT CAST(count(*) AS BIGINT) FROM found JOIN truth
       |       ON found.pa = truth.pa AND found.pb = truth.pb) n_hit),
       |ratios AS (
       |  SELECT n_found, n_truth, n_hit,
       |    CASE WHEN n_found = 0 THEN 0.0
       |         ELSE n_hit::DOUBLE / n_found END AS precision,
       |    CASE WHEN n_truth = 0 THEN 0.0
       |         ELSE n_hit::DOUBLE / n_truth END AS recall
       |  FROM counts)
       |SELECT n_found, n_truth, n_hit, precision, recall,
       |  CASE WHEN precision + recall = 0.0 THEN 0.0
       |       ELSE 2.0 * precision * recall / (precision + recall) END AS f1
       |FROM ratios""".stripMargin

  def dq4InvIndexNearDup(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .invertedIndexNearDupPairs(t(spark, sfDir, "documents"), "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))

  def dq5EmbedNearDup(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .embeddingNearDupPairs(t(spark, sfDir, "embeddings"), "vec_id", "embedding", 0.5)
      .orderBy(col("id_a"), col("id_b"))

  val dq5Oracle: String =
    """SELECT a.vec_id AS id_a, b.vec_id AS id_b
      |FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
      |WHERE list_cosine_similarity(a.embedding::FLOAT[], b.embedding::FLOAT[]) >= 0.5
      |ORDER BY id_a, id_b""".stripMargin

  /** Fixed 4×64 centroid matrix for the SemDeDup gate: multiples of 0.1 so
    * the SQL literals round-trip to identical float32 bits in both engines
    * (the queryVec trick, per centroid row). Deterministic and data-free —
    * the oracle needs the SAME cell assignment expressible as SQL literals,
    * which trained centroids can't be. The min assignment margin on the
    * sf0.01 fixture is ~1.7e-3, orders above cross-engine float noise.
    */
  private val semCentroidK = 4
  private val semCentroids: Array[Float] =
    Array.tabulate(semCentroidK * 64) { i =>
      val m = i / 64
      val j = i % 64
      (((j * 37 + m * 11) % 19) - 9) / 10.0f
    }

  /** SemDeDup (arXiv:2303.09540) over the embeddings table: k-means-cell-
    * local cosine pruning with the deterministic id-dominance keep rule —
    * a doc is dropped when a smaller-id doc in its cell is >= 0.4 cosine-
    * similar. Cells come from the fixed [[semCentroids]] so the DuckDB
    * oracle can recompute the identical assignment (argmin over 4 literal
    * centroid distances; `<=` chains = first-minimum-wins, matching
    * [[graft.functions.VectorKernels.nearestCentroid]]); the cell cap does
    * not engage at fixture scale, so the operator output IS the dominance
    * rule, hash-gated end to end.
    */
  def sd1SemDedup(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .semDedup(t(spark, sfDir, "embeddings"), "vec_id", "embedding",
        semCentroids, 64, threshold = 0.4)
      .select(col("vec_id"))
      .orderBy(col("vec_id"))

  val sd1Oracle: String = {
    def cLit(m: Int): String =
      (0 until 64)
        .map(j => ((((j * 37 + m * 11) % 19) - 9) / 10.0f).toString)
        .mkString("[", ", ", "]") + "::FLOAT[]"
    val d = (0 until semCentroidK).map(m => s"list_distance(v, ${cLit(m)})")
    s"""WITH cells AS (
       |  SELECT vec_id, v,
       |    CASE WHEN ${d(0)} <= ${d(1)} AND ${d(0)} <= ${d(2)} AND ${d(0)} <= ${d(3)} THEN 0
       |         WHEN ${d(1)} <= ${d(2)} AND ${d(1)} <= ${d(3)} THEN 1
       |         WHEN ${d(2)} <= ${d(3)} THEN 2 ELSE 3 END AS cell
       |  FROM (SELECT vec_id, embedding::FLOAT[] AS v FROM embeddings))
       |SELECT x.vec_id FROM cells x
       |WHERE NOT EXISTS (
       |  SELECT 1 FROM cells y
       |  WHERE y.cell = x.cell AND y.vec_id < x.vec_id
       |    AND list_cosine_similarity(y.v, x.v) >= 0.4)
       |ORDER BY x.vec_id""".stripMargin
  }

  /** Exact duplicated-substring spans at 8-token-gram granularity
    * ([[ops.Dedup.duplicatedNgramSpans]] — the linear posting-list
    * re-expression of suffix-array substring dedup). The oracle recomputes
    * spans from 1-based DuckDB gram positions and shifts to the operator's
    * 0-based token indexes.
    */
  def dq8DupSpans(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .duplicatedNgramSpans(t(spark, sfDir, "documents"), "doc_id", "text", 8)
      .withColumnRenamed("id", "doc_id")
      .orderBy(col("doc_id"), col("span_start"))

  /** Shared DuckDB CTE chain: maximal duplicated 8-gram spans per doc,
    * 1-based inclusive token positions [s, e]. Mirrors
    * [[ops.Dedup.duplicatedNgramSpans]]: gram duplicated iff it occurs >= 2
    * times corpus-wide; islands merge starts <= 8 apart.
    */
  private val duckSpanCte: String =
    """WITH toks AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') tk FROM documents),
      |grams AS (
      |  SELECT doc_id,
      |    unnest(range(1, len(tk) - 6)) AS pos,
      |    unnest([array_to_string(tk[i:i+7], ' ') for i in range(1, len(tk) - 6)]) AS gram
      |  FROM toks WHERE len(tk) >= 8),
      |starts AS (
      |  SELECT doc_id, pos FROM (
      |    SELECT doc_id, pos, COUNT(*) OVER (PARTITION BY gram) cnt FROM grams)
      |  WHERE cnt > 1),
      |flagged AS (
      |  SELECT doc_id, pos,
      |    CASE WHEN pos - LAG(pos) OVER (PARTITION BY doc_id ORDER BY pos) <= 8
      |         THEN 0 ELSE 1 END brk
      |  FROM starts),
      |islands AS (
      |  SELECT doc_id, pos, SUM(brk) OVER (PARTITION BY doc_id ORDER BY pos) isl
      |  FROM flagged),
      |spans AS (
      |  SELECT doc_id, MIN(pos) s, MAX(pos) + 7 e FROM islands GROUP BY doc_id, isl)""".stripMargin

  val dq8Oracle: String =
    s"""$duckSpanCte
       |SELECT doc_id, CAST(s - 1 AS INTEGER) AS span_start,
       |  CAST(e - 1 AS INTEGER) AS span_end
       |FROM spans ORDER BY doc_id, span_start""".stripMargin

  /** Corpus with duplicated spans scrubbed ([[ops.Dedup.dropDuplicatedSpans]]);
    * both sides whitespace-normalize (split + single-space rejoin), and a
    * fully-scrubbed doc is the empty string (COALESCE — DuckDB's
    * array_to_string of an empty list is NULL, Spark's array_join is '').
    */
  def dq9SpanScrub(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .dropDuplicatedSpans(
        t(spark, sfDir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 8)
      .orderBy(col("doc_id"))

  val dq9Oracle: String =
    s"""$duckSpanCte,
       |agg AS (
       |  SELECT doc_id, list({'s': s, 'e': e}) sp FROM spans GROUP BY doc_id)
       |SELECT t.doc_id,
       |  COALESCE(CASE WHEN a.sp IS NULL THEN array_to_string(tk, ' ')
       |    ELSE array_to_string([tk[i] for i in range(1, len(tk) + 1)
       |           if len(list_filter(a.sp, z -> z['s'] <= i AND i <= z['e'])) = 0], ' ')
       |  END, '') AS text
       |FROM toks t LEFT JOIN agg a USING (doc_id)
       |ORDER BY t.doc_id""".stripMargin

  /** Segment-level (paragraph) dedup ([[ops.Dedup.blockDedup]]): drop every
    * repeated 16-word block occurrence except its first `(doc_id, idx)`
    * sighting corpus-wide, stitch documents back from survivors — the
    * RefinedWeb paragraph-dedup shape on this structureless fixture (the
    * block grid stands in for paragraph boundaries). Full reassembled
    * strings are hash-gated; the oracle re-derives the whole pipeline as
    * window SQL.
    */
  def dq11SegmentDedup(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .blockDedup(
        t(spark, sfDir, "documents").select(col("doc_id"), col("text")),
        "doc_id", "text", 16)
      .select(col("doc_id"), col("dedup_text"))
      .orderBy(col("doc_id"))

  val dq11Oracle: String =
    s"""WITH w AS (
       |  SELECT doc_id, string_split(text, ' ') AS words FROM documents),
       |idx AS (
       |  SELECT doc_id, words,
       |         unnest(range(CAST((len(words) + 15) // 16 AS BIGINT))) AS seg_idx
       |  FROM w),
       |segs AS (
       |  SELECT doc_id, seg_idx,
       |         array_to_string(words[CAST(seg_idx*16+1 AS BIGINT):CAST(seg_idx*16+16 AS BIGINT)], ' ') AS seg
       |  FROM idx),
       |keep AS (
       |  SELECT doc_id, seg_idx, seg,
       |         row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
       |  FROM segs)
       |SELECT d.doc_id,
       |       coalesce(k.t, '') AS dedup_text
       |FROM documents d LEFT JOIN (
       |  SELECT doc_id, string_agg(seg, ' ' ORDER BY seg_idx) AS t
       |  FROM keep WHERE rn = 1 GROUP BY doc_id) k USING (doc_id)
       |ORDER BY d.doc_id""".stripMargin

  /** Cross-corpus (incremental-ingest) dedup: the doc_id % 10 == 0 slice
    * plays the incoming batch, the rest the existing corpus; emit every
    * (incoming, corpus) near-dup pair. Exercises the asymmetric bucket
    * join — batch-side work only, corpus signatures reusable.
    */
  def dx1CrossDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    ops.Dedup
      .minhashNearDupAgainst(
        docs.where(col("doc_id") % 10 =!= 0),
        docs.where(col("doc_id") % 10 === 0),
        "doc_id", "text")
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val dx1Oracle: String =
    s"""$duckShingleCte
       |SELECT doc_a, doc_b FROM (
       |  SELECT a.doc_id doc_a, b.doc_id doc_b,
       |    len(list_intersect(a.shingles, b.shingles))::DOUBLE /
       |    len(list_distinct(list_concat(a.shingles, b.shingles))) j
       |  FROM sh a JOIN sh b
       |    ON a.doc_id % 10 = 0 AND b.doc_id % 10 != 0)
       |WHERE j >= 0.5 ORDER BY doc_a, doc_b""".stripMargin

  /** Bloom-pruned exact novelty filter ([[ops.Dedup.exactNovelAgainst]]):
    * which batch rows are NEW to the corpus? Corpus = the doc_id % 3 == 0
    * slice, batch = doc_id % 10 == 0 — overlapping at % 30 == 0, the
    * re-crawl-containing-known-docs scenario, so both the definitely-novel
    * fork (bloom negative) and the verify fork (bloom positive: 17 true
    * dups + fpp sliver) carry rows. The sharded bloom prunes, the
    * broadcast verify semi-join restores exactness, so the result is
    * bit-equal to the plain NOT EXISTS the oracle runs — the corpus is
    * never shuffled on either fork.
    */
  def dx2BloomNovel(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    ops.Dedup
      .exactNovelAgainst(
        docs.where(col("doc_id") % 3 === 0),
        docs.where(col("doc_id") % 10 === 0),
        col("text"),
        expectedItems = 4096L)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val dx2Oracle: String =
    """SELECT doc_id FROM documents i
      |WHERE doc_id % 10 = 0 AND NOT EXISTS (
      |  SELECT 1 FROM documents c WHERE c.doc_id % 3 = 0 AND c.text = i.text)
      |ORDER BY doc_id""".stripMargin

  /** Near-dup CLUSTERING: minhash pairs → connected components → one
    * `(doc_id, cluster_id)` row per clustered doc, cluster_id = min member
    * id. The oracle recomputes the exact-jaccard pair graph and walks its
    * transitive closure with a recursive CTE — so this gate covers both
    * pair recall AND the component collapse.
    */
  def dq7DupClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val pairs = ops.Dedup
      .minhashNearDupPairs(t(spark, sfDir, "documents"), "doc_id", "text")
    ops.Dedup.connectedComponents(pairs, "doc_a", "doc_b").orderBy(col("doc_id"))
  }

  val dq7Oracle: String =
    s"""${duckShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id doc_a, b.doc_id doc_b,
       |      len(list_intersect(a.shingles, b.shingles))::DOUBLE /
       |      len(list_distinct(list_concat(a.shingles, b.shingles))) j
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |  WHERE j >= 0.5),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |walk(id, reach) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT w.id, e.d FROM walk w JOIN edges e ON e.s = w.reach)
       |SELECT id AS doc_id, min(reach) AS cluster_id
       |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin

  /** Leakage-safe split ([[ops.Corpus.leakageSafeSplit]]): near-dup
    * clusters (minhash pairs → connected components) split as a unit by
    * the cluster id, singletons by their own id — val/test can never hold
    * a near-dup of a train doc. The oracle re-derives the clusters with
    * the dq7 recursive-CTE transitive closure and applies the identical
    * md5-bucket rule, so the assignment is gated end to end.
    */
  def cq6LeakageSafeSplit(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val pairs = ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    ops.Corpus.leakageSafeSplit(docs, "doc_id", pairs)
      .select(col("doc_id"), col("split"))
      .orderBy(col("doc_id"))
  }

  val cq6Oracle: String =
    s"""${dq7Oracle.split("\n").dropRight(2).mkString("\n")},
       |clusters AS (
       |  SELECT id AS doc_id, min(reach) AS cluster_id FROM walk GROUP BY id)
       |SELECT d.doc_id,
       |  CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val' ELSE 'test' END AS split
       |FROM (
       |  SELECT d.doc_id,
       |    ('0x' || substr(md5(CAST(COALESCE(c.cluster_id, d.doc_id) AS VARCHAR)), 1, 2))::INT AS b
       |  FROM documents d LEFT JOIN clusters c ON c.doc_id = d.doc_id) d
       |ORDER BY d.doc_id""".stripMargin

  def tq3LangId(spark: SparkSession, sfDir: String): DataFrame = {
    // one native marker_counts pass feeds both outputs
    val en = ops.TextAnalysis.LangMarkers.indexWhere(_._1 == "en")
    t(spark, sfDir, "documents")
      .select(col("doc_id"), ops.TextAnalysis.allMarkerCounts(col("text")).as("_mc"))
      .select(
        col("doc_id"),
        col("_mc").getItem(en).cast("int").as("c_en"),
        ops.TextAnalysis.langIdFromCounts(col("_mc")).as("pred_lang"))
      .orderBy(col("doc_id"))
  }

  val tq3Oracle: String = {
    val markerSql = ops.TextAnalysis.LangMarkers.map { case (lang, ms) =>
      val list = ms.map(m => s"'$m'").mkString(", ")
      s"len(list_filter(regexp_split_to_array(trim(text), '\\s+'), w -> w IN ($list))) AS c_$lang"
    }.mkString(",\n  ")
    val langs = ops.TextAnalysis.LangMarkers.map(_._1)
    val greatest = s"greatest(${langs.map("c_" + _).mkString(", ")})"
    val caseArms = langs.map(l => s"WHEN c_$l = m THEN '$l'").mkString(" ")
    s"""WITH counts AS (SELECT doc_id, $markerSql FROM documents),
       |m AS (SELECT *, $greatest AS m FROM counts)
       |SELECT doc_id, CAST(c_en AS INTEGER) AS c_en,
       |  CASE $caseArms END AS pred_lang
       |FROM m ORDER BY doc_id""".stripMargin
  }

  def tq4Fingerprint(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"), ops.TextAnalysis.fingerprint(col("text")).as("fp"))
      .orderBy(col("doc_id"))

  val tq4Oracle: String =
    """SELECT doc_id, md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')) AS fp
      |FROM documents ORDER BY doc_id""".stripMargin

  def tq5SubwordCount(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.subwordCount(col("text")).cast("int").as("n_subwords"))
      .orderBy(col("doc_id"))

  val tq5Oracle: String =
    s"""SELECT doc_id,
       |  CAST(len(regexp_extract_all(text, '${ops.TextAnalysis.SubwordPattern}')) AS INTEGER) AS n_subwords
       |FROM documents ORDER BY doc_id""".stripMargin

  def tq6Quality(spark: SparkSession, sfDir: String): DataFrame =
    ops.TextAnalysis
      .qualityFeatures(t(spark, sfDir, "documents"), "doc_id", "text")
      .select(
        col("doc_id"),
        col("n_chars").cast("int").as("n_chars"),
        col("n_tokens").cast("int").as("n_tokens"),
        col("n_punct").cast("int").as("n_punct"),
        col("distinct_ratio"))
      .orderBy(col("doc_id"))

  // tk is the library's non-empty-token rule; nullif mirrors the engine's
  // NULL distinct_ratio on 0-token (blank) docs
  val tq6Oracle: String =
    """WITH tks AS (
      |  SELECT doc_id, text,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS tk
      |  FROM documents)
      |SELECT doc_id,
      |  CAST(length(text) AS INTEGER) AS n_chars,
      |  CAST(len(tk) AS INTEGER) AS n_tokens,
      |  CAST(length(text) - length(regexp_replace(text, '[!-/:-@\[-`{-~]', '', 'g')) AS INTEGER) AS n_punct,
      |  round(len(list_distinct(tk))::DOUBLE / nullif(len(tk), 0), 6) AS distinct_ratio
      |FROM tks ORDER BY doc_id""".stripMargin

  /** Deterministic content-hash train/val/test split (fingerprint-keyed, so
    * format-noise duplicates land in the same split — no leakage).
    */
  def dq6HashSplit(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(col("doc_id"), ops.Corpus.hashSplit("text").as("split"))
      .orderBy(col("doc_id"))

  val dq6Oracle: String =
    """SELECT doc_id,
      |  CASE WHEN b < 204 THEN 'train' WHEN b < 230 THEN 'val' ELSE 'test' END AS split
      |FROM (
      |  SELECT doc_id,
      |    ('0x' || substr(md5(regexp_replace(lower(trim(text)), '\s+', ' ', 'g')), 1, 2))::INT AS b
      |  FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** Greedy sequence packing: docs chunk into ~200-token packs per
    * 1000-doc shard (window partitioned by shard — no global ordering).
    */
  def tq8Pack(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .packByBudget(
        t(spark, sfDir, "documents"), "doc_id",
        ops.TextAnalysis.tokenCount(col("text")).cast("bigint"), budget = 200L)
      .select(col("doc_id"), col("pack_id"))
      .orderBy(col("doc_id"))

  val tq8Oracle: String =
    """SELECT doc_id,
      |  CAST((doc_id // 1000) * 1000000 + (prev // 200) AS BIGINT) AS pack_id
      |FROM (
      |  SELECT doc_id,
      |    COALESCE(SUM(n) OVER (PARTITION BY doc_id // 1000 ORDER BY doc_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      |  FROM (SELECT doc_id,
      |          len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '')) AS n
      |        FROM documents))
      |ORDER BY doc_id""".stripMargin

  /** Corpus token-count stats: exact interpolated percentiles, one row. */
  def tq7TokenStats(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus.tokenStats(
      t(spark, sfDir, "documents"), "text", Seq(0.5, 0.9, 0.99))

  val tq7Oracle: String =
    """SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
      |  round(quantile_cont(n, 0.5), 6) AS p50,
      |  round(quantile_cont(n, 0.9), 6) AS p90,
      |  round(quantile_cont(n, 0.99), 6) AS p99
      |FROM (SELECT len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''))::DOUBLE AS n
      |      FROM documents)""".stripMargin

  /** Gopher-style repetition quality signals (Rae et al. 2021 §A1.1): share
    * of the most frequent word / word-bigram — one codegen'd projection
    * pass, no shuffle (the oracle's explode+groupBy formulation shuffles
    * every token; the single-pass kernel is the 100 TB shape).
    */
  def tq9Repetition(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        round(graft.functions.top_ngram_ratio(col("text"), 1), 6)
          .as("top_word_ratio"),
        round(graft.functions.top_ngram_ratio(col("text"), 2), 6)
          .as("top_bigram_ratio"))
      .orderBy(col("doc_id"))

  val tq9Oracle: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |tc AS (
      |  SELECT doc_id, t, count(*) AS c
      |  FROM (SELECT doc_id, unnest(ws) AS t FROM w) GROUP BY 1, 2),
      |t1 AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_word_ratio
      |       FROM tc GROUP BY 1),
      |bc AS (
      |  SELECT doc_id, g, count(*) AS c
      |  FROM (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
      |        FROM (SELECT doc_id, ws,
      |                unnest(generate_series(1, len(ws) - 1)) AS i FROM w))
      |  GROUP BY 1, 2),
      |t2 AS (SELECT doc_id, round(max(c)::DOUBLE / sum(c), 6) AS top_bigram_ratio
      |       FROM bc GROUP BY 1)
      |SELECT w.doc_id,
      |  CASE WHEN trim(text) = '' THEN 0 ELSE coalesce(top_word_ratio, 0) END
      |    AS top_word_ratio,
      |  coalesce(top_bigram_ratio, 0) AS top_bigram_ratio
      |FROM w JOIN documents USING (doc_id)
      |LEFT JOIN t1 USING (doc_id) LEFT JOIN t2 USING (doc_id)
      |ORDER BY doc_id""".stripMargin

  /** Benchmark decontamination: training docs (doc_id % 50 != 0) that share
    * a word 4-gram with the held-out eval slice (doc_id % 50 == 0). Runs
    * the hashed-gram scale path (8-byte join keys); the string-gram oracle
    * returns the same ids — DecontaminateSpec pins the two paths equal,
    * and this hash-match re-checks it per round.
    */
  def dc1Decontam(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    ops.Decontaminate
      .contaminatedIds(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 4)
      .orderBy(col("doc_id"))
  }

  val dc1Oracle: String =
    """WITH dw AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE doc_id % 50 <> 0),
      |ew AS (
      |  SELECT regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE doc_id % 50 = 0),
      |dg AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS g
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 3)) AS i FROM dw)),
      |eg AS (
      |  SELECT DISTINCT array_to_string(ws[i:i+3], ' ') AS g
      |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 3)) AS i FROM ew))
      |SELECT DISTINCT doc_id FROM dg JOIN eg USING (g) ORDER BY doc_id""".stripMargin

  /** Graded decontamination ([[ops.Decontaminate.overlapStats]]): per-doc
    * fraction of distinct 3-grams shared with the eval split (PaLM-style
    * threshold signal, vs dc1's any-gram binary). Counts are integers and
    * the fraction is an exact rational rounded to 6 — the ratio idiom.
    */
  /** Semantic decontamination
    * ([[ops.Decontaminate.semanticContaminatedIds]]): training embeddings
    * within cosine 0.3 of any eval-slice embedding — the paraphrase-leakage
    * guard. Broadcast nested-loop exact form (the dq5-style bounded-input
    * oracle shape; [[ops.Similarity.ivfKnnJoin]] is the documented scale
    * path); min boundary margin on this fixture is 1.3e-4, orders above
    * float32 cross-engine noise.
    */
  def dc3SemanticDecontam(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = t(spark, sfDir, "embeddings")
    ops.Decontaminate
      .semanticContaminatedIds(
        emb.where(col("vec_id") % 50 =!= 0),
        emb.where(col("vec_id") % 50 === 0),
        "vec_id", "embedding", threshold = 0.3)
      .orderBy(col("vec_id"))
  }

  val dc3Oracle: String =
    """SELECT DISTINCT a.vec_id FROM embeddings a JOIN embeddings b
      |  ON a.vec_id % 50 <> 0 AND b.vec_id % 50 = 0
      | AND list_cosine_similarity(a.embedding::FLOAT[], b.embedding::FLOAT[]) >= 0.3
      |ORDER BY a.vec_id""".stripMargin

  def dc2OverlapFrac(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    ops.Decontaminate
      .overlapStats(
        docs.where(col("doc_id") % 50 =!= 0),
        docs.where(col("doc_id") % 50 === 0),
        "doc_id", "text", n = 3)
      .orderBy(col("doc_id"))
  }

  val dc2Oracle: String =
    """WITH dw AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE doc_id % 50 <> 0),
      |ew AS (
      |  SELECT regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents WHERE doc_id % 50 = 0),
      |dg AS (
      |  SELECT DISTINCT doc_id, array_to_string(ws[i:i+2], ' ') AS g
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM dw)),
      |eg AS (
      |  SELECT DISTINCT array_to_string(ws[i:i+2], ' ') AS g
      |  FROM (SELECT ws, unnest(generate_series(1, len(ws) - 2)) AS i FROM ew)),
      |m AS (
      |  SELECT doc_id, CAST(count(*) AS BIGINT) AS total_grams,
      |         CAST(sum(CASE WHEN eg.g IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
      |           AS matched_grams
      |  FROM dg LEFT JOIN eg ON dg.g = eg.g GROUP BY doc_id)
      |SELECT doc_id, matched_grams, total_grams,
      |       round(matched_grams::DOUBLE / total_grams, 6) AS frac_r6
      |FROM m ORDER BY doc_id""".stripMargin

  /** Gopher-rule quality filter: keep/drop decision per document as a
    * single codegen'd boolean projection (no shuffle).
    */
  def pq1QualityFilter(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.qualityKeep(col("text")).cast("int").as("keep"))
      .orderBy(col("doc_id"))

  val pq1Oracle: String =
    """WITH w AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM documents),
      |bc AS (
      |  SELECT doc_id, g, count(*) AS c
      |  FROM (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
      |        FROM (SELECT doc_id, ws,
      |                unnest(generate_series(1, len(ws) - 1)) AS i FROM w))
      |  GROUP BY 1, 2),
      |br AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS r FROM bc GROUP BY 1)
      |SELECT w.doc_id,
      |  CAST(len(ws) BETWEEN 20 AND 90
      |    AND len(list_distinct(ws))::DOUBLE / len(ws) >= 0.32
      |    AND coalesce(br.r, 0) <= 0.07 AS INTEGER) AS keep
      |FROM w LEFT JOIN br USING (doc_id) ORDER BY doc_id""".stripMargin

  /** Small-files compaction: events rewritten into ~1 MiB-target files
    * (round-robin repartition sized from input bytes — LayoutSpec pins
    * the file-count collapse); this gate proves compaction never changes
    * content, via an aggregate off the compacted copy against the
    * plain-table oracle.
    */
  def lq2Compact(spark: SparkSession, sfDir: String): DataFrame = {
    val out = s"${System.getProperty("java.io.tmpdir")}/graft_lq2_events"
    ops.Layout
      .compact(spark, s"$sfDir/events.parquet", out, targetFileBytes = 1L << 20)
      .groupBy(col("event_type"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("user_id")).cast("bigint").as("uid_sum"))
      .orderBy(col("event_type"))
  }

  val lq2Oracle: String =
    """SELECT event_type, COUNT(*) AS n, CAST(SUM(user_id) AS BIGINT) AS uid_sum
      |FROM events GROUP BY event_type ORDER BY event_type""".stripMargin

  /** NEAR-dup curation: minhash pairs → connected components → keep one
    * representative per cluster → Gopher-rule quality filter — the
    * full-strength version of cq1's exact-dedup stage, composed end to
    * end (chains a~b~c collapse to a single surviving doc even when (a,c)
    * never paired). Oracle: recursive-CTE transitive closure over the
    * exact-jaccard pair graph, anti-joined, plus pq1's quality predicate.
    */
  def cq2NearDupCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val pairs = ops.Dedup.minhashNearDupPairs(docs, "doc_id", "text")
    val clusters = ops.Dedup.connectedComponents(pairs, "doc_a", "doc_b")
    ops.Dedup.keepRepresentatives(docs, "doc_id", clusters)
      .where(ops.TextAnalysis.qualityKeep(col("text")))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val cq2Oracle: String =
    s"""${duckShingleCte.replaceFirst("WITH ", "WITH RECURSIVE ")},
       |pairs AS (
       |  SELECT doc_a, doc_b FROM (
       |    SELECT a.doc_id doc_a, b.doc_id doc_b,
       |      len(list_intersect(a.shingles, b.shingles))::DOUBLE /
       |      len(list_distinct(list_concat(a.shingles, b.shingles))) j
       |    FROM sh a JOIN sh b ON a.doc_id < b.doc_id)
       |  WHERE j >= 0.5),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM pairs
       |  UNION SELECT doc_b, doc_a FROM pairs),
       |walk(id, reach) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT w.id, e.d FROM walk w JOIN edges e ON e.s = w.reach),
       |nonrep AS (
       |  SELECT id FROM (SELECT id, min(reach) AS m FROM walk GROUP BY id)
       |  WHERE id != m),
       |w AS (
       |  SELECT doc_id, regexp_split_to_array(trim(text), '\\s+') AS ws FROM documents),
       |bc AS (
       |  SELECT doc_id, g, count(*) AS c
       |  FROM (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
       |        FROM (SELECT doc_id, ws,
       |                unnest(generate_series(1, len(ws) - 1)) AS i FROM w))
       |  GROUP BY 1, 2),
       |br AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS r FROM bc GROUP BY 1)
       |SELECT w.doc_id FROM w LEFT JOIN br USING (doc_id)
       |WHERE w.doc_id NOT IN (SELECT id FROM nonrep)
       |  AND len(ws) BETWEEN 20 AND 90
       |  AND len(list_distinct(ws))::DOUBLE / len(ws) >= 0.32
       |  AND coalesce(br.r, 0) <= 0.07
       |ORDER BY doc_id""".stripMargin

  /** Deterministic stratified downsampling by language: English keeps
    * 128/256 buckets (~50%), everything else 192/256 (~75%) — a pure
    * hash-filter at the scan, engine-reproducible.
    */
  def pq2StratifiedSample(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .stratifiedSample(
        t(spark, sfDir, "documents"),
        col("doc_id"), col("lang"),
        Map("en" -> 128), defaultBuckets = 192)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val pq2Oracle: String =
    """SELECT doc_id, lang FROM documents
      |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INT
      |      < (CASE WHEN lang = 'en' THEN 128 ELSE 192 END)
      |ORDER BY doc_id""".stripMargin

  /** Group-wise best-k ([[ops.Corpus.topKByGroup]]): the 4 highest-scoring
    * docs per language under the pq4 classifier logit (doc_id tie-break) —
    * "keep the best documents per domain", with the oracle recomputing the
    * classifier sum and the same window rule. Exact BIGINT scores make the
    * ordering engine-identical.
    */
  def pq6TopKByGroup(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    ops.Corpus
      .topKByGroup(
        docs.select(
          col("doc_id"), col("lang"),
          ops.TextAnalysis.linearLogitFp(col("text"), bowWeights, bowBiasFp)
            .as("logit_fp")),
        col("lang"), col("logit_fp"), col("doc_id"), 4)
      .select(col("doc_id"), col("lang"), col("logit_fp"))
      .orderBy(col("doc_id"))
  }

  lazy val pq6Oracle: String = {
    val values = bowWeights.zipWithIndex
      .map { case (w, b) => s"($b, ${w}::BIGINT)" }
      .mkString(", ")
    s"""WITH wts(b, wt) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id, lang,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') tk
       |  FROM documents),
       |tok AS (SELECT doc_id, len(tk) AS n, unnest(tk) AS t FROM toks),
       |scored AS (
       |  SELECT tok.doc_id, any_value(tok.n) AS n, sum(wts.wt) AS s
       |  FROM tok JOIN wts
       |    ON wts.b = ('0x' || substr(md5(tok.t), 1, 8))::BIGINT % $bowD
       |  GROUP BY tok.doc_id),
       |lg AS (SELECT toks.doc_id, toks.lang,
       |              CAST(scored.n * $bowBiasFp + scored.s AS BIGINT) AS logit_fp
       |       FROM toks JOIN scored USING (doc_id))
       |SELECT doc_id, lang, logit_fp FROM (
       |  SELECT doc_id, lang, logit_fp, row_number() OVER (
       |    PARTITION BY lang ORDER BY logit_fp DESC, doc_id ASC) AS rn
       |  FROM lg)
       |WHERE rn <= 4 ORDER BY doc_id""".stripMargin
  }

  /** Deterministic global shuffle ([[ops.Corpus.globalShuffle]]): every doc
    * gets a (shard, pos) under the seeded-md5 permutation — pretraining's
    * "shuffle once, stream forever" step, reproducible across engines.
    * The oracle recomputes the identical shard rule and per-shard
    * row_number, so the full assignment (not just membership) is
    * bit-equal.
    */
  def pq7GlobalShuffle(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .globalShuffle(
        t(spark, sfDir, "documents").select(col("doc_id")),
        col("doc_id"), shards = 8, seed = "ep1")
      .select(col("doc_id"), col("shard"), col("pos"))
      .orderBy(col("doc_id"))

  val pq7Oracle: String =
    """WITH s AS (
      |  SELECT doc_id, md5('ep1' || doc_id::VARCHAR) AS h,
      |         CAST(('0x' || substr(md5('ep1' || doc_id::VARCHAR), 1, 8))::BIGINT % 8
      |              AS INT) AS shard
      |  FROM documents)
      |SELECT doc_id, shard,
      |       row_number() OVER (PARTITION BY shard ORDER BY h, doc_id) AS pos
      |FROM s ORDER BY doc_id""".stripMargin

  /** Deterministic weighted sampling ([[ops.Corpus.weightedSample]]): keep
    * each doc with probability ~ its token-count-derived quality weight
    * (`least(1, n_tokens/60)`) — the soft quality filter. The oracle
    * recomputes the identical weight in double arithmetic and the same
    * md5-bucket draw, so membership is bit-equal.
    */
  def pq8WeightedSample(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val weight = least(
      lit(1.0), ops.TextAnalysis.tokenCount(col("text")).cast("double") / lit(60))
    ops.Corpus
      .weightedSample(docs, col("doc_id"), weight)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val pq8Oracle: String =
    """SELECT doc_id FROM (
      |  SELECT doc_id,
      |    least(CAST(1 AS DOUBLE),
      |          len(list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> ''))::DOUBLE / 60) AS w
      |  FROM documents)
      |WHERE ('0x' || substr(md5(doc_id::VARCHAR), 1, 2))::INT < w * 256
      |ORDER BY doc_id""".stripMargin

  /** Exact global top-fraction selection ([[ops.Corpus.topFraction]]):
    * keep exactly ceil(0.25·n) documents by (n_chars DESC, doc_id ASC) —
    * the distributed exact-rank cut (range-partition the rank keys, count
    * partitions, extract the k-th key from ONE partition, filter). The
    * oracle is the global window form of the same rule; membership is
    * bit-equal because the rank order is total.
    */
  def pq9TopFraction(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .topFraction(
        t(spark, sfDir, "documents"), col("n_chars"), col("doc_id"), 0.25)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))

  val pq9Oracle: String =
    """SELECT doc_id FROM (
      |  SELECT doc_id,
      |    row_number() OVER (ORDER BY n_chars DESC, doc_id) AS rn,
      |    count(*) OVER () AS n
      |  FROM documents)
      |WHERE rn <= ceil(0.25 * n)
      |ORDER BY doc_id""".stripMargin

  /** Winnowing fingerprints ([[ops.TextAnalysis.winnowingFingerprints]],
    * k=3, w=4): the oracle re-runs the whole algorithm in SQL — k-gram
    * md5-prefix hashes, per-window rightmost-min selection, positional
    * dedup — so selection rule AND positions are gated bit-exact.
    */
  def tq13Winnowing(spark: SparkSession, sfDir: String): DataFrame =
    ops.TextAnalysis
      .winnowingFingerprints(t(spark, sfDir, "documents"), "doc_id", "text", k = 3, w = 4)
      .orderBy(col("doc_id"), col("pos"), col("fp"))

  val tq13Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') ws FROM documents),
      |h AS (
      |  SELECT doc_id,
      |    list_transform(
      |      [array_to_string(ws[i:i+2], ' ') for i in range(1, len(ws) - 1)],
      |      g -> ('0x' || substr(md5(g), 1, 8))::BIGINT) hs
      |  FROM t WHERE len(ws) >= 3),
      |w AS (
      |  SELECT doc_id, hs,
      |    unnest(generate_series(1, greatest(1, len(hs) - 3))) i
      |  FROM h),
      |sel AS (
      |  SELECT DISTINCT doc_id,
      |    i + len(hs[i:i+3])
      |      - list_position(list_reverse(hs[i:i+3]), list_min(hs[i:i+3])) AS pos,
      |    list_min(hs[i:i+3]) AS fp
      |  FROM w)
      |SELECT doc_id, CAST(pos AS INT) AS pos, fp
      |FROM sel ORDER BY doc_id, pos, fp""".stripMargin

  /** Fuzzy-key pairs ([[ops.Dedup.editDistance1Pairs]]): documents whose
    * 12-char text prefixes sit within edit distance 1, via the FastSS
    * deletion-neighborhood join — complete for ed ≤ 1, no n² cross join.
    * The oracle re-derives the variants, the hot-variant cap, the
    * candidate join, and the levenshtein verify in SQL.
    */
  def dq13FuzzyPairs(spark: SparkSession, sfDir: String): DataFrame =
    ops.Dedup
      .editDistance1Pairs(
        t(spark, sfDir, "documents")
          .select(col("doc_id"), substring(col("text"), 1, 12).as("key")),
        "doc_id", "key", maxBucket = 64)
      .orderBy(col("doc_a"), col("doc_b"))

  val dq13Oracle: String =
    """WITH k AS (SELECT doc_id, substr(text, 1, 12) AS key FROM documents),
      |vt AS (
      |  SELECT DISTINCT doc_id, key,
      |    unnest(list_prepend(key,
      |      [key[1:i-1] || key[i+1:] for i in range(1, len(key) + 1)])) AS v
      |  FROM k),
      |keepv AS (SELECT v FROM vt GROUP BY v HAVING count(*) <= 64),
      |pv AS (SELECT t.* FROM vt t JOIN keepv USING (v)),
      |cand AS (
      |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
      |         a.key AS ka, b.key AS kb
      |  FROM pv a JOIN pv b ON a.v = b.v AND a.doc_id < b.doc_id)
      |SELECT doc_a, doc_b, CAST(levenshtein(ka, kb) AS INT) AS dist
      |FROM cand WHERE levenshtein(ka, kb) <= 1
      |ORDER BY doc_a, doc_b""".stripMargin

  /** Fuzzy-key dup clusters: [[ops.Dedup.connectedComponents]] over the
    * dq13 edit-distance-1 pair graph — typo'd identifier variants
    * resolve to one canonical cluster. Oracle = the dq13 chain extended
    * with the dq7 recursive-CTE transitive closure.
    */
  def dq14FuzzyClusters(spark: SparkSession, sfDir: String): DataFrame = {
    val keyed = t(spark, sfDir, "documents")
      .select(col("doc_id"), substring(col("text"), 1, 12).as("key"))
    val pairs = ops.Dedup.editDistance1Pairs(keyed, "doc_id", "key")
    ops.Dedup.connectedComponents(pairs, "doc_a", "doc_b").orderBy(col("doc_id"))
  }

  val dq14Oracle: String =
    s"""${dq13Oracle.split("\n").dropRight(3).mkString("\n")
        .replaceFirst("WITH ", "WITH RECURSIVE ")},
       |fpairs AS (
       |  SELECT doc_a, doc_b FROM cand WHERE levenshtein(ka, kb) <= 1),
       |edges AS (
       |  SELECT doc_a AS s, doc_b AS d FROM fpairs
       |  UNION SELECT doc_b, doc_a FROM fpairs),
       |walk(id, reach) AS (
       |  SELECT s, s FROM edges
       |  UNION
       |  SELECT w.id, e.d FROM walk w JOIN edges e ON e.s = w.reach)
       |SELECT id AS doc_id, min(reach) AS cluster_id
       |FROM walk GROUP BY id ORDER BY doc_id""".stripMargin

  /** Winnowing overlap pairs ([[ops.TextAnalysis.winnowingOverlapPairs]]):
    * pairs sharing ≥ 2 distinct fingerprints under the hot-fp cap — the
    * oracle extends tq13's full SQL re-derivation with the identical
    * frequency prune + self-join, so the pair semantics are gated, not
    * just the fingerprints.
    */
  def dq12WinnowPairs(spark: SparkSession, sfDir: String): DataFrame =
    ops.TextAnalysis
      .winnowingOverlapPairs(
        t(spark, sfDir, "documents"), "doc_id", "text",
        k = 3, w = 4, minShared = 2, maxDocsPerFp = 64)
      .orderBy(col("doc_a"), col("doc_b"))

  val dq12Oracle: String =
    s"""${tq13Oracle.split("\n").dropRight(2).mkString("\n")},
       |fp1 AS (SELECT DISTINCT doc_id, fp FROM sel),
       |keep AS (SELECT fp FROM fp1 GROUP BY fp HAVING count(*) BETWEEN 2 AND 64),
       |pr AS (SELECT f.doc_id, f.fp FROM fp1 f JOIN keep USING (fp)),
       |tot AS (SELECT doc_id, count(*) AS nfp FROM fp1 GROUP BY doc_id),
       |pairs AS (
       |  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       |         CAST(count(*) AS BIGINT) AS shared_fps
       |  FROM pr a JOIN pr b ON a.fp = b.fp AND a.doc_id < b.doc_id
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT p.doc_a, p.doc_b, p.shared_fps,
       |       round(p.shared_fps::DOUBLE / least(ta.nfp, tb.nfp), 6) AS containment
       |FROM pairs p
       |JOIN tot ta ON ta.doc_id = p.doc_a
       |JOIN tot tb ON tb.doc_id = p.doc_b
       |ORDER BY doc_a, doc_b""".stripMargin

  /** Cross-corpus winnowing containment
    * ([[ops.TextAnalysis.winnowingContainsAgainst]]): batch docs
    * (doc_id % 7 = 1, outside the corpus slice) checked for runs already
    * in the corpus slice (doc_id % 3 = 0) — directional containment, the
    * ingest-time contamination probe. Oracle = tq13's full SQL
    * re-derivation sliced two ways + the identical cap/join/threshold.
    */
  def dx3WinnowCross(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    ops.TextAnalysis
      .winnowingContainsAgainst(
        docs.where(col("doc_id") % 3 === 0),
        docs.where(col("doc_id") % 7 === 1 && col("doc_id") % 3 =!= 0),
        "doc_id", "text", k = 3, w = 4, minShared = 2, maxDocsPerFp = 64)
      .orderBy(col("doc_id"), col("corpus_doc"))
  }

  val dx3Oracle: String =
    s"""${tq13Oracle.split("\n").dropRight(2).mkString("\n")},
       |allfp AS (SELECT DISTINCT doc_id, fp FROM sel),
       |cfp AS (SELECT * FROM allfp WHERE doc_id % 3 = 0),
       |keep2 AS (SELECT fp FROM cfp GROUP BY fp HAVING count(*) <= 64),
       |pc AS (SELECT c.doc_id, c.fp FROM cfp c JOIN keep2 USING (fp)),
       |bfp AS (SELECT * FROM allfp WHERE doc_id % 7 = 1 AND doc_id % 3 != 0),
       |bt AS (SELECT doc_id, count(*) AS nb FROM bfp GROUP BY doc_id),
       |cpairs AS (
       |  SELECT b.doc_id, p.doc_id AS corpus_doc,
       |         CAST(count(*) AS BIGINT) AS shared_fps
       |  FROM bfp b JOIN pc p ON p.fp = b.fp
       |  GROUP BY 1, 2 HAVING count(*) >= 2)
       |SELECT p.doc_id, p.corpus_doc, p.shared_fps,
       |       round(p.shared_fps::DOUBLE / bt.nb, 6) AS containment
       |FROM cpairs p JOIN bt ON bt.doc_id = p.doc_id
       |ORDER BY p.doc_id, corpus_doc""".stripMargin

  /** Streaming twin of dx3 via foreachBatch (the IndexIngest/MergeIngest
    * pattern — the containment pipeline aggregates per batch doc, which a
    * single streaming plan can't chain in Append mode, but every batch
    * doc's pairs are computed entirely from its own row + the static
    * corpus, so per-micro-batch application of the BATCH operator unions
    * to exactly the batch result). Two staged key-disjoint files → two
    * micro-batches; shares dx3's oracle.
    */
  def st14StreamWinnowCross(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.Trigger
    val docs = t(spark, sfDir, "documents")
    val corpus = docs.where(col("doc_id") % 3 === 0)
    val batch = docs.where(col("doc_id") % 7 === 1 && col("doc_id") % 3 =!= 0)
    val stage = java.nio.file.Files.createTempDirectory("graft-st14-stage").toString
    batch.where(col("doc_id") % 2 === 0).coalesce(1).write.mode("overwrite").parquet(stage)
    batch.where(col("doc_id") % 2 === 1).coalesce(1).write.mode("append").parquet(stage)
    val work = java.nio.file.Files.createTempDirectory("graft-st14-out").toString
    val outDir = s"$work/out"
    val stream = spark.readStream.schema(batch.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val q = stream.writeStream
      .foreachBatch { (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row], _: Long) =>
        if (!b.isEmpty) {
          ops.TextAnalysis
            .winnowingContainsAgainst(
              corpus, b, "doc_id", "text",
              k = 3, w = 4, minShared = 2, maxDocsPerFp = 64)
            .write.mode("append").parquet(outDir): Unit
        }
      }
      .option("checkpointLocation", s"$work/_checkpoint")
      .trigger(Trigger.AvailableNow())
      .start()
    q.awaitTermination()
    spark.read.parquet(outDir).orderBy(col("doc_id"), col("corpus_doc"))
  }

  /** Size-balanced shards ([[ops.Corpus.balancedShards]]): serpentine
    * deal over the distributed global (n_chars DESC, doc_id) rank —
    * per-shard byte totals equalized without a global window. The oracle
    * is the window form of the identical rank + serpentine rule.
    */
  def sh1BalancedShards(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .balancedShards(
        t(spark, sfDir, "documents"), col("doc_id"), col("n_chars"), shards = 5)
      .orderBy(col("id"))

  val sh1Oracle: String =
    """SELECT doc_id AS id,
      |  CAST(CASE WHEN (rk // 5) % 2 = 0 THEN rk % 5 ELSE 4 - rk % 5 END AS INT)
      |    AS shard
      |FROM (SELECT doc_id,
      |        row_number() OVER (ORDER BY n_chars DESC, doc_id) - 1 AS rk
      |      FROM documents)
      |ORDER BY id""".stripMargin

  /** Classifier-training sufficient statistics ([[ops.Linear.bowMoments]]):
    * the normal-equation moments for ridge-regressing `lang = 'en'` on
    * 16 hashed-BOW buckets — the 100 TB-distributed HALF of quality-
    * classifier training, BIGINT-exact so the whole Gram/moment job
    * hash-gates; the driver-side 17×17 solve and fixed-point deployment
    * are spec-gated end to end (LinearSpec).
    */
  def lr1BowMoments(spark: SparkSession, sfDir: String): DataFrame =
    ops.Linear
      .bowMoments(
        t(spark, sfDir, "documents"), col("doc_id"), col("text"),
        (col("lang") === "en").cast("int"), dim = 16)
      .orderBy(col("kind"), col("i"), col("j"))

  val lr1Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, unnest(regexp_split_to_array(trim(text), '\s+')) AS t
      |  FROM documents WHERE trim(text) != ''),
      |cnt AS (
      |  SELECT doc_id, ('0x' || substr(md5(t), 1, 8))::BIGINT % 16 AS i,
      |         CAST(count(*) AS BIGINT) AS x
      |  FROM tok GROUP BY 1, 2),
      |lab AS (SELECT doc_id, CAST(lang = 'en' AS BIGINT) AS y FROM documents)
      |SELECT * FROM (
      |  SELECT 'xx' AS kind, a.i AS i, b.i AS j, CAST(sum(a.x * b.x) AS BIGINT) AS v
      |  FROM cnt a JOIN cnt b ON a.doc_id = b.doc_id AND a.i <= b.i GROUP BY 2, 3
      |  UNION ALL
      |  SELECT 'xy', c.i, -1, CAST(sum(c.x * l.y) AS BIGINT)
      |  FROM cnt c JOIN lab l USING (doc_id) GROUP BY 2
      |  UNION ALL
      |  SELECT 'x', i, -1, CAST(sum(x) AS BIGINT) FROM cnt GROUP BY 2
      |  UNION ALL
      |  SELECT 'y', -1, -1, CAST(sum(y) AS BIGINT) FROM lab
      |  UNION ALL
      |  SELECT 'yy', -1, -1, CAST(sum(y * y) AS BIGINT) FROM lab
      |  UNION ALL
      |  SELECT 'n', -1, -1, CAST(count(*) AS BIGINT) FROM lab)
      |ORDER BY kind, i, j""".stripMargin

  /** Blocklist screen ([[ops.TextAnalysis.blocklistHits]]): hit counts +
    * keep verdict over an RE2-safe pattern list, one codegen'd projection
    * pass — the safety-filter primitive, gated byte-exact.
    */
  private val blockPatterns = Seq("\\bslow\\b", "\\berror\\b", "big\\s+table")

  def pq11Blocklist(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.blocklistHits(col("text"), blockPatterns)
          .cast("int").as("n_hits"),
        ops.TextAnalysis.blocklistKeep(col("text"), blockPatterns).as("keep"))
      .orderBy(col("doc_id"))

  val pq11Oracle: String =
    """SELECT doc_id,
      |  CAST(len(regexp_extract_all(text, '\bslow\b'))
      |     + len(regexp_extract_all(text, '\berror\b'))
      |     + len(regexp_extract_all(text, 'big\s+table')) AS INTEGER) AS n_hits,
      |  (len(regexp_extract_all(text, '\bslow\b'))
      |     + len(regexp_extract_all(text, '\berror\b'))
      |     + len(regexp_extract_all(text, 'big\s+table'))) = 0 AS keep
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Curriculum binning ([[ops.Corpus.quantileBuckets]]): exact global
    * ntile(4) by (n_chars, doc_id) via the range-partition rank-boundary
    * machinery — no global sort, no window. The oracle IS ntile, so the
    * equal-count contract is gated row for row.
    */
  def pq10CurriculumBuckets(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .quantileBuckets(
        t(spark, sfDir, "documents"), col("n_chars"), col("doc_id"), 4)
      .select(col("doc_id"), col("bucket"))
      .orderBy(col("doc_id"))

  val pq10Oracle: String =
    """SELECT doc_id, CAST(ntile(4) OVER (ORDER BY n_chars, doc_id) AS INT) AS bucket
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Snapshot diff ([[ops.Corpus.diffSnapshots]]): old = doc_id % 7 != 0,
    * new = doc_id % 5 != 0 with % 11 == 0 texts edited — added, removed,
    * and changed keys (never the unchanged corpus). Signatures are md5
    * chains, so the oracle rebuilds the identical diff bit-for-bit.
    */
  def ds1SnapshotDiff(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val old = docs.where(col("doc_id") % 7 =!= 0)
    val neu = docs
      .where(col("doc_id") % 5 =!= 0)
      .withColumn(
        "text",
        when(col("doc_id") % 11 === 0, concat(col("text"), lit(" v2")))
          .otherwise(col("text")))
    ops.Corpus
      .diffSnapshots(old, col("doc_id"), col("text"), neu, col("doc_id"), col("text"))
      .orderBy(col("key"))
  }

  val ds1Oracle: String =
    """WITH old AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
      |new AS (
      |  SELECT doc_id,
      |         CASE WHEN doc_id % 11 = 0 THEN text || ' v2' ELSE text END AS text
      |  FROM documents WHERE doc_id % 5 != 0),
      |l AS (SELECT doc_id AS k, md5(string_agg(md5(text), ',' ORDER BY md5(text))) AS s
      |      FROM old GROUP BY 1),
      |r AS (SELECT doc_id AS k, md5(string_agg(md5(text), ',' ORDER BY md5(text))) AS s
      |      FROM new GROUP BY 1)
      |SELECT coalesce(l.k, r.k) AS key,
      |       CASE WHEN r.s IS NULL THEN 'removed'
      |            WHEN l.s IS NULL THEN 'added'
      |            ELSE 'changed' END AS status
      |FROM l FULL OUTER JOIN r ON l.k = r.k
      |WHERE r.s IS NULL OR l.s IS NULL OR l.s != r.s
      |ORDER BY key""".stripMargin

  /** CDC merge ([[ops.Corpus.mergeUpsert]]): base = doc_id % 7 != 0;
    * the update batch touches doc_id % 5 == 0 (text edited), with
    * doc_id % 20 == 0 as tombstones. Updates win, tombstones delete,
    * untouched keys pass through — the full merged content is gated
    * row-for-row against the oracle's anti-join + union form.
    */
  def ds2MergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val base = docs.where(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
    val updates = docs
      .where(col("doc_id") % 5 === 0)
      .select(
        col("doc_id"),
        concat(col("text"), lit(" v2")).as("text"),
        (col("doc_id") % 20 === 0).as("_deleted"))
    ops.Corpus
      .mergeUpsert(base, updates, "doc_id", tombstoneCol = Some("_deleted"))
      .orderBy(col("doc_id"))
  }

  val ds2Oracle: String =
    """WITH base AS (
      |  SELECT doc_id, text FROM documents WHERE doc_id % 7 != 0),
      |upd AS (
      |  SELECT doc_id, text || ' v2' AS text, (doc_id % 20 = 0) AS del
      |  FROM documents WHERE doc_id % 5 = 0)
      |SELECT doc_id, text FROM (
      |  SELECT b.doc_id, b.text FROM base b
      |  WHERE NOT EXISTS (SELECT 1 FROM upd u WHERE u.doc_id = b.doc_id)
      |  UNION ALL
      |  SELECT doc_id, text FROM upd WHERE NOT del)
      |ORDER BY doc_id""".stripMargin

  /** Deterministic exact-k per-stratum sample
    * ([[ops.Corpus.stratifiedExactK]]): exactly 7 docs per language by the
    * content-addressed (md5(id), id) order — the oracle runs the identical
    * window rule, so membership is bit-equal.
    */
  def pq5StratifiedExactK(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .stratifiedExactK(
        t(spark, sfDir, "documents"), col("doc_id"), col("lang"), 7)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val pq5Oracle: String =
    """SELECT doc_id, lang FROM (
      |  SELECT doc_id, lang, row_number() OVER (
      |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      |  FROM documents)
      |WHERE rn <= 7 ORDER BY doc_id""".stripMargin

  /** Per-source robust profile ([[ops.Corpus.groupProfile]]): count,
    * exact median n_chars, MAD, and the 3-MAD outlier count per source —
    * the per-domain quality monitor. Integer inputs make the interpolated
    * medians exactly representable, so the unrounded 3·MAD threshold
    * compares identically cross-engine.
    */
  def dm2SourceProfile(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .groupProfile(
        t(spark, sfDir, "documents"), col("source"), col("n_chars"), nMads = 3.0)
      .orderBy(col("group"))

  val dm2Oracle: String =
    """WITH meds AS (
      |  SELECT source AS g, count(*) AS n,
      |         quantile_cont(n_chars::DOUBLE, 0.5) AS med
      |  FROM documents GROUP BY 1),
      |dev AS (
      |  SELECT d.source AS g, m.n, m.med, abs(d.n_chars::DOUBLE - m.med) AS ad
      |  FROM documents d JOIN meds m ON m.g = d.source),
      |mads AS (SELECT g, quantile_cont(ad, 0.5) AS mad FROM dev GROUP BY 1)
      |SELECT dev.g AS "group", dev.n, round(dev.med, 6) AS median,
      |       round(mads.mad, 6) AS mad,
      |       CAST(count(CASE WHEN dev.ad > 3.0 * mads.mad THEN 1 END) AS BIGINT)
      |         AS n_outliers
      |FROM dev JOIN mads ON mads.g = dev.g
      |GROUP BY 1, 2, 3, 4
      |ORDER BY "group"""".stripMargin

  /** Domain dominance cap ([[ops.Corpus.capGroupShare]]): no source may
    * exceed 10% of the corpus; over-represented sources are cut to the
    * budget by the deterministic md5-order draw, under-cap sources pass
    * through untouched — the web-curation anti-dominance rule (distinct
    * from mx1's target-mix rebalance, which touches every stratum). The
    * fixture's sources are uniform, so the query first merges 8 of them
    * into one dominant pseudo-domain (40% share) to exercise BOTH
    * branches; the oracle recomputes the identical budget + window rule,
    * so membership is bit-equal.
    */
  def dm1SourceCap(spark: SparkSession, sfDir: String): DataFrame = {
    val dom = when(
      regexp_extract(col("source"), "^src([0-7])$", 1) =!= "", lit("srcA"))
      .otherwise(col("source"))
    val docs = t(spark, sfDir, "documents")
      .select(col("doc_id"), dom.as("source"))
    ops.Corpus
      .capGroupShare(docs, col("doc_id"), col("source"), maxShare = 0.10)
      .orderBy(col("doc_id"))
  }

  val dm1Oracle: String =
    """WITH d AS (
      |  SELECT doc_id,
      |    CASE WHEN regexp_matches(source, '^src[0-7]$') THEN 'srcA'
      |         ELSE source END AS source
      |  FROM documents),
      |c AS (SELECT source, count(*) AS n FROM d GROUP BY source),
      |t AS (SELECT sum(n) AS total FROM c),
      |b AS (SELECT source, n,
      |             greatest(CAST(floor(0.10 * total) AS BIGINT), 1) AS budget
      |      FROM c, t),
      |r AS (SELECT doc_id, source, row_number() OVER (
      |        PARTITION BY source ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
      |      FROM d)
      |SELECT r.doc_id, r.source FROM r JOIN b USING (source)
      |WHERE b.n <= b.budget OR r.rn <= b.budget
      |ORDER BY doc_id""".stripMargin

  /** Mixture resampling ([[ops.Corpus.mixToWeights]]): rebalance the corpus
    * language mix toward target weights by deterministic per-stratum
    * downsampling. The oracle recomputes the same allowance arithmetic
    * (counts → budget T = min c/w → max(floor(w·T/c·256), 1)) from the
    * table, with
    * weight literals interpolated from the same Scala doubles; membership
    * is the md5-bucket filter, so the sample sets are bit-identical.
    */
  val mixWeights: Map[String, Double] =
    Map("en" -> 0.4, "de" -> 0.2, "fr" -> 0.2, "es" -> 0.1, "zh" -> 0.1)

  def mx1MixWeights(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .mixToWeights(
        t(spark, sfDir, "documents"), col("doc_id"), col("lang"), mixWeights)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))

  val mx1Oracle: String = {
    val caseW = mixWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("CASE lang ", " ", " END")
    s"""WITH c AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS c, $caseW AS w
       |  FROM documents WHERE ($caseW) IS NOT NULL GROUP BY lang),
       |t AS (SELECT min(c / w) AS t FROM c),
       |a AS (SELECT lang, CAST(greatest(floor(w * t / c * 256), 1) AS INT) AS allow FROM c, t)
       |SELECT d.doc_id, d.lang FROM documents d JOIN a USING (lang)
       |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 2))::INT < allow
       |ORDER BY d.doc_id""".stripMargin
  }

  /** Temperature mixture ([[ops.Corpus.temperatureWeights]] α=0.5 →
    * [[ops.Corpus.mixToWeights]]): stratum weights ∝ √count — the
    * UNIMAX-style tail upsampling. The driver's Math.sqrt and SQL's sqrt
    * are both correctly rounded, and the budget rule is scale-invariant
    * in the weights, so the oracle recomputes the whole chain
    * (counts → √ → budget → allowances → md5 draw) bit-exactly.
    */
  def mx3TemperatureMix(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val w = ops.Corpus.temperatureWeights(docs, col("lang"), alpha = 0.5)
    ops.Corpus
      .mixToWeights(docs, col("doc_id"), col("lang"), w)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val mx3Oracle: String =
    """WITH c AS (
      |  SELECT lang, CAST(count(*) AS BIGINT) AS c, sqrt(count(*)) AS w
      |  FROM documents GROUP BY lang),
      |t AS (SELECT min(c / w) AS t FROM c),
      |a AS (SELECT lang, CAST(greatest(floor(w * t / c * 256), 1) AS INT) AS allow
      |      FROM c, t)
      |SELECT d.doc_id, d.lang FROM documents d JOIN a USING (lang)
      |WHERE ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 2))::INT < allow
      |ORDER BY d.doc_id""".stripMargin

  /** Repetition-based mixture upsampling ([[ops.Corpus.epochsToWeights]]):
    * every doc repeats enough epochs that the language mix approaches the
    * mx1 target weights WITHOUT dropping anything — the data-constrained
    * complement of mx1's downsampling. The oracle recomputes the identical
    * budget (max c/w), per-stratum epoch count, fractional md5 draw, and
    * the epoch explode, so the full (doc, epoch) multiset is bit-equal.
    */
  def mx2EpochMix(spark: SparkSession, sfDir: String): DataFrame =
    ops.Corpus
      .epochsToWeights(
        t(spark, sfDir, "documents").select(col("doc_id"), col("lang")),
        col("doc_id"), col("lang"), mixWeights)
      .select(col("doc_id"), col("lang"), col("epoch"))
      .orderBy(col("doc_id"), col("epoch"))

  val mx2Oracle: String = {
    val caseW = mixWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("CASE lang ", " ", " END")
    s"""WITH c AS (
       |  SELECT lang, CAST(count(*) AS BIGINT) AS c, $caseW AS w
       |  FROM documents WHERE ($caseW) IS NOT NULL GROUP BY lang),
       |t AS (SELECT max(c / w) AS t FROM c),
       |p AS (SELECT lang,
       |             CAST(greatest(floor(w * t / c), 1) AS BIGINT) AS e,
       |             CAST(greatest(floor((w * t / c
       |                    - greatest(floor(w * t / c), 1)) * 256), 0) AS INT)
       |               AS allow
       |      FROM c, t)
       |SELECT doc_id, lang, epoch FROM (
       |  SELECT d.doc_id, d.lang,
       |         unnest(generate_series(0, p.e - 1 +
       |           CASE WHEN ('0x' || substr(md5(d.doc_id::VARCHAR), 1, 2))::INT
       |                     < p.allow THEN 1 ELSE 0 END)) AS epoch
       |  FROM documents d JOIN p USING (lang))
       |ORDER BY doc_id, epoch""".stripMargin
  }

  /** PII scrubbing: the corpus text carries no PII, so both engines append
    * an identical deterministic PII-laden suffix (email/IP derived from
    * doc_id, fixed SSN + phone) and redact it — the full-string compare
    * then certifies the regex semantics match byte-for-byte across
    * engines, which is the actual risk in a redaction operator.
    */
  def pq3PiiScrub(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.piiScrub(concat(
          col("text"),
          lit(" contact user"), col("doc_id"), lit("@example.com via 10.0."),
          col("doc_id") % 256, lit(".7 ssn 123-45-6789 tel 415-555-0123")))
          .as("clean"))
      .orderBy(col("doc_id"))

  val pq3Oracle: String = {
    val scrubbed = ops.TextAnalysis.PiiPatterns.foldLeft(
      "text || ' contact user' || doc_id || '@example.com via 10.0.' || " +
        "(doc_id % 256) || '.7 ssn 123-45-6789 tel 415-555-0123'") {
      case (expr, (pat, tag)) =>
        // DuckDB conventional strings pass backslashes through verbatim
        s"regexp_replace($expr, '$pat', '$tag', 'g')"
    }
    s"""SELECT doc_id, $scrubbed AS clean
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Fixed seeded weights for the model-based quality classifier gate
    * (pq4): 256 md5-derived buckets, integer fixed-point weights (1e-6
    * units, range ±250250 ≈ ±0.25) from a data-free formula so the oracle
    * interpolates the SAME values as SQL literals — the semCentroids trick
    * for a linear model. Exact BIGINT arithmetic on both engines, so the
    * gate is a hash match with no epsilon.
    */
  private[graft] val bowD = 256
  private[graft] val bowWeights: Array[Long] =
    Array.tabulate(bowD)(i => (((i * 2654435761L) % 2003L) - 1001L) * 250L)
  private[graft] val bowBiasFp = 5000L

  /** Model-based quality filter ([[ops.TextAnalysis.linearScore]]): keep
    * docs whose mean-pooled linear bag-of-words logit is >= 0, reporting
    * the exact integer logit. The fastText/CCNet-style classifier stage of
    * a curation pipeline, with deterministic stand-in weights (real
    * deployments would train them; the Spark-side plumbing — hashed
    * features, codegen'd scoring pass, BIGINT exactness — is what is being
    * gated).
    */
  /** Unicode normalization ([[ops.TextAnalysis.normalizeText]]): NFC +
    * ROOT lowercase over the corpus, oracled against DuckDB's
    * `lower(nfc_normalize(...))`. The fixture is ASCII, so the oracle
    * gates the plumbing + engine agreement on it; the Unicode semantics
    * (composition forms, accent stripping) are pinned by the spec's
    * non-ASCII fixtures.
    */
  def tq10Normalize(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.normalizeText(col("text")).as("norm"))
      .orderBy(col("doc_id"))

  val tq10Oracle: String =
    """SELECT doc_id, lower(nfc_normalize(text)) AS norm
      |FROM documents ORDER BY doc_id""".stripMargin

  /** DSIR data selection ([[ops.Corpus.dsirSelect]], Xie et al. 2302.03169):
    * every-10th-doc slice as the target domain, hashed {1,2}-gram
    * importance weights over 4096 md5 buckets, top 20% of raw docs by
    * summed log-likelihood ratio. The oracle re-derives the ENTIRE chain
    * — tokenization, gram hashing, add-one-smoothed counts, ln ratio,
    * per-doc sum, exact-k (score desc, id asc) selection — and the output
    * hashes only the selected ids: bucket counts and the selection rank
    * are integer-exact across engines, and the one double step (ln) would
    * need a ~1e-14-relative score tie at the cut boundary to flip a row,
    * which the synthetic corpus does not produce (the weight arithmetic
    * itself is additionally spec-pinned closed-form in CorpusSpec).
    */
  def dsr1DsirSelect(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val target = docs.where(col("doc_id") % 10 === 0)
    ops.Corpus
      .dsirSelect(docs, target, "doc_id", "text", frac = 0.2,
        buckets = 4096, maxN = 2)
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val dsr1Oracle: String =
    """WITH tok AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |uni AS (
      |  SELECT doc_id, unnest(ws) AS g FROM tok
      |  WHERE len(ws) > 0 AND ws[1] <> ''),
      |big AS (
      |  SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
      |  FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |        FROM tok)),
      |grams AS (
      |  SELECT doc_id, ('0x' || substr(md5(g), 1, 8))::BIGINT % 4096 AS b
      |  FROM (SELECT * FROM uni UNION ALL SELECT * FROM big)),
      |rawc AS (SELECT b, count(*) AS rc FROM grams GROUP BY b),
      |tgtc AS (SELECT b, count(*) AS tc FROM grams WHERE doc_id % 10 = 0 GROUP BY b),
      |tot AS (SELECT (SELECT sum(rc) FROM rawc) AS r,
      |               (SELECT coalesce(sum(tc), 0) FROM tgtc) AS t),
      |w AS (
      |  SELECT coalesce(rawc.b, tgtc.b) AS b,
      |    ln((coalesce(tc, 0) + 1) / (t + 4096.0)) -
      |    ln((coalesce(rc, 0) + 1) / (r + 4096.0)) AS w
      |  FROM rawc FULL OUTER JOIN tgtc ON rawc.b = tgtc.b, tot),
      |score AS (
      |  SELECT doc_id, sum(w.w) AS s FROM grams JOIN w USING (b) GROUP BY doc_id),
      |k AS (SELECT CAST(ceil(0.2 * count(*)) AS BIGINT) AS k FROM score)
      |SELECT doc_id FROM (
      |  SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS rn
      |  FROM score), k
      |WHERE rn <= k.k ORDER BY doc_id""".stripMargin

  /** NON-ASCII normalization gate (closes tq10's declared fixture gap —
    * the synthetic corpus is ASCII, so tq10 only proves plumbing): a
    * decomposed-Unicode string is normalized by the engine
    * ([[ops.TextAnalysis.normalizeText]] — NFC + ROOT lowercase, and the
    * strip-accents variant) and by DuckDB (`lower(nfc_normalize(..))`,
    * `strip_accents`) over the SAME decomposed literal — any divergence
    * in composition, case mapping, or accent removal across the two
    * engines breaks the hash.
    */
  /** DECOMPOSED on purpose (combining marks via explicit escapes) — both
    * engines receive the identical byte sequence, so the NFC leg is
    * load-bearing, not a no-op. Mixes decomposed (e+\u0301, i+\u0308,
    * A+\u030A, o+\u0308), precomposed (\u00C9, \u00DF), and a ligature
    * NFC must keep (\uFB00 — NFKC would expand it; this pins WHICH
    * normalization form runs).
    */
  private val tq15Raw =
    "Cafe\u0301 \u00C9LAN nai\u0308ve A\u030Angstro\u0308m \u00DF \uFB00 doc"

  def tq15NormalizeUnicode(spark: SparkSession, sfDir: String): DataFrame = {
    val raw = concat(lit(tq15Raw), col("doc_id").cast("string"))
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.normalizeText(raw).as("norm"),
        ops.TextAnalysis.normalizeText(raw, lower = true, stripAccents = true)
          .as("norm_stripped"))
      .orderBy(col("doc_id"))
  }

  val tq15Oracle: String =
    s"""SELECT doc_id,
       |  lower(nfc_normalize('$tq15Raw' || doc_id)) AS norm,
       |  strip_accents(lower(nfc_normalize('$tq15Raw' || doc_id))) AS norm_stripped
       |FROM documents ORDER BY doc_id""".stripMargin

  /** Corpus-relative bigram novelty ([[ops.TextAnalysis.bigramNovelty]]):
    * per doc, how many of its bigram positions are RARE corpus-wide
    * (count < 25 — ~20% of the fixture's bigram vocabulary) — the
    * exact-integer surrogate of an LM perplexity filter, hash-gateable
    * because no log/double ever enters the result. The oracle re-derives
    * the corpus bigram table and the per-doc join with vb1's tokenization
    * CTE, so the gate covers the count pass AND the re-join.
    */
  def tq11BigramNovelty(spark: SparkSession, sfDir: String): DataFrame =
    ops.TextAnalysis
      .bigramNovelty(t(spark, sfDir, "documents"), "doc_id", "text", minCount = 25L)
      .orderBy(col("doc_id"))

  val tq11Oracle: String =
    """WITH t AS (
      |  SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws
      |  FROM documents),
      |g AS (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS gram
      |      FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |            FROM t)),
      |c AS (SELECT gram, count(*) AS cnt FROM g GROUP BY gram),
      |p AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams,
      |             CAST(sum(CASE WHEN cnt < 25 THEN 1 ELSE 0 END) AS BIGINT) AS n_rare
      |      FROM g JOIN c USING (gram) GROUP BY doc_id)
      |SELECT t.doc_id, COALESCE(p.n_bigrams, 0) AS n_bigrams,
      |       COALESCE(p.n_rare, 0) AS n_rare
      |FROM t LEFT JOIN p USING (doc_id) ORDER BY t.doc_id""".stripMargin

  /** Sliding token-window chunking ([[ops.TextAnalysis.chunkByTokens]]):
    * 12-token chunks stepping by 8 (4-token overlap) — the context-window
    * splitter. The oracle recomputes the identical start-sequence + slice
    * rule in DuckDB list arithmetic, so chunk boundaries, text, and counts
    * are all bit-equal.
    */
  def tq12Chunk(spark: SparkSession, sfDir: String): DataFrame =
    ops.TextAnalysis
      .chunkByTokens(
        t(spark, sfDir, "documents"), "doc_id", "text",
        maxTokens = 12, overlap = 4)
      .orderBy(col("doc_id"), col("chunk_idx"))

  val tq12Oracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ws
      |  FROM documents),
      |s AS (SELECT doc_id, ws,
      |             unnest(generate_series(0, greatest(len(ws) - 1, 0), 8)) AS st
      |      FROM t WHERE len(ws) > 0),
      |c AS (SELECT doc_id, st,
      |             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1
      |                  AS INT) AS chunk_idx,
      |             array_to_string(ws[st + 1 : st + 12], ' ') AS chunk_text
      |      FROM s WHERE st = 0 OR st + 4 < len(ws))
      |SELECT doc_id, chunk_idx, chunk_text,
      |       CAST(len(regexp_split_to_array(trim(chunk_text), '\s+')) AS INT)
      |         AS chunk_tokens
      |FROM c ORDER BY doc_id, chunk_idx""".stripMargin

  def pq4LinearQuality(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        ops.TextAnalysis.linearLogitFp(col("text"), bowWeights, bowBiasFp)
          .as("logit_fp"))
      .where(col("logit_fp") >= 0)
      .orderBy(col("doc_id"))

  val pq4Oracle: String = {
    val values = bowWeights.zipWithIndex
      .map { case (w, b) => s"($b, ${w}::BIGINT)" }
      .mkString(", ")
    s"""WITH wts(b, wt) AS (VALUES $values),
       |toks AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'), t -> t <> '') tk
       |  FROM documents),
       |tok AS (SELECT doc_id, len(tk) AS n, unnest(tk) AS t FROM toks),
       |scored AS (
       |  SELECT tok.doc_id, any_value(tok.n) AS n, sum(wts.wt) AS s
       |  FROM tok JOIN wts
       |    ON wts.b = ('0x' || substr(md5(tok.t), 1, 8))::BIGINT % $bowD
       |  GROUP BY tok.doc_id)
       |SELECT doc_id, CAST(n * $bowBiasFp + s AS BIGINT) AS logit_fp
       |FROM scored
       |WHERE n * $bowBiasFp + s >= 0 ORDER BY doc_id""".stripMargin
  }

  /** End-to-end curation pipeline — the operators composed the way a real
    * training-data job chains them: exact dedup (keep min id per identical
    * text) → benchmark decontamination (4-gram overlap vs the held-out
    * eval slice) → Gopher-rule quality filter. One query, three pipeline
    * stages, each individually oracled (dq1 / dc1 / pq1).
    */
  def cq1CurationPipeline(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val train = docs.where(col("doc_id") % 50 =!= 0)
    val evalDocs = docs.where(col("doc_id") % 50 === 0)
    val deduped = train
      .groupBy(col("text"))
      .agg(min(col("doc_id")).as("doc_id"))
    val clean = ops.Decontaminate
      .decontaminate(deduped, evalDocs, "doc_id", "text", n = 4)
    clean
      .where(ops.TextAnalysis.qualityKeep(col("text")))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  val cq1Oracle: String =
    """WITH train AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
      |ev AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
      |dedup AS (SELECT min(doc_id) AS doc_id, text FROM train GROUP BY text),
      |dw AS (SELECT doc_id, regexp_split_to_array(trim(text), '\s+') AS ws FROM dedup),
      |ew AS (SELECT regexp_split_to_array(trim(text), '\s+') AS ws FROM ev),
      |dg AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS g
      |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 3)) AS i FROM dw)),
      |eg AS (SELECT DISTINCT array_to_string(ws[i:i+3], ' ') AS g
      |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 3)) AS i FROM ew)),
      |cont AS (SELECT DISTINCT doc_id FROM dg JOIN eg USING (g)),
      |clean AS (SELECT dw.doc_id, dw.ws FROM dw
      |          WHERE dw.doc_id NOT IN (SELECT doc_id FROM cont)),
      |bc AS (
      |  SELECT doc_id, g, count(*) AS c
      |  FROM (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
      |        FROM (SELECT doc_id, ws,
      |                unnest(generate_series(1, len(ws) - 1)) AS i FROM clean))
      |  GROUP BY 1, 2),
      |br AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS r FROM bc GROUP BY 1)
      |SELECT c.doc_id FROM clean c LEFT JOIN br USING (doc_id)
      |WHERE len(c.ws) BETWEEN 20 AND 90
      |  AND len(list_distinct(c.ws))::DOUBLE / len(c.ws) >= 0.32
      |  AND coalesce(br.r, 0) <= 0.07
      |ORDER BY doc_id""".stripMargin

  /** Corpus-level top-k bigram vocabulary — the counting primitive behind
    * tokenizer/vocab construction (BPE merge candidates). Plan shape:
    * gram explode → map-side partial count → shuffle by gram →
    * TakeOrdered(k) — the aggregation tree that survives any corpus size.
    * Deterministic tie-break (count desc, gram asc) keeps the k-boundary
    * stable for the oracle.
    */
  def vb1TopNgrams(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "documents")
      .select(explode(ops.Decontaminate.ngrams(col("text"), 2)).as("gram"))
      .groupBy(col("gram"))
      .agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("gram"))
      .limit(20)

  val vb1Oracle: String =
    """SELECT g AS gram, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT array_to_string(ws[i:i+1], ' ') AS g
      |      FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |            FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
      |                  FROM documents)))
      |GROUP BY g ORDER BY n DESC, gram LIMIT 20""".stripMargin

  /** Exact heavy-hitter bigrams via the count-min-sketch candidate pass
    * ([[ops.TextAnalysis.heavyHitterNgrams]]): the sketch bounds the
    * shuffle to candidate grams, the exact re-count makes the result
    * identical to plain GROUP BY/HAVING — which is exactly how the oracle
    * states it.
    */
  def vb2HeavyHitters(spark: SparkSession, sfDir: String): DataFrame =
    ops.TextAnalysis.heavyHitterNgrams(
      t(spark, sfDir, "documents"), "text", n = 2, minCount = 20L)

  val vb2Oracle: String =
    """SELECT g AS gram, CAST(count(*) AS BIGINT) AS n
      |FROM (SELECT array_to_string(ws[i:i+1], ' ') AS g
      |      FROM (SELECT ws, unnest(generate_series(1, len(ws) - 1)) AS i
      |            FROM (SELECT regexp_split_to_array(trim(text), '\s+') AS ws
      |                  FROM documents)))
      |GROUP BY g HAVING count(*) >= 20 ORDER BY n DESC, gram""".stripMargin

  /** BM25 lexical retrieval ([[ops.Lexical]]): rational-idf BM25 (exact
    * arithmetic, see the module scaladoc) over the documents table for a
    * fixed 5-term query mixing common terms with the rare "dup" (df 25/500).
    * Scores are fixed-point nano units summed as BIGINT — the money-column
    * idiom — so the oracle compare is hash-exact. The oracle SQL mirrors the
    * Spark expression tree token for token, with the BM25 constants
    * interpolated from the same Scala doubles so both engines parse
    * identical literals.
    */
  val lexTerms: Seq[String] = Seq("spark", "vector", "window", "dup", "merge")

  def bm1Bm25Topk(spark: SparkSession, sfDir: String): DataFrame =
    ops.Lexical.bm25TopK(t(spark, sfDir, "documents"), "doc_id", "text", lexTerms, 10)

  /** The `tf`/`stats` CTEs + per-term score expression shared by bm1/hr1 —
    * generated, not hand-copied, so the two oracles can't drift apart.
    */
  private def bm25OracleCtes: String = {
    val tfCols = lexTerms.zipWithIndex
      .map { case (t, i) => s"len(list_filter(ws, x -> x = '$t')) AS tf$i" }
      .mkString(",\n         ")
    val dfCols = lexTerms.indices
      .map(i => s"sum(CASE WHEN tf$i > 0 THEN 1 ELSE 0 END) AS df$i")
      .mkString(",\n         ")
    s"""tok AS (
       |  SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                             x -> x <> '') AS ws FROM documents
       |), tf AS (
       |  SELECT doc_id, len(ws) AS dl,
       |         $tfCols
       |  FROM tok
       |), stats AS (
       |  SELECT count(*) AS n, sum(dl) AS sumdl,
       |         $dfCols
       |  FROM tf
       |)""".stripMargin
  }

  private def bm25OracleScore: String = {
    val k1 = ops.Lexical.DefaultK1
    val b = ops.Lexical.DefaultB
    lexTerms.indices.map { i =>
      s"CAST(ROUND(((n - df$i + 0.5) / (df$i + 0.5)) * ((tf$i * ${k1 + 1}) / " +
        s"(tf$i + $k1 * (${1 - b} + $b * (dl / (sumdl / CAST(n AS DOUBLE)))))) * 1e9) AS BIGINT)"
    }.mkString("(", "\n   + ", ")")
  }

  val bm1Oracle: String =
    s"""WITH $bm25OracleCtes
       |SELECT doc_id, $bm25OracleScore AS score_e9
       |FROM tf, stats
       |ORDER BY score_e9 DESC, doc_id LIMIT 10""".stripMargin

  /** Bulk BM25 ([[ops.Lexical.bm25BulkTopK]]): top-5 docs for each of three
    * queries via the posting-list join path (set-semantics query terms; one
    * query carries an out-of-vocabulary term that must contribute nothing).
    * Same fixed-point idiom as bm1; the oracle mirrors the posting/df/stats
    * pipeline with identical arithmetic.
    */
  def bq1Bm25Bulk(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val queries = Seq(
      (0L, "spark dup"),
      (1L, "vector window merge"),
      (2L, "nosuchword table")).toDF("qid", "qtext")
    ops.Lexical
      .bm25BulkTopK(
        t(spark, sfDir, "documents"), "doc_id", "text", queries, "qid", "qtext",
        k = 5)
      .orderBy(col("qid"), col("doc_id"))
  }

  /** bq1 over the PERSISTED posting-list artifact
    * ([[ops.Lexical.writePostings]] → bucketed managed tables): identical
    * scoring pipeline from identical artifacts, so it shares bq1's oracle —
    * what this entry gates is the persist/reread path (bucketed layout,
    * schema round-trip, stats snapshot), the repeated-query-batch shape a
    * production corpus snapshot serves.
    */
  def bq2Bm25Postings(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val snap = ops.Lexical.writePostings(
      t(spark, sfDir, "documents"), "doc_id", "text", "graft_bq2", buckets = 8)
    val queries = Seq(
      (0L, "spark dup"),
      (1L, "vector window merge"),
      (2L, "nosuchword table")).toDF("qid", "qtext")
    ops.Lexical
      .bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 5)
      .orderBy(col("qid"), col("doc_id"))
  }

  /** bm1 through the SQL surface: the `bm25_topk` TABLE function
    * ([[Graft.tableFunctions]]) — same terms (as one whitespace query
    * string), same k, so it shares bm1's oracle. What this entry gates is
    * the analysis-time TVF plumbing: literal-arg extraction, catalog
    * lookup of the doc table (a temp view here), and the injected plan
    * producing bit-identical fixed-point scores to the programmatic path.
    */
  def bq3Bm25Sql(spark: SparkSession, sfDir: String): DataFrame = {
    Graft.install(spark)
    t(spark, sfDir, "documents").createOrReplaceTempView("graft_docs_bm25")
    spark.sql(
      s"""SELECT doc_id, score_e9
         |FROM bm25_topk('graft_docs_bm25', 'doc_id', 'text',
         |               '${lexTerms.mkString(" ")}', 10)""".stripMargin)
  }

  val bq1Oracle: String = {
    val k1 = ops.Lexical.DefaultK1
    val b = ops.Lexical.DefaultB
    s"""WITH q AS (SELECT * FROM (VALUES (0, 'spark dup'), (1, 'vector window merge'),
       |                                 (2, 'nosuchword table')) AS t(qid, qtext)),
       |qt AS (SELECT DISTINCT qid, term FROM (
       |  SELECT qid, unnest(regexp_split_to_array(trim(qtext), '\\s+')) AS term FROM q)
       |  WHERE term <> ''),
       |tok AS (SELECT doc_id, list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |                                   x -> x <> '') AS ws FROM documents),
       |dl AS (SELECT doc_id, len(ws) AS dl FROM tok),
       |post AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
       |         FROM (SELECT doc_id, unnest(ws) AS term FROM tok) GROUP BY doc_id, term),
       |dft AS (SELECT term, CAST(count(*) AS BIGINT) AS df FROM post GROUP BY term),
       |stats AS (SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(dl) AS BIGINT) AS sumdl FROM dl),
       |scored AS (
       |  SELECT qt.qid, post.doc_id,
       |    CAST(SUM(CAST(ROUND(((n - df + 0.5) / (df + 0.5)) * ((tf * ${k1 + 1}) /
       |      (tf + $k1 * (${1 - b} + $b * (dl / (sumdl / CAST(n AS DOUBLE)))))) * 1e9) AS BIGINT)) AS BIGINT)
       |      AS score_e9
       |  FROM qt JOIN post USING (term) JOIN dft USING (term)
       |       JOIN dl ON post.doc_id = dl.doc_id, stats
       |  GROUP BY qt.qid, post.doc_id)
       |SELECT qid, doc_id, score_e9 FROM (
       |  SELECT qid, doc_id, score_e9,
       |         row_number() OVER (PARTITION BY qid ORDER BY score_e9 DESC, doc_id) AS r
       |  FROM scored)
       |WHERE r <= 5 ORDER BY qid, doc_id""".stripMargin
  }

  /** Hybrid dense+sparse retrieval: reciprocal-rank fusion (k=60) of the
    * vector top-10 (brute L2, the vq1 list) and the BM25 top-10 (bm1's
    * list). Per-list contributions `round(1e12/(60+rank))` are quantized to
    * BIGINT before the sum — order-independent, cross-engine exact; ranks
    * are integers from identically tie-broken ORDER BYs.
    */
  def hr1HybridRrf(spark: SparkSession, sfDir: String): DataFrame = {
    val vtop = t(spark, sfDir, "embeddings")
      .select(
        col("vec_id").as("doc_id"),
        array_distance(col("embedding"), float_vector(queryVec)).as("_d"))
      .orderBy(col("_d").asc_nulls_last, col("doc_id"))
      .limit(10)
    val vRanked = ops.Lexical.ranked(vtop, "doc_id", Seq(col("_d").asc))
      .select("doc_id", "rank")
    val ltop = ops.Lexical
      .bm25TopK(t(spark, sfDir, "documents"), "doc_id", "text", lexTerms, 10)
    val lRanked = ops.Lexical.ranked(ltop, "doc_id", Seq(col("score_e9").desc))
      .select("doc_id", "rank")
    ops.Lexical.rrfFuse(Seq(vRanked, lRanked), "doc_id", "rank")
      .orderBy(col("rrf_e12").desc, col("doc_id"))
      .limit(10)
  }

  val hr1Oracle: String =
    s"""WITH $bm25OracleCtes,
       |lscore AS (SELECT doc_id, $bm25OracleScore AS s FROM tf, stats),
       |ltop AS (SELECT doc_id, r FROM
       |  (SELECT doc_id, row_number() OVER (ORDER BY s DESC, doc_id) AS r FROM lscore)
       |  WHERE r <= 10),
       |vtop AS (SELECT doc_id, r FROM
       |  (SELECT vec_id AS doc_id, row_number() OVER
       |     (ORDER BY list_distance(embedding::FLOAT[], $duckVecLit) ASC, vec_id) AS r
       |   FROM embeddings)
       |  WHERE r <= 10)
       |SELECT COALESCE(v.doc_id, l.doc_id) AS doc_id,
       |  (COALESCE(CAST(ROUND(1e12 / (60 + v.r)) AS BIGINT), 0)
       | + COALESCE(CAST(ROUND(1e12 / (60 + l.r)) AS BIGINT), 0)) AS rrf_e12
       |FROM vtop v FULL OUTER JOIN ltop l ON v.doc_id = l.doc_id
       |ORDER BY rrf_e12 DESC, doc_id LIMIT 10""".stripMargin

  /** JSON column surface (inherited): extract a typed field from the events
    * props JSON.
    */
  def je1JsonExtract(spark: SparkSession, sfDir: String): DataFrame = {
    t(spark, sfDir, "events")
      .select(
        col("event_id"),
        get_json_object(col("props"), "$.k").cast("int").as("k"))
      .orderBy(col("event_id"))
  }

  val je1Oracle: String =
    """SELECT event_id, CAST(json_extract(props, '$.k') AS INTEGER) AS k
      |FROM events ORDER BY event_id""".stripMargin

  /** IVF-cell bucketed similarity pairs — the 100 TB-safe candidate path
    * (equi-join on cell id) — at the probes=4 production point, made
    * CORRECTNESS-verifiable (round-10 verdict item #1): the emitted record
    * is the operator's own quality contract, computed in-Spark against the
    * exact O(n²) pair join and pinned by a constant oracle. Gates:
    * canonical orientation (id_a < id_b), no duplicate emissions, EXACT
    * precision (`n_false_pairs = 0` — every emitted pair must truly pass
    * the cosine threshold, the operator's fixture-independent hard
    * invariant), and recall ≥ 0.5 (measured band 0.64–0.80 across
    * sf0.001/0.01/0.1 — GateProbe, round-10 BENCHNOTES, its source under
    * BENCHNOTES "Retired tools"; the bench floors
    * the same metric at 0.55 at sf0.1). A regression anywhere in
    * assignment, probe explode, verify, or dedup flips a count and fails
    * the hash. The raw pair path's timing stays in Bench under this name —
    * at the r1–r9 series' probes=1 shape (series continuity; the gate
    * here covers probes=4, whose extra cost is the same explode×4).
    */
  def sq2IvfCellPairs(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val (ti, centroids) = IndexManager.ensureWithCentroids(spark, path, "embedding")
    val emb = t(spark, sfDir, "embeddings")
    val pairs = ops.Similarity
      .ivfCellPairs(emb, "vec_id", "embedding", centroids, ti.dim,
        threshold = 0.3, probes = 4)
    val exact = ops.Dedup.embeddingNearDupPairs(emb, "vec_id", "embedding", 0.3)
    val shape = pairs.agg(
      count(lit(1)).as("_n"),
      count(when(col("id_a") >= col("id_b"), 1)).as("n_noncanon"))
    val distinctN = pairs.select(col("id_a"), col("id_b")).distinct()
      .agg(count(lit(1)).as("_nd"))
    ops.Dedup.pairQuality(pairs, exact, "id_a", "id_b")
      .crossJoin(shape).crossJoin(distinctN)
      .select(
        col("n_noncanon").cast("bigint").as("n_noncanon"),
        (col("_n") - col("_nd")).cast("bigint").as("n_dupe_pairs"),
        (col("n_found") - col("n_hit")).cast("bigint").as("n_false_pairs"),
        when(col("recall") >= 0.5, 1L).otherwise(0L).as("recall_floor_met"),
        when(col("n_found") > 0, 1L).otherwise(0L).as("nonempty"))
  }

  val sq2Oracle: String =
    """SELECT CAST(0 AS BIGINT) AS n_noncanon, CAST(0 AS BIGINT) AS n_dupe_pairs,
      |  CAST(0 AS BIGINT) AS n_false_pairs, CAST(1 AS BIGINT) AS recall_floor_met,
      |  CAST(1 AS BIGINT) AS nonempty""".stripMargin

  /** The cell-pair machinery made EXACT: probing every cell (probes =
    * nClusters) means each pair meets in the home cell of either member, so
    * the bucketed path's output equals the O(n²) exact join — the va2
    * exhaustive-probe trick applied to pair generation, hash-gating the
    * whole candidate scheme (assignment, probe explode, verify, dedup)
    * against dq5's plain-SQL oracle. The production operating point
    * (probes ≪ nClusters) is the same code on the recall curve, benched as
    * sq2 with `cell_pair_recall_probe4`.
    */
  def sq3IvfCellPairsExact(spark: SparkSession, sfDir: String): DataFrame = {
    val path = s"$sfDir/embeddings.parquet"
    val (ti, centroids) = IndexManager.ensureWithCentroids(spark, path, "embedding")
    ops.Similarity
      .ivfCellPairs(t(spark, sfDir, "embeddings"), "vec_id", "embedding",
        centroids, ti.dim, threshold = 0.5, probes = ti.nClusters)
      .orderBy(col("id_a"), col("id_b"))
  }

  val sq3Oracle: String = dq5Oracle

  /** Salted shuffle join: lineitem spreads over (suppkey, salt) with the
    * supplier side replicated per salt — the hot-key straggler mitigation
    * when the other side exceeds broadcast. Salting must never change
    * results; the oracle is the plain join.
    */
  def sk1SaltedJoin(spark: SparkSession, sfDir: String): DataFrame =
    ops.Skew
      .saltedJoin(
        t(spark, sfDir, "lineitem"), t(spark, sfDir, "supplier"),
        "l_suppkey", "s_suppkey", salts = 8)
      .groupBy(col("s_nationkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice"))).cast("bigint").as("base_cents"))
      .orderBy(col("s_nationkey"))

  val sk1Oracle: String =
    """SELECT s_nationkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*100) AS BIGINT)) AS BIGINT) AS base_cents
      |FROM lineitem JOIN supplier ON l_suppkey = s_suppkey
      |GROUP BY s_nationkey ORDER BY s_nationkey""".stripMargin

  /** Bucketed-layout join: both sides are (re)written bucketed + sorted on
    * the order key, so the join AND the per-order aggregation plan with no
    * shuffle exchange — pay the layout shuffle once at write time, join
    * shuffle-free forever after (the dominant repeat-join optimization for
    * cluster-scale fact tables; LayoutSpec pins the exchange-free plan).
    * The oracle is the equivalent plain join on the raw parquet — layout
    * must never change results.
    */
  def bj1BucketedJoin(spark: SparkSession, sfDir: String): DataFrame = {
    ops.Layout.writeBucketed(
      t(spark, sfDir, "orders").select(col("o_orderkey")),
      "graft_bj_orders", "o_orderkey", 8)
    ops.Layout.writeBucketed(
      t(spark, sfDir, "lineitem")
        .select(col("l_orderkey"), col("l_extendedprice"), col("l_discount")),
      "graft_bj_lineitem", "l_orderkey", 8)
    spark.table("graft_bj_orders")
      .join(
        spark.table("graft_bj_lineitem"),
        col("o_orderkey") === col("l_orderkey"))
      .groupBy(col("o_orderkey"))
      .agg(
        count(lit(1)).as("n_items"),
        sum(cents(col("l_extendedprice") * (lit(1.0) - col("l_discount"))))
          .cast("bigint").as("disc_cents"))
      .orderBy(col("o_orderkey"))
  }

  val bj1Oracle: String =
    """SELECT o_orderkey, COUNT(*) AS n_items,
      |  CAST(SUM(CAST(ROUND(l_extendedprice*(1.0-l_discount)*100) AS BIGINT)) AS BIGINT) AS disc_cents
      |FROM orders JOIN lineitem ON l_orderkey = o_orderkey
      |GROUP BY o_orderkey ORDER BY o_orderkey""".stripMargin

  /** Corpus clustering profile over a FIXED literal centroid grid: cell
    * assignment via the codegen'd nearest_centroid kernel, then per-cell
    * count + label sum. Fixed centroids (multiples of 0.1, which
    * round-trip to identical float32 bits in both engines) make the cell
    * assignment itself hash-matchable — the learned-centroid twin (sq2) is
    * necessarily recall-gated, so this is the exactness gate for the
    * bucketing kernel. Plan shape: pure projection → partial agg →
    * 8-group exchange; linear at any corpus size.
    */
  val cp1Centroids: Array[Float] = Array.tabulate(8 * 64) { i =>
    ((((i / 64) * 7 + (i % 64) * 13) % 21) - 10) / 10.0f
  }

  def cp1ClusterProfile(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")
      .select(
        graft.functions.nearest_centroid(col("embedding"), cp1Centroids, 64).as("cell"),
        col("label"))
      .groupBy(col("cell"))
      .agg(
        count(lit(1)).as("n"),
        sum(col("label")).cast("bigint").as("label_sum"))
      .orderBy(col("cell"))

  val cp1Oracle: String = {
    val k = 8
    val dcols = (0 until k).map { c =>
      val lit = (0 until 64).map(d => cp1Centroids(c * 64 + d).toString)
        .mkString("[", ", ", "]") + "::FLOAT[]"
      s"list_distance(embedding::FLOAT[], $lit) AS d$c"
    }.mkString(",\n  ")
    val least = s"least(${(0 until k).map("d" + _).mkString(", ")})"
    val arms = (0 until k).map(i => s"WHEN d$i = m THEN $i").mkString(" ")
    s"""WITH d AS (SELECT label, $dcols FROM embeddings),
       |a AS (SELECT label, CASE $arms END AS cell
       |      FROM (SELECT *, $least AS m FROM d))
       |SELECT cell, count(*) AS n, CAST(sum(label) AS BIGINT) AS label_sum
       |FROM a GROUP BY cell ORDER BY cell""".stripMargin
  }

  /** Embedding outlier detection ([[ops.Similarity.quantizedOutliers]]):
    * rows whose SQ8-code-space distance to every cp1 profile centroid
    * exceeds 395000 (≈ the fixture's p95 — ~5% flagged at both sf0.01 and
    * sf0.1). All-integer arithmetic end to end, so the min-distance VALUES
    * are gated, not just membership; the oracle recomputes the code grid,
    * the per-centroid integer distance (‖c‖² + ‖q‖² − 2c·q over
    * exactly-representable integer-valued doubles), and the min.
    */
  val oq1Threshold = 395000L

  def oq1EmbedOutliers(spark: SparkSession, sfDir: String): DataFrame =
    ops.Similarity
      .quantizedOutliers(
        t(spark, sfDir, "embeddings"), "vec_id", "embedding",
        cp1Centroids, 64, oq1Threshold)
      .orderBy(col("vec_id"))

  val oq1Oracle: String = {
    val terms = (0 until 8).map { c =>
      val codes = graft.functions.Sq8
        .encode(cp1Centroids.slice(c * 64, (c + 1) * 64)).map(_.toLong)
      val sumQ = codes.map(q => q * q).sum
      val qLit = codes.mkString("[", ", ", "]")
      s"(sq + $sumQ - 2 * CAST(list_dot_product(cd, ${qLit}::DOUBLE[]) AS BIGINT))"
    }
    s"""WITH z AS (
       |  SELECT vec_id, list_transform(embedding, $duckSq8) AS ci
       |  FROM embeddings),
       |w AS (SELECT vec_id,
       |             list_transform(ci, x -> x::DOUBLE) AS cd,
       |             CAST(list_sum(list_transform(ci, x -> x * x)) AS BIGINT) AS sq
       |      FROM z)
       |SELECT vec_id, min_code_dist FROM (
       |  SELECT vec_id, least(${terms.mkString(",\n    ")}) AS min_code_dist
       |  FROM w)
       |WHERE min_code_dist > $oq1Threshold ORDER BY vec_id""".stripMargin
  }

  /** Drift-probe histogram over the same FIXED literal centroid grid as
    * cp1: the vec_id % 10 == 0 slice plays an appended batch against the
    * rest as the trained corpus — per-cell counts for both sides out of ONE
    * linear pass (integer-exact, hash-gateable). The total-variation fold
    * over the k-row histogram and the retrain decision are
    * [[graft.ivf.IvfBuilder.extendOrRetrain]], spec-gated on learned
    * centroids in VectorTopKSpec.
    */
  def vd1DriftProfile(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "embeddings")
      .select(
        graft.functions.nearest_centroid(col("embedding"), cp1Centroids, 64).as("cell"),
        (col("vec_id") % 10 === 0).as("_app"))
      .groupBy(col("cell"))
      .agg(
        count(when(!col("_app"), 1)).as("n_base"),
        count(when(col("_app"), 1)).as("n_appended"))
      .orderBy(col("cell"))

  val vd1Oracle: String = {
    val k = 8
    val dcols = (0 until k).map { c =>
      val lit = (0 until 64).map(d => cp1Centroids(c * 64 + d).toString)
        .mkString("[", ", ", "]") + "::FLOAT[]"
      s"list_distance(embedding::FLOAT[], $lit) AS d$c"
    }.mkString(",\n  ")
    val least = s"least(${(0 until k).map("d" + _).mkString(", ")})"
    val arms = (0 until k).map(i => s"WHEN d$i = m THEN $i").mkString(" ")
    s"""WITH d AS (SELECT vec_id, $dcols FROM embeddings),
       |a AS (SELECT vec_id, CASE $arms END AS cell
       |      FROM (SELECT *, $least AS m FROM d))
       |SELECT cell,
       |  COUNT(*) FILTER (WHERE vec_id % 10 <> 0) AS n_base,
       |  COUNT(*) FILTER (WHERE vec_id % 10 = 0) AS n_appended
       |FROM a GROUP BY cell ORDER BY cell""".stripMargin
  }

  // ---------------------------------------- multimodal / streaming

  /** Binary-column pipeline over documents-as-media: UTF-8 payloads through
    * the stubbed mapPartitions decoder; byte counts are decode-independent
    * and oracle-checkable.
    */
  def mq1MediaFeatures(spark: SparkSession, sfDir: String): DataFrame = {
    val media = ops.Multimodal.fromText(t(spark, sfDir, "documents"), "doc_id", "text")
    ops.Multimodal.extractFeatures(spark, media)
      .toDF()
      .select(
        col("id").as("doc_id"),
        col("nBytes").cast("int").as("n_bytes"),
        col("thumbnailBytes").cast("int").as("n_thumb_bytes"))
      .orderBy(col("doc_id"))
  }

  val mq1Oracle: String =
    """SELECT doc_id, CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes,
      |  CAST((octet_length(encode(text)) + 1) // 2 AS INTEGER) AS n_thumb_bytes
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Frame-sampling generator over binary payloads (stride 32, 8-byte stub
    * frames): per-doc frame count + total sampled bytes — decode-independent
    * and oracle-checkable in closed form.
    */
  def mq2FrameSample(spark: SparkSession, sfDir: String): DataFrame = {
    val media = ops.Multimodal.fromText(t(spark, sfDir, "documents"), "doc_id", "text")
    ops.Multimodal.sampleFrameRows(spark, media, stride = 32)
      .toDF()
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_frames"),
        sum(col("n_bytes")).cast("bigint").as("n_sampled_bytes"))
      .select(col("doc_id"), col("n_frames"), col("n_sampled_bytes"))
      .orderBy(col("doc_id"))
  }

  /** Closed form of the stub's sampling: ceil(len/32) frames; every frame
    * takes 8 bytes except a shorter final group.
    */
  val mq2Oracle: String =
    """SELECT doc_id,
      |  CAST(ceil(len / 32.0) AS BIGINT) AS n_frames,
      |  CAST(8 * (ceil(len / 32.0) - 1)
      |       + least(8, len - 32 * (ceil(len / 32.0) - 1)) AS BIGINT) AS n_sampled_bytes
      |FROM (SELECT doc_id, octet_length(encode(text)) AS len FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** REAL image decode, oracle-gated end to end: per doc a PNG is
    * synthesized whose pixels are a closed-form function of (doc_id, x, y),
    * decoded back through the JDK ImageIO path
    * ([[ops.Multimodal.imageFeatures]]), and the EXACT integer channel sums
    * compare against DuckDB computing the same closed form directly — PNG
    * is lossless, so any decoder defect (channel order, row stride, color
    * model) breaks the hash.
    */
  def mq3ImageDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = t(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        (id, ops.Multimodal.MediaCodec.encodePng(8, 6, (x, y) => {
          val r = ((id * 3 + x + y * 8) % 256).toInt
          val g = ((id * 5 + x * 2 + y) % 256).toInt
          val b = ((id * 7 + x + y) % 256).toInt
          (r << 16) | (g << 8) | b
        }))
      }
      .toDF("id", "media")
    ops.Multimodal.imageFeatures(spark, media)
      .toDF()
      .select(
        col("id").as("doc_id"), col("width"), col("height"), col("channels"),
        col("sum_r"), col("sum_g"), col("sum_b"))
      .orderBy(col("doc_id"))
  }

  val mq3Oracle: String =
    """SELECT d.doc_id, 8 AS width, 6 AS height, 3 AS channels,
      |  CAST(sum((d.doc_id*3 + g.x + g2.y*8) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((d.doc_id*5 + g.x*2 + g2.y) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((d.doc_id*7 + g.x + g2.y) % 256) AS BIGINT) AS sum_b
      |FROM documents d, generate_series(0, 7) g(x), generate_series(0, 5) g2(y)
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** REAL audio decode, oracle-gated the same way: a 64-sample 16-bit PCM
    * WAV per doc (samples a closed form of (doc_id, i)), decoded through
    * javax.sound ([[ops.Multimodal.audioFeatures]]); exact sample
    * aggregates vs DuckDB computing the closed form — WAV PCM is lossless.
    */
  def mq4AudioDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = t(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val samples = Array.tabulate[Short](64)(i =>
          (((id * 31 + i * 7) % 4096) - 2048).toShort)
        (id, ops.Multimodal.MediaCodec.encodeWavPcm16(8000f, samples))
      }
      .toDF("id", "media")
    ops.Multimodal.audioFeatures(spark, media)
      .toDF()
      .select(
        col("id").as("doc_id"),
        col("sample_rate").cast("int").as("sample_rate_hz"),
        col("audio_channels"), col("frames"), col("sum_abs"), col("peak"))
      .orderBy(col("doc_id"))
  }

  val mq4Oracle: String =
    """SELECT d.doc_id, 8000 AS sample_rate_hz, 1 AS audio_channels,
      |  CAST(64 AS BIGINT) AS frames,
      |  CAST(sum(abs(((d.doc_id*31 + g.i*7) % 4096) - 2048)) AS BIGINT) AS sum_abs,
      |  CAST(max(abs(((d.doc_id*31 + g.i*7) % 4096) - 2048)) AS INTEGER) AS peak
      |FROM documents d, generate_series(0, 63) g(i)
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** REAL perceptual hashing, oracle-gated: per doc a 16×16 PNG with
    * closed-form pixels, hashed through decode → 8×8 box-average → exact
    * integer cross-product threshold ([[ops.Multimodal.imageAHash]]);
    * DuckDB computes the identical hash from the closed form directly
    * (integer luma, 2×2 cells, `cell·n > total·cnt`, bit k = by·8+bx,
    * packed as two 32-bit halves).
    */
  private def mq5Media(spark: SparkSession, sfDir: String, withPerturb: Boolean)
      : DataFrame = {
    import spark.implicits._
    t(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        // mq6's near-dup structure: per 5-doc block, k=0 the base image,
        // k=1 the base with a sparse +1 red perturbation, k>=2 unique
        val k = (id % 5).toInt
        val eid = if (withPerturb && k <= 1) id - k else id
        (id, ops.Multimodal.MediaCodec.encodePng(16, 16, (x, y) => {
          val bump = if (withPerturb && k == 1 && (x + y) % 9 == 0) 1 else 0
          // pseudo-random pixel field (multiplicative scramble, pure
          // integer — mirrored term-for-term in the oracle CTE): linear
          // ramps correlate every doc's hash and blow the band buckets;
          // scrambled pixels give near-uniform hashes so only the k=0/k=1
          // block twins are close
          val v = (eid * 31 + 7) * (x * 16 + y + 1) * 48271L
          val r = ((v / 32) % 256).toInt + bump
          val g = ((v / 2048) % 256).toInt
          val b = ((v / 131072) % 256).toInt
          (math.min(r, 255) << 16) | (g << 8) | b
        }))
      }
      .toDF("id", "media")
  }

  def mq5ImageAhash(spark: SparkSession, sfDir: String): DataFrame =
    ops.Multimodal.imageAHash(spark, mq5Media(spark, sfDir, withPerturb = false))
      .toDF()
      .select(col("id").as("doc_id"), col("hash_hi"), col("hash_lo"))
      .orderBy(col("doc_id"))

  /** The hash CTE shared by mq5/mq6 oracles: `eidExpr`/`bumpExpr`
    * parameterize the fixture's closed-form pixels.
    */
  private def ahashOracleCte(eidExpr: String, bumpExpr: String): String =
    s"""vx AS (
       |  SELECT d.doc_id, gx.x, gy.y,
       |    (($eidExpr)*31 + 7) * (gx.x*16 + gy.y + 1) * 48271 AS v,
       |    ($bumpExpr) AS bump
       |  FROM documents d, generate_series(0, 15) gx(x), generate_series(0, 15) gy(y)),
       |px AS (
       |  SELECT doc_id, x, y,
       |    least((v // 32) % 256 + bump, 255) AS r,
       |    (v // 2048) % 256 AS g,
       |    (v // 131072) % 256 AS b
       |  FROM vx),
       |lum AS (SELECT doc_id, x, y, (r*299 + g*587 + b*114) // 1000 AS l FROM px),
       |cells AS (SELECT doc_id, (y*8)//16 AS by, (x*8)//16 AS bx,
       |                 sum(l) AS cs, count(*) AS cn
       |          FROM lum GROUP BY 1, 2, 3),
       |tot AS (SELECT doc_id, sum(l) AS tl, count(*) AS n FROM lum GROUP BY 1),
       |bits AS (SELECT c.doc_id, c.by*8 + c.bx AS k,
       |                CASE WHEN c.cs * t.n > t.tl * c.cn THEN 1 ELSE 0 END AS bit
       |         FROM cells c JOIN tot t USING (doc_id)),
       |hashes AS (SELECT doc_id,
       |    CAST(sum(CASE WHEN k >= 32 AND bit = 1 THEN (CAST(1 AS BIGINT) << (k - 32)) ELSE 0 END) AS BIGINT) AS hash_hi,
       |    CAST(sum(CASE WHEN k < 32 AND bit = 1 THEN (CAST(1 AS BIGINT) << k) ELSE 0 END) AS BIGINT) AS hash_lo
       |  FROM bits GROUP BY doc_id)""".stripMargin

  val mq5Oracle: String =
    s"""WITH ${ahashOracleCte("d.doc_id", "0")}
       |SELECT doc_id, hash_hi, hash_lo FROM hashes ORDER BY doc_id""".stripMargin

  /** IMAGE near-duplicate pairs end to end: the mq5 fixture with the
    * per-block perturbation, hashed ([[ops.Multimodal.imageAHash]]) and
    * joined by [[ops.Dedup.hammingNearDupPairs]] (complete banding,
    * maxDist=6 < 8 bands); the oracle brute-forces ALL pairs at
    * `bit_count(xor) <= 6` over the same closed-form hashes — banding
    * completeness and precision are both on the hook.
    */
  def mq6ImageNeardup(spark: SparkSession, sfDir: String): DataFrame = {
    val hashes = ops.Multimodal
      .imageAHash(spark, mq5Media(spark, sfDir, withPerturb = true))
      .toDF()
    ops.Dedup
      .hammingNearDupPairs(
        hashes, "id", "hash_hi", "hash_lo", maxDist = 6,
        // fixture-sized cap: the gate pins the COMPLETE banding semantics
        // (= the oracle's brute force); the production default's star-pair
        // mass concession is spec territory, not oracle territory
        maxBucketSize = 1000L)
      .orderBy(col("doc_a"), col("doc_b"))
  }

  val mq6Oracle: String =
    s"""WITH ${ahashOracleCte(
        "d.doc_id - (CASE WHEN d.doc_id % 5 <= 1 THEN d.doc_id % 5 ELSE 0 END)",
        "CASE WHEN d.doc_id % 5 = 1 AND (gx.x + gy.y) % 9 = 0 THEN 1 ELSE 0 END")}
       |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
       |FROM hashes a JOIN hashes b ON a.doc_id < b.doc_id
       |WHERE bit_count(xor(a.hash_hi, b.hash_hi))
       |    + bit_count(xor(a.hash_lo, b.hash_lo)) <= 6
       |ORDER BY doc_a, doc_b""".stripMargin

  /** REAL video decode, oracle-gated end to end (round-13): per doc a
    * 3-frame 8×6 uncompressed-DIB AVI is synthesized
    * ([[ops.Multimodal.MediaCodec.encodeAvi]] — the same container the
    * MJPEG path demuxes, with lossless frames so the oracle is closed
    * form), demuxed + decoded through [[ops.Multimodal.videoFrameFeatures]]
    * at stride 2 (frames 0 and 2), and the EXACT per-channel sums over the
    * sampled frames compare against DuckDB computing the pixel closed form
    * directly. Any demux defect (chunk walk, stream selection, stride,
    * row order, BGR order, row padding) breaks the hash. The MJPEG leg of
    * the same demuxer is spec-pinned (JPEG is lossy — no closed form).
    */
  def mq7VideoDecode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = t(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val frames = (0 until 3).map(k =>
          ops.Multimodal.MediaCodec.encodeDib24Frame(8, 6, (x, y) => {
            val r = ((id * 3 + k * 11 + x + y * 8) % 256).toInt
            val g = ((id * 5 + k * 13 + x * 2 + y) % 256).toInt
            val b = ((id * 7 + k * 17 + x + y) % 256).toInt
            (r << 16) | (g << 8) | b
          }))
        (id, ops.Multimodal.MediaCodec.encodeAvi(8, 6, 10, "DIB", frames))
      }
      .toDF("id", "media")
    ops.Multimodal.videoFrameFeatures(spark, media, stride = 2)
      .toDF()
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_frames"),
        max(col("width")).as("width"),
        max(col("height")).as("height"),
        sum(col("sum_r")).cast("bigint").as("sum_r"),
        sum(col("sum_g")).cast("bigint").as("sum_g"),
        sum(col("sum_b")).cast("bigint").as("sum_b"))
      .orderBy(col("doc_id"))
  }

  val mq7Oracle: String =
    """SELECT d.doc_id, CAST(2 AS BIGINT) AS n_frames, 8 AS width, 6 AS height,
      |  CAST(sum((d.doc_id*3 + f.k*11 + g.x + g2.y*8) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((d.doc_id*5 + f.k*13 + g.x*2 + g2.y) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((d.doc_id*7 + f.k*17 + g.x + g2.y) % 256) AS BIGINT) AS sum_b
      |FROM documents d, (VALUES (0), (2)) f(k),
      |  generate_series(0, 7) g(x), generate_series(0, 5) g2(y)
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** REAL ISO-BMFF (MP4/MOV) video decode, oracle-gated end to end
    * (round-14): per doc a 3-frame 7×5 uncompressed-`raw ` MP4 is
    * synthesized ([[ops.Multimodal.MediaCodec.encodeMp4Video]] — the same
    * box tree the Motion-JPEG path demuxes, with lossless tightly-packed
    * RGB frames so the oracle is closed form), demuxed + decoded through
    * [[ops.Multimodal.videoFrameFeatures]] at stride 2 (frames 0 and 2),
    * and the EXACT per-channel sums compare against DuckDB computing the
    * pixel closed form directly. Any demux defect (box walk, stbl table
    * reconstruction — stsc runs, stco offsets, fixed-stsz sizes — RGB
    * order, row math) breaks the hash. The BMFF JPEG leg of the same
    * demuxer is spec-pinned byte-identical (JPEG is lossy — no closed
    * form), and the avc1 metadata-only leg is spec-pinned too.
    */
  def mq8Mp4Decode(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val media = t(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val frames = (0 until 3).map(k =>
          ops.Multimodal.MediaCodec.encodeRaw24Frame(7, 5, (x, y) => {
            val r = ((id * 5 + k * 7 + x * 3 + y) % 256).toInt
            val g = ((id * 11 + k * 3 + x + y * 5) % 256).toInt
            val b = ((id * 13 + k * 19 + x * 2 + y * 3) % 256).toInt
            (r << 16) | (g << 8) | b
          }))
        (id, ops.Multimodal.MediaCodec.encodeMp4Video(7, 5, 12, "raw ", frames))
      }
      .toDF("id", "media")
    ops.Multimodal.videoFrameFeatures(spark, media, stride = 2)
      .toDF()
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_frames"),
        max(col("width")).as("width"),
        max(col("height")).as("height"),
        sum(col("sum_r")).cast("bigint").as("sum_r"),
        sum(col("sum_g")).cast("bigint").as("sum_g"),
        sum(col("sum_b")).cast("bigint").as("sum_b"))
      .orderBy(col("doc_id"))
  }

  val mq8Oracle: String =
    """SELECT d.doc_id, CAST(2 AS BIGINT) AS n_frames, 7 AS width, 5 AS height,
      |  CAST(sum((d.doc_id*5 + f.k*7 + g.x*3 + g2.y) % 256) AS BIGINT) AS sum_r,
      |  CAST(sum((d.doc_id*11 + f.k*3 + g.x + g2.y*5) % 256) AS BIGINT) AS sum_g,
      |  CAST(sum((d.doc_id*13 + f.k*19 + g.x*2 + g2.y*3) % 256) AS BIGINT) AS sum_b
      |FROM documents d, (VALUES (0), (2)) f(k),
      |  generate_series(0, 6) g(x), generate_series(0, 4) g2(y)
      |GROUP BY d.doc_id ORDER BY d.doc_id""".stripMargin

  /** Synthesized crawl URLs for the web-ops gates: per doc, group
    * `g = doc_id div 5` and variant `k = doc_id % 5` build five spellings —
    * k=0..3 differ only in case, `www.`, default port, tracking params,
    * param order, and fragment (all normalized away → one canonical URL
    * per group), k=4 is a genuinely distinct https URL on a NON-default
    * port under a multi-label suffix (`.co.uk`), exercising kept ports
    * and the eTLD+1 rule.
    */
  private def uqUrls(spark: SparkSession, sfDir: String): DataFrame = {
    val g = expr("doc_id div 5")
    val k = expr("doc_id % 5")
    val site = concat(lit("Site"), (g % 40).cast("string"))
    val url = when(k === 0,
      concat(lit("http://www."), site, lit(".com/p/"), g.cast("string"), lit("?b=2&a=1")))
      .when(k === 1,
        concat(lit("http://u:p@"), site, lit(".COM:80/p/"), g.cast("string"),
          lit("?a=1&b=2&utm_source=x")))
      .when(k === 2,
        concat(lit("http://"), site, lit(".com/p/"), g.cast("string"),
          lit("?b=2&a=1&fbclid=zz#sec2")))
      .when(k === 3,
        concat(lit("http://www."), site, lit(".Com:80/p/"), g.cast("string"),
          lit("?a=1&b=2")))
      .otherwise(
        concat(lit("https://cdn."), site, lit(".co.uk:8443/x/"), g.cast("string")))
    t(spark, sfDir, "documents").select(col("doc_id"), url.as("url"))
  }

  /** The same URL construction in DuckDB SQL (`g`/`k` from doc_id). */
  private val uqUrlsSql: String =
    """SELECT doc_id,
      |  CASE doc_id % 5
      |    WHEN 0 THEN 'http://www.Site' || (doc_id // 5) % 40 || '.com/p/' || doc_id // 5 || '?b=2&a=1'
      |    WHEN 1 THEN 'http://u:p@Site' || (doc_id // 5) % 40 || '.COM:80/p/' || doc_id // 5 || '?a=1&b=2&utm_source=x'
      |    WHEN 2 THEN 'http://Site' || (doc_id // 5) % 40 || '.com/p/' || doc_id // 5 || '?b=2&a=1&fbclid=zz#sec2'
      |    WHEN 3 THEN 'http://www.Site' || (doc_id // 5) % 40 || '.Com:80/p/' || doc_id // 5 || '?a=1&b=2'
      |    ELSE 'https://cdn.Site' || (doc_id // 5) % 40 || '.co.uk:8443/x/' || doc_id // 5
      |  END AS url
      |FROM documents""".stripMargin

  /** The normalization chain mirrored rule-for-rule in DuckDB (the uq1/uq2
    * oracle CTE): lowercase scheme/host, strip `www.`, drop default ports,
    * drop fragment + tracking params, sort surviving params, '' path → '/'.
    */
  private val uqNormSql: String =
    """norm AS (
      |  SELECT doc_id, url,
      |    lower(regexp_extract(url, '^([^:/?#]+)://', 1)) AS scheme,
      |    regexp_replace(
      |      lower(regexp_extract(url, '^[^:/?#]+://([^/?#]*)', 1)),
      |      '^[^@]*@', '') AS auth
      |  FROM urls),
      |parts AS (
      |  SELECT doc_id, url, scheme, auth,
      |    regexp_extract(auth, ':([0-9]+)$', 1) AS port,
      |    regexp_replace(regexp_replace(auth, ':[0-9]+$', ''), '^www\.', '') AS host,
      |    CASE WHEN regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) = '' THEN '/'
      |         ELSE regexp_extract(url, '^[^:/?#]+://[^/?#]*([^?#]*)', 1) END AS npath,
      |    array_to_string(list_sort(list_filter(
      |      string_split(regexp_extract(url, '\?([^#]*)', 1), '&'),
      |      p -> p <> '' AND NOT regexp_matches(p, '^(utm_[^=]*|gclid|fbclid|ref)='))), '&') AS qnorm
      |  FROM norm),
      |canon AS (
      |  SELECT doc_id, host,
      |    scheme || '://' || host ||
      |    CASE WHEN port <> '' AND NOT ((scheme = 'http' AND port = '80')
      |                              OR (scheme = 'https' AND port = '443'))
      |         THEN ':' || port ELSE '' END ||
      |    npath ||
      |    CASE WHEN qnorm <> '' THEN '?' || qnorm ELSE '' END AS canonical_url
      |  FROM parts)""".stripMargin

  /** URL canonicalization + host + registrable domain, oracle-gated rule
    * for rule ([[ops.Web.normalizeUrl]]/[[ops.Web.urlHost]]/
    * [[ops.Web.registrableDomain]] vs DuckDB computing the identical
    * chain): any divergence in the regex steps, param filtering/sorting,
    * port defaults, or the multi-label suffix rule breaks the hash.
    */
  def uq1UrlNormalize(spark: SparkSession, sfDir: String): DataFrame = {
    val urls = uqUrls(spark, sfDir)
    val host = ops.Web.urlHost(col("url"))
    urls.select(
      col("doc_id"),
      ops.Web.normalizeUrl(col("url")).as("canonical_url"),
      host.as("host"),
      ops.Web.registrableDomain(host).as("domain"))
      .orderBy(col("doc_id"))
  }

  val uq1Oracle: String =
    s"""WITH urls AS ($uqUrlsSql),
       |$uqNormSql,
       |dom AS (
       |  SELECT doc_id, canonical_url, host,
       |    string_split(host, '.') AS hp
       |  FROM canon)
       |SELECT doc_id, canonical_url, host,
       |  CASE WHEN len(hp) <= 2 THEN host
       |       WHEN hp[-2] || '.' || hp[-1] IN
       |         ('co.uk','org.uk','ac.uk','gov.uk','com.au','net.au','org.au',
       |          'co.jp','ne.jp','or.jp','com.br','com.cn','com.mx','co.in','co.kr','co.za')
       |       THEN hp[-3] || '.' || hp[-2] || '.' || hp[-1]
       |       ELSE hp[-2] || '.' || hp[-1] END AS domain
       |FROM dom ORDER BY doc_id""".stripMargin

  /** URL-keyed exact dedup ([[ops.Web.urlDedup]]): the four
    * normalization-equivalent spellings per group collapse to one row
    * with the min-id keeper and n_dups=4; the distinct k=4 URL stays its
    * own group. Oracle: DuckDB groups by the same canonical chain.
    */
  def uq2UrlDedup(spark: SparkSession, sfDir: String): DataFrame =
    ops.Web.urlDedup(uqUrls(spark, sfDir), "doc_id", "url")
      .orderBy(col("canonical_url"))

  val uq2Oracle: String =
    s"""WITH urls AS ($uqUrlsSql),
       |$uqNormSql
       |SELECT canonical_url, min(doc_id) AS keeper_id,
       |  CAST(count(*) AS BIGINT) AS n_dups
       |FROM canon GROUP BY canonical_url ORDER BY canonical_url""".stripMargin

  /** PSL fixture list for uq3 — exercises every rule kind the parser
    * supports: comments (standalone + trailing), blank lines, plain
    * multi-label rules, a wildcard, an exception, and an ignored bare
    * `*`.
    */
  private val uq3PslLines: Seq[String] = Seq(
    "// uq3 test public suffix list", "",
    "com  // plain single-label (redundant with the default rule)",
    "co.uk", "*.ck", "!www.ck", "*")

  /** Full-PSL registrable-domain extraction ([[ops.Web.registrableDomainPsl]]
    * AND [[ops.Web.withRegistrableDomain]] — the output carries BOTH, so
    * the hash also gates that the chained-expression form and the
    * broadcast-join form agree). Six host shapes: a co.uk multi-label, a
    * wildcard `*.ck` match with and without extra depth, the `!www.ck`
    * exception at and below the exception domain, a plain .com, and a
    * host that IS a public suffix. Oracle: DuckDB derives each branch's
    * domain in closed form from the PSL semantics.
    */
  def uq3PslDomains(spark: SparkSession, sfDir: String): DataFrame = {
    val psl = ops.Web.Psl.parse(uq3PslLines)
    val g = expr("(doc_id div 6) % 50").cast("string")
    val k = expr("doc_id % 6")
    val host = when(k === 0, concat(lit("a"), g, lit(".site"), g, lit(".co.uk")))
      .when(k === 1, concat(lit("b.x"), g, lit(".ck")))
      .when(k === 2, lit("www.ck"))
      .when(k === 3, concat(lit("sub"), g, lit(".www.ck")))
      .when(k === 4, concat(lit("deep.a"), g, lit(".com")))
      .otherwise(concat(lit("x"), g, lit(".ck")))
    val base = t(spark, sfDir, "documents").select(col("doc_id"), host.as("host"))
    ops.Web.withRegistrableDomain(base, "host", "domain_join", psl)
      .withColumn("domain_expr", ops.Web.registrableDomainPsl(col("host"), psl))
      .select(col("doc_id"), col("host"), col("domain_expr"), col("domain_join"))
      .orderBy(col("doc_id"))
  }

  val uq3Oracle: String =
    """WITH hosts AS (
      |  SELECT doc_id, (doc_id // 6) % 50 AS g,
      |    CASE doc_id % 6
      |      WHEN 0 THEN 'a' || (doc_id // 6) % 50 || '.site' || (doc_id // 6) % 50 || '.co.uk'
      |      WHEN 1 THEN 'b.x' || (doc_id // 6) % 50 || '.ck'
      |      WHEN 2 THEN 'www.ck'
      |      WHEN 3 THEN 'sub' || (doc_id // 6) % 50 || '.www.ck'
      |      WHEN 4 THEN 'deep.a' || (doc_id // 6) % 50 || '.com'
      |      ELSE 'x' || (doc_id // 6) % 50 || '.ck'
      |    END AS host
      |  FROM documents),
      |dom AS (
      |  SELECT doc_id, host,
      |    CASE doc_id % 6
      |      WHEN 0 THEN 'site' || g || '.co.uk'  -- co.uk rule, longest match
      |      WHEN 1 THEN 'b.x' || g || '.ck'      -- *.ck: x{g}.ck is the public suffix
      |      WHEN 2 THEN 'www.ck'                 -- !www.ck: ps=ck, host is eTLD+1
      |      WHEN 3 THEN 'www.ck'                 -- exception matched below the domain
      |      WHEN 4 THEN 'a' || g || '.com'       -- plain com rule
      |      ELSE 'x' || g || '.ck'               -- host IS a public suffix: pass through
      |    END AS d
      |  FROM hosts)
      |SELECT doc_id, host, d AS domain_expr, d AS domain_join
      |FROM dom ORDER BY doc_id""".stripMargin

  /** Sitemap-protocol parsing ([[ops.Web.sitemapUrls]]): per doc one of
    * four fixture shapes — a 2-entry `<urlset>` (entity-escaped `&amp;`
    * in the loc, surrounding whitespace, a comment between entries, one
    * entry without `<lastmod>`), a `<sitemapindex>` (is_index=true), a
    * mixed-case `<URL><LOC>` entry preceded by a loc-less entry that must
    * DROP (so `seq` renumbers over kept entries), and garbage HTML (no
    * rows). Oracle: DuckDB states the expected exploded rows in closed
    * form — any defect in element matching, comment strip, entity decode,
    * trimming, case folding, loc-less filtering, or entry ordering breaks
    * the hash.
    */
  def uq5Sitemap(spark: SparkSession, sfDir: String): DataFrame = {
    val k = expr("doc_id % 4")
    val s = col("doc_id").cast("string")
    val xml = when(k === 0, concat(
      lit("<?xml version=\"1.0\"?><urlset xmlns=\"http://www.sitemaps.org/schemas/sitemap/0.9\">" +
        "<url><loc> http://s"), s,
      lit(".com/p?a=1&amp;b=2 </loc><lastmod>2026-01-02</lastmod></url>" +
        "<!-- a comment --><url><loc>http://s"), s,
      lit(".com/q</loc></url></urlset>")))
      .when(k === 1, concat(
        lit("<sitemapindex><sitemap><loc>http://s"), s,
        lit(".com/sitemap2.xml</loc><lastmod>2026-02-03</lastmod></sitemap></sitemapindex>")))
      .when(k === 2, concat(
        lit("<urlset><url><priority>0.5</priority></url><URL ><LOC>http://s"), s,
        lit(".com/only</LOC></URL></urlset>")))
      .otherwise(lit("<html><body>404 not found</body></html>"))
    val base = t(spark, sfDir, "documents").select(col("doc_id"), xml.as("xml"))
    ops.Web.sitemapUrls(base, "doc_id", "xml")
      .orderBy(col("doc_id"), col("seq"))
  }

  val uq5Oracle: String =
    """SELECT doc_id, CAST(seq AS INT) AS seq, loc, lastmod, is_index FROM (
      |  SELECT doc_id, 0 AS seq,
      |    'http://s' || doc_id || '.com/p?a=1&b=2' AS loc,
      |    '2026-01-02' AS lastmod, FALSE AS is_index
      |  FROM documents WHERE doc_id % 4 = 0
      |  UNION ALL
      |  SELECT doc_id, 1, 'http://s' || doc_id || '.com/q',
      |    CAST(NULL AS VARCHAR), FALSE
      |  FROM documents WHERE doc_id % 4 = 0
      |  UNION ALL
      |  SELECT doc_id, 0, 'http://s' || doc_id || '.com/sitemap2.xml',
      |    '2026-02-03', TRUE
      |  FROM documents WHERE doc_id % 4 = 1
      |  UNION ALL
      |  SELECT doc_id, 0, 'http://s' || doc_id || '.com/only',
      |    CAST(NULL AS VARCHAR), FALSE
      |  FROM documents WHERE doc_id % 4 = 2
      |) ORDER BY doc_id, seq""".stripMargin

  /** Outlink extraction + base resolution ([[ops.Html.extractLinks]] →
    * [[ops.Web.resolveUrl]]) over link-diverse fixture pages: absolute,
    * scheme-relative, root-relative, query-only, fragment-only, unquoted
    * path-relative hrefs, plus a commented-out link that must NOT appear.
    * Oracle: closed form per (doc_id, link_idx) from the page structure.
    */
  def wq3LinkResolve(spark: SparkSession, sfDir: String): DataFrame = {
    val g = expr("(doc_id div 5) % 40").cast("string")
    val html = concat(
      lit("<div><a href=\"https://ext"), g, lit(".org/x\">e</a>"),
      lit("<a href=\"//cdn"), g, lit(".net/l\">p</a>"),
      lit("<a href=\"/root"), g, lit("\">r</a>"),
      lit("<a href='?q="), g, lit("'>q</a>"),
      lit("<a href=\"#frag\">f</a>"),
      lit("<a href=rel"), g, lit("/y>rel</a>"),
      lit("<!-- <a href=\"/commented\">c</a> --></div>"))
    val base = concat(lit("https://www.Site"), g, lit(".com:443/a/b/page.html?k=1#top"))
    t(spark, sfDir, "documents")
      .select(col("doc_id"), base.as("base"),
        ops.Html.extractLinks(html).as("links"))
      .select(col("doc_id"), col("base"),
        posexplode(col("links")).as(Seq("link_idx", "href")))
      .select(col("doc_id"), col("link_idx"),
        ops.Web.resolveUrl(col("base"), col("href")).as("url"))
      .orderBy(col("doc_id"), col("link_idx"))
  }

  val wq3Oracle: String =
    """SELECT doc_id, link_idx,
      |  CASE link_idx
      |    WHEN 0 THEN 'https://ext' || g || '.org/x'
      |    WHEN 1 THEN 'https://cdn' || g || '.net/l'
      |    WHEN 2 THEN 'https://www.site' || g || '.com:443/root' || g
      |    WHEN 3 THEN 'https://www.site' || g || '.com:443/a/b/page.html?q=' || g
      |    WHEN 4 THEN 'https://www.site' || g || '.com:443/a/b/page.html?k=1'
      |    ELSE 'https://www.site' || g || '.com:443/a/b/rel' || g || '/y'
      |  END AS url
      |FROM (SELECT doc_id, (doc_id // 5) % 40 AS g FROM documents),
      |     (SELECT unnest(range(6)) AS link_idx)
      |ORDER BY doc_id, link_idx""".stripMargin

  /** `<base href>` handling ([[ops.Html.baseHref]]/[[ops.Html.effectiveBase]]
    * → [[ops.Web.resolveUrl]]): per doc one of three page shapes — an
    * ABSOLUTE base (links leave the fetched host entirely), a RELATIVE
    * base (itself resolved against the fetched URI per the HTML spec,
    * then redirecting the link), and no base (the fetch-URI directory
    * rule) — plus a commented-out base that must not win. Oracle states
    * the effective base and the resolved outlink closed-form.
    */
  def wq6BaseHref(spark: SparkSession, sfDir: String): DataFrame = {
    val g = expr("(doc_id div 3) % 40").cast("string")
    val k = expr("doc_id % 3")
    val id = col("doc_id").cast("string")
    val fetched = concat(lit("http://site"), g, lit(".com/a/page"), id,
      lit(".html"))
    val html = concat(
      lit("<!-- <base href=\"https://evil.example/\"> --><head>"),
      when(k === 0, concat(
        lit("<base href=\"https://cdn"), g, lit(".example/assets/\">")))
        .when(k === 1, lit("<base href='/b/'>"))
        .otherwise(lit("")),
      lit("</head><body><a href=\"img/x"), id, lit("\">l</a></body>"))
    // STAGED through projections (r14 optimization): Column builders
    // SUBSTITUTE their argument tree at every reference site, so the
    // composed effectiveBase∘resolveUrl form re-ran the full-document
    // comment-strip regex of baseHref tens of times per row (the when-
    // branch copies are invisible to codegen subexpression elimination,
    // which skips conditional branches). One column per level = one
    // evaluation per level; CollapseProject keeps it that way because the
    // staged columns are non-cheap and multiply referenced. Values are
    // identical: base = coalesce(resolveUrl(fetched, baseHref(html)),
    // fetched) IS Html.effectiveBase, evaluated once.
    t(spark, sfDir, "documents")
      .select(col("doc_id"), fetched.as("fetched"), html.as("html"))
      .withColumn("_bh", ops.Html.baseHref(col("html")))
      .withColumn(
        "base",
        coalesce(ops.Web.resolveUrl(col("fetched"), col("_bh")), col("fetched")))
      .select(
        col("doc_id"),
        col("base"),
        ops.Web.resolveUrl(
          col("base"),
          element_at(ops.Html.extractLinks(col("html")), 1)).as("url"))
      .orderBy(col("doc_id"))
  }

  val wq6Oracle: String =
    """SELECT doc_id,
      |  CASE doc_id % 3
      |    WHEN 0 THEN 'https://cdn' || g || '.example/assets/'
      |    WHEN 1 THEN 'http://site' || g || '.com/b/'
      |    ELSE 'http://site' || g || '.com/a/page' || doc_id || '.html'
      |  END AS base,
      |  CASE doc_id % 3
      |    WHEN 0 THEN 'https://cdn' || g || '.example/assets/img/x' || doc_id
      |    WHEN 1 THEN 'http://site' || g || '.com/b/img/x' || doc_id
      |    ELSE 'http://site' || g || '.com/a/img/x' || doc_id
      |  END AS url
      |FROM (SELECT doc_id, (doc_id // 3) % 40 AS g FROM documents)
      |ORDER BY doc_id""".stripMargin

  /** WARC record extraction ([[ops.Warc.records]]): per doc a 2-record
    * WARC (warcinfo + an HTTP 200 text/html response wrapping the doc
    * text), odd docs gzipped — so the oracle hash also gates the
    * inflate path against the plain path. The parsed response body flows
    * straight into [[ops.Html.htmlTitle]] (the production chain). Oracle:
    * closed form from the construction — record count, status, response
    * byte length (DuckDB rebuilds the same HTML and measures), title.
    */
  def wq4WarcExtract(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = t(spark, sfDir, "documents")
      .select(col("doc_id"), col("text")).as[(Long, String)]
      .map { case (id, text) =>
        val html = s"<html><head><title>Doc $id</title></head><body><p>" +
          text + "</p></body></html>"
        val warc = ops.Warc.concat(Seq(
          ops.Warc.encodeRecord("warcinfo", "", "2026-08-15T00:00:00Z",
            "software: graft\r\n".getBytes("UTF-8")),
          ops.Warc.encodeRecord("response", s"https://site${id % 40}.com/p/$id",
            "2026-08-15T00:00:01Z",
            ops.Warc.encodeHttpResponse(200, "text/html; charset=utf-8",
              html.getBytes("UTF-8")))))
        (id, if (id % 2 == 1) ops.Warc.gzip(warc) else warc)
      }.toDF("id", "media")
    ops.Warc.records(spark, src)
      .toDF()
      .withColumn("title", ops.Html.htmlTitle(col("body_text")))
      .groupBy(col("id").as("doc_id"))
      .agg(
        count(lit(1)).cast("bigint").as("n_records"),
        max(col("http_status")).as("status"),
        max(col("n_body_bytes")).cast("bigint").as("max_body_bytes"),
        max(col("title")).as("title"))
      .orderBy(col("doc_id"))
  }

  val wq4Oracle: String =
    """SELECT doc_id,
      |  CAST(2 AS BIGINT) AS n_records,
      |  200 AS status,
      |  CAST(octet_length(encode('<html><head><title>Doc ' || doc_id ||
      |    '</title></head><body><p>' || text || '</p></body></html>'))
      |    AS BIGINT) AS max_body_bytes,
      |  'Doc ' || doc_id AS title
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Charset sniffing end to end ([[ops.Warc.sniffCharset]] through
    * [[ops.Warc.records]]): four fixture encodings per modulus — a
    * UTF-8 body declared by the Content-Type header, a LATIN-1 body
    * declared only by its `<meta charset>` tag (the header is bare
    * `text/html`), a UTF-8-BOM body whose header LIES (`charset=
    * iso-8859-1` — the BOM must win per the Encoding standard, and the
    * BOM char must be stripped from the text), and a bare-ASCII body
    * with no declaration at all (the UTF-8 default). The oracle states
    * the decoded Unicode text, resolved charset, and provenance tag in
    * closed form — a wrong precedence order or a skipped decode step
    * produces mojibake and breaks the hash.
    */
  def wq5CharsetSniff(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = t(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val (ctype, body) = (id % 4) match {
          case 0 =>
            ("text/html; charset=utf-8",
              s"<html><body>café № $id</body></html>".getBytes("UTF-8"))
          case 1 =>
            ("text/html",
              ("<html><head><meta charset=\"iso-8859-1\"></head>" +
                s"<body>café n° $id</body></html>").getBytes("ISO-8859-1"))
          case 2 =>
            val html = s"<html><body>día $id</body></html>".getBytes("UTF-8")
            ("text/html; charset=iso-8859-1",
              Array(0xEF.toByte, 0xBB.toByte, 0xBF.toByte) ++ html)
          case _ =>
            ("text/html", s"<html><body>plain $id</body></html>".getBytes("UTF-8"))
        }
        val warc = ops.Warc.encodeRecord(
          "response", s"https://site${id % 40}.com/c/$id", "2026-08-15T00:00:02Z",
          ops.Warc.encodeHttpResponse(200, ctype, body))
        (id, warc)
      }.toDF("id", "media")
    ops.Warc.records(spark, src)
      .toDF()
      .select(
        col("id").as("doc_id"),
        col("charset"),
        col("charset_source"),
        col("body_text"))
      .orderBy(col("doc_id"))
  }

  val wq5Oracle: String =
    """SELECT doc_id,
      |  CASE doc_id % 4 WHEN 1 THEN 'iso-8859-1' ELSE 'utf-8' END AS charset,
      |  CASE doc_id % 4 WHEN 0 THEN 'header' WHEN 1 THEN 'meta'
      |       WHEN 2 THEN 'bom' ELSE 'default' END AS charset_source,
      |  CASE doc_id % 4
      |    WHEN 0 THEN '<html><body>café № ' || doc_id || '</body></html>'
      |    WHEN 1 THEN '<html><head><meta charset="iso-8859-1"></head>' ||
      |      '<body>café n° ' || doc_id || '</body></html>'
      |    WHEN 2 THEN '<html><body>día ' || doc_id || '</body></html>'
      |    ELSE '<html><body>plain ' || doc_id || '</body></html>'
      |  END AS body_text
      |FROM documents ORDER BY doc_id""".stripMargin

  /** CCNet-style frequent-line removal
    * ([[ops.TextAnalysis.dropFrequentLines]]): 5-line fixture docs where a
    * header (written in two case/whitespace spellings that normalize to
    * one key) and a footer appear in all 500 docs — dropped at
    * minDocs=100 — while the per-doc body, a blank structural line
    * (exempt), and a unique tail survive with original spelling and
    * order. Oracle: DuckDB mirrors the whole chain (normalize → distinct-
    * doc count → anti-join → ordered reassembly).
    */
  def tq14LineDedup(spark: SparkSession, sfDir: String): DataFrame = {
    val header = when(col("doc_id") % 2 === 0, lit("Site Nav  Home"))
      .otherwise(lit("site nav home"))
    val text = concat_ws("\n",
      header, col("text"), lit(""), lit("Copyright 2026 All Rights"),
      concat(lit("tail "), col("doc_id").cast("string")))
    val src = t(spark, sfDir, "documents").select(col("doc_id"), text.as("text"))
    ops.TextAnalysis.dropFrequentLines(src, "doc_id", "text", minDocs = 100)
      .orderBy(col("doc_id"))
  }

  val tq14Oracle: String =
    """WITH src AS (
      |  SELECT doc_id,
      |    (CASE WHEN doc_id % 2 = 0 THEN 'Site Nav  Home' ELSE 'site nav home' END)
      |      || chr(10) || text || chr(10) || '' || chr(10) ||
      |      'Copyright 2026 All Rights' || chr(10) || 'tail ' || doc_id AS text
      |  FROM documents),
      |lines AS (
      |  SELECT doc_id,
      |    unnest(range(len(string_split(text, chr(10))))) AS pos,
      |    unnest(string_split(text, chr(10))) AS line
      |  FROM src),
      |keyed AS (
      |  SELECT doc_id, pos, line,
      |    lower(trim(regexp_replace(line, '\s+', ' ', 'g'))) AS key
      |  FROM lines),
      |freq AS (
      |  SELECT key FROM keyed WHERE key <> ''
      |  GROUP BY key HAVING COUNT(DISTINCT doc_id) >= 100),
      |kept AS (
      |  SELECT k.doc_id, k.pos, k.line FROM keyed k
      |  LEFT JOIN freq f ON k.key = f.key WHERE f.key IS NULL),
      |agg AS (
      |  SELECT doc_id, string_agg(line, chr(10) ORDER BY pos) AS clean,
      |         COUNT(*) AS kc
      |  FROM kept GROUP BY doc_id)
      |SELECT s.doc_id,
      |  COALESCE(a.clean, '') AS text,
      |  CAST(len(string_split(s.text, chr(10))) AS BIGINT) AS n_lines,
      |  CAST(len(string_split(s.text, chr(10))) - COALESCE(a.kc, 0) AS BIGINT)
      |    AS n_dropped
      |FROM src s LEFT JOIN agg a ON s.doc_id = a.doc_id
      |ORDER BY s.doc_id""".stripMargin

  /** robots.txt evaluation ([[graft.functions.robots_allowed]], RFC 9309
    * longest-match): one policy file, eight path shapes exercising allow/
    * disallow precedence by pattern length, the `*` wildcard, the `$` end
    * anchor (match and near-miss), and group selection (the specific
    * agent's group hides the `*` group's disallow). The oracle is the
    * closed-form verdict per branch — decode-independent like the mq
    * oracles, since DuckDB has no robots evaluator.
    */
  def rq1Robots(spark: SparkSession, sfDir: String): DataFrame = {
    val robotsTxt =
      "# crawl policy\nUser-agent: badbot\nDisallow: /\n\n" +
        "User-agent: graftbot\nAllow: /public/\nDisallow: /public/private/\n" +
        "Disallow: /*.pdf$\nAllow: /a\nDisallow: /a/b\n\n" +
        "User-agent: *\nDisallow: /all/\n"
    val g = expr("(doc_id div 8) % 50").cast("string")
    val k = expr("doc_id % 8")
    val path = when(k === 0, concat(lit("/public/x"), g, lit(".html")))
      .when(k === 1, concat(lit("/public/private/x"), g))
      .when(k === 2, concat(lit("/doc"), g, lit(".pdf")))
      .when(k === 3, concat(lit("/doc"), g, lit(".pdfx")))
      .when(k === 4, concat(lit("/a/b/c"), g))
      .when(k === 5, concat(lit("/a/x"), g))
      .when(k === 6, concat(lit("/all/x"), g))
      .otherwise(concat(lit("/misc/"), g))
    t(spark, sfDir, "documents")
      .select(col("doc_id"), path.as("path"),
        graft.functions.robots_allowed(lit(robotsTxt), path, "graftbot")
          .as("allowed"))
      .orderBy(col("doc_id"))
  }

  val rq1Oracle: String =
    """SELECT doc_id,
      |  CASE doc_id % 8
      |    WHEN 0 THEN '/public/x' || (doc_id // 8) % 50 || '.html'
      |    WHEN 1 THEN '/public/private/x' || (doc_id // 8) % 50
      |    WHEN 2 THEN '/doc' || (doc_id // 8) % 50 || '.pdf'
      |    WHEN 3 THEN '/doc' || (doc_id // 8) % 50 || '.pdfx'
      |    WHEN 4 THEN '/a/b/c' || (doc_id // 8) % 50
      |    WHEN 5 THEN '/a/x' || (doc_id // 8) % 50
      |    WHEN 6 THEN '/all/x' || (doc_id // 8) % 50
      |    ELSE '/misc/' || (doc_id // 8) % 50
      |  END AS path,
      |  (doc_id % 8) IN (0, 3, 5, 6, 7) AS allowed
      |FROM documents ORDER BY doc_id""".stripMargin

  /** Sitemap-directive extraction from robots.txt
    * ([[ops.Web.robotsSitemaps]] — the discovery pointer feeding
    * [[ops.Web.sitemapUrls]]): per doc a robots file with two Sitemap
    * lines in mixed case/indentation, a trailing comment after one value,
    * a commented-OUT line that must not match, and group directives in
    * between (global-directive semantics: position is irrelevant). The
    * oracle states the exploded (doc_id, seq, url) rows closed-form.
    */
  def rq2RobotsSitemaps(spark: SparkSession, sfDir: String): DataFrame = {
    val g = col("doc_id").cast("string")
    val robots = concat(
      lit("# robots for site"), g, lit("\nUser-agent: *\nDisallow: /private\n"),
      lit("Sitemap: https://s"), g, lit(".com/sitemap.xml # primary\n"),
      lit("# Sitemap: https://s"), g, lit(".com/commented.xml\n"),
      lit("  sitemap:\thttps://s"), g, lit(".com/news.xml\n"))
    t(spark, sfDir, "documents")
      .select(col("doc_id"),
        posexplode(ops.Web.robotsSitemaps(robots)).as(Seq("seq", "url")))
      .orderBy(col("doc_id"), col("seq"))
  }

  val rq2Oracle: String =
    """SELECT doc_id, CAST(seq AS INT) AS seq, url FROM (
      |  SELECT doc_id, 0 AS seq,
      |    'https://s' || doc_id || '.com/sitemap.xml' AS url FROM documents
      |  UNION ALL
      |  SELECT doc_id, 1, 'https://s' || doc_id || '.com/news.xml' FROM documents
      |) ORDER BY doc_id, seq""".stripMargin

  /** Group-scoped Crawl-delay extraction
    * ([[graft.functions.robots_crawl_delay]]): per doc a robots file with
    * a graftbot group carrying a doc-dependent delay, a newsbot group
    * WITHOUT one (a specific group HIDES `*` — RFC 9309 §2.2.1 — so the
    * column is null, not the `*` value), and a `*` group at 2.5 s that an
    * unknown agent falls back to. Oracle states all three columns
    * closed-form (the delay arithmetic is exact: k·0.5 in doubles).
    */
  def rq3CrawlDelay(spark: SparkSession, sfDir: String): DataFrame = {
    val k = expr("doc_id % 7").cast("string")
    val robots = concat(
      lit("User-agent: graftbot\nCrawl-delay: "), k,
      lit(".5\nDisallow: /x\n\n"),
      lit("User-agent: newsbot\nDisallow: /y\n\n"),
      lit("User-agent: *\nCrawl-delay: 2.5\n"))
    t(spark, sfDir, "documents")
      .select(
        col("doc_id"),
        graft.functions.robots_crawl_delay(robots, "graftbot").as("delay_graftbot"),
        graft.functions.robots_crawl_delay(robots, "unknownbot").as("delay_unknown"),
        graft.functions.robots_crawl_delay(robots, "newsbot").as("delay_newsbot"))
      .orderBy(col("doc_id"))
  }

  val rq3Oracle: String =
    """SELECT doc_id,
      |  CAST(doc_id % 7 AS DOUBLE) + 0.5 AS delay_graftbot,
      |  CAST(2.5 AS DOUBLE) AS delay_unknown,
      |  CAST(NULL AS DOUBLE) AS delay_newsbot
      |FROM documents ORDER BY doc_id""".stripMargin

  /** The COMPOSED crawl-discovery pipeline — every stage individually
    * gated, composed here so stage-boundary defects have a gate too
    * (the cq1/cq3 pattern, for the crawl side): per doc a WARC shard
    * with one fetched HTML page carrying three outlinks (an internal
    * link with a tracking param, a robots-disallowed /private link, and
    * a cross-host .co.uk link shared across docs) flows through
    * [[ops.Warc.records]] (parse + charset decode) →
    * [[ops.Html.extractLinks]] → [[ops.Web.resolveUrl]] against the
    * fetched URI → [[ops.Web.normalizeUrl]] (tracking param drops,
    * params sort) → a per-host robots join +
    * [[graft.functions.robots_allowed]] filter →
    * [[ops.Web.urlDedup]] into the frontier. Oracle: DuckDB states the
    * expected frontier closed-form — internal links stay one-per-doc,
    * /private vanishes, each ext{k}.co.uk/x collapses to its min-id
    * keeper with the doc-count multiplicity.
    */
  def cq7CrawlDiscovery(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val src = t(spark, sfDir, "documents")
      .select(col("doc_id")).as[Long]
      .map { id =>
        val host = s"site${id % 40}.com"
        val html = "<html><body>" +
          s"""<a href="/a?utm_source=x&p=$id&x=1">in</a>""" +
          s"""<a href="/private/p$id">priv</a>""" +
          s"""<a href="https://ext${id % 7}.co.uk/x">ext</a>""" +
          "</body></html>"
        val warc = ops.Warc.encodeRecord(
          "response", s"http://$host/crawl/$id", "2026-08-15T00:00:03Z",
          ops.Warc.encodeHttpResponse(200, "text/html; charset=utf-8",
            html.getBytes("UTF-8")))
        (id, warc)
      }.toDF("id", "media")
    // <base href>-aware resolution, STAGED one level per projection (r14
    // optimization): the inlined effectiveBase∘resolveUrl∘normalizeUrl
    // composition exploded combinatorially — every Column reference
    // substitutes its whole argument tree, so the full-document comment-
    // strip regex inside baseHref ran O(branches^depth) ≈ hundreds of
    // times per row (measured 231 s vs 3.3 s at sf0.1). Each staged column
    // evaluates once; results are identical (wq6/uq-mirrored rules).
    val linksRaw = ops.Warc.records(spark, src).toDF()
      .where(col("warc_type") === "response")
      .select(col("id"), col("target_uri"), col("body_text"))
      .withColumn("_bh", ops.Html.baseHref(col("body_text")))
      .withColumn(
        "base",
        coalesce(
          ops.Web.resolveUrl(col("target_uri"), col("_bh")),
          col("target_uri")))
      .select(col("id"), col("base"),
        explode(ops.Html.extractLinks(col("body_text"))).as("href"))
      .withColumn("_resolved", ops.Web.resolveUrl(col("base"), col("href")))
      .select(col("id"), ops.Web.normalizeUrl(col("_resolved")).as("url"))
    // consumed TWICE (robots host-set build + the frontier probe side):
    // one materialization instead of re-running the WARC-parse → link-
    // extract → resolve → normalize chain per consumer (guide §2.4; the
    // r13 scoreBulk precedent). Bench honesty: the timing harness clears
    // the DF cache before every timed rep, so the persist is paid inside
    // every measurement. Registered with OpCaches (r15): long-lived
    // sessions release via ops.OpCaches.release(spark) after consuming.
    val links = ops.OpCaches.persist(linksRaw)
    // per-host robots (fixture: every discovered host disallows /private);
    // the robots table is tiny → broadcast, never a shuffle
    val robots = links.select(ops.Web.urlHost(col("url")).as("host")).distinct()
      .withColumn("robots_txt", lit("User-agent: *\nDisallow: /private\n"))
    val pathQ = ops.Web.urlPathQuery(col("url"))
    val allowed = links
      .withColumn("host", ops.Web.urlHost(col("url")))
      .join(broadcast(robots), Seq("host"))
      .where(graft.functions.robots_allowed(col("robots_txt"), pathQ))
    ops.Web.urlDedup(allowed, "id", "url").orderBy(col("canonical_url"))
  }

  val cq7Oracle: String =
    """SELECT canonical_url, keeper_id, n_dups FROM (
      |  SELECT 'http://site' || (doc_id % 40) || '.com/a?p=' || doc_id || '&x=1'
      |      AS canonical_url,
      |    doc_id AS keeper_id, CAST(1 AS BIGINT) AS n_dups
      |  FROM documents
      |  UNION ALL
      |  SELECT 'https://ext' || (doc_id % 7) || '.co.uk/x',
      |    min(doc_id), CAST(count(*) AS BIGINT)
      |  FROM documents GROUP BY doc_id % 7
      |) ORDER BY canonical_url""".stripMargin

  /** Fixed-point PageRank over a deterministic 100-node graph derived
    * from doc ids (two edge families, parallel edges collapsing), 4
    * iterations at damping 0.85 — the [[ops.Graph.pageRank]] crawl-graph
    * op. Oracle: DuckDB runs the SAME four synchronous updates as chained
    * CTEs in the SAME BIGINT e9 arithmetic (integer share division,
    * damped multiply, integer unit division) — bit-exact across engines
    * by construction, which is the point of the fixed-point form.
    */
  def gq1Pagerank(spark: SparkSession, sfDir: String): DataFrame = {
    val d = t(spark, sfDir, "documents")
    val e1 = d.select(
      (col("doc_id") % 100).cast("string").as("src"),
      ((col("doc_id") * 7 + 13) % 100).cast("string").as("dst"))
    val e2 = d.select(
      (col("doc_id") % 100).cast("string").as("src"),
      expr("(doc_id div 2) % 100").cast("string").as("dst"))
    ops.Graph.pageRank(e1.union(e2), "src", "dst", iterations = 4)
      .orderBy(col("node"))
  }

  private val gqEdgesSql: String =
    """edges AS (
      |  SELECT DISTINCT CAST(doc_id % 100 AS VARCHAR) AS src,
      |         CAST((doc_id * 7 + 13) % 100 AS VARCHAR) AS dst
      |  FROM documents
      |  UNION
      |  SELECT DISTINCT CAST(doc_id % 100 AS VARCHAR),
      |         CAST((doc_id // 2) % 100 AS VARCHAR)
      |  FROM documents),
      |nodes AS (
      |  SELECT DISTINCT src AS node FROM edges
      |  UNION SELECT DISTINCT dst FROM edges),
      |outdeg AS (SELECT src, COUNT(*) AS deg FROM edges GROUP BY src)""".stripMargin

  val gq1Oracle: String = {
    val iters = (1 to 4).map { i =>
      s"""r$i AS (
         |  SELECT n.node,
         |    CAST((150000000 // p.n) + COALESCE(s.c, 0) AS BIGINT) AS rank_e9
         |  FROM nodes n CROSS JOIN params p LEFT JOIN (
         |    SELECT e.dst AS node,
         |      CAST(SUM((850000000 * (r.rank_e9 // d.deg)) // 1000000000) AS BIGINT) AS c
         |    FROM edges e JOIN r${i - 1} r ON e.src = r.node
         |    JOIN outdeg d ON e.src = d.src
         |    GROUP BY e.dst) s ON n.node = s.node)""".stripMargin
    }.mkString(",\n")
    s"""WITH $gqEdgesSql,
       |params AS (SELECT COUNT(*) AS n FROM nodes),
       |r0 AS (SELECT node, CAST(1000000000 // p.n AS BIGINT) AS rank_e9
       |       FROM nodes, params p),
       |$iters
       |SELECT node, rank_e9 FROM r4 ORDER BY node""".stripMargin
  }

  /** Degree extraction over the same fixture graph ([[ops.Graph.degrees]]):
    * zero-filled in/out degrees per node, oracled by plain SQL aggregation.
    */
  def gq2Degrees(spark: SparkSession, sfDir: String): DataFrame = {
    val d = t(spark, sfDir, "documents")
    val e1 = d.select(
      (col("doc_id") % 100).cast("string").as("src"),
      ((col("doc_id") * 7 + 13) % 100).cast("string").as("dst"))
    val e2 = d.select(
      (col("doc_id") % 100).cast("string").as("src"),
      expr("(doc_id div 2) % 100").cast("string").as("dst"))
    ops.Graph.degrees(e1.union(e2), "src", "dst").orderBy(col("node"))
  }

  val gq2Oracle: String =
    s"""WITH $gqEdgesSql,
       |nin AS (SELECT dst AS node, COUNT(*) AS in_deg FROM edges GROUP BY dst)
       |SELECT n.node,
       |  CAST(COALESCE(o.deg, 0) AS BIGINT) AS out_deg,
       |  CAST(COALESCE(i.in_deg, 0) AS BIGINT) AS in_deg
       |FROM nodes n
       |LEFT JOIN outdeg o ON n.node = o.src
       |LEFT JOIN nin i ON n.node = i.node
       |ORDER BY n.node""".stripMargin

  /** Synthetic crawl page per document: title + style/script in head, a
    * comment, a link-dense nav, an h1, TWO content paragraphs built from
    * the doc text (one with an entity and a case-variant tag), a script
    * whose body contains a decoy `</p>`, and a link-dense footer with an
    * undecoded-entity copyright. Built identically in Spark and DuckDB so
    * the wq oracles know the page's exact structure in closed form.
    */
  private def wqHtml(spark: SparkSession, sfDir: String): DataFrame = {
    val d = col("doc_id").cast("string")
    val html = concat(
      lit("<!DOCTYPE html><html><head><title>Doc "), d,
      lit(" &amp; Friends</title><style>p { margin: 0; }</style>" +
        "<script src=\"a.js\"></script></head><body><!-- doc "), d,
      lit(" --><nav><a href=\"/\">Home</a> | <a href=\"/d/"), d,
      lit("\">Next &gt;</a></nav><div id=\"main\"><h1>Doc "), d,
      lit("</h1><p>"), col("text"),
      lit(" &amp; more.</p><P CLASS=\"c\">"), col("text"),
      lit("</P></div><script>if (1 < 2) { document.write(\"</p>\"); }" +
        "</script><footer><a href=\"/a\">About</a> <a href=\"/b\">Blog</a>" +
        " &copy; 2026</footer></body></html>"))
    t(spark, sfDir, "documents").select(col("doc_id"), html.as("html"))
  }

  /** The same page construction in DuckDB SQL. */
  private val wqHtmlSql: String =
    """SELECT doc_id, text,
      |  '<!DOCTYPE html><html><head><title>Doc ' || doc_id ||
      |  ' &amp; Friends</title><style>p { margin: 0; }</style>' ||
      |  '<script src="a.js"></script></head><body><!-- doc ' || doc_id ||
      |  ' --><nav><a href="/">Home</a> | <a href="/d/' || doc_id ||
      |  '">Next &gt;</a></nav><div id="main"><h1>Doc ' || doc_id ||
      |  '</h1><p>' || text || ' &amp; more.</p><P CLASS="c">' || text ||
      |  '</P></div><script>if (1 < 2) { document.write("</p>"); }' ||
      |  '</script><footer><a href="/a">About</a> <a href="/b">Blog</a>' ||
      |  ' &copy; 2026</footer></body></html>' AS html
      |FROM documents""".stripMargin

  /** Boilerplate thresholds for the wq fixtures: the corpus text is word
    * soup over a mostly-content vocabulary, so the stopword floor sits at
    * 0.05 instead of jusText's English 0.30 (some docs draw zero
    * stopwords and their paragraphs legitimately drop — the oracle
    * mirrors the predicate, so both engines agree doc by doc).
    */
  private val wqRules = ops.Html.BoilerplateRules(
    minChars = 25, maxLinkDensity = 0.2, minStopwordRatio = 0.05)

  /** The wq keep-predicate mirror: classification of the two content
    * paragraphs in closed form (their link density is structurally 0, so
    * only the length and stopword gates bite). `ct` is the doc text after
    * the extractor's whitespace normalization.
    */
  private val wqClsSql: String =
    """base AS (
      |  SELECT doc_id, regexp_replace(trim(text), '\s+', ' ', 'g') AS ct
      |  FROM pages),
      |feats AS (
      |  SELECT doc_id, ct || ' & more.' AS p1, ct AS p2 FROM base),
      |cls AS (
      |  SELECT doc_id, p1, p2,
      |    (length(p1) >= 25 AND
      |     CAST(len(list_filter(list_filter(string_split(lower(p1), ' '), x -> x <> ''),
      |       x -> list_contains(['the','a','an','of','to','and','in','is','it','that'], x))) AS DOUBLE)
      |       / len(list_filter(string_split(lower(p1), ' '), x -> x <> '')) >= 0.05) AS k1,
      |    (length(p2) >= 25 AND
      |     CAST(len(list_filter(list_filter(string_split(lower(p2), ' '), x -> x <> ''),
      |       x -> list_contains(['the','a','an','of','to','and','in','is','it','that'], x))) AS DOUBLE)
      |       / len(list_filter(string_split(lower(p2), ' '), x -> x <> '')) >= 0.05) AS k2
      |  FROM feats)""".stripMargin

  /** HTML→text extraction ([[ops.Html.htmlMainText]]/[[ops.Html.htmlTitle]])
    * over the synthetic crawl pages: the nav, h1, footer, script, style,
    * head, and comment must all vanish; the two content paragraphs must
    * survive (when the stopword/length gates pass) with entities decoded.
    * Oracle: DuckDB rebuilds the SAME pages and derives the expected text
    * in closed form from the page structure, with the keep predicate
    * mirrored — any extractor slip (tag residue, entity mis-decode, block
    * mis-segmentation, threshold drift) breaks the hash.
    */
  def wq1HtmlExtract(spark: SparkSession, sfDir: String): DataFrame =
    // the comment/script strip is shared by BOTH surfaces: stage it once
    // per row (r15 — was one full-document 6-branch pass for the title
    // plus a second 7-branch pass for the text; now one 6-branch pass
    // plus a 1-branch head drop)
    wqHtml(spark, sfDir)
      .withColumn("_stripped", ops.Html.titleStrip(col("html")))
      .select(
        col("doc_id"),
        ops.Html.titleOfStripped(col("_stripped")).as("title"),
        ops.Html.mainTextOfStripped(col("_stripped"), wqRules).as("main_text"))
      .orderBy(col("doc_id"))

  val wq1Oracle: String =
    s"""WITH pages AS ($wqHtmlSql),
       |$wqClsSql
       |SELECT doc_id,
       |  'Doc ' || doc_id || ' & Friends' AS title,
       |  CASE WHEN k1 AND k2 THEN p1 || chr(10) || p2
       |       WHEN k1 THEN p1 WHEN k2 THEN p2 ELSE '' END AS main_text
       |FROM cls ORDER BY doc_id""".stripMargin

  /** Block-level boilerplate diagnostics ([[ops.Html.htmlBlocks]]): per
    * doc, the non-blank block count, how many the rules keep, and the
    * kept character mass. The page structure fixes n_blocks at 5 (nav,
    * h1, p1, p2, footer) and the nav/h1/footer are structurally
    * under-length, so the closed form only needs the mirrored paragraph
    * predicate.
    */
  def wq2HtmlBlocks(spark: SparkSession, sfDir: String): DataFrame =
    ops.Html.htmlBlocks(wqHtml(spark, sfDir), "doc_id", "html", wqRules)
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_blocks"),
        sum(col("kept").cast("int")).as("n_kept"),
        sum(when(col("kept"), col("n_chars")).otherwise(lit(0))).as("kept_chars"))
      .orderBy(col("doc_id"))

  val wq2Oracle: String =
    s"""WITH pages AS ($wqHtmlSql),
       |$wqClsSql
       |SELECT doc_id,
       |  CAST(5 AS BIGINT) AS n_blocks,
       |  CAST(CAST(k1 AS INT) + CAST(k2 AS INT) AS BIGINT) AS n_kept,
       |  CAST(CASE WHEN k1 THEN length(p1) ELSE 0 END
       |     + CASE WHEN k2 THEN length(p2) ELSE 0 END AS BIGINT) AS kept_chars
       |FROM cls ORDER BY doc_id""".stripMargin

  private def eventsRaw(spark: SparkSession, sfDir: String): DataFrame =
    t(spark, sfDir, "events")

  /** Epoch micros from the NTZ ts column — UTC session makes the
    * NTZ→TIMESTAMP cast instant-preserving, matching DuckDB's epoch_us.
    */
  private def tsUs(c: Column): Column = unix_micros(c.cast("timestamp"))

  /** Interval overlap join ([[ops.Intervals.overlapJoin]]): even events as
    * 1-7-minute windows vs odd events as 1-5-minute windows, 5-minute
    * bins, integer-micros arithmetic end to end — the oracle is DuckDB's
    * native range join over the identical intervals, so the bin-bucketed
    * equi-join re-expression is hash-gated exact.
    */
  def iq1IntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val minuteUs = 60000000L
    val e = eventsRaw(spark, sfDir)
      .select(col("event_id"), tsUs(col("ts")).as("s"))
    val a = e.where(col("event_id") % 2 === 0).select(
      col("event_id").as("a_id"),
      col("s").as("a_s"),
      (col("s") + (col("event_id") % 7 + 1) * minuteUs).as("a_e"))
    val b = e.where(col("event_id") % 2 === 1).select(
      col("event_id").as("b_id"),
      col("s").as("b_s"),
      (col("s") + (col("event_id") % 5 + 1) * minuteUs).as("b_e"))
    ops.Intervals
      .overlapJoin(
        a, col("a_s"), col("a_e"), b, col("b_s"), col("b_e"),
        binWidth = 5L * minuteUs)
      .select(col("a_id"), col("b_id"))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Point-in-interval join — [[ops.Intervals.overlapJoin]] with a
    * ZERO-LENGTH right side (a point is the interval [t, t]): odd
    * events' timestamps against even events' sessions. Gates that the
    * bin arithmetic holds at the degenerate span (the off-by-one
    * hotspot) against the plain BETWEEN oracle.
    */
  def iq2PointInterval(spark: SparkSession, sfDir: String): DataFrame = {
    val minuteUs = 60000000L
    val e = eventsRaw(spark, sfDir)
      .select(col("event_id"), tsUs(col("ts")).as("s"))
    val intervals = e.where(col("event_id") % 2 === 0).select(
      col("event_id").as("a_id"),
      col("s").as("a_s"),
      (col("s") + (col("event_id") % 7 + 1) * minuteUs).as("a_e"))
    val points = e.where(col("event_id") % 2 === 1).select(
      col("event_id").as("p_id"),
      col("s").as("p_t"))
    ops.Intervals
      .overlapJoin(
        intervals, col("a_s"), col("a_e"), points, col("p_t"), col("p_t"),
        binWidth = 5L * minuteUs)
      .select(col("a_id"), col("p_id"))
      .orderBy(col("a_id"), col("p_id"))
  }

  val iq2Oracle: String =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS s FROM events),
      |a AS (SELECT event_id AS a_id, s AS a_s,
      |             s + (event_id % 7 + 1) * 60000000 AS a_e
      |      FROM e WHERE event_id % 2 = 0),
      |p AS (SELECT event_id AS p_id, s AS p_t FROM e WHERE event_id % 2 = 1)
      |SELECT a_id, p_id FROM a JOIN p ON p_t BETWEEN a_s AND a_e
      |ORDER BY a_id, p_id""".stripMargin

  val iq1Oracle: String =
    """WITH e AS (SELECT event_id, epoch_us(ts) AS s FROM events),
      |a AS (SELECT event_id a_id, s a_s, s + (event_id % 7 + 1) * 60000000 a_e
      |      FROM e WHERE event_id % 2 = 0),
      |b AS (SELECT event_id b_id, s b_s, s + (event_id % 5 + 1) * 60000000 b_e
      |      FROM e WHERE event_id % 2 = 1)
      |SELECT a_id, b_id FROM a JOIN b ON a_s <= b_e AND b_s <= a_e
      |ORDER BY a_id, b_id""".stripMargin

  /** As-of join over the event stream: each purchase gets the user's latest
    * preceding view event (point-in-time attribution — the canonical
    * time-series join). One keyed window pass; DuckDB's native ASOF JOIN is
    * the oracle.
    */
  def qa1AsofJoin(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsRaw(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
    ops.AsOf.asofJoin(purchases, views, Seq("user_id"), "ts")
      .select(col("event_id"), col("asof_view_event_id").as("view_event_id"))
      .orderBy(col("event_id"))
  }

  val qa1Oracle: String =
    """SELECT p.event_id, v.event_id AS view_event_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts >= v.ts
      |ORDER BY p.event_id""".stripMargin

  /** FORWARD as-of join ([[ops.AsOf.asofJoin]] direction="forward"):
    * each purchase matched to the EARLIEST view at-or-after it — the
    * "next event after" lookup (time-to-conversion shape). Oracle:
    * DuckDB ASOF with the inequality flipped.
    */
  def qa2AsofForward(spark: SparkSession, sfDir: String): DataFrame = {
    val ev = eventsRaw(spark, sfDir)
    val purchases = ev.where(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts"))
    val views = ev.where(col("event_type") === "view")
      .select(col("user_id"), col("ts"), col("event_id").as("view_event_id"))
    ops.AsOf.asofJoin(purchases, views, Seq("user_id"), "ts", direction = "forward")
      .select(col("event_id"), col("asof_view_event_id").as("view_event_id"))
      .orderBy(col("event_id"))
  }

  val qa2Oracle: String =
    """SELECT p.event_id, v.event_id AS view_event_id
      |FROM (SELECT * FROM events WHERE event_type = 'purchase') p
      |ASOF LEFT JOIN (SELECT * FROM events WHERE event_type = 'view') v
      |  ON p.user_id = v.user_id AND p.ts <= v.ts
      |ORDER BY p.event_id""".stripMargin

  def sq1Sessionize(spark: SparkSession, sfDir: String): DataFrame =
    streaming.EventStreams
      .sessionCounts(eventsRaw(spark, sfDir))
      .orderBy(col("user_id"))

  val sq1Oracle: String =
    """SELECT user_id, CAST(COUNT(*) FILTER (new_session) AS BIGINT) AS n_sessions
      |FROM (
      |  SELECT user_id,
      |    lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
      |      OR epoch_us(ts) - epoch_us(lag(ts) OVER (PARTITION BY user_id ORDER BY ts))
      |         > 1800000000 AS new_session
      |  FROM events)
      |GROUP BY user_id ORDER BY user_id""".stripMargin

  /** State-store partition count for the bounded fixture replays: state
    * volume here is thousands of keys, so a handful of stores is right —
    * per-partition store/checkpoint overhead dominates otherwise (state
    * partitioning should track state size, not the relational shuffle
    * width; a production stream over big state raises it).
    */
  private val ReplayStatePartitions = 8

  def st1StreamHourly(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stream = streaming.EventStreams.readStream(spark, sfDir)
    streaming.EventStreams
      .replayToTable(
        spark, streaming.EventStreams.hourlyCounts(stream), OutputMode.Complete(),
        statePartitions = Some(ReplayStatePartitions))
      .orderBy(col("hour"), col("event_type"))
  }

  val st1Oracle: String =
    """SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type, COUNT(*) AS n
      |FROM events GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  def st2StreamUserCounts(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stream = streaming.EventStreams.readStream(spark, sfDir)
    streaming.EventStreams
      .replayToTable(
        spark,
        streaming.EventStreams.userCounts(spark, stream),
        OutputMode.Update(),
        latestPerKey = Some((Seq("user_id"), "n")),
        statePartitions = Some(ReplayStatePartitions))
      .select(col("user_id"), col("n").cast("bigint").as("n"))
      .orderBy(col("user_id"))
  }

  val st2Oracle: String =
    """SELECT user_id, COUNT(*) AS n FROM events GROUP BY user_id ORDER BY user_id""".stripMargin

  def st3StreamSessionize(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val stream = streaming.EventStreams.readStream(spark, sfDir)
    streaming.EventStreams
      .replayToTable(
        spark,
        streaming.EventStreams.sessionize(spark, stream),
        OutputMode.Update(),
        latestPerKey = Some((Seq("user_id"), "n_sessions")),
        statePartitions = Some(ReplayStatePartitions))
      .select(col("user_id"), col("n_sessions").cast("bigint").as("n_sessions"))
      .orderBy(col("user_id"))
  }

  /** Streaming vector top-k over the embeddings table replayed as a stream:
    * final heap state must equal the batch brute-force answer (vq1's oracle
    * modulo ordering — output re-sorted by id).
    */
  def st4StreamVectorTopk(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    // file streams need an explicit schema; reuse the table's own
    val schema = t(spark, sfDir, "embeddings").schema
    val typed = spark.readStream.schema(schema)
      .option("pathGlobFilter", "embeddings.parquet").parquet(sfDir)
    val topk = streaming.EventStreams
      .streamingVectorTopK(spark, typed, "vec_id", "embedding", queryVec, 10)
    val sunk = streaming.EventStreams
      .replayToTable(spark, topk, OutputMode.Append(),
        statePartitions = Some(ReplayStatePartitions))
    sunk
      .where(col("batch") === sunk.agg(max(col("batch"))).head().getLong(0))
      .select(col("vec_id"))
      .orderBy(col("vec_id"))
  }

  val st4Oracle: String =
    s"""SELECT vec_id FROM (
       |  SELECT vec_id FROM embeddings
       |  ORDER BY list_distance(embedding::FLOAT[], $duckVecLit) ASC, vec_id LIMIT 10)
       |ORDER BY vec_id""".stripMargin

  /** Streaming exact dedup: dropDuplicates keyed state over the replayed
    * documents stream; which doc survives per text is arrival-order
    * dependent, so the deterministic output is the distinct count.
    */
  def st5StreamDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val schema = t(spark, sfDir, "documents").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
    val sunk = streaming.EventStreams
      .replayToTable(spark, stream.dropDuplicates("text"), OutputMode.Append(),
        statePartitions = Some(ReplayStatePartitions))
    sunk.agg(count(lit(1)).cast("bigint").as("n_distinct"))
  }

  val st5Oracle: String =
    "SELECT CAST(COUNT(DISTINCT text) AS BIGINT) AS n_distinct FROM documents"

  /** Streaming cross-corpus dedup: the doc_id % 10 == 0 slice arrives as
    * a stream and dedups against the static rest — dx1's semantics under
    * replay, so it shares dx1's oracle.
    */
  def st6StreamCrossDedup(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val schema = t(spark, sfDir, "documents").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .where(col("doc_id") % 10 === 0)
    val corpus = t(spark, sfDir, "documents").where(col("doc_id") % 10 =!= 0)
    val pairs = ops.Dedup
      .minhashNearDupStreamStatic(corpus, stream, "doc_id", "text")
    streaming.EventStreams
      .replayToTable(spark, pairs, OutputMode.Append(),
        statePartitions = Some(ReplayStatePartitions))
      .orderBy(col("doc_a"), col("doc_b"))
  }

  /** Streaming ingestion with incremental index maintenance
    * ([[streaming.IndexIngest]]): the embeddings table is staged as 4
    * files, streamed one file per micro-batch through foreachBatch — each
    * batch appends to a fresh managed table and indexes ONLY its own files
    * (batch 1 builds + trains the shared centroids, batches 2-4 extend).
    * The final exhaustive-probe indexed search over the ingested table
    * must equal brute force over the original embeddings — vq1's oracle,
    * end to end through the streaming ingest + incremental index path.
    */
  def st7StreamIndexIngest(spark: SparkSession, sfDir: String): DataFrame = {
    val emb = t(spark, sfDir, "embeddings")
    val schema = emb.schema
    val stage = java.nio.file.Files.createTempDirectory("graft-st7-stage").toString
    emb.repartition(4).write.mode("overwrite").parquet(stage)
    val tableDir =
      java.nio.file.Files.createTempDirectory("graft-st7-table").toString + "/t"
    val store = new ivf.IndexStore(
      java.nio.file.Files.createTempDirectory("graft-st7-store").toString)
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    streaming.IndexIngest.ingest(spark, stream, tableDir, "embedding", store): Unit
    val files = IndexManager.listFiles(spark, tableDir)
    val (_, nClusters) = store.peek(files.head, "embedding").get
    VectorTopK
      .indexed(spark, tableDir, "embedding", queryVec, 10,
        VectorTopK.Options(nprobe = nClusters), store = store)
      .orderBy(distAsc("embedding"), col("vec_id"))
      .select(col("vec_id"))
  }

  /** The FULL curation pipeline, round-7 edition — six stages composed the
    * way a production training-data job chains them, each stage
    * individually oracled elsewhere: exact dedup (dq1) → n-gram
    * decontamination vs the held-out eval slice (dc1) → Gopher rule
    * filter (pq1) → linear-classifier filter (pq4) → mixture rebalance to
    * target language weights computed on the SURVIVORS (mx1) →
    * deterministic exact-k eval draw per language (pq5). One oracled
    * query; the oracle recomputes all six stages in one SQL chain, so any
    * drift in stage order or semantics breaks the hash.
    */
  def cq3FullCuration(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val train = docs.where(col("doc_id") % 50 =!= 0)
    val evalDocs = docs.where(col("doc_id") % 50 === 0)
    val deduped = train
      .groupBy(col("text"))
      .agg(
        min(col("doc_id")).as("doc_id"),
        min_by(col("lang"), col("doc_id")).as("lang"))
    val clean = ops.Decontaminate
      .decontaminate(deduped, evalDocs, "doc_id", "text", n = 4)
    val q = clean.where(
      ops.TextAnalysis.qualityKeep(col("text")) &&
        ops.TextAnalysis.linearKeep(col("text"), bowWeights, bowBiasFp))
    val mixed = ops.Corpus.mixToWeights(q, col("doc_id"), col("lang"), mixWeights)
    ops.Corpus
      .stratifiedExactK(mixed, col("doc_id"), col("lang"), 5)
      .select(col("doc_id"), col("lang"))
      .orderBy(col("doc_id"))
  }

  val cq3Oracle: String = {
    val caseW = mixWeights.toSeq.sortBy(_._1)
      .map { case (s, w) => s"WHEN '$s' THEN $w" }
      .mkString("CASE lang ", " ", " END")
    val values = bowWeights.zipWithIndex
      .map { case (w, b) => s"($b, ${w}::BIGINT)" }
      .mkString(", ")
    s"""WITH train AS (SELECT * FROM documents WHERE doc_id % 50 <> 0),
       |ev AS (SELECT * FROM documents WHERE doc_id % 50 = 0),
       |dedup AS (SELECT min(doc_id) AS doc_id, arg_min(lang, doc_id) AS lang,
       |                 text FROM train GROUP BY text),
       |dw AS (SELECT doc_id, lang,
       |              regexp_split_to_array(trim(text), '\\s+') AS ws FROM dedup),
       |ew AS (SELECT regexp_split_to_array(trim(text), '\\s+') AS ws FROM ev),
       |dg AS (SELECT DISTINCT doc_id, array_to_string(ws[i:i+3], ' ') AS g
       |       FROM (SELECT doc_id, ws, unnest(generate_series(1, len(ws) - 3)) AS i FROM dw)),
       |eg AS (SELECT DISTINCT array_to_string(ws[i:i+3], ' ') AS g
       |       FROM (SELECT ws, unnest(generate_series(1, len(ws) - 3)) AS i FROM ew)),
       |cont AS (SELECT DISTINCT doc_id FROM dg JOIN eg USING (g)),
       |clean AS (SELECT dw.doc_id, dw.lang, dw.ws FROM dw
       |          WHERE dw.doc_id NOT IN (SELECT doc_id FROM cont)),
       |bc AS (
       |  SELECT doc_id, g, count(*) AS c
       |  FROM (SELECT doc_id, array_to_string(ws[i:i+1], ' ') AS g
       |        FROM (SELECT doc_id, ws,
       |                unnest(generate_series(1, len(ws) - 1)) AS i FROM clean))
       |  GROUP BY 1, 2),
       |br AS (SELECT doc_id, max(c)::DOUBLE / sum(c) AS r FROM bc GROUP BY 1),
       |wts(b, wt) AS (VALUES $values),
       |tok AS (SELECT doc_id, len(ws) AS n, unnest(ws) AS t FROM clean),
       |cls AS (SELECT tok.doc_id, any_value(tok.n) AS n, sum(wts.wt) AS s
       |        FROM tok JOIN wts
       |          ON wts.b = ('0x' || substr(md5(tok.t), 1, 8))::BIGINT % $bowD
       |        GROUP BY tok.doc_id),
       |q AS (SELECT c.doc_id, c.lang FROM clean c
       |      LEFT JOIN br USING (doc_id) JOIN cls USING (doc_id)
       |      WHERE len(c.ws) BETWEEN 20 AND 90
       |        AND len(list_distinct(c.ws))::DOUBLE / len(c.ws) >= 0.32
       |        AND coalesce(br.r, 0) <= 0.07
       |        AND cls.n * $bowBiasFp + cls.s >= 0),
       |c2 AS (SELECT lang, CAST(count(*) AS BIGINT) AS c, $caseW AS w
       |       FROM q WHERE ($caseW) IS NOT NULL GROUP BY lang),
       |t2 AS (SELECT min(c / w) AS t FROM c2),
       |a2 AS (SELECT lang, CAST(greatest(floor(w * t / c * 256), 1) AS INT) AS allow
       |       FROM c2, t2),
       |mixed AS (SELECT q.doc_id, q.lang FROM q JOIN a2 USING (lang)
       |          WHERE ('0x' || substr(md5(q.doc_id::VARCHAR), 1, 2))::INT < allow)
       |SELECT doc_id, lang FROM (
       |  SELECT doc_id, lang, row_number() OVER (
       |    PARTITION BY lang ORDER BY md5(doc_id::VARCHAR), doc_id) AS rn
       |  FROM mixed)
       |WHERE rn <= 5 ORDER BY doc_id""".stripMargin
  }

  /** Cross-table integrity audit ([[ops.Corpus.integrityReport]]): the
    * documents↔embeddings consistency gate, with the embedding side
    * deliberately damaged (every 7th key dropped → left orphans; every
    * 50th-≡1 key doubled → right dup keys) so all six counters carry
    * signal. The oracle recomputes the identical per-side key aggregates
    * and full-outer fold.
    */
  def ir1Integrity(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val emb = t(spark, sfDir, "embeddings")
    val damaged = emb.where(col("vec_id") % 7 =!= 0)
      .unionByName(emb.where(col("vec_id") % 50 === 1))
    ops.Corpus.integrityReport(docs, col("doc_id"), damaged, col("vec_id"))
  }

  val ir1Oracle: String =
    """WITH l AS (SELECT doc_id AS k, count(*) AS ln FROM documents GROUP BY doc_id),
      |r0 AS (SELECT vec_id FROM embeddings WHERE vec_id % 7 != 0
      |       UNION ALL SELECT vec_id FROM embeddings WHERE vec_id % 50 = 1),
      |r AS (SELECT vec_id AS k, count(*) AS rn FROM r0 GROUP BY vec_id)
      |SELECT CAST(coalesce(sum(ln), 0) AS BIGINT) AS n_left,
      |       CAST(coalesce(sum(rn), 0) AS BIGINT) AS n_right,
      |       CAST(count(CASE WHEN rn IS NULL THEN 1 END) AS BIGINT) AS left_orphans,
      |       CAST(count(CASE WHEN ln IS NULL THEN 1 END) AS BIGINT) AS right_orphans,
      |       CAST(count(CASE WHEN ln > 1 THEN 1 END) AS BIGINT) AS dup_left_keys,
      |       CAST(count(CASE WHEN rn > 1 THEN 1 END) AS BIGINT) AS dup_right_keys
      |FROM l FULL OUTER JOIN r USING (k)""".stripMargin

  /** The pretraining data-prep chain chunk → pack as one composed query:
    * split every doc into 12-token/4-overlap windows
    * ([[ops.TextAnalysis.chunkByTokens]], tq12's shape), then fill
    * 64-token context budgets with consecutive chunks
    * ([[ops.Corpus.packByBudget]], tq8's shape) under a 50-doc shard key.
    * The oracle recomputes both stages (chunk CTE + running-sum window),
    * so the full (chunk → pack) assignment is bit-equal.
    */
  def cq5ChunkPack(spark: SparkSession, sfDir: String): DataFrame = {
    val chunks = ops.TextAnalysis
      .chunkByTokens(
        t(spark, sfDir, "documents"), "doc_id", "text",
        maxTokens = 12, overlap = 4)
      .select(
        (col("doc_id") * 1000 + col("chunk_idx")).as("chunk_id"),
        col("chunk_tokens"))
    ops.Corpus
      .packByBudget(
        chunks, "chunk_id", col("chunk_tokens").cast("bigint"),
        budget = 64L, shardSize = 50000L)
      .select(col("chunk_id"), col("pack_id"))
      .orderBy(col("chunk_id"))
  }

  val cq5Oracle: String =
    """WITH t AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'), t -> t <> '') AS ws
      |  FROM documents),
      |s AS (SELECT doc_id, ws,
      |             unnest(generate_series(0, greatest(len(ws) - 1, 0), 8)) AS st
      |      FROM t WHERE len(ws) > 0),
      |c AS (SELECT doc_id, st,
      |             CAST(row_number() OVER (PARTITION BY doc_id ORDER BY st) - 1
      |                  AS INT) AS chunk_idx,
      |             array_to_string(ws[st + 1 : st + 12], ' ') AS chunk_text
      |      FROM s WHERE st = 0 OR st + 4 < len(ws)),
      |x AS (SELECT doc_id * 1000 + chunk_idx AS chunk_id,
      |             len(regexp_split_to_array(trim(chunk_text), '\s+')) AS n
      |      FROM c)
      |SELECT chunk_id,
      |  CAST((chunk_id // 50000) * 1000000 + (prev // 64) AS BIGINT) AS pack_id
      |FROM (
      |  SELECT chunk_id,
      |    COALESCE(SUM(n) OVER (PARTITION BY chunk_id // 50000 ORDER BY chunk_id
      |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS prev
      |  FROM x)
      |ORDER BY chunk_id""".stripMargin

  /** BPE merge training ([[ops.Bpe.trainMerges]]): the first 8 merges of
    * the corpus's word-internal BPE vocabulary — rank, symbol pair, and
    * winning weighted count. The oracle re-runs the ENTIRE trainer in
    * DuckDB as an unrolled 8-iteration CTE chain over the same
    * double-separator string representation (pair counts → argmax with
    * the lexicographic tie-break → left-to-right `replace` merge), so
    * the learned vocabulary is engine-bit-equal.
    */
  val bpeNMerges = 8

  // SQL fragments shared by bp1/bp2: S = the  separator, B = the
  // double-separator boundary
  private val bpeS = "chr(31)"
  private val bpeB = "(chr(31) || chr(31))"

  /** CTE chain `wf, w0, p0, b0, w1, … b{n-1}` reproducing the trainer. */
  private def bpeCtes(n: Int): String = {
    val head =
      s"""wf AS (
         |  SELECT word, CAST(count(*) AS BIGINT) AS freq
         |  FROM (SELECT unnest(regexp_split_to_array(trim(text), '\\s+')) AS word
         |        FROM documents)
         |  WHERE word != '' GROUP BY word),
         |w0 AS (
         |  SELECT $bpeB || regexp_replace(word, '(.)', '\\1' || $bpeB, 'g') AS w,
         |         freq
         |  FROM wf)""".stripMargin
    val iters = (0 until n).map { i =>
      val merge =
        if (i == n - 1) "" // the last iteration's merge output is unused
        else
          s""",
             |w${i + 1} AS (
             |  SELECT replace(w.w, $bpeS || b.sym_a || $bpeB || b.sym_b || $bpeS,
             |                 $bpeS || b.sym_a || b.sym_b || $bpeS) AS w, w.freq
             |  FROM w$i w, b$i b)""".stripMargin
      s""",
         |p$i AS (
         |  SELECT syms[k] AS sym_a, syms[k + 1] AS sym_b,
         |         CAST(sum(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, syms, unnest(generate_series(1, len(syms) - 1)) AS k
         |        FROM (SELECT freq,
         |                     list_filter(str_split(w, chr(31)), s -> s != '') AS syms
         |              FROM w$i)
         |        WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |b$i AS (SELECT sym_a, sym_b, cnt FROM p$i
         |        ORDER BY cnt DESC, sym_a, sym_b LIMIT 1)""".stripMargin + merge
    }.mkString
    head + iters
  }

  def bp1BpeMerges(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    ops.Bpe.trainMerges(t(spark, sfDir, "documents"), "text", bpeNMerges)
      .map(m => (m.rank, m.symA, m.symB, m.cnt))
      .toDF("merge_rank", "sym_a", "sym_b", "cnt")
      .orderBy(col("merge_rank"))
  }

  val bp1Oracle: String = {
    val union = (0 until bpeNMerges)
      .map(i => s"SELECT CAST($i AS INT) AS merge_rank, sym_a, sym_b, cnt FROM b$i")
      .mkString("\nUNION ALL\n")
    s"WITH ${bpeCtes(bpeNMerges)}\n$union\nORDER BY merge_rank"
  }

  /** BPE encoding ([[ops.Bpe.tokenCount]]): per-doc token counts under the
    * 8 trained merges — the chained-`replace` encoder. The oracle re-trains
    * the merges (same CTE chain as bp1) and applies the identical
    * replace chain to the identically-delimited text, so the counts are
    * bit-equal end to end — trainer AND encoder.
    */
  def bp2BpeEncode(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    // the PRODUCTION trainer (r14 optimization): one distributed word-freq
    // job + the in-memory merge loop, vs one Spark job per merge — merge
    // sequence spec-pinned identical to trainMerges (BpeSpec), and the
    // oracle re-derives the merges in SQL so the hash still gates the
    // trainer end-to-end. bp1 keeps timing the job-per-merge SQL form.
    val merges = ops.Bpe.trainMergesLocal(docs, "text", bpeNMerges)
    docs
      .select(
        col("doc_id"),
        ops.Bpe.tokenCount(col("text"), merges).as("n_bpe"))
      .orderBy(col("doc_id"))
  }

  val bp2Oracle: String = {
    val delim =
      s"$bpeB || regexp_replace(regexp_replace(text, '([^\\s])', '\\1' || $bpeB, 'g'), " +
        s"'(\\s)', '\\1' || $bpeB, 'g')"
    val applied = (0 until bpeNMerges).foldLeft(delim) { (acc, i) =>
      s"replace($acc,\n  $bpeS || (SELECT sym_a FROM b$i) || $bpeB || (SELECT sym_b FROM b$i) || $bpeS,\n" +
        s"  $bpeS || (SELECT sym_a FROM b$i) || (SELECT sym_b FROM b$i) || $bpeS)"
    }
    s"""WITH ${bpeCtes(bpeNMerges)}
       |SELECT doc_id,
       |       CAST(len(list_filter(str_split($applied, chr(31)),
       |                            s -> trim(s) != '')) AS INT) AS n_bpe
       |FROM documents ORDER BY doc_id""".stripMargin
  }

  /** Tokenized-dataset export ([[ops.Bpe.tokenIdRows]]): one row per
    * (doc, position) with the BPE token id under the corpus's own
    * lexicographic vocabulary — the materialization step between
    * curation and shard writing. The oracle re-runs the trainer CTE
    * chain, re-encodes every document, re-derives the vocabulary with
    * the identical ordering rule, and re-joins — training, encoding,
    * vocabulary, and id assignment all gated in one query.
    */
  def bp3TokenIds(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    // production trainer, same rationale (and gate) as bp2
    val merges = ops.Bpe.trainMergesLocal(docs, "text", bpeNMerges)
    ops.Bpe
      .tokenIdRows(docs, "doc_id", "text", merges)
      .orderBy(col("doc_id"), col("pos"))
  }

  val bp3Oracle: String = {
    val delim =
      s"$bpeB || regexp_replace(regexp_replace(text, '([^\\s])', '\\1' || $bpeB, 'g'), " +
        s"'(\\s)', '\\1' || $bpeB, 'g')"
    val applied = (0 until bpeNMerges).foldLeft(delim) { (acc, i) =>
      s"replace($acc,\n  $bpeS || (SELECT sym_a FROM b$i) || $bpeB || (SELECT sym_b FROM b$i) || $bpeS,\n" +
        s"  $bpeS || (SELECT sym_a FROM b$i) || (SELECT sym_b FROM b$i) || $bpeS)"
    }
    s"""WITH ${bpeCtes(bpeNMerges)},
       |enc AS (
       |  SELECT doc_id,
       |         list_filter(str_split($applied, chr(31)), s -> trim(s) != '') AS syms
       |  FROM documents),
       |vocab AS (
       |  SELECT sym, row_number() OVER (ORDER BY sym) AS id
       |  FROM (SELECT DISTINCT unnest(syms) AS sym FROM enc)),
       |ex AS (
       |  SELECT doc_id, unnest(syms) AS sym,
       |         unnest(range(1, len(syms) + 1)) AS pos
       |  FROM enc)
       |SELECT e.doc_id, CAST(e.pos AS INT) AS pos, CAST(v.id AS BIGINT) AS token_id
       |FROM ex e JOIN vocab v USING (sym)
       |ORDER BY e.doc_id, pos""".stripMargin
  }

  /** Contrastive training-pair generation, composed from existing
    * operators (no new machinery): for each anchor (vec_id % 25 == 0),
    * 3 POSITIVES = exact k-NN by embedding ([[ops.Similarity.knnJoin]] —
    * vq6's oracled shape; `ivfKnnJoin` is the documented scale path on
    * the same contract) and 3 NEGATIVES = deterministic pseudo-random
    * draws via [[ops.Corpus.globalShuffle]]: the corpus is laid out once
    * in the seeded md5 order and each anchor reads the 3 rows at
    * `(md5-hash(anchor) + i) mod n` positions — an equi-join on the
    * position key, so negatives cost one broadcast-plan join per batch
    * instead of an anchors × corpus window (the embedding-training
    * convention: in-batch/shuffled-order negatives, reproducible across
    * runs and engines). Self-draws are filtered (mirrored in the oracle).
    */
  def cq4ContrastivePairs(spark: SparkSession, sfDir: String): DataFrame = {
    val e = t(spark, sfDir, "embeddings")
    val anchors = e.where(col("vec_id") % 25 === 0)
    val pos = ops.Similarity
      .knnJoin(anchors, e, "vec_id", "vec_id", "embedding", 3)
      .select(
        col("query_id").as("anchor_id"), col("neighbor_id").as("pair_id"),
        lit("pos").as("kind"))
    val shuffled = ops.Corpus
      .globalShuffle(e.select(col("vec_id")), col("vec_id"), shards = 1, seed = "neg")
      .select(col("vec_id").as("pair_id"), col("pos"))
    // corpus size as a plain count — max(pos) would force the full
    // single-partition shuffle sort just to learn n (review finding)
    val total = e.agg(count(lit(1)).as("_n"))
    val anchorHash = conv(
      substring(md5(concat(lit("neg"), col("anchor_id").cast("string"))), 1, 8),
      16, 10).cast("bigint")
    val targets = anchors.select(col("vec_id").as("anchor_id"))
      .crossJoin(broadcast(total))
      .select(
        col("anchor_id"),
        explode(sequence(lit(1L), lit(3L))).as("_i"), col("_n"))
      .select(
        col("anchor_id"),
        (pmod(anchorHash + col("_i"), col("_n")) + 1).as("pos"))
    val neg = targets
      .join(shuffled, "pos")
      .where(col("pair_id") =!= col("anchor_id"))
      .select(col("anchor_id"), col("pair_id"), lit("neg").as("kind"))
    pos.unionByName(neg)
      .orderBy(col("anchor_id"), col("kind"), col("pair_id"))
  }

  val cq4Oracle: String =
    """WITH s AS (
      |  SELECT vec_id AS pair_id,
      |         row_number() OVER (
      |           ORDER BY md5('neg' || vec_id::VARCHAR), vec_id) AS pos
      |  FROM embeddings),
      |nn AS (SELECT count(*) AS n FROM embeddings),
      |a AS (SELECT vec_id AS anchor_id FROM embeddings WHERE vec_id % 25 = 0),
      |tgt AS (SELECT anchor_id,
      |          ((('0x' || substr(md5('neg' || anchor_id::VARCHAR), 1, 8))::BIGINT
      |            + i) % nn.n) + 1 AS pos
      |        FROM a, nn, unnest(generate_series(1, 3)) AS t(i)),
      |neg AS (SELECT anchor_id, pair_id, 'neg' AS kind
      |        FROM tgt JOIN s USING (pos) WHERE pair_id != anchor_id),
      |pos AS (SELECT q.vec_id AS anchor_id, x.vec_id AS pair_id, 'pos' AS kind
      |        FROM embeddings q JOIN embeddings x ON x.vec_id != q.vec_id
      |        WHERE q.vec_id % 25 = 0
      |        QUALIFY row_number() OVER (PARTITION BY q.vec_id
      |          ORDER BY list_distance(x.embedding::FLOAT[],
      |                                 q.embedding::FLOAT[]) ASC,
      |                   x.vec_id ASC) <= 3)
      |SELECT anchor_id, pair_id, kind FROM (
      |  SELECT * FROM pos UNION ALL SELECT * FROM neg)
      |ORDER BY anchor_id, kind, pair_id""".stripMargin

  /** Stream-static interval join: the odd-event interval table is STATIC,
    * even events arrive as a stream, and [[ops.Intervals.overlapJoin]]
    * runs UNCHANGED on the streaming side — the bin explode is a pure
    * projection and the bin-key equi-join is a supported stream-static
    * inner join, so the pair-once rule and exact overlap predicate carry
    * over (no dedup state needed). Replayed to completion it must equal
    * the batch result — shares iq1's oracle.
    */
  /** Late-data semantics under the event-time watermark — the one
    * streaming behavior a bounded same-order replay never exercises (st1
    * runs Complete mode, where the watermark evicts nothing). Events are
    * staged as TWO files with pinned mtimes so the file source replays
    * them as deterministic micro-batches: batch 1 = the on-time slice
    * (event_id % 4 != 0), batch 2 = the held-back slice. After batch 1
    * the watermark stands at `max(on-time ts) − 1h`, so batch-2 rows
    * whose HOUR WINDOW has fallen below it are dropped from the Update-
    * mode aggregation (Spark's state-eviction rule: a key is late when
    * `window.end <= watermark`, both in MILLISECOND precision — the
    * oracle mirrors exactly that, epoch_ms floor included). Output =
    * final hourly counts, i.e. on-time counts plus only the surviving
    * late rows.
    */
  def st11StreamLateData(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val ev = eventsRaw(spark, sfDir)
    val stage = java.nio.file.Files.createTempDirectory("graft-st11").toString
    def writeOne(df: DataFrame, name: String): Unit = {
      val tmp = java.nio.file.Files.createTempDirectory("graft-st11-w").toString
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file in $tmp"))
      java.nio.file.Files.move(part.toPath, new java.io.File(stage, name).toPath): Unit
    }
    // the on-time slice is present at start; the held-back slice arrives
    // only AFTER the first drain, so batch 2 runs under the watermark the
    // on-time slice established (back-to-back batches in one drain would
    // all run under the INITIAL watermark — Spark advances it per
    // committed trigger, which is why a plain AvailableNow replay of
    // pre-staged files demonstrates nothing)
    writeOne(ev.where(col("event_id") % 4 =!= 0), "a.parquet")
    val stream = spark.readStream.schema(ev.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val counts = streaming.EventStreams.hourlyCounts(stream)
    val sinkName = "graft_st11_sink"
    val prevShuffle = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", ReplayStatePartitions.toString)
    try {
      val query = counts.writeStream
        .format("memory").queryName(sinkName)
        .outputMode(OutputMode.Append())
        .option("checkpointLocation",
          java.nio.file.Files.createTempDirectory("graft-st11-ckpt").toString)
        .start()
      query.processAllAvailable()
      writeOne(ev.where(col("event_id") % 4 === 0), "b.parquet")
      query.processAllAvailable()
      query.processAllAvailable() // no-data batch finalizes windows <= final wm
      query.stop()
    } finally spark.conf.set("spark.sql.shuffle.partitions", prevShuffle)
    spark.table(sinkName)
      .select(col("hour"), col("event_type"), col("n").cast("bigint").as("n"))
      .orderBy(col("hour"), col("event_type"))
  }

  /** Append mode emits a window exactly once, when the watermark passes
    * its end. Two watermarks govern the result, both at Spark's MILLISECOND
    * floor: `wmB` (on-time max − 1h) is in force while the late slice
    * processes — its rows are DROPPED when window end ≤ wmB — and `wmF`
    * (global max − 1h, reached by the closing no-data batch) decides which
    * windows finalize at all. Emitted counts: on-time rows in windows with
    * end ≤ wmF, plus late rows that both survived (end > wmB) and
    * finalized (end ≤ wmF).
    */
  val st11Oracle: String =
    """WITH a AS (SELECT * FROM events WHERE event_id % 4 != 0),
      |wmb AS (SELECT epoch_ms(max(ts)) - 3600000 AS w FROM a),
      |wmf AS (SELECT epoch_ms(max(ts)) - 3600000 AS w FROM events),
      |kept AS (
      |  SELECT ts, event_type FROM a, wmf
      |  WHERE epoch_ms(date_trunc('hour', ts)) + 3600000 <= wmf.w
      |  UNION ALL
      |  SELECT e.ts, e.event_type FROM events e, wmb, wmf
      |  WHERE e.event_id % 4 = 0
      |    AND epoch_ms(date_trunc('hour', e.ts)) + 3600000 > wmb.w
      |    AND epoch_ms(date_trunc('hour', e.ts)) + 3600000 <= wmf.w)
      |SELECT strftime(ts, '%Y-%m-%d %H') AS hour, event_type, COUNT(*) AS n
      |FROM kept GROUP BY 1, 2 ORDER BY hour, event_type""".stripMargin

  /** Streaming bloom-pruned exact novelty ([[ops.Dedup.
    * exactNovelAgainstStream]]): dx2's batch-vs-corpus novelty filter with
    * the batch slice arriving as a stream — bloom-negative rows pass a
    * stateless codegen'd filter, bloom-positive rows verify through a
    * stream-static anti-join; no state at all, so replay == batch and the
    * query shares dx2's oracle.
    */
  def st10StreamBloomNovel(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val schema = t(spark, sfDir, "documents").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "documents.parquet").parquet(sfDir)
      .where(col("doc_id") % 10 === 0)
    val corpus = t(spark, sfDir, "documents").where(col("doc_id") % 3 === 0)
    val novel = ops.Dedup
      .exactNovelAgainstStream(corpus, stream, col("text"), expectedItems = 4096L)
    streaming.EventStreams
      .replayToTable(spark, novel, OutputMode.Append(),
        statePartitions = Some(ReplayStatePartitions))
      .select(col("doc_id"))
      .orderBy(col("doc_id"))
  }

  /** Stream-STREAM inner join — the dual-sided state machinery st6/st9's
    * stream-static joins never touch: both sides are unbounded streams,
    * every row is buffered in join state until the other side's matches
    * arrive, and the event-time range condition (±10 min on the same
    * user) plus both-side watermarks are what bound that state in
    * production. A bounded replay drains each side in one batch under the
    * initial watermark (see st11's trap note), so no state is evicted and
    * the emitted pairs are EXACTLY the batch join — which is the oracle.
    */
  def st12StreamStreamJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val schema = t(spark, sfDir, "events").schema
    def side(parity: Int, idName: String, uName: String, tName: String) =
      spark.readStream.schema(schema)
        .option("pathGlobFilter", "events.parquet").parquet(sfDir)
        .where(col("event_id") % 2 === parity)
        .select(
          col("event_id").as(idName), col("user_id").as(uName),
          col("ts").cast("timestamp").as(tName))
        .withWatermark(tName, "30 minutes")
    val a = side(0, "a_id", "a_u", "a_time")
    val b = side(1, "b_id", "b_u", "b_time")
    val joined = a.join(
        b,
        col("a_u") === col("b_u") &&
          col("b_time") >= col("a_time") - expr("INTERVAL 10 MINUTES") &&
          col("b_time") <= col("a_time") + expr("INTERVAL 10 MINUTES"))
      .select(col("a_id"), col("b_id"))
    streaming.EventStreams
      .replayToTable(spark, joined, OutputMode.Append(),
        statePartitions = Some(ReplayStatePartitions))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Streaming CDC apply ([[streaming.MergeIngest]]): the ds2 update set
    * staged as two KEY-DISJOINT files replayed one per micro-batch, each
    * merging into the versioned snapshot table — disjoint batches make
    * sequential merges equal the one-shot batch merge, so st13 shares
    * ds2's oracle (the st6/st10 replay-equivalence trick). Gates the
    * whole foreachBatch pipeline: v0 seeding, latest≤batchId version
    * selection, per-batch mergeUpsert, snapshot swap.
    */
  def st13StreamMergeUpsert(spark: SparkSession, sfDir: String): DataFrame = {
    val docs = t(spark, sfDir, "documents")
    val base = docs.where(col("doc_id") % 7 =!= 0).select(col("doc_id"), col("text"))
    val updates = docs
      .where(col("doc_id") % 5 === 0)
      .select(
        col("doc_id"),
        concat(col("text"), lit(" v2")).as("text"),
        (col("doc_id") % 20 === 0).as("_deleted"))
    val stage = java.nio.file.Files.createTempDirectory("graft-st13-stage").toString
    updates.where(col("doc_id") % 10 === 0)
      .coalesce(1).write.mode("overwrite").parquet(stage)
    updates.where(col("doc_id") % 10 === 5)
      .coalesce(1).write.mode("append").parquet(stage)
    val tableDir =
      java.nio.file.Files.createTempDirectory("graft-st13-table").toString + "/t"
    val stream = spark.readStream.schema(updates.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    streaming.MergeIngest.ingest(
      spark, stream, base, tableDir, "doc_id", tombstoneCol = Some("_deleted")): Unit
    spark.read.parquet(streaming.MergeIngest.latestDir(spark, tableDir))
      .orderBy(col("doc_id"))
  }

  val st12Oracle: String =
    """SELECT a.event_id AS a_id, b.event_id AS b_id
      |FROM events a JOIN events b
      |  ON a.event_id % 2 = 0 AND b.event_id % 2 = 1
      | AND a.user_id = b.user_id
      | AND abs(epoch_us(a.ts) - epoch_us(b.ts)) <= 600000000
      |ORDER BY a_id, b_id""".stripMargin

  def st9StreamIntervalJoin(spark: SparkSession, sfDir: String): DataFrame = {
    import org.apache.spark.sql.streaming.OutputMode
    val minuteUs = 60000000L
    val schema = t(spark, sfDir, "events").schema
    val stream = spark.readStream.schema(schema)
      .option("pathGlobFilter", "events.parquet").parquet(sfDir)
      .where(col("event_id") % 2 === 0)
      .select(
        col("event_id").as("a_id"),
        tsUs(col("ts")).as("a_s"),
        (tsUs(col("ts")) + (col("event_id") % 7 + 1) * minuteUs).as("a_e"))
    val b = eventsRaw(spark, sfDir)
      .where(col("event_id") % 2 === 1)
      .select(
        col("event_id").as("b_id"),
        tsUs(col("ts")).as("b_s"),
        (tsUs(col("ts")) + (col("event_id") % 5 + 1) * minuteUs).as("b_e"))
    val joined = ops.Intervals
      .overlapJoin(
        stream, col("a_s"), col("a_e"), b, col("b_s"), col("b_e"),
        binWidth = 5L * minuteUs)
      .select(col("a_id"), col("b_id"))
    streaming.EventStreams
      .replayToTable(spark, joined, OutputMode.Append(),
        statePartitions = Some(ReplayStatePartitions))
      .orderBy(col("a_id"), col("b_id"))
  }

  /** Streaming postings ingestion ([[streaming.PostingsIngest]]): the
    * documents table replayed as a 4-file stream, each micro-batch
    * appending its postings/df/dl/stats deltas into the bucketed snapshot
    * tables, then bq1's query batch scored OFF THE SNAPSHOT — hash-gated
    * against bq1's oracle, so the whole incremental pipeline (bucketed
    * appends, log-structured df/stats fold, checkpointed replay) must
    * reproduce the one-shot batch scores exactly.
    */
  def st8StreamPostingsIngest(spark: SparkSession, sfDir: String): DataFrame = {
    import spark.implicits._
    val docs = t(spark, sfDir, "documents")
    val stage = java.nio.file.Files.createTempDirectory("graft-st8-stage").toString
    docs.repartition(4).write.mode("overwrite").parquet(stage)
    val stream = spark.readStream.schema(docs.schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val (snap, _) = streaming.PostingsIngest.ingest(
      spark, stream, "doc_id", "text", "graft_st8", buckets = 8)
    val queries = Seq(
      (0L, "spark dup"),
      (1L, "vector window merge"),
      (2L, "nosuchword table")).toDF("qid", "qtext")
    ops.Lexical
      .bm25BulkTopK(spark, snap, queries, "qid", "qtext", k = 5)
      .orderBy(col("qid"), col("doc_id"))
  }

  // -------------------------------------------------------------- registry

  val all: Map[String, (SparkSession, String) => DataFrame] = Map(
    "vq1_brute_topk" -> (vq1BruteTopk _),
    "vq2_ivf_topk_exact" -> (vq2IvfTopkExact _),
    "vq3_ivf_topk_filter" -> (vq3IvfTopkFilter _),
    "vq4_range_search" -> (vq4RangeSearch _),
    "vq9_ivf_range" -> (vq9IvfRange _),
    "vq10_sql_range" -> (vq10SqlRange _),
    "vq7_sql_topk" -> (vq7SqlTopk _),
    "vq8_cosine_ivf" -> (vq8CosineIvf _),
    "vq13_filtered_cosine" -> (vq13FilteredCosine _),
    "vq14_cosine_api" -> (vq14CosineApi _),
    "vq15_sql_topk_sq8" -> (vq15SqlTopkSq8 _),
    "vq16_sql_topk_pq" -> (vq16SqlTopkPq _),
    "vq17_filtered_tier_fallback" -> (vq17FilteredTierFallback _),
    "vq24_filtered_tier_sq8" -> (vq24FilteredTierSq8 _),
    "vq25_filtered_tier_pq_cos" -> (vq25FilteredTierPqCosine _),
    "vq20_cosine_tier_sq8" -> (vq20CosineTierSq8 _),
    "vq21_cosine_tier_pq" -> (vq21CosineTierPq _),
    "vq22_quantized_cosine_api" -> (vq22QuantizedCosineApi _),
    "vq23_pq_cosine_api" -> (vq23PqCosineApi _),
    "vq5_cosine_topk" -> (vq5CosineTopk _),
    "vq6_knn_join" -> (vq6KnnJoin _),
    "vq11_maxsim_topk" -> (vq11MaxsimTopk _),
    "vq12_colbert_topk" -> (vq12ColbertTopk _),
    "vq18_maxsim_ivf" -> (vq18MaxsimIvf _),
    "vq19_colbert_ivf" -> (vq19ColbertIvf _),
    "zq1_sq8_coarse_topk" -> (zq1Sq8CoarseTopk _),
    "zq2_sq8_roundtrip" -> (zq2Sq8Roundtrip _),
    "vq26_mrl_topk" -> (vq26MrlTopk _),
    "vq27_mmr_topk" -> (vq27MmrTopk _),
    "zq3_sq8_refined_topk" -> (zq3Sq8RefinedTopk _),
    "zq4_ivfsq8_topk" -> (zq4IvfSq8Topk _),
    "zq5_ivfpq_topk" -> (zq5IvfPqTopk _),
    "zq6_ivfpq_residual_topk" -> (zq6IvfPqResidualTopk _),
    "zq7_bin_coarse_topk" -> (zq7BinCoarseTopk _),
    "zq8_bin_refined_topk" -> (zq8BinRefinedTopk _),
    "zq9_sq8_mean_pool" -> (zq9Sq8MeanPool _),
    "q1_agg" -> (q1Agg _),
    "q3_join" -> (q3Join _),
    "q5_region_revenue" -> (q5RegionRevenue _),
    "qw_window" -> (qwWindow _),
    "qs_setop" -> (qsSetOp _),
    "qs2_intersect" -> (qs2Intersect _),
    "qg_rollup" -> (qgRollup _),
    "va1_ann_nprobe4" -> (va1AnnNprobe4 _),
    "va2_ivf_knn_join" -> (va2IvfKnnJoin _),
    "qe_events_hourly" -> (qeEventsHourly _),
    "qe2_user_sequences" -> (qe2UserSequences _),
    "qe3_lag_features" -> (qe3LagFeatures _),
    "lq1_sorted_layout" -> (lq1SortedLayout _),
    "lq2_compact" -> (lq2Compact _),
    "lq3_bycell_layout" -> (lq3ByCellLayout _),
    "lq4_zorder_layout" -> (lq4ZOrderLayout _),
    "qa1_asof_join" -> (qa1AsofJoin _),
    "qa2_asof_forward" -> (qa2AsofForward _),
    "iq1_interval_join" -> (iq1IntervalJoin _),
    "iq2_point_interval" -> (iq2PointInterval _),
    "dq1_exact_dedup" -> (dq1ExactDedup _),
    "dq2_minhash_neardup" -> (dq2MinhashNearDup _),
    "dq3_simhash_neardup" -> (dq3SimhashNearDup _),
    "dq4_invindex_neardup" -> (dq4InvIndexNearDup _),
    "dq10_pair_quality" -> (dq10PairQuality _),
    "dq5_embed_neardup" -> (dq5EmbedNearDup _),
    "sd1_semdedup" -> (sd1SemDedup _),
    "dq6_hash_split" -> (dq6HashSplit _),
    "dq7_dup_clusters" -> (dq7DupClusters _),
    "cq6_leakage_safe_split" -> (cq6LeakageSafeSplit _),
    "dq8_dup_spans" -> (dq8DupSpans _),
    "dq9_span_scrub" -> (dq9SpanScrub _),
    "dq11_segment_dedup" -> (dq11SegmentDedup _),
    "dx1_cross_dedup" -> (dx1CrossDedup _),
    "dx2_bloom_novel" -> (dx2BloomNovel _),
    "dx3_winnow_cross" -> (dx3WinnowCross _),
    "tq1_token_count" -> (tq1TokenCount _),
    "tq2_text_stats" -> (tq2TextStats _),
    "tq3_lang_id" -> (tq3LangId _),
    "tq4_fingerprint" -> (tq4Fingerprint _),
    "tq5_subword_count" -> (tq5SubwordCount _),
    "tq6_quality" -> (tq6Quality _),
    "tq7_token_stats" -> (tq7TokenStats _),
    "tq8_pack" -> (tq8Pack _),
    "tq9_repetition" -> (tq9Repetition _),
    "tq10_normalize" -> (tq10Normalize _),
    "tq15_normalize_unicode" -> (tq15NormalizeUnicode _),
    "dsr1_dsir_select" -> (dsr1DsirSelect _),
    "tq11_bigram_novelty" -> (tq11BigramNovelty _),
    "tq12_chunk" -> (tq12Chunk _),
    "tq13_winnowing" -> (tq13Winnowing _),
    "dq12_winnow_pairs" -> (dq12WinnowPairs _),
    "dq13_fuzzy_pairs" -> (dq13FuzzyPairs _),
    "dq14_fuzzy_clusters" -> (dq14FuzzyClusters _),
    "dc1_decontam" -> (dc1Decontam _),
    "dc2_overlap_frac" -> (dc2OverlapFrac _),
    "dc3_semantic_decontam" -> (dc3SemanticDecontam _),
    "pq1_quality_filter" -> (pq1QualityFilter _),
    "pq2_stratified_sample" -> (pq2StratifiedSample _),
    "mx1_mix_weights" -> (mx1MixWeights _),
    "mx2_epoch_mix" -> (mx2EpochMix _),
    "mx3_temperature_mix" -> (mx3TemperatureMix _),
    "pq3_pii_scrub" -> (pq3PiiScrub _),
    "pq4_linear_quality" -> (pq4LinearQuality _),
    "pq5_stratified_exactk" -> (pq5StratifiedExactK _),
    "pq6_topk_per_group" -> (pq6TopKByGroup _),
    "pq7_global_shuffle" -> (pq7GlobalShuffle _),
    "pq8_weighted_sample" -> (pq8WeightedSample _),
    "pq9_top_fraction" -> (pq9TopFraction _),
    "pq10_curriculum_buckets" -> (pq10CurriculumBuckets _),
    "pq11_blocklist" -> (pq11Blocklist _),
    "lr1_bow_moments" -> (lr1BowMoments _),
    "sh1_balanced_shards" -> (sh1BalancedShards _),
    "ds1_snapshot_diff" -> (ds1SnapshotDiff _),
    "ds2_merge_upsert" -> (ds2MergeUpsert _),
    "dm1_source_cap" -> (dm1SourceCap _),
    "dm2_source_profile" -> (dm2SourceProfile _),
    "cq1_curation_pipeline" -> (cq1CurationPipeline _),
    "cq2_neardup_curation" -> (cq2NearDupCuration _),
    "cq3_full_curation" -> (cq3FullCuration _),
    "cq4_contrastive_pairs" -> (cq4ContrastivePairs _),
    "cq5_chunk_pack" -> (cq5ChunkPack _),
    "ir1_integrity" -> (ir1Integrity _),
    "vb1_top_ngrams" -> (vb1TopNgrams _),
    "vb2_heavy_hitters" -> (vb2HeavyHitters _),
    "bp1_bpe_merges" -> (bp1BpeMerges _),
    "bp2_bpe_encode" -> (bp2BpeEncode _),
    "bp3_token_ids" -> (bp3TokenIds _),
    "bm1_bm25_topk" -> (bm1Bm25Topk _),
    "bq1_bm25_bulk" -> (bq1Bm25Bulk _),
    "bq2_bm25_postings" -> (bq2Bm25Postings _),
    "bq3_bm25_sql" -> (bq3Bm25Sql _),
    "hr1_hybrid_rrf" -> (hr1HybridRrf _),
    "je1_json_extract" -> (je1JsonExtract _),
    "sq2_ivf_cell_pairs" -> (sq2IvfCellPairs _),
    "sq3_ivf_cell_pairs_exact" -> (sq3IvfCellPairsExact _),
    "cp1_cluster_profile" -> (cp1ClusterProfile _),
    "oq1_embed_outliers" -> (oq1EmbedOutliers _),
    "vd1_drift_profile" -> (vd1DriftProfile _),
    "bj1_bucketed_join" -> (bj1BucketedJoin _),
    "sk1_salted_join" -> (sk1SaltedJoin _),
    "mq1_media_features" -> (mq1MediaFeatures _),
    "mq2_frame_sample" -> (mq2FrameSample _),
    "mq3_image_decode" -> (mq3ImageDecode _),
    "mq4_audio_decode" -> (mq4AudioDecode _),
    "mq5_image_ahash" -> (mq5ImageAhash _),
    "mq6_image_neardup" -> (mq6ImageNeardup _),
    "mq7_video_decode" -> (mq7VideoDecode _),
    "mq8_mp4_decode" -> (mq8Mp4Decode _),
    "uq1_url_normalize" -> (uq1UrlNormalize _),
    "uq2_url_dedup" -> (uq2UrlDedup _),
    "uq3_psl_domains" -> (uq3PslDomains _),
    "uq5_sitemap" -> (uq5Sitemap _),
    "wq1_html_extract" -> (wq1HtmlExtract _),
    "wq2_html_blocks" -> (wq2HtmlBlocks _),
    "wq3_link_resolve" -> (wq3LinkResolve _),
    "wq6_base_href" -> (wq6BaseHref _),
    "rq1_robots" -> (rq1Robots _),
    "rq2_robots_sitemaps" -> (rq2RobotsSitemaps _),
    "rq3_crawl_delay" -> (rq3CrawlDelay _),
    "cq7_crawl_discovery" -> (cq7CrawlDiscovery _),
    "tq14_line_dedup" -> (tq14LineDedup _),
    "wq4_warc_extract" -> (wq4WarcExtract _),
    "wq5_charset_sniff" -> (wq5CharsetSniff _),
    "gq1_pagerank" -> (gq1Pagerank _),
    "gq2_degrees" -> (gq2Degrees _),
    "sq1_sessionize" -> (sq1Sessionize _),
    "st1_stream_hourly" -> (st1StreamHourly _),
    "st2_stream_user_counts" -> (st2StreamUserCounts _),
    "st3_stream_sessionize" -> (st3StreamSessionize _),
    "st4_stream_vector_topk" -> (st4StreamVectorTopk _),
    "st5_stream_dedup" -> (st5StreamDedup _),
    "st6_stream_cross_dedup" -> (st6StreamCrossDedup _),
    "st7_stream_index_ingest" -> (st7StreamIndexIngest _),
    "st8_stream_postings_ingest" -> (st8StreamPostingsIngest _),
    "st9_stream_interval_join" -> (st9StreamIntervalJoin _),
    "st10_stream_bloom_novel" -> (st10StreamBloomNovel _),
    "st11_stream_late_data" -> (st11StreamLateData _),
    "st12_stream_stream_join" -> (st12StreamStreamJoin _),
    "st13_stream_merge_upsert" -> (st13StreamMergeUpsert _),
    "st14_stream_winnow_cross" -> (st14StreamWinnowCross _),
    "st15_stream_lag_features" -> (st15StreamLagFeatures _),
  )

  val oracle: Map[String, String] = Map(
    "vq1_brute_topk" -> vq1Oracle,
    "vq2_ivf_topk_exact" -> vq1Oracle, // exhaustive probe == brute force
    "vq3_ivf_topk_filter" -> vq3Oracle,
    "vq4_range_search" -> vq4Oracle,
    "vq9_ivf_range" -> vq4Oracle, // range pruning is lossless — same result
    "vq10_sql_range" -> vq4Oracle, // rewrite keeps the exact Filter above
    "vq7_sql_topk" -> vq7Oracle,
    "vq8_cosine_ivf" -> vq8Oracle,
    "vq13_filtered_cosine" -> vq13Oracle,
    "vq14_cosine_api" -> vq8Oracle, // exhaustive-probe exact ⇒ same oracle
    "vq15_sql_topk_sq8" -> vq7Oracle, // covering exactness ⇒ same oracle
    "vq16_sql_topk_pq" -> vq7Oracle, // covering exactness ⇒ same oracle
    "vq17_filtered_tier_fallback" -> vq13Oracle, // fallback must stay exact
    "vq24_filtered_tier_sq8" -> vq24Oracle, // covering exactness ⇒ vq3's answer
    "vq25_filtered_tier_pq_cos" -> vq13Oracle, // covering exactness ⇒ vq13's answer
    "vq20_cosine_tier_sq8" -> vq8Oracle, // covering exactness, angular metric
    "vq21_cosine_tier_pq" -> vq8Oracle, // covering exactness, angular metric
    "vq22_quantized_cosine_api" -> vq8Oracle, // covering exactness, angular metric
    "vq23_pq_cosine_api" -> vq8Oracle, // covering exactness, angular metric

    "vq5_cosine_topk" -> vq5Oracle,
    "vq6_knn_join" -> vq6Oracle,
    "vq11_maxsim_topk" -> vq11Oracle,
    "vq12_colbert_topk" -> vq12Oracle,
    "vq18_maxsim_ivf" -> vq11Oracle, // exhaustive-probe exact ⇒ same oracle
    "vq19_colbert_ivf" -> vq12Oracle, // exhaustive-probe exact ⇒ same oracle
    "zq1_sq8_coarse_topk" -> zq1Oracle,
    "zq2_sq8_roundtrip" -> zq2Oracle,
    "vq26_mrl_topk" -> vq1Oracle, // covering oversample: MRL refine is exact
    "vq27_mmr_topk" -> vq27Oracle,
    "zq3_sq8_refined_topk" -> vq1Oracle, // sq8 refine must recover exact top-k
    "zq4_ivfsq8_topk" -> vq1Oracle, // exhaustive probe + covering oversample
    "zq5_ivfpq_topk" -> vq1Oracle, // same covering-exactness argument as zq4
    "zq6_ivfpq_residual_topk" -> vq1Oracle, // covering exactness, residual path
    "zq7_bin_coarse_topk" -> zq7Oracle,
    "zq8_bin_refined_topk" -> vq1Oracle, // covering oversample == brute force
    "zq9_sq8_mean_pool" -> zq9Oracle,

    "va2_ivf_knn_join" -> vq6Oracle,
    "q1_agg" -> q1Oracle,
    "q3_join" -> q3Oracle,
    "q5_region_revenue" -> q5Oracle,
    "qw_window" -> qwOracle,
    "qs_setop" -> qsOracle,
    "qs2_intersect" -> qs2Oracle,
    "qg_rollup" -> qgOracle,
    "va1_ann_nprobe4" -> va1Oracle, // gated record: probed-cell exactness contract
    "qe_events_hourly" -> qeOracle,
    "qe2_user_sequences" -> qe2Oracle,
    "qe3_lag_features" -> qe3Oracle,
    "lq1_sorted_layout" -> lq1Oracle,
    "lq2_compact" -> lq2Oracle,
    "lq3_bycell_layout" -> lq3Oracle,
    "lq4_zorder_layout" -> lq4Oracle,
    "qa1_asof_join" -> qa1Oracle,
    "qa2_asof_forward" -> qa2Oracle,
    "iq1_interval_join" -> iq1Oracle,
    "iq2_point_interval" -> iq2Oracle,
    "dq1_exact_dedup" -> dq1Oracle,
    "dq2_minhash_neardup" -> duckNearDupOracle,
    "dq3_simhash_neardup" -> duckNearDupOracle,
    "dq4_invindex_neardup" -> duckNearDupOracle,
    "dq10_pair_quality" -> dq10Oracle,
    "dq5_embed_neardup" -> dq5Oracle,
    "sd1_semdedup" -> sd1Oracle,
    "sq3_ivf_cell_pairs_exact" -> sq3Oracle,
    "dq6_hash_split" -> dq6Oracle,
    "dq7_dup_clusters" -> dq7Oracle,
    "cq6_leakage_safe_split" -> cq6Oracle,
    "dq8_dup_spans" -> dq8Oracle,
    "dq9_span_scrub" -> dq9Oracle,
    "dq11_segment_dedup" -> dq11Oracle,
    "dx1_cross_dedup" -> dx1Oracle,
    "dx2_bloom_novel" -> dx2Oracle,
    "dx3_winnow_cross" -> dx3Oracle,
    "tq1_token_count" -> tq1Oracle,
    "tq2_text_stats" -> tq2Oracle,
    "tq3_lang_id" -> tq3Oracle,
    "tq4_fingerprint" -> tq4Oracle,
    "tq5_subword_count" -> tq5Oracle,
    "tq6_quality" -> tq6Oracle,
    "tq7_token_stats" -> tq7Oracle,
    "tq8_pack" -> tq8Oracle,
    "tq9_repetition" -> tq9Oracle,
    "tq10_normalize" -> tq10Oracle,
    "tq15_normalize_unicode" -> tq15Oracle,
    "dsr1_dsir_select" -> dsr1Oracle,
    "tq11_bigram_novelty" -> tq11Oracle,
    "tq12_chunk" -> tq12Oracle,
    "tq13_winnowing" -> tq13Oracle,
    "dq12_winnow_pairs" -> dq12Oracle,
    "dq13_fuzzy_pairs" -> dq13Oracle,
    "dq14_fuzzy_clusters" -> dq14Oracle,
    "dc1_decontam" -> dc1Oracle,
    "dc2_overlap_frac" -> dc2Oracle,
    "dc3_semantic_decontam" -> dc3Oracle,
    "pq1_quality_filter" -> pq1Oracle,
    "pq2_stratified_sample" -> pq2Oracle,
    "mx1_mix_weights" -> mx1Oracle,
    "mx2_epoch_mix" -> mx2Oracle,
    "mx3_temperature_mix" -> mx3Oracle,
    "pq3_pii_scrub" -> pq3Oracle,
    "pq4_linear_quality" -> pq4Oracle,
    "pq5_stratified_exactk" -> pq5Oracle,
    "pq6_topk_per_group" -> pq6Oracle,
    "pq7_global_shuffle" -> pq7Oracle,
    "pq8_weighted_sample" -> pq8Oracle,
    "pq9_top_fraction" -> pq9Oracle,
    "pq10_curriculum_buckets" -> pq10Oracle,
    "pq11_blocklist" -> pq11Oracle,
    "lr1_bow_moments" -> lr1Oracle,
    "sh1_balanced_shards" -> sh1Oracle,
    "ds1_snapshot_diff" -> ds1Oracle,
    "ds2_merge_upsert" -> ds2Oracle,
    "dm1_source_cap" -> dm1Oracle,
    "dm2_source_profile" -> dm2Oracle,
    "cq1_curation_pipeline" -> cq1Oracle,
    "cq2_neardup_curation" -> cq2Oracle,
    "cq3_full_curation" -> cq3Oracle,
    "cq4_contrastive_pairs" -> cq4Oracle,
    "cq5_chunk_pack" -> cq5Oracle,
    "ir1_integrity" -> ir1Oracle,
    "vb1_top_ngrams" -> vb1Oracle,
    "vb2_heavy_hitters" -> vb2Oracle,
    "bp1_bpe_merges" -> bp1Oracle,
    "bp2_bpe_encode" -> bp2Oracle,
    "bp3_token_ids" -> bp3Oracle,
    "bm1_bm25_topk" -> bm1Oracle,
    "bq1_bm25_bulk" -> bq1Oracle,
    "bq2_bm25_postings" -> bq1Oracle, // same pipeline over persisted artifacts
    "bq3_bm25_sql" -> bm1Oracle, // SQL TVF == programmatic bm25TopK
    "hr1_hybrid_rrf" -> hr1Oracle,
    "je1_json_extract" -> je1Oracle,
    "sq2_ivf_cell_pairs" -> sq2Oracle, // gated record: precision-exact + recall floor
    "cp1_cluster_profile" -> cp1Oracle,
    "oq1_embed_outliers" -> oq1Oracle,
    "vd1_drift_profile" -> vd1Oracle,
    "bj1_bucketed_join" -> bj1Oracle,
    "sk1_salted_join" -> sk1Oracle,
    "mq1_media_features" -> mq1Oracle,
    "mq2_frame_sample" -> mq2Oracle,
    "mq3_image_decode" -> mq3Oracle,
    "mq4_audio_decode" -> mq4Oracle,
    "mq5_image_ahash" -> mq5Oracle,
    "mq6_image_neardup" -> mq6Oracle,
    "mq7_video_decode" -> mq7Oracle,
    "mq8_mp4_decode" -> mq8Oracle,
    "uq1_url_normalize" -> uq1Oracle,
    "uq2_url_dedup" -> uq2Oracle,
    "uq3_psl_domains" -> uq3Oracle,
    "uq5_sitemap" -> uq5Oracle,
    "wq1_html_extract" -> wq1Oracle,
    "wq2_html_blocks" -> wq2Oracle,
    "wq3_link_resolve" -> wq3Oracle,
    "wq6_base_href" -> wq6Oracle,
    "rq1_robots" -> rq1Oracle,
    "rq2_robots_sitemaps" -> rq2Oracle,
    "rq3_crawl_delay" -> rq3Oracle,
    "cq7_crawl_discovery" -> cq7Oracle,
    "tq14_line_dedup" -> tq14Oracle,
    "wq4_warc_extract" -> wq4Oracle,
    "wq5_charset_sniff" -> wq5Oracle,
    "gq1_pagerank" -> gq1Oracle,
    "gq2_degrees" -> gq2Oracle,
    "sq1_sessionize" -> sq1Oracle,
    "st1_stream_hourly" -> st1Oracle,
    "st2_stream_user_counts" -> st2Oracle,
    "st3_stream_sessionize" -> sq1Oracle, // streaming state == batch sessions
    "st4_stream_vector_topk" -> st4Oracle,
    "st5_stream_dedup" -> st5Oracle,
    "st6_stream_cross_dedup" -> dx1Oracle,
    "st7_stream_index_ingest" -> vq1Oracle, // exhaustive search == brute
    "st8_stream_postings_ingest" -> bq1Oracle, // replayed snapshot == batch scores
    "st9_stream_interval_join" -> iq1Oracle, // replay == batch interval join
    "st10_stream_bloom_novel" -> dx2Oracle, // stateless replay == batch novelty
    "st11_stream_late_data" -> st11Oracle,
    "st12_stream_stream_join" -> st12Oracle,
    "st13_stream_merge_upsert" -> ds2Oracle, // key-disjoint batches: replay == one merge
    "st14_stream_winnow_cross" -> dx3Oracle, // row-local batch side: replay == batch
    "st15_stream_lag_features" -> qe3Oracle, // cross-batch state == batch windows

  )
}
