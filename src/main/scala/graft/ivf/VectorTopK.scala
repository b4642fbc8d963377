package graft.ivf

import scala.reflect.ClassTag

import org.apache.spark.{Partition, SparkContext, TaskContext}
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{Column, DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{GenericInternalRow, UnsafeArrayData}
import org.apache.spark.sql.catalyst.util.SQLOrderingUtil
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, FloatType, LongType, StringType, StructField,
  StructType}
import org.apache.spark.unsafe.types.UTF8String

import graft.functions.{array_distance, float_vector, Sq8, VectorKernels}
import graft.ivf.IndexStore.Sidecar

/** Top-k vector search: brute-force and IVF-index-accelerated paths.
  *
  * Mirrors the reference's `TopkBuilder` / `VectorTopKExec` pipeline
  * (`/root/reference/src/ivf/search.rs:47-142`, `src/df_vector/exec.rs`)
  * as a Spark plan:
  *
  *  - brute force = `orderBy(array_distance).limit(k)` — Spark plans this as
  *    `TakeOrderedAndProjectExec`, a per-partition bounded heap + driver
  *    merge, i.e. exactly the reference's heap re-rank, but distributed;
  *  - indexed, no residual filter = TWO-PHASE (the reference's access
  *    plan), one lazy plan: phase 1 is [[winnerFeed]], which probes
  *    per-file indexes executor-side and ranks candidates reading only the
  *    embedding column of candidate row groups (`SelectiveFetch`) or the
  *    tier's code sidecar; `orderBy(_dist).limit(k)` keeps the k winners;
  *    phase 2, [[graft.plans.WinnerPayload]], reads only the winners' rows
  *    from the pages that hold them (the reference TopkBuilder's
  *    RowSelection fetch), with each winner's vector carried from phase 1;
  *  - indexed with a residual filter = one-phase: the same feed without
  *    the `limit(k)` — every probed candidate, scored and read per file in
  *    the reference's per-scan-file distribution shape — then the same
  *    payload node reads every candidate's row → residual filter →
  *    metered fetch → heap top-k. Candidate pruning composes with later
  *    filters in post-filter order, matching the reference's semantics
  *    (`src/df_vector/tests.rs:151-241`): a restrictive filter may return
  *    fewer than k rows, and the filter must see full candidate rows
  *    BEFORE the top-k, which rules out the winner-first shortcut.
  *
  * There are two entry points, [[search]] (the reference's `SearchResult`
  * rows) and [[indexed]] (payload rows); what differs by metric and tier is
  * carried by [[Options]], and the one piece of code that really differs
  * per tier is its [[CoarseScorer]].
  *
  * Scale: the driver only peeks index HEADERS (dim/k, a ~26-byte read per
  * file) for validation; probing — footer reads and posting-list decodes —
  * and the payload read happen on executors, each task on its own files,
  * so no candidate list funnels through the driver.
  */
object VectorTopK {

  /** The distance a top-k ranks by. */
  sealed trait Metric
  object Metric {
    /** True (sqrt'd) L2, ascending. */
    case object L2 extends Metric
    /** Cosine similarity, most similar first; feeds and [[SearchResult]]
      * carry `1 − cos(vec, query)` ascending. Exact at
      * `nprobe >= nClusters` on any index; below that, recall is best over
      * indexes built on unit-normalized embeddings (angular and L2 cell
      * geometry coincide there).
      */
    case object Cosine extends Metric
  }

  /** What ranks the probed candidates before the exact re-rank; `name` is
    * the `spark.graft.ivf.tier` spelling.
    */
  sealed abstract class Tier(val name: String)
  object Tier {
    /** Exact distances on selectively read float embeddings; no refine. */
    case object Float extends Tier("float")
    /** Integer code-space distances on the int8 [[Sq8Sidecar]] codes,
      * exact float refine of the `k·oversample` survivors (the IVF-SQ8,
      * faiss `IndexIVFScalarQuantizer`-style asymptotic: float IO is
      * `k·oversample` rows regardless of candidate volume).
      */
    case object Sq8 extends Tier("sq8")
    /** ADC on `m`-byte [[PqSidecar]] product codes, exact float refine of
      * the survivors; `residual` reads the IVF-ADC variant whose codes
      * quantize `vec − cellCentroid`.
      */
    final case class Pq(residual: Boolean = false) extends Tier(if (residual) "pqr" else "pq")

    private val byName: Map[String, Tier] =
      Seq(Float, Sq8, Pq(), Pq(residual = true)).map(t => t.name -> t).toMap

    /** Resolves a requested tier name (`float|sq8|pq|pqr|auto`) against the
      * files a query scans, returning the tier and WHY it resolved that way.
      * Falls back to float when a `maxCandidates` cap is set (the fairness
      * cap is a float-feed construct) or when ANY file lacks a usable code
      * sidecar (absent, stale data-file binding, or — residual variant — a
      * dead centroid epoch). `auto` encodes the MEASURED envelope
      * (TierIoProbe, BENCHNOTES r10/r11): on a warm local page cache float
      * selective wins everywhere, so auto only leaves float when the
      * `storageProfile` is DECLARED cold (remote/bandwidth-capped storage,
      * where coarse bytes/query rule: pq 44 MB < sq8 74 MB < float 115 MB on
      * the point-read layout), and then picks the best tier whose sidecars
      * cover every file (pqr > pq > sq8). Unknown names are refused loudly —
      * a typo silently running float would defeat the point of asking.
      *
      * Every float fallback is logged and its reason returned, so a cold
      * profile silently running float because no sidecar covers the scan is
      * visible, not inferred from timings.
      */
    private[graft] def resolve(
        requested: String,
        storageProfile: String,
        capped: Boolean,
        files: Seq[String],
        column: String,
        store: IndexStore): (Tier, String) = {
      import graft.plans.VectorTopKRule.{StorageProfileKey, TierKey}
      require(
        byName.contains(requested) || requested == "auto",
        s"$TierKey must be one of float|sq8|pq|pqr|auto, got '$requested'")
      def silent(reason: String): (Tier, String) = {
        val msg = s"requested=$requested resolved=float ($reason)"
        if (requested != "float") log.info(s"graft tier resolution: $msg")
        (Float, msg)
      }
      if (requested == "float") return silent("exact float feed is the default")
      if (capped) return silent("maxCandidates fairness cap is a float-feed construct")
      // every check is a table-level dir-identity memo: repeat plans over an
      // unchanged table answer in O(1) stats regardless of file count
      def usable(t: Tier): Boolean = t match {
        case Pq(residual) =>
          IndexStore.memoizedTableProbe(
            s"table-pq-usable-$residual", column, files, store.dir)(
            IndexStore.forallFiles(files)(PqSidecar.usable(store, _, column, residual)))
        case _ =>
          IndexStore.memoizedTableProbe("table-sq8-usable", column, files, store.dir)(
            IndexStore.forallFiles(files)(Sq8Sidecar.usable(store, _, column)))
      }
      def resolved(t: Tier): (Tier, String) = (t, s"requested=$requested resolved=${t.name}")
      if (requested != "auto") {
        val tier = byName(requested)
        if (usable(tier)) resolved(tier)
        else silent(
          s"requested ${tier.name} sidecar absent/stale on some of ${files.size} scan files")
      } else {
        val profile = storageProfile.trim.toLowerCase
        require(
          Set("warm", "cold").contains(profile),
          s"$StorageProfileKey must be warm|cold, got '$profile'")
        if (profile != "cold")
          silent(s"profile=$profile — warm storage prefers float selective reads")
        else
          Seq(Pq(residual = true), Pq(), Sq8).find(usable).map(resolved).getOrElse(silent(
            s"profile=cold but no usable quantized sidecar covers all ${files.size} " +
              "scan files — build PqSidecar/Sq8Sidecar (or check binding staleness)"))
      }
    }
  }

  /** The search spec. Reference defaults for `nprobe` / `maxCandidates`:
    * `/root/reference/src/df_vector/options.rs:3-19`. `oversample` is the
    * quantized tiers' refine width (`k·oversample` survivors are re-ranked
    * exactly); unset, it is 4 for sq8 and 8 for pq/pqr. Exact when
    * `nprobe >= nClusters` and `k·oversample` covers the candidate volume;
    * otherwise approximate, with recall governed by (nprobe, oversample,
    * code fit). The `maxCandidates` fairness cap needs the float tier.
    */
  final case class Options(
      nprobe: Int = 5,
      maxCandidates: Option[Int] = None,
      metric: Metric = Metric.L2,
      tier: Tier = Tier.Float,
      oversample: Option[Int] = None) {
    require(nprobe > 0, "nprobe must be > 0")
    maxCandidates.foreach(m => require(m > 0, "max_candidates must be > 0"))
    oversample.foreach(o => require(o >= 1, "oversample must be >= 1"))
    require(
      maxCandidates.isEmpty || tier == Tier.Float,
      s"maxCandidates fairness cap is a float-feed construct — tier ${tier.name} " +
        "cannot honor it")

    private[ivf] def cosine: Boolean = metric == Metric.Cosine

    /** Quantized survivor count `k·oversample`, clamped to an Int. */
    private[ivf] def keep(k: Int): Int = {
      val os = oversample.getOrElse(if (tier == Tier.Sq8) 4 else 8)
      math.min(k.toLong * os, Int.MaxValue.toLong).toInt
    }
  }

  /** Programmatic search row, the reference's `SearchResult`
    * (`/root/reference/src/ivf/search.rs:40-45`): file-local row ordinal +
    * distance in the query's metric (true sqrt'd L2, or 1 − cos).
    */
  final case class SearchResult(row_idx: Long, distance: Float)

  /** Derived once: [[search]] and [[rangeSearch]] build a frame per call. */
  private val SearchResultEncoder = Encoders.product[SearchResult]

  private val log = org.slf4j.LoggerFactory.getLogger(getClass)

  def distanceCol(column: String, query: Seq[Float]): Column =
    array_distance(col(column), float_vector(query))

  /** Exact brute-force top-k; `NULLS LAST` reproduces the reference's
    * skip-null/skip-mismatched-dim semantics under `LIMIT k`.
    */
  def bruteForce(df: DataFrame, column: String, query: Seq[Float], k: Int): DataFrame =
    df.orderBy(distanceCol(column, query).asc_nulls_last).limit(k)

  /** Round-robin fairness cap across files so one file cannot starve the
    * others (reference `CandidateCursor`: `src/df_vector/access.rs:193-243`),
    * over materialized per-file lists; [[roundRobinQuotas]] is its
    * counts-only twin, which [[winnerFeed]]'s capped refine uses.
    */
  def capRoundRobin(
      perFile: Seq[(String, Array[Int])], cap: Int): Seq[(String, Array[Int])] = {
    val cursors = perFile.map(_ => 0).toArray
    val out = perFile.map(_ => Vector.newBuilder[Int]).toArray
    var taken = 0
    var progressed = true
    while (taken < cap && progressed) {
      progressed = false
      var i = 0
      while (i < perFile.length && taken < cap) {
        val (_, cands) = perFile(i)
        if (cursors(i) < cands.length) {
          out(i) += cands(cursors(i))
          cursors(i) += 1
          taken += 1
          progressed = true
        }
        i += 1
      }
    }
    perFile.zipWithIndex.map { case ((file, _), i) => (file, out(i).result().toArray) }
  }

  /** Per-file quotas of the round-robin cap, computed from candidate COUNTS
    * only: how many of each file's candidates [[capRoundRobin]] takes.
    *
    * Closed-form water-fill, O(files log files) regardless of cap (a
    * 1-per-round simulation would be O(cap × files)): after L complete
    * rounds every file holds min(count, L); find the largest affordable L
    * by walking the sorted counts, then hand the remainder out one each to
    * the first unsaturated files in index order — exactly the state the
    * round-robin loop ends in.
    */
  def roundRobinQuotas(counts: Array[Long], cap: Long): Array[Long] = {
    require(cap >= 0, s"cap must be >= 0, got $cap")
    val n = counts.length
    if (n == 0) return Array.emptyLongArray
    val total = counts.sum
    if (cap >= total) return counts.clone()
    val sorted = counts.sorted
    var j = 0 // sorted files below j saturate at level L
    var satSum = 0L
    var level = 0L
    var found = false
    while (!found && j < n) {
      val lCand = (cap - satSum) / (n - j)
      if (lCand < sorted(j)) { level = lCand; found = true }
      else { satSum += sorted(j); j += 1 }
    }
    // cap < total guarantees `found`; hand out the partial-round remainder
    var rem = cap - (satSum + level * (n - j))
    val quotas = counts.map(c => math.min(c, level))
    var i = 0
    while (rem > 0 && i < n) {
      if (counts(i) > level) { quotas(i) += 1; rem -= 1 }
      i += 1
    }
    quotas
  }

  /** Rank order of the query's metric over payload rows: an angular winner
    * set ordered by L2 would hand callers the wrong head row on
    * non-unit-norm data (the SQL path never hits this — its own Sort stays
    * above the rewritten leaf).
    */
  private def rankOrder(column: String, query: Seq[Float], metric: Metric): Column =
    metric match {
      case Metric.L2 => distanceCol(column, query).asc_nulls_last
      case Metric.Cosine =>
        graft.functions.array_cosine_similarity(col(column), float_vector(query)).desc_nulls_last
    }

  private def tableFiles(spark: SparkSession, path: String): Seq[String] =
    nonEmpty(IndexManager.listFiles(spark, path), path)

  private def nonEmpty(files: Seq[String], path: String): Seq[String] = {
    require(files.nonEmpty, s"no parquet files under $path")
    files
  }

  /** One task per slice of files, at most the default parallelism; `items`
    * is evaluated on the driver when the plan first runs (see [[FilesRDD]]).
    */
  private def overFiles[T: ClassTag](spark: SparkSession, items: () => Seq[T]): RDD[T] =
    new FilesRDD(spark.sparkContext, items)

  /** The files (or file-tagged items) a feed's tasks work on, sliced like
    * `parallelize` into at most the default parallelism. The list is taken
    * when the RDD's partitions are first asked for — when the plan runs, not
    * when it is built — so a feed that re-lists its table sees the files
    * that are there when it runs.
    */
  private final class FilesRDD[T: ClassTag](sc: SparkContext, @transient items: () => Seq[T])
      extends RDD[T](sc, Nil) {
    override protected def getPartitions: Array[Partition] = {
      val all = items().toArray
      val n = math.max(1, math.min(all.length, sparkContext.defaultParallelism))
      Array.tabulate[Partition](n) { i =>
        FilesSlice(i, all.slice((i.toLong * all.length / n).toInt, ((i + 1L) * all.length / n).toInt))
      }
    }

    /** The task's parquet reads (`SelectiveFetch`'s footers, page indexes
      * and pages) count into its input metrics.
      */
    override def compute(split: Partition, context: TaskContext): Iterator[T] = {
      org.apache.spark.sql.graft.Bridge
        .countTaskInputBytes(context, () => IndexStore.bytesReadOnThread)
      split.asInstanceOf[FilesSlice[T]].items.iterator
    }
  }

  private final case class FilesSlice[T](index: Int, items: Array[T]) extends Partition

  /** Driver-side validation, header peeks only (O(files) tiny reads —
    * posting lists are probed executor-side): every file has an index of
    * the query's dim and a sidecar the scorer can read. Table-level
    * dir-identity memo: repeat calls over an unchanged table validate in
    * O(1) stats (IndexStore.memoizedTableProbe); a throwing validation is
    * never cached, so error paths re-check every time.
    */
  private def validate(
      files: Seq[String],
      column: String,
      q: Array[Float],
      store: IndexStore,
      scorer: Option[CoarseScorer] = None): Unit =
    IndexStore.memoizedTableProbe(
      s"validate-${scorer.fold("float")(_.tag)}-${q.length}", column, files, store.dir) {
      files.foreach { file =>
        val (dim, _) = IndexManager.cachedPeekStrict(store, file, column)
          .getOrElse(throw new IllegalStateException(
            s"no IVF index for file $file column '$column' — build one with IvfBuilder"))
        require(dim == q.length, s"query dim ${q.length} != index dim $dim for $file")
        scorer.foreach(_.requireSidecar(store, file, column))
      }
    }

  /** Wrap in the fetch-metering node (`embeddings_fetched` /
    * `batches_fetched` SQLMetrics, post-filter like the reference).
    * Installs the planner strategy first (idempotent): a MeteredFetch node
    * in a session where no payload path ran yet would otherwise hit
    * "No plan for MeteredFetch" at planning time — the order-dependent
    * zq6 Verify failure.
    */
  private def meterFetch(spark: SparkSession, df: DataFrame): DataFrame = {
    graft.Graft.installStrategy(spark)
    org.apache.spark.sql.graft.Bridge.ofRows(
      spark, graft.plans.MeteredFetch(df.queryExecution.analyzed))
  }

  /** The table as a Spark scan under its memoized inferred schema
    * ([[IndexManager.tableSchema]]), so building it runs no job.
    */
  private def scan(
      spark: SparkSession, path: String, files: Seq[String], store: IndexStore): DataFrame =
    spark.read.schema(IndexManager.tableSchema(spark, path, files, store)).parquet(path)

  /** Index-accelerated top-k over a Parquet table: full payload rows of the
    * k nearest vectors, ordered by the query's metric (cosine similarity
    * DESCENDING for [[Metric.Cosine]]).
    *
    * Filter-free queries are one lazy plan (the reference TopkBuilder's
    * access shape, `src/ivf/search.rs:47-244`): the [[winnerFeed]], which
    * also carries each candidate's vector from the scoring pass, then
    * `orderBy(_dist).limit(k)`, then the [[graft.plans.WinnerPayload]]
    * node, which opens each winner file once and decodes only the pages
    * holding its winners in each column — payload IO is the k winners'
    * pages, not a table scan, and the vector column is not read twice.
    * Rows come in the winners' `_dist` order (the metric's order). Collected
    * directly, the plan runs as one single-stage job (two for sq8/pq/pqr:
    * the coarse scoring, then the exact refine) and the driver reads the
    * payload.
    * Building the frame runs no Spark job (the table's inferred schema is
    * memoized per file set, [[IndexManager.tableSchema]]); the table is
    * listed again when the plan runs, so a frame built before an append
    * and `extend` ranks the appended rows too. A table holding a column
    * the page reader does not cover (struct, map, a list other than the
    * vector) or a `list<double>` vector (whose payload must stay double)
    * takes the lazy `scan ⋉ feed` semi-join instead over the files listed
    * at construction; the reason ([[graft.plans.WinnerPayload.refusal]],
    * which the SQL rewrite shares) is logged.
    *
    * @param filter residual predicate applied AFTER candidate pruning
    *               (post-filter semantics, like the reference); needs the
    *               float tier, which hands the filter every candidate row.
    *               The payload then reads every candidate's row, not only
    *               the k winners'.
    */
  def indexed(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      k: Int,
      options: Options = Options(),
      filter: Option[Column] = None,
      store: IndexStore = IndexStore.default): DataFrame = {
    require(k > 0, "k must be > 0")
    if (filter.nonEmpty) require(
      options.tier == Tier.Float,
      s"a residual filter must see every candidate row before the top-k, so it " +
        s"runs the exact float feed — tier ${options.tier.name} would cap the rows it sees")
    val listing = IndexManager.listTable(spark, path)
    val files = nonEmpty(listing.files, path)
    val schema = IndexManager.tableSchema(spark, path, files, store)
    val conf = spark.sessionState.conf
    // the k winners, or — post-filter semantics — every candidate
    def feed(withVec: Boolean, relist: Option[() => Seq[String]]): DataFrame = {
      val all = winnerFeed(spark, files, column, query, k, options, store, relist, withVec)
      if (filter.isEmpty) all.orderBy(col("_dist").asc_nulls_last).limit(k) else all
    }
    def ranked(rows: DataFrame): DataFrame =
      meterFetch(spark, filter.fold(rows)(rows.where))
        .orderBy(rankOrder(column, query, options.metric)).limit(k)
    graft.plans.WinnerPayload.refusal(schema, column, listing.partitionColumns, conf) match {
      case None =>
        // the k winners arrive in `_dist` order, which is the metric's
        // order (`1 − cos` ascending for cosine), and keep it
        graft.Graft.installStrategy(spark)
        val rows = graft.plans.WinnerPayload.df(spark,
          feed(withVec = true, relist = Some(() => IndexManager.listFiles(spark, path))), schema,
          graft.plans.WinnerPayload.spec(path, column, listing.partitionColumns, conf))
        if (filter.isEmpty) rows else ranked(rows)
      case Some(reason) =>
        log.info(s"graft indexed payload: scan semi-join feed ($reason)")
        // k winners broadcast; an unbounded candidate set is left to Spark's
        // join planning
        val keys = feed(withVec = false, relist = None)
          .select(col("_file").as("__file"), col("_ri").as("__ri"))
        ranked(scan(spark, path, files, store)
          .withColumn("__file", col("_metadata.file_path"))
          .withColumn("__ri", col("_metadata.row_index"))
          .join(if (filter.isEmpty) broadcast(keys) else keys, Seq("__file", "__ri"), "left_semi")
          .drop("__file", "__ri"))
    }
  }

  /** Programmatic search returning the reference's `SearchResult` shape —
    * (file-local row ordinal, distance), distance ascending
    * (`/root/reference/src/ivf/search.rs:129-141`; the reference sqrt's the
    * squared-L2 heap key before returning, as `array_distance` does; under
    * [[Metric.Cosine]] `distance` is `1 − cos`, most similar first).
    *
    * This is the reference's Rust-API pipeline end to end, distributed
    * ([[winnerFeed]]) and then `orderBy(distance).limit(k)` bounded-heap
    * merges across files. For multi-file tables `row_idx` is file-local,
    * like the reference's per-file API; use [[indexed]] when full rows are
    * needed.
    */
  def search(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      k: Int,
      options: Options = Options(),
      store: IndexStore = IndexStore.default): Dataset[SearchResult] = {
    require(k > 0, "k must be > 0")
    winnerFeed(spark, tableFiles(spark, path), column, query, k, options, store)
      .select(col("_ri").as("row_idx"), col("_dist").as("distance"))
      .orderBy(col("distance").asc_nulls_last)
      .limit(k)
      .as(SearchResultEncoder)
  }

  /** The one top-k pipeline, as a lazy `(_file, _ri, _dist)` feed with
    * EXACT `_dist` in the query's metric (`1 − cos` for cosine, so one
    * ascending winner selection serves both metrics) — phase 1 of [[search]]
    * and [[indexed]], and the winner feed of
    * [[graft.plans.VectorTopKRule]]:
    *
    *  1. validate — driver-side header peeks plus the tier's sidecar check;
    *  2. score — each task scores its files' probed candidates. Float reads
    *     ONLY the embedding column of only the row groups holding candidates
    *     ([[SelectiveFetch]]) and is done; sq8/pq rank on code sidecars
    *     with the tier's [[CoarseScorer]], a per-file bounded heap keeping
    *     the `k·oversample` best, so no full candidate list leaves a task;
    *  3. survive — the quantized tiers collect those heaps (a job of one
    *     stage, each task already cut to `k·oversample`) and the driver
    *     takes the `k·oversample` best by `(key, file, ri)` in Spark's sort
    *     order ([[coarseCut]]);
    *  4. refine — one task per slice of the files holding survivors reads
    *     only THEIR floats for the exact distance.
    *
    * A `maxCandidates` cap swaps steps 2–3 for a job that counts each
    * file's probed candidates and the driver's round-robin quotas
    * ([[roundRobinQuotas]]); the refine then reads each file's first
    * `quota` candidates in probe order, and a capped feed carries each
    * row's probe-order position as `_pos`, the round of the cap that took
    * it. Step 3 and the cap's count run when the feed's partitions are
    * first asked for ([[FilesRDD]]): building the frame, or planning it,
    * runs no job, and nothing shuffles.
    *
    * [[indexed]]'s feed differs in two ways: `relist` replaces `files` with
    * the table's files when the plan runs (the construction-time `files`
    * are still what is validated), and `withVec` adds each row's vector as
    * `_vec`, taken from the pass that computed its exact distance.
    */
  private[graft] def winnerFeed(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Seq[Float],
      k: Int,
      options: Options,
      store: IndexStore,
      relist: Option[() => Seq[String]] = None,
      withVec: Boolean = false): DataFrame = {
    require(k > 0, "k must be > 0")
    require(files.nonEmpty, "no parquet files to search")
    val p = Probe(store, column, query.toArray, options.nprobe, options.cosine)
    val scorer = CoarseScorer(options.tier)
    validate(files, column, p.q, store, scorer)
    val source = relist.getOrElse(() => files)
    (options.maxCandidates, scorer) match {
      case (Some(cap), _) =>
        def quotas(): Seq[(String, Long)] = {
          val files = source()
          val counts = overFiles(spark, () => files)
            .map(f => p.candidates(p.index(f)).length.toLong).collect()
          files.zip(roundRobinQuotas(counts, cap)).filter(_._2 > 0)
        }
        exactFeed(spark, p, withVec, quotas _, capped = true) { case (file, quota) =>
          (file, p.candidates(p.index(file)).take(quota.toInt))
        }
      case (None, None) =>
        exactFeed(spark, p, withVec, source)(f => (f, p.candidates(p.index(f))))
      case (None, Some(coarse)) =>
        val keep = options.keep(k)
        def survivors(): Seq[(String, Array[Int])] = {
          val files = source()
          val cut = coarseCut(overFiles(spark, () => files)
            .flatMap(coarse.score(_, p, keep))
            .mapPartitions(heaps => coarseCut(heaps, keep).iterator)
            .collect().iterator, keep)
          val byFile = cut.groupBy(_._1)
          files.flatMap(f => byFile.get(f).map(rows => (f, rows.map(_._2.toInt).sorted)))
        }
        exactFeed(spark, p, withVec, survivors _)(identity)
    }
  }

  /** The `keep` best of coarse `(file, ordinal, key)` triples in the order
    * of Spark's `ORDER BY key, file, ordinal`: keys compare as SQL doubles
    * (`-0.0 = 0.0`, NaN last), files by their UTF-8 bytes, then ordinals.
    * Taking the `keep` best of each task's heaps and then of their union
    * selects the same survivors as one cut over every file's heap.
    */
  private[graft] def coarseCut(
      scored: Iterator[(String, Long, Double)], keep: Int): Array[(String, Long, Double)] = {
    val utf8 = scala.collection.mutable.HashMap.empty[String, UTF8String]
    def bytes(file: String) = utf8.getOrElseUpdate(file, UTF8String.fromString(file))
    scored.toArray.sortWith { (a, b) =>
      val c = SQLOrderingUtil.compareDoubles(a._3, b._3)
      val byFile = if (c != 0 || a._1 == b._1) c else bytes(a._1).compareTo(bytes(b._1))
      if (byFile != 0) byFile < 0 else a._2 < b._2
    }.take(keep)
  }

  /** The `(_file, _ri, _dist)` feed's schema; `withVec` adds `_vec`, and
    * `capped` the cap's `_pos`.
    */
  private def feedSchema(withVec: Boolean, capped: Boolean): StructType = StructType(
    Seq(StructField("_file", StringType), StructField("_ri", LongType, nullable = false),
      StructField("_dist", FloatType, nullable = false)) ++
      (if (withVec) Seq(StructField("_vec", ArrayType(FloatType, containsNull = false)))
       else Nil) ++
      (if (capped) Seq(StructField("_pos", LongType, nullable = false)) else Nil))

  /** The exact feed: one task per slice of `items`, each reading the floats
    * of only the ordinals `pick` names in its item's file and emitting
    * Catalyst rows, so building the frame derives and resolves no encoder
    * (the SQL rewrite builds a feed on every planned query). `items` is
    * evaluated on the driver when the plan runs ([[FilesRDD]]). `capped`:
    * `pick`'s ordinals are in probe order, and each row's position there is
    * its `_pos`.
    */
  private def exactFeed[T: ClassTag](
      spark: SparkSession,
      p: Probe,
      withVec: Boolean,
      items: () => Seq[T],
      capped: Boolean = false)(pick: T => (String, Array[Int])): DataFrame = {
    val schema = feedSchema(withVec, capped)
    val width = schema.length
    val rows = overFiles(spark, items).flatMap { item =>
      val (file, ordinals) = pick(item)
      val utf8 = UTF8String.fromString(file)
      val pos = if (capped) ordinals.zipWithIndex.toMap else Map.empty[Int, Int]
      p.exactVecRows(file, ordinals).map { case (ri, d, vec) =>
        val row = new GenericInternalRow(width)
        row.update(0, utf8)
        row.setLong(1, ri)
        row.setFloat(2, d)
        if (withVec) row.update(3, UnsafeArrayData.fromPrimitiveArray(vec))
        if (capped) row.setLong(width - 1, pos(ri.toInt).toLong)
        row: InternalRow
      }
    }
    org.apache.spark.sql.graft.Bridge.ofInternalRows(spark, rows, schema)
  }

  /** RANGE search feed `(_file, _ri, _dist, _vec)` over `files`, served
    * from the IVF index with EXACT per-cell pruning — cell i is read only
    * when the triangle inequality admits an in-range member
    * (`d(q, c_i) <= radius + maxMemberRadius_i`, see
    * [[IvfIndex.rangeProbeCells]]), so IO scales with the in-range
    * neighborhood, not the table. It keeps the rows with
    * `array_distance(vec, query) < radius`, computed by the expression's own
    * kernel ([[VectorKernels.l2Distance]]): unlike top-k, range pruning is
    * LOSSLESS, so the result equals the brute filter for any radius, no
    * nprobe knob (the SQL rewrite's untouched Filter recomputes the same
    * bits on these rows). Files without a radius sidecar (reference-built
    * indexes) degrade to probing every cell of that file — still exact;
    * run [[IvfBuilder.ensureRadii]] to backfill.
    */
  private[graft] def rangeFeed(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Seq[Float],
      radius: Float,
      store: IndexStore): DataFrame = {
    require(files.nonEmpty, "no parquet files to search")
    require(radius >= 0, s"radius must be >= 0, got $radius")
    val q = query.toArray
    val colName = column
    val r = radius
    org.apache.spark.sql.graft.Bridge.ofInternalRows(spark,
      overFiles(spark, () => files).flatMap { file =>
        val index = IndexManager.loadIndex(store, file, colName)
        val radii = IndexManager.validRadii(store, file, colName, index)
        val cands = index.rangeProbeCells(q, r, radii).flatMap(index.invertedLists)
        java.util.Arrays.sort(cands)
        val utf8 = UTF8String.fromString(file)
        SelectiveFetch.embeddings(file, colName, cands).iterator.flatMap {
          case (ri, vec) if vec.length == q.length =>
            val d = VectorKernels.l2Distance(vec, q)
            if (d < r)
              Iterator.single(InternalRow(utf8, ri, d, UnsafeArrayData.fromPrimitiveArray(vec)))
            else Iterator.empty
          case _ => Iterator.empty
        }
      },
      feedSchema(withVec = true, capped = false))
  }

  /** Sampled estimate of the range query's (candidate rows, total rows)
    * across the table, for [[rangeBails]]: up to
    * [[RangeEstimateSampleFiles]] evenly-spaced files' indexes are probed
    * driver-side (cheap: decoded indexes come from the LRU) and scaled to
    * the file count. A single-file estimate misjudges CLUSTERED layouts,
    * where one file holds the whole in-range blob and the rest hold none
    * (measured in the round-6 scale probe); spacing the sample across the
    * sorted file list averages blob-holding and empty files.
    */
  private val RangeEstimateSampleFiles = 4
  private def estimateRangeCandidates(
      files: Seq[String],
      column: String,
      query: Array[Float],
      radius: Float,
      store: IndexStore): (Long, Long) = {
    // ceil, not floor: floor turns e.g. 5-7 files into step 1 (a prefix
    // sample that never sees the tail, exactly the bias this sampling is
    // meant to avoid on clustered layouts)
    val step = math.max(
      1, (files.size + RangeEstimateSampleFiles - 1) / RangeEstimateSampleFiles)
    val sampled = files.indices.by(step).map(files).take(RangeEstimateSampleFiles)
    var cand = 0L
    var total = 0L
    var seen = 0
    sampled.foreach { f =>
      // through the decoded-index LRU — repeated estimates are free
      scala.util.Try(IndexManager.loadIndex(store, f, column)).toOption.foreach { idx =>
        val radii = IndexManager.validRadii(store, f, column, idx)
        cand += idx.rangeProbeCells(query, radius, radii)
          .map(idx.invertedLists(_).length.toLong).sum
        total += idx.numRows
        seen += 1
      }
    }
    if (seen == 0) (0L, 0L)
    else ((cand * files.size) / seen, (total * files.size) / seen)
  }

  /** The selectivity bailout, shared by the SQL rewrite and the API paths:
    * true when the estimated candidate fraction exceeds
    * `spark.graft.ivf.rangeMaxSelectivity` (default 0.05) — a
    * barely-pruning radius makes the vectorized full scan cheaper than
    * point-read fetch, the classic index-vs-scan crossover (measured at
    * sf0.1: a ~10%-in-range radius with cell-wide spread ran 0.31 s pruned
    * vs 0.14 s brute, BENCHNOTES round-5).
    */
  private[graft] def rangeBails(
      spark: SparkSession,
      files: Seq[String],
      column: String,
      query: Array[Float],
      radius: Float,
      store: IndexStore): Boolean = {
    val (est, total) = estimateRangeCandidates(files, column, query, radius, store)
    val maxSel = spark.conf
      .getOption(graft.plans.VectorTopKRule.RangeMaxSelectivityKey)
      .getOrElse(graft.plans.VectorTopKRule.RangeMaxSelectivityDefault).toDouble
    total > 0 && est.toDouble / total > maxSel
  }

  /** Programmatic range search ([[SearchResult]] rows, distance ascending):
    * every vector strictly within `radius` (true L2) of `query` — the
    * radius-predicate analog of [[search]], exact at any radius. A radius
    * whose estimated candidate fraction exceeds
    * `spark.graft.ivf.rangeMaxSelectivity` is served by the vectorized
    * full scan with `array_distance` instead of point reads: the same rows
    * and distances, since [[rangeFeed]] computes that expression's kernel.
    */
  def rangeSearch(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      radius: Float,
      store: IndexStore = IndexStore.default): Dataset[SearchResult] = {
    val files = tableFiles(spark, path)
    val winners =
      if (rangeBails(spark, files, column, query.toArray, radius, store))
        scan(spark, path, files, store)
          .select(col("_metadata.row_index").as("_ri"), distanceCol(column, query).as("_dist"))
          .where(col("_dist") < lit(radius))
      else {
        validate(files, column, query.toArray, store)
        rangeFeed(spark, files, column, query, radius, store)
      }
    winners
      .select(col("_ri").as("row_idx"), col("_dist").as("distance"))
      .orderBy(col("distance").asc_nulls_last, col("row_idx"))
      .as(SearchResultEncoder)
  }

  /** Plan-integrated range search: full payload rows whose vector is
    * strictly within `radius` of `query` — equivalent to
    * `df.where(array_distance(col, query) < radius)` but reading only the
    * cells the triangle-inequality bound admits, then only the in-range
    * rows' pages, through the [[graft.plans.WinnerPayload]] node that
    * [[indexed]] uses (in-range IO, not table IO).
    *
    * Selectivity: point-read pruning wins when the radius is SELECTIVE (a
    * small, localized in-range neighborhood). Past
    * `spark.graft.ivf.rangeMaxSelectivity` (default 0.05, same estimate and
    * default as the SQL rewrite), or on a table the payload refuses
    * ([[graft.plans.WinnerPayload.refusal]]), this is the vectorized full
    * scan with the predicate itself. Both branches return the same rows,
    * also at a radius equal to a row's distance: [[rangeFeed]] keeps
    * `d < radius` with `d` from `array_distance`'s own kernel.
    */
  def rangeRows(
      spark: SparkSession,
      path: String,
      column: String,
      query: Seq[Float],
      radius: Float,
      store: IndexStore = IndexStore.default): DataFrame = {
    val listing = IndexManager.listTable(spark, path)
    val files = nonEmpty(listing.files, path)
    val schema = IndexManager.tableSchema(spark, path, files, store)
    val conf = spark.sessionState.conf
    if (rangeBails(spark, files, column, query.toArray, radius, store) ||
        graft.plans.WinnerPayload.refusal(schema, column, listing.partitionColumns, conf).nonEmpty)
      return scan(spark, path, files, store).where(distanceCol(column, query) < lit(radius))
    validate(files, column, query.toArray, store)
    graft.Graft.installStrategy(spark)
    graft.plans.WinnerPayload.df(spark,
      rangeFeed(spark, files, column, query, radius, store), schema,
      graft.plans.WinnerPayload.spec(path, column, listing.partitionColumns, conf))
  }

  /** Everything a task needs to probe and exactly score one file for one
    * query.
    */
  private final case class Probe(
      store: IndexStore, column: String, q: Array[Float], nprobe: Int, cosine: Boolean) {
    def index(file: String): IvfIndex = {
      val index = IndexManager.loadIndex(store, file, column)
      require(
        index.dim == q.length,
        s"query dim ${q.length} != index dim ${index.dim} for $file")
      index
    }

    /** Probed cells in the metric's probe order (centroid cosine for
      * cosine — at `nprobe >= nClusters` both orders cover every row).
      */
    def cells(index: IvfIndex): Array[Int] = index.probeCells(q, nprobe, cosine)

    /** Probed cells' posting lists concatenated in probe order. */
    def candidates(index: IvfIndex): Array[Int] = cells(index).flatMap(index.invertedLists)

    /** The exact distance, `array_distance` or `1 − array_cosine_similarity`. */
    def exact(vec: Array[Float]): Float =
      if (cosine) 1.0f - VectorKernels.cosine(vec, q) else VectorKernels.l2Distance(vec, q)

    /** Exact `(ordinal, distance, vector)` of `ordinals` in `file`, read
      * selectively, ascending ordinal; vectors of another dim are skipped.
      */
    def exactVecRows(file: String, ordinals: Array[Int]): Iterator[(Long, Float, Array[Float])] =
      SelectiveFetch.embeddings(file, column, ordinals).iterator.collect {
        case (ri, vec) if vec.length == q.length => (ri, exact(vec), vec)
      }
  }

  /** The one stage of the top-k pipeline that differs per quantized
    * [[Tier]]: how ONE file's probed candidates are coarse-ranked. A scorer
    * owns its loop over the file's candidates, so the hot loops stay
    * monomorphic.
    */
  private sealed trait CoarseScorer extends Serializable {
    /** Memo-key tag of the driver-side validation. */
    def tag: String

    /** Refuses a file whose sidecar this tier cannot read. */
    def requireSidecar(store: IndexStore, file: String, column: String): Unit

    /** The `keep` best `(file, ordinal, key)` rows of one file, ascending
      * key = better.
      */
    def score(file: String, p: Probe, keep: Int): Iterator[(String, Long, Double)]
  }

  private object CoarseScorer {
    /** None for float, whose exact distances need no coarse rank. */
    def apply(tier: Tier): Option[CoarseScorer] = tier match {
      case Tier.Float => None
      case Tier.Sq8 => Some(Sq8Scorer)
      case Tier.Pq(residual) => Some(PqScorer(residual))
    }
  }

  /** Integer code-space distance on the [[Sq8Sidecar]] (`dim` bytes per
    * candidate, point reads). L2 keys are integer `distanceSq` values
    * (exact in a Double far below 2^53); angular keys are the code-grid
    * 1 − cos — coarse either way, the refine restores the exact metric.
    */
  private case object Sq8Scorer extends CoarseScorer {
    val tag = "sq8"
    def requireSidecar(store: IndexStore, file: String, column: String): Unit =
      require(
        Sq8Sidecar.usable(store, file, column),
        s"no usable SQ8 sidecar for file $file column '$column' (absent, stale " +
          "binding, or damaged) — build one with Sq8Sidecar.ensure")
    def score(file: String, p: Probe, keep: Int): Iterator[(String, Long, Double)] = {
      // rows() requires ascending ordinals (its bounds check and
      // run-coalescing depend on it); the heap is order-independent
      val cands = p.candidates(p.index(file))
      java.util.Arrays.sort(cands)
      val path = p.store.path(file, p.column, Sidecar.Sq8)
      val codes =
        if (cands.isEmpty) Array.empty[Array[Byte]]
        else IndexStore.withCodes(path, Sq8Sidecar.Header)(_.rows(cands))
      val qCodes = Sq8.encode(p.q)
      val heap = new BoundedHeap(keep, cands.length)
      var i = 0
      while (i < cands.length) {
        if (codes(i).length == qCodes.length) {
          heap.push(
            if (p.cosine) Sq8.angularDist(qCodes, codes(i))
            else Sq8.distanceSq(qCodes, codes(i)).toDouble,
            cands(i))
        }
        i += 1
      }
      heap.rows(file)
    }
  }

  /** ADC on the [[PqSidecar]]'s `m`-byte product codes: one `m × ksub`
    * exact query-to-centroid table per file (per probed cell for the
    * residual variant), then `m` byte lookups per candidate — coarse IO is
    * `m` bytes/candidate, 32× under floats at m = dim/8.
    */
  private final case class PqScorer(residual: Boolean) extends CoarseScorer {
    def tag: String = s"pq-$residual"
    def requireSidecar(store: IndexStore, file: String, column: String): Unit =
      // exists (not usable()): a PRESENT sidecar from a dead centroid
      // epoch must reach the reader's specific stale-epoch refusal
      // (rebuilt via ensure), not a generic absent message
      require(
        store.exists(file, column, Sidecar.pq(residual)),
        s"no ${if (residual) "residual " else ""}PQ sidecar for file $file column " +
          s"'$column' — build one with PqSidecar.build")

    def score(file: String, p: Probe, keep: Int): Iterator[(String, Long, Double)] = {
      val q = p.q
      val index = p.index(file)
      // open-once reader: the residual branch reads per probed cell, so
      // reopening per cell would be nprobe redundant opens per task; the
      // codebook comes from the process-wide digest-keyed LRU, so a
      // multi-file table decodes it once per JVM and every other file
      // costs a 40-byte header read
      val path = p.store.path(file, p.column, Sidecar.pq(residual))
      IndexStore.withCodes(path, PqSidecar.Header) { reader =>
        val header = reader.header
        require(
          header.residual == residual,
          s"PQ sidecar variant mismatch for $file (flags=${header.flags})")
        // refuse-don't-guess: residual codes quantize vec − cellCentroid, so a
        // retrain that moved the centroids makes them garbage under the new
        // ADC tables — a digest mismatch is a hard error, never a recall drop
        if (residual) require(
          header.centroidDigest == index.centroidDigest,
          s"stale residual PQ sidecar for $file: codes were encoded under " +
            s"centroid epoch ${header.centroidDigest} but the index is now " +
            s"${index.centroidDigest} (retrained since encode) — rebuild with " +
            "PqSidecar.ensure")
        val cb = PqSidecar.codebook(reader)
        require(
          cb.dim == q.length,
          s"query dim ${q.length} != PQ codebook dim ${cb.dim} for $file")
        val cells = p.cells(index)
        val heap = new BoundedHeap(keep, cells.iterator.map(index.invertedLists(_).length).sum)
        val qNorm = math.sqrt(VectorKernels.dot(q, q).toDouble)
        // code-space 1 − cos from per-(subspace, entry) tables: dot(q, x̂) and
        // ‖x̂‖² are EXACT sums over the code (subspaces partition coordinates),
        // so the only approximation is x̂ itself — coarse ranking, the float
        // refine restores the true metric
        def angularKey(dot: Double, normSq: Double): Float =
          if (qNorm == 0.0 || normSq <= 0.0) 2.0f
          else (1.0 - dot / (qNorm * math.sqrt(normSq))).toFloat
        if (residual) {
          // IVF-ADC: codes quantize vec − cellCentroid, so the ADC table is
          // per probed cell, built from query − cellCentroid (exact identity
          // ‖q − x‖² = ‖(q − c) − (x − c)‖² — no approximation added); each
          // posting list is ascending, so the per-cell read still coalesces
          val dim = index.dim
          val normT = if (p.cosine) Pq.normTable(cb) else null
          val dotT = if (p.cosine) Pq.dotTable(q, cb) else null
          cells.foreach { cell =>
            val ords = index.invertedLists(cell)
            if (ords.nonEmpty) {
              val codes = reader.rows(ords)
              val cent = java.util.Arrays
                .copyOfRange(index.centroids, cell * dim, (cell + 1) * dim)
              if (p.cosine) {
                // x̂ = cell + r̂: dot(q, x̂) = dot(q, cell) + Σ dotT[code];
                // ‖x̂‖² = ‖cell‖² + 2·Σ crossT[code] + Σ normT[code]
                val qDotCell = VectorKernels.dot(q, cent).toDouble
                val cellNormSq = VectorKernels.dot(cent, cent).toDouble
                val crossT = Pq.dotTable(cent, cb)
                var i = 0
                while (i < ords.length) {
                  val dot = qDotCell + Pq.adcDistanceSq(dotT, codes(i), cb.ksub)
                  val n2 = cellNormSq +
                    2.0 * Pq.adcDistanceSq(crossT, codes(i), cb.ksub) +
                    Pq.adcDistanceSq(normT, codes(i), cb.ksub)
                  heap.push(angularKey(dot, n2), ords(i))
                  i += 1
                }
              } else {
                val table = Pq.adcTable(Pq.residual(q, cent), cb)
                var i = 0
                while (i < ords.length) {
                  heap.push(Pq.adcDistanceSq(table, codes(i), cb.ksub), ords(i))
                  i += 1
                }
              }
            }
          }
        } else {
          val cands = cells.flatMap(index.invertedLists)
          java.util.Arrays.sort(cands)
          val codes = reader.rows(cands)
          if (p.cosine) {
            val dotT = Pq.dotTable(q, cb)
            val normT = Pq.normTable(cb)
            var i = 0
            while (i < cands.length) {
              val dot = Pq.adcDistanceSq(dotT, codes(i), cb.ksub).toDouble
              val n2 = Pq.adcDistanceSq(normT, codes(i), cb.ksub).toDouble
              heap.push(angularKey(dot, n2), cands(i))
              i += 1
            }
          } else {
            val table = Pq.adcTable(q, cb)
            var i = 0
            while (i < cands.length) {
              heap.push(Pq.adcDistanceSq(table, codes(i), cb.ksub), cands(i))
              i += 1
            }
          }
        }
        heap.rows(file)
      }
    }
  }

  /** Bounded max-heap of one file's `keep` smallest `(key, ordinal)` pairs;
    * ties break on ordinal, like coarseTopK's id tie-break, so survivor
    * selection is deterministic. Float keys widen to Double losslessly, so
    * the order matches a Float heap's.
    */
  private final class BoundedHeap(keep: Int, candidates: Int) {
    private val heap = new java.util.PriorityQueue[(Double, Int)](
      math.max(1, math.min(keep, candidates)),
      (a: (Double, Int), b: (Double, Int)) => {
        val c = java.lang.Double.compare(b._1, a._1)
        if (c != 0) c else Integer.compare(b._2, a._2)
      })

    def push(d: Double, ri: Int): Unit =
      if (heap.size < keep) heap.add((d, ri))
      else {
        val worst = heap.peek()
        if (d < worst._1 || (d == worst._1 && ri < worst._2)) {
          heap.poll(); heap.add((d, ri)): Unit
        }
      }

    def rows(file: String): Iterator[(String, Long, Double)] = {
      val out = new scala.collection.mutable.ArrayBuffer[(String, Long, Double)](heap.size)
      while (!heap.isEmpty) {
        val (d, ri) = heap.poll()
        out += ((file, ri.toLong, d))
      }
      out.iterator
    }
  }
}
