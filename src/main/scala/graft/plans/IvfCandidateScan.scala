package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, UnsafeProjection}
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, LogicalPlan, UnaryNode}
import org.apache.spark.sql.execution.{LeafExecNode, SparkPlan, SparkStrategy, UnaryExecNode}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types.{DataType, LongType, StringType}
import org.apache.spark.unsafe.types.UTF8String

import graft.ivf.{IndexManager, IndexStore}

/** Custom plan node for IVF candidate generation — the Spark analog of the
  * reference's `VectorIndexScanExec` (`/root/reference/src/df_vector/
  * index_exec.rs`): emits one (file path, row ordinal) row per candidate and
  * surfaces the reference's metrics (`files_scanned`, `candidate_rows`,
  * `index_exec.rs:197-220`) as SQLMetrics visible in EXPLAIN/the Spark UI.
  *
  * The node carries only the FILE LIST plus probe parameters; each executor
  * task loads its files' (small) indexes and probes them locally — the
  * reference's per-scan-file distribution shape — so neither the footer
  * reads nor the candidate lists ever funnel through the driver. The driver
  * holds O(files) strings and, for the `max_candidates` fairness cap, one
  * candidate COUNT per file (phase 1 of the cap; the counts job is only run
  * when a cap is set).
  */
final case class IvfCandidateScan(
    output: Seq[Attribute],
    column: String,
    query: Seq[Float],
    nprobe: Int,
    maxCandidates: Option[Int],
    files: Seq[String],
    indexDir: String,
    estCandidates: Long,
    cosine: Boolean = false) extends LeafNode {
  override def computeStats(): org.apache.spark.sql.catalyst.plans.logical.Statistics =
    org.apache.spark.sql.catalyst.plans.logical.Statistics(
      sizeInBytes = BigInt(estCandidates) * IvfCandidateScan.estRowBytes(files) + 128,
      rowCount = Some(BigInt(estCandidates)))
  override def simpleString(maxFields: Int): String =
    s"IvfCandidateScan [column=$column, dim=${query.length}, nprobe=$nprobe, " +
      s"files=${files.size}, estCandidates=$estCandidates" +
      (if (cosine) ", metric=cosine" else "") + "]"
}

object IvfCandidateScan {
  def attrs: Seq[Attribute] = Seq(
    AttributeReference("__file", StringType, nullable = false)(),
    AttributeReference("__ri", LongType, nullable = false)())

  /** Estimated bytes per (path, ordinal) output row, for broadcast sizing. */
  def estRowBytes(files: Seq[String]): Long =
    files.headOption.map(_.length.toLong).getOrElse(64L) + 32L

  /** DataFrame over the custom node (requires [[GraftStrategy]] installed). */
  def df(
      spark: SparkSession,
      column: String,
      query: Seq[Float],
      nprobe: Int,
      maxCandidates: Option[Int],
      files: Seq[String],
      indexDir: String,
      estCandidates: Long,
      cosine: Boolean = false): DataFrame =
    Bridge.ofRows(spark, IvfCandidateScan(
      attrs, column, query, nprobe, maxCandidates, files, indexDir, estCandidates, cosine))

  /** O(1) driver estimate of the candidate volume: the first file's index
    * probe scaled by the file count, capped by `maxCandidates`. Served by
    * the decoded-index LRU, since the SQL rule runs it on every
    * optimization pass of a matching query.
    */
  private def estimateCandidates(
      store: IndexStore,
      files: Seq[String],
      column: String,
      query: Array[Float],
      nprobe: Int,
      maxCandidates: Option[Int],
      cosine: Boolean): Long = {
    val perFile = scala.util.Try(IndexManager.loadIndex(store, files.head, column)).toOption
      .map(_.candidateCount(query, nprobe, cosine)).getOrElse(0L)
    val total = perFile * files.size
    maxCandidates.fold(total)(c => math.min(c.toLong, total))
  }

  /** Broadcasts `side` when its estimated size fits under
    * `spark.sql.autoBroadcastJoinThreshold`, else leaves it to a shuffle
    * join. A negative threshold means the user DISABLED auto-broadcast —
    * never force one; the 2x safety factor covers a first-file-scaled
    * estimate under-counting.
    */
  def broadcastIfSmall(
      spark: SparkSession, side: DataFrame, estRows: Long, files: Seq[String]): DataFrame = {
    val threshold = spark.sessionState.conf.autoBroadcastJoinThreshold
    if (threshold >= 0 && estRows * estRowBytes(files) * 2 <= threshold) broadcast(side)
    else side
  }

  /** The one-phase candidate feed `(__file, __ri)`: the custom scan node,
    * sized by [[estimateCandidates]] and broadcast when that fits.
    */
  def feed(
      spark: SparkSession,
      column: String,
      query: Array[Float],
      nprobe: Int,
      maxCandidates: Option[Int],
      files: Seq[String],
      store: IndexStore,
      cosine: Boolean): DataFrame = {
    val est = estimateCandidates(store, files, column, query, nprobe, maxCandidates, cosine)
    broadcastIfSmall(
      spark,
      df(spark, column, query.toIndexedSeq, nprobe, maxCandidates, files, store.dir, est, cosine),
      est, files)
  }

  /** Per-file quotas with the reference's round-robin fairness across files
    * (`/root/reference/src/df_vector/access.rs:193-243`), computed from
    * candidate COUNTS only — the distributed twin of
    * [[graft.ivf.VectorTopK.capRoundRobin]], which needs the materialized
    * per-file candidate lists.
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
}

final case class IvfCandidateScanExec(
    output: Seq[Attribute],
    column: String,
    query: Seq[Float],
    nprobe: Int,
    maxCandidates: Option[Int],
    files: Seq[String],
    indexDir: String,
    cosine: Boolean = false) extends LeafExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "filesScanned" -> SQLMetrics.createMetric(sparkContext, "files scanned"),
    "candidateRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows"))

  override def simpleString(maxFields: Int): String =
    s"IvfCandidateScanExec [column=$column, dim=${query.length}, nprobe=$nprobe, " +
      s"files=${files.size}" + (if (cosine) ", metric=cosine" else "") + "]"

  protected override def doExecute(): RDD[InternalRow] = {
    val filesScanned = longMetric("filesScanned")
    val candidateRows = longMetric("candidateRows")
    val store = new IndexStore(indexDir)
    val colName = column
    val np = nprobe
    val q = query.toArray
    val slices = math.max(1, math.min(files.size, sparkContext.defaultParallelism))
    // fairness cap, two-phase: executor-side counts -> driver quota water-fill
    // (O(files) driver memory), then the emit pass takes each file's quota in
    // probe (centroid) order, matching the reference's CandidateCursor.
    val cos = cosine
    val quotas: Option[Array[Long]] = maxCandidates.map { cap =>
      val counts = sparkContext
        .parallelize(files.zipWithIndex, slices)
        .map { case (f, i) =>
          (i, IndexManager.loadIndex(store, f, colName).candidateCount(q, np, cos))
        }
        .collect()
        .sortBy(_._1)
        .map(_._2)
      IvfCandidateScan.roundRobinQuotas(counts, cap.toLong)
    }
    val withQuota = files.zipWithIndex.map { case (f, i) =>
      (f, quotas.fold(Long.MaxValue)(_(i)))
    }
    sparkContext.parallelize(withQuota, slices).mapPartitions { it =>
      val proj = UnsafeProjection.create(Array[DataType](StringType, LongType))
      it.flatMap { case (file, quota) =>
        val index = IndexManager.loadIndex(store, file, colName)
        require(
          index.dim == q.length,
          s"query dim ${q.length} != index dim ${index.dim} for $file")
        filesScanned.add(1L)
        val utf8 = UTF8String.fromString(file)
        // angular queries probe by centroid cosine — at nprobe >= nClusters
        // both orders emit every row, which is what the exactness gate uses
        val cands = index.probeCells(q, np, cos).flatMap(index.invertedLists)
        val n = math.min(quota, cands.length.toLong).toInt
        candidateRows.add(n.toLong)
        Iterator.tabulate(n)(j => proj(InternalRow(utf8, cands(j).toLong)).copy())
      }
    }
  }
}

/** Pass-through meter over the candidate FETCH side: counts the rows (and
  * per-task streams) that actually reach the top-k re-rank after candidate
  * pruning and residual filtering — the reference's `embeddings_fetched` /
  * `batches_fetched` counters (`/root/reference/src/df_vector/exec.rs:
  * 405-427`; post-filter semantics per the committed snapshot counters,
  * `src/df_vector/snapshots/...filter_plan_tree.snap`). A "batch" here is
  * one task's row stream — Spark's unit of fetch parallelism — since the
  * columnar batches of the scan are not observable above the semi-join.
  */
final case class MeteredFetch(child: LogicalPlan) extends UnaryNode {
  override def output: Seq[Attribute] = child.output
  override def maxRows: Option[Long] = child.maxRows
  override protected def withNewChildInternal(c: LogicalPlan): MeteredFetch =
    copy(child = c)
}

final case class MeteredFetchExec(child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = child.output
  override def outputPartitioning: org.apache.spark.sql.catalyst.plans.physical.Partitioning =
    child.outputPartitioning
  override def outputOrdering: Seq[org.apache.spark.sql.catalyst.expressions.SortOrder] =
    child.outputOrdering

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "embeddingsFetched" -> SQLMetrics.createMetric(sparkContext, "embeddings fetched"),
    "batchesFetched" -> SQLMetrics.createMetric(sparkContext, "batches fetched"))

  protected override def doExecute(): RDD[InternalRow] = {
    val rows = longMetric("embeddingsFetched")
    val batches = longMetric("batchesFetched")
    child.execute().mapPartitions { it =>
      batches.add(1L)
      it.map { r => rows.add(1L); r }
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): MeteredFetchExec =
    copy(child = c)
}

/** Plans [[IvfCandidateScan]] / [[MeteredFetch]]; injected via
  * `Graft.install` / `GraftExtensions` (the reference registers its exec
  * through its session builder the same way, `src/df_vector/session.rs`).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[SparkPlan] =
    plan match {
      case IvfCandidateScan(out, col, q, nprobe, maxCands, files, dir, _, cos) =>
        IvfCandidateScanExec(out, col, q, nprobe, maxCands, files, dir, cos) :: Nil
      case MeteredFetch(child) =>
        MeteredFetchExec(planLater(child)) :: Nil
      case _ => Nil
    }
}
