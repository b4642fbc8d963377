package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  GenericInternalRow, IntegerLiteral, NamedExpression, PlanExpression, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{LeafNode, Limit, LogicalPlan, Project,
  ReturnAnswer, Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition,
  UnknownPartitioning}
import org.apache.spark.sql.execution.{InputAdapter, LeafExecNode, ProjectExec, SparkPlan,
  SparkStrategy, SQLExecution, TakeOrderedAndProjectExec, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.functions.broadcast
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

import graft.ivf.{IndexManager, IndexStore, SelectiveFetch}

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

  /** Under [[TopKCollectExec]]: the child's rows, collected on the driver
    * (one batch).
    */
  override def executeCollect(): Array[InternalRow] = {
    val rows = TopKCollectExec.driverRows(child)
    longMetric("embeddingsFetched").add(rows.length.toLong)
    longMetric("batchesFetched").add(1L)
    SQLMetrics.postDriverMetricUpdates(
      sparkContext, sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    rows
  }

  override protected def withNewChildInternal(c: SparkPlan): MeteredFetchExec =
    copy(child = c)
}

/** The payload step of the filter-free `VectorTopK.indexed` and of the
  * filter-free SQL top-k [[VectorTopKRule]] rewrites: the table's rows of
  * the k winners in `child` (a `_file, _ri, _vec` feed of at most k rows),
  * read page-selectively — the reference TopkBuilder's RowSelection fetch
  * (`src/ivf/search.rs:155-244`). `output` is the table's schema as Spark
  * infers it (the API), or the replaced leaf's attributes that the plan
  * above reads (SQL); the vector column comes from each
  * winner's `_vec`, which the scoring pass already decoded, partition
  * columns from the file index, and every other column from
  * [[graft.ivf.SelectiveFetch.payload]].
  */
final case class WinnerPayload(
    child: LogicalPlan,
    output: Seq[Attribute],
    spec: WinnerPayload.Spec) extends UnaryNode {
  override def producedAttributes: AttributeSet = outputSet
  override def references: AttributeSet =
    AttributeSet(child.output.filter(a => WinnerPayload.FeedColumns.contains(a.name)))
  override def maxRows: Option[Long] = child.maxRows
  override def simpleString(maxFields: Int): String =
    s"WinnerPayload [table=${spec.table}, column=${spec.column}, columns=${output.size}]"
  override protected def withNewChildInternal(c: LogicalPlan): WinnerPayload = copy(child = c)
}

object WinnerPayload {
  /** The feed columns the payload reads: a winner's file, row ordinal and
    * vector.
    */
  val FeedColumns: Seq[String] = Seq("_file", "_ri", "_vec")

  /** What the exec needs besides its child and output: the table root
    * (listed again at execution for partition values), the vector column,
    * the partition columns, and the session's datetime rebase modes.
    */
  final case class Spec(
      table: String,
      column: String,
      partitionColumns: Seq[String],
      modes: SelectiveFetch.RebaseModes)

  private def atomic(dt: DataType): Boolean = dt match {
    case BooleanType | ByteType | ShortType | IntegerType | LongType | FloatType | DoubleType |
        BinaryType | DateType | TimestampType | TimestampNTZType => true
    case _: StringType | _: DecimalType => true
    case _ => false
  }

  /** Why the page-level payload cannot read a table of `schema`, or None
    * when it can: every column but the vector must be atomic, and the
    * vector `array<float>` (a `list<double>` vector must keep its stored
    * type, which the float feed does not carry).
    */
  def unsupported(
      schema: StructType, column: String, partitionColumns: Seq[String]): Option[String] =
    schema.fields.iterator.filterNot(f => partitionColumns.contains(f.name)).flatMap { f =>
      (f.name == column, f.dataType) match {
        case (true, ArrayType(FloatType, _)) => None
        case (true, dt) => Some(s"vector column '$column' is ${dt.simpleString}, not array<float>")
        case (false, dt) if atomic(dt) => None
        case (false, dt) => Some(s"column '${f.name}' is ${dt.simpleString}, not an atomic type")
      }
    }.nextOption()

  /** Why a top-k over a table of `schema` must take the `scan ⋉ winner
    * feed` semi-join instead of the page-level payload, or None when the
    * payload can serve it — the one decision `VectorTopK.indexed` and
    * [[VectorTopKRule]] share. Besides [[unsupported]]: INT96 conversion
    * (the page reader applies no time-zone conversion), and, for a SQL
    * leaf, more than one root path (the payload lists one table root for
    * partition values) or a `_metadata` column in the leaf's output (the
    * payload reads no file metadata).
    */
  def refusal(
      schema: StructType,
      column: String,
      partitionColumns: Seq[String],
      conf: SQLConf,
      rootPaths: Int = 1,
      metadataOutput: Boolean = false): Option[String] =
    Option.when(rootPaths > 1)(s"the scan has $rootPaths root paths")
      .orElse(Option.when(metadataOutput)("the scan outputs _metadata"))
      .orElse(unsupported(schema, column, partitionColumns))
      .orElse(Option.when(conf.getConf(SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION))(
        s"${SQLConf.PARQUET_INT96_TIMESTAMP_CONVERSION.key} is on"))

  /** The spec of a payload over the table at `table`, with the session's
    * datetime rebase modes.
    */
  def spec(table: String, column: String, partitionColumns: Seq[String], conf: SQLConf): Spec =
    Spec(table, column, partitionColumns, SelectiveFetch.RebaseModes(
      conf.getConf(SQLConf.PARQUET_REBASE_MODE_IN_READ).toString,
      conf.getConf(SQLConf.PARQUET_INT96_REBASE_MODE_IN_READ).toString))

  /** The payload rows of `winners` over a table of `schema` (requires
    * [[GraftStrategy]] installed).
    */
  def df(spark: SparkSession, winners: DataFrame, schema: StructType, spec: Spec): DataFrame =
    Bridge.ofRows(spark, WinnerPayload(
      winners.queryExecution.analyzed,
      schema.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)()),
      spec))
}

/** Plans [[WinnerPayload]]. Collected directly (`df.collect()`, the API's
  * usual consumer), the child's winners merge on the driver — a TakeOrdered
  * collect, one stage — and the driver reads their payload: no second stage
  * waits for a free core. Any other consumer reads the payload in the task
  * that holds the (single-partition) winners. Rows keep the winners' order.
  */
final case class WinnerPayloadExec(
    child: SparkPlan,
    output: Seq[Attribute],
    spec: WinnerPayload.Spec) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "payloadFiles" -> SQLMetrics.createMetric(sparkContext, "payload files"),
    "payloadPages" -> SQLMetrics.createMetric(sparkContext, "payload pages"),
    "payloadRows" -> SQLMetrics.createMetric(sparkContext, "payload rows"))

  override def simpleString(maxFields: Int): String =
    s"WinnerPayloadExec [table=${spec.table}, column=${spec.column}, columns=${output.size}]"

  // the winners arrive in one partition (a TakeOrdered), and so leave
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case SinglePartition => SinglePartition
    case other => UnknownPartitioning(other.numPartitions)
  }

  protected override def doExecute(): RDD[InternalRow] = {
    val read = reader()
    child.execute().mapPartitions(it => read(it.map(_.copy()).toArray).iterator)
  }

  override def executeCollect(): Array[InternalRow] = {
    val rows = reader()(child.executeCollect())
    SQLMetrics.postDriverMetricUpdates(
      sparkContext, sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    rows
  }

  /** The payload rows of a set of feed rows, in their order: each winner
    * file is opened once ([[SelectiveFetch.payload]]), the vector comes
    * from the feed's `_vec`, partition values from a listing taken now —
    * the feed's files are listed when it runs, so an appended partition
    * has no values at construction.
    */
  private def reader(): Array[InternalRow] => Array[InternalRow] = {
    val files = longMetric("payloadFiles")
    val pages = longMetric("payloadPages")
    val rowsOut = longMetric("payloadRows")
    val types = output.map(_.dataType).toArray
    val partValues =
      if (spec.partitionColumns.isEmpty) Map.empty[String, InternalRow]
      else IndexManager.partitionValues(
        session, spec.table, StructType(output.map(a => StructField(a.name, a.dataType))))
    val Seq(fileIdx, riIdx, vecIdx) =
      WinnerPayload.FeedColumns.map(n => child.output.indexWhere(_.name == n))
    // where each output column comes from: the feed's vector (-1), a
    // partition value (-2 - its index), or the data columns read (>= 0)
    val dataCols = output.filter(a =>
      a.name != spec.column && !spec.partitionColumns.contains(a.name))
    val source = output.map { a =>
      if (a.name == spec.column) -1
      else if (spec.partitionColumns.contains(a.name)) -2 - spec.partitionColumns.indexOf(a.name)
      else dataCols.indexOf(a)
    }.toArray
    // a SQL payload outputs only the columns its plan references, so a
    // partition column may be absent; it is then never read
    val partTypes = spec.partitionColumns
      .map(n => output.find(_.name == n).fold(NullType: DataType)(_.dataType)).toArray
    val columns = dataCols.map(a => SelectiveFetch.PayloadColumn(a.name, a.dataType))
    val modes = spec.modes
    winners => {
      val out = new Array[InternalRow](winners.length)
      val proj = UnsafeProjection.create(types)
      winners.indices.groupBy(i => winners(i).getUTF8String(fileIdx).toString).foreach {
        case (file, idx) =>
          val sorted = idx.sortBy(i => winners(i).getLong(riIdx))
          val (values, nPages) = SelectiveFetch.payload(
            file, sorted.map(i => winners(i).getLong(riIdx).toInt).toArray, columns, modes)
          files.add(1L)
          pages.add(nPages.toLong)
          rowsOut.add(sorted.length.toLong)
          val part = if (partTypes.isEmpty) null else partValues.getOrElse(file,
            throw new IllegalStateException(s"no partition values listed for $file"))
          sorted.zipWithIndex.foreach { case (w, j) =>
            val row = new GenericInternalRow(source.length)
            var c = 0
            while (c < source.length) {
              val s = source(c)
              row.update(c,
                if (s == -1) winners(w).getArray(vecIdx)
                else if (s >= 0) values(s)(j)
                else part.get(-2 - s, partTypes(-2 - s)))
              c += 1
            }
            out(w) = proj(row).copy()
          }
      }
      out
    }
  }

  override protected def withNewChildInternal(c: SparkPlan): WinnerPayloadExec =
    copy(child = c)
}

/** The collected root of a SQL top-k whose leaf [[VectorTopKRule]] replaced
  * with a [[WinnerPayload]]: `LIMIT limit` of `child` ordered by
  * `sortOrder`, projected to `projectList` — Spark's
  * `TakeOrderedAndProjectExec`, except that a collect takes the child's
  * (at most `limit`) rows on the driver ([[TopKCollectExec.driverRows]]),
  * so the winners merge and their payload read run there, as the API's
  * `WinnerPayloadExec.executeCollect` does: the query is the one scoring
  * stage. Any other consumer runs the TakeOrdered.
  */
final case class TopKCollectExec(
    limit: Int,
    sortOrder: Seq[SortOrder],
    projectList: Seq[NamedExpression],
    child: SparkPlan) extends UnaryExecNode {
  override def output: Seq[Attribute] = projectList.map(_.toAttribute)
  override def outputPartitioning: Partitioning = SinglePartition

  protected override def doExecute(): RDD[InternalRow] =
    TakeOrderedAndProjectExec(limit, sortOrder, projectList, child).execute()

  override def executeCollect(): Array[InternalRow] = {
    val ordering = new LazilyGeneratedOrdering(sortOrder, child.output)
    val project = UnsafeProjection.create(projectList, child.output)
    project.initialize(0)
    TopKCollectExec.driverRows(child).sorted(ordering).take(limit).map(r => project(r).copy())
  }

  override protected def withNewChildInternal(c: SparkPlan): TopKCollectExec = copy(child = c)
}

object TopKCollectExec {
  /** `plan`'s rows collected on the driver: Projects (codegen wrappers
    * included) are evaluated there over their child's driver rows, and
    * every other node collects through its own `executeCollect` — for
    * [[WinnerPayloadExec]] and [[MeteredFetchExec]], the driver path.
    */
  private[plans] def driverRows(plan: SparkPlan): Array[InternalRow] = plan match {
    case w: WholeStageCodegenExec => driverRows(w.child)
    case i: InputAdapter => driverRows(i.child)
    case p: ProjectExec if !p.projectList.exists(_.exists(_.isInstanceOf[PlanExpression[_]])) =>
      val project = UnsafeProjection.create(p.projectList, p.child.output)
      project.initialize(0)
      driverRows(p.child).map(r => project(r).copy())
    case other => other.executeCollect()
  }
}

/** Plans [[IvfCandidateScan]] / [[MeteredFetch]] / [[WinnerPayload]], and the
  * collected root of a payload top-k as a [[TopKCollectExec]]; injected via
  * `Graft.install` / `GraftExtensions` (the reference registers its exec
  * through its session builder the same way, `src/df_vector/session.rs`).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[SparkPlan] =
    plan match {
      case ReturnAnswer(PayloadTopK(k, projectList, sort)) =>
        TopKCollectExec(k, sort.order, projectList, planLater(sort.child)) :: Nil
      case IvfCandidateScan(out, col, q, nprobe, maxCands, files, dir, _, cos) =>
        IvfCandidateScanExec(out, col, q, nprobe, maxCands, files, dir, cos) :: Nil
      case MeteredFetch(child) =>
        MeteredFetchExec(planLater(child)) :: Nil
      case WinnerPayload(child, out, spec) =>
        WinnerPayloadExec(planLater(child), out, spec) :: Nil
      case _ => Nil
    }

  /** `(limit, projectList, Sort)` of a collected top-k root whose Sort
    * [[VectorTopKRule]] gave the page-level payload: `Limit(Project?(Sort))`,
    * or `Project?(Sort)` alone — the optimizer drops the Limit when it runs
    * after the rewrite (an extensions session), the payload's maxRows
    * already bounding the Sort.
    */
  private object PayloadTopK {
    def unapply(root: LogicalPlan): Option[(Int, Seq[NamedExpression], Sort)] = {
      val (limit, top) = root match {
        case Limit(IntegerLiteral(k), t) => (Some(k), t)
        case t => (None, t)
      }
      val (projectList, sort) = top match {
        case Project(list, s: Sort) => (list, s)
        case s: Sort => (s.output, s)
        case _ => return None
      }
      if (!sort.global ||
          !sort.getTagValue(VectorTopKRule.PayloadTag).contains(VectorTopKRule.PagePayload))
        return None
      limit.orElse(sort.maxRows.filter(_ <= Int.MaxValue).map(_.toInt))
        .map(k => (k, projectList, sort))
    }
  }
}
