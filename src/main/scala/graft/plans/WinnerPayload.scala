package graft.plans

import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Attribute, AttributeReference, AttributeSet,
  GenericInternalRow, IntegerLiteral, NamedExpression, PlanExpression, SortOrder,
  UnsafeProjection}
import org.apache.spark.sql.catalyst.expressions.codegen.LazilyGeneratedOrdering
import org.apache.spark.sql.catalyst.plans.logical.{Limit, LogicalPlan, Project, ReturnAnswer,
  Sort, UnaryNode}
import org.apache.spark.sql.catalyst.plans.physical.{Partitioning, SinglePartition,
  UnknownPartitioning}
import org.apache.spark.sql.execution.{InputAdapter, ProjectExec, SparkPlan, SparkStrategy,
  SQLExecution, TakeOrderedAndProjectExec, UnaryExecNode, WholeStageCodegenExec}
import org.apache.spark.sql.execution.metric.{SQLMetric, SQLMetrics}
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types._

import graft.ivf.{IndexManager, SelectiveFetch}

/** Pass-through meter over the candidate FETCH side: counts the rows (and
  * per-task streams) that actually reach the top-k re-rank after candidate
  * pruning and residual filtering — the reference's `embeddings_fetched` /
  * `batches_fetched` counters (`/root/reference/src/df_vector/exec.rs:
  * 405-427`; post-filter semantics per the committed snapshot counters,
  * `src/df_vector/snapshots/...filter_plan_tree.snap`). A "batch" here is
  * one task's row stream — Spark's unit of fetch parallelism — since the
  * columnar batches of the fetch are not observable above it.
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

/** The one page-level reader of every vector shape: the table's rows of
  * the feed rows in `child` (a `_file, _ri, _vec` feed), read
  * page-selectively — the reference TopkBuilder's RowSelection fetch
  * (`src/ivf/search.rs:155-244`) and its access plan's candidate row
  * selection (`src/df_vector/access.rs:65-105`). The feed is either the k
  * winners of a filter-free top-k, or every candidate of a filtered top-k
  * or a range predicate, whose Filter/Sort/Limit stay above this node.
  * `output` is the table's schema as Spark infers it (the API), or the
  * replaced leaf's attributes that the plan reads (SQL); the vector column
  * comes from each feed row's `_vec`, which the scoring pass already
  * decoded, partition columns from the file index, and every other column
  * from [[graft.ivf.SelectiveFetch.payload]].
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

  /** Why the page-level payload cannot serve a query over a table of
    * `schema`, or None when it can — the one decision `VectorTopK.indexed`,
    * `VectorTopK.rangeRows` and [[VectorTopKRule]] share (the rule then
    * declines, and `indexed` semi-joins the scan to its feed). Besides
    * [[unsupported]]: INT96 conversion
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

  /** The payload rows of `feed` over a table of `schema` (requires
    * [[GraftStrategy]] installed).
    */
  def df(spark: SparkSession, feed: DataFrame, schema: StructType, spec: Spec): DataFrame =
    Bridge.ofRows(spark, WinnerPayload(
      feed.queryExecution.analyzed,
      schema.map(f => AttributeReference(f.name, f.dataType, f.nullable, f.metadata)()),
      spec))
}

/** Plans [[WinnerPayload]]. Executed, each task reads the payload of its
  * feed partition: every candidate file's rows in the task that scored
  * them, or the k winners in the task that holds them. Collected directly
  * (`df.collect()`, the API's usual consumer), a feed of k winners merges
  * on the driver — a TakeOrdered collect, one stage
  * — and the driver reads their payload: no second stage waits for a free
  * core. Rows keep the feed's order. `filesScanned` and `candidateRows`
  * count the files opened and the feed rows read (the reference's
  * `files_scanned` / `candidate_rows`, `src/df_vector/index_exec.rs:
  * 197-220`); `payloadPages` the pages decoded. `bounded`: the feed has
  * a row bound (k winners).
  */
final case class WinnerPayloadExec(
    child: SparkPlan,
    output: Seq[Attribute],
    spec: WinnerPayload.Spec,
    bounded: Boolean) extends UnaryExecNode {

  override lazy val metrics: Map[String, SQLMetric] = Map(
    "filesScanned" -> SQLMetrics.createMetric(sparkContext, "files scanned"),
    "candidateRows" -> SQLMetrics.createMetric(sparkContext, "candidate rows"),
    "payloadPages" -> SQLMetrics.createMetric(sparkContext, "payload pages"))

  override def simpleString(maxFields: Int): String =
    s"WinnerPayloadExec [table=${spec.table}, column=${spec.column}, columns=${output.size}]"

  // each partition's rows leave in the partition they arrived in
  override def outputPartitioning: Partitioning = child.outputPartitioning match {
    case SinglePartition => SinglePartition
    case other => UnknownPartitioning(other.numPartitions)
  }

  /** A bounded feed (k winners) is read a partition at a time, each file
    * opened once. An unbounded one (every candidate) arrives grouped by
    * file in the task that scored it and is read one run of same-file rows
    * at a time, so a task holds one file's candidates, not its partition's.
    */
  protected override def doExecute(): RDD[InternalRow] = {
    val newReader = reader()
    val bounded = this.bounded
    val fileIdx = child.output.indexWhere(_.name == "_file")
    child.execute().mapPartitions { it =>
      val read = newReader()
      if (bounded) read(it.map(_.copy()).toArray).iterator
      else WinnerPayloadExec.fileRuns(it, fileIdx).flatMap(read(_))
    }
  }

  /** A bounded feed's rows merge on the driver, which reads their payload;
    * an unbounded feed is read by the tasks.
    */
  override def executeCollect(): Array[InternalRow] = {
    if (!bounded) return super.executeCollect()
    val rows = reader()()(child.executeCollect())
    SQLMetrics.postDriverMetricUpdates(
      sparkContext, sparkContext.getLocalProperty(SQLExecution.EXECUTION_ID_KEY),
      metrics.values.toSeq)
    rows
  }

  /** The payload rows of a set of feed rows, in their order: each feed
    * file is opened once ([[SelectiveFetch.payload]]), the vector comes
    * from the feed's `_vec`, partition values from a listing taken now —
    * the feed's files are listed when it runs, so an appended partition
    * has no values at construction. Each call of the returned factory
    * makes one reader (one task's, or the driver's).
    */
  private def reader(): () => Array[InternalRow] => Array[InternalRow] = {
    val files = longMetric("filesScanned")
    val pages = longMetric("payloadPages")
    val rowsOut = longMetric("candidateRows")
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
    () => {
      val proj = UnsafeProjection.create(types)
      winners => {
        val out = new Array[InternalRow](winners.length)
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
  }

  override protected def withNewChildInternal(c: SparkPlan): WinnerPayloadExec =
    copy(child = c)
}

object WinnerPayloadExec {
  /** `rows` as runs of consecutive rows of one file (column `fileIdx`),
    * each row copied.
    */
  private def fileRuns(rows: Iterator[InternalRow], fileIdx: Int): Iterator[Array[InternalRow]] = {
    val it = rows.buffered
    new Iterator[Array[InternalRow]] {
      override def hasNext: Boolean = it.hasNext
      override def next(): Array[InternalRow] = {
        val file = it.head.getUTF8String(fileIdx).clone()
        val run = Array.newBuilder[InternalRow]
        while (it.hasNext && it.head.getUTF8String(fileIdx) == file) run += it.next().copy()
        run.result()
      }
    }
  }
}

/** The collected root of a SQL top-k whose leaf [[VectorTopKRule]] replaced
  * with a [[WinnerPayload]] of the k winners: `LIMIT limit` of `child` ordered by
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

/** Plans [[MeteredFetch]] / [[WinnerPayload]], and the collected root of a
  * k-winner payload top-k as a [[TopKCollectExec]]; injected via
  * `Graft.install` / `GraftExtensions` (the reference registers its exec
  * through its session builder the same way, `src/df_vector/session.rs`).
  */
object GraftStrategy extends SparkStrategy {
  override def apply(
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): Seq[SparkPlan] =
    plan match {
      case ReturnAnswer(PayloadTopK(k, projectList, sort)) =>
        TopKCollectExec(k, sort.order, projectList, planLater(sort.child)) :: Nil
      case MeteredFetch(child) =>
        MeteredFetchExec(planLater(child)) :: Nil
      case WinnerPayload(child, out, spec) =>
        WinnerPayloadExec(planLater(child), out, spec, child.maxRows.nonEmpty) :: Nil
      case _ => Nil
    }

  /** `(limit, projectList, Sort)` of a collected top-k root whose Sort
    * [[VectorTopKRule]] gave the page-level payload of the k winners:
    * `Limit(Project?(Sort))`, or `Project?(Sort)` alone — the optimizer
    * drops the Limit when it runs after the rewrite (an extensions
    * session), the payload's maxRows already bounding the Sort. A payload
    * of every candidate is unbounded, and is left to Spark's
    * `TakeOrderedAndProjectExec`, whose tasks each send k rows.
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
      if (!sort.global || sort.maxRows.isEmpty ||
          !sort.getTagValue(VectorTopKRule.PayloadTag).contains(VectorTopKRule.PagePayload))
        return None
      limit.orElse(sort.maxRows.filter(_ <= Int.MaxValue).map(_.toInt))
        .map(k => (k, projectList, sort))
    }
  }
}
