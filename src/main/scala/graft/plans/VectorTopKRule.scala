package graft.plans

import scala.util.{Left, Right}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions._
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.catalyst.trees.TreeNodeTag
import org.apache.spark.sql.catalyst.util.{ArrayData, MetadataColumnHelper}
import org.apache.spark.sql.execution.datasources.{HadoopFsRelation, LogicalRelation}
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2ScanRelation
import org.apache.spark.sql.execution.datasources.v2.parquet.ParquetScan
import org.apache.spark.sql.types.{ArrayType, DoubleType, FloatType, StructType}

import graft.functions.{ArrayCosineSimilarity, ArrayDistance, ArraySquaredL2}
import graft.ivf.IndexStore
import graft.ivf.VectorTopK
import graft.ivf.VectorTopK.{Metric, Tier}

/** SQL-transparent IVF acceleration: rewrites
  * `ORDER BY array_distance(col, literal-vector) ASC LIMIT k` (or cosine
  * similarity DESC, or a select-list alias of either), and a range
  * predicate `WHERE array_distance(col, literal-vector) < radius`, over a
  * single indexed Parquet relation so the query only reads IVF candidate
  * rows.
  *
  * This is the Spark analog of the reference's
  * `VectorTopKPhysicalOptimizerRule` (`src/df_vector/physical.rs:20-196`),
  * re-expressed as a logical rewrite of the parquet leaf; the original
  * Filter/Project chain plus Sort+Limit stay untouched above it. Every
  * shape puts the same node in place of the leaf: a [[WinnerPayload]],
  * which reads the table's rows of a `(_file, _ri, _vec)` feed
  * page-selectively, with the leaf's own attributes — only those the plan
  * reads — as its output. No scan, no join, no alias, nothing
  * re-optimized or cached: the query vector lives only in the feed, which
  * runs when the plan runs. What differs per shape is the feed:
  *  - FILTER-FREE top-k: the plan `VectorTopK.indexed` runs. The winner
  *    feed ranks every probed candidate (its tier's coarse pass, then the
  *    exact refine) and `orderBy(_dist).limit(k)` keeps the k winners.
  *    Collected at the root, [[GraftStrategy]] plans a [[TopKCollectExec]],
  *    so the query runs as the one scoring stage and the driver merges the
  *    winners and reads their payload, as the API does;
  *  - FILTERED top-k: every probed candidate (the float feed without the
  *    limit, the round-robin-capped candidates under `maxCandidates`, or a
  *    quantized tier's `k·oversample` survivors under the
  *    [[FilteredTierKey]] opt-in). The untouched Filter sees every
  *    candidate row before the top-k — the reference's post-filter
  *    semantics (`src/df_vector/exec.rs`/`tests.rs:151-241`) — and Catalyst
  *    plans the Sort+Limit as `TakeOrderedAndProjectExec` (bounded heap,
  *    the reference's exact re-rank), so each task sends k rows;
  *  - RANGE predicate: every member of every cell the triangle-inequality
  *    bound admits; the untouched Filter applies the exact predicate.
  * A table [[WinnerPayload.refusal]] names makes the rule decline: Spark's
  * own plan runs, exactly. The Sort (or range Filter) carries
  * [[PayloadTag]] — `page`, or `declined: <reason>` — and a rewritten Sort
  * also [[TierTag]] and [[TierReasonTag]], which say which tier ran and
  * why.
  *
  * Guard matrix mirrors `physical.rs:134-177`: single sort expression,
  * ascending, `array_distance(col, literal)` in either argument order with
  * casts stripped, exactly one parquet relation beneath with only
  * Filter/Project in between, no OFFSET (a plan with offset has a different
  * shape and never matches), every scan file indexed for the sorted column.
  *
  * Results are ANN for `nprobe < nClusters` — identical to the reference's
  * contract; set `spark.graft.ivf.nprobe >= nClusters` for exact top-k.
  */
case class VectorTopKRule(spark: SparkSession) extends Rule[LogicalPlan] {

  import VectorTopKRule._

  private def conf(key: String, default: String): String =
    spark.conf.getOption(key).getOrElse(default)

  override def apply(plan: LogicalPlan): LogicalPlan = {
    if (conf(EnabledKey, "true") != "true") return plan
    plan.transformDown {
      case limit @ Limit(IntegerLiteral(k), lchild) =>
        // column pruning may leave Projects between the limit and the sort
        val (projects, sortCandidate) = peelProjects(lchild)
        sortCandidate match {
          case sort @ Sort(Seq(order), true, child, _) if !rewritten(sort) =>
            tryRewrite(k, order, child, used(limit)) match {
              case Some(Right(Rewrite(newChild, tier, tierReason))) =>
                val newSort = sort.copy(child = newChild)
                newSort.setTagValue(TierTag, tier)
                newSort.setTagValue(TierReasonTag, tierReason)
                newSort.setTagValue(PayloadTag, PagePayload)
                val rebuilt = projects.foldRight(newSort: LogicalPlan) {
                  (pr, acc) => pr.copy(child = acc)
                }
                limit match {
                  case gl @ GlobalLimit(_, ll @ LocalLimit(_, _)) =>
                    gl.copy(child = ll.copy(child = rebuilt))
                  case other => other
                }
              case Some(Left(reason)) => declined(sort, reason); limit
              case None => limit
            }
          case _ => limit
        }
      // RANGE shape: `WHERE array_distance(col, literal) < radius` (any
      // conjunct position, either comparison orientation, squared form
      // accepted). The ORIGINAL Filter stays — the feed only prunes cells
      // the triangle-inequality bound proves empty, the filter still
      // applies the exact predicate to every fetched row. Lossless, so the
      // rewrite needs no exactness knob at all.
      case f @ Filter(cond, fchild) if !rewritten(f) =>
        val res = for {
          (attr, query, radius) <- extractRangePredicate(cond)
          leaf <- findSingleParquetLeaf(fchild)
          column <- leaf.output.find(_.exprId == attr.exprId).map(_.name)
          outcome <- rangeLeaf(leaf, column, query, radius, used(f))
        } yield outcome match {
          case Right(payload) =>
            val nf = f.copy(child = fchild.transformUp { case l if l.eq(leaf.node) => payload })
            nf.setTagValue(PayloadTag, PagePayload)
            nf
          case Left(reason) => declined(f, reason); f
        }
        res.getOrElse(f)
    }
  }

  /** The leaf columns a payload in place of the leaf under `node` must
    * output: `node`'s own output (a parent such as a Union or a write takes
    * it by position, referencing none of it) and what `node` and every node
    * down to the leaf reference.
    */
  private def used(node: LogicalPlan): AttributeSet =
    node.outputSet ++ AttributeSet(node.flatMap(_.references))

  private def rewritten(node: LogicalPlan): Boolean =
    node.getTagValue(PayloadTag).contains(PagePayload)

  /** Records why the rule left `node` as it is. The tag goes on the node
    * itself (an unchanged subtree keeps its instances), and a later
    * optimization of a plan sharing it decides again.
    */
  private def declined(node: LogicalPlan, reason: String): Unit =
    node.setTagValue(PayloadTag, DeclinedPrefix + reason)

  private def peelProjects(p: LogicalPlan): (Seq[Project], LogicalPlan) = p match {
    case pr @ Project(_, c) =>
      val (ps, leaf) = peelProjects(c)
      (pr +: ps, leaf)
    case other => (Nil, other)
  }

  /** Strip Cast/TryCast wrappers (reference `strip_wrappers`,
    * physical.rs:216-229).
    */
  private def stripCast(e: Expression): Expression = e match {
    case Cast(c, _, _, _) => stripCast(c)
    case other => other
  }

  /** Extract (vector attribute, query literal, is-cosine) from a distance
    * or cosine-similarity sort key, accepting both argument orders
    * (physical.rs:198-243).
    */
  private def extractDistanceArgs(e: Expression): Option[(Attribute, Array[Float], Boolean)] = {
    def lit2vec(l: Expression): Option[Array[Float]] = stripCast(l) match {
      case Literal(data: ArrayData, ArrayType(FloatType, _)) =>
        Option(data).map(_.toFloatArray())
      case Literal(data: ArrayData, ArrayType(DoubleType, _)) =>
        Option(data).map(_.toDoubleArray().map(_.toFloat))
      case _ => None
    }
    def attr(a: Expression): Option[Attribute] = stripCast(a) match {
      case ar: Attribute => Some(ar)
      case _ => None
    }
    val args = stripCast(e) match {
      case ArrayDistance(l, r) => Some((l, r, false))
      case ArraySquaredL2(l, r) => Some((l, r, false))
      case ArrayCosineSimilarity(l, r) => Some((l, r, true))
      case _ => None
    }
    args.flatMap { case (l, r, cos) =>
      (attr(l), lit2vec(r)) match {
        case (Some(a), Some(v)) => Some((a, v, cos))
        case _ =>
          (attr(r), lit2vec(l)) match {
            case (Some(a), Some(v)) => Some((a, v, cos))
            case _ => None
          }
      }
    }
  }

  /** A matched parquet scan leaf, abstracted over Spark's two file-source
    * code paths (V1 `LogicalRelation(HadoopFsRelation)` — the default — and
    * DSv2 `DataSourceV2ScanRelation(ParquetScan)` when the session's V1
    * source list excludes parquet).
    */
  private case class ParquetLeaf(
      node: LogicalPlan,
      output: Seq[Attribute],
      dataSchema: StructType,
      partitionColumns: Seq[String],
      rootPaths: Seq[String],
      inputFiles: Seq[String])

  /** Only Filter/Project may sit between the sort input and the scan
    * (the reference additionally allows its repartition node, which has no
    * logical analog here). A DSv2 scan with CONSUMED partition filters is
    * not matched: the pruned file set would have to be reproduced, and
    * replacing the leaf with a fresh read would silently widen it.
    */
  private def findSingleParquetLeaf(plan: LogicalPlan): Option[ParquetLeaf] =
    plan match {
      case Filter(_, c) => findSingleParquetLeaf(c)
      case Project(_, c) => findSingleParquetLeaf(c)
      case lr: LogicalRelation =>
        lr.relation match {
          case fs: HadoopFsRelation
              if fs.fileFormat.getClass.getSimpleName.startsWith("Parquet") =>
            Some(ParquetLeaf(
              lr, lr.output, fs.dataSchema, fs.partitionSchema.fieldNames.toSeq,
              fs.location.rootPaths.map(_.toString), fs.location.inputFiles.toSeq))
          case _ => None
        }
      case sr: DataSourceV2ScanRelation =>
        sr.scan match {
          case ps: ParquetScan if ps.partitionFilters.isEmpty =>
            Some(ParquetLeaf(
              sr, sr.output, ps.dataSchema, ps.fileIndex.partitionSchema.fieldNames.toSeq,
              ps.fileIndex.rootPaths.map(_.toString), ps.fileIndex.inputFiles.toSeq))
          case _ => None
        }
      case _ => None
    }

  /** True when only row-preserving Projects sit between the sort input and
    * the scan — the precondition for the winner-first (two-phase) feed: a
    * Filter below the top-k must see full candidate rows, a Project never
    * drops rows. (A DSv2 ParquetScan keeps its data filters as a logical
    * Filter above the scan — parquet pushdown is best-effort — so a
    * filterless chain over either leaf really is row-complete.)
    */
  private def filterFree(plan: LogicalPlan): Boolean = plan match {
    case Project(_, c) => filterFree(c)
    case _: LogicalRelation => true
    // defense in depth: if a future Spark ever consumed data filters into
    // the scan (no Filter node left), treating the chain as row-complete
    // would drop them — require the scan itself to be filterless too
    case sr: DataSourceV2ScanRelation =>
      sr.scan match {
        case ps: ParquetScan => ps.dataFilters.isEmpty
        case _ => false
      }
    case _ => false
  }

  /** The top-k in place of `child`'s parquet leaf: None when the query
    * does not match (or some file lacks an index), Left(reason) when the
    * payload refuses the table.
    */
  private def tryRewrite(
      k: Int, order: SortOrder, child: LogicalPlan,
      used: AttributeSet): Option[Either[String, Rewrite]] = {
    // `ORDER BY <alias>`: the sort key is an attribute the Project right
    // below the Sort defines as the distance expression
    val key = (stripCast(order.child), child) match {
      case (a: Attribute, Project(list, _)) =>
        list.collectFirst { case al: Alias if al.exprId == a.exprId => al.child }
          .getOrElse(order.child)
      case _ => order.child
    }
    for {
      (attr, query, cosine) <- extractDistanceArgs(key)
      // L2 accelerates ASC (nearest first), cosine DESC (most similar
      // first) — the opposite direction has a different meaning (farthest
      // first) that an IVF probe cannot serve.
      // order.nullOrdering is deliberately NOT guarded: a plain ASC sort
      // defaults to NULLS FIRST, which would diverge from the null-skipping
      // candidate feed — except the rule only fires when EVERY scan file is
      // indexed, and IvfBuilder.validate refuses null vectors, null
      // elements, and mismatched dims at build time (the binding stamp
      // keeps that invariant against file swaps), so the sort key is never
      // null on any table this rule can touch
      _ <- if (order.direction == (if (cosine) Descending else Ascending)) Some(())
           else None
      leaf <- findSingleParquetLeaf(child)
      // the sorted attribute must be a physical column of the scan
      column <- leaf.output.find(_.exprId == attr.exprId).map(_.name)
      target <- payloadTarget(leaf, column, query.length, used)
    } yield target.map { p =>
      val rowComplete = filterFree(child)
      val maxCandidates = conf(MaxCandidatesKey, "").toIntOption
      val (tier, reason) = resolveTier(p.files, column, rowComplete, maxCandidates, p.store)
      val feed = VectorTopK.winnerFeed(spark, p.files, column, query.toIndexedSeq, k,
        feedOptions(tier, cosine, maxCandidates), p.store, withVec = true).queryExecution.analyzed
      // filter-free: `orderBy(_dist).limit(k)`, built as the plan it
      // analyzes to; under a filter, every candidate
      val rows =
        if (!rowComplete) feed
        else {
          val dist = feed.output.find(_.name == "_dist").get
          Limit(Literal(k), Sort(Seq(SortOrder(dist, Ascending, NullsLast, Nil)), true, feed))
        }
      Rewrite(MeteredFetch(child.transformUp { case l if l.eq(leaf.node) => p.over(rows) }),
        tier.name, reason)
    }
  }

  /** True when every file carries an index of `dim` on `column` — false on
    * an unindexed file, a dim mismatch or an unreadable header. A
    * table-level dir-identity memo over the per-file dim peeks: a repeat
    * plan against an unchanged table answers in O(1) stats (see
    * IndexStore.memoizedTableProbe); per-file peeks run on invalidation.
    */
  private def allIndexed(files: Seq[String], column: String, dim: Int, store: IndexStore) =
    files.nonEmpty && IndexStore.memoizedTableProbe(
      s"table-peek-dim-$dim", column, files, store.dir)(
      IndexStore.forallFiles(files)(file =>
        graft.ivf.IndexManager.cachedPeek(store, file, column).exists(_._1 == dim)))

  /** What a [[WinnerPayload]] in place of `leaf` reads from: None when some
    * file lacks an index of `dim` on `column` (the rule does not match),
    * Left(reason) when [[WinnerPayload.refusal]] names one.
    */
  private def payloadTarget(
      leaf: ParquetLeaf, column: String, dim: Int,
      used: AttributeSet): Option[Either[String, PayloadTarget]] = {
    val store = new IndexStore(conf(IndexDirKey, IndexStore.default.dir))
    val files = VectorTopKRule.internedFileList(leaf.rootPaths, leaf.inputFiles)
    if (!allIndexed(files, column, dim, store)) return None
    val output = leaf.output.filter(used.contains)
    val sqlConf = spark.sessionState.conf
    Some(WinnerPayload.refusal(
      StructType(leaf.dataSchema.filter(f => f.name == column || output.exists(_.name == f.name))),
      column, leaf.partitionColumns, sqlConf,
      leaf.rootPaths.size, leaf.output.exists(_.isMetadataCol)
    ).toLeft(PayloadTarget(files, store, output,
      WinnerPayload.spec(leaf.rootPaths.head, column, leaf.partitionColumns, sqlConf))))
  }

  /** The coarse tier to rank `files` with, and why: the requested one when
    * `tierOk`, else the exact float feed.
    */
  private def resolveTier(
      files: Seq[String], column: String, tierOk: Boolean, maxCandidates: Option[Int],
      store: IndexStore): (Tier, String) = {
    val requested = conf(TierKey, "float").trim.toLowerCase
    // under a FILTER a tier narrows the row set the residual Filter gets to
    // see (an approximation knob, not just a coarse-ranking speedup), hence
    // the explicit FilteredTierKey opt-in
    if (!tierOk && conf(FilteredTierKey, "false") != "true")
      (Tier.Float, s"requested=$requested resolved=float " +
        s"(filtered shape without the $FilteredTierKey opt-in runs the exact float feed)")
    else Tier.resolve(
      requested, conf(StorageProfileKey, "warm"), maxCandidates.nonEmpty, files, column, store)
  }

  private def feedOptions(
      tier: Tier, cosine: Boolean, maxCandidates: Option[Int]): VectorTopK.Options =
    VectorTopK.Options(
      conf(NprobeKey, "5").toInt, maxCandidates, if (cosine) Metric.Cosine else Metric.L2, tier,
      if (tier == Tier.Float) None else spark.conf.getOption(OversampleKey).map(_.toInt))

  /** Extract `(vector attribute, query literal, true-L2 radius)` from a
    * range predicate conjunct: `array_distance(col, lit) < r` (or `<=`, or
    * the flipped `r > dist` forms); the squared kernel bounds on `sqrt(r)`.
    * Only the FIRST matching conjunct is used — one feed prunes, the
    * untouched Filter applies everything (including that conjunct) exactly.
    */
  private def extractRangePredicate(
      cond: Expression): Option[(Attribute, Array[Float], Float)] = {
    def split(e: Expression): Seq[Expression] = e match {
      case And(l, r) => split(l) ++ split(r)
      case other => Seq(other)
    }
    def radiusOf(l: Literal): Option[Double] = l match {
      case Literal(v: Float, FloatType) => Some(v.toDouble)
      case Literal(v: Double, DoubleType) => Some(v)
      case Literal(v: org.apache.spark.sql.types.Decimal, _) => Some(v.toDouble)
      case Literal(v: Int, _) => Some(v.toDouble)
      case Literal(v: Long, _) => Some(v.toDouble)
      case _ => None
    }
    def distArgs(d: Expression): Option[(Attribute, Array[Float], Boolean)] =
      stripCast(d) match {
        case ArrayDistance(_, _) | ArraySquaredL2(_, _) =>
          extractDistanceArgs(d).map { case (a, v, _) =>
            (a, v, stripCast(d).isInstanceOf[ArraySquaredL2])
          }
        case _ => None
      }
    def combine(
        d: Expression, lit: Literal): Option[(Attribute, Array[Float], Float)] =
      for {
        (attr, query, squared) <- distArgs(d)
        r <- radiusOf(lit)
        if r >= 0 && !r.isNaN && !r.isInfinite
      } yield {
        val trueL2 = if (squared) math.sqrt(r) else r
        // round UP so the probe bound never undercuts the predicate
        (attr, query, Math.nextUp(trueL2.toFloat))
      }
    split(cond).view.flatMap {
      case LessThan(d, l: Literal) => combine(d, l)
      case LessThanOrEqual(d, l: Literal) => combine(d, l)
      case GreaterThan(l: Literal, d) => combine(d, l)
      case GreaterThanOrEqual(l: Literal, d) => combine(d, l)
      case _ => None
    }.headOption
  }

  /** The range predicate's payload in place of `leaf`: the in-range rows
    * of the cells the triangle-inequality bound admits
    * ([[graft.ivf.IvfIndex.rangeProbeCells]]), each vector read by
    * `SelectiveFetch.embeddings` and kept when its `array_distance` is
    * below the probe radius; the untouched Filter above recomputes the
    * exact predicate on those rows, with the same kernel. None when the
    * selectivity bailout keeps the scan: when the radius bound keeps most
    * cells, the vectorized full scan beats the point-read fetch
    * (index-vs-scan crossover; measured at sf0.1: a ~10%-selective radius
    * runs 0.2 s brute vs 0.3-0.4 s pruned when pruning keeps most cells,
    * BENCHNOTES round-5).
    */
  private def rangeLeaf(
      leaf: ParquetLeaf,
      column: String,
      query: Array[Float],
      radius: Float,
      used: AttributeSet): Option[Either[String, LogicalPlan]] =
    payloadTarget(leaf, column, query.length, used).flatMap {
      case Left(reason) => Some(Left(reason))
      case Right(p) =>
        if (VectorTopK.rangeBails(spark, p.files, column, query, radius, p.store)) None
        else Some(Right(p.over(VectorTopK.rangeFeed(spark, p.files, column, query.toIndexedSeq,
          radius, p.store).queryExecution.analyzed)))
    }
}

object VectorTopKRule {
  /** A rewritten Sort's new child, and its tier and why. */
  private final case class Rewrite(plan: LogicalPlan, tier: String, tierReason: String)

  /** The files, sidecar store, output and spec of a [[WinnerPayload]] in
    * place of a parquet leaf.
    */
  private final case class PayloadTarget(
      files: Seq[String], store: IndexStore, output: Seq[Attribute], spec: WinnerPayload.Spec) {
    def over(feed: LogicalPlan): WinnerPayload = WinnerPayload(feed, output, spec)
  }

  val EnabledKey = "spark.graft.ivf.enabled"
  val NprobeKey = "spark.graft.ivf.nprobe"
  val MaxCandidatesKey = "spark.graft.ivf.maxCandidates"
  val IndexDirKey = "spark.graft.ivf.indexDir"

  /** Coarse-ranking tier for the winner-first feed: `float` (default) ranks
    * candidates on selective float reads; `sq8` / `pq` / `pqr` rank on the
    * code sidecars (int8 scalar / product / residual-product quantization)
    * and exact-refine `k·oversample` survivors — same SQL, byte-
    * proportional coarse IO. `auto` resolves per query from the measured
    * envelope: float under the default warm [[StorageProfileKey]], the
    * best usable quantized tier (pqr > pq > sq8, by sidecar availability
    * across the scan's files) when the profile is `cold`. Falls back to
    * float per-query when a scan file lacks a usable sidecar; unknown
    * values are refused.
    */
  val TierKey = "spark.graft.ivf.tier"

  /** Storage-latency profile consulted by `tier=auto`: `warm` (default,
    * local NVMe / hot page cache — float selective measured fastest
    * everywhere in this regime) or `cold` (remote / bandwidth-capped
    * object storage — the quantized tiers' byte-proportional coarse reads
    * win; TierIoProbe r11: pq 44 MB, sq8 74 MB, float 115 MB per query on
    * the 1-row-page by-cell layout). A storage property the deployment
    * declares once — not sniffable per query.
    */
  val StorageProfileKey = "spark.graft.ivf.storageProfile"

  /** Refine width for the quantized tiers (`k·oversample` survivors get
    * exact float re-ranking); defaults: 4 for sq8, 8 for pq/pqr — the
    * programmatic APIs' defaults.
    */
  val OversampleKey = "spark.graft.ivf.oversample"

  /** Opt-in: let a non-`float` [[TierKey]] serve FILTERED top-k queries
    * too (`WHERE … ORDER BY dist LIMIT k`). The k·oversample coarse-ranked,
    * exact-refined survivors become the payload's feed; the untouched
    * Filter and Sort then apply exact semantics to those rows. Off by
    * default because under a filter the tier caps how many candidate rows
    * the predicate gets to see — k·oversample nearest instead of every
    * probed-cell member — so a selective predicate can return fewer than k
    * rows; raise [[OversampleKey]] for filter headroom. With exhaustive
    * nprobe and covering oversample the feed holds every candidate and the
    * result is exact (the vq24/vq25 gate).
    */
  val FilteredTierKey = "spark.graft.ivf.filteredTier"

  /** Bail out of the range rewrite when the estimated candidate fraction
    * exceeds this (estimated from up to 4 evenly spaced files, scaled to
    * the table): a barely-pruning radius makes the vectorized full scan
    * cheaper than point-read fetch — the classic index-vs-scan selectivity
    * crossover.
    */
  val RangeMaxSelectivityKey = "spark.graft.ivf.rangeMaxSelectivity"

  /** Default crossover, set from measurement, not theory: on the 5M × 256
    * scale probe a range whose RESULT was 1.6% of the corpus (candidate
    * fraction ~8%) ran 26× SLOWER pruned than scanned (32.7 s vs 1.2 s,
    * round-9 BENCHNOTES) — local-storage scan bandwidth beats scattered
    * page reads until the candidate set is genuinely tiny. Pruning must
    * clear that bar before it is allowed to fire; raise the conf on
    * high-latency remote storage where point reads regain ground.
    */
  val RangeMaxSelectivityDefault = "0.05"

  /** Which coarse tier the rewrite actually used for this Sort ("float",
    * "sq8", "pq", "pqr") — observable on the optimized plan, so specs and
    * users can confirm a requested tier really engaged (vs fell back).
    */
  val TierTag = TreeNodeTag[String]("graft.ivf.tierUsed")

  /** WHY the tier resolved as it did — requested tier, profile, and the
    * availability outcome (e.g. `requested=auto profile=cold resolved=float
    * (no usable quantized sidecar covers all 16 scan files …)`). Set on the
    * same rewritten Sort as [[TierTag]]; silent-float resolutions are also
    * logInfo'd, so a misconfigured cold profile is visible in the driver
    * log instead of only as float-feed timings (round-11 verdict item #6).
    */
  val TierReasonTag = TreeNodeTag[String]("graft.ivf.tierReason")

  /** How the rule handled a matched Sort (or range Filter): [[PagePayload]]
    * (`page`) when a [[WinnerPayload]] reads the rows in place of the
    * leaf, or `declined: <reason>` when [[WinnerPayload.refusal]] names a
    * reason and Spark's own plan runs. `page` also keeps the rule from
    * matching the node again. Read by `Graft.payloadResolution`.
    */
  val PayloadTag = TreeNodeTag[String]("graft.ivf.payload")
  val PagePayload = "page"
  private[plans] val DeclinedPrefix = "declined: "

  /** One canonical sorted file list per table content: every plan over
    * the same unchanged table shares ONE Seq instance instead of
    * re-canonicalizing, re-sorting, and capturing a private copy in its
    * feed closures. Keyed by root paths + count + an unordered content
    * mix; a changed file set changes the key.
    */
  private val fileListCache =
    new java.util.LinkedHashMap[String, Seq[String]](16, 0.75f, true) {
      override def removeEldestEntry(
          e: java.util.Map.Entry[String, Seq[String]]): Boolean = size() > 16
    }
  private[plans] def internedFileList(
      rootPaths: Seq[String], inputFiles: Seq[String]): Seq[String] = {
    val key = rootPaths.mkString(",") + "\u0000" + inputFiles.length + "\u0000" +
      unorderedMix(inputFiles)
    fileListCache.synchronized {
      Option(fileListCache.get(key)).getOrElse {
        val v = inputFiles.map(graft.ivf.IndexStore.canonicalPath).sorted
        fileListCache.put(key, v)
        v
      }
    }
  }

  /** Two independent single-pass unordered mixes over a path list — no
    * sort, no canonicalization: the file-list intern key.
    */
  private def unorderedMix(files: Seq[String]): String = {
    var hx = 0L; var hs = 0L
    files.foreach { f =>
      var m = f.hashCode.toLong * 0x9E3779B97F4A7C15L
      m ^= (m >>> 29)
      hx ^= m; hs += m
    }
    s"$hx:$hs"
  }
  /** (hits, misses) of the rewritten-plan cache, which no longer exists:
    * no plan is cached, so both read 0. Kept for the benchmark harness,
    * which reads it.
    */
  def planCacheStats: (Long, Long) = (0L, 0L)

  /** Runtime installation on an existing session (no extensions config
    * needed): appends to `spark.experimental.extraOptimizations`.
    */
  def install(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraOptimizations
    if (!existing.exists(_.isInstanceOf[VectorTopKRule])) {
      spark.experimental.extraOptimizations = existing :+ VectorTopKRule(spark)
    }
  }
}
