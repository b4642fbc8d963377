package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}
import org.apache.spark.sql.catalyst.plans.logical.LogicalPlan
import org.apache.spark.sql.types.{IntegerType, StringType}

/** Engine installation: SQL functions + (as they land) optimizer rules.
  *
  * Two entry points, mirroring the reference's session integration
  * (`/root/reference/src/df_vector/session.rs:11-35`):
  *  - `Graft.install(spark)` — imperative, for an existing session;
  *  - `spark.sql.extensions=graft.GraftExtensions` — declarative.
  */
object Graft {
  def install(spark: SparkSession): SparkSession = {
    functions.registerAll(spark)
    tableFunctions.foreach { case (ident, info, builder) =>
      spark.sessionState.tableFunctionRegistry.registerFunction(ident, info, builder)
    }
    plans.VectorTopKRule.install(spark)
    installStrategy(spark)
    spark
  }

  /** SQL TABLE functions — the lexical-retrieval surface (the vector side
    * is SQL-transparent through [[plans.VectorTopKRule]]; BM25 has no plan
    * shape to rewrite, so it gets a table-valued entry point instead):
    *
    * `SELECT * FROM bm25_topk('<table>', '<id_col>', '<text_col>',
    * '<query text>', k)` → the top-k `(id, score_e9)` rows of
    * [[ops.Lexical.bm25TopK]], query terms = the DISTINCT whitespace tokens
    * of the query string (the engine-wide [[ops.TextAnalysis.tokens]]
    * contract). All arguments must be literals: the builder runs at
    * ANALYSIS time and resolves the table by name from the active session's
    * catalog (temp views included).
    */
  private[graft] val tableFunctions: Seq[
      (FunctionIdentifier, ExpressionInfo, Seq[Expression] => LogicalPlan)] = {
    def strArg(fn: String, cs: Seq[Expression], i: Int): String = cs(i) match {
      case Literal(s, StringType) if s != null => s.toString
      case other => throw new IllegalArgumentException(
        s"$fn argument ${i + 1} must be a string literal, got $other")
    }
    def intArg(fn: String, cs: Seq[Expression], i: Int): Int = cs(i) match {
      case Literal(v: Int, IntegerType) => v
      case other => throw new IllegalArgumentException(
        s"$fn argument ${i + 1} must be an integer literal, got $other")
    }
    Seq((
      // `SELECT * FROM graft_index_info('<parquet path>', '<column>')` —
      // one row per (file, cell): posting size, radius bound, centroid
      // digest (IndexManager.describeIndex — the reference's CLI stats
      // surface, SQL-reachable). Path + column must be literals: the
      // builder resolves at analysis time.
      FunctionIdentifier("graft_index_info"),
      new ExpressionInfo("graft.ivf", "graft_index_info"),
      (cs: Seq[Expression]) => {
        require(
          cs.length == 2,
          s"graft_index_info expects (path, column), got ${cs.length} args")
        val spark = SparkSession.active
        // honor the rule's configured sidecar store (falls back to default)
        val store = new ivf.IndexStore(
          spark.conf.get(plans.VectorTopKRule.IndexDirKey, ivf.IndexStore.default.dir))
        ivf.IndexManager
          .describeIndex(
            spark, strArg("graft_index_info", cs, 0), strArg("graft_index_info", cs, 1),
            store)
          .queryExecution.analyzed
      }), (
      FunctionIdentifier("bm25_topk"),
      new ExpressionInfo("graft.ops", "bm25_topk"),
      (cs: Seq[Expression]) => {
        require(
          cs.length == 5,
          s"bm25_topk expects (table, id_col, text_col, query_text, k), got ${cs.length} args")
        val spark = SparkSession.active
        val terms = strArg("bm25_topk", cs, 3).trim
          .split("\\s+").toSeq.filter(_.nonEmpty).distinct
        ops.Lexical
          .bm25TopK(
            spark.table(strArg("bm25_topk", cs, 0)), strArg("bm25_topk", cs, 1),
            strArg("bm25_topk", cs, 2), terms, intArg("bm25_topk", cs, 4))
          .queryExecution.analyzed
      }))
  }

  /** Which quantization tier a planned vector top-k resolved to and WHY —
    * the user-facing read of [[plans.VectorTopKRule.TierReasonTag]]
    * (e.g. `requested=auto resolved=pqr`, or `requested=auto
    * resolved=float (profile=cold but no usable quantized sidecar covers
    * all 16 scan files …)`). None when the rule did not rewrite the query
    * (not a vector top-k shape, or acceleration declined). Forces
    * optimization of the plan (cheap, cached by Spark) but runs no jobs.
    */
  def tierResolution(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.optimizedPlan.collectFirst {
      case s: org.apache.spark.sql.catalyst.plans.logical.Sort
          if s.getTagValue(plans.VectorTopKRule.TierReasonTag).isDefined =>
        s.getTagValue(plans.VectorTopKRule.TierReasonTag).get
    }

  /** How a planned vector top-k (or range) query reads its rows — the
    * read of [[plans.VectorTopKRule.PayloadTag]]: `page` when the rewrite
    * reads the feed rows' pages directly (the plan `VectorTopK.indexed`
    * runs), or `declined: <reason>` when the table is one the page reader
    * refuses and Spark's own plan runs (e.g. `declined: the scan has 2
    * root paths`). None when the rule did not match the query. Like
    * [[tierResolution]], it forces optimization but runs no jobs.
    */
  def payloadResolution(df: org.apache.spark.sql.DataFrame): Option[String] =
    df.queryExecution.optimizedPlan.collectFirst {
      case p if p.getTagValue(plans.VectorTopKRule.PayloadTag).isDefined =>
        p.getTagValue(plans.VectorTopKRule.PayloadTag).get
    }

  /** Planner strategy for the payload and fetch-meter nodes (idempotent). */
  def installStrategy(spark: SparkSession): Unit = {
    val existing = spark.experimental.extraStrategies
    if (!existing.contains(plans.GraftStrategy)) {
      spark.experimental.extraStrategies = existing :+ plans.GraftStrategy
    }
  }
}

class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    functions.registry.foreach { case (ident, info, builder) =>
      ext.injectFunction((ident, info, builder))
    }
    Graft.tableFunctions.foreach(ext.injectTableFunction)
    ext.injectOptimizerRule(s => plans.VectorTopKRule(s))
    ext.injectPlannerStrategy(_ => plans.GraftStrategy)
  }
}
