package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Quality-classifier TRAINING on Spark — closing the loop that
  * [[TextAnalysis.linearLogitFp]] scores: fit a ridge-regularized linear
  * model over hashed bag-of-words features from labeled documents. The
  * decomposition respects scale:
  *
  *  - [[bowMoments]] is the 100 TB part — the normal-equation sufficient
  *    statistics (Gram matrix Σx·xᵀ, moment vector Σx·y, feature sums,
  *    label sums) as ONE distributed job over integer token counts.
  *    BIGINT-exact, order-independent, and re-derivable in plain SQL,
  *    so the whole distributed computation hash-gates against the
  *    oracle (lr1). Features: token md5-bucket counts, the exact
  *    contract of the `linear_bow_score` kernel/oracle pair.
  *  - [[fitRidge]] solves the (dim+1)² system on the driver — O(dim³)
  *    on a ~17×17 matrix, trivially driver-side by design: sufficient
  *    statistics ARE the point of normal equations (the alternative,
  *    distributed gradient descent, ships the corpus through every
  *    iteration; this ships 153 numbers once).
  *  - [[logitFp]] scores with the trained weights through the SAME
  *    fixed-point codegen'd kernel the hand-weighted classifier uses
  *    (weights scaled to micro-units — the money-column idiom), so
  *    train→deploy is projection-only at any scale.
  */
object Linear {

  /** Normal-equation sufficient statistics: rows (kind, i, j, v) with
    * kind ∈ {"xx" (i ≤ j: Σ xᵢxⱼ), "xy" (Σ xᵢy), "x" (Σ xᵢ), "y" (Σ y),
    * "yy" (Σ y²), "n" (row count)}. `labelCol` must be integral (0/1
    * labels make every sum BIGINT-exact — the hash-gate precondition).
    *
    * Plan shape (r15, guide §1.2/§2.4): ONE corpus scan and ONE exchange.
    * Every per-document contribution — the upper-triangle products, the
    * label cross-moments, the feature sums and the scalar moments — is
    * generated map-side from a per-ROW run-length count over the sorted
    * bucket array (all codegen'd HOFs, no explode-then-regroup, no
    * self-join), then one partial-aggregated groupBy(kind, i, j) reduces
    * ≤ dim²/2 + 2·dim + 3 rows per task. The previous form (token explode
    * + per-doc groupBy + cnt⋈cnt self-join + four separate aggregates
    * unioned) scanned the corpus 4× and shuffled 5× for the same rows —
    * at 100 TB that is 4 extra corpus passes, and on a contended 32-way
    * host it was the single slowest bench entry (driver r14: 14.5 s vs
    * this shape's sub-second). Values are identical: run-length counts
    * over the sorted per-doc bucket list ARE the per-(doc, bucket) token
    * counts, and every sum is order-independent BIGINT arithmetic.
    *
    * One edge narrows: an EMPTY input frame now yields zero rows (no
    * groups) where the old union emitted y/yy/n scalar rows from the
    * global aggregate; no caller trains on an empty corpus.
    */
  def bowMoments(
      df: DataFrame,
      idCol: Column,
      textCol: Column,
      labelCol: Column,
      dim: Int): DataFrame = {
    require(dim >= 1 && dim <= 1024, s"dim must be in [1, 1024], got $dim")
    // entry struct: (kind, i, j, v), all sums BIGINT
    def e(kind: String, i: Column, j: Column, v: Column): Column = struct(
      lit(kind).as("kind"), i.cast("bigint").as("i"), j.cast("bigint").as("j"),
      v.cast("bigint").as("v"))
    val emptyEntries =
      array().cast("array<struct<kind:string,i:bigint,j:bigint,v:bigint>>")
    // staged columns (each level references the previous as a cheap
    // attribute — HOF lambda bodies re-evaluate outer NON-attribute
    // expressions per element, the engine's recurring blowup):
    //  _s  sorted bucket id per token (md5-prefix % dim, the
    //      `linear_bow_score` bucket contract), null for blank/null text
    //  _st run-start positions (0-based) in _s
    //  _p  run-length (i, x) pairs = the per-doc bucket counts, i ascending
    val sorted = when(
      trim(textCol) =!= "",
      array_sort(transform(
        split(trim(textCol), "\\s+"),
        t => conv(substring(md5(t), 1, 8), 16, 10).cast("bigint") % dim)))
    val runStarts = filter(
      sequence(lit(0), size(col("_s")) - 1),
      k => when(k === 0, lit(true))
        .otherwise(element_at(col("_s"), k + 1) =!= element_at(col("_s"), k)))
    val pairs = transform(
      col("_st"),
      (st, idx) => struct(
        element_at(col("_s"), st + 1).as("i"),
        (when(idx === size(col("_st")) - 1, size(col("_s")))
          .otherwise(element_at(col("_st"), idx + 2)) - st).cast("bigint").as("x")))
    // per-doc entries: upper-triangle products from the sorted suffix
    // (i ascending and distinct, so b at position ≥ a's ⇔ a.i ≤ b.i),
    // label cross-moments, feature sums, plus the scalar y/yy/n moments
    // (emitted for EVERY row, like the old global aggregate over all docs)
    val xx = flatten(transform(
      col("_p"),
      (a, ai) => transform(
        slice(col("_p"), ai + 1, size(col("_p")) - ai),
        b => e("xx", a.getField("i"), b.getField("i"),
          a.getField("x") * b.getField("x")))))
    val xy = transform(
      col("_p"), a => e("xy", a.getField("i"), lit(-1L), a.getField("x") * col("_y")))
    val xs = transform(col("_p"), a => e("x", a.getField("i"), lit(-1L), a.getField("x")))
    val scalars = array(
      e("y", lit(-1L), lit(-1L), col("_y")),
      e("yy", lit(-1L), lit(-1L), col("_y") * col("_y")),
      e("n", lit(-1L), lit(-1L), lit(1L)))
    df.select(labelCol.cast("bigint").as("_y"), sorted.as("_s"))
      .withColumn("_st", runStarts)
      .withColumn("_p", pairs)
      // blank/null text (`_s` null) has no feature entries, gated
      // explicitly: with ANSI off, size(null) is -1, and the staged
      // columns of a null `_s` are junk rather than null
      .select(explode(concat(
        when(col("_s").isNotNull, concat(xx, xy, xs)).otherwise(emptyEntries), scalars)).as("_e"))
      .groupBy(col("_e.kind").as("kind"), col("_e.i").as("i"), col("_e.j").as("j"))
      .agg(sum(col("_e.v")).as("v"))
  }

  /** Solve the ridge normal equations from [[bowMoments]] rows: weights
    * for the `dim` bucket features plus a trailing bias term. The
    * moments frame is ≤ dim²/2 + 2·dim + 3 rows — the only thing that
    * ever reaches the driver. Gaussian elimination with partial
    * pivoting; `ridge` (> 0) keeps rank-deficient Grams (unused buckets)
    * solvable.
    */
  def fitRidge(moments: DataFrame, dim: Int, ridge: Double = 1e-3): Array[Double] = {
    require(ridge > 0.0, s"ridge must be > 0, got $ridge")
    val rows = moments.select("kind", "i", "j", "v").collect()
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2), r.getLong(3)))
    val d = dim + 1 // + bias
    val a = Array.ofDim[Double](d, d)
    val b = new Array[Double](d)
    rows.foreach {
      case ("xx", i, j, v) =>
        a(i.toInt)(j.toInt) += v.toDouble
        if (i != j) a(j.toInt)(i.toInt) += v.toDouble
      case ("xy", i, _, v) => b(i.toInt) += v.toDouble
      case ("x", i, _, v) =>
        a(i.toInt)(dim) += v.toDouble
        a(dim)(i.toInt) += v.toDouble
      case ("y", _, _, v) => b(dim) += v.toDouble
      case ("n", _, _, v) => a(dim)(dim) += v.toDouble
      case _ => ()
    }
    var i = 0
    while (i < d) { a(i)(i) += ridge; i += 1 }
    // Gaussian elimination, partial pivoting
    val w = b.clone()
    var c = 0
    while (c < d) {
      var p = c
      var r = c + 1
      while (r < d) { if (math.abs(a(r)(c)) > math.abs(a(p)(c))) p = r; r += 1 }
      val tmp = a(c); a(c) = a(p); a(p) = tmp
      val tw = w(c); w(c) = w(p); w(p) = tw
      val piv = a(c)(c)
      require(math.abs(piv) > 1e-12, s"singular system at column $c despite ridge")
      r = c + 1
      while (r < d) {
        val f = a(r)(c) / piv
        if (f != 0.0) {
          var k = c
          while (k < d) { a(r)(k) -= f * a(c)(k); k += 1 }
          w(r) -= f * w(c)
        }
        r += 1
      }
      c += 1
    }
    c = d - 1
    while (c >= 0) {
      var k = c + 1
      var acc = w(c)
      while (k < d) { acc -= a(c)(k) * w(k); k += 1 }
      w(c) = acc / a(c)(c)
      c -= 1
    }
    w
  }

  /** Score texts with trained weights through the fixed-point
    * `linear_bow_score` kernel (micro-unit scaling): logit_fp ≥ `thrFp`
    * ⇔ predicted regression value ≥ thr. Projection-only.
    */
  def logitFp(text: Column, weights: Array[Double], dim: Int): Column = {
    require(weights.length == dim + 1, s"need $dim weights + bias, got ${weights.length}")
    val fp = weights.take(dim).map(w => math.round(w * 1e6))
    val biasFp = math.round(weights(dim) * 1e6)
    // constant (per-document) bias — the regression intercept; NOT the
    // per-token mean-pool bias of TextAnalysis.linearLogitFp
    TextAnalysis.linearScore(text, fp) + lit(biasFp)
  }
}
