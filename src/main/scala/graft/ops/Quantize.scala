package graft.ops

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.functions.{array_distance, bin1_encode, bin1_hamming, float_vector, sq8_distance_sq, sq8_encode, Bin1, Sq8}

/** Int8 scalar-quantized (SQ8) storage and search over embedding columns.
  *
  * The scale story: an embedding column dominates a training-data table's
  * bytes (64-dim f32 = 256 B/row; a text row is often smaller). Compressing
  * it 4× to per-element int8 codes cuts the scan IO of every
  * similarity-shaped query by the same factor, and coarse ranking runs
  * directly on the 64 B codes — exact 64-bit integer arithmetic, no decode.
  * Two-phase search then touches full-precision floats only for the
  * oversampled survivors (`k·oversample` rows, not the corpus).
  */
object Quantize {

  /** Add an SQ8 code column for `vecCol` (drop the float column at write
    * time for the 4× storage cut; codes are self-contained for search).
    */
  def compress(df: DataFrame, vecCol: String, codeCol: String = "sq8"): DataFrame =
    df.withColumn(codeCol, sq8_encode(col(vecCol)))

  /** Coarse top-k directly on a code column: integer code-space squared L2,
    * `TakeOrderedAndProject` (per-partition heaps, k rows to the driver).
    * Deterministic — ties break by `idCol`.
    */
  def coarseTopK(
      df: DataFrame,
      idCol: String,
      codeCol: String,
      query: Seq[Float],
      k: Int): DataFrame = {
    require(k > 0, "k must be > 0")
    val qCodes = Sq8.encode(query.toArray)
    df.select(
        col(idCol),
        guardedCoarse(col(codeCol),
          sq8_distance_sq(col(codeCol), lit(qCodes)), "coarseTopK").as("code_dist"))
      .orderBy(col("code_dist").asc_nulls_last, col(idCol))
      .limit(k)
  }

  /** The all-NULL-coarse-key guard every quantized tier needs (the
    * round-10 mrlTopK advice item, ported to the flat tiers — review
    * r11): a NULL code is skipped (asc_nulls_last, like every top-k
    * path), but a NON-NULL code whose coarse distance comes back NULL
    * means a code/query length mismatch (stale codes after a dim change,
    * or a wrong-dim query) — without the guard the coarse phase silently
    * "selects" the k·oversample lowest-id rows instead of failing.
    */
  private def guardedCoarse(codes: Column, dist: Column, what: String): Column =
    when(codes.isNull, lit(null))
      .when(dist.isNull, raise_error(lit(
        s"$what: coarse distance is NULL for a non-null code — " +
          "code/query length mismatch (stale codes or wrong query dim)")))
      .otherwise(dist)

  /** The shared two-phase skeleton of [[sq8TopK]]/[[binTopK]] (the third
    * variant, [[Similarity.mrlTopK]], keeps its own copy for the stored-
    * prefix fast path but follows the same guard discipline): guarded
    * coarse rank -> k·oversample survivors -> broadcast refine with exact
    * float distances, where a non-null vector with a NULL refine distance
    * (query dim mismatch the coarse phase could not see — e.g. binary
    * codes pad to whole bytes, hiding a within-byte dim skew) raises
    * instead of ranking arbitrarily.
    */
  private def twoPhaseTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      oversample: Int,
      coarse: Column,
      what: String): DataFrame = {
    require(k > 0, "k must be > 0")
    require(oversample >= 1, "oversample must be >= 1")
    require(k.toLong * oversample <= Int.MaxValue.toLong,
      s"$what: k * oversample = ${k.toLong * oversample} overflows the survivor limit")
    val survivors = df
      .select(col(idCol), coarse.as("_coarse"))
      .orderBy(col("_coarse").asc_nulls_last, col(idCol))
      .limit(k * oversample)
      .select(col(idCol))
    val refine = array_distance(col(vecCol), float_vector(query))
    df.join(broadcast(survivors), idCol)
      .orderBy(
        when(col(vecCol).isNotNull && refine.isNull, raise_error(lit(
          s"$what: refine distance is NULL for a non-null vector — query dim mismatch")))
          .otherwise(refine).asc_nulls_last,
        col(idCol))
      .limit(k)
  }

  /** Two-phase compressed top-k: coarse-rank the whole corpus in code space
    * (4× less IO when codes are the stored column), then exact float
    * re-rank of the `k·oversample` survivors. The survivor set is tiny, so
    * the refine join broadcasts it; at scale the full-precision column is
    * only materialized for those rows.
    */
  def sq8TopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      oversample: Int = 4,
      codeCol: Option[String] = None): DataFrame = {
    val codes: Column = codeCol.map(col).getOrElse(sq8_encode(col(vecCol)))
    val qCodes = Sq8.encode(query.toArray)
    twoPhaseTopK(df, idCol, vecCol, query, k, oversample,
      guardedCoarse(codes, sq8_distance_sq(codes, lit(qCodes)), "sq8TopK"),
      "sq8TopK")
  }

  /** Add a packed sign-bit (1-bit) code column for `vecCol` — the deepest
    * flat compression tier (32× under f32; 8 B for a 64-dim vector).
    */
  def binCompress(df: DataFrame, vecCol: String, codeCol: String = "bin1"): DataFrame =
    df.withColumn(codeCol, bin1_encode(col(vecCol)))

  /** Coarse top-k directly on packed sign codes: exact integer Hamming
    * ranking (xor + popcount — the cheapest coarse key the engine has),
    * `TakeOrderedAndProject`. Hamming over dim bits is massively tied, so
    * the `idCol` tie-break carries most of the determinism here — which is
    * also why this tier only ever feeds a refine phase in practice.
    */
  def binCoarseTopK(
      df: DataFrame,
      idCol: String,
      codeCol: String,
      query: Seq[Float],
      k: Int): DataFrame = {
    require(k > 0, "k must be > 0")
    val qCodes = Bin1.encode(query.toArray)
    df.select(
        col(idCol),
        guardedCoarse(col(codeCol),
          bin1_hamming(col(codeCol), lit(qCodes)), "binCoarseTopK").as("hamming"))
      .orderBy(col("hamming").asc_nulls_last, col(idCol))
      .limit(k)
  }

  /** Two-phase binary-quantized top-k: Hamming coarse rank over the packed
    * sign codes (IO per candidate = dim/8 BYTES — 32× under the float
    * column), exact float re-rank of the `k·oversample` survivors. The
    * sign sketch is a coarse angular surrogate, so binary needs a larger
    * oversample than SQ8/PQ for the same recall — it buys the steepest IO
    * cut in exchange (the classic recall/IO frontier point; at covering
    * oversample the result is exactly brute force, which is how the
    * correctness gate pins the machinery).
    */
  def binTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      oversample: Int = 16,
      codeCol: Option[String] = None): DataFrame = {
    val codes: Column = codeCol.map(col).getOrElse(bin1_encode(col(vecCol)))
    val qCodes = Bin1.encode(query.toArray)
    twoPhaseTopK(df, idCol, vecCol, query, k, oversample,
      guardedCoarse(codes, bin1_hamming(codes, lit(qCodes)), "binTopK"),
      "binTopK")
  }

  /** Mean-pool member vectors into one quantized embedding per group IN
    * CODE SPACE — the multi-vector → single-vector reduction (token
    * embeddings → document embedding, patch embeddings → image
    * embedding) done on the 4×-smaller SQ8 codes with EXACT integer
    * arithmetic: per (group, dim), `floor(Σ code / n)` — floor, not
    * truncate, so negative sums round identically everywhere (the
    * hash-gate detail; code sums stay far under 2⁵³ so the double
    * division is exact). One map-side-combined groupBy of |groups|·dim
    * rows. OUTPUT SHAPE: long-format `(group_id, dim, code)` rows — the
    * shape the zq9 gate consumes directly; the BinaryType consumers
    * ([[coarseTopK]], [[graft.functions.sq8_decode]]) need the codes
    * REPACKED into a per-group byte array first (collect in dim order),
    * which this operator deliberately does not do (a corpus-wide
    * collect_list is the caller's layout decision, not a pooling detail).
    */
  def sq8MeanPool(df: DataFrame, groupCol: Column, vecCol: String): DataFrame =
    df.select(
        groupCol.as("group_id"),
        posexplode(graft.functions.sq8_codes(sq8_encode(col(vecCol))))
          .as(Seq("dim", "c")))
      .groupBy(col("group_id"), col("dim"))
      .agg(
        floor(sum(col("c")).cast("double") / count(lit(1))).cast("bigint").as("code"))
}
