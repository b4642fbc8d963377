package graft.ops

import org.apache.spark.sql.{DataFrame, Encoder}
import org.apache.spark.sql.catalyst.encoders.ExpressionEncoder
import org.apache.spark.sql.expressions.Aggregator
import org.apache.spark.sql.functions._

import graft.functions.{array_cosine_similarity, array_distance}

/** Similarity-search operators over embedding columns.
  *
  * Brute-force top-k is the correctness baseline; the scale paths bucket by
  * IVF cell (broadcast centroids, map-side assignment) so candidate
  * generation is a hash-join on cell id instead of an n² cross join.
  */
object Similarity {

  /** Brute-force cosine top-k: `orderBy(desc).limit(k)` →
    * TakeOrderedAndProject (per-partition bounded heap + driver merge).
    */
  def cosineTopK(df: DataFrame, vecCol: String, query: Seq[Float], k: Int): DataFrame = {
    val qlit = graft.functions.float_vector(query)
    df.orderBy(array_cosine_similarity(col(vecCol), qlit).desc_nulls_last).limit(k)
  }

  /** Late-interaction MaxSim top-k (the ColBERT retrieval primitive,
    * Khattab & Zaharia, SIGIR 2020): a GROUP of vectors (a multi-vector
    * document — token embeddings, image patches, chunked passages) scores
    * as the MAX cosine similarity between the query and any member vector;
    * the top-k groups by that score win. Input is the flat one-row-per-
    * vector layout (`groupCol` = document id), so the whole operator is a
    * map-side-partial `max` aggregation + bounded top-k — one shuffle of
    * |groups| rows, no explode, no cross join, unchanged at 100 TB.
    * Deterministic ordering: score descending, then group id ascending.
    */
  def maxSimTopK(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int): DataFrame =
    colbertTopK(df, groupCol, vecCol, Seq(query), k)

  /** Full ColBERT scoring — a MULTI-vector query (token embeddings):
    * `score(doc) = Σ over query tokens of max over doc vectors of cos` —
    * the late-interaction sum-of-max. Still one groupBy (one max-agg
    * column per query token, all map-side-partial) + bounded top-k: the
    * shuffle stays |groups| rows independent of query length. Null/
    * unscorable member similarities are ignored per token (max over the
    * scorable members); a group with no scorable member for some token
    * contributes null → ranked last.
    */
  def colbertTopK(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      queries: Seq[Seq[Float]],
      k: Int): DataFrame = {
    require(k > 0, "k must be > 0")
    require(queries.nonEmpty, "at least one query vector required")
    val maxCols = queries.zipWithIndex.map { case (q, i) =>
      max(array_cosine_similarity(col(vecCol), graft.functions.float_vector(q)))
        .as(s"_max_$i")
    }
    val score = queries.indices.map(i => col(s"_max_$i")).reduce(_ + _)
    df.groupBy(col(groupCol))
      .agg(maxCols.head, maxCols.tail: _*)
      .withColumn("max_sim", score)
      .orderBy(col("max_sim").desc_nulls_last, col(groupCol))
      .limit(k)
      .select(col(groupCol), col("max_sim"))
  }

  /** Matryoshka (MRL) prefix-dimension two-phase top-k (Kusupati et al.,
    * NeurIPS 2022): embeddings trained with matryoshka loss rank almost as
    * well on their first `prefixDim` coordinates, so phase 1 ranks the
    * corpus by L2 distance on `slice(vec, 1, prefixDim)` and keeps
    * `k·oversample` survivors (a `TakeOrderedAndProject` bounded heap —
    * reading `prefixDim/dim` of the float bytes when the prefix is stored
    * as its own column, the `prefixCol` fast path a 100 TB layout should
    * use), and phase 2 re-ranks ONLY the broadcast survivors with the
    * exact full-dimension distance. Same two-phase shape as
    * [[Quantize.sq8TopK]], but the coarse key is a dimension slice instead
    * of a code — no codebook to train, and the coarse phase is itself an
    * exact float ranking, so `oversample` covering the corpus makes the
    * whole pipeline exactly brute force (the hash-gate used by the oracle
    * query; so does `prefixDim = dim` at any oversample).
    * Deterministic: distance then id tie-break in both phases.
    */
  def mrlTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      prefixDim: Int,
      oversample: Int = 4,
      prefixCol: Option[String] = None): DataFrame = {
    require(k > 0, "k must be > 0")
    require(oversample >= 1, "oversample must be >= 1")
    require(prefixDim >= 1 && prefixDim <= query.length,
      s"prefixDim must be in [1, ${query.length}], got $prefixDim")
    // a stored prefix of the wrong width would make array_distance NULL on
    // every row, and asc_nulls_last would then silently "select" arbitrary
    // survivors — assert the width in-plan so a mismatch fails loudly at
    // the first row instead (round-10 advice item; no extra job). NULL
    // prefixes pass through untouched (size(NULL) is NULL, so they'd
    // otherwise fall into raise_error): a null vector is skipped by
    // asc_nulls_last here exactly as in every other top-k path
    val prefix: org.apache.spark.sql.Column =
      prefixCol.map { pc =>
        when(col(pc).isNull, col(pc))
          .when(size(col(pc)) === prefixDim, col(pc))
          .otherwise(raise_error(concat(
            lit(s"mrlTopK: prefix column '$pc' must have exactly $prefixDim elements, got "),
            size(col(pc)).cast("string"))))
      }.getOrElse(slice(col(vecCol), 1, prefixDim))
    val qPrefix = graft.functions.float_vector(query.take(prefixDim))
    val survivors = df
      .select(col(idCol), array_distance(prefix, qPrefix).as("_prefix_dist"))
      .orderBy(col("_prefix_dist").asc_nulls_last, col(idCol))
      .limit(k * oversample)
      .select(col(idCol))
    df.join(broadcast(survivors), idCol)
      .orderBy(
        array_distance(col(vecCol), graft.functions.float_vector(query)).asc_nulls_last,
        col(idCol))
      .limit(k)
  }

  /** Maximal-marginal-relevance diverse top-k (Carbonell & Goldstein,
    * SIGIR 1998): greedily select `k` results maximizing
    * `λ·cos(d, q) − (1−λ)·max_{s∈selected} cos(d, s)` — relevance traded
    * against redundancy, the standard de-duplicating reranker for
    * retrieval results and diverse exemplar selection. Two phases:
    * (1) DISTRIBUTED candidate pool — top `poolSize` by query cosine
    * (`TakeOrderedAndProject`, the vq5 shape; ties break on id);
    * (2) greedy MMR over the pool on the driver — a BOUNDED
    * O(k·poolSize·dim) loop over ≤ poolSize rows (the documented
    * bounded-collect pattern, same class as the k-means sample; MMR's
    * sequential argmax is inherently iterative, and poolSize is a
    * reranker knob — hundreds, not corpus-sized). Scores use
    * `array_cosine_similarity`'s own kernel
    * ([[graft.functions.VectorKernels.cosine]]), combined in f64, so the
    * selection is reproducible against a SQL re-derivation. Ties break on
    * smaller id. Returns (id, rank, score), rank 1-based in
    * selection order.
    */
  def mmrTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      lambda: Double = 0.7,
      poolSize: Int = 100): DataFrame = {
    require(k >= 1, "k must be >= 1")
    require(poolSize >= k, s"poolSize ($poolSize) must be >= k ($k)")
    require(lambda >= 0.0 && lambda <= 1.0, s"lambda must be in [0, 1], got $lambda")
    requireIntegral(df, idCol) // a silent long cast would null string ids (r11)
    val spark = df.sparkSession
    import spark.implicits._
    val qlit = graft.functions.float_vector(query)
    // unscorable rows never enter the pool: a null _simq (dim mismatch)
    // or NaN _simq (NaN elements — which Spark's Float ordering would
    // otherwise sort FIRST under desc, filling the pool with junk and
    // leaving the driver argmax with all-NaN scores) is skipped, the same
    // skip-unscorable semantics as every other top-k path (review r11)
    val poolRows = df
      .select(
        col(idCol).cast("long").as("_id"),
        col(vecCol).cast("array<float>").as("_v"),
        array_cosine_similarity(col(vecCol), qlit).as("_simq"))
      .where(col("_v").isNotNull && col("_simq").isNotNull && !isnan(col("_simq")))
      .orderBy(col("_simq").desc, col("_id"))
      .limit(poolSize)
      .collect()
    val pool: Array[(Long, Array[Float])] =
      poolRows.map(r => (r.getLong(0), r.getSeq[Float](1).toArray))
    val mu = 1.0 - lambda
    // relevance reuses the COLLECTED in-plan similarity; the pairwise
    // diversity term is driver-computed by array_cosine_similarity's own
    // kernel, so both are bit-identical to a SQL re-derivation
    val simq: Map[Long, Float] =
      poolRows.map(r => r.getLong(0) -> r.getFloat(2)).toMap
    val selected = scala.collection.mutable.ArrayBuffer.empty[(Long, Int, Double)]
    val selectedVecs = scala.collection.mutable.ArrayBuffer.empty[Array[Float]]
    val remaining = scala.collection.mutable.LinkedHashMap(pool.toSeq: _*)
    var rank = 1
    while (rank <= k && remaining.nonEmpty) {
      var bestId = 0L
      var bestScore = Double.NegativeInfinity
      var found = false // explicit, so negative ids never read as "unset" (r11)
      remaining.foreach { case (id, v) =>
        val maxSel =
          if (selectedVecs.isEmpty) 0.0f
          else selectedVecs.map(graft.functions.VectorKernels.cosine(v, _)).max
        val score = lambda * simq(id) - mu * maxSel
        if (!found || score > bestScore || (score == bestScore && id < bestId)) {
          bestScore = score; bestId = id; found = true
        }
      }
      selected += ((bestId, rank, bestScore))
      selectedVecs += remaining(bestId)
      remaining.remove(bestId): Unit
      rank += 1
    }
    selected.toSeq.toDF(idCol, "rank", "mmr_score")
  }

  /** Index-accelerated MaxSim — single-token form of [[colbertTopKIvf]]. */
  def maxSimTopKIvf(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      query: Seq[Float],
      k: Int,
      centroids: Array[Float],
      dim: Int,
      probes: Int): DataFrame =
    colbertTopKIvf(df, groupCol, vecCol, Seq(query), k, centroids, dim, probes)

  /** Index-accelerated late-interaction top-k — the PLAID candidate shape
    * (Santhanam et al., 2022) over the flat one-row-per-vector layout:
    *
    *  1. PROBE per query token, driver-side (queries are a handful of
    *     vectors; ranking ≤ a few thousand centroids is microseconds):
    *     each token takes its `probes` nearest cells BY COSINE (the
    *     scoring metric — an L2 probe would rank cells for the wrong
    *     geometry on non-unit-norm data); the union over tokens is the
    *     admitted cell set.
    *  2. CANDIDATES: member vectors falling in an admitted cell nominate
    *     their document — a codegen'd map-side `_cell IN (...)` filter
    *     over the corpus (NO join), then one |candidate docs| distinct.
    *  3. EXACT re-rank: survivors' member rows semi-join back and the
    *     full [[colbertTopK]] sum-of-max aggregation runs on them alone —
    *     scoring work ∝ candidate volume (≈ probes/nClusters of the
    *     corpus), never corpus size.
    *
    * `probes >= nClusters` admits every cell, so the result EQUALS
    * [[colbertTopK]] — the exhaustive-probe exactness gate (how vq18/vq19
    * are oracled); below that, recall follows the probe curve per token
    * (a doc is found if ANY of its member vectors lands in ANY token's
    * probed cells — the PLAID union). The semi-join build side is the
    * distinct candidate-doc id set; it is deliberately un-hinted (its size
    * is probe-dependent — Spark/AQE picks broadcast when it is small).
    */
  def colbertTopKIvf(
      df: DataFrame,
      groupCol: String,
      vecCol: String,
      queries: Seq[Seq[Float]],
      k: Int,
      centroids: Array[Float],
      dim: Int,
      probes: Int): DataFrame = {
    require(k > 0, "k must be > 0")
    require(queries.nonEmpty, "at least one query vector required")
    require(probes >= 1, s"probes must be >= 1, got $probes")
    require(
      centroids.nonEmpty && centroids.length % dim == 0,
      s"centroid matrix length ${centroids.length} is not a multiple of dim $dim")
    val nClusters = centroids.length / dim
    val admitted = queries
      .flatMap(q => probeCellsCosine(q.toArray, centroids, dim, math.min(probes, nClusters)))
      .distinct
    val candGroups = withCell(df, vecCol, centroids, dim)
      .where(col("_cell").isInCollection(admitted))
      .select(col(groupCol))
      .distinct()
    colbertTopK(
      df.join(candGroups, Seq(groupCol), "left_semi"),
      groupCol, vecCol, queries, k)
  }

  /** The `probes` cells nearest to `q` by centroid COSINE similarity,
    * descending (ties by cell id; zero-norm cells last): the IVF index's
    * own angular probe, [[graft.ivf.IvfIndex.cosineProbe]].
    */
  private[graft] def probeCellsCosine(
      q: Array[Float], centroids: Array[Float], dim: Int, probes: Int): Array[Int] =
    graft.ivf.IvfIndex.cosineProbe(q, centroids, dim, probes)

  /** One scored neighbor candidate; ranked by (dist, id) ascending. */
  final case class Neighbor(neighbor_id: Long, dist: Float)

  /** Bounded top-k-per-key heap as a typed Aggregator: partial aggregation
    * runs MAP-SIDE, so the per-query shuffle carries at most k neighbors
    * per partition instead of the whole expanded candidate set — the
    * per-query-heap shape `TakeOrderedAndProject` uses globally, applied
    * per key.
    */
  final class TopKNeighbors(k: Int)
      extends Aggregator[(Long, Neighbor), Seq[Neighbor], Seq[Neighbor]] {
    private def key(n: Neighbor): (Float, Long) = (n.dist, n.neighbor_id)
    override def zero: Seq[Neighbor] = Vector.empty
    override def reduce(buf: Seq[Neighbor], in: (Long, Neighbor)): Seq[Neighbor] = {
      val n = in._2
      if (buf.length < k) (buf :+ n).sortBy(key)
      else if (Ordering[(Float, Long)].lt(key(n), key(buf.last))) {
        (buf.init :+ n).sortBy(key)
      } else buf
    }
    override def merge(a: Seq[Neighbor], b: Seq[Neighbor]): Seq[Neighbor] =
      (a ++ b).sortBy(key).take(k)
    override def finish(r: Seq[Neighbor]): Seq[Neighbor] = r.sortBy(key)
    override def bufferEncoder: Encoder[Seq[Neighbor]] = ExpressionEncoder()
    override def outputEncoder: Encoder[Seq[Neighbor]] = ExpressionEncoder()
  }

  /** Brute-force k-NN join: every row of `queries` gets its k nearest
    * `corpus` rows by L2. The query side is broadcast (it is the small
    * side); the corpus streams, and each task heaps its own slice per query
    * ([[TopKNeighbors]]) so the shuffle is queries × k rows — NOT the
    * queries × corpus expansion a ranking window would shuffle. Unscorable
    * pairs (null/dim-mismatched vectors) are skipped. Output: query id,
    * neighbor id, rank.
    *
    * Ids must be integral (byte/short/int/long): the per-key heap is keyed
    * by long, and a silent cast would null out e.g. string doc ids — so
    * non-integral id columns are rejected up front.
    *
    * The broadcast assumes a SMALL query side; a large one would OOM every
    * executor, so the row count is checked up front (one cheap count job on
    * the small-by-contract side) and over-limit inputs fail fast with a
    * pointer to [[ivfKnnJoin]], whose cell equi-join broadcasts neither
    * side. Raise `maxQueries` only with executor memory to match
    * (~vectorBytes × maxQueries per executor).
    *
    * NOTE on id spaces: pairs with `corpusId == queryId` are EXCLUDED —
    * the self-match rule for the dedup/self-join use both knn joins serve
    * (a row must not be its own neighbor). When queries and corpus are
    * INDEPENDENT tables, ensure their id spaces are disjoint (offset one
    * side) or a coincidentally-equal id silently drops a true neighbor
    * (review r11 — was undocumented). [[ivfKnnJoin]] applies the same rule.
    */
  def knnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      vecCol: String,
      k: Int,
      maxQueries: Long = 100000L): DataFrame = {
    requireIntegral(queries, queryId)
    requireIntegral(corpus, corpusId)
    val nq = queries.count()
    require(
      nq <= maxQueries,
      s"knnJoin broadcasts the query side, but it has $nq rows (> maxQueries=" +
        s"$maxQueries) — use ivfKnnJoin for large query sets (no broadcast) " +
        "or raise maxQueries if executors have the memory")
    val q = queries.select(
      col(queryId).as("query_id"), col(vecCol).as("_qvec"))
    val scored = corpus
      .join(broadcast(q), col(corpusId) =!= col("query_id"))
      .select(
        col("query_id").cast("long"),
        col(corpusId).cast("long").as("neighbor_id"),
        array_distance(col(vecCol), col("_qvec")).as("dist"))
    topKRanked(scored, k)
  }

  /** IVF-accelerated k-NN join (batch ANN): each query row probes its
    * `probes` nearest cells and scores ONLY the corpus rows homed there —
    * per-query work scales with probed-cell volume (≈ probes/nClusters of
    * the corpus), never corpus size, and neither side is broadcast: the
    * candidate generation is an equi-join on cell id, so both sides
    * shuffle-partition by cell. With `probes >= nClusters` every cell is
    * probed and the result is EXACT (equals [[knnJoin]] — how va2 is
    * oracled); below that, recall follows the IVF probe curve. The
    * per-query heap keeps the post-join shuffle at queries × k rows.
    *
    * HOT-CELL GUARD: a degenerate cell (near-duplicate embedding mass)
    * would otherwise fan out |probing queries| × |cell| with no bound — the
    * same failure mode the simhash path caps with its two-path scheme
    * ([[Dedup.simhashNearDupPairs]]). Corpus cells larger than
    * `maxCellSize` are refined by a SECOND key, the member's second-nearest
    * centroid; a query reaching a hot cell supplies the second key from its
    * own probe set, so the hot join is an equi-join on (cell, cell2) and
    * the expected per-key fan-out drops k-fold. At `probes >= nClusters`
    * the query's probe set contains every cell, so the refinement loses
    * NOTHING — exhaustive-probe exactness survives the cap engaging.
    * Below exhaustive, a hot-cell member whose second cell the query did
    * not probe is missed — the usual IVF recall trade, now applied twice.
    * With a single centroid no second key exists; the guard disengages
    * (one cell = the whole corpus, nothing to refine by).
    */
  def ivfKnnJoin(
      queries: DataFrame,
      corpus: DataFrame,
      queryId: String,
      corpusId: String,
      vecCol: String,
      centroids: Array[Float],
      dim: Int,
      k: Int,
      probes: Int,
      maxCellSize: Long = 4096L): DataFrame = {
    require(probes >= 1, s"probes must be >= 1, got $probes")
    require(maxCellSize >= 2, s"maxCellSize must be >= 2, got $maxCellSize")
    requireIntegral(queries, queryId)
    requireIntegral(corpus, corpusId)
    val nClusters = centroids.length / dim
    // cell -1 (null/dim-mismatched vectors) can never be probed — drop it
    // before the shuffle instead of carrying unmatchable rows
    val corpusCells = withCell(corpus, vecCol, centroids, dim)
      .where(col("_cell") >= 0)
      .select(
        col(corpusId).cast("long").as("neighbor_id"),
        col(vecCol).as("_cvec"),
        col("_cell"))
    val probedAll = queries
      .select(
        col(queryId).cast("long").as("query_id"),
        col(vecCol).as("_qvec"),
        graft.functions.nearest_centroids(col(vecCol), centroids, dim, probes)
          .as("_pcells"))
      .where(col("_pcells").isNotNull)
    val probed = probedAll.select(
      col("query_id"), col("_qvec"), col("_pcells"),
      explode(col("_pcells")).as("_pcell"))

    def score(cands: DataFrame): DataFrame = cands.select(
      col("query_id"),
      col("neighbor_id"),
      array_distance(col("_cvec"), col("_qvec")).as("dist"))

    // a corpus row lives in exactly one cell and probe cells are distinct,
    // so a (query, corpus) pair is scored at most once — no dedup needed.
    // The hot-cell second-key refinement needs probes >= 2: the second key
    // comes from the query's OWN probe set, and a 1-element probe set has
    // no second element — engaging the cap there would silently score ZERO
    // candidates from exactly the cell a query's neighbors live in. At
    // probes = 1 the per-query fan-out is bounded by its single home cell
    // anyway (≤ corpus, linear in |queries| not quadratic), so the cap
    // disengages rather than cliffs.
    val scored =
      if (nClusters < 2 || probes < 2) {
        score(probed.join(
          corpusCells,
          col("_pcell") === col("_cell") && col("neighbor_id") =!= col("query_id")))
      } else {
        // cell sizes come to the DRIVER (≤ nClusters ≤ 65536 rows — the
        // bounded-collect class): the previous broadcast-join form
        // re-derived the O(n·k·dim) corpus cell assignment once for the
        // sizes agg, once per small/hot branch through the sized join,
        // and once more for the hot-cell id projection — four full
        // passes of the most expensive map-side step (review r11). With
        // the hot set known up front, the common no-hot-cell case is ONE
        // probe join over corpusCells, and the hot case two branch scans.
        val hotSet: Seq[Int] = corpusCells
          .groupBy(col("_cell")).agg(count(lit(1)).as("_n"))
          .where(col("_n") > maxCellSize)
          .select(col("_cell").cast("int"))
          .collect().map(_.getInt(0)).toSeq
        if (hotSet.isEmpty) {
          score(probed.join(
            corpusCells,
            col("_pcell") === col("_cell") && col("neighbor_id") =!= col("query_id")))
        } else {
        val small = corpusCells.where(!col("_cell").isInCollection(hotSet))
        val hot = corpusCells.where(col("_cell").isInCollection(hotSet))
        val smallScored = score(probed.join(
          small,
          col("_pcell") === col("_cell") && col("neighbor_id") =!= col("query_id")))
        // hot members carry their second-nearest cell; the probing query
        // re-explodes its OWN probe set as the second key. Each (query,
        // member) pair still matches at most once: _pcell2 values are
        // distinct and exactly one can equal the member's _cell2.
        val hot2 = hot.withColumn(
          "_cell2",
          get(graft.functions.nearest_centroids(col("_cvec"), centroids, dim, 2), lit(1)))
        val hotScored = score(
          probed
            .where(col("_pcell").isInCollection(hotSet))
            .select(
              col("query_id"), col("_qvec"), col("_pcell"),
              explode(col("_pcells")).as("_pcell2"))
            .where(col("_pcell2") =!= col("_pcell"))
            .join(
              hot2,
              col("_pcell") === col("_cell") && col("_pcell2") === col("_cell2") &&
                col("neighbor_id") =!= col("query_id")))
        smallScored.unionByName(hotScored)
        }
      }
    topKRanked(scored, k)
  }

  private def requireIntegral(df: DataFrame, c: String): Unit = {
    import org.apache.spark.sql.types.{ByteType, IntegerType, LongType, ShortType}
    val dt = df.schema(c).dataType
    require(
      Set[org.apache.spark.sql.types.DataType](
        ByteType, ShortType, IntegerType, LongType).contains(dt),
      s"knn join id column '$c' must be integral, got ${dt.simpleString}")
  }

  /** (query_id, neighbor_id, dist) → per-query top-k with dense ranks,
    * via the map-side-partial [[TopKNeighbors]] heap.
    */
  private def topKRanked(scored: DataFrame, k: Int): DataFrame = {
    val spark = scored.sparkSession
    import spark.implicits._
    val agg = new TopKNeighbors(k).toColumn
    scored
      .where(col("dist").isNotNull)
      .as[(Long, Long, Float)]
      .map { case (qid, nid, d) => (qid, Neighbor(nid, d)) }
      .groupByKey(_._1)
      .agg(agg)
      .flatMap { case (qid, neighbors) =>
        neighbors.iterator.zipWithIndex.map {
          case (n, i) => (qid, n.neighbor_id, i + 1)
        }
      }
      .toDF("query_id", "neighbor_id", "rank")
      .withColumn("rank", col("rank").cast("int"))
  }

  /** Map-side IVF cell assignment: adds a `_cell` column = nearest centroid
    * id via the codegen'd [[graft.functions.NearestCentroid]] expression
    * (the centroid matrix ships inside the broadcast task binary). The
    * building block for bucketed similarity joins and distributed ANN.
    * Null/mismatched vectors get cell -1.
    */
  def withCell(
      df: DataFrame,
      vecCol: String,
      centroids: Array[Float],
      dim: Int): DataFrame =
    df.withColumn(
      "_cell",
      coalesce(graft.functions.nearest_centroid(col(vecCol), centroids, dim), lit(-1)))

  /** Candidate pairs from shared IVF cells: both sides bucket by nearest
    * centroid (map-side), pairs come from an equi-join on cell id — the
    * 100 TB-safe alternative to a cross join. Precision is exact (every
    * emitted pair passes the cosine threshold); recall is bounded by cell
    * co-location. `probes > 1` assigns each probe-side vector to its p
    * nearest cells, so a pair is found whenever either vector's home cell is
    * among the other's p probes — the same recall/fan-out trade as `nprobe`
    * on the IVF search path. Callers needing exact results use
    * [[Dedup.embeddingNearDupPairs]].
    *
    * HOT-CELL GUARD (the [[Dedup.simhashNearDupPairs]] two-path scheme,
    * re-keyed for IVF cells): null-vector rows (cell -1) are excluded, and
    * cells over `maxCellSize` members never self-join directly —
    *
    *  - hot-cell members re-key on (home cell, SECOND-nearest cell); the
    *    resulting sub-buckets within the cap pair-join on both keys (a
    *    near-dup pair's second assignments agree with overwhelming
    *    probability — the vectors are nearly identical, so their centroid
    *    rankings are too);
    *  - sub-buckets STILL over the cap are a near-identical embedding mass
    *    no key can split (all second cells equal). These emit member ×
    *    pivot STAR pairs against a deterministic ~`starPivots`-member
    *    hash-selected pivot sample: O(m·pivots) pairs instead of O(m²),
    *    every emitted pair still threshold-verified (precision exact), and
    *    the downstream clustering consumer ([[Dedup.nearDupClusters]]) sees
    *    the mass as one component through the pivots. Direct
    *    non-pivot-to-non-pivot pairs inside such a mass are the one
    *    documented recall concession — the price of a pair count linear in
    *    the mass.
    *
    * The cap never engages on healthily-clustered data (cells sized around
    * corpus/k); it exists so one degenerate cell cannot quadratically
    * dominate the job at scale.
    */
  def ivfCellPairs(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Float],
      dim: Int,
      threshold: Double,
      probes: Int = 1,
      maxCellSize: Long = 4096L,
      starPivots: Int = 16): DataFrame = {
    require(maxCellSize >= 2, s"maxCellSize must be >= 2, got $maxCellSize")
    require(starPivots >= 1, s"starPivots must be >= 1, got $starPivots")
    val assigned = withCell(df, vecCol, centroids, dim)
      .where(col("_cell") >= 0)
      .select(col(idCol).as("id"), col(vecCol).as("v"), col("_cell"))
    // hot-cell ids come to the DRIVER (≤ nClusters rows — bounded-collect
    // class): the sized-join form re-derived the O(n·k·dim) cell
    // assignment once for the sizes agg and once per small/hot branch
    // (review r11, same fix as ivfKnnJoin); with the hot set known up
    // front the branches are plain filters over one assignment lineage
    val hotSet: Seq[Int] = assigned
      .groupBy(col("_cell")).agg(count(lit(1)).as("_n"))
      .where(col("_n") > maxCellSize)
      .select(col("_cell").cast("int"))
      .collect().map(_.getInt(0)).toSeq
    val small =
      if (hotSet.isEmpty) assigned
      else assigned.where(!col("_cell").isInCollection(hotSet))
    val hot =
      if (hotSet.isEmpty) assigned.where(lit(false))
      else assigned.where(col("_cell").isInCollection(hotSet))

    // verify (cosine is symmetric — no orientation swap needed), normalize
    // to (min id, max id); the final distinct dedups multi-route candidates
    def pairs(cands: DataFrame): DataFrame =
      cands
        .where(array_cosine_similarity(col("a.v"), col("b.v")) >= threshold)
        .select(
          least(col("a.id"), col("b.id")).as("id_a"),
          greatest(col("a.id"), col("b.id")).as("id_b"))

    val smallSelf = small.as("a").join(
      small.as("b"),
      col("a._cell") === col("b._cell") && col("a.id") < col("b.id"))

    // hot members re-keyed on (home cell, second-nearest cell); with a
    // single centroid there is no second key — the constant fallback routes
    // everything to the star path, which is the only bound available
    val hot2 = hot.withColumn(
      "_cell2",
      coalesce(
        get(graft.functions.nearest_centroids(col("v"), centroids, dim, 2), lit(1)),
        lit(0)))
    val sizes2 = hot2.groupBy(col("_cell"), col("_cell2")).agg(
      count(lit(1)).as("_n2"),
      min(xxhash64(col("id"))).as("_minh"))
    val sub = hot2.join(broadcast(sizes2), Seq("_cell", "_cell2"))
    val subSmall = sub.where(col("_n2") <= maxCellSize)
    val subHot = sub.where(col("_n2") > maxCellSize)
    val subSelf = subSmall.as("a").join(
      subSmall.as("b"),
      col("a._cell") === col("b._cell") && col("a._cell2") === col("b._cell2") &&
        col("a.id") < col("b.id"))
    // deterministic hash-selected pivot sample, expected ~starPivots members;
    // the min-hash member is always included so no bucket ends up pivot-less
    val pivots = subHot.where(
      pmod(
        xxhash64(col("id")),
        greatest(floor(col("_n2") / starPivots).cast("long"), lit(1L))) === 0 ||
        xxhash64(col("id")) === col("_minh"))
    val star = subHot.as("a").join(
      pivots.as("b"),
      col("a._cell") === col("b._cell") && col("a._cell2") === col("b._cell2") &&
        col("a.id") =!= col("b.id"))

    // dedup exactly where duplicates can arise: smallSelf/subSelf emit each
    // pair once by construction (a.id < b.id, disjoint cell strata), while
    // star can see a pivot-pivot pair from both orientations — so only the
    // star branch dedups, and the common small-cells-only path keeps its
    // shuffle-free union. The probes > 1 cross branches re-reach within
    // pairs (a probing row joins its own home cell), so THAT union dedups
    // as a whole.
    val within = pairs(smallSelf)
      .unionByName(pairs(subSelf))
      .unionByName(pairs(star).distinct())

    val all =
      if (probes <= 1) within
      else {
        val probedAll = df
          .select(
            col(idCol).as("id"),
            col(vecCol).as("v"),
            graft.functions.nearest_centroids(col(vecCol), centroids, dim, probes)
              .as("_pcells"))
          .where(col("_pcells").isNotNull)
        val probedExpl = probedAll.select(
          col("id"), col("v"), col("_pcells"), explode(col("_pcells")).as("_pcell"))
        val crossSmall = probedExpl.as("a").join(
          small.as("b"),
          col("a._pcell") === col("b._cell") && col("a.id") =!= col("b.id"))
        val probedHot =
          if (hotSet.isEmpty) probedExpl.where(lit(false))
          else probedExpl.where(col("_pcell").isInCollection(hotSet))
        // probes into hot cells must also supply the second key (from the
        // prober's own probe set) to reach capped sub-buckets…
        val crossSub = probedHot
          .select(col("id"), col("v"), col("_pcell"), explode(col("_pcells")).as("_pcell2"))
          .where(col("_pcell2") =!= col("_pcell"))
          .as("a")
          .join(
            subSmall.as("b"),
            col("a._pcell") === col("b._cell") && col("a._pcell2") === col("b._cell2") &&
              col("a.id") =!= col("b.id"))
        // …while degenerate masses are reachable only through their pivots
        // (bounded: |probers| × ~starPivots)
        val crossStar = probedHot.as("a").join(
          pivots.as("b"),
          col("a._pcell") === col("b._cell") && col("a.id") =!= col("b.id"))
        within
          .unionByName(pairs(crossSmall))
          .unionByName(pairs(crossSub))
          .unionByName(pairs(crossStar))
          .distinct()
      }
    all
  }

  /** Embedding-space outlier detection in EXACT integer arithmetic: rows
    * whose SQ8-code-space squared distance to EVERY profile centroid
    * exceeds `maxCodeDistSq` — the embedding sanity filter (corrupt
    * decodes, out-of-distribution junk, and zero/NaN-damaged vectors sit
    * far from every centroid of a corpus profile). Distances run on the
    * [[graft.functions.Sq8]] integer grid (the engine's money-column
    * idiom), so the flagged set is bit-reproducible in any engine — no
    * float-threshold boundary risk, ever.
    *
    * One codegen'd projection + filter: `k · dim` integer multiply-adds
    * per row against literal encoded centroids, no shuffle, no index —
    * composes with any scan at any scale. For data-driven centroids, pass
    * the trained k-means set from [[graft.ivf.IndexManager]]; the gate
    * stays exact because the arithmetic, not the centroid provenance, is
    * what is quantized.
    *
    * Output: `(idCol, min_code_dist)` for flagged rows only.
    */
  def quantizedOutliers(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      centroids: Array[Float],
      dim: Int,
      maxCodeDistSq: Long): DataFrame = {
    require(dim >= 1, s"quantizedOutliers: dim=$dim must be >= 1")
    require(
      centroids.nonEmpty && centroids.length % dim == 0,
      s"quantizedOutliers: centroids length ${centroids.length} not a multiple of dim=$dim")
    require(maxCodeDistSq >= 0, "quantizedOutliers: maxCodeDistSq must be >= 0")
    val k = centroids.length / dim
    val codes = graft.functions.sq8_encode(col(vecCol).cast("array<float>"))
    val dists = (0 until k).map { c =>
      graft.functions.sq8_distance_sq(
        codes,
        lit(graft.functions.Sq8.encode(centroids.slice(c * dim, (c + 1) * dim))))
    }
    val minDist = if (dists.length == 1) dists.head else least(dists: _*)
    // a row the codes CANNOT score (null vector element, length != dim —
    // i.e. exactly the corrupt decodes this filter exists to catch) has a
    // NULL min_code_dist; `null > threshold` used to filter it OUT,
    // reporting a corrupt column as clean (review r11) — flag it instead,
    // with the null distance as the corruption marker
    df.select(col(idCol), col(vecCol).isNotNull.as("_has"), minDist.as("min_code_dist"))
      .where(col("min_code_dist") > maxCodeDistSq ||
        (col("_has") && col("min_code_dist").isNull))
      .select(col(idCol), col("min_code_dist"))
  }
}
