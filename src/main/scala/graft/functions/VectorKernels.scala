package graft.functions

/** The one definition of graft's vector metrics: the SQL expressions
  * (`array_distance`, `array_squared_l2`, `array_dot`,
  * `array_cosine_similarity`), the index build's radius bound, the probes,
  * the top-k and range feeds and MMR all call these methods, so a distance
  * has the same bits whichever path computes it.
  *
  * Arithmetic: f32 sums, element by element (the reference's squared L2,
  * its `src/ivf/index.rs:459-480`); cosine divides the f32 dot
  * by the unrounded double product of the two norms' `sqrt`s. `l2Distance`
  * (= sqrt of squared L2, rounded once to float) is `array_distance`.
  */
object VectorKernels {

  /** Squared L2 distance (reference: index.rs:461-480). */
  def squaredL2(a: Array[Float], b: Array[Float]): Float = squaredL2Offset(a, b, 0)

  /** Euclidean (L2) distance — `array_distance`. */
  def l2Distance(a: Array[Float], b: Array[Float]): Float =
    math.sqrt(squaredL2(a, b).toDouble).toFloat

  /** [[squaredL2]] of `a` against `b(bOff ... bOff + a.length)`, without
    * copying the slice: a row of a flat centroid matrix.
    */
  def squaredL2Offset(a: Array[Float], b: Array[Float], bOff: Int): Float = {
    val len = a.length
    var sum = 0.0f
    var i = 0
    while (i < len) {
      val d = a(i) - b(bOff + i)
      sum += d * d
      i += 1
    }
    sum
  }

  def dot(a: Array[Float], b: Array[Float]): Float = {
    val len = a.length
    var sum = 0.0f
    var i = 0
    while (i < len) { sum += a(i) * b(i); i += 1 }
    sum
  }

  /** Cosine similarity in [-1, 1]; 0 when either vector has zero norm. */
  def cosine(a: Array[Float], b: Array[Float]): Float = {
    val len = a.length
    var ab = 0.0f
    var aa = 0.0f
    var bb = 0.0f
    var i = 0
    while (i < len) {
      ab += a(i) * b(i); aa += a(i) * a(i); bb += b(i) * b(i)
      i += 1
    }
    if (aa == 0.0f || bb == 0.0f) 0.0f
    else (ab / (math.sqrt(aa.toDouble) * math.sqrt(bb.toDouble))).toFloat
  }

  /** Indices of the `p` nearest centroids in a flat row-major matrix,
    * ascending by (squared L2, index) — the multi-probe generalization of
    * [[nearestCentroid]].
    *
    * Early-abandon pruning against the current p-th best (same monotone
    * partial-sum argument as [[nearestCentroid]]): a centroid whose prefix
    * sum strictly exceeds the incumbent worst kept distance has a final
    * distance strictly above it too, so it can neither enter the top-p nor
    * tie into it — for finite inputs the selected indices and their order
    * are exactly the lexicographic (dist, index) top-p the full scan
    * produces. Survivors keep the element-by-element accumulation order,
    * so kept distances are bit-identical. This is the per-row multi-probe
    * kernel on the `ivfCellPairs`/`ivfKnnJoin` corpus paths — O(n·k·dim)
    * at build/join scale, where the prune cuts the same several-fold as
    * the singular kernel. NaN distances (NaN inputs — rejected upstream by
    * index validation) sort in unspecified positions, as garbage did
    * before.
    */
  def nearestCentroids(
      vec: Array[Float], centroids: Array[Float], dim: Int, p: Int): Array[Int] = {
    val k = centroids.length / dim
    val take = math.min(p, k)
    if (take <= 0) return Array.empty
    // best-so-far kept sorted ascending by (dist, index); insertion keeps
    // the selection-sort tie-break (processing order is ascending c, so an
    // equal-distance newcomer always lands AFTER stored equal entries)
    val bd = new Array[Float](take)
    val bi = new Array[Int](take)
    var filled = 0
    var c = 0
    while (c < k) {
      val off = c * dim
      val bound = if (filled < take) Float.PositiveInfinity else bd(take - 1)
      var sum = 0.0f
      var i = 0
      var pruned = false
      while (i < dim && !pruned) {
        val lim = math.min(i + 32, dim)
        while (i < lim) {
          val d = vec(i) - centroids(off + i)
          sum += d * d
          i += 1
        }
        if (sum > bound) pruned = true
      }
      if (!pruned &&
        (filled < take || sum < bd(take - 1) ||
          (sum == bd(take - 1) && c < bi(take - 1)))) {
        var pos = if (filled < take) filled else take - 1
        while (pos > 0 && (sum < bd(pos - 1) ||
          (sum == bd(pos - 1) && c < bi(pos - 1)))) {
          bd(pos) = bd(pos - 1); bi(pos) = bi(pos - 1)
          pos -= 1
        }
        bd(pos) = sum
        bi(pos) = c
        if (filled < take) filled += 1
      }
      c += 1
    }
    java.util.Arrays.copyOfRange(bi, 0, filled)
  }

  /** Squared L2 against a flat row-major centroid matrix; returns the index
    * of the nearest centroid (reference: index.rs:244-257).
    *
    * Early-abandon pruning: the partial squared-L2 sum is monotone
    * nondecreasing in f32 (each step adds d·d ≥ 0, and IEEE round-to-nearest
    * of `a + b` with `b ≥ 0` is never below `a`), so once a prefix exceeds
    * the incumbent best the centroid's FINAL distance must too, and only a
    * strict `<` replaces the incumbent — abandoning there can change neither
    * the winner nor its tie-break (first index wins an exact tie, and an
    * exact tie is never abandoned because pruning needs strict `>`). For
    * survivors the element-by-element accumulation order is unchanged, so
    * the selected index is bit-identical to the unpruned scan; on clustered
    * data most centroids abandon within a few blocks, cutting the O(n·k·dim)
    * build-assignment passes (the dominant cost of large index builds)
    * several-fold.
    */
  def nearestCentroid(vec: Array[Float], centroids: Array[Float], dim: Int): Int = {
    val k = centroids.length / dim
    var best = 0
    var bestDist = Float.PositiveInfinity
    var c = 0
    while (c < k) {
      val off = c * dim
      var sum = 0.0f
      var i = 0
      var pruned = false
      while (i < dim && !pruned) {
        val lim = math.min(i + 32, dim)
        while (i < lim) {
          val d = vec(i) - centroids(off + i)
          sum += d * d
          i += 1
        }
        if (sum > bestDist) pruned = true
      }
      if (!pruned && sum < bestDist) { bestDist = sum; best = c }
      c += 1
    }
    best
  }
}
