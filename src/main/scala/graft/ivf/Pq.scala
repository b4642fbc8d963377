package graft.ivf

/** Product quantization (Jégou et al., "Product Quantization for Nearest
  * Neighbor Search", TPAMI 2011): the vector is split into `m` contiguous
  * subspaces of `dsub = dim/m` dimensions, each sub-vector quantized to its
  * nearest entry of a per-subspace codebook (≤256 entries → one byte per
  * subspace). An encoded vector is `m` bytes — 32× smaller than fp32 at
  * m = dim/8 — and query-to-code distances are computed with ADC
  * (asymmetric distance computation): one `m × ksub` table of exact
  * query-subvector-to-centroid squared distances per query, then each
  * candidate costs `m` table lookups + adds, no decode.
  *
  * This is the compression tier past SQ8 (`graft.functions.Sq8`, 4×):
  * same two-phase search contract — PQ/ADC ranks candidates cheaply, exact
  * float re-rank of the `k·oversample` survivors recovers precision — so
  * the covering-oversample exactness gate (zq4's trick) applies verbatim.
  *
  * Determinism: per-subspace codebooks come from the seeded [[KMeans]]
  * (seed offset by subspace index), and encode breaks distance ties on the
  * first minimal index — same corpus + seed → identical codes everywhere.
  */
object Pq {

  /** Max codebook entries per subspace — one byte per code. */
  val MaxK = 256

  /** Per-table PQ codebook: `centroids` is subspace-major
    * (`m × ksub × dsub` floats; entry c of subspace s starts at
    * `(s·ksub + c)·dsub`). `ksub` may be < 256 when the training sample is
    * small (k-means needs k ≤ n) — codes are still one byte.
    */
  final case class Codebook(m: Int, dsub: Int, ksub: Int, centroids: Array[Float]) {
    require(m > 0 && dsub > 0, s"invalid PQ shape m=$m dsub=$dsub")
    require(ksub > 0 && ksub <= MaxK, s"ksub $ksub must be in [1, $MaxK]")
    require(
      centroids.length == m * ksub * dsub,
      s"codebook length ${centroids.length} != m·ksub·dsub = ${m * ksub * dsub}")
    def dim: Int = m * dsub
  }

  /** Train per-subspace codebooks on a driver-side sample (the same bounded
    * sample discipline as the IVF build): `ksub = min(256, sample size)`.
    */
  def train(
      samples: Array[Array[Float]],
      m: Int,
      maxIters: Int = 20,
      seed: Long = 42L): Codebook = {
    require(samples.nonEmpty, "cannot train PQ on zero vectors")
    val dim = samples.head.length
    require(dim > 0, "zero-length vectors")
    require(samples.forall(_.length == dim), "inconsistent sample dims")
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")
    val dsub = dim / m
    val ksub = math.min(MaxK, samples.length)
    val cents = new Array[Float](m * ksub * dsub)
    // each subspace is its own seeded fit into its own slice of `cents`,
    // so the fits run in parallel and the codebook does not change
    java.util.stream.IntStream.range(0, m).parallel().forEach { s =>
      val flat = new Array[Float](samples.length * dsub)
      var r = 0
      while (r < samples.length) {
        System.arraycopy(samples(r), s * dsub, flat, r * dsub, dsub)
        r += 1
      }
      val sub = KMeans.fit(flat, dsub, KMeans.Params(ksub, maxIters, seed + s))
      System.arraycopy(sub, 0, cents, s * ksub * dsub, ksub * dsub)
    }
    Codebook(m, dsub, ksub, cents)
  }

  /** Encode: per subspace, the index of the nearest codebook entry
    * (first-minimum-wins tie-break), stored as an unsigned byte.
    */
  def encode(vec: Array[Float], cb: Codebook): Array[Byte] = {
    require(vec.length == cb.dim, s"vector dim ${vec.length} != codebook dim ${cb.dim}")
    val out = new Array[Byte](cb.m)
    var s = 0
    while (s < cb.m) {
      val base = s * cb.ksub * cb.dsub
      var best = 0
      var bestD = Float.MaxValue
      var c = 0
      while (c < cb.ksub) {
        val off = base + c * cb.dsub
        var d = 0.0f
        var j = 0
        while (j < cb.dsub) {
          val t = vec(s * cb.dsub + j) - cb.centroids(off + j)
          d += t * t
          j += 1
        }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      out(s) = (best & 0xFF).toByte
      s += 1
    }
    out
  }

  /** Reconstruct the quantized vector (the centroid concatenation). */
  def decode(code: Array[Byte], cb: Codebook): Array[Float] = {
    require(code.length == cb.m, s"code length ${code.length} != m ${cb.m}")
    val out = new Array[Float](cb.dim)
    var s = 0
    while (s < cb.m) {
      val c = code(s) & 0xFF
      require(c < cb.ksub, s"code $c out of range [0, ${cb.ksub}) in subspace $s")
      System.arraycopy(cb.centroids, (s * cb.ksub + c) * cb.dsub, out, s * cb.dsub, cb.dsub)
      s += 1
    }
    out
  }

  /** ADC lookup table for one query: entry `(s, c)` is the exact squared L2
    * between the query's subvector s and codebook entry c — `m × ksub`
    * floats, built once per (query, file) task.
    */
  def adcTable(query: Array[Float], cb: Codebook): Array[Float] = {
    require(query.length == cb.dim, s"query dim ${query.length} != codebook dim ${cb.dim}")
    val table = new Array[Float](cb.m * cb.ksub)
    var s = 0
    while (s < cb.m) {
      val base = s * cb.ksub * cb.dsub
      var c = 0
      while (c < cb.ksub) {
        val off = base + c * cb.dsub
        var d = 0.0f
        var j = 0
        while (j < cb.dsub) {
          val t = query(s * cb.dsub + j) - cb.centroids(off + j)
          d += t * t
          j += 1
        }
        table(s * cb.ksub + c) = d
        c += 1
      }
      s += 1
    }
    table
  }

  /** Per-(subspace, entry) inner products `dot(x_sub_s, centroid_{s,c})` —
    * the ANGULAR twin of [[adcTable]]: summed over a code via
    * [[adcDistanceSq]] it yields `dot(x, decode(code))` exactly (subspaces
    * partition the coordinates, so cross terms are zero). Used with the
    * query for the dot half of code-space cosine, and with a CELL centroid
    * for the residual variant's cross term.
    */
  def dotTable(x: Array[Float], cb: Codebook): Array[Float] = {
    require(x.length == cb.dim, s"vector dim ${x.length} != codebook dim ${cb.dim}")
    val table = new Array[Float](cb.m * cb.ksub)
    var s = 0
    while (s < cb.m) {
      val base = s * cb.ksub * cb.dsub
      var c = 0
      while (c < cb.ksub) {
        val off = base + c * cb.dsub
        var d = 0.0f
        var j = 0
        while (j < cb.dsub) {
          d += x(s * cb.dsub + j) * cb.centroids(off + j)
          j += 1
        }
        table(s * cb.ksub + c) = d
        c += 1
      }
      s += 1
    }
    table
  }

  /** Per-(subspace, entry) squared norms `‖centroid_{s,c}‖²`: summed over a
    * code via [[adcDistanceSq]] it yields `‖decode(code)‖²` exactly — the
    * reconstruction-norm half of code-space cosine. Query-independent
    * (one pass per codebook per task).
    */
  def normTable(cb: Codebook): Array[Float] = {
    val table = new Array[Float](cb.m * cb.ksub)
    var s = 0
    while (s < cb.m) {
      val base = s * cb.ksub * cb.dsub
      var c = 0
      while (c < cb.ksub) {
        val off = base + c * cb.dsub
        var d = 0.0f
        var j = 0
        while (j < cb.dsub) {
          val v = cb.centroids(off + j)
          d += v * v
          j += 1
        }
        table(s * cb.ksub + c) = d
        c += 1
      }
      s += 1
    }
    table
  }

  /** Approximate squared distance query→code: `m` lookups + adds. Equals
    * the exact squared L2 between the query and [[decode]](code) up to f32
    * summation order.
    */
  def adcDistanceSq(table: Array[Float], code: Array[Byte], ksub: Int): Float = {
    var d = 0.0f
    var s = 0
    while (s < code.length) {
      d += table(s * ksub + (code(s) & 0xFF))
      s += 1
    }
    d
  }

  /** `a − b`, the residual a row encodes under IVF-ADC (faiss
    * `IndexIVFPQ` convention): quantizing `vec − cellCentroid` instead of
    * `vec` centers every cell's residual cloud on the origin, so ONE
    * codebook spends its 256 entries per subspace on the (much tighter)
    * within-cell spread instead of the global point spread — the standard
    * PQ accuracy upgrade. Search builds the ADC table from
    * `query − cellCentroid` per probed cell, since
    * `‖q − x‖² = ‖(q − c) − (x − c)‖²` exactly (same subtraction, no
    * approximation introduced).
    */
  def residual(a: Array[Float], b: Array[Float]): Array[Float] = {
    require(a.length == b.length, s"residual dims ${a.length} != ${b.length}")
    val out = new Array[Float](a.length)
    var i = 0
    while (i < a.length) { out(i) = a(i) - b(i); i += 1 }
    out
  }

  // ---- codebook (de)serialization for the sidecar header ----

  def codebookBytes(cb: Codebook): Array[Byte] = {
    val buf = java.nio.ByteBuffer
      .allocate(12 + 4 * cb.centroids.length)
      .order(java.nio.ByteOrder.LITTLE_ENDIAN)
    buf.putInt(cb.m)
    buf.putInt(cb.dsub)
    buf.putInt(cb.ksub)
    cb.centroids.foreach(buf.putFloat)
    buf.array()
  }

  def codebookFromBytes(bytes: Array[Byte]): Codebook = {
    require(bytes.length >= 12, "truncated PQ codebook")
    val buf = java.nio.ByteBuffer.wrap(bytes).order(java.nio.ByteOrder.LITTLE_ENDIAN)
    val m = buf.getInt
    val dsub = buf.getInt
    val ksub = buf.getInt
    // long math: a corrupt header whose m·ksub·dsub wraps negative would
    // pass an Int-math length check and then throw NegativeArraySizeException
    require(
      m > 0 && dsub > 0 && ksub > 0 &&
        12L + 4L * m * ksub * dsub <= bytes.length,
      s"implausible or truncated PQ codebook (m=$m dsub=$dsub ksub=$ksub, " +
        s"${bytes.length} bytes)")
    val n = m * ksub * dsub
    val cents = new Array[Float](n)
    var i = 0
    while (i < n) { cents(i) = buf.getFloat; i += 1 }
    Codebook(m, dsub, ksub, cents)
  }
}
