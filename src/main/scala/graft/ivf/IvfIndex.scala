package graft.ivf

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel

import graft.functions.VectorKernels

/** In-memory IVF index for one Parquet file.
  *
  * Byte format is identical to the reference engine's so indexes are
  * interchangeable (`/root/reference/src/ivf/index.rs:65-128`):
  * `dim:u32 LE, n_clusters:u32 LE, centroids f32 LE × (k·d),
  *  then per cluster: len:u32 LE + row_id:u32 LE × len`.
  * Framing when persisted (`/root/reference/src/ivf/parquet.rs:105-174`):
  * magic `PQ_VECTOR1` + payload_len:u64 LE + payload.
  *
  * `invertedLists(i)` holds the file-local row ordinals whose nearest
  * centroid is `i`, ascending.
  */
final case class IvfIndex(
    dim: Int,
    nClusters: Int,
    centroids: Array[Float],
    invertedLists: Array[Array[Int]]) {
  require(centroids.length == dim * nClusters, "centroid matrix shape mismatch")
  require(invertedLists.length == nClusters, "inverted list count mismatch")

  /** Indices of the `nprobe` nearest centroids to `query`, ascending by
    * squared L2 (reference: index.rs:130-149).
    */
  def findClosestCentroids(query: Array[Float], nprobe: Int): Array[Int] = {
    requireDim(query)
    val dists =
      Array.tabulate(nClusters)(i => VectorKernels.squaredL2Offset(query, centroids, i * dim))
    dists.indices.sortBy(dists).take(nprobe).toArray
  }

  /** Union of the probed centroids' inverted lists (reference: index.rs:57-63). */
  def candidateRows(query: Array[Float], nprobe: Int): Array[Int] =
    findClosestCentroids(query, nprobe).flatMap(invertedLists)

  /** Indices of the `nprobe` most-aligned centroids by COSINE, descending —
    * the angular probe order for cosine-metric search. Same candidate
    * machinery as [[findClosestCentroids]], different cell ranking: over an
    * index built on unit-normalized vectors this is the proper angular IVF
    * probe; over a raw build it is a norm-insensitive heuristic (and any
    * probe order is exact at `nprobe >= nClusters`).
    */
  def findClosestCentroidsCosine(query: Array[Float], nprobe: Int): Array[Int] =
    IvfIndex.cosineProbe(query, centroids, dim, nprobe)

  /** Cells that can possibly hold a member within `radius` (true L2) of
    * `query`, by the triangle inequality: every member x of cell i satisfies
    * `d(q, x) >= d(q, c_i) − radius_i`, so a cell with
    * `d(q, c_i) > radius + radius_i` holds no in-range member and is pruned
    * EXACTLY — range search over the surviving cells equals a full scan.
    * `radii(i)` is cell i's max member-to-centroid distance (the sidecar
    * [[IndexStore.loadRadii]] persists); `None` (no sidecar, e.g. a
    * reference-built index) probes every non-empty cell, still exact. The
    * small relative margin absorbs f32 rounding in the distance kernels so
    * a boundary member is never lost to the last bit.
    */
  def rangeProbeCells(
      query: Array[Float], radius: Float, radii: Option[Array[Float]]): Array[Int] = {
    val bounds = radii match {
      case Some(r) =>
        require(
          r.length == nClusters,
          s"radii length ${r.length} != n_clusters $nClusters")
        r
      case None => null
    }
    requireDim(query)
    val out = Array.newBuilder[Int]
    var i = 0
    while (i < nClusters) {
      if (invertedLists(i).length > 0) {
        if (bounds == null) out += i
        else {
          val dqc = math.sqrt(VectorKernels.squaredL2Offset(query, centroids, i * dim).toDouble)
          val keep = radius.toDouble + bounds(i).toDouble
          if (dqc <= keep * (1.0 + 1e-5) + 1e-6) out += i
        }
      }
      i += 1
    }
    out.result()
  }

  /** Number of candidates a probe would return, without materializing them —
    * the cheap first phase of the distributed `max_candidates` fairness cap.
    * `cosine` counts under the angular probe order (different cells survive
    * at `nprobe < nClusters`; identical at exhaustive probe).
    */
  def candidateCount(query: Array[Float], nprobe: Int, cosine: Boolean = false): Long =
    probeCells(query, nprobe, cosine).map(invertedLists(_).length.toLong).sum

  /** The metric's probe order: [[findClosestCentroidsCosine]] when
    * `cosine`, else [[findClosestCentroids]].
    */
  def probeCells(query: Array[Float], nprobe: Int, cosine: Boolean): Array[Int] =
    if (cosine) findClosestCentroidsCosine(query, nprobe) else findClosestCentroids(query, nprobe)

  def numRows: Long = invertedLists.iterator.map(_.length.toLong).sum

  def toBytes: Array[Byte] = {
    val payloadLen = 8 + 4 * centroids.length +
      invertedLists.map(l => 4 + 4 * l.length).sum
    val buf = ByteBuffer.allocate(payloadLen).order(ByteOrder.LITTLE_ENDIAN)
    buf.putInt(dim)
    buf.putInt(nClusters)
    centroids.foreach(buf.putFloat)
    invertedLists.foreach { list =>
      buf.putInt(list.length)
      list.foreach(buf.putInt)
    }
    buf.array()
  }

  private def requireDim(query: Array[Float]): Unit =
    require(query.length == dim, s"query dim ${query.length} != index dim $dim")

  def nearestCentroid(vec: Array[Float]): Int =
    VectorKernels.nearestCentroid(vec, centroids, dim)

  /** Fingerprint of the centroid matrix (plus shape) — the index's "epoch".
    * Derived artifacts whose bytes are a function of the centroids (residual
    * PQ codes, per-cell radius bounds) stamp this into their headers so a
    * retrain that moves the centroids invalidates them instead of letting
    * them silently mis-score (the refuse-don't-guess posture of the
    * reference's indexed-column validation, index_exec.rs:123-135).
    */
  lazy val centroidDigest: Long = IvfIndex.centroidDigest(dim, nClusters, centroids)
}

object IvfIndex {
  val Magic: Array[Byte] = "PQ_VECTOR1".getBytes("UTF-8")
  val IndexOffsetKey = "pq_vector_index_offset"
  val EmbeddingColumnKey = "pq_vector_embedding_column"

  /** FNV-1a's offset basis and its one mixing step, `(h ^ v) · prime` —
    * the hash behind the centroid digest, the PQ codebook digest (both
    * stored in sidecar headers) and the table-probe memo key.
    */
  private[ivf] val FnvBasis = 0xcbf29ce484222325L
  private[ivf] def fnv1a(h: Long, v: Long): Long = (h ^ v) * 0x100000001b3L

  /** Indices of the `probes` centroids of a flat row-major matrix most
    * aligned with `query` by [[VectorKernels.cosine]], descending, ties by
    * index. Zero-norm centroids rank last (and, for a zero-norm query,
    * every centroid ranks by index), never mid-field, where a similarity
    * of 0 would put a degenerate cell ahead of negative-similarity cells
    * that hold the true angular neighbors.
    */
  def cosineProbe(
      query: Array[Float], centroids: Array[Float], dim: Int, probes: Int): Array[Int] = {
    require(query.length == dim, s"query dim ${query.length} != centroid dim $dim")
    val zeroQuery = VectorKernels.dot(query, query) == 0.0f
    val negSims = Array.tabulate(centroids.length / dim) { i =>
      val c = java.util.Arrays.copyOfRange(centroids, i * dim, (i + 1) * dim)
      if (zeroQuery || VectorKernels.dot(c, c) == 0.0f) Float.MaxValue
      else -VectorKernels.cosine(query, c)
    }
    negSims.indices.sortBy(negSims).take(probes).toArray
  }

  /** FNV-1a over the shape and the raw f32 bit patterns — stable across
    * JVMs/platforms (bit-exact centroids ⇒ equal digest; any moved centroid
    * ⇒ different with overwhelming probability). NaN payload bits count as
    * written, so even exotic centroids fingerprint deterministically.
    */
  def centroidDigest(dim: Int, nClusters: Int, centroids: Array[Float]): Long = {
    var h = FnvBasis
    def mix(v: Int): Unit = {
      var i = 0
      while (i < 4) { h = fnv1a(h, (v >>> (i * 8)) & 0xFFL); i += 1 }
    }
    mix(dim)
    mix(nClusters)
    var c = 0
    while (c < centroids.length) {
      mix(java.lang.Float.floatToRawIntBits(centroids(c)))
      c += 1
    }
    h
  }

  def fromBytes(bytes: Array[Byte]): IvfIndex = {
    require(bytes.length >= 8, "IVF index buffer too small")
    val buf = ByteBuffer.wrap(bytes).order(ByteOrder.LITTLE_ENDIAN)
    val dim = buf.getInt
    val nClusters = buf.getInt
    require(dim > 0, s"invalid dim $dim")
    require(nClusters > 0, s"invalid n_clusters $nClusters")
    // long-math shape check: corrupt headers otherwise surface as a raw
    // NegativeArraySizeException (dim·k wrapping Int) or BufferUnderflow
    // deep in the float loop instead of an actionable message
    require(8L + 4L * dim * nClusters <= bytes.length,
      s"centroid matrix (dim=$dim × k=$nClusters) exceeds the ${bytes.length}-byte payload " +
        "— corrupt or truncated index")
    val centroids = new Array[Float](dim * nClusters)
    var i = 0
    while (i < centroids.length) { centroids(i) = buf.getFloat; i += 1 }
    val lists = new Array[Array[Int]](nClusters)
    // every row of the file sits in exactly one list, so each ordinal lies
    // in [0, total postings); one outside would be silently dropped by
    // the fetch instead of served
    var minOrd = 0
    var maxOrd = -1
    var total = 0L
    var c = 0
    while (c < nClusters) {
      require(buf.remaining >= 4, s"posting list $c is missing — corrupt or truncated index")
      val len = buf.getInt
      require(len >= 0 && 4L * len <= buf.remaining,
        s"posting list $c length $len exceeds the ${buf.remaining}-byte remainder " +
          "— corrupt or truncated index")
      val list = new Array[Int](len)
      var j = 0
      while (j < len) {
        val o = buf.getInt
        if (o < minOrd) minOrd = o
        if (o > maxOrd) maxOrd = o
        list(j) = o
        j += 1
      }
      lists(c) = list
      total += len
      c += 1
    }
    require(minOrd >= 0 && maxOrd < total,
      s"posting ordinal ${if (minOrd < 0) minOrd else maxOrd} is outside [0, $total) " +
        "— corrupt or truncated index")
    IvfIndex(dim, nClusters, centroids, lists)
  }

  /** Bytes of the framed header: magic, payload length u64, dim and
    * nClusters i32.
    */
  private[ivf] val HeaderLen: Int = Magic.length + 16

  /** `(dim, nClusters)` of the framed index whose magic starts at `offset`
    * in `ch` — one read of [[HeaderLen]] bytes, no payload decode. Left
    * names the defect: a short read, a bad magic or a non-positive shape.
    */
  private[ivf] def readHeader(ch: FileChannel, offset: Long): Either[String, (Int, Int)] =
    IndexStore.readFully(ch, offset, HeaderLen).toRight("truncated index header").flatMap { buf =>
      val magic = new Array[Byte](Magic.length)
      buf.get(magic)
      buf.getLong // payload length
      val dim = buf.getInt
      val k = buf.getInt
      if (!magic.sameElements(Magic)) Left("bad index magic")
      else if (dim <= 0 || k <= 0) Left(s"implausible index shape dim=$dim k=$k")
      else Right((dim, k))
    }

  /** Wrap payload with the reference's persist framing: magic + u64 LE length. */
  def frame(payload: Array[Byte]): Array[Byte] = {
    val buf = ByteBuffer
      .allocate(Magic.length + 8 + payload.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic)
    buf.putLong(payload.length.toLong)
    buf.put(payload)
    buf.array()
  }

  /** Parse framed bytes (magic + length + payload) back into an index. */
  def unframe(framed: Array[Byte]): IvfIndex = {
    require(framed.length >= Magic.length + 8, "framed index too small")
    require(
      framed.view.slice(0, Magic.length).sameElements(Magic),
      "bad index magic — not a PQ_VECTOR1 index")
    val buf = ByteBuffer.wrap(framed).order(ByteOrder.LITTLE_ENDIAN)
    buf.position(Magic.length)
    val len = buf.getLong
    require(
      len >= 0 && len <= framed.length - Magic.length - 8,
      s"index length $len exceeds buffer")
    val payload = new Array[Byte](len.toInt)
    buf.get(payload)
    fromBytes(payload)
  }
}
