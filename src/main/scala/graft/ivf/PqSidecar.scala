package graft.ivf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.SparkSession

import graft.ivf.IndexStore.{ByteLru, CodeCodec, CodeHeader, CodeReader, Sidecar}

/** PQ code sidecar: the product-quantized twin of a file's embedding column
  * — `m` BYTES per row (vs `4·dim` for floats), dense in row-ordinal order
  * for O(1) random access, with the table-shared codebook embedded so each
  * sidecar is self-contained.
  *
  * Storage half of IVF-PQ search ([[VectorTopK.search]] with `tier = Pq`):
  * coarse ranking reads `m` bytes per candidate and scores them with ADC
  * table lookups;
  * full-precision floats are touched only for the `k·oversample` refine
  * survivors. At dim=64, m=8 this is a 32× coarse-IO reduction over floats
  * (8× over SQ8).
  *
  * MEASURED ENVELOPE (TierIoProbe at 1M×1024, round-11 BENCHNOTES): PQ is
  * the demonstrated COLD/remote tier and the win now SURVIVES multi-file
  * layouts — on the point-read by-cell layout
  * (`Layout.writeByCell(pageRows = Some(1))`) it reads 44 MB/query
  * single-file and 22 MB at 16 files vs float's ~95-126, beating float at
  * every cold bandwidth (0.53 vs 1.11 s cold NVMe; 1.66 vs 4.18 at
  * 25 MB/s single-file; 0.79 vs 3.71 at 16 files). Two fixes made the
  * multi-file regime work: 1-row pages kill the ~100 MB/query refine page
  * amplification, and since "GRAFTPQ4" the codebook is DIGEST-KEYED and
  * decoded through a process-wide LRU ([[codebookCacheStats]]) — a
  * table-shared codebook is read+decoded once per JVM and every other
  * file's reader touches only its 40-byte header (the per-file
  * ~1 MB codebook re-reads that erased the r10 multi-file win). On a warm
  * page cache float selective stays faster — `tier=auto` encodes that.
  *
  * Layout (little-endian): `"GRAFTPQ4" | nRows i32 | flags i32 |
  * centroidDigest i64 | cbDigest i64 | cbLen i32 |
  * codebook bytes ([[Pq.codebookBytes]]) | codes (nRows·m bytes)`.
  * `cbDigest` is FNV-1a over the codebook bytes — the cross-file cache
  * identity (incremental appends may legitimately produce files with
  * DIFFERENT codebooks in one table; the digest keeps them distinct) and
  * an integrity check on every cache-miss read.
  * `flags` bit 0 = RESIDUAL: codes quantize `vec − cellCentroid` (IVF-ADC,
  * the faiss `IndexIVFPQ` convention) and search must build its ADC table
  * from `query − cellCentroid` per probed cell. Residual codes are a
  * function of the IVF centroids at encode time, so `centroidDigest` stamps
  * the [[IvfIndex.centroidDigest]] they were built under; readers REFUSE a
  * mismatch (a drift retrain moved the centroids — scoring old-centroid
  * codes against new-centroid ADC tables silently collapses recall) and
  * [[ensure]] rebuilds it. Non-residual sidecars don't depend on the
  * centroids and stamp 0.
  * This object is the codec (header layout, encoder and codebook);
  * naming, binding, atomic writes and row reads are [[IndexStore]]'s,
  * whose class doc tables every sidecar family.
  */
object PqSidecar {

  // "4": the codebook digest was added to the fixed header (cross-file
  // decoded-codebook cache, round-10 verdict item #1); "3" added
  // centroidDigest. Readers treat a bad magic as sidecar-absent, so
  // old-format files are transparently rebuilt by ensure() rather than
  // misparsed
  val Magic: Array[Byte] = "GRAFTPQ4".getBytes("UTF-8")
  private val FixedHeaderLen = Magic.length + 28

  val FlagResidual = 1

  /** Immutable view of a sidecar's FIXED header plus the codebook's leading
    * `m` (its first i32, see [[Pq.codebookBytes]]) — metadata only, the
    * codebook is decoded lazily through the digest-keyed cache (a
    * multi-file query must not pay a codebook read per file).
    */
  final case class Header(
      nRows: Int, flags: Int, centroidDigest: Long, cbDigest: Long, cbLen: Int, m: Int)
      extends CodeHeader {
    def residual: Boolean = (flags & FlagResidual) != 0
    def width: Int = m
    def codesOffset: Long = FixedHeaderLen.toLong + cbLen
  }

  /** The header codec [[IndexStore.CodeReader]] opens this family with. */
  object Header extends CodeCodec[Header] {
    val name = "PQ"
    val headerBytes: Int = FixedHeaderLen + 4

    def parseHeader(buf: ByteBuffer, path: String): Header = {
      val magic = new Array[Byte](Magic.length)
      buf.get(magic)
      require(magic.sameElements(Magic), s"not a PQ sidecar: $path")
      val nRows = buf.getInt
      val flags = buf.getInt
      val centroidDigest = buf.getLong
      val cbDigest = buf.getLong
      val cbLen = buf.getInt
      require(nRows >= 0 && cbLen >= 4, s"implausible PQ header in $path")
      val m = buf.getInt
      require(m > 0, s"implausible PQ subquantizer count $m in $path")
      Header(nRows, flags, centroidDigest, cbDigest, cbLen, m)
    }
  }

  /** FNV-1a over the serialized codebook bytes — stable across JVMs (same
    * mixer as [[IvfIndex.centroidDigest]]).
    */
  private[ivf] def codebookDigest(bytes: Array[Byte]): Long = {
    var h = IvfIndex.FnvBasis
    var i = 0
    while (i < bytes.length) { h = IvfIndex.fnv1a(h, bytes(i) & 0xFFL); i += 1 }
    h
  }

  // process-wide decoded-codebook LRU (per executor JVM in cluster mode),
  // keyed by (digest, byte length): a table-shared codebook decodes ONCE
  // per JVM no matter how many files or queries touch it; incremental
  // appends with a retrained codebook coexist under their own digests.
  // 64 MiB of codebooks (one is ~cbLen in memory; m=128 × ksub=256 ×
  // dim=1024 ≈ 1 MiB)
  private val codebooks = new ByteLru[(Long, Int), Pq.Codebook](64L << 20, (k, _) => k._2.toLong)

  /** (hits, misses) of the decoded-codebook cache since JVM start — the
    * multi-file win is visible here: F files × Q queries of one table is
    * F·Q−1 hits, 1 miss.
    */
  def codebookCacheStats: (Long, Long) = codebooks.stats

  /** The open sidecar's codebook — a cache hit for every file sharing the
    * table's codebook after the first decode in this JVM; a miss verifies
    * the bytes against the header digest.
    */
  private[ivf] def codebook(reader: CodeReader[Header]): Pq.Codebook = {
    val h = reader.header
    val cb = codebooks.getOrLoad((h.cbDigest, h.cbLen)) {
      val bytes =
        reader.read(FixedHeaderLen, h.cbLen, "unexpected EOF reading PQ codebook in").array()
      val got = codebookDigest(bytes)
      require(got == h.cbDigest,
        s"PQ codebook digest mismatch in ${reader.path}: header says ${h.cbDigest}, " +
          s"bytes hash to $got — corrupt sidecar, rebuild with PqSidecar.build")
      Pq.codebookFromBytes(bytes)
    }
    require(cb.m == h.m, s"PQ codebook m=${cb.m} != header m=${h.m} in ${reader.path}")
    cb
  }

  /** A whole `.pq`/`.pqr` file: fixed header, codebook, then `codes`
    * (row-ordinal order).
    */
  def fileBytes(
      cb: Pq.Codebook,
      codes: Array[Byte],
      flags: Int = 0,
      centroidDigest: Long = 0L): Array[Byte] = {
    require(
      codes.length % cb.m == 0,
      s"codes length ${codes.length} not a multiple of m ${cb.m}")
    val cbBytes = Pq.codebookBytes(cb)
    val buf = ByteBuffer
      .allocate(FixedHeaderLen + cbBytes.length + codes.length)
      .order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic)
    buf.putInt(codes.length / cb.m)
    buf.putInt(flags)
    buf.putLong(centroidDigest)
    buf.putLong(codebookDigest(cbBytes))
    buf.putInt(cbBytes.length)
    buf.put(cbBytes)
    buf.put(codes)
    buf.array()
  }

  /** Build the per-file PQ sidecars: a per-file validation pass over the
    * whole table, ONE codebook trained on a driver-side bounded sample (the
    * IVF build's sample discipline — table-shared, like the centroid set),
    * then one encode task per file that streams its vectors and writes its
    * sidecar FROM THE EXECUTOR ([[IvfBuilder.writeCodes]]); no shuffle, and
    * the per-file buffer holds `m` bytes per row. `only` restricts the
    * encode to those files for incremental appends (the codebook still
    * trains on the whole table so codes stay comparable).
    */
  def build(
      spark: SparkSession,
      path: String,
      column: String,
      m: Int,
      store: IndexStore = IndexStore.default,
      maxIters: Int = 20,
      seed: Long = 42L,
      only: Option[Seq[String]] = None,
      residual: Boolean = false): Map[String, Long] = {
    import spark.implicits._
    val files = IndexManager.listFiles(spark, path)
    val (n, dim) = IvfBuilder.validate(spark, files, column)
    require(n > 0, "cannot build IVF index over zero vectors")
    val all = IvfBuilder.scan(spark, path, column)
    require(dim % m == 0, s"dim $dim not divisible by m=$m subspaces")

    // residual (IVF-ADC) mode quantizes vec − cellCentroid under the
    // table-shared IVF centroids — the index must already exist, and every
    // file's index must carry the SAME centroid set (encode uses one file's
    // copy but search builds ADC tables from each file's own index — a
    // mixed-generation table would silently mis-rank, so verify the
    // invariant by fingerprint before encoding anything)
    val (centroids, centroidEpoch): (Array[Float], Long) =
      if (!residual) (null, 0L)
      else {
        val digests = files.map { f =>
          // header-only peek for sidecars; the footer-embedded fallback
          // goes through the decoded-index LRU so repeated ensure() calls
          // don't re-decode posting lists driver-side
          f -> store.centroidDigest(f, column)
            .orElse(scala.util.Try(
              IndexManager.loadIndex(store, f, column).centroidDigest).toOption)
            .getOrElse(throw new IllegalStateException(
              s"residual PQ needs an IVF index for every file — none for $f"))
        }
        val epoch = digests.head._2
        digests.find(_._2 != epoch).foreach { case (f, d) =>
          throw new IllegalStateException(
            s"mixed-generation IVF indexes: $f has centroid digest $d but " +
              s"${digests.head._1} has $epoch — residual PQ codes must share one " +
              "centroid set; rebuild the table's index (IvfBuilder.build) first")
        }
        (IndexManager.loadIndex(store, files.head, column).centroids, epoch)
      }
    def toResidual(vec: Array[Float], cents: Array[Float]): Array[Float] = {
      val cell = graft.functions.VectorKernels.nearestCentroid(vec, cents, dim)
      Pq.residual(
        vec, java.util.Arrays.copyOfRange(cents, cell * dim, (cell + 1) * dim))
    }

    // bounded training sample, deterministic (sorted before train)
    val sampleSize = math.min(math.max(n / 20L, math.min(n, Pq.MaxK.toLong)), 100000L)
    val rawSamples: Array[Array[Float]] =
      if (sampleSize >= n) {
        all.sort("_file", "_ri").select("_vec").as[Array[Float]].collect()
      } else {
        val frac = math.min(1.0, (sampleSize.toDouble * 1.5) / n.toDouble)
        val sampled = all
          .sample(withReplacement = false, frac, seed)
          .sort("_file", "_ri")
          .select("_vec")
          .as[Array[Float]]
          .take(sampleSize.toInt)
        if (sampled.nonEmpty) sampled
        else all.sort("_file", "_ri").select("_vec").as[Array[Float]].take(sampleSize.toInt)
      }
    val samples =
      if (residual) rawSamples.map(toResidual(_, centroids)) else rawSamples
    val cb = Pq.train(samples, m, maxIters, seed)
    val bcCb = spark.sparkContext.broadcast(cb)
    val bcCents = spark.sparkContext.broadcast(centroids)
    val flags = if (residual) FlagResidual else 0

    IvfBuilder.writeCodes(
        spark, only.getOrElse(files), store, column, Sidecar.pq(residual), m)(
      vec =>
        Pq.encode(if (bcCents.value == null) vec else toResidual(vec, bcCents.value), bcCb.value),
      fileBytes(bcCb.value, _, flags, centroidEpoch))
  }

  /** A sidecar is usable when present, bound and intact
    * ([[IndexStore.intactHeader]]) with the wanted variant flag AND (for
    * residual codes) stamped with the CURRENT index's centroid digest — a
    * stale (old-format), damaged, wrong-variant, or wrong-centroid-epoch
    * file (index retrained since encode) counts as missing and gets
    * rebuilt instead of silently mis-scoring. Memoized store-level
    * ([[IndexStore.memoizedProbe]]): tier=auto probes this per FILE per
    * planned query; the identity also covers the index sidecar (residual
    * only, via centroidDigest / footer fallback).
    */
  private[graft] def usable(store: IndexStore, f: String, column: String, residual: Boolean): Boolean =
    store.memoized(
        if (residual) "pqr-usable" else "pq-usable", f, column,
        Sidecar.pq(residual) +: (if (residual) Seq(Sidecar.Index) else Nil): _*) {
      store.intact(f, column, Sidecar.pq(residual), Header).exists { h =>
        h.residual == residual && (!residual ||
          store.centroidDigest(f, column)
            .orElse(scala.util.Try(
              IndexManager.loadIndex(store, f, column).centroidDigest).toOption)
            .contains(h.centroidDigest))
      }
    }

  /** Build sidecars ONLY for files that lack a usable one (idempotent,
    * incremental). An append-triggered build re-trains on the grown table;
    * existing sidecars keep their original codebook (self-contained), so
    * cross-file ADC stays valid per file — the refine phase re-ranks in
    * exact float space, which is what guarantees cross-file comparability.
    */
  def ensure(
      spark: SparkSession,
      path: String,
      column: String,
      m: Int,
      store: IndexStore = IndexStore.default,
      residual: Boolean = false): Unit = {
    val missing = IndexManager.listFiles(spark, path)
      .filterNot(f => usable(store, f, column, residual))
    if (missing.nonEmpty) {
      build(spark, path, column, m, store, only = Some(missing), residual = residual): Unit
    }
  }
}
