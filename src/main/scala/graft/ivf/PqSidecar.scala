package graft.ivf

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

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
  * file's reader touches only its 36-byte fixed header (the per-file
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
  * Writes are atomic (temp + rename), safe under speculative retries.
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

  /** Immutable view of a sidecar's FIXED header — metadata only, the
    * codebook is decoded lazily through the digest-keyed cache (a
    * multi-file query must not pay a codebook read per file).
    */
  final case class Header(
      nRows: Int, flags: Int, centroidDigest: Long, cbDigest: Long, cbLen: Int) {
    def residual: Boolean = (flags & FlagResidual) != 0
    def codesOffset: Long = FixedHeaderLen.toLong + cbLen
  }

  /** FNV-1a over the serialized codebook bytes — stable across JVMs (same
    * scheme as [[IvfIndex.centroidDigest]]).
    */
  private[ivf] def codebookDigest(bytes: Array[Byte]): Long = {
    var h = 0xcbf29ce484222325L
    var i = 0
    while (i < bytes.length) {
      h ^= bytes(i) & 0xFFL
      h *= 0x100000001b3L
      i += 1
    }
    h
  }

  // process-wide decoded-codebook LRU (per executor JVM in cluster mode),
  // keyed by (digest, byte length): a table-shared codebook decodes ONCE
  // per JVM no matter how many files or queries touch it; incremental
  // appends with a retrained codebook coexist under their own digests.
  // Byte-bounded like IndexManager's decoded-index LRU (a codebook is
  // ~cbLen in memory; m=128 × ksub=256 × dim=1024 ≈ 1 MiB)
  private val MaxCodebookBytes =
    sys.props.getOrElse("graft.pq.codebookCacheBytes", (64L << 20).toString).toLong
  private val codebookCache =
    new java.util.LinkedHashMap[(Long, Int), Pq.Codebook](16, 0.75f, true)
  private var cachedCbBytes = 0L
  private val cbHits = new java.util.concurrent.atomic.AtomicLong
  private val cbMisses = new java.util.concurrent.atomic.AtomicLong

  /** (hits, misses) of the decoded-codebook cache since JVM start — the
    * multi-file win is visible here: F files × Q queries of one table is
    * F·Q−1 hits, 1 miss.
    */
  def codebookCacheStats: (Long, Long) = (cbHits.get(), cbMisses.get())

  private def cachedCodebook(
      key: (Long, Int))(decode: => Pq.Codebook): Pq.Codebook = {
    val hit = codebookCache.synchronized(codebookCache.get(key))
    if (hit != null) { cbHits.incrementAndGet(); hit }
    else {
      // decode outside the lock: first touch of distinct codebooks must
      // not serialize behind each other's IO
      val cb = decode
      cbMisses.incrementAndGet()
      codebookCache.synchronized {
        val old = codebookCache.put(key, cb)
        if (old == null) cachedCbBytes += key._2.toLong
        val it = codebookCache.entrySet().iterator()
        while (cachedCbBytes > MaxCodebookBytes && it.hasNext) {
          val e = it.next()
          if (e.getKey != key) { cachedCbBytes -= e.getKey._2.toLong; it.remove() }
        }
      }
      cb
    }
  }

  def writeFile(
      path: String,
      cb: Pq.Codebook,
      codes: Array[Byte],
      flags: Int = 0,
      centroidDigest: Long = 0L): Unit = {
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
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(path + s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, buf.array())
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def readHeader(path: String): Header = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try readHeader(ch, path) finally ch.close()
  }

  private def readHeader(ch: FileChannel, path: String): Header = {
    val fixed = ByteBuffer.allocate(FixedHeaderLen).order(ByteOrder.LITTLE_ENDIAN)
    while (fixed.hasRemaining && ch.read(fixed) >= 0) {}
    require(!fixed.hasRemaining, s"truncated PQ sidecar $path")
    fixed.flip()
    val magic = new Array[Byte](Magic.length)
    fixed.get(magic)
    require(magic.sameElements(Magic), s"not a PQ sidecar: $path")
    val nRows = fixed.getInt
    val flags = fixed.getInt
    val centroidDigest = fixed.getLong
    val cbDigest = fixed.getLong
    val cbLen = fixed.getInt
    require(nRows >= 0 && cbLen > 0, s"implausible PQ header in $path")
    Header(nRows, flags, centroidDigest, cbDigest, cbLen)
  }

  private def readCodebook(ch: FileChannel, header: Header, path: String): Pq.Codebook =
    cachedCodebook((header.cbDigest, header.cbLen)) {
      val cbBuf = ByteBuffer.allocate(header.cbLen)
      var pos = FixedHeaderLen.toLong
      while (cbBuf.hasRemaining) {
        val n = ch.read(cbBuf, pos)
        require(n >= 0, s"unexpected EOF reading PQ codebook in $path")
        pos += n
      }
      val got = codebookDigest(cbBuf.array())
      require(got == header.cbDigest,
        s"PQ codebook digest mismatch in $path: header says ${header.cbDigest}, " +
          s"bytes hash to $got — corrupt sidecar, rebuild with PqSidecar.build")
      Pq.codebookFromBytes(cbBuf.array())
    }

  /** Open-once reader: holds the channel and the parsed header so repeated
    * `rows()` calls (one per probed cell in residual search) don't reopen
    * the file each time. The codebook is served from the process-wide
    * digest-keyed cache — opening a reader costs one 36-byte header read
    * when the table's codebook is already decoded. Not thread-safe; one
    * per task.
    */
  final class Reader(path: String) extends AutoCloseable {
    private val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    val header: Header =
      try PqSidecar.readHeader(ch, path)
      catch { case e: Throwable => ch.close(); throw e }

    /** Decoded codebook — cache hit for every file sharing the table's
      * codebook after the first decode in this JVM.
      */
    lazy val codebook: Pq.Codebook = PqSidecar.readCodebook(ch, header, path)

    /** Codes of `ordinals` (sorted ascending, file-local), one positioned
      * read per consecutive-ordinal run (same IO coalescing as
      * [[Sq8Sidecar]]).
      */
    def rows(ordinals: Array[Int]): Array[Array[Byte]] = {
      if (ordinals.isEmpty) return Array.empty
      require(
        ordinals.last < header.nRows && ordinals.head >= 0,
        s"ordinal out of range [0, ${header.nRows}) in $path")
      val m = codebook.m
      val out = new Array[Array[Byte]](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        var j = i
        while (j + 1 < ordinals.length && ordinals(j + 1) == ordinals(j) + 1) j += 1
        val run = ByteBuffer.allocate((j - i + 1) * m)
        var pos = header.codesOffset + ordinals(i).toLong * m
        while (run.hasRemaining) {
          val n = ch.read(run, pos)
          require(n >= 0, s"unexpected EOF in $path")
          pos += n
        }
        val bytes = run.array()
        var r = i
        while (r <= j) {
          out(r) = java.util.Arrays.copyOfRange(bytes, (r - i) * m, (r - i + 1) * m)
          r += 1
        }
        i = j + 1
      }
      out
    }

    override def close(): Unit = ch.close()
  }

  /** One-shot convenience over [[Reader]]. */
  def readRows(path: String, ordinals: Array[Int]): (Header, Array[Array[Byte]]) = {
    val reader = new Reader(path)
    try (reader.header, reader.rows(ordinals))
    finally reader.close()
  }

  /** Build the per-file PQ sidecars: ONE codebook trained on a driver-side
    * bounded sample (the IVF build's sample discipline — table-shared, like
    * the centroid set), then a distributed encode pass; the shuffle and the
    * per-file buffer carry `m` bytes per row, and sidecars are written FROM
    * THE EXECUTOR. `only` restricts the scan for incremental appends (the
    * codebook still trains on the whole table so codes stay comparable).
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
    val all = spark.read
      .parquet(path)
      .select(
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_ri"),
        col(column).cast("array<float>").as("_vec"))
    val (n, dim) = IvfBuilder.validate(all, column)
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
        val files = IndexManager.listFiles(spark, path)
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

    val vecs = only.fold(all)(fs => all.where(col("_file").isin(fs: _*)))
    vecs
      .as[(String, Long, Array[Float])]
      .map { case (file, ri, vec) =>
        require(
          ri <= Int.MaxValue,
          s"row ordinal $ri in $file exceeds the sidecar's 2^31 rows-per-file limit " +
            "(header stores nRows as i32) — split the file")
        val target =
          if (bcCents.value == null) vec else toResidual(vec, bcCents.value)
        (file, ri.toInt, Pq.encode(target, bcCb.value))
      }
      .groupByKey(_._1)
      .mapGroups { (file, rows) =>
        val codebook = bcCb.value
        val collected = rows.map { case (_, ri, c) => (ri, c) }.toArray
        // rows·m must fit one JVM byte array (same guard as Sq8Sidecar) —
        // overflow would alloc a negative-sized array
        require(collected.length.toLong * codebook.m <= Int.MaxValue,
          s"$file holds ${collected.length} rows × m=${codebook.m} of codes — over " +
            "the 2 GiB single-array sidecar limit; split the file")
        val codes = new Array[Byte](collected.length * codebook.m)
        collected.foreach { case (ri, c) =>
          System.arraycopy(c, 0, codes, ri * codebook.m, codebook.m)
        }
        writeFile(
          store.pqPath(file, column, residual = flags != 0), codebook, codes, flags,
          centroidEpoch)
        (file, collected.length.toLong)
      }
      .collect()
      .toMap
  }

  /** Build sidecars ONLY for files that lack one (idempotent, incremental).
    * NOTE: an append-triggered build re-trains on the grown table; existing
    * sidecars keep their original codebook (self-contained), so cross-file
    * ADC stays valid per file — the refine phase re-ranks in exact float
    * space, which is what guarantees cross-file comparability.
    */
  /** A sidecar is usable when present AND parseable with the wanted
    * variant flag AND (for residual codes) stamped with the CURRENT index's
    * centroid digest — a stale (old-format), wrong-variant, or
    * wrong-centroid-epoch file (index retrained since encode) counts as
    * missing and gets rebuilt instead of silently mis-scoring.
    */
  /** Header + SIZE check: since r11's lazy header read, `readHeader` alone
    * no longer touches the codebook/codes regions, so a sidecar truncated
    * past byte 36 (partial copy without the atomic rename, disk damage)
    * would pass a header-only probe and then crash the first query inside
    * an executor task instead of being rebuilt. The codebook's leading i32
    * is `m` (see [[Pq.codebookBytes]]), so one extra 4-byte read lets us
    * require the channel to cover `codesOffset + nRows·m` — restoring
    * ensure()'s self-healing without decoding the ~1 MiB codebook.
    */
  private[ivf] def headerIfIntact(path: String): Option[Header] =
    scala.util.Try {
      val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
      try {
        val h = readHeader(ch, path)
        val mBuf = ByteBuffer.allocate(4).order(ByteOrder.LITTLE_ENDIAN)
        var pos = FixedHeaderLen.toLong
        while (mBuf.hasRemaining) {
          val read = ch.read(mBuf, pos)
          require(read >= 0, s"truncated PQ codebook header in $path")
          pos += read
        }
        mBuf.flip()
        val m = mBuf.getInt
        require(m > 0, s"implausible PQ subquantizer count $m in $path")
        require(
          ch.size() >= h.codesOffset + h.nRows.toLong * m,
          s"truncated PQ sidecar $path: ${ch.size()} bytes, " +
            s"expected >= ${h.codesOffset + h.nRows.toLong * m}")
        h
      } finally ch.close()
    }.toOption

  private[graft] def usable(store: IndexStore, f: String, column: String, residual: Boolean): Boolean =
    // memoized store-level (IndexStore.memoizedProbe): tier=auto probes
    // this per FILE per planned query — the memo bounds that to stats
    // after the first plan. Identity covers everything the answer reads:
    // the codes sidecar, the .meta binding, the data file, and (residual
    // only, via centroidDigest / footer fallback) the index sidecar.
    IndexStore.memoizedProbe(
      (if (residual) "pqr-usable:" else "pq-usable:") + store.dir, f, column,
      Seq(
        store.pqPath(f, column, residual),
        store.indexPath(f, column).stripSuffix(".pqvec") + ".meta",
        f) ++ (if (residual) Seq(store.indexPath(f, column)) else Nil)) {
      store.existsPq(f, column, residual) &&
        headerIfIntact(store.pqPath(f, column, residual)).exists { h =>
          h.residual == residual && (!residual ||
            store.centroidDigest(f, column)
              .orElse(scala.util.Try(
                IndexManager.loadIndex(store, f, column).centroidDigest).toOption)
              .contains(h.centroidDigest))
        }
    }

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
