package graft.ivf

import java.nio.{ByteBuffer, ByteOrder}
import java.nio.channels.FileChannel
import java.nio.file.{Files, Paths, StandardCopyOption, StandardOpenOption}

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.functions.Sq8

/** SQ8 code sidecar: the int8-quantized twin of a file's embedding column,
  * stored dense in row-ordinal order so candidate codes are O(1) random
  * access (`offset = header + ordinal·dim`).
  *
  * This is the storage half of IVF-SQ8 search ([[VectorTopK.search]] with
  * `tier = Sq8`):
  * the coarse ranking reads `dim` BYTES per candidate instead of `4·dim`
  * (and instead of a row-group-granular parquet read); full-precision
  * floats are touched only for the `k·oversample` refine survivors.
  *
  * MEASURED ENVELOPE (TierIoProbe at 1M×1024, round-11 BENCHNOTES): on a
  * POINT-READ by-cell layout (`Layout.writeByCell(pageRows = Some(1))`)
  * SQ8 reads 73 MB/query single-file, 38 MB at 16 files — vs float's
  * ~95-126 — and beats float at every cold bandwidth (0.59 vs 1.11 s
  * cold NVMe; 2.71 vs 4.18 at 25 MB/s). On DEFAULT ~1 MiB pages the
  * round-10 demotion stands: the scattered refine survivors drag a page
  * each (~100 MB/query), and sq8 loses under any bandwidth cap (147 vs
  * 116 MB). Warm page cache: float selective wins everywhere local. The
  * strongest cold tier remains PQ ([[PqSidecar]], 22-44 MB/query).
  *
  * Layout (little-endian): `"GRAFTSQ8" | dim i32 | nRows i32 | codes
  * (nRows·dim bytes)`. Writes are atomic (temp + rename), safe under
  * speculative executor retries.
  */
object Sq8Sidecar {

  val Magic: Array[Byte] = "GRAFTSQ8".getBytes("UTF-8")
  private val HeaderLen = Magic.length + 8

  def writeFile(path: String, dim: Int, codes: Array[Byte]): Unit = {
    require(dim > 0, "dim must be > 0")
    require(codes.length % dim == 0, s"codes length ${codes.length} not a multiple of dim $dim")
    val buf = ByteBuffer.allocate(HeaderLen + codes.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic)
    buf.putInt(dim)
    buf.putInt(codes.length / dim)
    buf.put(codes)
    val target = Paths.get(path)
    Files.createDirectories(target.getParent)
    val tmp = Paths.get(path + s".tmp-${java.util.UUID.randomUUID()}")
    Files.write(tmp, buf.array())
    Files.move(tmp, target, StandardCopyOption.REPLACE_EXISTING, StandardCopyOption.ATOMIC_MOVE)
  }

  def readHeader(path: String): (Int, Int) = {
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try readHeader(ch, path) finally ch.close()
  }

  private def readHeader(ch: FileChannel, path: String): (Int, Int) = {
    val buf = ByteBuffer.allocate(HeaderLen).order(ByteOrder.LITTLE_ENDIAN)
    while (buf.hasRemaining && ch.read(buf) >= 0) {}
    require(!buf.hasRemaining, s"truncated SQ8 sidecar $path")
    buf.flip()
    val magic = new Array[Byte](Magic.length)
    buf.get(magic)
    require(magic.sameElements(Magic), s"not an SQ8 sidecar: $path")
    val dim = buf.getInt
    val nRows = buf.getInt
    require(dim > 0 && nRows >= 0, s"implausible SQ8 header (dim=$dim rows=$nRows) in $path")
    (dim, nRows)
  }

  /** Codes of `ordinals` (sorted ascending, file-local), one positioned
    * read per consecutive-ordinal run — IVF posting lists are ascending and
    * locally clumped, so probed cells coalesce into few IO calls.
    */
  def readRows(path: String, ordinals: Array[Int]): Array[Array[Byte]] = {
    if (ordinals.isEmpty) return Array.empty
    val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
    try {
      val (dim, nRows) = readHeader(ch, path)
      require(
        ordinals.last < nRows && ordinals.head >= 0,
        s"ordinal out of range [0, $nRows) in $path")
      val out = new Array[Array[Byte]](ordinals.length)
      var i = 0
      while (i < ordinals.length) {
        var j = i
        while (j + 1 < ordinals.length && ordinals(j + 1) == ordinals(j) + 1) j += 1
        val run = ByteBuffer.allocate((j - i + 1) * dim)
        var pos = HeaderLen.toLong + ordinals(i).toLong * dim
        while (run.hasRemaining) {
          val n = ch.read(run, pos)
          require(n >= 0, s"unexpected EOF in $path")
          pos += n
        }
        val bytes = run.array()
        var r = i
        while (r <= j) {
          out(r) = java.util.Arrays.copyOfRange(bytes, (r - i) * dim, (r - i + 1) * dim)
          r += 1
        }
        i = j + 1
      }
      out
    } finally ch.close()
  }

  /** Build the per-file code sidecars for a table's embedding column —
    * same distribution shape as the index build: one validated linear scan,
    * quantization to 1-byte-per-element codes BEFORE the per-file
    * `groupByKey` (the shuffle and the per-file buffer carry dim bytes per
    * row, not 4·dim float bytes), sidecars written FROM THE EXECUTOR;
    * driver state is O(files). `only` restricts the scan to those data
    * files (incremental appends). Returns file → rows encoded.
    */
  def build(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default,
      only: Option[Seq[String]] = None): Map[String, Long] = {
    import spark.implicits._
    val all = spark.read
      .parquet(path)
      .select(
        col("_metadata.file_path").as("_file"),
        col("_metadata.row_index").as("_ri"),
        col(column).cast("array<float>").as("_vec"))
    val vecs = only.fold(all)(fs => all.where(col("_file").isin(fs: _*)))
    val (_, dim) = IvfBuilder.validate(vecs, column)
    vecs
      .as[(String, Long, Array[Float])]
      .map { case (file, ri, vec) =>
        require(vec.length == dim, s"dim mismatch at $file:$ri")
        require(
          ri <= Int.MaxValue,
          s"row ordinal $ri in $file exceeds the sidecar's 2^31 rows-per-file limit " +
            "(header stores nRows as i32) — split the file")
        (file, ri.toInt, Sq8.encode(vec))
      }
      .groupByKey(_._1)
      .mapGroups { (file, rows) =>
        val collected = rows.map { case (_, ri, c) => (ri, c) }.toArray
        // rows·dim must fit one JVM byte array (also bounds every ri·dim
        // offset below) — overflow would alloc a negative-sized array
        require(collected.length.toLong * dim <= Int.MaxValue,
          s"$file holds ${collected.length} rows × dim $dim of codes — over the " +
            "2 GiB single-array sidecar limit; split the file")
        val codes = new Array[Byte](collected.length * dim)
        collected.foreach { case (ri, c) =>
          System.arraycopy(c, 0, codes, ri * dim, dim)
        }
        writeFile(store.codesPath(file, column), dim, codes)
        (file, collected.length.toLong)
      }
      .collect()
      .toMap
  }

  /** Header + SIZE intactness probe — the SQ8 twin of
    * [[PqSidecar.headerIfIntact]]: atomic writes rule out crash
    * truncation, but a damaged/partially-copied `.sq8` would otherwise
    * pass the existence check and crash the first query inside an
    * executor task instead of being rebuilt by [[ensure]]. One header
    * read + one `size()` stat, no code bytes touched.
    */
  private[graft] def intact(path: String): Boolean =
    scala.util.Try {
      val ch = FileChannel.open(Paths.get(path), StandardOpenOption.READ)
      try {
        val (dim, nRows) = readHeader(ch, path)
        require(ch.size() >= HeaderLen.toLong + nRows.toLong * dim,
          s"truncated SQ8 sidecar $path: ${ch.size()} bytes, " +
            s"expected >= ${HeaderLen.toLong + nRows.toLong * dim}")
      } finally ch.close()
    }.isSuccess

  /** A code sidecar usable for search: present, bound to the data file's
    * current content, and intact (see [[intact]]).
    */
  private[graft] def usable(store: IndexStore, f: String, column: String): Boolean =
    // memoized store-level (see [[IndexStore.memoizedProbe]]): identity
    // covers the codes sidecar, the .meta binding, and the data file
    IndexStore.memoizedProbe(
      "sq8-usable:" + store.dir, f, column,
      Seq(
        store.codesPath(f, column),
        store.indexPath(f, column).stripSuffix(".pqvec") + ".meta",
        f)) {
      store.existsCodes(f, column) && intact(store.codesPath(f, column))
    }

  /** Build sidecars ONLY for files that lack a USABLE one (idempotent,
    * incremental: an appended file triggers a scan of itself, not of the
    * table; a damaged sidecar classifies as missing and self-heals).
    */
  def ensure(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default): Unit = {
    val missing = IndexManager.listFiles(spark, path)
      .filterNot(f => usable(store, f, column))
    if (missing.nonEmpty) {
      build(spark, path, column, store, only = Some(missing)): Unit
    }
  }
}
