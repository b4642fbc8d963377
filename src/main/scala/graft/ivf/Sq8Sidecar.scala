package graft.ivf

import java.nio.{ByteBuffer, ByteOrder}

import org.apache.spark.sql.SparkSession

import graft.functions.Sq8
import graft.ivf.IndexStore.{CodeCodec, CodeHeader, Sidecar}

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
  * (nRows·dim bytes)`. This object is the codec (header layout and
  * encoder); naming, binding, atomic writes and row reads are
  * [[IndexStore]]'s, whose class doc tables every sidecar family.
  */
object Sq8Sidecar {

  val Magic: Array[Byte] = "GRAFTSQ8".getBytes("UTF-8")
  private val HeaderLen = Magic.length + 8

  final case class Header(dim: Int, nRows: Int) extends CodeHeader {
    def width: Int = dim
    def codesOffset: Long = HeaderLen.toLong
  }

  /** The header codec [[IndexStore.CodeReader]] opens this family with. */
  object Header extends CodeCodec[Header] {
    val name = "SQ8"
    val headerBytes: Int = HeaderLen

    def parseHeader(buf: ByteBuffer, path: String): Header = {
      val magic = new Array[Byte](Magic.length)
      buf.get(magic)
      require(magic.sameElements(Magic), s"not an SQ8 sidecar: $path")
      val dim = buf.getInt
      val nRows = buf.getInt
      require(dim > 0 && nRows >= 0, s"implausible SQ8 header (dim=$dim rows=$nRows) in $path")
      Header(dim, nRows)
    }
  }

  /** A whole `.sq8` file: header, then `codes` (row-ordinal order). */
  def fileBytes(dim: Int, codes: Array[Byte]): Array[Byte] = {
    require(dim > 0, "dim must be > 0")
    require(codes.length % dim == 0, s"codes length ${codes.length} not a multiple of dim $dim")
    val buf = ByteBuffer.allocate(HeaderLen + codes.length).order(ByteOrder.LITTLE_ENDIAN)
    buf.put(Magic)
    buf.putInt(dim)
    buf.putInt(codes.length / dim)
    buf.put(codes)
    buf.array()
  }

  /** Build the per-file code sidecars for a table's embedding column —
    * same distribution shape as the index build: a per-file validation
    * pass, then one task per file that streams its vectors, quantizes them
    * to 1-byte-per-element codes (the per-file buffer holds dim bytes per
    * row, not 4·dim float bytes) and writes its sidecar FROM THE EXECUTOR
    * ([[IvfBuilder.writeCodes]]); no shuffle, driver state is O(files).
    * `only` restricts both passes to those data files (incremental
    * appends); when they hold no rows, their empty sidecars take the dim
    * from the table's existing ones. Returns file → rows encoded.
    */
  def build(
      spark: SparkSession,
      path: String,
      column: String,
      store: IndexStore = IndexStore.default,
      only: Option[Seq[String]] = None): Map[String, Long] = {
    val files = only.getOrElse(IndexManager.listFiles(spark, path))
    val (n, filesDim) = IvfBuilder.validate(spark, files, column)
    val dim =
      if (n > 0 || only.isEmpty) filesDim
      else IndexManager.listFiles(spark, path).iterator
        .flatMap(store.intact(_, column, Sidecar.Sq8, Header))
        .map(_.dim).nextOption().getOrElse(0)
    require(dim > 0, "cannot build IVF index over zero vectors")
    IvfBuilder.writeCodes(spark, files, store, column, Sidecar.Sq8, dim)(
      Sq8.encode, fileBytes(dim, _))
  }

  /** A code sidecar usable for search: present, bound to the data file's
    * current content, and intact ([[IndexStore.intactHeader]]); memoized
    * store-level ([[IndexStore.memoizedProbe]]).
    */
  private[graft] def usable(store: IndexStore, f: String, column: String): Boolean =
    store.memoized("sq8-usable", f, column, Sidecar.Sq8) {
      store.intact(f, column, Sidecar.Sq8, Header).isDefined
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
