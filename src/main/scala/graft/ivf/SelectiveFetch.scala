package graft.ivf

import java.io.IOException
import java.nio.{ByteOrder, FloatBuffer}
import java.util.stream.{IntStream, LongStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.parquet.bytes.{ByteBufferInputStream, BytesInput, BytesUtils}
import org.apache.parquet.column.{ColumnDescriptor, Dictionary, Encoding, ValuesType}
import org.apache.parquet.column.page.{DataPage, DataPageV1, DataPageV2, PageReadStore}
import org.apache.parquet.column.values.rle.RunLengthBitPackingHybridDecoder
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.ParquetDecodingException
import org.apache.parquet.schema.{MessageType, PrimitiveType}

/** Selective single-column vector fetch — the Spark-side analog of the
  * reference's `read_embeddings_for_rows` (`/root/reference/src/ivf/
  * search.rs:155-244`): given a file and a set of candidate row ordinals,
  * read ONLY the embedding column, ONLY the row groups that contain
  * candidates, and — when the file carries a page/offset index — ONLY the
  * PAGES whose row span holds a candidate (`readFilteredRowGroup` with
  * page-selected `RowRanges`; the reference's `RowSelection` shape,
  * `src/df_vector/access.rs:107-159`). Over `IvfBuilder.rewriteWithIndex`
  * output (1 row per page) this is true point-read IO, like the reference's
  * 1-row-page + selection pairing; over standard files it degrades
  * gracefully to row-group granularity. Reads go through Hadoop's local
  * filesystem, so `.crc` checksums are verified.
  *
  * The selected pages are decoded page by page ([[PageDecoder]]), not
  * through parquet-mr's record assembly: the repetition and definition
  * levels of each `DataPage` (V1 or V2) are decoded into int arrays, one
  * pass maps records to value offsets, and only candidate rows are
  * materialized. Encoding coverage:
  *   - levels (RLE/bit-packed hybrid, or the deprecated `BIT_PACKED`) go
  *     through parquet's own level decoders;
  *   - PLAIN float pages are read straight out of a little-endian
  *     `FloatBuffer` view, with one bulk copy per row;
  *   - every other value encoding (PLAIN doubles, dictionary pages,
  *     `BYTE_STREAM_SPLIT`, …) is decoded through parquet's own
  *     `ValuesReader` into a reusable array.
  * A page that cannot be decoded (truncated or corrupt) is refused with an
  * `IllegalStateException` naming the file and row group.
  *
  * Null vectors, null elements and empty lists yield no output row (the
  * engine-wide skip-don't-error semantics); callers drop rows of another
  * dim. f64 embedding columns are downcast to f32 with `toFloat`, like the
  * reference (`src/ivf/parquet.rs:287-291`). Negative ordinals and
  * ordinals at or beyond the row count are ignored.
  */
object SelectiveFetch {

  /** Leaf column descriptor + projected schema for an `array<float/double>`
    * column written in the standard 3-level LIST layout.
    */
  private def project(schema: MessageType, column: String): (MessageType, ColumnDescriptor) = {
    val fieldIdx = schema.getFieldIndex(column)
    require(fieldIdx >= 0, s"column '$column' not in schema")
    val projected = new MessageType(schema.getName, schema.getType(fieldIdx))
    val cols = projected.getColumns.asScala
    require(
      cols.size == 1,
      s"column '$column' is not a single-leaf list column (leaves: ${cols.size})")
    (projected, cols.head)
  }

  /** Read the vectors at `ordinals` (file-absolute row ordinals, any order)
    * from `file`'s `column`. Returns (ordinal, vector) pairs, ordinal
    * ascending; rows whose vector is null, empty or contains nulls are
    * omitted.
    */
  def embeddings(
      file: String, column: String, ordinals: Array[Int]): Seq[(Long, Array[Float])] = {
    val sorted = ordinals.filter(_ >= 0).distinct.sorted
    if (sorted.isEmpty) return Seq.empty
    val out = new ArrayBuffer[(Long, Array[Float])](sorted.length)

    val reader = IndexStore.openParquet(IndexStore.localPath(file))
    try {
      val footer = reader.getFooter
      val (projected, desc) = project(footer.getFileMetaData.getSchema, column)
      reader.setRequestedSchema(projected)
      val decoder = new PageDecoder(desc, file)

      var groupStart = 0L // first file-absolute ordinal of the current group
      var ci = 0 // cursor into sorted ordinals
      footer.getBlocks.asScala.zipWithIndex.foreach { case (block, blockIdx) =>
        val rows = block.getRowCount
        val groupEnd = groupStart + rows
        val lo = ci
        while (ci < sorted.length && sorted(ci) < groupEnd) ci += 1
        val groupCands = java.util.Arrays.copyOfRange(sorted, lo, ci)
        if (groupCands.nonEmpty) {
          // page-granular row selection when the file has an offset index;
          // whole-group ranges otherwise (groups without candidates are
          // never touched at all — random access by block index)
          val chunk = block.getColumns.asScala
            .find(c => c.getPath.toArray.sameElements(desc.getPath))
            .getOrElse(throw new IllegalStateException(
              s"column chunk for '$column' missing in row group $blockIdx of $file"))
          val offsetIndex = Try(reader.readOffsetIndex(chunk)).getOrElse(null)
          val ranges =
            if (offsetIndex == null) RowRanges.createSingle(rows)
            else {
              val selected = (0 until offsetIndex.getPageCount).filter { p =>
                val first = groupStart + offsetIndex.getFirstRowIndex(p)
                val last = groupStart + offsetIndex.getLastRowIndex(p, rows)
                // any candidate in [first, last]?
                var idx = java.util.Arrays.binarySearch(groupCands, first.toInt)
                if (idx < 0) idx = -idx - 1
                idx < groupCands.length && groupCands(idx) <= last
              }
              RowRanges.create(
                rows,
                IntStream.of(selected.toArray: _*).iterator(),
                offsetIndex)
            }
          // typed as the interface: the concrete ColumnChunkPageReadStore's
          // covariant close() override is package-private to callers
          val pages: PageReadStore = reader.readFilteredRowGroup(blockIdx, ranges)
          try decoder.decodeGroup(pages, blockIdx, groupStart, groupCands, out)
          finally pages.close()
        }
        groupStart = groupEnd
      }
    } finally reader.close()
    out.toSeq
  }

  /** Page-level decoder of one `array<float|double>` leaf column. Holds
    * reusable level/value buffers, so one instance serves every row group
    * of one file; not thread-safe.
    */
  private[ivf] final class PageDecoder(desc: ColumnDescriptor, file: String) {
    private val isDouble =
      desc.getPrimitiveType.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.DOUBLE
    private val maxRep = desc.getMaxRepetitionLevel
    private val maxDef = desc.getMaxDefinitionLevel

    private var reps = new Array[Int](0)
    private var defs = new Array[Int](0)
    private var acc = new Array[Float](0) // a kept record's values on earlier pages
    private var accLen = 0

    // the current page's values: a view of a PLAIN float page, else `vals`
    private var floats: FloatBuffer = _
    private var vals = new Array[Float](0)

    /** Decode the candidate rows of one (possibly page-filtered) row group
      * into `out`, ordinal ascending. Rows arrive in ascending order: the
      * store's row indexes when page-filtered, else 0 until rowCount.
      */
    def decodeGroup(
        pages: PageReadStore,
        blockIdx: Int,
        groupStart: Long,
        cands: Array[Int],
        out: ArrayBuffer[(Long, Array[Float])]): Unit = {
      val reader = pages.getPageReader(desc)
      val dictPage = reader.readDictionaryPage()
      val dict = if (dictPage == null) null else dictPage.getEncoding.initDictionary(desc, dictPage)
      val filtered = pages.getRowIndexes.isPresent
      val rowIdx = pages.getRowIndexes
        .orElseGet(() => LongStream.range(0L, pages.getRowCount).iterator())

      var cj = 0 // cursor into cands
      var open = false // a record is in progress
      var keep = false // ... it is a candidate and has no null list/element so far
      var ordinal = 0L
      var segStart = 0 // its first value in the current page
      accLen = 0

      var page = reader.readPage()
      while (page != null) {
        val n = page.getValueCount
        loadPage(page, dict, blockIdx)
        val reps = this.reps
        val defs = this.defs
        if (filtered && n > 0 && reps(0) != 0)
          throw new IllegalStateException(
            s"page in row group $blockIdx of $file starts inside a record " +
              s"(repetition level ${reps(0)}); its rows cannot be taken from the offset index")
        // one pass: a record starts at repetition level 0 (or at the chunk's
        // first entry, as in parquet's own reader); only defined entries
        // hold a value
        var v = 0 // value index within the page
        var i = 0
        while (i < n) {
          if (reps(i) == 0 || !open) {
            if (keep) emit(ordinal, segStart, v, out)
            if (cj == cands.length) return // no candidate left in this group
            ordinal = groupStart + rowIdx.nextLong()
            while (cj < cands.length && cands(cj) < ordinal) cj += 1
            keep = cj < cands.length && cands(cj) == ordinal
            if (keep) cj += 1
            open = true
            segStart = v
            accLen = 0
          }
          if (defs(i) == maxDef) v += 1 else keep = false
          i += 1
        }
        // the open record may continue on the next page (whole-group path)
        if (keep) {
          val segLen = v - segStart
          if (acc.length < accLen + segLen)
            acc = java.util.Arrays.copyOf(acc, math.max(accLen + segLen, 2 * acc.length))
          copyValues(segStart, acc, accLen, segLen)
          accLen += segLen
        }
        segStart = 0
        if (cj == cands.length && !keep) return
        page = reader.readPage()
      }
      if (keep) emit(ordinal, 0, 0, out)
    }

    /** Emit a record: its values on earlier pages (`acc`), then values
      * `[segStart, end)` of the current page.
      */
    private def emit(
        ordinal: Long, segStart: Int, end: Int, out: ArrayBuffer[(Long, Array[Float])]): Unit = {
      val segLen = end - segStart
      val vec = new Array[Float](accLen + segLen)
      System.arraycopy(acc, 0, vec, 0, accLen)
      copyValues(segStart, vec, accLen, segLen)
      out += ((ordinal, vec))
    }

    /** Copy values `[from, from + len)` of the current page to `dst`. */
    private def copyValues(from: Int, dst: Array[Float], off: Int, len: Int): Unit =
      if (floats != null) floats.get(from, dst, off, len)
      else System.arraycopy(vals, from, dst, off, len)

    /** Decode `page`'s levels into `reps`/`defs` and set up its values. A
      * page that cannot be decoded is refused naming the file and row group.
      */
    private def loadPage(page: DataPage, dict: Dictionary, blockIdx: Int): Unit = {
      val n = page.getValueCount
      if (reps.length < n) {
        reps = new Array[Int](n)
        defs = new Array[Int](n)
      }
      try page match {
        case p: DataPageV1 =>
          val in = p.getBytes.toInputStream
          levelsV1(p.getRlEncoding, ValuesType.REPETITION_LEVEL, in, n, reps)
          levelsV1(p.getDlEncoding, ValuesType.DEFINITION_LEVEL, in, n, defs)
          loadValues(p.getValueEncoding, in, n, dict)
        case p: DataPageV2 =>
          levelsV2(p.getRepetitionLevels, maxRep, n, reps)
          levelsV2(p.getDefinitionLevels, maxDef, n, defs)
          loadValues(p.getDataEncoding, p.getData.toInputStream, n, dict)
        case other =>
          throw new IllegalStateException(s"unsupported page type ${other.getClass} in $file")
      } catch {
        case e @ (_: ParquetDecodingException | _: IOException) =>
          throw new IllegalStateException(s"unreadable page in row group $blockIdx of $file", e)
      }
    }

    /** V1 levels (RLE with its length prefix, or `BIT_PACKED`). */
    private def levelsV1(
        enc: Encoding, tpe: ValuesType, in: ByteBufferInputStream, n: Int, dst: Array[Int]): Unit = {
      val r = enc.getValuesReader(desc, tpe)
      r.initFromPage(n, in)
      var i = 0
      while (i < n) { dst(i) = r.readInteger(); i += 1 }
    }

    /** V2 levels: RLE without a length prefix; none stored at level 0. */
    private def levelsV2(bytes: BytesInput, maxLevel: Int, n: Int, dst: Array[Int]): Unit =
      if (maxLevel == 0) java.util.Arrays.fill(dst, 0, n, 0)
      else {
        val d = new RunLengthBitPackingHybridDecoder(
          BytesUtils.getWidthFromMaxInt(maxLevel), bytes.toInputStream)
        var i = 0
        while (i < n) { dst(i) = d.readInt(); i += 1 }
      }

    /** Set up the page's values from its value section (`in`), which holds
      * one value per defined entry among `n`: a view for PLAIN floats, else
      * parquet's own (dictionary-based) `ValuesReader` into `vals`.
      */
    private def loadValues(enc: Encoding, in: ByteBufferInputStream, n: Int, dict: Dictionary): Unit = {
      var nVals = 0
      var i = 0
      while (i < n) { if (defs(i) == maxDef) nVals += 1; i += 1 }
      if (enc == Encoding.PLAIN && !isDouble) {
        floats = in.slice(in.available()).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
        if (floats.remaining < nVals)
          throw new ParquetDecodingException(
            s"PLAIN page holds ${floats.remaining} of its $nVals values")
      } else {
        floats = null
        val r =
          if (!enc.usesDictionary) enc.getValuesReader(desc, ValuesType.VALUES)
          else if (dict == null)
            throw new ParquetDecodingException("dictionary-encoded page without a dictionary page")
          else enc.getDictionaryBasedValuesReader(desc, ValuesType.VALUES, dict)
        r.initFromPage(n, in)
        if (vals.length < nVals) vals = new Array[Float](nVals)
        var k = 0
        while (k < nVals) {
          vals(k) = if (isDouble) r.readDouble().toFloat else r.readFloat()
          k += 1
        }
      }
    }
  }
}
