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
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.{MessageType, PrimitiveType, Type}

/** The one reader of a file's `array<float|double>` embedding column, for
  * search and build alike.
  *
  * Search ([[embeddings]]) is the Spark-side analog of the reference's
  * `read_embeddings_for_rows` (its `src/ivf/search.rs:155-244`):
  * given a file and a set of candidate row ordinals, read ONLY the
  * embedding column, ONLY the row groups that contain candidates, and —
  * when the file carries a page/offset index — ONLY the PAGES whose row span
  * holds a candidate (`readFilteredRowGroup` with page-selected `RowRanges`;
  * the reference's `RowSelection` shape, `src/df_vector/access.rs:107-159`).
  * Over `IvfBuilder.rewriteWithIndex` output (1 row per page) this is true
  * point-read IO, like the reference's 1-row-page + selection pairing; over
  * standard files it degrades gracefully to row-group granularity.
  *
  * Build ([[scanFile]]) streams every row of one file — the reference's
  * per-file flat read (`src/ivf/parquet.rs:216-305`) — and summarizes the
  * column for validation; every `IvfBuilder` per-file pass (validate,
  * assign, encode, radii, drift) reads through it.
  *
  * Reads go through Hadoop's local filesystem, so `.crc` checksums are
  * verified. The pages are decoded page by page ([[PageDecoder]]), not
  * through parquet-mr's record assembly: the repetition and definition
  * levels of each `DataPage` (V1 or V2) are decoded into int arrays, one
  * pass maps records to value offsets, and only wanted rows are
  * materialized. Encoding coverage:
  *   - levels (RLE/bit-packed hybrid, or the deprecated `BIT_PACKED`) go
  *     through parquet's own level decoders;
  *   - PLAIN float pages are read straight out of a little-endian
  *     `FloatBuffer` view, with one bulk copy per row;
  *   - every other value encoding (PLAIN doubles, dictionary pages,
  *     `BYTE_STREAM_SPLIT`, …) is decoded through parquet's own
  *     `ValuesReader` into a reusable array.
  * A page that cannot be decoded (truncated or corrupt) is refused with an
  * `IllegalStateException` naming the file and row group; a column that is
  * not a list of float or double is refused with an
  * `IllegalArgumentException` naming its element type.
  *
  * Null vectors, null elements and empty lists yield no output row (the
  * engine-wide skip-don't-error semantics; [[scanFile]] counts them);
  * callers drop rows of another dim. f64 embedding columns are downcast to
  * f32 with `toFloat`, like the reference (`src/ivf/parquet.rs:287-291`).
  * Negative ordinals and ordinals at or beyond the row count are ignored.
  */
object SelectiveFetch {

  /** Leaf column descriptor + projected schema for an `array<float/double>`
    * column (the standard 3-level LIST layout, or a bare repeated leaf).
    */
  private def project(
      schema: MessageType, column: String, file: String): (MessageType, ColumnDescriptor) = {
    val fieldIdx = schema.getFieldIndex(column)
    require(fieldIdx >= 0, s"column '$column' not in schema")
    val projected = new MessageType(schema.getName, schema.getType(fieldIdx))
    val cols = projected.getColumns.asScala
    require(
      cols.size == 1,
      s"column '$column' is not a single-leaf list column (leaves: ${cols.size})")
    val desc = cols.head
    require(desc.getMaxRepetitionLevel == 1, s"column '$column' in $file is not a list column")
    val leaf = desc.getPrimitiveType.getPrimitiveTypeName
    require(
      leaf == PrimitiveType.PrimitiveTypeName.FLOAT || leaf == PrimitiveType.PrimitiveTypeName.DOUBLE,
      s"column '$column' holds $leaf elements in $file; vectors must be float or double")
    (projected, desc)
  }

  /** Open `file` with only `column` requested, and decode it with `f`. */
  private def withColumn[T](file: String, column: String)(
      f: (ParquetFileReader, PageDecoder) => T): T = {
    val reader = IndexStore.openParquet(IndexStore.localPath(file))
    try {
      val (projected, desc) = project(reader.getFooter.getFileMetaData.getSchema, column, file)
      reader.setRequestedSchema(projected)
      f(reader, new PageDecoder(desc, file))
    } finally reader.close()
  }

  /** What [[scanFile]] saw of a file's column: every row, the rows whose
    * vector is null, the non-null rows holding a null element, and the
    * min/max list length (null elements included, like Spark's `size`)
    * over non-null rows — an empty list counts as length 0. A file
    * without non-null rows reports `minDim > maxDim`.
    */
  final case class ColumnSummary(
      rows: Long, nullVectors: Long, nullElements: Long, minDim: Int, maxDim: Int) {
    def merge(o: ColumnSummary): ColumnSummary = ColumnSummary(
      rows + o.rows, nullVectors + o.nullVectors, nullElements + o.nullElements,
      math.min(minDim, o.minDim), math.max(maxDim, o.maxDim))
  }

  object ColumnSummary {
    val Empty: ColumnSummary = ColumnSummary(0L, 0L, 0L, Int.MaxValue, Int.MinValue)
  }

  /** Stream every row of `file`'s `column`, in ordinal order, and summarize
    * the column. `visit(ordinal, vec)` sees each row holding a complete
    * vector (non-null, non-empty, no null element); `vec` is a buffer
    * reused across rows, valid only during the call. `visit = null` only
    * summarizes.
    */
  def scanFile(file: String, column: String)(visit: (Long, Array[Float]) => Unit): ColumnSummary =
    withColumn(file, column) { (reader, decoder) =>
      var groupStart = 0L
      reader.getRowGroups.asScala.indices.foreach { blockIdx =>
        // typed as the interface: see embeddings
        val pages: PageReadStore = reader.readRowGroup(blockIdx)
        try decoder.scanGroup(pages, blockIdx, groupStart, visit)
        finally pages.close()
        groupStart += pages.getRowCount
      }
      decoder.summary
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

    withColumn(file, column) { (reader, decoder) =>
      val footer = reader.getFooter
      val desc = decoder.desc
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
    }
    out.toSeq
  }

  /** Page-level decoder of one `array<float|double>` leaf column. Holds
    * reusable level/value buffers, so one instance serves every row group
    * of one file; not thread-safe.
    */
  private[ivf] final class PageDecoder(val desc: ColumnDescriptor, file: String) {
    private val isDouble =
      desc.getPrimitiveType.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.DOUBLE
    private val maxRep = desc.getMaxRepetitionLevel
    private val maxDef = desc.getMaxDefinitionLevel

    // the definition level at which a record has an element slot (a
    // value at maxDef, else a null element); one below, an empty list;
    // lower still, a null vector
    private val slotDef =
      if (desc.getPrimitiveType.isRepetition(Type.Repetition.OPTIONAL)) maxDef - 1 else maxDef

    private var reps = new Array[Int](0)
    private var defs = new Array[Int](0)
    private var acc = new Array[Float](0) // a kept record's values on earlier pages
    private var accLen = 0

    // the current page's values: a view of a PLAIN float page, else `vals`
    private var floats: FloatBuffer = _
    private var vals = new Array[Float](0)

    // scanGroup's running summary, and the buffer it hands to `visit`
    private var rows = 0L
    private var nullVectors = 0L
    private var nullElements = 0L
    private var minDim = Int.MaxValue
    private var maxDim = Int.MinValue
    private var buf = new Array[Float](0)

    /** The summary of every row group [[scanGroup]] has read. */
    def summary: SelectiveFetch.ColumnSummary =
      ColumnSummary(rows, nullVectors, nullElements, minDim, maxDim)

    /** Read every row of one whole row group: count it into [[summary]]
      * and hand each complete vector to `visit` (when not null), ordinal
      * ascending. A group whose pages hold another record count than its
      * row count is refused.
      */
    def scanGroup(
        pages: PageReadStore,
        blockIdx: Int,
        groupStart: Long,
        visit: (Long, Array[Float]) => Unit): Unit = {
      val reader = pages.getPageReader(desc)
      val dictPage = reader.readDictionaryPage()
      val dict = if (dictPage == null) null else dictPage.getEncoding.initDictionary(desc, dictPage)

      var open = false // a record is in progress
      var ordinal = groupStart - 1
      var slots = 0 // its element slots so far (Spark's `size`)
      var isNull = false
      var nullElem = false
      var segStart = 0 // its first value in the current page
      accLen = 0

      var page = reader.readPage()
      while (page != null) {
        val n = page.getValueCount
        loadPage(page, dict, blockIdx)
        val reps = this.reps
        val defs = this.defs
        var v = 0 // value index within the page
        var i = 0
        while (i < n) {
          if (reps(i) == 0 || !open) {
            if (open) finish(ordinal, slots, isNull, nullElem, segStart, v, visit)
            open = true
            ordinal += 1
            slots = 0
            isNull = false
            nullElem = false
            segStart = v
            accLen = 0
          }
          val d = defs(i)
          if (d == maxDef) { v += 1; slots += 1 }
          else if (d >= slotDef) { slots += 1; nullElem = true }
          else if (d < slotDef - 1) isNull = true
          i += 1
        }
        // the open record may continue on the next page
        if (open && visit != null && !isNull && !nullElem) carry(segStart, v)
        segStart = 0
        page = reader.readPage()
      }
      if (open) finish(ordinal, slots, isNull, nullElem, 0, 0, visit)
      val seen = ordinal + 1 - groupStart
      if (seen != pages.getRowCount)
        throw new IllegalStateException(
          s"row group $blockIdx of $file holds ${pages.getRowCount} rows but its pages $seen records")
    }

    /** Count a finished record; visit it if it is a complete vector: its
      * values on earlier pages (`acc`), then `[segStart, end)` of the page.
      */
    private def finish(
        ordinal: Long, slots: Int, isNull: Boolean, nullElem: Boolean,
        segStart: Int, end: Int, visit: (Long, Array[Float]) => Unit): Unit = {
      rows += 1
      if (isNull) nullVectors += 1
      else {
        if (nullElem) nullElements += 1
        if (slots < minDim) minDim = slots
        if (slots > maxDim) maxDim = slots
        if (visit != null && !nullElem && slots > 0) {
          val segLen = end - segStart
          if (buf.length != accLen + segLen) buf = new Array[Float](accLen + segLen)
          System.arraycopy(acc, 0, buf, 0, accLen)
          copyValues(segStart, buf, accLen, segLen)
          visit(ordinal, buf)
        }
      }
    }

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
        if (keep) carry(segStart, v)
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

    /** Append values `[segStart, end)` of the current page to `acc`. */
    private def carry(segStart: Int, end: Int): Unit = {
      val segLen = end - segStart
      if (acc.length < accLen + segLen)
        acc = java.util.Arrays.copyOf(acc, math.max(accLen + segLen, 2 * acc.length))
      copyValues(segStart, acc, accLen, segLen)
      accLen += segLen
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
