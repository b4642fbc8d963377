package graft.ivf

import java.io.IOException
import java.nio.{BufferUnderflowException, ByteBuffer, ByteOrder, FloatBuffer}
import java.util.stream.{IntStream, LongStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.parquet.bytes.{ByteBufferInputStream, BytesInput, BytesUtils}
import org.apache.parquet.column.{ColumnDescriptor, Dictionary, Encoding, ValuesType}
import org.apache.parquet.column.page.{DataPage, DataPageV1, DataPageV2, PageReadStore, PageReader}
import org.apache.parquet.column.values.ValuesReader
import org.apache.parquet.column.values.bitpacking.Packer
import org.apache.parquet.column.values.rle.RunLengthBitPackingHybridDecoder
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.ParquetDecodingException
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.datasources.DataSourceUtils
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The one page-level reader of parquet files: a file's
  * `array<float|double>` embedding column, for search and build alike, and
  * the flat payload columns of a top-k's winner rows.
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
  * Payload ([[payload]]) reads the winners' rows of a file's flat columns
  * the same way — one read per row group, of only the pages that hold a
  * winner — decoded straight into Spark's internal values.
  *
  * Build ([[scanFile]]) streams every row of one file — the reference's
  * per-file flat read (`src/ivf/parquet.rs:216-305`) — and summarizes the
  * column for validation; every `IvfBuilder` per-file pass (validate,
  * assign, encode, radii, drift) reads through it.
  *
  * Reads go through Hadoop's local filesystem, so `.crc` checksums are
  * verified. The pages are decoded page by page ([[PageDecoder]]), not
  * through parquet-mr's record assembly, and only wanted rows are
  * materialized. Encoding coverage:
  *   - vector levels: a page whose levels are RLE/bit-packed hybrid runs
  *     (V1 or V2), all fully defined, and which starts a record is read in
  *     run mode: its record starts come from the repetition runs, in
  *     O(records + runs), and its value index is its entry index. Every
  *     other page (a null vector, null element or empty list on it, the
  *     deprecated `BIT_PACKED` levels, a page that starts inside a record)
  *     decodes each level through parquet's own decoders into int arrays
  *     and maps records to value offsets in one pass over its entries
  *     ([[LeafPages]]);
  *   - PLAIN float pages are read straight out of a little-endian
  *     `FloatBuffer` view, with one bulk copy per row;
  *   - every other value encoding (PLAIN doubles, dictionary pages,
  *     `BYTE_STREAM_SPLIT`, …) is decoded through parquet's own
  *     `ValuesReader` into a reusable array;
  *   - flat payload columns decode their levels per value, and read each
  *     wanted value through parquet's own (dictionary-based)
  *     `ValuesReader`, skipping the others.
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

  /** Open `file` with only `column` requested, and decode it with `f`;
    * `runs = false` decodes every page per value (see [[LeafPages]]).
    */
  private[ivf] def withColumn[T](file: String, column: String, runs: Boolean = true)(
      f: (ParquetFileReader, PageDecoder) => T): T = {
    val reader = IndexStore.openParquet(IndexStore.localPath(file))
    try {
      val (projected, desc) = project(reader.getFooter.getFileMetaData.getSchema, column, file)
      reader.setRequestedSchema(projected)
      f(reader, new PageDecoder(desc, file, runs))
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
    withColumn(file, column)(scan(_, _, visit))

  /** [[scanFile]] over an open file. */
  private[ivf] def scan(
      reader: ParquetFileReader, decoder: PageDecoder,
      visit: (Long, Array[Float]) => Unit): ColumnSummary = {
    var groupStart = 0L
    reader.getRowGroups.asScala.indices.foreach { blockIdx =>
      // typed as the interface: see fetch
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
    if (sorted.isEmpty) Seq.empty else withColumn(file, column)(fetch(_, _, sorted))
  }

  /** [[embeddings]] over an open file, of `sorted` (ascending, distinct,
    * non-negative ordinals).
    */
  private[ivf] def fetch(
      reader: ParquetFileReader, decoder: PageDecoder,
      sorted: Array[Int]): Seq[(Long, Array[Float])] = {
    val out = new ArrayBuffer[(Long, Array[Float])](sorted.length)
    eachGroup(reader, sorted) { (blockIdx, groupStart, groupCands) =>
      val ranges = pageRanges(reader, blockIdx, groupStart, groupCands, decoder.desc, decoder.file)
      // typed as the interface: the concrete ColumnChunkPageReadStore's
      // covariant close() override is package-private to callers
      val pages: PageReadStore = reader.readFilteredRowGroup(blockIdx, ranges)
      try decoder.decodeGroup(pages, blockIdx, groupStart, groupCands, out)
      finally pages.close()
    }
    out.toSeq
  }

  /** For each row group holding some of `sorted` (file-absolute ordinals,
    * ascending, distinct): `f(blockIdx, groupStart, groupOrdinals)`. Groups
    * without a wanted ordinal are never touched (random access by block
    * index).
    */
  private def eachGroup(reader: ParquetFileReader, sorted: Array[Int])(
      f: (Int, Long, Array[Int]) => Unit): Unit = {
    var groupStart = 0L // first file-absolute ordinal of the current group
    var ci = 0 // cursor into sorted ordinals
    reader.getFooter.getBlocks.asScala.zipWithIndex.foreach { case (block, blockIdx) =>
      val groupEnd = groupStart + block.getRowCount
      val lo = ci
      while (ci < sorted.length && sorted(ci) < groupEnd) ci += 1
      if (ci > lo) f(blockIdx, groupStart, java.util.Arrays.copyOfRange(sorted, lo, ci))
      groupStart = groupEnd
    }
  }

  /** The rows of the pages of `desc` in row group `blockIdx` that hold one
    * of `groupCands`, from the column's offset index; the whole group when
    * the chunk has none.
    */
  private def pageRanges(
      reader: ParquetFileReader, blockIdx: Int, groupStart: Long, groupCands: Array[Int],
      desc: ColumnDescriptor, file: String): RowRanges = {
    val block = reader.getFooter.getBlocks.get(blockIdx)
    val rows = block.getRowCount
    val chunk = block.getColumns.asScala
      .find(c => c.getPath.toArray.sameElements(desc.getPath))
      .getOrElse(throw new IllegalStateException(
        s"column chunk for '${desc.getPath.mkString(".")}' missing in row group $blockIdx of $file"))
    val offsetIndex = Try(reader.readOffsetIndex(chunk)).getOrElse(null)
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
      RowRanges.create(rows, IntStream.of(selected.toArray: _*).iterator(), offsetIndex)
    }
  }

  /** A payload column: its name in the table schema and the Spark type it
    * is read as (an atomic type, see [[leafReader]]).
    */
  final case class PayloadColumn(name: String, dataType: DataType)

  /** The session's datetime rebase modes for parquet reads
    * (`spark.sql.parquet.datetimeRebaseModeInRead`,
    * `spark.sql.parquet.int96RebaseModeInRead`), applied per file as
    * Spark's own reader applies them.
    */
  final case class RebaseModes(datetime: String, int96: String)

  /** Read `columns` at `ordinals` (file-absolute, ascending, distinct,
    * within the file) of `file`. Returns `(values, pages)`: `values(c)(i)`
    * is column c's value at `ordinals(i)` in Spark's internal form — null
    * where the value is null or the file lacks the column — and `pages` the
    * number of pages decoded. The file is opened once, and each row group
    * holding an ordinal is read once, with only the pages (of every
    * column) whose rows hold one.
    */
  def payload(
      file: String,
      ordinals: Array[Int],
      columns: Seq[PayloadColumn],
      modes: RebaseModes): (Array[Array[Any]], Int) = {
    val out = Array.fill(columns.size)(new Array[Any](ordinals.length))
    if (ordinals.isEmpty || columns.isEmpty) return (out, 0)
    val reader = IndexStore.openParquet(IndexStore.localPath(file))
    try {
      val meta = reader.getFooter.getFileMetaData
      val schema = meta.getSchema
      val kv = meta.getKeyValueMetaData
      val lookup: String => String = k => kv.get(k)
      val datetime = DataSourceUtils.datetimeRebaseSpec(lookup, modes.datetime)
      val rebases = Rebases(
        DataSourceUtils.createDateRebaseFuncInRead(datetime.mode, "Parquet"),
        DataSourceUtils.createTimestampRebaseFuncInRead(datetime, "Parquet"),
        DataSourceUtils.createTimestampRebaseFuncInRead(
          DataSourceUtils.int96RebaseSpec(lookup, modes.int96), "Parquet INT96"))
      // the file's leaf of each column it holds (a column it lacks reads as
      // nulls, as Spark reads it)
      val leaves = columns.zipWithIndex.flatMap { case (c, ci) =>
        fileField(schema, c.name).map { field =>
          val desc = new MessageType(schema.getName, field).getColumns.get(0)
          require(
            field.isPrimitive && desc.getMaxRepetitionLevel == 0,
            s"payload column '${c.name}' in $file is not a flat primitive column")
          (ci, field, new FlatDecoder(
            desc, file, leafReader(desc.getPrimitiveType, c.dataType, c.name, file, rebases)))
        }
      }
      if (leaves.isEmpty) return (out, 0)
      reader.setRequestedSchema(
        new MessageType(schema.getName, leaves.map(_._2).distinct.asJava))
      var i = 0 // cursor into ordinals, over all groups
      eachGroup(reader, ordinals) { (blockIdx, groupStart, groupCands) =>
        // one read per group: every column's pages holding a winner, IO
        // coalesced across columns (a column may also get a page that
        // holds only another column's winners)
        val ranges = leaves.map { case (_, _, d) =>
          pageRanges(reader, blockIdx, groupStart, groupCands, d.desc, file)
        }.reduce(RowRanges.union)
        val pages: PageReadStore = reader.readFilteredRowGroup(blockIdx, ranges)
        try leaves.foreach { case (ci, _, d) =>
          val col = out(ci)
          val base = i
          d.decodeGroup(pages, blockIdx, groupStart, groupCands, (j, v) => col(base + j) = v)
        } finally pages.close()
        i += groupCands.length
      }
      (out, leaves.map(_._3.pagesRead).sum)
    } finally reader.close()
  }

  /** The top-level field `name` of a file schema: an exact match, else the
    * one case-insensitive match (Spark's default resolution).
    */
  private def fileField(schema: MessageType, name: String): Option[Type] =
    if (schema.containsField(name)) Some(schema.getType(schema.getFieldIndex(name)))
    else schema.getFields.asScala.filter(_.getName.equalsIgnoreCase(name)).toList match {
      case one :: Nil => Some(one)
      case _ => None
    }

  /** A file's datetime rebase functions, from its footer and the session's
    * modes (see [[RebaseModes]]).
    */
  private final case class Rebases(date: Int => Int, timestamp: Long => Long, int96: Long => Long)

  /** How one value of a flat leaf is read into Spark's internal form for
    * `dt`, covering the parquet physical and logical types Spark maps to
    * that atomic type: ints of every width (unsigned ones widened, as Spark
    * infers them), dates, timestamps (`MILLIS`/`MICROS` INT64 and INT96,
    * rebased like Spark's reader), decimals backed by INT32, INT64, BINARY
    * or FIXED_LEN_BYTE_ARRAY, strings and binaries. Any other pairing is
    * refused naming the column and file.
    */
  private def leafReader(
      pt: PrimitiveType, dt: DataType, name: String, file: String,
      rebases: Rebases): ValuesReader => Any = {
    import PrimitiveType.PrimitiveTypeName._
    val logical = pt.getLogicalTypeAnnotation
    val unsigned = logical match {
      case i: LogicalTypeAnnotation.IntLogicalTypeAnnotation => !i.isSigned
      case _ => false
    }
    val decimal = logical match {
      case d: LogicalTypeAnnotation.DecimalLogicalTypeAnnotation => Some((d.getPrecision, d.getScale))
      case _ => None
    }
    val tsUnit = logical match {
      case t: LogicalTypeAnnotation.TimestampLogicalTypeAnnotation => Some(t.getUnit)
      case _ => None
    }
    def micros(v: Long): Long = tsUnit match {
      case Some(LogicalTypeAnnotation.TimeUnit.MILLIS) => DateTimeUtils.millisToMicros(v)
      case _ => v
    }
    def refuse: Nothing = throw new IllegalStateException(
      s"payload column '$name' stores ${pt.getPrimitiveTypeName}" +
        Option(logical).fold("")(l => s" ($l)") + s" in $file, which cannot be read as $dt")
    (pt.getPrimitiveTypeName, dt) match {
      case (BOOLEAN, BooleanType) => _.readBoolean()
      case (INT32, IntegerType) => _.readInteger()
      case (INT32, ShortType) => _.readInteger().toShort
      case (INT32, ByteType) => _.readInteger().toByte
      case (INT32, LongType) =>
        if (unsigned) r => Integer.toUnsignedLong(r.readInteger()) else _.readInteger().toLong
      case (INT32, DateType) => r => rebases.date(r.readInteger())
      case (INT32 | INT64, d: DecimalType) =>
        val (p, s) = decimal.getOrElse((d.precision, d.scale))
        if (pt.getPrimitiveTypeName == INT32) r => Decimal(r.readInteger().toLong, p, s)
        else if (unsigned) r => Decimal(new java.math.BigDecimal(
          java.lang.Long.toUnsignedString(r.readLong())), p, s)
        else r => Decimal(r.readLong(), p, s)
      case (INT64, LongType) if tsUnit.isEmpty || tsUnit.contains(LogicalTypeAnnotation.TimeUnit.NANOS) =>
        _.readLong()
      case (INT64, TimestampType) if tsUnit.exists(_ != LogicalTypeAnnotation.TimeUnit.NANOS) =>
        r => rebases.timestamp(micros(r.readLong()))
      case (INT64, TimestampNTZType) if tsUnit.exists(_ != LogicalTypeAnnotation.TimeUnit.NANOS) =>
        r => micros(r.readLong())
      case (INT96, TimestampType) => r =>
        val buf = r.readBytes().toByteBuffer.order(ByteOrder.LITTLE_ENDIAN)
        val nanosOfDay = buf.getLong
        rebases.int96(DateTimeUtils.fromJulianDay(buf.getInt, nanosOfDay))
      case (FLOAT, FloatType) => _.readFloat()
      case (DOUBLE, DoubleType) => _.readDouble()
      case (BINARY, _: StringType) => r => UTF8String.fromBytes(r.readBytes().getBytes)
      case (BINARY | FIXED_LEN_BYTE_ARRAY, BinaryType) => _.readBytes().getBytes
      case (BINARY | FIXED_LEN_BYTE_ARRAY, d: DecimalType) =>
        val (p, s) = decimal.getOrElse((d.precision, d.scale))
        r => Decimal(new java.math.BigDecimal(new java.math.BigInteger(r.readBytes().getBytes), s), p, s)
      case _ => refuse
    }
  }

  /** Page plumbing shared by the leaf decoders: decodes each `DataPage`'s
    * (V1 or V2) repetition and definition levels and hands its value
    * section to [[loadValues]]. Holds reusable buffers, so one instance
    * serves every row group of one file; not thread-safe.
    *
    * A page is decoded in one of two modes:
    *   - run mode (only with `runs`, for a list leaf): when both level
    *     sections use the RLE/bit-packed hybrid encoding (V1 with its
    *     4-byte length prefixes, or V2's own sections), every entry is at
    *     `maxDef` and the first entry starts a record, the levels are read
    *     run by run, never value by value. The definition runs are only
    *     checked (an RLE run is one comparison, a bit-packed group one
    *     unpack); the repetition runs (bit width 1) give [[starts]], the
    *     entry at which each record starts: an RLE run of 1s is skipped in
    *     one step, a bit-packed byte is scanned by its zero bits. Every
    *     entry then holds a value, so record r's values are entries
    *     `[starts(r), starts(r + 1))` (the last record ends at the page's
    *     end). A level section that is truncated or malformed (a run past
    *     its end, an empty run, a repetition level above 1) is refused,
    *     never handed on;
    *   - per value (every other page: a null vector, a null element or an
    *     empty list on it, `BIT_PACKED` levels, a page that starts inside a
    *     record): each level is decoded into `reps`/`defs` through
    *     parquet's own level decoders.
    */
  private[ivf] abstract class LeafPages(
      val desc: ColumnDescriptor, val file: String, runs: Boolean) {
    protected val maxRep: Int = desc.getMaxRepetitionLevel
    protected val maxDef: Int = desc.getMaxDefinitionLevel
    protected var reps = new Array[Int](0)
    protected var defs = new Array[Int](0)

    /** A run-mode page's record starts: `starts(0 until nRecords)`,
      * ascending entry indexes, the first 0.
      */
    protected var starts = new Array[Int](0)
    protected var nRecords = 0

    /** Data pages decoded so far. */
    var pagesRead = 0

    /** Of [[pagesRead]], the pages decoded in run mode. */
    var runPages = 0

    private val defWidth = BytesUtils.getWidthFromMaxInt(maxDef)
    private val defPacker = Packer.LITTLE_ENDIAN.newBytePacker(defWidth)
    private val unpacked = new Array[Int](8)
    // the level-run reader's cursor: the next byte and the section's end
    private var runPos = 0
    private var runEnd = 0

    /** Set up a page's values from its value section (`in`), which holds
      * `nVals` values among `n` entries: one per entry at `maxDef`.
      */
    protected def loadValues(
        enc: Encoding, in: ByteBufferInputStream, n: Int, nVals: Int, dict: Dictionary): Unit

    protected def dictionary(reader: PageReader): Dictionary = {
      val dictPage = reader.readDictionaryPage()
      if (dictPage == null) null else dictPage.getEncoding.initDictionary(desc, dictPage)
    }

    /** Parquet's own reader of a value section: the dictionary-based one
      * for dictionary encodings.
      */
    protected def valuesReader(enc: Encoding, dict: Dictionary): ValuesReader =
      if (!enc.usesDictionary) enc.getValuesReader(desc, ValuesType.VALUES)
      else if (dict == null)
        throw new ParquetDecodingException("dictionary-encoded page without a dictionary page")
      else enc.getDictionaryBasedValuesReader(desc, ValuesType.VALUES, dict)

    /** Decode `page`'s levels and set up its values: in run mode (true;
      * see the class comment) into [[starts]], else into `reps`/`defs`. A
      * page that cannot be decoded is refused naming the file and row
      * group.
      */
    protected def loadPage(page: DataPage, dict: Dictionary, blockIdx: Int): Boolean = {
      val n = page.getValueCount
      pagesRead += 1
      val run = refusing(blockIdx) {
        page match {
          case p: DataPageV1 =>
            val bytes = buffer(p.getBytes)
            val valuesAt =
              if (runs && n > 0 && p.getRlEncoding == Encoding.RLE && p.getDlEncoding == Encoding.RLE)
                runsV1(bytes, n)
              else -1
            if (valuesAt >= 0) {
              loadValues(p.getValueEncoding, ByteBufferInputStream.wrap(bytes.position(valuesAt)),
                n, n, dict)
              true
            } else {
              val in = ByteBufferInputStream.wrap(bytes)
              levelArrays(n)
              levelsV1(p.getRlEncoding, ValuesType.REPETITION_LEVEL, maxRep, in, n, reps)
              levelsV1(p.getDlEncoding, ValuesType.DEFINITION_LEVEL, maxDef, in, n, defs)
              loadValues(p.getValueEncoding, in, n, defined(n), dict)
              false
            }
          case p: DataPageV2 =>
            val rl = buffer(p.getRepetitionLevels)
            val dl = buffer(p.getDefinitionLevels)
            val run = runs && n > 0 &&
              allDefined(dl, dl.position, dl.limit, n) && recordStarts(rl, rl.position, rl.limit, n)
            if (!run) {
              levelArrays(n)
              levelsV2(rl, maxRep, n, reps)
              levelsV2(dl, maxDef, n, defs)
            }
            loadValues(p.getDataEncoding, p.getData.toInputStream, n, if (run) n else defined(n), dict)
            run
          case other =>
            throw new IllegalStateException(s"unsupported page type ${other.getClass} in $file")
        }
      }
      if (run) runPages += 1
      run
    }

    /** Runs `f`, refusing a decoding failure (parquet's own, an IO error,
      * or a read past a buffer or array bound) naming the file and row
      * group.
      */
    protected def refusing[T](blockIdx: Int)(f: => T): T =
      try f
      catch {
        case e @ (_: ParquetDecodingException | _: IOException | _: IllegalArgumentException |
            _: BufferUnderflowException | _: IndexOutOfBoundsException) =>
          throw new IllegalStateException(s"unreadable page in row group $blockIdx of $file", e)
      }

    /** Room for a per-value page's `n` levels in `reps`/`defs`. */
    private def levelArrays(n: Int): Unit =
      if (reps.length < n) {
        reps = new Array[Int](n)
        defs = new Array[Int](n)
      }

    /** A section's bytes as one little-endian buffer, read once. */
    private def buffer(bytes: BytesInput): ByteBuffer = {
      val in = bytes.toInputStream
      in.slice(in.available()).order(ByteOrder.LITTLE_ENDIAN)
    }

    /** Run mode over a V1 page (`b`: its bytes, two length-prefixed level
      * sections, then the values): the values' offset, or -1 when the page
      * does not qualify.
      */
    private def runsV1(b: ByteBuffer, n: Int): Int = {
      val repEnd = sectionEnd(b, b.position)
      val defEnd = sectionEnd(b, repEnd)
      if (allDefined(b, repEnd + 4, defEnd, n) && recordStarts(b, b.position + 4, repEnd, n)) defEnd
      else -1
    }

    /** The end of the length-prefixed level section at `at`. */
    private def sectionEnd(b: ByteBuffer, at: Int): Int = {
      val len = if (b.limit - at < 4) -1 else b.getInt(at)
      if (len < 0 || len > b.limit - at - 4)
        throw new ParquetDecodingException(s"level section at byte $at overruns its page")
      at + 4 + len
    }

    /** Whether the first `n` definition levels in `b[from, to)` are all
      * `maxDef`.
      */
    private def allDefined(b: ByteBuffer, from: Int, to: Int, n: Int): Boolean = {
      runPos = from
      runEnd = to
      var i = 0
      while (i < n) {
        val header = runHeader(b)
        val count = header >>> 1 // RLE: entries; bit-packed: groups of 8
        if ((header & 1) == 0) {
          if (runValue(b, defWidth) != maxDef) return false
          i = if (count >= n - i) n else i + count
        } else {
          val end = runPos + packedBytes(count, defWidth)
          while (runPos < end && i < n) {
            defPacker.unpack8Values(b, runPos, unpacked, 0)
            val m = math.min(8, n - i)
            var k = 0
            while (k < m) {
              if (unpacked(k) != maxDef) return false
              k += 1
            }
            i += m
            runPos += defWidth
          }
          runPos = end
        }
      }
      true
    }

    /** Read the first `n` repetition levels (bit width 1) in `b[from, to)`
      * into [[starts]]; whether the first entry starts a record.
      */
    private def recordStarts(b: ByteBuffer, from: Int, to: Int, n: Int): Boolean = {
      runPos = from
      runEnd = to
      var i = 0
      var k = 0
      while (i < n) {
        val header = runHeader(b)
        val count = header >>> 1
        if ((header & 1) == 0) {
          val level = runValue(b, 1)
          val m = if (count >= n - i) n - i else count
          if (level == 0) {
            startsRoom(k + m)
            var j = 0
            while (j < m) { starts(k) = i + j; k += 1; j += 1 }
          } else if (level != 1)
            throw new ParquetDecodingException(s"repetition level $level above the maximum 1")
          i += m
        } else {
          val end = runPos + packedBytes(count, 1)
          while (runPos < end && i < n) {
            startsRoom(k + 8)
            var zeros = ~b.get(runPos) & 0xff
            if (n - i < 8) zeros &= (1 << (n - i)) - 1
            while (zeros != 0) {
              starts(k) = i + Integer.numberOfTrailingZeros(zeros)
              k += 1
              zeros &= zeros - 1
            }
            i += 8
            runPos += 1
          }
          runPos = end
        }
      }
      nRecords = k
      k > 0 && starts(0) == 0
    }

    /** Room for `k` record starts. */
    private def startsRoom(k: Int): Unit =
      if (starts.length < k) starts = java.util.Arrays.copyOf(starts, math.max(k, 2 * starts.length))

    /** The next run's header (an unsigned varint, at most 5 bytes) of a
      * nonempty run.
      */
    private def runHeader(b: ByteBuffer): Int = {
      var header = 0
      var shift = 0
      var byte = 0x80
      while ((byte & 0x80) != 0) {
        if (runPos >= runEnd || shift > 28)
          throw new ParquetDecodingException(s"level run header overruns its section at byte $runPos")
        byte = b.get(runPos) & 0xff
        runPos += 1
        header |= (byte & 0x7f) << shift
        shift += 7
      }
      if ((header >>> 1) == 0)
        throw new ParquetDecodingException(s"empty level run before byte $runPos")
      header
    }

    /** An RLE run's value: `width` bits, padded to whole bytes. */
    private def runValue(b: ByteBuffer, width: Int): Int = {
      val bytes = (width + 7) / 8
      if (runEnd - runPos < bytes)
        throw new ParquetDecodingException(s"level run value overruns its section at byte $runPos")
      var v = 0
      var k = 0
      while (k < bytes) { v |= (b.get(runPos + k) & 0xff) << (8 * k); k += 1 }
      runPos += bytes
      v
    }

    /** The bytes of a bit-packed run of `groups` groups of 8, which must
      * lie within the section.
      */
    private def packedBytes(groups: Int, width: Int): Int = {
      val bytes = groups.toLong * width
      if (bytes > runEnd - runPos)
        throw new ParquetDecodingException(s"bit-packed level run overruns its section at byte $runPos")
      bytes.toInt
    }

    /** The entries at `maxDef` among a per-value page's first `n`. */
    private def defined(n: Int): Int = {
      var nVals = 0
      var i = 0
      while (i < n) { if (defs(i) == maxDef) nVals += 1; i += 1 }
      nVals
    }

    /** V1 levels (RLE with its length prefix, or `BIT_PACKED`); none
      * stored at level 0.
      */
    private def levelsV1(
        enc: Encoding, tpe: ValuesType, maxLevel: Int, in: ByteBufferInputStream, n: Int,
        dst: Array[Int]): Unit =
      if (maxLevel == 0) java.util.Arrays.fill(dst, 0, n, 0)
      else {
        val r = enc.getValuesReader(desc, tpe)
        r.initFromPage(n, in)
        var i = 0
        while (i < n) { dst(i) = r.readInteger(); i += 1 }
      }

    /** V2 levels: RLE without a length prefix; none stored at level 0. */
    private def levelsV2(bytes: ByteBuffer, maxLevel: Int, n: Int, dst: Array[Int]): Unit =
      if (maxLevel == 0) java.util.Arrays.fill(dst, 0, n, 0)
      else {
        val d = new RunLengthBitPackingHybridDecoder(
          BytesUtils.getWidthFromMaxInt(maxLevel), ByteBufferInputStream.wrap(bytes))
        var i = 0
        while (i < n) { dst(i) = d.readInt(); i += 1 }
      }
  }

  /** Page-level decoder of one flat (unrepeated) leaf column: every entry
    * is a row, and `read` turns a defined value into its Spark form.
    */
  private[ivf] final class FlatDecoder(
      desc: ColumnDescriptor, file: String, read: ValuesReader => Any)
      extends LeafPages(desc, file, runs = false) {
    private var values: ValuesReader = _

    protected def loadValues(
        enc: Encoding, in: ByteBufferInputStream, n: Int, nVals: Int, dict: Dictionary): Unit = {
      values = valuesReader(enc, dict)
      values.initFromPage(n, in)
    }

    /** Hand `emit(j, value)` the value of `cands(j)` (file-absolute,
      * ascending) for every candidate in one row group, null where it is
      * null; other values are skipped undecoded. A page-filtered group's
      * pages carry their first row; a whole group's pages follow each
      * other from row 0.
      */
    def decodeGroup(
        pages: PageReadStore,
        blockIdx: Int,
        groupStart: Long,
        cands: Array[Int],
        emit: (Int, Any) => Unit): Unit = {
      val reader = pages.getPageReader(desc)
      val dict = dictionary(reader)
      val filtered = pages.getRowIndexes.isPresent
      var next = 0L // the first row of the next page, in an unfiltered group
      var cj = 0 // cursor into cands
      while (cj < cands.length) {
        val page = reader.readPage()
        if (page == null)
          throw new IllegalStateException(
            s"row group $blockIdx of $file ends before row ${cands(cj)} of column " +
              desc.getPath.mkString("."))
        val first = groupStart + (
          if (page.getFirstRowIndex.isPresent) page.getFirstRowIndex.get.longValue
          else if (filtered)
            throw new IllegalStateException(
              s"page-filtered row group $blockIdx of $file holds a page without its first row")
          else next)
        val n = page.getValueCount
        next = first - groupStart + n
        if (cands(cj) < first)
          throw new IllegalStateException(
            s"row ${cands(cj)} of column ${desc.getPath.mkString(".")} is on no page read " +
              s"from row group $blockIdx of $file")
        if (cands(cj) < first + n) {
          loadPage(page, dict, blockIdx)
          refusing(blockIdx) {
            var i = 0
            while (i < n && cj < cands.length) {
              val defined = defs(i) == maxDef
              if (cands(cj) == first + i) {
                emit(cj, if (defined) read(values) else null)
                cj += 1
              } else if (defined) values.skip()
              i += 1
            }
          }
        }
      }
    }
  }

  /** Page-level decoder of one `array<float|double>` leaf column; `runs =
    * false` decodes every page per value (see [[LeafPages]]).
    */
  private[ivf] final class PageDecoder(desc: ColumnDescriptor, file: String, runs: Boolean = true)
      extends LeafPages(desc, file, runs) {
    private val isDouble =
      desc.getPrimitiveType.getPrimitiveTypeName == PrimitiveType.PrimitiveTypeName.DOUBLE

    // the definition level at which a record has an element slot (a
    // value at maxDef, else a null element); one below, an empty list;
    // lower still, a null vector
    private val slotDef =
      if (desc.getPrimitiveType.isRepetition(Type.Repetition.OPTIONAL)) maxDef - 1 else maxDef

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
      val dict = dictionary(reader)

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
        var v = 0 // value index within the page
        if (loadPage(page, dict, blockIdx)) {
          // run mode: whole records of defined entries, the first at entry 0
          val starts = this.starts
          var r = 0
          while (r < nRecords) {
            val s = starts(r)
            if (open) finish(ordinal, slots, isNull, nullElem, segStart, s, visit)
            open = true
            ordinal += 1
            slots = (if (r + 1 < nRecords) starts(r + 1) else n) - s
            isNull = false
            nullElem = false
            segStart = s
            accLen = 0
            r += 1
          }
          v = n
        } else {
          val reps = this.reps
          val defs = this.defs
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
      val dict = dictionary(reader)
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
        var v = 0 // value index within the page
        if (loadPage(page, dict, blockIdx)) {
          // run mode: whole records of defined entries, the first at entry
          // 0; a record's values are its entries
          val starts = this.starts
          var r = 0
          while (r < nRecords) {
            if (keep) emit(ordinal, segStart, starts(r), out)
            if (cj == cands.length) return // no candidate left in this group
            ordinal = groupStart + nextRow(rowIdx, blockIdx)
            while (cj < cands.length && cands(cj) < ordinal) cj += 1
            keep = cj < cands.length && cands(cj) == ordinal
            if (keep) cj += 1
            open = true
            segStart = starts(r)
            accLen = 0
            r += 1
          }
          v = n
        } else {
          val reps = this.reps
          val defs = this.defs
          if (filtered && n > 0 && reps(0) != 0)
            throw new IllegalStateException(
              s"page in row group $blockIdx of $file starts inside a record " +
                s"(repetition level ${reps(0)}); its rows cannot be taken from the offset index")
          // one pass: a record starts at repetition level 0 (or at the
          // chunk's first entry, as in parquet's own reader); only defined
          // entries hold a value
          var i = 0
          while (i < n) {
            if (reps(i) == 0 || !open) {
              if (keep) emit(ordinal, segStart, v, out)
              if (cj == cands.length) return // no candidate left in this group
              ordinal = groupStart + nextRow(rowIdx, blockIdx)
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
        }
        // the open record may continue on the next page (whole-group path)
        if (keep) carry(segStart, v)
        segStart = 0
        if (cj == cands.length && !keep) return
        page = reader.readPage()
      }
      if (keep) emit(ordinal, 0, 0, out)
    }

    /** The row of the next record of a group; a group whose pages hold
      * more records than rows is refused.
      */
    private def nextRow(rowIdx: java.util.PrimitiveIterator.OfLong, blockIdx: Int): Long =
      if (rowIdx.hasNext) rowIdx.nextLong()
      else throw new IllegalStateException(
        s"pages of row group $blockIdx of $file hold more records than the rows they cover")

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

    /** Set up the page's `nVals` values from its value section (`in`): a
      * view for PLAIN floats, else parquet's own (dictionary-based)
      * `ValuesReader` into `vals`.
      */
    protected def loadValues(
        enc: Encoding, in: ByteBufferInputStream, n: Int, nVals: Int, dict: Dictionary): Unit = {
      if (enc == Encoding.PLAIN && !isDouble) {
        floats = in.slice(in.available()).order(ByteOrder.LITTLE_ENDIAN).asFloatBuffer()
        if (floats.remaining < nVals)
          throw new ParquetDecodingException(
            s"PLAIN page holds ${floats.remaining} of its $nVals values")
      } else {
        floats = null
        val r = valuesReader(enc, dict)
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
