package graft.ivf

import java.util.PrimitiveIterator
import java.util.stream.{IntStream, LongStream}

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.column.ColumnDescriptor
import org.apache.parquet.column.impl.ColumnReadStoreImpl
import org.apache.parquet.column.page.PageReadStore
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.internal.filter2.columnindex.RowRanges
import org.apache.parquet.io.api.{Binary, Converter, GroupConverter, PrimitiveConverter}
import org.apache.parquet.schema.{GroupType, MessageType, PrimitiveType, Type}

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
  * gracefully to row-group granularity.
  *
  * Null vectors, null elements, and dim-mismatched rows yield no output row
  * (the engine-wide skip-don't-error semantics). f64 embedding columns are
  * downcast to f32, like the reference (`src/ivf/parquet.rs:287-291`).
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

  /** No-op converter tree matching an arbitrary projected schema (the
    * low-level ColumnReader API requires one; values are read directly off
    * the reader, parquet-tools' dump does the same).
    */
  private def noopConverter(t: Type): Converter = t match {
    case g: GroupType =>
      val children = g.getFields.asScala.map(noopConverter).toArray
      new GroupConverter {
        override def getConverter(i: Int): Converter = children(i)
        override def start(): Unit = ()
        override def end(): Unit = ()
      }
    case _: PrimitiveType =>
      new PrimitiveConverter {
        override def addBinary(v: Binary): Unit = ()
        override def addBoolean(v: Boolean): Unit = ()
        override def addDouble(v: Double): Unit = ()
        override def addFloat(v: Float): Unit = ()
        override def addInt(v: Int): Unit = ()
        override def addLong(v: Long): Unit = ()
      }
  }

  /** Read the vectors at `ordinals` (file-absolute row ordinals, any order)
    * from `file`'s `column`. Returns (ordinal, vector) pairs, ordinal
    * ascending; rows whose vector is null/contains nulls are omitted.
    */
  def embeddings(
      file: String, column: String, ordinals: Array[Int]): Seq[(Long, Array[Float])] = {
    if (ordinals.isEmpty) return Seq.empty
    val sorted = ordinals.distinct.sorted
    val out = new ArrayBuffer[(Long, Array[Float])](sorted.length)

    val inputFile =
      HadoopInputFile.fromPath(new Path(IndexStore.localPath(file)), new Configuration())
    val reader = ParquetFileReader.open(inputFile)
    try {
      val footer = reader.getFooter
      val (projected, desc) = project(footer.getFileMetaData.getSchema, column)
      reader.setRequestedSchema(projected)
      val isDouble =
        desc.getPrimitiveType.getPrimitiveTypeName ==
          PrimitiveType.PrimitiveTypeName.DOUBLE
      val maxDef = desc.getMaxDefinitionLevel
      val converter = noopConverter(projected).asInstanceOf[GroupConverter]
      val createdBy = footer.getFileMetaData.getCreatedBy

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
          try {
            decodeGroup(
              pages, projected, desc, converter, createdBy,
              isDouble, maxDef, groupStart, groupCands, out)
          } finally pages.close()
        }
        groupStart = groupEnd
      }
    } finally reader.close()
    out.toSeq
  }

  /** Record-driven decode of one (possibly page-filtered) row group: rows
    * arrive in ascending ordinal order (the filtered store synchronizes the
    * value stream to the selected rows and exposes their row indexes).
    */
  private def decodeGroup(
      pages: PageReadStore,
      projected: MessageType,
      desc: ColumnDescriptor,
      converter: GroupConverter,
      createdBy: String,
      isDouble: Boolean,
      maxDef: Int,
      groupStart: Long,
      groupCands: Array[Int],
      out: ArrayBuffer[(Long, Array[Float])]): Unit = {
    val store = new ColumnReadStoreImpl(pages, converter, projected, createdBy)
    val cr = store.getColumnReader(desc)
    val total = pages.getRowCount
    val rowIdx: PrimitiveIterator.OfLong = pages.getRowIndexes
      .orElseGet(() => LongStream.range(0L, total).iterator())
    val buf = new ArrayBuffer[Float]()
    var cj = 0
    var n = 0L
    while (n < total) {
      val ordinal = groupStart + rowIdx.nextLong()
      buf.clear()
      var valid = true
      // one record: first value sits at repetition 0; the record ends when
      // the NEXT value's repetition level returns to 0 (or the chunk ends,
      // where the reader reports level 0)
      var more = true
      while (more) {
        if (cr.getCurrentDefinitionLevel == maxDef) {
          buf += (if (isDouble) cr.getDouble.toFloat else cr.getFloat)
        } else {
          valid = false // null list, empty list, or null element
        }
        cr.consume()
        more = cr.getCurrentRepetitionLevel != 0
      }
      while (cj < groupCands.length && groupCands(cj) < ordinal) cj += 1
      if (valid && cj < groupCands.length && groupCands(cj) == ordinal) {
        out += ((ordinal, buf.toArray))
      }
      n += 1
    }
  }
}
