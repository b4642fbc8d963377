package graft.ivf

import java.io.{ByteArrayOutputStream, RandomAccessFile}
import java.nio.{ByteBuffer, ByteOrder}

import scala.jdk.CollectionConverters._
import scala.util.Try

import org.apache.parquet.format.Util
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.ParquetFileWriter
import org.apache.parquet.hadoop.metadata.{FileMetaData, ParquetMetadata}

/** Read path for indexes embedded INSIDE a Parquet file, the reference's
  * native layout (`/root/reference/src/ivf/parquet.rs:105-208`): the index
  * payload (magic `PQ_VECTOR1` + u64 LE length + bytes) sits after the data
  * pages, and the footer key-value metadata records
  * `pq_vector_index_offset` (byte offset of the magic) and
  * `pq_vector_embedding_column`. Files indexed by the reference engine are
  * therefore directly queryable by this engine.
  */
object ParquetFooterIndex {

  /** Footer KV lookup: (index byte offset, embedding column) if present. */
  def indexMetadata(file: String): Option[(Long, String)] = {
    val reader = IndexStore.openParquet(file)
    try {
      val kv = reader.getFooter.getFileMetaData.getKeyValueMetaData.asScala
      for {
        off <- kv.get(IvfIndex.IndexOffsetKey).flatMap(s => Try(s.toLong).toOption)
        column <- kv.get(IvfIndex.EmbeddingColumnKey)
      } yield (off, column)
    } finally reader.close()
  }

  def hasIndex(file: String): Boolean = indexMetadata(file).isDefined

  /** Embed an index INSIDE the Parquet file, in place — the reference's
    * native persist mode (`/root/reference/src/ivf/parquet.rs:536-611`):
    * the index payload is written where the footer metadata used to start
    * (data pages and page indexes are untouched, so all row-group offsets
    * stay valid), then the metadata — with stale pq-vector keys stripped and
    * fresh `pq_vector_index_offset`/`pq_vector_embedding_column` entries —
    * and the `len + PAR1` trailer are rewritten after it. A previously
    * embedded index region is reclaimed (write restarts at the recorded old
    * offset), so repeated embeds don't grow the file. Encrypted footers are
    * refused, like the reference.
    */
  def embedInPlace(file: String, column: String, index: IvfIndex): Unit = {
    val local = IndexStore.localPath(file)
    val reader = IndexStore.openParquet(local)
    val footer: ParquetMetadata =
      try reader.getFooter
      finally reader.close()
    val fmd = footer.getFileMetaData
    require(
      fmd.getEncryptionType == null ||
        fmd.getEncryptionType == FileMetaData.EncryptionType.UNENCRYPTED,
      s"refusing to embed index into encrypted parquet file $file")

    val raf = new RandomAccessFile(local, "rw")
    try {
      val fileLen = raf.length()
      val trailer = new Array[Byte](8)
      raf.seek(fileLen - 8)
      raf.readFully(trailer)
      require(
        new String(trailer, 4, 4, "US-ASCII") == "PAR1",
        s"$file is not a parquet file (bad magic)")
      val footerLen =
        ByteBuffer.wrap(trailer, 0, 4).order(ByteOrder.LITTLE_ENDIAN).getInt
      val metadataStart = fileLen - 8 - footerLen.toLong
      require(metadataStart > 0, s"implausible footer length $footerLen in $file")

      val oldKv = fmd.getKeyValueMetaData.asScala
      // reclaim a previously embedded index region if its offset checks out
      val writeStart = oldKv
        .get(IvfIndex.IndexOffsetKey)
        .flatMap(s => Try(s.toLong).toOption)
        .filter(off => off > 0 && off < metadataStart)
        .getOrElse(metadataStart)

      val newKv = (oldKv.toMap
        - IvfIndex.IndexOffsetKey - IvfIndex.EmbeddingColumnKey) +
        (IvfIndex.IndexOffsetKey -> writeStart.toString) +
        (IvfIndex.EmbeddingColumnKey -> column)
      val newMeta = new ParquetMetadata(
        new FileMetaData(fmd.getSchema, newKv.asJava, fmd.getCreatedBy),
        footer.getBlocks)
      val thrift = new ParquetMetadataConverter()
        .toParquetMetadata(ParquetFileWriter.CURRENT_VERSION, newMeta)
      val footerBytes = new ByteArrayOutputStream()
      Util.writeFileMetaData(thrift, footerBytes)
      val footerArr = footerBytes.toByteArray

      raf.seek(writeStart)
      raf.write(IvfIndex.frame(index.toBytes))
      raf.write(footerArr)
      val lenAndMagic = ByteBuffer.allocate(8).order(ByteOrder.LITTLE_ENDIAN)
      lenAndMagic.putInt(footerArr.length)
      lenAndMagic.put("PAR1".getBytes("US-ASCII"))
      raf.write(lenAndMagic.array())
      raf.setLength(raf.getFilePointer)
    } finally raf.close()
    // the mutation invalidates any Hadoop LocalFileSystem checksum sidecar
    // (.<name>.crc) — remove it so later reads don't fail checksum
    val p = java.nio.file.Paths.get(local)
    val crc = p.getParent.resolve("." + p.getFileName.toString + ".crc")
    java.nio.file.Files.deleteIfExists(crc): Unit
    // this is the ONE engine-owned mutation that changes availability
    // without a directory-entry rename (RandomAccessFile writes in place),
    // so the table-level dir-identity memo (IndexStore.memoizedTableProbe)
    // would keep serving a stale "unindexed" answer after a footer embed.
    // Bump the parent dir's mtime explicitly so plan-time memos invalidate
    // the same way every rename-based write path does.
    try java.nio.file.Files.setLastModifiedTime(
      p.getParent,
      java.nio.file.attribute.FileTime.from(java.time.Instant.now())): Unit
    catch { case _: Exception => () } // read-only parent: peeks still correct
  }

  /** Cheap (dim, nClusters) peek of an embedded index: footer KV lookup plus
    * a header-sized read at the recorded offset — no posting-list decode.
    */
  def peek(file: String, column: String): Option[(Int, Int)] =
    indexMetadata(file).collect {
      case (offset, indexedColumn) if indexedColumn == column =>
        IndexStore.withChannel(IndexStore.localPath(file)) { ch =>
          require(
            offset >= 0 && offset + IvfIndex.HeaderLen <= ch.size(),
            s"index offset $offset out of bounds for $file (len ${ch.size()})")
          IvfIndex.readHeader(ch, offset).fold(
            defect => throw new IllegalArgumentException(s"$defect at offset $offset in $file"),
            identity)
        }
    }

  /** Load the embedded index if this file carries one for `column`. */
  def load(file: String, column: String): Option[IvfIndex] =
    indexMetadata(file).collect {
      case (offset, indexedColumn) if indexedColumn == column =>
        val raf = new RandomAccessFile(IndexStore.localPath(file), "r")
        try {
          require(
            offset >= 0 && offset < raf.length(),
            s"index offset $offset out of bounds for $file (len ${raf.length()})")
          // a corrupt offset near byte 0 of a >2 GiB file would wrap the
          // tail length negative and throw NegativeArraySizeException
          require(raf.length() - offset <= Int.MaxValue,
            s"index region at offset $offset of $file spans more than 2 GiB — corrupt offset")
          raf.seek(offset)
          val framed = new Array[Byte]((raf.length() - offset).toInt)
          raf.readFully(framed)
          IvfIndex.unframe(framed)
        } finally raf.close()
    }
}
