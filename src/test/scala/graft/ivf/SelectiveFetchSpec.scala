package graft.ivf

import java.nio.file.Files
import java.util.{Optional, PrimitiveIterator}
import java.util.stream.LongStream

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.Path
import org.apache.parquet.bytes.{BytesInput, HeapByteBufferAllocator}
import org.apache.parquet.column.{ColumnDescriptor, Encoding}
import org.apache.parquet.column.page.{DataPage, DataPageV1, DataPageV2, DictionaryPage,
  PageReadStore, PageReader}
import org.apache.parquet.column.statistics.Statistics
import org.apache.parquet.column.values.plain.PlainValuesWriter
import org.apache.parquet.column.values.rle.RunLengthBitPackingHybridEncoder
import org.apache.parquet.example.data.simple.SimpleGroupFactory
import org.apache.parquet.hadoop.ParquetFileReader
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.schema.MessageTypeParser
import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

class SelectiveFetchSpec extends SparkSpec {
  import spark.implicits._

  private def oneFile(dir: String): String = {
    val f = new java.io.File(dir).listFiles()
      .filter(f => f.getName.endsWith(".parquet") && !f.getName.startsWith("."))
    assert(f.length == 1)
    f.head.getAbsolutePath
  }

  test("reads exactly the requested ordinals across multiple row groups") {
    val dir = Files.createTempDirectory("graft-selfetch").toString
    val vecs = (0 until 300).map(i => (i.toLong, Seq.fill(8)(i.toFloat / 10)))
    vecs.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite")
      // tiny row groups so group skipping is exercised
      .option("parquet.block.size", "4096")
      .parquet(dir)
    val file = oneFile(dir)
    val footer = org.apache.parquet.hadoop.ParquetFileReader
      .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    val nGroups = try footer.getFooter.getBlocks.size finally footer.close()
    assert(nGroups > 1, s"fixture produced only $nGroups row group(s)")

    val wanted = Array(0, 7, 13, 150, 151, 299)
    val got = SelectiveFetch.embeddings(file, "vec", wanted)
    assert(got.map(_._1) == wanted.map(_.toLong).toSeq)
    got.foreach { case (ri, v) =>
      assert(v.toSeq == Seq.fill(8)(ri.toFloat / 10))
    }
    // unordered + duplicate input normalizes
    val got2 = SelectiveFetch.embeddings(file, "vec", Array(299, 13, 13, 0))
    assert(got2.map(_._1) == Seq(0L, 13L, 299L))
  }

  test("skips null vectors and null elements; downcasts double columns") {
    val dir = Files.createTempDirectory("graft-selfetch-null").toString
    val rows: Seq[(Long, Option[Seq[Option[Double]]])] = Seq(
      (0L, Some(Seq(Some(1.5), Some(2.5)))),
      (1L, None), // null vector
      (2L, Some(Seq(Some(3.5), None))), // null element
      (3L, Some(Seq(Some(4.5), Some(5.5)))))
    rows.toDF("id", "vec").coalesce(1).write.mode("overwrite").parquet(dir)
    val file = oneFile(dir)
    val got = SelectiveFetch.embeddings(file, "vec", Array(0, 1, 2, 3))
    assert(got.map(_._1) == Seq(0L, 3L))
    assert(got.head._2.toSeq == Seq(1.5f, 2.5f))
    assert(got(1)._2.toSeq == Seq(4.5f, 5.5f))
  }

  test("page-granular selection over 1-row-page files (rewriteWithIndex layout)") {
    val in = Files.createTempDirectory("graft-pg-in").toString
    val outDir = Files.createTempDirectory("graft-pg-out").toString
    val vecs = (0 until 120).map(i => (i.toLong, Seq.fill(6)(i.toFloat)))
    vecs.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(in)
    // 1 row per page + embedded index, the reference's point-read layout
    IvfBuilder.rewriteWithIndex(spark, in, outDir,
      IvfBuilder.Config("vec", nClusters = Some(4)), numFiles = Some(1))
    val file = oneFile(outDir)
    // sanity: the rewritten file really has many pages (offset index present)
    val rdr = org.apache.parquet.hadoop.ParquetFileReader
      .open(org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
        new org.apache.hadoop.fs.Path(file), new org.apache.hadoop.conf.Configuration()))
    try {
      val block = rdr.getFooter.getBlocks.get(0)
      val chunk = block.getColumns.asScala
        .find(_.getPath.toDotString.startsWith("vec")).get
      val oi = rdr.readOffsetIndex(chunk)
      assert(oi != null && oi.getPageCount > 10, s"pages=${if (oi == null) -1 else oi.getPageCount}")
    } finally rdr.close()
    // rewrite preserves row order here (single input file, single output);
    // fetch sparse ordinals and verify content
    val rows = spark.read.parquet(outDir)
      .select(col("id"), col("vec"), col("_metadata.row_index").as("ri"))
      .collect().map(r => r.getLong(2) -> (r.getLong(0), r.getSeq[Float](1))).toMap
    val wanted = Array(3, 57, 119)
    val got = SelectiveFetch.embeddings(file, "vec", wanted)
    assert(got.map(_._1) == wanted.map(_.toLong).toSeq)
    got.foreach { case (ri, v) => assert(v.toSeq == rows(ri)._2) }
  }

  test("search works against a footer-embedded index (no sidecar)") {
    val dir = Files.createTempDirectory("graft-selfetch-embed").toString
    val rnd = new scala.util.Random(13)
    val vecs = (0 until 80).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat())))
    spark.createDataFrame(vecs).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // embed the index INSIDE the parquet footer region (reference layout);
    // point the search at an EMPTY sidecar store so only the footer serves
    val buildStore = new IndexStore(Files.createTempDirectory("graft-embed-b").toString)
    val build = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(4)), buildStore, embed = true)
    val emptyStore = new IndexStore(Files.createTempDirectory("graft-embed-e").toString)
    val query = Seq.fill(4)(0.5f)
    val res = VectorTopK.search(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = build.nClusters), store = emptyStore).collect()
    assert(res.length == 10)
    val expected = vecs.map { case (id, v) =>
      (id, math.sqrt(graft.functions.VectorKernels
        .squaredL2(v.toArray, query.toArray).toDouble).toFloat)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    assert(res.map(r => (r.row_idx, r.distance)).toSet == expected.toSet)
  }

  test("search over the selective path honors maxCandidates fairness") {
    val dir = Files.createTempDirectory("graft-selfetch-search").toString
    val rnd = new scala.util.Random(5)
    spark.createDataFrame((0 until 200).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2).write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-selfetch-store").toString)
    val build = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(4)), store)
    val res = VectorTopK.search(spark, dir, "vec", Seq.fill(4)(0.5f), 50,
      VectorTopK.Options(nprobe = build.nClusters, maxCandidates = Some(40)),
      store = store).collect()
    // capped fetch bounds the result set: at most 40 candidates survive
    assert(res.length <= 40 && res.nonEmpty)
    assert(res.map(_.distance).toSeq == res.map(_.distance).sorted.toSeq)
  }

  // ---- differential test: Spark's own reader is the oracle ---------------

  /** One random row: None = null vector; Some(Seq()) = empty list; a None
    * element = null element. Lengths are ragged; values mix a small pool
    * (so dictionaries form), random draws and the float specials, or come
    * from the pool alone with `poolOnly`.
    */
  private def randomVec(rnd: Random, poolOnly: Boolean = false): Option[Seq[Option[Double]]] = {
    val pool = Array(0.0, -0.0, 1.5, -2.25, 1e-3, 3.0e38, Double.NaN,
      Double.PositiveInfinity, java.lang.Float.MIN_VALUE.toDouble, 0.1)
    rnd.nextInt(20) match {
      case 0 => None
      case 1 => Some(Seq.empty)
      case _ =>
        Some(Seq.fill(1 + rnd.nextInt(12)) {
          rnd.nextInt(40) match {
            case 0 => None
            case k if k < 20 || poolOnly => Some(pool(rnd.nextInt(pool.length)))
            case _ => Some(rnd.nextGaussian() * 100)
          }
        })
    }
  }

  private def writeSpark(
      dir: String, rows: Seq[Option[Seq[Option[Double]]]], double: Boolean,
      opts: Map[String, String]): String = {
    val elem = if (double) DoubleType else FloatType
    val schema = StructType(Seq(
      StructField("id", LongType, nullable = false),
      StructField("vec", ArrayType(elem, containsNull = true), nullable = true)))
    val data: Seq[Row] = rows.zipWithIndex.map { case (v, i) =>
      val vec = v.map(_.map {
        case Some(x) => if (double) (x: Any) else (x.toFloat: Any)
        case None => null
      })
      Row(i.toLong, vec.orNull)
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").options(opts).parquet(dir)
    oneFile(dir)
  }

  /** A BYTE_STREAM_SPLIT file: Spark's writer cannot enable that
    * encoding, so parquet's example writer writes the same 3-level list.
    */
  private def writeByteStreamSplit(
      dir: String, rows: Seq[Option[Seq[Option[Double]]]], double: Boolean): String = {
    val elem = if (double) "double" else "float"
    val schema = MessageTypeParser.parseMessageType(
      s"""message spark_schema {
         |  required int64 id;
         |  optional group vec (LIST) { repeated group list { optional $elem element; } }
         |}""".stripMargin)
    val file = s"$dir/part-0.parquet"
    val w = ExampleParquetWriter.builder(new Path(file))
      .withType(schema).withConf(new Configuration())
      .withByteStreamSplitEncoding(true).withDictionaryEncoding(false)
      .withPageRowCountLimit(9).withPageSize(512).withRowGroupSize(4096L)
      .build()
    val groups = new SimpleGroupFactory(schema)
    try rows.zipWithIndex.foreach { case (v, i) =>
      val g = groups.newGroup().append("id", i.toLong)
      v.foreach { xs =>
        val list = g.addGroup("vec")
        xs.foreach { x =>
          val e = list.addGroup("list")
          x.foreach(d => if (double) e.append("element", d) else e.append("element", d.toFloat))
        }
      }
      w.write(g)
    } finally w.close()
    file
  }

  private def footerOf[T](file: String)(f: ParquetFileReader => T): T = {
    val r = ParquetFileReader.open(
      HadoopInputFile.fromPath(new Path(file), new Configuration()))
    try f(r) finally r.close()
  }

  /** File-absolute (first, last) rows of every page of `vec` (of every
    * row group where there is no offset index), and the page kinds
    * ("V1"/"V2" + value encoding) the file holds.
    */
  private def pageLayout(file: String): (Seq[(Long, Long)], Set[String]) = footerOf(file) { r =>
    val spans = ArrayBuffer[(Long, Long)]()
    var start = 0L
    r.getFooter.getBlocks.asScala.foreach { b =>
      val chunk = b.getColumns.asScala.find(_.getPath.toDotString.startsWith("vec")).get
      val oi = r.readOffsetIndex(chunk)
      if (oi == null) spans += ((start, start + b.getRowCount - 1))
      else (0 until oi.getPageCount).foreach { p =>
        spans += ((start + oi.getFirstRowIndex(p), start + oi.getLastRowIndex(p, b.getRowCount)))
      }
      start += b.getRowCount
    }
    val desc = r.getFooter.getFileMetaData.getSchema.getColumns.asScala
      .find(_.getPath.head == "vec").get
    val kinds = Set.newBuilder[String]
    var pages = r.readNextRowGroup()
    while (pages != null) {
      val pr = pages.getPageReader(desc)
      var page = pr.readPage()
      while (page != null) {
        kinds += (page match {
          case p: DataPageV1 => s"V1:${p.getValueEncoding}"
          case p: DataPageV2 => s"V2:${p.getDataEncoding}"
          case other => other.getClass.getSimpleName
        })
        page = pr.readPage()
      }
      pages.close()
      pages = r.readNextRowGroup()
    }
    (spans.toSeq, kinds.result())
  }

  /** Spark's reading of `file`: row_index → vector bits, under the fetch's
    * skip rules (null vector, empty list, null element → no row; double →
    * `toFloat`).
    */
  private def oracle(file: String, vectorized: Boolean): Map[Long, Seq[Int]] = {
    val key = "spark.sql.parquet.enableVectorizedReader"
    val prior = spark.conf.get(key)
    spark.conf.set(key, vectorized.toString)
    val rows =
      try spark.read.parquet(file).select(col("_metadata.row_index"), col("vec")).collect()
      finally spark.conf.set(key, prior)
    rows.flatMap { r =>
        if (r.isNullAt(1)) None
        else {
          val xs = r.getSeq[Any](1)
          if (xs.isEmpty || xs.contains(null)) None
          else Some(r.getLong(0) -> xs.map {
            case d: Double => java.lang.Float.floatToRawIntBits(d.toFloat)
            case f: Float => java.lang.Float.floatToRawIntBits(f)
          })
        }
      }.toMap
  }

  /** Random candidate sets over `spans`: set 0 holds every page's first
    * and last row (so every page is read, the whole-row-group path); the
    * rest hold the first and last rows of a random subset of pages (the
    * page-filtered path) plus random rows. Every set adds duplicates,
    * ordinals at and beyond the row count, and a negative one.
    */
  private def candidateSets(
      rnd: Random, spans: Seq[(Long, Long)], nRows: Int): Seq[Array[Int]] =
    (0 until 5).map { s =>
      val pages = if (s == 0) spans else spans.filter(_ => rnd.nextInt(3) == 0)
      val edges = pages.flatMap { case (a, b) => Seq(a.toInt, b.toInt) }
      val random = Seq.fill(rnd.nextInt(1 + nRows / 4))(rnd.nextInt(nRows))
      val base = edges ++ random
      val dups = base.take(1 + base.length / 5)
      rnd.shuffle(base ++ dups ++ Seq(nRows, nRows + 1 + rnd.nextInt(50), -1 - rnd.nextInt(5)))
        .toArray
    }

  private def assertMatchesOracle(
      file: String, seed: Int, expectKinds: Set[String], vectorized: Boolean = true): Unit = {
    val (spans, kinds) = pageLayout(file)
    assert(expectKinds.subsetOf(kinds), s"$file: page kinds $kinds lack $expectKinds")
    val truth = oracle(file, vectorized)
    val nRows = spans.last._2.toInt + 1
    val rnd = new Random(seed)
    candidateSets(rnd, spans, nRows).foreach { cands =>
      val got = SelectiveFetch.embeddings(file, "vec", cands)
      val expected = cands.distinct.sorted.filter(c => truth.contains(c.toLong))
      assert(got.map(_._1) == expected.map(_.toLong).toSeq, s"$file: ordinals")
      got.foreach { case (ri, v) =>
        assert(v.map(java.lang.Float.floatToRawIntBits).toSeq == truth(ri), s"$file: row $ri")
      }
    }
  }

  test("differential: page decode equals Spark's reader over encodings and page layouts") {
    val small = Map(
      "parquet.page.size" -> "256",
      "parquet.page.row.count.limit" -> "7",
      "parquet.page.size.row.check.min" -> "1",
      "parquet.block.size" -> "2048")
    var seed = 0
    for {
      double <- Seq(false, true)
      dictionary <- Seq(true, false)
      version <- Seq("v1", "v2")
    } {
      seed += 1
      val rnd = new Random(seed)
      val rows = Seq.fill(200 + rnd.nextInt(200))(randomVec(rnd))
      val dir = Files.createTempDirectory("graft-selfetch-diff").toString
      val file = writeSpark(dir, rows, double, small ++ Map(
        "parquet.enable.dictionary" -> dictionary.toString,
        "parquet.writer.version" -> version))
      val page = if (version == "v1") "V1" else "V2"
      val values =
        if (!dictionary) "PLAIN"
        else if (version == "v1") "PLAIN_DICTIONARY"
        else "RLE_DICTIONARY"
      assertMatchesOracle(file, seed, Set(s"$page:$values"))
    }
    // a dictionary that overflows mid-chunk: dictionary pages, then PLAIN
    val rnd = new Random(99)
    val rows = Seq.tabulate(400)(i => randomVec(rnd, poolOnly = i < 100))
    val fallback = writeSpark(
      Files.createTempDirectory("graft-selfetch-fallback").toString, rows, double = false,
      small ++ Map("parquet.dictionary.page.size" -> "512", "parquet.block.size" -> "65536"))
    assertMatchesOracle(fallback, 99, Set("V1:PLAIN_DICTIONARY", "V1:PLAIN"))
    // BYTE_STREAM_SPLIT values: the generic ValuesReader route
    Seq(false, true).foreach { double =>
      val rnd = new Random(if (double) 101 else 100)
      val rows = Seq.fill(300)(randomVec(rnd))
      val file = writeByteStreamSplit(
        Files.createTempDirectory("graft-selfetch-bss").toString, rows, double)
      // Spark's vectorized reader refuses the encoding; its row reader does not
      assertMatchesOracle(file, 100, Set("V1:BYTE_STREAM_SPLIT"), vectorized = false)
    }
  }

  test("differential: page decode equals Spark's reader on the 1-row-page layout") {
    val rnd = new Random(7)
    val in = Files.createTempDirectory("graft-selfetch-diff-pg-in").toString
    val out = Files.createTempDirectory("graft-selfetch-diff-pg-out").toString
    // fixed dim, no nulls: the index build refuses null vectors
    val rows = Seq.fill(150)(Some(Seq.fill(5)(Some(rnd.nextGaussian()))))
    writeSpark(in, rows, double = false, Map.empty)
    IvfBuilder.rewriteWithIndex(spark, in, out,
      IvfBuilder.Config("vec", nClusters = Some(4)), numFiles = Some(1))
    val file = oneFile(out)
    // the writer checks page sizes from row 100 on; every page after is 1 row
    val spans = pageLayout(file)._1
    assert(spans.count { case (a, b) => a == b } >= 40, s"expected 1-row pages: $spans")
    assertMatchesOracle(file, 7, Set("V1:PLAIN"))
  }

  // ---- record boundaries on synthetic pages --------------------------------

  private val listDesc: ColumnDescriptor = MessageTypeParser.parseMessageType(
    "message m { optional group vec (LIST) { repeated group list { optional float element; } } }")
    .getColumns.get(0)

  private def rle(bitWidth: Int, levels: Seq[Int]): BytesInput = {
    val enc = new RunLengthBitPackingHybridEncoder(
      bitWidth, 64, 1024, HeapByteBufferAllocator.getInstance())
    levels.foreach(enc.writeInt)
    val bytes = enc.toBytes
    BytesInput.concat(BytesInput.fromInt(bytes.size.toInt), bytes)
  }

  /** A V1 page of (repetition, definition, value) entries; value is used
    * only where the definition level is the max (3).
    */
  private def pageV1(entries: Seq[(Int, Int, Float)]): DataPage = {
    val values = new PlainValuesWriter(64, 1024, HeapByteBufferAllocator.getInstance())
    entries.collect { case (_, 3, v) => values.writeFloat(v) }
    val bytes = BytesInput.concat(
      rle(1, entries.map(_._1)), rle(2, entries.map(_._2)), values.getBytes)
    new DataPageV1(bytes, entries.size, bytes.size.toInt,
      Statistics.createStats(listDesc.getPrimitiveType),
      Encoding.RLE, Encoding.RLE, Encoding.PLAIN)
  }

  private def store(
      pages: Seq[DataPage], rows: Long, rowIndexes: Option[Seq[Long]]): PageReadStore =
    new PageReadStore {
      private val it = pages.iterator
      def getPageReader(d: ColumnDescriptor): PageReader = new PageReader {
        def readDictionaryPage(): DictionaryPage = null
        def getTotalValueCount: Long = pages.map(_.getValueCount.toLong).sum
        def readPage(): DataPage = if (it.hasNext) it.next() else null
      }
      def getRowCount: Long = rows
      override def getRowIndexes: Optional[PrimitiveIterator.OfLong] =
        rowIndexes match {
          case Some(ix) => Optional.of(LongStream.of(ix: _*).iterator())
          case None => Optional.empty()
        }
    }

  // rows: r0 = [1, 2, 3]; r1 = [4 .. 8], split 2 + 3 across the first page
  // boundary; r2 = null element; r3 = [9]; r4 = empty list; r5 = [10, 11,
  // null], its null element on the third page; r6 = [12]
  private val boundaryPages = Seq(
    pageV1(Seq((0, 3, 1f), (1, 3, 2f), (1, 3, 3f), (0, 3, 4f), (1, 3, 5f))),
    pageV1(Seq((1, 3, 6f), (1, 3, 7f), (1, 3, 8f), (0, 3, 0f), (1, 2, 0f),
      (0, 3, 9f), (0, 1, 0f), (0, 3, 10f), (1, 3, 11f))),
    pageV1(Seq((1, 2, 0f), (0, 3, 12f))))

  test("whole-row-group decode carries a record across a page boundary") {
    val out = ArrayBuffer[(Long, Array[Float])]()
    new SelectiveFetch.PageDecoder(listDesc, "synthetic.parquet")
      .decodeGroup(store(boundaryPages, 7, None), 2, 100L, (100 to 106).toArray, out)
    assert(out.map { case (ri, v) => (ri, v.toSeq) }.toSeq == Seq(
      100L -> Seq(1f, 2f, 3f),
      101L -> Seq(4f, 5f, 6f, 7f, 8f),
      103L -> Seq(9f),
      106L -> Seq(12f)))
    // only the carried row
    val one = ArrayBuffer[(Long, Array[Float])]()
    new SelectiveFetch.PageDecoder(listDesc, "synthetic.parquet")
      .decodeGroup(store(boundaryPages, 7, None), 2, 100L, Array(101), one)
    assert(one.map { case (ri, v) => (ri, v.toSeq) }.toSeq == Seq(101L -> Seq(4f, 5f, 6f, 7f, 8f)))
  }

  test("page-filtered decode refuses a page that starts inside a record") {
    val e = intercept[IllegalStateException] {
      new SelectiveFetch.PageDecoder(listDesc, "synthetic.parquet").decodeGroup(
        store(boundaryPages, 7, Some((0L to 6L))), 2, 100L, Array(103),
        ArrayBuffer[(Long, Array[Float])]())
    }
    assert(e.getMessage.contains("row group 2") && e.getMessage.contains("synthetic.parquet"),
      e.getMessage)
  }

  test("a truncated level run is refused naming the file and row group") {
    // definition levels: a 1-byte section holding only the header of an RLE
    // run of 5 (0x0A); its value byte is missing
    val bytes = BytesInput.concat(
      rle(1, Seq(0, 1, 1, 0, 1)), BytesInput.fromInt(1), BytesInput.from(Array[Byte](0x0a)))
    val page = new DataPageV1(bytes, 5, bytes.size.toInt,
      Statistics.createStats(listDesc.getPrimitiveType),
      Encoding.RLE, Encoding.RLE, Encoding.PLAIN)
    val e = intercept[IllegalStateException] {
      new SelectiveFetch.PageDecoder(listDesc, "synthetic.parquet").decodeGroup(
        store(Seq(page), 2, None), 2, 100L, Array(100),
        ArrayBuffer[(Long, Array[Float])]())
    }
    assert(e.getMessage.contains("row group 2") && e.getMessage.contains("synthetic.parquet"),
      e.getMessage)
  }

  // ---- run mode against the per-value path ------------------------------

  private def rawBits(v: Array[Float]): Seq[Int] = v.toSeq.map(java.lang.Float.floatToRawIntBits)

  /** `f` over `file`'s `vec` in run mode or per value: its answer, the
    * pages read, and how many of them in run mode.
    */
  private def decoding[T](file: String, runs: Boolean)(
      f: (ParquetFileReader, SelectiveFetch.PageDecoder) => T): (T, Int, Int) =
    SelectiveFetch.withColumn(file, "vec", runs)((r, d) => (f(r, d), d.pagesRead, d.runPages))

  private def fetched(file: String, runs: Boolean, cands: Array[Int]) =
    decoding(file, runs) { (r, d) =>
      SelectiveFetch.fetch(r, d, cands.filter(_ >= 0).distinct.sorted).map { case (ri, v) =>
        (ri, rawBits(v))
      }
    }

  private def scanned(file: String, runs: Boolean) = decoding(file, runs) { (r, d) =>
    val seen = ArrayBuffer[(Long, Seq[Int])]()
    val summary = SelectiveFetch.scan(r, d, (ri, v) => seen += ((ri, rawBits(v))))
    (summary, seen.toSeq)
  }

  /** A row for the run-mode differential: a vector of `dim` random
    * floats, or (where `odd`) one of the shapes that keep a page per
    * value: a null vector, a null element or an empty list.
    */
  private def runRow(rnd: Random, dim: Int, odd: Boolean): Option[Seq[Option[Double]]] =
    if (!odd) Some(Seq.fill(dim)(Some(rnd.nextGaussian())))
    else rnd.nextInt(3) match {
      case 0 => None
      case 1 => Some(Seq.fill(dim)(Some(rnd.nextGaussian())).updated(rnd.nextInt(dim), None))
      case _ => Some(Seq.empty)
    }

  test("differential: run mode equals the per-value path and Spark's reader") {
    var seed = 200
    for {
      double <- Seq(false, true)
      limit <- Seq(Some(1), Some(7), None)
      version <- Seq("v1", "v2")
      dictionary <- Seq(true, false)
    } {
      seed += 1
      val rnd = new Random(seed)
      // dims vary per row (short ones bit-pack their levels, long ones
      // make RLE runs); the odd rows sit in one stretch, so the row group
      // that holds it mixes per-value pages with run-mode ones
      val n = 300
      val oddFrom = 100 + rnd.nextInt(50)
      val rows = Seq.tabulate(n) { i =>
        val dim = if (rnd.nextBoolean()) 1 + rnd.nextInt(7) else 8 + rnd.nextInt(40)
        runRow(rnd, dim, odd = i >= oddFrom && i < oddFrom + 30 && rnd.nextInt(4) == 0)
      }
      val pages = limit.fold(Map.empty[String, String])(l => Map(
        "parquet.page.row.count.limit" -> l.toString, "parquet.page.size.row.check.min" -> "1"))
      val dir = Files.createTempDirectory("graft-selfetch-runs").toString
      val file = writeSpark(dir, rows, double, pages ++ Map(
        "parquet.block.size" -> "4096",
        "parquet.enable.dictionary" -> dictionary.toString,
        "parquet.writer.version" -> version))
      val what = s"$file (double=$double limit=$limit $version dictionary=$dictionary)"
      val truth = oracle(file, vectorized = true)
      val (spans, _) = pageLayout(file)
      candidateSets(new Random(seed), spans, n).foreach { cands =>
        val (byRuns, _, _) = fetched(file, runs = true, cands)
        val (perValue, _, perValueRuns) = fetched(file, runs = false, cands)
        assert(byRuns == perValue, what)
        assert(perValueRuns == 0, what)
        assert(byRuns == cands.filter(c => truth.contains(c.toLong)).distinct.sorted.toSeq
          .map(c => (c.toLong, truth(c.toLong))), what)
      }
      val ((summary, seen), read, runPages) = scanned(file, runs = true)
      val ((summary0, seen0), read0, runPages0) = scanned(file, runs = false)
      assert(summary == summary0 && seen == seen0 && read == read0 && runPages0 == 0, what)
      assert(seen == truth.toSeq.sortBy(_._1), what)
      val nonNull = rows.flatten
      assert(summary == SelectiveFetch.ColumnSummary(
        n.toLong, rows.count(_.isEmpty).toLong, nonNull.count(_.contains(None)).toLong,
        nonNull.map(_.size).min, nonNull.map(_.size).max), what)
      // the odd rows keep some pages per value; the rest go by runs
      assert(runPages > 0 && runPages < read, s"$what: $runPages of $read pages by runs")
    }
  }

  test("runPages counts every page of a plain table, and no page with a null element") {
    val rnd = new Random(3)
    val plain = writeSpark(Files.createTempDirectory("graft-selfetch-plain").toString,
      Seq.fill(2000)(Some(Seq.fill(64)(Some(rnd.nextGaussian())))), double = false,
      Map("parquet.page.size" -> "65536"))
    val ((summary, seen), read, runs) = scanned(plain, runs = true)
    assert(read > 1 && runs == read, s"$runs of $read pages by runs")
    assert(summary.rows == 2000 && seen.size == 2000)
    val (got, fetchRead, fetchRuns) = fetched(plain, runs = true, Array(0, 999, 1999))
    assert(got.map(_._1) == Seq(0L, 999L, 1999L) && fetchRead > 0 && fetchRuns == fetchRead)
    // one page, one null element in it
    val nullElem = writeSpark(Files.createTempDirectory("graft-selfetch-nullelem").toString,
      Seq(Some(Seq(Some(1.0), Some(2.0))), Some(Seq(Some(3.0), None)), Some(Seq(Some(4.0), Some(5.0)))),
      double = false, Map.empty)
    val ((nullSummary, nullSeen), nullRead, nullRuns) = scanned(nullElem, runs = true)
    assert(nullRead == 1 && nullRuns == 0)
    assert(nullSummary.nullElements == 1 && nullSeen.map(_._1) == Seq(0L, 2L))
  }

  /** The first `vec` page of `file`, as read (decompressed). */
  private def firstPage(file: String): DataPage = footerOf(file) { r =>
    val desc = r.getFooter.getFileMetaData.getSchema.getColumns.asScala
      .find(_.getPath.head == "vec").get
    val pages = r.readNextRowGroup()
    val page = pages.getPageReader(desc).readPage()
    // materialize the bytes before the reader closes
    page match {
      case p: DataPageV1 =>
        new DataPageV1(BytesInput.from(p.getBytes.toByteArray), p.getValueCount,
          p.getUncompressedSize, p.getStatistics, p.getRlEncoding, p.getDlEncoding,
          p.getValueEncoding)
      case p: DataPageV2 =>
        DataPageV2.uncompressed(p.getRowCount, p.getNullCount, p.getValueCount,
          BytesInput.from(p.getRepetitionLevels.toByteArray),
          BytesInput.from(p.getDefinitionLevels.toByteArray),
          p.getDataEncoding, BytesInput.from(p.getData.toByteArray), p.getStatistics)
    }
  }

  /** The offsets of the run headers in a level section of `bitWidth`. */
  private def runHeaders(section: Array[Byte], bitWidth: Int): Seq[Int] = {
    val out = ArrayBuffer[Int]()
    var pos = 0
    while (pos < section.length) {
      out += pos
      var header = 0
      var shift = 0
      var b = 0x80
      while ((b & 0x80) != 0) { b = section(pos) & 0xff; header |= (b & 0x7f) << shift; shift += 7; pos += 1 }
      pos += (if ((header & 1) == 0) (bitWidth + 7) / 8 else (header >>> 1) * bitWidth)
    }
    out.toSeq
  }

  test("a damaged run-mode page decodes as the per-value path does, or is refused") {
    val rnd = new Random(11)
    // dims 1..20 with a stretch of 1-element rows: RLE and bit-packed
    // repetition runs, RLE runs of record starts
    val dims = Seq(20, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 9, 17, 2, 5)
    val rows = dims.map(d => Some(Seq.fill(d)(Some(rnd.nextGaussian()))))
    val desc = MessageTypeParser.parseMessageType(
      "message m { optional group vec (LIST) { repeated group list { optional float element; } } }")
      .getColumns.get(0)
    for (version <- Seq("v1", "v2"); limit <- Seq("1", "100")) {
      val file = writeSpark(Files.createTempDirectory("graft-selfetch-damage").toString, rows,
        double = false, Map("parquet.writer.version" -> version,
          "parquet.page.row.count.limit" -> limit, "parquet.page.size.row.check.min" -> "1",
          "parquet.enable.dictionary" -> "false"))
      val page = firstPage(file)
      val nRows = if (limit == "1") 1 else dims.size
      val cands = (100 until 100 + nRows).toArray
      def decode(p: DataPage, runs: Boolean): (Seq[(Long, Seq[Int])], SelectiveFetch.ColumnSummary,
          Seq[(Long, Seq[Int])]) = {
        val out = ArrayBuffer[(Long, Array[Float])]()
        new SelectiveFetch.PageDecoder(desc, "damaged.parquet", runs)
          .decodeGroup(store(Seq(p), nRows, None), 2, 100L, cands, out)
        val seen = ArrayBuffer[(Long, Seq[Int])]()
        val scan = new SelectiveFetch.PageDecoder(desc, "damaged.parquet", runs)
        scan.scanGroup(store(Seq(p), nRows, None), 2, 100L, (ri, v) => seen += ((ri, rawBits(v))))
        (out.toSeq.map { case (ri, v) => (ri, rawBits(v)) }, scan.summary, seen.toSeq)
      }
      // the intact page goes by runs and reads every row
      val intact = decode(page, runs = true)
      assert(intact == decode(page, runs = false) && intact._1.size == nRows)
      val probe = new SelectiveFetch.PageDecoder(desc, "damaged.parquet")
      probe.scanGroup(store(Seq(page), nRows, None), 2, 100L, null)
      assert(probe.runPages == 1, s"$version limit $limit: the intact page is not read by runs")

      // (repetition section, definition section, rebuild from both)
      val (rep, dfn, rebuild) = page match {
        case p: DataPageV1 =>
          val bytes = java.nio.ByteBuffer.wrap(p.getBytes.toByteArray)
            .order(java.nio.ByteOrder.LITTLE_ENDIAN)
          val repLen = bytes.getInt(0)
          val defLen = bytes.getInt(4 + repLen)
          val all = bytes.array()
          val values = all.drop(8 + repLen + defLen)
          def v1(r: Array[Byte], d: Array[Byte]): DataPage = {
            val b = BytesInput.concat(BytesInput.fromInt(r.length), BytesInput.from(r),
              BytesInput.fromInt(d.length), BytesInput.from(d), BytesInput.from(values))
            new DataPageV1(b, p.getValueCount, b.size.toInt, p.getStatistics,
              p.getRlEncoding, p.getDlEncoding, p.getValueEncoding)
          }
          (all.slice(4, 4 + repLen), all.slice(8 + repLen, 8 + repLen + defLen), v1 _)
        case p: DataPageV2 =>
          val data = p.getData.toByteArray
          def v2(r: Array[Byte], d: Array[Byte]): DataPage = DataPageV2.uncompressed(
            p.getRowCount, p.getNullCount, p.getValueCount, BytesInput.from(r), BytesInput.from(d),
            p.getDataEncoding, BytesInput.from(data), p.getStatistics)
          (p.getRepetitionLevels.toByteArray, p.getDefinitionLevels.toByteArray, v2 _)
      }
      val damaged =
        (0 until rep.length).map(t => s"repetition cut at $t" -> rebuild(rep.take(t), dfn)) ++
          (0 until dfn.length).map(t => s"definition cut at $t" -> rebuild(rep, dfn.take(t))) ++
          (for {
            (name, section, width) <- Seq(("repetition", rep, 1), ("definition", dfn, 2))
            at <- runHeaders(section, width)
            b <- Seq(0x00, 0x01, 0x02, 0x03, 0x7f, 0x80, 0xff, section(at) ^ 1, section(at) + 2,
              section(at) - 2).map(_.toByte).distinct if b != section(at)
          } yield {
            val hit = section.updated(at, b)
            s"$name header at $at set to ${b & 0xff}" ->
              (if (name == "repetition") rebuild(hit, dfn) else rebuild(rep, hit))
          })
      assert(damaged.size > 20)
      damaged.foreach { case (what, p) =>
        val context = s"$version limit $limit, $what"
        scala.util.Try(decode(p, runs = true)) match {
          case scala.util.Success(got) =>
            assert(got == decode(p, runs = false), s"$context: run mode differs from per value")
          case scala.util.Failure(e: IllegalStateException) =>
            assert(e.getMessage.contains("row group 2") && e.getMessage.contains("damaged.parquet"),
              s"$context: ${e.getMessage}")
          case scala.util.Failure(e) => fail(s"$context: neither an answer nor a refusal", e)
        }
      }
    }
  }
}
