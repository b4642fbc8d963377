package graft.ivf

import java.nio.file.Files

import scala.jdk.CollectionConverters._
import scala.util.Random

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.execution.SparkPlan
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.plans.WinnerPayloadExec

/** Differential test of `VectorTopK.indexed`'s winners-only payload: Spark's
  * own reader is the oracle. Every returned row must equal, bit for bit,
  * the row `spark.read.parquet(dir)` holds for the same winner (ids are
  * unique, so the id names the winner's file and row), over every atomic
  * column type, several page and row-group layouts, and the tables that
  * fall back to the scan semi-join.
  */
class WinnerPayloadSpec extends SparkSpec {

  private val rows = 300

  private val schema = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("i", IntegerType), StructField("s", ShortType), StructField("b", ByteType),
    StructField("flag", BooleanType), StructField("f", FloatType), StructField("d", DoubleType),
    StructField("word", StringType), StructField("text", StringType),
    StructField("bin", BinaryType), StructField("day", DateType),
    StructField("ts", TimestampType), StructField("ntz", TimestampNTZType),
    StructField("dec9", DecimalType(9, 2)), StructField("dec18", DecimalType(18, 4)),
    StructField("dec30", DecimalType(30, 6)),
    StructField("vec", ArrayType(FloatType, containsNull = true)),
    StructField("part", StringType)))

  /** Seeded rows: every nullable column about 10% null, floats and doubles
    * with their specials, `word` from a small pool (dictionary-friendly),
    * `text` unique, and a non-null 4-dim vector.
    */
  private def table(seed: Int): DataFrame = {
    val rnd = new Random(seed)
    def orNull[T](v: => T): Any = if (rnd.nextInt(10) == 0) null else v
    val fs = Array(Float.NaN, -0.0f, Float.PositiveInfinity, Float.MinPositiveValue)
    val ds = Array(Double.NaN, -0.0, Double.NegativeInfinity, Double.MinPositiveValue)
    val data = (0 until rows).map { id =>
      Row(
        id.toLong,
        orNull(rnd.nextInt()), orNull(rnd.nextInt().toShort), orNull(rnd.nextInt().toByte),
        orNull(rnd.nextBoolean()),
        orNull(if (rnd.nextInt(4) == 0) fs(rnd.nextInt(fs.length)) else rnd.nextGaussian().toFloat),
        orNull(if (rnd.nextInt(4) == 0) ds(rnd.nextInt(ds.length)) else rnd.nextGaussian() * 1e6),
        orNull(Seq("alpha", "beta", "gamma", "", "δέλτα")(rnd.nextInt(5))),
        orNull(s"text-$id-${rnd.alphanumeric.take(rnd.nextInt(12)).mkString}"),
        orNull(Array.fill(rnd.nextInt(9))(rnd.nextInt().toByte)),
        orNull(java.sql.Date.valueOf(java.time.LocalDate.ofEpochDay(rnd.nextInt(50000) - 25000L))),
        orNull(DateTimeUtils.toJavaTimestamp((rnd.nextDouble() * 4e15 - 2e15).toLong)),
        orNull(DateTimeUtils.microsToLocalDateTime((rnd.nextDouble() * 4e15 - 2e15).toLong)),
        orNull(new java.math.BigDecimal(java.math.BigInteger.valueOf(rnd.nextInt(999999999)), 2)),
        orNull(new java.math.BigDecimal(
          java.math.BigInteger.valueOf(rnd.nextLong() % 999999999999999999L), 4)),
        orNull {
          val u = new java.math.BigInteger(95, rnd.self)
          new java.math.BigDecimal(if (rnd.nextBoolean()) u.negate else u, 6)
        },
        Seq.fill(4)(rnd.nextGaussian().toFloat),
        if (rnd.nextBoolean()) "a" else "b")
    }
    spark.createDataFrame(spark.sparkContext.parallelize(data, 3), schema)
  }

  /** Writes `df` with `opts` under the session's `outputTimestampType` set
    * to `tsType` (INT96 is Spark's default).
    */
  private def write(
      df: DataFrame, opts: Map[String, String], tsType: String = "INT96",
      partitioned: Boolean = false): String = {
    val dir = Files.createTempDirectory("graft-payload").toString
    val key = "spark.sql.parquet.outputTimestampType"
    val prior = spark.conf.getOption(key)
    spark.conf.set(key, tsType)
    try {
      val w = df.write.mode("overwrite").options(opts)
      (if (partitioned) w.partitionBy("part") else w).parquet(dir)
    } finally prior.fold(spark.conf.unset(key))(spark.conf.set(key, _))
    dir
  }

  private def canon(v: Any): String = v match {
    case null => "null"
    case f: Float => s"f${java.lang.Float.floatToRawIntBits(f)}"
    case d: Double => s"d${java.lang.Double.doubleToRawLongBits(d)}"
    case b: Array[Byte] => b.map(x => f"$x%02x").mkString("x", "", "")
    case r: Row => canonRow(r)
    case s: scala.collection.Seq[_] => s.map(canon).mkString("[", ",", "]")
    case bd: java.math.BigDecimal => s"m$bd"
    case other => s"${other.getClass.getSimpleName}:$other"
  }

  private def canonRow(r: Row): String =
    r.schema.fieldNames.indices.map(i => r.schema(i).name + "=" + canon(r.get(i))).mkString("|")

  private def allNodes(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => p +: allNodes(a.executedPlan)
    case q: QueryStageExec => p +: allNodes(q.plan)
    case _ => p +: p.children.flatMap(allNodes)
  }

  /** A seeded query at k = 7 and at k = every row: the winners are the
    * brute-force top-k, the schema is Spark's, every row is the oracle's
    * bit for bit (collected directly and through a task), and the plan
    * holds the payload node iff `pageLevel`.
    */
  private def assertMatchesOracle(
      dir: String, store: IndexStore, nClusters: Int, pageLevel: Boolean, seed: Int): Unit = {
    val table = spark.read.parquet(dir)
    val oracle = table.collect().map(r => r.getAs[Long]("id") -> canonRow(r)).toMap
    val rnd = new Random(seed)
    val q = Seq.fill(4)(rnd.nextGaussian().toFloat)
    for (k <- Seq(7, rows)) {
      val df = VectorTopK.indexed(
        spark, dir, "vec", q, k, VectorTopK.Options(nprobe = nClusters), store = store)
      val got = df.collect()
      assert(df.schema == table.schema)
      // a direct collect reads the payload on the driver; any other
      // consumer reads it in a task — both give the same rows in order
      val viaTask = df.toLocalIterator().asScala.toSeq
      assert(viaTask.map(canonRow) == got.toSeq.map(canonRow), s"$dir: task-side payload")
      val brute = VectorTopK.bruteForce(table, "vec", q, k)
        .select("id").collect().map(_.getLong(0)).toSet
      assert(got.map(_.getAs[Long]("id")).toSet == brute, s"$dir: winners at k=$k")
      got.foreach { r =>
        assert(canonRow(r) == oracle(r.getAs[Long]("id")), s"$dir: row ${r.getAs[Long]("id")}")
      }
      val nodes = allNodes(df.queryExecution.executedPlan)
      assert(nodes.exists(_.isInstanceOf[WinnerPayloadExec]) == pageLevel,
        df.queryExecution.executedPlan.toString)
    }
  }

  private def tmpStore = new IndexStore(Files.createTempDirectory("graft-payload-store").toString)

  private def indexed(dir: String): (IndexStore, Int) = {
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    (store, build.nClusters)
  }

  private def rowGroups(dir: String): Int =
    new java.io.File(dir).listFiles().filter(_.getName.endsWith(".parquet")).map { f =>
      val r = IndexStore.openParquet(f.getPath)
      try r.getFooter.getBlocks.size finally r.close()
    }.sum

  test("payload equals Spark's reader: default write, Hive partition column") {
    val dir = write(table(1).repartition(2), Map.empty, partitioned = true)
    // the job-free listing names the files Spark's read does
    assert(IndexManager.listFiles(spark, dir) ==
      spark.read.parquet(dir).inputFiles.toSeq.map(IndexStore.canonicalPath).sorted)
    val (store, n) = indexed(dir)
    assertMatchesOracle(dir, store, n, pageLevel = true, seed = 1)
  }

  test("payload equals Spark's reader: small pages, many row groups, V1 and V2 pages") {
    val small = Map(
      "parquet.page.size" -> "512",
      "parquet.page.row.count.limit" -> "7",
      "parquet.page.size.row.check.min" -> "1",
      "parquet.block.size" -> "4096")
    Seq(
      ("v1", "true", "TIMESTAMP_MICROS"),
      ("v2", "false", "TIMESTAMP_MILLIS"),
      ("v2", "true", "INT96")).zipWithIndex.foreach { case ((version, dict, ts), i) =>
      val dir = write(table(10 + i).coalesce(2), small ++ Map(
        "parquet.writer.version" -> version, "parquet.enable.dictionary" -> dict), ts)
      assert(rowGroups(dir) > 2, s"$dir: expected several row groups")
      val (store, n) = indexed(dir)
      assertMatchesOracle(dir, store, n, pageLevel = true, seed = 10 + i)
    }
  }

  test("payload equals Spark's reader on the 1-row-page layout") {
    val in = write(table(20), Map.empty)
    val out = Files.createTempDirectory("graft-payload-1row").toString
    val build = IvfBuilder.rewriteWithIndex(
      spark, in, out, IvfBuilder.Config("vec", nClusters = Some(4)), numFiles = Some(2))
    // the index is footer-embedded, so any store serves it
    assertMatchesOracle(out, tmpStore, build.nClusters, pageLevel = true, seed = 20)
  }

  test("a struct column or a list<double> vector takes the scan semi-join, same rows") {
    val base = table(30)
    val withStruct = write(base.selectExpr(
      "id", "vec", "named_struct('x', i, 'y', word) AS st", "word"), Map.empty)
    val (s1, n1) = indexed(withStruct)
    assertMatchesOracle(withStruct, s1, n1, pageLevel = false, seed = 30)
    val doubles = write(base.selectExpr("id", "CAST(vec AS array<double>) AS vec", "d"), Map.empty)
    val (s2, n2) = indexed(doubles)
    assertMatchesOracle(doubles, s2, n2, pageLevel = false, seed = 31)
  }
}
