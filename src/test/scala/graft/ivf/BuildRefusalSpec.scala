package graft.ivf

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.Row
import org.apache.spark.sql.types._

import graft.SparkSpec
import graft.ivf.IndexStore.Sidecar

/** The build-refusal contract: a table whose embedding column holds a null
  * vector, a null element, an empty list or vectors of more than one dim —
  * or whose leaf is not float/double — is refused by every build entry point
  * (`IvfBuilder.build`, `IvfBuilder.extend`, `Sq8Sidecar.build`,
  * `PqSidecar.build`) with an `IllegalArgumentException` raised on the
  * driver, before any sidecar of that family is written. Every table has two
  * files; the bad row sits in the second.
  */
class BuildRefusalSpec extends SparkSpec {

  private val Dim = 8

  private def good(i: Int): Seq[Any] = Seq.tabulate(Dim)(j => java.lang.Float.valueOf(i * 0.1f + j))

  /** Write `rows` (id, vec) as one parquet file named `name` in `dir`. */
  private def writeFile(dir: String, name: String, rows: Seq[Seq[Any]], elem: DataType): Unit = {
    val schema = StructType(Seq(
      StructField("id", IntegerType),
      StructField("vec", ArrayType(elem, containsNull = true))))
    val data = rows.zipWithIndex.map { case (v, i) => Row(i, v) }
    val tmp = Files.createTempDirectory("graft-refusal-part").toString
    spark.createDataFrame(spark.sparkContext.parallelize(data, 1), schema)
      .write.mode("overwrite").parquet(tmp)
    val written = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(written.toPath, Paths.get(dir, name))
  }

  private def sidecars(store: IndexStore, ext: String): Seq[String] =
    new java.io.File(store.dir).listFiles().map(_.getName).filter(_.endsWith("." + ext)).toSeq

  private def freshStore = new IndexStore(Files.createTempDirectory("graft-refusal-store").toString)

  /** Run every entry point over a table of a good first file and `second`
    * (written with element type `elem`). `buildMsg` is the message of the
    * full-table passes, `extendMsg` that of `extend` (which validates the
    * new file alone).
    */
  private def assertRefused(
      second: Seq[Seq[Any]], elem: DataType, buildMsg: String, extendMsg: String): Unit = {
    val dir = Files.createTempDirectory("graft-refusal").toString
    writeFile(dir, "part-0.parquet", (0 until 40).map(good), FloatType)

    // extend: the first file is indexed before the second arrives
    val extStore = freshStore
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), extStore)
    val indexed = sidecars(extStore, Sidecar.Index.ext)
    assert(indexed.size == 1)
    writeFile(dir, "part-1.parquet", second, elem)
    def refused(what: String, msg: String)(run: => Any): Unit = {
      val e = intercept[IllegalArgumentException](run)
      assert(e.getMessage.contains(msg), s"$what: ${e.getMessage}")
    }
    refused("extend", extendMsg) {
      IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), extStore)
    }
    assert(sidecars(extStore, Sidecar.Index.ext) == indexed, "extend wrote an index")

    val store = freshStore
    refused("build", buildMsg) {
      IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    }
    refused("sq8", buildMsg)(Sq8Sidecar.build(spark, dir, "vec", store))
    refused("pq", buildMsg)(PqSidecar.build(spark, dir, "vec", m = 2, store = store))
    for (family <- Seq(Sidecar.Index, Sidecar.Radii, Sidecar.Sq8, Sidecar.Pq))
      assert(sidecars(store, family.ext).isEmpty, s"a refused build wrote .${family.ext}")
  }

  test("a null vector is refused by every build entry point") {
    val msg = "null vectors in column 'vec'"
    assertRefused((0 until 20).map(good) :+ null, FloatType, msg, msg)
  }

  test("a null element is refused by every build entry point") {
    val msg = "null elements in column 'vec'"
    assertRefused((0 until 20).map(good) :+ good(99).updated(3, null), FloatType, msg, msg)
  }

  test("an empty list is refused by every build entry point") {
    val msg = s"inconsistent vector dims: [0, $Dim]"
    assertRefused((0 until 20).map(good) :+ Seq.empty, FloatType, msg, msg)
  }

  test("dims that differ between two files are refused by every build entry point") {
    assertRefused(
      Seq(good(99).take(6)), FloatType,
      buildMsg = s"inconsistent vector dims: [6, $Dim]",
      extendMsg = s"new files' vector dim 6 != existing index dim $Dim")
  }

  test("a leaf that is neither float nor double is refused by name") {
    val msg = "column 'vec' holds INT32 elements"
    assertRefused(
      (0 until 20).map(i => Seq.tabulate(Dim)(j => Integer.valueOf(i + j))), IntegerType, msg, msg)
  }
}
