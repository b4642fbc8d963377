package graft.ivf

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.functions.VectorKernels

/** The centroid-epoch contract: artifacts derived from the IVF centroids
  * (residual PQ codes, per-cell radius bounds) are stamped with
  * [[IvfIndex.centroidDigest]] and refused — never silently mis-scored —
  * when the index has been retrained since they were built.
  */
class CentroidEpochSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private def fixture(): (String, IndexStore, Seq[(Long, Seq[Float])]) = {
    val dir = Files.createTempDirectory("graft-epoch").toString
    val rnd = new scala.util.Random(71)
    val rows = (0 until 300).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
    rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2)
      .write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-epoch-idx").toString)
    (dir, store, rows)
  }

  private def exactPq(
      dir: String, store: IndexStore, q: Seq[Float], k: Int, nClusters: Int) =
    VectorTopK
      .search(spark, dir, "vec", q, k,
        VectorTopK.Options(
          nprobe = nClusters, tier = VectorTopK.Tier.Pq(residual = true),
          oversample = Some((300 + k - 1) / k)), store = store)
      .collect()

  // row_idx is FILE-LOCAL (the reference SearchResult shape), so the
  // cross-path contract here is the distance multiset, like PqSpec
  private def bruteDists(rows: Seq[(Long, Seq[Float])], q: Seq[Float], k: Int): Seq[Float] =
    rows
      .map { case (_, v) =>
        math.sqrt(VectorKernels.squaredL2(v.toArray, q.toArray).toDouble).toFloat
      }
      .sorted
      .take(k)

  test("centroidDigest is deterministic and moves with any centroid") {
    val idx = IvfIndex(2, 2, Array(1.0f, 2.0f, 3.0f, 4.0f), Array(Array(0), Array(1)))
    val same = IvfIndex(2, 2, Array(1.0f, 2.0f, 3.0f, 4.0f), Array(Array(1), Array(0)))
    assert(idx.centroidDigest == same.centroidDigest, "digest is centroids-only")
    val moved = idx.copy(centroids = Array(1.0f, 2.0f, 3.0f, 4.0000005f))
    assert(idx.centroidDigest != moved.centroidDigest)
  }

  test("a retrain (full rebuild) invalidates residual PQ sidecars; ensure recovers") {
    val (dir, store, rows) = fixture()
    val build = IvfBuilder.build(
      spark, dir, IvfBuilder.Config("vec", nClusters = Some(5)), store)
    PqSidecar.build(spark, dir, "vec", m = 4, store, residual = true)
    val files = IndexManager.listFiles(spark, dir)
    assert(files.forall(store.exists(_, "vec", IndexStore.Sidecar.Pqr)))

    val q = Seq.fill(dim)(0.5f)
    val k = 10
    assert(
      exactPq(dir, store, q, k, build.nClusters).map(_.distance).sorted.toSeq
        == bruteDists(rows, q, k))

    // retrain: the (re)index path must drop the now-stale residual codes
    val rebuilt = IvfBuilder.build(
      spark, dir, IvfBuilder.Config("vec", nClusters = Some(7)), store)
    assert(
      files.forall(f => !store.exists(f, "vec", IndexStore.Sidecar.Pqr)),
      "assignAndWrite must delete residual PQ sidecars of the old epoch")

    // ensure re-encodes under the new centroids and search is exact again
    PqSidecar.ensure(spark, dir, "vec", m = 4, store, residual = true)
    assert(
      exactPq(dir, store, q, k, rebuilt.nClusters).map(_.distance).sorted.toSeq
        == bruteDists(rows, q, k))
  }

  test("a stale-epoch residual sidecar is refused at search, rebuilt by ensure") {
    val (dir, store, rows) = fixture()
    val build = IvfBuilder.build(
      spark, dir, IvfBuilder.Config("vec", nClusters = Some(5)), store)
    PqSidecar.build(spark, dir, "vec", m = 4, store, residual = true)
    val files = IndexManager.listFiles(spark, dir)

    // out-of-band rebuild (bypassing assignAndWrite's cleanup): shift every
    // file's centroids in place — the .pqr codes now belong to a dead epoch
    files.foreach { f =>
      val idx = IndexManager.loadIndex(store, f, "vec")
      store.write(f, "vec", idx.copy(centroids = idx.centroids.map(_ + 0.25f)))
    }
    val q = Seq.fill(dim)(0.5f)
    val err = intercept[Exception] {
      exactPq(dir, store, q, 10, build.nClusters)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(e => Option(e.getMessage).toSeq ++ messages(e.getCause))
    assert(
      messages(err).exists(_.contains("stale residual PQ sidecar")),
      s"expected a stale-sidecar refusal, got: ${messages(err).mkString(" | ")}")

    // ensure sees the digest mismatch as sidecar-absent and re-encodes
    PqSidecar.ensure(spark, dir, "vec", m = 4, store, residual = true)
    assert(
      exactPq(dir, store, q, 10, build.nClusters).map(_.distance).sorted.toSeq
        == bruteDists(rows, q, 10))
  }

  test("residual build refuses mixed-generation per-file indexes") {
    val (dir, store, _) = fixture()
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(5)), store)
    val files = IndexManager.listFiles(spark, dir)
    assume(files.size >= 2)
    val idx = IndexManager.loadIndex(store, files.head, "vec")
    store.write(files.head, "vec", idx.copy(centroids = idx.centroids.map(_ + 1.0f)))
    val err = intercept[IllegalStateException] {
      PqSidecar.build(spark, dir, "vec", m = 4, store, residual = true)
    }
    assert(err.getMessage.contains("mixed-generation"))
  }

  test("non-residual PQ and SQ8 sidecars survive a retrain (centroid-independent)") {
    val (dir, store, _) = fixture()
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(5)), store)
    PqSidecar.build(spark, dir, "vec", m = 4, store)
    Sq8Sidecar.build(spark, dir, "vec", store)
    val files = IndexManager.listFiles(spark, dir)
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(7)), store)
    assert(files.forall(store.exists(_, "vec", IndexStore.Sidecar.Pq)), "plain PQ codes are epoch-free")
    assert(files.forall(store.exists(_, "vec", IndexStore.Sidecar.Sq8)), "SQ8 codes are epoch-free")
  }
}
