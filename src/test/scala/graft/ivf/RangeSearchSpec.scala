package graft.ivf

import java.nio.file.{Files, Paths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.functions.{array_distance, float_vector}

class RangeSearchSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  /** Clustered fixture: three well-separated blobs so cell pruning has
    * something to prune, written as multiple files.
    */
  private def fixture(): (String, IndexStore) = {
    val dir = Files.createTempDirectory("graft-range").toString
    val rows = (0 until 300).map { i =>
      val center = (i % 3) * 10.0f
      val v = (0 until dim).map(j => center + ((i * 31 + j * 7) % 10) / 50.0f)
      (i.toLong, v)
    }
    rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(3)
      .write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-range-idx").toString)
    IvfBuilder.build(
      spark, dir, IvfBuilder.Config("vec", nClusters = Some(6)), store)
    (dir, store)
  }

  private def brute(dir: String, query: Seq[Float], radius: Float): Seq[Long] =
    spark.read.parquet(dir)
      .where(array_distance(col("vec"), float_vector(query)) < lit(radius))
      .select("id").as[Long].collect().sorted.toSeq

  private def ranged(
      dir: String, store: IndexStore, query: Seq[Float], radius: Float): Seq[Long] =
    VectorTopK.rangeRows(spark, dir, "vec", query, radius, store)
      .select("id").as[Long].collect().sorted.toSeq

  test("equals the brute filter at small, blob-covering, and global radii") {
    val (dir, store) = fixture()
    val near = (0 until dim).map(_ => 0.1f) // inside blob 0
    for (radius <- Seq(0.3f, 1.5f, 40.0f)) {
      val expected = brute(dir, near, radius)
      assert(ranged(dir, store, near, radius) == expected, s"radius=$radius")
    }
    // a radius catching nothing
    val far = (0 until dim).map(_ => 100.0f)
    assert(ranged(dir, store, far, 1.0f).isEmpty)
    assert(brute(dir, far, 1.0f).isEmpty)
  }

  test("cell pruning drops far blobs but never an in-range member") {
    val (dir, store) = fixture()
    val near = (0 until dim).map(_ => 0.1f).toArray
    val files = IndexManager.listFiles(spark, dir)
    val idx = IndexManager.loadIndex(store, files.head, "vec")
    val radii = store.loadRadii(files.head, "vec", idx.centroidDigest)
    assert(radii.isDefined, "build must write the radius sidecar")
    assert(radii.get.length == idx.nClusters)
    val probed = idx.rangeProbeCells(near, 1.0f, radii)
    val allNonEmpty = (0 until idx.nClusters).count(idx.invertedLists(_).nonEmpty)
    assert(probed.length < allNonEmpty, "a 1.0 radius must prune the far blobs")
    // every in-range member's cell is in the probe set
    val cellOf = Map.empty[Int, Int] ++ (for {
      c <- 0 until idx.nClusters
      ri <- idx.invertedLists(c)
    } yield ri -> c)
    val inRange = SelectiveFetch
      .embeddings(
        files.head, "vec",
        (0 until idx.numRows.toInt).toArray)
      .collect {
        case (ri, v)
            if math.sqrt(graft.functions.VectorKernels.squaredL2(v, near).toDouble) < 1.0 =>
          ri.toInt
      }
    inRange.foreach { ri =>
      assert(probed.contains(cellOf(ri)), s"in-range ordinal $ri's cell was pruned")
    }
  }

  test("missing radius sidecar degrades to probe-all and stays exact") {
    val (dir, store) = fixture()
    val files = IndexManager.listFiles(spark, dir)
    files.foreach(f => Files.deleteIfExists(Paths.get(store.path(f, "vec", IndexStore.Sidecar.Radii))))
    val near = (0 until dim).map(_ => 0.1f)
    assert(ranged(dir, store, near, 1.5f) == brute(dir, near, 1.5f))
    // ensureRadii backfills without touching the indexes
    val indexBytesBefore =
      files.map(f => Files.readAllBytes(Paths.get(store.indexPath(f, "vec"))).toSeq)
    IvfBuilder.ensureRadii(spark, dir, "vec", store)
    assert(files.forall(store.exists(_, "vec", IndexStore.Sidecar.Radii)))
    val indexBytesAfter =
      files.map(f => Files.readAllBytes(Paths.get(store.indexPath(f, "vec"))).toSeq)
    assert(indexBytesBefore == indexBytesAfter)
    assert(ranged(dir, store, near, 1.5f) == brute(dir, near, 1.5f))
  }

  test("radius sidecar bounds are sound: no member farther than its cell radius") {
    val (dir, store) = fixture()
    val files = IndexManager.listFiles(spark, dir)
    files.foreach { f =>
      val idx = IndexManager.loadIndex(store, f, "vec")
      val radii = store.loadRadii(f, "vec", idx.centroidDigest).get
      val all = idx.invertedLists.flatten.sorted
      val vecs = SelectiveFetch.embeddings(f, "vec", all).toMap
      for (c <- 0 until idx.nClusters; ri <- idx.invertedLists(c)) {
        val cent = java.util.Arrays.copyOfRange(idx.centroids, c * dim, (c + 1) * dim)
        val d = math.sqrt(
          graft.functions.VectorKernels.squaredL2(vecs(ri.toLong), cent).toDouble)
        assert(d <= radii(c).toDouble, s"member $ri of cell $c exceeds stored radius")
      }
    }
  }

  test("radii from a different centroid epoch read as absent; range stays exact") {
    val (dir, store) = fixture()
    val files = IndexManager.listFiles(spark, dir)
    // simulate an out-of-band index rebuild AFTER the radii were written
    // (e.g. the reference engine retrained with the same k): shift every
    // centroid; the old radii no longer bound the new cells
    files.foreach { f =>
      val idx = IndexManager.loadIndex(store, f, "vec")
      store.write(f, "vec", idx.copy(centroids = idx.centroids.map(_ + 0.25f)))
    }
    val shifted = IndexManager.loadIndex(store, files.head, "vec")
    assert(
      store.loadRadii(files.head, "vec", shifted.centroidDigest).isEmpty,
      "stale-epoch radii must be treated as absent, not trusted")
    // probe-all fallback keeps range search exact even under the new index
    val near = (0 until dim).map(_ => 0.1f)
    assert(ranged(dir, store, near, 1.5f) == brute(dir, near, 1.5f))
  }

  test("selectivity bailout: a wide radius takes the scan plan, stays exact") {
    val (dir, store) = fixture()
    val near = (0 until dim).map(_ => 0.1f)
    // global radius: every cell survives the triangle bound → fraction 1.0
    val wide = VectorTopK.rangeRows(spark, dir, "vec", near, 40.0f, store)
    val widePlan = wide.queryExecution.optimizedPlan.toString
    assert(!widePlan.contains("WinnerPayload"), widePlan)
    assert(wide.select("id").as[Long].collect().sorted.toSeq == brute(dir, near, 40.0f))
    // tight radius on this 300-row fixture: one blob of three survives the
    // triangle bound (~1/3 candidate fraction), which the measurement-driven
    // default crossover (0.05, VectorTopKRule.RangeMaxSelectivityDefault)
    // correctly refuses — the scan is cheaper at that fraction
    val tightDefault = VectorTopK.rangeRows(spark, dir, "vec", near, 0.3f, store)
    assert(!tightDefault.queryExecution.optimizedPlan.toString.contains("WinnerPayload"))
    // pinned up, pruning engages (the page-level payload) and stays exact
    spark.conf.set(graft.plans.VectorTopKRule.RangeMaxSelectivityKey, "0.5")
    try {
      val tight = VectorTopK.rangeRows(spark, dir, "vec", near, 0.3f, store)
      val tightPlan = tight.queryExecution.optimizedPlan.toString
      assert(tightPlan.contains("WinnerPayload"), tightPlan)
      assert(tight.select("id").as[Long].collect().sorted.toSeq == brute(dir, near, 0.3f))
    } finally spark.conf.unset(graft.plans.VectorTopKRule.RangeMaxSelectivityKey)
    // rangeSearch's bail branch: kernel-identical distances, same rows
    val rs = VectorTopK.rangeSearch(spark, dir, "vec", near, 40.0f, store).collect()
    assert(rs.length == brute(dir, near, 40.0f).length)
    assert(rs.forall(_.distance < 40.0f))
  }

  test("rangeSearch emits SearchResult rows, distance-ascending, strictly inside") {
    val (dir, store) = fixture()
    val near = (0 until dim).map(_ => 0.1f)
    val res = VectorTopK.rangeSearch(spark, dir, "vec", near, 1.5f, store).collect()
    assert(res.nonEmpty)
    assert(res.forall(_.distance < 1.5f))
    assert(res.map(_.distance).toSeq == res.map(_.distance).sorted.toSeq)
  }

  test("rangeRows equals the brute filter at radii equal to rows' distances, scanned or pruned") {
    val rnd = new scala.util.Random(9)
    val d = 64
    val dir = Files.createTempDirectory("graft-range-boundary").toString
    (0 until 600).map(i => (i.toLong, Seq.fill(d)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2).write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-range-boundary-idx").toString)
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    val q = Seq.fill(d)(rnd.nextGaussian().toFloat)
    val dists = spark.read.parquet(dir)
      .select(array_distance(col("vec"), float_vector(q))).as[Float].collect().sorted
    val key = graft.plans.VectorTopKRule.RangeMaxSelectivityKey
    try {
      (0 until 20).map(i => dists(i * 5)).foreach { r =>
        val expected = brute(dir, q, r)
        for (selectivity <- Seq("0", "1")) {
          spark.conf.set(key, selectivity) // 0: always the scan, 1: always pruned
          assert(ranged(dir, store, q, r) == expected,
            s"radius $r, rangeMaxSelectivity $selectivity")
        }
      }
    } finally spark.conf.unset(key)
  }
}
