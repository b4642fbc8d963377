package graft.ivf

import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** End-to-end replication of the reference's own e2e tests
  * (`/root/reference/src/df_vector/tests.rs:16-241`): 6-row 2-d fixtures with
  * pinned expected ids, run with an exhaustive probe so ANN == exact.
  */
class VectorTopKSpec extends SparkSpec {

  private def writeFixture(vecs: Seq[Seq[Float]]): String = {
    val dir = Files.createTempDirectory("graft-fixture").toString
    val df = spark.createDataFrame(
      vecs.zipWithIndex.map { case (v, i) => (i, v) })
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    df.coalesce(1).write.mode("overwrite").parquet(dir)
    dir
  }

  private def tmpStore = new IndexStore(
    Files.createTempDirectory("graft-store").toString)

  /** Every node of an executed plan, across AQE wrappers and query-stage
    * boundaries.
    */
  private def allNodes(p: org.apache.spark.sql.execution.SparkPlan):
      Seq[org.apache.spark.sql.execution.SparkPlan] = p match {
    case a: org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec =>
      p +: allNodes(a.executedPlan)
    case q: org.apache.spark.sql.execution.adaptive.QueryStageExec =>
      p +: allNodes(q.plan)
    case r: org.apache.spark.sql.execution.exchange.ReusedExchangeExec =>
      p +: allNodes(r.child)
    case _ => p +: p.children.flatMap(allNodes)
  }

  // Fixture 1: tests.rs:31-39; WHERE id >= 2 LIMIT 2 → ids [5, 2] (tests.rs:99)
  test("reference fixture 1: filter id >= 2, top-2 → ids [5, 2]") {
    val path = writeFixture(Seq(
      Seq(0f, 0f), Seq(1f, 0f), Seq(0f, 2f), Seq(5f, 5f), Seq(2f, 2f), Seq(0.1f, 0.1f)))
    val store = tmpStore
    val build = IvfBuilder.build(spark, path,
      IvfBuilder.Config("vec", nClusters = Some(3)), store)
    assert(build.numRows == 6)
    val result = VectorTopK
      .indexed(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(nprobe = 64), // exhaustive, like the reference test
        filter = Some(col("id") >= 2), store = store)
      .select("id")
      .collect()
      .map(_.getInt(0))
    assert(result.toSet == Set(5, 2))
  }

  // Fixture 2: tests.rs:166-174; WHERE id >= 3 LIMIT 2 → ids [3, 4] (tests.rs:235)
  test("reference fixture 2: post-filter composes with pruning → ids [3, 4]") {
    val path = writeFixture(Seq(
      Seq(0f, 0f), Seq(0.05f, 0.05f), Seq(0.2f, 0.2f),
      Seq(1f, 1f), Seq(1.1f, 1.1f), Seq(1.4f, 1.4f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(3)), store)
    val result = VectorTopK
      .indexed(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(nprobe = 64),
        filter = Some(col("id") >= 3), store = store)
      .select("id")
      .collect()
      .map(_.getInt(0))
    assert(result.toSet == Set(3, 4))
  }

  test("exhaustive probe equals brute force on random data") {
    val rnd = new scala.util.Random(123)
    val vecs = Seq.fill(80)(Seq.fill(8)(rnd.nextFloat()))
    val path = writeFixture(vecs)
    val store = tmpStore
    val build = IvfBuilder.build(spark, path, IvfBuilder.Config("vec"), store)
    val query = Seq.fill(8)(0.5f)
    val brute = VectorTopK
      .bruteForce(spark.read.parquet(path), "vec", query, 10)
      .select("id").collect().map(_.getInt(0)).toSeq
    val indexed = VectorTopK
      .indexed(spark, path, "vec", query, 10,
        VectorTopK.Options(nprobe = build.nClusters), store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(indexed.sorted == brute.sorted)
  }

  test("restrictive probe returns a subset of candidates (ANN semantics)") {
    val rnd = new scala.util.Random(7)
    val vecs = Seq.fill(100)(Seq.fill(4)(rnd.nextFloat() * 10))
    val path = writeFixture(vecs)
    val store = tmpStore
    IvfBuilder.build(spark, path,
      IvfBuilder.Config("vec", nClusters = Some(10)), store)
    val res = VectorTopK
      .indexed(spark, path, "vec", Seq(5f, 5f, 5f, 5f), 5,
        VectorTopK.Options(nprobe = 2), store = store)
      .collect()
    assert(res.length == 5) // enough candidates in 2 cells for k=5
  }

  test("multi-file table: per-file indexes, global top-k equals brute force") {
    import org.apache.spark.sql.functions.col
    val rnd = new scala.util.Random(99)
    val dir = Files.createTempDirectory("graft-multi").toString
    val df = spark.createDataFrame(
      (0 until 300).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    df.repartition(3).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(6)), store)
    assert(build.files.size == 3) // one index per data file
    assert(build.numRows == 300)
    val query = Seq.fill(8)(0.3f)
    val brute = VectorTopK
      .bruteForce(spark.read.parquet(dir), "vec", query, 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    val indexed = VectorTopK
      .indexed(spark, dir, "vec", query, 10,
        VectorTopK.Options(nprobe = build.nClusters), store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(indexed.sorted == brute.sorted)
    // recall harness: exhaustive probe has recall 1.0
    val r = Recall.atK(spark, dir, "vec", "id", query, 10, build.nClusters, store)
    assert(r.recall == 1.0)
    assert(r.candidates == 300)
    // restrictive probe: recall in (0, 1], fewer candidates than rows
    val r2 = Recall.atK(spark, dir, "vec", "id", query, 10, 1, store)
    assert(r2.candidates < 300)
    assert(r2.recall > 0.0 && r2.recall <= 1.0)
    // angular twin: exhaustive cosine probe is exact too
    val rc = Recall.cosineAtK(spark, dir, "vec", "id", query, 10, build.nClusters, store)
    assert(rc.recall == 1.0)
    val rc2 = Recall.cosineAtK(spark, dir, "vec", "id", query, 10, 1, store)
    assert(rc2.candidates < 300)
    assert(rc2.recall >= 0.0 && rc2.recall <= 1.0)
  }

  test("search returns (row_idx, sqrt'd distance) equal to brute force at exhaustive probe") {
    val rnd = new scala.util.Random(31)
    val vecs = Seq.fill(60)(Seq.fill(6)(rnd.nextFloat()))
    val path = writeFixture(vecs)
    val store = tmpStore
    val build = IvfBuilder.build(spark, path, IvfBuilder.Config("vec"), store)
    val query = Seq.fill(6)(0.5f)
    val res = VectorTopK.search(spark, path, "vec", query, 10,
      VectorTopK.Options(nprobe = build.nClusters), store = store).collect()
    assert(res.length == 10)
    assert(res.map(_.distance).toSeq == res.map(_.distance).sorted.toSeq)
    // expected via the same float kernel + sqrt (reference sqrt's the
    // squared-L2 heap key, search.rs:129-141) — bit-identical computation
    val expected = vecs.zipWithIndex.map { case (v, i) =>
      (i.toLong, math.sqrt(graft.functions.VectorKernels
        .squaredL2(v.toArray, query.toArray).toDouble).toFloat)
    }.sortBy { case (id, d) => (d, id) }.take(10)
    assert(res.map(r => (r.row_idx, r.distance)).toSet == expected.toSet)
  }

  test("indexed path surfaces reference fetch metrics (post-filter)") {
    val path = writeFixture(Seq(
      Seq(0f, 0f), Seq(0.05f, 0.05f), Seq(0.2f, 0.2f),
      Seq(1f, 1f), Seq(1.1f, 1.1f), Seq(1.4f, 1.4f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(3)), store)
    val df = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 2,
      VectorTopK.Options(nprobe = 64),
      filter = Some(col("id") >= 3), store = store)
    df.collect()
    val nodes = allNodes(df.queryExecution.executedPlan)
    val metered = nodes.collectFirst { case m: graft.plans.MeteredFetchExec => m }
    assert(metered.isDefined, df.queryExecution.executedPlan.toString)
    // reference snapshot parity (filter id >= 3 over 6 candidate rows):
    // embeddings_fetched = 3 post-filter rows
    assert(metered.get.metrics("embeddingsFetched").value == 3L)
    assert(metered.get.metrics("batchesFetched").value >= 1L)
    // the payload reads every candidate's row: 6 candidates in 1 file
    val payload = nodes.collectFirst { case p: graft.plans.WinnerPayloadExec => p }
    assert(payload.isDefined, df.queryExecution.executedPlan.toString)
    assert(payload.get.metrics("candidateRows").value == 6L)
    assert(payload.get.metrics("filesScanned").value == 1L)
  }

  test("incremental extend indexes only new files with the shared centroids") {
    import spark.implicits._
    val rnd = new scala.util.Random(71)
    val dir = Files.createTempDirectory("graft-extend").toString
    def batch(ids: Range) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    batch(0 until 200).repartition(2).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val first = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(5)), store)
    assert(first.files.size == 2)
    // new data arrives in the append-only table
    batch(200 until 300).coalesce(1).write.mode("append").parquet(dir)
    val ext = IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    // only the new file was assigned/written, with the ORIGINAL centroids
    assert(ext.files.size == 1 && ext.files.values.sum == 100)
    assert(ext.centroids.toSeq == first.centroids.toSeq)
    assert(ext.nClusters == first.nClusters)
    // all three files now indexed; exhaustive search equals brute force
    val files = IndexManager.listFiles(spark, dir)
    assert(files.size == 3 && files.forall(f => store.exists(f, "vec")))
    val query = Seq.fill(8)(0.4f)
    val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 12)
      .select("id").collect().map(_.getLong(0)).toSeq
    val indexed = VectorTopK.indexed(spark, dir, "vec", query, 12,
      VectorTopK.Options(nprobe = first.nClusters), store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(indexed.sorted == brute.sorted)
    // extend with nothing new is a no-op summary
    val noop = IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    assert(noop.files.isEmpty && noop.nClusters == first.nClusters)
  }

  test("IVF-SQ8: codes sidecar + quantized search recover brute force exactly") {
    val rnd = new scala.util.Random(53)
    val dir = Files.createTempDirectory("graft-sq8ivf").toString
    // values in [-1, 1) — inside the SQ8 grid, so quantization only coarsens
    spark.createDataFrame(
      (0 until 300).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val built = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(5)), store)

    // quantized search without codes fails fast, naming the missing piece
    val noCodes = intercept[IllegalArgumentException] {
      VectorTopK.search(spark, dir, "vec", Seq.fill(8)(0f), 5,
        VectorTopK.Options(tier = VectorTopK.Tier.Sq8), store = store)
    }
    assert(noCodes.getMessage.contains("SQ8 sidecar"))

    val counts = Sq8Sidecar.build(spark, dir, "vec", store)
    assert(counts.values.sum == 300L && counts.size == 3)
    // sidecar headers carry the real shape
    counts.keys.foreach { f =>
      val Sq8Sidecar.Header(dim, n) = IndexStore.withCodes(store.path(f, "vec", IndexStore.Sidecar.Sq8), Sq8Sidecar.Header)(_.header)
      assert(dim == 8 && n.toLong == counts(f))
    }

    val query = Seq.fill(8)(0.3f)
    // exhaustive probe + covering oversample (k·oversample >= corpus) → the
    // coarse cut prunes nothing and the float re-rank is exact brute force
    val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    val exact = VectorTopK.indexed(spark, dir, "vec", query, 10,
      VectorTopK.Options(
        nprobe = built.nClusters, tier = VectorTopK.Tier.Sq8, oversample = Some(30)),
      store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(exact.sorted == brute.sorted)

    // sq8-tier search (ordinal, distance) rows equal the float-path search
    // exactly — same kernel, same winners at exhaustive probe
    val sq = VectorTopK.search(spark, dir, "vec", query, 10,
      VectorTopK.Options(
        nprobe = built.nClusters, tier = VectorTopK.Tier.Sq8, oversample = Some(30)),
      store = store)
      .collect().map(r => (r.row_idx, r.distance)).toSet
    val viaFloats = VectorTopK.search(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = built.nClusters), store = store)
      .collect().map(r => (r.row_idx, r.distance)).toSet
    assert(sq == viaFloats)

    // tight oversample stays ANN: k rows out, all from the candidate set
    val ann = VectorTopK.search(spark, dir, "vec", query, 10,
      VectorTopK.Options(nprobe = 2, tier = VectorTopK.Tier.Sq8, oversample = Some(1)),
      store = store)
      .collect()
    assert(ann.length == 10)

    // appended file: ensure() scans and encodes ONLY the new file, extend
    // indexes it, and the quantized pipeline stays exact over all four
    spark.createDataFrame(
      (300 until 350).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat() * 2f - 1f))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    val before = counts.keys.map(f => store.path(f, "vec", IndexStore.Sidecar.Sq8) ->
      Files.getLastModifiedTime(java.nio.file.Paths.get(store.path(f, "vec", IndexStore.Sidecar.Sq8)))).toMap
    Sq8Sidecar.ensure(spark, dir, "vec", store)
    val files4 = IndexManager.listFiles(spark, dir)
    assert(files4.size == 4 && files4.forall(f => store.exists(f, "vec", IndexStore.Sidecar.Sq8)))
    // pre-existing sidecars untouched (incremental, not a rebuild)
    before.foreach { case (p, t) =>
      assert(Files.getLastModifiedTime(java.nio.file.Paths.get(p)) == t)
    }
    val brute4 = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 10)
      .select("id").collect().map(_.getLong(0)).toSeq
    val exact4 = VectorTopK.indexed(spark, dir, "vec", query, 10,
      VectorTopK.Options(
        nprobe = built.nClusters, tier = VectorTopK.Tier.Sq8, oversample = Some(35)),
      store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(exact4.sorted == brute4.sorted)
  }

  test("extendOrRetrain extends in-distribution, retrains on drifted appends") {
    val rnd = new scala.util.Random(137)
    val dir = Files.createTempDirectory("graft-drift").toString
    def uniform(ids: Range) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    uniform(0 until 200).repartition(2).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val first = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(4)), store)

    // trained histogram comes from the stored lists and covers every row
    val counts = IvfBuilder.indexedCellCounts(
      spark, IndexManager.listFiles(spark, dir), "vec", store)
    assert(counts.length == 4 && counts.sum == 200L)

    // same-distribution append: low TV, extend path, centroids untouched
    uniform(200 until 300).coalesce(1).write.mode("append").parquet(dir)
    val ext = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(!ext.retrained && ext.drift >= 0 && ext.drift < 0.25, s"drift=${ext.drift}")
    assert(ext.build.centroids.toSeq == first.centroids.toSeq)
    assert(ext.build.files.size == 1 && ext.build.files.values.sum == 100)

    // shifted append far outside [0,1)^8: one cell swallows everything,
    // TV blows past the threshold, the whole table retrains
    spark.createDataFrame(
      (300 until 400).map(i => (i.toLong, Seq.fill(8)(10f + (i % 3) * 0.1f))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    val ret = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(ret.retrained && ret.drift > 0.25, s"drift=${ret.drift}")
    assert(ret.build.centroids.toSeq != first.centroids.toSeq)
    assert(ret.build.files.values.sum == 400L) // full rebuild covers the table
    // retrain warm-starts Lloyd from the drifted centroids: k is preserved,
    // positions refresh
    assert(ret.build.nClusters == first.nClusters)

    // retrained index still answers exactly at exhaustive probe
    val query = Seq.fill(8)(0.4f)
    val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", query, 12)
      .select("id").collect().map(_.getLong(0)).toSeq
    val indexed = VectorTopK.indexed(spark, dir, "vec", query, 12,
      VectorTopK.Options(nprobe = ret.build.nClusters), store = store)
      .select("id").collect().map(_.getLong(0)).toSeq
    assert(indexed.sorted == brute.sorted)
  }

  test("totalVariation: identical is 0, disjoint is 1") {
    assert(IvfBuilder.totalVariation(Array(5L, 5L), Array(50L, 50L)) == 0.0)
    assert(IvfBuilder.totalVariation(Array(10L, 0L), Array(0L, 7L)) == 1.0)
  }

  test("distortion signal retrains a translated blob that TV cannot see") {
    val rnd = new scala.util.Random(53)
    val dir = Files.createTempDirectory("graft-distort").toString
    // two well-separated clusters at 0 and 10, balanced
    def blob(ids: Range, center: Float) = spark.createDataFrame(
      ids.map(i => (i.toLong, Seq.fill(8)(center + rnd.nextFloat()))))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    blob(0 until 100, 0f).unionByName(blob(100 until 200, 10f))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val first = IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec", nClusters = Some(2)), store)

    // translated append: half at -20 (assigns to the 0-cell), half at +30
    // (assigns to the 10-cell) — the histogram stays balanced 50/50, so TV
    // is near zero; every distance blows past the learned radii, so the
    // OUTLIER signal is the only one that can catch it
    blob(200 until 250, -20f).unionByName(blob(250 until 300, 30f))
      .coalesce(1).write.mode("append").parquet(dir)
    val ret = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(ret.drift <= 0.25, s"fixture must keep TV low, got ${ret.drift}")
    assert(ret.outlierFraction > 0.9, s"outlierFraction=${ret.outlierFraction}")
    assert(ret.retrained, "distortion signal must force the retrain")
    assert(ret.build.centroids.toSeq != first.centroids.toSeq)

    // in-band append afterwards: the DISTORTION signal must stay quiet (the
    // new rows sit inside the learned radius envelope). TV is NOT asserted:
    // with k=2 centroids over four blob positions, where the retrain lands
    // them varies with the sampled rows (the sample sort key includes
    // run-unique file paths), and a single-blob append legitimately
    // concentrates the histogram when its blob shares a cell with few
    // others — that is the TV signal working, not a defect.
    blob(300 until 330, 10f).coalesce(1).write.mode("append").parquet(dir)
    val ext = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
    assert(
      ext.outlierFraction >= 0 && ext.outlierFraction <= 0.5,
      s"distortion signal should be quiet for an in-band append, " +
        s"got outlierFraction=${ext.outlierFraction} (drift=${ext.drift})")
  }

  test("extend ignores footer indexes built for a DIFFERENT column") {
    import spark.implicits._
    val rnd = new scala.util.Random(29)
    val dir = Files.createTempDirectory("graft-extend-col").toString
    spark.createDataFrame(
      (0 until 60).map(i => (i.toLong, Seq.fill(4)(rnd.nextFloat()), Seq.fill(4)(rnd.nextFloat()))))
      .toDF("id", "vec", "vec2")
      .select(col("id"),
        col("vec").cast("array<float>").as("vec"),
        col("vec2").cast("array<float>").as("vec2"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    // embed a footer index for vec2 ONLY — with a column-ignorant check,
    // extend(vec) would classify the file as indexed, never index `vec`,
    // and loadIndex on it would fail
    IvfBuilder.build(spark, dir,
      IvfBuilder.Config("vec2", nClusters = Some(3)), tmpStore, embed = true)
    val store = tmpStore
    val ext = IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec", nClusters = Some(3)), store)
    assert(ext.files.values.sum == 60, "all rows must get a vec index")
    val files = IndexManager.listFiles(spark, dir)
    assert(files.forall(f => store.exists(f, "vec")))
  }

  test("autoBroadcastJoinThreshold=-1 disables the candidate broadcast") {
    // the filtered (one-phase) path on a table the page reader refuses (a
    // struct column) semi-joins the scan to the UNBOUNDED candidate feed,
    // so it must honor the user's broadcast opt-out; the no-filter
    // two-phase path only ever broadcasts the k winners (bounded)
    val vecs = Seq(Seq(0f, 0f), Seq(1f, 0f), Seq(0f, 2f), Seq(5f, 5f))
    val path = Files.createTempDirectory("graft-fixture-struct").toString
    spark.read.parquet(writeFixture(vecs))
      .withColumn("st", org.apache.spark.sql.functions.struct(col("id")))
      .coalesce(1).write.mode("overwrite").parquet(path)
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val key = "spark.sql.autoBroadcastJoinThreshold"
    val prev = spark.conf.get(key)
    try {
      spark.conf.set(key, "-1")
      val df = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(nprobe = 64),
        filter = Some(org.apache.spark.sql.functions.col("id") >= 0), store = store)
      val ids = df.select("id").collect().map(_.getInt(0)).toSet
      assert(ids == Set(0, 1)) // still correct via the shuffle join
      val plan = df.queryExecution.executedPlan.toString
      assert(!plan.contains("BroadcastHashJoin"),
        s"user disabled auto-broadcast; plan must not force one:\n$plan")
    } finally spark.conf.set(key, prev)
  }

  test("two-phase fetch reads ONLY the files holding the k winners") {
    import spark.implicits._
    // two well-separated blobs written to separate files: the winners for a
    // blob-0 query all live in one file, and the payload scan must not
    // touch the other — the file-level pruning that keeps phase-2 IO
    // bounded by k files instead of the table
    val dir = java.nio.file.Files.createTempDirectory("graft-2phase").toString
    (0 until 50).map(i => (i.toLong, Seq(0f + i * 1e-3f, 0f)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    (50 until 100).map(i => (i.toLong, Seq(100f + i * 1e-3f, 100f)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(dir)
    val store = tmpStore
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    assert(spark.read.parquet(dir).inputFiles.length == 2)

    val df = VectorTopK.indexed(spark, dir, "vec", Seq(0f, 0f), 3,
      VectorTopK.Options(nprobe = 64), store = store)
    val ids = df.collect().map(_.getAs[Long]("id")).toSet
    assert(ids == Set(0L, 1L, 2L))
    // the payload node opened exactly one file — the winners' — and read
    // exactly the k winner rows from it
    val payload = allNodes(df.queryExecution.executedPlan).collectFirst {
      case p: graft.plans.WinnerPayloadExec => p
    }.getOrElse(fail(df.queryExecution.executedPlan.toString))
    assert(payload.metrics("filesScanned").value == 1L)
    assert(payload.metrics("candidateRows").value == 3L)
    assert(payload.metrics("payloadPages").value >= 1L)
  }

  test("a filtered payload opens each candidate file once, several files per task") {
    import spark.implicits._
    val rnd = new scala.util.Random(23)
    val vecs = (0 until 240).map(_ => Seq.fill(4)(rnd.nextFloat()))
    val dir = java.nio.file.Files.createTempDirectory("graft-runs").toString
    vecs.zipWithIndex.map { case (v, i) => (i.toLong, v) }
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(12).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    val files = spark.read.parquet(dir).inputFiles.length
    assert(files > spark.sparkContext.defaultParallelism)
    val query = Seq.fill(4)(0.5f)
    val df = VectorTopK.indexed(spark, dir, "vec", query, 5,
      VectorTopK.Options(nprobe = 64), filter = Some(col("id") % 2 === 0), store = store)
    val ids = df.collect().map(_.getAs[Long]("id")).toSeq
    val expected = vecs.zipWithIndex.filter(_._2 % 2 == 0).map { case (v, i) =>
      (i.toLong, graft.functions.VectorKernels.squaredL2(v.toArray, query.toArray))
    }.sortBy { case (id, d) => (d, id) }.take(5).map(_._1)
    assert(ids == expected)
    // every row is a candidate at exhaustive nprobe; the feed's same-file
    // runs open each file once
    val payload = allNodes(df.queryExecution.executedPlan).collectFirst {
      case p: graft.plans.WinnerPayloadExec => p
    }.getOrElse(fail(df.queryExecution.executedPlan.toString))
    assert(payload.metrics("filesScanned").value == files.toLong)
    assert(payload.metrics("candidateRows").value == 240L)
  }

  /** Spark jobs started while `f` runs: job starts are tagged with a job
    * group, then a fence job proves the listener bus has delivered them.
    */
  private def jobsDuring(f: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"graft-jobs-${System.nanoTime()}"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
        seen.add(String.valueOf(e.properties.getProperty("spark.jobGroup.id")))
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try f finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!seen.contains(group + "-fence") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(group + "-fence"), "fence job never reached the listener")
      seen.toArray.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  test("indexed and search construction runs no Spark job; indexed runs as one") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-nojobs").toString
    (0 until 200).map(i => (i.toLong, Seq(i * 0.01f, (i % 7).toFloat)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    val options = VectorTopK.Options(nprobe = build.nClusters)
    val q = Seq(0.5f, 3f)
    // the job-free listing names the files Spark's read does
    assert(IndexManager.listFiles(spark, dir) ==
      spark.read.parquet(dir).inputFiles.toSeq.map(IndexStore.canonicalPath).sorted)
    // the first call infers (and memoizes) the table schema
    VectorTopK.indexed(spark, dir, "vec", q, 5, options, store = store)
    var indexed: org.apache.spark.sql.DataFrame = null
    var search: org.apache.spark.sql.Dataset[VectorTopK.SearchResult] = null
    assert(jobsDuring {
      indexed = VectorTopK.indexed(spark, dir, "vec", q, 5, options, store = store)
      search = VectorTopK.search(spark, dir, "vec", q, 5, options, store)
    } == 0)
    var rows: Array[org.apache.spark.sql.Row] = null
    assert(jobsDuring { rows = indexed.collect() } == 1)
    val brute = VectorTopK.bruteForce(spark.read.parquet(dir), "vec", q, 5)
      .select("id").collect().map(_.getLong(0)).toSet
    assert(rows.map(_.getAs[Long]("id")).toSet == brute)
    assert(search.collect().length == 5)
  }

  test("a collected search counts its page reads into the tasks' input bytes") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-input-bytes").toString
    (0 until 600).map(i => (i.toLong, Seq.fill(16)((i % 37) * 0.1f)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(3).write.mode("overwrite").parquet(dir)
    val storeDir = Files.createTempDirectory("graft-input-bytes-store").toString
    val store = new IndexStore(storeDir)
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    val search = VectorTopK.search(spark, dir, "vec", Seq.fill(16)(1f), 10,
      VectorTopK.Options(nprobe = build.nClusters), store)
    val sc = spark.sparkContext
    val group = s"graft-input-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = String.valueOf(e.properties.getProperty("spark.jobGroup.id"))
        if (g == group) e.stageInfos.foreach(s => stages.add(s.stageId))
        if (g == group + "-fence") fenced.set(true)
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.merge(e.stageId, e.taskMetrics.inputMetrics.bytesRead, (a: Long, b: Long) => a + b)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try assert(search.collect().length == 10) finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!fenced.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced.get, "fence job never reached the listener")
    } finally sc.removeSparkListener(listener)
    def tree(d: String): Long = {
      val files = Files.walk(java.nio.file.Paths.get(d))
      try files.filter(Files.isRegularFile(_)).mapToLong(Files.size(_)).sum finally files.close()
    }
    val read = stages.asScala.toSeq.map(s => bytes.getOrDefault(s, 0L)).sum
    assert(read > 0 && read <= tree(dir) + tree(storeDir), s"$read input bytes")
  }

  test("an indexed frame built before an append and extend ranks the appended rows") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-lazy-append").toString
    def write(rows: Seq[(Long, Seq[Float])]): Unit =
      rows.toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .coalesce(1).write.mode("append").parquet(dir)
    write((0 until 60).map(i => (i.toLong, Seq(10f + i * 0.1f, 10f))))
    write((60 until 120).map(i => (i.toLong, Seq(-10f - i * 0.1f, 10f))))
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val df = VectorTopK.indexed(spark, dir, "vec", Seq(0f, 0f), 3,
      VectorTopK.Options(nprobe = build.nClusters), store = store)
    // the appended row is the nearest to the query by far
    write(Seq((999L, Seq(0.01f, 0f))))
    IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    val ids = df.collect().map(_.getAs[Long]("id")).toSeq
    assert(ids.head == 999L, ids.toString)
    assert(ids.size == 3)
  }

  test("two-phase fetch keeps Hive-style partition columns") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-2phase-part").toString
    (0 until 60).map(i => (i.toLong, Seq(i * 0.01f, 0f), if (i % 2 == 0) "a" else "b"))
      .toDF("id", "vec", "part")
      .select(col("id"), col("vec").cast("array<float>").as("vec"), col("part"))
      .repartition(2)
      .write.partitionBy("part").mode("overwrite").parquet(dir)
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val df = VectorTopK.indexed(spark, dir, "vec", Seq(0f, 0f), 4,
      VectorTopK.Options(nprobe = build.nClusters), store = store)
    // the leaf-file-pruned payload read must still infer the partition
    // column (basePath anchoring) — id 0,1,2,3 span both partitions
    val got = df.select("id", "part").collect().map(r => (r.getLong(0), r.getString(1))).toSet
    assert(got == Set((0L, "a"), (1L, "b"), (2L, "a"), (3L, "b")), got.toString)
  }

  test("query dim mismatch fails fast") {
    val path = writeFixture(Seq(Seq(0f, 0f), Seq(1f, 1f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(1)), store)
    assertThrows[IllegalArgumentException] {
      VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f, 0f), 1,
        VectorTopK.Options(nprobe = 1), store = store)
    }
  }

  test("edge cases: k > n, candidate cap, option validation, index reuse") {
    val vecs = Seq(Seq(0f, 0f), Seq(1f, 1f), Seq(2f, 2f))
    val path = writeFixture(vecs)
    val store = tmpStore
    val build = IvfBuilder.build(spark, path,
      IvfBuilder.Config("vec", nClusters = Some(2)), store)
    // k > n returns all rows
    val all = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 99,
      VectorTopK.Options(nprobe = 2), store = store).collect()
    assert(all.length == 3)
    // maxCandidates caps the fetched rows end to end
    val capped = VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 99,
      VectorTopK.Options(nprobe = 2, maxCandidates = Some(2)), store = store).collect()
    assert(capped.length == 2)
    // invalid options fail fast
    assertThrows[IllegalArgumentException](VectorTopK.Options(nprobe = 0))
    assertThrows[IllegalArgumentException](
      VectorTopK.Options(nprobe = 1, maxCandidates = Some(0)))
    // ensure() reuses existing sidecars without rebuilding
    val ti = IndexManager.ensure(spark, path, "vec", store = store)
    assert(ti.nClusters == build.nClusters && ti.dim == 2)
  }

  test("index build rejects invalid input") {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-bad").toString
    // inconsistent dims
    Seq((0, Seq(1f, 2f)), (1, Seq(1f))).toDF("id", "vec")
      .write.mode("overwrite").parquet(dir)
    assertThrows[IllegalArgumentException] {
      IvfBuilder.build(spark, dir, IvfBuilder.Config("vec"), tmpStore)
    }
    // n_clusters > n rows
    val dir2 = Files.createTempDirectory("graft-bad2").toString
    Seq((0, Seq(1f, 2f))).toDF("id", "vec").write.mode("overwrite").parquet(dir2)
    assertThrows[IllegalArgumentException] {
      IvfBuilder.build(spark, dir2, IvfBuilder.Config("vec", nClusters = Some(5)), tmpStore)
    }
  }

  test("indexedCosine orders rows by cosine similarity, not L2 distance") {
    // varying norms so the two metrics DISAGREE: for query (1, 0),
    // (10, 0) is the cosine winner (cos = 1.0, L2 = 9) while (0.9, 0.1)
    // is the L2 winner (L2 ~ 0.14, cos ~ 0.994) — the head row tells us
    // which metric ordered the output
    val path = writeFixture(Seq(
      Seq(10.0f, 0.0f),   // id 0: cosine rank 1
      Seq(0.9f, 0.1f),    // id 1: L2 rank 1, cosine rank 2
      Seq(0.0f, 5.0f),    // id 2: orthogonal
      Seq(-3.0f, 0.0f)))  // id 3: opposite
    val store = tmpStore
    val build = IvfBuilder.build(
      spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val q = Seq(1.0f, 0.0f)
    val got = VectorTopK
      .indexed(spark, path, "vec", q, 2,
        VectorTopK.Options(nprobe = build.nClusters, metric = VectorTopK.Metric.Cosine),
        store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(0, 1), s"expected cosine order [0, 1], got $got")
    // and the SearchResult twin agrees (distance = 1 - cos ascending)
    val sr = VectorTopK
      .search(spark, path, "vec", q, 2,
        VectorTopK.Options(nprobe = build.nClusters, metric = VectorTopK.Metric.Cosine),
        store = store)
      .collect()
    assert(sr.map(_.row_idx).toSeq == Seq(0L, 1L))
    assert(sr(0).distance < sr(1).distance)
    // the QUANTIZED angular twins must order their payload the same way —
    // they used to hand the winner feed to the L2 re-rank (review r11:
    // right winner SET, wrong head row on non-unit-norm data)
    graft.ivf.Sq8Sidecar.ensure(spark, path, "vec", store)
    val gotSq8 = VectorTopK
      .indexed(spark, path, "vec", q, 2,
        VectorTopK.Options(
          nprobe = build.nClusters, metric = VectorTopK.Metric.Cosine,
          tier = VectorTopK.Tier.Sq8, oversample = Some(4)),
        store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(gotSq8 == Seq(0, 1), s"sq8 twin: expected cosine order [0, 1], got $gotSq8")
    graft.ivf.PqSidecar.ensure(spark, path, "vec", m = 2, store = store)
    val gotPq = VectorTopK
      .indexed(spark, path, "vec", q, 2,
        VectorTopK.Options(
          nprobe = build.nClusters, metric = VectorTopK.Metric.Cosine,
          tier = VectorTopK.Tier.Pq(), oversample = Some(4)),
        store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(gotPq == Seq(0, 1), s"pq twin: expected cosine order [0, 1], got $gotPq")
  }

  // ── the tier × metric × output matrix ──────────────────────────────────
  // Two 1200-row files with fixed names (so their order, and with it every
  // seeded sample the index and codebook builds take, is stable) and every
  // sidecar. Ids 0-1199 live in part-0 and 1200-2399 in part-1, so a
  // search row_idx is `id % 1200`.
  private val matrixDim = 16
  private val matrixK = 10
  private lazy val matrix: (String, IndexStore, Seq[Float]) = {
    val rnd = new scala.util.Random(2024)
    val rows = (0 until 2400).map(i =>
      (i.toLong, Seq.fill(matrixDim)(rnd.nextFloat() * 1.8f - 0.9f)))
    val dir = Files.createTempDirectory("graft-matrix").toString
    rows.grouped(1200).zipWithIndex.foreach { case (part, p) =>
      val tmp = Files.createTempDirectory("graft-matrix-part").toString
      spark.createDataFrame(part).toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val written = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(written.toPath, java.nio.file.Paths.get(dir, s"part-$p.parquet"))
    }
    val store = tmpStore
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(8)), store)
    Sq8Sidecar.ensure(spark, dir, "vec", store)
    PqSidecar.ensure(spark, dir, "vec", m = 4, store = store)
    PqSidecar.ensure(spark, dir, "vec", m = 4, store = store, residual = true)
    val qrnd = new scala.util.Random(77)
    (dir, store, Seq.fill(matrixDim)(qrnd.nextFloat() * 1.2f - 0.6f))
  }

  /** `(row_idx, distance)` lists at nprobe = 2, oversample = 2, recorded
    * from the per-tier entry points this pipeline replaced; `indexed` rows
    * record `id` and the kernel distance of the returned vector.
    */
  private lazy val annGolden: Map[(String, String, String), String] = {
    val src = scala.io.Source.fromResource("graft/ivf/topk-matrix-ann.tsv")
    try src.getLines().filter(_.nonEmpty).map { line =>
      val Array(tier, metric, shape, rows) = line.split("\t")
      (tier, metric, shape) -> rows
    }.toMap finally src.close()
  }

  for {
    (tierName, tier) <- Seq(
      "float" -> VectorTopK.Tier.Float, "sq8" -> VectorTopK.Tier.Sq8,
      "pq" -> VectorTopK.Tier.Pq(), "pqr" -> VectorTopK.Tier.Pq(residual = true))
    (metricName, metric) <- Seq("l2" -> VectorTopK.Metric.L2, "cosine" -> VectorTopK.Metric.Cosine)
    shape <- Seq("search", "indexed")
  } test(s"top-k matrix: tier=$tierName metric=$metricName output=$shape") {
    val (dir, store, q) = matrix
    val cosine = metric == VectorTopK.Metric.Cosine
    def kernel(v: Array[Float]): Float =
      if (cosine) 1.0f - graft.functions.VectorKernels.cosine(v, q.toArray)
      else math.sqrt(graft.functions.VectorKernels.squaredL2(v, q.toArray).toDouble).toFloat
    def run(nprobe: Int, oversample: Int): Seq[(Long, Float)] = {
      val options = VectorTopK.Options(
        nprobe, metric = metric, tier = tier,
        oversample = if (tier == VectorTopK.Tier.Float) None else Some(oversample))
      if (shape == "search")
        VectorTopK.search(spark, dir, "vec", q, matrixK, options, store)
          .collect().map(r => (r.row_idx, r.distance)).toSeq
      else
        VectorTopK.indexed(spark, dir, "vec", q, matrixK, options, None, store)
          .select("id", "vec").collect()
          .map(r => (r.getLong(0), kernel(r.getSeq[Float](1).toArray))).toSeq
    }
    // exhaustive probe + covering oversample (k·oversample >= corpus) is
    // brute force, in the metric's order
    val table = spark.read.parquet(dir)
    val brute =
      if (cosine)
        table.orderBy(graft.functions.array_cosine_similarity(
          col("vec"), graft.functions.float_vector(q)).desc_nulls_last).limit(matrixK)
      else VectorTopK.bruteForce(table, "vec", q, matrixK)
    val expected = brute.select("id", "vec").collect().map { r =>
      val id = r.getLong(0)
      (if (shape == "search") id % 1200 else id, kernel(r.getSeq[Float](1).toArray))
    }.toSeq
    assert(run(nprobe = 8, oversample = 2400 / matrixK) == expected)
    // ANN setting: ties and survivor selection pinned to recorded values
    val ann = run(nprobe = 2, oversample = 2).map { case (ri, d) => s"$ri:$d" }.mkString(",")
    assert(ann == annGolden((tierName, metricName, shape)))
  }

  // the SQL rewrite on the same corpus: at the ANN setting it must return
  // the `indexed` line's rows (its plan is `indexed`'s), and at exhaustive
  // settings brute force; both sides sorted by (distance, id), since the
  // SQL Sort re-ranks by the kernel expression
  for {
    tierName <- Seq("float", "sq8", "pq", "pqr")
    metricName <- Seq("l2", "cosine")
  } test(s"top-k matrix: tier=$tierName metric=$metricName output=sql") {
    val (dir, store, q) = matrix
    val cosine = metricName == "cosine"
    def kernel(v: Array[Float]): Float =
      if (cosine) 1.0f - graft.functions.VectorKernels.cosine(v, q.toArray)
      else math.sqrt(graft.functions.VectorKernels.squaredL2(v, q.toArray).toDouble).toFloat
    def byDistance(rows: Seq[(Long, Float)]) = rows.sortBy { case (id, d) => (d, id) }
    val lit = q.map(f => java.lang.Float.toString(f) + "F").mkString("array(", ",", ")")
    val orderBy =
      if (cosine) s"array_cosine_similarity(vec, $lit) DESC" else s"array_distance(vec, $lit)"
    val sql = s"SELECT id, vec FROM graft_matrix ORDER BY $orderBy LIMIT $matrixK"
    graft.Graft.install(spark)
    spark.read.parquet(dir).createOrReplaceTempView("graft_matrix")
    val keys = Seq(graft.plans.VectorTopKRule.IndexDirKey, graft.plans.VectorTopKRule.TierKey,
      graft.plans.VectorTopKRule.NprobeKey, graft.plans.VectorTopKRule.OversampleKey)
    def run(nprobe: Int, oversample: Int): Seq[(Long, Float)] = {
      Seq(store.dir, tierName, nprobe.toString, oversample.toString).zip(keys)
        .foreach { case (v, k) => spark.conf.set(k, v) }
      val df = spark.sql(sql)
      assert(graft.Graft.tierResolution(df).exists(_.contains(s"resolved=$tierName")),
        graft.Graft.tierResolution(df).toString)
      assert(graft.Graft.payloadResolution(df).contains(graft.plans.VectorTopKRule.PagePayload))
      byDistance(df.collect().map(r => (r.getLong(0), kernel(r.getSeq[Float](1).toArray))).toSeq)
    }
    try {
      val brute = spark.read.parquet(dir).select("id", "vec").collect()
        .map(r => (r.getLong(0), kernel(r.getSeq[Float](1).toArray))).toSeq
      assert(run(nprobe = 8, oversample = 2400 / matrixK) == byDistance(brute).take(matrixK))
      val indexedLine = byDistance(annGolden((tierName, metricName, "indexed")).split(",").map { e =>
        val Array(id, d) = e.split(":")
        (id.toLong, d.toFloat)
      }.toSeq)
      assert(run(nprobe = 2, oversample = 2) == indexedLine)
    } finally keys.foreach(spark.conf.unset)
  }

  test("a quantized indexed or search frame runs no job until it is collected") {
    val (dir, store, q) = matrix
    val options = VectorTopK.Options(nprobe = 2, tier = VectorTopK.Tier.Sq8, oversample = Some(2))
    // the first call infers (and memoizes) the table schema
    VectorTopK.indexed(spark, dir, "vec", q, matrixK, options, store = store)
    var indexed: org.apache.spark.sql.DataFrame = null
    var search: org.apache.spark.sql.Dataset[VectorTopK.SearchResult] = null
    assert(jobsDuring {
      indexed = VectorTopK.indexed(spark, dir, "vec", q, matrixK, options, store = store)
      search = VectorTopK.search(spark, dir, "vec", q, matrixK, options, store)
    } == 0)
    // collected: the coarse job, then the refine job
    assert(jobsDuring(indexed.collect(): Unit) == 2)
    assert(jobsDuring(search.collect(): Unit) == 2)
  }

  test("the coarse cut keeps the survivors of ORDER BY key, file, ordinal") {
    import spark.implicits._
    // U+FF21 sorts after U+1F600 in UTF-16 but before it in UTF-8 bytes,
    // which is Spark's string order; Spark's sort ties -0.0 with 0.0
    val (a, b) = ("/t/part-\uFF21.parquet", "/t/part-\uD83D\uDE00.parquet")
    val scored = Seq(
      (a, 3L, 1.0), (b, 2L, 1.0), (a, 1L, 1.0), (b, 7L, 0.5), (a, 9L, 2.0),
      (b, 4L, 1.0), (b, 5L, -0.0), (a, 0L, 0.0), (a, 8L, Double.NaN), (b, 6L, 2.0))
    val frame = scored.toDF("_file", "_ri", "_key")
    for (keep <- 0 to scored.size + 1) {
      val expected = frame.orderBy(col("_key"), col("_file"), col("_ri")).limit(keep)
        .select("_file", "_ri").collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      val got = VectorTopK.coarseCut(scored.iterator, keep).map(t => (t._1, t._2)).toSeq
      assert(got == expected, s"keep=$keep")
    }
    // the cut of per-task cuts is the cut of the union
    val (left, right) = scored.splitAt(4)
    assert(VectorTopK.coarseCut(
      (VectorTopK.coarseCut(left.iterator, 5) ++ VectorTopK.coarseCut(right.iterator, 5)).iterator,
      5).toSeq == VectorTopK.coarseCut(scored.iterator, 5).toSeq)
  }

  test("an explicit PQ tier refuses a table without its sidecar") {
    val path = writeFixture(Seq.tabulate(8)(i => Seq(i.toFloat, 0f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    Seq(VectorTopK.Tier.Pq() -> "no PQ sidecar", VectorTopK.Tier.Pq(residual = true) ->
        "no residual PQ sidecar").foreach { case (tier, msg) =>
      val e = intercept[IllegalArgumentException] {
        VectorTopK.search(spark, path, "vec", Seq(0f, 0f), 2,
          VectorTopK.Options(tier = tier), store)
      }
      assert(e.getMessage.contains(msg) && e.getMessage.contains("PqSidecar.build"), e.getMessage)
    }
  }

  test("a residual filter composes with the cosine metric") {
    // for query (1, 0) among ids >= 1: cosine ranks id 1 then the
    // orthogonal id 2; L2 would rank id 1 then the opposite id 3
    val path = writeFixture(Seq(
      Seq(10.0f, 0.0f), Seq(0.9f, 0.1f), Seq(0.0f, 5.0f), Seq(-3.0f, 0.0f)))
    val store = tmpStore
    val build = IvfBuilder.build(
      spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    val got = VectorTopK
      .indexed(spark, path, "vec", Seq(1.0f, 0.0f), 2,
        VectorTopK.Options(nprobe = build.nClusters, metric = VectorTopK.Metric.Cosine),
        filter = Some(col("id") >= 1), store = store)
      .select("id").collect().map(_.getInt(0)).toSeq
    assert(got == Seq(1, 2), s"expected cosine order [1, 2], got $got")
  }

  test("a residual filter refuses a non-float tier") {
    val path = writeFixture(Seq.tabulate(8)(i => Seq(i.toFloat, 0f)))
    val store = tmpStore
    IvfBuilder.build(spark, path, IvfBuilder.Config("vec", nClusters = Some(2)), store)
    Sq8Sidecar.ensure(spark, path, "vec", store)
    val e = intercept[IllegalArgumentException] {
      VectorTopK.indexed(spark, path, "vec", Seq(0f, 0f), 2,
        VectorTopK.Options(tier = VectorTopK.Tier.Sq8), filter = Some(col("id") >= 2),
        store = store)
    }
    assert(e.getMessage.contains("a residual filter must see every candidate row"), e.getMessage)
  }

  test("maxCandidates refuses a non-float tier") {
    Seq(VectorTopK.Tier.Sq8, VectorTopK.Tier.Pq(), VectorTopK.Tier.Pq(residual = true))
      .foreach { tier =>
        val e = intercept[IllegalArgumentException](
          VectorTopK.Options(maxCandidates = Some(5), tier = tier))
        assert(e.getMessage.contains("maxCandidates fairness cap is a float-feed construct"),
          e.getMessage)
      }
  }

  test("search's distance is SQL array_distance, or 1 - array_cosine_similarity, bit for bit") {
    import spark.implicits._
    val rnd = new scala.util.Random(15)
    val dim = 128
    val dir = Files.createTempDirectory("graft-one-arithmetic").toString
    (0 until 400).map(i => (i.toLong, Seq.fill(dim)(rnd.nextGaussian().toFloat)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(dir)
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    val q = Seq.fill(dim)(rnd.nextGaussian().toFloat)
    val qv = graft.functions.float_vector(q)
    // one file written in id order: row_idx is the id
    val sql = spark.read.parquet(dir)
      .select(col("id"), graft.functions.array_distance(col("vec"), qv),
        graft.functions.array_cosine_similarity(col("vec"), qv))
      .as[(Long, Float, Float)].collect()
      .map { case (id, d, c) =>
        id -> Map(VectorTopK.Metric.L2 -> d, VectorTopK.Metric.Cosine -> (1.0f - c))
      }
      .toMap
    def bits(f: Float) = java.lang.Float.floatToRawIntBits(f)
    for (metric <- Seq(VectorTopK.Metric.L2, VectorTopK.Metric.Cosine)) {
      val got = VectorTopK.search(spark, dir, "vec", q, 100,
        VectorTopK.Options(nprobe = build.nClusters, metric = metric), store).collect()
      assert(got.length == 100)
      got.foreach { r =>
        val want = sql(r.row_idx)(metric)
        assert(bits(r.distance) == bits(want), s"$metric row ${r.row_idx}: ${r.distance} != $want")
      }
    }
  }

  /** The input bytes of the tasks that collecting `df` runs. */
  private def taskInputBytes(df: org.apache.spark.sql.DataFrame): Long = {
    val sc = spark.sparkContext
    val group = s"graft-input-${System.nanoTime()}"
    val stages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val bytes = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    val fenced = new java.util.concurrent.atomic.AtomicBoolean(false)
    val listener = new org.apache.spark.scheduler.SparkListener {
      override def onJobStart(e: org.apache.spark.scheduler.SparkListenerJobStart): Unit = {
        val g = String.valueOf(e.properties.getProperty("spark.jobGroup.id"))
        if (g == group) e.stageInfos.foreach(s => stages.add(s.stageId))
        if (g == group + "-fence") fenced.set(true)
      }
      override def onTaskEnd(e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          bytes.merge(e.stageId, e.taskMetrics.inputMetrics.bytesRead, (a: Long, b: Long) => a + b)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try df.collect() finally sc.clearJobGroup()
      sc.setJobGroup(group + "-fence", "fence")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 10000000000L
      while (!fenced.get && System.nanoTime() < deadline) Thread.sleep(10)
      assert(fenced.get, "fence job never reached the listener")
    } finally sc.removeSparkListener(listener)
    stages.asScala.toSeq.map(s => bytes.getOrDefault(s, 0L)).sum
  }

  test("a search's input bytes are the vector pages it reads plus its files' footer reads") {
    import spark.implicits._
    val dim = 32
    val dir = Files.createTempDirectory("graft-input-pages").toString
    (0 until 3000).map(i => (i.toLong, Seq.tabulate(dim)(j => ((i * 7 + j) % 101) * 0.37f)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2).write.mode("overwrite")
      .option("parquet.enable.dictionary", "false").option("parquet.page.size", "4096")
      .parquet(dir)
    val store = tmpStore
    val build = IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(8)), store)
    val files = IndexManager.listFiles(spark, dir)
    val q = Seq.fill(dim)(5f)
    for (nprobe <- Seq(1, build.nClusters)) {
      val read = taskInputBytes(VectorTopK.search(spark, dir, "vec", q, 10,
        VectorTopK.Options(nprobe = nprobe), store).toDF())
      // the compressed pages holding a candidate, and every byte of each
      // file outside its column chunks (footer and page indexes)
      var pages = 0L
      var tail = 0L
      files.foreach { f =>
        val cands = IndexManager.loadIndex(store, f, "vec").candidateRows(q.toArray, nprobe)
        val local = IndexStore.localPath(f)
        val reader = org.apache.parquet.hadoop.ParquetFileReader.open(
          org.apache.parquet.hadoop.util.HadoopInputFile.fromPath(
            new org.apache.hadoop.fs.Path(local), new org.apache.hadoop.conf.Configuration()))
        try {
          val blocks = reader.getFooter.getBlocks.asScala
          var start = 0L
          blocks.foreach { block =>
            val chunk = block.getColumns.asScala.find(_.getPath.toDotString.startsWith("vec.")).get
            val index = reader.readOffsetIndex(chunk)
            (0 until index.getPageCount).foreach { p =>
              val lo = start + index.getFirstRowIndex(p)
              val next = p + 1
              val hi = start +
                (if (next < index.getPageCount) index.getFirstRowIndex(next) else block.getRowCount)
              if (cands.exists(c => c >= lo && c < hi)) pages += index.getCompressedPageSize(p)
            }
            start += block.getRowCount
          }
          tail += new java.io.File(local).length -
            blocks.flatMap(_.getColumns.asScala).map(_.getTotalSize).sum
        } finally reader.close()
      }
      assert(pages > 0)
      // page indexes may be read twice: to pick the pages, then to read them
      assert(read >= pages && read - pages <= 2 * tail,
        s"nprobe $nprobe: $read input bytes for $pages page bytes and $tail bytes outside chunks")
    }
  }
}
