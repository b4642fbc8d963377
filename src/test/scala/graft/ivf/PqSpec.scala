package graft.ivf

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.functions.VectorKernels

class PqSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  private def sampleVecs(n: Int, seed: Int): Array[Array[Float]] = {
    val rnd = new scala.util.Random(seed)
    Array.fill(n)(Array.fill(dim)(rnd.nextFloat()))
  }

  test("train is deterministic and encode/decode round-trips centroids") {
    val samples = sampleVecs(300, 3)
    val cb1 = Pq.train(samples, m = 4, seed = 7L)
    val cb2 = Pq.train(samples, m = 4, seed = 7L)
    assert(cb1.centroids.toSeq == cb2.centroids.toSeq)
    assert(cb1.ksub == Pq.MaxK && cb1.dsub == 2)
    // decode(encode(x)) is the per-subspace nearest centroid concatenation:
    // re-encoding the decoded vector must be a fixed point
    samples.take(20).foreach { v =>
      val code = Pq.encode(v, cb1)
      val dec = Pq.decode(code, cb1)
      assert(Pq.encode(dec, cb1).toSeq == code.toSeq)
    }
  }

  test("small sample clamps ksub below 256 and still works") {
    val samples = sampleVecs(10, 5)
    val cb = Pq.train(samples, m = 2)
    assert(cb.ksub == 10)
    samples.foreach { v =>
      val code = Pq.encode(v, cb)
      assert(code.forall(b => (b & 0xFF) < cb.ksub))
      assert(Pq.decode(code, cb).length == dim)
    }
  }

  test("ADC distance equals the direct distance to the decoded vector") {
    val samples = sampleVecs(300, 11)
    val cb = Pq.train(samples, m = 4, seed = 1L)
    val q = sampleVecs(1, 99).head
    val table = Pq.adcTable(q, cb)
    samples.take(50).foreach { v =>
      val code = Pq.encode(v, cb)
      val adc = Pq.adcDistanceSq(table, code, cb.ksub)
      // same per-subspace partial sums, same addition order → f32-identical
      val direct = {
        val dec = Pq.decode(code, cb)
        var d = 0.0f
        for (s <- 0 until cb.m) {
          var ds = 0.0f
          for (j <- 0 until cb.dsub) {
            val t = q(s * cb.dsub + j) - dec(s * cb.dsub + j)
            ds += t * t
          }
          d += ds
        }
        d
      }
      assert(adc == direct, s"adc $adc != direct $direct")
    }
  }

  test("codebook bytes round-trip; sidecar write/read with run coalescing") {
    val samples = sampleVecs(300, 17)
    val cb = Pq.train(samples, m = 4, seed = 2L)
    val back = Pq.codebookFromBytes(Pq.codebookBytes(cb))
    assert(back == cb.copy(centroids = back.centroids)
      && back.centroids.toSeq == cb.centroids.toSeq)

    val codes = samples.flatMap(v => Pq.encode(v, cb))
    val path = Files.createTempDirectory("graft-pq").toString + "/codes.pq"
    IndexStore.writeAtomic(path, PqSidecar.fileBytes(cb, codes))
    val header = IndexStore.withCodes(path, PqSidecar.Header)(_.header)
    assert(header.nRows == samples.length && !header.residual)
    assert(header.cbDigest == PqSidecar.codebookDigest(Pq.codebookBytes(cb)))
    val reader = new IndexStore.CodeReader(path, PqSidecar.Header)
    try assert(PqSidecar.codebook(reader) == cb.copy(centroids = PqSidecar.codebook(reader).centroids)
      && PqSidecar.codebook(reader).centroids.toSeq == cb.centroids.toSeq)
    finally reader.close()
    val wanted = Array(0, 1, 2, 57, 100, 299)
    val rows = IndexStore.withCodes(path, PqSidecar.Header)(_.rows(wanted))
    wanted.zipWithIndex.foreach { case (ri, i) =>
      assert(rows(i).toSeq == Pq.encode(samples(ri), cb).toSeq, s"ordinal $ri")
    }
    intercept[IllegalArgumentException] {
      IndexStore.withCodes(path, PqSidecar.Header)(_.rows(Array(300)))
    }
  }

  test("codebook cache: one decode serves all files sharing a codebook") {
    val samples = sampleVecs(120, 41)
    val cb = Pq.train(samples, m = 4, seed = 7L)
    val codes = samples.flatMap(v => Pq.encode(v, cb))
    val dir = Files.createTempDirectory("graft-pq-cbcache").toString
    val paths = (0 until 4).map(i => s"$dir/part-$i.pq")
    paths.foreach(p => IndexStore.writeAtomic(p, PqSidecar.fileBytes(cb, codes)))
    val (h0, m0) = PqSidecar.codebookCacheStats
    // repeated multi-"file" reads: at most ONE miss (the table's shared
    // codebook decodes once per JVM; it may already be cached from an
    // earlier spec if digests collide — they don't across seeds)
    for (_ <- 0 until 3; p <- paths) {
      val r = new IndexStore.CodeReader(p, PqSidecar.Header)
      try assert(PqSidecar.codebook(r).centroids.toSeq == cb.centroids.toSeq)
      finally r.close()
    }
    val (h1, m1) = PqSidecar.codebookCacheStats
    assert(m1 - m0 <= 1, s"expected at most one codebook decode, got ${m1 - m0}")
    assert(h1 - h0 >= 11, s"expected >= 11 cache hits, got ${h1 - h0}")
    // a corrupted codebook byte fails the digest integrity check loudly —
    // integrity is verified on cache MISS, so corrupt a file carrying a
    // codebook this JVM has never decoded
    val cb2 = Pq.train(sampleVecs(120, 42), m = 4, seed = 8L)
    assert(PqSidecar.codebookDigest(Pq.codebookBytes(cb2)) !=
      PqSidecar.codebookDigest(Pq.codebookBytes(cb)))
    val badPath = java.nio.file.Paths.get(s"$dir/bad.pq")
    IndexStore.writeAtomic(
      badPath.toString, PqSidecar.fileBytes(cb2, samples.flatMap(v => Pq.encode(v, cb2))))
    val bytes = Files.readAllBytes(badPath)
    bytes(40) = (bytes(40) ^ 0x1).toByte // inside the codebook region
    Files.write(badPath, bytes)
    val r = new IndexStore.CodeReader(badPath.toString, PqSidecar.Header)
    try {
      val e = intercept[IllegalArgumentException](PqSidecar.codebook(r))
      assert(e.getMessage.contains("digest mismatch"))
    } finally r.close()
  }

  test("searchPq is exact at exhaustive probe + covering oversample") {
    val dir = Files.createTempDirectory("graft-pq-data").toString
    val rnd = new scala.util.Random(23)
    val rows = (0 until 400).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
    rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2)
      .write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-pq-store").toString)
    val build = IvfBuilder.build(
      spark, dir, IvfBuilder.Config("vec", nClusters = Some(5)), store)
    PqSidecar.build(spark, dir, "vec", m = 4, store)

    val q = Seq.fill(dim)(0.5f)
    val k = 10
    val got = VectorTopK
      .search(spark, dir, "vec", q, k,
        VectorTopK.Options(
          nprobe = build.nClusters, tier = VectorTopK.Tier.Pq(),
          oversample = Some((400 + k - 1) / k)), store = store)
      .collect()
    // brute twin through the SAME kernel (the codegen'd expression may
    // differ in the last f32 bit from the unrolled kernel — ordering, not
    // value, is the cross-path contract, and the oracle gates compare ids)
    val brute = rows
      .map { case (_, v) =>
        math.sqrt(
          VectorKernels.squaredL2(v.toArray, q.toArray).toDouble).toFloat
      }
      .sorted.take(k)
    assert(got.length == k)
    assert(got.map(_.distance).sorted.toSeq == brute)
  }

  test("residual (IVF-ADC) build: exact under covering, better codes than raw") {
    val dir = Files.createTempDirectory("graft-pqr-data").toString
    val rnd = new scala.util.Random(31)
    // clustered data: residual coding should shine (cells far apart, tight
    // within-cell spread the residual codebook can spend its entries on)
    val rows = (0 until 400).map { i =>
      val center = (i % 4) * 8.0f
      (i.toLong, Seq.tabulate(dim)(j => center + rnd.nextFloat()))
    }
    rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-pqr-store").toString)
    val build = IvfBuilder.build(
      spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    PqSidecar.build(spark, dir, "vec", m = 4, store, residual = true)
    PqSidecar.build(spark, dir, "vec", m = 4, store, residual = false)
    val files = IndexManager.listFiles(spark, dir)
    assert(IndexStore.withCodes(store.path(files.head, "vec", IndexStore.Sidecar.Pqr), PqSidecar.Header)(_.header).residual)

    val q = Seq.tabulate(dim)(_ => 8.5f) // near cluster 1
    val k = 10
    // covering oversample → exact, regardless of codebook
    val got = VectorTopK
      .search(spark, dir, "vec", q, k,
        VectorTopK.Options(
          nprobe = build.nClusters, tier = VectorTopK.Tier.Pq(residual = true),
          oversample = Some((400 + k - 1) / k)), store = store)
      .collect()
    val brute = rows
      .map { case (_, v) =>
        math.sqrt(VectorKernels.squaredL2(v.toArray, q.toArray).toDouble).toFloat
      }
      .sorted.take(k)
    assert(got.map(_.distance).sorted.toSeq == brute)

    // coarse-quality comparison at tiny oversample: residual ADC must rank
    // at least as well as raw ADC on clustered data
    def recallAt(residual: Boolean): Double = {
      val ids = VectorTopK
        .search(spark, dir, "vec", q, k,
          VectorTopK.Options(
            nprobe = build.nClusters, tier = VectorTopK.Tier.Pq(residual),
            oversample = Some(2)), store = store)
        .collect().map(_.row_idx).toSet
      val exact = rows
        .map { case (id, v) => id -> VectorKernels.squaredL2(v.toArray, q.toArray) }
        .sortBy(_._2).take(k).map(_._1).toSet
      (ids intersect exact).size.toDouble / k
    }
    val rRes = recallAt(residual = true)
    val rRaw = recallAt(residual = false)
    assert(rRes >= rRaw, s"residual recall $rRes < raw recall $rRaw")
    assert(rRes >= 0.8, s"residual recall $rRes")
  }

  test("ANN operating point: small oversample still recalls most of top-k") {
    val dir = Files.createTempDirectory("graft-pq-ann").toString
    val rnd = new scala.util.Random(29)
    val rows = (0 until 400).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
    rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1)
      .write.mode("overwrite").parquet(dir)
    val store = new IndexStore(Files.createTempDirectory("graft-pq-ann-store").toString)
    val build = IvfBuilder.build(
      spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    PqSidecar.build(spark, dir, "vec", m = 4, store)
    val q = Seq.fill(dim)(0.5f)
    // exhaustive probe isolates the ADC ranking quality from IVF recall
    val approx = VectorTopK
      .search(spark, dir, "vec", q, 10,
        VectorTopK.Options(
          nprobe = build.nClusters, tier = VectorTopK.Tier.Pq(), oversample = Some(4)),
        store = store)
      .collect().map(_.row_idx).toSet
    val vecsById = rows.map { case (id, v) => id -> v.toArray }.toMap
    val exact = rows
      .map { case (id, _) => id -> VectorKernels.squaredL2(vecsById(id), q.toArray) }
      .sortBy(_._2).take(10).map(_._1).toSet
    val recall = (approx intersect exact).size / 10.0
    assert(recall >= 0.7, s"PQ@oversample=4 recall $recall")
  }

  // Since the r11 lazy header read, a header-only probe can't see damage
  // past byte 36 — usable()'s intact check must reject truncated sidecars
  // so ensure() rebuilds them instead of queries crashing in executors.
  test("headerIfIntact rejects sidecars truncated past the fixed header") {
    val samples = sampleVecs(200, 19)
    val cb = Pq.train(samples, m = 4, seed = 3L)
    val codes = samples.flatMap(v => Pq.encode(v, cb))
    val dir = Files.createTempDirectory("graft-pq-intact").toString
    val path = s"$dir/codes.pq"
    IndexStore.writeAtomic(path, PqSidecar.fileBytes(cb, codes))
    assert(IndexStore.intactHeader(path, PqSidecar.Header).exists(_.nRows == samples.length))
    val full = Files.readAllBytes(java.nio.file.Paths.get(path))
    // mid-codebook truncation: fixed header parses fine, codebook is gone
    Files.write(java.nio.file.Paths.get(s"$dir/midcb.pq"), full.take(50))
    assert(IndexStore.intactHeader(s"$dir/midcb.pq", PqSidecar.Header).isEmpty)
    // codes-region truncation: header AND codebook intact, last rows missing
    Files.write(java.nio.file.Paths.get(s"$dir/midcodes.pq"), full.dropRight(8))
    assert(IndexStore.intactHeader(s"$dir/midcodes.pq", PqSidecar.Header).isEmpty)
    // sanity: an untouched copy still passes
    Files.write(java.nio.file.Paths.get(s"$dir/copy.pq"), full)
    assert(IndexStore.intactHeader(s"$dir/copy.pq", PqSidecar.Header).isDefined)
  }
}
