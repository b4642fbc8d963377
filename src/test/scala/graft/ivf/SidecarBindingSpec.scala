package graft.ivf

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.functions.col

import graft.SparkSpec

/** Sidecar↔data-file binding: a data file REPLACED AT THE SAME PATH (hand
  * swap, external compaction output copied over an input name) must read as
  * "no index" — never silently serve the old file's row ordinals. The
  * reference is immune by construction (index inside the file, destroyed by
  * any rewrite, `/root/reference/src/ivf/parquet.rs:536-611`); sidecars get
  * the same posture from the `.meta` (length, tail-digest) stamp.
  */
class SidecarBindingSpec extends SparkSpec {
  import spark.implicits._

  private def writeTable(dir: String, n: Int, seed: Int, parts: Int): Unit = {
    val rnd = new scala.util.Random(seed)
    (0 until n).map(i => (i.toLong, Seq.fill(8)(rnd.nextFloat())))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(parts).write.mode("overwrite").parquet(dir)
  }

  private def localPath(canonical: String): java.nio.file.Path =
    Paths.get(canonical.stripPrefix("file:"))

  /** Overwrite `target`'s CONTENT in place (same path, same inode — the
    * harshest aliasing case) with another parquet file's bytes. The Hadoop
    * local-FS `.crc` twin moves with the content, as any real external
    * replacement tool would (else every read fails on the checksum, before
    * our binding is even consulted).
    */
  private def replaceInPlace(target: String, withFile: String): Unit = {
    val (t, w) = (localPath(target), localPath(withFile))
    Files.copy(w, t, StandardCopyOption.REPLACE_EXISTING)
    def crc(p: java.nio.file.Path) = p.resolveSibling("." + p.getFileName + ".crc")
    Files.copy(crc(w), crc(t), StandardCopyOption.REPLACE_EXISTING): Unit
  }

  private def fixture(): (String, IndexStore, Seq[String]) = {
    val dir = Files.createTempDirectory("graft-bind").toString
    writeTable(dir, 120, seed = 7, parts = 2)
    val store = new IndexStore(Files.createTempDirectory("graft-bind-store").toString)
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    (dir, store, IndexManager.listFiles(spark, dir))
  }

  test("a data file replaced at an unchanged path reads as no-index (refuse, not stale ordinals)") {
    val (_, store, files) = fixture()
    val victim = files.head
    // warm the decoded-index LRU so the stale-hit path is also exercised
    val cached = IndexManager.loadIndex(store, victim, "vec")
    assert(cached.nClusters == 4)
    assert(store.exists(victim, "vec") && store.exists(victim, "vec", IndexStore.Sidecar.Radii))

    val donorDir = Files.createTempDirectory("graft-bind-donor").toString
    writeTable(donorDir, 80, seed = 8, parts = 1)
    replaceInPlace(victim, IndexManager.listFiles(spark, donorDir).head)

    // every sidecar read of the replaced file refuses at once
    assert(store.load(victim, "vec").isEmpty, "load must refuse a stale-bound sidecar")
    assert(store.peek(victim, "vec").isEmpty)
    assert(!store.exists(victim, "vec"))
    assert(!store.exists(victim, "vec", IndexStore.Sidecar.Radii))
    assert(store.centroidDigest(victim, "vec").isEmpty)
    // the warm LRU entry must not rescue the stale decode either
    val err = intercept[IllegalStateException](IndexManager.loadIndex(store, victim, "vec"))
    assert(err.getMessage.contains("no IVF index"))
    // untouched sibling files stay bound and loadable
    assert(files.tail.forall(f => store.load(f, "vec").isDefined))
  }

  test("extend self-heals a replaced file: re-indexed under shared centroids, re-stamped") {
    val (dir, store, files) = fixture()
    val victim = files.head
    val keeperDigest = store.centroidDigest(files.last, "vec").get
    val donorDir = Files.createTempDirectory("graft-bind-donor2").toString
    writeTable(donorDir, 80, seed = 9, parts = 1)
    replaceInPlace(victim, IndexManager.listFiles(spark, donorDir).head)

    IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
    val healed = store.load(victim, "vec")
    assert(healed.isDefined, "extend must classify the stale-bound file as unindexed and rebuild")
    assert(healed.get.invertedLists.map(_.length).sum == 80,
      "healed posting lists must cover the NEW file's rows")
    assert(store.centroidDigest(victim, "vec").contains(keeperDigest),
      "extend reuses the table's shared centroid epoch")
    // and the healed index answers correctly: exhaustive probe == brute force
    val q = Seq.fill(8)(0.5f)
    val hits = VectorTopK
      .search(spark, dir, "vec", q, k = 5, VectorTopK.Options(nprobe = 4), store)
      .collect()
    val brute = spark.read.parquet(dir)
      .select(graft.functions.array_distance(col("vec"), graft.functions.float_vector(q)).as("d"))
      .orderBy(col("d")).limit(5).collect()
    val bruteD = brute.map(_.getFloat(0))
    // kernels accumulate f32 sums in different orders; allow a few ULPs
    assert(hits.length == 5 && hits.map(_.distance).zip(bruteD).forall {
      case (a, b) => (a - b).abs <= 4 * math.ulp(b)
    }, s"${hits.map(_.distance).toSeq} !~ ${bruteD.toSeq}")
  }
}
