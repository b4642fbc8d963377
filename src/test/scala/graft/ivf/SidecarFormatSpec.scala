package graft.ivf

import java.nio.file.{Files, Paths}
import java.security.MessageDigest

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ivf.IndexStore.Sidecar

/** The on-disk sidecar format, pinned: every family built for a fixed
  * two-file table must hash to the bytes recorded in
  * `src/test/resources/graft/ivf/sidecar-digests.tsv`. The `.meta` file
  * holds the data file's absolute path, so for it the parsed
  * `(dataLen, dataDigest)` binding stamp is compared instead; the parquet
  * writer's bytes vary between runs at equal length, so the digest is
  * checked against its definition (the first 8 bytes, big-endian, of the
  * SHA-1 of the data file's last ≤ 64 KiB) and recorded as `tail-sha1`.
  * The digests were recorded with the per-family writers that the shared
  * [[IndexStore.writeAtomic]] / [[IvfBuilder.writeCodes]] path replaced.
  */
class SidecarFormatSpec extends SparkSpec {

  /** Two 600-row files with fixed names (their order fixes every seeded
    * sample the index and codebook builds take), indexed with every family.
    */
  private lazy val fixture: (String, IndexStore, Seq[String]) = {
    val rnd = new scala.util.Random(4242)
    val rows = (0 until 1200).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat() * 2f - 1f)))
    val dir = Files.createTempDirectory("graft-format").toString
    rows.grouped(600).zipWithIndex.foreach { case (part, p) =>
      val tmp = Files.createTempDirectory("graft-format-part").toString
      spark.createDataFrame(part).toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .coalesce(1).write.mode("overwrite").parquet(tmp)
      val written = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
      Files.copy(written.toPath, Paths.get(dir, s"part-$p.parquet"))
    }
    val store = new IndexStore(Files.createTempDirectory("graft-format-store").toString)
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(8)), store)
    Sq8Sidecar.ensure(spark, dir, "vec", store)
    PqSidecar.ensure(spark, dir, "vec", m = 4, store = store)
    PqSidecar.ensure(spark, dir, "vec", m = 4, store = store, residual = true)
    (dir, store, IndexManager.listFiles(spark, dir))
  }

  /** One line per (data file, family): SHA-256 of the sidecar's bytes, or
    * the `.meta` binding stamp.
    */
  private def digestLines(): Seq[String] = {
    val (_, store, files) = fixture
    files.flatMap { f =>
      val name = f.substring(f.lastIndexOf('/') + 1)
      def bytes(sidecar: Sidecar): Array[Byte] = Files.readAllBytes(Paths.get(store.path(f, "vec", sidecar)))
      Seq(Sidecar.Index, Sidecar.Sq8, Sidecar.Pq, Sidecar.Pqr, Sidecar.Radii).map { sidecar =>
        val sha = MessageDigest.getInstance("SHA-256").digest(bytes(sidecar)).map("%02x".format(_)).mkString
        s"$name\t${sidecar.ext}\t$sha"
      } :+ {
        val meta = new String(bytes(Sidecar.Meta), "UTF-8")
        val len = IndexStore.MetaLenRe.findFirstMatchIn(meta).get.group(1)
        val digest = IndexStore.MetaDigestRe.findFirstMatchIn(meta).get.group(1).toLong
        val data = Files.readAllBytes(Paths.get(IndexStore.localPath(f)))
        val tail = MessageDigest.getInstance("SHA-1").digest(data.takeRight(65536))
        val expected = java.nio.ByteBuffer.wrap(tail).getLong
        s"$name\tmeta\t$len:${if (digest == expected) "tail-sha1" else digest.toString}"
      }
    }
  }

  test("every sidecar family writes the recorded bytes") {
    val src = scala.io.Source.fromResource("graft/ivf/sidecar-digests.tsv")
    val recorded = try src.getLines().filter(_.nonEmpty).toList finally src.close()
    assert(digestLines() == recorded)
  }

  test("a truncated sidecar of any family is absent, refused by name, or rebuilt — never served") {
    val (dir, built, files) = fixture
    val store = new IndexStore(Files.createTempDirectory("graft-format-trunc").toString)
    Files.list(Paths.get(built.dir)).forEach(p => Files.copy(p, Paths.get(store.dir, p.getFileName.toString)))
    val f = files.head
    val epoch = store.load(f, "vec").get.centroidDigest
    // one read; a refusal must be an IAE or ISE whose message names the file
    def readOrRefuse[T](path: String)(read: => T): Option[T] =
      try Some(read) catch {
        case e @ (_: IllegalArgumentException | _: IllegalStateException) =>
          assert(e.getMessage.contains(path), e.getMessage)
          None
      }
    // (family, bytes up to its header end, the read that must not serve it)
    val families: Seq[(Sidecar, Int, () => Boolean)] = Seq(
      (Sidecar.Index, IvfIndex.HeaderLen, () => {
        IndexManager.cachedPeek(store, f, "vec")
        readOrRefuse(store.indexPath(f, "vec"))(store.load(f, "vec")).flatten.isDefined
      }),
      (Sidecar.Sq8, 16, () => Sq8Sidecar.usable(store, f, "vec")),
      (Sidecar.Pq, 40, () => PqSidecar.usable(store, f, "vec", residual = false)),
      (Sidecar.Pqr, 40, () => PqSidecar.usable(store, f, "vec", residual = true)),
      (Sidecar.Radii, 16, () => store.loadRadii(f, "vec", epoch).isDefined))
    for ((sidecar, headerEnd, served) <- families) {
      val path = Paths.get(store.path(f, "vec", sidecar))
      val full = Files.readAllBytes(path)
      for (n <- (0 to headerEnd) ++ Seq(headerEnd + 1, full.length / 2, full.length - 1)) {
        Files.write(path, full.take(n))
        assert(!served(), s"${sidecar.ext} truncated to $n of ${full.length} bytes was served")
      }
      if (sidecar == Sidecar.Index) {
        // full length, but the last posting (the last list's last ordinal)
        // points one past the file's rows
        val idx = IvfIndex.unframe(full)
        assert(idx.invertedLists.last.nonEmpty)
        val bad = full.clone()
        java.nio.ByteBuffer.wrap(bad).order(java.nio.ByteOrder.LITTLE_ENDIAN)
          .putInt(bad.length - 4, idx.numRows.toInt)
        Files.write(path, bad)
        assert(!served(), "an index with an out-of-range posting ordinal was served")
      }
      sidecar match {
        case Sidecar.Sq8 => Sq8Sidecar.ensure(spark, dir, "vec", store)
        case Sidecar.Pq => PqSidecar.ensure(spark, dir, "vec", m = 4, store = store)
        case Sidecar.Pqr => PqSidecar.ensure(spark, dir, "vec", m = 4, store = store, residual = true)
        case _ => Files.write(path, full)
      }
      assert(Files.readAllBytes(path).sameElements(full), s"${sidecar.ext} not rebuilt")
      assert(served(), s"${sidecar.ext} unusable after rebuild")
    }
  }
}
