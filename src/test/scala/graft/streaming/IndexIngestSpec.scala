package graft.streaming

import java.nio.file.Files

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ivf.{IndexManager, IndexStore, VectorTopK}

class IndexIngestSpec extends SparkSpec {
  import spark.implicits._

  private val dim = 8

  test("per-batch appends extend the index; final search equals brute force") {
    val rnd = new scala.util.Random(61)
    val rows = (0 until 240).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
    val stage = Files.createTempDirectory("graft-ingest-stage").toString
    rows.toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(3)
      .write.mode("overwrite").parquet(stage)

    val tableDir = Files.createTempDirectory("graft-ingest-table").toString + "/t"
    val store = new IndexStore(Files.createTempDirectory("graft-ingest-store").toString)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val batches =
      IndexIngest.ingest(spark, stream, tableDir, "vec", store, maintainSq8 = true)
    assert(batches == 3, s"expected 3 micro-batches, got $batches")

    // every ingested file carries an index with the SAME centroid set (the
    // first batch trained it; later batches extended under it)
    val files = IndexManager.listFiles(spark, tableDir)
    assert(files.size >= 3)
    val indexes = files.map(f => IndexManager.loadIndex(store, f, "vec"))
    assert(indexes.map(_.centroids.toSeq).distinct.size == 1)
    assert(indexes.map(_.numRows).sum == 240L)
    // radius sidecars came along (extend shares assignAndWrite), and the
    // per-batch SQ8 maintenance kept the quantized tier live too
    assert(files.forall(store.exists(_, "vec", IndexStore.Sidecar.Radii)))
    assert(files.forall(store.exists(_, "vec", IndexStore.Sidecar.Sq8)))
    val sq8Ids = VectorTopK
      .search(spark, tableDir, "vec", Seq.fill(dim)(0.4f), 10,
        VectorTopK.Options(nprobe = 64, tier = VectorTopK.Tier.Sq8, oversample = Some(24)),
        store = store)
      .collect()
    assert(sq8Ids.length == 10)

    // exhaustive-probe search over the ingested table == brute over source
    val q = Seq.fill(dim)(0.4f)
    val got = VectorTopK
      .indexed(spark, tableDir, "vec", q, 10,
        VectorTopK.Options(nprobe = indexes.head.nClusters), store = store)
      .select("id").as[Long].collect().sorted.toSeq
    val brute = VectorTopK
      .bruteForce(spark.read.parquet(stage), "vec", q, 10)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == brute)
  }

  test("exactly-once appends: replays and every crash window never duplicate rows") {
    import org.apache.hadoop.fs.Path
    val tableDir = Files.createTempDirectory("graft-eo-table").toString + "/t"
    val fs = new Path(tableDir).getFileSystem(spark.sessionState.newHadoopConf())
    def rowsIn: Long = spark.read.parquet(tableDir).count()
    val b0 = (0 until 10).map(i => (i.toLong, Seq.fill(dim)(i * 0.1f)))
      .toDF("id", "vec")

    // first delivery commits
    assert(IndexIngest.appendBatchExactlyOnce(spark, b0, tableDir, 0L, 2))
    assert(rowsIn == 10)
    // straight replay (crash after checkpoint lost the commit? no — marker
    // present): skipped entirely, nothing rewritten
    assert(!IndexIngest.appendBatchExactlyOnce(spark, b0, tableDir, 0L, 2))
    assert(rowsIn == 10)
    // crash window: files moved but the marker never landed — replay must
    // re-land on the SAME names, not append duplicates
    fs.delete(new Path(tableDir, "_graft_commits/default-0"), false)
    assert(IndexIngest.appendBatchExactlyOnce(spark, b0, tableDir, 0L, 2))
    assert(rowsIn == 10)
    // crash window: a prior attempt left MORE part files than the replay
    // produces (stale b0-p* must be cleared, not survive as orphans)
    fs.delete(new Path(tableDir, "_graft_commits/default-0"), false)
    val orphan = new Path(tableDir, "bdefault-0-p7.parquet")
    fs.rename(new Path(tableDir, "bdefault-0-p0.parquet"), orphan)
    assert(IndexIngest.appendBatchExactlyOnce(spark, b0, tableDir, 0L, 2))
    assert(!fs.exists(orphan), "stale prior-attempt files must be cleared")
    assert(rowsIn == 10)
    // a NEW batch appends beside the old one
    val b1 = (10 until 25).map(i => (i.toLong, Seq.fill(dim)(i * 0.1f)))
      .toDF("id", "vec")
    assert(IndexIngest.appendBatchExactlyOnce(spark, b1, tableDir, 1L, 2))
    assert(rowsIn == 25)
    assert(spark.read.parquet(tableDir).select("id").as[Long].collect().sorted
      .sameElements(0L until 25L))
    // staging and commit dirs stay invisible to Spark's listing
    assert(spark.read.parquet(tableDir).inputFiles
      .forall(f => f.contains("/bdefault-0-p") || f.contains("/bdefault-1-p")))
    // multi-source: a second source's batch 0 is a DIFFERENT commit scope
    // (tag from its checkpoint path), not a skip or a clobber of the first
    val b2 = (25 until 30).map(i => (i.toLong, Seq.fill(dim)(i * 0.1f)))
      .toDF("id", "vec")
    val tagB = IndexIngest.sourceTag("/cp/sourceB")
    assert(tagB != "default" && IndexIngest.sourceTag("/cp/sourceA") != tagB)
    assert(IndexIngest.appendBatchExactlyOnce(spark, b2, tableDir, 0L, 1, tagB))
    assert(rowsIn == 30)
    assert(!IndexIngest.appendBatchExactlyOnce(spark, b2, tableDir, 0L, 1, tagB))
    assert(rowsIn == 30)

    // end to end: the streamed form with exactlyOnce=true ingests once and
    // the per-batch index maintenance still works on the keyed file names
    val stage = Files.createTempDirectory("graft-eo-stage").toString
    val rnd = new scala.util.Random(67)
    (0 until 120).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .repartition(2).write.mode("overwrite").parquet(stage)
    val table2 = Files.createTempDirectory("graft-eo-table2").toString + "/t"
    val store = new IndexStore(Files.createTempDirectory("graft-eo-store").toString)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    val n = IndexIngest.ingest(
      spark, stream, table2, "vec", store, exactlyOnce = true)
    assert(n == 2)
    assert(spark.read.parquet(table2).count() == 120)
    val files = IndexManager.listFiles(spark, table2)
    assert(files.nonEmpty)
    assert(files.map(f => IndexManager.loadIndex(store, f, "vec").numRows).sum == 120L)
  }

  test("retrainOnDrift routes batches through the drift policy") {
    val rnd = new scala.util.Random(67)
    val stage = Files.createTempDirectory("graft-ingest-drift").toString
    // batch files with a distribution break: in-band then translated
    (0 until 100).map(i => (i.toLong, Seq.fill(dim)(rnd.nextFloat())))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(stage)
    (100 until 200).map(i => (i.toLong, Seq.fill(dim)(50f + rnd.nextFloat())))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("append").parquet(stage)

    val tableDir = Files.createTempDirectory("graft-ingest-drift-t").toString + "/t"
    val store = new IndexStore(Files.createTempDirectory("graft-ingest-drift-s").toString)
    val schema = spark.read.parquet(stage).schema
    val stream = spark.readStream.schema(schema)
      .option("maxFilesPerTrigger", "1").parquet(stage)
    IndexIngest.ingest(
      spark, stream, tableDir, "vec", store, retrainOnDrift = true): Unit

    // whatever order the file source picked, the final table is fully
    // indexed and exhaustive search stays exact
    val files = IndexManager.listFiles(spark, tableDir)
    val indexes = files.map(f => IndexManager.loadIndex(store, f, "vec"))
    assert(indexes.map(_.numRows).sum == 200L)
    assert(indexes.map(_.centroids.toSeq).distinct.size == 1)
    val q = Seq.fill(dim)(50.4f)
    val got = VectorTopK
      .indexed(spark, tableDir, "vec", q, 10,
        VectorTopK.Options(nprobe = indexes.head.nClusters), store = store)
      .select("id").as[Long].collect().sorted.toSeq
    val brute = VectorTopK
      .bruteForce(spark.read.parquet(stage), "vec", q, 10)
      .select("id").as[Long].collect().sorted.toSeq
    assert(got == brute)
  }
}
