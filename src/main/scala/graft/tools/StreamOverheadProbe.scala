package graft.tools

import org.apache.spark.sql.functions.col

/** Streaming-bench fixed-overhead attribution (round-11 verdict item #6):
  * st7/st8 are the suite's most expensive sf0.1 entries (~2.5-3.8 s), and
  * the claim to pin is that their cost is `triggers × micro-batch
  * overhead`, not data volume — so future regressions on them are judged
  * against the right null (a data-dependent slowdown vs one more
  * scheduling round). Method: stage the SAME table into F ∈ {1, 2, 4}
  * files and replay one file per trigger through the exact ingest
  * machinery the queries use ([[graft.streaming.IndexIngest]] /
  * [[graft.streaming.PostingsIngest]] / the st12 watermarked
  * stream-stream join via [[graft.streaming.EventStreams.replayToTable]])
  * — data volume is constant across F, so the fitted slope IS the
  * per-trigger cost and the F=1 point is (fixed setup + the data's own
  * cost). Run manually, record in BENCHNOTES:
  * `sbt "runMain graft.tools.StreamOverheadProbe <sfDir>"`.
  */
object StreamOverheadProbe {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val spark = graft.Harness.session(defaultCpus = 32)

    def timed(f: => Unit): Double = {
      val t0 = System.nanoTime(); f; (System.nanoTime() - t0) / 1e9
    }

    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val docs = spark.read.parquet(s"$sfDir/documents.parquet")
    val events = spark.read.parquet(s"$sfDir/events.parquet")
    val out = Seq.newBuilder[String]

    // first pass is an untimed warmup (state-store init + codegen for the
    // three query shapes pollute the first streaming query in a JVM —
    // measured: an unwarmed f=1 point reads HIGHER than f=2)
    Seq(1 -> true, 1 -> false, 2 -> false, 4 -> false).foreach { case (files, warmup) =>
      // st7 shape: staged embedding ingest + incremental index per batch
      val stage7 = java.nio.file.Files.createTempDirectory(s"graft-soh7-$files").toString
      emb.repartition(files).write.mode("overwrite").parquet(stage7)
      val t7 = timed {
        val tableDir = java.nio.file.Files
          .createTempDirectory(s"graft-soh7t-$files").toString + "/t"
        val store = new graft.ivf.IndexStore(java.nio.file.Files
          .createTempDirectory(s"graft-soh7s-$files").toString)
        val stream = spark.readStream.schema(emb.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage7)
        graft.streaming.IndexIngest.ingest(spark, stream, tableDir, "embedding", store): Unit
      }
      // st8 shape: staged doc ingest + postings build/compact per batch
      val stage8 = java.nio.file.Files.createTempDirectory(s"graft-soh8-$files").toString
      docs.repartition(files).write.mode("overwrite").parquet(stage8)
      val t8 = timed {
        val stream = spark.readStream.schema(docs.schema)
          .option("maxFilesPerTrigger", "1").parquet(stage8)
        graft.streaming.PostingsIngest.ingest(
          spark, stream, "doc_id", "text", s"graft_soh8_$files", buckets = 8): Unit
      }
      // st12 shape: watermarked stream-stream self-join over the staged
      // events, one file per trigger (mirrors Queries.st12 exactly —
      // 8 state partitions, ±10 min interval join on user_id)
      val stage12 = java.nio.file.Files.createTempDirectory(s"graft-soh12-$files").toString
      events.repartition(files).write.mode("overwrite").parquet(stage12)
      val t12 = timed {
        import org.apache.spark.sql.streaming.OutputMode
        import org.apache.spark.sql.functions.expr
        def side(parity: Int, idName: String, uName: String, tName: String) =
          spark.readStream.schema(events.schema)
            .option("maxFilesPerTrigger", "1").parquet(stage12)
            .where(col("event_id") % 2 === parity)
            .select(
              col("event_id").as(idName), col("user_id").as(uName),
              col("ts").cast("timestamp").as(tName))
            .withWatermark(tName, "30 minutes")
        val a = side(0, "a_id", "a_u", "a_time")
        val b = side(1, "b_id", "b_u", "b_time")
        val joined = a.join(
            b,
            col("a_u") === col("b_u") &&
              col("b_time") >= col("a_time") - expr("INTERVAL 10 MINUTES") &&
              col("b_time") <= col("a_time") + expr("INTERVAL 10 MINUTES"))
          .select(col("a_id"), col("b_id"))
        graft.streaming.EventStreams.replayToTable(
          spark, joined, OutputMode.Append(), statePartitions = Some(8)).count(): Unit
      }
      if (!warmup) {
        System.err.println(
          f"[stream-overhead] files=$files st7=$t7%.2f s st8=$t8%.2f s st12=$t12%.2f s")
        out += f""""f$files":{"st7_sec":$t7%.2f,"st8_sec":$t8%.2f,"st12_sec":$t12%.2f}"""
      }
    }
    println(s"""{"metric":"stream_overhead_probe","sf":"$sfDir","points":{${out.result().mkString(",")}}}""")
    spark.stop()
  }
}
