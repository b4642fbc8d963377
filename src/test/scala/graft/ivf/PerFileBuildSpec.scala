package graft.ivf

import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.ivf.IndexStore.Sidecar

/** The build passes are per-file passes: one task per data file, no
  * shuffle. A listener records every job an entry point runs over a 4-file
  * table; the per-file jobs are those whose stage reads
  * `IvfBuilder.perFile`'s file list.
  */
class PerFileBuildSpec extends SparkSpec {
  import PerFileBuildSpec.Job

  private final class Recorder extends SparkListener {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val shuffleBytes = new ConcurrentHashMap[Int, java.lang.Long]() // stage → bytes written
    val markers = ConcurrentHashMap.newKeySet[String]()

    override def onJobStart(e: SparkListenerJobStart): Unit = {
      Option(e.properties).flatMap(p => Option(p.getProperty("spark.job.description")))
        .filter(_.startsWith("marker-")).foreach(markers.add)
      val perFile = e.stageInfos.exists(_.rddInfos.exists(_.callSite.startsWith("parallelize at IvfBuilder.scala")))
      val sql = Option(e.properties).exists(_.getProperty("spark.sql.execution.id") != null)
      jobs.put(e.jobId, Job(perFile, sql, e.stageInfos.map(_.numTasks).sum, e.stageIds))
    }

    override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
      if (e.taskMetrics != null)
        shuffleBytes.merge(e.stageId, e.taskMetrics.shuffleWriteMetrics.bytesWritten, (a, b) => a + b)
  }

  private var markerSeq = 0

  /** The jobs `run` started, once the listener has seen all of them: a
    * marker job queued after `run` arrives after every event before it.
    */
  private def jobsOf(run: => Any): Seq[(Job, Long)] = {
    val rec = new Recorder
    val sc = spark.sparkContext
    sc.addSparkListener(rec)
    try {
      run
      markerSeq += 1
      val marker = s"marker-$markerSeq"
      sc.setJobDescription(marker)
      try sc.parallelize(Seq(1), 1).count() finally sc.setJobDescription(null)
      val deadline = System.nanoTime() + 30L * 1000000000L
      while (!rec.markers.contains(marker) && System.nanoTime() < deadline) Thread.sleep(10)
      assert(rec.markers.contains(marker), "listener did not catch up")
      rec.jobs.asScala.toSeq.sortBy(_._1).map(_._2)
        .map(j => j -> j.stages.map(s => rec.shuffleBytes.getOrDefault(s, 0L).longValue).sum)
    } finally sc.removeSparkListener(rec)
  }

  private def writeFile(dir: String, p: Int): Unit = {
    val rnd = new scala.util.Random(100 + p)
    val rows = (0 until 300).map(i => (i.toLong, Seq.fill(16)(rnd.nextFloat())))
    val tmp = Files.createTempDirectory("graft-perfile-part").toString
    spark.createDataFrame(rows).toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
      .coalesce(1).write.mode("overwrite").parquet(tmp)
    val written = new java.io.File(tmp).listFiles().filter(_.getName.endsWith(".parquet")).head
    Files.copy(written.toPath, Paths.get(dir, s"part-$p.parquet"))
  }

  /** The per-file jobs of `jobs`, in order, run `tasks` tasks (one per
    * file) and write no shuffle bytes.
    */
  private def assertPerFile(what: String, jobs: Seq[(Job, Long)], tasks: Int*): Unit = {
    val perFile = jobs.filter(_._1.perFile)
    assert(perFile.map(_._1.tasks) == tasks, s"$what: per-file jobs $perFile")
    perFile.foreach { case (job, bytes) =>
      assert(bytes == 0L, s"$what: per-file job $job wrote $bytes shuffle bytes")
    }
  }

  test("build passes run one task per file and write no shuffle bytes") {
    val dir = Files.createTempDirectory("graft-perfile").toString
    (0 until 2).foreach(writeFile(dir, _))
    val store = new IndexStore(Files.createTempDirectory("graft-perfile-store").toString)

    // build: validate + assign are per-file; only the sample (a Dataset
    // job) may shuffle
    val build = jobsOf(IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store))
    assertPerFile("build", build, 2, 2)
    assert(build.forall { case (job, bytes) => bytes == 0L || job.sql }, s"build: $build")

    // a 3rd file arrives: extend validates and assigns it alone
    writeFile(dir, 2)
    val extend = jobsOf(IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store))
    assertPerFile("extend", extend, 1, 1)
    assert(extend.forall(_._2 == 0L), s"extend: $extend")

    // a 4th: the drift probe reads the 3 indexes (spread over the default
    // parallelism, here 3 tasks), then validates and assigns the new file,
    // and (no retrain) extends it
    writeFile(dir, 3)
    val drift = jobsOf(IvfBuilder.extendOrRetrain(
      spark, dir, IvfBuilder.Config("vec"), store, maxDrift = 1.0, maxOutlierFraction = 1.0))
    assertPerFile("extendOrRetrain", drift, 3, 1, 1, 1, 1)
    assert(drift.forall(_._2 == 0L), s"extendOrRetrain: $drift")

    val sq8 = jobsOf(Sq8Sidecar.build(spark, dir, "vec", store))
    assertPerFile("sq8", sq8, 4, 4)
    assert(sq8.forall(_._2 == 0L), s"sq8: $sq8")

    // pq: the codebook's sample may shuffle; validate and encode do not
    for (residual <- Seq(false, true))
      assertPerFile(s"pq residual=$residual",
        jobsOf(PqSidecar.build(spark, dir, "vec", m = 4, store = store, residual = residual)), 4, 4)

    val files = IndexManager.listFiles(spark, dir)
    assert(files.size == 4)
    files.take(2).foreach(store.delete(_, "vec", Sidecar.Radii))
    val radii = jobsOf(IvfBuilder.ensureRadii(spark, dir, "vec", store))
    assertPerFile("radii", radii, 2)
    assert(radii.forall(_._2 == 0L), s"radii: $radii")
    assert(files.forall(store.exists(_, "vec", Sidecar.Radii)))
  }

  test("a 0-row file appended to an indexed table gets empty sidecars and changes no answer") {
    emptyAppend { (dir, store) => IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store) }
  }

  test("extendOrRetrain indexes a 0-row append without retraining or measuring drift") {
    emptyAppend { (dir, store) =>
      val grown = IvfBuilder.extendOrRetrain(spark, dir, IvfBuilder.Config("vec"), store)
      assert(!grown.retrained)
      assert(grown.drift == -1.0)
      assert(grown.build.files.size == 1 && grown.build.files.values.forall(_ == 0L), grown.build.files)
    }
  }

  /** A 2-file table plus a `df.limit(0)` append: `grow` indexes the append,
    * after which every sidecar ensure succeeds, a second round writes
    * nothing, and search, indexed and the rewritten SQL answer as before.
    */
  private def emptyAppend(grow: (String, IndexStore) => Unit): Unit = {
    val dir = Files.createTempDirectory("graft-perfile-empty").toString
    (0 until 2).foreach(writeFile(dir, _))
    val store = new IndexStore(Files.createTempDirectory("graft-perfile-empty-store").toString)
    IvfBuilder.build(spark, dir, IvfBuilder.Config("vec", nClusters = Some(4)), store)
    def ensureCodes(): Unit = {
      Sq8Sidecar.ensure(spark, dir, "vec", store)
      PqSidecar.ensure(spark, dir, "vec", m = 4, store)
      PqSidecar.ensure(spark, dir, "vec", m = 4, store, residual = true)
    }
    ensureCodes()

    val query = Seq.fill(16)(0.5f)
    val options = VectorTopK.Options(nprobe = 4)
    val view = "graft_perfile_empty"
    def answers() = {
      val search = VectorTopK.search(spark, dir, "vec", query, 10, options, store)
        .collect().toSeq
      val indexed = VectorTopK.indexed(spark, dir, "vec", query, 10, options, store = store)
        .select("id").collect().map(_.getLong(0)).toSeq
      spark.read.parquet(dir).createOrReplaceTempView(view)
      val sql = spark.sql(
        s"""SELECT id FROM $view
           |ORDER BY array_distance(vec, array(${Seq.fill(16)("0.5F").mkString(",")})) ASC
           |LIMIT 10""".stripMargin)
      assert(graft.Graft.tierResolution(sql).isDefined, "the SQL rewrite declined the table")
      (search, indexed, sql.collect().map(_.getLong(0)).toSeq)
    }

    spark.conf.set(graft.plans.VectorTopKRule.IndexDirKey, store.dir)
    spark.conf.set(graft.plans.VectorTopKRule.NprobeKey, "4")
    try {
      val before = answers()
      spark.createDataFrame(Seq((0L, Seq(0f)))).toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec"))
        .limit(0).write.mode("append").parquet(dir)
      val files = IndexManager.listFiles(spark, dir)
      assert(files.size == 3)

      grow(dir, store)
      IvfBuilder.ensureRadii(spark, dir, "vec", store)
      ensureCodes()
      val families = Seq(Sidecar.Index, Sidecar.Radii, Sidecar.Sq8, Sidecar.Pq, Sidecar.Pqr)
      def stamps() = for (f <- files; s <- families)
        yield Files.getLastModifiedTime(Paths.get(store.path(f, "vec", s)))
      val written = stamps()
      // the second round finds every sidecar in place and writes nothing
      IvfBuilder.extend(spark, dir, IvfBuilder.Config("vec"), store)
      IvfBuilder.ensureRadii(spark, dir, "vec", store)
      ensureCodes()
      assert(stamps() == written)

      assert(answers() == before)
    } finally {
      spark.conf.unset(graft.plans.VectorTopKRule.IndexDirKey)
      spark.conf.unset(graft.plans.VectorTopKRule.NprobeKey)
    }
  }
}

object PerFileBuildSpec {

  /** One job: whether it is a per-file pass, whether Spark SQL ran it (a
    * Dataset action, like the training sample), its tasks and its stages.
    */
  private final case class Job(perFile: Boolean, sql: Boolean, tasks: Int, stages: Seq[Int])
}
