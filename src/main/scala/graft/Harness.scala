package graft

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness every main runs on: [[session]] builds the local
  * session, [[eachEntry]] runs registry entries under the conf hygiene and
  * error policy they all share, and [[BenchTiming]] times them.
  */
private[graft] object Harness {

  /** `local[SPARK_GRAFT_CPUS]` (default `defaultCpus`) with as many shuffle
    * partitions, a UTC session time zone and no UI. Installing the graft
    * extensions is the caller's choice.
    */
  def session(defaultCpus: Int, logLevel: String = "WARN"): SparkSession = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", defaultCpus.toString)
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel(logLevel)
    spark
  }

  type Registry = Map[String, (SparkSession, String) => DataFrame]

  /** `names` in the order given, or every registry entry when none are
    * named; an unknown name is refused before anything runs.
    */
  def select(names: Seq[String], registry: Registry = SparkEntry.queries): Seq[String] =
    if (names.isEmpty) registry.keys.toSeq
    else {
      val unknown = names.filterNot(registry.contains)
      require(unknown.isEmpty, s"unknown query names: ${unknown.mkString(", ")}")
      names
    }

  /** Runs `body` once per name. After every entry the session's
    * `spark.graft.*` confs are put back as they were before the first:
    * entries pin tier/nprobe/oversample keys at plan time, and a leaked key
    * would silently plan (or time) every later entry differently. An entry
    * that throws is reported as `[tag] name failed: message` on stderr and
    * yields None; the loop goes on.
    */
  def eachEntry[T](spark: SparkSession, tag: String, names: Seq[String])(
      body: String => T): Seq[(String, Option[T])] = {
    def graftConf() = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
    val graftConf0 = graftConf()
    names.map { name =>
      val result =
        try Some(body(name))
        catch { case e: Throwable =>
          System.err.println(s"[$tag] $name failed: ${e.getMessage}")
          None
        } finally {
          graftConf().keys.foreach(spark.conf.unset)
          graftConf0.foreach { case (k, v) => spark.conf.set(k, v) }
        }
      name -> result
    }
  }
}
