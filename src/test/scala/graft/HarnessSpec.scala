package graft

import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}

/** The one harness the mains share: its per-entry loop owns the
  * `spark.graft.*` conf restore and the error policy, `Verify` runs on it,
  * and no main builds a session of its own.
  */
class HarnessSpec extends SparkSpec {

  test("the per-entry loop restores spark.graft.* confs after every entry and goes on after a failure") {
    val pinned = "spark.graft.harness.pinned"
    spark.conf.set(pinned, "7")
    try {
      val original = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
      var seen = Map.empty[String, String]
      val results = Harness.eachEntry(spark, "spec", Seq("tier", "boom", "record")) {
        case "tier" =>
          spark.conf.set(plans.VectorTopKRule.TierKey, "pq")
          spark.conf.unset(pinned)
          1
        case "boom" =>
          spark.conf.set(pinned, "8")
          throw new IllegalStateException("entry failed on purpose")
        case _ =>
          seen = spark.conf.getAll.filter(_._1.startsWith("spark.graft."))
          3
      }
      assert(results == Seq("tier" -> Some(1), "boom" -> None, "record" -> Some(3)))
      assert(seen == original)
      assert(spark.conf.getAll.filter(_._1.startsWith("spark.graft.")) == original)
    } finally spark.conf.unset(pinned)
  }

  test("Bench's timed pass reads -1 for an entry that throws, as it always has, and times the rest") {
    val tier = plans.VectorTopKRule.TierKey
    val registry: Harness.Registry = Map(
      "a_pins" -> { (s: SparkSession, _: String) => s.conf.set(tier, "pq"); s.range(3).toDF() },
      "b_boom" -> { (_: SparkSession, _: String) => throw new IllegalStateException("entry failed on purpose") },
      "c_after" -> { (s: SparkSession, _: String) =>
        assert(!s.conf.getOption(tier).contains("pq"), "a pinned tier leaked into the next entry")
        s.range(3).toDF()
      })
    val timed = Bench.timedPass(spark, "unused", registry.keys.toSeq.sorted, registry).toMap
    assert(timed("b_boom") == -1.0)
    assert(timed("a_pins") >= 0.0 && timed("c_after") >= 0.0, timed)
    assert(!spark.conf.getOption(tier).contains("pq"))
  }

  test("a subset Verify writes only the named outputs and a manifest json.load reads") {
    val registry: Harness.Registry = Seq("a", "b", "c").map { name =>
      name -> ((s: SparkSession, _: String) => s.range(3).toDF(name): DataFrame)
    }.toMap
    val oracle = Map(
      "a" -> "SELECT 1 AS a\r\n-- \u0001 marker",
      "b" -> "SELECT \"b\"\tFROM t",
      "c" -> "SELECT 3 AS c")
    val out = Files.createTempDirectory("graft-verify-subset").toString
    Verify.run(spark, "unused", out, Seq("b", "a"), registry, oracle)

    val written = Files.list(Paths.get(out)).iterator().asScala.map(_.getFileName.toString).toSet
    assert(written == Set("a", "b", "oracle_sql.json"))
    assert(spark.read.parquet(s"$out/a").count() == 3L)

    val check =
      """import json, sys
        |d = json.load(open(sys.argv[1]))
        |assert sorted(d) == ['a', 'b'], sorted(d)
        |assert d['a'] == 'SELECT 1 AS a\r\n-- \x01 marker', repr(d['a'])
        |assert d['b'] == 'SELECT "b"\tFROM t', repr(d['b'])
        |print('ok')""".stripMargin
    val printed = scala.sys.process.Process(Seq("python3", "-c", check, s"$out/oracle_sql.json")).!!
    assert(printed.trim == "ok")
  }

  test("one main-code file builds sessions, and every quoted runMain names a main that exists") {
    def sources(root: String) = {
      val walk = Files.walk(Paths.get(root))
      try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toList
      finally walk.close()
    }
    val main = sources("src/main/scala")
    val builders = main.filter(p => Files.readString(p).contains("SparkSession.builder"))
    assert(builders.map(_.getFileName.toString) == List("Harness.scala"), builders)

    val quoting = main ++ Seq("README.md", "BASELINE.md", "ROADMAP.md").map(Paths.get(_))
    val commands = quoting.flatMap { p =>
      """runMain\s+(graft(?:\.\w+)+)""".r.findAllMatchIn(Files.readString(p)).map(p -> _.group(1))
    }
    assert(commands.map(_._2).toSet.contains("graft.Verify"), commands)
    val missing = commands.filter { case (_, cls) =>
      scala.util.Try(Class.forName(cls).getMethod("main", classOf[Array[String]])).isFailure
    }
    assert(missing.isEmpty, s"runMain commands naming no main: $missing")
  }
}
