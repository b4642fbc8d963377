package graft.ops

import org.apache.spark.sql.functions._

import graft.SparkSpec

class LinearSpec extends SparkSpec {
  import spark.implicits._

  test("train -> solve -> fixed-point deploy separates disjoint vocabularies") {
    val rnd = new scala.util.Random(31)
    // two disjoint 20-word vocabularies: label 1 docs draw from A, 0 from B
    val vocabA = (0 until 20).map(i => s"alpha$i")
    val vocabB = (0 until 20).map(i => s"beta$i")
    def doc(v: Seq[String]) = Seq.fill(12)(v(rnd.nextInt(v.size))).mkString(" ")
    val train = (0 until 200).map { i =>
      val pos = i % 2 == 0
      (i.toLong, doc(if (pos) vocabA else vocabB), if (pos) 1 else 0)
    }
    val df = train.toDF("id", "text", "label")
    val dim = 16
    val moments = Linear.bowMoments(df, col("id"), col("text"), col("label"), dim)
    val w = Linear.fitRidge(moments, dim)
    assert(w.length == dim + 1)
    // deploy through the fixed-point kernel on HELD-OUT docs; threshold at
    // the regression midpoint 0.5 (fp 5e5)
    val test = (0 until 60).map { i =>
      val pos = i % 2 == 0
      (i.toLong, doc(if (pos) vocabA else vocabB), if (pos) 1 else 0)
    }.toDF("id", "text", "label")
    val scored = test.select(
      col("label"),
      (Linear.logitFp(col("text"), w, dim) >= 500000L).cast("int").as("pred"))
      .as[(Int, Int)].collect()
    val acc = scored.count(r => r._1 == r._2).toDouble / scored.length
    assert(acc >= 0.95, s"held-out accuracy $acc")
    // moments really are sufficient: the Gram diagonal dominates (counts
    // are nonnegative) and n equals the corpus size
    val n = moments.where(col("kind") === "n").select("v").as[Long].head()
    assert(n == 200L)
  }

  test("fitRidge recovers an exact linear function of the counts") {
    // y = 2·x_bucket(b0) with single-token docs → weights ~ [2 on b0's
    // bucket, 0 elsewhere], bias ~ 0 (up to ridge shrinkage)
    val dim = 4
    val docs = (0 until 80).map { i =>
      val t = if (i % 2 == 0) "aaa" else "bbb"
      val x = Seq.fill(1 + i % 3)(t).mkString(" ") // 1..3 copies
      (i.toLong, x)
    }.toDF("id", "text")
    // bucket of a token under the kernel rule
    def bucket(t: String): Int = {
      val d = java.security.MessageDigest.getInstance("MD5")
      val b = d.digest(t.getBytes("UTF-8"))
      val h = ((b(0) & 0xFFL) << 24) | ((b(1) & 0xFFL) << 16) |
        ((b(2) & 0xFFL) << 8) | (b(3) & 0xFFL)
      (h % dim).toInt
    }
    val bA = bucket("aaa")
    val label = when(col("text").startsWith("aaa"),
      TextAnalysis.tokenCount(col("text")) * 2).otherwise(0)
    val moments = Linear.bowMoments(docs, col("id"), col("text"), label, dim)
    val w = Linear.fitRidge(moments, dim, ridge = 1e-6)
    assert(math.abs(w(bA) - 2.0) < 1e-3, s"want ~2 at bucket $bA, got ${w.toSeq}")
    (0 until dim).filter(_ != bA).filter(_ != bucket("bbb")).foreach { b =>
      assert(math.abs(w(b)) < 1e-3, s"unused bucket $b nonzero: ${w(b)}")
    }
    intercept[IllegalArgumentException](Linear.fitRidge(moments, dim, ridge = 0.0))
    intercept[IllegalArgumentException](Linear.logitFp(col("text"), w.take(2), dim))
  }

  test("blank and null texts give the same moments with ANSI off as with it on") {
    val docs = Seq[(Long, String, Int)](
      (0L, "alpha beta alpha", 1), (1L, "", 0), (2L, null, 1), (3L, "   ", 0),
      (4L, "beta gamma", 0), (5L, "gamma", 1))
      .toDF("id", "text", "label")
    def moments(ansi: Boolean): Set[(String, Long, Long, Long)] = {
      val prior = spark.conf.get("spark.sql.ansi.enabled")
      spark.conf.set("spark.sql.ansi.enabled", ansi.toString)
      try Linear.bowMoments(docs, col("id"), col("text"), col("label"), 8)
        .as[(String, Long, Long, Long)].collect().toSet
      finally spark.conf.set("spark.sql.ansi.enabled", prior)
    }
    val on = moments(ansi = true)
    assert(moments(ansi = false) == on)
    // the blank rows add only to the scalar moments: 6 rows, 3 labels of
    // 1, and the 6 tokens of the other three
    assert(on.contains(("n", -1L, -1L, 6L)) && on.contains(("y", -1L, -1L, 3L)), on)
    assert(on.filter(_._1 == "x").toSeq.map(_._4).sum == 6L, on)
  }
}
