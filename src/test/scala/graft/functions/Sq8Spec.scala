package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.col
import org.apache.spark.sql.types._

import graft.SparkSpec

class Sq8Spec extends SparkSpec {
  import spark.implicits._

  test("code grid: endpoints, zero, clamp, half-up rounding") {
    assert(Sq8.code(0f) == 0)
    assert(Sq8.code(1f) == 127)
    assert(Sq8.code(-1f) == -127)
    assert(Sq8.code(5f) == 127) // clamp high
    assert(Sq8.code(-5f) == -127) // clamp low
    assert(Sq8.code(0.5f) == 64) // floor(63.5 + 0.5)
    assert(Sq8.code(-0.5f) == -63) // floor(-63.5 + 0.5) = floor(-63.0)
  }

  test("decode∘encode error bounded by half a grid step") {
    val xs = Array.tabulate(1000)(i => (i - 500) / 500.0f) // [-1, 1)
    val recon = Sq8.decode(Sq8.encode(xs))
    xs.zip(recon).foreach { case (x, r) =>
      assert(math.abs(x - r) <= 0.5f / 127f + 1e-7f, s"x=$x r=$r")
    }
  }

  test("encode is idempotent through a decode round trip") {
    val xs = Array.tabulate(256)(i => (i - 128) / 128.0f)
    val codes = Sq8.encode(xs)
    assert(Sq8.encode(Sq8.decode(codes)).toSeq == codes.toSeq)
  }

  test("distanceSq matches elementwise integer arithmetic") {
    val a = Sq8.encode(Array(0.1f, -0.2f, 0.3f))
    val b = Sq8.encode(Array(-0.4f, 0.5f, 0.6f))
    val expected = a.zip(b).map { case (x, y) =>
      val d = (x - y).toLong; d * d
    }.sum
    assert(Sq8.distanceSq(a, b) == expected)
  }

  test("codegen path: encode/decode/codes/distance through a DataFrame") {
    val df = Seq((1L, Seq(0.1f, -0.5f, 1.0f)), (2L, Seq(-1.0f, 0.0f, 0.25f)))
      .toDF("id", "v")
    val out = df
      .select(
        col("id"),
        sq8_codes(sq8_encode(col("v"))).as("codes"),
        sq8_decode(sq8_encode(col("v"))).as("recon"),
        sq8_distance_sq(sq8_encode(col("v")), sq8_encode(col("v"))).as("self"))
      .orderBy("id")
      .collect()
    assert(out(0).getSeq[Int](1) == Seq(13, -63, 127))
    assert(out(1).getSeq[Int](1) == Seq(-127, 0, 32))
    assert(out.forall(_.getLong(3) == 0L))
    val recon = out(0).getSeq[Float](2)
    assert(recon == Seq(13 / 127f, -63 / 127f, 1f))
  }

  test("null vector and null element yield NULL; length mismatch NULLs distance") {
    val schema = StructType(Seq(
      StructField("v", ArrayType(FloatType, containsNull = true), nullable = true)))
    val rows = Seq(Row(null), Row(Seq(0.1f, null)), Row(Seq(0.1f, 0.2f)))
    val df = spark.createDataFrame(spark.sparkContext.parallelize(rows), schema)
    val nulls = df.select(sq8_encode(col("v"))).collect().map(_.isNullAt(0))
    assert(nulls.toSeq == Seq(true, true, false))

    val pair = Seq((Seq(1f, 2f), Seq(1f, 2f, 3f))).toDF("a", "b")
    assert(pair
      .select(sq8_distance_sq(sq8_encode(col("a")), sq8_encode(col("b"))))
      .head().isNullAt(0))
  }

  test("interpreted eval matches codegen") {
    import org.apache.spark.sql.catalyst.expressions.Literal
    val vec = Literal.create(Seq(0.1f, -0.5f, 1.0f), ArrayType(FloatType))
    val codes = Sq8Encode(vec).eval(null).asInstanceOf[Array[Byte]]
    assert(codes.toSeq == Seq[Byte](13, -63, 127))
    val recon = Sq8Decode(Literal(codes)).eval(null)
      .asInstanceOf[org.apache.spark.sql.catalyst.util.ArrayData].toFloatArray()
    assert(recon.toSeq == Seq(13 / 127f, -63 / 127f, 1f))
    val d = Sq8DistanceSq(Literal(codes), Literal(Sq8.encode(Array(0f, 0f, 0f))))
      .eval(null).asInstanceOf[Long]
    assert(d == 13L * 13 + 63L * 63 + 127L * 127)
  }

  test("SQL registration: sq8 functions usable from spark.sql") {
    val r = spark
      .sql("""SELECT sq8_distance_sq(
             |  sq8_encode(array(0.5F, -0.5F)), sq8_encode(array(0.0F, 0.0F))) AS d,
             |  sq8_codes(sq8_encode(array(1.0F))) AS c""".stripMargin)
      .head()
    assert(r.getLong(0) == 64L * 64 + 63L * 63)
    assert(r.getSeq[Int](1) == Seq(127))
  }

  test("two-phase sq8TopK recovers the exact brute-force top-k") {
    val sfDir = "/root/testdata/sf0.001"
    val emb = spark.read.parquet(s"$sfDir/embeddings.parquet")
    val q = graft.Queries.queryVec
    val exact = emb
      .orderBy(
        array_distance(col("embedding"), float_vector(q)).asc_nulls_last,
        col("vec_id"))
      .limit(10).select("vec_id").as[Long].collect().toSet
    val sq8 = graft.ops.Quantize
      .sq8TopK(emb, "vec_id", "embedding", q, 10)
      .select("vec_id").as[Long].collect()
    assert(sq8.length == 10)
    assert(sq8.toSet == exact)
  }

  test("coarse ranking on a precomputed code column (stored-codes path)") {
    val emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    val compressed = graft.ops.Quantize.compress(emb, "embedding")
    // stored codes give the same coarse order as encode-on-the-fly
    val a = graft.ops.Quantize
      .coarseTopK(compressed, "vec_id", "sq8", graft.Queries.queryVec, 20)
      .as[(Long, Long)].collect().toSeq
    val b = graft.ops.Quantize
      .sq8TopK(compressed, "vec_id", "embedding", graft.Queries.queryVec, 20,
        oversample = 1, codeCol = Some("sq8"))
      .select("vec_id").as[Long].collect().toSeq
    // oversample=1 refine re-ranks exactly the coarse winners
    assert(a.map(_._1).toSet == b.toSet)
  }

  // r11 review: a non-null code whose coarse distance is NULL (stale codes
  // or wrong-dim query) must raise, not silently select the lowest ids;
  // a dim skew hidden by binary byte padding must raise at refine.
  test("quantized top-k raises on code/query dim mismatch instead of ranking arbitrarily") {
    import org.apache.spark.sql.functions._
    val df = (0 until 32).map(i => (i.toLong, Seq.fill(8)(i.toFloat)))
      .toDF("id", "vec")
      .select(col("id"), col("vec").cast("array<float>").as("vec"))
    val q4 = Seq.fill(4)(1.0f)   // wrong dim vs the 8-dim vectors
    val e1 = intercept[Exception](
      graft.ops.Quantize.sq8TopK(df, "id", "vec", q4, 3).collect())
    assert(e1.getMessage.contains("mismatch"), e1.getMessage)
    val e2 = intercept[Exception](
      graft.ops.Quantize.coarseTopK(
        graft.ops.Quantize.compress(df, "vec"), "id", "sq8", q4, 3).collect())
    assert(e2.getMessage.contains("mismatch"), e2.getMessage)
    // binary: 6-dim query vs 8-dim vectors packs to the SAME single byte,
    // so the coarse phase cannot see the skew — the refine guard must
    val q6 = Seq.fill(6)(1.0f)
    val e3 = intercept[Exception](
      graft.ops.Quantize.binTopK(df, "id", "vec", q6, 3).collect())
    assert(e3.getMessage.contains("mismatch"), e3.getMessage)
    // null vectors are still skipped, not raised on
    val withNull = df.union(
      Seq((99L, null.asInstanceOf[Seq[Float]])).toDF("id", "vec")
        .select(col("id"), col("vec").cast("array<float>").as("vec")))
    val ok = graft.ops.Quantize.sq8TopK(withNull, "id", "vec", Seq.fill(8)(1.0f), 3)
      .select("id").as[Long].collect()
    assert(ok.length == 3 && !ok.contains(99L))
    // k*oversample overflow refuses with a clear message
    val e4 = intercept[IllegalArgumentException](
      graft.ops.Quantize.sq8TopK(df, "id", "vec", Seq.fill(8)(1.0f), 3,
        oversample = Int.MaxValue))
    assert(e4.getMessage.contains("overflows"), e4.getMessage)
  }

  test("damaged SQ8 sidecars classify as unusable and self-heal via ensure") {
    // the .pq intactness parity (review r11): a truncated .sq8
    // must read as missing, not crash a row read inside an executor
    val dir = java.nio.file.Files.createTempDirectory("graft-sq8-intact").toString
    val path = s"$dir/codes.sq8"
    val codes = Array.tabulate(40 * 8)(i => (i % 100 - 50).toByte)
    java.nio.file.Files.write(java.nio.file.Paths.get(path), graft.ivf.Sq8Sidecar.fileBytes(dim = 8, codes))
    assert(graft.ivf.IndexStore.intactHeader(path, graft.ivf.Sq8Sidecar.Header).isDefined)
    val full = java.nio.file.Files.readAllBytes(java.nio.file.Paths.get(path))
    // codes-region truncation: header intact, last rows missing
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/trunc.sq8"), full.dropRight(5))
    assert(graft.ivf.IndexStore.intactHeader(s"$dir/trunc.sq8", graft.ivf.Sq8Sidecar.Header).isEmpty)
    // mid-header truncation
    java.nio.file.Files.write(
      java.nio.file.Paths.get(s"$dir/hdr.sq8"), full.take(6))
    assert(graft.ivf.IndexStore.intactHeader(s"$dir/hdr.sq8", graft.ivf.Sq8Sidecar.Header).isEmpty)
    // untouched copy still passes
    java.nio.file.Files.write(java.nio.file.Paths.get(s"$dir/copy.sq8"), full)
    assert(graft.ivf.IndexStore.intactHeader(s"$dir/copy.sq8", graft.ivf.Sq8Sidecar.Header).isDefined)
  }
}
