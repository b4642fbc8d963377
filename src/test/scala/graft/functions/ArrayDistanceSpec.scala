package graft.functions

import org.apache.spark.sql.Row
import org.apache.spark.sql.functions.{col, lit}
import org.apache.spark.sql.types._

import graft.SparkSpec

class ArrayDistanceSpec extends SparkSpec {
  import spark.implicits._

  test("array_distance computes Euclidean distance (codegen path)") {
    val df = Seq((Seq(1f, 2f, 3f), Seq(4f, 5f, 6f))).toDF("a", "b")
    val d = df.select(array_distance(col("a"), col("b"))).as[Float].head()
    assert(math.abs(d - math.sqrt(27.0)) < 1e-5)
    val sq = df.select(array_squared_l2(col("a"), col("b"))).as[Float].head()
    assert(math.abs(sq - 27.0f) < 1e-5)
  }

  test("null vector, null element, and dim mismatch all yield NULL") {
    val schema = StructType(Seq(
      StructField("a", ArrayType(FloatType, containsNull = true), nullable = true),
      StructField("b", ArrayType(FloatType, containsNull = true), nullable = true)))
    val rows = Seq(
      Row(null, Seq(1f, 2f)), // null vector
      Row(Seq(1f, null), Seq(1f, 2f)), // null element
      Row(Seq(1f, 2f, 3f), Seq(1f, 2f)), // dim mismatch
      Row(Seq(1f, 2f), Seq(1f, 2f))) // ok
    val df = spark.createDataFrame(
      spark.sparkContext.parallelize(rows), schema)
    val out = df.select(array_distance(col("a"), col("b"))).collect().map(_.isNullAt(0))
    assert(out.toSeq == Seq(true, true, true, false))
  }

  test("double arrays implicitly cast to float (reference f64→f32 coercion)") {
    val df = Seq((Seq(1.0, 2.0, 3.0), Seq(4.0, 5.0, 6.0))).toDF("a", "b")
    val d = df.select(array_distance(col("a"), col("b"))).as[Float].head()
    assert(math.abs(d - math.sqrt(27.0)) < 1e-5)
  }

  test("SQL registration: array_distance usable from spark.sql") {
    val d = spark
      .sql("SELECT array_distance(array(1.0F, 2.0F, 3.0F), array(4.0F, 5.0F, 6.0F)) AS d")
      .as[Float].head()
    assert(math.abs(d - math.sqrt(27.0)) < 1e-5)
  }

  test("cosine similarity and dot product") {
    val df = Seq((Seq(1f, 0f), Seq(0f, 1f))).toDF("a", "b")
    assert(df.select(array_cosine_similarity(col("a"), col("b"))).as[Float].head() == 0f)
    assert(df.select(array_dot(col("a"), col("b"))).as[Float].head() == 0f)
    val same = Seq((Seq(3f, 4f), Seq(3f, 4f))).toDF("a", "b")
    assert(math.abs(
      same.select(array_cosine_similarity(col("a"), col("b"))).as[Float].head() - 1f) < 1e-6)
    assert(same.select(array_dot(col("a"), col("b"))).as[Float].head() == 25f)
  }

  test("interpreted eval matches codegen") {
    // every expression, interpreted and generated, bit-equal to its
    // VectorKernels method: a literal on either side (converted once) or
    // two row values, at dims around the old 4-way grouping and 128
    import org.apache.spark.sql.catalyst.InternalRow
    import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, Literal}
    import org.apache.spark.sql.catalyst.expressions.codegen.GenerateUnsafeProjection
    import org.apache.spark.sql.catalyst.util.GenericArrayData
    type Make = (Expression, Expression) => Expression
    val kernels: Seq[(Make, (Array[Float], Array[Float]) => Float)] =
      Seq(
        (ArrayDistance(_, _), VectorKernels.l2Distance),
        (ArraySquaredL2(_, _), VectorKernels.squaredL2),
        (ArrayDot(_, _), VectorKernels.dot),
        (ArrayCosineSimilarity(_, _), VectorKernels.cosine))
    val arrType = ArrayType(FloatType, containsNull = false)
    def lit(v: Array[Float]) = Literal.create(v.toSeq, arrType)
    def col(i: Int) = BoundReference(i, arrType, nullable = true)
    def bits(f: Float) = java.lang.Float.floatToRawIntBits(f)
    val rnd = new scala.util.Random(5)
    for (dim <- Seq(1, 3, 4, 5, 127, 128, 129); _ <- 0 until 20) {
      val a = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val b = Array.fill(dim)(rnd.nextGaussian().toFloat)
      val row = InternalRow(new GenericArrayData(a.map(x => x: Any)),
        new GenericArrayData(b.map(x => x: Any)))
      kernels.foreach { case (make, kernel) =>
        val want = kernel(a, b)
        Seq(make(lit(a), col(1)), make(col(0), lit(b)), make(col(0), col(1))).foreach { e =>
          val interp = e.eval(row).asInstanceOf[Float]
          val gen = GenerateUnsafeProjection.generate(Seq(e)).apply(row).getFloat(0)
          assert(bits(interp) == bits(want) && bits(gen) == bits(want),
            s"$e at dim $dim: eval $interp, codegen $gen, kernel $want")
        }
      }
    }
    // a literal that is null, holds a null element or has another length
    // makes every row NULL on both paths
    val row = InternalRow(new GenericArrayData(Array[Any](1f, 2f)))
    val nullElem = Literal.create(Seq(1f, null), ArrayType(FloatType, containsNull = true))
    for ((make, _) <- kernels; l <- Seq(Literal.create(null, arrType), nullElem, lit(Array(1f)));
         e <- Seq(make(l, col(0)), make(col(0), l))) {
      assert(e.eval(row) == null, e)
      assert(GenerateUnsafeProjection.generate(Seq(e)).apply(row).isNullAt(0), e)
    }
  }

  test("cosine: interpreted eval is bit-equal to the codegen arithmetic") {
    // values where rounding each norm to FLOAT before multiplying (the old
    // eval form) can drift a last ulp from codegen's unrounded double-sqrt
    // product — the same expression must not depend on whether codegen ran
    val rnd = new scala.util.Random(3)
    val vecs = Seq.fill(200)(
      (Array.fill(37)(rnd.nextFloat() * 2 - 1), Array.fill(37)(rnd.nextFloat() * 2 - 1)))
    vecs.foreach { case (a, b) =>
      val expr = ArrayCosineSimilarity(
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          a.toSeq, ArrayType(FloatType)),
        org.apache.spark.sql.catalyst.expressions.Literal.create(
          b.toSeq, ArrayType(FloatType)))
      val interp = expr.eval(null).asInstanceOf[Float]
      // codegen reference arithmetic, spelled out
      var dot = 0.0f; var na = 0.0f; var nb = 0.0f
      var i = 0
      while (i < a.length) {
        dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
      }
      val cg =
        if (na == 0.0f || nb == 0.0f) 0.0f
        else (dot / (math.sqrt(na.toDouble) * math.sqrt(nb.toDouble))).toFloat
      assert(
        java.lang.Float.floatToRawIntBits(interp) == java.lang.Float.floatToRawIntBits(cg),
        s"eval $interp != codegen-arithmetic $cg")
    }
  }
}
