package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graft.FloatVectorBinaryExpression

/** Base for element-wise float-vector distance/similarity expressions.
  *
  * Semantics follow the reference engine's SQL top-k path
  * (`src/df_vector/exec.rs:494-550`): a null vector, a null element, or a
  * length mismatch between the two vectors yields NULL (the row is
  * "skipped" — under `ORDER BY dist ASC NULLS LAST LIMIT k` this reproduces
  * the reference's skip-don't-error behavior).
  *
  * Inputs are implicitly cast to `array<float>` (the reference coerces f64
  * embeddings to f32: `src/ivf/parquet.rs:287-291`). Both the interpreted
  * and the generated path call the same [[VectorKernels]] method, so the
  * value never depends on whether codegen ran, and equals what the index
  * paths compute. A foldable side (the query literal) is converted once.
  */
abstract class BinaryFloatVectorExpression extends FloatVectorBinaryExpression {
  import BinaryFloatVectorExpression.floats

  /** The metric on two same-length null-free vectors. */
  protected def kernel(a: Array[Float], b: Array[Float]): Float

  /** Name of [[kernel]]'s [[VectorKernels]] method, for the generated code. */
  protected def kernelName: String

  @transient private lazy val leftConst = constant(left)
  @transient private lazy val rightConst = constant(right)

  /** A foldable side's vector (null inside when it is null or holds a null
    * element); None for a side that varies per row.
    */
  private def constant(e: Expression): Option[Array[Float]] =
    if (e.foldable) Some(floats(e.eval().asInstanceOf[ArrayData])) else None

  override def nullSafeEval(leftVal: Any, rightVal: Any): Any = {
    val a = leftConst.getOrElse(floats(leftVal.asInstanceOf[ArrayData]))
    val b = rightConst.getOrElse(floats(rightVal.asInstanceOf[ArrayData]))
    if (a == null || b == null || a.length != b.length) null else kernel(a, b)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def side(const: Option[Array[Float]], value: String): String = const match {
      case Some(vec) => ctx.addReferenceObj("vec", vec, "float[]")
      case None => s"graft.functions.BinaryFloatVectorExpression.floats($value)"
    }
    nullSafeCodeGen(ctx, ev, (l, r) => {
      val a = ctx.freshName("a")
      val b = ctx.freshName("b")
      s"""
         |final float[] $a = ${side(leftConst, l)};
         |final float[] $b = ${side(rightConst, r)};
         |if ($a == null || $b == null || $a.length != $b.length) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = graft.functions.VectorKernels.$kernelName($a, $b);
         |}
       """.stripMargin
    })
  }
}

object BinaryFloatVectorExpression {
  /** The vector's floats, or null when it is null or holds a null element. */
  def floats(v: ArrayData): Array[Float] = {
    if (v == null) return null
    var i = 0
    while (i < v.numElements()) {
      if (v.isNullAt(i)) return null
      i += 1
    }
    v.toFloatArray()
  }
}

/** Euclidean (L2) distance — `array_distance(a, b)`. Matches the semantics
  * of the `array_distance` scalar function the reference's optimizer rule
  * pattern-matches on (`src/df_vector/physical.rs:198-243`);
  * ordering-equivalent to the squared-L2 the reference uses internally.
  */
case class ArrayDistance(left: Expression, right: Expression)
    extends BinaryFloatVectorExpression {
  override def prettyName: String = "array_distance"
  protected def kernel(a: Array[Float], b: Array[Float]): Float = VectorKernels.l2Distance(a, b)
  protected def kernelName: String = "l2Distance"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Squared L2 distance — `array_squared_l2(a, b)`; the reference's internal
  * ranking key (`src/ivf/index.rs:459-480`).
  */
case class ArraySquaredL2(left: Expression, right: Expression)
    extends BinaryFloatVectorExpression {
  override def prettyName: String = "array_squared_l2"
  protected def kernel(a: Array[Float], b: Array[Float]): Float = VectorKernels.squaredL2(a, b)
  protected def kernelName: String = "squaredL2"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Inner product — `array_dot(a, b)`. */
case class ArrayDot(left: Expression, right: Expression)
    extends BinaryFloatVectorExpression {
  override def prettyName: String = "array_dot"
  protected def kernel(a: Array[Float], b: Array[Float]): Float = VectorKernels.dot(a, b)
  protected def kernelName: String = "dot"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}

/** Cosine similarity — `array_cosine_similarity(a, b)`; 0.0 when either side
  * has zero norm.
  */
case class ArrayCosineSimilarity(left: Expression, right: Expression)
    extends BinaryFloatVectorExpression {
  override def prettyName: String = "array_cosine_similarity"
  protected def kernel(a: Array[Float], b: Array[Float]): Float = VectorKernels.cosine(a, b)
  protected def kernelName: String = "cosine"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): Expression =
    copy(left = l, right = r)
}
