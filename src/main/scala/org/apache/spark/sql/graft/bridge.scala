package org.apache.spark.sql.graft

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, ExpectsInputTypes, Expression, ImplicitCastInputTypes, UnaryExpression}
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.types.{AbstractDataType, ArrayType, BinaryType, DataType, FloatType}

/** Minimal `private[sql]` bridge. Everything else in the engine lives in the
  * `graft` package; only the pieces that structurally need `sql`-private
  * types are here: the Column<->Expression converters, the DataFrame
  * constructors over a logical plan and over internal rows, the task
  * input-bytes hook (its metrics setters are private[spark]), and the
  * `inputTypes` declaration (Seq[AbstractDataType] is private[sql]).
  */
object Bridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)
  def ofRows(
      spark: org.apache.spark.sql.SparkSession,
      plan: org.apache.spark.sql.catalyst.plans.logical.LogicalPlan): org.apache.spark.sql.DataFrame =
    org.apache.spark.sql.classic.Dataset.ofRows(
      spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession], plan)
  /** Add what `bytesRead` (a count of the task thread's reads) grows by
    * from now to the task's completion into the task's input metrics, so
    * reads that bypass Spark's scans show in its task metrics.
    */
  def countTaskInputBytes(context: org.apache.spark.TaskContext, bytesRead: () => Long): Unit = {
    val metrics = context.taskMetrics().inputMetrics
    val start = bytesRead()
    context.addTaskCompletionListener[Unit](_ => metrics.incBytesRead(bytesRead() - start))
  }
  /** A DataFrame over rows already in Catalyst's form: no encoder to derive
    * or resolve.
    */
  def ofInternalRows(
      spark: org.apache.spark.sql.SparkSession,
      rows: org.apache.spark.rdd.RDD[org.apache.spark.sql.catalyst.InternalRow],
      schema: org.apache.spark.sql.types.StructType): org.apache.spark.sql.DataFrame =
    spark.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
      .internalCreateDataFrame(rows, schema)
}

/** Base for binary expressions over two `array<float>` columns; declares the
  * implicit-cast contract (f64 vectors coerce to f32, matching the reference:
  * `/root/reference/src/ivf/parquet.rs:287-291`).
  */
abstract class FloatVectorBinaryExpression
    extends BinaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] =
    Seq(ArrayType(FloatType), ArrayType(FloatType))
  override def dataType: DataType = FloatType
  override def nullable: Boolean = true
}

/** Base for unary expressions over one `array<float>` column (same implicit
  * f64→f32 coercion as the binary variant).
  */
abstract class FloatVectorUnaryExpression
    extends UnaryExpression with ImplicitCastInputTypes with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(ArrayType(FloatType))
  override def nullable: Boolean = true
}

/** Base for unary expressions over one `binary` column. */
abstract class BytesUnaryExpression
    extends UnaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType)
  override def nullable: Boolean = true
}

/** Base for binary expressions over two `binary` columns. */
abstract class BytesBinaryExpression
    extends BinaryExpression with ExpectsInputTypes {
  override def inputTypes: Seq[AbstractDataType] = Seq(BinaryType, BinaryType)
  override def nullable: Boolean = true
}
