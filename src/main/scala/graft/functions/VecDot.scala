package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native Catalyst expression: dot product of two `array<float>` columns
  * with double accumulation, with full whole-stage codegen support.
  *
  * Replaces the `aggregate(zip_with(...))` higher-order-function
  * formulation: HOFs run interpreted (CodegenFallback) and allocate an
  * intermediate array per row, which dominates all-pairs similarity
  * scoring. This expression is a tight primitive loop — the (b)-tier
  * custom-operator path (custom Expression before custom physical
  * operator).
  *
  * Semantics match `Σ cast(aᵢ AS double) * cast(bᵢ AS double)` over the
  * common prefix of the two arrays, which is what the DuckDB oracle
  * (`list_cosine_similarity` over DOUBLE[]) computes. Null elements are
  * treated as 0.
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(FloatType, _), ArrayType(FloatType, _)) =>
        TypeCheckResult.TypeCheckSuccess
      case _ => TypeCheckResult.TypeCheckFailure(
        s"graft_vec_dot requires two array<float> arguments, got " +
          s"${left.dataType.sql} and ${right.dataType.sql}")
    }

  override def dataType: DataType = DoubleType

  override def nullSafeEval(a: Any, b: Any): Any =
    java.lang.Double.valueOf(
      VecDot.dot(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData]))

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val acc = ctx.freshName("acc")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $acc = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  if (!$a.isNullAt($i) && !$b.isNullAt($i)) {
         |    $acc += (double) $a.getFloat($i) * (double) $b.getFloat($i);
         |  }
         |}
         |${ev.value} = $acc;
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression = copy(newLeft, newRight)
}

object VecDot {

  /** The interpreted kernel: Σ (double) xᵢ·(double) yᵢ over the common
    * prefix, a null element on either side counting as 0. Driver-side
    * scoring ([[graft.operators.Similarity.ingestDedupVectors]]) calls
    * it on collected embeddings, so its scores equal the codegen'd
    * path's bit for bit. */
  def dot(x: ArrayData, y: ArrayData): Double = {
    val n = math.min(x.numElements(), y.numElements())
    var acc = 0.0
    var i = 0
    while (i < n) {
      if (!x.isNullAt(i) && !y.isNullAt(i))
        acc += x.getFloat(i).toDouble * y.getFloat(i).toDouble
      i += 1
    }
    acc
  }
}
