package graft.expressions

import org.apache.spark.sql.catalyst.expressions.{BinaryExpression,
  Expression, ExpressionDescription}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext,
  ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType,
  FloatType}

/** Native codegen'd dot product of two numeric arrays.
  *
  * Exactly the semantics of the higher-order-function form in
  * `Functions.dot` — elements widened to double, strict left-to-right
  * accumulation from 0.0 — so results are bit-identical to the
  * `zip_with`+`aggregate` fold and to DuckDB's `list_reduce`, and the
  * two forms are interchangeable without oracle drift.
  *
  * Why it exists: LSH bucket assignment and IVF cell assignment
  * evaluate 6-8 plane/centroid dots PER VECTOR (`Similarity.lshBucket`
  * / `ivfProbes`); the HOF form runs one interpreted lambda call per
  * element per plane, which puts candidate generation — the part of ANN
  * that scans the whole corpus — outside whole-stage codegen. This
  * compiles to a fused primitive loop. Null contract matches the HOF
  * fold: null on null input, null element, or length mismatch
  * (`zip_with` pads with nulls and null arithmetic propagates). */
@ExpressionDescription(
  usage = "_FUNC_(a, b) - dot product of two numeric arrays " +
    "(float or double elements), computed in double precision.")
case class DotProduct(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  override def nullable: Boolean = true

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) | ArrayType(DoubleType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"dot_product expects array<float>/array<double>, got " +
          s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }

  private def isFloat(e: Expression): Boolean = e.dataType match {
    case ArrayType(FloatType, _) => true
    case _ => false
  }

  private def mayHaveNullElems(e: Expression): Boolean = e.dataType match {
    case ArrayType(_, cn) => cn
    case _ => false
  }

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (y.numElements() != n) return null
    val lf = isFloat(left)
    val rf = isFloat(right)
    val lcn = mayHaveNullElems(left)
    val rcn = mayHaveNullElems(right)
    var dot = 0.0
    var i = 0
    while (i < n) {
      if ((lcn && x.isNullAt(i)) || (rcn && y.isNullAt(i))) return null
      val xi = if (lf) x.getFloat(i).toDouble else x.getDouble(i)
      val yi = if (rf) y.getFloat(i).toDouble else y.getDouble(i)
      dot += xi * yi
      i += 1
    }
    dot
  }

  override protected def doGenCode(ctx: CodegenContext,
      ev: ExprCode): ExprCode = {
    val lGet = if (isFloat(left)) "getFloat" else "getDouble"
    val rGet = if (isFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val dot = ctx.freshName("dot")
      val lNullCheck =
        if (mayHaveNullElems(left)) s"$a.isNullAt($i)" else "false"
      val rNullCheck =
        if (mayHaveNullElems(right)) s"$b.isNullAt($i)" else "false"
      s"""
         |int $n = $a.numElements();
         |if ($b.numElements() != $n) {
         |  ${ev.isNull} = true;
         |} else {
         |  double $dot = 0.0;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($lNullCheck || $rNullCheck) { ${ev.isNull} = true; break; }
         |    $dot += (double) $a.$lGet($i) * (double) $b.$rGet($i);
         |  }
         |  if (!${ev.isNull}) { ${ev.value} = $dot; }
         |}
       """.stripMargin
    })
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): DotProduct =
    copy(left = newLeft, right = newRight)
}
