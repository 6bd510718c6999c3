package graft.functions.expressions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, LongType}

/** Fused codegen cross-type combine for the propagation round update
  * (A7/G12, `model.py:92-94`): `(vec[i] + msg[i]) / (1 + nTypes)`
  * elementwise — the `zip_with(vec, msg, (a,b) -> (a+b)/(1+n))` that sits
  * once per node per round on the per-type vector propagation path
  * ([[graft.learn.Propagate.meanRounds]] and
  * [[graft.learn.Propagate.attentionRounds]]; the flat width-1 training
  * path combines plain doubles). Spark's higher-order functions evaluate their
  * lambdas interpreted (one `LambdaFunction` eval round-trip per element),
  * which at |V|·dim·rounds elements dominates full-width feature
  * propagation; this compiles to a primitive loop that writes one
  * `UnsafeArrayData` per row inside whole-stage codegen.
  *
  * CONTRACT (dense arrays — same scope as [[DotProduct]]): no null
  * elements; equivalence with the HOF form (asserted in ArrayOpsSpec)
  * holds on that domain. Outside it a null element contributes 0.0 here,
  * where zip_with would produce a null element. A LENGTH MISMATCH THROWS
  * (same rationale as [[Hadamard]]: this sits on the propagation round
  * update, where a width bug must fail loudly, not truncate). Any null
  * top-level input → null.
  */
case class VecCombine(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {

  override def dataType: DataType = ArrayType(DoubleType, containsNull = false)

  override def prettyName: String = "graft_vec_combine"

  override def checkInputDataTypes(): TypeCheckResult =
    (first.dataType, second.dataType, third.dataType) match {
      case (ArrayType(DoubleType, _), ArrayType(DoubleType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case (a, b, c) => TypeCheckResult.TypeCheckFailure(
        s"$prettyName requires (array<double>, array<double>, bigint), got ($a, $b, $c)")
    }

  override def nullSafeEval(a: Any, b: Any, c: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val div = 1.0 + c.asInstanceOf[Long]
    if (x.numElements() != y.numElements())
      throw new IllegalArgumentException(
        s"$prettyName: array length mismatch " +
          s"(${x.numElements()} vs ${y.numElements()})")
    val n = x.numElements()
    val out = new Array[Double](n)
    var i = 0
    while (i < n) {
      val xv = if (x.isNullAt(i)) 0.0 else x.getDouble(i)
      val yv = if (y.isNullAt(i)) 0.0 else y.getDouble(i)
      out(i) = (xv + yv) / div
      i += 1
    }
    org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
      .fromPrimitiveArray(out)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, y, nt) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val out = ctx.freshName("out")
      val div = ctx.freshName("div")
      val xv = ctx.freshName("xv")
      val yv = ctx.freshName("yv")
      s"""
         |if ($x.numElements() != $y.numElements()) {
         |  throw new IllegalArgumentException(
         |    "graft_vec_combine: array length mismatch (" + $x.numElements() +
         |    " vs " + $y.numElements() + ")");
         |}
         |int $n = $x.numElements();
         |double $div = 1.0 + $nt;
         |double[] $out = new double[$n];
         |for (int $i = 0; $i < $n; $i++) {
         |  double $xv = $x.isNullAt($i) ? 0.0 : $x.getDouble($i);
         |  double $yv = $y.isNullAt($i) ? 0.0 : $y.getDouble($i);
         |  $out[$i] = ($xv + $yv) / $div;
         |}
         |${ev.value} = org.apache.spark.sql.catalyst.expressions.UnsafeArrayData
         |  .fromPrimitiveArray($out);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression, newThird: Expression): VecCombine =
    copy(first = newFirst, second = newSecond, third = newThird)
}
