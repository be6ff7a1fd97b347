package graft.functions

import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData

/** Native squared euclidean distance over two embedding arrays
  * (array<float> or array<double>), accumulated in double — the L2
  * kernel behind [[graft.operators.Similarity.euclideanTopK]].
  *
  * Same rationale as [[CosineSimilarity]]: a real Catalyst
  * `BinaryExpression` with `doGenCode` keeps the n² scoring loop of a
  * kNN build inside whole-stage codegen; the `zip_with`/`aggregate`
  * formulation is interpreted and allocates an intermediate array per
  * pair. Accumulation is the same sequential fold, so results are
  * bit-identical to the HOF version. Length-mismatch and
  * null-element hardening: [[BinaryVectorFold]].
  */
case class EuclideanDist2(left: Expression, right: Expression)
    extends BinaryVectorFold {

  override def dataType: org.apache.spark.sql.types.DataType =
    org.apache.spark.sql.types.DoubleType
  override def prettyName: String = "euclidean_dist2"

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    requireSameLength(a, b)
    val n = a.numElements()
    val aF = elemIsFloat(left); val bF = elemIsFloat(right)
    var s = 0.0
    var i = 0
    while (i < n) {
      if (a.isNullAt(i) || b.isNullAt(i)) return null
      val x = if (aF) a.getFloat(i).toDouble else a.getDouble(i)
      val y = if (bF) b.getFloat(i).toDouble else b.getDouble(i)
      val d = x - y
      s += d * d
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    val aGet = if (elemIsFloat(left)) "getFloat" else "getDouble"
    val bGet = if (elemIsFloat(right)) "getFloat" else "getDouble"
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val s = ctx.freshName("s")
      val d = ctx.freshName("d")
      val nullCheck =
        if (anyElemNullable)
          s"""if ($a.isNullAt($i) || $b.isNullAt($i)) {
                ${ev.isNull} = true; break;
              }"""
        else ""
      s"""
        ${lengthGuardCode(a, b)}
        int $n = $a.numElements();
        double $s = 0.0;
        for (int $i = 0; $i < $n; $i++) {
          $nullCheck
          double $d = (double) $a.$aGet($i) - (double) $b.$bGet($i);
          $s += $d * $d;
        }
        if (!${ev.isNull}) {
          ${ev.value} = $s;
        }
      """
    })
  }

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): EuclideanDist2 =
    copy(left = newLeft, right = newRight)
}
