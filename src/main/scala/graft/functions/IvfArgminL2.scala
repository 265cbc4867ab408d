package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo, GenericInternalRow}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StructField, StructType}

/** Codegen'd nearest-centroid assignment over the quantized long grid —
  * `graft_ivf_argmin(vector, centroid_matrix)` returns
  * `struct(list_id BIGINT, adist BIGINT)`: the 0-based index of the
  * centroid minimizing the exact squared L2 distance Σ(v−c)², and that
  * minimum distance. Ties keep the SMALLEST index (strict `<` scan),
  * matching the engine's historical RDD assignment loop bit-for-bit.
  *
  * Why an expression and not a column formula: the composable forms are
  * higher-order functions (`transform`/`aggregate`), which never
  * participate in whole-stage codegen — every row pays nlist interpreted
  * lambda closures — and the argmin additionally needs the distance array
  * twice (`array_min` + `array_position`), which CollapseProject
  * duplicates because HOFs are opaque to subexpression elimination. The
  * r16 RDD-map alternative ran compiled Scala but forced an
  * InternalRow→Row→InternalRow conversion per vector, cut the frame out
  * of codegen, and erased AQE size estimates for every downstream join.
  * This expression is one tight generated loop per row, codegen-CSE'd
  * when both struct fields are projected.
  *
  * NULL on: null inputs, a null element, a centroid whose length differs
  * from the vector's, or an empty centroid matrix (`Ann.ivfAssignWithDist`
  * fails any such row by its vec_id). */
case class IvfArgminL2(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def vec(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    def mat(t: DataType) = t match {
      case ArrayType(ArrayType(LongType, _), _) => true
      case _ => false
    }
    if (vec(left.dataType) && mat(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_ivf_argmin expects (array<bigint>, array<array<bigint>>), " +
          s"got (${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }

  override def dataType: DataType = StructType(Seq(
    StructField("list_id", LongType, nullable = false),
    StructField("adist", LongType, nullable = false)))
  override def nullable: Boolean = true
  override def prettyName: String = "graft_ivf_argmin"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val v = a.asInstanceOf[ArrayData]
    val m = b.asInstanceOf[ArrayData]
    val dim = v.numElements()
    val nlist = m.numElements()
    if (nlist == 0) return null
    var i = 0
    while (i < dim) {
      if (v.isNullAt(i)) return null
      i += 1
    }
    var best = 0L
    var bestD = Long.MaxValue
    var li = 0
    while (li < nlist) {
      if (m.isNullAt(li)) return null
      val c = m.getArray(li)
      if (c.numElements() != dim) return null
      var d = 0L
      var k = 0
      while (k < dim) {
        if (c.isNullAt(k)) return null
        val t = v.getLong(k) - c.getLong(k)
        d += t * t
        k += 1
      }
      if (d < bestD) { bestD = d; best = li.toLong }
      li += 1
    }
    new GenericInternalRow(Array[Any](best, bestD))
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (v, m) => {
      val dim = ctx.freshName("dim")
      val nlist = ctx.freshName("nlist")
      val best = ctx.freshName("best")
      val bestD = ctx.freshName("bestD")
      val li = ctx.freshName("li")
      val k = ctx.freshName("k")
      val d = ctx.freshName("d")
      val t = ctx.freshName("t")
      val c = ctx.freshName("c")
      val bad = ctx.freshName("bad")
      s"""
         |final int $dim = $v.numElements();
         |final int $nlist = $m.numElements();
         |boolean $bad = ($nlist == 0);
         |for (int $k = 0; !$bad && $k < $dim; $k++) {
         |  if ($v.isNullAt($k)) $bad = true;
         |}
         |long $best = 0L;
         |long $bestD = Long.MAX_VALUE;
         |for (int $li = 0; !$bad && $li < $nlist; $li++) {
         |  if ($m.isNullAt($li)) { $bad = true; break; }
         |  org.apache.spark.sql.catalyst.util.ArrayData $c = $m.getArray($li);
         |  if ($c.numElements() != $dim) { $bad = true; break; }
         |  long $d = 0L;
         |  for (int $k = 0; $k < $dim; $k++) {
         |    if ($c.isNullAt($k)) { $bad = true; break; }
         |    final long $t = $v.getLong($k) - $c.getLong($k);
         |    $d += $t * $t;
         |  }
         |  if ($bad) break;
         |  if ($d < $bestD) { $bestD = $d; $best = (long) $li; }
         |}
         |if ($bad) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = new org.apache.spark.sql.catalyst.expressions.GenericInternalRow(
         |    new Object[] { java.lang.Long.valueOf($best), java.lang.Long.valueOf($bestD) });
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): IvfArgminL2 =
    copy(left = newLeft, right = newRight)
}

object IvfArgminL2 {
  /** For `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_ivf_argmin"),
    new ExpressionInfo(classOf[IvfArgminL2].getName, "graft_ivf_argmin"),
    { children =>
      require(children.length == 2,
        s"graft_ivf_argmin takes 2 arguments, got ${children.length}")
      IvfArgminL2(children(0), children(1))
    })
}
