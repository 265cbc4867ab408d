package graft.functions

import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, LongType}

/** Codegen'd integer dot product over two `array<long>` columns — the
  * scoring kernel of every ANN tier (`graft_dot` in SQL).
  *
  * Semantically identical to the composable form
  * `aggregate(zip_with(a, b, (x, y) => x * y), 0L, (acc, x) => acc + x)`
  * (bit-equality spec-pinned, including NULL on length mismatch or a NULL
  * element — `zip_with` pads the shorter array with NULLs and the sum
  * absorbs them). The difference is execution: nested higher-order
  * functions stay INTERPRETED — per evaluated pair Catalyst allocates a
  * zipped array and runs two lambda closures per element — while this
  * expression participates in whole-stage codegen as a tight primitive
  * loop over the unsafe array words. In the candidate-scoring joins the
  * dot product runs once per (query, candidate) PAIR, so it is the one
  * expression in the engine whose constant factor multiplies by n·q at
  * 100 TB (the same reasoning that earned `cosinePairsFast` its
  * primitive-long loop, Ann.scala — this brings the column-expression
  * paths to the same cost model without leaving Catalyst).
  *
  * Registered via `SparkSessionExtensions.injectFunction`
  * (`graft.plans.GraftExtensions`), which every graft session carries; a
  * session without it fails `Ann`'s scoring at analysis, naming
  * `graft_dot`. */
case class DotProductLong(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes()
      : org.apache.spark.sql.catalyst.analysis.TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(LongType, _) => true
      case _ => false
    }
    if (ok(left.dataType) && ok(right.dataType))
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckSuccess
    else
      org.apache.spark.sql.catalyst.analysis.TypeCheckResult.TypeCheckFailure(
        s"graft_dot expects (array<bigint>, array<bigint>), got " +
          s"(${left.dataType.simpleString}, ${right.dataType.simpleString})")
  }
  override def dataType: DataType = LongType
  // null on length mismatch / null element, not only on null inputs
  override def nullable: Boolean = true
  override def prettyName: String = "graft_dot"

  override protected def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = x.numElements()
    if (n != y.numElements()) return null
    var s = 0L
    var i = 0
    while (i < n) {
      if (x.isNullAt(i) || y.isNullAt(i)) return null
      s += x.getLong(i) * y.getLong(i)
      i += 1
    }
    s
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val s = ctx.freshName("s")
      s"""
         |final int $n = $a.numElements();
         |if ($n != $b.numElements()) {
         |  ${ev.isNull} = true;
         |} else {
         |  long $s = 0L;
         |  for (int $i = 0; $i < $n; $i++) {
         |    if ($a.isNullAt($i) || $b.isNullAt($i)) { ${ev.isNull} = true; break; }
         |    $s += $a.getLong($i) * $b.getLong($i);
         |  }
         |  ${ev.value} = $s;
         |}
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): DotProductLong =
    copy(left = newLeft, right = newRight)
}

object DotProductLong {
  /** For `SparkSessionExtensions.injectFunction`. */
  val descriptor: (FunctionIdentifier, ExpressionInfo,
      Seq[Expression] => Expression) = (
    FunctionIdentifier("graft_dot"),
    new ExpressionInfo(classOf[DotProductLong].getName, "graft_dot"),
    { children =>
      require(children.length == 2,
        s"graft_dot takes 2 arguments, got ${children.length}")
      DotProductLong(children(0), children(1))
    })
}
