package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** Vector primitives for the similarity-search operators (SURVEY.md §7
  * driver-mandated extensions).
  *
  * `vec_dot(a, b)` — dot product in double arithmetic with strict
  * left-to-right summation (index order), so results are bit-identical to
  * DuckDB's `list_dot_product(CAST(a AS DOUBLE[]), CAST(b AS DOUBLE[]))`.
  *
  * This is a full codegen `Expression` (not a Scala UDF, not `zip_with` +
  * `aggregate`): the generated code is a primitive loop over the two
  * `ArrayData`s — no intermediate array, no per-element lambda dispatch,
  * no boxing. Spark's higher-order functions are CodegenFallback, which made
  * the all-pairs cosine join ~20× slower; at 100 TB the pairwise scorer is
  * the hottest loop in the engine, so it must stay inside whole-stage
  * codegen. Norms are precomputed once per vector by the callers (never per
  * pair).
  */
case class VecDot(left: Expression, right: Expression)
    extends BinaryExpression {

  override def dataType: DataType = DoubleType

  private def elemType(e: Expression): Option[DataType] = e.dataType match {
    case ArrayType(t @ (FloatType | DoubleType), _) => Some(t)
    case _ => None
  }

  override def checkInputDataTypes(): TypeCheckResult =
    if (elemType(left).isDefined && elemType(right).isDefined) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"vec_dot expects array<float|double> args, got ${left.dataType}, ${right.dataType}")

  @inline private def get(a: ArrayData, t: DataType, i: Int): Double = t match {
    case FloatType => a.getFloat(i).toDouble
    case _         => a.getDouble(i)
  }

  override def nullSafeEval(l: Any, r: Any): Any = {
    val a = l.asInstanceOf[ArrayData]
    val b = r.asInstanceOf[ArrayData]
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    val n = math.min(a.numElements(), b.numElements())
    var sum = 0.0
    var i = 0
    while (i < n) {
      sum += get(a, ta, i) * get(b, tb, i)
      i += 1
    }
    sum
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode = {
    def getter(t: DataType, v: String, i: String): String = t match {
      case FloatType => s"(double) $v.getFloat($i)"
      case _         => s"$v.getDouble($i)"
    }
    val (ta, tb) = (elemType(left).get, elemType(right).get)
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val n = ctx.freshName("n")
      val i = ctx.freshName("i")
      val sum = ctx.freshName("sum")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $sum = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  $sum += ${getter(ta, a, i)} * ${getter(tb, b, i)};
         |}
         |${ev.value} = $sum;
       """.stripMargin
    })
  }

  override def prettyName: String = "vec_dot"
  override protected def withNewChildrenInternal(newLeft: Expression, newRight: Expression): VecDot =
    copy(left = newLeft, right = newRight)
}

object VecOps {
  import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}

  /** Column-level dot product (usable without SQL registration). */
  def dot(a: Column, b: Column): Column = column(VecDot(expression(a), expression(b)))

  /** L2 norm, one pass. Callers cache this per vector — never per pair. */
  def norm(a: Column): Column = org.apache.spark.sql.functions.sqrt(dot(a, a))
}
