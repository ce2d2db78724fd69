package graft.functions

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._

/** Z-order (Morton) curve value for two-dimensional data layout.
  *
  * Interleaves the low 16 bits of two non-negative ints (x in even bit
  * positions, y in odd) into one 32-bit key. Sorting / range-partitioning
  * 100 TB of parquet by this key gives every output file a TIGHT bounding
  * box in BOTH dimensions, so min/max footer stats prune scans filtered on
  * either column — the classic multi-dimensional clustering trick (Morton
  * 1966; the layout step a large table needs before its files can serve
  * selective two-column queries). The reference has no layout operator —
  * its FileSystem sink writes arrival order — which is exactly why scans
  * there can only prune on partition directories.
  *
  * Native codegen expression: one static call on two ints (five
  * shift-mask rounds each), fused into the surrounding WholeStageCodegen
  * span. The bit math is reproducible in portable SQL
  * (Σ_i ((x>>i)&1)<<2i | ((y>>i)&1)<<(2i+1)), so the DuckDB oracle
  * replays it exactly.
  */
object ZValueUtil {
  /** Spread the low 16 bits of v to the even bit positions of a 32-bit
    * value (standard mask cascade). */
  @inline def spread16(v0: Long): Long = {
    var v = v0 & 0xffffL
    v = (v | (v << 8)) & 0x00ff00ffL
    v = (v | (v << 4)) & 0x0f0f0f0fL
    v = (v | (v << 2)) & 0x33333333L
    v = (v | (v << 1)) & 0x55555555L
    v
  }

  def interleave16(x: Int, y: Int): Long =
    spread16(x.toLong) | (spread16(y.toLong) << 1)
}

case class ZValueExpr(left: Expression, right: Expression) extends BinaryExpression {
  override def dataType: DataType = LongType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == IntegerType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("z_value expects (int, int)")
  override def nullSafeEval(x: Any, y: Any): Any =
    ZValueUtil.interleave16(x.asInstanceOf[Int], y.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, (a, b) => s"graft.functions.ZValueUtil.interleave16($a, $b)")
  override def prettyName: String = "z_value"
  override protected def withNewChildrenInternal(l: Expression, r: Expression): ZValueExpr =
    copy(left = l, right = r)
}

object ZValue {
  import org.apache.spark.sql.graftshim.ColumnShim.{column, expression}

  def zValue(x: Column, y: Column): Column = column(ZValueExpr(expression(x), expression(y)))
}
