package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** String-classification scalar functions the reference ships that Spark
  * lacks (SURVEY.md §2.8 "Special" row: IS_DECIMAL / IS_DIGIT / IS_ALPHA,
  * HASH_CODE; ref runtime SqlFunctionUtils in
  * flink-table-runtime-blink/.../runtime/functions/).
  *
  * Native codegen expressions: the generated code is a single static call
  * on UTF8String (no regex, no boxing), so the whole Calc stage stays in
  * one WholeStageCodegen span. Semantics are regex-definable so the DuckDB
  * oracle reproduces them:
  *   is_decimal = ^[+-]?(\d+\.?\d*|\.\d+)([eE][+-]?\d+)?$
  *   is_digit   = ^[0-9]+$          is_alpha = ^[A-Za-z]+$
  *   hash_code  = Java String.hashCode (31-polynomial mod 2^32, signed)
  */
object StringClassifyUtil {
  // byte-level ASCII checks: any UTF-8 multibyte char has the high bit set
  // and correctly fails the predicate
  def isDigit(s: UTF8String): Boolean = {
    val n = s.numBytes()
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (b < '0' || b > '9') return false
      i += 1
    }
    true
  }

  def isAlpha(s: UTF8String): Boolean = {
    val n = s.numBytes()
    if (n == 0) return false
    var i = 0
    while (i < n) {
      val b = s.getByte(i)
      if (!((b >= 'a' && b <= 'z') || (b >= 'A' && b <= 'Z'))) return false
      i += 1
    }
    true
  }

  def isDecimal(s: UTF8String): Boolean = {
    val str = s.toString
    var i = 0
    val n = str.length
    if (n == 0) return false
    if (str.charAt(i) == '+' || str.charAt(i) == '-') i += 1
    var intDigits = 0
    while (i < n && Character.isDigit(str.charAt(i))) { intDigits += 1; i += 1 }
    var fracDigits = 0
    if (i < n && str.charAt(i) == '.') {
      if (intDigits == 0) { // ".5" form requires fraction digits
        i += 1
        while (i < n && Character.isDigit(str.charAt(i))) { fracDigits += 1; i += 1 }
        if (fracDigits == 0) return false
      } else {
        i += 1
        while (i < n && Character.isDigit(str.charAt(i))) { fracDigits += 1; i += 1 }
      }
    }
    if (intDigits == 0 && fracDigits == 0) return false
    if (i < n && (str.charAt(i) == 'e' || str.charAt(i) == 'E')) {
      i += 1
      if (i < n && (str.charAt(i) == '+' || str.charAt(i) == '-')) i += 1
      var expDigits = 0
      while (i < n && Character.isDigit(str.charAt(i))) { expDigits += 1; i += 1 }
      if (expDigits == 0) return false
    }
    i == n
  }

  def hashCode32(s: UTF8String): Int = s.toString.hashCode
}

abstract class StringPredicateExpr extends UnaryExpression {
  def method: String
  override def dataType: DataType = BooleanType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(s"$prettyName expects string")
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringClassifyUtil.$method($c)")
}

case class IsDecimalExpr(child: Expression) extends StringPredicateExpr {
  def method = "isDecimal"
  override def nullSafeEval(v: Any): Any = StringClassifyUtil.isDecimal(v.asInstanceOf[UTF8String])
  override def prettyName: String = "is_decimal"
  override protected def withNewChildInternal(c: Expression): IsDecimalExpr = copy(child = c)
}

case class IsDigitExpr(child: Expression) extends StringPredicateExpr {
  def method = "isDigit"
  override def nullSafeEval(v: Any): Any = StringClassifyUtil.isDigit(v.asInstanceOf[UTF8String])
  override def prettyName: String = "is_digit"
  override protected def withNewChildInternal(c: Expression): IsDigitExpr = copy(child = c)
}

case class IsAlphaExpr(child: Expression) extends StringPredicateExpr {
  def method = "isAlpha"
  override def nullSafeEval(v: Any): Any = StringClassifyUtil.isAlpha(v.asInstanceOf[UTF8String])
  override def prettyName: String = "is_alpha"
  override protected def withNewChildInternal(c: Expression): IsAlphaExpr = copy(child = c)
}

case class HashCodeExpr(child: Expression) extends UnaryExpression {
  override def dataType: DataType = IntegerType
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("hash_code expects string")
  override def nullSafeEval(v: Any): Any = StringClassifyUtil.hashCode32(v.asInstanceOf[UTF8String])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev, c => s"graft.functions.StringClassifyUtil.hashCode32($c)")
  override def prettyName: String = "hash_code"
  override protected def withNewChildInternal(c: Expression): HashCodeExpr = copy(child = c)
}
