package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, TernaryExpression, QuaternaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Reference scalar functions with no direct Spark built-in (SURVEY.md §2.8
  * tail): SPLIT_INDEX and TEMPORAL_OVERLAPS.
  *
  * Both are native codegen expressions — a static helper call / inline
  * comparisons — so projections using them stay inside one
  * WholeStageCodegen span (same pattern as the StringClassify.scala expressions).
  *
  * Semantics pinned to the reference:
  *  - SPLIT_INDEX(str, sep, idx): 0-based index, whole-separator split
  *    PRESERVING empty tokens, NULL (not error) when idx < 0 or beyond the
  *    last token (ref flink-table-runtime-blink/.../functions/
  *    SqlFunctionUtils.java:316 splitIndex).
  *  - TEMPORAL_OVERLAPS(s1, e1, s2, e2): each period is normalized so
  *    start <= end, then overlap = (e0 >= s1) AND (e1 >= s0) — endpoints
  *    INCLUSIVE (ref flink-table-planner-blink/.../converter/
  *    CustomizedConvertRule.java:169 convertTemporalOverlaps, the standard
  *    Calcite OVERLAPS expansion).
  */
object FlinkScalarsUtil {
  /** Whole-separator split preserving empty tokens; null-on-out-of-range
    * handled by the caller via index check against the token count. */
  def splitIndex(str: UTF8String, sep: UTF8String, idx: Int): UTF8String = {
    if (idx < 0) return null
    val s = str.toString
    val d = sep.toString
    if (d.isEmpty) return if (idx == 0) str else null
    // count tokens while walking; return the idx-th without materializing all
    var tokStart = 0
    var tok = 0
    var at = s.indexOf(d, tokStart)
    while (at >= 0) {
      if (tok == idx) return UTF8String.fromString(s.substring(tokStart, at))
      tok += 1
      tokStart = at + d.length
      at = s.indexOf(d, tokStart)
    }
    if (tok == idx) UTF8String.fromString(s.substring(tokStart)) else null
  }

  /** Truncate toward zero at n decimal places (TRUNCATE semantics). */
  def truncateNum(x: Double, n: Int): Double = {
    val f = math.pow(10, n)
    if (x >= 0) math.floor(x * f) / f else math.ceil(x * f) / f
  }

  /** SQL `SIMILAR TO` pattern → anchored Java regex (ref flink-table-runtime
    * SqlLikeUtils.similar / SqlSimilarToOperator — the SQL:2016 production):
    * `%` → `.*`, `_` → `.`; the SIMILAR TO metacharacters `| * + ? ( ) { }`
    * and bracket expressions `[...]` pass through (they mean the same in
    * Java regex); regex-only specials `. \ ^ $` are escaped so they match
    * literally; inside a bracket expression everything is verbatim (`%`/`_`
    * are literal there, as in regex classes). An optional ESCAPE char makes
    * its successor literal. The result is wrapped `^(?:…)$` — SIMILAR TO
    * matches the WHOLE string, unlike a bare regex search. */
  def similarToRegex(pat: String, escape: Option[Char]): String = {
    val sb = new StringBuilder("^(?:")
    var i = 0
    var inClass = false
    while (i < pat.length) {
      val c = pat.charAt(i)
      if (!inClass && escape.contains(c) && i + 1 < pat.length) {
        sb.append(java.util.regex.Pattern.quote(pat.charAt(i + 1).toString))
        i += 1
      } else if (inClass) {
        sb.append(c)
        if (c == ']' && pat.charAt(i - 1) != '[' &&
            !(i >= 2 && pat.charAt(i - 1) == '^' && pat.charAt(i - 2) == '['))
          inClass = false
      } else c match {
        case '%' => sb.append(".*")
        case '_' => sb.append('.')
        case '[' => inClass = true; sb.append('[')
        case '.' | '\\' | '^' | '$' => sb.append('\\').append(c)
        case other => sb.append(other)
      }
      i += 1
    }
    sb.append(")$").toString
  }
}

case class SplitIndexExpr(first: Expression, second: Expression, third: Expression)
    extends TernaryExpression {
  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (first.dataType == StringType && second.dataType == StringType &&
        third.dataType == IntegerType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("split_index expects (string, string, int)")
  override def nullSafeEval(str: Any, sep: Any, idx: Any): Any =
    FlinkScalarsUtil.splitIndex(str.asInstanceOf[UTF8String],
      sep.asInstanceOf[UTF8String], idx.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (s, d, i) => {
      s"""
         |${ev.value} = graft.functions.FlinkScalarsUtil.splitIndex($s, $d, $i);
         |${ev.isNull} = (${ev.value} == null);
       """.stripMargin
    })
  override def prettyName: String = "split_index"
  override protected def withNewChildrenInternal(
      f: Expression, s: Expression, t: Expression): SplitIndexExpr =
    copy(first = f, second = s, third = t)
}

/** TRUNCATE(x, n) — truncate TOWARD ZERO to n decimal places (ref
  * SqlFunctionUtils.truncate / FlinkSqlOperatorTable TRUNCATE; contrast
  * ROUND's HALF_UP). n may be negative (truncates left of the point).
  * Pure double arithmetic (multiply, floor/ceil, divide) so any engine
  * computing the same IEEE ops bit-agrees — the DuckDB oracle emulates
  * with trunc(x*10^n)/10^n. */
case class TruncateNumExpr(left: Expression, right: Expression)
    extends org.apache.spark.sql.catalyst.expressions.BinaryExpression {
  override def dataType: DataType = DoubleType
  override def checkInputDataTypes(): TypeCheckResult =
    if (left.dataType == DoubleType && right.dataType == IntegerType)
      TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure("truncate_num expects (double, int)")
  override def nullSafeEval(x: Any, n: Any): Any =
    FlinkScalarsUtil.truncateNum(x.asInstanceOf[Double], n.asInstanceOf[Int])
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (x, n) =>
      s"${ev.value} = graft.functions.FlinkScalarsUtil.truncateNum($x, $n);")
  override def prettyName: String = "truncate_num"
  override protected def withNewChildrenInternal(
      l: Expression, r: Expression): TruncateNumExpr = copy(left = l, right = r)
}

case class TemporalOverlapsExpr(
    first: Expression, second: Expression,
    third: Expression, fourth: Expression) extends QuaternaryExpression {
  override def dataType: DataType = BooleanType
  // TIMESTAMP and TIMESTAMP_NTZ are both epoch-micros longs internally; the
  // comparison is zone-free, so either works — but mixing the two in one
  // call would compare micros with different zone anchors, so all four must
  // agree (the testdata's events/orders drift between the two encodings).
  override def checkInputDataTypes(): TypeCheckResult =
    if (children.forall(c => c.dataType == TimestampType || c.dataType == TimestampNTZType)
        && children.map(_.dataType).distinct.size == 1) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      "temporal_overlaps expects 4 timestamps of the same type")
  override def nullSafeEval(a: Any, b: Any, c: Any, d: Any): Any = {
    val (t1, u1, t2, u2) =
      (a.asInstanceOf[Long], b.asInstanceOf[Long], c.asInstanceOf[Long], d.asInstanceOf[Long])
    val s0 = math.min(t1, u1); val e0 = math.max(t1, u1)
    val s1 = math.min(t2, u2); val e1 = math.max(t2, u2)
    e0 >= s1 && e1 >= s0
  }
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b, c, d) =>
      s"""
         |${ev.value} = Math.max($a, $b) >= Math.min($c, $d)
         |  && Math.max($c, $d) >= Math.min($a, $b);
       """.stripMargin)
  override def prettyName: String = "temporal_overlaps"
  override protected def withNewChildrenInternal(
      newFirst: Expression, newSecond: Expression,
      newThird: Expression, newFourth: Expression): TemporalOverlapsExpr =
    copy(first = newFirst, second = newSecond, third = newThird, fourth = newFourth)
}

object FlinkScalars {
  /** `similar_to(str, pattern[, escape])`. SIMILAR TO lowers onto the
    * codegen'd RLike with the pattern translated at plan time (the pattern
    * must be a literal, as in the reference's parser production) — zero
    * runtime translation cost, full WSCG fusion. */
  def similarTo(es: Seq[Expression]): Expression = {
    def lit(e: Expression, role: String): String = {
      require(e.foldable, s"similar_to $role must be a literal")
      val v = e.eval(null)
      require(v != null, s"similar_to $role must be non-null")
      v.toString
    }
    val esc = if (es.length > 2) Some({
      val s = lit(es(2), "escape"); require(s.length == 1,
        s"similar_to escape must be a single character, got '$s'"); s.charAt(0)
    }) else None
    org.apache.spark.sql.catalyst.expressions.RLike(es(0),
      org.apache.spark.sql.catalyst.expressions.Literal(
        UTF8String.fromString(
          FlinkScalarsUtil.similarToRegex(lit(es(1), "pattern"), esc)),
        StringType))
  }
}
