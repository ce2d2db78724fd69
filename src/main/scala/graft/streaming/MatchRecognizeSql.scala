package graft.streaming

import org.apache.spark.sql.{AnalysisException, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.QueryPlanningTracker
import org.apache.spark.sql.catalyst.analysis.{SimpleAnalyzer, UnresolvedAttribute,
  UnresolvedFunction, UnresolvedStar}
import org.apache.spark.sql.catalyst.expressions.{Alias, And, AttributeReference,
  AttributeSeq, BaseGenericInternalRow, BindReferences, CommonExpressionRef, Expression,
  Literal, Or, With}
import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, First, Last}
import org.apache.spark.sql.catalyst.optimizer.{ConstantFolding, ReplaceExpressions}
import org.apache.spark.sql.catalyst.parser.CatalystSqlParser
import org.apache.spark.sql.catalyst.plans.logical.{Filter, LocalRelation}
import org.apache.spark.sql.catalyst.util.DateTimeUtils
import org.apache.spark.sql.functions.{col, timestamp_micros}
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.types.{DataType, DoubleType, IntegerType, LongType, StringType,
  TimestampType}
import org.apache.spark.unsafe.types.UTF8String

/** SQL text surface for MATCH_RECOGNIZE, routed onto Cep.matchRecognize —
  * the reference exposes CEP through SQL (StreamExecMatch translating the
  * MATCH_RECOGNIZE relational node onto the CEP operator,
  * flink-table-planner-blink/.../stream/StreamExecMatch.scala:68; grammar
  * docs/dev/table/sql/queries.md:366). Spark's parser has no
  * MATCH_RECOGNIZE production, so this module splits the statement into
  * its clauses itself and hands every expression in them to Spark's
  * expression parser.
  *
  * Statement (documented contract, spec-pinned):
  *   SELECT <items> FROM events
  *   MATCH_RECOGNIZE (
  *     PARTITION BY user_id
  *     ORDER BY ts
  *     MEASURES [FINAL|RUNNING] <measure> AS alias, ...
  *     [ONE ROW PER MATCH | ALL ROWS PER MATCH]
  *     AFTER MATCH SKIP { TO NEXT ROW | PAST LAST ROW
  *                      | TO FIRST <var> | TO LAST <var> }
  *     PATTERN (<pattern>) [WITHIN INTERVAL 'n' {DAY|HOUR|MINUTE|SECOND}]
  *     [SUBSET U = (V1, V2[, ...]), ...]
  *     DEFINE V AS <condition> [, ...]
  *   )
  *
  * <pattern> is a sequence of variables, each with an optional SQL:2016
  * quantifier + * ? {n} {n,} {n,m} {,m} and a trailing ? for reluctant;
  * or PERMUTE(V1, V2[, ...]) between unquantified fixed variables; or a
  * leading grouped repetition (V1 V2)* / (V1 V2)+ before unquantified tail
  * variables, where a variable may recur, e.g. (A B)* A (repetitions
  * uncapped). Variables inside {- X -} are matched but left out of ALL
  * ROWS output. Anchors ^ and $ pin the match to the partition's first and
  * last row and, like NEXT, need a bounded input ([[runBatch]]).
  *
  * DEFINE <condition> is any Spark SQL boolean expression (parsed by
  * Spark's expression parser, then resolved, coerced and bound by Spark's
  * analyzer) over the current row's columns event_id, ts, user_id,
  * event_type and value, plus these calls, each read by the matcher into
  * one typed column:
  *   V.f               the current row when V is the defined variable (or
  *                     a SUBSET holding it), else LAST(V.f)
  *   LAST(V.f [, n])   n-th row counting back from the last row mapped to
  *                     V so far; the candidate counts as V's latest when V
  *                     holds the defined variable
  *   FIRST(V.f [, n])  n-th row counting from V's first row
  *   PREV([V.]f [, n]) the row n (default 1) before the candidate in input
  *                     order, whatever variable it mapped to
  *   NEXT([V.]f [, n]) the row n after it (bounded input only)
  *   SUM|MIN|MAX|AVG([DISTINCT] V.value), COUNT([DISTINCT] V.* | V.f)
  *                     running aggregate over V's rows so far
  * A SUBSET name reads its members' rows merged in partition order. Off
  * the rows there are, a call is NULL (COUNT is 0), and the condition
  * follows SQL's three-valued logic: a row matches when it is TRUE, so
  * `NOT (LAST(A.value, 5) > 3)` is NULL, not TRUE, while A has fewer than
  * six rows. Division by zero and a failed CAST are NULL too, never a
  * failed query (Spark's non-ANSI rules; DuckDB's x / 0 is NULL as
  * well). A variable without a DEFINE matches any row. Loud rejects:
  * an aggregate under OR, or beside another call in its AND conjunct; a
  * conjunct mixing PREV/NEXT with a call over the matched rows; a
  * PREV/NEXT qualifier other than the defined variable; NEXT and anchors
  * on the streaming path.
  *
  * MEASURES: FIRST|LAST(V.f [, n]), V.f (= LAST(V.f)), COUNT(...),
  * SUM|MIN|MAX|AVG([DISTINCT] V.value), MATCH_NUMBER() and MATCH_ROWTIME()
  * (ONE ROW PER MATCH only), with f ∈ event_id, value; doubles are rounded
  * to 6 decimals. In ALL ROWS mode each row sees RUNNING values, and
  * FINAL ones when declared so. SELECT takes the partition column and
  * measure aliases, plus event_id, value, CLASSIFIER() and MATCH_NUMBER()
  * in ALL ROWS mode. SKIP TO FIRST/LAST of a variable that matched no
  * rows, or that would resume on the match's own start row, raises (the
  * reference's infinite-loop guard). */
// Serializable: compiled DEFINE predicates are closures that call the
// object's helper methods from executor tasks; a Scala object serializes
// as a marker and readResolves back to the singleton.
object MatchRecognizeSql extends MatchRecognizeQueries with Serializable {
  import StreamSource.Event

  sealed trait Measure { def variable: String; def alias: String }
  /** `offset` is the SQL:2016 logical-offset form `FIRST(V.f, n)` — the
    * n-th element counting from the variable's first matched row (ref
    * docs/dev/table/streaming/match_recognize.md:718-750); out of range →
    * NULL. */
  case class FirstM(variable: String, alias: String,
                    field: String = "event_id", offset: Int = 0) extends Measure
  /** `offset`: `LAST(V.f, n)` — n-th counting back from the LAST matched
    * row (n = 0 is the last row itself); out of range → NULL. */
  case class LastM(variable: String, alias: String,
                   field: String = "event_id", offset: Int = 0) extends Measure
  /** `distinct`: `COUNT(DISTINCT V.value)` — counts the variable's
    * DISTINCT matched values (r14; "distinct aggregations" close the
    * reference's unsupported list, match_recognize.md:1126-1127). */
  case class CountM(variable: String, alias: String,
                    distinct: Boolean = false) extends Measure
  /** SUM/MIN/MAX/AVG over a variable's `value` rows; emitted rounded to 6
    * decimals (the repo-wide cross-engine convention). `distinct`
    * aggregates over the variable's DISTINCT values (r14). */
  case class ValAggM(fn: String, variable: String, alias: String,
                     distinct: Boolean = false) extends Measure
  /** MATCH_NUMBER(): 1-based sequential number of the match within its
    * partition, in match-start order (ref docs/dev/table/sql/queries.md:366;
    * the matcher persists the counter in keyed state). */
  case class MatchNumM(alias: String) extends Measure { val variable = "" }
  /** MATCH_ROWTIME(): the event time of the match's LAST row, emitted as
    * a timestamp — usable for downstream windowing over match output
    * (r13, EXCEEDS the reference: its docs name the time-attribute output
    * as wanted but unsupported, match_recognize.md:1123). ONE ROW PER
    * MATCH only. */
  case class MatchRowtimeM(alias: String) extends Measure { val variable = "" }

  /** `groupRep` carries a leading grouped repetition `(A B)* C...`:
    * (group body vars, tail vars, min repetitions). Matched by the
    * uncapped NFA-style loop in [[Cep.matchRecognizeGroup]] — the
    * repetition count is decided by the data, greedy longest-first. */
  case class Spec(selectCols: Seq[String], table: String, partitionCol: String,
                  orderCol: String, measures: Seq[Measure],
                  skipPastLastRow: Boolean,
                  pattern: Seq[(String, Cep.QStep)],
                  allRows: Boolean = false,
                  withinMicros: Option[Long] = None,
                  skipTo: Option[(String, String)] = None, // (FIRST|LAST, var)
                  permute: Boolean = false,
                  groupRep: Option[(Seq[String], Seq[String], Int)] = None,
                  subsets: Map[String, Seq[String]] = Map.empty,
                  // PERMUTE split (r12): fixed prefix vars, the permuted
                  // vars, fixed suffix vars — `PATTERN (S PERMUTE(A, B))`
                  // keeps S at position 0 of every alternative
                  permPre: Seq[String] = Seq.empty,
                  permVars: Seq[String] = Seq.empty,
                  permPost: Seq[String] = Seq.empty,
                  // aliases declared FINAL in MEASURES (ALL ROWS mode
                  // shows the match-final value on every row for these)
                  finalAliases: Set[String] = Set.empty,
                  // variables inside exclusion markers {- X -}: matched
                  // normally, suppressed from ALL ROWS output (r14)
                  excluded: Set[String] = Set.empty,
                  // anchors ^/$ (r15 — BATCH mode only): pin the match to
                  // the partition's first / last row
                  anchorStart: Boolean = false,
                  anchorEnd: Boolean = false)

  // ------------------------------------------------------ clause splitting

  private val mrRe =
    "(?is)^\\s*SELECT\\s+(.*?)\\s+FROM\\s+(\\w+)\\s+MATCH_RECOGNIZE\\s*\\((.*)\\)\\s*$".r
  private val partRe = "(?is)PARTITION\\s+BY\\s+(\\w+)".r
  private val orderRe = "(?is)ORDER\\s+BY\\s+(\\w+)".r
  private val measuresRe =
    "(?is)MEASURES\\s+(.*?)\\s+(?:ONE\\s+ROW\\s+PER\\s+MATCH|ALL\\s+ROWS\\s+PER\\s+MATCH|AFTER\\s+MATCH|PATTERN)".r
  private val allRowsRe = "(?is)ALL\\s+ROWS\\s+PER\\s+MATCH".r
  private val skipRe =
    "(?is)AFTER\\s+MATCH\\s+SKIP\\s+(TO\\s+NEXT\\s+ROW|PAST\\s+LAST\\s+ROW|TO\\s+(FIRST|LAST)\\s+(\\w+))".r
  private val patternRe =
    "(?is)PATTERN\\s*\\(((?:[^()]|\\([^)]*\\))*)\\)".r
  private val withinRe =
    "(?is)PATTERN\\s*\\((?:[^()]|\\([^)]*\\))*\\)\\s*WITHIN\\s+INTERVAL\\s+'(\\d+)'\\s+(DAY|HOUR|MINUTE|SECOND)S?".r
  private val defineRe = "(?is)DEFINE\\s+(.*)$".r
  // quantifiers (ref match_recognize.md:352-359): + * ? {n} {n,} {n,m}
  // {,m}, each with an optional reluctant '?' suffix. The reference
  // rejects the reluctant optional (`A??`, match_recognize.md:1113) and
  // any greedy quantifier on the LAST pattern variable (:424); this
  // engine's replay matcher needs neither restriction, so both run here
  // (superset, spec-pinned).
  private val tokenRe =
    "([A-Za-z]\\w*)(\\+\\?|\\*\\?|\\+|\\*|\\?\\?|\\?|\\{\\s*(\\d*)\\s*(,?)\\s*(\\d*)\\s*\\}(\\?)?)?".r

  def parse(sqlText: String): Spec = parse(sqlText, boundedInput = false)

  /** `boundedInput = true` admits the batch-only features — NEXT physical
    * offsets in DEFINE and the anchors `^`/`$` (r16 rename from
    * `allowNext`, whose name no longer described its scope once anchors
    * joined the gate) — callers must run the spec on a BOUNDED input
    * (runBatch); the streaming entry parses with the default and keeps
    * the loud reject on both features. */
  def parse(sqlText: String, boundedInput: Boolean): Spec = {
    val (selectList, table, body) = sqlText match {
      case mrRe(sel, tbl, b) => (sel, tbl, b)
      case _ => throw new IllegalArgumentException(
        "not a SELECT ... FROM <t> MATCH_RECOGNIZE (...) statement")
    }
    val partitionCol = partRe.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("missing PARTITION BY"))
    val orderCol = orderRe.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("missing ORDER BY"))
    require(partitionCol.equalsIgnoreCase("user_id"),
      s"unsupported PARTITION BY column: $partitionCol (events are keyed by user_id)")
    require(orderCol.equalsIgnoreCase("ts"),
      s"unsupported ORDER BY column: $orderCol (event time is ts)")

    // FINAL/RUNNING prefixes (SQL:2016 / ref MATCH_RECOGNIZE): in ALL ROWS
    // mode a FINAL measure shows the match's final value on every row,
    // RUNNING (the default there) the value as of the current row; in ONE
    // ROW mode both coincide with the final row's value, so the flag only
    // matters for ALL ROWS (tracked by alias in finalAliases).
    val items = measuresRe.findFirstMatchIn(body).map(_.group(1)).toSeq
      .flatMap(splitCommas) // paren-aware: LAST(V.f, n) carries a comma
      .map { item =>
        item.split("\\s+", 2) match {
          case Array(w, rest) if w.equalsIgnoreCase("FINAL") => (true, rest)
          case Array(w, rest) if w.equalsIgnoreCase("RUNNING") => (false, rest)
          case _ => (false, item)
        }
      }
    val measures = items.map { case (_, text) =>
      parseExpr(text) match {
        case Alias(e, alias) => measureOf(e, alias)
        case _ => throw new IllegalArgumentException(s"unsupported measure: $text")
      }
    }
    val finalAliases = items.zip(measures).collect {
      case ((true, _), m) => m.alias.toLowerCase }.toSet

    // SUBSET U = (A, B): union variables usable in MEASURES and (r13)
    // in DEFINE — the union's rows are the members' occurrences, merged
    // into partition order. SUBSET is in the reference's OWN unsupported
    // list (match_recognize.md:1119).
    val subsetRe = "(?is)SUBSET\\s+(\\w+)\\s*=\\s*\\(([^)]*)\\)".r
    val subsets: Map[String, Seq[String]] =
      subsetRe.findAllMatchIn(body).map { m =>
        m.group(1).toUpperCase ->
          m.group(2).split(",").map(_.trim.toUpperCase).filter(_.nonEmpty).toSeq
      }.toMap

    val (skipPast, skipTo) = skipRe.findFirstMatchIn(body) match {
      case Some(m) if m.group(2) != null =>
        (false, Some((m.group(2).toUpperCase, m.group(3).toUpperCase)))
      case Some(m) => (m.group(1).toUpperCase.startsWith("PAST"), None)
      case None    => (true, None) // SQL default: SKIP PAST LAST ROW
    }

    val defines: Map[String, CompiledDefine] =
      defineRe.findFirstMatchIn(body).map(_.group(1)).toSeq
        .flatMap(splitCommas)
        .map { d =>
          val kv = d.split("(?is)\\s+AS\\s+", 2)
          require(kv.length == 2, s"bad DEFINE entry: $d")
          val varName = kv(0).trim.toUpperCase
          varName -> compileDefine(varName, kv(1).trim, subsets, boundedInput)
        }.toMap

    val patternBodyRaw = patternRe.findFirstMatchIn(body).map(_.group(1))
      .getOrElse(throw new IllegalArgumentException("missing PATTERN"))
      .trim
    // Exclusion `{- X -}` (r14 — on the reference's unsupported list,
    // match_recognize.md:1111-1112): the excluded variables are matched
    // normally (they gate the match and feed measures) but their rows are
    // suppressed from ALL ROWS PER MATCH output. Markers are stripped
    // here; the variables inside are recorded on the Spec.
    val exclRe = "(?s)\\{-(.*?)-\\}".r
    val excluded: Set[String] = exclRe.findAllMatchIn(patternBodyRaw)
      .flatMap(m => "[A-Za-z]\\w*".r.findAllIn(m.group(1)))
      .map(_.toUpperCase).toSet
    val patternBody0 = exclRe.replaceAllIn(patternBodyRaw,
        m => java.util.regex.Matcher.quoteReplacement(" " + m.group(1).trim + " "))
      .replaceAll("\\s+", " ").trim
    // Anchors ^ / $ (r15 — the LAST open row of the reference's
    // unsupported list, match_recognize.md:1109-1110: anchors "denote
    // beginning/end of a partition, those do not make sense in the
    // streaming context and will not be supported". The argument is void
    // on a BOUNDED partition — like NEXT, they run in batch mode): ^ pins
    // the match start to the partition's first row, $ pins its end to the
    // partition's last row. Stripped here, gated below on the same
    // bounded-features flag as NEXT; mid-pattern anchors are not a thing.
    val anchorStart = patternBody0.startsWith("^")
    val anchorEnd = patternBody0.endsWith("$")
    val patternBody = patternBody0.stripPrefix("^").stripSuffix("$").trim
    require(!patternBody.contains("^") && !patternBody.contains("$"),
      "anchors are supported only at the pattern's ends")
    require(boundedInput || (!anchorStart && !anchorEnd),
      "anchors ^/$ are out of subset on the streaming path (a stream has " +
        "no first or last row to pin to — the reference's own argument); " +
        "run the statement in BATCH mode (runBatch)")
    // PERMUTE(A, B[, C]): the listed variables match in any order (ref
    // SQL PERMUTE; alternatives expand lexicographically). Subset: ONE
    // PERMUTE of unquantified variables, optionally surrounded by fixed
    // unquantified prefix/suffix variables (r12 — `S PERMUTE(A, B)`).
    val permuteRe = "(?is)^(.*?)\\bPERMUTE\\s*\\(([^)]*)\\)\\s*(.*)$".r
    // Leading grouped repetition `(A B)* C...` / `(A B)+ C...` — the
    // multi-occurrence pattern-variable form (a variable may appear in
    // both the group body and the tail, e.g. (A B)* A). Matched by the
    // uncapped loop in Cep.matchRecognizeGroup (run() wires it).
    val groupRe = "(?is)^\\(([^)]+)\\)\\s*(\\*|\\+)\\s*(.*)$".r
    // gate on the same shape the extractor matches — a variable merely
    // CONTAINING the substring PERMUTE (e.g. PERMUTED) is not a PERMUTE
    val hasPermute = "(?is)PERMUTE\\s*\\(".r.findFirstIn(patternBody).isDefined
    val groupRep: Option[(Seq[String], Seq[String], Int)] =
      if (hasPermute) None
      else groupRe.findFirstMatchIn(patternBody).map { m =>
        val body = m.group(1).trim.split("\\s+").toSeq
        val tail = m.group(3).trim.split("\\s+").toSeq.filter(_.nonEmpty)
        val minRep = if (m.group(2) == "+") 1 else 0
        require(body.forall(_.matches("[A-Za-z]\\w*")) &&
                tail.forall(_.matches("[A-Za-z]\\w*")),
          "group body/tail variables take no quantifiers in this subset")
        require(tail.nonEmpty || minRep >= 1,
          "(...)* with no tail could match empty — use (...)+ or add a tail variable")
        (body.map(_.toUpperCase), tail.map(_.toUpperCase), minRep)
      }
    val permParts: Option[(Seq[String], Seq[String], Seq[String])] =
      if (!hasPermute) None
      else permuteRe.findFirstMatchIn(patternBody).map { m =>
        val pre = m.group(1).trim.split("\\s+").toSeq.filter(_.nonEmpty)
        val vars = m.group(2).split(",").map(_.trim).filter(_.nonEmpty).toSeq
        val post = m.group(3).trim.split("\\s+").toSeq.filter(_.nonEmpty)
        require(pre.forall(_.matches("[A-Za-z]\\w*")) &&
          post.forall(_.matches("[A-Za-z]\\w*")),
          "PERMUTE prefix/suffix variables take no quantifiers in this subset")
        (pre.map(_.toUpperCase), vars.map(_.toUpperCase), post.map(_.toUpperCase))
      }
    val (isPermute, patternTokens) = permParts match {
      case Some((pre, vars, post)) => (true, pre ++ vars ++ post)
      case None => groupRep match {
        // pattern list = each DISTINCT variable once, appearance order;
        // the repetition structure lives in groupRep
        case Some((body, tail, _)) => (false, (body ++ tail).distinct)
        case None => (false, patternBody.split("\\s+").toSeq)
      }
    }
    val pattern = patternTokens.map {
        case tokenRe(v, quant, qLo, qComma, qHi, qRel) =>
          // SQL default for an un-DEFINEd variable is "matches any row" —
          // any *user* row; the engine-internal sentinel must never match
          // (compiled predicates guard identically for defined variables).
          val cd = defines.getOrElse(v.toUpperCase,
            CompiledDefine((e: Event) => e.event_type != "__sentinel", None, None))
          val step = (Option(quant) match {
            case None       => Cep.QStep.once(cd.rowPred)
            case Some("+")  => Cep.QStep.oneOrMore(cd.rowPred)
            case Some("+?") => Cep.QStep.oneOrMore(cd.rowPred, greedy = false)
            case Some("*")  => Cep.QStep.zeroOrMore(cd.rowPred)
            case Some("*?") => Cep.QStep.zeroOrMore(cd.rowPred, greedy = false)
            // optional: 0 or 1 rows; `??` (reluctant optional, prefers the
            // absent branch) is in the reference's OWN unsupported list
            // (match_recognize.md:1113) — supported here
            case Some("?")  => Cep.QStep(cd.rowPred, 0, 1, greedy = true)
            case Some("??") => Cep.QStep(cd.rowPred, 0, 1, greedy = false)
            // braces: {n} exact, {n,} open range, {n,m} closed, {,m}
            // zero-to-m (bounds per match_recognize.md:355-358); a '?'
            // suffix makes the range reluctant (no-op when lo == hi)
            case Some(_) =>
              val greedy = qRel == null || qRel.isEmpty
              val lo = Option(qLo).filter(_.nonEmpty).map(_.toInt)
              val hi = Option(qHi).filter(_.nonEmpty).map(_.toInt)
              (lo, qComma == ",", hi) match {
                case (Some(n), false, None) =>
                  require(n > 0, s"{n} requires n > 0; got {$n} on $v")
                  Cep.QStep.times(cd.rowPred, n)
                case (Some(n), true, None) =>
                  Cep.QStep(cd.rowPred, n, Int.MaxValue, greedy)
                case (Some(n), true, Some(m)) =>
                  require(n <= m && m > 0,
                    s"{n,m} requires 0 <= n <= m, m > 0; got {$n,$m} on $v")
                  Cep.QStep(cd.rowPred, n, m, greedy)
                case (None, true, Some(m)) =>
                  require(m > 0, s"{,m} requires m > 0; got {,$m} on $v")
                  Cep.QStep(cd.rowPred, 0, m, greedy)
                case _ => throw new IllegalArgumentException(
                  s"bad quantifier on pattern variable $v")
              }
          }).copy(agg = cd.agg, name = v.toUpperCase, xagg = cd.xagg,
            phys = cd.phys, physDepth = cd.physDepth)
          v.toUpperCase -> step
        case t => throw new IllegalArgumentException(s"bad pattern token: $t")
      }
    require(pattern.nonEmpty, "empty PATTERN")
    // a pattern every variable of which admits zero rows could match empty —
    // unsupported in the reference too (match_recognize.md:360-362)
    require(pattern.exists(_._2.min >= 1),
      "pattern can produce an empty match (every variable allows 0 rows) — unsupported")
    if (isPermute) {
      require(pattern.forall(_._2.max == 1),
        "PERMUTE variables take no quantifiers in this subset")
      // SKIP TO FIRST/LAST is alt-aware since r12 (Cep.SkipToFirstOf/
      // SkipToLastOf); a skip target that lands on the match's own start
      // row fails loudly at runtime — the reference's own infinite-loop
      // condition, reachable e.g. by SKIP TO LAST B on a whole-pattern
      // PERMUTE when the B-first permutation fires
    }
    val patVars = pattern.map(_._1)
    require(patVars.distinct == patVars,
      "a pattern variable may appear only once in this subset")
    defines.foreach { case (v, cd) =>
      cd.aggVars.foreach(w => require(
        patVars.contains(w) || subsets.contains(w),
        s"DEFINE $v aggregates over $w, which is neither a pattern variable nor a SUBSET"))
    }
    subsets.foreach { case (name, members) =>
      require(!patVars.contains(name), s"SUBSET $name shadows a pattern variable")
      require(members.nonEmpty && members.forall(patVars.contains),
        s"SUBSET $name references undefined pattern variables")
    }
    measures.foreach {
      case _: MatchNumM => ()
      case _: MatchRowtimeM => ()
      case m => require(patVars.contains(m.variable) || subsets.contains(m.variable),
        s"measure references undefined pattern variable ${m.variable}")
    }
    val allRows = allRowsRe.findFirstIn(body).isDefined
    require(!measures.exists(_.isInstanceOf[MatchRowtimeM]) || !allRows,
      "MATCH_ROWTIME() is a ONE ROW PER MATCH measure in this subset")

    val selectCols = selectList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val within = withinRe.findFirstMatchIn(body).map { m =>
      m.group(1).toLong * (m.group(2).toUpperCase match {
        case "DAY" => 86400000000L
        case "HOUR" => 3600000000L
        case "MINUTE" => 60000000L
        case _ => 1000000L
      })
    }
    skipTo.foreach { case (_, v) => require(pattern.exists(_._1 == v),
      s"SKIP TO references undefined pattern variable $v") }
    if (excluded.nonEmpty) {
      // the reference's doc is explicit: "This works only for the ALL
      // ROWS PER MATCH mode" (match_recognize.md:1112) — in ONE ROW mode
      // there is nothing to exclude from
      require(allRows, "exclusion {- X -} applies to ALL ROWS PER MATCH only")
      require(!isPermute && groupRep.isEmpty,
        "exclusion is supported on the sequential pattern subset")
      excluded.foreach(v => require(patVars.contains(v),
        s"exclusion references undefined pattern variable $v"))
      require(patVars.exists(v => !excluded.contains(v)),
        "a pattern may not exclude every variable")
    }
    Spec(selectCols, table, partitionCol.toLowerCase, orderCol.toLowerCase,
      measures, skipPast, pattern, allRows, within, skipTo, isPermute, groupRep,
      subsets,
      permPre = permParts.map(_._1).getOrElse(Seq.empty),
      permVars = permParts.map(_._2).getOrElse(Seq.empty),
      permPost = permParts.map(_._3).getOrElse(Seq.empty),
      finalAliases = finalAliases,
      excluded = excluded,
      anchorStart = anchorStart, anchorEnd = anchorEnd)
  }

  /** Split on commas OUTSIDE parentheses — DEFINE entries and MEASURES
    * items may contain `LAST(V.field, n)` navigation calls whose commas
    * must not split the list. */
  private def splitCommas(s: String): Seq[String] = {
    val out = Seq.newBuilder[String]
    var depth = 0
    var start = 0
    var i = 0
    while (i < s.length) {
      s.charAt(i) match {
        case '(' => depth += 1
        case ')' => depth -= 1
        case ',' if depth == 0 =>
          out += s.substring(start, i); start = i + 1
        case _ => ()
      }
      i += 1
    }
    out += s.substring(start)
    out.result().map(_.trim).filter(_.nonEmpty)
  }

  // ------------------------------------------------ expressions (Catalyst)

  /** Spark's expression parser; a parse error is a reject of the statement. */
  private def parseExpr(text: String): Expression = catalyst(text)(
    CatalystSqlParser.parseExpression(text))

  private def catalyst[T](text: String)(f: => T): T =
    try f catch {
      case e: AnalysisException =>
        throw new IllegalArgumentException(s"unsupported expression `$text`: ${e.getMessage}", e)
    }

  /** Runs `f` under the active SQL conf with ANSI mode off, so that a
    * DEFINE built in it evaluates a division by zero or a failed CAST to
    * NULL, as the DuckDB oracles do, instead of failing the query. */
  private def nonAnsi[T](f: => T): T = {
    val conf = SQLConf.get.clone()
    conf.setConf(SQLConf.ANSI_ENABLED, false)
    SQLConf.withExistingConf(conf)(f)
  }

  /** A function call as (upper-case name, arguments, DISTINCT); the
    * parser builds a one-argument FIRST/LAST as Spark's own aggregate. */
  private object Call {
    def unapply(e: Expression): Option[(String, Seq[Expression], Boolean)] = e match {
      case f: UnresolvedFunction => Some((f.nameParts.last.toUpperCase, f.arguments, f.isDistinct))
      case a: AggregateExpression => a.aggregateFunction match {
        case f: First if !f.ignoreNulls => Some(("FIRST", Seq(f.child), a.isDistinct))
        case l: Last if !l.ignoreNulls => Some(("LAST", Seq(l.child), a.isDistinct))
        case _ => None
      }
      case _ => None
    }
  }

  /** `V.f` → (V, f) and `V.*` → (V, "*"), V upper-cased. */
  private def qualified(e: Expression): (String, String) = e match {
    case UnresolvedAttribute(Seq(v, f)) => (v.toUpperCase, f.toLowerCase)
    case UnresolvedStar(Some(Seq(v))) => (v.toUpperCase, "*")
    case _ => throw new IllegalArgumentException(s"expected a qualified V.field, got $e")
  }

  /** The optional offset argument of a navigation call. */
  private def offset(args: Seq[Expression], default: Int): Int = args match {
    case Seq() => default
    case Seq(Literal(n: Int, IntegerType)) if n >= 0 => n
    case _ => throw new IllegalArgumentException(
      s"a navigation offset is one non-negative integer literal, got ${args.mkString(", ")}")
  }

  private def measureOf(e: Expression, alias: String): Measure = {
    def nav(fn: String, arg: Expression, n: Seq[Expression], distinct: Boolean): Measure = {
      require(!distinct, s"DISTINCT applies to aggregates only, got $fn")
      val (v, f) = qualified(arg)
      require(f == "event_id" || f == "value", s"$fn measures read event_id or value, got $f")
      if (fn == "FIRST") FirstM(v, alias, f, offset(n, 0)) else LastM(v, alias, f, offset(n, 0))
    }
    e match {
      case Call("MATCH_NUMBER", Seq(), false) => MatchNumM(alias)
      case Call("MATCH_ROWTIME", Seq(), false) => MatchRowtimeM(alias)
      case Call(fn @ ("FIRST" | "LAST"), arg +: n, distinct) => nav(fn, arg, n, distinct)
      case Call(fn @ ("COUNT" | "SUM" | "MIN" | "MAX" | "AVG"), Seq(arg), distinct) =>
        val (v, f) = qualified(arg)
        require(fn == "COUNT" && !distinct || f == "value",
          s"$fn${if (distinct) " DISTINCT" else ""} aggregates over the value field, got $f")
        if (fn == "COUNT") CountM(v, alias, distinct) else ValAggM(fn, v, alias, distinct)
      case UnresolvedAttribute(Seq(_, _)) => nav("LAST", e, Nil, distinct = false)
      case _ => throw new IllegalArgumentException(s"unsupported measure: $e AS $alias")
    }
  }

  /** The events columns a DEFINE reads, in row order. */
  private val columns: IndexedSeq[(String, DataType)] = Vector("event_id" -> LongType,
    "ts" -> TimestampType, "user_id" -> LongType, "event_type" -> StringType,
    "value" -> DoubleType)

  private def columnIndex(f: String): Int = columns.indexWhere(_._1 == f.toLowerCase) match {
    case -1 => throw new IllegalArgumentException(s"unknown events column: $f")
    case i => i
  }

  /** Column `i` of `e` in Catalyst's internal representation. */
  private def cell(e: Event, i: Int): Any = i match {
    case 0 => e.event_id
    case 1 => if (e.ts == null) null else DateTimeUtils.fromJavaTimestamp(e.ts)
    case 2 => e.user_id
    case 3 => utf8(e.event_type)
    case _ => e.value
  }

  /** The Catalyst strings of the event types seen so far, so that a DEFINE
    * call reads a type without converting it again; past a bound (event
    * types are a handful) a string is converted on each read. */
  private val utf8s = new java.util.concurrent.ConcurrentHashMap[String, UTF8String]()
  private def utf8(s: String): UTF8String =
    if (s == null) null
    else utf8s.get(s) match {
      case null =>
        val u = UTF8String.fromString(s)
        if (utf8s.size < 1024) utf8s.put(s, u)
        u
      case u => u
    }

  /** An event followed by its slot values, as the Catalyst row a bound
    * DEFINE predicate reads: each column is converted only when read. */
  private final class EventRow(e: Event, slots: Array[Any]) extends BaseGenericInternalRow {
    protected def genericGet(i: Int): Any =
      if (i < columns.length) cell(e, i) else slots(i - columns.length)
    override def isNullAt(i: Int): Boolean = i match {
      case 1 => e.ts == null
      case 3 => e.event_type == null
      case _ => i >= columns.length && slots(i - columns.length) == null
    }
    def numFields: Int = columns.length + slots.length
    def setNullAt(i: Int): Unit = throw new UnsupportedOperationException
    def update(i: Int, value: Any): Unit = throw new UnsupportedOperationException
  }

  /** A navigation call of a DEFINE, read by the matcher into one column. */
  private sealed trait Slot
  /** FIRST/LAST(V.f, n) over the rows V has matched so far. */
  private case class Nav(first: Boolean, variable: String, col: Int, n: Int) extends Slot
  /** A running aggregate over the values of V's rows so far. */
  private case class Agg(fn: String, variable: String, distinct: Boolean) extends Slot
  /** PREV (offset −n) / NEXT (offset +n): a row of the input buffer. */
  private case class Phys(offset: Int, col: Int) extends Slot

  /** Compiled DEFINE body: row predicate + optional same-variable running
    * aggregate (the fast path the matcher folds incrementally) + optional
    * cross-variable aggregate over the partial match's per-variable rows. */
  case class CompiledDefine(rowPred: Event => Boolean,
                            agg: Option[(Int, Double, Event) => Boolean],
                            xagg: Option[(Map[String, IndexedSeq[Event]], Event) => Boolean],
                            aggVars: Set[String] = Set.empty,
                            // physical-offset conjuncts (PREV): evaluated
                            // against (partition buffer, candidate index)
                            phys: Option[(IndexedSeq[Event], Int, Event) => Boolean] = None,
                            physDepth: Int = 0)

  /** Compile one DEFINE body into one Catalyst predicate over the event
    * columns plus one column per navigation call (the slots), and split
    * its AND conjuncts by what their slots read: none → `rowPred`; only
    * the variable's own running SUM/COUNT → `agg`, the matcher's
    * incremental (count, sum) fold; PREV/NEXT → `phys`, the input buffer;
    * the rest → `xagg`, the partial match's per-variable rows (ref NFA.java
    * DEFINE evaluation against SharedBuffer.java's partial-match rows).
    * The engine-internal sentinel row never matches. */
  def compileDefine(varName: String, text: String,
                    subsets: Map[String, Seq[String]] = Map.empty,
                    allowNext: Boolean = false): CompiledDefine = {
    val slots = scala.collection.mutable.ArrayBuffer.empty[(Slot, AttributeReference)]
    def slot(s: Slot): AttributeReference = slots.find(_._1 == s).map(_._2).getOrElse {
      val t = s match {
        case Agg("COUNT", _, _) => LongType
        case _: Agg => DoubleType
        case Nav(_, _, c, _) => columns(c)._2
        case Phys(_, c) => columns(c)._2
      }
      val a = AttributeReference(s"__slot${slots.size}", t)()
      slots += s -> a
      a
    }
    val rowAttrs = columns.map { case (n, t) => AttributeReference(n, t)() }
    def column(f: String) = rowAttrs(columnIndex(f))
    val withSlots = nonAnsi(parseExpr(text)).transformDown {
      case Call(fn @ ("FIRST" | "LAST"), arg +: n, false) =>
        val (v, f) = qualified(arg)
        slot(Nav(fn == "FIRST", v, columnIndex(f), offset(n, 0)))
      case Call(fn @ ("PREV" | "NEXT"), arg +: n, false) =>
        // streaming keeps the loud reject (the reference's own
        // anti-streaming argument); BATCH parses with allowNext = true,
        // where the whole partition is buffered and lookahead is decidable
        require(fn == "PREV" || allowNext,
          "NEXT physical offset is out of subset on the streaming path (forward " +
            "lookahead against unarrived rows — the anchors argument); run the " +
            "statement in BATCH mode (runBatch) or use PREV from a later row")
        val f = arg match {
          case UnresolvedAttribute(Seq(f)) => f.toLowerCase
          case _ =>
            val (v, f) = qualified(arg)
            require(v == varName,
              s"$fn qualifier $v inside DEFINE $varName must name the defined variable")
            f
        }
        val k = offset(n, 1) // SQL:2016 default physical offset is 1
        slot(Phys(if (fn == "PREV") -k else k, columnIndex(f)))
      case Call(fn @ ("SUM" | "COUNT" | "MIN" | "MAX" | "AVG"), Seq(arg), distinct) =>
        val (v, f) = qualified(arg)
        require(fn == "COUNT" && !distinct || f == "value",
          s"$fn${if (distinct) " DISTINCT" else ""} aggregates over the value field in DEFINE")
        slot(Agg(fn, v, distinct))
      case UnresolvedAttribute(Seq(v, f)) if v.toUpperCase == varName => column(f)
      case a @ UnresolvedAttribute(Seq(_, _)) =>
        val (v, f) = qualified(a)
        slot(Nav(first = false, v, columnIndex(f), 0))
      // Spark's stock analyzer resolves case-sensitively; columns do not
      case UnresolvedAttribute(Seq(f)) => column(f)
    }
    val attrs = rowAttrs ++ slots.map(_._2)
    val cond = nonAnsi(catalyst(text)(ConstantFolding(ReplaceExpressions(
      SimpleAnalyzer.executeAndCheck(Filter(withSlots, LocalRelation(attrs)),
        new QueryPlanningTracker(None)))).asInstanceOf[Filter].condition))
      // a replaced expression may share a subterm through `With` (BETWEEN
      // does), which only the optimizer rewrites: inline it
      .transformUp { case With(c, defs) =>
        val byId = defs.map(d => d.id -> d.child).toMap
        c.transform { case r: CommonExpressionRef if byId.contains(r.id) => byId(r.id) }
      }
    require(cond.deterministic, s"DEFINE $varName must be deterministic: $text")

    val slotOf = slots.map { case (s, a) => a.exprId -> s }.toMap
    def slotsIn(c: Expression): Seq[Slot] = c.references.toSeq.flatMap(a => slotOf.get(a.exprId))
    def conjuncts(e: Expression): Seq[Expression] = e match {
      case And(l, r) => conjuncts(l) ++ conjuncts(r)
      case other => Seq(other)
    }
    def aggUnderOr(e: Expression, underOr: Boolean): Boolean = e match {
      case a: AttributeReference => underOr && slotOf.get(a.exprId).exists(_.isInstanceOf[Agg])
      case _ => e.children.exists(aggUnderOr(_, underOr || e.isInstanceOf[Or]))
    }
    val (physC, matchC) = conjuncts(cond).partition(slotsIn(_).exists(_.isInstanceOf[Phys]))
    physC.foreach(c => require(slotsIn(c).forall(_.isInstanceOf[Phys]),
      s"DEFINE $varName: PREV/NEXT read the input rows, so they cannot share a conjunct " +
        s"with LAST/FIRST, a cross-variable field or an aggregate: ${c.sql}"))
    matchC.filter(slotsIn(_).exists(_.isInstanceOf[Agg])).foreach { c =>
      require(!aggUnderOr(c, underOr = false),
        "aggregate DEFINE terms are supported only as top-level AND conjuncts")
      require(slotsIn(c).forall(_.isInstanceOf[Agg]),
        s"a DEFINE $varName conjunct holding an aggregate may compare it only with " +
          s"the current row: ${c.sql}")
    }
    val (fastC, restC) = matchC.partition { c =>
      val ss = slotsIn(c)
      ss.nonEmpty && c.references.size == ss.size && ss.forall {
        case Agg(fn, v, false) => v == varName && (fn == "SUM" || fn == "COUNT")
        case _ => false
      }
    }
    val (rowC, xC) = restC.partition(slotsIn(_).isEmpty)

    // one evaluator per conjunct group: the group's conjuncts ANDed, bound
    // to (event columns ++ slots) and fed the event plus the slots it reads
    def test(cs: Seq[Expression]): Option[(Event, Slot => Any) => Boolean] =
      cs.reduceOption(And).map { c =>
        val p = BindReferences.bindReference(c, AttributeSeq(attrs))
        val slotAt = slots.map(_._1).toArray
        val read = slots.indices.filter(k => c.references.contains(slots(k)._2)).toArray
        val noSlots = new Array[Any](slotAt.length) // read by none, never written
        (e: Event, value: Slot => Any) => {
          val vs = if (read.isEmpty) noSlots else new Array[Any](slotAt.length)
          read.foreach(k => vs(k) = value(slotAt(k)))
          p.eval(new EventRow(e, vs)).asInstanceOf[Boolean] // NULL does not match
        }
      }
    // the rows a call over matched rows reads: the variable's rows so far
    // (a SUBSET's members' rows merged in partition order), plus the
    // candidate when the defined variable is among them
    def rowsOf(vars: Map[String, IndexedSeq[Event]], v: String, e: Event): IndexedSeq[Event] = {
      val matched = subsets.get(v) match {
        case Some(members) =>
          members.flatMap(vars.apply).sortBy(r => (r.ts.getTime, r.event_id)).toIndexedSeq
        case None => vars(v)
      }
      if (v == varName || subsets.get(v).exists(_.contains(varName))) matched :+ e else matched
    }
    def overRows(vars: Map[String, IndexedSeq[Event]], e: Event)(s: Slot): Any = s match {
      case Nav(first, v, c, n) =>
        val rows = rowsOf(vars, v, e)
        val i = if (first) n else rows.length - 1 - n
        if (i >= 0 && i < rows.length) cell(rows(i), c) else null
      case Agg(fn, v, distinct) =>
        val vals = rowsOf(vars, v, e).map(_.value)
        val xs = if (distinct) vals.distinct else vals
        fn match {
          case "COUNT" => xs.length.toLong
          case _ if xs.isEmpty => null
          case "SUM" => xs.sum
          case "MIN" => xs.min
          case "MAX" => xs.max
          case _ => xs.sum / xs.length
        }
      case p: Phys => throw new IllegalStateException(s"$p read outside the input buffer")
    }
    val rowTest = test(rowC)
    CompiledDefine(
      rowPred = rowTest match {
        case Some(t) => e => e.event_type != "__sentinel" && t(e, null)
        case None => e => e.event_type != "__sentinel"
      },
      agg = test(fastC).map(t => (cnt: Int, sum: Double, e: Event) => t(e, {
        case Agg("SUM", _, _) => sum + e.value
        case _ => cnt + 1L // COUNT incl. the candidate
      })),
      xagg = test(xC).map(t => (vars: Map[String, IndexedSeq[Event]], e: Event) =>
        t(e, overRows(vars, e))),
      aggVars = slots.map(_._1).collect {
        case Nav(_, v, _, _) => v
        case Agg(_, v, _) => v
      }.toSet,
      // idx is the candidate's position in the retained buffer: rows
      // before buf(0) are off the partition start (the matcher keeps
      // physDepth decided rows as history), rows past the end off its end
      phys = test(physC).map(t => (buf: IndexedSeq[Event], idx: Int, e: Event) =>
        t(e, {
          case Phys(off, c) if idx + off >= 0 && idx + off < buf.length => cell(buf(idx + off), c)
          case _ => null
        })),
      physDepth = slots.map(_._1).collect { case Phys(off, _) if off < 0 => -off }
        .foldLeft(0)(math.max))
  }

  // ---------------------------------------------------------------- running

  /** Parse and execute `sqlText` as a streaming query over the events
    * table at `dir`: file-stream source → Cep.matchRecognize → measure
    * projection → memory sink, drained (same harness as every other
    * streaming Verify entry). */
  def run(s: SparkSession, dir: String, sqlText: String): DataFrame =
    run(s, dir, sqlText, batch = false)

  /** BATCH execution of the same statement (r15): the events table read
    * as a bounded Dataset, matched per key in ONE atEnd drain
    * (Cep.matchRecognizeBoundedSkip) — the mode where NEXT physical
    * offsets are decidable. No sentinel, no memory-sink drain: the match
    * table is an ordinary batch DataFrame. Full grammar (r16): plain
    * sequential, PERMUTE and grouped repetition all route through the
    * bounded matcher; anchors compose with each. */
  def runBatch(s: SparkSession, dir: String, sqlText: String): DataFrame =
    run(s, dir, sqlText, batch = true)

  private def run(s: SparkSession, dir: String, sqlText: String,
                  batch: Boolean): DataFrame = {
    import s.implicits._
    val spec = parse(sqlText, boundedInput = batch)
    require(spec.table.equalsIgnoreCase("events"),
      s"unsupported table ${spec.table}")
    val steps = spec.pattern.map(_._2)
    // PERMUTE: one alternative per permutation of the listed variables,
    // expanded lexicographically (the standard's order), with any fixed
    // prefix/suffix variables pinned around them; Match.alt then tells
    // the measure layer which variable order actually fired.
    val fixedAltOrders: Seq[Seq[String]] =
      if (spec.permute)
        spec.permVars.permutations
          .map(p => spec.permPre ++ p ++ spec.permPost).toSeq
      else Seq(spec.pattern.map(_._1))
    // Match.alt carries the REPETITION COUNT in group mode (uncapped — the
    // variable order is reconstructed per match), an alternative INDEX
    // otherwise.
    val altOrderOf: Int => Seq[String] = spec.groupRep match {
      case Some((body, tail, _)) => (k: Int) => Seq.fill(k)(body).flatten ++ tail
      case None                  => (i: Int) => fixedAltOrders(i)
    }
    val skipPolicy: Cep.SkipPolicy = spec.skipTo match {
      case Some((which, v)) if spec.permute || spec.groupRep.isDefined =>
        // alt-aware (r12): the variable's step positions depend on which
        // permutation (or repetition count) actually fired
        val posOf: Int => Seq[Int] = (alt: Int) =>
          altOrderOf(alt).zipWithIndex.collect { case (w, i) if w == v => i }
        if (which == "FIRST") Cep.SkipToFirstOf(posOf)
        else Cep.SkipToLastOf(posOf)
      case Some((which, v)) =>
        val idx = spec.pattern.indexWhere(_._1 == v)
        if (which == "FIRST") Cep.SkipToFirst(idx) else Cep.SkipToLast(idx)
      case None =>
        if (spec.skipPastLastRow) Cep.SkipPastLastRow else Cep.SkipToNextRow
    }
    val stepByVar = spec.pattern.toMap
    val out = spec.groupRep match {
      case Some((body, tail, minRep)) if batch =>
        // grouped repetition in BATCH mode (r16 — closes the "plain
        // sequential subset" carve-out): the same greedy loop, one atEnd
        // drain per key, sharing the streaming statement's oracle verbatim
        Cep.matchRecognizeBoundedGroup(
          batchEvents(s, dir),
          body.map(stepByVar), tail.map(stepByVar), minRep, skipPolicy,
          withinMicros = spec.withinMicros,
          anchorStart = spec.anchorStart, anchorEnd = spec.anchorEnd)
      case Some((body, tail, minRep)) =>
        // uncapped grouped repetition: the NFA-style loop decides the count
        // from the data (greedy longest-first; NeedMore parks a start while
        // a longer match is still possible)
        Cep.matchRecognizeGroup(
          StreamSource.eventsTypedWithSentinel(s, dir),
          body.map(stepByVar), tail.map(stepByVar), minRep, skipPolicy,
          withinMicros = spec.withinMicros)
      case None if spec.permute && batch =>
        Cep.matchRecognizeBoundedAlts(
          batchEvents(s, dir),
          fixedAltOrders.map(_.map(stepByVar)), skipPolicy,
          withinMicros = spec.withinMicros,
          anchorStart = spec.anchorStart, anchorEnd = spec.anchorEnd)
      case None if spec.permute =>
        Cep.matchRecognizeAlts(
          StreamSource.eventsTypedWithSentinel(s, dir),
          fixedAltOrders.map(_.map(stepByVar)), skipPolicy,
          withinMicros = spec.withinMicros)
      case None if batch =>
        Cep.matchRecognizeBoundedSkip(
          batchEvents(s, dir), steps, skipPolicy, spec.withinMicros,
          anchorStart = spec.anchorStart, anchorEnd = spec.anchorEnd)
      case None =>
        Cep.matchRecognizeSkip(
          StreamSource.eventsTypedWithSentinel(s, dir), steps, skipPolicy,
          withinMicros = spec.withinMicros)
    }
    // each measure's (double array?, index): long- and double-valued
    // measures travel two parallel arrays
    val place: Seq[(Boolean, Int)] = spec.measures.indices.map { i =>
      val d = isDouble(spec.measures(i))
      (d, spec.measures.take(i).count(isDouble(_) == d))
    }
    // measure indexes declared FINAL: their ALL ROWS emission shows the
    // match-final value (= the running value at the LAST row) on every row
    val finals = spec.measures.indices.filter(i =>
      spec.finalAliases.contains(spec.measures(i).alias.toLowerCase))
    // ONE ROW PER MATCH: one row per match carrying the match-final
    // measures. ALL ROWS PER MATCH: one row per matched input row — its
    // event_id/value, CLASSIFIER() (the pattern variable that matched it)
    // and RUNNING measures; an event in several overlapping matches
    // appears once per match, per the standard.
    val rows = out.flatMap { m0 =>
      val m = m0.copy(ids = m0.ids.toIndexedSeq, vals = m0.vals.toIndexedSeq)
      // classifier names follow the alternative that actually matched —
      // under PERMUTE a non-first permutation reorders the variables
      val order = altOrderOf(m.alt)
      val cls = m.counts.zipWithIndex.flatMap { case (c, i) => Seq.fill(c)(order(i)) }
        .toIndexedSeq
      val values = measureValues(spec, m, cls, everyRow = spec.allRows)
      val (finL, finD) = values.last
      if (!spec.allRows)
        Iterator.single((m.user_id, m.ids.last, m.vals.last, cls.last, m.seq, finL, finD))
      // exclusion {- X -} (r14): excluded variables' rows participated in
      // the match and in every RUNNING/FINAL measure — they are only
      // suppressed from the OUTPUT here
      else cls.indices.iterator.filter(j => !spec.excluded.contains(cls(j))).map { j =>
        val (lo, db) = finals.foldLeft(values(j)) { case ((lo, db), i) =>
          place(i) match {
            case (true, k) => (lo, db.updated(k, finD(k)))
            case (false, k) => (lo.updated(k, finL(k)), db)
          }
        }
        (m.user_id, m.ids(j), m.vals(j), cls(j), m.seq, lo, db)
      }
    }.toDF("__pk", "__row_id", "__val", "__cls", "__mn", "__ml", "__md")
    val name = "sql_match_" + Integer.toHexString(sqlText.hashCode)
    val drained =
      if (batch) rows else StreamSource.runToTable(s, rows, name, "append")
    val measureAt = spec.measures.zip(place).map { case (mm, p) =>
      mm.alias.toLowerCase -> (mm, p) }.toMap
    val cols = spec.selectCols.map { item =>
      val (e, alias) = parseExpr(item) match {
        case Alias(c, a) => (c, a)
        case c => (c, item)
      }
      val c = e match {
        case UnresolvedAttribute(Seq(n)) if n.equalsIgnoreCase(spec.partitionCol) => col("__pk")
        case UnresolvedAttribute(Seq(n)) if spec.allRows && n.equalsIgnoreCase("event_id") =>
          col("__row_id")
        case UnresolvedAttribute(Seq(n)) if spec.allRows && n.equalsIgnoreCase("value") =>
          col("__val")
        case Call("CLASSIFIER", Seq(), false) if spec.allRows => col("__cls")
        case Call("MATCH_NUMBER", Seq(), false) if spec.allRows => col("__mn")
        case UnresolvedAttribute(Seq(n)) if measureAt.contains(n.toLowerCase) =>
          val (mm, (d, k)) = measureAt(n.toLowerCase)
          val raw = col(if (d) "__md" else "__ml").getItem(k)
          // MATCH_ROWTIME travels the long array as micros; surface a timestamp
          if (mm.isInstanceOf[MatchRowtimeM]) timestamp_micros(raw) else raw
        case _ => throw new IllegalArgumentException(
          s"SELECT item $item is not the partition key or a measure alias" +
            (if (spec.allRows) ", event_id, value, CLASSIFIER() or MATCH_NUMBER()" else ""))
      }
      (c.as(alias), col(alias))
    }
    drained.select(cols.map(_._1): _*).orderBy(cols.map(_._2): _*)
  }

  private def isDouble(mm: Measure): Boolean = mm match {
    case _: ValAggM               => true
    case FirstM(_, _, "value", _) => true
    case LastM(_, _, "value", _)  => true
    case _                        => false
  }

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  /** RUNNING measure values of match `m` (SQL:2016, the ALL ROWS default):
    * entry j holds every measure over the match's rows 0..j, split into a
    * long and a double array. With `everyRow` false only the last entry —
    * the match-final values ONE ROW PER MATCH reports. FIRST/LAST and
    * aggregates over a variable with no rows (yet) are NULL. */
  private def measureValues(spec: Spec, m: Cep.Match, cls: IndexedSeq[String],
                            everyRow: Boolean)
      : IndexedSeq[(Seq[Option[Long]], Seq[Option[Double]])] = {
    val ms = spec.measures
    // a measure variable may be a SUBSET name: its rows are any member's
    val names = ms.map(mm => spec.subsets.getOrElse(mm.variable, Seq(mm.variable)).toSet)
    val rows = ms.map(_ => scala.collection.mutable.ArrayBuffer.empty[Int])
    val sums = Array.fill(ms.size)(0.0)
    val mins = Array.fill(ms.size)(Double.MaxValue)
    val maxs = Array.fill(ms.size)(Double.MinValue)
    def emit(): (Seq[Option[Long]], Seq[Option[Double]]) = {
      val longs = Seq.newBuilder[Option[Long]]
      val dbls = Seq.newBuilder[Option[Double]]
      ms.indices.foreach { i =>
        val rs = rows(i)
        def at(k: Int): Option[Int] = if (k >= 0 && k < rs.length) Some(rs(k)) else None
        def distinctVals = rs.map(m.vals).distinct
        ms(i) match {
          case _: MatchNumM => longs += Some(m.seq)
          case _: MatchRowtimeM => longs += Some(m.lastTsMicros)
          case CountM(_, _, d) =>
            longs += Some(if (d) distinctVals.size.toLong else rs.length.toLong)
          case FirstM(_, _, "value", n) => dbls += at(n).map(j => round6(m.vals(j)))
          case LastM(_, _, "value", n) =>
            dbls += at(rs.length - 1 - n).map(j => round6(m.vals(j)))
          case FirstM(_, _, _, n) => longs += at(n).map(m.ids)
          case LastM(_, _, _, n) => longs += at(rs.length - 1 - n).map(m.ids)
          case ValAggM(fn, _, _, d) =>
            dbls += (if (rs.isEmpty) None else Some(round6((fn, d) match {
              case ("SUM", true) => distinctVals.sum
              case ("AVG", true) => val vs = distinctVals; vs.sum / vs.size
              case ("SUM", _) => sums(i)
              case ("MIN", _) => mins(i)
              case ("MAX", _) => maxs(i)
              case _ => sums(i) / rs.length
            })))
        }
      }
      (longs.result(), dbls.result())
    }
    val out = IndexedSeq.newBuilder[(Seq[Option[Long]], Seq[Option[Double]])]
    cls.indices.foreach { j =>
      ms.indices.foreach { i =>
        if (names(i)(cls(j))) {
          val v = m.vals(j)
          rows(i) += j
          sums(i) += v
          mins(i) = math.min(mins(i), v)
          maxs(i) = math.max(maxs(i), v)
        }
      }
      if (everyRow || j == cls.length - 1) out += emit()
    }
    out.result()
  }

  /** Bounded events source for batch mode: the batch table (ts already
    * normalized by graft.Tables), typed — the matcher's per-invocation
    * sort puts each key's rows in (ts, event_id) order, and batch
    * execution of the stateful operator delivers the whole key at once. */
  private def batchEvents(s: SparkSession,
                          dir: String): org.apache.spark.sql.Dataset[StreamSource.Event] = {
    import s.implicits._
    graft.Tables(s, dir, "events")
      .select(col("event_id"), col("ts"), col("user_id"),
        col("event_type"), col("value"))
      .as[StreamSource.Event]
  }
}
