package graft.streaming

import graft.Query
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, count, lit, timestamp_micros, window}

/** SQL text surface for MATCH_RECOGNIZE, routed onto Cep.matchRecognize —
  * the reference exposes CEP through SQL (StreamExecMatch translating the
  * MATCH_RECOGNIZE relational node onto the CEP operator,
  * flink-table-planner-blink/.../stream/StreamExecMatch.scala:68; grammar
  * docs/dev/table/sql/queries.md:366). Spark's parser has no
  * MATCH_RECOGNIZE production, so this module accepts the SQL text
  * directly — the same position the reference's parser occupies — and
  * compiles it onto the streaming matcher.
  *
  * Supported subset (documented contract, spec-pinned):
  *   SELECT <partition col and/or measure aliases> FROM events
  *   MATCH_RECOGNIZE (
  *     PARTITION BY user_id
  *     ORDER BY ts
  *     MEASURES { FIRST(V.f [, n]) | LAST(V.f [, n]) | V.f | COUNT(V.*)
  *              | SUM(V.value) | MIN(V.value) | MAX(V.value)
  *              | AVG(V.value) | MATCH_NUMBER()
  *              | MATCH_ROWTIME() } AS alias, ...  -- rowtime: ONE ROW mode
  *                                               -- f ∈ event_id, value
  *                                               -- doubles rounded to 6
  *                                               -- n = logical offset
  *                                               -- (r13); out of range
  *                                               -- → NULL
  *     [ONE ROW PER MATCH]
  *     AFTER MATCH SKIP { TO NEXT ROW | PAST LAST ROW
  *                      | TO FIRST <var> | TO LAST <var> }
  *     PATTERN (V[+|*|?|{n}|{n,}|{n,m}|{,m}][?] ...)  -- trailing ? =
  *                                         -- reluctant (r13: full SQL:2016
  *                                         -- quantifier set incl. ?? and
  *                                         -- {n,m}?, both in the
  *                                         -- reference's unsupported list)
  *       | PATTERN (PERMUTE(V1, V2[, V3]))
  *       | PATTERN ((V1 V2)[*|+] V3 ...)   -- grouped repetition; a var may
  *                                         -- recur (multi-occurrence), e.g.
  *                                         -- (A B)* A; repetitions UNCAPPED
  *                                         -- (Cep.matchRecognizeGroup loop)
  *     [SUBSET U = (V1, V2[, ...]), ...]  -- union variables for MEASURES
  *     DEFINE V AS <pred> [, ...]
  *   )
  * where <pred> is a full boolean expression — AND/OR/NOT with
  * parentheses — over comparisons `field op literal` (fields
  * event_type/value/user_id/event_id), TRUE, RUNNING aggregate
  * conjuncts `{SUM|COUNT|MIN|MAX|AVG}(W.value|W.*) op {n | V.field}`
  * (top-level AND position only) where W is ANY pattern variable — the
  * cross-variable form reads the rows W has matched so far in the partial
  * match (the reference evaluates DEFINE against the shared buffer,
  * flink-cep nfa/sharedbuffer/SharedBuffer.java), e.g.
  * `DEFINE B AS SUM(A.value) > B.value`; the RHS field reference must be
  * the defined variable itself (= the current row) — and, r13,
  * LOGICAL-OFFSET NAVIGATION in any boolean position (ref
  * match_recognize.md:718-750, whose flagship V-pattern at :538-545 now
  * runs): comparisons `term op term` and `nav IS [NOT] NULL` where term ∈
  * { [k *] LAST(W.f [, n]) | [k *] FIRST(W.f [, n]) | W.f | field |
  * number } (f numeric). LAST(W.f, n) reads the n-th-from-last row mapped
  * to W in the partial match — the candidate row counts as the latest
  * when W is the variable being defined; a qualified `W.f` is the current
  * row when W is the defining variable, LAST(W.f, 0) otherwise. Out of
  * range → SQL NULL: comparisons false, IS NULL true. An aggregate over a
  * variable that has matched no rows yet is SQL NULL — the comparison is
  * false (COUNT is 0, not NULL). A pattern
  * variable without a DEFINE matches any row (SQL default). `V.event_id`
  * in MEASURES means LAST(V.event_id) (the standard's ONE ROW PER MATCH
  * semantics). SKIP TO FIRST/LAST of a variable that matched no rows, or
  * that would resume on the match's own start row, raises (the
  * reference's infinite-loop guard). */
// Serializable: compiled DEFINE predicates are closures that call the
// object's helper methods from executor tasks; a Scala object serializes
// as a marker and readResolves back to the singleton.
object MatchRecognizeSql extends Serializable {
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

  // ---------------------------------------------------------------- parsing

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
  private val measureRe =
    ("(?is)^(?:(FINAL|RUNNING)\\s+)?(?:(FIRST|LAST|COUNT|SUM|MIN|MAX|AVG)" +
      "\\s*\\(\\s*)?(?:(DISTINCT)\\s+)?(\\w+)\\.(event_id|value|\\*)\\s*(?:,\\s*(\\d+)\\s*)?\\)?\\s+AS\\s+(\\w+)$").r
  private val matchNumRe =
    "(?is)^MATCH_NUMBER\\s*\\(\\s*\\)\\s+AS\\s+(\\w+)$".r
  private val matchRowtimeRe =
    "(?is)^MATCH_ROWTIME\\s*\\(\\s*\\)\\s+AS\\s+(\\w+)$".r
  // quantifiers (ref match_recognize.md:352-359): + * ? {n} {n,} {n,m}
  // {,m}, each with an optional reluctant '?' suffix. The reference
  // rejects the reluctant optional (`A??`, match_recognize.md:1113) and
  // any greedy quantifier on the LAST pattern variable (:424); this
  // engine's replay matcher needs neither restriction, so both run here
  // (superset, spec-pinned).
  private val tokenRe =
    "([A-Za-z]\\w*)(\\+\\?|\\*\\?|\\+|\\*|\\?\\?|\\?|\\{\\s*(\\d*)\\s*(,?)\\s*(\\d*)\\s*\\}(\\?)?)?".r
  private val cmpRe = "(?s)^(\\w+)\\s*(<>|!=|<=|>=|=|<|>)\\s*(?:'([^']*)'|([-0-9.eE]+))$".r

  def parse(sqlText: String): Spec = parse(sqlText, boundedInput = false)

  /** `boundedInput = true` admits the batch-only features — NEXT physical
    * offsets in DEFINE and the anchors `^`/`$` (r16 rename from
    * `allowNext`, whose name no longer described its scope once anchors
    * joined the gate) — callers must run the spec on a BOUNDED input
    * (runBatch); the streaming entry parses with the default and keeps
    * the loud reject on both features. */
  def parse(sqlText: String, boundedInput: Boolean): Spec = {
    val allowNext = boundedInput
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
    val finalAliasB = Set.newBuilder[String]
    val measures = measuresRe.findFirstMatchIn(body)
      .map(_.group(1)).toSeq
      .flatMap(splitCommas) // paren-aware: LAST(V.f, n) carries a comma
      .map(_.trim).filter(_.nonEmpty)
      .map {
        case matchNumRe(alias) => MatchNumM(alias)
        case matchRowtimeRe(alias) => MatchRowtimeM(alias)
        case measureRe(sem, fn, dist, v, field, off, alias) =>
          if (Option(sem).exists(_.equalsIgnoreCase("FINAL")))
            finalAliasB += alias.toLowerCase
          val f = Option(fn).map(_.toUpperCase).getOrElse("LAST")
          val offset = Option(off).map(_.toInt).getOrElse(0)
          require(offset == 0 || f == "FIRST" || f == "LAST",
            s"logical offset applies to FIRST/LAST only, got $f")
          // DISTINCT aggregations (r14 — last aggregation row of the
          // reference's unsupported list, match_recognize.md:1126): over
          // the variable's matched VALUES; FIRST/LAST take no DISTINCT
          val distinct = dist != null
          require(!distinct || Set("COUNT", "SUM", "MIN", "MAX", "AVG")(f),
            s"DISTINCT applies to aggregates only, got $f")
          require(!distinct || field == "value",
            s"DISTINCT aggregates over the value field, got $field")
          f match {
            case "COUNT" => CountM(v, alias, distinct)
            case "SUM" | "MIN" | "MAX" | "AVG" =>
              require(field == "value", s"$f expects a value field, got $field")
              ValAggM(f, v, alias, distinct)
            case "FIRST" =>
              require(field != "*", "FIRST expects a field")
              FirstM(v, alias, field, offset)
            case _ =>
              require(field != "*", "LAST expects a field")
              LastM(v, alias, field, offset)
          }
        case m => throw new IllegalArgumentException(s"unsupported measure: $m")
      }
    val finalAliases = finalAliasB.result()

    // SUBSET U = (A, B): union variables usable in MEASURES and (r13)
    // in DEFINE aggregate/navigation atoms — the union's rows are the
    // members' occurrences, merged into partition order. SUBSET is in
    // the reference's OWN unsupported list (match_recognize.md:1119).
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
        .flatMap(splitTopLevel)
        .map { d =>
          val kv = d.split("(?is)\\s+AS\\s+", 2)
          require(kv.length == 2, s"bad DEFINE entry: $d")
          val varName = kv(0).trim.toUpperCase
          varName -> compileDefine(varName, kv(1).trim, subsets, allowNext)
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
    require(allowNext || (!anchorStart && !anchorEnd),
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
      case m => require(
        patVars.contains(m.variable.toUpperCase) ||
          subsets.contains(m.variable.toUpperCase),
        s"measure references undefined pattern variable ${m.variable}")
    }
    require(!measures.exists(_.isInstanceOf[MatchRowtimeM]) ||
      allRowsRe.findFirstIn(body).isEmpty,
      "MATCH_ROWTIME() is a ONE ROW PER MATCH measure in this subset")

    val selectCols = selectList.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val allRows = allRowsRe.findFirstIn(body).isDefined
    // ALL ROWS PER MATCH + MEASURES: the standard's default RUNNING
    // semantics (each emitted row sees aggregates over the match's rows up
    // to and including itself); a FINAL prefix (r12, finalAliases →
    // matchAllRowsFinalSql / q_sql_match_rows_final) substitutes the
    // match-final value on every row instead.
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
    // r16: anchors compose with the FULL bounded grammar — the PERMUTE /
    // grouped-repetition branches forward anchorStart/anchorEnd into the
    // bounded matchers (matchRecognizeBoundedAlts/BoundedGroup), so the
    // former sequential-subset require here is gone; the streaming path
    // is still gated above on the bounded-features flag.
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

  private def splitTopLevel(s: String): Seq[String] = splitCommas(s)

  // -------------------------------------------- DEFINE predicate language
  //
  // Recursive-descent boolean expressions (ref parser grammar,
  // docs/dev/table/sql/queries.md:366 DEFINE):
  //   expr  := and (OR and)*
  //   and   := unary (AND unary)*
  //   unary := NOT unary | '(' expr ')' | atom
  //   atom  := TRUE | field op literal | SUM(V.value)|COUNT(V.*) op number
  // Aggregate atoms are RUNNING aggregates over the variable's own rows
  // and — documented subset — may only appear as top-level AND conjuncts
  // of that same variable's DEFINE (the reference additionally allows
  // cross-variable references through the shared buffer).

  private sealed trait Px
  private case class RowCmp(f: Event => Boolean) extends Px
  /** Aggregate conjunct `fn([DISTINCT] variable.value) op (lit |
    * rhsField-of-self)`: `lit` xor `rhsField` is set; `rhsField` reads the
    * CURRENT row (the defined variable's candidate). `distinct` (r14)
    * aggregates the variable's DISTINCT values — always the x-path (the
    * incremental (cnt, sum) fast fold can't dedup). */
  private case class AggCmp(fn: String, variable: String, op: String,
                            lit: Option[Double], rhsField: Option[String],
                            distinct: Boolean = false) extends Px
  private case class PAnd(l: Px, r: Px) extends Px
  private case class POr(l: Px, r: Px) extends Px
  private case class PNot(p: Px) extends Px

  // ---- logical-offset navigation terms (SQL:2016 / ref
  // docs/dev/table/streaming/match_recognize.md:718-750): LAST(V.field, n)
  // reads the n-th-from-last row mapped to V in the PARTIAL match (the
  // candidate row counts as LAST(..., 0) when V is the variable being
  // defined); FIRST(V.field, n) the n-th from the front. Out of range →
  // SQL NULL: comparisons are false, IS NULL is true. A bare qualified
  // field `W.field` means LAST(W.field, 0) when W is another variable and
  // the CURRENT row when W is the defining variable (the reference's
  // cross-variable row references — its flagship V-pattern at
  // match_recognize.md:538-545 uses both forms). Terms may carry a
  // `k * LAST(...)` numeric scale (the doc's `2 * LAST(B.price, 2)`).
  private sealed trait NavTerm
  private case class NavLit(x: Double) extends NavTerm
  /** Field of the CURRENT candidate row (bare, or qualified by the
    * defining variable — resolved in compileDefine). */
  private case class NavCur(field: String) extends NavTerm
  /** Unresolved qualified field `W.field` — compileDefine resolves it to
    * NavCur (W = defining var) or NavOf LAST 0 (cross-variable). */
  private case class NavQual(variable: String, field: String) extends NavTerm
  private case class NavOf(fn: String, variable: String, field: String,
                           n: Int, scale: Double = 1.0) extends NavTerm
  /** Physical offset `PREV([V.]field [, n])` (r14 — ref match_recognize.md:
    * 1121-1122, unsupported there): the row n BEFORE the candidate in the
    * partition's INPUT order, whatever variable (if any) it mapped to —
    * contrast NavOf, which walks only the rows a variable matched. Off the
    * partition start → SQL NULL. The qualifier, when present, must name
    * the defining variable (the standard's own DEFINE idiom). NEXT stays
    * out of subset: forward lookahead against unarrived rows is the same
    * anti-streaming shape as anchors, and the matcher rejects it loudly. */
  private case class NavPrev(field: String, n: Int, scale: Double = 1.0,
                             qual: Option[String] = None) extends NavTerm
  /** Physical FORWARD offset `NEXT([V.]field [, n])` (r15 — BATCH mode
    * only): the row n AFTER the candidate in the partition's input order.
    * On a bounded partition forward lookahead is free — every row is in
    * the buffer when the single atEnd drain runs — which is exactly the
    * reference's own argument inverted: its docs reject NEXT because a
    * stream's later rows haven't arrived (match_recognize.md:1121-1122),
    * an argument void in batch. Past the partition end → SQL NULL. The
    * STREAMING path keeps the loud reject (parse with allowNext=false). */
  private case class NavNext(field: String, n: Int, scale: Double = 1.0,
                             qual: Option[String] = None) extends NavTerm
  private case class NavCmpPx(l: NavTerm, op: String, r: NavTerm) extends Px
  private case class NavNullPx(t: NavTerm, negated: Boolean) extends Px

  private val aggAtomRe =
    ("(?is)^(SUM|COUNT|MIN|MAX|AVG)\\s*\\(\\s*(?:(DISTINCT)\\s+)?(\\w+)\\.(value|\\*)\\s*\\)\\s*" +
      "(<=|>=|<>|!=|<|>|=)\\s*(?:([-0-9.eE]+)|(\\w+)\\.(value|user_id|event_id))").r
  private val navFnRe =
    ("(?is)^(?:([-0-9.]+(?:[eE]-?\\d+)?)\\s*\\*\\s*)?(LAST|FIRST)\\s*\\(\\s*" +
      "(\\w+)\\.(value|event_id|user_id)\\s*(?:,\\s*(\\d+)\\s*)?\\)$").r
  private val physPrevRe =
    ("(?is)^(?:([-0-9.]+(?:[eE]-?\\d+)?)\\s*\\*\\s*)?PREV\\s*\\(\\s*" +
      "(?:(\\w+)\\.)?(value|event_id|user_id)\\s*(?:,\\s*(\\d+)\\s*)?\\)$").r
  private val physNextRe =
    ("(?is)^(?:([-0-9.]+(?:[eE]-?\\d+)?)\\s*\\*\\s*)?NEXT\\s*\\(\\s*" +
      "(?:(\\w+)\\.)?(value|event_id|user_id)\\s*(?:,\\s*(\\d+)\\s*)?\\)$").r
  private val qualFieldRe = "(?is)^(\\w+)\\.(value|event_id|user_id)$".r
  private val navNullRe = "(?is)^(.*?)\\s+IS\\s+(NOT\\s+)?NULL$".r
  private val cmpSplitRe = "(?s)^(.*?)\\s*(<=|>=|<>|!=|=|<|>)\\s*(.*)$".r

  /** Parse one comparison term of the navigation grammar; None if the text
    * is not a term (caller falls back to the plain row-comparison path). */
  private def parseNavTerm(t: String): Option[NavTerm] = t.trim match {
    case navFnRe(scale, fn, v, field, n) =>
      Some(NavOf(fn.toUpperCase, v.toUpperCase, field.toLowerCase,
        Option(n).map(_.toInt).getOrElse(0),
        Option(scale).map(_.toDouble).getOrElse(1.0)))
    // SQL:2016 default physical offset is 1 (PREV(f) = the row just before)
    case physPrevRe(scale, q, field, n) =>
      Some(NavPrev(field.toLowerCase, Option(n).map(_.toInt).getOrElse(1),
        Option(scale).map(_.toDouble).getOrElse(1.0),
        Option(q).map(_.toUpperCase)))
    case physNextRe(scale, q, field, n) =>
      Some(NavNext(field.toLowerCase, Option(n).map(_.toInt).getOrElse(1),
        Option(scale).map(_.toDouble).getOrElse(1.0),
        Option(q).map(_.toUpperCase)))
    case qualFieldRe(v, field) => Some(NavQual(v.toUpperCase, field.toLowerCase))
    case s if s.matches("(?i)value|user_id|event_id") => Some(NavCur(s.toLowerCase))
    case s if s.matches("[-0-9.eE]+") &&
      scala.util.Try(s.toDouble).isSuccess => Some(NavLit(s.toDouble))
    case _ => None
  }

  private def navMentioned(t: String, allowNext: Boolean = false): Boolean = {
    // streaming keeps the loud reject (the reference's own anti-streaming
    // argument); BATCH parses with allowNext = true, where the whole
    // partition is buffered and forward lookahead is decidable (r15)
    require(allowNext || "(?is)\\bNEXT\\s*\\(".r.findFirstIn(t).isEmpty,
      "NEXT physical offset is out of subset on the streaming path (forward " +
        "lookahead against unarrived rows — the anchors argument); run the " +
        "statement in BATCH mode (runBatch) or use PREV from a later row")
    "(?is)(LAST|FIRST|PREV|NEXT)\\s*\\(".r.findFirstIn(t).isDefined ||
      "(?is)\\b\\w+\\.(value|event_id|user_id)\\b".r.findFirstIn(t).isDefined
  }

  private class PredParser(text: String, allowNext: Boolean = false) {
    private var rest = text.trim
    private def ws(): Unit = { rest = rest.dropWhile(_.isWhitespace) }
    private def eat(kw: String): Boolean = {
      ws()
      if (rest.regionMatches(true, 0, kw, 0, kw.length) &&
          (kw.length >= rest.length || !rest.charAt(kw.length).isLetterOrDigit ||
            !kw.last.isLetterOrDigit)) {
        rest = rest.substring(kw.length); true
      } else false
    }
    def parse(): Px = { val p = expr(); ws(); require(rest.isEmpty, s"trailing: $rest"); p }
    private def expr(): Px = {
      var l = and()
      while (eat("OR")) l = POr(l, and())
      l
    }
    private def and(): Px = {
      var l = unary()
      while (eat("AND")) l = PAnd(l, unary())
      l
    }
    private def unary(): Px = {
      ws()
      if (eat("NOT")) PNot(unary())
      else if (rest.startsWith("(")) {
        rest = rest.substring(1)
        val p = expr()
        ws()
        require(rest.startsWith(")"), s"expected ) at: $rest")
        rest = rest.substring(1)
        p
      } else atom()
    }
    private def atom(): Px = {
      ws()
      aggAtomRe.findFirstMatchIn(rest) match {
        case Some(m) =>
          rest = rest.substring(m.end)
          val (lit, rhsField) =
            if (m.group(6) != null) (Some(m.group(6).toDouble), None)
            else {
              // RHS `W.field` reads the CURRENT row; the parser records the
              // qualifier for compileDefine to check against the defined var
              (None, Some((m.group(7).toUpperCase, m.group(8).toLowerCase)))
            }
          val distinct = m.group(2) != null
          require(!distinct || m.group(4).equalsIgnoreCase("value"),
            "DISTINCT aggregates over the value field in DEFINE")
          return AggCmp(m.group(1).toUpperCase, m.group(3).toUpperCase,
            m.group(5), lit, rhsField.map { case (q, f) => s"$q.$f" }, distinct)
        case None => ()
      }
      if (eat("TRUE")) return RowCmp(_ => true)
      // a comparison runs to the next top-level AND/OR/closing paren
      val endIdx = {
        var i = 0; var depth = 0; var stop = -1
        while (i < rest.length && stop < 0) {
          val c = rest.charAt(i)
          if (c == '(') depth += 1
          else if (c == ')') { if (depth == 0) stop = i else depth -= 1 }
          else if (depth == 0 &&
            (rest.regionMatches(true, i, " AND ", 0, 5) ||
             rest.regionMatches(true, i, " OR ", 0, 4))) stop = i
          i += 1
        }
        if (stop < 0) rest.length else stop
      }
      val t = rest.substring(0, endIdx).trim
      rest = rest.substring(endIdx)
      compileAtom(t, allowNext)
    }
  }

  /** Compile one comparison token: navigation forms (LAST/FIRST(V.f, n),
    * qualified fields, IS [NOT] NULL) when present, else the plain
    * row-comparison path (bare field vs literal — keeps string
    * comparisons like event_type = 'view'). */
  private def compileAtom(t: String, allowNext: Boolean = false): Px = {
    t match {
      case navNullRe(term, not) if navMentioned(term, allowNext) =>
        val nav = parseNavTerm(term).getOrElse(
          throw new IllegalArgumentException(s"bad IS NULL term: $term"))
        require(!nav.isInstanceOf[NavLit], s"IS NULL of a literal: $term")
        return NavNullPx(nav, negated = not != null)
      case _ => ()
    }
    if (navMentioned(t, allowNext)) t match {
      case cmpSplitRe(lhs, op, rhs) =>
        val l = parseNavTerm(lhs).getOrElse(throw new IllegalArgumentException(
          s"unsupported navigation term: $lhs"))
        val r = parseNavTerm(rhs).getOrElse(throw new IllegalArgumentException(
          s"unsupported navigation term: $rhs"))
        NavCmpPx(l, op, r)
      case _ => throw new IllegalArgumentException(s"unsupported predicate term: $t")
    } else RowCmp(compileCmp(t))
  }

  private def cmpNum(op: String): (Double, Double) => Boolean = op match {
    case "="         => _ == _
    case "<>" | "!=" => _ != _
    case "<"         => _ < _
    case "<="        => _ <= _
    case ">"         => _ > _
    case ">="        => _ >= _
  }

  private def compileCmp(t: String): Event => Boolean = {
    t match {
      case cmpRe(field, op, strLit, numLit) =>
        val fl = field.toLowerCase
        if (strLit != null) {
          require(fl == "event_type", s"string comparison on non-string field $field")
          op match {
            case "="         => e => e.event_type == strLit
            case "<>" | "!=" => e => e.event_type != strLit
            case _ => throw new IllegalArgumentException(s"unsupported string op $op")
          }
        } else {
          val x = numLit.toDouble
          val get: Event => Double = fl match {
            case "value"    => _.value
            case "user_id"  => _.user_id.toDouble
            case "event_id" => _.event_id.toDouble
            case _ => throw new IllegalArgumentException(s"unknown numeric field $field")
          }
          val c = cmpNum(op)
          e => c(get(e), x)
        }
      case _ => throw new IllegalArgumentException(s"unsupported predicate term: $t")
    }
  }

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

  /** Compile one DEFINE body. The engine-internal sentinel row never
    * matches. Same-variable SUM/COUNT against a literal keep the
    * incremental (cnt, sum) fast path; aggregates over ANOTHER variable,
    * MIN/MAX/AVG, and field-valued RHS go through the cross-variable path
    * reading the partial match's per-variable rows (ref NFA.java DEFINE
    * evaluation against SharedBuffer.java's partial-match rows). */
  def compileDefine(varName: String, text: String,
                    subsets: Map[String, Seq[String]] = Map.empty,
                    allowNext: Boolean = false): CompiledDefine = {
    val ast = new PredParser(text, allowNext).parse()
    // SUBSET union resolution inside DEFINE (r13 — SUBSET itself is in the
    // reference's unsupported list, match_recognize.md:1119, which names
    // "using those groups in the DEFINE and MEASURES clauses" as the
    // feature): a subset name reads the CONCATENATION of its members' rows
    // matched so far, merged into partition order (ts, event_id) so
    // navigation offsets over the union are well-defined.
    def rowsOf(vars: Map[String, IndexedSeq[Event]], v: String): IndexedSeq[Event] =
      subsets.get(v) match {
        case Some(members) =>
          members.flatMap(vars.apply)
            .sortBy(ev => (ev.ts.getTime, ev.event_id)).toIndexedSeq
        case None => vars(v)
      }
    // the candidate row counts as the latest when the reference names the
    // defining variable — directly or through a subset containing it
    def includesSelf(v: String): Boolean =
      v == varName || subsets.get(v).exists(_.contains(varName))
    // aggregates: only top-level AND conjuncts of the variable's DEFINE
    def split(p: Px): (List[Px], List[AggCmp]) = p match {
      case PAnd(l, r) =>
        val (rl, al) = split(l); val (rr, ar) = split(r)
        (rl ++ rr, al ++ ar)
      case a: AggCmp => (Nil, List(a))
      case other =>
        require(!containsAgg(other),
          "aggregate DEFINE terms are supported only as top-level AND conjuncts")
        (List(other), Nil)
    }
    def containsAgg(p: Px): Boolean = p match {
      case _: AggCmp => true
      case PAnd(l, r) => containsAgg(l) || containsAgg(r)
      case POr(l, r) => containsAgg(l) || containsAgg(r)
      case PNot(x) => containsAgg(x)
      case _ => false
    }
    // navigation atoms participate in FULL boolean positions (the
    // reference's flagship DEFINE puts LAST(...) under OR) — they need the
    // partial match's per-variable rows, so any sub-expression containing
    // one routes through the xagg evaluation slot
    def containsNav(p: Px): Boolean = p match {
      case _: NavCmpPx | _: NavNullPx => true
      case PAnd(l, r) => containsNav(l) || containsNav(r)
      case POr(l, r) => containsNav(l) || containsNav(r)
      case PNot(x) => containsNav(x)
      case _ => false
    }
    def navVarsOf(p: Px): Set[String] = {
      def ofTerm(t: NavTerm): Set[String] = t match {
        case NavOf(_, v, _, _, _) => Set(v)
        case NavQual(v, _) if v != varName => Set(v)
        case _ => Set.empty
      }
      p match {
        case NavCmpPx(l, _, r) => ofTerm(l) ++ ofTerm(r)
        case NavNullPx(t, _) => ofTerm(t)
        case PAnd(l, r) => navVarsOf(l) ++ navVarsOf(r)
        case POr(l, r) => navVarsOf(l) ++ navVarsOf(r)
        case PNot(x) => navVarsOf(x)
        case _ => Set.empty
      }
    }
    def evalRow(p: Px, e: Event): Boolean = p match {
      case RowCmp(f) => f(e)
      case PAnd(l, r) => evalRow(l, e) && evalRow(r, e)
      case POr(l, r) => evalRow(l, e) || evalRow(r, e)
      case PNot(x) => !evalRow(x, e)
      case _: AggCmp => true // stripped into the agg predicates
      case _ => throw new IllegalStateException("nav atom on the row-only path")
    }
    // resolve qualified fields: the defining variable's own qualifier is
    // the current row; any other variable is LAST(W.field, 0) over the
    // rows W has matched so far (the reference's running semantics)
    def resolveTerm(t: NavTerm): NavTerm = t match {
      case NavQual(v, f) if v == varName => NavCur(f)
      case NavQual(v, f) => NavOf("LAST", v, f, 0)
      case other => other
    }
    def fieldOf(e: Event, f: String): Double = f match {
      case "value" => e.value
      case "user_id" => e.user_id.toDouble
      case _ => e.event_id.toDouble
    }
    // NULL-aware term evaluation: None = SQL NULL (offset out of range)
    def evalTerm(t: NavTerm, vars: Map[String, IndexedSeq[Event]],
                 e: Event): Option[Double] = resolveTerm(t) match {
      case NavLit(x) => Some(x)
      case NavCur(f) => Some(fieldOf(e, f))
      case NavOf(fn, v, f, n, scale) =>
        // the candidate row counts as the variable's latest row when the
        // navigation targets the variable being defined (ref semantics:
        // LAST(A.price, 0) inside DEFINE A is the current row)
        val rows = if (includesSelf(v)) rowsOf(vars, v) :+ e else rowsOf(vars, v)
        val idx = if (fn == "LAST") rows.length - 1 - n else n
        if (idx >= 0 && idx < rows.length) Some(scale * fieldOf(rows(idx), f))
        else None
      case q: NavQual => throw new IllegalStateException(s"unresolved $q")
      // physical offsets never reach this path: containsPhys routes any
      // conjunct holding one to the (buffer, index) evaluation slot
      case _: NavPrev | _: NavNext =>
        throw new IllegalStateException("physical offset on the logical path")
    }
    def evalX(p: Px, vars: Map[String, IndexedSeq[Event]], e: Event): Boolean =
      p match {
        case RowCmp(f) => f(e)
        case NavCmpPx(l, op, r) =>
          (evalTerm(l, vars, e), evalTerm(r, vars, e)) match {
            case (Some(a), Some(b)) => cmpNum(op)(a, b)
            case _ => false // NULL comparison is UNKNOWN → false
          }
        case NavNullPx(t, neg) =>
          val isNull = evalTerm(t, vars, e).isEmpty
          if (neg) !isNull else isNull
        case PAnd(l, r) => evalX(l, vars, e) && evalX(r, vars, e)
        case POr(l, r) => evalX(l, vars, e) || evalX(r, vars, e)
        case PNot(x) => !evalX(x, vars, e)
        case _: AggCmp => true
      }
    // physical offsets: a sub-expression containing a PREV atom routes to
    // the (buffer, index) evaluation slot; it may mix current-row fields
    // and literals but NOT logical navigation or cross-variable terms —
    // those live in different evaluation contexts (kept as separate
    // top-level conjuncts they compose freely)
    def isPhysTerm(t: NavTerm): Boolean =
      t.isInstanceOf[NavPrev] || t.isInstanceOf[NavNext]
    def containsPhys(p: Px): Boolean = p match {
      case NavCmpPx(l, _, r) => isPhysTerm(l) || isPhysTerm(r)
      case NavNullPx(t, _) => isPhysTerm(t)
      case PAnd(l, r) => containsPhys(l) || containsPhys(r)
      case POr(l, r) => containsPhys(l) || containsPhys(r)
      case PNot(x) => containsPhys(x)
      case _ => false
    }
    def physDepthOf(p: Px): Int = {
      def ofTerm(t: NavTerm): Int = t match {
        case NavPrev(_, n, _, q) =>
          q.foreach(v => require(v == varName,
            s"PREV qualifier $v inside DEFINE $varName must name the defined variable"))
          n
        // NEXT reads FORWARD — no decided-row history to retain across
        // drains (and batch mode's single drain never truncates anyway);
        // only the qualifier needs validating
        case NavNext(_, _, _, q) =>
          q.foreach(v => require(v == varName,
            s"NEXT qualifier $v inside DEFINE $varName must name the defined variable"))
          0
        case _ => 0
      }
      p match {
        case NavCmpPx(l, _, r) => math.max(ofTerm(l), ofTerm(r))
        case NavNullPx(t, _) => ofTerm(t)
        case PAnd(l, r) => math.max(physDepthOf(l), physDepthOf(r))
        case POr(l, r) => math.max(physDepthOf(l), physDepthOf(r))
        case PNot(x) => physDepthOf(x)
        case _ => 0
      }
    }
    def evalPhysTerm(t: NavTerm, buf: IndexedSeq[Event], idx: Int,
                     e: Event): Option[Double] = t match {
      case NavLit(x) => Some(x)
      case NavCur(f) => Some(fieldOf(e, f))
      case NavQual(v, f) =>
        require(v == varName,
          s"cross-variable field $v.$f cannot share a conjunct with PREV")
        Some(fieldOf(e, f))
      case NavPrev(f, n, scale, _) =>
        // idx is the candidate's position in the retained buffer; rows
        // before buf(0) are before the partition start (the matcher keeps
        // physDepth decided rows of history across drains)
        if (idx - n >= 0) Some(scale * fieldOf(buf(idx - n), f)) else None
      case NavNext(f, n, scale, _) =>
        // batch mode: the single atEnd drain holds the WHOLE partition,
        // so buf past idx is the partition's actual future; off the
        // partition end → SQL NULL (mirror of PREV off the start)
        if (idx + n < buf.length) Some(scale * fieldOf(buf(idx + n), f)) else None
      case o: NavOf => throw new IllegalArgumentException(
        s"logical navigation ${o.fn} cannot share a conjunct with PREV/NEXT")
    }
    def evalPhys(p: Px, buf: IndexedSeq[Event], idx: Int, e: Event): Boolean =
      p match {
        case RowCmp(f) => f(e)
        case NavCmpPx(l, op, r) =>
          (evalPhysTerm(l, buf, idx, e), evalPhysTerm(r, buf, idx, e)) match {
            case (Some(a), Some(b)) => cmpNum(op)(a, b)
            case _ => false // NULL comparison is UNKNOWN → false
          }
        case NavNullPx(t, neg) =>
          val isNull = evalPhysTerm(t, buf, idx, e).isEmpty
          if (neg) !isNull else isNull
        case PAnd(l, r) => evalPhys(l, buf, idx, e) && evalPhys(r, buf, idx, e)
        case POr(l, r) => evalPhys(l, buf, idx, e) || evalPhys(r, buf, idx, e)
        case PNot(x) => !evalPhys(x, buf, idx, e)
        case _: AggCmp => true
      }
    val (rowParts0, aggParts) = split(ast)
    val (navParts0, rowParts) = rowParts0.partition(containsNav)
    val (physParts, navParts) = navParts0.partition(containsPhys)
    aggParts.foreach { a =>
      a.rhsField.foreach { rf =>
        val q = rf.split("\\.")(0)
        require(q == varName,
          s"aggregate RHS field $rf inside DEFINE $varName must reference the " +
            "defined variable (the current row) in this subset")
      }
    }
    val (fastParts, xParts) = aggParts.partition(a =>
      a.variable == varName && a.lit.isDefined && !a.distinct &&
        (a.fn == "SUM" || a.fn == "COUNT"))
    val rowPred: Event => Boolean = { e =>
      e.event_type != "__sentinel" && rowParts.forall(evalRow(_, e))
    }
    val agg: Option[(Int, Double, Event) => Boolean] =
      if (fastParts.isEmpty) None
      else Some { (cnt, sum, e) =>
        fastParts.forall { a =>
          val c = cmpNum(a.op)
          a.fn match {
            case "SUM" => c(sum + e.value, a.lit.get)
            case _     => c(cnt + 1.0, a.lit.get) // COUNT incl. the candidate
          }
        }
      }
    val xaggAgg: Option[(Map[String, IndexedSeq[Event]], Event) => Boolean] =
      if (xParts.isEmpty) None
      else Some { (vars, e) =>
        xParts.forall { a =>
          val rows0 = rowsOf(vars, a.variable)
          // own-variable aggregates are RUNNING: include the candidate row
          // (directly or through a subset containing the defined variable)
          val rows = if (includesSelf(a.variable)) rows0 :+ e else rows0
          val rhs: Double = a.lit.getOrElse(a.rhsField.get.split("\\.")(1) match {
            case "value"    => e.value
            case "user_id"  => e.user_id.toDouble
            case _          => e.event_id.toDouble
          })
          val c = cmpNum(a.op)
          // DISTINCT (r14): aggregate the variable's distinct VALUES
          def vals = { val v = rows.map(_.value); if (a.distinct) v.distinct else v }
          a.fn match {
            case "COUNT"            => c(vals.length.toDouble, rhs)
            // SUM/MIN/MAX/AVG of no rows is SQL NULL: comparison is false
            case _ if rows.isEmpty  => false
            case "SUM"              => c(vals.sum, rhs)
            case "MIN"              => c(vals.min, rhs)
            case "MAX"              => c(vals.max, rhs)
            case _                  => c(vals.sum / vals.length, rhs)
          }
        }
      }
    // navigation conjuncts evaluate the FULL sub-expression (row atoms
    // included — they share OR/NOT structure with the nav atoms)
    val xnav: Option[(Map[String, IndexedSeq[Event]], Event) => Boolean] =
      if (navParts.isEmpty) None
      else Some { (vars, e) => navParts.forall(evalX(_, vars, e)) }
    val xagg: Option[(Map[String, IndexedSeq[Event]], Event) => Boolean] =
      (xaggAgg, xnav) match {
        case (None, None) => None
        case (a, b) => Some((vars, e) =>
          a.forall(_(vars, e)) && b.forall(_(vars, e)))
      }
    // physical-offset conjuncts: validate the WHOLE shape at compile time
    // (the subset's loud-reject convention — a bad DEFINE must fail at
    // parse, not inside an executor task): no logical navigation and no
    // cross-variable fields may share a conjunct with PREV, and a PREV
    // qualifier must name the defining variable (physDepthOf checks it)
    def validatePhysTerm(t: NavTerm): Unit = t match {
      case o: NavOf => throw new IllegalArgumentException(
        s"logical navigation ${o.fn} cannot share a conjunct with PREV")
      case NavQual(v, f) => require(v == varName,
        s"cross-variable field $v.$f cannot share a conjunct with PREV")
      case _ => ()
    }
    def validatePhys(p: Px): Unit = p match {
      case NavCmpPx(l, _, r) => validatePhysTerm(l); validatePhysTerm(r)
      case NavNullPx(t, _) => validatePhysTerm(t)
      case PAnd(l, r) => validatePhys(l); validatePhys(r)
      case POr(l, r) => validatePhys(l); validatePhys(r)
      case PNot(x) => validatePhys(x)
      case _ => ()
    }
    physParts.foreach(validatePhys)
    val pDepth = physParts.map(physDepthOf).foldLeft(0)(math.max)
    val phys: Option[(IndexedSeq[Event], Int, Event) => Boolean] =
      if (physParts.isEmpty) None
      else Some { (buf, idx, e) => physParts.forall(evalPhys(_, buf, idx, e)) }
    CompiledDefine(rowPred, agg, xagg,
      aggParts.map(_.variable).toSet ++ navParts.flatMap(navVarsOf),
      phys = phys, physDepth = pDepth)
  }

  /** Back-compat shim for row-only predicates (parser spec entry point). */
  private[streaming] def compilePred(text: String): Event => Boolean =
    compileDefine("_", text).rowPred

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
    val varIdx = spec.pattern.map(_._1).zipWithIndex.toMap
    val measures = spec.measures
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
    if (spec.allRows) return runAllRows(s, spec, out, sqlText, altOrderOf, batch)
    // ONE ROW PER MATCH: evaluate each measure from the match's rows and
    // the per-step segmentation (counts). FIRST/LAST/aggregates on an
    // empty optional variable are NULL, per the standard. Long-valued and
    // double-valued measures land in two parallel arrays; `slots` records
    // each measure's (array, index).
    val isDouble: Measure => Boolean = {
      case _: ValAggM               => true
      case FirstM(_, _, "value", _) => true
      case LastM(_, _, "value", _)  => true
      case _                        => false
    }
    val slots: Seq[(String, Int)] = {
      var li = 0; var di = 0
      measures.map { mm =>
        if (isDouble(mm)) { val r = ("__d", di); di += 1; r }
        else { val r = ("__m", li); li += 1; r }
      }
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = out.map { m =>
      val offs = m.counts.scanLeft(0)(_ + _)
      val longs = Seq.newBuilder[Option[Long]]
      val dbls = Seq.newBuilder[Option[Double]]
      // variable positions follow the alternative that actually matched;
      // under a grouped repetition a variable occupies SEVERAL positions —
      // its measure segments are the concatenation across occurrences
      val altOrder = altOrderOf(m.alt)
      measures.foreach { meas =>
        // a measure variable may be a SUBSET name: match any member
        val names: Set[String] = spec.subsets.getOrElse(
          meas.variable.toUpperCase, Seq(meas.variable.toUpperCase)).toSet
        val poss = altOrder.zipWithIndex.collect {
          case (v, i) if names(v) => i }
        val cnt = poss.map(m.counts(_)).sum
        def idSeg = poss.flatMap(i => m.ids.slice(offs(i), offs(i) + m.counts(i)))
        def valSeg = poss.flatMap(i => m.vals.slice(offs(i), offs(i) + m.counts(i)))
        meas match {
          case _: MatchNumM => longs += Some(m.seq)
          case _: MatchRowtimeM => longs += Some(m.lastTsMicros)
          case CountM(_, _, dist) =>
            longs += Some(if (dist) valSeg.distinct.size.toLong else cnt.toLong)
          // logical offsets (FIRST/LAST(V.f, n)): out of range → NULL
          case FirstM(_, _, "value", off) =>
            dbls += (if (off >= cnt) None else Some(round6(valSeg(off))))
          case LastM(_, _, "value", off) =>
            dbls += (if (off >= cnt) None else Some(round6(valSeg(cnt - 1 - off))))
          case FirstM(_, _, _, off) =>
            longs += (if (off >= cnt) None else Some(idSeg(off)))
          case LastM(_, _, _, off) =>
            longs += (if (off >= cnt) None else Some(idSeg(cnt - 1 - off)))
          case ValAggM(fn, _, _, dist) =>
            val vs = if (dist) valSeg.distinct else valSeg
            dbls += (if (cnt == 0) None else Some(round6(fn match {
              case "SUM" => vs.sum
              case "MIN" => vs.min
              case "MAX" => vs.max
              case _     => vs.sum / vs.size // AVG
            })))
        }
      }
      (m.user_id, longs.result(), dbls.result())
    }.toDF("__pk", "__m", "__d")
    val name = "sql_match_" + Integer.toHexString(sqlText.hashCode).takeWhile(_ != '-')
    val drained =
      if (batch) rows else StreamSource.runToTable(s, rows, name, "append")
    val cols = spec.selectCols.map { c =>
      if (c.equalsIgnoreCase(spec.partitionCol)) col("__pk").as(c)
      else {
        val mi = measures.indexWhere(_.alias.equalsIgnoreCase(c))
        require(mi >= 0, s"SELECT column $c is neither the partition key nor a measure")
        val (arr, idx) = slots(mi)
        val raw = col(arr).getItem(idx)
        // MATCH_ROWTIME travels the long array as micros; surface a timestamp
        if (measures(mi).isInstanceOf[MatchRowtimeM])
          timestamp_micros(raw).as(c)
        else raw.as(c)
      }
    }
    drained.select(cols: _*).orderBy(spec.selectCols.map(col): _*)
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

  private val classifierRe = "(?i)^CLASSIFIER\\s*\\(\\s*\\)\\s+AS\\s+(\\w+)$".r
  private val matchNumSelRe = "(?i)^MATCH_NUMBER\\s*\\(\\s*\\)\\s+AS\\s+(\\w+)$".r

  /** ALL ROWS PER MATCH: one output row per matched input row — the row's
    * event_id/value plus CLASSIFIER() (the pattern variable that matched
    * it) and MATCH_NUMBER() (the match's per-partition sequence number).
    * An event matched by several overlapping matches appears once per
    * match, per the standard. */
  private def aliasOf(mm: Measure): String = mm match {
    case FirstM(_, a, _, _)  => a
    case LastM(_, a, _, _)   => a
    case CountM(_, a, _)     => a
    case ValAggM(_, _, a, _) => a
    case MatchNumM(a)        => a
    case MatchRowtimeM(a)    => a
  }

  private def runAllRows(s: SparkSession, spec: Spec,
                         out: org.apache.spark.sql.Dataset[Cep.Match],
                         sqlText: String,
                         altOrderOf: Int => Seq[String],
                         batch: Boolean = false): DataFrame = {
    import s.implicits._
    val measures = spec.measures
    val isDouble: Measure => Boolean = {
      case _: ValAggM               => true
      case FirstM(_, _, "value", _) => true
      case LastM(_, _, "value", _)  => true
      case _                        => false
    }
    val slots: Seq[(Boolean, Int)] = {
      var li = 0; var di = 0
      measures.map { mm =>
        if (isDouble(mm)) { val r = (true, di); di += 1; r }
        else { val r = (false, li); li += 1; r }
      }
    }
    val subsets = spec.subsets
    // measure indexes declared FINAL: their ALL ROWS emission shows the
    // match-final value (= the running value at the LAST row) on every row
    val finals: Seq[Int] = measures.zipWithIndex.collect {
      case (mm, i) if spec.finalAliases.contains(aliasOf(mm).toLowerCase) => i
    }
    def round6(x: Double): Double =
      BigDecimal(x).setScale(6, scala.math.BigDecimal.RoundingMode.HALF_UP).toDouble
    val rows = out.flatMap { m =>
      // classifier names follow the alternative that actually matched —
      // under PERMUTE a non-first permutation reorders the variables.
      val varNames = altOrderOf(m.alt)
      val classifiers = m.counts.zipWithIndex.flatMap { case (c, i) =>
        Seq.fill(c)(varNames(i)) }
      // RUNNING measures (the ALL ROWS default, SQL:2016 / ref semantics):
      // row j sees each measure over the match's rows 0..j
      val nameSets: Seq[Set[String]] = measures.map {
        case _: MatchNumM => Set.empty[String]
        case mm => subsets.getOrElse(mm.variable.toUpperCase,
          Seq(mm.variable.toUpperCase)).toSet
      }
      val k = measures.length
      val cnts = Array.fill(k)(0L)
      // per-measure (id, value) rows seen so far — RUNNING navigation
      // (FIRST/LAST with logical offsets) reads positions from this list
      val seen = Array.fill(k)(
        scala.collection.mutable.ArrayBuffer.empty[(Long, Double)])
      val sums = Array.fill(k)(0.0)
      val mins = Array.fill(k)(Double.MaxValue)
      val maxs = Array.fill(k)(Double.MinValue)
      val emissions = m.ids.indices.map { j =>
        val cls = classifiers(j)
        measures.indices.foreach { i =>
          if (nameSets(i)(cls)) {
            cnts(i) += 1
            seen(i) += ((m.ids(j), m.vals(j)))
            sums(i) += m.vals(j)
            mins(i) = math.min(mins(i), m.vals(j))
            maxs(i) = math.max(maxs(i), m.vals(j))
          }
        }
        val longs = Seq.newBuilder[Option[Long]]
        val dbls = Seq.newBuilder[Option[Double]]
        measures.zipWithIndex.foreach { case (mm, i) =>
          def at(idx: Int): Option[(Long, Double)] =
            if (idx >= 0 && idx < seen(i).length) Some(seen(i)(idx)) else None
          mm match {
            case _: MatchRowtimeM => throw new IllegalStateException(
              "MATCH_ROWTIME is parse-rejected in ALL ROWS mode")
            case _: MatchNumM => longs += Some(m.seq)
            case CountM(_, _, dist) =>
              longs += Some(if (dist) seen(i).map(_._2).distinct.size.toLong
                            else cnts(i))
            case FirstM(_, _, "value", off) => dbls += at(off).map(p => round6(p._2))
            case LastM(_, _, "value", off) =>
              dbls += at(seen(i).length - 1 - off).map(p => round6(p._2))
            case FirstM(_, _, _, off) => longs += at(off).map(_._1)
            case LastM(_, _, _, off) =>
              longs += at(seen(i).length - 1 - off).map(_._1)
            case ValAggM(fn, _, _, dist) =>
              // RUNNING DISTINCT reads the rows-seen-so-far buffer the
              // navigation offsets already carry (the "state the matcher
              // already carries" — VERDICT r13 #4)
              def vs = seen(i).map(_._2).distinct
              dbls += (if (cnts(i) == 0) None
                       else Some(round6((fn, dist) match {
                         case ("SUM", true)  => vs.sum
                         case ("AVG", true)  => vs.sum / vs.size
                         case ("SUM", _) => sums(i)
                         case ("MIN", _) => mins(i)
                         case ("MAX", _) => maxs(i)
                         case _          => sums(i) / cnts(i)
                       })))
          }
        }
        (longs.result(), dbls.result())
      }
      // FINAL measures: substitute the last row's (= the match-final)
      // value into every row's emission at that measure's slot
      val finL = emissions.lastOption.map(_._1).getOrElse(Seq.empty)
      val finD = emissions.lastOption.map(_._2).getOrElse(Seq.empty)
      // exclusion {- X -} (r14): excluded variables' rows participated in
      // the match and in every RUNNING/FINAL measure above — they are
      // only suppressed from the OUTPUT here
      m.ids.indices.iterator
        .filter(j => !spec.excluded.contains(classifiers(j)))
        .map { j =>
        var lo = emissions(j)._1
        var db = emissions(j)._2
        finals.foreach { i =>
          val (isD, slot) = slots(i)
          if (isD) db = db.updated(slot, finD(slot))
          else lo = lo.updated(slot, finL(slot))
        }
        (m.user_id, m.ids(j), m.vals(j), classifiers(j), m.seq, lo, db)
      }
    }.toDF("__pk", "__row_id", "__val", "__cls", "__mn", "__ml", "__md")
    val name = "sql_matchr_" + Integer.toHexString(sqlText.hashCode).takeWhile(_ != '-')
    val drained =
      if (batch) rows else StreamSource.runToTable(s, rows, name, "append")
    val aliasSlot: Map[String, (Boolean, Int)] =
      measures.zip(slots).map { case (mm, sl) => aliasOf(mm).toLowerCase -> sl }.toMap
    val pairs = spec.selectCols.map {
      case classifierRe(alias) => (col("__cls").as(alias), alias)
      case matchNumSelRe(alias) => (col("__mn").as(alias), alias)
      case c if c.equalsIgnoreCase(spec.partitionCol) => (col("__pk").as(c), c)
      case c if c.equalsIgnoreCase("event_id") => (col("__row_id").as(c), c)
      case c if c.equalsIgnoreCase("value") => (col("__val").as(c), c)
      case c if aliasSlot.contains(c.toLowerCase) =>
        val (d, i) = aliasSlot(c.toLowerCase)
        (org.apache.spark.sql.functions.element_at(
          col(if (d) "__md" else "__ml"), i + 1).as(c), c)
      case c => throw new IllegalArgumentException(
        s"ALL ROWS PER MATCH select supports the partition key, event_id, value, CLASSIFIER(), MATCH_NUMBER(), and measure aliases; got $c")
    }
    drained.select(pairs.map(_._1): _*).orderBy(pairs.map(p => col(p._2)): _*)
  }

  // ------------------------------------------------------------- queries

  /** PATTERN (A+ B) greedy with SKIP TO NEXT ROW — the SQL text form of
    * the programmatic cepPlus query. */
  val matchPlusSql: String =
    """SELECT user_id, a_id, b_id, n_a FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_id, LAST(B.event_id) AS b_id,
      |           COUNT(A.*) AS n_a
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A+ B)
      |  DEFINE A AS event_type <> 'error', B AS event_type = 'purchase'
      |)""".stripMargin

  /** Strict PATTERN (A B C) funnel in SQL. */
  val matchStrictSql: String =
    """SELECT user_id, a_id, b_id, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, B.event_id AS b_id, C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B C)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  /** PATTERN (A{2} B) with value-aggregate measures over the A pair. */
  val matchSumSql: String =
    """SELECT user_id, a_id, a_sum, a_avg, b_val, n_a FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_id, SUM(A.value) AS a_sum,
      |           AVG(A.value) AS a_avg, LAST(B.value) AS b_val,
      |           COUNT(A.*) AS n_a
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A{2} B)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
      |)""".stripMargin

  /** Strict funnel bounded by WITHIN: the view→click→purchase triple must
    * complete inside 1 day of event time (ref Pattern#within / the SQL
    * WITHIN clause — also the matcher's state-pruning bound). */
  val matchWithinSql: String =
    """SELECT user_id, a_id, b_id, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, B.event_id AS b_id, C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B C) WITHIN INTERVAL '1' DAY
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  /** Strict funnel in ALL ROWS PER MATCH mode with CLASSIFIER(). */
  val matchAllRowsSql: String =
    """SELECT user_id, event_id, CLASSIFIER() AS cls FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B C)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  /** ALL ROWS PER MATCH with RUNNING MEASURES (r12 — the reference allows
    * both clauses together; the standard's ALL ROWS default is RUNNING
    * semantics): every emitted row carries COUNT(A.*) and SUM over the
    * SUBSET union as seen up to that row. */
  val matchAllRowsMeasuresSql: String =
    """SELECT user_id, event_id, CLASSIFIER() AS cls, n_a, run_sum FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES COUNT(A.*) AS n_a, SUM(U.value) AS run_sum
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A{2} B C)
      |  SUBSET U = (A, B, C)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  /** FINAL vs RUNNING prefixes in ALL ROWS mode (r12): the running count
    * climbs 1..4 down the match while the FINAL twin shows 4 on every
    * row, and the FINAL sum is the whole match's total everywhere. */
  val matchAllRowsFinalSql: String =
    """SELECT user_id, event_id, CLASSIFIER() AS cls, n_run, n_fin, total FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES RUNNING COUNT(U.*) AS n_run, FINAL COUNT(U.*) AS n_fin,
      |           FINAL SUM(U.value) AS total
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A{2} B C)
      |  SUBSET U = (A, B, C)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  /** Parenthesized + negated DEFINE predicates (grammar depth: the
    * reference's DEFINE accepts full boolean expressions). */
  val matchParenSql: String =
    """SELECT user_id, a_id, b_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, B.event_id AS b_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B)
      |  DEFINE A AS (event_type = 'view' OR event_type = 'click') AND NOT (value < 1),
      |         B AS event_type = 'purchase'
      |)""".stripMargin

  /** Running aggregate in DEFINE: each A row must keep SUM(A.value)
    * within the bound (ref: DEFINE evaluated against the partial match's
    * shared buffer — aggregates see the rows matched so far). */
  val matchAggDefSql: String =
    """SELECT user_id, a_id, a_sum, b_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_id, SUM(A.value) AS a_sum,
      |           B.event_id AS b_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A{2} B)
      |  DEFINE A AS event_type = 'view' AND SUM(A.value) <= 150,
      |         B AS event_type = 'purchase'
      |)""".stripMargin

  /** AFTER MATCH SKIP TO LAST B: the scan resumes AT the last B row.
    * With disjoint A/B predicates the emitted set equals per-start
    * evaluation with maximal B runs (the overlap-sensitive cases are
    * pinned by fixture in MatchRecognizeSqlSpec). */
  val matchSkipLastSql: String =
    """SELECT user_id, a_id, b_first, b_last, n_b FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, FIRST(B.event_id) AS b_first,
      |           LAST(B.event_id) AS b_last, COUNT(B.*) AS n_b
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO LAST B
      |  PATTERN (A B+)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click'
      |)""".stripMargin

  /** PATTERN (PERMUTE(A, B)): the two variables in either order. */
  val matchPermuteSql: String =
    """SELECT user_id, a_id, b_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, B.event_id AS b_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (PERMUTE(A, B))
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click'
      |)""".stripMargin

  /** MATCH_NUMBER() in MEASURES: each view→purchase pair numbered
    * sequentially within its partition in match-start order. */
  val matchNumberSql: String =
    """SELECT user_id, a_id, b_id, mn FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, B.event_id AS b_id,
      |           MATCH_NUMBER() AS mn
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
      |)""".stripMargin

  /** Multi-occurrence pattern variables: PATTERN ((A B)* A) — A appears in
    * both the group body and the tail; greedy maximal alternating
    * view(click view)* run from each start row. */
  val matchMultiSql: String =
    """SELECT user_id, a_first, a_last, n_a, n_b FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_first, LAST(A.event_id) AS a_last,
      |           COUNT(A.*) AS n_a, COUNT(B.*) AS n_b
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN ((A B)* A)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click'
      |)""".stripMargin

  /** Grouped repetition DEEP: always-true DEFINEs make the greedy loop
    * consume a whole partition — the largest sf0.01 key has 86 events, so
    * the first match runs 42 group repetitions, far past any fixed cap
    * (VERDICT r8 task 2's planted >12-repetition witness; the r8 engine
    * would have truncated this at 12). SKIP PAST LAST ROW then matches the
    * single leftover row on even-sized partitions. */
  val matchMultiDeepSql: String =
    """SELECT user_id, a_first, a_last, n_a, n_b FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_first, LAST(A.event_id) AS a_last,
      |           COUNT(A.*) AS n_a, COUNT(B.*) AS n_b
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN ((A B)* A)
      |  DEFINE A AS value >= 0, B AS value >= 0
      |)""".stripMargin

  /** Cross-variable DEFINE aggregate: B's predicate reads SUM over A's
    * matched rows (ref NFA.java DEFINE evaluation against the shared
    * buffer) — a purchase closes the view run only if the run's value
    * total exceeds the purchase's own value. */
  val matchXvarSql: String =
    """SELECT user_id, a_first, a_sum, b_id, n_a FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_first, SUM(A.value) AS a_sum,
      |           B.event_id AS b_id, COUNT(A.*) AS n_a
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A+ B)
      |  DEFINE A AS event_type = 'view',
      |         B AS event_type = 'purchase' AND SUM(A.value) > B.value
      |)""".stripMargin

  /** Cross-variable MIN against a literal — exercises the non-SUM branch
    * and the own-variable form routed through the shared-rows path. */
  val matchXvarMinSql: String =
    """SELECT user_id, a_first, a_min, b_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_first, MIN(A.value) AS a_min,
      |           B.event_id AS b_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A{2} B)
      |  DEFINE A AS event_type = 'view',
      |         B AS event_type = 'purchase' AND MIN(A.value) < 50
      |)""".stripMargin

  /** SUBSET union variable: U = (A, B) aggregated across both members. */
  val matchSubsetSql: String =
    """SELECT user_id, u_first, u_last, n_u, u_sum FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(U.event_id) AS u_first, LAST(U.event_id) AS u_last,
      |           COUNT(U.*) AS n_u, SUM(U.value) AS u_sum
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B)
      |  SUBSET U = (A, B)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click'
      |)""".stripMargin

  /** The reference's FLAGSHIP V-pattern (match_recognize.md:538-545 /
    * the overview example at :180-260, re-keyed onto the events table):
    * a price down-run then an up-tick, expressed entirely with
    * logical-offset navigation — `LAST(DOWN.value, 1) IS NULL` opens the
    * run, cross-variable `DOWN.value < STRT.value` anchors it to the
    * start row, and UP closes it against the run's second-to-last value.
    * AFTER MATCH SKIP TO LAST UP resumes AT the up row (it can start the
    * next match as STRT — the reference's own skip choice there).
    *
    * Oracle derivation (declarative, exact): STRT is un-DEFINEd and DOWN
    * is greedy, so a match exists exactly once per maximal strictly-
    * decreasing run x_1..x_m (per user, (ts, event_id) order) with m >= 3
    * whose following row u satisfies u.value > x_{m-1}.value — interior
    * starts repeat the same final condition and are either consumed by
    * the covering match or fail with it, and backtracking below the
    * maximal run length can never satisfy UP (the run is decreasing). */
  val matchNavSql: String =
    """SELECT user_id, strt_id, bottom_id, n_down, penult, up_val FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES STRT.event_id AS strt_id, LAST(DOWN.event_id) AS bottom_id,
      |           COUNT(DOWN.*) AS n_down, LAST(DOWN.value, 1) AS penult,
      |           UP.value AS up_val
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO LAST UP
      |  PATTERN (STRT DOWN+ UP)
      |  DEFINE DOWN AS (LAST(DOWN.value, 1) IS NULL AND DOWN.value < STRT.value)
      |                 OR DOWN.value < LAST(DOWN.value, 1),
      |         UP AS UP.value > LAST(DOWN.value, 1)
      |)""".stripMargin

  /** Cross-variable aggregate conjunct against a LITERAL (r13, VERDICT
    * r12 task 5): B's DEFINE reads SUM over A's matched rows compared to
    * a constant (ref SharedBuffer.java — the literal-RHS twin of
    * matchXvarSql's field-RHS form). */
  val matchXaggSql: String =
    """SELECT user_id, a_first, n_a, b_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_first, COUNT(A.*) AS n_a,
      |           B.event_id AS b_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A+ B)
      |  DEFINE A AS event_type = 'view',
      |         B AS event_type = 'purchase' AND SUM(A.value) > 100
      |)""".stripMargin

  /** MATCH_ROWTIME() in MEASURES (r13 stretch — EXCEEDS the reference,
    * whose docs list the time-attribute output as wanted-but-unsupported,
    * match_recognize.md:1123): each view→purchase match carries the event
    * time of its last row as a real timestamp column. */
  val matchRowtimeSql: String =
    """SELECT user_id, a_id, b_id, mrt FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, B.event_id AS b_id,
      |           MATCH_ROWTIME() AS mrt
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
      |)""".stripMargin

  def matchRowtime(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchRowtimeSql)

  /** The CASCADE the reference's docs wish for: MATCH_RECOGNIZE output
    * windowed downstream — matches (from the streaming matcher) tumbled
    * into 1-day event-time windows keyed on MATCH_ROWTIME(). The window
    * consumes the drained match table (the standard handoff for a second
    * aggregation stage); window arithmetic is Spark's epoch-aligned
    * `window()`, replayed exactly by the oracle's integer-micros tumble. */
  def matchCascade(s: SparkSession, dir: String): DataFrame = {
    val m = run(s, dir, matchRowtimeSql)
    m.groupBy(window(col("mrt"), "1 day").as("w"))
      .agg(count(lit(1)).as("n_matches"))
      .select(col("w.start").as("win_start"), col("n_matches"))
      .orderBy("win_start")
  }

  def matchNav(s: SparkSession, dir: String): DataFrame = run(s, dir, matchNavSql)
  def matchXagg(s: SparkSession, dir: String): DataFrame = run(s, dir, matchXaggSql)

  /** DISTINCT aggregations in MEASURES (r14 — the LAST aggregation row of
    * the reference's unsupported list, match_recognize.md:1126-1127):
    * COUNT(DISTINCT A.value) and SUM(DISTINCT A.value) over each maximal
    * non-purchase run closed by a purchase. A matches ANY non-purchase
    * row so runs are long enough that the fixture's value column
    * genuinely repeats inside them (4 matches at sf0.01 have
    * n_dist < n_a — the DISTINCT is load-bearing, not trivially equal;
    * MatchRecognizeSqlSpec additionally pins the semantics on planted
    * duplicates). */
  val matchDistinctSql: String =
    """SELECT user_id, a_first, n_a, n_dist, sum_dist, b_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_first, COUNT(A.*) AS n_a,
      |           COUNT(DISTINCT A.value) AS n_dist,
      |           SUM(DISTINCT A.value) AS sum_dist,
      |           B.event_id AS b_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A+ B)
      |  DEFINE A AS event_type <> 'purchase',
      |         B AS event_type = 'purchase'
      |)""".stripMargin

  /** Pattern exclusion `{- A -}` in ALL ROWS PER MATCH (r14 — ref
    * match_recognize.md:1111-1112, "will be looked for but will not
    * participate in the output"): the view gates every match and feeds
    * the measures (n_a = 1, a_id = the view's id on every emitted row),
    * but only the click and purchase rows are output. */
  val matchExcludeSql: String =
    """SELECT user_id, event_id, CLASSIFIER() AS cls, n_a, a_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES COUNT(A.*) AS n_a, FIRST(A.event_id) AS a_id
      |  ALL ROWS PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN ({- A -} B C)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  def matchDistinct(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchDistinctSql)
  def matchExclude(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchExcludeSql)

  /** Physical offsets in DEFINE (r14 — PREV is on the reference's
    * unsupported list, match_recognize.md:1121-1122): the SQL:2016
    * ticker idiom, the flagship V-pattern spelled with PREV instead of
    * logical navigation. PREV walks the partition's INPUT rows whatever
    * variable they mapped to: at a DOWN candidate PREV(DOWN.value) is the
    * physically previous row (the prior DOWN, or STRT at the first), and
    * at the UP candidate PREV(UP.value, 2) reaches back across the last
    * DOWN to the penultimate one. Matches here are contiguous, so with
    * DOWN{2,} this query is row-for-row the logical-navigation
    * matchNavSql — the shared oracle IS the equivalence proof (and
    * MatchRecognizeSqlSpec pins the boundary case where PREV and LAST
    * genuinely differ). NEXT stays out of subset (forward lookahead —
    * the anchors argument), rejected loudly at parse. */
  val matchPrevSql: String =
    """SELECT user_id, strt_id, bottom_id, n_down, penult, up_val FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES STRT.event_id AS strt_id, LAST(DOWN.event_id) AS bottom_id,
      |           COUNT(DOWN.*) AS n_down, LAST(DOWN.value, 1) AS penult,
      |           UP.value AS up_val
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO LAST UP
      |  PATTERN (STRT DOWN{2,} UP)
      |  DEFINE DOWN AS DOWN.value < PREV(DOWN.value),
      |         UP AS UP.value > PREV(UP.value, 2)
      |)""".stripMargin

  def matchPrev(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchPrevSql)

  /** NEXT physical offsets in BATCH mode (r15 — completes the reference's
    * physical-navigation row, match_recognize.md:1121-1122: the docs
    * reject NEXT because a stream's later rows haven't arrived, an
    * argument void on a bounded partition where the single atEnd drain
    * holds every row). The SQL:2016 ascending-run idiom: UP matches while
    * the PHYSICALLY next row is larger, so greedy UP{2,} consumes a
    * maximal strictly-ascending run's rows up to (excluding) its peak and
    * TOP lands exactly on the peak — one match per maximal ascending run
    * of ≥ 3 rows, NEXT off the partition end evaluating to SQL NULL (the
    * run's last row never extends past end-of-data). Streaming keeps the
    * loud reject (MatchRecognizeSqlSpec pin unchanged); Round15Spec pins
    * the batch semantics and the end-of-partition NULL. */
  val matchNextSql: String =
    """SELECT user_id, strt_id, peak_id, n_up, peak_val FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(UP.event_id) AS strt_id, TOP.event_id AS peak_id,
      |           COUNT(UP.*) AS n_up, TOP.value AS peak_val
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (UP{2,} TOP)
      |  DEFINE UP AS UP.value < NEXT(UP.value)
      |)""".stripMargin

  def matchNext(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchNextSql)

  /** Unified batch/stream MATCH_RECOGNIZE (r15): the flagship V-pattern
    * (logical navigation, ONE ROW) and the CLASSIFIER funnel (ALL ROWS)
    * executed in BATCH mode over the bounded events table — the SAME
    * statements as their streaming twins, sharing those twins' oracles
    * verbatim. The shared oracle IS the batch ≡ stream equivalence proof
    * for the whole measure/emission layer (the reference's unified
    * planner runs MATCH_RECOGNIZE over bounded and unbounded inputs the
    * same way; here the bounded form additionally skips the sentinel and
    * memory-sink machinery — one atEnd drain, plain batch DataFrame out). */
  def matchNavBatch(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchNavSql)
  def matchAllRowsBatch(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchAllRowsSql)

  /** Full-grammar unified batch/stream (r16 — closes the r15 "plain
    * sequential subset" carve-out): PERMUTE and uncapped grouped
    * repetition executed in BATCH mode, sharing their streaming twins'
    * oracles verbatim (the q_sql_match_batch_nav proof pattern — the
    * hash equality IS the batch ≡ stream equivalence proof for the
    * alternation and loop machinery). */
  def matchPermuteBatch(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchPermuteSql)
  def matchMultiBatch(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchMultiSql)

  /** Anchors in BATCH mode (r15 — the last open row of the reference's
    * unsupported list, match_recognize.md:1109-1110: anchors "do not make
    * sense in the streaming context", an argument void on a bounded
    * partition). `^`: each user's OPENING engagement run — the partition
    * must START with non-purchase rows, closed by the first purchase; a
    * user whose first event is a purchase matches nothing, and no later
    * run can match (the anchor ends the scan). */
  val matchAnchorStartSql: String =
    """SELECT user_id, n_lead, first_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES COUNT(A.*) AS n_lead, FIRST(A.event_id) AS first_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (^ A+ B)
      |  DEFINE A AS event_type <> 'purchase', B AS event_type = 'purchase'
      |)""".stripMargin

  /** `$`: each user's TRAILING unconverted run — the LAST purchase
    * followed only by non-purchase rows through the partition's end.
    * Earlier purchases fail the anchor (their B+ run stops at the next
    * purchase, short of end-of-partition), so exactly the final-purchase
    * row anchors the match. */
  val matchAnchorEndSql: String =
    """SELECT user_id, a_id, n_tail FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, COUNT(B.*) AS n_tail
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (A B+ $)
      |  DEFINE A AS event_type = 'purchase', B AS event_type <> 'purchase'
      |)""".stripMargin

  /** Both anchors at once — the WHOLE-partition match `^ A+ $`: the
    * pattern must consume every row of the partition, here selecting the
    * users whose every event stays under the value threshold (one
    * over-threshold row anywhere breaks A+ before the end anchor, and
    * the start anchor forbids resuming past it). The fixture splits
    * ~40/60 on the 200 bound (per-user max(value) median ≈ 222), so the
    * anchors are load-bearing, not vacuously empty or vacuously full. */
  val matchAnchorBothSql: String =
    """SELECT user_id, n_events FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES COUNT(A.*) AS n_events
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP PAST LAST ROW
      |  PATTERN (^ A+ $)
      |  DEFINE A AS value < 200
      |)""".stripMargin

  def matchAnchorStart(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchAnchorStartSql)
  def matchAnchorEnd(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchAnchorEndSql)
  def matchAnchorBoth(s: SparkSession, dir: String): DataFrame =
    runBatch(s, dir, matchAnchorBothSql)

  // ---- r13: the full SQL:2016 quantifier set (ref match_recognize.md:
  // 352-359). B's predicate OVERLAPS C's so greedy-vs-reluctant is
  // load-bearing (29 rows differ at sf0.01, not just branch order).

  /** Greedy optional `B?`: prefer the B-present parse — a view, then
    * (greedily) one value>50 row IF a purchase follows it, else the
    * purchase directly. */
  val matchQOptSql: String =
    """SELECT user_id, a_id, b_id, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, B.event_id AS b_id, C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B? C)
      |  DEFINE A AS event_type = 'view', B AS value > 50,
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  /** Reluctant optional `B??` — in the reference's OWN unsupported list
    * (match_recognize.md:1113): prefer the B-absent parse. Same DEFINEs as
    * [[matchQOptSql]]; the two differ exactly where both parses are viable
    * (view, value>50 purchase, purchase). */
  val matchQOptRelSql: String = matchQOptSql.replace("(A B? C)", "(A B?? C)")

  /** Closed range `A{2,3}` greedy: three views before the purchase when
    * the data allows, two otherwise (disjoint DEFINEs — the branch is
    * data-determined). */
  val matchQRangeSql: String =
    """SELECT user_id, a_id, n_a, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_id, COUNT(A.*) AS n_a,
      |           C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A{2,3} C)
      |  DEFINE A AS event_type = 'view', C AS event_type = 'purchase'
      |)""".stripMargin

  /** Reluctant closed range `A{2,3}?` with an A-predicate that overlaps
    * C's (any non-error row): take the SHORTEST repetition that lets the
    * purchase close the match — 2 rows when row 3 is already a purchase,
    * 3 only otherwise. */
  val matchQRangeRelSql: String =
    """SELECT user_id, a_id, n_a, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_id, COUNT(A.*) AS n_a,
      |           C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A{2,3}? C)
      |  DEFINE A AS event_type <> 'error', C AS event_type = 'purchase'
      |)""".stripMargin

  /** Zero-to-m range `B{,2}` greedy: up to two clicks between the view and
    * the purchase, as many as the data has; LAST(B.event_id) is NULL on
    * the zero-click parse (empty optional variable → SQL NULL). */
  val matchQUptoSql: String =
    """SELECT user_id, a_id, n_b, b_last, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES A.event_id AS a_id, COUNT(B.*) AS n_b,
      |           LAST(B.event_id) AS b_last, C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A B{,2} C)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase'
      |)""".stripMargin

  /** Open range `A{2,}` greedy: the maximal view run (≥ 2) from each start
    * row, closed by the purchase immediately after the run — the {n,}
    * twin of the A+ family, SKIP TO NEXT ROW so every suffix of the run
    * with ≥ 2 views matches. */
  val matchQOpenSql: String =
    """SELECT user_id, a_id, n_a, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_id, COUNT(A.*) AS n_a,
      |           C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A{2,} C)
      |  DEFINE A AS event_type = 'view', C AS event_type = 'purchase'
      |)""".stripMargin

  /** SUBSET union referenced in DEFINE (r13 — a second layer on the
    * SUBSET exceeds-reference row): the closing purchase is gated by the
    * running SUM over the (A, B) union's rows. */
  val matchSubsetDefSql: String =
    """SELECT user_id, a_id, u_sum, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_id, SUM(U.value) AS u_sum,
      |           C.event_id AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO NEXT ROW
      |  PATTERN (A{2} B C)
      |  SUBSET U = (A, B)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'purchase' AND SUM(U.value) > 120
      |)""".stripMargin

  def matchSubsetDef(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchSubsetDefSql)

  def matchQOpt(s: SparkSession, dir: String): DataFrame = run(s, dir, matchQOptSql)
  def matchQOptRel(s: SparkSession, dir: String): DataFrame = run(s, dir, matchQOptRelSql)
  def matchQRange(s: SparkSession, dir: String): DataFrame = run(s, dir, matchQRangeSql)
  def matchQRangeRel(s: SparkSession, dir: String): DataFrame = run(s, dir, matchQRangeRelSql)
  def matchQUpto(s: SparkSession, dir: String): DataFrame = run(s, dir, matchQUptoSql)
  def matchQOpen(s: SparkSession, dir: String): DataFrame = run(s, dir, matchQOpenSql)

  def matchSubset(s: SparkSession, dir: String): DataFrame = run(s, dir, matchSubsetSql)
  def matchXvar(s: SparkSession, dir: String): DataFrame = run(s, dir, matchXvarSql)
  def matchXvarMin(s: SparkSession, dir: String): DataFrame = run(s, dir, matchXvarMinSql)

  def matchNumber(s: SparkSession, dir: String): DataFrame = run(s, dir, matchNumberSql)
  def matchMulti(s: SparkSession, dir: String): DataFrame = run(s, dir, matchMultiSql)
  def matchMultiDeep(s: SparkSession, dir: String): DataFrame = run(s, dir, matchMultiDeepSql)

  /** SKIP TO LAST over a prefixed PERMUTE (r12 — the lifted subset edge):
    * a purchase followed by view+click in either order; after each match
    * the scan resumes at that match's click row, wherever the fired
    * permutation put it. The three DEFINE types are disjoint, so no
    * skipped-back-to row can start a new match and the declarative oracle
    * is exact; the output-visible chaining case (an un-DEFINEd prefix)
    * and the reference-faithful loop error (SKIP TO LAST B on a
    * whole-pattern PERMUTE when the B-first permutation fires) are pinned
    * in MatchRecognizeSqlSpec. */
  val matchPermuteSkipSql: String =
    """SELECT user_id, s_id, a_id, b_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES S.event_id AS s_id, A.event_id AS a_id, B.event_id AS b_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO LAST B
      |  PATTERN (S PERMUTE(A, B))
      |  DEFINE S AS event_type = 'purchase', A AS event_type = 'view',
      |         B AS event_type = 'click'
      |)""".stripMargin

  /** SKIP TO FIRST inside a grouped repetition (r12): greedy alternating
    * (view click)+ view; resuming at the FIRST click makes every view of
    * an alternating run start its own (overlapping) match — output-visibly
    * different from SKIP PAST LAST ROW, and exactly replayable: per
    * maximal view/click alternating run, each view with ≥2 rows after it
    * in the run emits a match reaching the run's last odd position. */
  val matchRepSkipSql: String =
    """SELECT user_id, a_first, n_b, b_last, c_id FROM events
      |MATCH_RECOGNIZE (
      |  PARTITION BY user_id
      |  ORDER BY ts
      |  MEASURES FIRST(A.event_id) AS a_first, COUNT(B.*) AS n_b,
      |           LAST(B.event_id) AS b_last, LAST(C.event_id) AS c_id
      |  ONE ROW PER MATCH
      |  AFTER MATCH SKIP TO FIRST B
      |  PATTERN ((A B)+ C)
      |  DEFINE A AS event_type = 'view', B AS event_type = 'click',
      |         C AS event_type = 'view'
      |)""".stripMargin

  def matchPermuteSkip(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchPermuteSkipSql)
  def matchRepSkip(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchRepSkipSql)

  def matchPermute(s: SparkSession, dir: String): DataFrame = run(s, dir, matchPermuteSql)

  def matchParen(s: SparkSession, dir: String): DataFrame = run(s, dir, matchParenSql)
  def matchAggDef(s: SparkSession, dir: String): DataFrame = run(s, dir, matchAggDefSql)
  def matchSkipLast(s: SparkSession, dir: String): DataFrame = run(s, dir, matchSkipLastSql)

  def matchPlus(s: SparkSession, dir: String): DataFrame = run(s, dir, matchPlusSql)
  def matchStrict(s: SparkSession, dir: String): DataFrame = run(s, dir, matchStrictSql)
  def matchSum(s: SparkSession, dir: String): DataFrame = run(s, dir, matchSumSql)
  def matchAllRows(s: SparkSession, dir: String): DataFrame = run(s, dir, matchAllRowsSql)
  def matchAllRowsMeasures(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchAllRowsMeasuresSql)
  def matchAllRowsFinal(s: SparkSession, dir: String): DataFrame =
    run(s, dir, matchAllRowsFinalSql)
  def matchWithin(s: SparkSession, dir: String): DataFrame = run(s, dir, matchWithinSql)

  /** DuckDB oracles (no MATCH_RECOGNIZE there either — expressed with
    * window functions, same derivations as the programmatic CEP oracles). */
  /** q_sql_match_prev shares q_sql_match_nav's oracle verbatim: with
    * DOWN{2,}, the PREV spelling and the logical-navigation spelling are
    * the same query over contiguous matches (see [[matchPrevSql]]). */
  lazy val queries: Seq[Query] =
    baseQueries ++ Seq(
      Query("q_sql_match_prev", matchPrev, Query.oracleOf(baseQueries, "q_sql_match_nav")),
      // batch-mode twins share the streaming statements' oracles verbatim
      // — the hash equality is the batch ≡ stream proof
      Query("q_sql_match_batch_nav", matchNavBatch, Query.oracleOf(baseQueries, "q_sql_match_nav")),
      Query("q_sql_match_batch_rows", matchAllRowsBatch,
        Query.oracleOf(baseQueries, "q_sql_match_rows")),
      // r16: the full grammar joins the unified batch/stream proof —
      // PERMUTE and grouped repetition share their twins' oracles too
      Query("q_sql_match_batch_permute", matchPermuteBatch,
        Query.oracleOf(baseQueries, "q_sql_match_permute")),
      Query("q_sql_match_batch_group", matchMultiBatch,
        Query.oracleOf(baseQueries, "q_sql_match_multi")),
      // ^: the opening non-purchase run closed by the FIRST purchase —
      // rows 1..prn-1 are non-purchase by the minimality of prn, so the
      // greedy A+ from the anchored start is exactly that prefix
      Query("q_sql_match_anchor", matchAnchorStart,
        """WITH o AS (SELECT user_id, event_id, event_type,
          |        row_number() OVER (PARTITION BY user_id
          |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
          |      FROM events),
          |p AS (SELECT user_id, min(rn) AS prn FROM o
          |      WHERE event_type = 'purchase' GROUP BY user_id),
          |f AS (SELECT user_id, event_id AS first_id FROM o WHERE rn = 1)
          |SELECT p.user_id, CAST(p.prn - 1 AS BIGINT) AS n_lead, f.first_id
          |FROM p JOIN f ON f.user_id = p.user_id
          |WHERE p.prn >= 2
          |ORDER BY p.user_id""".stripMargin),
      // $: the LAST purchase followed only by non-purchase rows through
      // end-of-partition (rows k+1..n are non-purchase by the maximality
      // of k); users whose final event IS the purchase have no B row
      Query("q_sql_match_anchor_end", matchAnchorEnd,
        """WITH o AS (SELECT user_id, event_id, event_type,
          |        row_number() OVER (PARTITION BY user_id
          |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
          |      FROM events),
          |mx AS (SELECT user_id, max(rn) AS n FROM o GROUP BY user_id),
          |lp AS (SELECT user_id, max(rn) AS k FROM o
          |       WHERE event_type = 'purchase' GROUP BY user_id),
          |a AS (SELECT o.user_id, o.event_id AS a_id, lp.k
          |      FROM o JOIN lp ON o.user_id = lp.user_id AND o.rn = lp.k)
          |SELECT a.user_id, a.a_id, CAST(mx.n - a.k AS BIGINT) AS n_tail
          |FROM a JOIN mx ON mx.user_id = a.user_id
          |WHERE mx.n > a.k
          |ORDER BY a.user_id""".stripMargin),
      // ^ A+ $: the whole partition matches iff EVERY row is under the
      // threshold — i.e. the per-user max is
      Query("q_sql_match_anchor_both", matchAnchorBoth,
        """SELECT user_id, CAST(count(*) AS BIGINT) AS n_events
          |FROM events GROUP BY user_id
          |HAVING max(value) < 200
          |ORDER BY user_id""".stripMargin),
      // NEXT in batch: one match per maximal strictly-ascending run of
      // ≥ 3 rows — island derivation mirroring q_sql_match_nav's
      // descending twin; the island's last row is the peak (TOP), the
      // rows before it are the UP run (m − 1 of them)
      Query("q_sql_match_next", matchNext,
        """WITH o AS (SELECT user_id, event_id, value,
          |        row_number() OVER (PARTITION BY user_id
          |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
          |      FROM events),
          |b AS (SELECT *, CASE WHEN value > lag(value)
          |        OVER (PARTITION BY user_id ORDER BY rn)
          |      THEN 0 ELSE 1 END AS brk FROM o),
          |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS grp
          |      FROM b),
          |r AS (SELECT user_id, grp, count(*) AS m,
          |        arg_min(event_id, rn) AS strt_id, arg_max(event_id, rn) AS peak_id,
          |        arg_max(value, rn) AS peak_val
          |      FROM g GROUP BY user_id, grp)
          |SELECT user_id, strt_id, peak_id, CAST(m - 1 AS BIGINT) AS n_up,
          |       round(peak_val, 6) AS peak_val
          |FROM r WHERE m >= 3
          |ORDER BY user_id, strt_id""".stripMargin))

  private val baseQueries: Seq[Query] = Seq(
    // SUBSET-in-DEFINE: fixed-shape pattern, lead replay with the union sum
    Query("q_sql_match_subset_def", matchSubsetDef,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0, value AS v0,
        |  lead(event_type,1) OVER w AS et1, lead(value,1) OVER w AS v1,
        |  lead(event_type,2) OVER w AS et2, lead(value,2) OVER w AS v2,
        |  lead(event_type,3) OVER w AS et3, lead(event_id,3) OVER w AS id3
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id, round(v0 + v1 + v2, 6) AS u_sum, id3 AS c_id
        |FROM sq WHERE et0 = 'view' AND et1 = 'view' AND et2 = 'click'
        |  AND et3 = 'purchase' AND v0 + v1 + v2 > 120
        |ORDER BY user_id, a_id""".stripMargin),
    // greedy optional B?: the B-present branch wins where both parses fit
    Query("q_sql_match_qopt", matchQOpt,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type,1) OVER w AS et1, lead(event_id,1) OVER w AS id1,
        |  lead(value,1) OVER w AS v1,
        |  lead(event_type,2) OVER w AS et2, lead(event_id,2) OVER w AS id2
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id,
        |  CASE WHEN v1 > 50 AND et2 = 'purchase' THEN id1 ELSE NULL END AS b_id,
        |  CASE WHEN v1 > 50 AND et2 = 'purchase' THEN id2 ELSE id1 END AS c_id
        |FROM sq WHERE et0 = 'view'
        |  AND ((v1 > 50 AND et2 = 'purchase') OR et1 = 'purchase')
        |ORDER BY user_id, a_id""".stripMargin),
    // reluctant optional B??: the B-absent branch wins where both fit
    Query("q_sql_match_qopt_rel", matchQOptRel,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type,1) OVER w AS et1, lead(event_id,1) OVER w AS id1,
        |  lead(value,1) OVER w AS v1,
        |  lead(event_type,2) OVER w AS et2, lead(event_id,2) OVER w AS id2
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id,
        |  CASE WHEN et1 = 'purchase' THEN NULL ELSE id1 END AS b_id,
        |  CASE WHEN et1 = 'purchase' THEN id1 ELSE id2 END AS c_id
        |FROM sq WHERE et0 = 'view'
        |  AND (et1 = 'purchase' OR (v1 > 50 AND et2 = 'purchase'))
        |ORDER BY user_id, a_id""".stripMargin),
    // A{2,3} greedy: disjoint DEFINEs make the branch data-determined
    Query("q_sql_match_qrange", matchQRange,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type,1) OVER w AS et1,
        |  lead(event_type,2) OVER w AS et2, lead(event_id,2) OVER w AS id2,
        |  lead(event_type,3) OVER w AS et3, lead(event_id,3) OVER w AS id3
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id,
        |  CAST(CASE WHEN et2 = 'view' AND et3 = 'purchase' THEN 3 ELSE 2 END AS BIGINT) AS n_a,
        |  CASE WHEN et2 = 'view' AND et3 = 'purchase' THEN id3 ELSE id2 END AS c_id
        |FROM sq WHERE et0 = 'view' AND et1 = 'view'
        |  AND ((et2 = 'view' AND et3 = 'purchase') OR et2 = 'purchase')
        |ORDER BY user_id, a_id""".stripMargin),
    // A{2,3}? reluctant with A overlapping C: shortest repetition first
    Query("q_sql_match_qrange_rel", matchQRangeRel,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type,1) OVER w AS et1,
        |  lead(event_type,2) OVER w AS et2, lead(event_id,2) OVER w AS id2,
        |  lead(event_type,3) OVER w AS et3, lead(event_id,3) OVER w AS id3
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id,
        |  CAST(CASE WHEN et2 = 'purchase' THEN 2 ELSE 3 END AS BIGINT) AS n_a,
        |  CASE WHEN et2 = 'purchase' THEN id2 ELSE id3 END AS c_id
        |FROM sq WHERE et0 <> 'error' AND et1 <> 'error'
        |  AND (et2 = 'purchase' OR (et2 <> 'error' AND et3 = 'purchase'))
        |ORDER BY user_id, a_id""".stripMargin),
    // B{,2} greedy: as many clicks as the data has before the purchase
    Query("q_sql_match_qupto", matchQUpto,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type,1) OVER w AS et1, lead(event_id,1) OVER w AS id1,
        |  lead(event_type,2) OVER w AS et2, lead(event_id,2) OVER w AS id2,
        |  lead(event_type,3) OVER w AS et3, lead(event_id,3) OVER w AS id3
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id,
        |  CAST(CASE WHEN et1 = 'click' AND et2 = 'click' AND et3 = 'purchase' THEN 2
        |            WHEN et1 = 'click' AND et2 = 'purchase' THEN 1
        |            ELSE 0 END AS BIGINT) AS n_b,
        |  CASE WHEN et1 = 'click' AND et2 = 'click' AND et3 = 'purchase' THEN id2
        |       WHEN et1 = 'click' AND et2 = 'purchase' THEN id1
        |       ELSE NULL END AS b_last,
        |  CASE WHEN et1 = 'click' AND et2 = 'click' AND et3 = 'purchase' THEN id3
        |       WHEN et1 = 'click' AND et2 = 'purchase' THEN id2
        |       ELSE id1 END AS c_id
        |FROM sq WHERE et0 = 'view'
        |  AND ((et1 = 'click' AND et2 = 'click' AND et3 = 'purchase')
        |    OR (et1 = 'click' AND et2 = 'purchase')
        |    OR et1 = 'purchase')
        |ORDER BY user_id, a_id""".stripMargin),
    // A{2,} greedy: islands — every >= 2-view suffix of a view run whose
    // next row is a purchase
    Query("q_sql_match_qopen", matchQOpen,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn FROM events),
        |v AS (SELECT user_id, event_id, rn,
        |        rn - row_number() OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |      FROM o WHERE event_type = 'view'),
        |r AS (SELECT user_id, grp, max(rn) AS end_rn FROM v GROUP BY 1, 2),
        |p AS (SELECT user_id, rn, event_id FROM o WHERE event_type = 'purchase')
        |SELECT v.user_id, v.event_id AS a_id,
        |       CAST(r.end_rn - v.rn + 1 AS BIGINT) AS n_a,
        |       p.event_id AS c_id
        |FROM v JOIN r ON r.user_id = v.user_id AND r.grp = v.grp
        |JOIN p ON p.user_id = v.user_id AND p.rn = r.end_rn + 1
        |WHERE r.end_rn - v.rn + 1 >= 2
        |ORDER BY v.user_id, a_id""".stripMargin),
    // MATCH_ROWTIME: the B row's timestamp surfaces as the measure
    Query("q_sql_match_rowtime", matchRowtime,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id,
        |  lead(t, 1) OVER w AS mrt
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id, b_id, mrt FROM sq
        |WHERE et0 = 'view' AND et1 = 'purchase'
        |ORDER BY user_id, a_id""".stripMargin),
    // cascade: the same matches tumbled into epoch-aligned 1-day windows
    Query("q_sql_match_cascade", matchCascade,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(t, 1) OVER w AS mrt
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT mrt FROM sq WHERE et0 = 'view' AND et1 = 'purchase')
        |SELECT make_timestamp((epoch_us(mrt) // 86400000000) * 86400000000) AS win_start,
        |  CAST(count(*) AS BIGINT) AS n_matches
        |FROM m GROUP BY 1 ORDER BY 1""".stripMargin),
    // V-pattern with logical offsets: one match per maximal strictly-
    // decreasing run (>= 3 rows) whose next row beats the run's
    // second-to-last value (see matchNavSql's derivation note)
    Query("q_sql_match_nav", matchNav,
      """WITH o AS (SELECT user_id, event_id, value,
        |        row_number() OVER (PARTITION BY user_id
        |          ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |      FROM events),
        |b AS (SELECT *, CASE WHEN value < lag(value)
        |        OVER (PARTITION BY user_id ORDER BY rn)
        |      THEN 0 ELSE 1 END AS brk FROM o),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS grp
        |      FROM b),
        |r AS (SELECT user_id, grp, count(*) AS m, max(rn) AS re,
        |        arg_min(event_id, rn) AS strt_id, arg_max(event_id, rn) AS bottom_id
        |      FROM g GROUP BY user_id, grp)
        |SELECT r.user_id, r.strt_id, r.bottom_id,
        |       CAST(r.m - 1 AS BIGINT) AS n_down,
        |       round(p.value, 6) AS penult, round(u.value, 6) AS up_val
        |FROM r
        |JOIN o p ON p.user_id = r.user_id AND p.rn = r.re - 1
        |JOIN o u ON u.user_id = r.user_id AND u.rn = r.re + 1
        |WHERE r.m >= 3 AND u.value > p.value
        |ORDER BY r.user_id, r.strt_id""".stripMargin),
    // literal-RHS cross-variable aggregate: greedy A+ = the maximal view
    // run from each start; B = the immediately-following purchase; the
    // run's suffix-sum must beat the constant (same islands derivation as
    // q_sql_match_xvar with a literal bound)
    Query("q_sql_match_xagg", matchXagg,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            row_number() OVER (PARTITION BY user_id
        |              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |           FROM events),
        |g AS (SELECT *, sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END)
        |        OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |v AS (SELECT user_id, grp, rn, event_id,
        |        sum(value) OVER (PARTITION BY user_id, grp ORDER BY rn
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ssum,
        |        count(*) OVER (PARTITION BY user_id, grp ORDER BY rn
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS scnt,
        |        max(rn) OVER (PARTITION BY user_id, grp) AS end_rn
        |      FROM g WHERE event_type = 'view'),
        |p AS (SELECT user_id, rn, event_id FROM o
        |      WHERE event_type = 'purchase')
        |SELECT v.user_id, v.event_id AS a_first, CAST(v.scnt AS BIGINT) AS n_a,
        |       p.event_id AS b_id
        |FROM v JOIN p ON p.user_id = v.user_id AND p.rn = v.end_rn + 1
        |WHERE v.ssum > 100
        |ORDER BY v.user_id, a_first""".stripMargin),
    // DISTINCT aggregations: greedy A+ with SKIP PAST LAST ROW = one match
    // per MAXIMAL non-purchase run whose next row is a purchase (no suffix
    // matches — a shorter A+ parse leaves B on a non-purchase row);
    // distinct aggregates replayed by DuckDB's DISTINCT verbatim
    Query("q_sql_match_distinct", matchDistinct,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            row_number() OVER (PARTITION BY user_id
        |              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |           FROM events),
        |g AS (SELECT *, sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
        |        OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |v AS (SELECT user_id, grp, max(rn) AS end_rn,
        |        arg_min(event_id, rn) AS a_first,
        |        CAST(count(*) AS BIGINT) AS n_a,
        |        CAST(count(DISTINCT value) AS BIGINT) AS n_dist,
        |        round(sum(DISTINCT value), 6) AS sum_dist
        |      FROM g WHERE event_type <> 'purchase' GROUP BY user_id, grp),
        |p AS (SELECT user_id, rn, event_id FROM o
        |      WHERE event_type = 'purchase')
        |SELECT v.user_id, v.a_first, v.n_a, v.n_dist, v.sum_dist,
        |       p.event_id AS b_id
        |FROM v JOIN p ON p.user_id = v.user_id AND p.rn = v.end_rn + 1
        |ORDER BY v.user_id, v.a_first""".stripMargin),
    // exclusion {- A -} in ALL ROWS: view-click-purchase triples (disjoint
    // types ⇒ lead-derivation exact; SKIP PAST LAST ROW can't skip a
    // viable start — no triple begins inside another); only the B and C
    // rows are emitted, yet both carry the excluded view's measures
    Query("q_sql_match_exclude", matchExclude,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS id0, event_type AS et0,
        |  lead(event_type,1) OVER w AS et1, lead(event_id,1) OVER w AS id1,
        |  lead(event_type,2) OVER w AS et2, lead(event_id,2) OVER w AS id2
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT * FROM sq WHERE et0 = 'view' AND et1 = 'click'
        |      AND et2 = 'purchase'),
        |r AS (
        | SELECT user_id, id1 AS event_id, 'B' AS cls,
        |        CAST(1 AS BIGINT) AS n_a, id0 AS a_id FROM m
        | UNION ALL SELECT user_id, id2, 'C', 1, id0 FROM m)
        |SELECT user_id, event_id, cls, n_a, a_id FROM r
        |ORDER BY user_id, event_id, cls, n_a, a_id""".stripMargin),
    // ALL ROWS + RUNNING measures: fixed-length disjoint-type pattern →
    // lead-based derivation exact; running sums unroll left-to-right
    Query("q_sql_match_rows_measures", matchAllRowsMeasures,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id,
        |  event_id AS id0, value AS v0, event_type AS et0,
        |  lead(event_id,1) OVER w AS id1, lead(value,1) OVER w AS v1, lead(event_type,1) OVER w AS et1,
        |  lead(event_id,2) OVER w AS id2, lead(value,2) OVER w AS v2, lead(event_type,2) OVER w AS et2,
        |  lead(event_id,3) OVER w AS id3, lead(value,3) OVER w AS v3, lead(event_type,3) OVER w AS et3
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT * FROM sq WHERE et0 = 'view' AND et1 = 'view'
        |      AND et2 = 'click' AND et3 = 'purchase'),
        |r AS (
        | SELECT user_id, id0 AS event_id, 'A' AS cls, CAST(1 AS BIGINT) AS n_a,
        |        round(v0, 6) AS run_sum FROM m
        | UNION ALL SELECT user_id, id1, 'A', 2, round(v0 + v1, 6) FROM m
        | UNION ALL SELECT user_id, id2, 'B', 2, round(v0 + v1 + v2, 6) FROM m
        | UNION ALL SELECT user_id, id3, 'C', 2, round(v0 + v1 + v2 + v3, 6) FROM m)
        |SELECT user_id, event_id, cls, n_a, run_sum FROM r
        |ORDER BY user_id, event_id, cls, n_a, run_sum""".stripMargin),
    // FINAL vs RUNNING in ALL ROWS: running count climbs, FINAL count and
    // sum are the match totals on every row
    Query("q_sql_match_rows_final", matchAllRowsFinal,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id,
        |  event_id AS id0, value AS v0, event_type AS et0,
        |  lead(event_id,1) OVER w AS id1, lead(value,1) OVER w AS v1, lead(event_type,1) OVER w AS et1,
        |  lead(event_id,2) OVER w AS id2, lead(value,2) OVER w AS v2, lead(event_type,2) OVER w AS et2,
        |  lead(event_id,3) OVER w AS id3, lead(value,3) OVER w AS v3, lead(event_type,3) OVER w AS et3
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT *, round(v0 + v1 + v2 + v3, 6) AS tot FROM sq
        |      WHERE et0 = 'view' AND et1 = 'view' AND et2 = 'click' AND et3 = 'purchase'),
        |r AS (
        | SELECT user_id, id0 AS event_id, 'A' AS cls, CAST(1 AS BIGINT) AS n_run,
        |        CAST(4 AS BIGINT) AS n_fin, tot AS total FROM m
        | UNION ALL SELECT user_id, id1, 'A', 2, 4, tot FROM m
        | UNION ALL SELECT user_id, id2, 'B', 3, 4, tot FROM m
        | UNION ALL SELECT user_id, id3, 'C', 4, 4, tot FROM m)
        |SELECT user_id, event_id, cls, n_run, n_fin, total FROM r
        |ORDER BY user_id, event_id, cls, n_run, n_fin, total""".stripMargin),
    // prefixed PERMUTE + SKIP TO LAST B: disjoint DEFINE types make the
    // lead-based derivation exact (no row inside a match can start one,
    // and the skip-back target row can never satisfy S)
    Query("q_sql_match_permute_skip", matchPermuteSkip,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS s_id, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS id1,
        |  lead(event_type, 2) OVER w AS et2, lead(event_id, 2) OVER w AS id2
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, s_id,
        |  CASE WHEN et1 = 'view' THEN id1 ELSE id2 END AS a_id,
        |  CASE WHEN et1 = 'click' THEN id1 ELSE id2 END AS b_id
        |FROM sq
        |WHERE et0 = 'purchase'
        |  AND ((et1 = 'view' AND et2 = 'click') OR (et1 = 'click' AND et2 = 'view'))
        |ORDER BY user_id, s_id""".stripMargin),
    // grouped repetition + SKIP TO FIRST B: overlapping matches — every
    // view of a maximal view/click alternating run with >= 2 rows after
    // it in the run matches greedily to the run's last odd position
    Query("q_sql_match_rep_skip", matchRepSkip,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            row_number() OVER (PARTITION BY user_id
        |              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |           FROM events),
        |b AS (SELECT *, CASE WHEN event_type IN ('view','click')
        |        AND lag(event_type) OVER w IN ('view','click')
        |        AND event_type <> lag(event_type) OVER w
        |      THEN 0 ELSE 1 END AS brk
        |   FROM o WINDOW w AS (PARTITION BY user_id ORDER BY rn)),
        |g AS (SELECT *, sum(brk) OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM b),
        |gr AS (SELECT user_id, grp, max(rn) AS re FROM g
        |       WHERE event_type IN ('view','click') GROUP BY user_id, grp),
        |m AS (SELECT v.user_id, v.rn AS p, v.event_id AS a_first,
        |        CASE WHEN (gr.re - v.rn) % 2 = 0 THEN gr.re ELSE gr.re - 1 END AS e
        |      FROM g v JOIN gr ON v.user_id = gr.user_id AND v.grp = gr.grp
        |      WHERE v.event_type = 'view')
        |SELECT m.user_id, m.a_first, CAST((m.e - m.p) // 2 AS BIGINT) AS n_b,
        |   bl.event_id AS b_last, ce.event_id AS c_id
        |FROM m
        |JOIN g ce ON ce.user_id = m.user_id AND ce.rn = m.e
        |JOIN g bl ON bl.user_id = m.user_id AND bl.rn = m.e - 1
        |WHERE m.e >= m.p + 2
        |ORDER BY m.user_id, m.a_first""".stripMargin),
    Query("q_sql_match_xvar", matchXvar,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            row_number() OVER (PARTITION BY user_id
        |              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |           FROM events),
        |g AS (SELECT *, sum(CASE WHEN event_type = 'view' THEN 0 ELSE 1 END)
        |        OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |v AS (SELECT user_id, grp, rn, event_id, value,
        |        sum(value) OVER (PARTITION BY user_id, grp ORDER BY rn
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS ssum,
        |        count(*) OVER (PARTITION BY user_id, grp ORDER BY rn
        |          ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS scnt,
        |        max(rn) OVER (PARTITION BY user_id, grp) AS end_rn
        |      FROM g WHERE event_type = 'view'),
        |p AS (SELECT user_id, rn, event_id, value FROM o
        |      WHERE event_type = 'purchase')
        |SELECT v.user_id, v.event_id AS a_first, round(v.ssum, 6) AS a_sum,
        |       p.event_id AS b_id, CAST(v.scnt AS BIGINT) AS n_a
        |FROM v JOIN p ON p.user_id = v.user_id AND p.rn = v.end_rn + 1
        |WHERE v.ssum > p.value
        |ORDER BY v.user_id, a_first""".stripMargin),
    Query("q_sql_match_xvar_min", matchXvarMin,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_first, value AS v0, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(value, 1) OVER w AS v1,
        |  lead(event_type, 2) OVER w AS et2, lead(event_id, 2) OVER w AS b_id
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_first, round(least(v0, v1), 6) AS a_min, b_id
        |FROM sq WHERE et0 = 'view' AND et1 = 'view' AND et2 = 'purchase'
        |  AND least(v0, v1) < 50
        |ORDER BY user_id, a_first""".stripMargin),
    Query("q_sql_match_subset", matchSubset,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0, value AS v0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id,
        |  lead(value, 1) OVER w AS v1
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id AS u_first, b_id AS u_last,
        |  CAST(2 AS BIGINT) AS n_u, round(v0 + v1, 6) AS u_sum
        |FROM sq WHERE et0 = 'view' AND et1 = 'click'
        |ORDER BY user_id, u_first""".stripMargin),
    Query("q_sql_match_number", matchNumber,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0, t,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT user_id, a_id, b_id, t FROM sq
        |      WHERE et0 = 'view' AND et1 = 'purchase')
        |SELECT user_id, a_id, b_id,
        |  CAST(row_number() OVER (PARTITION BY user_id ORDER BY t, a_id) AS BIGINT) AS mn
        |FROM m ORDER BY user_id, a_id, b_id, mn""".stripMargin),
    Query("q_sql_match_multi", matchMulti,
      """WITH RECURSIVE o AS (
        | SELECT user_id, event_id, event_type,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        | FROM events),
        |walk(user_id, start_rn, cur_rn, n_a) AS (
        | SELECT user_id, rn, rn, 1 FROM o WHERE event_type = 'view'
        | UNION ALL
        | SELECT w.user_id, w.start_rn, v.rn, w.n_a + 1
        | FROM walk w
        | JOIN o c ON c.user_id = w.user_id AND c.rn = w.cur_rn + 1
        |         AND c.event_type = 'click'
        | JOIN o v ON v.user_id = w.user_id AND v.rn = w.cur_rn + 2
        |         AND v.event_type = 'view'),
        |best AS (SELECT user_id, start_rn, max(n_a) AS n_a,
        |                max(cur_rn) AS end_rn
        |         FROM walk GROUP BY user_id, start_rn)
        |SELECT b.user_id, fa.event_id AS a_first, la.event_id AS a_last,
        |  CAST(b.n_a AS BIGINT) AS n_a, CAST(b.n_a - 1 AS BIGINT) AS n_b
        |FROM best b
        |JOIN o fa ON fa.user_id = b.user_id AND fa.rn = b.start_rn
        |JOIN o la ON la.user_id = b.user_id AND la.rn = b.end_rn
        |ORDER BY b.user_id, a_first, a_last, n_a, n_b""".stripMargin),
    Query("q_sql_match_multi_deep", matchMultiDeep,
      // always-true DEFINEs: the greedy loop eats each partition whole —
      // first match = the longest odd prefix (pattern length 2k+1), and on
      // even-sized partitions SKIP PAST LAST ROW leaves exactly one row,
      // matched as a bare tail A (k=0). Closed form per partition.
      """WITH o AS (
        | SELECT user_id, event_id,
        |  row_number() OVER (PARTITION BY user_id
        |    ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn,
        |  count(*) OVER (PARTITION BY user_id) AS n
        | FROM events),
        |L AS (SELECT DISTINCT user_id, n,
        |        CASE WHEN n % 2 = 1 THEN n ELSE n - 1 END AS len FROM o),
        |m1 AS (SELECT l.user_id, fa.event_id AS a_first, la.event_id AS a_last,
        |        CAST((l.len + 1) // 2 AS BIGINT) AS n_a,
        |        CAST((l.len - 1) // 2 AS BIGINT) AS n_b
        |       FROM L l
        |       JOIN o fa ON fa.user_id = l.user_id AND fa.rn = 1
        |       JOIN o la ON la.user_id = l.user_id AND la.rn = l.len),
        |m2 AS (SELECT l.user_id, e.event_id AS a_first, e.event_id AS a_last,
        |        CAST(1 AS BIGINT) AS n_a, CAST(0 AS BIGINT) AS n_b
        |       FROM L l
        |       JOIN o e ON e.user_id = l.user_id AND e.rn = l.n
        |       WHERE l.n % 2 = 0)
        |SELECT * FROM (SELECT * FROM m1 UNION ALL SELECT * FROM m2)
        |ORDER BY user_id, a_first""".stripMargin),
    Query("q_sql_match_permute", matchPermute,
      """WITH o AS (SELECT user_id, event_id, event_type,
      |            CAST(ts AS TIMESTAMP) AS t FROM events),
      |sq AS (SELECT user_id, event_id AS id0, event_type AS et0,
      |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS id1
      | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
      |SELECT user_id,
      |  CASE WHEN et0 = 'view' THEN id0 ELSE id1 END AS a_id,
      |  CASE WHEN et0 = 'view' THEN id1 ELSE id0 END AS b_id
      |FROM sq
      |WHERE (et0 = 'view' AND et1 = 'click')
      |   OR (et0 = 'click' AND et1 = 'view')
      |ORDER BY user_id, a_id""".stripMargin),
    Query("q_sql_match_paren", matchParen,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0, value AS v0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id, b_id FROM sq
        |WHERE et0 IN ('view', 'click') AND NOT (v0 < 1) AND et1 = 'purchase'
        |ORDER BY user_id, a_id""".stripMargin),
    Query("q_sql_match_agg_def", matchAggDef,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, value AS v0, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(value, 1) OVER w AS v1,
        |  lead(event_type, 2) OVER w AS et2, lead(event_id, 2) OVER w AS b_id
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id, round(v0 + v1, 6) AS a_sum, b_id
        |FROM sq WHERE et0 = 'view' AND et1 = 'view' AND et2 = 'purchase'
        |  AND v0 <= 150 AND v0 + v1 <= 150
        |ORDER BY user_id, a_id""".stripMargin),
    Query("q_sql_match_skip_last", matchSkipLast,
      """WITH o AS (SELECT user_id, event_id, event_type,
        |            row_number() OVER (PARTITION BY user_id
        |              ORDER BY CAST(ts AS TIMESTAMP), event_id) AS rn
        |           FROM events),
        |g AS (SELECT *, sum(CASE WHEN event_type = 'click' THEN 0 ELSE 1 END)
        |        OVER (PARTITION BY user_id ORDER BY rn) AS grp,
        |        lead(event_type) OVER (PARTITION BY user_id ORDER BY rn) AS net
        |      FROM o),
        |isl AS (SELECT user_id, grp, arg_min(event_id, rn) AS b_first,
        |         arg_max(event_id, rn) AS b_last, CAST(count(*) AS BIGINT) AS n_b
        |        FROM g WHERE event_type = 'click' GROUP BY user_id, grp)
        |SELECT v.user_id, v.event_id AS a_id, isl.b_first, isl.b_last, isl.n_b
        |FROM g v JOIN isl ON v.user_id = isl.user_id AND v.grp = isl.grp
        |WHERE v.event_type = 'view' AND v.net = 'click'
        |ORDER BY v.user_id, a_id""".stripMargin),
    Query("q_sql_match", matchPlus,
      """WITH e AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t FROM events),
        |o AS (SELECT user_id, event_id, event_type,
        |        row_number() OVER (PARTITION BY user_id ORDER BY t, event_id) AS rn,
        |        CASE WHEN event_type = 'error' THEN 1 ELSE 0 END AS is_err
        |      FROM e),
        |g AS (SELECT *, sum(is_err) OVER (PARTITION BY user_id ORDER BY rn) AS grp FROM o),
        |a AS (SELECT * FROM g WHERE is_err = 0),
        |s AS (SELECT user_id, grp, rn, event_id,
        |        max(CASE WHEN event_type = 'purchase' THEN rn END) OVER
        |          (PARTITION BY user_id, grp ORDER BY rn
        |           ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING) AS j_rn
        |      FROM a)
        |SELECT s.user_id, s.event_id AS a_id, b.event_id AS b_id,
        |       CAST(s.j_rn - s.rn AS BIGINT) AS n_a
        |FROM s JOIN a b ON b.user_id = s.user_id AND b.rn = s.j_rn
        |WHERE s.j_rn IS NOT NULL
        |ORDER BY s.user_id, a_id""".stripMargin),
    Query("q_sql_match_sum", matchSum,
      """WITH o AS (SELECT user_id, event_id, event_type, value,
        |            CAST(ts AS TIMESTAMP) AS t FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, value AS v0, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(value, 1) OVER w AS v1,
        |  lead(event_type, 2) OVER w AS et2, lead(value, 2) OVER w AS v2
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id, round(v0 + v1, 6) AS a_sum,
        | round((v0 + v1) / 2, 6) AS a_avg, round(v2, 6) AS b_val,
        | CAST(2 AS BIGINT) AS n_a
        |FROM sq WHERE et0 = 'view' AND et1 = 'view' AND et2 = 'purchase'
        |ORDER BY user_id, a_id""".stripMargin),
    Query("q_sql_match_rows", matchAllRows,
      """WITH o AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        |           FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id,
        |  lead(event_type, 2) OVER w AS et2, lead(event_id, 2) OVER w AS c_id
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id)),
        |m AS (SELECT user_id, a_id, b_id, c_id FROM sq
        |      WHERE et0 = 'view' AND et1 = 'click' AND et2 = 'purchase')
        |SELECT user_id, event_id, cls FROM (
        | SELECT user_id, a_id AS event_id, 'A' AS cls FROM m
        | UNION ALL SELECT user_id, b_id, 'B' FROM m
        | UNION ALL SELECT user_id, c_id, 'C' FROM m)
        |ORDER BY user_id, event_id, cls""".stripMargin),
    Query("q_sql_match_within", matchWithin,
      """WITH o AS (SELECT user_id, event_id, event_type, CAST(ts AS TIMESTAMP) AS t
        |           FROM events),
        |sq AS (SELECT user_id, event_id AS a_id, event_type AS et0, t AS t0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id,
        |  lead(event_type, 2) OVER w AS et2, lead(event_id, 2) OVER w AS c_id,
        |  lead(t, 2) OVER w AS t2
        | FROM o WINDOW w AS (PARTITION BY user_id ORDER BY t, event_id))
        |SELECT user_id, a_id, b_id, c_id FROM sq
        |WHERE et0 = 'view' AND et1 = 'click' AND et2 = 'purchase'
        |  AND t2 - t0 <= INTERVAL 1 DAY
        |ORDER BY user_id, a_id""".stripMargin),
    Query("q_sql_match_strict", matchStrict,
      StreamQueries.cepStrictOracle),
  )
}
