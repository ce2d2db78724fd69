package graft

import graft.streaming.{Cep, MatchRecognizeSql, StreamSource}
import MatchRecognizeSql.{CountM, FirstM, LastM}

/** MATCH_RECOGNIZE SQL surface: grammar → Cep routing (parser units) and
  * end-to-end equivalence of the SQL text against the same pattern
  * expressed in relational SQL (the oracle derivation, run in Spark). */
class MatchRecognizeSqlSpec extends SparkSpec {

  test("parses partition/order/measures/skip/pattern/define") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchPlusSql)
    assert(spec.partitionCol === "user_id")
    assert(spec.orderCol === "ts")
    assert(spec.table === "events")
    assert(spec.measures === Seq(
      FirstM("A", "a_id"), LastM("B", "b_id"), CountM("A", "n_a")))
    assert(!spec.skipPastLastRow) // SKIP TO NEXT ROW
    assert(spec.pattern.map(_._1) === Seq("A", "B"))
    val aStep = spec.pattern.head._2
    assert(aStep.min === 1 && aStep.max === Int.MaxValue && aStep.greedy)
    val bStep = spec.pattern(1)._2
    assert(bStep.min === 1 && bStep.max === 1)
  }

  test("bare V.event_id measure means LAST; default skip is PAST LAST ROW") {
    val spec = MatchRecognizeSql.parse(
      """SELECT user_id, a_id FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.event_id AS a_id
        |  PATTERN (A{2})
        |  DEFINE A AS event_type = 'view'
        |)""".stripMargin)
    assert(spec.measures === Seq(LastM("A", "a_id")))
    assert(spec.skipPastLastRow)
    val s = spec.pattern.head._2
    assert(s.min === 2 && s.max === 2)
  }

  test("reluctant quantifier and compound predicates parse") {
    val spec = MatchRecognizeSql.parse(
      """SELECT user_id FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES COUNT(A.*) AS n
        |  PATTERN (A+? B)
        |  DEFINE A AS event_type <> 'error' AND value >= 10, B AS value < 5 OR event_type = 'purchase'
        |)""".stripMargin)
    assert(!spec.pattern.head._2.greedy)
    val ev = (t: String, v: Double) =>
      StreamSource.Event(1L, new java.sql.Timestamp(0), 1L, t, v)
    val aPred = spec.pattern.head._2.pred
    assert(aPred(ev("view", 10.0)) && !aPred(ev("view", 9.0)) && !aPred(ev("error", 99.0)))
    val bPred = spec.pattern(1)._2.pred
    assert(bPred(ev("click", 4.0)) && bPred(ev("purchase", 50.0)) && !bPred(ev("click", 5.0)))
    assert(!aPred(ev("__sentinel", 100.0)) && !bPred(ev("__sentinel", 0.0)))
  }

  test("an un-DEFINEd pattern variable matches any user row but never the sentinel") {
    val spec = MatchRecognizeSql.parse(
      """SELECT user_id, a_id FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES A.event_id AS a_id
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view'
        |)""".stripMargin)
    val bPred = spec.pattern(1)._2.pred
    val t = new java.sql.Timestamp(0L)
    assert(bPred(StreamSource.Event(1L, t, 7L, "click", 1.0)),
      "un-DEFINEd variable must match an arbitrary user row")
    assert(!bPred(StreamSource.Event(-1L, t, -1L, "__sentinel", 0.0)),
      "un-DEFINEd variable must not match the engine-internal sentinel row")
  }

  test("parenthesized + negated DEFINE predicates compile correctly") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchParenSql)
    val aPred = spec.pattern.head._2.pred
    val t = new java.sql.Timestamp(0L)
    assert(aPred(StreamSource.Event(1L, t, 7L, "view", 5.0)))
    assert(aPred(StreamSource.Event(1L, t, 7L, "click", 5.0)))
    assert(!aPred(StreamSource.Event(1L, t, 7L, "view", 0.5)), "NOT (value < 1)")
    assert(!aPred(StreamSource.Event(1L, t, 7L, "purchase", 5.0)))
  }

  test("running aggregate in DEFINE gates each repetition extension") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchAggDefSql)
    val a = spec.pattern.head._2
    assert(a.agg.nonEmpty)
    val t = new java.sql.Timestamp(0L)
    val f = a.agg.get
    assert(f(0, 0.0, StreamSource.Event(1L, t, 7L, "view", 100.0))) // sum 100 <= 150
    assert(!f(1, 100.0, StreamSource.Event(2L, t, 7L, "view", 60.0))) // 160 > 150
    assert(f(1, 100.0, StreamSource.Event(2L, t, 7L, "view", 50.0))) // 150 <= 150
  }

  test("aggregate placement rules: top-level AND only; cross-var routes to xagg") {
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.compileDefine("A",
        "event_type = 'view' OR SUM(A.value) < 10") // agg under OR
    }
    // own variable + literal SUM/COUNT: incremental fast path
    val own = MatchRecognizeSql.compileDefine("A",
      "event_type = 'view' AND COUNT(A.*) <= 3")
    assert(own.agg.nonEmpty && own.xagg.isEmpty)
    assert(own.agg.get(2, 0.0, StreamSource.Event(1L, new java.sql.Timestamp(0), 1L, "view", 0)))
    assert(!own.agg.get(3, 0.0, StreamSource.Event(1L, new java.sql.Timestamp(0), 1L, "view", 0)))
    // another variable's rows: cross-variable path (ref SharedBuffer)
    val x = MatchRecognizeSql.compileDefine("B",
      "event_type = 'purchase' AND SUM(A.value) > B.value")
    assert(x.agg.isEmpty && x.xagg.nonEmpty && x.aggVars === Set("A"))
    val t = new java.sql.Timestamp(0L)
    def e(id: Long, et: String, v: Double) = StreamSource.Event(id, t, 1L, et, v)
    val vars = Map("A" -> IndexedSeq(e(1, "view", 30.0), e(2, "view", 25.0)))
      .withDefaultValue(IndexedSeq.empty[StreamSource.Event])
    assert(x.xagg.get(vars, e(3, "purchase", 50.0)))   // 55 > 50
    assert(!x.xagg.get(vars, e(3, "purchase", 60.0)))  // 55 <= 60
    // aggregate over a var with NO rows yet: SQL NULL comparison → false
    assert(!x.xagg.get(Map.empty[String, IndexedSeq[StreamSource.Event]]
      .withDefaultValue(IndexedSeq.empty), e(3, "purchase", 1.0)))
    // RHS field of a foreign variable is rejected
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.compileDefine("B",
        "event_type = 'purchase' AND SUM(A.value) > A.value")
    }
    // parse-time validation: aggregating a non-pattern variable rejects
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.parse(
        """SELECT user_id, x FROM events
          |MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES COUNT(A.*) AS x
          |  PATTERN (A B)
          |  DEFINE B AS SUM(Z.value) > 1
          |)""".stripMargin)
    }
  }

  test("cross-variable DEFINE aggregate end-to-end (fixture) and PERMUTE interaction") {
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, v)
    // views 30+25=55, purchase 50 (55>50 matches), purchase 60 (no match)
    val events = spark.createDataset(Seq(
      ev(1, 1, "view", 30.0), ev(2, 2, "view", 25.0), ev(3, 3, "purchase", 50.0),
      ev(4, 4, "view", 5.0), ev(5, 5, "purchase", 60.0)))
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchXvarSql)
    val steps = spec.pattern.map(_._2)
    assert(steps(1).xagg.nonEmpty && steps(1).name === "B" && steps(0).name === "A")
    val got = Cep.matchRecognizeOrderedSkip(events, steps, Cep.SkipToNextRow)
      .collect().sortBy(_.ids.head).map(m => (m.ids, m.vals)).toSeq
    // start 1: A=[1,2] sum 55 > 50 → match; start 2: A=[2] sum 25 <= 50 →
    // no match; start 4: A=[4] sum 5 <= 60 → no match
    assert(got === Seq((Seq(1L, 2L, 3L), Seq(30.0, 25.0, 50.0))))
    // PERMUTE interaction: B's DEFINE reads SUM(A.value); in the B-first
    // alternative A has no rows yet → NULL comparison → B cannot open the
    // match, so only the A-then-B order can fire (the reference's partial
    // match would equally have an empty A buffer).
    val permEvents = spark.createDataset(Seq(
      ev(1, 1, "purchase", 10.0), ev(2, 2, "view", 30.0),
      ev(3, 3, "view", 40.0), ev(4, 4, "purchase", 35.0)))
    val aStep = Cep.QStep.once((e: StreamSource.Event) => e.event_type == "view")
      .copy(name = "A")
    val bx = MatchRecognizeSql.compileDefine("B",
      "event_type = 'purchase' AND SUM(A.value) > B.value")
    val bStep = Cep.QStep.once(bx.rowPred).copy(name = "B", xagg = bx.xagg)
    val alts = Seq(Seq(aStep, bStep), Seq(bStep, aStep)) // PERMUTE(A, B)
    val perm = Cep.matchRecognizeAlts(permEvents, alts, Cep.SkipToNextRow,
      quiesceMs = 0L)
    // batch path for assertion determinism: drive each alternative ordered
    val ab = Cep.matchRecognizeOrderedSkip(permEvents, Seq(aStep, bStep), Cep.SkipToNextRow)
      .collect().map(_.ids).toSeq
    val ba = Cep.matchRecognizeOrderedSkip(permEvents, Seq(bStep, aStep), Cep.SkipToNextRow)
      .collect().map(_.ids).toSeq
    // start 2: A=row2, B at row3 is a view → fails; start 3: A=row3 (40),
    // B=row4 purchase 35, SUM(A)=40 > 35 → the only match
    assert(ab === Seq(Seq(3L, 4L)))
    assert(ba === Nil, "B-first order can never satisfy SUM over empty A")
    assert(perm != null)
  }

  test("SKIP TO FIRST/LAST parses and resumes inside the match (fixture)") {
    import spark.implicits._
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchSkipLastSql)
    assert(spec.skipTo === Some(("LAST", "B")))

    // fixture: view click purchase click purchase — PATTERN (A B C) where
    // A matches view|purchase, B click, C purchase
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    val events = spark.createDataset(Seq(
      ev(1, 1, "view"), ev(2, 2, "click"), ev(3, 3, "purchase"),
      ev(4, 4, "click"), ev(5, 5, "purchase")))
    val steps = Seq(
      Cep.QStep.once(e => e.event_type == "view" || e.event_type == "purchase"),
      Cep.QStep.once(_.event_type == "click"),
      Cep.QStep.once(_.event_type == "purchase"))
    def ids(skip: Cep.SkipPolicy): Seq[Seq[Long]] =
      Cep.matchRecognizeOrderedSkip(events, steps, skip)
        .collect().map(_.ids).toSeq.sortBy(_.head)
    // PAST LAST ROW: rows 1-3 consumed, row 3 can't be reused → 1 match
    assert(ids(Cep.SkipPastLastRow) === Seq(Seq(1L, 2L, 3L)))
    // TO FIRST C: resume AT row 3 → it starts the second, overlapping match
    assert(ids(Cep.SkipToFirst(2)) === Seq(Seq(1L, 2L, 3L), Seq(3L, 4L, 5L)))
    // TO LAST B: resume at row 2 → scan reaches row 3 → same overlap found
    assert(ids(Cep.SkipToLast(1)) === Seq(Seq(1L, 2L, 3L), Seq(3L, 4L, 5L)))
    // TO FIRST A would resume on the match's own start row: error (ref
    // raises the same infinite-loop condition)
    val e = intercept[org.apache.spark.SparkException] {
      ids(Cep.SkipToFirst(0))
    }
    assert(e.getMessage.contains("own start row") ||
      Option(e.getCause).exists(_.getMessage.contains("own start row")), e.toString)
  }

  test("PERMUTE matches the listed variables in any order, alt-aware measures") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchPermuteSql)
    assert(spec.permute)
    assert(spec.pattern.map(_._1) === Seq("A", "B"))
    // fixture: click(1) view(2) → B A order; view(3) click(4) → A B order
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    val events = spark.createDataset(Seq(
      ev(1, 1, "click"), ev(2, 2, "view"), ev(5, 3, "error"),
      ev(3, 4, "view"), ev(4, 5, "click")))
    val steps = Seq(Cep.QStep.once(_.event_type == "view"),
      Cep.QStep.once(_.event_type == "click"))
    val alts = Seq(steps, steps.reverse) // A B, then B A
    val ms = Cep.matchRecognizeAlts(events, alts, Cep.SkipPastLastRow)
    // batch-testable via the ordered path instead (no watermark):
    val got = Cep.matchRecognizeOrderedSkip(events, steps, Cep.SkipPastLastRow)
    assert(got.collect().map(_.ids).toSeq === Seq(Seq(3L, 4L))) // single-order baseline
    val viaSql = {
      // run the full matcher through the internal alternation directly
      val out = Cep.matchRecognizeAlts(events, alts, Cep.SkipPastLastRow,
        quiesceMs = 0L)
      out // streaming-only; parse/semantics covered by the oracle query
    }
    assert(viaSql != null)
    // PERMUTE rejects quantifiers and SKIP TO in this subset
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.parse(
        """SELECT user_id, a_id FROM events
          |MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES A.event_id AS a_id
          |  PATTERN (PERMUTE(A+, B))
          |  DEFINE A AS TRUE
          |)""".stripMargin)
    }
  }

  test("MATCH_NUMBER() parses and numbers matches sequentially per key (fixture)") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchNumberSql)
    assert(spec.measures.exists {
      case MatchRecognizeSql.MatchNumM("mn") => true; case _ => false })
    // fixture: two view→purchase pairs for one user → mn 1, 2 in start order
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    val events = spark.createDataset(Seq(
      ev(1, 1, "view"), ev(2, 2, "purchase"), ev(3, 3, "error"),
      ev(4, 4, "view"), ev(5, 5, "purchase")))
    val steps = Seq(Cep.QStep.once(_.event_type == "view"),
      Cep.QStep.once(_.event_type == "purchase"))
    val ms = Cep.matchRecognizeOrderedSkip(events, steps, Cep.SkipToNextRow)
      .collect().sortBy(_.ids.head)
    assert(ms.map(m => (m.ids, m.seq)).toSeq ===
      Seq((Seq(1L, 2L), 1L), (Seq(4L, 5L), 2L)))
  }

  test("grouped repetition (A B)* A parses and matches greedy maximal runs (fixture)") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchMultiSql)
    assert(spec.groupRep === Some((Seq("A", "B"), Seq("A"), 0)))
    assert(spec.pattern.map(_._1) === Seq("A", "B"))
    // alternating view click view click view → one greedy 5-row match from
    // row 1 (n_a=3), plus the shorter SKIP TO NEXT ROW suffixes
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    val events = spark.createDataset(Seq(
      ev(1, 1, "view"), ev(2, 2, "click"), ev(3, 3, "view"),
      ev(4, 4, "click"), ev(5, 5, "view"), ev(6, 6, "error")))
    val stepByVar = Map(
      "A" -> Cep.QStep.once((e: StreamSource.Event) => e.event_type == "view"),
      "B" -> Cep.QStep.once((e: StreamSource.Event) => e.event_type == "click"))
    val ms = Cep.matchRecognizeGroup(events,
      Seq("A", "B").map(stepByVar), Seq("A").map(stepByVar), minRep = 0,
      Cep.SkipToNextRow, quiesceMs = 0L)
    val got = ms.collect().sortBy(_.ids.head).map(m => (m.ids, m.alt)).toSeq
    // alt carries the repetition count the loop decided on
    assert(got === Seq((Seq(1L, 2L, 3L, 4L, 5L), 2), (Seq(3L, 4L, 5L), 1),
      (Seq(5L), 0)))
    // (...)* with no tail is rejected (could match empty)
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.parse(
        """SELECT user_id, a_id FROM events
          |MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES FIRST(A.event_id) AS a_id
          |  PATTERN ((A B)*)
          |  DEFINE A AS TRUE
          |)""".stripMargin)
    }
  }

  test("grouped repetition loop is uncapped: 20-repetition match found whole") {
    // 41 alternating view/click rows = 20 (A B) occurrences + tail A; the
    // pre-r9 GroupRepCap=12 expansion would have truncated this to 12
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    // trailing 'error' decides the greedy attempt (in the SQL pipeline the
    // stream sentinel plays this role; a batch fixture has no timers)
    val events = spark.createDataset((1 to 41).map(i =>
      ev(i.toLong, i, if (i % 2 == 1) "view" else "click")) :+ ev(42, 42, "error"))
    val stepByVar = Map(
      "A" -> Cep.QStep.once((e: StreamSource.Event) => e.event_type == "view"),
      "B" -> Cep.QStep.once((e: StreamSource.Event) => e.event_type == "click"))
    val ms = Cep.matchRecognizeGroup(events,
      Seq("A", "B").map(stepByVar), Seq("A").map(stepByVar), minRep = 0,
      Cep.SkipPastLastRow, quiesceMs = 0L).collect()
    assert(ms.length === 1)
    assert(ms.head.alt === 20)
    assert(ms.head.ids === (1L to 41L))
    assert(ms.head.counts.length === 41)
  }

  test("SUBSET union variables parse and validate") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchSubsetSql)
    assert(spec.subsets === Map("U" -> Seq("A", "B")))
    // undefined member / shadowing a pattern var both reject
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.parse(
        """SELECT user_id, x FROM events
          |MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES COUNT(U.*) AS x
          |  PATTERN (A B)
          |  SUBSET U = (A, C)
          |  DEFINE A AS TRUE
          |)""".stripMargin)
    }
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.parse(
        """SELECT user_id, x FROM events
          |MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES COUNT(A.*) AS x
          |  PATTERN (A B)
          |  SUBSET A = (B)
          |  DEFINE A AS TRUE
          |)""".stripMargin)
    }
  }

  test("rejects unsupported statements") {
    intercept[IllegalArgumentException](MatchRecognizeSql.parse("SELECT 1"))
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      """SELECT x FROM events MATCH_RECOGNIZE (
        | ORDER BY ts MEASURES A.event_id AS x PATTERN (A) DEFINE A AS TRUE
        |)""".stripMargin)) // no PARTITION BY
  }

  test("SQL strict funnel equals the window-function derivation") {
    val viaSql = MatchRecognizeSql.matchStrict(spark, sf)
      .collect().map(_.toSeq)
    Tables.registerAll(spark, sf)
    val expected = spark.sql(
      """WITH sq AS (SELECT user_id, event_id AS a_id, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(event_id, 1) OVER w AS b_id,
        |  lead(event_type, 2) OVER w AS et2, lead(event_id, 2) OVER w AS c_id
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, a_id, b_id, c_id FROM sq
        |WHERE et0 = 'view' AND et1 = 'click' AND et2 = 'purchase'
        |ORDER BY user_id, a_id""".stripMargin).collect().map(_.toSeq)
    assert(viaSql === expected)
    assert(viaSql.nonEmpty)
  }

  test("measure segmentation: FIRST/LAST/COUNT split ids by per-step counts") {
    val m = Cep.Match(7L, Seq(10L, 11L, 12L, 13L), Seq(3, 1),
      Seq(1.0, 2.0, 3.0, 4.0))
    // evaluated through the public run path indirectly; here pin the
    // Match contract the measures rely on
    assert(m.counts.sum === m.ids.length)
    assert(m.vals.length === m.ids.length)
  }

  test("value-aggregate measures parse and route (SUM/AVG/MIN/MAX + field forms)") {
    import MatchRecognizeSql.ValAggM
    val spec = MatchRecognizeSql.parse(
      """SELECT user_id, s, a, lo, hi, fv FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES SUM(A.value) AS s, AVG(A.value) AS a, MIN(A.value) AS lo,
        |           MAX(A.value) AS hi, FIRST(A.value) AS fv
        |  PATTERN (A+)
        |  DEFINE A AS event_type = 'view'
        |)""".stripMargin)
    assert(spec.measures === Seq(ValAggM("SUM", "A", "s"), ValAggM("AVG", "A", "a"),
      ValAggM("MIN", "A", "lo"), ValAggM("MAX", "A", "hi"),
      FirstM("A", "fv", "value")))
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      """SELECT x FROM events MATCH_RECOGNIZE (
        | PARTITION BY user_id ORDER BY ts
        | MEASURES SUM(A.event_id) AS x PATTERN (A) DEFINE A AS TRUE
        |)""".stripMargin)) // SUM over a non-value field
  }

  test("WITHIN bounds the match span and is a strict subset of the unbounded result") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchWithinSql)
    assert(spec.withinMicros === Some(86400000000L))
    val bounded = MatchRecognizeSql.matchWithin(spark, sf).collect().map(_.toSeq).toSet
    val unbounded = MatchRecognizeSql.matchStrict(spark, sf).collect().map(_.toSeq).toSet
    assert(bounded.subsetOf(unbounded))
    assert(bounded.nonEmpty && bounded.size < unbounded.size,
      s"bound had no effect: ${bounded.size} of ${unbounded.size}")
  }

  test("ALL ROWS PER MATCH emits one classified row per matched row") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchAllRowsSql)
    assert(spec.allRows && spec.measures.isEmpty)
    val rows = MatchRecognizeSql.matchAllRows(spark, sf).collect()
    val strict = MatchRecognizeSql.matchStrict(spark, sf).collect()
    // 3 classified rows per strict match, classifiers follow the pattern
    assert(rows.length === strict.length * 3)
    val byCls = rows.groupBy(_.getString(2)).view.mapValues(_.length).toMap
    assert(byCls === Map("A" -> strict.length, "B" -> strict.length, "C" -> strict.length))
  }

  test("prefixed PERMUTE parses: fixed prefix var pinned around the permuted pair") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchPermuteSkipSql)
    assert(spec.permute)
    assert(spec.permPre === Seq("S"))
    assert(spec.permVars === Seq("A", "B"))
    assert(spec.permPost === Seq.empty)
    assert(spec.pattern.map(_._1) === Seq("S", "A", "B"))
    assert(spec.skipTo === Some(("LAST", "B")))
    val rep = MatchRecognizeSql.parse(MatchRecognizeSql.matchRepSkipSql)
    assert(rep.groupRep === Some((Seq("A", "B"), Seq("C"), 1)))
    assert(rep.skipTo === Some(("FIRST", "B")))
  }

  test("alt-aware SKIP TO LAST chains matches through the fired permutation's B row") {
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    // S = any row, then {view, click} in either order. purchase view click
    // view click: match1 = (1,2,3) via alt (S A B); SKIP TO LAST B resumes
    // AT the click row 3, which is the S of match2 = (3,4,5). PAST LAST
    // ROW finds only match1 — the skip clause is output-visible.
    val events = spark.createDataset(Seq(
      ev(1, 1, "purchase"), ev(2, 2, "view"), ev(3, 3, "click"),
      ev(4, 4, "view"), ev(5, 5, "click")))
    val any = Cep.QStep.once(_.event_type != "__sentinel")
    val v = Cep.QStep.once(_.event_type == "view")
    val c = Cep.QStep.once(_.event_type == "click")
    val alts = Seq(Seq(any, v, c), Seq(any, c, v)) // S A B, then S B A
    val posOfB: Int => Seq[Int] = alt => if (alt == 0) Seq(2) else Seq(1)
    def ids(skip: Cep.SkipPolicy): Seq[Seq[Long]] =
      Cep.matchRecognizeOrderedAlts(events, alts, skip)
        .collect().map(_.ids).toSeq.sortBy(_.head)
    assert(ids(Cep.SkipToLastOf(posOfB)) ===
      Seq(Seq(1L, 2L, 3L), Seq(3L, 4L, 5L)))
    assert(ids(Cep.SkipPastLastRow) === Seq(Seq(1L, 2L, 3L)))
  }

  test("SKIP TO LAST B on a whole-pattern PERMUTE fails loudly when B fires first") {
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    val events = spark.createDataset(Seq(ev(1, 1, "click"), ev(2, 2, "view")))
    val v = Cep.QStep.once(_.event_type == "view")
    val c = Cep.QStep.once(_.event_type == "click")
    val alts = Seq(Seq(v, c), Seq(c, v)) // (A B), (B A)
    val posOfB: Int => Seq[Int] = alt => if (alt == 0) Seq(1) else Seq(0)
    // the (B A) permutation fires with B on the match's start row: the
    // skip target would not advance — the reference's infinite-loop
    // condition, raised loudly
    val e = intercept[org.apache.spark.SparkException] {
      Cep.matchRecognizeOrderedAlts(events, alts, Cep.SkipToLastOf(posOfB))
        .collect()
    }
    assert(e.getMessage.contains("own start row") ||
      Option(e.getCause).exists(_.getMessage.contains("own start row")), e.toString)
  }

  test("grouped repetition + SKIP TO FIRST B: every view of the run starts an overlapping match") {
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    // v c v c v: greedy match1 = (1..5) with 2 repetitions; resume at the
    // FIRST click (row 2) → next start row 3 matches (3,4,5) with 1 rep.
    // The trailing purchase ends the run (the ordered variant's documented
    // stream-end convention — without it the greedy loop parks on NeedMore)
    val events = spark.createDataset(Seq(
      ev(1, 1, "view"), ev(2, 2, "click"), ev(3, 3, "view"),
      ev(4, 4, "click"), ev(5, 5, "view"), ev(6, 6, "purchase")))
    val v = Cep.QStep.once(_.event_type == "view")
    val c = Cep.QStep.once(_.event_type == "click")
    val posOfB: Int => Seq[Int] = k => Seq.tabulate(k)(j => 2 * j + 1)
    val out = Cep.matchRecognizeOrderedAlts(events, Seq(Seq(v, c, v)),
        Cep.SkipToFirstOf(posOfB), group = Some((Seq(v, c), Seq(v), 1)))
      .collect().sortBy(_.ids.head)
    assert(out.map(_.ids).toSeq === Seq(Seq(1L, 2L, 3L, 4L, 5L), Seq(3L, 4L, 5L)))
    assert(out.map(_.alt).toSeq === Seq(2, 1)) // repetition counts
  }

  test("logical offsets in DEFINE: the reference's LAST(B.price, n) table replays exactly") {
    // ref docs/dev/table/streaming/match_recognize.md:744-830 — PATTERN
    // (A B+) with B gated by LAST(B.price, 1) and 2 * LAST(B.price, 2):
    // prices 10 → A, 15/20/31 → B, 35 NOT mapped (35 < 2 * 20)
    import spark.implicits._
    def ev(id: Long, sec: Int, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, "tick", v)
    val events = spark.createDataset(Seq(
      ev(1, 1, 10.0), ev(2, 2, 15.0), ev(3, 3, 20.0), ev(4, 4, 31.0),
      ev(5, 5, 35.0)))
    val spec = MatchRecognizeSql.parse(
      """SELECT user_id, n_b FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES COUNT(B.*) AS n_b
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A B+)
        |  DEFINE A AS value >= 10,
        |         B AS (LAST(B.value, 1) IS NULL OR B.value > LAST(B.value, 1))
        |           AND (LAST(B.value, 2) IS NULL OR B.value > 2 * LAST(B.value, 2))
        |)""".stripMargin)
    val bStep = spec.pattern(1)._2
    assert(bStep.xagg.nonEmpty, "offset navigation routes through the xagg slot")
    val got = Cep.matchRecognizeOrderedSkip(events, spec.pattern.map(_._2),
      Cep.SkipPastLastRow).collect()
    assert(got.map(_.ids).toSeq === Seq(Seq(1L, 2L, 3L, 4L)),
      "row 5 (35) must be rejected by the offset-2 condition: 35 < 2 * 20")
    assert(got.head.counts === Seq(1, 3))
  }

  test("V-pattern navigation (the reference's flagship example shape) on a fixture") {
    import spark.implicits._
    def ev(id: Long, sec: Int, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, "tick", v)
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchNavSql)
    assert(spec.skipTo === Some(("LAST", "UP")))
    // penult measure is the offset form LAST(DOWN.value, 1)
    assert(spec.measures.exists {
      case MatchRecognizeSql.LastM("DOWN", "penult", "value", 1) => true
      case _ => false })
    val steps = spec.pattern.map(_._2)
    // 50 40 30 45: STRT=50, DOWN=[40, 30], UP=45 > LAST(DOWN.value,1)=40
    val hit = spark.createDataset(Seq(
      ev(1, 1, 50.0), ev(2, 2, 40.0), ev(3, 3, 30.0), ev(4, 4, 45.0)))
    val got = Cep.matchRecognizeOrderedSkip(hit, steps, Cep.SkipPastLastRow)
      .collect()
    assert(got.map(_.ids).toSeq === Seq(Seq(1L, 2L, 3L, 4L)))
    assert(got.head.counts === Seq(1, 2, 1))
    // 50 40 30 35: up-tick 35 fails 35 > 40 — and a single-row down run
    // (LAST(DOWN,1) NULL at the UP check) can never close: no match
    val miss = spark.createDataset(Seq(
      ev(1, 1, 50.0), ev(2, 2, 40.0), ev(3, 3, 30.0), ev(4, 4, 35.0),
      ev(5, 5, 34.0))) // trailing row keeps the last attempt decided
    assert(Cep.matchRecognizeOrderedSkip(miss, steps, Cep.SkipPastLastRow)
      .collect().isEmpty)
    // cross-variable anchor: first DOWN must sit BELOW the start row
    // (DOWN.value < STRT.value reads STRT's matched row) — 50 55 30 45
    // has 55 not below 50, and 30 < 55 opens a fresh attempt at 55 only
    val anchor = spark.createDataset(Seq(
      ev(1, 1, 50.0), ev(2, 2, 55.0), ev(3, 3, 30.0), ev(4, 4, 45.0),
      ev(5, 5, 44.0)))
    val got2 = Cep.matchRecognizeOrderedSkip(anchor, steps, Cep.SkipPastLastRow)
      .collect()
    // start at 55: DOWN=[30] is a 1-row run → UP nav NULL → no match;
    // no other start yields >= 2 downs: empty
    assert(got2.isEmpty)
    // 60 55 30 45 ...: STRT=60, DOWN=[55, 30], UP=45 > 55? no → but
    // backtracking cannot shorten (45 > LAST(...,1) needs the 2-row run);
    // make it match: UP 56 > 55
    val got3 = Cep.matchRecognizeOrderedSkip(spark.createDataset(Seq(
      ev(1, 1, 60.0), ev(2, 2, 55.0), ev(3, 3, 30.0), ev(4, 4, 56.0))),
      steps, Cep.SkipPastLastRow).collect()
    assert(got3.map(_.ids).toSeq === Seq(Seq(1L, 2L, 3L, 4L)))
  }

  test("measure logical offsets: FIRST/LAST(V.f, n) with out-of-range → NULL") {
    val spec = MatchRecognizeSql.parse(
      """SELECT user_id, p1, f1, f9 FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES LAST(A.value, 1) AS p1, FIRST(A.event_id, 1) AS f1,
        |           FIRST(A.value, 9) AS f9
        |  PATTERN (A+ B)
        |  DEFINE A AS event_type = 'view', B AS event_type = 'purchase'
        |)""".stripMargin)
    import MatchRecognizeSql.{FirstM, LastM}
    assert(spec.measures === Seq(LastM("A", "p1", "value", 1),
      FirstM("A", "f1", "event_id", 1), FirstM("A", "f9", "value", 9)))
    // offset on an aggregate rejects
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      """SELECT x FROM events MATCH_RECOGNIZE (
        | PARTITION BY user_id ORDER BY ts
        | MEASURES SUM(A.value, 1) AS x PATTERN (A) DEFINE A AS TRUE
        |)""".stripMargin))
  }

  test("navigation compile rules: cross-var resolution, NULL comparisons, validation") {
    val t = new java.sql.Timestamp(0L)
    def e(id: Long, v: Double) = StreamSource.Event(id, t, 1L, "tick", v)
    // UP.value > LAST(DOWN.value, 1): qualified self = current row,
    // foreign var navigates its matched rows
    val up = MatchRecognizeSql.compileDefine("UP",
      "UP.value > LAST(DOWN.value, 1)")
    assert(up.xagg.nonEmpty && up.aggVars === Set("DOWN"))
    val vars2 = Map("DOWN" -> IndexedSeq(e(1, 40.0), e(2, 30.0)))
      .withDefaultValue(IndexedSeq.empty[StreamSource.Event])
    assert(up.xagg.get(vars2, e(3, 45.0)))   // 45 > 40
    assert(!up.xagg.get(vars2, e(3, 35.0)))  // 35 <= 40
    // one DOWN row: LAST(DOWN.value, 1) is NULL → comparison false
    val vars1 = Map("DOWN" -> IndexedSeq(e(1, 40.0)))
      .withDefaultValue(IndexedSeq.empty[StreamSource.Event])
    assert(!up.xagg.get(vars1, e(3, 99.0)))
    // own-variable LAST counts the candidate as the latest row
    val own = MatchRecognizeSql.compileDefine("B",
      "B.value > LAST(B.value, 1)")
    val varsB = Map("B" -> IndexedSeq(e(1, 10.0)))
      .withDefaultValue(IndexedSeq.empty[StreamSource.Event])
    assert(own.xagg.get(varsB, e(2, 11.0)))   // 11 > 10
    assert(!own.xagg.get(varsB, e(2, 9.0)))
    // IS NOT NULL
    val nn = MatchRecognizeSql.compileDefine("B",
      "LAST(B.value, 1) IS NOT NULL")
    assert(!nn.xagg.get(Map.empty[String, IndexedSeq[StreamSource.Event]]
      .withDefaultValue(IndexedSeq.empty), e(1, 1.0)))
    assert(nn.xagg.get(varsB, e(2, 1.0)))
    // FIRST offset + numeric scale
    val sc = MatchRecognizeSql.compileDefine("B",
      "B.value > 2 * FIRST(B.value, 0)")
    assert(sc.xagg.get(varsB, e(2, 21.0)))   // 21 > 2 * 10
    assert(!sc.xagg.get(varsB, e(2, 20.0)))
    // navigating a non-pattern variable rejects at parse time
    intercept[IllegalArgumentException] {
      MatchRecognizeSql.parse(
        """SELECT user_id, x FROM events
          |MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES COUNT(A.*) AS x
          |  PATTERN (A B)
          |  DEFINE B AS value > LAST(Z.value, 1)
          |)""".stripMargin)
    }
    // a variable merely CONTAINING the substring PERMUTE still parses as a
    // grouped repetition (ADVICE r12: the substring gate is now shape-based)
    val g = MatchRecognizeSql.parse(
      """SELECT user_id, x FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES COUNT(PERMUTED.*) AS x
        |  PATTERN ((PERMUTED B)+ C)
        |  DEFINE PERMUTED AS event_type = 'view', B AS event_type = 'click'
        |)""".stripMargin)
    assert(g.groupRep === Some((Seq("PERMUTED", "B"), Seq("C"), 1)))
    assert(!g.permute)
  }

  test("MATCH_ROWTIME() carries the match's last-row event time; ALL ROWS rejects") {
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, 1.0)
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchRowtimeSql)
    assert(spec.measures.exists {
      case MatchRecognizeSql.MatchRowtimeM("mrt") => true; case _ => false })
    // fixture: the match (1, 2) must report row 2's timestamp in micros
    val events = spark.createDataset(Seq(
      ev(1, 10, "view"), ev(2, 25, "purchase"), ev(3, 40, "click")))
    val got = Cep.matchRecognizeOrderedSkip(events, spec.pattern.map(_._2),
      Cep.SkipToNextRow).collect()
    assert(got.map(m => (m.ids, m.lastTsMicros)).toSeq ===
      Seq((Seq(1L, 2L), 25000000L)))
    // ALL ROWS + MATCH_ROWTIME is out of subset, rejected at parse time
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      """SELECT user_id, event_id, x FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES MATCH_ROWTIME() AS x
        |  ALL ROWS PER MATCH
        |  PATTERN (A B)
        |  DEFINE A AS event_type = 'view'
        |)""".stripMargin))
  }

  test("full quantifier set parses: ? ?? {n,} {n,m}? {,m}; bounds validated") {
    def stepOf(pat: String) = MatchRecognizeSql.parse(
      s"""SELECT user_id, n FROM events
         |MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES COUNT(A.*) AS n
         |  PATTERN ($pat)
         |  DEFINE A AS event_type = 'view'
         |)""".stripMargin).pattern.head._2
    val opt = stepOf("A? B")
    assert(opt.min === 0 && opt.max === 1 && opt.greedy)
    val optRel = stepOf("A?? B") // in the reference's own unsupported list
    assert(optRel.min === 0 && optRel.max === 1 && !optRel.greedy)
    val open = stepOf("A{2,} B")
    assert(open.min === 2 && open.max === Int.MaxValue && open.greedy)
    val closedRel = stepOf("A{2,4}? B")
    assert(closedRel.min === 2 && closedRel.max === 4 && !closedRel.greedy)
    val upto = stepOf("A{,3} B")
    assert(upto.min === 0 && upto.max === 3 && upto.greedy)
    // bounds per match_recognize.md:355-358
    intercept[IllegalArgumentException](stepOf("A{0} B"))
    intercept[IllegalArgumentException](stepOf("A{3,2} B"))
    intercept[IllegalArgumentException](stepOf("A{,0} B"))
    // a pattern where every variable admits zero rows could match empty
    intercept[IllegalArgumentException](stepOf("A* B?"))
  }

  test("greedy vs reluctant optional: B-present preferred vs B-absent (fixture)") {
    import spark.implicits._
    def ev(id: Long, sec: Int, t: String, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, t, v)
    // view, high-value purchase, purchase: both parses of (A B? C) fit
    val events = spark.createDataset(Seq(
      ev(1, 1, "view", 5.0), ev(2, 2, "purchase", 60.0), ev(3, 3, "purchase", 8.0)))
    def steps(pat: String) = MatchRecognizeSql.parse(
      s"""SELECT user_id, a_id FROM events
         |MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES A.event_id AS a_id
         |  PATTERN ($pat)
         |  DEFINE A AS event_type = 'view', B AS value > 50,
         |         C AS event_type = 'purchase'
         |)""".stripMargin).pattern.map(_._2)
    val greedy = Cep.matchRecognizeOrderedSkip(events, steps("A B? C"),
      Cep.SkipToNextRow).collect()
    assert(greedy.map(m => (m.ids, m.counts)).toSeq ===
      Seq((Seq(1L, 2L, 3L), Seq(1, 1, 1))), "greedy takes the B row")
    val rel = Cep.matchRecognizeOrderedSkip(events, steps("A B?? C"),
      Cep.SkipToNextRow).collect()
    assert(rel.map(m => (m.ids, m.counts)).toSeq ===
      Seq((Seq(1L, 2L), Seq(1, 0, 1))), "reluctant skips the optional row")
  }

  test("range quantifiers on a fixture: {2,3} greedy/reluctant, {,2}, {2,}") {
    import spark.implicits._
    def ev(id: Long, sec: Int, t: String) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, t, 1.0)
    def steps(pat: String, defs: String) = MatchRecognizeSql.parse(
      s"""SELECT user_id, n FROM events
         |MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES COUNT(A.*) AS n
         |  PATTERN ($pat)
         |  DEFINE $defs
         |)""".stripMargin).pattern.map(_._2)
    // click click purchase purchase: A = non-error overlaps C = purchase
    val overlap = spark.createDataset(Seq(
      ev(1, 1, "click"), ev(2, 2, "click"), ev(3, 3, "purchase"), ev(4, 4, "purchase")))
    val defs = "A AS event_type <> 'error', C AS event_type = 'purchase'"
    val g = Cep.matchRecognizeOrderedSkip(overlap,
      steps("A{2,3} C", defs), Cep.SkipPastLastRow).collect()
    assert(g.map(_.counts).toSeq === Seq(Seq(3, 1)),
      "greedy {2,3} swallows the first purchase as its third A row")
    val r = Cep.matchRecognizeOrderedSkip(overlap,
      steps("A{2,3}? C", defs), Cep.SkipPastLastRow).collect()
    assert(r.map(_.counts).toSeq === Seq(Seq(2, 1)),
      "reluctant {2,3}? closes at the shortest repetition")
    // {,2}: zero-to-two clicks between view and purchase
    val clicks = spark.createDataset(Seq(
      ev(1, 1, "view"), ev(2, 2, "click"), ev(3, 3, "purchase"),
      ev(4, 4, "view"), ev(5, 5, "purchase")))
    val upto = Cep.matchRecognizeOrderedSkip(clicks,
      steps("A B{,2} C",
        "A AS event_type = 'view', B AS event_type = 'click', C AS event_type = 'purchase'"),
      Cep.SkipPastLastRow).collect()
    assert(upto.map(m => (m.ids, m.counts)).toSeq ===
      Seq((Seq(1L, 2L, 3L), Seq(1, 1, 1)), (Seq(4L, 5L), Seq(1, 0, 1))))
    // {2,}: unbounded greedy run closed by the purchase
    val run = spark.createDataset(Seq(
      ev(1, 1, "view"), ev(2, 2, "view"), ev(3, 3, "view"), ev(4, 4, "view"),
      ev(5, 5, "purchase")))
    val open = Cep.matchRecognizeOrderedSkip(run,
      steps("A{2,} C",
        "A AS event_type = 'view', C AS event_type = 'purchase'"),
      Cep.SkipPastLastRow).collect()
    assert(open.map(m => (m.ids, m.counts)).toSeq ===
      Seq((Seq(1L, 2L, 3L, 4L, 5L), Seq(4, 1))))
  }

  test("SUBSET union in DEFINE: the gate reads the members' merged rows") {
    import spark.implicits._
    def ev(id: Long, sec: Int, t: String, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, t, v)
    // view(50) view(50) click(30) purchase: SUM(U.value) = 130 > 120 → match;
    // second group sums 90 → C's DEFINE rejects the purchase
    val events = spark.createDataset(Seq(
      ev(1, 1, "view", 50), ev(2, 2, "view", 50), ev(3, 3, "click", 30),
      ev(4, 4, "purchase", 5),
      ev(5, 5, "view", 20), ev(6, 6, "view", 30), ev(7, 7, "click", 40),
      ev(8, 8, "purchase", 5)))
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchSubsetDefSql)
    val got = Cep.matchRecognizeOrderedSkip(events, spec.pattern.map(_._2),
      Cep.SkipToNextRow).collect()
    assert(got.map(_.ids).toSeq === Seq(Seq(1L, 2L, 3L, 4L)),
      "only the >120 union sum may admit the purchase")
    // a DEFINE aggregate over an unknown name still fails loudly
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      MatchRecognizeSql.matchSubsetDefSql.replace("SUM(U.value)", "SUM(Z.value)")))
  }

  test("DISTINCT aggregations parse in MEASURES and evaluate in DEFINE (r14)") {
    import spark.implicits._
    // parse: the distinct flag lands on the measure
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchDistinctSql)
    assert(spec.measures.exists {
      case MatchRecognizeSql.CountM("A", "n_dist", true) => true; case _ => false })
    assert(spec.measures.exists {
      case MatchRecognizeSql.ValAggM("SUM", "A", "sum_dist", true) => true; case _ => false })
    assert(spec.measures.exists {
      case MatchRecognizeSql.CountM("A", "n_a", false) => true; case _ => false })
    // DISTINCT on navigation is rejected
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      MatchRecognizeSql.matchDistinctSql.replace(
        "FIRST(A.event_id)", "FIRST(DISTINCT A.event_id)")))
    // DEFINE: COUNT(DISTINCT A.value) >= 2 needs two distinct values —
    // planted duplicates (10, 10) must NOT satisfy it, (10, 20) must
    def ev(id: Long, sec: Int, et: String, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, v)
    def stepsFor() = MatchRecognizeSql.parse(
      """SELECT user_id, n FROM events
        |MATCH_RECOGNIZE (
        |  PARTITION BY user_id ORDER BY ts
        |  MEASURES COUNT(A.*) AS n
        |  AFTER MATCH SKIP PAST LAST ROW
        |  PATTERN (A+ B)
        |  DEFINE A AS event_type = 'view',
        |         B AS event_type = 'purchase' AND COUNT(DISTINCT A.value) >= 2
        |)""".stripMargin).pattern.map(_._2)
    val dupRun = spark.createDataset(Seq(
      ev(1, 1, "view", 10.0), ev(2, 2, "view", 10.0), ev(3, 3, "purchase", 5.0)))
    val gotDup = Cep.matchRecognizeOrderedSkip(dupRun, stepsFor(), Cep.SkipPastLastRow)
      .collect().map(_.ids).toSeq
    assert(gotDup === Nil, "two equal values are ONE distinct value")
    val twoRun = spark.createDataset(Seq(
      ev(1, 1, "view", 10.0), ev(2, 2, "view", 20.0), ev(3, 3, "purchase", 5.0)))
    val gotTwo = Cep.matchRecognizeOrderedSkip(twoRun, stepsFor(), Cep.SkipPastLastRow)
      .collect().map(_.ids).toSeq
    assert(gotTwo === Seq(Seq(1L, 2L, 3L)))
  }

  test("exclusion {- A -} parses, validates, and is ALL-ROWS-only (r14)") {
    val spec = MatchRecognizeSql.parse(MatchRecognizeSql.matchExcludeSql)
    assert(spec.excluded === Set("A"))
    assert(spec.pattern.map(_._1) === Seq("A", "B", "C"), "markers stripped, A still matched")
    // ONE ROW mode rejects exclusion (match_recognize.md:1112 — ALL ROWS only)
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      MatchRecognizeSql.matchExcludeSql.replace(
        "ALL ROWS PER MATCH", "ONE ROW PER MATCH").replace(
        ", CLASSIFIER() AS cls", "").replace("event_id, ", "")))
    // an excluded variable is a pattern variable by construction (the
    // markers strip to the variable itself), so a NEW name inside markers
    // simply joins the pattern — un-DEFINEd, matches any row
    val z = MatchRecognizeSql.parse(
      MatchRecognizeSql.matchExcludeSql.replace("{- A -}", "{- Z -} A"))
    assert(z.excluded === Set("Z") && z.pattern.map(_._1) === Seq("Z", "A", "B", "C"))
    // excluding the whole pattern rejects
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      MatchRecognizeSql.matchExcludeSql.replace("{- A -} B C", "{- A B C -}")))
    // a variable occurring both inside AND outside markers is a duplicate
    // pattern variable after stripping — rejected loudly by the
    // single-occurrence rule, never silently all-suppressed
    intercept[IllegalArgumentException](MatchRecognizeSql.parse(
      MatchRecognizeSql.matchExcludeSql.replace("{- A -} B C", "A {- A -} B C")))
  }

  test("PREV physical offset reads input rows, not mapped rows (r14)") {
    import spark.implicits._
    def ev(id: Long, sec: Int, et: String, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(sec * 1000L), 1L, et, v)
    def stepsOf(defA: String) = MatchRecognizeSql.parse(
      s"""SELECT user_id, a_id FROM events
         |MATCH_RECOGNIZE (
         |  PARTITION BY user_id ORDER BY ts
         |  MEASURES A.event_id AS a_id
         |  ONE ROW PER MATCH
         |  AFTER MATCH SKIP PAST LAST ROW
         |  PATTERN (B A)
         |  DEFINE B AS event_type = 'click', A AS $defA
         |)""".stripMargin).pattern.map(_._2)
    val events = spark.createDataset(Seq(
      ev(1, 1, "click", 10.0), ev(2, 2, "view", 20.0)))
    // the divergence pin: PREV sees the physically previous row (the B
    // click) where logical LAST(A.value, 1) sees NULL (no prior A row)
    val prev = Cep.matchRecognizeOrderedSkip(events,
      stepsOf("A.value > PREV(A.value)"), Cep.SkipPastLastRow)
      .collect().map(_.ids).toSeq
    assert(prev === Seq(Seq(1L, 2L)),
      "PREV must read the physically previous row (whatever variable mapped it)")
    val last = Cep.matchRecognizeOrderedSkip(events,
      stepsOf("A.value > LAST(A.value, 1)"), Cep.SkipPastLastRow)
      .collect().map(_.ids).toSeq
    assert(last === Nil,
      "LAST(A.value, 1) is NULL here — logical and physical offsets genuinely differ")
    // off the partition start → SQL NULL → comparison false
    val fromStart = Cep.matchRecognizeOrderedSkip(
      spark.createDataset(Seq(ev(1, 1, "click", 10.0), ev(2, 2, "view", 20.0))),
      MatchRecognizeSql.parse(
        """SELECT user_id, a_id FROM events
          |MATCH_RECOGNIZE (
          |  PARTITION BY user_id ORDER BY ts
          |  MEASURES A.event_id AS a_id
          |  ONE ROW PER MATCH
          |  PATTERN (A)
          |  DEFINE A AS A.value > PREV(A.value, 5)
          |)""".stripMargin).pattern.map(_._2),
      Cep.SkipPastLastRow).collect()
    assert(fromStart.isEmpty, "PREV past the partition start is NULL, never a match")
    // NEXT is out of subset (forward lookahead), rejected loudly
    intercept[IllegalArgumentException](stepsOf("A.value > NEXT(A.value)"))
    // a PREV qualifier must name the defining variable
    intercept[IllegalArgumentException](stepsOf("A.value > PREV(B.value)"))
    // mixed-context conjuncts reject AT COMPILE TIME (the loud-reject
    // convention): logical navigation and cross-variable fields evaluate
    // against the partial match, PREV against the input buffer — they may
    // not share one conjunct (separate top-level ANDs compose fine)
    intercept[IllegalArgumentException](
      stepsOf("PREV(A.value) > 1 OR LAST(A.value, 1) > 2"))
    intercept[IllegalArgumentException](stepsOf("B.value > PREV(A.value)"))
  }

  test("NOT of an out-of-range navigation comparison is NULL, so the row does not match") {
    // three-valued logic, as in the DuckDB oracles:
    //   SELECT NOT (NULL > 3)  →  NULL
    // LAST(A.value, 5) is NULL until A holds six rows, so NOT (... > 3) is
    // NULL, not TRUE, and the candidate is refused
    val t = new java.sql.Timestamp(0L)
    def e(id: Long, v: Double) = StreamSource.Event(id, t, 1L, "view", v)
    val d = MatchRecognizeSql.compileDefine("A", "NOT (LAST(A.value, 5) > 3)")
    val none = Map.empty[String, IndexedSeq[StreamSource.Event]]
      .withDefaultValue(IndexedSeq.empty)
    assert(!d.xagg.get(none, e(1, 1.0)), "NOT NULL must not match")
    // in range the negation decides as usual
    val five = Map("A" -> (1L to 5L).map(i => e(i, i.toDouble)))
      .withDefaultValue(IndexedSeq.empty[StreamSource.Event])
    assert(d.xagg.get(five, e(6, 6.0)))   // LAST(A.value, 5) = 1: NOT (1 > 3)
    val big = Map("A" -> (1L to 5L).map(i => e(i, 10.0 * i)))
      .withDefaultValue(IndexedSeq.empty[StreamSource.Event])
    assert(!d.xagg.get(big, e(6, 6.0)))   // LAST(A.value, 5) = 10: NOT (10 > 3)
  }

  test("CASE, BETWEEN, IN and arithmetic on navigation match their AND/OR twins") {
    import spark.implicits._
    def ev(id: Long, et: String, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(id * 1000L), 1L, et, v)
    val types = Seq("view", "view", "click", "purchase", "view", "error", "click")
    val events = spark.createDataset((1L to 80L).map(i =>
      ev(i, types((i % types.length).toInt), ((i * 37) % 23).toDouble)))
    def matches(defineB: String): Seq[Seq[Long]] = {
      val steps = MatchRecognizeSql.parse(
        s"""SELECT user_id, n FROM events
           |MATCH_RECOGNIZE (
           |  PARTITION BY user_id ORDER BY ts
           |  MEASURES COUNT(A.*) AS n
           |  AFTER MATCH SKIP TO NEXT ROW
           |  PATTERN (A+ B)
           |  DEFINE A AS event_type = 'view', B AS $defineB
           |)""".stripMargin).pattern.map(_._2)
      Cep.matchRecognizeOrderedSkip(events, steps, Cep.SkipToNextRow)
        .collect().map(_.ids).toSeq.sortBy(_.head)
    }
    val all = matches("TRUE")
    Seq(
      "CASE WHEN event_type = 'click' THEN B.value > LAST(A.value) " +
        "ELSE B.value < LAST(A.value) END" ->
        ("(event_type = 'click' AND B.value > LAST(A.value)) OR " +
          "(event_type <> 'click' AND B.value < LAST(A.value))"),
      "B.value BETWEEN LAST(A.value) AND 2 * FIRST(A.value)" ->
        "B.value >= LAST(A.value) AND B.value <= 2 * FIRST(A.value)",
      "event_type IN ('click', 'purchase')" ->
        "event_type = 'click' OR event_type = 'purchase'",
      "B.value - 2 * LAST(A.value, 1) > 0" -> "B.value > 2 * LAST(A.value, 1)"
    ).foreach { case (form, twin) =>
      val got = matches(form)
      assert(got === matches(twin), s"$form differs from $twin")
      assert(got.nonEmpty && got.length < all.length, s"$form is not load-bearing")
    }
  }

  test("division by zero and a failed CAST in DEFINE are NULL, not a failed query") {
    // as in the DuckDB oracles:  SELECT 5.0 / 0  →  NULL
    // (Spark's ANSI mode would raise DIVIDE_BY_ZERO inside the task)
    import spark.implicits._
    def ev(id: Long, et: String, v: Double) =
      StreamSource.Event(id, new java.sql.Timestamp(id * 1000L), 1L, et, v)
    val types = Seq("view", "click", "view", "7", "view", "click")
    val events = spark.createDataset((1L to 60L).map(i =>
      ev(i, types((i % types.length).toInt), (i % 4).toDouble)))
    def matches(defineB: String): Seq[Seq[Long]] = {
      val steps = MatchRecognizeSql.parse(
        s"""SELECT user_id, n FROM events
           |MATCH_RECOGNIZE (
           |  PARTITION BY user_id ORDER BY ts
           |  MEASURES COUNT(A.*) AS n
           |  AFTER MATCH SKIP TO NEXT ROW
           |  PATTERN (A B)
           |  DEFINE A AS event_type = 'view', B AS $defineB
           |)""".stripMargin).pattern.map(_._2)
      Cep.matchRecognizeOrderedSkip(events, steps, Cep.SkipToNextRow)
        .collect().map(_.ids).toSeq.sortBy(_.head)
    }
    val all = matches("TRUE")
    Seq(
      "B.value / LAST(A.value) >= 1" -> "LAST(A.value) <> 0 AND B.value >= LAST(A.value)",
      "CAST(event_type AS INT) > 0" -> "event_type = '7'"
    ).foreach { case (form, twin) =>
      val got = matches(form)
      assert(got === matches(twin), s"$form differs from $twin")
      assert(got.nonEmpty && got.length < all.length, s"$form is not load-bearing")
    }
  }

  test("SQL value measures equal the window-function derivation") {
    val viaSql = MatchRecognizeSql.matchSum(spark, sf).collect().map(_.toSeq)
    Tables.registerAll(spark, sf)
    val expected = spark.sql(
      """WITH sq AS (SELECT user_id, event_id AS a_id, value AS v0, event_type AS et0,
        |  lead(event_type, 1) OVER w AS et1, lead(value, 1) OVER w AS v1,
        |  lead(event_type, 2) OVER w AS et2, lead(value, 2) OVER w AS v2
        | FROM events WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id))
        |SELECT user_id, a_id, round(v0 + v1, 6) AS a_sum,
        | round((v0 + v1) / 2, 6) AS a_avg, round(v2, 6) AS b_val,
        | CAST(2 AS BIGINT) AS n_a
        |FROM sq WHERE et0 = 'view' AND et1 = 'view' AND et2 = 'purchase'
        |ORDER BY user_id, a_id""".stripMargin).collect().map(_.toSeq)
    assert(viaSql === expected)
    assert(viaSql.nonEmpty)
  }
}
