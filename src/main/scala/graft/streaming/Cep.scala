package graft.streaming

import graft.streaming.StreamSource.Event
import org.apache.spark.sql.Dataset
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode}

/** Complex-event-processing: pattern matching over keyed event streams
  * (SURVEY.md §2.9 MATCH_RECOGNIZE; ref flink-cep nfa/NFA.java and
  * StreamExecMatch.scala:68).
  *
  * Round-1 scope: strict-contiguity sequence patterns (`PATTERN (A B C)`)
  * with emit-on-every-match (`AFTER MATCH SKIP TO NEXT ROW`) — the matcher
  * is a sliding window of the last (L-1) events per key, which IS the NFA
  * for strict contiguity (each partial match is a suffix of the recent
  * event run). Relaxed contiguity / quantifiers (`A+ B*?`) need the full
  * shared-buffer NFA and are a later-round stretch.
  *
  * State per key: L-1 events — O(1). Event-time order within batch is
  * enforced by sorting the group iterator; run a matcher's step inside the
  * watermark sorter (StatefulOps.sortedThen) for out-of-order input.
  */
object Cep {

  /** One pattern match: the matched rows' event ids and values in order,
    * plus how many of those rows each pattern step consumed
    * (`counts.sum == ids.length`, one entry per step) — the per-variable
    * segmentation that SQL MATCH_RECOGNIZE measures (FIRST/LAST/COUNT and
    * the value aggregates SUM/MIN/MAX/AVG over a pattern variable) are
    * computed from. */
  /** `seq` is the 1-based per-key MATCH_NUMBER (sequential in match-start
    * order — the matcher emits matches in buffer order and persists the
    * counter in keyed state); 0 from matchers that don't number.
    * `lastTsMicros` is the event time of the match's LAST row — the
    * SQL:2016 MATCH_ROWTIME() value (r13; the reference lists the
    * time-attribute output as unsupported, match_recognize.md:1123) —
    * filled by the quantified matcher, 0 from the legacy matchers. */
  case class Match(user_id: Long, ids: Seq[Long], counts: Seq[Int],
                   vals: Seq[Double], alt: Int = 0, seq: Long = 0L,
                   lastTsMicros: Long = 0L)
  case class Partial(ids: Seq[Long], startMicros: Long, next: Int,
                     lastMicros: Long, vals: Seq[Double],
                     seenSince: Boolean = false)
  case class NfaState(partials: Seq[Partial])

  /** All strict-contiguity matches of `steps` (one predicate per pattern
    * position) in per-key event-time order. A found match is an immutable
    * fact, never revised — APPEND mode. */
  def patternStep(steps: Seq[Event => Boolean]): KeyedStep[List[Event], Match] = {
    val L = steps.length
    require(L >= 1)
    KeyedStep[List[Event], Match] { (key, rows, state) =>
      var recent = state.getOption.getOrElse(Nil) // last L-1 events, oldest first
      val out = scala.collection.mutable.ArrayBuffer.empty[Match]
      rows.toSeq.sortBy(e => (StatefulOps.micros(e.ts), e.event_id)).foreach { e =>
        val window = recent :+ e
        if (window.length == L && window.zip(steps).forall { case (ev, p) => p(ev) })
          out += Match(key, window.map(_.event_id), Seq.fill(L)(1),
            window.map(_.value))
        recent = (window.takeRight(L - 1))
      }
      state.update(recent)
      out.iterator
    }
  }

  def matchPattern(ds: Dataset[Event], steps: Seq[Event => Boolean]): Dataset[Match] =
    patternStep(steps).run(ds)

  /** One quantified pattern step: `pred` must hold for `min`..`max`
    * consecutive rows; `greedy` tries the longest repetition first,
    * reluctant (`greedy = false`) the shortest. `agg` is an optional
    * RUNNING-aggregate constraint over the variable's own rows (the SQL
    * `DEFINE A AS ... AND SUM(A.value) <= x` form — ref NFA.java
    * evaluates DEFINE against the partial match's shared buffer): it
    * receives (rows already in this repetition, their value-sum, the
    * candidate row) and must hold for the row to join the repetition.
    * Ref: flink-cep cep/pattern/Quantifier.java compiled by NFACompiler. */
  case class QStep(pred: Event => Boolean, min: Int, max: Int, greedy: Boolean,
                   agg: Option[(Int, Double, Event) => Boolean] = None,
                   name: String = "",
                   xagg: Option[(Map[String, IndexedSeq[Event]], Event) => Boolean] = None,
                   // stop condition for a looping step (ref Pattern#until,
                   // docs/dev/libs/cep.md:449-456): an event matching it is
                   // NOT accepted into the repetition — the loop ends there
                   // and the next step is tried at that row. Also the
                   // reference's state-cleanup hook for unbounded loops.
                   until: Option[Event => Boolean] = None,
                   // physical-offset DEFINE conjuncts (r14, SQL:2016
                   // PREV — on the reference's unsupported list): receives
                   // (partition buffer, candidate index, candidate row);
                   // PREV(f, n) reads buf(idx − n) whatever variable that
                   // row mapped to. physDepth = the deepest n any PREV in
                   // this step reaches — the matcher retains that many
                   // decided rows as history across drains.
                   phys: Option[(IndexedSeq[Event], Int, Event) => Boolean] = None,
                   physDepth: Int = 0)
  object QStep {
    def once(p: Event => Boolean): QStep = QStep(p, 1, 1, greedy = true)
    def times(p: Event => Boolean, n: Int): QStep = QStep(p, n, n, greedy = true)
    def oneOrMore(p: Event => Boolean, greedy: Boolean = true): QStep =
      QStep(p, 1, Int.MaxValue, greedy)
    def zeroOrMore(p: Event => Boolean, greedy: Boolean = true): QStep =
      QStep(p, 0, Int.MaxValue, greedy)
  }

  /** AFTER MATCH SKIP strategy (ref flink-cep AfterMatchSkipStrategy and
    * the SQL clause, docs/dev/table/sql/queries.md:366): where the scan
    * resumes after a match at rows [start..end].
    *  - PastLastRow: end + 1 (non-overlapping; the SQL default)
    *  - ToNextRow:   start + 1 (every start position tested)
    *  - ToFirst(k):  the row matched by FIRST(variable k)
    *  - ToLast(k):   the row matched by LAST(variable k)
    * ToFirst/ToLast of a variable that would resume AT the match's own
    * start throws (the reference raises the same infinite-loop error),
    * as does skipping to a variable that matched no rows. */
  sealed trait SkipPolicy
  case object SkipPastLastRow extends SkipPolicy
  case object SkipToNextRow extends SkipPolicy
  case class SkipToFirst(step: Int) extends SkipPolicy
  case class SkipToLast(step: Int) extends SkipPolicy
  /** Alt-aware SKIP TO FIRST/LAST (r12, lifting the PERMUTE/grouped-
    * repetition rejection): the target variable's STEP positions depend on
    * which alternative (PERMUTE order) or repetition count (grouped loop)
    * fired, so the policy carries `posOf(alt) = the variable's step
    * indices in that alternative`. FIRST resumes at the first row of the
    * variable's first row-owning occurrence, LAST at the last row of its
    * last — and, like the fixed forms, a target that would not advance
    * past the match's start row fails loudly (the reference raises the
    * same infinite-loop condition). */
  case class SkipToFirstOf(posOf: Int => Seq[Int]) extends SkipPolicy
  case class SkipToLastOf(posOf: Int => Seq[Int]) extends SkipPolicy

  /** `hist`: leading rows of `rows` that are already-DECIDED history kept
    * only so PREV physical offsets can read across a drain boundary —
    * attempts resume after them (r14). */
  case class CepBuffer(rows: Seq[Event], matched: Long = 0L, hist: Int = 0)

  private sealed trait Res
  private case class Found(end: Int, rows: List[Event], counts: List[Int],
                           alt: Int = 0) extends Res
  private case object NoMatch extends Res
  private case object NeedMore extends Res

  /** O(1)-indexed view of `k` repetitions of `body` followed by `tail` —
    * the step sequence the grouped-repetition loop probes for every
    * candidate count k at every start position. The r16 profile showed the
    * matcher's wall was MATERIALIZING that sequence (`List.fill(k)(body)
    * .flatten ++ tail` per k per start — O(n³) list churn over a key's
    * buffer) plus O(si) `List.apply` inside the backtracker; this view
    * allocates nothing per k and indexes in constant time. A fixed
    * alternative is the k = 0 case (all steps in `tail`). */
  private final class StepsView(body: Array[QStep], tail: Array[QStep], k: Int)
      extends Serializable {
    private val bl = body.length
    private val rep = k * bl
    val length: Int = rep + tail.length
    def apply(i: Int): QStep = if (i < rep) body(i % bl) else tail(i - rep)
  }

  /** Per-key, per-drain backtracking budget. The reference's NFA +
    * SharedBuffer (ref flink-cep NFA.java, SharedBuffer.java) stays
    * polynomial by SHARING partial-match state across attempts; this
    * matcher backtracks instead, which is simpler and fast on real
    * patterns but worst-case exponential on adversarially ambiguous ones
    * (stacked overlapping quantifiers — the `(A+)+` family). The budget
    * bounds that worst case: every candidate expansion ticks it, and
    * exhaustion fails the query LOUDLY (task error naming the pattern
    * shape) rather than hanging an executor on a key that would never
    * finish. 5M steps ≈ well past anything a non-pathological pattern
    * does on a bounded per-key buffer. */
  val AttemptBudget: Long = 5000000L

  /** MATCH_RECOGNIZE-style quantified pattern matching over the per-key
    * event-time-ordered row sequence, with AFTER MATCH SKIP policies
    * (ref NFA.java shared-buffer traversal + AfterMatchSkipStrategy;
    * SQL surface docs/dev/table/sql/queries.md:366).
    *
    * Semantics: at each undecided start row (in order) the quantified
    * steps match CONSECUTIVE rows (SQL MATCH_RECOGNIZE contiguity) with
    * backtracking — greedy steps concede repetitions from the longest,
    * reluctant from the shortest. After a match, `skipPastLastRow`
    * resumes after the match's last row (non-overlapping matches);
    * otherwise at start+1 (every start position is tested).
    *
    * Streaming: a match attempt that reaches the end of buffered input
    * while it could still extend parks the key's buffer (NeedMore) —
    * decided prefixes emit immediately, batch by batch. Pending attempts
    * finalize when the watermark passes the key's last buffered event by
    * `quiesceMs` of event time (a session-gap-style bound — the analog of
    * the reference pruning pending NFA states with the within timer): the
    * quiet key is treated as ended, the buffer drains, state is freed.
    * State per key = rows from the first undecided start only. */
  def matchRecognize(ds: Dataset[Event], steps: Seq[QStep],
                     skipPastLastRow: Boolean,
                     quiesceMs: Long = 24L * 3600 * 1000,
                     withinMicros: Option[Long] = None): Dataset[Match] =
    matcher(ds, steps,
      if (skipPastLastRow) SkipPastLastRow else SkipToNextRow,
      quiesceMs, eventTimeFlush = true, withinMicros)

  /** matchRecognize with the full AFTER MATCH SKIP strategy algebra. */
  def matchRecognizeSkip(ds: Dataset[Event], steps: Seq[QStep],
                         skip: SkipPolicy,
                         quiesceMs: Long = 24L * 3600 * 1000,
                         withinMicros: Option[Long] = None): Dataset[Match] =
    matcher(ds, steps, skip, quiesceMs, eventTimeFlush = true, withinMicros)

  /** BOUNDED-input variant (r15): the key's rows arrive in ONE invocation
    * (batch execution of the stateful operator), so the single drain runs
    * with atEnd = true — no attempt ever parks, and forward lookahead
    * (NEXT physical offsets) is decidable because every row of the
    * partition is already in the buffer. Streaming inputs must NOT use
    * this: atEnd would decide attempts a later batch could extend. */
  def matchRecognizeBoundedSkip(ds: Dataset[Event], steps: Seq[QStep],
                                skip: SkipPolicy,
                                withinMicros: Option[Long] = None,
                                // anchors (r15, bounded only): ^ pins the
                                // match start to the partition's first
                                // row, $ pins its end to the last row —
                                // both decidable only when the whole
                                // partition is buffered
                                anchorStart: Boolean = false,
                                anchorEnd: Boolean = false): Dataset[Match] =
    matcherAlts(ds, Seq(steps), skip, 0L, eventTimeFlush = false,
      withinMicros, bounded = true,
      anchorStart = anchorStart, anchorEnd = anchorEnd)

  /** Bounded-input PERMUTE/alternation (r16 — extends unified
    * batch/stream execution past the plain sequential subset): same
    * alternative-precedence semantics as [[matchRecognizeAlts]], run as
    * ONE atEnd drain per key over a batch Dataset. Anchors compose — the
    * drain's ^ scan pin and the backtracker's $ completion check are in
    * the shared matcher, not the sequential-pattern path. */
  def matchRecognizeBoundedAlts(ds: Dataset[Event], alts: Seq[Seq[QStep]],
                                skip: SkipPolicy,
                                withinMicros: Option[Long] = None,
                                anchorStart: Boolean = false,
                                anchorEnd: Boolean = false): Dataset[Match] = {
    require(alts.forall(_.nonEmpty))
    require(!skip.isInstanceOf[SkipToFirst] && !skip.isInstanceOf[SkipToLast] ||
      alts.size == 1,
      "fixed-index SKIP TO FIRST/LAST needs one alternative; use the alt-aware forms")
    matcherAlts(ds, alts, skip, 0L, eventTimeFlush = false, withinMicros,
      bounded = true, anchorStart = anchorStart, anchorEnd = anchorEnd)
  }

  /** Bounded-input grouped repetition `(body)* tail` (r16): the greedy
    * longest-first loop of [[matchRecognizeGroup]] with atEnd = true from
    * the start — no repetition count ever parks, the buffer IS the
    * partition. Anchors compose here too: `^ (A B)* A $` is a
    * whole-partition alternating parse. */
  def matchRecognizeBoundedGroup(ds: Dataset[Event], body: Seq[QStep],
                                 tail: Seq[QStep], minRep: Int,
                                 skip: SkipPolicy,
                                 withinMicros: Option[Long] = None,
                                 anchorStart: Boolean = false,
                                 anchorEnd: Boolean = false): Dataset[Match] = {
    require(body.nonEmpty && minRep >= 0)
    matcherAlts(ds, Seq(body ++ tail), skip, 0L, eventTimeFlush = false,
      withinMicros, group = Some((body, tail, minRep)), bounded = true,
      anchorStart = anchorStart, anchorEnd = anchorEnd)
  }

  /** Variant for composing AFTER another stateful operator (sortedEvents):
    * downstream of a sorter there is no watermarked column left to hang an
    * EventTimeTimeout on (re-tagging one would make the engine drop the
    * sorter's releases as late), so this runs without the quiesce flush —
    * decided matches still emit batch-by-batch; trailing undecided
    * attempts stay parked (drive stream end with a pattern-breaking row
    * per key, or use the timeout variant on in-order input). */
  def matchRecognizeOrdered(ds: Dataset[Event], steps: Seq[QStep],
                            skipPastLastRow: Boolean): Dataset[Match] =
    matcher(ds, steps,
      if (skipPastLastRow) SkipPastLastRow else SkipToNextRow,
      0L, eventTimeFlush = false, None)

  /** Ordered variant with the full skip algebra (fixture-testable on
    * batch Datasets — no event-time timeout involved). */
  def matchRecognizeOrderedSkip(ds: Dataset[Event], steps: Seq[QStep],
                                skip: SkipPolicy): Dataset[Match] =
    orderedSkipStep(steps, skip).run(ds)

  /** The ordered matcher as a [[KeyedStep]], for running inside the
    * watermark sorter's operator ([[StatefulOps.sortedThen]]). */
  def orderedSkipStep(steps: Seq[QStep], skip: SkipPolicy): KeyedStep[CepBuffer, Match] =
    KeyedStep[CepBuffer, Match](
      matcherFn(Seq(steps), skip, 0L, eventTimeFlush = false, None))

  /** PERMUTE support (ref Pattern API / SQL `PATTERN (PERMUTE(A, B))`,
    * docs/dev/table/sql/queries.md): the pattern matches in ANY of the
    * given step orders; alternatives are tried in the listed order (the
    * standard expands PERMUTE lexicographically) and the first that
    * matches at a start position wins. `Match.alt` reports which
    * alternative fired so measures can segment by the right variable
    * order. Skip policies: all of them — TO FIRST/LAST uses the alt-aware
    * [[SkipToFirstOf]]/[[SkipToLastOf]] forms (r12), since a variable's
    * step position depends on the permutation that fired; the
    * fixed-index forms remain single-alternative only. */
  def matchRecognizeAlts(ds: Dataset[Event], alts: Seq[Seq[QStep]],
                         skip: SkipPolicy,
                         quiesceMs: Long = 24L * 3600 * 1000,
                         withinMicros: Option[Long] = None): Dataset[Match] = {
    require(alts.forall(_.nonEmpty))
    require(!skip.isInstanceOf[SkipToFirst] && !skip.isInstanceOf[SkipToLast] ||
      alts.size == 1,
      "fixed-index SKIP TO FIRST/LAST needs one alternative; use the alt-aware forms")
    matcherAlts(ds, alts, skip, quiesceMs, eventTimeFlush = true, withinMicros)
  }

  /** Batch-fixture variant of [[matchRecognizeAlts]]/[[matchRecognizeGroup]]
    * (no event-time timeout — the matchRecognizeOrderedSkip convention):
    * specs drive crafted sequences through the full alternation/group
    * machinery, skip algebra included. */
  def matchRecognizeOrderedAlts(ds: Dataset[Event], alts: Seq[Seq[QStep]],
                                skip: SkipPolicy,
                                group: Option[(Seq[QStep], Seq[QStep], Int)] = None): Dataset[Match] =
    matcherAlts(ds, alts, skip, 0L, eventTimeFlush = false, None, group)

  /** UNCAPPED grouped repetition `(body)* tail` (ref NFA.java loop states +
    * SharedBuffer.java — the reference compiles a group quantifier to a
    * looping NFA state rather than enumerating repetition counts). The
    * matcher expands the loop DYNAMICALLY against the buffered rows: at each
    * start it tries the largest repetition count the buffer could hold
    * (plus one more when input may still arrive — that attempt runs off the
    * buffer end and parks the start via NeedMore exactly when a longer
    * match is still possible), then backs down greedily. `Match.alt`
    * carries the repetition count that fired, so the measure layer can
    * reconstruct the per-occurrence variable order. Replaces the former
    * GroupRepCap=12 pre-expansion (VERDICT r8 task 2): matches deeper than
    * any fixed cap are found, and no truncation warning path is needed. */
  def matchRecognizeGroup(ds: Dataset[Event], body: Seq[QStep],
                          tail: Seq[QStep], minRep: Int, skip: SkipPolicy,
                          quiesceMs: Long = 24L * 3600 * 1000,
                          withinMicros: Option[Long] = None): Dataset[Match] = {
    require(body.nonEmpty && minRep >= 0)
    matcherAlts(ds, Seq(body ++ tail), skip, quiesceMs, eventTimeFlush = true,
      withinMicros, group = Some((body, tail, minRep)))
  }

  private def matcher(ds: Dataset[Event], steps: Seq[QStep],
                      skip: SkipPolicy, quiesceMs: Long,
                      eventTimeFlush: Boolean,
                      withinMicros: Option[Long]): Dataset[Match] =
    matcherAlts(ds, Seq(steps), skip, quiesceMs, eventTimeFlush, withinMicros)

  private def matcherAlts(ds: Dataset[Event], alts: Seq[Seq[QStep]],
                      skip: SkipPolicy, quiesceMs: Long,
                      eventTimeFlush: Boolean,
                      withinMicros: Option[Long],
                      group: Option[(Seq[QStep], Seq[QStep], Int)] = None,
                      bounded: Boolean = false,
                      anchorStart: Boolean = false,
                      anchorEnd: Boolean = false): Dataset[Match] = {
    // Append: every match emits exactly once and is never revised
    KeyedStep[CepBuffer, Match](
      matcherFn(alts, skip, quiesceMs, eventTimeFlush, withinMicros, group,
        bounded, anchorStart, anchorEnd),
      timeout = if (eventTimeFlush) GroupStateTimeout.EventTimeTimeout()
                else GroupStateTimeout.NoTimeout()).run(ds)
  }

  /** The matcher's per-key function (see [[matchRecognize]]). */
  private def matcherFn(alts: Seq[Seq[QStep]],
                        skip: SkipPolicy, quiesceMs: Long,
                        eventTimeFlush: Boolean,
                        withinMicros: Option[Long],
                        group: Option[(Seq[QStep], Seq[QStep], Int)] = None,
                        bounded: Boolean = false,
                        anchorStart: Boolean = false,
                        anchorEnd: Boolean = false)
      : (Long, Iterator[Event], GroupState[CepBuffer]) => Iterator[Match] = {
    require((!anchorStart && !anchorEnd) || bounded,
      "anchors require bounded execution — a stream has no last row")
    require(alts.nonEmpty && alts.forall(_.nonEmpty))
    // WITHIN bound (ref Pattern#within / SQL `PATTERN (...) WITHIN
    // INTERVAL`): a match's first-to-last event-time span must not exceed
    // the bound. Checked at Found (backtracking then tries shorter
    // repetitions), and used to DECIDE otherwise-parked attempts — an
    // attempt whose span already exceeds the bound can never match, so
    // its start row is released instead of buffered (the reference's
    // within-timer state pruning).
    val within = withinMicros.getOrElse(Long.MaxValue)
    def spanOk(buf: IndexedSeq[Event], start: Int, endExcl: Int): Boolean =
      endExcl <= start + 1 ||
        StatefulOps.micros(buf(endExcl - 1).ts) - StatefulOps.micros(buf(start).ts) <= within

    // ambiguity guard — see [[AttemptBudget]]; reset per drain() pass.
    // Local copy of the constant: referencing the object member from the
    // closure would capture (non-serializable) Cep$ itself.
    val attemptBudget = AttemptBudget
    var ticksLeft: Long = attemptBudget
    def tick(): Unit = {
      ticksLeft -= 1
      if (ticksLeft <= 0)
        throw new IllegalStateException(
          s"CEP attempt budget exceeded ($attemptBudget backtracking steps " +
            "while matching one key's buffer): the pattern is adversarially " +
            "ambiguous (stacked overlapping quantifiers — the (A+)+ family). " +
            "Make step predicates disjoint or bound repetitions with times().")
    }

    def tryMatch(steps: StepsView, buf: IndexedSeq[Event], start: Int,
                 atEnd: Boolean): Res = {
      def go(pos: Int, si: Int, acc: List[Event], cacc: List[Int]): Res = {
        tick()
        if (si == steps.length) {
          // $ (bounded only): the match must consume through the
          // partition's last row — a shorter parse is refused here and
          // backtracking tries other repetition counts
          if (anchorEnd && pos != buf.length) NoMatch
          else if (spanOk(buf, start, pos)) Found(pos, acc.reverse, cacc.reverse)
          else NoMatch // over the WITHIN bound; backtracking tries shorter
        } else {
          val st = steps(si)
          var run = 0
          var runSum = 0.0
          // Cross-variable DEFINE aggregates (ref NFA.java evaluating DEFINE
          // against the partial match's shared buffer, SharedBuffer.java):
          // the candidate's predicate may read the rows OTHER variables have
          // matched so far in this attempt. Built per-candidate only when a
          // step declares xagg — rows of completed steps (acc/cacc) keyed by
          // step name, multi-occurrence names concatenated in match order,
          // plus the current repetition's rows under this step's name.
          def varRowsSoFar(): Map[String, IndexedSeq[Event]] = {
            val ordered = acc.reverse.toIndexedSeq
            val counts = cacc.reverse
            val byVar = scala.collection.mutable.LinkedHashMap
              .empty[String, IndexedSeq[Event]]
            var off = 0
            var i = 0
            while (i < counts.length) {
              val nm = steps(i).name
              byVar(nm) = byVar.getOrElse(nm, IndexedSeq.empty) ++
                ordered.slice(off, off + counts(i))
              off += counts(i)
              i += 1
            }
            val cur = (0 until run).map(k => buf(pos + k))
            byVar(st.name) = byVar.getOrElse(st.name, IndexedSeq.empty) ++ cur
            byVar.toMap.withDefaultValue(IndexedSeq.empty)
          }
          def admits(e: Event): Boolean =
            st.pred(e) && !st.until.exists(f => f(e)) &&
              st.agg.forall(f => f(run, runSum, e)) &&
              st.xagg.forall(f => f(varRowsSoFar(), e)) &&
              // physical offsets: the candidate's index in the retained
              // buffer; rows before buf(0) are off the partition start
              // (the matcher retains physDepth decided rows — see drain)
              st.phys.forall(f => f(buf, pos + run, e))
          while (pos + run < buf.length && run < st.max && admits(buf(pos + run))) {
            runSum += buf(pos + run).value
            run += 1
          }
          // the repetition stopped at buffer end, not at max/pred — more
          // input could lengthen it, so the attempt is undecidable now...
          // unless the buffered span already exceeds WITHIN: later rows
          // only widen it, so the attempt is decidable from the buffer
          if (pos + run >= buf.length && run < st.max && !atEnd &&
              spanOk(buf, start, buf.length)) NeedMore
          else {
            val counts = if (st.greedy) run to st.min by -1 else st.min to run
            // shared-prefix acc lists: accPre(c) = rows pos..pos+c-1
            // prepended onto acc — O(run) cons cells total instead of
            // O(run²) when the count loop rebuilt each prefix from scratch
            val accPre = new Array[List[Event]](run + 1)
            accPre(0) = acc
            var p = 0
            while (p < run) { accPre(p + 1) = buf(pos + p) :: accPre(p); p += 1 }
            var res: Res = NoMatch
            val it = counts.iterator
            while (res == NoMatch && it.hasNext) {
              val c = it.next()
              go(pos + c, si + 1, accPre(c), c :: cacc) match {
                case f: Found => res = f
                case NeedMore => res = NeedMore
                case NoMatch  => ()
              }
            }
            res
          }
        }
      }
      go(start, 0, Nil, Nil)
    }

    // try the alternatives in declared order; the first Found wins. A
    // NeedMore from an EARLIER alternative parks the start even if a
    // later alternative would match now — more input could complete the
    // earlier, higher-precedence one.
    val altViews: Array[StepsView] =
      alts.map(a => new StepsView(Array.empty, a.toArray, 0)).toArray
    def tryFixedAlts(buf: IndexedSeq[Event], start: Int, atEnd: Boolean): Res = {
      var i = 0
      while (i < altViews.length) {
        tryMatch(altViews(i), buf, start, atEnd) match {
          case f: Found => return f.copy(alt = i)
          case NeedMore => return NeedMore
          case NoMatch  => i += 1
        }
      }
      NoMatch
    }

    // grouped-repetition loop `(body)* tail`, greedy longest-first with NO
    // repetition cap: k ranges from the most the buffer could hold down to
    // minRep. When more input may arrive, one EXTRA repetition is tried
    // first — its rows run off the buffer end, so tryMatch returns NeedMore
    // exactly when the buffered prefix still admits a longer match (the
    // loop-state analog of the reference's NFA: a decided shorter match is
    // only emitted once a longer one is refuted by the data). Correctness
    // of stopping at the first Found: all larger k were refuted from rows
    // INSIDE the buffer, and later input only appends past the end, so no
    // larger k can come back. Found.alt = the repetition count k.
    def tryGroup(body: Seq[QStep], tail: Seq[QStep], minRep: Int): (IndexedSeq[Event], Int, Boolean) => Res = {
      val bodyArr = body.toArray
      val tailArr = tail.toArray
      val bodyMin = math.max(1, body.map(_.min).sum)
      val tailMin = tail.map(_.min).sum
      (buf: IndexedSeq[Event], start: Int, atEnd: Boolean) => {
        val avail = buf.length - start
        val kFit = math.max(minRep, (avail - tailMin) / bodyMin)
        var k = if (atEnd) kFit else kFit + 1
        var res: Res = NoMatch
        while (res == NoMatch && k >= minRep) {
          tryMatch(new StepsView(bodyArr, tailArr, k), buf, start, atEnd) match {
            case f: Found => res = f.copy(alt = k)
            case NeedMore => res = NeedMore
            case NoMatch  => k -= 1
          }
        }
        res
      }
    }

    val tryAlts: (IndexedSeq[Event], Int, Boolean) => Res = group match {
      case Some((body, tail, minRep)) => tryGroup(body, tail, minRep)
      case None                       => tryFixedAlts
    }

    // deepest PREV any step reaches: that many DECIDED rows are retained
    // as buffer history so physical offsets resolve across drains (r14)
    val physDepth = (alts.flatten ++ group.toSeq.flatMap(g => g._1 ++ g._2))
      .map(_.physDepth).foldLeft(0)(math.max)

    def drain(buf: IndexedSeq[Event], atEnd: Boolean,
              hist: Int): (List[(List[Event], List[Int], Int)], IndexedSeq[Event], Int) = {
      ticksLeft = attemptBudget
      val out = scala.collection.mutable.ListBuffer.empty[(List[Event], List[Int], Int)]
      var i = hist
      // ^ (bounded only): only the partition's first row may start a
      // match — any advance past it ends the scan
      while (i < buf.length && (!anchorStart || i == hist)) {
        tryAlts(buf, i, atEnd) match {
          case NeedMore        =>
            val keep = math.max(0, i - physDepth)
            return (out.toList, buf.drop(keep), i - keep)
          case NoMatch         => i += 1
          case Found(end, rows, cnts, alt) =>
            out += ((rows, cnts, alt))
            i = skip match {
              case SkipPastLastRow => math.max(end, i + 1)
              case SkipToNextRow   => i + 1
              case SkipToFirst(k)  =>
                require(cnts(k) > 0, s"SKIP TO FIRST of variable $k which matched no rows")
                val target = i + cnts.take(k).sum
                require(target > i,
                  s"SKIP TO FIRST of variable $k would loop on the match's own start row")
                target
              case SkipToLast(k)   =>
                require(cnts(k) > 0, s"SKIP TO LAST of variable $k which matched no rows")
                val target = i + cnts.take(k + 1).sum - 1
                require(target > i,
                  s"SKIP TO LAST of variable $k would loop on the match's own start row")
                target
              case SkipToFirstOf(posOf) =>
                val poss = posOf(alt).filter(p => p < cnts.length && cnts(p) > 0)
                require(poss.nonEmpty,
                  "SKIP TO FIRST of a variable that matched no rows")
                val target = i + cnts.take(poss.head).sum
                require(target > i,
                  "SKIP TO FIRST would loop on the match's own start row")
                target
              case SkipToLastOf(posOf) =>
                val poss = posOf(alt).filter(p => p < cnts.length && cnts(p) > 0)
                require(poss.nonEmpty,
                  "SKIP TO LAST of a variable that matched no rows")
                val target = i + cnts.take(poss.last + 1).sum - 1
                require(target > i,
                  "SKIP TO LAST would loop on the match's own start row")
                target
            }
        }
      }
      // fully decided: keep only PREV history (none when physDepth == 0)
      val tail = buf.takeRight(physDepth)
      (out.toList, tail, tail.length)
    }

    {
        (key: Long, rows: Iterator[Event], state: GroupState[CepBuffer]) =>
          val buf0 = state.getOption.map(_.rows.toIndexedSeq).getOrElse(IndexedSeq.empty)
          val hist0 = state.getOption.map(_.hist).getOrElse(0)
          // MATCH_NUMBER base: matches already emitted for this key
          val base = state.getOption.map(_.matched).getOrElse(0L)
          def emit(out: List[(List[Event], List[Int], Int)]) =
            out.iterator.zipWithIndex.map { case ((rows, cnts, alt), i) =>
              Match(key, rows.map(_.event_id), cnts, rows.map(_.value), alt,
                seq = base + i + 1,
                lastTsMicros = StatefulOps.micros(rows.last.ts)) }
          if (state.hasTimedOut) {
            // quiesce flush prunes the key entirely, counter included —
            // MATCH_NUMBER restarts if the key resumes after the quiet
            // horizon (the idle-state-retention contract: pruned state is
            // pruned; the reference's TTL drops NFA state the same way)
            val (out, _, _) = drain(buf0, atEnd = true, hist0)
            state.remove()
            emit(out)
          } else {
            val sorted = rows.toSeq.sortBy(e => (StatefulOps.micros(e.ts), e.event_id))
            val all = buf0 ++ sorted
            // bounded: this single invocation holds the key's whole
            // partition — drain decides everything (and NEXT offsets may
            // read forward, every row being present)
            val (out, rest, restHist) = drain(all, atEnd = bounded, hist0)
            val cnt = base + out.length
            // every retained state row carries a LIVE quiesce timer, so
            // per-key state (buffer or bare MATCH_NUMBER counter) is
            // always bounded by the quiet horizon — never retained
            // forever. Without a timer facility (NoTimeout variants) a
            // bare counter is dropped once the buffer drains.
            def armTimer(): Unit =
              try {
                val lastMs = StatefulOps.micros(all.last.ts) / 1000L
                state.setTimeoutTimestamp(
                  math.max(lastMs + quiesceMs, state.getCurrentWatermarkMs() + 1))
              } catch {
                // batch execution has no watermark and never fires timers —
                // nothing to arm (state dies with the single batch anyway)
                case _: UnsupportedOperationException => ()
              }
            if (rest.nonEmpty) {
              state.update(CepBuffer(rest, cnt, restHist))
              if (eventTimeFlush) armTimer()
            } else if (eventTimeFlush && cnt > 0) {
              state.update(CepBuffer(Nil, cnt))
              armTimer()
            } else state.remove()
            emit(out)
          }
      }
  }

  /** Relaxed-contiguity NFA (`A followed_by B followed_by C` with a WITHIN
    * window — ref NFA.java relaxed contiguity + Pattern#within): partial
    * matches skip non-matching events; each partial advances on the FIRST
    * later event matching its next step — earliest by (event time,
    * event_id), so equal-timestamp candidates tie-break deterministically
    * on event_id and exactly ONE advances (the oracle applies the same
    * min-by-(t, event_id) selection); every step-0 match spawns a new
    * partial. Partials expire once event time passes start + within —
    * that bound is what keeps per-key state finite on an unbounded stream
    * (the reference prunes the shared buffer with the same within timer). */
  /** `nots` adds the reference's NEGATIVE pattern — `notFollowedBy` (ref
    * flink-cep Pattern.java#notFollowedBy, compiled to an NFA STOP state by
    * NFACompiler): `nots(i)` is armed while a partial waits for step `i`;
    * a strictly-later event matching it KILLS that partial (the stop
    * state), so `A notFollowedBy B followedBy C` matches only when no B
    * intervenes before the C that completes the match. An event matching
    * both the step and the kill predicate advances (take over stop —
    * disjoint predicates avoid the ambiguity in practice). Like the
    * reference, a trailing notFollowedBy is only meaningful under `within`
    * (the partial must expire for the absence to be decided). */
  /** `any = true` switches every step to the reference's NON-DETERMINISTIC
    * relaxed contiguity — `followedByAny` (ref Pattern.java#followedByAny;
    * NFA ignore-edges that keep the pre-advance state alive): a partial
    * advances on every later matching event instead of only the first, so
    * ALL combinations with increasing event time inside the window match.
    * The `within` expiry is what keeps the branch count finite. */
  /** Timed-out partial matches as a FIRST-CLASS output (r14 — ref
    * TimedOutPartialMatchHandler / PatternStream#select with a timeout
    * side output, docs/dev/libs/cep.md:1524-1598): partial matches that
    * exceed the WITHIN window are not silently discarded — each is
    * reported once, carrying the rows matched so far and the deadline
    * (start + within) in `lastTsMicros`. Detection is event-time-driven
    * twice over: an arriving event expires partials whose window closed
    * before it (the matchRelaxed filter, now reporting instead of
    * dropping), and an EventTimeTimeout timer armed at the earliest
    * pending deadline flushes keys that go quiet — the far-future
    * sentinel row advances the global watermark past every deadline, so
    * trailing partials flush at stream end exactly like the reference's
    * watermark-driven timeout path. */
  def matchRelaxedTimedOut(ds: Dataset[Event], steps: Seq[Event => Boolean],
                           withinMs: Long): Dataset[Match] = {
    val L = steps.length
    val withinMicros = withinMs * 1000L
    require(L >= 2)
    KeyedStep[NfaState, Match]({
        (key: Long, rows: Iterator[Event], state: GroupState[NfaState]) =>
          var partials = state.getOption.map(_.partials.toList).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[Match]
          def report(p: Partial): Unit =
            out += Match(key, p.ids, Seq.fill(p.next)(1), p.vals,
              lastTsMicros = p.startMicros + withinMicros)
          def expire(horizonMicros: Long): Unit = {
            val (dead, live) = partials.partition(
              p => horizonMicros > p.startMicros + withinMicros)
            dead.foreach(report)
            partials = live
          }
          if (!state.hasTimedOut) {
            rows.toSeq.sortBy(e => (StatefulOps.micros(e.ts), e.event_id))
              .filter(_.event_type != "__sentinel")
              .foreach { e =>
                val m = StatefulOps.micros(e.ts)
                expire(m) // windows closed strictly before this event
                partials = partials.flatMap { p =>
                  if (m > p.lastMicros && steps(p.next)(e)) {
                    val adv = Partial(p.ids :+ e.event_id, p.startMicros,
                      p.next + 1, m, p.vals :+ e.value)
                    if (adv.next == L) Nil // completed — not a timeout
                    else List(adv)
                  } else List(p)
                }
                if (steps.head(e))
                  partials = partials :+ Partial(Seq(e.event_id), m, 1, m, Seq(e.value))
              }
          }
          // watermark horizon: quiet keys flush through the timer; the
          // sentinel pushes the final watermark past every deadline
          expire(state.getCurrentWatermarkMs() * 1000L)
          if (partials.isEmpty) state.remove()
          else {
            state.update(NfaState(partials))
            val nextDeadlineMs =
              partials.map(p => (p.startMicros + withinMicros) / 1000L).min
            state.setTimeoutTimestamp(
              math.max(nextDeadlineMs + 1, state.getCurrentWatermarkMs() + 1))
          }
          out.iterator
      }, timeout = GroupStateTimeout.EventTimeTimeout()).run(ds)
  }

  def matchRelaxed(ds: Dataset[Event], steps: Seq[Event => Boolean],
                   withinMs: Long,
                   nots: Map[Int, Event => Boolean] = Map.empty,
                   any: Boolean = false,
                   nexts: Map[Int, Event => Boolean] = Map.empty): Dataset[Match] =
    relaxedStep(steps, withinMs, nots, any, nexts).run(ds, OutputMode.Update())

  /** [[matchRelaxed]] as a [[KeyedStep]]. Matches are final facts, never
    * revised, so Append is sound; it is what running inside the watermark
    * sorter's operator ([[StatefulOps.sortedThen]]) needs. */
  def relaxedStep(steps: Seq[Event => Boolean],
                  withinMs: Long,
                  nots: Map[Int, Event => Boolean] = Map.empty,
                  any: Boolean = false,
                  nexts: Map[Int, Event => Boolean] = Map.empty): KeyedStep[NfaState, Match] = {
    val L = steps.length
    val withinMicros = withinMs * 1000L
    require(L >= 2)
    require(nots.keys.forall(i => i >= 1 && i < L),
      s"notFollowedBy positions must name a waiting step in [1, ${L - 1}]")
    require(nexts.keys.forall(i => i >= 1 && i < L),
      s"notNext positions must name a waiting step in [1, ${L - 1}]")
    KeyedStep[NfaState, Match] {
        (key: Long, rows: Iterator[Event], state: GroupState[NfaState]) =>
          var partials = state.getOption.map(_.partials.toList).getOrElse(Nil)
          val out = scala.collection.mutable.ArrayBuffer.empty[Match]
          rows.toSeq.sortBy(e => (StatefulOps.micros(e.ts), e.event_id)).foreach { e =>
            val m = StatefulOps.micros(e.ts)
            partials = partials.filter(p => m <= p.startMicros + withinMicros)
            // strictly-later event time required to advance: two events with
            // equal timestamps are simultaneous, not "followed by" (matches
            // the oracle's x.t > a.a_t and the reference's event-time order)
            partials = partials.flatMap { p =>
              if (m > p.lastMicros && steps(p.next)(e)) {
                val adv = Partial(p.ids :+ e.event_id, p.startMicros, p.next + 1, m,
                  p.vals :+ e.value)
                val kept = if (any) List(p) else Nil
                if (adv.next == L) {
                  out += Match(key, adv.ids, Seq.fill(L)(1), adv.vals); kept
                } else adv :: kept
              } else if (m > p.lastMicros && nots.get(p.next).exists(_(e)))
                Nil // notFollowedBy stop state: the negative event kills the partial
              else if (m > p.lastMicros && !p.seenSince &&
                  nexts.get(p.next).exists(_(e)))
                Nil // notNext: the IMMEDIATELY-following event is negative
              else if (m > p.lastMicros && !p.seenSince)
                List(p.copy(seenSince = true)) // first later event seen, benign
              else List(p)
            }
            if (steps.head(e))
              partials = partials :+ Partial(Seq(e.event_id), m, 1, m, Seq(e.value))
          }
          state.update(NfaState(partials))
          out.iterator
      }
  }
}
