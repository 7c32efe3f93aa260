package graft.streaming

import org.apache.spark.sql.{Dataset, Encoders}
import org.apache.spark.sql.streaming.{OutputMode, TimeMode, ValueState}

/** CEP subset (SURVEY.md §2.10 CEP row, §7 step 10): sequence patterns
  * over a keyed event-time stream, compiled to a `transformWithState`
  * NFA — the Spark analog of flink-cep's Pattern DSL + CepOperator
  * (reference: flink-cep `pattern/Pattern.java#oneOrMore/#times`,
  * `nfa/NFA.java`).
  *
  * Supported surface:
  *  - `Step(name, where)` with relaxed contiguity (followedBy,
  *    skip-till-next-match) or strict (`next`) contiguity,
  *  - quantifiers `oneOrMore` / `times(n)` / `times(n, m)` with GREEDY
  *    arbitration (Flink's `greedy()` modifier): an event that could
  *    either extend the current looping step or advance to the next
  *    step is consumed into the loop. The non-deterministic relaxed
  *    expansion enumeration (one match per subset) is out of scope;
  *    each partial advances deterministically, so every start yields at
  *    most one (maximal) match. `optional` marks a step skippable at
  *    ANY position — including trailing, where completion follows the
  *    greedy-maximal rule (wait for the tail; emit without it on
  *    contiguity break or window close).
  *  - context predicates `ctxWhere(event, matchedSoFar)` for
  *    DEFINE-style conditions that reference previously matched rows
  *    (`PREV(...)`, cross-variable comparisons, FIRST/LAST),
  *  - `within(duration)` from first to last matched event,
  *  - after-match: NO_SKIP (all combinations for unquantified relaxed
  *    steps), SKIP_TO_NEXT (at most one match per start event),
  *    SKIP_PAST_LAST (greedy: a full match clears open partials), or
  *    SKIP TO FIRST/LAST <var>.
  *
  * Emission of a quantified FINAL step: immediately when its bounded
  * `maxTimes` is reached; on contiguity break for a strict loop (the
  * breaking row is NOT part of the match and may start a new one); or
  * when the within-window closes (watermark sweep) with `minTimes`
  * met — the timeout flush of a maximal greedy match. In
  * SKIP_PAST_LAST mode a flush also clears partials that started at or
  * before the flushed match's end.
  *
  * Mechanics mirror CepOperator: events buffer in the key's pending-row
  * state until the watermark passes them (one event-time timer per
  * batch, at its min ts — [[WatermarkReplayProcessor]]), are
  * then replayed in (ts, id) order through the partial-match set, and
  * completed matches emit downstream. State is bounded by the
  * out-of-orderness window (buffer) plus `within` (partials) per key —
  * the property that makes this safe at 1000-executor scale; keys are
  * hash-partitioned by groupByKey.
  */
object Cep {

  /** One pattern position. `strict`: occurrences must be the key's
    * immediately-next rows (Flink `next()` vs `followedBy()`); for a
    * quantified step, `strict` also governs the loop's internal
    * contiguity (Flink `consecutive()`). `ctxWhere` additionally sees
    * the matched prefix (for PREV / cross-variable predicates).
    * `notBefore` (Flink `notFollowedBy` on the preceding edge): while a
    * partial awaits entry into THIS step, an event matching `notBefore`
    * kills it — unless the same event advances the partial (the
    * positive edge wins, as in the reference's NFA edge priority).
    */
  case class Step(name: String, where: CepEvent => Boolean,
      strict: Boolean = false, minTimes: Int = 1, maxTimes: Int = 1,
      ctxWhere: (CepEvent, MatchCtx) => Boolean = null,
      notBefore: CepEvent => Boolean = null,
      isOptional: Boolean = false) {
    require(minTimes >= 1 && maxTimes >= minTimes,
      s"bad quantifier {$minTimes,$maxTimes}")
    def oneOrMore: Step = copy(minTimes = 1, maxTimes = Int.MaxValue)
    def times(n: Int): Step = copy(minTimes = n, maxTimes = n)
    def times(n: Int, m: Int): Step = copy(minTimes = n, maxTimes = m)
    /** Flink `Pattern#optional`: the step occurs {0} ∪ [min,max] times —
      * a partial may skip it entirely (SQL `A?` with min=max=1). A
      * TRAILING optional step with STRICT contiguity follows
      * greedy-maximal arbitration: the match waits for the tail and
      * emits without it when the tail's adjacency breaks or the
      * within-window closes — one match per start. A RELAXED trailing
      * optional in NO_SKIP mode yields all combinations instead: each
      * tail-consumed match as its tail arrives, plus the tail-less
      * match flushed at window close (micro-batch replay cannot know
      * earlier that no tail will arrive).
      */
    def optional: Step = copy(isOptional = true)
  }

  /** `skipToVar`/`skipToFirst`: AFTER MATCH SKIP TO [FIRST|LAST] <var>
    * (reference: `nfa/aftermatch/AfterMatchSkipStrategy.java`) — when a
    * match emits, open partials that STARTED before the match's
    * first/last `skipToVar` row die; partials starting at or after it
    * survive, so the next match's scan effectively resumes there.
    * Mutually exclusive with `skipPastLast`. A match not containing the
    * variable (possible when it is optional) prunes nothing.
    *
    * `skipToNext` (Flink `AfterMatchSkipStrategy.skipToNext()`, distinct
    * from `noSkip()`): when a match emits, every open partial that
    * STARTED AT THE SAME EVENT as the match dies — at most one match per
    * start row. NO_SKIP and SKIP_TO_NEXT only differ when several
    * matches can share a start event, i.e. the relaxed-contiguity
    * combination branches: `A followedBy B` over a, b1, b2 yields
    * (a,b1) AND (a,b2) under NO_SKIP but only (a,b1) under SKIP_TO_NEXT.
    * Mutually exclusive with the other skip strategies.
    */
  case class Pattern(steps: Seq[Step], withinMs: Long,
      skipPastLast: Boolean, skipToVar: String = null,
      skipToFirst: Boolean = false, skipToNext: Boolean = false) {
    require(skipToVar == null || !skipPastLast,
      "SKIP TO FIRST/LAST and SKIP PAST LAST are mutually exclusive")
    require(!skipToNext || (!skipPastLast && skipToVar == null),
      "SKIP TO NEXT is mutually exclusive with the other skip strategies")
    require(skipToVar == null || steps.exists(_.name == skipToVar),
      s"AFTER MATCH SKIP TO references unknown pattern variable '$skipToVar'")
  }

  /** `ts` duplicates tsMs as the watermarked timestamp column so the
    * upstream watermark survives the typed projection; `num` carries
    * the numeric payload predicates/measures compare on.
    */
  case class CepEvent(key: Long, tsMs: Long, tag: String, id: Long,
      ts: java.sql.Timestamp, num: Double = 0.0)

  /** Full match: matched event ids in replay order, the pattern-step
    * index each id matched (quantified steps repeat), their numeric
    * payloads, and the match bounds.
    */
  case class CepMatch(key: Long, ids: Array[Long], stepIdxs: Array[Int],
      values: Array[Double], startTsMs: Long, endTsMs: Long)

  /** Read-only view of a partial's matched prefix for `ctxWhere`
    * predicates (the DEFINE clause's world).
    */
  final class MatchCtx(names: IndexedSeq[String], stepOf: Array[Int],
      evs: Array[CepEvent]) {
    /** Previous matched row (MATCH_RECOGNIZE `PREV` under strict
      * contiguity, where matched rows are consecutive).
      */
    def prev: Option[CepEvent] = evs.lastOption
    def first(step: String): Option[CepEvent] = {
      val i = names.indexOf(step)
      val at = stepOf.indexOf(i)
      if (at < 0) None else Some(evs(at))
    }
    def last(step: String): Option[CepEvent] = {
      val i = names.indexOf(step)
      val at = stepOf.lastIndexOf(i)
      if (at < 0) None else Some(evs(at))
    }
  }

  /** Open partial match (public: the state encoder requires it).
    * `stepIdx` is the step currently being consumed, `count` its
    * occurrences so far (>= 1), `stepOf(i)` the step `evs(i)` matched.
    * `gapped`: at least one row passed unconsumed since the last matched
    * event. Strict (`next`) transitions require row-adjacency to the
    * last matched event, so a gapped partial may only take RELAXED
    * transitions until it consumes again (which resets the flag). The
    * flag only ever sets when the partial survives via some relaxed
    * await — pure-strict partials die instead of gapping.
    *
    * State compatibility: Partial is Kryo-encoded in the state store
    * and Kryo is not schema-evolvable — the state VARIABLE NAME is
    * therefore versioned (`partials_v2` below) and MUST be bumped on
    * any change to this class's shape. A restore across an unbumped
    * shape change dies in an opaque Kryo decode crash; with the bump,
    * restore is a CLEAN DEFINED restart — the renamed variable starts
    * empty (in-flight partials from the pre-upgrade run are dropped,
    * already-emitted matches are unaffected) and the old variable is
    * discarded by Spark's deleted-state-variable handling. RecoverySpec
    * pins exactly that behavior. v1 = the pre-`gapped` shape.
    */
  case class Partial(stepIdx: Int, count: Int, firstTs: Long,
      stepOf: Array[Int], evs: Array[CepEvent], gapped: Boolean = false)

  class CepProcessor(pattern: Pattern)
      extends WatermarkReplayProcessor[CepEvent, CepMatch] {

    @transient private var partials: ValueState[Array[Partial]] = _

    private val names = pattern.steps.map(_.name).toIndexedSeq
    private val nSteps = pattern.steps.length

    /** A partial sitting at step `i` with `minTimes` met is a complete
      * match candidate iff every LATER step is optional (trivially true
      * at the last step) — the generalization that makes trailing
      * optional steps work: completion paths test this, not `i == last`.
      */
    private val completableFrom: Array[Boolean] =
      Array.tabulate(nSteps)(i =>
        (i + 1 until nSteps).forall(pattern.steps(_).isOptional))

    /** Steps an advance out of step `i` may enter: `i+1`, plus each
      * further step reachable by skipping optional ones.
      */
    private val advTargets: Array[List[Int]] = Array.tabulate(nSteps) { i =>
      val b = List.newBuilder[Int]
      var j = i + 1
      var cont = true
      while (cont && j < nSteps) { b += j; cont = pattern.steps(j).isOptional; j += 1 }
      b.result()
    }

    /** Steps a fresh partial may start in: 0, plus each further step
      * reachable by skipping optional leading steps.
      */
    private val startTargets: List[Int] = {
      val b = List.newBuilder[Int]
      var j = 0
      var cont = true
      while (cont && j < nSteps) { b += j; cont = pattern.steps(j).isOptional; j += 1 }
      b.result()
    }

    private val skipToIdx =
      if (pattern.skipToVar == null) -1 else names.indexOf(pattern.skipToVar)

    /** Whether any advance target out of step `i` is relaxed — the
      * survival/retention predicate, precomputed like `advTargets` (the
      * exists() scan would otherwise run per partial per event in the
      * replay hot loop).
      */
    private val hasRelaxedAdv: Array[Boolean] =
      Array.tabulate(nSteps)(i =>
        advTargets(i).exists(j => !pattern.steps(j).strict))

    override protected def initState(): Unit =
      partials = getHandle.getValueState[Array[Partial]]("partials_v2",
        Encoders.kryo[Array[Partial]],
        org.apache.spark.sql.streaming.TTLConfig.NONE)

    override protected def tsOf(e: CepEvent): Long = e.tsMs
    override protected def inputEncoder: org.apache.spark.sql.Encoder[CepEvent] =
      Encoders.product[CepEvent]

    private def pred(st: Step, e: CepEvent, stepOf: Array[Int],
        evs: Array[CepEvent]): Boolean =
      st.where(e) && (st.ctxWhere == null ||
        st.ctxWhere(e, new MatchCtx(names, stepOf, evs)))

    private def toMatch(key: Long, p: Partial, endTs: Long): CepMatch =
      CepMatch(key, p.evs.map(_.id), p.stepOf, p.evs.map(_.num),
        p.firstTs, endTs)

    override protected def replay(key: Long, ready: Seq[CepEvent],
        wm: Long): Iterator[CepMatch] = {

      var open = Option(partials.get()).getOrElse(Array.empty[Partial]).toList
      val out = List.newBuilder[CepMatch]

      // AFTER MATCH SKIP TO FIRST/LAST bookkeeping: the (ts, id) row
      // position partials must have started at-or-after to survive
      var pruneAt: (Long, Long) = null
      def startsBefore(q: Partial, at: (Long, Long)): Boolean = {
        val h = q.evs.head
        h.tsMs < at._1 || (h.tsMs == at._1 && h.id < at._2)
      }
      // The emitted match's skip row, if the variable occurs in it.
      def skipRowOf(p: Partial): Option[(Long, Long)] =
        if (skipToIdx < 0) None
        else {
          val at = if (pattern.skipToFirst) p.stepOf.indexOf(skipToIdx)
                   else p.stepOf.lastIndexOf(skipToIdx)
          if (at < 0) None else Some((p.evs(at).tsMs, p.evs(at).id))
        }
      def noteMatch(p: Partial): Unit = skipRowOf(p).foreach { sr =>
        if (pruneAt == null || pruneAt._1 < sr._1 ||
            (pruneAt._1 == sr._1 && pruneAt._2 < sr._2)) pruneAt = sr
      }

      // SKIP TO NEXT bookkeeping: (ts, id) start rows of matches emitted
      // this sweep — partials sharing an emitted match's start row die.
      // A sweep-local set is complete: partials that survive into state
      // were already filtered against it before the update, and no
      // later-created partial can start at an earlier row (events replay
      // in order).
      var deadStarts = Set.empty[(Long, Long)]
      def startRow(q: Partial): (Long, Long) = (q.evs.head.tsMs, q.evs.head.id)
      def noteStart(p: Partial): Unit =
        if (pattern.skipToNext) deadStarts += startRow(p)

      // Drops partials whose within-window closed; a dropped partial
      // sitting at the final step with minTimes met flush-emits its
      // maximal match first (greedy timeout emission). In
      // SKIP_PAST_LAST mode the flush clears partials that started at
      // or before the flushed match's end ROW — compared by (ts, id)
      // position, since a same-millisecond row AFTER the match end is
      // past the skip point and its partial must survive.
      def expire(isExpired: Partial => Boolean): Unit = {
        def startsAfter(q: Partial, endTs: Long, endId: Long): Boolean = {
          val h = q.evs.head
          h.tsMs > endTs || (h.tsMs == endTs && h.id > endId)
        }
        var kept = List.empty[Partial]
        var rest = open
        while (rest.nonEmpty) {
          val p = rest.head; rest = rest.tail
          if (!isExpired(p)) kept ::= p
          else if (completableFrom(p.stepIdx) &&
              p.count >= pattern.steps(p.stepIdx).minTimes) {
            val last = p.evs.last
            out += toMatch(key, p, last.tsMs)
            if (pattern.skipPastLast) {
              kept = kept.filter(startsAfter(_, last.tsMs, last.id))
              rest = rest.filter(startsAfter(_, last.tsMs, last.id))
            }
            if (pattern.skipToNext) {
              noteStart(p)
              kept = kept.filter(startRow(_) != startRow(p))
              rest = rest.filter(startRow(_) != startRow(p))
            }
            skipRowOf(p).foreach { sr =>
              noteMatch(p)
              kept = kept.filter(!startsBefore(_, sr))
              rest = rest.filter(!startsBefore(_, sr))
            }
          } // else: expired before completing → silently dropped
        }
        open = kept.reverse
      }

      ready.sortBy(e => (e.tsMs, e.id)).foreach { e =>
        expire(p => e.tsMs - p.firstTs > pattern.withinMs)
        var next: List[Partial] = Nil
        var matched = false    // a full match consumed e
        var broke = false      // a strict trailing loop emitted; e NOT consumed
        open.foreach { p =>
          if (pruneAt != null && startsBefore(p, pruneAt)) {
            // pruned by AFTER MATCH SKIP TO FIRST/LAST
          } else if (deadStarts.nonEmpty && deadStarts(startRow(p))) {
            // pruned by SKIP TO NEXT: a match already emitted from this
            // partial's start row
          } else if ((matched || broke) && pattern.skipPastLast) {
            // greedy mode: the first full match wins; the rest discard
          } else {
            val st = pattern.steps(p.stepIdx)
            val last = p.stepIdx == nSteps - 1
            // a gapped partial (rows passed unconsumed since its last
            // match) may only take RELAXED transitions: strict means
            // row-adjacent to the last matched event
            val canLoop = p.count < st.maxTimes && (!st.strict || !p.gapped) &&
              pred(st, e, p.stepOf, p.evs)
            lazy val viable =
              if (p.count >= st.minTimes && !last)
                advTargets(p.stepIdx)
                  .filter(j => !pattern.steps(j).strict || !p.gapped)
                  .filter(j => pred(pattern.steps(j), e, p.stepOf, p.evs))
              else Nil
            if (canLoop) {
              // greedy: extending the loop beats advancing
              val adv = Partial(p.stepIdx, p.count + 1, p.firstTs,
                p.stepOf :+ p.stepIdx, p.evs :+ e)
              if (last && adv.count == st.maxTimes) {
                out += toMatch(key, adv, e.tsMs); matched = true
                noteMatch(adv); noteStart(adv)
              } else next ::= adv
            } else if (viable.nonEmpty) {
              // greedy also across skippable optional steps: in
              // SKIP_PAST_LAST mode only the nearest viable step is
              // entered (consume the optional step when it matches);
              // NO_SKIP branches into every viable entry
              val chosen =
                if (pattern.skipPastLast) viable.take(1) else viable
              chosen.foreach { ni =>
                val nst = pattern.steps(ni)
                val adv = Partial(ni, 1, p.firstTs, p.stepOf :+ ni, p.evs :+ e)
                if (ni == nSteps - 1 && nst.maxTimes == 1) {
                  out += toMatch(key, adv, e.tsMs); matched = true
                  noteMatch(adv); noteStart(adv)
                } else next ::= adv
              }
              // relaxed-contiguity combinations (NO_SKIP, unquantified
              // step only): the original partial may still enter some
              // RELAXED target on a later event — it survives gapped,
              // which bars it from every strict transition from now
              // until it consumes again
              if (hasRelaxedAdv(p.stepIdx) &&
                  !pattern.skipPastLast && st.maxTimes == 1)
                next ::= p.copy(gapped = true)
            } else if (p.count >= st.minTimes && !last && {
              val nst = pattern.steps(p.stepIdx + 1)
              nst.notBefore != null && nst.notBefore(e)
            }) {
              // notFollowedBy: a banned event on the awaited edge kills
              // the partial (the positive advance edge was checked
              // first, so an event matching both still advances)
            } else {
              // e matched nothing this partial awaits: it survives iff
              // some awaited transition is relaxed
              val loopRelaxed = p.count < st.maxTimes && !st.strict
              val advRelaxed = p.count >= st.minTimes && !last &&
                hasRelaxedAdv(p.stepIdx)
              if (loopRelaxed || advRelaxed) next ::= p.copy(gapped = true)
              else if (completableFrom(p.stepIdx) && p.count >= st.minTimes) {
                // strict trailing loop (or the strict edge into a
                // trailing OPTIONAL tail) broken → the maximal match is
                // complete as of the PREVIOUS row; e stays available
                // to start a new partial
                out += toMatch(key, p, p.evs.last.tsMs)
                broke = true
                noteMatch(p); noteStart(p)
              } // else: strict step unmatched → partial dies
            }
          }
        }
        var created = List.empty[Partial]
        val viableStarts = startTargets
          .filter(k => pred(pattern.steps(k), e, Array.empty, Array.empty))
        val chosenStarts =
          if (pattern.skipPastLast) viableStarts.take(1) else viableStarts
        chosenStarts.foreach { k =>
          val p0 = Partial(k, 1, e.tsMs, Array(k), Array(e))
          if (k == nSteps - 1 && pattern.steps(k).maxTimes == 1) {
            out += toMatch(key, p0, e.tsMs); matched = true
            noteMatch(p0); noteStart(p0)
          } else created ::= p0
        }
        created = created.reverse
        open =
          if (matched && pattern.skipPastLast) Nil
          else if (broke && pattern.skipPastLast) created
          else {
            var kept =
              if (pruneAt == null) next.reverse
              else next.reverse.filter(!startsBefore(_, pruneAt))
            // SKIP TO NEXT: branches pushed into next/created BEFORE a
            // same-start match emitted later in this event's scan
            if (deadStarts.nonEmpty) {
              kept = kept.filter(q => !deadStarts(startRow(q)))
              created = created.filter(q => !deadStarts(startRow(q)))
            }
            kept ::: created
          }
      }
      // watermark sweep: windows the watermark closed can never extend
      expire(p => wm - p.firstTs > pattern.withinMs)
      partials.update(open.toArray)
      // arm a flush timer at the earliest open window's close so the
      // sweep runs even after the event buffer drains (trailing
      // quantified steps emit their maximal match on window close)
      if (open.nonEmpty)
        getHandle.registerTimer(open.map(_.firstTs).min + pattern.withinMs + 1)
      out.result().iterator
    }

    override protected def replayOnEmptyTimer: Boolean = true
  }

  /** Applies the pattern over a keyed event-time stream; `events` must
    * carry a watermark on the column `tsMs` was derived from.
    */
  def apply(events: Dataset[CepEvent], pattern: Pattern): Dataset[CepMatch] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.key)
      .transformWithState(
        new CepProcessor(pattern), TimeMode.EventTime(), OutputMode.Append())
  }
}
