package graft.streaming

import java.sql.Timestamp

import graft.SparkTestSession
import graft.streaming.Cep.{CepEvent, Pattern, Step}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.scalatest.funsuite.AnyFunSuite

class CepSpec extends AnyFunSuite {
  import SparkTestSession._

  private def ev(key: Long, sec: Int, tag: String, id: Long): CepEvent = {
    val ts = Timestamp.valueOf(f"2024-01-01 00:${sec / 60}%02d:${sec % 60}%02d")
    CepEvent(key, ts.getTime, tag, id, ts)
  }

  /** Runs the pattern over the events plus a late watermark-advancing
    * flush event on an unused key.
    */
  private def run(pattern: Pattern, events: Seq[CepEvent]): Seq[Seq[Long]] = {
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val in = MemoryStream[CepEvent]
    val stream = in.toDS().withWatermark("ts", "0 seconds")
    val name = s"cep_spec_${System.nanoTime()}"
    val q = Cep(stream, pattern).toDF()
      .writeStream.format("memory").queryName(name)
      .outputMode("append").start()
    try {
      in.addData(events: _*)
      q.processAllAvailable()
      in.addData(ev(999L, 3599, "flush", 0L))
      q.processAllAvailable()
      spark.table(name).orderBy("startTsMs").collect()
        .map(_.getAs[scala.collection.Seq[Long]]("ids").toSeq).toSeq
    } finally q.stop()
  }

  private def steps(strictSecond: Boolean = false) = Seq(
    Step("a", _.tag == "A"),
    Step("b", _.tag == "B", strict = strictSecond))

  test("NO_SKIP emits every combination") {
    val out = run(Pattern(steps(), withinMs = 600000, skipPastLast = false),
      Seq(ev(1, 0, "A", 1), ev(1, 10, "A", 2), ev(1, 20, "B", 3),
        ev(1, 30, "B", 4)))
    assert(out.toSet == Set(Seq(1L, 3L), Seq(2L, 3L), Seq(1L, 4L), Seq(2L, 4L)))
  }

  test("SKIP_PAST_LAST clears partials after a match") {
    val out = run(Pattern(steps(), withinMs = 600000, skipPastLast = true),
      Seq(ev(1, 0, "A", 1), ev(1, 10, "A", 2), ev(1, 20, "B", 3),
        ev(1, 30, "B", 4)))
    // first B completes with the oldest open A; everything else resets
    assert(out == Seq(Seq(1L, 3L)))
  }

  test("strict next() dies on an intervening event") {
    val p = Pattern(steps(strictSecond = true), 600000, skipPastLast = false)
    assert(run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "C", 2), ev(1, 20, "B", 3)))
      .isEmpty)
    assert(run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2)))
      == Seq(Seq(1L, 2L)))
  }

  test("within bound expires old partials") {
    val p = Pattern(steps(), withinMs = 5000, skipPastLast = false)
    assert(run(p, Seq(ev(1, 0, "A", 1), ev(1, 60, "B", 2))).isEmpty)
  }

  test("out-of-order events replay in event-time order") {
    // B arrives first in arrival order but after A in event time
    val p = Pattern(steps(), withinMs = 600000, skipPastLast = false)
    assert(run(p, Seq(ev(1, 20, "B", 2), ev(1, 0, "A", 1)))
      == Seq(Seq(1L, 2L)))
  }

  test("keys are independent") {
    val p = Pattern(steps(), withinMs = 600000, skipPastLast = false)
    assert(run(p, Seq(ev(1, 0, "A", 1), ev(2, 10, "B", 2))).isEmpty)
  }

  test("oneOrMore greedily consumes every loop occurrence") {
    // A B+ C (relaxed): all Bs between A and the first C are absorbed
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B").oneOrMore,
      Step("c", _.tag == "C")), withinMs = 600000, skipPastLast = true)
    val out = run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2),
      ev(1, 15, "X", 9), ev(1, 20, "B", 3), ev(1, 30, "C", 4)))
    assert(out == Seq(Seq(1L, 2L, 3L, 4L)))
  }

  test("oneOrMore requires at least one occurrence") {
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B").oneOrMore,
      Step("c", _.tag == "C")), withinMs = 600000, skipPastLast = true)
    assert(run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "C", 2))).isEmpty)
  }

  test("times(n) completes exactly at the nth occurrence") {
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B").times(2)), withinMs = 600000,
      skipPastLast = true)
    val out = run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2),
      ev(1, 20, "B", 3), ev(1, 30, "B", 4)))
    // completes at the 2nd B; the 3rd B starts nothing (no open A)
    assert(out == Seq(Seq(1L, 2L, 3L)))
  }

  test("strict trailing loop emits its maximal match on break") {
    // A B+ with strict (consecutive) B-loop: the breaking row ends the
    // match and is free to start a new one
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B", strict = true).oneOrMore),
      withinMs = 600000, skipPastLast = true)
    val out = run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2),
      ev(1, 20, "B", 3), ev(1, 30, "A", 4), ev(1, 40, "B", 5)))
    // first match breaks at the second A; that A starts the next one,
    // which flushes at the watermark sweep (window closed)
    assert(out == Seq(Seq(1L, 2L, 3L), Seq(4L, 5L)))
  }

  test("relaxed trailing loop flushes maximal match when window closes") {
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B").oneOrMore),
      withinMs = 60000, skipPastLast = true)
    val out = run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2),
      ev(1, 20, "B", 3)))
    // the flush event advances the watermark an hour past the window
    assert(out == Seq(Seq(1L, 2L, 3L)))
  }

  test("flush clearing compares row position, not timestamp alone") {
    // partial2 starts at the SAME millisecond as partial1's last matched
    // row but a later id — it is past the skip point and must survive
    // partial1's window-close flush
    // within = 15s: partial1 (A@0 B@10) expires when B@20 arrives and
    // flush-emits ending at row (10s, id 2); partial2 started at
    // (10s, id 3) must survive the clear and match B@20
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B").oneOrMore),
      withinMs = 15000, skipPastLast = true)
    val out = run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2),
      ev(1, 10, "A", 3), ev(1, 20, "B", 4)))
    assert(out == Seq(Seq(1L, 2L), Seq(3L, 4L)))
  }

  test("notFollowedBy kills the partial; the positive edge wins a tie") {
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B", notBefore = _.tag == "X")),
      withinMs = 600000, skipPastLast = false)
    // X between A and B kills the partial
    assert(run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "X", 2), ev(1, 20, "B", 3)))
      .isEmpty)
    // without the ban event, matches flow
    assert(run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2)))
      == Seq(Seq(1L, 2L)))
    // an event matching BOTH the ban and the step advances (edge priority)
    val both = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", e => e.tag == "B" || e.tag == "X",
        notBefore = _.tag == "X")),
      withinMs = 600000, skipPastLast = false)
    assert(run(both, Seq(ev(1, 0, "A", 1), ev(1, 10, "X", 2)))
      == Seq(Seq(1L, 2L)))
  }

  test("ctxWhere sees previously matched rows") {
    // B must carry a larger num than the A it follows
    def evn(key: Long, sec: Int, tag: String, id: Long, num: Double) = {
      val base = ev(key, sec, tag, id); base.copy(num = num)
    }
    val p = Pattern(Seq(
      Step("a", _.tag == "A"),
      Step("b", _.tag == "B",
        ctxWhere = (e, m) => m.last("a").exists(a => e.num > a.num))),
      withinMs = 600000, skipPastLast = false)
    val out = run(p, Seq(evn(1, 0, "A", 1, 10.0), evn(1, 10, "B", 2, 5.0),
      evn(1, 20, "B", 3, 15.0)))
    assert(out == Seq(Seq(1L, 3L)))
  }

  private def optSteps = Seq(
    Step("a", _.tag == "A", strict = true),
    Step("b", _.tag == "B", strict = true).optional,
    Step("c", _.tag == "C", strict = true))

  test("optional middle step matches with and without the step") {
    val p = Pattern(optSteps, withinMs = 600000, skipPastLast = false)
    // A B C → (1,2,3); A C → (4,5); A X C → no match (strict adjacency)
    val out = run(p, Seq(
      ev(1, 0, "A", 1), ev(1, 10, "B", 2), ev(1, 20, "C", 3),
      ev(1, 30, "A", 4), ev(1, 40, "C", 5),
      ev(1, 50, "A", 6), ev(1, 60, "X", 7), ev(1, 70, "C", 8)))
    assert(out == Seq(Seq(1L, 2L, 3L), Seq(4L, 5L)))
  }

  test("optional step skippable at pattern start") {
    val p = Pattern(Seq(
      Step("a", _.tag == "A", strict = true).optional,
      Step("b", _.tag == "B", strict = true)),
      withinMs = 600000, skipPastLast = false)
    // A B matches as (A B); every B also matches alone (A skipped),
    // overlapping matches being SKIP TO NEXT ROW semantics
    val out = run(p, Seq(
      ev(1, 0, "A", 1), ev(1, 10, "B", 2), ev(1, 30, "B", 3)))
    assert(out == Seq(Seq(1L, 2L), Seq(2L), Seq(3L)))
  }

  test("trailing optional: greedy tail consumed, break emits without it, close flushes") {
    val p = Pattern(Seq(Step("a", _.tag == "A", strict = true),
      Step("b", _.tag == "B", strict = true).optional),
      withinMs = 600000, skipPastLast = false)
    val out = run(p, Seq(
      // A B → one maximal match (A B); the B row does not re-match
      ev(1, 0, "A", 1), ev(1, 10, "B", 2),
      // A X → strict edge into the optional tail breaks: emit (A) alone
      ev(1, 20, "A", 3), ev(1, 30, "X", 4),
      // trailing A with nothing after → window close flushes (A) alone
      ev(1, 40, "A", 5)))
    assert(out == Seq(Seq(1L, 2L), Seq(3L), Seq(5L)))
  }

  test("gapped partial cannot take a strict transition (no phantom adjacency)") {
    // A(strict) B(relaxed, optional) C(strict); events A C1 C2:
    // C1 enters strict C adjacently -> (A, C1). The retained partial is
    // GAPPED after C1 passes it, so C2 must NOT enter strict C with a
    // one-row gap — (A, C2) would be derivable from no valid path.
    val p = Pattern(Seq(
      Step("a", _.tag == "A", strict = true),
      Step("b", _.tag == "B").optional,
      Step("c", _.tag == "C", strict = true)),
      withinMs = 600000, skipPastLast = false)
    val out = run(p, Seq(
      ev(1, 0, "A", 1), ev(1, 10, "C", 2), ev(1, 20, "C", 3)))
    assert(out == Seq(Seq(1L, 2L)), s"got $out")
  }

  test("surviving via a relaxed await does not license a later strict entry") {
    // A(strict) B(relaxed, optional) C(strict); events A X C: the
    // partial survives X only because relaxed B is awaited; strict C
    // at row 3 is NOT adjacent to A — no match may emit.
    val p = Pattern(Seq(
      Step("a", _.tag == "A", strict = true),
      Step("b", _.tag == "B").optional,
      Step("c", _.tag == "C", strict = true)),
      withinMs = 600000, skipPastLast = false)
    val out = run(p, Seq(
      ev(1, 0, "A", 1), ev(1, 10, "X", 2), ev(1, 20, "C", 3)))
    assert(out == Seq(), s"got $out")
  }

  test("gap resets on consume: relaxed entry re-anchors strict continuation") {
    // A(strict) B(relaxed) C(strict); A X B C: B enters relaxedly after
    // the gap (resetting it), C is adjacent to B -> (A, B, C) emits.
    val p = Pattern(Seq(
      Step("a", _.tag == "A", strict = true),
      Step("b", _.tag == "B"),
      Step("c", _.tag == "C", strict = true)),
      withinMs = 600000, skipPastLast = false)
    val out = run(p, Seq(
      ev(1, 0, "A", 1), ev(1, 10, "X", 2), ev(1, 20, "B", 3), ev(1, 30, "C", 4)))
    assert(out == Seq(Seq(1L, 3L, 4L)), s"got $out")
  }

  test("NO_SKIP relaxed optional tail emits all combinations incl. tail-less flush") {
    // A(strict) B(relaxed, optional): B arrives -> (A, B); the retained
    // partial flushes the tail-less (A) at window close — combinations,
    // per the documented NO_SKIP semantics for relaxed optional tails.
    val p = Pattern(Seq(Step("a", _.tag == "A", strict = true),
      Step("b", _.tag == "B").optional),
      withinMs = 600000, skipPastLast = false)
    val out = run(p, Seq(ev(1, 0, "A", 1), ev(1, 10, "B", 2)))
    assert(out.toSet == Set(Seq(1L, 2L), Seq(1L)), s"got $out")
  }

  test("SKIP_TO_NEXT emits at most one match per start event") {
    // identical input to the NO_SKIP combination test (which yields all
    // four A×B pairs): under SKIP_TO_NEXT each A matches only its FIRST
    // subsequent B — the emitted match kills the A's remaining partials
    val events = Seq(ev(1, 0, "A", 1), ev(1, 10, "A", 2), ev(1, 20, "B", 3),
      ev(1, 30, "B", 4))
    val out = run(Pattern(steps(), withinMs = 600000, skipPastLast = false,
      skipToNext = true), events)
    assert(out.toSet == Set(Seq(1L, 3L), Seq(2L, 3L)), s"got $out")
  }

  test("SKIP_TO_NEXT is mutually exclusive with the other strategies") {
    assertThrows[IllegalArgumentException] {
      Pattern(steps(), withinMs = 1000, skipPastLast = true,
        skipToNext = true)
    }
    assertThrows[IllegalArgumentException] {
      Pattern(steps(), withinMs = 1000, skipPastLast = false,
        skipToVar = "a", skipToNext = true)
    }
  }

  test("SKIP TO an unknown variable is rejected at construction") {
    assertThrows[IllegalArgumentException] {
      Pattern(Seq(Step("a", _.tag == "A")), withinMs = 1000,
        skipPastLast = false, skipToVar = "typo")
    }
  }

  test("trailing optional quantified tail stays greedy-maximal") {
    val p = Pattern(Seq(Step("a", _.tag == "A", strict = true),
      Step("b", _.tag == "B", strict = true).times(1, 3).optional),
      withinMs = 600000, skipPastLast = false)
    val out = run(p, Seq(
      ev(1, 0, "A", 1), ev(1, 10, "B", 2), ev(1, 20, "B", 3),
      ev(1, 30, "X", 4)))
    // the loop absorbs both Bs; the X breaks it → one maximal match
    assert(out == Seq(Seq(1L, 2L, 3L)))
  }

  test("SKIP TO LAST resumes at the bottom of a V (W-shape overlap)") {
    // value pattern: START DOWN+ UP+ on strict rows, SKIP TO LAST down:
    // W shape 10 8 6 9 5 2 7 — first V = 10↓8↓6↑9; resume at the 6-row
    // (last DOWN of match 1): second V = 6? No — 6 is consumed as
    // bottom; partials starting at 9: 9↓5↓2↑7 matches. Under
    // SKIP_PAST_LAST the 9-start would ALSO survive (starts after
    // match end); the difference shows for partials starting between
    // lastDown and match end — here none exist, but crucially NO_SKIP
    // would emit nested V variants from 8: (8 6 9). SKIP TO LAST down
    // must kill the 8-start (before skip row 6) and keep 9-start.
    def evn(key: Long, sec: Int, id: Long, num: Double) =
      ev(key, sec, "V", id).copy(num = num)
    val vals = Seq(10.0, 8.0, 6.0, 9.0, 5.0, 2.0, 7.0)
    val rows = vals.zipWithIndex.map { case (v, i) =>
      evn(1, i * 10, i + 1L, v)
    }
    val p = Pattern(Seq(
      Step("s", _ => true, strict = true),
      Step("down", _ => true, strict = true, minTimes = 1,
        maxTimes = Int.MaxValue,
        ctxWhere = (e, m) => m.prev.exists(e.num < _.num)),
      Step("up", _ => true, strict = true, minTimes = 1,
        maxTimes = Int.MaxValue,
        ctxWhere = (e, m) => m.prev.exists(e.num > _.num))),
      withinMs = 600000, skipPastLast = false, skipToVar = "down",
      skipToFirst = false)
    val out = run(p, rows)
    // match 1: rows 1(10) 2(8) 3(6) 4(9); skip row = row 3 → the
    // 8-start partial (row 2) dies, row-3/row-4 starts survive:
    // 3(6) 4(9) is up-only → no; 4(9) 5(5) 6(2) 7(7) completes.
    assert(out == Seq(Seq(1L, 2L, 3L, 4L), Seq(4L, 5L, 6L, 7L)))
  }
}
