package graft

import org.json4s._
import org.json4s.jackson.JsonMethods.{compact, parse}
import org.scalatest.funsuite.AnyFunSuite

/** Bench's regression adjudication as a pure function: one flag rule
  * against the history and floor baselines, the post-retry survivor /
  * refuted split, the load gate and its streak, and the JSON fields it
  * renders.
  */
class BenchVerdictSpec extends AnyFunSuite {
  import Bench._

  private def minima(ts: (String, Double)*): Times =
    ts.map { case (k, t) => k -> Some(t) }

  // q1's baseline is its second-smallest prior time (1.2), q2's 1.1.
  private val history = Seq(Map("q1" -> 1.0, "q2" -> 1.0),
    Map("q1" -> 1.2, "q2" -> 1.1), Map("q1" -> 5.0))

  private def fields(v: Verdict, floorGateActive: Boolean = true): Map[String, JValue] =
    verdictFields(v, floorGateActive).toMap

  test("the flag rule: over 2x the baseline and by more than 0.5 s") {
    val base = Map("a" -> 1.0, "small" -> 0.2, "zero" -> 0.0)
    assert(over(base)("a", 2.6))
    assert(!over(base)("a", 2.0)) // not above 2x
    assert(!over(base)("small", 0.65)) // 3.25x but only +0.45 s
    assert(!over(base)("zero", 9.0))
    assert(!over(base)("missing", 9.0))
  }

  test("history baseline is the second-smallest prior time, or the only one") {
    assert(baseline(history) == Map("q1" -> 1.2, "q2" -> 1.1))
    assert(baseline(Seq(Map("q9" -> 3.0))) == Map("q9" -> 3.0))
    assert(flagged(minima("q1" -> 3.0, "q2" -> 1.0), history, Map.empty) == Seq("q1"))
  }

  test("a history flag that survives its retry is a regression") {
    val v = adjudicate(minima("q1" -> 3.0, "q2" -> 1.0), Map("q1" -> 2.9),
      history, Map.empty, priorStreak = 0)
    assert(v.regressions == Seq("q1" -> 2.9 / 1.2))
    assert(v.suspectRegressions.isEmpty && v.floorViolations.isEmpty)
    assert(v.retried == Seq("q1"))
    assert(v.times == Seq("q1" -> Some(2.9), "q2" -> Some(1.0)))
  }

  test("a history flag the retry refutes is suspect, not asserted") {
    val v = adjudicate(minima("q1" -> 3.0, "q2" -> 1.0), Map("q1" -> 1.3),
      history, Map.empty, priorStreak = 0)
    assert(v.regressions.isEmpty)
    assert(v.suspectRegressions == Seq("q1" -> 1.3 / 1.2))
    assert(v.floorRefuted.isEmpty)
    assert(v.times.toMap.apply("q1").contains(1.3))
  }

  test("a floor flag survives as a violation, or is recorded as refuted") {
    val floors = Map("q3" -> 1.0)
    val kept = adjudicate(minima("q3" -> 2.7), Map("q3" -> 2.6), Nil, floors, 0)
    assert(kept.floorViolations == Seq("q3" -> 2.6))
    assert(kept.floorRefuted.isEmpty && kept.regressions.isEmpty)
    val refuted = adjudicate(minima("q3" -> 2.7), Map("q3" -> 1.1), Nil, floors, 0)
    assert(refuted.floorViolations.isEmpty)
    assert(refuted.floorRefuted == Seq("q3" -> 1.1))
    assert(refuted.suspectRegressions.isEmpty) // no history for q3
    assert(refuted.retried == Seq("q3"))
  }

  test("both flags on one query: judged against each baseline") {
    val v = adjudicate(minima("q1" -> 3.0), Map("q1" -> 2.8), history,
      Map("q1" -> 1.0), 0)
    assert(v.regressions == Seq("q1" -> 2.8 / 1.2))
    assert(v.floorViolations == Seq("q1" -> 2.8))
    assert(v.retried == Seq("q1"))
  }

  test("floor_refuted leaves out names history already refuted") {
    val floors = Map("q1" -> 1.0, "q3" -> 1.0)
    val v = adjudicate(minima("q1" -> 3.0, "q3" -> 2.7),
      Map("q1" -> 1.3, "q3" -> 1.1), history, floors, 0)
    assert(v.suspectRegressions == Seq("q1" -> 1.3 / 1.2))
    assert(v.floorRefuted == Seq("q3" -> 1.1))
    assert(v.floorViolations.isEmpty && v.regressions.isEmpty)
  }

  test("a retry that fails leaves the suite minimum to be judged") {
    val v = adjudicate(minima("q1" -> 3.0), Map.empty, history, Map.empty, 0)
    assert(v.regressions == Seq("q1" -> 3.0 / 1.2))
    assert(v.retried.isEmpty)
  }

  test("a floor-only flag on a query with history is judged only against its floor") {
    // q2 clears its floor but not its history baseline, so only the
    // floor side judges it: a surviving flag is a floor violation, a
    // refuted one lands in floor_refuted, and neither is a suspect.
    val kept = adjudicate(minima("q2" -> 2.0), Map("q2" -> 1.9), history,
      Map("q2" -> 0.6), 0)
    assert(kept.floorViolations == Seq("q2" -> 1.9 / 0.6))
    assert(kept.suspectRegressions.isEmpty && kept.regressions.isEmpty &&
      kept.floorRefuted.isEmpty)
    val refuted = adjudicate(minima("q2" -> 2.0), Map("q2" -> 1.0), history,
      Map("q2" -> 0.6), 0)
    assert(refuted.floorRefuted == Seq("q2" -> 1.0 / 0.6))
    assert(refuted.suspectRegressions.isEmpty && refuted.floorViolations.isEmpty)
  }

  // 60 shared queries at 1.0 s in two history runs; the current run is
  // uniformly 1.6x slower, plus one query flagged against history and
  // one, new to the suite, against its floor.
  private val names = (0 until 60).map(i => f"q$i%02d")
  private val fast = names.map(_ -> 1.0).toMap
  private val loadHistory = Seq.fill(2)(fast)
  private val loaded: Times =
    names.map(n => n -> Some(if (n == "q00") 3.0 else 1.6)) :+ ("q99" -> Some(1.6))
  private val loadFloors = Map("q99" -> 0.5)

  test("load-suspect: history survivors become suspect, floor violations stay") {
    val v = adjudicate(loaded, Map("q00" -> 2.9, "q99" -> 1.6), loadHistory,
      loadFloors, priorStreak = 0)
    assert(v.loadSuspect && v.loadStreak == 1)
    assert(v.loadRatio.exists(r => r > 1.5 && r < 1.7))
    assert(v.regressions.isEmpty)
    assert(v.suspectRegressions == Seq("q00" -> 2.9))
    assert(v.floorViolations == Seq("q99" -> 1.6 / 0.5))
    val f = fields(v)
    assert(f("load_suspect") == JBool(true))
    assert(f("load_suspect_streak") == JInt(1))
    assert(!f.contains("global_slowdown_suspect"))
    assert(f("regressions") == JObject())
  }

  test("a streak of two or more load-suspect runs is a global slowdown suspect") {
    val v = adjudicate(loaded, Map.empty, loadHistory, loadFloors, priorStreak = 1)
    assert(v.loadStreak == 2)
    assert(fields(v)("global_slowdown_suspect") == JBool(true))
    val calm = adjudicate(names.map(_ -> Some(1.0)), Map.empty, loadHistory,
      loadFloors, priorStreak = 3)
    assert(!calm.loadSuspect && calm.loadStreak == 0 && calm.loadRatio.contains(1.0))
    assert(!fields(calm).keySet.exists(_.startsWith("load_")))
  }

  test("the load gate needs 50 shared queries and looks at the last 10 runs") {
    val few = adjudicate(loaded.take(49), Map.empty, loadHistory, Map.empty, 0)
    assert(few.loadRatio.isEmpty && !few.loadSuspect)
    // Over all 19 runs the median ratio would be 1.6x either way round;
    // only the last 10 count.
    val slow = names.map(_ -> 1.6).toMap
    val old = adjudicate(loaded, Map.empty,
      Seq.fill(10)(fast) ++ Seq.fill(9)(slow), Map.empty, 0)
    assert(old.loadRatio.exists(_ < 1.1) && !old.loadSuspect)
    val recent = adjudicate(loaded, Map.empty,
      Seq.fill(9)(slow) ++ Seq.fill(10)(fast), Map.empty, 0)
    assert(recent.loadSuspect)
  }

  test("empty floors: no floor flags and floor_gate_active false") {
    val floors = parseFloors("| q1 | 0.10s |", "/data/sf0.01")
    assert(floors.isEmpty)
    assert(flagged(minima("q1" -> 3.0), Nil, floors).isEmpty)
    val v = adjudicate(minima("q1" -> 3.0), Map.empty, Nil, floors, 0)
    assert(v.floorViolations.isEmpty && v.floorRefuted.isEmpty && v.retried.isEmpty)
    val f = fields(v, floorGateActive = floors.nonEmpty)
    assert(f("floor_gate_active") == JBool(false))
    assert(f.keySet == Set("regressions", "floor_gate_active"))
  }

  test("verdict fields: ratios at 2 dp, empty maps left out except regressions") {
    val v = adjudicate(minima("q1" -> 3.0, "q3" -> 2.7),
      Map("q1" -> 2.9, "q3" -> 1.1), history, Map("q3" -> 1.0), 0)
    val line = compact(JObject(verdictFields(v, floorGateActive = true)))
    assert(line ==
      """{"regressions":{"q1":2.42},"retried":["q1","q3"],""" +
        """"floor_gate_active":true,"floor_refuted":{"q3":1.1}}""")
    assert(compact(JObject(passFields(Seq(806.123, 412.5)))) ==
      """{"pass_totals":[806.123,412.5],"cold_pass_s":806.12}""")
  }

  test("the compact line is the full line without its per-query detail") {
    val full = JObject("metric" -> JString("total"),
      "cold_pass_s" -> JDouble(3.0),
      "queries" -> JObject("q1" -> JDouble(1.0)),
      "standalone" -> JObject("q1" -> JDouble(2.0)),
      "stage_cache" -> JObject("builds" -> JInt(1)),
      "errors" -> JObject(), "regressions" -> JObject(), "sf" -> JString("x"))
    val c = compactOf(full)
    assert(c.obj.map(_._1) ==
      List("metric", "cold_pass_s", "errors", "regressions", "sf"))
    assert(parse(compact(c)) == c)
  }

  test("history lines match on the canonical sf (the dir's basename)") {
    val line = """{"ts":1,"cpus":"4","sf":"/data/sf0.1","queries":{"q1":1.5,"q2":2.0}}"""
    assert(runAt(line, sfName("/data/sf0.1/")).contains(Map("q1" -> 1.5, "q2" -> 2.0)))
    assert(runAt(line, sfName("/data/xsf0.1")).isEmpty)
    assert(runAt(line.replace("/data/sf0.1", "/other/sf0.1/"), "sf0.1").nonEmpty)
    assert(runAt("{not json", "sf0.1").isEmpty)
    assert(runAt("""{"sf":"sf0.1"}""", "sf0.1").isEmpty)
  }

  test("sfName ignores a trailing slash and never matches by suffix") {
    assert(sfName("/data/sf0.1/") == "sf0.1")
    assert(sfName("/data/sf0.1") == "sf0.1")
    assert(sfName("/data/xsf0.1") == "xsf0.1")
  }
}
