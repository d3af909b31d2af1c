package graft

import org.scalatest.funsuite.AnyFunSuite

/** Pins the BENCH_FULL.json writer's schema (verdict r7 stretch #8): the
  * artifacts are the grading substrate, so `queries`, full-suite
  * `warm_rerun` coverage, `warm_errors` (a warm failure must never surface
  * as a plausible timing — ADVICE r7), `env.load_gate`, and `errors` must
  * not silently drift. Rendering is pure string-building, so the spec runs
  * without a SparkSession or a bench. */
class BenchArtifactSpec extends AnyFunSuite {

  // Mirrors main's envJson shape, including the round-9/10 gate stamps: the
  // gate requires BOTH the 1m and 5m averages under the bar (at run start
  // AND re-armed before the warm pass), and the observed values land in the
  // artifact so a reader can re-adjudicate.
  private val env =
    """{"load_before":"0.5 0.4 0.3","load_after":"1.0 0.6 0.4","load_gate":"ok",""" +
      """"load_gate_1m":0.500,"load_gate_5m":0.400,""" +
      """"warm_gate":"ok","warm_gate_1m":0.600,"warm_gate_5m":0.700,"jvm_cpus":32}"""

  private def render(
      timings: Seq[(String, Double)] = Seq("_pipeline_materialize" -> 1.5, "q1" -> 2.0, "q2" -> 0.25),
      warm: Seq[(String, Double)] = Seq("q1" -> 1.0, "q2" -> 0.2),
      warmErrors: Seq[(String, String)] = Nil,
      errors: Seq[(String, String)] = Nil): String =
    Bench.renderFullJson(timings, warm, warmErrors, errors, env, "/root/testdata/sf0.1")

  test("a filtered run builds only the materialize hooks it names") {
    val hooks = Bench.MaterializeHooks
    assert(Bench.selected(Some(Set("fifo_match", "q01_balance_asof")), hooks).isEmpty)
    assert(Bench.selected(Some(Set("_pipeline_materialize", "fifo_match")), hooks)
      .map(_._1) === Seq("_pipeline_materialize"))
    assert(Bench.selected(None, hooks) === hooks)
  }

  test("every grading key is present with the expected shape") {
    val js = render()
    for (key <- Seq("\"metric\":\"total\"", "\"value\":", "\"unit\":\"sec\"",
        "\"queries\":{", "\"warm_total\":", "\"warm_rerun\":{", "\"warm_errors\":{",
        "\"warm_diag\":{", "\"warm_over2x\":[",
        "\"cold_reps\":{", "\"budget_exceptions\":[",
        "\"env\":{", "\"errors\":{", "\"sf\":", "\"load_gate\":",
        "\"load_gate_1m\":", "\"load_gate_5m\":",
        "\"warm_gate\":", "\"warm_gate_1m\":", "\"warm_gate_5m\":"))
      assert(js.contains(key), s"missing $key in $js")
  }

  test("cold_reps serializes reps + median; budget exceptions name the contract lines") {
    val js = Bench.renderFullJson(Seq("q1" -> 1.0), Seq("q1" -> 0.9), Nil, Nil,
      env, "sf", coldReps = Seq(("ann_recall_eval", Seq(4.2, 8.5, 4.1), Nil)))
    assert(js.contains(
      """"ann_recall_eval":{"reps":[4.200,8.500,4.100],"median":4.200,"errors":[]}"""), js)
    // the exception list is the BASELINE.md structural-exception table's
    // machine-readable twin — a reader of the artifact sees the contract
    assert(js.contains(""""budget_exceptions":["streaming_alerts_expiring","_curation_materialize","ann_rebuild_recovery","_dedup_shared_materialize","_ann_shared_materialize"]"""))
  }

  test("a failed cold rep records an error marker, never a timing (ADVICE r14)") {
    val js = Bench.renderFullJson(Seq("q1" -> 1.0), Seq("q1" -> 0.9), Nil, Nil,
      env, "sf", coldReps = Seq(
        ("flaky_q", Seq(4.2), Seq("SparkException: stage failed"))))
    // one clean rep, one crash: exactly one timing, median from timings only,
    // and the crash is visible as a marker
    assert(js.contains(
      """"flaky_q":{"reps":[4.200],"median":4.200,"errors":["SparkException: stage failed"]}"""), js)
  }

  test("cold_reps covers every re-runnable >5s in-suite line (verdict r14 #5)") {
    // The expensive tail as recorded in BENCH_FULL r14. Exempt: the two
    // `_..._materialize` shared-staging timers (not re-runnable queries)
    // and the three memoizing replay gates (streaming_alerts,
    // streaming_alerts_expiring, streaming_join), whose re-runs read the
    // session-memoized sink in ~0.3 s — a vacuous rep would misread as
    // in-suite inflation (see the ColdRepNames scaladoc).
    for (n <- Seq("streaming_evicted_late_match", "streaming_evicted_match",
        "dedup_lsh_recall", "ann_rebuild_recovery", "dedup_clusters_star"))
      assert(Bench.ColdRepNames.contains(n), s"cold_reps missing >5s line $n")
    for (n <- Seq("streaming_alerts", "streaming_alerts_expiring", "streaming_join"))
      assert(!Bench.ColdRepNames.contains(n),
        s"$n memoizes its replay sink; a dedicated rep is vacuous")
  }

  test("warm contract: over means >2x cold AND >2s floor, or >10s outright") {
    // sub-second jitter never flags
    assert(!Bench.warmOver(cold = 0.2, warm = 0.9))
    // >2x but under the 2s absolute floor never flags
    assert(!Bench.warmOver(cold = 0.8, warm = 1.9))
    // the r10 phantom shapes DO flag
    assert(Bench.warmOver(cold = 2.78, warm = 29.56))
    assert(Bench.warmOver(cold = 1.23, warm = 13.01))
    // >10s flags even when cold was also slow (the self-target is absolute)
    assert(Bench.warmOver(cold = 9.0, warm = 10.5))
    // warm <= 2x cold never flags below 10s
    assert(!Bench.warmOver(cold = 4.0, warm = 7.9))
  }

  test("warm_diag serializes first + retry evidence; warm_over2x lists names") {
    val diag = Seq(
      "slow_q" -> Bench.WarmDiag(29.5, 1.2, 4.5, Some((2.9, 0.1, 0.3))),
      "noretry_q" -> Bench.WarmDiag(5.0, 0.2, 1.0, None))
    val js = Bench.renderFullJson(Seq("q1" -> 1.0), Seq("q1" -> 0.9), Nil, Nil,
      env, "sf", diag, Seq("slow_q"))
    assert(js.contains(""""slow_q":{"first":29.500,"first_gc":1.200,"first_load":4.500,""" +
      """"retry":2.900,"retry_gc":0.100,"retry_load":0.300}"""))
    assert(js.contains(""""noretry_q":{"first":5.000,"first_gc":0.200,"first_load":1.000}"""))
    assert(js.contains(""""warm_over2x":["slow_q"]"""))
  }

  test("retry failures render in their own warm_retry_errors map, unkeyed by suffix") {
    val js = Bench.renderFullJson(Seq("q1" -> 1.0), Seq("q1" -> 0.9),
      Seq("broken_q" -> "boom"), Nil, env, "sf",
      warmRetryErrors = Seq("flaky_q" -> "retry boom"))
    // the retry failure must NOT pollute warm_errors (round-11 advice: the
    // synthetic "<name>:retry" keys made consumers double-count gates)
    assert(js.contains(""""warm_errors":{"broken_q":"boom"}"""))
    assert(js.contains(""""warm_retry_errors":{"flaky_q":"retry boom"}"""))
    assert(!js.contains(":retry\""))
  }

  test("totals are the sums of their maps and queries includes materialize") {
    val js = render()
    assert(js.contains("\"value\":3.750"))
    assert(js.contains("\"warm_total\":1.200"))
    assert(js.contains("\"_pipeline_materialize\":1.500"))
  }

  test("a warm failure lands in warm_errors, never as a warm timing") {
    val js = render(warm = Seq("q2" -> 0.2),
      warmErrors = Seq("q1" -> "SparkException: boom"))
    assert(js.contains(""""warm_errors":{"q1":"SparkException: boom"}"""))
    assert(!js.contains(""""warm_rerun":{"q1""""), "failed warm query must be omitted")
  }

  test("cold failures render as explicit error entries") {
    val js = render(errors = Seq("q9" -> "AnalysisException: nope"))
    assert(js.contains(""""errors":{"q9":"AnalysisException: nope"}"""))
  }

  test("a throwing hook is timed as an error under its line name, never as a clean timing") {
    val (name, secs, err) =
      Bench.timed("_ann_shared_materialize")(throw new IllegalStateException("boom"))
    assert(name === "_ann_shared_materialize")
    assert(secs >= 0.0)
    assert(err === Some("IllegalStateException: boom"))
    assert(Bench.timed("q1")(())._3 === None)
  }

  test("strings are JSON-escaped and decimals locale-pinned") {
    val js = Bench.renderFullJson(Seq("q\"x\"" -> 1.0), Nil, Nil,
      Seq("qe" -> "line1\nline2\\end"), env, "sf")
    assert(js.contains("\"q\\\"x\\\"\":1.000"))
    // control chars unicode-escape, backslashes double (jstr rules)
    assert(js.contains("line1\\u000aline2\\\\end"))
    assert(Bench.sec(1234.5) === "1234.500", "locale-pinned decimal point")
  }
}
