package graft

/** Bench harness accounting: a failing query must be reported and
  * excluded — never folded into the total as a sentinel (a -1 summed in
  * would make the bench LOOK faster when something breaks). */
class BenchSpec extends SparkSpec {

  test("failures reported and excluded; job/stage counts recorded") {
    val (res, failed) = Bench.runAll(spark, sf001, Map(
      "ok_q" -> ((s, d) => graft.queries.Tables.t(s, d, "region")),
      "boom_q" -> ((_, _) => throw new RuntimeException("synthetic failure"))))
    assert(res.keySet == Set("ok_q"))
    assert(failed.keySet == Set("boom_q"))
    assert(failed("boom_q").contains("synthetic failure"))
    val ok = res("ok_q")
    assert(ok.sec > 0.0)
    assert(ok.jobs >= 1, s"expected >=1 job, got ${ok.jobs}")
    assert(ok.stages >= 1, s"expected >=1 stage, got ${ok.stages}")
  }

  test("min-of-N reps: every rep runs in full, the minimum is kept") {
    var calls = 0
    val (res, failed) = Bench.runAll(spark, sf001, Map(
      "q" -> ((s, d) => { calls += 1; graft.queries.Tables.t(s, d, "region") })),
      reps = 2)
    assert(failed.isEmpty)
    assert(calls == 2, s"expected 2 reps, saw $calls plan builds")
    val q = res("q")
    assert(q.repSecs.length == 2)
    assert(q.sec == q.repSecs.min)
    assert(q.jobs >= 1 && q.stages >= 1) // counts come from the min rep
    assert(q.at >= 0.0)
  }
}
