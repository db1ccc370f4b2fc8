package graft

import graft.llm.Frag._
import org.apache.spark.sql.functions.col

/** Round-14 regressions: the fused HRW kernel (x86) and the shingle
  * pipeline decision.
  *
  * The load-bearing claims:
  *  - `hrw_assign(key, n)` ≡ the HOF argmax chain, so x86's fused
  *    narrow map assigns identically;
  *  - x86's plan stays one narrow map + a single exchange;
  *  - the equality-only shingle consumers (x48/x57/x64) run the FUSED
  *    STRING shingler (shingles3) — hashed keys were measured and
  *    rejected (a shingle-key study in git history, decision record in
  *    Frag.sShinglesText), and the fused form must equal the
  *    composable HOF chain it replaced.
  */
class Round20Spec extends SparkSpec {

  test("hrw_assign (fused) == composable HOF argmax, both n=8 and n=7") {
    val d = graft.queries.Tables.t(spark, sf001, "documents")
      .select("doc_id")
    val fused = d.selectExpr("doc_id",
      "hrw_assign(cast(doc_id as string), 8) as a8",
      "hrw_assign(cast(doc_id as string), 7) as a7")
    val hof = d
      .selectExpr("doc_id",
        s"transform(sequence(0, 7), w -> ${sH("concat(cast(doc_id as string), ':', cast(w as string))")}) as sc")
      .selectExpr("doc_id", "sc", "array_max(sc) as m8",
        "array_max(slice(sc, 1, 7)) as m7")
      .selectExpr("doc_id",
        "element_at(filter(sequence(0, 7), w -> element_at(sc, w + 1) = m8), 1) as a8",
        "element_at(filter(sequence(0, 6), w -> element_at(sc, w + 1) = m7), 1) as a7")
    val a = fused.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._1)
    val b = hof.collect().map(r => (r.getLong(0), r.getInt(1), r.getInt(2)))
      .sortBy(_._1)
    assert(a.nonEmpty && a.sameElements(b),
      "fused hrw_assign disagrees with the composable argmax")
    // every worker id in range, and both topologies are populated
    assert(a.forall(t => t._2 >= 0 && t._2 < 8 && t._3 >= 0 && t._3 < 7))
  }

  test("x86 plan: fused kernel keeps the narrow-map + single-exchange shape") {
    val df = SparkEntry.queries("x86_rendezvous_shards")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    val exchanges = "Exchange".r.findAllIn(plan).length
    // one aggregation exchange + the presentation sort's range exchange
    assert(exchanges <= 2, s"x86 plan grew extra exchanges:\n$plan")
    assert(!plan.contains("ArrayTransform") || !plan.contains("filter("),
      "x86 hot path still evaluates the interpreted HOF chain")
  }

  test("x48/x57/x64 ride the fused string shingler; fused == composable HOF chain") {
    // the fused kernel must be in the analyzed plans (extensions are
    // installed in the spec session), and the HOF fallback must be
    // value-identical so extension-less sessions stay oracle-green
    for (q <- Seq("x48_source_overlap", "x57_novelty", "x64_dedup_pressure")) {
      val plan = SparkEntry.queries(q)(spark, sf001)
        .queryExecution.analyzed.toString
      assert(plan.contains("shingles3"), s"$q lost the fused shingler")
    }
    val d = graft.queries.Tables.t(spark, sf001, "documents")
    val fused = d.selectExpr("doc_id", "shingles3(text) as shs")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    val hof = d.selectExpr("doc_id", s"${sLet(sTokens, "tk", sShingles)} as shs")
      .collect().map(r => r.getLong(0) -> r.getSeq[String](1)).toMap
    assert(fused.nonEmpty && fused == hof,
      "fused shingles3 != composable HOF chain")
    // and the df histogram the fused pipeline feeds is unchanged
    import org.apache.spark.sql.functions.{count, lit}
    val viaFused = SparkEntry.queries("x64_dedup_pressure")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val viaHof = d.selectExpr(s"${sLet(sTokens, "tk", sShingles)} as shs")
      .selectExpr("explode(shs) as sh")
      .groupBy("sh").agg(count(lit(1)).as("df"))
      .groupBy("df").agg(count(lit(1)).as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(viaFused == viaHof,
      s"x64 df histogram drifted under the fused shingler: $viaFused vs $viaHof")
  }
}
