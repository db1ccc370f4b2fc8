package graft

import graft.queries.ExactRank
import org.apache.spark.sql.functions.col

/** A per-query temporary ends with its test: `ExactRank` persists its
  * input with `Shared.temp`, and Spark's cache lookup substitutes a
  * cached frame into any later plan with an equal subtree. `SparkSpec`
  * drops the temporaries after each test, as `Bench`, `Dev` and `Verify`
  * do after each query. The two tests run in order. */
class TransientCacheSpec extends SparkSpec {

  private def narrow = graft.queries.Tables.t(spark, sf001, "embeddings")
    .selectExpr("vec_id", "label")

  private def plan = narrow.queryExecution.executedPlan.toString

  test("a ranked frame's input is cached while its test runs") {
    val ranked = ExactRank.withGlobalRank(narrow, Seq(col("vec_id")))
    assert(ranked.count() > 0)
    // the substitution is live inside the test that made the temporary
    assert(plan.contains("InMemoryRelation"), plan)
  }

  test("the next test's equal subtree plans without the previous test's cache") {
    assert(!plan.contains("InMemoryRelation"), plan)
  }
}
