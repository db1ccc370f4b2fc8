package graft

import graft.plans.TopKPerKey
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The native two-phase top-k operator must agree row-for-row with the
  * stock window formulation (its fallback), including ties and groups
  * smaller than k, and must plan as Partial/FinalTopK. */
class TopKPerKeySpec extends SparkSpec {

  private def windowForm(df: org.apache.spark.sql.DataFrame, key: String,
      ord: String, tie: String, k: Int) = {
    val w = Window.partitionBy(col(key)).orderBy(col(ord).desc, col(tie).asc)
    df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= k)
  }

  test("native top-k equals the window form on real data") {
    val events = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_type", "event_id", "value")
    val native = TopKPerKey.topKDesc(events, Seq("event_type"), "value",
      Seq("event_id"), 5).collect()
      .map(r => (r.getString(0), r.getLong(3), r.getLong(1))).toSet
    val window = windowForm(events, "event_type", "value", "event_id", 5)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(1))).toSet
    assert(native == window)
    assert(native.size == 25) // 5 types × k=5
  }

  test("ties break on the tiebreaker; small groups return all rows") {
    import spark.implicits._
    val df = Seq(
      ("a", 1L, 10.0), ("a", 2L, 10.0), ("a", 3L, 10.0), // all tied
      ("b", 4L, 1.0)                                      // group smaller than k
    ).toDF("key", "id", "v")
    val out = TopKPerKey.topKDesc(df, Seq("key"), "v", Seq("id"), 2)
      .collect().map(r => (r.getString(0), r.getLong(3), r.getLong(1))).toSet
    assert(out == Set(("a", 1L, 1L), ("a", 2L, 2L), ("b", 1L, 4L)))
  }

  test("property: native ≡ window form on random data, keys, and k") {
    import org.scalacheck.{Gen, Prop, Test => SCTest}
    import spark.implicits._
    val gen = for {
      n <- Gen.choose(0, 60)
      k <- Gen.choose(1, 5)
      rows <- Gen.listOfN(n, for {
        key <- Gen.oneOf("a", "b", "c", "d")
        v <- Gen.choose(0, 9).map(_.toDouble) // coarse values force ties
      } yield (key, v))
    } yield (rows.zipWithIndex.map { case ((key, v), i) => (key, i.toLong, v) }, k)
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(20),
      Prop.forAll(gen) { case (rows, k) =>
        rows.isEmpty || {
          val df = rows.toDF("key", "id", "v")
          val native = TopKPerKey.topKDesc(df, Seq("key"), "v", Seq("id"), k)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
          val win = windowForm(df, "key", "v", "id", k)
            .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(3))).toSet
          native == win
        }
      })
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }

  test("partial-key cap overflow degrades to pass-through, output unchanged") {
    // one partition with more distinct keys than the heap ceiling: keys
    // past it stream through unpruned and the final phase cuts them
    val n = TopKPerKey.MaxPartialKeys + 5000
    val df = spark.range(0L, 2L * n, 1L, 1)
      .selectExpr(s"id % $n as key", "id", "cast(id * 7 % 11 as double) as v")
    val native = TopKPerKey.topKDesc(df, Seq("key"), "v", Seq("id"), 1)
      .select("key", "id")
    // top-1 by (v desc, id asc) as an aggregate: no top-k operator involved
    val expected = df.groupBy("key")
      .agg(max(struct(col("v"), (-col("id")).as("nid"))).as("m"))
      .selectExpr("key", "-m.nid as id")
    assert(native.count() == n)
    assert(native.exceptAll(expected).isEmpty && expected.exceptAll(native).isEmpty)
  }

  test("row budget caps heap count at wide k; output unchanged") {
    import spark.implicits._
    // the 100x lesson: memory must be bounded in ROWS (keys×k), not
    // keys — at k=40 the old key-count cap retained 5.2M rows per
    // partition. At k = 2048 the row budget allows 2^20 / 2048 = 512
    // heaps, floored at 1024, so 2000 keys in one partition take the
    // overflow pass-through; every group is smaller than k, so every
    // row survives with its in-group rank.
    val rows = (0L until 2000L).flatMap(key =>
      (0L until 3L).map(j => (key, key * 3 + j, (j * 17 % 7).toDouble)))
    val df = rows.toDF("key", "id", "v").coalesce(1)
    val native = TopKPerKey.topKDesc(df, Seq("key"), "v", Seq("id"), 2048)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(3))).toSet
    val expected = rows.groupBy(_._1).values.flatMap(g =>
      g.sortBy(r => (-r._3, r._2)).zipWithIndex
        .map { case (r, i) => (r._1, r._2, i + 1L) }).toSet
    assert(native == expected && native.size == 6000)
  }

  test("float/double grouping keys route to the window form (-0.0 == 0.0)") {
    import spark.implicits._
    // native path would bypass NormalizeFloatingNumbers: -0.0 and 0.0
    // have distinct bit patterns and could rank as distinct keys
    val df = Seq((-0.0, 1L, 5.0), (0.0, 2L, 7.0), (1.5, 3L, 1.0))
      .toDF("fkey", "id", "v")
    val out = TopKPerKey.topKDesc(df, Seq("fkey"), "v", Seq("id"), 1)
    val plan = out.queryExecution.executedPlan.toString
    assert(!plan.contains("PartialTopK"), s"native plan on float keys:\n$plan")
    // -0.0 and 0.0 are one group: its top-1 is (0.0, 2L); k=1 per key
    val rows = out.collect().map(r => (r.getLong(1), r.getLong(3))).toSet
    assert(rows == Set((2L, 1L), (3L, 1L)))
  }

  test("plans as PartialTopK + FinalTopK with the exchange between them") {
    val events = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_type", "event_id", "value")
    val plan = TopKPerKey.topKDesc(events, Seq("event_type"), "value",
      Seq("event_id"), 5).queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      s"native operator not planned:\n$plan")
    assert(!plan.contains("Window"), "fell back to the window form")
  }
}
