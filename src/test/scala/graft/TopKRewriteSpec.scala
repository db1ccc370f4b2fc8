package graft

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The optimizer rule must turn the stock row_number+filter idiom into
  * the native two-phase operator — and must leave every non-matching
  * shape alone. */
class TopKRewriteSpec extends SparkSpec {
  import spark.implicits._

  private def df: DataFrame = Seq(
    ("a", 1L, 10.0), ("a", 2L, 30.0), ("a", 3L, 20.0), ("a", 4L, 40.0),
    ("b", 5L, 5.0), ("b", 6L, 15.0), ("c", 7L, 1.0)
  ).toDF("key", "id", "v").repartition(3)

  private def physical(d: DataFrame) = d.queryExecution.executedPlan.toString

  test("stock window idiom plans as PartialTopK/FinalTopK") {
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    val out = df.withColumn("rk", row_number().over(w)).filter(col("rk") <= 2)
    val plan = physical(out)
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"), plan)
    assert(!plan.contains("Window"), plan)
    val rows = out.collect().map(r => (r.getString(0), r.getLong(1), r.getInt(3)))
    assert(rows.toSet == Set(("a", 4L, 1), ("a", 2L, 2),
      ("b", 6L, 1), ("b", 5L, 2), ("c", 7L, 1)))
    // schema preserved exactly: rank stays an int column named rk
    assert(out.schema("rk").dataType.typeName == "integer")
  }

  test("cast-to-long shape rewrites and keeps the long type") {
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    val out = df.withColumn("rk", row_number().over(w).cast("long"))
      .filter(col("rk") <= 1)
    assert(physical(out).contains("PartialTopK"))
    assert(out.schema("rk").dataType.typeName == "long")
    assert(out.collect().map(r => (r.getString(0), r.getLong(1))).toSet ==
      Set(("a", 4L), ("b", 6L), ("c", 7L)))
  }

  test("topKDesc keeps its long rank: no int round trip, no rename Project") {
    val out = graft.plans.TopKPerKey.topKDesc(df, Seq("key"), "v", Seq("id"), 2)
    val plan = physical(out)
    assert(plan.contains("FinalTopK"), plan)
    assert(!plan.contains("as int)") && !plan.contains("Project"), plan)
    assert(out.schema("rk").dataType.typeName == "long")
    assert(out.collect().map(r => (r.getLong(1), r.getLong(3))).toSet ==
      Set((4L, 1L), (2L, 2L), (6L, 1L), (5L, 2L), (7L, 1L)))
  }

  test("residual conjuncts re-apply on identical rank values") {
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    val out = df.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= 3 && col("rk") >= 2)
    assert(physical(out).contains("PartialTopK"))
    assert(out.collect().map(r => (r.getString(0), r.getInt(3))).toSet ==
      Set(("a", 2), ("a", 3), ("b", 2)))
  }

  test("rk < n and rk = 1 bounds rewrite") {
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    val lt = df.withColumn("rk", row_number().over(w)).filter(col("rk") < 2)
    assert(physical(lt).contains("PartialTopK"))
    assert(lt.count() == 3)
    val eq = df.withColumn("rk", row_number().over(w)).filter(col("rk") === 1)
    assert(physical(eq).contains("PartialTopK"))
    assert(eq.count() == 3)
  }

  test("global top-k (empty partition spec) rewrites") {
    val out = df.withColumn("rk",
        row_number().over(Window.orderBy(col("v").desc, col("id"))))
      .filter(col("rk") <= 2)
    assert(physical(out).contains("PartialTopK"))
    assert(out.collect().map(_.getLong(1)).toSet == Set(4L, 2L))
  }

  test("non-matching shapes stay on the window plan") {
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    // rank() is not row_number
    val r1 = df.withColumn("rk", rank().over(w)).filter(col("rk") <= 2)
    assert(physical(r1).contains("Window"))
    // a second window expression rides along
    val r2 = df.withColumn("rk", row_number().over(w))
      .withColumn("mx", max("v").over(w))
      .filter(col("rk") <= 2)
    assert(physical(r2).contains("Window"))
    // float partition key (NormalizeFloatingNumbers guard)
    val r3 = df.withColumn("fkey", col("v"))
      .withColumn("rk", row_number().over(
        Window.partitionBy("fkey").orderBy(col("id"))))
      .filter(col("rk") <= 2)
    assert(physical(r3).contains("Window"))
    // all still produce correct row counts via the window path
    assert(r1.count() == 5 && r2.count() == 5)
  }

  test("rank consumed downstream still rewrites with identical values") {
    // the optimizer floats `rk2 = rk * 2` into a Project ABOVE the
    // filter, so the rewrite fires and the derived column reads the
    // reconstructed (bit-identical) rank
    val w = Window.partitionBy("key").orderBy(col("v").desc, col("id"))
    val r = df.withColumn("rk", row_number().over(w))
      .withColumn("rk2", col("rk") * 2)
      .filter(col("rk") <= 2)
    assert(physical(r).contains("PartialTopK"))
    r.collect().foreach(row => assert(row.getInt(4) == row.getInt(3) * 2))
    assert(r.count() == 5)
  }
}
