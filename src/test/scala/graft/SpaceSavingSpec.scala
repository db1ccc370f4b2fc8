package graft

import org.apache.spark.sql.Row

class SpaceSavingSpec extends SparkSpec {

  test("topk_freq is registered and exact when capacity >= distinct count") {
    import spark.implicits._
    val df = (Seq.fill(5)("a") ++ Seq.fill(3)("b") ++ Seq.fill(3)("c") ++ Seq("d"))
      .toDF("x").repartition(4) // force partial buffers + merge
    val rows = df.selectExpr("topk_freq(x, 3, 10) as tops")
      .selectExpr("inline(tops)").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq ==
      Seq(("a", 5L), ("b", 3L), ("c", 3L))) // tie b/c broken by item
  }

  test("topk_freq bounds state at capacity and keeps heavy hitters under eviction") {
    import spark.implicits._
    // 1000 x "hot" + 50 distinct cold items, capacity 8 << distinct
    val data = Seq.fill(1000)("hot") ++ (1 to 50).map(i => s"cold_$i")
    val rows = data.toDF("x").repartition(4)
      .selectExpr("topk_freq(x, 1, 8) as tops")
      .selectExpr("inline(tops)").collect()
    assert(rows.length == 1)
    assert(rows.head.getString(0) == "hot")
    assert(rows.head.getLong(1) >= 1000L) // SpaceSaving only over-estimates
  }

  test("topk_freq ≡ groupBy + window top-k when capacity covers the vocabulary (sf0.001)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions._
    val tok = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("explode(split(trim(lower(text)), '\\\\s+')) as token")
    val vocab = tok.distinct().count()
    assert(vocab <= 64, s"capacity 64 must cover the vocabulary ($vocab)")
    val sketch = tok.selectExpr("topk_freq(token, 10, 64) as tops")
      .selectExpr("posexplode(tops) as (rank, t)")
      .selectExpr("cast(rank as bigint) as rank", "t.item as token", "t.cnt as n")
      .orderBy("rank").collect().toSeq
    val window = tok.groupBy("token").agg(count(lit(1)).as("n"))
      .withColumn("rank",
        (row_number().over(Window.orderBy(col("n").desc, col("token"))) - 1)
          .cast("long"))
      .filter(col("rank") < 10)
      .select("rank", "token", "n")
      .orderBy("rank").collect().toSeq
    assert(sketch.size == 10)
    assert(sketch == window)
  }

  test("topk_freq ignores nulls") {
    import spark.implicits._
    val rows = Seq(Some("a"), None, Some("a"), None).toDF("x")
      .selectExpr("topk_freq(x, 5, 10) as tops")
      .selectExpr("inline(tops)").collect()
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSeq == Seq(("a", 2L)))
  }
}
