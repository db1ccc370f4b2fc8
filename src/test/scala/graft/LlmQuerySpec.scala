package graft

import org.apache.spark.sql.functions._

/** Boundary fixtures for the round-3 [EXT] queries: sliding-window
  * chunking (x38), stratified reservoir (x37) and the sufficient-
  * statistics regression's order-independence (r51); semantic dedup
  * (x36) is checked in VectorIndexSpec. */
class LlmQuerySpec extends SparkSpec {

  test("x38 sliding chunks: cover every token, clamp the last window") {
    val rows = graft.llm.TextAnalysis.queries("x38_sliding_chunks")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    // per doc: chunk 0 starts at 0; consecutive starts differ by the
    // 48-token stride; the last chunk reaches the end (start+64 >= n,
    // i.e. n_tok of the last chunk is n - start <= 64)
    rows.groupBy(_.getLong(0)).foreach { case (_, cs) =>
      val sorted = cs.sortBy(_.getLong(1))
      assert(sorted.head.getLong(2) == 0L)
      sorted.sliding(2).foreach {
        case Array(a, b) => assert(b.getLong(2) - a.getLong(2) == 48L)
        case _ =>
      }
      val last = sorted.last
      assert(last.getLong(3) <= 64L && last.getLong(3) >= 1L)
      // every non-final chunk is full-width
      sorted.init.foreach(c => assert(c.getLong(3) == 64L))
    }
  }

  test("x37 stratified reservoir: exactly min(k, |stratum|) per lang, stable") {
    val q = graft.llm.TextAnalysis.queries("x37_stratified_sample")
    val a = q(spark, sf001).collect()
    val b = q(spark, sf001).collect() // deterministic: identical rerun
    assert(a.map(_.toString).sorted.sameElements(b.map(_.toString).sorted))
    val perLang = a.groupBy(_.getString(1)).view.mapValues(_.length)
    val langSizes = graft.queries.Tables.t(spark, sf001, "documents")
      .groupBy("lang").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    perLang.foreach { case (lang, n) =>
      assert(n.toLong == math.min(20L, langSizes(lang)))
    }
  }

  test("r51 regression stats are identical under repartitioning") {
    val q = graft.queries.Relational.queries("r51_regression")
    val base = q(spark, sf001).collect().map(_.toString).sorted
    // same query over a deliberately re-partitioned input: decimal
    // sufficient statistics must make the doubles bit-identical
    val skewed = graft.queries.Tables.t(spark, sf001, "lineitem")
      .repartition(7, col("l_orderkey"))
    skewed.createOrReplaceTempView("__r51_test")
    val df2 = skewed
      .selectExpr("l_returnflag", "cast(l_quantity as double) as x",
        "cast(l_extendedprice as double) as y")
      .groupBy("l_returnflag")
      .agg(count(lit(1)).cast("double").as("n"),
        sum(expr("cast(x as decimal(20,6))")).cast("double").as("sx"),
        sum(expr("cast(y as decimal(24,6))")).cast("double").as("sy"),
        sum(expr("cast(x * y as decimal(30,8))")).cast("double").as("sxy"),
        sum(expr("cast(x * x as decimal(24,8))")).cast("double").as("sxx"),
        sum(expr("cast(y * y as decimal(34,8))")).cast("double").as("syy"))
      .selectExpr("l_returnflag", "cast(n as bigint) as n",
        "cast(cast((n * sxy - sx * sy) / (n * sxx - sx * sx) as decimal(16,6)) as double) as slope",
        "cast(cast((sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n as decimal(16,6)) as double) as intercept",
        "cast(cast((n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy)) as decimal(16,6)) as double) as corr_xy")
      .orderBy("l_returnflag")
    assert(df2.collect().map(_.toString).sorted.sameElements(base))
  }
}
