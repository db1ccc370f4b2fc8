package graft

import graft.KernelOracles.sDerive
import graft.llm.Frag.sH
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions.expr

/** minhash16(shs) against its two composable forms: explode + 16
  * codegen'd `min` aggregates (the batch shape) and 16 in-row
  * `array_min(transform(...))` folds (the streaming shape). */
class Minhash16Spec extends SparkSpec {

  private def fused(df: DataFrame): Map[Long, List[Long]] =
    df.selectExpr("doc_id", "minhash16(shs) as ms").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap

  private def exploded(df: DataFrame): Map[Long, List[Long]] = {
    val minima = (0 until 16).map(i =>
      expr(s"min(${sDerive("h", i)})").as(s"m$i"))
    df.selectExpr("doc_id", "explode(shs) as sh")
      .selectExpr("doc_id", s"${sH("sh")} as h")
      .groupBy("doc_id")
      .agg(minima.head, minima.tail: _*)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong).toList).toMap
  }

  private def inRow(df: DataFrame): Map[Long, List[Long]] = {
    val sig = "array(" + (0 until 16).map(i =>
      s"array_min(transform(shs, sh0 -> ${sDerive(sH("sh0"), i)}))")
      .mkString(", ") + ")"
    df.selectExpr("doc_id", s"$sig as ms").collect()
      .map(r => r.getLong(0) -> r.getSeq[Long](1).toList).toMap
  }

  test("minhash16 ≡ explode + 16 min aggregates ≡ in-row array_min folds (sf0.001)") {
    val df = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "shingles3(text) as shs")
      .filter("size(shs) > 0")
    val f = fused(df)
    assert(f.size > 100)
    assert(f == exploded(df))
    assert(f == inRow(df))
  }

  test("minhash16 edge cases: one shingle, repeated shingles") {
    import spark.implicits._
    val df = Seq(
      (1L, Seq("a b c")),
      (2L, Seq("x y z", "x y z", "p q r")),
      (3L, Seq("p q r", "x y z")),
      (4L, Seq.fill(5)("same same same")),
      (5L, Seq("same same same"))).toDF("doc_id", "shs")
    val f = fused(df)
    assert(f == exploded(df))
    assert(f == inRow(df))
    assert(f(2L) == f(3L), "repeats and order must not change the signature")
    assert(f(4L) == f(5L), "a repeated shingle counts once")
    assert(f(1L).size == 16)
  }
}
