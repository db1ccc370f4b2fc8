package graft

import graft.index.GraphIndex._
import org.apache.spark.sql.DataFrame

/** The graph-ANN index module (`graft.index.GraphIndex`): the keyed walk
  * against single walks through the same engine, and the dense slice's
  * narrow rank.
  *
  * A curve walk carries its sweep parameter as a `pk` key, so the pk = p
  * slice of every frame must be the single walk at p: the fused x136/
  * x137/x132 curves are checked leg by leg against per-leg walks (keys
  * `Nil`) graded the same way. x132 is the curve whose beam differs per
  * pk (a rank cut under the widest fold); x136/x137 share one beam. The
  * degree sweeps x134/x135 run per-leg builds (a fused build was raced
  * and lost; see SCALE.md). */
class GraphIndexSpec extends SparkSpec {

  private def sortedRows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  /** One B=10 slice walk from `entries`, dual-graded with keys Nil. */
  private def sliceLeg(ix: SliceIndex, entries: DataFrame, tagCol: String,
      tagExpr: String): DataFrame =
    gradeDual(ix.smap, ix.truth,
      walk(ix.s10c, ix.ud, ix.probes, entries, hops = 2, b = 10,
        excludeSelf = false).last,
      Nil, tagCol, tagExpr)

  test("x137 fused entry curve == per-leg walkFrom reference, all four budgets") {
    val ix = clusteredSliceIndex(spark, sf001)
    val reference = Seq(4, 8, 16, 32).map { e =>
      sliceLeg(ix, hashEntries(ix.probes, ix.s10c, s"$e", dense = true),
        "entries", s"cast($e as bigint)")
    }.reduce(_ unionByName _)
    val fused = graft.llm.Similarity.queries("x137_entry_curve")(spark, sf001)
    assert(sortedRows(fused) == sortedRows(reference))
  }

  test("x136 fused seeding A/B == per-leg reference (hash and ivf legs)") {
    val ix = clusteredSliceIndex(spark, sf001)
    val reference =
      sliceLeg(ix, hashEntries(ix.probes, ix.s10c, "8", dense = true),
        "seeding", "'hash'")
      .unionByName(sliceLeg(ix, ivfEntries(ix.s10, ix.probes),
        "seeding", "'ivf'"))
    val fused = graft.llm.Similarity.queries("x136_ivf_seeded_walk")(
      spark, sf001)
    assert(sortedRows(fused) == sortedRows(reference))
  }

  test("x132: the fused width curve equals three single-width walks through the same engine") {
    // the one curve whose beam differs per pk: the walk folds to the
    // widest beam and cuts each pk at rk <= B(pk). A fold that cut every
    // pk at the widest beam would give B=1 and B=5 the B=10 walk.
    val probes = graft.index.VectorIndex.withSq(spark, sf001).filter("vec_id < 8")
      .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
    val entries = ivfServingEntries(spark, sf001, probes)
    val truth = graft.index.VectorIndex.exactTopk(spark, sf001)
      .filter(s"rk <= $GraphK").collect()
      .map(r => (r.getLong(0), r.getLong(1))).toSet
    val reference = Seq(1, 5, 10).map { b =>
      val visited = standingWalk(spark, sf001, probes, entries, hops = 2,
        b = b).last
      val answers = graft.plans.TopKPerKey.topKDesc(visited, Seq("src"), "cos",
          Seq("dst"), GraphK)
        .collect().map(r => (r.getAs[Long]("src"), r.getAs[Long]("dst")))
      (b.toLong, answers.length.toLong, answers.count(truth).toLong)
    }
    val fused = graft.llm.Similarity.queries("x132_beam_width_curve")(
        spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq
    assert(fused == reference)
    // non-vacuous: the three widths answer differently on this corpus
    assert(reference.map(_._3).distinct.length > 1,
      s"widths must differ for the cut to be tested: $reference")
  }

  test("ExactRank rejects array and map columns by name; the dense slice ranks ids alone") {
    val emb = spark.read.parquet(s"$sf001/embeddings.parquet")
    val wide = intercept[IllegalArgumentException] {
      graft.queries.ExactRank.withGlobalRank(emb,
        Seq(org.apache.spark.sql.functions.col("vec_id")))
    }
    assert(wide.getMessage.contains("columns embedding would"), wide.getMessage)
    val withMap = emb.selectExpr("vec_id", "map('k', vec_id) as m",
      "cast(vec_id as int) as n")
    val cum = intercept[IllegalArgumentException] {
      graft.queries.ExactRank.withGlobalCumsum(withMap,
        Seq(org.apache.spark.sql.functions.col("vec_id")),
        org.apache.spark.sql.functions.col("n"))
    }
    assert(cum.getMessage.contains("columns m would"), cum.getMessage)
    // the slice keeps its payload and numbers the sampled ids 0..n-1 in id order
    val slice = denseSlice(emb.filter("vec_id % 10 = 0")
      .selectExpr("vec_id", "embedding")).collect()
      .map(r => (r.getAs[Long]("vec_id"), r.getAs[Long]("orig_id"))).sorted
    val ids = emb.filter("vec_id % 10 = 0").select("vec_id").collect()
      .map(_.getLong(0)).sorted
    assert(slice.toSeq == ids.indices.map(_.toLong).zip(ids.toSeq))
  }
}
