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
  * and lost; see SCALE.md).
  *
  * Also the standing walk's per-probe candidate bound and x134's
  * degree curve. */
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

  // ── the walk's per-probe bound ──

  test("beamWalk: the per-probe candidate bound is an enforced invariant, not an average") {
    // the 100 TB claim, asserted: visited(probe) ≤ E entries + per hop
    // at most B frontier nodes × the ρ-capped undirected degree (2K).
    // STRUCTURAL since round 11: the walk folds the scored entry visits
    // to the top-B hop-1 frontier, so hop 1 obeys the same B·2K bound
    // as every later hop (previously all E entries expanded and the
    // bound held only through incidental candidate overlap — a latent
    // flake). Without the hash-order cap on reverse edges a hub node's
    // fan-out would be its in-degree — corpus-dependent (x123's tail).
    val E = 8; val B = 5; val cap = 20; val hops = 2
    val probes = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter("vec_id < 8")
      .selectExpr("vec_id as src", "embedding as ea",
        "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, t) -> acc + t) as sa")
    val visited = graft.index.GraphIndex.standingWalk(spark, sf001, probes,
      graft.index.GraphIndex.standingEntries(spark, sf001, probes), hops).last
    val perProbe = visited.groupBy("src").count().collect()
      .map(_.getLong(1))
    val bound = E + hops * B * cap
    assert(perProbe.forall(_ <= bound),
      s"candidate bound violated: max ${perProbe.max} > $bound")
    assert(perProbe.nonEmpty && perProbe.max > E,
      "walk must actually expand beyond its entry points")
  }

  // ── x134 construction-degree operating curve ──

  private lazy val x134Rows =
    SparkEntry.queries("x134_degree_sweep")(spark, sf001).collect()

  test("x134: one row per degree, ordered, with full answer sets") {
    assert(x134Rows.map(_.getLong(0)).toSeq == Seq(5L, 10L, 20L))
    // 8 probes × k answers — the walk must fill every slot at any
    // degree (entries alone provide ≥ 8 visits, hops add B·2K more)
    assert(x134Rows.forall(_.getAs[Long]("n_answers_5") == 40L))
    assert(x134Rows.forall(_.getAs[Long]("n_answers_10") == 80L))
  }

  test("x134: recall is a valid fraction and hits match the recall algebra") {
    x134Rows.foreach { r =>
      val r5 = r.getAs[Double]("recall_at_5")
      val r10 = r.getAs[Double]("recall_at_10")
      assert(r5 >= 0.0 && r5 <= 1.0 && r10 >= 0.0 && r10 <= 1.0)
      assert(math.abs(r5 - r.getAs[Long]("n_hits_5").toDouble /
        r.getAs[Long]("n_answers_5")) < 1e-6)
      assert(math.abs(r10 - r.getAs[Long]("n_hits_10").toDouble /
        r.getAs[Long]("n_answers_10")) < 1e-6)
    }
  }

  test("x134: the plateau is a DEGREE ceiling — K=20 materially beats K=5") {
    // the curve's reason to exist: x126/x132 sweep walk depth and width
    // against the K=5 standing index and plateau; quadrupling the
    // construction degree must buy recall the walk knobs could not.
    val byDeg = x134Rows.map(r => r.getLong(0) -> r.getAs[Double]("recall_at_10")).toMap
    assert(byDeg(20L) > byDeg(5L),
      s"degree must move the plateau: $byDeg")
  }
}
