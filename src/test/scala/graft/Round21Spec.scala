package graft

/** Round-14 regressions: the IVF-seeded walk (x136) — the seeding
  * lever the clustered-geometry recall study exposed.
  *
  * The load-bearing claims:
  *  - the IVF entry frame respects the hash seeding's exact budget
  *    (≤ 8 entries per probe) and draws only from the probe's routed
  *    top-2 cells' representatives;
  *  - the report isolates the seeding variable: two rows, same grade
  *    denominators, recall well-formed;
  *  - the quantizer side-structures stay broadcast-sized (8 cells ×
  *    ≤ 4 representatives).
  */
class Round21Spec extends SparkSpec {

  private def report = graft.llm.Similarity.queries("x136_ivf_seeded_walk")(
    spark, sf001).collect()

  test("x136: two rows (hash, ivf), well-formed recalls, equal denominators") {
    val rows = report
    assert(rows.map(_.getString(0)).toSeq == Seq("hash", "ivf"))
    rows.foreach { r =>
      val (n5, h5) = (r.getLong(1), r.getLong(2))
      val (n10, h10) = (r.getLong(4), r.getLong(5))
      assert(n5 > 0 && n10 >= n5 && h5 <= n5 && h10 <= n10)
      val r5 = r.getDouble(3); val r10 = r.getDouble(6)
      assert(r5 >= 0.0 && r5 <= 1.0 && r10 >= 0.0 && r10 <= 1.0)
    }
  }

  test("x137: four rows, entries curve well-formed, recall monotone non-decreasing in E") {
    val rows = graft.llm.Similarity.queries("x137_entry_curve")(
      spark, sf001).collect()
    assert(rows.map(_.getLong(0)).toSeq == Seq(4L, 8L, 16L, 32L))
    val r10 = rows.map(_.getDouble(6))
    r10.foreach(r => assert(r >= 0.0 && r <= 1.0))
    // more entries only ADD to hop-0's visited set on the SAME graph;
    // the top-B frontier can shift, but at sf0.001 the curve has
    // always been monotone and a regression here means the entry knob
    // stopped reaching the walk
    assert(r10.head <= r10.last,
      s"E=4 recall ${r10.head} > E=32 recall ${r10.last}")
  }

  test("ann_search --seed ivf: well-formed ranked lists, deterministic") {
    val a = Main.annSearch(spark, sf001, ids = Some("0,3"),
      probesFile = None, hops = 2, k = 5, seed = "ivf")
    val b = Main.annSearch(spark, sf001, ids = Some("0,3"),
      probesFile = None, hops = 2, k = 5, seed = "ivf")
    assert(a == b, "ivf-seeded search is not deterministic")
    assert(a.length == 10, s"2 probes x k=5: $a")
    val byProbe = a.map(_.split(" ")).groupBy(_(0))
    assert(byProbe.keySet == Set("0", "3"))
    byProbe.values.foreach { g =>
      val cs = g.sortBy(_(1).toInt).map(_(3).toDouble)
      assert(cs.sameElements(cs.sorted.reverse), "not ranked desc")
    }
  }

  test("x136 ivf entries: <= 8 per probe (the hash budget), dense id domain") {
    import graft.llm.Frag._
    val s = spark
    val full = graft.queries.Tables.t(s, sf001, "embeddings")
    // rebuild the slice as ivfSeededWalk does (clustered geometry,
    // dense ids, label carried)
    val clustered = full.selectExpr("vec_id", "label",
      s"""transform(sequence(0, ${Dim - 1}), i -> cast(
         |  (case when ${sH("concat('cent:', cast(label as string), ':', cast(i as string))")} % 2 = 0
         |     then cast(-1 as double) else cast(1 as double) end)
         |  + cast(0.6 as double) * ((cast(${sH("concat('cn:', cast(vec_id as string), ':', cast(i as string))")} as double)
         |      / cast(1152921504606846976 as double)) * cast(2 as double) - cast(1 as double))
         |  as float)) as embedding""".stripMargin)
      .selectExpr("vec_id", "label", "embedding",
        s"aggregate(embedding, cast(0 as double), (acc, x) -> acc + cast(x as double) * cast(x as double)) as sq")
    val s10 = graft.index.GraphIndex.denseSlice(clustered.filter("vec_id % 10 = 0"))
    val probes = clustered.filter("vec_id < 8")
      .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
    val ent = graft.index.GraphIndex.ivfEntries(s10, probes)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    assert(ent.nonEmpty, "ivf entries empty")
    val perProbe = ent.groupBy(_._1).view.mapValues(_.length)
    assert(perProbe.values.forall(_ <= 8),
      s"entry budget violated: ${perProbe.toMap}")
    // entries must be a subset of the slice's dense id domain
    val n = s10.count()
    assert(ent.forall { case (_, d) => d >= 0 && d < n })
  }
}
