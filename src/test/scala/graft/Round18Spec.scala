package graft

/** Round-11 additions: graph-index tombstone repair (x127), k-center
  * coreset selection (x128), and the x122 converge-or-certify upgrade
  * (the fixed 8-round budget is gone; the loop adapts to the component
  * diameter and the certificate is 0 by construction at the fixpoint).
  * x127 is checked against a full first-principles recompute of the
  * repair algebra from the collected standing graph; x128 against an
  * in-memory Gonzalez run over the raw embeddings. */
class Round18Spec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  // ── x127 graph tombstone repair ──

  private lazy val edges: Array[(Long, Long, Double)] =
    graft.index.GraphIndex.nndescentEdges(spark, sf001, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
  private def isVictim(id: Long): Boolean = id % 89 == 0

  test("x127: no tombstoned vector survives anywhere in the repaired lists") {
    val rows = SparkEntry.queries("x127_graph_delete")(spark, sf001).collect()
    assert(rows.nonEmpty, "fixture must damage at least one node")
    rows.foreach { r =>
      assert(!isVictim(r.getLong(0)), s"victim as node: $r")
      assert(!isVictim(r.getLong(2)), s"victim as neighbor: $r")
    }
  }

  test("x127: repaired set, ranks, and edge provenance match first principles") {
    val rows = SparkEntry.queries("x127_graph_delete")(spark, sf001).collect()
    val surv = edges.filter(e => !isVictim(e._1) && !isVictim(e._2))
    val survSet = surv.map(e => (e._1, e._2)).toSet
    val survCos = surv.map(e => (e._1, e._2) -> e._3).toMap
    // damaged survivors: lost an out-edge to a victim
    val lost = edges.filter(e => !isVictim(e._1) && isVictim(e._2))
    val damaged = lost.map(_._1).toSet
    assert(rows.map(_.getLong(0)).toSet == damaged,
      "output nodes are exactly the damaged survivors")
    // legal bridge targets per node: out-neighbors of its lost victims,
    // surviving, not self, not already wired
    val vout = edges.filter(e => isVictim(e._1) && !isVictim(e._2))
      .groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    val legalBridge: Map[Long, Set[Long]] = lost.groupBy(_._1).map {
      case (s, ls) =>
        s -> ls.flatMap(l => vout.getOrElse(l._2, Set.empty)).toSet
          .filter(w => w != s && !survSet.contains((s, w)))
    }
    rows.groupBy(_.getLong(0)).foreach { case (node, g) =>
      val byRk = g.sortBy(_.getLong(1))
      assert(byRk.map(_.getLong(1)).sameElements(1L to g.length),
        s"ranks not contiguous for $node")
      assert(g.map(_.getLong(2)).distinct.length == g.length,
        s"duplicate neighbors for $node")
      // descending cos, dst tiebreak — the caller-supplied total order
      val key = byRk.map(r => (-r.getDouble(3), r.getLong(2)))
      assert(key.sameElements(key.sorted), s"order violated for $node")
      g.foreach { r =>
        val dst = r.getLong(2)
        if (r.getBoolean(4))
          assert(legalBridge(node).contains(dst),
            s"illegal bridge $node -> $dst")
        else {
          assert(survSet.contains((node, dst)),
            s"non-bridge row is not a surviving edge: $r")
          assert(r.getDouble(3) == survCos((node, dst)),
            s"surviving edge must keep its standing cos: $r")
        }
      }
      // top-K completeness on the checkable side: any surviving edge
      // of a damaged node that did NOT make the list must be beaten
      // (or tied-and-out-ordered) by the selected minimum
      val selMin = byRk.last.getDouble(3)
      surv.filter(_._1 == node)
        .filterNot(e => g.exists(_.getLong(2) == e._2))
        .foreach { e =>
          assert(e._3 <= selMin,
            s"surviving edge $e beats selected min $selMin but was dropped")
        }
    }
    // at least one bridge must fire on this corpus (non-vacuous repair)
    assert(rows.exists(_.getBoolean(4)), "no bridge was ever wired")
    assert(rows.exists(r => !r.getBoolean(4)), "no surviving edge kept")
  }

  test("x127: per-cycle work is victim-bounded — bridge candidates never exceed |lost|*K") {
    val lost = edges.count(e => !isVictim(e._1) && isVictim(e._2))
    val k = 10
    val bridges = SparkEntry.queries("x127_graph_delete")(spark, sf001)
      .collect().count(_.getBoolean(4))
    assert(bridges <= lost * k,
      s"bridge rows $bridges exceed the |lost|*K bound ${lost * k}")
  }

  // ── x128 k-center coreset ──

  private lazy val vecs: Map[Long, Array[Float]] =
    spark.read.parquet(s"$sf001/embeddings.parquet").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap

  private def dist(a: Array[Float], b: Array[Float]): Double = {
    var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
    while (i < a.length) {
      dot += a(i).toDouble * b(i).toDouble
      sa += a(i).toDouble * a(i).toDouble
      sb += b(i).toDouble * b(i).toDouble
      i += 1
    }
    1.0 - round6(dot / math.sqrt(sa * sb))
  }

  test("x128: the greedy picks and radii match an in-memory Gonzalez run exactly") {
    val rows = SparkEntry.queries("x128_kcenter_coreset")(spark, sf001)
      .collect().sortBy(_.getLong(0))
    assert(rows.length == 4, "k = 4 rows")
    val ids = vecs.keys.toArray.sorted
    var center = 0L
    var mind = Map.empty[Long, Double].withDefaultValue(Double.MaxValue)
    (0 until 4).foreach { i =>
      mind = ids.map(id =>
        id -> math.min(mind(id), dist(vecs(id), vecs(center)))).toMap
      val far = ids.map(id => (id, mind(id))).maxBy(t => (t._2, -t._1))
      val r = rows(i)
      assert(r.getLong(0) == i, s"iter $i")
      assert(r.getLong(1) == center,
        s"center mismatch at iter $i: got ${r.getLong(1)}, expected $center")
      assert(r.getDouble(2) == round6(far._2),
        s"radius mismatch at iter $i: got ${r.getDouble(2)}, expected ${far._2}")
      center = far._1
    }
  }

  test("x128: radii are monotone non-increasing and centers distinct") {
    val rows = SparkEntry.queries("x128_kcenter_coreset")(spark, sf001)
      .collect().sortBy(_.getLong(0))
    val radii = rows.map(_.getDouble(2))
    assert(radii.zip(radii.tail).forall { case (a, b) => b <= a },
      s"coverage radius rose: ${radii.mkString(", ")}")
    val centers = rows.map(_.getLong(1))
    assert(centers.distinct.length == centers.length, "centers repeat")
  }

  // ── x129 hierarchical beam search ──

  private def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
    rows.count(_.getBoolean(4)).toDouble / rows.length

  test("x129: answer shape matches x121's (directly comparable grading)") {
    val rows = SparkEntry.queries("x129_hier_beam_search")(spark, sf001).collect()
    assert(rows.map(_.getLong(0)).distinct.sorted.sameElements(0L until 8L),
      "one ranked list per probe")
    rows.groupBy(_.getLong(0)).values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to 10L), "ranks 1..K")
      assert(g.map(_.getLong(2)).distinct.length == 10, "distinct neighbors")
    }
  }

  test("x129: coarse-guided entries beat random entries before any layer-0 hop") {
    // the hierarchical claim isolated: with ZERO layer-0 hops, the
    // layer-0 candidates are exactly the entry points — coarse-walk
    // guidance must beat x121's hash-random seeds on a clustered corpus
    val guided = recallOf(graft.index.GraphIndex
      .hierBeamSearch(spark, sf001, hops1 = 2, hops0 = 0).collect())
    val random = recallOf(graft.index.GraphIndex
      .graphBeamSearch(spark, sf001, hops = 0).collect())
    assert(guided > random,
      s"coarse guidance must beat random entries: guided $guided vs random $random")
  }

  test("x129: layer-0 hops only add visited candidates — recall monotone in hops0") {
    val r0 = recallOf(graft.index.GraphIndex
      .hierBeamSearch(spark, sf001, hops1 = 2, hops0 = 0).collect())
    val r2 = recallOf(graft.index.GraphIndex
      .hierBeamSearch(spark, sf001, hops1 = 2, hops0 = 2).collect())
    assert(r2 >= r0, s"recall fell with layer-0 hops: $r0 -> $r2")
  }

  test("x129: at the full hop budget, hierarchical recall is at least x121's") {
    val hier = recallOf(SparkEntry
      .queries("x129_hier_beam_search")(spark, sf001).collect())
    val flat = recallOf(SparkEntry
      .queries("x121_graph_beam_search")(spark, sf001).collect())
    assert(hier >= flat,
      s"hierarchical entries must not lose to random ones: $hier vs $flat")
  }

  // ── x133 margin-based bitext mining ──

  test("x133: sides, ordering, and the ratio-margin algebra match first principles") {
    val rows = SparkEntry.queries("x133_bitext_margin")(spark, sf001).collect()
    assert(rows.map(_.getLong(0)).sorted.sameElements(1L to 20L), "rk 1..20")
    val labels = spark.read.parquet(s"$sf001/embeddings.parquet")
      .selectExpr("vec_id", "label").collect()
      .map(r => r.getLong(0) -> r.getAs[Number](1).longValue).toMap
    // the standing graph's per-node mean out-edge score (exact decimal)
    val deg = edges.groupBy(_._1).map { case (v, es) =>
      v -> (es.map(e => BigDecimal(e._3)).sum / es.length).toDouble
    }
    def cosOf(av: Long, bv: Long): Double = {
      val (a, b) = (vecs(av), vecs(bv))
      var dot = 0.0; var sa = 0.0; var sb = 0.0; var i = 0
      while (i < a.length) {
        dot += a(i).toDouble * b(i).toDouble
        sa += a(i).toDouble * a(i).toDouble
        sb += b(i).toDouble * b(i).toDouble
        i += 1
      }
      round6(dot / math.sqrt(sa * sb))
    }
    val margins = rows.sortBy(_.getLong(0)).map { r =>
      val (a, b) = (r.getLong(1), r.getLong(2))
      assert(labels(a) % 2 == 0, s"vec_a $a not on the even-label side")
      assert(labels(b) % 2 == 1, s"vec_b $b not on the odd-label side")
      val cos = cosOf(a, b)
      assert(r.getDouble(3) == cos, s"cos drifted for ($a,$b)")
      val m = cos / ((deg(a) + deg(b)) / 2)
      assert(r.getDouble(4) == round6(m),
        s"margin drifted for ($a,$b): got ${r.getDouble(4)}, expected $m")
      assert(r.getBoolean(5) == (m >= 1.0), "accepted flag inconsistent")
      m
    }
    assert(margins.zip(margins.tail).forall { case (x, y) => y <= x },
      "margins must be non-increasing in rank")
    // the margin must actually discriminate: a hub-inflated raw cosine
    // ordering and the margin ordering differ on this corpus
    val byCos = rows.sortBy(-_.getDouble(3)).map(_.getLong(0))
    assert(!byCos.sameElements(1L to 20L),
      "margin ordering degenerated to the raw cosine ordering")
  }

  // ── x132 beam-width curve ──

  test("x132: one row per width, counts self-consistent, width buys recall on this corpus") {
    val rows = SparkEntry.queries("x132_beam_width_curve")(spark, sf001)
      .collect().sortBy(_.getLong(0))
    assert(rows.map(_.getLong(0)).sameElements(Array(1L, 5L, 10L)))
    rows.foreach { r =>
      assert(r.getLong(1) == 80L, "8 probes x K answers")
      val rec = r.getLong(2).toDouble / r.getLong(1)
      assert(math.abs(round6(rec) - r.getDouble(3)) == 0.0,
        s"recall inconsistent with counts: $r")
    }
    // not structural across corpora (a wider frontier explores
    // differently), but deterministic on this fixed corpus: the
    // B=1 greedy descent must lose to a real beam
    val rec = rows.map(_.getDouble(3))
    assert(rec(1) > rec(0),
      s"B=5 must beat greedy B=1 here: ${rec.mkString(", ")}")
    assert(rec(2) >= rec(1),
      s"B=10 fell below B=5: ${rec.mkString(", ")}")
  }

  // ── x131 graph-index lifecycle ──

  test("x131: the per-segment audit reconciles exactly with the composed operators") {
    val rows = SparkEntry.queries("x131_graph_lifecycle")(spark, sf001)
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getDouble(3))).toMap
    assert(rows.keySet == Set("kept", "repaired", "inserted"))
    def agg(xs: Array[(Long, Double)]): (Long, Long, Double) = {
      val mean = xs.map(x => BigDecimal(x._2)).sum / xs.length
      (xs.map(_._1).distinct.length.toLong, xs.length.toLong,
        mean.setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble)
    }
    // kept: surviving edges of undamaged survivors, from the collected graph
    val surv = edges.filter(e => !isVictim(e._1) && !isVictim(e._2))
    val damaged = edges.filter(e => !isVictim(e._1) && isVictim(e._2))
      .map(_._1).toSet
    val kept = surv.filterNot(e => damaged(e._1)).map(e => (e._1, e._3))
    assert(rows("kept") == agg(kept), "kept segment drifted")
    // repaired: exactly x127's rows
    val rep = SparkEntry.queries("x127_graph_delete")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getDouble(3)))
    assert(rows("repaired") == agg(rep), "repaired segment drifted")
    // inserted: x124's rows, less victim targets
    val ins = SparkEntry.queries("x124_graph_insert")(spark, sf001)
      .collect().filterNot(r => isVictim(r.getLong(2)))
      .map(r => (r.getLong(0), r.getDouble(3)))
    assert(rows("inserted") == agg(ins), "inserted segment drifted")
  }

  // ── x130 perplexity buckets ──

  test("x130: arithmetic NTILE equals the window form, buckets are ordered CCNet thirds") {
    val rows = SparkEntry.queries("x130_ppl_buckets")(spark, sf001).collect()
    // ground truth: per-doc JM scores via the registered x65 query,
    // bucketed in memory with textbook NTILE semantics
    val jm = SparkEntry.queries("x65_interpolated_lm")(spark, sf001).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val lang = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id", "lang").collect()
      .map(r => r.getLong(0) -> r.getString(1)).toMap
    val expect = jm.groupBy(t => lang(t._1)).toSeq.flatMap { case (lg, ds) =>
      val sorted = ds.sortBy(t => (t._3, t._1))
      val n = sorted.length; val q = n / 3; val r = n % 3
      sorted.zipWithIndex.map { case (d, i) =>
        val rank = i + 1
        val b = if (rank <= r.toLong * (q + 1)) (rank - 1) / (q + 1) + 1
                else r + (rank - r * (q + 1) - 1) / math.max(q, 1) + 1
        (lg, b.toLong) -> d
      }.toSeq
    }.groupBy(_._1).view.mapValues(_.map(_._2)).toMap
    rows.foreach { r =>
      val key = (r.getString(0), r.getLong(1))
      val ds = expect(key)
      assert(r.getLong(2) == ds.length, s"n_docs mismatch at $key")
      assert(r.getLong(3) == ds.map(_._2).sum, s"bigram mass mismatch at $key")
      assert(r.getDouble(4) == ds.map(_._3).min, s"min_nll mismatch at $key")
      assert(r.getDouble(5) == ds.map(_._3).max, s"max_nll mismatch at $key")
    }
    assert(rows.map(r => (r.getString(0), r.getLong(1))).toSet == expect.keySet)
    // the CCNet property: within a language, bucket boundaries are
    // ordered — head's worst score never exceeds tail's best
    rows.groupBy(_.getString(0)).values.foreach { g =>
      val byB = g.sortBy(_.getLong(1))
      byB.zip(byB.tail).foreach { case (a, b) =>
        assert(a.getDouble(5) <= b.getDouble(4),
          s"bucket overlap in ${a.getString(0)}: ${a.getDouble(5)} > ${b.getDouble(4)}")
      }
    }
  }

  test("x130 plan: every window is partition-local (__pid) — no per-language or global window") {
    // the scale claim, plan-guarded: a per-language window would funnel
    // a 90%-one-language corpus through one WindowExec task; the only
    // windows allowed are ExactRank's __pid-partitioned local ranks
    val plan = SparkEntry.queries("x130_ppl_buckets")(spark, sf001)
      .queryExecution.executedPlan.toString
    val wins = plan.linesIterator.filter(_.contains("Window [")).toList
    assert(wins.nonEmpty, "expected ExactRank's partition-local window")
    wins.foreach(w => assert(w.contains("__pid"),
      s"non-__pid window found (a per-language/global window at scale):\n$w"))
  }

  // ── x122 converge-or-certify ──

  test("x122: the adaptive loop reaches the fixpoint — certificate is 0 and labels are exact components") {
    val rows = SparkEntry.queries("x122_graph_components")(spark, sf001).collect()
    assert(rows.forall(_.getLong(2) == 0L),
      "adaptive loop must certify convergence (0 unconverged)")
    // exact components from the collected graph (in-memory union-find)
    val parent = scala.collection.mutable.Map[Long, Long]()
    def find(x: Long): Long = {
      val p = parent.getOrElseUpdate(x, x)
      if (p == x) x else { val r = find(p); parent(x) = r; r }
    }
    edges.foreach { e =>
      val (a, b) = (find(e._1), find(e._2))
      if (a != b) parent(math.max(a, b)) = math.min(a, b)
    }
    val comp = parent.keys.map(n => find(n) -> n).toSeq
      .groupBy(_._1).view.mapValues(_.size.toLong).toMap
    val got = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(got == comp,
      s"component map mismatch: got ${got.size} comps, expected ${comp.size}")
  }

  // ── round 13: the K=10 standing-degree decision, evidence-locked ──

  /** The standing-degree study: a fresh 2-round graph at degree `k`,
    * its 2K-capped adjacency and the depth-2 walk from 8 hash seeds at
    * beam `b`, graded @GraphK against brute force in the same geometry
    * — built from the index module's pieces, no shared tier touched. */
  private def walkRecall(k: Int, b: Int): Double = {
    import graft.index.GraphIndex._
    import org.apache.spark.sql.functions._
    val sq = graft.index.VectorIndex.withSq(spark, sf001)
    val ud = cappedUd(nndescentEdgesOn(sq, iters = 2, k = k).localCheckpoint(),
      2 * k).localCheckpoint()
    val probes = sq.filter("vec_id < 8")
      .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
    val truth = graft.plans.TopKPerKey.topKDesc(
        sq.selectExpr("vec_id as dst", "embedding as eb", "sq as sb")
          .crossJoin(broadcast(probes))
          .filter(col("dst") =!= col("src"))
          .selectExpr("src", "dst", s"${graft.index.VectorIndex.sCosIn} as cos"),
        Seq("src"), "cos", Seq("dst"), GraphK)
      .select(col("src"), col("dst"), lit(true).as("hit0"))
    val visited = walk(sq, ud, probes, hashEntries(probes, sq, "8", dense = false),
      hops = 2, b = b).last
    graft.plans.TopKPerKey.topKDesc(visited, Seq("src"), "cos", Seq("dst"), GraphK)
      .join(truth, Seq("src", "dst"), "left")
      .agg((sum(when(col("hit0"), 1L).otherwise(0L)).cast("double") /
        count(lit(1)).cast("double")).as("r"))
      .head().getDouble(0)
  }

  test("standing degree K=10 materially outperforms the K=5 predecessor on the identical walk") {
    // a FRESH graph per degree, the standard depth-2 walk graded @GraphK
    // — the apples-to-apples comparison behind the round-13 degree bump
    // (sf0.1 measured: K=5 13.75%@10 vs K=10 26.25%@10 at B=10).
    def at(k: Int): Double = walkRecall(k, b = 10)
    val k5 = at(5); val k10 = at(10)
    assert(k10 > k5,
      s"K=10 standing graph must beat K=5 on the same walk: $k10 vs $k5")
  }
}
