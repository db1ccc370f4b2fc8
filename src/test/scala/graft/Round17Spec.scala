package graft

import java.nio.file.Files

/** Round-10 late additions: the contamination-span coverage operator
  * (x119) — closed-form span algebra on a crafted corpus where every
  * island case (overlap-merge, adjacency-merge, disjoint spans, clean
  * doc, non-train docs) is exercised by construction, plus the
  * bloom-gate bit-identity proof (the Bloom prefilter may only change
  * the plan, never the rows — its false positives die in the exact
  * semi-join). */
class Round17Spec extends SparkSpec {

  private def h64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }
  private def bucket(id: Long): Long = h64(s"split:$id") % 100

  // pick ids by split class so the fixture controls who is train/eval
  private lazy val ids = (1L to 400L).toVector
  private lazy val trainIds = ids.filter(bucket(_) < 80)
  private lazy val evalIds = ids.filter(bucket(_) >= 90)
  private lazy val valIds = ids.filter(i => bucket(i) >= 80 && bucket(i) < 90)

  private def toks(prefix: String, n: Int): String =
    (1 to n).map(i => s"$prefix$i").mkString(" ")
  private val P9 = toks("p", 9) // eval grams p1..p8 AND p2..p9
  private val Q8 = toks("q", 8) // eval gram q1..q8

  /** (doc_id, text) fixture; expected rows derived by hand below. */
  private lazy val fixture: Seq[(Long, String)] = {
    val Seq(t1, t2, t3, t4) = trainIds.take(4)
    val Seq(e1, e2) = evalIds.take(2)
    val v1 = valIds.head
    Seq(
      // T1: single interior match at i=3 → covered 8 of 20
      t1 -> s"f1 f2 ${toks("p", 8)} ${toks("g", 10)}",
      // T2: overlapping matches i=2,3 (p1..p8, p2..p9) merge → 9 of 16
      t2 -> s"z1 $P9 z2 z3 z4 z5 z6 z7",
      // T3: adjacent matches i=1,9 merge to [1,16]; disjoint match at
      //     i=27 stays its own island → covered 24 of 40, 2 spans
      t3 -> s"${toks("p", 8)} $Q8 ${toks("r", 10)} ${toks("p", 8)} ${toks("v", 6)}",
      // T4: clean train doc — must be absent from the output
      t4 -> toks("c", 10),
      // eval docs define the gram set; never appear in the output
      e1 -> P9, e2 -> Q8,
      // val-bucket doc contains P verbatim: neither contributes eval
      // grams nor appears in the output
      v1 -> toks("p", 8))
  }

  private lazy val dir: String = {
    val d = Files.createTempDirectory("graft-x119").toString
    import spark.implicits._
    fixture.toDF("doc_id", "text")
      .selectExpr("doc_id", "text", "'en' as lang", "'t' as source",
        "cast(length(text) as bigint) as n_chars")
      .coalesce(1).write.parquet(s"$d/documents.parquet")
    d
  }

  test("x119: island algebra — overlap merge, adjacency merge, disjoint spans") {
    val Seq(t1, t2, t3, _) = trainIds.take(4)
    val rows = SparkEntry.queries("x119_contamination_span")(spark, dir)
      .collect()
      .map(r => (r.getLong(0), (r.getLong(1), r.getLong(2), r.getLong(3),
        r.getDouble(4), r.getBoolean(5))))
      .toMap
    val t2len = fixture.toMap.apply(t2).split("\\s+").length
    assert(rows.keySet == Set(t1, t2, t3),
      "exactly the contaminated TRAIN docs — no clean/val/eval rows")
    assert(rows(t1) == ((20L, 8L, 1L, 0.4, true)))
    assert(t2len == 16)
    assert(rows(t2) == ((16L, 9L, 1L, 0.5625, true)),
      "p1..p8 and p2..p9 hits must merge into ONE 9-token island")
    assert(rows(t3) == ((40L, 24L, 2L, 0.6, true)),
      "adjacent P+Q runs merge; the far P repeat is a second island")
  }

  test("x119: broadcast and bloom-gated paths are bit-identical") {
    val broadcastPath = graft.llm.Dedup.contaminationSpan(spark, dir)
      .collect().toSeq
    // broadcastKeys = 0 forces the large-eval fallback: bloom gate +
    // shuffle semi-join
    val bloomPath = graft.llm.Dedup.contaminationSpan(spark, dir,
      broadcastKeys = 0L).collect().toSeq
    assert(bloomPath == broadcastPath)
    assert(broadcastPath.nonEmpty)
  }

  test("x29: above the broadcast bound the pair members take a plain join, same rows") {
    val broadcastPath = graft.llm.Dedup.editDistance(spark, sf001).collect().toSeq
    val plain = graft.llm.Dedup.editDistance(spark, sf001, broadcastKeys = 0L)
      .collect().toSeq
    assert(plain == broadcastPath)
    assert(plain.nonEmpty)
  }

  test("x119/x109 gate sizing: ~16 bits/key, power of two, floored at 2^17, capped at 2^27") {
    import graft.llm.Dedup.gateBits
    assert(gateBits(0L) == (1 << 17))
    assert(gateBits(8000L) == (1 << 17), "small eval sets keep the x61 floor")
    // sf0.1-shaped eval population: 450k grams need >= 7.2M bits — the
    // fixed 2^17 would be fully saturated (every probe passes)
    assert(gateBits(450000L) == (1 << 23))
    assert(gateBits(450000L) >= 16 * 450000)
    assert(gateBits(Long.MaxValue / 32) == (1 << 27), "broadcast cap")
    assert(Integer.bitCount(gateBits(123456L)) == 1, "power of two (m % 64 == 0)")
  }

  test("x119/x109 broadcast-key limit: unset ⇒ 2^21; bad values name the variable") {
    import graft.llm.Dedup.gateBroadcastKeys
    assert(gateBroadcastKeys(None) == (1L << 21))
    assert(gateBroadcastKeys(Some("4096")) == 4096L)
    assert(gateBroadcastKeys(Some(" 8000000000 ")) == 8000000000L)
    for (bad <- Seq("", "lots", "2e6", "1.5", "0", "-1", "99999999999999999999")) {
      val e = intercept[IllegalArgumentException](gateBroadcastKeys(Some(bad)))
      assert(e.getMessage.contains("GRAFT_GATE_BROADCAST_KEYS"), bad)
      assert(e.getMessage.contains(s"'$bad'"), bad)
    }
  }

  test("x119: fallback bloom gate plan probes map-side (broadcast, no corpus gram shuffle before the gate)") {
    val plan = graft.llm.Dedup.contaminationSpan(spark, dir,
        broadcastKeys = 0L)
      .queryExecution.executedPlan.toString
    assert(plan.contains("bloom_might_contain"), "codegen probe present")
    assert(plan.contains("BroadcastExchange") ||
      plan.contains("BroadcastNestedLoopJoin"),
      "the one-row bloom bitset must broadcast")
  }

  test("x119: default path broadcasts the exact semi-join — no bloom, no gram shuffle") {
    val plan = graft.llm.Dedup.contaminationSpan(spark, dir)
      .queryExecution.executedPlan.toString
    assert(!plan.contains("bloom_might_contain"),
      "broadcast exact join supersedes the bloom gate when the eval set fits")
    assert(plan.contains("BroadcastHashJoin LeftSemi") ||
      plan.contains("BroadcastHashJoin") && plan.contains("LeftSemi"),
      "the eval-gram set must broadcast into the semi-join")
  }

  // ── x120 NN-Descent ──

  private def recallOf(rows: Array[org.apache.spark.sql.Row]): Double =
    rows.count(_.getBoolean(4)).toDouble / rows.length

  test("x120: graph shape — every probe has exactly K ranked distinct neighbors") {
    val rows = SparkEntry.queries("x120_nndescent_graph")(spark, sf001).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet == (0L until 8L).toSet)
    byProbe.values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to 10L), "ranks 1..K")
      assert(g.map(_.getLong(2)).distinct.length == 10, "distinct neighbors")
      assert(g.forall(r => r.getLong(2) != r.getLong(0)), "no self edges")
      // ranked by cos desc with id tiebreak
      val ord = g.sortBy(_.getLong(1)).map(r => (-r.getDouble(3), r.getLong(2)))
      assert(ord.sameElements(ord.sorted), "list ordered by (cos desc, id)")
    }
  }

  test("x120: the descent descends — local-join rounds never lose recall, and gain it here") {
    val r0 = recallOf(graft.index.GraphIndex
      .nndescentGraph(spark, sf001, iters = 0).collect())
    val r2 = recallOf(graft.index.GraphIndex
      .nndescentGraph(spark, sf001, iters = 2).collect())
    assert(r2 >= r0, s"recall fell: init $r0 -> 2 rounds $r2")
    assert(r2 > r0, s"2 local-join rounds must improve on random init ($r0)")
  }

  test("x120: top-K folds ride the native bounded-heap operator") {
    val plan = graft.index.GraphIndex.nndescentGraph(spark, sf001, iters = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      "per-node K-list selection must be the two-phase native top-k")
  }

  // ── x121 graph beam search ──

  test("x121: result shape — every probe has exactly K ranked distinct neighbors") {
    val rows = SparkEntry.queries("x121_graph_beam_search")(spark, sf001).collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet == (0L until 8L).toSet)
    byProbe.values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to 10L), "ranks 1..K")
      assert(g.map(_.getLong(2)).distinct.length == 10, "distinct neighbors")
      assert(g.forall(r => r.getLong(2) != r.getLong(0)), "no self answers")
      val ord = g.sortBy(_.getLong(1)).map(r => (-r.getDouble(3), r.getLong(2)))
      assert(ord.sameElements(ord.sorted), "list ordered by (cos desc, id)")
    }
  }

  test("x121: the walk walks — hops never lose recall, and gain it here") {
    // hops = 0 grades the raw hash-seeded entry points (E random-ish
    // nodes per probe); each hop can only ADD scored candidates to the
    // visited set, so top-K recall is monotone by construction — assert
    // the implementation preserves that, and that 2 hops actually beat
    // the entry points on this corpus (the graph is navigable).
    val r0 = recallOf(graft.index.GraphIndex
      .graphBeamSearch(spark, sf001, hops = 0).collect())
    val r2 = recallOf(graft.index.GraphIndex
      .graphBeamSearch(spark, sf001, hops = 2).collect())
    assert(r2 >= r0, s"recall fell: entries $r0 -> 2 hops $r2")
    assert(r2 > r0, s"2 hops must improve on raw entry points ($r0)")
  }

  test("x121: frontier and answer folds ride the native bounded-heap operator") {
    val plan = graft.index.GraphIndex.graphBeamSearch(spark, sf001, hops = 1)
      .queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      "per-probe beam/answer selection must be the two-phase native top-k")
  }

  // ── x122 graph connectivity / x123 hubness audits ──

  test("x122: components partition the graph's nodes, labels are min-ids, convergence certified") {
    val rows = SparkEntry.queries("x122_graph_components")(spark, sf001).collect()
    val n = spark.read.parquet(s"$sf001/embeddings.parquet").count()
    // every node has K out-edges, so every node appears in ud and gets a label
    assert(rows.map(_.getLong(1)).sum == n, "components partition all nodes")
    val comps = rows.map(_.getLong(0))
    assert(comps.distinct.length == comps.length, "component ids unique")
    // the certificate: 0 unconverged means the 8 rounds reached the fixpoint,
    // so these ARE the exact connected components (and the same constant
    // rides on every row)
    assert(rows.map(_.getLong(2)).distinct.sameElements(Array(0L)),
      "min-label propagation must converge on the sf0.001 graph")
    // min-label semantics: a component's label is a member, hence >= 0 and
    // smaller than any other member — so the largest component's label is
    // the global min over its nodes; weak sanity: labels within id range
    assert(comps.forall(c => c >= 0 && c < n))
  }

  test("x122: more rounds can only merge components, never split them") {
    val c1 = graft.index.GraphIndex.graphComponents(spark, sf001, rounds = 1)
      .collect().length
    val c8 = graft.index.GraphIndex.graphComponents(spark, sf001, rounds = 8)
      .collect().length
    assert(c8 <= c1, s"component count rose with rounds: $c1 -> $c8")
  }

  test("x124: insertion produces K ranked edges per batch vector; found originals are exact hits") {
    val rows = SparkEntry.queries("x124_graph_insert")(spark, sf001).collect()
    val n = spark.read.parquet(s"$sf001/embeddings.parquet").count()
    val expectedBatch = (0L until n).filter(_ % 97 == 0).map(_ + 1000000000L)
    val byNew = rows.groupBy(_.getLong(0))
    assert(byNew.keySet == expectedBatch.toSet, "one edge list per batch vector")
    byNew.values.foreach { g =>
      assert(g.map(_.getLong(1)).sorted.sameElements(1L to 10L), "ranks 1..K")
      assert(g.map(_.getLong(2)).distinct.length == 10, "distinct neighbors")
    }
    // a re-crawl's original has cos exactly 1 (identical embedding):
    // whenever the walk rediscovers it, the score must say so
    rows.filter(_.getBoolean(4)).foreach { r =>
      assert(r.getDouble(3) == 1.0, s"original hit must score 1.0: $r")
    }
  }

  test("x124: hops never lose found-originals — insertion navigability is monotone") {
    def found(h: Int): Int = graft.index.GraphIndex
      .graphInsert(spark, sf001, hops = h).collect()
      .count(_.getBoolean(4))
    val f0 = found(0); val f2 = found(2)
    assert(f2 >= f0, s"found-original count fell: hops0 $f0 -> hops2 $f2")
  }

  test("x123: in-degree histogram masses match the graph exactly") {
    val rows = SparkEntry.queries("x123_graph_hubness")(spark, sf001).collect()
    val n = spark.read.parquet(s"$sf001/embeddings.parquet").count()
    val edges = graft.index.GraphIndex.nndescentEdges(spark, sf001, iters = 2)
      .count()
    assert(rows.map(_.getLong(1)).sum == n, "histogram covers every node")
    assert(rows.map(r => r.getLong(0) * r.getLong(1)).sum == edges,
      "sum of in-degrees equals the edge count")
    val degs = rows.map(_.getLong(0))
    assert(degs.sameElements(degs.sorted), "ordered by in_degree")
  }

  test("x126: the operating curve is one row per depth, monotone, self-consistent") {
    val rows = SparkEntry.queries("x126_beam_curve")(spark, sf001).collect()
    assert(rows.map(_.getLong(0)).sameElements(Array(0L, 1L, 2L)))
    val rec = rows.map(_.getDouble(3))
    assert(rec.sameElements(rec.sorted), s"recall fell with depth: ${rec.toList}")
    rows.foreach { r =>
      val expect = math.floor(
        r.getLong(2).toDouble / r.getLong(1) * 1e6 + 0.5) / 1e6
      assert(math.abs(r.getDouble(3) - expect) < 1e-9,
        s"recall column inconsistent with counts: $r")
    }
  }

  // ── x125 uncertainty-sampled labeling batch ──

  test("x125: the batch IS the global uncertainty top-K, selected on the native heap") {
    val df = SparkEntry.queries("x125_uncertainty_batch")(spark, sf001)
    val rows = df.collect()
    assert(rows.map(_.getLong(0)).sameElements(1L to 20L), "ranks 1..20")
    val margins = rows.map(_.getDouble(3))
    assert(margins.sameElements(margins.sorted),
      "margin must be non-decreasing with rank")
    // true top-K: no unselected doc may be strictly more uncertain
    // than the batch's least certain member (raw scores, first
    // principles off the same probe tier)
    val all = graft.llm.TextAnalysis.probeScores(spark, sf001)
      .selectExpr("doc_id", "abs(p - cast(0.5 as double)) as m").collect()
      .map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val picked = rows.map(_.getLong(1)).toSet
    val worstPicked = picked.map(all).max
    val bestLeft = (all.keySet -- picked).map(all).min
    assert(worstPicked <= bestLeft + 1e-12,
      s"unselected doc more uncertain than batch: $worstPicked > $bestLeft")
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("PartialTopK") && plan.contains("FinalTopK"),
      "global selection must ride the two-phase native top-k")
  }

  // ── Views.referenceJoin: evidence-driven broadcast ──

  test("referenceJoin broadcasts on the caller's budget, falls back unhinted past it") {
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id", "doc_id % 5 as src_ref")
    // a dimension whose PLAN-TIME estimate (768 unioned scans ≈ 21 MB)
    // exceeds Spark's own 10 MB auto-broadcast default — the regime
    // where the helper's explicit budget is the only broadcast signal
    val dim1 = spark.read.parquet(s"$sf001/documents.parquet")
      .filter("doc_id < 5").selectExpr("doc_id as ref_id", "source")
    val dimBig = (1 to 768).map(_ => dim1).reduce(_ unionByName _)
    val est = dimBig.queryExecution.optimizedPlan.stats.sizeInBytes
    assert(est > BigInt(10L << 20),
      s"fixture must exceed the auto-broadcast default, est=$est")
    val hinted = graft.views.Views
      .referenceJoin(docs, dimBig, "src_ref", "ref_id",
        maxBroadcastBytes = 64L << 20)
    assert(hinted.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "inside the caller's budget the helper must hint the broadcast " +
        "Spark's default threshold alone would not")
    val tight = graft.views.Views
      .referenceJoin(docs, dimBig, "src_ref", "ref_id",
        maxBroadcastBytes = 1L)
    assert(!tight.queryExecution.executedPlan.toString
      .contains("BroadcastHashJoin"),
      "over budget -> no plan-time broadcast (AQE may still convert " +
        "at runtime on measured bytes; plan-time must not)")
    // the decision changes the plan, never the rows
    assert(hinted.collect().map(_.toSeq).sortBy(_.toString).toSeq ==
      tight.collect().map(_.toSeq).sortBy(_.toString).toSeq)
  }
}
