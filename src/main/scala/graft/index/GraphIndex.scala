package graft.index

import graft.llm.Frag.{sH, sRound6, sSumSq}
import graft.index.VectorIndex.{cellCos, cellOrder, centroids, cvArrays,
  dimMean, exactTopk, ivfTop2, nearestCell, sCosIn, withSq, withSqClustered,
  QuerySet, TopK}
import graft.plans.TopKPerKey.topKDesc
import graft.queries.{Durable, ExactRank, Shared}
import graft.queries.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The graph-ANN index over the `embeddings` corpus: NN-Descent
  * construction, the standing durable tiers, the beam walk, insert,
  * delete/compact and the audits (x120–x138, `ann_search`,
  * `compact_index`).
  *
  * The walk algebra has one definition per piece:
  *  - adjacency: [[cappedUd]] — out ∪ in ([[undirected]]), ρ-capped per
  *    node in hash order;
  *  - entries: [[hashEntries]] — `hash(src, ':entry:', j) % n` seeds;
  *  - slice: [[denseSlice]] and [[sliceTruth]] — a sample under dense
  *    rank ids and its brute-force top-k;
  *  - walk: [[walk]] — the beam walk, keyed by `Nil` (one walk) or
  *    `Seq("pk")` (one traversal for a whole operating curve);
  *  - grades: [[gradeWalk]] (hit-flagged against the exact tier) and
  *    [[gradeDual]] (recall@5 and @10 against a slice truth).
  *
  * Frames: a corpus is (vec_id, embedding, sq); probes are (src, ea,
  * sa); edges are (src, dst, cos); entries and adjacency are (src, dst).
  * Every loop is eagerly localCheckpointed per round: without it each
  * round re-plans a tree that embeds all earlier rounds (measured:
  * 3,960-line plan, 736 exchanges, 54 s/hop at sf0.001 → ~1 s/hop).
  */
object GraphIndex {

  /** Standing-index construction degree. The x134 sweep measured the
    * recall plateau as a K-bound of the graph (recall@10 0.20→0.36→0.61
    * for K = 5→10→20 on the tuning slice), so the standing graph sits
    * at K=10. The oracle's `NndK` is this constant (a compile-time
    * literal, so object-init order cannot bite). */
  final val GraphK = 10

  /** Durable-tier versions of the standing graph and its capped
    * adjacency — the keys the walk resolves and `compact` installs. */
  def standingGraphVersion: String = s"v1-k$GraphK-t2"
  def standingUdVersion: String = s"v1-cap${2 * GraphK}"

  /** Adaptive connected-components round cap — far above any kNN
    * graph's diameter (x122's certificate goes nonzero if it binds). */
  private val CcMaxRounds = 128

  /** The measured split between geometries where IVF routing wins
    * (clustered: mean margin ≈ 0.76, IVF recall@10 1.0 vs hash 0.5 at
    * E=8) and where it loses (isotropic: ≈ 0.07, IVF 0.1625 vs hash
    * 0.2625 at B=10); 0.2 splits them with headroom on both sides. */
  val QuantizerMarginThreshold = 0.2

  /** A probe frame (src, ea, sa) over rows with (vec_id, embedding). */
  def probeRows(df: DataFrame): DataFrame =
    df.selectExpr("vec_id as src", "embedding as ea",
      s"${sSumSq("embedding")} as sa")

  private def corpusProbes(sq: DataFrame): DataFrame =
    sq.filter(QuerySet).selectExpr("vec_id as src", "embedding as ea", "sq as sa")

  // ── construction ──

  /** Exact rounded cosine of (src, dst) pairs, both ends looked up in
    * `corpus`: (src, dst, cos). */
  private def scorePairs(corpus: DataFrame)(pairs: DataFrame): DataFrame =
    VectorIndex.scorePairs(pairs, "src" -> corpus, "dst" -> corpus,
      bcastA = false, Seq("src", "dst"), "cos")

  /** The undirected view of a directed edge list: out ∪ in, deduped. */
  private[graft] def undirected(edges: DataFrame): DataFrame =
    edges.select("src", "dst").unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()

  /** Undirected adjacency ρ-capped at `cap` per node, in the same
    * deterministic hash order the construction rounds use. A raw
    * out ∪ in union bounds out-degree (K) but not in-degree, so a hub
    * (x123's tail) would make a hop's fan-out corpus-dependent; the
    * cap turns "per-hop candidates ≤ |probes|·B·cap" into an enforced
    * invariant, as HNSW bounds its neighbor lists. */
  private[graft] def cappedUd(edges: DataFrame, cap: Int): DataFrame =
    topKDesc(
      undirected(edges).selectExpr("src", "dst",
        s"${sH("concat(src, ':', dst)")} as hk"),
      Seq("src"), "hk", Seq("dst"), cap)
      .select("src", "dst")

  /** NN-Descent (Dong/Moses/Li, WWW 2011) over `corpus` (vec_id DENSE
    * 0..n-1, embedding, sq): a hash-seeded K-list per vector (no RNG:
    * both engines derive the same graph; `hash % n` needs the dense
    * domain), then `iters` local joins — each node's capped 2K
    * neighborhood proposes its C(2K,2) pairs, new pairs are scored once,
    * every endpoint keeps its K best. Per round ≤ N·C(2K,2) candidates,
    * linear in N. Returns (src, dst, cos). */
  private[graft] def nndescentEdgesOn(corpus: DataFrame, iters: Int,
      k: Int = GraphK): DataFrame = {
    val nRow = corpus.agg(count(lit(1)).as("nc"))
    val seeds = corpus.select("vec_id").crossJoin(broadcast(nRow))
      .selectExpr("vec_id",
        s"explode(transform(sequence(1, $k), j -> " +
          s"${sH("concat(vec_id, ':init:', j)")} % nc)) as d0", "nc")
      .selectExpr("vec_id as src",
        "case when d0 = vec_id then (d0 + 1) % nc else d0 end as dst")
      .distinct()
    var edges = topKDesc(scorePairs(corpus)(seeds), Seq("src"), "cos",
      Seq("dst"), k).select("src", "dst", "cos").localCheckpoint()
    for (_ <- 1 to iters) {
      val pairs = cappedUd(edges, 2 * k).groupBy("src")
        .agg(sort_array(collect_list(col("dst"))).as("ns"))
        .selectExpr("posexplode(ns) as (ix, a)", "ns")
        .selectExpr("a as src", "explode(slice(ns, ix + 2, size(ns))) as dst")
        .distinct()
      val scored = scorePairs(corpus)(pairs)
      val cand = scored.unionByName(
        scored.selectExpr("dst as src", "src as dst", "cos"))
      edges = topKDesc(edges.unionByName(cand).distinct(), Seq("src"), "cos",
        Seq("dst"), k).select("src", "dst", "cos").localCheckpoint()
    }
    edges
  }

  /** The corpus's NN-Descent graph after `iters` rounds. The 2-round
    * graph is the standing index (durable tier `nnd_edges`); other
    * round counts are spec-only temporaries. */
  private[graft] def nndescentEdges(
      s: SparkSession, dir: String, iters: Int): DataFrame =
    if (iters == 2)
      Durable.tier(s, dir, "nnd_edges", standingGraphVersion)(
        nndescentEdgesOn(withSq(s, dir), iters))
    else nndescentEdgesOn(withSq(s, dir), iters)

  /** The standing capped adjacency (durable tier `nnd_ud`, built with
    * its graph and resident beside it). The graph is resolved first, so
    * a session that loads `nnd_ud` has loaded `nnd_edges` too. */
  private def standingUd(s: SparkSession, dir: String): DataFrame = {
    val edges = nndescentEdges(s, dir, iters = 2)
    Durable.tier(s, dir, "nnd_ud", standingUdVersion)(cappedUd(edges, 2 * GraphK))
  }

  // ── entries, slices, walk, grades ──

  /** `e` hash entry seeds per probe: `hash(src, ':entry:', j) % |corpus|`
    * for j in 1..e. `dense` says the corpus ids are a dense slice index,
    * a different domain from the probe ids, so a seed equal to `src` is
    * kept; otherwise the probe is a corpus row and a seed that hits it
    * moves to the next id. `e` is a SQL expression: a literal, or a key
    * column of `probes` (x137's `pk`: a key's seeds are a prefix of the
    * largest key's, as the hash never sees the key). Returns (keys…,
    * src, dst). */
  private[graft] def hashEntries(probes: DataFrame, corpus: DataFrame,
      e: String, dense: Boolean, keys: Seq[String] = Nil): DataFrame = {
    val nRow = corpus.agg(count(lit(1)).as("nc"))
    val by = keys :+ "src"
    val seeds = s"explode(transform(sequence(1, $e), j -> " +
      s"${sH("concat(src, ':entry:', j)")} % nc))"
    val byProbe = probes.select(by.map(col): _*).crossJoin(broadcast(nRow))
    (if (dense) byProbe.selectExpr(by :+ s"$seeds as dst": _*)
     else byProbe.selectExpr(by ++ Seq(s"$seeds as d0", "nc"): _*)
       .selectExpr(by :+
         "case when d0 = src then (d0 + 1) % nc else d0 end as dst": _*))
      .distinct()
  }

  /** `rows` (vec_id, payload…) under dense ids: (vec_id = rank − 1,
    * orig_id, payload…). Only vec_id is ranked (ExactRank persists its
    * input); the payload joins back on the original id. */
  private[graft] def denseSlice(rows: DataFrame): DataFrame = {
    val payload = rows.columns.filter(_ != "vec_id").toSeq
    ExactRank.withGlobalRank(rows.select("vec_id"), Seq(col("vec_id")))
      .join(rows, "vec_id")
      .selectExpr(Seq("rank - 1 as vec_id", "vec_id as orig_id") ++ payload: _*)
  }

  /** A slice's own brute-force top-[[TopK]] per probe (src, dst, erk).
    * A probe that is itself in the slice is dropped on the truth side,
    * as [[gradeDual]] drops it on the answer side. */
  private[graft] def sliceTruth(slice: DataFrame, probes: DataFrame): DataFrame =
    topKDesc(
        slice.selectExpr("vec_id as dst", "orig_id", "embedding as eb",
            "sq as sb")
          .crossJoin(broadcast(probes))
          .filter(col("orig_id") =!= col("src"))
          .selectExpr("src", "dst", s"$sCosIn as cos_sim"),
        Seq("src"), "cos_sim", Seq("dst"), TopK)
      .select(col("src"), col("dst"), col("rk").as("erk"))

  /** The greedy beam walk. Scores the entry pairs, folds them to a
    * top-`b` frontier, then `hops` rounds of expand (⋈ `ud`) / drop
    * visited / score / fold. `corpus` supplies the dst payload, `probes`
    * the src side. Element h of the result is the visited (keys…, src,
    * dst, cos) after h hops — the hop-h prefix of a deeper walk is an
    * independent h-hop walk, so one traversal grades every depth.
    *
    * `keys` = `Seq("pk")` carries a sweep parameter through every frame
    * and fold: the pk = p slice of each frame is the walk at that
    * parameter, and one checkpoint chain serves the whole curve (x137's
    * four budgets: one chain instead of four). `beams` maps pk to a beam
    * narrower than `b`, cut by rank after the top-`b` fold.
    *
    * The frontier of hop 1 is the top-B of the scored entries, so every
    * hop fans out ≤ |probes|·B·cap and a probe visits at most
    * E + hops·B·cap nodes. The frontier is consumed once and is
    * probe-bounded, so it is broadcast, not checkpointed. `excludeSelf`
    * is off when src (an original id) and dst (a dense slice index)
    * are different domains. */
  private[graft] def walk(corpus: DataFrame, ud: DataFrame, probes: DataFrame,
      entries: DataFrame, hops: Int, b: Int, keys: Seq[String] = Nil,
      beams: Map[Int, Int] = Map.empty,
      excludeSelf: Boolean = true): Seq[DataFrame] = {
    val by = keys :+ "src"
    def score(pairs: DataFrame): DataFrame = pairs
      .join(probes, "src")
      .join(corpus.selectExpr("vec_id as dst", "embedding as eb",
        "sq as sb"), "dst")
      .selectExpr(by ++ Seq("dst", s"$sCosIn as cos"): _*)
    def fold(scored: DataFrame): DataFrame = {
      val ranked = topKDesc(scored, by, "cos", Seq("dst"), b)
      (if (beams.isEmpty) ranked
       else ranked.filter(col("rk") <= expr(beams.toSeq.sortBy(_._1)
         .map { case (p, w) => s"when ${keys.head} = $p then $w" }
         .mkString("case ", " ", " end"))))
        .select((by :+ "dst").map(col): _*)
    }
    var visited = score(entries).localCheckpoint()
    val trace = scala.collection.mutable.ArrayBuffer(visited)
    var frontier = fold(visited)
    for (_ <- 1 to hops) {
      val expand0 = broadcast(frontier)
        .join(ud.selectExpr("src as dst", "dst as nxt"), "dst")
        .select(keys.map(col) ++ Seq(col("src"), col("nxt").as("dst")): _*)
        .distinct()
      val expand = (if (excludeSelf) expand0.filter(col("src") =!= col("dst"))
                    else expand0)
        .join(visited.select((by :+ "dst").map(col): _*), by :+ "dst",
          "left_anti")
      val scored = score(expand).localCheckpoint()
      visited = visited.unionByName(scored).localCheckpoint()
      trace += visited
      frontier = fold(scored)
    }
    trace.toSeq
  }

  /** A walk over the standing index (corpus payload, `nnd_ud`). */
  private[graft] def standingWalk(s: SparkSession, dir: String,
      probes: DataFrame, entries: DataFrame, hops: Int,
      b: Int = 5): Seq[DataFrame] =
    walk(withSq(s, dir), standingUd(s, dir), probes, entries, hops, b)

  /** Hash seeds over the standing corpus (probes in the corpus domain). */
  private[graft] def standingEntries(s: SparkSession, dir: String,
      probes: DataFrame, e: Int = 8): DataFrame =
    hashEntries(probes, withSq(s, dir), e.toString, dense = false)

  /** The exact tier's top-[[GraphK]] as (src, dst, hit0 = true). */
  private def standingTruth(s: SparkSession, dir: String): DataFrame =
    exactTopk(s, dir).filter(s"rk <= $GraphK")
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        lit(true).as("hit0"))

  /** Top-K per probe of a visited set (or of x120's graph lists),
    * hit-flagged against the exact tier. */
  private def gradeWalk(s: SparkSession, dir: String,
      visited: DataFrame): DataFrame =
    topKDesc(visited, Seq("src"), "cos", Seq("dst"), GraphK)
      .join(standingTruth(s, dir), Seq("src", "dst"), "left")
      .selectExpr("src as query_id", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim",
        "coalesce(hit0, false) as hit")
      .orderBy("query_id", "rk")

  /** The dual recall@5/@10 grade of a slice walk: top-[[TopK]] per
    * (keys…, probe) of the visited set, the probe's own vector dropped
    * on the `smap` (dst, orig_id) map, graded against `truth` (src, dst,
    * erk), one row per key. `tagExpr` becomes the row's `tagCol`. */
  private[graft] def gradeDual(smap: DataFrame, truth: DataFrame,
      visited: DataFrame, keys: Seq[String], tagCol: String,
      tagExpr: String): DataFrame =
    topKDesc(
        visited.join(broadcast(smap), "dst")
          .filter(col("orig_id") =!= col("src"))
          .select((keys ++ Seq("src", "dst", "cos")).map(col): _*),
        keys :+ "src", "cos", Seq("dst"), TopK)
      .join(truth, Seq("src", "dst"), "left")
      .groupBy(keys.map(col): _*)
      .agg(
        sum(when(col("rk") <= 5, 1L).otherwise(0L)).as("n5"),
        sum(when(col("rk") <= 5 && col("erk") <= 5, 1L).otherwise(0L))
          .as("h5"),
        count(lit(1)).as("n10"),
        sum(when(col("erk").isNotNull, 1L).otherwise(0L)).as("h10"))
      .selectExpr(s"$tagExpr as $tagCol",
        "n5 as n_answers_5", "h5 as n_hits_5",
        sRound6("cast(h5 as double) / cast(n5 as double)") +
          " as recall_at_5",
        "n10 as n_answers_10", "h10 as n_hits_10",
        sRound6("cast(h10 as double) / cast(n10 as double)") +
          " as recall_at_10")

  // ── the standing index: build audit, search, curves ──

  /** x120's body: the probe rows' graph lists graded against the exact
    * tier; `iters` explicit so the spec can grade the descent itself
    * (iters = 0 grades the raw hash-seeded init). */
  private[graft] def nndescentGraph(
      s: SparkSession, dir: String, iters: Int): DataFrame =
    gradeWalk(s, dir,
      nndescentEdges(s, dir, iters).filter(QuerySet.replace("vec_id", "src")))

  /** x121's body: the standard B=5/E=8 walk from hash seeds, graded;
    * `hops` explicit so the spec can check recall is monotone in it. */
  private[graft] def graphBeamSearch(
      s: SparkSession, dir: String, hops: Int): DataFrame = {
    val probes = corpusProbes(withSq(s, dir))
    gradeWalk(s, dir,
      standingWalk(s, dir, probes, standingEntries(s, dir, probes), hops).last)
  }

  /** x126's body: recall@K per depth 0..2 off one walk from the
    * IVF-routed serving entries (`ann_search`'s default when the
    * routing tiers are resident). */
  private[graft] def beamCurve(s: SparkSession, dir: String): DataFrame = {
    val probes = corpusProbes(withSq(s, dir))
    standingWalk(s, dir, probes, ivfServingEntries(s, dir, probes), hops = 2)
      .zipWithIndex.map { case (vis, h) =>
        gradeWalk(s, dir, vis)
          .agg(count(lit(1)).as("n_answers"),
            sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
          .selectExpr(s"cast($h as bigint) as hops", "n_answers", "n_hits",
            sRound6("cast(n_hits as double) / cast(n_answers as double)") +
              " as recall_at_k")
      }.reduce(_ unionByName _).orderBy("hops")
  }

  /** x132's body: recall@K per beam width B ∈ {1, 5, 10} at depth 2, one
    * walk keyed by pk = B over one IVF-routed entry frame (entries are
    * width-independent). Each width is a rank cut inside the shared
    * fold. */
  private[graft] def beamWidthCurve(s: SparkSession, dir: String): DataFrame = {
    val sq = withSq(s, dir)
    val probes = corpusProbes(sq)
    val ud = standingUd(s, dir)
    val entries = ivfServingEntries(s, dir, probes).localCheckpoint()
    val widths = Seq(1, 5, 10)
    val entriesM = entries.selectExpr(
      s"explode(array(${widths.mkString(", ")})) as pk", "src", "dst")
    val visitedM = walk(sq, ud, probes, entriesM, hops = 2, b = widths.max,
      keys = Seq("pk"), beams = widths.map(b => b -> b).toMap).last
    topKDesc(visitedM, Seq("pk", "src"), "cos", Seq("dst"), GraphK)
      .join(standingTruth(s, dir), Seq("src", "dst"), "left")
      .groupBy("pk")
      .agg(count(lit(1)).as("n_answers"),
        sum(when(coalesce(col("hit0"), lit(false)), 1L).otherwise(0L))
          .as("n_hits"))
      .selectExpr("cast(pk as bigint) as beam", "n_answers", "n_hits",
        sRound6("cast(n_hits as double) / cast(n_answers as double)") +
          " as recall_at_k")
      .orderBy("beam")
  }

  /** x129's body: two-layer hierarchical search (the HNSW layer idea).
    * The coarse layer is a 1/16 hash sample under dense ids with its own
    * NN-Descent graph (durable `nnd_l1`/`nnd_l1_ud`); a query walks it
    * from hash seeds, and its top-B, mapped back to original ids, seed
    * the layer-0 walk. `hops1` walks the coarse layer, `hops0` the base. */
  private[graft] def hierBeamSearch(s: SparkSession, dir: String,
      hops1: Int, hops0: Int): DataFrame = {
    val B = 5; val E = 8
    val l1 = Shared.shared(s, dir, "l1_sample") {
      denseSlice(withSq(s, dir)
        .filter(s"${sH("concat(vec_id, ':lvl')")} % 16 = 0"))
    }
    val l1c = l1.select("vec_id", "embedding", "sq")
    val l1edges = Durable.tier(s, dir, "nnd_l1", standingGraphVersion)(
      nndescentEdgesOn(l1c, iters = 2))
    val ud1 = Durable.tier(s, dir, "nnd_l1_ud", standingUdVersion)(
      cappedUd(l1edges, 2 * GraphK))
    val probes = corpusProbes(withSq(s, dir))
    val v1 = walk(l1c, ud1, probes, hashEntries(probes, l1c, s"$E", dense = true),
      hops1, B, excludeSelf = false).last
    val ent0 = topKDesc(v1, Seq("src"), "cos", Seq("dst"), B)
      .join(broadcast(l1.selectExpr("vec_id as dst", "orig_id")), "dst")
      .select(col("src"), col("orig_id").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    gradeWalk(s, dir, standingWalk(s, dir, probes, ent0, hops0, B).last)
  }

  /** x134/x135's body: per construction degree K ∈ {5, 10, 20}, a fresh
    * 3-round NN-Descent graph, its 2K-capped adjacency, the hops-2/B=5
    * walk from 8 hash seeds, and the dual grade. Built on a 1/10 tuning
    * slice under dense ids, graded against the slice's own truth (the
    * walk can only answer from the slice). The per-K graphs are
    * one-query temporaries.
    *
    * The slice is not the standing `nnd_edges` (whole corpus, T=2): the
    * K=10 leg builds on the slice at T=3, so it cannot reuse the
    * standing graph.
    *
    * The legs run concurrently (Futures): a leg is a chain of small
    * checkpoint jobs, and overlapping the legs fills the scheduler gaps
    * (21.0 → 8.6 s at sf0.1). A pk-fused build was raced against this
    * and lost (4.9 vs 4.8 s at sf0.1, 31.6 vs 23.3 s at 100×). */
  private[graft] def degreeSweep(s: SparkSession, corpus: DataFrame): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val probes = corpusProbes(corpus)
    val s10 = denseSlice(corpus.filter("vec_id % 10 = 0"))
      .localCheckpoint() // shared by all three legs — force once
    val s10c = s10.select("vec_id", "embedding", "sq")
    val smap = s10.selectExpr("vec_id as dst", "orig_id")
    val truth = sliceTruth(s10, probes).localCheckpoint()
    val entries = hashEntries(probes, s10c, "8", dense = true).localCheckpoint()
    // sc.setJobGroup is thread-local: re-pin it inside each Future, or
    // the legs' jobs escape Bench's per-query group
    val jobGroup = s.sparkContext.getLocalProperty("spark.jobGroup.id")
    val jobDesc = s.sparkContext.getLocalProperty("spark.job.description")
    val legs = Seq(5, 10, 20).map { k => Future {
      if (jobGroup != null)
        s.sparkContext.setJobGroup(jobGroup,
          if (jobDesc == null) jobGroup else jobDesc)
      val ud = cappedUd(nndescentEdgesOn(s10c, iters = 3, k = k), 2 * k)
      val visited = walk(s10c, ud, probes, entries, hops = 2, b = 5,
        excludeSelf = false).last
      gradeDual(smap, truth, visited, Nil, "degree", s"cast($k as bigint)")
    } }
    legs.map(Await.result(_, Duration.Inf))
      .reduce(_ unionByName _).orderBy("degree")
  }

  /** The evaluation index x136/x137 share: the clustered 1/10 slice
    * under dense ids (label carried for the slice quantizer), its
    * (dst, orig_id) map, the full-geometry probes, the slice truth and
    * one standing-knob (K=[[GraphK]], T=2) capped adjacency — each a
    * shared frame, built once per session. */
  private[graft] final case class SliceIndex(s10: DataFrame, s10c: DataFrame,
      smap: DataFrame, probes: DataFrame, truth: DataFrame, ud: DataFrame)

  private[graft] def clusteredSliceIndex(s: SparkSession, dir: String): SliceIndex = {
    val full = withSqClustered(s, dir)
    val probes = Shared.shared(s, dir, "cslice_probes_v1") {
      corpusProbes(full).localCheckpoint()
    }
    val s10 = Shared.shared(s, dir, "cslice_s10_v1") {
      denseSlice(full.join(t(s, dir, "embeddings").select("vec_id", "label"),
          "vec_id").filter("vec_id % 10 = 0"))
        .localCheckpoint()
    }
    val s10c = s10.select("vec_id", "embedding", "sq")
    val truth = Shared.shared(s, dir, "cslice_truth_v1") {
      sliceTruth(s10, probes).localCheckpoint()
    }
    val ud = Shared.shared(s, dir, "cslice_ud_v1") {
      cappedUd(nndescentEdgesOn(s10c, iters = 2), 2 * GraphK).localCheckpoint()
    }
    SliceIndex(s10, s10c, s10.selectExpr("vec_id as dst", "orig_id"), probes,
      truth, ud)
  }

  /** One hops-2 walk keyed by pk over the slice index, dual-graded. */
  private def sliceCurve(ix: SliceIndex, entriesM: DataFrame, b: Int,
      tagCol: String, tagExpr: String): DataFrame =
    gradeDual(ix.smap, ix.truth,
      walk(ix.s10c, ix.ud, ix.probes, entriesM, hops = 2, b = b,
        keys = Seq("pk"), excludeSelf = false).last,
      Seq("pk"), tagCol, tagExpr)

  /** x136's body: the SEEDING lever at a fixed graph. On clustered
    * geometry the graph fragments into label islands and recall is
    * entry-limited; at the same 8-entry budget, IVF-routed seeds (top-2
    * cells × 4 representatives) vs uniform hash seeds, one B=10 walk
    * (pk 0 = hash, 1 = ivf), everything else shared. */
  private[graft] def ivfSeededWalk(s: SparkSession, dir: String): DataFrame = {
    val ix = clusteredSliceIndex(s, dir)
    val entriesM = hashEntries(ix.probes, ix.s10c, "8", dense = true)
      .selectExpr("cast(0 as int) as pk", "src", "dst")
      .unionByName(ivfEntries(ix.s10, ix.probes)
        .selectExpr("cast(1 as int) as pk", "src", "dst"))
    sliceCurve(ix, entriesM, b = 10, "seeding",
        "case when pk = 0 then 'hash' else 'ivf' end")
      .orderBy("seeding")
  }

  /** x137's body: the ENTRY COUNT knob on x136's index — per
    * E ∈ {4, 8, 16, 32} the hash seeds at that budget, one B=10 walk
    * keyed by pk = E. The curve behind `ann_search --entries`: the
    * index is not rebuilt per row. */
  private[graft] def entryCurve(s: SparkSession, dir: String): DataFrame = {
    val ix = clusteredSliceIndex(s, dir)
    val entriesM = hashEntries(
      ix.probes.selectExpr("explode(array(4, 8, 16, 32)) as pk", "src"),
      ix.s10c, "pk", dense = true, keys = Seq("pk"))
    sliceCurve(ix, entriesM, b = 10, "entries", "cast(pk as bigint)")
      .orderBy("entries")
  }

  // ── IVF-routed entries and the quantizer gauge ──

  /** 4 hash-ranked representatives per cell, each probe routed to its
    * top-2 cells by centroid cosine: entries = the routed cells'
    * representatives, ≤ 8 (src, dst) per probe. `cent` = (cl, cv, csq);
    * `asg` = (vec_id, cell); `probes` = (src, ea, sa). */
  private def ivfRoutedEntries(cent: DataFrame, asg: DataFrame,
      probes: DataFrame): DataFrame = {
    val cell4 = topKDesc(
        asg.selectExpr("cell", "vec_id as dst",
          s"${sH("concat(cell, ':', vec_id)")} as hk"),
        Seq("cell"), "hk", Seq("dst"), 4)
      .select("cell", "dst")
    val rout = topKDesc(cellCos(probes, cent, Seq("src"), "cl", "ea", "sa"),
        Seq("src"), "cosc", Seq("cl"), 2)
      .selectExpr("src", "cl as cell")
    rout.join(broadcast(cell4), "cell").select("src", "dst").distinct()
  }

  /** IVF-routed entries over the standing corpus (`ann_search --seed
    * ivf`): the durable `centroids` quantizer and `ivf_top2`'s top-1
    * cell. Probe and corpus ids share a domain, so a probe among its own
    * cell's representatives is filtered out (it would answer itself). */
  private[graft] def ivfServingEntries(s: SparkSession, dir: String,
      probes: DataFrame): DataFrame = {
    val cent = centroids(s, dir).selectExpr("clabel as cl", "cv", "csq")
    val asg = ivfTop2(s, dir).selectExpr("vec_id", "element_at(cl2, 1) as cell")
    ivfRoutedEntries(cent, asg, probes).filter(col("src") =!= col("dst"))
  }

  /** x136's IVF entries over a dense slice `s10` (vec_id, orig_id,
    * label, embedding, sq): the slice's per-label exact-decimal
    * centroids, each slice vector's argmax-cosine cell. No self filter:
    * src is a probe id and dst a dense index. Returns (src, dst). */
  private[graft] def ivfEntries(s10: DataFrame, probes: DataFrame): DataFrame = {
    val cent = cvArrays(dimMean(s10, Seq("label")), "label", "cl").localCheckpoint()
    val asg = nearestCell(
        cellCos(s10.select("vec_id", "embedding", "sq"), cent, Seq("vec_id"), "cl"), "cl")
      .selectExpr("vec_id", "m.cl as cell")
    ivfRoutedEntries(cent, asg, probes)
  }

  /** True iff both durable IVF routing tiers (`centroids`, `ivf_top2`)
    * are installed and fresh under the session's index root — when
    * `ann_search` may default to IVF seeding. */
  private[graft] def ivfTiersFresh(s: SparkSession, dir: String): Boolean =
    Durable.root(s).exists { r =>
      Durable.load(s, r, dir, "centroids", "v1").isDefined &&
        Durable.load(s, r, dir, "ivf_top2", "v1-r4").isDefined
    }

  /** x138's body: per-cell quantizer calibration — assigned count, mean
    * top-1 cosine and mean top1−top2 routing margin, 6-dp-rounded
    * cosines into decimal means. Durable: [[quantizerGauge]] reads it. */
  private[graft] def quantizerMargin(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "quantizer_margin", "v1") {
      cellCos(withSq(s, dir), centroids(s, dir), Seq("vec_id"))
        .groupBy("vec_id")
        .agg(expr(s"sort_array(collect_list(${cellOrder("clabel")}))").as("a"))
        .selectExpr("element_at(a, 1).clabel as cell",
          sRound6("-element_at(a, 1).nc") + " as m1",
          sRound6("(-element_at(a, 1).nc) - (-element_at(a, 2).nc)") + " as marg")
        .groupBy("cell")
        .agg(count(lit(1)).as("n_vecs"),
          (sum(col("m1").cast(DecimalType(24, 12))).cast("double") /
            count(lit(1)).cast("double")).as("a1"),
          (sum(col("marg").cast(DecimalType(24, 12))).cast("double") /
            count(lit(1)).cast("double")).as("a2"))
        .selectExpr("cell as clabel", "n_vecs",
          sRound6("a1") + " as mean_top1_cos",
          sRound6("a2") + " as mean_margin")
        .orderBy("clabel")
    }

  /** The corpus-weighted mean routing margin from the durable
    * `quantizer_margin` tier, only if installed and fresh — never
    * building (a CLI point lookup must not turn into a corpus pass). */
  private[graft] def quantizerGauge(s: SparkSession, dir: String): Option[Double] =
    Durable.root(s).flatMap { r =>
      Durable.load(s, r, dir, "quantizer_margin", "v1").map { t =>
        val row = t.selectExpr(
          "sum(cast(n_vecs as double) * mean_margin) as a",
          "sum(cast(n_vecs as double)) as b").head()
        row.getDouble(0) / row.getDouble(1)
      }
    }

  // ── search, insert, delete, compact ──

  /** `ann_search`: walk the standing index with arbitrary probes (src,
    * ea, sa) and return each probe's top-k. The same walk as x121; `k`
    * may differ from the construction degree. Hash seeds can land on a
    * vector a `compact` cycle tombstoned, so the visited set is
    * anti-joined against a fresh durable `tombstones` tier. */
  private[graft] def annSearch(s: SparkSession, dir: String,
      probes: DataFrame, hops: Int, k: Int, b: Int = 5,
      e: Int = 8, seed: String = "hash"): DataFrame = {
    val entries =
      if (seed == "ivf") ivfServingEntries(s, dir, probes)
      else standingEntries(s, dir, probes, e)
    val vis0 = standingWalk(s, dir, probes, entries, hops, b).last
    val vis = (for {
      r <- Durable.root(s)
      tomb <- Durable.load(s, r, dir, "tombstones", "v1")
    } yield vis0.join(broadcast(tomb.select(col("v"))),
        col("dst") === col("v"), "left_anti")).getOrElse(vis0)
    topKDesc(vis, Seq("src"), "cos", Seq("dst"), k)
      .selectExpr("src as query_id", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim")
      .orderBy("query_id", "rk")
  }

  /** The insertion primitive (x124, the streaming maintenance gate): walk
    * the frozen standing index with the new vectors as probes; each new
    * vector's edge list is the top-K of its walk. Per call
    * |probes|·hops·B·2K scorings — corpus-independent. */
  private[graft] def insertEdges(s: SparkSession, dir: String,
      probes: DataFrame, hops: Int): DataFrame =
    topKDesc(
        standingWalk(s, dir, probes, standingEntries(s, dir, probes), hops).last,
        Seq("src"), "cos", Seq("dst"), GraphK)
      .selectExpr("src as new_id", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim")

  /** x124's body: the % 97 re-crawl batch inserted; `hops` explicit so
    * the spec can check found-originals are monotone in it. */
  private[graft] def graphInsert(
      s: SparkSession, dir: String, hops: Int): DataFrame =
    insertEdges(s, dir, defaultInsertBatch(s, dir), hops)
      .selectExpr("new_id", "rk", "neighbor_id", "cos_sim",
        "neighbor_id = new_id - 1000000000 as found_original")
      .orderBy("new_id", "rk")

  /** The x127/x131 tombstone set (vec_id % 89, disjoint from the % 97
    * insert batch), broadcast-sized. */
  private[graft] def defaultVictims(s: SparkSession, dir: String): DataFrame =
    broadcast(
      withSq(s, dir).filter("vec_id % 89 = 0").select(col("vec_id").as("v"))
        .localCheckpoint())

  /** The x124 insert batch (vec_id % 97 re-crawled under +1e9 ids) as
    * probes — the cycle `compact` replays when given no batch. */
  private[graft] def defaultInsertBatch(s: SparkSession, dir: String): DataFrame =
    withSq(s, dir).filter("vec_id % 97 = 0")
      .selectExpr("vec_id + 1000000000 as src", "embedding as ea",
        "sq as sa").localCheckpoint()

  /** One delete over the standing graph, `vict` = (v) broadcast-sized:
    * the surviving edges, the damaged nodes (survivors that lost an
    * out-edge to a victim) and their repaired top-K lists (node, rk,
    * neighbor_id, cos_sim, is_bridge). A damaged node is repaired by
    * bridging over the tombstone to the victim's own surviving
    * out-neighbors (HNSW's repair heuristic); |damaged|·K bridge
    * scorings, the graph filtered map-side. */
  private def deleteRepair(s: SparkSession, dir: String,
      vict: DataFrame): (DataFrame, DataFrame, DataFrame) = {
    val edges = nndescentEdges(s, dir, iters = 2)
    val alive = edges.join(vict, col("src") === col("v"), "left_anti")
    val surv = alive.join(vict, col("dst") === col("v"), "left_anti")
    val lost = alive.join(vict, col("dst") === col("v"), "left_semi")
      .select("src", "dst")
    val damaged = lost.select("src").distinct()
    // bridge candidates: src → (victim's surviving out-neighbor w), not
    // already wired — |victims|·K rows, broadcast into the lost set
    val vout = edges
      .join(vict, col("src") === col("v"), "left_semi")
      .join(vict, col("dst") === col("v"), "left_anti")
      .select(col("src").as("vd"), col("dst").as("w"))
    val cand = lost.select(col("src"), col("dst").as("vd"))
      .join(broadcast(vout), "vd")
      .select(col("src"), col("w").as("dst")).distinct()
      .filter(col("src") =!= col("dst"))
      .join(surv.select("src", "dst"), Seq("src", "dst"), "left_anti")
    val merged = surv
      .join(damaged, Seq("src"), "left_semi")
      .select("src", "dst", "cos").withColumn("is_bridge", lit(false))
      .unionByName(scorePairs(withSq(s, dir))(cand)
        .withColumn("is_bridge", lit(true)))
    val repaired = topKDesc(merged, Seq("src"), "cos", Seq("dst"), GraphK)
      .selectExpr("src as node", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim", "is_bridge")
    (surv, damaged, repaired)
  }

  /** x127's body: the default victims deleted and repaired. */
  private[graft] def graphDelete(s: SparkSession, dir: String): DataFrame =
    deleteRepair(s, dir, defaultVictims(s, dir))._3.orderBy("node", "rk")

  /** The compacted standing graph G′ after one delete+insert cycle, as
    * (segment, src, dst, cos): `kept` = surviving edges of undamaged
    * survivors, `repaired` = the damaged nodes' repaired lists,
    * `inserted` = the batch's walked lists less edges onto a victim.
    * `vict` = (v), `inserts` = (src, ea, sa). Never corpus work. */
  private[graft] def compactedEdges(s: SparkSession, dir: String,
      vict: DataFrame, inserts: DataFrame, hops: Int = 2): DataFrame = {
    val (surv, damaged, repaired) = deleteRepair(s, dir, vict)
    val kept = surv.join(damaged, Seq("src"), "left_anti")
      .selectExpr("'kept' as segment", "src", "dst", "cos")
    val inserted = insertEdges(s, dir, inserts, hops)
      .join(vict, col("neighbor_id") === col("v"), "left_anti")
      .selectExpr("'inserted' as segment", "new_id as src",
        "neighbor_id as dst", "cos_sim as cos")
    kept
      .unionByName(repaired.selectExpr("'repaired' as segment", "node as src",
        "neighbor_id as dst", "cos_sim as cos"))
      .unionByName(inserted)
  }

  /** x131's body: G′'s per-segment audit (nodes, edges, decimal mean /
    * min / max cosine over the 6-dp edge scores — bit-exact
    * cross-engine). */
  private[graft] def graphLifecycle(s: SparkSession, dir: String): DataFrame =
    compactedEdges(s, dir, defaultVictims(s, dir),
        defaultInsertBatch(s, dir), hops = 2)
      .selectExpr("segment", "src as node", "cos")
      .groupBy("segment")
      .agg(countDistinct(col("node")).as("n_nodes"),
        count(lit(1)).as("n_edges"),
        (sum(col("cos").cast(DecimalType(24, 12)))
          .cast("double") / count(lit(1)).cast("double")).as("m0"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
      .selectExpr("segment", "n_nodes", "n_edges",
        sRound6("m0") + " as mean_cos", "min_cos", "max_cos")
      .orderBy("segment")

  /** `compact_index`: apply one delete+insert cycle (`deletes` = (v),
    * `inserts` = probes; the x131 cycle when absent) to the standing
    * graph and install G′ under `indexDir` — the segment-labeled copy
    * as `nnd_edges_compacted`, and the walk's own keys: `nnd_edges`,
    * the recomputed `nnd_ud`, and `tombstones` (merged with earlier
    * cycles', less ids this cycle re-inserted), so the next session
    * walks the post-cycle graph. The index root is pointed at
    * `indexDir` while it runs, so the graph being compacted is loaded
    * from there. Returns a one-line summary. */
  private[graft] def compact(s: SparkSession, dir: String, indexDir: String,
      deletes: Option[DataFrame], inserts: Option[DataFrame],
      hops: Int): String = {
    val prevRoot = s.conf.getOption("spark.graft.indexDir")
    s.conf.set("spark.graft.indexDir", indexDir)
    try {
      val vict = deletes.map(d => broadcast(d.localCheckpoint()))
        .getOrElse(defaultVictims(s, dir))
      val batch = inserts.map(_.localCheckpoint())
        .getOrElse(defaultInsertBatch(s, dir))
      val g = compactedEdges(s, dir, vict, batch, hops)
        .localCheckpoint() // one computation: counted below AND installed
      val counts = g.groupBy("segment").count().collect()
        .map(r => s"${r.getString(0)}=${r.getLong(1)}").sorted.mkString(" ")
      val path = Durable.install(s, indexDir, dir, "nnd_edges_compacted", "v1", g)
      val edges = g.select("src", "dst", "cos")
      Durable.install(s, indexDir, dir, "nnd_edges", standingGraphVersion, edges)
      Durable.install(s, indexDir, dir, "nnd_ud", standingUdVersion,
        cappedUd(edges, 2 * GraphK))
      val prior = Durable.load(s, indexDir, dir, "tombstones", "v1")
        .map(_.select("v")).toSeq
      val tomb = prior.foldLeft(vict.select("v"))(_ unionByName _).distinct()
        .join(batch.select(col("src").as("v")), Seq("v"), "left_anti")
      Durable.install(s, indexDir, dir, "tombstones", "v1", tomb)
      s"compacted standing graph installed at $path ($counts)"
    } finally prevRoot match {
      case Some(r) => s.conf.set("spark.graft.indexDir", r)
      case None    => s.conf.unset("spark.graft.indexDir")
    }
  }

  // ── audits ──

  /** x123's body: the in-degree histogram of the standing graph, with
    * zero-in-degree nodes (unreachable by any walk) counted off the
    * corpus. Output bounded by the max in-degree. */
  private[graft] def hubness(s: SparkSession, dir: String): DataFrame = {
    val edges = nndescentEdges(s, dir, iters = 2)
    withSq(s, dir).select(col("vec_id"))
      .join(edges.groupBy(col("dst").as("vec_id"))
        .agg(count(lit(1)).as("d")), Seq("vec_id"), "left")
      .selectExpr("vec_id", "coalesce(d, cast(0 as bigint)) as in_degree")
      .groupBy("in_degree").agg(count(lit(1)).as("n_nodes"))
      .orderBy("in_degree")
  }

  /** Min-label propagation over an undirected edge frame `ud` (src,
    * dst): every node's label becomes the least id it reaches. Returns
    * the labels (`node`, lbl) and the changed-node count of the last
    * round — 0 at the fixpoint, nonzero only if `maxRounds` bound.
    * `countChanged = false` tests convergence with a cheap `isEmpty`
    * and reports 1 for "changed".
    *
    * The round frames are graph-sized, so the loop's shuffle width
    * tracks the graph (|ud| / 100k rows, at least 2, at most the
    * session's), not the corpus: at the session width every round is
    * mostly empty tasks (x32 measured 2.2 s → 0.9 s at sf0.1). This sets
    * `spark.sql.shuffle.partitions` on the session for the loop and
    * restores it after, so a query running concurrently on the same
    * session plans at the narrowed width meanwhile. */
  private[graft] def minLabels(s: SparkSession, ud: DataFrame, node: String,
      maxRounds: Int, countChanged: Boolean): (DataFrame, Long) = {
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.min(prevParts.toInt,
      math.max(2, (ud.count() / 100000L).toInt)).toString
    s.conf.set("spark.sql.shuffle.partitions", loopParts)
    try {
      var labels = ud.select(col("src").as(node)).distinct()
        .withColumn("lbl", col(node)).localCheckpoint()
      var changed = 1L; var r = 0
      while (changed > 0 && r < maxRounds) {
        val prop = ud.join(labels.selectExpr(s"$node as src", "lbl as nlbl"), "src")
          .groupBy(col("dst").as(node)).agg(min(col("nlbl")).as("nbr"))
        // the improved flag rides on the checkpointed frame: the
        // convergence test is a filter over materialized rows
        val next = labels.join(prop, Seq(node), "left")
          .selectExpr(node, "least(lbl, coalesce(nbr, lbl)) as lbl",
            "coalesce(nbr, lbl) < lbl as improved")
          .localCheckpoint()
        val moved = next.filter(col("improved"))
        changed =
          if (countChanged) moved.count() else if (moved.isEmpty) 0L else 1L
        labels = next.drop("improved"); r += 1
      }
      (labels, changed)
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** x122's body: connected components of the undirected standing graph
    * by min-label propagation to the fixpoint, capped at `rounds`
    * ([[CcMaxRounds]] by default); `unconverged_nodes` (the last round's
    * changed count) rides every row — 0 at the fixpoint. */
  private[graft] def graphComponents(
      s: SparkSession, dir: String, rounds: Int = CcMaxRounds): DataFrame = {
    val ud = undirected(nndescentEdges(s, dir, iters = 2)).localCheckpoint()
    val (labels, unconverged) = minLabels(s, ud, "node", rounds,
      countChanged = true)
    labels.groupBy(col("lbl").as("component_id"))
      .agg(count(lit(1)).as("n_nodes"))
      .withColumn("unconverged_nodes", lit(unconverged))
      .select("component_id", "n_nodes", "unconverged_nodes")
      .orderBy(col("n_nodes").desc, col("component_id"))
  }
}
