package graft.index

import graft.llm.Frag
import graft.llm.Frag.{sH, sRound6, sSumSq}
import graft.plans.TopKPerKey.topKDesc
import graft.queries.{Durable, Shared}
import graft.queries.Tables.t
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The non-graph vector indexes over the `embeddings` corpus (64-dim
  * float vectors): exact brute force, the IVF coarse quantizer, product
  * quantization, sign-LSH bands and Lloyd k-means, and the five ANN
  * method cores x62/x110 grade. x11–x116 and the IVF seeding of
  * `ann_search` read them.
  *
  * An index is a candidate generator followed by one exact
  * verification step (the shape *Continuously Adaptive Similarity
  * Search*, SIGMOD 2020, describes). Each piece has one definition:
  *  - mean: [[dimMean]] — the exact-decimal per-(keys, dim) mean — and
  *    [[cvArrays]], its dim-ordered `cv` array with `csq`;
  *  - cell scorer: [[cellCos]] over a broadcast centroid frame, with
  *    the [[cellOrder]] tie-break (cosine descending, then the smaller
  *    cell);
  *  - candidates: [[ivfCandidates]] (probe routing) and
  *    [[bandCandidates]] (band collisions);
  *  - scoring: [[scorePairs]] (candidate id pairs) and [[bruteForce]]
  *    (probes × corpus);
  *  - ADC: [[adcTable]] (per-probe sub-distances) and [[adcSum]].
  *
  * Frames: a corpus is (vec_id, embedding, sq); a centroid frame is
  * (cell, cv, csq). Means are exact decimals and folds run in dim
  * order, so every value here is bit-identical to the DuckDB oracle's.
  */
object VectorIndex {

  private[graft] val QuerySet = "vec_id < 8"
  private[graft] val TopK = 10

  /** Candidates re-ranked per probe before the final cut (x103). */
  private[graft] val RerankK = 30

  /** embeddings + per-row sum-of-squares (norm² — computed once).
    * repartition: the test corpus is one parquet file = one input
    * split; shared: every similarity query starts from this frame. */
  private[graft] def withSq(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "withSq")(normed(spread(s, dir)))

  private def spread(s: SparkSession, dir: String): DataFrame =
    t(s, dir, "embeddings").repartition(s.sparkContext.defaultParallelism)

  private def normed(rows: DataFrame): DataFrame =
    rows.selectExpr("vec_id", "embedding", s"${sSumSq("embedding")} as sq")

  /** CLUSTERED synthetic geometry — the second evaluation fixture for
    * the ANN operating-point decisions. The corpus's `embedding`
    * column is hash-derived and therefore ~isotropic: the regime where
    * graph/IVF recall is inherently poor and every tuning curve
    * (x106/x126/x132/x134) is measured at its hardest. Real embedding
    * corpora are CLUSTERED, so the knobs frozen on hash vectors need a
    * second reading on clustered geometry before anyone trusts them at
    * 100 TB. This derives one deterministically from the same table:
    * center_l = a random ±1 hypercube vertex per label (md5 sign of
    * ('cent:', label, dim) — 8 mutually near-orthogonal centers), plus
    * uniform per-(vec, dim) hash-noise scaled by 0.6. Within-label
    * cosine ≈ 0.8, cross-label ≈ 0 — a realistic mixture. Every term
    * is the shared md5 primitive + IEEE double ops in one fixed
    * expression tree, so the DuckDB twin (`Similarity.dSqC`) reproduces
    * the vectors bit-for-bit (float32 final cast on both sides). */
  private def sClusteredEmb: String =
    s"""transform(sequence(0, ${Frag.Dim - 1}), i -> cast(
       |  (case when ${sH("concat('cent:', cast(label as string), ':', cast(i as string))")} % 2 = 0
       |     then cast(-1 as double) else cast(1 as double) end)
       |  + cast(0.6 as double) * ((cast(${sH("concat('cn:', cast(vec_id as string), ':', cast(i as string))")} as double)
       |      / cast(1152921504606846976 as double)) * cast(2 as double) - cast(1 as double))
       |  as float))""".stripMargin

  /** The clustered twin of [[withSq]] (vec_id, embedding, sq). */
  private[graft] def withSqClustered(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "withSqC")(normed(
      spread(s, dir).selectExpr("vec_id", s"$sClusteredEmb as embedding")))

  /** Exact cosine between two (embedding, sq) sides, 6-dp bit-exact,
    * through the codegen'd CosineF32 (the IEEE fold order of the
    * DuckDB chain; CosineF32Spec pins it to the HOF fold). */
  private[graft] def sCosIn: String = sRound6("cosine_f32(ea, eb)")

  // ── mean and cells ──

  /** Exact-decimal mean of `embedding` per (keys…, dim): (keys…, dim,
    * c) — posexplode, then a decimal sum over a count, so the mean is
    * independent of partitioning and identical in Spark and DuckDB.
    * `extra` aggregates ride the same grouping. */
  private[graft] def dimMean(rows: DataFrame, keys: Seq[String],
      extra: Column*): DataFrame =
    rows.selectExpr(keys :+ "posexplode(embedding) as (dim, v)": _*)
      .groupBy((keys :+ "dim").map(col): _*)
      .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
        count(lit(1)).cast("double")).as("c"), extra: _*)

  /** A [[dimMean]] frame assembled per `key` (renamed `as`) into the
    * dim-ordered `cv` array and its squared norm `csq`. */
  private[graft] def cvArrays(mean: DataFrame, key: String,
      as: String): DataFrame =
    mean.groupBy(col(key).as(as))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)").as("cv"))
      .selectExpr(as, "cv",
        "aggregate(cv, cast(0 as double), (acc, x) -> acc + x * x) as csq")

  /** Cosine `cosc` of each row's vector (`e`, `sq`) to every centroid of
    * `cent` (`cell`, cv, csq), `cent` broadcast: (keep…, cell, cosc). */
  private[graft] def cellCos(rows: DataFrame, cent: DataFrame,
      keep: Seq[String], cell: String = "clabel", e: String = "embedding",
      sq: String = "sq"): DataFrame =
    rows.crossJoin(broadcast(cent))
      .selectExpr(keep ++ Seq(cell, s"dot_f32f64($e, cv) / sqrt($sq * csq) as cosc"): _*)

  /** The cell order as a struct key: cosine descending (an exact sign
    * flip), then the smaller cell — the oracle's `ORDER BY cosc DESC,
    * cell`. `min` of it is the nearest cell; `sort_array` of a
    * collected list ranks every cell. */
  private[graft] def cellOrder(cell: String): String = s"struct(-cosc as nc, $cell)"

  /** Each vector's nearest cell `m` of a [[cellCos]] frame, with
    * `carry` aggregates alongside: (vec_id, m, carry…). */
  private[graft] def nearestCell(scored: DataFrame, cell: String,
      carry: Column*): DataFrame =
    scored.groupBy("vec_id").agg(expr(s"min(${cellOrder(cell)})").as("m"), carry: _*)

  // ── the IVF coarse quantizer ──

  /** Per-label centroid vectors (clabel, cv: array<double>, csq): exact
    * decimal means per dim, assembled in dim order — identical values
    * in Spark and DuckDB, so centroid-based plans stay oracle-exact.
    * The IVF quantizer, x82's and x87's label centroids, and the PQ
    * codebook's codewords. */
  private[graft] def centroids(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "centroids", "v1") {
      cvArrays(dimMean(t(s, dir, "embeddings"), Seq("label")), "label", "clabel")
    }

  /** IVF coarse routing table: per vector, its top-4 centroid cells by
    * cosine, exposed as `cl4` (full routing depth, for the x106 nprobe
    * sweep) and `cl2` (its 2-prefix — the assignment AND the default
    * probe routing). Shared tier: x17, x62 (through x17's pipeline),
    * the x101 composite and x106 all read it, one cached copy; the
    * extra two slots cost nothing (the 16 cells are already collected
    * and sorted per vector). */
  private[graft] def ivfTop2(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "ivf_top2", "v1-r4") {
      cellCos(withSq(s, dir), centroids(s, dir), Seq("vec_id"))
        .groupBy("vec_id")
        .agg(expr(s"slice(transform(sort_array(collect_list(${cellOrder("clabel")})), x -> x.clabel), 1, 4)").as("cl4"))
        .selectExpr("vec_id", "cl4", "slice(cl4, 1, 2) as cl2")
    }

  /** IVF candidates (query_id, neighbor_id): each probe's routed cells
    * — the whole `route` array, or its first `np` — joined with every
    * vector's cell-0 assignment on `cell`, self pairs dropped, distinct.
    * The probe routing is probes × nprobe rows, so it broadcasts into
    * the corpus-sized assignment stream (the inverted lists never
    * shuffle to meet the probes). */
  private[graft] def ivfCandidates(top: DataFrame, route: String,
      np: Option[Int], cell: String): DataFrame = {
    val cells = np.fold(route)(n => s"slice($route, 1, $n)")
    val assign = top.selectExpr("vec_id as neighbor_id", s"$route[0] as $cell")
    val probes = top.filter(QuerySet)
      .selectExpr("vec_id as query_id", s"explode($cells) as $cell")
    broadcast(probes).join(assign, cell)
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
  }

  // ── product quantization ──

  /** PQ codebook (clabel, ss, cw): 8 subspaces × one 8-dim mean codeword
    * per label — the `ss`-th slice of the label's centroid (the label
    * partition stands in for a per-subspace k-means, exactly as the
    * label centroids stand in for the IVF coarse quantizer in x17). */
  private[graft] def pqCodebook(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "pqCodebook", "v1-ss8") {
      centroids(s, dir)
        .selectExpr("clabel", "cv",
          s"explode(sequence(cast(0 as bigint), cast(${Frag.Dim / 8 - 1} as bigint))) as ss")
        .selectExpr("clabel", "ss", "slice(cv, ss * 8 + 1, 8) as cw")
    }

  /** PQ code table (vec_id, ss, code, d2) — the corpus encoded
    * subspace-by-subspace to its nearest codeword. Shared tier: x49's
    * ADC scan and the x101 composite read the same codes. Built by one
    * broadcast cross-join with the 80-row codebook, collapsed
    * immediately by a map-side min-struct aggregation. */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "pq_codes", "v1-ss8") {
      t(s, dir, "embeddings")
        .crossJoin(broadcast(pqCodebook(s, dir)))
        .selectExpr("vec_id", "ss", "clabel", s"$sSubDist as d2")
        .groupBy("vec_id", "ss")
        .agg(expr("min(struct(d2, clabel))").as("m"))
        .selectExpr("vec_id", "ss", "m.clabel as code", "m.d2 as d2")
    }

  /** Squared L2 between the `ss`-th 8-dim slice of a float vector and a
    * double codeword array, by the fused L2F32F64 (the oracle's 8-term
    * chain). */
  private def sSubDist: String = "l2_f32f64(slice(embedding, ss * 8 + 1, 8), cw)"

  /** The per-probe ADC table (`pid`, pss, pcl, pd2): each probe's
    * squared L2 to every codeword of every subspace — probes × 80 rows,
    * broadcast into a codes-only scan. Columns are renamed up front:
    * the code side descends from the same shared codebook plan. */
  private def adcTable(s: SparkSession, dir: String, pid: String): DataFrame =
    t(s, dir, "embeddings").filter(QuerySet)
      .crossJoin(broadcast(pqCodebook(s, dir)))
      .selectExpr(s"vec_id as $pid", "ss as pss", "clabel as pcl",
        s"$sSubDist as pd2")

  /** The decimal ADC distance per (query_id, neighbor_id) over the
    * matched table rows. */
  private def adcSum(matched: DataFrame): DataFrame =
    matched.groupBy("query_id", "neighbor_id")
      .agg(sum(expr("cast(pd2 as decimal(24,12))")).cast("double").as("adc"))

  /** Top-`k` per probe by ascending ADC distance (negated for the
    * descending native top-k). */
  private def adcTopk(adc: DataFrame, k: Int): DataFrame =
    topKDesc(adc.withColumn("nadc", -col("adc")),
      Seq("query_id"), "nadc", Seq("neighbor_id"), k)

  // ── sign-LSH bands ──

  /** Spark frame: vec_id, embedding, sq, bi, bv (4 rows per vector).
    * The band values come from the fused SignBandsF32 (one vector pass
    * for all 16 planes). Persisted: the 16 projection folds are worth
    * computing once, and both sides of the candidate self-join read
    * this frame. */
  private[graft] def withBands(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "withBands") {
      withSq(s, dir)
        .selectExpr("vec_id", "embedding", "sq", "posexplode(sign_bands_f32(embedding)) as (bi, bv)")
    }

  /** Band-collision candidates: (id, bi, bv) rows of `a` and `b` that
    * share a band, the caller's `pair` filter, distinct `out` id pairs
    * (the shuffle moves id pairs, never embedding arrays). */
  private[graft] def bandCandidates(a: DataFrame, b: DataFrame,
      pair: Option[Column], out: Seq[String]): DataFrame = {
    val joined = a.join(b, Seq("bi", "bv"))
    pair.fold(joined)(joined.filter).select(out.map(col): _*).distinct()
  }

  // ── exact scoring ──

  /** Exact cosine of candidate id pairs, named `score`: `cand`'s two id
    * columns look up their (embedding, sq) in a corpus frame each, the `a`
    * side broadcast when `bcastA` (a probe-bounded side). The one exact
    * pair scorer: the vector indexes and the graph index's construction
    * (`src`/`dst` → `cos`) both score through it. (out…, score). */
  private[graft] def scorePairs(cand: DataFrame, a: (String, DataFrame),
      b: (String, DataFrame), bcastA: Boolean, out: Seq[String],
      score: String = "cos_sim"): DataFrame = {
    val sideA = side(a._2, a._1, "a")
    cand.join(if (bcastA) broadcast(sideA) else sideA, a._1)
      .join(side(b._2, b._1, "b"), b._1)
      .selectExpr(out :+ s"$sCosIn as $score": _*)
  }

  /** A corpus frame (vec_id, embedding, sq) as one side of [[sCosIn]]:
    * (id, carry renamed…, e`tag`, s`tag`). `sq` is carried though the
    * cosine recomputes the norms: without it the projection no longer
    * matches cached frames that carry it, and the plans change. */
  private def side(df: DataFrame, id: String, tag: String,
      carry: Seq[(String, String)] = Nil): DataFrame =
    df.select((col("vec_id").as(id) +: carry.map { case (c, as) => col(c).as(as) }) ++
      Seq(col("embedding").as(s"e$tag"), col("sq").as(s"s$tag")): _*)

  /** Probe × corpus brute force: the probes of `corpus` (vec_id in
    * [[QuerySet]]) broadcast against every row of `cands`, each side
    * carrying `carry` columns as q_/n_ twins, the `pair` filter before
    * scoring: (query_id, q_…, neighbor_id, n_…, cos_sim). The payload is
    * each frame's (`embedding`, `sq`): a caller scores a prefix by
    * projecting it there (x102). Each executor streams its share of the
    * corpus once. */
  private[graft] def bruteForce(corpus: DataFrame, cands: DataFrame,
      pair: Option[Column], carry: Seq[String] = Nil): DataFrame = {
    val scored = side(cands, "neighbor_id", "b", carry.map(c => c -> s"n_$c"))
      .crossJoin(broadcast(side(corpus.filter(QuerySet), "query_id", "a",
        carry.map(c => c -> s"q_$c"))))
    pair.fold(scored)(scored.filter)
      .selectExpr((("query_id" +: carry.map("q_" + _)) ++
        ("neighbor_id" +: carry.map("n_" + _))) :+ s"$sCosIn as cos_sim": _*)
  }

  /** Exact brute-force top-k ground truth (query_id, neighbor_id,
    * cos_sim, rk) — native two-phase top-k (per-partition bounded heaps:
    * the exchange carries ≤ k rows per probe per partition). Shared
    * tier: x11 IS this frame, and x62's recall harness and x102's
    * truncation eval both grade against it. */
  private[graft] def exactTopk(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "exact_topk", s"v1-k$TopK") {
      val corpus = withSq(s, dir)
      topKDesc(bruteForce(corpus, corpus, Some(col("query_id") =!= col("neighbor_id"))),
        Seq("query_id"), "cos_sim", Seq("neighbor_id"), TopK)
    }

  // ── Lloyd k-means ──

  /** Converged (2-iteration) Lloyd centroids (cl, cv) from the
    * deterministic 8-seed init — shared tier: x51's inertia report and
    * x111's silhouette gauge both read the SAME 8-row centroid frame, so
    * the two Lloyd iterations run once per corpus, not once per query. */
  private[graft] def km2Cent(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "km2_cent") {
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val init = emb.filter(QuerySet)
        .selectExpr("vec_id as cl",
          "transform(embedding, x -> cast(x as double)) as cv")
      var cent = init
      for (_ <- 1 to 2)
        cent = kmUpdate(emb, kmAssign(emb, cent))
      cent
    }

  /** The converged assignment (vec_id, cl, d2) over [[km2Cent]] —
    * shared tier: x51's inertia and x112's purity/NMI audit read the
    * same frame, so the final assignment pass also runs once. */
  private[graft] def km2Asg(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "km2_asg") {
      kmAssign(t(s, dir, "embeddings").select("vec_id", "embedding"),
        km2Cent(s, dir))
    }

  /** One Lloyd assignment: nearest centroid by squared L2 (ties to the
    * smaller cluster id). Broadcast centroids; the cross product is
    * collapsed immediately by a map-side min-struct aggregation. */
  private def kmAssign(emb: DataFrame, cent: DataFrame): DataFrame =
    kmDist(emb, cent)
      .groupBy("vec_id")
      .agg(expr("min(struct(d2, cl))").as("m"))
      .selectExpr("vec_id", "m.cl as cl", "m.d2 as d2")

  /** Squared L2 (vec_id, cl, d2) of every vector to every centroid of
    * the broadcast `cent` (cl, cv), by the fused l2_f32f64. */
  private[graft] def kmDist(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cent))
      .selectExpr("vec_id", "cl", "l2_f32f64(embedding, cv) as d2")

  /** One Lloyd update: each cluster's [[dimMean]] as its new centroid
    * array (empty clusters simply drop out). */
  private def kmUpdate(emb: DataFrame, asg: DataFrame): DataFrame =
    cvArrays(dimMean(emb.join(asg.select("vec_id", "cl"), "vec_id"), Seq("cl")),
      "cl", "cl").select("cl", "cv")

  // ── the five ANN method cores ──

  /** IVF 2-probe top-k core (unordered): the probe's 2 routed cells,
    * then exact cosine + native top-k within them. */
  private[graft] def ivfTopkCore(s: SparkSession, dir: String): DataFrame = {
    val sq = withSq(s, dir)
    val cand = ivfCandidates(ivfTop2(s, dir), "cl2", None, "clabel")
    topKDesc(scorePairs(cand, "query_id" -> sq, "neighbor_id" -> sq,
        bcastA = true, Seq("query_id", "neighbor_id")),
      Seq("query_id"), "cos_sim", Seq("neighbor_id"), TopK)
  }

  /** Sign-LSH top-k core (unordered): candidates share any 4-bit band,
    * exact cosine + top-k. */
  private[graft] def lshTopkCore(s: SparkSession, dir: String): DataFrame = {
    val all = withBands(s, dir)
    val sq = withSq(s, dir)
    val cand = bandCandidates(
      all.filter(QuerySet).select(col("vec_id").as("query_id"), col("bi"), col("bv")),
      all.select(col("vec_id").as("neighbor_id"), col("bi"), col("bv")),
      Some(col("query_id") =!= col("neighbor_id")), Seq("query_id", "neighbor_id"))
    topKDesc(scorePairs(cand, "query_id" -> sq, "neighbor_id" -> sq,
        bcastA = true, Seq("query_id", "neighbor_id")),
      Seq("query_id"), "cos_sim", Seq("neighbor_id"), TopK)
  }

  /** PQ-ADC top-k core (unordered): the per-probe ADC table broadcast
    * into the codes-only corpus scan (the embedding payload never
    * moves), ranked ascending by decimal-summed distance. */
  private[graft] def pqTopkCore(s: SparkSession, dir: String): DataFrame = {
    val adc = adcSum(pqCodes(s, dir)
      .join(broadcast(adcTable(s, dir, "query_id")), col("ss") === col("pss") &&
        col("code") === col("pcl") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("pd2")))
    adcTopk(adc, TopK).selectExpr("query_id", "neighbor_id",
      sRound6("adc") + " as adc_dist", "rk")
  }

  /** IVFADC distance frame (query_id, neighbor_id, adc): IVF routing
    * bounds WHICH vectors are scored (the probe's 2 cells), PQ codes
    * bound WHAT is read per scored vector (8 B). The candidate list is
    * probe-bounded, so it BROADCASTS into the streaming code scan.
    * Shared tier: x101's ranking and x103's re-ranking both read it. */
  private def ivfpqAdc(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "ivfpq_adc") {
      val cand = ivfCandidates(ivfTop2(s, dir), "cl2", None, "cell")
      adcSum(pqCodes(s, dir).withColumnRenamed("vec_id", "neighbor_id")
        .join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(adcTable(s, dir, "pqid")), col("query_id") === col("pqid") &&
          col("ss") === col("pss") && col("code") === col("pcl")))
    }

  /** IVF+PQ composite top-k core (unordered): the shared ADC frame
    * ranked by the native bounded-heap top-k. */
  private[graft] def ivfpqTopkCore(s: SparkSession, dir: String): DataFrame =
    adcTopk(ivfpqAdc(s, dir), TopK).selectExpr("query_id", "neighbor_id",
      sRound6("adc") + " as adc_dist", "rk")

  /** IVFADC+R top-k core (unordered): the top-RerankK ADC candidates
    * per probe are re-ranked by EXACT cosine over their full vectors.
    * The candidate list (probes × k′ ids joined with the broadcast
    * probe vectors) broadcasts into one corpus stream, so the full-
    * vector fetch reads k′ payloads per probe without a shuffle. */
  private[graft] def ivfadcrTopkCore(s: SparkSession, dir: String): DataFrame = {
    val cand = adcTopk(ivfpqAdc(s, dir), RerankK).select("query_id", "neighbor_id")
    val sq = withSq(s, dir)
    val candP = cand.join(broadcast(side(sq.filter(QuerySet), "query_id", "a")),
      "query_id")
    val rr = side(sq, "neighbor_id", "b")
      .join(broadcast(candP), Seq("neighbor_id"))
      .selectExpr("query_id", "neighbor_id", s"$sCosIn as cos_sim")
    topKDesc(rr, Seq("query_id"), "cos_sim", Seq("neighbor_id"), TopK)
  }

  /** The five ANN methods' ordered top-k lists as one frame (method,
    * query_id, neighbor_id, rk) — shared tier: x62 (set-level recall)
    * and x110 (rank-level MRR/NDCG) grade the SAME retrievals, so the
    * five method cores run once per corpus, not once per harness. */
  private[graft] def annMethodTopk(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "ann_method_topk") {
      Seq("ivf" -> ivfTopkCore _, "ivfadcr" -> ivfadcrTopkCore _,
          "ivfpq" -> ivfpqTopkCore _, "lsh" -> lshTopkCore _,
          "pq" -> pqTopkCore _)
        .map { case (m, core) => core(s, dir)
          .select(lit(m).as("method"), col("query_id"), col("neighbor_id"),
            col("rk")) }
        .reduce(_ union _)
    }
}
