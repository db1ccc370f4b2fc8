package graft.llm

import graft.queries.{Durable, Shared}
import graft.queries.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType
import Frag._

/** [EXT] Similarity search over the `embeddings` table (64-dim float
  * vectors): brute-force cosine top-k (the exactness baseline),
  * sign-LSH (random-hyperplane) bucketed ANN (the scale path), LSH
  * near-duplicate pair mining, and per-label centroid aggregation.
  *
  * Scale design:
  *  - dot products / norms are per-row sequential folds over the 64
  *    slots (codegen'd HOFs, no UDF, no shuffle);
  *  - brute-force top-k broadcasts the tiny query set (broadcast
  *    nested-loop join — each executor streams its share of the
  *    corpus once); at 100 TB this is the pattern for "score corpus
  *    against k probes";
  *  - the ANN path buckets on 4 × 4-bit hyperplane-sign bands
  *    (OR-amplified LSH): candidate generation is an equi-join on
  *    (band_idx, band_value) — shuffle keyed on uniformly-distributed
  *    buckets, never O(n²);
  *  - hyperplanes are deterministic md5-derived ±1 literals (Frag
  *    .planes) embedded in both the Spark plan and the DuckDB oracle;
  *  - centroids: posexplode + (label, dim) groupBy with exact decimal
  *    partial aggregation — the distributed vector-mean pattern.
  *
  * The sign-LSH scheme is random-hyperplane hashing (Charikar, STOC
  * 2002) with OR-amplification across bands (Mining of Massive
  * Datasets ch.3); the bucketed-ANN shape mirrors IVF-style inverted
  * lists (Jégou et al., PAMI 2011) with LSH buckets as the coarse
  * quantizer.
  */
object Similarity {

  private val QuerySet = "vec_id < 8"
  private val TopK = 10

  /** Standing-index construction degree. Round 12's x134 sweep measured
    * the recall plateau as a K-bound of the graph (recall@10
    * 0.20→0.36→0.61 for K = 5→10→20 on the tuning slice), so the
    * standing graph now sits at the K=10 operating point: ~4× the
    * construction pairs (≤ N·C(2K,2) per local-join round — still
    * linear in N) buys a materially higher walk ceiling for every
    * reader (x121/x124/x126/x127/x129/x131/x132). The oracle side's
    * [[NndK]] is DERIVED from this constant (both are compile-time
    * literals, so object-init order cannot bite) — bumping the degree
    * moves both engines together. */
  private final val GraphK = 10

  /** Durable-tier version strings for the standing graph and its
    * ρ-capped adjacency — the exact keys the walk resolves, shared
    * with `compact_index`'s install path so a compacted graph lands
    * where the next session's walk actually reads. */
  private[graft] def standingGraphVersion: String = s"v1-k$GraphK-t2"
  private[graft] def standingUdVersion: String = s"v1-cap${2 * GraphK}"

  /** x116 per-cluster sample budget — fixed at any corpus size (the
    * balanced-sampling contract: the epoch mix, not the corpus, sets
    * the budget). */
  private val SampleCap = 25

  /** embeddings + per-row sum-of-squares (norm² — computed once).
    * repartition: the test corpus is one parquet file = one input
    * split; shared: every similarity query starts from this frame. */
  private[graft] def withSq(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "withSq") {
      t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .selectExpr("vec_id", "embedding", s"${sSumSq("embedding")} as sq")
    }

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
    * expression tree, so the DuckDB twin ([[dSqC]]) reproduces the
    * vectors bit-for-bit (float32 final cast on both sides). */
  private def sClusteredEmb: String =
    s"""transform(sequence(0, ${Frag.Dim - 1}), i -> cast(
       |  (case when ${sH("concat('cent:', cast(label as string), ':', cast(i as string))")} % 2 = 0
       |     then cast(-1 as double) else cast(1 as double) end)
       |  + cast(0.6 as double) * ((cast(${sH("concat('cn:', cast(vec_id as string), ':', cast(i as string))")} as double)
       |      / cast(1152921504606846976 as double)) * cast(2 as double) - cast(1 as double))
       |  as float))""".stripMargin

  /** The clustered twin of [[withSq]] (vec_id, embedding, sq). */
  private def withSqClustered(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "withSqC") {
      t(s, dir, "embeddings")
        .repartition(s.sparkContext.defaultParallelism)
        .selectExpr("vec_id", s"$sClusteredEmb as embedding")
        .selectExpr("vec_id", "embedding", s"${sSumSq("embedding")} as sq")
    }

  /** Exact cosine between two (embedding, sq) sides, 6-dp bit-exact.
    * Uses the native codegen'd CosineF32 when graft.plans
    * .GraftExtensions is installed (identical IEEE fold order), else
    * the interpreted HOF form. */
  private def sCosIn(s: SparkSession): String =
    if (s.catalog.functionExists("cosine_f32"))
      sRound6("cosine_f32(ea, eb)")
    else
      sRound6(s"${sDot("ea", "eb")} / sqrt(sa * sb)")

  /** Per-label centroid vectors (clabel, cv: array<double>, csq): exact
    * decimal means per dim, assembled in dim order — identical values
    * in Spark and DuckDB, so centroid-based plans stay oracle-exact. */
  private def centroids(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "centroids", "v1") {
      t(s, dir, "embeddings")
        .selectExpr("label", "posexplode(embedding) as (dim, v)")
        .groupBy("label", "dim")
        .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
          count(lit(1)).cast("double")).as("c"))
        .groupBy(col("label").as("clabel"))
        .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)").as("cv"))
        .selectExpr("clabel", "cv",
          "aggregate(cv, cast(0 as double), (acc, x) -> acc + x * x) as csq")
    }

  /** PQ codebook: 8 subspaces × one 8-dim mean codeword per label (the
    * label partition stands in for a per-subspace k-means, exactly as
    * the label centroids stand in for the IVF coarse quantizer in x17).
    * Means are exact decimals ⇒ identical across engines. */
  private[graft] def pqCodebook(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "pqCodebook", "v1-ss8") {
      t(s, dir, "embeddings")
        .selectExpr("label", "posexplode(embedding) as (dim, v)")
        .groupBy(col("label"), col("dim"))
        .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
          count(lit(1)).cast("double")).as("c"))
        .selectExpr("label as clabel", "dim div 8 as ss", "dim % 8 as j", "c")
        .groupBy("clabel", "ss")
        .agg(expr("transform(sort_array(collect_list(struct(j, c))), x -> x.c)").as("cw"))
    }

  /** IVF coarse routing table: per vector, its top-4 centroid cells by
    * cosine, exposed as `cl4` (full routing depth, for the x106 nprobe
    * sweep) and `cl2` (its 2-prefix — the assignment AND the default
    * probe routing). Shared tier: x17, x62 (through x17's pipeline),
    * the x101 composite and x106 all read it, one cached copy; the
    * extra two slots cost nothing (the 16 cells are already collected
    * and sorted per vector). Sort key struct(-cosc, clabel) replays the
    * oracle's ORDER BY cosc DESC, clabel tie-break (double negation is
    * an exact sign flip). */
  private[graft] def ivfTop2(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "ivf_top2", "v1-r4") {
      val cent = centroids(s, dir)
      val dotExpr =
        if (s.catalog.functionExists("dot_f32f64")) "dot_f32f64(embedding, cv)"
        else "aggregate(zip_with(embedding, cv, (x, w) -> cast(x as double) * w), cast(0 as double), (acc, t) -> acc + t)"
      withSq(s, dir).crossJoin(broadcast(cent))
        .selectExpr("vec_id", "clabel", s"$dotExpr / sqrt(sq * csq) as cosc")
        .groupBy("vec_id")
        .agg(expr("slice(transform(sort_array(collect_list(struct(-cosc as nc, clabel))), x -> x.clabel), 1, 4)").as("cl4"))
        .selectExpr("vec_id", "cl4", "slice(cl4, 1, 2) as cl2")
    }

  /** PQ code table (vec_id, ss, code) — the corpus encoded
    * subspace-by-subspace to its nearest codeword. Shared tier: x49's
    * ADC scan and the x101 composite read the same codes. Built by one
    * broadcast cross-join with the 80-row codebook, collapsed
    * immediately by a map-side min-struct aggregation. */
  private[graft] def pqCodes(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "pq_codes", "v1-ss8") {
      t(s, dir, "embeddings")
        .crossJoin(broadcast(pqCodebook(s, dir)))
        .selectExpr("vec_id", "ss", "clabel", s"${sSubDist(s)} as d2")
        .groupBy("vec_id", "ss")
        .agg(expr("min(struct(d2, clabel))").as("m"))
        .selectExpr("vec_id", "ss", "m.clabel as code", "m.d2 as d2")
    }

  /** Squared L2 between the `ss`-th 8-dim slice of a float vector and a
    * double codeword array — fused L2F32F64 when installed, HOF
    * fallback with the identical sequential fold (the oracle's 8-term
    * chain either way). */
  private def sSubDist(s: SparkSession): String =
    sL2In(s, "slice(embedding, ss * 8 + 1, 8)", "cw")

  /** Squared L2 between a float vector (expression `vecE`) and a double
    * centroid array — the fused codegen'd L2F32F64 when the extension
    * is installed (the vectors × centroids product is THE hot loop of
    * k-means/PQ; measured 144 s → linear at the 10× corpus), else the
    * interpreted HOF with the identical left-to-right IEEE fold. */
  private def sL2In(s: SparkSession, vecE: String, cvCol: String): String =
    if (s.catalog.functionExists("l2_f32f64")) s"l2_f32f64($vecE, $cvCol)"
    else
      s"""aggregate(zip_with($vecE, $cvCol,
         |  (x, c) -> (cast(x as double) - c) * (cast(x as double) - c)),
         |  cast(0 as double), (acc, t) -> acc + t)""".stripMargin

  /** Converged (2-iteration) Lloyd centroids from the deterministic
    * 8-seed init — shared tier: x51's inertia report and x111's
    * silhouette gauge both read the SAME 8-row centroid frame, so the
    * two Lloyd iterations (the expensive part: two corpus passes each)
    * run once per corpus, not once per query. */
  private def km2Cent(s: SparkSession, dir: String): DataFrame =
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
  private def km2Asg(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "km2_asg") {
      kmAssign(t(s, dir, "embeddings").select("vec_id", "embedding"),
        km2Cent(s, dir))
    }

  /** One Lloyd assignment: nearest centroid by squared L2 (ties to the
    * smaller cluster id). Broadcast centroids; the cross product is
    * collapsed immediately by a map-side min-struct aggregation. */
  private def kmAssign(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.crossJoin(broadcast(cent))
      .selectExpr("vec_id", "cl",
        s"${sL2In(emb.sparkSession, "embedding", "cv")} as d2")
      .groupBy("vec_id")
      .agg(expr("min(struct(d2, cl))").as("m"))
      .selectExpr("vec_id", "m.cl as cl", "m.d2 as d2")

  /** One Lloyd update: exact decimal mean per (cluster, dim), assembled
    * back into centroid arrays (empty clusters simply drop out). */
  private def kmUpdate(emb: DataFrame, asg: DataFrame): DataFrame =
    emb.join(asg.select("vec_id", "cl"), "vec_id")
      .selectExpr("cl", "posexplode(embedding) as (dim, v)")
      .groupBy("cl", "dim")
      .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
        count(lit(1)).cast("double")).as("c"))
      .groupBy("cl")
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)").as("cv"))

  private def bandsExpr =
    s"array(${(0 until 4).map(b => sBand("embedding", b)).mkString(", ")})"

  /** Band-values expression: fused native SignBandsF32 when the
    * extension is installed (one vector pass for all 16 planes), else
    * the 16-fold HOF form — identical values either way. */
  private def bandsIn(s: SparkSession): String =
    if (s.catalog.functionExists("sign_bands_f32")) "sign_bands_f32(embedding)"
    else bandsExpr

  /** Spark frame: vec_id, embedding, sq, bi, bv (4 rows per vector).
    * Persisted: the 16 projection folds are worth computing once, and
    * both sides of the candidate self-join read this frame. */
  private def withBands(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "withBands") {
      withSq(s, dir)
        .selectExpr("vec_id", "embedding", "sq", s"posexplode(${bandsIn(s)}) as (bi, bv)")
    }

  /** DuckDB CTEs: sq per vec + 4-band signature rows. */
  private val dSq =
    s"WITH sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM embeddings)"
  private val dBands =
    s""", bands AS (
       |${(0 until 4).map(b =>
           s"  SELECT vec_id, embedding, sq, $b AS bi, ${dBand("embedding", b)} AS bv FROM sq")
           .mkString("\n  UNION ALL\n")})""".stripMargin
  private val dCos: String =
    dRound6(s"(${dDot("a.embedding", "b.embedding")}) / sqrt(a.sq * b.sq)")

  /** Per-label centroid ARRAYS (label cl, 64-slot double cv) — x14's
    * exact-decimal means assembled in dim order. Shared tier: ≤ |labels|
    * rows, the broadcast side of every assignment-shaped pass (x82
    * margins, x87 affinity). */
  private def labelCentroidArrays(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "label_centroids") {
      t(s, dir, "embeddings")
        .selectExpr("label", "posexplode(embedding) as (dim, v)")
        .groupBy("label", "dim")
        .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
          count(lit(1)).cast("double")).as("c"))
        .groupBy(col("label").as("cl"))
        .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)").as("cv"))
    }

  /** Exact brute-force top-k ground truth (query_id, neighbor_id,
    * cos_sim, rk) — broadcast the probe set, stream the corpus, native
    * two-phase top-k (per-partition bounded heaps: the exchange carries
    * ≤ k rows per probe per partition, not every scored corpus row).
    * Shared tier: x11 IS this frame, and x62's recall harness and
    * x102's truncation eval both grade against it — one cached copy
    * instead of three brute-force corpus scans. */
  private def exactTopk(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "exact_topk", s"v1-k$TopK") {
      val corpus = withSq(s, dir)
      val probes = corpus.filter(QuerySet)
        .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
          col("sq").as("sa"))
      val cands = corpus
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"),
          col("sq").as("sb"))
      val scored = cands.crossJoin(broadcast(probes))
        .filter(col("query_id") =!= col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id", s"${sCosIn(s)} as cos_sim")
      graft.plans.TopKPerKey.topKDesc(scored, Seq("query_id"), "cos_sim",
        Seq("neighbor_id"), TopK)
    }

  /** IVF 2-probe top-k core (unordered): coarse routing from the
    * shared ivf_top2 frame — top-2 of 16 centroids per vector collapses
    * into ONE codegen'd aggregation (collect 16 structs, sort
    * in-register, slice), no ranking exchange — then exact cosine +
    * native top-k within the probe's 2 inverted lists. */
  private def ivfTopkCore(s: SparkSession, dir: String): DataFrame = {
    val sq = withSq(s, dir)
    val top2 = ivfTop2(s, dir)
    val assign = top2
      .selectExpr("vec_id as neighbor_id", "cl2[0] as clabel")
    val probes = top2.filter(col("vec_id") < 8)
      .selectExpr("vec_id as query_id", "explode(cl2) as clabel")
    // broadcast the tiny probe routing into the assignment stream (the
    // inverted lists never shuffle to meet the probes)
    val cand = broadcast(probes).join(assign, "clabel")
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored2 = cand
      .join(broadcast(sq.select(col("vec_id").as("query_id"),
        col("embedding").as("ea"), col("sq").as("sa"))), "query_id")
      .join(sq.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("eb"), col("sq").as("sb")), "neighbor_id")
      .selectExpr("query_id", "neighbor_id", s"${sCosIn(s)} as cos_sim")
    graft.plans.TopKPerKey.topKDesc(scored2, Seq("query_id"), "cos_sim",
      Seq("neighbor_id"), TopK)
  }

  /** Sign-LSH top-k core (unordered): candidates share any 4-bit band,
    * candidate IDs deduped BEFORE the vectors join back (the shuffle
    * moves id pairs, not embedding arrays), exact cosine + top-k. */
  private def lshTopkCore(s: SparkSession, dir: String): DataFrame = {
    val all = withBands(s, dir)
    val sq = withSq(s, dir)
    val cand = all.filter(QuerySet)
      .select(col("vec_id").as("query_id"), col("bi"), col("bv"))
      .join(all.select(col("vec_id").as("neighbor_id"), col("bi"), col("bv")),
        Seq("bi", "bv"))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select("query_id", "neighbor_id").distinct()
    val scored = cand
      .join(broadcast(sq.select(col("vec_id").as("query_id"),
        col("embedding").as("ea"), col("sq").as("sa"))), "query_id")
      .join(sq.select(col("vec_id").as("neighbor_id"),
        col("embedding").as("eb"), col("sq").as("sb")), "neighbor_id")
      .selectExpr("query_id", "neighbor_id", s"${sCosIn(s)} as cos_sim")
    graft.plans.TopKPerKey.topKDesc(scored, Seq("query_id"), "cos_sim",
      Seq("neighbor_id"), TopK)
  }

  /** PQ-ADC top-k core (unordered): per-probe 8×10 distance table
    * broadcast into the codes-only corpus scan (the embedding payload
    * never moves), decimal-summed ADC, ranked ascending by distance
    * (negated for the descending native top-k). */
  private def pqTopkCore(s: SparkSession, dir: String): DataFrame = {
    val cb = pqCodebook(s, dir)
    val codes = pqCodes(s, dir)
    // columns renamed up front — both sides descend from the same
    // shared codebook plan, so unrenamed ss/clabel would be ambiguous
    val pdist = t(s, dir, "embeddings").filter(QuerySet)
      .crossJoin(broadcast(cb))
      .selectExpr("vec_id as query_id", "ss as pss", "clabel as pcl",
        s"${sSubDist(s)} as pd2")
    val adc = codes
      .join(broadcast(pdist), col("ss") === col("pss") &&
        col("code") === col("pcl") && col("vec_id") =!= col("query_id"))
      .select(col("query_id"), col("vec_id").as("neighbor_id"), col("pd2"))
      .groupBy("query_id", "neighbor_id")
      .agg(sum(expr("cast(pd2 as decimal(24,12))")).cast("double").as("adc"))
    graft.plans.TopKPerKey.topKDesc(
        adc.withColumn("nadc", -col("adc")),
        Seq("query_id"), "nadc", Seq("neighbor_id"), TopK)
      .selectExpr("query_id", "neighbor_id",
        sRound6("adc") + " as adc_dist", "rk")
  }

  /** IVFADC distance frame (query_id, neighbor_id, adc): IVF routing
    * bounds WHICH vectors are scored (the probe's 2 cells), PQ codes
    * bound WHAT is read per scored vector (8 B). The candidate list is
    * probe-bounded, so it BROADCASTS into the streaming code scan —
    * the corpus-sized codes frame never shuffles on the join key.
    * Shared tier: x101's ranking and x103's re-ranking both read it —
    * one ADC scan serves both. */
  private def ivfpqAdc(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "ivfpq_adc") {
      val top2 = ivfTop2(s, dir)
      val assign = top2.selectExpr("vec_id as neighbor_id", "cl2[0] as cell")
      val probes = top2.filter(QuerySet)
        .selectExpr("vec_id as query_id", "explode(cl2) as cell")
      // probe routing is probes×nprobe rows — broadcast it into the
      // corpus-sized assignment stream (explicit: the hint also keeps
      // the cached frame's stored plan deterministic pre-AQE)
      val cand = broadcast(probes).join(assign, "cell")
        .filter(col("query_id") =!= col("neighbor_id"))
        .select("query_id", "neighbor_id").distinct()
      val pdist = t(s, dir, "embeddings").filter(QuerySet)
        .crossJoin(broadcast(pqCodebook(s, dir)))
        .selectExpr("vec_id as pqid", "ss as pss", "clabel as pcl",
          s"${sSubDist(s)} as pd2")
      pqCodes(s, dir).withColumnRenamed("vec_id", "neighbor_id")
        .join(broadcast(cand), Seq("neighbor_id"))
        .join(broadcast(pdist), col("query_id") === col("pqid") &&
          col("ss") === col("pss") && col("code") === col("pcl"))
        .groupBy("query_id", "neighbor_id")
        .agg(sum(expr("cast(pd2 as decimal(24,12))")).cast("double").as("adc"))
    }

  /** IVF+PQ composite top-k core (unordered): the shared ADC frame
    * ranked by the native bounded-heap top-k. */
  private def ivfpqTopkCore(s: SparkSession, dir: String): DataFrame =
    graft.plans.TopKPerKey.topKDesc(
        ivfpqAdc(s, dir).withColumn("nadc", -col("adc")),
        Seq("query_id"), "nadc", Seq("neighbor_id"), TopK)
      .selectExpr("query_id", "neighbor_id",
        sRound6("adc") + " as adc_dist", "rk")

  /** The five ANN methods' ordered top-k lists as one frame (method,
    * query_id, neighbor_id, rk) — shared tier: x62 (set-level recall)
    * and x110 (rank-level MRR/NDCG) grade the SAME retrievals, so the
    * five method cores run once per corpus, not once per harness. */
  private def annMethodTopk(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "ann_method_topk") {
      Seq("ivf" -> ivfTopkCore _, "ivfadcr" -> ivfadcrTopkCore _,
          "ivfpq" -> ivfpqTopkCore _, "lsh" -> lshTopkCore _,
          "pq" -> pqTopkCore _)
        .map { case (m, core) => core(s, dir)
          .select(lit(m).as("method"), col("query_id"), col("neighbor_id"),
            col("rk")) }
        .reduce(_ union _)
    }

  /** Candidates re-ranked per probe before the final cut (x103). */
  private val RerankK = 30

  /** IVFADC+R top-k core (unordered): the top-RerankK ADC candidates
    * per probe are re-ranked by EXACT cosine over their full vectors.
    * The candidate list (probes × k′ ids joined with the broadcast
    * probe vectors) broadcasts into one corpus stream, so the full-
    * vector fetch reads k′ payloads per probe without a shuffle. */
  private def ivfadcrTopkCore(s: SparkSession, dir: String): DataFrame = {
    val cand = graft.plans.TopKPerKey.topKDesc(
        ivfpqAdc(s, dir).withColumn("nadc", -col("adc")),
        Seq("query_id"), "nadc", Seq("neighbor_id"), RerankK)
      .select("query_id", "neighbor_id")
    val sq = withSq(s, dir)
    val probes = sq.filter(QuerySet)
      .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
        col("sq").as("sa"))
    val candP = cand.join(broadcast(probes), "query_id")
    val rr = sq
      .select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"),
        col("sq").as("sb"))
      .join(broadcast(candP), Seq("neighbor_id"))
      .selectExpr("query_id", "neighbor_id", s"${sCosIn(s)} as cos_sim")
    graft.plans.TopKPerKey.topKDesc(rr, Seq("query_id"), "cos_sim",
      Seq("neighbor_id"), TopK)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // brute-force cosine top-k: broadcast the probe set, stream the corpus
    "x11_ann_topk" -> { (s, dir) =>
      exactTopk(s, dir).orderBy("query_id", "rk")
    },

    // HARD-NEGATIVE MINING (the contrastive-training data step: for
    // each anchor, the most-similar corpus vectors with a DIFFERENT
    // label — the negatives that actually move a metric-learning /
    // embedding-model loss, per InfoNCE/triplet practice; random
    // negatives are trivially separated and teach nothing). Same
    // 100 TB shape as x11: broadcast the tiny anchor set, stream the
    // corpus once per executor (label rides the scan — no corpus-side
    // join to attach it), map-side bounded heaps collapse to top-5
    // per anchor before the exchange. The label-mismatch predicate
    // filters BEFORE scoring, so same-label rows never pay the dot
    // product.
    "x96_hard_negatives" -> { (s, dir) =>
      val corpus = t(s, dir, "embeddings")
        .selectExpr("vec_id", "label", "embedding",
          s"${sSumSq("embedding")} as sq")
      val anchors = corpus.filter(QuerySet)
        .select(col("vec_id").as("query_id"), col("label").as("q_label"),
          col("embedding").as("ea"), col("sq").as("sa"))
      val cands = corpus
        .select(col("vec_id").as("neighbor_id"), col("label").as("n_label"),
          col("embedding").as("eb"), col("sq").as("sb"))
      val scored = cands.crossJoin(broadcast(anchors))
        .filter(col("n_label") =!= col("q_label"))
        .selectExpr("query_id", "q_label", "neighbor_id", "n_label",
          s"${sCosIn(s)} as cos_sim")
      graft.plans.TopKPerKey.topKDesc(scored, Seq("query_id"), "cos_sim",
          Seq("neighbor_id"), 5)
        .selectExpr("query_id", "q_label", "rk", "neighbor_id", "n_label",
          "cos_sim")
        .orderBy("query_id", "rk")
    },

    // ANN via sign-LSH: candidates share any 4-bit band, then exact
    // cosine + top-k within candidates (approximate by design; the
    // oracle runs the identical pipeline). Candidate IDs are deduped
    // BEFORE the vectors are joined back, so the shuffle moves
    // (query_id, neighbor_id) pairs — not embedding arrays.
    "x12_ann_lsh_topk" -> { (s, dir) =>
      lshTopkCore(s, dir).orderBy("query_id", "rk")
    },

    // embedding near-dup pairs: exact-dup collapse FIRST (group by the
    // raw vector — byte-identical copies are the dominant duplication
    // mode in web corpora, and they all land in the same LSH bucket,
    // making within-bucket pair counts quadratic in the copy factor;
    // measured 93 s vs ~3 s at a 10×-copies corpus), then LSH-band
    // candidates + cosine ≥ 0.4 over representatives only. On a
    // dup-free corpus this is identical to LSH over the full set.
    "x13_cosine_neardup" -> { (s, dir) =>
      // rep selection runs over the shared norm frame, and the band
      // rows come from the shared withBands cache via a semi-join on
      // the surviving rep ids — neither the norms nor the 16-plane
      // projections are recomputed for this query
      val repIds = withSq(s, dir)
        .groupBy("embedding").agg(min(col("vec_id")).as("vec_id"))
        .select("vec_id")
      val reps = Shared.temp(withBands(s, dir)
        .join(broadcast(repIds), "vec_id"))
      val cand = reps.select(col("vec_id").as("vec_a"), col("bi"), col("bv"))
        .join(reps.select(col("vec_id").as("vec_b"), col("bi"), col("bv")),
          Seq("bi", "bv"))
        .filter(col("vec_a") < col("vec_b"))
        .select("vec_a", "vec_b").distinct()
      val side = reps.select("vec_id", "embedding", "sq").dropDuplicates("vec_id")
      cand
        .join(side.select(col("vec_id").as("vec_a"), col("embedding").as("ea"),
          col("sq").as("sa")), "vec_a")
        .join(side.select(col("vec_id").as("vec_b"), col("embedding").as("eb"),
          col("sq").as("sb")), "vec_b")
        .selectExpr("vec_a", "vec_b", s"${sCosIn(s)} as cos_sim")
        .filter("cos_sim >= 0.4")
        .orderBy("vec_a", "vec_b")
    },

    // IVF-style ANN: label centroids are the coarse quantizer (exact
    // decimal means ⇒ identical across engines); every vector is
    // assigned to its nearest centroid, probes search the 2 nearest
    // inverted lists only, exact cosine + top-k within. The corpus-side
    // work per probe is |2 lists|, not |corpus| — the IVF scale
    // contract (Jégou et al.). Assignment ordering compares raw
    // doubles, which are bit-identical by the fold contract.
    "x17_ivf_topk" -> { (s, dir) =>
      ivfTopkCore(s, dir).orderBy("query_id", "rk")
    },

    // symmetric int8 quantization (the storage-shrink step before
    // shipping embeddings to training): per-vector scale = max|v|/127,
    // q_i = round(v_i/scale) — per-row map, no shuffle. max is
    // order-insensitive so the scale is engine-exact; quantized values
    // are summarized as exact integer facts.
    "x18_embedding_quantize" -> { (s, dir) =>
      withSq(s, dir)
        .selectExpr("vec_id",
          "array_max(transform(embedding, x -> abs(cast(x as double)))) / cast(127 as double) as scale",
          "embedding")
        .selectExpr("vec_id",
          sRound6("scale") + " as scale_r",
          // scale=0 (all-zero vector) guard: x/0 is NaN, whose bigint cast
          // is engine-defined (Spark → 0, DuckDB → error) — pin q to 0
          "transform(embedding, x -> cast(case when scale = 0 then 0 else round(cast(x as double) / scale) end as bigint)) as q")
        .selectExpr("vec_id", "scale_r",
          "aggregate(q, cast(0 as bigint), (acc, x) -> acc + x) as q_sum",
          "array_min(q) as q_min", "array_max(q) as q_max")
        .orderBy("vec_id")
    },

    // RANDOM-PROJECTION DIM REDUCTION (Johnson-Lindenstrauss): project
    // 64-dim vectors onto the 16 deterministic ±1 hyperplanes, keeping
    // REAL values (sign-LSH keeps only the bit). Narrow per-row map —
    // the fused sign_bands path's real-valued sibling; projections are
    // the same md5-derived planes, so both engines embed identical
    // literal weights. Summarized per vector as the projected norm and
    // first components (decimal-rounded).
    "x34_jl_projection" -> { (s, dir) =>
      val projs = (0 until 4).map(p => sProj("embedding", p))
      val normSq = (0 until 4).map(p => s"(${sProj("embedding", p)}) * (${sProj("embedding", p)})")
        .mkString(" + ")
      withSq(s, dir)
        .selectExpr("vec_id",
          sRound6(projs(0)) + " as p0", sRound6(projs(1)) + " as p1",
          sRound6(projs(2)) + " as p2", sRound6(projs(3)) + " as p3",
          sRound6(s"sqrt($normSq)") + " as proj_norm4")
        .orderBy("vec_id")
    },

    // DISTRIBUTED GRAM/COVARIANCE MATRIX (the X^T X the whitening/PCA
    // step of an embedding pipeline reduces to): each vector emits its
    // 64×64 upper-triangle outer products via a within-row dimension
    // self-join, aggregated with exact decimal sums — map-side partial,
    // one shuffle on (i, j), linear in vectors. The eigen step itself
    // is driver-side on the 64×64 result (as it is in practice); the
    // distributed part IS this matrix.
    "x33_gram_matrix" -> { (s, dir) =>
      val dims = t(s, dir, "embeddings")
        .selectExpr("vec_id", "posexplode(embedding) as (i, vi)")
        .selectExpr("vec_id", "i", "cast(vi as double) as vi")
      dims.join(dims.selectExpr("vec_id", "i as j", "vi as vj"), "vec_id")
        .filter(col("i") <= col("j"))
        .groupBy("i", "j")
        .agg(
          sum(expr("cast(vi * vj as decimal(24,12))")).cast("double").as("gram"),
          count(lit(1)).as("n"))
        .selectExpr("cast(i as bigint) as i", "cast(j as bigint) as j",
          sRound6("gram") + " as gram", "n")
        .orderBy("i", "j")
    },

    // SEMANTIC DEDUP (SemDeDup, Abbas et al. 2023: cluster embeddings,
    // then dedup WITHIN clusters only — the clusters bound the quadratic
    // pair blowup, which is the whole scale trick): vectors are assigned
    // to their nearest centroid (same coarse quantizer as x17), then
    // same-cluster pairs with cosine ≥ 0.4 mark the higher vec_id as a
    // duplicate of the lowest matching one (one-step canonicalization;
    // transitive-closure clustering is x24's job). The pair self-join
    // carries the embedding payload directly so the cosine is computed
    // inline as rows stream out of the cluster-keyed join — nothing
    // pair-sized is ever materialized. At 100 TB the cluster count
    // (k-means k) far exceeds partitions, so the cluster-keyed shuffle
    // balances; with only 10 label-clusters here AQE absorbs the skew.
    "x36_semantic_dedup" -> { (s, dir) =>
      val cent = centroids(s, dir)
      val sq = withSq(s, dir)
      val dotExpr =
        if (s.catalog.functionExists("dot_f32f64")) "dot_f32f64(embedding, cv)"
        else "aggregate(zip_with(embedding, cv, (x, w) -> cast(x as double) * w), cast(0 as double), (acc, t) -> acc + t)"
      val scoredAll = sq.crossJoin(broadcast(cent))
        .selectExpr("vec_id", "embedding", "sq", "clabel",
          s"$dotExpr / sqrt(sq * csq) as cosc")
      // nearest-of-16-centroids assignment as ONE aggregation (min over
      // (-cosc, clabel) structs replays ORDER BY cosc DESC, clabel) —
      // no ranking exchange; embedding/sq are functionally dependent on
      // vec_id, so first() is deterministic here.
      val members = Shared.temp(scoredAll
        .groupBy("vec_id")
        .agg(expr("min(struct(-cosc as nc, clabel))").as("m"),
          first(col("embedding")).as("embedding"), first(col("sq")).as("sq"))
        .selectExpr("vec_id", "m.clabel as clabel", "embedding", "sq"))
      val pairs = members.select(col("vec_id").as("va"), col("clabel"),
          col("embedding").as("ea"), col("sq").as("sa"))
        .join(members.select(col("vec_id").as("vb"), col("clabel"),
          col("embedding").as("eb"), col("sq").as("sb")), "clabel")
        .filter(col("va") < col("vb"))
        .selectExpr("va", "vb", s"${sCosIn(s)} as cs")
        .filter("cs >= 0.4")
      val keeper = pairs.groupBy(col("vb").as("vec_id"))
        .agg(min(col("va")).as("keeper"))
      members.select("vec_id", "clabel").join(keeper, Seq("vec_id"), "left")
        .selectExpr("vec_id", "cast(clabel as bigint) as cluster",
          "coalesce(keeper, vec_id) as canonical_id",
          "keeper is null as kept")
        .orderBy("vec_id")
    },

    // KNN CLASSIFICATION — the application layer on top of the
    // similarity search: each probe takes the majority label of its 10
    // nearest labeled neighbors (ties broken toward the smaller label,
    // making the prediction total-ordered). Same broadcast-probe /
    // stream-corpus shape as x11; the vote is one tiny aggregation
    // over k·probes rows.
    "x42_knn_classify" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val corpus = withSq(s, dir)
      val probes = corpus.filter(QuerySet)
        .select(col("vec_id").as("query_id"), col("embedding").as("ea"),
          col("sq").as("sa"))
      val cands = corpus.filter(s"not ($QuerySet)")
        .select(col("vec_id").as("neighbor_id"), col("embedding").as("eb"),
          col("sq").as("sb"))
      val scored = cands.crossJoin(broadcast(probes))
        .selectExpr("query_id", "neighbor_id", s"${sCosIn(s)} as cos_sim")
      val nn = graft.plans.TopKPerKey.topKDesc(scored, Seq("query_id"),
        "cos_sim", Seq("neighbor_id"), TopK)
      val votes = nn
        .join(emb.select(col("vec_id").as("neighbor_id"), col("label")),
          "neighbor_id")
        .groupBy("query_id", "label")
        .agg(count(lit(1)).as("votes"))
      graft.plans.TopKPerKey.topKDesc(votes.selectExpr("query_id",
          "cast(label as bigint) as label", "votes"),
          Seq("query_id"), "votes", Seq("label"), 1)
        .selectExpr("query_id", "label as predicted_label", "votes")
        .orderBy("query_id")
    },

    // PRODUCT-QUANTIZATION ANN (Jégou et al., PAMI 2011 — the
    // memory-compression path: at 100 TB the raw vectors cannot stay
    // resident, but 8 one-byte codes per vector can): each vector is
    // encoded subspace-by-subspace to its nearest codeword (8 subspaces
    // × 8 dims; codebook = per-label subvector means, the same
    // label-as-trained-quantizer device as x17). Probes score the
    // corpus by asymmetric distance (ADC): a per-probe 8×10 lookup
    // table of exact subspace distances is broadcast, the corpus-side
    // scan touches ONLY the codes (one narrow join + map-side partial
    // sum — the embedding payload never moves), and the decimal-summed
    // ADC makes the ranking engine-exact. The oracle runs the identical
    // pipeline in SQL.
    "x49_pq_ann" -> { (s, dir) =>
      pqTopkCore(s, dir).orderBy("query_id", "rk")
    },

    // IVF+PQ COMPOSITE ANN — the billion-scale index layout (Jégou et
    // al.'s IVFADC): IVF coarse routing bounds WHICH vectors are scored
    // (members of the probe's 2 nearest cells — the shared ivf_top2
    // frame is both the routing and the cell assignment), and PQ-ADC
    // bounds WHAT is read per scored vector (8 one-byte codes from the
    // shared pq_codes frame + the broadcast per-probe 8×10 distance
    // table). At 100 TB the per-probe scan cost is |nprobe cells| ×
    // 8 B — neither corpus-sized nor payload-sized, which is why this
    // is the layout every production vector store converges on. The
    // candidate set is ID-only until the ADC join, the code scan joins
    // on neighbor_id (probe-bounded), and the ranking is the native
    // bounded-heap top-k.
    "x101_ivfpq_ann" -> { (s, dir) =>
      ivfpqTopkCore(s, dir).orderBy("query_id", "rk")
    },

    // IVFADC+R — the production refinement step on top of x101 (Jégou
    // et al. §V: "re-ranking with source coding"): the ADC ranking is
    // approximate (8-byte codes), so the top-k′ ADC candidates are
    // RE-RANKED by exact cosine over their full vectors before the
    // final top-k is served. At 100 TB the refinement reads k′ full
    // vectors per probe — not the corpus, not the cell — which is why
    // every production IVFADC deployment ships it: near-exact quality
    // at codes-only scan cost plus a constant-size payload read. The
    // candidate list (probes × k′ ids + probe vectors) broadcasts into
    // one corpus stream, so the vector fetch never shuffles; shares the
    // ivfpq_adc / ivf_top2 / pq_codes frames with x101 — one routing
    // pass, one encoding pass, one ADC scan across both queries.
    "x103_ivfadc_rerank" -> { (s, dir) =>
      ivfadcrTopkCore(s, dir).orderBy("query_id", "rk")
    },

    // MATRYOSHKA TRUNCATION EVAL (MRL practice: serve a 16-dim prefix
    // of the 64-dim embedding — 4× less memory and bandwidth — and
    // measure what that costs in retrieval quality): per probe, top-10
    // by cosine over the 16-dim PREFIX vs the exact 64-dim top-10
    // (x11's pipeline reused verbatim), reported as overlap, recall@10
    // and whether rank-1 survives. The read-before-committing report
    // for any truncated-serving decision. Same 100 TB shape as x11 —
    // broadcast probes, one corpus stream, native bounded-heap top-k;
    // the prefix slice narrows the scan payload rather than widening
    // the plan.
    "x102_matryoshka_eval" -> { (s, dir) =>
      val corpus = withSq(s, dir)
        .selectExpr("vec_id", "slice(embedding, 1, 16) as e16")
        .selectExpr("vec_id", "e16", s"${sSumSq("e16")} as sq16")
      val probes = corpus.filter(QuerySet)
        .select(col("vec_id").as("query_id"), col("e16").as("ea"),
          col("sq16").as("sa"))
      val cands = corpus.select(col("vec_id").as("neighbor_id"),
        col("e16").as("eb"), col("sq16").as("sb"))
      val scored = cands.crossJoin(broadcast(probes))
        .filter(col("query_id") =!= col("neighbor_id"))
        .selectExpr("query_id", "neighbor_id",
          sRound6(s"${sDot("ea", "eb")} / sqrt(sa * sb)") + " as cos16")
      val trunc = graft.plans.TopKPerKey.topKDesc(scored, Seq("query_id"),
        "cos16", Seq("neighbor_id"), TopK)
      val exact = exactTopk(s, dir)
      trunc.select(col("query_id"), col("neighbor_id"), col("rk").as("trk"))
        .join(exact.select(col("query_id"), col("neighbor_id"),
            col("rk").as("erk")).withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("query_id")
        .agg(sum(coalesce(col("hit"), lit(0))).as("o0"),
          max(when(col("trk") === 1 && col("erk") === 1, 1).otherwise(0)).as("t1"))
        .selectExpr("query_id", "cast(o0 as bigint) as n_overlap",
          sRound6(s"cast(o0 as double) / cast($TopK as double)") + " as recall_r",
          "t1 = 1 as top1_match")
        .orderBy("query_id")
    },

    // DISTRIBUTED K-MEANS (Lloyd's algorithm, 2 iterations, k = 8,
    // deterministic seeding from the first 8 vectors — the clustering
    // primitive under SemDeDup/IVF/PQ when no labels exist). Each
    // iteration is the map-reduce Lloyd step: assignment is a broadcast
    // cross product collapsed by a map-side min-struct aggregation
    // (corpus never shuffles on the cluster key for assignment), the
    // update is one posexplode + (cl, dim)-keyed exact-decimal mean —
    // the same two shuffle shapes regardless of corpus size, iterations
    // chain linearly. Exact decimal means and sequential L2 folds keep
    // every centroid coordinate and every distance bit-identical to the
    // oracle's SQL replay, so even the iterated fixpoint hash-matches.
    "x51_kmeans" -> { (s, dir) =>
      km2Asg(s, dir)
        .groupBy("cl")
        .agg(count(lit(1)).as("n_members"),
          sum(expr("cast(d2 as decimal(24,12))")).cast("double").as("inertia0"))
        .selectExpr("cast(cl as bigint) as cluster_id",
          "n_members", sRound6("inertia0") + " as inertia")
        .orderBy("cluster_id")
    },

    // SIMPLIFIED SILHOUETTE (Hruschka et al.'s centroid-based variant
    // — the cluster-quality gauge read next to x51's inertia before
    // trusting a clustering for SemDeDup/IVF/curation decisions; the
    // classic silhouette's all-pairs distances are quadratic and dead
    // at 100 TB, the centroid form is one corpus × k scan, the SAME
    // broadcast-crossJoin shape as the Lloyd assignment it grades):
    // per point, a = dist to its own centroid, b = dist to the nearest
    // OTHER centroid, s = (b-a)/max(a,b) = (b-a)/b since b ≥ a; the
    // per-vector top-2 collapses in one map-side sorted-slice
    // aggregation (no ranking exchange), exactly the ivf_top2 routing
    // shape. Reads the shared km2_cent frame — the Lloyd iterations
    // are not re-run. A cluster whose points average s → 0 overlaps
    // its neighbor (merge candidate); s → 1 is well-separated.
    "x111_kmeans_silhouette" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings").select("vec_id", "embedding")
      val two = emb.crossJoin(broadcast(km2Cent(s, dir)))
        .selectExpr("vec_id", "cl", s"${sL2In(s, "embedding", "cv")} as d2")
        .groupBy("vec_id")
        .agg(expr("slice(sort_array(collect_list(struct(d2, cl))), 1, 2)")
          .as("t2"))
        .selectExpr("vec_id", "t2[0].cl as cl", "sqrt(t2[0].d2) as sa",
          "t2[1].d2 as bd2")
      two
        .selectExpr("cl", "sa",
          // one centroid total (or a point equidistant at 0): s = 0
          """case when bd2 is null then cast(0.0 as double)
            |     when sqrt(bd2) = cast(0.0 as double) then cast(0.0 as double)
            |     else (sqrt(bd2) - sa) / sqrt(bd2) end as sil""".stripMargin)
        .groupBy("cl")
        .agg(count(lit(1)).as("n_members"),
          sum(expr("cast(sil as decimal(24,12))")).cast("double").as("sil0"),
          sum(expr("cast(sa as decimal(24,12))")).cast("double").as("sa0"))
        .selectExpr("cast(cl as bigint) as cluster_id", "n_members",
          sRound6("sil0 / cast(n_members as double)") + " as mean_silhouette",
          sRound6("sa0 / cast(n_members as double)") + " as mean_dist")
        .orderBy("cluster_id")
    },

    // EXTERNAL CLUSTER VALIDITY (purity + NMI against the planted
    // labels — x111 asks "are the clusters separated?", this asks "are
    // they the RIGHT clusters?"; the audit run whenever ground truth
    // exists for a sample, e.g. a labeled eval slice of a 100 TB
    // corpus, before trusting the clustering for curation/routing):
    // per cluster, its majority label and purity; globally, normalized
    // mutual information 2·I(C;L)/(H(C)+H(L)) — purity alone is gamed
    // by shattering into tiny clusters, NMI penalizes exactly that.
    // Everything derives from the 8×|labels| contingency table: ONE
    // (cl,label)-keyed aggregation over the shared assignment frame
    // (the Lloyd passes are not re-run), then arithmetic over ≤64
    // broadcast rows — the corpus is touched once, k·L rows move.
    "x112_cluster_purity" -> { (s, dir) =>
      // the contingency table feeds five derivations — persist it for
      // the query's lifetime (≤ k·L rows) instead of re-joining
      val ct = Shared.temp(km2Asg(s, dir).select("vec_id", "cl")
        .join(t(s, dir, "embeddings").select("vec_id", "label"), "vec_id")
        .groupBy("cl", "label").agg(count(lit(1)).as("n")))
      val nC = ct.groupBy("cl").agg(sum("n").as("n_c"))
      val nL = ct.groupBy("label").agg(sum("n").as("n_l"))
      val nTot = ct.agg(sum("n").as("n_tot"))
      // global MI and entropies: ≤ k·L cells, one-row frames throughout
      val mi = ct.join(broadcast(nC), "cl").join(broadcast(nL), "label")
        .crossJoin(broadcast(nTot))
        .selectExpr("""cast(cast(n as double) / cast(n_tot as double) *
          |ln(cast(n_tot as double) * cast(n as double) /
          |   (cast(n_c as double) * cast(n_l as double)))
          |as decimal(24,12)) as term""".stripMargin)
        .agg(sum("term").cast("double").as("mi"))
      def entropy(nk: DataFrame, c: String) = nk.crossJoin(broadcast(nTot))
        .selectExpr(s"""cast(-(cast($c as double) / cast(n_tot as double)) *
          |ln(cast($c as double) / cast(n_tot as double))
          |as decimal(24,12)) as term""".stripMargin)
        .agg(sum("term").cast("double").as(s"h_$c"))
      val nmi = mi.crossJoin(broadcast(entropy(nC, "n_c")))
        .crossJoin(broadcast(entropy(nL, "n_l")))
        .selectExpr("""case when h_n_c + h_n_l = cast(0.0 as double)
          |then cast(0.0 as double)
          |else 2.0d * mi / (h_n_c + h_n_l) end as nmi""".stripMargin)
      val maj = ct.groupBy("cl")
        .agg(expr("max(named_struct('n', n, 'negl', -label))").as("m"),
          sum("n").as("n_members"))
        .selectExpr("cl", "n_members", "-m.negl as majority_label",
          "m.n as n_maj")
      maj.crossJoin(broadcast(nmi))
        .selectExpr("cast(cl as bigint) as cluster_id",
          "n_members", "cast(majority_label as bigint) as majority_label",
          sRound6("cast(n_maj as double) / cast(n_members as double)") +
            " as purity",
          sRound6("nmi") + " as nmi")
        .orderBy("cluster_id")
    },

    // CLUSTER-BALANCED SAMPLING (the curation step after clustering:
    // draw a FIXED per-cluster budget so dominant clusters don't swamp
    // the training mix — the cluster-and-balance selection used in
    // SSL-curation pipelines over web-scale corpora, where near-
    // duplicate-heavy clusters would otherwise contribute most of the
    // epoch). Per cluster of the shared Lloyd assignment, take the
    // first CAP members in a deterministic pseudo-random order — a
    // Knuth multiplicative-hash surrogate key ((vec_id·2654435761)
    // mod 2³², a bijection on 32-bit ids since the constant is odd, so
    // no collision ties) — and report the per-cluster audit row:
    // size, taken, take rate, mean within-cluster d² of the sample.
    // Scale shape: the row_number ≤ CAP idiom is rewritten by
    // TopKRewrite into the native TopKPerKey operator — map-side
    // bounded heaps, the exchange moves ≤ k·CAP rows per partition —
    // instead of sorting corpus/k rows inside each of only k window
    // partitions (the shape that dies at 100 TB). The Lloyd tier is
    // read, not re-run; output is 8 rows at any corpus size.
    "x116_balanced_sample" -> { (s, dir) =>
      val asg = km2Asg(s, dir)
      val sizes = asg.groupBy("cl").agg(count(lit(1)).as("n_members"))
      asg
        .selectExpr("vec_id", "cl", "d2",
          "(vec_id * 2654435761) % 4294967296 as pk")
        .withColumn("rn", row_number().over(
          Window.partitionBy("cl").orderBy("pk", "vec_id")))
        .filter(col("rn") <= lit(SampleCap))
        .groupBy("cl")
        .agg(count(lit(1)).as("n_taken"),
          sum(expr("cast(d2 as decimal(24,12))")).cast("double").as("d2s"))
        .join(broadcast(sizes), "cl")
        .selectExpr("cast(cl as bigint) as cluster_id", "n_members",
          "n_taken",
          sRound6("cast(n_taken as double) / cast(n_members as double)") +
            " as take_rate",
          sRound6("d2s / cast(n_taken as double)") + " as mean_d2_taken")
        .orderBy("cluster_id")
    },

    // INCREMENTAL IVF MAINTENANCE (the ANN-index analogue of r69's
    // incremental latest view and x99's ingest-time dedup: a standing
    // IVF index is NEVER rebuilt per sync cycle — the coarse quantizer
    // stays frozen, the batch's vectors are routed to their cells, and
    // the inverted lists grow by |batch|): this cycle's new vectors
    // (re-embedded re-crawls, shifted ids) are assigned by ONE
    // |batch| × k broadcast cross join — the corpus routing tier is
    // read, not re-run — and the report is the index-health view an
    // operator checks after each cycle: per cell, standing list size,
    // new arrivals, growth fraction (a cell growing much faster than
    // the rest is drift: the frozen quantizer no longer fits the data
    // and a re-clustering cycle is due).
    "x115_incremental_ivf" -> { (s, dir) =>
      val standing = ivfTop2(s, dir)
        .selectExpr("cl2[0] as cell").groupBy("cell")
        .agg(count(lit(1)).as("n_standing"))
      val cent = centroids(s, dir)
      val dotE =
        if (s.catalog.functionExists("dot_f32f64")) "dot_f32f64(embedding, cv)"
        else "aggregate(zip_with(embedding, cv, (x, w) -> cast(x as double) * w), cast(0 as double), (acc, t) -> acc + t)"
      val asg = withSq(s, dir).filter("vec_id % 97 = 0")
        .selectExpr("vec_id + 1000000000 as vec_id", "embedding", "sq")
        .crossJoin(broadcast(cent))
        .selectExpr("vec_id", "clabel", s"$dotE / sqrt(sq * csq) as cosc")
        .groupBy("vec_id")
        .agg(expr("min(struct(-cosc as nc, clabel))").as("m"))
        .selectExpr("vec_id", "m.clabel as cell")
      standing
        .join(asg.groupBy("cell").agg(count(lit(1)).as("n_new0")),
          Seq("cell"), "full_outer")
        .selectExpr("cast(cell as bigint) as cell",
          "coalesce(n_standing, cast(0 as bigint)) as n_standing",
          "coalesce(n_new0, cast(0 as bigint)) as n_new",
          sRound6("case when coalesce(n_standing, cast(0 as bigint)) = 0 " +
            "then cast(0.0 as double) else cast(coalesce(n_new0, " +
            "cast(0 as bigint)) as double) / cast(n_standing as double) end") +
            " as growth_frac")
        .orderBy("cell")
    },

    // SEMANTIC DECONTAMINATION (x67's n-gram eval-set scrub in
    // embedding space — the stage modern pipelines run because
    // paraphrased benchmark leakage carries no shared n-grams but
    // sits next to the eval item in embedding space): flag every
    // TRAIN vector cosine-near (≥ 0.4, x13's near-dup operating
    // point) ANY held-out eval vector. Directional and bounded the
    // same way x13 is: candidates come from shared LSH band
    // collisions (eval side is a fixed slice, so its band rows
    // broadcast), candidate IDs dedup BEFORE the vectors join back,
    // and the corpus-side embedding payload joins once. At 100 TB
    // the eval set is fixed-size, so per-corpus work is one band
    // probe + |candidates| exact cosines — never corpus × eval.
    "x114_semantic_decontam" -> { (s, dir) =>
      val all = withBands(s, dir)
      val sq = withSq(s, dir)
      // the held-out benchmark is FIXED-SIZE (80 vectors, pinned ids —
      // constant from sf0.01 up, and the shifted-id copy corpora leave
      // the originals in place): a corpus-proportional eval slice made
      // the probe quadratic at the 100× decade (2.5 s → 249 s, caught
      // and fixed by measurement — see SCALE.md)
      val evalPred = "vec_id % 50 = 0 and vec_id < 4000"
      val cand = broadcast(all.filter(evalPred)
          .select(col("vec_id").as("eval_id"), col("bi"), col("bv")))
        .join(all.filter(s"not ($evalPred)")
          .select(col("vec_id").as("train_id"), col("bi"), col("bv")),
          Seq("bi", "bv"))
        .select("train_id", "eval_id").distinct()
      cand
        .join(broadcast(sq.filter(evalPred)
          .select(col("vec_id").as("eval_id"), col("embedding").as("ea"),
            col("sq").as("sa"))), "eval_id")
        .join(sq.select(col("vec_id").as("train_id"),
          col("embedding").as("eb"), col("sq").as("sb")), "train_id")
        .selectExpr("train_id", "eval_id", s"${sCosIn(s)} as cos_sim")
        .filter("cos_sim >= 0.4")
        .groupBy("train_id")
        .agg(count(lit(1)).as("n_eval_near"),
          max(expr("struct(cos_sim, eval_id)")).as("m"))
        .selectExpr("train_id", "n_eval_near", "m.eval_id as nearest_eval",
          sRound6("m.cos_sim") + " as max_cos")
        .orderBy("train_id")
    },

    // ANN RECALL HARNESS — the tuning report behind every approximate
    // index deployment (x35's role for LSH dedup, here for vector
    // search): recall@k of each approximate method (IVF 2-probe,
    // sign-LSH, PQ-ADC) against the exact brute-force top-k, per probe.
    // This is how an operating point (nprobe, band width, code size) is
    // chosen at 100 TB, where exact search corpus-wide is impossible
    // but exact search for a PROBE SAMPLE is one broadcast scan — the
    // recall measurement costs no more than the queries it grades
    // (Jégou et al. 2011 report PQ quality exactly this way, recall@R
    // over sampled queries). Composes the five method cores (IVF,
    // IVFADC+R, IVF+PQ, LSH, PQ) against ONE shared exact frame —
    // every shared stage (norms, bands, centroids, codebook, ADC) is
    // reused from the session cache, so the harness adds only the overlap
    // join of four tiny top-k lists.
    "x62_ann_recall" -> { (s, dir) =>
      // ONE exact ground-truth frame (the shared exact_topk tier entry)
      // feeds every per-method recall join, and each method contributes
      // its UNORDERED core — no per-method recompute of the ground
      // truth, no sorts inside the composition
      val exact = exactTopk(s, dir)
        .select(col("query_id"), col("neighbor_id"))
      val appr = annMethodTopk(s, dir)
        .select("method", "query_id", "neighbor_id")
      val nEx = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      appr
        .join(exact.withColumn("hit", lit(1)),
          Seq("query_id", "neighbor_id"), "left")
        .groupBy("method", "query_id")
        .agg(count(lit(1)).as("n_approx"),
          sum(coalesce(col("hit"), lit(0))).as("n_hit0"))
        .join(broadcast(nEx), "query_id")
        .selectExpr("method", "query_id", "n_approx",
          "cast(n_hit0 as bigint) as n_hit", "n_exact",
          sRound6("cast(n_hit0 as double) / cast(n_exact as double)") + " as recall_at_k")
        .orderBy("method", "query_id")
    },

    // RANKED RETRIEVAL METRICS — x62 grades the five ANN methods as
    // SETS (recall@k); this grades them as RANKINGS: MRR@k (reciprocal
    // rank of the first true neighbor — the "how far down is the first
    // good hit" latency proxy) and binary-relevance NDCG@k (position-
    // discounted overlap with the exact top-k — the standard ranking
    // score an IR/RAG eval reports). Two methods with equal recall can
    // differ sharply here: ADC-approximate orderings (pq, ivfpq) put
    // true neighbors lower than exact re-ranked ones (ivfadcr), and
    // only a rank-aware metric sees it. Same 100 TB shape as x62: each
    // method contributes its ORDERED top-k (rk is the native bounded-
    // heap operator's rank — total order, ties broken by neighbor id
    // on both engines), the exact frame doubles as its own ideal-DCG
    // (its rk IS the ideal ranking), and the composition adds only an
    // overlap join of tiny ranked lists over the session-cached stages.
    "x110_retrieval_metrics" -> { (s, dir) =>
      val exact = exactTopk(s, dir).select("query_id", "neighbor_id", "rk")
      val idcg = exact.groupBy("query_id")
        .agg(sum(expr("cast(cast(1.0 as double)/log2(cast(rk as double) + " +
            "cast(1.0 as double)) as decimal(24,12))"))
          .cast("double").as("idcg"))
      val appr = annMethodTopk(s, dir)
      appr
        .join(exact.select(col("query_id"), col("neighbor_id"),
          lit(1).as("rel")), Seq("query_id", "neighbor_id"), "left")
        .groupBy("method", "query_id")
        .agg(sum(coalesce(col("rel"), lit(0))).as("n_rel0"),
          max(expr("case when rel = 1 then cast(1.0 as double)/" +
            "cast(rk as double) else cast(0.0 as double) end")).as("rr"),
          sum(expr("cast(case when rel = 1 then cast(1.0 as double)/" +
              "log2(cast(rk as double) + cast(1.0 as double)) " +
              "else cast(0.0 as double) end as decimal(24,12))"))
            .cast("double").as("dcg"))
        .join(broadcast(idcg), "query_id")
        .selectExpr("method", "query_id", "cast(n_rel0 as bigint) as n_rel",
          sRound6("rr") + " as mrr_at_k",
          sRound6("dcg / idcg") + " as ndcg_at_k")
        .orderBy("method", "query_id")
    },

    // NPROBE OPERATING CURVE — the sweep you run BEFORE freezing the
    // one IVF knob that matters at 100 TB: nprobe trades scanned
    // corpus fraction against recall. Per (nprobe ∈ {1,2,4}, probe):
    // candidate-set recall@10 vs the exact top-10 and the fraction of
    // the corpus the probe's cells force it to scan. Candidate recall
    // IS end recall here: IVF re-ranks candidates by EXACT cosine, so
    // any exact-top-10 member that lands in the candidate set
    // necessarily survives the candidate top-10 cut (at most 9
    // candidates can outscore it). The sweep rides the shared routing
    // frame (cl4 — the 16 cells are already sorted per vector, deeper
    // routing is a wider slice, not a new pass) and the shared exact
    // ground truth; per-nprobe work is one broadcast routing join over
    // the assignment stream — the inverted lists never shuffle.
    "x106_nprobe_curve" -> { (s, dir) =>
      val top4 = ivfTop2(s, dir)
      val assign = top4.selectExpr("vec_id as neighbor_id", "cl4[0] as cell")
      val exact = exactTopk(s, dir).select("query_id", "neighbor_id")
      val nEx = exact.groupBy("query_id").agg(count(lit(1)).as("n_exact"))
      val nTot = t(s, dir, "embeddings").agg(count(lit(1)).as("n_corpus"))
      val perNp = Seq(1, 2, 4).map { np =>
        val probes = top4.filter(QuerySet)
          .selectExpr("vec_id as query_id",
            s"explode(slice(cl4, 1, $np)) as cell")
        val cand = broadcast(probes).join(assign, "cell")
          .filter(col("query_id") =!= col("neighbor_id"))
          .select("query_id", "neighbor_id").distinct()
        cand
          .join(exact.withColumn("hit", lit(1)),
            Seq("query_id", "neighbor_id"), "left")
          .groupBy("query_id")
          .agg(count(lit(1)).as("n_cand"),
            sum(coalesce(col("hit"), lit(0))).as("n_hit0"))
          .withColumn("nprobe", lit(np))
      }.reduce(_ unionByName _)
      perNp.join(broadcast(nEx), "query_id")
        .crossJoin(broadcast(nTot))
        .selectExpr("cast(nprobe as bigint) as nprobe", "query_id", "n_cand",
          "cast(n_hit0 as bigint) as n_hit", "n_exact",
          sRound6("cast(n_hit0 as double) / cast(n_exact as double)") + " as recall_at_k",
          sRound6("cast(n_cand as double) / cast(n_corpus - 1 as double)") + " as scan_frac")
        .orderBy("nprobe", "query_id")
    },

    // PQ DISTORTION REPORT — the codebook-quality gauge read BEFORE
    // committing a corpus to an 8 B/vector layout (Jégou et al. 2011
    // §IV: quantization MSE is the quantity PQ training minimizes and
    // the predictor of ADC ranking quality): per subspace, the mean
    // squared quantization error of the chosen codeword, the mean
    // subvector energy, and their ratio (noise-to-signal — the
    // scale-free number comparable across subspaces and corpora). A
    // high-NSR subspace is where to spend more codebook bits. Reads
    // the shared pq_codes frame (which retains the winning d2 — the
    // encoding pass already computed it); the energy side is one
    // corpus projection; everything after is 8 rows.
    "x107_pq_distortion" -> { (s, dir) =>
      val en = t(s, dir, "embeddings")
        .selectExpr("explode(sequence(0, 7)) as ss", "embedding")
        .selectExpr("ss", s"${sSumSq("slice(embedding, ss * 8 + 1, 8)")} as e2")
        .groupBy("ss")
        .agg(count(lit(1)).as("n_vectors"),
          sum(expr("cast(e2 as decimal(24,12))")).cast("double").as("esum"))
      val ds = pqCodes(s, dir).groupBy("ss")
        .agg(sum(expr("cast(d2 as decimal(24,12))")).cast("double").as("dsum"))
      en.join(ds, "ss")
        .selectExpr("cast(ss as bigint) as subspace", "n_vectors",
          sRound6("dsum / cast(n_vectors as double)") + " as mse",
          sRound6("esum / cast(n_vectors as double)") + " as energy",
          sRound6("(dsum / cast(n_vectors as double)) / (esum / cast(n_vectors as double))") + " as nsr")
        .orderBy("subspace")
    },

    // per-label centroids: distributed vector mean via posexplode +
    // exact decimal partial aggregation on (label, dim)
    "x14_label_centroids" -> { (s, dir) =>
      t(s, dir, "embeddings")
        .selectExpr("label", "posexplode(embedding) as (dim, v)")
        .groupBy(col("label"), col("dim"))
        .agg(
          (sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
            count(lit(1)).cast("double")).as("centroid"),
          count(lit(1)).as("n"))
        .selectExpr("label", "cast(dim as bigint) as dim", "centroid", "n")
        .orderBy("label", "dim")
    },

    // EMBEDDING DRIFT MONITOR (x74's embedding-space companion): per
    // label, the L2 distance between its centroid over the first and
    // second corpus halves (stable vec_id order standing in for
    // consecutive snapshots) — the before-retraining check that the
    // representation a curriculum/dedup decision was tuned on still
    // describes the incoming data. Centroids are x14's exact-decimal
    // means (order-free, partitioning-independent); the cross-dim norm
    // is a left-to-right 64-slot fold in dim order on BOTH engines
    // (the dDot discipline), so the single sqrt sees identical bits.
    // Everything after the one posexplode aggregation is
    // label×dim-sized — corpus volume never reaches the join or fold.
    "x80_embedding_drift" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      val ranked = graft.queries.ExactRank.withGlobalRank(
          emb.select("vec_id"), Seq(col("vec_id")))
        .selectExpr("vec_id",
          "case when rank <= n_total div 2 then 0 else 1 end as h")
      val withH = emb.join(ranked, "vec_id")
      val cents = withH
        .selectExpr("label", "h", "posexplode(embedding) as (dim, v)")
        .groupBy("label", "h", "dim")
        .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
          count(lit(1)).cast("double")).as("c"))
      val delta = cents.filter(col("h") === 0)
        .select(col("label"), col("dim"), col("c").as("c0"))
        .join(cents.filter(col("h") === 1)
          .select(col("label"), col("dim"), col("c").as("c1")),
          Seq("label", "dim"))
        .selectExpr("label", "dim", "c1 - c0 as delta")
      val drift = delta.groupBy("label")
        .agg(sort_array(collect_list(struct(col("dim"), col("delta")))).as("a"))
        .selectExpr("label",
          "sqrt(aggregate(transform(a, t -> t.delta * t.delta), cast(0 as double), (acc, x) -> acc + x)) as drift")
      withH.groupBy("label")
        .agg(sum(expr("case when h = 0 then 1 else 0 end")).as("nf"),
          sum(expr("case when h = 1 then 1 else 0 end")).as("ns"))
        .join(drift, "label")
        .selectExpr("label", "cast(nf as bigint) as n_first",
          "cast(ns as bigint) as n_second", "drift")
        .orderBy("label")
    },

    // CENTROID-MARGIN MISLABEL AUDIT (the label-noise screen run before
    // any label-conditioned curation decision — x14's centroids turned
    // into a per-vector confidence report): for every vector, squared
    // L2 to its OWN label centroid vs the NEAREST other-label centroid;
    // a negative margin (closer to a foreign centroid than to its own)
    // flags a candidate mislabel for re-annotation. Same shape as one
    // Lloyd assignment (x51): centroids are label×dim exact-decimal
    // means assembled into a broadcast of ≤ |labels| rows, the corpus
    // crossJoins that broadcast and collapses immediately via map-side
    // min-struct — corpus volume crosses the network exactly once, and
    // the fused l2_f32f64 kernel keeps the |labels|×64 hot loop in
    // codegen. Ties break to the smaller label on both engines.
    "x82_centroid_margin" -> { (s, dir) =>
      val emb = t(s, dir, "embeddings")
      emb.crossJoin(broadcast(labelCentroidArrays(s, dir)))
        .selectExpr("vec_id", "label", "cl",
          s"${sL2In(s, "embedding", "cv")} as d2")
        .groupBy("vec_id", "label")
        .agg(max(expr("case when cl = label then d2 end")).as("down"),
          expr("min(case when cl <> label then struct(d2, cl) end)").as("m"))
        .selectExpr("vec_id", "label", "m.cl as nearest_other",
          sRound6("down") + " as d_own2",
          sRound6("m.d2") + " as d_other2",
          sRound6("m.d2 - down") + " as margin",
          "m.d2 < down as suspect")
        .orderBy("vec_id")
    },

    // PER-DIMENSION WHITENING STATISTICS (the normalization table
    // computed before any cosine/L2 index is built — dead or
    // degenerate dimensions waste code budget in PQ (x49) and distort
    // IVF cell shapes (x17)): mean and population variance per
    // embedding slot, plus the standard deviation the whitening
    // transform would divide by. ONE posexplode aggregation over the
    // corpus; everything after is 64 rows. Sums are exact decimals
    // (order-free under any partitioning — the same discipline as
    // x14's centroid means), so var = E[v²] − E[v]² sees identical
    // bits on both engines before the one sqrt.
    "x84_embedding_whiten" -> { (s, dir) =>
      t(s, dir, "embeddings")
        .selectExpr("posexplode(embedding) as (dim, v)")
        .groupBy("dim")
        .agg(count(lit(1)).as("n"),
          sum(col("v").cast("double").cast(DecimalType(20, 8)))
            .cast("double").as("sv"),
          sum(expr("cast(cast(v as double) * cast(v as double) as decimal(24,12))"))
            .cast("double").as("sq"))
        .selectExpr("cast(dim as bigint) as dim", "cast(n as bigint) as n",
          sRound6("sv / cast(n as double)") + " as mean_v",
          sRound6("sq / cast(n as double) - (sv / cast(n as double)) * (sv / cast(n as double))") + " as var_v",
          sRound6("sqrt(greatest(sq / cast(n as double) - (sv / cast(n as double)) * (sv / cast(n as double)), cast(0 as double)))") + " as std_v")
        .orderBy("dim")
    },

    // LABEL-AFFINITY MATRIX — which classes are geometrically
    // confusable (the pair-level companion of x82's per-vector audit:
    // a pair with high centroid cosine / small centroid L2 is where
    // mislabels concentrate and where a classifier needs margin): for
    // every unordered label pair, the cosine and L2 between their
    // centroids. The corpus is reduced ONCE by the shared x14
    // aggregation; this query itself joins |labels|² rows — constant
    // work at any corpus width. Folds run left-to-right in dim order
    // on both engines (the dDot discipline), so cosine and distance
    // see identical bits before the one rounding.
    "x87_label_affinity" -> { (s, dir) =>
      val cents = labelCentroidArrays(s, dir)
      val a = cents.select(col("cl").as("label_a"), col("cv").as("va"))
      val b = cents.select(col("cl").as("label_b"), col("cv").as("vb"))
      a.crossJoin(broadcast(b))
        .filter(col("label_a") < col("label_b"))
        .selectExpr("label_a", "label_b",
          "aggregate(zip_with(va, vb, (x, y) -> x * y), cast(0 as double), (acc, t) -> acc + t) as dab",
          "aggregate(zip_with(va, va, (x, y) -> x * y), cast(0 as double), (acc, t) -> acc + t) as daa",
          "aggregate(zip_with(vb, vb, (x, y) -> x * y), cast(0 as double), (acc, t) -> acc + t) as dbb",
          "aggregate(zip_with(va, vb, (x, y) -> (x - y) * (x - y)), cast(0 as double), (acc, t) -> acc + t) as dl2")
        .selectExpr("label_a", "label_b",
          sRound6("dab / (sqrt(daa) * sqrt(dbb))") + " as cosine",
          sRound6("sqrt(dl2)") + " as l2_dist")
        .orderBy("label_a", "label_b")
    },

    // NN-DESCENT kNN-GRAPH — the graph-based ANN family's construction
    // pass (NN-Descent: Dong/Moses/Li, WWW 2011), the method behind
    // HNSW-style indexes re-expressed for a shared-nothing engine:
    // "a neighbor of a neighbor is likely a neighbor". Start from a
    // deterministic pseudo-random K-list per vector (md5-hash seeds —
    // no RNG, both engines derive the identical graph), then iterate
    // the LOCAL JOIN: each vector's in/out neighborhood (capped at 2K
    // rows per pivot in hash order — the paper's ρ-sampling, which
    // bounds hub blow-up structurally) proposes all C(2K,2) pairs, new
    // pairs are scored once (candidate-ID dedup BEFORE the payload
    // join), and every endpoint keeps its K best via the native
    // two-phase top-k (map-side bounded heaps). Nothing in any
    // iteration is corpus-quadratic: per pass the candidate count is
    // ≤ N·C(2K,2) and the only shuffles are the pivot groupBy and the
    // two bounded payload joins. Output: the probe rows' final graph
    // lists graded against the shared exact tier (hit = neighbor is in
    // the true top-K) — construction AND quality in one hash-pinned
    // frame.
    "x120_nndescent_graph" -> { (s, dir) => nndescentGraph(s, dir, iters = 2) },

    // GRAPH-ANN QUERY PASS — the search half of the graph family
    // (x120 builds the kNN index; this answers queries against it):
    // batched greedy beam search, the published navigable-graph query
    // routine (Dong et al.'s graph search; the degree-bounded ancestor
    // of HNSW's layer-0 walk) re-expressed as joins. Hash-seeded entry
    // points per probe, then H hops: frontier ⋈ edge lists (the SHARED
    // nnd_edges tier — the index is built once, resident, never
    // rebuilt per query), anti-join drops already-visited nodes so no
    // vector is ever scored twice, new candidates score in one bounded
    // payload join, and the next frontier is the per-probe top-B via
    // the native bounded heaps. Per hop the candidate set is
    // ≤ |probes|·B·2K rows — the adjacency is ρ-capped at 2K per node
    // (see beamWalk), so the bound is corpus-independent even at hub
    // nodes; the corpus is touched only by the two payload lookups.
    // Output: final top-K per probe graded hit-by-hit against the
    // exact tier.
    "x121_graph_beam_search" -> { (s, dir) =>
      graphBeamSearch(s, dir, hops = 2)
    },

    // GRAPH CONNECTIVITY AUDIT — the index-health check that explains
    // x121's recall ceiling: a greedy walk can only reach what the
    // graph connects, so a fragmented kNN graph caps search recall no
    // matter the beam width (the navigability premise of every
    // graph-ANN paper). Min-label propagation over the undirected
    // edges, iterated TO THE FIXPOINT (labels spread one hop per
    // round, so rounds needed = component diameter from its min-id
    // node — round 10's fixed 8-round budget self-reported 10,091
    // unconverged nodes at the 100× decade; now the loop adapts). The
    // output still carries its convergence certificate —
    // `unconverged_nodes` is 0 at the fixpoint by construction, and
    // nonzero only if the 128-round cap ever bound (shipped on every
    // row rather than silently mislabeling). Every loop frame is
    // graph-sized (|V| labels, |V|·2K edges — corpus-degree-bounded,
    // never corpus²) and eager-localCheckpoints per round (the CC-loop
    // lineage truncation). Run once per index build, like x120.
    "x122_graph_components" -> { (s, dir) => graphComponents(s, dir) },

    // GRAPH HUBNESS AUDIT — the other standing-index pathology:
    // in-degree concentration (hubness, the high-dimensional effect
    // where a few points appear in everyone's kNN list — Radovanović
    // et al., JMLR 2010). The in-degree histogram of the directed kNN
    // graph, with zero-in-degree nodes counted off the corpus frame —
    // those are exactly the vectors NO walk can ever reach (antihubs,
    // the recall floor), and the right tail is the hub mass that makes
    // beam fan-out degenerate. Two graph-sized aggregations; output is
    // bounded by the max in-degree, not the corpus.
    "x123_graph_hubness" -> { (s, dir) =>
      val sq = withSq(s, dir)
      val edges = nndescentEdges(s, dir, iters = 2)
      sq.select(col("vec_id"))
        .join(edges.groupBy(col("dst").as("vec_id"))
          .agg(count(lit(1)).as("d")), Seq("vec_id"), "left")
        .selectExpr("vec_id", "coalesce(d, cast(0 as bigint)) as in_degree")
        .groupBy("in_degree").agg(count(lit(1)).as("n_nodes"))
        .orderBy("in_degree")
    },

    // INCREMENTAL GRAPH-INDEX MAINTENANCE — the graph-family analogue
    // of x115's incremental IVF (and of r69/x99's never-rebuild
    // discipline): a standing kNN graph is NOT reconstructed per sync
    // cycle — this cycle's new vectors (re-embedded re-crawls, shifted
    // ids, x115's batch convention) are INSERTED by beam-searching the
    // frozen index with themselves as probes (HNSW's insertion
    // primitive IS its search primitive — same here: x121's walk,
    // reused verbatim via beamWalk), and each new vector's edge list
    // is the top-K of what its walk scored. Per-cycle cost is
    // |batch| · hops · B · 2K candidate scorings + two payload joins —
    // independent of corpus size; the corpus is never re-paired. The
    // found_original flag is the built-in health gauge: a re-crawl's
    // true nearest neighbor is its original (cos = 1), so the fraction
    // of batch rows that rediscover their original measures insertion-
    // time navigability on a workload with known ground truth.
    "x124_graph_insert" -> { (s, dir) => graphInsert(s, dir, hops = 2) },

    // BEAM-SEARCH OPERATING CURVE — the graph method's tuning report,
    // completing the family the way x106 (nprobe curve) completes IVF:
    // recall@K per hop count, the accuracy-vs-latency trade an operator
    // reads to pick the walk depth (each hop adds ≤ |probes|·B·2K
    // scorings; this says what each hop BUYS). Same grading tier as
    // x121; the three walks share the standing index and differ only
    // in depth. Three rows out at any corpus size.
    // ONE walk serves the whole curve (round 11): the hop-h prefix of
    // the 2-hop traversal is bit-identical to an independent h-hop
    // walk (no hop's frontier depends on the total budget), so the
    // three depths are graded off one traversal — the same shape the
    // oracle always had (one v0/v1/v2 chain, three grades).
    // Round 15: seeded by the IVF-ROUTED serving entries (the
    // `ann_search` default whenever the routing tiers are resident) —
    // the curve prices the depth knob in the configuration the engine
    // actually serves, not the retired uniform-hash seeding.
    "x126_beam_curve" -> { (s, dir) =>
      val probes = withSq(s, dir).filter(QuerySet)
        .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
      ivfWalkTrace(s, dir, probes, hops = 2).zipWithIndex.map {
        case (vis, h) =>
          gradeWalk(s, dir, vis)
            .agg(count(lit(1)).as("n_answers"),
              sum(when(col("hit"), 1L).otherwise(0L)).as("n_hits"))
            .selectExpr(s"cast($h as bigint) as hops", "n_answers",
              "n_hits",
              sRound6("cast(n_hits as double) / cast(n_answers as double)") +
                " as recall_at_k")
      }.reduce(_ unionByName _).orderBy("hops")
    },

    // GRAPH-INDEX TOMBSTONE REPAIR — the delete half of the index
    // lifecycle (x120 builds, x121 searches, x124 inserts, this
    // forgets): when a sync cycle tombstones documents (the store's
    // §1.1 soft-delete semantics reaching the ANN tier, the same
    // workflow r78 propagates through the view layer), the standing
    // kNN graph is NOT rebuilt — victim edges die, and each surviving
    // node that lost an out-edge is repaired by BRIDGING over the
    // tombstone: the victim's own out-neighbors are exactly the points
    // nearest the hole its removal leaves, so they are the candidate
    // replacements (HNSW's repair heuristic: a deleted node's
    // neighborhood inherits its connections). Per-cycle cost is
    // |damaged|·K bridge scorings + graph-sized filters — corpus-
    // independent, the never-rebuild discipline of r69/x99/x115/x124.
    // Output: each damaged node's repaired top-K edge list with the
    // bridge flag (how much of the repair is new wiring vs surviving
    // edges — the delete-time health gauge).
    "x127_graph_delete" -> { (s, dir) => graphDelete(s, dir) },

    // K-CENTER CORESET — diverse-subset selection by geometric
    // coverage (Gonzalez's greedy 2-approximation; the data-selection
    // primitive behind coreset active learning, Sener & Savarese ICLR
    // 2018, and prototype-based data pruning): pick the point farthest
    // from the chosen set, k times, reporting after each pick the
    // coverage radius (max over the corpus of distance to its nearest
    // center) — the certificate that k centers cover the corpus within
    // r (and no k-center solution beats r/2). Scale shape: the chosen
    // set is ≤ k vectors broadcast into one corpus scan per iteration;
    // the running min-distance frame is corpus-sized but NARROW
    // (vec_id, dist), eager-localCheckpointed per pick; the argmax is
    // a global top-1 on the native bounded heap — k·(one broadcast
    // probe + one heap) total, never a pairwise matrix.
    "x128_kcenter_coreset" -> { (s, dir) => kcenterCoreset(s, dir, k = 4) },

    // MARGIN-BASED BITEXT MINING — the parallel-pair miner behind
    // CCMatrix/LASER (Artetxe & Schwenk, ACL 2019): a raw cosine
    // threshold cannot mine aligned pairs because some vectors are
    // globally close to everything (x123's hubs) — the fix is the
    // RATIO MARGIN, cos(a,b) normalized by the mean of each side's own
    // kNN similarities, so a pair only scores high if the two are
    // closer to each other than to their usual neighborhoods. Sides
    // here are the planted label's parity (the cross-"language" split
    // this corpus affords). Scale shape: candidates come from the
    // shared LSH band tier (bucket collisions across sides — never
    // all-pairs, the x13/x114 discipline); the per-vector kNN-mean
    // denominators come from the RESIDENT NN-Descent graph (exactly
    // how CCMatrix reuses its FAISS index — no new neighbor search is
    // paid); only candidates are exactly scored; the final cut is a
    // global top-20 on the bounded-heap TakeOrderedAndProject. ~20
    // rows out at any corpus size.
    "x133_bitext_margin" -> { (s, dir) =>
      // mine over exact-duplicate REPS (x13's discipline): without the
      // collapse, a re-crawl-heavy corpus turns every band bucket into
      // a mega-bucket and the cross join goes quadratic in duplicate
      // multiplicity — x108's forecast, observed live at the 100×
      // exact-duplication decade. A duplicate pair carries no new
      // alignment information anyway.
      val repIds = withSq(s, dir)
        .groupBy("embedding").agg(min(col("vec_id")).as("vec_id"))
        .select("vec_id")
      val bands = withBands(s, dir)
        .join(broadcast(repIds), Seq("vec_id"), "left_semi")
      val lab = t(s, dir, "embeddings").select(col("vec_id"), col("label"))
      val ba = bands
        .join(lab.filter("label % 2 = 0").select("vec_id"),
          Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("vec_a"), col("bi"), col("bv"))
      val bb = bands
        .join(lab.filter("label % 2 = 1").select("vec_id"),
          Seq("vec_id"), "left_semi")
        .select(col("vec_id").as("vec_b"), col("bi"), col("bv"))
      val cand = ba.join(bb, Seq("bi", "bv"))
        .select("vec_a", "vec_b").distinct()
      val sq = withSq(s, dir)
      val scored = cand
        .join(sq.selectExpr("vec_id as vec_a", "embedding as ea", "sq as sa"),
          "vec_a")
        .join(sq.selectExpr("vec_id as vec_b", "embedding as eb", "sq as sb"),
          "vec_b")
        .selectExpr("vec_a", "vec_b", s"${sCosIn(s)} as cos_sim")
      // each side's usual neighborhood: exact-decimal mean of its K
      // standing out-edge scores (every node has exactly K)
      val deg = nndescentEdges(s, dir, iters = 2)
        .groupBy(col("src").as("vec_id"))
        .agg((sum(col("cos").cast(DecimalType(24, 12))).cast("double") /
          count(lit(1)).cast("double")).as("deg"))
      val top = scored
        .join(deg.selectExpr("vec_id as vec_a", "deg as deg_a"), "vec_a")
        .join(deg.selectExpr("vec_id as vec_b", "deg as deg_b"), "vec_b")
        .withColumn("m0", col("cos_sim") / ((col("deg_a") + col("deg_b")) / 2))
        .orderBy(col("m0").desc, col("vec_a"), col("vec_b"))
        .limit(20) // bounded heap; the window below ranks ≤ 20 rows
      top.withColumn("rk", row_number().over(
          Window.orderBy(col("m0").desc, col("vec_a"), col("vec_b"))))
        .selectExpr("cast(rk as bigint) as rk", "vec_a", "vec_b", "cos_sim",
          sRound6("m0") + " as margin", "m0 >= 1.0d as accepted")
        .orderBy("rk")
    },

    // BEAM-WIDTH OPERATING CURVE — the SECOND walk knob's tuning
    // report, pairing with x126 (depth) the way x106 (nprobe) pairs
    // with x107 (code budget) for IVF-PQ: recall@K per beam width
    // B ∈ {1, 5, 10} at the standard 2-hop depth. Width is the
    // recall-vs-fan-out trade (per hop ≤ |probes|·B·2K scorings —
    // LINEAR in B, so the curve prices each recall point in exact
    // candidate budget); B=1 is greedy best-first descent, the
    // degenerate walk every graph-ANN paper warns gets stuck. ONE
    // fused walk over the one resident index (pk = B); ~10 rows out
    // at any corpus size.
    // Round 15: the three widths share ONE IVF-routed entry frame (the
    // serving default — entries are width-independent, so the IVF
    // quantizer routing runs once for the whole curve).
    "x132_beam_width_curve" -> { (s, dir) =>
      val probes = withSq(s, dir).filter(QuerySet)
        .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
      val sq = withSq(s, dir)
      val ud = cappedUd(s, dir, nndescentEdges(s, dir, iters = 2), "nnd_ud")
      val entries = ivfServingEntries(s, dir, probes).localCheckpoint()
      // ONE fused walk for the whole width curve (pk = B, round 15's
      // floor diet): the per-width beam is a rank cut inside
      // [[walkFromMulti]]'s shared fold — same rows per width as three
      // independent walks, one checkpoint chain instead of three.
      val widths = Seq(1, 5, 10)
      val entriesM = entries.selectExpr(
        s"explode(array(${widths.mkString(", ")})) as pk", "src", "dst")
      val visitedM = walkFromMulti(s, sq, ud, probes, entriesM, hops = 2,
        bs = widths.map(b => b -> b).toMap)
      val truth = exactTopk(s, dir).filter(s"rk <= $GraphK")
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
          lit(true).as("hit0"))
      graft.plans.TopKPerKey.topKDesc(visitedM, Seq("pk", "src"), "cos",
          Seq("dst"), GraphK)
        .join(truth, Seq("src", "dst"), "left")
        .groupBy("pk")
        .agg(count(lit(1)).as("n_answers"),
          sum(when(coalesce(col("hit0"), lit(false)), 1L).otherwise(0L))
            .as("n_hits"))
        .selectExpr("cast(pk as bigint) as beam", "n_answers", "n_hits",
          sRound6("cast(n_hits as double) / cast(n_answers as double)") +
            " as recall_at_k")
        .orderBy("beam")
    },

    // GRAPH-INDEX LIFECYCLE — the r74 composition for the ANN tier:
    // ONE sync cycle applied to the standing kNN graph as one dag —
    // the cycle's tombstones (x127's % 89 victims) kill and repair,
    // the cycle's new vectors (x124's % 97 re-crawl batch) walk in,
    // and the compacted graph G' = kept ∪ repaired ∪ inserted is
    // audited per segment (nodes, edges, exact-decimal mean/min/max
    // cosine) — the 3-row report an operator reads after each cycle to
    // see the index's wiring quality drift. All cycle-sized work rides
    // the already-shared tiers (standing graph, capped adjacency);
    // the audit adds three bounded aggregations. The full G' is
    // corpus-sized and stays distributed — only the audit rows leave.
    "x131_graph_lifecycle" -> { (s, dir) => graphLifecycle(s, dir) },

    // HIERARCHICAL BEAM SEARCH — the HNSW layer idea completing the
    // graph family: x121's one weakness is its RANDOM entry points (a
    // walk spends its first hops just escaping them — x126 measures
    // exactly that cost). Here a 1/16 hash sample of the corpus keeps
    // its own standing NN-Descent graph (dense rank ids via ExactRank,
    // so the modular hash seeding stays valid — no partitionless
    // window); a query walks the COARSE layer first and its top-B
    // results, mapped back to original ids, seed the layer-0 walk with
    // semantically-close entries instead of random ones. Same walkFrom
    // engine, same structural per-hop bound on both legs; all four
    // index tiers (both graphs, both capped adjacencies) are standing
    // shared frames built once. Graded like x121 so the two are
    // directly comparable at equal layer-0 hop budget.
    "x129_hier_beam_search" -> { (s, dir) =>
      hierBeamSearch(s, dir, hops1 = 2, hops0 = 2)
    },

    // CONSTRUCTION-DEGREE OPERATING CURVE — the THIRD walk knob,
    // completing the graph family's tuning triptych (x126 depth, x132
    // width, this: index degree K). x126/x132 showed a recall plateau
    // the walk knobs cannot break — because a walk can only rank what
    // the GRAPH connects, the ceiling belongs to construction, not
    // search (every graph-ANN paper's M/efConstruction trade). Per
    // K ∈ {5, 10, 20}: a fresh NN-Descent build at 3 local-join rounds
    // (one more than the standing index — degree AND effort move
    // together, as HNSW couples M with efConstruction), the ρ-cap at
    // its structural 2K, the standard 2-hop/B=5 walk from the SAME
    // hash-seeded entries, graded against the exact tier at BOTH
    // recall@5 and recall@10. Cost is the curve's honest price:
    // construction pairs/iter ≤ N·C(2K,2) — linear in N at every K,
    // quadratic only in the DEGREE a user chose to pay for; per-hop
    // walk fan-out ≤ |probes|·B·2K stays structural. 3 rows out at any
    // corpus size.
    "x134_degree_sweep" -> { (s, dir) => degreeSweep(s, dir) },

    // CLUSTERED-GEOMETRY DEGREE SWEEP — x134 re-graded on the second
    // fixture (withSqClustered: 8 ±1-vertex label centers + 0.6 hash
    // noise, the shape of a real embedding corpus). The frozen
    // standing-index knobs were tuned on ~isotropic hash vectors where
    // recall@10 sits near its floor; this curve is the evidence that
    // the K ordering (and the K=10 choice) holds — or moves — when the
    // data has the cluster structure production embeddings have. Same
    // tuning slice, same probe ids, same walk, same grade: geometry is
    // the only variable between x134 and this report.
    "x135_clustered_degree_sweep" -> { (s, dir) =>
      degreeSweepClustered(s, dir) },

    // IVF-SEEDED WALK — the SEEDING lever the clustered-geometry
    // recall study exposed: on a label-clustered corpus the kNN graph
    // fragments into islands and walk recall is bounded by where the
    // entries land, not by degree or width. At the SAME 8-entry
    // budget, route each query through the IVF coarse quantizer (x17's
    // exact machinery — 8-row broadcast centroids) and seed inside its
    // top-2 cells, vs x121's uniform hash seeds — one fixed
    // standing-knob graph, two walks, two graded rows. The coarse
    // layer costs one broadcast cross-join; the walk bounds are
    // identical across seedings, so the rows isolate the lever.
    "x136_ivf_seeded_walk" -> { (s, dir) => ivfSeededWalk(s, dir) },

    // ENTRY-COUNT OPERATING CURVE — the FOURTH walk knob, completing
    // the tuning set (x126 depth, x132 width, x134 degree, this:
    // entries), isolated on the same fixed clustered-slice index x136
    // uses. Per E ∈ {4, 8, 16, 32}: the uniform hash entry frame at
    // that budget, the standard hops-2/B=10 walk, the dual grade.
    // This is the operating curve behind `ann_search --entries`: on
    // clustered corpora recall is ENTRY-limited (the graph fragments
    // into label islands), so E — not degree or width — is the knob
    // that buys recall, at serving cost E + hops·B·2K per probe with
    // NO index rebuild.
    "x137_entry_curve" -> { (s, dir) => entryCurve(s, dir) },

    // QUANTIZER CALIBRATION — the gauge behind the round-15 seeding
    // regrade: IVF-routed entries buy recall 4× cheaper per entry on
    // CLUSTERED geometry (x136: 0.5 → 1.0 at E=8) and LOSE to hash
    // diversity on isotropic vectors (the seed re-grade study, now in
    // git history: 0.2625 → 0.1625 at B=10) — so whether the quantizer
    // carries routing signal is a per-corpus MEASUREMENT, not an
    // assumption. Per cell: assigned count, mean top-1 cosine, and mean
    // top1−top2 MARGIN (the routing confidence; measured ≈ 0.76 on the
    // clustered twin vs ≈ 0.07 on the hash corpus — an order of
    // magnitude apart, split at 0.2).
    // DURABLE tier: `ann_search` consults the corpus-weighted mean
    // margin when resolving the seeding default (Main.resolveSeed) —
    // resident + margin ≥ 0.2 ⇒ ivf, resident + measured-low ⇒ hash.
    // One corpus × 8-cell broadcast pass; 6-dp-rounded cosines into
    // decimal means (the x131 contract), so the report is bit-exact
    // cross-engine.
    "x138_quantizer_margin" -> { (s, dir) => quantizerMargin(s, dir) },
  )

  /** x122's body: min-label propagation to the FIXPOINT (converge-or-
    * certify). `rounds > 0` runs that fixed budget (spec diagnostics);
    * the default -1 iterates until a round changes no labels, capped at
    * [[CcMaxRounds]] — rounds needed = the component diameter from its
    * min-id node, and each round is graph-sized (|V| labels ⋈ |V|·2K
    * edges), so adapting costs diameter·(one keyed agg + one join),
    * never corpus work. Round 10 shipped a fixed 8-round budget whose
    * own certificate reported 10,091 unconverged nodes at the 100×
    * decade — honest but wrong rows; this round the loop runs until the
    * certificate is 0 (or the cap binds, in which case the nonzero
    * certificate still rides every row rather than silently
    * mislabeling). The per-round changed-label count doubles as the
    * convergence test and the probe: when a round changes nothing, that
    * round WAS the round-R+1 probe, so unconverged_nodes = 0 exactly.
    *
    * Shuffle width: the loop frames are eagerly localCheckpointed with
    * exact sizes, and AQE (on in the bench session) coalesces the tiny
    * per-round exchanges at runtime — no session-global
    * spark.sql.shuffle.partitions mutation (round 10's narrowing
    * silently re-scoped any concurrent query on the shared session). */
  private[graft] def graphComponents(
      s: SparkSession, dir: String, rounds: Int = -1): DataFrame = {
    val edges = nndescentEdges(s, dir, iters = 2)
    val ud = edges.select("src", "dst").unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      .localCheckpoint()
    // Loop discipline shared with Dedup.clusterLabelsBuild: (a) the
    // convergence check is an `improved` flag carried ON the stepped
    // frame — a filter-count over the just-checkpointed result — not a
    // fresh self-join of two label frames per round (one less |V|⋈|V|
    // shuffle join and one less planned action per round, identical
    // label evolution and identical changed-row count); (b) the loop's
    // shuffle width tracks the GRAPH size, not the corpus default —
    // every round is joins/aggregations over |V|·2K edge rows, and at
    // the session width each round is mostly empty tasks of pure
    // scheduling overhead (the measured x32 pattern, 2.2s → 0.9s).
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.min(prevParts.toInt,
      math.max(2, (ud.count() / 100000L).toInt)).toString
    s.conf.set("spark.sql.shuffle.partitions", loopParts)
    try {
      var labels = ud.select(col("src").as("node")).distinct()
        .withColumn("lbl", col("node")).localCheckpoint()
      // step keeps (node, lbl=new label, improved=label still shrank)
      def step(l: DataFrame): DataFrame = {
        val prop = ud.join(l.selectExpr("node as src", "lbl as nlbl"), "src")
          .groupBy(col("dst").as("node")).agg(min(col("nlbl")).as("nbr"))
        l.join(prop, Seq("node"), "left")
          .selectExpr("node", "least(lbl, coalesce(nbr, lbl)) as lbl",
            "coalesce(nbr, lbl) < lbl as improved")
          .localCheckpoint()
      }
      var unconvRows = -1L
      if (rounds > 0) {
        for (_ <- 1 to rounds) labels = step(labels).drop("improved")
        unconvRows = step(labels).filter(col("improved")).count()
      } else {
        var changed = 1L; var r = 0
        while (changed > 0 && r < CcMaxRounds) {
          val next = step(labels)
          changed = next.filter(col("improved")).count()
          labels = next.drop("improved"); r += 1
        }
        unconvRows = changed // 0 at fixpoint; >0 only if the cap bound
      }
      labels.groupBy(col("lbl").as("component_id"))
        .agg(count(lit(1)).as("n_nodes"))
        .withColumn("unconverged_nodes", lit(unconvRows))
        .select("component_id", "n_nodes", "unconverged_nodes")
        .orderBy(col("n_nodes").desc, col("component_id"))
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  /** Adaptive-CC round cap — far above any kNN graph's diameter (the
    * certificate goes nonzero, not silent, if it ever binds). */
  private val CcMaxRounds = 128

  /** x121's body with the hop count explicit so the spec can grade the
    * walk itself: recall must not decrease with more hops (hops = 0
    * grades the raw hash-seeded entry points). */
  private[graft] def graphBeamSearch(
      s: SparkSession, dir: String, hops: Int): DataFrame = {
    val probes = withSq(s, dir).filter(QuerySet)
      .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
    gradeWalk(s, dir, beamWalk(s, dir, probes, hops))
  }

  /** Shared x121/x129 grading: top-K of the visited set per probe,
    * hit-flagged against the exact tier. */
  private def gradeWalk(s: SparkSession, dir: String,
      visited: DataFrame): DataFrame = {
    val K = GraphK
    val truth = exactTopk(s, dir).filter(s"rk <= $K")
      .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
        lit(true).as("hit0"))
    graft.plans.TopKPerKey.topKDesc(visited, Seq("src"), "cos",
        Seq("dst"), K)
      .join(truth, Seq("src", "dst"), "left")
      .selectExpr("src as query_id", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim",
        "coalesce(hit0, false) as hit")
      .orderBy("query_id", "rk")
  }

  /** x129's body: two-layer hierarchical beam search (the HNSW layer
    * idea on the standing NN-Descent index). The coarse layer is a
    * deterministic 1/16 hash sample of the corpus with its OWN
    * NN-Descent graph over dense rank ids (ExactRank — no partitionless
    * window anywhere in the sample indexing); a query walks the coarse
    * layer first from hash-seeded entries, and its top-B coarse results
    * — mapped back to original ids — become the layer-0 entry points,
    * replacing x121's random seeds with semantically-close ones. Both
    * legs are the same walkFrom engine with the same structural
    * per-hop bound; the coarse leg's fan-out is bounded by the SAMPLE,
    * so the whole prelude costs E + hops·B·2K coarse scorings. Both
    * layer graphs and both capped adjacencies are standing shared
    * tiers (nnd_edges/nnd_ud, nnd_l1/nnd_l1_ud) — built once, never
    * per query. `hops1` walks the coarse layer, `hops0` the base. */
  private[graft] def hierBeamSearch(s: SparkSession, dir: String,
      hops1: Int, hops0: Int): DataFrame = {
    val B = 5; val E = 8
    val l1 = Shared.shared(s, dir, "l1_sample") {
      graft.queries.ExactRank.withGlobalRank(
        withSq(s, dir)
          .filter(s"${sH("concat(vec_id, ':lvl')")} % 16 = 0"),
        Seq(col("vec_id")))
        .selectExpr("rank - 1 as vec_id", "vec_id as orig_id",
          "embedding", "sq")
    }
    val l1c = l1.select("vec_id", "embedding", "sq")
    val l1edges = Durable.tier(s, dir, "nnd_l1", s"v1-k$GraphK-t2")(
      nndescentEdgesOn(s, l1c, iters = 2))
    val ud1 = cappedUd(s, dir, l1edges, "nnd_l1_ud")
    val probes = withSq(s, dir).filter(QuerySet)
      .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
    val n1 = l1c.agg(count(lit(1)).as("nc"))
    // coarse entries: hash % |sample| in the DENSE domain (no self-
    // avoid case — src is an original id, dst a dense index; identity
    // is not equality across domains)
    val ent1 = probes.select(col("src")).crossJoin(broadcast(n1))
      .selectExpr("src",
        s"explode(transform(sequence(1, $E), j -> " +
          s"${sH("concat(src, ':entry:', j)")} % nc)) as dst")
      .distinct()
    val v1 = walkFrom(s, l1c, ud1, probes, ent1, hops1, B,
      excludeSelf = false)
    // layer-0 entry points: the coarse walk's top-B, mapped back to
    // original ids (sample-sized broadcast map join)
    val ent0 = graft.plans.TopKPerKey.topKDesc(v1, Seq("src"), "cos",
        Seq("dst"), B)
      .join(broadcast(l1.selectExpr("vec_id as dst", "orig_id")), "dst")
      .select(col("src"), col("orig_id").as("dst"))
      .filter(col("src") =!= col("dst")).distinct()
      .localCheckpoint()
    val ud0 = cappedUd(s, dir, nndescentEdges(s, dir, iters = 2), "nnd_ud")
    val v0 = walkFrom(s, withSq(s, dir), ud0, probes, ent0, hops0, B)
    gradeWalk(s, dir, v0)
  }

  /** Greedy beam walk over the standing undirected kNN graph for an
    * arbitrary probe frame (src, ea, sa) — the shared engine of x121
    * (search: probes are corpus rows) and x124 (insertion: probes are
    * this cycle's new vectors, not yet in the index). Returns every
    * scored (src, dst, cos) the walk visited.
    *
    * The walk follows the graph UNDIRECTED (out-edges ∪ in-edges), the
    * published graph-search refinement NN-Descent itself relies on: a
    * kNN digraph's reverse edges double connectivity for free, and per
    * frontier node the fan-out stays ≤ 2K — still corpus-independent.
    * Eager localCheckpoint per round, the same lineage-truncation the
    * CC loop uses (Dedup.clusterLabelsBuild): without it every hop
    * re-plans a tree that embeds all prior hops (measured: 3,960-line
    * plan, 736 exchanges, 54 s/hop at sf0.001 → ~1 s/hop truncated),
    * and the checkpointed frames carry exact sizes so the planner
    * broadcasts the probe-bounded frontier into the edge join. */
  private[graft] def beamWalk(s: SparkSession, dir: String,
      probes: DataFrame, hops: Int, b: Int = 5, e: Int = 8): DataFrame =
    beamWalkTrace(s, dir, probes, hops, b, e).last

  /** beamWalk with per-depth visited frames (see walkFromTrace). */
  /** Scratch measurement for the standing-T decision: the x126-style
    * depth-2 walk graded @K over a fresh iters-T graph (no shared
    * tiers touched). Returns (recall@K at depth 2, B=10 variant). */
  private[graft] def walkRecallExperiment(s: SparkSession, dir: String,
      iters: Int, k: Int = GraphK, clustered: Boolean = false,
      entriesN: Int = 8): String = {
    val sq = if (clustered) withSqClustered(s, dir) else withSq(s, dir)
    val edges = nndescentEdgesOn(s, sq, iters, k).localCheckpoint()
    val udRaw = edges.select("src", "dst").unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val ud = graft.plans.TopKPerKey.topKDesc(
      udRaw.selectExpr("src", "dst", s"${sH("concat(src, ':', dst)")} as hk"),
      Seq("src"), "hk", Seq("dst"), 2 * k)
      .select("src", "dst").localCheckpoint()
    val probes = sq.filter(QuerySet)
      .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
    val nRow = sq.agg(count(lit(1)).as("nc"))
    val entries = probes.select(col("src")).crossJoin(broadcast(nRow))
      .selectExpr("src",
        s"explode(transform(sequence(1, $entriesN), j -> " +
          s"${sH("concat(src, ':entry:', j)")} % nc)) as d0", "nc")
      .selectExpr("src",
        "case when d0 = src then (d0 + 1) % nc else d0 end as dst")
      .distinct()
    // self-contained ground truth (brute-force top-K within THIS
    // geometry) — grading a clustered walk against the hash-geometry
    // exact tier would be a category error, and the harness must stay
    // tier-independent anyway (it builds fresh graphs per (k, T))
    val truth = graft.plans.TopKPerKey.topKDesc(
        sq.selectExpr("vec_id as dst", "embedding as eb", "sq as sb")
          .crossJoin(broadcast(probes))
          .filter(col("dst") =!= col("src"))
          .selectExpr("src", "dst", s"${sCosIn(s)} as cos"),
        Seq("src"), "cos", Seq("dst"), GraphK)
      .select(col("src"), col("dst"), lit(true).as("hit0"))
      .localCheckpoint()
    def rec(b: Int): Double = {
      val vis = walkFrom(s, sq, ud, probes, entries, hops = 2, b = b)
      val g = graft.plans.TopKPerKey.topKDesc(vis, Seq("src"), "cos",
          Seq("dst"), GraphK)
        .join(truth, Seq("src", "dst"), "left")
        .agg((sum(when(col("hit0"), 1L).otherwise(0L)).cast("double") /
          count(lit(1)).cast("double")).as("r")).head().getDouble(0)
      g
    }
    s"depth2/B5 recall@$GraphK = ${rec(5)}; B10 = ${rec(10)}"
  }

  private def beamWalkTrace(s: SparkSession, dir: String,
      probes: DataFrame, hops: Int, b: Int = 5,
      e: Int = 8): Seq[DataFrame] = {
    val sq = withSq(s, dir)
    val edges = nndescentEdges(s, dir, iters = 2)
    val ud = cappedUd(s, dir, edges, "nnd_ud")
    val nRow = sq.agg(count(lit(1)).as("nc"))
    val entries = probes.select(col("src"))
      .crossJoin(broadcast(nRow))
      .selectExpr("src",
        s"explode(transform(sequence(1, $e), j -> " +
          s"${sH("concat(src, ':entry:', j)")} % nc)) as d0", "nc")
      .selectExpr("src",
        "case when d0 = src then (d0 + 1) % nc else d0 end as dst")
      .distinct()
    walkFromTrace(s, sq, ud, probes, entries, hops, b)
  }

  /** [[beamWalkTrace]] with IVF-ROUTED serving entries — the round-15
    * serving default's walk over the standing index: same graph, same
    * capped adjacency, same per-depth trace; only the entry frame
    * comes from [[ivfServingEntries]] (durable quantizer routing, ≤ 8
    * self-filtered entries per probe). x126/x132 grade THIS
    * configuration, so the operating curves describe what `ann_search`
    * actually serves when the IVF tiers are resident. */
  private def ivfWalkTrace(s: SparkSession, dir: String,
      probes: DataFrame, hops: Int, b: Int = 5): Seq[DataFrame] = {
    val sq = withSq(s, dir)
    val edges = nndescentEdges(s, dir, iters = 2)
    val ud = cappedUd(s, dir, edges, "nnd_ud")
    walkFromTrace(s, sq, ud, probes,
      ivfServingEntries(s, dir, probes), hops, b)
  }

  /** Undirected adjacency ρ-CAPPED at 2K per node, in the same
    * deterministic hash order the construction rounds use: a raw
    * out ∪ in union bounds out-degree (K) but not in-degree — x123's
    * hub tail would make a hub-touching hop's fan-out corpus-
    * DEPENDENT. The cap is what turns "per-hop candidates ≤
    * |probes|·B·2K" from an average-case claim into an enforced
    * invariant (spec-asserted), exactly how HNSW bounds its per-node
    * neighbor lists.
    * SHARED tier (per `tier` key): the capped adjacency is part of the
    * standing index (built once with its graph, resident beside it),
    * not per-walk work — x121, x124, x126's three depths and x129's
    * layer-0 leg all read the one "nnd_ud" copy; x129's coarse layer
    * keeps its own "nnd_l1_ud". */
  private def cappedUd(s: SparkSession, dir: String,
      edges: DataFrame, tier: String): DataFrame = {
    val cap = 2 * GraphK
    Durable.tier(s, dir, tier, standingUdVersion) {
      val udRaw = edges.select("src", "dst").unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      graft.plans.TopKPerKey.topKDesc(
        udRaw.selectExpr("src", "dst",
          s"${sH("concat(src, ':', dst)")} as hk"),
        Seq("src"), "hk", Seq("dst"), cap)
        .select("src", "dst")
    }
  }

  /** The walk engine, generic over the graph's id domain: score the
    * given entry pairs, fold to a top-`b` frontier, then `hops` rounds
    * of expand (⋈ capped adjacency) / anti-join visited / score / fold.
    * `corpus` supplies the dst-side payload (vec_id, embedding, sq) —
    * the full corpus for the layer-0 walks, the sampled coarse layer
    * (dense ids) for x129's layer-1 leg; `probes` supplies the src side
    * (src, ea, sa).
    *
    * Hop-1 frontier is the top-B of the SCORED entry visits, not all E
    * of them — the per-hop fan-out bound "≤ |probes|·B·2K" is then
    * structural for EVERY hop (hop 1 included), not an average-case
    * claim that held only because E entries overlap after dedup. Total
    * visits per probe: E entries + hops·B·2K expansions, the exact
    * bound the spec asserts.
    *
    * Eager localCheckpoint per round, the same lineage-truncation the
    * CC loop uses (Dedup.clusterLabelsBuild): without it every hop
    * re-plans a tree that embeds all prior hops (measured: 3,960-line
    * plan, 736 exchanges, 54 s/hop at sf0.001 → ~1 s/hop truncated),
    * and the checkpointed frames carry exact sizes so the planner
    * broadcasts the probe-bounded frontier into the edge join. */
  private[graft] def walkFrom(s: SparkSession, corpus: DataFrame, ud: DataFrame,
      probes: DataFrame, entries: DataFrame, hops: Int,
      b: Int = 5, excludeSelf: Boolean = true): DataFrame =
    walkFromTrace(s, corpus, ud, probes, entries, hops, b, excludeSelf).last

  /** walkFrom with the visited frame RETAINED at every depth
    * (element h = visits after h hops): one walk serves a whole
    * operating curve — x126 grades the three depths off one traversal
    * instead of walking three times (the hop-h prefix of a deeper walk
    * is bit-identical to an independent hop-h walk, because no hop's
    * frontier depends on the total hop budget — exactly how the
    * DuckDB oracle's single v0/v1/v2 chain grades all depths). */
  private def walkFromTrace(s: SparkSession, corpus: DataFrame,
      ud: DataFrame, probes: DataFrame, entries: DataFrame, hops: Int,
      b: Int = 5, excludeSelf: Boolean = true): Seq[DataFrame] = {
    def score(pairs: DataFrame): DataFrame = pairs
      .join(probes, "src")
      .join(corpus.selectExpr("vec_id as dst", "embedding as eb",
        "sq as sb"), "dst")
      .selectExpr("src", "dst", s"${sCosIn(s)} as cos")
    var visited = score(entries).localCheckpoint()
    val trace = scala.collection.mutable.ArrayBuffer(visited)
    // The frontier is NOT checkpointed: it is consumed exactly once
    // (the next hop's expand join), its lineage is depth-1 over the
    // just-checkpointed `scored`, and the only other thing the
    // checkpoint bought — the exact-size hint that made the planner
    // broadcast it into the edge join — is stated structurally instead:
    // the per-hop frontier is ≤ |probes|·B rows (corpus-independent by
    // the walk's own bound), so broadcast() is the always-right call.
    // One scheduler action saved per hop per walk (measured x129
    // 2.52 → 2.02 s, x121 1.31 → 1.06 s at sf0.1; 100× decade flat).
    var frontier = graft.plans.TopKPerKey.topKDesc(visited, Seq("src"),
      "cos", Seq("dst"), b).select("src", "dst")
    for (_ <- 1 to hops) {
      val expand0 = broadcast(frontier)
        .join(ud.selectExpr("src as dst", "dst as nxt"), "dst")
        .select(col("src"), col("nxt").as("dst")).distinct()
      // src and dst share an id domain on the layer-0 walks (probe IS a
      // corpus row — never re-score yourself); on x129's layer-1 leg
      // src is an ORIGINAL id and dst a DENSE sample index, so equality
      // is a numeric coincidence, not identity — the filter must be off
      val expand = (if (excludeSelf) expand0.filter(col("src") =!= col("dst"))
                    else expand0)
        .join(visited.select("src", "dst"), Seq("src", "dst"), "left_anti")
      val scored = score(expand).localCheckpoint()
      visited = visited.unionByName(scored).localCheckpoint()
      trace += visited
      frontier = graft.plans.TopKPerKey.topKDesc(scored, Seq("src"), "cos",
        Seq("dst"), b).select("src", "dst")
    }
    trace.toSeq
  }

  /** The PARAM-LIFTED walk engine (round 15's floor diet): one traversal
    * serves a whole operating curve by carrying the sweep parameter as a
    * column `pk` instead of re-walking per sweep point. Every frame in
    * the loop — entries, frontier, visited — is keyed by (pk, src, dst),
    * every rank fold partitions by (pk, src), and the per-param beam
    * budget is a rank cut (`rk <= b(pk)` after one top-max(b) fold), so
    * the pk = p slice of every intermediate frame is BIT-IDENTICAL to an
    * independent [[walkFrom]] at that parameter (the fold's total order
    * and the hash seeds never see pk; WalkFusionSpec pins the
    * equivalence leg-by-leg). What changes is the JOB count: the
    * per-hop localCheckpoint chain runs ONCE for the curve instead of
    * once per sweep point — x137's four entry budgets cost 4 walk
    * chains (≈190 scheduler jobs at sf0.1) unfused and one chain fused.
    * At 100 TB the fused frames are |params|× wider per stage, which is
    * free on a cluster (same task count, better slot utilization) and
    * strictly fewer barriers.
    *
    * `ud` may be SHARED across params (fixed-graph curves — x132's
    * width, x137's entries, x136's seeding: join on dst alone) or
    * PK-TAGGED (x134/x135's degree sweep, where each param owns a
    * different graph: join on (pk, dst)); detected by column presence.
    * `bs` maps pk -> beam budget; uniform budgets skip the rank cut
    * (the top-max(b) fold already is the cut). */
  private[graft] def walkFromMulti(s: SparkSession, corpus: DataFrame,
      ud: DataFrame, probes: DataFrame, entries: DataFrame, hops: Int,
      bs: Map[Int, Int], excludeSelf: Boolean = true): DataFrame = {
    val maxB = bs.values.max
    val uniformB = bs.values.toSet.size == 1
    val bbExpr = bs.toSeq.sortBy(_._1)
      .map { case (p, b) => s"when pk = $p then $b" }
      .mkString("case ", " ", " end")
    val udTagged = ud.columns.contains("pk")
    def score(pairs: DataFrame): DataFrame = pairs
      .join(probes, "src")
      .join(corpus.selectExpr("vec_id as dst", "embedding as eb",
        "sq as sb"), "dst")
      .selectExpr("pk", "src", "dst", s"${sCosIn(s)} as cos")
    def fold(scored: DataFrame): DataFrame = {
      val ranked = graft.plans.TopKPerKey.topKDesc(scored,
        Seq("pk", "src"), "cos", Seq("dst"), maxB)
      (if (uniformB) ranked else ranked.filter(col("rk") <= expr(bbExpr)))
        .select("pk", "src", "dst")
    }
    var visited = score(entries).localCheckpoint()
    // same frontier discipline as walkFromTrace: consumed once, depth-1
    // lineage over checkpointed `scored`, probe-bounded — broadcast
    // hint instead of a per-hop checkpoint action
    var frontier = fold(visited)
    for (_ <- 1 to hops) {
      val expand0 =
        (if (udTagged)
           broadcast(frontier).join(
             ud.selectExpr("pk", "src as dst", "dst as nxt"),
             Seq("pk", "dst"))
         else broadcast(frontier)
           .join(ud.selectExpr("src as dst", "dst as nxt"), "dst"))
          .select(col("pk"), col("src"), col("nxt").as("dst")).distinct()
      val expand = (if (excludeSelf) expand0.filter(col("src") =!= col("dst"))
                    else expand0)
        .join(visited.select("pk", "src", "dst"), Seq("pk", "src", "dst"),
          "left_anti")
      val scored = score(expand).localCheckpoint()
      visited = visited.unionByName(scored).localCheckpoint()
      frontier = fold(scored)
    }
    visited
  }

  /** The fused twin of the slice grade: one aggregation pass emits the
    * whole curve — top-[[TopK]] per (pk, probe) of the fused visited
    * set, self dropped on the orig-id map, dual-graded per pk.
    * `tagExpr` maps pk to the row's public label column. */
  private def gradeWalkMulti(s: SparkSession, smap: DataFrame,
      truth: DataFrame, visitedM: DataFrame, tagCol: String,
      tagExpr: String): DataFrame =
    graft.plans.TopKPerKey.topKDesc(
        visitedM.join(broadcast(smap), "dst")
          .filter(col("orig_id") =!= col("src"))
          .select("pk", "src", "dst", "cos"),
        Seq("pk", "src"), "cos", Seq("dst"), TopK)
      .join(truth, Seq("src", "dst"), "left")
      .groupBy("pk")
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

  /** x134's body: per construction degree K, a fresh 3-round NN-Descent
    * graph (nndescentEdgesOn with k = K — same seeds/cap/fold algebra
    * as the standing index, only the degree knob moved), its own 2K
    * ρ-capped undirected adjacency, the standard hops=2/B=5/E=8 walk,
    * and a dual grade (recall@5 and recall@10).
    *
    * The sweep builds on a TUNING SLICE, not the corpus: a
    * deterministic 1/10 sample (vec_id % 10) under dense rank ids
    * (nndescentEdgesOn's modular hash seeding needs a dense domain —
    * x129's coarse-layer move). Index construction is self-averaging,
    * so the K-ordering measured on the slice is the corpus's ordering
    * at a tenth of the triple-build cost — this is how construction
    * parameters are tuned in practice at 100 TB (on a sample, never by
    * building three full-corpus indexes). The grade's ground truth is
    * the slice's OWN exact top-k: the walk can only ever answer from
    * the slice, so grading against full-corpus truth would cap recall
    * at the sampling rate and erase the K-signal the sweep measures.
    * The per-K graphs are one-query temporaries, deliberately NOT
    * shared tiers: the sweep is an index-construction tuning report an
    * operator runs once per corpus to PICK the standing degree, not a
    * resident structure.
    *
    * The three K-legs run CONCURRENTLY (scala.concurrent.Future): each
    * leg is a chain of eager localCheckpoint rounds (the lineage-
    * truncation the loops need), so a sequential sweep serializes ~36
    * small blocking jobs and pays the scheduler gap between every one;
    * overlapping the legs fills those gaps with the other graphs' work
    * (measured: 21.0 → 8.6 s at sf0.1). MEASURED DECISION (round 15):
    * the param-lifted fusion that closed the fixed-graph curves
    * ([[walkFromMulti]], x132/x136/x137) was built for this sweep too
    * — one pk-tagged NN-Descent loop for all three degrees — and RACED
    * the Future overlap: fused lost 4.9 vs 4.8 s at sf0.1 and 31.6 vs
    * 23.3 s at 100× (x135 likewise), because a single leg's build
    * stages never saturate the machine (slice-sized frames), so the
    * overlap's idle-core fill beats the job-count cut at every decade
    * measured. Reverted to the concurrent legs; SCALE.md records the
    * race so the fusion isn't re-tried. */
  private[graft] def degreeSweep(s: SparkSession, dir: String): DataFrame =
    degreeSweepOn(s, withSq(s, dir))

  /** x135's body: the identical degree sweep on the CLUSTERED twin
    * geometry ([[withSqClustered]]) — same slice, same probes-by-id,
    * same K legs, same dual grade — so the two operating curves
    * (isotropic hash vectors vs a realistic label mixture) differ in
    * exactly one variable: the data geometry. */
  private[graft] def degreeSweepClustered(
      s: SparkSession, dir: String): DataFrame =
    degreeSweepOn(s, withSqClustered(s, dir))

  /** The sweep generic over the (vec_id, embedding, sq) corpus frame —
    * x134 passes the hash geometry, x135 the clustered twin. */
  private def degreeSweepOn(s: SparkSession, corpus: DataFrame): DataFrame = {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration.Duration
    import scala.concurrent.ExecutionContext.Implicits.global
    val ks = Seq(5, 10, 20)
    val sq = corpus
    val probes = sq.filter(QuerySet)
      .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
    val s10 = graft.queries.ExactRank.withGlobalRank(
        sq.filter("vec_id % 10 = 0"), Seq(col("vec_id")))
      .selectExpr("rank - 1 as vec_id", "vec_id as orig_id",
        "embedding", "sq")
      .localCheckpoint() // shared by all three legs — force once
    val s10c = s10.select("vec_id", "embedding", "sq")
    // a probe divisible by 10 meets its own vector in the slice: the
    // self hit is dropped on BOTH sides (truth here, answers below)
    val smap = s10.selectExpr("vec_id as dst", "orig_id")
    val truth = graft.plans.TopKPerKey.topKDesc(
        s10.selectExpr("vec_id as dst", "orig_id", "embedding as eb",
            "sq as sb")
          .crossJoin(broadcast(probes))
          .filter(col("orig_id") =!= col("src"))
          .selectExpr("src", "dst", s"${sCosIn(s)} as cos_sim"),
        Seq("src"), "cos_sim", Seq("dst"), TopK)
      .select(col("src"), col("dst"), col("rk").as("erk"))
      .localCheckpoint()
    val nRow = s10c.agg(count(lit(1)).as("nc"))
    // the walk's entry seeds are graph-independent — one frame shared
    // across the three degrees. hash % |slice| in the DENSE domain:
    // src is an original id, dst a dense slice index, so there is no
    // self-avoid case (identity is not equality across domains —
    // x129's coarse entries)
    val entries = probes.select(col("src")).crossJoin(broadcast(nRow))
      .selectExpr("src",
        s"explode(transform(sequence(1, 8), j -> " +
          s"${sH("concat(src, ':entry:', j)")} % nc)) as dst")
      .distinct()
      .localCheckpoint() // shared by all three legs — force once
    // sc.setJobGroup is thread-local: without re-pinning it inside
    // each Future the legs' jobs escape Bench's per-query group and
    // BENCH_DETAIL undercounts x134's jobs/stages
    val jobGroup = s.sparkContext.getLocalProperty("spark.jobGroup.id")
    val jobDesc = s.sparkContext.getLocalProperty("spark.job.description")
    val legs = ks.map { k => Future {
      if (jobGroup != null)
        s.sparkContext.setJobGroup(jobGroup,
          if (jobDesc == null) jobGroup else jobDesc)
      val edges = nndescentEdgesOn(s, s10c, iters = 3, k = k)
      val udRaw = edges.select("src", "dst").unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      // ρ-cap at THIS graph's 2K (the structural per-hop bound scales
      // with the degree the user is pricing)
      val ud = graft.plans.TopKPerKey.topKDesc(
        udRaw.selectExpr("src", "dst",
          s"${sH("concat(src, ':', dst)")} as hk"),
        Seq("src"), "hk", Seq("dst"), 2 * k).select("src", "dst")
      val visited = walkFrom(s, s10c, ud, probes, entries, hops = 2,
        b = 5, excludeSelf = false)
      graft.plans.TopKPerKey.topKDesc(
          visited.join(broadcast(smap), "dst")
            .filter(col("orig_id") =!= col("src"))
            .select("src", "dst", "cos"),
          Seq("src"), "cos", Seq("dst"), TopK)
        .join(truth, Seq("src", "dst"), "left")
        .agg(
          sum(when(col("rk") <= 5, 1L).otherwise(0L)).as("n5"),
          sum(when(col("rk") <= 5 && col("erk") <= 5, 1L).otherwise(0L))
            .as("h5"),
          count(lit(1)).as("n10"),
          sum(when(col("erk").isNotNull, 1L).otherwise(0L)).as("h10"))
        .selectExpr(s"cast($k as bigint) as degree",
          "n5 as n_answers_5", "h5 as n_hits_5",
          sRound6("cast(h5 as double) / cast(n5 as double)") +
            " as recall_at_5",
          "n10 as n_answers_10", "h10 as n_hits_10",
          sRound6("cast(h10 as double) / cast(n10 as double)") +
            " as recall_at_10")
    } }
    legs.map(Await.result(_, Duration.Inf))
      .reduce(_ unionByName _).orderBy("degree")
  }

  /** The shared evaluation index for x136/x137: the clustered 1/10
    * slice under dense ids (label carried — the IVF quantizer is
    * learned on the indexed slice), one standing-knob (K=[[GraphK]],
    * T=2) graph + its 2K ρ-capped adjacency, the full-geometry probe
    * set, and the slice's brute-force truth. Everything
    * localCheckpointed once and shared by every walk leg. */
  private[graft] final case class SliceIndex(s10: DataFrame, s10c: DataFrame,
      smap: DataFrame, probes: DataFrame, truth: DataFrame, ud: DataFrame)

  private[graft] def clusteredSliceIndex(s: SparkSession, dir: String): SliceIndex = {
    // SHARED standing structures (round 15): x136, x137 and any future
    // tuning query at the FIXED standing-knob index measure a SERVING
    // lever (seeding, entry budget) against one resident evaluation
    // index — so the slice, its brute-force truth and its graph are
    // cross-query shared frames (the nnd_ud pattern), built once per
    // session and reused, not rebuilt per curve.
    val full = withSqClustered(s, dir)
    val probes = graft.queries.Shared.shared(s, dir, "cslice_probes_v1") {
      full.filter(QuerySet)
        .selectExpr("vec_id as src", "embedding as ea", "sq as sa")
        .localCheckpoint()
    }
    val s10 = graft.queries.Shared.shared(s, dir, "cslice_s10_v1") {
      graft.queries.ExactRank.withGlobalRank(
          full.join(t(s, dir, "embeddings").select("vec_id", "label"),
            "vec_id").filter("vec_id % 10 = 0"),
          Seq(col("vec_id")))
        .selectExpr("rank - 1 as vec_id", "vec_id as orig_id", "label",
          "embedding", "sq")
        .localCheckpoint()
    }
    val s10c = s10.select("vec_id", "embedding", "sq")
    val smap = s10.selectExpr("vec_id as dst", "orig_id")
    val truth = graft.queries.Shared.shared(s, dir, "cslice_truth_v1") {
      graft.plans.TopKPerKey.topKDesc(
          s10.selectExpr("vec_id as dst", "orig_id", "embedding as eb",
              "sq as sb")
            .crossJoin(broadcast(probes))
            .filter(col("orig_id") =!= col("src"))
            .selectExpr("src", "dst", s"${sCosIn(s)} as cos_sim"),
          Seq("src"), "cos_sim", Seq("dst"), TopK)
        .select(col("src"), col("dst"), col("rk").as("erk"))
        .localCheckpoint()
    }
    val ud = graft.queries.Shared.shared(s, dir, "cslice_ud_v1") {
      val edges = nndescentEdgesOn(s, s10c, iters = 2, k = GraphK)
      val udRaw = edges.select("src", "dst").unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      graft.plans.TopKPerKey.topKDesc(
          udRaw.selectExpr("src", "dst",
            s"${sH("concat(src, ':', dst)")} as hk"),
          Seq("src"), "hk", Seq("dst"), 2 * GraphK)
        .select("src", "dst").localCheckpoint()
    }
    SliceIndex(s10, s10c, smap, probes, truth, ud)
  }

  /** The PER-LEG reference grade (x136/x137's pre-fusion body): one
    * independent [[walkFrom]] + grade per parameter. Kept as the
    * equivalence oracle for the fused engine — WalkFusionSpec asserts
    * [[walkFromMulti]]'s per-pk slices reproduce this leg-by-leg. */
  private[graft] def gradeWalk(s: SparkSession, ix: SliceIndex,
      entries: DataFrame, b: Int, tagCol: String,
      tagExpr: String): DataFrame = {
    val visited = walkFrom(s, ix.s10c, ix.ud, ix.probes, entries,
      hops = 2, b = b, excludeSelf = false)
    graft.plans.TopKPerKey.topKDesc(
        visited.join(broadcast(ix.smap), "dst")
          .filter(col("orig_id") =!= col("src"))
          .select("src", "dst", "cos"),
        Seq("src"), "cos", Seq("dst"), TopK)
      .join(ix.truth, Seq("src", "dst"), "left")
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
  }

  /** The uniform hash entry frame over the slice's dense domain —
    * x134's exact seeding text with the entry count as the knob. */
  private[graft] def hashEntries(s: SparkSession, ix: SliceIndex,
      e: Int): DataFrame = {
    val nRow = ix.s10c.agg(count(lit(1)).as("nc"))
    ix.probes.select(col("src")).crossJoin(broadcast(nRow))
      .selectExpr("src",
        s"explode(transform(sequence(1, $e), j -> " +
          s"${sH("concat(src, ':entry:', j)")} % nc)) as dst")
      .distinct()
  }

  /** x136's body: the SEEDING lever at a FIXED graph. The round-14
    * walk-recall study (SCALE.md; its main is in git history) found
    * that on clustered geometry the standing graph fragments into
    * label islands, so recall is ENTRY-limited — uniform hash seeds land in the wrong
    * island and no amount of walking escapes it (E=8→64 lifted
    * recall@10 from 0.20 to 0.84 at fixed K=10). The principled fix at
    * a FIXED entry budget is semantic placement: route each query
    * through the IVF coarse quantizer (the exact x17 machinery) and
    * seed inside its top-nprobe cells — IVF as the coarse layer of a
    * graph walk, the hybrid DiskANN/HNSW deployments run in practice.
    *
    * One standing-knob (K=[[GraphK]], T=2) NN-Descent graph on the
    * 1/10 clustered slice; two hops-2/B=10 walks that differ ONLY in
    * their 8-entry seed set — `hash` (uniform, x121's seeding text) vs
    * `ivf` (top-2 cells × 4 deterministic cell representatives); one
    * grade each against the slice's brute-force truth. Everything else
    * (graph, adjacency cap, walk bounds, probe set) is shared, so the
    * two rows isolate the seeding variable. Scale shape: quantizer =
    * 8-row broadcast; assignment = one slice×8 narrow pass; per-probe
    * walk cost identical across seedings (same E/B/2K bounds). */
  private[graft] def ivfSeededWalk(s: SparkSession, dir: String): DataFrame = {
    val ix = clusteredSliceIndex(s, dir)
    // One fused walk, pk 0 = hash seeds / 1 = ivf seeds — the two legs
    // share every frame except their entry rows ([[walkFromMulti]]).
    val entriesM = hashEntries(s, ix, 8)
      .selectExpr("cast(0 as int) as pk", "src", "dst")
      .unionByName(ivfEntries(s, ix.s10, ix.probes)
        .selectExpr("cast(1 as int) as pk", "src", "dst"))
    val visitedM = walkFromMulti(s, ix.s10c, ix.ud, ix.probes, entriesM,
      hops = 2, bs = Map(0 -> 10, 1 -> 10), excludeSelf = false)
    gradeWalkMulti(s, ix.smap, ix.truth, visitedM, "seeding",
        "case when pk = 0 then 'hash' else 'ivf' end")
      .orderBy("seeding")
  }

  /** x137's body: the FOURTH walk knob — ENTRY COUNT — isolated on the
    * same fixed index x136 uses (clustered slice, standing K=10/T=2
    * graph). Per E ∈ {4, 8, 16, 32}: the uniform hash entry frame at
    * that budget, the standard hops-2/B=10 walk, the dual grade — so
    * the four rows price the escape-the-wrong-island cost the recall
    * study measured (on clustered corpora recall is entry-limited; the
    * E curve is the operating curve behind `ann_search --entries`).
    * The four budgets share ONE graph/adjacency/truth and ONE fused
    * walk ([[walkFromMulti]], pk = E — round 15's floor diet: one
    * checkpoint chain instead of four); per-budget cost is the walk's
    * structural E + hops·B·2K bound — the INDEX is not rebuilt per
    * row, unlike the degree curve where construction IS the knob. */
  private[graft] def entryCurve(s: SparkSession, dir: String): DataFrame = {
    val ix = clusteredSliceIndex(s, dir)
    val es = Seq(4, 8, 16, 32)
    // sequence(1, pk) is a prefix of sequence(1, maxE) and the entry
    // hash sees only (src, j): each pk-slice is hashEntries(e) exactly
    val nRow = ix.s10c.agg(count(lit(1)).as("nc"))
    val entriesM = ix.probes.select(col("src")).crossJoin(broadcast(nRow))
      .selectExpr("src", "nc",
        s"explode(array(${es.mkString(", ")})) as pk")
      .selectExpr("pk", "src",
        s"explode(transform(sequence(1, pk), j -> " +
          s"${sH("concat(src, ':entry:', j)")} % nc)) as dst")
      .distinct()
    val visitedM = walkFromMulti(s, ix.s10c, ix.ud, ix.probes, entriesM,
      hops = 2, bs = es.map(_ -> 10).toMap, excludeSelf = false)
    gradeWalkMulti(s, ix.smap, ix.truth, visitedM, "entries",
        "cast(pk as bigint)")
      .orderBy("entries")
  }

  /** The SERVING twin of x136's [[ivfEntries]], over the STANDING
    * corpus index (hash geometry) — `ann_search --seed ivf`. Routes
    * each probe to its top-2 centroid cells (the durable 8-row
    * `centroids` quantizer) and seeds at each routed cell's 4
    * hash-ranked representatives, taken from the durable routing
    * tier's own assignment (`ivf_top2`'s top-1 cell). Entry budget
    * ≤ 8 per probe — the hash seeding's default; all side-structures
    * (quantizer, 32-row representative table) broadcast-sized. */
  /** True iff BOTH durable IVF routing tiers (`centroids` and
    * `ivf_top2`, under their current builder versions) are installed
    * and fingerprint-fresh for this corpus under the session's index
    * root — the condition under which `ann_search` DEFAULTS to IVF
    * seeding (the round-14 recall study's measured result: IVF-routed
    * entries reach recall@10 = 1.0 at E=8 on clustered geometry where
    * hash seeds need E=32 — a 4× serving-cost saving whenever the
    * tiers are already resident). */
  private[graft] def ivfTiersFresh(s: SparkSession, dir: String): Boolean =
    Durable.root(s).exists { r =>
      Durable.load(s, r, dir, "centroids", "v1").isDefined &&
        Durable.load(s, r, dir, "ivf_top2", "v1-r4").isDefined
    }

  /** x138's body: per-cell quantizer calibration over the STANDING
    * corpus — assigned count, mean top-1 cosine, and mean top1−top2
    * routing MARGIN, 6-dp-rounded cosines into decimal means (the x131
    * exactness contract). DURABLE tier: the corpus-weighted mean
    * margin is the gauge [[quantizerGauge]] serves to
    * `Main.resolveSeed`. One corpus × |cells| broadcast pass. */
  private[graft] def quantizerMargin(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "quantizer_margin", "v1") {
      val cent = centroids(s, dir)
      val dotE =
        if (s.catalog.functionExists("dot_f32f64")) "dot_f32f64(embedding, cv)"
        else "aggregate(zip_with(embedding, cv, (x, w) -> cast(x as double) * w), cast(0 as double), (acc, t) -> acc + t)"
      withSq(s, dir).crossJoin(broadcast(cent))
        .selectExpr("vec_id", "clabel", s"$dotE / sqrt(sq * csq) as cosc")
        .groupBy("vec_id")
        .agg(expr("sort_array(collect_list(struct(-cosc as nc, clabel)))").as("a"))
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
    * `quantizer_margin` tier — ONLY if installed and fresh, never
    * building (consulting a gauge must not turn a CLI point lookup
    * into a corpus pass). None = no gauge installed. */
  private[graft] def quantizerGauge(s: SparkSession, dir: String): Option[Double] =
    Durable.root(s).flatMap { r =>
      Durable.load(s, r, dir, "quantizer_margin", "v1").map { t =>
        val row = t.selectExpr(
          "sum(cast(n_vecs as double) * mean_margin) as a",
          "sum(cast(n_vecs as double)) as b").head()
        row.getDouble(0) / row.getDouble(1)
      }
    }

  /** The measured split between geometries where IVF routing wins
    * (clustered: mean margin ≈ 0.76, IVF recall@10 1.0 vs hash 0.5 at
    * E=8) and where it loses (isotropic: ≈ 0.07, IVF 0.1625 vs hash
    * 0.2625 at B=10) — an order of magnitude apart; 0.2 splits them
    * with headroom on both sides. */
  private[graft] val QuantizerMarginThreshold = 0.2

  private def ivfServingEntries(s: SparkSession, dir: String,
      probes: DataFrame): DataFrame = {
    val cent = centroids(s, dir).selectExpr("clabel as cl", "cv", "csq")
    val asg = ivfTop2(s, dir)
      .selectExpr("vec_id", "element_at(cl2, 1) as cell")
    // probe and corpus ids share one domain here (unlike x136's dense
    // slice): a probe ranked among its own cell's representatives would
    // seed (src, src) and return itself at cos 1.0 rank-1 — filter self
    // out, matching the hash path's entry remap and x11's exclusion
    ivfRoutedEntries(s, cent, asg, probes)
      .filter(col("src") =!= col("dst"))
  }

  /** The rep-selection + routing tail shared by [[ivfEntries]] and
    * [[ivfServingEntries]] (they differ only in where the quantizer
    * and the assignment come from): 4 hash-ranked representatives per
    * cell, each probe routed to its top-2 cells by centroid cosine,
    * entries = routed cells' representatives — ≤ 8 (src, dst) rows per
    * probe, every side-structure broadcast-sized. `cent` = (cl, cv,
    * csq); `asg` = (vec_id, cell); `probes` = (src, ea, sa). */
  private def ivfRoutedEntries(s: SparkSession, cent: DataFrame,
      asg: DataFrame, probes: DataFrame): DataFrame = {
    val cell4 = graft.plans.TopKPerKey.topKDesc(
        asg.selectExpr("cell", "vec_id as dst",
          s"${sH("concat(cell, ':', vec_id)")} as hk"),
        Seq("cell"), "hk", Seq("dst"), 4)
      .select("cell", "dst")
    val dotE =
      if (s.catalog.functionExists("dot_f32f64")) "dot_f32f64(ea, cv)"
      else "aggregate(zip_with(ea, cv, (x, w) -> cast(x as double) * w), cast(0 as double), (acc, t) -> acc + t)"
    val rout = graft.plans.TopKPerKey.topKDesc(
        probes.crossJoin(broadcast(cent))
          .selectExpr("src", "cl", s"$dotE / sqrt(sa * csq) as cosc"),
        Seq("src"), "cosc", Seq("cl"), 2)
      .selectExpr("src", "cl as cell")
    rout.join(broadcast(cell4), "cell").select("src", "dst").distinct()
  }

  /** x136's IVF entry construction, factored for the spec: per-label
    * exact-decimal centroids of the slice (8-row broadcast quantizer),
    * each slice vector assigned to its argmax-cosine cell, 4
    * deterministic (hash-ranked) representatives kept per cell, and
    * each probe routed to its top-2 cells — entries = routed cells'
    * representatives, ≤ 8 per probe (the hash seeding's exact budget).
    * `s10` = (vec_id DENSE, orig_id, label, embedding, sq); `probes` =
    * (src, ea, sa). Returns (src, dst). */
  private[graft] def ivfEntries(s: SparkSession, s10: DataFrame,
      probes: DataFrame): DataFrame = {
    val cent = s10.selectExpr("label", "posexplode(embedding) as (dim, v)")
      .groupBy("label", "dim")
      .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
        count(lit(1)).cast("double")).as("c"))
      .groupBy(col("label").as("cl"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)").as("cv"))
      .selectExpr("cl", "cv",
        "aggregate(cv, cast(0 as double), (acc, x) -> acc + x * x) as csq")
      .localCheckpoint()
    def dotE(vec: String) =
      if (s.catalog.functionExists("dot_f32f64")) s"dot_f32f64($vec, cv)"
      else s"aggregate(zip_with($vec, cv, (x, w) -> cast(x as double) * w), cast(0 as double), (acc, t) -> acc + t)"
    val asg = s10.select("vec_id", "embedding", "sq")
      .crossJoin(broadcast(cent))
      .selectExpr("vec_id", "cl", s"${dotE("embedding")} / sqrt(sq * csq) as cosc")
      .groupBy("vec_id")
      .agg(expr("min(struct(-cosc as nc, cl))").as("m"))
      .selectExpr("vec_id", "m.cl as cell")
    // no self filter: src is a full-geometry probe id, dst a DENSE
    // slice index — equality is a numeric coincidence, not identity
    // (x129's layer-1 convention); the grade drops orig_id = src rows
    ivfRoutedEntries(s, cent, asg, probes)
  }

  /** The insertion primitive shared by x124 and the streaming
    * maintenance gate: beam-search the FROZEN standing index with the
    * new vectors as probes, each new vector's edge list = top-K of its
    * walk. `probes` = (src, ea, sa); per-call cost
    * |probes|·hops·B·2K scorings — corpus-independent. */
  private[graft] def insertEdges(s: SparkSession, dir: String,
      probes: DataFrame, hops: Int): DataFrame = {
    val K = GraphK
    val visited = beamWalk(s, dir, probes, hops)
    graft.plans.TopKPerKey.topKDesc(visited, Seq("src"), "cos",
        Seq("dst"), K)
      .selectExpr("src as new_id", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim")
  }

  /** User-facing ANN search over the standing index (the `ann_search`
    * CLI verb): beam-walk the durable kNN graph with arbitrary probe
    * vectors and return each probe's top-k. Identical engine to x121
    * (same entries, same per-hop ≤ B·2K bound); `k` may differ from
    * the construction degree — the walk's visited set is what's
    * ranked. Probes: (src, ea, sa).
    *
    * Tombstone-aware: after a `compact_index` cycle the installed
    * graph has no edge INTO a victim, but the walk's hash-seeded entry
    * points are drawn from the whole corpus payload and can still land
    * on (and score) a tombstoned vector — so the visited set is
    * anti-joined against the durable `tombstones` tier when one is
    * fresh under the session's index root. Victims-only and broadcast-
    * sized, the same shape as the delete itself. */
  private[graft] def annSearch(s: SparkSession, dir: String,
      probes: DataFrame, hops: Int, k: Int, b: Int = 5,
      e: Int = 8, seed: String = "hash"): DataFrame = {
    val vis0 =
      if (seed == "ivf") {
        val sq = withSq(s, dir)
        val edges = nndescentEdges(s, dir, iters = 2)
        val ud = cappedUd(s, dir, edges, "nnd_ud")
        walkFrom(s, sq, ud, probes,
          ivfServingEntries(s, dir, probes), hops, b)
      } else beamWalk(s, dir, probes, hops, b, e)
    val vis = (for {
      r <- Durable.root(s)
      tomb <- Durable.load(s, r, dir, "tombstones", "v1")
    } yield vis0.join(broadcast(tomb.select(col("v"))),
        col("dst") === col("v"), "left_anti")).getOrElse(vis0)
    graft.plans.TopKPerKey.topKDesc(vis, Seq("src"), "cos", Seq("dst"), k)
      .selectExpr("src as query_id", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim")
      .orderBy("query_id", "rk")
  }

  /** Install one compaction cycle's G′ under the EXACT tier keys the
    * standing walk resolves — `nnd_edges`/[[standingGraphVersion]] and
    * the recomputed ρ-capped adjacency `nnd_ud`/[[standingUdVersion]] —
    * plus the cycle's victim set as the `tombstones` tier (merged with
    * any prior cycle's tombstones, less ids this cycle re-inserted).
    * Without this, a compacted graph installed under a side key is
    * never read: the next session's walk would resolve the still-
    * fingerprint-fresh ORIGINAL tiers and happily return tombstoned
    * vectors. */
  private[graft] def installCompacted(s: SparkSession, dir: String,
      indexDir: String, g: DataFrame, vict: DataFrame,
      inserts: DataFrame): Unit = {
    val edges = g.select("src", "dst", "cos")
    Durable.install(s, indexDir, dir, "nnd_edges", standingGraphVersion,
      edges)
    val udRaw = edges.select("src", "dst").unionByName(
      edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
    val ud = graft.plans.TopKPerKey.topKDesc(
        udRaw.selectExpr("src", "dst",
          s"${sH("concat(src, ':', dst)")} as hk"),
        Seq("src"), "hk", Seq("dst"), 2 * GraphK)
      .select("src", "dst")
    Durable.install(s, indexDir, dir, "nnd_ud", standingUdVersion, ud)
    val prior = Durable.load(s, indexDir, dir, "tombstones", "v1")
      .map(_.select("v")).toSeq
    val tomb = prior.foldLeft(vict.select("v"))(_ unionByName _).distinct()
      .join(inserts.select(col("src").as("v")), Seq("v"), "left_anti")
    Durable.install(s, indexDir, dir, "tombstones", "v1", tomb)
  }

  /** x124's body with the hop count explicit so the spec can grade the
    * insertion walk (found-original count must be monotone in hops). */
  private[graft] def graphInsert(
      s: SparkSession, dir: String, hops: Int): DataFrame = {
    val probes = withSq(s, dir).filter("vec_id % 97 = 0")
      .selectExpr("vec_id + 1000000000 as src", "embedding as ea",
        "sq as sa").localCheckpoint()
    insertEdges(s, dir, probes, hops)
      .selectExpr("new_id", "rk", "neighbor_id", "cos_sim",
        "neighbor_id = new_id - 1000000000 as found_original")
      .orderBy("new_id", "rk")
  }

  /** x127's body: tombstone a deterministic victim set (vec_id % 89 —
    * disjoint from x124's % 97 insert batch and x115's re-crawl
    * convention), kill every edge touching a victim, and repair each
    * damaged survivor by scoring the victim's own out-neighbors as
    * bridge candidates (the deleted node's neighborhood inherits its
    * connections). All victim-side frames are |victims|·K-sized and
    * broadcast; the standing graph is filtered map-side; only the
    * |damaged|·K bridge candidates pay a payload join. */
  private[graft] def graphDelete(s: SparkSession, dir: String): DataFrame =
    deleteRepairEdges(s, dir, defaultVictims(s, dir)).orderBy("node", "rk")

  /** x131/x127's deterministic tombstone set (vec_id % 89 — disjoint
    * from the % 97 insert batch and x115's re-crawl convention),
    * broadcast-sized by construction. */
  private[graft] def defaultVictims(s: SparkSession, dir: String): DataFrame =
    broadcast(
      withSq(s, dir).filter("vec_id % 89 = 0").select(col("vec_id").as("v"))
        .localCheckpoint())

  /** The x124 insert batch (vec_id % 97, re-crawled under +1e9 ids) as
    * a probe frame (src, ea, sa) — the default cycle the CLI compaction
    * verb replays when no batch files are given. */
  private[graft] def defaultInsertBatch(s: SparkSession, dir: String): DataFrame =
    withSq(s, dir).filter("vec_id % 97 = 0")
      .selectExpr("vec_id + 1000000000 as src", "embedding as ea",
        "sq as sa").localCheckpoint()

  private def deleteRepairEdges(s: SparkSession, dir: String,
      vict: DataFrame): DataFrame = {
    val K = GraphK
    val edges = nndescentEdges(s, dir, iters = 2)
    // surviving edges: neither endpoint tombstoned (two map-side
    // anti probes of the broadcast victim set — the graph never
    // shuffles for the delete itself)
    val surv = edges
      .join(vict, col("src") === col("v"), "left_anti")
      .join(vict, col("dst") === col("v"), "left_anti")
    // damaged links: survivor → victim out-edges (the holes to repair)
    val lost = edges
      .join(vict, col("src") === col("v"), "left_anti")
      .join(vict, col("dst") === col("v"), "left_semi")
      .select("src", "dst")
    // bridge candidates: src → (victim's out-neighbor w), w surviving,
    // not already wired — |victims|·K rows, broadcast into the lost set
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
      .join(lost.select("src").distinct(), Seq("src"), "left_semi")
      .select("src", "dst", "cos").withColumn("is_bridge", lit(false))
      .unionByName(scorePairs(s, dir)(cand).withColumn("is_bridge", lit(true)))
    graft.plans.TopKPerKey.topKDesc(merged, Seq("src"), "cos",
        Seq("dst"), K)
      .selectExpr("src as node", "cast(rk as bigint) as rk",
        "dst as neighbor_id", "cos as cos_sim", "is_bridge")
  }

  /** The compacted standing graph G′ after one delete+insert cycle —
    * x131's kept ∪ repaired ∪ inserted segments AS AN EDGE LIST
    * (segment, src, dst, cos), the structure the `compact_index` CLI
    * verb installs through [[graft.queries.Durable]] so the next
    * session walks the post-cycle graph instead of rebuilding from
    * scratch. `vict` = (v) tombstoned ids (broadcast-sized), `inserts`
    * = (src, ea, sa) the cycle's new vectors. Cost shape is the
    * lifecycle's: the standing graph is filtered map-side against the
    * broadcast victim set; repair pays |damaged|·K bridge scorings;
    * insertion pays |batch|·hops·B·2K walk scorings — never corpus
    * work. */
  private[graft] def compactedEdges(s: SparkSession, dir: String,
      vict: DataFrame, inserts: DataFrame, hops: Int = 2): DataFrame = {
    val edges = nndescentEdges(s, dir, iters = 2)
    val surv = edges
      .join(vict, col("src") === col("v"), "left_anti")
      .join(vict, col("dst") === col("v"), "left_anti")
    val damaged = edges
      .join(vict, col("src") === col("v"), "left_anti")
      .join(vict, col("dst") === col("v"), "left_semi")
      .select("src").distinct()
    val kept = surv.join(damaged, Seq("src"), "left_anti")
      .selectExpr("'kept' as segment", "src", "dst", "cos")
    val repaired = deleteRepairEdges(s, dir, vict)
      .selectExpr("'repaired' as segment", "node as src",
        "neighbor_id as dst", "cos_sim as cos")
    val inserted = insertEdges(s, dir, inserts, hops)
      .join(vict, col("neighbor_id") === col("v"), "left_anti")
      .selectExpr("'inserted' as segment", "new_id as src",
        "neighbor_id as dst", "cos_sim as cos")
    kept.unionByName(repaired).unionByName(inserted)
  }

  /** x131's body: the lifecycle segments and their audit. `kept` =
    * surviving edges of undamaged survivors (untouched by the cycle);
    * `repaired` = x127's merged top-K lists for damaged survivors;
    * `inserted` = x124's walked edge lists for the new batch, less any
    * edge landing on a victim (insert and delete run in the same
    * cycle). Mean cosine is decimal-accumulated over the 6-dp-rounded
    * edge scores, so the audit is bit-exact cross-engine. */
  private[graft] def graphLifecycle(s: SparkSession, dir: String): DataFrame =
    compactedEdges(s, dir, defaultVictims(s, dir),
        defaultInsertBatch(s, dir), hops = 2)
      .selectExpr("segment", "src as node", "cos")
      .groupBy("segment")
      .agg(countDistinct(col("node")).as("n_nodes"),
        count(lit(1)).as("n_edges"),
        (sum(col("cos").cast(org.apache.spark.sql.types.DecimalType(24, 12)))
          .cast("double") / count(lit(1)).cast("double")).as("m0"),
        min(col("cos")).as("min_cos"), max(col("cos")).as("max_cos"))
      .selectExpr("segment", "n_nodes", "n_edges",
        sRound6("m0") + " as mean_cos", "min_cos", "max_cos")
      .orderBy("segment")

  /** x128's body: Gonzalez greedy k-center over exact cosine distance
    * (1 − rounded cosine — the 6-dp decimal contract, so argmax ties
    * resolve identically in both engines; vec_id breaks exact ties).
    * The chosen set never exceeds k vectors (broadcast); the running
    * min-distance frame is (vec_id, dist) — corpus-sized but two
    * columns — localCheckpointed per pick; each argmax is a global
    * top-1 (TakeOrderedAndProject: per-partition bounded top-1, k·P
    * rows to the driver, never a global sort). */
  private[graft] def kcenterCoreset(
      s: SparkSession, dir: String, k: Int): DataFrame = {
    val sq = withSq(s, dir)
    def distTo(center: Long): DataFrame = {
      val c = sq.filter(col("vec_id") === center)
        .selectExpr("embedding as eb", "sq as sb")
      sq.selectExpr("vec_id", "embedding as ea", "sq as sa")
        .crossJoin(broadcast(c))
        .selectExpr("vec_id", s"1.0d - ${sCosIn(s)} as d")
    }
    var center = 0L // deterministic seed: the min id
    var mind: DataFrame = null
    val out = scala.collection.mutable.ArrayBuffer.empty[(Long, Long, Double)]
    var i = 0
    var live = true
    while (live && i < k) {
      val di = distTo(center)
      mind =
        (if (mind == null) di
         else mind.join(di.withColumnRenamed("d", "d2"), "vec_id")
           .selectExpr("vec_id", "least(d, d2) as d"))
          .localCheckpoint()
      val far = mind.orderBy(col("d").desc, col("vec_id")).limit(1).collect()
      if (far.isEmpty) live = false // empty corpus: nothing to cover
      else {
        out += ((i.toLong, center, far.head.getDouble(1)))
        center = far.head.getLong(0) // next center: the radius-defining point
        i += 1
      }
    }
    import s.implicits._
    out.toSeq.toDF("iter", "center_id", "coverage_radius")
      .selectExpr("iter", "center_id",
        sRound6("coverage_radius") + " as coverage_radius")
      .orderBy("iter")
  }

  /** Pair scorer for the NN-Descent construction (the walks score
    * through beamWalk's probe-payload variant): (src, dst) + exact
    * rounded cosine via two bounded payload joins against the shared
    * norm frame. */
  private def scorePairs(s: SparkSession, dir: String)(
      pairs: DataFrame): DataFrame =
    scorePairsOn(s, withSq(s, dir))(pairs)

  /** The same exact-cosine pair scorer over an arbitrary
    * (vec_id, embedding, sq) frame — x129's coarse layer scores within
    * the sampled frame under its dense id domain. */
  private def scorePairsOn(s: SparkSession, corpus: DataFrame)(
      pairs: DataFrame): DataFrame =
    pairs
      .join(corpus.selectExpr("vec_id as src", "embedding as ea", "sq as sa"), "src")
      .join(corpus.selectExpr("vec_id as dst", "embedding as eb", "sq as sb"), "dst")
      .selectExpr("src", "dst", s"${sCosIn(s)} as cos")

  /** NN-Descent edge lists (src, dst, cos) after `iters` local-join
    * rounds. The canonical 2-round graph is a SHARED tier — it is the
    * standing kNN index of the corpus, the thing a warehouse keeps
    * resident: x120 (construction + quality audit) and x121 (beam
    * search over it) read one copy. Other round counts are spec-only
    * temporaries. */
  private[graft] def nndescentEdges(
      s: SparkSession, dir: String, iters: Int): DataFrame =
    if (iters == 2)
      Durable.tier(s, dir, "nnd_edges", standingGraphVersion)(
        nndescentEdgesBuild(s, dir, iters))
    else nndescentEdgesBuild(s, dir, iters)

  private def nndescentEdgesBuild(
      s: SparkSession, dir: String, iters: Int): DataFrame =
    nndescentEdgesOn(s, withSq(s, dir), iters)

  /** The NN-Descent construction generic over the corpus frame
    * (vec_id DENSE 0..n-1, embedding, sq) — the layer-0 standing graph
    * builds on the full corpus, x129's coarse layer on the hash sample
    * under its dense rank ids (the modular hash seeding requires a
    * dense domain: `hash % n` must land on an existing vector). */
  private[graft] def nndescentEdgesOn(
      s: SparkSession, corpus: DataFrame, iters: Int,
      k: Int = GraphK): DataFrame = {
      val K = k; val T = iters; val R = 2 * K
      val sq = corpus
      val nRow = sq.agg(count(lit(1)).as("nc"))
      def score(pairs: DataFrame): DataFrame = scorePairsOn(s, corpus)(pairs)
      val seeds = sq.select("vec_id").crossJoin(broadcast(nRow))
        .selectExpr("vec_id",
          s"explode(transform(sequence(1, $K), j -> " +
            s"${sH("concat(vec_id, ':init:', j)")} % nc)) as d0", "nc")
        .selectExpr("vec_id as src",
          "case when d0 = vec_id then (d0 + 1) % nc else d0 end as dst")
        .distinct()
      // Same eager lineage truncation as the walk and the CC loop: the
      // edge frame is |V|·K rows (graph-sized, corpus-degree-bounded);
      // re-planning T nested rounds of join/topK lineage costs more
      // than materializing it (measured 31 s → ~8 s cold at sf0.001).
      var edges =
        graft.plans.TopKPerKey.topKDesc(score(seeds), Seq("src"), "cos",
          Seq("dst"), K).select("src", "dst", "cos").localCheckpoint()
      for (_ <- 1 to T) {
        val adj = edges.select(col("src").as("p"), col("dst").as("n"))
          .unionByName(edges.select(col("dst").as("p"), col("src").as("n")))
          .distinct()
        val kept = graft.plans.TopKPerKey.topKDesc(
          adj.selectExpr("p", "n", s"${sH("concat(p, ':', n)")} as hk"),
          Seq("p"), "hk", Seq("n"), R)
        val pairs = kept.groupBy("p")
          .agg(sort_array(collect_list(col("n"))).as("ns"))
          .selectExpr("posexplode(ns) as (ix, a)", "ns")
          .selectExpr("a as src", "explode(slice(ns, ix + 2, size(ns))) as dst")
          .distinct()
        val scored = score(pairs)
        val cand = scored.unionByName(
          scored.selectExpr("dst as src", "src as dst", "cos"))
        edges = graft.plans.TopKPerKey.topKDesc(
            edges.unionByName(cand).distinct(), Seq("src"), "cos",
            Seq("dst"), K).select("src", "dst", "cos").localCheckpoint()
      }
      edges
  }

  /** x120's body with the round count explicit so the spec can grade
    * the descent itself: recall must not decrease with more local-join
    * rounds (iters = 0 grades the raw hash-seeded init). */
  private[graft] def nndescentGraph(
      s: SparkSession, dir: String, iters: Int): DataFrame = {
      val K = GraphK
      val edges = nndescentEdges(s, dir, iters)
      val truth = exactTopk(s, dir).filter(s"rk <= $K")
        .select(col("query_id").as("src"), col("neighbor_id").as("dst"),
          lit(true).as("hit0"))
      graft.plans.TopKPerKey.topKDesc(
          edges.filter(QuerySet.replace("vec_id", "src")), Seq("src"),
          "cos", Seq("dst"), K)
        .join(truth, Seq("src", "dst"), "left")
        .selectExpr("src as query_id", "cast(rk as bigint) as rk",
          "dst as neighbor_id", "cos as cos_sim",
          "coalesce(hit0, false) as hit")
        .orderBy("query_id", "rk")
  }

  /** Lloyd-chain oracle pieces, factored so x51 (inertia) and x111
    * (silhouette) replay the identical 2-iteration centroid fixpoint. */
  private def dKmL2(e: String, cv: String): String =
    (1 to Frag.Dim).map(i =>
      s"(CAST($e[$i] AS DOUBLE)-$cv[$i])*(CAST($e[$i] AS DOUBLE)-$cv[$i])")
      .mkString(" + ")
  private def dKmAsg(name: String, cent: String): String =
    s"""$name AS (SELECT vec_id, cl, d2 FROM (
       |  SELECT e.vec_id, c.cl, ${dKmL2("e.embedding", "c.cv")} AS d2,
       |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
       |      ORDER BY ${dKmL2("e.embedding", "c.cv")}, c.cl) AS rn
       |  FROM embeddings e CROSS JOIN $cent c) WHERE rn = 1)""".stripMargin
  private def dKmUpd(name: String, asgName: String): String =
    s"""${name}m AS (SELECT cl, dim,
       |    CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |  FROM (SELECT a.cl, generate_subscripts(e.embedding, 1) - 1 AS dim, unnest(e.embedding) AS v
       |        FROM $asgName a JOIN embeddings e USING (vec_id))
       |  GROUP BY cl, dim),
       |$name AS (SELECT cl, list(c ORDER BY dim) AS cv FROM ${name}m GROUP BY cl)""".stripMargin
  /** init → a1 → c1 → a2 → c2: the shared 2-iteration centroid chain
    * (no WITH prefix; compose as `WITH $dKm2Cte, …`). */
  private val dKm2Cte =
    s"""init AS (SELECT vec_id AS cl,
       |    list_transform(embedding, x -> CAST(x AS DOUBLE)) AS cv
       |  FROM embeddings WHERE vec_id < 8),
       |${dKmAsg("a1", "init")},
       |${dKmUpd("c1", "a1")},
       |${dKmAsg("a2", "c1")},
       |${dKmUpd("c2", "a2")}""".stripMargin

  /** x11/x12/x17/x49 oracle texts, factored out so the x62 recall
    * harness can embed each one as a derived table. */
  private val dX11Sql =
    s"""$dSq,
       |scored AS (
       |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dCos AS cos_sim
       |  FROM sq a JOIN sq b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  private val dX96Sql =
    s"""WITH sq AS (SELECT vec_id, label, embedding,
       |              ${dSumSq("embedding")} AS sq FROM embeddings),
       |scored AS (
       |  SELECT a.vec_id AS query_id, a.label AS q_label,
       |    b.vec_id AS neighbor_id, b.label AS n_label, $dCos AS cos_sim
       |  FROM sq a JOIN sq b ON a.vec_id < 8 AND b.label <> a.label),
       |ranked AS (
       |  SELECT query_id, q_label, neighbor_id, n_label, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT query_id, q_label, rk, neighbor_id, n_label, cos_sim FROM ranked
       |WHERE rk <= 5 ORDER BY query_id, rk""".stripMargin

  private val dX12Sql =
    s"""$dSq $dBands,
       |cand AS (SELECT DISTINCT a.vec_id AS query_id, b.vec_id AS neighbor_id
       |         FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
       |              AND a.vec_id < 8 AND b.vec_id <> a.vec_id),
       |scored AS (
       |  SELECT query_id, neighbor_id, $dCos AS cos_sim
       |  FROM cand JOIN sq a ON cand.query_id = a.vec_id
       |            JOIN sq b ON cand.neighbor_id = b.vec_id),
       |ranked AS (
       |  SELECT query_id, neighbor_id, cos_sim,
       |    CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
       |  FROM scored)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  /** x138's oracle: the x17 exact-decimal quantizer CTEs, per-vec top-2
    * cosine pivot (ROW_NUMBER over cosc DESC, clabel), 6-dp-rounded m1
    * and raw-difference margin into decimal means — the Spark side's
    * exact algebra. */
  private def dX138Sql: String =
    s"""$dSq,
       |qcd AS (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
       |       FROM embeddings),
       |qcm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM qcd GROUP BY label, dim),
       |qcent AS (SELECT clabel, cv, ${dSumSq64("cv")} AS csq FROM (
       |       SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM qcm GROUP BY label)),
       |qranked AS (SELECT vec_id, clabel, cosc,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
       |    FROM (SELECT vec_id, clabel,
       |            (${dDotF64("sq.embedding", "cv")}) / sqrt(sq * csq) AS cosc
       |          FROM sq CROSS JOIN qcent)),
       |qpv AS (SELECT vec_id,
       |         MAX(CASE WHEN rn = 1 THEN clabel END) AS cell,
       |         ${dRound6("MAX(CASE WHEN rn = 1 THEN cosc END)")} AS m1,
       |         ${dRound6("MAX(CASE WHEN rn = 1 THEN cosc END) - MAX(CASE WHEN rn = 2 THEN cosc END)")} AS marg
       |       FROM qranked WHERE rn <= 2 GROUP BY vec_id)
       |SELECT cell AS clabel, CAST(COUNT(*) AS BIGINT) AS n_vecs,
       |  ${dRound6("CAST(SUM(CAST(m1 AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS mean_top1_cos,
       |  ${dRound6("CAST(SUM(CAST(marg AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS mean_margin
       |FROM qpv GROUP BY cell ORDER BY clabel""".stripMargin

  private val dX17Sql =
    s"""WITH sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM embeddings),
       |cd AS (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
       |       FROM embeddings),
       |cm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM cd GROUP BY label, dim),
       |cent0 AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cm GROUP BY label),
       |cent AS (SELECT clabel, cv, ${dSumSq64("cv")} AS csq FROM cent0),
       |scored AS (SELECT vec_id, clabel,
       |             (${dDotF64("sq.embedding", "cv")}) / sqrt(sq * csq) AS cosc
       |           FROM sq CROSS JOIN cent),
       |ranked AS (SELECT vec_id, clabel,
       |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
       |           FROM scored),
       |assign AS (SELECT vec_id AS neighbor_id, clabel FROM ranked WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, clabel FROM ranked WHERE vec_id < 8 AND rn <= 2),
       |cand AS (SELECT DISTINCT query_id, neighbor_id
       |         FROM probes JOIN assign USING (clabel)
       |         WHERE query_id <> neighbor_id),
       |scored2 AS (SELECT query_id, neighbor_id, $dCos AS cos_sim
       |            FROM cand JOIN sq a ON cand.query_id = a.vec_id
       |                      JOIN sq b ON cand.neighbor_id = b.vec_id),
       |ranked2 AS (SELECT query_id, neighbor_id, cos_sim,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
       |            FROM scored2)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM ranked2
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  private val dX49Sql = {
    val d2Chain = (1 to 8).map(j =>
      s"(CAST(e.embedding[c.ss*8+$j] AS DOUBLE) - c.cw[$j])*(CAST(e.embedding[c.ss*8+$j] AS DOUBLE) - c.cw[$j])")
      .mkString(" + ")
    s"""WITH cd AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
       |       FROM embeddings),
       |cm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM cd GROUP BY label, dim),
       |cb AS (SELECT label AS clabel, dim // 8 AS ss, list(c ORDER BY dim) AS cw
       |       FROM cm GROUP BY label, dim // 8),
       |enc AS (SELECT e.vec_id, c.ss, c.clabel, $d2Chain AS d2
       |        FROM embeddings e CROSS JOIN cb c),
       |codes AS (SELECT vec_id, ss, clabel AS code FROM (
       |            SELECT vec_id, ss, clabel,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id, ss ORDER BY d2, clabel) AS rn
       |            FROM enc) WHERE rn = 1),
       |adc AS (SELECT p.vec_id AS query_id, c.vec_id AS neighbor_id,
       |          CAST(SUM(CAST(p.d2 AS DECIMAL(24,12))) AS DOUBLE) AS adc
       |        FROM codes c JOIN enc p ON p.ss = c.ss AND p.clabel = c.code
       |             AND p.vec_id < 8 AND c.vec_id <> p.vec_id
       |        GROUP BY p.vec_id, c.vec_id),
       |ranked AS (SELECT query_id, neighbor_id, adc,
       |             CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS BIGINT) AS rk
       |           FROM adc)
       |SELECT query_id, neighbor_id, ${dRound6("adc")} AS adc_dist, rk
       |FROM ranked WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin
  }

  /** x101 oracle: x17's IVF routing CTE chain (1-based dims for the
    * cosine assignment) composed with x49's PQ chain (0-based dims for
    * the subspace split, renamed cd0/cm0 to avoid the clash), ADC
    * restricted to the IVF candidate set. */
  /** x106 oracle: x17's routing CTE chain generalized to rn ≤ nprobe
    * for nprobe ∈ {1,2,4}, graded against the x11 exact chain. */
  private val dX106Sql =
    s"""WITH sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM embeddings),
       |cd AS (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
       |       FROM embeddings),
       |cm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM cd GROUP BY label, dim),
       |cent0 AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cm GROUP BY label),
       |cent AS (SELECT clabel, cv, ${dSumSq64("cv")} AS csq FROM cent0),
       |scored AS (SELECT vec_id, clabel,
       |             (${dDotF64("sq.embedding", "cv")}) / sqrt(sq * csq) AS cosc
       |           FROM sq CROSS JOIN cent),
       |ranked AS (SELECT vec_id, clabel,
       |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
       |           FROM scored),
       |assign AS (SELECT vec_id AS neighbor_id, clabel FROM ranked WHERE rn = 1),
       |np AS (SELECT UNNEST([1, 2, 4]) AS nprobe),
       |probes AS (SELECT r.vec_id AS query_id, n.nprobe, r.clabel
       |           FROM ranked r CROSS JOIN np n
       |           WHERE r.vec_id < 8 AND r.rn <= n.nprobe),
       |cand AS (SELECT DISTINCT nprobe, query_id, neighbor_id
       |         FROM probes JOIN assign USING (clabel)
       |         WHERE query_id <> neighbor_id),
       |escored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dCos AS cos_sim
       |            FROM sq a JOIN sq b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
       |eranked AS (SELECT query_id, neighbor_id,
       |              ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |            FROM escored),
       |ex AS (SELECT query_id, neighbor_id FROM eranked WHERE rk <= $TopK),
       |nex AS (SELECT query_id, COUNT(*) AS n_exact FROM ex GROUP BY query_id),
       |ntot AS (SELECT COUNT(*) AS n_corpus FROM embeddings),
       |stats AS (SELECT c.nprobe, c.query_id, COUNT(*) AS n_cand,
       |            SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
       |          FROM cand c LEFT JOIN ex e
       |            ON c.query_id = e.query_id AND c.neighbor_id = e.neighbor_id
       |          GROUP BY c.nprobe, c.query_id)
       |SELECT CAST(s.nprobe AS BIGINT) AS nprobe, s.query_id, s.n_cand,
       |  CAST(s.n_hit AS BIGINT) AS n_hit, x.n_exact,
       |  ${dRound6("CAST(s.n_hit AS DOUBLE) / CAST(x.n_exact AS DOUBLE)")} AS recall_at_k,
       |  ${dRound6("CAST(s.n_cand AS DOUBLE) / CAST(t.n_corpus - 1 AS DOUBLE)")} AS scan_frac
       |FROM stats s JOIN nex x USING (query_id) CROSS JOIN ntot t
       |ORDER BY nprobe, query_id""".stripMargin

  /** x107 oracle: x49's encoding chain with the winning d2 retained,
    * plus the per-subspace energy chain over the raw corpus. */
  private val dX107Sql = {
    val d2Chain = (1 to 8).map(j =>
      s"(CAST(e.embedding[c.ss*8+$j] AS DOUBLE) - c.cw[$j])*(CAST(e.embedding[c.ss*8+$j] AS DOUBLE) - c.cw[$j])")
      .mkString(" + ")
    val e2Chain = (1 to 8).map(j =>
      s"CAST(e.embedding[s.ss*8+$j] AS DOUBLE)*CAST(e.embedding[s.ss*8+$j] AS DOUBLE)")
      .mkString(" + ")
    s"""WITH cd AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
       |       FROM embeddings),
       |cm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM cd GROUP BY label, dim),
       |cb AS (SELECT label AS clabel, dim // 8 AS ss, list(c ORDER BY dim) AS cw
       |       FROM cm GROUP BY label, dim // 8),
       |enc AS (SELECT e.vec_id, c.ss, c.clabel, $d2Chain AS d2
       |        FROM embeddings e CROSS JOIN cb c),
       |mind AS (SELECT vec_id, ss, d2 FROM (
       |           SELECT vec_id, ss, d2,
       |             ROW_NUMBER() OVER (PARTITION BY vec_id, ss ORDER BY d2, clabel) AS rn
       |           FROM enc) WHERE rn = 1),
       |en AS (SELECT s.ss, COUNT(*) AS n_vectors,
       |         CAST(SUM(CAST($e2Chain AS DECIMAL(24,12))) AS DOUBLE) AS esum
       |       FROM embeddings e CROSS JOIN (SELECT UNNEST([0,1,2,3,4,5,6,7]) AS ss) s
       |       GROUP BY s.ss),
       |ds AS (SELECT ss, CAST(SUM(CAST(d2 AS DECIMAL(24,12))) AS DOUBLE) AS dsum
       |       FROM mind GROUP BY ss)
       |SELECT CAST(en.ss AS BIGINT) AS subspace, en.n_vectors,
       |  ${dRound6("dsum / CAST(n_vectors AS DOUBLE)")} AS mse,
       |  ${dRound6("esum / CAST(n_vectors AS DOUBLE)")} AS energy,
       |  ${dRound6("(dsum / CAST(n_vectors AS DOUBLE)) / (esum / CAST(n_vectors AS DOUBLE))")} AS nsr
       |FROM en JOIN ds ON en.ss = ds.ss
       |ORDER BY subspace""".stripMargin
  }

  private val dX101Cte = {
    val d2Chain = (1 to 8).map(j =>
      s"(CAST(e.embedding[c.ss*8+$j] AS DOUBLE) - c.cw[$j])*(CAST(e.embedding[c.ss*8+$j] AS DOUBLE) - c.cw[$j])")
      .mkString(" + ")
    s"""WITH sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM embeddings),
       |cd AS (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
       |       FROM embeddings),
       |cm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM cd GROUP BY label, dim),
       |cent0 AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cm GROUP BY label),
       |cent AS (SELECT clabel, cv, ${dSumSq64("cv")} AS csq FROM cent0),
       |scored AS (SELECT vec_id, clabel,
       |             (${dDotF64("sq.embedding", "cv")}) / sqrt(sq * csq) AS cosc
       |           FROM sq CROSS JOIN cent),
       |ranked AS (SELECT vec_id, clabel,
       |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
       |           FROM scored),
       |assign AS (SELECT vec_id AS neighbor_id, clabel FROM ranked WHERE rn = 1),
       |probes AS (SELECT vec_id AS query_id, clabel FROM ranked WHERE vec_id < 8 AND rn <= 2),
       |cand AS (SELECT DISTINCT query_id, neighbor_id
       |         FROM probes JOIN assign USING (clabel)
       |         WHERE query_id <> neighbor_id),
       |cd0 AS (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
       |        FROM embeddings),
       |cm0 AS (SELECT label, dim,
       |          CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |        FROM cd0 GROUP BY label, dim),
       |cb AS (SELECT label AS clabel, dim // 8 AS ss, list(c ORDER BY dim) AS cw
       |       FROM cm0 GROUP BY label, dim // 8),
       |enc AS (SELECT e.vec_id, c.ss, c.clabel, $d2Chain AS d2
       |        FROM embeddings e CROSS JOIN cb c),
       |codes AS (SELECT vec_id, ss, clabel AS code FROM (
       |            SELECT vec_id, ss, clabel,
       |              ROW_NUMBER() OVER (PARTITION BY vec_id, ss ORDER BY d2, clabel) AS rn
       |            FROM enc) WHERE rn = 1),
       |adc AS (SELECT cand.query_id, cand.neighbor_id,
       |          CAST(SUM(CAST(p.d2 AS DECIMAL(24,12))) AS DOUBLE) AS adc
       |        FROM cand JOIN codes c ON cand.neighbor_id = c.vec_id
       |             JOIN enc p ON p.vec_id = cand.query_id AND p.ss = c.ss AND p.clabel = c.code
       |        GROUP BY cand.query_id, cand.neighbor_id),
       |ranked2 AS (SELECT query_id, neighbor_id, adc,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY adc, neighbor_id) AS BIGINT) AS rk
       |            FROM adc)""".stripMargin
  }

  private val dX101Sql =
    s"""$dX101Cte
       |SELECT query_id, neighbor_id, ${dRound6("adc")} AS adc_dist, rk
       |FROM ranked2 WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  /** x103 oracle: x101's full IVFADC chain, kept to the top-RerankK
    * ADC candidates per probe, re-ranked by exact cosine over the sq
    * CTE's full vectors. */
  private val dX103Sql =
    s"""$dX101Cte,
       |cand30 AS (SELECT query_id, neighbor_id FROM ranked2 WHERE rk <= $RerankK),
       |rr AS (SELECT query_id, neighbor_id, $dCos AS cos_sim
       |       FROM cand30 JOIN sq a ON cand30.query_id = a.vec_id
       |                   JOIN sq b ON cand30.neighbor_id = b.vec_id),
       |rranked AS (SELECT query_id, neighbor_id, cos_sim,
       |              CAST(ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS BIGINT) AS rk
       |            FROM rr)
       |SELECT query_id, neighbor_id, cos_sim, rk FROM rranked
       |WHERE rk <= $TopK ORDER BY query_id, rk""".stripMargin

  /** x102 oracle: 16-dim-prefix top-10 vs the exact 64-dim top-10 —
    * the prefix dot/norm chains are explicit 16-term left-to-right
    * chains matching the Spark fold. */
  private val dX102Sql = {
    def dDot16(a: String, b: String) =
      (1 to 16).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
        .mkString(" + ")
    s"""WITH sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM embeddings),
       |s16 AS (SELECT vec_id, embedding[1:16] AS e16 FROM embeddings),
       |q16 AS (SELECT vec_id, e16, ${dDot16("e16", "e16")} AS sq16 FROM s16),
       |sc16 AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
       |    ${dRound6(s"(${dDot16("a.e16", "b.e16")}) / sqrt(a.sq16 * b.sq16)")} AS cos16
       |  FROM q16 a JOIN q16 b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
       |tr AS (SELECT query_id, neighbor_id, rk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos16 DESC, neighbor_id) AS rk
       |    FROM sc16) WHERE rk <= $TopK),
       |scored AS (SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dCos AS cos_sim
       |  FROM sq a JOIN sq b ON a.vec_id < 8 AND b.vec_id <> a.vec_id),
       |ex AS (SELECT query_id, neighbor_id, rk FROM (
       |    SELECT query_id, neighbor_id,
       |      ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
       |    FROM scored) WHERE rk <= $TopK),
       |j AS (SELECT tr.query_id, tr.rk AS trk, ex.rk AS erk,
       |        CASE WHEN ex.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS hit
       |      FROM tr LEFT JOIN ex ON tr.query_id = ex.query_id
       |           AND tr.neighbor_id = ex.neighbor_id)
       |SELECT query_id, CAST(SUM(hit) AS BIGINT) AS n_overlap,
       |  ${dRound6(s"CAST(SUM(hit) AS DOUBLE) / CAST($TopK AS DOUBLE)")} AS recall_r,
       |  COALESCE(MAX(CASE WHEN trk = 1 AND erk = 1 THEN 1 ELSE 0 END), 0) = 1 AS top1_match
       |FROM j GROUP BY query_id ORDER BY query_id""".stripMargin
  }

  val oracleSql: Map[String, String] = Map(
    "x11_ann_topk" -> dX11Sql,
    "x101_ivfpq_ann" -> dX101Sql,
    "x103_ivfadc_rerank" -> dX103Sql,
    "x102_matryoshka_eval" -> dX102Sql,
    "x96_hard_negatives" -> dX96Sql,
    "x12_ann_lsh_topk" -> dX12Sql,
    "x13_cosine_neardup" ->
      s"""WITH reps AS (SELECT embedding, MIN(vec_id) AS vec_id
         |              FROM embeddings GROUP BY embedding),
         |sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM reps),
         |bands AS (
         |${(0 until 4).map(b =>
             s"  SELECT vec_id, embedding, sq, $b AS bi, ${dBand("embedding", b)} AS bv FROM sq")
             .mkString("\n  UNION ALL\n")}),
         |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
         |         FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
         |              AND a.vec_id < b.vec_id)
         |SELECT vec_a, vec_b, cos_sim FROM (
         |  SELECT vec_a, vec_b, $dCos AS cos_sim
         |  FROM cand JOIN sq a ON cand.vec_a = a.vec_id
         |            JOIN sq b ON cand.vec_b = b.vec_id)
         |WHERE cos_sim >= 0.4 ORDER BY vec_a, vec_b""".stripMargin,
    "x17_ivf_topk" -> dX17Sql,
    "x106_nprobe_curve" -> dX106Sql,
    "x107_pq_distortion" -> dX107Sql,
    "x62_ann_recall" ->
      s"""WITH exact AS (SELECT query_id, neighbor_id FROM ($dX11Sql)),
         |appr AS (
         |  SELECT 'ivf' AS method, query_id, neighbor_id FROM ($dX17Sql)
         |  UNION ALL
         |  SELECT 'ivfadcr' AS method, query_id, neighbor_id FROM ($dX103Sql)
         |  UNION ALL
         |  SELECT 'ivfpq' AS method, query_id, neighbor_id FROM ($dX101Sql)
         |  UNION ALL
         |  SELECT 'lsh' AS method, query_id, neighbor_id FROM ($dX12Sql)
         |  UNION ALL
         |  SELECT 'pq' AS method, query_id, neighbor_id FROM ($dX49Sql)),
         |nex AS (SELECT query_id, COUNT(*) AS n_exact FROM exact GROUP BY query_id),
         |h AS (SELECT method, a.query_id, COUNT(*) AS n_approx,
         |        SUM(CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END) AS n_hit
         |      FROM appr a LEFT JOIN exact e
         |        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
         |      GROUP BY method, a.query_id)
         |SELECT method, h.query_id, CAST(n_approx AS BIGINT) AS n_approx,
         |  CAST(n_hit AS BIGINT) AS n_hit, CAST(n_exact AS BIGINT) AS n_exact,
         |  ${dRound6("CAST(n_hit AS DOUBLE) / CAST(n_exact AS DOUBLE)")} AS recall_at_k
         |FROM h JOIN nex ON h.query_id = nex.query_id
         |ORDER BY method, h.query_id""".stripMargin,
    "x110_retrieval_metrics" ->
      s"""WITH exact AS (SELECT query_id, neighbor_id, rk FROM ($dX11Sql)),
         |idcg AS (SELECT query_id,
         |    CAST(SUM(CAST(CAST(1.0 AS DOUBLE)/log2(CAST(rk AS DOUBLE) + CAST(1.0 AS DOUBLE)) AS DECIMAL(24,12))) AS DOUBLE) AS idcg
         |  FROM exact GROUP BY query_id),
         |appr AS (
         |  SELECT 'ivf' AS method, query_id, neighbor_id, rk FROM ($dX17Sql)
         |  UNION ALL
         |  SELECT 'ivfadcr' AS method, query_id, neighbor_id, rk FROM ($dX103Sql)
         |  UNION ALL
         |  SELECT 'ivfpq' AS method, query_id, neighbor_id, rk FROM ($dX101Sql)
         |  UNION ALL
         |  SELECT 'lsh' AS method, query_id, neighbor_id, rk FROM ($dX12Sql)
         |  UNION ALL
         |  SELECT 'pq' AS method, query_id, neighbor_id, rk FROM ($dX49Sql)),
         |j AS (SELECT method, a.query_id, a.rk,
         |        CASE WHEN e.neighbor_id IS NOT NULL THEN 1 ELSE 0 END AS rel
         |      FROM appr a LEFT JOIN exact e
         |        ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id),
         |m AS (SELECT method, query_id,
         |        CAST(SUM(rel) AS BIGINT) AS n_rel,
         |        MAX(CASE WHEN rel = 1 THEN CAST(1.0 AS DOUBLE)/CAST(rk AS DOUBLE) ELSE CAST(0.0 AS DOUBLE) END) AS rr,
         |        CAST(SUM(CAST(CASE WHEN rel = 1 THEN CAST(1.0 AS DOUBLE)/log2(CAST(rk AS DOUBLE) + CAST(1.0 AS DOUBLE)) ELSE CAST(0.0 AS DOUBLE) END AS DECIMAL(24,12))) AS DOUBLE) AS dcg
         |      FROM j GROUP BY method, query_id)
         |SELECT method, m.query_id, n_rel,
         |  ${dRound6("rr")} AS mrr_at_k,
         |  ${dRound6("dcg / idcg")} AS ndcg_at_k
         |FROM m JOIN idcg ON m.query_id = idcg.query_id
         |ORDER BY method, m.query_id""".stripMargin,
    "x18_embedding_quantize" ->
      s"""WITH s1 AS (SELECT vec_id, embedding,
         |              list_max(list_transform(embedding, x -> abs(CAST(x AS DOUBLE)))) / CAST(127 AS DOUBLE) AS scale
         |            FROM embeddings),
         |q1 AS (SELECT vec_id, scale,
         |         list_transform(embedding, x -> CAST(CASE WHEN scale = 0 THEN 0 ELSE round(CAST(x AS DOUBLE) / scale) END AS BIGINT)) AS q
         |       FROM s1)
         |SELECT vec_id, ${dRound6("scale")} AS scale_r,
         |  CAST(list_sum(q) AS BIGINT) AS q_sum,
         |  list_min(q) AS q_min, list_max(q) AS q_max
         |FROM q1 ORDER BY vec_id""".stripMargin,
    "x34_jl_projection" ->
      s"""SELECT vec_id,
         |  ${dRound6(dProj("embedding", 0))} AS p0,
         |  ${dRound6(dProj("embedding", 1))} AS p1,
         |  ${dRound6(dProj("embedding", 2))} AS p2,
         |  ${dRound6(dProj("embedding", 3))} AS p3,
         |  ${dRound6(s"sqrt((${dProj("embedding", 0)}) * (${dProj("embedding", 0)}) + (${dProj("embedding", 1)}) * (${dProj("embedding", 1)}) + (${dProj("embedding", 2)}) * (${dProj("embedding", 2)}) + (${dProj("embedding", 3)}) * (${dProj("embedding", 3)}))")} AS proj_norm4
         |FROM embeddings ORDER BY vec_id""".stripMargin,
    "x33_gram_matrix" ->
      s"""WITH dims AS (SELECT vec_id, generate_subscripts(embedding, 1) - 1 AS i,
         |         CAST(unnest(embedding) AS DOUBLE) AS vi
         |       FROM embeddings)
         |SELECT CAST(a.i AS BIGINT) AS i, CAST(b.i AS BIGINT) AS j,
         |  ${dRound6("CAST(SUM(CAST(a.vi * b.vi AS DECIMAL(24,12))) AS DOUBLE)")} AS gram,
         |  CAST(COUNT(*) AS BIGINT) AS n
         |FROM dims a JOIN dims b ON a.vec_id = b.vec_id AND a.i <= b.i
         |GROUP BY a.i, b.i ORDER BY i, j""".stripMargin,
    "x36_semantic_dedup" ->
      s"""WITH sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM embeddings),
         |cd AS (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
         |       FROM embeddings),
         |cm AS (SELECT label, dim,
         |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
         |       FROM cd GROUP BY label, dim),
         |cent0 AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cm GROUP BY label),
         |cent AS (SELECT clabel, cv, ${dSumSq64("cv")} AS csq FROM cent0),
         |scored AS (SELECT vec_id, clabel,
         |             (${dDotF64("sq.embedding", "cv")}) / sqrt(sq * csq) AS cosc
         |           FROM sq CROSS JOIN cent),
         |ranked AS (SELECT vec_id, clabel,
         |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
         |           FROM scored),
         |mem AS (SELECT vec_id, clabel FROM ranked WHERE rn = 1),
         |pairs AS (SELECT x.vec_id AS va, y.vec_id AS vb
         |          FROM mem x JOIN mem y ON x.clabel = y.clabel AND x.vec_id < y.vec_id
         |          JOIN sq a ON a.vec_id = x.vec_id
         |          JOIN sq b ON b.vec_id = y.vec_id
         |          WHERE $dCos >= 0.4),
         |keeper AS (SELECT vb AS vec_id, MIN(va) AS keeper FROM pairs GROUP BY vb)
         |SELECT m.vec_id, CAST(m.clabel AS BIGINT) AS cluster,
         |  COALESCE(k.keeper, m.vec_id) AS canonical_id,
         |  k.keeper IS NULL AS kept
         |FROM mem m LEFT JOIN keeper k ON m.vec_id = k.vec_id
         |ORDER BY m.vec_id""".stripMargin,
    "x42_knn_classify" ->
      s"""$dSq,
         |scored AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id, $dCos AS cos_sim
         |  FROM sq a JOIN sq b ON a.vec_id < 8 AND b.vec_id >= 8),
         |ranked AS (
         |  SELECT query_id, neighbor_id,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY cos_sim DESC, neighbor_id) AS rk
         |  FROM scored),
         |votes AS (
         |  SELECT query_id, CAST(e.label AS BIGINT) AS label,
         |    CAST(COUNT(*) AS BIGINT) AS votes
         |  FROM ranked JOIN embeddings e ON ranked.neighbor_id = e.vec_id
         |  WHERE rk <= $TopK GROUP BY 1, 2),
         |best AS (
         |  SELECT query_id, label, votes,
         |    ROW_NUMBER() OVER (PARTITION BY query_id ORDER BY votes DESC, label) AS rn
         |  FROM votes)
         |SELECT query_id, label AS predicted_label, votes
         |FROM best WHERE rn = 1 ORDER BY query_id""".stripMargin,
    "x51_kmeans" ->
      s"""WITH $dKm2Cte,
         |${dKmAsg("fin", "c2")}
         |SELECT CAST(cl AS BIGINT) AS cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  ${dRound6("CAST(SUM(CAST(d2 AS DECIMAL(24,12))) AS DOUBLE)")} AS inertia
         |FROM fin GROUP BY cl ORDER BY cluster_id""".stripMargin,
    "x111_kmeans_silhouette" ->
      s"""WITH $dKm2Cte,
         |all2 AS (SELECT e.vec_id, c.cl, ${dKmL2("e.embedding", "c.cv")} AS d2,
         |    ROW_NUMBER() OVER (PARTITION BY e.vec_id
         |      ORDER BY ${dKmL2("e.embedding", "c.cv")}, c.cl) AS rn
         |  FROM embeddings e CROSS JOIN c2 c),
         |ab AS (SELECT a.vec_id, a.cl, sqrt(a.d2) AS sa, b.d2 AS bd2
         |       FROM (SELECT * FROM all2 WHERE rn = 1) a
         |       LEFT JOIN (SELECT * FROM all2 WHERE rn = 2) b USING (vec_id)),
         |sil AS (SELECT cl, sa,
         |          CASE WHEN bd2 IS NULL THEN CAST(0.0 AS DOUBLE)
         |               WHEN sqrt(bd2) = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
         |               ELSE (sqrt(bd2) - sa) / sqrt(bd2) END AS s
         |        FROM ab)
         |SELECT CAST(cl AS BIGINT) AS cluster_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_members,
         |  ${dRound6("CAST(SUM(CAST(s AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS mean_silhouette,
         |  ${dRound6("CAST(SUM(CAST(sa AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS mean_dist
         |FROM sil GROUP BY cl ORDER BY cluster_id""".stripMargin,
    // `ct` MUST be MATERIALIZED: DuckDB 1.0 inlines a CTE once per
    // reference, and ct is read 4× — without the hint the whole Lloyd
    // replay behind `fin` is duplicated per reference and the 32-thread
    // harness OOMs (the round-12 driver's 43-cell ERR cascade started
    // exactly here). Same rows either way; this only pins the plan.
    "x112_cluster_purity" ->
      s"""WITH $dKm2Cte,
         |${dKmAsg("fin", "c2")},
         |ct AS MATERIALIZED (SELECT f.cl, e.label, COUNT(*) AS n
         |       FROM fin f JOIN embeddings e USING (vec_id)
         |       GROUP BY f.cl, e.label),
         |nc AS (SELECT cl, SUM(n) AS n_c FROM ct GROUP BY cl),
         |nl AS (SELECT label, SUM(n) AS n_l FROM ct GROUP BY label),
         |nt AS (SELECT SUM(n) AS n_tot FROM ct),
         |mi AS (SELECT CAST(SUM(CAST(CAST(n AS DOUBLE) / CAST(n_tot AS DOUBLE) *
         |           ln(CAST(n_tot AS DOUBLE) * CAST(n AS DOUBLE) /
         |              (CAST(n_c AS DOUBLE) * CAST(n_l AS DOUBLE))) AS DECIMAL(24,12))) AS DOUBLE) AS mi
         |       FROM ct JOIN nc USING (cl) JOIN nl USING (label) CROSS JOIN nt),
         |hc AS (SELECT CAST(SUM(CAST(-(CAST(n_c AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
         |           ln(CAST(n_c AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS DECIMAL(24,12))) AS DOUBLE) AS h_c
         |       FROM nc CROSS JOIN nt),
         |hl AS (SELECT CAST(SUM(CAST(-(CAST(n_l AS DOUBLE) / CAST(n_tot AS DOUBLE)) *
         |           ln(CAST(n_l AS DOUBLE) / CAST(n_tot AS DOUBLE)) AS DECIMAL(24,12))) AS DOUBLE) AS h_l
         |       FROM nl CROSS JOIN nt),
         |nmi AS (SELECT CASE WHEN h_c + h_l = CAST(0.0 AS DOUBLE) THEN CAST(0.0 AS DOUBLE)
         |               ELSE CAST(2.0 AS DOUBLE) * mi / (h_c + h_l) END AS nmi
         |        FROM mi CROSS JOIN hc CROSS JOIN hl),
         |mx AS (SELECT cl, MAX(n) AS n_maj FROM ct GROUP BY cl),
         |maj AS (SELECT ct.cl, MIN(label) AS majority_label
         |        FROM ct JOIN mx ON ct.cl = mx.cl AND ct.n = mx.n_maj
         |        GROUP BY ct.cl)
         |SELECT CAST(nc.cl AS BIGINT) AS cluster_id,
         |  CAST(n_c AS BIGINT) AS n_members,
         |  CAST(majority_label AS BIGINT) AS majority_label,
         |  ${dRound6("CAST(n_maj AS DOUBLE) / CAST(n_c AS DOUBLE)")} AS purity,
         |  ${dRound6("nmi")} AS nmi
         |FROM nc JOIN mx USING (cl) JOIN maj USING (cl) CROSS JOIN nmi
         |ORDER BY cluster_id""".stripMargin,
    "x116_balanced_sample" ->
      s"""WITH $dKm2Cte,
         |${dKmAsg("fin", "c2")},
         |keyed AS (SELECT vec_id, cl, d2,
         |            (vec_id * 2654435761) % 4294967296 AS pk FROM fin),
         |ranked AS (SELECT cl, d2,
         |    ROW_NUMBER() OVER (PARTITION BY cl ORDER BY pk, vec_id) AS rn
         |  FROM keyed),
         |sizes AS (SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_members
         |          FROM fin GROUP BY cl),
         |tk AS (SELECT cl, CAST(COUNT(*) AS BIGINT) AS n_taken,
         |         CAST(SUM(CAST(d2 AS DECIMAL(24,12))) AS DOUBLE) AS d2s
         |       FROM ranked WHERE rn <= $SampleCap GROUP BY cl)
         |SELECT CAST(t.cl AS BIGINT) AS cluster_id, n_members, n_taken,
         |  ${dRound6("CAST(n_taken AS DOUBLE) / CAST(n_members AS DOUBLE)")} AS take_rate,
         |  ${dRound6("d2s / CAST(n_taken AS DOUBLE)")} AS mean_d2_taken
         |FROM tk t JOIN sizes s ON t.cl = s.cl
         |ORDER BY cluster_id""".stripMargin,
    "x115_incremental_ivf" ->
      s"""WITH sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM embeddings),
         |cd AS (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
         |       FROM embeddings),
         |cm AS (SELECT label, dim,
         |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
         |       FROM cd GROUP BY label, dim),
         |cent0 AS (SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM cm GROUP BY label),
         |cent AS (SELECT clabel, cv, ${dSumSq64("cv")} AS csq FROM cent0),
         |scored AS (SELECT vec_id, clabel,
         |             (${dDotF64("sq.embedding", "cv")}) / sqrt(sq * csq) AS cosc
         |           FROM sq CROSS JOIN cent),
         |ranked AS (SELECT vec_id, clabel,
         |             ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
         |           FROM scored),
         |standing AS (SELECT clabel AS cell, COUNT(*) AS n_standing
         |             FROM ranked WHERE rn = 1 GROUP BY clabel),
         |batch AS (SELECT vec_id + 1000000000 AS vec_id, embedding, sq
         |          FROM sq WHERE vec_id % 97 = 0),
         |bscored AS (SELECT batch.vec_id, clabel,
         |              (${dDotF64("batch.embedding", "cv")}) / sqrt(sq * csq) AS cosc
         |            FROM batch CROSS JOIN cent),
         |branked AS (SELECT vec_id, clabel,
         |              ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
         |            FROM bscored),
         |newc AS (SELECT clabel AS cell, COUNT(*) AS n_new0
         |         FROM branked WHERE rn = 1 GROUP BY clabel)
         |SELECT CAST(cell AS BIGINT) AS cell,
         |  CAST(COALESCE(n_standing, 0) AS BIGINT) AS n_standing,
         |  CAST(COALESCE(n_new0, 0) AS BIGINT) AS n_new,
         |  ${dRound6("CASE WHEN COALESCE(n_standing, 0) = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(COALESCE(n_new0, 0) AS DOUBLE) / CAST(n_standing AS DOUBLE) END")} AS growth_frac
         |FROM standing FULL JOIN newc USING (cell)
         |ORDER BY cell""".stripMargin,
    "x114_semantic_decontam" ->
      s"""$dSq $dBands,
         |cand AS (SELECT DISTINCT b.vec_id AS train_id, a.vec_id AS eval_id
         |         FROM bands a JOIN bands b ON a.bi = b.bi AND a.bv = b.bv
         |           AND a.vec_id % 50 = 0 AND a.vec_id < 4000
         |           AND NOT (b.vec_id % 50 = 0 AND b.vec_id < 4000)),
         |sc AS (SELECT train_id, eval_id, $dCos AS cos_sim
         |       FROM cand JOIN sq a ON cand.eval_id = a.vec_id
         |                 JOIN sq b ON cand.train_id = b.vec_id),
         |f AS (SELECT * FROM sc WHERE cos_sim >= 0.4),
         |r AS (SELECT train_id, eval_id, cos_sim,
         |        ROW_NUMBER() OVER (PARTITION BY train_id
         |          ORDER BY cos_sim DESC, eval_id DESC) AS rn,
         |        COUNT(*) OVER (PARTITION BY train_id) AS n
         |      FROM f)
         |SELECT train_id, CAST(n AS BIGINT) AS n_eval_near,
         |  eval_id AS nearest_eval, ${dRound6("cos_sim")} AS max_cos
         |FROM r WHERE rn = 1 ORDER BY train_id""".stripMargin,
    "x49_pq_ann" -> dX49Sql,
    "x14_label_centroids" ->
      """SELECT label, dim,
        |  CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS centroid,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim, unnest(embedding) AS v
        |      FROM embeddings)
        |GROUP BY label, dim ORDER BY label, dim""".stripMargin,
    "x80_embedding_drift" -> {
      val chain = (1 to Dim).map(i => s"ds[$i]*ds[$i]").mkString(" + ")
      s"""WITH rk AS (SELECT vec_id,
         |         CASE WHEN ROW_NUMBER() OVER (ORDER BY vec_id)
         |              <= (COUNT(*) OVER ()) // 2 THEN 0 ELSE 1 END AS h
         |       FROM embeddings),
         |e AS (SELECT label, h, generate_subscripts(embedding, 1) - 1 AS dim,
         |        unnest(embedding) AS v
         |      FROM embeddings JOIN rk USING (vec_id)),
         |c AS (SELECT label, h, dim,
         |        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE)
         |          / CAST(COUNT(*) AS DOUBLE) AS c
         |      FROM e GROUP BY 1, 2, 3),
         |d AS (SELECT a.label, a.dim, b.c - a.c AS delta
         |      FROM c a JOIN c b ON a.label = b.label AND a.dim = b.dim
         |        AND a.h = 0 AND b.h = 1),
         |arr AS (SELECT label, list(delta ORDER BY dim) AS ds FROM d GROUP BY label),
         |n AS (SELECT label,
         |        CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_first,
         |        CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_second
         |      FROM embeddings JOIN rk USING (vec_id) GROUP BY label)
         |SELECT label, n_first, n_second, sqrt($chain) AS drift
         |FROM n JOIN arr USING (label) ORDER BY label""".stripMargin
    },
    "x82_centroid_margin" -> {
      def dL2(e: String, cv: String): String =
        (1 to Dim).map(i =>
          s"(CAST($e[$i] AS DOUBLE)-$cv[$i])*(CAST($e[$i] AS DOUBLE)-$cv[$i])")
          .mkString(" + ")
      s"""WITH cm AS (SELECT label AS cl, dim,
         |        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE)
         |          / CAST(COUNT(*) AS DOUBLE) AS c
         |      FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         |              unnest(embedding) AS v FROM embeddings)
         |      GROUP BY label, dim),
         |cent AS (SELECT cl, list(c ORDER BY dim) AS cv FROM cm GROUP BY cl),
         |d AS (SELECT e.vec_id, e.label, c.cl,
         |        ${dL2("e.embedding", "c.cv")} AS d2
         |      FROM embeddings e CROSS JOIN cent c),
         |own AS (SELECT vec_id, label, d2 AS down FROM d WHERE cl = label),
         |oth AS (SELECT vec_id, cl, d2,
         |          ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d2, cl) AS rn
         |        FROM d WHERE cl <> label)
         |SELECT o.vec_id, o.label, t.cl AS nearest_other,
         |  ${dRound6("down")} AS d_own2,
         |  ${dRound6("t.d2")} AS d_other2,
         |  ${dRound6("t.d2 - down")} AS margin,
         |  t.d2 < down AS suspect
         |FROM own o JOIN oth t ON o.vec_id = t.vec_id AND t.rn = 1
         |ORDER BY o.vec_id""".stripMargin
    },
    "x84_embedding_whiten" ->
      s"""WITH e AS (SELECT generate_subscripts(embedding, 1) - 1 AS dim,
         |        unnest(embedding) AS v FROM embeddings),
         |a AS (SELECT dim, CAST(COUNT(*) AS BIGINT) AS n,
         |        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) AS sv,
         |        CAST(SUM(CAST(CAST(v AS DOUBLE) * CAST(v AS DOUBLE) AS DECIMAL(24,12))) AS DOUBLE) AS sq
         |      FROM e GROUP BY dim)
         |SELECT CAST(dim AS BIGINT) AS dim, n,
         |  ${dRound6("sv / CAST(n AS DOUBLE)")} AS mean_v,
         |  ${dRound6("sq / CAST(n AS DOUBLE) - (sv / CAST(n AS DOUBLE)) * (sv / CAST(n AS DOUBLE))")} AS var_v,
         |  ${dRound6("sqrt(GREATEST(sq / CAST(n AS DOUBLE) - (sv / CAST(n AS DOUBLE)) * (sv / CAST(n AS DOUBLE)), CAST(0 AS DOUBLE)))")} AS std_v
         |FROM a ORDER BY dim""".stripMargin,
    "x87_label_affinity" -> {
      def chain(f: Int => String): String = (1 to Dim).map(f).mkString(" + ")
      val dab = chain(i => s"a.cv[$i]*b.cv[$i]")
      val daa = chain(i => s"a.cv[$i]*a.cv[$i]")
      val dbb = chain(i => s"b.cv[$i]*b.cv[$i]")
      val dl2 = chain(i => s"(a.cv[$i]-b.cv[$i])*(a.cv[$i]-b.cv[$i])")
      s"""WITH cm AS (SELECT label AS cl, dim,
         |        CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE)
         |          / CAST(COUNT(*) AS DOUBLE) AS c
         |      FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
         |              unnest(embedding) AS v FROM embeddings)
         |      GROUP BY label, dim),
         |cent AS (SELECT cl, list(c ORDER BY dim) AS cv FROM cm GROUP BY cl)
         |SELECT a.cl AS label_a, b.cl AS label_b,
         |  ${dRound6(s"($dab) / (sqrt($daa) * sqrt($dbb))")} AS cosine,
         |  ${dRound6(s"sqrt($dl2)")} AS l2_dist
         |FROM cent a JOIN cent b ON a.cl < b.cl
         |ORDER BY label_a, label_b""".stripMargin
    },
    "x120_nndescent_graph" -> dX120Sql,
    "x121_graph_beam_search" -> dX121Sql,
    "x122_graph_components" -> dX122Sql,
    "x123_graph_hubness" -> dX123Sql,
    "x124_graph_insert" -> dX124Sql,
    "x126_beam_curve" -> dX126Sql,
    "x127_graph_delete" -> dX127Sql,
    "x128_kcenter_coreset" -> dX128Sql,
    "x129_hier_beam_search" -> dX129Sql,
    "x131_graph_lifecycle" -> dX131Sql,
    "x132_beam_width_curve" -> dX132Sql,
    "x134_degree_sweep" -> dX134Sql,
    "x135_clustered_degree_sweep" -> dX135Sql,
    "x136_ivf_seeded_walk" -> dX136Sql,
    "x137_entry_curve" -> dX137Sql,
    "x138_quantizer_margin" -> dX138Sql,
    "x133_bitext_margin" -> dX133Sql,
  )

  /** x120's oracle: the full NN-Descent replay — hash-seeded init,
    * T local-join rounds (hash-capped neighborhoods, pair proposal,
    * UNION-dedup merge, top-K fold), probe rows graded against the
    * exact brute-force list. Iterations are emitted by `dNndIter`, so
    * the SQL is the Scala loop unrolled — same constants, same order
    * keys (cos DESC, dst ASC), same hash strings. */
  private def dNndIter(i: Int, k: Int, r: Int,
      src: String = "sq", pfx: String = ""): String = {
    val prev = s"${pfx}e${i - 1}"
    s""",
       |${pfx}adj$i AS (SELECT src AS p, dst AS n FROM $prev
       |          UNION SELECT dst, src FROM $prev),
       |${pfx}cap$i AS MATERIALIZED (SELECT p, n FROM (
       |    SELECT p, n, ROW_NUMBER() OVER (PARTITION BY p
       |      ORDER BY ${dH("concat(p, ':', n)")} DESC, n) AS rn
       |    FROM ${pfx}adj$i) WHERE rn <= $r),
       |${pfx}pr$i AS (SELECT DISTINCT x.n AS psrc, y.n AS pdst
       |         FROM ${pfx}cap$i x JOIN ${pfx}cap$i y ON x.p = y.p AND x.n < y.n),
       |${pfx}sc$i AS MATERIALIZED (SELECT psrc AS src, pdst AS dst, $dCos AS cos
       |         FROM ${pfx}pr$i JOIN $src a ON ${pfx}pr$i.psrc = a.vec_id
       |                   JOIN $src b ON ${pfx}pr$i.pdst = b.vec_id),
       |${pfx}m$i AS (SELECT src, dst, cos FROM $prev
       |        UNION SELECT src, dst, cos FROM ${pfx}sc$i
       |        UNION SELECT dst, src, cos FROM ${pfx}sc$i),
       |${pfx}e$i AS MATERIALIZED (SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM ${pfx}m$i) WHERE rk <= $k)""".stripMargin
  }

  // `final val` assigned a constant expression is itself a compile-time
  // constant (inlined at use sites), immune to object-init order: the
  // eagerly-initialized `oracleSql` val above reads these before this
  // line would run. Deriving NndK from GraphK makes the "must stay
  // equal" contract structural instead of a doc comment.
  private final val NndK = GraphK
  private final val NndT = 2

  /** The NN-Descent construction CTE chain (ends at `e{NndT}`, the
    * final edge list) — shared verbatim by the x120 and x121 oracles,
    * mirroring the Scala side's one shared `nnd_edges` tier. */
  private def dNndBase: String =
    s"""$dSq,
       |${dNndChain("sq", "n0", "")}""".stripMargin

  /** The NN-Descent CTE chain generic over its source CTE (columns
    * vec_id DENSE, embedding, sq) and a CTE-name prefix — the layer-0
    * chain is `dNndChain("sq", "n0", "")` (x120/x121's exact text), the
    * x129 coarse layer `dNndChain("l1", "gn0", "g")`. Ends at
    * `${pfx}e{NndT}`. */
  private def dNndChain(src: String, n0: String, pfx: String,
      k: Int = NndK, t: Int = NndT): String = {
    val r = 2 * k
    s"""$n0 AS (SELECT COUNT(*) AS nc FROM $src),
       |${pfx}seeds AS (SELECT vec_id, nc, ${dH("concat(vec_id, ':init:', j)")} % nc AS d0
       |          FROM $src, $n0, UNNEST(range(1, $k + 1)) AS u(j)),
       |${pfx}e0p AS (SELECT DISTINCT vec_id AS src,
       |          CASE WHEN d0 = vec_id THEN (d0 + 1) % nc ELSE d0 END AS dst
       |        FROM ${pfx}seeds),
       |${pfx}s0 AS (SELECT src, dst, $dCos AS cos
       |       FROM ${pfx}e0p JOIN $src a ON ${pfx}e0p.src = a.vec_id
       |                JOIN $src b ON ${pfx}e0p.dst = b.vec_id),
       |${pfx}e0 AS MATERIALIZED (SELECT src, dst, cos FROM (
       |    SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM ${pfx}s0) WHERE rk <= $k)
       |${(1 to t).map(dNndIter(_, k, r, src, pfx)).mkString}""".stripMargin
  }

  /** Final grading SELECT shared by both graph oracles: top-K per
    * probe from `from`, hit-flagged against the exact list. */
  private def dGraphGrade(from: String): String =
    s"""exact AS (SELECT query_id, neighbor_id FROM ($dX11Sql)
       |            WHERE rk <= $NndK),
       |fin AS (SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rk
       |        FROM $from WHERE src < 8)
       |SELECT f.src AS query_id, CAST(f.rk AS BIGINT) AS rk,
       |  f.dst AS neighbor_id, f.cos AS cos_sim,
       |  (e.neighbor_id IS NOT NULL) AS hit
       |FROM fin f LEFT JOIN exact e
       |  ON f.src = e.query_id AND f.dst = e.neighbor_id
       |WHERE f.rk <= $NndK
       |ORDER BY query_id, rk""".stripMargin

  private def dX120Sql: String =
    s"""$dNndBase
       |, ${dGraphGrade(s"e$NndT")}""".stripMargin

  /** x121's oracle: construction chain + the beam walk unrolled —
    * per hop: frontier ⋈ e$NndT expansion, NOT EXISTS against visited
    * (the anti-join), one scoring join, top-B frontier fold. */
  /** Per-hop beam CTEs shared by the x121 and x124 oracles: expansion
    * over `ud`, NOT EXISTS against visited, scoring with the probe
    * payload from `(srcTbl, srcKey)` (x121: the corpus `sq`/`vec_id`;
    * x124: the batch CTE `bat`/`src`), top-B frontier fold. */
  private def dBeamHops(h: Int, b: Int,
      srcTbl: String, srcKey: String, pfx: String = "",
      dstTbl: String = "sq", excludeSelf: Boolean = true,
      udcName: String = null): String = {
    val udc = Option(udcName).getOrElse(s"${pfx}udc")
    (1 to h).map { i =>
      val pv = s"${pfx}v${i - 1}"; val pf = s"${pfx}f${i - 1}"
      // on the layer-0 walks src and dst share an id domain (never
      // re-score yourself); on x129's coarse leg src is an original id
      // and dst a dense sample index — equality is coincidence, not
      // identity, so the guard is off (mirrors walkFrom.excludeSelf)
      val selfGuard = if (excludeSelf) s"\n        WHERE f.src <> g.dst" else ""
      s""",
         |${pfx}x$i AS (SELECT DISTINCT f.src, g.dst
         |        FROM $pf f JOIN $udc g ON f.dst = g.src$selfGuard),
         |${pfx}n$i AS (SELECT src, dst FROM ${pfx}x$i
         |        WHERE NOT EXISTS (SELECT 1 FROM $pv v
         |          WHERE v.src = ${pfx}x$i.src AND v.dst = ${pfx}x$i.dst)),
         |${pfx}s$i AS MATERIALIZED (SELECT ${pfx}n$i.src, ${pfx}n$i.dst, $dCos AS cos
         |        FROM ${pfx}n$i JOIN $srcTbl a ON ${pfx}n$i.src = a.$srcKey
         |                 JOIN $dstTbl b ON ${pfx}n$i.dst = b.vec_id),
         |${pfx}v$i AS MATERIALIZED (SELECT * FROM $pv UNION ALL SELECT * FROM ${pfx}s$i),
         |${pfx}f$i AS MATERIALIZED (SELECT src, dst FROM (
         |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cos DESC, dst) AS rk FROM ${pfx}s$i) WHERE rk <= $b)"""
        .stripMargin
    }.mkString
  }

  /** Capped undirected adjacency CTE pair over an edge CTE — the SQL
    * twin of [[cappedUd]], shared by every walk oracle. */
  private def dUdCap(edges: String, ud: String, udc: String,
      cap: Int = 2 * NndK): String =
    s"""$ud AS MATERIALIZED (SELECT src, dst FROM $edges
       |       UNION SELECT dst AS src, src AS dst FROM $edges),
       |$udc AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY ${dH("concat(src, ':', dst)")} DESC, dst) AS rn
       |    FROM $ud) WHERE rn <= $cap)""".stripMargin

  /** The x121/x126 walk prelude: capped undirected adjacency, probe
    * entry seeding (vec_id < 8), scored entry visits folded to the
    * top-`b` hop-1 frontier (the Scala side's structural-bound fold) —
    * one text, two oracles, zero drift. */
  private def dWalkPrelude(e: Int, b: Int, pfx: String = ""): String =
    s"""${dUdCap(s"e$NndT", "ud", "udc")},
       |${dWalkEntries(e, b, pfx)}""".stripMargin

  /** The entry-seeding + hop-0 fold piece of the prelude, with the
    * adjacency CTEs factored out — x132's width curve emits ud/udc
    * ONCE and three prefixed entry/hop chains over it. */
  private def dWalkEntries(e: Int, b: Int, pfx: String = ""): String =
    s"""${pfx}entq AS (SELECT vec_id, nc, ${dH("concat(vec_id, ':entry:', j)")} % nc AS d0
       |         FROM sq, n0, UNNEST(range(1, $e + 1)) AS u(j)
       |         WHERE vec_id < 8),
       |${pfx}entp AS (SELECT DISTINCT vec_id AS src,
       |           CASE WHEN d0 = vec_id THEN (d0 + 1) % nc ELSE d0 END AS dst
       |         FROM ${pfx}entq),
       |${pfx}v0 AS MATERIALIZED (SELECT src, dst, $dCos AS cos
       |       FROM ${pfx}entp JOIN sq a ON ${pfx}entp.src = a.vec_id
       |                 JOIN sq b ON ${pfx}entp.dst = b.vec_id),
       |${pfx}f0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM ${pfx}v0) WHERE rk <= $b)"""
      .stripMargin

  /** IVF-routed entry CTEs over the STANDING corpus — the serving
    * default's oracle replay (x126/x132): the x17 quantizer text
    * (per-label exact-decimal centroids, argmax-cosine assignment,
    * probe top-2 routing), 4 hash-ranked representatives per cell,
    * entries = routed cells' reps with self pairs filtered (the
    * `ivfServingEntries` contract). Ends at `$v0` = the scored entry
    * visits; requires `sq` in scope. */
  private def dIvfEntryScored(v0: String): String =
    s"""icd AS (SELECT label, generate_subscripts(embedding, 1) AS dim, unnest(embedding) AS v
       |       FROM embeddings),
       |icm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM icd GROUP BY label, dim),
       |icent AS (SELECT clabel, cv, ${dSumSq64("cv")} AS csq FROM (
       |       SELECT label AS clabel, list(c ORDER BY dim) AS cv FROM icm GROUP BY label)),
       |iranked AS MATERIALIZED (SELECT vec_id, clabel,
       |      ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY cosc DESC, clabel) AS rn
       |    FROM (SELECT vec_id, clabel,
       |            (${dDotF64("sq.embedding", "cv")}) / sqrt(sq * csq) AS cosc
       |          FROM sq CROSS JOIN icent)),
       |icell4 AS (SELECT clabel, dst FROM (
       |    SELECT clabel, vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY clabel
       |        ORDER BY ${dH("concat(clabel, ':', vec_id)")} DESC, vec_id) AS rnc
       |    FROM iranked WHERE rn = 1) WHERE rnc <= 4),
       |ientp AS (SELECT DISTINCT r.vec_id AS src, c.dst
       |          FROM iranked r JOIN icell4 c USING (clabel)
       |          WHERE r.vec_id < 8 AND r.rn <= 2 AND r.vec_id <> c.dst),
       |$v0 AS MATERIALIZED (SELECT src, dst, $dCos AS cos
       |       FROM ientp JOIN sq a ON ientp.src = a.vec_id
       |                  JOIN sq b ON ientp.dst = b.vec_id)""".stripMargin

  /** Top-`b` hop-1 frontier fold from a scored entry CTE. */
  private def dWalkFold(v0: String, f0: String, b: Int): String =
    s"""$f0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM $v0) WHERE rk <= $b)""".stripMargin

  private def dX121Sql: String = {
    val b = 5; val e = 8; val h = 2
    val hopCte = dBeamHops(h, b, "sq", "vec_id")
    s"""$dNndBase,
       |${dWalkPrelude(e, b)}
       |$hopCte
       |, ${dGraphGrade(s"v$h")}""".stripMargin
  }

  /** x126's oracle: the same walk chain, graded at EVERY depth — v0,
    * v1, v2 are all CTEs of one text, so the curve costs one
    * construction + one walk, mirroring the Scala side's shared
    * standing index. Round 15: seeded by the IVF-routed entry replay
    * ([[dIvfEntryScored]]) — the serving default's configuration. */
  private def dX126Sql: String = {
    val b = 5; val h = 2; val k = NndK
    val hopCte = dBeamHops(h, b, "sq", "vec_id")
    val grades = (0 to h).map { i =>
      s""",
         |g$i AS (SELECT CAST($i AS BIGINT) AS hops,
         |    CAST(COUNT(*) AS BIGINT) AS n_answers,
         |    CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM (SELECT src, dst FROM (
         |      SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
         |        ORDER BY cos DESC, dst) AS rk FROM v$i WHERE src < 8)
         |    WHERE rk <= $k) f
         |  LEFT JOIN exact e
         |    ON f.src = e.query_id AND f.dst = e.neighbor_id)""".stripMargin
    }.mkString
    s"""$dNndBase,
       |${dUdCap(s"e$NndT", "ud", "udc")},
       |${dIvfEntryScored("v0")},
       |${dWalkFold("v0", "f0", b)}
       |$hopCte
       |, exact AS (SELECT query_id, neighbor_id FROM ($dX11Sql)
       |            WHERE rk <= $k)
       |$grades
       |SELECT hops, n_answers, n_hits,
       |  ${dRound6("CAST(n_hits AS DOUBLE) / CAST(n_answers AS DOUBLE)")} AS recall_at_k
       |FROM (SELECT * FROM g0 UNION ALL SELECT * FROM g1
       |      UNION ALL SELECT * FROM g2)
       |ORDER BY hops""".stripMargin
  }

  /** x124's oracle: the insertion walk — batch CTE (x115's % 97
    * re-crawl convention, +1e9 ids), entry seeding, the shared beam
    * hops scored against the batch payload, top-K edge lists with the
    * found-original health flag. */
  private def dX124Sql: String = {
    val b = 5; val e = 8; val h = 2; val k = NndK
    val hopCte = dBeamHops(h, b, "bat", "src")
    s"""$dNndBase,
       |ud AS MATERIALIZED (SELECT src, dst FROM e$NndT
       |       UNION SELECT dst AS src, src AS dst FROM e$NndT),
       |udc AS MATERIALIZED (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY ${dH("concat(src, ':', dst)")} DESC, dst) AS rn
       |    FROM ud) WHERE rn <= ${2 * NndK}),
       |bat AS MATERIALIZED (SELECT vec_id + 1000000000 AS src, embedding, sq
       |       FROM sq WHERE vec_id % 97 = 0),
       |entq AS (SELECT src, nc, ${dH("concat(src, ':entry:', j)")} % nc AS d0
       |         FROM bat, n0, UNNEST(range(1, $e + 1)) AS u(j)),
       |entp AS (SELECT DISTINCT src,
       |           CASE WHEN d0 = src THEN (d0 + 1) % nc ELSE d0 END AS dst
       |         FROM entq),
       |v0 AS MATERIALIZED (SELECT entp.src, entp.dst, $dCos AS cos
       |       FROM entp JOIN bat a ON entp.src = a.src
       |                 JOIN sq b ON entp.dst = b.vec_id),
       |f0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM v0) WHERE rk <= $b)
       |$hopCte
       |SELECT src AS new_id, CAST(rk AS BIGINT) AS rk, dst AS neighbor_id,
       |  cos AS cos_sim, (dst = src - 1000000000) AS found_original
       |FROM (SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src
       |        ORDER BY cos DESC, dst) AS rk FROM v$h)
       |WHERE rk <= $k
       |ORDER BY new_id, rk""".stripMargin
  }

  /** x122's oracle: the construction chain, then EXACT connected
    * components as a recursive CTE — the fixpoint the adaptive Scala
    * loop now iterates to, so the oracle is corpus-independent (round
    * 10's 9-round unroll was pinned to the gate corpus and already
    * under-provisioned at the 100× decade). `reach` enumerates
    * (node, lbl) pairs where lbl reaches node along a path whose every
    * subsequent node exceeds lbl (the `r.lbl < e.dst` prune): the
    * component's MIN label always survives the prune — a blocking edge
    * would mean a smaller id in the same component — so MIN(lbl) per
    * node IS the exact component id, while the prune keeps the pair
    * set near-linear instead of quadratic transitive closure. At the
    * fixpoint the convergence certificate is 0 by definition; a
    * nonzero Scala certificate (cap bound) hash-fails here, which is
    * the correct failure semantics for shipping inexact components. */
  private def dX122Sql: String = {
    s"""$dNndBase,
       |ud AS MATERIALIZED (SELECT src, dst FROM e$NndT
       |       UNION SELECT dst AS src, src AS dst FROM e$NndT),
       |reach(node, lbl) AS (
       |  SELECT src AS node, src AS lbl FROM ud
       |  UNION
       |  SELECT e.dst AS node, r.lbl
       |  FROM reach r JOIN ud e ON e.src = r.node
       |  WHERE r.lbl < e.dst),
       |comp AS (SELECT node, MIN(lbl) AS lbl FROM reach GROUP BY node)
       |SELECT lbl AS component_id, CAST(COUNT(*) AS BIGINT) AS n_nodes,
       |  CAST(0 AS BIGINT) AS unconverged_nodes
       |FROM comp
       |GROUP BY lbl
       |ORDER BY n_nodes DESC, component_id""".stripMargin
      .replaceFirst("^WITH ", "WITH RECURSIVE ")
  }

  /** x123's oracle: in-degree histogram of the directed kNN graph,
    * zero-in-degree nodes counted off the corpus frame. */
  private def dX123Sql: String =
    s"""$dNndBase,
       |ind AS (SELECT s.vec_id, CAST(COUNT(g.src) AS BIGINT) AS in_degree
       |        FROM sq s LEFT JOIN e$NndT g ON g.dst = s.vec_id
       |        GROUP BY s.vec_id)
       |SELECT in_degree, CAST(COUNT(*) AS BIGINT) AS n_nodes
       |FROM ind GROUP BY in_degree ORDER BY in_degree""".stripMargin

  /** x127's oracle: the tombstone-repair chain — victim set, surviving
    * edges, damaged links, bridge candidates through the victims'
    * out-neighborhoods, exact scoring, top-K merge — identical algebra
    * to graphDelete. */
  /** The x127 tombstone-repair CTE block (vict → merged) — shared
    * verbatim by the x127 and x131 oracles. */
  private def dDeleteChain: String =
    s"""vict AS (SELECT vec_id AS v FROM sq WHERE vec_id % 89 = 0),
       |surv AS MATERIALIZED (SELECT src, dst, cos FROM e$NndT e
       |        WHERE NOT EXISTS (SELECT 1 FROM vict WHERE v = e.src)
       |          AND NOT EXISTS (SELECT 1 FROM vict WHERE v = e.dst)),
       |lost AS (SELECT src, dst FROM e$NndT e
       |        WHERE NOT EXISTS (SELECT 1 FROM vict WHERE v = e.src)
       |          AND EXISTS (SELECT 1 FROM vict WHERE v = e.dst)),
       |vout AS (SELECT e.src AS vd, e.dst AS w FROM e$NndT e
       |        WHERE EXISTS (SELECT 1 FROM vict WHERE v = e.src)
       |          AND NOT EXISTS (SELECT 1 FROM vict WHERE v = e.dst)),
       |cand AS (SELECT DISTINCT l.src, o.w AS dst
       |        FROM lost l JOIN vout o ON l.dst = o.vd
       |        WHERE l.src <> o.w
       |          AND NOT EXISTS (SELECT 1 FROM surv s2
       |                          WHERE s2.src = l.src AND s2.dst = o.w)),
       |scored AS (SELECT c.src, c.dst, $dCos AS cos
       |        FROM cand c JOIN sq a ON c.src = a.vec_id
       |                    JOIN sq b ON c.dst = b.vec_id),
       |merged AS (
       |  SELECT s2.src, s2.dst, s2.cos, FALSE AS is_bridge FROM surv s2
       |    WHERE EXISTS (SELECT 1 FROM lost l WHERE l.src = s2.src)
       |  UNION ALL
       |  SELECT src, dst, cos, TRUE AS is_bridge FROM scored)""".stripMargin

  private def dX127Sql: String = {
    val k = NndK
    s"""$dNndBase,
       |$dDeleteChain
       |SELECT src AS node, CAST(rk AS BIGINT) AS rk, dst AS neighbor_id,
       |  cos AS cos_sim, is_bridge
       |FROM (SELECT src, dst, cos, is_bridge,
       |        ROW_NUMBER() OVER (PARTITION BY src
       |          ORDER BY cos DESC, dst) AS rk
       |      FROM merged)
       |WHERE rk <= $k
       |ORDER BY node, rk""".stripMargin
  }

  /** x131's oracle: the delete chain, the x124 insertion walk, and the
    * kept segment composed into the 3-row per-segment audit — the same
    * decimal-accumulated mean over 6-dp-rounded scores as the Scala
    * side. */
  private def dX131Sql: String = {
    val b = 5; val e = 8; val h = 2; val k = NndK
    val hopCte = dBeamHops(h, b, "bat", "src")
    s"""$dNndBase,
       |$dDeleteChain,
       |rep AS (SELECT src AS node, cos FROM (
       |    SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM merged) WHERE rk <= $k),
       |dmg AS (SELECT DISTINCT src FROM lost),
       |kept AS (SELECT 'kept' AS segment, s2.src AS node, s2.cos FROM surv s2
       |        WHERE NOT EXISTS (SELECT 1 FROM dmg WHERE dmg.src = s2.src)),
       |${dUdCap(s"e$NndT", "ud", "udc")},
       |bat AS MATERIALIZED (SELECT vec_id + 1000000000 AS src, embedding, sq
       |       FROM sq WHERE vec_id % 97 = 0),
       |entq AS (SELECT src, nc, ${dH("concat(src, ':entry:', j)")} % nc AS d0
       |         FROM bat, n0, UNNEST(range(1, $e + 1)) AS u(j)),
       |entp AS (SELECT DISTINCT src,
       |           CASE WHEN d0 = src THEN (d0 + 1) % nc ELSE d0 END AS dst
       |         FROM entq),
       |v0 AS MATERIALIZED (SELECT entp.src, entp.dst, $dCos AS cos
       |       FROM entp JOIN bat a ON entp.src = a.src
       |                 JOIN sq b ON entp.dst = b.vec_id),
       |f0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM v0) WHERE rk <= $b)
       |$hopCte
       |, ins AS (SELECT 'inserted' AS segment, src AS node, cos
       |    FROM (SELECT src, dst, cos, ROW_NUMBER() OVER (PARTITION BY src
       |            ORDER BY cos DESC, dst) AS rk FROM v$h) t
       |    WHERE rk <= $k
       |      AND NOT EXISTS (SELECT 1 FROM vict WHERE v = t.dst)),
       |allseg AS (SELECT * FROM kept
       |    UNION ALL SELECT 'repaired' AS segment, node, cos FROM rep
       |    UNION ALL SELECT * FROM ins)
       |SELECT segment, CAST(COUNT(DISTINCT node) AS BIGINT) AS n_nodes,
       |  CAST(COUNT(*) AS BIGINT) AS n_edges,
       |  ${dRound6("CAST(SUM(CAST(cos AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS mean_cos,
       |  MIN(cos) AS min_cos, MAX(cos) AS max_cos
       |FROM allseg GROUP BY segment ORDER BY segment""".stripMargin
  }

  /** x128's oracle: Gonzalez unrolled — m_i = running min distance to
    * the first i+1 centers, c_{i+1} = argmax(m_i) with the vec_id
    * tiebreak, radius_i = max(m_i); identical LEAST-chain and rounding
    * to the Scala loop. Each r_i carries `HAVING COUNT(*) > 0` so an
    * empty (or vec_id-0-less) corpus emits 0 rows on BOTH engines —
    * without it the GROUP-BY-less aggregate would emit 4 NULL-radius
    * rows exactly in the case the Scala side's empty-corpus guard
    * returns nothing. */
  private def dX128Sql: String = {
    val iters = (1 to 3).map { i =>
      s""",
         |c$i AS (SELECT vec_id FROM m${i - 1}
         |        ORDER BY d DESC, vec_id LIMIT 1),
         |m$i AS MATERIALIZED (SELECT a.vec_id, LEAST(m.d, 1.0 - $dCos) AS d
         |        FROM sq a JOIN m${i - 1} m ON m.vec_id = a.vec_id
         |                  JOIN sq b ON b.vec_id = (SELECT vec_id FROM c$i)),
         |r$i AS (SELECT $i AS iter,
         |          (SELECT CAST(vec_id AS BIGINT) FROM c$i) AS center_id,
         |          MAX(d) AS radius FROM m$i HAVING COUNT(*) > 0)""".stripMargin
    }.mkString
    s"""$dSq,
       |m0 AS MATERIALIZED (SELECT a.vec_id, 1.0 - $dCos AS d
       |        FROM sq a JOIN sq b ON b.vec_id = 0),
       |r0 AS (SELECT 0 AS iter, CAST(0 AS BIGINT) AS center_id,
       |          MAX(d) AS radius FROM m0 HAVING COUNT(*) > 0)
       |$iters
       |SELECT CAST(iter AS BIGINT) AS iter, center_id,
       |  ${dRound6("radius")} AS coverage_radius
       |FROM (SELECT * FROM r0 UNION ALL SELECT * FROM r1
       |      UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
       |ORDER BY iter""".stripMargin
  }

  /** x133's oracle: shared band tier + the NN-Descent chain's per-node
    * mean out-edge score as the margin denominator — identical ratio
    * algebra, global top-20 with the (m0 DESC, vec_a, vec_b) total
    * order. */
  private def dX133Sql: String =
    s"""$dNndBase$dBands,
       |mreps AS (SELECT MIN(vec_id) AS vec_id
       |          FROM embeddings GROUP BY embedding),
       |rbands AS (SELECT * FROM bands
       |           WHERE EXISTS (SELECT 1 FROM mreps
       |                         WHERE mreps.vec_id = bands.vec_id)),
       |cand AS (SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b
       |        FROM rbands a JOIN rbands b ON a.bi = b.bi AND a.bv = b.bv
       |        WHERE EXISTS (SELECT 1 FROM embeddings la
       |                      WHERE la.vec_id = a.vec_id AND la.label % 2 = 0)
       |          AND EXISTS (SELECT 1 FROM embeddings lb
       |                      WHERE lb.vec_id = b.vec_id AND lb.label % 2 = 1)),
       |sc AS (SELECT c.vec_a, c.vec_b, $dCos AS cos_sim
       |       FROM cand c JOIN sq a ON c.vec_a = a.vec_id
       |                   JOIN sq b ON c.vec_b = b.vec_id),
       |deg AS (SELECT src AS vec_id,
       |          CAST(SUM(CAST(cos AS DECIMAL(24,12))) AS DOUBLE)
       |            / CAST(COUNT(*) AS DOUBLE) AS deg
       |        FROM e$NndT GROUP BY src),
       |mg AS (SELECT sc.vec_a, sc.vec_b, sc.cos_sim,
       |         sc.cos_sim / ((da.deg + db.deg) / 2) AS m0
       |       FROM sc JOIN deg da ON sc.vec_a = da.vec_id
       |               JOIN deg db ON sc.vec_b = db.vec_id)
       |SELECT CAST(rk AS BIGINT) AS rk, vec_a, vec_b, cos_sim,
       |  ${dRound6("m0")} AS margin, m0 >= 1.0 AS accepted
       |FROM (SELECT *, ROW_NUMBER() OVER (ORDER BY m0 DESC, vec_a, vec_b)
       |        AS rk FROM mg)
       |WHERE rk <= 20 ORDER BY rk""".stripMargin

  /** x132's oracle: ONE adjacency (ud/udc emitted once) + ONE
    * IVF-routed entry chain (round 15 — entries are width-independent,
    * exactly the Scala side's one shared serving-entry frame) + three
    * prefixed fold/hop chains (w1/w5/w10 differ only in the fold
    * width), each graded against the shared exact list — the same
    * one-index/three-walks shape as the Scala side. */
  private def dX132Sql: String = {
    val h = 2; val k = NndK
    val widths = Seq(1, 5, 10)
    val chains = widths.map { b =>
      val pfx = s"w$b"
      s""",
         |${pfx}v0 AS (SELECT src, dst, cos FROM iv0),
         |${dWalkFold(s"${pfx}v0", s"${pfx}f0", b)}
         |${dBeamHops(h, b, "sq", "vec_id", pfx = pfx, udcName = "udc")}"""
        .stripMargin
    }.mkString
    val grades = widths.map { b =>
      s""",
         |g$b AS (SELECT CAST($b AS BIGINT) AS beam,
         |    CAST(COUNT(*) AS BIGINT) AS n_answers,
         |    CAST(SUM(CASE WHEN e.neighbor_id IS NOT NULL
         |      THEN 1 ELSE 0 END) AS BIGINT) AS n_hits
         |  FROM (SELECT src, dst FROM (
         |      SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
         |        ORDER BY cos DESC, dst) AS rk FROM w${b}v$h WHERE src < 8)
         |    WHERE rk <= $k) f
         |  LEFT JOIN exact e
         |    ON f.src = e.query_id AND f.dst = e.neighbor_id)""".stripMargin
    }.mkString
    s"""$dNndBase,
       |${dUdCap(s"e$NndT", "ud", "udc")},
       |${dIvfEntryScored("iv0")}
       |$chains
       |, exact AS (SELECT query_id, neighbor_id FROM ($dX11Sql)
       |            WHERE rk <= $k)
       |$grades
       |SELECT beam, n_answers, n_hits,
       |  ${dRound6("CAST(n_hits AS DOUBLE) / CAST(n_answers AS DOUBLE)")} AS recall_at_k
       |FROM (SELECT * FROM g1 UNION ALL SELECT * FROM g5
       |      UNION ALL SELECT * FROM g10)
       |ORDER BY beam""".stripMargin
  }

  /** x134's oracle: three construction chains (K ∈ {5, 10, 20}, 3
    * local-join rounds — dNndChain's k/t knobs) on the 1/10 TUNING
    * SLICE under dense ROW_NUMBER ids (the Scala side's ExactRank
    * sample), each with its own 2K-capped adjacency and walk. The
    * entry chain is emitted ONCE (seeds are graph-independent — the
    * Scala side's one shared `entries` frame) and aliased into each
    * leg's hop-0 CTE names; src is an original id and dst a dense
    * slice index, so the walks run with the self-guard off and the
    * grade drops orig_id = src rows on both the answer and truth
    * sides (a probe divisible by 10 meets its own vector). Truth is
    * the slice's OWN brute-force top-k (`sxt`) — see degreeSweep's
    * doc for why full-corpus truth would erase the K-signal. */
  private def dX134Sql: String = dDegreeSweepSql(dSq)

  /** x135's oracle: the identical sweep text over the CLUSTERED vector
    * CTE — [[dSqC]] re-derives the mixture vectors from the same md5 +
    * IEEE-double expression tree the Spark side evaluates, final
    * float32 cast on both, so the twin geometries stay hash-exact. */
  private def dX135Sql: String = dDegreeSweepSql(dSqC)

  /** x136's oracle: one standing-knob construction chain (K=[[NndK]],
    * T=2) on the clustered 1/10 slice, then TWO walks over the SAME
    * capped adjacency — `h*` seeded by the uniform hash text, `i*`
    * seeded through the IVF quantizer replay (x17's exact-decimal
    * centroid CTEs learned on the slice, argmax-cosine assignment,
    * hash-ranked 4 representatives per cell, top-2 routing per probe)
    * — each graded against the slice's own brute-force truth. Every
    * piece is the shared parametrized builder; the two seeding CTE
    * families are the only divergent text, mirroring the Scala side's
    * one-graph/two-entry-frames shape. */
  private def dX136Sql: String = {
    val e = 8; val b = 10; val h = 2; val k = NndK
    s"""$dSqC,
       |s10 AS MATERIALIZED (SELECT
       |       ROW_NUMBER() OVER (ORDER BY q.vec_id) - 1 AS vec_id,
       |       q.vec_id AS orig_id, e.label AS label, q.embedding, q.sq
       |     FROM sq q JOIN embeddings e ON q.vec_id = e.vec_id
       |     WHERE q.vec_id % 10 = 0),
       |s10c AS (SELECT vec_id, embedding, sq FROM s10),
       |${dNndChain("s10c", "zn0", "z", k = k, t = 2)},
       |${dUdCap("ze2", "zud", "zudc", cap = 2 * k)},
       |sxt AS MATERIALIZED (SELECT src, dst, rk FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk
       |    FROM (SELECT a.vec_id AS src, b.vec_id AS dst, $dCos AS cos
       |          FROM sq a JOIN s10 b ON b.orig_id <> a.vec_id
       |          WHERE a.vec_id < 8))
       |  WHERE rk <= $TopK),
       |hentq AS (SELECT vec_id, ${dH("concat(vec_id, ':entry:', j)")} % nc AS dst
       |         FROM sq, zn0, UNNEST(range(1, $e + 1)) AS u(j)
       |         WHERE vec_id < 8),
       |hentp AS (SELECT DISTINCT vec_id AS src, dst FROM hentq),
       |hv0 AS MATERIALIZED (SELECT src, dst, $dCos AS cos
       |       FROM hentp JOIN sq a ON hentp.src = a.vec_id
       |                  JOIN s10 b ON hentp.dst = b.vec_id),
       |hf0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM hv0) WHERE rk <= $b)
       |${dBeamHops(h, b, "sq", "vec_id", pfx = "h", dstTbl = "s10",
          excludeSelf = false, udcName = "zudc")},
       |cm AS (SELECT label, dim,
       |         CAST(SUM(CAST(CAST(v AS DOUBLE) AS DECIMAL(20,8))) AS DOUBLE)
       |           / CAST(COUNT(*) AS DOUBLE) AS c
       |       FROM (SELECT label, generate_subscripts(embedding, 1) - 1 AS dim,
       |               unnest(embedding) AS v FROM s10)
       |       GROUP BY label, dim),
       |cent AS (SELECT cl, cv, ${dSumSq64("cv")} AS csq FROM (
       |       SELECT label AS cl, list(c ORDER BY dim) AS cv
       |       FROM cm GROUP BY label)),
       |asg AS MATERIALIZED (SELECT vec_id, cl AS cell FROM (
       |    SELECT s.vec_id, c.cl,
       |      ROW_NUMBER() OVER (PARTITION BY s.vec_id
       |        ORDER BY (${dDotF64("s.embedding", "c.cv")}) / sqrt(s.sq * c.csq) DESC, c.cl) AS rn
       |    FROM s10c s CROSS JOIN cent c) WHERE rn = 1),
       |cell4 AS (SELECT cell, dst FROM (
       |    SELECT cell, vec_id AS dst,
       |      ROW_NUMBER() OVER (PARTITION BY cell
       |        ORDER BY ${dH("concat(cell, ':', vec_id)")} DESC, vec_id) AS rn
       |    FROM asg) WHERE rn <= 4),
       |rout AS (SELECT src, cell FROM (
       |    SELECT p.vec_id AS src, c.cl AS cell,
       |      ROW_NUMBER() OVER (PARTITION BY p.vec_id
       |        ORDER BY (${dDotF64("p.embedding", "c.cv")}) / sqrt(p.sq * c.csq) DESC, c.cl) AS rn
       |    FROM sq p CROSS JOIN cent c WHERE p.vec_id < 8) WHERE rn <= 2),
       |ientp AS (SELECT DISTINCT src, dst FROM rout JOIN cell4 USING (cell)),
       |iv0 AS MATERIALIZED (SELECT src, dst, $dCos AS cos
       |       FROM ientp JOIN sq a ON ientp.src = a.vec_id
       |                  JOIN s10 b ON ientp.dst = b.vec_id),
       |if0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM iv0) WHERE rk <= $b)
       |${dBeamHops(h, b, "sq", "vec_id", pfx = "i", dstTbl = "s10",
          excludeSelf = false, udcName = "zudc")},
       |${Seq("h" -> "hash", "i" -> "ivf").map { case (p, tag) =>
          s"""${p}g AS (SELECT '$tag' AS seeding,
             |    CAST(SUM(CASE WHEN f.rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
             |      AS n_answers_5,
             |    CAST(SUM(CASE WHEN f.rk <= 5 AND e.rk <= 5 THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_hits_5,
             |    CAST(COUNT(*) AS BIGINT) AS n_answers_10,
             |    CAST(SUM(CASE WHEN e.rk IS NOT NULL THEN 1 ELSE 0 END)
             |      AS BIGINT) AS n_hits_10
             |  FROM (SELECT src, dst, rk FROM (
             |      SELECT v.src, v.dst, ROW_NUMBER() OVER (PARTITION BY v.src
             |        ORDER BY v.cos DESC, v.dst) AS rk
             |      FROM ${p}v$h v JOIN s10 m ON v.dst = m.vec_id
             |      WHERE v.src < 8 AND m.orig_id <> v.src)
             |    WHERE rk <= $TopK) f
             |  LEFT JOIN sxt e ON f.src = e.src AND f.dst = e.dst)""".stripMargin
        }.mkString(",\n")}
       |SELECT seeding, n_answers_5, n_hits_5,
       |  ${dRound6("CAST(n_hits_5 AS DOUBLE) / CAST(n_answers_5 AS DOUBLE)")} AS recall_at_5,
       |  n_answers_10, n_hits_10,
       |  ${dRound6("CAST(n_hits_10 AS DOUBLE) / CAST(n_answers_10 AS DOUBLE)")} AS recall_at_10
       |FROM (SELECT * FROM hg UNION ALL SELECT * FROM ig)
       |ORDER BY seeding""".stripMargin
  }

  /** x137's oracle: ONE construction chain (the x136 text — clustered
    * 1/10 slice, K=[[NndK]], T=2) and FOUR prefixed entry/walk chains
    * at E ∈ {4, 8, 16, 32}, each the x134 seeding text with the entry
    * count as the only changed literal, each graded against the shared
    * slice truth — the one-index/N-walks shape of x132, with the knob
    * moved from width to entries. */
  private def dX137Sql: String = {
    val b = 10; val h = 2; val k = NndK
    val es = Seq(4, 8, 16, 32)
    val chains = es.map { e =>
      val p = f"w$e%02d"
      s""",
         |${p}entq AS (SELECT vec_id, ${dH("concat(vec_id, ':entry:', j)")} % nc AS dst
         |         FROM sq, zn0, UNNEST(range(1, $e + 1)) AS u(j)
         |         WHERE vec_id < 8),
         |${p}entp AS (SELECT DISTINCT vec_id AS src, dst FROM ${p}entq),
         |${p}v0 AS MATERIALIZED (SELECT src, dst, $dCos AS cos
         |       FROM ${p}entp JOIN sq a ON ${p}entp.src = a.vec_id
         |                  JOIN s10 b ON ${p}entp.dst = b.vec_id),
         |${p}f0 AS (SELECT src, dst FROM (
         |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
         |      ORDER BY cos DESC, dst) AS rk FROM ${p}v0) WHERE rk <= $b)
         |${dBeamHops(h, b, "sq", "vec_id", pfx = p, dstTbl = "s10",
            excludeSelf = false, udcName = "zudc")}""".stripMargin
    }.mkString
    val grades = es.map { e =>
      val p = f"w$e%02d"
      s""",
         |${p}g AS (SELECT CAST($e AS BIGINT) AS entries,
         |    CAST(SUM(CASE WHEN f.rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_answers_5,
         |    CAST(SUM(CASE WHEN f.rk <= 5 AND e.rk <= 5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_5,
         |    CAST(COUNT(*) AS BIGINT) AS n_answers_10,
         |    CAST(SUM(CASE WHEN e.rk IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_10
         |  FROM (SELECT src, dst, rk FROM (
         |      SELECT v.src, v.dst, ROW_NUMBER() OVER (PARTITION BY v.src
         |        ORDER BY v.cos DESC, v.dst) AS rk
         |      FROM ${p}v$h v JOIN s10 m ON v.dst = m.vec_id
         |      WHERE v.src < 8 AND m.orig_id <> v.src)
         |    WHERE rk <= $TopK) f
         |  LEFT JOIN sxt e ON f.src = e.src AND f.dst = e.dst)""".stripMargin
    }.mkString
    s"""$dSqC,
       |s10 AS MATERIALIZED (SELECT
       |       ROW_NUMBER() OVER (ORDER BY q.vec_id) - 1 AS vec_id,
       |       q.vec_id AS orig_id, e.label AS label, q.embedding, q.sq
       |     FROM sq q JOIN embeddings e ON q.vec_id = e.vec_id
       |     WHERE q.vec_id % 10 = 0),
       |s10c AS (SELECT vec_id, embedding, sq FROM s10),
       |${dNndChain("s10c", "zn0", "z", k = k, t = 2)},
       |${dUdCap("ze2", "zud", "zudc", cap = 2 * k)},
       |sxt AS MATERIALIZED (SELECT src, dst, rk FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk
       |    FROM (SELECT a.vec_id AS src, b.vec_id AS dst, $dCos AS cos
       |          FROM sq a JOIN s10 b ON b.orig_id <> a.vec_id
       |          WHERE a.vec_id < 8))
       |  WHERE rk <= $TopK)
       |$chains
       |$grades
       |SELECT entries, n_answers_5, n_hits_5,
       |  ${dRound6("CAST(n_hits_5 AS DOUBLE) / CAST(n_answers_5 AS DOUBLE)")} AS recall_at_5,
       |  n_answers_10, n_hits_10,
       |  ${dRound6("CAST(n_hits_10 AS DOUBLE) / CAST(n_answers_10 AS DOUBLE)")} AS recall_at_10
       |FROM (SELECT * FROM w04g UNION ALL SELECT * FROM w08g
       |      UNION ALL SELECT * FROM w16g UNION ALL SELECT * FROM w32g)
       |ORDER BY entries""".stripMargin
  }

  /** The clustered twin of [[dSq]]: same CTE name (`sq`), so every
    * parametrized chain builder runs unchanged over it. */
  private def dSqC: String =
    s"""WITH ce AS (SELECT vec_id, list_transform(range(0, ${Frag.Dim}), i -> CAST(
       |    (CASE WHEN ${dH("concat('cent:', CAST(label AS VARCHAR), ':', CAST(i AS VARCHAR))")} % 2 = 0
       |       THEN CAST(-1 AS DOUBLE) ELSE CAST(1 AS DOUBLE) END)
       |    + CAST(0.6 AS DOUBLE) * ((CAST(${dH("concat('cn:', CAST(vec_id AS VARCHAR), ':', CAST(i AS VARCHAR))")} AS DOUBLE)
       |        / CAST(1152921504606846976 AS DOUBLE)) * CAST(2 AS DOUBLE) - CAST(1 AS DOUBLE))
       |    AS FLOAT)) AS embedding
       |  FROM embeddings),
       |sq AS (SELECT vec_id, embedding, ${dSumSq("embedding")} AS sq FROM ce)""".stripMargin

  private def dDegreeSweepSql(base: String): String = {
    val e = 8; val b = 5; val h = 2
    val degrees = Seq(5, 10, 20)
    val chains = degrees.map { k =>
      val p = f"k$k%02d"
      s""",
         |${dNndChain("s10", s"${p}n0", p, k = k, t = 3)},
         |${dUdCap(s"${p}e3", s"${p}ud", s"${p}udc", cap = 2 * k)},
         |${p}v0 AS (SELECT * FROM swv0),
         |${p}f0 AS (SELECT * FROM swf0)
         |${dBeamHops(h, b, "sq", "vec_id", pfx = p, udcName = s"${p}udc",
            dstTbl = "s10", excludeSelf = false)}""".stripMargin
    }.mkString
    val grades = degrees.map { k =>
      val p = f"k$k%02d"
      s""",
         |${p}g AS (SELECT CAST($k AS BIGINT) AS degree,
         |    CAST(SUM(CASE WHEN f.rk <= 5 THEN 1 ELSE 0 END) AS BIGINT)
         |      AS n_answers_5,
         |    CAST(SUM(CASE WHEN f.rk <= 5 AND e.rk <= 5 THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_5,
         |    CAST(COUNT(*) AS BIGINT) AS n_answers_10,
         |    CAST(SUM(CASE WHEN e.rk IS NOT NULL THEN 1 ELSE 0 END)
         |      AS BIGINT) AS n_hits_10
         |  FROM (SELECT src, dst, rk FROM (
         |      SELECT v.src, v.dst, ROW_NUMBER() OVER (PARTITION BY v.src
         |        ORDER BY v.cos DESC, v.dst) AS rk
         |      FROM ${p}v$h v JOIN s10 m ON v.dst = m.vec_id
         |      WHERE v.src < 8 AND m.orig_id <> v.src)
         |    WHERE rk <= $TopK) f
         |  LEFT JOIN sxt e ON f.src = e.src AND f.dst = e.dst)""".stripMargin
    }.mkString
    s"""$base,
       |s10 AS MATERIALIZED (SELECT
       |       ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS vec_id,
       |       vec_id AS orig_id, embedding, sq
       |     FROM sq WHERE vec_id % 10 = 0),
       |s10n AS (SELECT COUNT(*) AS nc FROM s10),
       |swentq AS (SELECT vec_id, ${dH("concat(vec_id, ':entry:', j)")} % nc AS dst
       |         FROM sq, s10n, UNNEST(range(1, $e + 1)) AS u(j)
       |         WHERE vec_id < 8),
       |swentp AS (SELECT DISTINCT vec_id AS src, dst FROM swentq),
       |swv0 AS MATERIALIZED (SELECT src, dst, $dCos AS cos
       |       FROM swentp JOIN sq a ON swentp.src = a.vec_id
       |                   JOIN s10 b ON swentp.dst = b.vec_id),
       |swf0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM swv0) WHERE rk <= $b),
       |sxt AS MATERIALIZED (SELECT src, dst, rk FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk
       |    FROM (SELECT a.vec_id AS src, b.vec_id AS dst, $dCos AS cos
       |          FROM sq a JOIN s10 b ON b.orig_id <> a.vec_id
       |          WHERE a.vec_id < 8))
       |  WHERE rk <= $TopK)
       |$chains
       |$grades
       |SELECT degree, n_answers_5, n_hits_5,
       |  ${dRound6("CAST(n_hits_5 AS DOUBLE) / CAST(n_answers_5 AS DOUBLE)")} AS recall_at_5,
       |  n_answers_10, n_hits_10,
       |  ${dRound6("CAST(n_hits_10 AS DOUBLE) / CAST(n_answers_10 AS DOUBLE)")} AS recall_at_10
       |FROM (SELECT * FROM k05g UNION ALL SELECT * FROM k10g
       |      UNION ALL SELECT * FROM k20g)
       |ORDER BY degree""".stripMargin
  }

  /** x129's oracle: the full two-layer replay — the layer-0
    * construction chain (shared text with x120/x121), the coarse-layer
    * sample with dense ROW_NUMBER ids + its own prefixed construction
    * chain, the coarse walk (no self-guard: src/dst domains differ),
    * the top-B→orig_id entry mapping, then the standard layer-0 walk
    * and grade. Every piece is the same parametrized CTE builder the
    * single-layer oracles use — one algebra, two layers. */
  private def dX129Sql: String = {
    val b = 5; val e = 8; val h = 2
    s"""$dNndBase,
       |l1 AS MATERIALIZED (SELECT
       |       ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS vec_id,
       |       vec_id AS orig_id, embedding, sq
       |     FROM sq WHERE ${dH("concat(vec_id, ':lvl')")} % 16 = 0),
       |${dNndChain("l1", "gn0", "g")},
       |${dUdCap(s"ge$NndT", "gud", "gudc")},
       |gentq AS (SELECT vec_id, ${dH("concat(vec_id, ':entry:', j)")} % nc AS dst
       |         FROM sq, gn0, UNNEST(range(1, $e + 1)) AS u(j)
       |         WHERE vec_id < 8),
       |gentp AS (SELECT DISTINCT vec_id AS src, dst FROM gentq),
       |gv0 AS MATERIALIZED (SELECT src, dst, $dCos AS cos
       |       FROM gentp JOIN sq a ON gentp.src = a.vec_id
       |                  JOIN l1 b ON gentp.dst = b.vec_id),
       |gf0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM gv0) WHERE rk <= $b)
       |${dBeamHops(h, b, "sq", "vec_id", pfx = "g", dstTbl = "l1",
          excludeSelf = false)},
       |ent0 AS (SELECT DISTINCT f.src, l.orig_id AS dst
       |       FROM (SELECT src, dst FROM (
       |           SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |             ORDER BY cos DESC, dst) AS rk FROM gv$h)
       |         WHERE rk <= $b) f
       |       JOIN l1 l ON f.dst = l.vec_id
       |       WHERE f.src <> l.orig_id),
       |${dUdCap(s"e$NndT", "ud", "udc")},
       |v0 AS MATERIALIZED (SELECT ent0.src, ent0.dst, $dCos AS cos
       |       FROM ent0 JOIN sq a ON ent0.src = a.vec_id
       |                 JOIN sq b ON ent0.dst = b.vec_id),
       |f0 AS (SELECT src, dst FROM (
       |    SELECT src, dst, ROW_NUMBER() OVER (PARTITION BY src
       |      ORDER BY cos DESC, dst) AS rk FROM v0) WHERE rk <= $b)
       |${dBeamHops(h, b, "sq", "vec_id")}
       |, ${dGraphGrade(s"v$h")}""".stripMargin
  }
}
