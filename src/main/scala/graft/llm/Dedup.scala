package graft.llm

import graft.queries.{Durable, Shared}
import graft.queries.Tables.t
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Frag._

/** [EXT] Deduplication operators over `documents`: exact (content-hash
  * groupBy), MinHash+LSH banding, SimHash + hamming-ball join, and exact
  * n-gram Jaccard via an inverted-index join.
  *
  * Scale design (the part that matters at 100 TB):
  *  - signatures (minhash/simhash) are explode + codegen'd keyed
  *    aggregations (map-side partial agg, no interpreted HOFs in the
  *    hot path, per-element cost independent of document size);
  *  - candidate generation NEVER does an O(n²) cross join: MinHash
  *    shuffles on (band_idx, band_hash), SimHash on 15-bit chunks
  *    (pigeonhole: 4 chunks guarantee recall for hamming ≤ 3), Jaccard
  *    on rare shingles (df-pruned inverted index). Each is an equi-join
  *    Catalyst executes as a shuffled hash join on keys that are
  *    uniformly hash-distributed — skew-resistant by construction;
  *  - exact verification (jaccard / hamming) runs only on candidates.
  *
  * Algorithms follow the published designs: MinHash (Broder, "On the
  * resemblance and containment of documents", 1997), LSH banding
  * (Gionis/Indyk/Motwani, VLDB 1999; banding scheme as in Mining of
  * Massive Datasets ch.3), SimHash (Charikar, STOC 2002) with the
  * hamming-chunk index of Manku/Jain/Sarma (WWW 2007), and stop-shingle
  * pruning in the spirit of AllPairs (Bayardo/Ma/Srikant, WWW 2007).
  */
object Dedup {

  private val Seeds = 16

  /** x29's exact Levenshtein as a banded kernel (see [[EditDistance]]);
    * null-safe like the built-in expression (null in → null out). */
  private val levBandedUdf = udf((a: String, b: String) =>
    if (a == null || b == null) null.asInstanceOf[java.lang.Integer]
    else java.lang.Integer.valueOf(EditDistance.exact(a, b)))

  /** doc_id + distinct 3-gram shingle set (the base for minhash/jaccard),
    * over exact-dup REPRESENTATIVES only: byte-identical documents are
    * collapsed first (min doc_id per content fingerprint). Identical
    * docs produce identical signatures and land in the same LSH/chunk
    * buckets, making within-bucket pair counts quadratic in the copy
    * factor — collapsing first keeps every fuzzy-dedup operator linear
    * on heavily-duplicated corpora (and is a no-op on dup-free ones).
    * repartition: the test corpus is one parquet file = one input
    * split; Shared.shared: one cached copy serves every dedup operator
    * (x06–x10, x24, x32, x35, x39) across the whole session. */
  private def shingled(s: SparkSession, dir: String): DataFrame =
      Shared.shared(s, dir, "shingled") {
    val base = t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)
    val reps = docFp(s, dir)
      .groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
      .select("doc_id")
    // fused native shingler when GraftExtensions is installed; the
    // composable HOF chain otherwise (identical output, oracle-checked)
    val shingleExpr =
      if (s.catalog.functionExists("shingles3")) "shingles3(text)"
      else sLet(sTokens, "tk", sShingles)
    base.join(reps, "doc_id")
      .selectExpr("doc_id", s"$shingleExpr as shs")
      .filter("size(shs) > 0")
  }

  /** Bloom decontamination sizing (x61): 2^17 bits = 16 KB, 3 seeds.
    * At the sf0.01 test-gram count (~15k grams × 3 positions) the fill
    * stays under ~30%, a realistic regime with a nonzero — and, because
    * the positions are md5-derived, fully deterministic — false-positive
    * set that the oracle reproduces. */
  private[llm] val BloomM = 1 << 17
  private[llm] val BloomK = 3

  /** doc_id, split bucket, distinct 8-gram set — shared by the x21
    * semi-join scan and the x61 bloom scan (one cached copy, and x21
    * reads it three times). */
  private def splitGrams(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "split_grams") {
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .selectExpr("doc_id",
          s"${sSplitBucket("doc_id")} as bucket",
          s"${sLet(sTokens, "tk", sGrams8)} as gs")
    }

  /** x61's body, with the path made explicit so the spec can run both
    * forms on one session and assert equality: `native` uses the
    * BloomBitsAgg bitset + codegen'd probe; the fallback is the
    * positions-subset semi-join (the bloom's defining equivalence, and
    * the oracle's shape). */
  private[graft] def bloomDecontam(
      s: SparkSession, dir: String, native: Boolean): DataFrame = {
    val m = BloomM; val k = BloomK
    val grams = splitGrams(s, dir)
    val trainDocs = grams.filter("bucket < 80").select("doc_id", "gs")
    def posList(h: String) =
      (0 until k).map(j => s"${sDerive(h, j)} % $m").mkString(", ")
    val flagged =
      if (native) {
        val bloom = grams.filter("bucket >= 90")
          .selectExpr("explode(gs) as g")
          .selectExpr(s"${sH("g")} as h")
          .agg(expr(s"bloom_bits(h, $m, $k)").as("bloom"))
        trainDocs.selectExpr("doc_id", "explode(gs) as g")
          .crossJoin(broadcast(bloom))
          .selectExpr("doc_id", s"bloom_might_contain(bloom, ${sH("g")}, $k) as hit")
          .filter("hit")
          .groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
      } else {
        // composable fallback (no extension): count how many of the k
        // derived positions each train gram finds among the distinct
        // test-set positions — `all k set` ≡ bloom membership
        val tpos = grams.filter("bucket >= 90")
          .selectExpr("explode(gs) as g").distinct()
          .selectExpr(s"${sH("g")} as h")
          .selectExpr(s"explode(array(${posList("h")})) as p")
          .distinct()
        trainDocs.selectExpr("doc_id", "explode(gs) as g")
          .selectExpr("doc_id", "g", s"${sH("g")} as h")
          .selectExpr("doc_id", "g", s"explode(array(${posList("h")})) as p")
          .join(tpos, "p")
          .groupBy("doc_id", "g").agg(count(lit(1)).as("nset"))
          .filter(s"nset = $k")
          .groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
      }
    trainDocs
      .selectExpr("doc_id", "cast(size(gs) as bigint) as n_grams")
      .join(flagged, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_grams",
        "coalesce(n_flagged, cast(0 as bigint)) as n_flagged",
        "coalesce(n_flagged, cast(0 as bigint)) > 0 as flagged")
      .orderBy("doc_id")
  }

  private def dMin(seed: Int) =
    s"MIN(${dDerive("h", seed)}) AS m$seed"

  /** Shared DuckDB CTE: per-doc shingle list over exact-dup reps.
    * The multiply-referenced stages are MATERIALIZED: DuckDB's default
    * CTE inlining otherwise re-computes the whole md5-groupBy +
    * shingle chain once per reference, and at the 100× decade that
    * inflation was a hard OOM at every thread level for the heaviest
    * riders (x63/x67) — with the hints both run in ~4 s there,
    * bit-identical output (the hint changes evaluation, not values). */
  private val dShingled =
    s"""WITH dreps AS MATERIALIZED (SELECT MIN(doc_id) AS doc_id FROM documents GROUP BY md5($dNorm)),
       |du AS MATERIALIZED (SELECT d.* FROM documents d JOIN dreps USING (doc_id)),
       |tkn AS (SELECT doc_id, $dTokens AS tk FROM du),
       |shd0 AS (SELECT doc_id, $dShingles AS shs FROM tkn),
       |shd AS MATERIALIZED (SELECT * FROM shd0 WHERE len(shs) > 0)""".stripMargin

  /** DuckDB minhash signature CTE (appended to dShingled): one md5 per
    * shingle, then the 16 derived-seed minima. MATERIALIZED for the
    * same inlining reason as [[dShingled]]. */
  private val dSig =
    s""", ex AS MATERIALIZED (SELECT doc_id, unnest(shs) AS sh FROM shd),
       |ex2 AS MATERIALIZED (SELECT doc_id, ${dH("sh")} AS h FROM ex),
       |sig AS MATERIALIZED (SELECT doc_id, ${(0 until Seeds).map(dMin).mkString(", ")} FROM ex2 GROUP BY doc_id)""".stripMargin

  private def sBandHash(b: Int) =
    sH(s"concat_ws(',', m${4 * b}, m${4 * b + 1}, m${4 * b + 2}, m${4 * b + 3})")
  private def dBandHash(b: Int) =
    dH(s"concat_ws(',', m${4 * b}, m${4 * b + 1}, m${4 * b + 2}, m${4 * b + 3})")

  /** Spark minhash signature frame: doc_id, m0..m15. One md5 per
    * exploded shingle, then 16 rotate-xor `min` aggregates in a single
    * codegen'd aggregation (map-side partial agg, one shuffle on
    * doc_id) — no interpreted higher-order functions in the hot path,
    * and per-element cost independent of document size. */
  private def signatures(s: SparkSession, dir: String): DataFrame =
    if (s.catalog.functionExists("minhash16")) {
      // fused native form: one md5 per shingle, 16 minima in registers,
      // no shuffle. The persist boundary stops projection collapse from
      // inlining (and so re-evaluating) minhash16 into all 16 columns;
      // shared because x06, x07 and x35 all consume the signatures.
      Durable.tier(s, dir, "minhash_ms", "v1-s16") {
        shingled(s, dir).selectExpr("doc_id", "minhash16(shs) as ms")
      }
        .selectExpr("doc_id" +:
          (0 until Seeds).map(i => s"element_at(ms, ${i + 1}) as m$i"): _*)
    } else {
      // composable fallback: explode + 16 codegen'd min aggregates
      val minima = (0 until Seeds).map(i =>
        expr(s"min(${sDerive("h", i)})").as(s"m$i"))
      shingled(s, dir)
        .selectExpr("doc_id", "explode(shs) as sh")
        .selectExpr("doc_id", s"${sH("sh")} as h")
        .groupBy("doc_id")
        .agg(minima.head, minima.tail: _*)
    }

  /** DURABLE (shingle → stats) tier over the RAW corpus: per distinct
    * 3-word shingle, its document frequency, first-seer doc (min
    * doc_id), and the sorted distinct source list — the ONE corpus-wide
    * shingle aggregation the equality-only shingle consumers (x64
    * pressure histogram, x57 novelty, x48 source overlap) all start
    * from. Version-keyed by the shingle contract (3-word shingles over
    * ws-lower tokens — [[Frag.sShinglesText]]); a tokenizer or shingler
    * change must bump it. Rationale (round 15, the `doc_tf` move
    * applied to shingles): the riders' remaining 100× cost was
    * RE-GENERATING the corpus-wide shingle stream per run — but the
    * stream's aggregate is corpus STATE, not query work. Persisted
    * once (bench prewarm / first touch / index root), every rider
    * reads a frame bounded by |distinct shingles|, and x64/x48 never
    * touch the raw text again. Deliberately the RAW corpus, not the
    * rep-collapsed frame: byte-identical copies are exactly the
    * pressure x64 measures and both x57/x48 count them too. */
  /** DURABLE (doc_id → content fingerprint) tier: the exact-dedup
    * fingerprint pass persisted as ingest-time state — the third
    * instance of the doc_tf/shingle_df move. Six operators start from
    * md5 of the normalized text (x04 fingerprints, x05 exact dedup,
    * x67 cross-split decontamination, x99's probe side, the shingled
    * rep collapse, the x58/x109 funnel's stage-0), and each was paying
    * its own full-text scan to recompute a value that is corpus STATE
    * (any real pipeline persists fingerprints at ingest — the
    * reference's K3 idempotent upsert is keyed on exactly this).
    * Version-keyed by the normalization contract (ws-lower collapse —
    * [[Frag.sNorm]]) and the hash pair (md5 + the 60-bit engine hash);
    * a normalizer change must bump it. Consumers read a 3-column frame
    * bounded by |corpus| rows and never touch the text column. */
  private[llm] def docFp(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "doc_fp", "v1-ws-lower") {
      t(s, dir, "documents")
        .selectExpr("doc_id", s"md5($sNorm) as fp", s"${sH(sNorm)} as fp64")
    }

  private[llm] def shingleDf(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "shingle_df", "v1-w3-ws-lower") {
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .selectExpr("doc_id", "source", s"${sShinglesText(s)} as shs")
        .selectExpr("doc_id", "source", "explode(shs) as sh")
        .groupBy("sh")
        .agg(count(lit(1)).as("df"),
          min(col("doc_id")).as("first_doc"),
          sort_array(collect_set(col("source"))).as("srcs"))
    }

  // (simhash assembled from 60 per-bit majority sums; see simhashed)

  /** DuckDB simhash CTE: same majority vote via unnest + range join. */
  private val dSimhash =
    s"""$dShingled,
       |ex AS (SELECT doc_id, unnest(shs) AS sh FROM shd),
       |th AS (SELECT doc_id, ${dH("sh")} AS h FROM ex),
       |bits AS (SELECT doc_id, b,
       |           CASE WHEN 2*SUM((h >> b) & 1) > COUNT(*)
       |                THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bv
       |         FROM th, range(0, 60) r(b) GROUP BY doc_id, b),
       |sh2 AS (SELECT doc_id, SUM(bv)::BIGINT AS simhash FROM bits GROUP BY doc_id)""".stripMargin

  /** x58/x109 shared oracle chain: simhash pair graph + Gopher gate +
    * exact dedup + quality + near-dedup, ending at fs3 (survivors with
    * their token counts). */
  private lazy val dFunnelCte =
    s"""$dSimhash,
       |chunks AS (SELECT doc_id, simhash, c AS ci, (simhash >> (15*c)) & 32767 AS chunk
       |           FROM sh2, range(0, 4) r(c)),
       |prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
       |        FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
       |             AND a.doc_id < b.doc_id
       |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
       |gtf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
       |        WHERE token <> '' GROUP BY doc_id, token),
       |ga AS (SELECT doc_id, SUM(tf) AS nt, MAX(tf) AS max_tf,
       |         SUM(length(token) * tf) AS n_tok_chars,
       |         SUM(CASE WHEN token IN ('the', 'a', 'and', 'of', 'to', 'le', 'la', 'el', 'der', 'die') THEN tf ELSE 0 END) AS sh
       |       FROM gtf GROUP BY doc_id),
       |gate AS (SELECT doc_id, CAST(nt AS BIGINT) AS nt,
       |           (CAST(nt AS BIGINT) BETWEEN 20 AND 100000)
       |             AND (${dRound6("CAST(n_tok_chars AS DOUBLE) / CAST(nt AS DOUBLE)")} BETWEEN 2.0 AND 10.0)
       |             AND (${dRound6("CAST(max_tf AS DOUBLE) / CAST(nt AS DOUBLE)")} <= 0.2)
       |             AND (sh >= 2) AS pass
       |         FROM ga),
       |d0 AS (SELECT d.doc_id, md5($dNorm) AS fp,
       |         COALESCE(g.nt, 0) AS nt, COALESCE(g.pass, FALSE) AS pass
       |       FROM documents d LEFT JOIN gate g USING (doc_id)),
       |freps AS (SELECT MIN(doc_id) AS doc_id FROM d0 GROUP BY fp),
       |fs1 AS (SELECT d0.* FROM d0 JOIN freps USING (doc_id)),
       |fs2 AS (SELECT * FROM fs1 WHERE pass),
       |drp AS (SELECT DISTINCT p.doc_b AS doc_id
       |        FROM prs p JOIN fs2 a ON p.doc_a = a.doc_id
       |                   JOIN fs2 b ON p.doc_b = b.doc_id),
       |fs3 AS (SELECT * FROM fs2 WHERE doc_id NOT IN (SELECT doc_id FROM drp))""".stripMargin

  /** Spark simhash over shingles: explode the shingle hashes and take a
    * per-bit majority vote as 60 codegen'd conditional sums in ONE
    * aggregation (map-side partial agg, one shuffle on doc_id), then
    * assemble the 60-bit word in a single projection. This is the
    * shape that scales: no per-row megaloop, so a document with 10^6
    * shingles costs the same per-element work as a small one. */
  private def simhashed(s: SparkSession, dir: String): DataFrame =
      Durable.tier(s, dir, "simhashed", "v1-b60") {
    if (s.catalog.functionExists("simhash60"))
      // fused native form: narrow map, no shuffle until the chunk join
      shingled(s, dir)
        .selectExpr("doc_id", "simhash60(shs) as simhash")
    else {
      // composable fallback: explode + 60 per-bit majority sums in one
      // codegen'd aggregation (map-side partial agg, shuffle on doc_id)
      val bitSums = (0 until 60).map(b =>
        expr(s"sum(cast((shiftright(h, $b) & 1) as bigint))").as(s"c$b"))
      val word = (0 until 60).map(b =>
        s"if(2 * c$b > n, shiftleft(cast(1 as bigint), $b), cast(0 as bigint))")
        .mkString(" + ")
      shingled(s, dir)
        .selectExpr("doc_id", "explode(shs) as sh")
        .selectExpr("doc_id", s"${sH("sh")} as h")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n"), bitSums: _*)
        .selectExpr("doc_id", s"$word as simhash")
        // (cached by Shared.shared: hamming self-join sides + x08/x09/x24/x32)
    }
  }

  /** x09's pair graph: simhash reps whose hamming distance ≤ 3, found
    * via the 4 × 15-bit pigeonhole chunk index (exact recall for the
    * ≤ 3 radius). Shared by x09 (pair listing) and x24 (clustering). */
  private[llm] def simhashPairs(s: SparkSession, dir: String): DataFrame = {
    val sh = simhashed(s, dir)
      .selectExpr("doc_id", "simhash",
        "posexplode(transform(sequence(0, 3), c -> (shiftright(simhash, 15*c) & 32767))) as (ci, chunk)")
    val a = sh.select(col("doc_id").as("doc_a"), col("simhash").as("ha"),
      col("ci"), col("chunk"))
    val b = sh.select(col("doc_id").as("doc_b"), col("simhash").as("hb"),
      col("ci"), col("chunk"))
    // hamming test runs inside the join stage (cheap bit math per
    // candidate row) so only true near-dups reach the dedup shuffle
    a.join(b, Seq("ci", "chunk")).filter(col("doc_a") < col("doc_b"))
      .filter("bit_count(ha ^ hb) <= 3")
      .dropDuplicates("doc_a", "doc_b")
      .selectExpr("doc_a", "doc_b",
        "cast(bit_count(ha ^ hb) as bigint) as hamming")
  }

  /** Connected components over [[simhashPairs]] as (doc, lbl) — lbl =
    * min doc_id in the component; only docs in ≥ 1 pair appear.
    * Distributed min-label propagation; eager localCheckpoint per round
    * truncates lineage so each round plans against materialized
    * partitions (without it Catalyst re-analyzes a plan that grows with
    * every iteration and the loop goes quadratic in rounds). The
    * improvement flag rides in the same pass, so the convergence probe
    * is a filter over checkpointed data — one distributed job per
    * round, one boolean to the driver.
    *
    * Shared-tier frame: the converged cluster assignment is reused by
    * x24/x32/x52/x73 (and transitively by every canonical-mapping
    * consumer) — in a real dedup campaign it IS a persisted table, so
    * the propagation loop runs once per corpus, not once per report. */
  private def clusterLabels(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "cluster_labels")(clusterLabelsBuild(s, dir))

  private def clusterLabelsBuild(s: SparkSession, dir: String): DataFrame = {
    val pairs = simhashPairs(s, dir).select("doc_a", "doc_b")
    val edges = pairs
      .unionByName(pairs.select(col("doc_b").as("doc_a"), col("doc_a").as("doc_b")))
      .toDF("src", "dst")
      .localCheckpoint()
    // The propagation loop runs on pair-graph-sized frames — orders of
    // magnitude smaller than the corpus (LSH candidates, not documents).
    // Size the loop's shuffle width to the graph, not the corpus: at the
    // corpus width every round is ~100 near-empty tasks of pure
    // scheduling overhead (measured 2.2s → 0.9s for x32 at sf0.1). At
    // true scale the same rule applies — the width should track
    // |pair graph| / target-partition-size, which is why it is derived
    // from the edge frame, not hardcoded to the session default.
    val prevParts = s.conf.get("spark.sql.shuffle.partitions")
    val loopParts = math.min(prevParts.toInt,
      math.max(2, (edges.count() / 100000L).toInt)).toString
    s.conf.set("spark.sql.shuffle.partitions", loopParts)
    try {
      var labels = edges.select(col("src").as("doc")).distinct()
        .withColumn("lbl", col("doc")).localCheckpoint()
      var converged = false
      while (!converged) {
        val prop = edges.join(labels.withColumnRenamed("doc", "src"), "src")
          .groupBy(col("dst").as("doc")).agg(min(col("lbl")).as("nlbl"))
        val next = labels.join(prop, Seq("doc"), "left")
          .selectExpr("doc", "least(lbl, coalesce(nlbl, lbl)) as lbl",
            "coalesce(nlbl, lbl) < lbl as improved")
          .localCheckpoint()
        converged = next.filter(col("improved")).isEmpty
        labels = next.drop("improved")
      }
      labels
    } finally s.conf.set("spark.sql.shuffle.partitions", prevParts)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(

    // exact dedup: hash-groupBy on the normalized-content fingerprint;
    // representative = min doc_id (one shuffle, map-side partial agg)
    "x05_exact_dedup" -> { (s, dir) =>
      docFp(s, dir)
        .select("doc_id", "fp")
        .groupBy("fp")
        .agg(min(col("doc_id")).as("rep_id"),
          count(lit(1)).as("n_copies"))
        .orderBy("rep_id")
    },

    // MinHash signatures (16 seeds over 3-gram shingles)
    "x06_minhash_sigs" -> { (s, dir) =>
      signatures(s, dir).orderBy("doc_id")
    },

    // MinHash + LSH: 4 bands × 4 rows; candidates share a band bucket;
    // exact jaccard ≥ 0.5 verified on candidates only — the in_l slice
    // of the shared pair-stats frame (one array join serves x07/x10/
    // x35/x46)
    "x07_lsh_neardup_pairs" -> { (s, dir) =>
      pairStats(s, dir).filter("in_l = 1")
        .selectExpr("doc_a", "doc_b", s"$sJaccard as jaccard")
        .filter("jaccard >= 0.5")
        .orderBy("doc_a", "doc_b")
    },

    // SimHash (64-bit, majority of shingle-hash bits) — pure map
    "x08_simhash" -> { (s, dir) =>
      simhashed(s, dir).orderBy("doc_id")
    },

    // SimHash near-dups: 4 × 15-bit chunk index — pigeonhole guarantees
    // every pair with hamming ≤ 3 shares a chunk (exact recall), and
    // 15-bit buckets stay selective even when simhashes cluster
    // (narrow chunks collapse into huge buckets on homogeneous
    // corpora — the quadratic blow-up this avoids)
    "x09_simhash_neardups" -> { (s, dir) =>
      simhashPairs(s, dir).orderBy("doc_a", "doc_b")
    },

    // near-dup CLUSTERS: connected components over the x09 pair graph —
    // the step that turns pairwise matches into "keep one per group".
    // Distributed min-label propagation: each round every node adopts
    // the smallest label among itself and its neighbors; rounds are
    // whole-graph joins (no driver-side graph state, only the converged
    // flag crosses to the driver), so the algorithm is
    // partition-parallel at any scale. Rounds = graph diameter; the
    // large-star/small-star variant (Kiveris et al.) would make it
    // log(diameter) — unnecessary for near-dup components, which are
    // tiny and dense by construction. Cluster id = min doc_id in the
    // component; the DuckDB oracle recomputes components via a
    // recursive-CTE transitive closure — a completely different
    // algorithm, so agreement is a strong check.
    "x24_dedup_clusters" -> { (s, dir) =>
      val labels = clusterLabels(s, dir)
      val sizes = labels.groupBy(col("lbl").as("cluster_id"))
        .agg(count(lit(1)).as("cluster_size"))
      labels.select(col("doc").as("doc_id"), col("lbl").as("cluster_id"))
        .join(sizes, "cluster_id")
        .select("doc_id", "cluster_id", "cluster_size")
        .orderBy("doc_id")
    },

    // CANONICAL ASSIGNMENT — the shippable output of the dedup stack:
    // every document maps to its canonical survivor through both
    // levels (exact-dup representative via content fingerprint, then
    // the rep's near-dup cluster label). The join plan is
    // corpus × two small frames (rep mapping is a window over the
    // fingerprint partition; cluster labels are pair-graph-sized).
    "x32_canonical_docs" -> { (s, dir) =>
      canonicalDocs(s, dir).orderBy("doc_id")
    },

    // CORPUS DEDUP SCORECARD — the one-row report a curation run ends
    // with (what fraction survives, and why): total docs, surviving
    // canonical docs, exact-dup and near-dup attributions, and the
    // dedup rate. Pure aggregation over the canonical-assignment frame
    // (whose stages are all shared-cached); integer counts into one
    // exact division. The oracle re-derives the same numbers from its
    // own recursive-closure canonical mapping — a full independent
    // replay of the dedup stack, collapsed to five numbers.
    "x52_dedup_scorecard" -> { (s, dir) =>
      canonicalDocs(s, dir)
        .agg(count(lit(1)).as("n_docs"),
          countDistinct(col("canonical_id")).as("n_canonical"),
          sum(expr("case when reason = 'exact' then 1 else 0 end")).as("ne"),
          sum(expr("case when reason = 'near' then 1 else 0 end")).as("nn"))
        .selectExpr("n_docs", "n_canonical",
          "cast(ne as bigint) as n_exact_dups",
          "cast(nn as bigint) as n_near_dups",
          sRound6("cast(n_docs - n_canonical as double) / cast(n_docs as double)") + " as dedup_rate")
    },

    // EDIT-DISTANCE VERIFICATION of the simhash candidates: exact
    // Levenshtein over normalized text, the precision pass after the
    // recall-oriented LSH. Distance runs only on the candidate pairs
    // (never pairwise over the corpus) with the text payload joined in
    // for survivors only — the verify-after-candidates discipline that
    // keeps fuzzy dedup linear.
    "x29_edit_distance" -> { (s, dir) =>
      val pairs = Shared.temp(simhashPairs(s, dir).select("doc_a", "doc_b"))
      // normalize ONLY pair members (guide §8: the decision set is
      // pair-graph-sized): the old shape evaluated the whitespace-lower
      // normalization over the FULL corpus twice — once per join side —
      // to feed a candidate set thousands of times smaller
      val ids = pairs.selectExpr("explode(array(doc_a, doc_b)) as doc_id")
        .distinct()
      val norm = Shared.temp(t(s, dir, "documents")
        .join(broadcast(ids), "doc_id")
        .selectExpr("doc_id", s"$sNorm as nt"))
      // the DP runs ONCE per pair: the persist boundary stops
      // CollapseProject from inlining the alias into both consumers and
      // evaluating it twice. The persisted frame is candidate-pair-sized
      // (LSH survivors), not corpus-sized. The distance itself is the
      // banded exact kernel (EditDistance: prefix/suffix strip + Ukkonen
      // band doubling — O(d·len) on the near-identical candidates
      // instead of the built-in's full O(len²) table; value-identical,
      // property-pinned against the built-in by EditDistanceSpec).
      val lev = Shared.temp(pairs
        .join(norm.select(col("doc_id").as("doc_a"), col("nt").as("ta")), "doc_a")
        .join(norm.select(col("doc_id").as("doc_b"), col("nt").as("tb")), "doc_b")
        .select(col("doc_a"), col("doc_b"),
          expr("length(ta)").as("la"), expr("length(tb)").as("lb"),
          levBandedUdf(col("ta"), col("tb")).as("lev")))
      lev.selectExpr("doc_a", "doc_b",
          "cast(lev as bigint) as edit_dist",
          sRound6("1.0d - cast(lev as double) / cast(greatest(la, lb, 1) as double)") + " as edit_sim")
        .orderBy("doc_a", "doc_b")
    },

    // LSH QUALITY METRICS — the tuning harness every LSH deployment
    // needs: precision/recall of the minhash-banded near-dup pairs
    // (x07) against the rare-shingle exact-jaccard pairs (x10) as
    // ground truth, computed by a full outer join of the two pair sets.
    // Both inputs are candidate-pair-sized; the metrics collapse to one
    // row. Re-banding (rows/bands trade) moves these numbers — this
    // query is how you see it without eyeballing pair lists.
    "x35_lsh_quality" -> { (s, dir) =>
      // precision/recall straight off the shared pair-stats frame: a
      // pair passes the same jaccard filter no matter which arm
      // proposed it, so counting flags over verified pairs is identical
      // to full-outer-joining the two verified pair lists.
      pairStats(s, dir)
        .withColumn("jaccard", expr(sJaccard))
        .filter("jaccard >= 0.5")
        .agg(sum(col("in_l")).as("n_lsh"), sum(col("in_e")).as("n_exact"),
          sum(col("in_l") * col("in_e")).as("n_both"))
        .selectExpr(
          "coalesce(n_lsh, cast(0 as bigint)) as n_lsh",
          "coalesce(n_exact, cast(0 as bigint)) as n_exact",
          "coalesce(n_both, cast(0 as bigint)) as n_both",
          sRound6("case when n_lsh > 0 then cast(n_both as double) / cast(n_lsh as double) else 0.0d end") + " as precision_r",
          sRound6("case when n_exact > 0 then cast(n_both as double) / cast(n_exact as double) else 0.0d end") + " as recall_r")
    },

    // train→test contamination scan (decontamination, as in GPT-3 /
    // The Pile dataset reports): a test document is contaminated when
    // it shares any 8-gram with the train split. Split assignment uses
    // the same stable hash as x19; the overlap check is an
    // inverted-index semi-join on 8-grams — never a pairwise compare.
    "x21_contamination" -> { (s, dir) =>
      val grams = splitGrams(s, dir)
      val train = grams.filter("bucket < 80")
        .selectExpr("explode(gs) as g").distinct()
      val testEx = grams.filter("bucket >= 90")
        .selectExpr("doc_id", "explode(gs) as g")
      val shared = testEx.join(train, "g")
        .groupBy("doc_id")
        .agg(countDistinct(col("g")).as("n_shared"))
      grams.filter("bucket >= 90").select("doc_id")
        .join(shared, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "coalesce(n_shared, cast(0 as bigint)) as n_shared",
          "coalesce(n_shared, cast(0 as bigint)) > 0 as contaminated")
        .orderBy("doc_id")
    },

    // BLOOM-FILTER DECONTAMINATION — x21's scan with the join turned
    // inside out, the shape that actually survives 100 TB: x21 shuffles
    // the corpus-sized train gram stream on the gram key; here the
    // small fixed side (the benchmark/test grams) folds into one m-bit
    // bitset (`plans.BloomBitsAgg`, merge = word-wise OR), that single
    // row broadcasts, and the train corpus is probed MAP-SIDE by a
    // codegen'd `bloom_might_contain` — the only corpus shuffle left is
    // the per-doc count aggregation (map-side combined). No false
    // negatives; false positives are a deterministic function of
    // (test grams, m, k), so the DuckDB oracle reproduces the exact
    // flag set via the positions-subset equivalence: "all k derived
    // positions set" ≡ "all k positions ∈ the distinct test-position
    // table". At m=2^17, k=3 the filter is 16 KB — at real scale m
    // grows with the benchmark suite (a few GB broadcast once), never
    // with the corpus.
    "x61_bloom_decontam" -> { (s, dir) =>
      bloomDecontam(s, dir, native = s.catalog.functionExists("bloom_bits"))
    },

    // NEAR-DUP CROSS-SPLIT DECONTAMINATION — x21/x61 catch verbatim
    // n-gram leakage; this catches the leakage n-grams miss: a test
    // document that is an exact OR fuzzy copy of a train document
    // (the GPT-3-report failure mode — eval examples surviving dedup
    // because they differ by a header). Two levels, mirroring x32's
    // canonicalization: (1) exact — the test doc's content fingerprint
    // appears in train; (2) near — the doc's exact-dup representative
    // has a verified jaccard ≥ 0.5 pair (either recall path of the
    // shared pair-stats frame) with a representative of ≥ 1 train doc.
    // Split assignment is x19's stable hash. Everything rides shared
    // frames (fingerprints, pair stats); new work is fingerprint-keyed
    // set algebra + one broadcast-sized join on rep ids — the corpus
    // shuffles once on fp, never pairwise.
    "x67_neardup_decontam" -> { (s, dir) =>
      val d = Shared.temp(docFp(s, dir)
        .selectExpr("doc_id", "fp",
          s"${sSplitBucket("doc_id")} as bucket")
        .selectExpr("doc_id", "fp",
          "case when bucket < 80 then 'train' when bucket < 90 then 'val' else 'test' end as split"))
      val rep = d.groupBy("fp").agg(min(col("doc_id")).as("rep_id"))
      val dr = d.join(rep, "fp")
      val trainFp = d.filter("split = 'train'").select("fp").distinct()
        .withColumn("ex", lit(true))
      val trainReps = dr.filter("split = 'train'")
        .select(col("rep_id").as("nbr")).distinct()
      val pairs = pairStats(s, dir)
        .selectExpr("doc_a", "doc_b", s"$sJaccard as jaccard")
        .filter("jaccard >= 0.5")
      val sym = pairs.selectExpr("doc_a as ra", "doc_b as nbr", "jaccard")
        .unionByName(pairs.selectExpr("doc_b as ra", "doc_a as nbr", "jaccard"))
      val nearRep = sym.join(broadcast(trainReps), "nbr")
        .groupBy(col("ra").as("rep_id"))
        .agg(countDistinct(col("nbr")).as("n_near_train"),
          max(col("jaccard")).as("best_jaccard"))
      dr.filter("split = 'test'")
        .join(broadcast(trainFp), Seq("fp"), "left")
        .join(broadcast(nearRep), Seq("rep_id"), "left")
        .selectExpr("doc_id",
          "coalesce(ex, false) as exact_leak",
          "n_near_train is not null as near_leak",
          "coalesce(ex, false) or n_near_train is not null as leaked",
          "coalesce(n_near_train, cast(0 as bigint)) as n_near_train",
          "coalesce(best_jaccard, cast(0.0 as double)) as best_jaccard")
        .orderBy("doc_id")
    },

    // DETECTOR AGREEMENT MATRIX — the cross-validation report for the
    // fuzzy-dedup stack: the Venn decomposition of the pair sets the
    // three independent detectors flag (J = exact jaccard ≥ 0.5 over
    // either recall path, S = simhash hamming ≤ 3, C = asymmetric
    // containment ≥ 0.7). High J∩S with small symmetric differences
    // says the thresholds are calibrated; a large C-only region says
    // containment is catching subset dups the symmetric measures miss.
    // One row out; the inputs are the already-cached pair-stats and
    // simhash-pair frames, so the query itself is flag algebra over
    // candidate-pair-sized data. Pure integer counts ⇒ exact.
    "x70_dedup_agreement" -> { (s, dir) =>
      val st = pairStats(s, dir)
        .selectExpr("doc_a", "doc_b", s"$sJaccard as jac",
          sRound6("cast(inter as double) / cast(na as double)") + " as ca",
          sRound6("cast(inter as double) / cast(nb as double)") + " as cb")
      val j = st.filter("jac >= 0.5").selectExpr("doc_a", "doc_b",
        "1L as j", "0L as sp", "0L as c")
      val cn = st.filter("ca >= 0.7 or cb >= 0.7").selectExpr("doc_a", "doc_b",
        "0L as j", "0L as sp", "1L as c")
      val sh = simhashPairs(s, dir).selectExpr("doc_a", "doc_b",
        "0L as j", "1L as sp", "0L as c")
      j.unionByName(cn).unionByName(sh)
        .groupBy("doc_a", "doc_b")
        .agg(max(col("j")).as("j"), max(col("sp")).as("sp"),
          max(col("c")).as("c"))
        .agg(count(lit(1)).as("n_any"),
          sum(col("j")).as("n_jaccard"),
          sum(col("sp")).as("n_simhash"),
          sum(col("c")).as("n_containment"),
          sum(col("j") * col("sp")).as("n_js"),
          sum(col("j") * col("c")).as("n_jc"),
          sum(col("sp") * col("c")).as("n_sc"),
          sum(col("j") * col("sp") * col("c")).as("n_jsc"))
        .selectExpr("n_any", "cast(n_jaccard as bigint) as n_jaccard",
          "cast(n_simhash as bigint) as n_simhash",
          "cast(n_containment as bigint) as n_containment",
          "cast(n_js as bigint) as n_js", "cast(n_jc as bigint) as n_jc",
          "cast(n_sc as bigint) as n_sc", "cast(n_jsc as bigint) as n_jsc")
    },

    // QUALITY×DUPLICATION CALIBRATION CURVE — does low-quality text
    // duplicate more? Per quality decile (x03's score, ranked via
    // ExactRank — no global window), the canonical-assignment outcome
    // mix (survivor / exact-dup / near-dup) and the decile's dedup
    // rate. If the curve is flat, quality filtering and dedup are
    // independent signals and both earn their pipeline slot; if dups
    // concentrate in the bottom deciles, a quality gate FIRST shrinks
    // the dedup job. Joins the corpus once against two cached frames
    // (quality is a narrow map; canonical mapping is x32's); output is
    // 10 rows. Integer counts into exact divisions.
    "x73_quality_dup_curve" -> { (s, dir) =>
      // quality from the doc_stats tier (same integers, same divisions
      // — bit-identical; measured: the per-run corpus re-tokenize was
      // ~7 s of this cell's 8.4 s at 100×)
      val q = TextAnalysis.docStats(s, dir)
        .selectExpr("doc_id",
          s"${TextAnalysis.sStatsDr} as dr",
          s"${TextAnalysis.sStatsLs} as ls")
        .selectExpr("doc_id", sRound6("dr * ls") + " as quality")
      val ranked = graft.queries.ExactRank.withGlobalRank(q,
          Seq(col("quality"), col("doc_id")))
        .selectExpr("doc_id", "quality",
          "cast((rank - 1) * 10 div n_total + 1 as bigint) as decile")
      canonicalDocs(s, dir).join(ranked, "doc_id")
        .groupBy("decile")
        .agg(count(lit(1)).as("n_docs"),
          sum(expr("case when reason = 'self' then 1 else 0 end")).as("ns"),
          sum(expr("case when reason = 'exact' then 1 else 0 end")).as("ne"),
          sum(expr("case when reason = 'near' then 1 else 0 end")).as("nn"),
          min(col("quality")).as("q_min"), max(col("quality")).as("q_max"))
        .selectExpr("decile", "n_docs",
          "cast(ns as bigint) as n_self",
          "cast(ne as bigint) as n_exact",
          "cast(nn as bigint) as n_near",
          sRound6("cast(n_docs - ns as double) / cast(n_docs as double)") + " as dup_rate",
          "q_min", "q_max")
        .orderBy("decile")
    },

    // DEDUP PRESSURE CURVE — the sizing report read BEFORE running a
    // dedup campaign: the distribution of shingle document-frequencies
    // over the RAW corpus (deliberately not the exact-rep-collapsed
    // frame — byte-identical copies are exactly the pressure being
    // measured). df=1 mass is unique text; the df≥2 tail is how much
    // of the corpus is shared, and its shape picks the df-prune
    // threshold the inverted-index joins (x10/x46/x48) run with. Two
    // keyed aggregations (shingle → df, df → histogram) + a one-row
    // total — the second aggregate and everything after are bounded by
    // max(df), not data volume. Round 15: the (shingle → df) frame is
    // the durable `shingle_df` tier (corpus state, built once — the
    // doc_tf move), so the query itself is ONE aggregation over a
    // |distinct shingles|-bounded tier read; the raw text is never
    // re-shingled per run. Keys stay RAW STRINGS — hashing them was
    // measured and rejected (see sShinglesText's decision record: the
    // partial agg collapses the tier build's exchange before it
    // ships, so per-instance md5 is pure added CPU).
    "x64_dedup_pressure" -> { (s, dir) =>
      val byDf = shingleDf(s, dir)
        .groupBy("df").agg(count(lit(1)).as("n_shingles"))
        .selectExpr("df", "n_shingles", "df * n_shingles as mass")
      val tot = byDf.agg(sum(col("mass")).as("total_mass"))
      byDf.crossJoin(broadcast(tot))
        .selectExpr("df", "n_shingles", "mass",
          sRound6("cast(mass as double) / cast(total_mass as double)") + " as mass_frac")
        .orderBy("df")
    },

    // LSH BUCKET-SKEW REPORT — x64 gauges the raw corpus's shingle
    // pressure; this gauges the INDEX the dedup join actually runs on:
    // the distribution of (band, band_hash) bucket sizes, with each
    // size's candidate-pair mass s·(s−1)/2 · n_buckets and its share
    // of the total. The pair-mass tail is the join's fan-out forecast —
    // a single mega-bucket here is the hot key that stalls the 100 TB
    // banding join, and THIS report (two keyed aggregations, the
    // second bounded by max bucket size) is how you see it before
    // paying for it. Rides the shared lsh_bands frame.
    "x108_lsh_bucket_skew" -> { (s, dir) =>
      val hist = lshBands(s, dir)
        .groupBy("bi", "bh").agg(count(lit(1)).as("bsz"))
        .groupBy("bsz").agg(count(lit(1)).as("n_buckets"))
        .selectExpr("bsz", "n_buckets",
          "((bsz * (bsz - 1)) div 2) * n_buckets as pair_mass")
      val tot = hist.agg(sum(col("pair_mass")).as("total_pairs"))
      hist.crossJoin(broadcast(tot))
        .selectExpr("bsz as bucket_size", "n_buckets", "pair_mass",
          sRound6("case when total_pairs = 0 then cast(0 as double) " +
            "else cast(pair_mass as double) / cast(total_pairs as double) end") +
            " as pair_frac")
        .orderBy("bucket_size")
    },

    // CORPUS-BUILD MANIFEST — the composition every single-stage query
    // exists to serve, run end-to-end as ONE dag: exact dedup →
    // quality gate → near dedup (x58's survivor chain, shared) →
    // benchmark decontamination (drop held-out-split docs AND any
    // survivor sharing an 8-gram with the held-out grams — x21's scan
    // pointed at the training side, the direction a real corpus build
    // runs it) → deterministic shard assignment. The output is the
    // artifact a training run consumes: (doc_id, n_tokens, shard).
    // Every stage rides a shared/cached frame; the composition itself
    // adds two anti-joins and one hash projection — at 100 TB the
    // manifest costs no more than its most expensive stage.
    "x109_corpus_manifest" -> { (s, dir) =>
      val (_, _, _, s3) = funnelStages(s, dir)
      val grams = splitGrams(s, dir)
      val bench = Shared.temp(grams.filter("bucket >= 90")
        .selectExpr("explode(gs) as g").distinct())
      // the contamination probe only decides membership for docs that
      // can survive the preceding bench anti-join (bucket < 90). When
      // the distinct bench-gram set fits the broadcast bound, the exact
      // join broadcasts it — the corpus-side gram stream never shuffles
      // on the gram string (x119's shape). A genuinely large held-out
      // split falls back to the map-side bloom gate + shuffle join
      // (guide §3.2); the exact join confirms either way.
      val nEval = bench.count()
      val fits = nEval <= GateBroadcastKeys
      val trainEx = grams.filter("bucket < 90")
        .selectExpr("doc_id", "explode(gs) as g")
      val gated =
        if (!fits && s.catalog.functionExists("bloom_bits")) {
          val m = gateBits(nEval)
          val bloom = bench.selectExpr(s"${sH("g")} as h")
            .agg(expr(s"bloom_bits(h, $m, $BloomK)").as("bloom"))
          trainEx.crossJoin(broadcast(bloom))
            .filter(expr(s"bloom_might_contain(bloom, ${sH("g")}, $BloomK)"))
            .select("doc_id", "g")
        } else trainEx
      val contaminated = gated
        .join(if (fits) broadcast(bench) else bench, "g")
        .select("doc_id").distinct()
      s3
        .join(grams.filter("bucket >= 90").select("doc_id"),
          Seq("doc_id"), "left_anti")
        .join(contaminated, Seq("doc_id"), "left_anti")
        .selectExpr("doc_id", "nt as n_tokens",
          s"${sH("concat('shard:', doc_id)")} % 8 as shard")
        .orderBy("doc_id")
    },

    // MINHASH ESTIMATOR CALIBRATION — x35 grades the LSH *recall
    // pipeline*; this grades the *estimator itself*: per candidate
    // pair, the signature-agreement estimate ĵ = |{s : mₛ(A)=mₛ(B)}|/16
    // (Broder: P[mₛ(A)=mₛ(B)] = J(A,B), so agreement is a 16-sample
    // Bernoulli mean) against the exact jaccard, with the absolute
    // error. The report tells you whether a re-banding decision (x35)
    // is limited by banding or by signature width — at 100 TB you act
    // on THIS before re-signing the corpus with more seeds. Rides the
    // shared pair-stats + signature caches: the whole query is two
    // broadcast-sized joins and scalar math over candidate pairs.
    "x63_minhash_calibration" -> { (s, dir) =>
      val sig = signatures(s, dir)
      val sigA = sig.toDF("doc_a" +: (0 until Seeds).map(i => s"am$i"): _*)
      val sigB = sig.toDF("doc_b" +: (0 until Seeds).map(i => s"bm$i"): _*)
      val agree = (0 until Seeds).map(i => s"if(am$i = bm$i, 1, 0)").mkString(" + ")
      pairStats(s, dir)
        .select("doc_a", "doc_b", "inter", "na", "nb")
        .join(sigA, "doc_a").join(sigB, "doc_b")
        .selectExpr("doc_a", "doc_b",
          s"cast($agree as bigint) as n_agree",
          s"$sJaccard as jaccard_exact")
        .selectExpr("doc_a", "doc_b", "n_agree", "jaccard_exact",
          sRound6(s"cast(n_agree as double) / cast($Seeds as double)") + " as jaccard_est",
          sRound6(s"abs(cast(n_agree as double) / cast($Seeds as double) - jaccard_exact)") + " as abs_err")
        .orderBy("doc_a", "doc_b")
    },

    // exact n-gram Jaccard via a df-pruned inverted-index join:
    // candidates must share a *rare* shingle (document frequency ≤ 8 —
    // AllPairs-style stop-shingle pruning, which caps the per-key join
    // fan-out at C(8,2) and kills the quadratic hot-key blow-up),
    // then exact jaccard over the FULL shingle sets ≥ 0.5
    "x10_jaccard_pairs" -> { (s, dir) =>
      pairStats(s, dir).filter("in_e = 1")
        .selectExpr("doc_a", "doc_b", s"$sJaccard as jaccard")
        .filter("jaccard >= 0.5")
        .orderBy("doc_a", "doc_b")
    },

    // CONTAINMENT DETECTION — the asymmetric sibling of jaccard:
    // |A∩B|/|A| catches a short document embedded inside a long one
    // (quote-expansion, boilerplate wrapping, partial scrapes), which
    // symmetric jaccard misses because the union is dominated by the
    // long side. Reads the shared pair-stats frame (union of both
    // recall paths, intersections already computed) — only the ratio
    // and threshold are query-specific.
    // CROSS-SOURCE OVERLAP MATRIX — the corpus-curation report that
    // tells you which ingestion sources are scraping each other:
    // shingle-set jaccard per source pair. Deliberately NOT built on
    // the rep-collapsed frame: a document duplicated across two sources
    // must count toward BOTH sources' sets. Scale shape: distinct
    // (source, sh) rows group once on sh, and each shingle's source
    // list (≤ #sources) expands to pairs locally — the same bounded
    // posting-list pattern as rareShingleCandidates, with the bound
    // being the source count, never data volume. Pure integer counts
    // into one double division ⇒ trivially oracle-exact. Shingling
    // runs the fused kernel; keys stay raw strings (the measured
    // decision — Frag.sShinglesText).
    "x48_source_overlap" -> { (s, dir) =>
      // round 15: the per-shingle sorted distinct source list is a
      // column of the durable shingle_df tier, so BOTH the totals and
      // the pair expansion are tier reads — the corpus text is never
      // re-shingled and the distinct-(source, sh) exchange never runs
      val sd = shingleDf(s, dir)
      val totals = sd.selectExpr("explode(srcs) as source")
        .groupBy("source").agg(count(lit(1)).as("n_sh"))
      val shared = sd
        .filter(size(col("srcs")) >= 2)
        .selectExpr("posexplode(srcs) as (i, source_a)", "srcs")
        .selectExpr("source_a", "explode(slice(srcs, i + 2, size(srcs))) as source_b")
        .groupBy("source_a", "source_b").agg(count(lit(1)).as("n_shared"))
      shared
        .join(broadcast(totals.selectExpr("source as source_a", "n_sh as n_a")), "source_a")
        .join(broadcast(totals.selectExpr("source as source_b", "n_sh as n_b")), "source_b")
        .selectExpr("source_a", "source_b", "n_shared", "n_a", "n_b",
          sRound6("cast(n_shared as double) / cast(n_a + n_b - n_shared as double)") + " as jaccard")
        .orderBy("source_a", "source_b")
    },

    "x46_containment" -> { (s, dir) =>
      pairStats(s, dir)
        .filter("inter > 0")
        .selectExpr("doc_a", "doc_b",
          sRound6("cast(inter as double) / cast(na as double)") + " as cont_a",
          sRound6("cast(inter as double) / cast(nb as double)") + " as cont_b")
        .filter("cont_a >= 0.7 or cont_b >= 0.7")
        .orderBy("doc_a", "doc_b")
    },

    // CURATION FUNNEL — the end-to-end pipeline report every corpus
    // build ends with: stage-by-stage doc and token attrition through
    //   0 all → 1 exact_dedup (corpus-wide min-doc-per-fingerprint
    //   reps) → 2 quality_gate (x50's Gopher rules, identical gate via
    //   TextAnalysis.gopherGate) → 3 near_dedup (drop any survivor with
    //   a smaller surviving simhash-neighbor — one-step greedy
    //   keep-smallest over x09's pair graph; the full transitive
    //   closure is x24/x32's job, the funnel reports attrition).
    // Every stage reuses a shared cached frame (fingerprints ride the
    // same md5, the gate rides doc_tf, pairs ride the simhash index),
    // so the funnel adds only tiny set algebra: one groupBy(fp), two
    // semi/anti joins on doc_id, four one-row aggregates. The retention
    // divisor is a broadcast one-row count — no global window anywhere.
    "x58_curation_funnel" -> { (s, dir) =>
      val (d0, s1, s2, s3) = funnelStages(s, dir)
      def stage(df: DataFrame, id: Int, name: String): DataFrame =
        df.agg(count(lit(1)).as("nd"), sum(col("nt")).as("ntok"))
          .selectExpr(s"cast($id as bigint) as stage",
            s"'$name' as stage_name",
            "cast(nd as bigint) as n_docs",
            "cast(coalesce(ntok, cast(0 as bigint)) as bigint) as n_tokens")
      stage(d0, 0, "all")
        .unionByName(stage(s1, 1, "exact_dedup"))
        .unionByName(stage(s2, 2, "quality_gate"))
        .unionByName(stage(s3, 3, "near_dedup"))
        .crossJoin(broadcast(d0.agg(count(lit(1)).as("n0"))))
        .selectExpr("stage", "stage_name", "n_docs", "n_tokens",
          sRound6("cast(n_docs as double) / cast(n0 as double)") + " as doc_retention")
        .orderBy("stage")
    },

    // LEAKAGE-FREE SPLIT — the split assignment a dedup-aware pipeline
    // actually ships (x19 hashes raw doc_ids, so two near-identical
    // documents can straddle train/test — exactly the leak x73/x67
    // then have to MEASURE): hash the CANONICAL id instead, so every
    // exact/near-dup group lands in one split by construction and
    // cross-split duplicate leakage is structurally impossible, not
    // post-hoc filtered. Rides the shared canonical mapping (the
    // propagation loop runs once per corpus); the per-doc work is two
    // derived hashes — a narrow map. `rescued` marks docs whose naive
    // doc_id-hash split differs from the group split: each is a
    // leakage path the canonical rule closed.
    "x88_leakage_free_split" -> { (s, dir) =>
      canonicalDocs(s, dir)
        .selectExpr("doc_id", "canonical_id",
          s"${sSplitBucket("canonical_id")} as cb",
          s"${sSplitBucket("doc_id")} as nb")
        .selectExpr("doc_id", "canonical_id",
          "case when cb < 80 then 'train' when cb < 90 then 'val' else 'test' end as split",
          "case when nb < 80 then 'train' when nb < 90 then 'val' else 'test' end as naive_split")
        .selectExpr("doc_id", "canonical_id", "split", "naive_split",
          "split != naive_split as rescued")
        .orderBy("doc_id")
    },

    // WINNOWING FINGERPRINTS (Schleimer–Wilkerson–Aiken, SIGMOD'03 —
    // the MOSS algorithm): per doc, hash every ordered token 3-gram,
    // keep the MINIMUM of each sliding window of 4 gram hashes, dedup.
    // Guarantees any shared run of ≥ 6 tokens contributes a shared
    // fingerprint (the winnowing coverage theorem), at ~2/(w+1) the
    // density of the full gram set — the position-robust local
    // fingerprinting scheme x04's global hash can't give. Pairs come
    // from the same bounded inverted-index expansion as x10: hot
    // fingerprints (df > 8) pruned from CANDIDATE GENERATION only,
    // per-bucket pair fan-out ≤ C(8,2) computed locally off a sorted
    // posting list (never a corpus self-join); the verify filter then
    // scores the FULL fingerprint sets of the ≤|candidates| survivors.
    // Window minima are taken over md5-derived 60-bit values, so
    // tie-breaks never matter in either engine (distinct grams ⇒
    // distinct hashes w.p. 1 − 2⁻⁶⁰).
    "x93_winnowing" -> { (s, dir) =>
      val fpd = winnowFps(s, dir)
      val ex = fpd.selectExpr("doc_id", "explode(fps) as fp")
      val cand = ex.groupBy("fp")
        .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
        .filter(size(col("ids")).between(2, 8))
        .selectExpr("posexplode(ids) as (i, doc_a)", "ids")
        .selectExpr("doc_a", "explode(slice(ids, i + 2, size(ids))) as doc_b")
        .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("n_rare"))
        .filter(col("n_rare") >= 2)
        .select("doc_a", "doc_b")
      cand
        .join(fpd.select(col("doc_id").as("doc_a"), col("fps").as("fa")), "doc_a")
        .join(fpd.select(col("doc_id").as("doc_b"), col("fps").as("fb")), "doc_b")
        .selectExpr("doc_a", "doc_b",
          "cast(size(fa) as bigint) as n_fp_a",
          "cast(size(fb) as bigint) as n_fp_b",
          "cast(size(array_intersect(fa, fb)) as bigint) as n_shared")
        .withColumn("overlap_r",
          expr(sRound6("cast(n_shared as double) / cast(least(n_fp_a, n_fp_b) as double)")))
        .filter(col("overlap_r") >= 0.5)
        .orderBy("doc_a", "doc_b")
    },

    // INCREMENTAL DEDUP — the ingest-time shape: dedup an incoming
    // batch against the STANDING corpus without re-deduping the corpus.
    // The batch is (a) docs with doc_id % 5 = 4 ("today's crawl") plus
    // (b) a re-crawl slice: base docs with doc_id % 97 = 0 re-ingested
    // verbatim under a fresh doc_id (+10^8, above any real id at any SF)
    // — the everyday case where
    // a fetcher re-downloads an unchanged page. (b) exists because the
    // fixture corpus has no two distinct doc_ids with identical
    // normalized text, so without a re-crawl arm the 'exact' verdict
    // would be structurally unreachable on the test data. At 100 TB you
    // never re-pair the whole store per batch: the batch joins the
    // materialized fingerprint store (exact) and the materialized
    // signature/pair index (near) — both already exist here as the
    // shared fp and pair-stats frames, so the only new work is
    // batch-sized. Verdict per new doc, in precedence order: 'exact'
    // (fp matches a base doc; dup_of = min such), 'near' (its
    // exact-representative has a verified jaccard ≥ 0.5 candidate pair
    // — union of both recall paths — whose partner is a base rep;
    // dup_of = the max-jaccard partner, ties to the smaller id), else
    // 'new'. Batch-internal duplicates are x05's job, not this gate's.
    "x99_incremental_dedup" -> { (s, dir) =>
      val fp = docFp(s, dir).select("doc_id", "fp")
      val recrawl = fp.filter("doc_id % 5 != 4 and doc_id % 97 = 0")
        // assert_true pins the offset's precondition at runtime: if a
        // corpus ever carries a doc_id ≥ 1e8, the query fails loudly
        // instead of silently colliding re-crawl ids with real ones
        // (assert_true yields NULL on success, so the ifnull term is 0)
        .selectExpr("doc_id + 100000000 + cast(ifnull(assert_true(" +
          "doc_id < 100000000, 'x99: doc_id >= 1e8 — re-crawl id offset " +
          "would collide with a real id'), 0) as bigint) as doc_id", "fp")
      val newDocs = fp.filter("doc_id % 5 = 4").unionByName(recrawl)
      // THE STANDING STORE (round 15): (fp → min base doc) as a durable
      // tier, HASH-BUCKETED on fp — the store is ingest-time state
      // probed every sync cycle, so it is written pre-shuffled once and
      // every batch probe joins it with ZERO store-side exchange (only
      // the batch-sized probe frames ever shuffle; BucketingSpec pins
      // the plan). The corpus-wide `reps` aggregation retired with it:
      // a batch fp's representative is min(batch-side min, store e_of),
      // two batch-sized frames and one store probe.
      val store = Durable.bucketedTier(s, dir, "fp_store",
          "v1-base-mod5", "fp") {
        fp.filter("doc_id % 5 != 4")
          .groupBy("fp").agg(min(col("doc_id")).as("e_of"))
      }
      val exact = newDocs.join(store, Seq("fp")).select("doc_id", "e_of")
      val batchMin = newDocs.groupBy("fp").agg(min(col("doc_id")).as("b_of"))
      val newRep = newDocs.join(
          batchMin.join(store, Seq("fp"), "left")
            .selectExpr("fp", "least(b_of, coalesce(e_of, b_of)) as rep_id"),
          Seq("fp"))
        .select("doc_id", "rep_id")
      val ps = pairStats(s, dir)
        .selectExpr("doc_a", "doc_b", s"$sJaccard as jaccard")
        .filter("jaccard >= 0.5")
      val nearPairs = ps.selectExpr("doc_a as rep_id", "doc_b as partner", "jaccard")
        .unionByName(ps.selectExpr("doc_b as rep_id", "doc_a as partner", "jaccard"))
        .filter("partner % 5 != 4")
      val nearBest = graft.plans.TopKPerKey.topKDesc(
          newRep.join(nearPairs, "rep_id"), Seq("doc_id"), "jaccard",
          Seq("partner"), 1)
        .selectExpr("doc_id", "partner as n_of", "jaccard as n_j")
      newDocs.select("doc_id")
        .join(exact, Seq("doc_id"), "left")
        .join(nearBest, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "case when e_of is not null then 'exact' " +
            "when n_of is not null then 'near' else 'new' end as verdict",
          "coalesce(e_of, n_of, cast(-1 as bigint)) as dup_of",
          sRound6("case when e_of is not null then 1.0d " +
            "when n_of is not null then n_j else 0.0d end") + " as jaccard")
        .orderBy("doc_id")
    },

    // CONTAMINATION SPAN COVERAGE — x21 answers "does this train doc
    // share ANY eval 8-gram"; the drop-vs-keep decision needs "HOW MUCH
    // of it is eval-overlapped" (the dirty-document methodology of the
    // GPT-3 appendix-C / PaLM contamination analyses: merge the matched
    // 8-gram spans [i, i+7] into maximal covered runs, measure the
    // covered-token fraction). Scale shape: when the distinct eval-gram
    // set fits the broadcast bound, the exact semi-join BROADCASTS it,
    // so the positional train stream never shuffles on the gram key at
    // all; a genuinely large held-out split falls back to the map-side
    // Bloom gate + shuffle join, whose false positives the exact join
    // removes — bit-identical either way (the DuckDB oracle runs the
    // plain semi-join). The span
    // merge is gaps-and-islands per document (window partitioned by
    // doc_id — never a global sort); output is one row per contaminated
    // train doc, bounded by the contamination, not the corpus.
    "x119_contamination_span" -> { (s, dir) =>
      contaminationSpan(s, dir,
        native = s.catalog.functionExists("bloom_bits"))
    },
  )

  /** x119's body with the bloom-gate path explicit so the spec can run
    * both forms on one session and assert bit-identity: the Bloom
    * prefilter admits false positives, the exact semi-join removes
    * them, so `native` may only change the plan, never the rows. */
  /** Bits for a results-INVISIBLE bloom gate (x119/x109 — an exact
    * semi-join confirms downstream, so m affects bytes-through-the-
    * exchange, never results): ~16 bits per inserted key at k=3 is
    * fpp < 1%; power of two, floored at x61's contractual 2^17 and
    * capped at 2^27 bits = 16 MB broadcast. Scale-honest: x61's FIXED
    * m is part of that query's output contract, but reused as a gate
    * it SATURATES past ~40k eval grams (sf0.1 holds ~450k set bits →
    * every probe passes → the full corpus-side gram stream hits the
    * exchange the gate exists to protect). */
  private[graft] def gateBits(nKeys: Long): Int = {
    var m = BloomM.toLong
    // overflow-safe form of `m < 16 * nKeys` (m is a power of two ≥ 2^17)
    while (m / 16 < nKeys && m < (1L << 27)) m <<= 1
    m.toInt
  }

  /** Max distinct eval-gram keys the contamination scans will BROADCAST
    * for the exact semi-join (x119/x109). Below this the join is a
    * broadcast hash semi-join — the corpus-side positional gram stream
    * never shuffles on the gram string at all, which beats any bloom
    * gate (the gate only *thinned* that exchange; the broadcast removes
    * it). Above it (a genuinely large held-out split) the map-side
    * bloom gate + shuffle join path stands. ~2M grams ≈ low hundreds of
    * MB of broadcast hash relation — sized for the bench's 8 GB driver;
    * env-tunable for bigger drivers. Read at each use, so a bad value
    * fails the query that needs it, not the whole object. */
  private[graft] def GateBroadcastKeys: Long =
    gateBroadcastKeys(sys.env.get("GRAFT_GATE_BROADCAST_KEYS"))

  /** Parses a `GRAFT_GATE_BROADCAST_KEYS` value: unset ⇒ 2^21 keys;
    * anything but a positive whole number is rejected. */
  private[graft] def gateBroadcastKeys(raw: Option[String]): Long =
    raw.fold(1L << 21) { v =>
      v.trim.toLongOption.filter(_ > 0).getOrElse(
        throw new IllegalArgumentException(
          s"GRAFT_GATE_BROADCAST_KEYS must be a positive whole number, got '$v'"))
    }

  private[graft] def contaminationSpan(
      s: SparkSession, dir: String, native: Boolean,
      broadcastKeys: Long = GateBroadcastKeys): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val k = BloomK
    // cached: read twice (sizing action, confirm join / bloom build)
    val evalG = Shared.temp(splitGrams(s, dir).filter("bucket >= 90")
      .selectExpr("explode(gs) as g").distinct())
    // exact distinct-gram count off the cached frame — replaces the old
    // positional upper bound, which overestimated by the copy factor on
    // duplicated corpora (and wrongly forced the shuffle path at 100×)
    val nEval = evalG.count()
    val fits = nEval <= broadcastKeys
    val trainPos = t(s, dir, "documents")
      .filter(expr(s"${sSplitBucket("doc_id")} < 80"))
      .repartition(s.sparkContext.defaultParallelism)
      .selectExpr("doc_id", s"$sTokens as tk")
      .selectExpr("doc_id", "cast(size(tk) as bigint) as n_tokens",
        """posexplode(case when size(tk) >= 8
          |  then transform(sequence(1, size(tk)-7),
          |    i -> concat_ws(' ', slice(tk, i, 8)))
          |  else cast(array() as array<string>) end) as (p0, g)""".stripMargin)
    val gated =
      if (native && !fits) {
        // large eval split: the exact join must shuffle, so thin the
        // corpus-side stream map-side first (guide §3.2)
        val m = gateBits(nEval)
        val bloom = evalG.selectExpr(s"${sH("g")} as h")
          .agg(expr(s"bloom_bits(h, $m, $k)").as("bloom"))
        trainPos.crossJoin(broadcast(bloom))
          .filter(expr(s"bloom_might_contain(bloom, ${sH("g")}, $k)"))
          .select("doc_id", "n_tokens", "p0", "g")
      } else trainPos
    // eval set fits ⇒ broadcast the exact semi-join (same equality
    // predicate, zero corpus-side exchange — strictly dominates the
    // bloom gate, which only thinned the exchange this removes)
    val evalSide = if (fits) broadcast(evalG) else evalG
    val matched = gated.join(evalSide, Seq("g"), "left_semi")
      .selectExpr("doc_id", "n_tokens", "p0 + 1 as i")
    val w = Window.partitionBy("doc_id").orderBy("i")
    matched
      .withColumn("prev_end",
        max(expr("i + 7")).over(w.rowsBetween(Window.unboundedPreceding, -1)))
      .withColumn("isl",
        sum(when(col("prev_end").isNull || col("i") > col("prev_end") + 1, 1)
          .otherwise(0)).over(w.rowsBetween(Window.unboundedPreceding, 0)))
      .groupBy("doc_id", "n_tokens", "isl")
      .agg(min(col("i")).as("span_s"), max(expr("i + 7")).as("span_e"))
      .groupBy("doc_id", "n_tokens")
      .agg(sum(expr("span_e - span_s + 1")).as("covered"),
        count(lit(1)).as("n_spans"))
      .selectExpr("doc_id", "n_tokens",
        "cast(covered as bigint) as covered", "n_spans",
        sRound6("cast(covered as double) / cast(n_tokens as double)") +
          " as coverage",
        "cast(covered as double) / cast(n_tokens as double) >= 0.2d as dirty")
      .orderBy("doc_id")
  }

  /** doc_id + distinct winnowing fingerprint set (window-of-4 minima
    * over ordered 3-gram hashes). Shared tier: the x93 candidate scan
    * and payload verify both read it, one cached copy. */
  private def winnowFps(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "winnow_fps", "v1-w4g3") {
      t(s, dir, "documents")
        .repartition(s.sparkContext.defaultParallelism)
        .selectExpr("doc_id",
          sLet(s"filter($sTokens, x -> x != '')", "tk",
            sLet(
              "case when size(tk) >= 3 then transform(sequence(1, size(tk)-2), i -> " +
                sH("concat_ws(' ', slice(tk, i, 3))") +
                ") else cast(array() as array<bigint>) end", "hs",
              """case when size(hs) >= 4
                |  then array_distinct(transform(sequence(1, size(hs)-3),
                |    j -> array_min(slice(hs, j, 4))))
                |when size(hs) >= 1 then array(array_min(hs))
                |else cast(array() as array<bigint>) end""".stripMargin)) + " as fps")
        .filter("size(fps) > 0")
    }

  /** Canonical-survivor assignment (x32's body, also aggregated by the
    * x52 scorecard): every document → its canonical doc through the
    * exact-dup representative (min doc_id per content fingerprint) and
    * the representative's near-dup cluster label. */
  private def canonicalDocs(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "canonical_docs")(canonicalDocsBuild(s, dir))

  private def canonicalDocsBuild(s: SparkSession, dir: String): DataFrame = {
    val w = org.apache.spark.sql.expressions.Window.partitionBy("fp")
    val rep = t(s, dir, "documents")
      .selectExpr("doc_id", s"md5($sNorm) as fp")
      .withColumn("rep_id", min(col("doc_id")).over(w))
      .select("doc_id", "rep_id")
    val labels = clusterLabels(s, dir)
      .select(col("doc").as("rep_id"), col("lbl").as("cluster_id"))
    rep.join(labels, Seq("rep_id"), "left")
      .selectExpr("doc_id",
        "coalesce(cluster_id, rep_id) as canonical_id",
        """case when coalesce(cluster_id, rep_id) = doc_id then 'self'
          |  when coalesce(cluster_id, rep_id) = rep_id then 'exact'
          |  else 'near' end as reason""".stripMargin)
  }

  /** MinHash-LSH candidate pairs (share ≥ 1 of 4 band buckets);
    * doc_a < doc_b, distinct. Band rows are shared: x07 and x35 both
    * read them, and the band self-join shuffles only (doc, band) rows. */
  /** The materialized LSH band index (doc_id, bi, bh) over exact-dup
    * reps — the standing structure an ingest-time gate probes
    * (`Streaming.nearDupGateStream`) and the self-join recall arm
    * reads. Shared tier: built once per corpus. */
  private[graft] def lshBands(s: SparkSession, dir: String): DataFrame =
    Durable.tier(s, dir, "lsh_bands", "v1-b4") {
      signatures(s, dir).selectExpr("doc_id",
        s"posexplode(array(${(0 until 4).map(sBandHash).mkString(", ")})) as (bi, bh)")
    }

  /** Curation-funnel stage frames, shared by x58 (attrition report) and
    * x109 (the final manifest): d0 = corpus with fingerprint / token
    * count / Gopher pass flag, s1 = exact-dedup representatives, s2 =
    * quality survivors, s3 = near-dedup survivors (one-step greedy
    * keep-smallest over the simhash pair graph). Stage frames are
    * transient-cached so each caller's set algebra runs the pipeline
    * once. */
  private def funnelStages(s: SparkSession, dir: String)
      : (DataFrame, DataFrame, DataFrame, DataFrame) = {
    val gate = TextAnalysis.gopherGate(s, dir)
      .select("doc_id", "n_tokens", "pass")
    val d0 = Shared.temp(docFp(s, dir).select("doc_id", "fp")
      .join(gate, Seq("doc_id"), "left")
      .selectExpr("doc_id", "fp",
        "coalesce(n_tokens, cast(0 as bigint)) as nt",
        "coalesce(pass, false) as pass"))
    val reps = d0.groupBy("fp").agg(min(col("doc_id")).as("doc_id"))
    val s1 = Shared.temp(d0.join(reps.select("doc_id"), "doc_id"))
    val s2 = Shared.temp(s1.filter("pass"))
    val drop = simhashPairs(s, dir).select("doc_a", "doc_b")
      .join(s2.select(col("doc_id").as("doc_a")), "doc_a")
      .join(s2.select(col("doc_id").as("doc_b")), "doc_b")
      .select(col("doc_b").as("doc_id")).distinct()
    val s3 = s2.join(drop, Seq("doc_id"), "left_anti")
    (d0, s1, s2, s3)
  }

  private def lshCandidates(s: SparkSession, dir: String): DataFrame = {
    val sig = lshBands(s, dir)
    val a = sig.select(col("doc_id").as("doc_a"), col("bi"), col("bh"))
    val b = sig.select(col("doc_id").as("doc_b"), col("bi"), col("bh"))
    a.join(b, Seq("bi", "bh"))
      .filter(col("doc_a") < col("doc_b"))
      .select("doc_a", "doc_b").distinct()
  }

  /** Rare-shingle inverted-index candidate pairs (AllPairs-style
    * stop-shingle pruning). ONE shuffle builds the inverted index with
    * its posting lists; rare buckets (df ≤ 8) expand to ordered pairs
    * locally — ≤ C(8,2)=28 per bucket, so the quadratic hot-key blow-up
    * is structurally impossible and no self-join ever shuffles the
    * postings twice. Candidates must then share ≥ 2 rare shingles
    * (near-dup pairs share dozens; chance co-occurrences share 1) —
    * counted on bare (id, id) pairs before any array payload moves. */
  private def rareShingleCandidates(s: SparkSession, dir: String): DataFrame = {
    val ex = shingled(s, dir).selectExpr("doc_id", "explode(shs) as sh")
    val pairs = ex.groupBy("sh")
      .agg(sort_array(collect_list(col("doc_id"))).as("ids"))
      .filter(size(col("ids")).between(2, 8))
      .selectExpr("posexplode(ids) as (i, doc_a)", "ids")
      .selectExpr("doc_a", "explode(slice(ids, i + 2, size(ids))) as doc_b")
      .filter(col("doc_a") < col("doc_b"))
    pairs
      .groupBy("doc_a", "doc_b").agg(count(lit(1)).as("shared_rare"))
      .filter(col("shared_rare") >= 2)
      .select("doc_a", "doc_b")
  }

  /** Per-candidate-pair verification stats, computed ONCE and cached:
    * the union of both recall paths (LSH bands ∪ rare-shingle index)
    * with membership flags, shingle arrays joined back once per
    * distinct pair, then |A∩B| and both set sizes. The expensive step —
    * moving the full shingle arrays and intersecting them — runs once
    * for the whole family: x07/x10 (jaccard pair lists), x35 (quality
    * counts) and x46 (containment) are all cheap scalar filters over
    * this frame. Shingles are distinct (array_distinct / Shingles3), so
    * |A∪B| = na + nb − inter exactly and every downstream ratio divides
    * the same integers the per-query array forms would. */
  private def pairStats(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "pair_stats") {
      val cand = lshCandidates(s, dir)
        .withColumn("in_l", lit(1L)).withColumn("in_e", lit(0L))
        .unionByName(rareShingleCandidates(s, dir)
          .withColumn("in_l", lit(0L)).withColumn("in_e", lit(1L)))
        .groupBy("doc_a", "doc_b")
        .agg(max(col("in_l")).as("in_l"), max(col("in_e")).as("in_e"))
      val sh = shingled(s, dir)
      cand
        .join(sh.select(col("doc_id").as("doc_a"), col("shs").as("sa")), "doc_a")
        .join(sh.select(col("doc_id").as("doc_b"), col("shs").as("sb")), "doc_b")
        .selectExpr("doc_a", "doc_b", "in_l", "in_e",
          "size(array_intersect(sa, sb)) as inter",
          "size(sa) as na", "size(sb) as nb")
    }

  private def sJaccard =
    sRound6("cast(inter as double) / cast(na + nb - inter as double)")

  /** x32's canonical mapping as SQL — also the scorecard's base
    * (recursive-CTE closure, an independent algorithm vs the Spark
    * label-propagation loop). */
  private val x32OracleSql: String =
      s"""${dSimhash.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |chunks AS (SELECT doc_id, simhash, c AS ci, (simhash >> (15*c)) & 32767 AS chunk
         |           FROM sh2, range(0, 4) r(c)),
         |prs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |        FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
         |             AND a.doc_id < b.doc_id
         |        WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM prs
         |      UNION ALL SELECT doc_b, doc_a FROM prs),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
         |  WHERE r.src <> e.dst),
         |labels AS (SELECT src AS rep_id, LEAST(src, MIN(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |rep AS (SELECT doc_id, MIN(doc_id) OVER (PARTITION BY md5($dNorm)) AS rep_id
         |        FROM documents)
         |SELECT r.doc_id, COALESCE(l.cluster_id, r.rep_id) AS canonical_id,
         |  CASE WHEN COALESCE(l.cluster_id, r.rep_id) = r.doc_id THEN 'self'
         |       WHEN COALESCE(l.cluster_id, r.rep_id) = r.rep_id THEN 'exact'
         |       ELSE 'near' END AS reason
         |FROM rep r LEFT JOIN labels l ON r.rep_id = l.rep_id
         |ORDER BY doc_id""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "x05_exact_dedup" ->
      s"""SELECT fp, MIN(doc_id) AS rep_id, CAST(COUNT(*) AS BIGINT) AS n_copies
         |FROM (SELECT doc_id, md5($dNorm) AS fp FROM documents)
         |GROUP BY fp ORDER BY rep_id""".stripMargin,
    "x06_minhash_sigs" ->
      s"""$dShingled $dSig
         |SELECT doc_id, ${(0 until Seeds).map(i => s"m$i").mkString(", ")}
         |FROM sig ORDER BY doc_id""".stripMargin,
    "x07_lsh_neardup_pairs" ->
      s"""$dShingled $dSig,
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
         |              AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    ${dRound6("CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) / CAST(len(list_distinct(list_concat(x.shs, y.shs))) AS DOUBLE)")} AS jaccard
         |  FROM cand JOIN shd x ON cand.doc_a = x.doc_id
         |            JOIN shd y ON cand.doc_b = y.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "x08_simhash" ->
      s"""$dSimhash
         |SELECT doc_id, simhash FROM sh2 ORDER BY doc_id""".stripMargin,
    "x09_simhash_neardups" ->
      s"""$dSimhash,
         |chunks AS (SELECT doc_id, simhash, c AS ci, (simhash >> (15*c)) & 32767 AS chunk
         |           FROM sh2, range(0, 4) r(c)),
         |cand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
         |                a.simhash AS ha, b.simhash AS hb
         |         FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
         |              AND a.doc_id < b.doc_id)
         |SELECT doc_a, doc_b, CAST(bit_count(xor(ha, hb)) AS BIGINT) AS hamming
         |FROM cand WHERE bit_count(xor(ha, hb)) <= 3 ORDER BY doc_a, doc_b""".stripMargin,
    "x21_contamination" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |g0 AS (SELECT doc_id, ${dSplitBucket("doc_id")} AS bucket,
         |         $dGrams8 AS gs FROM tkn),
         |train AS (SELECT DISTINCT unnest(gs) AS g FROM g0 WHERE bucket < 80),
         |testex AS (SELECT doc_id, unnest(gs) AS g FROM g0 WHERE bucket >= 90),
         |shared AS (SELECT doc_id, CAST(COUNT(DISTINCT testex.g) AS BIGINT) AS n_shared
         |           FROM testex JOIN train USING (g) GROUP BY doc_id)
         |SELECT g0.doc_id, CAST(COALESCE(n_shared, 0) AS BIGINT) AS n_shared,
         |  COALESCE(n_shared, 0) > 0 AS contaminated
         |FROM g0 LEFT JOIN shared ON g0.doc_id = shared.doc_id
         |WHERE bucket >= 90 ORDER BY g0.doc_id""".stripMargin,
    "x64_dedup_pressure" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |shd AS (SELECT doc_id, $dShingles AS shs FROM tkn),
         |ex AS (SELECT unnest(shs) AS sh FROM shd),
         |dfs AS (SELECT sh, CAST(COUNT(*) AS BIGINT) AS df FROM ex GROUP BY sh),
         |bydf AS (SELECT df, CAST(COUNT(*) AS BIGINT) AS n_shingles FROM dfs GROUP BY df),
         |b2 AS (SELECT df, n_shingles, df * n_shingles AS mass FROM bydf),
         |tot AS (SELECT SUM(mass) AS total_mass FROM b2)
         |SELECT df, n_shingles, CAST(mass AS BIGINT) AS mass,
         |  ${dRound6("CAST(mass AS DOUBLE) / CAST(total_mass AS DOUBLE)")} AS mass_frac
         |FROM b2, tot ORDER BY df""".stripMargin,
    "x108_lsh_bucket_skew" ->
      s"""$dShingled $dSig,
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |bs AS (SELECT bi, bh, CAST(COUNT(*) AS BIGINT) AS bsz
         |       FROM bands GROUP BY bi, bh),
         |hist AS (SELECT bsz, CAST(COUNT(*) AS BIGINT) AS n_buckets,
         |           CAST(((bsz * (bsz - 1)) // 2) * COUNT(*) AS BIGINT) AS pair_mass
         |         FROM bs GROUP BY bsz),
         |tot AS (SELECT SUM(pair_mass) AS total_pairs FROM hist)
         |SELECT bsz AS bucket_size, n_buckets, pair_mass,
         |  ${dRound6("CASE WHEN total_pairs = 0 THEN CAST(0 AS DOUBLE) ELSE CAST(pair_mass AS DOUBLE) / CAST(total_pairs AS DOUBLE) END")} AS pair_frac
         |FROM hist, tot ORDER BY bucket_size""".stripMargin,
    "x109_corpus_manifest" ->
      s"""$dFunnelCte,
         |tkn9 AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |g9 AS (SELECT doc_id, ${dSplitBucket("doc_id")} AS bucket,
         |         $dGrams8 AS gs FROM tkn9),
         |bench AS (SELECT DISTINCT unnest(gs) AS g FROM g9 WHERE bucket >= 90),
         |contam AS (SELECT DISTINCT e.doc_id
         |           FROM (SELECT doc_id, unnest(gs) AS g FROM g9) e
         |           JOIN bench USING (g)),
         |clean AS (SELECT * FROM fs3
         |          WHERE doc_id NOT IN (SELECT doc_id FROM g9 WHERE bucket >= 90)
         |            AND doc_id NOT IN (SELECT doc_id FROM contam))
         |SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         |  ${dH("concat('shard:', doc_id)")} % 8 AS shard
         |FROM clean ORDER BY doc_id""".stripMargin,
    "x63_minhash_calibration" -> {
      val agree = (0 until Seeds)
        .map(i => s"(CASE WHEN sa.m$i = sb.m$i THEN 1 ELSE 0 END)").mkString(" + ")
      s"""$dShingled $dSig,
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |lcand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
         |               AND a.doc_id < b.doc_id),
         |rare AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh) WHERE df <= 8),
         |rex AS MATERIALIZED (SELECT ex.doc_id, ex.sh FROM ex JOIN rare ON ex.sh = rare.sh),
         |ecand AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rex a JOIN rex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cand AS MATERIALIZED (SELECT doc_a, doc_b FROM lcand UNION SELECT doc_a, doc_b FROM ecand),
         |st AS MATERIALIZED (SELECT doc_a, doc_b,
         |         len(list_intersect(x.shs, y.shs)) AS inter,
         |         len(x.shs) AS na, len(y.shs) AS nb
         |       FROM cand JOIN shd x ON cand.doc_a = x.doc_id
         |                 JOIN shd y ON cand.doc_b = y.doc_id),
         |st2 AS (SELECT doc_a, doc_b,
         |          ${dRound6("CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)")} AS jaccard_exact
         |        FROM st),
         |ag AS (SELECT cand.doc_a, cand.doc_b, $agree AS n_agree
         |       FROM cand JOIN sig sa ON cand.doc_a = sa.doc_id
         |                 JOIN sig sb ON cand.doc_b = sb.doc_id)
         |SELECT st2.doc_a, st2.doc_b, CAST(n_agree AS BIGINT) AS n_agree, jaccard_exact,
         |  ${dRound6(s"CAST(n_agree AS DOUBLE) / CAST($Seeds AS DOUBLE)")} AS jaccard_est,
         |  ${dRound6(s"abs(CAST(n_agree AS DOUBLE) / CAST($Seeds AS DOUBLE) - jaccard_exact)")} AS abs_err
         |FROM st2 JOIN ag ON st2.doc_a = ag.doc_a AND st2.doc_b = ag.doc_b
         |ORDER BY st2.doc_a, st2.doc_b""".stripMargin
    },
    "x61_bloom_decontam" -> {
      val m = BloomM; val k = BloomK
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |g0 AS (SELECT doc_id, ${dSplitBucket("doc_id")} AS bucket,
         |         $dGrams8 AS gs FROM tkn),
         |tg AS (SELECT DISTINCT unnest(gs) AS g FROM g0 WHERE bucket >= 90),
         |th AS (SELECT ${dH("g")} AS h FROM tg),
         |tpos AS (SELECT DISTINCT p FROM (
         |${(0 until k).map(j => s"  SELECT ${dDerive("h", j)} % $m AS p FROM th")
             .mkString("\n  UNION ALL\n")})),
         |train AS (SELECT doc_id, unnest(gs) AS g FROM g0 WHERE bucket < 80),
         |trp AS (SELECT doc_id, g,
         |  ${(0 until k).map(j => s"${dDerive(s"(${dH("g")})", j)} % $m AS p$j").mkString(", ")}
         |  FROM train),
         |hits AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_flagged
         |  FROM trp
         |  ${(0 until k).map(j => s"JOIN tpos t$j ON trp.p$j = t$j.p").mkString(" ")}
         |  GROUP BY doc_id),
         |ngr AS (SELECT doc_id, CAST(len(gs) AS BIGINT) AS n_grams
         |        FROM g0 WHERE bucket < 80)
         |SELECT ngr.doc_id, n_grams,
         |  CAST(COALESCE(n_flagged, 0) AS BIGINT) AS n_flagged,
         |  COALESCE(n_flagged, 0) > 0 AS flagged
         |FROM ngr LEFT JOIN hits ON ngr.doc_id = hits.doc_id
         |ORDER BY ngr.doc_id""".stripMargin
    },
    "x67_neardup_decontam" ->
      s"""$dShingled $dSig,
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |lcand AS MATERIALIZED (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
         |               AND a.doc_id < b.doc_id),
         |rare AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh) WHERE df <= 8),
         |rex AS MATERIALIZED (SELECT ex.doc_id, ex.sh FROM ex JOIN rare ON ex.sh = rare.sh),
         |ecand AS MATERIALIZED (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rex a JOIN rex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cand AS MATERIALIZED (SELECT doc_a, doc_b FROM lcand UNION SELECT doc_a, doc_b FROM ecand),
         |st AS MATERIALIZED (SELECT doc_a, doc_b,
         |         ${dRound6("CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) / CAST(len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)) AS DOUBLE)")} AS jaccard
         |       FROM cand JOIN shd x ON cand.doc_a = x.doc_id
         |                 JOIN shd y ON cand.doc_b = y.doc_id),
         |vp AS (SELECT doc_a, doc_b, jaccard FROM st WHERE jaccard >= 0.5),
         |d AS (SELECT doc_id, md5($dNorm) AS fp,
         |        CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |      FROM (SELECT doc_id, text, ${dSplitBucket("doc_id")} AS b
         |            FROM documents)),
         |rep AS (SELECT fp, MIN(doc_id) AS rep_id FROM d GROUP BY fp),
         |dr AS (SELECT d.doc_id, d.fp, d.split, rep.rep_id FROM d JOIN rep USING (fp)),
         |trainfp AS (SELECT DISTINCT fp FROM d WHERE split = 'train'),
         |trainrep AS (SELECT DISTINCT rep_id AS nbr FROM dr WHERE split = 'train'),
         |sym AS (SELECT doc_a AS ra, doc_b AS nbr, jaccard FROM vp
         |        UNION ALL SELECT doc_b, doc_a, jaccard FROM vp),
         |nearrep AS (SELECT ra AS rep_id,
         |              CAST(COUNT(DISTINCT sym.nbr) AS BIGINT) AS n_near_train,
         |              MAX(jaccard) AS best_jaccard
         |            FROM sym JOIN trainrep t ON sym.nbr = t.nbr GROUP BY ra)
         |SELECT dr.doc_id,
         |  (tf.fp IS NOT NULL) AS exact_leak,
         |  (nr.n_near_train IS NOT NULL) AS near_leak,
         |  (tf.fp IS NOT NULL) OR (nr.n_near_train IS NOT NULL) AS leaked,
         |  CAST(COALESCE(nr.n_near_train, 0) AS BIGINT) AS n_near_train,
         |  COALESCE(nr.best_jaccard, 0.0) AS best_jaccard
         |FROM dr LEFT JOIN trainfp tf ON dr.fp = tf.fp
         |        LEFT JOIN nearrep nr ON dr.rep_id = nr.rep_id
         |WHERE dr.split = 'test'
         |ORDER BY dr.doc_id""".stripMargin,
    "x73_quality_dup_curve" ->
      s"""WITH q AS (SELECT doc_id,
         |    ${dRound6(s"($dDistinctRatio) * $dLengthScore")} AS quality
         |  FROM (SELECT doc_id, $dTokens AS tk FROM documents)),
         |rk AS (SELECT doc_id, quality,
         |         ((ROW_NUMBER() OVER (ORDER BY quality, doc_id) - 1) * 10)
         |           // (COUNT(*) OVER ()) + 1 AS decile
         |       FROM q)
         |SELECT rk.decile, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COALESCE(SUM(CASE WHEN reason = 'self' THEN 1 END), 0) AS BIGINT) AS n_self,
         |  CAST(COALESCE(SUM(CASE WHEN reason = 'exact' THEN 1 END), 0) AS BIGINT) AS n_exact,
         |  CAST(COALESCE(SUM(CASE WHEN reason = 'near' THEN 1 END), 0) AS BIGINT) AS n_near,
         |  ${dRound6("CAST(COUNT(*) - COALESCE(SUM(CASE WHEN reason = 'self' THEN 1 END), 0) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS dup_rate,
         |  MIN(rk.quality) AS q_min, MAX(rk.quality) AS q_max
         |FROM ($x32OracleSql) c JOIN rk ON c.doc_id = rk.doc_id
         |GROUP BY rk.decile ORDER BY rk.decile""".stripMargin,
    "x70_dedup_agreement" ->
      s"""$dShingled $dSig,
         |bits AS (SELECT doc_id, b,
         |           CASE WHEN 2*SUM((h >> b) & 1) > COUNT(*)
         |                THEN (1::BIGINT << b) ELSE 0::BIGINT END AS bv
         |         FROM ex2, range(0, 60) r(b) GROUP BY doc_id, b),
         |sh2 AS (SELECT doc_id, SUM(bv)::BIGINT AS simhash FROM bits GROUP BY doc_id),
         |chunks AS (SELECT doc_id, simhash, cc AS ci, (simhash >> (15*cc)) & 32767 AS chunk
         |           FROM sh2, range(0, 4) r2(cc)),
         |spairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |           FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
         |                AND a.doc_id < b.doc_id
         |           WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |lcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
         |               AND a.doc_id < b.doc_id),
         |rare AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh) WHERE df <= 8),
         |rex AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare ON ex.sh = rare.sh),
         |ecand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rex a JOIN rex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cand AS (SELECT doc_a, doc_b FROM lcand UNION SELECT doc_a, doc_b FROM ecand),
         |stx AS (SELECT doc_a, doc_b,
         |          len(list_intersect(x.shs, y.shs)) AS inter,
         |          len(x.shs) AS na, len(y.shs) AS nb
         |        FROM cand JOIN shd x ON cand.doc_a = x.doc_id
         |                  JOIN shd y ON cand.doc_b = y.doc_id),
         |st2 AS (SELECT doc_a, doc_b,
         |          ${dRound6("CAST(inter AS DOUBLE) / CAST(na + nb - inter AS DOUBLE)")} AS jac,
         |          ${dRound6("CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)")} AS ca,
         |          ${dRound6("CAST(inter AS DOUBLE) / CAST(nb AS DOUBLE)")} AS cb
         |        FROM stx),
         |u AS (SELECT doc_a, doc_b, 1 AS j, 0 AS sp, 0 AS c FROM st2 WHERE jac >= 0.5
         |      UNION ALL SELECT doc_a, doc_b, 0, 0, 1 FROM st2 WHERE ca >= 0.7 OR cb >= 0.7
         |      UNION ALL SELECT doc_a, doc_b, 0, 1, 0 FROM spairs),
         |f AS (SELECT doc_a, doc_b, MAX(j) AS j, MAX(sp) AS sp, MAX(c) AS c
         |      FROM u GROUP BY doc_a, doc_b)
         |SELECT CAST(COUNT(*) AS BIGINT) AS n_any,
         |  CAST(SUM(j) AS BIGINT) AS n_jaccard,
         |  CAST(SUM(sp) AS BIGINT) AS n_simhash,
         |  CAST(SUM(c) AS BIGINT) AS n_containment,
         |  CAST(SUM(j*sp) AS BIGINT) AS n_js, CAST(SUM(j*c) AS BIGINT) AS n_jc,
         |  CAST(SUM(sp*c) AS BIGINT) AS n_sc, CAST(SUM(j*sp*c) AS BIGINT) AS n_jsc
         |FROM f""".stripMargin,
    "x10_jaccard_pairs" ->
      s"""$dShingled,
         |ex AS (SELECT doc_id, unnest(shs) AS sh FROM shd),
         |rare AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh) WHERE df <= 8),
         |rex AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare ON ex.sh = rare.sh),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM rex a JOIN rex b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    ${dRound6("CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) / CAST(len(list_distinct(list_concat(x.shs, y.shs))) AS DOUBLE)")} AS jaccard
         |  FROM cand JOIN shd x ON cand.doc_a = x.doc_id
         |            JOIN shd y ON cand.doc_b = y.doc_id)
         |WHERE jaccard >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "x29_edit_distance" ->
      s"""$dSimhash,
         |chunks AS (SELECT doc_id, simhash, c AS ci, (simhash >> (15*c)) & 32767 AS chunk
         |           FROM sh2, range(0, 4) r(c)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
         |               AND a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |nrm AS (SELECT doc_id, $dNorm AS nt FROM documents)
         |SELECT doc_a, doc_b,
         |  CAST(levenshtein(x.nt, y.nt) AS BIGINT) AS edit_dist,
         |  ${dRound6("1.0 - CAST(levenshtein(x.nt, y.nt) AS DOUBLE) / CAST(greatest(length(x.nt), length(y.nt), 1) AS DOUBLE)")} AS edit_sim
         |FROM pairs JOIN nrm x ON pairs.doc_a = x.doc_id
         |           JOIN nrm y ON pairs.doc_b = y.doc_id
         |ORDER BY doc_a, doc_b""".stripMargin,
    "x35_lsh_quality" ->
      s"""$dShingled $dSig,
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |lcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
         |               AND a.doc_id < b.doc_id),
         |lshp AS (SELECT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b,
         |    ${dRound6("CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) / CAST(len(list_distinct(list_concat(x.shs, y.shs))) AS DOUBLE)")} AS jaccard
         |  FROM lcand JOIN shd x ON lcand.doc_a = x.doc_id
         |             JOIN shd y ON lcand.doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5),
         |rare2 AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh) WHERE df <= 8),
         |rex2 AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare2 ON ex.sh = rare2.sh),
         |ecand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rex2 a JOIN rex2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |exactp AS (SELECT doc_a, doc_b FROM (
         |  SELECT doc_a, doc_b,
         |    ${dRound6("CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) / CAST(len(list_distinct(list_concat(x.shs, y.shs))) AS DOUBLE)")} AS jaccard
         |  FROM ecand JOIN shd x ON ecand.doc_a = x.doc_id
         |             JOIN shd y ON ecand.doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5),
         |j AS (SELECT (l.doc_a IS NOT NULL) AS in_l, (e.doc_a IS NOT NULL) AS in_e
         |      FROM lshp l FULL OUTER JOIN exactp e
         |        ON l.doc_a = e.doc_a AND l.doc_b = e.doc_b)
         |SELECT
         |  CAST(COALESCE(SUM(CASE WHEN in_l THEN 1 END), 0) AS BIGINT) AS n_lsh,
         |  CAST(COALESCE(SUM(CASE WHEN in_e THEN 1 END), 0) AS BIGINT) AS n_exact,
         |  CAST(COALESCE(SUM(CASE WHEN in_l AND in_e THEN 1 END), 0) AS BIGINT) AS n_both,
         |  ${dRound6("CASE WHEN COALESCE(SUM(CASE WHEN in_l THEN 1 END), 0) > 0 THEN CAST(COALESCE(SUM(CASE WHEN in_l AND in_e THEN 1 END), 0) AS DOUBLE) / CAST(SUM(CASE WHEN in_l THEN 1 END) AS DOUBLE) ELSE 0.0 END")} AS precision_r,
         |  ${dRound6("CASE WHEN COALESCE(SUM(CASE WHEN in_e THEN 1 END), 0) > 0 THEN CAST(COALESCE(SUM(CASE WHEN in_l AND in_e THEN 1 END), 0) AS DOUBLE) / CAST(SUM(CASE WHEN in_e THEN 1 END) AS DOUBLE) ELSE 0.0 END")} AS recall_r
         |FROM j""".stripMargin,
    "x32_canonical_docs" -> x32OracleSql,
    "x52_dedup_scorecard" ->
      s"""SELECT CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(COUNT(DISTINCT canonical_id) AS BIGINT) AS n_canonical,
         |  CAST(COALESCE(SUM(CASE WHEN reason = 'exact' THEN 1 END), 0) AS BIGINT) AS n_exact_dups,
         |  CAST(COALESCE(SUM(CASE WHEN reason = 'near' THEN 1 END), 0) AS BIGINT) AS n_near_dups,
         |  ${dRound6("CAST(COUNT(*) - COUNT(DISTINCT canonical_id) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS dedup_rate
         |FROM ($x32OracleSql)""".stripMargin,

    // components via recursive-CTE transitive closure + min — a
    // different algorithm than the Spark label-propagation loop, so
    // agreement is a genuine cross-check (closure is fine here: near-dup
    // components are tiny; the Spark side is the one built for scale)
    "x24_dedup_clusters" ->
      s"""${dSimhash.replaceFirst("WITH ", "WITH RECURSIVE ")},
         |chunks AS (SELECT doc_id, simhash, c AS ci, (simhash >> (15*c)) & 32767 AS chunk
         |           FROM sh2, range(0, 4) r(c)),
         |pairs AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM chunks a JOIN chunks b ON a.ci = b.ci AND a.chunk = b.chunk
         |               AND a.doc_id < b.doc_id
         |          WHERE bit_count(xor(a.simhash, b.simhash)) <= 3),
         |e AS (SELECT doc_a AS src, doc_b AS dst FROM pairs
         |      UNION ALL SELECT doc_b, doc_a FROM pairs),
         |reach AS (
         |  SELECT src, dst FROM e
         |  UNION
         |  SELECT r.src, e.dst FROM reach r JOIN e ON r.dst = e.src
         |  WHERE r.src <> e.dst),
         |labels AS (SELECT src AS doc_id, LEAST(src, MIN(dst)) AS cluster_id
         |           FROM reach GROUP BY src),
         |sizes AS (SELECT cluster_id, CAST(COUNT(*) AS BIGINT) AS cluster_size
         |          FROM labels GROUP BY cluster_id)
         |SELECT doc_id, l.cluster_id, cluster_size
         |FROM labels l JOIN sizes s ON l.cluster_id = s.cluster_id
         |ORDER BY doc_id""".stripMargin,
    "x48_source_overlap" ->
      s"""WITH tkn AS (SELECT source, $dTokens AS tk FROM documents),
         |sh0 AS (SELECT source, unnest($dShingles) AS sh FROM tkn),
         |ss AS (SELECT DISTINCT source, sh FROM sh0),
         |tot AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_sh FROM ss GROUP BY source),
         |shared AS (SELECT a.source AS source_a, b.source AS source_b,
         |             CAST(COUNT(*) AS BIGINT) AS n_shared
         |           FROM ss a JOIN ss b ON a.sh = b.sh AND a.source < b.source
         |           GROUP BY 1, 2)
         |SELECT source_a, source_b, n_shared, ta.n_sh AS n_a, tb.n_sh AS n_b,
         |  ${dRound6("CAST(n_shared AS DOUBLE) / CAST(ta.n_sh + tb.n_sh - n_shared AS DOUBLE)")} AS jaccard
         |FROM shared JOIN tot ta ON shared.source_a = ta.source
         |            JOIN tot tb ON shared.source_b = tb.source
         |ORDER BY source_a, source_b""".stripMargin,
    "x46_containment" ->
      s"""$dShingled $dSig,
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |lcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
         |               AND a.doc_id < b.doc_id),
         |rare2 AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh) WHERE df <= 8),
         |rex2 AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare2 ON ex.sh = rare2.sh),
         |ecand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rex2 a JOIN rex2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cand AS (SELECT doc_a, doc_b FROM lcand UNION SELECT doc_a, doc_b FROM ecand),
         |m AS (SELECT doc_a, doc_b,
         |        len(list_intersect(x.shs, y.shs)) AS inter,
         |        len(x.shs) AS na, len(y.shs) AS nb
         |      FROM cand JOIN shd x ON cand.doc_a = x.doc_id
         |                JOIN shd y ON cand.doc_b = y.doc_id
         |      WHERE len(list_intersect(x.shs, y.shs)) > 0)
         |SELECT doc_a, doc_b, cont_a, cont_b FROM (
         |  SELECT doc_a, doc_b,
         |    ${dRound6("CAST(inter AS DOUBLE) / CAST(na AS DOUBLE)")} AS cont_a,
         |    ${dRound6("CAST(inter AS DOUBLE) / CAST(nb AS DOUBLE)")} AS cont_b
         |  FROM m)
         |WHERE cont_a >= 0.7 OR cont_b >= 0.7
         |ORDER BY doc_a, doc_b""".stripMargin,
    "x99_incremental_dedup" ->
      s"""$dShingled $dSig,
         |bands AS (
         |${(0 until 4).map(b => s"  SELECT doc_id, $b AS bi, ${dBandHash(b)} AS bh FROM sig")
             .mkString("\n  UNION ALL\n")}),
         |lcand AS (SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM bands a JOIN bands b ON a.bi = b.bi AND a.bh = b.bh
         |               AND a.doc_id < b.doc_id),
         |rare2 AS (SELECT sh FROM (SELECT sh, COUNT(*) AS df FROM ex GROUP BY sh) WHERE df <= 8),
         |rex2 AS (SELECT ex.doc_id, ex.sh FROM ex JOIN rare2 ON ex.sh = rare2.sh),
         |ecand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |          FROM rex2 a JOIN rex2 b ON a.sh = b.sh AND a.doc_id < b.doc_id
         |          GROUP BY 1, 2 HAVING COUNT(*) >= 2),
         |cand AS (SELECT doc_a, doc_b FROM lcand UNION SELECT doc_a, doc_b FROM ecand),
         |pj AS (SELECT doc_a, doc_b, jaccard FROM (
         |  SELECT doc_a, doc_b,
         |    ${dRound6("CAST(len(list_intersect(x.shs, y.shs)) AS DOUBLE) / CAST(len(x.shs) + len(y.shs) - len(list_intersect(x.shs, y.shs)) AS DOUBLE)")} AS jaccard
         |  FROM cand JOIN shd x ON cand.doc_a = x.doc_id
         |            JOIN shd y ON cand.doc_b = y.doc_id)
         |  WHERE jaccard >= 0.5),
         |fpm AS (SELECT doc_id, md5($dNorm) AS fp FROM documents),
         |nw AS (SELECT doc_id, fp FROM fpm WHERE doc_id % 5 = 4
         |       UNION ALL
         |       SELECT doc_id + 100000000 AS doc_id, fp FROM fpm
         |       WHERE doc_id % 5 <> 4 AND doc_id % 97 = 0),
         |bstore AS (SELECT fp, MIN(doc_id) AS e_of FROM fpm
         |           WHERE doc_id % 5 <> 4 GROUP BY fp),
         |ex0 AS (SELECT nw.doc_id, b.e_of FROM nw JOIN bstore b USING (fp)),
         |reps AS (SELECT fp, MIN(doc_id) AS rep_id FROM fpm GROUP BY fp),
         |nrep AS (SELECT nw.doc_id, r.rep_id FROM nw JOIN reps r USING (fp)),
         |np AS (SELECT rep_id, partner, jaccard FROM (
         |         SELECT doc_a AS rep_id, doc_b AS partner, jaccard FROM pj
         |         UNION ALL SELECT doc_b, doc_a, jaccard FROM pj)
         |       WHERE partner % 5 <> 4),
         |nbest AS (SELECT doc_id, partner AS n_of, jaccard AS n_j FROM (
         |         SELECT n.doc_id, p.partner, p.jaccard,
         |           ROW_NUMBER() OVER (PARTITION BY n.doc_id
         |             ORDER BY p.jaccard DESC, p.partner) AS r
         |         FROM nrep n JOIN np p USING (rep_id)) WHERE r = 1)
         |SELECT nw.doc_id,
         |  CASE WHEN e.e_of IS NOT NULL THEN 'exact'
         |       WHEN nbest.n_of IS NOT NULL THEN 'near' ELSE 'new' END AS verdict,
         |  COALESCE(e.e_of, nbest.n_of, CAST(-1 AS BIGINT)) AS dup_of,
         |  ${dRound6("CASE WHEN e.e_of IS NOT NULL THEN 1.0 WHEN nbest.n_of IS NOT NULL THEN nbest.n_j ELSE 0.0 END")} AS jaccard
         |FROM nw LEFT JOIN ex0 e ON nw.doc_id = e.doc_id
         |        LEFT JOIN nbest ON nw.doc_id = nbest.doc_id
         |ORDER BY nw.doc_id""".stripMargin,
    // stop list and gate bounds literal-identical to x50's oracle
    "x58_curation_funnel" ->
      s"""$dFunnelCte,
         |nz AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n0 FROM d0),
         |fun AS (
         |  SELECT 0 AS stage, 'all' AS stage_name,
         |    CAST(COUNT(*) AS BIGINT) AS n_docs,
         |    CAST(COALESCE(SUM(nt), 0) AS BIGINT) AS n_tokens FROM d0
         |  UNION ALL SELECT 1, 'exact_dedup', CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM fs1
         |  UNION ALL SELECT 2, 'quality_gate', CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM fs2
         |  UNION ALL SELECT 3, 'near_dedup', CAST(COUNT(*) AS BIGINT),
         |    CAST(COALESCE(SUM(nt), 0) AS BIGINT) FROM fs3)
         |SELECT CAST(stage AS BIGINT) AS stage, stage_name, n_docs, n_tokens,
         |  ${dRound6("CAST(n_docs AS DOUBLE) / n0")} AS doc_retention
         |FROM fun, nz ORDER BY stage""".stripMargin,
    "x88_leakage_free_split" ->
      s"""SELECT doc_id, canonical_id,
         |  CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'val' ELSE 'test' END AS split,
         |  CASE WHEN nb < 80 THEN 'train' WHEN nb < 90 THEN 'val' ELSE 'test' END AS naive_split,
         |  (CASE WHEN cb < 80 THEN 'train' WHEN cb < 90 THEN 'val' ELSE 'test' END)
         |    <> (CASE WHEN nb < 80 THEN 'train' WHEN nb < 90 THEN 'val' ELSE 'test' END) AS rescued
         |FROM (SELECT doc_id, canonical_id,
         |        ${dSplitBucket("canonical_id")} AS cb,
         |        ${dSplitBucket("doc_id")} AS nb
         |      FROM ($x32OracleSql))
         |ORDER BY doc_id""".stripMargin,
    "x93_winnowing" ->
      s"""WITH tkn AS (SELECT doc_id, list_filter($dTokens, x -> x <> '') AS tk FROM documents),
         |hsq AS (SELECT doc_id,
         |          CASE WHEN len(tk) >= 3
         |            THEN list_transform(range(1, len(tk)-1),
         |                   i -> ${dH("array_to_string(tk[i:i+2], ' ')")})
         |            ELSE [] END AS hs
         |        FROM tkn),
         |fpd AS (SELECT doc_id,
         |          CASE WHEN len(hs) >= 4
         |            THEN list_distinct(list_transform(range(1, len(hs)-2),
         |                   j -> list_min(hs[j:j+3])))
         |          WHEN len(hs) >= 1 THEN [list_min(hs)]
         |          ELSE [] END AS fps
         |        FROM hsq
         |        WHERE len(hs) >= 1),
         |ex AS (SELECT doc_id, unnest(fps) AS fp FROM fpd),
         |rare AS (SELECT fp FROM (SELECT fp, COUNT(*) AS df FROM ex GROUP BY fp)
         |         WHERE df BETWEEN 2 AND 8),
         |rex AS (SELECT ex.doc_id, ex.fp FROM ex JOIN rare ON ex.fp = rare.fp),
         |cand AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
         |         FROM rex a JOIN rex b ON a.fp = b.fp AND a.doc_id < b.doc_id
         |         GROUP BY 1, 2 HAVING COUNT(*) >= 2)
         |SELECT doc_a, doc_b, n_fp_a, n_fp_b, n_shared, overlap_r FROM (
         |  SELECT doc_a, doc_b,
         |    CAST(len(x.fps) AS BIGINT) AS n_fp_a,
         |    CAST(len(y.fps) AS BIGINT) AS n_fp_b,
         |    CAST(len(list_intersect(x.fps, y.fps)) AS BIGINT) AS n_shared,
         |    ${dRound6("CAST(len(list_intersect(x.fps, y.fps)) AS DOUBLE) / CAST(least(len(x.fps), len(y.fps)) AS DOUBLE)")} AS overlap_r
         |  FROM cand JOIN fpd x ON cand.doc_a = x.doc_id
         |            JOIN fpd y ON cand.doc_b = y.doc_id)
         |WHERE overlap_r >= 0.5 ORDER BY doc_a, doc_b""".stripMargin,
    "x119_contamination_span" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |g0 AS (SELECT doc_id, ${dSplitBucket("doc_id")} AS bucket, tk FROM tkn),
         |eval AS (SELECT DISTINCT array_to_string(tk[i:i+7], ' ') AS g
         |         FROM g0, UNNEST(range(1, greatest(len(tk)-7,0)+1)) AS u(i)
         |         WHERE bucket >= 90),
         |trainp AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |             i, array_to_string(tk[i:i+7], ' ') AS g
         |           FROM g0, UNNEST(range(1, greatest(len(tk)-7,0)+1)) AS u(i)
         |           WHERE bucket < 80),
         |m AS (SELECT doc_id, n_tokens, i FROM trainp
         |      WHERE g IN (SELECT g FROM eval)),
         |pe AS (SELECT doc_id, n_tokens, i,
         |         MAX(i+7) OVER (PARTITION BY doc_id ORDER BY i
         |           ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS prev_end
         |       FROM m),
         |isl AS (SELECT doc_id, n_tokens, i,
         |          SUM(CASE WHEN prev_end IS NULL OR i > prev_end + 1
         |              THEN 1 ELSE 0 END)
         |            OVER (PARTITION BY doc_id ORDER BY i
         |              ROWS UNBOUNDED PRECEDING) AS isl
         |        FROM pe),
         |sp AS (SELECT doc_id, n_tokens, isl,
         |         MIN(i) AS span_s, MAX(i+7) AS span_e
         |       FROM isl GROUP BY doc_id, n_tokens, isl),
         |agg AS (SELECT doc_id, n_tokens,
         |          CAST(SUM(span_e - span_s + 1) AS BIGINT) AS covered,
         |          CAST(COUNT(*) AS BIGINT) AS n_spans
         |        FROM sp GROUP BY doc_id, n_tokens)
         |SELECT doc_id, n_tokens, covered, n_spans,
         |  ${dRound6("CAST(covered AS DOUBLE) / CAST(n_tokens AS DOUBLE)")} AS coverage,
         |  CAST(covered AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= 0.2 AS dirty
         |FROM agg ORDER BY doc_id""".stripMargin,
  )
}
