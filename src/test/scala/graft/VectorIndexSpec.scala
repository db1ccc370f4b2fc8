package graft

import graft.index.VectorIndex
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** The non-graph vector index (`graft.index.VectorIndex`): IVF, PQ,
  * LSH and k-means checks, and each merged piece pinned against its
  * pre-merge form, kept here as an oracle. Equalities on doubles are
  * exact. */
class VectorIndexSpec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def emb = graft.queries.Tables.t(spark, sf001, "embeddings")

  /** The pre-merge per-(label, dim) exact-decimal mean, as each of its
    * seven copies spelled it. */
  private def oldLabelDimMean: DataFrame =
    emb.selectExpr("label", "posexplode(embedding) as (dim, v)")
      .groupBy("label", "dim")
      .agg((sum(col("v").cast("double").cast(DecimalType(20, 8))).cast("double") /
        count(lit(1)).cast("double")).as("c"))

  test("pqCodebook, sliced from centroids, equals the per-subspace mean codebook") {
    val old = oldLabelDimMean
      .selectExpr("label as clabel", "dim div 8 as ss", "dim % 8 as j", "c")
      .groupBy("clabel", "ss")
      .agg(expr("transform(sort_array(collect_list(struct(j, c))), x -> x.c)").as("cw"))
    val cb = VectorIndex.pqCodebook(spark, sf001)
    // the durable tier keeps its schema, so a tier written before loads
    assert(cb.schema.map(f => f.name -> f.dataType) ==
      old.schema.map(f => f.name -> f.dataType))
    def rows(df: DataFrame) = df.collect()
      .map(r => (r.get(0), r.getLong(1), r.getSeq[Double](2))).toSet
    val got = rows(cb)
    assert(got.size == 8 * emb.select("label").distinct().count())
    assert(got == rows(old))
  }

  test("centroids, read by x82 and x87, equal the label-centroid arrays they replace") {
    val old = oldLabelDimMean
      .groupBy(col("label").as("cl"))
      .agg(expr("transform(sort_array(collect_list(struct(dim, c))), x -> x.c)").as("cv"))
    def rows(df: DataFrame) =
      df.collect().map(r => (r.get(0), r.getSeq[Double](1))).toSet
    assert(rows(VectorIndex.centroids(spark, sf001).select("clabel", "cv")) ==
      rows(old))
  }

  test("one cell order: a vector's nearest cell is its first IVF route") {
    val sq = VectorIndex.withSq(spark, sf001)
    val nearest = VectorIndex.nearestCell(
        VectorIndex.cellCos(sq, VectorIndex.centroids(spark, sf001), Seq("vec_id")),
        "clabel")
      .selectExpr("vec_id", "m.clabel as cell")
    val routed = VectorIndex.ivfTop2(spark, sf001)
      .selectExpr("vec_id", "cl2[0] as cell")
    assert(nearest.count() == sq.count())
    assert(nearest.exceptAll(routed).isEmpty && routed.exceptAll(nearest).isEmpty)
  }

  test("x49 PQ ANN: full top-10 per probe, distances nonneg and rank-monotone") {
    val rows = graft.llm.Similarity.queries("x49_pq_ann")(spark, sf001)
      .collect()
    val byProbe = rows.groupBy(_.getLong(0))
    assert(byProbe.keySet == (0L until 8L).toSet)
    byProbe.values.foreach { rs =>
      assert(rs.length == 10)
      val sorted = rs.sortBy(_.getLong(3))
      assert(sorted.map(_.getLong(3)).toSeq == (1L to 10L))
      // ADC is a sum of squared distances: nonnegative, and ascending
      // in rank by construction of the top-k
      val dists = sorted.map(_.getDouble(2))
      assert(dists.forall(_ >= 0.0))
      assert(dists.zip(dists.tail).forall { case (a, b) => a <= b })
    }
    // coarse-quantizer sanity: ADC ranking must agree somewhat with the
    // exact brute-force ranking (they share the corpus); demand overlap
    // on at least one probe rather than a per-probe recall bound —
    // label-mean codebooks are deliberately coarse
    val exact = graft.llm.Similarity.queries("x11_ann_topk")(spark, sf001)
      .collect().groupBy(_.getLong(0))
    val overlaps = byProbe.map { case (q, rs) =>
      val pq = rs.map(_.getLong(1)).toSet
      val ex = exact(q).map(_.getLong(1)).toSet
      (pq intersect ex).size
    }
    // a broken ADC ranking could preserve one coincidental overlap; a
    // working one agrees with exact search on most probes (slack kept
    // for the deliberately coarse label-mean codebook)
    assert(overlaps.count(_ > 0) >= 4, s"per-probe overlaps: $overlaps")
    assert(overlaps.sum >= 8, s"per-probe overlaps: $overlaps")
  }

  test("x51 k-means: partition of the corpus; inertia nonnegative") {
    val rows = graft.llm.Similarity.queries("x51_kmeans")(spark, sf001)
      .collect()
    assert(rows.nonEmpty && rows.length <= 8) // k=8, empty clusters drop
    val nVecs = graft.queries.Tables.t(spark, sf001, "embeddings").count()
    assert(rows.map(_.getLong(1)).sum == nVecs) // every vector assigned once
    rows.foreach { r =>
      assert(r.getLong(1) > 0L)
      assert(r.getDouble(2) >= 0.0)
    }
  }

  test("x36 semantic dedup: canonical ids are cluster-internal minima") {
    val rows = graft.llm.Similarity.queries("x36_semantic_dedup")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    val cluster = rows.map(r => r.getLong(0) -> r.getLong(1)).toMap
    rows.foreach { r =>
      val (vid, canon, kept) = (r.getLong(0), r.getLong(2), r.getBoolean(3))
      assert(canon <= vid) // canonical is never a later vector
      assert(kept == (canon == vid))
      // canonical target lives in the same cluster
      assert(cluster(canon) == cluster(vid))
    }
  }

  test("x101 IVF+PQ composite ≡ in-memory ADC over the routed candidate cells") {
    val emb = graft.queries.Tables.t(spark, sf001, "embeddings")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    val top2 = graft.index.VectorIndex.ivfTop2(spark, sf001)
      .selectExpr("vec_id", "transform(cl2, c -> cast(c as bigint)) as cl2")
      .collect().map(r => r.getLong(0) -> r.getSeq[Long](1).toVector).toMap
    val codes = graft.index.VectorIndex.pqCodes(spark, sf001)
      .selectExpr("vec_id", "cast(ss as bigint) as ss", "cast(code as bigint) as code")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getLong(2)).toMap
    val cw = graft.index.VectorIndex.pqCodebook(spark, sf001)
      .selectExpr("cast(clabel as bigint) as clabel", "cast(ss as bigint) as ss", "cw")
      .collect().map(r => (r.getLong(0), r.getLong(1)) -> r.getSeq[Double](2).toArray)
      .toMap
    // engine-contract arithmetic: left-to-right 8-term double fold for
    // each subspace distance, decimal(24,12) HALF_UP per term, exact
    // decimal sum across subspaces
    def pd2(q: Long, ss: Long, cl: Long): Double = {
      val e = emb(q); val c = cw((cl, ss))
      var acc = 0.0; var j = 0
      while (j < 8) {
        val d = e((ss * 8 + j).toInt).toDouble - c(j); acc += d * d; j += 1
      }
      acc
    }
    def adc(q: Long, n: Long): Double =
      (0L until 8L).map(ss => BigDecimal(pd2(q, ss, codes((n, ss))))
        .setScale(12, BigDecimal.RoundingMode.HALF_UP)).sum.toDouble
    val ref = (0L until 8L).flatMap { q =>
      val cells = top2(q).toSet
      val cand = top2.keys.filter(n => n != q && cells.contains(top2(n)(0)))
      cand.map(n => (n, adc(q, n))).toSeq
        .sortBy { case (n, d) => (d, n) }.take(10).zipWithIndex
        .map { case ((n, d), i) => (q, n, round6(d), i + 1L) }
    }
    val out = graft.llm.Similarity.queries("x101_ivfpq_ann")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(out.length == ref.length, s"${out.length} vs ${ref.length} rows")
    out.zip(ref).foreach { case (o, e) => assert(o == e, s"$o != $e") }
    // the composite genuinely restricts: at least one probe's candidate
    // pool is smaller than the corpus (else the IVF routing is vacuous)
    assert((0L until 8L).exists(q =>
      top2.count { case (n, c) => n != q && top2(q).contains(c(0)) } <
        emb.size - 1), "IVF routing restricted nothing")
  }

}
