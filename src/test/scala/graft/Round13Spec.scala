package graft

import org.apache.spark.sql.functions._

/** Round-9 second wave: the IVF nprobe operating curve (x106), the PQ
  * distortion report (x107), and the FK integrity audit (r76). Each
  * spec pins the property that makes the operator trustworthy: the
  * curve must be monotone in nprobe and agree with the independent
  * x62 recall computation (candidate recall = end recall for exact
  * re-ranking), the distortion must be the MINIMUM over codewords
  * (beating the own-label assignment it approximates), and the audit
  * must classify every way an FK can rot without shuffling the corpus.
  */
class Round13Spec extends SparkSpec {

  test("x106: recall and candidate count are monotone non-decreasing " +
      "in nprobe, and fractions are well-formed") {
    val rows = SparkEntry.queries("x106_nprobe_curve")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getLong(3),
        r.getLong(4), r.getDouble(5), r.getDouble(6)))
    assert(rows.nonEmpty)
    rows.foreach { case (np, q, nCand, nHit, nEx, recall, frac) =>
      assert(Seq(1L, 2L, 4L).contains(np))
      assert(nHit <= nCand && nHit <= nEx, s"q$q np$np hits exceed bounds")
      assert(recall >= 0.0 && recall <= 1.0)
      assert(frac > 0.0 && frac <= 1.0)
    }
    // widening the probe list can only ADD candidates (cells are a
    // superset), so n_cand and n_hit are monotone per query
    val byQ = rows.groupBy(_._2)
    byQ.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._1).toSeq
      sorted.zip(sorted.tail).foreach { case (a, b) =>
        assert(a._3 <= b._3, s"q$q n_cand not monotone: $a -> $b")
        assert(a._4 <= b._4, s"q$q n_hit not monotone: $a -> $b")
      }
    }
  }

  test("x106 cross-check: the nprobe=2 point equals x62's independently " +
      "computed end recall for the IVF method (candidate recall = end " +
      "recall under exact re-ranking)") {
    val curve = SparkEntry.queries("x106_nprobe_curve")(spark, sf001)
      .filter("nprobe = 2")
      .select("query_id", "recall_at_k")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val x62 = SparkEntry.queries("x62_ann_recall")(spark, sf001)
      .filter("method = 'ivf'")
      .select("query_id", "recall_at_k")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(curve.keySet == x62.keySet, "probe sets differ")
    curve.foreach { case (q, r) =>
      assert(r == x62(q), s"q$q: curve np=2 recall $r != x62 ivf ${x62(q)}")
    }
  }

  test("x107: 8 subspaces over the full corpus, nsr consistent, and the " +
      "chosen code beats the own-label codeword (min over codewords)") {
    import graft.llm.Frag._
    val rows = SparkEntry.queries("x107_pq_distortion")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getDouble(4)))
    val n = spark.read.parquet(s"$sf001/embeddings.parquet").count()
    assert(rows.map(_._1).toSeq == (0L to 7L), "one row per subspace, in order")
    rows.foreach { case (ss, nv, mse, energy, nsr) =>
      assert(nv == n, s"ss$ss counted $nv of $n vectors")
      assert(mse >= 0.0 && energy > 0.0)
      // mse/energy are 6-dp rounded outputs; recomputing the ratio
      // from them carries that rounding into the quotient
      assert(math.abs(nsr - mse / energy) < 1e-4, s"ss$ss nsr drifted")
    }
    // optimality: encoding picks the NEAREST codeword, so per-subspace
    // MSE must be <= the MSE of assigning every vector its own label's
    // codeword (one candidate among the minimized set)
    val ownLabel = spark.read.parquet(s"$sf001/embeddings.parquet")
      .join(graft.index.VectorIndex.pqCodebook(spark, sf001)
        .withColumnRenamed("clabel", "label"), Seq("label"))
      .selectExpr("ss",
        "aggregate(zip_with(slice(embedding, ss * 8 + 1, 8), cw, " +
          "(x, w) -> (cast(x as double) - w) * (cast(x as double) - w)), " +
          "cast(0 as double), (acc, t) -> acc + t) as d2")
      .groupBy("ss").agg(avg("d2").as("own_mse"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    rows.foreach { case (ss, _, mse, _, _) =>
      assert(mse <= ownLabel(ss) + 1e-9,
        s"ss$ss min-code mse $mse exceeds own-label ${ownLabel(ss)}")
    }
  }

  test("r76: every rot mode classified per the fixture's closed form") {
    val rows = SparkEntry.queries("r76_fk_integrity_audit")(spark, sf001)
      .collect()
      .map(r => (r.getString(0).toLong, Option(r.getString(1)), r.getString(2)))
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "source")
      .collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    assert(rows.length == docs.size)
    rows.foreach { case (id, ref, status) =>
      val idx = docs(id).drop(3).toInt
      val expected =
        if (id % 13 == 0) "null_ref"
        else if (idx % 7 == 3) "dangling"
        else if (idx % 5 == 0) "deleted_ref"
        else "ok"
      assert(status == expected, s"doc $id (src idx $idx): $status != $expected")
      assert(ref.isEmpty == (id % 13 == 0), s"doc $id SOURCE_REF wrong")
    }
    // all four statuses must actually occur — otherwise the fixture
    // stopped exercising a rot mode and the audit is vacuous
    assert(rows.map(_._3).distinct.toSet ==
      Set("null_ref", "dangling", "deleted_ref", "ok"))
  }

  test("x108: histogram reconstructs the band table exactly and the " +
      "pair-mass identity C(s,2)*n holds per row") {
    import graft.llm.Frag._
    val rows = SparkEntry.queries("x108_lsh_bucket_skew")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(rows.nonEmpty)
    rows.foreach { case (bsz, n, mass, _) =>
      assert(mass == bsz * (bsz - 1) / 2 * n, s"pair mass wrong at size $bsz")
    }
    assert(math.abs(rows.map(_._4).sum - 1.0) < 1e-4,
      "pair_frac must sum to ~1 over the histogram")
    // every rep doc with a nonempty shingle set contributes exactly 4
    // band rows, so sum(bsz * n_buckets) = 4 * |rep docs|
    val nReps = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id", s"$sNorm as norm", s"size($sTokens) as ntk")
      .filter("ntk >= 3")
      .selectExpr("norm").distinct().count()
    assert(rows.map(r => r._1 * r._2).sum == 4 * nReps,
      s"band rows != 4 * $nReps rep docs")
  }

  test("x109: the manifest is decontaminated — no held-out doc, no " +
      "survivor sharing an 8-gram with the held-out split (recomputed " +
      "in memory), shards in range") {
    import graft.llm.Frag._
    val manifest = SparkEntry.queries("x109_corpus_manifest")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(manifest.nonEmpty)
    manifest.foreach { case (id, nt, shard) =>
      assert(shard >= 0 && shard < 8, s"doc $id shard $shard out of range")
      assert(nt > 0, s"doc $id survived the gate with 0 tokens")
    }
    // independent in-memory recompute of the held-out split + 8-grams
    val docs = spark.read.parquet(s"$sf001/documents.parquet")
      .selectExpr("doc_id", s"${sSplitBucket("doc_id")} as bucket", "text")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
    def grams8(text: String): Set[String] = {
      val tk = text.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)
      if (tk.length < 8) Set.empty
      else tk.sliding(8).map(_.mkString(" ")).toSet
    }
    val heldOut = docs.filter(_._2 >= 90)
    val benchGrams = heldOut.flatMap(d => grams8(d._3)).toSet
    val heldOutIds = heldOut.map(_._1).toSet
    val byId = docs.map(d => d._1 -> d._3).toMap
    manifest.foreach { case (id, _, _) =>
      assert(!heldOutIds.contains(id), s"held-out doc $id leaked in")
      assert(grams8(byId(id)).intersect(benchGrams).isEmpty,
        s"doc $id shares an 8-gram with the held-out split")
    }
  }

  test("x109: manifest is a subset of x58's stage-3 survivors") {
    val survivors = SparkEntry.queries("x58_curation_funnel")(spark, sf001)
      .filter("stage = 3").select("n_docs").collect().head.getLong(0)
    val manifest = SparkEntry.queries("x109_corpus_manifest")(spark, sf001)
      .count()
    assert(manifest <= survivors && manifest > 0,
      s"manifest $manifest vs survivors $survivors")
  }

  test("r76 plan guard: the audit joins the corpus against a BROADCAST " +
      "dimension — no shuffle on the FK column") {
    val plan = SparkEntry.queries("r76_fk_integrity_audit")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"audit must broadcast the dimension side:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"audit must not sort-merge the corpus on the FK:\n$plan")
  }
}
