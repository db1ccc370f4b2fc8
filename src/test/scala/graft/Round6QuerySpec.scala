package graft

/** Invariant checks for the round-5 additions: the Gopher rule filter
  * (x50) and windowed distinct counts (r57); x49's and x51's checks
  * live in VectorIndexSpec. The oracle gate pins exact values; these
  * pin the semantic contracts a hash compare can't explain. */
class Round6QuerySpec extends SparkSpec {

  test("x50 Gopher rules: pass flag is exactly the conjunction of its signals") {
    val rows = graft.llm.TextAnalysis.queries("x50_gopher_rules")(spark, sf001)
      .collect()
    val nDocs = graft.queries.Tables.t(spark, sf001, "documents").count()
    assert(rows.length.toLong == nDocs)
    rows.foreach { r =>
      val (nt, mwl, ttf, sh, pass) = (r.getLong(1), r.getDouble(2),
        r.getDouble(3), r.getLong(4), r.getBoolean(5))
      assert(nt > 0L)
      assert(mwl > 0.0 && mwl < 20.0)
      assert(ttf > 0.0 && ttf <= 1.0)
      val expect = (nt >= 20L && nt <= 100000L) &&
        (mwl >= 2.0 && mwl <= 10.0) && (ttf <= 0.2) && (sh >= 2L)
      assert(pass == expect)
    }
  }

  test("x52 scorecard: counts reconcile with the x32 canonical mapping") {
    val sc = graft.llm.Dedup.queries("x52_dedup_scorecard")(spark, sf001)
      .collect().head
    val canon = graft.llm.Dedup.queries("x32_canonical_docs")(spark, sf001)
      .collect()
    assert(sc.getLong(0) == canon.length.toLong)
    assert(sc.getLong(1) == canon.map(_.getLong(1)).distinct.length.toLong)
    assert(sc.getLong(2) == canon.count(_.getString(2) == "exact").toLong)
    assert(sc.getLong(3) == canon.count(_.getString(2) == "near").toLong)
    val rate = sc.getDouble(4)
    assert(rate >= 0.0 && rate < 1.0)
  }

  test("x53 within-doc repetition: fraction bounded, unique <= total") {
    val rows = graft.llm.TextAnalysis.queries("x53_within_doc_dup")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      val (np, nu, est, frac) =
        (r.getLong(1), r.getLong(2), r.getLong(3), r.getDouble(4))
      assert(np >= 1L && nu >= 1L && nu <= np)
      assert(est == (np - nu) * 16L)
      assert(frac >= 0.0 && frac < 1.0)
    }
  }

  test("x54 source KL: Gibbs bound holds; totals reconcile with the corpus") {
    val rows = graft.llm.TextAnalysis.queries("x54_source_kl")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    // KL(p||q) >= 0 (Gibbs); allow decimal-rounding dust at equality
    rows.foreach(r => assert(r.getDouble(3) >= -1e-9))
    // per-source token totals sum to the corpus token total
    val nCorpus = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("size(filter(split(trim(lower(text)), '\\\\s+'), x -> x != '')) as n")
      .collect().map(_.getInt(0).toLong).sum
    assert(rows.map(_.getLong(1)).sum == nCorpus)
  }

  test("r58 GROUPS frame: two-day totals reconcile with per-day sums") {
    val rows = graft.queries.Relational.queries("r58_groups_frame")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    // group rows by (user, day): every event in the same peer group
    // must carry the identical frame aggregate (GROUPS semantics)
    rows.groupBy(r => (r.getLong(1), r.getTimestamp(2))).values.foreach { rs =>
      assert(rs.map(_.getLong(3)).distinct.length == 1)
      assert(rs.map(_.getDouble(4)).distinct.length == 1)
    }
    // the first active day of each user covers exactly its own events
    rows.groupBy(_.getLong(1)).values.foreach { rs =>
      val byDay = rs.groupBy(_.getTimestamp(2))
      val firstDay = byDay.keys.minBy(_.getTime)
      assert(byDay(firstDay).head.getLong(3) == byDay(firstDay).length.toLong)
    }
  }

  test("x56 training shards: balanced partition, dense positions, deterministic") {
    val q = graft.llm.TextAnalysis.queries("x56_training_shards")
    val rows = q(spark, sf001).collect()
    val n = rows.length
    // every doc exactly once; all 16 shards populated (n >= 16) with
    // NTILE-balanced sizes: the first n%16 shards hold ⌈n/16⌉ docs, the
    // rest ⌊n/16⌋ — never differing by more than one
    assert(rows.map(_.getLong(0)).distinct.length == n)
    val byShard = rows.groupBy(_.getLong(1))
    assert(byShard.keySet == (0L until 16L).toSet)
    val (q16, r16) = (n / 16, n % 16)
    byShard.foreach { case (s, rs) =>
      val expect = if (s < r16) q16 + 1 else q16
      assert(rs.length == expect, s"shard $s: ${rs.length} != $expect")
    }
    // positions dense per shard
    byShard.values.foreach { rs =>
      assert(rs.map(_.getLong(2)).sorted.toSeq == (0L until rs.length.toLong))
    }
    // permutation is reproducible run-to-run (the whole point)
    val again = q(spark, sf001).collect()
    assert(rows.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq ==
      again.map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSeq)
  }

  test("r60 gap fill matches an in-memory LOCF/backfill reference") {
    val out = graft.queries.TimeSeries.queries("r60_gap_fill")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r).toMap
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_id", "user_id", "ts", "value").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDouble(3)))
    ev.groupBy(_._2).values.foreach { rows =>
      val sorted = rows.sortBy(r => (r._3.getTime, r._1))
      val vs = sorted.map { case (id, _, _, v) =>
        (id, if (id % 3 == 0) None else Some(v))
      }
      vs.indices.foreach { i =>
        val (id, v) = vs(i)
        val r = out(id)
        assert(r.isNullAt(2) == v.isEmpty)
        val locf = vs.take(i + 1).reverse.collectFirst { case (_, Some(x)) => x }
        val bfill = vs.drop(i).collectFirst { case (_, Some(x)) => x }
        def chk(col: Int, exp: Option[Double], what: String) = exp match {
          case Some(x) => assert(!r.isNullAt(col) && r.getDouble(col) == x, s"$what of $id")
          case None    => assert(r.isNullAt(col), s"$what of $id")
        }
        chk(3, locf, "v_locf"); chk(4, bfill, "v_bfill")
      }
    }
  }

  test("x64 dedup pressure: histogram reconciles with the raw shingle counts") {
    val rows = graft.llm.Dedup.queries("x64_dedup_pressure")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    rows.foreach { r =>
      assert(r.getLong(0) >= 1L) // df
      assert(r.getLong(2) == r.getLong(0) * r.getLong(1), "mass = df * n_shingles")
    }
    // fractions partition the total mass (rounded per row)
    assert(math.abs(rows.map(_.getDouble(3)).sum - 1.0) < rows.length * 1e-6)
    // Σ n_shingles = corpus distinct shingle count; Σ mass = (doc, shingle) pairs
    val ex = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr(s"explode(${KernelOracles.sShinglesHof}) as sh")
    assert(rows.map(_.getLong(1)).sum == ex.distinct().count())
    assert(rows.map(_.getLong(2)).sum == ex.count())
  }

  test("x65 JM smoothing: bounded by the MLE score; bigram counts agree with x43") {
    val jm = graft.llm.TextAnalysis.queries("x65_interpolated_lm")(spark, sf001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    val mle = graft.llm.TextAnalysis.queries("x43_bigram_logprob")(spark, sf001)
      .collect().map(r => r.getLong(0) -> (r.getLong(1), r.getDouble(2))).toMap
    assert(jm.keySet == mle.keySet)
    val ln2 = math.log(2.0)
    jm.foreach { case (d, (n, nllJm)) =>
      assert(n == mle(d)._1, s"bigram count of doc $d")
      assert(nllJm >= 0.0) // p-hat <= 1
      // p-hat >= λ·p_mle ⇒ nll_jm <= nll_mle + ln 2 (up to per-row rounding)
      assert(nllJm <= mle(d)._2 + ln2 + 1e-5, s"JM bound violated for doc $d")
    }
  }

  test("x62 ANN recall: bounds hold and overlaps reconcile with the raw lists") {
    val rows = graft.llm.Similarity.queries("x62_ann_recall")(spark, sf001)
      .collect()
    assert(rows.map(_.getString(0)).distinct.sorted.toSeq ==
      Seq("ivf", "ivfadcr", "ivfpq", "lsh", "pq"))
    rows.foreach { r =>
      val (nAppr, nHit, nEx) = (r.getLong(2), r.getLong(3), r.getLong(4))
      assert(nHit <= math.min(nAppr, nEx), s"overlap bound: $r")
      assert(r.getDouble(5) >= 0.0 && r.getDouble(5) <= 1.0)
    }
    // recompute one method's overlap directly from the two lists
    val exact = graft.llm.Similarity.queries("x11_ann_topk")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1))).toSet
    val ivf = graft.llm.Similarity.queries("x17_ivf_topk")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val byProbe = ivf.groupBy(_._1).view.mapValues(_.count(exact)).toMap
    rows.filter(_.getString(0) == "ivf").foreach { r =>
      assert(r.getLong(3) == byProbe.getOrElse(r.getLong(1), 0).toLong,
        s"ivf overlap of probe ${r.getLong(1)}")
    }
  }

  test("x63 minhash calibration: agreement reconciles with the x06 signatures") {
    val rows = graft.llm.Dedup.queries("x63_minhash_calibration")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    val sigs = graft.llm.Dedup.queries("x06_minhash_sigs")(spark, sf001)
      .collect().map(r => r.getLong(0) -> (1 to 16).map(r.getLong)).toMap
    rows.foreach { r =>
      val (a, b, nAgree) = (r.getLong(0), r.getLong(1), r.getLong(2))
      assert(nAgree >= 0 && nAgree <= 16)
      assert(r.getDouble(4) >= 0.0 && r.getDouble(4) <= 1.0) // estimate
      val direct = sigs(a).zip(sigs(b)).count { case (x, y) => x == y }
      assert(nAgree == direct.toLong, s"agreement of ($a,$b)")
      // identical shingle sets hash to identical signatures
      if (r.getDouble(3) == 1.0) assert(nAgree == 16L)
    }
  }

  test("r59 EXCLUDE emulation matches an in-memory frame reference") {
    val out = graft.queries.Relational.queries("r59_window_exclude")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r).toMap
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("event_id", "user_id", "ts", "cast(ts as date) as day",
        "cast(value as decimal(20,2)) as v")
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getTimestamp(2), r.getDate(3),
        BigDecimal(r.getDecimal(4))))
    assert(out.size == ev.length)
    ev.groupBy(_._2).values.foreach { rows =>
      val sorted = rows.sortBy(r => (r._3.getTime, r._1))
      sorted.zipWithIndex.foreach { case ((id, _, _, day, v), i) =>
        val nbr = sorted.slice(math.max(0, i - 3), math.min(sorted.length, i + 4))
          .filter(_._1 != id)
        val r = out(id)
        assert(r.getLong(2) == nbr.length.toLong, s"n_nbr of $id")
        if (nbr.isEmpty) { assert(r.isNullAt(3)); assert(r.isNullAt(4)) }
        else {
          val sum = nbr.map(_._5).sum
          assert(r.getDouble(3) == sum.toDouble, s"sum_nbr of $id")
          assert(math.abs(r.getDouble(4) - sum.toDouble / nbr.length) < 1e-6,
            s"avg_nbr of $id")
        }
        // EXCLUDE TIES: strictly-earlier days + the current row itself
        val exclTies = sorted.filter(_._4.getTime < day.getTime).map(_._5).sum + v
        assert(r.getDouble(5) == exclTies.toDouble, s"excl_ties of $id")
      }
    }
  }

  test("r57 windowed distinct: running count converges to the partition count") {
    val rows = graft.queries.Relational.queries("r57_window_distinct")(spark, sf001)
      .collect()
    assert(rows.nonEmpty)
    val globalTypes = rows.map(_.getString(2)).distinct.length.toLong
    rows.foreach { r =>
      assert(r.getLong(4) >= 1L)
      assert(r.getLong(4) <= r.getLong(3)) // seen-so-far <= whole-partition
      assert(r.getLong(3) <= globalTypes)
    }
    // per user: the max running count equals the partition-wide count
    rows.groupBy(_.getLong(1)).values.foreach { rs =>
      assert(rs.map(_.getLong(4)).max == rs.head.getLong(3))
    }
  }
}
