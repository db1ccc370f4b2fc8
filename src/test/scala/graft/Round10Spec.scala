package graft

/** In-memory references for the round-7 additions: x95 probe
  * calibration, x96 hard-negative mining, x97 BPE merge learning.
  *
  * Same contract as Round9Spec: each reference recomputes the answer
  * from raw fixture rows with plain Scala collections, replicating the
  * engine's exact arithmetic (decimal-cast rounding, md5 60-bit
  * hashing, left-to-right IEEE folds) — every equality is exact. */
class Round10Spec extends SparkSpec {

  private def round6(x: Double): Double =
    BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble

  private def h64(s: String): Long = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val hex = md.digest(s.getBytes("UTF-8"))
      .map("%02x".format(_)).mkString.take(15)
    java.lang.Long.parseLong(hex, 16)
  }

  private def toks(t: String): Array[String] =
    t.trim.toLowerCase.split("\\s+").filter(_.nonEmpty)

  test("x95 calibration bins match the exact replica of the trained probe") {
    val rows = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "text", "lang").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getString(2)))
    // bigram features + 3-epoch training, byte-identical to Round9Spec's
    // x94 replica (same arithmetic, same hyperparameters)
    val feats: Map[Long, Map[Long, Long]] = rows.map { case (id, t, _) =>
      val tk = toks(t)
      val bgs =
        if (tk.length >= 2) tk.sliding(2).map(p => p(0) + " " + p(1)).toSeq
        else Seq.empty[String]
      id -> bgs.groupBy(identity)
        .map { case (k, v) => k -> v.length.toLong }.toSeq
        .map { case (bg, c) =>
          val w = if ((h64("fs_" + bg) & 1L) == 1L) c else -c
          (h64(bg) & 255L) -> w
        }.groupBy(_._1).map { case (d, ws) => d -> ws.map(_._2).sum }
        .filter(_._2 != 0L)
    }.toMap
    val y = rows.map { case (id, _, l) => id -> (if (l == "en") 1.0 else 0.0) }.toMap
    val n = rows.length.toDouble
    def d6(x: Double) = BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP)
    def d12(x: Double) = BigDecimal(x).setScale(12, BigDecimal.RoundingMode.HALF_UP)
    var w: Map[Long, BigDecimal] = (-1L to 255L).map(_ -> BigDecimal(0).setScale(6)).toMap
    def zOf(id: Long, wm: Map[Long, BigDecimal]): Double = {
      val zs = feats(id).map { case (d, x) => wm(d) * BigDecimal(x) }
        .foldLeft(BigDecimal(0))(_ + _)
      (zs + wm(-1L)).toDouble
    }
    def pOf(id: Long, wm: Map[Long, BigDecimal]): Double = {
      val z = zOf(id, wm)
      0.5 * (1.0 + z / (1.0 + math.abs(z)))
    }
    for (_ <- 1 to 3) {
      val p = rows.map { case (id, _, _) => id -> pOf(id, w) }.toMap
      val gd = rows.flatMap { case (id, _, _) =>
        feats(id).map { case (d, x) => d -> d12((p(id) - y(id)) * x.toDouble) }
      }.groupBy(_._1).map { case (d, gs) => d -> gs.map(_._2).sum }
      val gb = rows.map { case (id, _, _) => d12(p(id) - y(id)) }.sum
      w = w.map { case (d, wv) =>
        val gs = if (d == -1L) gb else gd.getOrElse(d, BigDecimal(0))
        d -> d6(wv.toDouble - 1.0 * gs.toDouble / n)
      }
    }
    // score + bin
    val binned = rows.map { case (id, _, _) =>
      val p = pOf(id, w)
      val bin = math.min(9L, math.floor(p * 10.0).toLong)
      (bin, p, y(id))
    }
    val ref = binned.groupBy(_._1).toSeq.map { case (bin, xs) =>
      val nb = xs.length.toDouble
      val sp = xs.map(x => d12(x._2)).foldLeft(BigDecimal(0))(_ + _)
      val sy = xs.map(_._3).sum
      val meanP = round6(sp.toDouble / nb)
      val fracPos = round6(sy / nb)
      (bin, xs.length.toLong, meanP, sy.toLong,
        fracPos, round6(math.abs(sp.toDouble / nb - sy / nb)))
    }.sortBy(_._1)
    val out = graft.llm.TextAnalysis.queries("x95_probe_calibration")(spark, sf001)
      .collect()
    assert(out.length == ref.length)
    out.zip(ref).foreach { case (o, (bin, nd, mp, np, fp, gap)) =>
      assert(o.getLong(0) == bin, s"bin $bin")
      assert(o.getLong(1) == nd, s"n_docs of bin $bin")
      assert(o.getDouble(2) == mp, s"mean_p of bin $bin")
      assert(o.getLong(3) == np, s"n_pos of bin $bin")
      assert(o.getDouble(4) == fp, s"frac_pos of bin $bin")
      assert(o.getDouble(5) == gap, s"gap of bin $bin")
    }
    // the bins must partition the corpus, and more than one bin must be
    // populated (a one-bin diagram diagnoses nothing)
    assert(ref.map(_._2).sum == rows.length.toLong)
    assert(ref.length > 1, "calibration collapsed to a single bin")
  }

  test("x96 hard negatives match brute-force label-filtered cosine top-5") {
    val embs = graft.queries.Tables.t(spark, sf001, "embeddings")
      .selectExpr("vec_id", "label", "embedding").collect()
      .map(r => (r.getLong(0), r.getInt(1),
        r.getSeq[Float](2).toArray))
    def dot(a: Array[Float], b: Array[Float]): Double = {
      var acc = 0.0
      var i = 0
      while (i < a.length) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    val sq = embs.map { case (id, _, e) => id -> dot(e, e) }.toMap
    val byId = embs.map { case (id, l, e) => id -> ((l, e)) }.toMap
    val ref = embs.filter(_._1 < 8).sortBy(_._1).flatMap { case (qid, ql, qe) =>
      embs.filter { case (nid, nl, _) => nl != ql }
        .map { case (nid, nl, ne) =>
          (nid, nl, round6(dot(qe, ne) / math.sqrt(sq(qid) * sq(nid))))
        }
        .sortBy { case (nid, _, c) => (-c, nid) }.take(5).zipWithIndex
        .map { case ((nid, nl, c), i) => (qid, ql, i + 1L, nid, nl, c) }
    }
    val out = graft.llm.Similarity.queries("x96_hard_negatives")(spark, sf001)
      .collect()
    assert(out.length == ref.length && ref.length == 40)
    out.zip(ref).foreach { case (o, (qid, ql, rk, nid, nl, c)) =>
      assert(o.getLong(0) == qid && o.getLong(2) == rk, s"rank $rk of $qid")
      assert(o.getInt(1) == ql, s"q_label of $qid")
      assert(o.getLong(3) == nid, s"neighbor at rank $rk of $qid")
      assert(o.getInt(4) == nl, s"n_label of $nid")
      assert(o.getDouble(5) == c, s"cos of ($qid,$nid)")
      assert(ql != nl, "hard negative shares the anchor's label")
    }
    // hard negatives must genuinely be harder than the average negative:
    // top-1 similarity beats the anchor's mean cross-label similarity
    val byAnchor = ref.groupBy(_._1)
    byAnchor.foreach { case (qid, rs) =>
      val (ql, qe) = byId(qid)
      val all = embs.filter(e => e._2 != ql)
        .map(e => dot(qe, e._3) / math.sqrt(sq(qid) * sq(e._1)))
      assert(rs.head._6 > all.sum / all.length, s"anchor $qid top-1 not hard")
    }
  }

  /** Iterated greedy BPE reference over the fixture: (merge table,
    * final per-word segmentation, word frequencies). */
  private lazy val bpeRef: (Seq[(Long, String, String, String, Long)],
      Map[String, Vector[String]], Map[String, Long]) = {
    val docs = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("text").collect().map(_.getString(0))
    val wf: Map[String, Long] = docs.flatMap(toks).groupBy(identity)
      .map { case (wrd, xs) => wrd -> xs.length.toLong }
    var segs: Map[String, Vector[String]] =
      wf.keys.map(wrd => wrd -> wrd.toVector.map(_.toString)).toMap
    val merges = (1 to 3).map { k =>
      val counts = scala.collection.mutable.Map[(String, String), Long]()
      segs.foreach { case (wrd, syms) =>
        if (syms.length >= 2)
          syms.sliding(2).foreach { p =>
            counts((p(0), p(1))) = counts.getOrElse((p(0), p(1)), 0L) + wf(wrd)
          }
      }
      val ((a, b), cnt) = counts.toSeq
        .minBy { case ((a, b), c) => (-c, a, b) }
      // greedy left-to-right re-segmentation (the merge semantics)
      segs = segs.map { case (wrd, syms) =>
        val out = Vector.newBuilder[String]
        var i = 0
        while (i < syms.length) {
          if (i < syms.length - 1 && syms(i) == a && syms(i + 1) == b) {
            out += (a + b); i += 2
          } else { out += syms(i); i += 1 }
        }
        wrd -> out.result()
      }
      (k.toLong, a, b, a + b, cnt)
    }
    (merges, segs, wf)
  }

  test("x97 BPE merges match an iterated greedy reference") {
    val (merges, segs, _) = bpeRef
    val out = graft.llm.TextAnalysis.queries("x97_bpe_merges")(spark, sf001)
      .collect()
    assert(out.length == 3)
    out.zip(merges).foreach { case (o, (step, a, b, m, c)) =>
      assert(o.getLong(0) == step, s"step $step")
      assert(o.getString(1) == a && o.getString(2) == b, s"pair at step $step")
      assert(o.getString(3) == m, s"merged symbol at step $step")
      assert(o.getLong(4) == c, s"pair count at step $step")
    }
    // merge counts are non-increasing across steps (a later merge can
    // never be more frequent than the argmax that preceded it)
    assert(merges.map(_._5).sliding(2).forall(p => p(0) >= p(1)))
    // step 2 or 3 may build on a merged symbol; at minimum every merged
    // symbol must appear in some word's final segmentation
    val finalSyms = segs.values.flatten.toSet
    assert(merges.exists(m => finalSyms.contains(m._4)),
      "no merged symbol survives in the final segmentation")
  }

  test("x98 BPE segmentation matches the reference's final segs") {
    val (_, segs, wf) = bpeRef
    val out = graft.llm.TextAnalysis.queries("x98_bpe_segment")(spark, sf001)
      .collect()
    assert(out.length == segs.size)
    out.foreach { o =>
      val wrd = o.getString(0)
      val syms = segs(wrd)
      assert(o.getLong(1) == wf(wrd), s"freq of $wrd")
      assert(o.getLong(2) == wrd.length.toLong, s"n_chars of $wrd")
      assert(o.getLong(3) == syms.length.toLong, s"n_pieces of $wrd")
      assert(o.getString(4) == syms.mkString(" "), s"pieces of $wrd")
    }
    // segmentation invariants: pieces concatenate back to the word, and
    // at least one word actually got shorter (the merges did something)
    out.foreach { o =>
      assert(o.getString(4).replace(" ", "") == o.getString(0),
        s"pieces of ${o.getString(0)} don't concatenate back")
    }
    assert(out.exists(o => o.getLong(3) < o.getLong(2)),
      "no word was compressed by any merge")
  }

  test("x102 matryoshka eval matches an in-memory truncation reference") {
    val embs = graft.queries.Tables.t(spark, sf001, "embeddings")
      .selectExpr("vec_id", "embedding").collect()
      .map(r => r.getLong(0) -> r.getSeq[Float](1).toArray).toMap
    def dot(a: Array[Float], b: Array[Float], d: Int): Double = {
      var acc = 0.0; var i = 0
      while (i < d) { acc += a(i).toDouble * b(i).toDouble; i += 1 }
      acc
    }
    def top10(d: Int): Map[Long, Seq[Long]] =
      (0L until 8L).map { q =>
        q -> embs.keys.filter(_ != q).map { n =>
          n -> round6(dot(embs(q), embs(n), d) /
            math.sqrt(dot(embs(q), embs(q), d) * dot(embs(n), embs(n), d)))
        }.toSeq.sortBy { case (n, c) => (-c, n) }.take(10).map(_._1)
      }.toMap
    val exact = top10(64)
    val trunc = top10(16)
    val out = graft.llm.Similarity.queries("x102_matryoshka_eval")(spark, sf001)
      .collect().map(r => r.getLong(0) ->
        ((r.getLong(1), r.getDouble(2), r.getBoolean(3)))).toMap
    assert(out.keySet == (0L until 8L).toSet)
    (0L until 8L).foreach { q =>
      val ov = trunc(q).toSet.intersect(exact(q).toSet).size.toLong
      assert(out(q)._1 == ov, s"overlap of probe $q")
      assert(out(q)._2 == round6(ov.toDouble / 10.0), s"recall of probe $q")
      assert(out(q)._3 == (trunc(q).head == exact(q).head), s"top1 of probe $q")
    }
    // truncation must cost something somewhere, and keep something
    // somewhere — else the report diagnoses nothing on this fixture
    assert(out.values.exists(_._1 < 10L), "truncation lossless everywhere")
    assert(out.values.exists(_._1 > 0L), "truncation destroyed everything")
  }

  test("r71 funnel / r72 retention match in-memory references") {
    val ev = graft.queries.Tables.t(spark, sf001, "events")
      .selectExpr("user_id", "event_type", "ts").collect()
      .map(r => (r.getLong(0), r.getString(1), r.getTimestamp(2)))
    // funnel: earliest view, then earliest click/purchase strictly
    // after the previous stage and within its 6-hour window
    val windowMs = 6L * 3600 * 1000
    def plus6h(a: java.sql.Timestamp) = {
      // whole-second shift, exact fractional seconds preserved — the
      // compare must be micro-exact like the engine's
      val u = new java.sql.Timestamp(a.getTime + windowMs)
      u.setNanos(a.getNanos)
      u
    }
    val byUser = ev.groupBy(_._1)
    val fref = byUser.map { case (u, es) =>
      def firstAfter(tpe: String, after: Option[java.sql.Timestamp]) =
        es.filter(e => e._2 == tpe && after.forall(a =>
            e._3.after(a) && !e._3.after(plus6h(a))))
          .map(_._3).sortBy(t => (t.getTime, t.getNanos)).headOption
      val v = es.filter(_._2 == "view").map(_._3).sortBy(_.getTime).headOption
      val c = if (v.isDefined) firstAfter("click", v) else None
      val p = if (c.isDefined) firstAfter("purchase", c) else None
      u -> ((v, c, p, Seq(v, c, p).count(_.isDefined).toLong))
    }
    val fout = graft.queries.Relational.queries("r71_event_funnel")(spark, sf001)
      .collect().map(r => r.getLong(0) ->
        ((Option(r.getTimestamp(1)), Option(r.getTimestamp(2)),
          Option(r.getTimestamp(3)), r.getLong(4)))).toMap
    assert(fout.keySet == fref.keySet)
    fref.foreach { case (u, e) => assert(fout(u) == e, s"funnel of user $u") }
    // the fixture exercises more than one terminal stage
    assert(fout.values.map(_._4).toSet.size > 1, "funnel stages degenerate")
    // retention: cohort sizes partition the users; offset-0 cell is the
    // full cohort (everyone is active in their own first week)
    val rout = graft.queries.Relational.queries("r72_cohort_retention")(spark, sf001)
      .collect().map(r => (r.getTimestamp(0), r.getLong(1)) ->
        ((r.getLong(2), r.getLong(3), r.getDouble(4)))).toMap
    val cohortSizes = rout.groupBy(_._1._1).map { case (cw, cells) =>
      cw -> cells.collect { case ((_, 0L), (na, nc, ret)) => (na, nc, ret) }.head
    }
    cohortSizes.foreach { case (cw, (na, nc, ret)) =>
      assert(na == nc && ret == 1.0, s"offset-0 cell of cohort $cw")
    }
    assert(cohortSizes.values.map(_._2).sum == byUser.size.toLong,
      "cohorts do not partition the users")
    rout.foreach { case ((cw, off), (na, nc, ret)) =>
      assert(off >= 0 && na <= nc && ret >= 0.0 && ret <= 1.0,
        s"cell ($cw, $off) out of bounds")
    }
  }

  test("x100/x101 plan guards: the corpus never shuffles wider than its key") {
    // x100: the only exchanges allowed are the doc_id aggregation and
    // the final orderBy range partitioning — the merge-frame joins must
    // all broadcast (a hash-join here would shuffle the corpus three
    // times); same discipline for x101's codebook/pdist joins
    val p100 = graft.llm.TextAnalysis.queries("x100_bpe_stream")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p100.contains("SortMergeJoin") &&
      !p100.contains("ShuffledHashJoin"),
      s"x100 merge joins must broadcast:\n$p100")
    val p101 = graft.llm.Similarity.queries("x101_ivfpq_ann")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(!p101.contains("SortMergeJoin"),
      s"x101 must not sort-merge-join the corpus:\n$p101")
    assert(p101.contains("BroadcastHashJoin") || p101.contains("BroadcastNestedLoopJoin"),
      s"x101 pdist/codebook sides must broadcast:\n$p101")
  }

  test("x100 stream segmentation reconciles with x98's vocab segmentation") {
    val (_, segs, _) = bpeRef
    val rows = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    // per doc: token count and Σ pieces(token) through the reference segs
    val ref = rows.map { case (id, t) =>
      val tk = toks(t)
      id -> ((tk.length.toLong, tk.map(w => segs(w).length.toLong).sum))
    }.filter(_._2._1 > 0).toMap
    val out = graft.llm.TextAnalysis.queries("x100_bpe_stream")(spark, sf001)
      .collect()
    assert(out.length == ref.size)
    out.foreach { o =>
      val id = o.getLong(0)
      val (nt, np) = ref(id)
      assert(o.getLong(1) == nt, s"n_tokens of $id")
      assert(o.getLong(2) == np, s"n_pieces of $id")
      assert(o.getDouble(3) == round6(np.toDouble / nt.toDouble),
        s"fertility of $id")
      assert(np >= nt, s"$id has fewer pieces than tokens")
    }
    // the merges did real work on the stream: at least one document's
    // piece count is below its raw character count
    val chars = rows.map { case (id, t) =>
      id -> toks(t).map(_.length.toLong).sum
    }.toMap
    assert(out.exists(o => o.getLong(2) < chars(o.getLong(0))),
      "no document was compressed by any merge")
  }

  test("x99 incremental dedup: exact verdicts from first principles, near/new invariants") {
    import java.security.MessageDigest
    val rows = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "text").collect()
      .map(r => (r.getLong(0), r.getString(1)))
    def md5hex(s: String): String = MessageDigest.getInstance("MD5")
      .digest(s.getBytes("UTF-8")).map("%02x".format(_)).mkString
    val fp0 = rows.map { case (id, t) =>
      id -> md5hex(t.trim.toLowerCase.replaceAll("\\s+", " "))
    }.toMap
    // the batch: "today's crawl" (doc_id % 5 = 4) plus the re-crawl
    // slice — base docs re-ingested verbatim under doc_id + 10^8
    val crawlIds = rows.map(_._1).filter(_ % 5 == 4).toSet
    val recrawl = rows.map(_._1)
      .filter(id => id % 5 != 4 && id % 97 == 0)
      .map(id => (id + 100000000L) -> fp0(id)).toMap
    assert(recrawl.nonEmpty, "fixture has no re-crawl docs")
    val fp = fp0 ++ recrawl
    val newIds = crawlIds ++ recrawl.keySet
    val baseByFp = rows.map(_._1).filterNot(crawlIds)
      .groupBy(fp0).map { case (f, ids) => f -> ids.min }
    val out = graft.llm.Dedup.queries("x99_incremental_dedup")(spark, sf001)
      .collect()
      .map(r => r.getLong(0) -> ((r.getString(1), r.getLong(2), r.getDouble(3))))
      .toMap
    // one verdict per incoming doc, none extra
    assert(out.keySet == newIds)
    // exact verdicts are fully determined by the fingerprint store
    newIds.foreach { id =>
      val (verdict, dupOf, jac) = out(id)
      baseByFp.get(fp(id)) match {
        case Some(rep) =>
          assert(verdict == "exact", s"$id should be exact")
          assert(dupOf == rep, s"$id exact dup_of")
          assert(jac == 1.0, s"$id exact jaccard")
        case None =>
          assert(verdict != "exact", s"$id cannot be exact")
          if (verdict == "near") {
            assert(dupOf % 5 != 4 && dupOf != id, s"$id near partner in base")
            assert(jac >= 0.5 && jac <= 1.0, s"$id near jaccard $jac")
          } else {
            assert(dupOf == -1L && jac == 0.0, s"$id new row shape")
          }
      }
    }
    // recall cross-check against the independently hash-verified x07
    // pair list: an LSH-verified pair linking a new rep to a base rep
    // means that doc cannot be 'new'
    val reps = rows.map(_._1).groupBy(fp).map { case (_, ids) => ids.min }.toSet
    val x07 = graft.llm.Dedup.queries("x07_lsh_neardup_pairs")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1)))
    val linked = x07.flatMap { case (a, b) => Seq(a -> b, b -> a) }
      .filter { case (n, p) => p % 5 != 4 }.groupBy(_._1)
    newIds.foreach { id =>
      val rep = rows.map(_._1).filter(o => fp(o) == fp(id)).min
      if (out(id)._1 == "new")
        assert(!linked.contains(rep), s"$id marked new despite an x07 link")
    }
    // the fixture must exercise all three verdicts
    val verdicts = out.values.map(_._1).toSet
    assert(verdicts == Set("exact", "near", "new"),
      s"fixture covers only $verdicts")
  }
}
