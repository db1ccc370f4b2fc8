package graft

import java.nio.file.{Files, Paths}
import graft.queries.Durable

/** Durable standing-index tiers (round 13): the expensive cross-query
  * structures persist to an index root keyed by (corpus dir, tier key,
  * builder version) and a NEW SESSION loads them bit-identically
  * instead of rebuilding — the "index IS the asset" contract. Also
  * pins the opt-in boundary (no root configured ⇒ byte-for-byte the
  * old in-session behavior) and fingerprint invalidation (a rewritten
  * corpus never serves a stale tier). */
class DurableTiersSpec extends SparkSpec {

  private def freshRoot(tag: String): String = {
    val d = Files.createTempDirectory(s"graft_index_$tag")
    d.toString
  }

  test("tier-eligibility allowlist: an undeclared key is rejected at install") {
    val s1 = spark.newSession()
    intercept[IllegalArgumentException] {
      Durable.tier(s1, sf001, "cached_query_rank", "v1") {
        s1.range(1).toDF("x")
      }
    }
    intercept[IllegalArgumentException] {
      Durable.install(s1, freshRoot("bad"), sf001, "memoized_result", "v1",
        s1.range(1).toDF("x"))
    }
  }

  test("tier-eligibility allowlist: every tier INSTALLED under an index root " +
      "carries a declared key (index_status audit)") {
    val root = freshRoot("audit")
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    // install a representative spread: text state, dedup signatures,
    // vector tiers (riders pull their dependencies in)
    graft.SparkEntry.queries("x04_fingerprint")(s1, sf001).count()
    graft.SparkEntry.queries("x64_dedup_pressure")(s1, sf001).count()
    graft.SparkEntry.queries("x49_pq_ann")(s1, sf001).count()
    val corpusDir = Files.list(Paths.get(root)).iterator()
    assert(corpusDir.hasNext, "nothing installed")
    import scala.jdk.CollectionConverters._
    val keys = Files.list(corpusDir.next()).iterator().asScala
      .map(_.getFileName.toString)
      .filterNot(n => n.contains(".tmp-") || n.contains(".old-"))
      .map(_.split("__", 2).head).toSet
    assert(keys.nonEmpty)
    val undeclared = keys -- Durable.allowedKeys
    assert(undeclared.isEmpty,
      s"tiers on disk with undeclared keys: $undeclared — a tier must be " +
        "per-document corpus state on Durable.allowedKeys, never a " +
        "query-shaped aggregate")
  }

  test("new session loads the standing graph from the index root, bit-identical, no rebuild") {
    val root = freshRoot("nnd")
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val built = graft.index.GraphIndex.nndescentEdges(s1, sf001, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(identity)
    val m0 = Durable.stats.get("nnd_edges")
    assert(m0 != null && m0._2 >= 1, s"first session must BUILD: $m0")
    // the tier dir exists with data + meta
    val tierDirs = Files.list(Paths.get(root)).iterator()
    assert(tierDirs.hasNext, "index root is empty after the build")

    // fresh session: Shared's per-session memo can't serve it — only
    // the durable copy can avoid a rebuild
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val loaded = graft.index.GraphIndex.nndescentEdges(s2, sf001, iters = 2)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
      .sortBy(identity)
    val m1 = Durable.stats.get("nnd_edges")
    assert(m1 != null && m1._1 >= 1 && m1._2 == 0,
      s"second session must LOAD, never rebuild: $m1")
    assert(loaded.sameElements(built),
      "durable standing graph is not bit-identical to the built one")
  }

  test("queries over durable tiers stay bit-identical to the in-session build (IVF + PQ + minhash riders)") {
    val root = freshRoot("q")
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    for (q <- Seq("x17_ivf_topk", "x49_pq_ann", "x06_minhash_sigs")) {
      if (SparkEntry.queries.contains(q)) {
        val a = SparkEntry.queries(q)(s1, sf001).collect().map(_.toString).sorted
        val b = SparkEntry.queries(q)(spark, sf001).collect().map(_.toString).sorted
        assert(a.sameElements(b), s"$q drifted under the durable index root")
      }
    }
    // and a second fresh session serves them from disk
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val again = SparkEntry.queries("x17_ivf_topk")(s2, sf001)
      .collect().map(_.toString).sorted
    val base = SparkEntry.queries("x17_ivf_topk")(spark, sf001)
      .collect().map(_.toString).sorted
    assert(again.sameElements(base))
    val iv = Durable.stats.get("ivf_top2")
    assert(iv != null && iv._1 >= 1 && iv._2 == 0,
      s"ivf routing must come from disk in a fresh session: $iv")
  }

  test("doc_tf is a durable tier: a fresh session serves the tf-riders from disk, bit-identical") {
    val root = freshRoot("tf")
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val built = graft.llm.TextAnalysis.queries("x23_tfidf_topterms")(s1, sf001)
      .collect().map(_.toString).sorted
    val m0 = Durable.stats.get("doc_tf")
    assert(m0 != null && m0._2 >= 1, s"first session must BUILD doc_tf: $m0")
    // fresh session: only the durable copy can serve it
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val loaded = graft.llm.TextAnalysis.queries("x23_tfidf_topterms")(s2, sf001)
      .collect().map(_.toString).sorted
    val m1 = Durable.stats.get("doc_tf")
    assert(m1 != null && m1._1 >= 1 && m1._2 == 0,
      s"second session must LOAD doc_tf, never rebuild: $m1")
    assert(loaded.sameElements(built),
      "tf-rider over the durable doc_tf tier is not bit-identical")
    // and the no-root path stays transparent (baseline equality)
    val base = graft.llm.TextAnalysis.queries("x23_tfidf_topterms")(spark, sf001)
      .collect().map(_.toString).sorted
    assert(base.sameElements(built))
  }

  test("shingle_df is a durable tier: a fresh session serves x64/x57/x48 from disk, bit-identical") {
    val root = freshRoot("shdf")
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val riders = Seq("x64_dedup_pressure", "x57_novelty", "x48_source_overlap")
    val built = riders.map(q =>
      q -> SparkEntry.queries(q)(s1, sf001).collect().map(_.toString).sorted).toMap
    val m0 = Durable.stats.get("shingle_df")
    assert(m0 != null && m0._2 >= 1, s"first session must BUILD shingle_df: $m0")
    // fresh session: only the durable copy can serve it
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    riders.foreach { q =>
      val loaded = SparkEntry.queries(q)(s2, sf001)
        .collect().map(_.toString).sorted
      assert(loaded.sameElements(built(q)),
        s"$q over the durable shingle_df tier is not bit-identical")
      // no-root baseline equality too
      val base = SparkEntry.queries(q)(spark, sf001)
        .collect().map(_.toString).sorted
      assert(base.sameElements(built(q)), s"$q drifted without a root")
    }
    val m1 = Durable.stats.get("shingle_df")
    assert(m1 != null && m1._1 >= 1 && m1._2 == 0,
      s"second session must LOAD shingle_df, never rebuild: $m1")
  }

  test("doc_fp is a durable tier: a fresh session serves the fingerprint riders from disk, bit-identical") {
    val root = freshRoot("dfp")
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val riders = Seq("x04_fingerprint", "x05_exact_dedup", "x67_neardup_decontam")
    val built = riders.map(q =>
      q -> SparkEntry.queries(q)(s1, sf001).collect().map(_.toString).sorted).toMap
    val m0 = Durable.stats.get("doc_fp")
    assert(m0 != null && m0._2 >= 1, s"first session must BUILD doc_fp: $m0")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    riders.foreach { q =>
      val loaded = SparkEntry.queries(q)(s2, sf001)
        .collect().map(_.toString).sorted
      assert(loaded.sameElements(built(q)),
        s"$q over the durable doc_fp tier is not bit-identical")
      val base = SparkEntry.queries(q)(spark, sf001)
        .collect().map(_.toString).sorted
      assert(base.sameElements(built(q)), s"$q drifted without a root")
    }
    val m1 = Durable.stats.get("doc_fp")
    assert(m1 != null && m1._1 >= 1 && m1._2 == 0,
      s"second session must LOAD doc_fp, never rebuild: $m1")
  }

  test("doc_stats is a durable tier: a fresh session serves the quality riders from disk, bit-identical") {
    val root = freshRoot("dst")
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    val riders = Seq("x03_quality_score", "x75_source_cap",
      "x59_source_quality_gate")
    val built = riders.map(q =>
      q -> SparkEntry.queries(q)(s1, sf001).collect().map(_.toString).sorted).toMap
    val m0 = Durable.stats.get("doc_stats")
    assert(m0 != null && m0._2 >= 1, s"first session must BUILD doc_stats: $m0")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    riders.foreach { q =>
      val loaded = SparkEntry.queries(q)(s2, sf001)
        .collect().map(_.toString).sorted
      assert(loaded.sameElements(built(q)),
        s"$q over the durable doc_stats tier is not bit-identical")
      val base = SparkEntry.queries(q)(spark, sf001)
        .collect().map(_.toString).sorted
      assert(base.sameElements(built(q)), s"$q drifted without a root")
    }
    val m1 = Durable.stats.get("doc_stats")
    assert(m1 != null && m1._1 >= 1 && m1._2 == 0,
      s"second session must LOAD doc_stats, never rebuild: $m1")
  }

  test("corpus rewrite invalidates the fingerprint and forces a rebuild") {
    val root = freshRoot("fp")
    val corpus = Files.createTempDirectory("graft_corpus").toString
    for (t <- Seq("documents", "embeddings"))
      Files.copy(Paths.get(s"$sf001/$t.parquet"),
        Paths.get(s"$corpus/$t.parquet"))
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    graft.index.GraphIndex.nndescentEdges(s1, corpus, iters = 2).count()
    assert(Durable.stats.get("nnd_edges")._2 == 1)
    // rewrite the corpus (mtime + size change)
    val f = Paths.get(s"$corpus/embeddings.parquet")
    Files.copy(f, Paths.get(s"$corpus/embeddings.parquet.bak"))
    Files.delete(f)
    Files.copy(Paths.get(s"$corpus/embeddings.parquet.bak"), f)
    Files.setLastModifiedTime(f,
      java.nio.file.attribute.FileTime.fromMillis(
        System.currentTimeMillis() + 5000))
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    Durable.stats.clear()
    graft.index.GraphIndex.nndescentEdges(s2, corpus, iters = 2).count()
    val m = Durable.stats.get("nnd_edges")
    assert(m._2 == 1 && m._1 == 0,
      s"stale tier served after a corpus rewrite: $m")
  }

  test("no index root configured: the layer is transparent (in-session build, nothing written)") {
    val s1 = spark.newSession() // no spark.graft.indexDir
    Durable.stats.clear()
    val rows = graft.index.GraphIndex.nndescentEdges(s1, sf001, iters = 2).count()
    assert(rows > 0)
    // stats may record the build, but nothing may be on disk: root(s)
    // is None so loadOrBuild never ran
    assert(Durable.root(s1).isEmpty)
  }
}
