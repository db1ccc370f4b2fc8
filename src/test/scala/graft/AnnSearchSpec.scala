package graft

/** `ann_search` (round 13): the user-facing CLI search over the
  * standing kNN index is the SAME engine x121 grades — identical
  * ranked lists for corpus probes — and serves arbitrary probe sets
  * at any k. */
class AnnSearchSpec extends SparkSpec {

  test("ann_search over corpus probes equals x121's ranked lists (grading column aside)") {
    val probes = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter("vec_id < 8")
      .selectExpr("vec_id as src", "embedding as ea",
        "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, t) -> acc + t) as sa")
    val mine = graft.index.GraphIndex
      .annSearch(spark, sf001, probes, hops = 2, k = 10)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    val x121 = SparkEntry.queries("x121_graph_beam_search")(spark, sf001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    assert(mine.sorted.sameElements(x121.sorted),
      s"ann_search diverged from x121: ${mine.length} vs ${x121.length} rows")
  }

  test("CLI body: --ids probes return k ranked lines per probe; k is a free knob") {
    val lines = Main.annSearch(spark, sf001, ids = Some("0, 3"),
      probesFile = None, hops = 2, k = 3)
    assert(lines.length == 6, s"2 probes x k=3: $lines")
    val byProbe = lines.map(_.split(" ")).groupBy(_(0))
    assert(byProbe.keySet == Set("0", "3"))
    byProbe.values.foreach { g =>
      assert(g.map(_(1)).sorted.sameElements(Array("1", "2", "3")))
      // ranked by cos desc
      val cs = g.sortBy(_(1)).map(_(3).toDouble)
      assert(cs.sameElements(cs.sorted.reverse), s"not ranked: ${g.toSeq.map(_.mkString(" "))}")
    }
  }

  test("CLI body: --entries saturates to exact search (E >= N seeds every node)") {
    // the entry-count lever (round-14 recall study): hash seeds are
    // drawn mod N, so E far above N visits every node at hop 0 and the
    // walk's rank-1 answer MUST equal the brute-force best — the knob
    // demonstrably reaches the walk, and its limit is exact search
    val n = spark.read.parquet(s"$sf001/embeddings.parquet").count().toInt
    val lines = Main.annSearch(spark, sf001, ids = Some("0,3"),
      probesFile = None, hops = 2, k = 1, b = 5, e = 20 * n)
      .map(_.split(" ")).map(a => a(0).toLong -> a(3).toDouble).toMap
    val exact = SparkEntry.queries("x11_ann_topk")(spark, sf001)
      .filter("query_id in (0, 3) and rk = 1")
      .selectExpr("query_id", "cos_sim")
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    assert(lines.keySet == Set(0L, 3L))
    lines.foreach { case (p, c) =>
      assert(math.abs(c - exact(p)) < 1e-6,
        s"probe $p: saturated walk best $c != brute-force best ${exact(p)}")
    }
  }

  test("seed resolution: ivf is the default iff the durable IVF tiers are resident; explicit values validated") {
    // no index root configured -> the zero-prerequisite hash path
    val bare = spark.newSession()
    assert(Main.resolveSeed(bare, sf001, None, None) == "hash",
      "without durable tiers the default must stay hash")
    // root configured and BOTH routing tiers installed -> ivf default
    val root = java.nio.file.Files.createTempDirectory("graft_seed").toString
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    graft.index.VectorIndex.ivfTop2(s1, sf001).count() // installs centroids + ivf_top2
    val s2 = spark.newSession() // fresh session: only the DISK copy counts
    s2.conf.set("spark.graft.indexDir", root)
    assert(Main.resolveSeed(s2, sf001, None, None) == "ivf",
      "resident IVF tiers must flip the default to ivf")
    // the hash-only --entries knob pins the default back to hash
    assert(Main.resolveSeed(s2, sf001, None, Some("16")) == "hash")
    // explicit values are honored on both sides
    assert(Main.resolveSeed(s2, sf001, Some("hash"), Some("16")) == "hash")
    assert(Main.resolveSeed(bare, sf001, Some("ivf"), None) == "ivf")
    // typos fail fast, never a silent hash fallback
    intercept[IllegalArgumentException] {
      Main.resolveSeed(s2, sf001, Some("IVF"), None)
    }
    // --entries is dead weight under ivf routing: error, don't ignore
    intercept[IllegalArgumentException] {
      Main.resolveSeed(s2, sf001, Some("ivf"), Some("16"))
    }
    // x138's gauge on this ISOTROPIC corpus measures a sub-threshold
    // routing margin — installing it flips the default back to hash
    // (measured evidence beats tier-residency intent); explicit --seed
    // ivf stays honored
    graft.index.GraphIndex.quantizerMargin(s2, sf001).count()
    val g = graft.index.GraphIndex.quantizerGauge(s2, sf001)
    assert(g.exists(_ < graft.index.GraphIndex.QuantizerMarginThreshold),
      s"hash-geometry gauge should read below threshold: $g")
    assert(Main.resolveSeed(s2, sf001, None, None) == "hash",
      "a measured-low gauge must veto the ivf default")
    assert(Main.resolveSeed(s2, sf001, Some("ivf"), None) == "ivf")
  }

  test("x138: cells partition the corpus; hash geometry reads an order below the clustered margin") {
    val rows = SparkEntry.queries("x138_quantizer_margin")(spark, sf001)
      .collect()
    val n = spark.read.parquet(s"$sf001/embeddings.parquet").count()
    assert(rows.map(_.getLong(1)).sum == n,
      "every vector is assigned to exactly one cell")
    assert(rows.length >= 2)
    rows.foreach { r =>
      assert(r.getDouble(2) <= 1.000001 && r.getDouble(2) >= -1.000001,
        s"mean top-1 cosine out of range: $r")
      assert(r.getDouble(3) >= 0.0 && r.getDouble(3) <= 2.000001,
        s"margin out of range: $r")
    }
    val weighted = rows.map(r => r.getLong(1) * r.getDouble(3)).sum / n
    assert(weighted < graft.index.GraphIndex.QuantizerMarginThreshold,
      s"isotropic corpus should gauge below 0.2, got $weighted")
  }

  test("ivf-seeded search never returns the probe as its own neighbor") {
    // a probe that is one of its routed cell's 4 hash-ranked
    // representatives would otherwise seed (src, src) and surface
    // itself at cos 1.0 rank-1 — sweep enough corpus probes to cover
    // the representative set and assert the self filter holds
    val probes = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter("vec_id < 64")
      .selectExpr("vec_id as src", "embedding as ea",
        "aggregate(zip_with(embedding, embedding, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, t) -> acc + t) as sa")
    val res = graft.index.GraphIndex
      .annSearch(spark, sf001, probes, hops = 2, k = 5, seed = "ivf")
      .collect()
    assert(res.nonEmpty)
    assert(!res.exists(r => r.getLong(0) == r.getLong(2)),
      "ivf seeding leaked a (probe, probe) self pair into the ranked lists")
  }

  test("CLI body: a probes parquet (new vectors, not in the corpus) searches the frozen index") {
    val tmp = java.nio.file.Files.createTempDirectory("graft_probes").toString
    spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter("vec_id % 97 = 0")
      .selectExpr("vec_id + 5000000000 as vec_id", "embedding")
      .write.mode("overwrite").parquet(s"$tmp/p.parquet")
    val lines = Main.annSearch(spark, sf001, ids = None,
      probesFile = Some(s"$tmp/p.parquet"), hops = 2, k = 5)
    assert(lines.nonEmpty && lines.forall(_.split(" ")(0).toLong >= 5000000000L))
    // a re-crawled duplicate must surface its original at cos 1.0
    assert(lines.exists(_.endsWith("1.000000")),
      "an identical probe should find its original at cosine 1.0")
  }
}
