package graft

import java.nio.file.Files
import org.apache.spark.sql.functions.col

/** `compact_index` (round 13): the lifecycle loop closes in OPERATIONS,
  * not just in queries — one delete+insert cycle's compacted graph
  * G′ = kept ∪ repaired ∪ inserted is computed by the CLI verb's body
  * and INSTALLED as a durable tier, and a beam walk over the installed
  * copy is bit-identical to walking the in-memory compaction. Also
  * ties the edge list to x131's audit (same segments, same counts). */
class CompactIndexSpec extends SparkSpec {

  private lazy val root = Files.createTempDirectory("graft_index_ci").toString

  test("compactIndex installs G' as a durable tier; segments match x131's audit") {
    val out = Main.compactIndex(spark, corpus = sf001, indexDir = root,
      deletes = None, inserts = None, hops = 2)
    assert(out.contains("nnd_edges_compacted"), out)
    // read the installed tier back off disk
    val tierDir = Files.list(java.nio.file.Paths.get(root)).iterator().next()
    val g = spark.read.parquet(s"$tierDir/nnd_edges_compacted__v1/data.parquet")
    assert(g.columns.sorted.sameElements(Array("cos", "dst", "segment", "src")))
    // segment counts must equal x131's audit rows (n_edges per segment)
    val audit = SparkEntry.queries("x131_graph_lifecycle")(spark, sf001)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    val counts = g.groupBy("segment").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(counts == audit,
      s"installed G' disagrees with x131: tier=$counts audit=$audit")
    // structural invariants: no victim endpoint anywhere, inserted ids
    // are the +1e9 batch, per-node degree <= K on every segment
    assert(g.filter("src % 89 = 0 and src < 1000000000").count() == 0)
    assert(g.filter("dst % 89 = 0").count() == 0)
    assert(g.filter("segment = 'inserted' and src < 1000000000").count() == 0)
    val maxDeg = g.groupBy("segment", "src").count()
      .agg(org.apache.spark.sql.functions.max("count")).head().getLong(0)
    assert(maxDeg <= 10, s"a node exceeds the standing degree: $maxDeg")
  }

  test("a beam walk over the installed G' is bit-identical to walking the in-memory compaction") {
    val gDisk = spark.read.parquet(Files.list(java.nio.file.Paths.get(root))
      .iterator().next().toString + "/nnd_edges_compacted__v1/data.parquet")
      .select("src", "dst", "cos")
    val gMem = graft.index.GraphIndex.compactedEdges(spark, sf001,
        graft.index.GraphIndex.defaultVictims(spark, sf001),
        graft.index.GraphIndex.defaultInsertBatch(spark, sf001), hops = 2)
      .select("src", "dst", "cos")
    def walk(edges: org.apache.spark.sql.DataFrame): Array[String] = {
      // undirected 1-hop neighborhood walk from the surviving probes:
      // deterministic (sorted), graph-only — proves the installed copy
      // IS the graph, independent of Shared/Durable caching
      val ud = edges.select("src", "dst").unionByName(
        edges.select(col("dst").as("src"), col("src").as("dst"))).distinct()
      ud.filter("src < 8 and src % 89 != 0")
        .collect().map(r => s"${r.getLong(0)}->${r.getLong(1)}").sorted
    }
    val a = walk(gDisk); val b = walk(gMem)
    assert(a.nonEmpty && a.sameElements(b),
      s"disk walk (${a.length} edges) != memory walk (${b.length} edges)")
  }

  test("a NEXT-SESSION ann_search through the ENGINE path walks the post-cycle graph: tiers load (no rebuild) and no tombstoned id is returned") {
    // the round-13 gap: G' was installed under a side key no reader
    // resolved, so the next session walked the PRE-cycle graph. The
    // verb now installs nnd_edges/nnd_ud under the walk's own keys and
    // a tombstones tier; this drives annSearch end-to-end through
    // Durable and asserts the contract the verb's doc makes.
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    graft.queries.Durable.stats.clear()
    val probes = graft.queries.Tables.t(s2, sf001, "embeddings")
      .filter("vec_id in (1, 5, 9)")
      .selectExpr("vec_id as src", "embedding as ea",
        "aggregate(zip_with(embedding, embedding, (x, y) -> " +
          "cast(x as double) * cast(y as double)), cast(0 as double), " +
          "(acc, t) -> acc + t) as sa").localCheckpoint()
    val hits = graft.index.GraphIndex.annSearch(s2, sf001, probes,
      hops = 2, k = 10).collect()
    assert(hits.nonEmpty)
    // the default cycle tombstones vec_id % 89 == 0: none may surface
    val victims = hits.map(_.getLong(2)).filter(v =>
      v % 89 == 0 && v < 1000000000L)
    assert(victims.isEmpty,
      s"tombstoned vectors returned by the post-compaction walk: ${victims.toSeq}")
    // and the graph must have come from the installed tiers, not a rebuild
    val eg = graft.queries.Durable.stats.get("nnd_edges")
    val ud = graft.queries.Durable.stats.get("nnd_ud")
    assert(eg != null && eg._1 >= 1 && eg._2 == 0,
      s"post-cycle session rebuilt nnd_edges instead of loading: $eg")
    assert(ud != null && ud._1 >= 1 && ud._2 == 0,
      s"post-cycle session rebuilt nnd_ud instead of loading: $ud")
    // the loaded standing graph IS the compacted one: no edge touches a victim
    val g = graft.index.GraphIndex.nndescentEdges(s2, sf001, iters = 2)
    assert(g.filter("dst % 89 = 0").count() == 0,
      "engine-resolved standing graph still has edges into victims")
  }

  test("index_status lists the installed tiers with freshness (the ops-visibility verb)") {
    val lines = graft.queries.Durable.status(spark, root, sf001)
    assert(lines.head.contains("index root"), lines.head)
    val body = lines.tail.mkString("\n")
    for (t <- Seq("nnd_edges__", "nnd_ud__", "tombstones__",
        "nnd_edges_compacted__"))
      assert(body.contains(t), s"missing tier $t in:\n$body")
    // the corpus is unchanged since the install: every tier is FRESH
    assert(!body.contains("STALE"), s"unexpected stale tier:\n$body")
    // and an empty root reports cleanly instead of throwing
    val none = graft.queries.Durable.status(spark,
      java.nio.file.Files.createTempDirectory("graft_empty").toString, sf001)
    assert(none.head.startsWith("no tiers installed"), none.head)
  }
}
