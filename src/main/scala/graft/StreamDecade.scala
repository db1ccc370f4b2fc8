package graft

import org.apache.spark.sql.functions._

/** Decade cells for the streaming gates (round-12 task 7): measure the
  * PER-MICRO-BATCH cost of `ingestGateStream` (the fused exact/near/
  * bloom admission gate) and the graph-insert walk (`insertEdges`, the
  * body `graphInsertStream` runs per batch) against corpora 1×/10×/100×
  * the sf0.1 bench corpus, with the BATCH HELD FIXED. The claim under
  * test is the architecture's: the stream is only ever mapped and
  * broadcast-joined (gate) or walked with a corpus-independent
  * candidate bound (insert), so per-batch cost must not scale like the
  * corpus. Standing structures (fp store, band index, NN-Descent tiers)
  * are built once per corpus OUTSIDE the timed region — they are the
  * index build a real deployment amortizes across every batch; their
  * build seconds are reported separately as `standing_sec`.
  *
  * Usage: runMain graft.StreamDecade [dir ...]
  *   (default /root/testdata/sf0.1 /tmp/sf1x10 /tmp/sf1x100) */
object StreamDecade {

  private def timeMin(reps: Int)(body: => Unit): Double =
    (1 to reps).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min

  def main(args: Array[String]): Unit = {
    val dirs = if (args.nonEmpty) args.toSeq
      else Seq("/root/testdata/sf0.1", "/tmp/sf1x10", "/tmp/sf1x100")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "16")
    val spark = EngineSession.local("graft-stream-decade", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    import graft.llm.Frag._

    // the FIXED batch, drawn once from the base corpus: 1000 docs for
    // the gate, 20 vectors for the insert walk (ids offset out of every
    // corpus's id space per graphInsertStream's disjoint-id contract)
    val baseDir = dirs.head
    val gateBatch = graft.queries.Tables.t(spark, baseDir, "documents")
      .filter("doc_id < 1000").selectExpr("doc_id + 2000000000 as doc_id", "text")
      .localCheckpoint()
    val insertBatch = graft.queries.Tables.t(spark, baseDir, "embeddings")
      .filter("vec_id % 97 = 0").limit(20)
      .selectExpr("vec_id + 2000000000 as src", "embedding as ea",
        s"${sSumSq("embedding")} as sa")
      .localCheckpoint()
    val nGate = gateBatch.count(); val nIns = insertBatch.count()

    dirs.foreach { dir =>
      val nDocs = graft.queries.Tables.t(spark, dir, "documents").count()
      // ── standing structures: built once per corpus, timed separately
      val t0 = System.nanoTime()
      val fpStore = graft.queries.Tables.t(spark, dir, "documents")
        .selectExpr(s"md5($sNorm) as fp", "doc_id")
        .groupBy("fp").agg(expr("min(doc_id) as e_of"))
        .localCheckpoint()
      val bands = graft.llm.Dedup.lshBands(spark, dir)
        .selectExpr("bi", "bh", "doc_id as e_of")
        .localCheckpoint()
      val bloom = {
        import spark.implicits._
        Seq("the quick brown fox jumps over the lazy dog").toDF("text")
      }
        .selectExpr(s"explode(${sLet(sTokens, "tk", sGrams8)}) as g")
        .selectExpr(s"${sH("g")} as h")
        .agg(expr("bloom_bits(h, 4096, 3) as bloom"))
        .localCheckpoint()
      // graph tiers: one throwaway insert forces nnd_edges + nnd_ud
      graft.index.GraphIndex.insertEdges(spark, dir,
        insertBatch.limit(1), hops = 1).count()
      val standingSec = (System.nanoTime() - t0) / 1e9
      // ── the timed per-batch legs (min of 3 — each rep is one
      // micro-batch's full plan: re-resolve statics, broadcast, map)
      val gateSec = timeMin(3) {
        graft.streaming.Streaming
          .ingestGateStream(gateBatch, fpStore, bands, bloom).count()
      }
      val insertSec = timeMin(3) {
        graft.index.GraphIndex.insertEdges(spark, dir, insertBatch, hops = 2)
          .count()
      }
      println(f"""{"dir":"$dir","corpus_docs":$nDocs,"standing_sec":$standingSec%.2f,"gate_batch":$nGate,"gate_sec":$gateSec%.3f,"insert_batch":$nIns,"insert_sec":$insertSec%.3f}""")
      graft.queries.Shared.dropAll()
      spark.catalog.clearCache()
    }
    spark.stop()
  }
}
