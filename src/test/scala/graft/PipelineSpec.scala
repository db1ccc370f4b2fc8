package graft

import graft.ingest.Landing
import graft.pipeline.{PagedSource, SourcePage, SyncPipeline, SyncState}
import graft.views.Views
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.ListenerBusDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerTaskEnd}
import scala.jdk.CollectionConverters._
import scala.util.Using

class PipelineSpec extends SparkSpec {

  private def tmp(name: String): String = {
    val d = Files.createTempDirectory(s"graft-$name")
    d.toString
  }

  private def writeNdjson(dir: String, file: String, lines: String*): Unit =
    Files.writeString(Paths.get(dir, file), lines.mkString("\n"))

  /** Serves `pages` in order, cursor `p<n>` after page n; past the last
    * page an empty page that keeps the cursor. */
  private final class StubSource(var pages: Vector[Seq[String]]) extends PagedSource {
    def fetchPage(since: String): SourcePage = {
      val i = if (since.startsWith("p")) since.drop(1).toInt else 0
      if (i < pages.size) SourcePage(pages(i), s"p${i + 1}", i + 1 < pages.size)
      else SourcePage(Nil, since, truncated = false)
    }
  }

  private def parquetFiles(land: String): Seq[Path] =
    if (!Files.exists(Paths.get(land))) Nil
    else Using.resource(Files.walk(Paths.get(land))) { st =>
      st.iterator.asScala.filter(_.toString.endsWith(".parquet")).toVector
    }

  private val malformed = Seq(
    "not json",
    """{"$TYPE":"W","$VERSION":1}""",  // no DOCUMENT_ID
    """{"DOCUMENT_ID":"x"}""",         // no $TYPE
    """[1, 2, 3]""")

  test("cursor: missing file ⇒ epoch; force resets (S4/O3)") {
    val st = new SyncState(tmp("state"))
    assert(st.read() == "1900-01-01")
    st.write("f002.ndjson")
    assert(st.read() == "f002.ndjson")
    assert(st.read(force = true) == "1900-01-01")
  }

  test("sync pages through files, persists cursor per page, lands all docs (O1/O2)") {
    val src = tmp("src"); val land = tmp("land") + "/landing"; val state = tmp("st")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""",
      """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    writeNdjson(src, "f002.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":2,"N":"a2"}""")
    val p = new SyncPipeline(spark, src, land, state, pageFiles = 1)
    assert(p.syncOnce() == 3L)
    assert(p.state.read() == "f002.ndjson")
    // incremental: nothing new ⇒ no-op
    assert(p.syncOnce() == 0L)
    // new file arrives ⇒ only it is synced
    writeNdjson(src, "f003.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"c","$VERSION":1,"N":"c1"}""")
    assert(p.syncOnce() == 1L)
    val landing = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(landing.count() == 4)
    assert(Views.latest(landing).count() == 3) // a@2, b@1, c@1
  }

  test("clone lands everything and registers the full catalog, SQL-queryable (3.3)") {
    val src = tmp("src"); val land = tmp("land") + "/landing"; val state = tmp("st")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"$DATE":"2026-01-01T00:00:00Z","N":"a1"}""",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":2,"$DATE":"2026-01-02T00:00:00Z","N":"a2"}""",
      """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"$DATE":"2026-01-01T00:00:00Z","N":"b1"}""")
    val schema = graft.model.SchemaCodec.parse(
      """{"W": {"N": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}}""")
    val p = new SyncPipeline(spark, src, land, state)
    assert(p.clone(schema) == 3L)
    // store-level views: latest, all-versions, and the SCD2 history
    assert(spark.sql("SELECT count(*) FROM DOCUMENTS_LATEST").head.getLong(0) == 2L)
    assert(spark.sql(
      "SELECT count(*) FROM DOCUMENTS_LATEST_ALL_VERSIONS").head.getLong(0) == 3L)
    // point-in-time SQL over the registered history: at Jan 1 noon,
    // a@1 is current (superseded Jan 2) and b@1 is open-ended
    val pit = spark.sql(
      """SELECT id, version FROM DOCUMENTS_HISTORY
        |WHERE chunk = 0 AND valid_from <= timestamp'2026-01-01 12:00:00'
        |  AND (valid_to IS NULL OR valid_to > timestamp'2026-01-01 12:00:00')
        |ORDER BY id""".stripMargin).collect()
      .map(r => (r.getString(0), r.getLong(1)))
    assert(pit.toSeq == Seq(("a", 1L), ("b", 1L)))
    // typed catalog registered too: the W view projects the latest N
    val w = spark.sql("SELECT DOCUMENT_ID, N FROM W ORDER BY DOCUMENT_ID")
      .collect().map(r => (r.getString(0), r.getString(1)))
    assert(w.toSeq == Seq(("a", "a2"), ("b", "b1")))
  }

  test("replayed sync (force) is absorbed by the latest view; prune compacts") {
    val src = tmp("src2"); val land = tmp("land2") + "/landing"; val state = tmp("st2")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""")
    val p = new SyncPipeline(spark, src, land, state)
    p.syncOnce()
    Thread.sleep(5) // distinct batch_date for the replay
    p.syncOnce(force = true) // full re-sync: same doc lands twice
    val landing = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(landing.count() == 2)
    assert(Views.latest(landing).count() == 1)
    p.prune()
    val pruned = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(pruned.count() == 1) // only the newest batch copy remains
  }

  test("compact rewrites the store without losing rows") {
    val src = tmp("src3"); val land = tmp("land3") + "/landing"; val state = tmp("st3")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""",
      """{"$TYPE":"X","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    val p = new SyncPipeline(spark, src, land, state)
    p.syncOnce()
    writeNdjson(src, "f002.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"c","$VERSION":1,"N":"c1"}""")
    p.syncOnce() // second append ⇒ more small files
    p.compact(targetFileMB = 128)
    val after = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(after.count() == 3)
    assert(after.select("type").distinct().count() == 2)
  }

  test("in-session rewrite invalidates memoized table and stage caches") {
    import graft.queries.{Shared, Tables}
    val src = tmp("src4"); val base = tmp("land4")
    val land = base + "/landing.parquet"; val state = tmp("st4")
    writeNdjson(src, "f001.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""")
    val p = new SyncPipeline(spark, src, land, state)
    p.syncOnce()
    // memoize both tiers over the landing table
    assert(Tables.t(spark, base, "landing").count() == 1)
    assert(Shared.shared(spark, base, "spec_stale") {
      Tables.t(spark, base, "landing")
    }.count() == 1)
    // a new page appends through Ingest.appendBatch, which must evict
    // both tiers: the next reads re-list the directory
    writeNdjson(src, "f002.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    p.syncOnce()
    assert(Tables.t(spark, base, "landing").count() == 2)
    assert(Shared.shared(spark, base, "spec_stale") {
      Tables.t(spark, base, "landing")
    }.count() == 2)
    // prune swaps the files in place; a pinned listing would now point
    // at deleted files — the re-resolved read sees the compacted store
    Thread.sleep(5)
    p.syncOnce(force = true) // replay: 4 physical rows
    p.prune()
    assert(Tables.t(spark, base, "landing").count() == 2)
  }

  test("a page of only malformed lines: returns 0, advances the cursor, writes no data file") {
    // file flow: a malformed page, then an empty file
    val src = tmp("bad"); val land = tmp("landbad") + "/landing"; val state = tmp("stbad")
    writeNdjson(src, "f001.ndjson", malformed: _*)
    writeNdjson(src, "f002.ndjson")
    val p = new SyncPipeline(spark, src, land, state, pageFiles = 1)
    assert(p.syncOnce() == 0L)
    assert(p.state.read() == "f002.ndjson")
    assert(parquetFiles(land).isEmpty)
    writeNdjson(src, "f003.ndjson",
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""")
    assert(p.syncOnce() == 1L)
    assert(spark.read.schema(Landing.schema).parquet(land).count() == 1)

    // paged flow: the same page through a stub source
    val land2 = tmp("landbad2") + "/landing"
    val source = new StubSource(Vector(malformed))
    val q = new SyncPipeline(spark, "", land2, tmp("stbad2"))
    assert(q.syncFrom(source) == 0L)
    assert(q.state.read() == "p1")
    assert(parquetFiles(land2).isEmpty)
    source.pages :+= Seq("""{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    assert(q.syncFrom(source) == 1L)
    assert(q.state.read() == "p2")
    val landed = spark.read.schema(Landing.schema).parquet(land2)
    assert(landed.select("id").collect().map(_.getString(0)).toSeq == Seq("b"))
  }

  test("a page returns its parsed rows, lands them deduplicated, in one shuffle") {
    val land = tmp("one") + "/landing"
    val b = """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}"""
    // chunkSize 2: a's five readings split into a main row + 3 slices;
    // b is replayed within the page. One line per scan partition (3
    // lines, local[4]), so no map-side combine merges the replay.
    val page = Seq(
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"R":[1,2,3,4,5]}""", b, b)
    val p = new SyncPipeline(spark, "", land, tmp("stone"), chunkSize = 2)
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit =
        if (e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
    }
    ListenerBusDrain(spark.sparkContext)
    spark.sparkContext.addSparkListener(listener)
    val parsed =
      try {
        val n = p.syncFrom(new StubSource(Vector(page)))
        ListenerBusDrain(spark.sparkContext)
        n
      } finally spark.sparkContext.removeSparkListener(listener)
    assert(parsed == 6L, "4 rows of a + 2 copies of b, before the dedup")
    val landed = spark.read.schema(Landing.schema).parquet(land)
    assert(landed.count() == 5L)
    assert(landed.filter("id = 'a'").select("chunk").collect()
      .map(_.getInt(0)).sorted.toSeq == Seq(0, 1, 2, 3))
    // the dedup's exchange only: every parsed row crosses it once
    assert(shuffled.get == parsed)
  }
}
