package graft

import graft.ingest.{Ingest, Landing}
import graft.pipeline.{PagedSource, SourcePage, SyncPipeline, SyncState}
import graft.streaming.Streaming
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

  test("an empty page persists its cursor, lands nothing and ends the run, on both sources") {
    // file flow: no file after the cursor ⇒ the page's cursor is the one
    // it was given, persisted even on a first run
    val src = tmp("empty"); val land = tmp("landempty") + "/landing"
    val state = tmp("stempty")
    val p = new SyncPipeline(spark, src, land, state)
    assert(p.syncOnce() == 0L)
    assert(Files.readString(Paths.get(state, "last_sync_date.txt")) == p.state.Epoch)
    assert(!Files.exists(Paths.get(land)))

    // paged flow: an empty page that is marked truncated still ends the
    // run; its cursor is persisted
    val land2 = tmp("landempty2") + "/landing"
    val source = new StubSource(Vector(Nil,
      Seq("""{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")))
    val q = new SyncPipeline(spark, "", land2, tmp("stempty2"))
    assert(q.syncFrom(source) == 0L)
    assert(q.state.read() == "p1")
    assert(!Files.exists(Paths.get(land2)))
    assert(q.syncFrom(source) == 1L)
    assert(q.state.read() == "p2")
  }

  test("a page returns its parsed rows, lands them deduplicated, in one shuffle") {
    val land = tmp("one") + "/landing"
    val b = """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}"""
    // chunkSize 2: a's five readings split into a main row + 3 slices;
    // b is replayed within the page. The page spools to one small file,
    // one scan split, so the pick's map-side top-1 drops the replay
    // before the exchange.
    val page = Seq(
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"R":[1,2,3,4,5]}""", b, b)
    val p = new SyncPipeline(spark, "", land, tmp("stone"), chunkSize = 2)
    val shuffled = new java.util.concurrent.atomic.AtomicLong
    val mapStages = java.util.concurrent.ConcurrentHashMap.newKeySet[Int]()
    val listener = new SparkListener {
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
        if (e.taskMetrics != null)
          shuffled.addAndGet(e.taskMetrics.shuffleWriteMetrics.recordsWritten)
        if (e.taskType == "ShuffleMapTask") mapStages.add(e.stageId)
      }
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
    // the pick's exchange only, behind its map-side top-1: exactly the
    // landed rows cross it, in one shuffle-map stage
    assert(shuffled.get == 5L)
    assert(mapStages.size == 1, s"shuffle-map stages: $mapStages")
  }

  test("an HTTP page lands through a text-file scan, one exchange, no aggregate and no sort on type") {
    import graft.plans.TopKPerKey.{FinalTopKExec, PartialTopKExec}
    import org.apache.spark.sql.execution.{FileSourceScanExec, LocalTableScanExec, SortExec, SparkPlan}
    import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
    import org.apache.spark.sql.execution.aggregate.SortAggregateExec
    import org.apache.spark.sql.execution.datasources.text.TextFileFormat
    import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.util.QueryExecutionListener
    val writes = new java.util.concurrent.CopyOnWriteArrayList[SparkPlan]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        if (qe.executedPlan.toString.contains("InsertIntoHadoopFsRelationCommand"))
          writes.add(qe.executedPlan)
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    val land = tmp("plan") + "/landing"
    val page = Seq(
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}""",
      """{"$TYPE":"V","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""")
    spark.listenerManager.register(listener)
    try {
      new SyncPipeline(spark, "", land, tmp("stplan"))
        .syncFrom(new StubSource(Vector(page)))
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    assert(writes.size == 1)
    object nodes extends AdaptiveSparkPlanHelper
    val plan = writes.get(0)
    def count(pf: PartialFunction[SparkPlan, Unit]): Int = nodes.collect(plan)(pf).size
    assert(count { case s: FileSourceScanExec
        if s.relation.fileFormat.isInstanceOf[TextFileFormat] => } == 1, plan)
    assert(count { case _: LocalTableScanExec => } == 0, plan)
    assert(count { case _: SortAggregateExec => } == 0, plan)
    assert(count { case _: ShuffleExchangeExec => } == 1, plan)
    assert(count { case _: PartialTopKExec => } == 1, plan)
    assert(count { case _: FinalTopKExec => } == 1, plan)
    // one sort, the pick's (type, id, version, chunk, ...) — the write's
    // type order rides on it
    assert(count { case _: SortExec => } == 1, plan)
    assert(count { case s: SortExec if s.sortOrder.size == 1 => } == 0, plan)
  }

  test("the in-page pick lands the least row of a PK, the row DOCUMENTS_LATEST keeps, on every lander") {
    val x = """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"x"}"""
    val y = """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"y"}"""
    import spark.implicits._
    val kept = Views.latest(Ingest.fromNdjsonLines(Seq(y, x).toDS(),
      new java.sql.Timestamp(0L), 10000)).select("data").as[String].collect().toSeq
    assert(kept.size == 1 && kept.head.contains("\"x\""))
    def landedData(land: String): Seq[String] =
      spark.read.schema(Landing.schema).parquet(land)
        .select("data").as[String].collect().toSeq
    for (page <- Seq(Seq(x, y), Seq(y, x))) {
      val paged = tmp("pickpaged") + "/landing"
      new SyncPipeline(spark, "", paged, tmp("stpickpaged"))
        .syncFrom(new StubSource(Vector(page)))
      val src = tmp("pickfile"); val filed = tmp("pickfiled") + "/landing"
      writeNdjson(src, "f001.ndjson", page: _*)
      new SyncPipeline(spark, src, filed, tmp("stpickfile")).syncOnce()
      val streamSrc = tmp("pickstream"); val streamed = tmp("pickstreamed") + "/landing"
      writeNdjson(streamSrc, "f001.ndjson", page: _*)
      Streaming.landingStream(spark, streamSrc, streamed, tmp("pickckpt"))
        .awaitTermination()
      for ((lander, land) <- Seq("syncFrom" -> paged, "syncOnce" -> filed,
          "landingStream" -> streamed))
        assert(landedData(land) == kept, s"$lander over ${page.mkString(" | ")}")
    }
  }

  test("syncFrom spools each page to the state dir and leaves no spool; a failed landing keeps the cursor") {
    val base = tmp("spool"); val land = base + "/landing"; val state = tmp("stspool")
    val spool = Paths.get(state, "page.ndjson")
    val a = """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}"""
    val b = """{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}"""
    val source = new StubSource(Vector(Seq(a)))
    val p = new SyncPipeline(spark, "", land, state)
    assert(p.syncFrom(source) == 1L)
    assert(p.state.read() == "p1")
    assert(!Files.exists(spool))

    // a regular file in place of the landing dir makes the append throw
    source.pages :+= Seq(b)
    val aside = Paths.get(base, "landing.aside")
    Files.move(Paths.get(land), aside)
    Files.writeString(Paths.get(land), "not a directory")
    intercept[Exception](p.syncFrom(source))
    assert(p.state.read() == "p1")
    assert(!Files.exists(spool))

    Files.delete(Paths.get(land))
    Files.move(aside, Paths.get(land))
    assert(p.syncFrom(source) == 1L)
    assert(p.state.read() == "p2")
    assert(!Files.exists(spool))
    assert(spark.read.schema(Landing.schema).parquet(land).select("id")
      .collect().map(_.getString(0)).sorted.toSeq == Seq("a", "b"))
  }

  // ─── the lazy catalog: created once, re-pointed by every createViews ───

  private val lazySchema = graft.model.SchemaCodec.parse(
    """{"W": {"N": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}}""")

  private def doc(id: String, version: Int, day: Int, n: String) =
    s"""{"$$TYPE":"W","DOCUMENT_ID":"$id","$$VERSION":$version,""" +
      s""""$$DATE":"2026-01-0${day}T00:00:00Z","N":"$n","M":"m$n"}"""

  private def strings(q: String): Seq[String] =
    spark.sql(q).collect().map(_.toSeq.mkString("|")).toSeq

  /** The names of the views each CREATE run by `body` created. */
  private def viewsCreated(body: => Unit): Seq[String] = {
    import org.apache.spark.sql.execution.QueryExecution
    import org.apache.spark.sql.execution.command.CreateViewCommand
    import org.apache.spark.sql.util.QueryExecutionListener
    val created = new java.util.concurrent.CopyOnWriteArrayList[String]()
    val listener = new QueryExecutionListener {
      def onSuccess(f: String, qe: QueryExecution, ns: Long): Unit =
        qe.logical.foreach {
          case c: CreateViewCommand => created.add(c.name.table)
          case _ =>
        }
      def onFailure(f: String, qe: QueryExecution, e: Exception): Unit = ()
    }
    ListenerBusDrain(spark.sparkContext)
    spark.listenerManager.register(listener)
    try {
      body
      ListenerBusDrain(spark.sparkContext)
    } finally spark.listenerManager.unregister(listener)
    created.asScala.toSeq
  }

  /** Clone one page, land a second, createViews again: every view shows
    * the second page. Returns the views the second createViews created. */
  private def catalogFollowsTheStore(): Seq[String] = {
    val source = new StubSource(Vector(Seq(doc("a", 1, 1, "a1"), doc("b", 1, 1, "b1"))))
    val p = new SyncPipeline(spark, "", tmp("lazy") + "/landing", tmp("stlazy"))
    assert(p.clone(lazySchema, Some(source)) == 2L)
    assert(strings("SELECT id, version FROM DOCUMENTS_LATEST ORDER BY id") ==
      Seq("a|1", "b|1"))
    source.pages :+= Seq(doc("a", 2, 2, "a2"), doc("c", 1, 2, "c1"))
    assert(p.syncFrom(source) == 2L)
    val created = viewsCreated {
      assert(p.createViews(lazySchema) == Seq("EXECUTE_DOCUMENTS",
        "DOCUMENTS_LATEST_ALL_VERSIONS", "DOCUMENTS_LATEST", "DOCUMENTS_HISTORY", "W"))
    }
    assert(strings("SELECT id, version FROM DOCUMENTS_LATEST ORDER BY id") ==
      Seq("a|2", "b|1", "c|1"))
    assert(strings("SELECT DOCUMENT_ID, N FROM W ORDER BY DOCUMENT_ID") ==
      Seq("a|a2", "b|b1", "c|c1"))
    assert(strings("SELECT id, version, is_current FROM DOCUMENTS_HISTORY " +
      "ORDER BY id, version") == Seq("a|1|false", "a|2|true", "b|1|true", "c|1|true"))
    created
  }

  test("after a later page, createViews shows it in the store, typed and history views") {
    catalogFollowsTheStore()
  }

  test("a second createViews with the same schema creates only EXECUTE_DOCUMENTS") {
    assert(catalogFollowsTheStore() == Seq("EXECUTE_DOCUMENTS"))
  }

  test("a schema with one more field creates the changed typed view again") {
    catalogFollowsTheStore()
    val wider = graft.model.SchemaCodec.parse(
      """{"W": {"N": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
        |"M": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}}""".stripMargin)
    val p = new SyncPipeline(spark, "", tmp("wider") + "/landing", tmp("stwider"))
    p.clone(lazySchema, Some(new StubSource(Vector(Seq(doc("a", 1, 1, "a1"))))))
    assert(viewsCreated(p.createViews(wider)) == Seq("EXECUTE_DOCUMENTS", "W"))
    assert(strings("SELECT DOCUMENT_ID, N, M FROM W") == Seq("a|a1|ma1"))
  }

  test("with analyzed plans stored for views, createViews still shows a later page") {
    val key = "spark.sql.legacy.storeAnalyzedPlanForView"
    spark.conf.set(key, "true")
    try assert(catalogFollowsTheStore() == Seq("EXECUTE_DOCUMENTS",
      "DOCUMENTS_LATEST_ALL_VERSIONS", "DOCUMENTS_LATEST", "DOCUMENTS_HISTORY", "W"))
    finally spark.conf.unset(key)
  }
}
