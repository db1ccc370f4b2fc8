package graft

import graft.streaming.Streaming
import graft.streaming.Streaming.{Evt, Session}
import graft.views.Views
import java.nio.file.{Files, Paths}
import java.sql.Timestamp

class StreamingSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)

  test("landingStream ingests NDJSON files exactly-once and replays dedup downstream") {
    val src = Files.createTempDirectory("graft-stream-src").toString
    val land = Files.createTempDirectory("graft-stream-land").toString + "/landing"
    val ckpt = Files.createTempDirectory("graft-stream-ckpt").toString
    Files.writeString(Paths.get(src, "f001.ndjson"),
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}
        |{"$TYPE":"W","DOCUMENT_ID":"b","$VERSION":1,"N":"b1"}""".stripMargin)
    Streaming.landingStream(spark, src, land, ckpt).awaitTermination()
    val first = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(first.count() == 2)

    // second file arrives; restart processes ONLY the new file
    Files.writeString(Paths.get(src, "f002.ndjson"),
      """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":2,"N":"a2"}""")
    Streaming.landingStream(spark, src, land, ckpt).awaitTermination()
    val landing = spark.read.schema(graft.ingest.Landing.schema).parquet(land)
    assert(landing.count() == 3) // no re-ingest of f001
    assert(Views.latest(landing).count() == 2) // a@2, b@1
  }

  test("landingStream lands an in-page replay once, as a sync page does") {
    val src = Files.createTempDirectory("graft-stream-replay-src").toString
    val land = Files.createTempDirectory("graft-stream-replay-land").toString + "/landing"
    val ckpt = Files.createTempDirectory("graft-stream-replay-ckpt").toString
    val a = """{"$TYPE":"W","DOCUMENT_ID":"a","$VERSION":1,"N":"a1"}"""
    Files.writeString(Paths.get(src, "f001.ndjson"), Seq(a, a).mkString("\n"))
    Streaming.landingStream(spark, src, land, ckpt).awaitTermination()
    assert(spark.read.schema(graft.ingest.Landing.schema).parquet(land).count() == 1)
  }

  test("windowedEventStats aggregates tumbling windows (batch-mode parity)") {
    import spark.implicits._
    val events = Seq(
      (ts("2026-01-01 10:05:00"), "click", 1.0),
      (ts("2026-01-01 10:55:00"), "click", 2.0),
      (ts("2026-01-01 11:05:00"), "click", 4.0),
      (ts("2026-01-01 10:30:00"), "view", 8.0),
    ).toDF("ts", "event_type", "value")
    val out = Streaming.windowedEventStats(events).collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[String]("event_type"),
        r.getAs[Long]("n"), r.getAs[Double]("total_value"))).toSet
    assert(out == Set(
      (ts("2026-01-01 10:00:00"), "click", 2L, 3.0),
      (ts("2026-01-01 11:00:00"), "click", 1L, 4.0),
      (ts("2026-01-01 10:00:00"), "view", 1L, 8.0)))
  }

  test("dedupWithinWatermark drops replayed landings; state stays watermark-bounded") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // (date, type, id, version, chunk, data)
    val mem = MemoryStream[(Timestamp, String, String, Long, Int, String)]
    val q = Streaming.dedupWithinWatermark(
      mem.toDS().toDF("date", "type", "id", "version", "chunk", "data"),
      watermark = "1 hour")
      .writeStream.format("memory").queryName("deduped")
      .outputMode("append").start()
    mem.addData(
      (ts("2026-01-01 10:00:00"), "W", "a", 1L, 0, "a1"),
      (ts("2026-01-01 10:00:00"), "W", "a", 1L, 0, "a1"), // same-batch replay
      (ts("2026-01-01 10:00:00"), "W", "b", 1L, 0, "b1"))
    q.processAllAvailable()
    mem.addData((ts("2026-01-01 10:20:00"), "W", "a", 1L, 0, "a1")) // replay within horizon
    mem.addData((ts("2026-01-01 10:20:00"), "W", "a", 2L, 0, "a2")) // new version passes
    q.processAllAvailable()
    val out = spark.table("deduped").collect()
      .map(r => (r.getAs[String]("id"), r.getAs[Long]("version")))
    assert(out.sorted.toSeq == Seq(("a", 1L), ("a", 2L), ("b", 1L)))
    q.stop()
  }

  test("scrubStream flags contaminated docs map-side against a static bloom") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Frag._
    val banned = "the quick brown fox jumps over the lazy dog tonight" // 9+ tokens
    // static side: bloom over the banned text's 8-grams
    val bloom = Seq(banned).toDF("text")
      .selectExpr(s"explode(${sLet(sTokens, "tk", sGrams8)}) as g")
      .selectExpr(s"${sH("g")} as h")
      .agg(org.apache.spark.sql.functions.expr("bloom_bits(h, 4096, 3) as bloom"))
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.scrubStream(mem.toDS().toDF("doc_id", "text"), bloom)
      .writeStream.format("memory").queryName("scrubbed")
      .outputMode("append").start()
    mem.addData(
      (1L, banned + " and more words follow here"), // contains banned 8-grams
      (2L, "completely unrelated text with enough tokens to form many eight grams easily"),
      (3L, "short")) // < 8 tokens → no grams
    q.processAllAvailable()
    val out = spark.table("scrubbed").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        (r.getAs[Long]("n_grams"), r.getAs[Long]("n_flagged"), r.getAs[Boolean]("flagged"))).toMap
    assert(out(1L)._3, "doc sharing the banned 8-grams must be flagged")
    assert(out(1L)._2 > 0)
    assert(!out(2L)._3, s"clean doc wrongly flagged: ${out(2L)}")
    assert(out(3L) == ((0L, 0L, false)))
    q.stop()
  }

  test("dedupGateStream: exact verdicts against the standing fp store, map-side") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Frag._
    // standing store: fingerprints of two base docs (min doc_id per fp)
    val store = Seq((10L, "The quick   brown fox"), (11L, "another document"))
      .toDF("doc_id", "text")
      .selectExpr(s"md5($sNorm) as fp", "doc_id as e_of")
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.dedupGateStream(mem.toDS().toDF("doc_id", "text"), store)
      .writeStream.format("memory").queryName("dedupgate")
      .outputMode("append").start()
    mem.addData(
      (100L, "the  QUICK brown   fox "), // normalizes to base 10 → exact
      (101L, "another document"),        // verbatim re-crawl of 11 → exact
      (102L, "a genuinely new document"))
    q.processAllAvailable()
    val out = spark.table("dedupgate").collect()
      .map(r => r.getAs[Long]("doc_id") ->
        ((r.getAs[String]("verdict"), r.getAs[Long]("dup_of")))).toMap
    assert(out(100L) == (("exact", 10L)), s"got ${out(100L)}")
    assert(out(101L) == (("exact", 11L)), s"got ${out(101L)}")
    assert(out(102L) == (("new", -1L)), s"got ${out(102L)}")
    q.stop()
    // no stream shuffle: the same gate over a batch frame (identical
    // plan builder) must be a broadcast join with zero hash exchanges
    val plan = Streaming.dedupGateStream(
        Seq((1L, "x")).toDF("doc_id", "text"), store)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin") &&
      !plan.contains("Exchange hashpartitioning"),
      s"dedup gate must probe the store map-side:\n$plan")
  }

  test("nearDupGateStream: banding candidates map-side against the standing index") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val bands = graft.llm.Dedup.lshBands(spark, sf001)
      .selectExpr("bi", "bh", "doc_id as e_of")
    // pick a real corpus doc: its verbatim re-crawl must share ALL its
    // bands; expected dup_hint = least over its buckets' min reps
    val base = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "text").filter("doc_id = 0").collect().head
    val idx = bands.collect()
      .map(r => (r.getInt(0), r.getLong(1)) -> r.getLong(2))
      .groupBy(_._1).map { case (k, vs) => k -> vs.map(_._2).min }
    val myBuckets = graft.llm.Dedup.lshBands(spark, sf001)
      .filter(s"doc_id = ${base.getLong(0)}").collect()
      .map(r => (r.getInt(1), r.getLong(2)))
    val expectedHint = myBuckets.map(idx).min
    val probe = Seq(
      (1000L, base.getString(1)),                     // verbatim re-crawl
      (1001L, "zq xv wk jn pf dr tm bh ls cg novel"), // gibberish, novel shingles
      (1002L, "too short"))                           // < 3 tokens → no shingles
    // batch-mode pass through the SAME builder (plans identically)
    val batchOut = Streaming.nearDupGateStream(
        probe.toDF("doc_id", "text"), bands).collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    assert(batchOut(1000L) == ((true, expectedHint)), s"got ${batchOut(1000L)}")
    assert(batchOut(1001L) == ((false, -1L)), s"got ${batchOut(1001L)}")
    assert(batchOut(1002L) == ((false, -1L)), s"got ${batchOut(1002L)}")
    // streaming pass must agree row-for-row
    val mem = MemoryStream[(Long, String)]
    val q = Streaming.nearDupGateStream(mem.toDS().toDF("doc_id", "text"), bands)
      .writeStream.format("memory").queryName("neargate")
      .outputMode("append").start()
    mem.addData(probe: _*)
    q.processAllAvailable()
    val streamOut = spark.table("neargate").collect()
      .map(r => r.getLong(0) -> ((r.getBoolean(2), r.getLong(3)))).toMap
    q.stop()
    assert(streamOut == batchOut, s"stream $streamOut != batch $batchOut")
    // map-side: the gate over a batch frame must be broadcast joins
    // with zero hash exchanges on the stream side
    val plan = Streaming.nearDupGateStream(probe.toDF("doc_id", "text"), bands)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"gate must probe the index map-side:\n$plan")
  }

  test("stream-stream interval join matches views in the window; outer row after watermark") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    val pMem = MemoryStream[(Long, Timestamp, Long)] // user, ts, purchase id
    val vMem = MemoryStream[(Long, Timestamp)]       // user, ts
    val q = Streaming.purchaseViewJoin(
      pMem.toDS().toDF("p_user", "p_ts", "p_id"),
      vMem.toDS().toDF("v_user", "v_ts"))
      .writeStream.format("memory").queryName("ssjoin")
      .outputMode("append").start()
    vMem.addData((7L, ts("2026-01-01 10:05:00")))       // in window for p1
    vMem.addData((7L, ts("2026-01-01 09:30:00")))       // too old for p1
    pMem.addData((7L, ts("2026-01-01 10:10:00"), 1L))   // purchase p1
    pMem.addData((8L, ts("2026-01-01 10:10:00"), 2L))   // no views at all
    q.processAllAvailable()
    // advance both watermarks far past the join window so p2's no-match
    // outer row can be emitted
    vMem.addData((99L, ts("2026-01-01 12:00:00")))
    pMem.addData((99L, ts("2026-01-01 12:00:00"), 9L))
    q.processAllAvailable()
    val out = spark.table("ssjoin").collect()
      .map(r => (r.getAs[Long]("p_id"),
        Option(r.getAs[Timestamp]("v_ts")).map(_.toString).orNull))
    assert(out.contains((1L, "2026-01-01 10:05:00.0"))) // matched in-window view
    assert(!out.contains((1L, "2026-01-01 09:30:00.0"))) // stale view not joined
    assert(out.contains((2L, null))) // outer row emitted post-watermark
    q.stop()
  }

  test("watermark drops events later than the threshold in streaming mode") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String, Double)]
    val q = Streaming.windowedEventStats(
      mem.toDS().toDF("ts", "event_type", "value"),
      watermark = "10 minutes", windowLen = "1 hour")
      .writeStream.format("memory").queryName("wstats")
      .outputMode("append").start()
    // advance event time to 12:00 ⇒ watermark 11:50 ⇒ the 10:00 window closes
    mem.addData((ts("2026-01-01 10:05:00"), "click", 1.0))
    q.processAllAvailable()
    mem.addData((ts("2026-01-01 12:00:00"), "click", 2.0))
    q.processAllAvailable()
    // this event is far behind the watermark — must be dropped
    mem.addData((ts("2026-01-01 10:10:00"), "click", 100.0))
    q.processAllAvailable()
    mem.addData((ts("2026-01-01 14:00:00"), "click", 4.0)) // close 12:00 window
    q.processAllAvailable()
    val out = spark.table("wstats").collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[Long]("n"),
        r.getAs[Double]("total_value"))).toSet
    assert(out.contains((ts("2026-01-01 10:00:00"), 1L, 1.0))) // late 100.0 NOT counted
    assert(out.contains((ts("2026-01-01 12:00:00"), 1L, 2.0)))
    q.stop()
  }

  test("windowed heavy hitters: SpaceSaving sketch inside streaming state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[(Timestamp, String)]
    val q = Streaming.windowedTopTokens(
        mem.toDS().toDF("ts", "text"),
        watermark = "10 minutes", windowLen = "1 hour", k = 2)
      .writeStream.format("memory").queryName("wtoks")
      .outputMode("append").start()
    // two micro-batches into the same window: the sketch buffers must
    // merge across batches before the window closes
    mem.addData((ts("2026-01-01 10:05:00"), "alpha alpha beta"))
    q.processAllAvailable()
    mem.addData((ts("2026-01-01 10:20:00"), "alpha beta gamma"))
    q.processAllAvailable()
    mem.addData((ts("2026-01-01 12:00:00"), "omega")) // watermark closes 10:00
    q.processAllAvailable()
    mem.addData((ts("2026-01-01 14:00:00"), "omega")) // closes 12:00
    q.processAllAvailable()
    val out = spark.table("wtoks").collect()
      .map(r => (r.getAs[Timestamp]("window_start"), r.getAs[Long]("rank"),
        r.getAs[String]("token"), r.getAs[Long]("n"))).toSet
    // capacity 64 >> vocab ⇒ counts exact: alpha×3, beta×2 lead hour 10
    assert(out.contains((ts("2026-01-01 10:00:00"), 0L, "alpha", 3L)))
    assert(out.contains((ts("2026-01-01 10:00:00"), 1L, "beta", 2L)))
    assert(out.contains((ts("2026-01-01 12:00:00"), 0L, "omega", 1L)))
    q.stop()
  }

  test("stream-static enrichment broadcasts the dimension; no stream state") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val dim = Seq((1L, "gold"), (2L, "basic")).toDF("user_id", "segment")
    val mem = MemoryStream[(Long, Timestamp, String, Double)]
    val q = Streaming.enrichEvents(
        mem.toDS().toDF("user_id", "ts", "event_type", "value"), dim)
      .writeStream.format("memory").queryName("enriched")
      .outputMode("append").start()
    mem.addData((1L, ts("2026-01-01 10:00:00"), "click", 1.0),
      (3L, ts("2026-01-01 10:01:00"), "view", 2.0))
    q.processAllAvailable()
    val out = spark.table("enriched").collect()
      .map(r => (r.getAs[Long]("user_id"), r.getAs[String]("segment"))).toSet
    assert(out == Set((1L, "gold"), (3L, null))) // left join keeps dim-less keys
    q.stop()
  }

  test("sessionize splits on the inactivity gap and carries state across batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[Evt]
    val q = Streaming.sessionize(mem.toDS(), gapMs = 10 * 60 * 1000L)
      .writeStream.format("memory").queryName("sessions")
      .outputMode("append").start()
    // batch 1: one burst for u1 (no session emitted yet — still open)
    mem.addData(
      Evt(1, ts("2026-01-01 10:00:00"), 1.0),
      Evt(1, ts("2026-01-01 10:05:00"), 2.0))
    q.processAllAvailable()
    assert(spark.table("sessions").count() == 0)
    // batch 2: u1 returns after a 50-min gap ⇒ first session closes
    mem.addData(Evt(1, ts("2026-01-01 10:55:00"), 4.0))
    q.processAllAvailable()
    val closed = spark.table("sessions").as[Session].collect()
    assert(closed.length == 1)
    assert(closed.head.n_events == 2L && closed.head.total_value == 3.0)
    assert(closed.head.start == ts("2026-01-01 10:00:00"))
    assert(closed.head.end == ts("2026-01-01 10:05:00"))
    q.stop()
  }

  test("latestState maintains the R2 view incrementally; replays never emit") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming.{DocVersion, LatestDoc}
    implicit val sqlCtx = spark.sqlContext
    val mem = MemoryStream[DocVersion]
    val q = Streaming.latestState(mem.toDS())
      .writeStream.format("memory").queryName("latest_docs")
      .outputMode("update").start()
    mem.addData(DocVersion("W", "a", 1, ts("2026-01-01 00:00:00"), false))
    q.processAllAvailable()
    assert(spark.table("latest_docs").as[LatestDoc].collect().toSeq ==
      Seq(LatestDoc("W", "a", 1, false)))
    // v2 arrives + v1 replay: exactly one update row (v2), replay absorbed
    mem.addData(
      DocVersion("W", "a", 2, ts("2026-01-02 00:00:00"), true),
      DocVersion("W", "a", 1, ts("2026-01-02 00:00:00"), false))
    q.processAllAvailable()
    val rows = spark.table("latest_docs").as[LatestDoc].collect()
    assert(rows.count(_.version == 2L) == 1)
    assert(rows.length == 2) // initial v1 emit + the v2 update, nothing else
    // pure replay of v1 ⇒ no new emission
    mem.addData(DocVersion("W", "a", 1, ts("2026-01-03 00:00:00"), false))
    q.processAllAvailable()
    assert(spark.table("latest_docs").count() == 2)
    q.stop()
  }

  test("finalSessions closes open sessions in batch mode") {
    import spark.implicits._
    val evts = Seq(
      Evt(1, ts("2026-01-01 10:00:00"), 1.0),
      Evt(1, ts("2026-01-01 10:05:00"), 2.0),
      Evt(1, ts("2026-01-01 11:00:00"), 4.0),
      Evt(2, ts("2026-01-01 09:00:00"), 8.0)).toDS()
    val out = Streaming.finalSessions(evts, gapMs = 10 * 60 * 1000L)
      .collect().sortBy(s => (s.user_id, s.start.getTime))
    assert(out.length == 3)
    assert(out(0) == Session(1, ts("2026-01-01 10:00:00"), ts("2026-01-01 10:05:00"), 2, 3.0))
    assert(out(1) == Session(1, ts("2026-01-01 11:00:00"), ts("2026-01-01 11:00:00"), 1, 4.0))
    assert(out(2) == Session(2, ts("2026-01-01 09:00:00"), ts("2026-01-01 09:00:00"), 1, 8.0))
  }

  test("dailySnapshots emits one as-of row per crossed day boundary, exactly once") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming.Snapshot
    implicit val sqlCtx = spark.sqlContext
    val dayMs = 86400000L
    def floor(t: Timestamp) = math.floorDiv(t.getTime, dayMs) * dayMs
    val t1 = ts("2026-01-01 10:00:00")
    val t2 = ts("2026-01-03 09:00:00") // crosses 2 boundaries
    val t3 = ts("2026-01-03 11:00:00") // same day: no boundary
    val t4 = ts("2026-01-04 01:00:00") // crosses 1 more
    val mem = MemoryStream[Evt]
    val q = Streaming.dailySnapshots(mem.toDS())
      .writeStream.format("memory").queryName("snaps")
      .outputMode("append").start()
    mem.addData(Evt(1, t1, 5.0))
    q.processAllAvailable()
    assert(spark.table("snaps").count() == 0) // first day still open
    mem.addData(Evt(1, t2, 7.0), Evt(1, t3, 9.0))
    q.processAllAvailable()
    val afterB2 = spark.table("snaps").as[Snapshot].collect().sortBy(_.day.getTime)
    // two boundaries closed, both carrying the value from before them
    assert(afterB2.length == 2)
    assert(afterB2.map(_.day.getTime).toSeq ==
      Seq(floor(t1) + dayMs, floor(t1) + 2 * dayMs))
    assert(afterB2.forall(_.v_asof == 5.0))
    // batch 3: one more boundary; value as-of is t3's reading. A replay
    // of t2 in the same batch must not re-emit already-closed days.
    mem.addData(Evt(1, t4, 11.0), Evt(1, t2, 7.0))
    q.processAllAvailable()
    val all = spark.table("snaps").as[Snapshot].collect().sortBy(_.day.getTime)
    assert(all.length == 3)
    assert(all.last.day.getTime == floor(t4))
    assert(all.last.v_asof == 9.0)
    q.stop()
  }

  test("ewmaSmooth matches the r65 exact-decimal fold across micro-batches") {
    import spark.implicits._
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import graft.streaming.Streaming.EwmaPoint
    implicit val sqlCtx = spark.sqlContext
    val w8 = BigDecimal("0.8")
    def round6(x: Double) =
      BigDecimal(x).setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    // 14 in-order readings for one user crossing the 10-deep window,
    // plus a second user interleaved (state isolation)
    val vals = Seq(5.0, 7.25, 3.125, 9.0, 2.5, 8.875, 1.0, 6.5, 4.75,
      10.125, 0.625, 7.0, 3.5, 11.25)
    val evts = vals.zipWithIndex.map { case (v, i) =>
      Evt(1, ts(f"2026-01-01 10:${i}%02d:00"), v)
    } ++ Seq(Evt(2, ts("2026-01-01 10:05:30"), 100.0))
    val mem = MemoryStream[Evt]
    val q = Streaming.ewmaSmooth(mem.toDS())
      .writeStream.format("memory").queryName("ewma")
      .outputMode("append").start()
    mem.addData(evts.take(6): _*)
    q.processAllAvailable()
    mem.addData(evts.drop(6): _*)
    q.processAllAvailable()
    val got = spark.table("ewma").as[EwmaPoint].collect()
      .filter(_.user_id == 1).sortBy(_.ts.getTime)
    assert(got.length == vals.length)
    vals.indices.foreach { i =>
      val frame = vals.slice(math.max(0, i - 9), i + 1)
      val m = frame.length
      val num = frame.zipWithIndex.map { case (v, j) =>
        BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
          w8.pow(m - 1 - j)
      }.sum
      val den = (0 until m).map(w8.pow).sum
      assert(got(i).ewma10 == round6(num.toDouble / den.toDouble),
        s"point $i")
    }
    val u2 = spark.table("ewma").as[EwmaPoint].collect().filter(_.user_id == 2)
    assert(u2.length == 1 && u2.head.ewma10 == 100.0)
    q.stop()
  }
  test("landing stream recovers from a mid-run kill: restart from the " +
      "checkpoint lands every file exactly once (after R1)") {
    import org.apache.spark.sql.streaming.Trigger
    val src = Files.createTempDirectory("graft-ckpt-src").toString
    val land = Files.createTempDirectory("graft-ckpt-land").toString + "/landing"
    val ckpt = Files.createTempDirectory("graft-ckpt-ck").toString
    val refLand = Files.createTempDirectory("graft-ckpt-ref").toString + "/landing"
    val refCkpt = Files.createTempDirectory("graft-ckpt-refck").toString
    // 20 files; file i lands d_i@v1 and (for i>0) d_{i-1}@v2, so
    // versions interleave across files and R1/R2 must do real work
    val nFiles = 20
    for (i <- 0 until nFiles) {
      val lines = new StringBuilder(
        s"""{"$$TYPE":"W","DOCUMENT_ID":"d$i","$$VERSION":1,"N":"v1-$i"}""")
      if (i > 0) lines.append("\n").append(
        s"""{"$$TYPE":"W","DOCUMENT_ID":"d${i - 1}","$$VERSION":2,"N":"v2-${i - 1}"}""")
      Files.writeString(Paths.get(src, f"f$i%03d.ndjson"), lines.toString)
    }
    // run 1: one file per micro-batch on a short processing-time
    // trigger, KILLED as soon as a couple of batches have committed —
    // the crash arrives mid-stream, with most files unprocessed
    val q1 = Streaming.landingStream(spark, src, land, ckpt,
      trigger = Trigger.ProcessingTime("50 milliseconds"),
      maxFilesPerTrigger = Some(1))
    val deadline = System.currentTimeMillis() + 120000
    while (q1.recentProgress.count(_.numInputRows > 0) < 2 &&
        System.currentTimeMillis() < deadline)
      Thread.sleep(10)
    q1.stop()
    q1.awaitTermination()
    val n1 = spark.read.schema(graft.ingest.Landing.schema).parquet(land).count()
    assert(n1 > 0 && n1 < 2L * nFiles - 1,
      s"run 1 must die mid-stream, not after draining (landed $n1)")

    // run 2: restart from the SAME checkpoint — the offset log is the
    // cursor (S4/O2); AvailableNow drains exactly the unseen files
    Streaming.landingStream(spark, src, land, ckpt).awaitTermination()

    // single-run reference: same files, fresh store, never killed
    Streaming.landingStream(spark, src, refLand, refCkpt).awaitTermination()

    def latestSet(path: String) =
      Views.latest(spark.read.schema(graft.ingest.Landing.schema).parquet(path))
        .selectExpr("type", "id", "version", "deleted", "data")
        .collect().map(_.toSeq).toSet
    val got = latestSet(land)
    assert(got == latestSet(refLand),
      "restarted store must equal the single-run store after R1")
    assert(got.size == nFiles) // every doc exactly once, at its max version
    // at-least-once bound: a batch replay may duplicate landing rows
    // (absorbed by R1 above) but can never lose one
    val raw = spark.read.schema(graft.ingest.Landing.schema).parquet(land).count()
    assert(raw >= 2L * nFiles - 1)
  }

  test("ingestGateStream: the three gates fuse into one map-side pass " +
      "with exact > near > contaminated > admit routing, stream ≡ batch") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    import graft.llm.Frag._
    // standing structures over the real sf0.001 corpus
    // materialized standing store (a real deployment reads it back from
    // its landing table, so the gate's plan contains no store-build
    // aggregation — mirror that here)
    val fpStore = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr(s"md5($sNorm) as fp", "doc_id")
      .groupBy("fp").agg(org.apache.spark.sql.functions.expr("min(doc_id) as e_of"))
      .collect().map(r => (r.getString(0), r.getLong(1))).toSeq
      .toDF("fp", "e_of")
    val bands = graft.llm.Dedup.lshBands(spark, sf001)
      .selectExpr("bi", "bh", "doc_id as e_of")
    val banned = "the quick brown fox jumps over the lazy dog tonight"
    val bloom = Seq(banned).toDF("text")
      .selectExpr(s"explode(${sLet(sTokens, "tk", sGrams8)}) as g")
      .selectExpr(s"${sH("g")} as h")
      .agg(org.apache.spark.sql.functions.expr("bloom_bits(h, 4096, 3) as bloom"))
    val base = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", "text").filter("doc_id = 0").collect().head
    val probe = Seq(
      (1000L, base.getString(1)), // verbatim re-crawl → exact (beats near)
      (1001L, banned + " plus fresh trailing words"), // bloom hit → contaminated
      (1002L, "zq xv wk jn pf dr tm bh ls cg novel"), // novel → admit
      (1003L, "too short")) // no grams, no shingles → admit
    def run(df: org.apache.spark.sql.DataFrame) =
      Streaming.ingestGateStream(df, fpStore, bands, bloom)
    val batchOut = run(probe.toDF("doc_id", "text")).collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    assert(batchOut(1000L)._1 == "exact", s"got ${batchOut(1000L)}")
    assert(batchOut(1000L)._2 == 0L, "exact route must carry the store rep")
    assert(batchOut(1001L)._1 == "contaminated", s"got ${batchOut(1001L)}")
    assert(batchOut(1002L) == (("admit", -1L)), s"got ${batchOut(1002L)}")
    assert(batchOut(1003L) == (("admit", -1L)), s"got ${batchOut(1003L)}")
    // streaming pass through the same builder must agree row-for-row
    val mem = MemoryStream[(Long, String)]
    val q = run(mem.toDS().toDF("doc_id", "text"))
      .writeStream.format("memory").queryName("ingestgate")
      .outputMode("append").start()
    mem.addData(probe: _*)
    q.processAllAvailable()
    val streamOut = spark.table("ingestgate").collect()
      .map(r => r.getLong(0) -> ((r.getString(2), r.getLong(3)))).toMap
    q.stop()
    assert(streamOut == batchOut, s"stream $streamOut != batch $batchOut")
    // one map-side pass: all five standing-structure probes (fp + 4
    // bands) are broadcast joins, the bloom is a broadcast nested loop,
    // and nothing sort-merges — the only exchanges are the static
    // band-index reductions, never the stream
    val plan = run(probe.toDF("doc_id", "text"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"standing-structure probes must broadcast:\n$plan")
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"bloom must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin") &&
      !plan.contains("ShuffledHashJoin"),
      s"fused gate must stay map-side:\n$plan")
  }

  test("semanticGateStream: in-row max-cosine verdicts, closed form") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    def unit(i: Int): Array[Float] =
      Array.tabulate(64)(j => if (j == i) 1.0f else 0.0f)
    // eval matrix: e0 along axis 0, e1 along axis 1
    val evalVecs = Seq(Tuple1(unit(0)), Tuple1(unit(1))).toDF("embedding")
    val diag = Array.tabulate(64)(j =>
      if (j == 0 || j == 1) 1.0f else 0.0f) // cos 1/sqrt(2) to both
    val faint = Array.tabulate(64)(j =>
      if (j == 0) 1.0f else if (j < 10) 2.0f else 0.0f) // max cos: 2/sqrt(37) to e1
    val mem = MemoryStream[(Long, Array[Float])]
    val q = Streaming.semanticGateStream(
        mem.toDS().toDF("vec_id", "embedding"), evalVecs)
      .writeStream.format("memory").queryName("semgate")
      .outputMode("append").start()
    mem.addData(
      (1L, unit(0).map(_ * 3f)), // scaled copy of e0 → cos 1, leaked
      (2L, unit(5)),             // orthogonal to both → cos 0, clean
      (3L, diag),                // 0.707107 → leaked
      (4L, faint))               // 0.164399 → clean
    q.processAllAvailable()
    val out = spark.table("semgate").collect()
      .map(r => r.getLong(0) -> ((r.getDouble(1), r.getBoolean(2)))).toMap
    q.stop()
    assert(out(1L) == ((1.0, true)), s"got ${out(1L)}")
    assert(out(2L) == ((0.0, false)), s"got ${out(2L)}")
    assert(out(3L) == ((0.707107, true)), s"got ${out(3L)}")
    assert(out(4L) == ((0.328798, false)), s"got ${out(4L)}")
  }

  test("semanticGateStream: recall-complete superset of batch x114, map-side plan") {
    // batch x114 flags train vectors via banded candidates (recall < 1);
    // the gate checks EVERY eval vector, so over the same corpus and
    // eval slice its leaked set must contain x114's, with max_eval_cos
    // >= x114's candidate-limited max, at the same 6-dp operating point
    val evalPred = "vec_id % 50 = 0 and vec_id < 4000"
    val emb = graft.queries.Tables.t(spark, sf001, "embeddings")
    val gate = Streaming.semanticGateStream(
        emb.filter(s"not ($evalPred)").select("vec_id", "embedding"),
        emb.filter(evalPred).select("embedding"))
      .collect().map(r => r.getLong(0) -> r.getDouble(1)).toMap
    val x114 = SparkEntry.queries("x114_semantic_decontam")(spark, sf001)
      .collect().map(r => r.getLong(0) -> r.getAs[Double]("max_cos")).toMap
    assert(x114.nonEmpty, "fixture must exercise x114")
    x114.foreach { case (id, mc) =>
      assert(gate(id) >= 0.4, s"gate missed x114-flagged train doc $id")
      assert(gate(id) >= mc - 1e-9,
        s"gate max $id ${gate(id)} below x114's candidate max $mc")
    }
    val plan = Streaming.semanticGateStream(
        emb.select("vec_id", "embedding"),
        emb.filter(evalPred).select("embedding"))
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin"),
      s"one-row eval matrix must broadcast:\n$plan")
    assert(!plan.contains("Exchange hashpartitioning"),
      s"gate must stay map-side:\n$plan")
  }

  test("graphInsertStream: streamed micro-batches reproduce the x124 batch edge lists exactly") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    import org.apache.spark.sql.streaming.Trigger
    import spark.implicits._
    implicit val sqlCtx = spark.sqlContext
    // ground truth: the x124 batch operator (drop its found_original
    // health column — the gate appends raw edge lists)
    val batchOut = SparkEntry.queries("x124_graph_insert")(spark, sf001)
      .collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2), r.getDouble(3)))
    // the same new vectors, split across TWO micro-batches: each
    // probe's walk is independent of its batch-mates, so the split
    // must be invisible in the output
    val newVecs = spark.read.parquet(s"$sf001/embeddings.parquet")
      .filter("vec_id % 97 = 0")
      .selectExpr("vec_id + 1000000000 as vec_id", "embedding")
      .collect().map(r => (r.getLong(0), r.getSeq[Float](1)))
    assert(newVecs.length >= 2, "need at least two probes to split")
    val (first, second) = newVecs.splitAt(1)
    val mem = MemoryStream[(Long, Seq[Float])]
    val outDir = Files.createTempDirectory("graft-ginsert-out").toString
    val ckpt = Files.createTempDirectory("graft-ginsert-ckpt").toString
    val q = Streaming.graphInsertStream(spark,
      mem.toDS().toDF("vec_id", "embedding"),
      sf001, outDir, ckpt, hops = 2,
      trigger = Trigger.ProcessingTime(0))
    mem.addData(first: _*)
    q.processAllAvailable()
    mem.addData(second: _*)
    q.processAllAvailable()
    q.stop()
    val streamed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
    assert(streamed.length == batchOut.length,
      s"row count drifted: stream ${streamed.length} vs batch ${batchOut.length}")
    assert(streamed.toSet == batchOut.toSet,
      "streamed edge lists must equal the batch operator's bit-for-bit")
    // foreachBatch is at-least-once: replaying the second micro-batch's
    // body with its SAME batchId must leave the sink unchanged (dynamic
    // partition overwrite replaces the batch's partition, never appends)
    Streaming.insertEdgeBatch(second.toSeq.toDF("vec_id", "embedding"),
      sf001, outDir, hops = 2, batchId = 1L)
    val replayed = spark.read.parquet(outDir).collect()
      .map(r => (r.getAs[Long]("new_id"), r.getAs[Long]("rk"),
        r.getAs[Long]("neighbor_id"), r.getAs[Double]("cos_sim")))
    assert(replayed.length == batchOut.length,
      s"batch replay duplicated rows: ${replayed.length} vs ${batchOut.length}")
    assert(replayed.toSet == batchOut.toSet,
      "batch replay must be idempotent bit-for-bit")
  }
}
