package graft.streaming

import graft.ingest.Ingest
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, OutputMode, StreamingQuery, Trigger}
import java.sql.Timestamp

/** Structured-Streaming surface (SURVEY.md §2.6).
  *
  * The reference's "streaming" is a poll loop with a persisted
  * high-water-mark cursor (cmd_sync.go:56-75, 173-182). The Spark-native
  * equivalent is Structured Streaming: the file source's checkpointed
  * offset log IS the cursor (S4/O2), `Trigger.ProcessingTime` is the
  * `Wait` interval (O1), and at-least-once replays are absorbed by the
  * same latest-version views (R1) as in batch. Each micro-batch lands
  * through `Ingest.land`, the page lander of batch sync, so batch and
  * streaming cannot drift.
  *
  * Beyond reference parity (§2.7 gaps): watermarked windowed
  * aggregation and arbitrary stateful sessionization
  * (flatMapGroupsWithState) — the standard streaming-analytics
  * operators the reference delegates to nothing.
  */
object Streaming {

  /** Streaming sync: NDJSON files arriving in `srcDir` → landing store.
    * Each micro-batch is landed by `Ingest.land`, as a sync page is
    * (parse + chunk split, in-page dedup on the landing PK, append),
    * stamped with the batch wall-clock (the reference stamps one
    * batch_date per sync run, cmd_sync.go:79). Exactly-once file
    * tracking via the checkpoint; duplicate landings after a
    * crash-replay are absorbed by Views.latestAllVersions. */
  def landingStream(
      spark: SparkSession,
      srcDir: String,
      landingPath: String,
      checkpointDir: String,
      chunkSize: Int = 10000,
      trigger: Trigger = Trigger.AvailableNow(),
      maxFilesPerTrigger: Option[Int] = None): StreamingQuery = {
    import spark.implicits._
    maxFilesPerTrigger
      .fold(spark.readStream)(n =>
        spark.readStream.option("maxFilesPerTrigger", n.toLong))
      .textFile(srcDir)
      .writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (lines: Dataset[String], _: Long) =>
        Ingest.land(lines, new Timestamp(System.currentTimeMillis()),
          chunkSize, landingPath)
        ()
      }
      .start()
  }

  /** Streaming graph-index maintenance — x124's insertion primitive in
    * the sync loop: each micro-batch of newly-embedded vectors is
    * beam-search-inserted against the FROZEN standing kNN index
    * (`index.GraphIndex.insertEdges` — the shared tiers are built once
    * and resolved per batch like every other stream-static side), and
    * the resulting edge lists append to an output store a periodic
    * compaction folds into the index. The walk is ITERATIVE
    * (hops × join/score/fold with lineage truncation), which no pure
    * streaming transform can express — `foreachBatch` is exactly the
    * tool: the batch operator runs verbatim per micro-batch, so stream
    * and batch CANNOT drift (spec-proved: streamed micro-batches ≡ the
    * x124 batch output, because each probe's walk is independent of
    * its batch-mates). Per-batch cost |batch|·hops·B·2K scorings —
    * corpus-independent, the same never-rebuild bound as batch x124.
    *
    * CONTRACT: streamed `vec_id`s must be DISJOINT from the standing
    * corpus's ids (x124 offsets its re-crawl batch by +1e9 for exactly
    * this). The walk's self-exclusion filter treats src = dst as "the
    * probe met itself"; a streamed id that numerically collides with a
    * corpus id would silently exclude that corpus vector from the new
    * vector's edge list. The offset is the CALLER's job — this gate
    * cannot apply one itself without breaking the id the caller will
    * use to read the edge lists back.
    *
    * Exactly-once despite foreachBatch's at-least-once contract: each
    * micro-batch writes to its own `batch_id=<id>` partition with
    * dynamic partition overwrite, so a batch retried after a failure or
    * restart REPLACES its own previous (possibly partial) output
    * instead of appending it twice — the standard idempotent-foreachBatch
    * recipe, with the batchId Spark already persists in the checkpoint
    * as the replay key. */
  def graphInsertStream(
      spark: SparkSession,
      vecs: DataFrame, // streaming: (vec_id: bigint, embedding: array<float>)
      standingDir: String, // frozen standing-index corpus dir
      outPath: String, // edge-list sink (parquet, partitioned by batch_id)
      checkpointDir: String,
      hops: Int = 2,
      trigger: Trigger = Trigger.AvailableNow()): StreamingQuery =
    vecs.writeStream
      .option("checkpointLocation", checkpointDir)
      .trigger(trigger)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        insertEdgeBatch(batch, standingDir, outPath, hops, batchId)
      }
      .start()

  /** The per-micro-batch body of [[graphInsertStream]], named so the
    * idempotence contract is directly testable: running the same
    * (batch, batchId) twice leaves ONE copy of its edge lists. */
  private[graft] def insertEdgeBatch(batch: DataFrame, standingDir: String,
      outPath: String, hops: Int, batchId: Long): Unit = {
    if (!batch.isEmpty) {
      val probes = graft.index.GraphIndex.probeRows(batch).localCheckpoint()
      graft.index.GraphIndex
        .insertEdges(batch.sparkSession, standingDir, probes, hops)
        .withColumn("batch_id", org.apache.spark.sql.functions.lit(batchId))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("batch_id")
        .parquet(outPath)
    }
  }

  /** Watermarked tumbling-window counts over an event stream — late
    * events beyond the watermark are dropped, state is bounded (the
    * scale requirement for infinite streams). Works identically on a
    * batch DataFrame (Spark's unified semantics). */
  def windowedEventStats(
      events: DataFrame,
      watermark: String = "10 minutes",
      windowLen: String = "1 hour"): DataFrame =
    events
      .withWatermark("ts", watermark)
      .groupBy(window(col("ts"), windowLen), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(col("value")).as("total_value"))
      .select(col("window.start").as("window_start"),
        col("event_type"), col("n"), col("total_value"))

  /** Windowed heavy-hitter tokens over a text stream: the SpaceSaving
    * sketch (plans.SpaceSavingTopK, registered as `topk_freq`)
    * aggregates INSIDE the streaming state, so each open window holds
    * one bounded sketch buffer instead of a row per distinct token —
    * the difference between per-window state that is O(capacity) and
    * state that grows with the live vocabulary. Emits the top-k once
    * the watermark closes the window (append mode). Falls back to
    * nothing: the sketch is required here, by design — this is the
    * composition the custom aggregate exists for. */
  def windowedTopTokens(
      docs: DataFrame, // (ts: timestamp, text: string)
      watermark: String = "10 minutes",
      windowLen: String = "1 hour",
      k: Int = 3): DataFrame =
    docs
      .withWatermark("ts", watermark)
      .selectExpr("ts", "explode(split(trim(lower(text)), '\\\\s+')) as token")
      .filter(col("token") =!= "")
      .groupBy(window(col("ts"), windowLen))
      .agg(expr(s"topk_freq(token, $k, 64)").as("tops"))
      .selectExpr("window.start as window_start", "posexplode(tops) as (rank, t)")
      .selectExpr("window_start", "cast(rank as bigint) as rank",
        "t.item as token", "t.cnt as n")

  /** Stream-stream interval join (the streaming twin of r36's banded
    * range join): each purchase joins the same user's views from the
    * preceding `windowDur`. Both sides are watermarked, and the join
    * condition bounds event-time distance, so Spark can evict buffered
    * state on BOTH sides once the watermark passes — the requirement
    * for an unbounded run. Output: one row per (purchase, matching
    * view); left outer keeps unmatched purchases (emitted only after
    * the watermark proves no match can arrive). */
  def purchaseViewJoin(
      purchases: DataFrame, // (p_user, p_ts, p_id)
      views: DataFrame,     // (v_user, v_ts)
      watermark: String = "10 minutes",
      windowDur: String = "10 minutes"): DataFrame = {
    val p = purchases.withWatermark("p_ts", watermark)
    val v = views.withWatermark("v_ts", watermark)
    p.join(v,
      expr(s"""p_user = v_user AND
              |v_ts < p_ts AND
              |v_ts >= p_ts - interval $windowDur""".stripMargin),
      "leftOuter")
  }

  /** Stream-static enrichment — the streaming twin of the V4 FK join:
    * each micro-batch of events joins a static dimension (a typed view
    * over the landing store). The static side is broadcast per batch,
    * so the stream never shuffles and no join state accumulates (the
    * dimension is re-resolvable, which is also what picks up dimension
    * updates between micro-batches — exactly how a slowly-changing
    * enrichment behaves on a long-running cluster). Left join keeps
    * events whose key has no dimension row yet. */
  def enrichEvents(
      events: DataFrame, // streaming: (user_id, ts, event_type, value)
      userDim: DataFrame // static: (user_id, ...dimension columns)
  ): DataFrame =
    events.join(broadcast(userDim), Seq("user_id"), "left")

  /** Streaming decontamination gate — x61's broadcast-Bloom probe on an
    * ingest stream: every document in each micro-batch is checked
    * against a static Bloom bitset (one row, built once from the
    * benchmark/test-set grams by `plans.BloomBitsAgg`) and annotated
    * with its flagged-gram count, entirely map-side — no stream
    * shuffle, no state, so the gate adds nothing to checkpoint size and
    * scales with ingest parallelism alone. The static side re-resolves
    * per micro-batch (same slowly-changing-dimension behavior as
    * [[enrichEvents]]), which is how a refreshed benchmark suite takes
    * effect without restarting the stream. Installs graft's functions
    * (`bloom_might_contain`) on the stream's session first. */
  def scrubStream(
      docs: DataFrame, // streaming: (doc_id, text)
      bloom: DataFrame, // static one-row: (bloom: array<bigint>)
      seeds: Int = 3): DataFrame = {
    import graft.llm.Frag._
    graft.plans.GraftExtensions.install(docs.sparkSession)
    docs.crossJoin(broadcast(bloom))
      .selectExpr("doc_id", "text",
        s"${sLet(sTokens, "tk", sGrams8)} as gs", "bloom")
      .selectExpr("doc_id", "text",
        "cast(size(gs) as bigint) as n_grams",
        s"cast(size(filter(gs, g -> bloom_might_contain(bloom, ${sH("g")}, $seeds))) as bigint) as n_flagged")
      .selectExpr("doc_id", "text", "n_grams", "n_flagged",
        "n_flagged > 0 as flagged")
  }

  /** Streaming SEMANTIC decontamination gate — x114's embedding-space
    * scrub at ingest time, completing the gate pair the way x114
    * completes x61 in batch (paraphrased benchmark leakage shares no
    * 8-grams, so [[scrubStream]] alone cannot see it). The held-out
    * eval set is FIXED-SIZE, so it collapses to ONE static row of
    * (vector, squared-norm) structs; each incoming vector computes its
    * max cosine over the whole matrix IN-ROW via higher-order
    * functions — no stream shuffle, no state, and the stream never
    * grows (the broadcast join adds one column, not |eval| rows).
    * Unlike batch x114's banded candidate generation (recall < 1 by
    * design), this gate is recall-COMPLETE — it checks every eval
    * vector — affordable at ingest precisely because |eval| is a
    * constant while the corpus is not. Same 6-dp rounding and ≥ 0.4
    * operating point as x114, so verdicts compose across the two. */
  def semanticGateStream(
      vecs: DataFrame, // streaming: (vec_id, embedding: array<float>)
      evalVecs: DataFrame // static: (embedding) — the held-out eval set
  ): DataFrame = {
    import graft.llm.Frag._
    val mat = evalVecs
      .selectExpr("embedding as ev", s"${sSumSq("embedding")} as esq")
      .agg(collect_list(expr("struct(ev, esq)")).as("evs"))
    val dotE = sDot("embedding", "e.ev")
    vecs.crossJoin(broadcast(mat))
      .selectExpr("vec_id", "embedding", "evs",
        s"${sSumSq("embedding")} as vsq")
      .selectExpr("vec_id",
        sRound6("aggregate(evs, cast(-1 as double), (acc, e) -> " +
          s"greatest(acc, ($dotE) / sqrt(vsq * e.esq)))") +
          " as max_eval_cos")
      .selectExpr("vec_id", "max_eval_cos",
        "max_eval_cos >= 0.4 as leaked")
  }

  /** Streaming incremental dedup gate — x99's exact arm at ingest time
    * (the streaming twin of `llm.Dedup`'s x99 batch gate): each
    * micro-batch is fingerprinted map-side (the same
    * md5-of-normalized-text the batch store keys on) and probed
    * against the STANDING fingerprint store via a stream-static
    * broadcast join — no stream shuffle, no state; the static side is
    * re-resolved per micro-batch like a slowly-changing dimension, so
    * docs landed between batches are seen by later batches. Emits
    * verdict 'exact' (dup_of = the store's representative) or 'new'.
    * Near-dup verdicts stay a batch concern (they need the pair
    * index); at 100 TB this gate is the cheap first filter that keeps
    * verbatim re-crawls from ever touching the landing store. */
  def dedupGateStream(
      docs: DataFrame, // streaming: (doc_id, text)
      fpStore: DataFrame // static: (fp, e_of) — md5(norm) → min doc_id
  ): DataFrame = {
    import graft.llm.Frag._
    docs.selectExpr("doc_id", "text", s"md5($sNorm) as fp")
      .join(broadcast(fpStore), Seq("fp"), "left")
      .selectExpr("doc_id", "text",
        "case when e_of is not null then 'exact' else 'new' end as verdict",
        "coalesce(e_of, cast(-1 as bigint)) as dup_of")
  }

  /** Streaming near-dup candidate gate — the LSH banding recall arm of
    * the batch x07 pipeline applied at ingest time: each incoming doc
    * computes its 16-seed minhash signature and 4 band hashes MAP-SIDE
    * (the same md5-derived hash family the batch index uses, through
    * the fused `minhash16`) and probes the
    * standing band index through four broadcast left joins against its
    * per-bucket min-rep reduction (one row per (band, bucket), so the
    * joins can never grow the stream) — no stream shuffle, no state.
    * Emits `near_candidate` + `dup_hint` (the smallest rep sharing any
    * band). Exact jaccard verification of candidates stays a batch
    * concern, exactly as the batch pipeline verifies x07's candidates
    * before acting on them: this gate's job at 100 TB is routing —
    * suspected near-dups detour to the verifier instead of landing.
    *
    * `bandIndex` columns: (bi, bh, e_of) — band ordinal, band hash,
    * representative doc id (`llm.Dedup.lshBands` renamed). */
  def nearDupGateStream(docs: DataFrame, bandIndex: DataFrame): DataFrame =
    withBandHits(docs, bandIndex).selectExpr("doc_id", "text",
      "coalesce(e0, e1, e2, e3) is not null as near_candidate",
      "coalesce(least(e0, e1, e2, e3), cast(-1 as bigint)) as dup_hint")

  /** The banding probe shared by [[nearDupGateStream]] and the fused
    * [[ingestGateStream]]: adds `e0..e3` (per-band standing-index min
    * rep, null = no bucket hit) to `docs`, preserving every input
    * column. Four broadcast left joins against per-bucket min-rep
    * reductions — no stream shuffle, no state. Installs graft's
    * functions first: the stream may come from a session built
    * without `GraftExtensions`. */
  private def withBandHits(docs: DataFrame, bandIndex: DataFrame): DataFrame = {
    import graft.llm.Frag._
    graft.plans.GraftExtensions.install(docs.sparkSession)
    def bh(b: Int) = sH(s"concat_ws(',', element_at(ms, ${4 * b + 1}), " +
      s"element_at(ms, ${4 * b + 2}), element_at(ms, ${4 * b + 3}), " +
      s"element_at(ms, ${4 * b + 4}))")
    var cur = docs
      .withColumn("shs", expr("shingles3(text)"))
      .withColumn("ms",
        expr("case when size(shs) > 0 then minhash16(shs) else null end"))
    for (b <- 0 until 4) {
      val idx = bandIndex.filter(col("bi") === b)
        .groupBy("bh").agg(min(col("e_of")).as(s"e$b"))
        .withColumnRenamed("bh", s"bh$b")
      cur = cur
        .withColumn(s"bh$b",
          expr(s"case when ms is not null then ${bh(b)} else null end"))
        .join(broadcast(idx), Seq(s"bh$b"), "left")
    }
    cur.drop("shs", "ms", "bh0", "bh1", "bh2", "bh3")
  }

  /** The composed ingest-time admission gate — the three standing-
    * index gates fused into ONE map-side pass over the stream, the
    * shape a 100 TB ingest front door actually runs (each doc is
    * fingerprinted, banded, and gram-scanned once; all three standing
    * structures broadcast; no stream shuffle, no state): routing
    * precedence `exact` (verbatim re-crawl — drop) > `near_candidate`
    * (detour to the batch verifier) > `contaminated` (benchmark
    * 8-gram hit — quarantine) > `admit`. `dup_ref` carries the exact
    * rep or the band hint for the first two routes. */
  def ingestGateStream(
      docs: DataFrame, // streaming: (doc_id, text)
      fpStore: DataFrame, // static: (fp, e_of)
      bandIndex: DataFrame, // static: (bi, bh, e_of)
      bloom: DataFrame, // static one-row: (bloom: array<bigint>)
      seeds: Int = 3): DataFrame = {
    import graft.llm.Frag._
    val probed = docs
      .selectExpr("doc_id", "text", s"md5($sNorm) as fp")
      .join(broadcast(fpStore.withColumnRenamed("e_of", "x_of")),
        Seq("fp"), "left")
    withBandHits(probed, bandIndex)
      .crossJoin(broadcast(bloom))
      .selectExpr("doc_id", "text", "x_of", "e0", "e1", "e2", "e3",
        s"${sLet(sTokens, "tk", sGrams8)} as gs", "bloom")
      .selectExpr("doc_id", "text", "x_of", "e0", "e1", "e2", "e3",
        s"cast(size(filter(gs, g -> bloom_might_contain(bloom, ${sH("g")}, $seeds))) as bigint) as n_flagged")
      .selectExpr("doc_id", "text",
        """case when x_of is not null then 'exact'
          |  when coalesce(e0, e1, e2, e3) is not null then 'near_candidate'
          |  when n_flagged > 0 then 'contaminated'
          |  else 'admit' end as route""".stripMargin,
        "coalesce(x_of, least(e0, e1, e2, e3), cast(-1 as bigint)) as dup_ref",
        "n_flagged")
  }

  /** Streaming replay dedup — the streaming twin of the R1 batch
    * window: at-least-once re-deliveries of the same document
    * (type,id,version,chunk) inside the watermark horizon are dropped
    * before they reach the landing sink, so downstream consumers see
    * each landed row once. State is bounded by the watermark (keys are
    * evicted once `event time < watermark`), which is what lets the
    * operator run forever — an unbounded dropDuplicates would grow
    * state with the full key history. Replays that arrive LATER than
    * the horizon still land and are absorbed by the batch R1 view:
    * defense in depth, same contract as the reference's PK +
    * view-layer dedup pair. */
  def dedupWithinWatermark(
      landing: DataFrame,
      watermark: String = "1 hour"): DataFrame =
    landing
      .withWatermark("date", watermark)
      .dropDuplicatesWithinWatermark("type", "id", "version", "chunk")

  // ── incremental latest-version view (streaming R2) ──

  final case class DocVersion(docType: String, id: String, version: Long,
      batchDate: Timestamp, deleted: Boolean)
  final case class LatestDoc(docType: String, id: String, version: Long,
      deleted: Boolean)

  /** The R2 `_LATEST` view maintained incrementally over a landing
    * stream: one state record per (type, id) holding the argmax
    * version; each micro-batch emits the keys whose latest changed
    * (OutputMode.Update). Replays of already-seen versions never emit
    * (same at-least-once absorption as the batch window dedup, but
    * without rescanning history — the streaming-materialized-view
    * pattern the reference's recompute-on-read views can't do). */
  def latestState(docs: Dataset[DocVersion]): Dataset[LatestDoc] = {
    import docs.sparkSession.implicits._
    docs
      .groupByKey(d => (d.docType, d.id))
      .mapGroupsWithState[LatestDoc, Option[LatestDoc]](
        GroupStateTimeout.NoTimeout) {
        case ((docType, id), batch, state) =>
          val incoming = batch.maxBy(d => (d.version, d.batchDate.getTime))
          val prev = state.getOption
          if (prev.forall(_.version < incoming.version)) {
            val next = LatestDoc(docType, id, incoming.version, incoming.deleted)
            state.update(next)
            Some(next)
          } else None
      }
      .flatMap(_.iterator)
  }

  // ── sessionization (arbitrary state) ──

  final case class Evt(user_id: Long, ts: Timestamp, value: Double)
  final case class SessionState(start: Long, last: Long, n: Long, total: Double)
  final case class Session(user_id: Long, start: Timestamp, end: Timestamp,
      n_events: Long, total_value: Double)

  /** Gap-based sessionization via flatMapGroupsWithState: a session
    * closes when no event arrives for `gapMs`. State is one small
    * record per active user — bounded by the key cardinality, evicted
    * on timeout. This is the custom-state operator the DataFrame API
    * can't express (KeyValueGroupedDataset is the escape hatch). */
  def sessionize(events: Dataset[Evt], gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SessionState, Session](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evts: Iterator[Evt], state: GroupState[SessionState]) =>
          // batch-per-group delivery: fold the (sorted) events, emitting
          // a session each time the gap is exceeded
          val sorted = evts.toSeq.sortBy(_.ts.getTime)
          var cur = state.getOption
          val out = Seq.newBuilder[Session]
          sorted.foreach { e =>
            val t = e.ts.getTime
            cur match {
              case Some(st) if t - st.last <= gapMs =>
                cur = Some(st.copy(last = t, n = st.n + 1, total = st.total + e.value))
              case Some(st) =>
                out += Session(uid, new Timestamp(st.start), new Timestamp(st.last), st.n, st.total)
                cur = Some(SessionState(t, t, 1, e.value))
              case None =>
                cur = Some(SessionState(t, t, 1, e.value))
            }
          }
          cur match {
            case Some(st) => state.update(st)
            case None     => state.remove()
          }
          out.result().iterator
      }
  }

  /** Close any still-open sessions (batch-mode finalization helper). */
  def finalSessions(events: Dataset[Evt], gapMs: Long = 30 * 60 * 1000L): Dataset[Session] = {
    import events.sparkSession.implicits._
    events.groupByKey(_.user_id).flatMapGroups { (uid, evts) =>
      val sorted = evts.toSeq.sortBy(_.ts.getTime)
      val out = Seq.newBuilder[Session]
      var cur: Option[SessionState] = None
      sorted.foreach { e =>
        val t = e.ts.getTime
        cur match {
          case Some(st) if t - st.last <= gapMs =>
            cur = Some(st.copy(last = t, n = st.n + 1, total = st.total + e.value))
          case Some(st) =>
            out += Session(uid, new Timestamp(st.start), new Timestamp(st.last), st.n, st.total)
            cur = Some(SessionState(t, t, 1, e.value))
          case None =>
            cur = Some(SessionState(t, t, 1, e.value))
        }
      }
      cur.foreach(st => out += Session(uid, new Timestamp(st.start), new Timestamp(st.last), st.n, st.total))
      out.result().iterator
    }
  }

  // ── streaming grid snapshots (r63's streaming twin) ──

  final case class SnapState(lastMs: Long, lastVal: Double, emittedDayMs: Long)
  final case class Snapshot(user_id: Long, day: Timestamp, v_asof: Double)

  private val DayMs = 86400000L
  private def dayFloor(ms: Long): Long = math.floorDiv(ms, DayMs) * DayMs

  /** Streaming daily as-of snapshots: as a user's event time crosses
    * each midnight boundary, emit one (user, day, latest-reading-at-or-
    * before-day-start) row — the incrementally-maintained form of the
    * r63 batch grid resample (same inclusive as-of semantics: a
    * reading exactly AT the boundary wins it). State per user is three
    * scalars — bounded by key cardinality, never by history — and a
    * boundary can only emit once (monotone `emittedDayMs` guard), so
    * replays of already-seen days are absorbed. No timers needed: the
    * next event itself proves the day closed. Late events (older than
    * the latest reading seen) are DROPPED from the running value — the
    * as-of state tracks the max-timestamp reading only, and emitted
    * boundaries are never rewritten. Note the per-batch sort makes
    * late-arrival handling batch-shape-dependent: a late event in the
    * SAME micro-batch as newer ones is ordered before them and can win
    * an unemitted boundary, while the same event arriving a batch
    * later cannot. Exactly-once day emission holds either way via the
    * monotone `emittedDayMs` guard. */
  def dailySnapshots(events: Dataset[Evt]): Dataset[Snapshot] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[SnapState, Snapshot](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evts: Iterator[Evt], state: GroupState[SnapState]) =>
          val sorted = evts.toSeq.sortBy(_.ts.getTime)
          val out = Seq.newBuilder[Snapshot]
          var st = state.getOption
          sorted.foreach { e =>
            val t = e.ts.getTime
            st match {
              case None =>
                // first observation: the day it lands in is open; only
                // LATER boundaries can emit
                st = Some(SnapState(t, e.value, dayFloor(t)))
              case Some(prev) =>
                var d = prev.emittedDayMs + DayMs
                while (d <= dayFloor(t)) {
                  // as-of at boundary d: the new event wins iff it sits
                  // exactly on the boundary (inclusive semantics)
                  out += Snapshot(uid, new Timestamp(d),
                    if (t == d) e.value else prev.lastVal)
                  d += DayMs
                }
                val emitted = math.max(prev.emittedDayMs, dayFloor(t))
                st = Some(
                  if (t >= prev.lastMs) SnapState(t, e.value, emitted)
                  else prev.copy(emittedDayMs = emitted))
            }
          }
          st.foreach(state.update)
          out.result().iterator
      }
  }

  // ── streaming trailing EWMA (r65's streaming twin) ──

  final case class EwmaState(buf: Seq[(Long, Double)])
  final case class EwmaPoint(user_id: Long, ts: Timestamp, value: Double,
      ewma10: Double)

  private val Alpha = BigDecimal("0.8")
  private val AlphaPow = (0 to 9).map(Alpha.pow).toArray

  /** Incrementally-maintained trailing-10 EWMA per user (α = 0.8,
    * normalized) — one smoothed point per event, exactly r65's batch
    * numbers on in-order streams: state is the last ≤ 10 readings in
    * event-time order (bounded per key, never history-sized), and the
    * fold repeats r65's exact-decimal arithmetic (6-dp value rounding,
    * finite-decimal weights, one final double division), so batch and
    * stream cannot drift in the last ulp. A late event inserts into
    * the retained buffer — its own emitted point uses only readings
    * at-or-before it — but already-emitted points are never rewritten
    * (append mode), the same no-retraction contract as
    * [[dailySnapshots]]. */
  def ewmaSmooth(events: Dataset[Evt]): Dataset[EwmaPoint] = {
    import events.sparkSession.implicits._
    events
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[EwmaState, EwmaPoint](
        OutputMode.Append, GroupStateTimeout.NoTimeout) {
        (uid: Long, evts: Iterator[Evt], state: GroupState[EwmaState]) =>
          var buf = state.getOption.map(_.buf).getOrElse(Seq.empty)
          val out = evts.toSeq.sortBy(_.ts.getTime).map { e =>
            val t = e.ts.getTime
            buf = ((buf :+ (t -> e.value)).sortBy(_._1)).takeRight(10)
            val frame = buf.filter(_._1 <= t).map(_._2)
            val m = frame.length
            val num = frame.zipWithIndex.map { case (v, j) =>
              BigDecimal(v).setScale(6, BigDecimal.RoundingMode.HALF_UP) *
                AlphaPow(m - 1 - j)
            }.sum
            val den = AlphaPow.take(m).sum
            val ewma = BigDecimal(num.toDouble / den.toDouble)
              .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
            EwmaPoint(uid, e.ts, e.value, ewma)
          }
          state.update(EwmaState(buf))
          out.iterator
      }
  }
}
