package graft

import graft.index.GraphIndex
import graft.model.SchemaCodec
import graft.pipeline.SyncPipeline
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}

/** CLI entry point mirroring the reference's command surface
  * (/root/reference/src/main.go:129-148): sync, push, clone,
  * create_views, prune, gen (RSA keypair for warehouse JWT auth —
  * pipeline.KeyGen), config, version — plus jdbc_push (K2: landing →
  * external JDBC warehouse, transactional). (`upgrade` — self-update
  * from GitHub releases, cmd_upgrade.go:32-48 — genuinely needs
  * network egress and stays out of scope per SURVEY.md §2.6 and
  * README.) Option resolution follows the reference's
  * precedence — defaults < GRAFT_* env < CLI flags (pipeline.CliConfig).
  *
  * Usage:
  *   graft.Main sync|push|clone|create_views|prune \
  *     --source DIR --landing DIR --state DIR [--schema FILE] \
  *     [--wait SECONDS] [--chunk-size N]
  *
  * `sync` loops every --wait seconds (reference default 600); `push` is
  * one-shot; `clone` = forced full sync + create_views.
  */
object Main {
  def main(args: Array[String]): Unit = {
    if (args.isEmpty) { usage(); sys.exit(2) }
    val cmd = args.head
    if (cmd == "version") { println("graft 0.1.0"); return }
    // O4 `gen` (cmd_gen.go:15-66): local RSA-2048 keypair for warehouse
    // JWT auth — pure crypto, no SparkSession, no network
    if (cmd == "gen") { println(graft.pipeline.KeyGen.report()); return }
    // reference precedence (config_test.go:35-77): defaults < env < CLI
    val opts = graft.pipeline.CliConfig.resolve(
      args.tail.sliding(2, 2).collect {
        case Array(k, v) if k.startsWith("--") => k.drop(2) -> v
      }.toMap)
    if (cmd == "config") { // reference `config`: print the resolution
      opts.toSeq.sortBy(_._1).foreach { case (k, v) => println(s"$k=$v") }
      return
    }
    def req(k: String): String = opts.getOrElse(k,
      { System.err.println(s"missing --$k"); usage(); sys.exit(2) })

    val spark = EngineSession.builder(s"graft-$cmd",
        sys.env.getOrElse("SPARK_MASTER", "local[*]"))
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")

    lazy val pipeline = new SyncPipeline(spark, // lazy: verbs like
      // compact_index take --corpus/--index-dir and no --landing
      sourceDir = opts.getOrElse("source", ""),
      landingPath = req("landing"),
      stateDir = opts.getOrElse("state", "."),
      chunkSize = opts.getOrElse("chunk-size", "10000").toInt)
    // HideInactiveFields (config.go:25, applied at schema fetch —
    // schema.go:89-91): inactive fields vanish from every generated view
    def schema() = {
      val s = SchemaCodec.parse(Files.readString(Paths.get(req("schema"))))
      if (opts.getOrElse("hide-inactive-fields", "false").toBoolean)
        s.withoutInactive
      else s
    }

    // --url switches ingestion to the reference's HTTP sync protocol
    // (BASIC auth, limit/since pagination, X-Sync-* headers); without
    // it the file-based NDJSON source is used.
    def httpSource = opts.get("url").map(url =>
      new graft.pipeline.HttpDocumentSource(url,
        user = opts.getOrElse("user", ""),
        password = opts.getOrElse("password", ""),
        limit = opts.getOrElse("limit", "10000").toInt,
        includeCalcs = opts.contains("calcs")))
    def landOnce(force: Boolean = false): Long = httpSource match {
      case Some(src) => pipeline.syncFrom(src, force)
      case None      => pipeline.syncOnce(force)
    }

    cmd match {
      case "push" =>
        println(s"landed ${landOnce()} documents")
      case "sync" =>
        val wait = opts.getOrElse("wait", "600").toLong * 1000
        while (true) { // reference loop: errors logged, loop continues
          try println(s"landed ${landOnce()} documents")
          catch { case e: Exception => System.err.println(s"sync failed: ${e.getMessage}") }
          Thread.sleep(wait)
        }
      case "clone" =>
        val n = pipeline.clone(schema(), httpSource)
        println(s"cloned $n documents; views registered")
      case "create_views" =>
        opts.get("persistent-db") match {
          case Some(db) =>
            pipeline.createViewsPersistent(schema(), db).foreach(println)
          case None => pipeline.createViews(schema()).foreach(println)
        }
      case "prune" =>
        pipeline.prune(); println("pruned")
      case "compact" =>
        pipeline.compact(opts.getOrElse("target-file-mb", "128").toInt)
        println("compacted")
      case "compact_index" =>
        // standing-index lifecycle closure: apply one delete+insert
        // cycle to the resident kNN graph and INSTALL the compacted
        // G′ = kept ∪ repaired ∪ inserted through Durable, so the next
        // session walks the post-cycle graph instead of rebuilding.
        // Batches come from parquet files (--deletes: vec_id;
        // --inserts: vec_id, embedding) or default to the x131 cycle
        // (mod-89 tombstones, mod-97 re-crawl batch).
        val out = compactIndex(spark,
          corpus = req("corpus"), indexDir = req("index-dir"),
          deletes = opts.get("deletes"), inserts = opts.get("inserts"),
          hops = opts.getOrElse("hops", "2").toInt)
        println(out)
      case "ann_search" =>
        // query the standing kNN index from the CLI: probes are either
        // corpus rows (--ids "0,5,9") or a parquet file of new vectors
        // (--probes: vec_id, embedding); with --index-dir the durable
        // tiers serve the walk (no rebuild in a fresh session).
        opts.get("index-dir").foreach(d =>
          spark.conf.set("spark.graft.indexDir", d))
        // --entries and --beam are the two MEASURED recall levers
        // (SCALE.md round-14 recall study: on clustered corpora the
        // standing graph fragments into islands and recall is
        // ENTRY-limited — E=8→64 lifted recall@10 from 0.20 to 0.84
        // at fixed degree); serving cost stays structural
        // (E + hops·B·2K scorings per probe). Seeding defaults to the
        // IVF-routed entries whenever the durable routing tiers are
        // resident (resolveSeed — the measured 4× recall-per-entry
        // saving), hash otherwise.
        val seed =
          try resolveSeed(spark, req("corpus"), opts.get("seed"),
            opts.get("entries"))
          catch { case e: IllegalArgumentException =>
            System.err.println(e.getMessage); usage(); sys.exit(2) }
        annSearch(spark, corpus = req("corpus"),
          ids = opts.get("ids"), probesFile = opts.get("probes"),
          hops = opts.getOrElse("hops", "2").toInt,
          k = opts.getOrElse("k", "10").toInt,
          b = opts.getOrElse("beam", "5").toInt,
          e = opts.getOrElse("entries", "8").toInt,
          seed = seed)
          .foreach(println)
      case "index_status" =>
        // ops visibility for the durable index layer: which tiers are
        // installed for this corpus, which are fresh vs stale against
        // the corpus's current fingerprint, and their on-disk size.
        graft.queries.Durable.status(spark, req("index-dir"), req("corpus"))
          .foreach(println)
      case "dbx_push" => // K4: landing store → Databricks over the public
        // REST surface (distributed per-partition DBFS upload in the
        // reference CSV contract, COPY INTO via the SQL Statement
        // Execution API, recursive stage cleanup, core views)
        val sink = new graft.ingest.DatabricksSink(
          req("dbx-url"), req("dbx-token"), req("warehouse-id"),
          catalog = opts.getOrElse("catalog", ""),
          schema = opts.getOrElse("db-schema", ""))
        val n = sink.push(
          graft.ingest.Ingest.readLanding(spark, req("landing")),
          opts.getOrElse("batch-tag", java.time.Instant.now().toString))
        sink.createCoreViews()
        println(s"pushed $n rows")
      case "snowpipe_notify" => // K1 ingestion notify: stage-relative
        // files (what a distributed df.write just produced on the
        // pipe's external stage) announced over the Snowpipe REST API,
        // RS256 key-pair JWT from the `gen` keypair
        val kp = graft.ingest.SnowpipeClient.keyPairFromDsnB64(
          opts.get("private-key-file")
            .map(f => new String(Files.readAllBytes(Paths.get(f))).trim)
            .getOrElse(req("private-key")))
        val c = new graft.ingest.SnowpipeClient(
          req("sf-url"), req("account"), req("user"), kp)
        println(c.insertFiles(req("pipe"),
          req("files").split(",").map(_.trim).filter(_.nonEmpty).toSeq))
      case "jdbc_push" => // K2: landing store → external JDBC warehouse,
        // all-or-nothing per batch (sqlserver.go:92-200 semantics)
        val p = new java.util.Properties
        opts.get("jdbc-driver").foreach(p.setProperty("driver", _))
        val n = graft.ingest.JdbcSink.appendTransactional(
          graft.ingest.Ingest.readLanding(spark, req("landing")),
          req("jdbc-url"), opts.getOrElse("jdbc-table", "EXECUTE_DOCUMENTS"), p)
        println(s"pushed $n rows")
      case other =>
        System.err.println(s"unknown command: $other"); usage(); sys.exit(2)
    }
    spark.stop()
  }

  /** `compact_index`'s testable body: read the optional batch files
    * (--deletes: vec_id; --inserts: vec_id, embedding) and run one
    * compaction cycle into `indexDir` (GraphIndex.compact). Returns a
    * one-line human summary (segment counts + installed path). */
  private[graft] def compactIndex(spark: SparkSession, corpus: String,
      indexDir: String, deletes: Option[String], inserts: Option[String],
      hops: Int): String =
    GraphIndex.compact(spark, corpus, indexDir,
      deletes.map(spark.read.parquet(_).selectExpr("vec_id as v")),
      inserts.map(p => GraphIndex.probeRows(spark.read.parquet(p))), hops)

  /** `--seed` resolution for `ann_search` (round 15). Explicit values
    * are VALIDATED — hash|ivf only; a typo ('IVF', 'ifv') is a usage
    * error, never a silent hash fallback. Unset resolves to `ivf`
    * whenever the durable IVF routing tiers are installed and fresh
    * for this corpus (the round-14 recall study's measured default:
    * recall@10 = 1.0 at E=8 on clustered geometry where hash seeding
    * needs E=32) AND the user did not reach for the hash-only
    * `--entries` knob AND the measured quantizer gauge (x138's durable
    * `quantizer_margin` tier), when installed, clears the routing
    * threshold; `hash` otherwise (a corpus without resident tiers
    * keeps the zero-prerequisite path — IVF seeding would otherwise
    * silently pay two full tier builds inside a point lookup).
    * Combining explicit `--entries` with explicit
    * `--seed ivf` is an error: the IVF entry budget is structural
    * (top-2 cells × 4 representatives ≤ 8 per probe) and the E knob
    * would be silently ignored. */
  private[graft] def resolveSeed(spark: SparkSession, corpus: String,
      seed: Option[String], entries: Option[String]): String =
    seed match {
      case Some("hash") => "hash"
      case Some("ivf") =>
        if (entries.isDefined)
          throw new IllegalArgumentException(
            "--entries only drives hash seeding; with --seed ivf the " +
              "entry budget is structural (top-2 cells x 4 reps <= 8)")
        "ivf"
      case Some(other) =>
        throw new IllegalArgumentException(
          s"--seed must be 'hash' or 'ivf', got '$other'")
      case None =>
        // IVF iff (a) the routing tiers are resident, AND (b) the
        // measured quantizer gauge — when one is installed (x138's
        // durable tier) — says the cells carry routing signal. The
        // round-15 regrade found IVF seeding LOSES to hash diversity
        // on isotropic vectors (0.2625 → 0.1625 recall@10 at B=10)
        // while doubling recall on clustered ones, so residency alone
        // is intent, and the gauge is the evidence. No gauge installed
        // ⇒ trust residency (never build a corpus pass inside a point
        // lookup).
        if (entries.isEmpty && GraphIndex.ivfTiersFresh(spark, corpus) &&
          GraphIndex.quantizerGauge(spark, corpus)
            .forall(_ >= GraphIndex.QuantizerMarginThreshold)) "ivf"
        else "hash"
    }

  /** `ann_search`'s testable body: resolve probes (corpus ids or a
    * vector parquet), walk the standing index, return printable
    * "query_id rk neighbor_id cos_sim" lines. */
  private[graft] def annSearch(spark: SparkSession, corpus: String,
      ids: Option[String], probesFile: Option[String], hops: Int,
      k: Int, b: Int = 5, e: Int = 8,
      seed: String = "hash"): Seq[String] = {
    val rows = probesFile match {
      case Some(p) => spark.read.parquet(p)
      case None =>
        val idList = ids.getOrElse("0").split(",").map(_.trim.toLong)
        graft.queries.Tables.t(spark, corpus, "embeddings")
          .filter(org.apache.spark.sql.functions.col("vec_id")
            .isin(idList: _*))
    }
    GraphIndex
      .annSearch(spark, corpus, GraphIndex.probeRows(rows).localCheckpoint(),
        hops, k, b, e, seed)
      .collect()
      .map(r => f"${r.getLong(0)}%d ${r.getLong(1)}%d ${r.getLong(2)}%d ${r.getDouble(3)}%.6f")
      .toSeq
  }

  private def usage(): Unit = System.err.println(
    "usage: graft.Main sync|push|clone|create_views|prune|compact|compact_index|ann_search|index_status|jdbc_push|dbx_push|snowpipe_notify|gen|config|version " +
      "--source DIR | --url URL [--user U --password P --limit N] " +
      "--landing DIR --state DIR [--schema FILE] " +
      "[--hide-inactive-fields true|false] [--persistent-db DB] " +
      "[--wait SECONDS] [--chunk-size N] [--target-file-mb N] " +
      "[--jdbc-url URL --jdbc-table T --jdbc-driver CLASS] " +
      "[--corpus DIR --index-dir DIR [--deletes FILE --inserts FILE --hops N]] " +
      "[--ids \"0,5,9\" | --probes FILE] [--k N] [--beam B] [--entries E] [--seed hash|ivf] " +
      "[--dbx-url URL --dbx-token T --warehouse-id W [--catalog C --db-schema S --batch-tag TAG]] " +
      "[--sf-url URL --account A --user U --pipe P --files f1,f2 (--private-key B64 | --private-key-file F)]")
}
