package graft.pipeline

import graft.ingest.Ingest
import graft.model.RootSchema
import graft.views.Views
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}
import java.sql.Timestamp
import scala.annotation.tailrec
import scala.jdk.CollectionConverters._
import scala.util.Using

/** S4 — cursor persisted as `{stateDir}/last_sync_date.txt`; missing file
  * or force ⇒ full sync from epoch (cmd_sync.go:85-90, 189-206). */
final class SyncState(stateDir: String) {
  private val file = Paths.get(stateDir, "last_sync_date.txt")
  val Epoch = "1900-01-01"
  def read(force: Boolean = false): String =
    if (force || !Files.exists(file)) Epoch
    else Files.readString(file).trim
  def write(cursor: String): Unit = {
    Files.createDirectories(file.getParent)
    Files.writeString(file, cursor)
  }
  def reset(): Unit = Files.deleteIfExists(file)
}

/** Incremental sync orchestration (SURVEY.md §2.6, §3.1/§3.3).
  *
  * The reference polls an HTTP API with a server-issued high-water-mark
  * cursor persisted after every page (cmd_sync.go:77-187). In the
  * zero-egress build the document source is a directory of NDJSON files;
  * the cursor is a lexicographic filename watermark with identical
  * at-least-once semantics: the cursor advances only after a page's
  * batch is durably appended, and replays are absorbed by the
  * latest-version views (Views.latestAllVersions).
  */
final class SyncPipeline(
    spark: SparkSession,
    sourceDir: String,
    landingPath: String,
    stateDir: String,
    chunkSize: Int = 10000,
    pageFiles: Int = 10) {

  val state = new SyncState(stateDir)

  /** One sync run over the file source: NDJSON files in `sourceDir`,
    * ordered by name, `pageFiles` to a page; the cursor is an exclusive
    * filename watermark. Each page is read distributed, never pulled onto
    * the driver. Returns the rows parsed (see `sync`). */
  def syncOnce(force: Boolean = false): Long = sync(force) { since =>
    // Using closes the directory stream — the sync loop runs forever, so
    // an unclosed Files.list leaks a directory handle per poll
    val all = Using.resource(Files.list(Paths.get(sourceDir))) { st =>
      st.iterator.asScala.map(_.getFileName.toString)
        .filter(f => f.endsWith(".ndjson") && f > since).toVector
    }.sorted
    val page = all.take(pageFiles)
    (Option.when(page.nonEmpty)(
      spark.read.textFile(page.map(Paths.get(sourceDir, _).toString): _*)),
      page.lastOption.getOrElse(since), all.size > pageFiles)
  }

  /** One sync run against any paged source (e.g. HttpDocumentSource).
    * Each page's lines are spooled to `{stateDir}/page.ndjson` and land
    * through the same text-file reader as the file source (Spark sizes
    * the splits); the next page overwrites the spool, and the run
    * deletes it when it ends, landed or not. Returns the rows parsed
    * (see `sync`). */
  def syncFrom(source: PagedSource, force: Boolean = false): Long = {
    val spool = Paths.get(stateDir, "page.ndjson")
    try sync(force) { since =>
      val page = source.fetchPage(since)
      (Option.when(page.lines.nonEmpty) {
        Files.createDirectories(spool.getParent)
        Files.write(spool, page.lines.asJava, StandardCharsets.UTF_8)
        spark.read.textFile(spool.toString)
      }, page.cursor, page.truncated)
    } finally Files.deleteIfExists(spool)
  }

  /** The sync loop (cmd_sync.go:77-187): `fetch` the page after the
    * cursor as (lines, the page's cursor, truncated), land it unless it
    * is empty, persist its cursor (O2: only after the append), and go on
    * while the page is truncated and non-empty. An empty page still
    * persists its cursor. One batch_date stamps the whole run. Returns
    * the rows parsed: documents plus chunk slices, counted before the
    * in-page pick. */
  private def sync(force: Boolean)(
      fetch: String => (Option[Dataset[String]], String, Boolean)): Long = {
    val batchDate = new Timestamp(System.currentTimeMillis())
    @tailrec def loop(cursor: String, total: Long): Long = {
      val (lines, next, truncated) = fetch(cursor)
      val n = lines.fold(0L)(Ingest.land(_, batchDate, chunkSize, landingPath))
      state.write(next)
      if (truncated && lines.nonEmpty) loop(next, total + n) else total + n
    }
    loop(state.read(force), 0L)
  }

  /** create_views (§3.2): point the temp view `EXECUTE_DOCUMENTS` (the
    * reference's landing table) at the current landing store, and
    * register the R1/R2 + typed view catalog over it as SQL text. The
    * catalog is created once; a later call re-points
    * `EXECUTE_DOCUMENTS` and creates again only the views whose
    * definition changed (see `Views.registerStore`). Returns the
    * registered names, `EXECUTE_DOCUMENTS` first. */
  def createViews(schema: RootSchema): Seq[String] = {
    Ingest.readLanding(spark, landingPath).createOrReplaceTempView("EXECUTE_DOCUMENTS")
    "EXECUTE_DOCUMENTS" +: Views.registerStore(spark, "EXECUTE_DOCUMENTS", schema)
  }

  /** create_views --persistent-db DB: the same catalog as SQL-text
    * `CREATE OR REPLACE VIEW` DDL in `spark_catalog`, surviving the
    * session — the reference's durability contract (its views are
    * warehouse DDL, snowflake.go:362). */
  def createViewsPersistent(schema: RootSchema, db: String): Seq[String] =
    Views.registerAllPersistent(spark, landingPath, schema, db)

  /** clone (§3.3): forced full sync + views; `source` switches to a
    * paged (e.g. HTTP) source, file source otherwise. */
  def clone(schema: RootSchema, source: Option[PagedSource] = None): Long = {
    val n = source match {
      case Some(src) => syncFrom(src, force = true)
      case None      => syncOnce(force = true)
    }
    createViews(schema)
    n
  }

  /** R4 prune: compact the landing store to only the rows that are the
    * latest batch_date for their (type,id,version,chunk). */
  def prune(): Unit = rewrite(Views.prune)

  /** Compaction: rewrite the landing store into ~`targetFileMB`-sized
    * files per type partition (small-file mitigation for the append-only
    * store — the OPTIMIZE analogue; at cluster scale run per partition
    * on a schedule). Preserves all rows; combine with prune() for
    * physical dedup. */
  def compact(targetFileMB: Int = 128): Unit = {
    val bytes = Using.resource(Files.walk(Paths.get(landingPath))) { st =>
      st.iterator.asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(Files.size).sum
    }
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    rewrite(_.repartition(nFiles))
  }

  /** Rewrite the landing store as `f` of itself: write to a staging dir,
    * swap it in (Parquet has no DELETE), and evict the in-session
    * readers, whose memoized plans pin the old file listing. */
  private def rewrite(f: DataFrame => DataFrame): Unit = {
    val staging = landingPath.stripSuffix("/") + ".staging"
    f(Ingest.readLanding(spark, landingPath)).write.mode("overwrite")
      .partitionBy("type").parquet(staging)
    val target = Paths.get(landingPath)
    graft.queries.Durable.deleteRecursive(target)
    Files.move(Paths.get(staging), target)
    Ingest.invalidate(landingPath)
  }

}
