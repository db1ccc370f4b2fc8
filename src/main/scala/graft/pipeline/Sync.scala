package graft.pipeline

import graft.ingest.Ingest
import graft.model.RootSchema
import graft.views.Views
import org.apache.spark.sql.{Dataset, Observation, SparkSession}
import org.apache.spark.sql.functions.{count, lit}
import java.nio.file.{Files, Paths, Path}
import java.sql.Timestamp
import scala.jdk.CollectionConverters._
import scala.util.Using

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
final case class SyncPage(files: Seq[Path], cursor: String, truncated: Boolean)

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

/** File-based document source: NDJSON files in `dir`, ordered by name;
  * `since` is an exclusive filename watermark (the HTTP source S1 would
  * slot in behind the same pager interface). */
final class FileDocumentSource(dir: String, pageFiles: Int = 10) {
  def fetchPage(since: String): SyncPage = {
    // Using closes the directory stream — the sync loop runs forever, so
    // an unclosed Files.list leaks a directory handle per poll
    val all = Using.resource(Files.list(Paths.get(dir))) { st =>
      st.iterator.asScala
        .filter(p => p.getFileName.toString.endsWith(".ndjson"))
        .toVector
    }.sortBy(_.getFileName.toString)
      .filter(_.getFileName.toString > since)
    val page = all.take(pageFiles)
    SyncPage(page,
      cursor = page.lastOption.map(_.getFileName.toString).getOrElse(since),
      truncated = all.size > pageFiles)
  }
}

final class SyncPipeline(
    spark: SparkSession,
    sourceDir: String,
    landingPath: String,
    stateDir: String,
    chunkSize: Int = 10000,
    pageFiles: Int = 10) {

  val state = new SyncState(stateDir)
  private val source = new FileDocumentSource(sourceDir, pageFiles)

  /** One sync run: page through new files, land each page, persist the
    * cursor per page (O2). Returns the rows parsed: documents plus chunk
    * slices, counted before the in-page dedup. */
  def syncOnce(force: Boolean = false): Long = {
    var cursor = state.read(force)
    var total = 0L
    var more = true
    val batchDate = new Timestamp(System.currentTimeMillis())
    while (more) {
      val page = source.fetchPage(cursor)
      if (page.files.isEmpty) more = false
      else {
        total += landPage(
          spark.read.textFile(page.files.map(_.toString): _*), batchDate)
        cursor = page.cursor
        state.write(cursor)
        more = page.truncated
      }
    }
    total
  }

  /** One sync run against any paged source (e.g. HttpDocumentSource):
    * the same page/land/persist-cursor loop and return as `syncOnce`. */
  def syncFrom(source: PagedSource, force: Boolean = false): Long = {
    var cursor = state.read(force)
    var total = 0L
    var more = true
    val batchDate = new Timestamp(System.currentTimeMillis())
    while (more) {
      val page = source.fetchPage(cursor)
      if (page.lines.nonEmpty) {
        import spark.implicits._
        total += landPage(spark.createDataset(page.lines), batchDate)
      }
      cursor = page.cursor
      state.write(cursor)
      more = page.truncated && page.lines.nonEmpty
    }
    total
  }

  /** Land one page as one query: parse + chunk split, dedup on the
    * landing PK (K3: a document delivered twice in a page lands once),
    * append. Returns the rows parsed, observed in that same execution. A
    * page that parses to nothing writes only `_SUCCESS`, no data file.
    * The observation sits in the dedup's map stage: a failed task attempt
    * adds nothing, but a successful map task that is re-executed
    * (speculation, lost shuffle output) adds its rows once more; the
    * landed rows are unaffected. */
  private def landPage(lines: Dataset[String], batchDate: Timestamp): Long = {
    val parsed = Observation()
    Ingest.appendBatchDedup(Ingest.fromNdjsonLines(lines, batchDate, chunkSize)
      .observe(parsed, count(lit(1)).as("rows")), landingPath)
    parsed.get("rows").asInstanceOf[Long]
  }

  /** create_views (§3.2): register the R1/R2 + typed view catalog over
    * the current landing store. */
  def createViews(schema: RootSchema): Seq[String] = {
    val landing = spark.read.schema(graft.ingest.Landing.schema)
      .parquet(landingPath)
    val latest = Views.latest(landing)
    latest.createOrReplaceTempView("DOCUMENTS_LATEST")
    Views.latestAllVersions(landing)
      .createOrReplaceTempView("DOCUMENTS_LATEST_ALL_VERSIONS")
    // the SCD2 companion of _LATEST_ALL_VERSIONS: same rows, annotated
    // with validity intervals — registered so point-in-time SQL can
    // BETWEEN-join it without touching the Scala API
    Views.history(landing)
      .createOrReplaceTempView("DOCUMENTS_HISTORY")
    Seq("DOCUMENTS_LATEST", "DOCUMENTS_LATEST_ALL_VERSIONS",
      "DOCUMENTS_HISTORY") ++
      Views.registerAll(latest, schema)
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
    * latest batch_date for their (type,id,version,chunk). Rewrites to a
    * staging dir then swaps, since Parquet has no DELETE. */
  def prune(): Unit = {
    val landing = spark.read.schema(graft.ingest.Landing.schema)
      .parquet(landingPath)
    val staging = landingPath.stripSuffix("/") + ".pruned"
    Views.prune(landing).write.mode("overwrite")
      .partitionBy("type").parquet(staging)
    val target = Paths.get(landingPath)
    deleteRecursive(target)
    Files.move(Paths.get(staging), target)
    invalidateCaches()
  }

  /** Compaction: rewrite the landing store into ~`targetFileMB`-sized
    * files per type partition (small-file mitigation for the append-only
    * store — the OPTIMIZE analogue; at cluster scale run per partition
    * on a schedule). Preserves all rows; combine with prune() for
    * physical dedup. */
  def compact(targetFileMB: Int = 128): Unit = {
    val landing = spark.read.schema(graft.ingest.Landing.schema)
      .parquet(landingPath)
    val bytes = Using.resource(Files.walk(Paths.get(landingPath))) { st =>
      st.iterator.asScala
        .filter(p => p.toString.endsWith(".parquet") && Files.isRegularFile(p))
        .map(Files.size).sum
    }
    val nFiles = math.max(1, (bytes / (targetFileMB.toLong << 20)).toInt)
    val staging = landingPath.stripSuffix("/") + ".compacted"
    landing.repartition(nFiles).write.mode("overwrite")
      .partitionBy("type").parquet(staging)
    val target = Paths.get(landingPath)
    deleteRecursive(target)
    Files.move(Paths.get(staging), target)
    invalidateCaches()
  }

  // prune/compact replace the files under landingPath in place; any
  // memoized reader plan pins the OLD file listing and would fail (or
  // silently serve stale rows) on next use
  private def invalidateCaches(): Unit = {
    graft.queries.Tables.invalidate(landingPath)
    graft.queries.Shared.invalidate(landingPath)
  }

  private def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator.asScala.foreach(Files.delete)
      }
    }
}
