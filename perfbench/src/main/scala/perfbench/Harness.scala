package perfbench

import graft.pipeline.{HttpDocumentSource, PagedSource, SourcePage}
import org.apache.spark.sql.{Column, DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions.{col, sum, when}
import java.nio.file.{Files, Path}
import scala.jdk.CollectionConverters._
import scala.util.Using

final case class Opts(workload: String, seed: Long, seconds: Int,
    trace: Boolean, work: Path, cpus: Int)

/** A metric as printed on the result line. */
final case class Metric(name: String, value: Double, unit: String)

/** State and helpers shared by the workloads: the Spark session, the
  * tracer, the attempt/failure tally, output checks and file sizes. */
final class Harness(val o: Opts) {
  val tracer = new Tracer(o.trace, s"${o.workload}-${o.seed}")
  var spark: SparkSession = _
  var attempted = 0L
  var failed = 0L

  val chunkSize = 10000
  val pageLimit = 10000

  private val t0 = System.nanoTime()

  /** Progress line on stderr, stamped with seconds since start. */
  def log(msg: String): Unit =
    System.err.println(f"perfbench: ${(System.nanoTime() - t0) / 1e9}%7.2f s $msg")

  /** A fresh session, as a user's process starts one. */
  def newSession(): SparkSession = {
    SparkSession.getActiveSession.foreach(_.stop())
    spark = graft.EngineSession.local("perfbench", o.cpus.toString)
      .config("spark.local.dir", o.work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", o.work.resolve("warehouse").toString)
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    tracer.attach(spark.sparkContext)
    spark
  }

  def source(server: SyncServer): HttpDocumentSource =
    new HttpDocumentSource(server.url, "bench", "bench", limit = pageLimit)

  /** Run all of a read's columns through Spark's noop sink: the plan is
    * executed whole, unlike count(), which prunes projections. */
  def noop(df: DataFrame): Unit =
    df.write.format("noop").mode("overwrite").save()

  /** A timed dashboard read: the noop write executes the query whole,
    * and the observation carries its small result out of that same
    * execution for the output check. */
  def readObserved(q: String, cols: Column*): Observation = {
    val obs = new Observation()
    noop(spark.sql(q).observe(obs, cols.head, cols.tail: _*))
    obs
  }

  /** Count one attempted operation; false or an exception is a failure. */
  def attempt(what: String)(body: => Boolean): Boolean = {
    attempted += 1
    val ok =
      try body
      catch {
        case e: Exception =>
          System.err.println(s"perfbench: $what failed: $e")
          false
      }
    if (!ok) failed += 1
    ok
  }

  /** The dashboard as the engine answers it over the registered views,
    * including the record, list-item record and FIELD views that the
    * timed dashboard does not read. */
  def readDashboard(): Dashboard = {
    def longs(q: String): Seq[Long] = {
      val r = spark.sql(q).collect().head
      (0 until r.length).map(i => if (r.isNullAt(i)) 0L else r.getLong(i))
    }
    val live = spark.sql(Dashboards.latest).collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val Seq(wells, depth, refs) = longs(Dashboards.typed)
    val Seq(items, value) = longs(Dashboards.child)
    val Seq(block) = longs(Dashboards.record)
    val Seq(score) = longs(Dashboards.itemRecord)
    val Seq(fields, area) = longs(Dashboards.field)
    Dashboard(live, wells, depth, refs, items, value, block, score, fields, area)
  }

  /** Compare every view with the generator's expected state. The latest
    * frame every view derives from is cached for the duration of the
    * check only, so the check queries dedup the store once. */
  def check(what: String, expected: Dashboard): Boolean = {
    val latest = spark.table("DOCUMENTS_LATEST").cache()
    val got =
      try readDashboard()
      finally latest.unpersist(blocking = true)
    same(what, got, expected)
  }

  /** Compare an output with its expected value; log a mismatch. */
  def same[T](what: String, got: T, expected: T): Boolean = {
    if (got != expected)
      System.err.println(s"perfbench: $what mismatch:\n  got      $got\n  expected $expected")
    got == expected
  }

  /** Check the three timed dashboard reads (`Dashboards.latest`,
    * `typed`, `child`), as their observations carried them out, against
    * the expected state. */
  def checkObserved(what: String, obs: Seq[Observation], expected: Dashboard): Boolean = {
    def longs(o: Observation, keys: String*) = keys.map(k => o.get(k) match {
      case null => 0L
      case v    => v.asInstanceOf[Long]
    })
    val Seq(latest, typed, child) = obs
    val live = Dashboards.live(latest)
    val Seq(wells, depth, refs) = longs(typed, "n", "depth", "refs")
    val Seq(items, value) = longs(child, "n", "v")
    // the timed dashboard does not read the record, list-item record
    // and FIELD views
    same(what, Dashboard(live, wells, depth, refs, items, value, 0, 0, 0, 0),
      expected.copy(blockSum = 0, scoreSum = 0, fieldLive = 0, areaSum = 0))
  }

  def parquetFiles(dir: String): Seq[Path] =
    if (!Files.exists(Path.of(dir))) Nil
    else Using.resource(Files.walk(Path.of(dir))) { st =>
      st.iterator.asScala.filter { p =>
        Files.isRegularFile(p) && p.getFileName.toString.endsWith(".parquet")
      }.toVector
    }

  def landingBytes(dir: String): Long = parquetFiles(dir).map(Files.size).sum

  private def landingDf(dir: String) =
    spark.read.schema(graft.ingest.Landing.schema).parquet(dir)

  def chunkRows(dir: String): Long = landingDf(dir).where("chunk > 0").count()

  def landingRows(dir: String): Long = landingDf(dir).count()

  def copy(from: Path, to: Path): Unit =
    Using.resource(Files.walk(from)) { st =>
      st.iterator.asScala.foreach { p =>
        val q = to.resolve(from.relativize(p).toString)
        if (Files.isDirectory(p)) Files.createDirectories(q) else Files.copy(p, q)
      }
    }

  def delete(p: Path): Unit =
    if (Files.exists(p)) Using.resource(Files.walk(p)) { st =>
      st.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
        .foreach(Files.delete)
    }
}

/** The queries the benchmark reads the views with. The first three are
  * the timed dashboard; the rest complete the output check, so every
  * kind of generated view (typed, record, list, list-item record) is
  * read and compared. */
object Dashboards {
  val latest = "SELECT type, count(*) AS n FROM DOCUMENTS_LATEST " +
    "WHERE chunk = 0 AND NOT deleted GROUP BY type"
  val typed = "SELECT count(*) AS n, sum(DEPTH) AS depth, count(FIELD_REF) AS refs " +
    "FROM WELL WHERE NOT _DELETED"
  val child = "SELECT count(*) AS n, sum(VALUE) AS v FROM WELL_READINGS"
  val record = "SELECT sum(BLOCK) AS b FROM WELL_LOCATION"
  val itemRecord = "SELECT sum(SCORE) AS s FROM WELL_READINGS_QC"
  val field = "SELECT count(*) AS n, sum(AREA) AS a FROM FIELD WHERE NOT _DELETED"

  /** Live documents per type, as a timed read of `latest` observed them. */
  def live(obs: Observation): Map[String, Long] =
    obs.get.collect { case (t, n: Long) => t -> n }

  /** What each timed read observes of its own result rows. */
  def observe(q: String): Seq[Column] =
    if (q == latest) Seq("WELL", "FIELD").map(t => sum(when(col("type") === t, col("n"))).as(t))
    else if (q == typed) Seq("n", "depth", "refs").map(c => sum(c).as(c))
    else Seq("n", "v").map(c => sum(c).as(c))
}

/** A paged source that times each fetch and opens one span per page,
  * so the jobs that land the page attach to it. The page span stays
  * open until the next fetch or `finish()`. */
final class TracedSource(inner: PagedSource, tracer: Tracer) extends PagedSource {
  private var landing: Option[Span] = None

  override def fetchPage(since: String): SourcePage = {
    finish()
    val p = tracer.span("pipeline.fetch")(inner.fetchPage(since))
    if (p.lines.nonEmpty) landing = Some(tracer.open("ingest.page"))
    p
  }

  def finish(): Unit = {
    landing.foreach(tracer.close)
    landing = None
  }
}

object Stats {
  def median(xs: Seq[Double]): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val n = s.size
      if (n % 2 == 1) s(n / 2) else (s(n / 2 - 1) + s(n / 2)) / 2
    }
}
