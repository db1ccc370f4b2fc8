package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Dataset, Encoder, Encoders, Observation, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions.{col, count, lit, row_number}
import org.apache.spark.sql.types._
import java.sql.Timestamp
import scala.jdk.CollectionConverters._

/** One landed document chunk — a row of the EXECUTE_DOCUMENTS landing
  * table (reference DDL: snowflake.go:47-60; types per SURVEY.md §1.2). */
final case class LandingRecord(
    batch_date: Timestamp,
    `type`: String,
    id: String,
    version: Long,
    chunk: Int,
    author: String,
    date: Timestamp,
    deleted: Boolean,
    data: String,
)

object Landing {
  /** Landing table schema (append-only; composite key
    * batch_date,type,id,version,chunk). */
  val schema: StructType = StructType(Seq(
    StructField("batch_date", TimestampType, false),
    StructField("type", StringType, false),
    StructField("id", StringType, false),
    StructField("version", LongType, false),
    StructField("chunk", IntegerType, false),
    StructField("author", StringType, true),
    StructField("date", TimestampType, true),
    StructField("deleted", BooleanType, false),
    StructField("data", StringType, true),
  ))
  val keyCols: Seq[String] = Seq("batch_date", "type", "id", "version", "chunk")

  /** The order that picks ONE row among rows sharing a landing PK:
    * every non-key column, ascending, so the pick is the least row and a
    * function of the rows alone. The in-page pick (`Ingest.land`) and
    * the store views (`Views`, after their newest key and chunk) both
    * order by it, so a page lands the row the views would keep. */
  val pickOrder: Seq[String] = Seq("data", "author", "date", "deleted")
}

/** NDJSON document batch → landing DataFrame.
  *
  * Replaces the reference's single-threaded reader+uploader
  * (cmd_sync.go:140-165 → snowflake.go:151-222) with a distributed
  * per-partition transform: each executor parses its share of lines,
  * projects metadata (T1), and applies the chunk split (T2). Parse
  * failures are skipped, matching the reference's log-and-skip reader
  * (cmd_sync.go:144-158).
  *
  * Scale note: this is a narrow map — no shuffle. At 100 TB the input
  * arrives as many files; parallelism = input splits. The chunk split is
  * kept for query-contract parity (chunk=0 filters and chunk re-union on
  * flatten) even though Parquet has no VARIANT size limit.
  */
object Ingest {

  /** Derived once: a per-call `spark.implicits` encoder re-runs Scala
    * reflection on every page. */
  private val landingEncoder: Encoder[LandingRecord] = Encoders.product[LandingRecord]

  /** Parse one line; None on any malformed input (skip semantics). */
  private[graft] def parseLine(
      mapper: ObjectMapper, line: String, batchDate: Timestamp,
      chunkSize: Int): Seq[LandingRecord] = {
    val node =
      try mapper.readTree(line)
      catch { case _: Exception => null }
    node match {
      case obj: ObjectNode
          if obj.hasNonNull("$TYPE") && obj.hasNonNull("DOCUMENT_ID") =>
        val docType = obj.get("$TYPE").asText
        val id = obj.get("DOCUMENT_ID").asText
        val version = Option(obj.get("$VERSION")).map(_.asDouble.toLong).getOrElse(0L)
        val author = Option(obj.get("$AUTHOR_ID")).map(_.asText).orNull
        val date = Option(obj.get("$DATE")).flatMap(d => parseTs(d.asText)).orNull
        val deleted = Option(obj.get("$DELETED")).exists(_.asBoolean)
        // T2: slice every top-level array longer than chunkSize into
        // standalone {DOCUMENT_ID, key: slice} docs; single running chunk
        // index, main doc = 0 (snowflake.go:166-194 semantics).
        val extra = scala.collection.mutable.ArrayBuffer.empty[ObjectNode]
        obj.fieldNames.asScala.toVector.foreach { key =>
          obj.get(key) match {
            case arr: ArrayNode if arr.size > chunkSize =>
              var i = 0
              while (i < arr.size) {
                val end = math.min(i + chunkSize, arr.size)
                val slice = mapper.createObjectNode()
                slice.put("DOCUMENT_ID", id)
                val sub = slice.putArray(key)
                (i until end).foreach(j => sub.add(arr.get(j)))
                extra += slice
                i += chunkSize
              }
              obj.remove(key)
            case _ =>
          }
        }
        (obj +: extra.toVector).zipWithIndex.map { case (chunkDoc, i) =>
          LandingRecord(batchDate, docType, id, version, i, author, date,
            deleted, mapper.writeValueAsString(chunkDoc))
        }
      case _ => Seq.empty
    }
  }

  private[graft] def parseTs(s: String): Option[Timestamp] =
    try Some(Timestamp.from(java.time.OffsetDateTime.parse(s).toInstant))
    catch {
      case _: Exception =>
        try Some(Timestamp.valueOf(s.replace('T', ' ').stripSuffix("Z")))
        catch { case _: Exception => None }
    }

  /** Distributed NDJSON → landing rows. */
  def fromNdjsonLines(
      lines: Dataset[String], batchDate: Timestamp,
      chunkSize: Int = 10000): DataFrame =
    lines
      .mapPartitions { (it: Iterator[String]) =>
        val mapper = new ObjectMapper()
        it.flatMap(l => parseLine(mapper, l, batchDate, chunkSize))
      }(landingEncoder)
      .toDF()

  /** Land one page as one query: parse + chunk split, keep one row per
    * landing PK (K3: a document delivered twice in a page lands once),
    * append. The kept row is the least under [[Landing.pickOrder]]
    * (`row_number() = 1`), the row the store views keep, so the landed
    * rows are a function of the page. `batch_date` is not in the pick's
    * key: one call stamps one `batchDate`. On a session built with
    * `GraftExtensions` (every `EngineSession`), `TopKRewrite` plans the
    * pick as a map-side top-1, one exchange and one sort, and that sort
    * also gives the write its `type` order; elsewhere it stays Spark's
    * window, with the same rows.
    * The sync loop and the streaming sink both land through here.
    * Returns the rows parsed (documents plus chunk slices, before the
    * pick), observed in that same execution. A page that parses to
    * nothing writes only `_SUCCESS`, no data file. The observation sits
    * in the pick's map stage, below its map-side top-1: a failed task
    * attempt adds nothing, but a successful map task that is re-executed
    * (speculation, lost shuffle output) adds its rows once more; the
    * landed rows are unaffected. */
  def land(lines: Dataset[String], batchDate: Timestamp, chunkSize: Int,
      landingPath: String): Long = {
    val parsed = Observation()
    val pk = Window.partitionBy(Landing.keyCols.filter(_ != "batch_date").map(col): _*)
      .orderBy(Landing.pickOrder.map(col): _*)
    appendBatch(fromNdjsonLines(lines, batchDate, chunkSize)
      .observe(parsed, count(lit(1)).as("rows"))
      .withColumn("__pick", row_number().over(pk))
      .where(col("__pick") === 1).drop("__pick"), landingPath)
    parsed.get("rows").asInstanceOf[Long]
  }

  /** Append a batch to the landing store (K1/K4 analogue: the columnar
    * write IS the bulk load). Parquet, partitioned by type so per-type
    * views prune files at scan time. */
  def appendBatch(df: DataFrame, landingPath: String): Unit = {
    df.write.mode("append").partitionBy("type").parquet(landingPath)
    invalidate(landingPath)
  }

  /** Evict every in-session reader memoized over `landingPath` (the
    * `Shared` registry). An append, prune or compaction changes the
    * files under the path; a memoized plan pins the OLD listing and
    * would miss new files or fail on deleted ones. */
  def invalidate(landingPath: String): Unit =
    graft.queries.Shared.invalidate(landingPath)

  /** Bucketed landing store — the shuffle-free path for the latest-
    * version views at scale (SCALE.md §2). Partitions by type and
    * hash-buckets by id: a bucketed scan reports HashPartitioning(id),
    * and id is a subset of every downstream clustering key — the R1
    * window (type,id,version) and the R2 window (type,id), each of
    * which also picks the landing PK — so the whole
    * latestAllVersions/latest pipeline runs WITHOUT A SINGLE EXCHANGE
    * over the landing store
    * (BucketingSpec proves it on the physical plan). On a 100 TB
    * landing that exchange is the dominant cost of every view refresh;
    * bucketing pays it once at write time, amortized across every
    * subsequent read. Reference semantics unchanged
    * (snowflake.go:264-287); bucket count is fixed at table-create
    * time — size it to ~(expected store size / 128 MB).
    *
    * Spark only honors bucketing through the catalog, so this writes a
    * TABLE (with optional explicit location), not a bare path.
    *
    * `nBuckets` and `location` take effect ONLY when the table is first
    * created — on a subsequent append Spark uses the catalog's bucket
    * spec and path and silently ignores the arguments. To keep that
    * from masking a caller bug, an append to an existing table asserts
    * the arguments match the catalog metadata. */
  def appendBatchBucketed(df: DataFrame, table: String,
      nBuckets: Int = 32, location: Option[String] = None): Unit = {
    val ss = df.sparkSession
    val ident = ss.sessionState.sqlParser.parseTableIdentifier(table)
    if (ss.sessionState.catalog.tableExists(ident)) {
      val meta = ss.sessionState.catalog.getTableMetadata(ident)
      meta.bucketSpec.foreach { bs =>
        require(bs.numBuckets == nBuckets,
          s"$table exists with ${bs.numBuckets} buckets; append passed " +
            s"$nBuckets — bucket count is fixed at table creation")
      }
      location.foreach { p =>
        // fully qualify both sides (scheme + authority + path) — a bare
        // path comparison would let an append against a same-path
        // location on a DIFFERENT filesystem pass the guard silently
        val hconf = ss.sparkContext.hadoopConfiguration
        def qualified(u: String): java.net.URI = {
          val pa = new org.apache.hadoop.fs.Path(u)
          pa.getFileSystem(hconf).makeQualified(pa).toUri
        }
        val want = qualified(p)
        val have = qualified(meta.location.toString)
        require(have == want,
          s"$table exists at $have; append passed $want — location is " +
            "fixed at table creation")
      }
    }
    val w = df.write.mode("append").format("parquet")
      .partitionBy("type")
      .bucketBy(nBuckets, "id")
      .sortBy("id", "version")
    location.fold(w)(p => w.option("path", p)).saveAsTable(table)
    df.sparkSession.catalog.refreshTable(table)
  }

  /** Read the landing store back with the canonical schema. */
  def readLanding(spark: SparkSession, landingPath: String): DataFrame =
    spark.read.schema(Landing.schema).parquet(landingPath)
}
