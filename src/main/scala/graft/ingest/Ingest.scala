package graft.ingest

import com.fasterxml.jackson.databind.ObjectMapper
import com.fasterxml.jackson.databind.node.{ArrayNode, ObjectNode}
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
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
      chunkSize: Int = 10000): DataFrame = {
    val spark = lines.sparkSession
    import spark.implicits._
    lines
      .mapPartitions { it =>
        val mapper = new ObjectMapper()
        it.flatMap(l => parseLine(mapper, l, batchDate, chunkSize))
      }
      .toDF()
  }

  /** Read an NDJSON file/directory into landing form. */
  def readNdjson(spark: SparkSession, path: String, batchDate: Timestamp,
      chunkSize: Int = 10000): DataFrame = {
    import spark.implicits._
    fromNdjsonLines(spark.read.textFile(path).as[String], batchDate, chunkSize)
  }

  /** Append a batch to the landing store (K1/K4 analogue: the columnar
    * write IS the bulk load). Partitioned by type so per-type views prune
    * files at scan time. `format` covers the Spark-native columnar/row
    * stores (parquet default; orc for ORC-standardized estates; json
    * for an interchange-friendly landing log). */
  def appendBatch(df: DataFrame, landingPath: String,
      format: String = "parquet"): Unit = {
    val w = df.write.mode("append").partitionBy("type").format(format)
    // CSV staging mirrors the reference's file-staged loads (Snowflake
    // CSV snowflake.go:131-147, Databricks TSV nullValue='NULL'
    // databricks.go:153-155, 242-247): a sentinel distinguishes NULL
    // from the empty string, which bare CSV cannot represent
    (if (format == "csv") w.option("nullValue", "NULL") else w)
      .save(landingPath)
    // an in-session reader may hold a memoized plan over this path —
    // evict so the next read lists the new files
    graft.queries.Tables.invalidate(landingPath)
    graft.queries.Shared.invalidate(landingPath)
  }

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

  /** Read the landing store back with the canonical schema (required:
    * schema-on-read keeps json/csv stores type-exact). */
  def readLanding(spark: SparkSession, landingPath: String,
      format: String = "parquet"): DataFrame = {
    val r = spark.read.schema(Landing.schema).format(format)
    (if (format == "csv") r.option("nullValue", "NULL") else r)
      .load(landingPath)
  }

  /** K3-style idempotent write: drop exact landing-key duplicates within
    * the batch before append (replays across batches are absorbed by the
    * latest-version views, SURVEY.md §2.4). */
  def appendBatchDedup(df: DataFrame, landingPath: String): Unit =
    appendBatch(df.dropDuplicates(Landing.keyCols), landingPath)
}
