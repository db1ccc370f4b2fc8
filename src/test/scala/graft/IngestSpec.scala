package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ingest.Ingest
import java.sql.Timestamp

class IngestSpec extends SparkSpec {
  private val mapper = new ObjectMapper()
  private val bd = Timestamp.valueOf("2026-01-01 00:00:00")

  private def doc(id: String, arrLen: Int): String = {
    val arr = (0 until arrLen).map(i => s"""{"N":$i}""").mkString(",")
    s"""{"$$TYPE":"WELL","DOCUMENT_ID":"$id","$$VERSION":3,"$$AUTHOR_ID":"a1",
       |"$$DATE":"2026-01-02T03:04:05Z","$$DELETED":false,
       |"NAME":"w-$id","TESTS":[$arr]}""".stripMargin.replaceAll("\n", "")
  }

  test("metadata projection (T1): system fields land in typed columns") {
    val rs = Ingest.parseLine(mapper, doc("d1", 2), bd, chunkSize = 10)
    assert(rs.size == 1)
    val r = rs.head
    assert(r.`type` == "WELL" && r.id == "d1" && r.version == 3L)
    assert(r.chunk == 0 && r.author == "a1" && !r.deleted)
    assert(r.date == Timestamp.valueOf("2026-01-02 03:04:05"))
    assert(r.data.contains("\"NAME\":\"w-d1\""))
  }

  test("chunk split (T2) boundary: len == chunkSize stays whole") {
    val rs = Ingest.parseLine(mapper, doc("d1", 10), bd, chunkSize = 10)
    assert(rs.size == 1 && rs.head.chunk == 0)
    assert(rs.head.data.contains("\"TESTS\""))
  }

  test("chunk split (T2) boundary: len == chunkSize+1 splits into 2 slices") {
    val rs = Ingest.parseLine(mapper, doc("d1", 11), bd, chunkSize = 10)
    // main doc (array removed) + ceil(11/10)=2 slice docs
    assert(rs.map(_.chunk) == Seq(0, 1, 2))
    assert(!rs.head.data.contains("\"TESTS\""))
    val slices = rs.tail.map(r => mapper.readTree(r.data))
    assert(slices.forall(_.get("DOCUMENT_ID").asText == "d1"))
    assert(slices.map(_.get("TESTS").size).sum == 11)
    assert(slices.map(_.get("TESTS").size) == Seq(10, 1))
  }

  test("malformed lines and non-documents are skipped, not failed (S2)") {
    assert(Ingest.parseLine(mapper, "{not json", bd, 10).isEmpty)
    assert(Ingest.parseLine(mapper, """{"no_meta":1}""", bd, 10).isEmpty)
    assert(Ingest.parseLine(mapper, "", bd, 10).isEmpty)
  }

  test("landing store round-trips through parquet") {
    import spark.implicits._
    val df = Ingest.fromNdjsonLines(Seq(doc("a", 2), doc("b", 1)).toDS(), bd, 10)
    val path = java.nio.file.Files
      .createTempDirectory("graft-landing").toString + "/store"
    Ingest.appendBatch(df, path)
    val back = Ingest.readLanding(spark, path)
    assert(back.count() == 2)
    val a = back.filter("id = 'a'").collect().head
    assert(a.getAs[java.sql.Timestamp]("batch_date") == bd)
    assert(a.getAs[Long]("version") == 3L)
    assert(a.getAs[String]("data").contains("\"NAME\""))
  }

  test("distributed NDJSON parse preserves all chunks and skips bad lines") {
    import spark.implicits._
    val lines = Seq(doc("a", 25), doc("b", 3), "garbage").toDS()
    val df = Ingest.fromNdjsonLines(lines, bd, chunkSize = 10)
    val byId = df.groupBy("id").count().collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    assert(byId == Map("a" -> 4L, "b" -> 1L)) // a: main + 3 slices
  }
}
