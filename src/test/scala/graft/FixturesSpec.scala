package graft

import graft.ingest.Ingest
import graft.model.SchemaCodec
import graft.views.Views
import java.sql.Timestamp

/** End-to-end run of the exact FIXTURES.md scenario: F1 schema → F2
  * NDJSON (ChunkSize=2) → F3 landing/dedup/view expectations. */
class FixturesSpec extends SparkSpec {

  val f1Schema = SchemaCodec.parse(
    """{
      |  "WELL": {
      |    "NAME":        {"NAME": "NAME", "ACTIVE": true, "TYPE": "TEXT", "NULLABLE": false, "SIZE": 120},
      |    "API_NUMBER":  {"NAME": "API_NUMBER", "ACTIVE": true, "TYPE": "UWI", "NULLABLE": true},
      |    "EXTERNAL_ID": {"NAME": "EXTERNAL_ID", "ACTIVE": true, "TYPE": "GUID", "NULLABLE": true},
      |    "SPUD_COUNT":  {"NAME": "SPUD_COUNT", "ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
      |    "DEPTH_M":     {"NAME": "DEPTH_M", "ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true},
      |    "IS_ACTIVE":   {"NAME": "IS_ACTIVE", "ACTIVE": true, "TYPE": "BOOLEAN", "NULLABLE": false},
      |    "SPUD_DATE":   {"NAME": "SPUD_DATE", "ACTIVE": true, "TYPE": "DATETIME", "NULLABLE": true, "DATE_UNZONED": true},
      |    "OPERATOR":    {"NAME": "OPERATOR", "ACTIVE": true, "TYPE": "DOCUMENT", "NULLABLE": true, "DOCUMENT_TYPE": "COMPANY"},
      |    "LOCATION":    {"NAME": "LOCATION", "ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |                    "RECORD_TYPE": {
      |                      "LAT": {"NAME": "LAT", "ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true},
      |                      "LON": {"NAME": "LON", "ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true}
      |                    }},
      |    "READINGS":    {"NAME": "READINGS", "ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |                    "RECORD_TYPE": {
      |                      "TS":    {"NAME": "TS", "ACTIVE": true, "TYPE": "DATETIME", "NULLABLE": false},
      |                      "VALUE": {"NAME": "VALUE", "ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true},
      |                      "TAGS":  {"NAME": "TAGS", "ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |                                "RECORD_TYPE": {"TAG": {"NAME": "TAG", "ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}}
      |                    }},
      |    "LEGACY_CODE": {"NAME": "LEGACY_CODE", "ACTIVE": false, "TYPE": "TEXT", "NULLABLE": true},
      |    "CALC_EUR":    {"NAME": "CALC_EUR", "ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true, "FORMULA": "SUM(READINGS.VALUE)"},
      |    "MYSTERY":     {"NAME": "MYSTERY", "ACTIVE": true, "TYPE": "GEOMETRY", "NULLABLE": true}
      |  },
      |  "COMPANY": {
      |    "NAME": {"NAME": "NAME", "ACTIVE": true, "TYPE": "TEXT", "NULLABLE": false}
      |  }
      |}""".stripMargin)

  val f2Lines = Seq(
    """{"$TYPE":"WELL","DOCUMENT_ID":"W1","$VERSION":1,"$AUTHOR_ID":"u1","$DATE":"2026-01-01T00:00:00Z","$DELETED":false,"NAME":"Alpha","SPUD_COUNT":2,"DEPTH_M":1234.5,"IS_ACTIVE":true,"SPUD_DATE":"2026-01-01T08:00:00Z","OPERATOR":{"DOCUMENT_ID":"C1"},"LOCATION":{"LAT":52.1,"LON":-114.0},"READINGS":[{"TS":"2026-01-01T00:00:00Z","VALUE":1.0},{"TS":"2026-01-02T00:00:00Z","VALUE":2.0},{"TS":"2026-01-03T00:00:00Z","VALUE":3.0}]}""",
    """{"$TYPE":"WELL","DOCUMENT_ID":"W1","$VERSION":2,"$AUTHOR_ID":"u2","$DATE":"2026-02-01T00:00:00Z","$DELETED":false,"NAME":"Alpha-renamed","IS_ACTIVE":true,"READINGS":[]}""",
    """{"$TYPE":"WELL","DOCUMENT_ID":"W2","$VERSION":1,"$AUTHOR_ID":"u1","$DATE":"2026-01-15T00:00:00Z","$DELETED":true,"NAME":"Bravo","IS_ACTIVE":false}""",
    """not-json — parser must log and skip this line""",
    """{"$TYPE":"COMPANY","DOCUMENT_ID":"C1","$VERSION":7,"$AUTHOR_ID":"u3","$DATE":"2026-01-10T00:00:00Z","$DELETED":false,"NAME":"Acme"}""")

  private def land(batch: String, lines: Seq[String]) = {
    import spark.implicits._
    Ingest.fromNdjsonLines(lines.toDS(), Timestamp.valueOf(batch), chunkSize = 2)
  }

  test("F2 chunk split with ChunkSize=2: W1v1 = chunk0 + 2 slices; corrupt line skipped") {
    val b1 = land("2026-03-01 00:00:00", f2Lines)
    assert(b1.count() == 6) // W1v1×3 + W1v2 + W2 + C1; bad line skipped
    val w1v1 = b1.filter("id = 'W1' and version = 1").collect().sortBy(_.getAs[Int]("chunk"))
    assert(w1v1.map(_.getAs[Int]("chunk")).toSeq == Seq(0, 1, 2))
    assert(!w1v1(0).getAs[String]("data").contains("READINGS"))
  }

  test("F3 dedup: replay keeps newest copy; _LATEST keeps v2; prune removes exactly the stale row") {
    val b1 = land("2026-03-01 00:00:00", f2Lines)
    val b2 = land("2026-03-02 00:00:00",
      f2Lines.filter(_.contains("\"$VERSION\":2"))) // re-land W1 v2 only
    val landing = b1.unionByName(b2)
    val all = Views.latestAllVersions(landing)
    // v2 survives only as B2's copy; v1 (3 chunks) + W2 + C1 from B1
    assert(all.count() == 6)
    val v2 = all.filter("id = 'W1' and version = 2").collect()
    assert(v2.map(_.getAs[Timestamp]("batch_date")).toSeq ==
      Seq(Timestamp.valueOf("2026-03-02 00:00:00")))
    val latest = Views.latest(landing)
    assert(latest.filter("type = 'WELL' and id = 'W1'")
      .collect().map(_.getAs[Long]("version")).toSeq == Seq(2L))
    assert(Views.pruneDeletes(landing).count() == 1) // exactly B1's v2 row
  }

  test("F1+F3 typed views: tombstone visible, FK projected, list-in-list refused, unknown type skipped") {
    val landing = land("2026-03-01 00:00:00", f2Lines)
    val latest = Views.latest(landing)
    latest.createOrReplaceTempView("F1_LATEST")
    val names = Views.registerAll(spark, "F1_LATEST", f1Schema.withoutInactive)
    assert(names.contains("WELL") && names.contains("WELL_LOCATION")
      && names.contains("WELL_READINGS") && names.contains("COMPANY"))
    assert(!names.contains("WELL_READINGS_TAGS")) // no list-in-list view
    val well = spark.table("WELL")
    assert(!well.columns.contains("LEGACY_CODE")) // inactive dropped
    assert(!well.columns.contains("MYSTERY"))     // unknown type skipped
    val w2 = well.filter("DOCUMENT_ID = 'W2'").collect().head
    assert(w2.getAs[Boolean]("_DELETED")) // tombstone visible
    val w1 = well.filter("DOCUMENT_ID = 'W1'").collect().head
    assert(w1.getAs[Long]("_VERSION") == 2L)
    assert(w1.getAs[String]("NAME") == "Alpha-renamed")
    assert(w1.getAs[String]("OPERATOR") == null) // v2 has no OPERATOR
    // FK projection visible at v1 via latestAllVersions-based view
    val allWell = Views.typedView(Views.latestAllVersions(landing), "WELL",
      f1Schema.withoutInactive("WELL"))
    val w1v1 = allWell.filter("DOCUMENT_ID = 'W1' and _VERSION = 1").collect().head
    assert(w1v1.getAs[String]("OPERATOR") == "C1")
    assert(w1v1.getAs[Double]("DEPTH_M") == 1234.5)
    // READINGS flatten re-unions the chunk slices: 3 rows for W1
    val readings = spark.table("WELL_READINGS")
    // note: latest view has v2 (empty READINGS); flatten over all
    // versions shows the chunk re-union
    val rAll = Views.recordListView(Views.latestAllVersions(landing), "WELL",
      f1Schema.withoutInactive("WELL"), "READINGS")
    assert(rAll.filter("DOCUMENT_ID = 'W1'").count() == 3)
    assert(readings.filter("DOCUMENT_ID = 'W1'").count() == 0) // v2 empty
  }
}
