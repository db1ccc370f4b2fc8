package graft

import graft.ingest.LandingRecord
import graft.model.SchemaCodec
import graft.views.Views
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame

/** V7 durability parity (round-12 task 5): the reference's generated
  * catalog is `CREATE OR REPLACE SECURE VIEW` DDL that survives the
  * session (snowflake.go:362); `createOrReplaceTempView` dies with it.
  * registerAllPersistent emits the SAME catalog as persistent SQL views
  * over the landing path. Two pins here:
  *   1. NO DRIFT — for every view the walk generates (typed, nested
  *      record, list flatten, record-under-list-item, plus the three
  *      store views), the persistent SQL text returns row-for-row what
  *      the DataFrame builders return, on a fixture exercising replay
  *      dedup, version argmax, chunk re-union and tombstones; and the
  *      temp catalog stores the same text, over other relations.
  *   2. DURABILITY — a NEW session (same catalog) resolves the
  *      persistent views after the defining session's temp views are
  *      gone. In-memory catalog: any session of the SparkContext;
  *      pointed at a real metastore (HMS/Unity), any session ever —
  *      that switch is config, not code. */
class PersistentViewsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def rec(batch: String, typ: String, id: String, ver: Long,
      chunk: Int = 0, deleted: Boolean = false, data: String = "{}",
      author: String = "a") =
    LandingRecord(ts(batch), typ, id, ver, chunk, author, ts(batch), deleted, data)

  // every view shape in one schema: scalars of each cast class, a
  // DOCUMENT reference, a RECORD, a RECORD LIST under the RECORD, and
  // a RECORD under the list item
  private val schema = SchemaCodec.parse(
    """{"DOC": {
      |  "LANG": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |  "N_CHARS": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
      |  "SCORE": {"ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true},
      |  "OK": {"ACTIVE": true, "TYPE": "BOOLEAN", "NULLABLE": true},
      |  "WHEN": {"ACTIVE": true, "TYPE": "DATETIME", "NULLABLE": true},
      |  "SOURCE_REF": {"ACTIVE": true, "TYPE": "DOCUMENT", "NULLABLE": true,
      |    "DOCUMENT_TYPE": "SRC"},
      |  "META": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |    "RECORD_TYPE": {
      |      "OWNER": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |      "ITEMS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |        "RECORD_TYPE": {
      |          "VAL": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
      |          "POS": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |            "RECORD_TYPE": {
      |              "X": {"ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true}
      |            }}}}}}
      |},
      |"SRC": {
      |  "SOURCE_NAME": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}
      |}}""".stripMargin)

  private def doc(owner: String, items: String, lang: String = "en") =
    s"""{"LANG": "$lang", "N_CHARS": 42, "SCORE": 1.5, "OK": true,
       |"WHEN": "2026-01-03T04:05:06Z",
       |"SOURCE_REF": {"DOCUMENT_ID": "s1"},
       |"META": {"OWNER": "$owner", "ITEMS": [$items]}}""".stripMargin
  private def item(id: String, v: Int, x: Double) =
    s"""{"LISTITEM_ID": "$id", "VAL": $v, "POS": {"X": $x}}"""

  private val d2Chunk1 = """{"META": {"ITEMS": [""" + item("D", 4, 3.5) + "]}}"
  private val d3Data = doc("dead", item("E", 5, 4.5))

  // replay (d1 v1 twice), version argmax (d1 v2 wins), a chunk-split
  // list (d2: items split across chunks 0 and 1 — the flatten must
  // re-union), a tombstone (d3), and one SRC dimension row. Two PKs
  // also carry a second row that is NOT a replay copy, listed first:
  // d2's chunk 1 with a greater `data` and d3 with a greater `author`
  // — every store view must keep the least row of each PK.
  private val fixture = Seq(
    rec("2026-01-01 00:00:00", "DOC", "d1", 1,
      data = doc("old", item("A", 1, 0.5))),
    rec("2026-01-02 00:00:00", "DOC", "d1", 1,
      data = doc("old", item("A", 1, 0.5))), // at-least-once replay
    rec("2026-01-02 00:00:00", "DOC", "d1", 2,
      data = doc("new", item("B", 2, 1.5))),
    rec("2026-01-01 00:00:00", "DOC", "d2", 1, chunk = 0,
      data = doc("two", item("C", 3, 2.5))),
    rec("2026-01-01 00:00:00", "DOC", "d2", 1, chunk = 1,
      data = d2Chunk1.replace("\"D\"", "\"Z\"")),
    rec("2026-01-01 00:00:00", "DOC", "d2", 1, chunk = 1, data = d2Chunk1),
    rec("2026-01-02 00:00:00", "DOC", "d3", 2, deleted = true,
      data = d3Data, author = "b"),
    rec("2026-01-02 00:00:00", "DOC", "d3", 2, deleted = true,
      data = d3Data),
    rec("2026-01-01 00:00:00", "SRC", "s1", 1,
      data = """{"SOURCE_NAME": "UPSTREAM"}"""))

  private lazy val landingDir = {
    import spark.implicits._
    val dir = Files.createTempDirectory("graft-persist-landing").toString
    spark.createDataset(fixture).toDF()
      .write.mode("overwrite").parquet(dir)
    dir
  }
  private def landing: DataFrame =
    spark.read.schema(graft.ingest.Landing.schema).parquet(landingDir)

  private val db = "graft_persist_spec"
  private lazy val registered =
    Views.registerAllPersistent(spark, landingDir, schema, db)

  test("persistent catalog registers the full walk plus the store views") {
    assert(registered.toSet == Set(
      s"$db.DOCUMENTS_LATEST_ALL_VERSIONS", s"$db.DOCUMENTS_LATEST",
      s"$db.DOCUMENTS_HISTORY",
      s"$db.DOC", s"$db.DOC_META", s"$db.DOC_META_ITEMS",
      s"$db.DOC_META_ITEMS_POS", s"$db.SRC"))
  }

  private def rows(df: DataFrame): Set[String] =
    df.collect().map(_.toSeq.map(String.valueOf).mkString("|")).toSet

  test("every persistent view matches its DataFrame builder row-for-row") {
    registered // force registration
    val latest = Views.latest(landing)
    val expected: Map[String, DataFrame] = Map(
      "DOCUMENTS_LATEST_ALL_VERSIONS" -> Views.latestAllVersions(landing),
      "DOCUMENTS_LATEST" -> latest,
      "DOCUMENTS_HISTORY" -> Views.history(landing),
      "DOC" -> Views.typedView(latest, "DOC", schema("DOC")),
      "SRC" -> Views.typedView(latest, "SRC", schema("SRC")),
      "DOC_META" -> Views.recordView(latest, "DOC", schema("DOC"),
        Seq("META")),
      "DOC_META_ITEMS" -> Views.recordListView(latest, "DOC",
        schema("DOC"), Seq("META", "ITEMS")),
      "DOC_META_ITEMS_POS" -> Views.listItemRecordView(latest, "DOC",
        schema("DOC"), Seq("META", "ITEMS"), Seq("POS")))
    expected.foreach { case (name, df) =>
      val persist = spark.table(s"$db.$name")
      assert(persist.columns.toSeq == df.columns.toSeq,
        s"$name columns drifted: ${persist.columns.toSeq} vs ${df.columns.toSeq}")
      assert(rows(persist) == rows(df), s"$name values drifted")
      assert(rows(persist).nonEmpty, s"$name fixture must be non-trivial")
    }
    // the fixture really exercised the machinery: chunk re-union puts
    // d2's split items C and D in one flatten; the tombstone is visible
    val items = spark.table(s"$db.DOC_META_ITEMS").collect()
      .filter(_.getAs[String]("DOCUMENT_ID") == "d2")
      .map(_.getAs[String]("LISTITEM_ID")).sorted
    assert(items.toSeq == Seq("C", "D"), "chunk re-union failed")
    val d3 = spark.table(s"$db.DOC").collect()
      .find(_.getAs[String]("DOCUMENT_ID") == "d3").get
    assert(d3.getAs[Boolean]("_DELETED"), "tombstone must stay visible")
    // and replay dedup + version argmax: d1 resolves to v2's payload
    val d1 = spark.table(s"$db.DOC_META").collect()
      .find(_.getAs[String]("DOCUMENT_ID") == "d1").get
    assert(d1.getAs[String]("OWNER") == "new")
  }

  test("every store view, DataFrame and persistent alike, keeps the " +
      "least row of a PK") {
    registered
    Seq("DOCUMENTS_LATEST_ALL_VERSIONS" -> Views.latestAllVersions(landing),
      "DOCUMENTS_LATEST" -> Views.latest(landing),
      "DOCUMENTS_HISTORY" -> Views.history(landing)).foreach { case (name, df) =>
      Seq("DataFrame" -> df, "persistent" -> spark.table(s"$db.$name"))
        .foreach { case (form, v) =>
          def kept(id: String, chunk: Int) =
            v.filter(s"id = '$id' AND chunk = $chunk").select("data", "author")
              .collect().map(r => (r.getString(0), r.getString(1))).toSeq
          assert(kept("d2", 1) == Seq((d2Chunk1, "a")), s"$form $name: data")
          assert(kept("d3", 0) == Seq((d3Data, "a")), s"$form $name: author")
        }
    }
  }

  test("the temp and persistent catalogs store one text per view, " +
      "differing only in the relations they read") {
    registered
    landing.createOrReplaceTempView("EXECUTE_DOCUMENTS")
    val temp = Views.registerStore(spark, "EXECUTE_DOCUMENTS", schema)
    assert(temp.map(n => s"$db.$n").toSet == registered.toSet)
    val catalog = spark.sessionState.catalog
    temp.foreach { name =>
      val tempText = catalog.getRawTempView(name).get.tableMeta.viewText.get
      val persistText = catalog.getTableMetadata(
        org.apache.spark.sql.catalyst.TableIdentifier(name, Some(db))).viewText.get
      assert(persistText == tempText
        .replace("`EXECUTE_DOCUMENTS`", s"parquet.`$landingDir`")
        .replace("`DOCUMENTS_LATEST`", s"`$db`.`DOCUMENTS_LATEST`"), name)
      assert(rows(spark.table(name)) == rows(spark.table(s"$db.$name")), name)
    }
  }

  test("a NEW session resolves the persistent views; temp views are gone") {
    registered
    Views.typedView(Views.latest(landing), "DOC", schema("DOC"))
      .createOrReplaceTempView("PERSIST_SPEC_TEMP")
    val s2 = spark.newSession()
    // the durability contract: the persistent catalog outlives the
    // defining session's state...
    assert(s2.table(s"$db.DOC").count() == 3)
    assert(s2.table(s"$db.DOC_META_ITEMS").count() == 4)
    // d1 v2 + d2 v1's two chunks + d3 v2 + SRC s1
    assert(s2.sql(s"SELECT COUNT(*) FROM $db.DOCUMENTS_LATEST")
      .head().getLong(0) == 5)
    // ...while temp views do not
    assertThrows[Exception](s2.table("PERSIST_SPEC_TEMP").collect())
  }

  test("re-registration is idempotent (CREATE OR REPLACE)") {
    registered
    val again = Views.registerAllPersistent(spark, landingDir, schema, db)
    assert(again.toSet == registered.toSet)
    assert(spark.table(s"$db.DOC").count() == 3)
  }

  test("r85's landing store is written once per JVM: a second session " +
      "neither rewrites it nor reads different rows") {
    val r85 = SparkEntry.queries("r85_persistent_view")
    def listing(path: String) =
      new java.io.File(path).listFiles().map(f => (f.getName, f.lastModified)).toSet
    val first = r85(spark, sf001).collect().toSeq
    val path = graft.queries.DocViews.r85Store(spark, sf001)
    val files = listing(path)
    assert(files.exists(_._1.endsWith(".parquet")))
    val second = r85(spark.newSession(), sf001).collect().toSeq
    assert(listing(path) == files, "a second session rewrote the r85 store")
    assert(second == first && first.nonEmpty)
  }
}
