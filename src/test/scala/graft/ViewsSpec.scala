package graft

import graft.ingest.{Ingest, Landing, LandingRecord}
import graft.model.{RootSchema, SchemaCodec}
import graft.views.Views
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame

class ViewsSpec extends SparkSpec {

  private def ts(s: String) = Timestamp.valueOf(s)
  private def rec(batch: String, typ: String, id: String, ver: Long,
      chunk: Int = 0, deleted: Boolean = false, data: String = "{}") =
    LandingRecord(ts(batch), typ, id, ver, chunk, "a", ts(batch), deleted, data)

  private def landing(rs: LandingRecord*): DataFrame = {
    import spark.implicits._
    spark.createDataset(rs).toDF()
  }

  /** The typed catalog over `latest`, registered under one name. */
  private def registerAll(latest: DataFrame, schema: RootSchema): Seq[String] = {
    latest.createOrReplaceTempView("SPEC_LATEST")
    Views.registerAll(spark, "SPEC_LATEST", schema)
  }

  test("R1 latestAllVersions keeps all chunks of the newest batch per (type,id,version)") {
    val df = landing(
      rec("2026-01-01 00:00:00", "W", "d1", 1, data = "old"),
      rec("2026-01-02 00:00:00", "W", "d1", 1, data = "new"), // replay of v1
      rec("2026-01-01 00:00:00", "W", "d1", 2),
      rec("2026-01-01 00:00:00", "W", "d2", 1))
    val out = Views.latestAllVersions(df).collect()
    assert(out.length == 3)
    val v1 = out.find(r => r.getAs[String]("id") == "d1" && r.getAs[Long]("version") == 1L).get
    assert(v1.getAs[String]("data") == "new")
  }

  test("R1 collapses exact PK-duplicate landings (doc delivered twice in one run)") {
    // same (batch_date,type,id,version,chunk) twice — the parquet store
    // has no PK, so R1 must restore it at read time
    val df = landing(
      rec("2026-01-01 00:00:00", "W", "d1", 1, data = "x"),
      rec("2026-01-01 00:00:00", "W", "d1", 1, data = "x"))
    assert(Views.latestAllVersions(df).count() == 1)
    assert(Views.latest(df).count() == 1)
  }

  test("R1 drops stale chunks when a version is replayed with fewer chunks") {
    // v1 lands at ts1 split into chunks 0..2; a re-chunked replay at ts2
    // lands the same version as chunks 0..1 only. The whole older batch —
    // including its chunk 2 — must die (snowflake.go CREATE VIEW
    // _LATEST_ALL_VERSIONS groups by TYPE,ID,VERSION, not per chunk).
    val df = landing(
      rec("2026-01-01 00:00:00", "W", "d1", 1, chunk = 0, data = "old0"),
      rec("2026-01-01 00:00:00", "W", "d1", 1, chunk = 1, data = "old1"),
      rec("2026-01-01 00:00:00", "W", "d1", 1, chunk = 2, data = "old2"),
      rec("2026-01-02 00:00:00", "W", "d1", 1, chunk = 0, data = "new0"),
      rec("2026-01-02 00:00:00", "W", "d1", 1, chunk = 1, data = "new1"))
    val out = Views.latestAllVersions(df).collect()
    assert(out.length == 2)
    assert(out.map(_.getAs[String]("data")).sorted.toSeq == Seq("new0", "new1"))
  }

  test("R2 latest keeps only the argmax version per (type,id); tombstones visible") {
    val df = landing(
      rec("2026-01-01 00:00:00", "W", "d1", 1),
      rec("2026-01-01 00:00:00", "W", "d1", 2, deleted = true),
      rec("2026-01-01 00:00:00", "W", "d2", 5),
      rec("2026-01-01 00:00:00", "X", "d1", 9)) // same id, other type
    val out = Views.latest(df).collect()
    assert(out.length == 3)
    val d1 = out.find(r => r.getAs[String]("type") == "W" && r.getAs[String]("id") == "d1").get
    assert(d1.getAs[Long]("version") == 2L && d1.getAs[Boolean]("deleted"))
  }

  test("R2 latest keeps every chunk of the winning version") {
    val df = landing(
      rec("2026-01-01 00:00:00", "W", "d1", 1, chunk = 0),
      rec("2026-01-01 00:00:00", "W", "d1", 1, chunk = 1),
      rec("2026-01-02 00:00:00", "W", "d1", 2, chunk = 0),
      rec("2026-01-02 00:00:00", "W", "d1", 2, chunk = 1),
      rec("2026-01-02 00:00:00", "W", "d1", 2, chunk = 2))
    val out = Views.latest(df).collect()
    assert(out.map(_.getAs[Long]("version")).toSet == Set(2L))
    assert(out.map(_.getAs[Int]("chunk")).sorted.toSeq == Seq(0, 1, 2))
  }

  test("incremental latest refresh ≡ full recompute (fold associativity)") {
    // adversarial batch mix: new version, same-version replay at a
    // later batch_date, STALE-version replay (must lose), tombstone
    // flip, and a re-chunked replay with fewer chunks (stale chunk of
    // the older batch must die with its batch)
    val history = Seq(
      rec("2026-01-01 00:00:00", "W", "d1", 1, data = "d1v1"),
      rec("2026-01-01 00:00:00", "W", "d2", 1, data = "d2v1"),
      rec("2026-01-01 00:00:00", "W", "d2", 2, data = "d2v2"),
      rec("2026-01-01 00:00:00", "W", "d3", 1, chunk = 0, data = "d3c0"),
      rec("2026-01-01 00:00:00", "W", "d3", 1, chunk = 1, data = "d3c1"),
      rec("2026-01-01 00:00:00", "W", "d4", 1, data = "d4v1"),
      rec("2026-01-01 00:00:00", "S", "d1", 1, data = "s1v1"))
    val batch = Seq(
      rec("2026-01-02 00:00:00", "W", "d1", 2, data = "d1v2"),       // new version
      rec("2026-01-02 00:00:00", "W", "d2", 1, data = "stale"),      // stale version replay
      rec("2026-01-02 00:00:00", "W", "d3", 1, chunk = 0, data = "d3c0b"), // re-chunked: chunk 1 must die
      rec("2026-01-02 00:00:00", "W", "d4", 2, deleted = true, data = "d4v2"), // tombstone
      rec("2026-01-02 00:00:00", "W", "d5", 1, data = "d5v1"))       // brand new doc
    val full = Views.latest(landing(history ++ batch: _*))
    val inc = Views.latestIncremental(Views.latest(landing(history: _*)),
      landing(batch: _*))
    val key = (r: org.apache.spark.sql.Row) => r.toSeq
    assert(inc.collect().map(key).toSet == full.collect().map(key).toSet)
    // spot checks: the associativity edge cases actually exercised
    val m = inc.collect().map(r => (r.getAs[String]("type"),
      r.getAs[String]("id"), r.getAs[Int]("chunk")) -> r).toMap
    assert(m(("W", "d1", 0)).getAs[String]("data") == "d1v2")
    assert(m(("W", "d2", 0)).getAs[String]("data") == "d2v2") // stale replay lost
    assert(m(("W", "d3", 0)).getAs[String]("data") == "d3c0b")
    assert(!m.contains(("W", "d3", 1)), "stale chunk leaked through the fold")
    assert(m(("W", "d4", 0)).getAs[Boolean]("deleted"))
    assert(m(("W", "d5", 0)).getAs[String]("data") == "d5v1")
    assert(m(("S", "d1", 0)).getAs[String]("data") == "s1v1")
    // idempotence: folding an empty batch changes nothing
    val again = Views.latestIncremental(inc, landing().limit(0))
    assert(again.collect().map(key).toSet == full.collect().map(key).toSet)
  }

  test("SCD2 history: validity intervals; chunk rows share their version's interval") {
    val df = landing(
      rec("2026-01-01 00:00:00", "W", "d1", 1, chunk = 0, data = "v1c0"),
      rec("2026-01-01 00:00:00", "W", "d1", 1, chunk = 1, data = "v1c1"),
      rec("2026-01-01 00:00:00", "W", "d1", 1, data = "v1c0"), // same-batch replay of chunk 0
      rec("2026-01-03 00:00:00", "W", "d1", 2, data = "v2"),
      rec("2026-01-05 00:00:00", "W", "d1", 3, data = "v3"),
      rec("2026-01-01 00:00:00", "W", "d2", 1, data = "only"))
    val out = Views.history(df).collect()
      .map(r => (r.getAs[String]("id"), r.getAs[Long]("version"),
        r.getAs[Int]("chunk")) ->
        ((r.getAs[Timestamp]("valid_from"), r.getAs[Timestamp]("valid_to"),
          r.getAs[Boolean]("is_current")))).toMap
    assert(out.size == 5) // replay collapsed; 2 chunks of v1 + v2 + v3 + d2
    // BOTH chunk rows of v1 carry v1's interval — a row-based lead
    // would chain one chunk into the other (valid_to = its own date)
    val v1 = (ts("2026-01-01 00:00:00"), ts("2026-01-03 00:00:00"), false)
    assert(out(("d1", 1L, 0)) == v1 && out(("d1", 1L, 1)) == v1)
    assert(out(("d1", 2L, 0)) ==
      ((ts("2026-01-03 00:00:00"), ts("2026-01-05 00:00:00"), false)))
    assert(out(("d1", 3L, 0)) == ((ts("2026-01-05 00:00:00"), null, true)))
    assert(out(("d2", 1L, 0)) == ((ts("2026-01-01 00:00:00"), null, true)))
    // point-in-time contract: for any probe date, exactly one current
    // version per doc (the BETWEEN join target is unambiguous)
    val probe = ts("2026-01-04 00:00:00")
    val live = out.toSeq.filter { case ((id, _, c), (f, t, _)) =>
      c == 0 && !f.after(probe) && (t == null || t.after(probe))
    }
    assert(live.map(_._1._1).sorted == Seq("d1", "d2"))
    assert(live.find(_._1._1 == "d1").get._1._2 == 2L)
  }

  test("R4 prune ∘ R1 = R1 (idempotent) and deletes = complement") {
    val df = landing(
      rec("2026-01-01 00:00:00", "W", "d1", 1),
      rec("2026-01-02 00:00:00", "W", "d1", 1),
      rec("2026-01-03 00:00:00", "W", "d1", 1),
      rec("2026-01-01 00:00:00", "W", "d2", 1))
    val pruned = Views.prune(df)
    assert(pruned.count() == 2)
    assert(Views.prune(pruned).count() == 2) // idempotent
    assert(Views.pruneDeletes(df).count() == df.count() - pruned.count())
  }

  val wellSchema = SchemaCodec.parse(
    """{"WELL": {
      |  "NAME": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |  "DEPTH": {"ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true},
      |  "OPERATOR": {"ACTIVE": true, "TYPE": "DOCUMENT", "NULLABLE": true, "DOCUMENT_TYPE": "CO"},
      |  "LOCATION": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |    "RECORD_TYPE": {"LAT": {"ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true}}},
      |  "TESTS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |    "RECORD_TYPE": {"SCORE": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
      |      "SUB": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |        "RECORD_TYPE": {"X": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}}}}
      |}}""".stripMargin)

  test("V1-V4: typed view projects, casts, FK-extracts; filters chunk=0") {
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "d1", 1, data =
        """{"NAME":"alpha","DEPTH":12.5,"OPERATOR":{"DOCUMENT_ID":"co9"},
          |"LOCATION":{"LAT":51.2},"TESTS":[{"SCORE":7}]}""".stripMargin.replaceAll("\n", "")),
      rec("2026-01-01 00:00:00", "WELL", "d1", 1, chunk = 1,
        data = """{"DOCUMENT_ID":"d1","TESTS":[{"SCORE":8}]}"""),
      rec("2026-01-01 00:00:00", "OTHER", "x", 1, data = """{"NAME":"no"}"""))
    val v = Views.typedView(Views.latest(df), "WELL", wellSchema("WELL"))
    val rows = v.collect()
    assert(rows.length == 1) // chunk=0 of type WELL only
    val r = rows.head
    assert(r.getAs[String]("DOCUMENT_ID") == "d1")
    assert(r.getAs[String]("NAME") == "alpha")
    assert(r.getAs[Double]("DEPTH") == 12.5)
    assert(r.getAs[String]("OPERATOR") == "co9") // FK id projected
    assert(r.getAs[Long]("_VERSION") == 1L)
    // scalar view has no list/record columns (they get child views)
    assert(!v.columns.contains("TESTS"))
  }

  test("variant-native view (parse_json + variant_get) matches the StructType view") {
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "d1", 1, data =
        """{"NAME":"alpha","DEPTH":12.5,"OPERATOR":{"DOCUMENT_ID":"co9"},
          |"LOCATION":{"LAT":51.2},"TESTS":[{"SCORE":7}]}""".stripMargin.replaceAll("\n", "")),
      rec("2026-01-02 00:00:00", "WELL", "d2", 1, data = """{"DEPTH":3.25}"""))
    val latest = Views.latest(df)
    val struct = Views.typedView(latest, "WELL", wellSchema("WELL"))
    val variant = Views.variantView(latest, "WELL", wellSchema("WELL"))
    assert(variant.columns.toSeq == struct.columns.toSeq)
    val s = struct.orderBy("DOCUMENT_ID").collect().map(_.toSeq).toSeq
    val v = variant.orderBy("DOCUMENT_ID").collect().map(_.toSeq).toSeq
    assert(v == s)
  }

  test("schema evolution: a field added to the fetched schema projects NULL for old documents") {
    // The reference re-fetches the schema each run and regenerates the
    // views; documents landed before a field existed simply lack the
    // key. The Spark typed view must behave the same: from_json yields
    // NULL for the missing path — no reparse, no error, old and new
    // rows coexist in one view.
    val evolved = SchemaCodec.parse(
      """{"WELL": {
        |  "NAME": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
        |  "RIG_COUNT": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true}
        |}}""".stripMargin)
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "old", 1, data = """{"NAME":"a"}"""),
      rec("2026-01-02 00:00:00", "WELL", "new", 1,
        data = """{"NAME":"b","RIG_COUNT":3}"""))
    val v = Views.typedView(Views.latest(df), "WELL", evolved("WELL")).collect()
    val oldRow = v.find(_.getAs[String]("DOCUMENT_ID") == "old").get
    val newRow = v.find(_.getAs[String]("DOCUMENT_ID") == "new").get
    assert(oldRow.isNullAt(oldRow.fieldIndex("RIG_COUNT")))
    assert(newRow.getAs[Long]("RIG_COUNT") == 3L)
  }

  test("V5: record child view reaches nested scalars at the same grain") {
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "d1", 1,
        data = """{"LOCATION":{"LAT":51.2}}"""))
    val v = Views.recordView(Views.latest(df), "WELL", wellSchema("WELL"), Seq("LOCATION"))
    val r = v.collect().head
    assert(r.getAs[String]("DOCUMENT_ID") == "d1" && r.getAs[Double]("LAT") == 51.2)
  }

  test("V6: record-list flatten re-unions chunks and carries LISTITEM_ID") {
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "d1", 1, data =
        """{"NAME":"a","TESTS":[{"LISTITEM_ID":"i1","SCORE":1},{"LISTITEM_ID":"i2","SCORE":2}]}"""),
      rec("2026-01-01 00:00:00", "WELL", "d1", 1, chunk = 1, data =
        """{"DOCUMENT_ID":"d1","TESTS":[{"LISTITEM_ID":"i3","SCORE":3}]}"""))
    val v = Views.recordListView(Views.latest(df), "WELL", wellSchema("WELL"), "TESTS")
    val rows = v.collect()
    assert(rows.length == 3) // chunks re-unioned
    assert(rows.map(_.getAs[String]("LISTITEM_ID")).sorted.toSeq == Seq("i1", "i2", "i3"))
    assert(rows.map(_.getAs[Long]("SCORE")).sum == 6L)
    // list-in-list is not projected (reference refuses recursion here)
    assert(!v.columns.contains("SUB"))
  }

  test("V7: registerAll registers top, record and list views; skips nested lists") {
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "d1", 1,
        data = """{"NAME":"a","LOCATION":{"LAT":1.0},"TESTS":[{"SCORE":1}]}"""))
    val names = registerAll(Views.latest(df), wellSchema)
    assert(names.toSet == Set("WELL", "WELL_LOCATION", "WELL_TESTS"))
    assert(spark.table("WELL_TESTS").count() == 1)
  }

  // the reference generates list views for every `data`-rooted path —
  // including lists nested under RECORDs (snowflake.go:352-356: the
  // guard refuses only `value`-rooted recursion, i.e. list-in-list) —
  // and, inside a flatten, child views for RECORDs of the list element
  val deepSchema = SchemaCodec.parse(
    """{"RIG": {
      |  "META": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |    "RECORD_TYPE": {
      |      "REGION": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |      "CREWS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |        "RECORD_TYPE": {
      |          "SIZE": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
      |          "LEAD": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |            "RECORD_TYPE": {"NAME": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}}},
      |          "SHIFTS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |            "RECORD_TYPE": {"H": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true}}}}}}}
      |}}""".stripMargin)

  test("V7 at depth: list-under-record and record-under-list-item get views; list-in-list refused") {
    val df = landing(
      rec("2026-01-01 00:00:00", "RIG", "r1", 1, data =
        """{"META":{"REGION":"north","CREWS":[
          |{"LISTITEM_ID":"c1","SIZE":4,"LEAD":{"NAME":"ada"},"SHIFTS":[{"H":8}]},
          |{"LISTITEM_ID":"c2","SIZE":6,"LEAD":{"NAME":"bob"}}]}}"""
          .stripMargin.replaceAll("\n", "")),
      // chunk-split slice carries a third crew: re-union at depth
      rec("2026-01-01 00:00:00", "RIG", "r1", 1, chunk = 1, data =
        """{"DOCUMENT_ID":"r1","META":{"CREWS":[{"LISTITEM_ID":"c3","SIZE":2,"LEAD":{"NAME":"eve"}}]}}"""))
    val names = registerAll(Views.latest(df), deepSchema)
    assert(names.toSet == Set("RIG", "RIG_META", "RIG_META_CREWS",
      "RIG_META_CREWS_LEAD"))
    assert(!names.exists(_.contains("SHIFTS"))) // list-in-list refused
    val crews = spark.table("RIG_META_CREWS").collect()
    assert(crews.length == 3) // chunk slices re-unioned below the root
    assert(crews.map(r => (r.getAs[String]("LISTITEM_ID"),
      r.getAs[Long]("SIZE"))).sorted.toSeq ==
      Seq(("c1", 4L), ("c2", 6L), ("c3", 2L)))
    assert(!crews.head.schema.fieldNames.contains("SHIFTS"))
    val leads = spark.table("RIG_META_CREWS_LEAD").collect()
    assert(leads.map(r => (r.getAs[String]("LISTITEM_ID"),
      r.getAs[String]("NAME"))).sorted.toSeq ==
      Seq(("c1", "ada"), ("c2", "bob"), ("c3", "eve")))
    assert(leads.forall(_.getAs[String]("DOCUMENT_ID") == "r1"))
  }

  test("V7 resilience: one bad type logs and skips; the rest of the catalog registers") {
    // "BAD TYPE" is an invalid temp-view identifier — createTempView
    // throws; the reference logs each view's DDL error and continues
    // (snowflake.go:373-378), so GOOD1/GOOD2 must still register
    val schema = SchemaCodec.parse(
      """{"GOOD1": {"A": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}},
        |"BAD TYPE": {"A": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}},
        |"GOOD2": {"L": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
        |  "RECORD_TYPE": {"V": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true}}}}
        |}""".stripMargin)
    val df = landing(
      rec("2026-01-01 00:00:00", "GOOD1", "d1", 1, data = """{"A":"x"}"""),
      rec("2026-01-01 00:00:00", "GOOD2", "d2", 1, data = """{"L":[{"V":1}]}"""))
    val names = registerAll(Views.latest(df), schema)
    assert(names.toSet == Set("GOOD1", "GOOD2", "GOOD2_L"))
    assert(spark.table("GOOD2_L").count() == 1)
  }

  test("HideInactiveFields: inactive fields (and emptied records) vanish from registered views") {
    val schema = SchemaCodec.parse(
      """{"WELL": {
        |  "NAME": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
        |  "OLD_CODE": {"ACTIVE": false, "TYPE": "TEXT", "NULLABLE": true},
        |  "GHOST": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
        |    "RECORD_TYPE": {"X": {"ACTIVE": false, "TYPE": "TEXT", "NULLABLE": true}}}
        |}}""".stripMargin)
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "d1", 1,
        data = """{"NAME":"a","OLD_CODE":"z","GHOST":{"X":"y"}}"""))
    val names = registerAll(Views.latest(df), schema.withoutInactive)
    // GHOST's recordType empties out → dropped entirely (schema.go:111-113
    // nils an emptied RecordType), so no zero-column GHOST child view
    assert(names.toSet == Set("WELL"))
    val well = spark.table("WELL")
    assert(well.columns.contains("NAME") && !well.columns.contains("OLD_CODE"))
    assert(well.collect().head.getAs[String]("NAME") == "a")
  }

  test("variant list flatten (variant_get + variant_explode) matches the StructType flatten") {
    val df = landing(
      rec("2026-01-01 00:00:00", "WELL", "d1", 1, data =
        """{"NAME":"a","TESTS":[{"LISTITEM_ID":"i1","SCORE":1},{"LISTITEM_ID":"i2","SCORE":2}]}"""),
      rec("2026-01-01 00:00:00", "WELL", "d1", 1, chunk = 1, data =
        """{"DOCUMENT_ID":"d1","TESTS":[{"LISTITEM_ID":"i3","SCORE":3}]}"""),
      rec("2026-01-01 00:00:00", "WELL", "d2", 1, data =
        """{"NAME":"no-list"}""")) // missing path contributes no rows
    val latest = Views.latest(df)
    val struct = Views.recordListView(latest, "WELL", wellSchema("WELL"), "TESTS")
      .orderBy("DOCUMENT_ID", "LISTITEM_ID")
    val variant = Views.variantListView(latest, "WELL", wellSchema("WELL"),
      Seq("TESTS")).orderBy("DOCUMENT_ID", "LISTITEM_ID")
    assert(variant.columns.toSeq == struct.columns.toSeq)
    assert(variant.collect().map(_.toSeq).toSeq ==
      struct.collect().map(_.toSeq).toSeq)
    // the lateral variant_explode plans as a generator, not a join, so
    // the flatten stays a narrow operator exactly like explode
    val plan = variant.queryExecution.executedPlan.toString
    assert(plan.contains("Generate"), s"expected a Generate:\n$plan")
    assert(!plan.contains("Join"), s"lateral TVF must not plan a join:\n$plan")
  }

  test("CDC: a same-version deleted-flag flip surfaces as 'anomaly', not silence") {
    val prev = landing(rec("2026-01-01 00:00:00", "W", "d1", 1))
    val cur = landing(
      rec("2026-01-02 00:00:00", "W", "d1", 1, deleted = true))
    val out = Views.changes(Views.latest(prev), Views.latest(cur)).collect()
    assert(out.length == 1)
    assert(out.head.getAs[String]("change") == "anomaly")
    // unflipped same-version replay stays silent
    val quiet = Views.changes(Views.latest(prev), Views.latest(
      landing(rec("2026-01-02 00:00:00", "W", "d1", 1))))
    assert(quiet.count() == 0)
  }

  test("sync twice ≡ sync once through the latest view (at-least-once absorption)") {
    import spark.implicits._
    val bd1 = ts("2026-01-01 00:00:00")
    val bd2 = ts("2026-01-02 00:00:00")
    val line = """{"$TYPE":"W","DOCUMENT_ID":"d1","$VERSION":1,"NAME":"x"}"""
    val once = Ingest.fromNdjsonLines(Seq(line).toDS(), bd1, 10)
    val replay = Ingest.fromNdjsonLines(Seq(line).toDS(), bd2, 10)
    val both = once.unionByName(replay)
    assert(Views.latest(both).count() == Views.latest(once).count())
  }
}
