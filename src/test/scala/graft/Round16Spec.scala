package graft

import graft.model.SchemaCodec
import graft.views.Views
import java.sql.Timestamp
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.SparkPlan

/** Round-10 additions: the at-depth view catalog (r81/r82) and the
  * variant-path FK join (r83) — value checks against fixture-derived
  * references plus plan guards proving the scale shapes: the flatten
  * machinery adds ZERO exchanges on top of what `latest` already pays,
  * and the variant join broadcasts exactly like its StructType twin. */
class Round16Spec extends SparkSpec {

  private def countExchanges(p: SparkPlan): Int =
    p.toString.linesIterator.count(_.contains("Exchange hashpartitioning"))

  private def countSorts(p: SparkPlan): Int =
    p.toString.linesIterator.count(_.matches("""[\s+:-]*Sort \[.*"""))

  test("store-view plan guard: latest and latestAllVersions each plan ONE " +
      "hash exchange and ONE sort over an unbucketed landing") {
    // the newest-key pick and the PK pick share one window spec, so each
    // view is one shuffle on the document key and one sort
    import spark.implicits._
    val ts = Timestamp.valueOf("2026-01-01 00:00:00")
    val dir = java.nio.file.Files.createTempDirectory("graft-guard-landing").toString
    spark.createDataset(for (i <- 1 to 8; v <- 1L to 2L) yield
      graft.ingest.LandingRecord(ts, "DOC", s"d$i", v, 0, "a", ts,
        deleted = false, "{}"))
      .toDF().write.mode("overwrite").parquet(dir)
    val landing = spark.read.schema(graft.ingest.Landing.schema).parquet(dir)
    Seq("latest" -> Views.latest(landing),
      "latestAllVersions" -> Views.latestAllVersions(landing)).foreach {
      case (name, df) =>
        val plan = df.queryExecution.executedPlan
        assert(countExchanges(plan) == 1, s"$name exchanges:\n$plan")
        assert(countSorts(plan) == 1, s"$name sorts:\n$plan")
    }
  }

  test("r81: nested list flatten matches the closed form (chunk re-union at depth)") {
    val rows = SparkEntry.queries("r81_nested_list_flatten")(spark, sf001)
      .collect().map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val base = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = base.flatMap { case (id, nc) =>
      Seq((id.toString, "A", nc), (id.toString, "B", nc * 2)) ++
        (if (id % 5 == 0 && id % 7 != 0) Seq((id.toString, "C", nc * 3))
         else Nil) // re-chunked replay at ts2 kills the old chunk-1 slice
    }.sortBy(t => (t._1, t._2))
    assert(rows.length == expect.length)
    assert(rows.sameElements(expect))
    assert(rows.exists(_._2 == "C"), "chunk-1 items must survive re-union")
  }

  test("r82: item-record view carries LISTITEM_ID and the nested scalars") {
    val rows = SparkEntry.queries("r82_list_item_record")(spark, sf001)
      .collect()
      .map(r => (r.getString(0), r.getString(1), r.getDouble(2), r.getDouble(3)))
    val base = spark.read.parquet(s"$sf001/documents.parquet")
      .select("doc_id", "n_chars").collect()
      .map(r => (r.getLong(0), r.getLong(1)))
    val expect = base.flatMap { case (id, nc) =>
      Seq((id.toString, "A", nc + 0.25, nc * 0.5),
        (id.toString, "B", nc + 0.75, nc * 1.5)) ++
        (if (id % 5 == 0) Seq((id.toString, "C", nc + 0.125, nc * 2.5))
         else Nil)
    }.sortBy(t => (t._1, t._2))
    assert(rows.length == expect.length)
    assert(rows.sameElements(expect))
  }

  test("flatten plan guard: list + item-record views add ZERO exchanges over latest") {
    // the at-depth flatten is filter + from_json + generate + project —
    // narrow operators only; every exchange in the view plan must be
    // one `latest` itself pays (so over the bucketed store the whole
    // view runs exchange-free, same argument as r68)
    val schema = SchemaCodec.parse(
      """{"DOC": {
        |  "META": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
        |    "RECORD_TYPE": {
        |      "ITEMS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
        |        "RECORD_TYPE": {
        |          "VAL": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
        |          "POS": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
        |            "RECORD_TYPE": {"X": {"ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true}}}}}}}
        |}}""".stripMargin)
    import spark.implicits._
    val landing = spark.createDataset(Seq(
      graft.ingest.LandingRecord(Timestamp.valueOf("2026-01-01 00:00:00"),
        "DOC", "d1", 1L, 0, "a", Timestamp.valueOf("2026-01-01 00:00:00"),
        deleted = false,
        """{"META":{"ITEMS":[{"LISTITEM_ID":"i1","VAL":1,"POS":{"X":0.5}}]}}""")
    )).toDF()
    val latest = Views.latest(landing)
    val baseline = countExchanges(latest.queryExecution.executedPlan)
    val listView = Views.recordListView(latest, "DOC", schema("DOC"),
      Seq("META", "ITEMS"))
    val itemView = Views.listItemRecordView(latest, "DOC", schema("DOC"),
      Seq("META", "ITEMS"), Seq("POS"))
    assert(countExchanges(listView.queryExecution.executedPlan) == baseline,
      s"flatten added an exchange:\n${listView.queryExecution.executedPlan}")
    assert(countExchanges(itemView.queryExecution.executedPlan) == baseline,
      s"item-record view added an exchange:\n${itemView.queryExecution.executedPlan}")
    assert(listView.queryExecution.executedPlan.toString.contains("Generate"),
      "flatten must be a Generate (explode), not a join")
    assert(listView.collect().map(_.getString(1)).toSeq == Seq("i1"))
    assert(itemView.collect().map(_.getDouble(2)).toSeq == Seq(0.5))
  }

  test("r83 plan guard: variant FK join broadcasts the dimension, like its StructType twin") {
    val df: DataFrame = SparkEntry.queries("r83_variant_fk_join")(spark, sf001)
    val plan = df.queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"variant FK join must broadcast:\n$plan")
    assert(!plan.contains("SortMergeJoin"),
      s"variant FK join must not sort-merge:\n$plan")
    // result parity with the StructType twin, row for row
    val a = df.collect().map(_.toSeq).toSeq
    val b = SparkEntry.queries("r73_fk_reference_join")(spark, sf001)
      .collect().map(_.toSeq).toSeq
    assert(a == b, "variant and StructType FK joins must agree bit-for-bit")
  }
}
