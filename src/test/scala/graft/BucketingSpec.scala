package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Proof of SCALE.md's co-location claim: writing both join sides
  * bucketed by the join key removes every shuffle exchange from the
  * join — the plan Spark would run on a 1000-executor cluster reads
  * bucket i of each table on the same task. Broadcast is disabled for
  * the test so the join would otherwise be a full shuffle SMJ. */
class BucketingSpec extends SparkSpec {

  test("bucketed-by-key tables join with zero shuffle exchanges") {
    val loc = Files.createTempDirectory("graft_buckets").toString
    spark.sql(s"CREATE DATABASE IF NOT EXISTS bucketdb LOCATION '$loc'")
    try {
      spark.read.parquet(s"$sf001/orders.parquet")
        .write.bucketBy(8, "o_orderkey").sortBy("o_orderkey")
        .mode("overwrite").saveAsTable("bucketdb.b_orders")
      spark.read.parquet(s"$sf001/lineitem.parquet")
        .write.bucketBy(8, "l_orderkey").sortBy("l_orderkey")
        .mode("overwrite").saveAsTable("bucketdb.b_lineitem")

      val prevThreshold = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
      try {
        val joined = spark.table("bucketdb.b_lineitem")
          .join(spark.table("bucketdb.b_orders"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus")
          .agg(count(lit(1)).as("n"))
        val plan = joined.queryExecution.executedPlan.toString
        assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
          !plan.contains("Exchange hashpartitioning(o_orderkey"),
          s"join should be exchange-free on bucketed tables:\n$plan")
        assert(joined.collect().map(_.getAs[Long]("n")).sum > 0)

        // control: the same join over plain parquet DOES shuffle both sides
        val unbucketed = spark.read.parquet(s"$sf001/lineitem.parquet")
          .join(spark.read.parquet(s"$sf001/orders.parquet"),
            col("l_orderkey") === col("o_orderkey"))
          .groupBy("o_orderstatus").agg(count(lit(1)).as("n"))
        val ctrl = unbucketed.queryExecution.executedPlan.toString
        assert(ctrl.contains("Exchange hashpartitioning"),
          "control join unexpectedly shuffle-free — test is vacuous")
      } finally spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prevThreshold)
    } finally {
      spark.sql("DROP TABLE IF EXISTS bucketdb.b_orders")
      spark.sql("DROP TABLE IF EXISTS bucketdb.b_lineitem")
      spark.sql("DROP DATABASE IF EXISTS bucketdb")
    }
  }

  test("bucketedTier fp store: probe joins are exchange-free on the store side; a fresh session re-registers from disk") {
    val root = Files.createTempDirectory("graft_btier").toString
    def fpStore(s: org.apache.spark.sql.SparkSession) =
      graft.queries.Durable.bucketedTier(s, sf001, "fp_store",
          "v1-base-mod5", "fp") {
        graft.queries.Tables.t(s, sf001, "documents")
          .selectExpr("doc_id",
            s"md5(${graft.llm.Frag.sNorm}) as fp")
          .filter("doc_id % 5 != 4")
          .groupBy("fp").agg(min(col("doc_id")).as("e_of"))
      }
    val s1 = spark.newSession()
    s1.conf.set("spark.graft.indexDir", root)
    graft.queries.Durable.stats.clear()
    val st = fpStore(s1)
    val built = st.collect().map(_.toString).sorted
    assert(graft.queries.Durable.stats.get("fp_store")._2 >= 1,
      "first session must BUILD the bucketed store")

    // the x99 shape: a batch-sized probe joining the standing store —
    // with broadcast off, the ONLY hash exchange on fp is the probe's
    val prev = s1.conf.get("spark.sql.autoBroadcastJoinThreshold")
    s1.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val probe = graft.queries.Tables.t(s1, sf001, "documents")
        .selectExpr("doc_id", s"md5(${graft.llm.Frag.sNorm}) as fp")
        .filter("doc_id % 5 = 4")
      // left join: the fixture corpus has no cross-split exact dup, so
      // an inner join would be legitimately empty (x99 adds a re-crawl
      // arm for exactly this reason) — the plan shape is what's tested
      val joined = probe.join(fpStore(s1), Seq("fp"), "left")
      val plan = joined.queryExecution.executedPlan.toString
      val nFpExchanges =
        "Exchange hashpartitioning\\(fp".r.findAllIn(plan).length
      assert(nFpExchanges == 1,
        s"expected exactly ONE fp exchange (probe side only), got $nFpExchanges:\n$plan")
      assert(plan.contains("Bucketed: true"),
        s"store scan should report bucketed:\n$plan")
      assert(joined.count() > 0)
    } finally s1.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)

    // durable across sessions: a NEW session must REGISTER the existing
    // bucketed files (loads>=1, builds==0), bit-identical rows. Drop
    // the catalog entry first — newSession() shares the JVM catalog, so
    // without the drop this would test the cache, not the disk path.
    val tag = java.security.MessageDigest.getInstance("MD5")
      .digest((new java.io.File(sf001).getAbsolutePath + "|v1-base-mod5")
        .getBytes("UTF-8")).map("%02x".format(_)).mkString.take(8)
    spark.sql(s"DROP TABLE IF EXISTS graft_bt_fp_store_$tag")
    val s2 = spark.newSession()
    s2.conf.set("spark.graft.indexDir", root)
    graft.queries.Durable.stats.clear()
    val reloaded = fpStore(s2)
    assert(reloaded.collect().map(_.toString).sorted.sameElements(built),
      "re-registered bucketed store is not bit-identical")
    val m = graft.queries.Durable.stats.get("fp_store")
    assert(m != null && m._1 >= 1 && m._2 == 0,
      s"second session must re-register, never rebuild: $m")
    val plan2 = reloaded.groupBy("fp").agg(count(lit(1)))
      .queryExecution.executedPlan.toString
    assert(!plan2.contains("Exchange hashpartitioning(fp"),
      s"re-registered store lost its bucketing:\n$plan2")
  }

  test("r16 past broadcast scale: the l-o join is a bucket-aligned SMJ with zero join-key exchanges") {
    // at bench SFs orders fits the broadcast threshold, so r16's plan
    // is BHJ and bucketing is dormant (job counts don't move — the
    // round-14 observation); this pins the shape that engages when the
    // fact side outgrows broadcast: disable broadcast and the join must
    // come out a SortMergeJoin over the two bucketed scans with NO
    // exchange on either join key
    val prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      val df = SparkEntry.queries("r16_nation_revenue")(spark, sf001)
      val plan = df.queryExecution.executedPlan.toString
      assert(plan.contains("SortMergeJoin [l_orderkey"),
        s"expected the l-o join as SMJ with broadcast off:\n$plan")
      assert("Bucketed: true".r.findAllIn(plan).length >= 2,
        s"both fact scans should be bucketed:\n$plan")
      assert(!plan.contains("Exchange hashpartitioning(l_orderkey") &&
        !plan.contains("Exchange hashpartitioning(o_orderkey"),
        s"bucket-aligned join must not re-shuffle its keys:\n$plan")
      assert(df.count() > 0)
    } finally
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
  }

  test("bucketed landing store: R1/R2 latest-version views run with zero exchanges") {
    import spark.implicits._
    val mapper = new com.fasterxml.jackson.databind.ObjectMapper()
    def doc(typ: String, id: String, v: Long): String =
      s"""{"$$TYPE":"$typ","DOCUMENT_ID":"$id","$$VERSION":$v,"$$AUTHOR_ID":"a1",
         |"$$DATE":"2026-01-02T03:04:05Z","$$DELETED":false,"NAME":"$id-v$v"}"""
        .stripMargin.replaceAll("\n", "")
    val bd1 = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val bd2 = java.sql.Timestamp.valueOf("2026-01-02 00:00:00")
    val batch1 = graft.ingest.Ingest.fromNdjsonLines(
      (for (t <- Seq("WELL", "SITE"); i <- 1 to 20; v <- 1L to 2L)
        yield doc(t, s"d$i", v)).toDS(), bd1, 10)
    // batch 2 re-lands half the documents at a higher version (replay +
    // new-version mix — both R1 and R2 must do real work)
    val batch2 = graft.ingest.Ingest.fromNdjsonLines(
      (for (t <- Seq("WELL"); i <- 1 to 10; v <- 2L to 3L)
        yield doc(t, s"d$i", v)).toDS(), bd2, 10)
    val loc = Files.createTempDirectory("graft_blanding").toString
    try {
      graft.ingest.Ingest.appendBatchBucketed(batch1, "b_landing", 8,
        Some(s"$loc/store"))
      graft.ingest.Ingest.appendBatchBucketed(batch2, "b_landing", 8,
        Some(s"$loc/store"))
      val landing = spark.table("b_landing")
        .select("batch_date", "type", "id", "version", "chunk",
          "author", "date", "deleted", "data") // restore canonical column order
      val latest = graft.views.Views.latest(landing)
      val plan = latest.queryExecution.executedPlan.toString
      assert(!plan.contains("Exchange hashpartitioning"),
        s"R1/R2 over a bucketed landing must be exchange-free:\n$plan")
      // control: the same views over an unbucketed read DO shuffle
      val flat = batch1.unionByName(batch2)
      val ctrl = graft.views.Views.latest(flat)
        .queryExecution.executedPlan.toString
      assert(ctrl.contains("Exchange hashpartitioning"),
        "control plan unexpectedly exchange-free — test is vacuous")
      // semantics unchanged: bucketed result == unbucketed result
      val a = latest.collect().map(_.toSeq).toSet
      val b = graft.views.Views.latest(flat).collect().map(_.toSeq).toSet
      assert(a == b && a.nonEmpty)
      // replay absorption really happened: d1..d10 WELL at version 3
      val d1 = latest.filter("type = 'WELL' and id = 'd1'").collect()
      assert(d1.length == 1 && d1.head.getAs[Long]("version") == 3L)
    } finally {
      spark.sql("DROP TABLE IF EXISTS b_landing")
    }
  }

  test("round 14: custkey/orderkey/user_id cells read the bucketed fact stores exchange-free; results unchanged") {
    val R = graft.queries.Relational.queries
    def plan(name: String): String =
      R(name)(spark, sf001).queryExecution.executedPlan.toString
    // r16: the one non-broadcast join must not shuffle either fact side
    val p16 = plan("r16_nation_revenue")
    assert(!p16.contains("Exchange hashpartitioning(l_orderkey") &&
      !p16.contains("Exchange hashpartitioning(o_orderkey"),
      s"r16 still shuffles a bucketed fact side:\n${p16.take(3000)}")
    // r11: the whole intersect rides the custkey buckets
    val p11 = plan("r11_intersect_custkeys")
    assert(!p11.contains("Exchange hashpartitioning"),
      s"r11 still hash-shuffles over bucketed custkey scans:\n${p11.take(3000)}")
    // r34: the per-customer aggregate + join must not shuffle on custkey
    val p34 = plan("r34_scalar_subquery")
    assert(!p34.contains("Exchange hashpartitioning(o_custkey") &&
      !p34.contains("Exchange hashpartitioning(c_custkey"),
      s"r34 still shuffles on custkey:\n${p34.take(3000)}")
    // r72: distinct/cohort/join all ride the user_id buckets
    val p72 = plan("r72_cohort_retention")
    assert(!p72.contains("Exchange hashpartitioning(user_id"),
      s"r72 still shuffles on user_id:\n${p72.take(3000)}")
    // results invariance: the bucketed read is a pure storage change
    val a = R("r11_intersect_custkeys")(spark, sf001)
      .collect().map(_.getLong(0)).toSeq
    val plain = graft.queries.Tables.t(spark, sf001, "orders")
      .select(col("o_custkey").as("custkey"))
      .intersect(graft.queries.Tables.t(spark, sf001, "customer")
        .filter(col("c_acctbal") > 5000.0d)
        .select(col("c_custkey").as("custkey")))
      .orderBy(col("custkey")).collect().map(_.getLong(0)).toSeq
    assert(a.nonEmpty && a == plain,
      "bucketed r11 diverges from the plain-parquet form")
  }

  test("r68_bucketed_latest: public query runs R1/R2 exchange-free and matches r24") {
    val r68 = graft.queries.DocViews.queries("r68_bucketed_latest")(spark, sf001)
    val plan = r68.queryExecution.executedPlan.toString
    // the landing-store pipeline must not hash-shuffle; the only
    // exchange allowed is the final orderBy's range partitioning
    assert(!plan.contains("Exchange hashpartitioning"),
      s"r68 must be exchange-free over the bucketed store:\n$plan")
    val a = r68.collect().map(_.toSeq)
    val b = graft.queries.DocViews.queries("r24_document_latest_view")(spark, sf001)
      .collect().map(_.toSeq)
    assert(a.nonEmpty && a.toSeq == b.toSeq,
      "bucketed latest view diverges from the unbucketed r24 result")
  }

  test("r68's bucketed store is written once per JVM: a second session " +
      "neither rewrites it nor reads different rows") {
    val r68 = graft.queries.DocViews.queries("r68_bucketed_latest")
    val loc = graft.queries.Durable.jvmStore(
      graft.queries.DocViews.r68Table(sf001))
    def listing() = scala.util.Using.resource(Files.walk(loc)) {
      _.iterator.asScala.filter(Files.isRegularFile(_))
        .map(f => (loc.relativize(f).toString, Files.getLastModifiedTime(f)))
        .toSet
    }
    val first = r68(spark, sf001).collect().toSeq
    val files = listing()
    assert(files.exists(_._1.endsWith(".parquet")))
    val second = r68(spark.newSession(), sf001).collect().toSeq
    assert(listing() == files, "a second session rewrote the r68 store")
    assert(second == first && first.nonEmpty)
  }
}
