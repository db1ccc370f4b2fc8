package graft

import graft.plans.BloomBits
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** plans.BloomBitsAgg / BloomMightContain + the x61 decontamination
  * query built on them. */
class BloomSpec extends SparkSpec {

  private val M = 4096 // small filter for the unit tests
  private val K = 3

  private def refBits(hashes: Seq[Long]): Array[Long] = {
    val words = new Array[Long](M / 64)
    for (h <- hashes; s <- 0 until K) {
      val p = BloomBits.position(h, s, M)
      words(p >>> 6) |= (1L << (p & 63))
    }
    words
  }

  test("bloom_bits aggregate equals the reference bitset across partitions") {
    import spark.implicits._
    val hashes = (1 to 500).map(i => (i * 2654435761L) & ((1L << 60) - 1))
    val got = hashes.toDF("h").repartition(4) // force partial buffers + merge
      .selectExpr(s"bloom_bits(h, $M, $K) as bloom")
      .collect().head.getSeq[Long](0)
    assert(got.toArray.sameElements(refBits(hashes)))
  }

  test("no false negatives: every inserted hash is might-contained (∀ sets)") {
    val genHashes = Gen.nonEmptyListOf(Gen.chooseNum(0L, (1L << 60) - 1))
    val prop = Prop.forAll(genHashes) { hs =>
      val bloom = new GenericArrayData(refBits(hs).map(_.asInstanceOf[Any]))
      hs.forall(h => BloomBits.mightContain(bloom, h, K))
    }
    val res = SCTest.check(SCTest.Parameters.default.withMinSuccessfulTests(200), prop)
    assert(res.passed, res.status.toString)
  }

  test("probe rejects hashes whose positions are not all set") {
    // empty filter contains nothing
    val empty = new GenericArrayData(new Array[Long](M / 64).map(_.asInstanceOf[Any]))
    assert(!(0 until 100).exists(i => BloomBits.mightContain(empty, i.toLong * 7919, K)))
    // one insert: a probe differing in any derived position misses
    val one = new GenericArrayData(refBits(Seq(12345L)).map(_.asInstanceOf[Any]))
    assert(BloomBits.mightContain(one, 12345L, K))
    val fp = (1L to 2000L).count(h => h != 12345L && BloomBits.mightContain(
      one, h, K))
    assert(fp <= 2, s"one 3-bit insert in $M bits should almost never FP, got $fp")
  }

  test("x61 native bitset path ≡ composable positions-subset fallback") {
    import graft.llm.Frag._
    import org.apache.spark.sql.functions.{count, lit}
    val ext = graft.llm.Dedup.bloomDecontam(spark, sf001)
      .collect().map(_.toSeq).toSeq
    // the oracle: count how many of the k derived positions each train
    // gram finds among the distinct test-set positions — `all k set` ≡
    // bloom membership (x61's splitGrams rebuilt from its Frag parts)
    val m = graft.llm.Dedup.BloomM; val k = graft.llm.Dedup.BloomK
    def posList(h: String) =
      (0 until k).map(j => s"${KernelOracles.sDerive(h, j)} % $m").mkString(", ")
    val grams = graft.queries.Tables.t(spark, sf001, "documents")
      .selectExpr("doc_id", s"${sSplitBucket("doc_id")} as bucket",
        s"${sLet(sTokens, "tk", sGrams8)} as gs")
    val trainDocs = grams.filter("bucket < 80").select("doc_id", "gs")
    val tpos = grams.filter("bucket >= 90")
      .selectExpr("explode(gs) as g").distinct()
      .selectExpr(s"${sH("g")} as h")
      .selectExpr(s"explode(array(${posList("h")})) as p")
      .distinct()
    val flagged = trainDocs.selectExpr("doc_id", "explode(gs) as g")
      .selectExpr("doc_id", "g", s"${sH("g")} as h")
      .selectExpr("doc_id", "g", s"explode(array(${posList("h")})) as p")
      .join(tpos, "p")
      .groupBy("doc_id", "g").agg(count(lit(1)).as("nset"))
      .filter(s"nset = $k")
      .groupBy("doc_id").agg(count(lit(1)).as("n_flagged"))
    val fb = trainDocs
      .selectExpr("doc_id", "cast(size(gs) as bigint) as n_grams")
      .join(flagged, Seq("doc_id"), "left")
      .selectExpr("doc_id", "n_grams",
        "coalesce(n_flagged, cast(0 as bigint)) as n_flagged",
        "coalesce(n_flagged, cast(0 as bigint)) > 0 as flagged")
      .orderBy("doc_id")
      .collect().map(_.toSeq).toSeq
    assert(ext == fb)
  }

  test("x61 plan: bloom reaches the corpus via broadcast, never a sort-merge join") {
    val plan = graft.llm.Dedup.queries("x61_bloom_decontam")(spark, sf001)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastNestedLoopJoin") || plan.contains("BroadcastExchange"),
      plan.take(2000))
    assert(!plan.contains("SortMergeJoin"), plan.take(2000))
  }

  test("x61 flags are a superset of exact gram overlap (no false negatives end-to-end)") {
    import spark.implicits._
    val x61 = graft.llm.Dedup.queries("x61_bloom_decontam")(spark, sf001)
      .select("doc_id", "flagged").as[(Long, Boolean)].collect().toMap
    val x21ShapeExact = {
      // exact overlap recomputed via the x21 semi-join form, train side
      val grams = graft.queries.Tables.t(spark, sf001, "documents")
        .selectExpr("doc_id",
          s"${graft.llm.Frag.sH("concat('split:', doc_id)")} % 100 as bucket",
          s"${graft.llm.Frag.sLet(graft.llm.Frag.sTokens, "tk", graft.llm.Frag.sGrams8)} as gs")
      val test = grams.filter("bucket >= 90").selectExpr("explode(gs) as g").distinct()
      grams.filter("bucket < 80").selectExpr("doc_id", "explode(gs) as g")
        .join(test, "g").select("doc_id").distinct()
        .as[Long].collect().toSet
    }
    assert(x21ShapeExact.forall(d => x61.getOrElse(d, false)),
      "every truly-contaminated train doc must be bloom-flagged")
  }
}
