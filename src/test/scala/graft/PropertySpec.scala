package graft

import com.fasterxml.jackson.databind.ObjectMapper
import graft.ingest.{Ingest, LandingRecord}
import graft.views.Views
import java.sql.Timestamp
import org.scalacheck.{Gen, Prop, Test => SCTest}

/** ScalaCheck properties from SURVEY.md §5: chunk-split invariants,
  * prune idempotency, replay absorption. */
class PropertySpec extends SparkSpec {

  /** Run a property (25 cases — Spark jobs per case) and fail the suite
    * with the ScalaCheck counterexample report on falsification. */
  private def check(p: Prop): Unit = {
    val res = SCTest.check(
      SCTest.Parameters.default.withMinSuccessfulTests(25), p)
    assert(res.passed, org.scalacheck.util.Pretty.pretty(res))
  }
  private val mapper = new ObjectMapper()
  private val bd = Timestamp.valueOf("2026-01-01 00:00:00")

  private def doc(id: String, arrLen: Int): String = {
    val arr = (0 until arrLen).map(i => s"""{"N":$i}""").mkString(",")
    s"""{"$$TYPE":"T","DOCUMENT_ID":"$id","$$VERSION":1,"XS":[$arr]}"""
  }

  test("chunk split: element conservation and chunk numbering for any length") {
    check(Prop.forAll(Gen.choose(0, 95), Gen.choose(1, 10)) { (n, cs) =>
      val rs = Ingest.parseLine(mapper, doc("d", n), bd, chunkSize = cs)
      val expectSlices = if (n > cs) (n + cs - 1) / cs else 0
      val slices = rs.tail.map(r => mapper.readTree(r.data).get("XS").size)
      rs.head.chunk == 0 &&
        rs.map(_.chunk) == (0 to expectSlices) &&
        (if (expectSlices == 0) rs.size == 1 && mapper.readTree(rs.head.data).get("XS").size == n
         else slices.sum == n && slices.forall(_ <= cs) && !mapper.readTree(rs.head.data).has("XS"))
    })
  }

  test("prune is idempotent and keeps exactly one row per key") {
    import spark.implicits._
    val gen = Gen.listOfN(30, for {
      id <- Gen.oneOf("a", "b", "c")
      ver <- Gen.choose(1L, 3L)
      day <- Gen.choose(1, 5)
    } yield LandingRecord(Timestamp.valueOf(f"2026-01-$day%02d 00:00:00"),
      "T", id, ver, 0, "au", bd, false, s"$id-$ver-$day"))
    check(Prop.forAll(gen) { rs =>
      // exact PK-duplicate inputs included on purpose: R1 restores the
      // landing PK at read time, so duplicates must collapse
      rs.isEmpty || {
        val df = spark.createDataset(rs).toDF()
        val pruned = Views.prune(df)
        val keys = rs.map(r => (r.`type`, r.id, r.version)).distinct.size
        pruned.count() == keys && Views.prune(pruned).count() == keys
      }
    })
  }

  test("incremental latest fold is associative for ANY landing split") {
    import spark.implicits._
    val gen = for {
      rs <- Gen.listOfN(30, for {
        id <- Gen.oneOf("a", "b", "c", "d")
        ver <- Gen.choose(1L, 4L)
        day <- Gen.choose(1, 5)
        chunk <- Gen.choose(0, 1)
        author <- Gen.oneOf("au", "ax")
        tag <- Gen.choose(0, 2)
      } yield LandingRecord(Timestamp.valueOf(f"2026-01-$day%02d 00:00:00"),
        "T", id, ver, chunk, author, bd, (ver + day) % 2 == 0,
        s"$id-$ver-$day-$chunk-$tag"))
      cut <- Gen.choose(0, 30)
    } yield (rs.distinct, cut)
    check(Prop.forAll(gen) { case (rs, cut0) =>
      val cut = math.min(cut0, rs.size)
      val (h, b) = rs.splitAt(cut)
      rs.isEmpty || {
        val full = Views.latest(spark.createDataset(rs).toDF())
          .collect().map(_.toSeq).toSet
        val inc = Views.latestIncremental(
            Views.latest(spark.createDataset(h).toDF()),
            spark.createDataset(b).toDF())
          .collect().map(_.toSeq).toSet
        inc == full
      }
    })
  }

  test("time travel composes: asOf(t2) == the (t1,t2] batches folded " +
      "into asOf(t1), for ANY landing and any t1 <= t2") {
    import org.apache.spark.sql.functions.{col, lit}
    import spark.implicits._
    def day(d: Int) = Timestamp.valueOf(f"2026-01-$d%02d 00:00:00")
    val gen = for {
      rs <- Gen.listOfN(30, for {
        id <- Gen.oneOf("a", "b", "c", "d")
        ver <- Gen.choose(1L, 4L)
        d <- Gen.choose(1, 5)
        chunk <- Gen.choose(0, 1)
      } yield LandingRecord(day(d), "T", id, ver, chunk, "au", bd,
        (ver + d) % 2 == 0, s"$id-$ver-$d-$chunk"))
      d1 <- Gen.choose(1, 5)
      d2 <- Gen.choose(1, 5)
    } yield (rs.distinct, math.min(d1, d2), math.max(d1, d2))
    check(Prop.forAll(gen) { case (rs, d1, d2) =>
      rs.isEmpty || {
        val store = spark.createDataset(rs).toDF()
        val direct = Views.asOf(store, lit(day(d2)))
          .collect().map(_.toSeq).toSet
        val composed = Views.latestIncremental(
            Views.asOf(store, lit(day(d1))),
            store.filter(col("batch_date") > lit(day(d1)) &&
              col("batch_date") <= lit(day(d2))))
          .collect().map(_.toSeq).toSet
        composed == direct
      }
    })
  }

  test("replays never change the latest view") {
    import spark.implicits._
    val gen = Gen.listOfN(20, for {
      id <- Gen.oneOf("a", "b")
      ver <- Gen.choose(1L, 4L)
    } yield (id, ver))
    check(Prop.forAll(gen) { docs =>
      docs.isEmpty || {
        val lines = docs.map { case (id, v) =>
          s"""{"$$TYPE":"T","DOCUMENT_ID":"$id","$$VERSION":$v}"""
        }
        val once = Ingest.fromNdjsonLines(lines.toDS(), bd, 10)
        val replay = Ingest.fromNdjsonLines(lines.toDS(),
          Timestamp.valueOf("2026-01-02 00:00:00"), 10)
        val l1 = Views.latest(once).select("type", "id", "version").collect().toSet
        val l2 = Views.latest(once.unionByName(replay))
          .select("type", "id", "version").collect().toSet
        l1 == l2
      }
    })
  }

  test("PPM codec: decode(encode(bytes)) round-trips for any payload") {
    check(Prop.forAll(Gen.choose(0, 400), Gen.choose(0, 255)) { (n, seed) =>
      val raw = Array.tabulate(n)(i => ((i * 31 + seed) % 256).toByte)
      val (w, h, maxval, px) =
        graft.llm.Multimodal.decodePpm(graft.llm.Multimodal.encodePpm(n.toLong, raw))
      w == 16 &&
        h == math.max(1, math.ceil(n / 48.0).toInt) &&
        maxval == 255 &&
        px.length == w * h * 3 &&
        px.take(n).toSeq == raw.toSeq &&
        px.drop(n).forall(_ == 0)
    })
  }
}
