package graft

import org.apache.spark.sql.functions._

class CosineF32Spec extends SparkSpec {

  test("cosine_f32 is registered by GraftExtensions") {
    assert(spark.catalog.functionExists("cosine_f32"))
  }

  test("native cosine_f32 is bit-equal to the interpreted HOF fold") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5f, -1.0f, 2.0f)),
      (Array(0.1f, 0.2f, 0.3f), Array(0.1f, 0.2f, 0.3f)),
      (Array(-0.7f, 0.0f, 0.31f), Array(0.11f, 0.5f, -0.9f)),
    ).toDF("a", "b")
    val hof =
      """aggregate(zip_with(a, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, t) -> acc + t)
        | / sqrt(aggregate(zip_with(a, a, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, t) -> acc + t)
        |      * aggregate(zip_with(b, b, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, t) -> acc + t))""".stripMargin
    val rows = df.selectExpr("cosine_f32(a, b) as native", s"$hof as hof").collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
  }

  test("native dot_f32f64 is bit-equal to the interpreted HOF fold") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5d, -1.25d, 2.125d)),
      (Array(0.1f, 0.2f, 0.3f), Array(1.0d / 3.0d, 2.0d / 7.0d, -0.9d)),
      (Array(-0.7f, 0.0f, 0.31f), Array(0.11d, 0.5d, -0.9d)),
    ).toDF("a", "w")
    val hof = "aggregate(zip_with(a, w, (x, y) -> cast(x as double) * y), cast(0 as double), (acc, t) -> acc + t)"
    val rows = df.selectExpr("dot_f32f64(a, w) as native", s"$hof as hof").collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
    // HOF parity on the degenerate shapes too: zip_with null-pads a
    // length mismatch and a null element nulls the fold -> NULL
    val weird = spark.sql(
      """SELECT dot_f32f64(cast(array(1.0, 2.0) as array<float>), array(1.0d)) AS mism,
        |       dot_f32f64(cast(array(1.0, null) as array<float>), array(1.0d, 2.0d)) AS withnull""".stripMargin)
      .collect().head
    assert(weird.isNullAt(0) && weird.isNullAt(1))
  }

  test("native l2_f32f64 is bit-equal to the interpreted HOF fold") {
    import spark.implicits._
    val df = Seq(
      (Array(1.0f, 2.0f, 3.0f), Array(0.5d, -1.25d, 2.125d)),
      (Array(0.1f, 0.2f, 0.3f), Array(1.0d / 3.0d, 2.0d / 7.0d, -0.9d)),
      (Array(-0.7f, 0.0f, 0.31f), Array(0.11d, 0.5d, -0.9d)),
    ).toDF("a", "w")
    val hof = "aggregate(zip_with(a, w, (x, c) -> (cast(x as double) - c) * (cast(x as double) - c)), cast(0 as double), (acc, t) -> acc + t)"
    val rows = df.selectExpr("l2_f32f64(a, w) as native", s"$hof as hof").collect()
    rows.foreach { r =>
      assert(java.lang.Double.doubleToLongBits(r.getDouble(0)) ==
        java.lang.Double.doubleToLongBits(r.getDouble(1)),
        s"native=${r.getDouble(0)} hof=${r.getDouble(1)}")
    }
    val weird = spark.sql(
      """SELECT l2_f32f64(cast(array(1.0, 2.0) as array<float>), array(1.0d)) AS mism,
        |       l2_f32f64(cast(array(1.0, null) as array<float>), array(1.0d, 2.0d)) AS withnull""".stripMargin)
      .collect().head
    assert(weird.isNullAt(0) && weird.isNullAt(1))
  }

  test("sign_bands_f32 matches the composable HOF band expressions") {
    import spark.implicits._
    val df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
      .limit(50)
    val hof = s"array(${(0 until 4).map(b => KernelOracles.sBand("embedding", b)).mkString(", ")})"
    val rows = df.selectExpr("sign_bands_f32(embedding) as native", s"$hof as hof")
      .collect()
    rows.foreach { r =>
      assert(r.getSeq[Int](0) == r.getSeq[Int](1))
    }
  }

  test("shingles3 matches the composable tokenize+shingle+distinct chain") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    val hof = KernelOracles.sShinglesHof
    val rows = df.selectExpr("shingles3(text) as native", s"$hof as hof").collect()
    rows.foreach { r =>
      assert(r.getSeq[String](0) == r.getSeq[String](1))
    }
    // edge cases: empty, short, multi-space
    import spark.implicits._
    val edge = Seq("", "one two", "a  b\tc   d", "  x y z  ").toDF("text")
    val er = edge.selectExpr("shingles3(text) as native", s"$hof as hof").collect()
    er.foreach(r => assert(r.getSeq[String](0) == r.getSeq[String](1)))
  }

  test("simhash60 matches the explode+majority-sum composable form") {
    import graft.llm.Frag
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
      .limit(100)
      .selectExpr("doc_id", "shingles3(text) as shs")
      .filter("size(shs) > 0")
    val word = (0 until 60).map(b =>
      s"if(2 * c$b > n, shiftleft(cast(1 as bigint), $b), cast(0 as bigint))").mkString(" + ")
    val sums = (0 until 60).map(b =>
      s"sum(cast((shiftright(h, $b) & 1) as bigint)) as c$b").mkString(", ")
    df.selectExpr("doc_id", "explode(shs) as sh")
      .selectExpr("doc_id", s"${Frag.sH("sh")} as h")
      .createOrReplaceTempView("sh_ex")
    val hof = spark.sql(
      s"SELECT doc_id, $word as simhash FROM (SELECT doc_id, count(1) as n, $sums FROM sh_ex GROUP BY doc_id) x")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val native = df.selectExpr("doc_id", "simhash60(shs) as simhash")
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(native == hof)
    assert(native.nonEmpty)
  }

  test("cosine_f32 null and identity behavior") {
    import spark.implicits._
    val df = Seq((Array(1.0f, 0.0f), Array(1.0f, 0.0f))).toDF("a", "b")
    assert(df.selectExpr("cosine_f32(a, b)").head.getDouble(0) == 1.0)
    assert(df.selectExpr("cosine_f32(a, cast(null as array<float>))").head.isNullAt(0))
  }

  test("charclass_counts matches the 4-pass regexp chain, incl. multi-byte UTF-8") {
    val df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet").limit(100)
    def check(src: org.apache.spark.sql.DataFrame): Unit = {
      val rows = src
        .selectExpr("charclass_counts(lower(text)) as c", "lower(text) as lt")
        .selectExpr("c.n_chars", "c.n_alpha", "c.n_digit", "c.n_space",
          "cast(length(lt) as bigint) as e_chars",
          "cast(length(regexp_replace(lt, '[^a-z]', '')) as bigint) as e_alpha",
          "cast(length(regexp_replace(lt, '[^0-9]', '')) as bigint) as e_digit",
          "cast(length(regexp_replace(lt, '[^ ]', '')) as bigint) as e_space")
        .collect()
      assert(rows.nonEmpty)
      rows.foreach { r =>
        assert(r.getLong(0) == r.getLong(4), "n_chars")
        assert(r.getLong(1) == r.getLong(5), "n_alpha")
        assert(r.getLong(2) == r.getLong(6), "n_digit")
        assert(r.getLong(3) == r.getLong(7), "n_space")
      }
    }
    check(df)
    // multi-byte codepoints (2-, 3-, 4-byte sequences), digits, tabs,
    // empty string — the byte-census must agree with the regex engine
    import spark.implicits._
    check(Seq("", "abc 123", "héllo wörld", "日本語 text 42",
      "emoji 🙂 mix\t9z", "   ").toDF("text"))
  }
}
