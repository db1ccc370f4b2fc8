package graft

import graft.plans.GraftExtensions
import org.apache.spark.sql.catalyst.expressions.ExpressionInfo

/** A session built without `GraftExtensions` (here: a new session with
  * every graft function dropped) still answers `SparkEntry.queries`:
  * each entry installs the functions it needs, once. */
class ForeignSessionSpec extends SparkSpec {

  private val probes =
    Seq("x72_script_profile", "x86_rendezvous_shards", "x06_minhash_sigs")

  private def rows(s: org.apache.spark.sql.SparkSession, q: String) =
    SparkEntry.queries(q)(s, sf001).collect().map(_.toString).toSeq.sorted

  test("SparkEntry.queries installs graft's functions on a foreign session") {
    val fs = spark.newSession()
    val reg = fs.sessionState.functionRegistry
    GraftExtensions.functions.foreach { case (id, _, _) => reg.dropFunction(id) }
    assert(!fs.catalog.functionExists("minhash16"))
    for (q <- probes) {
      val got = rows(fs, q)
      assert(got.nonEmpty, q)
      assert(got == rows(spark, q), q)
    }
    for ((id, _, _) <- GraftExtensions.functions)
      assert(reg.functionExists(id), id.funcName)

    // a second install leaves every entry as it is: it adds only what
    // is missing, so a function the session holds is never replaced
    val id = GraftExtensions.functions.head._1
    val marker = new ExpressionInfo("marker", id.funcName)
    reg.registerFunction(id, marker, reg.lookupFunctionBuilder(id).get)
    val before = reg.listFunction().size
    GraftExtensions.install(fs)
    assert(reg.lookupFunction(id).contains(marker))
    assert(reg.listFunction().size == before)
  }
}
