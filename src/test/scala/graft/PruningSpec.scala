package graft

import graft.ingest.Ingest
import org.apache.spark.sql.functions._

/** Scan-level efficiency proofs: predicates and projections must reach
  * the parquet scan — partition pruning on the type-partitioned landing
  * store, filter pushdown, and column pruning (ReadSchema). These are
  * the plan properties SCALE.md claims; this spec pins them. */
class PruningSpec extends SparkSpec {

  private def scanString(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("landing store: type filter becomes a partition filter, not a data filter") {
    import spark.implicits._
    val lines = Seq("invoice", "invoice", "receipt", "po").zipWithIndex.map {
      case (t, i) =>
        s"""{"$$TYPE":"$t","DOCUMENT_ID":"d$i","$$VERSION":1,"$$AUTHOR_ID":"a","$$DATE":"2026-01-01T00:00:00Z","$$DELETED":false,"N":$i}"""
    }
    val bd = java.sql.Timestamp.valueOf("2026-01-01 00:00:00")
    val df = Ingest.fromNdjsonLines(lines.toDS(), bd, 10000)
    val path = java.nio.file.Files
      .createTempDirectory("graft-prune").toString + "/store"
    Ingest.appendBatch(df, path)

    val q = Ingest.readLanding(spark, path)
      .filter(col("type") === "invoice" && col("version") >= 1)
      .select("id", "version")
    val plan = scanString(q)
    // the type predicate prunes directories before any row is read
    assert(plan.contains("PartitionFilters") &&
      plan.replaceAll("\\s", "").contains("(type#"), plan)
    // the version predicate reaches the parquet reader
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThanOrEqual(version,1)"), plan)
    assert(q.count() == 2)
  }

  test("corpus scan: projection prunes ReadSchema to the used columns") {
    val q = graft.queries.Tables.t(spark, sf001, "lineitem")
      .filter(col("l_quantity") > 45)
      .select("l_orderkey", "l_quantity")
    val plan = scanString(q)
    assert(plan.contains("PushedFilters") &&
      plan.contains("GreaterThan(l_quantity"), plan)
    val readSchema = plan.linesIterator
      .find(_.contains("ReadSchema")).getOrElse("")
    assert(readSchema.contains("l_orderkey") &&
      readSchema.contains("l_quantity"), readSchema)
    // no other lineitem column survives into the scan schema
    assert(!readSchema.contains("l_extendedprice") &&
      !readSchema.contains("l_comment"), readSchema)
  }

  test("broadcast dim join keeps the fact side unshuffled") {
    val s = spark
    val n = graft.queries.Tables.t(s, sf001, "nation")
    val c = graft.queries.Tables.t(s, sf001, "customer")
    val q = c.join(broadcast(n), c("c_nationkey") === n("n_nationkey"))
      .groupBy("n_name").count()
    val plan = scanString(q)
    assert(plan.contains("BroadcastHashJoin"), plan)
    // the only exchanges are the broadcast itself and the final
    // aggregation shuffle — the customer scan feeds the join directly
    assert(!plan.contains("SortMergeJoin"), plan)
  }
}
