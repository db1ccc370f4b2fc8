package graft
import org.apache.spark.sql.{SparkSession, DataFrame}
import graft.queries._

/** Driver contract — see /root/repo/SURVEY.md §7 + the builder prompt. */
object SparkEntry {
  /** Flagship query on /root/testdata/sf0.001; driver smoke-checks rows>0. */
  def entry(spark: SparkSession): DataFrame =
    queries("r01_pricing_summary")(spark, "/root/testdata/sf0.001")

  /** One entry per implemented operator from SURVEY.md §2, plus the
    * [EXT] LLM-data-pipeline surface (graft.llm). Each entry first
    * installs graft's functions on the caller's session, which may have
    * been built without `GraftExtensions`. */
  def queries: Map[String, (SparkSession, String) => DataFrame] =
    (Relational.queries ++ TimeSeries.queries ++ DocViews.queries ++
      graft.llm.TextAnalysis.queries ++
      graft.llm.Dedup.queries ++
      graft.llm.Similarity.queries ++
      graft.llm.Multimodal.queries).map { case (name, q) =>
      name -> { (s: SparkSession, dir: String) =>
        graft.plans.GraftExtensions.install(s)
        q(s, dir)
      }
    }

  /** Queries deliberately WITHOUT an oracle: outputs that are
    * approximate by nature (HLL / quantile sketches), where any exact
    * SQL "oracle" would be a different algorithm — the driver records
    * a weaker rows>0 check for these. Every other queries key MUST
    * have an oracleSql entry; graft.Verify exits nonzero (and
    * RelationalSpec "every queries key has an oracle or is declared
    * rows-only" fails) if one is missing, so a correctness hole can't
    * ship silently. */
  val rowsOnly: Set[String] = Set("r21_approx_distinct")

  /** For each key in queries, equivalent ANSI SQL runnable by DuckDB on
    * the same parquet tables. Omit for non-SQL-expressible ops. */
  def oracleSql: Map[String, String] =
    Relational.oracleSql ++ TimeSeries.oracleSql ++ DocViews.oracleSql ++
      graft.llm.TextAnalysis.oracleSql ++
      graft.llm.Dedup.oracleSql ++
      graft.llm.Similarity.oracleSql ++
      graft.llm.Multimodal.oracleSql
}
