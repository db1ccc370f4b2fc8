package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare.
  *
  * SELF-EVIDENCING (round 12): a round whose hard signal can silently
  * vanish is a round that can ship a regression unnoticed — round 11's
  * driver artifact arrived empty while the engine was green, and only a
  * judge re-run proved it. This main therefore fails LOUDLY:
  *   - every per-query failure is counted, and the process exits 1 if
  *     any query failed to dump (the old version swallowed throwables
  *     with a stderr line and exited 0);
  *   - exits 1 if zero queries were dumped (an empty dump can only be
  *     a harness/filter defect, never a valid result);
  *   - exits 1 if any dumped query lacks an oracleSql entry and is not
  *     on the declared rows-only allowlist (SparkEntry.rowsOnly) — a
  *     query without an oracle is a query the gate can't check;
  *   - prints a machine-readable `[verify] manifest dumped=N/M failed=F`
  *     line so the artifact's completeness is verifiable from the log
  *     alone. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = EngineSession.local("graft-verify", cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    new java.io.File(outDir).mkdirs()
    val trace = sys.env.get("GRAFT_VERIFY_TRACE").contains("1")
    // local-iteration filter: GRAFT_VERIFY_ONLY=x61_bloom_decontam,r59_…
    // limits the dump to those queries (driver never sets it)
    val only = sys.env.get("GRAFT_VERIFY_ONLY")
      .map(_.split(",").map(_.trim).filter(_.nonEmpty).toSet)
    val selected = SparkEntry.queries
      .filter { case (name, _) => only.forall(_.contains(name)) }
    var dumped = 0
    val failed = scala.collection.mutable.ArrayBuffer.empty[String]
    selected.foreach { case (name, fn) =>
      if (trace) System.err.println(s"[verify] >>> $name")
      try {
        fn(spark, sfDir).coalesce(1).write.mode("overwrite")
          .parquet(s"$outDir/$name")
        dumped += 1
      } catch { case e: Throwable =>
        failed += name
        System.err.println(s"[verify] $name FAILED: ${e.getMessage}")
      } finally graft.queries.Shared.dropTransient()
    }
    // every dumped query must be checkable: oracle SQL, or explicitly
    // declared rows-only (the sketch queries whose outputs are
    // approximate by nature — the driver records a weaker rows>0 check)
    val unchecked = selected.keySet -- SparkEntry.oracleSql.keySet --
      SparkEntry.rowsOnly
    unchecked.toSeq.sorted.foreach(n =>
      System.err.println(s"[verify] $n has NO oracle and is not rows-only"))
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    val json = SparkEntry.oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    val ok = failed.isEmpty && dumped > 0 && unchecked.isEmpty &&
      Files.exists(Paths.get(s"$outDir/oracle_sql.json"))
    println(s"[verify] manifest dumped=$dumped/${selected.size} " +
      s"failed=${failed.size} unchecked=${unchecked.size} " +
      s"oracle_entries=${SparkEntry.oracleSql.size}" +
      (if (failed.nonEmpty) " failed_names=" + failed.mkString(",") else ""))
    spark.stop()
    if (!ok) sys.exit(1)
  }
}
