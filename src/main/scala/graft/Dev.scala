package graft

import java.nio.file.{Files, Paths}

/** Dev tool: two verbs over `SparkEntry.queries` on one `EngineSession`.
  *
  *  - `run <name>[,<name>...] [sfDir] [reps]` runs each named query
  *    `reps` times (default 3) and prints per-repetition wall times. It
  *    separates a query's own cost from first-use attribution (cold
  *    parquet footers, shared-frame builds, codegen JIT) that the full
  *    bench lumps into whichever query runs first.
  *  - `explain <name>[,<name>...]|all <outDir> [suffix] [sfDir]` writes
  *    each query's `.explain("formatted")` to
  *    `<outDir>/<name>_<suffix>.txt` (suffix defaults to "after"); `all`
  *    names every query. Each query runs once, untimed, first, so its
  *    shared tiers exist and the dumped plan is the steady-state one a
  *    timed rep runs.
  *
  * `sfDir` defaults to `$SPARK_GRAFT_SF_DIR`, the corpus `Bench` reads;
  * `$SPARK_GRAFT_CPUS` (default 32) sizes the local session.
  * Usage: runMain graft.Dev run|explain ... */
object Dev {
  def main(args: Array[String]): Unit = args.headOption match {
    case Some("run") if args.length >= 2 =>
      val (qs, dir) = (names(args(1)), sfDir(args.lift(2)))
      val reps = args.lift(3).fold(3)(_.toInt)
      withSession("graft-dev-run") { spark =>
        qs.foreach { name =>
          for (i <- 1 to reps) {
            val t0 = System.nanoTime()
            val n = SparkEntry.queries(name)(spark, dir).count()
            val dt = (System.nanoTime() - t0) / 1e9
            println(f"[dev] $name rep$i: $dt%.3f s ($n rows)")
            graft.queries.Shared.dropTransient()
          }
        }
      }
    case Some("explain") if args.length >= 3 =>
      val (qs, dir) = (names(args(1)), sfDir(args.lift(4)))
      val outDir = args(2)
      val suffix = args.lift(3).getOrElse("after")
      Files.createDirectories(Paths.get(outDir))
      withSession("graft-dev-explain") { spark =>
        qs.foreach { name =>
          val fn = SparkEntry.queries(name)
          // NonFatal only: an OOM/linkage error must abort the dump,
          // not produce a plan that silently isn't the steady state
          try fn(spark, dir).count() catch {
            case scala.util.control.NonFatal(e) =>
              System.err.println(s"[dev] prewarm of $name failed: ${e.getMessage}")
          }
          val plan = fn(spark, dir).queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode)
          Files.write(Paths.get(outDir, s"${name}_$suffix.txt"), plan.getBytes("UTF-8"))
          println(s"[dev] wrote $outDir/${name}_$suffix.txt (${plan.length} chars)")
        }
      }
    case _ =>
      usage("usage: graft.Dev run <names> [sfDir] [reps] | " +
        "explain <names|all> <outDir> [suffix] [sfDir]")
  }

  private def usage(msg: String): Nothing = {
    System.err.println(msg)
    sys.exit(2)
  }

  /** Comma-separated query names, or `all`; unknown names exit 2. */
  private def names(arg: String): Seq[String] = {
    val ns =
      if (arg == "all") SparkEntry.queries.keys.toSeq.sorted
      else arg.split(",").map(_.trim).filter(_.nonEmpty).toSeq
    val unknown = ns.filterNot(SparkEntry.queries.contains)
    if (unknown.nonEmpty)
      usage(s"unknown queries: ${unknown.mkString(", ")} — " +
        "names must be SparkEntry.queries keys")
    ns
  }

  private def sfDir(arg: Option[String]): String =
    arg.orElse(sys.env.get("SPARK_GRAFT_SF_DIR")).getOrElse(
      usage("no corpus: pass sfDir or set SPARK_GRAFT_SF_DIR"))

  private def withSession(appName: String)(
      body: org.apache.spark.sql.SparkSession => Unit): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "32")
    val spark = EngineSession.local(appName, cpus).getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    try body(spark) finally spark.stop()
  }
}
