package perfbench

import java.nio.file.{Files, Path}

/** Entry point for one benchmark run of one workload:
  *
  *   Main --workload clone_http|refresh_views --seed N --seconds S
  *        --trace 0|1 --work DIR --cpus C [--spans FILE]
  *
  * Prints a summary of every metric, then, as the last line, one JSON
  * object: {"correct", "attempted", "failed", "metrics"}. Untraced runs
  * report the end-to-end metrics; traced runs report the per-layer
  * metrics and write the spans to FILE. See perfbench/README.md. */
object Main {
  val workloads: Map[String, Harness => Workload] = Map(
    "clone_http" -> (h => new CloneHttp(h, docs = 12000)),
    "refresh_views" -> (h => new RefreshViews(h, baseDocs = 6000, deltaDocs = 500)),
  )

  def main(args: Array[String]): Unit = {
    val kv = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") =>
      k.drop(2) -> v }.toMap
    def need(k: String) = kv.getOrElse(k, sys.error(s"missing --$k"))
    val o = Opts(need("workload"), need("seed").toLong, need("seconds").toInt,
      need("trace") == "1", Path.of(need("work")).toAbsolutePath, need("cpus").toInt)
    val make = workloads.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}; one of ${workloads.keys.mkString(", ")}"))
    Files.createDirectories(o.work)
    val h = new Harness(o)
    val m = make(h).run()
    val metrics =
      if (o.trace) {
        h.tracer.drain()
        val layers = Layers(h, m)
        kv.get("spans").foreach(f => Files.writeString(Path.of(f), h.tracer.json))
        layers
      } else endToEnd(h, m)
    println(f"# ${o.workload} seed ${o.seed} trace ${if (o.trace) 1 else 0}: " +
      f"${m.cycles.size} cycles, " +
      f"setups ${m.setups.map(s => f"$s%.2f").mkString(" ")} s, " +
      f"output checks ${m.checkSeconds}%.1f s, " +
      f"retained heap ${m.retainedHeapMb}%.1f MB + non-heap ${m.retainedNonHeapMb}%.1f MB")
    def list(what: String, ts: Seq[Took]): Unit = {
      println(f"# $what%-5s wall s in order: " + ts.map(t => f"${t.wall}%.3f").mkString(" "))
      println(f"# $what%-5s CPU s in order:  " + ts.map(t => f"${t.cpu}%.3f").mkString(" "))
    }
    list("cycle", m.cycles.toSeq)
    list("sync", m.syncs.toSeq)
    list("prune", m.prunes.toSeq)
    println(f"# failed_frac ${h.failed.toDouble / math.max(1L, h.attempted)}%.4f ratio " +
      s"(${h.failed} of ${h.attempted} cycles, prunes and output checks)")
    metrics.foreach(x => println(f"# ${x.name}%-30s ${x.value}%14.6f ${x.unit}"))
    val js = Json.obj(
      "correct" -> (h.failed == 0).toString,
      "attempted" -> h.attempted.toString,
      "failed" -> h.failed.toString,
      "metrics" -> Json.obj(metrics.map(x =>
        x.name -> Json.obj("value" -> Json.num(x.value), "unit" -> Json.str(x.unit))): _*))
    h.spark.stop()
    println(js)
  }

  def endToEnd(h: Harness, m: Measured): Seq[Metric] = Seq(
    Metric("setup_s", Stats.median(m.setups.toSeq), "s"),
    Metric("sync_docs_per_cpu_s", m.docsPerCycle / Stats.median(m.syncs.map(_.cpu).toSeq),
      "docs/cpu_s"),
    Metric("landing_bytes_per_input_byte", m.landingBytes.toDouble / m.inputBytes, "ratio"),
    Metric("cycle_cpu_s", Stats.median(m.cycles.map(_.cpu).toSeq), "cpu_s"),
    Metric("prune_cpu_s", Stats.median(m.prunes.map(_.cpu).toSeq), "cpu_s"),
    Metric("retained_mb", m.retainedHeapMb + m.retainedNonHeapMb, "MB"),
  )
}

/** Per-layer metrics from the spans of the measured cycles. Times,
  * bytes and counts are per cycle unless named otherwise. */
object Layers {
  private val reads = Set("views.latest", "views.typed", "views.child")

  def apply(h: Harness, m: Measured): Seq[Metric] = {
    val t = h.tracer
    val spans = t.all
    // a page span closes at the next fetch; its landing ends with its
    // last job, and what follows (state write, and in a clone the view
    // registration) is not the page's work
    spans.filter(s => s.name == "ingest.page" && s.work.jobTimes.nonEmpty).foreach { s =>
      s.end = math.min(s.end, t.fromEpochMs(s.work.jobTimes.map(_._3).max))
    }
    val cycles = spans.filter(s => s.phase == "measure" && s.name == "cycle")
    spans.filter(s => s.phase == "measure" && s.name == "pipeline.clone").foreach { c =>
      t.children(c).filter(_.name == "ingest.page").maxByOption(_.start)
        .foreach(p => t.synthetic("views.register", c, p.end, c.end))
    }
    val measured = t.all.filter(_.phase == "measure")
    val n = math.max(1, cycles.size).toDouble
    def named(name: String) = measured.filter(_.name == name)
    def secs(name: String) = named(name).map(_.seconds).sum / n
    def sum(ss: Seq[Span])(f: Work => Long) = ss.map(s => f(s.work)).sum.toDouble
    val pages = named("ingest.page")
    val (parse, write) = pages.flatMap(_.work.jobTimes)
      .partition(_._1.startsWith("count at"))
    def jobSecs(js: Seq[(String, Long, Long)]) = js.map(j => (j._3 - j._2) / 1e3).sum / n
    val viewReads = measured.filter(s => reads(s.name))
    // rows, not bytes: the parquet reader's bytesRead misses reads done
    // off the task thread, while recordsRead is counted by the scan
    val scanAmp = cycles.zip(m.landingRowsAfterCycle).map { case (c, rows) =>
      sum(viewReads.filter(_.parent == c.id))(_.inputRecords) / rows
    }
    val prunes = t.all.filter(_.name == "views.prune")
    val busy = (m.cycles ++ m.prunes).map(_.wall).sum
    Seq(
      Metric("pipeline.fetch_s", secs("pipeline.fetch"), "s"),
      Metric("pipeline.pages", pages.size / n, "count"),
      Metric("pipeline.page_p50_s", Stats.median(pages.map(_.seconds)), "s"),
      Metric("ingest.parse_s", jobSecs(parse), "s"),
      Metric("ingest.write_s", jobSecs(write), "s"),
      Metric("ingest.shuffle_bytes", sum(pages)(_.shuffleWriteBytes) / n, "bytes"),
      Metric("ingest.rows_landed", sum(pages)(_.outputRecords) / n, "count"),
      Metric("ingest.chunk_rows", m.chunkRows.toDouble, "count"),
      Metric("ingest.files_written", m.filesWritten / n, "count"),
      Metric("views.register_s", secs("views.register"), "s"),
      Metric("views.latest_s", secs("views.latest"), "s"),
      Metric("views.typed_s", secs("views.typed"), "s"),
      Metric("views.child_s", secs("views.child"), "s"),
      Metric("views.shuffle_bytes", sum(viewReads)(_.shuffleWriteBytes) / n, "bytes"),
      Metric("views.scan_amp", Stats.median(scanAmp), "ratio"),
      Metric("views.landing_files", m.landingFiles.toDouble, "count"),
      Metric("views.prune_bytes_rewritten",
        sum(prunes)(_.outputBytes) / math.max(1, prunes.size), "bytes"),
      Metric("spark.task_s", sum(measured)(_.runMs) / 1e3 / n, "s"),
      Metric("spark.core_util", sum(measured)(_.runMs) / 1e3 / (busy * h.o.cpus), "ratio"),
      Metric("spark.gc_s", sum(measured)(_.gcMs) / 1e3 / n, "s"),
      Metric("spark.sched_delay_s", sum(measured)(_.schedMs) / 1e3 / n, "s"),
      Metric("spark.failed_tasks", sum(t.all)(_.failedTasks), "count"),
      Metric("trace.cycle_cpu_s", Stats.median(m.cycles.map(_.cpu).toSeq), "cpu_s"),
      Metric("wall.cycle_p50_s", Stats.median(m.cycles.map(_.wall).toSeq), "s"),
      Metric("wall.sync_docs_per_s", m.docsPerCycle / Stats.median(m.syncs.map(_.wall).toSeq),
        "docs/s"),
      Metric("wall.prune_p50_s", Stats.median(m.prunes.map(_.wall).toSeq), "s"),
    )
  }
}
