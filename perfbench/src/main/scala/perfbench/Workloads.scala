package perfbench

import graft.model.RootSchema
import graft.pipeline.SyncPipeline
import org.apache.spark.sql.Observation
import java.nio.file.Path
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** What a workload measured, before it becomes metrics. */
final class Measured {
  /** Wall seconds of each set-up. */
  val setups = mutable.ArrayBuffer.empty[Double]
  /** Time of each measured cycle. */
  val cycles = mutable.ArrayBuffer.empty[Took]
  /** Documents one cycle lands, and the time of each sync. */
  var docsPerCycle = 0L
  val syncs = mutable.ArrayBuffer.empty[Took]
  var landingBytes = 0L
  var inputBytes = 0L
  /** Time of the prune after each measured cycle. */
  val prunes = mutable.ArrayBuffer.empty[Took]
  /** Heap and non-heap MB in use after a full collection at the end of
    * the `minCycles`-th cycle. */
  var retainedHeapMb = Double.NaN
  var retainedNonHeapMb = Double.NaN
  /** Landing store rows after each cycle (traced runs only), for the
    * scan amplification. */
  val landingRowsAfterCycle = mutable.ArrayBuffer.empty[Long]
  /** Wall seconds spent checking outputs, outside the cycles. */
  var checkSeconds = 0.0
  var filesWritten = 0L
  var landingFiles = 0L
  var chunkRows = 0L
}

/** A closed loop with one client, in one Spark session. A run sets up
  * `setupReps` times (timed; the last set-up is kept), then measures
  * one cycle per `cycleSeconds` of `seconds` (at least `minCycles`),
  * back to back, unless `capSeconds` of wall time pass first. Each
  * cycle is followed by a prune of the store it wrote (`pruneTarget`),
  * timed on its own, so cycles and prunes are sampled over the same
  * window. Every cycle and prune is checked; the views over the last
  * pruned store are checked in full.
  *
  * Each set-up runs the operations the cycles run, prune included, on
  * its own inputs, so the set-ups also warm the JVM: the first one
  * pays the cold start. The cycles still get faster all through a run
  * as the JIT compiles more. So a run measures a fixed number of
  * cycles, not as many as fit in `seconds`: every run then stops at
  * the same point of the warm-up, and a slow machine does not also
  * leave the JVM colder.
  * One session throughout: a new session recompiles its generated
  * code, which the JIT then has to warm up again.
  *
  * A cycle that throws counts as a failed operation and its time is
  * not kept; a set-up that throws ends the run without a result. */
abstract class Workload(h: Harness) {
  val m = new Measured
  val setupReps = 3
  val minCycles = 3
  /** What a cycle and its prune take on the 4-vCPU machine the
    * benchmark was sized on. */
  val cycleSeconds = 2.5
  val capSeconds = 90.0

  /** One set-up, leaving the state the cycles run on; returns the
    * seconds of its timed part (input generation is not timed). */
  protected def setup(rep: Int): Double
  /** Untimed preparation of cycle `i`, such as delivering its input. */
  protected def prepare(i: Int): Unit = ()
  /** One measured cycle; returns (documents landed, sync time). */
  protected def cycle(i: Int): (Long, Took)
  /** Output check after cycle `i`, outside the timed part. */
  protected def verify(i: Int): Unit
  /** The landing store the last cycle wrote. */
  protected def landing: String
  /** The directory (landing and state) to prune after cycle `i`:
    * the store the cycle wrote, or a copy of it. */
  protected def pruneTarget(i: Int): Path
  /** Work after the cycles, before the last pruned store is checked. */
  protected def finish(): Unit = ()
  /** The expected state of the landing store the cycles wrote. */
  protected def gen: DocGen
  protected def close(): Unit

  def run(): Measured = {
    try {
      h.newSession()
      h.log("session started")
      for (rep <- 0 until setupReps) {
        m.setups += setup(rep)
        h.log(s"set up $rep")
      }
      h.tracer.phase = "measure"
      val start = System.nanoTime()
      val target = math.max(minCycles, math.round(h.o.seconds / cycleSeconds).toInt)
      var i = 0
      while (i < target && (System.nanoTime() - start) / 1e9 < capSeconds) {
        runCycle(i)
        i += 1
        if (i == minCycles) retained()
      }
      if (m.retainedHeapMb.isNaN) retained()
      h.log(s"measured $i cycles")
      h.tracer.phase = "finish"
      finish()
      h.attempt("views over the last pruned store") {
        lastPruned.exists { p =>
          p.createViews(schemaOf)
          h.check("last pruned store", gen.expected)
        }
      }
      h.log("finished")
    } finally close()
    m
  }

  /** Run and check cycle `i` and the prune after it. */
  private def runCycle(i: Int): Unit = {
    prepare(i)
    val c = h.tracer.open("cycle")
    var done: Option[(Long, Took)] = None
    val took =
      try Took.of(h.attempt(s"cycle $i") { done = Some(cycle(i)); true })
      finally h.tracer.close(c)
    done.foreach { case (docs, sync) =>
      m.cycles += took
      m.docsPerCycle = docs
      m.syncs += sync
      val t1 = System.nanoTime()
      verify(i)
      if (h.o.trace) m.landingRowsAfterCycle += h.landingRows(landing)
      m.checkSeconds += (System.nanoTime() - t1) / 1e9
    }
    if (done.nonEmpty) prune(pruneTarget(i), s"prune $i").foreach(m.prunes += _)
  }

  private var lastPruned: Option[SyncPipeline] = None

  /** Prune the store in `dir` and check that it holds one row per
    * document version and chunk slice emitted; returns the prune's
    * time, or None when it failed. */
  protected def prune(dir: Path, what: String,
      expectedRows: => Long = gen.prunedRows): Option[Took] = {
    val land = dir.resolve("landing")
    val pipe = new SyncPipeline(h.spark, "", land.toString,
      dir.resolve("state").toString, h.chunkSize)
    var s: Option[Took] = None
    h.attempt(what) {
      s = Some(Took.of(h.tracer.span("views.prune")(pipe.prune())))
      lastPruned = Some(pipe)
      h.same(s"$what rows", h.landingRows(land.toString), expectedRows)
    }
    s
  }

  /** Memory in use after a full collection: at a fixed amount of work,
    * so it follows what the program keeps, not the collector's timing.
    * Spark drops unpersisted blocks asynchronously, so the heap is the
    * least of three collections a quarter second apart. */
  private def retained(): Unit = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    m.retainedHeapMb = (1 to 3).map { _ =>
      Thread.sleep(250)
      mem.gc()
      mem.getHeapMemoryUsage.getUsed / 1048576.0
    }.min
    m.retainedNonHeapMb = mem.getNonHeapMemoryUsage.getUsed / 1048576.0
  }

  protected def timed(body: => Unit): Double = {
    val t0 = System.nanoTime()
    body
    (System.nanoTime() - t0) / 1e9
  }

  protected def schemaOf: RootSchema
}

/** `clone_http`: a seeded document stream served by the in-process
  * sync server is landed, again and again into fresh stores, by
  * `SyncPipeline.clone` through `HttpDocumentSource`; each clone is
  * followed by the first read of the fresh store, the live counts per
  * type from `DOCUMENTS_LATEST`. */
final class CloneHttp(h: Harness, docs: Int) extends Workload(h) {
  private var server: SyncServer = _
  private var stream: DocGen = _
  private var schema: RootSchema = _
  private var currentDir: Path = _
  private var lastRows = 0L
  private var observed: Observation = _

  override protected def landing: String = currentDir.resolve("landing").toString
  override protected def schemaOf: RootSchema = schema
  override protected def gen: DocGen = stream

  private def cloneInto(dir: Path, srv: SyncServer): Long = {
    val pipe = new SyncPipeline(h.spark, "", dir.resolve("landing").toString,
      dir.resolve("state").toString, h.chunkSize)
    val src = new TracedSource(h.source(srv), h.tracer)
    try pipe.clone(schema, Some(src)) finally src.finish()
  }

  private def firstRead(): Observation = h.tracer.span("views.latest")(
    h.readObserved(Dashboards.latest, Dashboards.observe(Dashboards.latest): _*))

  override protected def setup(rep: Int): Double = {
    if (server != null) server.close()
    stream = new DocGen(h.o.seed, h.chunkSize)
    val lines = stream.batch(docs, Mix.Clone)
    // a set-up also clones a stream of another seed into a throwaway
    // store and reads it, as a user's first sync warms the process
    val warmGen = new DocGen(h.o.seed + 1000003L * (rep + 1), h.chunkSize)
    val warmLines = warmGen.batch(docs, Mix.Clone)
    val warm = new SyncServer(DocGen.schemaJson)
    val dir = h.o.work.resolve(s"setup-$rep")
    try {
      val load = timed {
        server = new SyncServer(DocGen.schemaJson)
        server.append(lines)
        schema = h.source(server).fetchSchema()
        warm.append(warmLines)
        cloneInto(dir, warm)
        firstRead()
      }
      load + prune(dir, s"set-up $rep prune", warmGen.prunedRows)
        .getOrElse(sys.error(s"set-up $rep: prune failed")).wall
    } finally {
      warm.close()
      h.delete(dir)
    }
  }

  override protected def cycle(i: Int): (Long, Took) = {
    if (currentDir != null) h.delete(currentDir)
    currentDir = h.o.work.resolve(s"clone-$i")
    val served0 = server.served
    val sync = Took.of {
      lastRows = h.tracer.span("pipeline.clone")(cloneInto(currentDir, server))
    }
    m.inputBytes = server.served - served0
    observed = firstRead()
    (docs.toLong, sync)
  }

  /** The rows `clone` reports parsing, the rows that landed, and the
    * live counts the first read returned. */
  override protected def verify(i: Int): Unit = {
    h.attempt(s"clone $i") {
      h.same(s"clone $i rows parsed", lastRows, gen.records) &&
        h.same(s"clone $i rows landed", h.landingRows(landing),
          gen.landedRows(0, docs, h.pageLimit)) &&
        h.same(s"clone $i live counts", Dashboards.live(observed), gen.expected.live)
    }
    m.landingBytes = h.landingBytes(landing)
    m.landingFiles = h.parquetFiles(landing).size
    m.filesWritten += m.landingFiles
    if (h.o.trace) m.chunkRows = h.chunkRows(landing)
  }

  /** The fresh clone itself: the next cycle deletes it anyway. */
  override protected def pruneTarget(i: Int): Path = currentDir

  override protected def close(): Unit = if (server != null) server.close()
}

/** `refresh_views`: a landing store loaded in set-up takes repeated
  * cycles of one delta page (`syncFrom`), a view refresh
  * (`createViews`) and a dashboard read, each followed by a prune of
  * a copy of the store. */
final class RefreshViews(h: Harness, baseDocs: Int, deltaDocs: Int) extends Workload(h) {
  private var store: Store = _
  private var observed: Seq[Observation] = Nil

  /** A landing store fed by its own sync server and generator. */
  private final class Store(val gen: DocGen, base: Seq[String], val dir: Path) {
    val server = new SyncServer(DocGen.schemaJson)
    server.append(base)
    val schema: RootSchema = h.source(server).fetchSchema()
    val land: String = dir.resolve("landing").toString
    val pipe = new SyncPipeline(h.spark, "", land, dir.resolve("state").toString,
      h.chunkSize)
    private val src = new TracedSource(h.source(server), h.tracer)

    def load(): Unit = try pipe.clone(schema, Some(src)) finally src.finish()

    /** Put the next delta on the server. */
    def deliver(): Unit = server.append(gen.batch(deltaDocs, Mix.Delta))

    /** Land the delta page, refresh the views, read the dashboard;
      * returns the sync time. */
    def refresh(): Took = {
      val sync = Took.of(h.tracer.span("pipeline.sync") {
        try pipe.syncFrom(src) finally src.finish()
      })
      h.tracer.span("views.register")(pipe.createViews(schema))
      observed = Seq("views.latest" -> Dashboards.latest, "views.typed" -> Dashboards.typed,
        "views.child" -> Dashboards.child).map { case (name, q) =>
        h.tracer.span(name)(h.readObserved(q, Dashboards.observe(q): _*))
      }
      sync
    }

    def close(): Unit = server.close()
  }

  override protected def landing: String = store.land
  override protected def schemaOf: RootSchema = store.schema
  override protected def gen: DocGen = store.gen

  override protected def setup(rep: Int): Double = {
    if (store != null) { store.close(); h.delete(store.dir) }
    val gen = new DocGen(h.o.seed, h.chunkSize)
    val base = gen.batch(baseDocs, Mix.Clone)
    // loading the store and its first refresh
    val load = timed {
      store = new Store(gen, base, h.o.work.resolve(s"refresh-$rep"))
      store.load()
    }
    store.deliver()
    val refresh = store.refresh().wall
    load + refresh + prune(pruneTarget(-1 - rep), s"set-up $rep prune")
      .getOrElse(sys.error(s"set-up $rep: prune failed")).wall
  }

  private var copyDir: Path = _

  /** A copy of the store, so small files keep accumulating in the
    * store the cycles refresh. The copy stays until the next one, as
    * the last is checked in full. */
  override protected def pruneTarget(i: Int): Path = {
    if (copyDir != null) h.delete(copyDir)
    copyDir = h.o.work.resolve(s"prune-$i")
    h.copy(Path.of(store.land), copyDir.resolve("landing"))
    copyDir
  }

  override protected def prepare(i: Int): Unit = {
    if (i == 0) m.landingFiles = h.parquetFiles(store.land).size
    store.deliver()
  }

  override protected def cycle(i: Int): (Long, Took) =
    (deltaDocs.toLong, store.refresh())

  override protected def verify(i: Int): Unit =
    h.attempt(s"cycle $i")(h.checkObserved(s"cycle $i", observed, store.gen.expected))

  override protected def finish(): Unit = {
    val files0 = m.landingFiles
    m.landingBytes = h.landingBytes(store.land)
    m.inputBytes = store.server.served
    m.landingFiles = h.parquetFiles(store.land).size
    m.filesWritten = m.landingFiles - files0
    if (h.o.trace) m.chunkRows = h.chunkRows(store.land)
  }

  override protected def close(): Unit = if (store != null) store.close()
}


/** Wall and CPU seconds of one operation. The CPU seconds are those of
  * the threads that do the work: the calling thread (the sync client,
  * Spark's planning and code generation) and Spark's task threads.
  * Unlike wall time they leave out the time a thread waited for a CPU
  * that another process or the host was using. They also leave out
  * the JIT compiler, the collector's own threads, Spark's scheduler
  * and service threads and the sync server. */
final case class Took(wall: Double, cpu: Double)

object Took {
  def of(body: => Unit): Took = {
    val c0 = WorkCpu.snapshot()
    val t0 = System.nanoTime()
    body
    val wall = (System.nanoTime() - t0) / 1e9
    Took(wall, WorkCpu.since(c0))
  }
}

object WorkCpu {
  private val mx = java.lang.management.ManagementFactory.getThreadMXBean

  /** CPU nanoseconds of each work thread now alive, by thread id. */
  def snapshot(): Map[Long, Long] = {
    val me = Thread.currentThread
    Thread.getAllStackTraces.keySet.asScala.iterator
      .filter(t => (t eq me) || t.getName.startsWith("Executor task launch worker"))
      .map(t => t.getId -> mx.getThreadCpuTime(t.getId))
      .filter(_._2 >= 0).toMap
  }

  /** CPU seconds the work threads used since `before`; a thread that
    * started since counts from zero. */
  def since(before: Map[Long, Long]): Double =
    snapshot().map { case (id, ns) => ns - before.getOrElse(id, 0L) }.sum / 1e9
}
