package graft.queries

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths, StandardCopyOption}
import java.security.MessageDigest
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Durable standing-index tiers: the expensive cross-query structures
  * (the NN-Descent edge list and its capped adjacency, IVF routing,
  * PQ codebook/codes, the fingerprint/band stores) persisted as
  * parquet keyed by (corpus dir, tier key, builder version), loaded
  * instead of rebuilt when fresh.
  *
  * Rationale: [[Shared]] memoizes these per SESSION, so every new
  * session rebuilds every index from scratch. At 100 TB the index IS
  * the asset — construction is hours of cluster work, and a session
  * restart must not discard it. This layer is the same move the r85
  * persistent catalog views made for the relational surface, applied
  * to the index tiers.
  *
  * Storage root: `spark.graft.indexDir` conf, else the
  * `GRAFT_INDEX_DIR` environment variable. UNSET ⇒ the layer is
  * transparent (exact [[Shared.shared]] behavior — build in-session,
  * cache in-session); nothing about the verified query surface changes
  * unless an operator opts in. On a cluster the root would be shared
  * storage (S3/HDFS); locally it is a directory.
  *
  * Layout: `<root>/<md5(corpusDir)>/<key>__<version>/` holding the
  * tier parquet plus `_graft_meta.json` with the corpus fingerprint
  * (name, length, mtime of every parquet file directly under the
  * corpus dir). Freshness = fingerprint equality: any corpus rewrite
  * (new files, appended batch, compaction) invalidates every tier of
  * that corpus at the next load. `version` carries the builder
  * parameters (e.g. `k10-t2` for the graph) so a parameter bump never
  * reads a stale structure built under the old algebra.
  *
  * Writes are atomic per tier: build → write parquet to `<dir>.tmp-N`
  * → move into place (directory rename; readers either see the old
  * complete tier or the new complete tier). The builds themselves are
  * deterministic (hash-seeded, decimal-rounded, deterministic
  * tie-breaks), so a concurrent double-build converges to identical
  * bytes and last-rename-wins is safe.
  */
object Durable {

  /** THE TIER-ELIGIBILITY RULE (round-16 codification of the contract
    * the round-13–15 verdicts reviewed): a durable tier must be
    *   (1) derived per-document (or per-token/shingle/vector) corpus
    *       STATE — never the shape of any one query's answer;
    *   (2) query-independent — multiple operators read it, none owns it;
    *   (3) version-keyed by its builder contract (normalizer, shingle
    *       width, seed count, K…) so a parameter change rebuilds;
    *   (4) corpus-fingerprint invalidated (fail-closed, [[fingerprint]]).
    * A query-shaped aggregate (a cached rank, a memoized result) must
    * NEVER become a tier. Enforced: every install goes through this
    * allowlist, and DurableTiersSpec fails on an undeclared key. */
  val allowedKeys: Set[String] = Set(
    "doc_fp", "doc_tf", "doc_stats", "shingle_df", "winnow_fps", // per-doc text state
    "minhash_ms", "simhashed", "lsh_bands", "fp_store", // dedup signatures
    "centroids", "ivf_top2", "pqCodebook", "pq_codes", // vector routing
    "exact_topk", "quantizer_margin", // serving-index calibration state
    "nnd_edges", "nnd_l1", "nnd_ud", "nnd_l1_ud", // standing ANN graph
    "nnd_edges_compacted", "tombstones") // compaction output + delete-set

  private def checkKey(key: String): Unit =
    require(allowedKeys.contains(key),
      s"undeclared durable tier '$key': add it to Durable.allowedKeys ONLY " +
        "if it is per-document corpus state, query-independent, " +
        "version-keyed and fingerprint-invalidated (see the rule above)")

  /** Per-key load outcome counters, for specs and ops visibility:
    * key → (diskHits, builds). */
  val stats = new ConcurrentHashMap[String, (Long, Long)]()

  private def bump(key: String, hit: Boolean): Unit =
    stats.merge(key, if (hit) (1L, 0L) else (0L, 1L),
      (a, b) => (a._1 + b._1, a._2 + b._2))

  def root(s: SparkSession): Option[String] = {
    val conf = s.conf.getOption("spark.graft.indexDir")
      .orElse(sys.env.get("GRAFT_INDEX_DIR"))
    conf.filter(_.nonEmpty)
  }

  private[graft] def md5(x: String): String =
    MessageDigest.getInstance("MD5").digest(x.getBytes(StandardCharsets.UTF_8))
      .map("%02x".format(_)).mkString

  /** Corpus fingerprint: every parquet file under `dir`, recursively
    * (the same immutability contract [[Tables.t]] caches under, but
    * also covering Spark-written table DIRECTORIES of part files).
    * Listed through the Hadoop FileSystem of the path, so a remote
    * corpus (S3/HDFS) fingerprints the same way a local one does.
    *
    * FAIL-CLOSED: a path that cannot be listed, or that contains no
    * parquet files at all, yields a unique never-fresh marker — it can
    * never equal a stored meta, so the tier rebuilds rather than
    * serving a stale copy against a corpus we cannot see. (The old
    * java.io.File form returned "" for both cases, which always
    * MATCHED an empty stored meta — a remote corpus rewrite would have
    * served stale tiers forever.)
    *
    * Walked with `listStatus`, not `listFiles`: building a
    * `LocatedFileStatus` reads each local file's permissions, which
    * took ~3 ms per file (32 ms vs 0.2 ms for the 10 files of sf0.1),
    * and the stores check the fingerprint on every read. */
  private[graft] def fingerprint(s: SparkSession, dir: String): String = {
    def neverFresh = "UNFRESH:" + java.util.UUID.randomUUID().toString
    try {
      val p = new org.apache.hadoop.fs.Path(dir)
      val fs = p.getFileSystem(s.sparkContext.hadoopConfiguration)
      if (!fs.exists(p)) return neverFresh
      def files(d: org.apache.hadoop.fs.Path): Seq[org.apache.hadoop.fs.FileStatus] =
        fs.listStatus(d).toSeq.flatMap(f => if (f.isDirectory) files(f.getPath) else Seq(f))
      val entries = files(p).filter(_.getPath.getName.endsWith(".parquet"))
        .map(f => s"${f.getPath.toUri.getPath}:${f.getLen}:${f.getModificationTime}")
      if (entries.isEmpty) neverFresh else entries.sorted.mkString("\n")
    } catch { case scala.util.control.NonFatal(_) => neverFresh }
  }

  private def tierDir(rootDir: String, corpus: String, key: String,
      version: String): Path =
    Paths.get(rootDir, md5(new File(corpus).getAbsolutePath),
      s"${key}__$version")

  /** The durable tier: memoized in-session via [[Shared.shared]] (one
    * cached plan per session, selective eviction preserved), loaded
    * from the index root when a fresh copy exists, built + persisted
    * to the root otherwise. With no root configured this IS
    * `Shared.shared(s, dir, key)(build)`. */
  def tier(s: SparkSession, dir: String, key: String, version: String)(
      build: => DataFrame): DataFrame = {
    checkKey(key)
    root(s) match {
      case None => Shared.shared(s, dir, key)(build)
      case Some(r) =>
        Shared.shared(s, dir, key) { loadOrBuild(s, r, dir, key, version)(build) }
    }
  }

  private def loadOrBuild(s: SparkSession, rootDir: String, dir: String,
      key: String, version: String)(build: => DataFrame): DataFrame = {
    val td = tierDir(rootDir, dir, key, version)
    val fp = fingerprint(s, dir)
    if (isFresh(td, fp)) {
      bump(key, hit = true)
      s.read.parquet(td.resolve("data.parquet").toString)
    } else {
      bump(key, hit = false)
      val df = build
      write(s, df, td, fp)
      s.read.parquet(td.resolve("data.parquet").toString)
    }
  }

  /** The fingerprint stamp of a tier or store directory. */
  private val Meta = "_graft_meta.json"

  private def isFresh(td: Path, fp: String): Boolean = {
    val meta = td.resolve(Meta)
    Files.isRegularFile(meta) &&
      new String(Files.readAllBytes(meta), StandardCharsets.UTF_8) == fp
  }

  /** HASH-BUCKETED durable tier: like [[tier]], but installed as a
    * bucketed catalog TABLE (`bucketBy` on `bucketCol` — the only form
    * of pre-shuffled storage Spark honors), so every consumer that
    * joins or groups on `bucketCol` reads it EXCHANGE-FREE: the probe
    * side shuffles to the bucket partitioning (probe-sized work), the
    * store side never does. This is ingest-time state — the standing
    * fingerprint store a sync cycle probes per batch is written once
    * per load, exactly how a warehouse clusters its dedup index.
    *
    * Location: under the index root when configured (durable — a NEW
    * session re-registers the table over the existing bucketed files,
    * no rewrite), else a [[jvmStore]]. Freshness and rewrite are
    * [[bucketedStore]]'s. Bucket count 32 = the core count (a bucketed
    * scan reads one task per bucket — see Tables.bucketed's sizing
    * note). */
  def bucketedTier(s: SparkSession, dir: String, key: String,
      version: String, bucketCol: String, nBuckets: Int = 32)(
      build: => DataFrame): DataFrame = {
    checkKey(key)
    Shared.shared(s, dir, key) {
      val table = s"graft_bt_${key}_" +
        md5(new File(dir).getAbsolutePath + "|" + version).take(8)
      val tier = root(s).map(tierDir(_, dir, key, version))
      val loc = tier.fold(jvmStore(table))(_.resolve("bucketed.tbl"))
      val wrote = bucketedStore(s, dir, table, loc, bucketCol, nBuckets)(build)
      bump(key, hit = !wrote)
      // under an index root, also stamp the tier dir itself so
      // `index_status` reports this tier's freshness like any other
      if (wrote) tier.foreach(td => Files.copy(loc.resolve(Meta),
        td.resolve(Meta), StandardCopyOption.REPLACE_EXISTING))
      s.table(table)
    }
  }

  /** A store that lives as long as this JVM: under java.io.tmpdir, per
    * store name (which carries a corpus tag) and per JVM (the pid), so
    * two processes on one corpus never share files. Never under the
    * index root, which must hold no persisted copy of a corpus. The
    * first call installs a shutdown hook that deletes every store
    * handed out ([[deleteStores]] over [[jvmStores]]). */
  private[graft] def jvmStore(name: String): Path = {
    jvmStoresHook
    val p = Paths.get(System.getProperty("java.io.tmpdir"),
      s"${name}_${ProcessHandle.current().pid()}")
    jvmStores.add(p)
    p
  }

  /** The stores [[jvmStore]] handed out in this JVM. */
  private[graft] val jvmStores: java.util.Set[Path] =
    java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()

  private lazy val jvmStoresHook: Unit = Runtime.getRuntime.addShutdownHook(
    new Thread(() => deleteStores(jvmStores), "graft-jvm-stores"))

  /** Delete each of `stores` and forget it. */
  private[graft] def deleteStores(stores: java.util.Set[Path]): Unit =
    stores.removeIf { p => scala.util.Try(deleteRecursive(p)); true }

  /** THE writer of corpus-derived stores: makes sure the store of `dir`
    * at `loc`, and its catalog `table` if it has one, is fresh — its
    * `_graft_meta.json` equals [[fingerprint]]`(s, dir)`, so a corpus
    * rewritten in place is never served from an old copy.
    *  - fresh, table present (or none): left as it is;
    *  - fresh, table gone: `register`ed over its files, or rewritten
    *    when there is no `register`;
    *  - stale or absent: deleted, `write`n, stamped, table refreshed.
    * Check and write hold one JVM lock, the registry's ([[Shared]]): a
    * write resolves registry frames, so a second lock could deadlock
    * against it. The sessions of a JVM share the catalog and the files,
    * so a fresh store is written once per JVM, whichever session asks.
    * Returns true when it wrote. */
  private[graft] def store(s: SparkSession, dir: String, loc: Path,
      table: Option[String] = None, register: Option[() => Unit] = None)(
      write: => Unit): Boolean = Shared.synchronized {
    val fp = fingerprint(s, dir)
    val fresh = isFresh(loc, fp)
    if (fresh && table.forall(s.catalog.tableExists)) false
    else {
      table.foreach(t => s.sql(s"DROP TABLE IF EXISTS $t")) // external: files survive
      val rewrite = !fresh || register.isEmpty
      if (rewrite) {
        deleteRecursive(loc)
        write
        Files.write(loc.resolve(Meta), fp.getBytes(StandardCharsets.UTF_8))
      } else register.get()
      table.foreach(s.catalog.refreshTable)
      rewrite
    }
  }

  /** `build` as a HASH-BUCKETED catalog table at `loc`, kept fresh by
    * [[store]]. Fresh files whose table is gone are registered with
    * CREATE TABLE … CLUSTERED BY (bucket ids are filename-encoded).
    * Returns true when it wrote. */
  private[graft] def bucketedStore(s: SparkSession, dir: String,
      table: String, loc: Path, bucketCol: String, nBuckets: Int)(
      build: => DataFrame): Boolean =
    store(s, dir, loc, Some(table), Some(() => s.sql(
      s"CREATE TABLE $table (${build.schema.toDDL}) USING parquet " +
        s"CLUSTERED BY ($bucketCol) SORTED BY ($bucketCol) " +
        s"INTO $nBuckets BUCKETS LOCATION '$loc'"))) {
      build.write.mode("overwrite").format("parquet")
        .bucketBy(nBuckets, bucketCol).sortBy(bucketCol)
        .option("path", loc.toString).saveAsTable(table)
    }

  /** Load tier (dir, key, version) ONLY if present and fingerprint-
    * fresh — never builds. The read path for optional tiers (e.g. the
    * `tombstones` set `compact_index` installs: absent on a corpus
    * that never compacted, and absence means "nothing deleted"). */
  def load(s: SparkSession, rootDir: String, dir: String, key: String,
      version: String): Option[DataFrame] = {
    val td = tierDir(rootDir, dir, key, version)
    if (isFresh(td, fingerprint(s, dir))) {
      bump(key, hit = true)
      Some(s.read.parquet(td.resolve("data.parquet").toString))
    } else None
  }

  /** Atomic tier write: parquet to a tmp sibling, fingerprint meta
    * alongside, then directory move into place. Also the write path
    * the `compact_index` CLI verb uses to install a compacted graph.
    *
    * The LIVE tier dir is never deleted before the new one is in
    * place: the old copy is renamed ASIDE first, then tmp moves in,
    * then the aside copy is removed — a concurrent reader that passed
    * the freshness check either has the old dir's inode open (renames
    * don't invalidate open reads on POSIX) or finds the new complete
    * tier. A concurrent double-install is last-writer-wins: if our
    * move finds the target recreated by the other writer, our copy is
    * discarded (the builds are deterministic — both copies are
    * byte-identical in content). */
  def write(s: SparkSession, df: DataFrame, td: Path, fp: String): Unit = {
    Files.createDirectories(td.getParent)
    val tag = ProcessHandle.current().pid() + "-" + java.lang.System.nanoTime()
    val tmp = td.getParent.resolve(td.getFileName.toString + ".tmp-" + tag)
    deleteRecursive(tmp)
    df.write.mode("overwrite").parquet(tmp.resolve("data.parquet").toString)
    Files.write(tmp.resolve(Meta),
      fp.getBytes(StandardCharsets.UTF_8))
    val aside = td.getParent.resolve(td.getFileName.toString + ".old-" + tag)
    def move(from: Path, to: Path): Unit =
      try Files.move(from, to, StandardCopyOption.ATOMIC_MOVE)
      catch { case _: java.nio.file.AtomicMoveNotSupportedException =>
        Files.move(from, to) }
    try {
      if (Files.exists(td))
        try move(td, aside)
        catch { case _: java.nio.file.NoSuchFileException => () } // raced
      move(tmp, td)
    } catch {
      case _: java.nio.file.FileAlreadyExistsException =>
        deleteRecursive(tmp) // the concurrent writer won; keep theirs
    } finally deleteRecursive(aside)
  }

  /** Install `df` as tier (dir, key, version) regardless of current
    * freshness — the compaction verb's entry point. Returns the tier
    * path. */
  def install(s: SparkSession, rootDir: String, dir: String, key: String,
      version: String, df: DataFrame): String = {
    checkKey(key)
    val td = tierDir(rootDir, dir, key, version)
    write(s, df, td, fingerprint(s, dir))
    // a session that already memoized the old tier must see the new one
    Shared.invalidate(dir)
    td.toString
  }

  /** Human-readable tier inventory for (rootDir, corpus) — the
    * `index_status` CLI verb's body: one line per installed tier with
    * key__version, FRESH/STALE against the corpus's CURRENT
    * fingerprint, on-disk bytes, and this session's load/build
    * counters. The ops-visibility complement of build / ann_search /
    * compact_index. */
  def status(s: SparkSession, rootDir: String, dir: String): Seq[String] = {
    val corpusDir = Paths.get(rootDir, md5(new File(dir).getAbsolutePath))
    if (!Files.isDirectory(corpusDir))
      return Seq(s"no tiers installed for $dir under $rootDir")
    val fp = fingerprint(s, dir)
    import scala.jdk.CollectionConverters._
    val tiers = Files.list(corpusDir).iterator().asScala.toSeq
      .filter(p => Files.isDirectory(p) &&
        !p.getFileName.toString.contains(".tmp-") &&
        !p.getFileName.toString.contains(".old-"))
      .sortBy(_.getFileName.toString)
    val lines = tiers.map { td =>
      val name = td.getFileName.toString
      val fresh = isFresh(td, fp)
      val bytes = Files.walk(td).iterator().asScala
        .filter(Files.isRegularFile(_)).map(Files.size(_)).sum
      val key = name.split("__", 2).head
      val st = Option(stats.get(key))
        .map { case (h, b) => s"loads=$h builds=$b" }.getOrElse("loads=0 builds=0")
      f"$name%-28s ${if (fresh) "FRESH" else "STALE"}%-6s $bytes%10d bytes  $st"
    }
    s"index root $rootDir corpus $dir (${tiers.size} tiers)" +: lines
  }

  /** Delete `p` and everything under it, if it exists. */
  private[graft] def deleteRecursive(p: Path): Unit =
    if (Files.exists(p)) {
      import scala.jdk.CollectionConverters._
      scala.util.Using.resource(Files.walk(p)) { st =>
        st.sorted(java.util.Comparator.reverseOrder[Path]())
          .iterator.asScala.foreach(Files.deleteIfExists(_))
      }
    }
}
