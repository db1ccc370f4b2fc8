package graft

import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.lit
import scala.jdk.CollectionConverters._

/** The corpus-derived stores (the bucketed fact tables r10 reads, r68's
  * bucketed landing table, r85's parquet store) follow their corpus:
  * a store is fresh only while its stamp equals the corpus
  * fingerprint, and a store whose catalog table is gone still answers.
  * Every test works on its own copy of sf0.001, so the stores it writes
  * are its own. */
class StoresSpec extends SparkSpec {

  private val stored =
    Seq("r10_setops_custkeys", "r68_bucketed_latest", "r85_persistent_view")

  private def rows(s: SparkSession, query: String, dir: String): Seq[String] =
    SparkEntry.queries(query)(s, dir).collect().map(_.toString).toSeq

  private def md5(x: String): String =
    java.security.MessageDigest.getInstance("MD5")
      .digest(x.getBytes("UTF-8")).map("%02x".format(_)).mkString

  private def delete(p: Path): Unit =
    if (Files.exists(p)) scala.util.Using.resource(Files.walk(p)) {
      _.sorted(java.util.Comparator.reverseOrder[Path]()).iterator.asScala
        .foreach(Files.deleteIfExists(_))
    }

  /** Runs `body` over fresh writable copies of sf0.001, then drops the
    * copies, their catalog tables and their store files. */
  private def withCopies(n: Int)(body: Seq[String] => Unit): Unit = {
    val dirs = Seq.fill(n) {
      val d = Files.createTempDirectory("graft_stores")
      Files.list(Paths.get(sf001)).forEach(f => Files.copy(f, d.resolve(f.getFileName)))
      d.toString
    }
    try body(dirs) finally dirs.foreach { d =>
      val tag = md5(d).take(12)
      spark.catalog.listTables().collect().map(_.name).filter(_.contains(tag))
        .foreach(t => spark.sql(s"DROP TABLE IF EXISTS $t"))
      scala.util.Using.resource(Files.list(Paths.get(sys.props("java.io.tmpdir")))) {
        _.iterator.asScala.filter(_.getFileName.toString.contains(tag)).toList
      }.foreach(delete)
      graft.queries.Shared.invalidate(d)
      delete(Paths.get(d))
    }
  }

  /** Rewrite `dir`'s table `name` in place as `f` of itself. */
  private def rewrite(dir: String, name: String)(f: DataFrame => DataFrame): Unit = {
    val path = Paths.get(dir, s"$name.parquet")
    val tmp = Paths.get(s"$dir.$name.tmp")
    f(spark.read.parquet(path.toString)).write.parquet(tmp.toString)
    delete(path)
    Files.move(tmp, path)
  }

  private def newCorpus(dir: String): Unit = {
    rewrite(dir, "documents")(_.filter("doc_id % 3 != 0"))
    rewrite(dir, "customer")(_.filter("c_custkey % 2 = 0")
      .withColumn("c_mktsegment", lit("BUILDING")))
  }

  test("r10, r68 and r85 read a corpus rewritten in place anew in a new session") {
    withCopies(2) { case Seq(dir, truthDir) =>
      val before = stored.map(rows(spark, _, dir))
      newCorpus(dir)
      // the same rewrite on a copy no store has seen gives the truth
      newCorpus(truthDir)
      val after = stored.map(rows(spark.newSession(), _, dir))
      val truth = stored.map(rows(spark.newSession(), _, truthDir))
      stored.indices.foreach { i =>
        assert(before(i) != truth(i), s"${stored(i)}: the rewrite changes nothing")
      }
      val stale = stored.indices.filter(i => after(i) != truth(i)).map(stored)
      assert(stale.isEmpty, s"read a stale store: ${stale.mkString(", ")}")
    }
  }

  test("r68 still answers after its catalog table is dropped") {
    withCopies(1) { case Seq(dir) =>
      val first = rows(spark, "r68_bucketed_latest", dir)
      spark.sql(s"DROP TABLE graft_r68_landing_${md5(dir).take(16)}")
      assert(rows(spark, "r68_bucketed_latest", dir) == first && first.nonEmpty)
    }
  }

  test("a JVM store is registered for deletion at exit; deleteStores removes stores") {
    import graft.queries.Durable
    val store = Durable.jvmStore("graft_spec_store")
    assert(Durable.jvmStores.contains(store))
    Durable.jvmStores.remove(store)
    // a set of its own, so the stores other specs read stay
    val stores = java.util.concurrent.ConcurrentHashMap.newKeySet[Path]()
    val full = Files.createTempDirectory("graft_spec_store")
    Files.createDirectories(full.resolve("part=a/bucket"))
    Files.writeString(full.resolve("part=a/bucket/f.parquet"), "x")
    val empty = Files.createTempDirectory("graft_spec_store")
    Seq(full, empty, empty.resolveSibling(empty.getFileName.toString + "_gone"))
      .foreach(stores.add)
    Durable.deleteStores(stores)
    assert(!Files.exists(full) && !Files.exists(empty))
    assert(stores.isEmpty)
  }

  test("with an index root set, no JVM store is written under it") {
    val root = Files.createTempDirectory("graft_stores_root")
    try withCopies(1) { case Seq(dir) =>
      val s = spark.newSession()
      s.conf.set("spark.graft.indexDir", root.toString)
      stored.foreach(q => assert(rows(s, q, dir).nonEmpty, q))
      val written = scala.util.Using.resource(Files.walk(root)) {
        _.iterator.asScala.filter(Files.isRegularFile(_)).toList
      }
      assert(written.isEmpty, s"stores written under the index root: $written")
    } finally delete(root)
  }
}
