package perfbench

import java.time.Instant
import scala.collection.mutable

/** Share of each kind of delivery in a generated batch; the rest are new
  * documents. A replay re-sends a document line already delivered (the
  * current version, or the one before it), which the views must absorb.
  * Every `bigEvery`-th new WELL (none if 0) carries more readings than
  * the chunk size. One such document outweighs a thousand others, so
  * their rate is fixed and they are never revised or replayed: the
  * size of a stream then does not depend on the seed.
  *
  * The shares and the rate below are assumptions, not figures taken
  * from a measured Execute deployment: nothing shows that this mix is
  * representative. */
final case class Mix(newVersion: Double, tombstone: Double, replay: Double,
    bigEvery: Int)

object Mix {
  /** An initial export: mostly new documents. */
  val Clone: Mix = Mix(newVersion = 0.12, tombstone = 0.03, replay = 0.07, bigEvery = 4000)
  /** An incremental delta: mostly changes to documents already landed. */
  val Delta: Mix = Mix(newVersion = 0.35, tombstone = 0.08, replay = 0.12, bigEvery = 0)
}

/** What one document version contributes to the dashboard aggregates. */
final case class DocState(
    docType: String, id: String, version: Long, deleted: Boolean, date: Long,
    author: String, body: String,
    depth: Long, hasRef: Boolean, block: Long,
    items: Long, valueSum: Long, scoreSum: Long, area: Long)

/** The dashboard the benchmark reads, as plain numbers, so the engine's
  * answer and the generator's expectation compare exactly. */
final case class Dashboard(
    live: Map[String, Long],
    wellLive: Long, depthSum: Long, refCount: Long,
    items: Long, valueSum: Long, blockSum: Long, scoreSum: Long,
    fieldLive: Long, areaSum: Long)

/** Seeded stream of Execute-style documents of two types:
  *
  *  - WELL: scalars of every mapped type, a DOCUMENT reference to a
  *    FIELD, a RECORD (LOCATION) and a RECORD LIST (READINGS) whose
  *    items carry a RECORD (QC), so the view catalog has every kind of
  *    view: typed, record, list and list-item record;
  *  - FIELD: scalars only.
  *
  * Deliveries are new documents, new versions, tombstones (a new
  * version with `$DELETED`) and replays. A few WELL documents carry
  * more than `chunkSize` readings, so landing splits them into chunks.
  *
  * The generator keeps the expected latest state itself, in plain
  * collections, so outputs are checked against a model that shares no
  * code with the engine. Same seed, same calls: same lines. */
final class DocGen(seed: Long, chunkSize: Int = 10000) {
  private val rnd = new java.util.SplittableRandom(seed)
  private val latest = mutable.HashMap.empty[(String, String), DocState]
  private val previous = mutable.HashMap.empty[(String, String), DocState]
  /** Documents that may be revised or replayed. */
  private val keys = mutable.ArrayBuffer.empty[(String, String)]
  private val fieldIds = mutable.ArrayBuffer.empty[String]
  private var clock = 0L
  private var nWell = 0
  private var nField = 0

  /** Landing rows (documents plus chunk slices) of every line emitted. */
  var records = 0L
  /** Documents emitted. */
  var documents = 0L
  /** Per line emitted: its document version and its landing rows. */
  private val emitted = mutable.ArrayBuffer.empty[(String, String, Long, Int)]

  private val t0 = Instant.parse("2024-01-01T00:00:00Z").getEpochSecond
  private val words = Array("alpha", "bravo", "delta", "echo", "gulf",
    "hotel", "kilo", "lima", "mike", "oscar", "papa", "romeo", "sierra",
    "tango", "victor", "yankee")
  private val kinds = Array("GR", "RES", "DEN", "NEU", "SON")

  private def text(n: Int): String =
    (0 until n).map(_ => words(rnd.nextInt(words.length))).mkString(" ")
  private def quarter(lo: Int, hi: Int): String =
    (rnd.nextInt(lo * 4, hi * 4) / 4.0).toString
  private def iso(sec: Long): String = Instant.ofEpochSecond(t0 + sec).toString

  /** Next `n` delivered lines, folding each into the expected state. */
  def batch(n: Int, mix: Mix): Vector[String] =
    Vector.fill(n)(next(mix))

  private def next(mix: Mix): String = {
    clock += 1
    val u = rnd.nextDouble()
    val st =
      if (keys.isEmpty || u >= mix.newVersion + mix.tombstone + mix.replay)
        fresh(mix.bigEvery)
      else {
        val key = keys(rnd.nextInt(keys.size))
        val cur = latest(key)
        if (u < mix.newVersion) revise(key, cur, deleted = false)
        else if (u < mix.newVersion + mix.tombstone) revise(key, cur, deleted = true)
        else previous.get(key).filter(_ => rnd.nextInt(3) == 0).getOrElse(cur)
      }
    val key = (st.docType, st.id)
    latest.get(key) match {
      case Some(cur) if cur.version >= st.version =>
      case other =>
        other.foreach(previous(key) = _)
        latest(key) = st
    }
    val rows = 1 + (if (st.items > chunkSize) (st.items + chunkSize - 1) / chunkSize else 0)
    documents += 1
    records += rows
    emitted += ((st.docType, st.id, st.version, rows.toInt))
    line(st)
  }

  /** Rows a landing store holds after lines `from` until `until` were
    * synced in pages of `page` lines: a sync drops the repeats within a
    * page, not those across pages. */
  def landedRows(from: Int, until: Int, page: Int): Long =
    (from until until by page).map { p =>
      emitted.slice(p, math.min(p + page, until)).distinct.map(_._4.toLong).sum
    }.sum

  /** Rows a landing store holds after a prune: one per document version
    * and chunk slice emitted. */
  def prunedRows: Long = emitted.distinct.map(_._4.toLong).sum

  private def fresh(bigEvery: Int): DocState = {
    val isField = fieldIds.isEmpty || rnd.nextInt(5) == 0
    val id =
      if (isField) { nField += 1; f"F$nField%07d" }
      else { nWell += 1; f"W$nWell%08d" }
    val big = !isField && bigEvery > 0 && nWell % bigEvery == bigEvery / 2
    val st = body(if (isField) "FIELD" else "WELL", id, 1L, deleted = false, big)
    if (!big) keys += ((st.docType, id))
    if (isField) fieldIds += id
    st
  }

  private def revise(key: (String, String), cur: DocState, deleted: Boolean): DocState =
    if (deleted) cur.copy(version = cur.version + 1, deleted = true,
      date = clock, author = s"u${rnd.nextInt(50)}")
    else body(key._1, key._2, cur.version + 1, deleted = false, big = false)

  private def body(docType: String, id: String, version: Long, deleted: Boolean,
      big: Boolean): DocState = {
    val b = new StringBuilder(512)
    b.append("\"DOCUMENT_ID\":\"").append(id).append('"')
    b.append(",\"NAME\":\"").append(text(3)).append('"')
    if (docType == "FIELD") {
      val area = rnd.nextInt(10, 5000).toLong
      b.append(",\"AREA\":").append(area)
      b.append(",\"OPERATOR\":\"").append(text(2)).append('"')
      b.append(",\"NOTES\":\"").append(text(30)).append('"')
      DocState(docType, id, version, deleted, clock, s"u${rnd.nextInt(50)}",
        b.toString, 0, hasRef = false, 0, 0, 0, 0, area)
    } else {
      val depth = rnd.nextInt(100, 6000).toLong
      val block = rnd.nextInt(1, 400).toLong
      b.append(",\"DEPTH\":").append(depth)
      b.append(",\"RATE\":").append(quarter(0, 900))
      b.append(",\"ACTIVE_FLAG\":").append(rnd.nextBoolean())
      b.append(",\"SPUD\":\"").append(iso(clock - rnd.nextInt(1, 100000))).append('"')
      val hasRef = rnd.nextInt(10) != 0
      if (hasRef)
        b.append(",\"FIELD_REF\":{\"DOCUMENT_ID\":\"")
          .append(fieldIds(rnd.nextInt(fieldIds.size))).append("\"}")
      b.append(",\"LOCATION\":{\"LAT\":").append(quarter(-60, 70))
        .append(",\"LON\":").append(quarter(-180, 180))
        .append(",\"BLOCK\":").append(block).append('}')
      val n =
        if (big) rnd.nextInt(chunkSize + 1, chunkSize + chunkSize / 50)
        else rnd.nextInt(0, 9)
      var valueSum = 0L
      var scoreSum = 0L
      b.append(",\"READINGS\":[")
      var i = 0
      while (i < n) {
        val v = rnd.nextInt(0, 1000)
        val s = rnd.nextInt(0, 10)
        valueSum += v
        scoreSum += s
        if (i > 0) b.append(',')
        b.append("{\"LISTITEM_ID\":\"").append(i).append("\",\"VALUE\":").append(v)
          .append(",\"KIND\":\"").append(kinds(rnd.nextInt(kinds.length)))
          .append("\",\"QC\":{\"FLAG\":").append(s > 2).append(",\"SCORE\":")
          .append(s).append("}}")
        i += 1
      }
      b.append(']')
      b.append(",\"NOTES\":\"").append(text(12)).append('"')
      DocState(docType, id, version, deleted, clock, s"u${rnd.nextInt(50)}",
        b.toString, depth, hasRef, block, n, valueSum, scoreSum, 0)
    }
  }

  private def line(st: DocState): String =
    s"""{"$$TYPE":"${st.docType}","$$VERSION":${st.version},""" +
      s""""$$AUTHOR_ID":"${st.author}","$$DATE":"${iso(st.date)}",""" +
      s""""$$DELETED":${st.deleted},${st.body}}"""

  /** The dashboard over the current expected latest state. Typed views
    * keep tombstones visible, so the WELL and FIELD figures filter them
    * as the dashboard query does; record and list views carry no
    * deleted flag and count every latest WELL version. */
  def expected: Dashboard = {
    val all = latest.values
    val wells = all.filter(_.docType == "WELL")
    val liveWells = wells.filterNot(_.deleted)
    val liveFields = all.filter(s => s.docType == "FIELD" && !s.deleted)
    Dashboard(
      live = all.filterNot(_.deleted).groupBy(_.docType).map { case (t, v) => t -> v.size.toLong },
      wellLive = liveWells.size, depthSum = liveWells.map(_.depth).sum,
      refCount = liveWells.count(_.hasRef),
      items = wells.map(_.items).sum, valueSum = wells.map(_.valueSum).sum,
      blockSum = wells.map(_.block).sum, scoreSum = wells.map(_.scoreSum).sum,
      fieldLive = liveFields.size, areaSum = liveFields.map(_.area).sum)
  }
}

object DocGen {
  private def f(tpe: String, extra: String = ""): String =
    s"""{"TYPE":"$tpe","ACTIVE":true,"NULLABLE":true$extra}"""

  /** The document schema the sync server serves, in the shape of
    * `GET /fetch/document/schema`. */
  val schemaJson: String = {
    val qc = s"""{"FLAG":${f("BOOLEAN")},"SCORE":${f("INTEGER")}}"""
    val reading = s"""{"VALUE":${f("INTEGER")},"KIND":${f("TEXT")},""" +
      s""""QC":${f("RECORD", s""","RECORD_TYPE":$qc""")}}"""
    val location = s"""{"LAT":${f("DECIMAL")},"LON":${f("DECIMAL")},"BLOCK":${f("INTEGER")}}"""
    val well = Seq(
      "NAME" -> f("TEXT"), "DEPTH" -> f("INTEGER"), "RATE" -> f("DECIMAL"),
      "ACTIVE_FLAG" -> f("BOOLEAN"), "SPUD" -> f("DATETIME"),
      "FIELD_REF" -> f("DOCUMENT", ""","DOCUMENT_TYPE":"FIELD""""),
      "LOCATION" -> f("RECORD", s""","RECORD_TYPE":$location"""),
      "READINGS" -> f("RECORD LIST", s""","RECORD_TYPE":$reading"""),
      "NOTES" -> f("TEXT"))
    val field = Seq("NAME" -> f("TEXT"), "AREA" -> f("INTEGER"),
      "OPERATOR" -> f("TEXT"), "NOTES" -> f("TEXT"))
    def obj(kv: Seq[(String, String)]) =
      kv.map { case (k, v) => s""""$k":$v""" }.mkString("{", ",", "}")
    s"""{"WELL":${obj(well)},"FIELD":${obj(field)}}"""
  }
}
