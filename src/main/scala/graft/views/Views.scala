package graft.views

import graft.ingest.Landing
import graft.model._
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.catalyst.catalog.CatalogTable
import org.apache.spark.sql.execution.command.ViewHelper
import org.apache.spark.sql.functions._

/** The generated query layer of the reference (SURVEY.md §2.4–§2.5).
  * The reference emits SQL strings per warehouse dialect; here each
  * view is defined once as a short chain of Spark SQL steps and
  * rendered either as a DataFrame (a LogicalPlan that Catalyst
  * optimizes: pushdown, pruning, join strategy) or as the text of a
  * persistent view — no dialect generators needed.
  */
object Views {

  /** R1 — `_LATEST_ALL_VERSIONS`: per (type,id,version) keep every chunk
    * of the single most recent BATCH_DATE copy (absorbs at-least-once
    * replays). Reference forms: tuple-IN on the grouped max
    * (snowflake.go:264-273) or self-join (sqlserver.go:213-226); here
    * one window — one shuffle on the document key, no self-join or
    * double scan (see [[newestSteps]]).
    *
    * The partition key is deliberately (type,id,version) WITHOUT chunk: a
    * replayed batch re-lands the whole document, so only that batch's
    * chunk set must survive. If a version is re-landed with fewer chunks
    * (e.g. chunk-size config changed), the older batch's higher-numbered
    * chunks are dropped rather than leaking into list flattens. */
  def latestAllVersions(landing: DataFrame): DataFrame =
    frame(landing, latestAllVersionsSteps(landing.columns.toSeq))

  /** R2 — `_LATEST`: of those, keep only the max version per (type,id)
    * (argmax over the full history, snowflake.go:278-287). R1 and R2
    * fuse into one (type,id) window whose newest key is
    * (version, batch_date): the max version, then that version's
    * newest batch — the same rows as R1-then-R2, on one exchange. */
  def latest(landing: DataFrame): DataFrame =
    frame(landing, latestSteps(landing.columns.toSeq))

  /** The order that picks ONE row per landing PK
    * (batch_date,type,id,version,chunk — snowflake.go:58) after the
    * newest key: chunk, then [[Landing.pickOrder]] (every non-key
    * landing column), so the pick is the least row and a function of
    * the rows alone — the row `Ingest.land` keeps within a page. The
    * parquet store enforces no PK, so a document delivered twice within
    * one sync run (same batch_date) would otherwise survive as two
    * same-key rows. The reference is backend-split here — SQLite's
    * INSERT OR REPLACE dedups, Snowflake's informational PK does not —
    * and we take the safe (SQLite/K3) semantics. */
  private val pkOrder = ("chunk" +: Landing.pickOrder).mkString(", ")

  /** The store views' one window: partition by `key`, order newest
    * first, then [[pkOrder]]. A row survives when it holds the
    * partition's newest key (`FIRST_VALUE` of each `newest` column) and
    * its chunk differs from the previous row's, which keeps the first —
    * least — row of every PK. One exchange and one sort, and the
    * output is `cols` (the input's columns). */
  private def newestSteps(cols: Seq[String], key: Seq[String],
      newest: Seq[String]): Seq[Step] = {
    val w = s"PARTITION BY ${key.mkString(", ")} ORDER BY " +
      newest.map(_ + " DESC").mkString(", ") + s", $pkOrder"
    Seq(
      Step("*" +: newest.map(c => s"FIRST_VALUE($c) OVER ($w) AS __newest_$c") :+
        s"LAG(chunk) OVER ($w) AS __prev_chunk"),
      Step(cols.map(qi), (newest.map(c => s"$c = __newest_$c") :+
        "chunk IS DISTINCT FROM __prev_chunk").mkString(" AND ")))
  }

  private def latestAllVersionsSteps(cols: Seq[String]): Seq[Step] =
    newestSteps(cols, Seq("type", "id", "version"), Seq("batch_date"))

  private def latestSteps(cols: Seq[String]): Seq[Step] =
    newestSteps(cols, Seq("type", "id"), Seq("version", "batch_date"))

  /** [[history]]: R1's rows plus the validity columns. */
  private def historySteps(cols: Seq[String]): Seq[Step] = {
    val later = "PARTITION BY type, id ORDER BY version " +
      "RANGE BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING"
    latestAllVersionsSteps(cols) ++ Seq(
      Step(Seq("*", "date AS valid_from", s"MIN(date) OVER ($later) AS valid_to")),
      Step(Seq("*", "valid_to IS NULL AS is_current")))
  }

  /** SCD2 `_HISTORY` view: every surviving version of every document
    * (R1's replay-deduped rows) annotated with its validity interval —
    * valid_from = the version's document date, valid_to = the earliest
    * date among STRICTLY LATER versions (null while current),
    * is_current = no later version exists. The warehouse
    * slowly-changing-dimension form of the version history that
    * `_LATEST_ALL_VERSIONS` exposes raw (snowflake.go:264-276):
    * point-in-time joins become BETWEEN predicates against this frame.
    * valid_to is a RANGE-frame min over later versions (not a
    * row-based lead), so chunk rows of one version share the interval
    * instead of chaining through each other. One (type,id)-keyed
    * window over the deduped history, so over a bucketed landing
    * store the view is exchange-free.
    *
    * PRECONDITION: document `date` must be monotone in `version` per
    * (type,id) — the producer-timestamp contract the reference's
    * `$DATE` carries. If an out-of-order producer stamps a LATER
    * version with an EARLIER date, the affected rows get inverted
    * intervals (valid_to < valid_from) and point-in-time BETWEEN
    * probes can match zero or multiple versions for a date. Such rows
    * are detectable as `valid_to < valid_from`; this view surfaces
    * them rather than silently clamping (a clamp would fabricate an
    * interval no producer ever asserted). */
  def history(landing: DataFrame): DataFrame =
    frame(landing, historySteps(landing.columns.toSeq))

  /** Incremental `_LATEST` refresh: fold a NEW landing batch into an
    * already-materialized latest frame without re-reading the version
    * history. Correct because both R1 (max batch_date per
    * (type,id,version)) and R2 (max version per (type,id)) are
    * associative argmax folds over row sets, and so is the least-row
    * pick per PK:
    * latest(history ∪ batch) = latest(latest(history) ∪ batch) — rows
    * the materialized frame already dropped can never win against rows
    * that beat their winners. This includes the re-chunked-replay rule:
    * a version re-landed with fewer chunks at a later batch_date kills
    * the whole older batch (stale chunks included) in both forms.
    *
    * This is the 100 TB refresh path for the reference's view layer
    * (snowflake.go:264-287 semantics): per sync cycle the work is
    * |latest| + |batch|, not |history| — and over the bucketed landing
    * store (appendBatchBucketed) the fold runs exchange-free as well.
    * `prevLatest` must be a frame produced by [[latest]] (or this
    * function) over the same landing schema. */
  def latestIncremental(prevLatest: DataFrame, batch: DataFrame): DataFrame =
    latest(prevLatest.unionByName(batch))

  /** CDC between two latest snapshots — "what changed since the last
    * sync cycle", classified the only four ways a versioned
    * soft-delete store (§1.1 semantics: tombstones, never in-place
    * updates) can change: `added` (absent before, live now),
    * `updated` (live→live at a higher version), `deleted` (live→
    * tombstone), `restored` (tombstone→live — the reference permits a
    * new live version after a soft delete). Documents born dead,
    * unchanged, or tombstone-over-tombstone produce no row. A
    * contract-VIOLATING producer that mutates a version in place
    * (same version number, deleted flag flipped) is surfaced as
    * `anomaly` rather than silently classed as unchanged — the store
    * forbids in-place updates, so hiding the flip would make the
    * violation undetectable downstream. (Same-version DATA mutations
    * are invisible at this grain by design: the diff keys on
    * (version, deleted), the only change-bearing metadata the landing
    * row carries.) One full-outer hash join on the document key: both
    * sides are |latest|-sized and partition on (type,id) — over the
    * bucketed store the join co-locates exchange-free, and per cycle
    * the cost is |latest|, never |history|. `prev`/`cur` must be
    * frames produced by [[latest]] / [[latestIncremental]]. */
  def changes(prev: DataFrame, cur: DataFrame): DataFrame = {
    // chunk-0 carries the document's metadata; split-out array chunks
    // (§2.2) would otherwise duplicate the (type,id) key
    val p = prev.filter("chunk = 0").selectExpr("type", "id",
      "version as old_version", "deleted as old_deleted")
    val c = cur.filter("chunk = 0").selectExpr("type", "id",
      "version as new_version", "deleted as new_deleted")
    p.join(c, Seq("type", "id"), "full_outer")
      .selectExpr("type", "id", "old_version", "new_version",
        """case
          |  when old_version is null and new_deleted then null
          |  when old_version is null then 'added'
          |  when new_version is null then null
          |  when new_version = old_version and new_deleted != old_deleted
          |    then 'anomaly'
          |  when new_version = old_version then null
          |  when new_deleted and not old_deleted then 'deleted'
          |  when old_deleted and not new_deleted then 'restored'
          |  when not new_deleted then 'updated'
          |  else null end as change""".stripMargin)
      .filter("change is not null")
  }

  /** Time-travel read: the `_LATEST` snapshot as it stood when batch
    * `at` was the newest landed batch — [[latest]] over only the rows
    * with `batch_date <= at`. This is the read primitive the rest of
    * the store family composes: `latest` is `asOf(∞)`, the r79 CDC
    * diff is `changes(asOf(t1), asOf(t2))`, and an audit can replay
    * any past cycle without the writer having kept per-cycle copies —
    * the append-only landing store IS the full snapshot history.
    *
    * Scale shape: the predicate is a plain comparison on the landing
    * column, so it reaches the parquet scan as a pushed filter — over
    * a batch_date-partitioned 100 TB store, time travel prunes to the
    * ≤at partitions before any exchange; the two windows that follow
    * are exactly the ones [[latest]] always pays (and over the
    * bucketed store they run exchange-free). */
  def asOf(landing: DataFrame, at: Column): DataFrame =
    latest(landing.filter(col("batch_date") <= at))

  /** R4 — prune: the complement of R1. Returns the compacted landing set
    * (rows that ARE the latest batch_date for their key); a writer can
    * overwrite the store with this (Delta DELETE analogue). */
  def prune(landing: DataFrame): DataFrame = latestAllVersions(landing)

  /** Rows R4 would delete (for parity testing: anti-join form,
    * snowflake.go:87-94) — the exact multiset complement of
    * [[latestAllVersions]]: superseded-batch rows AND the extra copies of
    * same-batch PK duplicates that the PK-restoring pick drops, so
    * prune ∪ pruneDeletes ≡ landing row-for-row. */
  def pruneDeletes(landing: DataFrame): DataFrame =
    landing.exceptAll(latestAllVersions(landing))

  // ─── Typed per-document-type views (V1–V6) ───

  /** V1+V2+V3 — top-level typed view for `docType`: filter latest rows of
    * that type at chunk 0, parse DATA once with the schema-derived
    * StructType, project one typed column per scalar field plus the root
    * metadata passthrough (_DELETED/_AUTHOR/_VERSION/_DATE,
    * snowflake.go:325-330). Tombstones are visible, not filtered. */
  def typedView(latestDf: DataFrame, docType: String, ds: DocumentSchema): DataFrame =
    frame(latestDf, viewSteps(TypedDef(docType, docType), ds))

  /** Variant-native variant of V1+V2+V3: the reference's landing column
    * IS Snowflake VARIANT (snowflake.go:55), and Spark 4 has the native
    * equivalent — `parse_json` → `VariantType` → `variant_get` path
    * extraction. Semantically identical output to [[typedView]] (the
    * spec asserts it); the trade is schema-on-read flexibility (one
    * binary-encoded variant column; fields projected at query time,
    * shredding-friendly) vs the StructType parse (full-schema decode,
    * Catalyst pruning of struct fields). Both are single narrow maps. */
  def variantView(latestDf: DataFrame, docType: String, ds: DocumentSchema): DataFrame = {
    val base = latestDf
      .filter(col("type") === docType && col("chunk") === 0)
      .withColumn("__v", expr("parse_json(data)"))
    def vGet(name: String, fm: FieldMetadata): Option[Column] = fm.fieldType match {
      case "DOCUMENT" =>
        Some(expr(s"variant_get(__v, '$$.$name.DOCUMENT_ID', 'string')").as(name))
      case _ =>
        SchemaMapper.scalarType(fm).map(dt =>
          expr(s"variant_get(__v, '$$.$name', '${dt.sql}')").as(name))
    }
    val cols =
      col("id").as("DOCUMENT_ID") +:
      (ds.fields.flatMap { case (n, fm) => vGet(n, fm) } ++
        Seq(col("deleted").as("_DELETED"), col("author").as("_AUTHOR"),
          col("version").as("_VERSION"), col("date").as("_DATE")))
    base.select(cols: _*)
  }

  /** V6 on the VARIANT path — the flatten twin of [[variantView]], as
    * [[recordListView]] is of [[typedView]]: the list is pulled out of
    * the binary variant with `variant_get(…, 'variant')` and exploded
    * by Spark 4's `variant_explode` generator; each element's scalars
    * are then `variant_get` projections. Same contracts as the
    * StructType flatten: any `data`-rooted `listPath`, no chunk
    * filter (slices re-union; rows without the path contribute
    * nothing), LISTITEM_ID first, list-in-list refused by the walk.
    * Both forms are a single narrow generate — the variant trade is
    * per-element lazy field access vs the full-schema struct decode. */
  def variantListView(latestDf: DataFrame, docType: String,
      root: DocumentSchema, listPath: Seq[String]): DataFrame = {
    val inner = resolveListPath(root, listPath)
    val path = "$." + listPath.mkString(".")
    val spark = latestDf.sparkSession
    val base = latestDf
      .filter(col("type") === docType) // chunk union: all chunks contribute
      .selectExpr("id as DOCUMENT_ID",
        s"variant_get(parse_json(data), '$path', 'variant') as __arr")
      .filter(col("__arr").isNotNull)
      // variant_explode is a table-valued generator (Spark 4's LATERAL
      // form of explode for variant arrays); `outer()` marks the
      // argument as a reference into the left side of the lateral join
      .lateralJoin(spark.tvf.variant_explode(col("__arr").outer()))
    def vGet(n: String, fm: FieldMetadata): Option[Column] = fm.fieldType match {
      case "RECORD LIST" => None // list-in-list unsupported
      case "DOCUMENT" =>
        Some(expr(s"variant_get(value, '$$.$n.DOCUMENT_ID', 'string')").as(n))
      case _ =>
        SchemaMapper.scalarType(fm).map(dt =>
          expr(s"variant_get(value, '$$.$n', '${dt.sql}')").as(n))
    }
    val cols = Seq(col("DOCUMENT_ID"),
      expr("variant_get(value, '$.LISTITEM_ID', 'string')").as("LISTITEM_ID")) ++
      inner.fields.flatMap { case (n, fm) => vGet(n, fm) }
    base.select(cols: _*)
  }

  /** V5 — nested RECORD child view: same row grain, deeper path. `path`
    * is the field chain from the root, e.g. Seq("LOCATION"). */
  def recordView(latestDf: DataFrame, docType: String, root: DocumentSchema,
      path: Seq[String]): DataFrame =
    frame(latestDf, viewSteps(RecordDef(docType, docType, path), root))

  /** Resolve `listPath` (RECORD fields ending at a RECORD LIST) against
    * the schema and return the list element's record type. */
  private def resolveListPath(root: DocumentSchema,
      listPath: Seq[String]): DocumentSchema = {
    require(listPath.nonEmpty, "listPath must name at least the list field")
    val parent = listPath.init.foldLeft(root) { (ds, f) =>
      val fm = ds(f)
      require(fm.fieldType == "RECORD",
        s"$f on the way to ${listPath.last} is ${fm.fieldType}, not RECORD")
      fm.recordType.get
    }
    val fm = parent(listPath.last)
    require(fm.fieldType == "RECORD LIST",
      s"${listPath.last} is not a RECORD LIST")
    fm.recordType.get
  }

  /** V6 — RECORD LIST flatten at any `data`-rooted depth: `listPath` is
    * the RECORD field chain from the root ending at the RECORD LIST
    * field (the reference generates exactly this set — its
    * list-in-list guard checks `strings.HasPrefix(root, "data")`,
    * which holds for every path reached through RECORD recursion and
    * fails only inside another flatten; snowflake.go:352-356). One row
    * per list element, DOCUMENT_ID + LISTITEM_ID first. Lists nested
    * under another LIST are refused, matching the reference. No
    * chunk=0 filter: split chunks (T2) re-union transparently, and
    * chunks that don't carry the path contribute nothing (explode of
    * NULL emits no rows). */
  def recordListView(latestDf: DataFrame, docType: String,
      root: DocumentSchema, listPath: Seq[String]): DataFrame =
    frame(latestDf, viewSteps(ListDef(docType, docType, listPath), root))

  /** V6 at the top level (original signature, kept for callers). */
  def recordListView(latestDf: DataFrame, docType: String,
      root: DocumentSchema, listField: String): DataFrame =
    recordListView(latestDf, docType, root, Seq(listField))

  /** RECORD nested under a LIST ITEM: the reference recurses its
    * view generator inside the LATERAL FLATTEN, so a RECORD field of a
    * list element gets its own view at the flattened grain — one row
    * per list element, DOCUMENT_ID + LISTITEM_ID (snowflake.go:321-323
    * pulls `value:LISTITEM_ID` exactly for these `value:`-rooted
    * views) + the nested record's scalars. `subPath` is the RECORD
    * chain inside the element. Same no-chunk-filter contract as the
    * flatten it rides. */
  def listItemRecordView(latestDf: DataFrame, docType: String,
      root: DocumentSchema, listPath: Seq[String],
      subPath: Seq[String]): DataFrame =
    frame(latestDf,
      viewSteps(ItemRecordDef(docType, docType, listPath, subPath), root))

  /** V7 — register the typed view catalog of `schema` ([[catalogDefs]],
    * the reference's recursive generator, snowflake.go:314-378) over
    * the relation named `latest` (a temp view or table holding a frame
    * produced by [[latest]]), as SQL text that resolves `latest` by
    * name when read ([[createTemp]]). Per-view error resilience matches
    * the reference (snowflake.go:373-378): a view that fails to
    * register is logged and SKIPPED — one bad type or field never
    * aborts the rest of the catalog. Returns the registered names. */
  def registerAll(spark: SparkSession, latest: String,
      schema: RootSchema): Seq[String] =
    createTemp(spark, catalogSql(schema, qi(latest)))

  /** create_views' catalog: the store views `DOCUMENTS_LATEST_ALL_VERSIONS`,
    * `DOCUMENTS_LATEST` and `DOCUMENTS_HISTORY` over the landing
    * relation named `landing`, then every [[catalogDefs]] view over
    * `DOCUMENTS_LATEST` — all SQL text that resolves `landing` by name
    * when read, so re-pointing `landing` refreshes the whole catalog.
    * Resilience and result as in [[registerAll]]. */
  def registerStore(spark: SparkSession, landing: String,
      schema: RootSchema): Seq[String] =
    createTemp(spark, catalogSql(schema, qi("DOCUMENTS_LATEST"), Some(qi(landing))))

  /** The generated catalog as (view name, SQL text), the one list the
    * temp ([[createTemp]]) and persistent ([[registerAllPersistent]])
    * catalogs read, so they differ only in the relations they name:
    * with a `landing` reference, the three store views over it first;
    * then every [[catalogDefs]] view over `latest`. Both references are
    * SQL relation text, embedded as given. */
  private def catalogSql(schema: RootSchema, latest: String,
      landing: Option[String] = None,
      prefix: String = "DOCUMENTS"): Seq[(String, String)] = {
    val cols = Landing.schema.fieldNames.toSeq
    landing.toSeq.flatMap { l => Seq(
      s"${prefix}_LATEST_ALL_VERSIONS" -> sqlText(l, latestAllVersionsSteps(cols)),
      s"${prefix}_LATEST" -> sqlText(l, latestSteps(cols)),
      s"${prefix}_HISTORY" -> sqlText(l, historySteps(cols)))
    } ++ catalogDefs(schema).map { d =>
      d.name -> sqlText(latest, viewSteps(d, schema(d.docType)))
    }
  }

  /** Register `views` as SQL-text temp views, in order. A text view
    * resolves the relations it names when a query reads it, so a view
    * the session already holds is created again only when its
    * definition changed: it is skipped when the stored view has no
    * stored plan, the same text, and the SQL configs a CREATE would
    * capture now. Under `spark.sql.legacy.storeAnalyzedPlanForView`
    * every view stores a plan and is created on every call. A view
    * whose CREATE fails is logged and skipped; a later call tries it
    * again. Returns the registered names. */
  private def createTemp(spark: SparkSession,
      views: Seq[(String, String)]): Seq[String] = {
    val catalog = spark.sessionState.catalog
    val prefix = CatalogTable.VIEW_SQL_CONFIG_PREFIX
    val configs = ViewHelper.sqlConfigsToProps(spark.sessionState.conf, prefix)
    def current(name: String, text: String) =
      catalog.getRawTempView(name).exists { v =>
        v.plan.isEmpty && v.tableMeta.viewText.contains(text) &&
          v.tableMeta.properties.filter(_._1.startsWith(prefix)) == configs
      }
    views.flatMap { case (name, text) =>
      logged(name) {
        if (!current(name, text)) {
          // the name is parsed as createOrReplaceTempView parses it, so
          // a name that is not one identifier fails the same way
          val id = spark.sessionState.sqlParser.parseMultipartIdentifier(name)
          require(id.size == 1, s"$name is not one identifier")
          spark.sql(s"CREATE OR REPLACE TEMPORARY VIEW ${qi(id.head)} AS\n$text")
        }
        name
      }
    }
  }

  /** One generated view's identity in the catalog walk — the shared
    * description [[catalogSql]] renders for both registration modes,
    * so the two catalogs can never drift in shape: same walk, same
    * names, same skip rules. */
  sealed trait ViewDef { def name: String; def docType: String }
  final case class TypedDef(name: String, docType: String) extends ViewDef
  final case class RecordDef(name: String, docType: String,
      path: Seq[String]) extends ViewDef
  final case class ListDef(name: String, docType: String,
      listPath: Seq[String]) extends ViewDef
  final case class ItemRecordDef(name: String, docType: String,
      listPath: Seq[String], subPath: Seq[String]) extends ViewDef

  /** The reference's recursive catalog walk (snowflake.go:314-378) as
    * data: `<TYPE>` top view; `<TYPE>_<FIELD>…` per nested RECORD at
    * any depth; a flatten view per RECORD LIST reached through RECORDs;
    * a flattened-grain view per RECORD under a list ITEM; LIST-under-
    * LIST refused. View names accumulate the field chain exactly as the
    * reference's `tableName_FIELD` recursion does. */
  def catalogDefs(schema: RootSchema): Seq[ViewDef] = {
    val defs = scala.collection.mutable.ArrayBuffer.empty[ViewDef]
    schema.types.foreach { case (docType, ds) =>
      defs += TypedDef(docType, docType)
      def name(path: Seq[String]) = (docType +: path).mkString("_")
      // `data`-rooted walk: RECORDs recurse, each RECORD LIST starts a
      // flatten-rooted walk of its element type
      def walkData(d: DocumentSchema, path: Seq[String]): Unit =
        d.fields.foreach { case (n, fm) =>
          fm.fieldType match {
            case "RECORD" if fm.recordType.isDefined =>
              defs += RecordDef(name(path :+ n), docType, path :+ n)
              walkData(fm.recordType.get, path :+ n)
            case "RECORD LIST" if fm.recordType.isDefined =>
              defs += ListDef(name(path :+ n), docType, path :+ n)
              walkItem(fm.recordType.get, path :+ n, Nil)
            case _ =>
          }
        }
      // flatten-rooted walk (inside a list element): RECORDs get
      // flattened-grain views; a further RECORD LIST is list-in-list
      // and is skipped, matching the reference's guard
      def walkItem(d: DocumentSchema, listPath: Seq[String],
          sub: Seq[String]): Unit =
        d.fields.foreach { case (n, fm) =>
          fm.fieldType match {
            case "RECORD" if fm.recordType.isDefined =>
              defs += ItemRecordDef(name(listPath ++ sub :+ n), docType,
                listPath, sub :+ n)
              walkItem(fm.recordType.get, listPath, sub :+ n)
            case _ =>
          }
        }
      walkData(ds, Nil)
    }
    defs.toSeq
  }

  // ─── One definition per view, rendered two ways ───

  /** One step of a generated view: `SELECT cols FROM <previous step>
    * WHERE where` (no WHERE when empty). Every view is a short chain of
    * steps, rendered as a DataFrame by [[frame]] (the public builders)
    * and as SQL text by [[sqlText]] (the registered catalogs), so the
    * two forms cannot drift. */
  private final case class Step(cols: Seq[String], where: String = "")

  private def frame(df: DataFrame, steps: Seq[Step]): DataFrame =
    steps.foldLeft(df) { (d, s) =>
      (if (s.where.isEmpty) d else d.where(s.where)).selectExpr(s.cols: _*)
    }

  /** The steps as one nested SELECT over the relation `ref`. */
  private def sqlText(ref: String, steps: Seq[Step]): String =
    steps.foldLeft(ref) { (from, s) =>
      s"(SELECT ${s.cols.mkString(",\n  ")}\nFROM $from" +
        (if (s.where.isEmpty) ")" else s"\nWHERE ${s.where})")
    }.stripPrefix("(").stripSuffix(")")

  /** SQL identifier / string-literal quoting for generated text. */
  private def qi(n: String): String = "`" + n.replace("`", "``") + "`"
  private def ql(s: String): String = "'" + s.replace("'", "''") + "'"

  /** Scalar projection of one field per §1.3's cast table; `path` is the
    * SQL path of the parsed struct that holds it. RECORD and RECORD
    * LIST fields have no scalar type and project nothing. */
  private def scalarSql(path: String, name: String,
      fm: FieldMetadata): Option[String] =
    fm.fieldType match {
      case "DOCUMENT" => // V4: FK — project the nested DOCUMENT_ID
        Some(s"$path.${qi(name)}.`DOCUMENT_ID` AS ${qi(name)}")
      case _ =>
        SchemaMapper.scalarType(fm).map(dt =>
          s"CAST($path.${qi(name)} AS ${dt.sql}) AS ${qi(name)}")
    }

  /** One generated view's steps over the latest frame: parse DATA once
    * with the schema-derived StructType (a from_json DDL literal), then
    * project the typed columns. The RECORD views navigate the parsed
    * struct; the list views explode the list first, one row per
    * element. */
  private def viewSteps(d: ViewDef, root: DocumentSchema): Seq[Step] = {
    val parsed = s"from_json(data, ${ql(SchemaMapper.structFor(root).toDDL)})"
    val ofType = s"type = ${ql(d.docType)}"
    def at(base: String, path: Seq[String]) = (base +: path.map(qi)).mkString(".")
    def scalars(base: String, ds: DocumentSchema) =
      ds.fields.flatMap { case (n, fm) => scalarSql(base, n, fm) }
    val chunk0 = Step(Seq("*", s"$parsed AS __j"), s"$ofType AND chunk = 0")
    def items(listPath: Seq[String]) = Step(Seq("id AS DOCUMENT_ID",
      s"explode(${at(parsed, listPath)}) AS __item"), ofType)
    val itemId = Seq("DOCUMENT_ID",
      "CAST(__item.`LISTITEM_ID` AS STRING) AS LISTITEM_ID")
    d match {
      case TypedDef(_, _) => Seq(chunk0, Step("id AS DOCUMENT_ID" +:
        (scalars("__j", root) ++ Seq("deleted AS _DELETED",
          "author AS _AUTHOR", "version AS _VERSION", "date AS _DATE"))))
      case RecordDef(_, _, path) =>
        val inner = path.foldLeft(root) { (ds, f) => ds(f).recordType.get }
        Seq(chunk0, Step("id AS DOCUMENT_ID" +: scalars(at("__j", path), inner)))
      case ListDef(_, _, listPath) =>
        val inner = resolveListPath(root, listPath)
        Seq(items(listPath), Step(itemId ++ scalars("__item", inner)))
      case ItemRecordDef(_, _, listPath, subPath) =>
        require(subPath.nonEmpty, "subPath must name at least one RECORD field")
        val inner = subPath.foldLeft(resolveListPath(root, listPath)) { (ds, f) =>
          val fm = ds(f)
          require(fm.fieldType == "RECORD",
            s"$f under list ${listPath.last} is ${fm.fieldType}, not RECORD")
          fm.recordType.get
        }
        Seq(items(listPath), Step(itemId ++ scalars(at("__item", subPath), inner)))
    }
  }

  /** V7-persistent — the reference's durability contract: its generated
    * catalog is `CREATE OR REPLACE SECURE VIEW` DDL that SURVIVES the
    * session (snowflake.go:362); `createOrReplaceTempView` dies with
    * the SparkSession. This registers the same catalog as persistent
    * SQL views in `spark_catalog` under namespace `db`: store views
    * `<prefix>_LATEST_ALL_VERSIONS` / `<prefix>_LATEST` /
    * `<prefix>_HISTORY` over the landing PATH, then every [[catalogDefs]]
    * view over the latest view. View text is self-contained (path
    * inline, schema as a from_json DDL literal), so any later session
    * of the same catalog — in-memory catalog: any session of this
    * SparkContext; Hive/Unity metastore: any session ever — resolves
    * them. Per-view error resilience as in [[registerAll]]: one bad
    * view never aborts the rest. Returns qualified registered names. */
  def registerAllPersistent(spark: SparkSession,
      landingPath: String, schema: RootSchema, db: String,
      prefix: String = "DOCUMENTS"): Seq[String] = {
    spark.sql(s"CREATE NAMESPACE IF NOT EXISTS ${qi(db)}")
    catalogSql(schema, s"${qi(db)}.${qi(s"${prefix}_LATEST")}",
      Some(s"parquet.${qi(landingPath)}"), prefix).flatMap { case (name, text) =>
      val qn = s"${qi(db)}.${qi(name)}"
      logged(qn) {
        spark.sql(s"CREATE OR REPLACE VIEW $qn AS\n$text")
        s"$db.$name"
      }
    }
  }

  /** `create`'s result, or None after logging why it failed: one bad
    * view never aborts the rest of a catalog. */
  private def logged(name: String)(create: => String): Option[String] =
    try Some(create)
    catch {
      case e: Exception =>
        System.err.println(s"graft: error creating view $name: ${e.getMessage}")
        None
    }

  /** The V4 reference join with the broadcast decision made from
    * evidence instead of faith. r73's public query hints `broadcast`
    * because its dimension is KNOWN dimension-sized; a library caller
    * resolving an arbitrary schema's references has no such knowledge,
    * and an unconditional hint is exactly the thing that dies at
    * 100 TB — a referenced type that grew past executor memory turns
    * the "free" broadcast into an OOM. This helper asks Catalyst for
    * the dimension's plan-time size estimate (`stats.sizeInBytes`, the
    * same statistic Spark's own auto-broadcast threshold consults —
    * fed by file sizes for scans and by CBO/ANALYZE when available)
    * and hints only when the estimate fits the caller's budget.
    * Unknown or huge estimates fall through UNHINTED, which is the
    * safe default: the shuffle join co-locates on the FK (zero extra
    * exchanges over a bucketed store), and AQE still converts to
    * broadcast at runtime if the actual build side turns out small —
    * the decision is then made on measured, not estimated, bytes. */
  def referenceJoin(docs: DataFrame, dims: DataFrame, fk: String,
      refId: String, maxBroadcastBytes: Long = 64L << 20): DataFrame = {
    val est = dims.queryExecution.optimizedPlan.stats.sizeInBytes
    val dimSide =
      if (est <= BigInt(maxBroadcastBytes)) broadcast(dims) else dims
    docs.join(dimSide, docs(fk) === dims(refId), "left")
  }
}
