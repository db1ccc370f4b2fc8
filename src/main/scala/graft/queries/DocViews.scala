package graft.queries

import graft.model.SchemaCodec
import graft.views.Views
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Tables.t

/** Oracle-verified end-to-end exercises of the document-views engine
  * (SURVEY.md §2.4–§2.5): a deterministic versioned landing table is
  * synthesized from the `documents` test table, pushed through the real
  * `Views.latest` / `typedView` / `recordListView` machinery, and the
  * DuckDB oracle recomputes the *expected semantics* directly from
  * `documents` — so replay dedup, version argmax, tombstone visibility,
  * typed JSON projection, and chunk re-union on flatten are all checked
  * by the driver's hash gate, not just unit tests. */
object DocViews {

  private val ts1 = "timestamp'2026-01-01 00:00:00'"
  private val ts2 = "timestamp'2026-01-02 00:00:00'"

  /** Landing rows: every doc lands as v1 TWICE (two batch dates —
    * at-least-once replay), docs with id%10=0 land a v2 whose N_CHARS
    * is shifted and which is tombstoned for id%20=0. */
  private def landing(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    def v1(batch: String) = base.selectExpr(
      s"$batch as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "0 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      "to_json(named_struct('LANG', lang, 'N_CHARS', n_chars)) as data")
    val v2 = base.filter("doc_id % 10 = 0").selectExpr(
      s"$ts2 as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(2 as bigint) as version", "0 as chunk", "source as author",
      s"$ts2 as date", "doc_id % 20 = 0 as deleted",
      "to_json(named_struct('LANG', lang, 'N_CHARS', n_chars + 1000)) as data")
    v1(ts1).unionByName(v1(ts2)).unionByName(v2)
  }

  private val docSchema = SchemaCodec.parse(
    """{"DOC": {
      |  "LANG": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |  "N_CHARS": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true}
      |}}""".stripMargin)

  /** Two document types linked by a V4 DOCUMENT-reference field: DOC's
    * SOURCE_REF points at the SRC document whose id is the doc's source
    * string (the reference annotates exactly this FK so the projected
    * DOCUMENT_ID column is joinable — snowflake.go:348
    * `References <DOCUMENT_TYPE>.DOCUMENT_ID`). */
  private val fkSchema = SchemaCodec.parse(
    """{"DOC": {
      |  "LANG": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |  "N_CHARS": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
      |  "SOURCE_REF": {"ACTIVE": true, "TYPE": "DOCUMENT", "NULLABLE": true,
      |    "DOCUMENT_TYPE": "SRC"}
      |},
      |"SRC": {
      |  "SOURCE_NAME": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true}
      |}}""".stripMargin)

  /** Landing for the FK-join exercise: every document lands as a DOC
    * carrying a SOURCE_REF document reference (NULL for id%13=0 — an
    * unlinked producer), and each distinct source lands once as a SRC
    * dimension document. DOC rows land twice (replay) so R1 still does
    * real work on the corpus side. */
  private def fkLanding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    def docRows(batch: String) = base.selectExpr(
      s"$batch as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "0 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('LANG', lang, 'N_CHARS', n_chars,
        |  'SOURCE_REF', case when doc_id % 13 = 0 then null
        |    else named_struct('DOCUMENT_ID', source) end)) as data""".stripMargin)
    val srcRows = base.select("source").distinct().selectExpr(
      s"$ts1 as batch_date", "'SRC' as type", "source as id",
      "cast(1 as bigint) as version", "0 as chunk", "'loader' as author",
      s"$ts1 as date", "false as deleted",
      "to_json(named_struct('SOURCE_NAME', upper(source))) as data")
    docRows(ts1).unionByName(docRows(ts2)).unionByName(srcRows)
  }

  /** R1+R2 over the FK landing — one cached frame feeds both typed
    * views of r73 (corpus DOC side and dimension SRC side). */
  private def latestFkLanding(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "latest_fk_landing") {
      Views.latest(fkLanding(s, dir))
    }

  /** The r73 join, factored out so the plan-guard spec exercises the
    * exact public plan: typed DOC view ⋈ typed SRC view on the
    * projected FK. The referenced type is a dimension (|distinct
    * sources| rows), so it is broadcast — at 100 TB the corpus side
    * streams through the join without shuffling on the FK. Left join:
    * docs with a NULL reference survive with a NULL dimension payload. */
  private[graft] def fkReferenceJoin(s: SparkSession, dir: String): DataFrame = {
    val latest = latestFkLanding(s, dir)
    val docs = Views.typedView(latest, "DOC", fkSchema("DOC"))
    val srcs = Views.typedView(latest, "SRC", fkSchema("SRC"))
      .select(col("DOCUMENT_ID").as("__ref_id"), col("SOURCE_NAME"))
    docs.join(broadcast(srcs), col("SOURCE_REF") === col("__ref_id"), "left")
      .select("DOCUMENT_ID", "LANG", "N_CHARS", "SOURCE_REF", "SOURCE_NAME")
  }

  /** Landing for the r79 snapshot diff: disjoint residue classes
    * (doc_id % 12) exercise every CDC transition — m=1 late arrival
    * (absent from batch 1), m=2 live v2 update, m=3 v2 tombstone,
    * m=4 tombstoned v1 then restored live at v2, m=5 a
    * contract-VIOLATING producer that re-lands the SAME version with
    * the deleted flag flipped (the store forbids in-place updates;
    * `changes` surfaces it as 'anomaly' rather than silently classing
    * it unchanged); everything else is an unchanged v1 replay. */
  private def cdcLanding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    def rows(pred: String, batch: String, ver: Int, del: String) =
      base.filter(pred).selectExpr(
        s"$batch as batch_date", "'DOC' as type",
        "cast(doc_id as string) as id", s"cast($ver as bigint) as version",
        "0 as chunk", "source as author", s"$batch as date",
        s"$del as deleted",
        "to_json(named_struct('LANG', lang, 'N_CHARS', n_chars)) as data")
    rows("doc_id % 12 != 1 and doc_id % 12 != 4", ts1, 1, "false")
      .unionByName(rows("doc_id % 12 = 4", ts1, 1, "true"))
      .unionByName(rows("doc_id % 12 = 1", ts2, 1, "false"))
      .unionByName(rows("doc_id % 12 = 2", ts2, 2, "false"))
      .unionByName(rows("doc_id % 12 = 3", ts2, 2, "true"))
      .unionByName(rows("doc_id % 12 = 4", ts2, 2, "false"))
      .unionByName(rows("doc_id % 12 = 5", ts2, 1, "true"))
  }

  /** Self-referencing document type for the r77 lineage closure: SRC
    * documents form a binary tree via PARENT_REF (idx → idx / 2, root
    * idx 0 has a NULL parent). */
  private val lineageSchema = SchemaCodec.parse(
    """{"SRC": {
      |  "SOURCE_NAME": {"ACTIVE": true, "TYPE": "TEXT", "NULLABLE": true},
      |  "PARENT_REF": {"ACTIVE": true, "TYPE": "DOCUMENT", "NULLABLE": true,
      |    "DOCUMENT_TYPE": "SRC"}
      |}}""".stripMargin)

  /** Landing for r77: every distinct source lands as a SRC document
    * whose PARENT_REF climbs a binary tree (idx // 2); idx % 3 = 0
    * docs additionally land a v2 replay with the same payload, so R2
    * does real version work before the closure runs. */
  private def lineageLanding(s: SparkSession, dir: String): DataFrame = {
    val srcIdx = t(s, dir, "documents").select("source").distinct()
      .selectExpr("source", "cast(substring(source, 4) as int) as idx")
    def rows(pred: String, batch: String, ver: Int) =
      srcIdx.filter(pred).selectExpr(
        s"$batch as batch_date", "'SRC' as type", "source as id",
        s"cast($ver as bigint) as version", "0 as chunk",
        "'loader' as author", s"$batch as date", "false as deleted",
        """to_json(named_struct('SOURCE_NAME', upper(source),
          |  'PARENT_REF', case when idx = 0 then null
          |    else named_struct('DOCUMENT_ID',
          |      concat('src', cast(idx div 2 as string))) end)) as data"""
          .stripMargin)
    rows("true", ts1, 1).unionByName(rows("idx % 3 = 0", ts2, 2))
  }

  /** The r77 recursive closure over an `edges(id, parent)` relation —
    * ONE SQL text drives both engines (r47's pattern); only the edge
    * derivation differs (typed-view projection vs closed-form). */
  private def r77Sql(edgesBody: String): String =
    s"""WITH RECURSIVE edges AS ($edgesBody),
       |lineage AS (
       |  SELECT id, id AS anc, 0 AS depth FROM edges
       |  UNION ALL
       |  SELECT l.id, e.parent, l.depth + 1
       |  FROM lineage l JOIN edges e ON l.anc = e.id
       |  WHERE e.parent IS NOT NULL)
       |SELECT id AS DOCUMENT_ID, anc AS ROOT_ID, CAST(depth AS BIGINT) AS DEPTH
       |FROM (SELECT id, anc, depth,
       |        MAX(depth) OVER (PARTITION BY id) AS md FROM lineage) x
       |WHERE depth = md ORDER BY DOCUMENT_ID""".stripMargin

  /** FK landing with deliberately broken references, for the r76
    * integrity audit: SRC dimension docs are MISSING for source index
    * % 7 = 3 (never landed — a dangling reference), and TOMBSTONED
    * (deleted v2) for index % 5 = 0 among the ones that did land.
    * Distinct from r73's fixture — r73 proves the happy-path join,
    * r76 proves the audit finds every way the FK can rot. */
  private def fkAuditLanding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    val docRows = base.selectExpr(
      s"$ts1 as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "0 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('LANG', lang, 'N_CHARS', n_chars,
        |  'SOURCE_REF', case when doc_id % 13 = 0 then null
        |    else named_struct('DOCUMENT_ID', source) end)) as data""".stripMargin)
    val srcIdx = base.select("source").distinct()
      .selectExpr("source", "cast(substring(source, 4) as int) as idx")
    def srcRows(pred: String, batch: String, ver: Int, del: String) =
      srcIdx.filter(pred).selectExpr(
        s"$batch as batch_date", "'SRC' as type", "source as id",
        s"cast($ver as bigint) as version", "0 as chunk",
        "'loader' as author", s"$batch as date", s"$del as deleted",
        "to_json(named_struct('SOURCE_NAME', upper(source))) as data")
    docRows
      .unionByName(srcRows("idx % 7 != 3", ts1, 1, "false"))
      .unionByName(srcRows("idx % 7 != 3 and idx % 5 = 0", ts2, 2, "true"))
  }

  private val listSchema = SchemaCodec.parse(
    """{"DOC": {
      |  "ITEMS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |    "RECORD_TYPE": {"VAL": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true}}}
      |}}""".stripMargin)

  /** Landing with a record list split across chunks: chunk 0 carries
    * items A and B; docs with id%5=0 also land a chunk-1 slice carrying
    * item C (the T2 chunk-split contract). Docs with id%7=0 additionally
    * RE-LAND the same version at ts2 with chunk 0 only (a re-chunked
    * replay): per R1's (TYPE,ID,VERSION) grouped-max semantics the whole
    * older batch dies with it — including its chunk-1 slice — so item C
    * must vanish for id%35=0 docs. This is the regression surface for
    * the stale-chunk-leak bug. */
  private def listLanding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    def c0(batch: String, pred: String) = base.filter(pred).selectExpr(
      s"$batch as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "0 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('ITEMS', array(
        |  named_struct('LISTITEM_ID', 'A', 'VAL', n_chars),
        |  named_struct('LISTITEM_ID', 'B', 'VAL', n_chars * 2)))) as data""".stripMargin)
    val c1 = base.filter("doc_id % 5 = 0").selectExpr(
      s"$ts1 as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "1 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('ITEMS', array(
        |  named_struct('LISTITEM_ID', 'C', 'VAL', n_chars * 3)))) as data""".stripMargin)
    c0(ts1, "true").unionByName(c1).unionByName(c0(ts2, "doc_id % 7 = 0"))
  }

  private val nestedListSchema = SchemaCodec.parse(
    """{"DOC": {
      |  "META": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |    "RECORD_TYPE": {
      |      "ITEMS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |        "RECORD_TYPE": {"VAL": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true}}}}}
      |}}""".stripMargin)

  /** r25's chunk-split fixture moved one RECORD deeper: the list lives
    * at META.ITEMS, chunk-1 slices carry item C for id%5=0, and id%7=0
    * docs re-land the version at ts2 with chunk 0 only — so C must
    * vanish for id%35=0 exactly as in the top-level case. Exercises the
    * at-depth flatten (snowflake.go:352-356 generates it; the guard
    * refuses only list-in-list) plus chunk re-union below the root. */
  private def nestedListLanding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    def c0(batch: String, pred: String) = base.filter(pred).selectExpr(
      s"$batch as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "0 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('META', named_struct('ITEMS', array(
        |  named_struct('LISTITEM_ID', 'A', 'VAL', n_chars),
        |  named_struct('LISTITEM_ID', 'B', 'VAL', n_chars * 2))))) as data""".stripMargin)
    val c1 = base.filter("doc_id % 5 = 0").selectExpr(
      s"$ts1 as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "1 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('META', named_struct('ITEMS', array(
        |  named_struct('LISTITEM_ID', 'C', 'VAL', n_chars * 3))))) as data""".stripMargin)
    c0(ts1, "true").unionByName(c1).unionByName(c0(ts2, "doc_id % 7 = 0"))
  }

  private val itemRecordSchema = SchemaCodec.parse(
    """{"DOC": {
      |  "ITEMS": {"ACTIVE": true, "TYPE": "RECORD LIST", "NULLABLE": true,
      |    "RECORD_TYPE": {
      |      "VAL": {"ACTIVE": true, "TYPE": "INTEGER", "NULLABLE": true},
      |      "POS": {"ACTIVE": true, "TYPE": "RECORD", "NULLABLE": true,
      |        "RECORD_TYPE": {
      |          "X": {"ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true},
      |          "Y": {"ACTIVE": true, "TYPE": "DECIMAL", "NULLABLE": true}}}}}
      |}}""".stripMargin)

  /** Landing for the record-under-list-item view: each list element
    * carries a nested POS record (X/Y use exact binary fractions so
    * the double casts hash identically across engines); id%5=0 docs
    * land a chunk-1 slice with item C, so the flattened-grain child
    * view re-unions chunks exactly like the list view it rides. */
  private def itemRecordLanding(s: SparkSession, dir: String): DataFrame = {
    val base = t(s, dir, "documents")
    val c0 = base.selectExpr(
      s"$ts1 as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "0 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('ITEMS', array(
        |  named_struct('LISTITEM_ID', 'A', 'VAL', n_chars,
        |    'POS', named_struct('X', n_chars + 0.25, 'Y', n_chars * 0.5)),
        |  named_struct('LISTITEM_ID', 'B', 'VAL', n_chars * 2,
        |    'POS', named_struct('X', n_chars + 0.75, 'Y', n_chars * 1.5))))) as data""".stripMargin)
    val c1 = base.filter("doc_id % 5 = 0").selectExpr(
      s"$ts1 as batch_date", "'DOC' as type", "cast(doc_id as string) as id",
      "cast(1 as bigint) as version", "1 as chunk", "source as author",
      s"$ts1 as date", "false as deleted",
      """to_json(named_struct('ITEMS', array(
        |  named_struct('LISTITEM_ID', 'C', 'VAL', n_chars * 3,
        |    'POS', named_struct('X', n_chars + 0.125, 'Y', n_chars * 2.5))))) as data""".stripMargin)
    c0.unionByName(c1)
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // landing → R1 replay dedup → R2 version argmax → typed projection
    // (latest frame cached: the final sort's range-partition sampling
    // pass would otherwise re-execute the whole synth+dedup pipeline;
    // shared because r24 and r45 project the same deduped frame)
    "r24_document_latest_view" -> { (s, dir) =>
      Views.typedView(latestLanding(s, dir), "DOC", docSchema("DOC"))
        .orderBy("DOCUMENT_ID")
    },
    // same pipeline through the VariantType path (parse_json +
    // variant_get — Spark 4's native analogue of the Snowflake VARIANT
    // column the reference actually lands into); same oracle as r24,
    // so the binary-variant encode/extract round-trip is hash-checked
    "r45_variant_latest_view" -> { (s, dir) =>
      Views.variantView(latestLanding(s, dir), "DOC", docSchema("DOC"))
        .orderBy("DOCUMENT_ID")
    },
    // V6 AT DEPTH — the same flatten machinery for a RECORD LIST nested
    // under a RECORD, which the reference's generator produces (its
    // list-in-list guard passes every `data`-rooted path reached
    // through RECORD recursion, snowflake.go:352-356) — driven through
    // registerAll so the catalog WALK is what's under the hash gate,
    // not just the view builder: the walk must emit DOC_META_ITEMS and
    // the view must re-union chunk-split slices below the root.
    "r81_nested_list_flatten" -> { (s, dir) =>
      Shared.shared(s, dir, "latest_nestedlist") {
        Views.latest(nestedListLanding(s, dir))
      }.createOrReplaceTempView("R81_LATEST")
      Views.registerAll(s, "R81_LATEST", nestedListSchema)
      s.table("DOC_META_ITEMS").orderBy("DOCUMENT_ID", "LISTITEM_ID")
    },
    // RECORD UNDER A LIST ITEM — the other half of the reference's
    // flatten recursion: a RECORD field of a list element gets its own
    // view at the flattened grain (one row per element, LISTITEM_ID
    // carried — snowflake.go:321-323's `value:`-rooted views). Also
    // via registerAll: the walk emits DOC_ITEMS (the list view) AND
    // DOC_ITEMS_POS (this view); chunk slices re-union through both.
    "r82_list_item_record" -> { (s, dir) =>
      Shared.shared(s, dir, "latest_itemrec") {
        Views.latest(itemRecordLanding(s, dir))
      }.createOrReplaceTempView("R82_LATEST")
      Views.registerAll(s, "R82_LATEST", itemRecordSchema)
      s.table("DOC_ITEMS_POS").orderBy("DOCUMENT_ID", "LISTITEM_ID")
    },
    // THE VARIANT FLATTEN TWIN — r81's at-depth list flatten through
    // variant_get('variant') + variant_explode instead of the
    // StructType decode + explode; shares r81's oracle verbatim, so
    // the two storage paths are pinned identical under the SAME
    // chunk-re-union + stale-chunk-death fixture. With r45 (flat
    // projection), r83 (FK join) and this, every view shape has a
    // hash-verified variant twin.
    "r84_variant_list_flatten" -> { (s, dir) =>
      Views.variantListView(
        Shared.shared(s, dir, "latest_nestedlist") {
          Views.latest(nestedListLanding(s, dir))
        }, "DOC", nestedListSchema("DOC"), Seq("META", "ITEMS"))
        .orderBy("DOCUMENT_ID", "LISTITEM_ID")
    },
    // landing → latest → record-list flatten with chunk re-union
    "r25_record_list_flatten" -> { (s, dir) =>
      Views.recordListView(
        Shared.shared(s, dir, "latest_listlanding") {
          Views.latest(listLanding(s, dir))
        }, "DOC", listSchema("DOC"), "ITEMS")
        .orderBy("DOCUMENT_ID", "LISTITEM_ID")
    },
    // the bucketed landing store on the public query surface: the same
    // landing + typed projection as r24, but the landing batches are
    // pushed through Ingest.appendBatchBucketed into a catalog table
    // hash-bucketed by id — so the whole R1/R2 dedup pipeline runs with
    // ZERO exchanges over the store (BucketingSpec asserts the physical
    // plan; this entry puts the path under the bench + correctness
    // harness). Same oracle as r24: bucketing must not change results.
    "r68_bucketed_latest" -> { (s, dir) =>
      Views.typedView(bucketedLatest(s, dir), "DOC", docSchema("DOC"))
        .orderBy("DOCUMENT_ID")
    },
    // THE PERSISTENT CATALOG on the public query surface (V7
    // durability parity, snowflake.go:362's CREATE OR REPLACE SECURE
    // VIEW): the same landing history as r24, WRITTEN to a parquet
    // store and read back exclusively through registerAllPersistent's
    // SQL-text views — landing path baked into the view DDL, R1/R2 and
    // the typed projection all living in spark_catalog rather than in
    // any DataFrame. Same oracle as r24: the persistent SQL catalog
    // must be bit-identical to the temp DataFrame catalog (the no-drift
    // pin, under the hash gate at every sf).
    "r85_persistent_view" -> { (s, dir) =>
      val path = r85Store(s, dir)
      Views.registerAllPersistent(s, path, docSchema, db = "graft_r85")
      s.table("graft_r85.DOC").orderBy("DOCUMENT_ID")
    },
    // incremental view maintenance (the per-sync-cycle refresh at
    // 100 TB): materialize latest over the ts1 history, then fold ONLY
    // the ts2 batch in with Views.latestIncremental — refresh work is
    // |latest| + |batch|, never |history|. Shares r24's oracle: the
    // incremental fold must be bit-identical to the full recompute,
    // which is exactly the associativity claim under the hash gate.
    "r69_incremental_latest" -> { (s, dir) =>
      // reads the BUCKETED landing store (r74's path): the refresh fold
      // is (type,id)-keyed, so both the prev materialization and the
      // incremental merge run exchange-free off the bucketed scans —
      // at 100 TB the per-cycle refresh inherits the store's clustering
      val land = bucketedStore(s, dir)
      val prev = Views.latest(land.filter(s"batch_date = $ts1"))
      val inc = Views.latestIncremental(prev, land.filter(s"batch_date = $ts2"))
      Views.typedView(inc, "DOC", docSchema("DOC")).orderBy("DOCUMENT_ID")
    },
    // SCD2 history view: validity intervals over the replay-deduped
    // version history (valid_from/valid_to/is_current) — the
    // point-in-time-join form of the version store; oracle recomputes
    // the intervals directly from the documents fixture
    "r70_scd2_history" -> { (s, dir) =>
      Views.history(landing(s, dir))
        .selectExpr("id as DOCUMENT_ID", "version as _VERSION",
          "valid_from", "valid_to", "is_current")
        .orderBy("DOCUMENT_ID", "_VERSION")
    },
    // V4 FK-REFERENCE JOIN — the query the reference's FK annotation
    // exists to enable (snowflake.go:348 emits
    // `/* References <DOCUMENT_TYPE>.DOCUMENT_ID */` on the projected
    // column precisely so the warehouse user can join document →
    // referenced document): the typed DOC view joins the typed SRC view
    // on DOC.SOURCE_REF = SRC.DOCUMENT_ID. The referenced type is a
    // dimension, so it broadcasts (plan-guarded in Round11Spec) — the
    // corpus side never shuffles on the FK. NULL references (id%13=0)
    // survive the left join with a NULL dimension payload.
    "r73_fk_reference_join" -> { (s, dir) =>
      fkReferenceJoin(s, dir).orderBy("DOCUMENT_ID")
    },
    // r73 THROUGH THE VARIANT TWIN — both sides of the FK join built
    // with Views.variantView (parse_json → variant_get), so the
    // binary-variant path extraction — including the nested
    // `$.SOURCE_REF.DOCUMENT_ID` reference projection — is
    // hash-checked under a JOIN, not just the flat r45 projection.
    // Shares r73's oracle: the storage representation must be
    // invisible to query results. Same broadcast plan shape.
    "r83_variant_fk_join" -> { (s, dir) =>
      val latest = latestFkLanding(s, dir)
      val docs = Views.variantView(latest, "DOC", fkSchema("DOC"))
      val srcs = Views.variantView(latest, "SRC", fkSchema("SRC"))
        .select(col("DOCUMENT_ID").as("__ref_id"), col("SOURCE_NAME"))
      docs.join(broadcast(srcs), col("SOURCE_REF") === col("__ref_id"), "left")
        .select("DOCUMENT_ID", "LANG", "N_CHARS", "SOURCE_REF", "SOURCE_NAME")
        .orderBy("DOCUMENT_ID")
    },
    // FK INTEGRITY AUDIT — the data-quality query run right after r73's
    // join exists: classify every document's DOCUMENT-reference as
    // null_ref / ok / dangling (the referenced document never landed) /
    // deleted_ref (the referenced document's LATEST version is a
    // tombstone — visible in the typed view per V1's "tombstones are
    // visible" contract, and exactly what a blind r73-style join would
    // silently treat as a live parent). Same plan shape as r73: the
    // dimension side broadcasts with its _DELETED flag, the corpus side
    // streams — the audit costs one case-expression more than the join
    // it audits, at any corpus size.
    "r76_fk_integrity_audit" -> { (s, dir) =>
      val latest = Views.latest(fkAuditLanding(s, dir))
      val docs = Views.typedView(latest, "DOC", fkSchema("DOC"))
      val srcs = Views.typedView(latest, "SRC", fkSchema("SRC"))
        .select(col("DOCUMENT_ID").as("__ref_id"),
          col("_DELETED").as("__ref_deleted"))
      docs.join(broadcast(srcs), col("SOURCE_REF") === col("__ref_id"), "left")
        .selectExpr("DOCUMENT_ID", "SOURCE_REF",
          """case when SOURCE_REF is null then 'null_ref'
            |  when __ref_id is null then 'dangling'
            |  when __ref_deleted then 'deleted_ref'
            |  else 'ok' end as REF_STATUS""".stripMargin)
        .orderBy("DOCUMENT_ID")
    },
    // REFERENCE LINEAGE — the multi-hop extension of r73: a V4
    // DOCUMENT reference can point at a document of the SAME type
    // (part-of / derived-from chains are the reference's own data
    // model: any field may be `TYPE: DOCUMENT` of any document type,
    // schema.go's RootSchema places no acyclicity shortcut), and the
    // provenance question is then transitive — "resolve every document
    // to its ROOT ancestor and how far away it is". One recursive CTE
    // (r47 proved the UnionLoop machinery) over the typed view's
    // projected FK: the frontier is dimension-sized and shrinks
    // geometrically on the tree fixture, each step is a frontier ⋈
    // dimension-view join — at 100 TB the recursion runs on the
    // |distinct parents| edge list, never on the corpus, and depth is
    // bounded by the reference graph's height (log |dim| here).
    "r77_reference_lineage" -> { (s, dir) =>
      // the UnionLoop re-plans the edge relation EVERY iteration, and
      // here that relation is the whole typed-view chain (JSON parse +
      // latest() window over the landing) — the r47 lesson applied:
      // materialize the dimension-sized (id, parent) list narrow and
      // cached, so each recursion round reads a 2-partition in-memory
      // relation instead of re-parsing the landing store per hop
      val latest = Shared.shared(s, dir, "lineage_landing") {
        Views.latest(lineageLanding(s, dir))
      }
      Shared.shared(s, dir, "lineage_edges_r77") {
        Views.typedView(latest, "SRC", lineageSchema("SRC"))
          .selectExpr("DOCUMENT_ID as id", "PARENT_REF as parent")
          .coalesce(2)
      }.createOrReplaceTempView("graft_lineage_edges")
      s.sql(r77Sql("SELECT id, parent FROM graft_lineage_edges"))
    },
    // SNAPSHOT DIFF — the daily CDC question ("what changed since the
    // last sync cycle?") as a first-class view-layer operator:
    // Views.changes classifies the only four transitions a versioned
    // soft-delete store permits — added / updated / deleted / restored
    // — by one full-outer join of the T1 and T2 latest snapshots on
    // the document key. Both sides are |latest|-sized and partition on
    // (type,id) (co-located exchange-free over the bucketed store);
    // per cycle the cost is |latest|, never |history|. The T2 side is
    // built with latestIncremental, so the cycle's total work is the
    // r69 fold plus this join.
    "r79_snapshot_diff" -> { (s, dir) =>
      val store = Shared.shared(s, dir, "cdc_landing") { cdcLanding(s, dir) }
      // prev feeds BOTH the diff's left side and the incremental fold —
      // uncached it is planned (and its windows executed) twice per run
      val prev = Shared.temp(
        Views.latest(store.filter(s"batch_date = $ts1")))
      val cur = Views.latestIncremental(prev,
        store.filter(s"batch_date = $ts2"))
      Views.changes(prev, cur)
        .selectExpr("id as DOCUMENT_ID", "change",
          "cast(old_version as bigint) as old_version",
          "cast(new_version as bigint) as new_version")
        .orderBy("DOCUMENT_ID")
    },
    // TIME TRAVEL — reconstruct a PAST _LATEST snapshot from the
    // append-only landing store: Views.asOf(store, t1) filters the
    // store to batches landed at or before t1 and replays the same R1
    // + R2 argmax fold — after BOTH cdc batches have landed, the read
    // returns exactly the snapshot a reader at t1 saw (the r79 diff's
    // `prev` side, recomputed here from the full store rather than
    // carried forward). No per-cycle copies are kept anywhere: the
    // versioned store IS its own snapshot history. Plan: the
    // batch_date predicate is pushed into the scan (partition-pruned
    // on a date-partitioned 100 TB store), then the two windows
    // latest() always pays.
    "r80_time_travel" -> { (s, dir) =>
      val store = Shared.shared(s, dir, "cdc_landing") { cdcLanding(s, dir) }
      Views.asOf(store, expr(ts1))
        .selectExpr("id as DOCUMENT_ID",
          "cast(version as bigint) as _VERSION", "deleted as _DELETED")
        .orderBy("DOCUMENT_ID")
    },
    // DELETE PROPAGATION — the "forget this document" workflow (GDPR
    // erasure, retracted sources) composed from the pieces the
    // reference gives a warehouse user: soft-delete semantics (§1.1 —
    // documents are tombstoned, never updated in place), the R2 latest
    // view, and the V4 FK projection. Forgetting SRC 'src1' emits the
    // tombstone action for the victim AND an 'orphaned_ref' action for
    // every live document whose reference now points at the tombstone
    // — the set a blind r73 join would silently treat as live parents
    // (r76's deleted_ref class, materialized as a work list). Plan is
    // r73's: the victim set is dimension-sized and broadcasts; the
    // corpus side streams. At 100 TB forgetting one document costs one
    // broadcast probe of the corpus, not a corpus shuffle.
    "r78_delete_propagation" -> { (s, dir) =>
      val latest = latestFkLanding(s, dir)
      val docs = Views.typedView(latest, "DOC", fkSchema("DOC"))
      val victims = Views.typedView(latest, "SRC", fkSchema("SRC"))
        .filter("DOCUMENT_ID = 'src1'")
        .selectExpr("DOCUMENT_ID", "'tombstone' as action",
          "cast(null as string) as ref")
      val orphans = docs
        .join(broadcast(victims.select(col("DOCUMENT_ID").as("__v"))),
          col("SOURCE_REF") === col("__v"))
        .selectExpr("DOCUMENT_ID", "'orphaned_ref' as action",
          "SOURCE_REF as ref")
      victims.unionByName(orphans).orderBy("action", "DOCUMENT_ID")
    },
    // STORE LIFECYCLE — the round-8 store trio composed end-to-end as
    // ONE pipeline over ONE bucketed landing table: (1) two batches
    // land via Ingest.appendBatchBucketed (r68's path), (2) the second
    // batch is folded into the materialized latest with
    // Views.latestIncremental — refresh work |latest| + |batch|, never
    // |history| (r69's path), (3) Views.history over the same store
    // supplies the current row's validity start (r70's path), joined
    // back on the document key the store is bucketed by. Every window
    // in (1)–(3) keys on id-prefixed columns, so over the bucketed
    // store the history branch runs exchange-free (Round11Spec asserts
    // the plan); the fold pays its exchanges only on |latest|+|batch|
    // rows. Result = the r24 latest view + when each current version
    // became current; the oracle recomputes both from the fixture.
    "r74_store_lifecycle" -> { (s, dir) =>
      val store = bucketedStore(s, dir)
      val prev = Views.latest(store.filter(s"batch_date = $ts1"))
      val inc = Views.latestIncremental(prev, store.filter(s"batch_date = $ts2"))
      val cur = Views.history(store).filter(col("is_current"))
        .selectExpr("id as __hid", "version as __hv", "valid_from")
      Views.typedView(inc, "DOC", docSchema("DOC"))
        .join(cur, col("DOCUMENT_ID") === col("__hid") &&
          col("_VERSION") === col("__hv"))
        .drop("__hid", "__hv")
        .orderBy("DOCUMENT_ID")
    },
    // POINT-IN-TIME JOIN over the SCD2 history — the query r70's
    // validity intervals exist to answer ("which version of this
    // document was current when this observation happened?"): a probe
    // set (two timestamps per document — one inside v1's interval, one
    // after the v2 cutover) equi-joins the history on the DOCUMENT KEY,
    // with the interval containment (valid_from <= ts < valid_to,
    // NULL-valid_to = open-ended) riding as the join's non-equi
    // residual. That shape is deliberate: at 100 TB the join
    // hash-partitions both sides on the id — never a range join, never
    // a broadcast of the corpus-sized history — and each probe meets
    // only its own document's handful of versions. Every probe matches
    // EXACTLY one version (intervals partition the timeline; the
    // half-open convention makes a probe equal to a cutover date land
    // in the newer version) — the oracle's closed form pins that.
    "r75_pit_join" -> { (s, dir) =>
      val hist = Views.history(landing(s, dir))
        .selectExpr("id", "version", "valid_from", "valid_to")
      val probes = t(s, dir, "documents").selectExpr(
        "cast(doc_id as string) as pid",
        "explode(array(timestamp'2026-01-01 12:00:00', " +
          "timestamp'2026-01-03 00:00:00')) as probe_ts")
      probes.join(hist,
          probes("pid") === hist("id") &&
            hist("valid_from") <= probes("probe_ts") &&
            (hist("valid_to").isNull || probes("probe_ts") < hist("valid_to")))
        .selectExpr("pid as DOCUMENT_ID", "probe_ts",
          "version as _VERSION")
        .orderBy("DOCUMENT_ID", "probe_ts")
    },
  )

  /** R1+R2 dedup over the synthetic landing — cached once for r24/r45. */
  private def latestLanding(s: SparkSession, dir: String): DataFrame =
    Shared.shared(s, dir, "latest_landing") {
      Views.latest(landing(s, dir))
    }

  /** r85's landing-store parquet path for `dir`: a
    * [[Durable.jvmStore]] that [[Durable.store]] writes once per corpus
    * state and JVM, so a second session neither rewrites it nor pulls
    * its files from under the first one's views. The persistent
    * graft_r85 views of every session read this path. What r85
    * demonstrates, and what every invocation still pays, is the
    * persistent SQL catalog DDL and the read back through those views. */
  private[graft] def r85Store(s: SparkSession, dir: String): String = {
    val loc = Durable.jvmStore(s"graft_r85_${Durable.md5(dir).take(16)}")
    Durable.store(s, dir, loc)(
      landing(s, dir).write.mode("overwrite").parquet(loc.toString))
    loc.toString
  }

  /** r68's bucketed landing table for `dir`. */
  private[graft] def r68Table(dir: String): String =
    s"graft_r68_landing_${Durable.md5(dir).take(16)}"

  /** The bucketed landing store for `dir`, kept fresh by
    * [[Durable.store]]: written once per corpus state and JVM (drop +
    * clean + TWO appends, exercising the append path, during the bench's
    * untimed prewarm pass), then a pure bucketed-table read. A dropped
    * table is rewritten. */
  private[graft] def bucketedStore(s: SparkSession, dir: String): DataFrame = {
    val table = r68Table(dir)
    val loc = Durable.jvmStore(table)
    Durable.store(s, dir, loc, Some(table)) {
      val base = landing(s, dir)
      graft.ingest.Ingest.appendBatchBucketed(
        base.filter(s"batch_date = $ts1"), table, 8, Some(loc.toString))
      graft.ingest.Ingest.appendBatchBucketed(
        base.filter(s"batch_date = $ts2"), table, 8, Some(loc.toString))
    }
    // partitionBy moved `type` to the tail — restore the canonical order
    s.table(table).select("batch_date", "type", "id",
      "version", "chunk", "author", "date", "deleted", "data")
  }

  private def bucketedLatest(s: SparkSession, dir: String): DataFrame =
    Views.latest(bucketedStore(s, dir))

  /** Expected latest-view semantics recomputed directly from
    * `documents` — shared by r24 (typed), r45 (variant), r68 (bucketed
    * store), and r69 (incremental fold): all four must agree with it
    * bit-for-bit. */
  private val latestViewOracle =
    """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID,
      |  lang AS LANG,
      |  CAST(CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS BIGINT) AS N_CHARS,
      |  (doc_id % 20 = 0) AS _DELETED,
      |  source AS _AUTHOR,
      |  CAST(CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS _VERSION,
      |  CASE WHEN doc_id % 10 = 0 THEN TIMESTAMP '2026-01-02 00:00:00'
      |       ELSE TIMESTAMP '2026-01-01 00:00:00' END AS _DATE
      |FROM documents ORDER BY DOCUMENT_ID""".stripMargin

  val oracleSql: Map[String, String] = Map(
    "r24_document_latest_view" -> latestViewOracle,
    "r45_variant_latest_view" -> latestViewOracle,
    "r68_bucketed_latest" -> latestViewOracle,
    "r69_incremental_latest" -> latestViewOracle,
    "r85_persistent_view" -> latestViewOracle,
    "r70_scd2_history" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, v AS _VERSION,
        |  valid_from, valid_to, is_current FROM (
        |  SELECT doc_id, CAST(1 AS BIGINT) AS v,
        |    TIMESTAMP '2026-01-01 00:00:00' AS valid_from,
        |    CASE WHEN doc_id % 10 = 0 THEN TIMESTAMP '2026-01-02 00:00:00' END AS valid_to,
        |    (doc_id % 10 <> 0) AS is_current
        |  FROM documents
        |  UNION ALL
        |  SELECT doc_id, CAST(2 AS BIGINT),
        |    TIMESTAMP '2026-01-02 00:00:00', NULL, TRUE
        |  FROM documents WHERE doc_id % 10 = 0)
        |ORDER BY DOCUMENT_ID, _VERSION""".stripMargin,
    "r73_fk_reference_join" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, lang AS LANG,
        |  CAST(n_chars AS BIGINT) AS N_CHARS,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE source END AS SOURCE_REF,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE upper(source) END AS SOURCE_NAME
        |FROM documents ORDER BY DOCUMENT_ID""".stripMargin,
    // same closed form as r73: the variant storage path must be
    // result-invisible
    "r83_variant_fk_join" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, lang AS LANG,
        |  CAST(n_chars AS BIGINT) AS N_CHARS,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE source END AS SOURCE_REF,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE upper(source) END AS SOURCE_NAME
        |FROM documents ORDER BY DOCUMENT_ID""".stripMargin,
    "r79_snapshot_diff" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID,
        |  CASE doc_id % 12 WHEN 1 THEN 'added' WHEN 2 THEN 'updated'
        |       WHEN 3 THEN 'deleted' WHEN 4 THEN 'restored'
        |       WHEN 5 THEN 'anomaly' END AS change,
        |  CASE WHEN doc_id % 12 = 1 THEN NULL ELSE CAST(1 AS BIGINT) END AS old_version,
        |  CASE WHEN doc_id % 12 IN (1, 5) THEN CAST(1 AS BIGINT) ELSE CAST(2 AS BIGINT) END AS new_version
        |FROM documents WHERE doc_id % 12 IN (1, 2, 3, 4, 5)
        |ORDER BY DOCUMENT_ID""".stripMargin,
    "r80_time_travel" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID,
        |  CAST(1 AS BIGINT) AS _VERSION,
        |  doc_id % 12 = 4 AS _DELETED
        |FROM documents WHERE doc_id % 12 <> 1
        |ORDER BY DOCUMENT_ID""".stripMargin,
    "r78_delete_propagation" ->
      """SELECT source AS DOCUMENT_ID, 'tombstone' AS action,
        |  CAST(NULL AS VARCHAR) AS ref
        |FROM (SELECT DISTINCT source FROM documents) WHERE source = 'src1'
        |UNION ALL
        |SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID,
        |  'orphaned_ref' AS action, source AS ref
        |FROM documents WHERE source = 'src1' AND doc_id % 13 <> 0
        |ORDER BY action, DOCUMENT_ID""".stripMargin,
    "r77_reference_lineage" -> r77Sql(
      """SELECT source AS id,
        |  CASE WHEN CAST(substring(source, 4) AS INT) = 0 THEN NULL
        |       ELSE 'src' || CAST(CAST(substring(source, 4) AS INT) // 2 AS VARCHAR)
        |  END AS parent
        |FROM (SELECT DISTINCT source FROM documents)""".stripMargin),
    "r76_fk_integrity_audit" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID,
        |  CASE WHEN doc_id % 13 = 0 THEN NULL ELSE source END AS SOURCE_REF,
        |  CASE WHEN doc_id % 13 = 0 THEN 'null_ref'
        |       WHEN CAST(substring(source, 4) AS INT) % 7 = 3 THEN 'dangling'
        |       WHEN CAST(substring(source, 4) AS INT) % 5 = 0 THEN 'deleted_ref'
        |       ELSE 'ok' END AS REF_STATUS
        |FROM documents ORDER BY DOCUMENT_ID""".stripMargin,
    "r74_store_lifecycle" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID,
        |  lang AS LANG,
        |  CAST(CASE WHEN doc_id % 10 = 0 THEN n_chars + 1000 ELSE n_chars END AS BIGINT) AS N_CHARS,
        |  (doc_id % 20 = 0) AS _DELETED,
        |  source AS _AUTHOR,
        |  CAST(CASE WHEN doc_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS _VERSION,
        |  CASE WHEN doc_id % 10 = 0 THEN TIMESTAMP '2026-01-02 00:00:00'
        |       ELSE TIMESTAMP '2026-01-01 00:00:00' END AS _DATE,
        |  CASE WHEN doc_id % 10 = 0 THEN TIMESTAMP '2026-01-02 00:00:00'
        |       ELSE TIMESTAMP '2026-01-01 00:00:00' END AS valid_from
        |FROM documents ORDER BY DOCUMENT_ID""".stripMargin,
    "r75_pit_join" ->
      """SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, probe_ts,
        |  CAST(CASE WHEN probe_ts = TIMESTAMP '2026-01-03 00:00:00'
        |             AND doc_id % 10 = 0 THEN 2 ELSE 1 END AS BIGINT) AS _VERSION
        |FROM documents
        |CROSS JOIN (SELECT UNNEST([TIMESTAMP '2026-01-01 12:00:00',
        |                           TIMESTAMP '2026-01-03 00:00:00']) AS probe_ts) p
        |ORDER BY DOCUMENT_ID, probe_ts""".stripMargin,
    // identical closed form to r25: moving the list one RECORD deeper
    // must not change flatten semantics (chunk re-union, stale-chunk
    // death for id%35=0 included)
    "r81_nested_list_flatten" ->
      """SELECT DOCUMENT_ID, LISTITEM_ID, VAL FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, 'A' AS LISTITEM_ID,
        |         CAST(n_chars AS BIGINT) AS VAL FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'B', CAST(n_chars * 2 AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'C', CAST(n_chars * 3 AS BIGINT)
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0) x
        |ORDER BY DOCUMENT_ID, LISTITEM_ID""".stripMargin,
    "r84_variant_list_flatten" ->
      """SELECT DOCUMENT_ID, LISTITEM_ID, VAL FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, 'A' AS LISTITEM_ID,
        |         CAST(n_chars AS BIGINT) AS VAL FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'B', CAST(n_chars * 2 AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'C', CAST(n_chars * 3 AS BIGINT)
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0) x
        |ORDER BY DOCUMENT_ID, LISTITEM_ID""".stripMargin,
    "r82_list_item_record" ->
      """SELECT DOCUMENT_ID, LISTITEM_ID, X, Y FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, 'A' AS LISTITEM_ID,
        |         CAST(n_chars + 0.25 AS DOUBLE) AS X,
        |         CAST(n_chars * 0.5 AS DOUBLE) AS Y FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'B',
        |         CAST(n_chars + 0.75 AS DOUBLE),
        |         CAST(n_chars * 1.5 AS DOUBLE) FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'C',
        |         CAST(n_chars + 0.125 AS DOUBLE),
        |         CAST(n_chars * 2.5 AS DOUBLE)
        |  FROM documents WHERE doc_id % 5 = 0) x
        |ORDER BY DOCUMENT_ID, LISTITEM_ID""".stripMargin,
    "r25_record_list_flatten" ->
      """SELECT DOCUMENT_ID, LISTITEM_ID, VAL FROM (
        |  SELECT CAST(doc_id AS VARCHAR) AS DOCUMENT_ID, 'A' AS LISTITEM_ID,
        |         CAST(n_chars AS BIGINT) AS VAL FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'B', CAST(n_chars * 2 AS BIGINT) FROM documents
        |  UNION ALL
        |  SELECT CAST(doc_id AS VARCHAR), 'C', CAST(n_chars * 3 AS BIGINT)
        |  FROM documents WHERE doc_id % 5 = 0 AND doc_id % 7 <> 0) x
        |ORDER BY DOCUMENT_ID, LISTITEM_ID""".stripMargin,
  )
}
