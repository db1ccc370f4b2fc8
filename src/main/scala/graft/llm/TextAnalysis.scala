package graft.llm

import graft.queries.Tables
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import Frag._

/** [EXT] Text-analysis operators over the `documents` table: token
  * statistics, n-gram language ID, quality scoring, fingerprinting.
  *
  * All are narrow per-row transforms (higher-order functions on arrays,
  * no UDFs) — whole-stage-codegen'd maps with zero shuffle except the
  * final presentation sort, so they scale linearly with input splits at
  * 100 TB. Aggregating variants shuffle once on the group key with
  * map-side partial aggregation.
  */
object TextAnalysis {

  /** documents scan; the test corpus is one parquet file = one input
    * split, so rebalance to get split-level parallelism for the per-row
    * analysis (no-op-cheap: a few MB of text). */
  private def docs(s: SparkSession, dir: String): DataFrame =
    Tables.t(s, dir, "documents")
      .repartition(s.sparkContext.defaultParallelism)

  /** Per-(doc, token) term frequencies over the whitespace tokenizer —
    * the shared base of every token-statistics query (x23 tf-idf, x30
    * unigram LM): one explode + one map-side-combined aggregation,
    * cached across the session. Distinct-(doc,token) rows are a
    * fraction of the raw occurrence stream, so everything downstream
    * joins and aggregates less data.
    *
    * DURABLE tier (the widest-ridden cross-query frame: x23/x28/x50/
    * x65/x71/x74/x76/x83/x85/x90/x92/x97/x100/x130 all start here) —
    * with an index root configured, a fresh session loads it instead
    * of re-tokenizing the corpus. Version-keyed by the tokenizer
    * contract (lowercase, trim, `\s+` split — TokenizeTfSpec pins the
    * fused tokenize_tf to the composable split + count); a tokenizer
    * change must bump it. */
  private def docTf(s: SparkSession, dir: String): DataFrame =
    graft.queries.Durable.tier(s, dir, "doc_tf", "v1-ws-lower") {
      // the within-doc combine is fused into the scan (tokenize_tf's
      // map<token,tf> IS the groupBy(doc_id, token) result), so the
      // tier builds with NO shuffle at all — map keys are unique per
      // row by construction
      docs(s, dir)
        .selectExpr("doc_id", "explode(tokenize_tf(text)) as (token, tf)")
        .filter(col("token") =!= "")
    }

  /** DURABLE per-document token statistics — (doc_id, source,
    * n_chars_raw, n_tokens, n_distinct) with the '' tokens of the
    * split contract INCLUDED (unlike doc_tf, which drops them — the
    * empty-token row is part of the quality score's defined algebra,
    * the exactness hazard that kept x73 off doc_tf in rounds 14–15).
    * The quality stack (x03 score, x59 gate, x69 budget, x73 curve,
    * x75 cap, x81 curriculum) derives distinct-ratio, length-score and
    * quality in closed form from these integers — identical doubles,
    * same operands — so six operators stop re-tokenizing the corpus
    * per run. Fourth instance of the doc_tf/shingle_df/doc_fp move;
    * tier-eligible by the SCALE.md rule (per-document, six consumers,
    * version-keyed by the tokenizer contract, fingerprint-invalidated).
    * Built from the fused tokenize_tf map (size(m) IS the distinct
    * count, sum(values) the token count — no token array ever
    * materializes; kernel equality is oracle- and TokenizeTfSpec-pinned). */
  private[llm] def docStats(s: SparkSession, dir: String): DataFrame =
    graft.queries.Durable.tier(s, dir, "doc_stats", "v1-ws-lower") {
      docs(s, dir)
        .selectExpr("doc_id", "source",
          "cast(length(text) as bigint) as n_chars_raw",
          "tokenize_tf(text) as m")
        .selectExpr("doc_id", "source", "n_chars_raw",
          "aggregate(map_values(m), cast(0 as bigint), (acc, x) -> acc + x) as n_tokens",
          "cast(size(m) as bigint) as n_distinct")
    }

  /** The x03 quality algebra over [[docStats]]' integers — one shared
    * definition so every consumer divides the same operands: dr and ls
    * here are bit-identical to Frag.sDistinctRatio/sLengthScore over
    * the token array (same integer counts, same single divisions). */
  private[llm] val sStatsDr =
    "case when n_tokens = 0 then cast(0 as double) " +
      "else cast(n_distinct as double) / cast(n_tokens as double) end"
  private[llm] val sStatsLs =
    "least(cast(1 as double), cast(n_tokens as double) / cast(50 as double))"

  /** Per-source document counts — the mixture-planning base x31 and x41
    * both start from (shared tier: one cached copy, no plan-identical
    * re-persist). */
  private def sourceCounts(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "source_counts") {
      docs(s, dir).groupBy("source").agg(count(lit(1)).as("n_avail"))
    }

  /** Non-overlapping 16-token passage instances — (doc_id, pidx,
    * 60-bit content hash, token count) — the shared base of the
    * passage-dedup family (x39 ratios, x60 scrub, x66 span merge).
    * One tokenize + explode + hash for the whole family; only fixed-
    * width tuples ever leave it, never passage text. */
  private def passageFrame(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "passages") {
      docs(s, dir)
        .selectExpr("doc_id", s"$sTokens as tk")
        .selectExpr("doc_id", "size(tk) as n",
          "posexplode(transform(sequence(0, cast(ceil(size(tk) / 16.0) as int) - 1), i -> concat_ws(' ', slice(tk, i * 16 + 1, 16)))) as (pidx, passage)")
        .selectExpr("doc_id", "pidx", s"${sH("passage")} as ph",
          "cast(least(16, n - pidx * 16) as bigint) as ptok")
    }

  /** Corpus bigram stream (doc_id, prev, cur) — the base of the bigram
    * LM family (x43 MLE, x65 Jelinek-Mercer). Tokens cannot contain
    * whitespace (split on \s+), so the pair string splits back
    * losslessly. Shared tier: one cached copy serves both scorers. */
  private def bigramStream(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "bigram_stream") {
      docs(s, dir)
        .selectExpr("doc_id",
          sLet(s"filter($sTokens, x -> x != '')", "tk",
            """case when size(tk) >= 2
              |  then transform(sequence(1, size(tk)-1),
              |    i -> concat(element_at(tk,i), ' ', element_at(tk,i+1)))
              |  else cast(array() as array<string>) end""".stripMargin) + " as gs")
        .selectExpr("doc_id", "explode(gs) as g")
        .selectExpr("doc_id", "split_part(g, ' ', 1) as prev",
          "split_part(g, ' ', 2) as cur")
    }

  /** The x65 Jelinek-Mercer oracle chain factored to a `jm` CTE
    * (doc_id, n_bigrams, mean_nll_jm) — shared verbatim by the x65 and
    * x130 oracles, mirroring the Scala side's jmPerDoc. */
  private def dJmChain: String =
    s"""WITH tkn AS (SELECT doc_id, list_filter($dTokens, x -> x <> '') AS tk FROM documents),
       |g AS (SELECT doc_id,
       |        CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
       |          i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS gs
       |      FROM tkn),
       |bg AS (SELECT doc_id, split_part(g2, ' ', 1) AS prev, split_part(g2, ' ', 2) AS cur
       |       FROM (SELECT doc_id, unnest(gs) AS g2 FROM g)),
       |cbg AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY prev, cur),
       |cu AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS cu FROM bg GROUP BY prev),
       |toks AS (SELECT unnest(tk) AS tok FROM tkn),
       |ctok AS (SELECT tok AS cur, CAST(COUNT(*) AS BIGINT) AS ctk FROM toks GROUP BY tok),
       |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_corpus FROM toks),
       |sc AS (SELECT doc_id,
       |         -ln(0.5 * (CAST(cbg AS DOUBLE) / CAST(cu AS DOUBLE))
       |           + 0.5 * (CAST(ctk AS DOUBLE) / CAST(n_corpus AS DOUBLE))) AS nll
       |       FROM bg JOIN cbg USING (prev, cur) JOIN cu USING (prev)
       |            JOIN ctok USING (cur), tot),
       |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
       |         CAST(SUM(CAST(nll AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m0
       |       FROM sc GROUP BY doc_id),
       |jm AS (SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
       |         ${dRound6("COALESCE(m0, 0.0)")} AS mean_nll_jm
       |       FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id)""".stripMargin

  /** Per-doc Jelinek-Mercer bigram LM score (doc_id, n_bigrams,
    * mean_nll_jm — 6-dp rounded): x65's body, factored so the x130
    * perplexity-bucket cut ranks the identical scores. SHARED tier:
    * the trained-LM score table is a warehouse-resident artifact (like
    * the probe tier x94 trains once for x95/x117/x125) — x65 and x130
    * read one copy instead of re-running the three LM aggregations. */
  private def jmPerDoc(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "jm_nll")(jmPerDocBuild(s, dir))

  private def jmPerDocBuild(s: SparkSession, dir: String): DataFrame = {
    val bg = bigramStream(s, dir)
    val cbg = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cbg"))
    val cu = bg.groupBy("prev").agg(count(lit(1)).as("cu"))
    val ctok = docTf(s, dir).groupBy("token").agg(sum(col("tf")).as("ctk"))
      .withColumnRenamed("token", "cur")
    val nTot = docTf(s, dir).agg(sum(col("tf")).as("n_corpus"))
    val scored = bg
      .join(cbg, Seq("prev", "cur"))
      .join(cu, Seq("prev"))
      .join(ctok, Seq("cur"))
      .crossJoin(broadcast(nTot))
      .withColumn("nll", expr(
        """-ln(0.5d * (cast(cbg as double) / cast(cu as double))
          |  + 0.5d * (cast(ctk as double) / cast(n_corpus as double)))""".stripMargin))
      .groupBy("doc_id")
      .agg(count(lit(1)).as("n_bigrams"),
        (sum(col("nll").cast(org.apache.spark.sql.types.DecimalType(24, 12)))
          .cast("double") / count(lit(1)).cast("double")).as("m0"))
    docs(s, dir).select("doc_id")
      .join(scored, Seq("doc_id"), "left")
      .selectExpr("doc_id",
        "coalesce(n_bigrams, cast(0 as bigint)) as n_bigrams",
        sRound6("coalesce(m0, 0.0d)") + " as mean_nll_jm")
  }

  /** Hashed 64-dim signed bag-of-words features — (doc_id, dim, x)
    * with x a nonzero signed integer count (x91's hashing trick:
    * dim = h(token) & 63, sign from an independent salted hash).
    * Shared tier: the x91 vector report and the x94 trained probe both
    * read it; NO corpus-wide fit step, so the frame is a narrow map +
    * one (doc,dim) combine regardless of corpus size. */
  private def hashedFeats(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "feat_hash64") {
      docTf(s, dir)
        .selectExpr("doc_id", s"(${sH("token")} & 63L) as dim",
          s"case when (${sH("concat('fs_', token)")} & 1L) = 1L then tf else -tf end as sw")
        .groupBy("doc_id", "dim").agg(sum("sw").as("x"))
        .filter("x != 0")
    }

  /** Hashed 256-dim signed bag-of-BIGRAMS features for the x94 probe —
    * same hashing trick as [[hashedFeats]] but over adjacent token
    * pairs (fastText's word-ngram features) and a 4× wider table:
    * word-order signal survives where unigram counts don't (see x94's
    * scaladoc for the measured separability gap). Rides the shared
    * bigram stream (x43/x65/x76/x92's base); one (doc,bigram) count +
    * one (doc,dim) combine — same two-aggregation shape as x91's. */
  private def probeFeats(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "probe_feat_hash256") {
      bigramStream(s, dir)
        .selectExpr("doc_id", "concat(prev, ' ', cur) as bg")
        .groupBy("doc_id", "bg").agg(count(lit(1)).as("tf"))
        .selectExpr("doc_id", s"(${sH("bg")} & 255L) as dim",
          s"case when (${sH("concat('fs_', bg)")} & 1L) = 1L then tf else -tf end as sw")
        .groupBy("doc_id", "dim").agg(sum("sw").as("x"))
        .filter("x != 0")
    }

  private val langs = Seq(
    "en" -> Seq("the", "a", "and", "of", "to"),
    "fr" -> Seq("le", "la", "les", "et", "une"),
    "es" -> Seq("el", "los", "que", "y", "una"),
    "de" -> Seq("der", "die", "und", "das", "ist"),
    "zh" -> Seq("的", "是", "了", "在", "我"),
  )

  private def inList(ws: Seq[String]) = ws.map(w => s"'$w'").mkString(", ")

  /** score_<lang> columns: occurrences of that language's marker tokens. */
  private def sScores = langs.map { case (l, ws) =>
    s"cast(size(filter(tk, x -> x in (${inList(ws)}))) as bigint) as score_$l"
  }
  private def dScores = langs.map { case (l, ws) =>
    s"len(list_filter(tk, x -> x in (${inList(ws)}))) as score_$l"
  }

  /** x50's Gopher signal frame — doc_id, n_tokens, mean_word_len,
    * top_token_frac, stop_hits, pass — factored out so the curation
    * funnel (x58, llm.Dedup) applies the identical gate. One keyed
    * aggregation over the shared tf frame; token-less documents are
    * absent (they fail the gate by construction — callers left-join). */
  private[llm] def gopherGate(s: SparkSession, dir: String): DataFrame = {
    val stop = inList(Seq("the", "a", "and", "of", "to",
      "le", "la", "el", "der", "die"))
    docTf(s, dir).groupBy("doc_id")
      .agg(sum(col("tf")).as("nt"),
        max(col("tf")).as("max_tf"),
        sum(expr("length(token) * tf")).as("n_tok_chars"),
        sum(expr(s"case when token in ($stop) then tf else 0 end")).as("sh"))
      .selectExpr("doc_id",
        "cast(nt as bigint) as n_tokens",
        sRound6("cast(n_tok_chars as double) / cast(nt as double)") + " as mean_word_len",
        sRound6("cast(max_tf as double) / cast(nt as double)") + " as top_token_frac",
        "cast(sh as bigint) as stop_hits")
      .selectExpr("doc_id", "n_tokens", "mean_word_len", "top_token_frac",
        "stop_hits",
        """(n_tokens between 20 and 100000)
          | and (mean_word_len between 2.0d and 10.0d)
          | and (top_token_frac <= 0.2d)
          | and (stop_hits >= 2) as pass""".stripMargin)
  }

  /** argmax with fixed priority order (en > fr > es > de > zh) so ties
    * resolve identically everywhere. */
  private val predictCase: String = {
    val names = langs.map(_._1)
    val arms = names.init.zipWithIndex.map { case (l, i) =>
      val geAll = names.drop(i + 1).map(o => s"score_$l >= score_$o").mkString(" and ")
      s"when $geAll then '$l'"
    }
    s"case ${arms.mkString(" ")} else '${names.last}' end"
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // per-document token statistics
    "x01_token_stats" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"$sTokens as tk")
        .selectExpr(
          "doc_id",
          "cast(size(tk) as bigint) as n_tokens",
          "cast(size(array_distinct(tk)) as bigint) as n_distinct",
          "cast(length(concat_ws('', tk)) as bigint) as total_token_chars",
          "cast(length(concat_ws('', tk)) as double) / cast(size(tk) as double) as avg_token_len")
        .orderBy("doc_id")
    },
    // n-gram/stopword language ID with accuracy flag against the label
    "x02_language_id" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "lang", s"$sTokens as tk")
        .selectExpr(Seq("doc_id", "lang") ++ sScores: _*)
        .selectExpr("*", s"$predictCase as predicted")
        .selectExpr("doc_id", "lang", "score_en", "score_fr", "score_es",
          "score_de", "score_zh", "predicted",
          "predicted = lang as is_match")
        .orderBy("doc_id")
    },
    // quality scoring: length/diversity ratios → filterable score
    // (reads the doc_stats tier — same integer counts, same divisions,
    // bit-identical doubles; the corpus text is never re-tokenized)
    "x03_quality_score" -> { (s, dir) =>
      docStats(s, dir)
        .selectExpr("doc_id", "n_chars_raw", "n_tokens",
          s"$sStatsDr as distinct_ratio",
          s"$sStatsLs as length_score")
        .selectExpr("doc_id", "n_chars_raw", "n_tokens",
          sRound6("distinct_ratio") + " as distinct_ratio",
          sRound6("length_score") + " as length_score",
          sRound6("distinct_ratio * length_score") + " as quality",
          sRound6("distinct_ratio * length_score") + " >= 0.2 as is_quality")
        .orderBy("doc_id")
    },
    // CHARACTER-CLASS PROFILE — the script/garbage detector that runs
    // before tokenization even makes sense (OCR noise, binary spill,
    // wrong-script contamination): per-doc fractions of alphabetic /
    // digit / space / other characters over the lowercased text, and
    // the alpha-floor pass flag (encoding damage shows up as an
    // "other" spike long before any token statistic moves). Pure
    // per-row character census (the fused charclass_counts, one pass;
    // CosineF32Spec pins it to the 4-regex-pass chain) — codegen'd
    // map, zero shuffle, linear in input splits. Integer counts into
    // divisions ⇒ exact.
    "x72_script_profile" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "charclass_counts(lower(text)) as c")
        .selectExpr("doc_id", "c.n_chars as n_chars", "c.n_alpha as n_alpha",
          "c.n_digit as n_digit", "c.n_space as n_space")
        .selectExpr("doc_id", "n_chars", "n_alpha", "n_digit", "n_space",
          "n_chars - n_alpha - n_digit - n_space as n_other",
          sRound6("cast(n_alpha as double) / cast(n_chars as double)") + " as alpha_frac",
          sRound6("cast(n_chars - n_alpha - n_digit - n_space as double) / cast(n_chars as double)") + " as other_frac",
          sRound6("cast(n_alpha as double) / cast(n_chars as double)") + " >= 0.6 as is_clean")
        .orderBy("doc_id")
    },
    // GOPHER-STYLE RULE FILTER (Rae et al. 2021, §A1.1 — the composite
    // hand-tuned gate production corpora run before any model-based
    // scoring): token-count bounds, mean-word-length bounds, a
    // most-frequent-token cap (degenerate-repetition guard), and a
    // stopword-presence floor. All four signals reduce over the shared
    // per-(doc,token) tf frame — one keyed aggregation, no second
    // tokenize pass, integer facts into two exact divisions. The pass
    // flag compares the 6-dp-rounded ratios, so the boolean is as
    // engine-exact as the numbers it reads.
    "x50_gopher_rules" -> { (s, dir) =>
      gopherGate(s, dir).orderBy("doc_id")
    },
    // heavy hitters via the SpaceSaving sketch (plans.SpaceSavingTopK):
    // bounded per-partition state instead of shuffling every distinct
    // key; capacity 64 > the corpus vocabulary, so counts are exact and
    // the oracle checks them.
    "x16_topk_tokens" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("explode(split(trim(lower(text)), '\\\\s+')) as token")
        .selectExpr("topk_freq(token, 10, 64) as tops")
        .selectExpr("posexplode(tops) as (rank, t)")
        .selectExpr("cast(rank as bigint) as rank", "t.item as token",
          "t.cnt as n")
        .orderBy("rank")
    },
    // deterministic train/val/test split: hash the stable doc_id (never
    // random() — reproducible across runs, machines, and engines) into
    // 80/10/10; per-split-per-lang counts verify the assignment
    "x19_train_test_split" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", "lang",
          s"${sSplitBucket("doc_id")} as bucket")
        .selectExpr("doc_id", "lang",
          "case when bucket < 80 then 'train' when bucket < 90 then 'val' else 'test' end as split")
        .groupBy("split", "lang")
        .agg(count(lit(1)).as("n"), min(col("doc_id")).as("min_id"))
        .orderBy("split", "lang")
    },
    // per-class downsampling: cap each lang at 50 docs, keeping the
    // hash-order prefix (deterministic, no global sort — the window
    // ranks within each class partition only)
    "x20_class_downsample" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("lang")
        .orderBy(col("h"), col("doc_id"))
      docs(s, dir)
        .selectExpr("doc_id", "lang", s"${sH("concat('ds:', doc_id)")} as h")
        .withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 50)
        .select(col("doc_id"), col("lang"), col("rk").cast("long").as("rk"))
        .orderBy("lang", "rk")
    },
    // PII scan + redaction (the compliance pass every training-data
    // pipeline runs): the corpus is synthetic, so emails/phones are
    // injected deterministically from existing fields, then detected
    // and masked — the oracle verifies detection counts and the exact
    // redacted text. Narrow per-row regex map, no shuffle.
    "x22_pii_redaction" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id",
          "concat(substring(text, 1, 40), ' contact ', source, '@example.com or +1-555-', lpad(cast(doc_id % 10000 as string), 4, '0')) as text2")
        .selectExpr("doc_id",
          "cast(size(regexp_extract_all(text2, '[a-z0-9._%+-]+@[a-z0-9.-]+', 0)) as bigint) as n_emails",
          "cast(size(regexp_extract_all(text2, '\\\\+1-[0-9]{3}-[0-9]{4}', 0)) as bigint) as n_phones",
          "regexp_replace(regexp_replace(text2, '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>'), '\\\\+1-[0-9]{3}-[0-9]{4}', '<PHONE>') as redacted")
        .orderBy("doc_id")
    },
    // document fingerprints: content hash of normalized text
    "x04_fingerprint" -> { (s, dir) =>
      // the durable doc_fp tier IS this query's output (ingest-time
      // fingerprint state — see Dedup.docFp); ordering is the query's
      Dedup.docFp(s, dir)
        .select("doc_id", "fp", "fp64")
        .orderBy("doc_id")
    },
    // DOMAIN MIXING (the data-mixology step): given target mixture
    // weights over sources (uniform here — embedded identically in both
    // engines), compute each source's sampling rate so the mixed corpus
    // hits the target at the size set by its binding constraint
    // (min over sources of available/target — no source oversampled
    // past 1.0). One tiny aggregation + broadcast arithmetic; the
    // per-document sampling itself would reuse x19's stable hash.
    "x31_domain_mixing" -> { (s, dir) =>
      // the binding-constraint min is a 1-row aggregate broadcast back
      // over the source-count-sized frame (a constant-key window would
      // be folded to a global WindowExec — same answer, noisy plan)
      val counts = sourceCounts(s, dir)
      val total = counts.agg(count(lit(1)).as("n_sources"))
      val enriched = counts.crossJoin(broadcast(total))
        .withColumn("target_w", expr("cast(1 as double) / cast(n_sources as double)"))
        .withColumn("mix_total_if_binding", expr("cast(n_avail as double) / target_w"))
      val mt = enriched.agg(min(col("mix_total_if_binding")).as("mix_total"))
      enriched.crossJoin(broadcast(mt))
        .selectExpr("source", "n_avail", sRound6("target_w") + " as target_w",
          sRound6("target_w * mix_total / cast(n_avail as double)") + " as sample_rate",
          "cast(floor(target_w * mix_total) as bigint) as n_sampled")
        .orderBy("source")
    },
    // TEMPERATURE-SCALED MIXING — the multilingual/multi-source
    // rebalancing rule (α-smoothed sampling, as in multilingual BERT /
    // XLM: p_s ∝ n_s^α with α = 0.5): small sources get boosted above
    // their natural share, large ones damped, without the hard
    // uniform-target cliff of x31. Reports each source's natural token
    // share, its temperature weight, and the boost factor. One keyed
    // aggregation to source granularity; the α-power normalizer is a
    // one-row broadcast. Exactness: sqrt is correctly rounded in IEEE
    // 754 (identical on both engines), and the normalizing sum runs
    // over decimal-cast terms, so it is order-free.
    "x68_temperature_mix" -> { (s, dir) =>
      val base = docs(s, dir)
        .selectExpr("source", s"size($sTokens) as nt")
        .groupBy("source")
        .agg(count(lit(1)).as("n_docs"), sum(col("nt")).as("n_tokens"))
        .selectExpr("source", "n_docs", "cast(n_tokens as bigint) as n_tokens")
      val tot = base.agg(
        sum(col("n_tokens")).as("tot_tokens"),
        sum(expr("cast(sqrt(cast(n_tokens as double)) as decimal(24,12))"))
          .cast("double").as("ssum"))
      base.crossJoin(broadcast(tot))
        .selectExpr("source", "n_docs", "n_tokens",
          sRound6("cast(n_tokens as double) / cast(tot_tokens as double)") + " as natural_frac",
          sRound6("sqrt(cast(n_tokens as double)) / ssum") + " as temp_w",
          sRound6("(sqrt(cast(n_tokens as double)) / ssum) / (cast(n_tokens as double) / cast(tot_tokens as double))") + " as boost")
        .orderBy("source")
    },
    // LM-QUALITY PROXY (CCNet-style perplexity filtering, with a
    // corpus unigram model standing in for the external KenLM): each
    // doc scores mean -ln p(token) under corpus unigram frequencies —
    // high "surprise" flags gibberish, low flags boilerplate. The
    // unigram table is corpus-derived (one aggregation) and broadcast
    // back against the token stream; at 100 TB the table is
    // vocabulary-sized, exactly the thing you broadcast. Integer
    // counts into ln ⇒ bit-identical across engines (proven by x23).
    "x30_unigram_logprob" -> { (s, dir) =>
      // scores per DISTINCT (doc, token) — the shared tf frame x23
      // also reads — not per occurrence: a token appearing tf times
      // contributes tf × decimal(nll), which is bit-equal to the
      // oracle's occurrence-wise decimal sum (integer multiples of an
      // exact decimal), at a fraction of the join/agg input size. The
      // vocabulary-sized unigram table broadcasts; the corpus never
      // shuffles on `token`.
      val tf = docTf(s, dir)
      val uni = tf.groupBy("token").agg(sum(col("tf")).as("ctf"))
      val total = tf.agg(sum(col("tf")).as("n_total"))
      tf.join(broadcast(uni), "token").crossJoin(broadcast(total))
        .withColumn("nll",
          expr("-ln(cast(ctf as double) / cast(n_total as double))"))
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("n_tok"),
          // decimal(10,0) × decimal(14,12) → decimal(25,12): exact
          // (38-precision cap never hit, so no scale truncation);
          // round12(nll) < 100 always fits 2 integer digits
          (sum(col("tf").cast(org.apache.spark.sql.types.DecimalType(10, 0)) *
              col("nll").cast(org.apache.spark.sql.types.DecimalType(14, 12)))
            .cast("double") / sum(col("tf")).cast("double")).as("mean_nll0"))
        .selectExpr("doc_id", "n_tok", sRound6("mean_nll0") + " as mean_nll")
        .orderBy("doc_id")
    },
    // BPE-ISH TOKEN COUNTING: the whitespace count (x01) undercounts
    // what a subword tokenizer sees; this splits on the GPT-2-style
    // class boundaries instead — alpha runs, digit runs, and single
    // non-alnum marks — giving the standard pre-tokenization count.
    // Pure per-row regex map, no shuffle.
    "x28_bpe_token_count" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id",
          "cast(size(regexp_extract_all(lower(text), '[a-z]+', 0)) as bigint) as n_alpha",
          "cast(size(regexp_extract_all(lower(text), '[0-9]+', 0)) as bigint) as n_digit",
          "cast(size(regexp_extract_all(lower(text), '[^a-z0-9\\\\s]', 0)) as bigint) as n_mark",
          s"cast(size(filter($sTokens, x -> x != '')) as bigint) as n_ws")
        .selectExpr("doc_id", "n_alpha", "n_digit", "n_mark",
          "n_alpha + n_digit + n_mark as n_bpeish", "n_ws",
          sRound6("case when n_ws > 0 then cast(n_alpha + n_digit + n_mark as double) / cast(n_ws as double) else 0.0d end") + " as expansion")
        .orderBy("doc_id")
    },
    // REPETITION SCORE (Gopher-rules-style quality signal): fraction of
    // duplicated 2-grams and the top 2-gram's share, per document —
    // high values flag boilerplate/spam for filtering. One explode +
    // two stacked aggregations (map-side partial both times), then a
    // join back so zero-gram docs (< 2 tokens) surface with 0.0.
    "x26_repetition_score" -> { (s, dir) =>
      val g2 = "transform(sequence(1, size(tk)-1), i -> concat(element_at(tk,i), ' ', element_at(tk,i+1)))"
      val grams = docs(s, dir)
        .selectExpr("doc_id",
          s"${sLet(sTokens, "tk", s"case when size(tk) >= 2 then $g2 else cast(array() as array<string>) end")} as gs")
      val stats = grams
        .selectExpr("doc_id", "explode(gs) as g")
        .groupBy("doc_id", "g").agg(count(lit(1)).as("c"))
        .groupBy("doc_id")
        .agg(sum(col("c")).as("n2"), count(lit(1)).as("d2"), max(col("c")).as("m2"))
      grams.select("doc_id").join(stats, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "coalesce(n2, cast(0 as bigint)) as n2",
          sRound6("case when n2 > 0 then cast(n2 - d2 as double) / cast(n2 as double) else 0.0d end") + " as dup_ratio",
          sRound6("case when n2 > 0 then cast(m2 as double) / cast(n2 as double) else 0.0d end") + " as top_ratio")
        .orderBy("doc_id")
    },
    // SEQUENCE PACKING (the pretraining batch-assembly op): concatenate
    // the token stream in doc_id order and chop into fixed 256-token
    // sequences; a doc belongs to the sequence where its first token
    // lands. Packed per language partition — the realistic sharding —
    // so the cumulative-sum window is partitioned, not global, and the
    // op stays distributed at corpus scale. One shuffle on lang.
    "x25_sequence_packing" -> { (s, dir) =>
      val run = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      docs(s, dir)
        .selectExpr("doc_id", "lang", s"cast(size($sTokens) as bigint) as n_tok")
        .withColumn("start", sum(col("n_tok")).over(run) - col("n_tok"))
        .withColumn("seq_id", expr("start div 256"))
        .groupBy("lang", "seq_id")
        .agg(count(lit(1)).as("n_docs"), sum(col("n_tok")).as("total_tokens"),
          min(col("doc_id")).as("first_doc"), max(col("doc_id")).as("last_doc"))
        .orderBy("lang", "seq_id")
    },

    // PACKING-EFFICIENCY SWEEP (the max_seq_len knob study run before
    // committing a corpus to x25's packing: under concat-and-chop,
    // longer contexts waste almost nothing in tail padding but split
    // more documents across sequence boundaries — the cross-document
    // attention-contamination the packing trades against). Per context
    // length L ∈ {256, 512, 1024}: sequences produced, documents
    // straddling a boundary, the token mass inside straddling docs,
    // and the tail-padding fraction (only each language shard's last
    // sequence pads). ONE lang-partitioned cumulative-sum pass (x25's
    // window) feeds all three lengths — the explode triples only the
    // narrow per-doc stats frame, never the text — then two keyed
    // aggregations over (L × lang) rows. Integer-exact throughout.
    "x113_packing_sweep" -> { (s, dir) =>
      val run = org.apache.spark.sql.expressions.Window
        .partitionBy("lang").orderBy("doc_id")
        .rowsBetween(org.apache.spark.sql.expressions.Window.unboundedPreceding,
          org.apache.spark.sql.expressions.Window.currentRow)
      val split = "n_tok > 0 and (start div context_len) != " +
        "((start + n_tok - 1) div context_len)"
      docs(s, dir)
        .selectExpr("doc_id", "lang", s"cast(size($sTokens) as bigint) as n_tok")
        .withColumn("start", sum(col("n_tok")).over(run) - col("n_tok"))
        .selectExpr("lang", "n_tok", "start",
          "explode(array(256L, 512L, 1024L)) as context_len")
        .groupBy("context_len", "lang")
        .agg(count(lit(1)).as("n_docs"), sum("n_tok").as("lang_tokens"),
          sum(expr(s"case when $split then 1 else 0 end")).as("n_split"),
          sum(expr(s"case when $split then n_tok else 0L end"))
            .as("split_tokens"))
        .withColumn("n_seqs",
          expr("(lang_tokens + context_len - 1) div context_len"))
        .groupBy("context_len")
        .agg(sum("n_seqs").as("n_seqs"), sum("n_docs").as("n_docs"),
          sum("n_split").as("n_docs_split"),
          sum("lang_tokens").as("total_tokens"),
          sum("split_tokens").as("split_tokens"),
          sum(expr("context_len * n_seqs")).as("capacity"))
        .selectExpr("context_len", "n_seqs", "n_docs", "n_docs_split",
          sRound6("case when capacity = 0 then cast(0.0 as double) " +
            "else cast(capacity - total_tokens as double) / " +
            "cast(capacity as double) end") + " as pad_frac",
          sRound6("case when total_tokens = 0 then cast(0.0 as double) " +
            "else cast(split_tokens as double) / " +
            "cast(total_tokens as double) end") + " as split_tok_frac")
        .orderBy("context_len")
    },
    // TF-IDF top terms per document: tf from one explode+groupBy, df
    // from a second aggregation over the SAME (doc,token) frame (no
    // re-tokenize), corpus size broadcast as a 1-row cross join. The
    // tfidf double is identical across engines because tf, df, N are
    // integers: both sides compute tf * ln(N/df) from the same exact
    // operands. Two shuffles total (doc-token counts, token df) + the
    // ranking window — at 100 TB the df frame is vocabulary-sized,
    // which is why it, not the corpus, feeds the join.
    "x23_tfidf_topterms" -> { (s, dir) =>
      val tf = docTf(s, dir)
      val df = tf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      // top-3 per doc via ONE aggregation (collect the per-doc term
      // structs, sort in-register, slice) — no ranking window, so the
      // whole tf frame is never globally sorted. struct(-tfidf, token)
      // ascending replays ORDER BY tfidf DESC, token (double negation
      // is an exact sign flip; x17 established the pattern).
      tf.join(broadcast(df), "token").crossJoin(broadcast(n))
        .withColumn("tfidf",
          expr("cast(tf as double) * ln(cast(n_docs as double) / cast(df as double))"))
        .groupBy("doc_id")
        .agg(expr("slice(sort_array(collect_list(struct(-tfidf as nt, token, tf, df))), 1, 3)").as("top"))
        .selectExpr("doc_id", "posexplode(top) as (i, t)")
        .selectExpr("doc_id", "cast(i + 1 as bigint) as rk", "t.token as token",
          "t.tf as tf", "t.df as df", sRound6("-t.nt") + " as tfidf_r")
        .orderBy("doc_id", "rk")
    },
    // DETERMINISTIC PER-STRATUM RESERVOIR (fixed-size eval-set carve-out:
    // exactly k docs per language, stable across runs/engines): order
    // each stratum by a salted hash of the stable doc_id — a uniform
    // pseudo-random permutation — and keep the top k. Runs on the native
    // two-phase TopKPerKey operator (map-side bounded heaps: the shuffle
    // moves ≤ k·strata·partitions rows, not the corpus — the same
    // operator r43 exercises, here on a second shape), window fallback
    // when the extension is absent.
    "x37_stratified_sample" -> { (s, dir) =>
      val d = docs(s, dir)
        .selectExpr("doc_id", "lang", s"${sH("concat('rs:', doc_id)")} as h")
      graft.plans.TopKPerKey.topKDesc(d, Seq("lang"), "h", Seq("doc_id"), 20)
        .orderBy("lang", "rk")
    },
    // APPLY THE MIXTURE (x31's rates made real): deterministic
    // hash-threshold sampling — keep a document iff its stable 60-bit
    // hash falls below rate × 2^60. No random(), no state: the same
    // document is kept on every run, every engine, every executor,
    // and the realized rate converges to the target by hash
    // uniformity. This is the production sampling mechanism (x19's
    // split and x20's cap use the same primitive); one aggregation +
    // broadcast arithmetic, then a per-row compare.
    "x41_apply_mixture" -> { (s, dir) =>
      // same broadcast-min shape as x31 (no constant-key window)
      val counts = sourceCounts(s, dir)
      val total = counts.agg(count(lit(1)).as("n_sources"))
      val enriched = counts.crossJoin(broadcast(total))
        .withColumn("target_w", expr("cast(1 as double) / cast(n_sources as double)"))
        .withColumn("mix_total_if_binding", expr("cast(n_avail as double) / target_w"))
      val mt = enriched.agg(min(col("mix_total_if_binding")).as("mix_total"))
      val rates = enriched.crossJoin(broadcast(mt))
        .selectExpr("source", "n_avail",
          sRound6("target_w * mix_total / cast(n_avail as double)") + " as rate")
      docs(s, dir)
        .selectExpr("doc_id", "source",
          s"cast(${sH("concat('mix:', doc_id)")} as double) as h")
        .join(broadcast(rates), "source")
        .groupBy("source")
        .agg(max(col("n_avail")).as("n_avail"), max(col("rate")).as("rate"),
          sum(expr("case when h < rate * 1152921504606846976.0d then 1 else 0 end")).as("nk"))
        .selectExpr("source", "n_avail", "rate",
          "cast(nk as bigint) as n_kept",
          sRound6("cast(nk as double) / cast(n_avail as double)") + " as realized_rate")
        .orderBy("source")
    },

    // ZIPF-LAW FIT — the corpus-statistics sanity check (token
    // frequencies should fall on a power law; a broken slope flags
    // synthetic/spammy data): least-squares fit of ln(freq) on
    // ln(rank) over the top-30 tokens, using the same decimal-exact
    // sufficient-statistics formulation as r51 (integer counts → ln is
    // bit-identical on both engines; decimal sums are order-free). The
    // ranking filter is the stock row_number idiom — the TopKRewrite
    // rule plans it as a native global top-k, no corpus-wide sort.
    "x40_zipf_fit" -> { (s, dir) =>
      val counts = docs(s, dir)
        .selectExpr(s"explode($sTokens) as token")
        .filter(col("token") =!= "")
        .groupBy("token").agg(count(lit(1)).as("n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n").desc, col("token"))
      val pts = counts.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 30)
        .selectExpr("ln(cast(rk as double)) as x", "ln(cast(n as double)) as y")
      pts.agg(count(lit(1)).cast("double").as("n"),
          sum(expr("cast(x as decimal(24,12))")).cast("double").as("sx"),
          sum(expr("cast(y as decimal(24,12))")).cast("double").as("sy"),
          sum(expr("cast(x * y as decimal(24,12))")).cast("double").as("sxy"),
          sum(expr("cast(x * x as decimal(24,12))")).cast("double").as("sxx"),
          sum(expr("cast(y * y as decimal(24,12))")).cast("double").as("syy"))
        .selectExpr("cast(n as bigint) as n_ranks",
          sRound6("(n * sxy - sx * sy) / (n * sxx - sx * sx)") + " as slope",
          sRound6("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n") + " as intercept",
          sRound6("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))") + " as corr_xy")
    },

    // HEAPS-LAW FIT — x40's companion corpus statistic: vocabulary
    // growth V(N) ≈ k·N^β against tokens seen, measured on a 10-point
    // prefix curve in stable doc_id order. β far from ~0.5 flags
    // template/synthetic text (β→0: a fixed vocabulary recycled; β→1:
    // gibberish never repeating). Prefix position comes from
    // ExactRank (range-repartition, no global window); first-seen
    // decile per token is one min over the shared tf frame; the
    // 10-point cumulative runs as an O(10) aggregate scan on ONE
    // collected row (the ExactRank offset idiom — no partitionless
    // window, no 10×10 join). Integer counts into ln ⇒ engine-exact;
    // the fit reuses x40's decimal-exact sufficient statistics.
    "x71_heaps_law" -> { (s, dir) =>
      val tf = docTf(s, dir)
      val ranked = graft.queries.ExactRank.withGlobalRank(
          docs(s, dir).select("doc_id"), Seq(col("doc_id")))
        .selectExpr("doc_id", "cast((rank - 1) * 10 div n_total + 1 as bigint) as d")
      val dtok = tf.groupBy("doc_id").agg(sum(col("tf")).as("nt"))
      val aPer = ranked.join(dtok, Seq("doc_id"), "left")
        .groupBy("d").agg(sum(expr("coalesce(nt, cast(0 as bigint))")).as("a"))
      val vPer = tf.join(ranked, "doc_id")
        .groupBy("token").agg(min(col("d")).as("fd"))
        .groupBy(col("fd").as("d")).agg(count(lit(1)).as("v"))
      val per = aPer.join(vPer, Seq("d"), "left")
        .selectExpr("d", "a", "coalesce(v, cast(0 as bigint)) as v")
      val curve = per
        .agg(sort_array(collect_list(struct(col("d"), col("a"), col("v")))).as("pc"))
        .selectExpr("""explode(aggregate(pc,
          |  named_struct('ca', cast(0 as bigint), 'cv', cast(0 as bigint),
          |    'out', cast(array() as array<struct<d:bigint,ca:bigint,cv:bigint>>)),
          |  (acc, p) -> named_struct('ca', acc.ca + p.a, 'cv', acc.cv + p.v,
          |    'out', array_append(acc.out,
          |      named_struct('d', p.d, 'ca', acc.ca + p.a, 'cv', acc.cv + p.v))),
          |  acc -> acc.out)) as pt""".stripMargin)
        .selectExpr("pt.ca as ca", "pt.cv as cv")
      curve
        .selectExpr("ln(cast(ca as double)) as x", "ln(cast(cv as double)) as y",
          "ca", "cv")
        .agg(count(lit(1)).cast("double").as("n"),
          sum(expr("cast(x as decimal(24,12))")).cast("double").as("sx"),
          sum(expr("cast(y as decimal(24,12))")).cast("double").as("sy"),
          sum(expr("cast(x * y as decimal(24,12))")).cast("double").as("sxy"),
          sum(expr("cast(x * x as decimal(24,12))")).cast("double").as("sxx"),
          sum(expr("cast(y * y as decimal(24,12))")).cast("double").as("syy"),
          max(col("ca")).as("tokens_total"), max(col("cv")).as("vocab_total"))
        .selectExpr("cast(n as bigint) as n_points",
          sRound6("(n * sxy - sx * sy) / (n * sxx - sx * sx)") + " as beta",
          sRound6("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n") + " as intercept",
          sRound6("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))") + " as corr_xy",
          "tokens_total", "vocab_total")
    },

    // PASSAGE-LEVEL EXACT DEDUP (the sub-document dedup CommonCrawl/
    // CCNet pipelines run on lines/paragraphs — here fixed 16-token
    // passages, since the corpus has no sentence punctuation): hash
    // every non-overlapping passage, count corpus-wide occurrences,
    // report each document's duplicated-passage ratio. The shuffle is
    // keyed on the 60-bit passage hash (uniform), the frequency table
    // is passage-vocabulary-sized, and only (doc, pidx, hash) triples
    // move — never the passage text. High ratios flag boilerplate
    // documents whose CONTENT is borrowed even when the whole doc
    // fingerprint (x04/x05) is unique.
    "x39_passage_dedup" -> { (s, dir) =>
      val passages = passageFrame(s, dir)
      val freq = passages.groupBy("ph").agg(count(lit(1)).as("pf"))
      passages.join(freq, "ph")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"),
          sum(expr("case when pf > 1 then 1 else 0 end")).as("nd"))
        .selectExpr("doc_id", "n_passages", "cast(nd as bigint) as n_dup",
          sRound6("cast(nd as double) / cast(n_passages as double)") + " as dup_ratio")
        .orderBy("doc_id")
    },
    // PASSAGE SCRUB (the cleaning step x39 only measures — CCNet-style
    // line dedup): a 16-token passage instance survives iff it is the
    // corpus-wide FIRST occurrence of its content (owner = min doc_id
    // per passage hash, then min position inside that doc), so repeated
    // boilerplate keeps exactly one copy. Per doc: passage/token counts
    // before and after, and the scrubbed-token fraction. Same shapes as
    // x39 (explode + two hash-keyed aggregations + join-back); only
    // (doc, idx, hash, len) tuples ever shuffle, never text.
    "x60_passage_scrub" -> { (s, dir) =>
      val p = passageFrame(s, dir)
      val firstDoc = p.groupBy("ph").agg(min(col("doc_id")).as("fd"))
      val firstIdx = p.groupBy("ph", "doc_id").agg(min(col("pidx")).as("fi"))
      p.join(firstDoc, "ph").join(firstIdx, Seq("ph", "doc_id"))
        .withColumn("kept",
          expr("case when doc_id = fd and pidx = fi then 1 else 0 end"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_passages"),
          sum(col("kept")).as("nk"),
          sum(col("ptok")).as("n_tokens"),
          sum(expr("kept * ptok")).as("kt"))
        .selectExpr("doc_id", "n_passages",
          "cast(nk as bigint) as n_kept",
          "cast(n_tokens as bigint) as n_tokens",
          "cast(kt as bigint) as kept_tokens",
          sRound6("cast(n_tokens - kt as double) / cast(n_tokens as double)") + " as scrub_frac")
        .orderBy("doc_id")
    },
    // DUPLICATED-SPAN MERGE — x39 counts duplicated passages; this
    // merges ADJACENT duplicated passages into maximal contiguous
    // spans per document (islands-and-gaps: pidx − dup-local
    // row_number is constant within a run), the shape substring-dedup
    // reports need: "this doc contains a 7-passage block seen
    // elsewhere" reads very differently from "7 scattered dup
    // passages". Span detection is a per-doc window over the
    // duplicated rows only (dup rows ≤ passages per doc — partition-
    // bounded); everything else is x39's shared shapes. Pure integer
    // counts ⇒ exact.
    "x66_dup_spans" -> { (s, dir) =>
      val p = passageFrame(s, dir)
      val freq = p.groupBy("ph").agg(count(lit(1)).as("pf"))
      val dups = p.join(freq, "ph").filter("pf > 1")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("doc_id").orderBy("pidx")
      val spans = dups
        .withColumn("grp", col("pidx") - row_number().over(w))
        .groupBy("doc_id", "grp")
        .agg(count(lit(1)).as("span_len"), min(col("pidx")).as("span_start"))
      val perDoc = spans.groupBy("doc_id")
        .agg(count(lit(1)).as("n_spans"),
          max(col("span_len")).as("max_span"),
          sum(col("span_len")).as("nd"))
      p.groupBy("doc_id").agg(count(lit(1)).as("n_passages"))
        .join(perDoc, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_passages",
          "coalesce(n_spans, cast(0 as bigint)) as n_spans",
          "cast(coalesce(max_span, cast(0 as bigint)) as bigint) as max_span",
          "cast(coalesce(nd, cast(0 as bigint)) as bigint) as n_dup_passages")
        .orderBy("doc_id")
    },
    // CORPUS NOVELTY SCORE — per-document fraction of its distinct
    // 3-gram shingles that the document INTRODUCES to the corpus
    // (first-seer = min doc_id per shingle; a stable tie-free owner).
    // The data-value signal dedup-aware curation ranks by: exact
    // duplicates score 0 (nothing new), boilerplate-heavy docs score
    // low, fresh content scores high. Round 15: both sides are now
    // cheap projections of standing state — n_novel(d) = |{sh :
    // first_doc(sh) = d}| is ONE aggregation of the durable shingle_df
    // tier (a doc owns exactly the shingles it first-saw), and
    // n_shingles(d) = size of the doc's distinct shingle array is
    // MAP-SIDE arithmetic on the corpus scan. The corpus-sized
    // (doc, shingle) join and the shingle-keyed min both retired with
    // the tier. Integer counts into one division ⇒ exact.
    "x57_novelty" -> { (s, dir) =>
      val novel = graft.llm.Dedup.shingleDf(s, dir)
        .groupBy(col("first_doc").as("doc_id"))
        .agg(count(lit(1)).as("n_novel"))
      docs(s, dir)
        .selectExpr("doc_id",
          s"cast(size($sShinglesText) as bigint) as n_shingles")
        .join(novel, Seq("doc_id"), "left")
        .selectExpr("doc_id", "n_shingles",
          "coalesce(n_novel, cast(0 as bigint)) as n_novel")
        .selectExpr("doc_id", "n_shingles", "n_novel",
          sRound6("case when n_shingles > 0 then cast(n_novel as double) / cast(n_shingles as double) else 0.0d end") + " as novelty")
        .orderBy("doc_id")
    },

    // DETERMINISTIC GLOBAL SHUFFLE + SHARDING — the final step of a
    // training-data pipeline: a reproducible corpus permutation (hash
    // order, never random()) cut into 16 balanced shards with stable
    // within-shard positions (NTILE residual arithmetic, same as r38:
    // the first n%16 shards hold ⌈n/16⌉ docs, the rest ⌊n/16⌋ — shard
    // sizes never differ by more than one, so no shard is a straggler).
    // The global rank comes from queries.ExactRank (range-repartition +
    // local row_number + broadcast offsets — no single-task global
    // sort), so the same permutation materializes on any cluster
    // topology; shard and position are then per-row arithmetic. This is
    // how you write shuffled training shards at 100 TB without ever
    // totally sorting on one machine.
    "x56_training_shards" -> { (s, dir) =>
      graft.queries.ExactRank.withGlobalRank(
          docs(s, dir).selectExpr("doc_id",
            s"${sH("concat('shuf:', doc_id)")} as h"),
          Seq(col("h"), col("doc_id")))
        .selectExpr("doc_id", "rank - 1 as rk", "n_total as n")
        .selectExpr("doc_id",
          """cast(case when rk < (n % 16) * (n div 16 + 1)
            |  then rk div (n div 16 + 1)
            |  else (n % 16) + (rk - (n % 16) * (n div 16 + 1)) div greatest(n div 16, 1)
            |end as bigint) as shard""".stripMargin,
          """cast(case when rk < (n % 16) * (n div 16 + 1)
            |  then rk % (n div 16 + 1)
            |  else (rk - (n % 16) * (n div 16 + 1)) % greatest(n div 16, 1)
            |end as bigint) as pos_in_shard""".stripMargin)
        .orderBy("doc_id")
    },

    // SOURCE DISTRIBUTION DRIFT — per-source KL divergence of the
    // unigram distribution against the whole corpus, the statistical
    // report behind mixture reweighting and contamination triage
    // (which ingestion sources are lexically "off"). The per-(source,
    // token) tf aggregates map-side and the corpus marginal derives
    // from it (no second corpus pass). Only the genuinely tiny frames
    // (per-source totals, the corpus total) get broadcast hints; the
    // corpus marginal is vocabulary-sized — it GROWS with corpus size,
    // so it joins on token as a plain shuffled hash join (AQE still
    // broadcasts it at small SF, without hard-wiring the assumption).
    // The KL terms sum as exact decimals per source —
    // order-free, so 1000 executors give the bit-identical divergence
    // the oracle computes serially. p and q are exact integer ratios
    // into ln ⇒ engine-identical terms (the x30/x47 contract).
    "x54_source_kl" -> { (s, dir) =>
      val tfSrc = graft.queries.Shared.temp(docs(s, dir)
        .selectExpr("source", s"explode($sTokens) as token")
        .filter(col("token") =!= "")
        .groupBy("source", "token").agg(count(lit(1)).as("tf")))
      val corpus = tfSrc.groupBy("token").agg(sum(col("tf")).as("ctf"))
      val nTot = tfSrc.agg(sum(col("tf")).as("n_corpus"))
      val nSrc = tfSrc.groupBy("source").agg(sum(col("tf")).as("n_src"),
        count(lit(1)).as("n_types"))
      tfSrc
        .join(corpus, "token")
        .join(broadcast(nSrc), "source")
        .crossJoin(broadcast(nTot))
        .withColumn("term", expr(
          """cast((cast(tf as double) / cast(n_src as double))
            |  * ln((cast(tf as double) / cast(n_src as double))
            |      / (cast(ctf as double) / cast(n_corpus as double)))
            |  as decimal(24,12))""".stripMargin))
        .groupBy("source")
        .agg(max(col("n_src")).as("n_tokens"), max(col("n_types")).as("n_types"),
          sum(col("term")).as("kl0"))
        .selectExpr("source", "n_tokens", "n_types",
          sRound6("cast(kl0 as double)") + " as kl_vs_corpus")
        .orderBy("source")
    },

    // WITHIN-DOC REPETITION (Gopher's duplicate-paragraph-fraction
    // signal, on 16-token passages — x39's corpus-wide passage dedup
    // restricted to one document): fraction of a doc's passages that
    // repeat inside the same doc. Needs NO shuffle at all — the
    // passage array never leaves its row (size vs array_distinct), so
    // the operator is a pure codegen'd map: the cheapest possible form,
    // where the cross-doc variant necessarily pays a corpus-keyed
    // aggregation. High values flag template spam/navigation boilerplate.
    "x53_within_doc_dup" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"$sTokens as tk")
        .selectExpr("doc_id",
          "transform(sequence(0, cast(ceil(size(tk) / 16.0) as int) - 1), i -> concat_ws(' ', slice(tk, i * 16 + 1, 16))) as parr")
        .selectExpr("doc_id",
          "cast(size(parr) as bigint) as n_passages",
          "cast(size(array_distinct(parr)) as bigint) as n_unique")
        .selectExpr("doc_id", "n_passages", "n_unique",
          "cast((n_passages - n_unique) * 16 as bigint) as est_dup_tokens",
          sRound6("cast(n_passages - n_unique as double) / cast(n_passages as double)") + " as self_rep_frac")
        .orderBy("doc_id")
    },
    // SLIDING-WINDOW CHUNKING (RAG/context-window prep): fixed 64-token
    // chunks at stride 48 (16-token overlap), last window clamped so
    // every token is covered exactly once past the overlap. Pure per-row
    // sequence+explode — codegen'd, zero shuffle, linear at corpus
    // scale; chunk count per doc is ceil(max(n-64,0)/48)+1.
    "x38_sliding_chunks" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("doc_id", s"$sTokens as tk")
        .selectExpr("doc_id", "tk", "size(tk) as n")
        .selectExpr("doc_id", "tk", "n",
          "explode(sequence(0, cast(ceil(greatest(n - 64, 0) / 48.0) as int))) as ci")
        .selectExpr("doc_id",
          "cast(ci as bigint) as chunk_idx",
          "cast(ci * 48 as bigint) as start_tok",
          "cast(least(64, n - ci * 48) as bigint) as n_tok",
          "element_at(tk, ci * 48 + 1) as first_tok",
          "element_at(tk, least(n, ci * 48 + 64)) as last_tok")
        .orderBy("doc_id", "chunk_idx")
    },

    // BIGRAM LM SCORING — the n-gram step up from x30's unigram model
    // (the KenLM-perplexity stand-in at bigram order): each doc scores
    // mean -ln p(cur|prev) under corpus bigram MLE frequencies,
    // p(cur|prev) = c(prev,cur) / c(prev,·) with both counts taken
    // over the corpus bigram stream. Both count tables are
    // vocabulary-bounded → broadcast; the corpus-sized bigram stream
    // never shuffles for the lookup (its only shuffles are the two
    // map-side-combined count aggregations and the per-doc mean).
    // Integer counts into ln ⇒ bit-identical across engines (x30).
    "x43_bigram_logprob" -> { (s, dir) =>
      val bg = bigramStream(s, dir)
      val cbg = bg.groupBy("prev", "cur").agg(count(lit(1)).as("cbg"))
      val cu = bg.groupBy("prev").agg(count(lit(1)).as("cu"))
      val scored = bg
        .join(broadcast(cbg), Seq("prev", "cur"))
        .join(broadcast(cu), Seq("prev"))
        .withColumn("nll", expr("-ln(cast(cbg as double) / cast(cu as double))"))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_bigrams"),
          (sum(col("nll").cast(org.apache.spark.sql.types.DecimalType(24, 12)))
            .cast("double") / count(lit(1)).cast("double")).as("m0"))
      docs(s, dir).select("doc_id")
        .join(scored, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "coalesce(n_bigrams, cast(0 as bigint)) as n_bigrams",
          sRound6("coalesce(m0, 0.0d)") + " as mean_nll")
        .orderBy("doc_id")
    },

    // INTERPOLATED BIGRAM LM (Jelinek-Mercer smoothing, λ=0.5 — the
    // standard fix for x43's MLE blowing up on held-out data: an unseen
    // bigram scores -ln(0) under MLE, while JM backs off to the unigram
    // marginal, p̂(cur|prev) = λ·c(prev,cur)/c(prev,·) + (1−λ)·c(cur)/N).
    // Same scale shape as x43 — the corpus bigram stream shuffles only
    // for its own count aggregations; the three count tables join back
    // WITHOUT broadcast hints (bigram/unigram type counts grow with the
    // corpus — the x54 rule: hint only genuinely bounded frames, let
    // AQE broadcast at small SF); only the one-row corpus total is
    // hinted. Exact integer ratios into identically-parenthesized
    // arithmetic before one ln ⇒ engine-identical terms, decimal-summed
    // means ⇒ order-free.
    "x65_interpolated_lm" -> { (s, dir) =>
      jmPerDoc(s, dir).orderBy("doc_id")
    },

    // DSIR IMPORTANCE WEIGHTS (Xie et al., NeurIPS 2023: Data Selection
    // via Importance Resampling): score every document by how much its
    // hashed-unigram features look like a target domain (lang='en'
    // here) versus the raw corpus — log w(doc) = Σ_tokens
    // ln(p_target(b)/p_raw(b)) over 64 hash buckets with add-one
    // smoothing. The bucket tables are 64 rows → broadcast; the token
    // stream never shuffles for the lookup. All-integer counts into
    // identically-parenthesized ratios ⇒ ln args are bit-equal.
    "x44_dsir_weights" -> { (s, dir) =>
      val toks = graft.queries.Shared.temp(docs(s, dir)
        .selectExpr("doc_id", "lang", s"explode(filter($sTokens, x -> x != '')) as token")
        .selectExpr("doc_id", "lang", s"${sH("token")} % 64 as b"))
      val cr = toks.groupBy("b").agg(count(lit(1)).as("cr"))
      val ct = toks.filter("lang = 'en'").groupBy("b").agg(count(lit(1)).as("ct"))
      val tot = toks.agg(count(lit(1)).as("nr"),
        sum(expr("case when lang = 'en' then 1 else 0 end")).as("nt"))
      val lr = cr.join(ct, Seq("b"), "left").crossJoin(broadcast(tot))
        .selectExpr("b",
          """ln((cast(coalesce(ct, cast(0 as bigint)) + 1 as double) / cast(nt + 64 as double))
            |  / (cast(cr + 1 as double) / cast(nr + 64 as double))) as lr""".stripMargin)
      val scored = toks.join(broadcast(lr), "b")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_tok"),
          sum(col("lr").cast(org.apache.spark.sql.types.DecimalType(24, 12)))
            .cast("double").as("lw"))
      docs(s, dir).select("doc_id", "lang")
        .join(scored, Seq("doc_id"), "left")
        .selectExpr("doc_id", "lang",
          "coalesce(n_tok, cast(0 as bigint)) as n_tok",
          sRound6("coalesce(lw, 0.0d)") + " as log_weight",
          "coalesce(lw, 0.0d) > 0.0d as target_like")
        .orderBy("doc_id")
    },

    // TOKEN DRIFT — distribution-shift triage between two corpus
    // snapshots (here: first vs second half in stable doc_id order,
    // standing in for consecutive crawls): per token, the Laplace-
    // smoothed log-odds ratio with Monroe et al.'s z normalization
    // (ln-odds / √(1/(c₁+1) + 1/(c₂+1))), top-20 movers by |z|. This
    // is what you read before retraining on a new crawl — a mover
    // list, not a single KL number (x54's role). Half assignment is
    // ExactRank (no global window); counts ride the shared tf frame;
    // the ranking filter is the row_number idiom TopKRewrite plans as
    // the native global top-k over the vocabulary-sized score frame.
    // Integer counts → ln/sqrt on identical expression text ⇒ exact.
    "x74_token_drift" -> { (s, dir) =>
      val ranked = graft.queries.ExactRank.withGlobalRank(
          docs(s, dir).select("doc_id"), Seq(col("doc_id")))
        .selectExpr("doc_id",
          "case when rank <= n_total div 2 then 0 else 1 end as h")
      val per = docTf(s, dir).join(ranked, "doc_id")
        .groupBy("token")
        .agg(sum(expr("case when h = 0 then tf else 0 end")).as("ca"),
          sum(expr("case when h = 1 then tf else 0 end")).as("cb"))
      val tot = per.agg(sum(col("ca")).as("na"), sum(col("cb")).as("nb"),
        count(lit(1)).as("v"))
      val lodds = "ln((cast(ca + 1 as double) / cast(na + v as double)) " +
        "/ (cast(cb + 1 as double) / cast(nb + v as double)))"
      val scored = per.crossJoin(broadcast(tot))
        .selectExpr("token", "cast(ca as bigint) as ca", "cast(cb as bigint) as cb",
          sRound6(lodds) + " as lor",
          sRound6(s"$lodds / sqrt(1.0d / cast(ca + 1 as double) + 1.0d / cast(cb + 1 as double))") + " as z")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("az").desc, col("token"))
      scored.withColumn("az", expr("abs(z)"))
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select("rk", "token", "ca", "cb", "lor", "z")
        .orderBy("rk")
    },

    // SOURCE CAP (domain capping): keep only the 10 highest-quality
    // documents per source — the C4/RefinedWeb guard against one
    // domain flooding the corpus, phrased as quality-ranked per-key
    // selection rather than random downsampling (x20's hash cap).
    // Rides the native TopKPerKey operator: quality (x03's score,
    // 6 dp) scales to an exact BIGINT micro-unit key, so map-side
    // bounded heaps ship ≤ k·sources·partitions rows to the exchange
    // instead of the corpus — the shape that survives a 10⁹-document
    // crawl with a heavy-tailed domain distribution. The only float
    // op is one division on identical operands. It runs before the
    // ranking so the top-k input is x75's own frame: x81 ranks the
    // same (doc_id, source, qm) frame by the same window and
    // ExactRank caches that ranking until dropTransient, and a cached
    // match would replace the top-k with a scan of the full ranking.
    "x75_source_cap" -> { (s, dir) =>
      val d = docStats(s, dir)
        .selectExpr("doc_id", "source",
          s"$sStatsDr as dr",
          s"$sStatsLs as ls")
        .selectExpr("doc_id", "source",
          // micro-units via DECIMAL(16,6) × 10⁶: exact on both engines
          // (double→bigint cast semantics differ: Spark truncates,
          // DuckDB rounds — so never cast a float product directly)
          "cast(cast(dr * ls as decimal(16,6)) * 1000000 as bigint) as qm")
        .withColumn("quality", expr("cast(qm as double) / 1000000.0d"))
      graft.plans.TopKPerKey.topKDesc(d, Seq("source"), "qm", Seq("doc_id"), 10)
        .select("source", "rk", "doc_id", "quality")
        .orderBy("source", "rk")
    },

    // CURRICULUM ORDER (the training-order planner): a deterministic
    // global ordering that round-robins sources while quality descends
    // — each source's best document before any source's second-best —
    // so early training never over-samples one domain (the mixing
    // complement of x75's cap). Per-source ranking is a partition-
    // bounded window; the GLOBAL interleave position is ExactRank over
    // (rk, source) — range-repartition + O(P) offsets, never a
    // partitionless window sorting the corpus through one task. Output
    // is the first 100 positions (the curriculum's head is what you
    // inspect; the full ordering exists without materializing).
    "x81_curriculum_order" -> { (s, dir) =>
      val d = docStats(s, dir)
        .selectExpr("doc_id", "source",
          s"$sStatsDr as dr",
          s"$sStatsLs as ls")
        .selectExpr("doc_id", "source",
          "cast(cast(dr * ls as decimal(16,6)) * 1000000 as bigint) as qm")
      val w = org.apache.spark.sql.expressions.Window
        .partitionBy("source").orderBy(col("qm").desc, col("doc_id"))
      val ranked = d.withColumn("rk", row_number().over(w).cast("long"))
      graft.queries.ExactRank.withGlobalRank(ranked,
          Seq(col("rk"), col("source")))
        .filter(col("rank") <= 100)
        .selectExpr("rank as pos", "doc_id", "source", "rk",
          "cast(qm as double) / 1000000.0d as quality")
        .orderBy("pos")
    },

    // BPE MERGE STATISTICS (the tokenizer-learning inner loop): the
    // corpus-wide top-20 adjacent character pairs, each weighted by
    // its word's total occurrence count — exactly the statistic a
    // Sennrich-style BPE learner maximizes per merge iteration. The
    // aggregation runs over the DISTINCT vocabulary (the shared tf
    // frame reduced once to word counts), not the token stream:
    // pair-candidate generation is O(vocab × word-length) however
    // large the corpus, with corpus size entering only through the
    // integer counts. Ranking is the row_number idiom TopKRewrite
    // plans as the native global top-k. Integer counts ⇒ exact.
    "x76_bpe_pairs" -> { (s, dir) =>
      val vocab = docTf(s, dir).groupBy("token")
        .agg(sum(col("tf")).as("cnt"))
      val pairs = vocab
        .filter(length(col("token")) >= 2)
        .selectExpr("cnt",
          "explode(transform(sequence(1, length(token) - 1), i -> substring(token, i, 2))) as pair")
        .groupBy("pair").agg(sum(col("cnt")).as("n_occ"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("n_occ").desc, col("pair"))
      pairs
        .withColumn("rk", row_number().over(w).cast("long"))
        .filter(col("rk") <= 20)
        .select("rk", "pair", "n_occ")
        .orderBy("rk")
    },
    // CHARACTER ENTROPY + TYPE-TOKEN RATIO — two classic corpus-quality
    // signals: low char-entropy flags repeated-symbol junk and binary
    // spillover, low TTR (distinct/total tokens) flags template spam.
    // Entropy sums per-(doc, char) terms; each p·ln p double is
    // computed from identical integer operands on both engines and
    // decimal-cast before the sum, so the aggregate is order-
    // independent and bit-exact (the Tables.dsum pattern). The TTR leg
    // reads the shared docTf frame — no second tokenize. Per-doc char
    // counts shuffle once on (doc_id, ch); everything else is map-side.
    "x47_entropy_ttr" -> { (s, dir) =>
      val ent = docs(s, dir)
        .filter("length(text) > 0")
        .selectExpr("doc_id", "text", "length(text) as n",
          "explode(sequence(1, length(text))) as i")
        .selectExpr("doc_id", "n", "substring(text, i, 1) as ch")
        .groupBy("doc_id", "ch")
        .agg(first(col("n")).as("n"), count(lit(1)).as("c"))
        .withColumn("term", expr(
          """cast(cast(c as double) / cast(n as double)
            |  * ln(cast(c as double) / cast(n as double)) as decimal(24,12))""".stripMargin))
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_char_types"), first(col("n")).as("n_chars"),
          sum(col("term")).as("se"))
      val tok = docTf(s, dir).groupBy("doc_id")
        .agg(count(lit(1)).as("n_types"), sum(col("tf")).as("n_tok"))
      docs(s, dir).select("doc_id")
        .join(ent, Seq("doc_id"), "left")
        .join(tok, Seq("doc_id"), "left")
        .selectExpr("doc_id",
          "coalesce(n_chars, cast(0 as bigint)) as n_chars",
          "coalesce(n_char_types, cast(0 as bigint)) as n_char_types",
          sRound6("coalesce(-cast(se as double), 0.0d)") + " as entropy",
          "coalesce(n_types, cast(0 as bigint)) as n_types",
          "coalesce(n_tok, cast(0 as bigint)) as n_tok",
          sRound6("case when coalesce(n_tok, cast(0 as bigint)) > 0 then cast(n_types as double) / cast(n_tok as double) else 0.0d end") + " as ttr")
        .orderBy("doc_id")
    },

    // ROBUST LENGTH OUTLIERS (median absolute deviation, the
    // heavy-tail-safe sibling of z-score filtering): per source, the
    // exact median doc length and the exact MAD — both via the
    // percentile_disc row-selection pattern (row ceil(n/2) of the
    // value-ordered partition, r42's convention) — then count docs
    // farther than 3 MADs out. Pure integer arithmetic end to end:
    // no float appears anywhere, so cross-engine parity is trivial.
    // Partitioned ranking windows scale with sources × group size.
    "x45_length_mad" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val d = Tables.t(s, dir, "documents").select("doc_id", "source", "n_chars")
      val base = graft.queries.Shared.temp(d
        .withColumn("rn", row_number().over(
          w.partitionBy("source").orderBy(col("n_chars"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w.partitionBy("source"))))
      val med = base.filter("cast(rn as bigint) = cast(ceil(0.5 * n) as bigint)")
        .select(col("source"), col("n_chars").as("med"))
      val ad = graft.queries.Shared.temp(base.join(broadcast(med), "source")
        .withColumn("ad", expr("abs(n_chars - med)"))
        .withColumn("rn2", row_number().over(
          w.partitionBy("source").orderBy(col("ad"), col("doc_id")))))
      val mad = ad.filter("cast(rn2 as bigint) = cast(ceil(0.5 * n) as bigint)")
        .select(col("source"), col("ad").as("mad"))
      ad.join(broadcast(mad), "source")
        .groupBy("source")
        .agg(max(col("med")).as("med"), max(col("mad")).as("mad"),
          Tables.cnt.as("n_docs"),
          sum(expr("case when ad > 3 * mad then 1 else 0 end")).as("n_outliers"))
        .selectExpr("source", "med", "mad", "n_docs",
          "cast(n_outliers as bigint) as n_outliers")
        .orderBy("source")
    },

    // PER-SOURCE ADAPTIVE QUALITY THRESHOLD (the curation move after
    // scoring: "keep the top 60% of each source by quality" — a fixed
    // global cutoff over-prunes clean sources and under-prunes noisy
    // ones). Per-doc quality is x03's score; the per-source cutoff is
    // the exact 40th-percentile score via the percentile_disc
    // row-selection pattern (row ⌈0.4·n⌉ of the value-ordered
    // partition — x45/r42's convention, doc_id tiebreak), broadcast
    // back, then one keyed aggregation reports threshold/kept counts.
    // Partitioned ranking windows scale with sources × group size; the
    // threshold frame is #sources rows — always broadcastable.
    "x59_source_quality_gate" -> { (s, dir) =>
      val w = org.apache.spark.sql.expressions.Window
      val q = graft.queries.Shared.temp(docStats(s, dir)
        .selectExpr("doc_id", "source",
          s"$sStatsDr as dr",
          s"$sStatsLs as ls")
        .selectExpr("doc_id", "source", sRound6("dr * ls") + " as quality"))
      val thr = q
        .withColumn("rn", row_number().over(
          w.partitionBy("source").orderBy(col("quality"), col("doc_id"))))
        .withColumn("n", count(lit(1)).over(w.partitionBy("source")))
        .filter("cast(rn as bigint) = cast(ceil(0.4 * n) as bigint)")
        .select(col("source"), col("quality").as("thr"))
      q.join(broadcast(thr), "source")
        .groupBy("source")
        .agg(max(col("thr")).as("q40_threshold"),
          Tables.cnt.as("n_docs"),
          sum(expr("case when quality >= thr then 1 else 0 end")).as("kept"))
        .selectExpr("source", "q40_threshold", "n_docs",
          "cast(kept as bigint) as n_kept",
          sRound6("cast(kept as double) / cast(n_docs as double)") + " as kept_frac")
        .orderBy("source")
    },

    // TOKEN-BUDGET SELECTION — "take the best documents until half the
    // corpus tokens are spent": rank by quality (x03's score, doc_id
    // tiebreak), walk the ordered token cumsum, keep while within
    // budget. The global ordered prefix sum is ExactRank.
    // withGlobalCumsum — range-repartition + partition-local running
    // sums + an O(P) broadcast offset scan, never a partitionless
    // window (a corpus-wide `SUM() OVER (ORDER BY …)` is the same
    // one-task cliff as global NTILE). The budget is integer token
    // arithmetic off the grand total the scan already produced ⇒ the
    // kept set is engine-exact.
    "x69_token_budget" -> { (s, dir) =>
      val q = docStats(s, dir)
        .selectExpr("doc_id", "n_tokens",
          s"$sStatsDr as dr",
          s"$sStatsLs as ls")
        .selectExpr("doc_id", "n_tokens", sRound6("dr * ls") + " as quality")
      graft.queries.ExactRank.withGlobalCumsum(q,
          Seq(col("quality").desc, col("doc_id")), col("n_tokens"))
        .filter("cum <= v_total div 2")
        .selectExpr("doc_id", "quality", "n_tokens", "rank as rk",
          "cum as cum_tokens")
        .orderBy("doc_id")
    },

    // TOKENIZER FERTILITY BY LANGUAGE — the tokenizer-evaluation table
    // (how many subword tokens a language pays per whitespace word /
    // per character) that decides whether a shared BPE vocabulary
    // taxes some languages with longer sequences: per lang, total
    // whitespace tokens, total BPE-ish pieces (x28's alpha/digit/mark
    // decomposition — the same proxy, so the two reports reconcile),
    // total characters, and the two ratios. Pure narrow map + one
    // 5-row aggregation of exact bigints; ratios are the only doubles
    // and they divide identical integers on both engines.
    "x83_token_fertility" -> { (s, dir) =>
      docs(s, dir)
        .selectExpr("lang",
          "cast(size(regexp_extract_all(lower(text), '[a-z]+', 0)) as bigint) + " +
            "cast(size(regexp_extract_all(lower(text), '[0-9]+', 0)) as bigint) + " +
            "cast(size(regexp_extract_all(lower(text), '[^a-z0-9\\\\s]', 0)) as bigint) as nb",
          s"cast(size(filter($sTokens, x -> x != '')) as bigint) as nw",
          "cast(length(text) as bigint) as nc")
        .groupBy("lang")
        .agg(count(lit(1)).as("n_docs"), sum(col("nw")).as("n_ws"),
          sum(col("nb")).as("n_bpeish"), sum(col("nc")).as("n_chars"))
        .selectExpr("lang", "cast(n_docs as bigint) as n_docs",
          "cast(n_ws as bigint) as n_ws_tokens",
          "cast(n_bpeish as bigint) as n_bpeish_tokens",
          "cast(n_chars as bigint) as n_chars",
          sRound6("case when n_ws > 0 then cast(n_bpeish as double) / cast(n_ws as double) else 0.0d end") + " as fertility",
          sRound6("case when n_ws > 0 then cast(n_chars as double) / cast(n_ws as double) else 0.0d end") + " as chars_per_token")
        .orderBy("lang")
    },

    // OOV-RATE BY SOURCE — vocabulary-coverage audit before committing
    // a tokenizer: fix the vocabulary to the corpus-wide top-K tokens
    // (K = 16 here ≈ half this synthetic corpus's vocabulary; 32k–100k
    // in production — K is the knob, the plan does not change), then
    // per source report the occurrence- and type-level out-of-vocab
    // rates. The token-count frame is vocabulary-sized, ranked by the
    // native global top-k (TopKRewrite's operator — no one-task global
    // window); the per-(source, token) aggregate is
    // sources×vocabulary-bounded, and the corpus-sized (doc, token)
    // stream is the shared cached tf frame, touched exactly once.
    "x85_oov_rate" -> { (s, dir) =>
      val counts = docTf(s, dir)
        .groupBy("token").agg(sum(col("tf")).as("n"))
      val vocab = graft.plans.TopKPerKey
        .topKDesc(counts, Seq.empty, "n", Seq("token"), 16)
        .select(col("token"), lit(1).as("in_v"))
      val st = docs(s, dir).select("doc_id", "source")
        .join(docTf(s, dir), "doc_id")
        .groupBy("source", "token").agg(sum(col("tf")).as("c"))
      st.join(broadcast(vocab), Seq("token"), "left")
        .groupBy("source")
        .agg(sum(col("c")).as("nt"),
          sum(expr("case when in_v is null then c else 0L end")).as("no"),
          count(lit(1)).as("ty"),
          sum(expr("case when in_v is null then 1L else 0L end")).as("tyo"))
        .selectExpr("source", "cast(nt as bigint) as n_tokens",
          "cast(no as bigint) as n_oov_tokens",
          sRound6("cast(no as double) / cast(nt as double)") + " as oov_rate",
          "cast(ty as bigint) as n_types",
          "cast(tyo as bigint) as n_oov_types",
          sRound6("cast(tyo as double) / cast(ty as double)") + " as type_oov_rate")
        .orderBy("source")
    },

    // RENDEZVOUS (HRW) RESHARDING — the elasticity audit for sharded
    // corpus storage: assign every document to one of 8 workers by
    // highest-random-weight hashing (argmax over md5(doc_id:worker)),
    // then remove worker 7 and measure what moves. HRW's defining
    // property — ONLY the lost worker's documents reassign, everyone
    // else's placement is stable (n_7 = n_8 + gained per survivor) —
    // is what makes incremental rebalancing affordable at 100 TB,
    // versus mod-N hashing where removing one worker moves (N−1)/N of
    // the corpus. The scoring is a pure narrow map (8 hashes per row,
    // no shuffle until the 8-row aggregate); md5 ties are impossible,
    // so the argmax is deterministic on both engines. The map runs the
    // fused codegen kernel (hrw_assign: running argmax in registers,
    // one md5 per worker); the composable HOF chain — same hashes, same
    // first-max-wins, Round20Spec's oracle — paid interpreted lambdas
    // plus three array re-traversals per row (measured 36.8× the job
    // floor at the 100× decade — the reason the kernel exists).
    "x86_rendezvous_shards" -> { (s, dir) =>
      Tables.t(s, dir, "documents")
        .selectExpr(
          "hrw_assign(cast(doc_id as string), 8) as a8",
          "hrw_assign(cast(doc_id as string), 7) as a7")
        // both per-worker tallies in ONE corpus pass: each row emits its
        // 8-worker and 7-worker assignment as two counted events (an
        // explode of a 2-struct array, not a self-union re-scanning the
        // corpus), and the map-side partial aggregation collapses
        // everything to ≤ 8 rows per task before the only exchange
        .selectExpr(
          """explode(array(
            |  struct(a8 as worker, 1L as c8, 0L as c7, 0L as cg),
            |  struct(a7 as worker, 0L as c8, 1L as c7,
            |    case when a8 = 7 then 1L else 0L end as cg))) as e""".stripMargin)
        .selectExpr("e.worker as worker", "e.c8 as c8", "e.c7 as c7", "e.cg as cg")
        .groupBy("worker")
        .agg(sum(col("c8")).as("n8"), sum(col("c7")).as("n7"),
          sum(col("cg")).as("ng"))
        .selectExpr("cast(worker as bigint) as worker",
          "cast(n8 as bigint) as n_assigned_8",
          "cast(n7 as bigint) as n_assigned_7",
          "cast(ng as bigint) as n_gained",
          sRound6("case when n7 > 0 then cast(ng as double) / cast(n7 as double) else 0.0d end") + " as gained_frac")
        .orderBy("worker")
    },

    // POPULATION STABILITY INDEX (the distribution-drift alarm run on
    // every incoming batch — x74/x80's length-distribution sibling,
    // scored with the standard industry metric): per source, PSI
    // between the even- and odd-doc_id halves (two deterministic
    // snapshots) over 10 fixed length bins, Laplace-smoothed over the
    // FULL bin grid so empty bins contribute their prior on both
    // engines. Corpus work is one narrow map + one sources×bins
    // aggregation; the PSI sum folds the 10 bin terms in bin order
    // (collect-sort-fold, the x80 discipline) so the float additions
    // run in one fixed sequence — never engine-partition order.
    "x89_source_psi" -> { (s, dir) =>
      val counts = docs(s, dir)
        .selectExpr("source", "doc_id % 2 as half",
          "least(n_chars div 60, 9L) as bin")
        .groupBy("source", "bin")
        .agg(sum(expr("case when half = 0 then 1L else 0L end")).as("ca"),
          sum(expr("case when half = 1 then 1L else 0L end")).as("cb"))
      val grid = counts.select("source").distinct()
        .selectExpr("source", "explode(sequence(0L, 9L)) as bin")
      grid.join(counts, Seq("source", "bin"), "left")
        .selectExpr("source", "bin",
          "coalesce(ca, 0L) as ca", "coalesce(cb, 0L) as cb")
        .withColumn("na", sum(col("ca")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")))
        .withColumn("nb", sum(col("cb")).over(
          org.apache.spark.sql.expressions.Window.partitionBy("source")))
        .selectExpr("source", "bin", "ca", "cb", "na", "nb",
          "(cast(ca as double) + 1.0d) / (cast(na as double) + 10.0d) as pa",
          "(cast(cb as double) + 1.0d) / (cast(nb as double) + 10.0d) as pb")
        .selectExpr("source", "bin", "na", "nb",
          "(pa - pb) * ln(pa / pb) as term")
        .groupBy("source")
        .agg(max(col("na")).as("na"), max(col("nb")).as("nb"),
          expr("aggregate(transform(sort_array(collect_list(struct(bin, term))), t -> t.term), cast(0 as double), (acc, x) -> acc + x)").as("psi0"))
        .selectExpr("source", "cast(na as bigint) as n_first",
          "cast(nb as bigint) as n_second",
          sRound6("psi0") + " as psi")
        .orderBy("source")
    },

    // BM25 RETRIEVAL SCORING (Robertson–Spärck Jones probabilistic
    // ranking, Lucene-form idf = ln(1 + (N−df+0.5)/(df+0.5)) so every
    // matched term contributes positively): top-20 documents for a
    // fixed query, k1=1.2 b=0.75 — the keyword-retrieval side of the
    // curation stack (x11's lexical sibling; how eval probes and
    // contamination audits find candidate documents without an
    // embedding index). Rides the shared tf frame: the corpus-sized
    // frame is filtered to the query's terms BEFORE any join, so the
    // scored frame is (matched docs × ≤5 terms); doc lengths are one
    // more aggregate off the same cached frame; df/N/avgdl are
    // constant-size broadcasts. Per-doc term sum is decimal-cast
    // (order-free); ranking orders the ROUNDED score (both engines
    // rank identical bits) and auto-plans as the native global top-k.
    "x90_bm25" -> { (s, dir) =>
      val qTerms = Seq("spark", "window", "merge", "vector", "hash")
      val inList = qTerms.map(t => s"'$t'").mkString(", ")
      val tf = docTf(s, dir)
      val dl = tf.groupBy("doc_id").agg(sum("tf").as("dl"))
      val ad = dl.agg(
        (sum(col("dl")).cast("double") / count(lit(1)).cast("double"))
          .as("avgdl"))
      val qtf = tf.filter(s"token in ($inList)")
      val df = qtf.groupBy("token").agg(count(lit(1)).as("df"))
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      val term = "ln(1.0d + (cast(n_docs as double) - cast(df as double) + 0.5d) / (cast(df as double) + 0.5d))" +
        " * (cast(tf as double) * 2.2d)" +
        " / (cast(tf as double) + 1.2d * (0.25d + 0.75d * cast(dl as double) / avgdl))"
      val scored = qtf
        .join(broadcast(df), "token")
        .join(dl, "doc_id")
        .crossJoin(broadcast(n)).crossJoin(broadcast(ad))
        .selectExpr("doc_id", s"cast($term as decimal(24,12)) as t")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("n_terms"),
          sum(col("t")).cast("double").as("score0"))
        .selectExpr("doc_id", "n_terms", sRound6("score0") + " as score_r")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("score_r").desc, col("doc_id"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .selectExpr("cast(rk as bigint) as rk", "doc_id", "n_terms", "score_r")
        .orderBy("rk")
    },

    // FEATURE HASHING (Weinberger et al. 2009 — the hashing trick): a
    // fixed 64-dim bag-of-words vector per document with no vocabulary
    // dictionary at all — dim = h(token) & 63, sign = parity of an
    // independent salted hash (the unbiased two-hash variant). This is
    // the featurizer that needs NO corpus-wide fit step, which is what
    // makes it the 100-TB default for quality classifiers (fastText-
    // style linear probes): every executor hashes its own rows, the
    // only shuffle is the per-(doc,dim) combine off the shared tf
    // frame. Weights stay INTEGERS (signed term counts) end to end, so
    // nnz/l2/checksum are exact in both engines — the one sqrt is over
    // an exact integer.
    "x91_feature_hash" -> { (s, dir) =>
      val perDoc = hashedFeats(s, dir).withColumnRenamed("x", "w")
        .groupBy("doc_id")
        .agg(count(lit(1)).as("nnz"), sum(expr("w * w")).as("ssq"),
          sum(expr("dim * w")).as("chk"))
      docs(s, dir).select("doc_id").join(perDoc, Seq("doc_id"), "left")
        .selectExpr("doc_id", "coalesce(nnz, 0L) as nnz",
          sRound6("sqrt(cast(coalesce(ssq, 0L) as double))") + " as l2_r",
          "coalesce(chk, 0L) as chk")
        .orderBy("doc_id")
    },

    // PMI COLLOCATION MINING (Church & Hanks 1990): top-20 adjacent
    // token pairs by pointwise mutual information ln(p(ab)/(p(a)p(b))),
    // min pair count 5 (PMI's low-count pathology gate) — the phrase
    // detector behind tokenizer/vocab curation (Mikolov-style phrase
    // merging decides from exactly this table). Rides the shared
    // bigram stream (x43/x65/x76's base) and the shared tf frame; the
    // unigram joins are UNHINTED on purpose (the x54 rule: distinct-
    // token tables grow with the corpus — let the planner shuffle on
    // the vocabulary key), the two grand totals are one-row broadcasts.
    // PMI is ranked on rounded bits, ties broken lexically; the rank
    // filter auto-plans as the native global top-k.
    "x92_pmi_collocations" -> { (s, dir) =>
      val bs = bigramStream(s, dir)
      val bg = bs.groupBy("prev", "cur").agg(count(lit(1)).as("c_ab"))
        .filter("c_ab >= 5")
      val uni = docTf(s, dir).groupBy("token").agg(sum("tf").as("c_u"))
      val uTot = uni.agg(sum("c_u").as("u_tot"))
      val bTot = bs.agg(count(lit(1)).as("b_tot"))
      val pmi = "ln((cast(c_ab as double) / cast(b_tot as double)) / " +
        "((cast(c_a as double) / cast(u_tot as double)) * (cast(c_b as double) / cast(u_tot as double))))"
      val scored = bg
        .join(uni.selectExpr("token as prev", "c_u as c_a"), "prev")
        .join(uni.selectExpr("token as cur", "c_u as c_b"), "cur")
        .crossJoin(broadcast(uTot)).crossJoin(broadcast(bTot))
        .selectExpr("prev", "cur", "c_ab", sRound6(pmi) + " as pmi_r")
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("pmi_r").desc, col("prev"), col("cur"))
      scored.withColumn("rk", row_number().over(w))
        .filter(col("rk") <= 20)
        .selectExpr("cast(rk as bigint) as rk", "prev", "cur", "c_ab", "pmi_r")
        .orderBy("rk")
    },

    // TRAINED LINEAR PROBE (fastText-style: Joulin et al. 2016 over
    // Weinberger-hashed word BIGRAMS): 3 full-batch gradient-descent
    // epochs of a linear classifier (256 hashed dims + bias, lr=1,
    // target lang=='en') run ENTIRELY in the engine — the quality/
    // language-probe training step a curation pipeline runs after
    // featurization, expressed as 3 rounds of join + aggregate.
    // Bigrams, not unigrams, and 256 dims, not 64: on a shared-
    // vocabulary corpus the languages differ in token ORDER, not token
    // choice — measured on the sf0.001 fixture, the best linear model
    // over signed-hash unigram features reaches 0.618 accuracy against
    // a 0.614 majority baseline (the hash collisions average opposing
    // classes away), while bigram features separate at 0.998; at 256
    // dims the fixture's 916 distinct bigrams keep enough collision-
    // free dims that 3 epochs reach 0.708 (trajectory .614→.674→.708,
    // monotone at lr=1 — fastText's word-ngram move for exactly this
    // failure mode).
    // Determinism contract: the squashing function is Elliott's
    // rational sigmoid 0.5·(1+z/(1+|z|)) — only +,−,×,÷,|·|, all IEEE
    // correctly rounded, so there is NO transcendental-library
    // variance between engines; weights are 6-dp decimals, the w·x
    // accumulation is decimal×integer (exact, order-free), and
    // per-example gradient terms are decimal(24,12)-cast before the
    // order-free decimal sum. Scale shape: each epoch is one broadcast
    // join (65-row weight frame) + one shuffle on 64 dim keys with
    // map-side partial aggregation — iteration cost is linear in the
    // corpus with constant epoch count, the same shape as x51's Lloyd
    // iterations.
    "x94_linear_probe" -> { (s, dir) =>
      trainedProbe(s, dir)
        .selectExpr("dim", "cast(w as double) as w_r").orderBy("dim")
    },

    // PROBE CALIBRATION (reliability diagram): bin the trained x94
    // probe's predicted probabilities into deciles and report, per
    // bin, the document count, mean prediction, and observed positive
    // rate — the table a curation team reads before trusting a
    // quality/language classifier's scores as sampling weights (a
    // probe can rank well and still be miscalibrated). This is also
    // the engine's batch-INFERENCE shape: scoring 10⁹ documents with
    // a trained linear model is one broadcast of the 257-row weight
    // frame + one map-side dot product + one 10-key aggregation — the
    // corpus never shuffles on anything wider than the bin id.
    // Exactness: z is the same decimal dot as training; p is IEEE
    // double (identical op sequence both engines); the bin id is
    // floor(p·10) on bit-identical doubles; per-bin means sum
    // decimal(24,12)-cast terms (order-free) before one rounded
    // division.
    // BPE MERGE LEARNING (Sennrich et al. 2016) — the tokenizer
    // TRAINING step, in-engine: learn the first 3 byte-pair merges
    // from the corpus. The 100 TB shape is the classic fast-BPE
    // factorization: the corpus is touched ONCE (the word-frequency
    // aggregation — same shared tf frame every text query rides);
    // every merge iteration then runs on the VOCAB-sized word table
    // (pair-count aggregate → argmax → re-segment), so iteration cost
    // is independent of corpus size — the same reason x51's Lloyd and
    // x94's epochs scale. Segmentations are marker-wrapped strings
    // (\x01sym\x02): a pair merge is ONE non-overlapping left-to-right
    // replace, which on this representation is exactly BPE's greedy
    // scan (no boundary-sharing artifacts — adjacent occurrences share
    // no characters), and replace semantics are identical in Spark and
    // DuckDB. Argmax tiebreak: (count desc, left, right) on binary
    // UTF-8 order, engine-identical. Counts are exact integers.
    "x97_bpe_merges" -> { (s, dir) =>
      bpeMerges(s, dir).orderBy("step")
    },

    // BPE SEGMENTATION (x97's inference counterpart — apply the learned
    // merge table): segment every vocabulary word with the 3 learned
    // merges, in learned order, and report pieces per word. Together
    // with x97 this closes the tokenizer loop: learn on the corpus,
    // apply to anything. The apply is 3 chained replaces on the
    // marker-wrapped form with the 1-row merge frames broadcast — at
    // 100 TB you'd segment the token STREAM with the same chain (per
    // row, zero shuffle); here the vocab table keeps the output
    // readable and the oracle cheap. A later merge may consume an
    // earlier merge's output symbol (that's why order matters and why
    // the chain replays training's v1→v2→v3 exactly).
    "x98_bpe_segment" -> { (s, dir) =>
      val m = bpeMerges(s, dir)
      def mk(k: Int) = mergeStep(m, k)
      def rep(k: Int, inner: String): String =
        s"replace($inner, concat(chr(1), a$k, chr(2), chr(1), b$k, chr(2)), " +
          s"concat(chr(1), a$k, b$k, chr(2)))"
      bpeWords(s, dir)
        .crossJoin(broadcast(mk(1))).crossJoin(broadcast(mk(2)))
        .crossJoin(broadcast(mk(3)))
        .selectExpr("word", "freq", rep(3, rep(2, rep(1, "seg"))) + " as seg")
        .selectExpr("word", "freq",
          "transform(filter(split(seg, chr(1)), p -> p != ''), " +
            "p -> substring(p, 1, length(p) - 1)) as syms")
        .selectExpr("word", "freq",
          "cast(length(word) as bigint) as n_chars",
          "cast(size(syms) as bigint) as n_pieces",
          "concat_ws(' ', syms) as pieces")
        .orderBy("word")
    },

    // BPE STREAM SEGMENTATION (the 100 TB shape x98's scaladoc
    // promises): apply the learned merge chain to the per-document
    // TOKEN STREAM — no vocab join, just three chained replaces
    // against the 1-row broadcast merge frames, evaluated per row —
    // then one doc_id-keyed aggregation for the per-doc piece count /
    // fertility report. Past the shared tf frame the corpus is touched
    // exactly once and never shuffles wider than doc_id. Tokens
    // carrying the \x01/\x02 markers are excluded exactly as in the
    // learner's vocabulary (both engines).
    "x100_bpe_stream" -> { (s, dir) =>
      val m = bpeMerges(s, dir)
      def mk(k: Int) = mergeStep(m, k)
      def rep(k: Int, inner: String): String =
        s"replace($inner, concat(chr(1), a$k, chr(2), chr(1), b$k, chr(2)), " +
          s"concat(chr(1), a$k, b$k, chr(2)))"
      val charSeg = "concat_ws('', transform(sequence(1, length(token)), " +
        "i -> concat(chr(1), substring(token, i, 1), chr(2))))"
      docTf(s, dir)
        .filter("instr(token, chr(1)) = 0 and instr(token, chr(2)) = 0")
        .crossJoin(broadcast(mk(1))).crossJoin(broadcast(mk(2)))
        .crossJoin(broadcast(mk(3)))
        .selectExpr("doc_id", "tf",
          "size(filter(split(" + rep(3, rep(2, rep(1, charSeg))) +
            ", chr(1)), p -> p != '')) as np")
        .groupBy("doc_id")
        .agg(sum(col("tf")).as("nt"), sum(col("np") * col("tf")).as("npc"))
        .selectExpr("doc_id", "cast(nt as bigint) as n_tokens",
          "cast(npc as bigint) as n_pieces",
          sRound6("cast(npc as double) / cast(nt as double)") + " as fertility_r")
        .orderBy("doc_id")
    },

    // UNCERTAINTY-SAMPLED LABELING BATCH — the active-learning step
    // that closes the probe's improvement loop (x94 trains, x95/x117
    // grade, THIS picks what to annotate next): the K documents whose
    // predicted probability sits closest to 0.5 — maximum-entropy
    // uncertainty sampling (Lewis & Gale 1994), the standard first
    // strategy for growing a quality classifier's training set.
    // 100 TB shape: the probe tier is read (one broadcast weight dot,
    // already shared with x95/x117), the margin is one map-side
    // expression, and the global "K most uncertain" selection is the
    // native two-phase bounded heap — per partition at most K rows
    // survive, so the exchange carries partitions·K rows, never a
    // corpus sort. Output is K rows at any corpus size. Ranking
    // compares raw IEEE doubles (identical bits both engines);
    // rounding touches display columns only.
    "x125_uncertainty_batch" -> { (s, dir) =>
      val g = probeScores(s, dir)
        .selectExpr("doc_id", "y", "p",
          "cast(0.5 as double) - abs(p - cast(0.5 as double)) as cg")
      graft.plans.TopKPerKey.topKDesc(g, Seq.empty, "cg", Seq("doc_id"), 20)
        .selectExpr("cast(rk as bigint) as rk", "doc_id",
          sRound6("p") + " as p_score",
          sRound6("abs(p - cast(0.5 as double))") + " as margin", "y")
        .orderBy("rk")
    },

    "x95_probe_calibration" -> { (s, dir) =>
      val scored = probeScores(s, dir)
      scored
        .selectExpr("least(cast(9 as bigint), cast(floor(p * 10.0d) as bigint)) as bin",
          "y", "cast(p as decimal(24,12)) as pd")
        .groupBy("bin")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("pd")).as("sp"),
          sum(col("y")).as("sy"))
        .selectExpr("bin", "n_docs",
          sRound6("cast(sp as double) / cast(n_docs as double)") + " as mean_p",
          "cast(sy as bigint) as n_pos",
          sRound6("cast(sy as double) / cast(n_docs as double)") + " as frac_pos",
          sRound6("abs(cast(sp as double) / cast(n_docs as double) - cast(sy as double) / cast(n_docs as double))") + " as gap")
        .orderBy("bin")
    },

    // PROBE ROC-AUC (Mann–Whitney rank-sum form): the discrimination
    // gauge that completes the probe-eval pair — x95's calibration
    // asks "are the probabilities honest?", this asks "does the score
    // ORDER the classes?" (the number a curation pipeline reads before
    // thresholding a quality probe over a 100 TB corpus, since a
    // miscalibrated-but-discriminative probe is rescuable and a
    // non-discriminative one is not). AUC = P(score⁺ > score⁻) with
    // ties at half credit, computed exactly from midranks: group the
    // corpus by distinct score (one shuffle), rank the distinct-score
    // frame with ExactRank's O(P) prefix scan (range-repartition — no
    // partitionless window, no global sort), and fold Σ pos_p·midrank_p
    // in ×2 integer arithmetic so everything until the final division
    // is exact. Output is ONE row at any corpus size; the probe tier
    // (3 training epochs) is read, not re-run.
    "x117_probe_auc" -> { (s, dir) =>
      val byP = probeScores(s, dir).groupBy("p")
        .agg(count(lit(1)).as("n"),
          sum(col("y")).cast("bigint").as("npos"))
      graft.queries.ExactRank
        .withGlobalCumsum(byP, Seq(col("p")), col("n"))
        // cum is the inclusive count prefix; midrank·2 = 2·(cum−n)+n+1
        .agg(sum("npos").as("np"), sum(expr("n - npos")).as("nn"),
          sum(expr("npos * (2 * (cum - n) + n + 1)")).as("r2"))
        .selectExpr("cast(np as bigint) as n_pos",
          "cast(nn as bigint) as n_neg",
          sRound6("cast(r2 - np * (np + 1) as double) / " +
            "(2.0d * cast(np as double) * cast(nn as double))") + " as auc",
          sRound6("cast(r2 - np * (np + 1) as double) / " +
            "(cast(np as double) * cast(nn as double)) - 1.0d") + " as gini")
    },

    // PRIORITY SAMPLING (Duffield–Lund–Thorup 2007): a fixed-size
    // weighted sample WITHOUT replacement — the production mechanism
    // for "sample k documents proportional to quality/length weight"
    // where x41's hash-threshold sampling can only hit a RATE, not an
    // exact k. Priority q_i = w_i / u_i with u_i a deterministic
    // uniform from the stable doc hash (u = (h32+0.5)/2^32 — no
    // random(), reproducible across runs/engines/executors); the
    // sample is the top-k priorities and tau = the (k+1)-th priority
    // yields the unbiased subset-sum estimator w-hat_i = max(w_i, tau)
    // (sum of w-hat over any subset of the sample estimates that
    // subset's true weight). Every per-row value is a single IEEE
    // multiply+divide on bit-identical operands, so priorities are
    // bit-equal across engines and the top-k boundary cannot flip.
    // 100 TB shape: the global top-(k+1) is the TopKRewrite path (map-
    // side bounded heaps, the shuffle carries k·partitions rows, never
    // the corpus), tau is a 1-row broadcast — no global sort anywhere.
    "x104_priority_sample" -> { (s, dir) =>
      val pri = graft.queries.Shared.temp(
        docs(s, dir).selectExpr("doc_id", "lang", "source", "n_chars",
          s"cast(n_chars as double) * cast(4294967296 as double) / " +
            s"(cast((${sH("concat('ps:', doc_id)")} & 4294967295) as double) " +
            "+ cast(0.5 as double)) as pri")
          .orderBy(desc("pri"), col("doc_id")).limit(101))
      val tau = pri.agg(min(col("pri")).as("tau"))
      pri.orderBy(desc("pri"), col("doc_id")).limit(100)
        .crossJoin(broadcast(tau))
        .selectExpr("doc_id", "lang", "source", "n_chars",
          "cast(cast(pri as decimal(24,6)) as double) as priority",
          "cast(cast(greatest(cast(n_chars as double), tau) as decimal(24,6)) as double) as est_w")
        .orderBy("doc_id")
    },

    // TEXTRANK KEYWORDS (Mihalcea & Tarau 2004): PageRank over the
    // token co-occurrence graph — corpus-level keyword extraction, and
    // the suite's one ITERATIVE GRAPH operator on the text side
    // (x24's connected components is the other graph shape; this one
    // converges scores instead of labels). Graph build is the only
    // corpus-sized work: one pass emits adjacent-token pairs, one
    // shuffle on (src,dst) counts them; everything after runs on the
    // VOCABULARY-sized edge list (at 100 TB the graph is still only
    // |vocab|²-bounded and in practice millions of edges, not
    // corpus-sized). Five damped iterations s_{k+1}(v) = 0.15 + 0.85 ·
    // Σ_{u→v} p(u,v)·s_k(u) with p = w/strength(u) (weighted
    // row-stochastic transition), each a vocab-keyed join + aggregate
    // against the one cached edge frame. Scores round at the END only
    // (decimal-cast 6 dp; per-iteration float-sum order skew is
    // ~1e-13, far under the rounding grain); ranking uses the ROUNDED
    // score with token tiebreak so both engines cut the same top-20.
    "x105_textrank" -> { (s, dir) =>
      val en = textrankEdges(s, dir)
      var score = en.select(col("src").as("token")).distinct()
        .withColumn("score", expr("cast(1 as double)"))
      for (_ <- 1 to 5) {
        score = en.join(score, col("src") === col("token"))
          .groupBy("dst")
          .agg(sum(expr("p * score")).as("c"))
          .selectExpr("dst as token",
            "cast(0.15 as double) + cast(0.85 as double) * c as score")
      }
      score.selectExpr("token", sRound6("score") + " as score")
        .orderBy(desc("score"), col("token")).limit(20)
    },

    // SKETCH CALIBRATION — the operational companion of r21's
    // rows-only approx sketches: at 100 TB, quality thresholds are cut
    // with a one-pass mergeable quantile sketch (Greenwald–Khanna via
    // approx_percentile — no global sort, one aggregate exchange), and
    // the ONLY thing a correctness gate can pin about a sketch is its
    // ERROR CONTRACT. This query audits exactly that: the sketch
    // value's true rank interval [lt+1, le] (one counting pass with
    // the 5-row sketch output broadcast) must overlap the target rank
    // ceil(q·N) within the GK tolerance N/accuracy (+1 slack for the
    // ceil edge). The exact leg — percentile_disc = min value with
    // rank ≥ ceil(q·N) — rides ExactRank's range-partitioned rank, so
    // the audit never materializes a global ordering either. Output is
    // (q, exact value, contract verdict): the sketch VALUES differ per
    // engine and can never hash-match (that is r21's documented gap) —
    // the exact values and the contract booleans match bit-for-bit,
    // which is precisely what the gate should pin.
    "x118_sketch_calibration" -> { (s, dir) =>
      val qArr = "array(0.25d, 0.5d, 0.75d, 0.9d, 0.99d)"
      val base = docs(s, dir).select("doc_id", "n_chars")
      val approx = base
        .agg(expr(s"approx_percentile(n_chars, $qArr, 1000)").as("ap"))
        .selectExpr(s"explode(arrays_zip($qArr, ap)) as z")
        .selectExpr("z.`0` as q", "z.ap as av")
      val calib = base.crossJoin(broadcast(approx))
        .groupBy("q", "av")
        .agg(
          sum(when(col("n_chars") < col("av"), 1L).otherwise(0L)).as("lt"),
          sum(when(col("n_chars") <= col("av"), 1L).otherwise(0L)).as("le"),
          count(lit(1)).as("n"))
        .withColumn("tol", ceil(col("n").cast("double") / lit(1000.0)) + lit(1L))
        .withColumn("target", ceil(col("q") * col("n").cast("double")))
        .select(col("q"),
          (col("target") >= col("lt") + lit(1L) - col("tol") &&
            col("target") <= col("le") + col("tol")).as("within_bound"))
      val exact = graft.queries.ExactRank
        .withGlobalRank(base, Seq(col("n_chars"), col("doc_id")))
        .selectExpr("n_chars", "rank", "n_total",
          s"explode($qArr) as q")
        .filter(col("rank") === ceil(col("q") * col("n_total").cast("double")))
        .select(col("q"), col("n_chars").cast("long").as("exact_disc"))
      exact.join(calib, "q").orderBy("q")
    },

    // PERPLEXITY BUCKETS — the CCNet cut (Wenzek et al., LREC 2020):
    // per language, rank documents by LM score and split into
    // head / middle / tail thirds — the standard recipe for choosing
    // which web text to keep (head), re-examine (middle), or drop
    // (tail). Scores are x65's Jelinek-Mercer per-doc mean NLL (the
    // factored jmPerDoc — one algebra, two consumers). Scale shape:
    // NO per-language window — a corpus that is 90% one language would
    // funnel through a single WindowExec task — instead ExactRank's
    // range-partitioned global rank under the composite
    // (lang, nll, doc_id) order, per-language offsets/counts from one
    // language-keyed aggregation (|languages| rows, broadcast back),
    // and the NTILE assignment computed ARITHMETICALLY from
    // (within-lang rank, lang count) — integer-exact on both engines.
    "x130_ppl_buckets" -> { (s, dir) =>
      val jl = docs(s, dir).select("doc_id", "lang")
        .join(jmPerDoc(s, dir), Seq("doc_id"))
      val ranked = graft.queries.ExactRank.withGlobalRank(jl,
        Seq(col("lang"), col("mean_nll_jm"), col("doc_id")))
      val off = ranked.groupBy("lang")
        .agg((min(col("rank")) - lit(1L)).as("off"),
          count(lit(1)).as("n"))
      ranked.join(broadcast(off), "lang")
        .withColumn("lrank", col("rank") - col("off"))
        .withColumn("bucket", expr(
          """case when lrank <= (n % 3) * (n div 3 + 1)
            |  then (lrank - 1) div (n div 3 + 1) + 1
            |  else (n % 3) + (lrank - (n % 3) * (n div 3 + 1) - 1)
            |         div (n div 3) + 1 end""".stripMargin))
        .groupBy("lang", "bucket")
        .agg(count(lit(1)).as("n_docs"),
          sum(col("n_bigrams")).as("n_bigrams_total"),
          min(col("mean_nll_jm")).as("min_nll"),
          max(col("mean_nll_jm")).as("max_nll"))
        .selectExpr("lang", "cast(bucket as bigint) as bucket", "n_docs",
          "n_bigrams_total", "min_nll", "max_nll")
        .orderBy("lang", "bucket")
    },
  )

  /** Row-stochastic co-occurrence edges for x105: undirected adjacent-
    * token pairs (both directions), weight = corpus co-occurrence
    * count, normalized by source-node strength. The ONLY corpus-sized
    * stage of the TextRank family — cached so all five iterations (and
    * repeated bench runs) reuse one build. */
  private def textrankEdges(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "textrank_edges") {
      val prs = docs(s, dir)
        .selectExpr(s"filter($sTokens, x -> x != '') as tk")
        .selectExpr(
          """explode(case when size(tk) >= 2
            |  then transform(sequence(1, size(tk)-1),
            |    i -> named_struct('a', element_at(tk,i), 'b', element_at(tk,i+1)))
            |  else cast(array() as array<struct<a:string,b:string>>) end) as pr""".stripMargin)
        .selectExpr("pr.a as a", "pr.b as b")
        .filter("a != b")
      val und = prs.selectExpr("a as src", "b as dst")
        .unionAll(prs.selectExpr("b as src", "a as dst"))
      val edges = und.groupBy("src", "dst").agg(count(lit(1)).as("w"))
      val strength = edges.groupBy("src").agg(sum("w").as("strength"))
        .withColumnRenamed("src", "s_src")
      edges.join(strength, col("src") === col("s_src"))
        .selectExpr("src", "dst",
          "cast(w as double) / cast(strength as double) as p")
    }

  /** Word-frequency table with marker-wrapped character segmentation —
    * the BPE working set (x97 learns on it, x98 applies to it). The
    * ONLY corpus-sized operation in the BPE family. */
  private def bpeWords(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "bpe_words") {
      docTf(s, dir).groupBy("token").agg(sum("tf").as("freq"))
        // \x01/\x02 are the segmentation markers; a token containing
        // them would corrupt symbol boundaries, so exclude such tokens
        // from the BPE vocabulary (oracle applies the same guard)
        .filter("instr(token, chr(1)) = 0 and instr(token, chr(2)) = 0")
        .selectExpr("token as word", "freq",
          "concat_ws('', transform(sequence(1, length(token)), " +
            "i -> concat(chr(1), substring(token, i, 1), chr(2)))) as seg")
    }

  /** The learned 3-merge BPE table (step, left_sym, right_sym, merged,
    * pair_count) — see x97's scaladoc. Each iteration is vocab-sized;
    * per-step frames are eagerly checkpointed (they are 1 row) so the
    * re-segmentation plans stay shallow. */
  private def bpeMerges(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "bpe_merges") {
      var cur = bpeWords(s, dir)
      val merges = scala.collection.mutable.ArrayBuffer[DataFrame]()
      var k = 1
      var exhausted = false
      while (k <= 3 && !exhausted) {
        val pairs = cur
          .selectExpr("freq",
            "transform(filter(split(seg, chr(1)), p -> p != ''), " +
              "p -> substring(p, 1, length(p) - 1)) as syms")
          .filter("size(syms) >= 2")
          .selectExpr("freq",
            "explode(transform(sequence(1, size(syms) - 1), " +
              "i -> struct(element_at(syms, i) as a, element_at(syms, i + 1) as b))) as pr")
          .selectExpr("freq", "pr.a as a", "pr.b as b")
          .groupBy("a", "b").agg(sum("freq").as("cnt"))
        val best = pairs.orderBy(col("cnt").desc, col("a"), col("b")).limit(1)
          .localCheckpoint()
        // a degenerate vocabulary (empty corpus, or all words already
        // single-symbol) has no adjacent pairs left: stop learning and
        // return the merges found so far — consumers apply missing
        // steps as no-ops. The check is free: the frame is
        // checkpointed and ≤ 1 row.
        if (best.isEmpty) exhausted = true
        else {
          merges += best.selectExpr(s"cast($k as bigint) as step",
            "a as left_sym", "b as right_sym", "concat(a, b) as merged",
            "cast(cnt as bigint) as pair_count")
          cur = cur.crossJoin(broadcast(best))
            .selectExpr("word", "freq",
              "replace(seg, concat(chr(1), a, chr(2), chr(1), b, chr(2)), " +
                "concat(chr(1), a, b, chr(2))) as seg")
        }
        k += 1
      }
      if (merges.isEmpty)
        s.range(0).selectExpr("id as step",
          "cast(null as string) as left_sym",
          "cast(null as string) as right_sym",
          "cast(null as string) as merged",
          "cast(null as bigint) as pair_count")
      else merges.reduce(_ unionByName _).localCheckpoint()
    }

  /** One-row per-step merge frame for the x98/x100 replace chains:
    * the learned (left, right) pair when step k exists, else a no-op
    * pair built from the \x02 marker — symbols are marker-free, so
    * the pattern `\x01 + \x02 + \x02 …` can never occur in a
    * segmentation and the replace is the identity. Keeps the apply
    * chains total on corpora where fewer than 3 merges exist. */
  private def mergeStep(m: DataFrame, k: Int): DataFrame =
    m.filter(s"step = $k")
      .agg(expr(s"coalesce(max(left_sym), chr(2))").as(s"a$k"),
        expr(s"coalesce(max(right_sym), chr(2))").as(s"b$k"))

  /** The x94 probe's 3-epoch training loop (see x94's scaladoc for the
    * featurization rationale). Returns the (dim, w decimal(16,6))
    * weight frame, dim -1 = bias; cached in the shared tier so the
    * calibration/inference consumers don't retrain. */
  private def trainedProbe(s: SparkSession, dir: String): DataFrame =
    graft.queries.Shared.shared(s, dir, "probe_weights") {
      val feats = probeFeats(s, dir)
      val lbl = docs(s, dir).selectExpr("doc_id",
        "case when lang = 'en' then cast(1 as double) else cast(0 as double) end as y")
      val n = docs(s, dir).agg(count(lit(1)).as("n_docs"))
      def epoch(w: DataFrame): DataFrame = {
        val wd = w.filter("dim >= 0")
        val wb = w.filter("dim = -1").select(col("w").as("wb"))
        val zs = feats.join(broadcast(wd), "dim")
          .selectExpr("doc_id", "w * x as t")
          .groupBy("doc_id").agg(sum("t").as("zs"))
        val p = lbl.join(zs, Seq("doc_id"), "left")
          .crossJoin(broadcast(wb))
          .selectExpr("doc_id", "y",
            "cast(coalesce(zs, cast(0 as decimal(16,6))) + wb as double) as z")
          .selectExpr("doc_id", "y",
            "0.5d * (cast(1 as double) + z / (cast(1 as double) + abs(z))) as p")
        val gd = feats.join(p, "doc_id")
          .selectExpr("dim", "cast((p - y) * cast(x as double) as decimal(24,12)) as g")
          .groupBy("dim").agg(sum("g").as("gs"))
        val gb = p
          .selectExpr("cast(-1 as bigint) as dim", "cast(p - y as decimal(24,12)) as g")
          .groupBy("dim").agg(sum("g").as("gs"))
        w.join(gd.unionByName(gb), Seq("dim"), "left")
          .crossJoin(broadcast(n))
          .selectExpr("dim",
            // greatest(n_docs, 1): on a 0-row corpus the gradient sum
            // is 0 and the division must stay total (0/1 = 0, weights
            // stay at init) — value-identical whenever n_docs >= 1
            "cast(cast(w as double) - cast(1 as double) * cast(coalesce(gs, cast(0 as decimal(24,12))) as double) / cast(greatest(n_docs, 1) as double) as decimal(16,6)) as w")
      }
      var w: DataFrame = s.range(-1, 256)
        .selectExpr("id as dim", "cast(0 as decimal(16,6)) as w")
      // eager localCheckpoint per epoch (the Dedup.cc pattern): the
      // weight frame is 257 rows, and truncating its lineage keeps the
      // next epoch's plan — and every downstream consumer's (x94, x95)
      // — shallow instead of 3-epochs deep. Measured at sf0.001: x95's
      // scoring pass 5.1 s → plan-shallow (the cost was Catalyst
      // re-canonicalizing the deep lineage per action, not compute).
      for (_ <- 1 to 3) w = epoch(w).localCheckpoint()
      w
    }

  /** Score every document with the trained probe: (doc_id, y, p) — the
    * one-broadcast-join batch-inference pass x95 aggregates. */
  private[graft] def probeScores(s: SparkSession, dir: String): DataFrame = {
    val w = trainedProbe(s, dir)
    val wd = w.filter("dim >= 0")
    val wb = w.filter("dim = -1").select(col("w").as("wb"))
    val lbl = docs(s, dir).selectExpr("doc_id",
      "case when lang = 'en' then cast(1 as double) else cast(0 as double) end as y")
    val zs = probeFeats(s, dir).join(broadcast(wd), "dim")
      .selectExpr("doc_id", "w * x as t")
      .groupBy("doc_id").agg(sum("t").as("zs"))
    lbl.join(zs, Seq("doc_id"), "left")
      .crossJoin(broadcast(wb))
      .selectExpr("doc_id", "y",
        "cast(coalesce(zs, cast(0 as decimal(16,6))) + wb as double) as z")
      .selectExpr("doc_id", "y",
        "0.5d * (cast(1 as double) + z / (cast(1 as double) + abs(z))) as p")
  }

  val oracleSql: Map[String, String] = Map(
    "x01_token_stats" ->
      s"""SELECT doc_id, len(tk) AS n_tokens,
         |  len(list_distinct(tk)) AS n_distinct,
         |  length(list_aggregate(tk, 'string_agg', '')) AS total_token_chars,
         |  CAST(length(list_aggregate(tk, 'string_agg', '')) AS DOUBLE) / CAST(len(tk) AS DOUBLE) AS avg_token_len
         |FROM (SELECT doc_id, $dTokens AS tk FROM documents) ORDER BY doc_id""".stripMargin,
    "x02_language_id" ->
      s"""SELECT doc_id, lang, score_en, score_fr, score_es, score_de, score_zh,
         |  $predictCase AS predicted,
         |  ($predictCase) = lang AS is_match
         |FROM (SELECT doc_id, lang, ${dScores.mkString(", ")}
         |      FROM (SELECT doc_id, lang, $dTokens AS tk FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "x03_quality_score" ->
      s"""SELECT doc_id, n_chars_raw, n_tokens,
         |  ${dRound6("distinct_ratio")} AS distinct_ratio,
         |  ${dRound6("length_score")} AS length_score,
         |  ${dRound6("distinct_ratio * length_score")} AS quality,
         |  ${dRound6("distinct_ratio * length_score")} >= 0.2 AS is_quality
         |FROM (SELECT doc_id, n_chars_raw, n_tokens,
         |        CASE WHEN n_tokens = 0 THEN CAST(0 AS DOUBLE)
         |             ELSE CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) END AS distinct_ratio,
         |        least(CAST(1 AS DOUBLE), CAST(n_tokens AS DOUBLE) / CAST(50 AS DOUBLE)) AS length_score
         |      FROM (SELECT doc_id, length(text) AS n_chars_raw, len(tk) AS n_tokens,
         |              len(list_distinct(tk)) AS n_distinct
         |            FROM (SELECT doc_id, text, $dTokens AS tk FROM documents)))
         |ORDER BY doc_id""".stripMargin,
    "x04_fingerprint" ->
      s"""SELECT doc_id, md5($dNorm) AS fp, ${dH(dNorm)} AS fp64
         |FROM documents ORDER BY doc_id""".stripMargin,
    "x22_pii_redaction" ->
      """SELECT doc_id,
        |  CAST(len(regexp_extract_all(text2, '[a-z0-9._%+-]+@[a-z0-9.-]+')) AS BIGINT) AS n_emails,
        |  CAST(len(regexp_extract_all(text2, '\+1-[0-9]{3}-[0-9]{4}')) AS BIGINT) AS n_phones,
        |  regexp_replace(regexp_replace(text2, '[a-z0-9._%+-]+@[a-z0-9.-]+', '<EMAIL>', 'g'), '\+1-[0-9]{3}-[0-9]{4}', '<PHONE>', 'g') AS redacted
        |FROM (SELECT doc_id,
        |        concat(substring(text, 1, 40), ' contact ', source, '@example.com or +1-555-', lpad(CAST(doc_id % 10000 AS VARCHAR), 4, '0')) AS text2
        |      FROM documents) x
        |ORDER BY doc_id""".stripMargin,
    "x19_train_test_split" ->
      s"""SELECT split, lang, CAST(COUNT(*) AS BIGINT) AS n, MIN(doc_id) AS min_id FROM (
         |  SELECT doc_id, lang,
         |    CASE WHEN b < 80 THEN 'train' WHEN b < 90 THEN 'val' ELSE 'test' END AS split
         |  FROM (SELECT doc_id, lang, ${dSplitBucket("doc_id")} AS b
         |        FROM documents)) x
         |GROUP BY split, lang ORDER BY split, lang""".stripMargin,
    "x20_class_downsample" ->
      s"""SELECT doc_id, lang, rk FROM (
         |  SELECT doc_id, lang,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS BIGINT) AS rk
         |  FROM (SELECT doc_id, lang, ${dH("concat('ds:', doc_id)")} AS h FROM documents)) x
         |WHERE rk <= 50 ORDER BY lang, rk""".stripMargin,
    "x16_topk_tokens" ->
      s"""SELECT rank, token, n FROM (
         |  SELECT CAST(ROW_NUMBER() OVER (ORDER BY n DESC, token) - 1 AS BIGINT) AS rank,
         |         token, n
         |  FROM (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
         |        FROM (SELECT unnest($dTokens) AS token FROM documents)
         |        GROUP BY token)) x
         |WHERE rank < 10 ORDER BY rank""".stripMargin,
    "x57_novelty" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |shing AS (SELECT doc_id, unnest($dShingles) AS sh FROM tkn),
         |first AS (SELECT sh, MIN(doc_id) AS first_doc FROM shing GROUP BY sh),
         |scored AS (SELECT shing.doc_id,
         |             CAST(COUNT(*) AS BIGINT) AS n_shingles,
         |             CAST(SUM(CASE WHEN first_doc = shing.doc_id THEN 1 ELSE 0 END) AS BIGINT) AS n_novel
         |           FROM shing JOIN first USING (sh) GROUP BY shing.doc_id)
         |SELECT d.doc_id,
         |  COALESCE(n_shingles, 0) AS n_shingles,
         |  COALESCE(n_novel, 0) AS n_novel,
         |  ${dRound6("CASE WHEN COALESCE(n_shingles, 0) > 0 THEN CAST(n_novel AS DOUBLE) / CAST(n_shingles AS DOUBLE) ELSE 0.0 END")} AS novelty
         |FROM documents d LEFT JOIN scored ON d.doc_id = scored.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "x56_training_shards" ->
      s"""WITH h AS (SELECT doc_id, ${dH("concat('shuf:', doc_id)")} AS h FROM documents),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM h),
         |r AS (SELECT doc_id, ROW_NUMBER() OVER (ORDER BY h, doc_id) - 1 AS rk FROM h)
         |SELECT doc_id,
         |  CAST(CASE WHEN rk < (n % 16) * (n // 16 + 1)
         |    THEN rk // (n // 16 + 1)
         |    ELSE (n % 16) + (rk - (n % 16) * (n // 16 + 1)) // greatest(n // 16, 1)
         |  END AS BIGINT) AS shard,
         |  CAST(CASE WHEN rk < (n % 16) * (n // 16 + 1)
         |    THEN rk % (n // 16 + 1)
         |    ELSE (rk - (n % 16) * (n // 16 + 1)) % greatest(n // 16, 1)
         |  END AS BIGINT) AS pos_in_shard
         |FROM r, n ORDER BY doc_id""".stripMargin,
    "x54_source_kl" ->
      s"""WITH tfs AS (
         |  SELECT source, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT source, unnest($dTokens) AS token FROM documents)
         |  WHERE token <> '' GROUP BY source, token),
         |corpus AS (SELECT token, SUM(tf) AS ctf FROM tfs GROUP BY token),
         |ntot AS (SELECT SUM(tf) AS n_corpus FROM tfs),
         |nsrc AS (SELECT source, SUM(tf) AS n_src, CAST(COUNT(*) AS BIGINT) AS n_types
         |         FROM tfs GROUP BY source),
         |terms AS (
         |  SELECT tfs.source,
         |    CAST((CAST(tf AS DOUBLE) / CAST(n_src AS DOUBLE))
         |      * ln((CAST(tf AS DOUBLE) / CAST(n_src AS DOUBLE))
         |          / (CAST(ctf AS DOUBLE) / CAST(n_corpus AS DOUBLE)))
         |      AS DECIMAL(24,12)) AS term
         |  FROM tfs JOIN corpus USING (token) JOIN nsrc USING (source), ntot)
         |SELECT t.source, CAST(n.n_src AS BIGINT) AS n_tokens, n.n_types,
         |  ${dRound6("CAST(SUM(t.term) AS DOUBLE)")} AS kl_vs_corpus
         |FROM terms t JOIN nsrc n ON t.source = n.source
         |GROUP BY t.source, n.n_src, n.n_types
         |ORDER BY t.source""".stripMargin,
    "x53_within_doc_dup" ->
      s"""SELECT doc_id, n_passages, n_unique,
         |  (n_passages - n_unique) * 16 AS est_dup_tokens,
         |  ${dRound6("CAST(n_passages - n_unique AS DOUBLE) / CAST(n_passages AS DOUBLE)")} AS self_rep_frac
         |FROM (SELECT doc_id, CAST(len(parr) AS BIGINT) AS n_passages,
         |        CAST(len(list_distinct(parr)) AS BIGINT) AS n_unique
         |      FROM (SELECT doc_id,
         |              list_transform(range(0, CAST(ceil(len(tk) / 16.0) AS INT)),
         |                i -> array_to_string(tk[i*16+1:i*16+16], ' ')) AS parr
         |            FROM (SELECT doc_id, $dTokens AS tk FROM documents)))
         |ORDER BY doc_id""".stripMargin,
    "x50_gopher_rules" -> {
      val stop = inList(Seq("the", "a", "and", "of", "to",
        "le", "la", "el", "der", "die"))
      s"""WITH tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
         |  WHERE token <> '' GROUP BY doc_id, token),
         |a AS (SELECT doc_id, SUM(tf) AS nt, MAX(tf) AS max_tf,
         |        SUM(length(token) * tf) AS n_tok_chars,
         |        SUM(CASE WHEN token IN ($stop) THEN tf ELSE 0 END) AS sh
         |      FROM tf GROUP BY doc_id),
         |b AS (SELECT doc_id, CAST(nt AS BIGINT) AS n_tokens,
         |        ${dRound6("CAST(n_tok_chars AS DOUBLE) / CAST(nt AS DOUBLE)")} AS mean_word_len,
         |        ${dRound6("CAST(max_tf AS DOUBLE) / CAST(nt AS DOUBLE)")} AS top_token_frac,
         |        CAST(sh AS BIGINT) AS stop_hits
         |      FROM a)
         |SELECT doc_id, n_tokens, mean_word_len, top_token_frac, stop_hits,
         |  (n_tokens BETWEEN 20 AND 100000)
         |    AND (mean_word_len BETWEEN 2.0 AND 10.0)
         |    AND (top_token_frac <= 0.2)
         |    AND (stop_hits >= 2) AS pass
         |FROM b ORDER BY doc_id""".stripMargin
    },
    "x23_tfidf_topterms" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
         |  WHERE token <> '' GROUP BY doc_id, token),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY token),
         |n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_docs FROM documents),
         |sc AS (SELECT tf.doc_id, tf.token, tf.tf, df.df,
         |         CAST(tf.tf AS DOUBLE) * ln(n_docs / CAST(df.df AS DOUBLE)) AS tfidf
         |       FROM tf JOIN df USING (token), n)
         |SELECT doc_id, rk, token, tf, df, ${dRound6("tfidf")} AS tfidf_r FROM (
         |  SELECT sc.*, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
         |    ORDER BY tfidf DESC, token) AS BIGINT) AS rk FROM sc) x
         |WHERE rk <= 3 ORDER BY doc_id, rk""".stripMargin,
    "x31_domain_mixing" ->
      s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_avail
         |           FROM documents GROUP BY source),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM c),
         |m AS (SELECT c.source, c.n_avail,
         |        CAST(1 AS DOUBLE) / CAST(n_sources AS DOUBLE) AS target_w,
         |        CAST(n_avail AS DOUBLE) / (CAST(1 AS DOUBLE) / CAST(n_sources AS DOUBLE)) AS mtb
         |      FROM c, t),
         |m2 AS (SELECT m.*, MIN(mtb) OVER () AS mix_total FROM m)
         |SELECT source, n_avail, ${dRound6("target_w")} AS target_w,
         |  ${dRound6("target_w * mix_total / CAST(n_avail AS DOUBLE)")} AS sample_rate,
         |  CAST(floor(target_w * mix_total) AS BIGINT) AS n_sampled
         |FROM m2 ORDER BY source""".stripMargin,
    "x68_temperature_mix" ->
      s"""WITH b AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |             CAST(SUM(len(tk)) AS BIGINT) AS n_tokens
         |           FROM (SELECT source, $dTokens AS tk FROM documents)
         |           GROUP BY source),
         |t AS (SELECT CAST(SUM(n_tokens) AS BIGINT) AS tot_tokens,
         |        CAST(SUM(CAST(sqrt(CAST(n_tokens AS DOUBLE)) AS DECIMAL(24,12))) AS DOUBLE) AS ssum
         |      FROM b)
         |SELECT source, n_docs, n_tokens,
         |  ${dRound6("CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE)")} AS natural_frac,
         |  ${dRound6("sqrt(CAST(n_tokens AS DOUBLE)) / ssum")} AS temp_w,
         |  ${dRound6("(sqrt(CAST(n_tokens AS DOUBLE)) / ssum) / (CAST(n_tokens AS DOUBLE) / CAST(tot_tokens AS DOUBLE))")} AS boost
         |FROM b, t ORDER BY source""".stripMargin,
    "x30_unigram_logprob" ->
      s"""WITH toks AS (SELECT doc_id, unnest($dTokens) AS token FROM documents),
         |t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS tf FROM t2 GROUP BY token),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_total FROM t2),
         |sc AS (SELECT doc_id, -ln(CAST(tf AS DOUBLE) / CAST(n_total AS DOUBLE)) AS nll
         |       FROM t2 JOIN uni USING (token), tot)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |  ${dRound6("CAST(SUM(CAST(nll AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS mean_nll
         |FROM sc GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x28_bpe_token_count" ->
      s"""WITH c AS (
         |  SELECT doc_id,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT) AS n_alpha,
         |    CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT) AS n_digit,
         |    CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS BIGINT) AS n_mark,
         |    CAST(len(list_filter($dTokens, x -> x <> '')) AS BIGINT) AS n_ws
         |  FROM documents)
         |SELECT doc_id, n_alpha, n_digit, n_mark,
         |  n_alpha + n_digit + n_mark AS n_bpeish, n_ws,
         |  ${dRound6("CASE WHEN n_ws > 0 THEN CAST(n_alpha + n_digit + n_mark AS DOUBLE) / CAST(n_ws AS DOUBLE) ELSE 0.0 END")} AS expansion
         |FROM c ORDER BY doc_id""".stripMargin,
    "x26_repetition_score" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |          i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS gs
         |      FROM tkn),
         |cts AS (SELECT doc_id, g2, CAST(COUNT(*) AS BIGINT) AS c
         |        FROM (SELECT doc_id, unnest(gs) AS g2 FROM g) GROUP BY doc_id, g2),
         |st AS (SELECT doc_id, CAST(SUM(c) AS BIGINT) AS n2,
         |         CAST(COUNT(*) AS BIGINT) AS d2, MAX(c) AS m2
         |       FROM cts GROUP BY doc_id)
         |SELECT g.doc_id, COALESCE(n2, 0) AS n2,
         |  ${dRound6("CASE WHEN n2 > 0 THEN CAST(n2 - d2 AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE 0.0 END")} AS dup_ratio,
         |  ${dRound6("CASE WHEN n2 > 0 THEN CAST(m2 AS DOUBLE) / CAST(n2 AS DOUBLE) ELSE 0.0 END")} AS top_ratio
         |FROM g LEFT JOIN st ON g.doc_id = st.doc_id
         |ORDER BY g.doc_id""".stripMargin,
    "x25_sequence_packing" ->
      s"""WITH tk AS (SELECT doc_id, lang, CAST(len($dTokens) AS BIGINT) AS n_tok
         |            FROM documents),
         |c AS (SELECT doc_id, lang, n_tok,
         |        CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start
         |      FROM tk)
         |SELECT lang, start // 256 AS seq_id,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_tok) AS BIGINT) AS total_tokens,
         |  MIN(doc_id) AS first_doc, MAX(doc_id) AS last_doc
         |FROM c GROUP BY lang, seq_id
         |ORDER BY lang, seq_id""".stripMargin,
    "x113_packing_sweep" ->
      s"""WITH tk AS (SELECT doc_id, lang, CAST(len($dTokens) AS BIGINT) AS n_tok
         |            FROM documents),
         |c AS (SELECT doc_id, lang, n_tok,
         |        CAST(SUM(n_tok) OVER (PARTITION BY lang ORDER BY doc_id
         |          ROWS UNBOUNDED PRECEDING) - n_tok AS BIGINT) AS start
         |      FROM tk),
         |e AS (SELECT c.*, CAST(l.context_len AS BIGINT) AS context_len
         |      FROM c CROSS JOIN (VALUES (256), (512), (1024)) l(context_len)),
         |pl AS (SELECT context_len, lang, COUNT(*) AS n_docs,
         |         SUM(n_tok) AS lang_tokens,
         |         SUM(CASE WHEN n_tok > 0 AND (start // context_len) <> ((start + n_tok - 1) // context_len) THEN 1 ELSE 0 END) AS n_split,
         |         SUM(CASE WHEN n_tok > 0 AND (start // context_len) <> ((start + n_tok - 1) // context_len) THEN n_tok ELSE 0 END) AS split_tokens
         |       FROM e GROUP BY context_len, lang),
         |p2 AS (SELECT context_len, n_docs, lang_tokens, n_split, split_tokens,
         |         (lang_tokens + context_len - 1) // context_len AS n_seqs
         |       FROM pl)
         |SELECT context_len, CAST(SUM(n_seqs) AS BIGINT) AS n_seqs,
         |  CAST(SUM(n_docs) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_split) AS BIGINT) AS n_docs_split,
         |  ${dRound6("CASE WHEN SUM(context_len * n_seqs) = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(SUM(context_len * n_seqs) - SUM(lang_tokens) AS DOUBLE) / CAST(SUM(context_len * n_seqs) AS DOUBLE) END")} AS pad_frac,
         |  ${dRound6("CASE WHEN SUM(lang_tokens) = 0 THEN CAST(0.0 AS DOUBLE) ELSE CAST(SUM(split_tokens) AS DOUBLE) / CAST(SUM(lang_tokens) AS DOUBLE) END")} AS split_tok_frac
         |FROM p2 GROUP BY context_len ORDER BY context_len""".stripMargin,
    "x37_stratified_sample" ->
      s"""SELECT doc_id, lang, h, rk FROM (
         |  SELECT doc_id, lang, h,
         |    CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h DESC, doc_id) AS BIGINT) AS rk
         |  FROM (SELECT doc_id, lang, ${dH("concat('rs:', doc_id)")} AS h FROM documents)) x
         |WHERE rk <= 20 ORDER BY lang, rk""".stripMargin,
    "x41_apply_mixture" ->
      s"""WITH c AS (SELECT source, CAST(COUNT(*) AS BIGINT) AS n_avail
         |           FROM documents GROUP BY source),
         |t AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_sources FROM c),
         |m AS (SELECT c.source, c.n_avail,
         |        CAST(1 AS DOUBLE) / CAST(n_sources AS DOUBLE) AS target_w,
         |        CAST(n_avail AS DOUBLE) / (CAST(1 AS DOUBLE) / CAST(n_sources AS DOUBLE)) AS mtb
         |      FROM c, t),
         |r AS (SELECT source, n_avail,
         |        ${dRound6("target_w * MIN(mtb) OVER () / CAST(n_avail AS DOUBLE)")} AS rate
         |      FROM m),
         |d AS (SELECT doc_id, source,
         |        CAST(${dH("concat('mix:', doc_id)")} AS DOUBLE) AS h
         |      FROM documents)
         |SELECT r.source, r.n_avail, r.rate,
         |  CAST(SUM(CASE WHEN h < rate * 1152921504606846976.0 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ${dRound6("CAST(SUM(CASE WHEN h < rate * 1152921504606846976.0 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(r.n_avail AS DOUBLE)")} AS realized_rate
         |FROM d JOIN r ON d.source = r.source
         |GROUP BY r.source, r.n_avail, r.rate
         |ORDER BY r.source""".stripMargin,
    "x40_zipf_fit" ->
      s"""WITH c AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS n
         |           FROM (SELECT unnest($dTokens) AS token FROM documents)
         |           WHERE token <> '' GROUP BY token),
         |r AS (SELECT ROW_NUMBER() OVER (ORDER BY n DESC, token) AS rk, n FROM c),
         |p AS (SELECT ln(CAST(rk AS DOUBLE)) AS x, ln(CAST(n AS DOUBLE)) AS y
         |      FROM r WHERE rk <= 30),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |         CAST(SUM(CAST(x AS DECIMAL(24,12))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(y AS DECIMAL(24,12))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(x * y AS DECIMAL(24,12))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(x * x AS DECIMAL(24,12))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(y * y AS DECIMAL(24,12))) AS DOUBLE) AS syy
         |       FROM p)
         |SELECT CAST(n AS BIGINT) AS n_ranks,
         |  ${dRound6("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS slope,
         |  ${dRound6("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n")} AS intercept,
         |  ${dRound6("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS corr_xy
         |FROM st""".stripMargin,
    "x74_token_drift" -> {
      val lodds = "ln((CAST(ca + 1 AS DOUBLE) / CAST(na + v AS DOUBLE)) " +
        "/ (CAST(cb + 1 AS DOUBLE) / CAST(nb + v AS DOUBLE)))"
      s"""WITH rk AS (SELECT doc_id,
         |         CASE WHEN ROW_NUMBER() OVER (ORDER BY doc_id)
         |                   <= (COUNT(*) OVER ()) // 2 THEN 0 ELSE 1 END AS h
         |       FROM documents),
         |t2 AS (SELECT doc_id, token
         |       FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
         |       WHERE token <> ''),
         |per AS (SELECT token,
         |          CAST(SUM(CASE WHEN h = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |          CAST(SUM(CASE WHEN h = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |        FROM t2 JOIN rk USING (doc_id) GROUP BY token),
         |tot AS (SELECT CAST(SUM(ca) AS BIGINT) AS na, CAST(SUM(cb) AS BIGINT) AS nb,
         |          CAST(COUNT(*) AS BIGINT) AS v FROM per),
         |sc AS (SELECT token, ca, cb,
         |         ${dRound6(lodds)} AS lor,
         |         ${dRound6(s"$lodds / sqrt(1.0 / CAST(ca + 1 AS DOUBLE) + 1.0 / CAST(cb + 1 AS DOUBLE))")} AS z
         |       FROM per, tot)
         |SELECT rk, token, ca, cb, lor, z FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY abs(z) DESC, token) AS BIGINT) AS rk
         |  FROM sc)
         |WHERE rk <= 20 ORDER BY rk""".stripMargin
    },
    "x75_source_cap" ->
      s"""WITH q AS (SELECT doc_id, source,
         |         CAST(CAST(($dDistinctRatio) * $dLengthScore AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS qm
         |       FROM (SELECT doc_id, source, $dTokens AS tk FROM documents))
         |SELECT source, rk, doc_id, CAST(qm AS DOUBLE) / 1000000.0 AS quality
         |FROM (SELECT source, doc_id, qm,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY qm DESC, doc_id) AS BIGINT) AS rk
         |      FROM q)
         |WHERE rk <= 10 ORDER BY source, rk""".stripMargin,
    "x81_curriculum_order" ->
      s"""WITH q AS (SELECT doc_id, source,
         |         CAST(CAST(($dDistinctRatio) * $dLengthScore AS DECIMAL(16,6)) * 1000000 AS BIGINT) AS qm
         |       FROM (SELECT doc_id, source, $dTokens AS tk FROM documents)),
         |r AS (SELECT doc_id, source, qm,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY source
         |          ORDER BY qm DESC, doc_id) AS BIGINT) AS rk
         |      FROM q)
         |SELECT pos, doc_id, source, rk, CAST(qm AS DOUBLE) / 1000000.0 AS quality
         |FROM (SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY rk, source) AS BIGINT) AS pos
         |      FROM r)
         |WHERE pos <= 100 ORDER BY pos""".stripMargin,
    "x76_bpe_pairs" ->
      s"""WITH tf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS cnt
         |        FROM (SELECT unnest($dTokens) AS token FROM documents)
         |        WHERE token <> '' GROUP BY token),
         |p AS (SELECT unnest(list_transform(range(1, length(token)),
         |          i -> token[i:i+1])) AS pair, cnt
         |      FROM tf WHERE length(token) >= 2),
         |agg AS (SELECT pair, CAST(SUM(cnt) AS BIGINT) AS n_occ
         |        FROM p GROUP BY pair)
         |SELECT rk, pair, n_occ FROM (
         |  SELECT *, CAST(ROW_NUMBER() OVER (ORDER BY n_occ DESC, pair) AS BIGINT) AS rk
         |  FROM agg)
         |WHERE rk <= 20 ORDER BY rk""".stripMargin,
    "x72_script_profile" ->
      s"""SELECT doc_id, n_chars, n_alpha, n_digit, n_space,
         |  n_chars - n_alpha - n_digit - n_space AS n_other,
         |  ${dRound6("CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)")} AS alpha_frac,
         |  ${dRound6("CAST(n_chars - n_alpha - n_digit - n_space AS DOUBLE) / CAST(n_chars AS DOUBLE)")} AS other_frac,
         |  ${dRound6("CAST(n_alpha AS DOUBLE) / CAST(n_chars AS DOUBLE)")} >= 0.6 AS is_clean
         |FROM (SELECT doc_id,
         |        CAST(length(lt) AS BIGINT) AS n_chars,
         |        CAST(length(regexp_replace(lt, '[^a-z]', '', 'g')) AS BIGINT) AS n_alpha,
         |        CAST(length(regexp_replace(lt, '[^0-9]', '', 'g')) AS BIGINT) AS n_digit,
         |        CAST(length(regexp_replace(lt, '[^ ]', '', 'g')) AS BIGINT) AS n_space
         |      FROM (SELECT doc_id, lower(text) AS lt FROM documents))
         |ORDER BY doc_id""".stripMargin,
    "x71_heaps_law" ->
      s"""WITH toks AS (SELECT doc_id, unnest($dTokens) AS token FROM documents),
         |t2 AS (SELECT doc_id, token FROM toks WHERE token <> ''),
         |rk AS (SELECT doc_id,
         |         ((ROW_NUMBER() OVER (ORDER BY doc_id) - 1) * 10)
         |           // (COUNT(*) OVER ()) + 1 AS d
         |       FROM documents),
         |dt AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nt FROM t2 GROUP BY doc_id),
         |ap AS (SELECT d, CAST(SUM(COALESCE(nt, 0)) AS BIGINT) AS a
         |       FROM rk LEFT JOIN dt USING (doc_id) GROUP BY d),
         |fs AS (SELECT token, MIN(d) AS fd FROM t2 JOIN rk USING (doc_id) GROUP BY token),
         |vp AS (SELECT fd AS d, CAST(COUNT(*) AS BIGINT) AS v FROM fs GROUP BY fd),
         |per AS (SELECT ap.d, a, COALESCE(v, 0) AS v FROM ap LEFT JOIN vp ON ap.d = vp.d),
         |curve AS (SELECT d,
         |            CAST(SUM(a) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS ca,
         |            CAST(SUM(v) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cv
         |          FROM per),
         |pts AS (SELECT ln(CAST(ca AS DOUBLE)) AS x, ln(CAST(cv AS DOUBLE)) AS y, ca, cv
         |        FROM curve),
         |st AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n,
         |         CAST(SUM(CAST(x AS DECIMAL(24,12))) AS DOUBLE) AS sx,
         |         CAST(SUM(CAST(y AS DECIMAL(24,12))) AS DOUBLE) AS sy,
         |         CAST(SUM(CAST(x * y AS DECIMAL(24,12))) AS DOUBLE) AS sxy,
         |         CAST(SUM(CAST(x * x AS DECIMAL(24,12))) AS DOUBLE) AS sxx,
         |         CAST(SUM(CAST(y * y AS DECIMAL(24,12))) AS DOUBLE) AS syy,
         |         MAX(ca) AS tokens_total, MAX(cv) AS vocab_total
         |       FROM pts)
         |SELECT CAST(n AS BIGINT) AS n_points,
         |  ${dRound6("(n * sxy - sx * sy) / (n * sxx - sx * sx)")} AS beta,
         |  ${dRound6("(sy - ((n * sxy - sx * sy) / (n * sxx - sx * sx)) * sx) / n")} AS intercept,
         |  ${dRound6("(n * sxy - sx * sy) / sqrt((n * sxx - sx * sx) * (n * syy - sy * sy))")} AS corr_xy,
         |  tokens_total, vocab_total
         |FROM st""".stripMargin,
    "x39_passage_dedup" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |p AS (SELECT doc_id, i AS pidx,
         |        array_to_string(tk[CAST(i*16+1 AS BIGINT) : CAST(i*16+16 AS BIGINT)], ' ') AS passage
         |      FROM (SELECT doc_id, tk,
         |              unnest(range(0, CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS i
         |            FROM tkn)),
         |c AS (SELECT doc_id, pidx, ${dH("passage")} AS ph FROM p),
         |f AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS pf FROM c GROUP BY ph)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
         |  CAST(SUM(CASE WHEN pf > 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
         |  ${dRound6("CAST(SUM(CASE WHEN pf > 1 THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS dup_ratio
         |FROM c JOIN f USING (ph)
         |GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x60_passage_scrub" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |p AS (SELECT doc_id, i AS pidx,
         |        least(16, len(tk) - i * 16) AS ptok,
         |        ${dH("array_to_string(tk[CAST(i*16+1 AS BIGINT) : CAST(i*16+16 AS BIGINT)], ' ')")} AS ph
         |      FROM (SELECT doc_id, tk,
         |              unnest(range(0, CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS i
         |            FROM tkn)),
         |fd AS (SELECT ph, MIN(doc_id) AS fd FROM p GROUP BY ph),
         |fi AS (SELECT ph, doc_id, MIN(pidx) AS fi FROM p GROUP BY ph, doc_id),
         |k AS (SELECT p.doc_id, p.ptok,
         |        CASE WHEN p.doc_id = fd.fd AND p.pidx = fi.fi THEN 1 ELSE 0 END AS kept
         |      FROM p JOIN fd USING (ph) JOIN fi ON p.ph = fi.ph AND p.doc_id = fi.doc_id)
         |SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages,
         |  CAST(SUM(kept) AS BIGINT) AS n_kept,
         |  CAST(SUM(ptok) AS BIGINT) AS n_tokens,
         |  CAST(SUM(kept * ptok) AS BIGINT) AS kept_tokens,
         |  ${dRound6("CAST(SUM(ptok) - SUM(kept * ptok) AS DOUBLE) / CAST(SUM(ptok) AS DOUBLE)")} AS scrub_frac
         |FROM k GROUP BY doc_id ORDER BY doc_id""".stripMargin,
    "x66_dup_spans" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |p AS (SELECT doc_id, i AS pidx,
         |        ${dH("array_to_string(tk[CAST(i*16+1 AS BIGINT) : CAST(i*16+16 AS BIGINT)], ' ')")} AS ph
         |      FROM (SELECT doc_id, tk,
         |              unnest(range(0, CAST(ceil(len(tk) / 16.0) AS BIGINT))) AS i
         |            FROM tkn)),
         |freq AS (SELECT ph, CAST(COUNT(*) AS BIGINT) AS pf FROM p GROUP BY ph),
         |d AS (SELECT p.doc_id, p.pidx FROM p JOIN freq USING (ph) WHERE pf > 1),
         |g AS (SELECT doc_id, pidx,
         |        pidx - ROW_NUMBER() OVER (PARTITION BY doc_id ORDER BY pidx) AS grp
         |      FROM d),
         |sp AS (SELECT doc_id, grp, CAST(COUNT(*) AS BIGINT) AS span_len
         |       FROM g GROUP BY doc_id, grp),
         |pd AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_spans,
         |         MAX(span_len) AS max_span, SUM(span_len) AS nd
         |       FROM sp GROUP BY doc_id),
         |np AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_passages
         |       FROM p GROUP BY doc_id)
         |SELECT np.doc_id, n_passages,
         |  CAST(COALESCE(n_spans, 0) AS BIGINT) AS n_spans,
         |  CAST(COALESCE(max_span, 0) AS BIGINT) AS max_span,
         |  CAST(COALESCE(nd, 0) AS BIGINT) AS n_dup_passages
         |FROM np LEFT JOIN pd ON np.doc_id = pd.doc_id
         |ORDER BY np.doc_id""".stripMargin,
    "x38_sliding_chunks" ->
      s"""WITH tkn AS (SELECT doc_id, $dTokens AS tk FROM documents),
         |n1 AS (SELECT doc_id, tk, len(tk) AS n FROM tkn),
         |c AS (SELECT doc_id, tk, n,
         |        unnest(range(0, CAST(ceil(greatest(n - 64, 0) / 48.0) AS BIGINT) + 1)) AS ci
         |      FROM n1)
         |SELECT doc_id, CAST(ci AS BIGINT) AS chunk_idx,
         |  CAST(ci * 48 AS BIGINT) AS start_tok,
         |  CAST(least(64, n - ci * 48) AS BIGINT) AS n_tok,
         |  tk[CAST(ci * 48 + 1 AS BIGINT)] AS first_tok,
         |  tk[CAST(least(n, ci * 48 + 64) AS BIGINT)] AS last_tok
         |FROM c ORDER BY doc_id, chunk_idx""".stripMargin,
    "x43_bigram_logprob" ->
      s"""WITH tkn AS (SELECT doc_id, list_filter($dTokens, x -> x <> '') AS tk FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |          i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS gs
         |      FROM tkn),
         |bg AS (SELECT doc_id, split_part(g2, ' ', 1) AS prev, split_part(g2, ' ', 2) AS cur
         |       FROM (SELECT doc_id, unnest(gs) AS g2 FROM g)),
         |cbg AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS cbg FROM bg GROUP BY prev, cur),
         |cu AS (SELECT prev, CAST(COUNT(*) AS BIGINT) AS cu FROM bg GROUP BY prev),
         |sc AS (SELECT doc_id, -ln(CAST(cbg AS DOUBLE) / CAST(cu AS DOUBLE)) AS nll
         |       FROM bg JOIN cbg USING (prev, cur) JOIN cu USING (prev)),
         |ag AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_bigrams,
         |         CAST(SUM(CAST(nll AS DECIMAL(24,12))) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS m0
         |       FROM sc GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(n_bigrams, 0) AS n_bigrams,
         |  ${dRound6("COALESCE(m0, 0.0)")} AS mean_nll
         |FROM documents d LEFT JOIN ag ON d.doc_id = ag.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "x65_interpolated_lm" ->
      s"""$dJmChain
         |SELECT doc_id, n_bigrams, mean_nll_jm FROM jm
         |ORDER BY doc_id""".stripMargin,
    "x130_ppl_buckets" ->
      s"""$dJmChain,
         |jl AS (SELECT j.doc_id, d.lang, j.n_bigrams, j.mean_nll_jm
         |       FROM jm j JOIN documents d ON j.doc_id = d.doc_id),
         |rk AS (SELECT lang, n_bigrams, mean_nll_jm,
         |         CAST(ROW_NUMBER() OVER (PARTITION BY lang
         |           ORDER BY mean_nll_jm, doc_id) AS BIGINT) AS lrank,
         |         CAST(COUNT(*) OVER (PARTITION BY lang) AS BIGINT) AS n
         |       FROM jl),
         |bk AS (SELECT lang, n_bigrams, mean_nll_jm,
         |         CASE WHEN lrank <= (n % 3) * (n // 3 + 1)
         |           THEN (lrank - 1) // (n // 3 + 1) + 1
         |           ELSE (n % 3) + (lrank - (n % 3) * (n // 3 + 1) - 1)
         |                  // (n // 3) + 1 END AS bucket
         |       FROM rk)
         |SELECT lang, CAST(bucket AS BIGINT) AS bucket,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(n_bigrams) AS BIGINT) AS n_bigrams_total,
         |  MIN(mean_nll_jm) AS min_nll, MAX(mean_nll_jm) AS max_nll
         |FROM bk GROUP BY lang, bucket
         |ORDER BY lang, bucket""".stripMargin,
    "x44_dsir_weights" ->
      s"""WITH toks AS (SELECT doc_id, lang, ${dH("token")} % 64 AS b
         |              FROM (SELECT doc_id, lang, unnest(list_filter($dTokens, x -> x <> '')) AS token
         |                    FROM documents)),
         |cr AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS cr FROM toks GROUP BY b),
         |ct AS (SELECT b, CAST(COUNT(*) AS BIGINT) AS ct FROM toks WHERE lang = 'en' GROUP BY b),
         |tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS nr,
         |          CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT) AS nt
         |        FROM toks),
         |lr AS (SELECT b,
         |         ln((CAST(COALESCE(ct, 0) + 1 AS DOUBLE) / CAST(nt + 64 AS DOUBLE))
         |           / (CAST(cr + 1 AS DOUBLE) / CAST(nr + 64 AS DOUBLE))) AS lr
         |       FROM cr LEFT JOIN ct USING (b), tot),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_tok,
         |         CAST(SUM(CAST(lr AS DECIMAL(24,12))) AS DOUBLE) AS lw
         |       FROM toks JOIN lr USING (b) GROUP BY doc_id)
         |SELECT d.doc_id, d.lang, COALESCE(n_tok, 0) AS n_tok,
         |  ${dRound6("COALESCE(lw, 0.0)")} AS log_weight,
         |  COALESCE(lw, 0.0) > 0.0 AS target_like
         |FROM documents d LEFT JOIN sc ON d.doc_id = sc.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "x47_entropy_ttr" ->
      s"""WITH ch AS (SELECT doc_id, length(text) AS n, substr(text, CAST(i AS INTEGER), 1) AS ch
         |            FROM (SELECT doc_id, text, unnest(range(1, length(text)+1)) AS i
         |                  FROM documents WHERE length(text) > 0)),
         |cc AS (SELECT doc_id, ch, MAX(n) AS n, CAST(COUNT(*) AS BIGINT) AS c FROM ch GROUP BY doc_id, ch),
         |tm AS (SELECT doc_id, n, CAST(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)
         |         * ln(CAST(c AS DOUBLE) / CAST(n AS DOUBLE)) AS DECIMAL(24,12)) AS term FROM cc),
         |ent AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_char_types, MAX(n) AS n_chars, SUM(term) AS se
         |        FROM tm GROUP BY doc_id),
         |tok AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_types, CAST(SUM(tf) AS BIGINT) AS n_tok
         |        FROM (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |              FROM (SELECT doc_id, unnest(list_filter($dTokens, x -> x <> '')) AS token FROM documents)
         |              GROUP BY doc_id, token) GROUP BY doc_id)
         |SELECT d.doc_id,
         |  COALESCE(ent.n_chars, 0) AS n_chars,
         |  COALESCE(n_char_types, 0) AS n_char_types,
         |  ${dRound6("COALESCE(-CAST(se AS DOUBLE), 0.0)")} AS entropy,
         |  COALESCE(n_types, 0) AS n_types,
         |  COALESCE(n_tok, 0) AS n_tok,
         |  ${dRound6("CASE WHEN COALESCE(n_tok, 0) > 0 THEN CAST(n_types AS DOUBLE) / CAST(n_tok AS DOUBLE) ELSE 0.0 END")} AS ttr
         |FROM documents d LEFT JOIN ent ON d.doc_id = ent.doc_id
         |                 LEFT JOIN tok ON d.doc_id = tok.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "x45_length_mad" ->
      """WITH base AS (
        |  SELECT doc_id, source, n_chars,
        |    CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY n_chars, doc_id) AS BIGINT) AS rn,
        |    CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
        |  FROM documents),
        |med AS (SELECT source, n_chars AS med FROM base
        |        WHERE rn = CAST(ceil(0.5 * n) AS BIGINT)),
        |ad AS (SELECT base.*, med, abs(n_chars - med) AS ad,
        |         CAST(ROW_NUMBER() OVER (PARTITION BY base.source
        |           ORDER BY abs(n_chars - med), doc_id) AS BIGINT) AS rn2
        |       FROM base JOIN med USING (source)),
        |mad AS (SELECT source, ad AS mad FROM ad
        |        WHERE rn2 = CAST(ceil(0.5 * n) AS BIGINT))
        |SELECT source, MAX(med) AS med, MAX(mad) AS mad,
        |  CAST(COUNT(*) AS BIGINT) AS n_docs,
        |  CAST(SUM(CASE WHEN ad.ad > 3 * mad.mad THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
        |FROM ad JOIN mad USING (source)
        |GROUP BY source ORDER BY source""".stripMargin,
    "x59_source_quality_gate" ->
      s"""WITH q AS (SELECT doc_id, source,
         |    ${dRound6(s"($dDistinctRatio) * $dLengthScore")} AS quality
         |  FROM (SELECT doc_id, source, $dTokens AS tk FROM documents)),
         |r AS (SELECT *,
         |        CAST(ROW_NUMBER() OVER (PARTITION BY source ORDER BY quality, doc_id) AS BIGINT) AS rn,
         |        CAST(COUNT(*) OVER (PARTITION BY source) AS BIGINT) AS n
         |      FROM q),
         |thr AS (SELECT source, quality AS thr FROM r
         |        WHERE rn = CAST(ceil(0.4 * n) AS BIGINT))
         |SELECT q.source, MAX(thr) AS q40_threshold,
         |  CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
         |  ${dRound6("CAST(SUM(CASE WHEN quality >= thr THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS kept_frac
         |FROM q JOIN thr USING (source)
         |GROUP BY q.source ORDER BY q.source""".stripMargin,
    "x69_token_budget" ->
      s"""WITH q AS (SELECT doc_id, CAST(len(tk) AS BIGINT) AS n_tokens,
         |    ${dRound6(s"($dDistinctRatio) * $dLengthScore")} AS quality
         |  FROM (SELECT doc_id, $dTokens AS tk FROM documents)),
         |c AS (SELECT doc_id, quality, n_tokens,
         |        CAST(ROW_NUMBER() OVER (ORDER BY quality DESC, doc_id) AS BIGINT) AS rk,
         |        CAST(SUM(n_tokens) OVER (ORDER BY quality DESC, doc_id
         |          ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum,
         |        CAST(SUM(n_tokens) OVER () AS BIGINT) AS tot
         |      FROM q)
         |SELECT doc_id, quality, n_tokens, rk, cum AS cum_tokens
         |FROM c WHERE cum <= tot // 2 ORDER BY doc_id""".stripMargin,
    "x83_token_fertility" ->
      s"""WITH c AS (SELECT lang,
         |    CAST(len(regexp_extract_all(lower(text), '[a-z]+')) AS BIGINT)
         |      + CAST(len(regexp_extract_all(lower(text), '[0-9]+')) AS BIGINT)
         |      + CAST(len(regexp_extract_all(lower(text), '[^a-z0-9\\s]')) AS BIGINT) AS nb,
         |    CAST(len(list_filter($dTokens, x -> x <> '')) AS BIGINT) AS nw,
         |    CAST(length(text) AS BIGINT) AS nc
         |  FROM documents)
         |SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  CAST(SUM(nw) AS BIGINT) AS n_ws_tokens,
         |  CAST(SUM(nb) AS BIGINT) AS n_bpeish_tokens,
         |  CAST(SUM(nc) AS BIGINT) AS n_chars,
         |  ${dRound6("CASE WHEN SUM(nw) > 0 THEN CAST(SUM(nb) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) ELSE 0.0 END")} AS fertility,
         |  ${dRound6("CASE WHEN SUM(nw) > 0 THEN CAST(SUM(nc) AS DOUBLE) / CAST(SUM(nw) AS DOUBLE) ELSE 0.0 END")} AS chars_per_token
         |FROM c GROUP BY lang ORDER BY lang""".stripMargin,
    "x85_oov_rate" ->
      s"""WITH tf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |      FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
         |      WHERE token <> '' GROUP BY doc_id, token),
         |cnt AS (SELECT token, SUM(tf) AS n FROM tf GROUP BY token),
         |vocab AS (SELECT token FROM cnt ORDER BY n DESC, token LIMIT 16),
         |st AS (SELECT d.source, tf.token, CAST(SUM(tf) AS BIGINT) AS c
         |       FROM tf JOIN documents d USING (doc_id)
         |       GROUP BY d.source, tf.token)
         |SELECT source, CAST(SUM(c) AS BIGINT) AS n_tokens,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN c ELSE 0 END) AS BIGINT) AS n_oov_tokens,
         |  ${dRound6("CAST(SUM(CASE WHEN v.token IS NULL THEN c ELSE 0 END) AS DOUBLE) / CAST(SUM(c) AS DOUBLE)")} AS oov_rate,
         |  CAST(COUNT(*) AS BIGINT) AS n_types,
         |  CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_oov_types,
         |  ${dRound6("CAST(SUM(CASE WHEN v.token IS NULL THEN 1 ELSE 0 END) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS type_oov_rate
         |FROM st LEFT JOIN vocab v USING (token)
         |GROUP BY source ORDER BY source""".stripMargin,
    "x86_rendezvous_shards" ->
      s"""WITH sc AS (SELECT doc_id,
         |        list_transform(range(0, 8),
         |          w -> ${dH("concat(CAST(doc_id AS VARCHAR), ':', CAST(w AS VARCHAR))")}) AS sc
         |      FROM documents),
         |m AS (SELECT doc_id, sc, list_max(sc) AS m8, list_max(sc[1:7]) AS m7 FROM sc),
         |asg AS (SELECT doc_id,
         |          list_filter(range(0, 8), w -> sc[w + 1] = m8)[1] AS a8,
         |          list_filter(range(0, 7), w -> sc[w + 1] = m7)[1] AS a7
         |        FROM m),
         |u AS (SELECT a8 AS worker, 1::BIGINT AS c8, 0::BIGINT AS c7, 0::BIGINT AS cg FROM asg
         |      UNION ALL
         |      SELECT a7, 0, 1, CASE WHEN a8 = 7 THEN 1 ELSE 0 END FROM asg)
         |SELECT CAST(worker AS BIGINT) AS worker,
         |  CAST(SUM(c8) AS BIGINT) AS n_assigned_8,
         |  CAST(SUM(c7) AS BIGINT) AS n_assigned_7,
         |  CAST(SUM(cg) AS BIGINT) AS n_gained,
         |  ${dRound6("CASE WHEN SUM(c7) > 0 THEN CAST(SUM(cg) AS DOUBLE) / CAST(SUM(c7) AS DOUBLE) ELSE 0.0 END")} AS gained_frac
         |FROM u GROUP BY worker ORDER BY worker""".stripMargin,
    "x89_source_psi" -> {
      val chain = (1 to 10).map(i => s"ts[$i]").mkString(" + ")
      s"""WITH d AS (SELECT source, doc_id % 2 AS half,
         |        LEAST(n_chars // 60, 9) AS bin FROM documents),
         |c AS (SELECT source, bin,
         |        CAST(SUM(CASE WHEN half = 0 THEN 1 ELSE 0 END) AS BIGINT) AS ca,
         |        CAST(SUM(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS cb
         |      FROM d GROUP BY source, bin),
         |g AS (SELECT source, r.range AS bin
         |      FROM (SELECT DISTINCT source FROM documents), range(0, 10) r),
         |f AS (SELECT g.source, g.bin,
         |        COALESCE(ca, 0) AS ca, COALESCE(cb, 0) AS cb
         |      FROM g LEFT JOIN c ON g.source = c.source AND g.bin = c.bin),
         |w AS (SELECT source, bin, ca, cb,
         |        SUM(ca) OVER (PARTITION BY source) AS na,
         |        SUM(cb) OVER (PARTITION BY source) AS nb
         |      FROM f),
         |p AS (SELECT source, bin, na, nb,
         |        (CAST(ca AS DOUBLE) + 1.0) / (CAST(na AS DOUBLE) + 10.0) AS pa,
         |        (CAST(cb AS DOUBLE) + 1.0) / (CAST(nb AS DOUBLE) + 10.0) AS pb
         |      FROM w),
         |arr AS (SELECT source, MAX(na) AS na, MAX(nb) AS nb,
         |          list((pa - pb) * ln(pa / pb) ORDER BY bin) AS ts
         |        FROM p GROUP BY source)
         |SELECT source, CAST(na AS BIGINT) AS n_first,
         |  CAST(nb AS BIGINT) AS n_second,
         |  ${dRound6(s"$chain")} AS psi
         |FROM arr ORDER BY source""".stripMargin
    },
    "x90_bm25" -> {
      val term = "ln(1.0 + (CAST(n_docs AS DOUBLE) - CAST(df AS DOUBLE) + 0.5) / (CAST(df AS DOUBLE) + 0.5))" +
        " * (CAST(tf AS DOUBLE) * 2.2)" +
        " / (CAST(tf AS DOUBLE) + 1.2 * (0.25 + 0.75 * CAST(dl AS DOUBLE) / avgdl))"
      s"""WITH tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
         |  WHERE token <> '' GROUP BY doc_id, token),
         |dl AS (SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS dl FROM tf GROUP BY doc_id),
         |ad AS (SELECT CAST(SUM(dl) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) AS avgdl FROM dl),
         |qtf AS (SELECT * FROM tf WHERE token IN ('spark', 'window', 'merge', 'vector', 'hash')),
         |df AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df FROM qtf GROUP BY token),
         |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
         |sc AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS n_terms,
         |         CAST(SUM(CAST($term AS DECIMAL(24,12))) AS DOUBLE) AS score0
         |       FROM qtf JOIN df USING (token) JOIN dl USING (doc_id), n, ad
         |       GROUP BY doc_id),
         |r AS (SELECT doc_id, n_terms, ${dRound6("score0")} AS score_r FROM sc)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY score_r DESC, doc_id) AS BIGINT) AS rk,
         |  doc_id, n_terms, score_r
         |FROM r ORDER BY score_r DESC, doc_id LIMIT 20""".stripMargin
    },
    "x91_feature_hash" ->
      s"""WITH tf AS (
         |  SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
         |  WHERE token <> '' GROUP BY doc_id, token),
         |pd AS (SELECT doc_id, ${dH("token")} & 63 AS dim,
         |         CAST(SUM(CASE WHEN (${dH("concat('fs_', token)")} & 1) = 1
         |                       THEN tf ELSE -tf END) AS BIGINT) AS w
         |       FROM tf GROUP BY 1, 2),
         |nz AS (SELECT * FROM pd WHERE w <> 0),
         |agg AS (SELECT doc_id, CAST(COUNT(*) AS BIGINT) AS nnz,
         |          CAST(SUM(w * w) AS BIGINT) AS ssq,
         |          CAST(SUM(dim * w) AS BIGINT) AS chk
         |        FROM nz GROUP BY doc_id)
         |SELECT d.doc_id, COALESCE(nnz, 0) AS nnz,
         |  ${dRound6("sqrt(CAST(COALESCE(ssq, 0) AS DOUBLE))")} AS l2_r,
         |  COALESCE(chk, 0) AS chk
         |FROM documents d LEFT JOIN agg ON d.doc_id = agg.doc_id
         |ORDER BY d.doc_id""".stripMargin,
    "x92_pmi_collocations" -> {
      val pmi = "ln((CAST(c_ab AS DOUBLE) / CAST(b_tot AS DOUBLE)) / " +
        "((CAST(a.c_u AS DOUBLE) / CAST(u_tot AS DOUBLE)) * (CAST(b.c_u AS DOUBLE) / CAST(u_tot AS DOUBLE))))"
      s"""WITH tkn AS (SELECT doc_id, list_filter($dTokens, x -> x <> '') AS tk FROM documents),
         |g AS (SELECT doc_id,
         |        CASE WHEN len(tk) >= 2 THEN list_transform(range(1, len(tk)),
         |          i -> tk[i] || ' ' || tk[i+1]) ELSE [] END AS gs
         |      FROM tkn),
         |bg AS (SELECT split_part(g2, ' ', 1) AS prev, split_part(g2, ' ', 2) AS cur
         |       FROM (SELECT doc_id, unnest(gs) AS g2 FROM g)),
         |cbg AS (SELECT prev, cur, CAST(COUNT(*) AS BIGINT) AS c_ab
         |        FROM bg GROUP BY prev, cur HAVING COUNT(*) >= 5),
         |uni AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS c_u
         |        FROM (SELECT unnest($dTokens) AS token FROM documents)
         |        WHERE token <> '' GROUP BY token),
         |ut AS (SELECT CAST(SUM(c_u) AS BIGINT) AS u_tot FROM uni),
         |bt AS (SELECT CAST(COUNT(*) AS BIGINT) AS b_tot FROM bg),
         |sc AS (SELECT prev, cur, c_ab, ${dRound6(pmi)} AS pmi_r
         |       FROM cbg JOIN uni a ON cbg.prev = a.token
         |                JOIN uni b ON cbg.cur = b.token, ut, bt)
         |SELECT CAST(ROW_NUMBER() OVER (ORDER BY pmi_r DESC, prev, cur) AS BIGINT) AS rk,
         |  prev, cur, c_ab, pmi_r
         |FROM sc ORDER BY pmi_r DESC, prev, cur LIMIT 20""".stripMargin
    },
    "x94_linear_probe" ->
      s"""$probeTrainWith
         |SELECT dim, CAST(w AS DOUBLE) AS w_r FROM w3 ORDER BY dim""".stripMargin,
    "x97_bpe_merges" ->
      s"""$bpeTrainWith
         |SELECT step, a AS left_sym, b AS right_sym, a || b AS merged, cnt AS pair_count
         |FROM (SELECT CAST(1 AS BIGINT) AS step, * FROM m1
         |      UNION ALL SELECT CAST(2 AS BIGINT), * FROM m2
         |      UNION ALL SELECT CAST(3 AS BIGINT), * FROM m3)
         |ORDER BY step""".stripMargin,
    "x98_bpe_segment" ->
      s"""$bpeTrainWith,
         |fin AS (SELECT word, freq, list_transform(
         |          list_filter(string_split(seg, chr(1)), p -> p <> ''),
         |          p -> substring(p, 1, length(p) - 1)) AS syms
         |        FROM v3)
         |SELECT word, freq, CAST(length(word) AS BIGINT) AS n_chars,
         |  CAST(len(syms) AS BIGINT) AS n_pieces,
         |  array_to_string(syms, ' ') AS pieces
         |FROM fin ORDER BY word""".stripMargin,
    "x100_bpe_stream" ->
      s"""$bpeTrainWith,
         |stf AS (SELECT doc_id, token, CAST(COUNT(*) AS BIGINT) AS tf
         |  FROM (SELECT doc_id, unnest($dTokens) AS token FROM documents)
         |  WHERE token <> '' AND NOT contains(token, chr(1))
         |    AND NOT contains(token, chr(2))
         |  GROUP BY doc_id, token),
         |sseg AS (SELECT doc_id, tf,
         |    replace(replace(replace(
         |      array_to_string(list_transform(range(1, length(token) + 1),
         |        i -> chr(1) || token[i] || chr(2)), ''),
         |      chr(1) || m1.a || chr(2) || chr(1) || m1.b || chr(2),
         |      chr(1) || m1.a || m1.b || chr(2)),
         |      chr(1) || m2.a || chr(2) || chr(1) || m2.b || chr(2),
         |      chr(1) || m2.a || m2.b || chr(2)),
         |      chr(1) || m3.a || chr(2) || chr(1) || m3.b || chr(2),
         |      chr(1) || m3.a || m3.b || chr(2)) AS seg
         |  FROM stf, m1, m2, m3),
         |cnt AS (SELECT doc_id, tf,
         |    CAST(len(list_filter(string_split(seg, chr(1)), p -> p <> '')) AS BIGINT) AS np
         |  FROM sseg)
         |SELECT doc_id, CAST(SUM(tf) AS BIGINT) AS n_tokens,
         |  CAST(SUM(np * tf) AS BIGINT) AS n_pieces,
         |  ${dRound6("CAST(SUM(np * tf) AS DOUBLE) / CAST(SUM(tf) AS DOUBLE)")} AS fertility_r
         |FROM cnt GROUP BY doc_id ORDER BY doc_id""".stripMargin,

    "x125_uncertainty_batch" ->
      s"""$probeTrainWith,
         |zf AS (SELECT l.doc_id, l.y,
         |    CAST(COALESCE(s.zs, CAST(0 AS DECIMAL(16,6))) + b.wb AS DOUBLE) AS z
         |  FROM lbl l
         |  LEFT JOIN (SELECT doc_id, SUM(w * x) AS zs
         |             FROM feats JOIN w3 USING (dim) WHERE dim >= 0
         |             GROUP BY doc_id) s ON l.doc_id = s.doc_id,
         |  (SELECT w AS wb FROM w3 WHERE dim = -1) b),
         |pf AS (SELECT doc_id, y,
         |    CAST(0.5 AS DOUBLE) * (CAST(1 AS DOUBLE) + z / (CAST(1 AS DOUBLE) + abs(z))) AS p
         |  FROM zf),
         |g AS (SELECT doc_id, y, p,
         |    CAST(0.5 AS DOUBLE) - abs(p - CAST(0.5 AS DOUBLE)) AS cg FROM pf)
         |SELECT CAST(rk AS BIGINT) AS rk, doc_id,
         |  ${dRound6("p")} AS p_score,
         |  ${dRound6("abs(p - CAST(0.5 AS DOUBLE))")} AS margin, y
         |FROM (SELECT doc_id, y, p,
         |        ROW_NUMBER() OVER (ORDER BY cg DESC, doc_id) AS rk FROM g)
         |WHERE rk <= 20
         |ORDER BY rk""".stripMargin,
    "x95_probe_calibration" ->
      s"""$probeTrainWith,
         |zf AS (SELECT l.doc_id, l.y,
         |    CAST(COALESCE(s.zs, CAST(0 AS DECIMAL(16,6))) + b.wb AS DOUBLE) AS z
         |  FROM lbl l
         |  LEFT JOIN (SELECT doc_id, SUM(w * x) AS zs
         |             FROM feats JOIN w3 USING (dim) WHERE dim >= 0
         |             GROUP BY doc_id) s ON l.doc_id = s.doc_id,
         |  (SELECT w AS wb FROM w3 WHERE dim = -1) b),
         |pf AS (SELECT doc_id, y,
         |    CAST(0.5 AS DOUBLE) * (CAST(1 AS DOUBLE) + z / (CAST(1 AS DOUBLE) + abs(z))) AS p
         |  FROM zf),
         |bn AS (SELECT LEAST(CAST(9 AS BIGINT), CAST(floor(p * 10.0) AS BIGINT)) AS bin,
         |         y, CAST(p AS DECIMAL(24,12)) AS pd FROM pf)
         |SELECT bin, CAST(COUNT(*) AS BIGINT) AS n_docs,
         |  ${dRound6("CAST(SUM(pd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS mean_p,
         |  CAST(SUM(y) AS BIGINT) AS n_pos,
         |  ${dRound6("CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE)")} AS frac_pos,
         |  ${dRound6("abs(CAST(SUM(pd) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE) - CAST(SUM(y) AS DOUBLE) / CAST(COUNT(*) AS DOUBLE))")} AS gap
         |FROM bn GROUP BY bin ORDER BY bin""".stripMargin,
    "x117_probe_auc" ->
      s"""$probeTrainWith,
         |zf AS (SELECT l.doc_id, l.y,
         |    CAST(COALESCE(s.zs, CAST(0 AS DECIMAL(16,6))) + b.wb AS DOUBLE) AS z
         |  FROM lbl l
         |  LEFT JOIN (SELECT doc_id, SUM(w * x) AS zs
         |             FROM feats JOIN w3 USING (dim) WHERE dim >= 0
         |             GROUP BY doc_id) s ON l.doc_id = s.doc_id,
         |  (SELECT w AS wb FROM w3 WHERE dim = -1) b),
         |pf AS (SELECT doc_id, y,
         |    CAST(0.5 AS DOUBLE) * (CAST(1 AS DOUBLE) + z / (CAST(1 AS DOUBLE) + abs(z))) AS p
         |  FROM zf),
         |byp AS (SELECT p, CAST(COUNT(*) AS BIGINT) AS n,
         |          CAST(SUM(y) AS BIGINT) AS npos
         |        FROM pf GROUP BY p),
         |cm AS (SELECT n, npos,
         |    SUM(n) OVER (ORDER BY p ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS c
         |  FROM byp),
         |ag AS (SELECT SUM(npos) AS np, SUM(n - npos) AS nn,
         |         SUM(npos * (2 * (c - n) + n + 1)) AS r2 FROM cm)
         |SELECT CAST(np AS BIGINT) AS n_pos, CAST(nn AS BIGINT) AS n_neg,
         |  ${dRound6("CAST(r2 - np * (np + 1) AS DOUBLE) / (CAST(2 AS DOUBLE) * CAST(np AS DOUBLE) * CAST(nn AS DOUBLE))")} AS auc,
         |  ${dRound6("CAST(r2 - np * (np + 1) AS DOUBLE) / (CAST(np AS DOUBLE) * CAST(nn AS DOUBLE)) - CAST(1 AS DOUBLE)")} AS gini
         |FROM ag""".stripMargin,
    "x104_priority_sample" ->
      s"""WITH pri AS (
         |  SELECT doc_id, lang, source, n_chars,
         |    CAST(n_chars AS DOUBLE) * CAST(4294967296 AS DOUBLE) /
         |      (CAST((${dH("concat('ps:', doc_id)")} & 4294967295) AS DOUBLE)
         |       + CAST(0.5 AS DOUBLE)) AS pri
         |  FROM documents),
         |top AS (SELECT * FROM pri ORDER BY pri DESC, doc_id LIMIT 101),
         |tau AS (SELECT MIN(pri) AS tau FROM top)
         |SELECT doc_id, lang, source, n_chars,
         |  CAST(CAST(pri AS DECIMAL(24,6)) AS DOUBLE) AS priority,
         |  CAST(CAST(greatest(CAST(n_chars AS DOUBLE), tau) AS DECIMAL(24,6)) AS DOUBLE) AS est_w
         |FROM (SELECT * FROM top ORDER BY pri DESC, doc_id LIMIT 100) s
         |CROSS JOIN tau
         |ORDER BY doc_id""".stripMargin,
    "x105_textrank" -> {
      val iters = (1 to 5).map { k =>
        s"""s$k AS (SELECT en.dst AS token,
           |    CAST(0.15 AS DOUBLE) + CAST(0.85 AS DOUBLE) * SUM(en.p * s${k - 1}.score) AS score
           |  FROM en JOIN s${k - 1} ON en.src = s${k - 1}.token GROUP BY en.dst)""".stripMargin
      }.mkString(",\n")
      s"""WITH tkn AS (SELECT list_filter($dTokens, x -> x <> '') AS tk FROM documents),
         |prs AS (SELECT pr.a AS a, pr.b AS b FROM (
         |    SELECT UNNEST(list_transform(range(1, len(tk)),
         |      i -> {'a': tk[i], 'b': tk[i+1]})) AS pr FROM tkn)
         |  WHERE pr.a <> pr.b),
         |und AS (SELECT a AS src, b AS dst FROM prs
         |        UNION ALL SELECT b, a FROM prs),
         |edges AS (SELECT src, dst, CAST(COUNT(*) AS BIGINT) AS w FROM und GROUP BY 1, 2),
         |strg AS (SELECT src, CAST(SUM(w) AS BIGINT) AS strength FROM edges GROUP BY 1),
         |en AS (SELECT e.src, e.dst, CAST(e.w AS DOUBLE) / CAST(s.strength AS DOUBLE) AS p
         |       FROM edges e JOIN strg s ON e.src = s.src),
         |s0 AS (SELECT src AS token, CAST(1 AS DOUBLE) AS score FROM strg),
         |$iters
         |SELECT token, ${dRound6("score")} AS score FROM s5
         |ORDER BY score DESC, token LIMIT 20""".stripMargin
    },

    // exact leg closed-form; the contract booleans are TRUE by the GK
    // guarantee (any FALSE is a real sketch-contract violation and
    // SHOULD fail the gate)
    "x118_sketch_calibration" ->
      """WITH v AS (SELECT n_chars, COUNT(*) AS cnt FROM documents GROUP BY 1),
        |c AS (SELECT n_chars, SUM(cnt) OVER (ORDER BY n_chars) AS cum FROM v),
        |n AS (SELECT COUNT(*) AS nn FROM documents),
        |qs AS (SELECT UNNEST([0.25, 0.5, 0.75, 0.9, 0.99]::DOUBLE[]) AS q)
        |SELECT qs.q AS q,
        |  CAST(MIN(c.n_chars) AS BIGINT) AS exact_disc,
        |  TRUE AS within_bound
        |FROM qs, n, c
        |WHERE c.cum >= CEIL(qs.q * n.nn)
        |GROUP BY qs.q ORDER BY q""".stripMargin,
  )

  /** The BPE training replay as a DuckDB WITH-chain (through `m1..m3`,
    * the merge picks, and `v3`, the post-merge segmentation) — shared
    * by the x97 and x98 oracles so the learner and the segmenter can
    * never drift. One merge iteration: pair counts over the current
    * segmentation, argmax (count desc, pair asc), greedy re-segment via
    * replace on the marker-wrapped form — unrolled 3× like x94's
    * epochs. */
  private lazy val bpeTrainWith: String = {
    def it(k: Int): String = {
      val pw = s"v${k - 1}"
      s"""p$k AS (SELECT pr[1] AS a, pr[2] AS b, CAST(SUM(freq) AS BIGINT) AS cnt
         |  FROM (SELECT freq, unnest(list_transform(range(1, len(syms)),
         |          i -> [syms[i], syms[i+1]])) AS pr
         |        FROM (SELECT freq, list_transform(
         |                list_filter(string_split(seg, chr(1)), p -> p <> ''),
         |                p -> substring(p, 1, length(p) - 1)) AS syms
         |              FROM $pw)
         |        WHERE len(syms) >= 2)
         |  GROUP BY 1, 2),
         |m$k AS (SELECT a, b, cnt FROM
         |  (SELECT a, b, cnt, ROW_NUMBER() OVER (ORDER BY cnt DESC, a, b) AS r
         |   FROM p$k) WHERE r = 1),
         |v$k AS (SELECT word, freq,
         |    replace(seg, chr(1) || m.a || chr(2) || chr(1) || m.b || chr(2),
         |            chr(1) || m.a || m.b || chr(2)) AS seg
         |  FROM $pw, m$k m)""".stripMargin
    }
    s"""WITH wf AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS freq
       |  FROM (SELECT unnest($dTokens) AS token FROM documents)
       |  WHERE token <> '' AND NOT contains(token, chr(1))
       |    AND NOT contains(token, chr(2))
       |  GROUP BY token),
       |v0 AS (SELECT token AS word, freq,
       |    array_to_string(list_transform(range(1, length(token) + 1),
       |      i -> chr(1) || token[i] || chr(2)), '') AS seg
       |  FROM wf),
       |${(1 to 3).map(it).mkString(",\n")}""".stripMargin
  }

  /** The x94 probe's training replay as a DuckDB WITH-chain (through
    * `w3`, the 3-epoch weights) — shared by the x94 and x95 oracles so
    * the trainer and its consumers can never drift. */
  private lazy val probeTrainWith: String = {
    def ep(k: Int): String = {
      val pw = s"w${k - 1}"
      s"""z$k AS (SELECT l.doc_id, l.y,
         |    CAST(COALESCE(s.zs, CAST(0 AS DECIMAL(16,6))) + b.wb AS DOUBLE) AS z
         |  FROM lbl l
         |  LEFT JOIN (SELECT doc_id, SUM(w * x) AS zs
         |             FROM feats JOIN $pw USING (dim) WHERE dim >= 0
         |             GROUP BY doc_id) s ON l.doc_id = s.doc_id,
         |  (SELECT w AS wb FROM $pw WHERE dim = -1) b),
         |p$k AS (SELECT doc_id, y,
         |    CAST(0.5 AS DOUBLE) * (CAST(1 AS DOUBLE) + z / (CAST(1 AS DOUBLE) + abs(z))) AS p
         |  FROM z$k),
         |g$k AS (SELECT dim, SUM(CAST((p - y) * CAST(x AS DOUBLE) AS DECIMAL(24,12))) AS gs
         |  FROM feats JOIN p$k USING (doc_id) GROUP BY dim
         |  UNION ALL
         |  SELECT CAST(-1 AS BIGINT), SUM(CAST(p - y AS DECIMAL(24,12))) FROM p$k),
         |w$k AS (SELECT pv.dim,
         |    CAST(CAST(pv.w AS DOUBLE) - CAST(1 AS DOUBLE) * CAST(COALESCE(g.gs, CAST(0 AS DECIMAL(24,12))) AS DOUBLE) / CAST(n.n_docs AS DOUBLE) AS DECIMAL(16,6)) AS w
         |  FROM $pw pv LEFT JOIN g$k g ON pv.dim = g.dim, n)""".stripMargin
    }
    s"""WITH tkn AS (SELECT doc_id, list_filter($dTokens, x -> x <> '') AS tk FROM documents),
       |g0 AS (SELECT doc_id, CASE WHEN len(tk) >= 2 THEN
       |         list_transform(range(1, len(tk)), i -> tk[i] || ' ' || tk[i+1])
       |       ELSE [] END AS gs FROM tkn),
       |btf AS (SELECT doc_id, bg, CAST(COUNT(*) AS BIGINT) AS tf
       |        FROM (SELECT doc_id, unnest(gs) AS bg FROM g0) GROUP BY 1, 2),
       |feats AS (SELECT * FROM (
       |  SELECT doc_id, ${dH("bg")} & 255 AS dim,
       |    CAST(SUM(CASE WHEN (${dH("concat('fs_', bg)")} & 1) = 1
       |                  THEN tf ELSE -tf END) AS BIGINT) AS x
       |  FROM btf GROUP BY 1, 2) WHERE x <> 0),
       |lbl AS (SELECT doc_id,
       |    CASE WHEN lang = 'en' THEN CAST(1 AS DOUBLE) ELSE CAST(0 AS DOUBLE) END AS y
       |  FROM documents),
       |n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_docs FROM documents),
       |w0 AS (SELECT CAST(range AS BIGINT) AS dim, CAST(0 AS DECIMAL(16,6)) AS w
       |       FROM range(-1, 256)),
       |${(1 to 3).map(ep).mkString(",\n")}""".stripMargin
  }
}
