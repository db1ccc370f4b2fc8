package graft.llm

/** Shared Spark-SQL / DuckDB-SQL fragment builders for the [EXT]
  * LLM-data-pipeline operators (SURVEY.md §2.7).
  *
  * Every operator here ships BOTH a Spark plan and a DuckDB oracle that
  * must hash-match, so all hashing/tokenizing/rounding primitives are
  * chosen to be bit-identical across the two engines:
  *
  *  - h64: 60-bit hash = first 15 hex chars of md5, parsed base-16.
  *    md5 of a UTF-8 string is engine-independent; 15 hex digits fit a
  *    signed 64-bit int. Spark `conv(...,16,10)` ≡ DuckDB '0x..' cast.
  *  - tokens: lowercase, trim, split on `\s+` — same regex semantics.
  *  - score rounding: `cast(double as decimal(p,s)) → double`. Every
  *    finite double is a dyadic rational, and a dyadic rational can
  *    never fall exactly on a decimal rounding tie (it would need a
  *    factor of 5 in the denominator), so correctly-rounded decimal
  *    casts agree between engines bit-for-bit — unlike `round()`, whose
  *    tie/implementation behavior differs.
  *  - double folds (dot products, norms): both sides evaluate a
  *    left-to-right chain over the same 64 array slots, so the IEEE
  *    operation sequence is identical.
  */
object Frag {
  // ── hash primitive ──
  def sH(x: String): String =
    s"cast(conv(substring(md5($x), 1, 15), 16, 10) as bigint)"
  def dH(x: String): String =
    s"CAST(concat('0x', substring(md5($x),1,15)) AS BIGINT)"

  // ── tokenization (documents.text) ──
  val sTokens = """split(trim(lower(text)), '\\s+')"""
  val dTokens = """string_split_regex(trim(lower(text)), '\s+')"""

  /** DuckDB: distinct 3-word shingles from a token-array column `tk`. */
  val dShingles: String =
    """list_distinct(list_transform(range(1, greatest(len(tk)-2,0)+1),
      |  i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))""".stripMargin

  /** The shingle projection over a `text` column: the fused kernel
    * (plans.Shingles3 — distinct 3-word shingles of [[sTokens]], in
    * first-seen order; Round20Spec pins it to the composable HOF chain).
    * Shared by the equality-only shingle consumers (x48/x57/x64).
    *
    * DECISION RECORD (round 14, a shingle-key study at the 100× decade,
    * interleaved A/B ×3; its main is in git history): keys cross these
    * exchanges as RAW STRINGS, not 60-bit hashes. Hashing-at-generation
    * was measured and REJECTED — x64 19.3 s (fused strings) vs 26.0 s
    * (fused hashes), x48 22.4 vs 28.8 — because on a duplication-heavy corpus the
    * map-side partial aggregation collapses the shingle exchange
    * before it ships, so the md5 per instance is pure added CPU with
    * nothing left to save. The fused STRING shingler is the part that
    * pays (22.4 s HOF → 19.3 s fused on x64). */
  val sShinglesText = "shingles3(text)"

  /** SQL let-binding: evaluate `bind` ONCE per row and reference it as
    * lambda variable `v` in `body`. Catalyst's CollapseProject inlines
    * projection aliases into their consumers, and inside interpreted
    * higher-order-function lambdas an inlined expensive expression
    * (e.g. a regex split) re-evaluates per array element; wrapping the
    * binding in a single-element transform makes it a lambda variable,
    * which is bound once. */
  def sLet(bind: String, v: String, body: String): String =
    s"element_at(transform(array($bind), $v -> $body), 1)"

  /** Distinct 8-gram shingles from a token-array column named `tk`
    * (contamination scans use long n-grams for precision). */
  val sGrams8: String =
    """case when size(tk) >= 8
      |  then array_distinct(transform(sequence(1, size(tk)-7),
      |    i -> concat_ws(' ', slice(tk, i, 8))))
      |  else cast(array() as array<string>) end""".stripMargin
  val dGrams8: String =
    """list_distinct(list_transform(range(1, greatest(len(tk)-7,0)+1),
      |  i -> array_to_string(tk[i:i+7], ' ')))""".stripMargin

  /** Whitespace-normalized text (for fingerprints). */
  val sNorm = """regexp_replace(trim(lower(text)), '\\s+', ' ')"""
  val dNorm = """regexp_replace(trim(lower(text)), '\s+', ' ', 'g')"""

  /** Bit-exact 6-dp rounding of a double expression (see scaladoc). */
  def sRound6(x: String): String = s"cast(cast($x as decimal(16,6)) as double)"
  def dRound6(x: String): String = s"CAST(CAST($x AS DECIMAL(16,6)) AS DOUBLE)"

  // ── x03 quality-score pieces (over a token-array column `tk`) ──
  // Zero-guarded IDENTICALLY in both engines: an empty token array
  // yields ratio 0.0, never Spark's NULL (null-on-divide-by-zero) vs
  // DuckDB's IEEE ±inf — and NULL would also sort differently (Spark
  // NULLS FIRST vs DuckDB NULLS LAST), so every quality-ranked
  // consumer (x03/x59/x69/x73/x75/x81) shares this one definition.
  val sDistinctRatio: String =
    "case when size(tk) = 0 then cast(0 as double) " +
      "else cast(size(array_distinct(tk)) as double) / cast(size(tk) as double) end"
  val dDistinctRatio: String =
    "CASE WHEN len(tk) = 0 THEN CAST(0 AS DOUBLE) " +
      "ELSE CAST(len(list_distinct(tk)) AS DOUBLE) / CAST(len(tk) AS DOUBLE) END"
  val sLengthScore: String =
    "least(cast(1 as double), cast(size(tk) as double) / cast(50 as double))"
  val dLengthScore: String =
    "least(CAST(1 AS DOUBLE), CAST(len(tk) AS DOUBLE) / CAST(50 AS DOUBLE))"

  // ── canonical 80/10/10 split bucket ──
  // THE split rule: bucket = h64('split:' || id) % 100, train < 80,
  // val < 90, else test. One definition shared by x19 (split counts),
  // x67 (decontamination), x88 (leakage-free split), their oracles and
  // specs — duplicated copies that drift would silently measure
  // different splits.
  def sSplitBucket(id: String): String = s"${sH(s"concat('split:', $id)")} % 100"
  def dSplitBucket(id: String): String = s"${dH(s"concat('split:', $id)")} % 100"

  // ── embedding primitives (64-dim float vectors) ──
  val Dim = 64

  /** Spark: sequential double fold of the elementwise product — same
    * IEEE order as the DuckDB 64-term chain. */
  def sDot(a: String, b: String): String =
    s"aggregate(zip_with($a, $b, (x, y) -> cast(x as double) * cast(y as double)), cast(0 as double), (acc, t) -> acc + t)"
  def sSumSq(a: String): String = sDot(a, a)

  /** DuckDB: explicit left-to-right 64-term chain. */
  def dDot(a: String, b: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE)*CAST($b[$i] AS DOUBLE)")
      .mkString(" + ")
  def dSumSq(a: String): String = dDot(a, a)

  /** DuckDB chain: float array × double array (no cast on the right). */
  def dDotF64(a: String, cv: String): String =
    (1 to Dim).map(i => s"CAST($a[$i] AS DOUBLE)*$cv[$i]").mkString(" + ")
  def dSumSq64(cv: String): String =
    (1 to Dim).map(i => s"$cv[$i]*$cv[$i]").mkString(" + ")

  // ── minhash seed derivation ──
  // One md5 per shingle (the expensive part), then 16 cheap derived
  // hashes f_s(h) = rot60(h, r_s) XOR c_s — 60-bit-safe in both engines
  // (no overflow: the rotate masks low bits before shifting). Constants
  // are md5-derived driver-side, embedded in both plans.
  lazy val seedConsts: Array[Long] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(16) { s =>
      val hex = md.digest(s"mh_$s".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      java.lang.Long.parseLong(hex, 16)
    }
  }
  /** Seed s's (rotation, low-bit mask, xor constant) — the parameters
    * plans.Minhash16 and plans.BloomBits hard-code. */
  def rotParams(s: Int): (Int, Long, Long) = {
    val r = (7 * s + 5) % 59 + 1 // 1..59, never 0 or 60
    (r, (1L << r) - 1, seedConsts(s))
  }
  /** DuckDB: derived seed-s hash of a 60-bit base hash expression `h`. */
  def dDerive(h: String, s: Int): String = {
    val (r, mask, c) = rotParams(s)
    s"xor((($h >> $r) | (($h & $mask) << ${60 - r})), $c)"
  }

  /** Deterministic ±1 hyperplanes for sign-LSH over embeddings:
    * w(p)(i) = +1 if h64("p_i") is odd else -1. Materialized driver-side
    * (same md5 the engines use) and embedded as literals in both plans,
    * so no runtime hashing and perfect parity. */
  val Planes = 16
  lazy val planes: Array[Array[Int]] = {
    val md = java.security.MessageDigest.getInstance("MD5")
    Array.tabulate(Planes, Dim) { (p, i) =>
      val hex = md.digest(s"${p}_$i".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      if ((java.lang.Long.parseLong(hex, 16) & 1L) == 1L) 1 else -1
    }
  }

  /** Spark: signed projection of `emb` onto plane p (left-to-right fold). */
  def sProj(emb: String, p: Int): String = {
    val w = planes(p).map(v => s"cast($v as double)").mkString(", ")
    s"aggregate(zip_with($emb, array($w), (x, wt) -> cast(x as double) * wt), cast(0 as double), (acc, t) -> acc + t)"
  }

  /** DuckDB: the same projection as a 64-term chain. */
  def dProj(emb: String, p: Int): String =
    (1 to Dim).map(i => s"CAST($emb[$i] AS DOUBLE)*${planes(p)(i - 1)}.0")
      .mkString(" + ")

  /** DuckDB: 4-bit band value from planes [4b, 4b+4), bit-packed
    * projection signs (plans.SignBandsF32 computes all four bands). */
  def dBand(emb: String, b: Int): String =
    (0 until 4).map(j => s"(CASE WHEN ${dProj(emb, 4 * b + j)} > 0 THEN ${8 >> j} ELSE 0 END)")
      .mkString(" + ")
}
