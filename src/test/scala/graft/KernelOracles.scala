package graft

import graft.llm.Frag

/** Composable Spark-SQL forms of the fused kernels (graft.plans), kept
  * only as spec oracles: each spells out, with built-in functions, what
  * its kernel computes in one pass. */
object KernelOracles {

  /** shingles3(text) as a HOF chain: the distinct 3-word shingles of
    * Frag.sTokens, in first-seen order. */
  val sShinglesHof: String = Frag.sLet(Frag.sTokens, "tk",
    """case when size(tk) >= 3
      |  then array_distinct(transform(sequence(1, size(tk)-2),
      |    i -> concat(element_at(tk,i), ' ', element_at(tk,i+1), ' ', element_at(tk,i+2))))
      |  else cast(array() as array<string>) end""".stripMargin)

  /** Derived seed-s hash of a 60-bit base hash expression `h` (the
    * rotate-xor of Frag.rotParams; DuckDB's twin is Frag.dDerive). */
  def sDerive(h: String, s: Int): String = {
    val (r, mask, c) = Frag.rotParams(s)
    s"((shiftright($h, $r) | shiftleft($h & ${mask}L, ${60 - r})) ^ ${c}L)"
  }

  /** 4-bit band value from planes [4b, 4b+4): bit-packed projection
    * signs (one of sign_bands_f32's four values). */
  def sBand(emb: String, b: Int): String =
    (0 until 4).map(j => s"if(${Frag.sProj(emb, 4 * b + j)} > 0, ${8 >> j}, 0)")
      .mkString(" + ")
}
