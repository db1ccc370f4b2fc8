package graft.plans

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, DataType, LongType, StringType}

/** All 16 MinHash signature values of a shingle set in one fused pass.
  *
  * `minhash16(shingles)` ≡ the distributed form (explode → h60 per
  * shingle → 16 rotate-xor `min` aggregates): one md5 per shingle, 16
  * derived-seed minima tracked in registers — no shuffle, no
  * re-traversal per seed. Seed derivation is rot60 + xor with the
  * md5-derived constants of `graft.llm.Frag.rotParams`, the same as
  * the DuckDB oracle's `dDerive`, so signatures are identical across
  * the fused, the composable (Minhash16Spec) and the DuckDB forms.
  */
case class Minhash16(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"minhash16 expects array<string>, got ${other.catalogString}")
  }
  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def prettyName: String = "minhash16"

  override def nullSafeEval(input: Any): Any =
    Minhash16.compute(input.asInstanceOf[ArrayData])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, a =>
      s"${ev.value} = graft.plans.Minhash16.compute($a);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object Minhash16 {
  private val params: Array[(Int, Long, Long)] =
    Array.tabulate(16)(graft.llm.Frag.rotParams)

  def compute(shingles: ArrayData): GenericArrayData = {
    val md = java.security.MessageDigest.getInstance("MD5")
    val n = shingles.numElements()
    val mins = Array.fill(16)(Long.MaxValue)
    var i = 0
    while (i < n) {
      val h = Simhash60.h60(md, shingles.getUTF8String(i))
      var s = 0
      while (s < 16) {
        val (r, mask, c) = params(s)
        val derived = ((h >>> r) | ((h & mask) << (60 - r))) ^ c
        if (derived < mins(s)) mins(s) = derived
        s += 1
      }
      i += 1
    }
    new GenericArrayData(mins.map(_.asInstanceOf[Any]))
  }
}
