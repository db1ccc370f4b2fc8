package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.GenericInternalRow
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Character-class census of a string in ONE fused pass.
  *
  * `charclass_counts(text)` ≡ the composable form (CosineF32Spec's oracle) —
  * `length(t)` plus three `length(regexp_replace(t, '[^…]', ''))`
  * counts — which walks the text FOUR times through the regex engine
  * and allocates three scratch strings per row. This is a single
  * branchy byte scan: total codepoints (UTF-8 lead bytes — the same
  * count Spark's `length` returns via `UTF8String.numChars`), and the
  * `[a-z]` / `[0-9]` / `' '` members, which are ASCII and therefore
  * single lead bytes. At 100 TB the text scan IS the query; a 4-pass
  * regex per row is the difference between scan-bound and CPU-bound.
  *
  * Returns `struct<n_chars, n_alpha, n_digit, n_space: bigint>`; the
  * "other" class is derivable (n_chars − the rest), matching the
  * composable form exactly for any UTF-8 input.
  */
case class CharClassCounts(child: Expression) extends UnaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"charclass_counts expects string, got ${other.catalogString}")
  }
  override def dataType: DataType = StructType(Seq(
    StructField("n_chars", LongType, nullable = false),
    StructField("n_alpha", LongType, nullable = false),
    StructField("n_digit", LongType, nullable = false),
    StructField("n_space", LongType, nullable = false)))
  override def prettyName: String = "charclass_counts"

  override def nullSafeEval(input: Any): Any =
    CharClassCounts.compute(input.asInstanceOf[UTF8String])

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, s =>
      s"${ev.value} = graft.plans.CharClassCounts.compute($s);")

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(child = newChild)
}

object CharClassCounts {
  def compute(s: UTF8String): InternalRow = {
    val bytes = s.getBytes
    var chars = 0L; var alpha = 0L; var digit = 0L; var space = 0L
    var i = 0
    while (i < bytes.length) {
      val b = bytes(i)
      // UTF-8 continuation bytes are 10xxxxxx; everything else starts a
      // codepoint (the same census UTF8String.numChars performs)
      if ((b & 0xC0) != 0x80) {
        chars += 1
        if (b >= 'a' && b <= 'z') alpha += 1
        else if (b >= '0' && b <= '9') digit += 1
        else if (b == ' ') space += 1
      }
      i += 1
    }
    new GenericInternalRow(Array[Any](chars, alpha, digit, space))
  }
}
