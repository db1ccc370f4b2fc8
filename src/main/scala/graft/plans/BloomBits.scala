package graft.plans

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types._

/** Bloom-filter bitset aggregate + membership probe (Bloom, CACM 1970)
  * — the broadcast-decontamination primitive.
  *
  * `bloom_bits(hash, m, k)` folds a column of 60-bit base hashes into
  * one m-bit bitset (`array<bigint>`, m/64 words): each input sets k
  * positions derived from the base hash by the same rotate-xor family
  * as the minhash seeds (`graft.llm.Frag.rotParams`), so an engine
  * without this aggregate — or a DuckDB oracle — can reproduce every
  * bit with plain SQL. Partial aggregation ships one fixed-size bitset
  * per partition and merge is a word-wise OR, so building the filter
  * over an n-gram stream costs one map-side pass regardless of input
  * size.
  *
  * `bloom_might_contain(bloom, hash, k)` re-derives the k positions
  * and checks them — no false negatives, and the false-positive set is
  * a pure function of (inserted hashes, m, k), which is what lets a
  * SQL oracle agree bit-for-bit: membership ≡ "all k positions ∈ the
  * distinct set-position table".
  *
  * Why this exists (the 100-TB shape): decontamination via a gram
  * semi-join (x21) shuffles the corpus-sized gram stream on the gram
  * key. The benchmark/test side of the join is tiny and fixed, so the
  * right plan at scale reduces it to an m-bit array once, broadcasts
  * it, and probes the corpus map-side — the corpus never shuffles at
  * all (reference for the pattern: Spark's own runtime-filter bloom
  * pushdown, `InjectRuntimeFilter`).
  */
case class BloomBitsAgg(
    child: Expression,
    mBits: Int,
    seeds: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[Array[Long]] {

  require(mBits > 0 && mBits % 64 == 0, "bloom_bits: m must be a positive multiple of 64")
  require(seeds > 0 && seeds <= 16, "bloom_bits: k must be in 1..16")

  override def children: Seq[Expression] = Seq(child)
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(LongType, containsNull = false)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == LongType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"bloom_bits expects a bigint hash column, got ${child.dataType.catalogString}")

  override def createAggregationBuffer(): Array[Long] = new Array[Long](mBits / 64)

  override def update(buf: Array[Long], input: InternalRow): Array[Long] = {
    val v = child.eval(input)
    if (v != null) BloomBits.set(buf, v.asInstanceOf[Long], seeds, mBits)
    buf
  }

  override def merge(buf: Array[Long], other: Array[Long]): Array[Long] = {
    var i = 0
    while (i < buf.length) { buf(i) |= other(i); i += 1 }
    buf
  }

  override def eval(buf: Array[Long]): Any =
    new GenericArrayData(buf.map(_.asInstanceOf[Any]))

  override def serialize(buf: Array[Long]): Array[Byte] = {
    val bytes = new Array[Byte](buf.length * 8)
    val bb = java.nio.ByteBuffer.wrap(bytes)
    buf.foreach(bb.putLong)
    bytes
  }

  override def deserialize(bytes: Array[Byte]): Array[Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    Array.fill(bytes.length / 8)(bb.getLong)
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): BloomBitsAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): BloomBitsAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren.head)
  override def prettyName: String = "bloom_bits"
}

/** `bloom_might_contain(bloom, hash, k)`: true iff all k derived
  * positions of `hash` are set in `bloom` (m inferred from the array
  * length). Codegen delegates to the same static helper as the
  * interpreted path, so both are one implementation. */
case class BloomMightContain(left: Expression, right: Expression, seeds: Int)
    extends BinaryExpression {

  require(seeds > 0 && seeds <= 16, "bloom_might_contain: k must be in 1..16")

  override def checkInputDataTypes(): TypeCheckResult = (left.dataType, right.dataType) match {
    case (ArrayType(LongType, _), LongType) => TypeCheckResult.TypeCheckSuccess
    case (l, r) => TypeCheckResult.TypeCheckFailure(
      s"bloom_might_contain expects (array<bigint>, bigint), got ${l.catalogString}, ${r.catalogString}")
  }
  override def dataType: DataType = BooleanType
  override def prettyName: String = "bloom_might_contain"

  override def nullSafeEval(bloom: Any, h: Any): Any =
    BloomBits.mightContain(bloom.asInstanceOf[ArrayData], h.asInstanceOf[Long], seeds)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (b, h) =>
      s"${ev.value} = graft.plans.BloomBits.mightContain($b, $h, $seeds);")

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

object BloomBits {
  // the minhash seeds' rotation/mask/xor parameters — the oracle
  // recomputes positions with the dDerive SQL twin
  private val params: Array[(Int, Long, Long)] =
    Array.tabulate(16)(graft.llm.Frag.rotParams)

  /** Bit position of base hash `h` under seed `s` in an m-bit filter.
    * `h` is 60-bit non-negative (Frag.sH), the rotation stays inside 60
    * bits and the xor constants are 60-bit, so the modulo sees a
    * non-negative long — same value as SQL `%` in both engines. */
  def position(h: Long, s: Int, mBits: Int): Int = {
    val (r, mask, c) = params(s)
    val derived = ((h >>> r) | ((h & mask) << (60 - r))) ^ c
    (derived % mBits).toInt
  }

  private[plans] def set(buf: Array[Long], h: Long, seeds: Int, mBits: Int): Unit = {
    var s = 0
    while (s < seeds) {
      val p = position(h, s, mBits)
      buf(p >>> 6) |= (1L << (p & 63))
      s += 1
    }
  }

  /** Shared by interpreted eval and generated code. */
  def mightContain(bloom: ArrayData, h: Long, seeds: Int): Boolean = {
    val mBits = bloom.numElements() * 64
    var s = 0
    while (s < seeds) {
      val p = position(h, s, mBits)
      if ((bloom.getLong(p >>> 6) & (1L << (p & 63))) == 0L) return false
      s += 1
    }
    true
  }
}
