package graft.plans

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.analysis.FunctionRegistry.FunctionBuilder
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression, ExpressionInfo}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types.{ArrayType, DataType, DoubleType, FloatType}

/** Native cosine similarity over two float32 vectors.
  *
  * The DataFrame-composable form (`aggregate(zip_with(...))`) runs as an
  * interpreted higher-order function — CodegenFallback, ~50-100x slower
  * per element than a fused loop, and it's the innermost hot path of
  * every similarity join (candidate pairs × 64 dims). This is the case
  * SURVEY.md §7 reserves for a custom Catalyst `Expression`: scalar
  * semantics the built-ins can only express interpreted.
  *
  * Numeric contract: identical IEEE operation order to the HOF form —
  * a single left-to-right fold with each float widened to double before
  * multiply — so plans built with either form produce bit-equal
  * doubles (the DuckDB oracle relies on this).
  */
case class CosineF32(left: Expression, right: Expression)
    extends BinaryExpression {

  override def checkInputDataTypes(): TypeCheckResult = {
    def ok(t: DataType) = t match {
      case ArrayType(FloatType, _) => true
      case _                       => false
    }
    if (ok(left.dataType) && ok(right.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"cosine_f32 expects two array<float> arguments, got " +
        s"${left.dataType.catalogString}, ${right.dataType.catalogString}")
  }
  override def dataType: DataType = DoubleType
  override def prettyName: String = "cosine_f32"

  override def nullSafeEval(a: Any, b: Any): Any = {
    val x = a.asInstanceOf[ArrayData]
    val y = b.asInstanceOf[ArrayData]
    val n = math.min(x.numElements(), y.numElements())
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < n) {
      val xv = x.getFloat(i).toDouble
      val yv = y.getFloat(i).toDouble
      dot += xv * yv; na += xv * xv; nb += yv * yv
      i += 1
    }
    dot / math.sqrt(na * nb)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, (a, b) => {
      val i = ctx.freshName("i")
      val n = ctx.freshName("n")
      val dot = ctx.freshName("dot")
      val na = ctx.freshName("na")
      val nb = ctx.freshName("nb")
      s"""
         |int $n = java.lang.Math.min($a.numElements(), $b.numElements());
         |double $dot = 0.0, $na = 0.0, $nb = 0.0;
         |for (int $i = 0; $i < $n; $i++) {
         |  double xv = (double) $a.getFloat($i);
         |  double yv = (double) $b.getFloat($i);
         |  $dot += xv * yv; $na += xv * xv; $nb += yv * yv;
         |}
         |${ev.value} = $dot / java.lang.Math.sqrt($na * $nb);
       """.stripMargin
    })

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): Expression =
    copy(left = newLeft, right = newRight)
}

/** Session extension registering graft's native functions and the
  * top-k plan rules; install with
  * `.config("spark.sql.extensions", "graft.plans.GraftExtensions")`
  * (every `EngineSession` does). A session built elsewhere gets the
  * functions from [[GraftExtensions.install]] when it enters the engine
  * (`SparkEntry.queries`, the streaming gates); without the plan rules
  * it plans Spark's stock window for top-k, which gives the same rows. */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftExtensions.functions.foreach(ext.injectFunction)
    // whole-operator extension: two-phase top-k-per-key (partial heaps
    // before the exchange — see graft.plans.TopKPerKey), plus the
    // optimizer rule that routes the stock row_number+filter idiom to it
    ext.injectPlannerStrategy(_ => TopKPerKey.TopKStrategy)
    ext.injectOptimizerRule(_ => TopKRewrite())
  }
}

object GraftExtensions {
  private def lit(e: Expression, what: String): Int = {
    require(e.foldable, s"$what must be a literal")
    e.eval(null).asInstanceOf[Number].intValue()
  }

  private def fn(name: String, cls: Class[_])(build: FunctionBuilder) =
    (new FunctionIdentifier(name), new ExpressionInfo(cls.getName, name), build)

  /** Every graft function as (name, info, builder). */
  val functions: Seq[(FunctionIdentifier, ExpressionInfo, FunctionBuilder)] = Seq(
    fn("cosine_f32", classOf[CosineF32])(c => CosineF32(c(0), c(1))),
    fn("topk_freq", classOf[SpaceSavingTopK])(SpaceSavingTopK.create),
    fn("minhash16", classOf[Minhash16])(c => Minhash16(c.head)),
    fn("simhash60", classOf[Simhash60])(c => Simhash60(c.head)),
    fn("shingles3", classOf[Shingles3])(c => Shingles3(c.head)),
    fn("hrw_assign", classOf[HrwAssign]) { c =>
      require(c.size == 2 && c(1).foldable,
        "hrw_assign(key, n) — n must be a literal")
      HrwAssign(c(0), c(1))
    },
    fn("sign_bands_f32", classOf[SignBandsF32])(c =>
      SignBandsF32(c.head, graft.llm.Frag.planes)),
    fn("dot_f32f64", classOf[DotF32F64])(c => DotF32F64(c(0), c(1))),
    fn("l2_f32f64", classOf[L2F32F64])(c => L2F32F64(c(0), c(1))),
    fn("charclass_counts", classOf[CharClassCounts])(c => CharClassCounts(c.head)),
    fn("tokenize_tf", classOf[TokenizeTf])(c => TokenizeTf(c.head)),
    fn("bloom_bits", classOf[BloomBitsAgg]) { c =>
      require(c.size == 3, "bloom_bits(hash, m, k)")
      BloomBitsAgg(c.head, lit(c(1), "bloom_bits m"), lit(c(2), "bloom_bits k"))
    },
    fn("bloom_might_contain", classOf[BloomMightContain]) { c =>
      require(c.size == 3, "bloom_might_contain(bloom, hash, k)")
      BloomMightContain(c(0), c(1), lit(c(2), "bloom_might_contain k"))
    })

  /** Registers every graft function `s` lacks — idempotent, and a no-op
    * on a session built with the extension. Functions only: the top-k
    * rules change plans, never rows, so a foreign session keeps its
    * planner. */
  def install(s: SparkSession): Unit = {
    val reg = s.sessionState.functionRegistry
    functions.foreach { case (id, info, build) =>
      if (reg.lookupFunction(id).isEmpty) reg.registerFunction(id, info, build)
    }
  }
}
