package graft.queries

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{ArrayType, MapType}

/** Exact 1-based global rank under a total order, with NO global
  * window (the `ntile().over(Window.orderBy(...))` plan funnels the
  * corpus through one task — the canonical broken plan at scale):
  *
  *  1. range-repartition on the sort key — partitions are ordered
  *     BETWEEN each other by construction;
  *  2. per-partition `row_number` — parallel, partition-bounded;
  *  3. partition-offset exclusive prefix sum over the ≤ P per-partition
  *     counts (P = partition count): the counts collapse to ONE row as
  *     an ordered array and a single O(P) `aggregate` scan emits the
  *     offsets — no crossJoin (a P×P product would be its own scale
  *     cliff at ~10⁵ input partitions) and no partitionless Window
  *     (which would plan a global WindowExec).
  *
  * Because the order is total, the composed rank is invariant to
  * partition boundaries. Adds `rank` (1-based bigint) and `n_total`.
  * Used by r38's exact distributed NTILE and x56's deterministic
  * training-shard assignment. */
object ExactRank {

  /** The narrow-frame contract of both ranks: the input is persisted
    * twice until `Shared.dropTransient`, so it must carry ids and sort
    * columns only. An array or map column (an embedding, a token list)
    * fails here, by name; rank the ids and join the payload back. */
  private def requireNarrow(df: DataFrame, op: String): Unit = {
    val wide = df.schema.fields.collect {
      case f if f.dataType.isInstanceOf[ArrayType] ||
        f.dataType.isInstanceOf[MapType] => f.name
    }
    require(wide.isEmpty,
      s"ExactRank.$op takes a narrow frame (ids and sort columns); " +
        s"array/map columns ${wide.mkString(", ")} would be persisted " +
        "twice — rank the ids and join the payload back")
  }

  def withGlobalRank(df: DataFrame, sortCols: Seq[Column]): DataFrame = {
    requireNarrow(df, "withGlobalRank")
    val s = df.sparkSession
    // RangePartitioner SAMPLES its child in a separate job before the
    // shuffle reads it again — an expensive input (e.g. x73's corpus
    // tokenize + quality score) would be computed twice per action.
    // Materialize the input once; sampling and shuffle both read the
    // cached copy. Callers pass narrow frames (requireNarrow):
    // Shared.temp persists whatever it gets, and both this copy and the
    // repartitioned one below stay cached until dropTransient — a wide
    // input would hold double its footprint for the query's lifetime
    // (eagerly unpersisting `pre` was considered and rejected: it would
    // either re-introduce the double-compute or cost an extra
    // materialization action per ExactRank consumer).
    val pre = Shared.temp(df)
    val base = Shared.temp(pre
      .repartitionByRange(s.sparkContext.defaultParallelism, sortCols: _*)
      .withColumn("__pid", spark_partition_id()))
    val c = base.groupBy("__pid").agg(count(lit(1)).as("__c"))
    val offsets = c
      .agg(sort_array(collect_list(struct(col("__pid"), col("__c")))).as("pc"))
      .select(
        expr("""aggregate(pc,
          |  named_struct('acc', cast(0 as bigint),
          |    'out', cast(array() as array<struct<__pid:int,__off:bigint>>)),
          |  (s, x) -> named_struct('acc', s.acc + x.__c,
          |    'out', array_append(s.out, named_struct('__pid', x.__pid, '__off', s.acc))),
          |  s -> s.out)""".stripMargin).as("po"),
        expr("aggregate(pc, cast(0 as bigint), (s, x) -> s + x.__c)").as("n_total"))
      .select(explode(col("po")).as("o"), col("n_total"))
      .select(col("o.__pid").as("__pid"), col("o.__off").as("__off"), col("n_total"))
    val wLocal = Window.partitionBy("__pid").orderBy(sortCols: _*)
    base.withColumn("__lr", row_number().over(wLocal))
      .join(broadcast(offsets), "__pid")
      .withColumn("rank", col("__off") + col("__lr"))
      .drop("__pid", "__lr", "__off")
  }

  /** Exact global ordered prefix sum of an integer `valueCol` under a
    * total order — the quota/budget-selection primitive ("take the best
    * documents until the token budget is spent"), with the same no-
    * global-window construction as `withGlobalRank`: range-repartition,
    * a per-partition running sum (partition-bounded window), and an
    * O(P) exclusive prefix scan over the ≤ P per-partition value sums,
    * broadcast back. A partitionless `sum().over(Window.orderBy(...))`
    * would funnel the corpus through one WindowExec task — this shape
    * never materializes a global ordering anywhere.
    *
    * Adds `rank` (1-based bigint), `cum` (inclusive prefix sum of
    * valueCol, bigint) and `v_total` (the grand total, bigint — the
    * budget arithmetic usually needs it). Integer-exact by
    * construction. */
  def withGlobalCumsum(df: DataFrame, sortCols: Seq[Column],
      valueCol: Column): DataFrame = {
    requireNarrow(df, "withGlobalCumsum")
    val s = df.sparkSession
    // same sampling-pass materialization as withGlobalRank
    val pre = Shared.temp(df.withColumn("__v", valueCol.cast("bigint")))
    val base = Shared.temp(pre
      .repartitionByRange(s.sparkContext.defaultParallelism, sortCols: _*)
      .withColumn("__pid", spark_partition_id()))
    val c = base.groupBy("__pid")
      .agg(count(lit(1)).as("__c"), sum(col("__v")).as("__s"))
    val offsets = c
      .agg(sort_array(collect_list(struct(col("__pid"), col("__c"), col("__s")))).as("pc"))
      .select(
        expr("""aggregate(pc,
          |  named_struct('rc', cast(0 as bigint), 'vc', cast(0 as bigint),
          |    'out', cast(array() as array<struct<__pid:int,__roff:bigint,__voff:bigint>>)),
          |  (s, x) -> named_struct('rc', s.rc + x.__c, 'vc', s.vc + x.__s,
          |    'out', array_append(s.out,
          |      named_struct('__pid', x.__pid, '__roff', s.rc, '__voff', s.vc))),
          |  s -> s.out)""".stripMargin).as("po"),
        expr("aggregate(pc, cast(0 as bigint), (s, x) -> s + x.__s)").as("v_total"))
      .select(explode(col("po")).as("o"), col("v_total"))
      .select(col("o.__pid").as("__pid"), col("o.__roff").as("__roff"),
        col("o.__voff").as("__voff"), col("v_total"))
    val wLocal = Window.partitionBy("__pid").orderBy(sortCols: _*)
    val wRun = wLocal.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    base.withColumn("__lr", row_number().over(wLocal))
      .withColumn("__lc", sum(col("__v")).over(wRun))
      .join(broadcast(offsets), "__pid")
      .withColumn("rank", col("__roff") + col("__lr"))
      .withColumn("cum", col("__voff") + col("__lc"))
      .drop("__pid", "__lr", "__lc", "__roff", "__voff", "__v")
  }
}
