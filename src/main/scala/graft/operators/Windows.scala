package graft.operators

import org.apache.spark.sql.{Column, DataFrame, Row}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{LongType, StructField, StructType}

/** Window-function operators from the reference plus the scale-safe variants
  * the reference lacks.
  */
object Windows {

  /** W1+F11: deterministic duplicate-key renaming — number duplicate rows
    * within a key by a total order and suffix the non-first ones
    * (ref: transform.py:253-261 renames dup Sale_IDs to `ID_2`, `ID_3`...).
    * Shuffles once on `keys`; at scale that is a single hash exchange.
    */
  def suffixDuplicates(df: DataFrame, keys: Seq[String], order: Seq[Column],
                       idCol: String, outCol: String): DataFrame = {
    val w = Window.partitionBy(keys.map(col): _*).orderBy(order: _*)
    df.withColumn("__rn", row_number().over(w))
      .withColumn(outCol,
        when(col("__rn") > 1, concat_ws("_", col(idCol), col("__rn")))
          .otherwise(col(idCol).cast("string")))
      .drop("__rn")
  }

  /** W2: dense surrogate keys 1..N by a global order — the reference's exact
    * construction (ref: transform.py:341-342). A global window collapses to
    * ONE partition; fine for dimension tables (what the reference uses it
    * for), a hazard for facts. Use [[denseIdsScalable]] for big inputs.
    */
  def denseIdsGlobal(df: DataFrame, order: Seq[Column], outCol: String): DataFrame =
    df.withColumn(outCol, row_number().over(Window.orderBy(order: _*)).cast(LongType))

  /** Scale-safe dense surrogate keys 1..N: the 100 TB version of W2, with
    * no single-partition bottleneck. Each row's id is its rank within its
    * order-range bucket plus the row count of the buckets before it (see
    * [[twoPhase]]). Deterministic when `order` is a total order (include a
    * unique tie-break key); oracle-checked by q41.
    */
  def denseIdsScalable(df: DataFrame, order: Seq[Column], outCol: String): DataFrame =
    twoPhase(df, order, row_number(), count(lit(1)), outCol)

  /** Scale-safe GLOBAL running sum (inclusive prefix sum) of `value` over
    * the total order `order` — the 100 TB form of
    * `sum(value) OVER (ORDER BY order)`, whose direct window collapses to a
    * single partition. Classic two-phase scan ([[twoPhase]]): a running sum
    * within each order-range bucket, plus the total of the buckets before
    * it. Deterministic when `order` is a total order (include a unique
    * tie-break key): the sampled cut points decide only which bucket a row
    * falls in, and every read of the input agrees on it.
    */
  def prefixSum(df: DataFrame, order: Seq[Column], value: Column,
                outCol: String): DataFrame =
    twoPhase(df, order, sum(value), sum(value), outCol)

  /** The two-phase global scan both operators above share: `local` runs
    * over each bucket of [[withOrderBuckets]] in `order` (ROWS from the
    * bucket start to the current row), `total` aggregates each bucket, and
    * a row's result is its `local` plus the exclusive prefix of the
    * earlier buckets' totals — a window over the bucket ids, #buckets
    * rows, broadcast back. The per-bucket window is the one corpus
    * exchange (hash on `__bkt`). */
  private def twoPhase(df: DataFrame, order: Seq[Column], local: Column,
                       total: Column, outCol: String): DataFrame = {
    val bucketed = withOrderBuckets(df, order)
    val offsets = bucketed.groupBy(col("__bkt"))
      .agg(total.as("__tot"))
      .withColumn("__off",
        coalesce(sum(col("__tot")).over(Window.orderBy(col("__bkt"))
          .rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .select(col("__bkt"), col("__off"))
    bucketed.withColumn("__local", local.over(Window.partitionBy(col("__bkt"))
        .orderBy(order: _*).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .join(broadcast(offsets), "__bkt")
      .withColumn(outCol, col("__local") + col("__off"))
      .drop("__bkt", "__local", "__off")
  }

  /** `df` plus `__bkt`, a bucket id that is ascending and contiguous in
    * `order`: bucket i holds the rows after cut point i-1 and up to cut
    * point i. The cuts come from ONE bounded sample of the order keys
    * (`spark.sql.execution.rangeExchange.sampleSizePerPartition` keys per
    * bucket, picked by key hash, sorted and collected on the driver), and
    * `__bkt` is a deterministic expression of the row — a binary search
    * over the cuts — so every read of the result buckets a row alike.
    * (A `repartitionByRange` read twice is two exchanges, each sampling
    * its input on its own, so they can cut at different keys.) One bucket
    * per shuffle partition. Order columns keep their direction and NULL
    * ordering (default ASC NULLS FIRST, DESC NULLS LAST). */
  private def withOrderBuckets(df: DataFrame, order: Seq[Column]): DataFrame = {
    val keys = order.map(org.apache.spark.sql.graft.ColumnBridge.sortKey)
    val names = keys.indices.map(i => s"__k$i")
    val conf = df.sparkSession.conf
    val buckets = conf.get("spark.sql.shuffle.partitions").toInt
    val perBucket = conf.get("spark.sql.execution.rangeExchange.sampleSizePerPartition").toInt
    val sampled = df.select(keys.zip(names).map { case ((k, _, _), n) => k.as(n) }: _*)
    val sample = sampled.orderBy(xxhash64(names.map(col): _*)).limit(perBucket * buckets)
      .orderBy(keys.zip(names).map {
        case ((_, true, true), n)   => col(n).asc_nulls_first
        case ((_, true, false), n)  => col(n).asc_nulls_last
        case ((_, false, true), n)  => col(n).desc_nulls_first
        case ((_, false, false), n) => col(n).desc_nulls_last
      }: _*).collect()
    val cuts =
      if (sample.isEmpty) Nil
      else (1 until buckets).map(i => sample(i * sample.length / buckets)).distinct
    val types = sampled.schema.fields.map(_.dataType)
    // whether a row sorts strictly after cut `b`, lexicographically from key i
    def after(b: Row, i: Int = 0): Column =
      if (i == keys.size) lit(false)
      else {
        val (k, asc, nullsFirst) = keys(i)
        val v = lit(b.get(i)).cast(types(i))
        val gt =
          if (b.isNullAt(i)) (if (nullsFirst) k.isNotNull else lit(false))
          else {
            val cmp = if (asc) k > v else k < v
            if (nullsFirst) coalesce(cmp, lit(false)) else k.isNull || cmp
          }
        gt || (k <=> v && after(b, i + 1))
      }
    def bucket(lo: Int, hi: Int): Column =
      if (lo == hi) lit(lo)
      else {
        val mid = (lo + hi) / 2
        when(after(cuts(mid)), bucket(mid + 1, hi)).otherwise(bucket(lo, mid))
      }
    df.withColumn("__bkt", bucket(0, cuts.size))
  }

  /** W3: top-k rows per group by rank with a deterministic tie-break
    * (the dashboard "ranking" queries, ref: README.md:47-51). */
  def topKPerGroup(df: DataFrame, partitionCols: Seq[Column], order: Seq[Column],
                   k: Int, rankCol: String = "rnk"): DataFrame =
    df.withColumn(rankCol, rank().over(Window.partitionBy(partitionCols: _*).orderBy(order: _*)))
      .filter(col(rankCol) <= k)

  /** W4: running total over an explicit ROWS frame. */
  def runningSum(df: DataFrame, partitionCols: Seq[Column], order: Seq[Column],
                 value: Column, outCol: String): DataFrame =
    df.withColumn(outCol, sum(value).over(
      Window.partitionBy(partitionCols: _*).orderBy(order: _*)
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)))
}
