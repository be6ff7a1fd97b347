package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Contiguous global row numbering at scale.
  *
  * The naive `row_number().over(Window.orderBy(key))` has an EMPTY
  * partition spec: Spark moves the whole dataset into ONE partition to
  * number it — the canonical 100-TB cliff (fine on 60k rows, dead at
  * 60B). `monotonically_increasing_id` scales but is neither
  * contiguous nor stable across partitioning.
  *
  * The scale idiom is two passes over range-partitioned data:
  *   1. range-partition by the order key (the same exchange a global
  *      sort would do anyway), number rows WITHIN each partition by a
  *      partition-local window — distributed, no single-partition
  *      funnel;
  *   2. count rows per partition (a metadata-sized aggregate), prefix-
  *      sum the counts into per-partition offsets, and broadcast-join
  *      them back: `id = offset(partition) + local_rank`.
  *
  * The result is exactly `row_number() OVER (ORDER BY key)` — verified
  * against that oracle — at the cost of one range exchange plus a
  * broadcast of #partitions rows.
  *
  * The numbered frame is pinned with an eager `localCheckpoint`
  * between the two passes. This is load-bearing, not an optimization:
  * the offset aggregate and the final join are separate Catalyst
  * plans, and a re-executed range exchange may sample different
  * partition boundaries — the counts would then describe a different
  * partitioning than the one being joined. Any correct two-pass
  * numbering must pin the layout (RDD `zipWithIndex` relies on
  * re-running the SAME RDD instance for the same reason); id
  * assignment is inherently a materialization barrier.
  *
  * `key` must be a total order (unique); ties would make the global
  * numbering partitioning-dependent, so uniqueness is asserted by the
  * caller's schema, not rechecked here (a duplicate key still gets a
  * deterministic id via the within-partition tie-break on the same
  * column, but range partition boundaries between equal keys are not
  * guaranteed stable across layouts).
  */
object GlobalIds {

  def withOrderedIds(
      df: DataFrame,
      key: String,
      idCol: String = "row_id",
      partitions: Int = 0): DataFrame =
    withOrderedIds(df, Seq(key), idCol, partitions)

  /** Multi-column key variant: the total order is the lexicographic
    * order of `keys` (compose a tie-breaking id as the last key when
    * the leading ones can collide).
    */
  def withOrderedIds(
      df: DataFrame,
      keys: Seq[String],
      idCol: String,
      partitions: Int): DataFrame = {
    Reserved.check("withOrderedIds" -> df)
    orderedIdsImpl(df, keys, idCol, partitions)
  }

  /** [[withOrderedIds]] minus the reserved-namespace gate — for
    * operator-internal composition ([[withNtile]], callers that have
    * already staged their own `__` columns). The `__pid`/`__rn`/
    * `__off` internals still collide with same-named inputs; internal
    * callers own that invariant.
    */
  private[operators] def orderedIdsImpl(
      df: DataFrame,
      keys: Seq[String],
      idCol: String,
      partitions: Int): DataFrame = {
    require(keys.nonEmpty, "at least one key column")

    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, keys.map(col): _*)
      .withColumn("__pid", spark_partition_id())

    val local = Window.partitionBy(col("__pid")).orderBy(keys.map(col): _*)
    val numbered = ranged.withColumn("__rn", row_number().over(local))
      .transform(Par.pin)

    // Partition counts -> exclusive prefix sum. #partitions rows: the
    // window here runs over a metadata-sized frame, not the data.
    val offsets = numbered.groupBy(col("__pid")).agg(count(lit(1)).as("__cnt"))
      .withColumn("__off",
        coalesce(
          sum(col("__cnt")).over(
            Window.orderBy(col("__pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)))
      .select(col("__pid"), col("__off"))

    numbered
      .join(broadcast(offsets), Seq("__pid"))
      .withColumn(idCol, col("__off") + col("__rn"))
      .drop("__pid", "__rn", "__off")
  }

  /** `ntile(k) OVER (ORDER BY keys)` at scale — the naive form has an
    * empty partition spec and funnels the corpus into one partition
    * exactly like naive global numbering. Decomposition: two-pass
    * global ranks ([[withOrderedIds]]) + ntile's own arithmetic on
    * (rank, total): with n rows and m = n mod k, the first m buckets
    * hold ⌈n/k⌉ rows and the rest ⌊n/k⌋ — which is the SQL-standard
    * (and Spark `NTile`) definition, so the result is bit-identical
    * to the window form (GlobalIdsSpec pins the equivalence on
    * adversarial n/k combinations). `keys` must be a total order,
    * ascending — negate numeric columns for descending components.
    * The n-row total rides a broadcast crossJoin, never a
    * partition-less count window.
    */
  def withNtile(
      df: DataFrame,
      keys: Seq[String],
      k: Int,
      tileCol: String,
      partitions: Int = 0): DataFrame = {
    require(k >= 1, s"k: $k")
    // impl path: callers (liftCurve) stage __-prefixed helper columns
    // of their own before tiling; the __gnt_* internals are namespaced
    val numbered = orderedIdsImpl(df, keys, "__gnt_r", partitions)
    val total = numbered.agg(count(lit(1)).as("__gnt_n"))
    numbered.crossJoin(broadcast(total))
      .withColumn("__gnt_bs", expr(s"__gnt_n div ${k.toLong}"))
      .withColumn("__gnt_m", expr(s"__gnt_n % ${k.toLong}"))
      .withColumn("__gnt_big", col("__gnt_m") * (col("__gnt_bs") + lit(1L)))
      // all operands non-negative, so `div` (truncating) IS floor;
      // cast to int matches the window ntile's IntegerType exactly
      .withColumn(tileCol,
        when(col("__gnt_r") <= col("__gnt_big"),
          expr("(__gnt_r - 1) div (__gnt_bs + 1) + 1"))
          .otherwise(
            expr("__gnt_m + (__gnt_r - __gnt_big - 1) div __gnt_bs + 1"))
          .cast("int"))
      .drop("__gnt_r", "__gnt_n", "__gnt_bs", "__gnt_m", "__gnt_big")
  }
}
