package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Distributed global prefix sums — the parallel-scan primitive, and
  * the same two-pass idiom as [[GlobalIds]] generalized from row
  * counts to values: a naive `SUM(v) OVER (ORDER BY key)` has an
  * empty partition spec and funnels the corpus into one partition
  * (the 100-TB cliff); the scale shape is
  *
  *   1. range-partition by the order key, compute the EXCLUSIVE
  *      prefix within each partition by a partition-local window;
  *   2. total each partition (metadata-sized), exclusive-prefix those
  *      totals into per-partition offsets, broadcast them back:
  *      `prefix = offset(partition) + local_prefix`.
  *
  * The layout is pinned with an eager localCheckpoint between the
  * passes for exactly the reason GlobalIds documents: the totals
  * aggregate and the final join are separate plans, and a re-executed
  * range exchange may sample different boundaries.
  *
  * The driving use case is greedy budgeted selection ("take the best
  * documents until the token budget is spent"): the exclusive prefix
  * in quality order is each row's budget position, and
  * `prefix < budget` IS the greedy take — no sequential loop, no
  * single-partition sort.
  *
  * `keys` must be a total order (unique tuple), as in GlobalIds.
  * Null values sum as zero (window SUM skips them in any engine).
  */
object GlobalScan {

  /** Adds `sumCol` = exclusive prefix sum of `valueCol` in the
    * lexicographic order of `keys`.
    */
  def withPrefixSum(
      df: DataFrame,
      keys: Seq[String],
      valueCol: String,
      sumCol: String = "prefix",
      partitions: Int = 0): DataFrame =
    withPrefixSums(df, keys, Seq(valueCol -> sumCol), partitions)

  /** Multi-value variant: one range exchange + one pinned layout
    * computes the exclusive prefix of EVERY (valueCol, sumCol) pair —
    * n simultaneous scans never cost n passes (ZipfFit.heaps needs
    * token and vocabulary scans over the same doc order).
    */
  def withPrefixSums(
      df: DataFrame,
      keys: Seq[String],
      sums: Seq[(String, String)],
      partitions: Int = 0): DataFrame = {
    Reserved.check("withPrefixSums" -> df)
    prefixSumsImpl(df, keys, sums, partitions)
  }

  /** [[withPrefixSums]] minus the reserved-namespace gate — for
    * operator-internal callers that already stage `__` columns
    * (ZipfFit.heaps). The `__pid`/`__lps*`/`__off*`/`__tot*`
    * internals still collide with same-named inputs; internal
    * callers own that invariant.
    */
  private[operators] def prefixSumsImpl(
      df: DataFrame,
      keys: Seq[String],
      sums: Seq[(String, String)],
      partitions: Int = 0): DataFrame = {
    require(keys.nonEmpty, "at least one key column")
    require(sums.nonEmpty, "at least one (valueCol, sumCol) pair")

    val n = if (partitions > 0) partitions
            else df.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = df.repartitionByRange(n, keys.map(col): _*)
      .withColumn("__pid", spark_partition_id())

    val local = Window.partitionBy(col("__pid"))
      .orderBy(keys.map(col): _*)
      .rowsBetween(Window.unboundedPreceding, -1)
    val scanned = sums.zipWithIndex.foldLeft(ranged) {
      case (d, ((valueCol, _), i)) =>
        d.withColumn(s"__lps$i",
          coalesce(sum(col(valueCol)).over(local), lit(0L)))
    }.transform(Par.pin)

    // #partitions rows: metadata-sized window, not the data.
    val totals = sums.zipWithIndex.map { case ((valueCol, _), i) =>
      coalesce(sum(col(valueCol)), lit(0L)).as(s"__tot$i")
    }
    val offsets = scanned.groupBy(col("__pid"))
      .agg(totals.head, totals.tail: _*)
      .select(Seq(col("__pid")) ++ sums.indices.map { i =>
        coalesce(
          sum(col(s"__tot$i")).over(
            Window.orderBy(col("__pid"))
              .rowsBetween(Window.unboundedPreceding, -1)),
          lit(0L)).as(s"__off$i")
      }: _*)

    val joined = scanned.join(broadcast(offsets), Seq("__pid"))
    sums.zipWithIndex.foldLeft(joined) {
      case (d, ((_, sumCol), i)) =>
        d.withColumn(sumCol, col(s"__off$i") + col(s"__lps$i"))
    }.drop(Seq("__pid") ++ sums.indices.flatMap(i =>
      Seq(s"__lps$i", s"__off$i")): _*)
  }
}
