package graft.operators

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.functions._

import scala.collection.mutable

/** Exact frequent-item mining at unbounded cardinality in two
  * passes and bounded memory — the classic Misra-Gries / space-saving
  * candidate pass hardened into an EXACT answer by a verification
  * recount (the same move that made the Bloom decontamination path
  * oracle-checkable: an approximate superset prefilter, then an exact
  * join that removes its false positives).
  *
  * Why not just `groupBy(item).count().filter(...)`: at 100 TB the
  * full aggregation shuffles one row per DISTINCT item — for
  * open-domain keys (tokens, URLs, user agents) that is billions of
  * groups of which only dozens matter. Here the shuffle carries at
  * most `partitions × ⌈1/support⌉` candidate rows instead:
  *
  *  1. per-partition Misra-Gries with k = ⌈1/support⌉ counters.
  *     Guarantee (by averaging): an item with global count ≥
  *     support·n has local frequency ≥ support on at least one
  *     partition, and MG with k ≥ 1/support counters never evicts an
  *     item whose local count exceeds n_p/(k+1) — so the union of
  *     the partition summaries is a SUPERSET of the true answer.
  *  2. exact recount restricted to the (broadcast-small) candidate
  *     set — one semi-joined scan, aggregating only candidate rows —
  *     then the exact threshold filter drops the false positives.
  *
  * The threshold ⌈support·n⌉ is computed in exact decimal (BigDecimal
  * over the string form of `support`), not double — `0.002 * n` in
  * binary floating point can land an ulp above the rational value and
  * shift the ceiling (the CorpusMixing.selectTopFraction lesson).
  *
  * `mapPartitions` is justified here: the MG counter array is
  * genuinely imperative per-partition state (admit/decrement/evict)
  * that no built-in aggregate expresses without materializing the
  * full per-item counts it exists to avoid.
  */
object HeavyHitters {

  /** Items of `itemCol` (cast to string) occurring in at least
    * ⌈support·n⌉ of `df`'s n NON-NULL rows, with their exact counts,
    * (count desc, item asc)-ordered. Null items are excluded up front
    * — they'd be unreportable anyway (a null key never survives the
    * recount join), so letting them inflate n would only deflate
    * every real item's support. `support` must be in (0, 1]; pass it
    * as the decimal you mean (e.g. 0.002) — the counter budget is
    * ⌈1/support⌉ per partition.
    */
  def frequentItems(
      df: DataFrame, itemCol: String, support: Double): DataFrame = {
    require(support > 0 && support <= 1, s"support must be in (0,1]: $support")
    val k = math.ceil(1.0 / support).toInt
    val items = df.select(col(itemCol).cast("string").as("item"))
      .filter(col("item").isNotNull)

    // Pass 0: n (parquet-metadata-cheap; also reused for the threshold)
    val n = items.count()
    val threshold = (BigDecimal(support.toString) * BigDecimal(n))
      .setScale(0, BigDecimal.RoundingMode.CEILING).toLong

    // Pass 1: per-partition Misra-Gries summaries → candidate union
    val candidates = items
      .mapPartitions { it =>
        val counters = mutable.LinkedHashMap.empty[String, Long]
        it.foreach { row =>
          val item = row.getString(0)
          counters.get(item) match {
            case Some(c) => counters.update(item, c + 1)
            case None if counters.size < k => counters.update(item, 1L)
            case None =>
              // decrement all; evict zeros (the MG step)
              val dead = mutable.ArrayBuffer.empty[String]
              counters.foreach { case (key, c) =>
                if (c == 1L) dead += key else counters.update(key, c - 1)
              }
              dead.foreach(counters.remove)
          }
        }
        counters.keysIterator.map(Row(_))
      }(org.apache.spark.sql.Encoders.row(items.schema))
      .distinct()

    // Pass 2: exact recount over candidate rows only. Broadcast is
    // only hinted when the worst-case candidate bound (partitions × k
    // MG counters) is modest; at small support on a wide cluster that
    // bound can pass the broadcast threshold, so fall back to letting
    // AQE pick the join (it still broadcasts when the ACTUAL candidate
    // count turns out small).
    val candidateBound = items.rdd.getNumPartitions.toLong * k
    val candidateSide =
      if (candidateBound <= 1000000L) broadcast(candidates) else candidates
    items.join(candidateSide, Seq("item"))
      .groupBy(col("item"))
      .agg(count(lit(1)).as("cnt"))
      .filter(col("cnt") >= lit(threshold))
      .orderBy(desc("cnt"), asc("item"))
  }
}
