package graft.operators

import scala.annotation.tailrec
import scala.collection.mutable

import org.apache.spark.ml.classification.DecisionTreeClassificationModel
import org.apache.spark.ml.graftbridge.TreeBridge
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.ml.tree.Node
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.col
import org.apache.spark.storage.StorageLevel

/** Exact, partition-layout-invariant CART trainer for binary labels —
  * the determinism twin of the reference's `rpart` fit
  * (`/root/reference/Week5_datingNLP.R:178`).
  * It is the flagship's trainer ([[graft.OkCupidPipeline]]).
  *
  * MLlib's `DecisionTreeClassifier` bins continuous features by
  * SAMPLING and aggregates float impurities in partition order, so the
  * fitted tree depends on the partition layout (the same seed yields
  * different trees at `local[4]` vs `local[32]` — VERDICT r14). This
  * trainer is exact instead, the [[LloydKMeans]] precedent: every
  * split decision derives from exact integer counts, so the tree — and
  * everything downstream of it — is identical at ANY parallelism or
  * row order. That also makes it rpart-faithful: rpart evaluates every
  * observed value as a split candidate (no binning).
  *
  * The split rule: exact `(cnt, pos)` per `(node, feature, value)`
  * over the nonzeros; the implicit value-0 group (sparse vectors never
  * materialize their zeros) is reconstructed from the node totals and
  * sorted into value order; a prefix scan turns the groups into the
  * left-child stats of every "x <= v" candidate (the rightmost prefix,
  * `nl = n`, is not a split); Gini gain uses `StrictMath.pow`; the best
  * split per node is the arg-max under gain desc, feature asc, value
  * asc — a total order, so ties cannot reintroduce nondeterminism.
  *
  * How it runs (PLANET's two regimes, Panda et al., VLDB 2009):
  *   1. one root pass caches the `(label, nonzeros)` rows and counts
  *      rows, positives, nonzeros and `numFeatures`;
  *   2. while the active rows are too big for the driver, each level
  *      is ONE job: rows are routed by walking the split table grown
  *      so far (Spark SQL `<=`), per-partition hash maps hold the
  *      stats, `reduceByKey` on `(node, feature)` runs the prefix-scan
  *      kernel reduce-side, and only one best row per node reaches the
  *      driver — with each child's row and nonzero counts;
  *   3. once the active rows' bytes fit under half of Spark's own
  *      `spark.driver.maxResultSize` (the cap on one collect; a quarter
  *      of the driver heap if that is lower), they are collected once
  *      and every remaining level grows on the driver through the same
  *      kernel, so the two regimes cannot disagree. No knob of its own.
  *
  * The result is a stock [[DecisionTreeClassificationModel]] (built
  * via [[TreeBridge]] with exact class counts), so
  * [[TreePruning.pruneCp]] and codegen'd `transform` work unchanged.
  */
object DeterministicCart {

  /** A training row: label, dimension, nonzeros (indices ascending). */
  private final case class Pt(
      y: Long, size: Int, idx: Array[Int], vals: Array[Double]) {
    def at(f: Int): Double = {
      val k = java.util.Arrays.binarySearch(idx, f)
      if (k >= 0) vals(k) else 0.0
    }
  }

  /** Exact rows, positives and nonzeros of a node. */
  private final case class Tot(n: Long, p: Long, nnz: Long) {
    def impure: Boolean = p > 0L && p < n
    /** Its rows' driver bytes: 12 per nonzero, 48 per row. */
    def bytes: Long = 12L * nnz + 48L * n
  }

  private final case class Split(feat: Int, thr: Double, left: Int, right: Int)

  /** A candidate split: left-child rows, positives and nonzeros. */
  private final case class Cand(
      gain: Double, feat: Int, v: Double, nl: Long, pl: Long, zl: Long)

  /** `(cnt, pos, nnz)` of one (node, feature) per nonzero value, ascending. */
  private final class Hist(val v: Array[Double], val cnt: Array[Long],
      val pos: Array[Long], val nnz: Array[Long]) extends Serializable

  /** Spark SQL's double order: NaN above everything, -0.0 == 0.0. */
  private def sqlCmp(a: Double, b: Double): Int =
    if (a == b) 0 else java.lang.Double.compare(a, b)

  @tailrec
  private def route(splits: Map[Int, Split], pt: Pt, id: Int = 0): Int =
    splits.get(id) match {
      case Some(s) =>
        route(splits, pt,
          if (sqlCmp(pt.at(s.feat), s.thr) <= 0) s.left else s.right)
      case None => id
    }

  /** Histograms of every (node, feature) over the rows that route to an
    * active node, keyed `node << 32 | feature`.
    */
  private def histograms(rows: Iterator[Pt], splits: Map[Int, Split],
      active: Set[Int]): Iterator[(Long, Hist)] = {
    // value keys are IEEE bits: one NaN key, and zeros never occur
    val acc = mutable.LongMap.empty[mutable.LongMap[Array[Long]]]
    rows.foreach { pt =>
      val node = route(splits, pt)
      if (active(node)) {
        var i = 0
        while (i < pt.idx.length) {
          val c = acc.getOrElseUpdate((node.toLong << 32) | pt.idx(i),
            mutable.LongMap.empty[Array[Long]])
            .getOrElseUpdate(java.lang.Double.doubleToLongBits(pt.vals(i)),
              new Array[Long](3))
          c(0) += 1L; c(1) += pt.y; c(2) += pt.idx.length
          i += 1
        }
      }
    }
    acc.iterator.map { case (key, byValue) =>
      val e = byValue.toArray
        .map { case (bits, c) => (java.lang.Double.longBitsToDouble(bits), c) }
        .sortBy(_._1)(Ordering.Double.TotalOrdering)
      key -> new Hist(e.map(_._1), e.map(_._2(0)), e.map(_._2(1)),
        e.map(_._2(2)))
    }
  }

  private def merge(a: Hist, b: Hist): Hist = {
    val vs = mutable.ArrayBuilder.make[Double]
    val cs, ps, zs = mutable.ArrayBuilder.make[Long]
    var (i, j) = (0, 0)
    while (i < a.v.length || j < b.v.length) {
      val c = if (i == a.v.length) 1 else if (j == b.v.length) -1
        else java.lang.Double.compare(a.v(i), b.v(j))
      def sum(f: Hist => Array[Long]): Long =
        (if (c <= 0) f(a)(i) else 0L) + (if (c >= 0) f(b)(j) else 0L)
      vs += (if (c <= 0) a.v(i) else b.v(j))
      cs += sum(_.cnt); ps += sum(_.pos); zs += sum(_.nnz)
      if (c <= 0) i += 1
      if (c >= 0) j += 1
    }
    new Hist(vs.result(), cs.result(), ps.result(), zs.result())
  }

  /** Gini impurity 1 - (p/n)^2 - ((n-p)/n)^2 from exact long counts. */
  private def gini(n: Long, p: Long): Double = {
    val nd = n.toDouble
    1.0 - StrictMath.pow(p.toDouble / nd, 2) -
      StrictMath.pow((n - p).toDouble / nd, 2)
  }

  /** The kernel: best "x <= v" split of one (node, feature), ties to
    * the smaller value.
    */
  private def bestSplit(t: Tot, feat: Int, h: Hist): Option[Cand] = {
    var (nl, pl, zl) = (0L, 0L, 0L)
    var best: Cand = null
    def step(v: Double, c: Long, q: Long, z: Long): Unit = {
      nl += c; pl += q; zl += z
      if (nl < t.n) {
        val g = gini(t.n, t.p) - nl.toDouble / t.n.toDouble * gini(nl, pl) -
          (t.n - nl).toDouble / t.n.toDouble * gini(t.n - nl, t.p - pl)
        if (best == null || sqlCmp(g, best.gain) > 0)
          best = Cand(g, feat, v, nl, pl, zl)
      }
    }
    val zeros = t.n - h.cnt.sum
    var zeroDone = zeros == 0L
    def zero(): Unit = {
      step(0.0, zeros, t.p - h.pos.sum, t.nnz - h.nnz.sum); zeroDone = true
    }
    for (i <- h.v.indices) {
      if (!zeroDone && java.lang.Double.compare(h.v(i), 0.0) > 0) zero()
      step(h.v(i), h.cnt(i), h.pos(i), h.nnz(i))
    }
    if (!zeroDone) zero()
    Option(best)
  }

  /** Per-node arg-max order: gain desc, feature asc, value asc. */
  private def better(a: Cand, b: Cand): Cand = {
    val g = sqlCmp(a.gain, b.gain)
    if (g > 0 || g == 0 && (a.feat < b.feat ||
        a.feat == b.feat && sqlCmp(a.v, b.v) <= 0)) a else b
  }

  private def candidates(totals: Map[Int, Tot])(kh: (Long, Hist))
      : Option[(Int, Cand)] = {
    val node = (kh._1 >>> 32).toInt
    bestSplit(totals(node), kh._1.toInt, kh._2).map(node -> _)
  }

  /** Bytes of active rows the driver may hold. */
  private def localBudget(spark: SparkSession): Long = {
    val cap = spark.sparkContext.getConf
      .getSizeAsBytes("spark.driver.maxResultSize", "1g")
    math.min(if (cap > 0) cap / 2 else Long.MaxValue,
      Runtime.getRuntime.maxMemory / 4)
  }

  /** Fit on `df(featuresCol: VectorUDT, labelCol ∈ {0, 1})`. */
  def fit(
      df: DataFrame,
      featuresCol: String,
      labelCol: String,
      maxDepth: Int = 8,
      minInfoGain: Double = 0.0): DecisionTreeClassificationModel =
    grow(df, featuresCol, labelCol, maxDepth, minInfoGain,
      localBudget(df.sparkSession))._1

  /** [[fit]] with the driver budget in bytes; also returns how many
    * levels ran distributed (the rest grew on the driver).
    */
  private[graft] def grow(
      df: DataFrame,
      featuresCol: String,
      labelCol: String,
      maxDepth: Int,
      minInfoGain: Double,
      budget: Long): (DecisionTreeClassificationModel, Int) = {
    val rows: RDD[Pt] = df
      .select(col(labelCol).cast("long"), col(featuresCol)).rdd
      .map { r =>
        val v = r.getAs[Vector](1)
        val sv = v.toSparse
        Pt(r.getLong(0), v.size, sv.indices, sv.values)
      }
      .persist(StorageLevel.MEMORY_AND_DISK)
    try {
      val (n, p, nnz, numFeatures) = rows.aggregate((0L, 0L, 0L, 0))(
        (a, pt) => (a._1 + 1L, a._2 + pt.y, a._3 + pt.idx.length,
          math.max(a._4, pt.size)),
        (a, b) => (a._1 + b._1, a._2 + b._2, a._3 + b._3,
          math.max(a._4, b._4)))
      require(n > 0L, "DeterministicCart.fit: empty training input " +
        s"(no rows in column '$featuresCol')")

      // driver bookkeeping: exact totals per node + split arcs
      val totals = mutable.Map(0 -> Tot(n, p, nnz))
      var splits = Map.empty[Int, Split]
      var nextId = 1
      var active = Seq(0).filter(totals(_).impure)
      var local: Array[Pt] = null // the active rows, once they fit
      var distributed = 0
      var depth = 0
      while (depth < maxDepth && active.nonEmpty) {
        val (table, act) = (splits, active.toSet)
        val tots = active.map(id => id -> totals(id)).toMap
        if (local == null && tots.values.map(_.bytes).sum <= budget)
          local = rows.filter(pt => act(route(table, pt))).collect()
        val best: Seq[(Int, Cand)] =
          if (local != null) {
            local = local.filter(pt => act(route(table, pt)))
            histograms(local.iterator, table, act)
              .flatMap(candidates(tots)).toSeq
              .groupMapReduce(_._1)(_._2)(better).toSeq
          } else {
            distributed += 1
            rows.mapPartitions(histograms(_, table, act))
              .reduceByKey(merge _)
              .flatMap(candidates(tots))
              .reduceByKey(better _)
              .collect().toSeq // ≤ one row per active node
          }
        val accepted = best
          .filter { case (_, c) => c.gain > 0.0 && c.gain >= minInfoGain }
          .sortBy(_._1) // child-id assignment independent of collect order
        val children = accepted.flatMap { case (id, c) =>
          val t = totals(id)
          val (l, r) = (nextId, nextId + 1); nextId += 2
          splits += id -> Split(c.feat, c.v, l, r)
          totals(l) = Tot(c.nl, c.pl, c.zl)
          totals(r) = Tot(t.n - c.nl, t.p - c.pl, t.nnz - c.zl)
          Seq(l, r)
        }
        active = children.filter(totals(_).impure)
        depth += 1
      }

      def build(id: Int): Node = {
        val t = totals(id)
        val counts = Array((t.n - t.p).toDouble, t.p.toDouble)
        splits.get(id) match {
          case Some(s) => TreeBridge.internalOf(counts, build(s.left),
            build(s.right), s.feat, s.thr)
          case None => TreeBridge.leafOf(counts)
        }
      }
      val model = TreeBridge.modelOf(build(0), numFeatures, numClasses = 2)
      model.setFeaturesCol(featuresCol)
      (model, distributed)
    } finally rows.unpersist()
  }
}
