package graft.operators

import graft.SparkSuite
import org.apache.spark.ml.classification.DecisionTreeClassificationModel
import org.apache.spark.ml.graftbridge.TreeBridge
import org.apache.spark.ml.linalg.Vectors
import org.apache.spark.ml.tree.{InternalNode, Node}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** [[DeterministicCart]]: exact split selection (brute-force
  * cross-check), total tie-break order, and — the r14 lesson — full
  * layout invariance of the q_confusion chain: the same tree and the
  * same 2×2 at ANY partition layout and ANY
  * `spark.sql.shuffle.partitions`, which is exactly what MLlib's
  * sampled-bin trainer does not provide. Each of these runs through
  * both of the trainer's regimes — the in-memory finish from the root
  * and a forced all-distributed grow — which must agree node for node.
  */
class DeterministicCartSpec extends SparkSuite {

  private def toDF(rows: Seq[(Array[Double], Double)]): DataFrame = {
    import spark.implicits._
    rows.map { case (xs, y) => (Vectors.dense(xs), y) }
      .toDF("features", "label")
  }

  /** Every node's split and exact class counts, preorder. */
  private def describe(n: Node): String = n match {
    case in: InternalNode =>
      val s = in.split.asInstanceOf[org.apache.spark.ml.tree.ContinuousSplit]
      s"(${s.featureIndex}<=${s.threshold} " +
        s"${TreeBridge.classCounts(n).mkString(",")} " +
        s"${describe(in.leftChild)} ${describe(in.rightChild)})"
    case _ => s"[${TreeBridge.classCounts(n).mkString(",")}]"
  }

  private def grow(df: DataFrame, maxDepth: Int, budget: Long)
      : (DecisionTreeClassificationModel, Int) =
    DeterministicCart.grow(df, "features", "label", maxDepth, 0.0, budget)

  /** Fits in memory from the root and all-distributed; asserts the
    * same tree and class counts and returns the in-memory model.
    */
  private def fitBoth(df: DataFrame, maxDepth: Int = 8)
      : DecisionTreeClassificationModel = {
    val (mem, memLevels) = grow(df, maxDepth, Long.MaxValue)
    val (dist, distLevels) = grow(df, maxDepth, 0L)
    assert(memLevels === 0)
    assert(distLevels >= 1)
    assert(describe(mem.rootNode) === describe(dist.rootNode))
    assert(mem.numFeatures === dist.numFeatures)
    mem
  }

  test("pure split on the single informative feature") {
    val df = toDF(Seq(
      (Array(0.0, 1.0), 0.0), (Array(0.0, 0.0), 0.0),
      (Array(0.0, 1.0), 0.0), (Array(2.0, 0.0), 1.0),
      (Array(2.0, 1.0), 1.0), (Array(2.0, 0.0), 1.0)))
    val m = fitBoth(df, maxDepth = 4)
    val root = m.rootNode
      .asInstanceOf[org.apache.spark.ml.tree.InternalNode]
    val split = root.split
      .asInstanceOf[org.apache.spark.ml.tree.ContinuousSplit]
    assert(split.featureIndex === 0)
    assert(split.threshold === 0.0)
    assert(TreePruning.numLeaves(m.rootNode) === 2)
    val preds = m.transform(df).select("label", "prediction").collect()
    assert(preds.forall(r => r.getDouble(0) === r.getDouble(1)))
  }

  test("tie-break: equal gain resolves to lowest feature, lowest value") {
    // features 1 and 2 are identical copies of feature 0's signal;
    // every candidate threshold has the same gain → split must pick
    // feature 0 (and an identical-gain tie between thresholds within
    // a feature picks the smaller value).
    val df = toDF(Seq(
      (Array(0.0, 0.0, 0.0), 0.0), (Array(0.0, 0.0, 0.0), 0.0),
      (Array(1.0, 1.0, 1.0), 1.0), (Array(1.0, 1.0, 1.0), 1.0)))
    val m = fitBoth(df)
    val split = m.rootNode
      .asInstanceOf[org.apache.spark.ml.tree.InternalNode].split
      .asInstanceOf[org.apache.spark.ml.tree.ContinuousSplit]
    assert(split.featureIndex === 0)
    assert(split.threshold === 0.0)
  }

  test("root split matches brute-force exact Gini search") {
    val rnd = new scala.util.Random(7)
    val rows = Seq.fill(120)((
      Array.fill(5)(rnd.nextInt(4).toDouble),
      if (rnd.nextDouble() < 0.4) 1.0 else 0.0))
    val m = fitBoth(toDF(rows), maxDepth = 1)
    def giniOf(xs: Seq[Double]): Double = {
      val n = xs.size.toDouble; val p = xs.sum
      1.0 - math.pow(p / n, 2) - math.pow((n - p) / n, 2)
    }
    val n = rows.size.toDouble
    val parent = giniOf(rows.map(_._2))
    // enumerate every (feature, threshold) exactly as the trainer
    // defines candidates: thresholds at observed values except the max
    val cands = for {
      f <- 0 until 5
      v <- rows.map(_._1(f)).distinct.sorted.dropRight(1)
    } yield {
      val (l, r) = rows.partition(_._1(f) <= v)
      val gain = parent - l.size / n * giniOf(l.map(_._2)) -
        r.size / n * giniOf(r.map(_._2))
      (gain, f, v)
    }
    // trainer order: gain desc, feature asc, value asc
    val (bg, bf, bv) = cands.maxBy { case (g, f, v) => (g, -f, -v) }
    val split = m.rootNode
      .asInstanceOf[org.apache.spark.ml.tree.InternalNode].split
      .asInstanceOf[org.apache.spark.ml.tree.ContinuousSplit]
    assert(split.featureIndex === bf)
    assert(split.threshold === bv)
    assert(bg > 0.0)
  }

  test("negative feature values: split stats match brute force " +
      "(ADVICE r18 — the value-0 group must sort into position, " +
      "not prepend)") {
    // sparse vectors with NEGATIVE nonzero values and enough zero
    // mass that the implicit zero group matters: under the r18
    // prepend, every candidate at a negative value wrongly included
    // the zero-group mass in its 'x <= v' prefix.
    val rnd = new scala.util.Random(19)
    val vals = Array(-2.0, -1.0, 0.0, 0.0, 1.0, 3.0)
    val rows = Seq.fill(150)((
      Array.fill(4)(vals(rnd.nextInt(vals.length))),
      if (rnd.nextDouble() < 0.5) 1.0 else 0.0))
    val m = fitBoth(toDF(rows), maxDepth = 1)
    def giniOf(xs: Seq[Double]): Double = {
      val n = xs.size.toDouble; val p = xs.sum
      1.0 - math.pow(p / n, 2) - math.pow((n - p) / n, 2)
    }
    val n = rows.size.toDouble
    val parent = giniOf(rows.map(_._2))
    val cands = for {
      f <- 0 until 4
      v <- rows.map(_._1(f)).distinct.sorted.dropRight(1)
    } yield {
      val (l, r) = rows.partition(_._1(f) <= v)
      val gain = parent - l.size / n * giniOf(l.map(_._2)) -
        r.size / n * giniOf(r.map(_._2))
      (gain, f, v)
    }
    val (bg, bf, bv) = cands.maxBy { case (g, f, v) => (g, -f, -v) }
    assert(bg > 0.0)
    val split = m.rootNode
      .asInstanceOf[org.apache.spark.ml.tree.InternalNode].split
      .asInstanceOf[org.apache.spark.ml.tree.ContinuousSplit]
    assert(split.featureIndex === bf)
    assert(split.threshold === bv)
  }

  test("q_confusion chain is invariant to layout and shuffle config") {
    val dir = "/root/testdata/sf0.001"
    val prev = spark.conf.get("spark.sql.shuffle.partitions")
    def run(shufflePartitions: String, layout: DataFrame => DataFrame,
        budget: Long): (Seq[(Double, Double, Long)], String) = {
      spark.conf.set("spark.sql.shuffle.partitions", shufflePartitions)
      try {
        // replicate the query but force a layout on the input; the
        // registered query reads parquet directly, so instead rebuild
        // the chain on a re-laid-out documents frame
        val docs = layout(graft.Tables.documents(spark, dir))
          .select(col("doc_id"), col("lang"),
            graft.functions.TextFunctions.splitWords(col("text"))
              .as("tokens"))
        val cv = new TrimmedCountVectorizer()
          .setInputCol("tokens").setOutputCol("features")
          .setMinDocFreq(2).setMinTermFreq(2)
        val featurized = cv.fit(docs).transform(docs)
          .withColumn("label", (col("lang") === "en").cast("double"))
        val (train, test) =
          StratifiedSplit.split(featurized, "label", 0.7, 32984L,
            shards = 64)
        // AQE coalesces the tiny split output to one partition; spread
        // it so the distributed regime merges stats across partitions
        val (fitted, _) = grow(train.repartition(shufflePartitions.toInt),
          maxDepth = 8, budget)
        val model = TreePruning.pruneCp(fitted, 0.02)
        val cm = model.transform(test)
          .groupBy(col("prediction"), col("label"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("prediction"), col("label"))
          .collect()
          .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
          .toSeq
        // drop the header line — it embeds the random model uid
        (cm, model.toDebugString.linesIterator.drop(1).mkString("\n") +
          "\n" + describe(fitted.rootNode))
      } finally spark.conf.set("spark.sql.shuffle.partitions", prev)
    }
    val layouts = Seq[(String, DataFrame => DataFrame)](
      "4" -> identity,
      "32" -> (_.repartition(13)),
      "5" -> (_.coalesce(1)),
      "32" -> (_.orderBy(desc("text")).repartition(17, col("lang"))))
    val runs = for {
      budget <- Seq(Long.MaxValue, 0L)
      (parts, layout) <- layouts
    } yield (s"shuffle partitions $parts, budget $budget",
      run(parts, layout, budget))
    val (_, base) = runs.head
    runs.tail.foreach { case (what, r) =>
      assert(r._2 === base._2, s"tree drifted at $what")
      assert(r._1 === base._1, s"confusion drifted at $what")
    }
    assert(base._1.map(_._3).sum > 0L)
  }

  test("a driver budget that the active rows cross mid-tree grows the " +
      "same tree as either regime alone") {
    // the root split peels off a pure block of 4/5 of the rows, so the
    // active rows shrink fivefold after the first level
    val rnd = new scala.util.Random(11)
    def row(x0: Double, y: Double) =
      (x0 +: Array.fill(5)(rnd.nextInt(4).toDouble), y)
    val rows = Seq.fill(240)(row(5.0, 1.0)) ++ Seq.fill(60)(
      row(rnd.nextInt(3).toDouble, if (rnd.nextBoolean()) 1.0 else 0.0))
    val df = toDF(rows).repartition(3)
    val (all, levels) = grow(df, maxDepth = 6, 0L)
    assert(levels >= 2)
    // budgets from a few rows' worth up to past the root's size: each
    // switches to the in-memory finish at its own level
    val runs = (8 to 16).map(k => grow(df, maxDepth = 6, 1L << k))
    runs.foreach { case (m, _) =>
      assert(describe(m.rootNode) === describe(all.rootNode))
    }
    val switched = runs.map(_._2)
    assert(switched.exists(l => l > 0 && l < levels),
      s"no budget switched regimes mid-tree: $switched")
    assert(switched.last === 0)
  }

  test("empty training input fails with IllegalArgumentException") {
    val empty = toDF(Seq((Array(1.0, 0.0), 1.0))).limit(0)
    val e = intercept[IllegalArgumentException](
      DeterministicCart.fit(empty, "features", "label"))
    assert(e.getMessage.contains("empty training input"), e.getMessage)
  }

  test("bridge nodes report the count-weighted CART gain (ADVICE r15)") {
    // parent [9,3]: gini 0.375; left [8,0]: gini 0, n=8;
    // right [1,3]: gini 0.375, n=4
    // weighted gain = 0.375 - (8/12)*0 - (4/12)*0.375 = 0.25
    // (the unweighted child mean would misreport 0.1875 in
    // featureImportances / toDebugString)
    import org.apache.spark.ml.graftbridge.TreeBridge
    val node = TreeBridge.internalOf(Array(9.0, 3.0),
      TreeBridge.leafOf(Array(8.0, 0.0)),
      TreeBridge.leafOf(Array(1.0, 3.0)), feature = 0, threshold = 0.5)
    assert(math.abs(node.gain - 0.25) < 1e-12, s"gain=${node.gain}")
  }
}
