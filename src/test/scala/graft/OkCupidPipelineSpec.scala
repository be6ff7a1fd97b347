package graft

import java.util.concurrent.atomic.AtomicInteger

import scala.util.hashing.MurmurHash3

import org.apache.spark.graftbridge.ListenerDrain
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}

/** End-to-end reference-pipeline replication on the fixture corpus:
  * ingest → clean → featurize → split → tree → confusion matrix
  * (SURVEY §3 EP1+EP2 in miniature).
  */
class OkCupidPipelineSpec extends SparkSuite {

  test("full pipeline trains and evaluates on the fixture") {
    val profiles = OkCupidPipeline.load(spark, fixturePath)
    val (confusion, accuracy) = OkCupidPipeline.trainAndEvaluate(
      profiles, minDocFreq = 1, minTermFreq = 1, maxDepth = 3)
    val cells = confusion.collect()
    val total = cells.map(_.getAs[Long]("n")).sum
    // 24 rows: m=14 → ceil(9.8)=10 train, 4 test; f=10 → 7 train, 3 test
    assert(total == 7, s"test rows = $total")
    assert(accuracy >= 0.0 && accuracy <= 1.0)
  }

  test("trimmed vocabulary contains stems, not raw words") {
    val profiles = OkCupidPipeline.load(spark, fixturePath)
    val essays = OkCupidPipeline.withEssays(profiles)
    val model = OkCupidPipeline.featurePipeline(1, 1).fit(essays)
    val vocab = model.stages.last
      .asInstanceOf[graft.operators.TrimmedCountVectorizerModel]
      .vocabulary.toSet
    assert(vocab.contains("danc"))    // dancing/dances/dancer → danc
    assert(!vocab.contains("dancing"))
    assert(vocab.contains("code"))    // coding → code
  }

  /** One pipeline pass on a fixed synthetic corpus at a given shuffle
    * width: the pruned tree (its uid header dropped), the confusion
    * cells, and the vocabulary's size and ordered hash.
    */
  private def goldenAt(width: Int)
      : (String, Seq[(Double, Double, Long)], Int, Int) = {
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    spark.conf.set(key, width.toString)
    try {
      val o = OkCupidPipeline.run(Bench.syntheticProfiles(spark, 1500L),
        minDocFreq = 25, minTermFreq = 35, maxDepth = 8, seed = 32984L,
        cp = 0.02)
      val cells = o.confusion.collect().toSeq
        .map(r => (r.getDouble(0), r.getDouble(1), r.getLong(2)))
      (o.tree.toDebugString.linesIterator.drop(1).mkString("\n"), cells,
        o.vocabulary.length, MurmurHash3.orderedHash(o.vocabulary.toSeq))
    } finally spark.conf.set(key, saved)
  }

  test("flagship tree, confusion and vocabulary are pinned at shuffle " +
      "widths 1, 4 and 32") {
    val tree = Seq(
      "  If (feature 48 <= 0.0)",
      "   If (feature 85 <= 0.0)",
      "    If (feature 118 <= 0.0)",
      "     If (feature 198 <= 0.0)",
      "      If (feature 154 <= 0.0)",
      "       If (feature 204 <= 0.0)",
      "        Predict: 1.0",
      "       Else (feature 204 > 0.0)",
      "        Predict: 0.0",
      "      Else (feature 154 > 0.0)",
      "       Predict: 0.0",
      "     Else (feature 198 > 0.0)",
      "      Predict: 0.0",
      "    Else (feature 118 > 0.0)",
      "     Predict: 0.0",
      "   Else (feature 85 > 0.0)",
      "    Predict: 0.0",
      "  Else (feature 48 > 0.0)",
      "   Predict: 0.0").mkString("\n")
    val cells = Seq((0.0, 0.0, 169L), (1.0, 0.0, 16L), (1.0, 1.0, 264L))
    Seq(1, 4, 32).foreach { w =>
      val got = goldenAt(w)
      assert(got == ((tree, cells, 547, -1564429429)), s"width $w")
    }
  }

  test("a failed pass propagates and leaves no cached frame or RDD " +
      "behind") {
    // zero rows: the split frame is persisted, then the tree fit
    // rejects its empty training input
    spark.catalog.clearCache()
    val rddsBefore = spark.sparkContext.getPersistentRDDs.keySet
    val e = intercept[IllegalArgumentException] {
      OkCupidPipeline.trainAndEvaluateTimed(
        Bench.syntheticProfiles(spark, 0L))
    }
    assert(e.getMessage.contains("empty training input"))
    assert(spark.sharedState.cacheManager.isEmpty)
    assert(spark.sparkContext.getPersistentRDDs.keySet == rddsBefore)
  }

  // 10 jobs with one vocabulary shuffle, one split materialization and
  // one confusion aggregation (25 when the vocabulary fit took two
  // shuffles and a sort, the split ran twice and the confusion matrix
  // was persisted, sorted and re-parallelized). A stage that adds a
  // job back fails here.
  test("a flagship pass starts at most 10 jobs") {
    val profiles = Bench.syntheticProfiles(spark, 600L).persist()
    try {
      profiles.count()
      val sc = spark.sparkContext
      val jobs = new AtomicInteger
      val listener = new SparkListener {
        override def onJobStart(j: SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
      }
      ListenerDrain.waitUntilEmpty(sc, 30000L)
      sc.addSparkListener(listener)
      try {
        val (confusion, _, _) = OkCupidPipeline.trainAndEvaluateTimed(profiles)
        confusion.collect()
        ListenerDrain.waitUntilEmpty(sc, 30000L)
      } finally sc.removeSparkListener(listener)
      assert(jobs.get <= 10, s"${jobs.get} jobs")
    } finally profiles.unpersist()
  }
}
