package graft

import org.apache.spark.sql.functions._

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
}
