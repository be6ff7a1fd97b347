package graft

/** The M3/M4 fixture golden — the agreed proxy for the reference's
  * unreachable full-corpus 64.24% accuracy (BASELINE.md): the fixture
  * confusion matrix is pinned exactly, so any drift in the split,
  * featurization, or tree training shows up as a test failure rather
  * than a silent behavior change.
  */
class MLTuningSpec extends SparkSuite {

  test("fixture tree confusion matrix matches the pinned golden") {
    val profiles = OkCupidPipeline.load(spark, fixturePath)
    val (confusion, accuracy) = OkCupidPipeline.trainAndEvaluate(
      profiles, minDocFreq = 1, minTermFreq = 1, maxDepth = 3)
    val cells = confusion.collect()
      .map(r => (r.getDouble(0), r.getDouble(1), r.getAs[Long]("n")))
      .toSeq
    // pinned golden: 7 test rows (m=14 → 4 test, f=10 → 3 test), the
    // seeded split + seeded depth-3 tree classify all 7 correctly —
    // any drift in split, featurization, or training breaks this
    assert(cells == Seq((0.0, 0.0, 3L), (1.0, 1.0, 4L)),
      s"confusion drifted: $cells")
    assert(accuracy == 1.0, s"accuracy drifted: $accuracy")
  }
}
