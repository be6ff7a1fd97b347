package graft.operators

import graft.SparkSuite

class CurationPipelineSpec extends SparkSuite {
  import spark.implicits._

  // Mixed-fate corpus: a null text (quarantine), a low-quality
  // repetitive doc, a planted near-dup pair, and clean survivors
  // across two domains.
  private def corpus() = Seq(
    (1L, "web", "the quick brown fox jumps over the lazy dog and runs far away home tonight"),
    (2L, "web", "the quick brown fox jumps over the lazy dog and runs far away home today"),
    (3L, "wiki", "a completely different document with its own words about history and science topics"),
    (4L, "wiki", "x x x x x x x x x x x x x x x"),
    (5L, "web", null.asInstanceOf[String]),
    (6L, "wiki", "another unique article describing geography climate rivers mountains and valleys in detail")
  ).toDF("doc_id", "domain", "text")

  test("stages apply in order and the ledger tracks each boundary") {
    val r = CurationPipeline.run(corpus(), "doc_id", "text", "domain",
      CurationPipeline.Config(minQuality = 0.4, jaccardThreshold = 0.5))
    val stages = r.ledger.map(_._1)
    assert(stages == Seq("input", "quarantine", "quality", "dedup", "mix"))
    val counts = r.ledger.toMap
    assert(counts("input") == 6)
    assert(counts("quarantine") == 5, "null text dropped")
    assert(counts("quality") < counts("quarantine"), "repetitive doc dropped")
    assert(counts("dedup") == counts("quality") - 1, "one near-dup dropped")

    val ids = r.curated.select("doc_id").as[Long].collect().toSet
    assert(!ids.contains(5L) && !ids.contains(4L) && !ids.contains(2L))
    assert(ids.contains(1L), "canonical (min id) near-dup member kept")
    assert(Set(3L, 6L).subsetOf(ids))

    // contiguous layout-independent ids
    val rowIds = r.curated.select("row_id").as[Long].collect().sorted
    assert(rowIds.toSeq == (1L to rowIds.length))
  }

  test("mixture rates replicate domains deterministically") {
    val r = CurationPipeline.run(corpus(), "doc_id", "text", "domain",
      CurationPipeline.Config(minQuality = 0.0, jaccardThreshold = 0.99,
        rates = Map("wiki" -> 2.0, "web" -> 1.0)))
    val byDomain = r.curated.groupBy("domain").count()
      .as[(String, Long)].collect().toMap
    // wiki docs (3,4,6 survive the lenient gates) duplicated exactly
    assert(byDomain("wiki") % 2 == 0)
    val rowIds = r.curated.select("row_id").as[Long].collect().sorted
    assert(rowIds.toSeq == (1L to rowIds.length), "ids stay contiguous after mix")
  }
}
