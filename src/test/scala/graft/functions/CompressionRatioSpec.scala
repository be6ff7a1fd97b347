package graft.functions

import graft.SparkSuite

/** The compressibility signal's contract: degenerate repetition sits
  * far below natural prose, near-random strings sit above it, edge
  * cases don't NaN, and the value is deterministic across layouts.
  */
class CompressionRatioSpec extends SparkSuite {
  import spark.implicits._

  test("repetition compresses below prose; noise above it") {
    val prose = "the quick brown fox jumps over the lazy dog and then " +
      "wanders through a field of wildflowers while the evening light " +
      "fades gently across the distant rolling hills of the countryside"
    val boiler = "click here click here click here " * 20
    val rnd = new java.util.Random(7L)
    val noise = (0 until 600)
      .map(_ => (rnd.nextInt(94) + 33).toChar).mkString
    val df = Seq(("prose", prose), ("boiler", boiler), ("noise", noise))
      .toDF("kind", "text")
    val r = df.select($"kind", TextAnalysis.compressionRatio($"text"))
      .as[(String, Double)].collect().toMap
    assert(r("boiler") < r("prose"),
      s"boilerplate ${r("boiler")} must compress below prose ${r("prose")}")
    assert(r("noise") > r("prose"),
      s"noise ${r("noise")} must compress above prose ${r("prose")}")
    assert(r.values.forall(v => v > 0 && !v.isNaN))
  }

  test("null and empty text default to 1.0; deterministic across layouts") {
    val df = Seq(Some("abc abc abc abc abc abc"), Some(""), None)
      .toDF("text")
    val out = df.select(TextAnalysis.compressionRatio($"text"))
      .collect().map(_.getDouble(0))
    assert(out(1) == 1.0 && out(2) == 1.0)
    val a = df.select(TextAnalysis.compressionRatio($"text")).collect()
    val b = df.repartition(3)
      .select(TextAnalysis.compressionRatio($"text")).collect()
    assert(a.map(_.getDouble(0)).sorted.toSeq
      == b.map(_.getDouble(0)).sorted.toSeq)
  }
}
