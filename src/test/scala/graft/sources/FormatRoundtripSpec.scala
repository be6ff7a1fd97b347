package graft.sources

import graft.{SparkSuite, TempDirs}

class FormatRoundtripSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  test("hostile strings (commas, quotes, newlines, unicode) survive " +
      "all three formats bit-identically") {
    val df = Seq(
      (1L, "plain text", "en"),
      (2L, "comma, separated, values", "en"),
      (3L, "a \"quoted\" phrase", "fr"),
      (4L, "line\nbreak inside", "de"),
      (5L, "unicode café 中文", "zh"))
      .toDF("id", "text", "lang")
    val base = tempDir("graft_fmt_spec").toString
    val out = FormatRoundtrip.roundtripFingerprints(
        spark, df, base, Seq("id", "text", "lang"))
      .collect().map(r => r.getString(0) ->
        (r.getLong(1), r.getLong(2), r.getLong(3))).toMap
    assert(out.keySet === Set("json", "orc", "csv"))
    assert(out("json") === out("orc"), s"$out")
    assert(out("csv") === out("orc"),
      s"CSV mangled a hostile string: $out")
    assert(out("orc")._1 === 5L)
  }
}
