package graft.operators

import graft.SparkSuite

class SpanCorruptionSpec extends SparkSuite {
  import spark.implicits._

  private def rows(df: org.apache.spark.sql.DataFrame) =
    SpanCorruption.corrupt(df, "doc_id", "text")
      .orderBy("doc_id").collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2),
        r.getString(3), r.getString(4)))

  test("inputs + targets reconstruct the original text exactly") {
    // the denoising round-trip: substituting each sentinel in the
    // inputs with its span from the targets must restore the doc
    val docs = (1L to 30L).map(i =>
      (i, (0 until 20 + (i % 7).toInt).map(j => s"w${i}_$j")
        .mkString(" "))).toDF("doc_id", "text")
    val orig = docs.collect().map(r => r.getLong(0) -> r.getString(1)).toMap
    rows(docs).foreach { case (id, _, nMasked, inputs, targets) =>
      // parse targets: "<extra_id_0> a b c <extra_id_1> d e f ..."
      val spans = targets.split("<extra_id_\\d+> ").filter(_.nonEmpty)
        .map(_.trim).zipWithIndex
        .map { case (s, k) => s"<extra_id_$k>" -> s }.toMap
      val rebuilt = spans.foldLeft(inputs) { case (acc, (sent, span)) =>
        acc.replace(sent, span)
      }
      assert(rebuilt === orig(id), s"doc $id")
      if (nMasked == 0) {
        assert(inputs === orig(id) && targets === "")
      }
    }
  }

  test("sentinels are dense 0..K-1 in position order; masked count " +
      "equals the span tokens removed from inputs") {
    val docs = (1L to 40L).map(i =>
      (i, (0 until 40).map(j => s"t$j").mkString(" ")))
      .toDF("doc_id", "text")
    var sawMask = false
    rows(docs).foreach { case (id, nTok, nMasked, inputs, _) =>
      assert(nTok === 40L)
      val sents = "<extra_id_(\\d+)>".r.findAllMatchIn(inputs)
        .map(_.group(1).toInt).toSeq
      assert(sents === sents.indices.toSeq, s"doc $id sentinels $sents")
      val inWords = inputs.split(" ").count(!_.startsWith("<extra_id"))
      assert(inWords + nMasked === 40L, s"doc $id")
      if (nMasked > 0) sawMask = true
    }
    assert(sawMask) // the 1-of-3 block draw must fire somewhere
  }

  test("result is partitioning-independent") {
    val docs = (1L to 25L).map(i =>
      (i, (0 until 17).map(j => s"x$j").mkString(" ")))
      .toDF("doc_id", "text")
    assert(rows(docs).toSeq === rows(docs.repartition(7)).toSeq)
  }
}
