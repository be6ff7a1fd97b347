package graft.operators

import java.nio.file.{Files, Paths}

import graft.{SparkEntry, SparkSuite, Tables}
import graft.functions.TextFunctions
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** The maxVocabSize cap: top-N by corpus frequency with the
  * (tf desc, term asc) tie-break, orthogonal to the df/tf trim; and the
  * fitted vocabulary against the SQL formulation of the same trim.
  */
class TrimmedCountVectorizerSpec extends SparkSuite {
  import spark.implicits._

  // corpus frequencies: a=5 (3 docs), b=4 (2 docs), c=2 (2 docs),
  // d=2 (1 doc), e=1 (1 doc); ties c/d broken alphabetically
  private lazy val docs = Seq(
    Seq("a", "a", "b", "c", "d", "d"),
    Seq("a", "b", "b", "c"),
    Seq("a", "a", "b", "e")).toDF("tokens")

  private def fitVocab(cv: TrimmedCountVectorizer): Seq[String] =
    cv.setInputCol("tokens").fit(docs).vocabulary.toSeq

  test("default cap is a no-op") {
    assert(fitVocab(new TrimmedCountVectorizer())
      == Seq("a", "b", "c", "d", "e"))
  }

  test("cap keeps the top-N by corpus frequency, ties by term") {
    assert(fitVocab(new TrimmedCountVectorizer().setMaxVocabSize(3))
      == Seq("a", "b", "c"))
    assert(fitVocab(new TrimmedCountVectorizer().setMaxVocabSize(4))
      == Seq("a", "b", "c", "d"))
  }

  test("cap composes with the df/tf trim") {
    // df>=2 drops d and e; cap 2 then keeps (a, b)
    val vocab = fitVocab(new TrimmedCountVectorizer()
      .setMinDocFreq(2).setMaxVocabSize(2))
    assert(vocab == Seq("a", "b"))
  }

  test("cap larger than the vocabulary is a no-op") {
    assert(fitVocab(new TrimmedCountVectorizer().setMaxVocabSize(100))
      == Seq("a", "b", "c", "d", "e"))
  }

  /** The trim as one SQL plan — explode, count per (doc, term), then
    * df/tf per term, filter, `orderBy(desc(tf), asc(term))`, optional
    * `limit` — the formulation the estimator's fit must reproduce.
    */
  private def sqlVocab(df: DataFrame, minDf: Int, minTf: Int,
      cap: Option[Int]): Seq[String] = {
    val survivors = df
      .select(monotonically_increasing_id().as("__doc"),
        col("tokens").as("__tokens"))
      .select(col("__doc"), explode(col("__tokens")).as("__term"))
      .groupBy(col("__doc"), col("__term"))
      .agg(count(lit(1)).as("__cnt"))
      .groupBy(col("__term"))
      .agg(count(lit(1)).as("__df"), sum(col("__cnt")).as("__tf"))
      .filter(col("__df") >= minDf && col("__tf") >= minTf)
      .orderBy(desc("__tf"), asc("__term"))
      .select(col("__term"))
    cap.fold(survivors)(survivors.limit).collect().map(_.getString(0)).toSeq
  }

  private def fitted(df: DataFrame, minDf: Int, minTf: Int,
      cap: Option[Int]): Seq[String] = {
    val cv = new TrimmedCountVectorizer().setInputCol("tokens")
      .setMinDocFreq(minDf).setMinTermFreq(minTf)
    cap.foreach(cv.setMaxVocabSize)
    cv.fit(df).vocabulary.toSeq
  }

  // "\uFF21" (fullwidth A) sorts before "\uD83D\uDE00" (U+1F600) in
  // UTF-8 byte order, which is Spark's, but after it in UTF-16 order
  private val fullA = "\uFF21"
  private val smiley = "\uD83D\uDE00"

  // null and empty token arrays, the "" token, a null token, terms at
  // exactly df 2 / tf 3, and tf ties (fullA / smiley, p / q)
  private lazy val edgeDocs = Seq[Seq[String]](
    null,
    Seq(),
    Seq("", "", "x", "x", fullA, smiley, "p", "q"),
    Seq("", "x", "y", fullA, smiley, "p", "q", null),
    Seq("y", "z", "z", "z", fullA, smiley, "q", "p", null),
    Seq(null, "", "w"),
    null).toDF("tokens")

  test("fit matches the SQL trim on null/empty arrays, \"\", thresholds " +
      "and tf ties") {
    for ((minDf, minTf) <- Seq((1, 1), (2, 2), (2, 3), (3, 3), (1, 3));
         cap <- Seq(None, Some(1), Some(3), Some(7), Some(100))) {
      assert(fitted(edgeDocs, minDf, minTf, cap)
        == sqlVocab(edgeDocs, minDf, minTf, cap), s"($minDf, $minTf, $cap)")
    }
    // the UTF-8 tie-break is exercised, not vacuous
    val v = fitted(edgeDocs, 1, 1, None)
    assert(v.indexOf(fullA) >= 0 && v.indexOf(fullA) < v.indexOf(smiley))
  }

  test("fit matches the SQL trim and q_vocab_trim on the sf0.01 documents") {
    val dir = "perfbench/data/sf0.01"
    assume(Files.isDirectory(Paths.get(dir)), "run from the repo root")
    val docs = Tables.documents(spark, dir)
      .select(TextFunctions.splitWords(col("text")).as("tokens"))
      .cache()
    try {
      // (25, 35): the reference's trim, as q_vocab_trim computes it
      val trimmed = fitted(docs, 25, 35, None)
      assert(trimmed == sqlVocab(docs, 25, 35, None))
      assert(trimmed.sorted == SparkEntry.queries("q_vocab_trim")(spark, dir)
        .select("word").collect().map(_.getString(0)).toSeq.sorted)
      // (2, 2): q_confusion's trim, with and without a cap
      for (cap <- Seq(None, Some(40))) {
        assert(fitted(docs, 2, 2, cap) == sqlVocab(docs, 2, 2, cap), s"$cap")
      }
    } finally docs.unpersist()
  }
}
