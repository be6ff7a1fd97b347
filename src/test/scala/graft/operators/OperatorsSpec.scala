package graft.operators

import graft.SparkSuite
import org.apache.spark.ml.feature.Normalizer
import org.apache.spark.ml.linalg.Vector
import org.apache.spark.sql.functions._

/** Unit tests for the custom estimators/helpers against hand-computed
  * golden values (SURVEY §5 test plan).
  */
class OperatorsSpec extends SparkSuite {
  import spark.implicits._

  private lazy val corpus = Seq(
    (0L, Seq("apple", "banana", "apple")),
    (1L, Seq("apple", "cherry")),
    (2L, Seq("banana", "banana", "banana")),
    (3L, Seq("apple", "durian"))
  ).toDF("id", "tokens")

  test("TrimmedCountVectorizer: docfreq AND termfreq thresholds") {
    // df: apple 3, banana 2, cherry 1, durian 1
    // tf: apple 4, banana 4, cherry 1, durian 1
    val m1 = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("v")
      .setMinDocFreq(2).setMinTermFreq(1).fit(corpus)
    assert(m1.vocabulary.toSet == Set("apple", "banana"))

    val m2 = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("v")
      .setMinDocFreq(1).setMinTermFreq(4).fit(corpus)
    assert(m2.vocabulary.toSet == Set("apple", "banana"))

    val m3 = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("v")
      .setMinDocFreq(3).setMinTermFreq(4).fit(corpus)
    assert(m3.vocabulary.toSet == Set("apple"))
  }

  test("TrimmedCountVectorizer: vocabulary ordered by tf desc, term asc") {
    val m = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("v").fit(corpus)
    assert(m.vocabulary.toSeq == Seq("apple", "banana", "cherry", "durian"))
  }

  test("TrimmedCountVectorizer: transform counts") {
    val m = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("v").fit(corpus)
    val v0 = m.setInputCol("tokens").transform(corpus)
      .filter($"id" === 0L).select($"v").head().getAs[Vector](0)
    assert(v0(0) == 2.0) // apple ×2
    assert(v0(1) == 1.0) // banana ×1
    assert(v0(2) == 0.0)
  }

  test("Log10IDF matches log10(N/df), unsmoothed (M6)") {
    val cv = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("counts").fit(corpus)
    val counted = cv.setInputCol("tokens").setOutputCol("counts")
      .transform(corpus)
    val idf = new Log10IDF().setInputCol("counts").fit(counted).idf
    // N=4; df(apple)=3, df(banana)=2, df(cherry)=1, df(durian)=1
    assert(math.abs(idf(0) - math.log10(4.0 / 3.0)) < 1e-12)
    assert(math.abs(idf(1) - math.log10(4.0 / 2.0)) < 1e-12)
    assert(math.abs(idf(2) - math.log10(4.0)) < 1e-12)
  }

  test("TF via Normalizer(p=1) is L1-normalized (M5)") {
    val cv = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("counts").fit(corpus)
    val counted = cv.transform(corpus)
    val tf = new Normalizer().setInputCol("counts").setOutputCol("tf")
      .setP(1.0).transform(counted)
    tf.select($"tf").collect().foreach { r =>
      val v = r.getAs[Vector](0)
      assert(math.abs(v.toArray.sum - 1.0) < 1e-12)
    }
  }

  test("StratifiedSplit: exactly ceil(p·n) per class (M1)") {
    val df = (1 to 37).map(i => (i.toLong, if (i % 3 == 0) "a" else "b"))
      .toDF("id", "label")
    val flagged = StratifiedSplit.withSplitFlag(df, "label", 0.7, 42L)
    // a: 12 rows → ceil(8.4)=9 train; b: 25 rows → ceil(17.5)=18 train
    val a = flagged.filter($"label" === "a" && $"is_train").count()
    val b = flagged.filter($"label" === "b" && $"is_train").count()
    assert(a == 9, s"a train = $a")
    assert(b == 18, s"b train = $b")
  }

  test("StratifiedSplit: parallelism scales past the label cardinality") {
    // 10k rows, binary label. The old label-window split left exactly
    // 2 non-empty output partitions (one per label value); the
    // two-phase split must keep >2 while staying count-exact.
    val df = (1 to 10000).map(i => (i.toLong, (i % 2).toString))
      .toDF("id", "label").repartition(8, $"id")
    val flagged = StratifiedSplit.withSplitFlag(df, "label", 0.7, 11L)
    val nonEmpty = flagged
      .groupBy(spark_partition_id().as("pid")).count()
      .count()
    assert(nonEmpty > 2, s"only $nonEmpty non-empty partitions")
    // Exact ceil(0.7·n) per class: 5000 each → 3500 train.
    val perClass = flagged.filter($"is_train")
      .groupBy($"label").count().as[(String, Long)].collect().toMap
    assert(perClass == Map("0" -> 3500L, "1" -> 3500L), perClass.toString)
    // Deterministic for fixed seed/data/partitioning.
    val again = StratifiedSplit.withSplitFlag(df, "label", 0.7, 11L)
    assert(
      flagged.filter($"is_train").select($"id")
        .except(again.filter($"is_train").select($"id")).count() == 0)
  }

  test("StratifiedSplit: train/test are a disjoint cover") {
    val df = (1 to 50).map(i => (i.toLong, (i % 2).toString))
      .toDF("id", "label")
    val (train, test) = StratifiedSplit.split(df, "label", 0.7, 7L)
    assert(train.count() + test.count() == 50)
    assert(train.join(test, "id").count() == 0)
  }

  test("Dedup: exact duplicates grouped by content") {
    val docs = Seq(
      (0L, "a b c"), (1L, "a b c"), (2L, "x y z")
    ).toDF("doc_id", "text")
    val groups = Dedup.exactDuplicates(docs, "doc_id", "text")
      .orderBy($"keep_id").collect()
    assert(groups.length == 2)
    assert(groups(0).getAs[Long]("keep_id") == 0L)
    assert(groups(0).getAs[Long]("n_copies") == 2L)
  }

  test("Dedup: jaccard and minhash agree on a planted near-dup") {
    val base = (1 to 30).map(i => s"w$i").mkString(" ")
    val nearDup = ((1 to 28).map(i => s"w$i") ++ Seq("zz", "qq")).mkString(" ")
    val other = (31 to 60).map(i => s"w$i").mkString(" ")
    val docs = Seq((0L, base), (1L, nearDup), (2L, other))
      .toDF("doc_id", "text")
      .withColumn("tokens", split($"text", " "))
    val sh = Dedup.shingleSets(docs, "doc_id", "tokens", 3)
    val exact = Dedup.jaccardPairs(sh, 0.5).collect()
    assert(exact.length == 1)
    assert(exact(0).getAs[Long]("id_a") == 0L)
    assert(exact(0).getAs[Long]("id_b") == 1L)
    val mh = Dedup.minhashDedupPairs(docs, "doc_id", "tokens", 3, 8, 3, 0.5)
      .collect()
    assert(mh.length == 1)
    assert(mh(0).getAs[Double]("jaccard") ==
      exact(0).getAs[Double]("jaccard"))
  }

  test("Similarity: brute-force top-k finds the aligned vector") {
    val vecs = Seq(
      (0L, Array(1.0f, 0.0f, 0.0f)),
      (1L, Array(0.9f, 0.1f, 0.0f)),
      (2L, Array(0.0f, 1.0f, 0.0f)),
      (3L, Array(0.0f, 0.0f, 1.0f))
    ).toDF("vec_id", "embedding")
    val top = Similarity.bruteForceTopK(
      vecs.filter($"vec_id" === 0L), vecs, "vec_id", "embedding", 2)
      .orderBy($"rank").collect()
    assert(top(0).getAs[Long]("neighbor_id") == 1L)
    assert(top(0).getAs[Double]("cosine") > 0.99)
  }

  test("top_k_by rejects non-integral ids at analysis, not silently") {
    val df = Seq((1.0, "u-1"), (2.0, "u-2")).toDF("score", "uid")
    val err = intercept[Exception] {
      df.agg(graft.functions.top_k_by($"score", $"uid", 2)).collect()
    }
    assert(err.getMessage.contains("must be integral"), err.getMessage)
    // fractional ids would truncate — also rejected
    val err2 = intercept[Exception] {
      df.agg(graft.functions.top_k_by($"score", $"score", 2)).collect()
    }
    assert(err2.getMessage.contains("must be integral"), err2.getMessage)
  }
}
