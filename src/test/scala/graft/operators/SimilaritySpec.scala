package graft.operators

import graft.SparkSuite
import graft.functions.hyperplane_buckets
import org.apache.spark.sql.functions._

import scala.util.Random

/** Hyperplane-LSH bucketing (codegen expression) and the IVF
  * cell-blocked near-dup pair path.
  */
class SimilaritySpec extends SparkSuite {
  import spark.implicits._

  private def randVec(r: Random, dim: Int): Array[Float] =
    Array.fill(dim)((r.nextDouble() - 0.5).toFloat)

  test("hyperplane_buckets: shape, determinism, scale invariance") {
    val r = new Random(11)
    val vecs = (0L until 50L).map(i => (i, randVec(r, 16))).toDF("id", "v")
    val bits = 6
    val tables = 4
    val out = vecs
      .select($"id", hyperplane_buckets($"v", bits, tables).as("b"),
        hyperplane_buckets($"v", bits, tables).as("b2"),
        // positive scaling preserves every projection's sign
        hyperplane_buckets(transform($"v", x => x * 3.0f), bits, tables)
          .as("bScaled"))
      .collect()
    out.foreach { row =>
      val b = row.getSeq[Long](1)
      assert(b.length == tables)
      assert(b.forall(k => k >= 0L && k < (1L << bits)))
      assert(b == row.getSeq[Long](2))
      assert(b == row.getSeq[Long](3))
    }
  }

  test("lshTopK recalls a planted near-duplicate at rank 1") {
    val r = new Random(23)
    val base = (0L until 100L).map(i => (i, randVec(r, 16)))
    // vec 100 = vec 0 plus a tiny perturbation (cosine ≈ 1)
    val near = (100L, base.head._2.map(x => x + 0.001f))
    val corpus = (base :+ near).toDF("vec_id", "embedding")
    val top = Similarity.lshTopK(
        corpus.filter($"vec_id" === 0L), corpus, "vec_id", "embedding",
        k = 1, bits = 4, tables = 8)
      .collect()
    assert(top.length == 1)
    assert(top(0).getAs[Long]("neighbor_id") == 100L)
    assert(top(0).getAs[Double]("cosine") > 0.999)
  }

  test("recall@5 floors: sampled-codebook IVF, LSH") {
    val r = new Random(42)
    val dim = 16
    // 8 well-separated clusters of 25; id = i*8 + c interleaves them
    // so the 16 smallest ids (the sampled codebook) cover every
    // cluster twice. Within-cluster cosine ≈ 1, across ≈ 0: a query's
    // exact top-5 are cluster-mates, so recall measures whether the
    // index keeps clusters together.
    val centers = Array.fill(8)(randVec(r, dim))
    val rows = for { i <- 0 until 25; c <- 0 until 8 } yield
      ((i * 8 + c).toLong,
        centers(c).map(x => x + (r.nextFloat() - 0.5f) * 0.05f))
    val corpus = rows.toDF("vec_id", "embedding")
    val queries = corpus.filter($"vec_id" < 24) // 3 per cluster
    val exact =
      Similarity.bruteForceTopK(queries, corpus, "vec_id", "embedding", 5)
    def avgRecall(approx: org.apache.spark.sql.DataFrame): Double =
      Similarity.recallAtK(exact, approx)
        .agg(avg($"recall")).head().getDouble(0)
    assert(avgRecall(exact) == 1.0)
    assert(avgRecall(Similarity.ivfTopKSampledCodebook(
      queries, corpus, "vec_id", "embedding", 5,
      nlist = 16, nprobe = 4)) >= 0.9)
    assert(avgRecall(Similarity.lshTopK(
      queries, corpus, "vec_id", "embedding", 5,
      bits = 4, tables = 8)) >= 0.6)
  }

  test("nearDupPairsIvf matches the exact all-pairs top-N") {
    val r = new Random(5)
    val base = (0L until 200L).map(i => (i, randVec(r, 16)))
    // plant 10 near-dup pairs well above the random background
    val dups = (0 until 10).map { i =>
      (200L + i, base(i * 7)._2.map(x => x + (r.nextFloat() - 0.5f) * 0.01f))
    }
    val corpus = (base ++ dups).toDF("vec_id", "embedding")
    val exact = Similarity.topSimilarPairs(corpus, "vec_id", "embedding", 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    val ivf = Similarity.nearDupPairsIvf(corpus, "vec_id", "embedding", 10)
      .collect().map(x => (x.getLong(0), x.getLong(1), x.getDouble(2)))
    assert(ivf.toSeq == exact.toSeq)
  }

  test("hardNegatives: nearest cross-label neighbors only, exact top-k of the filtered set") {
    val r = new Random(41)
    // Two tight clusters; labels split WITHIN each cluster so every
    // query's nearest same-cluster neighbors include both labels.
    val base = randVec(r, 16)
    val far = randVec(r, 16)
    val rows = (0L until 20L).map { i =>
      val centre = if (i < 10) base else far
      val v = centre.zip(randVec(r, 16)).map { case (c, n) => c + 0.05f * n }
      (i, v, (i % 2).toInt)
    }
    val df = rows.toDF("vec_id", "embedding", "label")
    val out = Similarity.hardNegatives(
        df.filter($"vec_id" === 0L), df, "vec_id", "embedding", "label", 3)
      .collect().map(_.getLong(1))
    // All results carry the opposite label to query 0 (label 0).
    val ids = out
    val labels = rows.filter(x => ids.contains(x._1)).map(_._3)
    assert(labels.forall(_ == 1), s"same-label leak: ${labels.toSeq}")
    assert(ids.length == 3)
    // ...and they come from the query's own (near) cluster.
    assert(ids.forall(_ < 10), s"picked far-cluster rows: ${ids.toSeq}")
  }

  test("bruteForceTopK refuses an unbounded query side; " +
      "cellBlockedTopK accepts the same corpus") {
    val r = new Random(7)
    val corpus = (0L until 30L).map(i => (i, randVec(r, 8)))
      .toDF("vec_id", "embedding")
    val err = intercept[IllegalArgumentException] {
      Similarity.bruteForceTopK(corpus, corpus, "vec_id", "embedding",
        k = 3, maxBroadcastRows = 10L)
    }
    assert(err.getMessage.contains("cellBlockedTopK"),
      s"refusal must point at the scale path: ${err.getMessage}")
    val blocked = Similarity.cellBlockedTopK(
      corpus, "vec_id", "embedding", k = 3, nlist = 4)
    assert(blocked.count() > 0L)
  }

  test("cellBlockedTopK with nlist=1 (single cell) equals exact " +
      "brute-force kNN") {
    val r = new Random(13)
    val corpus = (0L until 40L).map(i => (i, randVec(r, 8)))
      .toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"query_id", $"rank")
      .collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    val exact = key(Similarity.bruteForceTopK(
      corpus, corpus, "vec_id", "embedding", 3))
    val blocked = key(Similarity.cellBlockedTopK(
      corpus, "vec_id", "embedding", 3, nlist = 1))
    assert(blocked == exact)
  }

  test("cellBlockedTopK: candidates never cross cells") {
    val r = new Random(17)
    val corpus = (0L until 60L).map(i => (i, randVec(r, 8)))
      .toDF("vec_id", "embedding")
    val nlist = 8
    val cells = Similarity.assignCellsSampledCodebook(
        corpus, "vec_id", "embedding", nlist)
      .select($"id", $"cell").collect()
      .map(x => x.getLong(0) -> x.getLong(1)).toMap
    Similarity.cellBlockedTopK(corpus, "vec_id", "embedding", 3, nlist)
      .collect().foreach { e =>
        assert(cells(e.getLong(0)) == cells(e.getLong(1)),
          s"edge ${e.getLong(0)}->${e.getLong(1)} crosses cells")
      }
  }

  /** 200 vectors in 16 dims with two labels. Rows 180–199 are exact
    * copies of rows 0, 9, …, 171; row 5 copies row 2 and row 7 is
    * row 4 doubled (both inside the 16-row sampled codebook), so the
    * rounded cosines, the distances and the cell assignments all tie.
    */
  private def goldenCorpus = {
    val r = new Random(97)
    val base = (0 until 180).map(_ => randVec(r, 16)).toArray
    base(5) = base(2).clone()
    base(7) = base(4).map(_ * 2.0f)
    val rows = base.indices.map(i => (i.toLong, base(i), i % 2)) ++
      (0 until 20).map(j => (180L + j, base(j * 9).clone(), (j / 2) % 2))
    rows.toDF("vec_id", "embedding", "label")
  }

  /** Every row of `df` ordered by (query_id, rank): the row count and
    * the ordered hash of the rows' string forms.
    */
  private def pinned(df: org.apache.spark.sql.DataFrame): (Int, Int) = {
    val rows = df.orderBy($"query_id", $"rank").collect().map(_.toString)
    (rows.length, scala.util.hashing.MurmurHash3.orderedHash(rows.toSeq))
  }

  test("every cosine and euclidean top-k path is pinned at shuffle " +
      "widths 1 and 4") {
    val corpus = goldenCorpus
    val queries = corpus.filter($"vec_id" < 24)
    val key = "spark.sql.shuffle.partitions"
    val saved = spark.conf.get(key)
    try {
      def run(): Map[String, (Int, Int)] = Map(
        "bruteForceTopK" -> pinned(Similarity.bruteForceTopK(
          queries, corpus, "vec_id", "embedding", 5)),
        "hardNegatives" -> pinned(Similarity.hardNegatives(
          queries, corpus, "vec_id", "embedding", "label", 5)),
        "euclideanTopK" -> pinned(Similarity.euclideanTopK(
          queries, corpus, "vec_id", "embedding", 5)),
        "cellBlockedTopK/8" -> pinned(Similarity.cellBlockedTopK(
          corpus, "vec_id", "embedding", 3, nlist = 8)),
        "cellBlockedTopK/derived" -> pinned(Similarity.cellBlockedTopK(
          corpus, "vec_id", "embedding", 3, targetCellRows = 8L)),
        "lshTopK" -> pinned(Similarity.lshTopK(
          queries, corpus, "vec_id", "embedding", 5, bits = 4,
          tables = 8)),
        "ivfTopKSampledCodebook" -> pinned(
          Similarity.ivfTopKSampledCodebook(
            queries, corpus, "vec_id", "embedding", 5, nprobe = 4)))
      val golden = Map(
        "bruteForceTopK" -> (120, 1626392213),
        "hardNegatives" -> (120, 87072208),
        "euclideanTopK" -> (120, -1819085480),
        "cellBlockedTopK/8" -> (600, -1234326609),
        "cellBlockedTopK/derived" -> (596, 843713359),
        "lshTopK" -> (120, 231692862),
        "ivfTopKSampledCodebook" -> (120, 1687499030))
      // the fixture does tie: some query has two neighbors at one
      // rounded cosine, so the neighbor-id tie-break is exercised
      assert(Similarity.bruteForceTopK(
          queries, corpus, "vec_id", "embedding", 5)
        .groupBy($"query_id", $"cosine").count()
        .filter($"count" > 1).count() > 0)
      Seq(1, 4).foreach { w =>
        spark.conf.set(key, w.toString)
        val got = run()
        assert(got == golden, s"width $w: $got")
      }
    } finally spark.conf.set(key, saved)
  }

  test("derivedNlist pins expected cell population at any corpus " +
      "size; auto mode matches the derived explicit call") {
    // The scale rule itself: mean cell population n/nlist never
    // exceeds targetCellRows, at the fixture size, 10x, and 1000x —
    // so the same-cell pair join stays Θ(n · targetCellRows), linear
    // in the corpus (a fixed nlist is Θ(n²/nlist)).
    for (n <- Seq(500L, 5000L, 500000L); t <- Seq(64L, 128L, 1024L)) {
      val nl = Similarity.derivedNlist(n, t)
      assert(nl >= 16, s"n=$n t=$t nl=$nl")
      assert(n.toDouble / nl <= t.toDouble,
        s"mean cell population ${n.toDouble / nl} exceeds " +
          s"targetCellRows=$t at n=$n (nlist=$nl)")
    }
    // floor: tiny corpora keep the 16-cell minimum
    assert(Similarity.derivedNlist(10L, 128L) == 16)
    // both test SFs land exactly on the historical 16 (the oracle-
    // compatibility invariant the derived DuckDB replay depends on)
    assert(Similarity.derivedNlist(500L, 128L) == 16) // sf0.01
    assert(Similarity.derivedNlist(2000L, 128L) == 16) // sf0.1
    // auto mode (nlist = 0) computes the same edges as passing the
    // derived value explicitly
    val r = new Random(29)
    val corpus = (0L until 200L).map(i => (i, randVec(r, 8)))
      .toDF("vec_id", "embedding")
    def key(df: org.apache.spark.sql.DataFrame) = df
      .orderBy($"query_id", $"rank").collect()
      .map(x => (x.getLong(0), x.getLong(1), x.getDouble(2))).toSeq
    val auto = key(Similarity.cellBlockedTopK(
      corpus, "vec_id", "embedding", 3, targetCellRows = 8L))
    val explicit = key(Similarity.cellBlockedTopK(
      corpus, "vec_id", "embedding", 3,
      nlist = Similarity.derivedNlist(200L, 8L)))
    assert(Similarity.derivedNlist(200L, 8L) == 25)
    assert(auto == explicit && auto.nonEmpty)
  }
}
