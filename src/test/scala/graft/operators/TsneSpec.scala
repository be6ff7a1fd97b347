package graft.operators

import graft.SparkSuite

/** Exact t-SNE: planted cluster structure must survive the 2-D
  * embedding, deterministically.
  */
class TsneSpec extends SparkSuite {

  /** 3 well-separated Gaussian blobs in 10-D, 40 points each. */
  private def blobs(seed: Long): (Array[Array[Double]], Array[Int]) = {
    val rnd = new java.util.Random(seed)
    val centers = Array(
      Array.fill(10)(0.0),
      Array.tabulate(10)(d => if (d < 5) 25.0 else 0.0),
      Array.tabulate(10)(d => if (d >= 5) 25.0 else 0.0))
    val pts = Array.newBuilder[Array[Double]]
    val labels = Array.newBuilder[Int]
    for (c <- centers.indices; _ <- 0 until 40) {
      pts += centers(c).map(_ + rnd.nextGaussian())
      labels += c
    }
    (pts.result(), labels.result())
  }

  test("planted clusters stay separated in the 2-D embedding") {
    val (x, labels) = blobs(1L)
    val y = Tsne.embed(x, perplexity = 15, iterations = 400, seed = 42L)
    // per-cluster centroid and mean intra-cluster radius in 2-D
    val byC = labels.indices.groupBy(labels(_))
    val cent = byC.map { case (c, idx) =>
      c -> Array(
        idx.map(y(_)(0)).sum / idx.size,
        idx.map(y(_)(1)).sum / idx.size)
    }
    def dist(a: Array[Double], b: Array[Double]) =
      math.hypot(a(0) - b(0), a(1) - b(1))
    val radius = byC.map { case (c, idx) =>
      c -> idx.map(i => dist(y(i), cent(c))).sum / idx.size
    }
    val maxR = radius.values.max
    val minSep = (for {
      a <- cent.keys; b <- cent.keys if a < b
    } yield dist(cent(a), cent(b))).min
    assert(minSep > 2 * maxR,
      s"clusters overlap: min centroid sep $minSep vs max radius $maxR")
  }

  test("deterministic for a fixed seed") {
    val (x, _) = blobs(2L)
    val a = Tsne.embed(x, perplexity = 10, iterations = 150, seed = 7L)
    val b = Tsne.embed(x, perplexity = 10, iterations = 150, seed = 7L)
    assert(a.flatten.toSeq == b.flatten.toSeq)
  }

  test("embedSampled bounds the collect and keeps the smallest hashes") {
    import spark.implicits._
    val df = spark.range(0, 1000)
      .select($"id", org.apache.spark.sql.functions.array(
        ($"id" % 7).cast("double"), ($"id" % 13).cast("double"),
        ($"id" % 3).cast("double")).as("v"))
    val out = Tsne.embedSampled(df, "id", "v", maxRows = 50,
      perplexity = 5, iterations = 50)
    assert(out.count() == 50)
    // same sample regardless of partitioning
    val out2 = Tsne.embedSampled(df.repartition(13), "id", "v",
      maxRows = 50, perplexity = 5, iterations = 50)
    assert(out.select("id").as[Long].collect().sorted.toSeq
      == out2.select("id").as[Long].collect().sorted.toSeq)
  }
}
