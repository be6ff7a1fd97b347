package graft.operators

import graft.SparkSuite

/** Boilerplate: tiling edges (trailing partial block, single-block
  * doc), df thresholding, ordered reassembly, and the all-boilerplate
  * empty-document edge.
  */
class BoilerplateSpec extends SparkSuite {
  import spark.implicits._

  // Block size 2: "a b" tiles in every doc (df=5, boilerplate at
  // minDf=3); "c d" in docs 0,1 (df=2, kept). Doc 3 is pure
  // boilerplate; doc 4 has a trailing partial block.
  private lazy val docs = Seq(
    (0L, "a b c d x y"),
    (1L, "c d a b"),
    (2L, "a b q r"),
    (3L, "a b"),
    (4L, "q r a b z"))
    .toDF("doc_id", "text")

  test("blockDocFreq tiles non-overlapping blocks with the tail") {
    val df = Boilerplate.blockDocFreq(docs, "doc_id", "text", 2)
      .as[(String, Long)].collect().toMap
    assert(df("a b") == 5L)
    assert(df("c d") == 2L)
    assert(df("z") == 1L) // doc 4's trailing 1-token block
    assert(df("x y") == 1L)
  }

  test("stripFrequentBlocks removes df>=minDf tiles and reassembles in order") {
    val out = Boilerplate
      .stripFrequentBlocks(docs, "doc_id", "text", 2, minDf = 3)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((3L, 1L, "c d x y")))
    assert(out(1L) == ((2L, 1L, "c d")))
    assert(out(2L) == ((2L, 1L, "q r")))
    // entirely boilerplate -> empty clean text, not null
    assert(out(3L) == ((1L, 1L, "")))
    // partial tail block survives; order preserved around the removal
    assert(out(4L) == ((3L, 1L, "q r z")))
  }

  test("threshold above every df removes nothing") {
    val out = Boilerplate
      .stripFrequentBlocks(docs, "doc_id", "text", 2, minDf = 6)
      .as[(Long, Long, Long, String)].collect()
    assert(out.forall(_._3 == 0L))
    val texts = out.map(r => r._1 -> r._4).toMap
    assert(texts(0L) == "a b c d x y")
  }

  test("parameter validation") {
    intercept[IllegalArgumentException] {
      Boilerplate.stripFrequentBlocks(docs, "doc_id", "text", 0, 3)
    }
    intercept[IllegalArgumentException] {
      Boilerplate.stripFrequentBlocks(docs, "doc_id", "text", 2, 1)
    }
    intercept[IllegalArgumentException] {
      Boilerplate.dedupWithinDoc(docs, "doc_id", "text", 0)
    }
  }

  test("dedupWithinDoc keeps first occurrence, preserves order") {
    val d = Seq(
      (0L, "a b c d a b e f"),  // "a b" repeats at tiles 0 and 2
      (1L, "x y x y x y"),      // one survivor of three
      (2L, "p q r"),            // trailing partial tile "r", no dups
      (3L, "m n m")             // full tile "m n", partial "m" distinct
    ).toDF("doc_id", "text")
    val out = Boilerplate.dedupWithinDoc(d, "doc_id", "text", 2)
      .as[(Long, Long, Long, String)].collect()
      .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
    assert(out(0L) == ((4L, 1L, "a b c d e f")))
    assert(out(1L) == ((3L, 2L, "x y")))
    assert(out(2L) == ((2L, 0L, "p q r")))
    assert(out(3L) == ((2L, 0L, "m n m")))
  }

  test("dedupWithinDoc at blockSize 1 is token-level first-occurrence") {
    val d = Seq((7L, "w w z w z")).toDF("doc_id", "text")
    val out = Boilerplate.dedupWithinDoc(d, "doc_id", "text", 1)
      .as[(Long, Long, Long, String)].collect().head
    assert(out == ((7L, 5L, 3L, "w z")))
  }

  test("dedupWithinDoc matches a sequential reference on random docs") {
    // seeded generator over a tiny vocabulary (forces collisions)
    val rnd = new scala.util.Random(4242)
    val vocab = Vector("a", "b", "c", "ab", "x")
    val docs = (0L until 60L).map { id =>
      val n = 1 + rnd.nextInt(17)
      (id, Seq.fill(n)(vocab(rnd.nextInt(vocab.size))).mkString(" "))
    }
    def reference(text: String, bs: Int): (Long, Long, String) = {
      val toks = text.split(" ", -1)
      val blocks = toks.grouped(bs).map(_.mkString(" ")).toVector
      val kept = blocks.distinct // Scala Vector.distinct keeps first
      (blocks.size.toLong, (blocks.size - kept.size).toLong,
        kept.mkString(" "))
    }
    for (bs <- Seq(1, 2, 3)) {
      val got = Boilerplate
        .dedupWithinDoc(docs.toDF("doc_id", "text"), "doc_id", "text", bs)
        .as[(Long, Long, Long, String)].collect()
        .map(r => r._1 -> ((r._2, r._3, r._4))).toMap
      docs.foreach { case (id, text) =>
        val (t, rm, clean) = reference(text, bs)
        assert(got(id) == ((t, rm, clean)),
          s"doc $id bs=$bs: got ${got(id)}, want ($t,$rm,$clean)")
      }
    }
  }
}
