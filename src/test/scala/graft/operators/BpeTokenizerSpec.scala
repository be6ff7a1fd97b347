package graft.operators

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.functions._

class BpeTokenizerSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  // The canonical Sennrich toy corpus: {low×5, lower×2, newest×6,
  // widest×3} learns est</w>-family merges first.
  private def corpus = Seq(
    (Seq.fill(5)("low") ++ Seq.fill(2)("lower") ++
      Seq.fill(6)("newest") ++ Seq.fill(3)("widest")).mkString(" ")
  ).toDF("text")

  test("initialSymbols decomposes to chars with the </w> marker") {
    val syms = BpeTokenizer
      .initialSymbols(BpeTokenizer.wordCounts(corpus, "text"))
      .filter(col("word") === "low").select("syms")
      .as[Seq[String]].collect().head
    assert(syms === Seq("l", "o", "w</w>"))
  }

  test("pairStats counts frequency-weighted adjacent pairs") {
    val stats = BpeTokenizer
      .pairStats(BpeTokenizer.initialSymbols(
        BpeTokenizer.wordCounts(corpus, "text")))
      .collect().map(r => ((r.getString(0), r.getString(1)), r.getLong(2)))
      .toMap
    // (e, s): newest×6 + widest×3 = 9; (s, t</w>): same 9
    assert(stats(("e", "s")) === 9L)
    assert(stats(("s", "t</w>")) === 9L)
    // (l, o): low×5 + lower×2 = 7
    assert(stats(("l", "o")) === 7L)
  }

  test("train learns the canonical first merges on the toy corpus") {
    val merges = BpeTokenizer.train(corpus, "text", nMerges = 4)
    // (e,s) and (es,t</w>) are the forced first two (count 9);
    // then (l,o) at 7, (lo,w</w>) at 5 (lower's 'lo w' pair is
    // w-internal: (lo, w) has only 2)
    assert(merges.take(2) === Seq(("e", "s"), ("es", "t</w>")))
    assert(merges(2) === (("l", "o")))
    // 6-count tie between (e,w), (n,e), (w,est</w>) breaks
    // lexicographically
    assert(merges(3) === (("e", "w")))
  }

  test("segment applies merges greedily left-to-right") {
    val merges = BpeTokenizer.train(corpus, "text", nMerges = 3)
    val pieces = BpeTokenizer.segment(corpus, "text", merges)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(pieces("newest") === Seq("n", "e", "w", "est</w>"))
    assert(pieces("low") === Seq("lo", "w</w>"))
    assert(pieces("lower") === Seq("lo", "w", "e", "r</w>"))
  }

  test("overlapping merge is non-overlapping left-to-right") {
    val df = Seq("aaa").toDF("text")
    val out = BpeTokenizer.segment(df, "text", Seq(("a", "a")))
      .collect().head.getSeq[String](2)
    // chars: a a a</w>; merge (a,a) hits the first pair only
    assert(out === Seq("aa", "a</w>"))
  }

  test("trainLedger records the winning count at each selection " +
      "(VERDICT r16 #4: the per-merge audit ledger)") {
    val ledger = BpeTokenizer.trainLedger(corpus, "text", nMerges = 4)
    // hand-computed: (e,s) 9 = newest 6 + widest 3; after merging,
    // (es,t</w>) is still 9; (l,o) 7 = low 5 + lower 2; then the
    // 6-count tie (e,w)/(n,e)/(w,est</w>) breaks lexicographically
    assert(ledger === Seq(
      (1, "e", "s", 9L), (2, "es", "t</w>", 9L),
      (3, "l", "o", 7L), (4, "e", "w", 6L)))
    // train() is the ledger minus the audit columns
    assert(BpeTokenizer.train(corpus, "text", nMerges = 4) ===
      ledger.map { case (_, l, r, _) => (l, r) })
  }

  test("trainLedger run-of-identical-symbols merges stay leftmost-" +
      "greedy (the alignment case a string-replace replay gets wrong)") {
    // "aaaaaa" → [a,a,a,a,a,a</w>]: greedy (a,a) merges positions
    // (1,2) and (3,4) — NOT (1,2) and (4,5) as a single-pass
    // trailing-space string replace would produce
    val df = Seq("aaaaaa aaaaaa").toDF("text")
    val merged = BpeTokenizer.mergePair(
        BpeTokenizer.initialSymbols(BpeTokenizer.wordCounts(df, "text")),
        "a", "a")
      .collect().head.getSeq[String](2)
    assert(merged === Seq("aa", "aa", "a", "a</w>"))
  }

  test("train stops early when no pair reaches minCount") {
    val df = Seq("ab cd").toDF("text")
    val merges = BpeTokenizer.train(df, "text", nMerges = 10)
    assert(merges.isEmpty) // every pair occurs once < minCount=2
  }

  test("a corpus word containing the literal </w> marker is refused " +
      "loudly (VERDICT r17 #5: symbol-identity collision guard)") {
    // "ax</w>b" decomposes into raw chars a,x,<,/,w,>,b</w>; merges
    // over those chars could assemble an internal symbol `x</w>`
    // byte-identical to a genuine word-FINAL unit — so decomposition
    // must refuse, not silently corrupt pair stats
    val hostile = Seq("low ax</w>b low").toDF("text")
    val e = intercept[Exception] {
      BpeTokenizer.trainLedger(hostile, "text", nMerges = 2,
        minCount = 1L)
    }
    def messages(t: Throwable): Seq[String] =
      Option(t).toSeq.flatMap(x =>
        Option(x.getMessage).toSeq ++ messages(x.getCause))
    assert(messages(e).exists(m =>
      m.contains("end-of-word marker") && m.contains("ax</w>b")))
    // segment routes through the same decomposition — same refusal
    val e2 = intercept[Exception] {
      BpeTokenizer.segment(hostile, "text", Seq(("l", "o"))).collect()
    }
    assert(messages(e2).exists(_.contains("end-of-word marker")))
    // and a clean corpus is untouched by the guard
    assert(BpeTokenizer.train(corpus, "text", nMerges = 1)
      === Seq(("e", "s")))
  }

  test("writeMerges/segmentFromStore round-trips the live segment " +
      "(VERDICT r17 #4: the persisted tokenizer artifact)") {
    val ledger = BpeTokenizer.trainLedger(corpus, "text", nMerges = 4)
    val dir = tempDir("bpe_store").toString
    BpeTokenizer.writeMerges(spark, ledger, dir)
    // the reload preserves learned order and the audit columns
    assert(BpeTokenizer.readMerges(spark, dir) === ledger)
    val live = BpeTokenizer
      .segment(corpus, "text",
        ledger.map { case (_, l, r, _) => (l, r) })
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    val stored = BpeTokenizer.segmentFromStore(corpus, "text", dir)
      .collect().map(r => r.getString(0) -> r.getSeq[String](2)).toMap
    assert(stored === live)
  }

  test("vocab emits base symbols at step 0 plus merge outputs at " +
      "their steps") {
    val ledger = BpeTokenizer.trainLedger(corpus, "text", nMerges = 4)
    val v = BpeTokenizer.vocab(corpus, "text", ledger)
      .collect().map(r => r.getString(0) -> r.getInt(1)).toMap
    // base: every char of {low, lower, newest, widest} + word-final
    // marker forms
    for (s <- Seq("l", "o", "e", "s", "n", "w", "i", "d",
        "w</w>", "r</w>", "t</w>"))
      assert(v(s) === 0, s"base symbol $s")
    // merges in learned order: es, est</w>, lo, ew
    assert(v("es") === 1 && v("est</w>") === 2 &&
      v("lo") === 3 && v("ew") === 4)
    // no collisions: one row per symbol
    val rows = BpeTokenizer.vocab(corpus, "text", ledger).count()
    assert(rows === v.size)
  }

  test("compressionStats totals and lattice ratios match the " +
      "hand-computed toy corpus") {
    val merges = BpeTokenizer.train(corpus, "text", nMerges = 4)
    val r = BpeTokenizer.compressionStats(corpus, "text", merges).head
    // pieces: low→[lo,w</w>]=2 ×5, lower→[lo,w,e,r</w>]=4 ×2,
    // newest→[n,ew,est</w>]=3 ×6, widest→[w,i,d,est</w>]=4 ×3
    assert(r.getLong(0) === 16L) // words
    assert(r.getLong(1) === 48L) // pieces = 10+8+18+12
    assert(r.getLong(2) === 79L) // chars = 15+10+36+18
    assert(r.getLong(3) === 0L)  // no single-piece words yet
    assert(r.getLong(4) === 3000L)    // 48*1000 div 16
    assert(r.getLong(5) === 1645833L) // 79e6 div 48
  }

  test("topPair + mergePair reproduce train's first iteration") {
    val df = Seq("low low lower lowest").toDF("text")
    val syms = BpeTokenizer.initialSymbols(
      BpeTokenizer.wordCounts(df, "text"))
    val Some((l, r, cnt)) = BpeTokenizer.topPair(syms)
    assert((l, r) === (("l", "o")) && cnt === 4L)
    val mergedDf = BpeTokenizer.mergePair(syms, l, r)
    val merged = mergedDf.collect().map(x => x.getSeq[String](2)).toSet
    assert(merged.contains(Seq("lo", "w</w>")))
    // the recounted argmax equals train's second learned merge
    val second = BpeTokenizer.topPair(mergedDf).get
    val trained = BpeTokenizer.train(df, "text", nMerges = 2,
      minCount = 1L)
    assert(trained.head === ((l, r)))
    assert(trained(1) === ((second._1, second._2)))
  }
}
