package perfbench

import graft.functions.{BpeApplyMerges, Porter2, SimHash64, WordShingles}
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.catalyst.util.{ArrayData, GenericArrayData}
import org.apache.spark.sql.types.{ArrayType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Microbenchmark of the engine's native text kernels, called directly
  * on a seeded token stream outside the Spark scheduler, so a kernel
  * change shows without job, codegen or shuffle cost around it.
  */
object Kernels {
  private val stems = Array(
    "connect", "relat", "happi", "run", "gener", "nation", "condit",
    "hope", "cook", "travel", "friend", "music", "read", "movi", "laugh",
    "adventur", "famili", "danc", "write", "think", "love", "work",
    "book", "food", "sport", "art", "learn", "play", "live", "walk")
  private val suffixes = Array(
    "", "", "s", "ed", "ing", "ly", "ness", "ation", "ational", "fulness",
    "ize", "er", "est", "ies", "ment", "ive")

  private val tokenType = ArrayType(StringType, containsNull = false)
  private val input = BoundReference(0, tokenType, nullable = true)

  /** Rates (per second) of each kernel plus the tokens and bytes the
    * timed repetitions consumed.
    */
  def run(seed: Long): Map[String, Double] = {
    val docs = 2000
    val docLen = 64
    val rnd = new scala.util.Random(seed)
    // skewed stem choice, like natural text
    def token(): String = {
      val i = math.min(stems.length - 1,
        (stems.length * math.pow(rnd.nextDouble(), 2)).toInt)
      stems(i) + suffixes(rnd.nextInt(suffixes.length))
    }
    val words: Array[Array[String]] = Array.fill(docs)(Array.fill(docLen)(token()))
    val tokens = words.flatten
    val tokenBytes = tokens.map(_.getBytes("UTF-8").length.toLong).sum
    val rows: Array[ArrayData] = words.map(d =>
      new GenericArrayData(d.map(w => UTF8String.fromString(w): Any)))
    val chars: Array[ArrayData] = tokens.map(w =>
      new GenericArrayData(w.map(c => UTF8String.fromString(c.toString): Any)))
    val shingles = WordShingles(input, 3)
    val simhash = SimHash64(input)
    val bpe = BpeApplyMerges(input, topPairs(tokens, 64))

    var consumedTokens = 0L
    var consumedBytes = 0L
    /** Median rate of `reps` timed passes over `n` items, after one
      * untimed pass for the JIT.
      */
    def rate(n: Int, reps: Int = 5)(body: => Unit): Double = {
      body
      val secs = (1 to reps).map { _ =>
        val t0 = System.nanoTime()
        body
        consumedTokens += tokens.length
        consumedBytes += tokenBytes
        (System.nanoTime() - t0) / 1e9
      }.sorted
      n / secs(reps / 2)
    }
    var sink = 0L
    val stem = rate(tokens.length) {
      var i = 0
      while (i < tokens.length) { sink += Porter2.stem(tokens(i)).length; i += 1 }
    }
    val shingle = rate(rows.length) {
      var i = 0
      while (i < rows.length) { sink += shingles.kernel(rows(i)).numElements(); i += 1 }
    }
    val sim = rate(rows.length) {
      var i = 0
      while (i < rows.length) { sink ^= simhash.kernel(rows(i)); i += 1 }
    }
    val bpeRate = rate(chars.length) {
      var i = 0
      while (i < chars.length) { sink += bpe.kernel(chars(i)).numElements(); i += 1 }
    }
    if (sink == 42L) System.err.print("")
    Map(
      "functions.stem_tokens_per_s" -> stem,
      "functions.shingle_rows_per_s" -> shingle,
      "functions.simhash_rows_per_s" -> sim,
      "functions.bpe_apply_rows_per_s" -> bpeRate,
      "functions.tokens" -> consumedTokens.toDouble,
      "functions.bytes" -> consumedBytes.toDouble)
  }

  /** The `k` most frequent adjacent character pairs: a distinct merge
    * list, as `BpeApplyMerges` requires.
    */
  private def topPairs(tokens: Array[String], k: Int): Seq[(String, String)] = {
    val counts = scala.collection.mutable.HashMap.empty[(String, String), Int]
    tokens.foreach { w =>
      var i = 0
      while (i + 1 < w.length) {
        val p = (w(i).toString, w(i + 1).toString)
        counts(p) = counts.getOrElse(p, 0) + 1
        i += 1
      }
    }
    counts.toSeq.sortBy { case ((l, r), n) => (-n, l, r) }.take(k).map(_._1)
  }
}
