package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Bigram language-model scoring for corpus curation — one model
  * order up from [[UnigramLM]], toward the 5-gram-KenLM perplexity
  * filter of CCNet (Wenzek et al. 2020). The model is fit from the
  * corpus itself and interpolated with the unigram distribution
  * (Jelinek-Mercer smoothing):
  *
  *   p̂(w₂|w₁) = λ · c(w₁w₂)/c(w₁·) + (1−λ) · c(w₂)/T
  *
  * Per-document cross-entropy is the mean −log10 p̂ over the doc's
  * token transitions. Repetitive/boilerplate text scores low (its
  * transitions are corpus-frequent); incoherent token soup scores
  * high (transitions unseen, carried by the backoff mass alone) —
  * a strictly sharper signal than unigram H, which cannot tell
  * "common words in a plausible order" from "common words shuffled".
  *
  * Scale design (100 TB):
  *  - transition extraction is ROW-LOCAL (an array-slice zip over the
  *    token array — no posexplode+window, no shuffle to form pairs);
  *  - the model is one `groupBy(w₁,w₂).count` over the transition
  *    stream (map-side combined), with c(w₁·) derived by re-agging
  *    the BIGRAM-VOCAB-sized counts frame, not the corpus;
  *  - the counts frame is checkpointed so its three consumers (c₁
  *    derivation, model join, nothing else rescans the corpus);
  *  - scoring joins the transition stream to the model on (w₁,w₂) —
  *    a shuffle join AQE broadcasts when the model is small; the
  *    Zipf-hot bigram head is orders flatter than the unigram head,
  *    so key skew is milder than the operator it extends.
  *
  * Determinism: identical parenthesization of the double expression
  * in both engines, per-transition −log10 p̂ rounded to the 9-dp
  * lattice, EXACT DECIMAL(38,12) sum, per-doc mean rounded at the
  * edge — the [[UnigramLM]] discipline unchanged.
  *
  * Docs with fewer than 2 tokens have no transitions and are absent
  * from the output (both engines agree by construction).
  */
object BigramLM {

  /** (id, w1, w2) — one row per adjacent token pair, extracted
    * row-locally from the single-space-split token array.
    */
  def transitions(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    Reserved.check("transitions" -> docs)
    // NOT widened (measured r20): the split+explode kernel is cheap
    // relative to shuffling full document text — Par.widen here grew
    // q_bigram_score's stage-ms 2081 → 4461 (round-robin repartition
    // pays a local sort of the text rows plus serialization both
    // ways, twice per query since the stream is consumed twice). The
    // single-task explode on a one-split scan is the lesser cost.
    docs
      .select(col(idCol), split(col(textCol), " ", -1).as("__toks"))
      .filter(size(col("__toks")) >= 2)
      .select(col(idCol),
        explode(expr(
          "transform(sequence(1, size(__toks) - 1), " +
            "i -> struct(__toks[i-1] AS w1, __toks[i] AS w2))")).as("__p"))
      .select(col(idCol), col("__p.w1").as("w1"), col("__p.w2").as("w2"))
  }

  /** Top-k collocations by pointwise mutual information — the
    * classic "which word pairs belong together" extraction (Church &
    * Hanks 1990), over the same transition stream the LM uses. All
    * probabilities come from ONE event space (the transition stream:
    * joint c₁₂/N, marginals = row/column sums of the bigram counts),
    * so PMI = log10(c₁₂·N / (c₁·c₂)) is a pure function of four
    * integers — no mixed-denominator convention to disagree on.
    *
    * `minCount` floors the joint count (PMI's low-frequency bias is
    * the textbook failure mode); ordering is (6-dp PMI desc, w1, w2)
    * so the cut is total, and the top-k plans as TakeOrdered —
    * bounded, never a global sort materialization.
    */
  def collocations(
      docs: DataFrame, idCol: String, textCol: String,
      minCount: Int, k: Int): DataFrame = {
    require(minCount >= 1 && k >= 1, s"minCount=$minCount k=$k")
    val c12 = transitions(docs, idCol, textCol)
      .groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .transform(Par.pin)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))
    val c2 = c12.groupBy(col("w2")).agg(sum(col("c12")).as("c2"))
    val n = c12.agg(sum(col("c12")).as("n12"))
    val pmi = log10(
      (col("c12").cast("double") * col("n12").cast("double")) /
        (col("c1").cast("double") * col("c2").cast("double")))
    c12.filter(col("c12") >= minCount)
      .join(c1, "w1").join(c2, "w2")
      .crossJoin(broadcast(n))
      .select(col("w1"), col("w2"), col("c12"), round(pmi, 6).as("pmi"))
      .orderBy(col("pmi").desc, col("w1"), col("w2"))
      .limit(k)
  }

  /** (id, n_transitions, xent): per-doc transition count and mean
    * −log10 p̂ under the interpolated bigram model, rounded to 6 dp.
    * `lambda` must be exactly representable in double on both sides
    * of 1−λ (the default 0.75 is; document any override).
    */
  def crossEntropy(
      docs: DataFrame, idCol: String, textCol: String,
      lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0, s"lambda: $lambda")

    val trans = transitions(docs, idCol, textCol)

    // Bigram counts, checkpointed: c1 derivation and the scoring join
    // both read this (bigram-vocab-sized) frame, not the corpus.
    val c12 = trans.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .transform(Par.pin)
    val c1 = c12.groupBy(col("w1")).agg(sum(col("c12")).as("c1"))

    // Unigram backoff distribution over the FULL token stream
    // (including final tokens — the true unigram marginal).
    val toks = docs.select(
      explode(split(col(textCol), " ", -1)).as("w2"))
    val c2 = toks.groupBy(col("w2")).agg(count(lit(1)).as("c2"))
      .transform(Par.pin)
    val total = c2.agg(sum(col("c2")).cast("double").as("tot"))

    // p̂ with explicit parenthesization mirrored in the SQL oracles:
    // λ*(c12/c1) + (1−λ)*(c2/tot).
    val phat =
      lit(lambda) * (col("c12").cast("double") / col("c1").cast("double")) +
        lit(1.0 - lambda) * (col("c2").cast("double") / col("tot"))
    val model = c12
      .join(c1, "w1")
      .join(c2, "w2")
      .crossJoin(broadcast(total))
      .select(col("w1"), col("w2"),
        round(-log10(phat), 9).as("nlp"))

    trans
      .join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("nlp").cast(DecimalType(38, 12))).as("__sum"))
      .select(col(idCol), col("n_transitions"),
        round(col("__sum").cast("double") / col("n_transitions"), 6)
          .as("xent"))
  }

  /** (id, n_transitions, kn_xent): per-doc cross-entropy under an
    * interpolated Kneser-Ney bigram model (Kneser & Ney 1995; Chen &
    * Goodman 1999 eq. 4.26) fit on the corpus itself:
    *
    *   p_KN(w₂|w₁) = max(c(w₁w₂)−D, 0)/c(w₁·)
    *                 + D·N₁₊(w₁·)/c(w₁·) · N₁₊(·w₂)/N₁₊(··)
    *
    * with absolute discount D (default 0.75). The continuation
    * distribution N₁₊(·w₂)/N₁₊(··) — "in how many distinct contexts
    * does w₂ complete a bigram" — is what distinguishes KN from the
    * Jelinek-Mercer [[crossEntropy]]: a token that is frequent but
    * only ever follows ONE context (the "Francisco" problem) gets a
    * small continuation weight even though its unigram count is
    * large. For curation that means templated boilerplate (huge
    * counts, few contexts) stops scoring as "plausible text".
    *
    * Because the model is fit on the same corpus it scores, every
    * scored transition has c(w₁w₂) ≥ 1 — the unseen-bigram branch of
    * KN never fires and the max(·,0) is load-bearing only for
    * bigrams with count < D (impossible for D < 1). No OOV handling
    * is therefore needed, and both engines agree by construction.
    *
    * Scale shape: identical to [[crossEntropy]] — all four model
    * ingredients (c₁₂, c(w₁·), N₁₊(w₁·), N₁₊(·w₂)) are re-aggregations
    * of the ONE checkpointed bigram-vocab-sized counts frame; the
    * corpus is scanned exactly once for transitions and never again.
    * N₁₊(··) is a 1-row broadcast. Determinism: the per-transition
    * −log10 p snaps to the 9-dp lattice, DECIMAL(38,12) sum, 6-dp
    * mean at the edge (the [[UnigramLM]] discipline).
    */
  def kneserNey(
      docs: DataFrame, idCol: String, textCol: String,
      discount: Double = 0.75): DataFrame = {
    require(discount > 0.0 && discount < 1.0, s"discount: $discount")

    val trans = transitions(docs, idCol, textCol)
    val c12 = trans.groupBy(col("w1"), col("w2"))
      .agg(count(lit(1)).as("c12"))
      .transform(Par.pin)
    // all three marginals derive from the counts frame, not the corpus
    val left = c12.groupBy(col("w1"))
      .agg(sum(col("c12")).as("c1"), count(lit(1)).as("n1plus_fwd"))
    val cont = c12.groupBy(col("w2"))
      .agg(count(lit(1)).as("n1plus_bwd"))
    val nBigrams = c12.agg(count(lit(1)).cast("double").as("n_bigrams"))

    // explicit parenthesization, mirrored verbatim in the SQL oracle:
    // (c12−D)/c1 + (D·n1plus_fwd/c1) · (n1plus_bwd/nBigrams)
    val p =
      (col("c12").cast("double") - lit(discount)) / col("c1").cast("double") +
        (lit(discount) * col("n1plus_fwd").cast("double") /
          col("c1").cast("double")) *
          (col("n1plus_bwd").cast("double") / col("n_bigrams"))
    val model = c12
      .join(left, "w1")
      .join(cont, "w2")
      .crossJoin(broadcast(nBigrams))
      .select(col("w1"), col("w2"), round(-log10(p), 9).as("nlp"))

    trans
      .join(model, Seq("w1", "w2"))
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_transitions"),
        sum(col("nlp").cast(DecimalType(38, 12))).as("__sum"))
      .select(col(idCol), col("n_transitions"),
        round(col("__sum").cast("double") / col("n_transitions"), 6)
          .as("kn_xent"))
  }
}
