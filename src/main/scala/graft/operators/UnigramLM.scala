package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** CCNet-style unigram language-model scoring for corpus curation
  * (Wenzek et al. 2020 filter perplexity-by-LM; the unigram variant
  * here is the model-free analogue a pipeline can fit from the corpus
  * itself in one aggregation pass).
  *
  * Per-document cross-entropy under the corpus unigram distribution:
  * `H(d) = (1/|d|) Σ_w −log10 p(w)`, with `p(w) = count(w) / Σ count`.
  * Low H ≈ stereotyped/boilerplate text (all high-frequency words);
  * high H ≈ rare-token soup — both tails are what quality filters cut.
  *
  * Scale design (100 TB):
  *  - the model is ONE map-side-combined `groupBy(word).count` over the
  *    token stream — linear, no all-pairs anything;
  *  - with `maxVocab` set the model is bounded and force-broadcast, so
  *    scoring is a broadcast hash join at scan speed and the Zipf-hot
  *    head word never becomes a shuffle-skew key; unbounded models fall
  *    back to a shuffle join that AQE still broadcasts when small;
  *  - out-of-vocabulary tokens (only possible under `maxVocab`) take
  *    the floor probability 1/total — the standard add-floor fallback.
  *
  * Determinism across engines: each per-word negative log-prob is
  * rounded to 9 dp (a lattice far coarser than double ULP), summed
  * EXACTLY in DECIMAL(38,12) so accumulation order cannot perturb the
  * result, and only the final per-doc mean is cast to double and
  * rounded at the edge — the same exact-decimal-interior discipline as
  * the rest of the engine (see QueryDef scaladoc).
  */
object UnigramLM {

  /** (id, n_tokens, xent): per-doc token count and mean negative
    * log10-probability, rounded to 6 dp. Tokenization is the corpus
    * convention: literal single-space split.
    */
  def crossEntropy(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      maxVocab: Option[Int] = None): DataFrame = {
    maxVocab.foreach(n => require(n > 0, s"maxVocab: $n"))

    val toks = docs.select(col(idCol), explode(split(col(textCol), " ", -1)).as("word"))
    // Pinned: total, the vocab cap, and the model all derive from the
    // counts, and Catalyst plans each branch as its own corpus scan +
    // re-aggregation. Pinning the VOCAB-sized frame caps the operator
    // at two corpus passes: one to fit the model, one to score.
    val counts = toks.groupBy("word").agg(count(lit(1)).as("cnt"))
      .transform(Par.pin)
    // Total stays the FULL corpus mass even when the vocab is capped,
    // so capping changes only which words take the OOV floor, not the
    // probabilities of the words that survive.
    val total = counts.agg(sum(col("cnt")).cast("double").as("tot"))

    val kept = maxVocab match {
      case Some(n) =>
        // Deterministic cap: top-n by count, ties broken by word. The
        // TakeOrderedAndProject this plans is bounded by n — the whole
        // point of the cap.
        counts.orderBy(col("cnt").desc, col("word").asc).limit(n)
      case None => counts
    }

    val nlp = round(-log10(col("cnt").cast("double") / col("tot")), 9)
    val modelRaw = kept.crossJoin(broadcast(total))
      .select(col("word"), nlp.as("nlp"))
    val model = if (maxVocab.isDefined) broadcast(modelRaw) else modelRaw

    val scoredToks = maxVocab match {
      case Some(_) =>
        toks.join(model, Seq("word"), "left")
          .crossJoin(broadcast(total))
          .select(col(idCol),
            coalesce(col("nlp"),
              round(-log10(lit(1.0) / col("tot")), 9)).as("nlp"))
      case None =>
        // Uncapped: every token is in-vocabulary by construction.
        toks.join(model, Seq("word")).select(col(idCol), col("nlp"))
    }

    scoredToks
      .groupBy(col(idCol))
      .agg(count(lit(1)).as("n_tokens"),
        sum(col("nlp").cast(DecimalType(38, 12))).as("__sum"))
      .select(col(idCol), col("n_tokens"),
        round(col("__sum").cast("double") / col("n_tokens"), 6).as("xent"))
  }

  /** Per-group distribution drift: KL(P_g ‖ Q) in log10 units, where
    * P_g is group g's add-one-smoothed unigram distribution and Q the
    * corpus's — the "did this source/snapshot shift vocabulary?"
    * monitor a continuously-ingesting corpus runs per feed.
    *
    * Exact KL needs the FULL vocabulary per group (terms a group
    * never uses still carry p = 1/(T_g+V) mass), so the join frame is
    * |groups| × |vocab| — the honest cost, fine for the few-groups
    * case this monitors; the frame builds from the (group, word)
    * counts, never by rescanning the corpus. Per-term contributions
    * p·log10(p/q) snap to the 9-dp lattice and sum in exact DECIMAL
    * (order-free); log10 per the engine's cross-engine log policy.
    */
  def sourceDrift(
      docs: DataFrame, textCol: String, groupCol: String): DataFrame = {
    val cg = docs
      .select(col(groupCol).as("g"),
        explode(split(col(textCol), " ", -1)).as("w"))
      .groupBy(col("g"), col("w")).agg(count(lit(1)).as("cgw"))
      .transform(Par.pin)
    val cw = cg.groupBy(col("w")).agg(sum(col("cgw")).as("cw"))
    val tg = cg.groupBy(col("g")).agg(sum(col("cgw")).as("tg"))
    val tot = cg.agg(sum(col("cgw")).as("t"),
      countDistinct(col("w")).as("v"))

    val full = tg.crossJoin(cw) // groups × vocab
      .join(cg, Seq("g", "w"), "left")
      .na.fill(0L, Seq("cgw"))
      .crossJoin(broadcast(tot))
    val p = (col("cgw").cast("double") + lit(1.0)) /
      (col("tg").cast("double") + col("v").cast("double"))
    val q = (col("cw").cast("double") + lit(1.0)) /
      (col("t").cast("double") + col("v").cast("double"))
    full
      .select(col("g"), round(p * log10(p / q), 9).as("__c"))
      .groupBy(col("g"))
      .agg(sum(col("__c").cast(DecimalType(38, 12))).as("__kl"))
      .select(col("g").as(groupCol),
        round(col("__kl").cast("double"), 6).as("kl"))
  }
}
