package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Exact multinomial Naive Bayes over the corpus token stream — the
  * deterministic analogue of the linear text classifiers that
  * large-scale curation pipelines run for language ID and quality
  * filtering (CCNet's fastText stage; the reference's own
  * label-from-text task is the rpart tree over a DFM,
  * `/root/reference/Week5_datingNLP.R:178`, which this operator
  * complements with a closed-form, fully oracle-replayable model).
  *
  * Model (Laplace add-one smoothing, log10 per the engine's
  * cross-engine log policy):
  *   prior_c  = log10(N_c / N)
  *   ll(t,c)  = log10((cnt(t,c) + 1) / (tot_c + V))
  *   default_c = log10(1 / (tot_c + V))          // unseen-term mass
  * with V = |train vocabulary| (terms unseen in training take
  * `default_c` in every class, so only the model's own terms need
  * rows).
  *
  * Determinism across engines: every log lands on an integer
  * MICRO-log lattice (`round(log10(x) * 1e6)` as long, far coarser
  * than double ULP) and all downstream arithmetic — score sums,
  * argmax — is integer-only, so accumulation order and libm ULP
  * differences cannot flip a bit (the q_bm25/UnigramLM policy).
  *
  * Score of doc d for class c, computed WITHOUT materializing the
  * (doc × vocab) frame: with n_d = |d| and cnt(d,t) the doc's term
  * counts,
  *   score(d,c) = prior_c + n_d·default_c
  *              + Σ_{t ∈ d ∩ V} cnt(d,t)·(ll(t,c) − default_c)
  * so unseen terms are handled exactly by the `n_d·default_c` term
  * and the join is an INNER join of the doc's terms against the
  * model — no left-join-then-coalesce row explosion.
  *
  * Scale design (100 TB):
  *  - fit is one map-side-combined `groupBy(label, term).count` over
  *    the token stream — linear, no all-pairs anything;
  *  - the model is a (V × C)-bounded frame, broadcast into scoring, so
  *    classification is a broadcast hash join at scan speed and the
  *    Zipf-hot head term never becomes a shuffle-skew key;
  *  - scoring aggregates per (doc, class) with C a small constant;
  *    the argmax window partitions BY DOCUMENT — never a global
  *    window.
  */
object NaiveBayes {

  /** Fitted model as two bounded frames:
    *  - `classes`: (label, n_docs, tokens, prior_micro, default_micro)
    *    — C rows;
    *  - `terms`: (label, term, ll_micro, delta_micro) — V × C rows
    *    (delta = ll − default ≥ 0, the inner-join scoring weight).
    * Both are pure functions of the training frame.
    */
  final case class Model(classes: DataFrame, terms: DataFrame)

  private def microLog(x: org.apache.spark.sql.Column) =
    round(log10(x) * lit(1e6)).cast("long")

  /** Fit on `(labelCol, textCol)`; tokenization is the corpus
    * convention (literal single-space split). Rows with a null label
    * or null text are the caller's to filter — nulls here would
    * silently form a junk class.
    */
  def fit(train: DataFrame, textCol: String, labelCol: String): Model = {
    Reserved.check("train" -> train)
    val toks = train.select(col(labelCol).as("label"),
      explode(split(col(textCol), " ", -1)).as("term"))

    // One corpus pass; every derived frame below is vocab-sized.
    // Pinned so the class totals, vocab size, and term rows
    // don't each replan a corpus scan (the UnigramLM pattern).
    val cnt = toks.groupBy(col("label"), col("term"))
      .agg(count(lit(1)).as("cnt"))
      .transform(Par.pin)

    val totC = cnt.groupBy(col("label")).agg(sum(col("cnt")).as("tot"))
    val vocab = cnt.agg(countDistinct(col("term")).as("v"))
    // pinned (r20): class-count-sized, and it feeds BOTH the classes
    // join and the total-docs derivation below — unpinned, each
    // consumer re-scanned the training corpus. N is a re-aggregation
    // of the per-class counts (groupBy keeps a null-label group, so
    // sum(n_docs) ≡ count(*) exactly) — the second corpus scan fit
    // used to pay for one number is gone.
    val nDocs = train.groupBy(col(labelCol).as("label"))
      .agg(count(lit(1)).as("n_docs"))
      .transform(Par.pin)
    val n = nDocs.agg(sum(col("n_docs")).as("n"))

    val classes = nDocs
      .join(totC, "label")
      .crossJoin(broadcast(vocab)).crossJoin(broadcast(n))
      .select(col("label"), col("n_docs"), col("tot").as("tokens"),
        microLog(col("n_docs").cast("double") / col("n").cast("double"))
          .as("prior_micro"),
        microLog(lit(1.0) / (col("tot") + col("v")).cast("double"))
          .as("default_micro"))

    // V×C rows: the full smoothed likelihood table. Terms are crossed
    // with every class (a class that never saw the term still assigns
    // it (0+1)/(tot_c+V) — that row IS the discriminative signal).
    val terms = cnt.select(col("term")).distinct()
      .crossJoin(broadcast(classes.select(col("label"), col("default_micro"),
        col("tokens"))))
      .join(cnt, Seq("label", "term"), "left")
      .crossJoin(broadcast(vocab))
      .select(col("label"), col("term"),
        microLog((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("tokens") + col("v")).cast("double")).as("ll_micro"),
        (microLog((coalesce(col("cnt"), lit(0L)) + lit(1L)).cast("double") /
          (col("tokens") + col("v")).cast("double"))
          - col("default_micro")).as("delta_micro"))

    Model(classes, terms)
  }

  /** Score every document against every class: (idCol, label,
    * score_micro) — |docs| × C rows, integer scores on the micro-log
    * lattice.
    */
  def scores(model: Model, docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    Reserved.check("docs" -> docs)
    val docTerms = docs
      .select(col(idCol), explode(split(col(textCol), " ", -1)).as("term"))
      .groupBy(col(idCol), col("term")).agg(count(lit(1)).as("dcnt"))
    val nD = docTerms.groupBy(col(idCol)).agg(sum(col("dcnt")).as("n_d"))

    val seen = docTerms
      .join(broadcast(model.terms.select(col("label"), col("term"),
        col("delta_micro"))), Seq("term"))
      .groupBy(col(idCol), col("label"))
      .agg(sum(col("dcnt") * col("delta_micro")).as("seen_sum"))

    nD.crossJoin(broadcast(model.classes
        .select(col("label"), col("prior_micro"), col("default_micro"))))
      .join(seen, Seq(idCol, "label"), "left")
      .select(col(idCol), col("label"),
        (col("prior_micro") + col("n_d") * col("default_micro") +
          coalesce(col("seen_sum"), lit(0L))).as("score_micro"))
  }

  /** Argmax class per document (ties break on label ascending):
    * (idCol, pred, score_micro).
    */
  def classify(model: Model, docs: DataFrame, idCol: String, textCol: String)
      : DataFrame = {
    val w = Window.partitionBy(col(idCol))
      .orderBy(col("score_micro").desc, col("label").asc)
    scores(model, docs, idCol, textCol)
      .withColumn("__rn", row_number().over(w))
      .filter(col("__rn") === 1)
      .select(col(idCol), col("label").as("pred"), col("score_micro"))
  }

  /** Held-out confusion matrix: (actual, pred, n) over the scored
    * docs — the model-quality summary a curation pipeline gates on
    * before trusting the filter (the reference's table(pred, actual)
    * at `Week5_datingNLP.R:196`, class-count-many rows).
    */
  def confusion(
      model: Model, docs: DataFrame, idCol: String, textCol: String,
      labelCol: String): DataFrame =
    classify(model, docs, idCol, textCol)
      .join(docs.select(col(idCol), col(labelCol).as("actual")), idCol)
      .groupBy(col("actual"), col("pred"))
      .agg(count(lit(1)).as("n"))
}
