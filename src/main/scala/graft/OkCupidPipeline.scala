package graft

import graft.functions.TextFunctions
import graft.operators._
import org.apache.spark.ml.Pipeline
import org.apache.spark.ml.classification.DecisionTreeClassificationModel
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.storage.StorageLevel

import scala.jdk.CollectionConverters._

/** End-to-end replication of the reference pipeline
  * (`/root/reference/Week5_datingNLP.R`) on the real corpus schema:
  * CSV ingest (R:45) → essay concat (R:50-51) → regex clean (R:60-61)
  * → tokenize/lower/stopwords/stem/1-char (R:65-87) → trimmed DFM
  * (R:92,105) → stratified split (R:137-142) → decision tree (R:178)
  * → confusion matrix (R:188).
  *
  * Unlike the reference, nothing densifies (the reference's `as.matrix`
  * at R:110 allocated 6.17 GB; we stay sparse end-to-end). The tree is
  * [[graft.operators.DeterministicCart]]'s exact CART: one distributed
  * job per level while the training rows are too big for the driver,
  * then the rest of the tree grown in memory once they fit under its
  * `spark.driver.maxResultSize`-derived bound — identical at any
  * parallelism. The 27-minute single-thread rpart baseline is the
  * number to beat.
  */
object OkCupidPipeline {

  /** Synthetic shard count of the stratified split, fixed so the split
    * is a function of (seed, data) alone at any shuffle width.
    */
  private val SplitShards = 64

  /** The 31-column okcupid_profiles.csv schema (FIXTURES.md §1). */
  val schema: StructType = {
    val essays = (0 to 9).map(i => StructField(s"essay$i", StringType))
    StructType(
      Seq(
        StructField("age", IntegerType),
        StructField("status", StringType),
        StructField("sex", StringType),
        StructField("orientation", StringType),
        StructField("body_type", StringType),
        StructField("diet", StringType),
        StructField("drinks", StringType),
        StructField("drugs", StringType),
        StructField("education", StringType),
        StructField("ethnicity", StringType),
        StructField("height", DoubleType),
        StructField("income", IntegerType),
        StructField("job", StringType),
        StructField("last_online", StringType),
        StructField("location", StringType),
        StructField("offspring", StringType),
        StructField("pets", StringType),
        StructField("religion", StringType),
        StructField("sign", StringType),
        StructField("smokes", StringType),
        StructField("speaks", StringType)) ++ essays)
  }

  /** S1 — CSV scan with the load-bearing options: essays are quoted,
    * multi-line, with embedded quotes escaped by `"` doubling.
    */
  def load(spark: SparkSession, path: String): DataFrame =
    spark.read
      .option("header", "true")
      .option("multiLine", "true")
      .option("escape", "\"")
      .schema(schema)
      .csv(path)

  /** F1 — concat the 10 essay columns with single spaces; empty fields
    * contribute empty strings (quirk: double spaces survive, making
    * `""` a token downstream — SURVEY F1/F10).
    */
  def withEssays(profiles: DataFrame): DataFrame =
    profiles.withColumn("essays",
      TextFunctions.assembleEssays((0 to 9).map(i => col(s"essay$i"))))

  /** The full feature pipeline as MLlib stages (composable, savable). */
  def featurePipeline(minDocFreq: Int = 25, minTermFreq: Int = 35): Pipeline = {
    val cleaner = new RegexCleaner()
      .setInputCol("essays").setOutputCol("cleaned")
    val tokenizer = new WordTokenizer()
      .setInputCol("cleaned").setOutputCol("raw_tokens")
    val stopwords = SnowballStopWords()
      .setInputCol("raw_tokens").setOutputCol("unstemmed")
    val stemmer = new PorterStemmer()
      .setInputCol("unstemmed").setOutputCol("tokens")
    val vectorizer = new TrimmedCountVectorizer()
      .setInputCol("tokens").setOutputCol("features")
      .setMinDocFreq(minDocFreq).setMinTermFreq(minTermFreq)
    new Pipeline().setStages(
      Array(cleaner, tokenizer, stopwords, stemmer, vectorizer))
  }

  /** Train + evaluate: stratified 70/30 (seed 32984, the reference's),
    * rpart-semantics tree — grown to `maxDepth`, then weakest-link
    * cost-complexity pruned at `cp` (TreePruning; the reference's
    * `rpart(..., cp = .02)` at R:178 — rpart grows with no depth cap
    * of consequence and cp does the capacity control, which is what
    * the earlier fixed depth-3 approximated). Returns the confusion
    * matrix (prediction × label counts) and accuracy.
    *
    * Two frames are persisted, each projected down to the columns
    * downstream reads: (label, tokens) after the text chain (clean →
    * tokenize → stop → stem), which the vocabulary fit and the
    * vectorizer both read, and (label, features, is_train) after the
    * split, which the tree fit and the evaluation both read. Letting
    * each action re-derive the array-valued text chain from raw
    * essays, while also shuffling every intermediate column,
    * multiplied the most expensive stage of the pipeline by the number
    * of downstream actions (~6× measured at 60k docs).
    */
  def trainAndEvaluate(
      profiles: DataFrame,
      minDocFreq: Int = 25,
      minTermFreq: Int = 35,
      maxDepth: Int = 8,
      seed: Long = 32984L,
      cp: Double = 0.02): (DataFrame, Double) = {
    val (confusion, acc, _) =
      trainAndEvaluateTimed(profiles, minDocFreq, minTermFreq,
        maxDepth, seed, cp)
    (confusion, acc)
  }

  /** [[trainAndEvaluate]] plus per-stage wall seconds — featurize
    * (token chain + vocabulary fit), fit (vectorizer transform +
    * stratified split, materialized once, + exact CART grow),
    * prune_eval (cp prune + predict + confusion) — so a bench
    * regression is attributable to a stage instead of a coin flip on
    * the total.
    */
  def trainAndEvaluateTimed(
      profiles: DataFrame,
      minDocFreq: Int = 25,
      minTermFreq: Int = 35,
      maxDepth: Int = 8,
      seed: Long = 32984L,
      cp: Double = 0.02): (DataFrame, Double, Seq[(String, Double)]) = {
    val o = run(profiles, minDocFreq, minTermFreq, maxDepth, seed, cp)
    (o.confusion, o.accuracy, o.stages)
  }

  /** What one [[trainAndEvaluateTimed]] pass produced, with the fitted
    * vocabulary and the pruned tree kept for specs that pin them.
    */
  private[graft] final case class Outcome(
      confusion: DataFrame,
      accuracy: Double,
      stages: Seq[(String, Double)],
      vocabulary: Array[String],
      tree: DecisionTreeClassificationModel)

  private[graft] def run(
      profiles: DataFrame,
      minDocFreq: Int,
      minTermFreq: Int,
      maxDepth: Int,
      seed: Long,
      cp: Double): Outcome = {
    val essays = withEssays(profiles)
      .withColumn("label", (col("sex") === "m").cast("double"))
    // Evaluate the text chain ONCE: run the transformer prefix of the
    // feature pipeline, persist the (label, tokens) projection, and
    // let the vectorizer fit AND transform read the persisted tokens —
    // otherwise the vocab fit and the feature transform each re-derive
    // every token from raw essays.
    val tFeat0 = System.nanoTime()
    val stages = featurePipeline(minDocFreq, minTermFreq).getStages
    val tokens = new Pipeline().setStages(stages.init)
      .fit(essays).transform(essays)
      .select(col("label"), col("tokens"))
      .persist(StorageLevel.MEMORY_AND_DISK)
    // try/finally from the FIRST persist: a mid-pipeline failure must
    // not leave 60k-row caches stranded in the block manager (the
    // bench keeps the JVM alive across queries)
    try {
      // the vocabulary fit is the action that materializes `tokens`
      val vectorizer = stages.last.asInstanceOf[TrimmedCountVectorizer]
        .fit(tokens)
      val featurizeSec = (System.nanoTime() - tFeat0) / 1e9
      val tFit0 = System.nanoTime()
      // The split flag is persisted, not the bare features: train and
      // test are both filters of this one frame, so its counts, quota
      // and window jobs run once, and the sparse vectors are built once
      // for the tree fit and the evaluation.
      val flagged = StratifiedSplit.withSplitFlag(
          vectorizer.transform(tokens).select(col("label"), col("features")),
          "label", 0.7, seed, shards = SplitShards)
        .persist(StorageLevel.MEMORY_AND_DISK)
      try {
        val train = flagged.filter(col("is_train")).drop("is_train")
        val test = flagged.filter(!col("is_train")).drop("is_train")
        val grown = DeterministicCart.fit(train, "features", "label", maxDepth)
        val fitSec = (System.nanoTime() - tFit0) / 1e9
        val tEval0 = System.nanoTime()
        // rpart's capacity control: weakest-link prune at cp (driver-side
        // over the node tree; the model is already driver-resident)
        val model = if (cp > 0) TreePruning.pruneCp(grown, cp) else grown
        val (confusion, acc) = evaluate(model.transform(test), profiles.sparkSession)
        val pruneEvalSec = (System.nanoTime() - tEval0) / 1e9
        Outcome(confusion, acc, Seq(
          "featurize" -> featurizeSec,
          "fit" -> fitSec,
          "prune_eval" -> pruneEvalSec), vectorizer.vocabulary, model)
      } finally flagged.unpersist()
    } finally tokens.unpersist()
  }

  /** Confusion matrix (prediction × label counts, in (prediction,
    * label) order) and accuracy from one aggregation over the
    * predictions. The ≤ 4 cells are sorted on the driver and returned
    * as a local relation, so collecting the matrix starts no job.
    */
  private def evaluate(
      predictions: DataFrame,
      spark: SparkSession): (DataFrame, Double) = {
    val cells = predictions
      .groupBy(col("prediction"), col("label"))
      .agg(count(lit(1)).as("n"))
      .collect()
      .sortBy(r => (r.getDouble(0), r.getDouble(1)))(
        Ordering.Tuple2(Ordering.Double.TotalOrdering,
          Ordering.Double.TotalOrdering))
    val total = cells.map(_.getLong(2)).sum
    val correct = cells.filter(r => r.getDouble(0) == r.getDouble(1))
      .map(_.getLong(2)).sum
    val confusion = spark.createDataFrame(cells.toSeq.asJava,
      StructType(Seq(
        StructField("prediction", DoubleType, nullable = false),
        StructField("label", DoubleType, nullable = false),
        StructField("n", LongType, nullable = false))))
    (confusion, correct.toDouble / total)
  }
}
