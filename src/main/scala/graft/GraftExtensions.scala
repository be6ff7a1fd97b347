package graft

import org.apache.spark.sql.{SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.apache.spark.sql.catalyst.expressions.{Expression, ExpressionInfo, Literal}

import graft.functions._

/** The library's SQL function surface: every custom Catalyst
  * expression exposed by name so `spark.sql("... graft_stem(col) ...")`
  * works — the same expressions the Column API wraps, one registry.
  */
object GraftFunctions {

  type Builder = Seq[Expression] => Expression

  private def info(name: String, usage: String): ExpressionInfo =
    // (className, db, name, usage, arguments, examples, note, group,
    // since, deprecated, source): all optional fields empty
    new ExpressionInfo("graft", null, name, usage, "", "", "", "", "", "", "")

  private def intLit(e: Expression, what: String): Int = e match {
    case Literal(v: Int, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  private def longLit(e: Expression, what: String): Long = e match {
    case Literal(v: Int, _) => v.toLong
    case Literal(v: Long, _) => v
    case other => throw new IllegalArgumentException(
      s"$what must be an integer literal, got $other")
  }

  val all: Seq[(FunctionIdentifier, ExpressionInfo, Builder)] = Seq(
    (FunctionIdentifier("graft_stem"),
      info("graft_stem",
        "graft_stem(str) - Porter2 (Snowball English) stem of `str`."),
      { args: Seq[Expression] =>
        require(args.length == 1, "graft_stem(str)")
        StemExpression(args.head)
      }),
    (FunctionIdentifier("graft_cosine"),
      info("graft_cosine",
        "graft_cosine(a, b) - cosine similarity of two float/double arrays."),
      { args: Seq[Expression] =>
        require(args.length == 2, "graft_cosine(a, b)")
        CosineSimilarity(args(0), args(1))
      }),
    (FunctionIdentifier("graft_dist2"),
      info("graft_dist2",
        "graft_dist2(a, b) - squared euclidean distance of two arrays."),
      { args: Seq[Expression] =>
        require(args.length == 2, "graft_dist2(a, b)")
        EuclideanDist2(args(0), args(1))
      }),
    (FunctionIdentifier("graft_tokenize_lower"),
      info("graft_tokenize_lower",
        "graft_tokenize_lower(str) - fused word-tokenize + lowercase."),
      { args: Seq[Expression] =>
        require(args.length == 1, "graft_tokenize_lower(str)")
        TokenizeLowerExpression(args.head)
      }),
    (FunctionIdentifier("graft_hyperplane_buckets"),
      info("graft_hyperplane_buckets",
        "graft_hyperplane_buckets(vec, bits, tables[, seed]) - " +
          "LSH bucket ids, one per table."),
      { args: Seq[Expression] =>
        require(args.length == 3 || args.length == 4,
          "graft_hyperplane_buckets(vec, bits, tables[, seed])")
        val seed =
          if (args.length == 4) longLit(args(3), "seed") else 0x5eedL
        HyperplaneBucketsExpression(args.head,
          intLit(args(1), "bits"), intLit(args(2), "tables"), seed)
      }),
    (FunctionIdentifier("graft_nfc_normalize"),
      info("graft_nfc_normalize",
        "graft_nfc_normalize(str) - Unicode NFC canonical form of " +
          "`str` (already-normalized input is returned untouched)."),
      { args: Seq[Expression] =>
        require(args.length == 1, "graft_nfc_normalize(str)")
        NfcNormalizeExpression(args.head)
      }),
    (FunctionIdentifier("graft_icu_tokenize_lower"),
      info("graft_icu_tokenize_lower",
        "graft_icu_tokenize_lower(str) - UAX#29 (BreakIterator) word " +
          "tokenize + lowercase: hyphenated words stay whole, grouped " +
          "numbers and symbol runs drop (the F5 fidelity mode)."),
      { args: Seq[Expression] =>
        require(args.length == 1, "graft_icu_tokenize_lower(str)")
        IcuTokenizeLowerExpression(args.head)
      }),
    (FunctionIdentifier("graft_stopword_count"),
      info("graft_stopword_count",
        "graft_stopword_count(tokens) - number of Snowball-English " +
          "stopwords in an array<string> (hash-set membership, one " +
          "compiled loop per row)."),
      { args: Seq[Expression] =>
        require(args.length == 1, "graft_stopword_count(tokens)")
        StopwordCountExpression(args.head)
      }),
    (FunctionIdentifier("graft_stem_prune"),
      info("graft_stem_prune",
        "graft_stem_prune(tokens) - Porter2-stem each token then drop " +
          "single-letter results (the fused F8+F9 pipeline stage)."),
      { args: Seq[Expression] =>
        require(args.length == 1, "graft_stem_prune(tokens)")
        StemPruneExpression(args.head)
      }),
    (FunctionIdentifier("graft_top_k_by"),
      info("graft_top_k_by",
        "graft_top_k_by(score, id, k) - bounded per-group top-k " +
          "aggregate by (score desc, id asc): array<struct<score,id>> " +
          "best first; map-side partial buffers capped at k."),
      { args: Seq[Expression] =>
        require(args.length == 3, "graft_top_k_by(score, id, k)")
        // same cast discipline as functions.top_k_by: the aggregate's
        // checkInputDataTypes looks through them at the source types
        TopKByScore(
          org.apache.spark.sql.catalyst.expressions.Cast(
            args(0), org.apache.spark.sql.types.DoubleType),
          org.apache.spark.sql.catalyst.expressions.Cast(
            args(1), org.apache.spark.sql.types.LongType),
          intLit(args(2), "k"))
      }))

  /** Register everything on a live session (runtime path; the
    * config-time path is [[GraftExtensions]]).
    */
  def register(spark: SparkSession): Unit =
    all.foreach { case (id, inf, b) =>
      org.apache.spark.sql.graftbridge.Bridge
        .registerFunction(spark, id, inf, b)
    }
}

/** Deployable entry point: `--conf
  * spark.sql.extensions=graft.GraftExtensions` (or
  * `builder.withExtensions(new GraftExtensions)`) installs the
  * library's SQL functions and the whole-operator sessionizer
  * strategy at session build — no code changes in the consuming
  * application. The runtime equivalents cover already-built sessions:
  * [[GraftFunctions.register]] for the functions, and
  * `plans.Sessionize.apply` self-installs its strategy on first use.
  */
class GraftExtensions extends (SparkSessionExtensions => Unit) {
  override def apply(ext: SparkSessionExtensions): Unit = {
    GraftFunctions.all.foreach(ext.injectFunction)
    ext.injectPlannerStrategy(_ => graft.plans.SessionizeStrategy)
    ext.injectOptimizerRule(_ => graft.plans.CollapseNfcNormalize)
  }
}
