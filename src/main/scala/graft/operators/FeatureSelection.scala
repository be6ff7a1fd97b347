package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.DecimalType

/** Mutual-information feature (term) selection against a document
  * class label — the filter-method feature selector (Yang & Pedersen
  * 1997) that ranks vocabulary terms by how much their PRESENCE tells
  * you about the class. The reference pipeline trims its DFM by raw
  * document/term frequency only (Week5_datingNLP.R:105); MI ranking
  * is the supervised upgrade a curation pipeline runs before an
  * expensive model fit.
  *
  * `MI(t) = Σ_{x∈{1,0}} Σ_c p(x,c) · log10( p(x,c) / (p(x)·p(c)) )`
  * over doc-level presence indicators; empty cells contribute 0.
  *
  * Scale design (100 TB):
  *  - presence extraction is one distinct over (doc, term) — shuffle
  *    keyed by doc then term, linear in corpus token count;
  *  - the (term, class) contingency table is vocabulary × classes —
  *    classes are enumerable (a GROUP BY output), so the full grid
  *    (including never-seen cells, which the observed-pairs frame
  *    alone would MISS) comes from a vocabulary-frame × class-frame
  *    broadcast cross join, never anything corpus-sized;
  *  - totals ride a 1-row broadcast; every join after the grid build
  *    is keyed by term.
  *
  * Determinism: each cell's contribution snaps to the 9-dp lattice,
  * per-term accumulation is exact DECIMAL(38,12), and the final MI is
  * rounded to 6 dp at the edge (the UnigramLM discipline).
  */
object FeatureSelection {

  /** Per-term mutual information with the class label:
    * `(term, n_docs_with, mi)` — one row per distinct term.
    * Tokenization is the corpus convention (literal single-space
    * split); a doc counts once per term regardless of repeats.
    */
  def mutualInformation(
      docs: DataFrame,
      idCol: String,
      textCol: String,
      classCol: String): DataFrame = {
    Reserved.check("docs" -> docs)

    val presence = docs
      .select(col(idCol).as("__id"), col(classCol).as("__c"),
        explode(split(col(textCol), " ", -1)).as("__w"))
      .distinct()

    val n = docs.agg(count(lit(1)).as("__n"))
    val byClass = docs.groupBy(col(classCol).as("__c"))
      .agg(count(lit(1)).as("__nc"))
    // ONE corpus-sized pass: (term, class) doc counts — the presence
    // frame is already distinct on (doc, class, term), so a plain
    // count is the distinct-doc count. Pinned (vocab × classes
    // rows) because two consumers derive from it and Catalyst would
    // otherwise replay the corpus distinct per consumer.
    val byTermClass = presence.groupBy(col("__w"), col("__c"))
      .agg(count(lit(1)).as("__ntc"))
      .transform(Par.pin)
    // Classes partition documents, so per-term doc counts are the
    // class-sums — no second pass over the corpus.
    val byTerm = byTermClass.groupBy(col("__w"))
      .agg(sum(col("__ntc")).as("__nt"))

    // Full vocabulary × class grid so absent cells (term never seen
    // in a class) still contribute their x=0 term.
    val grid = byTerm.crossJoin(broadcast(byClass))
      .join(byTermClass, Seq("__w", "__c"), "left")
      .na.fill(0L, Seq("__ntc"))
      .crossJoin(broadcast(n))

    // p(x,c)·log10(p(x,c)/(p(x)p(c))) simplifies on counts to
    // (a/n)·log10(a·n / (rowTot·colTot)); a = 0 contributes 0.
    def cell(a: org.apache.spark.sql.Column,
        rowTot: org.apache.spark.sql.Column): org.apache.spark.sql.Column = {
      // doubles BEFORE the products: integer a·n overflows BIGINT at
      // corpus scale (10^12 docs squared); the double evaluation
      // order is mirrored exactly by the SQL oracle.
      val contrib = round(
        (a.cast("double") / col("__n").cast("double")) *
          log10((a.cast("double") * col("__n").cast("double")) /
            (rowTot.cast("double") * col("__nc").cast("double"))),
        9)
      when(a > 0, contrib).otherwise(lit(0.0))
    }

    grid
      .select(col("__w"), col("__nt"),
        (cell(col("__ntc"), col("__nt")) +
          cell(col("__nc") - col("__ntc"), col("__n") - col("__nt")))
          .cast(DecimalType(38, 12)).as("__mi_c"))
      .groupBy(col("__w"), col("__nt"))
      .agg(round(sum(col("__mi_c")).cast("double"), 6).as("mi"))
      .select(col("__w").as("term"), col("__nt").as("n_docs_with"),
        col("mi"))
  }
}
