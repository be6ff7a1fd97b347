package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sqlList
import graft.functions.{TextAnalysis, TextFunctions}
import graft.operators.{CorpusMixing, CurationPipeline, Dedup, DistributionTests, GlobalIds, Par, RankCorrelation, SequencePacking, Similarity, Skyline, UnigramLM}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._


/** Pure-move slice of [[ExtensionQueries]] (round 16, VERDICT r15 #5:
  * the 9,743-line file was 25% of the engine's merge surface).
  * Feature MI, label prop, entropy/zipf/heaps, classical tests (chi2, welch, cramers v, spearman, anova, brown-forsythe), retrieval fusion, kneser-ney, t-closeness, k-core, BFS, trigram search, BPE merge, span corruption, calibration.
  * Helpers live on ExtensionQueries as private[queries]; behavior is
  * byte-identical — the order of ExtensionQueries.all is preserved.
  */
private[queries] object ExtensionInferenceQueries {
  import ExtensionQueries._

  val all: Seq[QueryDef] = Seq(
    // Mutual-information term ranking against the language label —
    // supervised feature selection over the presence/class
    // contingency grid (absent cells included via the vocab × class
    // cross join). 9-dp cell lattice, DECIMAL per-term interior,
    // 6-dp edge; top 40 by (mi desc, term asc).
    QueryDef(
      "q_feature_mi",
      (s, dir) => {
        import graft.operators.FeatureSelection
        FeatureSelection.mutualInformation(
            Tables.documents(s, dir)
              .select(col("doc_id"), col("text"), col("lang")),
            "doc_id", "text", "lang")
          .orderBy(col("mi").desc, col("term"))
          .limit(40)
      },
      Some("""
        WITH pres AS (
          SELECT DISTINCT doc_id, c, w FROM (
            SELECT doc_id, lang AS c,
                   unnest(string_split(text, ' ')) AS w
            FROM documents)),
        nn AS (SELECT count(*) AS n FROM documents),
        bc AS (SELECT lang AS c, count(*) AS nc FROM documents GROUP BY 1),
        bt AS (SELECT w, count(DISTINCT doc_id) AS nt FROM pres GROUP BY 1),
        btc AS (
          SELECT w, c, count(DISTINCT doc_id) AS ntc
          FROM pres GROUP BY 1, 2),
        grid AS (
          SELECT bt.w, bt.nt, bc.c, bc.nc,
                 COALESCE(btc.ntc, 0) AS ntc, nn.n
          FROM bt CROSS JOIN bc
          LEFT JOIN btc ON btc.w = bt.w AND btc.c = bc.c
          CROSS JOIN nn),
        cells AS (
          SELECT w, nt, CAST(
            (CASE WHEN ntc > 0 THEN
               ROUND((CAST(ntc AS DOUBLE) / CAST(n AS DOUBLE)) *
                 log10((CAST(ntc AS DOUBLE) * CAST(n AS DOUBLE)) /
                       (CAST(nt AS DOUBLE) * CAST(nc AS DOUBLE))), 9)
             ELSE 0.0 END
             +
             CASE WHEN nc - ntc > 0 THEN
               ROUND((CAST(nc - ntc AS DOUBLE) / CAST(n AS DOUBLE)) *
                 log10((CAST(nc - ntc AS DOUBLE) * CAST(n AS DOUBLE)) /
                       (CAST(n - nt AS DOUBLE) * CAST(nc AS DOUBLE))), 9)
             ELSE 0.0 END) AS DECIMAL(38,12)) AS mi_c
          FROM grid)
        SELECT w AS term, CAST(nt AS BIGINT) AS n_docs_with,
               ROUND(CAST(sum(mi_c) AS DOUBLE), 6) AS mi
        FROM cells GROUP BY 1, 2
        ORDER BY mi DESC, term LIMIT 40
      """)),

    // Semi-supervised label propagation: the vec_id%7 seed labels hop
    // outward two rounds over the 5-cosine-NN graph (majority vote,
    // votes desc / smallest-label tie-break; seeds immutable). The
    // oracle unrolls both rounds over the identical edge list — edge
    // build is the ANN surface's job (brute-force here, LSH/IVF at
    // scale); the propagation itself joins k·|V| edges to a |V| label
    // table per round, never touching vectors again.
    QueryDef(
      "q_label_prop",
      (s, dir) => {
        import graft.operators.LabelPropagation
        LabelPropagation.propagate(
            Tables.embeddings(s, dir), "vec_id", "embedding", "label",
            pmod(col("vec_id"), lit(7L)) === 0, 5, 2)
          .orderBy(col("id"))
      },
      Some("""
        WITH dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (
          SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS node_id, c.vec_id AS neighbor_id,
                 sum(q.x * c.x) AS d
          FROM dims q JOIN dims c ON q.i = c.i
          WHERE q.vec_id <> c.vec_id
          GROUP BY 1, 2),
        scored AS (
          SELECT node_id, neighbor_id,
                 ROUND(d / (nq.nrm * nc.nrm), 6) AS cosine
          FROM dots
          JOIN norms nq ON nq.vec_id = node_id
          JOIN norms nc ON nc.vec_id = neighbor_id),
        edges AS (
          SELECT node_id, neighbor_id FROM (
            SELECT node_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY node_id
                                      ORDER BY cosine DESC, neighbor_id)
                     AS rnk
            FROM scored) WHERE rnk <= 5),
        seeds AS (
          SELECT vec_id AS id, label FROM embeddings WHERE vec_id % 7 = 0),
        v1 AS (
          SELECT e.node_id, s.label, count(*) AS votes
          FROM edges e JOIN seeds s ON s.id = e.neighbor_id
          GROUP BY 1, 2),
        w1 AS (
          SELECT node_id, label,
                 ROW_NUMBER() OVER (PARTITION BY node_id
                                    ORDER BY votes DESC, label) AS rn
          FROM v1),
        l1 AS (
          SELECT id, label, 'seed' AS origin FROM seeds
          UNION ALL
          SELECT node_id, label, 'iter1' FROM w1
          WHERE rn = 1 AND node_id NOT IN (SELECT id FROM seeds)),
        v2 AS (
          SELECT e.node_id, l.label, count(*) AS votes
          FROM edges e JOIN l1 l ON l.id = e.neighbor_id
          GROUP BY 1, 2),
        w2 AS (
          SELECT node_id, label,
                 ROW_NUMBER() OVER (PARTITION BY node_id
                                    ORDER BY votes DESC, label) AS rn
          FROM v2),
        l2 AS (
          SELECT id, label, origin FROM l1
          UNION ALL
          SELECT node_id, label, 'iter2' FROM w2
          WHERE rn = 1 AND node_id NOT IN (SELECT id FROM l1))
        SELECT emb.vec_id AS id, l.label,
               COALESCE(l.origin, 'none') AS origin
        FROM embeddings emb LEFT JOIN l2 l ON l.id = emb.vec_id
        ORDER BY id
      """)),

    // Per-source nucleus (top-p) truncation: keep each source's
    // biggest documents while the cumulative char mass stays under
    // half the source's total — the sampling-temperature move applied
    // to corpus pruning. Entirely integer arithmetic (2·cum < tot
    // instead of a float share), so the keep set is exact in any
    // engine; one window exchange keyed by source.
    QueryDef(
      "q_top_p",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars").desc, col("doc_id"))
        Tables.documents(s, dir)
          .select(col("source"), col("doc_id"), col("n_chars"))
          .withColumn("rnk", row_number().over(w))
          .withColumn("cum", sum(col("n_chars")).over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
          .withColumn("tot",
            sum(col("n_chars")).over(Window.partitionBy(col("source"))))
          .filter((col("cum") - col("n_chars")) * 2 < col("tot"))
          .select(col("source"), col("doc_id"), col("n_chars"), col("rnk"))
          .orderBy(col("source"), col("rnk"))
      },
      Some("""
        WITH r AS (
          SELECT source, doc_id, n_chars,
                 ROW_NUMBER() OVER w AS rnk,
                 SUM(n_chars) OVER (w ROWS BETWEEN UNBOUNDED PRECEDING
                                    AND CURRENT ROW) AS cum,
                 SUM(n_chars) OVER (PARTITION BY source) AS tot
          FROM documents
          WINDOW w AS (PARTITION BY source
                       ORDER BY n_chars DESC, doc_id))
        SELECT source, doc_id, n_chars, CAST(rnk AS BIGINT) AS rnk
        FROM r WHERE (cum - n_chars) * 2 < tot
        ORDER BY source, rnk
      """)),

    // Per-source rank normalization: percent_rank (an exact rational —
    // ties are impossible under the (n_chars, doc_id) total order, so
    // both engines compute (rank−1)/(n−1) over identical ranks) plus
    // the ntile quartile, the distribution-free feature transforms
    // for heavy-tailed metrics. One window exchange serves both.
    QueryDef(
      "q_rank_normalize",
      (s, dir) => {
        val w = Window.partitionBy(col("source"))
          .orderBy(col("n_chars"), col("doc_id"))
        Tables.documents(s, dir)
          .select(col("doc_id"), col("source"), col("n_chars"))
          .withColumn("pr", round(percent_rank().over(w), 6))
          .withColumn("quartile", ntile(4).over(w))
          .orderBy(col("doc_id"))
      },
      Some("""
        SELECT doc_id, source, n_chars,
               ROUND(percent_rank() OVER w, 6) AS pr,
               ntile(4) OVER w AS quartile
        FROM documents
        WINDOW w AS (PARTITION BY source ORDER BY n_chars, doc_id)
        ORDER BY doc_id
      """)),

    // Per-doc token entropy: −Σ p·log10 p over the doc's token
    // distribution — the low-entropy (repetitive/templated) and
    // high-entropy (random-noise) quality tails in one signal. Each
    // term's contribution snaps to the 9-dp lattice before a DECIMAL
    // sum (order-independent), the cross-engine-proven log10
    // discipline. The doc-keyed window sum and the final groupBy
    // share one hash partitioning — a single exchange end to end.
    QueryDef(
      "q_token_entropy",
      (s, dir) => {
        val cnts = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("c"))
        val p = col("c").cast("double") /
          sum(col("c")).over(Window.partitionBy(col("doc_id")))
        cnts
          .select(col("doc_id"),
            sum(col("c")).over(Window.partitionBy(col("doc_id"))).as("n"),
            round(-p * log10(p), 9)
              .cast(org.apache.spark.sql.types.DecimalType(38, 12)).as("h"))
          .groupBy(col("doc_id"))
          .agg(max(col("n")).as("n_tokens"),
            round(sum(col("h")).cast("double"), 6).as("entropy"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        cnts AS (
          SELECT doc_id, w, count(*) AS c FROM toks GROUP BY 1, 2),
        wn AS (
          SELECT doc_id, c,
                 CAST(sum(c) OVER (PARTITION BY doc_id) AS BIGINT) AS n
          FROM cnts),
        contrib AS (
          SELECT doc_id, n,
                 CAST(ROUND(-(CAST(c AS DOUBLE) / n)
                              * log10(CAST(c AS DOUBLE) / n), 9)
                      AS DECIMAL(38,12)) AS h
          FROM wn)
        SELECT doc_id, max(n) AS n_tokens,
               ROUND(CAST(sum(h) AS DOUBLE), 6) AS entropy
        FROM contrib GROUP BY doc_id
        ORDER BY doc_id
      """)),

    // Incremental join maintenance: the new orders⋈customer rows an
    // ingest batch (orderkey%10 orders, custkey%7 customers)
    // contributes on top of the standing snapshots — three
    // delta-on-the-build-side joins instead of re-shuffling both full
    // snapshots (JoinMaintenance scaladoc). Each (order, customer)
    // pair lands in exactly one branch, so the union needs no
    // distinct; the oracle recomputes the same three-way split.
    QueryDef(
      "q_join_delta",
      (s, dir) => {
        import graft.operators.JoinMaintenance
        val o = Tables.orders(s, dir)
          .select(col("o_orderkey"), col("o_custkey"))
        val c = Tables.customer(s, dir)
          .select(col("c_custkey"), col("c_name"))
        JoinMaintenance.joinDelta(
            o.filter(pmod(col("o_orderkey"), lit(10L)) =!= 0),
            o.filter(pmod(col("o_orderkey"), lit(10L)) === 0),
            c.filter(pmod(col("c_custkey"), lit(7L)) =!= 0),
            c.filter(pmod(col("c_custkey"), lit(7L)) === 0),
            "o_custkey", "c_custkey")
          .select(col("o_orderkey"), col("o_custkey"), col("c_name"),
            col("branch"))
          .orderBy(col("o_orderkey"))
      },
      Some("""
        WITH dA AS (SELECT o_orderkey, o_custkey FROM orders
                    WHERE o_orderkey % 10 = 0),
        sA AS (SELECT o_orderkey, o_custkey FROM orders
               WHERE o_orderkey % 10 <> 0),
        dB AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey % 7 = 0),
        sB AS (SELECT c_custkey, c_name FROM customer
               WHERE c_custkey % 7 <> 0)
        SELECT o_orderkey, o_custkey, c_name, 'delta_left' AS branch
        FROM dA JOIN sB ON o_custkey = c_custkey
        UNION ALL
        SELECT o_orderkey, o_custkey, c_name, 'delta_right'
        FROM sA JOIN dB ON o_custkey = c_custkey
        UNION ALL
        SELECT o_orderkey, o_custkey, c_name, 'delta_both'
        FROM dA JOIN dB ON o_custkey = c_custkey
        ORDER BY o_orderkey
      """)),

    // Skip-gram co-occurrence counts (the word2vec/GloVe input
    // matrix): ordered token pairs at distance 1-2 within a document,
    // counted corpus-wide, top 30 by (n desc, w1, w2) — deterministic
    // through the cut. Pair generation is a doc-keyed position
    // self-join (row-local after the one doc-hash exchange); the
    // pair-keyed count is map-side combined before its shuffle.
    QueryDef(
      "q_skipgrams",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            posexplode(split(col("text"), " ")).as(Seq("pos", "w")))
        val left = toks.select(col("doc_id"), col("pos"), col("w").as("w1"))
        val right = toks
          .select(col("doc_id").as("doc_id2"), col("pos").as("pos2"),
            col("w").as("w2"))
        left
          .join(right, col("doc_id") === col("doc_id2") &&
            col("pos2") - col("pos") >= 1 && col("pos2") - col("pos") <= 2)
          .groupBy(col("w1"), col("w2"))
          .agg(count(lit(1)).as("n"))
          .orderBy(col("n").desc, col("w1"), col("w2"))
          .limit(30)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents)
        SELECT a.w AS w1, b.w AS w2, count(*) AS n
        FROM toks a JOIN toks b
          ON a.doc_id = b.doc_id
         AND b.pos - a.pos BETWEEN 1 AND 2
        GROUP BY 1, 2
        ORDER BY n DESC, w1, w2 LIMIT 30
      """)),

    // χ² goodness-of-fit: is the corpus uniformly spread over its
    // sources? Exact-rational statistic Σ(k·O−n)²/(n·k) via the
    // k²·ΣO²−k·n² identity (one k-row re-aggregation, no second
    // category pass); verdict against the 4-dp df=19 critical value
    // by integer cross-multiplication (DistributionTests scaladoc).
    QueryDef(
      "q_chi_square",
      (s, dir) =>
        graft.operators.DistributionTests.chiSquareUniform(
          Tables.documents(s, dir), "source", crit4 = 301435L),
      Some("""
        WITH c AS (
          SELECT source, count(*) AS o FROM documents GROUP BY 1),
        a AS (
          SELECT CAST(count(*) AS BIGINT) AS k,
                 CAST(sum(o) AS BIGINT) AS n,
                 CAST(sum(CAST(o AS HUGEINT) * o) AS HUGEINT) AS oo
          FROM c)
        SELECT k, n,
               ROUND(CAST(k*k*oo - k*n*n AS DOUBLE)
                     / (CAST(n AS DOUBLE) * CAST(k AS DOUBLE)), 6)
                 AS chi2,
               CASE WHEN (k*k*oo - k*n*n) * 10000 > 301435 * n * k
                    THEN 'nonuniform' ELSE 'uniform' END AS verdict
        FROM a
      """)),

    // Welch's unequal-variance t-test per source: English vs
    // non-English doc lengths — the mean-shift monitor that holds
    // when cohort variances differ (they do across ingest sources).
    // Exact integer sufficient statistics, one corpus aggregation;
    // the t/df combine is a single written IEEE sequence mirrored
    // verbatim below (DistributionTests.welchT scaladoc).
    QueryDef(
      "q_welch_t",
      (s, dir) =>
        DistributionTests.welchT(
          Tables.documents(s, dir), "source", col("lang") === "en",
          "n_chars")
          .orderBy(col("source")),
      Some("""
        WITH s0 AS (
          SELECT source, (lang = 'en') AS b, CAST(n_chars AS BIGINT) AS x
          FROM documents WHERE lang IS NOT NULL),
        g AS (
          SELECT source,
                 CAST(SUM(CASE WHEN NOT b THEN 1 ELSE 0 END) AS BIGINT) AS n_a,
                 CAST(SUM(CASE WHEN b THEN 1 ELSE 0 END) AS BIGINT) AS n_b,
                 CAST(SUM(CASE WHEN NOT b THEN x ELSE 0 END) AS BIGINT) AS sxa,
                 CAST(SUM(CASE WHEN b THEN x ELSE 0 END) AS BIGINT) AS sxb,
                 SUM(CASE WHEN NOT b THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxa,
                 SUM(CASE WHEN b THEN CAST(x AS HUGEINT) * x ELSE 0 END) AS sxxb
          FROM s0 GROUP BY 1),
        c AS (
          SELECT source, n_a, n_b,
                 CAST(sxa AS DOUBLE) / CAST(n_a AS DOUBLE) AS ma,
                 CAST(sxb AS DOUBLE) / CAST(n_b AS DOUBLE) AS mb,
                 ((CAST(n_a AS DOUBLE) * CAST(sxxa AS DOUBLE)
                   - CAST(sxa AS DOUBLE) * CAST(sxa AS DOUBLE))
                  / (CAST(n_a AS DOUBLE) * (CAST(n_a AS DOUBLE) - 1.0)))
                   / CAST(n_a AS DOUBLE) AS sa,
                 ((CAST(n_b AS DOUBLE) * CAST(sxxb AS DOUBLE)
                   - CAST(sxb AS DOUBLE) * CAST(sxb AS DOUBLE))
                  / (CAST(n_b AS DOUBLE) * (CAST(n_b AS DOUBLE) - 1.0)))
                   / CAST(n_b AS DOUBLE) AS sb
          FROM g WHERE n_a >= 2 AND n_b >= 2)
        SELECT source, n_a, n_b,
               ROUND(ma, 6) AS mean_a, ROUND(mb, 6) AS mean_b,
               ROUND((ma - mb) / sqrt(sa + sb), 6) AS t_stat,
               ROUND((sa + sb) * (sa + sb)
                     / (sa * sa / (CAST(n_a AS DOUBLE) - 1.0)
                        + sb * sb / (CAST(n_b AS DOUBLE) - 1.0)), 6) AS df
        FROM c WHERE sa + sb > 0.0
        ORDER BY source
      """)),

    // Cramér's V: is `lang` independent of `source`? χ² over the r×c
    // contingency table with the 9-dp-snap/DECIMAL-sum cell policy
    // (order-free; DistributionTests.cramersV scaladoc), V in [0,1].
    QueryDef(
      "q_cramers_v",
      (s, dir) =>
        DistributionTests.cramersV(Tables.documents(s, dir),
          "source", "lang"),
      Some("""
        WITH cells AS (
          SELECT source, lang, count(*) AS o FROM documents GROUP BY 1, 2),
        rt AS (SELECT source, SUM(o) AS r FROM cells GROUP BY 1),
        ct AS (SELECT lang, SUM(o) AS c FROM cells GROUP BY 1),
        tot AS (SELECT CAST(SUM(o) AS BIGINT) AS n,
                       CAST(COUNT(DISTINCT source) AS BIGINT) AS nr,
                       CAST(COUNT(DISTINCT lang) AS BIGINT) AS nc
                FROM cells),
        terms AS (
          SELECT n, nr, nc,
                 CAST(ROUND(
                   (CAST(o AS DOUBLE) * CAST(o AS DOUBLE))
                     / (CAST(r AS DOUBLE) * CAST(c AS DOUBLE)), 9)
                   AS DECIMAL(38,12)) AS term
          FROM cells JOIN rt USING (source) JOIN ct USING (lang)
          CROSS JOIN tot),
        agg AS (SELECT n, nr, nc, SUM(term) AS terms
                FROM terms GROUP BY 1, 2, 3)
        SELECT n, nr, nc,
               ROUND(CAST(n AS DOUBLE) * (CAST(terms AS DOUBLE) - 1.0), 6)
                 AS chi2,
               ROUND(sqrt(greatest(CAST(terms AS DOUBLE) - 1.0, 0.0)
                          / (CAST(least(nr, nc) AS DOUBLE) - 1.0)), 6)
                 AS cramers_v
        FROM agg
      """)),

    // Spearman rank correlation per source (chars vs whitespace
    // tokens): monotone association robust to outliers, on the
    // doubled-average-rank integer lattice (RankCorrelation scaladoc)
    // so tie handling replays exactly in both engines.
    QueryDef(
      "q_spearman",
      (s, dir) =>
        RankCorrelation.spearman(
          Tables.documents(s, dir)
            .select(col("source"), col("n_chars"),
              TextAnalysis.whitespaceTokenCount(col("text"))
                .as("ws_tokens")),
          "source", "n_chars", "ws_tokens")
          .orderBy(col("source")),
      Some("""
        WITH pts AS (
          SELECT source, n_chars AS x, len(string_split(text, ' ')) AS y
          FROM documents),
        ranked AS (
          SELECT source,
                 2 * rank() OVER (PARTITION BY source ORDER BY x)
                   + count(*) OVER (PARTITION BY source, x) - 1 AS rx,
                 2 * rank() OVER (PARTITION BY source ORDER BY y)
                   + count(*) OVER (PARTITION BY source, y) - 1 AS ry
          FROM pts),
        g AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n,
                 CAST(SUM(rx) AS BIGINT) AS sx, CAST(SUM(ry) AS BIGINT) AS sy,
                 SUM(CAST(rx AS HUGEINT) * ry) AS sxy,
                 SUM(CAST(rx AS HUGEINT) * rx) AS sxx,
                 SUM(CAST(ry AS HUGEINT) * ry) AS syy
          FROM ranked GROUP BY 1)
        SELECT source, n,
               CAST(ROUND((CAST(n AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE)))
                    * 1000000.0) AS BIGINT) / 1000000.0
                 AS rho
        FROM g
        WHERE n >= 2
          AND CAST(n AS DOUBLE) * CAST(sxx AS DOUBLE)
              - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE) <> 0.0
          AND CAST(n AS DOUBLE) * CAST(syy AS DOUBLE)
              - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) <> 0.0
        ORDER BY source
      """)),

    // Flesch-Kincaid grade per doc from three exact regexp counts
    // (words, sentence-terminator runs, vowel-group runs) — pure
    // row-local scan, no shuffle; the grade combine is one written
    // IEEE sequence (TextAnalysis.fleschKincaidGrade scaladoc).
    QueryDef(
      "q_readability",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("doc_id"),
            TextAnalysis.whitespaceTokenCount(col("text")).as("words"),
            TextAnalysis.sentenceCount(col("text")).as("sentences"),
            TextAnalysis.syllableEstimate(col("text")).as("syllables"))
          .select(col("doc_id"), col("words"), col("sentences"),
            col("syllables"),
            round(TextAnalysis.fleschKincaidGrade(
              col("words"), col("sentences"), col("syllables")), 6)
              .as("fk_grade"))
          .orderBy(col("doc_id")),
      Some("""
        WITH c AS (
          SELECT doc_id,
                 len(string_split(text, ' ')) AS words,
                 greatest(len(regexp_extract_all(text, '[.!?]+')), 1)
                   AS sentences,
                 greatest(len(regexp_extract_all(text, '[aeiouyAEIOUY]+')), 1)
                   AS syllables
          FROM documents)
        SELECT doc_id, words, sentences, syllables,
               ROUND(0.39 * (CAST(words AS DOUBLE) / CAST(sentences AS DOUBLE))
                     + 11.8 * (CAST(syllables AS DOUBLE) / CAST(words AS DOUBLE))
                     - 15.59, 6) AS fk_grade
        FROM c ORDER BY doc_id
      """)),

    // Frequency-centroid extractive summaries: per doc, the top-3
    // sentences by coverage of the doc's own top-10 terms — all
    // exchanges doc-keyed, no model, no float
    // (Summarize.centroidSummary scaladoc).
    QueryDef(
      "q_summarize",
      (s, dir) =>
        graft.operators.Summarize.centroidSummary(
          Tables.documents(s, dir), "doc_id", "text",
          topTerms = 10, k = 3)
          .orderBy(col("doc_id"), col("rank")),
      Some("""
        WITH sent0 AS (
          SELECT doc_id,
                 unnest(regexp_split_to_array(text, '[.!?]+')) AS raw,
                 generate_subscripts(
                   regexp_split_to_array(text, '[.!?]+'), 1) AS pos
          FROM documents),
        sent AS (
          SELECT doc_id, pos, trim(raw) AS sentence
          FROM sent0 WHERE length(trim(raw)) > 0),
        stok AS (
          SELECT doc_id, pos, unnest(string_split(sentence, ' ')) AS w
          FROM sent),
        st AS (SELECT * FROM stok WHERE w <> ''),
        dc AS (SELECT doc_id, w, count(*) AS cnt
               FROM st GROUP BY 1, 2),
        top AS (
          SELECT doc_id, w FROM (
            SELECT doc_id, w,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY cnt DESC, w) AS rn
            FROM dc) WHERE rn <= 10),
        score AS (
          SELECT t.doc_id, t.pos, CAST(count(*) AS BIGINT) AS score
          FROM st t JOIN top ON top.doc_id = t.doc_id AND top.w = t.w
          GROUP BY 1, 2),
        ranked AS (
          SELECT s.doc_id, s.pos, se.sentence, s.score,
                 ROW_NUMBER() OVER (PARTITION BY s.doc_id
                                    ORDER BY s.score DESC, s.pos)
                   AS rank
          FROM score s
          JOIN sent se ON se.doc_id = s.doc_id AND se.pos = s.pos)
        SELECT doc_id, rank, pos, sentence, score
        FROM ranked WHERE rank <= 3
        ORDER BY doc_id, rank
      """)),

    // Zipf-law slope per source: machine-generated boilerplate
    // flattens the head, dedup'd spam steepens it — natural text
    // sits near −1 (ZipfFit scaladoc: exact ranks, micro-lattice
    // logs, exact OLS sums).
    QueryDef(
      "q_zipf",
      (s, dir) =>
        graft.operators.ZipfFit.fit(
          Tables.documents(s, dir)
            .select(col("source"),
              explode(split(col("text"), " ", -1)).as("term"))
            .filter(col("term") =!= ""),
          "source", "term")
          .orderBy(col("source")),
      Some("""
        WITH toks AS (
          SELECT source, unnest(string_split(text, ' ')) AS term
          FROM documents),
        t2 AS (SELECT * FROM toks WHERE term <> ''),
        counts AS (
          SELECT source, term, count(*) AS cnt FROM t2 GROUP BY 1, 2),
        ranked AS (
          SELECT source, cnt,
                 ROW_NUMBER() OVER (PARTITION BY source
                                    ORDER BY cnt DESC, term) AS rnk
          FROM counts),
        lat AS (
          SELECT source,
                 CAST(ROUND(log10(CAST(rnk AS DOUBLE)) * 1e6) AS BIGINT)
                   AS lx,
                 CAST(ROUND(log10(CAST(cnt AS DOUBLE)) * 1e6) AS BIGINT)
                   AS ly
          FROM ranked),
        g AS (
          SELECT source, CAST(COUNT(*) AS BIGINT) AS n_terms,
                 CAST(SUM(lx) AS BIGINT) AS sx,
                 CAST(SUM(ly) AS BIGINT) AS sy,
                 SUM(CAST(lx AS HUGEINT) * ly) AS sxy,
                 SUM(CAST(lx AS HUGEINT) * lx) AS sxx,
                 SUM(CAST(ly AS HUGEINT) * ly) AS syy
          FROM lat GROUP BY 1)
        SELECT source, n_terms,
               ROUND((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS slope,
               ROUND((CAST(sy AS DOUBLE)
                      - (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n_terms AS DOUBLE) / 1e6, 6) AS intercept,
               CASE WHEN CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0
                    THEN NULL
                    ELSE ROUND((CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n_terms AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n_terms AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_terms AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               END AS r2
        FROM g WHERE n_terms >= 2
        ORDER BY source
      """)),

    // Heaps'-law vocabulary growth V(N) = K·N^β, one checkpoint per
    // doc in id order — no sequential corpus scan: a term's first
    // appearance is min(doc_id), so both cumulatives are prefix sums
    // over the doc-sized table (ZipfFit.heaps scaladoc). β prices
    // the vocab table a tokenizer build needs at 100 TB.
    QueryDef(
      "q_heaps",
      (s, dir) =>
        graft.operators.ZipfFit.heaps(
          Tables.documents(s, dir)
            .select(col("doc_id"),
              explode(split(col("text"), " ", -1)).as("term"))
            .filter(col("term") =!= ""),
          "doc_id", "term"),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term
          FROM documents),
        t2 AS (SELECT * FROM toks WHERE term <> ''),
        perdoc AS (SELECT doc_id, count(*) AS n FROM t2 GROUP BY 1),
        firstd AS (SELECT min(doc_id) AS doc_id FROM t2 GROUP BY term),
        vat AS (SELECT doc_id, count(*) AS v FROM firstd GROUP BY 1),
        cum AS (
          SELECT p.doc_id,
                 SUM(p.n) OVER (ORDER BY p.doc_id) AS nn,
                 SUM(COALESCE(va.v, 0)) OVER (ORDER BY p.doc_id) AS vv
          FROM perdoc p LEFT JOIN vat va USING (doc_id)),
        lat AS (
          SELECT CAST(ROUND(log10(CAST(nn AS DOUBLE)) * 1e6) AS BIGINT)
                   AS lx,
                 CAST(ROUND(log10(CAST(vv AS DOUBLE)) * 1e6) AS BIGINT)
                   AS ly
          FROM cum),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS n_points,
                 CAST(SUM(lx) AS BIGINT) AS sx,
                 CAST(SUM(ly) AS BIGINT) AS sy,
                 SUM(CAST(lx AS HUGEINT) * ly) AS sxy,
                 SUM(CAST(lx AS HUGEINT) * lx) AS sxx,
                 SUM(CAST(ly AS HUGEINT) * ly) AS syy
          FROM lat)
        SELECT n_points,
               ROUND((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE)), 6)
                 AS beta,
               ROUND((CAST(sy AS DOUBLE)
                      - (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                        / (CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
                           - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * CAST(sx AS DOUBLE))
                     / CAST(n_points AS DOUBLE) / 1e6, 6) AS log10_k,
               CASE WHEN CAST(n_points AS DOUBLE) * CAST(syy AS DOUBLE)
                         - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE) = 0.0
                    THEN NULL
                    ELSE ROUND((CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     * (CAST(n_points AS DOUBLE) * CAST(sxy AS DOUBLE)
                        - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / ((CAST(n_points AS DOUBLE) * CAST(sxx AS DOUBLE)
                         - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                        * (CAST(n_points AS DOUBLE) * CAST(syy AS DOUBLE)
                           - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))), 6)
               END AS r2
        FROM g WHERE n_points >= 2
      """)),

    // 2-D Pareto frontier (maximize chars, minimize whitespace
    // tokens): the docs on the chars-per-token efficiency frontier.
    // No all-pairs — per-x collapse, one window over the collapsed
    // table, broadcast semi-join back (Skyline scaladoc).
    QueryDef(
      "q_pareto",
      (s, dir) =>
        Skyline.frontier(
          Tables.documents(s, dir)
            .select(col("doc_id"), col("n_chars"),
              TextAnalysis.whitespaceTokenCount(col("text"))
                .as("ws_tokens")),
          "n_chars", "ws_tokens")
          .orderBy(col("doc_id")),
      Some("""
        WITH pts AS (
          SELECT doc_id, n_chars AS x, len(string_split(text, ' ')) AS y
          FROM documents),
        perx AS (SELECT x, min(y) AS miny FROM pts GROUP BY 1),
        fr AS (
          SELECT x, miny,
                 min(miny) OVER (ORDER BY x DESC
                                 ROWS BETWEEN UNBOUNDED PRECEDING
                                 AND 1 PRECEDING) AS best
          FROM perx)
        SELECT p.doc_id, p.x AS n_chars, p.y AS ws_tokens
        FROM pts p JOIN fr ON fr.x = p.x AND fr.miny = p.y
        WHERE fr.best IS NULL OR fr.miny < fr.best
        ORDER BY p.doc_id
      """)),

    // IDF-weighted Jaccard near-dup pairs: rare shingles dominate the
    // score, so template/boilerplate overlap no longer saturates it
    // (Dedup.weightedJaccardPairs scaladoc). Same inverted-index
    // shape as q_dedup_jaccard; weights on the bm25 idf micro-lattice.
    QueryDef(
      "q_dedup_weighted",
      (s, dir) =>
        Dedup.weightedJaccardPairs(
          Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3), 0.8)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""
        WITH ${shingleCtes(3)},
        docfreq AS (SELECT shingle, count(*) AS df FROM grams GROUP BY 1),
        ndocs AS (SELECT CAST(count(DISTINCT doc_id) AS BIGINT) AS n_docs
                  FROM grams),
        wgrams AS (
          SELECT g.doc_id, g.shingle,
                 CAST(ROUND(log10(CAST(n_docs AS DOUBLE)
                                  / CAST(df AS DOUBLE)) * 1e6) AS BIGINT)
                   AS w
          FROM grams g JOIN docfreq USING (shingle) CROSS JOIN ndocs),
        wsizes AS (SELECT doc_id, CAST(SUM(w) AS BIGINT) AS wt
                   FROM wgrams GROUP BY 1),
        winter AS (
          SELECT a.doc_id AS id_a, b.doc_id AS id_b,
                 CAST(SUM(a.w) AS BIGINT) AS iw
          FROM wgrams a
          JOIN wgrams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        wj AS (
          SELECT id_a, id_b,
                 ROUND(CAST(iw AS DOUBLE)
                       / CAST(sa.wt + sb.wt - iw AS DOUBLE), 6)
                   AS weighted_jaccard
          FROM winter
          JOIN wsizes sa ON sa.doc_id = id_a
          JOIN wsizes sb ON sb.doc_id = id_b)
        SELECT id_a, id_b, weighted_jaccard FROM wj
        WHERE weighted_jaccard >= 0.8
        ORDER BY id_a, id_b
      """)),

    // Lexical-diversity profile per document: type-token ratio, hapax
    // ratio, and mean word length — the vocabulary-compactness
    // signals beside q_token_entropy's distribution one. Entirely
    // integer interior (ppm by integer division, mean length from two
    // integer sums rounded at the edge); one doc-keyed exchange
    // serves all three.
    QueryDef(
      "q_lexical_profile",
      (s, dir) => {
        val cnts = Tables.documents(s, dir)
          .select(col("doc_id"), explode(split(col("text"), " ")).as("w"))
          .groupBy(col("doc_id"), col("w"))
          .agg(count(lit(1)).as("c"), length(col("w")).as("len"))
        cnts.groupBy(col("doc_id"))
          .agg(
            sum(col("c")).as("n_tokens"),
            count(lit(1)).as("n_types"),
            sum(when(col("c") === 1, 1L).otherwise(0L)).as("n_hapax"),
            sum(col("c") * col("len")).as("__chars"))
          .select(col("doc_id"), col("n_tokens"), col("n_types"),
            expr("(n_types * CAST(1000000 AS BIGINT)) div n_tokens")
              .as("ttr_ppm"),
            expr("(n_hapax * CAST(1000000 AS BIGINT)) div n_types")
              .as("hapax_ppm"),
            round(col("__chars").cast("double") /
              col("n_tokens").cast("double"), 6).as("mean_len"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS w
          FROM documents),
        cnts AS (
          SELECT doc_id, w, count(*) AS c, len(w) AS len
          FROM toks GROUP BY 1, 2),
        agg AS (
          SELECT doc_id,
                 CAST(sum(c) AS BIGINT) AS n_tokens,
                 COUNT(*) AS n_types,
                 CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT)
                   AS n_hapax,
                 CAST(sum(c * len) AS BIGINT) AS chars
          FROM cnts GROUP BY 1)
        SELECT doc_id, n_tokens, CAST(n_types AS BIGINT) AS n_types,
               (n_types * 1000000) // n_tokens AS ttr_ppm,
               (n_hapax * 1000000) // n_types AS hapax_ppm,
               ROUND(CAST(chars AS DOUBLE) / CAST(n_tokens AS DOUBLE), 6)
                 AS mean_len
        FROM agg
        ORDER BY doc_id
      """)),

    // Confidence calibration of the NB filter: held-out docs bucketed
    // into margin deciles (top-1 minus top-2 score — integer micro
    // units), accuracy per bucket in ppm by integer division — "is
    // the classifier's confidence monotone in its accuracy?", the
    // check a curation pipeline runs before thresholding on margin.
    // The decile ntile windows over the EVAL SET (bounded by
    // construction — eval sets are sampled, never corpus-sized); at
    // corpus scale the cut would come from the quantile sketch
    // instead.
    QueryDef(
      "q_confidence_bins",
      (s, dir) => {
        import graft.operators.NaiveBayes
        val docs = Tables.documents(s, dir)
        val test = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        val model = NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        val w = Window.partitionBy(col("doc_id"))
          .orderBy(col("score_micro").desc, col("label").asc)
        val top2 = NaiveBayes.scores(model, test, "doc_id", "text")
          .withColumn("rn", row_number().over(w))
          .filter(col("rn") <= 2)
          .groupBy(col("doc_id"))
          .agg(
            max(when(col("rn") === 1, col("label"))).as("pred"),
            (max(when(col("rn") === 1, col("score_micro"))) -
              max(when(col("rn") === 2, col("score_micro"))))
              .as("margin"))
        val graded = top2
          .join(test.select(col("doc_id"), col("lang")), "doc_id")
          .select(col("doc_id"), col("margin"),
            when(col("pred") === col("lang"), 1L).otherwise(0L).as("ok"))
        // two-pass ntile (GlobalIds.withNtile, r20): the naive decile
        // window funneled the per-DOC margin frame into one partition
        val tiled = graft.operators.GlobalIds.withNtile(
          graded, Seq("margin", "doc_id"), 10, "decile")
        tiled.groupBy(col("decile"))
          .agg(count(lit(1)).as("n"), sum(col("ok")).as("n_correct"))
          .withColumn("acc_ppm",
            expr("(n_correct * CAST(1000000 AS BIGINT)) div n"))
          .orderBy(col("decile"))
      },
      Some(s"WITH $nbTrainCtes, ${nbClassifyCtesOver("doc_id % 5 = 0")}" + """
        , m AS (
          SELECT b1.doc_id, b1.label AS pred,
                 b1.score_micro - b2.score_micro AS margin
          FROM best b1 JOIN best b2
            ON b1.doc_id = b2.doc_id AND b1.rn = 1 AND b2.rn = 2),
        graded AS (
          SELECT m.doc_id, m.margin,
                 CASE WHEN m.pred = te.lang THEN 1 ELSE 0 END AS ok
          FROM m JOIN te USING (doc_id)),
        dec AS (
          SELECT ok, ntile(10) OVER (ORDER BY margin, doc_id) AS decile
          FROM graded)
        SELECT decile, COUNT(*) AS n, CAST(sum(ok) AS BIGINT) AS n_correct,
               (CAST(sum(ok) AS BIGINT) * 1000000) // COUNT(*) AS acc_ppm
        FROM dec GROUP BY 1 ORDER BY 1
      """)),

    // Dirichlet query-likelihood retrieval (µ=2000) over the SAME
    // inverted index and query batch as q_bm25 — the language-model
    // scorer a hybrid stack runs next to BM25. Everything reaching a
    // log10 argument is exact integer arithmetic; every log10 snaps
    // alone to the micro lattice (QueryLikelihood scaladoc).
    QueryDef(
      "q_query_likelihood",
      (s, dir) => {
        import graft.operators.{Bm25, QueryLikelihood}
        val docs = docTokens(s, dir)
        QueryLikelihood.scoreTopK(
            Bm25.postings(docs, "doc_id", "tokens"),
            retrievalQueryTerms(docs), k = 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH $retrievalCtes,
        $qlScoredCtes
        SELECT query_id, doc_id, score_micro, rank
        FROM ql_ranked WHERE rank <= 10
        ORDER BY query_id, rank
      """)),

    // Reciprocal-rank fusion of the two lexical rankers' top-20
    // lists (k=60): hybrid retrieval without score calibration.
    // Per-list contributions snap to the nano lattice BEFORE the
    // long sum, so fusing any number of lists stays
    // order-independent (RankFusion scaladoc).
    QueryDef(
      "q_rrf_fusion",
      (s, dir) => {
        import graft.operators.{Bm25, QueryLikelihood, RankFusion}
        val docs = docTokens(s, dir)
        // pinned: BOTH rankers consume the index, and their differing
        // downstream plans defeat exchange reuse (q_prf_expand note).
        // widenBy(doc_id): keeps each doc's postings in one map task
        // so the rankers' per-(query, doc) partial aggregation still
        // collapses map-side (see the q_rbo site note — round-robin
        // and term-hash layouts both ballooned the contrib shuffle
        // 4-5× by defeating it; profiled 4.7 s + 3.1 s single-task
        // contrib stages over the 1-partition pin)
        val index = graft.operators.Par.widenBy(
          Bm25.postings(docs, "doc_id", "tokens").transform(Par.pin),
          col("doc_id"))
        val qt = retrievalQueryTerms(docs)
        val bm = Bm25.scoreTopK(
          index, Bm25.totals(docs, "doc_id", "tokens"), qt, k = 20)
        val ql = QueryLikelihood.scoreTopK(index, qt, k = 20)
        RankFusion.reciprocalRankFusion(
            Seq(bm.select(col("query_id"), col("doc_id"), col("rank")),
              ql.select(col("query_id"), col("doc_id"), col("rank"))),
            topK = 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH $retrievalCtes,
        $bm25ScoredCtes,
        $qlScoredCtes,
        rrf_contrib AS (
          SELECT query_id, doc_id,
                 CAST(ROUND(1e9 / (60.0 + CAST(rank AS DOUBLE)))
                   AS BIGINT) AS c
          FROM bm25_ranked WHERE rank <= 20
          UNION ALL
          SELECT query_id, doc_id,
                 CAST(ROUND(1e9 / (60.0 + CAST(rank AS DOUBLE)))
                   AS BIGINT) AS c
          FROM ql_ranked WHERE rank <= 20),
        rrf AS (
          SELECT query_id, doc_id, CAST(SUM(c) AS BIGINT) AS rrf_nano
          FROM rrf_contrib GROUP BY 1, 2),
        rrf_ranked AS (
          SELECT query_id, doc_id, rrf_nano,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY rrf_nano DESC, doc_id)
                   AS rank
          FROM rrf)
        SELECT query_id, doc_id, rrf_nano, rank
        FROM rrf_ranked WHERE rank <= 10
        ORDER BY query_id, rank
      """)),

    // MMR diversified re-ranking (λ=0.7, token-set Jaccard novelty)
    // of the BM25 top-10 — 5 picks per query. The oracle replays the
    // greedy loop as 5 unrolled pick CTEs on the same integer
    // lattices (Mmr scaladoc); the Spark side is the same unroll as
    // bounded relational stages.
    QueryDef(
      "q_mmr",
      (s, dir) => {
        import graft.operators.{Bm25, Mmr}
        val docs = docTokens(s, dir)
        val cand = Bm25.scoreTopK(
            Bm25.postings(docs, "doc_id", "tokens"),
            Bm25.totals(docs, "doc_id", "tokens"),
            retrievalQueryTerms(docs), k = 10)
          .select(col("query_id"), col("doc_id"),
            col("score_nano").as("rel_nano"))
        Mmr.rerank(cand, docs.select(col("doc_id"), col("tokens")), k = 5)
          .orderBy(col("query_id"), col("pick"))
      },
      Some(s"""
        WITH $retrievalCtes,
        $bm25ScoredCtes,
        $mmrPickCtes
        SELECT query_id, doc_id, mmr_score, pick FROM su5
        ORDER BY query_id, pick
      """)),

    // Interpolated Kneser-Ney bigram scoring (D=0.75): the
    // continuation-count cousin of q_bigram_score — templated
    // boilerplate (huge counts, few contexts) stops scoring as
    // plausible text (BigramLM.kneserNey scaladoc). Same 9-dp-
    // lattice / DECIMAL-sum / 6-dp-edge replay discipline.
    QueryDef(
      "q_kneser_ney",
      (s, dir) => {
        import graft.operators.BigramLM
        BigramLM.kneserNey(
            Tables.documents(s, dir).select(col("doc_id"), col("text")),
            "doc_id", "text")
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        trans0 AS (
          SELECT doc_id, word AS w1,
                 lead(word, 1) OVER (PARTITION BY doc_id ORDER BY pos)
                   AS w2
          FROM words),
        trans AS (SELECT * FROM trans0 WHERE w2 IS NOT NULL),
        c12 AS (SELECT w1, w2, count(*) AS c12 FROM trans GROUP BY 1, 2),
        lft AS (SELECT w1, sum(c12) AS c1, count(*) AS fwd
                FROM c12 GROUP BY 1),
        cont AS (SELECT w2, count(*) AS bwd FROM c12 GROUP BY 1),
        nb AS (SELECT CAST(count(*) AS DOUBLE) AS nb FROM c12),
        model AS (
          SELECT c12.w1, c12.w2,
                 ROUND(-LOG10(
                   (CAST(c12.c12 AS DOUBLE) - 0.75)
                     / CAST(lft.c1 AS DOUBLE)
                   + (0.75 * CAST(lft.fwd AS DOUBLE)
                      / CAST(lft.c1 AS DOUBLE))
                     * (CAST(cont.bwd AS DOUBLE) / nb.nb)), 9) AS nlp
          FROM c12 JOIN lft USING (w1) JOIN cont USING (w2) CROSS JOIN nb)
        SELECT t.doc_id, count(*) AS n_transitions,
               ROUND(CAST(sum(CAST(m.nlp AS DECIMAL(38,12))) AS DOUBLE)
                     / count(*), 6) AS kn_xent
        FROM trans t JOIN model m ON m.w1 = t.w1 AND m.w2 = t.w2
        GROUP BY t.doc_id
        ORDER BY t.doc_id
      """)),

    // One-way ANOVA across sources on document length — "is mean
    // n_chars the same in every feed?" as one F statistic, integer
    // sums + the cramersV 9-dp/DECIMAL group-sum policy
    // (DistributionTests.oneWayAnova scaladoc).
    QueryDef(
      "q_anova",
      (s, dir) =>
        DistributionTests.oneWayAnova(
          Tables.documents(s, dir), "source", "n_chars"),
      Some("""
        WITH g AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS s,
                 SUM(CAST(n_chars AS HUGEINT) * n_chars) AS sxx,
                 CAST(ROUND(
                   (CAST(sum(n_chars) AS DOUBLE) * CAST(sum(n_chars) AS DOUBLE))
                     / CAST(count(*) AS DOUBLE), 9) AS DECIMAL(38,12)) AS t
          FROM documents GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k_groups,
                 CAST(sum(n) AS BIGINT) AS n,
                 CAST(sum(s) AS BIGINT) AS stot,
                 sum(sxx) AS sxxtot, sum(t) AS tsum
          FROM g)
        SELECT k_groups, n,
               ROUND(CAST(tsum AS DOUBLE)
                     - (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
                       / CAST(n AS DOUBLE), 6) AS ss_between,
               ROUND(CAST(sxxtot AS DOUBLE) - CAST(tsum AS DOUBLE), 6)
                 AS ss_within,
               ROUND(((CAST(tsum AS DOUBLE)
                       - (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
                         / CAST(n AS DOUBLE))
                      / (CAST(k_groups AS DOUBLE) - 1.0))
                     / ((CAST(sxxtot AS DOUBLE) - CAST(tsum AS DOUBLE))
                        / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))),
                     6) AS f_stat
        FROM agg
        WHERE k_groups >= 2
          AND CAST(sxxtot AS DOUBLE) - CAST(tsum AS DOUBLE) > 0.0
      """)),

    // Games-Howell post-hoc pairwise comparisons on the SAME fixture
    // as q_anova — the parametric which-pairs answer after a
    // significant F, completing the post-hoc symmetry with the rank
    // family (Conover-Iman after KW, Conover after Friedman). Welch
    // SE + Welch-Satterthwaite df per pair from exact integer group
    // moments, pair table k²-bounded
    // (DistributionTests.gamesHowell scaladoc).
    QueryDef(
      "q_anova_posthoc",
      (s, dir) =>
        DistributionTests.gamesHowell(
            Tables.documents(s, dir), "source", "n_chars")
          .orderBy(col("g1"), col("g2")),
      Some("""
        WITH g AS (
          SELECT source AS grp, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(n_chars) AS BIGINT) AS s,
                 CAST(CAST(count(*) AS HUGEINT)
                        * SUM(CAST(n_chars AS HUGEINT) * n_chars)
                      - CAST(sum(n_chars) AS HUGEINT)
                        * CAST(sum(n_chars) AS HUGEINT)
                      AS DOUBLE) AS vn
          FROM documents WHERE n_chars IS NOT NULL
          GROUP BY 1 HAVING count(*) >= 2),
        p AS (
          SELECT a.grp AS g1, b.grp AS g2, a.n AS n1, b.n AS n2,
                 a.vn / (CAST(a.n AS DOUBLE)
                         * (CAST(a.n AS DOUBLE) - 1.0))
                   / CAST(a.n AS DOUBLE) AS sa,
                 b.vn / (CAST(b.n AS DOUBLE)
                         * (CAST(b.n AS DOUBLE) - 1.0))
                   / CAST(b.n AS DOUBLE) AS sb,
                 CAST(a.s AS DOUBLE) / CAST(a.n AS DOUBLE)
                   - CAST(b.s AS DOUBLE) / CAST(b.n AS DOUBLE) AS md
          FROM g a JOIN g b ON a.grp < b.grp)
        SELECT g1, g2, n1, n2,
               CAST(ROUND(md / sqrt(sa + sb) * 1e6) AS BIGINT)
                 AS t_micro,
               CAST(ROUND((sa + sb) * (sa + sb)
                    / (sa * sa / (CAST(n1 AS DOUBLE) - 1.0)
                       + sb * sb / (CAST(n2 AS DOUBLE) - 1.0))
                    * 1e6) AS BIGINT) AS df_micro,
               CAST(ROUND(abs(md / sqrt(sa + sb)) * sqrt(2.0) * 1e6)
                    AS BIGINT) AS q_micro
        FROM p WHERE sa + sb > 0
        ORDER BY g1, g2
      """)),

    // Brown-Forsythe robust variance-homogeneity test on the SAME
    // fixture as q_anova — "do the sources draw lengths with the
    // same SPREAD", the assumption check beside q_anova's mean
    // comparison. Group medians by exact doubled-lattice selection
    // (m2 = sum of the central order statistics), deviations
    // |2x − m2| exact integers, then the shared oneWayAnova
    // decomposition — F is scale-invariant so the doubling never
    // reaches the statistic (NonParametric.brownForsythe scaladoc).
    QueryDef(
      "q_brown_forsythe",
      (s, dir) =>
        graft.operators.NonParametric.brownForsythe(
          Tables.documents(s, dir), "source", "n_chars"),
      Some("""
        WITH rows0 AS (
          SELECT source, CAST(n_chars AS BIGINT) AS x
          FROM documents WHERE n_chars IS NOT NULL),
        rk AS (
          SELECT source, x,
                 ROW_NUMBER() OVER (PARTITION BY source ORDER BY x) AS r,
                 COUNT(*) OVER (PARTITION BY source) AS n
          FROM rows0),
        m2 AS (
          SELECT source, CAST(SUM(x) * 2 // COUNT(*) AS BIGINT) AS m2
          FROM rk
          WHERE r = (n + 1) // 2 OR r = n // 2 + 1
          GROUP BY 1),
        dev AS (
          SELECT rows0.source, abs(2 * rows0.x - m2.m2) AS d
          FROM rows0 JOIN m2 ON m2.source = rows0.source),
        g AS (
          SELECT source, CAST(count(*) AS BIGINT) AS n,
                 CAST(sum(d) AS BIGINT) AS s,
                 SUM(CAST(d AS HUGEINT) * d) AS sxx,
                 CAST(ROUND(
                   (CAST(sum(d) AS DOUBLE) * CAST(sum(d) AS DOUBLE))
                     / CAST(count(*) AS DOUBLE), 9) AS DECIMAL(38,12)) AS t
          FROM dev GROUP BY 1),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS k_groups,
                 CAST(sum(n) AS BIGINT) AS n,
                 CAST(sum(s) AS BIGINT) AS stot,
                 sum(sxx) AS sxxtot, sum(t) AS tsum
          FROM g)
        SELECT k_groups, n,
               ROUND(CAST(tsum AS DOUBLE)
                     - (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
                       / CAST(n AS DOUBLE), 6) AS ss_between,
               ROUND(CAST(sxxtot AS DOUBLE) - CAST(tsum AS DOUBLE), 6)
                 AS ss_within,
               ROUND(((CAST(tsum AS DOUBLE)
                       - (CAST(stot AS DOUBLE) * CAST(stot AS DOUBLE))
                         / CAST(n AS DOUBLE))
                      / (CAST(k_groups AS DOUBLE) - 1.0))
                     / ((CAST(sxxtot AS DOUBLE) - CAST(tsum AS DOUBLE))
                        / (CAST(n AS DOUBLE) - CAST(k_groups AS DOUBLE))),
                     6) AS f_stat
        FROM agg
        WHERE k_groups >= 2
          AND CAST(sxxtot AS DOUBLE) - CAST(tsum AS DOUBLE) > 0.0
      """)),

    // t-closeness audit over the same QI lattice as q_k_anonymity /
    // q_l_diversity — the skewness-attack rung: groups whose market-
    // segment DISTRIBUTION sits > 0.5 total-variation from the
    // table's, TVD exact on the integer ppm lattice
    // (DataQuality.tClosenessViolations scaladoc).
    QueryDef(
      "q_t_closeness",
      (s, dir) =>
        graft.operators.DataQuality.tClosenessViolations(
            Tables.customer(s, dir)
              .select(col("c_nationkey"), col("c_mktsegment"),
                floor((col("c_acctbal") * 100).cast("long") /
                  lit(200000.0)).as("bal_band")),
            Seq("c_nationkey", "bal_band"), "c_mktsegment",
            tPpm = 500000L)
          .orderBy(col("c_nationkey"), col("bal_band")),
      Some("""
        WITH cells AS (
          SELECT c_nationkey,
                 CAST(FLOOR(CAST(CAST(c_acctbal * 100 AS BIGINT) AS DOUBLE)
                            / 200000.0) AS BIGINT) AS bal_band,
                 c_mktsegment AS s, count(*) AS c
          FROM customer GROUP BY 1, 2, 3),
        gt AS (SELECT c_nationkey, bal_band, sum(c) AS ng
               FROM cells GROUP BY 1, 2),
        dt AS (SELECT s, sum(c) AS cs FROM cells GROUP BY 1),
        tot AS (SELECT sum(c) AS nn FROM cells),
        grp AS (
          SELECT cells.c_nationkey, cells.bal_band,
                 CAST(max(ng) AS BIGINT) AS n,
                 sum(greatest(CAST(c AS HUGEINT) * nn
                              - CAST(cs AS HUGEINT) * ng, 0)) AS num,
                 max(nn) AS nn
          FROM cells JOIN dt USING (s)
          JOIN gt USING (c_nationkey, bal_band) CROSS JOIN tot
          GROUP BY 1, 2)
        SELECT c_nationkey, bal_band, n,
               CAST((num * 1000000) // (n * nn) AS BIGINT) AS tvd_ppm
        FROM grp
        WHERE (num * 1000000) // (n * nn) > 500000
        ORDER BY c_nationkey, bal_band
      """)),

    // k-core of the term co-occurrence graph (top-200-df vocab,
    // distance <= 2 — the q_keywords graph): three peel rounds at
    // k=20 isolate the dense topical core from tendril terms
    // (GraphOps.kCore scaladoc). The oracle unrolls the same three
    // rounds over the replayed edge set.
    QueryDef(
      "q_kcore",
      (s, dir) => {
        val toks = docTokens(s, dir)
          .select(col("doc_id"),
            posexplode(col("tokens")).as(Seq("pos", "term")))
        val vocab = toks.groupBy(col("term"))
          .agg(countDistinct(col("doc_id")).as("df"))
          .orderBy(col("df").desc, col("term"))
          .limit(200)
          .select(col("term"))
        val vt = toks.join(broadcast(vocab), "term")
        val edges = Seq(1, 2).map { d =>
          vt.select(col("doc_id"), col("pos"), col("term").as("src"))
            .join(vt.select(col("doc_id"), (col("pos") - lit(d)).as("pos"),
              col("term").as("dst")), Seq("doc_id", "pos"))
            .select(col("src"), col("dst"))
        }.reduce(_ union _).filter(col("src") =!= col("dst"))
        graft.operators.GraphOps.kCore(edges, "src", "dst",
            k = 20, rounds = 3)
          .orderBy(col("id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        vocab AS (
          SELECT term FROM (
            SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY 1
            ORDER BY df DESC, term LIMIT 200)),
        vt AS (SELECT t.doc_id, t.pos, t.term
               FROM toks t JOIN vocab v USING (term)),
        e AS (
          SELECT DISTINCT least(a.term, b.term) AS id_a,
                          greatest(a.term, b.term) AS id_b
          FROM vt a JOIN vt b
            ON a.doc_id = b.doc_id AND b.pos - a.pos IN (1, 2)
          WHERE a.term <> b.term),
        d0 AS (SELECT id, count(*) AS d FROM (
                 SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e)
               GROUP BY 1),
        k0 AS (SELECT id FROM d0 WHERE d >= 20),
        e1 AS (SELECT id_a, id_b FROM e
               WHERE id_a IN (SELECT id FROM k0)
                 AND id_b IN (SELECT id FROM k0)),
        d1 AS (SELECT id, count(*) AS d FROM (
                 SELECT id_a AS id FROM e1 UNION ALL SELECT id_b FROM e1)
               GROUP BY 1),
        k1 AS (SELECT id FROM d1 WHERE d >= 20),
        e2 AS (SELECT id_a, id_b FROM e1
               WHERE id_a IN (SELECT id FROM k1)
                 AND id_b IN (SELECT id FROM k1)),
        d2 AS (SELECT id, count(*) AS d FROM (
                 SELECT id_a AS id FROM e2 UNION ALL SELECT id_b FROM e2)
               GROUP BY 1),
        k2 AS (SELECT id FROM d2 WHERE d >= 20),
        e3 AS (SELECT id_a, id_b FROM e2
               WHERE id_a IN (SELECT id FROM k2)
                 AND id_b IN (SELECT id FROM k2)),
        d3 AS (SELECT id, count(*) AS d FROM (
                 SELECT id_a AS id FROM e3 UNION ALL SELECT id_b FROM e3)
               GROUP BY 1)
        SELECT id, CAST(d AS BIGINT) AS deg FROM d3 WHERE d >= 20
        ORDER BY id
      """)),

    // Multi-source BFS over the cell-blocked 3-NN similarity graph:
    // minimum hop distance (<= 3) from the doc_id%97 seed set — "how
    // far does a contaminated cluster spread" (GraphOps.bfsHops
    // scaladoc). The oracle unrolls the same three frontier
    // expansions over the shared cellKnnEdgeCtes replay.
    QueryDef(
      "q_bfs_hops",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val knn = Similarity.cellBlockedTopK(
          emb, "vec_id", "embedding", 3)
        graft.operators.GraphOps.bfsHops(
            knn.select(col("query_id").as("src"),
              col("neighbor_id").as("dst")),
            "src", "dst",
            emb.filter(pmod(col("vec_id"), lit(97L)) === 0), "vec_id",
            maxHops = 3)
          .orderBy(col("id"))
      },
      Some(s"""
        WITH $cellKnnEdgeCtes,
        und AS (SELECT id_a AS u, id_b AS v FROM e
                UNION SELECT id_b, id_a FROM e),
        h0 AS (SELECT DISTINCT vec_id AS id FROM embeddings
               WHERE vec_id % 97 = 0),
        h1 AS (SELECT DISTINCT v AS id FROM und JOIN h0 ON und.u = h0.id
               WHERE v NOT IN (SELECT id FROM h0)),
        h2 AS (SELECT DISTINCT v AS id FROM und JOIN h1 ON und.u = h1.id
               WHERE v NOT IN (SELECT id FROM h0)
                 AND v NOT IN (SELECT id FROM h1)),
        h3 AS (SELECT DISTINCT v AS id FROM und JOIN h2 ON und.u = h2.id
               WHERE v NOT IN (SELECT id FROM h0)
                 AND v NOT IN (SELECT id FROM h1)
                 AND v NOT IN (SELECT id FROM h2))
        SELECT id, hop FROM (
          SELECT id, 0 AS hop FROM h0
          UNION ALL SELECT id, 1 FROM h1
          UNION ALL SELECT id, 2 FROM h2
          UNION ALL SELECT id, 3 FROM h3)
        ORDER BY id
      """)),

    // Trigram-index exact substring search: each query doc's chars
    // 11..18 as a literal %pattern%, served from the character-
    // trigram inverted index + exact contains verify — bit-identical
    // to the brute LIKE scan the oracle runs (TrigramSearch
    // scaladoc; at sf0.01 no trigram exceeds the hot cap, so the
    // served set is total).
    QueryDef(
      "q_trigram_search",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        graft.operators.TrigramSearch.search(
            docs, "doc_id", "text",
            docs.filter(pmod(col("doc_id"), lit(97L)) === 0)
              .select(col("doc_id"),
                substring(col("text"), 11, 8).as("pattern")),
            "doc_id", "pattern", excludeSelf = true)
          .orderBy(col("query_id"), col("doc_id"))
      },
      Some("""
        SELECT q.doc_id AS query_id, d.doc_id
        FROM (SELECT doc_id, substring(text, 11, 8) AS pat
              FROM documents WHERE doc_id % 97 = 0) q
        JOIN documents d
          ON length(q.pat) >= 3 AND contains(d.text, q.pat)
         AND d.doc_id <> q.doc_id
        ORDER BY query_id, d.doc_id
      """)),

    // One full BPE training iteration, oracle-replayed: learn the
    // argmax pair, apply the greedy non-overlapping merge across the
    // (vocab-sized) symbol table, recount pairs — the step q_bpe_pairs
    // only argmaxes. The oracle applies the merge as a left-to-right
    // string replace over space-joined symbols with a TRAILING-space
    // pattern: on initial single-char symbols every match is
    // symbol-aligned ('<'/'>' never appear in the corpus charset and
    // the only multi-char symbol tail is '>'), and Python-replace
    // semantics coincide with the fold on runs — sound for the FIRST
    // merge, which is exactly what this query replays (the engine's
    // applyMerge fold is the general path for later merges).
    QueryDef(
      "q_bpe_merge",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        val syms = BpeTokenizer.initialSymbols(
          BpeTokenizer.wordCounts(Tables.documents(s, dir), "text"))
          .select(col("freq"), col("syms")).transform(Par.pin)
        val (l, r, _) = BpeTokenizer.topPair(syms).get
        BpeTokenizer.pairStats(BpeTokenizer.mergePair(syms, l, r))
          .select(col("left").as("lhs"), col("right").as("rhs"), col("cnt"))
          .orderBy(desc("cnt"), asc("lhs"), asc("rhs"))
          .limit(50)
      },
      Some("""
        WITH words AS (
          SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
          FROM (SELECT unnest(string_split(text, ' ')) AS word
                FROM documents)
          WHERE length(word) > 0
          GROUP BY 1),
        pairs0 AS (
          SELECT freq,
                 substr(word, i, 1) AS lhs,
                 substr(word, i + 1, 1) ||
                   CASE WHEN i + 1 = n THEN '</w>' ELSE '' END AS rhs
          FROM (SELECT word, freq, length(word) AS n,
                       unnest(range(1, length(word))) AS i
                FROM words)),
        top1 AS (
          SELECT lhs, rhs FROM (
            SELECT lhs, rhs, SUM(freq) AS cnt
            FROM pairs0 GROUP BY 1, 2
            ORDER BY cnt DESC, lhs, rhs LIMIT 1)),
        spaced AS (
          SELECT freq,
                 rtrim(regexp_replace(word, '(.)', '\1 ', 'g'))
                   || '</w> ' AS s
          FROM words),
        merged AS (
          SELECT freq,
                 string_split(rtrim(replace(
                   s, t.lhs || ' ' || t.rhs || ' ',
                   t.lhs || t.rhs || ' ')), ' ') AS syms
          FROM spaced CROSS JOIN top1 t),
        pairs1 AS (
          SELECT freq, syms[i] AS lhs, syms[i + 1] AS rhs
          FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
                FROM merged))
        SELECT lhs, rhs, CAST(SUM(freq) AS BIGINT) AS cnt
        FROM pairs1 GROUP BY 1, 2
        ORDER BY cnt DESC, lhs, rhs
        LIMIT 50
      """)),

    // Multi-merge BPE TRAINING (VERDICT r16 #4): 4 sequential
    // learn-apply iterations with the per-merge audit ledger
    // (step, lhs, rhs, cnt-at-selection) — real tokenizer training,
    // not the single q_bpe_merge step. The oracle unrolls the loop
    // as a CTE chain; the merge application replays the engine's
    // greedy left-to-right non-overlapping fold EXACTLY via
    // list_reduce over a space-joined accumulator (last symbol == l
    // ⟺ ends_with(acc, ' '||l), sound because symbols never contain
    // spaces) — a trailing-space string replace would MIS-ALIGN on
    // runs of ≥5 identical symbols (see BpeTokenizerSpec's aaaaaa
    // case), which is why q_bpe_merge's replace trick stops being
    // sound after the first merge and this query doesn't use it.
    // minCount = 1 so the early-stop condition (no pairs left) is
    // the same on both sides: an exhausted corpus yields an empty
    // t_k, each s_k LEFT-falls-back to s_{k-1} unchanged (ADVICE
    // r17), and the ledger's UNION simply lacks the missing steps —
    // matching the engine's early-stopped trainLedger. Oracle
    // caveat (VERDICT r17 #5): the engine REFUSES corpora whose
    // words contain the literal `</w>` marker (initialSymbols'
    // raise_error guard); the oracle has no such guard, but the
    // generated documents table contains no angle brackets, so both
    // sides see the same clean corpus here.
    QueryDef(
      "q_bpe_train",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        val ledger = BpeTokenizer.trainLedger(
          Tables.documents(s, dir), "text", nMerges = 4, minCount = 1L)
        import s.implicits._
        ledger.toDF("step", "lhs", "rhs", "cnt")
          .select(col("step").cast("long").as("step"),
            col("lhs"), col("rhs"), col("cnt"))
          .orderBy(col("step"))
      },
      Some(bpeTrainOracle(4))),

    // DEEP twin of q_bpe_train at 12 merges (round 19): the oracle
    // unrolls the same sequential CTE chain 12 deep, while the
    // engine side rides trainLedger's BATCHED scan (VERDICT r18 #1)
    // through multiple rounds with multi-merge batches and
    // single-merge fallbacks — so the batched/sequential ledger
    // equality that BpeBatchedEquivalenceSpec proves spec-side is
    // ALSO oracle-pinned end-to-end at every verify sf, deep enough
    // that a batch-safety regression (a wrongly-ordered or
    // wrongly-counted merge in any later round) goes red here even
    // if the first batch survives.
    QueryDef(
      "q_bpe_train_deep",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        val ledger = BpeTokenizer.trainLedger(
          Tables.documents(s, dir), "text", nMerges = 12, minCount = 1L)
        import s.implicits._
        ledger.toDF("step", "lhs", "rhs", "cnt")
          .select(col("step").cast("long").as("step"),
            col("lhs"), col("rhs"), col("cnt"))
          .orderBy(col("step"))
      },
      Some(bpeTrainOracle(12))),

    // DEEP segmentation twin (round 19): the native bpe_apply kernel
    // (BpeApplyMerges — linked-list + rank-frontier heap, one
    // expression for the whole merge list) pinned end-to-end against
    // the 12-merge sequential CTE replay. The spec proves
    // kernel ≡ fold on adversarial fixtures; this row proves it
    // against an INDEPENDENT engine on real corpus text at every
    // verify scale factor, deep enough that rank-frontier bugs
    // (alias pairs merging out of pass order) surface as a hash
    // mismatch.
    QueryDef(
      "q_bpe_segment_deep",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        val docs = Tables.documents(s, dir)
        val merges = BpeTokenizer.train(docs, "text", nMerges = 12,
          minCount = 1L)
        BpeTokenizer.segment(docs, "text", merges)
          .select(col("word"), col("freq"),
            array_join(col("pieces"), " ").as("pieces"))
          .orderBy(col("word"))
      },
      Some(bpeSegmentOracle(12))),

    // The trained tokenizer APPLIED: segment every distinct word of
    // the corpus with the 4 learned merges — the downstream
    // tokenization path, which by design runs over the DISTINCT-word
    // table (vocab-sized) and joins back to the corpus, never doing
    // per-occurrence piece work (BpeTokenizer.segment scaladoc).
    // The oracle extends q_bpe_train's unrolled chain by one more
    // list_reduce application (the final merge) and reads the
    // resulting symbol table.
    QueryDef(
      "q_bpe_segment",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        val docs = Tables.documents(s, dir)
        val merges = BpeTokenizer.train(docs, "text", nMerges = 4,
          minCount = 1L)
        BpeTokenizer.segment(docs, "text", merges)
          .select(col("word"), col("freq"),
            array_join(col("pieces"), " ").as("pieces"))
          .orderBy(col("word"))
      },
      Some(bpeSegmentOracle(4))),

    // Persisted-tokenizer ROUND-TRIP (VERDICT r17 #4): train the same
    // 4 merges, ship them as the parquet artifact
    // (BpeTokenizer.writeMerges — the writeIvfIndex
    // build-once/query-many convention), then tokenize FROM THE STORE
    // with segmentFromStore. The oracle is q_bpe_segment's own chain,
    // so store → segment must hash-equal the live path: a lost step
    // column, a reordered reload, or a schema drift in the artifact
    // flips this row red. Stores live in a fresh temp dir per
    // invocation, deleted once the result is sealed (withTempStore —
    // VERDICT r18 #3 closed the per-rep leak).
    QueryDef(
      "q_bpe_roundtrip",
      (s, dir) => Par.withTempStore("graft_bpe_store") { store =>
        import graft.operators.BpeTokenizer
        val docs = Tables.documents(s, dir)
        val ledger = BpeTokenizer.trainLedger(docs, "text", nMerges = 4,
          minCount = 1L)
        BpeTokenizer.writeMerges(s, ledger, store)
        BpeTokenizer.segmentFromStore(docs, "text", store)
          .select(col("word"), col("freq"),
            array_join(col("pieces"), " ").as("pieces"))
          .orderBy(col("word"))
      },
      Some(bpeSegmentOracle(4))),

    // The trained tokenizer's VOCABULARY (BpeTokenizer.vocab): base
    // symbols of the corpus decomposition at step 0 plus each
    // merge's output at its 1-based step — the vocab half of the
    // shipped artifact (vocab + merges), id order = (step, symbol).
    // The oracle replays the train chain and unions distinct s0
    // symbols with the t_k outputs; base (1 char + marker) and
    // merged (≥ 2 chars) symbols cannot collide, so the union is
    // exact on both sides.
    QueryDef(
      "q_bpe_vocab",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        val docs = Tables.documents(s, dir)
        val ledger = BpeTokenizer.trainLedger(docs, "text", nMerges = 4,
          minCount = 1L)
        BpeTokenizer.vocab(docs, "text", ledger)
          .orderBy(col("step"), col("symbol"))
      },
      Some(bpeVocabOracle(4))),

    // Tokenizer compression audit (BpeTokenizer.compressionStats):
    // occurrence-weighted word/piece/char totals and exact
    // integer-lattice ratios (pieces per 1000 words, chars per piece
    // on the micro lattice) over the 4-merge tokenizer — the metric
    // that decides WHICH merge list ships. Both engines floor-divide
    // non-negative longs (Spark `div` ≡ DuckDB `//` there), so every
    // column is an exact BIGINT. The oracle aggregates the segment
    // chain's final table.
    QueryDef(
      "q_bpe_compression",
      (s, dir) => {
        import graft.operators.BpeTokenizer
        val docs = Tables.documents(s, dir)
        val merges = BpeTokenizer.train(docs, "text", nMerges = 4,
          minCount = 1L)
        BpeTokenizer.compressionStats(docs, "text", merges)
      },
      Some(bpeChainCtes(4, segment = true) +
        """
        SELECT CAST(SUM(freq) AS BIGINT) AS n_words,
               CAST(SUM(freq * len(syms)) AS BIGINT) AS n_pieces,
               CAST(SUM(freq * length(word)) AS BIGINT) AS n_chars,
               CAST(SUM(CASE WHEN len(syms) = 1 THEN freq ELSE 0 END)
                    AS BIGINT) AS single_piece_words,
               CAST((SUM(freq * len(syms)) * 1000) // SUM(freq)
                    AS BIGINT) AS pieces_per_kword,
               CAST((SUM(freq * length(word)) * 1000000)
                    // SUM(freq * len(syms)) AS BIGINT)
                 AS chars_per_piece_micro
        FROM s4""")),

    // T5 span-corruption example prep: replayable md5 span draws,
    // one sentinel per corrupted span in the inputs, sentinel-
    // enumerated span tokens in the targets (SpanCorruption
    // scaladoc). Hashing the assembled strings verifies the whole
    // mask/renumber/reassemble chain end to end.
    QueryDef(
      "q_span_corruption",
      (s, dir) =>
        graft.operators.SpanCorruption.corrupt(
            Tables.documents(s, dir), "doc_id", "text")
          .orderBy(col("doc_id")),
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS tok,
                 generate_subscripts(string_split(text, ' '), 1) - 1 AS pos
          FROM documents),
        t2 AS (
          SELECT doc_id, tok, pos, pos // 8 AS block, pos % 8 AS ofs,
                 (CAST(concat('0x', substr(md5(doc_id || ':'
                       || CAST(pos // 8 AS VARCHAR)), 1, 15))
                    AS UBIGINT) % 3 = 0)
                   AND pos % 8 BETWEEN 3 AND 5 AS masked
          FROM toks),
        mb AS (
          SELECT doc_id, block,
                 ROW_NUMBER() OVER (PARTITION BY doc_id
                                    ORDER BY block) - 1 AS k
          FROM (SELECT DISTINCT doc_id, block FROM t2 WHERE masked)),
        tg AS (SELECT t2.*, mb.k FROM t2
               LEFT JOIN mb USING (doc_id, block))
        SELECT doc_id, COUNT(*) AS n_tokens,
               CAST(SUM(CASE WHEN masked THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_masked,
               COALESCE(string_agg(
                 CASE WHEN NOT masked THEN tok
                      WHEN ofs = 3 THEN '<extra_id_' || k || '>' END,
                 ' ' ORDER BY pos), '') AS inputs,
               COALESCE(string_agg(
                 CASE WHEN masked AND ofs = 3
                        THEN '<extra_id_' || k || '> ' || tok
                      WHEN masked THEN tok END,
                 ' ' ORDER BY pos), '') AS targets
        FROM tg GROUP BY doc_id
        ORDER BY doc_id
      """)),

    // Length-bucketed batch assembly with padding-waste accounting
    // (SequencePacking.lengthBuckets scaladoc): buckets of 200 chars,
    // batches of 16 by the md5 draw — the fine-tuning counterpart of
    // q_pack_sequences' causal concat-packing.
    QueryDef(
      "q_length_buckets",
      (s, dir) =>
        graft.operators.SequencePacking.lengthBuckets(
            Tables.documents(s, dir), "doc_id", "n_chars",
            bucketWidth = 200L, batchSize = 16)
          .orderBy(col("bucket"), col("batch_id")),
      Some("""
        WITH rows0 AS (
          SELECT doc_id, CAST(n_chars AS BIGINT) AS len,
                 n_chars // 200 AS bucket,
                 CAST(concat('0x',
                      substr(md5(CAST(doc_id AS VARCHAR)), 1, 15))
                   AS UBIGINT) AS h
          FROM documents),
        dealt AS (
          SELECT bucket, len,
                 (ROW_NUMBER() OVER (PARTITION BY bucket
                                     ORDER BY h, doc_id) - 1) // 16
                   AS batch_id
          FROM rows0)
        SELECT bucket, batch_id, COUNT(*) AS n_rows,
               MIN(len) AS min_len, MAX(len) AS max_len,
               CAST(SUM(len) AS BIGINT) AS sum_len,
               CAST(COUNT(*) * MAX(len) - SUM(len) AS BIGINT) AS pad_waste
        FROM dealt GROUP BY 1, 2
        ORDER BY bucket, batch_id
      """)),

    // Order-independent snapshot fingerprints per source: XOR + SUM
    // mod 2^61 of 60-bit row hashes — snapshot equality without row
    // comparison, mergeable across shards, identical under any
    // partitioning (DataQuality.tableFingerprint scaladoc). The
    // oracle recomputes both combiners from the same md5 lattice.
    QueryDef(
      "q_table_fingerprint",
      (s, dir) =>
        graft.operators.DataQuality.tableFingerprint(
            Tables.documents(s, dir), Seq("source"),
            Seq("doc_id", "text", "lang", "n_chars"))
          .orderBy(col("source")),
      Some("""
        WITH h AS (
          SELECT source,
                 CAST(concat('0x', substr(md5(
                     doc_id || chr(1) || text || chr(1) || lang
                       || chr(1) || n_chars), 1, 15))
                   AS BIGINT) AS h
          FROM documents)
        SELECT source, COUNT(*) AS n_rows,
               CAST(bit_xor(h) AS BIGINT) AS xor_sig,
               CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT)
                    % 2305843009213693952 AS BIGINT) AS sum_sig
        FROM h GROUP BY 1
        ORDER BY source
      """)),

    // MinHash estimator calibration: every exact-Jaccard pair at
    // >= 0.5 with its 16-hash md5-lattice estimate beside it — the
    // "are 16 hashes enough at my threshold" audit, measured instead
    // of folklore-bounded (Dedup.minhashCalibration scaladoc). The
    // oracle replays shingles, signatures, and both ppm lattices.
    QueryDef(
      "q_minhash_calibration",
      (s, dir) =>
        Dedup.minhashCalibration(
            Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3),
            numHashes = 16, minExactPpm = 500000L)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""
        WITH ${shingleCtes(3, "documents")},
        sizes AS (SELECT doc_id, count(*) n FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
          FROM grams a JOIN grams b
            ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        exact AS (
          SELECT id_a, id_b,
                 CAST((i * 1000000) // (sa.n + sb.n - i) AS BIGINT)
                   AS exact_ppm
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b
          WHERE (i * 1000000) // (sa.n + sb.n - i) >= 500000),
        seeds AS (SELECT unnest(range(0, 16)) AS seed),
        hs AS (
          SELECT g.doc_id, s.seed,
                 min(CAST(concat('0x', substr(md5(
                     s.seed || ':' || g.shingle), 1, 15)) AS BIGINT)) AS h
          FROM grams g CROSS JOIN seeds s
          GROUP BY 1, 2),
        est AS (
          SELECT e.id_a, e.id_b, e.exact_ppm,
                 CAST(SUM(CASE WHEN ha.h = hb.h THEN 1 ELSE 0 END)
                   AS BIGINT) AS matches
          FROM exact e
          JOIN hs ha ON ha.doc_id = e.id_a
          JOIN hs hb ON hb.doc_id = e.id_b AND hb.seed = ha.seed
          GROUP BY 1, 2, 3)
        SELECT id_a, id_b, exact_ppm,
               CAST((matches * 1000000) // 16 AS BIGINT) AS est_ppm,
               CAST(abs((matches * 1000000) // 16 - exact_ppm) AS BIGINT)
                 AS err_ppm
        FROM est
        ORDER BY id_a, id_b
      """)),

  )

  /** The q_bpe_train oracle: `nMerges` BPE training iterations
    * unrolled as a CTE chain. Per step k: pair counts over the
    * previous symbol table (p_k), the (cnt desc, lhs, rhs) argmax
    * (t_k), and the merged table (s_k) — the greedy non-overlapping
    * left-to-right merge replayed EXACTLY by a list_reduce whose
    * accumulator is the space-joined output-so-far (a leading
    * sentinel '' makes even the first symbol space-preceded, so
    * `ends_with(acc, ' '||lhs)` ⟺ "last emitted symbol is exactly
    * lhs": symbols contain no spaces). s_k and t_k are each read
    * twice, hence AS MATERIALIZED (the round-16 oracle-replay-cost
    * convention, tools/ORACLE_REPLAY_PROFILE.md).
    */
  private def bpeTrainOracle(nMerges: Int): String =
    bpeChainOracle(nMerges, segment = false)

  /** The q_bpe_vocab oracle: the same train chain, with the final
    * select emitting base symbols (distinct s0 symbols at step 0)
    * plus each merge's output symbol at its step — the vocabulary
    * half of the shipped tokenizer artifact. Base and merge symbols
    * cannot collide (1 char + marker vs ≥ 2 chars), so UNION ALL is
    * exact.
    */
  private def bpeVocabOracle(nMerges: Int): String = {
    val steps = (1 to nMerges)
      .map(k => s"SELECT lhs || rhs AS symbol, $k AS step FROM t$k")
      .mkString("\nUNION ALL ")
    bpeChainCtes(nMerges, segment = false) +
      s"""
      SELECT symbol, step FROM (
        SELECT DISTINCT unnest(syms) AS symbol, 0 AS step FROM s0
        UNION ALL $steps)
      ORDER BY step, symbol"""
  }

  /** The q_bpe_segment oracle: the same chain, with the FINAL merge
    * also applied (s_n generated) and the word column carried
    * through, selecting each distinct word's space-joined pieces.
    */
  private def bpeSegmentOracle(nMerges: Int): String =
    bpeChainOracle(nMerges, segment = true)

  private def bpeChainOracle(nMerges: Int, segment: Boolean): String = {
    val finalSelect =
      if (segment)
        s"""SELECT word, freq, array_to_string(syms, ' ') AS pieces
      FROM s$nMerges ORDER BY word"""
      else {
        val steps = (1 to nMerges)
          .map(k =>
            s"SELECT CAST($k AS BIGINT) AS step, lhs, rhs, cnt FROM t$k")
          .mkString("\nUNION ALL ")
        s"SELECT * FROM (\n$steps)\nORDER BY step"
      }
    bpeChainCtes(nMerges, segment) + "\n" + finalSelect
  }

  /** The shared WITH clause of the BPE oracles: s0 (decomposition),
    * then per step k the pair counts (p_k), the argmax (t_k) and —
    * when needed downstream — the merged table (s_k).
    */
  private def bpeChainCtes(nMerges: Int, segment: Boolean): String = {
    val ctes = Seq(
      """words AS (
      SELECT word, CAST(COUNT(*) AS BIGINT) AS freq
      FROM (SELECT unnest(string_split(text, ' ')) AS word FROM documents)
      WHERE length(word) > 0
      GROUP BY 1)""",
      """s0 AS MATERIALIZED (
      SELECT word, freq,
             list_transform(range(1, length(word) + 1),
               i -> substr(word, i, 1) ||
                    CASE WHEN i = length(word) THEN '</w>' ELSE '' END)
               AS syms
      FROM words)""") ++
      (1 to nMerges).flatMap { k =>
        // LEFT JOIN ON TRUE, not CROSS JOIN (ADVICE r17): if the
        // corpus exhausts before nMerges merges, t_k is EMPTY — a
        // cross join would empty s_k and every later CTE with it, so
        // the segment oracle would return zero rows while the
        // engine's segment() still returns every word segmented with
        // the merges actually learned. With the left join an empty
        // t_k yields NULL t.lhs and the CASE passes syms through
        // unchanged — exactly the engine's early-stop semantics (an
        // exhausted table has no pairs, so later iterations are
        // no-ops on both sides).
        val merged =
          if (k == nMerges && !segment) Nil
          else Seq(s"""s$k AS MATERIALIZED (
      SELECT word, freq,
             CASE WHEN t.lhs IS NULL THEN syms
                  ELSE string_split(trim(list_reduce(list_prepend('', syms),
                    (acc, x) -> CASE WHEN x = t.rhs
                                      AND ends_with(acc, ' ' || t.lhs)
                                 THEN acc || t.rhs
                                 ELSE acc || ' ' || x END)), ' ')
             END AS syms
      FROM s${k - 1} LEFT JOIN t$k t ON TRUE)""")
        Seq(s"""p$k AS (
      SELECT syms[i] AS lhs, syms[i + 1] AS rhs,
             CAST(SUM(freq) AS BIGINT) AS cnt
      FROM (SELECT freq, syms, unnest(range(1, len(syms))) AS i
            FROM s${k - 1})
      GROUP BY 1, 2)""",
          s"""t$k AS MATERIALIZED (
      SELECT lhs, rhs, cnt FROM p$k
      ORDER BY cnt DESC, lhs, rhs LIMIT 1)""") ++ merged
      }
    s"WITH ${ctes.mkString(",\n")}"
  }
}
