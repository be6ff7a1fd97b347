package graft.queries

import graft.{QueryDef, Tables}
import graft.operators.{Par, Similarity}
import org.apache.spark.sql.functions._


/** Pure-move slice of [[ExtensionQueries]] (round 16, VERDICT r15 #5:
  * the 9,743-line file was 25% of the engine's merge surface).
  * Similarity search: ANN top-k/IVF/LSH/recall/scale/matryoshka, hard negatives, kNN classify, BM25, PRF, phrase search, retrieval metrics.
  * Helpers live on ExtensionQueries as private[queries]; behavior is
  * byte-identical — the order of ExtensionQueries.all is preserved.
  */
private[queries] object ExtensionAnnQueries {
  import ExtensionQueries._

  val all: Seq[QueryDef] = Seq(
    // ---- Similarity search ----

    QueryDef(
      "q_ann_topk",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.bruteForceTopK(
            emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(annOracle("q.vec_id < 10", 5))),

    // Hard-negative mining (contrastive-training prep): top-3
    // most-similar neighbors with a DIFFERENT label, label filter
    // applied BEFORE the bounded top-k aggregate.
    QueryDef(
      "q_hard_negatives",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.hardNegatives(
            emb.filter(col("vec_id") < 10), emb,
            "vec_id", "embedding", "label", 3)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(q.x * c.x) AS d
          FROM dims q JOIN dims c ON q.i = c.i
          WHERE q.vec_id < 10
          GROUP BY 1, 2),
        scored AS (
          SELECT query_id, neighbor_id,
                 ROUND(d / (nq.nrm * nc.nrm), 6) AS cosine
          FROM dots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nc ON nc.vec_id = neighbor_id
          JOIN embeddings eq ON eq.vec_id = query_id
          JOIN embeddings en ON en.vec_id = neighbor_id
          WHERE query_id <> neighbor_id
            AND eq.label IS DISTINCT FROM en.label),
        ranked AS (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM scored)
        SELECT query_id, neighbor_id, cosine, rank
        FROM ranked WHERE rank <= 3
        ORDER BY query_id, rank
      """)),

    // kNN label propagation: rows with vec_id % 7 == 0 play the
    // unlabeled corpus, the rest the human-labeled seed set; each
    // unlabeled row takes the majority label of its 5 nearest labeled
    // neighbors (6-dp cosine, neighbor-id tie-break; vote ties break
    // on smallest label). Oracle replays the full chain: restricted
    // brute-force cosine rank, label join, vote window.
    QueryDef(
      "q_knn_classify",
      (s, dir) => {
        import graft.operators.KnnClassifier
        val emb = Tables.embeddings(s, dir)
        KnnClassifier.classify(
            emb.filter(pmod(col("vec_id"), lit(7L)) === 0),
            emb.filter(pmod(col("vec_id"), lit(7L)) =!= 0),
            "vec_id", "embedding", "label", 5)
          .orderBy(col("query_id"))
      },
      Some("""
        WITH dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
        dots AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(q.x * c.x) AS d
          FROM dims q JOIN dims c ON q.i = c.i
          WHERE q.vec_id % 7 = 0 AND c.vec_id % 7 <> 0
          GROUP BY 1, 2),
        scored AS (
          SELECT query_id, neighbor_id,
                 ROUND(d / (nq.nrm * nc.nrm), 6) AS cosine
          FROM dots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nc ON nc.vec_id = neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM scored),
        votes AS (
          SELECT r.query_id, e.label,
                 count(*) AS votes, min(r.rank) AS best_rank
          FROM ranked r JOIN embeddings e ON e.vec_id = r.neighbor_id
          WHERE r.rank <= 5
          GROUP BY 1, 2),
        win AS (
          SELECT query_id, label, votes, best_rank,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY votes DESC, label) AS rn
          FROM votes)
        SELECT query_id, label, votes, best_rank
        FROM win WHERE rn = 1
        ORDER BY query_id
      """)),

    // BM25 top-10 retrieval: docs with doc_id % 97 == 0 play the
    // query batch (query terms = the DISTINCT tokens among each query
    // doc's first 8 positions; the query doc itself is excluded from
    // its results). Per-term contributions snap to an integer nano
    // lattice BEFORE the per-doc sum (order-independent long adds —
    // the UnigramLM policy), idf is base-10 (see Bm25 scaladoc), and
    // the oracle replays the whole inverted-index build + scoring +
    // rank chain.
    QueryDef(
      "q_bm25",
      (s, dir) => {
        import graft.operators.Bm25
        val docs = docTokens(s, dir)
        val queryTerms = docs
          .filter(pmod(col("doc_id"), lit(97L)) === 0)
          .select(col("doc_id").as("query_id"),
            explode(slice(col("tokens"), 1, 8)).as("term"))
          .distinct()
        // pin + widenBy(doc_id) (r20, profiled): the contrib map over
        // the AQE-coalesced postings ran single-task for 2.3 s; the
        // doc-hash widening keeps the per-(query, doc) partial
        // aggregation collapsing map-side (the q_rbo diagnosis)
        Bm25.scoreTopK(
            graft.operators.Par.widenBy(
              Bm25.postings(docs, "doc_id", "tokens")
                .transform(Par.pin),
              col("doc_id")),
            Bm25.totals(docs, "doc_id", "tokens"),
            queryTerms, k = 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        dl AS (SELECT doc_id, count(*) AS dl FROM toks GROUP BY 1),
        tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        df AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        tot AS (SELECT count(*) AS n_docs,
                       CAST(sum(dl) AS DOUBLE) / CAST(count(*) AS DOUBLE)
                         AS avgdl
                FROM dl),
        qterms AS (
          SELECT DISTINCT doc_id AS query_id, term FROM toks
          WHERE doc_id % 97 = 0 AND pos <= 8),
        contrib AS (
          -- two-stage lattice: log10 is the only not-correctly-rounded
          -- IEEE op in the chain, so idf alone snaps to a micro
          -- lattice; the outer ROUND then acts on a bit-identical
          -- double in both engines (see Bm25.scala determinism note)
          SELECT q.query_id, t.doc_id,
                 CAST(ROUND(
                   CAST(CAST(ROUND(
                     log10(1.0 + (CAST(tot.n_docs AS DOUBLE)
                                  - CAST(df.df AS DOUBLE) + 0.5)
                                 / (CAST(df.df AS DOUBLE) + 0.5))
                     * 1e6) AS BIGINT) AS DOUBLE)
                   * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
                     / (CAST(t.tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                               / tot.avgdl))
                   * 1e3) AS BIGINT) AS c_nano
          FROM qterms q
          JOIN tf t ON t.term = q.term
          JOIN df ON df.term = q.term
          JOIN dl ON dl.doc_id = t.doc_id
          CROSS JOIN tot
          WHERE t.doc_id <> q.query_id),
        scores AS (
          -- CAST: DuckDB SUM(BIGINT) returns HUGEINT, which lands in
          -- pandas as float64 — the driver hashes values, so an
          -- uncast sum reads 1234.0 vs Spark's 1234 and goes red even
          -- with identical numbers (the r08 q_bm25/q_token_budget
          -- failure mode; tools/dtypecheck.py now detects it).
          SELECT query_id, doc_id,
                 CAST(sum(c_nano) AS BIGINT) AS score_nano
          FROM contrib GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, doc_id, score_nano,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score_nano DESC, doc_id)
                   AS rank
          FROM scores)
        SELECT query_id, doc_id, score_nano, rank
        FROM ranked WHERE rank <= 10
        ORDER BY query_id, rank
      """)),

    // One round of Rocchio pseudo-relevance feedback: BM25 top-5 as
    // pseudo-relevant, add each query's 3 heaviest non-query terms,
    // rescore top-10 (Bm25.prfExpandTerms scaladoc — the feedback
    // set broadcasts, candidates bounded by feedback vocabularies).
    QueryDef(
      "q_prf_expand",
      (s, dir) => {
        import graft.operators.Bm25
        val docs = docTokens(s, dir)
        // the index feeds BOTH scoring passes (feedback + final) with
        // DIFFERENT query sets, so exchange reuse can't share it —
        // pin it once instead of rebuilding the postings twice
        // (guide §1.2: don't compute things twice; measured 2.0 s +
        // 2.7 s duplicate posting builds in the r19 profile).
        // widenBy(doc_id), not round-robin (r20): BM25's contrib
        // pipeline partially aggregates per (query, doc) before its
        // exchange, and doc-hash widening keeps that map-side
        // collapse intact (the q_rbo diagnosis) while parallelizing
        // the scoring map exactly as the r19 widen did
        val index = graft.operators.Par.widenBy(
          Bm25.postings(docs, "doc_id", "tokens").transform(Par.pin),
          col("doc_id"))
        val totals = Bm25.totals(docs, "doc_id", "tokens")
        val q0 = retrievalQueryTerms(docs)
        Bm25.scoreTopK(index, totals,
            Bm25.prfExpandTerms(index, totals, q0, m = 5, e = 3),
            k = 10)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH $retrievalCtes,
        $bm25ScoredCtes,
        fb AS (SELECT query_id, doc_id FROM bm25_ranked WHERE rank <= 5),
        cand AS (
          SELECT f.query_id, t.term, SUM(t.tf) AS tfsum
          FROM fb f JOIN tf t ON t.doc_id = f.doc_id
          GROUP BY 1, 2),
        cand2 AS (
          SELECT c.* FROM cand c
          WHERE NOT EXISTS (SELECT 1 FROM qterms q
                            WHERE q.query_id = c.query_id
                              AND q.term = c.term)),
        expn AS (
          SELECT query_id, term FROM (
            SELECT query_id, term,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY tfsum DESC, term) AS rn
            FROM cand2) WHERE rn <= 3),
        q2 AS (SELECT query_id, term FROM qterms
               UNION SELECT query_id, term FROM expn),
        contrib2 AS (
          -- the q_bm25 two-stage lattice, over the expanded batch
          SELECT q.query_id, t.doc_id,
                 CAST(ROUND(
                   CAST(CAST(ROUND(
                     log10(1.0 + (CAST(tot.n_docs AS DOUBLE)
                                  - CAST(df.df AS DOUBLE) + 0.5)
                                 / (CAST(df.df AS DOUBLE) + 0.5))
                     * 1e6) AS BIGINT) AS DOUBLE)
                   * (CAST(t.tf AS DOUBLE) * (1.2 + 1.0))
                     / (CAST(t.tf AS DOUBLE)
                        + 1.2 * (0.25 + 0.75 * CAST(dl.dl AS DOUBLE)
                                               / tot.avgdl))
                   * 1e3) AS BIGINT) AS c_nano
          FROM q2 q
          JOIN tf t ON t.term = q.term
          JOIN df ON df.term = q.term
          JOIN dl ON dl.doc_id = t.doc_id
          CROSS JOIN tot
          WHERE t.doc_id <> q.query_id),
        scores2 AS (
          SELECT query_id, doc_id,
                 CAST(sum(c_nano) AS BIGINT) AS score_nano
          FROM contrib2 GROUP BY 1, 2),
        ranked2 AS (
          SELECT query_id, doc_id, score_nano,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY score_nano DESC, doc_id)
                   AS rank
          FROM scores2)
        SELECT query_id, doc_id, score_nano, rank
        FROM ranked2 WHERE rank <= 10
        ORDER BY query_id, rank
      """)),

    // Exact phrase search over the positional inverted index: each
    // query doc (doc_id % 97 == 0) searches for its own tokens at
    // positions 3..5 as a consecutive 3-token phrase; result = every
    // other doc containing that exact phrase, with occurrence counts.
    // The phrase set broadcasts; the index is filtered map-side to
    // phrase terms — the corpus never reshuffles per query batch.
    QueryDef(
      "q_phrase_search",
      (s, dir) => {
        import graft.operators.PhraseSearch
        val docs = docTokens(s, dir)
        PhraseSearch.phraseMatches(
            PhraseSearch.positionalPostings(docs, "doc_id", "tokens"),
            PhraseSearch.phrasesFromTokens(
              docs.filter(pmod(col("doc_id"), lit(97L)) === 0),
              "doc_id", "tokens", startPos = 3, len = 3),
            len = 3)
          .orderBy(col("query_id"), col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS term,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        -- docs with <5 tokens yield <3 phrase offsets and can never
        -- reach HAVING count(*) = 3 below — no length guard needed
        -- (the Spark side drops them up front, same net result)
        phr AS (
          SELECT doc_id AS query_id, term, pos - 3 AS off
          FROM toks
          WHERE doc_id % 97 = 0 AND pos BETWEEN 3 AND 5),
        cand AS (
          SELECT p.query_id, t.doc_id, t.pos - p.off AS start
          FROM phr p JOIN toks t ON t.term = p.term
          WHERE t.doc_id <> p.query_id),
        hits AS (
          SELECT query_id, doc_id, start
          FROM cand GROUP BY 1, 2, 3 HAVING count(*) = 3)
        SELECT query_id, doc_id, count(*) AS n_matches
        FROM hits GROUP BY 1, 2
        ORDER BY query_id, doc_id
      """)),

    // IVF approximate variant with the DETERMINISTIC corpus-sampled
    // codebook (nlist DERIVED from the corpus count — max(16,
    // ceil(n/128)), the kNN-family scale rule; nprobe 4) — fully
    // hash-checked: the whole search is a pure function of the data,
    // so DuckDB replays cell assignment, probing, candidate join,
    // and the exact cosine re-rank (same derived-codebook chain
    // q_ann_recall pins; this exposes the ranked neighbor list
    // itself). The engine has no trained-codebook variant: a seeded
    // k-means codebook is not replayable in SQL.
    QueryDef(
      "q_ann_ivf",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        Similarity.ivfTopKSampledCodebook(
            emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5,
            nprobe = 4)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH $ivfAssignDerivedCtes,
        probes AS (
          SELECT nid AS query_id, cell FROM (
            SELECT nid, cell,
                   ROW_NUMBER() OVER (PARTITION BY nid
                                      ORDER BY csim DESC, cell) AS rn
            FROM asim WHERE nid < 10) WHERE rn <= 4),
        acand AS (
          SELECT p.query_id, a.nid AS neighbor_id
          FROM probes p JOIN asg a ON a.cell = p.cell
          WHERE a.nid <> p.query_id),
        pdots AS (
          SELECT c.query_id, c.neighbor_id, sum(qd.x * nd.x) AS d
          FROM acand c
          JOIN dims qd ON qd.vec_id = c.query_id
          JOIN dims nd ON nd.vec_id = c.neighbor_id AND nd.i = qd.i
          GROUP BY 1, 2),
        pscored AS (
          SELECT query_id, neighbor_id,
                 ROUND(d / (nq.nrm * nn.nrm), 6) AS cosine
          FROM pdots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nn ON nn.vec_id = neighbor_id)
        SELECT query_id, neighbor_id, cosine, rank FROM (
          SELECT query_id, neighbor_id, cosine,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY cosine DESC, neighbor_id)
                   AS rank
          FROM pscored) WHERE rank <= 5
        ORDER BY query_id, rank
      """)),

    // LSH-bucketed approximate variant — FULLY oracle-checked even
    // though it's an approximate algorithm: the hyperplane buckets are
    // a deterministic pure function of (seed, data), so DuckDB replays
    // the splitmix64 projection weights, the dimension-ordered dot
    // folds, the sign-bit packing, the band join, and the cosine
    // re-rank bit-for-bit (see lshOracle). Ground truth for RECALL is
    // still q_ann_topk; this pins the mechanism itself.
    QueryDef(
      "q_ann_lsh",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        // 4 bits × 8 tables: on this corpus the nearest neighbors sit
        // at cosine ≈ 0.5, so collision probability per table is only
        // (1−θ/π)^bits ≈ 0.16 — 8 tables lift recall to ~0.75. Real
        // embedding corpora with close neighbors would use more bits.
        Similarity.lshTopK(
            emb.filter(col("vec_id") < 10), emb, "vec_id", "embedding", 5,
            bits = 4, tables = 8)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(lshOracle)),

    // Recall@5 of the IVF search with the DETERMINISTIC corpus-sampled
    // codebook (nlist derived from the corpus count, nprobe 4) against
    // the exact brute-force top-5 — the whole approximate search is a
    // pure function of the data, so the recall number itself is
    // oracle-checked end to end (cell assignment, probing, candidate
    // join, re-rank). The LSH variant shares the exact re-rank; the
    // recall floors of both are pinned by SimilaritySpec.
    QueryDef(
      "q_ann_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
        Similarity.recallAtK(
          Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5),
          Similarity.ivfTopKSampledCodebook(
            queries, emb, "vec_id", "embedding", 5,
            nprobe = 4))
      },
      Some(s"""
        WITH $ivfAssignDerivedCtes,
        -- exact top-5 per query (vec_id < 10), rounded-then-ranked
        edots AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(q.x * c.x) AS d
          FROM dims q JOIN dims c ON q.i = c.i
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
          GROUP BY 1, 2),
        escored AS (
          SELECT query_id, neighbor_id,
                 ROUND(d / (nq.nrm * nc.nrm), 6) AS cosine
          FROM edots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nc ON nc.vec_id = neighbor_id),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rk
            FROM escored) WHERE rk <= 5),
        -- queries probe their 4 nearest cells (queries are corpus rows,
        -- so their centroid cosines are already in asim)
        probes AS (
          SELECT nid AS query_id, cell FROM (
            SELECT nid, cell,
                   ROW_NUMBER() OVER (PARTITION BY nid
                                      ORDER BY csim DESC, cell) AS rn
            FROM asim WHERE nid < 10) WHERE rn <= 4),
        acand AS (
          SELECT p.query_id, a.nid AS neighbor_id
          FROM probes p JOIN asg a ON a.cell = p.cell
          WHERE a.nid <> p.query_id),
        pdots AS (
          SELECT c.query_id, c.neighbor_id, sum(qd.x * nd.x) AS d
          FROM acand c
          JOIN dims qd ON qd.vec_id = c.query_id
          JOIN dims nd ON nd.vec_id = c.neighbor_id AND nd.i = qd.i
          GROUP BY 1, 2),
        pscored AS (
          SELECT query_id, neighbor_id,
                 ROUND(d / (nq.nrm * nn.nrm), 6) AS cosine
          FROM pdots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nn ON nn.vec_id = neighbor_id),
        approx AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id) AS rk
            FROM pscored) WHERE rk <= 5)
        SELECT e.query_id,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS recall
        FROM exact e
        LEFT JOIN approx a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY 1
        ORDER BY 1
      """)),

    // Derived-nlist AT-SCALE witness (VERDICT r14 #8): at the stock
    // bench scale factors the embeddings table is small enough that
    // derivedNlist lands on its 16-cell floor, so the r14 fixed→
    // derived migration was invisible to the bench. This entry
    // expands the corpus 8× with deterministic circular rotations
    // (norm-preserving, direction-changing, exactly SQL-replayable:
    // no arithmetic touches the float values) — sf0.1: 2,000 →
    // 16,000 rows, nlist = ceil(16000/128) = 125; even the sf0.01
    // verify corpus (4,000) derives 32, above the floor — and
    // returns the scale ledger itself: corpus size, derived nlist,
    // the CANDIDATE-PAIR count of the probed search (the quantity
    // the derivation keeps ~nprobe·targetCellRows per query instead
    // of growing with n), and a checksum over the ranked output that
    // forces the full probe → candidate-join → re-rank pipeline.
    QueryDef(
      "q_ann_ivf_scale",
      (s, dir) => {
        val base = Tables.embeddings(s, dir)
        val d = size(col("embedding"))
        val corpus = base
          .select(col("vec_id"), col("embedding"),
            explode(sequence(lit(0), lit(7))).as("c"))
          .select((col("vec_id") * 8 + col("c")).as("vec_id"),
            when(col("c") === 0, col("embedding"))
              .otherwise(concat(
                slice(col("embedding"), col("c") + lit(1), d - col("c")),
                slice(col("embedding"), lit(1), col("c"))))
              .as("embedding"))
        val queries =
          corpus.filter(col("vec_id") < 80 &&
            pmod(col("vec_id"), lit(8)) === 0)
        val ranked = Similarity.ivfTopKSampledCodebook(
          queries, corpus, "vec_id", "embedding", 10, nprobe = 4)
        val searchAgg = ranked.agg(
          count(lit(1)).as("n_results"),
          sum(col("neighbor_id") * col("rank")).cast("long")
            .as("rank_checksum"))
        // candidate-pair ledger: replay the probe selection against
        // the same deterministic codebook and count the candidate
        // join (cells are disjoint, so each (query, neighbor) pair
        // appears at most once)
        val n = corpus.count()
        val nl = Similarity.derivedNlist(n)
        val centDf =
          Similarity.sampledCodebook(corpus, "vec_id", "embedding", nl)
        val assigned = Similarity.assignCellsSampledCodebook(
          corpus, "vec_id", "embedding", nl)
        val probes = queries
          .select(col("vec_id").cast("long").as("query_id"),
            col("embedding").as("qv"))
          .crossJoin(broadcast(centDf))
          .withColumn("csim", round(
            graft.functions.VectorFunctions.cosine(
              col("qv"), col("centroid")), 6))
          .groupBy(col("query_id"))
          .agg(graft.functions.top_k_by(col("csim"), col("cell"), 4)
            .as("top"))
          .select(col("query_id"), explode(col("top")).as("p"))
          .select(col("query_id"), col("p.id").as("cell"))
        val candAgg = probes
          .join(assigned.select(col("id").as("neighbor_id"), col("cell")),
            Seq("cell"))
          .filter(col("neighbor_id") =!= col("query_id"))
          .agg(count(lit(1)).as("n_candidates"))
        searchAgg.crossJoin(candAgg)
          .select(lit(n).as("n_corpus"), lit(nl.toLong).as("nlist"),
            col("n_candidates"), col("n_results"), col("rank_checksum"))
      },
      Some("""
        WITH corpus AS (
          SELECT vec_id * 8 + c AS vec_id,
                 CASE WHEN c = 0 THEN embedding
                      ELSE list_concat(embedding[c+1:], embedding[1:c])
                 END AS embedding
          FROM embeddings, range(0, 8) t(c)),
        dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM corpus),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm
                  FROM dims GROUP BY 1),
        cent AS (
          SELECT vec_id AS cell FROM (
            SELECT vec_id, ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
            FROM corpus)
          WHERE rn <= (SELECT GREATEST(16,
                         CAST(CEIL(count(*) / 128.0) AS BIGINT))
                       FROM corpus)),
        adots AS (
          SELECT v.vec_id AS nid, c.vec_id AS cell, sum(v.x * c.x) AS d
          FROM dims v
          JOIN dims c ON c.i = v.i
          JOIN cent ON c.vec_id = cent.cell
          GROUP BY 1, 2),
        asim AS (
          SELECT nid, cell, ROUND(d / (nv.nrm * nc.nrm), 6) AS csim
          FROM adots
          JOIN norms nv ON nv.vec_id = nid
          JOIN norms nc ON nc.vec_id = cell),
        asg AS (
          SELECT nid, cell FROM (
            SELECT nid, cell,
                   ROW_NUMBER() OVER (PARTITION BY nid
                                      ORDER BY csim DESC, cell) AS rn
            FROM asim) WHERE rn = 1),
        probes AS (
          SELECT nid AS query_id, cell FROM (
            SELECT nid, cell,
                   ROW_NUMBER() OVER (PARTITION BY nid
                                      ORDER BY csim DESC, cell) AS rn
            FROM asim WHERE nid < 80 AND nid % 8 = 0) WHERE rn <= 4),
        acand AS (
          SELECT p.query_id, a.nid AS neighbor_id
          FROM probes p JOIN asg a ON a.cell = p.cell
          WHERE a.nid <> p.query_id),
        pdots AS (
          SELECT c.query_id, c.neighbor_id, sum(qd.x * nd.x) AS d
          FROM acand c
          JOIN dims qd ON qd.vec_id = c.query_id
          JOIN dims nd ON nd.vec_id = c.neighbor_id AND nd.i = qd.i
          GROUP BY 1, 2),
        pscored AS (
          SELECT query_id, neighbor_id,
                 ROUND(d / (nq.nrm * nn.nrm), 6) AS cosine
          FROM pdots
          JOIN norms nq ON nq.vec_id = query_id
          JOIN norms nn ON nn.vec_id = neighbor_id),
        ranked AS (
          SELECT query_id, neighbor_id, rank FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY cosine DESC, neighbor_id)
                     AS rank
            FROM pscored) WHERE rank <= 10)
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM corpus) AS n_corpus,
          (SELECT CAST(count(*) AS BIGINT) FROM cent) AS nlist,
          (SELECT CAST(count(*) AS BIGINT) FROM acand) AS n_candidates,
          (SELECT CAST(count(*) AS BIGINT) FROM ranked) AS n_results,
          (SELECT CAST(SUM(neighbor_id * rank) AS BIGINT) FROM ranked)
            AS rank_checksum
      """)),

    // Matryoshka truncation recall: top-5 by the FIRST 16 of 64
    // embedding dims vs the full-dim exact top-5 — the evaluation
    // behind MRL-style dimension-adaptive retrieval ("how much
    // recall do I keep if I search on a 4x-cheaper prefix, before
    // re-ranking on full vectors?"). Both sides are the engine's own
    // brute-force kernel on the shared rounded-then-ranked cosine
    // lattice; the oracle replays the prefix with i <= 16.
    QueryDef(
      "q_ann_matryoshka",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
        def trunc(df: org.apache.spark.sql.DataFrame) =
          df.withColumn("embedding", expr("slice(embedding, 1, 16)"))
        Similarity.recallAtK(
          Similarity.bruteForceTopK(queries, emb,
            "vec_id", "embedding", 5),
          Similarity.bruteForceTopK(trunc(queries), trunc(emb),
            "vec_id", "embedding", 5))
      },
      Some("""
        WITH dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm
                  FROM dims GROUP BY 1),
        tnorms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm
                   FROM dims WHERE i <= 16 GROUP BY 1),
        edots AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(q.x * c.x) AS d
          FROM dims q JOIN dims c ON q.i = c.i
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
          GROUP BY 1, 2),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT e.query_id, e.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY e.query_id
                     ORDER BY ROUND(e.d / (nq.nrm * nc.nrm), 6) DESC,
                              e.neighbor_id) AS rk
            FROM edots e
            JOIN norms nq ON nq.vec_id = e.query_id
            JOIN norms nc ON nc.vec_id = e.neighbor_id)
          WHERE rk <= 5),
        tdots AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 sum(q.x * c.x) AS d
          FROM dims q JOIN dims c ON q.i = c.i AND c.i <= 16
          WHERE q.vec_id < 10 AND q.vec_id <> c.vec_id
            AND q.i <= 16
          GROUP BY 1, 2),
        trunc AS (
          SELECT query_id, neighbor_id FROM (
            SELECT t.query_id, t.neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY t.query_id
                     ORDER BY ROUND(t.d / (nq.nrm * nc.nrm), 6) DESC,
                              t.neighbor_id) AS rk
            FROM tdots t
            JOIN tnorms nq ON nq.vec_id = t.query_id
            JOIN tnorms nc ON nc.vec_id = t.neighbor_id)
          WHERE rk <= 5)
        SELECT e.query_id,
               CAST(sum(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(count(*) AS DOUBLE) AS recall
        FROM exact e
        LEFT JOIN trunc a
          ON a.query_id = e.query_id AND a.neighbor_id = e.neighbor_id
        GROUP BY 1
        ORDER BY 1
      """)),

    // Retrieval-quality metrics (MRR, NDCG@5) of the deterministic
    // IVF search against the exact top-5 — the evaluation harness for
    // the ANN surface, entirely on integer lattices: reciprocal ranks
    // in micros, NDCG discounts as shared integer nano constants
    // (generated from the SAME Scala values the operator uses — no
    // log() in either engine, so no libm-vs-JVM ulp exposure).
    QueryDef(
      "q_retrieval_metrics",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
        Similarity.retrievalMetrics(
          Similarity.bruteForceTopK(queries, emb, "vec_id", "embedding", 5),
          Similarity.ivfTopKSampledCodebook(
            queries, emb, "vec_id", "embedding", 5, nprobe = 4),
          5)
      },
      Some(retrievalMetricsOracle)),

  )
}
