package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sqlList
import graft.functions.{TextAnalysis, TextFunctions}
import graft.operators.{Dedup, Similarity}
import org.apache.spark.sql.functions._


/** Pure-move slice of [[ExtensionQueries]] (round 16, VERDICT r15 #5:
  * the 9,743-line file was 25% of the engine's merge surface).
  * PQ/IVFPQ, Naive Bayes, modal align, governance (k-anon/l-div, kappa, krippendorff, icc), format roundtrip, KMV, graph stats, DSIR.
  * Helpers live on ExtensionQueries as private[queries]; behavior is
  * byte-identical — the order of ExtensionQueries.all is preserved.
  */
private[queries] object ExtensionGovernanceQueries {
  import ExtensionQueries._

  val all: Seq[QueryDef] = Seq(
    // Product-quantization ADC search: corpus vectors collapse to m
    // sub-codebook codes; query scoring is m integer table lookups
    // summed (ProductQuantization scaladoc). Every subspace distance
    // snaps to the micro lattice BEFORE argmin/sum, so encode + rank
    // are long arithmetic and the oracle replays the whole chain —
    // sub-codebook sampling, encoding, distance tables, ADC rank.
    QueryDef(
      "q_ann_pq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.ProductQuantization.adcTopK(
            emb.filter(col("vec_id") < 10), emb,
            "vec_id", "embedding", k = 5, m = 8, ksub = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        $pqChainCtes,
        scored AS (
          SELECT q.id AS query_id, e.id AS neighbor_id,
                 CAST(SUM(q.dmicro) AS BIGINT) AS dist_micro
          FROM enc e
          JOIN sdist q ON q.j = e.j AND q.code = e.code
          WHERE q.id < 10 AND e.id <> q.id
          GROUP BY 1, 2),
        ranked AS (
          SELECT query_id, neighbor_id, dist_micro,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY dist_micro, neighbor_id)
                   AS rank
          FROM scored)
        SELECT query_id, neighbor_id, dist_micro, rank
        FROM ranked WHERE rank <= 5
        ORDER BY query_id, rank
      """)),

    // Honest accuracy accounting for the PQ path: recall@5 of ADC
    // against the exact L2 top-5 — the compression-vs-accuracy number
    // a deployment decision needs next to q_ann_recall's IVF figure.
    QueryDef(
      "q_ann_pq_recall",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        val queries = emb.filter(col("vec_id") < 10)
        Similarity.recallAtK(
          Similarity.euclideanTopK(queries, emb, "vec_id", "embedding", 5),
          graft.operators.ProductQuantization.adcTopK(
            queries, emb, "vec_id", "embedding", 5, m = 8, ksub = 16))
      },
      Some(s"""
        WITH dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        $pqChainCtes,
        ascored AS (
          SELECT q.id AS query_id, e.id AS neighbor_id,
                 CAST(SUM(q.dmicro) AS BIGINT) AS dist_micro
          FROM enc e
          JOIN sdist q ON q.j = e.j AND q.code = e.code
          WHERE q.id < 10 AND e.id <> q.id
          GROUP BY 1, 2),
        approx AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dist_micro, neighbor_id)
                     AS rank
            FROM ascored) WHERE rank <= 5),
        edist AS (
          SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                 CAST(ROUND(SUM((q.x - c.x) * (q.x - c.x)) * 1e6)
                   AS BIGINT) AS dmicro
          FROM dims q JOIN dims c ON c.i = q.i
          WHERE q.vec_id < 10 AND c.vec_id <> q.vec_id
          GROUP BY 1, 2),
        exact AS (
          SELECT query_id, neighbor_id FROM (
            SELECT query_id, neighbor_id,
                   ROW_NUMBER() OVER (PARTITION BY query_id
                                      ORDER BY dmicro, neighbor_id)
                     AS rank
            FROM edist) WHERE rank <= 5)
        SELECT e.query_id,
               CAST(SUM(CASE WHEN a.neighbor_id IS NOT NULL
                             THEN 1 ELSE 0 END) AS DOUBLE)
                 / CAST(COUNT(*) AS DOUBLE) AS recall
        FROM exact e
        LEFT JOIN approx a ON a.query_id = e.query_id
                          AND a.neighbor_id = e.neighbor_id
        GROUP BY 1 ORDER BY e.query_id
      """)),

    // IVF-PQ composition: candidates shrink to the query's nprobe
    // nearest cells (the corpus never full-scans per query), then
    // ADC integer scoring ranks them — the standard corpus-scale
    // search shape. Oracle = the proven IVF cell chain + the proven
    // PQ chain, composed.
    QueryDef(
      "q_ann_ivfpq",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.ProductQuantization.ivfPqTopK(
            emb.filter(col("vec_id") < 10), emb,
            "vec_id", "embedding", k = 5,
            nlist = 0, nprobe = 4, m = 8, ksub = 16)
          .orderBy(col("query_id"), col("rank"))
      },
      Some(s"""
        WITH $ivfAssignDerivedCtes,
        $pqChainCtes,
        probes AS (
          SELECT nid AS query_id, cell FROM (
            SELECT nid, cell,
                   ROW_NUMBER() OVER (PARTITION BY nid
                                      ORDER BY csim DESC, cell) AS rn
            FROM asim WHERE nid < 10) WHERE rn <= 4),
        cand AS (
          SELECT p.query_id, a.nid AS id
          FROM asg a JOIN probes p ON p.cell = a.cell
          WHERE a.nid <> p.query_id),
        pscored AS (
          SELECT c.query_id, c.id AS neighbor_id,
                 CAST(SUM(q.dmicro) AS BIGINT) AS dist_micro
          FROM cand c
          JOIN enc e ON e.id = c.id
          JOIN sdist q ON q.id = c.query_id AND q.j = e.j
                      AND q.code = e.code
          GROUP BY 1, 2),
        pranked AS (
          SELECT query_id, neighbor_id, dist_micro,
                 ROW_NUMBER() OVER (PARTITION BY query_id
                                    ORDER BY dist_micro, neighbor_id)
                   AS rank
          FROM pscored)
        SELECT query_id, neighbor_id, dist_micro, rank
        FROM pranked WHERE rank <= 5
        ORDER BY query_id, rank
      """)),

    // Plot-data sink (SURVEY §2.1 S5): the engine returns the data
    // BEHIND a plot — here a fixed-width histogram of document
    // lengths, the aggregate a length-distribution chart renders.
    QueryDef(
      "q_length_histogram",
      (s, dir) =>
        Tables.documents(s, dir)
          .groupBy((floor(col("n_chars") / 200) * 200).as("bin_lo"))
          .agg(count(lit(1)).as("n"),
            min(col("n_chars")).as("min_len"),
            max(col("n_chars")).as("max_len"))
          .orderBy(col("bin_lo")),
      Some("""
        SELECT (n_chars // 200) * 200 AS bin_lo,
               CAST(COUNT(*) AS BIGINT) AS n,
               MIN(n_chars) AS min_len, MAX(n_chars) AS max_len
        FROM documents
        GROUP BY 1 ORDER BY bin_lo
      """)),

    // ---- Model-based filtering: exact multinomial Naive Bayes ----
    // The deterministic analogue of the fastText classifier stage
    // (CCNet-style language/quality filtering): train on docs with
    // doc_id % 5 <> 0 (label = lang), score the HELD-OUT fifth — so
    // unseen test terms genuinely exercise the exact default-mass
    // path. All logs land on the integer micro-lattice and every
    // downstream op is integer-only (see NaiveBayes scaladoc), so
    // DuckDB replays the full train + classify chain bit-exactly.

    QueryDef(
      "q_nb_model",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val model = graft.operators.NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        model.classes
          .select(col("label").as("lang"), col("n_docs"), col("tokens"),
            col("prior_micro"), col("default_micro"))
          .orderBy(col("lang"))
      },
      Some(s"WITH $nbTrainCtes" + """
        SELECT label AS lang, n_docs, tokens, prior_micro, default_micro
        FROM classes
        ORDER BY lang
      """)),

    QueryDef(
      "q_nb_classify",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val test = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        val model = graft.operators.NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        graft.operators.NaiveBayes.classify(model, test, "doc_id", "text")
          .join(test.select(col("doc_id"), col("lang").as("actual")),
            "doc_id")
          .select(col("doc_id"), col("pred"), col("actual"),
            col("score_micro"))
          .orderBy(col("doc_id"))
      },
      Some(s"WITH $nbTrainCtes, ${nbClassifyCtesOver("doc_id % 5 = 0")}" + """
        SELECT b.doc_id, b.label AS pred, te.lang AS actual, b.score_micro
        FROM best b JOIN te USING (doc_id)
        WHERE b.rn = 1
        ORDER BY b.doc_id
      """)),

    QueryDef(
      "q_nb_confusion",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val test = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        val model = graft.operators.NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        graft.operators.NaiveBayes
          .confusion(model, test, "doc_id", "text", "lang")
          .orderBy(col("actual"), col("pred"))
      },
      Some(s"WITH $nbTrainCtes, ${nbClassifyCtesOver("doc_id % 5 = 0")}" + """
        SELECT te.lang AS actual, b.label AS pred, count(*) AS n
        FROM best b JOIN te USING (doc_id)
        WHERE b.rn = 1
        GROUP BY 1, 2
        ORDER BY actual, pred
      """)),

    // Cross-modal mutual-best alignment (LAION-style pair filter):
    // even vec_ids stand in for the image tower, odd for the text
    // tower; a pair survives only if each side is the other's top-1
    // cosine neighbor WITHIN the shared IVF-cell block
    // (ModalAlign.mutualTop1Blocked — the codebook over left ∪ right
    // here is the derived-nlist smallest-vec_ids codebook over ALL
    // of embeddings, so the oracle reuses the shared derived-nlist
    // assignment replay; no full-side broadcast anywhere in the
    // plan).
    QueryDef(
      "q_modal_align",
      (s, dir) => {
        val emb = Tables.embeddings(s, dir)
        graft.operators.ModalAlign.mutualTop1Blocked(
            emb.filter(pmod(col("vec_id"), lit(2L)) === 0),
            emb.filter(pmod(col("vec_id"), lit(2L)) === 1),
            "vec_id", "embedding")
          .orderBy(col("left_id"))
      },
      Some(s"""
        WITH $ivfAssignDerivedCtes,
        mpairs AS (
          SELECT l.nid AS left_id, r.nid AS right_id
          FROM asg l JOIN asg r ON l.cell = r.cell
          WHERE l.nid % 2 = 0 AND r.nid % 2 = 1),
        mdots AS (
          SELECT p.left_id, p.right_id, sum(dl.x * dr.x) AS d
          FROM mpairs p
          JOIN dims dl ON dl.vec_id = p.left_id
          JOIN dims dr ON dr.vec_id = p.right_id AND dr.i = dl.i
          GROUP BY 1, 2),
        mscored AS (
          SELECT left_id, right_id,
                 ROUND(d / (nl.nrm * nr.nrm), 6) AS cosine
          FROM mdots
          JOIN norms nl ON nl.vec_id = left_id
          JOIN norms nr ON nr.vec_id = right_id),
        l2r AS (
          SELECT left_id, right_id, cosine FROM (
            SELECT left_id, right_id, cosine,
                   ROW_NUMBER() OVER (PARTITION BY left_id
                                      ORDER BY cosine DESC, right_id) AS rn
            FROM mscored) WHERE rn = 1),
        r2l AS (
          SELECT left_id, right_id FROM (
            SELECT left_id, right_id,
                   ROW_NUMBER() OVER (PARTITION BY right_id
                                      ORDER BY cosine DESC, left_id) AS rn
            FROM mscored) WHERE rn = 1)
        SELECT l.left_id, l.right_id, l.cosine
        FROM l2r l
        JOIN r2l r ON r.left_id = l.left_id AND r.right_id = l.right_id
        ORDER BY l.left_id
      """)),

    // Join-key skew profile over orders.o_custkey — the measurement
    // that decides salting vs AQE before a big join. Integer-ppm
    // shares; the cumulative sum windows over the bounded top-20
    // frame only.
    QueryDef(
      "q_key_skew",
      (s, dir) =>
        graft.operators.DataQuality.keySkew(
          Tables.orders(s, dir), "o_custkey", 20),
      Some("""
        WITH c AS (
          SELECT o_custkey AS key, count(*) AS cnt FROM orders GROUP BY 1),
        t AS (SELECT CAST(sum(cnt) AS BIGINT) AS tot FROM c),
        top AS (
          SELECT key, cnt,
                 CAST((cnt * 1000000) // (SELECT tot FROM t) AS BIGINT)
                   AS share_ppm
          FROM c ORDER BY cnt DESC, key LIMIT 20)
        SELECT ROW_NUMBER() OVER (ORDER BY cnt DESC, key) AS rank,
               key, cnt, share_ppm,
               CAST(SUM(share_ppm) OVER (ORDER BY cnt DESC, key
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                 AS BIGINT) AS cum_share_ppm
        FROM top
        ORDER BY rank
      """)),

    // Exact join-size pre-flight from the two key histograms — the
    // blowup check BEFORE executing a corpus-scale equi-join
    // (DataQuality.joinCardinality scaladoc): orders ⋈ lineitem on
    // orderkey, without materializing a single joined row.
    QueryDef(
      "q_join_cardinality",
      (s, dir) =>
        graft.operators.DataQuality.joinCardinality(
          Tables.orders(s, dir), "o_orderkey",
          Tables.lineitem(s, dir), "l_orderkey"),
      Some("""
        WITH lc AS (
          SELECT o_orderkey AS k, count(*) AS c FROM orders
          WHERE o_orderkey IS NOT NULL GROUP BY 1),
        rc AS (
          SELECT l_orderkey AS k, count(*) AS c FROM lineitem
          WHERE l_orderkey IS NOT NULL GROUP BY 1),
        per AS (
          SELECT CAST(lc.c AS HUGEINT) * rc.c AS rows_
          FROM lc JOIN rc USING (k)),
        agg AS (
          SELECT CAST(count(*) AS BIGINT) AS n_keys,
                 CAST(SUM(rows_) AS BIGINT) AS join_rows,
                 CAST(MAX(rows_) AS BIGINT) AS max_key_rows
          FROM per)
        SELECT n_keys, join_rows, max_key_rows,
               CAST((max_key_rows * 1000000) // join_rows AS BIGINT)
                 AS max_share_ppm
        FROM agg
      """)),

    // kNN label-noise sweep: every labeled embedding re-predicted
    // from its 5 nearest other labeled rows (leave-one-out); rows
    // whose neighborhood outvotes the recorded label surface as
    // candidates for relabeling (KnnClassifier.labelNoise scaladoc).
    QueryDef(
      "q_label_noise",
      (s, dir) =>
        graft.operators.KnnClassifier.labelNoise(
          Tables.embeddings(s, dir), "vec_id", "embedding", "label", 5)
          .orderBy(col("vec_id")),
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
          WHERE q.vec_id <> c.vec_id
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
        SELECT w.query_id AS vec_id, e.label AS recorded,
               w.label AS predicted, w.votes, w.best_rank
        FROM win w JOIN embeddings e ON e.vec_id = w.query_id
        WHERE w.rn = 1 AND w.label <> e.label
        ORDER BY vec_id
      """)),

    // Compaction plan over documents partitioned by source: file
    // boundaries every 2k chars of exclusive per-source prefix (see
    // Compaction scaladoc) — the lakehouse small-file maintenance
    // pass, planned identically by both engines from pure integer
    // arithmetic.
    QueryDef(
      "q_compaction_plan",
      (s, dir) =>
        graft.operators.Compaction.plan(
            Tables.documents(s, dir), "source", "doc_id", "n_chars", 2000L)
          .orderBy(col("source"), col("file_idx")),
      Some("""
        WITH pre AS (
          SELECT source, doc_id, COALESCE(n_chars, 0) AS sz,
                 CAST(COALESCE(SUM(COALESCE(n_chars, 0)) OVER (
                   PARTITION BY source ORDER BY doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prefix
          FROM documents)
        SELECT source, CAST(prefix // 2000 AS BIGINT) AS file_idx,
               count(*) AS n_records, CAST(sum(sz) AS BIGINT) AS bytes
        FROM pre
        GROUP BY 1, 2
        ORDER BY source, file_idx
      """)),

    // Near-SUBSET dedup by containment |A∩B|/min(|A|,|B|): catches
    // the quoted-whole-inside-a-wrapper pairs a Jaccard threshold
    // keeps (see Dedup.containmentPairs scaladoc). Both metrics on
    // the 6-dp lattice so the output shows which criterion fired.
    QueryDef(
      "q_dedup_containment",
      (s, dir) =>
        Dedup.containmentPairs(
            Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3),
            minContainment = 0.9)
          .orderBy(col("id_a"), col("id_b")),
      Some(s"""
        WITH ${shingleCtes(3)},
        sizes AS (SELECT doc_id, count(*) n FROM grams GROUP BY 1),
        inter AS (
          SELECT a.doc_id id_a, b.doc_id id_b, count(*) i
          FROM grams a
          JOIN grams b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
          GROUP BY 1, 2),
        c AS (
          SELECT id_a, id_b,
                 ROUND(CAST(i AS DOUBLE)
                       / CAST(LEAST(sa.n, sb.n) AS DOUBLE), 6)
                   AS containment,
                 ROUND(CAST(i AS DOUBLE)
                       / CAST(sa.n + sb.n - i AS DOUBLE), 6) AS jaccard
          FROM inter
          JOIN sizes sa ON sa.doc_id = id_a
          JOIN sizes sb ON sb.doc_id = id_b)
        SELECT id_a, id_b, containment, jaccard
        FROM c WHERE containment >= 0.9
        ORDER BY id_a, id_b
      """)),

    // Tokenizer fertility per language: BPE-estimate tokens per
    // whitespace word — the multilingual-tokenizer health metric (a
    // lang whose fertility balloons is being shredded into bytes and
    // effectively taxed in context length). Integer-ppm ratio; one
    // aggregate over per-row codegen'd counts.
    QueryDef(
      "q_tokenizer_fertility",
      (s, dir) =>
        Tables.documents(s, dir)
          .select(col("lang"),
            size(TextFunctions.splitWords(col("text"))).cast("long")
              .as("ws"),
            TextAnalysis.bpeTokenEstimate(col("text")).cast("long")
              .as("bpe"))
          .groupBy(col("lang"))
          .agg(count(lit(1)).as("n_docs"), sum(col("ws")).as("ws_tokens"),
            sum(col("bpe")).as("bpe_tokens"))
          .select(col("lang"), col("n_docs"), col("ws_tokens"),
            col("bpe_tokens"),
            expr("(bpe_tokens * CAST(1000000 AS BIGINT)) div ws_tokens")
              .as("fertility_ppm"))
          .orderBy(col("lang")),
      Some(s"""
        WITH per AS (
          SELECT lang,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS ws,
                 CAST(len(regexp_extract_all(text,
                   '${TextAnalysis.bpePattern.replace("'", "''")}'))
                   AS BIGINT) AS bpe
          FROM documents)
        SELECT lang, count(*) AS n_docs,
               CAST(sum(ws) AS BIGINT) AS ws_tokens,
               CAST(sum(bpe) AS BIGINT) AS bpe_tokens,
               CAST((CAST(sum(bpe) AS BIGINT) * 1000000)
                    // CAST(sum(ws) AS BIGINT) AS BIGINT)
                 AS fertility_ppm
        FROM per GROUP BY 1
        ORDER BY lang
      """)),

    // Streaming model serving: the q_nb_classify model (fit offline
    // on the 4/5 train split) scores EVERY document as it streams in,
    // via the foreachBatch batch kernel — identical results to the
    // batch path by construction, micro-batching-invariant because
    // scores are integer-lattice (see StreamingOps.classifiedDocStream).
    QueryDef(
      "q_stream_classify",
      (s, dir) => graft.operators.Par.withTempStore("graft_stream_nb") { out =>
        val docs = Tables.documents(s, dir)
        val model = graft.operators.NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        graft.streaming.StreamingOps
          .classifiedDocStream(s, s"$dir/documents.parquet", model, out)
          .join(docs.select(col("doc_id"), col("lang").as("actual")),
            "doc_id")
          .select(col("doc_id"), col("pred"), col("actual"),
            col("score_micro"))
          .orderBy(col("doc_id"))
      },
      Some(s"WITH $nbTrainCtes, ${nbClassifyCtesOver("TRUE")}" + """
        SELECT b.doc_id, b.label AS pred, te.lang AS actual, b.score_micro
        FROM best b JOIN te USING (doc_id)
        WHERE b.rn = 1
        ORDER BY b.doc_id
      """)),

    // CDC MERGE: a four-part changeset (rev7 updates at seq 1,
    // rev21 re-updates at seq 2 proving last-writer-wins, seq-3
    // deletes for id%13, inserts cloned at id+100000) folds into the
    // documents snapshot. Output rows carry md5(text) so the hash
    // pins every surviving row image without dumping full texts.
    QueryDef(
      "q_apply_changes",
      (s, dir) => {
        val snap = Tables.documents(s, dir)
          .select(col("doc_id"), col("text"), col("source"))
        val changes =
          Tables.documents(s, dir).filter(pmod(col("doc_id"), lit(7L)) === 0)
            .select(col("doc_id"), lit(1L).as("seq"), lit("U").as("op"),
              concat(col("text"), lit(" rev7")).as("text"), col("source"))
          .unionByName(
            Tables.documents(s, dir)
              .filter(pmod(col("doc_id"), lit(21L)) === 0)
              .select(col("doc_id"), lit(2L).as("seq"), lit("U").as("op"),
                concat(col("text"), lit(" rev21")).as("text"),
                col("source")))
          .unionByName(
            Tables.documents(s, dir)
              .filter(pmod(col("doc_id"), lit(13L)) === 0)
              .select(col("doc_id"), lit(3L).as("seq"), lit("D").as("op"),
                lit(null).cast("string").as("text"),
                lit(null).cast("string").as("source")))
          .unionByName(
            Tables.documents(s, dir)
              .filter(pmod(col("doc_id"), lit(97L)) === 0)
              .select((col("doc_id") + 100000L).as("doc_id"),
                lit(1L).as("seq"), lit("I").as("op"), col("text"),
                col("source")))
        graft.operators.ChangeApply
          .applyChangeset(snap, changes, "doc_id", "seq", "op")
          .select(col("doc_id"), md5(col("text")).as("text_md5"),
            col("source"))
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH changes AS (
          SELECT doc_id, 1 AS seq, 'U' AS op, text || ' rev7' AS text,
                 source
          FROM documents WHERE doc_id % 7 = 0
          UNION ALL
          SELECT doc_id, 2, 'U', text || ' rev21', source
          FROM documents WHERE doc_id % 21 = 0
          UNION ALL
          SELECT doc_id, 3, 'D', NULL, NULL
          FROM documents WHERE doc_id % 13 = 0
          UNION ALL
          SELECT doc_id + 100000, 1, 'I', text, source
          FROM documents WHERE doc_id % 97 = 0),
        last AS (
          SELECT doc_id, op, text, source FROM (
            SELECT doc_id, op, text, source,
                   ROW_NUMBER() OVER (PARTITION BY doc_id
                                      ORDER BY seq DESC, op) AS rn
            FROM changes) WHERE rn = 1),
        final AS (
          SELECT s.doc_id, s.text, s.source
          FROM documents s
          LEFT JOIN last l ON l.doc_id = s.doc_id
          WHERE l.doc_id IS NULL
          UNION ALL
          SELECT doc_id, text, source FROM last WHERE op IN ('I', 'U'))
        SELECT doc_id, md5(text) AS text_md5, source
        FROM final
        ORDER BY doc_id
      """)),

    // Largest-remainder apportionment of a 97-doc eval budget across
    // sources (prime budget → remainders genuinely decide seats).
    // Pure integer arithmetic end-to-end; Σquota = 97 exactly, which
    // independent per-source rounding cannot guarantee.
    QueryDef(
      "q_eval_allocation",
      (s, dir) =>
        graft.operators.Apportionment.largestRemainder(
            Tables.documents(s, dir).groupBy(col("source"))
              .agg(count(lit(1)).as("n_docs")),
            "source", "n_docs", budget = 97L)
          .orderBy(col("source")),
      Some("""
        WITH w AS (
          SELECT source, count(*) AS n_docs FROM documents GROUP BY 1),
        t AS (SELECT CAST(sum(n_docs) AS BIGINT) AS tot FROM w),
        based AS (
          SELECT source, n_docs,
                 CAST((n_docs * 97) // (SELECT tot FROM t) AS BIGINT)
                   AS fl,
                 CAST(n_docs * 97
                      - ((n_docs * 97) // (SELECT tot FROM t))
                        * (SELECT tot FROM t) AS BIGINT) AS rem
          FROM w),
        lv AS (SELECT 97 - CAST(sum(fl) AS BIGINT) AS leftover FROM based),
        rk AS (
          SELECT source, n_docs, fl, rem,
                 ROW_NUMBER() OVER (ORDER BY rem DESC, source) AS rnk
          FROM based)
        SELECT source, n_docs,
               fl + CASE WHEN rnk <= (SELECT leftover FROM lv)
                         THEN 1 ELSE 0 END AS quota
        FROM rk
        ORDER BY source
      """)),

    // k-anonymity audit over (nation, segment, banded balance):
    // quasi-identifier tuples shared by fewer than 3 customers are
    // re-identification risks. The balance band floors scaled integer
    // cents (explicit FLOOR, not integer div — balances go negative
    // and div-vs-// truncation direction differs across engines).
    QueryDef(
      "q_k_anonymity",
      (s, dir) =>
        graft.operators.DataQuality.kAnonymityViolations(
            Tables.customer(s, dir)
              .select(col("c_nationkey"), col("c_mktsegment"),
                floor((col("c_acctbal") * 100).cast("long") /
                  lit(200000.0)).as("bal_band")),
            Seq("c_nationkey", "c_mktsegment", "bal_band"), k = 3)
          .orderBy(col("c_nationkey"), col("c_mktsegment"),
            col("bal_band")),
      Some("""
        SELECT c_nationkey, c_mktsegment,
               CAST(FLOOR(CAST(CAST(c_acctbal * 100 AS BIGINT) AS DOUBLE)
                          / 200000.0) AS BIGINT) AS bal_band,
               count(*) AS n
        FROM customer
        GROUP BY 1, 2, 3
        HAVING count(*) < 3
        ORDER BY c_nationkey, c_mktsegment, bal_band
      """)),

    // l-diversity companion audit: QI groups that are k-large can
    // still leak when every member shares one sensitive value — flag
    // groups whose sensitive column (market segment) has < 2 distinct
    // values within (nation, balance band).
    QueryDef(
      "q_l_diversity",
      (s, dir) =>
        graft.operators.DataQuality.lDiversityViolations(
            Tables.customer(s, dir)
              .select(col("c_nationkey"), col("c_mktsegment"),
                floor((col("c_acctbal") * 100).cast("long") /
                  lit(200000.0)).as("bal_band")),
            Seq("c_nationkey", "bal_band"), "c_mktsegment", l = 2)
          .orderBy(col("c_nationkey"), col("bal_band")),
      Some("""
        SELECT c_nationkey,
               CAST(FLOOR(CAST(CAST(c_acctbal * 100 AS BIGINT) AS DOUBLE)
                          / 200000.0) AS BIGINT) AS bal_band,
               CAST(count(*) AS BIGINT) AS n,
               CAST(count(DISTINCT c_mktsegment) AS BIGINT) AS n_distinct
        FROM customer
        GROUP BY 1, 2
        HAVING count(DISTINCT c_mktsegment) < 2
        ORDER BY c_nationkey, bal_band
      """)),

    // Annotator agreement: Cohen's κ of the NB classifier against
    // the true lang label on the held-out fifth — the
    // chance-corrected label-quality gate (Agreement scaladoc).
    // Integer numerators/denominators end-to-end; the single κ
    // division rounds the same exact double in both engines.
    QueryDef(
      "q_cohens_kappa",
      (s, dir) => {
        val docs = Tables.documents(s, dir)
        val test = docs.filter(pmod(col("doc_id"), lit(5L)) === 0)
        val model = graft.operators.NaiveBayes.fit(
          docs.filter(pmod(col("doc_id"), lit(5L)) =!= 0), "text", "lang")
        val labeled = graft.operators.NaiveBayes
          .classify(model, test, "doc_id", "text")
          .join(test.select(col("doc_id"), col("lang").as("actual")),
            "doc_id")
        graft.operators.Agreement.cohensKappa(labeled, "pred", "actual")
      },
      Some(s"WITH $nbTrainCtes, ${nbClassifyCtesOver("doc_id % 5 = 0")}," +
        """
        pairs AS (
          SELECT b.label AS pa, te.lang AS pb, count(*) AS c
          FROM best b JOIN te USING (doc_id)
          WHERE b.rn = 1
          GROUP BY 1, 2),
        tot AS (
          SELECT CAST(sum(c) AS BIGINT) AS n,
                 CAST(sum(CASE WHEN pa = pb THEN c ELSE 0 END) AS BIGINT)
                   AS agree
          FROM pairs),
        rt AS (SELECT pa AS l, CAST(sum(c) AS BIGINT) AS ra
               FROM pairs GROUP BY 1),
        ct AS (SELECT pb AS l, CAST(sum(c) AS BIGINT) AS rb
               FROM pairs GROUP BY 1),
        pe AS (SELECT CAST(COALESCE(sum(ra * rb), 0) AS BIGINT) AS p
               FROM rt JOIN ct USING (l))
        SELECT tot.n, tot.agree,
               CAST((tot.agree * 1000000) // tot.n AS BIGINT) AS po_ppm,
               CAST((pe.p * 1000000) // (tot.n * tot.n) AS BIGINT)
                 AS pe_ppm,
               CAST(ROUND(CAST(tot.n * tot.agree - pe.p AS DOUBLE)
                          / CAST(tot.n * tot.n - pe.p AS DOUBLE)
                          * 1000000.0) AS BIGINT) AS kappa_ppm
        FROM tot CROSS JOIN pe
      """)),

    // Krippendorff's alpha per language over a 3-annotator quality
    // panel (two threshold annotators at 300/280 chars plus a noisy
    // hash-driven one that ABSTAINS on every 11th doc) — the
    // agreement coefficient that handles what Cohen's κ cannot:
    // any number of raters and missing ratings, with units keeping
    // whatever ratings they have. Per-unit disagreement rides the
    // kruskal div+remnano lattice, the expected-disagreement
    // denominator is an exact DECIMAL integer, one IEEE sequence
    // forms α (Agreement.krippendorffAlpha scaladoc).
    QueryDef(
      "q_krippendorff",
      (s, dir) =>
        graft.operators.Agreement.krippendorffAlpha(
            Tables.documents(s, dir)
              .select(col("lang"), col("doc_id"),
                expr("""stack(3,
                  CASE WHEN n_chars >= 300 THEN 'good' ELSE 'bad' END,
                  CASE WHEN n_chars >= 280 THEN 'good' ELSE 'bad' END,
                  CASE WHEN doc_id % 11 = 0 THEN NULL
                       WHEN (n_chars + doc_id) % 97 >= 30 THEN 'good'
                       ELSE 'bad' END) AS (label)""")),
            "lang", "doc_id", "label")
          .orderBy(col("lang")),
      Some("""
        WITH r0 AS (
          SELECT lang, doc_id,
                 CASE WHEN n_chars >= 300 THEN 'good' ELSE 'bad' END
                   AS l
          FROM documents
          UNION ALL
          SELECT lang, doc_id,
                 CASE WHEN n_chars >= 280 THEN 'good' ELSE 'bad' END
          FROM documents
          UNION ALL
          SELECT lang, doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN NULL
                      WHEN (n_chars + doc_id) % 97 >= 30 THEN 'good'
                      ELSE 'bad' END
          FROM documents),
        r AS (SELECT * FROM r0 WHERE l IS NOT NULL),
        pul AS (
          SELECT lang, doc_id, l, CAST(count(*) AS BIGINT) AS nuc
          FROM r GROUP BY 1, 2, 3),
        pu AS (
          SELECT lang, doc_id, CAST(SUM(nuc) AS BIGINT) AS mu
          FROM pul GROUP BY 1, 2 HAVING SUM(nuc) >= 2),
        kept AS (
          SELECT pul.*, pu.mu FROM pul JOIN pu USING (lang, doc_id)),
        ud AS (
          SELECT lang, doc_id, MAX(mu) AS mu,
                 CAST(SUM(nuc * (mu - nuc)) AS BIGINT) AS tu
          FROM kept GROUP BY 1, 2),
        noo AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_units,
                 CAST(SUM(mu) AS BIGINT) AS n_ratings,
                 CAST(SUM(CAST((tu - tu % (mu - 1)) // (mu - 1)
                     AS HUGEINT)) AS DOUBLE) AS qsum_d,
                 CAST(SUM(CAST(ROUND(CAST(tu % (mu - 1) AS DOUBLE)
                     / CAST(mu - 1 AS DOUBLE) * 1e9) AS BIGINT))
                   AS BIGINT) AS remsum
          FROM ud GROUP BY 1),
        cat AS (
          SELECT lang, l, CAST(SUM(nuc) AS BIGINT) AS nc
          FROM kept GROUP BY 1, 2),
        dee AS (
          SELECT cat.lang, CAST(count(*) AS BIGINT) AS k_categories,
                 SUM(CAST(nc AS HUGEINT) * (noo.n_ratings - nc)) AS de
          FROM cat JOIN noo USING (lang)
          GROUP BY 1)
        SELECT noo.lang, noo.n_units, noo.n_ratings, dee.k_categories,
               CAST(ROUND((1.0
                   - (CAST(noo.n_ratings AS DOUBLE) - 1.0)
                     * (noo.qsum_d + CAST(noo.remsum AS DOUBLE) / 1e9)
                     / CAST(dee.de AS DOUBLE))
                 * 1000000.0) AS BIGINT) AS alpha_micro
        FROM noo JOIN dee USING (lang)
        WHERE noo.n_units >= 2 AND dee.de > 0
        ORDER BY noo.lang
      """)),

    // ICC(1) per language over a 3-annotator CONTINUOUS score panel
    // (two offset annotators plus a hash-noised one that abstains on
    // every 11th doc — the same missingness pattern as
    // q_krippendorff, here exercising the unbalanced one-way form):
    // what fraction of score variance is between the rated docs
    // rather than rater noise — the continuous-ratings agreement
    // coefficient completing kappa/alpha/W. Exact per-unit (k, S)
    // integers, ΣS²/k on the div+remnano lattice, DECIMAL ΣX², one
    // IEEE sequence for ICC (Agreement.icc1 scaladoc).
    QueryDef(
      "q_icc",
      (s, dir) =>
        graft.operators.Agreement.icc1(
            Tables.documents(s, dir)
              .select(col("lang"), col("doc_id"),
                expr("""stack(3,
                  n_chars,
                  n_chars + 10,
                  CASE WHEN doc_id % 11 = 0 THEN CAST(NULL AS BIGINT)
                       ELSE n_chars + doc_id % 37 END) AS (score)""")),
            "lang", "doc_id", "score")
          .orderBy(col("lang")),
      Some("""
        WITH r0 AS (
          SELECT lang, doc_id, n_chars AS x FROM documents
          UNION ALL
          SELECT lang, doc_id, n_chars + 10 FROM documents
          UNION ALL
          SELECT lang, doc_id,
                 CASE WHEN doc_id % 11 = 0 THEN NULL
                      ELSE n_chars + doc_id % 37 END
          FROM documents),
        r AS (SELECT * FROM r0 WHERE x IS NOT NULL),
        pu AS (
          SELECT lang, doc_id, CAST(count(*) AS BIGINT) AS k,
                 CAST(SUM(x) AS BIGINT) AS s
          FROM r GROUP BY 1, 2),
        lat AS (
          SELECT lang, k,
                 (s * s) // k AS q,
                 CAST(ROUND(CAST((s * s) % k AS DOUBLE)
                      / CAST(k AS DOUBLE) * 1e9) AS BIGINT) AS remnano
          FROM pu),
        un AS (
          SELECT lang, CAST(count(*) AS BIGINT) AS n_units,
                 CAST(SUM(k) AS BIGINT) AS n_ratings,
                 CAST(SUM(CAST(k AS HUGEINT) * k) AS DOUBLE) AS sk2d,
                 CAST(SUM(CAST(q AS HUGEINT)) AS DOUBLE) AS qsum_d,
                 CAST(SUM(remnano) AS BIGINT) AS remsum
          FROM lat GROUP BY 1),
        tt AS (
          SELECT lang, CAST(SUM(x) AS BIGINT) AS t,
                 CAST(SUM(CAST(x AS HUGEINT) * x) AS DOUBLE) AS sxxd
          FROM r GROUP BY 1),
        cc AS (
          SELECT un.lang, un.n_units, un.n_ratings,
                 ((qsum_d + CAST(remsum AS DOUBLE) / 1e9)
                  - CAST(t AS DOUBLE) * CAST(t AS DOUBLE)
                    / CAST(n_ratings AS DOUBLE))
                 / (CAST(n_units AS DOUBLE) - 1.0) AS msb,
                 (sxxd - (qsum_d + CAST(remsum AS DOUBLE) / 1e9))
                 / (CAST(n_ratings AS DOUBLE)
                    - CAST(n_units AS DOUBLE)) AS msw,
                 (CAST(n_ratings AS DOUBLE)
                  - sk2d / CAST(n_ratings AS DOUBLE))
                 / (CAST(n_units AS DOUBLE) - 1.0) AS n0
          FROM un JOIN tt USING (lang)
          WHERE n_units >= 2 AND n_ratings > n_units)
        SELECT lang, n_units, n_ratings,
               CAST(ROUND((msb - msw)
                    / (msb + (n0 - 1.0) * msw) * 1e6) AS BIGINT)
                 AS icc_micro
        FROM cc
        WHERE msb + (n0 - 1.0) * msw > 0
        ORDER BY lang
      """)),

    // Isotonic (PAV) calibration of the length→quality curve per
    // language: raw per-bin 'contains data' rates wobble; the
    // monotone least-squares projection is what a pipeline trusts as
    // P(positive | length bin). Computed by the minimax closed form
    // ŷᵢ = max_{j≤i} min_{k≥i} mean(j..k) over the BIN table — bins
    // are a calibration artifact (13 per language here), so the
    // O(B³) enumeration is fixed-cost no matter the corpus size;
    // range means are single IEEE divisions of exact prefix-sum
    // integers (Calibration.isotonicBins scaladoc).
    QueryDef(
      "q_isotonic",
      (s, dir) =>
        graft.operators.Calibration.isotonicBins(
            Tables.documents(s, dir)
              .groupBy(col("lang"), expr("n_chars div 40").as("bin"))
              .agg(count(lit(1)).as("n"),
                sum(when(col("text").like("%data%"), 1L).otherwise(0L))
                  .as("pos")),
            "lang", "bin", "n", "pos")
          .orderBy(col("lang"), col("bin")),
      Some("""
        WITH bins AS (
          SELECT lang, n_chars // 40 AS bin,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(SUM(CASE WHEN text LIKE '%data%' THEN 1
                          ELSE 0 END) AS BIGINT) AS pos
          FROM documents GROUP BY 1, 2),
        bp AS (
          SELECT lang, bin, n, pos,
                 SUM(n) OVER w AS cn, SUM(pos) OVER w AS cp
          FROM bins
          WINDOW w AS (PARTITION BY lang ORDER BY bin
                       ROWS UNBOUNDED PRECEDING)),
        ranges AS (
          SELECT s.lang, s.bin AS j, e.bin AS k,
                 CAST(e.cp - (s.cp - s.pos) AS DOUBLE)
                   / CAST(e.cn - (s.cn - s.n) AS DOUBLE) AS mn
          FROM bp s JOIN bp e
            ON e.lang = s.lang AND s.bin <= e.bin),
        im AS (
          SELECT r.lang, b.bin AS i, r.j, MIN(r.mn) AS lo
          FROM ranges r JOIN bins b
            ON b.lang = r.lang AND r.j <= b.bin AND b.bin <= r.k
          GROUP BY 1, 2, 3),
        iso AS (
          SELECT lang, i AS bin, MAX(lo) AS iso FROM im GROUP BY 1, 2)
        SELECT b.lang, b.bin, b.n, b.pos,
               CAST((b.pos * 1000000) // b.n AS BIGINT) AS raw_ppm,
               CAST(ROUND(iso.iso * 1000000.0) AS BIGINT) AS iso_ppm
        FROM bins b JOIN iso USING (lang, bin)
        ORDER BY b.lang, b.bin
      """)),

    // Exact WEIGHTED quantiles per source — "the median document by
    // TOKEN MASS, not by document count": a handful of huge docs can
    // carry most of the training tokens while the unweighted median
    // looks reassuring. Weighted lower order statistics pinned by
    // integral cross-multiplied thresholds (cumW·10⁶ ≥ W·q_ppm) over
    // a distinct-value cumulative window — never a row-level sort of
    // the corpus (RobustStats.weightedQuantiles scaladoc).
    QueryDef(
      "q_weighted_quantiles",
      (s, dir) =>
        graft.operators.RobustStats.weightedQuantiles(
            Tables.documents(s, dir)
              .select(col("source"), col("n_chars"),
                size(split(col("text"), " ")).cast("long").as("toks")),
            "source", "n_chars", "toks",
            Seq(500000L, 900000L, 990000L))
          .orderBy(col("source")),
      Some("""
        WITH r AS (
          SELECT source, n_chars AS x,
                 CAST(len(string_split(text, ' ')) AS BIGINT) AS w
          FROM documents),
        bv AS (
          SELECT source, x, CAST(SUM(w) AS BIGINT) AS wv
          FROM r GROUP BY 1, 2),
        cum AS (
          SELECT source, x,
                 SUM(wv) OVER (PARTITION BY source ORDER BY x
                               ROWS UNBOUNDED PRECEDING) AS cw,
                 SUM(wv) OVER (PARTITION BY source) AS wt
          FROM bv),
        q50 AS (SELECT source, MIN(x) AS q_500000 FROM cum
                WHERE cw * 1000000 >= wt * 500000 GROUP BY 1),
        q90 AS (SELECT source, MIN(x) AS q_900000 FROM cum
                WHERE cw * 1000000 >= wt * 900000 GROUP BY 1),
        q99 AS (SELECT source, MIN(x) AS q_990000 FROM cum
                WHERE cw * 1000000 >= wt * 990000 GROUP BY 1),
        tot AS (SELECT source, CAST(SUM(w) AS BIGINT) AS w_total
                FROM r GROUP BY 1)
        SELECT tot.source, tot.w_total,
               q50.q_500000, q90.q_900000, q99.q_990000
        FROM tot
        JOIN q50 USING (source) JOIN q90 USING (source)
        JOIN q99 USING (source)
        ORDER BY tot.source
      """)),

    // Multi-format round-trip PROOF: documents written to JSON-lines,
    // ORC, and CSV, re-read with the pinned schema, and each leg
    // fingerprinted with the order-free XOR/SUM combiners — the
    // oracle is the fingerprint of the ORIGINAL table, so equality
    // is bit-level losslessness across all three formats, not a
    // smoke test (any null/empty collapse, numeric widening, or
    // encoding drift flips the hash). Each leg is one distributed
    // write + read + hash aggregate; no driver data path
    // (FormatRoundtrip scaladoc).
    QueryDef(
      "q_format_roundtrip",
      (s, dir) => graft.operators.Par.withTempStore("graft_fmt_rt") { base =>
        graft.sources.FormatRoundtrip.roundtripFingerprints(
            s, Tables.documents(s, dir), base,
            Seq("doc_id", "text", "lang", "source", "n_chars"))
          .orderBy(col("format"))
      },
      Some("""
        WITH h AS (
          SELECT CAST(concat('0x', substr(md5(
                   doc_id || chr(1) || text || chr(1) || lang
                     || chr(1) || source || chr(1) || n_chars),
                   1, 15)) AS BIGINT) AS h
          FROM documents),
        fp AS (
          SELECT COUNT(*) AS n_rows,
                 CAST(bit_xor(h) AS BIGINT) AS xor_sig,
                 CAST(CAST(SUM(CAST(h AS HUGEINT)) AS HUGEINT)
                      % 2305843009213693952 AS BIGINT) AS sum_sig
          FROM h)
        SELECT f.format, fp.n_rows, fp.xor_sig, fp.sum_sig
        FROM (SELECT unnest(['csv', 'json', 'orc']) AS format) f, fp
        ORDER BY f.format
      """)),

    // KMV sketch set operations across every source PAIR: distinct
    // vocabulary sizes, union/intersection estimates and Jaccard —
    // where q_source_overlap computes EXACT pair overlap via the
    // inverted index, this is the SKETCH path a curator runs when
    // the pair scan itself is too big: each source keeps only its
    // k = 128 smallest pinned-lattice hashes and every pair
    // statistic comes from merging k-row sketches (the pair table is
    // sketch-sized, never corpus-sized). Determinism over
    // approximation: the md5-prefix 60-bit hash makes the estimate a
    // pure function of the data — every cell rides the exact integer
    // div lattice, and sub-k sets degrade gracefully to exact counts
    // (KmvSketch scaladoc).
    QueryDef(
      "q_kmv_setops",
      (s, dir) =>
        graft.operators.KmvSketch.pairwiseSetOps(
            Tables.documents(s, dir)
              .select(col("source"),
                explode(split(col("text"), " ")).as("word"))
              .filter(col("word") =!= ""),
            "source", "word", k = 128)
          .orderBy(col("g1"), col("g2")),
      Some("""
        WITH h0 AS (
          SELECT DISTINCT source AS g,
                 CAST(concat('0x', substr(md5(word), 1, 15)) AS BIGINT)
                   AS h
          FROM (SELECT source, unnest(string_split(text, ' ')) AS word
                FROM documents)
          WHERE word <> ''),
        sk AS (
          SELECT g, h,
                 ROW_NUMBER() OVER (PARTITION BY g ORDER BY h) AS r
          FROM h0 QUALIFY r <= 128),
        ge AS (
          SELECT g,
                 CASE WHEN count(*) < 128 THEN CAST(count(*) AS BIGINT)
                      ELSE CAST(CAST('146421031085069565952' AS HUGEINT)
                           // MAX(CASE WHEN r = 128 THEN h END)
                           AS BIGINT) END AS est
          FROM sk GROUP BY g),
        gl AS (SELECT DISTINCT g FROM sk),
        cc AS (
          SELECT g1, g2, h, MAX(ina) AS ina, MAX(inb) AS inb
          FROM (
            SELECT s.g AS g1, g2.g AS g2, s.h, 1 AS ina, 0 AS inb
            FROM sk s JOIN gl g2 ON s.g < g2.g
            UNION ALL
            SELECT g1.g AS g1, s.g AS g2, s.h, 0 AS ina, 1 AS inb
            FROM sk s JOIN gl g1 ON g1.g < s.g)
          GROUP BY 1, 2, 3),
        u AS (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY g1, g2
                                       ORDER BY h) AS r
          FROM cc QUALIFY r <= 128),
        pp AS (
          SELECT g1, g2, CAST(count(*) AS BIGINT) AS m,
                 MAX(CASE WHEN r = 128 THEN h END) AS hk,
                 CAST(SUM(CASE WHEN ina = 1 AND inb = 1 THEN 1
                          ELSE 0 END) AS BIGINT) AS shared
          FROM u GROUP BY 1, 2),
        pe AS (
          SELECT g1, g2, m, shared,
                 CASE WHEN m < 128 THEN m
                      ELSE CAST(CAST('146421031085069565952' AS HUGEINT)
                           // hk AS BIGINT) END AS union_est
          FROM pp)
        SELECT pe.g1, pe.g2, ga.est AS est_1, gb.est AS est_2,
               pe.union_est, pe.shared,
               CAST(CASE WHEN pe.m < 128 THEN pe.shared
                    ELSE (pe.shared * pe.union_est) // 128 END
                 AS BIGINT) AS inter_est,
               CAST((pe.shared * 1000000) // pe.m AS BIGINT)
                 AS jaccard_ppm
        FROM pe
        JOIN ge ga ON ga.g = pe.g1
        JOIN ge gb ON gb.g = pe.g2
        ORDER BY pe.g1, pe.g2
      """)),

    // Feed-overlap governance: exact shingle-set Jaccard BETWEEN
    // SOURCES — "are two feeds scraping the same sites?" — by
    // re-keying the existing inverted-index Jaccard kernel on source
    // instead of doc (the corpus aggregates to |sources| shingle
    // sets; the pair join is source-pair-bounded).
    QueryDef(
      "q_source_overlap",
      (s, dir) =>
        // distinct: a shingle repeated across a source's docs must
        // count once in the source's SET (per-doc shingleSets are
        // doc-distinct, not source-distinct)
        Dedup.jaccardPairs(
            Dedup.shingleSets(
              Tables.documents(s, dir).select(col("source"),
                TextFunctions.splitWords(col("text")).as("tokens")),
              "source", "tokens", 3).distinct(),
            minJaccard = 0.03)
          .select(col("id_a").as("src_a"), col("id_b").as("src_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("src_a"), col("src_b")),
      Some(s"""
        WITH words AS (
          SELECT source, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos,
                 doc_id
          FROM documents),
        sh0 AS (
          SELECT source,
                 word || ' ' || lead(word, 1) OVER w || ' '
                   || lead(word, 2) OVER w AS shingle
          FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        grams AS (
          SELECT DISTINCT source, shingle FROM sh0
          WHERE shingle IS NOT NULL),
        sizes AS (SELECT source, count(*) n FROM grams GROUP BY 1),
        inter AS (
          SELECT a.source AS src_a, b.source AS src_b, count(*) i
          FROM grams a
          JOIN grams b ON a.shingle = b.shingle AND a.source < b.source
          GROUP BY 1, 2),
        j AS (
          SELECT src_a, src_b,
                 CAST(i AS DOUBLE) / CAST(sa.n + sb.n - i AS DOUBLE)
                   AS jac
          FROM inter
          JOIN sizes sa ON sa.source = src_a
          JOIN sizes sb ON sb.source = src_b)
        SELECT src_a, src_b, ROUND(jac, 6) AS jaccard
        FROM j WHERE jac >= 0.03
        ORDER BY src_a, src_b
      """)),

    // Winsorized per-group price stats: clip to the group's own
    // [p05, p95] then average — the robust-mean treatment for
    // heavy-tailed metrics. Percentile boundaries snap straight to
    // the integer micro lattice; everything downstream is integer
    // (RobustStats scaladoc).
    QueryDef(
      "q_winsorize",
      (s, dir) =>
        graft.operators.RobustStats.winsorizedMean(
            Tables.lineitem(s, dir)
              .select(col("l_returnflag"), col("l_extendedprice")),
            "l_returnflag", "l_extendedprice", 0.05, 0.95)
          .orderBy(col("l_returnflag")),
      Some("""
        WITH b AS (
          SELECT l_returnflag,
                 CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE),
                   0.05) * 1000000.0) AS BIGINT) AS lo_micro,
                 CAST(ROUND(quantile_cont(CAST(l_extendedprice AS DOUBLE),
                   0.95) * 1000000.0) AS BIGINT) AS hi_micro
          FROM lineitem GROUP BY 1),
        v AS (
          SELECT l.l_returnflag, b.lo_micro, b.hi_micro,
                 CAST(l.l_extendedprice * 1000000 AS BIGINT) AS x,
                 GREATEST(b.lo_micro, LEAST(b.hi_micro,
                   CAST(l.l_extendedprice * 1000000 AS BIGINT))) AS cv
          FROM lineitem l JOIN b ON b.l_returnflag = l.l_returnflag)
        SELECT l_returnflag, count(*) AS n, lo_micro, hi_micro,
               CAST(sum(CASE WHEN x < lo_micro THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_lo,
               CAST(sum(CASE WHEN x > hi_micro THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_hi,
               CAST(CAST(sum(cv) AS HUGEINT) // count(*) AS BIGINT)
                 AS wmean_micro
        FROM v
        GROUP BY l_returnflag, lo_micro, hi_micro
        ORDER BY l_returnflag
      """)),

    // Greedy token-budget selection via the distributed prefix-sum
    // primitive: take documents in quality order until 10k BPE
    // tokens are spent. `prefix < budget` IS the greedy take — the
    // GlobalScan two-pass scan replaces the single-partition
    // SUM OVER (ORDER BY) cliff, and the oracle replays that naive
    // window, proving the scale-safe plan computes the identical
    // scan (the GlobalIds verification pattern, lifted to values).
    QueryDef(
      "q_budget_select",
      (s, dir) => {
        val d = Tables.documents(s, dir).select(col("doc_id"),
          round(TextAnalysis.qualityScore(col("text")) * lit(1e6))
            .cast("long").as("q_micro"),
          TextAnalysis.bpeTokenEstimate(col("text")).cast("long")
            .as("toks"))
          .withColumn("neg_q", negate(col("q_micro")))
        graft.operators.GlobalScan
          .withPrefixSum(d, Seq("neg_q", "doc_id"), "toks", "prefix")
          .filter(col("prefix") < 10000)
          .select(col("doc_id"), col("q_micro"), col("toks"),
            col("prefix"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH parts AS (
          SELECT doc_id,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0)
                   AS len_score,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE)
                   AS diversity,
                 abs(CAST(len(list_filter(string_split(text, ' '),
                         w -> w IN (${sqlList(TextFunctions.snowballStopWords)}))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.4)
                   AS stop_penalty,
                 CAST(length(text) - length(regexp_replace(text,
                   '[^\\p{L}\\p{N} ]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) AS punct
          FROM documents),
        q AS (
          SELECT doc_id,
                 CAST(ROUND(ROUND(len_score * 0.3 + diversity * 0.3 +
                   (1.0 - stop_penalty) * 0.3 + (1.0 - punct) * 0.1, 6)
                   * 1000000.0) AS BIGINT) AS q_micro
          FROM parts),
        d AS (
          SELECT q.doc_id, q.q_micro,
                 CAST(len(regexp_extract_all(text,
                   '${TextAnalysis.bpePattern.replace("'", "''")}'))
                   AS BIGINT) AS toks
          FROM q JOIN documents USING (doc_id)),
        p AS (
          SELECT doc_id, q_micro, toks,
                 CAST(COALESCE(SUM(toks) OVER (
                   ORDER BY q_micro DESC, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
                   AS BIGINT) AS prefix
          FROM d)
        SELECT doc_id, q_micro, toks, prefix
        FROM p WHERE prefix < 10000
        ORDER BY doc_id
      """)),

    // Fuzzy (edit-distance) self-join over the part-name domain —
    // entity resolution's candidate-generate/verify kernel. The
    // operator blocks on positional q-grams (Gravano-count filter)
    // before any levenshtein evaluates; with every name >= q·(k+1)
    // chars the blocked result EQUALS the naive cross join, which is
    // exactly what the oracle runs (DuckDB and Spark both ship
    // unit-cost levenshtein built-ins).
    QueryDef(
      "q_fuzzy_join",
      (s, dir) => {
        import graft.operators.FuzzyJoin
        FuzzyJoin.similarPairs(
            Tables(s, dir, "part").select(col("p_name")), "p_name",
            maxDist = 2)
          .orderBy(col("name_a"), col("name_b"))
      },
      Some("""
        WITH n AS (SELECT DISTINCT p_name AS name FROM part)
        SELECT a.name AS name_a, b.name AS name_b,
               CAST(levenshtein(a.name, b.name) AS BIGINT) AS dist
        FROM n a JOIN n b ON a.name < b.name
        WHERE levenshtein(a.name, b.name) <= 2
        ORDER BY name_a, name_b
      """)),

    // Corpus-frequency boilerplate stripping (the C4 repeated-line
    // rule, block-tiled for line-less token streams): 4-token tiles
    // seen in >= 3 distinct docs are removed everywhere, documents
    // reassembled in order. Oracle replays tile → docfreq → mark →
    // ordered string_agg.
    QueryDef(
      "q_boilerplate",
      (s, dir) => {
        import graft.operators.Boilerplate
        Boilerplate.stripFrequentBlocks(
            Tables.documents(s, dir).select(col("doc_id"), col("text")),
            "doc_id", "text", blockSize = 4, minDf = 3)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH w AS (
          SELECT doc_id, unnest(string_split(text, ' ')) AS word,
                 generate_subscripts(string_split(text, ' '), 1) AS pos
          FROM documents),
        b AS (
          SELECT doc_id, CAST((pos - 1) // 4 AS BIGINT) AS bidx,
                 string_agg(word, ' ' ORDER BY pos) AS blk
          FROM w GROUP BY 1, 2),
        df AS (SELECT blk, count(DISTINCT doc_id) AS df FROM b GROUP BY 1),
        m AS (
          SELECT b.doc_id, b.bidx, b.blk, df.df >= 3 AS boiler
          FROM b JOIN df USING (blk))
        SELECT doc_id,
               CAST(count(*) AS BIGINT) AS blocks_total,
               CAST(count(CASE WHEN boiler THEN 1 END) AS BIGINT)
                 AS blocks_removed,
               COALESCE(string_agg(CASE WHEN NOT boiler THEN blk END,
                                   ' ' ORDER BY bidx), '') AS clean_text
        FROM m GROUP BY doc_id ORDER BY doc_id
      """)),

    // WITHIN-doc repeated-block pruning (q_boilerplate's intra-doc
    // complement — scraped pages repeating their own nav blocks):
    // first occurrence kept in place, survivors reassembled. The
    // Spark side is ONE shuffle-free codegen projection
    // (array_distinct keeps first occurrences); the oracle replays
    // first-occurrence semantics positionally (min bidx per block +
    // ordered string_agg) — deliberately NOT DuckDB's list_distinct,
    // whose order is unspecified. blockSize 2 is the witness-bearing
    // tile at test scale (250 removals at sf0.01; larger tiles never
    // repeat in synthetic text).
    QueryDef(
      "q_chunk_dedup",
      (s, dir) => {
        import graft.operators.Boilerplate
        // widened: the tile+array_distinct kernel is row-local over a
        // one-split scan, and the final sort's range-sampling pass
        // evaluates it a SECOND time (profiled r20: 2×860 ms single-
        // task) — widening makes both passes parallel; no-op on an
        // already-wide production scan (Par scaladoc).
        Boilerplate.dedupWithinDoc(
            graft.operators.Par.widen(
              Tables.documents(s, dir).select(col("doc_id"), col("text"))),
            "doc_id", "text", blockSize = 2)
          .orderBy(col("doc_id"))
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, string_split(text, ' ') AS t FROM documents),
        idx AS (
          SELECT doc_id, t,
                 unnest(range(0, CAST(floor((len(t) - 1) / 2) AS BIGINT)
                                 + 1)) AS bidx
          FROM toks),
        blocks AS (
          SELECT doc_id, bidx,
                 array_to_string(t[(bidx * 2 + 1):(bidx * 2 + 2)], ' ')
                   AS block
          FROM idx),
        firsts AS (
          SELECT doc_id, block, min(bidx) AS bidx, count(*) AS occ
          FROM blocks GROUP BY 1, 2)
        SELECT doc_id,
               CAST(sum(occ) AS BIGINT) AS blocks_total,
               CAST(sum(occ) - count(*) AS BIGINT) AS blocks_removed,
               string_agg(block, ' ' ORDER BY bidx) AS clean_text
        FROM firsts GROUP BY doc_id ORDER BY doc_id
      """)),

    // DSIR importance weights (target slice = source 'src0'): top-100
    // raw docs by add-one-smoothed unigram log-likelihood ratio
    // log10 p_target/p_raw, 9-dp per-word lattice, exact DECIMAL
    // per-doc sums, 6-dp weight edge — ties at the cut break on
    // doc_id in both engines.
    QueryDef(
      "q_dsir_weights",
      (s, dir) => {
        import graft.operators.Dsir
        Dsir.importanceWeights(
            Tables.documents(s, dir)
              .select(col("doc_id"), col("text"), col("source")),
            "doc_id", "text", col("source") === "src0")
          .orderBy(col("weight").desc, col("doc_id"))
          .limit(100)
      },
      Some("""
        WITH toks AS (
          SELECT doc_id, source = 'src0' AS t,
                 unnest(string_split(text, ' ')) AS w
          FROM documents),
        counts AS (
          SELECT w, count(*) AS rc,
                 CAST(sum(CASE WHEN t THEN 1 ELSE 0 END) AS BIGINT) AS tc
          FROM toks GROUP BY 1),
        tot AS (
          SELECT CAST(sum(rc) AS BIGINT) AS rtot,
                 CAST(sum(tc) AS BIGINT) AS ttot,
                 count(*) AS v
          FROM counts),
        ratios AS (
          SELECT w, ROUND(
                   log10(CAST(tc + 1 AS DOUBLE) / CAST(ttot + v AS DOUBLE))
                   - log10(CAST(rc + 1 AS DOUBLE) / CAST(rtot + v AS DOUBLE)),
                   9) AS lr
          FROM counts, tot),
        d AS (
          SELECT t.doc_id, count(*) AS n_tokens,
                 ROUND(CAST(sum(CAST(r.lr AS DECIMAL(38,12))) AS DOUBLE), 6)
                   AS weight
          FROM toks t JOIN ratios r ON r.w = t.w
          GROUP BY 1)
        SELECT doc_id, n_tokens, weight FROM d
        ORDER BY weight DESC, doc_id LIMIT 100
      """)),

    // Triangle enumeration over the cell-blocked kNN-3 similarity
    // graph (Similarity.cellBlockedTopK — candidates come from the
    // row's own IVF cell, so the edge generator is cell-bounded
    // instead of corpus² and nothing corpus-sized is broadcast) —
    // the community-density measure for embedding-space cluster
    // audits. The operator orients edges by (degree, id) so each
    // triangle survives as exactly one wedge + closing edge (out-
    // degree bounded by O(√m)); the oracle enumerates the same set
    // from the id-ordered edge list, where each triangle also
    // appears exactly once.
    QueryDef(
      "q_triangles",
      (s, dir) => {
        import graft.operators.Triangles
        val emb = Tables.embeddings(s, dir)
        val knn = Similarity.cellBlockedTopK(
          emb, "vec_id", "embedding", 3)
        Triangles.enumerate(
            knn.select(col("query_id").as("src"),
              col("neighbor_id").as("dst")),
            "src", "dst")
          .orderBy(col("a"), col("b"), col("c"))
      },
      Some(s"""
        WITH $cellKnnEdgeCtes
        SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
        FROM e e1
        JOIN e e2 ON e2.id_a = e1.id_b
        JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b
        ORDER BY a, b, c
      """)),

    // Local clustering coefficient over the same cell-blocked 3-NN
    // graph as q_triangles: per node, 2T/(d(d−1)) on the integer ppm
    // lattice — community density as a curation signal (cliques ≈
    // 1e6, bridges low). The oracle extends the triangle replay with
    // the per-node rollup and the same floor-division lattice.
    QueryDef(
      "q_clustering",
      (s, dir) => {
        import graft.operators.Triangles
        val emb = Tables.embeddings(s, dir)
        val knn = Similarity.cellBlockedTopK(
          emb, "vec_id", "embedding", 3)
        Triangles.clusteringCoefficient(
            knn.select(col("query_id").as("src"),
              col("neighbor_id").as("dst")),
            "src", "dst")
          .orderBy(col("id"))
      },
      Some(s"""
        WITH $cellKnnEdgeCtes,
        tri AS (
          SELECT e1.id_a AS a, e1.id_b AS b, e2.id_b AS c
          FROM e e1
          JOIN e e2 ON e2.id_a = e1.id_b
          JOIN e e3 ON e3.id_a = e1.id_a AND e3.id_b = e2.id_b),
        tn AS (
          SELECT id, count(*) AS triangles FROM (
            SELECT a AS id FROM tri
            UNION ALL SELECT b FROM tri
            UNION ALL SELECT c FROM tri)
          GROUP BY 1),
        deg AS (
          SELECT id, count(*) AS deg FROM (
            SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e)
          GROUP BY 1)
        SELECT d.id, d.deg, COALESCE(t.triangles, 0) AS triangles,
               CAST((2 * COALESCE(t.triangles, 0) * 1000000)
                    // (d.deg * (d.deg - 1)) AS BIGINT) AS coeff_ppm
        FROM deg d LEFT JOIN tn t USING (id)
        WHERE d.deg >= 2
        ORDER BY d.id
      """)),

    // Degree assortativity of the same cell-blocked 3-NN graph: one
    // number for whether similar docs clump into dense cores (r > 0)
    // or hub-and-spoke around templates (r < 0) —
    // Triangles.degreeAssortativity scaladoc.
    QueryDef(
      "q_assortativity",
      (s, dir) => {
        import graft.operators.Triangles
        val emb = Tables.embeddings(s, dir)
        val knn = Similarity.cellBlockedTopK(
          emb, "vec_id", "embedding", 3)
        Triangles.degreeAssortativity(
          knn.select(col("query_id").as("src"),
            col("neighbor_id").as("dst")),
          "src", "dst")
      },
      Some(s"""
        WITH $cellKnnEdgeCtes,
        deg AS (
          SELECT id, CAST(count(*) AS BIGINT) AS deg FROM (
            SELECT id_a AS id FROM e UNION ALL SELECT id_b FROM e)
          GROUP BY 1),
        dp AS (
          SELECT du.deg AS du, dv.deg AS dv
          FROM (SELECT id_a AS u, id_b AS v FROM e
                UNION ALL SELECT id_b, id_a FROM e) p
          JOIN deg du ON du.id = p.u
          JOIN deg dv ON dv.id = p.v),
        g AS (
          SELECT CAST(COUNT(*) AS BIGINT) AS m,
                 CAST(SUM(du) AS BIGINT) AS sx,
                 CAST(SUM(dv) AS BIGINT) AS sy,
                 SUM(CAST(du AS HUGEINT) * dv) AS sxy,
                 SUM(CAST(du AS HUGEINT) * du) AS sxx,
                 SUM(CAST(dv AS HUGEINT) * dv) AS syy
          FROM dp)
        SELECT CAST(m // 2 AS BIGINT) AS n_edges,
               ROUND((CAST(m AS DOUBLE) * CAST(sxy AS DOUBLE)
                      - CAST(sx AS DOUBLE) * CAST(sy AS DOUBLE))
                     / sqrt((CAST(m AS DOUBLE) * CAST(sxx AS DOUBLE)
                             - CAST(sx AS DOUBLE) * CAST(sx AS DOUBLE))
                            * (CAST(m AS DOUBLE) * CAST(syy AS DOUBLE)
                               - CAST(sy AS DOUBLE) * CAST(sy AS DOUBLE))),
                     6) AS r
        FROM g
      """)),

    // Per-label semantic diversity: average pairwise cosine WITHOUT
    // the n² pairwise join — ‖Σû‖² − n over micro-lattice unit
    // vectors (SemanticDiversity scaladoc). High = redundant
    // self-similar cluster, low = diverse. The oracle replays the
    // lattice with HUGEINT where Spark uses DECIMAL(38,0).
    QueryDef(
      "q_semantic_diversity",
      (s, dir) =>
        graft.operators.SemanticDiversity.averagePairwiseCosine(
            Tables.embeddings(s, dir), "label", "embedding")
          .orderBy(col("label")),
      Some("""
        WITH dims AS (
          SELECT vec_id, label, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        nrm AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
        u AS (
          SELECT d.label, d.i,
                 CAST(ROUND(d.x / n.nrm * 1e6) AS BIGINT) AS un
          FROM dims d JOIN nrm n USING (vec_id) WHERE n.nrm > 0),
        s AS (
          SELECT label, i, CAST(SUM(un) AS HUGEINT) AS sd
          FROM u GROUP BY 1, 2),
        q AS (
          SELECT label, CAST(SUM(sd * sd) AS DOUBLE) AS ssq
          FROM s GROUP BY 1),
        c AS (
          SELECT e.label, count(*) AS n
          FROM embeddings e JOIN nrm ON nrm.vec_id = e.vec_id
          WHERE nrm.nrm > 0 GROUP BY 1)
        SELECT q.label, c.n,
               CAST(ROUND((q.ssq / 1e12 - CAST(c.n AS DOUBLE))
                          / (CAST(c.n AS DOUBLE)
                             * (CAST(c.n AS DOUBLE) - 1.0)) * 1e6)
                 AS BIGINT) AS avg_cos_ppm
        FROM q JOIN c USING (label)
        WHERE c.n >= 2
        ORDER BY q.label
      """)),

  )
}
