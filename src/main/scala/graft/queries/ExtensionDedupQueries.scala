package graft.queries

import graft.{QueryDef, Tables}
import graft.QueryDef.sqlList
import graft.functions.{TextAnalysis, TextFunctions}
import graft.operators.{Dedup, Par, SequencePacking, Similarity}
import org.apache.spark.sql.functions._


/** Pure-move slice of [[ExtensionQueries]] (round 16, VERDICT r15 #5:
  * the 9,743-line file was 25% of the engine's merge surface).
  * Deduplication: exact/jaccard/minhash/incremental/groups/sources/keep/spans, packing, decontamination, simhash, embedding/semantic dedup.
  * Helpers live on ExtensionQueries as private[queries]; behavior is
  * byte-identical — the order of ExtensionQueries.all is preserved.
  */
private[queries] object ExtensionDedupQueries {
  import ExtensionQueries._

  val all: Seq[QueryDef] = Seq(
    QueryDef(
      "q_dedup_exact",
      (s, dir) =>
        Dedup.exactDuplicates(Tables.documents(s, dir), "doc_id", "text")
          .orderBy(col("keep_id")),
      Some("""
        SELECT md5(text) AS text_md5, MIN(doc_id) AS keep_id,
               COUNT(*) AS n_copies
        FROM documents
        GROUP BY text
        ORDER BY keep_id
      """)),

    QueryDef(
      "q_dedup_jaccard",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        Dedup.jaccardPairs(sh, 0.8)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(jaccardOracle)),

    QueryDef(
      "q_dedup_minhash",
      (s, dir) =>
        Dedup.minhashDedupPairs(docTokens(s, dir), "doc_id", "tokens",
          shingleK = 3, bands = 8, rowsPerBand = 4, minJaccard = 0.8)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b")),
      Some(jaccardOracle)),

    // Incremental (per-ingest) dedup: docs with doc_id % 5 == 0 play
    // the "new batch"; only pairs touching the batch are generated —
    // old×old never is (Dedup.incrementalMinhashPairs scaladoc). The
    // oracle is the full exact-Jaccard pair list filtered the same
    // way; recall relies on the same ≥0.97 planted-pair margin as
    // q_dedup_minhash.
    QueryDef(
      "q_dedup_incremental",
      (s, dir) => {
        val docs = docTokens(s, dir)
        val newIds = docs.select(col("doc_id")).where(pmod(col("doc_id"), lit(5L)) === 0)
        Dedup.incrementalMinhashPairs(docs, newIds, "doc_id", "tokens",
          shingleK = 3, bands = 8, rowsPerBand = 4, minJaccard = 0.8)
          .select(col("id_a"), col("id_b"),
            round(col("jaccard"), 6).as("jaccard"))
          .orderBy(col("id_a"), col("id_b"))
      },
      Some(s"""
        WITH $jaccardCtes
        SELECT id_a, id_b, ROUND(jac, 6) AS jaccard
        FROM j WHERE jac >= 0.8 AND (id_a % 5 = 0 OR id_b % 5 = 0)
        ORDER BY id_a, id_b
      """)),

    // Duplicate-GROUP resolution: connected components over the exact
    // Jaccard ≥ 0.8 pairs — every dup-involved doc labeled with its
    // group's canonical (minimum) id. Oracle: transitive closure via
    // a recursive CTE over the same edges.
    QueryDef(
      "q_dedup_groups",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        val pairs = Dedup.jaccardPairs(sh, 0.8).select(col("id_a"), col("id_b"))
        Dedup.connectedComponents(pairs).orderBy(col("id"))
      },
      Some(s"""
        WITH RECURSIVE
        ${jaccardEdgesCte},
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        )
        SELECT a AS id, least(a, MIN(b)) AS label
        FROM reach
        GROUP BY a
        ORDER BY id
      """)),

    // Near-dup GROUP-SIZE distribution — corpus governance: how big
    // are the duplicate clusters (a heavy-tailed histogram means a
    // few templates dominate the dedup savings; a flat one means
    // pairwise noise). Labels from the same connected components as
    // q_dedup_groups, rolled up twice: size per group, then groups +
    // docs per size. Group-sized input, two tiny aggregations — the
    // corpus itself is never touched.
    QueryDef(
      "q_dedup_group_sizes",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        val pairs = Dedup.jaccardPairs(sh, 0.8).select(col("id_a"), col("id_b"))
        Dedup.connectedComponents(pairs)
          .groupBy(col("label")).agg(count(lit(1)).as("group_size"))
          .groupBy(col("group_size"))
          .agg(count(lit(1)).as("n_groups"),
            sum(col("group_size")).as("n_docs"))
          .orderBy(col("group_size"))
      },
      Some(s"""
        WITH RECURSIVE
        ${jaccardEdgesCte},
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        labels AS (
          SELECT a AS id, least(a, MIN(b)) AS label
          FROM reach GROUP BY a),
        gsizes AS (
          SELECT label, COUNT(*) AS group_size
          FROM labels GROUP BY label)
        SELECT group_size, COUNT(*) AS n_groups,
               CAST(SUM(group_size) AS BIGINT) AS n_docs
        FROM gsizes
        GROUP BY group_size
        ORDER BY group_size
      """)),

    // Cross-source duplication matrix — corpus governance: which
    // ingest feeds mirror each other. Near-dup pairs (exact Jaccard
    // ≥ 0.8) joined to each side's source, unordered source pair
    // normalized by least/greatest, counted. The pair list is
    // group-sized; the corpus never reshuffles for the rollup.
    QueryDef(
      "q_dedup_sources",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        val pairs = Dedup.jaccardPairs(sh, 0.8).select(col("id_a"), col("id_b"))
        val src = Tables.documents(s, dir).select(col("doc_id"), col("source"))
        pairs
          .join(src.select(col("doc_id").as("id_a"), col("source").as("sa")), "id_a")
          .join(src.select(col("doc_id").as("id_b"), col("source").as("sb")), "id_b")
          .select(least(col("sa"), col("sb")).as("source_a"),
            greatest(col("sa"), col("sb")).as("source_b"))
          .groupBy(col("source_a"), col("source_b"))
          .agg(count(lit(1)).as("n_pairs"))
          .orderBy(col("source_a"), col("source_b"))
      },
      Some(s"""
        WITH $jaccardCtes,
        pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.8)
        SELECT least(da.source, db.source) AS source_a,
               greatest(da.source, db.source) AS source_b,
               count(*) AS n_pairs
        FROM pairs
        JOIN documents da ON da.doc_id = pairs.id_a
        JOIN documents db ON db.doc_id = pairs.id_b
        GROUP BY 1, 2
        ORDER BY 1, 2
      """)),

    // The payoff query of the dedup chain: the corpus a trainer
    // actually reads — drop every non-canonical duplicate-group
    // member, keep everything else (Dedup.keepCanonical).
    QueryDef(
      "q_dedup_keep",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        val pairs = Dedup.jaccardPairs(sh, 0.8).select(col("id_a"), col("id_b"))
        Dedup.keepCanonical(Tables.documents(s, dir), "doc_id", pairs)
          .select(col("doc_id"), col("n_chars"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE
        ${jaccardEdgesCte},
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        labels AS (
          SELECT a AS id, least(a, MIN(b)) AS label
          FROM reach GROUP BY a)
        SELECT doc_id, n_chars FROM documents
        WHERE doc_id NOT IN (SELECT id FROM labels WHERE id <> label)
        ORDER BY doc_id
      """)),

    // Quality-aware canonical keep (FineWeb rule): within each dup
    // group keep the HIGHEST-quality member (6-dp score, id
    // tie-break) instead of the smallest id — min-id keeps whichever
    // copy was crawled first, not the cleanest one. Oracle extends
    // the q_dedup_keep closure with the quality join + keeper window.
    QueryDef(
      "q_dedup_keep_best",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        val pairs = Dedup.jaccardPairs(sh, 0.8).select(col("id_a"), col("id_b"))
        // widen the one-split scan before scoring: qualityScore
        // tokenizes + sweeps stopwords per row and ran single-task
        // (r20 profile, 0.8 s; §2.5)
        val docs = graft.operators.Par.widen(Tables.documents(s, dir))
          .withColumn("quality",
            round(TextAnalysis.qualityScore(col("text")), 6))
        Dedup.keepBest(docs, "doc_id", pairs, "quality")
          .select(col("doc_id"), col("n_chars"), col("quality"))
          .orderBy(col("doc_id"))
      },
      Some(s"""
        WITH RECURSIVE
        ${jaccardEdgesCte},
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        labels AS (
          SELECT a AS id, least(a, MIN(b)) AS label
          FROM reach GROUP BY a),
        parts AS (
          SELECT doc_id,
                 least(CAST(length(text) AS DOUBLE) / 500.0, 1.0) AS len_score,
                 CAST(len(list_distinct(string_split(text, ' '))) AS DOUBLE)
                   / CAST(len(string_split(text, ' ')) AS DOUBLE) AS diversity,
                 abs(CAST(len(list_filter(string_split(text, ' '),
                         w -> w IN (${sqlList(TextFunctions.snowballStopWords)}))) AS DOUBLE)
                     / CAST(len(string_split(text, ' ')) AS DOUBLE) - 0.4) AS stop_penalty,
                 CAST(length(text) - length(regexp_replace(text, '[^\\p{L}\\p{N} ]', '', 'g')) AS DOUBLE)
                   / CAST(length(text) AS DOUBLE) AS punct
          FROM documents),
        q AS (
          SELECT doc_id,
                 ROUND(len_score * 0.3 + diversity * 0.3 +
                       (1.0 - stop_penalty) * 0.3 + (1.0 - punct) * 0.1, 6)
                   AS quality
          FROM parts),
        ranked AS (
          SELECT l.id,
                 ROW_NUMBER() OVER (PARTITION BY l.label
                                    ORDER BY q.quality DESC, l.id) AS rn
          FROM labels l JOIN q ON q.doc_id = l.id)
        SELECT d.doc_id, d.n_chars, q.quality
        FROM documents d JOIN q ON q.doc_id = d.doc_id
        WHERE d.doc_id NOT IN (SELECT id FROM ranked WHERE rn <> 1)
        ORDER BY d.doc_id
      """)),

    // Leakage-safe train/eval split (Dedup.leakageSafeSplit): every
    // doc assigned by a replayable md5 draw on its LEAKAGE UNIT (the
    // dup group's canonical id, else the doc's own), so near-dups
    // can never straddle the boundary and contaminate evaluation.
    // Result: per-split census + the cross-split near-dup pair count
    // — computed on BOTH sides, not pinned, so a hash drift or a
    // grouping regression that lets a pair straddle flips the row
    // red (the expected value is 0 by construction).
    QueryDef(
      "q_leakage_safe_split",
      (s, dir) => {
        val sh = Dedup.shingleSets(docTokens(s, dir), "doc_id", "tokens", 3)
        // pinned (r20, profiled): the exact-Jaccard pair pipeline fed
        // BOTH the split's CC grouping and the cross-split count, and
        // its whole shingle self-join ran twice (duplicate 9.4 MB
        // stages in the r20 profile). Group-membership-sized.
        val pairs = Dedup.jaccardPairs(sh, 0.8)
          .select(col("id_a"), col("id_b")).transform(Par.pin)
        // pinned: three consumers below (census + both cross-split
        // joins) would re-run the label join per consumer; a split
        // assignment is materialized once in any deployment anyway
        val assigned = Dedup.leakageSafeSplit(
          Tables.documents(s, dir), "doc_id", pairs, trainPermille = 800)
          .transform(Par.pin)
        val census = assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("unit")).as("n_units"),
            sum(when(col("grouped"), 1L).otherwise(0L)).as("n_dup_docs"))
        val crossPairs = pairs
          .join(assigned.select(col("doc_id").as("id_a"),
            col("split").as("__sa")), "id_a")
          .join(assigned.select(col("doc_id").as("id_b"),
            col("split").as("__sb")), "id_b")
          .agg(coalesce(
            sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)),
            lit(0L)).as("cross_split_pairs"))
        census.crossJoin(broadcast(crossPairs)).orderBy(col("split"))
      },
      Some(s"""
        WITH RECURSIVE
        ${jaccardEdgesCte},
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        labels AS (
          SELECT a AS id, least(a, MIN(b)) AS label
          FROM reach GROUP BY a),
        assigned AS (
          SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS unit,
                 l.label IS NOT NULL AS grouped,
                 CASE WHEN CAST(concat('0x', substr(md5(
                        CAST(COALESCE(l.label, d.doc_id) AS VARCHAR)),
                        1, 15)) AS UBIGINT) % 1000 < 800
                      THEN 'train' ELSE 'eval' END AS split
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
        pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.8),
        xp AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN a.split <> b.split
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS cross_split_pairs
          FROM pairs p
          JOIN assigned a ON a.doc_id = p.id_a
          JOIN assigned b ON b.doc_id = p.id_b)
        SELECT split, COUNT(*) AS n_docs,
               COUNT(DISTINCT unit) AS n_units,
               CAST(SUM(CASE WHEN grouped THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_docs,
               (SELECT cross_split_pairs FROM xp) AS cross_split_pairs
        FROM assigned
        GROUP BY split
        ORDER BY split
      """)),

    // INCREMENTAL leakage-safe split (VERDICT r17 #6): the corpus
    // arrives as two chained ingest batches through the production
    // dedupIngest loop (parquet pair/signature/corpus stores, old×old
    // never recomputed), then the split is assigned FROM THE PAIR
    // STORE (Dedup.leakageSafeSplitFromStore) over the combined
    // corpus. The oracle is q_leakage_safe_split's own one-shot
    // exact-Jaccard chain, so two chained ingests must assign every
    // doc exactly as a one-shot batch split would (the
    // q_stream_dedup_ingest equivalence convention) — and the
    // cross-split pair count, computed against the STORE's pairs, is
    // 0 by construction across the combined corpus. Same minhash
    // operating point as q_dedup_minhash (k=3, 8×4 bands, ≥0.8), so
    // the store's pair set equals the exact list at this margin.
    QueryDef(
      "q_leakage_split_incremental",
      (s, dir) => Par.withTempStore("graft_leak_inc") { root =>
        val docs = Tables.documents(s, dir)
        val toks = docs
          .select(col("doc_id"), split(col("text"), " ").as("tokens"))
        val in = s"$root/in"
        toks.filter(pmod(col("doc_id"), lit(2L)) === 0L)
          .coalesce(1).write.mode("append").parquet(in)
        toks.filter(pmod(col("doc_id"), lit(2L)) === 1L)
          .coalesce(1).write.mode("append").parquet(in)
        val stream = s.readStream.schema(s.read.parquet(in).schema)
          .option("maxFilesPerTrigger", "1").parquet(in)
        val q = graft.streaming.StreamingOps.dedupIngest(stream,
          s"$root/corpus", s"$root/store", s"$root/pairs",
          "doc_id", "tokens", shingleK = 3, bands = 8, rowsPerBand = 4,
          minJaccard = 0.8)
        try q.processAllAvailable() finally q.stop()
        // pinned like q_leakage_safe_split's: three consumers below
        val assigned = Dedup.leakageSafeSplitFromStore(
          docs, "doc_id", s"$root/pairs", trainPermille = 800)
          .transform(Par.pin)
        val pairs = s.read.parquet(s"$root/pairs")
          .select(col("id_a"), col("id_b"))
        val census = assigned.groupBy(col("split"))
          .agg(count(lit(1)).as("n_docs"),
            countDistinct(col("unit")).as("n_units"),
            sum(when(col("grouped"), 1L).otherwise(0L)).as("n_dup_docs"))
        val crossPairs = pairs
          .join(assigned.select(col("doc_id").as("id_a"),
            col("split").as("__sa")), "id_a")
          .join(assigned.select(col("doc_id").as("id_b"),
            col("split").as("__sb")), "id_b")
          .agg(coalesce(
            sum(when(col("__sa") =!= col("__sb"), 1L).otherwise(0L)),
            lit(0L)).as("cross_split_pairs"))
        census.crossJoin(broadcast(crossPairs)).orderBy(col("split"))
      },
      Some(s"""
        WITH RECURSIVE
        ${jaccardEdgesCte},
        reach(a, b) AS (
          SELECT src, dst FROM edges
          UNION
          SELECT r.a, e.dst FROM reach r JOIN edges e ON e.src = r.b
        ),
        labels AS (
          SELECT a AS id, least(a, MIN(b)) AS label
          FROM reach GROUP BY a),
        assigned AS (
          SELECT d.doc_id, COALESCE(l.label, d.doc_id) AS unit,
                 l.label IS NOT NULL AS grouped,
                 CASE WHEN CAST(concat('0x', substr(md5(
                        CAST(COALESCE(l.label, d.doc_id) AS VARCHAR)),
                        1, 15)) AS UBIGINT) % 1000 < 800
                      THEN 'train' ELSE 'eval' END AS split
          FROM documents d LEFT JOIN labels l ON l.id = d.doc_id),
        pairs AS (SELECT src AS id_a, dst AS id_b FROM edges
                  WHERE src < dst),
        xp AS (
          SELECT CAST(COALESCE(SUM(CASE WHEN a.split <> b.split
                   THEN 1 ELSE 0 END), 0) AS BIGINT) AS cross_split_pairs
          FROM pairs p
          JOIN assigned a ON a.doc_id = p.id_a
          JOIN assigned b ON b.doc_id = p.id_b)
        SELECT split, COUNT(*) AS n_docs,
               COUNT(DISTINCT unit) AS n_units,
               CAST(SUM(CASE WHEN grouped THEN 1 ELSE 0 END) AS BIGINT)
                 AS n_dup_docs,
               (SELECT cross_split_pairs FROM xp) AS cross_split_pairs
        FROM assigned
        GROUP BY split
        ORDER BY split
      """)),

    // Exact duplicate-span detection (training-data "exact substring
    // dedup" at 20-token-span granularity): positions whose span
    // recurs in ≥2 distinct docs.
    QueryDef(
      "q_dedup_spans",
      (s, dir) =>
        Dedup.duplicateSpans(
            Tables.documents(s, dir)
              .select(col("doc_id"),
                TextFunctions.splitWords(col("text")).as("toks")),
            "doc_id", "toks", n = 20)
          .orderBy(col("doc_id"), col("pos")),
      Some {
        val leads = (1 until 20)
          .map(i => s"lead(word,$i) OVER w").mkString(" || ' ' || ")
        s"""
        WITH words AS (
          SELECT doc_id, unnest(string_split(text,' ')) AS word,
                 generate_subscripts(string_split(text,' '), 1) AS pos
          FROM documents),
        spans AS (
          SELECT doc_id, pos, md5(word || ' ' || $leads) AS h
          FROM words WINDOW w AS (PARTITION BY doc_id ORDER BY pos)),
        sp AS (SELECT * FROM spans WHERE h IS NOT NULL),
        hot AS (SELECT h FROM sp GROUP BY h
                HAVING COUNT(DISTINCT doc_id) >= 2)
        SELECT doc_id, pos, h FROM sp JOIN hot USING (h)
        ORDER BY doc_id, pos
        """
      }),

    // Concat-and-chunk sequence packing (pretraining batching):
    // global token offset, chunk id and in-chunk offset per doc, via
    // the sharded two-pass prefix sum (no corpus-wide single-partition
    // window). shardSize=100 exercises the shard rollup on testdata.
    QueryDef(
      "q_pack_sequences",
      (s, dir) =>
        SequencePacking.pack(
            Tables.documents(s, dir)
              .select(col("doc_id"),
                TextAnalysis.whitespaceTokenCount(col("text")).as("ws_tokens")),
            "doc_id", "ws_tokens", capacity = 512L, shardSize = 100L)
          .orderBy(col("doc_id")),
      Some("""
        WITH t AS (
          SELECT doc_id,
                 CAST(len(string_split(text,' ')) AS BIGINT) AS ntok
          FROM documents),
        c AS (
          SELECT doc_id, ntok,
                 CAST(COALESCE(SUM(ntok) OVER (ORDER BY doc_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                      0) AS BIGINT) AS start_tok
          FROM t)
        SELECT doc_id, ntok, start_tok,
               start_tok // 512 AS chunk_id,
               start_tok % 512 AS chunk_off
        FROM c
        ORDER BY doc_id
      """)),

    // Test-set decontamination (GPT-3 appendix-C protocol): corpus
    // docs sharing any 10-token span with a held-out "benchmark" set
    // (every 10th doc plays the eval set). The benchmark span-hash set
    // is broadcast; the corpus is never joined against the benchmark
    // rows themselves. Oracle replays the span windows relationally.
    QueryDef(
      "q_decontaminate",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextFunctions.splitWords(col("text")).as("toks"))
        val bench = toks.filter(pmod(col("doc_id"), lit(10)) === 0)
        val corpus = toks.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        Dedup.contaminatedDocs(corpus, bench, "doc_id", "toks", n = 10)
          .orderBy(col("doc_id"))
      },
      Some(decontaminateOracle)),

    // The Bloom-prefiltered scale variant, checked against the SAME
    // exact oracle: the filter only over-approximates and the exact
    // verify join removes its false positives, so the output is
    // bit-identical to q_decontaminate regardless of the bloom's
    // internal hashing — which is what makes an approximate
    // prefilter oracle-checkable at all.
    QueryDef(
      "q_decontaminate_bloom",
      (s, dir) => {
        val toks = Tables.documents(s, dir)
          .select(col("doc_id"),
            TextFunctions.splitWords(col("text")).as("toks"))
        val bench = toks.filter(pmod(col("doc_id"), lit(10)) === 0)
        val corpus = toks.filter(pmod(col("doc_id"), lit(10)) =!= 0)
        Dedup.contaminatedDocsBloom(corpus, bench, "doc_id", "toks",
            n = 10, fpp = 0.01)
          .orderBy(col("doc_id"))
      },
      Some(decontaminateOracle)),

    // SimHash blocking, FULLY oracle-checked: DuckDB replays the exact
    // FNV-1a 64 per-token hash as a `list_reduce` fold in HUGEINT with
    // explicit mod-2^64 (the corpus is ASCII, so `unicode(c)` equals
    // Scala's UTF-16 charAt), the per-bit majority vote as 64 generated
    // CASE sums, and the 16-bit band self-join + Hamming filter
    // relationally. The oracle replicates the UNCAPPED band join —
    // sound at the sf0.01 gate, where no band bucket can exceed the
    // 1000-doc hot cap (corpus is 500 docs). SECOND ASSUMPTION:
    // non-empty text — Spark bands an empty/whitespace-only doc with
    // simhash=0, while the oracle's unnest yields no rows and drops it
    // before banding, so a PAIR of empty docs would appear only on the
    // Spark side. The sf corpora have no empty documents; a corpus
    // that gains them needs the oracle to emit simhash=0 for
    // token-less docs.
    QueryDef(
      "q_dedup_simhash",
      (s, dir) =>
        Dedup.simhashPairs(docTokens(s, dir), "doc_id", "tokens", 6)
          .withColumn("hamming", col("hamming").cast("long"))
          .orderBy(col("id_a"), col("id_b")),
      Some(simhashOracle)),

    // Embedding near-dup: top-20 most-cosine-similar pairs (corpus has
    // no planted >0.95 pairs, so top-N instead of a threshold keeps the
    // result non-empty and deterministic). Routed through the IVF
    // cell-blocked scale path — no all-pairs join; the oracle is the
    // exact answer, so a hash match doubles as a full-recall check
    // (these pairs sit at cosine ≈0.43-0.51, far below planted-dup
    // territory, and the probe sets still recall every one).
    QueryDef(
      "q_dedup_embedding",
      (s, dir) =>
        Similarity.nearDupPairsIvf(
          Tables.embeddings(s, dir), "vec_id", "embedding", 20),
      Some(s"""
        WITH dims AS (
          SELECT vec_id, CAST(unnest(embedding) AS DOUBLE) AS x,
                 generate_subscripts(embedding, 1) AS i
          FROM embeddings),
        norms AS (SELECT vec_id, sqrt(sum(x*x)) AS nrm FROM dims GROUP BY 1),
        dots AS (
          SELECT a.vec_id AS id_a, b.vec_id AS id_b, sum(a.x * b.x) AS d
          FROM dims a JOIN dims b ON a.i = b.i AND a.vec_id < b.vec_id
          GROUP BY 1, 2)
        SELECT id_a, id_b,
               ROUND(d / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON na.vec_id = id_a
        JOIN norms nb ON nb.vec_id = id_b
        ORDER BY cosine DESC, id_a, id_b
        LIMIT 20
      """)),

    // SemDeDup semantic dedup: cluster-blocked cosine pairs at
    // tau=0.35 (≈p99 of the within-cell cosine distribution in this
    // corpus — it has no planted >0.95 near-dups, so the paper's 0.95+
    // thresholds would be vacuous at every SF; 0.35 drops 48/55/560
    // docs at sf0.001/0.01/0.1), keep-the-outlier rule. The oracle
    // replays the full chain on the shared derived-nlist assignment
    // CTEs: own-centroid
    // cosines from the asim CTE, within-cell pairwise cosines, the
    // (centroid-cosine asc, id asc) domination verdict.
    QueryDef(
      "q_dedup_semantic",
      (s, dir) =>
        Similarity.semanticDedup(
            Tables.embeddings(s, dir), "vec_id", "embedding", tau = 0.35)
          .withColumn("dropped", col("dropped").cast("long"))
          .orderBy(col("id")),
      Some(s"""
        WITH $ivfAssignDerivedCtes,
        own AS (
          SELECT asg.nid AS id, asg.cell, asim.csim
          FROM asg JOIN asim
            ON asim.nid = asg.nid AND asim.cell = asg.cell),
        pdots AS (
          SELECT a.nid AS id_a, b.nid AS id_b, sum(da.x * db.x) AS d
          FROM asg a JOIN asg b ON a.cell = b.cell AND a.nid < b.nid
          JOIN dims da ON da.vec_id = a.nid
          JOIN dims db ON db.vec_id = b.nid AND db.i = da.i
          GROUP BY 1, 2),
        pcos AS (
          SELECT id_a, id_b, ROUND(d / (na.nrm * nb.nrm), 6) AS cos
          FROM pdots
          JOIN norms na ON na.vec_id = id_a
          JOIN norms nb ON nb.vec_id = id_b),
        sim AS (
          SELECT p.id_a, p.id_b, oa.csim AS ca, ob.csim AS cb
          FROM pcos p
          JOIN own oa ON oa.id = p.id_a
          JOIN own ob ON ob.id = p.id_b
          WHERE p.cos >= 0.35),
        dropped AS (
          SELECT DISTINCT CASE WHEN ca <= cb THEN id_b ELSE id_a END AS id
          FROM sim)
        SELECT own.id, own.cell, own.csim,
               CAST(dropped.id IS NOT NULL AS BIGINT) AS dropped
        FROM own LEFT JOIN dropped ON dropped.id = own.id
        ORDER BY own.id
      """)),

    // MinHash-LSH AT-SCALE witness (VERDICT r15 #3, the dedup twin of
    // q_ann_ivf_scale): the corpus is expanded 8× by token-salted
    // replication (ExtensionQueries.dedupScaleTokens — within-replica
    // Jaccards exactly preserved, zero cross-replica shingle
    // collisions), then the REAL chain runs: shingle → minhash →
    // band-bucket candidates → exact-Jaccard verification. Returned
    // ledger: corpus size, the all-pairs bound the design refuses to
    // pay, the verified near-dup pair count + an order-free checksum
    // over the pair list (both exactly replayed by DuckDB's exact
    // Jaccard on the same expanded corpus — recall per planted pair is
    // 1−(1−j⁴)⁸ ≈ 1 at the fixtures' j ≥ 0.97 margin, the same
    // argument as q_dedup_minhash), and `cand_linear_ok`: whether the
    // MEASURED candidate-pair count stayed under the structural
    // linear budget docs·bands·(maxBucketSize−1)/2 that the hot-bucket
    // cap guarantees. The oracle pins that boolean to TRUE — a
    // regression that breaks the cap (superlinear candidates) flips
    // the Spark side to false and the row goes red. Deterministic and
    // layout-invariant: xxhash64 signatures are pure per-row
    // functions, so the candidate SET (a distinct count) is the same
    // under any partitioning.
    QueryDef(
      "q_dedup_minhash_scale",
      (s, dir) => {
        val toks = ExtensionQueries.dedupScaleTokens(s, dir)
        // pinned (r20): verifiedJaccard reads sh from three stages,
        // which each re-shingled the scale corpus
        val sh = Dedup.shingleSets(toks, "doc_id", "tokens", 3)
          .transform(Par.pin)
        val nDocs = toks.count()
        // sealed (localCheckpointed) by the operator, so count() +
        // the verification join below reuse one materialization
        val cands = Dedup.minhashCandidatePairs(sh, 8, 4)
        val nCand = cands.count()
        val budget = nDocs * 8L * 99L / 2L
        val out = Dedup.verifiedJaccard(cands, sh)
          .filter(col("jaccard") >= 0.8)
          .agg(count(lit(1)).as("n_pairs"),
            coalesce(sum(col("id_a") * 3L + col("id_b")), lit(0L))
              .cast("long").as("pair_checksum"))
          .select(lit(nDocs).as("n_docs"),
            lit(nDocs * (nDocs - 1L) / 2L).as("all_pairs"),
            col("n_pairs"), col("pair_checksum"),
            lit(nCand <= budget).as("cand_linear_ok"))
        Par.sealAndRelease(out, sh)
      },
      Some(s"""
        WITH expanded AS (
          SELECT doc_id * 8 + c AS doc_id,
                 CASE WHEN c = 0 THEN text
                      ELSE array_to_string(list_transform(
                        string_split(text, ' '), w -> w || '~' || c), ' ')
                 END AS text
          FROM documents, range(0, 8) r(c)),
        ${jaccardCtesOver("expanded")},
        pairs AS (SELECT id_a, id_b FROM j WHERE jac >= 0.8)
        SELECT
          (SELECT CAST(count(*) AS BIGINT) FROM expanded) AS n_docs,
          (SELECT CAST((count(*) * (count(*) - 1)) // 2 AS BIGINT)
           FROM expanded) AS all_pairs,
          (SELECT CAST(count(*) AS BIGINT) FROM pairs) AS n_pairs,
          (SELECT CAST(COALESCE(SUM(id_a * 3 + id_b), 0) AS BIGINT)
           FROM pairs) AS pair_checksum,
          TRUE AS cand_linear_ok
      """)),

  )
}
