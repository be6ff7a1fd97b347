package graft.operators

import graft.functions.VectorFunctions
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Similarity search over an embedding column (`array<float>`).
  *
  * Every per-query top-k here is a candidate generator feeding one
  * ranker. The generators:
  *  - broadcast cross join — [[bruteForceTopK]] (exact; the ground
  *    truth), [[hardNegatives]] (cross-label candidates only) and the
  *    L2 pair [[euclideanKnn]]/[[euclideanTopK]]: the bounded query
  *    side is broadcast, the corpus is scanned once and scored
  *    map-side, never shuffled;
  *  - same-cell self-join — [[cellBlockedTopK]]: corpus×corpus kNN
  *    inside the cells of the deterministic sampled codebook;
  *  - probe join — [[ivfTopKSampledCodebook]]/[[ivfTopKFromIndex]]:
  *    each query searches its `nprobe` nearest cells;
  *  - bucket join — [[lshTopK]]: random-hyperplane LSH buckets, an
  *    IVF analogue with no codebook at all.
  *
  * The ranker is the bounded per-query top-k aggregate
  * ([[topKPerQuery]]); the cosine generators reach it through
  * `rankCosine` (self-pairs dropped, cosine rounded to 6 decimals),
  * the L2 ones with a negated distance as the score. Ties break by
  * neighbor id, so every ranking is a total order that a DuckDB
  * oracle replays. The pair operators ([[topSimilarPairs]],
  * [[nearDupPairsIvf]], [[semanticDedup]]) rank pairs, not per-query
  * lists.
  *
  * Cosine math is `zip_with`/`aggregate` in double (VectorFunctions) —
  * codegen'd, no UDF.
  */
object Similarity {

  /** Per-query top-k of pre-scored (query_id, neighbor_id, cosine)
    * rows via the bounded [[graft.functions.top_k_by]] aggregate:
    * map-side partial top-k caps the exchange at queries×k rows per
    * partition (a rank window would shuffle every scored row), then
    * posexplode restores (rank, neighbor, cosine) rows in the same
    * (cosine desc, neighbor_id asc) total order a row_number window
    * would produce.
    */
  private[operators] def topKPerQuery(scored: DataFrame, k: Int): DataFrame = {
    // top_k_by coerces ids to bigint; cast back so the output schema
    // matches the caller's id type. Null cosines are skipped by the
    // aggregate (never in the top-k anyway — see TopKByScore scaladoc).
    val idType = scored.schema("neighbor_id").dataType
    scored
      .groupBy(col("query_id"))
      .agg(graft.functions.top_k_by(col("cosine"), col("neighbor_id"), k)
        .as("top"))
      .select(col("query_id"), posexplode(col("top")))
      .select(col("query_id"),
        col("col.id").cast(idType).as("neighbor_id"),
        col("col.score").as("cosine"),
        (col("pos") + 1).as("rank"))
  }

  /** The cosine ranker of every cosine top-k here: drops self-pairs,
    * scores the 6-decimal rounded cosine and keeps each query's top k
    * ([[topKPerQuery]]). `pairs` = (query_id, qv, neighbor_id, cv)
    * from any candidate generator.
    */
  private def rankCosine(pairs: DataFrame, k: Int): DataFrame =
    topKPerQuery(
      pairs.filter(col("query_id") =!= col("neighbor_id"))
        .select(col("query_id"), col("neighbor_id"),
          round(VectorFunctions.cosine(col("qv"), col("cv")), 6)
            .as("cosine")),
      k)

  /** Exact top-k cosine neighbors for each query row.
    * Output: (query_id, neighbor_id, cosine) with rank ≤ k, ties on
    * the 6-decimal rounded cosine broken by neighbor id (deterministic
    * total order).
    *
    * The query side is BROADCAST — this kernel is for a bounded query
    * workload against a large corpus, never for corpus×corpus. It
    * refuses when `queries` exceeds `maxBroadcastRows`: a 100×-scale
    * caller gets an actionable error pointing at [[cellBlockedTopK]]
    * / [[ivfTopKSampledCodebook]] instead of an executor OOM from
    * broadcasting the corpus. NOTE this guard is EAGER when the plan
    * is not provably bounded: a bounded probe job (limit
    * maxBroadcastRows+1, count) runs at call time, before the lazy
    * plan is returned. A query side that is already a `limit(n)` with
    * n ≤ maxBroadcastRows is recognized from the logical plan and
    * pays no probe job.
    */
  def bruteForceTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      maxBroadcastRows: Long = 100000L): DataFrame = {
    require(maxBroadcastRows >= 1, s"maxBroadcastRows: $maxBroadcastRows")
    import org.apache.spark.sql.catalyst.plans.logical.GlobalLimit
    import org.apache.spark.sql.catalyst.expressions.{Literal => Lit}
    // a root GlobalLimit(n <= cap) proves boundedness without a job
    val provenBound = queries.queryExecution.analyzed match {
      case GlobalLimit(Lit(v: Int, _), _) => v.toLong <= maxBroadcastRows
      case _ => false
    }
    val probe = if (provenBound) 0L
      else queries.select(lit(1).as("__one"))
        .limit((maxBroadcastRows + 1).min(Int.MaxValue.toLong).toInt).count()
    require(probe <= maxBroadcastRows,
      s"bruteForceTopK: query side exceeds maxBroadcastRows=" +
        s"$maxBroadcastRows — broadcasting it would not survive at " +
        "scale. For corpus-sized query sets use cellBlockedTopK " +
        "(IVF-cell-blocked kNN) or ivfTopKSampledCodebook.")
    val q = queries.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    rankCosine(c.crossJoin(broadcast(q)), k)
  }

  /** Corpus×corpus kNN WITHOUT the broadcast: top-k cosine neighbors
    * of every corpus row among the rows of its OWN IVF cell (the
    * deterministic sampled codebook of [[assignCellsSampledCodebook]]
    * — same kernel as semantic dedup and the q_dbscan ε-graph). The
    * pair join is cell-bounded instead of corpus², and nothing larger
    * than the nlist-row codebook is ever broadcast: at 1000 executors
    * the candidate join shuffles on `cell` and each task scores one
    * cell's block. k is EXACT within the cell's candidate set, ties
    * on the 6-dp cosine break by neighbor id — the [[bruteForceTopK]]
    * total order restricted to the blocked candidates, so the whole
    * graph is a pure function of the data and oracle-replayable.
    *
    * Rows in a singleton cell have no candidates and emit no edges —
    * the same convention as every blocked candidate generator here.
    * Output: (query_id, neighbor_id, cosine, rank), rank ≤ k.
    *
    * `nlist = 0` (the default) DERIVES the codebook size from a
    * corpus count: nlist = max(16, ceil(n / targetCellRows)). A fixed
    * nlist is not a 100×-safe default — cells hold n/nlist rows and
    * the same-cell self-join is Θ(n²/nlist) pairs, a quadratic blowup
    * the old 16-cell constant silently re-admitted after the
    * [[bruteForceTopK]] refusal closed the broadcast one. Deriving
    * from n pins the EXPECTED cell population at `targetCellRows`
    * regardless of corpus size, so the pair count stays Θ(n ·
    * targetCellRows) — linear in the corpus. The count is one cheap
    * bounded job at plan-build time (the [[bruteForceTopK]]
    * eager-guard precedent); pass an explicit nlist > 0 to skip it.
    */
  def cellBlockedTopK(
      corpus: DataFrame, idCol: String, vecCol: String, k: Int,
      nlist: Int = 0, targetCellRows: Long = 128L): DataFrame = {
    val nl = if (nlist > 0) nlist
      else derivedNlist(
        corpus.select(col(idCol)).count(), targetCellRows)
    val assigned = assignCellsSampledCodebook(corpus, idCol, vecCol, nl)
      .transform(Par.pin)
    rankCosine(
      assigned
        .select(col("cell"), col("id").as("query_id"), col("cv").as("qv"))
        .join(assigned.select(col("cell"), col("id").as("neighbor_id"),
          col("cv")), Seq("cell")),
      k)
  }

  /** Exact k-nearest-neighbor graph of a (bounded) point set by
    * squared euclidean distance — the input stage for t-SNE and other
    * manifold methods. Same plan shape as [[bruteForceTopK]]: the
    * point set is broadcast, scoring is map-side, and the per-query
    * bounded top-k aggregate caps the exchange at points×k rows
    * (score = −d², so "largest score" = "nearest"). Ties break on the
    * ascending neighbor id, deterministically.
    * Output: (query_id, neighbor_id, d2, rank), rank ≤ k.
    */
  def euclideanKnn(
      points: DataFrame, idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = points.select(col(idCol).as("query_id"), col(vecCol).as("qv"))
    val c = points.select(col(idCol).as("neighbor_id"), col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        negate(VectorFunctions.dist2(col("qv"), col("cv"))).as("cosine"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        negate(col("cosine")).as("d2"), col("rank"))
  }

  /** Hard-negative mining for embedding-model training: each query's
    * top-k most-similar corpus rows with a DIFFERENT label — the
    * "looks alike, isn't" pairs a contrastive trainer wants. The
    * label predicate is applied BEFORE the top-k aggregate, so the
    * result is the exact top-k of the filtered candidate set (not a
    * post-filtered top-k that can come up short).
    *
    * Exact brute-force kernel (queries broadcast, same shape as
    * [[bruteForceTopK]]); at corpus scale swap the candidate
    * generation for the IVF/LSH paths above and keep this label
    * filter + re-rank — the aggregate bound stays queries×k.
    */
  def hardNegatives(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, labelCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).as("query_id"),
      col(vecCol).as("qv"), col(labelCol).as("ql"))
    val c = corpus.select(col(idCol).as("neighbor_id"),
      col(vecCol).as("cv"), col(labelCol).as("cl"))
    rankCosine(
      c.crossJoin(broadcast(q)).filter(!(col("ql") <=> col("cl"))), k)
  }

  /** Bucket ids for all hash tables at once: `bits` sign bits of
    * seeded pseudo-random projections packed into a long per table —
    * the native codegen [[graft.functions.HyperplaneBucketsExpression]]
    * (one compiled pass over the vector; the earlier formulation ran
    * `bits × tables` interpreted `zip_with`/`aggregate` passes per row,
    * each allocating an intermediate array — HOFs don't codegen).
    */
  def hyperplaneBuckets(vec: Column, bits: Int, tables: Int): Column =
    graft.functions.hyperplane_buckets(vec, bits, tables)

  /** Approximate top-k: LSH-bucketed candidates, exact re-rank. */
  def lshTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      bits: Int = 8, tables: Int = 4): DataFrame = {
    def bucketed(df: DataFrame, idAs: String, vecAs: String): DataFrame =
      df.select(col(idCol).as(idAs), col(vecCol).as(vecAs),
        posexplode(hyperplaneBuckets(col(vecCol), bits, tables)))
        .withColumnRenamed("pos", "table").withColumnRenamed("col", "bucket")
    val qb = bucketed(queries, "query_id", "qv")
    val cb = bucketed(corpus, "neighbor_id", "cv")
    val cands = cb.join(broadcast(qb), Seq("table", "bucket"))
      .select(col("query_id"), col("qv"), col("neighbor_id"), col("cv"))
      .distinct()
    rankCosine(cands, k)
  }

  /** Codebook size from a corpus count: max(16, ceil(n /
    * targetCellRows)) — the scale rule behind [[cellBlockedTopK]]'s
    * auto mode. Pure arithmetic (callers supply the count), so specs
    * and oracles can replay the derivation exactly: DuckDB mirrors it
    * as GREATEST(16, CAST(CEIL(n / t) AS BIGINT)).
    */
  def derivedNlist(n: Long, targetCellRows: Long = 128L): Int = {
    require(targetCellRows >= 1, s"targetCellRows: $targetCellRows")
    math.max(16L, (n + targetCellRows - 1) / targetCellRows)
      .min(Int.MaxValue.toLong).toInt
  }

  /** Deterministic corpus-sampled codebook: the `nlist` smallest ids'
    * vectors. A pure function of the data — every consumer (ANN
    * probing, diversity sampling) is oracle-replayable. It carries no
    * broadcast hint: each join consumer broadcasts it, and
    * [[writeIvfIndex]] writes it (a hint outside a join logs Spark's
    * HintErrorLogger warning).
    */
  def sampledCodebook(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int)
      : DataFrame =
    corpus.select(col(idCol).cast("long").as("cell"),
        col(vecCol).as("centroid"))
      .orderBy(col("cell")).limit(nlist)

  /** Nearest-centroid cell assignment against the deterministic
    * sampled codebook: (id, cell, vec) per corpus row. Ties go to the
    * smaller cell id. max_by on (csim, -cell) keeps the aggregate
    * partial-merge friendly — no window, no corpus×nlist shuffle.
    */
  def assignCellsSampledCodebook(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int)
      : DataFrame =
    assignCellsTo(corpus, idCol, vecCol,
      sampledCodebook(corpus, idCol, vecCol, nlist))

  /** [[assignCellsSampledCodebook]] against a CALLER-SUPPLIED
    * codebook `centDf` (cell, centroid) — the shape needed when two
    * frames (e.g. the two modality towers of [[ModalAlign]]) must be
    * blocked into the SAME cell space: fit the codebook once over
    * their union, assign each side against it.
    */
  def assignCellsTo(
      corpus: DataFrame, idCol: String, vecCol: String,
      centDf: DataFrame): DataFrame =
    // widen a narrow scan first: the nlist-way cosine sweep per row
    // is the heavy map work of every cell-blocked consumer (§2.5)
    Par.widen(corpus).select(col(idCol).as("id"), col(vecCol).as("cv"))
      .crossJoin(broadcast(centDf))
      .withColumn("csim",
        round(VectorFunctions.cosine(col("cv"), col("centroid")), 6))
      .groupBy(col("id"))
      .agg(max_by(struct(col("cell"), col("cv")),
        struct(col("csim"), negate(col("cell")))).as("best"))
      .select(col("id"), col("best.cell").as("cell"),
        col("best.cv").as("cv"))

  /** Simplified (centroid-based) silhouette per cell over the
    * deterministic sampled-codebook assignment — the clustering-
    * quality gauge (Rousseeuw 1987, the medoid simplification):
    * per point, a = cosine distance to its OWN cell's centroid, b =
    * distance to the nearest OTHER centroid, s = (b−a)/max(a,b) ∈
    * [−1, 1]; a cell whose mean s approaches 0 is merging into a
    * neighbor — the signal for re-picking nlist. The true silhouette
    * needs all pairwise distances (quadratic and
    * order-float-fragile); against centroids it is one broadcast
    * nlist-cross per row, and mean_silhouette is the 6-dp/DECIMAL
    * order-free sum.
    *
    * Because the codebook is corpus-sampled, the codebook rows
    * themselves sit at a = 0 and score s = 1 (or 0 when two corpus
    * vectors tie at distance 0 — the degenerate-denominator
    * convention). Output: (cell, n, mean_silhouette).
    *
    * `nlist = 0` (the default) DERIVES the codebook size from the
    * corpus count — [[derivedNlist]], the same rule every other
    * kNN-family consumer follows (a fixed nlist is not 100×-safe:
    * cells hold n/nlist rows). Scale shape: full scoring is
    * Θ(n·nlist) candidate rows; once the derived nlist exceeds
    * `coarseThreshold` that itself stops being linear in n, so the
    * operator switches to a two-level coarse quantizer (the IVF-of-
    * the-codebook move): the nlist centroids are grouped into
    * ncoarse = derivedNlist(nlist) super-cells, each point scores
    * the ncoarse coarse centroids only (bounded top-2 aggregate) and
    * then scores just the centroids of its top-2 coarse cells —
    * Θ(n·(ncoarse + 2·targetCellRows)) work, linear in n again. The
    * candidate join is deliberately un-hinted: the per-coarse-cell
    * centroid table is codebook-sized, so AQE broadcasts it while it
    * fits and shuffles on the coarse cell id when it no longer does.
    * Top-2 pruning is the standard IVF approximation (the true
    * nearest-other centroid can hide in a third coarse cell);
    * SilhouetteSpec pins agreement with full scoring on a fixture.
    */
  def silhouetteSampledCodebook(
      corpus: DataFrame, idCol: String, vecCol: String, nlist: Int = 0,
      targetCellRows: Long = 128L, coarseThreshold: Int = 256)
      : DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val nl = if (nlist > 0) nlist
      else derivedNlist(corpus.select(col(idCol)).count(), targetCellRows)
    val centDf = sampledCodebook(corpus, idCol, vecCol, nl)
    val rows = corpus
      .select(col(idCol).cast("long").as("__id"), col(vecCol).as("__v"))
    val candidates =
      if (nl <= coarseThreshold)
        rows.crossJoin(broadcast(centDf))
          .select(col("__id"), col("__v"), col("cell"), col("centroid"))
      else {
        val ncoarse = derivedNlist(nl.toLong, targetCellRows)
        val coarse = sampledCodebook(centDf, "cell", "centroid", ncoarse)
          .select(col("cell").as("ccell"), col("centroid").as("ccent"))
        // each fine centroid lands in its nearest coarse cell (ties
        // to the smaller ccell — the assignCellsTo convention)
        val centAssigned = broadcast(centDf).crossJoin(broadcast(coarse))
          .withColumn("__cc",
            round(VectorFunctions.cosine(col("centroid"), col("ccent")), 6))
          .groupBy(col("cell"))
          .agg(max_by(struct(col("ccell"), col("centroid")),
            struct(col("__cc"), negate(col("ccell")))).as("__b"))
          .select(col("__b.ccell").as("ccell"), col("cell"),
            col("__b.centroid").as("centroid"))
        // per point: top-2 coarse cells via the bounded aggregate
        val probes = rows.crossJoin(broadcast(coarse))
          .withColumn("__cc",
            round(VectorFunctions.cosine(col("__v"), col("ccent")), 6))
          .groupBy(col("__id"))
          .agg(graft.functions.top_k_by(col("__cc"), col("ccell"), 2)
              .as("__top"),
            first(col("__v")).as("__v"))
          .select(col("__id"), col("__v"),
            explode(col("__top")).as("__p"))
          .select(col("__id"), col("__v"), col("__p.id").as("ccell"))
        probes.join(centAssigned, Seq("ccell"))
          .select(col("__id"), col("__v"), col("cell"), col("centroid"))
      }
    val sims = candidates
      .select(col("__id"), col("cell"),
        round(VectorFunctions.cosine(col("__v"), col("centroid")), 6)
          .as("__c"))
    val top2 = sims
      .groupBy(col("__id"))
      // bounded top-2 aggregate, (csim desc, cell asc) — the same
      // total order the old nlist-wide sort_array(collect_list) gave,
      // with k-capped partial buffers instead of nlist-wide arrays
      .agg(graft.functions.top_k_by(col("__c"), col("cell"), 2)
        .as("__t"))
      .select(col("__id"),
        col("__t")(0)("id").as("cell"),
        col("__t")(0)("score").as("__c1"),
        col("__t")(1)("score").as("__c2"))
    val a = lit(1.0) - col("__c1")
    val b = lit(1.0) - col("__c2")
    val s = when(greatest(a, b) === 0.0, lit(0.0))
      .otherwise((col("__c1") - col("__c2")) / greatest(a, b))
    top2
      .select(col("cell"), round(s, 6).as("__s"))
      .groupBy(col("cell"))
      .agg(count(lit(1)).as("n"),
        sum(col("__s").cast(DecimalType(38, 12))).as("__sum"))
      .select(col("cell"), col("n"),
        round(col("__sum").cast("double") / col("n"), 6)
          .as("mean_silhouette"))
  }

  /** IVF top-k with a DETERMINISTIC corpus-sampled codebook: the
    * centroids are the `nlist` corpus rows with the smallest ids (no
    * k-means fit, no seed). Cell assignment, multi-cell probing,
    * candidate join and exact re-rank are each a pure function of the
    * data, so the whole search (and its recall against
    * [[bruteForceTopK]]) is SQL-expressible and oracle-checkable;
    * `q_ann_recall` pins it.
    *
    * Plan shape is the scale shape: the codebook is broadcast (nlist
    * rows), corpus assignment is one map-side cross-join + partial
    * `max_by` aggregate (shuffle carries ONE row per corpus vector,
    * not nlist), probes broadcast, and the candidate join shuffles the
    * corpus only on its cell id. Cosines are rounded to 6 decimals
    * BEFORE every argmax/rank so tie-breaks (asc cell / asc neighbor)
    * are reproducible across engines.
    *
    * `nlist = 0` (the default) DERIVES the codebook size from the
    * corpus count via [[derivedNlist]] — the kNN-family scale rule:
    * a fixed nlist makes per-query candidate lists grow linearly
    * with cell size (n/nlist), defeating the population bound.
    */
  def ivfTopKSampledCodebook(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int,
      nlist: Int = 0, nprobe: Int = 4): DataFrame = {
    // 0 is the ONLY derive sentinel; an accidental negative must not
    // silently mean "derive" (r14 advice). NOTE the default changed
    // 16 → 0 in r14: callers relying on a fixed 16-cell codebook now
    // get a derived size plus one eager corpus-count job.
    require(nlist >= 0, s"nlist must be >= 0 (0 = derive), got $nlist")
    val nl = if (nlist > 0) nlist
      else derivedNlist(corpus.select(col(idCol)).count())
    val centDf = sampledCodebook(corpus, idCol, vecCol, nl)
    val assigned =
      assignCellsSampledCodebook(corpus, idCol, vecCol, nl)
        .withColumnRenamed("id", "neighbor_id")
    ivfSearch(assigned, centDf,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      k, nprobe)
  }

  /** Each row's `nprobe` nearest cells of the codebook `centDf`
    * (cell, centroid): the bounded top-k aggregate over the 6-dp
    * rounded cosine, in the (csim desc, cell asc) order a rank window
    * would give. `rows` = (idCol, vecCol) with unique ids; output =
    * (idCol, vecCol, cell), one row per probed cell.
    */
  private def probeCells(
      rows: DataFrame, idCol: String, vecCol: String,
      centDf: DataFrame, nprobe: Int): DataFrame =
    rows.crossJoin(broadcast(centDf))
      .withColumn("csim",
        round(VectorFunctions.cosine(col(vecCol), col("centroid")), 6))
      .groupBy(col(idCol))
      .agg(graft.functions.top_k_by(col("csim"), col("cell"), nprobe)
          .as("top"),
        first(col(vecCol)).as(vecCol))
      .select(col(idCol), col(vecCol), explode(col("top")).as("probe"))
      .select(col(idCol), col(vecCol), col("probe.id").as("cell"))

  /** The IVF probe-and-rerank tail, shared by the live path and the
    * persisted-index path: nprobe nearest cells per query
    * ([[probeCells]]), candidate join on the cell id, exact cosine
    * re-rank. `assigned` = (neighbor_id, cell, cv); `centDf` =
    * (cell, centroid), broadcast-sized.
    */
  private def ivfSearch(
      assigned: DataFrame, centDf: DataFrame,
      q: DataFrame, k: Int, nprobe: Int): DataFrame = {
    val probes = probeCells(q, "query_id", "qv", centDf, nprobe)
    // `probes` is queries×nprobe rows — broadcastable because ANN
    // queries are a workload, not the corpus. If queries ever became
    // corpus-sized (all-pairs search), drop the hint and shuffle the
    // join on `cell` instead.
    rankCosine(assigned.join(broadcast(probes), Seq("cell")), k)
  }

  /** Persist the IVF index — codebook (nlist rows) and cell-assigned
    * corpus — as parquet under `dir`. The build-once half of the
    * build-once/query-many deployment shape (the ANN twin of the
    * dedup signature store): index maintenance is a write-time cost,
    * query latency never pays the assignment pass again.
    */
  def writeIvfIndex(
      corpus: DataFrame, idCol: String, vecCol: String,
      nlist: Int, dir: String): Unit = {
    sampledCodebook(corpus, idCol, vecCol, nlist)
      .write.mode("overwrite").parquet(s"$dir/codebook")
    assignCellsSampledCodebook(corpus, idCol, vecCol, nlist)
      .write.mode("overwrite").parquet(s"$dir/assignments")
  }

  /** Query a persisted IVF index: identical results to
    * [[ivfTopKSampledCodebook]] over the corpus the index was built
    * from (IvfIndexSpec proves the round-trip), with zero corpus
    * scans at query time — the scan reads only the assignment store,
    * and partition pruning applies if it was written bucketed or
    * partitioned by cell.
    */
  def ivfTopKFromIndex(
      queries: DataFrame, idCol: String, vecCol: String,
      k: Int, nprobe: Int, dir: String): DataFrame = {
    val spark = queries.sparkSession
    val centDf = spark.read.parquet(s"$dir/codebook")
    val assigned = spark.read.parquet(s"$dir/assignments")
      .withColumnRenamed("id", "neighbor_id")
    ivfSearch(assigned, centDf,
      queries.select(col(idCol).as("query_id"), col(vecCol).as("qv")),
      k, nprobe)
  }

  /** Exact L2 top-k of `queries` against `corpus` — the ground truth
    * the PQ/ADC path is measured against. Distances snap to the
    * micro lattice before ranking (the [[ProductQuantization]]
    * convention), so rank + emitted distance are cross-engine longs.
    * Output: (query_id, neighbor_id, dist_micro, rank).
    */
  def euclideanTopK(
      queries: DataFrame, corpus: DataFrame,
      idCol: String, vecCol: String, k: Int): DataFrame = {
    val q = queries.select(col(idCol).cast("long").as("query_id"),
      col(vecCol).as("qv"))
    val c = corpus.select(col(idCol).cast("long").as("neighbor_id"),
      col(vecCol).as("cv"))
    val scored = c.crossJoin(broadcast(q))
      .filter(col("query_id") =!= col("neighbor_id"))
      .select(col("query_id"), col("neighbor_id"),
        negate(round(VectorFunctions.dist2(col("qv"), col("cv")) * lit(1e6))
          .cast("long")).cast("double").as("cosine"))
    topKPerQuery(scored, k)
      .select(col("query_id"), col("neighbor_id"),
        negate(col("cosine")).cast("long").as("dist_micro"), col("rank"))
  }

  /** Per-query recall@k of an approximate top-k result against the
    * exact one: |approx ∩ exact| / |exact| per query id. Both inputs
    * are (query_id, neighbor_id, ...) frames as produced by the topK
    * methods here.
    */
  def recallAtK(exact: DataFrame, approx: DataFrame): DataFrame =
    exact.select(col("query_id"), col("neighbor_id"))
      .join(approx.select(col("query_id"), col("neighbor_id"))
          .withColumn("__hit", lit(1L)),
        Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg((sum(coalesce(col("__hit"), lit(0L))).cast("double")
        / count(lit(1)).cast("double")).as("recall"))
      .orderBy(col("query_id"))

  /** Position discounts 1/log2(rank+1) for NDCG, in integer
    * nanounits — shared between [[retrievalMetrics]] and its SQL
    * oracle so both engines use the SAME constants and never call
    * log at query time. StrictMath.log (the Tsne bit-reproducibility
    * convention), not math.log: Math.log is an intrinsic with 1-ulp
    * latitude across JVMs/ISAs, so a discount landing within half a
    * nano-unit of a rounding boundary could differ between
    * platforms; StrictMath is specified bit-for-bit everywhere.
    */
  def ndcgDiscountsNano(k: Int): Seq[Long] =
    (1 to k).map(i =>
      math.round(1e9 * StrictMath.log(2) / StrictMath.log(i + 1.0)))

  /** Retrieval quality of an approximate top-k against the exact one,
    * per query, entirely on integer lattices (exact in both engines —
    * no float aggregation): `hits` = |approx ∩ exact|, `mrr_micro` =
    * ⌊1e6 / first-hit-rank⌋ (0 when nothing relevant was retrieved),
    * `ndcg_ppb` = ⌊dcg·1e9 / idcg⌋ with binary relevance (membership
    * in the exact top-k) and the standard 1/log2(rank+1) discounts.
    * Both inputs are (query_id, neighbor_id, …, rank) frames as the
    * topK methods produce; `k` is the ranking depth of both.
    *
    * One broadcast-joinable hit-mark join + one partial-aggregate
    * pass — queries×k rows end to end.
    */
  def retrievalMetrics(exact: DataFrame, approx: DataFrame, k: Int)
      : DataFrame = {
    val discounts = ndcgDiscountsNano(k)
    val idcg = discounts.sum
    val dArr = array(discounts.map(lit): _*)
    val hits = exact
      .select(col("query_id"), col("neighbor_id"), lit(1L).as("__hit"))
    approx.select(col("query_id"), col("neighbor_id"), col("rank"))
      .join(hits, Seq("query_id", "neighbor_id"), "left_outer")
      .groupBy(col("query_id"))
      .agg(
        sum(coalesce(col("__hit"), lit(0L))).as("hits"),
        min(when(col("__hit").isNotNull, col("rank"))).as("__fh"),
        sum(when(col("__hit").isNotNull,
            element_at(dArr, col("rank").cast("int")))
          .otherwise(lit(0L))).as("__dcg"))
      .select(col("query_id"), col("hits"),
        coalesce(expr("1000000 div __fh"), lit(0L)).as("mrr_micro"),
        expr(s"(__dcg * 1000000000) div ${idcg}L").as("ndcg_ppb"))
      .orderBy(col("query_id"))
  }

  /** Exact most-similar pairs in a corpus (cross-join; quadratic —
    * small corpora or within-bucket use only; [[nearDupPairsIvf]] is
    * the scale route). Ground-truth helper for the approximate paths.
    */
  def topSimilarPairs(
      df: DataFrame, idCol: String, vecCol: String, topN: Int): DataFrame = {
    val a = df.select(col(idCol).as("id_a"), col(vecCol).as("va"))
    val b = df.select(col(idCol).as("id_b"), col(vecCol).as("vb"))
    a.join(broadcast(b), col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("cosine"))
      .orderBy(desc("cosine"), asc("id_a"), asc("id_b"))
      .limit(topN)
  }

  /** Top-N most-cosine-similar pairs via IVF cell blocking — the scale
    * path for embedding near-dup detection (vs [[topSimilarPairs]]'
    * all-pairs cross-join):
    *
    *  1. take the deterministic sampled codebook ([[sampledCodebook]]:
    *     the `nlist` smallest ids' vectors — no k-means fit, no seed);
    *  2. replicate each vector into its `nprobe` nearest cells by
    *     6-dp cosine, ties to the smaller cell (multi-probe indexing:
    *     a pair is a candidate when the two probe sets share a cell);
    *  3. self-join *within cells only* (the shuffle key is the cell
    *     id — the corpus is never cross-joined or driver-broadcast),
    *     exact cosine re-rank, partial per-partition top-N
    *     (`TakeOrderedAndProject`), global top-N.
    *
    * Candidate volume is Σ cells g² with g ≈ n·nprobe/nlist; growing
    * `nlist` with the corpus keeps g — and so per-task work — bounded.
    * Recall: a top pair is missed only if its two probe sets are
    * disjoint; at the default 6-of-16 probes this is vanishing for
    * genuinely near vectors (`q_dedup_embedding`, whose oracle is the
    * exact all-pairs answer, matches it at sf0.001, sf0.01 and sf0.1,
    * where even the statistical-extreme pairs at cosine ≈0.43 are all
    * recalled). Exact global top-N over *unstructured* dense vectors
    * has no sub-quadratic algorithm; for corpora with real near-dup
    * structure the probe sets of a dup pair share their nearest cell
    * almost surely.
    */
  def nearDupPairsIvf(
      df: DataFrame, idCol: String, vecCol: String, topN: Int,
      nlist: Int = 0, nprobe: Int = 6): DataFrame = {
    val base = df.select(col(idCol).as("id"), col(vecCol).as("v"))
    // nlist = 0 derives k from the corpus count (the cellBlockedTopK
    // scale rule): fixed k makes the within-cell self-join quadratic
    // at 100x; derived k pins expected cell population instead.
    val nl = if (nlist > 0) nlist
      else derivedNlist(df.select(col(idCol)).count())
    val centDf = sampledCodebook(df, idCol, vecCol, nl)
    // Both sides of the within-cell self-join read `probed` — the
    // LAZY persist is deliberate and r20-measured, unlike the minhash
    // sites: the duplication it pays (crossJoin-broadcast + probe
    // ranking, concurrently materialized by both join sides) is cheap,
    // while the cached plan's exemption from AQE partition coalescing
    // keeps the CPU-heavy within-cell pair stage at the session width
    // for free. Both eager variants measured net-negative: a plain
    // localCheckpoint let AQE squeeze the pair stage to 2 tasks
    // (6.5 s, 30 cores idle) and checkpoint+explicit-width still ran
    // ~25% behind the cache (2.88 vs 2.23 s matched benches — the
    // wider layout weakens the distinct's map-side collapse, 43→67 MB
    // shuffled). The tiny top-N result is sealed eagerly and the
    // probe cache released before returning (Par.sealAndRelease).
    val probed = probeCells(base, "id", "v", centDf, nprobe)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val top = probed
      .select(col("cell"), col("id").as("id_a"), col("v").as("va"))
      .join(probed.select(col("cell"), col("id").as("id_b"), col("v").as("vb")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .select(col("id_a"), col("id_b"),
        round(VectorFunctions.cosine(col("va"), col("vb")), 6).as("cosine"))
      .distinct() // a pair may share several probe cells
      .orderBy(desc("cosine"), asc("id_a"), asc("id_b"))
      .limit(topN)
    Par.sealAndRelease(top, probed)
  }

  /** SemDeDup-style semantic deduplication (Abbas et al. 2023):
    * cluster the corpus, call two documents semantic duplicates when
    * their embedding cosine within a shared cluster reaches `tau`, and
    * of each duplicate pair KEEP the one farther from the centroid —
    * pruning redundant near-centroid copies while preserving the
    * cluster's outliers (the paper's keep rule, which measurably
    * beats keep-random for downstream training).
    *
    * Decision rule, made deterministic and order-free: a document is
    * dropped iff SOME same-cell neighbor at cosine ≥ tau dominates it
    * under (centroid-cosine asc, id asc) — i.e. the neighbor is
    * strictly farther from the centroid, or equally far with a
    * smaller id. Survivors are exactly the per-duplicate-relation
    * minimal elements; no iterative sweep, so the result is a pure
    * function of the data (and therefore oracle-replayable).
    *
    * Scale shape: clustering is the deterministic sampled codebook
    * (broadcast, nlist rows) + one partial-aggregate assignment pass;
    * the pair search self-joins WITHIN cells only (shuffle key =
    * cell id, candidate volume Σ g² — grow `nlist` with the corpus to
    * bound g); the verdict is a group-sized distinct + one anti-ish
    * left join back to the corpus-sized assignment. Nothing is ever
    * all-pairs, driver-collected, or corpus-broadcast.
    *
    * Returns one row per document: (id, cell, csim, dropped) where
    * `csim` is the 6-dp-rounded cosine to the assigned centroid.
    */
  def semanticDedup(
      df: DataFrame, idCol: String, vecCol: String,
      tau: Double, nlist: Int = 0): DataFrame = {
    // nlist = 0 derives the codebook size from the corpus count (the
    // cellBlockedTopK scale rule) — the scaladoc's "grow nlist with
    // the corpus" is now the default, not advice the caller must
    // remember; the oracle replays the same derivation.
    val nl = if (nlist > 0) nlist
      else derivedNlist(df.select(col(idCol)).count())
    val centDf = sampledCodebook(df, idCol, vecCol, nl)
    // (id, cell, cv, csim): assignment + cosine to the OWN centroid.
    // three consumers (both self-join sides + the final verdict
    // join): pinned so assignment runs once
    val assigned = assignCellsSampledCodebook(df, idCol, vecCol, nl)
      .join(broadcast(centDf), Seq("cell"))
      .withColumn("csim",
        round(VectorFunctions.cosine(col("cv"), col("centroid")), 6))
      .select(col("id"), col("cell"), col("cv"), col("csim"))
      .transform(Par.pin)
    val pairs = assigned
      .select(col("cell"), col("id").as("id_a"), col("cv").as("va"),
        col("csim").as("ca"))
      .join(assigned.select(col("cell"), col("id").as("id_b"),
          col("cv").as("vb"), col("csim").as("cb")),
        Seq("cell"))
      .filter(col("id_a") < col("id_b"))
      .filter(round(VectorFunctions.cosine(col("va"), col("vb")), 6)
        >= lit(tau))
    // Of each duplicate pair the nearer-to-centroid side is dropped;
    // ties drop the larger id (with a < b: ca <= cb drops b).
    val dropped = pairs
      .select(when(col("ca") <= col("cb"), col("id_b"))
        .otherwise(col("id_a")).as("id"))
      .distinct()
    val out = assigned.select(col("id"), col("cell"), col("csim"))
      .join(dropped.withColumn("__hit", lit(true)), Seq("id"), "left_outer")
      .select(col("id"), col("cell"), col("csim"),
        coalesce(col("__hit"), lit(false)).as("dropped"))
      .orderBy(col("id"))
    Par.sealAndRelease(out, assigned)
  }
}
