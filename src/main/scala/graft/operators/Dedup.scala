package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Deduplication operators for large-scale training-data pipelines:
  * exact (hash-group), exact n-gram Jaccard (inverted shingle index),
  * MinHash+LSH banding (the scale path), and SimHash blocking.
  *
  * Scale design notes (100 TB):
  *  - Nothing here ever cross-joins the corpus. Pair generation always
  *    goes through an inverted index (shingle or LSH bucket) so the
  *    shuffle key is the shingle/bucket, and candidate pairs are a tiny
  *    fraction of n².
  *  - Shingling is relational (posexplode + lead window) and minhash
  *    signatures are a single groupBy with from-the-map-side-combined
  *    `min(xxhash64(seed, shingle))` aggregates — both linear in input
  *    size. (An earlier nested higher-order-function formulation was
  *    quadratic per row: Catalyst inlines the array expression into
  *    every lambda evaluation and HOFs don't codegen. Don't reference
  *    a computed array inside its own transform lambda.)
  *  - Hot shingles (stop-phrases) are the classic skew hazard; cap
  *    them with `maxShingleDocFreq`, which drops shingles whose doc
  *    frequency exceeds the cap before the self-join (standard
  *    practice; similarity then reflects the capped sets).
  */
object Dedup {

  /** Exact duplicate groups by content hash: one row per distinct
    * text, the kept (minimum) id and the copy count.
    */
  def exactDuplicates(df: DataFrame, idCol: String, textCol: String)
      : DataFrame =
    df.groupBy(md5(col(textCol)).as("text_md5"))
      .agg(min(col(idCol)).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Single-pass distinct k-gram shingling of one token array —
    * per-row compiled Scala, no shuffle. (A relational formulation via
    * posexplode + lead windows + distinct costs two shuffles of the
    * exploded corpus for what is inherently per-row work; a nested
    * higher-order-function formulation is quadratic because Catalyst
    * re-evaluates the inlined array per lambda element.)
    */
  /** Distinct (id, shingle) word k-grams — the native
    * [[graft.functions.WordShingles]] kernel (round 19): the former
    * UDF here fronted EVERY dedup chain and paid an encoder
    * round-trip plus a codegen fence per row on the corpus-wide
    * shingling scan.
    */
  def shingleSets(
      df: DataFrame, idCol: String, tokensCol: String, k: Int): DataFrame =
    // widen a narrow scan first: shingling fronts every dedup chain
    // and its downstream hash lattices (16 md5/xxh per shingle) are
    // the CPU-heavy map work a single-split input would serialize
    // (guide §2.5; measured 16.3 s single-task in the r19 profile)
    Par.widen(df).select(col(idCol).as("id"),
      explode(graft.functions.word_shingles(col(tokensCol), k))
        .as("shingle"))

  /** Exact all-pairs Jaccard ≥ minJaccard over shingle sets, via the
    * inverted index: join docs that share a shingle, count the
    * intersection, compute |A∩B| / (|A|+|B|−|A∩B|).
    */
  def jaccardPairs(
      shingles: DataFrame,
      minJaccard: Double,
      maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val capped = cappedPinned(shingles, maxShingleDocFreq)
    jaccardOf(pairCounts(capped), sizesOf(capped))
      .filter(col("jaccard") >= minJaccard)
  }

  /** The shingle frame every pair kernel reads, hot shingles (doc
    * frequency above `maxShingleDocFreq`) dropped, pinned once.
    *
    * Pinned (r20, the weightedJaccardPairs finding): the kernels read
    * it from three or four consumers (both pair-join sides, the size
    * or weight passes), each with a DIFFERENT pruned column set, so
    * their scan subtrees canonicalize differently and exchange reuse
    * cannot dedupe them — profiled r20 as a full shingle-pipeline
    * execution per consumer (3× ~0.4-0.7 s shingle stages on
    * q_dedup_containment/q_dedup_sources).
    */
  private def cappedPinned(
      shingles: DataFrame, maxShingleDocFreq: Option[Int]): DataFrame =
    Par.pin(maxShingleDocFreq.fold(shingles) { cap =>
      val hot = shingles.groupBy(col("shingle"))
        .agg(count(lit(1)).as("df")).filter(col("df") > cap)
        .select("shingle")
      shingles.join(broadcast(hot), Seq("shingle"), "left_anti")
    })

  /** Asymmetric near-SUBSET pairs: containment |A∩B| / min(|A|,|B|)
    * ≥ `minContainment`. Jaccard alone misses the
    * boilerplate-wrapper case — a doc quoted whole inside a larger
    * page has containment ≈ 1 but Jaccard |A∩B|/|A∪B| arbitrarily
    * low, so a Jaccard-threshold dedup keeps both copies (Lee et al.
    * 2022 motivate exact-substring dedup with the same failure).
    * Emits both metrics on the 6-dp lattice so the caller can see
    * WHICH criterion fired.
    *
    * Same scale shape as [[jaccardPairs]]: inverted shingle index,
    * hot-shingle cap, candidate pairs only where a shingle is
    * shared — never doc × doc.
    */
  def containmentPairs(
      shingles: DataFrame,
      minContainment: Double,
      maxShingleDocFreq: Option[Int] = None): DataFrame = {
    val capped = cappedPinned(shingles, maxShingleDocFreq)
    withSizes(pairCounts(capped), sizesOf(capped))
      .select(col("id_a"), col("id_b"),
        round(col("i").cast("double") /
          least(col("na"), col("nb")).cast("double"), 6).as("containment"),
        round(col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double"), 6).as("jaccard"))
      .filter(col("containment") >= minContainment)
  }

  /** IDF-WEIGHTED Jaccard pairs: near-dup scoring where rare shingles
    * count more than ubiquitous ones —
    *
    *   J_w(A,B) = Σ_{s∈A∩B} w_s / Σ_{s∈A∪B} w_s,
    *   w_s = round(log10(N/df_s)·10⁶)
    *
    * Unweighted Jaccard saturates on boilerplate: two distinct news
    * articles sharing a site template score high because template
    * shingles dominate the union. Down-weighting by idf (SpotSigs,
    * Theobald et al. 2008 use the same idea) makes the score track
    * the DISTINCTIVE overlap. Weights ride the bm25 idf micro-lattice
    * (the one non-correctly-rounded op, log10, is snapped once), so
    * intersection and per-doc weight totals are exact LONG sums —
    * order-free — and only the final ratio is a double.
    *
    * Scale shape identical to [[jaccardPairs]]: inverted shingle
    * index with the hot-shingle cap, pairs only where a shingle is
    * shared. The df/N pass reuses the same index frame; N travels as
    * a broadcast 1-row frame, never a driver action.
    */
  def weightedJaccardPairs(
      shingles: DataFrame,
      minWeightedJaccard: Double,
      maxShingleDocFreq: Option[Int] = None): DataFrame = {
    // three consumers (docFreq, nDocs, the weighting join)
    val capped = cappedPinned(shingles, maxShingleDocFreq)
    val docFreq = capped.groupBy(col("shingle"))
      .agg(count(lit(1)).as("__df"))
    val nDocs = capped.select(col("id")).distinct()
      .agg(count(lit(1)).as("__n_docs"))
    val weighted = capped
      .join(docFreq, "shingle")
      .crossJoin(broadcast(nDocs))
      .select(col("id"), col("shingle"),
        round(log10(col("__n_docs").cast("double") /
          col("__df").cast("double")) * lit(1e6)).cast("long").as("__w"))
    val wSizes = weighted.groupBy(col("id")).agg(sum(col("__w")).as("n"))
    val wInter = weighted.as("a")
      .join(weighted.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(sum(col("a.__w")).as("iw"))
    withSizes(wInter, wSizes)
      .select(col("id_a"), col("id_b"),
        round(col("iw").cast("double") /
          (col("na") + col("nb") - col("iw")).cast("double"), 6)
          .as("weighted_jaccard"))
      .filter(col("weighted_jaccard") >= minWeightedJaccard)
  }

  private def sizesOf(shingles: DataFrame): DataFrame =
    shingles.groupBy(col("id")).agg(count(lit(1)).as("n"))

  private def pairCounts(shingles: DataFrame): DataFrame =
    shingles.as("a")
      .join(shingles.as("b"),
        col("a.shingle") === col("b.shingle") && col("a.id") < col("b.id"))
      .groupBy(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .agg(count(lit(1)).as("i"))

  /** Both endpoints' sizes on a pair frame: `sizes` holds one
    * (id, n) row per doc, the result gains `na` for `id_a` and `nb`
    * for `id_b`.
    */
  private def withSizes(pairs: DataFrame, sizes: DataFrame): DataFrame =
    pairs
      .join(sizes.withColumnRenamed("id", "id_a")
        .withColumnRenamed("n", "na"), "id_a")
      .join(sizes.withColumnRenamed("id", "id_b")
        .withColumnRenamed("n", "nb"), "id_b")

  private def jaccardOf(inter: DataFrame, sizes: DataFrame): DataFrame =
    withSizes(inter, sizes)
      .select(col("id_a"), col("id_b"),
        (col("i").cast("double") /
          (col("na") + col("nb") - col("i")).cast("double")).as("jaccard"))

  /** MinHash estimator-quality audit: for every exact-Jaccard pair at
    * or above `minExactPpm`, the md5-lattice MinHash estimate beside
    * the exact value — the calibration table that answers "are 16
    * hashes enough at my threshold?" with measurements instead of
    * the 1/√k folklore bound, BEFORE committing a 100-TB dedup run
    * to a signature width. (The production signatures use xxhash64
    * ([[minhashBuckets]]); the estimator's algebra is hash-agnostic,
    * and the md5 lattice is the engine's replayable-draw convention,
    * so the whole audit is oracle-checkable.)
    *
    * Everything is integer: exact_ppm = ⌊i·10⁶/union⌋ from the
    * inverted-index counts, est_ppm = ⌊matches·10⁶/numHashes⌋ from
    * per-seed signature agreement, err_ppm = |est − exact|. Scale
    * shape: signatures use the same [[graft.functions.ElementwiseMin]]
    * fold as [[minhashBuckets]] (one numHashes-long buffer per doc,
    * map-side combined — never shingles×numHashes exploded rows), so
    * the signature table is ONE array row per doc and the agreement
    * join ships one array per side over the ALREADY-BOUNDED exact
    * pair list, never doc×doc; per-pair agreement is a single fused
    * zip_with/aggregate expression over the two arrays.
    */
  def minhashCalibration(
      shingles: DataFrame, numHashes: Int, minExactPpm: Long): DataFrame = {
    require(numHashes >= 1 && numHashes <= 512, s"numHashes: $numHashes")
    require(minExactPpm >= 0 && minExactPpm <= 1000000L,
      s"minExactPpm: $minExactPpm")
    val sh = Par.pin(shingles)
    val exact = withSizes(pairCounts(sh), sizesOf(sh))
      .withColumn("exact_ppm",
        expr("(i * CAST(1000000 AS BIGINT)) div (na + nb - i)"))
      .filter(col("exact_ppm") >= minExactPpm)
      .select(col("id_a"), col("id_b"), col("exact_ppm"))
    // same md5 lattice, reformulated like minhashBuckets: each
    // shingle row computes its numHashes-long array once and the
    // ElementwiseMin fold combines them per doc — bit-identical
    // signatures (per-seed min over the same values), one array row
    // per doc instead of numHashes narrow rows
    val sigs = md5LatticeSignatures(sh, numHashes)
    exact
      .join(sigs.select(col("id").as("id_a"), col("sig").as("sa")),
        Seq("id_a"))
      .join(sigs.select(col("id").as("id_b"), col("sig").as("sb")),
        Seq("id_b"))
      .select(col("id_a"), col("id_b"), col("exact_ppm"),
        expr("(aggregate(zip_with(sa, sb, " +
          "(a, b) -> CAST(CASE WHEN a = b THEN 1 ELSE 0 END AS BIGINT))," +
          " CAST(0 AS BIGINT), (acc, x) -> acc + x) " +
          s"* CAST(1000000 AS BIGINT)) div $numHashes")
          .as("est_ppm"))
      .withColumn("err_ppm", abs(col("est_ppm") - col("exact_ppm")))
  }

  /** MinHash signatures from a shingle-set DataFrame.
    *
    * Formulation matters here: each (id, shingle) row computes its
    * numHashes-long xxhash64 array once, and ONE
    * [[graft.functions.ElementwiseMin]] imperative aggregate folds the
    * arrays per doc — one update call per shingle row, map-side
    * partial combine shipping one numHashes-long buffer per (doc, map
    * partition). Three rejected alternatives, measured: posexplode to
    * narrow (id, seed, hash) rows + plain `min` (correct, but
    * materializes shingles × numHashes rows through the aggregate —
    * 256M updates at the 8M-shingle scale witness; this formulation
    * replaced it in round 16 with bit-identical signatures,
    * MinhashSigSpec-pinned); numHashes separate `min(...)` columns
    * (the whole-stage class is so large janino compilation dominates
    * — minutes); a typed Scala Aggregator UDAF (avoids the codegen
    * blowup but pays per-row encoder overhead, ~10× slower).
    * Output: (id, band, key) bucket rows.
    */
  /** The per-doc ElementwiseMin signature fold — the ONE definition
    * every signature consumer goes through (the [[bucketPairs]] /
    * [[cooledBuckets]] rationale: two inlined copies of the fold
    * would let an edit desynchronize calibration signatures from
    * bucket signatures while both still compile). `hs` is the
    * per-shingle-row hash-array column; elements must be inferred
    * non-nullable (ElementwiseMin's analysis gate).
    */
  private def signatureFold(shingles: DataFrame, hs: Column): DataFrame =
    shingles.select(col("id"), hs.as("hs"))
      .groupBy(col("id"))
      .agg(graft.functions.elementwise_min(col("hs")).as("sig"))

  /** Per-doc MinHash signatures on the md5 REPLAYABLE-DRAW lattice
    * (the engine's oracle-checkable hash convention, vs xxhash64 for
    * production buckets): sig[s] = min over shingles of the first 15
    * hex digits of md5(s ++ ":" ++ shingle). Shared by
    * [[minhashCalibration]] and `q_lsh_operating_point` — same
    * single-definition rule as [[signatureFold]]. The coalesce(…,
    * MaxValue) only flips Catalyst's nullability inference
    * (shingles are never null, and MaxValue is min's identity).
    */
  private[graft] def md5LatticeSignatures(
      shingles: DataFrame, numHashes: Int): DataFrame =
    signatureFold(shingles,
      transform(sequence(lit(0), lit(numHashes - 1)), s =>
        coalesce(conv(substring(md5(concat(s.cast("string"), lit(":"),
          col("shingle"))), 1, 15), 16, 10).cast("long"),
          lit(Long.MaxValue))))

  def minhashBuckets(
      shingles: DataFrame, bands: Int, rowsPerBand: Int): DataFrame = {
    val numHashes = bands * rowsPerBand
    val seeds = sequence(lit(0), lit(numHashes - 1))
    val sigs = signatureFold(shingles,
      transform(seeds, s => xxhash64(s, col("shingle"))))
    val bandKeys = (0 until bands).map { b =>
      xxhash64((b * rowsPerBand until (b + 1) * rowsPerBand)
        .map(s => col("sig")(s)): _*)
    }
    sigs.select(col("id"), posexplode(array(bandKeys: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
  }

  /** LSH banding: candidate pairs = docs agreeing on at least one
    * band key. The self-join shuffles on (band, key) — never the
    * full corpus. Buckets larger than `maxBucketSize` are dropped
    * before the join (hot buckets arise when corpus-common shingles
    * dominate the min-hashes; a bucket of g docs contributes g² join
    * rows while genuinely near-duplicate pairs still collide in their
    * other, unsaturated bands).
    */
  def minhashCandidatePairs(
      shingles: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int = 100): DataFrame = {
    // three consumers (hot-bucket agg + both self-join sides):
    // pinned so the signature pipeline runs once (profiled r20 as
    // twin ~900 ms signatureFold stages on q_dedup_incremental)
    val buckets = minhashBuckets(shingles, bands, rowsPerBand)
      .transform(Par.pin)
    val (cool, _) = cooledBuckets(buckets, maxBucketSize)
    Par.sealAndRelease(bucketPairs(cool), buckets)
  }

  /** The hot-bucket split shared by every banding consumer: `(cool
    * bucket rows, hot (band, key) list)` — the single definition of
    * the cap the at-scale ledger witnesses, so the witness can't
    * drift from the operator.
    */
  private def cooledBuckets(
      buckets: DataFrame, maxBucketSize: Int): (DataFrame, DataFrame) = {
    val hot = buckets.groupBy(col("band"), col("key"))
      .agg(count(lit(1)).as("sz")).filter(col("sz") > maxBucketSize)
      .select(col("band"), col("key"))
    (buckets.join(broadcast(hot), Seq("band", "key"), "left_anti"), hot)
  }

  /** The within-bucket candidate self-join — [[cooledBuckets]]'
    * sibling single definition (operator and at-scale ledger must
    * generate pairs IDENTICALLY or the witness drifts from what it
    * claims to measure).
    */
  private def bucketPairs(cool: DataFrame): DataFrame =
    cool.as("a")
      .join(cool.as("b"),
        col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"))
      .distinct()

  /** At-scale candidate ledger (VERDICT r15 #3): one row of the
    * quantities the MinHash-LSH linearity claim is made of —
    * `(n_bucket_rows, n_hot_buckets, n_candidates)` over the SAME
    * cool/hot split and pair join as [[minhashCandidatePairs]]. The
    * structural bound this witnesses: every cool bucket holds ≤
    * `maxBucketSize` rows and each doc occupies ≤ `bands` buckets, so
    * n_candidates ≤ n_docs·bands·(maxBucketSize−1)/2 — linear in the
    * corpus, never the all-pairs n².
    */
  def minhashCandidateLedger(
      shingles: DataFrame, bands: Int, rowsPerBand: Int,
      maxBucketSize: Int = 100): DataFrame = {
    // pinned: four consumers (ledger count, hot agg, both pair-join
    // sides) would each run the signature pipeline
    val buckets = minhashBuckets(shingles, bands, rowsPerBand)
      .transform(Par.pin)
    val (cool, hot) = cooledBuckets(buckets, maxBucketSize)
    val pairs = bucketPairs(cool)
    val ledger = buckets.agg(count(lit(1)).as("n_bucket_rows"))
      .crossJoin(hot.agg(count(lit(1)).as("n_hot_buckets")))
      .crossJoin(pairs.agg(count(lit(1)).as("n_candidates")))
    Par.sealAndRelease(ledger, buckets)
  }

  /** MinHash dedup, verified: LSH candidates re-checked with exact
    * shingle Jaccard (false positives dropped; per-pair recall is
    * 1−(1−j^r)^b). Verification joins shingles only for the candidate
    * ids — never the full inverted index (that would be the exact
    * algorithm and forfeit LSH's sub-quadratic cost).
    */
  def minhashDedupPairs(
      df: DataFrame, idCol: String, tokensCol: String,
      shingleK: Int, bands: Int, rowsPerBand: Int,
      minJaccard: Double): DataFrame = {
    // the shingle set feeds four consumers (signatures, both sides of
    // the verification join, sizes): pinned so the shingling runs once
    val sh = shingleSets(df, idCol, tokensCol, shingleK)
      .transform(Par.pin)
    val cands = minhashCandidatePairs(sh, bands, rowsPerBand)
    Par.sealAndRelease(
      verifiedJaccard(cands, sh).filter(col("jaccard") >= minJaccard), sh)
  }

  /** Incremental MinHash dedup: verified near-duplicate pairs that
    * involve at least one NEW document — the per-ingest shape of a
    * production pipeline, where yesterday's corpus is already
    * deduplicated and only `new × (old ∪ new)` pairs are of interest.
    *
    * The asymmetry is enforced at the BUCKET join, not by filtering
    * its output: one side of the (band, key) join is restricted to the
    * new batch's bucket rows first, so the join's output is
    * |new bucket rows| × bucket occupancy — old×old pairs are never
    * generated, which is the entire cost difference when a small
    * increment lands on a huge corpus. (In a production deployment the
    * old side's bucket rows come from a persisted signature store
    * rather than being recomputed; recomputation here keeps the
    * operator self-contained, and [[minhashBuckets]] is the store's
    * write path.)
    *
    * `newIds` carries the new batch's ids in `idCol`. Pairs are
    * normalized to `id_a < id_b` regardless of which side is new.
    */
  def incrementalMinhashPairs(
      corpus: DataFrame, newIds: DataFrame, idCol: String, tokensCol: String,
      shingleK: Int, bands: Int, rowsPerBand: Int, minJaccard: Double,
      maxBucketSize: Int = 100): DataFrame = {
    // both pinned: sh feeds the bucket build + three verification
    // consumers, buckets feeds the hot agg + both cool-join sides
    // (profiled r20 unpinned: twin ~900 ms signatureFold stages and
    // twin ~700 ms shingle stages on q_dedup_incremental)
    val sh = shingleSets(corpus, idCol, tokensCol, shingleK)
      .transform(Par.pin)
    val buckets = minhashBuckets(sh, bands, rowsPerBand)
      .transform(Par.pin)
    val cands = newCandidatePairs(buckets, newIds, idCol, maxBucketSize)
    Par.sealAndRelease(
      verifiedJaccard(cands, sh).filter(col("jaccard") >= minJaccard),
      sh, buckets)
  }

  /** The new × all candidate join both incremental operators share:
    * [[cooledBuckets]] of `buckets`, then the cool rows of the `newIds`
    * docs joined to every cool row on (band, key), pairs normalized to
    * `id_a < id_b` — old×old pairs are never generated.
    */
  private def newCandidatePairs(
      buckets: DataFrame, newIds: DataFrame, idCol: String,
      maxBucketSize: Int): DataFrame = {
    val (cool, _) = cooledBuckets(buckets, maxBucketSize)
    // No broadcast hint on newIds: a "batch" can be arbitrarily large
    // (a backfill); the semi-join shuffles on id and AQE still
    // broadcasts a genuinely small increment.
    val newSide = cool.join(
      newIds.select(col(idCol).as("id")), Seq("id"), "left_semi")
    newSide.as("a")
      .join(cool.as("b"),
        col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") && col("a.id") =!= col("b.id"))
      .select(least(col("a.id"), col("b.id")).as("id_a"),
        greatest(col("a.id"), col("b.id")).as("id_b"))
      .distinct()
  }

  /** Store-fed incremental dedup — the deployment shape the
    * [[incrementalMinhashPairs]] scaladoc describes. The old corpus's
    * bucket rows are READ from a persisted signature store (`store`:
    * the (id, band, key) parquet written by [[minhashBuckets]], the
    * store's write path) instead of being reshingled and re-minhashed
    * on every ingest; only the NEW batch runs the signature pipeline.
    * At a 100-TB corpus with small daily ingests this is the entire
    * cost difference: signature work is O(batch), not O(corpus).
    *
    * Exact-Jaccard verification still reads the corpus text — but
    * only for docs that appear in some candidate pair (batch-bounded),
    * and only those docs are re-shingled: signature AND verification
    * work are O(batch), never O(corpus).
    *
    * Equivalence contract: with `store` = minhashBuckets over the old
    * docs (same shingleK/bands/rowsPerBand), the result is identical
    * to [[incrementalMinhashPairs]] recomputing everything —
    * hot-bucket stats are taken over store ∪ new buckets, i.e. the
    * same full bucket set. IncrementalDedupSpec proves store-fed ≡
    * recompute-fed across two chained ingests.
    */
  def incrementalMinhashPairsFromStore(
      corpus: DataFrame, newIds: DataFrame, store: DataFrame,
      idCol: String, tokensCol: String,
      shingleK: Int, bands: Int, rowsPerBand: Int, minJaccard: Double,
      maxBucketSize: Int = 100,
      newBuckets: Option[DataFrame] = None): DataFrame = {
    // signature pipeline over the NEW batch only — or the caller's
    // precomputed batch bucket frame (dedupIngest computes it once
    // and shares it with the store append instead of re-shingling
    // and re-minhashing the batch per consumer)
    val newDocs = corpus.join(
      newIds.select(col(idCol)), Seq(idCol), "left_semi")
    val nb = newBuckets.getOrElse(minhashBuckets(
      shingleSets(newDocs, idCol, tokensCol, shingleK), bands, rowsPerBand))
    // pinned: hot agg + both cool-join sides would otherwise
    // recompute the union per consumer
    val buckets = store.select(col("id"), col("band"), col("key"))
      .unionByName(nb)
      .transform(Par.pin)
    val cands = newCandidatePairs(buckets, newIds, idCol, maxBucketSize)
      // pinned: consumed by the candidate-id semi-join below AND as
      // the verify join's left side; batch-bounded by construction
      .transform(Par.pin)
    // Exact-Jaccard verification only ever touches candidate ids, so
    // shingle THE CANDIDATES, not the corpus (r20; previously this
    // re-shingled the ENTIRE corpus per ingest — O(corpus) signature
    // work the scaladoc's O(batch) claim was wrong about). Candidate
    // ids are batch-bounded: every pair has a new-batch member, so
    // |ids| <= 2 × candidate count.
    val candIds = cands.select(col("id_a").as(idCol))
      .union(cands.select(col("id_b").as(idCol))).distinct()
    val sh = shingleSets(
      corpus.join(candIds, Seq(idCol), "left_semi"),
      idCol, tokensCol, shingleK)
      // pinned: three verification consumers (both join sides,
      // sizes) would each re-shingle
      .transform(Par.pin)
    Par.sealAndRelease(
      verifiedJaccard(cands, sh).filter(col("jaccard") >= minJaccard),
      sh, buckets)
  }

  /** Materialize the DEDUPLICATED corpus: keep every row that is
    * either untouched by duplication or the canonical (minimum-id)
    * member of its duplicate group. `pairs` is any near-dup pair list
    * from the operators above; group resolution reuses
    * [[connectedComponents]]. The drop set is group-membership-sized
    * (≪ corpus), joined anti — the corpus itself never shuffles.
    */
  def keepCanonical(
      df: DataFrame, idCol: String, pairs: DataFrame): DataFrame = {
    val dropIds = connectedComponents(pairs)
      .where(col("id") =!= col("label"))
      .select(col("id").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** [[keepCanonical]] with a QUALITY-aware keeper: within each
    * duplicate group, keep the member with the highest `scoreCol`
    * (ties on the smaller id) instead of the smallest id — the
    * FineWeb-style rule, because near-dup groups often pair a clean
    * original with boilerplate-wrapped copies and min-id keeps
    * whichever was crawled first. Callers should pre-round the score
    * to the precision they trust (the 6-dp oracle-edge convention)
    * so the keeper choice never rides float noise.
    *
    * Same scale shape as [[keepCanonical]]: groups resolve on the
    * pair list, the score join touches only group MEMBERS (a
    * semi-join-sized slice of the corpus), and the corpus itself is
    * anti-joined once, never shuffled.
    */
  def keepBest(
      df: DataFrame, idCol: String, pairs: DataFrame,
      scoreCol: String): DataFrame = {
    val members = connectedComponents(pairs) // (id, label)
    val scored = members
      .join(df.select(col(idCol).as("id"), col(scoreCol).as("__s")), "id")
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("label"))
      .orderBy(col("__s").desc, col("id").asc)
    val dropIds = scored
      .withColumn("__rn", row_number().over(w))
      .where(col("__rn") =!= 1)
      .select(col("id").as(idCol))
    df.join(dropIds, Seq(idCol), "left_anti")
  }

  /** Leakage-safe train/eval split: assign every document to a split
    * by a deterministic md5 draw on its LEAKAGE UNIT — the near-dup
    * group's canonical (minimum) id for group members, the doc's own
    * id otherwise — so near-duplicates can never straddle the split
    * boundary and leak training content into evaluation (the
    * eval-contamination failure mode of naive row-hash splits: a
    * near-copy of a training doc lands in the eval set and scores as
    * generalization). Returns one row per input doc:
    * `(idCol, unit, grouped, split)` with split ∈ train/eval and
    * grouped = the doc belongs to some near-dup group (its unit was
    * a group label, not its own id — true for canonical members too).
    *
    * Scale shape: groups resolve on the PAIR list
    * ([[connectedComponents]] — group-sized, never corpus-sized);
    * the label map carries NO broadcast hint (the [[verifiedJaccard]]
    * convention): it has one row per doc appearing in ANY near-dup
    * pair, which on a heavy-duplication corpus is corpus-proportional
    * — forcing it through the driver would OOM exactly when
    * leakage-safe splitting matters most. A plain shuffle join is
    * scale-safe, and AQE still picks a broadcast join at runtime when
    * the group membership turns out small;
    * the draw is the engine's replayable
    * md5 lattice (the SequencePacking convention), so the assignment
    * is a pure function of content ids — stable across runs,
    * partitionings and engines. `trainPermille` of 1000 buckets.
    */
  def leakageSafeSplit(
      df: DataFrame, idCol: String, pairs: DataFrame,
      trainPermille: Int = 800): DataFrame = {
    require(trainPermille >= 0 && trainPermille <= 1000,
      s"trainPermille: $trainPermille")
    // integral ids required (the Dbscan.cluster refusal): the label
    // map is LongType, so a string id would silently cross-cast in
    // the join and the coalesce — "007" never matches 7, and every
    // group member would quietly fall back to its own id, defeating
    // the leakage guarantee
    df.schema(idCol).dataType match {
      case org.apache.spark.sql.types.ByteType |
           org.apache.spark.sql.types.ShortType |
           org.apache.spark.sql.types.IntegerType |
           org.apache.spark.sql.types.LongType => ()
      case dt => throw new IllegalArgumentException(
        s"Dedup.leakageSafeSplit: id column '$idCol' is $dt; integral " +
          "ids are required — a non-integral id cross-casts in the " +
          "label join and group members would silently split apart")
    }
    val labels = connectedComponents(pairs) // (id, label), members only
    val joined = df.select(col(idCol))
      .join(labels.withColumnRenamed("id", idCol), Seq(idCol), "left")
    val unit = coalesce(col("label"), col(idCol))
    val draw = pmod(
      conv(substring(md5(unit.cast("string")), 1, 15), 16, 10)
        .cast("long"),
      lit(1000L))
    joined.select(col(idCol), unit.as("unit"),
      col("label").isNotNull.as("grouped"),
      when(draw < trainPermille, "train").otherwise("eval").as("split"))
  }

  /** [[leakageSafeSplit]] driven by a PERSISTED near-dup pair store —
    * the parquet `pairsDir` that [[graft.streaming.StreamingOps
    * .dedupIngest]] maintains incrementally (VERDICT r17 #6). The
    * split stays STABLE as the corpus grows: assignment reads the
    * union of every batch's pairs (old×old pairs were emitted when
    * their later member arrived and are never recomputed), so a new
    * ingest batch that near-dups an existing eval doc joins that
    * doc's group and inherits its md5 draw — it lands in eval, never
    * contaminating training. Because the draw is a pure function of
    * the group's canonical id, two chained ingests assign every doc
    * exactly as a one-shot batch split over the combined corpus
    * would (`q_leakage_split_incremental` oracles this equivalence;
    * the only drift source would be a group whose canonical id
    * changes as members arrive — and min-id canonicalization over
    * the UNION of pairs is ingestion-order independent).
    */
  def leakageSafeSplitFromStore(
      df: DataFrame, idCol: String, pairsDir: String,
      trainPermille: Int = 800): DataFrame =
    leakageSafeSplit(df, idCol,
      df.sparkSession.read.parquet(pairsDir)
        .select(col("id_a"), col("id_b")),
      trainPermille)

  /** Exact shingle Jaccard for an explicit candidate-pair list.
    * No broadcast hint on the candidate set: it is output-sized
    * (unbounded at corpus scale), so forcing it through the driver
    * would OOM exactly when dedup matters most. A plain shuffle join
    * on id_a is scale-safe, and AQE still picks a broadcast join at
    * runtime when the candidate set turns out small.
    */
  private[graft] def verifiedJaccard(
      cands: DataFrame, sh: DataFrame): DataFrame = {
    val withA = cands
      .join(sh.withColumnRenamed("id", "id_a")
        .withColumnRenamed("shingle", "sh_a"), "id_a")
    val shB = sh.withColumnRenamed("id", "idb")
      .withColumnRenamed("shingle", "sh_b")
    val inter = withA
      .join(shB, col("id_b") === col("idb") && col("sh_a") === col("sh_b"))
      .groupBy(col("id_a"), col("id_b"))
      .agg(count(lit(1)).as("i"))
    jaccardOf(inter, sizesOf(sh))
  }

  /** Exact duplicate-SPAN detection (the "exact substring dedup" of
    * training-data pipelines, cf. Lee et al. 2022 "Deduplicating
    * Training Data Makes Language Models Better", at n-token-span
    * granularity): every position whose n-token span also occurs in at
    * least `minDocs` distinct documents, as (doc_id, pos, h).
    *
    * Relational and scale-safe: posexplode → one window computing the
    * n−1 lead tokens per position (shuffle key: doc id) → md5 span
    * hash → hash-keyed group to find cross-document spans → join back.
    * Spans are persisted for their two consumers; the hot-span list is
    * duplicate-output-sized, so the final join is left to AQE rather
    * than a forced broadcast.
    */
  /** (doc_id, pos, h) — md5 of each position's n-token span (null
    * spans past the end dropped). One doc-keyed window pass; shared by
    * [[duplicateSpans]] and [[contaminatedDocs]].
    */
  private def spanHashes(
      df: DataFrame, idCol: String, tokensCol: String, n: Int): DataFrame = {
    // Explicit-width hash repartition on the window key (the
    // q_range_frame precedent): the md5-span window is the CPU-heavy
    // operator here, and AQE's byte-based coalescing of the implicit
    // ensure-requirements exchange squeezed it to 2 tasks (profiled
    // r20: 2×700 ms on q_decontaminate's corpus side with 30 cores
    // idle). REPARTITION_BY_NUM is exempt from coalescing; the width
    // is the session's configured shuffle width — the bench/verify
    // harnesses set it to the core count, production to its own
    // tuning — so this replaces the implicit exchange 1:1 (same keys,
    // same bytes), never adds one.
    val width = scala.util.Try(df.sparkSession.conf
        .get("spark.sql.shuffle.partitions").toInt)
      .getOrElse(df.sparkSession.sparkContext.defaultParallelism)
    val words = df
      .select(col(idCol).as("doc_id"), posexplode(col(tokensCol)))
      .select(col("doc_id"), (col("pos") + 1).cast("long").as("pos"),
        col("col").as("word"))
      .repartition(width, col("doc_id"))
    val w = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
    val leads = (1 until n).map(i => lead(col("word"), i).over(w))
    // concat (NOT concat_ws): a null lead (span past end) nulls the
    // whole span, exactly like SQL || with NULL
    val parts = Seq(col("word")) ++ leads.flatMap(l => Seq(lit(" "), l))
    words
      .select(col("doc_id"), col("pos"), md5(concat(parts: _*)).as("h"))
      .filter(col("h").isNotNull)
  }

  def duplicateSpans(
      df: DataFrame, idCol: String, tokensCol: String,
      n: Int, minDocs: Int = 2): DataFrame = {
    // LAZY persist is correct here (measured r20, unlike the minhash
    // sites below): the hot-span agg feeds the join-back as its
    // BUILD side, so it materializes FIRST and populates the cache
    // sequentially — no concurrent-consumer duplication — while an
    // eager checkpoint added a blocking materialization job
    // (q_dedup_spans 1.32 → 1.86 s in matched subset runs).
    val spans = spanHashes(df, idCol, tokensCol, n)
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val hot = spans.groupBy(col("h"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("h"))
    Par.sealAndRelease(
      spans.join(hot, "h").select(col("doc_id"), col("pos"), col("h")), spans)
  }

  /** Test-set DECONTAMINATION (the GPT-3/Brown et al. appendix-C and
    * Lee et al. 2022 protocol): find every corpus document sharing at
    * least one n-token span with a benchmark/eval set, so it can be
    * dropped from training data before it inflates eval scores.
    * Returns (doc_id, n_hits, first_pos) per contaminated corpus doc.
    *
    * Scale design: the benchmark side is SMALL by nature (eval sets —
    * thousands of documents against a 100-TB corpus), so its distinct
    * span-hash set is broadcast and the corpus side is a scan →
    * window span-hash → broadcast LEFT SEMI join → per-doc agg. The
    * corpus shuffles once, keyed by doc id (the window + the agg reuse
    * the same partitioning); no corpus×benchmark join ever forms.
    */
  def contaminatedDocs(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, tokensCol: String, n: Int): DataFrame = {
    val benchSpans = spanHashes(benchmark, idCol, tokensCol, n)
      .select(col("h")).distinct()
    spanHashes(corpus, idCol, tokensCol, n)
      .join(broadcast(benchSpans), Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
  }

  /** Bloom-prefiltered decontamination — the shape for when the
    * benchmark span-hash set outgrows a comfortable broadcast (a full
    * eval-suite union can reach 10⁸ distinct spans ≈ GBs of exact
    * hashes, while its Bloom summary at that count is ~100 MB at 1%
    * FPR). Three stages:
    *
    *   1. build the filter over the benchmark spans — a distributed
    *      aggregation (`stat.bloomFilter` merges per-partition
    *      filters), so the exact span set never collects;
    *   2. probe every corpus span MAP-SIDE against the broadcast
    *      filter — drops (1 − fpp) of clean spans at scan speed;
    *   3. confirm the surviving candidates with an exact semi-join
    *      against the benchmark spans. Deliberately NOT
    *      broadcast-hinted: the premise is that the exact set is too
    *      big to broadcast, and after the bloom only the ~fpp-sized
    *      candidate slice of the corpus shuffles (AQE still
    *      broadcasts a genuinely small set at runtime).
    *
    * The result is IDENTICAL to [[contaminatedDocs]] — the bloom only
    * over-approximates and the verify join removes its false
    * positives (DecontaminationSpec asserts equality). The probe is a
    * Scala UDF by necessity: Spark exposes no public might-contain
    * expression over a broadcast sketch; the UDF sits at the same
    * documented sketch boundary as `stat.countMinSketch`.
    */
  def contaminatedDocsBloom(
      corpus: DataFrame, benchmark: DataFrame,
      idCol: String, tokensCol: String, n: Int,
      fpp: Double = 0.01): DataFrame = {
    val benchSpans = spanHashes(benchmark, idCol, tokensCol, n)
      .select(col("h")).distinct()
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val nSpans = benchSpans.count()
    if (nSpans == 0L) {
      // stat.bloomFilter NPEs on an empty frame; an empty benchmark
      // contaminates nothing (same output schema, zero rows)
      benchSpans.unpersist()
      return spanHashes(corpus, idCol, tokensCol, n)
        .filter(lit(false))
        .groupBy(col("doc_id"))
        .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
    }
    val bloom = benchSpans.stat.bloomFilter("h", nSpans, fpp)
    val bc = corpus.sparkSession.sparkContext.broadcast(bloom)
    val mightContain =
      udf((h: String) => h != null && bc.value.mightContainString(h))
    val result = spanHashes(corpus, idCol, tokensCol, n)
      .filter(mightContain(col("h")))
      .join(benchSpans, Seq("h"), "left_semi")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_hits"), min(col("pos")).as("first_pos"))
    Par.sealAndRelease(result, benchSpans)
  }

  /** Connected components over near-duplicate pairs: every document
    * that appears in a pair gets the minimum doc id of its duplicate
    * group as `label` (the canonical survivor id — the step that turns
    * pairwise dedup output into keep/drop decisions).
    *
    * Min-label propagation with ADAPTIVE PATH HALVING. Rounds 0-5
    * are plain neighbor-min — one shuffle join each, and clique-like
    * near-dup groups (diameter 1-2, the common case) converge here
    * at minimum cost. From round 6 each round also takes the
    * label's OWN current label (Shiloach-Vishkin-style pointer
    * jumping, the same idea behind large-star/small-star map-reduce
    * CC): every pointer path halves per round, so a CHAIN of length
    * d — the shape long similarity paths and kNN-cell graphs
    * produce, and the classic 100 TB connected-components
    * bottleneck at O(diameter) rounds of full edge shuffles —
    * closes in 6 + O(log d) rounds (a 200-hop chain within 16,
    * spec-bounded). Labels are always ids of live nodes (they start
    * as ids and min() preserves membership), so the label-of-label
    * join always finds its row; final labels are the component
    * minima either way.
    *
    * Scale notes: per-round cost is one shuffle join keyed by node
    * id (plus the labels⋈labels hop once halving engages); lineage
    * is truncated with a [[Par.pin]] every round so the
    * plan doesn't deepen unboundedly (the classic driver-loop
    * trap); `maxIter` bounds adversarial inputs.
    */
  def connectedComponents(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 50): DataFrame =
    ccLoop(pairs, idA, idB, maxIter)._1

  /** [[connectedComponents]] plus the number of rounds the loop ran
    * (including the final no-change detection round) — the
    * measurement `q_cc_diameter_scale` oracles against the halving
    * recurrence's closed form: on a PATH graph the min-label reach
    * after round t is reach(t) = t for t ≤ 6 and
    * reach(t) = 2·(reach(t−1)+1) once halving engages, and the loop
    * exits one round after reach first covers the diameter. A change
    * to the propagation cadence (the iter<6 gate, the halving step,
    * the convergence test) flips the measured round count and the
    * witness row goes red — the replay IS the spec of the dynamics.
    *
    * Contract difference from [[connectedComponents]]: this variant
    * THROWS on non-convergence within `maxIter`. A caller asking for
    * the round count is recording a MEASUREMENT — handing back
    * `maxIter` with non-minimal labels and only a stderr warning
    * would let a witness at a new scale silently stamp wrong
    * numbers. (The plain variant keeps its warn-and-return behavior:
    * its callers consume labels as a best-effort grouping.)
    */
  def connectedComponentsWithRounds(
      pairs: DataFrame,
      idA: String = "id_a",
      idB: String = "id_b",
      maxIter: Int = 50): (DataFrame, Int) = {
    val (labels, iter, converged) = ccLoop(pairs, idA, idB, maxIter)
    if (!converged) throw new IllegalStateException(
      s"connectedComponentsWithRounds: no convergence in $maxIter " +
        "rounds — the round count would be a lie and the labels are " +
        "not component minima; raise maxIter")
    (labels, iter)
  }

  private def ccLoop(
      pairs: DataFrame,
      idA: String,
      idB: String,
      maxIter: Int): (DataFrame, Int, Boolean) = {
    // NOTE (r19 optimization round, measured): two rejected variants,
    // kept out on evidence — (a) batching two propagation steps per
    // convergence check re-evaluates the unmaterialized first step's
    // subtree inside the second (each step references its input
    // twice), and the CC-family bench slowed 1.2-1.5×; (b)
    // pre-partitioning the persisted edge cache on `dst` pins every
    // round's join to the cache's full partition count, defeating
    // AQE's small-partition coalescing — same regression. The
    // single-step loop with an unpartitioned cache measures fastest
    // at every tested scale.
    // pinned, not persisted (r20): the persisted edge cache was
    // stored session-shuffle-width wide and every round's join ran
    // that many near-empty map tasks
    val edges = pairs
      .select(col(idA).cast("long").as("src"), col(idB).cast("long").as("dst"))
      .union(pairs
        .select(col(idB).cast("long").as("src"), col(idA).cast("long").as("dst")))
      .distinct()
      .transform(Par.pin)
    var labels = edges.select(col("src").as("id")).distinct()
      .withColumn("label", col("id"))
      .transform(Par.pin)
    // explicit broadcast of the node-sized frames when the node count
    // fits the §3.1 envelope (the PageRank.run note): AQE's runtime
    // BHJ conversion executes the EDGE side's shuffle map stage every
    // round before deciding; the hint removes those per-round edge
    // shuffles. Node count is fixed across rounds, so one count here
    // settles every round's strategy. Same rows, same label dynamics
    // and round count (DedupGroupsSpec) — join strategy only.
    val bc = Par.broadcastWhen(labels.count() <= Par.BroadcastNodeRows) _
    var iter = 0
    var changed = 1L
    while (changed > 0 && iter < maxIter) {
      val nbrMin = edges
        .join(bc(labels.withColumnRenamed("id", "dst")
          .withColumnRenamed("label", "dlabel")), "dst")
        .groupBy(col("src").as("id")).agg(min(col("dlabel")).as("nmin"))
      // carry the pre-round label through as __old: the convergence
      // count below then filters the materialized frame instead of
      // re-joining it against `labels` — one fewer shuffle join per
      // round at any scale, identical label dynamics and round count
      // (DedupGroupsSpec pins exact rounds against the closed form)
      val afterNbr = labels.join(bc(nbrMin), Seq("id"), "left")
        .select(col("id"), col("label").as("__old"),
          least(col("label"), coalesce(col("nmin"), col("label"))).as("label"))
      // Path halving — adopt the label's OWN current label — but
      // only once plain propagation has dragged past round 6: the
      // extra labels⋈labels shuffle costs a full round's work, and
      // clique-like near-dup groups (diameter 1-2, the common case)
      // converge before it can pay for itself (measured 3× slower
      // on q_dbscan/q_entity_clusters when applied from round 0).
      // Long chains — the 100× risk — hit round 3 still changing
      // and from there every pointer path halves per round, so
      // total rounds stay O(log diameter) instead of O(diameter).
      val next =
        if (iter < 6) afterNbr
        else afterNbr
          .join(bc(afterNbr.select(col("id").as("label"),
            col("label").as("__ll"))), Seq("label"), "left")
          .select(col("id"), col("__old"),
            least(col("label"), coalesce(col("__ll"), col("label")))
              .as("label"))
      // pinned EVERY round (r20, measured): with a persist instead,
      // the profiled q_dbscan CC loop ran dozens of 32-task stages
      // over ~0.06 MB; identical label dynamics and round count
      // (DedupGroupsSpec pins exact rounds against the closed form)
      val stepped = Par.pin(next)
      changed = stepped.filter(col("label") =!= col("__old")).count()
      labels = stepped.select(col("id"), col("label"))
      iter += 1
    }
    if (changed > 0) {
      System.err.println(
        s"[graft] connectedComponents did NOT converge in $maxIter rounds " +
          s"($changed labels still changing) — returned labels are not " +
          "component minima; raise maxIter for long duplicate chains")
    }
    (labels, iter, changed == 0L)
  }

  /** 64-bit SimHash over a token multiset (FNV-1a per token, weight =
    * occurrence count) — the native [[graft.functions.SimHash64]]
    * kernel (round 19; bit-identical to the UDF it replaces, same
    * UTF-16 FNV loop and majority fold). One kernel call per row; no
    * shuffle.
    */
  def simhash64(tokens: org.apache.spark.sql.Column)
      : org.apache.spark.sql.Column =
    graft.functions.simhash64(tokens)

  /** SimHash near-dup pairs with Hamming distance ≤ maxHamming, found
    * by 16-bit band blocking (any pair within Hamming ≤ 3 of a 64-bit
    * hash agrees on at least one of 4 bands; wider distances may need
    * more bands — documented approximation).
    *
    * Like `minhashCandidatePairs`, band buckets larger than
    * `maxBucketSize` are dropped before the self-join: a
    * boilerplate-heavy corpus puts thousands of near-identical docs in
    * one 16-bit band bucket, turning the join into g² rows on a single
    * key — the classic dedup skew-killer. Genuinely-near pairs inside a
    * dropped bucket still collide in their other, unsaturated bands
    * (exact duplicates sharing ALL four hot bands should be removed by
    * exact dedup first — that is the documented pipeline order).
    */
  def simhashPairs(
      df: DataFrame, idCol: String, tokensCol: String,
      maxHamming: Int, maxBucketSize: Int = 1000): DataFrame = {
    val hashed = df.select(col(idCol).as("id"),
      simhash64(col(tokensCol)).as("simhash"))
    // three consumers (hot-bucket agg + both self-join sides):
    // pinned so the per-row simhash kernel runs once
    val banded = hashed.select(col("id"), col("simhash"),
      posexplode(array((0 until 4).map { b =>
        shiftright(col("simhash"), b * 16).bitwiseAND(lit(0xFFFFL))
      }: _*)))
      .withColumnRenamed("pos", "band").withColumnRenamed("col", "key")
      .transform(Par.pin)
    val (cool, _) = cooledBuckets(banded, maxBucketSize)
    val pairs = cool.as("a")
      .join(cool.as("b"),
        col("a.band") === col("b.band") &&
          col("a.key") === col("b.key") && col("a.id") < col("b.id"))
      .select(col("a.id").as("id_a"), col("b.id").as("id_b"),
        call_function("bit_count",
          col("a.simhash").bitwiseXOR(col("b.simhash"))).as("hamming"))
      .distinct()
      .filter(col("hamming") <= maxHamming)
    Par.sealAndRelease(pairs, banded)
  }
}
