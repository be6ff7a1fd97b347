package graft.operators

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.functions._

/** Incremental MinHash dedup: must equal the full pair list filtered
  * to batch-touching pairs, and never emit an old×old pair.
  */
class IncrementalDedupSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  // Small corpus with planted near-dups across and within the batch
  // boundary: (1,2) old×old, (3,4) new×old, (5,10) new×new (ids 0,5,10
  // are "new" under id % 5 == 0). Distinct filler words keep
  // non-planted Jaccard at zero.
  private def corpus() = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "alpha beta gamma delta epsilon zeta eta iota",
    3L -> "one two three four five six seven eight",
    5L -> "one two three four five six seven nine",
    10L -> "red orange yellow green blue indigo violet black",
    11L -> "cat dog fish bird mouse horse cow sheep",
    12L -> "sun moon star cloud rain snow wind fog"
  ).toDF("doc_id", "text")
    .withColumn("tokens", split(col("text"), " "))

  private val minJ = 0.5

  test("incremental pairs = full pairs touching the batch; old×old excluded") {
    val docs = corpus()
    val newIds = docs.select($"doc_id").where(pmod($"doc_id", lit(5L)) === 0)

    val full = Dedup.minhashDedupPairs(docs, "doc_id", "tokens",
        shingleK = 3, bands = 8, rowsPerBand = 4, minJaccard = minJ)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val inc = Dedup.incrementalMinhashPairs(docs, newIds, "doc_id", "tokens",
        shingleK = 3, bands = 8, rowsPerBand = 4, minJaccard = minJ)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet

    val touchingBatch = full.filter { case (a, b) => a % 5 == 0 || b % 5 == 0 }
    assert(inc == touchingBatch)
    assert(full.contains((1L, 2L)), "sanity: the old×old pair exists in full dedup")
    assert(!inc.contains((1L, 2L)), "old×old must not be emitted incrementally")
    assert(inc.contains((3L, 5L)), "new×old pair found")
  }

  test("keepCanonical drops exactly the non-minimum group members") {
    val docs = corpus()
    val sh = Dedup.shingleSets(docs, "doc_id", "tokens", 3)
    val pairs = Dedup.jaccardPairs(sh, minJ).select($"id_a", $"id_b")
    val kept = Dedup.keepCanonical(docs, "doc_id", pairs)
      .select("doc_id").as[Long].collect().toSet
    // Groups: {1,2}, {3,5}, {10}? (10 pairs with nothing at 0.5),
    // untouched: 11, 12. Canonicals keep the minimum id.
    val full = Dedup.minhashDedupPairs(docs, "doc_id", "tokens",
        3, 8, 4, minJ).select("id_a", "id_b")
      .as[(Long, Long)].collect().toSet
    val dupIds = full.flatMap(p => Seq(p._1, p._2))
    val canonical = dupIds.groupBy(identity).keySet // ids in groups
    assert(kept.contains(1L) && !kept.contains(2L))
    assert(kept.contains(3L) && !kept.contains(5L))
    assert(Set(10L, 11L, 12L).subsetOf(kept), "untouched docs all kept")
    assert(kept.size == docs.count() - 2)
    assert(canonical.nonEmpty) // sanity: dup groups exist
  }

  test("signature store round-trip: store-fed ≡ recompute-fed across two ingests") {
    // Three arrival waves by id mod 5: base ∈ {1,2,3} → docs
    // {1,2,3,11,12}, batch1 == 4 → planted doc 14, batch2 == 0 →
    // docs {5,10}. Doc 14 near-duplicates base doc 12 so ingest 1
    // emits a pair; ingest 2's pairs come from the %5==0 docs.
    val all = corpus().unionByName(
      Seq(14L -> "sun moon star cloud rain snow wind haze")
        .toDF("doc_id", "text")
        .withColumn("tokens", split(col("text"), " ")))
    val base = all.where(pmod($"doc_id", lit(5L)).isin(1L, 2L, 3L))
    val batch1Ids = all.select($"doc_id").where(pmod($"doc_id", lit(5L)) === 4)
    val batch2Ids = all.select($"doc_id").where(pmod($"doc_id", lit(5L)) === 0)
    val corpus1 = all.where(pmod($"doc_id", lit(5L)) =!= 0)

    val dir = tempDir("sigstore").toString
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet

    // ingest 1: write the base signatures (the store's write path),
    // read them back, dedup batch1 against the store
    Dedup.minhashBuckets(Dedup.shingleSets(base, "doc_id", "tokens", 3), 8, 4)
      .write.mode("overwrite").parquet(s"$dir/store")
    val store0 = spark.read.parquet(s"$dir/store")
    val fed1 = pairSet(Dedup.incrementalMinhashPairsFromStore(
      corpus1, batch1Ids, store0, "doc_id", "tokens", 3, 8, 4, minJ))
    val rec1 = pairSet(Dedup.incrementalMinhashPairs(
      corpus1, batch1Ids, "doc_id", "tokens", 3, 8, 4, minJ))
    assert(fed1 == rec1, "ingest 1: store-fed must equal recompute-fed")
    assert(fed1.contains((12L, 14L)), "ingest 1 finds the planted pair")

    // append batch1's signatures (incremental store maintenance) and
    // run ingest 2 against the grown store
    val batch1Docs = corpus1.join(batch1Ids, Seq("doc_id"), "left_semi")
    Dedup.minhashBuckets(
        Dedup.shingleSets(batch1Docs, "doc_id", "tokens", 3), 8, 4)
      .write.mode("append").parquet(s"$dir/store")
    val store1 = spark.read.parquet(s"$dir/store")
    val fed2 = pairSet(Dedup.incrementalMinhashPairsFromStore(
      all, batch2Ids, store1, "doc_id", "tokens", 3, 8, 4, minJ))
    val rec2 = pairSet(Dedup.incrementalMinhashPairs(
      all, batch2Ids, "doc_id", "tokens", 3, 8, 4, minJ))
    assert(fed2 == rec2, "ingest 2: store-fed must equal recompute-fed")
    assert(fed2.contains((3L, 5L)), "ingest 2 finds its new×old pair")
    assert(!fed2.contains((12L, 14L)), "prior-ingest pair not re-emitted")
  }

  test("store-fed with a precomputed batch bucket frame ≡ the default " +
      "recompute (the dedupIngest single-build path, r20)") {
    val docs = corpus()
    val newIds = docs.select($"doc_id").where(pmod($"doc_id", lit(5L)) === 0)
    val oldDocs = docs.where(pmod($"doc_id", lit(5L)) =!= 0)
    val store = Dedup.minhashBuckets(
      Dedup.shingleSets(oldDocs, "doc_id", "tokens", 3), 8, 4)
    val batchDocs = docs.join(newIds, Seq("doc_id"), "left_semi")
    val precomputed = Dedup.minhashBuckets(
      Dedup.shingleSets(batchDocs, "doc_id", "tokens", 3), 8, 4)
    def pairSet(df: org.apache.spark.sql.DataFrame) =
      df.select("id_a", "id_b").as[(Long, Long)].collect().toSet
    val default = pairSet(Dedup.incrementalMinhashPairsFromStore(
      docs, newIds, store, "doc_id", "tokens", 3, 8, 4, minJ))
    val fed = pairSet(Dedup.incrementalMinhashPairsFromStore(
      docs, newIds, store, "doc_id", "tokens", 3, 8, 4, minJ,
      newBuckets = Some(precomputed)))
    assert(fed == default,
      "precomputed batch buckets must not change the pair set")
    assert(fed.nonEmpty, "sanity: the batch has near-dup pairs")
  }

  test("pairs are normalized id_a < id_b regardless of which side is new") {
    val docs = corpus()
    val newIds = docs.select($"doc_id").where(pmod($"doc_id", lit(5L)) === 0)
    val inc = Dedup.incrementalMinhashPairs(docs, newIds, "doc_id", "tokens",
        shingleK = 3, bands = 8, rowsPerBand = 4, minJaccard = minJ)
      .select("id_a", "id_b").as[(Long, Long)].collect()
    assert(inc.forall { case (a, b) => a < b })
    assert(inc.length == inc.distinct.length)
  }

  test("minhashCandidateLedger mirrors the operator's cool/hot split " +
      "and the structural linear budget (VERDICT r15 #3)") {
    val docs = corpus()
    val sh = Dedup.shingleSets(docs, "doc_id", "tokens", 3)
    val led = Dedup.minhashCandidateLedger(sh, 8, 4).collect().head
    // every doc occupies exactly `bands` buckets
    assert(led.getAs[Long]("n_bucket_rows") === 7L * 8L)
    assert(led.getAs[Long]("n_hot_buckets") === 0L)
    // the ledger's candidate count IS the operator's — same split,
    // same join, so the at-scale witness can't drift from the op
    val nCand = Dedup.minhashCandidatePairs(sh, 8, 4).count()
    assert(led.getAs[Long]("n_candidates") === nCand)
    assert(led.getAs[Long]("n_candidates") <= 7L * 8L * 99L / 2L)
  }

  test("a saturated bucket is counted hot and its pairs excluded; " +
      "unsaturated pairs survive") {
    // 12 identical clones saturate all 8 of their band buckets at
    // maxBucketSize = 10 — the cap must drop every clone×clone pair
    // while the planted (1,2) near-dup, in unsaturated buckets,
    // still collides
    val clones = (100L to 111L)
      .map(i => i -> "same words all equal here forever again still")
      .toDF("doc_id", "text")
      .withColumn("tokens", split(col("text"), " "))
    val docs = corpus().unionByName(clones)
    val sh = Dedup.shingleSets(docs, "doc_id", "tokens", 3)
    val led = Dedup.minhashCandidateLedger(sh, 8, 4, maxBucketSize = 10)
      .collect().head
    assert(led.getAs[Long]("n_hot_buckets") === 8L, s"$led")
    val cands = Dedup.minhashCandidatePairs(sh, 8, 4, maxBucketSize = 10)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(!cands.exists { case (a, b) => a >= 100L && b >= 100L },
      "saturated clone pairs must not be generated")
    assert(cands.contains((1L, 2L)), "unsaturated planted pair survives")
  }
}
