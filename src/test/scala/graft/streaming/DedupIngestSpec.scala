package graft.streaming

import graft.{SparkSuite, TempDirs}
import graft.operators.Dedup
import org.apache.spark.sql.functions._

/** Streaming incremental near-dup ingest: across micro-batches the
  * parquet-store loop must emit exactly the pairs the batch
  * incremental operator produces at each step — new×old and
  * intra-batch pairs on arrival, prior pairs never re-emitted — and
  * leave the stores equal to a full recompute's view of the world.
  */
class DedupIngestSpec extends SparkSuite with TempDirs {
  import spark.implicits._

  // Same planted shape as IncrementalDedupSpec: (1,2) near-dups
  // arriving together, (3,5) split across batches, (12,14) split
  // across batches, 10/11 untouched.
  private val wave1 = Seq(
    1L -> "alpha beta gamma delta epsilon zeta eta theta",
    2L -> "alpha beta gamma delta epsilon zeta eta iota",
    3L -> "one two three four five six seven eight",
    11L -> "cat dog fish bird mouse horse cow sheep",
    12L -> "sun moon star cloud rain snow wind fog")
  private val wave2 = Seq(
    5L -> "one two three four five six seven nine",
    10L -> "red orange yellow green blue indigo violet black",
    14L -> "sun moon star cloud rain snow wind haze")

  test("two micro-batches maintain the stores and emit stepwise pairs") {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = tempDir("ingest").toString
    val (corpusDir, storeDir, pairsDir) =
      (s"$root/corpus", s"$root/store", s"$root/pairs")

    val input = MemoryStream[(Long, String)]
    val stream = input.toDF().toDF("doc_id", "text")
      .withColumn("tokens", split(col("text"), " ")).drop("text")
    val q = StreamingOps.dedupIngest(stream, corpusDir, storeDir, pairsDir,
      "doc_id", "tokens", shingleK = 3, bands = 8, rowsPerBand = 4,
      minJaccard = 0.5)
    try {
      input.addData(wave1: _*)
      q.processAllAvailable()
      val after1 = spark.read.parquet(pairsDir)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(after1 == Set((1L, 2L)),
        s"batch 1 must emit only its intra-batch pair, got $after1")

      input.addData(wave2: _*)
      q.processAllAvailable()
      val after2 = spark.read.parquet(pairsDir)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(after2 == Set((1L, 2L), (3L, 5L), (12L, 14L)),
        s"batch 2 adds its new×old pairs exactly once, got $after2")
    } finally q.stop()

    // stores equal a from-scratch view: corpus holds every doc once,
    // signature store equals minhashBuckets over that corpus
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq ==
      (wave1 ++ wave2).map(_._1).sorted)
    val storeRows = spark.read.parquet(storeDir)
      .select("id", "band", "key").as[(Long, Int, Long)].collect().toSet
    val recomputed = Dedup.minhashBuckets(
        Dedup.shingleSets(corpus, "doc_id", "tokens", 3), 8, 4)
      .select("id", "band", "key").as[(Long, Int, Long)].collect().toSet
    assert(storeRows == recomputed,
      "signature store must equal a recompute over the full corpus")

    // restart resilience: a BRAND NEW query (fresh MemoryStream, the
    // old one stopped) resumes purely from the on-disk stores — a
    // third wave near-duplicating a wave-1 doc still pairs up
    val input2 = MemoryStream[(Long, String)]
    val stream2 = input2.toDF().toDF("doc_id", "text")
      .withColumn("tokens", split(col("text"), " ")).drop("text")
    val q2 = StreamingOps.dedupIngest(stream2, corpusDir, storeDir,
      pairsDir, "doc_id", "tokens", shingleK = 3, bands = 8,
      rowsPerBand = 4, minJaccard = 0.5)
    try {
      input2.addData(21L -> "cat dog fish bird mouse horse cow goat")
      q2.processAllAvailable()
      val after3 = spark.read.parquet(pairsDir)
        .select("id_a", "id_b").as[(Long, Long)].collect().toSet
      assert(after3 == Set((1L, 2L), (3L, 5L), (12L, 14L), (11L, 21L)),
        s"restarted query pairs the new doc against the stored corpus, got $after3")
    } finally q2.stop()
  }

  test("orphaned batch keys from a mid-write crash are deleted before " +
      "a restart ingests anything") {
    // ADVICE r16: a crash between the pairs write and the store/
    // corpus writes leaves batch=<key> present in pairs only; a
    // checkpoint restart allocates a NEW base, so the orphan would
    // double-count the replayed batch forever. Commit is now
    // mechanical — a key counts only if present in all three dirs —
    // and orphans are deleted at query start.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = tempDir("ingest_orph").toString
    val (corpusDir, storeDir, pairsDir) =
      (s"$root/corpus", s"$root/store", s"$root/pairs")

    def newQuery(input: MemoryStream[(Long, String)]) = {
      val stream = input.toDF().toDF("doc_id", "text")
        .withColumn("tokens", split(col("text"), " ")).drop("text")
      StreamingOps.dedupIngest(stream, corpusDir, storeDir, pairsDir,
        "doc_id", "tokens", shingleK = 3, bands = 8, rowsPerBand = 4,
        minJaccard = 0.5)
    }

    // wave 1 commits batch=0 in all three dirs
    val input1 = MemoryStream[(Long, String)]
    val q1 = newQuery(input1)
    try { input1.addData(wave1: _*); q1.processAllAvailable() }
    finally q1.stop()

    // simulate the crash: a batch=1 partition exists in the PAIRS dir
    // only (schema cloned from the committed partition, bogus ids)
    spark.read.parquet(pairsDir).drop("batch")
      .limit(1)
      .withColumn("id_a", lit(98L)).withColumn("id_b", lit(99L))
      .write.mode("overwrite").parquet(s"$pairsDir/batch=1")
    assert(spark.read.parquet(pairsDir)
      .filter(col("id_a") === 98L).count() === 1L)

    // restart: the orphan must be gone BEFORE wave 2 is processed,
    // and wave 2 lands under a key that makes the stores equal the
    // uninterrupted run's
    val input2 = MemoryStream[(Long, String)]
    val q2 = newQuery(input2)
    try { input2.addData(wave2: _*); q2.processAllAvailable() }
    finally q2.stop()

    val pairs = spark.read.parquet(pairsDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 5L), (12L, 14L)),
      s"orphan must be deleted and wave 2 processed exactly once, got $pairs")
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq ==
      (wave1 ++ wave2).map(_._1).sorted)
    val storeRows = spark.read.parquet(storeDir)
      .select("id", "band", "key").as[(Long, Int, Long)].collect().toSet
    val recomputed = Dedup.minhashBuckets(
        Dedup.shingleSets(corpus, "doc_id", "tokens", 3), 8, 4)
      .select("id", "band", "key").as[(Long, Int, Long)].collect().toSet
    assert(storeRows == recomputed,
      "stores after orphan cleanup must equal a full recompute")
  }

  test("a partial batch dir (present in all three stores, no _SUCCESS) " +
      "is an orphan, not a commit") {
    // ADVICE r17: FileOutputCommitter creates the output dir at job
    // SETUP, so a crash DURING a parquet job leaves batch=<key>
    // present — in the worst case in all three dirs at once (crash
    // mid-corpus-write, the last of the three). Dir existence must
    // NOT count as committed: the key would be skipped as done, the
    // checkpoint would replay the batch under a NEW key, and the
    // partial files (visible under a v2 committer) would double-count
    // pairs forever. Commit = _SUCCESS present inside batch=<key> in
    // ALL THREE dirs.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = tempDir("ingest_part").toString
    val (corpusDir, storeDir, pairsDir) =
      (s"$root/corpus", s"$root/store", s"$root/pairs")

    def newQuery(input: MemoryStream[(Long, String)]) = {
      val stream = input.toDF().toDF("doc_id", "text")
        .withColumn("tokens", split(col("text"), " ")).drop("text")
      StreamingOps.dedupIngest(stream, corpusDir, storeDir, pairsDir,
        "doc_id", "tokens", shingleK = 3, bands = 8, rowsPerBand = 4,
        minJaccard = 0.5)
    }

    val input1 = MemoryStream[(Long, String)]
    val q1 = newQuery(input1)
    try { input1.addData(wave1: _*); q1.processAllAvailable() }
    finally q1.stop()

    // simulate the mid-job crash: batch=1 dirs in ALL THREE stores,
    // with task data visible but the _SUCCESS marker missing (write
    // normally, then strip the marker)
    spark.read.parquet(pairsDir).drop("batch").limit(1)
      .withColumn("id_a", lit(98L)).withColumn("id_b", lit(99L))
      .write.mode("overwrite").parquet(s"$pairsDir/batch=1")
    spark.read.parquet(storeDir).drop("batch").limit(1)
      .write.mode("overwrite").parquet(s"$storeDir/batch=1")
    spark.read.parquet(corpusDir).drop("batch").limit(1)
      .withColumn("doc_id", lit(99L))
      .write.mode("overwrite").parquet(s"$corpusDir/batch=1")
    for (d <- Seq(pairsDir, storeDir, corpusDir)) {
      val ok = new java.io.File(s"$d/batch=1/_SUCCESS").delete()
      assert(ok, s"fixture setup: no _SUCCESS to strip under $d")
    }

    // restart: every batch=1 partial must be deleted (NOT classified
    // committed), wave 2 processed once, stores equal to a clean run
    val input2 = MemoryStream[(Long, String)]
    val q2 = newQuery(input2)
    try { input2.addData(wave2: _*); q2.processAllAvailable() }
    finally q2.stop()

    val pairs = spark.read.parquet(pairsDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 5L), (12L, 14L)),
      s"partial batch dirs must be cleaned, not treated as committed: $pairs")
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq ==
      (wave1 ++ wave2).map(_._1).sorted,
      "the partial corpus row must not survive cleanup")
    val storeRows = spark.read.parquet(storeDir)
      .select("id", "band", "key").as[(Long, Int, Long)].collect().toSet
    val recomputed = Dedup.minhashBuckets(
        Dedup.shingleSets(corpus, "doc_id", "tokens", 3), 8, 4)
      .select("id", "band", "key").as[(Long, Int, Long)].collect().toSet
    assert(storeRows == recomputed,
      "stores after partial-dir cleanup must equal a full recompute")
  }

  test("committed batches survive restart WITHOUT Hadoop's _SUCCESS " +
      "(marksuccessfuljobs=false clusters, ADVICE r18)") {
    // ADVICE r18: on clusters with
    // mapreduce.fileoutputcommitter.marksuccessfuljobs=false (common
    // on object stores) parquet jobs write NO _SUCCESS, so an
    // _SUCCESS-keyed commit check classifies every committed batch
    // orphan at restart and deletes it — and since the checkpoint
    // records those batches done they are never replayed: permanent
    // data loss. The commit marker is now dedupIngest's own
    // _GRAFT_COMMIT file; simulate the no-_SUCCESS cluster by
    // stripping every _SUCCESS after a committed first wave and
    // asserting a restart keeps the stores intact.
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext

    val root = tempDir("ingest_nosucc").toString
    val (corpusDir, storeDir, pairsDir) =
      (s"$root/corpus", s"$root/store", s"$root/pairs")

    def newQuery(input: MemoryStream[(Long, String)]) = {
      val stream = input.toDF().toDF("doc_id", "text")
        .withColumn("tokens", split(col("text"), " ")).drop("text")
      StreamingOps.dedupIngest(stream, corpusDir, storeDir, pairsDir,
        "doc_id", "tokens", shingleK = 3, bands = 8, rowsPerBand = 4,
        minJaccard = 0.5)
    }

    val input1 = MemoryStream[(Long, String)]
    val q1 = newQuery(input1)
    try { input1.addData(wave1: _*); q1.processAllAvailable() }
    finally q1.stop()

    // the no-_SUCCESS cluster: strip every _SUCCESS everywhere; the
    // engine's own _GRAFT_COMMIT markers remain
    for (d <- Seq(pairsDir, storeDir, corpusDir)) {
      val batchDirs = new java.io.File(d).listFiles()
        .filter(_.getName.startsWith("batch="))
      assert(batchDirs.nonEmpty, s"fixture: no batch dirs under $d")
      batchDirs.foreach { bd =>
        val s = new java.io.File(bd, "_SUCCESS")
        if (s.exists()) assert(s.delete())
        assert(new java.io.File(bd, "_GRAFT_COMMIT").exists(),
          s"engine marker missing under $bd")
      }
    }

    val input2 = MemoryStream[(Long, String)]
    val q2 = newQuery(input2)
    try { input2.addData(wave2: _*); q2.processAllAvailable() }
    finally q2.stop()

    val pairs = spark.read.parquet(pairsDir)
      .select("id_a", "id_b").as[(Long, Long)].collect().toSet
    assert(pairs == Set((1L, 2L), (3L, 5L), (12L, 14L)),
      s"wave-1 state must survive the no-_SUCCESS restart, got $pairs")
    val corpus = spark.read.parquet(corpusDir)
    assert(corpus.select("doc_id").as[Long].collect().sorted.toSeq ==
      (wave1 ++ wave2).map(_._1).sorted,
      "no committed batch may be deleted on a marksuccessfuljobs=false " +
        "restart")
  }
}
