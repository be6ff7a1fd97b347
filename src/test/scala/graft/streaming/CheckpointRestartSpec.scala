package graft.streaming

import graft.{SparkSuite, TempDirs}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.OutputMode

/** The restart contract every production stream in this engine
  * leans on: a file-source query with a checkpointLocation must,
  * after a stop/restart, process exactly the files that arrived
  * while it was down — no reprocessing of pre-restart batches, no
  * holes. (The stateful twins prove state carries across
  * micro-batches; this proves PROGRESS carries across process
  * restarts, which is what makes the foreachBatch parquet sinks —
  * classify, percolate, dedupIngest — exactly-once per batch.)
  */
class CheckpointRestartSpec extends SparkSuite with TempDirs {

  test("restart from checkpoint resumes without duplicates or holes") {
    import spark.implicits._
    val root = tempDir("graft_ckpt").toString
    val in = s"$root/in"
    val out = s"$root/out"
    val ckpt = s"$root/ckpt"

    def run(): Unit = {
      val schema = spark.read.parquet(in).schema
      val q = spark.readStream.schema(schema).parquet(in)
        .withColumn("doubled", col("v") * 2)
        .writeStream
        .outputMode(OutputMode.Append)
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           _: Long) =>
            b.write.mode("append").parquet(out)
            ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }

    (1L to 5L).toDF("v").write.mode("append").parquet(in)
    run()
    val afterFirst = spark.read.parquet(out).collect()
      .map(_.getLong(0)).sorted.toSeq
    assert(afterFirst === (1L to 5L))

    // second wave lands while the query is DOWN; restart must pick
    // up exactly these files
    (6L to 9L).toDF("v").repartition(1).write.mode("append").parquet(in)
    run()
    val afterSecond = spark.read.parquet(out).collect()
      .map(r => (r.getLong(0), r.getLong(1))).sortBy(_._1).toSeq
    assert(afterSecond === (1L to 9L).map(i => (i, 2 * i)))

    // a third restart with NOTHING new must emit nothing
    run()
    assert(spark.read.parquet(out).count() === 9L)
  }

  test("mapGroupsWithState restores state from a checkpoint: a killed-" +
      "and-restarted EWMA stream ends bit-for-bit equal to an " +
      "uninterrupted run (VERDICT r16 #5)") {
    // The stateful twins prove state carries across MICRO-BATCHES;
    // this proves it carries across PROCESS restarts — the state
    // store's deserialize path, which no processAllAvailable-style
    // test exercises. Sink is foreachBatch→parquet (the memory sink
    // refuses checkpoint recovery by design).
    import spark.implicits._
    val root = tempDir("graft_state_ckpt").toString

    // wave B is strictly later than wave A per key (the operator's
    // batch-monotonic input contract), values chosen so every fold
    // step is a distinct IEEE op
    val waveA = Seq(
      Meas(1L, 1000L, 1L, 3.0), Meas(1L, 2000L, 2L, 5.0),
      Meas(2L, 1500L, 3L, 7.25), Meas(3L, 1200L, 4L, 0.125))
    val waveB = Seq(
      Meas(1L, 3000L, 5L, 11.5), Meas(2L, 2500L, 6L, 1.0),
      Meas(2L, 2600L, 7L, 2.0), Meas(3L, 2200L, 8L, 9.75))

    def run(in: String, ckpt: String, out: String): Unit = {
      val schema = spark.read.parquet(in).schema
      val stream = spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1").parquet(in).as[Meas]
      val q = StreamingOps.ewmaState(stream).toDF()
        .writeStream
        .outputMode(org.apache.spark.sql.streaming.OutputMode.Update)
        .option("checkpointLocation", ckpt)
        .foreachBatch {
          (b: org.apache.spark.sql.Dataset[org.apache.spark.sql.Row],
           id: Long) =>
            b.write.mode("overwrite").parquet(s"$out/batch=$id")
            ()
        }
        .start()
      try q.processAllAvailable() finally q.stop()
    }
    // update-mode emits one row per key per trigger it appears in;
    // the key's FINAL state is its max-n row (n is fold-monotone)
    def finalState(out: String): Map[Long, (Long, Double)] =
      spark.read.parquet(out).select("key", "n", "ewma")
        .as[(Long, Long, Double)].collect()
        .groupBy(_._1).map { case (k, rs) =>
          val best = rs.maxBy(_._2); k -> (best._2, best._3) }

    // uninterrupted reference: both waves in ONE file, one run
    val inU = s"$root/in_u"
    (waveA ++ waveB).toDS().coalesce(1).write.mode("append").parquet(inU)
    run(inU, s"$root/ckpt_u", s"$root/out_u")
    val uninterrupted = finalState(s"$root/out_u")

    // interrupted: wave A, run, KILL; wave B lands while down; a new
    // query restarts from the same checkpoint
    val inI = s"$root/in_i"
    waveA.toDS().coalesce(1).write.mode("append").parquet(inI)
    run(inI, s"$root/ckpt_i", s"$root/out_i")
    waveB.toDS().coalesce(1).write.mode("append").parquet(inI)
    run(inI, s"$root/ckpt_i", s"$root/out_i")

    val restarted = finalState(s"$root/out_i")
    assert(restarted === uninterrupted,
      s"state after restart must equal the uninterrupted run's")
    // hand-computed finals — n counts PROVE the restart folded on top
    // of recovered state (a lost store would restart n at the wave-B
    // row count), ewma doubles are exact (same IEEE op sequence)
    assert(restarted === Map(
      1L -> (3L, 7.75), 2L -> (3L, 3.0625), 3L -> (2L, 4.9375)))
    // and the post-restart batch really was a separate micro-batch
    // (its emitted rows live under a batch id > 0)
    val batches = spark.read.parquet(s"$root/out_i")
      .select("batch").distinct().as[Long].collect().toSet
    assert(batches.exists(_ > 0L), s"expected a post-restart batch: $batches")
  }
}
