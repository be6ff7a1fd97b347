package graft.streaming

import graft.SparkSuite
import org.apache.spark.sql.{Dataset, Encoder, Row}
import org.apache.spark.sql.streaming.OutputMode

/** Drives [[StreamingOps.psiState]], [[StreamingOps.msprtState]] and
  * [[StreamingOps.debounceStream]] across two MemoryStream
  * micro-batches and compares the final rows with a one-batch run of
  * the same input. PSI and mSPRT are commutative folds, so the split
  * cannot change them; debounce is order-sensitive, so it is fed
  * batch-monotonic input and must carry its suppression window over
  * the batch boundary.
  */
class MultiBatchStateSpec extends SparkSuite {

  /** Every sink row of `op` over `batches`, one trigger per batch. */
  private def run[T: Encoder, U](
      name: String, mode: OutputMode, batches: Seq[Seq[T]])(
      op: Dataset[T] => Dataset[U]): Seq[Row] = {
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    implicit val ctx: org.apache.spark.sql.SQLContext = spark.sqlContext
    val input = MemoryStream[T]
    val q = op(input.toDS()).toDF().writeStream
      .outputMode(mode).format("memory").queryName(name).start()
    try {
      batches.foreach { b =>
        input.addData(b)
        q.processAllAvailable()
      }
      spark.table(name).collect().toSeq
    } finally {
      q.stop()
      spark.catalog.dropTempView(name)
    }
  }

  /** The update-mode snapshot with the most observations per group. */
  private def finalPerGroup(rows: Seq[Row]): Seq[Row] =
    rows.groupBy(_.getString(0)).values
      .map(_.maxBy(r => r.getLong(1) + r.getLong(2)))
      .toSeq.sortBy(_.getString(0))

  private val obs = Seq(
    EnObs("a", false, 3L), EnObs("a", true, 5L), EnObs("a", false, 3L),
    EnObs("b", true, 7L), EnObs("a", true, 4L), EnObs("b", false, 2L),
    EnObs("b", true, 7L), EnObs("a", false, 6L), EnObs("b", false, 9L))

  test("psiState: two micro-batches give the one-batch final rows") {
    import spark.implicits._
    val (b1, b2) = obs.splitAt(4)
    val split = finalPerGroup(run("psi_two", OutputMode.Update,
      Seq(b1, b2))(StreamingOps.psiState))
    val whole = finalPerGroup(run("psi_one", OutputMode.Update,
      Seq(obs))(StreamingOps.psiState))
    assert(whole.map(_.getString(0)) === Seq("a", "b"))
    assert(split === whole)
  }

  test("msprtState: two micro-batches give the one-batch final rows") {
    import spark.implicits._
    val (b1, b2) = obs.splitAt(5)
    val split = finalPerGroup(run("msprt_two", OutputMode.Update,
      Seq(b1, b2))(StreamingOps.msprtState))
    val whole = finalPerGroup(run("msprt_one", OutputMode.Update,
      Seq(obs))(StreamingOps.msprtState))
    assert(whole.map(_.getString(0)) === Seq("a", "b"))
    assert(split === whole)
  }

  test("debounceStream: suppression carries over the batch boundary") {
    import spark.implicits._
    // gap 100 µs, batch-monotonic per key. (1, click): 0 emits, 80 is
    // suppressed but extends the window, 170 (batch 2) is within 100
    // of the SUPPRESSED 80, 400 emits. (1, view): 60 emits, 150
    // (batch 2) is within 100 of the carried 60. (2, click): 500
    // emits, 700 (batch 2) is past the gap.
    val b1 = Seq(Chg(1L, 0L, "click", 1L), Chg(1L, 80L, "click", 2L),
      Chg(1L, 60L, "view", 3L), Chg(2L, 500L, "click", 4L))
    val b2 = Seq(Chg(1L, 170L, "click", 5L), Chg(1L, 400L, "click", 6L),
      Chg(1L, 150L, "view", 7L), Chg(2L, 700L, "click", 8L))
    def ids(rows: Seq[Row]) = rows.map(_.getLong(3)).sorted
    val split = ids(run("debounce_two", OutputMode.Append,
      Seq(b1, b2))(StreamingOps.debounceStream(_, 100L)))
    val whole = ids(run("debounce_one", OutputMode.Append,
      Seq(b1 ++ b2))(StreamingOps.debounceStream(_, 100L)))
    assert(split === Seq(1L, 3L, 4L, 6L, 8L))
    assert(split === whole)
  }
}
