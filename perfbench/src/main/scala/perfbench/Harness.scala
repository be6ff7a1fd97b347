package perfbench

import graft.{OkCupidPipeline, SparkEntry, Tables}
import graft.sources.{ShardedWrite, ZOrderLayout}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.perfbench.BusDrain
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, lit, pmod}
import org.apache.spark.storage.StorageLevel
import scala.collection.mutable
import scala.jdk.CollectionConverters._
import scala.util.control.NonFatal

/** One benchmark run of one workload in its own JVM: set-up (five
  * times; the median is the set-up metric), one checked pass that
  * writes every output for the oracle compare, untimed warm-up passes,
  * then a closed loop of timed passes with one client until
  * `--seconds` have passed. Writes
  * the raw measurements as JSON to `<out>/raw.json`; `run.py` turns
  * them into metrics.
  *
  * With `--trace 1` the even passes run with the listener attached and
  * every call tagged, the odd passes run bare (their difference is
  * the tracing overhead; the first pass is traced, so residual warm-up
  * inflates the overhead rather than hiding it), and the scan and write probes and the
  * kernel microbenchmark run after the loop.
  *
  * Usage: Harness --workload W --seed N --seconds S --trace 0|1
  *                --data DIR --out DIR --cores N
  */
object Harness {
  private final case class Args(
      workload: String, seed: Long, seconds: Double, trace: Boolean,
      data: String, out: String, cores: Int)

  /** Set-ups per run; the first pays the JVM's warm-up, and set-up time
    * still falls over the next two, so the median of five is a warm one.
    */
  private val SetUps = 5
  /** Untimed passes between the checked pass and the timed ones, while
    * the JIT is still compiling the engine's code: with C1 alone the
    * pass after the checked one runs up to 10% slower than later ones.
    */
  private val WarmUps = 1
  /** Timed passes run until `--seconds` have passed, and at least one
    * (two when traced: one bare, one traced).
    */
  private def minPasses(trace: Boolean): Int = if (trace) 2 else 1
  /** Generated classes Spark keeps compiled. With its default, 100, the
    * JIT compiled 7–10 s in every 6 s flagship pass and never settled,
    * and passes drifted 10–20% apart; with 2,000 no timed flagship pass
    * compiles a generated class, and timed passes measure the engine's
    * warm work.
    */
  private val CodegenCacheEntries = 2000
  /** The flagship pipeline must beat the 0.6 majority-class rate by a
    * wide margin; a trainer that learns nothing scores about 0.6.
    */
  private val MinAccuracy = 0.8

  private def parse(argv: Array[String]): Args = {
    val m = argv.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def get(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Args(get("--workload"), get("--seed").toLong, get("--seconds").toDouble,
      get("--trace") == "1", get("--data"), get("--out"), get("--cores").toInt)
  }

  def main(argv: Array[String]): Unit = {
    val a = parse(argv)
    val w = Workloads.byName(a.workload).getOrElse {
      System.err.println(s"unknown workload ${a.workload}; known: " +
        Workloads.all.map(_.name).mkString(", "))
      sys.exit(2)
    }
    w match {
      case m: Mix =>
        val missing = m.queries.filterNot(SparkEntry.oracleSql.contains)
        if (missing.nonEmpty) {
          System.err.println(s"queries without an oracle: ${missing.mkString(", ")}")
          sys.exit(2)
        }
      case _ =>
    }
    new Run(a, w).run()
  }

  private def nanosToS(dt: Long): Double = dt / 1e9

  /** Cumulative GC time of the JVM, all collectors, in seconds. */
  private def gcSeconds(): Double =
    ManagementFactory.getGarbageCollectorMXBeans.asScala
      .map(b => math.max(0L, b.getCollectionTime)).sum / 1e3

  /** Old-generation occupancy in MB after a full GC. The first GC lets
    * Spark's ContextCleaner see the dropped RDDs, shuffles and
    * broadcasts; the pauses let it release their blocks; the later GCs
    * free them, so the reading is what the driver retains. With one
    * 0.2 s pause the reading still held about 20 MB more whenever a
    * transitions query had run last.
    */
  private def retainedHeapMb(): Double = {
    System.gc()
    Thread.sleep(1000)
    System.gc()
    Thread.sleep(1000)
    System.gc()
    ManagementFactory.getMemoryPoolMXBeans.asScala
      .filter(p => p.getName.contains("Old Gen") || p.getName.contains("Tenured"))
      .map(_.getUsage.getUsed).sum / 1048576.0
  }

  /** Classes Spark's code generator has compiled so far in this JVM. */
  private def codegenCompiles(): Long = CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Cumulative JIT compilation time of the JVM, in seconds. */
  private def jitSeconds(): Double =
    ManagementFactory.getCompilationMXBean.getTotalCompilationTime / 1e3

  /** 1-minute load average, or -1 where /proc is absent. */
  private def loadAvg(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/loadavg")
      try src.mkString.split("\\s+")(0).toDouble finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** CPU time the hypervisor took from this machine's processors
    * (the steal column of /proc/stat), cumulative, in seconds, or -1
    * where /proc is absent.
    */
  private def stealSeconds(): Double =
    try {
      val src = scala.io.Source.fromFile("/proc/stat")
      try src.getLines().next().trim.split("\\s+")(8).toDouble / 100
      finally src.close()
    } catch { case NonFatal(_) => -1.0 }

  /** A fixed single-thread spin, in ms: rises when other tenants take
    * the core. Recorded beside every pass, never used to drop one.
    */
  private def spinMs(): Double = {
    val t0 = System.nanoTime()
    var i = 0L
    var x = 0L
    while (i < 50000000L) { x ^= i * 31; i += 1 }
    if (x == 42L) System.err.print("")
    (System.nanoTime() - t0) / 1e6
  }

  private def errorText(e: Throwable): String =
    s"${e.getClass.getName}: ${Option(e.getMessage).getOrElse("").take(300)}"

  private final class Run(a: Args, w: Workload) {
    private val result = mutable.LinkedHashMap[String, Any](
      "workload" -> w.name, "seed" -> a.seed, "cores" -> a.cores,
      "trace" -> a.trace, "seconds" -> a.seconds)
    private val recorder = new Recorder
    private var spark: SparkSession = _
    /** Flagship corpus and its per-label document counts. */
    private var corpus: DataFrame = _
    private var labelDocs: Map[Double, Long] = Map.empty

    private def newSession(): SparkSession = {
      val s = SparkSession.builder()
        .master(s"local[${a.cores}]")
        .config("spark.sql.shuffle.partitions", a.cores.toString)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toString)
        .config("spark.local.dir", s"${a.out}/spark-local")
        .config("spark.sql.warehouse.dir", s"${a.out}/warehouse")
        .getOrCreate()
      s.sparkContext.setLogLevel("ERROR")
      s
    }

    /** Session start plus input preparation: a scan of every input
      * table the workload reads, or generation of the flagship corpus.
      */
    private def setUp(): Double = {
      val t0 = System.nanoTime()
      if (spark != null) {
        if (corpus != null) corpus.unpersist(blocking = true)
        spark.stop()
      }
      spark = newSession()
      w match {
        case f: Flagship =>
          corpus = Workloads.saltedProfiles(spark, f.docs, Math.floorMod(a.seed, 1000000L))
            .persist(StorageLevel.MEMORY_AND_DISK)
          labelDocs = corpus
            .groupBy((col("sex") === "m").cast("double").as("label")).count()
            .collect().map(r => r.getDouble(0) -> r.getLong(1)).toMap
        case m: Mix =>
          m.tables.foreach(t =>
            Tables(spark, a.data, t).write.format("noop").mode("overwrite").save())
      }
      nanosToS(System.nanoTime() - t0)
    }

    /** Runs `body` with every job it starts tagged `tag` when traced. */
    private def tagged[T](traced: Boolean, tag: String)(body: => T): T = {
      if (!traced) body
      else {
        spark.sparkContext.setLocalProperty(Recorder.TagKey, tag)
        recorder.currentTag = tag
        try body
        finally {
          spark.sparkContext.setLocalProperty(Recorder.TagKey, null)
          recorder.currentTag = Recorder.Untagged
        }
      }
    }

    private def confSnapshot(): Map[String, String] = spark.conf.getAll

    private def confDiff(before: Map[String, String]): Int = {
      val after = confSnapshot()
      (before.keySet ++ after.keySet).count(k => before.get(k) != after.get(k))
    }

    private def attach(): Unit = {
      spark.sparkContext.addSparkListener(recorder)
      spark.streams.addListener(recorder.streams)
    }

    private def detach(): Unit = {
      BusDrain(spark.sparkContext)
      spark.sparkContext.removeSparkListener(recorder)
      spark.streams.removeListener(recorder.streams)
    }

    /** Drops what a mix's queries cached. The flagship's pipeline
      * unpersists its own frames, and its corpus stays cached for the
      * next pass.
      */
    private def dropCaches(): Unit = w match {
      case _: Mix => spark.catalog.clearCache()
      case _: Flagship =>
    }

    /** One flagship pipeline run, its output checked. */
    private def flagshipOnce(traced: Boolean, tag: String): Map[String, Any] =
      try {
        val t0 = System.nanoTime()
        val (confusion, acc, stages) = tagged(traced, s"$tag/build") {
          OkCupidPipeline.trainAndEvaluateTimed(corpus)
        }
        val t1 = System.nanoTime()
        val cells = tagged(traced, s"$tag/exec")(confusion.collect())
        val t2 = System.nanoTime()
        val byLabel = cells.groupBy(_.getDouble(1)).map { case (l, rs) =>
          l -> rs.map(_.getLong(2)).sum
        }
        // StratifiedSplit keeps ceil(0.7·n) rows of each label for
        // training, so the test split holds the rest.
        val expected = labelDocs.map { case (l, n) => l -> (n - math.ceil(0.7 * n).toLong) }
        val error =
          if (byLabel != expected)
            Some(s"confusion cells per label $byLabel, expected test rows $expected")
          else if (acc < MinAccuracy) Some(f"accuracy $acc%.4f below $MinAccuracy")
          else None
        Map("name" -> "okcupid_pipeline",
          "build_s" -> nanosToS(t1 - t0), "exec_s" -> nanosToS(t2 - t1),
          "accuracy" -> acc, "stages" -> stages.toMap,
          "confusion" -> cells.map(r => Seq(r.getDouble(0), r.getDouble(1), r.getLong(2))).toSeq,
          "error" -> error)
      } catch {
        case NonFatal(e) => Map("name" -> "okcupid_pipeline", "error" -> errorText(e))
      }

    /** One mix query, built and executed to a noop sink (or to parquet
      * for the checked pass).
      */
    private def queryOnce(q: String, traced: Boolean, tag: String,
        checkDir: Option[String]): Map[String, Any] = {
      val before = if (traced) confSnapshot() else Map.empty[String, String]
      val t0 = System.nanoTime()
      var t1 = t0
      val error =
        try {
          val df = tagged(traced, s"$tag/build")(SparkEntry.queries(q)(spark, a.data))
          t1 = System.nanoTime()
          tagged(traced, s"$tag/exec") {
            checkDir match {
              case Some(dir) => df.coalesce(1).write.mode("overwrite").parquet(s"$dir/$q")
              case None => df.write.format("noop").mode("overwrite").save()
            }
          }
          None
        } catch { case NonFatal(e) => Some(errorText(e)) }
      val t2 = System.nanoTime()
      if (t1 == t0) t1 = t2 // the build threw: all of the time was build
      Map("name" -> q, "build_s" -> nanosToS(t1 - t0), "exec_s" -> nanosToS(t2 - t1),
        "error" -> error) ++
        (if (traced) Map("conf_changes" -> confDiff(before)) else Map.empty)
    }

    private def checkPass(): Unit = {
      val t0 = System.nanoTime()
      if (a.trace) attach()
      val records = w match {
        case _: Flagship => Seq(flagshipOnce(a.trace, "check/okcupid_pipeline"))
        case m: Mix =>
          val dir = s"${a.out}/check"
          val rs = Workloads.order(m.queries, a.seed, -1)
            .map(q => queryOnce(q, a.trace, s"check/$q", Some(dir)))
          val oracle = m.queries.map(q => q -> SparkEntry.oracleSql(q)).toMap
          Files.writeString(Paths.get(s"$dir/oracle_sql.json"), Json.write(oracle))
          rs
      }
      if (a.trace) detach()
      dropCaches()
      result("check") = records
      result("check_s") = nanosToS(System.nanoTime() - t0)
    }

    /** Timed pass `index` (traced when even and tracing); warm-up
      * passes have negative indices and run bare.
      */
    private def pass(index: Int): Map[String, Any] = {
      val traced = a.trace && index >= 0 && index % 2 == 0
      val load = loadAvg()
      val spin = spinMs()
      if (traced) attach()
      val gc0 = gcSeconds()
      val jit0 = jitSeconds()
      val steal0 = stealSeconds()
      val compiles0 = codegenCompiles()
      val t0 = System.nanoTime()
      val records = w match {
        case _: Flagship => Seq(flagshipOnce(traced, s"p$index/okcupid_pipeline"))
        case m: Mix =>
          Workloads.order(m.queries, a.seed, index)
            .map(q => queryOnce(q, traced, s"p$index/$q", None))
      }
      val wall = nanosToS(System.nanoTime() - t0)
      val gc = gcSeconds() - gc0
      val jit = jitSeconds() - jit0
      val steal = stealSeconds() - steal0
      val compiles = codegenCompiles() - compiles0
      if (traced) detach()
      dropCaches()
      System.gc() // every pass starts from a collected heap
      val base = Map[String, Any](
        "index" -> index, "traced" -> traced, "load1" -> load, "spin_ms" -> spin,
        "wall_s" -> wall, "gc_s" -> gc, "jit_s" -> jit, "steal_s" -> steal,
        "codegen_compiles" -> compiles,
        "queries" -> records)
      if (!traced) base
      else {
        val prefix = s"p$index/"
        val perQuery = records.map(_("name").toString).map { q =>
          q -> Map(
            "build" -> recorder.sum(_ == s"$prefix$q/build").toMap,
            "exec" -> recorder.sum(_ == s"$prefix$q/exec").toMap)
        }.toMap
        base ++ Map(
          "layers" -> recorder.sum(_.startsWith(prefix)).toMap,
          "query_layers" -> perQuery)
      }
    }

    /** The layer probes, three repetitions each, medians kept: every
      * input table read through the engine's loaders to a noop sink,
      * and two writes through the engine's layout writers.
      */
    private def probes(): Unit = {
      attach()
      def timed(name: String)(body: => Unit): (String, Double) = {
        val secs = (1 to 3).map { r =>
          tagged(traced = true, s"probe/$r/$name") {
            val t0 = System.nanoTime()
            body
            nanosToS(System.nanoTime() - t0)
          }
        }.sorted
        name -> secs(1)
      }
      val scans = Tables.names.map(t => timed(s"scan/$t") {
        val df = if (t == "events") Tables.events(spark, a.data) else Tables(spark, a.data, t)
        df.write.format("noop").mode("overwrite").save()
      })
      val writes = Seq(
        timed("write/sharded_lineitem") {
          ShardedWrite.writeSharded(Tables.lineitem(spark, a.data),
            s"${a.out}/writes/sharded", "l_orderkey", rowsPerShard = 20000L)
        },
        timed("write/zorder_orders") {
          val o = Tables.orders(spark, a.data)
          ZOrderLayout.writeZOrdered(o, pmod(col("o_custkey"), lit(256L)),
            pmod(col("o_orderkey"), lit(256L)), 8, a.cores, s"${a.out}/writes/zorder")
        })
      detach()
      // the middle repetition's counters stand for one probe
      result("probes") = Map(
        "scan_s" -> scans.toMap, "write_s" -> writes.toMap,
        "scan" -> recorder.sum(_.startsWith("probe/2/scan/")).toMap,
        "write" -> recorder.sum(_.startsWith("probe/2/write/")).toMap)
    }

    def run(): Unit = {
      val t0 = System.nanoTime()
      result("setup_s") = (1 to SetUps).map(_ => setUp())
      checkPass()
      // The driver retains a few MB more with every pass, so the heap
      // is read at one point, after the checked pass, not after the
      // last pass, whose number depends on speed.
      result("heap_mb") = retainedHeapMb()
      val warmup = (1 to WarmUps).map(i => pass(-i))
      result("warmup") = warmup
      val passes = mutable.ArrayBuffer.empty[Map[String, Any]]
      val deadline = System.nanoTime() + (a.seconds * 1e9).toLong
      // Another pass starts only if, at the last pass's pace, at least
      // half of it ends before the deadline: the passes then fill the
      // window on average rather than overrunning it by up to a pass.
      def lastWall: Double = (warmup ++ passes).last("wall_s").asInstanceOf[Double]
      while (passes.size < minPasses(a.trace) ||
          System.nanoTime() + (lastWall / 2 * 1e9).toLong < deadline)
        passes += pass(passes.size)
      result("passes") = passes.toSeq
      if (a.trace) {
        probes()
        result("kernels") = Kernels.run(a.seed)
      }
      result("run_s") = nanosToS(System.nanoTime() - t0)
      Files.writeString(Paths.get(s"${a.out}/raw.json"), Json.write(result))
      if (corpus != null) corpus.unpersist(blocking = true)
      spark.stop()
    }
  }
}
