package graft

import org.scalatest.funsuite.AnyFunSuite

/** [[Bench.contentionIndex]] / [[Bench.isContended]] (VERDICT r18
  * #2): the fleet-level contention stamp must catch a deliberately
  * loaded box (every query uniformly slower — the r18 +5.6% drift
  * shape, which the spin probe missed) while NOT flagging genuine
  * single-query plan changes or fleet-wide speedups. No Spark needed:
  * the index is pure arithmetic over (query, seconds) maps.
  */
class BenchContentionSpec extends AnyFunSuite with TempDirs {

  private def prev(n: Int): Map[String, Double] =
    (0 until n).map(i => s"q_$i" -> (1.0 + i * 0.3)).toMap

  test("a deliberately loaded run (uniform 1.5x slowdown) is " +
      "detected as contended") {
    val p = prev(20)
    val cur = p.toSeq.map { case (k, v) => k -> v * 1.5 }
    val idx = Bench.contentionIndex(cur, p)
    assert(math.abs(idx - 1.5) < 1e-9)
    assert(Bench.isContended(idx))
  }

  test("the r18 shape — broad moderate drift past the band — is " +
      "contended") {
    val p = prev(30)
    val cur = p.toSeq.map { case (k, v) => k -> v * 1.18 }
    assert(Bench.isContended(Bench.contentionIndex(cur, p)))
  }

  test("a calm run inside the band is not contended") {
    val p = prev(20)
    val cur = p.toSeq.map { case (k, v) => k -> v * 1.03 }
    val idx = Bench.contentionIndex(cur, p)
    assert(!Bench.isContended(idx))
  }

  test("one genuinely regressed query does not contaminate the " +
      "fleet verdict (median, not mean)") {
    val p = prev(21)
    val cur = p.toSeq.map {
      case ("q_3", v) => "q_3" -> v * 4.0 // a real plan regression
      case (k, v) => k -> v * 1.01
    }
    val idx = Bench.contentionIndex(cur, p)
    assert(math.abs(idx - 1.01) < 1e-9)
    assert(!Bench.isContended(idx))
  }

  test("a fleet-wide speedup (optimization round) is not contention") {
    val p = prev(20)
    val cur = p.toSeq.map { case (k, v) => k -> v * 0.85 }
    assert(!Bench.isContended(Bench.contentionIndex(cur, p)))
  }

  test("sub-0.5s queries are timer noise and excluded when enough " +
      "strong ratios exist") {
    val strong = (0 until 6).map(i => s"big_$i" -> 2.0).toMap
    val tiny = (0 until 10).map(i => s"tiny_$i" -> 0.05).toMap
    val p = strong ++ tiny
    // tiny queries look 3x slower (pure jitter), big ones are calm
    val cur = strong.toSeq.map { case (k, v) => k -> v * 1.02 } ++
      tiny.toSeq.map { case (k, v) => k -> v * 3.0 }
    val idx = Bench.contentionIndex(cur, p)
    assert(math.abs(idx - 1.02) < 1e-9)
    assert(!Bench.isContended(idx))
  }

  test("no usable common set returns -1 (never contended)") {
    val idx = Bench.contentionIndex(Seq("q_a" -> 1.0), Map.empty)
    assert(idx === -1.0)
    assert(!Bench.isContended(idx) || idx > 0.0)
  }

  test("the drift baseline skips contended artifacts — a second " +
      "slammed run must not read ratio ~1.0 against the first") {
    val dir = tempDir("graft_calmbase").toFile
    def write(n: Int, body: String): Unit =
      java.nio.file.Files.write(
        new java.io.File(dir, s"bench_full_r$n.json").toPath,
        body.getBytes("UTF-8"))
    write(5, """{"queries":{"q":1.5},"contended":true}""")
    write(4, """{"queries":{"q":1.0},"contended":false}""")
    write(3, """{"queries":{"q":0.9}}""") // pre-stamp format
    assert(Bench.calmBaselineFile(dir, 5).map(_.getName)
      === Some("bench_full_r4.json"))
    // only contended artifacts exist -> None (caller falls back)
    val dir2 = tempDir("graft_calmbase2").toFile
    java.nio.file.Files.write(
      new java.io.File(dir2, "bench_full_r2.json").toPath,
      """{"queries":{"q":2.0},"contended":true}""".getBytes("UTF-8"))
    assert(Bench.calmBaselineFile(dir2, 2).isEmpty)
    // pre-stamp artifacts are trusted as-is
    java.nio.file.Files.write(
      new java.io.File(dir2, "bench_full_r1.json").toPath,
      """{"queries":{"q":1.0}}""".getBytes("UTF-8"))
    assert(Bench.calmBaselineFile(dir2, 2).map(_.getName)
      === Some("bench_full_r1.json"))
  }
}
