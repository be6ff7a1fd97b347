package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Every spec temp dir goes through [[TempDirs]], which deletes it when
  * the suite ends: no other `createTempDirectory(` code line may
  * appear in `src/test`, and the helper really deletes what it made.
  */
class TempDirCensusSpec extends AnyFunSuite {

  private val site = """\bcreateTempDirectory\s*\(""".r

  test("only TempDirs creates temp dirs in src/test") {
    val root = Paths.get("src/test/scala")
    assume(Files.isDirectory(root), "run from the repo root")
    val sites = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala") && Files.isRegularFile(p))
      .flatMap { (p: Path) =>
        Files.readAllLines(p).asScala.filter { l =>
          val t = l.trim
          !(t.startsWith("//") || t.startsWith("*") || t.startsWith("/*")) &&
            site.findFirstIn(t).nonEmpty
        }.map(_ => root.relativize(p).toString.replace('\\', '/'))
      }
      .toSeq
    assert(sites == Seq("graft/TempDirs.scala"),
      s"make spec temp dirs with TempDirs.tempDir: $sites")
  }

  test("a suite's temp dirs are gone after afterAll") {
    class Probe extends AnyFunSuite with TempDirs {
      def finish(): Unit = afterAll()
    }
    val probe = new Probe
    val dir = probe.tempDir("graft_tempdirs_probe")
    Files.write(Files.createDirectories(dir.resolve("a/b")).resolve("f"),
      "x".getBytes("UTF-8"))
    probe.finish()
    assert(!Files.exists(dir))
  }
}
