package graft

import java.nio.file.{Files, Path}

import scala.collection.mutable

import org.apache.commons.io.FileUtils
import org.scalatest.{BeforeAndAfterAll, Suite}

/** The one place a spec makes a temp dir: every dir [[tempDir]] makes
  * is deleted, with everything under it, when the suite ends, so a
  * full test run leaves nothing under `java.io.tmpdir`.
  * `TempDirCensusSpec` keeps every other `createTempDirectory` out of
  * `src/test`.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>

  private val made = mutable.Buffer.empty[Path]

  /** A fresh dir named `prefix…`, deleted in `afterAll`. */
  def tempDir(prefix: String): Path = {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir
  }

  override protected def afterAll(): Unit =
    try made.foreach(d => FileUtils.deleteDirectory(d.toFile))
    finally super.afterAll()
}
