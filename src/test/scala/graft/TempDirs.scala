package graft

import java.io.File
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue

import org.scalatest.{BeforeAndAfterAll, Suite}

import graft.queries.StreamReplay

/** The specs' one source of temp dirs: `tempDir(prefix)` makes a fresh
  * dir under the system temp dir, `tempFile` a file inside one, and
  * every dir a suite made is deleted, recursively, after the suite. A
  * source lint in `TempDirsSpec` keeps raw `createTempDirectory` and
  * `createTempFile` calls out of the other spec files. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = new ConcurrentLinkedQueue[File]()

  def tempDir(prefix: String): String = {
    val d = Files.createTempDirectory(prefix).toFile
    made.add(d)
    d.getPath
  }

  def tempFile(prefix: String, suffix: String): Path =
    Files.createTempFile(new File(tempDir(prefix)).toPath, prefix, suffix)

  override def afterAll(): Unit =
    try super.afterAll()
    finally made.forEach(d => StreamReplay.deleteRec(d))
}
