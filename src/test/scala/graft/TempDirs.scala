package graft

import graft.sources.ManifestTables
import org.scalatest.{BeforeAndAfterAll, Suite}
import java.nio.file.{Files, Path}
import scala.collection.mutable

/** Temporary directories of one suite, deleted with everything under them after the
  * suite's last test, so repeated runs do not fill the temp dir.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = mutable.ArrayBuffer[Path]()

  /** A new empty directory under the system temp dir, named `prefix` plus a suffix. */
  def tempDir(prefix: String): Path = made.synchronized {
    val dir = Files.createTempDirectory(prefix)
    made += dir
    dir
  }

  override def afterAll(): Unit =
    try made.synchronized(made.foreach(ManifestTables.deleteTree)) finally super.afterAll()
}
