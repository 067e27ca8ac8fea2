package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Per-suite temporary directories, deleted in `afterAll`: the
  * checkpoints, sinks and saved indexes a test writes never outlive
  * its suite.
  */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = scala.collection.mutable.ListBuffer.empty[Path]

  /** A fresh directory named `prefix…`, removed after the suite. */
  def tempDir(prefix: String): String = synchronized {
    val p = Files.createTempDirectory(prefix)
    made += p
    p.toString
  }

  override def afterAll(): Unit =
    try super.afterAll()
    finally synchronized { made.foreach(deleteTree); made.clear() }

  private def deleteTree(root: Path): Unit = if (Files.exists(root)) {
    val walk = Files.walk(root)
    try walk.sorted(java.util.Comparator.reverseOrder[Path]()).forEach(p => Files.deleteIfExists(p))
    finally walk.close()
  }
}
