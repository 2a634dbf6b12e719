package graft

import java.nio.file.{Files, Path}

import org.scalatest.{BeforeAndAfterAll, Suite}

/** Temp dirs a suite creates through [[tempDir]], deleted when the
  * suite ends so repeated test runs leave nothing behind in tmpdir. */
trait TempDirs extends BeforeAndAfterAll { this: Suite =>
  private val made = scala.collection.mutable.Buffer.empty[Path]

  def tempDir(prefix: String): Path = synchronized {
    val d = Files.createTempDirectory(prefix)
    made += d
    d
  }

  override def afterAll(): Unit =
    try made.foreach(d => org.apache.commons.io.FileUtils.deleteQuietly(d.toFile))
    finally super.afterAll()
}
