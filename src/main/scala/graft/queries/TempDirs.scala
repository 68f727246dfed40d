package graft.queries

import java.nio.file.{Files, Path}

/** Directories that gates write and read back through. Each is a new
  * directory under one root per JVM (`graft-<random>` in the system temp
  * directory, made on first use), named `<name>-<n>` with `n` counting
  * the directories made so far, so a gate built in the same order gets
  * the same path under the root. The root is removed, with everything
  * under it, when the JVM exits: a frame a gate returns can still read
  * its directory after the gate's build returns. */
object TempDirs {
  private lazy val root: Path = {
    val r = Files.createTempDirectory("graft-")
    sys.addShutdownHook(org.apache.commons.io.FileUtils.deleteQuietly(r.toFile))
    r
  }
  private val made = new java.util.concurrent.atomic.AtomicInteger()

  /** A new, empty directory under the root. */
  def create(name: String): Path =
    Files.createDirectory(root.resolve(s"$name-${made.incrementAndGet()}"))
}
