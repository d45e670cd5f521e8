package graft.engine

import java.io.File
import java.nio.file.{Files, Paths}

/** The one place the engine makes a temporary directory: under the
  * per-process scratch root (tmpfs-preferred, see
  * [[GraftSession.scratchRoot]]). On an ext4 /tmp mounted with inline
  * discard the hundreds of tiny files a stream checkpoint or a round-trip
  * write leaves each pay a synchronous TRIM when deleted. The root is
  * swept by the next session once this JVM dies; a query that is done
  * with its directory deletes it at once. */
object TempDir {

  /** A fresh directory under the scratch root. */
  def apply(prefix: String): String =
    Files.createTempDirectory(Paths.get(GraftSession.scratchRoot), prefix).toString

  /** Deletes `dir` and everything under it. */
  def delete(dir: File): Unit = {
    Option(dir.listFiles()).getOrElse(Array.empty).foreach(delete)
    dir.delete(); ()
  }

  /** The bytes of each `part-*` file with name suffix `suffix` that a
    * Spark writer left in `dir`, in name order; deletes `dir`. */
  def drainParts(dir: String, suffix: String): Seq[Array[Byte]] = {
    val d = new File(dir)
    try Option(d.listFiles()).getOrElse(Array.empty).toSeq
      .filter(f => f.getName.startsWith("part-") && f.getName.endsWith(suffix))
      .sortBy(_.getName).map(f => Files.readAllBytes(f.toPath))
    finally delete(d)
  }
}
