package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

/** A guard over the sources: each needle may appear in code only in its
  * one home file, so a folded duplicate cannot grow back. */
object SourceGuard {

  /** `file:line: text` of every code line (comment lines and trailing
    * `//` comments skipped) under `tree` that holds a needle outside its
    * home; a home of `None` allows it nowhere. */
  def offenders(rules: Seq[(String, Option[String])],
      tree: String = "src/main/scala"): List[String] = {
    val root = Paths.get(tree)
    assert(Files.isDirectory(root), s"run from the repository root: $root")
    def code(line: String): String = {
      val t = line.trim
      if (t.startsWith("*") || t.startsWith("/*") || t.startsWith("//")) ""
      else line.replaceAll("//.*$", "")
    }
    val walk = Files.walk(root)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala"))
      .flatMap { (f: Path) =>
        Files.readAllLines(f).asScala.zipWithIndex.flatMap { case (line, i) =>
          rules.collect {
            case (needle, home) if code(line).contains(needle) &&
                !home.exists(h => f.endsWith(Paths.get(h))) =>
              s"$f:${i + 1}: $line"
          }
        }
      }.toList
    finally walk.close()
  }
}
