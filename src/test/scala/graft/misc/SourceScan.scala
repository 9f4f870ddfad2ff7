package graft.misc

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Line-level source scans behind the guard suites. */
object SourceScan {

  def sources(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  /** `file:line: text` of every line under `root` matching `pattern`,
    * outside the files named in `allowed`. */
  def offenders(root: String, pattern: String, allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    sources(root).filterNot(p => allowed(p.getFileName.toString)).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }
}
