package graft.misc

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source scan: sessions are built only in `graft.GraftSession`, and
  * engine code changes confs only through `graft.core.ScopedConf`'s
  * cloned sessions (or `GraftSession` at build time) — never by
  * writing a shared session's conf. */
class SessionGuardSpec extends AnyFunSuite {

  private def sources(root: String): Seq[Path] = {
    val dir = Paths.get(root)
    assert(Files.isDirectory(dir), s"$root not found from ${Paths.get("").toAbsolutePath}")
    val walk = Files.walk(dir)
    try walk.iterator().asScala.filter(_.toString.endsWith(".scala")).toVector
    finally walk.close()
  }

  private def offenders(root: String, pattern: String,
      allowed: Set[String]): Seq[String] = {
    val re = pattern.r
    sources(root).filterNot(p => allowed(p.getFileName.toString)).flatMap { p =>
      Files.readAllLines(p).asScala.zipWithIndex.collect {
        case (line, i) if re.findFirstIn(line).isDefined => s"$p:${i + 1}: ${line.trim}"
      }
    }
  }

  test("src/ builds sessions only in GraftSession") {
    val found = offenders("src", """SparkSession\s*\.\s*builder""",
      Set("GraftSession.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("src/main sets or unsets confs only in ScopedConf and GraftSession") {
    val found = offenders("src/main", """\.conf\s*\.\s*(set|unset)\s*\(""",
      Set("ScopedConf.scala", "GraftSession.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
