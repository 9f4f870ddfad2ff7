package graft.misc

import org.scalatest.funsuite.AnyFunSuite
import SourceScan.offenders

/** Source scan: sessions are built only in `graft.GraftSession`, and
  * engine code changes confs only through `graft.core.ScopedConf`'s
  * cloned sessions (or `GraftSession` at build time) — never by
  * writing a shared session's conf. */
class SessionGuardSpec extends AnyFunSuite {

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
