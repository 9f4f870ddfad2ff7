package graft.misc

import org.scalatest.funsuite.AnyFunSuite
import SourceScan.offenders

/** Source scan: every single-selector IVF-family search takes its
  * probed lists from `Probes.local` (one driver-side coarse
  * quantization), not from a Spark distinct over its probe plan. Only
  * IMI's cell-pair probes and BinaryIvf's Hamming probes, which are
  * not one selector column, still enumerate by distinct, and they do
  * so through the one distinct helper of `Probes`. */
class ProbeGuardSpec extends AnyFunSuite {

  test("the distinct-based probedListIds is called only from Imi and BinaryIvf") {
    val found = offenders("src", """Probes\s*\.\s*probedListIds""",
      Set("Imi.scala", "BinaryIvf.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("graft/index has no distinct-collect outside Probes") {
    // a `.distinct()` ending a line counts too: its collect is on the next
    val found = offenders("src/main/scala/graft/index", """\.distinct\(\)\s*(\.collect\(|$)""",
      Set("Probes.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
