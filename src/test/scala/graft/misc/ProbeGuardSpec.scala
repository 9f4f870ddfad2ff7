package graft.misc

import org.scalatest.funsuite.AnyFunSuite
import SourceScan.offenders

/** Source scan: every IVF-family search, IMI's cell pairs and the binary
  * IVF's Hamming probes included, takes its probed lists from
  * `Probes.local` (one driver-side selector over the query rows), never
  * from a Spark distinct over its probe plan. */
class ProbeGuardSpec extends AnyFunSuite {

  test("no search enumerates its probed set with a Spark distinct") {
    val found = offenders("src/main", """probedListIds""", Set.empty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("graft/index has no distinct-collect outside Probes") {
    // a `.distinct()` ending a line counts too: its collect is on the next
    val found = offenders("src/main/scala/graft/index", """\.distinct\(\)\s*(\.collect\(|$)""",
      Set.empty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
