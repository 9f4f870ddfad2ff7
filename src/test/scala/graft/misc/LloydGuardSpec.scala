package graft.misc

import org.scalatest.funsuite.AnyFunSuite
import SourceScan.offenders

/** Source scan: the only Lloyd round on Spark is `graft.core.Lloyd`'s
  * backend. Trainers under graft/cluster and graft/index call it and
  * never aggregate their own round with VecSumAgg. */
class LloydGuardSpec extends AnyFunSuite {

  test("graft/cluster and graft/index do not reference VecSumAgg") {
    val found = Seq("src/main/scala/graft/cluster", "src/main/scala/graft/index")
      .flatMap(offenders(_, """\bVecSumAgg\b""", Set.empty))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
