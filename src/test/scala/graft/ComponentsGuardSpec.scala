package graft

import org.scalatest.funsuite.AnyFunSuite

/** Source guard: connected components have one implementation, in
  * `Graph` — one min-label round loop (`jumpLabels`, the only grouped
  * `min` of a neighbour's label) and one union-find `find`
  * (`minLabels`) — so no operator grows its own closure again. Comments
  * do not count. */
class ComponentsGuardSpec extends AnyFunSuite {
  test("one min-label round loop and one union-find find, both in Graph.scala") {
    val files = SourceScan.mainSources
    val loops = SourceScan.hits(files, "min(col(\"label\"))")
    val finds = SourceScan.hits(files, "def find(")
    val found = loops ++ finds
    assert(loops.length == 1 && finds.length == 1 &&
      found.forall(_.contains("operators/Graph.scala")),
      s"component closures:\n${found.mkString("\n")}")
  }
}
