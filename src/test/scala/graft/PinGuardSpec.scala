package graft

import org.scalatest.funsuite.AnyFunSuite
import SourceScan._

/** Source guard: pinning goes through [[graft.functions.Pins]] only.
  * Outside `Pins.scala` and `SparkBridge.scala`, `src/main/scala` may not
  * call `.localCheckpoint(`; nothing may call `unpersistCheckpoint(`; and
  * operators, or files that import `Pins`, may not call `.unpersist(` (a
  * `Dataset.unpersist` on a pinned frame is a no-op: the checkpoint's
  * blocks are not a cache entry). Comments do not count. */
class PinGuardSpec extends AnyFunSuite {
  private val allowed = Set("Pins.scala", "SparkBridge.scala")

  test("no hand-rolled localCheckpoint pins or releases outside Pins") {
    val found =
      hits(mainSources.filterNot { case (p, _) => allowed(p.getFileName.toString) },
        ".localCheckpoint(") ++
      hits(mainSources, "unpersistCheckpoint(")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no Dataset.unpersist where frames are pinned") {
    // in an operator, or any file that pins through Pins, an `.unpersist(`
    // is the no-op release of a checkpoint the scope already owns
    val pinning = mainSources.filter { case (p, code) =>
      p.toString.contains("/operators/") || code.contains("import graft.functions.Pins")
    }
    assert(pinning.nonEmpty)
    val found = hits(pinning, ".unpersist(")
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("the guard ignores comments but not string literals") {
    assert(!stripComments("a // x.localCheckpoint()\nb /* y.localCheckpoint() */")
      .contains("localCheckpoint"))
    assert(stripComments("val s = \"// not a comment\"").contains("not a comment"))
  }
}
