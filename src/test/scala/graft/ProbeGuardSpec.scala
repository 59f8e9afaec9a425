package graft

import org.scalatest.funsuite.AnyFunSuite
import SourceScan._

/** Source guard: the bench and probe mains measure through one harness.
  * [[Probe]] holds the only wall-clock timer (OsmFixture's
  * `System.nanoTime()` is a temp-file suffix, not a timer), the one
  * 3-decimal formatter, the one JSON-number reader and the one
  * `SPARK_GRAFT_ONLY` reader; [[JobLedger]] is the only Spark listener.
  * Comments do not count. */
class ProbeGuardSpec extends AnyFunSuite {
  private def in(file: String)(hit: String): Boolean = hit.contains(s"/$file:")

  test("one timer, one listener, one formatter, one number reader, one key subset") {
    val timers = hits(mainSources, "System.nanoTime()").filterNot(h =>
      in("Probe.scala")(h) || (in("OsmFixture.scala")(h) && h.contains(".tmp-")))
    val singles = Seq("new SparkListener", "def r3", "JDecimal",
      "sys.env.get(\"SPARK_GRAFT_ONLY\")").map(c => c -> hits(mainSources, c))
    val copies = singles.collect { case (c, hs) if hs.length != 1 =>
      s"${hs.length} x $c" +: hs }.flatten
    val found = timers ++ copies ++
      singles.head._2.filterNot(in("JobLedger.scala")) ++
      hits(mainSources, "SPARK_GRAFT_WIDENED")
    assert(found.isEmpty,
      s"measurement code outside Probe/JobLedger:\n${found.mkString("\n")}")
  }
}
