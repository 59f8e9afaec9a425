package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: `SnapshotLog` keeps ONE partitioned slice write
  * (`writeSlices`) and ONE segment-tagged scan (`scanLive`), so sliced
  * compaction, z-order compaction and tombstone purge — and the
  * tombstoned read and the merge-on-read presence scan — cannot drift
  * apart as hand copies again. Comments do not count. */
class SnapshotLogGuardSpec extends AnyFunSuite {
  private val code = SourceScan.stripComments(new String(Files.readAllBytes(
    Paths.get("src/main/scala/graft/sources/SnapshotLog.scala")), "UTF-8"))

  private def occurrences(s: String): Int =
    code.split(java.util.regex.Pattern.quote(s), -1).length - 1

  test("SnapshotLog has one partitioned slice write and one tagged segment scan") {
    assert(occurrences(".partitionBy(") == 1)
    assert(occurrences("input_file_name(), \"/\", -2") == 1)
  }
}
