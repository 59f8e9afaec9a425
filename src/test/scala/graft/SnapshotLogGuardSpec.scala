package graft

import java.nio.file.{Files, Paths}
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: `SnapshotLog` keeps ONE partitioned slice write
  * (`writeSlices`) and ONE segment-tagged scan (`scanLive`), so sliced
  * compaction, z-order compaction and tombstone purge — and the
  * tombstoned read and the merge-on-read presence scan — cannot drift
  * apart as hand copies again. Manifests are decoded on the driver
  * (`manifestRows`), so the one Spark read of a manifest is `history`'s
  * multi-version scan. Comments do not count. */
class SnapshotLogGuardSpec extends AnyFunSuite {
  private val code = SourceScan.stripComments(new String(Files.readAllBytes(
    Paths.get("src/main/scala/graft/sources/SnapshotLog.scala")), "UTF-8"))

  private def occurrences(s: String): Int =
    code.split(java.util.regex.Pattern.quote(s), -1).length - 1

  test("SnapshotLog has one partitioned slice write and one tagged segment scan") {
    assert(occurrences(".partitionBy(") == 1)
    assert(occurrences("input_file_name(), \"/\", -2") == 1)
  }

  /** The argument text of every `.parquet(` call, parentheses balanced. */
  private def parquetArgs: Seq[String] = {
    val open = ".parquet("
    Iterator.iterate(code.indexOf(open))(i => code.indexOf(open, i + 1))
      .takeWhile(_ >= 0)
      .map { i =>
        val start = i + open.length
        var depth = 1
        var j = start
        while (depth > 0) {
          code.charAt(j) match {
            case '(' => depth += 1
            case ')' => depth -= 1
            case _ =>
          }
          j += 1
        }
        code.substring(start, j - 1)
      }.toSeq
  }

  test("the only Spark read of a manifest under _log is history's scan") {
    // manifests (versions and stages) are named through these helpers,
    // directly or through a val bound to one
    val helpers = Seq("manifestDir(", "stageFile(")
    val bound = """val\s+(\w+)\s*=\s*([^\n]*)""".r.findAllMatchIn(code)
      .filter(m => helpers.exists(m.group(2).contains))
      .map(_.group(1)).toSet
    val Ident = """(\w+)(?:\.toString)?""".r
    val manifestReads = parquetArgs.filter {
      case a if helpers.exists(a.contains) => true
      case Ident(v) => bound(v)
      case _ => false
    }
    assert(manifestReads.length == 1 &&
      manifestReads.head.contains("versions.map(manifestDir("),
      s"manifest reads through Spark: ${manifestReads.mkString("; ")}")
  }
}
