package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._
import org.scalatest.funsuite.AnyFunSuite

/** Source guard: pinning goes through [[graft.functions.Pins]] only.
  * Outside `Pins.scala` and `SparkBridge.scala`, `src/main/scala` may not
  * call `.localCheckpoint(`; nothing may call `unpersistCheckpoint(`; and
  * operators, or files that import `Pins`, may not call `.unpersist(` (a
  * `Dataset.unpersist` on a pinned frame is a no-op: the checkpoint's
  * blocks are not a cache entry). Comments do not count. */
class PinGuardSpec extends AnyFunSuite {
  private val allowed = Set("Pins.scala", "SparkBridge.scala")

  /** Source text with comments blanked (string literals kept). */
  private[graft] def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    var inStr = false
    while (i < src.length) {
      val c = src.charAt(i)
      if (inStr) {
        out += c
        if (c == '\\' && i + 1 < src.length) { out += src.charAt(i + 1); i += 1 }
        else if (c == '"') inStr = false
        i += 1
      } else if (src.startsWith("//", i)) {
        while (i < src.length && src.charAt(i) != '\n') i += 1
      } else if (src.startsWith("/*", i)) {
        val end = src.indexOf("*/", i + 2)
        val stop = if (end < 0) src.length else end + 2
        out ++= src.substring(i, stop).filter(_ == '\n')
        i = stop
      } else {
        if (c == '"') inStr = true
        out += c
        i += 1
      }
    }
    out.toString
  }

  private def mainSources: Seq[(Path, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq

  /** Lines of `files` (comments blanked) that contain any of `calls`. */
  private def hits(files: Seq[(Path, String)], calls: String*): Seq[String] =
    for {
      (p, code) <- files
      (line, n) <- code.split("\n", -1).toSeq.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$p:${n + 1}: ${line.trim}"

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
