package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Source text of `src/main/scala` for the source-guard specs, with
  * comments blanked so a guard counts code only. */
object SourceScan {

  /** Source text with comments blanked (string literals kept). */
  def stripComments(src: String): String = {
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

  /** Every main source file with its comment-blanked text. */
  def mainSources: Seq[(Path, String)] =
    Files.walk(Paths.get("src/main/scala")).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .map(p => p -> stripComments(new String(Files.readAllBytes(p), "UTF-8")))
      .toSeq

  /** Lines of `files` (comments blanked) that contain any of `calls`. */
  def hits(files: Seq[(Path, String)], calls: String*): Seq[String] =
    for {
      (p, code) <- files
      (line, n) <- code.split("\n", -1).toSeq.zipWithIndex
      if calls.exists(line.contains)
    } yield s"$p:${n + 1}: ${line.trim}"
}
