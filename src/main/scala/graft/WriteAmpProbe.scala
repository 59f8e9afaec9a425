package graft

import org.apache.spark.sql.functions._
import Probe.{r3, timed}

/** WRITE-AMPLIFICATION PROBE — the measured version of the deletion-
  * vector pitch: the same scattered point-merge applied to the same
  * compacted table through copy-on-write ([[sources.SnapshotLog.merge]])
  * and through merge-on-read ([[sources.SnapshotLog.mergeDv]]), with
  * bytes written, commit seconds, the MoR read tax, and the targeted
  * purge cost all in one JSON line. Both arms run on zero-copy CLONES
  * of one base table, so each arm's new bytes are exactly what lands
  * under its own root — the by-reference segments stay in the source.
  *
  * Why scattered updates: a delta touching every segment is COW's
  * worst case and the reference's actual shape (per-run result
  * re-imports land all over the key space,
  * ram-analysis/app/index.js:122-134). A COW merge rewrites every
  * affected segment; MoR commits one tombstone sidecar + one delta
  * segment no matter how many segments the keys straddle.
  *
  * Usage: runMain graft.WriteAmpProbe [nRows] [nUpdates] — defaults
  * 2,000,000 rows (8 compacted segments) and 100 updates + 100
  * deletes. Artifact: WRITEAMP_r{N}.json. */
object WriteAmpProbe {

  private def dirBytes(path: String): Long = {
    def walk(f: java.io.File): Long =
      if (f.isFile) f.length()
      else Option(f.listFiles()).map(_.map(walk).sum).getOrElse(0L)
    walk(new java.io.File(path))
  }

  def main(args: Array[String]): Unit = {
    import graft.sources.SnapshotLog
    val nRows = args.lift(0).map(_.toLong).getOrElse(2000000L)
    val nUpd = args.lift(1).map(_.toInt).getOrElse(100)
    val spark = GraftSession.local("WriteAmpProbe")
    import spark.implicits._

    val root = s"/tmp/graft_writeamp"
    org.apache.commons.io.FileUtils.deleteQuietly(new java.io.File(root))
    val base = s"$root/base"
    // 4 appends then an 8-slice compact: a realistic segmented layout
    // with a ~96-byte payload per row
    def rows(lo: Long, n: Long) = spark.range(lo, lo + n)
      .select(col("id").as("k"),
        concat(lit("payload_"), col("id"), lit("_" * 80)).as("p"))
    val q = nRows / 4
    SnapshotLog.create(spark, rows(0, q), base, "k")
    (1L to 3L).foreach(i => SnapshotLog.append(spark, rows(i * q, q), base, "k"))
    SnapshotLog.compact(spark, base, "k", slices = 8)
    val segBytes = dirBytes(s"$base/data")

    // the scattered delta: nUpd updates + nUpd deletes spread over the
    // whole key space — every compacted segment is affected
    val stride = nRows / (2L * nUpd)
    val delta = spark.range(0, 2L * nUpd)
      .select((col("id") * stride).as("k"),
        concat(lit("updated_"), col("id")).as("p"),
        (col("id") % 2 === 0).as("del"))

    val cow = s"$root/cow"
    SnapshotLog.cloneTable(spark, base, cow)
    val (_, cowSec) = timed(SnapshotLog.merge(spark, delta, cow, "k", "del"))
    val cowBytes = dirBytes(s"$cow/data")

    val mor = s"$root/mor"
    SnapshotLog.cloneTable(spark, base, mor)
    val (_, morSec) = timed(SnapshotLog.mergeDv(spark, delta, mor, "k", "del"))
    val morBytes = dirBytes(s"$mor/data") + dirBytes(s"$mor/dv")

    // read tax: a payload-touching aggregate through each arm (count()
    // would flatter COW — a plain scan answers it from parquet footers
    // while the MoR anti join must materialize rows; a real query
    // reads data on both sides, so THAT is the fair tax measurement)
    def scanAll(path: String): Long = SnapshotLog.read(spark, path)
      .agg(sum(length(col("p")))).collect().head.getLong(0)
    val (_, cowRead) = timed(scanAll(cow))
    val (_, morRead) = timed(scanAll(mor))
    val (nLogical, _) = timed(SnapshotLog.read(spark, mor).count())
    val (_, purgeSec) = timed(SnapshotLog.purgeDv(spark, mor, "k"))
    val purgedBytes = dirBytes(s"$mor/data") + dirBytes(s"$mor/dv") - morBytes
    val (_, morReadPurged) = timed(scanAll(mor))

    println(s"""{"metric":"write_amplification","n_rows":$nRows,""" +
      s""""n_changes":${2 * nUpd},"base_data_bytes":$segBytes,""" +
      s""""cow":{"bytes":$cowBytes,"sec":${r3(cowSec)},""" +
      s""""read_sec":${r3(cowRead)}},""" +
      s""""mor":{"bytes":$morBytes,"sec":${r3(morSec)},""" +
      s""""read_sec":${r3(morRead)},"purge_sec":${r3(purgeSec)},""" +
      s""""purge_bytes":$purgedBytes,""" +
      s""""read_sec_after_purge":${r3(morReadPurged)}},""" +
      s""""amplification_ratio":${r3(cowBytes.toDouble /
        math.max(1L, morBytes))},"n_logical":$nLogical}""")
    spark.stop()
  }
}
