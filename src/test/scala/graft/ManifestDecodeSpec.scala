package graft

import org.apache.hadoop.fs.Path
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ParquetFooter, SnapshotLog}

/** [[ParquetFooter.rows]] decodes a manifest on the driver. The
  * contract under test: for every manifest shape the verbs write, its
  * schema and rows equal what `spark.read.parquet(dir)` returns, value
  * for value (`dvs` Seqs, the `stats` map, null stats and blooms, a
  * segment-less manifest's schema, marker files skipped); and a manifest
  * read — `gc`'s, or a `manifest(...)` frame's collect — starts no
  * Spark job. */
class ManifestDecodeSpec extends AnyFunSuite {
  import TestSession._

  private def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/tmp-manifest/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  private def manifestDir(path: String, v: Int) = f"$path/_log/v$v%05d"

  /** The decoded manifest at `dir`, after checking it against Spark's
    * own read of the directory. */
  private def decodesAsSpark(dir: String): (org.apache.spark.sql.types.StructType,
                                            Seq[org.apache.spark.sql.Row]) = {
    val (schema, rows) = ParquetFooter.rows(spark, new Path(dir))
    val bySpark = spark.read.parquet(dir)
    assert(schema == bySpark.schema, dir)
    assert(rows == bySpark.collect().toSeq, dir)
    (schema, rows)
  }

  private def jobsDuring(f: => Unit): Int = JobLedger.during(spark)(f)._2.length

  test("manifestRows equals spark.read.parquet for every manifest shape; gc and a manifest frame's collect start no Spark job") {
    import spark.implicits._
    val path = tmpDir("shapes")
    val rows = (0L until 40L).map(k => (k, (k * 7) % 40, s"p$k"))
    SnapshotLog.create(spark, rows.toDF("k", "y", "p"), path, "k")
    val (plain, plainRows) = decodesAsSpark(manifestDir(path, 0))
    assert(plain.fieldNames.toSeq == Seq("seg", "n_rows", "min_key", "max_key"))
    assert(plainRows.length == 1)
    // merge-on-read: dvs (array) and dv_rows, null on the delta segment
    SnapshotLog.mergeDv(spark, Seq((3L, 0L, "", true), (35L, 1L, "u", false))
      .toDF("k", "y", "p", "del"), path, "k", "del")
    val (dv, dvRows) = decodesAsSpark(manifestDir(path, 1))
    assert(dv.fieldNames.contains("dvs") && dv.fieldNames.contains("dv_rows"))
    assert(dvRows.exists(r => !r.isNullAt(r.fieldIndex("dvs"))) &&
      dvRows.exists(r => r.isNullAt(r.fieldIndex("dvs"))))
    // compaction: the bloom sidecar column
    SnapshotLog.compact(spark, path, "k", slices = 2)
    val (cmp, _) = decodesAsSpark(manifestDir(path, 2))
    assert(cmp.fieldNames.contains("bloom"))
    // z-order: the per-column stats map of structs
    SnapshotLog.compactZOrder(spark, path, "k", "y", slices = 2)
    val (z, zRows) = decodesAsSpark(manifestDir(path, 3))
    assert(z.fieldNames.contains("stats") &&
      zRows.forall(r => r.getMap[String, Any](r.fieldIndex("stats"))
        .contains("y")))
    // a rename commits _colmap and _rewriteonly; a txn-stamped merge
    // that deletes every key commits a segment-less manifest with
    // _colmap and _txn-*; no verb writes all three markers, so the
    // third is added by hand
    SnapshotLog.renameColumn(spark, path, "p", "q")
    decodesAsSpark(manifestDir(path, 4))
    SnapshotLog.merge(spark, rows.map { case (k, y, p) => (k, y, p, true) }
      .toDF("k", "y", "q", "del"), path, "k", "del", txn = Some(("app", 7)))
    val markers = new java.io.File(manifestDir(path, 5))
    new java.io.File(markers, "_rewriteonly").createNewFile()
    assert(Seq("_colmap", "_txn-app-7", "_rewriteonly")
      .forall(new java.io.File(markers, _).exists()))
    val (empty, emptyRows) = decodesAsSpark(manifestDir(path, 5))
    assert(emptyRows.isEmpty && empty == z)
    // a stage manifest
    SnapshotLog.stage(spark, Seq((50L, 1L, "s")).toDF("k", "y", "q"), path,
      "k", "s1")
    val (_, stageRows) = decodesAsSpark(s"$path/_log/stage-s1")
    assert(stageRows.length == 1)
    // the public frame is the same decode, and collecting it runs no job
    var frame: Array[org.apache.spark.sql.Row] = null
    assert(jobsDuring { frame = SnapshotLog.manifest(spark, path, 3).collect() } == 0)
    assert(frame.toSeq == zRows)
    // gc over the 6 versions decodes every manifest on the driver
    var expired: Seq[Int] = Nil
    assert(jobsDuring { expired = SnapshotLog.gc(spark, path, 2) } == 0)
    assert(expired == Seq(0, 1, 2, 3))
    assert(SnapshotLog.read(spark, path).count() == 0)
    assert(SnapshotLog.readStaged(spark, path, "s1").as[(Long, Long, String)]
      .collect().toSeq == Seq((50L, 1L, "s")))
  }
}
