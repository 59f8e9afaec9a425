package graft

import org.apache.spark.sql.types.StructType
import org.scalatest.funsuite.AnyFunSuite
import graft.sources.{ParquetFooter, ShardSink, SnapshotLog}

/** [[ParquetFooter]] learns a parquet read's schema on the driver. The
  * contract under test: for every parquet shape the engine reads, the
  * schema equals what Spark's own inference gives (`spark.read.parquet`,
  * or its `mergeSchema` read where `merge` is set), and a helper read
  * starts no Spark job — except above [[ParquetFooter.DriverMergeMax]]
  * files, where a merge read keeps Spark's one distributed merge job. */
class ParquetFooterSpec extends AnyFunSuite {
  import TestSession._

  private def tmpDir(name: String): String = {
    val d = new java.io.File(s"target/tmp-footer/$name")
    org.apache.commons.io.FileUtils.deleteQuietly(d)
    d.getParentFile.mkdirs()
    d.getAbsolutePath
  }

  private def inferred(paths: Seq[String], merge: Boolean): StructType =
    (if (merge) spark.read.option("mergeSchema", "true") else spark.read)
      .parquet(paths: _*).schema

  /** The helper's read of `paths` has inference's schema and runs no job;
    * its footer schema is inference's minus the partition columns. */
  private def sameAsSpark(paths: Seq[String], merge: Boolean = false,
                          partitionCols: Seq[String] = Nil): Unit = {
    val expected = inferred(paths, merge)
    val (df, jobs) = JobLedger.during(spark)(ParquetFooter.read(spark, paths, merge))
    assert(jobs.isEmpty, s"$paths ran jobs:\n${JobLedger.bySite(jobs)}")
    assert(df.schema == expected, paths)
    assert(ParquetFooter.schema(spark, paths, merge).contains(
      StructType(expected.filterNot(f => partitionCols.contains(f.name)))), paths)
  }

  private def segs(path: String): Seq[String] =
    SnapshotLog.manifestRows(spark, path, SnapshotLog.latestVersion(path).get)
      ._2.map(_.getAs[String]("seg"))

  test("ParquetFooter gives inference's schema with no job for every table shape the engine reads") {
    import spark.implicits._
    // a plain SnapshotLog table: one segment, then two
    val plain = tmpDir("plain")
    SnapshotLog.create(spark, (0L until 20L).map(k => (k, s"p$k", k * 0.5))
      .toDF("k", "p", "v"), plain, "k")
    SnapshotLog.append(spark, Seq((20L, "a", 1.0)).toDF("k", "p", "v"), plain, "k")
    sameAsSpark(segs(plain))
    // an evolved table: rename, drop, then an append that adds a column;
    // without merge the first sorted file decides, with merge all do
    val evolved = tmpDir("evolved")
    SnapshotLog.create(spark, (0L until 10L).map(k => (k, s"p$k", k.toInt))
      .toDF("k", "p", "q"), evolved, "k")
    SnapshotLog.renameColumn(spark, evolved, "p", "name")
    SnapshotLog.dropColumn(spark, evolved, "q")
    SnapshotLog.append(spark, Seq((10L, "n", 7L)).toDF("k", "name", "r"),
      evolved, "k")
    val evolvedSegs = segs(evolved)
    assert(evolvedSegs.length == 2)
    Seq(false, true).foreach { m =>
      sameAsSpark(evolvedSegs, m)
      sameAsSpark(evolvedSegs.reverse, m)
    }
    assert(inferred(evolvedSegs, merge = true).fieldNames.toSeq ==
      Seq("k", "p", "q", "r"))
    // deletion vectors: the segments and their tombstone dirs
    val dv = tmpDir("dv")
    SnapshotLog.create(spark, (0L until 20L).map(k => (k, s"p$k"))
      .toDF("k", "p"), dv, "k")
    SnapshotLog.mergeDv(spark, Seq((3L, "", true), (25L, "n", false))
      .toDF("k", "p", "del"), dv, "k", "del")
    val dvRows = SnapshotLog.manifestRows(spark, dv, 1)._2
    val tombs = dvRows.flatMap(r => Option(r.getAs[Seq[String]]("dvs")).toSeq.flatten)
    assert(tombs.nonEmpty)
    sameAsSpark(tombs)
    sameAsSpark(segs(dv), merge = true)
    // an empty table (one zero-row segment) and a segment-less one, whose
    // read is an empty frame under its anchor segment's footer schema
    val empty = tmpDir("empty")
    SnapshotLog.create(spark, Seq.empty[(Long, String)].toDF("k", "p"), empty, "k")
    sameAsSpark(segs(empty))
    val (emptyRead, emptyJobs) = JobLedger.during(spark)(SnapshotLog.read(spark, empty))
    assert(emptyJobs.isEmpty && emptyRead.schema == inferred(segs(empty), false))
    val none = tmpDir("segmentless")
    SnapshotLog.create(spark, Seq((1L, "a"), (2L, "b")).toDF("k", "p"), none, "k")
    val anchor = segs(none)
    SnapshotLog.merge(spark, Seq((1L, "a", true), (2L, "b", true))
      .toDF("k", "p", "del"), none, "k", "del")
    assert(segs(none).isEmpty)
    val (noneRead, noneJobs) = JobLedger.during(spark)(SnapshotLog.read(spark, none))
    assert(noneJobs.isEmpty, JobLedger.bySite(noneJobs))
    assert(noneRead.schema == inferred(anchor, false) && noneRead.collect().isEmpty)
    // a partitioned ShardSink root: the shard column comes from the paths
    val shards = tmpDir("shards")
    ShardSink.writeShards(Tables.documents(spark, sf), shards, 4)
    sameAsSpark(Seq(shards), partitionCols = Seq("shard"))
    assert(ShardSink.verifyShards(spark, shards).filter("not ok").count() == 0)
    // the sf tables: pyarrow footers, and events' TIMESTAMP(NANOS) read
    // as nanos-as-long
    Seq("documents", "embeddings", "events").foreach { t =>
      sameAsSpark(Seq(s"$sf/$t.parquet"))
    }
  }

  test("a merge read over more files than the driver bound keeps Spark's one merge job") {
    import spark.implicits._
    val wide = tmpDir("wide")
    val n = ParquetFooter.DriverMergeMax + 1
    // one row per partition: one file each
    spark.range(0, n, 1, n).selectExpr("id AS k", "concat('a', id) AS a")
      .write.parquet(s"$wide/one")
    Seq((100L, 2.5)).toDF("k", "b").write.parquet(s"$wide/two")
    val paths = Seq(s"$wide/one", s"$wide/two")
    assert(new java.io.File(s"$wide/one").list().count(_.endsWith(".parquet")) == n)
    assert(ParquetFooter.schema(spark, paths, merge = true).isEmpty)
    val (df, jobs) = JobLedger.during(spark)(ParquetFooter.read(spark, paths, merge = true))
    assert(jobs.length == 1, JobLedger.bySite(jobs))
    assert(df.schema == inferred(paths, merge = true))
    assert(df.schema.fieldNames.toSeq == Seq("k", "a", "b"))
    // without merge one footer decides, however many files there are
    sameAsSpark(paths)
  }

  test("no schema-less parquet read outside ParquetFooter") {
    // `.read.parquet(` and `.read.option(...).parquet(`, across line breaks
    val schemaLess = """\.read\s*(?:\.option\([^()]*\)\s*)*\.parquet\(""".r
    // allowed: the helper itself, and SnapshotLog.history's one
    // mergeSchema scan over every manifest (SnapshotLogGuardSpec keeps it
    // the only one)
    val sites = for {
      (p, code) <- SourceScan.mainSources
      if p.getFileName.toString != "ParquetFooter.scala"
      m <- schemaLess.findAllMatchIn(code)
      if !code.startsWith("versions.map(manifestDir(", m.end)
    } yield s"$p:${code.take(m.start).count(_ == '\n') + 1}"
    assert(sites.isEmpty, s"schema-less parquet reads: ${sites.mkString(", ")}")
  }
}
