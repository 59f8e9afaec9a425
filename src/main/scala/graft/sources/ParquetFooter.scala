package graft.sources

import java.io.FileNotFoundException
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.convert.GroupRecordConverter
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{Footer, ParquetFileReader}
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.HadoopInputFile
import org.apache.parquet.io.ColumnIOFactory
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.GenericRowWithSchema
import org.apache.spark.sql.execution.datasources.parquet.{ParquetFileFormat,
  ParquetFooterReader, ParquetToSparkSchemaConverter}
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types._

/** Parquet reads under a schema learned without a Spark job.
  *
  * `spark.read.parquet(paths)` with no schema runs one distributed job to
  * read footers before it can plan — per call, for a schema graft can
  * know on the driver. Every engine read of parquet goes through [[read]]
  * instead, which takes its schema by this rule:
  *  1. the schema the caller already holds (`known`, e.g. the frame it
  *     just wrote);
  *  2. else, without `merge`, the footer of the one file schema inference
  *     would pick, read on the driver: a `_common_metadata` or `_metadata`
  *     summary, else the first data file of the sorted listing of all
  *     `paths` (Spark's `ParquetUtils.inferSchema` choice);
  *  3. else, with `merge`, every file's footer merged on the driver in
  *     that same order, up to [[DriverMergeMax]] files; above that the
  *     read keeps Spark's one distributed merge job.
  * Footers convert through Spark's own footer-to-schema conversion
  * ([[footerSchema]]), so the schema is the one inference
  * gives, for Spark-written and foreign (pyarrow) files alike. The read
  * is then `spark.read.schema(s).parquet(paths)`: partition columns are
  * still discovered from directory names. Globs and missing paths go to
  * Spark's inference unchanged, which reports them as before.
  *
  * [[rows]] decodes a small flat parquet directory (a manifest) on the
  * driver, so reading it runs no Spark job at all. */
object ParquetFooter {

  /** Most files whose footers a `merge` read merges on the driver. A
    * footer read is one small ranged read; 32 sequential ones stay in the
    * tens of milliseconds even on an object store, and 32 is also where
    * Spark itself moves file listing from the driver to a job
    * (`spark.sql.sources.parallelPartitionDiscovery.threshold`). */
  val DriverMergeMax = 32

  def read(spark: SparkSession, paths: Seq[String], merge: Boolean = false,
           known: Option[StructType] = None): DataFrame =
    known.orElse(schema(spark, paths, merge)) match {
      case Some(s) => spark.read.schema(s).parquet(paths: _*)
      case None =>
        (if (merge) spark.read.option("mergeSchema", "true") else spark.read)
          .parquet(paths: _*)
    }

  /** The schema `spark.read.parquet(paths)` (with `mergeSchema` when
    * `merge`) would give its data columns, made nullable as a file source
    * reads them; None where the read must leave inference to Spark (see
    * the rule above). */
  def schema(spark: SparkSession, paths: Seq[String],
             merge: Boolean = false): Option[StructType] =
    listing(spark, paths).flatMap { files =>
      val sorted = files.sortBy(_.getPath.toString)
      def named(n: String) = sorted.filter(_.getPath.getName == n)
      val (common, meta) = (named("_common_metadata"), named("_metadata"))
      val data = sorted.filterNot(f =>
        Set("_common_metadata", "_metadata")(f.getPath.getName))
      val touch =
        if (merge) data ++ meta ++ common
        else common.headOption.orElse(meta.headOption)
          .orElse(data.headOption).toSeq
      if (touch.isEmpty || touch.length > DriverMergeMax) None
      else Some(merged(spark, touch))
    }

  /** The footers of `files` merged in order, on the driver. */
  private def merged(spark: SparkSession, files: Seq[FileStatus]): StructType = {
    require(files.length <= DriverMergeMax,
      s"${files.length} footers exceed the driver merge bound $DriverMergeMax")
    val conf = spark.sparkContext.hadoopConfiguration
    files.map(f => footerSchema(spark, f.getPath, ParquetFooterReader.readFooter(
        HadoopInputFile.fromStatus(f, conf), ParquetMetadataConverter.SKIP_ROW_GROUPS)))
      .reduce(SparkBridge.mergeSchemas(spark, _, _))
  }

  /** The Spark schema of the parquet file `path` with footer `meta`, by
    * Spark's own footer-to-schema conversion (the one schema inference
    * runs per footer): the row schema Spark's writer recorded, else the
    * file's parquet schema converted under the session's settings
    * (binary-as-string, INT96, NTZ inference, nanos-as-long). Made
    * nullable, as a file source reads it. */
  private def footerSchema(spark: SparkSession, path: Path,
                           meta: ParquetMetadata): StructType =
    SparkBridge.asNullable(ParquetFileFormat.readSchemaFromFooter(
      new Footer(path, meta),
      new ParquetToSparkSchemaConverter(spark.sessionState.conf)))

  /** Every file a file source lists under `paths` (hidden names skipped
    * at every level), or None when a path is a glob or does not exist. */
  private def listing(spark: SparkSession,
                      paths: Seq[String]): Option[Seq[FileStatus]] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def leaves(fs: FileSystem, st: FileStatus): Seq[FileStatus] =
      if (st.isFile) Seq(st)
      else fs.listStatus(st.getPath).toSeq
        .filterNot(c => SparkBridge.hiddenPathName(c.getPath.getName))
        .flatMap(leaves(fs, _))
    if (paths.exists(_.exists("{}[]*?\\".contains(_)))) None
    else try Some(paths.flatMap { p =>
      val path = new Path(p)
      val fs = path.getFileSystem(conf)
      leaves(fs, fs.getFileStatus(path))
    }) catch { case _: FileNotFoundException => None }
  }

  /** The flat parquet directory `dir` decoded on the driver, with no
    * Spark job: its part files (hidden names skipped, as Spark's listing
    * skips them) read with parquet-hadoop under their footer's Spark
    * schema made nullable. Schema and rows equal what
    * `spark.read.parquet(dir)` gives, value for value; a directory whose
    * one part file holds no rows keeps its schema. Sized for manifests:
    * every row is held on the driver. */
  def rows(spark: SparkSession, dir: Path): (StructType, Seq[Row]) = {
    val conf = spark.sparkContext.hadoopConfiguration
    val parts = dir.getFileSystem(conf).listStatus(dir).toSeq.map(_.getPath)
      .filterNot(p => SparkBridge.hiddenPathName(p.getName))
      .sortBy(_.getName)
    require(parts.nonEmpty, s"parquet directory $dir has no part file")
    val decoded = parts.map { p =>
      val reader = ParquetFileReader.open(HadoopInputFile.fromPath(p, conf))
      try {
        val footer = reader.getFooter
        val schema = footerSchema(spark, p, footer)
        val fileSchema = footer.getFileMetaData.getSchema
        val io = new ColumnIOFactory().getColumnIO(fileSchema)
        val rows = Iterator.continually(reader.readNextRowGroup())
          .takeWhile(_ != null)
          .flatMap { pages =>
            val records = io.getRecordReader(pages,
              new GroupRecordConverter(fileSchema))
            Iterator.fill(pages.getRowCount.toInt)(
              decodeRow(records.read(), schema))
          }.toVector
        (schema, rows)
      } finally reader.close()
    }
    (decoded.head._1, decoded.flatMap(_._2))
  }

  /** One parquet record as the row Spark's reader would return: nested
    * structs are rows, lists are Seqs (Spark's 3-level list layout),
    * maps are Maps (`key_value` groups), an absent field is null. */
  private def decodeRow(g: Group, schema: StructType): Row =
    new GenericRowWithSchema(schema.fields.map(f =>
      decodeField(g, g.getType.getFieldIndex(f.name), f.dataType)), schema)

  private def decodeField(g: Group, i: Int, t: DataType): Any =
    if (g.getFieldRepetitionCount(i) == 0) null
    else t match {
      case StringType => g.getString(i, 0)
      case LongType => g.getLong(i, 0)
      case IntegerType => g.getInteger(i, 0)
      case s: StructType => decodeRow(g.getGroup(i, 0), s)
      case ArrayType(e, _) =>
        val list = g.getGroup(i, 0)
        (0 until list.getFieldRepetitionCount(0))
          .map(j => decodeField(list.getGroup(0, j), 0, e))
      case MapType(k, v, _) =>
        val kvs = g.getGroup(i, 0)
        (0 until kvs.getFieldRepetitionCount(0)).map { j =>
          val kv = kvs.getGroup(0, j)
          decodeField(kv, 0, k) -> decodeField(kv, 1, v)
        }.toMap
      case other => sys.error(s"parquet column type $other is not decodable")
    }
}
