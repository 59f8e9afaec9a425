package graft

import org.apache.spark.sql.SparkSession

/** Session factory with the engine's scale posture baked in: AQE on
  * (runtime re-plan, skew-join handling), shuffle partitions sized to the
  * local core count rather than the 200 default, UTC for oracle parity,
  * and nanos-as-long so the ns-precision events table is readable.
  */
object GraftSession {
  def configure(b: SparkSession.Builder, cpus: String): SparkSession.Builder =
    b.config("spark.sql.shuffle.partitions", cpus)
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.sql.parquet.filterPushdown", "true")
      .config("spark.sql.warehouse.dir", "target/spark-warehouse")
      .config("spark.ui.enabled", "false")

  /** Default parallelism = all available cores (the driver's bench box is
    * local[32]); SPARK_GRAFT_CPUS overrides for tests. */
  def defaultCpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS",
    Runtime.getRuntime.availableProcessors().toString)

  def local(appName: String = "graft",
            cpus: String = defaultCpus): SparkSession = {
    val s = configure(SparkSession.builder().master(s"local[$cpus]").appName(appName), cpus)
      .withExtensions(new GraftExtensions)
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }

  /** Between-reps reset for the bench and probe mains: drop the SQL
    * cache, release every persisted or pinned RDD (the catalog never
    * sees `localCheckpoint` blocks, so `clearCache` alone leaves them),
    * and collect. Operators build their frames fresh per call, so a
    * finished rep's blocks are garbage, never warmth; JIT, codegen and
    * parquet footers stay warm regardless. */
  def reset(spark: SparkSession): Unit = {
    spark.catalog.clearCache()
    spark.sparkContext.getPersistentRDDs.values
      .foreach(_.unpersist(blocking = true))
    System.gc()
  }
}
