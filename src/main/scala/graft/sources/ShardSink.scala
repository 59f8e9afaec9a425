package graft.sources

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import scala.jdk.CollectionConverters._

/** Sharded training-corpus materialization — the final write step of a
  * data pipeline: the curated corpus lands as N deterministic
  * hash-bucketed parquet shards plus a manifest the training loader
  * (and the next pipeline run) can trust.
  *
  * Reference analog: the per-project result export the reference
  * uploads as named artifacts (the ram-analysis/app/s3 modules write
  * result files per project/scenario); at training scale the contract
  * a shard set needs is (a) DETERMINISTIC placement — a doc's shard is
  * a pure function of its id, so reruns and backfills land identically
  * (same discipline as text_hash_split) — and (b) a verifiable
  * manifest: per-shard doc count, token mass, and an ORDER-FREE
  * content checksum (sum of bounded per-doc hashes; commutative, so
  * partition order can't change it) that read-back verification can
  * recompute.
  *
  * Scale posture: shard assignment is one map-side hash; the
  * `repartition(shard)` shuffles each doc exactly once to its shard's
  * writer (one file per shard, no small-file spray); the manifest is
  * one partial-agg groupBy over the same frame. Balance comes from the
  * hash (multinomial ~ n/N per shard — the spec bounds the skew), not
  * from a doc-count spine that would need a global sort.
  */
object ShardSink {

  /** Shard id: pure function of doc_id. */
  def shardOf(nShards: Int) =
    pmod(xxhash64(col("doc_id")), lit(nShards.toLong)).cast("int")

  /** Per-doc bounded content hash (kept < 2^31 so a shard's SUM stays
    * exact long arithmetic at any realistic shard size). */
  private def docHash = pmod(xxhash64(col("doc_id"), col("text")),
    lit(1L << 31))

  /** The manifest frame for `docs` at `nShards`: one row per shard. */
  def manifestOf(docs: DataFrame, nShards: Int): DataFrame =
    docs.withColumn("shard", shardOf(nShards))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"),
        sum(docHash).as("checksum"))
      .orderBy(col("shard"))

  /** Write `docs` as `nShards` parquet shards under `path` (one file
    * per shard directory) plus the manifest at `path/_manifest`.
    * Overwrite mode: a rerun replaces the shard set atomically per
    * shard directory — rerun-stable because placement is. */
  def writeShards(docs: DataFrame, path: String, nShards: Int): Unit = {
    val sharded = docs.withColumn("shard", shardOf(nShards))
    sharded.repartition(nShards, col("shard"))
      .write.mode("overwrite").partitionBy("shard").parquet(path)
    manifestOf(docs, nShards)
      .coalesce(1).write.mode("overwrite").parquet(s"$path/_manifest")
  }

  /** Read a shard set back and VERIFY it against its manifest: recount
    * every shard from the data and anti-join against the stored
    * manifest — any lost/duplicated/bit-flipped doc surfaces as a
    * mismatched row. The manifest (one row per shard) is decoded on the
    * driver into a local frame. Returns the per-shard verdict frame. */
  def verifyShards(spark: SparkSession, path: String): DataFrame = {
    val (schema, rows) = ParquetFooter.rows(spark, new Path(s"$path/_manifest"))
    val stored = spark.createDataFrame(rows.asJava, schema)
      .withColumnRenamed("n_docs", "m_docs")
      .withColumnRenamed("n_tokens", "m_tokens")
      .withColumnRenamed("checksum", "m_checksum")
    val recomputed = ParquetFooter.read(spark, Seq(path))
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_docs"),
        sum(size(split(col("text"), " "))).as("n_tokens"),
        sum(docHash).as("checksum"))
    recomputed.join(stored, Seq("shard"), "full_outer")
      .select(col("shard"),
        coalesce(col("n_docs"), lit(-1L)).as("n_docs"),
        // a shard present on only ONE side (lost directory / missing
        // manifest row) makes the equality NULL — coalesce to false so
        // the lost-shard case is a real `ok = false` verdict instead of
        // a null that filter(!ok) would silently drop
        coalesce(col("n_docs") === col("m_docs") &&
          col("n_tokens") === col("m_tokens") &&
          col("checksum") === col("m_checksum"), lit(false)).as("ok"))
      .orderBy(col("shard"))
  }
}
