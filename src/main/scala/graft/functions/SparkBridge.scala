package org.apache.spark.sql.graftbridge

import org.apache.spark.SparkContext
import org.apache.spark.rdd.RDD
import org.apache.spark.util.{CallSite, HadoopFSUtils}
import org.apache.spark.sql.{Column, DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{BloomFilterMightContain, Expression, ScalarSubquery}
import org.apache.spark.sql.catalyst.expressions.aggregate.BloomFilterAggregate
import org.apache.spark.sql.classic.ExpressionUtils
import org.apache.spark.sql.execution.LogicalRDD
import org.apache.spark.sql.types.StructType

/** Column <-> catalyst Expression bridge. `ExpressionUtils` is
  * `private[sql]` in Spark 4, so graft's native expressions reach it from
  * inside the `org.apache.spark.sql` package tree — the standard pattern
  * for third-party Catalyst extensions.
  */
object SparkBridge {
  def column(e: Expression): Column = ExpressionUtils.column(e)
  def expression(c: Column): Expression = ExpressionUtils.expression(c)

  /** The RDDs under a frame's [[LogicalRDD]] leaves — for a
    * `localCheckpoint()`ed frame, its pinned blocks. Subquery plans are
    * walked too: [[scalarSubquery]] hides a plan inside an expression. */
  def checkpointRdds(df: Dataset[_]): Seq[RDD[_]] =
    df.queryExecution.analyzed.collectWithSubqueries {
      case lr: LogicalRDD => lr.rdd
    }

  /** Run `body` with the RDDs and jobs it creates attributed to the
    * short call site `site` (when given), then restore the caller's. */
  def withCallSite[T](sc: SparkContext, site: Option[String])(body: => T): T = {
    val outer = sc.getLocalProperty(CallSite.SHORT_FORM)
    site.foreach(sc.setLocalProperty(CallSite.SHORT_FORM, _))
    try body finally sc.setLocalProperty(CallSite.SHORT_FORM, outer)
  }

  /** Rebuild a checkpoint-backed frame with its propagated plan
    * statistics DROPPED (reset to the conf default).
    *
    * [[LogicalRDD]] forwards its origin plan's `Statistics` so that
    * broadcast decisions survive a checkpoint — the right call for a
    * one-shot checkpoint, but poison for an ITERATIVE loop: the
    * estimate compounds multiplicatively through every round's joins,
    * `sizeInBytes` roughly squares per round, the BigInt's DIGIT COUNT
    * doubles, and Catalyst's stats arithmetic itself turns exponential —
    * measured 505 s of pure driver-side `BigInteger.multiply` for one
    * round's planning by round 12 of the component loop. Dropping
    * originStats at each round boundary keeps every round's stats O(1)
    * while the checkpoint still truncates lineage. The frame must
    * already be materialized (its LogicalRDD leaves re-used as-is).
    * Loops reach this through [[graft.functions.Pins.advance]], which
    * pairs it with the release of the superseded round. */
  def dropOriginStats(df: DataFrame): DataFrame = {
    val spark =
      df.sparkSession.asInstanceOf[org.apache.spark.sql.classic.SparkSession]
    def fresh(lr: LogicalRDD): LogicalRDD =
      LogicalRDD(lr.output, lr.rdd, lr.outputPartitioning,
        lr.outputOrdering, lr.isStreaming)(spark, None, None)
    // NOT a transform: LogicalRDD's case equality spans only its first
    // parameter list, so the stats-less twin compares EQUAL to the
    // original and every equality-gated rewrite (transform,
    // withNewChildren) silently keeps the old node, origin stats and
    // all. Rebuild the known root shapes by direct construction.
    val plan = df.queryExecution.analyzed match {
      case lr: LogicalRDD => fresh(lr)
      case p @ org.apache.spark.sql.catalyst.plans.logical.Project(
          list, lr: LogicalRDD) =>
        org.apache.spark.sql.catalyst.plans.logical.Project(list, fresh(lr))
      case other => throw new IllegalArgumentException(
        "dropOriginStats expects a checkpoint-backed frame " +
          s"(LogicalRDD or Project over one); got ${other.nodeName}")
    }
    org.apache.spark.sql.classic.Dataset.ofRows(spark, plan)
  }

  /** The aggregate half of Spark's runtime bloom filter (the machinery
    * behind `InjectRuntimeFilter`, which Spark only triggers for shuffle
    * joins): folds `xxhash64` values into one BloomFilter binary blob.
    * Not SQL-registered upstream, hence reached through the bridge. */
  def bloomFilterAgg(hashCol: Column, expectedItems: Long): Column =
    column(new BloomFilterAggregate(expression(hashCol), expectedItems)
      .toAggregateExpression())

  /** Wrap a one-row one-column frame as a scalar subquery expression.
    * `BloomFilterMightContain` only accepts a constant or scalar-subquery
    * bloom argument — a join-produced attribute is rejected — so this is
    * the supported way to hand a distributed-computed sketch to the
    * probe side: the subquery plan runs once and its result is inlined
    * into every task (broadcast-literal semantics, no driver round-trip
    * in user code). */
  def scalarSubquery(df: DataFrame): Column =
    column(ScalarSubquery(df.queryExecution.analyzed))

  /** Probe half of the runtime bloom filter pair. */
  def mightContain(bloom: Column, hashCol: Column): Column =
    column(BloomFilterMightContain(expression(bloom), expression(hashCol)))

  /** `s` with every field, array element and map value nullable — the
    * schema `spark.read` gives a file source (`asNullable` is
    * `private[spark]`). */
  def asNullable(s: StructType): StructType = s.asNullable

  /** `a` merged with `b` as a `mergeSchema` read merges two files'
    * schemas (`merge` is `private[sql]`). */
  def mergeSchemas(spark: SparkSession, a: StructType, b: StructType): StructType =
    a.merge(b, spark.sessionState.conf.caseSensitiveAnalysis)

  /** Block until the listener bus has delivered every event posted so
    * far: it delivers asynchronously, so a listener that counts a block's
    * jobs drains it before and after the block (`listenerBus` is
    * `private[spark]`). */
  def drainListenerBus(sc: SparkContext): Unit = sc.listenerBus.waitUntilEmpty()

  /** Whether a file source's listing skips the file or directory named
    * `name` (`_`/`.` names other than parquet summaries, `._COPYING_`). */
  def hiddenPathName(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)
}
