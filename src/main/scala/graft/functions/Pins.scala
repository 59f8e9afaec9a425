package graft.functions

import scala.collection.mutable
import org.apache.spark.rdd.RDD
import org.apache.spark.sql.{DataFrame, Dataset}
import org.apache.spark.sql.graftbridge.SparkBridge

/** Scoped `localCheckpoint` pins — the one pin/release primitive every
  * operator that materializes an intermediate goes through.
  *
  * {{{
  * def op(...): DataFrame = Pins.scope { s =>
  *   val edges = s.pin(...)                  // today's localCheckpoint
  *   var state = s.pin(...)
  *   for (_ <- 1 to rounds)
  *     state = s.advance(state, s.pin(step(state, edges)))
  *   state.select(...)
  * }
  * }}}
  *
  * The rule, stated once:
  *  - '''pin''': `s.pin(df, eager)` is `df.localCheckpoint(eager)`,
  *    recorded in the scope. Lineage is truncated at the pin, so a pin
  *    must outlive every frame that still reads it.
  *  - '''release''': a pin is released (its blocks unpersisted,
  *    non-blocking) only when nothing the scope lets escape reads it.
  *    `s.advance(prev, next)` marks a round boundary: it releases the
  *    scope's pins at `prev`'s leaves that `next` does not read (a
  *    materialized `next` reads only its own pin), then returns
  *    `next` with its origin statistics dropped (the stats-compounding
  *    hazard of iterative loops, see [[SparkBridge.dropOriginStats]]).
  *    When the scope exits — normally or by exception — every pin the
  *    returned value does not read is released.
  *  - '''hand-over''': a pin the returned value reads stays pinned and
  *    passes to the enclosing scope on the same thread, which applies
  *    the same rule at its own exit; with no enclosing scope the caller
  *    holds it until context GC (or an explicit reset between runs). A
  *    caller that consumes results repeatedly outside any operator (a
  *    streaming `foreachBatch`, say) opens a scope around each
  *    `collect()` or write, so each batch's pins end with it.
  *
  * "Reads" means: reachable from the frame's [[LogicalRDD]] leaves,
  * subquery plans included (a [[SparkBridge.scalarSubquery]] hides a
  * plan inside an expression), and through the RDD lineage of those
  * leaves — so a lazy pin not yet materialized still holds everything
  * it will compute from. The returned value is searched for frames
  * through tuples, case classes, options and collections; a value with
  * no frame in it (a `collect()`ed array, a count) reads no pin.
  */
final class Pins private () {
  private val owned = mutable.LinkedHashMap.empty[Int, RDD[_]]

  /** `df.localCheckpoint(eager)`, recorded in this scope. The pin's
    * RDD and job keep the caller's call site (`localCheckpoint at
    * Dedup.scala:373`), not this file's, so plans, the UI and profiles
    * still name the operator that pinned. */
  def pin(df: DataFrame, eager: Boolean = true): DataFrame = {
    val site = Thread.currentThread.getStackTrace.iterator.drop(1)
      .find(!_.getClassName.startsWith(classOf[Pins].getName))
      .map(f => s"localCheckpoint at ${f.getFileName}:${f.getLineNumber}")
    val p = SparkBridge.withCallSite(df.sparkSession.sparkContext, site)(
      df.localCheckpoint(eager))
    SparkBridge.checkpointRdds(p).foreach(own)
    p
  }

  /** Round boundary: release this scope's pins at `prev`'s leaves that
    * `next` does not read (so `prev` goes once `next` is materialized),
    * and return `next` with its origin statistics dropped. */
  def advance(prev: DataFrame, next: DataFrame): DataFrame = {
    val keep = Pins.reads(next)
    release(SparkBridge.checkpointRdds(prev).map(_.id).filterNot(keep))
    SparkBridge.dropOriginStats(next)
  }

  private def own(rdd: RDD[_]): Unit = owned(rdd.id) = rdd

  private def release(ids: Iterable[Int]): Unit =
    ids.flatMap(owned.remove).foreach(_.unpersist(blocking = false))

  private def close(keep: Set[Int], outer: Option[Pins]): Unit = {
    for ((id, rdd) <- owned if keep(id)) outer.foreach(_.own(rdd))
    release(owned.keys.filterNot(keep).toList)
    owned.clear()
  }
}

object Pins {
  private val open = new ThreadLocal[List[Pins]] {
    override def initialValue(): List[Pins] = Nil
  }

  /** Run `body` with a fresh pin scope; on exit release every pin of
    * the scope that the returned value does not read and hand the rest
    * to the enclosing scope. */
  def scope[T](body: Pins => T): T = {
    val s = new Pins
    val outer = open.get
    open.set(s :: outer)
    var keep = Set.empty[Int]
    try {
      val result = body(s)
      keep = frames(result).flatMap(reads).toSet
      result
    } finally {
      open.set(outer)
      s.close(keep, outer.headOption)
    }
  }

  /** Ids of every RDD `df` reads: its checkpoint leaves (subqueries
    * included) and their lineage. */
  private def reads(df: Dataset[_]): Set[Int] = {
    val seen = mutable.Set.empty[Int]
    def walk(rdd: RDD[_]): Unit =
      if (seen.add(rdd.id)) rdd.dependencies.foreach(d => walk(d.rdd))
    SparkBridge.checkpointRdds(df).foreach(walk)
    seen.toSet
  }

  private def frames(x: Any): Iterator[Dataset[_]] = x match {
    case df: Dataset[_] => Iterator(df)
    case it: Iterable[_] => it.iterator.flatMap(frames)
    case p: Product => p.productIterator.flatMap(frames)
    case _ => Iterator.empty
  }
}
