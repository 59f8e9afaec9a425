package graft.functions

import java.nio.ByteBuffer
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.SparkBridge
import org.apache.spark.sql.types._
import scala.collection.mutable

/** Mutable buffer for [[CappedDistinctSet]]: a distinct-id set that
  * ABANDONS itself the moment it exceeds `cap`. `dead` is sticky — once
  * a group overflows, every later update/merge is a no-op on an empty
  * set, so the per-group state is <= cap ids at every point of the
  * aggregation (map side, shuffle payload, AND the reducer's final
  * merge), no matter how many rows the group actually has. */
final class CappedSetState(var dead: Boolean,
                           val ids: mutable.HashSet[Long]) {
  def add(v: Long, cap: Int): Unit = if (!dead) {
    ids += v
    if (ids.size > cap) { dead = true; ids.clear() }
  }
}

/** `capped_distinct_set(id, cap)` -> array<long> of the group's distinct
  * ids SORTED ASC, or NULL once the group's distinct count exceeds `cap`.
  *
  * The scale story — why this exists instead of
  * `agg(count, collect_set).filter(df <= cap)`: the filter shape is only
  * bounded MAP-side. The final merge must still union every partition's
  * partial set into the complete per-group set BEFORE the filter can
  * drop it, so one hot key (a boilerplate shingle present in a large
  * fraction of a 100 TB corpus) builds a corpus-sized array on a single
  * reducer task and dies — exactly the heap-death class the r16
  * factor-100 probe caught one level down. Here the overflow verdict
  * travels WITH the buffer: a partial that has seen cap+1 distinct ids
  * ships one dead bit instead of its ids, merges of any dead partial are
  * dead, and the reducer never holds more than cap longs per group.
  * Semantics are identical to the filter shape by construction
  * (anything over the cap was filtered anyway), so swapping it in leaves
  * every dependent oracle hash unchanged.
  *
  * Output order is sorted (collect_set's order is undefined; every call
  * site is order-free, and deterministic output is strictly better).
  */
case class CappedDistinctSet(child: Expression, cap: Int,
                             mutableAggBufferOffset: Int = 0,
                             inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedSetState] {
  require(cap > 0)

  override def createAggregationBuffer(): CappedSetState =
    new CappedSetState(false, mutable.HashSet.empty[Long])

  override def update(buf: CappedSetState, input: InternalRow): CappedSetState = {
    val v = child.eval(input)
    if (v != null) buf.add(v.asInstanceOf[Long], cap)
    buf
  }

  override def merge(buf: CappedSetState, other: CappedSetState): CappedSetState = {
    if (other.dead) { buf.dead = true; buf.ids.clear() }
    else if (!buf.dead) {
      val it = other.ids.iterator
      while (it.hasNext && !buf.dead) buf.add(it.next(), cap)
    }
    buf
  }

  override def eval(buf: CappedSetState): Any =
    if (buf.dead) null
    else new GenericArrayData(buf.ids.toArray.sorted)

  override def serialize(buf: CappedSetState): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 + 4 + buf.ids.size * 8)
    bb.put(if (buf.dead) 1.toByte else 0.toByte)
    bb.putInt(buf.ids.size)
    buf.ids.foreach(bb.putLong)
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedSetState = {
    val bb = ByteBuffer.wrap(bytes)
    val dead = bb.get() == 1.toByte
    val n = bb.getInt
    val ids = mutable.HashSet.empty[Long]
    var i = 0
    while (i < n) { ids += bb.getLong; i += 1 }
    new CappedSetState(dead, ids)
  }

  override def dataType: DataType = ArrayType(LongType, containsNull = false)
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(child)
  override def prettyName: String = "capped_distinct_set"

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedDistinctSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedDistinctSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(child = newChildren(0))
}

/** Mutable buffer for [[CappedDistinctPairSet]] — same dead-bit
  * discipline as [[CappedSetState]] over (id, payload) pairs. */
final class CappedPairSetState(var dead: Boolean,
                               val ids: mutable.HashSet[(Long, Long)]) {
  def add(a: Long, b: Long, cap: Int): Unit = if (!dead) {
    ids += ((a, b))
    if (ids.size > cap) { dead = true; ids.clear() }
  }
}

/** `capped_distinct_pair_set((id, v), cap)` -> array<struct<id, v>>
  * sorted by (id, v), or NULL once the group's distinct pair count
  * exceeds `cap` — the two-column form of [[CappedDistinctSet]] for
  * bucket gathers that must carry a payload (the simhash block-key
  * bucket carries each member's full signature for the inline hamming
  * filter). Same scale story: the overflow verdict travels with the
  * buffer, so a pathological bucket (thousands of near-identical
  * template documents sharing a block key in a 100 TB corpus) costs
  * one dead bit on its reducer instead of a corpus-sized array AND
  * instead of the cap²-per-bucket pair explosion downstream. */
case class CappedDistinctPairSet(key: Expression, payload: Expression,
                                 cap: Int,
                                 mutableAggBufferOffset: Int = 0,
                                 inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[CappedPairSetState] {
  require(cap > 0)

  override def createAggregationBuffer(): CappedPairSetState =
    new CappedPairSetState(false, mutable.HashSet.empty[(Long, Long)])

  override def update(buf: CappedPairSetState, input: InternalRow): CappedPairSetState = {
    val a = key.eval(input)
    val b = payload.eval(input)
    if (a != null && b != null)
      buf.add(a.asInstanceOf[Long], b.asInstanceOf[Long], cap)
    buf
  }

  override def merge(buf: CappedPairSetState, other: CappedPairSetState): CappedPairSetState = {
    if (other.dead) { buf.dead = true; buf.ids.clear() }
    else if (!buf.dead) {
      val it = other.ids.iterator
      while (it.hasNext && !buf.dead) {
        val (a, b) = it.next(); buf.add(a, b, cap)
      }
    }
    buf
  }

  override def eval(buf: CappedPairSetState): Any =
    if (buf.dead) null
    else new GenericArrayData(buf.ids.toArray.sorted
      .map { case (a, b) => InternalRow(a, b) })

  override def serialize(buf: CappedPairSetState): Array[Byte] = {
    val bb = ByteBuffer.allocate(1 + 4 + buf.ids.size * 16)
    bb.put(if (buf.dead) 1.toByte else 0.toByte)
    bb.putInt(buf.ids.size)
    buf.ids.foreach { case (a, b) => bb.putLong(a); bb.putLong(b) }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): CappedPairSetState = {
    val bb = ByteBuffer.wrap(bytes)
    val dead = bb.get() == 1.toByte
    val n = bb.getInt
    val ids = mutable.HashSet.empty[(Long, Long)]
    var i = 0
    while (i < n) { ids += ((bb.getLong, bb.getLong)); i += 1 }
    new CappedPairSetState(dead, ids)
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("v", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = true
  override def children: Seq[Expression] = Seq(key, payload)
  override def prettyName: String = "capped_distinct_pair_set"

  override def withNewMutableAggBufferOffset(newOffset: Int): CappedDistinctPairSet =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): CappedDistinctPairSet =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): Expression =
    copy(key = newChildren(0), payload = newChildren(1))
}

object CappedSet {
  /** Aggregate Column: the group's distinct ids (sorted), or null once
    * the distinct count exceeds `cap` — state bounded at cap ids per
    * group through every phase of the aggregation. */
  def capped_distinct_set(id: Column, cap: Int): Column =
    SparkBridge.column(CappedDistinctSet(
      SparkBridge.expression(id.cast("long")), cap).toAggregateExpression())

  /** Aggregate Column: the group's distinct (id, v) pairs as
    * array<struct<id, v>> sorted by (id, v), or null past `cap`. */
  def capped_distinct_pair_set(id: Column, v: Column, cap: Int): Column =
    SparkBridge.column(CappedDistinctPairSet(
      SparkBridge.expression(id.cast("long")),
      SparkBridge.expression(v.cast("long")), cap).toAggregateExpression())

  /** Generator Column: one row per i<j pair of the array `xs`, built by
    * `pair(xs[i], xs[j])` — the map-side pair explode every gathered
    * member list feeds (n²/2 rows per array, so callers bound n first:
    * a capped set, or a size filter). */
  def explode_pairs(xs: Column)(pair: (Column, Column) => Column): Column = {
    import org.apache.spark.sql.functions.{explode, flatten, size, slice, transform}
    explode(flatten(transform(xs, (x, i) =>
      transform(slice(xs, i + 2, size(xs)), y => pair(x, y)))))
  }
}
