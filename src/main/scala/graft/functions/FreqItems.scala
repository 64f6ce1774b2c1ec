package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graftbridge.ColumnBridge
import org.apache.spark.sql.types._

/** SpaceSaving frequent-items sketch as a Catalyst aggregate — the fourth
  * member of the mergeable-summary family (HLL answers "how many distinct",
  * Count-Min answers "how often is x", the HDR histogram answers "what
  * value sits at rank r"; this answers "WHICH items are frequent", the one
  * question CMS cannot without enumerating candidates).
  *
  * State is m counters (Metwally et al.'s stream-summary, here an indexed
  * binary min-heap keyed by count + an item→slot map, O(log m) per
  * update): a tracked item increments its counter; an untracked item
  * evicts the MINIMUM counter, inheriting its count as one-sided error.
  * Per item the summary yields `est` (overcount, never under) and
  * `lb = est − err` (undercount, never over), so
  * `lb <= true <= est` always, and any item whose true count exceeds
  * total/m is guaranteed tracked — the pigeonhole that makes a 100 TB
  * heavy-hitter scan a fixed-size state problem: m (item, count, err)
  * entries per group per map task cross the shuffle, independent of both
  * row count and item cardinality.
  *
  * Merge (partial aggregation / map-side combine) follows the mergeable-
  * summaries construction (Agarwal et al., PODS 2012): an item absent
  * from one side contributes that side's minimum counter to BOTH its
  * estimate and its error (its true count there is between 0 and that
  * minimum — 0 exactly when the side never filled), then the combined
  * entries are cut back to the m largest estimates. Both bounds and the
  * total/m tracking guarantee survive the cut (property-pinned across
  * partition layouts in FreqItemsSpec; the declared gate
  * `evt_freq_items` runs the full update/serde/merge machinery in the
  * no-eviction regime where est = lb = the exact count, so the DuckDB
  * hash pins the whole pipeline's arithmetic exactly).
  *
  * Items are BIGINT or STRING; NULL items are skipped (SQL aggregate
  * semantics). Output: array<struct<item, est, lb>> sorted est-descending
  * with item-ascending tie-break. NOTE: under eviction, est/lb for a
  * given item depend on the partition layout (merge order) — only the
  * bounds and the tracking guarantee are layout-invariant, which is why
  * production use confirms candidates with an exact count join (the
  * sketch-proposes / exact-confirms shape used throughout this repo).
  */
case class FreqItemsAgg(child: Expression, m: Int,
                        mutableAggBufferOffset: Int = 0,
                        inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[SpaceSavingSummary] {

  private def stringItems: Boolean = child.dataType == StringType

  override def checkInputDataTypes(): TypeCheckResult = child.dataType match {
    case LongType | StringType => TypeCheckResult.TypeCheckSuccess
    case other => TypeCheckResult.TypeCheckFailure(
      s"freq_items needs a BIGINT or STRING item, got $other")
  }

  override def dataType: DataType = ArrayType(StructType(Seq(
    StructField("item", child.dataType, nullable = false),
    StructField("est", LongType, nullable = false),
    StructField("lb", LongType, nullable = false))), containsNull = false)
  override def nullable: Boolean = false
  override def children: Seq[Expression] = Seq(child)

  override def createAggregationBuffer(): SpaceSavingSummary =
    new SpaceSavingSummary(m, stringItems)

  override def update(buf: SpaceSavingSummary,
                      input: InternalRow): SpaceSavingSummary = {
    val v = child.eval(input)
    if (v != null) {
      // UTF8String from an unsafe row points into a reused buffer — copy
      // before it outlives the input row
      val owned = v match {
        case u: org.apache.spark.unsafe.types.UTF8String => u.clone()
        case other => other.asInstanceOf[AnyRef]
      }
      buf.add(owned)
    }
    buf
  }

  override def merge(buf: SpaceSavingSummary,
                     other: SpaceSavingSummary): SpaceSavingSummary =
    buf.mergeWith(other)

  override def eval(buf: SpaceSavingSummary): Any =
    new GenericArrayData(buf.sortedDesc().map { case (item, est, lb) =>
      new GenericInternalRow(Array[Any](item, est, lb))
    })

  override def serialize(buf: SpaceSavingSummary): Array[Byte] = buf.toBytes

  override def deserialize(bytes: Array[Byte]): SpaceSavingSummary =
    SpaceSavingSummary.fromBytes(m, stringItems, bytes)

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(newOffset: Int): FreqItemsAgg =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildrenInternal(
      newChildren: IndexedSeq[Expression]): FreqItemsAgg =
    copy(child = newChildren.head)
}

/** m-slot SpaceSaving summary: indexed binary min-heap on count (slot 0 =
  * minimum counter, the eviction victim) + item→slot map for O(1) hits.
  * Items are java.lang.Long or UTF8String (flagged at construction).
  */
final class SpaceSavingSummary(val m: Int, val stringItems: Boolean) {
  private[functions] val counts = new Array[Long](m)
  private[functions] val errs = new Array[Long](m)
  private[functions] val items = new Array[AnyRef](m)
  private[functions] val pos =
    new java.util.HashMap[AnyRef, Integer](m * 2)
  private[functions] var n = 0
  private[functions] var total = 0L // stream length absorbed (for total/m)

  def size: Int = n
  def streamTotal: Long = total

  /** Minimum tracked count — the overcount any UNTRACKED item could have.
    * 0 while the summary has never filled: every distinct item seen so
    * far is still tracked, so an untracked item's true count here IS 0.
    */
  def minCount: Long = if (n < m) 0L else counts(0)

  def estimate(item: AnyRef): Long =
    pos.get(item) match { case null => minCount; case i => counts(i) }

  def tracked(item: AnyRef): Boolean = pos.containsKey(item)

  private def swap(i: Int, j: Int): Unit = {
    val tc = counts(i); counts(i) = counts(j); counts(j) = tc
    val te = errs(i); errs(i) = errs(j); errs(j) = te
    val ti = items(i); items(i) = items(j); items(j) = ti
    pos.put(items(i), i)
    pos.put(items(j), j)
  }

  private def siftUp(start: Int): Unit = {
    var i = start
    while (i > 0 && counts((i - 1) / 2) > counts(i)) {
      swap(i, (i - 1) / 2)
      i = (i - 1) / 2
    }
  }

  private def siftDown(start: Int): Unit = {
    var i = start
    var done = false
    while (!done) {
      val l = 2 * i + 1
      val r = 2 * i + 2
      var s = i
      if (l < n && counts(l) < counts(s)) s = l
      if (r < n && counts(r) < counts(s)) s = r
      if (s == i) done = true
      else { swap(i, s); i = s }
    }
  }

  def add(item: AnyRef): Unit = { addCounted(item, 1L, 0L); total += 1 }

  /** Insert/bump with an explicit (count, err) — the merge building block.
    * Does NOT touch `total` (callers own that bookkeeping).
    */
  private[functions] def addCounted(item: AnyRef, c: Long, e: Long): Unit = {
    val idx = pos.get(item)
    if (idx != null) {
      val i = idx.intValue()
      counts(i) += c
      errs(i) += e
      siftDown(i) // count grew: may only need to move away from the root
    } else if (n < m) {
      counts(n) = c; errs(n) = e; items(n) = item
      pos.put(item, n)
      n += 1
      siftUp(n - 1)
    } else {
      // evict the minimum counter; the newcomer inherits its count as
      // one-sided error (it may have occurred up to counts(0) times
      // while untracked — never more)
      pos.remove(items(0))
      errs(0) = counts(0) + e
      counts(0) += c
      items(0) = item
      pos.put(item, 0)
      siftDown(0)
    }
  }

  /** Mergeable-summaries combine: items missing from one side take that
    * side's minimum counter as both estimate and error contribution, then
    * the union is cut to the m largest estimates (est-desc, item-asc — a
    * deterministic cut for any given pair of summaries).
    */
  def mergeWith(other: SpaceSavingSummary): SpaceSavingSummary = {
    if (other.n == 0) { total += other.total; return this }
    if (n == 0) { other.total += total; return other }
    val minA = minCount
    val minB = other.minCount
    val buf = new scala.collection.mutable.ArrayBuffer[(AnyRef, Long, Long)](
      n + other.n)
    var i = 0
    while (i < n) {
      val it = items(i)
      val (bc, be) = other.pos.get(it) match {
        case null => (minB, minB)
        case j => (other.counts(j), other.errs(j))
      }
      buf += ((it, counts(i) + bc, errs(i) + be))
      i += 1
    }
    i = 0
    while (i < other.n) {
      val it = other.items(i)
      if (!pos.containsKey(it))
        buf += ((it, other.counts(i) + minA, other.errs(i) + minA))
      i += 1
    }
    val itemLt: (AnyRef, AnyRef) => Boolean =
      if (stringItems) (a, b) =>
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0
      else (a, b) => a.asInstanceOf[java.lang.Long].longValue() <
        b.asInstanceOf[java.lang.Long].longValue()
    val kept = buf.sortWith { case ((ia, ca, _), (ib, cb, _)) =>
      ca > cb || (ca == cb && itemLt(ia, ib))
    }.take(m)
    val out = new SpaceSavingSummary(m, stringItems)
    kept.foreach { case (it, c, e) => out.addCounted(it, c, e) }
    out.total = total + other.total
    out
  }

  /** Entries (item, est, lb) est-descending, item-ascending on ties. */
  def sortedDesc(): Array[(AnyRef, Long, Long)] = {
    val itemLt: (AnyRef, AnyRef) => Boolean =
      if (stringItems) (a, b) =>
        a.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]
          .compareTo(b.asInstanceOf[org.apache.spark.unsafe.types.UTF8String]) < 0
      else (a, b) => a.asInstanceOf[java.lang.Long].longValue() <
        b.asInstanceOf[java.lang.Long].longValue()
    (0 until n).map(i => (items(i), counts(i), counts(i) - errs(i)))
      .sortWith { case ((ia, ca, _), (ib, cb, _)) =>
        ca > cb || (ca == cb && itemLt(ia, ib))
      }.toArray
  }

  def toBytes: Array[Byte] = {
    if (stringItems) {
      val bytes = new Array[Array[Byte]](n)
      var sz = 8 + 4 + 20 * n
      var i = 0
      while (i < n) {
        bytes(i) = items(i)
          .asInstanceOf[org.apache.spark.unsafe.types.UTF8String].getBytes
        sz += bytes(i).length
        i += 1
      }
      val bb = ByteBuffer.allocate(sz)
      bb.putLong(total).putInt(n)
      i = 0
      while (i < n) {
        bb.putLong(counts(i)).putLong(errs(i))
          .putInt(bytes(i).length).put(bytes(i))
        i += 1
      }
      bb.array()
    } else {
      val bb = ByteBuffer.allocate(8 + 4 + 24 * n)
      bb.putLong(total).putInt(n)
      var i = 0
      while (i < n) {
        bb.putLong(counts(i)).putLong(errs(i))
          .putLong(items(i).asInstanceOf[java.lang.Long].longValue())
        i += 1
      }
      bb.array()
    }
  }
}

object SpaceSavingSummary {
  def fromBytes(m: Int, stringItems: Boolean,
                bytes: Array[Byte]): SpaceSavingSummary = {
    val bb = ByteBuffer.wrap(bytes)
    val s = new SpaceSavingSummary(m, stringItems)
    s.total = bb.getLong
    val n = bb.getInt
    // direct slot copy — the serialized order IS the heap array, so the
    // invariant survives without re-sifting; only the item→slot map is
    // rebuilt
    var i = 0
    while (i < n) {
      s.counts(i) = bb.getLong
      s.errs(i) = bb.getLong
      s.items(i) =
        if (stringItems) {
          val len = bb.getInt
          val b = new Array[Byte](len)
          bb.get(b)
          org.apache.spark.unsafe.types.UTF8String.fromBytes(b)
        } else java.lang.Long.valueOf(bb.getLong)
      s.pos.put(s.items(i), i)
      i += 1
    }
    s.n = n
    s
  }
}

object FreqItems {
  /** Column API: `freq_items(item, m)` — SpaceSaving summary of the
    * group's item stream as array<struct<item, est, lb>>, est-descending.
    * `lb <= true count <= est`; any item with true count > group rows / m
    * is guaranteed present. Item BIGINT or STRING.
    */
  def freq_items(item: Column, m: Int): Column = {
    require(m >= 1, s"m must be >= 1, got $m")
    ColumnBridge.column(
      FreqItemsAgg(ColumnBridge.expression(item), m).toAggregateExpression())
  }
}
