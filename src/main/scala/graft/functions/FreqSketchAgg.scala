package graft.functions

import scala.collection.mutable

import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{Expression, GenericInternalRow, ImplicitCastInputTypes}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.graft.Bridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** Mergeable Misra-Gries heavy-hitters sketch (Misra & Gries 1982;
  * mergeability per Agarwal et al., "Mergeable Summaries", PODS 2012).
  *
  * The 100 TB "what are the top items" workhorse when the item domain
  * is too large to count exactly: the state is at most `k` (item,
  * counter) pairs. Update is the classic decrement step (a miss on a
  * full table decrements every counter); merge sums counters and, if
  * more than `k` survive, subtracts the (k+1)-th largest counter from
  * all and drops the non-positive — both preserve the MG invariant.
  *
  * Guarantees after any sequence of updates/merges over n rows:
  *  - every item with true frequency > n/(k+1) is present
  *    (no false negatives for true heavy hitters);
  *  - each reported estimate is an UNDER-estimate with error at most
  *    n/(k+1): true - n/(k+1) <= est <= true.
  * Counter VALUES depend on merge order, so outputs are partition-
  * dependent in the lossy regime — the registered query therefore
  * runs the sketch in its EXACT regime (k >= distinct items, where no
  * decrement ever fires, estimates equal true counts, and the result
  * is deterministic and oracle-checkable), while FreqSketchSpec
  * proves the lossy-regime guarantees on skewed synthetic data.
  *
  * Output: array<struct<item string, est bigint>> sorted by
  * (est desc, item) for deterministic presentation.
  */
case class FreqSketchAgg(
    child: Expression,
    k: Int,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
  extends TypedImperativeAggregate[mutable.HashMap[UTF8String, Long]]
  with ImplicitCastInputTypes {

  require(k >= 1, s"FreqSketchAgg capacity k must be >= 1, got $k")

  // items are counted as strings: the analyzer casts a castable
  // argument (e.g. a bigint) and rejects the rest, instead of `update`
  // failing every task on the UTF8String cast
  override def inputTypes: Seq[DataType] = Seq(StringType)

  override def children: Seq[Expression] = child :: Nil
  override def nullable: Boolean = false
  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false))),
    containsNull = false)
  override def prettyName: String = "graft_heavy_hitters"

  override def createAggregationBuffer(): mutable.HashMap[UTF8String, Long] =
    mutable.HashMap.empty

  override def update(
      buf: mutable.HashMap[UTF8String, Long],
      input: InternalRow): mutable.HashMap[UTF8String, Long] = {
    val v = child.eval(input)
    if (v != null) {
      val item = v.asInstanceOf[UTF8String]
      buf.get(item) match {
        case Some(c) => buf.update(item, c + 1)
        case None if buf.size < k =>
          buf.update(item.clone(), 1L) // clone: eval may reuse the buffer
        case None =>
          // MG decrement step: a miss on a full table pays one count
          // from every counter; zeros are evicted
          val dead = mutable.ArrayBuffer.empty[UTF8String]
          buf.mapValuesInPlace((_, c) => c - 1)
          buf.foreach { case (it, c) => if (c <= 0) dead += it }
          dead.foreach(buf.remove)
      }
    }
    buf
  }

  override def merge(
      b1: mutable.HashMap[UTF8String, Long],
      b2: mutable.HashMap[UTF8String, Long]): mutable.HashMap[UTF8String, Long] = {
    b2.foreach { case (it, c) =>
      b1.update(it, b1.getOrElse(it, 0L) + c)
    }
    if (b1.size > k) {
      // subtract the (k+1)-th largest counter from all, keep positive
      val cut = b1.values.toArray.sortInPlace()(Ordering[Long].reverse)(k)
      val dead = mutable.ArrayBuffer.empty[UTF8String]
      b1.mapValuesInPlace((_, c) => c - cut)
      b1.foreach { case (it, c) => if (c <= 0) dead += it }
      dead.foreach(b1.remove)
    }
    b1
  }

  override def eval(buf: mutable.HashMap[UTF8String, Long]): Any = {
    val sorted = buf.toArray.sortBy { case (it, c) => (-c, it) }
    new GenericArrayData(sorted.map { case (it, c) =>
      new GenericInternalRow(Array[Any](it, c))
    }.asInstanceOf[Array[Any]])
  }

  override def serialize(buf: mutable.HashMap[UTF8String, Long]): Array[Byte] = {
    val entries = buf.toArray
    val bytesLen = entries.map { case (it, _) => 4 + it.numBytes() + 8 }.sum
    val bb = java.nio.ByteBuffer.allocate(4 + bytesLen)
    bb.putInt(entries.length)
    entries.foreach { case (it, c) =>
      val b = it.getBytes
      bb.putInt(b.length)
      bb.put(b)
      bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): mutable.HashMap[UTF8String, Long] = {
    val bb = java.nio.ByteBuffer.wrap(bytes)
    val n = bb.getInt
    val buf = mutable.HashMap.empty[UTF8String, Long]
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      val c = bb.getLong
      buf.update(UTF8String.fromBytes(b), c)
      i += 1
    }
    buf
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): FreqSketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(newChildren: IndexedSeq[Expression]): FreqSketchAgg =
    copy(child = newChildren.head)
}

object FreqSketchAgg {
  /** Column API: Misra-Gries top items of a string column with at most
    * `k` tracked counters; returns array<struct<item, est>> sorted by
    * (est desc, item).
    */
  def topItems(c: Column, k: Int): Column =
    Bridge.column(FreqSketchAgg(Bridge.expression(c), k).toAggregateExpression())
}
