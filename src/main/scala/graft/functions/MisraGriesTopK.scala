package graft.functions

import java.nio.ByteBuffer

import scala.collection.mutable

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.Expression
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.BinaryLike
import org.apache.spark.sql.catalyst.util.GenericArrayData
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `mg_topk(item, k)`: Misra–Gries heavy hitters as a native
  * `TypedImperativeAggregate` — the bounded, MERGEABLE frequency
  * summary that complements the reference's distinct-count state (its
  * hash set answers "how many distinct"; this answers "which values
  * dominate" in O(k) state instead of O(distinct)). Same
  * five-callback lifecycle as the reference UDA
  * (`/root/reference/hashset-count.h:30-34`): update decrements-on-
  * overflow, serialize/deserialize carry a framed buffer across the
  * exchange like the 'D' form (`hashset-count.cc:195-262`), merge uses
  * the Agarwal et al. (Mergeable Summaries, PODS'12) combine —
  * pointwise-sum then subtract the (k+1)-th largest counter — so the
  * result is partitioning-safe in its GUARANTEES.
  *
  * Contract per summary entry `(item, est, err)`:
  * `est ≤ true_freq(item) ≤ est + err`, where `err` is the total
  * decrement depth the buffer accumulated (0 ≤ err ≤ n/(k+1)); every
  * item with `true_freq > err` is PRESENT. When the group's distinct
  * item count never exceeds k, no decrement ever fires: `est` is the
  * EXACT count, `err` is 0, and the output is partition-invariant —
  * the exact regime the gated query runs in (the error regime is
  * spec-tested, since summary CONTENT under decrements legitimately
  * depends on merge order while the bounds always hold).
  *
  * Output is best-first: descending `est`, ties broken by item. At
  * 100 TB the state per group is k entries regardless of input —
  * the same reason `topk_agg` exists, applied to frequency.
  */
case class MisraGriesTopK(
    item: Expression,
    kExpr: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[MisraGriesTopK.Summary]
    with BinaryLike[Expression] {

  import MisraGriesTopK.Summary

  private lazy val k: Int = kExpr.eval().asInstanceOf[Number].intValue()

  override def createAggregationBuffer(): Summary = new Summary

  override def update(buf: Summary, input: InternalRow): Summary = {
    val v = item.eval(input)
    if (v != null) {
      // defensive copy: the UTF8String may alias a reused row buffer
      // (the same hazard StringSet.add copies each new value's bytes for)
      buf.add(v.asInstanceOf[UTF8String].copy(), 1L, k)
    }
    buf
  }

  override def merge(buf: Summary, other: Summary): Summary = {
    other.counts.foreach { case (it, c) => buf.add(it, c, k) }
    buf.err += other.err
    buf
  }

  override def eval(buf: Summary): Any = {
    val sorted = buf.counts.toArray.sortWith { case ((ia, ca), (ib, cb)) =>
      if (ca != cb) ca > cb else ia.compareTo(ib) < 0
    }
    new GenericArrayData(sorted.map { case (it, c) =>
      InternalRow(it, c, buf.err)
    })
  }

  /** Wire: `[int64 err] [int32 n] ([int32 len][bytes item][int64 count])*`. */
  override def serialize(buf: Summary): Array[Byte] = {
    val items = buf.counts.toArray
    val bytes = items.map { case (it, _) => it.getBytes }
    val bb = ByteBuffer.allocate(12 + bytes.map(_.length + 12).sum)
    bb.putLong(buf.err)
    bb.putInt(items.length)
    items.zip(bytes).foreach { case ((_, c), b) =>
      bb.putInt(b.length); bb.put(b); bb.putLong(c)
    }
    bb.array()
  }

  override def deserialize(bytes: Array[Byte]): Summary = {
    val bb = ByteBuffer.wrap(bytes)
    val buf = new Summary
    buf.err = bb.getLong
    val n = bb.getInt
    var i = 0
    while (i < n) {
      val len = bb.getInt
      val b = new Array[Byte](len)
      bb.get(b)
      buf.counts.update(UTF8String.fromBytes(b), bb.getLong)
      i += 1
    }
    buf
  }

  override def dataType: DataType = ArrayType(
    StructType(Seq(
      StructField("item", StringType, nullable = false),
      StructField("est", LongType, nullable = false),
      StructField("err", LongType, nullable = false))),
    containsNull = false)
  override def nullable: Boolean = false

  override def checkInputDataTypes(): TypeCheckResult =
    if (item.dataType != StringType)
      TypeCheckResult.TypeCheckFailure(
        s"mg_topk item must be STRING, got ${item.dataType.sql}")
    else if (!kExpr.foldable ||
      !Seq(ByteType, ShortType, IntegerType, LongType).contains(kExpr.dataType))
      TypeCheckResult.TypeCheckFailure(
        s"mg_topk k must be an integral literal, got ${kExpr.dataType.sql}")
    else if (kExpr.eval() == null ||
      kExpr.eval().asInstanceOf[Number].longValue() < 1)
      TypeCheckResult.TypeCheckFailure("mg_topk k must be a positive literal")
    else if (kExpr.eval().asInstanceOf[Number].longValue() > 1000000)
      TypeCheckResult.TypeCheckFailure(
        s"mg_topk k is per-group SUMMARY state, not a result limit — got ${kExpr.eval()}")
    else TypeCheckResult.TypeCheckSuccess

  override def prettyName: String = "mg_topk"

  override def left: Expression = item
  override def right: Expression = kExpr

  override def withNewMutableAggBufferOffset(newOffset: Int): MisraGriesTopK =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): MisraGriesTopK =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): MisraGriesTopK =
    copy(item = newLeft, kExpr = newRight)
}

object MisraGriesTopK {

  /** Mutable MG summary: bounded counter map + accumulated decrement
    * depth (the per-entry error bound).
    */
  final class Summary {
    val counts: mutable.HashMap[UTF8String, Long] = mutable.HashMap.empty
    var err: Long = 0L

    /** Add `c` occurrences of `it`, keeping at most `k` counters: on
      * overflow, subtract the (k+1)-th largest counter value from all
      * and drop non-positives — the batch form of the classic
      * decrement-all step (c=1 reproduces it exactly), and the
      * PODS'12 merge combine when `c` is another summary's counter.
      */
    def add(it: UTF8String, c: Long, k: Int): Unit = {
      counts.updateWith(it) {
        case Some(cur) => Some(cur + c)
        case None => Some(c)
      }
      if (counts.size > k) {
        // (k+1)-th largest value == minimum at size k+1; general form:
        // sort desc, take index k
        val cut = counts.values.toArray.sorted(Ordering[Long].reverse).apply(k)
        err += cut
        val dead = counts.iterator.collect {
          case (key, v) if v <= cut => key
        }.toList
        counts.mapValuesInPlace((_, v) => v - cut)
        dead.foreach(counts.remove)
      }
    }
  }
}
