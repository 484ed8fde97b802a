package graft.functions

import org.apache.spark.sql.catalyst.expressions.{Cast, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** Hot-path `count300k`: exact hashset-based distinct count as a native
  * Catalyst `TypedImperativeAggregate`. Its six callbacks are the 1:1
  * structural analogue of the reference UDA's five
  * (`/root/reference/hashset-count.h:30-34`):
  *
  *   - `createAggregationBuffer` ≈ `DistHashSetInit`
  *     (`hashset-count.cc:82-103`)
  *   - `update` ≈ `DistHashSetUpdate` incl. the NULL skip
  *     (`hashset-count.cc:105-192`)
  *   - `serialize`/`deserialize` ≈ `DistHashSetSerialize`'s 'D' form
  *     (`hashset-count.cc:195-262`) — but length-prefixed instead of
  *     NUL-delimited, so values containing '\0' are safe (the reference
  *     documents silent corruption, `README.md:9`). The format lives in
  *     [[SketchWire]], shared with the persistable sketch-column
  *     surface (`sketch_agg`/`sketch_merge`/`sketch_count`)
  *   - `merge` ≈ `DistHashSetMerge` (`hashset-count.cc:269-461`) — a plain
  *     set union, streaming the smaller set's frames into the larger; the
  *     reference's sort-merge-over-bucket-order dance existed only because
  *     its serialized form was a flat delimited string
  *   - `eval` ≈ `DistHashSetFinalize` incl. the empty-set→NULL rule (an
  *     empty or all-NULL group is NULL, not ANSI `COUNT(DISTINCT)`'s 0;
  *     the empty string is a value and counts once) and STRING output
  *     (`hashset-count.cc:464-524`, `README.md:28`)
  *
  * Unlike the reference's fixed 300,000 buckets (`hashset-count.cc:67`),
  * the buffer grows with cardinality; `count300k` survives as a name only.
  * Spark plans the same two-phase aggregation Impala did (Partial →
  * exchange → Final) and falls back to sort-based aggregation under memory
  * pressure, replacing the reference's warn-and-hope spill handling
  * (`hashset-count.cc:200-205`).
  *
  * Values are kept in a [[StringSet]]: one byte arena, laid out as the
  * [[SketchWire]] sketch of the set, under an open-addressing index of
  * (hash, offset) entries, so no object is made per value. `child.eval`
  * can return a string backed by a reused row buffer, so the first
  * sighting of each distinct value is copied into the arena (duplicates
  * copy nothing). `update`, `merge` and the wire format are
  * [[HashSetAggBase]]'s, shared with `sketch_agg`.
  *
  * This is the buffer for every argument type except the integral ones:
  * the SQL builder ([[Count300k]]) sends BYTE/SHORT/INT/BIGINT
  * arguments to [[IntegralCountDistinct]] and casts everything else to
  * STRING here. A float, decimal, date or timestamp argument is counted
  * by its rendering, which is not always a count of its values (NaN
  * payloads all render as `NaN`, `-0.0` equals `0.0` but renders
  * differently, a local timestamp repeats at the DST fall-back), so
  * those types keep the rendering semantics they have always had.
  */
case class HashSetCountDistinct(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashSetAggBase {

  override def eval(buf: StringSet): Any =
    if (buf.size == 0) null else UTF8String.fromString(buf.size.toString)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def prettyName: String = "count300k"

  override def withNewMutableAggBufferOffset(
      newOffset: Int): HashSetCountDistinct =
    copy(mutableAggBufferOffset = newOffset)

  override def withNewInputAggBufferOffset(
      newOffset: Int): HashSetCountDistinct =
    copy(inputAggBufferOffset = newOffset)

  override protected def withNewChildInternal(
      newChild: Expression): HashSetCountDistinct =
    copy(child = newChild)
}

/** The one `count300k` builder, used by both [[graft.Engine.register]]
  * and [[graft.GraftExtensions]]: the buffer is picked from the
  * argument's type. A BYTE/SHORT/INT/BIGINT argument, or a
  * `CAST(<integral> AS STRING)` of one, is counted in
  * [[IntegralCountDistinct]]'s primitive long set; any other argument is
  * cast to STRING and counted in [[HashSetCountDistinct]]. Both give the
  * same answer for an integral argument (see [[IntegralCountDistinct]]).
  */
object Count300k {

  def apply(args: Seq[Expression]): TypedImperativeAggregate[_] = {
    val arg = args.head
    integralInput(arg) match {
      case Some(x) => IntegralCountDistinct(x, castArg = x ne arg)
      case None => HashSetCountDistinct(Cast(arg, StringType))
    }
  }

  def isIntegral(t: DataType): Boolean = t match {
    case ByteType | ShortType | IntegerType | LongType => true
    case _ => false
  }

  /** The integral expression `arg` counts, if any. An unresolved
    * argument has no type yet and takes the string buffer.
    */
  private def integralInput(arg: Expression): Option[Expression] =
    if (!arg.resolved) None
    else arg match {
      case c: Cast if c.dataType == StringType && isIntegral(c.child.dataType) => Some(c.child)
      case _ if isIntegral(arg.dataType) => Some(arg)
      case _ => None
    }
}
