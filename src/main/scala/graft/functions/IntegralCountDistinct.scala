package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{ByteType, DataType, IntegerType, LongType, ShortType, StringType}
import org.apache.spark.unsafe.types.UTF8String

/** `count300k` over a BYTE/SHORT/INT/BIGINT argument (or a
  * `CAST(<integral> AS STRING)` of one, see [[Count300k]]): the values
  * are counted as longs in a [[LongSet]] instead of being rendered to
  * `UTF8String`s and framed in [[HashSetCountDistinct]]'s byte arena —
  * the per-type specialisation Impala's generated aggregation code makes.
  *
  * The count is the string buffer's count: an integral type renders
  * injectively as decimal, so distinct values and distinct renderings
  * are the same set. Result type (STRING), the NULL skip and the
  * empty-set→NULL rule are [[HashSetCountDistinct]]'s, and the buffer
  * crosses the shuffle and the streaming state store as the same
  * [[SketchWire]] bytes (values written as their decimal renderings).
  *
  * `castArg` records that the caller wrote the cast, so the output
  * column keeps the name `count300k(CAST(x AS STRING))`.
  */
case class IntegralCountDistinct(
    child: Expression,
    castArg: Boolean = false,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends TypedImperativeAggregate[LongSet] with UnaryLike[Expression] {

  // a bound column is read as a primitive, without boxing each row
  @transient private lazy val ordinal = child match {
    case b: BoundReference => b.ordinal
    case _ => -1
  }

  override def createAggregationBuffer(): LongSet = new LongSet

  override def update(buf: LongSet, input: InternalRow): LongSet = {
    if (ordinal >= 0) {
      if (!input.isNullAt(ordinal)) buf.add(child.dataType match {
        case LongType => input.getLong(ordinal)
        case IntegerType => input.getInt(ordinal)
        case ShortType => input.getShort(ordinal)
        case _ => input.getByte(ordinal)
      })
    } else {
      val v = child.eval(input)
      if (v != null) buf.add(v.asInstanceOf[Number].longValue)
    }
    buf
  }

  override def merge(buf: LongSet, other: LongSet): LongSet =
    if (buf.size < other.size) other.addAll(buf) else buf.addAll(other)

  override def eval(buf: LongSet): Any =
    if (buf.size == 0) null else UTF8String.fromString(buf.size.toString)

  override def serialize(buf: LongSet): Array[Byte] = SketchWire.serializeLongs(buf)

  override def deserialize(bytes: Array[Byte]): LongSet =
    SketchWire.mergeLongsInto(new LongSet, bytes)

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (Count300k.isIntegral(child.dataType)) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"the integral count300k requires a BYTE/SHORT/INT/BIGINT argument, got ${child.dataType.sql}")
  override def prettyName: String = "count300k"

  override def sql(isDistinct: Boolean): String = {
    val arg = if (castArg) s"CAST(${child.sql} AS STRING)" else child.sql
    s"$prettyName(${if (isDistinct) "DISTINCT " else ""}$arg)"
  }

  override def withNewMutableAggBufferOffset(newOffset: Int): IntegralCountDistinct =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): IntegralCountDistinct =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): IntegralCountDistinct =
    copy(child = newChild)
}

/** Open-addressing set of longs: one power-of-two `long[]` table,
  * linear probing, Fibonacci hashing, at most half full. 0 marks an
  * empty slot, so the value 0 is kept as a flag. About 16-32 heap bytes
  * per value, against the string buffer's ([[StringSet]]) index entry
  * plus the value's framed decimal rendering.
  *
  * [[foreach]] walks the table in slot order, which is hash order, so
  * adding another set's values into a smaller table would pile them
  * into one probe run and go quadratic. [[addAll]] and the wire reader
  * therefore size the table for the result first; its capacity is then
  * at least the source's and the values spread as they did there.
  */
final class LongSet {
  private var table = new Array[Long](16)
  private var shift = 64 - 4
  private var stored = 0 // non-zero values in `table`
  private var hasZero = false

  /** Grow the table, once, to hold `n` values at most half full. */
  def sizeHint(n: Int): Unit = {
    var cap = table.length
    while (cap < 2L * n) cap *= 2
    if (cap > table.length) rehash(cap)
  }

  def size: Int = if (hasZero) stored + 1 else stored

  def add(v: Long): Unit =
    if (v == 0L) hasZero = true
    else {
      val mask = table.length - 1
      var i = slot(v)
      while (table(i) != 0L && table(i) != v) i = (i + 1) & mask
      if (table(i) == 0L) {
        table(i) = v
        stored += 1
        if (stored * 2 > table.length) grow()
      }
    }

  def foreach(f: Long => Unit): Unit = {
    if (hasZero) f(0L)
    val t = table
    var i = 0
    while (i < t.length) {
      if (t(i) != 0L) f(t(i))
      i += 1
    }
  }

  /** Add every value of `other`; returns this set. */
  def addAll(other: LongSet): LongSet = {
    sizeHint(size + other.size)
    other.foreach(add)
    this
  }

  private def slot(v: Long): Int = ((v * 0x9E3779B97F4A7C15L) >>> shift).toInt

  private def grow(): Unit = rehash(table.length * 2)

  private def rehash(capacity: Int): Unit = {
    val old = table
    table = new Array[Long](capacity)
    shift = 64 - Integer.numberOfTrailingZeros(capacity)
    stored = 0
    var i = 0
    while (i < old.length) {
      if (old(i) != 0L) add(old(i))
      i += 1
    }
  }
}
