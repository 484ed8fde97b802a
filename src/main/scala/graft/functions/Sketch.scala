package graft.functions

import java.nio.ByteBuffer

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Expression, UnaryExpression, UnsafeRow}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.catalyst.trees.UnaryLike
import org.apache.spark.sql.types.{BinaryType, DataType, StringType}
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.types.UTF8String

/** The engine's exact-distinct-set wire format, shared by the in-query
  * aggregate ([[HashSetCountDistinct]]) and the PERSISTABLE sketch
  * column surface ([[SketchAgg]]/[[SketchMergeAgg]]/[[SketchCount]]).
  *
  * Layout: `[int32 n] ([int32 len] [len bytes])*` — framed, compact,
  * order-free. A [[StringSet]] keeps its values in this layout, so
  * writing one copies its frames out (in index order) and reading one
  * adopts the bytes as they are. The reference's serialized 'D' form
  * kept values in bucket order only so its delimited-string merge could
  * stream (the reference's `hashset-count.cc:226-247`, `README.md:38-41`);
  * a framed format needs no ordering invariant and is `'\0'`-safe
  * where the reference documents silent corruption (`README.md:9`).
  */
object SketchWire {

  /** Largest sketch, in bytes: the longest array the JVM allocates. */
  val MaxBytes: Int = ByteArrayMethods.MAX_ROUNDED_ARRAY_LENGTH

  /** `bytes` as an array length, for a sketch (or an arena) of `values`
    * values in `bytes` bytes, summed as `Long`. Past [[MaxBytes]] it
    * fails naming the SQL function `fn`, the value count and the size,
    * instead of overflowing an `Int` into a negative length.
    */
  def checkedLength(fn: String, values: Long, bytes: Long): Int =
    if (bytes <= MaxBytes) bytes.toInt
    else throw new IllegalStateException(
      s"$fn: a sketch of $values values needs $bytes bytes, past the $MaxBytes-byte limit of one sketch")

  /** Distinct count carried by a serialized sketch — the leading int32;
    * the values themselves are never touched. A header that cannot be
    * a sketch (fewer than 4 bytes, a negative count, or more values than
    * the bytes can frame) fails loudly rather than reading garbage.
    */
  def count(bytes: Array[Byte]): Int = {
    if (bytes == null || bytes.length < 4)
      throw new IllegalArgumentException(
        s"not a graft sketch: ${if (bytes == null) "null" else s"${bytes.length} bytes"}")
    val n = ByteBuffer.wrap(bytes).getInt
    if (n < 0) malformed(s"negative value count $n at byte 0")
    if (n > (bytes.length - 4) / 4)
      malformed(s"value count $n at byte 0 exceeds what ${bytes.length - 4} bytes can frame")
    n
  }

  /** Validate the whole frame structure of `bytes` and return its value
    * count, before any caller allocates for it: the count must be
    * non-negative and fit the bytes (each value needs its 4-byte
    * length), and every length must be non-negative and fit what
    * remains. `sketch_merge` takes any user BINARY column, so a
    * malformed blob must fail here — not as a negative-size or
    * multi-gigabyte allocation.
    */
  private[functions] def checkFrames(bytes: Array[Byte]): Int = {
    val n = count(bytes)
    val bb = ByteBuffer.wrap(bytes)
    var pos = 4
    var i = 0
    while (i < n) {
      if (bytes.length - pos < 4) malformed(s"value ${i + 1} of $n has no length at byte $pos")
      val len = bb.getInt(pos)
      if (len < 0) malformed(s"negative value length $len at byte $pos")
      if (len > bytes.length - pos - 4)
        malformed(s"value length $len at byte $pos exceeds the ${bytes.length - pos - 4} bytes remaining")
      pos += 4 + len
      i += 1
    }
    n
  }

  /** Call `f(offset, length)` for each of the `n` values of a sketch
    * that [[checkFrames]] accepted.
    */
  private def foreachValue(bytes: Array[Byte], n: Int)(f: (Int, Int) => Unit): Unit = {
    val bb = ByteBuffer.wrap(bytes)
    var pos = 4
    var i = 0
    while (i < n) {
      val len = bb.getInt(pos)
      f(pos + 4, len)
      pos += 4 + len
      i += 1
    }
  }

  /** [[serialize]] for [[IntegralCountDistinct]]'s buffer: each value
    * framed as its decimal rendering — byte for byte the sketch the
    * string buffer writes for `CAST(x AS STRING)`, so shuffle and
    * streaming-state bytes do not depend on which buffer counted.
    */
  def serializeLongs(buf: LongSet): Array[Byte] = {
    var total = 4L
    buf.foreach(v => total += 4 + decimalLength(v))
    val out = new Array[Byte](checkedLength("count300k", buf.size, total))
    val bb = ByteBuffer.wrap(out)
    bb.putInt(buf.size)
    var pos = 4
    buf.foreach { v =>
      val len = decimalLength(v)
      bb.putInt(pos, len)
      writeDecimal(out, pos + 4 + len, v)
      pos += 4 + len
    }
    out
  }

  /** Union a serialized sketch of decimal integer renderings into a
    * [[LongSet]]. A value that is not a canonical rendering of a
    * BIGINT (no sign but '-', no leading zero, no "-0") is rejected:
    * two renderings of one number would otherwise count once here and
    * twice in the string buffer.
    */
  def mergeLongsInto(buf: LongSet, bytes: Array[Byte]): LongSet = {
    val n = checkFrames(bytes)
    buf.sizeHint(buf.size + n)
    foreachValue(bytes, n)((off, len) => buf.add(parseDecimal(bytes, off, len)))
    buf
  }

  private val Pow10: Array[Long] = Array.iterate(1L, 19)(_ * 10)

  /** Bytes of `v`'s decimal rendering, sign included. */
  private def decimalLength(v: Long): Int =
    if (v == Long.MinValue) 20
    else {
      val a = math.abs(v)
      var d = 1
      while (d < 19 && a >= Pow10(d)) d += 1
      if (v < 0) d + 1 else d
    }

  /** Write `v`'s decimal rendering so that it ends just before `end`. */
  private def writeDecimal(out: Array[Byte], end: Int, v: Long): Unit = {
    var x = if (v < 0) v else -v // negative, so Long.MinValue needs no case
    var i = end
    while ({ i -= 1; out(i) = ('0' - x % 10).toByte; x /= 10; x != 0 }) ()
    if (v < 0) out(i - 1) = '-'
  }

  private def parseDecimal(bytes: Array[Byte], off: Int, len: Int): Long = {
    def bad(): Nothing = malformed(
      s"value at byte ${off - 4} is not a decimal integer: " +
        new String(bytes, off, math.min(len, 24), java.nio.charset.StandardCharsets.UTF_8))
    val end = off + len
    val neg = len > 0 && bytes(off) == '-'
    val first = if (neg) off + 1 else off
    if (first == end || (bytes(first) == '0' && (end - first > 1 || neg))) bad()
    var acc = 0L // accumulated negatively, so Long.MinValue fits
    var i = first
    while (i < end) {
      val d = bytes(i) - '0'
      if (d < 0 || d > 9 || acc < (Long.MinValue + d) / 10) bad()
      acc = acc * 10 - d
      i += 1
    }
    if (neg) acc else if (acc == Long.MinValue) bad() else -acc
  }

  private def malformed(why: String): Nothing =
    throw new IllegalArgumentException(s"not a graft sketch: $why")
}

/** Shared buffer lifecycle for the aggregates over one [[StringSet]]:
  * empty-set init, union merge into the larger set, [[SketchWire]]
  * shuffle format (the set's arena is that sketch; a partial read off
  * the shuffle is adopted without a copy), and the STRING update —
  * NULLs skipped, each value's bytes copied into the arena on its first
  * sighting. An aggregate over another input type overrides [[update]]
  * and [[checkInputDataTypes]].
  *
  * An abstract class, not a trait: a trait method reaches each
  * subclass through a forwarder and a static trampoline, two more
  * frames on the per-row `update` path. Written as a trait, `count300k`
  * over a low-cardinality string column took about a tenth more task
  * CPU in paired benchmark runs.
  */
private[functions] abstract class HashSetAggBase
    extends TypedImperativeAggregate[StringSet] with UnaryLike[Expression] {

  override def createAggregationBuffer(): StringSet = new StringSet(prettyName)

  // a bound column of an UnsafeRow is read in place, with no UTF8String per row
  @transient private lazy val ordinal = child match {
    case b: BoundReference => b.ordinal
    case _ => -1
  }

  override def update(buf: StringSet, input: InternalRow): StringSet = {
    input match {
      case row: UnsafeRow if ordinal >= 0 =>
        if (!row.isNullAt(ordinal)) {
          val offsetAndSize = row.getLong(ordinal)
          buf.add(row.getBaseObject, row.getBaseOffset + (offsetAndSize >> 32), offsetAndSize.toInt)
        }
      case _ =>
        val v = child.eval(input).asInstanceOf[UTF8String]
        if (v != null) buf.add(v.getBaseObject, v.getBaseOffset, v.numBytes)
    }
    buf
  }

  override def merge(buf: StringSet, other: StringSet): StringSet = buf.union(other)

  override def serialize(buf: StringSet): Array[Byte] = buf.toWire

  override def deserialize(bytes: Array[Byte]): StringSet = StringSet.fromWire(prettyName, bytes)

  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == StringType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"$prettyName requires a STRING argument, got ${child.dataType.sql}")
}

/** `sketch_agg(string) → binary`: the reference's distinct-count STATE
  * as a first-class, persistable column. The reference's whole reason
  * to exist is a distinct count whose state merges across nodes
  * (`/root/reference/hashset-count.cc:269-461`); the warehouse-scale
  * version of that idea is MATERIALIZING the serialized set, so
  * partial aggregates can be stored (per-day parquet), rolled up later
  * ([[SketchMergeAgg]]) and finalized ([[SketchCount]]) — per-day
  * sketches merged to month equal the direct month count, exactly
  * (this is a set, not an estimator). NULL inputs are skipped like
  * `count300k` (`hashset-count.cc:105-108`); an all-NULL or empty
  * group yields the empty sketch (n=0), which [[SketchCount]] maps to
  * NULL — the reference's empty-group rule, deferred to finalize time.
  *
  * Scale note: sketch size ∝ distinct values in the group, the same
  * law as the reference's buffer and the in-query `count300k`. For
  * unbounded-cardinality groups the bounded-size estimator siblings
  * are Spark's own `hll_sketch_agg`/`hll_union_agg`/
  * `hll_sketch_estimate` — same agg/merge/finalize shape, fixed-size
  * state, approximate answer.
  */
case class SketchAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashSetAggBase {

  override def eval(buf: StringSet): Any = buf.toWire

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def prettyName: String = "sketch_agg"

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(newChild: Expression): SketchAgg =
    copy(child = newChild)
}

/** `sketch_merge(binary) → binary`: union stored [[SketchAgg]] sketches
  * — the rollup half of the persistable-state story (day → month is
  * one `groupBy(month).agg(sketch_merge(sk))` over sketch rows; the
  * raw fact table is never rescanned). NULL sketches are skipped;
  * merging zero sketches yields the empty sketch. The buffer IS the
  * union, so merging is associative and commutative — partition
  * layout cannot change the result.
  */
case class SketchMergeAgg(
    child: Expression,
    mutableAggBufferOffset: Int = 0,
    inputAggBufferOffset: Int = 0)
    extends HashSetAggBase {

  override def update(buf: StringSet, input: InternalRow): StringSet = {
    val v = child.eval(input)
    if (v != null) buf.addWire(v.asInstanceOf[Array[Byte]])
    buf
  }

  override def eval(buf: StringSet): Any = buf.toWire

  override def dataType: DataType = BinaryType
  override def nullable: Boolean = false
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sketch_merge requires a BINARY sketch argument, got ${child.dataType.sql}")
  override def prettyName: String = "sketch_merge"

  override def withNewMutableAggBufferOffset(newOffset: Int): SketchMergeAgg =
    copy(mutableAggBufferOffset = newOffset)
  override def withNewInputAggBufferOffset(newOffset: Int): SketchMergeAgg =
    copy(inputAggBufferOffset = newOffset)
  override protected def withNewChildInternal(
      newChild: Expression): SketchMergeAgg =
    copy(child = newChild)
}

/** `sketch_count(binary) → string`: finalize a sketch — read the count
  * from the frame header (the values are never deserialized). Empty
  * sketch → NULL and STRING output, matching `count300k`'s
  * finalize contract (`/root/reference/hashset-count.cc:464-524`,
  * `README.md:28`). Codegen'd: a header read is one static call, so
  * the expression stays inside whole-stage codegen.
  */
case class SketchCount(child: Expression) extends UnaryExpression {

  override def dataType: DataType = StringType
  override def nullable: Boolean = true
  override def checkInputDataTypes(): TypeCheckResult =
    if (child.dataType == BinaryType) TypeCheckResult.TypeCheckSuccess
    else TypeCheckResult.TypeCheckFailure(
      s"sketch_count requires a BINARY sketch argument, got ${child.dataType.sql}")
  override def prettyName: String = "sketch_count"

  override def nullSafeEval(input: Any): Any = {
    val n = SketchWire.count(input.asInstanceOf[Array[Byte]])
    if (n == 0) null else UTF8String.fromString(n.toString)
  }

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    nullSafeCodeGen(ctx, ev, c => {
      val n = ctx.freshName("sketchN")
      s"""
         |int $n = graft.functions.SketchWire.count($c);
         |if ($n == 0) {
         |  ${ev.isNull} = true;
         |} else {
         |  ${ev.value} = org.apache.spark.unsafe.types.UTF8String.fromString(
         |    java.lang.Integer.toString($n));
         |}
       """.stripMargin
    })

  override protected def withNewChildInternal(newChild: Expression): SketchCount =
    copy(child = newChild)
}
