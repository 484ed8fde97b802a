package graft.functions

import java.util.Arrays

import org.apache.spark.unsafe.Platform
import org.apache.spark.unsafe.array.ByteArrayMethods
import org.apache.spark.unsafe.hash.Murmur3_x86_32

/** The string buffer of `count300k`, `sketch_agg` and `sketch_merge`: a
  * set of byte strings kept in one append-only `byte[]` arena, laid out
  * as a [[SketchWire]] sketch (a 4-byte count slot, then one
  * `[int32 len][bytes]` frame per value, in insertion order), under an
  * open-addressing `long[]` index whose entries are
  * `(32-bit hash << 32) | arena offset` of a frame, with linear probing
  * from slot `hash & mask`. This is the reference's per-bucket value
  * blob (`hashset-count.cc:133-148`) made growable: there is no object
  * per value, about 40 heap bytes per 16-byte value where a
  * `mutable.HashSet` of `UTF8String` took about 108.
  *
  *   - [[add]] hashes a row's string in place (the Murmur3 of
  *     `UTF8String.hashCode`), compares stored hash, then length and
  *     bytes, and copies the bytes only on a value's first sighting —
  *     the row's buffer may be reused, so nothing aliases it.
  *   - [[toWire]] copies the frames out in index order, so the set that
  *     merges the sketch probes its own index in rising slot order: in
  *     the single-task final merge of a global `count300k` that is what
  *     makes the arena faster than the `HashSet` it replaced rather than
  *     slower (frames in insertion order cost it random index reads).
  *   - [[StringSet.fromWire]] adopts a checked sketch as the arena
  *     without copying it; the index is built on first use. An adopted
  *     array is never written: the first append reallocates. A sketch
  *     that frames one value twice (`sketch_merge` takes any BINARY) is
  *     rebuilt without the repeat when it is indexed.
  *   - [[union]] streams the smaller set's frames, in their order, into
  *     the larger; growing the index reuses the stored hashes.
  *
  * `fn` names the SQL function in the error a set past the largest
  * sketch raises ([[SketchWire.checkedLength]]).
  */
final class StringSet private (fn: String, private var arena: Array[Byte], private var n: Int) {
  import StringSet._

  /** Bytes of `arena` in use: the count, then the frames. */
  private var end = arena.length
  /** `arena` belongs to a caller's sketch and must not be written. */
  private var adopted = true
  private var index: Array[Long] = null // built lazily for an adopted sketch
  private var mask = 0
  private var growAt = 0

  def this(fn: String) = {
    this(fn, new Array[Byte](StringSet.FirstArena), 0)
    end = 4
    adopted = false
    newIndex(MinIndex)
  }

  /** Distinct values in the set. */
  def size: Int = { indexed(); n }

  /** Add the `len` bytes at `off` in `base` (a `UTF8String`'s
    * `getBaseObject`/`getBaseOffset`/`numBytes`), copying them on first
    * sighting.
    */
  def add(base: AnyRef, off: Long, len: Int): Unit = {
    indexed()
    insert(base, off, len, Murmur3_x86_32.hashUnsafeBytes(base, off, len, Seed))
  }

  /** Add every value of a sketch, after [[SketchWire.checkFrames]]. */
  def addWire(bytes: Array[Byte]): Unit = {
    val count = SketchWire.checkFrames(bytes)
    indexed()
    addFrames(bytes, count)
  }

  /** The union of this set and `other`, built in whichever holds more
    * values; returns that set.
    */
  def union(other: StringSet): StringSet =
    if (n < other.n) other.addAll(this) else addAll(other)

  /** The set as a [[SketchWire]] sketch, in a new array, its frames in
    * index order. A set that merges the sketch then visits its own
    * index slots in rising order too, rather than at random.
    */
  def toWire: Array[Byte] = {
    indexed()
    val out = new Array[Byte](end)
    writeInt(out, 0, n)
    var pos = 4
    var j = 0
    while (j < index.length) {
      val e = index(j)
      if (e != 0L) {
        val frame = 4 + readInt(arena, e.toInt)
        System.arraycopy(arena, e.toInt, out, pos, frame)
        pos += frame
      }
      j += 1
    }
    out
  }

  private def addAll(other: StringSet): StringSet = {
    indexed()
    addFrames(other.arena, other.n)
    this
  }

  /** Insert the `count` frames of the sketch `src`. */
  private def addFrames(src: Array[Byte], count: Int): Unit = {
    var pos = 4
    var i = 0
    while (i < count) {
      val len = readInt(src, pos)
      val off = Platform.BYTE_ARRAY_OFFSET + pos + 4
      insert(src, off, len, Murmur3_x86_32.hashUnsafeBytes(src, off, len, Seed))
      pos += 4 + len
      i += 1
    }
  }

  private def insert(base: AnyRef, off: Long, len: Int, h: Int): Unit = {
    val tag = h.toLong << 32
    var i = h & mask
    var e = index(i)
    while (e != 0L) {
      if ((e & HashBits) == tag && sameBytes(e.toInt, base, off, len)) return
      i = (i + 1) & mask
      e = index(i)
    }
    index(i) = tag | append(base, off, len)
    n += 1
    if (n > growAt) rehash(index.length * 2)
  }

  private def sameBytes(at: Int, base: AnyRef, off: Long, len: Int): Boolean =
    readInt(arena, at) == len &&
      ByteArrayMethods.arrayEquals(arena, Platform.BYTE_ARRAY_OFFSET + at + 4, base, off, len)

  /** Frame the bytes at `end` and return their offset. While an adopted
    * sketch is indexed, its own next frame is already in place.
    */
  private def append(base: AnyRef, off: Long, len: Int): Int = {
    val at = end
    if (!(base eq arena) || off != Platform.BYTE_ARRAY_OFFSET + at + 4) {
      if (adopted || arena.length - at < 4L + len) growArena(at + 4L + len)
      writeInt(arena, at, len)
      Platform.copyMemory(base, off, arena, Platform.BYTE_ARRAY_OFFSET + at + 4, len)
    }
    end = at + 4 + len
    at
  }

  /** Copy the arena to an owned array of at least `bytes` bytes and
    * half as long again as it was.
    */
  private def growArena(bytes: Long): Unit = {
    val need = SketchWire.checkedLength(fn, n + 1L, bytes)
    arena = Arrays.copyOf(arena, math.max(need, math.min(arena.length * 3L / 2, MaxBytes).toInt))
    adopted = false
  }

  /** Index the frames of an adopted sketch, dropping any repeat. */
  private def indexed(): Unit =
    if (index == null) {
      val src = arena
      val count = n
      newIndex(indexCapacity(count))
      n = 0
      end = 4
      addFrames(src, count) // in place until a repeat, which forces a copy
    }

  private def newIndex(capacity: Int): Unit = {
    index = new Array[Long](capacity)
    mask = capacity - 1
    growAt = (capacity * FillLimit).toInt
  }

  /** Move every entry to a table of `capacity` slots by its stored hash. */
  private def rehash(capacity: Int): Unit = {
    val old = index
    newIndex(capacity)
    var j = 0
    while (j < old.length) {
      val e = old(j)
      if (e != 0L) {
        var i = (e >>> 32).toInt & mask
        while (index(i) != 0L) i = (i + 1) & mask
        index(i) = e
      }
      j += 1
    }
  }
}

object StringSet {

  /** Adopt `bytes` as a set's arena, without copying, once
    * [[SketchWire.checkFrames]] accepts it.
    */
  def fromWire(fn: String, bytes: Array[Byte]): StringSet =
    new StringSet(fn, bytes, SketchWire.checkFrames(bytes))

  /** `UTF8String.hashCode`'s Murmur3 seed. */
  private val Seed = 42
  private val HashBits = 0xFFFFFFFF00000000L
  /** The index doubles past this fill. Measured on 2M rows of about 1M
    * distinct strings: from 0.5 to 0.8 the four-sketch merge stayed
    * within noise, and 0.7 built the partial sets faster than 0.5.
    */
  private val FillLimit = 0.7
  private val MinIndex = 16
  private val FirstArena = 64
  private val MaxBytes = SketchWire.MaxBytes

  /** The smallest table that holds `values` within the fill limit. */
  private def indexCapacity(values: Long): Int = {
    var cap = MinIndex
    while (cap * FillLimit < values) cap *= 2
    cap
  }

  private def readInt(a: Array[Byte], pos: Int): Int =
    (a(pos) << 24) | ((a(pos + 1) & 0xff) << 16) | ((a(pos + 2) & 0xff) << 8) | (a(pos + 3) & 0xff)

  private def writeInt(a: Array[Byte], pos: Int, v: Int): Unit = {
    a(pos) = (v >>> 24).toByte
    a(pos + 1) = (v >>> 16).toByte
    a(pos + 2) = (v >>> 8).toByte
    a(pos + 3) = v.toByte
  }
}
