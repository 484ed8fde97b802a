package graft.functions

import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StringType

import graft.SparkSpec

/** `sketch_merge`/`sketch_count` take any user BINARY column, so a blob
  * that is not a [[SketchWire]] frame must fail with a named error
  * before anything is allocated for it — not return a number, and not
  * as a negative-size or multi-gigabyte allocation.
  */
class SketchWireSpec extends SparkSpec {
  import spark.implicits._

  private val strings = HashSetCountDistinct(BoundReference(0, StringType, nullable = true))

  private def hex(s: String): Array[Byte] =
    s.grouped(2).map(b => Integer.parseInt(b, 16).toByte).toArray

  /** The message of the first IllegalArgumentException in the cause chain. */
  private def rejection(body: => Any): String = {
    val e = intercept[Throwable](body)
    Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
      .collectFirst { case iae: IllegalArgumentException => iae.getMessage }
      .getOrElse(fail(s"no IllegalArgumentException in the cause chain of $e", e))
  }

  private val malformed = Seq(
    "FFFFFFFF" -> "negative value count -1 at byte 0",
    "7FFFFFFF" -> "value count 2147483647 at byte 0",
    "00000001FFFFFFFF" -> "negative value length -1 at byte 4",
    "000000017FFFFFF0" -> "value length 2147483632 at byte 4 exceeds the 0 bytes remaining",
    "0000000200000001" + "61" + "00000005" + "6263" -> "value length 5 at byte 9 exceeds the 2 bytes remaining")

  test("SketchWire rejects malformed frames by byte offset, before allocating") {
    for ((blob, why) <- malformed) {
      val msg = rejection(strings.deserialize(hex(blob)))
      assert(msg.startsWith("not a graft sketch: ") && msg.contains(why), blob)
    }
    // count stays a header-only read: the header errors, nothing more
    assert(rejection(SketchWire.count(hex("FFFFFFFF"))).contains("negative value count -1"))
    assert(SketchWire.count(hex("00000001FFFFFFFF")) == 1)
    assert(rejection(SketchWire.count(Array[Byte](0, 0))).contains("2 bytes"))
  }

  test("sketch_merge and sketch_count reject malformed blobs in SQL") {
    for ((blob, why) <- malformed) {
      val merged = rejection(spark.sql(s"SELECT sketch_count(sketch_merge(X'$blob'))").collect())
      assert(merged.contains(why), blob)
      // through a real column too, not only a foldable literal
      val col = rejection(Seq(hex(blob)).toDF("sk").agg(expr("sketch_merge(sk)")).collect())
      assert(col.contains(why), blob)
    }
    assert(rejection(spark.sql("SELECT sketch_count(X'FFFFFFFF')").collect())
      .contains("negative value count -1 at byte 0"))
    assert(rejection(Seq(hex("FFFFFFFF")).toDF("sk").select(expr("sketch_count(sk)")).collect())
      .contains("negative value count -1 at byte 0"))
  }

  test("well-formed sketches still merge and count") {
    val a = strings.serialize(strings.deserialize(hex("00000002" + "00000001" + "61" + "00000000")))
    val got = Seq(a, hex("00000001" + "00000001" + "62"), hex("00000000"))
      .toDF("sk").agg(expr("sketch_count(sketch_merge(sk))")).collect()(0).getString(0)
    assert(got == "3") // "a", "" and "b"
    assert(Seq(hex("00000000")).toDF("sk").select(expr("sketch_count(sk)"))
      .collect()(0).isNullAt(0))
  }

  test("a well-formed sketch that frames one value twice counts it once") {
    val twice = "00000002" + "00000001" + "61" + "00000001" + "61" // n=2: "a", "a"
    assert(spark.sql(s"SELECT sketch_count(sketch_merge(X'$twice'))").collect()(0).getString(0) == "1")
    assert(Seq(hex(twice), hex("00000001" + "00000001" + "62")).toDF("sk")
      .agg(expr("sketch_count(sketch_merge(sk))")).collect()(0).getString(0) == "2")
  }

  test("a sketch past 2 GB fails naming the function, the value count and the size") {
    val max = SketchWire.MaxBytes.toLong
    assert(SketchWire.checkedLength("count300k", 1, max) == max)
    // 94M 19-digit BIGINTs, and 1.1M values of 2 KB: each sums past Int.MaxValue
    for ((fn, values, bytes) <- Seq(
        ("count300k", 94000000L, 4 + 94000000L * (4 + 19)),
        ("sketch_agg", 1100000L, 4 + 1100000L * (4 + 2048)),
        ("sketch_merge", 1L, max + 1))) {
      assert(bytes > Int.MaxValue || bytes == max + 1)
      val e = intercept[IllegalStateException](SketchWire.checkedLength(fn, values, bytes))
      assert(e.getMessage == s"$fn: a sketch of $values values needs $bytes bytes, " +
        s"past the $max-byte limit of one sketch")
    }
  }
}
