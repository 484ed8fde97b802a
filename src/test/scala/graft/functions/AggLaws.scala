package graft.functions

import java.nio.ByteBuffer
import java.nio.charset.StandardCharsets

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.scalacheck.Gen
import org.scalacheck.rng.Seed

/** The aggregate algebra driven through the callbacks Spark calls, so a
  * property holds for the buffer as it crosses the shuffle: one partial
  * buffer per split (`createAggregationBuffer` + `update`), `serialize`
  * on the map side, `deserialize` and `merge` into a fresh buffer on
  * the reduce side, then `eval`.
  */
object AggLaws {

  /** `n` reproducible samples of `g`, at sizes 1 to 40. */
  def samples[T](g: Gen[T], n: Int): Seq[T] =
    (1 to n).flatMap { i =>
      g(Gen.Parameters.default.withSize(1 + i % 40), Seed(i.toLong)).toSeq
    }

  /** `xs` cut into at most `k` contiguous splits; empty input is one empty split. */
  def split[T](xs: Seq[T], k: Int): Seq[Seq[T]] =
    if (xs.isEmpty) Seq(Nil) else xs.grouped((xs.size + k - 1) / k).toSeq

  /** One buffer updated with every row, evaluated without crossing the wire. */
  def direct[B](agg: TypedImperativeAggregate[B], rows: Seq[InternalRow]): Any =
    agg.eval(rows.foldLeft(agg.createAggregationBuffer())(agg.update))

  /** Partial, serialize, deserialize, then merge in the order of `parts`. */
  def twoPhase[B](agg: TypedImperativeAggregate[B], parts: Seq[Seq[InternalRow]]): Any = {
    val wire = parts.map(p => agg.serialize(p.foldLeft(agg.createAggregationBuffer())(agg.update)))
    agg.eval(wire.map(agg.deserialize).foldLeft(agg.createAggregationBuffer())(agg.merge))
  }

  /** count300k's answer for `d` distinct non-NULL inputs. */
  def expectedCount(d: Int): String = if (d == 0) null else d.toString

  /** An `eval` result of count300k as a Scala string. */
  def asString(result: Any): String = Option(result).map(_.toString).orNull

  /** A [[SketchWire]] sketch framing `values` as given, repeats included. */
  def sketch(values: String*): Array[Byte] = {
    val bytes = values.map(_.getBytes(StandardCharsets.UTF_8))
    val bb = ByteBuffer.allocate(4 + bytes.map(4 + _.length).sum)
    bb.putInt(values.size)
    bytes.foreach(b => bb.putInt(b.length).put(b))
    bb.array()
  }

  /** The values a [[SketchWire]] sketch frames, in frame order. */
  def sketchValues(wire: Array[Byte]): Seq[String] = {
    val bb = ByteBuffer.wrap(wire)
    Seq.fill(bb.getInt) {
      val b = new Array[Byte](bb.getInt)
      bb.get(b)
      new String(b, StandardCharsets.UTF_8)
    }
  }
}
