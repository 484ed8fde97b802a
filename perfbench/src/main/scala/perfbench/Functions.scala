package perfbench

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.catalyst.expressions.{BoundReference, GenericInternalRow}
import org.apache.spark.sql.catalyst.expressions.aggregate.TypedImperativeAggregate
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.apache.spark.util.SizeEstimator

import graft.functions.{HashSetCountDistinct, SketchWire}

/** The `functions` layer timed on its own: `count300k`'s aggregate
  * callbacks (update, serialize, deserialize, merge) called directly on
  * the run's seeded `distinct_*` strings, at the workload's sizes (the
  * high-cardinality set far beyond CPU caches), split into one partial
  * buffer per core the way Spark's partial aggregation splits them.
  * Only the public `TypedImperativeAggregate` surface is used, so the
  * probe does not depend on the buffer's representation.
  */
object Functions {
  val Reps = 3

  /** Per-layer metrics, or an error when a callback returns a wrong count. */
  def probe(spark: SparkSession, seed: Long, card: Gen.Cardinalities, parts: Int,
      trace: Trace): Either[String, Map[String, Double]] = {
    val (high, low) = Gen.distinctFrames(spark, seed, card)
    val highVals = high.collect().map(r => UTF8String.fromString(r.getString(0)))
    val lowVals = low.select("a").collect().map(r => UTF8String.fromString(r.getString(0)))
    measure(HashSetCountDistinct(BoundReference(0, StringType, nullable = true)),
      highVals, lowVals, parts, card.highcard, trace)
  }

  private def measure[Buf](agg: TypedImperativeAggregate[Buf], highVals: Array[UTF8String],
      lowVals: Array[UTF8String], parts: Int, expected: Long, trace: Trace): Either[String, Map[String, Double]] = {
    def count(b: Buf): Long = agg.eval(b).toString.toLong
    def split(vals: Array[UTF8String]) = vals.grouped((vals.length + parts - 1) / parts).toSeq
    def update(vals: Array[UTF8String]): (Seq[Buf], Double) = {
      val row = new GenericInternalRow(1)
      val t0 = System.nanoTime()
      val bufs = split(vals).map { part =>
        var b = agg.createAggregationBuffer()
        part.foreach { v => row.update(0, v); b = agg.update(b, row) }
        b
      }
      (bufs, (System.nanoTime() - t0).toDouble / vals.length)
    }
    val samples = (1 to Reps).map { _ =>
      val (bufs, updHigh) = trace("functions.update.highcard")(update(highVals))
      val (_, updLow) = trace("functions.update.lowcard")(update(lowVals))
      val values = bufs.map(count).sum
      val t0 = System.nanoTime()
      val wire = trace("functions.serialize")(bufs.map(agg.serialize))
      val t1 = System.nanoTime()
      val back = trace("functions.deserialize")(wire.map(agg.deserialize))
      val t2 = System.nanoTime()
      val mergedIn = back.tail.map(count).sum
      val t3 = System.nanoTime()
      val merged = trace("functions.merge")(back.reduce((a, b) => agg.merge(a, b)))
      val t4 = System.nanoTime()
      val total = count(merged)
      val error =
        if (total != expected) Some(s"merged count $total, expected $expected")
        else if (wire.map(SketchWire.count).sum != values) Some("wire counts disagree with buffer counts")
        else None
      error -> Map(
        "functions.update_ns_per_row.highcard" -> updHigh,
        "functions.update_ns_per_row.lowcard" -> updLow,
        "functions.serialize_ns_per_value" -> (t1 - t0).toDouble / values,
        "functions.deserialize_ns_per_value" -> (t2 - t1).toDouble / values,
        "functions.merge_ns_per_value" -> (t4 - t3).toDouble / mergedIn,
        "functions.wire_bytes_per_value" -> wire.map(_.length.toLong).sum.toDouble / values,
        "functions.heap_bytes_per_value" -> SizeEstimator.estimate(merged.asInstanceOf[AnyRef]).toDouble / total)
    }
    samples.flatMap(_._1).headOption match {
      case Some(err) => Left(err)
      case None =>
        val ms = samples.map(_._2)
        Right(ms.head.keys.map(k => k -> Stats.median(ms.map(_(k)))).toMap)
    }
  }
}
