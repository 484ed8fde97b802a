package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Literal}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BinaryType, StringType}
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen

import graft.SparkSpec

/** The persistable sketch-column surface: sketch_agg/merge/count must
  * reproduce count300k through a store-and-rollup cycle — the
  * Serialize/Merge partition-invariance contract of the reference
  * (`/root/reference/hashset-count.cc:195-461`) held across an actual
  * parquet round trip, not just across a shuffle.
  */
class SketchSpec extends SparkSpec {
  import spark.implicits._

  private def df = Seq(
    ("a", "u1"), ("a", "u2"), ("a", "u1"), ("a", "u3"),
    ("b", "u1"), ("b", "u1"),
    ("c", "x"), ("c", "y"), ("c", "z"), ("c", "x")
  ).toDF("g", "v")

  test("sketch_count(sketch_agg) equals count300k per group") {
    val got = df.groupBy("g")
      .agg(expr("sketch_count(sketch_agg(v))").as("sk"),
        expr("count300k(v)").as("direct"))
      .collect()
    assert(got.nonEmpty)
    got.foreach(r => assert(r.getString(1) == r.getString(2), r.getString(0)))
  }

  test("merge of per-part sketches equals the direct count, any partitioning") {
    for (parts <- Seq(1, 3, 7)) {
      val partial = df.repartition(parts, col("v"))
        .withColumn("part", spark_partition_id())
        .groupBy("g", "part")
        .agg(expr("sketch_agg(v)").as("sk"))
      val rolled = partial.groupBy("g")
        .agg(expr("sketch_count(sketch_merge(sk))").as("n"))
        .orderBy("g").as[(String, String)].collect()
      assert(rolled.toSeq == Seq(("a", "3"), ("b", "1"), ("c", "3")), s"parts=$parts")
    }
  }

  test("inclusion-exclusion over stored sketches is exact (q_sketch_intersect's algebra)") {
    // two overlapping segments: A = {u1,u2,u3}, B = {u2,u3,u4,u5}
    val seg = Seq(
      ("A", "u1"), ("A", "u2"), ("A", "u3"), ("A", "u2"),
      ("B", "u2"), ("B", "u3"), ("B", "u4"), ("B", "u5")
    ).toDF("seg", "v")
      .groupBy("seg").agg(expr("sketch_agg(v)").as("sk"))
    val r = seg.agg(
      expr("""coalesce(cast(sketch_count(sketch_merge(
                CASE WHEN seg = 'A' THEN sk END)) AS BIGINT), 0)""").as("a"),
      expr("""coalesce(cast(sketch_count(sketch_merge(
                CASE WHEN seg = 'B' THEN sk END)) AS BIGINT), 0)""").as("b"),
      expr("coalesce(cast(sketch_count(sketch_merge(sk)) AS BIGINT), 0)").as("u"))
      .collect()(0)
    assert(r.getLong(0) == 3 && r.getLong(1) == 4 && r.getLong(2) == 5)
    assert(r.getLong(0) + r.getLong(1) - r.getLong(2) == 2) // |A∩B| = {u2,u3}
  }

  test("sketches survive a parquet round trip") {
    val base = java.nio.file.Files.createTempDirectory("graft_sk_spec").toString
    try {
      df.groupBy("g").agg(expr("sketch_agg(v)").as("sk"))
        .write.mode("overwrite").parquet(base)
      val back = spark.read.parquet(base)
        .agg(expr("sketch_count(sketch_merge(sk))").as("n"))
        .as[String].head()
      assert(back == "6") // {u1,u2,u3} U {u1} U {x,y,z}
    } finally graft.Fs.deleteRecursively(base)
  }

  test("NULL skip, empty sketch finalizes to NULL, '\\0' safe") {
    val withNulls = Seq(
      ("g1", Option("v1")), ("g1", None), ("g1", Option("v2")),
      ("g2", Option.empty[String]),
      ("g3", Option("a\u0000b")), ("g3", Option("a")), ("g3", Option("b")),
      ("g4", Option("x y")), ("g4", Option("x")), ("g4", Option("y"))
    ).toDF("g", "v")
    // build sketches first, then merge-of-one — exercises both aggs
    val staged = withNulls.groupBy("g").agg(expr("sketch_agg(v)").as("sk"))
      .groupBy("g").agg(expr("sketch_count(sketch_merge(sk))").as("n"))
      .orderBy("g").as[(String, String)].collect()
    assert(staged.toSeq ==
      Seq(("g1", "2"), ("g2", null), ("g3", "3"), ("g4", "3")))
  }

  test("sketch_count rejects malformed bytes loudly") {
    val e = intercept[Exception] {
      Seq(Array[Byte](1, 2)).toDF("sk")
        .select(expr("sketch_count(sk)")).collect()
    }
    assert(e.getMessage != null)
  }

  test("sketch_agg state survives the streaming state store across micro-batches") {
    // the q_stream_sketch contract in miniature: the SketchWire buffer
    // must round-trip through streaming-aggregation state between
    // micro-batches (restore → merge → save), deduping across them
    implicit val sqlCtx = spark.sqlContext
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    def ts(h: Int, m: Int) = java.sql.Timestamp.valueOf(f"2024-01-01 $h%02d:$m%02d:00")
    val input = MemoryStream[(java.sql.Timestamp, String)]
    val agg = input.toDF().toDF("ts", "v")
      .groupBy(window(col("ts"), "1 hour").as("w"))
      .agg(expr("sketch_agg(v)").as("sk"))
      .select(col("w.start").as("ws"), expr("sketch_count(sk)").as("n"))
    val q = agg.writeStream.format("memory").queryName("stream_sketch")
      .outputMode("complete").start()
    try {
      input.addData((ts(10, 0), "u1"), (ts(10, 10), "u2"))
      q.processAllAvailable()
      input.addData((ts(10, 20), "u1"), (ts(10, 30), "u3"), (ts(11, 5), "x"))
      q.processAllAvailable()
      val rows = spark.table("stream_sketch").orderBy("ws").collect()
        .map(r => (r.getTimestamp(0), r.getString(1)))
      assert(rows.toSeq == Seq(
        (ts(10, 0), "3"), // u1 deduped across the two batches
        (ts(11, 0), "1")))
    } finally q.stop()
  }

  test("bounded HLL siblings: rollup estimate tracks the exact count") {
    // the documented escape hatch for unbounded-cardinality groups:
    // Spark's own hll_sketch_agg/hll_union_agg have the same
    // agg/merge/finalize shape with fixed-size state
    val n = 10000
    val wide = spark.range(n).selectExpr("id % 10 AS day", "cast(id as string) AS v")
    val est = wide.groupBy("day").agg(expr("hll_sketch_agg(v)").as("hs"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(hs))").as("est"))
      .as[Long].head()
    assert(math.abs(est - n) < n * 0.05, s"estimate $est vs exact $n")
  }

  // --- SketchWire properties through the aggregate callbacks (AggLaws) --

  private val genValue: Gen[String] = Gen.oneOf(
    Gen.const(""), Gen.const("\u0000"), Gen.const("dup"),
    Gen.alphaNumStr.map(_.take(6)).map(s => s"$s\u0000$s"),
    Gen.listOfN(2, Gen.choose(0x10000, 0x10FFFF)) // non-BMP: surrogate pairs, 4 UTF-8 bytes
      .map(_.map(cp => new String(Character.toChars(cp))).mkString),
    Gen.choose(100, 5000).map(n => "L" * n + n), // past the arena's first allocation
    Gen.asciiStr.map(_.take(6)))
  private val genValues: Gen[List[String]] =
    Gen.listOf(Gen.frequency(9 -> genValue, 1 -> Gen.const(null: String)))

  private val bound = BoundReference(0, StringType, nullable = true)
  private def row(s: String): InternalRow =
    InternalRow(if (s == null) null else UTF8String.fromString(s))
  private def sketchOf(xs: Seq[String]): Array[Byte] = {
    val agg = SketchAgg(bound)
    agg.eval(xs.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, row(v))))
      .asInstanceOf[Array[Byte]]
  }
  private def countOf(sketch: Array[Byte]): String =
    AggLaws.asString(SketchCount(Literal(sketch, BinaryType)).eval())

  test("property: sketches round-trip NUL, empty, non-BMP and long values") {
    val agg = SketchAgg(bound)
    for (xs <- AggLaws.samples(genValues, 150)) {
      val distinct = xs.filter(_ != null).distinct
      val sk = sketchOf(xs)
      assert(AggLaws.sketchValues(sk).sorted == distinct.sorted, s"input=$xs") // no repeat
      assert(countOf(sk) == AggLaws.expectedCount(distinct.size))
      val back = agg.eval(agg.deserialize(agg.serialize(agg.deserialize(sk)))).asInstanceOf[Array[Byte]]
      assert(AggLaws.sketchValues(back).sorted == distinct.sorted && countOf(back) == countOf(sk), s"input=$xs")
    }
  }

  test("property: sketch_agg -> sketch_merge -> sketch_count is invariant under 1/2/3/7 splits, either merge order") {
    val merge = SketchMergeAgg(BoundReference(0, BinaryType, nullable = true))
    val direct = HashSetCountDistinct(bound)
    for (xs <- AggLaws.samples(genValues, 120); k <- Seq(1, 2, 3, 7)) {
      val whole = AggLaws.asString(AggLaws.direct(direct, xs.map(row)))
      val distinct = xs.filter(_ != null).toSet
      val splits = AggLaws.split(xs, k)
      for (parts <- Seq(splits, splits.reverse)) {
        val sketches = parts.map(p => InternalRow(sketchOf(p)))
        // every sketch its own partial across the shuffle, and all in one partial
        for (merged <- Seq(AggLaws.twoPhase(merge, sketches.map(Seq(_))), AggLaws.direct(merge, sketches))) {
          val sk = merged.asInstanceOf[Array[Byte]]
          assert(countOf(sk) == whole, s"input=$xs k=$k")
          assert(AggLaws.sketchValues(sk).toSet == distinct && AggLaws.sketchValues(sk).size == distinct.size,
            s"input=$xs k=$k")
        }
      }
    }
  }
}
