package graft.functions

import org.apache.spark.sql.{DataFrame, Row}
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.{BoundReference, Cast}
import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String
import org.scalacheck.Gen

import graft.SparkSpec

/** `count300k` over BYTE/SHORT/INT/BIGINT counts longs in
  * [[IntegralCountDistinct]]; every answer must equal the string
  * buffer's over `CAST(x AS STRING)` and built-in `count(DISTINCT x)`,
  * and every other argument type must keep the string buffer.
  */
class IntegralCountDistinctSpec extends SparkSpec {

  /** The string buffer under its own name, for side-by-side answers. */
  private lazy val viaStrings: Unit =
    spark.sessionState.functionRegistry.createOrReplaceTempFunction("count300k_strings",
      exprs => HashSetCountDistinct(Cast(exprs.head, StringType)), "scala_udf")

  private val integral: Seq[(DataType, Long, Long)] = Seq(
    (ByteType, Byte.MinValue, Byte.MaxValue),
    (ShortType, Short.MinValue, Short.MaxValue),
    (IntegerType, Int.MinValue, Int.MaxValue),
    (LongType, Long.MinValue, Long.MaxValue))

  /** Groups 0-3 mix NULLs, negatives, zero and the type's extremes;
    * group 4 is all NULL.
    */
  private def input(t: DataType, min: Long, max: Long): DataFrame = {
    import spark.implicits._
    val rows = (0 until 2000).map { i =>
      val g = i % 5
      val v: Option[Long] =
        if (g == 4 || i % 7 == 0) None
        else if (i % 97 == 1) Some(min)
        else if (i % 89 == 2) Some(max)
        else Some((i * 37L) % 251 - 125)
      (g, v)
    }
    rows.toDF("g", "v").select(col("g"), col("v").cast(t).as("x"))
  }

  private def counts(df: DataFrame): Seq[Row] =
    df.groupBy("g")
      .agg(expr("count300k(x)").as("fast"), expr("count300k_strings(x)").as("strings"),
        expr("count(DISTINCT x)").as("builtin"))
      .orderBy("g").collect().toSeq

  private def check(rows: Seq[Row], what: String): Unit = {
    assert(rows.length == 5, what)
    rows.foreach { r =>
      val builtin = r.getLong(3)
      val expected = if (builtin == 0) null else builtin.toString
      assert(r.getString(1) == expected && r.getString(2) == expected, s"$what: $r")
    }
    assert(rows(4).isNullAt(1), s"$what: all-NULL group must be NULL")
  }

  /** Aggregate function classes in `df`'s optimized plan. */
  private def aggClasses(df: DataFrame): Seq[Class[_]] =
    df.queryExecution.optimizedPlan.flatMap(_.expressions.flatMap(_.collect {
      case a: AggregateExpression => a.aggregateFunction.getClass
    }))

  test("integral count300k equals the string buffer and count(DISTINCT) over 1/4/13 partitions") {
    viaStrings
    for ((t, min, max) <- integral; parts <- Seq(1, 4, 13)) {
      val df = input(t, min, max).repartition(parts)
      assert(aggClasses(df.agg(expr("count300k(x)"))) == Seq(classOf[IntegralCountDistinct]))
      check(counts(df), s"${t.sql} x $parts partitions")
    }
  }

  test("integral count300k survives the sort-based fallback") {
    viaStrings
    val key = "spark.sql.objectHashAggregate.sortBased.fallbackThreshold"
    val saved = spark.conf.getOption(key)
    try {
      spark.conf.set(key, "2")
      for ((t, min, max) <- integral) check(counts(input(t, min, max).repartition(4)), s"${t.sql} fallback")
    } finally saved match {
      case Some(v) => spark.conf.set(key, v)
      case None => spark.conf.unset(key)
    }
  }

  test("the buffer is picked from the argument type; output name and type are unchanged") {
    viaStrings
    val df = spark.range(20).select(col("id"), (col("id") % 7).cast("int").as("i"),
      concat(lit("k"), col("id")).as("s"), col("id").cast("decimal(10,2)").as("d"),
      col("id").cast("double").as("f"), timestamp_seconds(col("id")).as("ts"),
      date_from_unix_date(col("id").cast("int")).as("dt"))
    def planned(arg: String) = aggClasses(df.selectExpr(s"count300k($arg)"))
    for (arg <- Seq("id", "i", "cast(id AS string)", "cast(i AS string)"))
      assert(planned(arg) == Seq(classOf[IntegralCountDistinct]), arg)
    for (arg <- Seq("s", "d", "f", "ts", "dt", "cast(d AS string)"))
      assert(planned(arg) == Seq(classOf[HashSetCountDistinct]), arg)
    for (arg <- Seq("id", "cast(id AS string)", "i")) {
      val fast = df.selectExpr(s"count300k($arg)")
      val strings = df.selectExpr(s"count300k_strings($arg)")
      assert(fast.columns.toSeq == strings.columns.map(_.replace("count300k_strings", "count300k")).toSeq)
      assert(fast.schema.head.dataType == StringType)
      assert(fast.collect().toSeq == strings.collect().toSeq, arg)
    }
    assert(df.selectExpr("count300k(cast(id AS string))").columns.head == "count300k(CAST(id AS STRING))")
  }

  test("wire format is the string buffer's: decimal renderings in SketchWire frames") {
    val rnd = new scala.util.Random(7)
    val values = (Seq(0L, -0L, 1L, -1L, 9L, 10L, -10L, Long.MinValue, Long.MaxValue,
      Int.MinValue.toLong, 999999999999999999L, 1000000000000000000L) ++
      Seq.fill(500)(rnd.nextLong()) ++ Seq.fill(500)(rnd.nextInt(2000).toLong - 1000)).distinct
    val fast = IntegralCountDistinct(BoundReference(0, LongType, nullable = true))
    val strings = HashSetCountDistinct(BoundReference(0, StringType, nullable = true))
    val buf = values.foldLeft(fast.createAggregationBuffer()) { (b, v) =>
      fast.update(b, org.apache.spark.sql.catalyst.InternalRow(v))
    }
    val wire = fast.serialize(buf)
    assert(SketchWire.count(wire) == values.size)
    // the string buffer reads the integral wire as the renderings...
    val read = AggLaws.sketchValues(strings.serialize(strings.deserialize(wire)))
    assert(read.toSet == values.map(_.toString).toSet && read.size == values.size)
    // ...and the integral buffer reads the string buffer's wire back
    val sbuf = values.foldLeft(strings.createAggregationBuffer()) { (b, v) =>
      strings.update(b, org.apache.spark.sql.catalyst.InternalRow(UTF8String.fromString(v.toString)))
    }
    val back = scala.collection.mutable.Set[Long]()
    fast.deserialize(strings.serialize(sbuf)).foreach(back += _)
    assert(back == values.toSet)
    assert(fast.eval(fast.deserialize(fast.serialize(fast.createAggregationBuffer()))) == null)
    // merge is a union, in either direction
    val (a, b) = values.splitAt(values.size / 3)
    def bufOf(vs: Seq[Long]) = fast.deserialize(fast.serialize(
      vs.foldLeft(fast.createAggregationBuffer())((x, v) => { x.add(v); x })))
    assert(fast.merge(bufOf(a), bufOf(values)).size == values.size)
    assert(fast.merge(bufOf(b), bufOf(a)).size == values.size)
  }

  // --- the algebra through the real callbacks (AggLaws) ---------------

  /** Longs with NULLs, zero (LongSet keeps 0 as a flag, not a slot), the
    * extremes, and small values that repeat.
    */
  private val genLongs: Gen[List[Option[Long]]] = Gen.listOf(Gen.oneOf(
    Gen.const(None), Gen.const(Some(0L)), Gen.const(Some(Long.MinValue)),
    Gen.const(Some(Long.MaxValue)), Gen.choose(-3L, 3L).map(Some(_)),
    Gen.choose(Long.MinValue, Long.MaxValue).map(Some(_))))

  private def longAgg = IntegralCountDistinct(BoundReference(0, LongType, nullable = true))
  private def longRow(v: Option[Long]): InternalRow = InternalRow(v.map(Long.box).orNull)

  test("property: count equals exact distinct of non-null inputs") {
    for (xs <- AggLaws.samples(genLongs, 200)) {
      val expected = AggLaws.expectedCount(xs.flatten.distinct.size)
      assert(AggLaws.asString(AggLaws.twoPhase(longAgg, Seq(xs.map(longRow)))) == expected, s"input=$xs")
    }
  }

  test("property: partition-invariance — any split merges to the same result") {
    for (xs <- AggLaws.samples(genLongs, 200); k <- Seq(1, 2, 3, 7)) {
      val whole = AggLaws.direct(longAgg, xs.map(longRow))
      val parts = AggLaws.split(xs.map(longRow), k)
      assert(AggLaws.twoPhase(longAgg, parts) == whole, s"input=$xs k=$k")
      assert(AggLaws.twoPhase(longAgg, parts.reverse) == whole, s"input=$xs k=$k (reversed)")
    }
  }

  test("reading or merging a large set stays linear (hash-order inserts do not cluster)") {
    // LongSet iterates in hash order; re-inserting in that order into a
    // smaller table piles every value into one probe run (quadratic)
    val fast = IntegralCountDistinct(BoundReference(0, LongType, nullable = true))
    def minOf3(body: => Unit): Double = (1 to 3).map { _ =>
      val t0 = System.nanoTime(); body; (System.nanoTime() - t0) / 1e9
    }.min
    def build(): LongSet = {
      val rnd = new scala.util.Random(11)
      val s = new LongSet
      (1 to 400000).foreach(_ => s.add(rnd.nextLong()))
      s
    }
    val big = build()
    val wire = fast.serialize(big)
    val tBuild = minOf3(build())
    val tRead = minOf3(assert(fast.deserialize(wire).size == big.size))
    val tMerge = minOf3(assert(new LongSet().addAll(big).size == big.size))
    info(f"400k values: build $tBuild%.3fs, deserialize $tRead%.3fs, addAll $tMerge%.3fs")
    assert(tRead < 10 * tBuild + 0.5 && tMerge < 10 * tBuild + 0.5)
  }

  test("integral wire values must be canonical BIGINT renderings") {
    val fast = IntegralCountDistinct(BoundReference(0, LongType, nullable = true))
    def wire(vs: String*): Array[Byte] = AggLaws.sketch(vs: _*)
    assert(fast.deserialize(wire("-9223372036854775808", "9223372036854775807", "0", "-5")).size == 4)
    for (bad <- Seq("", "-", "007", "-0", "+5", "1e3", "9223372036854775808", "-9223372036854775809", "a"))
      assert(intercept[IllegalArgumentException](fast.deserialize(wire(bad)))
        .getMessage.startsWith("not a graft sketch: "), bad)
  }
}
