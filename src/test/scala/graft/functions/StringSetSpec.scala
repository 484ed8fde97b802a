package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** The edges of [[StringSet]], the byte-arena string buffer: equal
  * hashes, adopted sketches that frame a value twice or must stay
  * unwritten, and growth of the arena and the index. Each case goes
  * through `count300k`'s callbacks and is read back off the wire.
  */
class StringSetSpec extends AnyFunSuite {

  private val agg = HashSetCountDistinct(BoundReference(0, StringType, nullable = true))

  private def row(s: String): InternalRow = InternalRow(UTF8String.fromString(s))

  private def buf(values: String*): StringSet =
    values.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, row(v)))

  private def values(b: StringSet): Seq[String] = AggLaws.sketchValues(agg.serialize(b))

  test("a sketch that frames one value twice counts it once") {
    for (framed <- Seq(Seq("a", "a"), Seq("a", "b", "a", "c"), Seq("x", "y", "y"))) {
      val distinct = framed.distinct
      assert(agg.deserialize(AggLaws.sketch(framed: _*)).size == distinct.size, framed)
      assert(values(agg.deserialize(AggLaws.sketch(framed: _*))).sorted == distinct.sorted, framed)
      // as the source of a merge, and as its target
      assert(agg.merge(buf("z"), agg.deserialize(AggLaws.sketch(framed: _*))).size == distinct.size + 1)
      assert(agg.merge(agg.deserialize(AggLaws.sketch(framed: _*)), buf()).size == distinct.size)
    }
  }

  test("distinct strings with equal Murmur3 hashes count as two") {
    val seen = new java.util.HashMap[Integer, String]
    var i = 0
    var pair: (String, String) = null
    while (pair == null) {
      val s = s"c$i"
      val prior = seen.put(UTF8String.fromString(s).hashCode, s)
      if (prior != null) pair = (prior, s)
      i += 1
    }
    val (a, b) = pair
    assert(UTF8String.fromString(a).hashCode == UTF8String.fromString(b).hashCode && a != b)
    assert(buf(a, b, a, b).size == 2)
    assert(agg.deserialize(AggLaws.sketch(a, b)).size == 2)
    assert(agg.merge(buf(a), buf(b)).size == 2)
    assert(values(agg.merge(buf(b, "other"), agg.deserialize(AggLaws.sketch(a, b)))).toSet ==
      Set(a, b, "other"))
  }

  test("an adopted wire array stays byte-identical when deserialized, merged into and updated") {
    for (framed <- Seq(Seq("a", "b", "c", "d"), Seq("a", "b", "a", "c"))) {
      val wire = AggLaws.sketch(framed: _*)
      val before = wire.clone()
      val set = agg.deserialize(wire)
      val merged = agg.merge(set, buf("c", "e"))
      assert(merged eq set) // the larger set is the merge target
      val updated = agg.update(agg.update(merged, row("f")), row("a"))
      assert(values(updated).toSet == (framed :+ "e" :+ "f").toSet)
      assert(values(agg.deserialize(wire)).sorted == framed.distinct.sorted)
      assert(wire.sameElements(before), framed)
    }
  }

  test("values past the arena's first allocation, and an index grown many times") {
    val big = Seq("x" * 100, "y" * 100000, "é" * 5000)
    assert(values(buf(big: _*)).toSet == big.toSet)
    val many = (0 until 200000).map(i => s"v$i")
    val set = buf(many: _*)
    assert(set.size == many.size)
    many.take(1000).foreach(v => agg.update(set, row(v)))
    assert(set.size == many.size)
    assert(values(set).sorted == many.sorted) // no repeat
    val both = agg.merge(buf(big: _*), agg.deserialize(agg.serialize(set)))
    assert(both.size == many.size + big.size)
  }
}
