package graft.functions

import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.expressions.BoundReference
import org.apache.spark.sql.types.StringType
import org.apache.spark.unsafe.types.UTF8String
import org.scalatest.funsuite.AnyFunSuite

/** count300k's exact count-distinct semantics (SURVEY.md §5.2), one case
  * per test: the reference's two test vectors verbatim
  * (`/root/reference/hashset-count-test.cc:33-50`) and the paths the
  * reference left dark (NUL bytes, merge edges), driven through the
  * string buffer's callbacks. [[HashSetCountDistinctSpec]] holds the
  * properties, the wire format and the SQL surface.
  */
class ExactCountDistinctSpec extends AnyFunSuite {

  private val agg = HashSetCountDistinct(BoundReference(0, StringType, nullable = true))

  private def row(s: String): InternalRow =
    InternalRow(if (s == null) null else UTF8String.fromString(s))

  private def buf(values: String*): StringSet =
    values.foldLeft(agg.createAggregationBuffer())((b, v) => agg.update(b, row(v)))

  private def finish(b: StringSet): String =
    AggLaws.asString(agg.eval(b))

  private def run(values: Seq[String]): String = finish(buf(values: _*))

  // --- reference test vectors, verbatim -------------------------------

  test("empty input yields NULL, not \"0\" (hashset-count-test.cc:33-37)") {
    assert(run(Nil) == null)
  }

  test("reference basic vector yields \"5\" (hashset-count-test.cc:39-50)") {
    assert(run(Seq("Hello", "", "World", "Hello", "costarring", "liquid")) == "5")
  }

  // --- semantics the reference documents ------------------------------

  test("NULL inputs are skipped (hashset-count.cc:106)") {
    assert(run(Seq(null, "a", null, "b", "a", null)) == "2")
  }

  test("all-NULL input yields NULL (hashset-count.cc:507-510)") {
    assert(run(Seq(null, null, null)) == null)
  }

  test("empty string is a real value") {
    assert(run(Seq("", "", "")) == "1")
  }

  // --- paths the reference left untested (SURVEY.md §5.1) -------------

  test("values containing NUL bytes are counted correctly (fixes README.md:9)") {
    assert(run(Seq("a\u0000b", "a", "b", "a\u0000b", "\u0000", "")) == "5")
  }

  test("merge into never-updated buffer (hashset-count.cc:444-456)") {
    assert(finish(agg.merge(buf(), buf("x", "y"))) == "2")
    assert(finish(agg.merge(buf("x", "y"), buf())) == "2")
    // an empty partial read off the wire merges as the empty set too
    val wired = agg.deserialize(agg.serialize(buf()))
    assert(finish(agg.merge(wired, buf("x", "y"))) == "2")
  }

  test("merge of overlapping sets dedups (hashset-count.cc:360-421)") {
    assert(finish(agg.merge(buf("a", "b", "c"), buf("b", "c", "d"))) == "4")
  }

  test("merge of two empty buffers stays NULL") {
    assert(finish(agg.merge(buf(), buf())) == null)
    assert(finish(agg.merge(buf(), agg.deserialize(agg.serialize(buf())))) == null)
  }
}
