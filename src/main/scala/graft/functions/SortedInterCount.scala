package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.types._

/** `sorted_inter_count(a, b)`: exact intersection size of two SORTED,
  * duplicate-free string arrays, as a native codegen'd merge walk.
  *
  * The declarative equivalent — `size(array_intersect(a, b))` — builds
  * a hash set and an output array PER ROW; on the MinHash verification
  * path that is millions of candidate rows each allocating set + array
  * for a result that is immediately reduced to one integer, and that
  * transient garbage made the verification stage the measured variance
  * center of the whole bench (2.7–17s run-to-run on identical input).
  * The merge walk allocates nothing: two cursors, byte-wise
  * `UTF8String.compareTo` — the same binary ordering `sort_array`
  * produces, which is what makes the single forward pass exact.
  *
  * Inputs MUST be sorted ascending and duplicate-free (the producer
  * here is `sort_array(array_distinct(...))`); this is a verification
  * primitive, not a general set function — `array_intersect` remains
  * the right call for unsorted data. Null arrays propagate NULL;
  * null ELEMENTS are rejected by the type check (sorted word sets
  * never contain them, and silently skipping them would miscount).
  */
case class SortedInterCount(left: Expression, right: Expression) extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    (left.dataType, right.dataType) match {
      case (ArrayType(StringType, false), ArrayType(StringType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "sorted_inter_count requires null-free array<string> arguments " +
            "(elements must be sorted and non-null)")
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_inter_count requires array<string> arguments, got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedInterCount.count(a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData])

  /** Generates a bare static call — the expression stays inside the
    * surrounding whole-stage-codegen span (no interpreted fallback on
    * the hot verification loop).
    */
  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedInterCount.count($a, $b)")

  override def prettyName: String = "sorted_inter_count"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedInterCount =
    copy(left = newLeft, right = newRight)
}

object SortedInterCount {
  /** Merge-count over two sorted duplicate-free arrays. Static and
    * JVM-boxing-free so generated code can call it directly.
    */
  def count(a: ArrayData, b: ArrayData): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    n
  }

  /** Threshold-gated merge-count: exact intersection size when the
    * pair's Jaccard reaches `tn/td`, else -1 via EARLY EXIT.
    *
    * `inter/(na+nb-inter) >= tn/td  <=>  inter >= ceil(tn*(na+nb)/(tn+td))`
    * — the required count `r`. The walk aborts the moment the upper
    * bound `n + min(remaining_a, remaining_b)` drops below `r`; the
    * very first check (n = 0) is exactly the length-ratio cut
    * `td*min(na,nb) >= tn*max(na,nb)`, so incompatible-length pairs
    * cost ZERO element compares. At tn/td = 9/10, r ≈ 0.95*min(na,nb)
    * for like-sized sets, so a dissimilar pair aborts after ~5% of
    * the smaller set instead of walking both arrays end to end —
    * the bound tightens by one on every non-matching step of the
    * smaller-remaining side.
    */
  def countAtLeast(a: ArrayData, b: ArrayData, tn: Int, td: Int): Long = {
    val na = a.numElements()
    val nb = b.numElements()
    val r = (tn.toLong * (na.toLong + nb) + tn + td - 1) / (tn + td)
    var i = 0
    var j = 0
    var n = 0L
    while (i < na && j < nb) {
      val ra = na - i
      val rb = nb - j
      if (n + (if (ra < rb) ra else rb) < r) return -1L
      val c = a.getUTF8String(i).compareTo(b.getUTF8String(j))
      if (c == 0) { n += 1; i += 1; j += 1 }
      else if (c < 0) i += 1
      else j += 1
    }
    if (n >= r) n else -1L
  }
}

/** `sorted_inter_atleast(a, b, tn, td)`: [[SortedInterCount]]'s merge
  * walk, gated on Jaccard >= tn/td with early exit — returns the exact
  * intersection size for pairs at or above the threshold and -1 for
  * pairs below it, usually after touching only a prefix of the arrays
  * (see [[SortedInterCount.countAtLeast]] for the bound math).
  *
  * This is the LSH verification primitive: at threshold 0.9 the
  * overwhelming majority of band collisions FAIL verification, and a
  * failing pair's full merge walk is almost entirely wasted work —
  * the early exit turns each reject from O(na+nb) compares into
  * O((1 - tn/(tn+td)) * min(na,nb)) ≈ 5% of the smaller array.
  * `tn`/`td` must be foldable positive integer literals (they shape
  * the generated code, not per-row data). Same input contract as
  * [[SortedInterCount]]: sorted ascending, duplicate-free, null-free.
  */
case class SortedInterAtLeast(left: Expression, right: Expression, tn: Int, td: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (tn <= 0 || td <= 0)
      TypeCheckResult.TypeCheckFailure(
        "sorted_inter_atleast requires positive integer literal thresholds")
    else (left.dataType, right.dataType) match {
      case (ArrayType(StringType, false), ArrayType(StringType, false)) =>
        TypeCheckResult.TypeCheckSuccess
      case (ArrayType(StringType, _), ArrayType(StringType, _)) =>
        TypeCheckResult.TypeCheckFailure(
          "sorted_inter_atleast requires null-free array<string> arguments " +
            "(elements must be sorted and non-null)")
      case (l, r) =>
        TypeCheckResult.TypeCheckFailure(
          s"sorted_inter_atleast requires array<string> arguments, got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    SortedInterCount.countAtLeast(
      a.asInstanceOf[ArrayData], b.asInstanceOf[ArrayData], tn, td)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.SortedInterCount.countAtLeast($a, $b, $tn, $td)")

  override def prettyName: String = "sorted_inter_atleast"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): SortedInterAtLeast =
    copy(left = newLeft, right = newRight)
}

object SortedInterAtLeast {
  /** Builder for function registration (four arguments; the registry
    * checks the count): the threshold arguments must be foldable integer
    * literals (they are baked into codegen).
    */
  def fromExprs(exprs: Seq[Expression]): SortedInterAtLeast = {
    def lit(e: Expression, pos: Int): Int = {
      require(e.foldable,
        s"sorted_inter_atleast argument $pos must be a literal integer")
      e.eval() match {
        case n: java.lang.Number => n.intValue()
        case other => throw new IllegalArgumentException(
          s"sorted_inter_atleast argument $pos must be an integer, got $other")
      }
    }
    SortedInterAtLeast(exprs(0), exprs(1), lit(exprs(2), 3), lit(exprs(3), 4))
  }
}
