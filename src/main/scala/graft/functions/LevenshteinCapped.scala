package graft.functions

import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.{CodegenContext, ExprCode}
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `levenshtein_capped(a, b, cap)`: exact edit distance when it is at
  * most `cap`, and `cap + 1` for every pair beyond it — the verify
  * primitive for blocked edit-distance dedup, where the built-in
  * `levenshtein(a, b) <= d` filter computes a FULL O(la·lb) dynamic
  * program per candidate only to discard almost all of them.
  *
  * Two classical cuts make the capped form output-identical on the
  * accepted pairs while bounding per-pair work:
  *
  *  1. common prefix/suffix TRIM (O(la+lb) scans): edit distance is
  *     invariant under stripping the longest shared prefix and then
  *     the longest shared suffix, and near-duplicates — the pairs a
  *     dedup join surfaces — share most of their text, so the DP that
  *     remains runs over the small differing middle (a pure suffix
  *     revision trims to an EMPTY side: distance answered with no DP
  *     at all);
  *  2. Ukkonen's BAND: a distance ≤ cap path never leaves the
  *     |i − j| ≤ cap diagonal band, so the DP fills O(cap·min(m,n))
  *     cells instead of O(m·n), values clamp at cap + 1, and the row
  *     whose entire band exceeds the cap exits early.
  *
  * With cap = 4 on ~1-2 KB documents that is ~9·L work instead of L²
  * — per-pair verify cost LINEAR in document length, which is what
  * keeps the whole operator near-linear when document length grows
  * with corpus scale. Distances are computed over Unicode code
  * points, matching both Spark's `levenshtein` and the DuckDB
  * oracle's. `cap` must be a foldable non-negative integer literal
  * (it is baked into the generated code).
  */
case class LevenshteinCapped(left: Expression, right: Expression, cap: Int)
    extends BinaryExpression {

  override def dataType: DataType = LongType

  override def checkInputDataTypes(): TypeCheckResult =
    if (cap < 0 || cap > LevenshteinCapped.MaxCap)
      TypeCheckResult.TypeCheckFailure(
        "levenshtein_capped requires an integer literal cap in " +
          s"[0, ${LevenshteinCapped.MaxCap}] (cap + 1 must not overflow " +
          "the banded DP's clamp; for an uncapped distance use levenshtein)")
    else (left.dataType, right.dataType) match {
      case (StringType, StringType) => TypeCheckResult.TypeCheckSuccess
      case (l, r) => TypeCheckResult.TypeCheckFailure(
        s"levenshtein_capped requires STRING arguments, got ${l.sql}, ${r.sql}")
    }

  override def nullSafeEval(a: Any, b: Any): Any =
    LevenshteinCapped.dist(
      a.asInstanceOf[UTF8String], b.asInstanceOf[UTF8String], cap)

  override protected def doGenCode(ctx: CodegenContext, ev: ExprCode): ExprCode =
    defineCodeGen(ctx, ev,
      (a, b) => s"graft.functions.LevenshteinCapped.dist($a, $b, $cap)")

  override def prettyName: String = "levenshtein_capped"

  override protected def withNewChildrenInternal(
      newLeft: Expression, newRight: Expression): LevenshteinCapped =
    copy(left = newLeft, right = newRight)
}

object LevenshteinCapped {

  /** Cap ceiling: far beyond any edit-distance threshold a dedup
    * verify uses, small enough that `cap + 1` and the banded DP's
    * `prev(j) + 1` arithmetic can never overflow Int (values clamp at
    * cap + 1, so the largest intermediate is cap + 2).
    */
  val MaxCap: Int = 1 << 20

  /** Builder for function registration (three arguments; the registry
    * checks the count): the cap must be a foldable WHOLE-number literal (it is baked into codegen; a fractional cap
    * is a caller bug, not something to truncate silently).
    */
  def fromExprs(exprs: Seq[Expression]): LevenshteinCapped = {
    require(exprs(2).foldable,
      "levenshtein_capped argument 3 (cap) must be a literal integer")
    val cap = exprs(2).eval() match {
      case n @ (_: java.lang.Integer | _: java.lang.Long |
                _: java.lang.Short | _: java.lang.Byte) =>
        val v = n.asInstanceOf[java.lang.Number].longValue()
        require(v >= 0 && v <= MaxCap,
          s"levenshtein_capped cap must be in [0, $MaxCap], got $v")
        v.toInt
      case other => throw new IllegalArgumentException(
        s"levenshtein_capped cap must be a whole-number literal, got $other")
    }
    LevenshteinCapped(exprs(0), exprs(1), cap)
  }

  /** Trim + banded DP; static and branch-simple so generated code can
    * call it directly. Returns the exact distance when ≤ `cap`, else
    * `cap + 1`.
    */
  def dist(a: UTF8String, b: UTF8String, cap: Int): Long = {
    // code points, to agree with levenshtein()'s unit cross-engine
    val s = a.toString.codePoints().toArray
    val t = b.toString.codePoints().toArray
    var lo = 0
    var ea = s.length
    var eb = t.length
    while (lo < ea && lo < eb && s(lo) == t(lo)) lo += 1
    while (ea > lo && eb > lo && s(ea - 1) == t(eb - 1)) { ea -= 1; eb -= 1 }
    val m = ea - lo
    val n = eb - lo
    val big = cap + 1
    if (m == 0) return math.min(n, big).toLong
    if (n == 0) return math.min(m, big).toLong
    if (math.abs(m - n) > cap) return big.toLong
    // Per-row work must stay O(band), not O(n): rows advance by
    // REFERENCE SWAP (never a full-row copy), and only the band plus
    // its two boundary cells are written each row. The boundary cells
    // are what make the swap sound — row i reads prev at [from-1, to],
    // exactly one cell past each end of row i-1's band, and those two
    // cells are pinned to `big` when row i-1 runs (stale row i-2
    // values beyond them are never read because the band shifts by at
    // most one per row). The one O(n) touch left is the row-0 init.
    var prev = new Array[Int](n + 1)
    var cur = new Array[Int](n + 1)
    java.util.Arrays.fill(prev, big)
    var j = 0
    while (j <= math.min(n, cap)) { prev(j) = j; j += 1 }
    var i = 1
    while (i <= m) {
      val from = math.max(1, i - cap)
      val to = math.min(n, i + cap)
      var best = big
      if (from == 1) { cur(0) = math.min(i, big); best = cur(0) }
      else cur(from - 1) = big // left boundary: outside the band is big
      val si = s(lo + i - 1)
      j = from
      while (j <= to) {
        var v = prev(j - 1) + (if (si == t(lo + j - 1)) 0 else 1)
        val del = prev(j) + 1
        val ins = cur(j - 1) + 1
        if (del < v) v = del
        if (ins < v) v = ins
        if (v > big) v = big
        cur(j) = v
        if (v < best) best = v
        j += 1
      }
      if (to < n) cur(to + 1) = big // right boundary for the next row
      if (best >= big) return big.toLong // the whole band exceeded cap
      val swap = prev; prev = cur; cur = swap
      i += 1
    }
    math.min(prev(n), big).toLong
  }
}
