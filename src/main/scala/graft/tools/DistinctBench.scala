package graft.tools

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** BASELINE.md's exact-set sizing harness: the SAME multi-distinct
  * aggregate (`q_multi_distinct`'s shape — lineitem's three key
  * columns by returnflag) timed three ways, so the count300k /
  * `approx_count_distinct` / sketch-column crossover is a measured
  * table, not advice. `runMain graft.tools.DistinctBench` with
  * `SPARK_GRAFT_SF_DIR`; prints one JSON line.
  *
  * Why this exists: exact distinct state grows with the DISTINCT
  * VALUE COUNT — 10× rows of near-unique keys is 10× state (the
  * reference's own "many millions, billions" regime), so the exact
  * aggregate's scaling at high cardinality is inherent, and a 100 TB
  * user must pick by error budget, not habit.
  */
object DistinctBench {
  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = graft.Sessions.local()
    spark.range(1000000).selectExpr("count(distinct id % 100)").collect()

    def li = graft.Engine.table(spark, sfDir, "lineitem")
    def agg(f: String => String): DataFrame =
      li.groupBy(col("l_returnflag")).agg(
        expr(f("l_partkey")).as("a"),
        expr(f("l_suppkey")).as("b"),
        expr(f("l_orderkey")).as("c"))

    val variants: Seq[(String, () => DataFrame)] = Seq(
      "count300k" -> (() => agg(c => s"count300k(cast($c as string))")),
      "approx_count_distinct" -> (() => agg(c => s"approx_count_distinct($c)")),
      "sketch_column" ->
        (() => agg(c => s"sketch_count(sketch_agg(cast($c as string)))")))
    // min of 3: the sizing table must not encode one starvation window
    val timed = variants.map { case (name, fn) =>
      val secs = (0 until 3).map { _ =>
        System.gc()
        val t0 = System.nanoTime()
        fn().write.format("noop").mode("overwrite").save()
        (System.nanoTime() - t0) / 1e9
      }.min
      val total = fn().selectExpr(
        "sum(cast(a as bigint) + cast(b as bigint) + cast(c as bigint)) s")
        .collect()(0).getLong(0)
      (name, secs, total)
    }
    val js = timed.map { case (n, s, t) =>
      s""""$n":{"secs":$s,"sum_distinct":$t}""" }.mkString(",")
    println(s"""{"sf":"$sfDir",$js}""")
    spark.stop()
  }
}
