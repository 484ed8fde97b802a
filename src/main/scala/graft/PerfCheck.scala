package graft

/** Isolated hot-path measurement: count300k vs the built-in exact
  * countDistinct, in a dedicated session with nothing else running —
  * the number SURVEY §8 cites. (AggPerfSpec runs the same comparison
  * inside the parallel test suite, where scheduler noise once inflated
  * the ratio ~20x; this main exists so the recorded claim reproduces.)
  *
  * Run: `sbt "runMain graft.PerfCheck"`; prints one JSON line.
  */
object PerfCheck {

  private def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    s(s.length / 2)
  }

  def main(args: Array[String]): Unit = {
    val spark = Sessions.local()

    def time(sql: String): Double = {
      val t0 = System.nanoTime()
      spark.sql(sql).collect()
      (System.nanoTime() - t0) / 1e9
    }
    val q = "cast(id % 300000 AS string)"
    val single300k = s"SELECT count300k($q) FROM range(3000000)"
    val singleBuiltin = s"SELECT count(DISTINCT $q) FROM range(3000000)"
    val multi300k = (1 to 3)
      .map(i => s"count300k(cast(id % ${i * 1000} AS string))")
      .mkString("SELECT ", ", ", " FROM range(3000000)")
    val multiBuiltin = (1 to 3)
      .map(i => s"count(DISTINCT cast(id % ${i * 1000} AS string))")
      .mkString("SELECT ", ", ", " FROM range(3000000)")

    Seq(single300k, singleBuiltin, multi300k, multiBuiltin).foreach(time) // warm JIT+codegen
    val reps = 5
    val t1 = median((1 to reps).map(_ => time(single300k)))
    val t2 = median((1 to reps).map(_ => time(singleBuiltin)))
    val t3 = median((1 to reps).map(_ => time(multi300k)))
    val t4 = median((1 to reps).map(_ => time(multiBuiltin)))
    println(
      f"""{"count300k_s":$t1%.3f,"countDistinct_s":$t2%.3f,"ratio_single":${t1 / t2}%.2f,""" +
      f""""multi3_count300k_s":$t3%.3f,"multi3_builtin_s":$t4%.3f,"ratio_multi":${t3 / t4}%.2f,"reps":$reps}""")
    spark.stop()
  }
}
