package graft.functions

import graft.SparkSpec

/** Coarse perf sanity for the aggregate hot path: count300k at
  * reference-sweet-spot cardinality (300k distinct) must stay within a
  * small factor of the built-in exact countDistinct, for each of its
  * two buffers (an integral key and a string key) — the reference's
  * own stated trade ("not as efficiently as the built-in",
  * /root/reference/README.md:1). Wide margins: this guards order-of-
  * magnitude regressions, not noise.
  */
class AggPerfSpec extends SparkSpec {

  /** MIN of three timed runs — single-shot timings flap badly when
    * other suites share the session's scheduler, and under a
    * whole-box throttle even the median of three can read 10-40x
    * intrinsic (a full-suite run saw one side at 45 s that re-read
    * 2 s in isolation minutes later). The min is the standard
    * interference-robust estimator of intrinsic cost — the same
    * slow-side-only policy the bench's min-of-reruns uses. The
    * credible isolated number comes from `graft.PerfCheck`
    * (dedicated session); this spec only guards order-of-magnitude
    * regressions.
    */
  private def time3(body: => Unit): Double = {
    val ts = (1 to 3).map { _ =>
      val t0 = System.nanoTime()
      body
      (System.nanoTime() - t0) / 1e9
    }
    ts.min
  }

  /** count300k vs count(DISTINCT) over `key` at 300k distinct. */
  private def single(key: String): Unit = {
    val q = key.replace("$m", "300000")
    // warm both paths once
    spark.sql(s"SELECT count(DISTINCT $q) FROM range(100000)").collect()
    spark.sql(s"SELECT count300k($q) FROM range(100000)").collect()
    val builtin =
      spark.sql(s"SELECT count(DISTINCT $q) FROM range(3000000)").collect()(0).getLong(0)
    val ours =
      spark.sql(s"SELECT count300k($q) FROM range(3000000)").collect()(0).getString(0)
    assert(builtin == 300000L && ours == "300000")
    val tBuiltin = time3 {
      spark.sql(s"SELECT count(DISTINCT $q) FROM range(3000000)").collect()
    }
    val tOurs = time3 {
      spark.sql(s"SELECT count300k($q) FROM range(3000000)").collect()
    }
    info(f"count300k($q): $tOurs%.2fs vs countDistinct: $tBuiltin%.2fs (${tOurs / tBuiltin}%.1fx, min of 3)")
    // wide margin: parallel test suites add scheduler noise; this guards
    // order-of-magnitude regressions only (isolated ratio: see PerfCheck)
    assert(tOurs < tBuiltin * 20, f"count300k too slow: $tOurs%.2fs vs $tBuiltin%.2fs")
  }

  /** Three count300k vs three count(DISTINCT) over `key` at 1k/2k/3k distinct. */
  private def multi(key: String): Unit = {
    val keys = (1 to 3).map(i => key.replace("$m", s"${i * 1000}"))
    val cols300k = keys.map(k => s"count300k($k)").mkString(", ")
    val colsBuiltin = keys.map(k => s"count(DISTINCT $k)").mkString(", ")
    spark.sql(s"SELECT $cols300k FROM range(100000)").collect() // warm
    spark.sql(s"SELECT $colsBuiltin FROM range(100000)").collect()
    val tOurs = time3 {
      spark.sql(s"SELECT $cols300k FROM range(3000000)").collect()
    }
    val tBuiltin = time3 {
      spark.sql(s"SELECT $colsBuiltin FROM range(3000000)").collect()
    }
    info(f"3x count300k(${keys.head}): $tOurs%.2fs vs 3x countDistinct (Expand rewrite): $tBuiltin%.2fs (min of 3)")
    // one shared scan + one agg pass vs Spark's Expand-based rewrite;
    // ours must at least stay in the same ballpark
    assert(tOurs < tBuiltin * 10, f"$tOurs%.2fs vs $tBuiltin%.2fs")
  }

  // a cast integral argument goes to the integral buffer (LongSet)...
  private val integralKey = "cast(id % $m AS string)"
  // ...and any other string to the string buffer (StringSet)
  private val stringKey = "concat('k', id % $m)"

  test("count300k at 300k distinct stays within 20x of built-in countDistinct") {
    single(integralKey)
  }

  test("multi-distinct in one pass: 3 count300k vs 3 countDistinct (the reference's raison d'etre)") {
    multi(integralKey)
  }

  test("string key: count300k at 300k distinct stays within 20x of built-in countDistinct") {
    single(stringKey)
  }

  test("string key: 3 count300k vs 3 countDistinct in one pass stays within 10x") {
    multi(stringKey)
  }
}
