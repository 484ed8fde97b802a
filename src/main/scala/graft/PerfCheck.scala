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
    // a cast integral key takes the integral buffer, a string key the string buffer
    val keys = Seq("integral" -> "cast(id % $m AS string)", "string" -> "concat('k', id % $m)")
    val ours = (k: String) => s"count300k($k)"
    val builtin = (k: String) => s"count(DISTINCT $k)"
    def query(agg: String => String, key: String, ms: Seq[Int]) =
      ms.map(m => agg(key.replace("$m", m.toString))).mkString("SELECT ", ", ", " FROM range(3000000)")
    val queries = keys.flatMap { case (kind, key) =>
      Seq(s"${kind}_single" -> Seq(300000), s"${kind}_multi3" -> Seq(1000, 2000, 3000)).map {
        case (name, ms) => name -> (query(ours, key, ms), query(builtin, key, ms))
      }
    }
    val reps = 5
    val fields = queries.flatMap { case (name, (q300k, qBuiltin)) =>
      Seq(q300k, qBuiltin).foreach(time) // warm JIT+codegen
      val t1 = median((1 to reps).map(_ => time(q300k)))
      val t2 = median((1 to reps).map(_ => time(qBuiltin)))
      Seq(f""""${name}_count300k_s":$t1%.3f""", f""""${name}_builtin_s":$t2%.3f""",
        f""""${name}_ratio":${t1 / t2}%.2f""")
    }
    println((fields :+ s""""reps":$reps""").mkString("{", ",", "}"))
    spark.stop()
  }
}
