package graft

/** Dev utility: time named queries (or all) with plans on demand.
  * `runMain graft.BenchOne [-explain] [-n N] q1 q2 ...`
  *
  * `-n N` is the variance harness: each query runs N times in ONE JVM
  * (GC-leveled, cache-cleared between runs, same treatment as Bench)
  * and the line reports min/median/max plus the max/min spread — the
  * driver bench has twice recorded q_minhash_lsh at 10-15x its median
  * (222.8s r2, 253.4s r4 vs 16-20s reproduced), so a single timing
  * proves nothing about a query's p99; the spread does.
  */
object BenchOne {
  def main(args: Array[String]): Unit = {
    val explain = args.contains("-explain")
    val nIdx = args.indexOf("-n")
    // tolerate a malformed/missing -n operand ("-n q_x" or "-n 0"):
    // fall back to a single run instead of crashing after session build
    val reps = math.max(1,
      if (nIdx >= 0 && nIdx + 1 < args.length)
        args(nIdx + 1).toIntOption.getOrElse(1)
      else 1)
    // the -n operand is excluded from query names only when it actually
    // parsed as a count — "-n q_tfidf" must still run q_tfidf
    val nValIdx =
      if (nIdx >= 0 && nIdx + 1 < args.length && args(nIdx + 1).toIntOption.isDefined)
        nIdx + 1
      else -1
    val names = args.zipWithIndex.collect {
      case (a, i) if !a.startsWith("-") && i != nValIdx => a
    }
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = Sessions.local()
    val picked =
      if (names.isEmpty) SparkEntry.queries else SparkEntry.queries.filter(kv => names.contains(kv._1))
    picked.toSeq.sortBy(_._1).foreach { case (name, fn) =>
      if (explain) { println(s"=== $name ==="); fn(spark, sfDir).explain("formatted") }
      val osBean = java.lang.management.ManagementFactory.getOperatingSystemMXBean
        .asInstanceOf[com.sun.management.OperatingSystemMXBean]
      val times = (1 to reps).map { r =>
        System.gc()
        val t0 = System.nanoTime()
        val c0 = osBean.getProcessCpuTime
        // noop sink forces full evaluation of every output column
        fn(spark, sfDir).write.format("noop").mode("overwrite").save()
        val secs = (System.nanoTime() - t0) / 1e9
        val cpuSecs = (osBean.getProcessCpuTime - c0) / 1e9
        spark.catalog.clearCache()
        // cpu vs wall discriminates our-code-slow (cpu scales with wall)
        // from host-starved (same cpu, stretched wall) — the recorded
        // driver-run pathology class
        if (reps > 1) println(f"  [run $r @${System.currentTimeMillis / 1000}] wall $secs%.2f s  cpu $cpuSecs%.1f s")
        secs
      }.sorted
      if (reps == 1) println(f"$name%-20s ${times.head}%8.2f s")
      else {
        val med = times(times.length / 2)
        val spread = times.last / times.head
        println(f"$name%-20s min ${times.head}%7.2f  med $med%7.2f  max ${times.last}%7.2f  max/min $spread%5.2f  (n=$reps: ${times.map(t => f"$t%.2f").mkString(" ")})")
      }
    }
    spark.stop()
  }
}
