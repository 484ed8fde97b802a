package graft

/** Single-thread CPU probe: the mechanical throttle detector.
  *
  * This VM shows intermittent multi-minute whole-machine slowdown
  * windows (BASELINE.md "Variance"): identical code/input measured at
  * 1.3-25x, process CPU-seconds flat — external starvation. Every
  * breach post-mortem so far leaned on an ad-hoc probe quoted in
  * BASELINE.md prose; this object makes the probe part of the bench
  * artifact itself so adjudication is mechanical (round-15 verdict
  * "What's wrong #2").
  *
  * Method: one untimed 40M-iteration JIT warm-up, then a timed
  * 400M-iteration serial FNV-style multiply-xor loop (the historic
  * ad-hoc probe's 10M iterations JIT down to ~13 ms here — too short
  * to separate throttle from scheduler noise; 400M lands a healthy
  * reading near 0.5 s, the same magnitude the prose band used, while
  * keeping three readings under 2 s of harness cost). Pure ALU work,
  * one thread, no allocation, no syscalls — wall time scales 1:1 with
  * how much CPU the host actually grants a runnable thread. The
  * healthy band for THIS loop on THIS box is recorded once in
  * BASELINE.md ("CPU probe healthy band"); readings well above it mean
  * the surrounding measurements ran in a throttled window and measure
  * the host, not the plans.
  */
object Probe {
  /** Sink defeating dead-code elimination of the probe loop. */
  @volatile private var blackhole: Long = 0L

  private def spin(iters: Long): Long = {
    var h = 1469598103934665603L // FNV-1a offset basis (public constant)
    var i = 0L
    while (i < iters) {
      h ^= i
      h *= 1099511628211L
      i += 1
    }
    h
  }

  /** One probe reading: seconds for the timed 400M-iteration loop. */
  def cpuProbeSecs(): Double = {
    blackhole = spin(40000000L) // untimed JIT warm-up
    val t0 = System.nanoTime()
    blackhole = spin(400000000L)
    (System.nanoTime() - t0) / 1e9
  }

  /** Parallel probe: 16 threads each run the same timed spin loop;
    * reports WALL seconds for all to finish. The single-thread probe
    * has a measured blind spot: a host window can cap PARALLEL
    * capacity while still granting one runnable thread its full core
    * (round 16: single-thread readings 0.49–0.56 s — healthy — while
    * the 32-thread suite ran 1.5–4× its warm floors and a
    * no-clone control query sat at 4.4× its healthy time). Healthy
    * here = close to the single-thread reading (cores are free);
    * a multiple of it = the window caps aggregate CPU and every
    * parallel measurement around it is inflated.
    */
  def cpuProbeParSecs(): Double = {
    val n = 16
    blackhole = spin(40000000L) // shared JIT warm-up
    val t0 = System.nanoTime()
    val threads = (0 until n).map { _ =>
      new Thread(() => { blackhole = spin(400000000L) })
    }
    threads.foreach(_.start())
    threads.foreach(_.join())
    (System.nanoTime() - t0) / 1e9
  }

  /** The fixed Spark probe JOB (shared with [[Bench]]'s bracketing and
    * mid-run samples): codegen + 32-way partial aggregation + one
    * exchange over 100M generated rows, no disk. Round 16 measured a
    * throttle class where BOTH CPU probes sit in their healthy bands
    * while every Spark query runs 1.4-2.7x its floor; this job runs
    * through the same machinery the measured queries do and catches
    * it. Callers must run it once untimed first (its own one-time
    * codegen otherwise rides the first reading).
    */
  def sparkProbeSecs(spark: org.apache.spark.sql.SparkSession): Double = {
    val t0 = System.nanoTime()
    spark.range(100000000L).selectExpr("count(distinct id % 1000)").collect()
    (System.nanoTime() - t0) / 1e9
  }

  /** Standalone window check: three single-thread readings, then one
    * parallel reading (`par=`). With `--spark`, also builds the
    * engine's local session ([[Sessions]]) and prints three readings
    * of the SAME fixed Spark job the bench brackets with (`spark=`) — the pre-flight view of
    * the third throttle class, which the pure-CPU readings provably
    * miss (round-17 run 2: par probe 0.55 minutes before launch, yet
    * the run's own spark probes read 1.25/1.12 and the artifact
    * flagged itself dirty).
    */
  def main(args: Array[String]): Unit = {
    println((1 to 3).map(_ => f"${cpuProbeSecs()}%.4f").mkString(",") +
      f",par=${cpuProbeParSecs()}%.4f")
    if (args.contains("--spark")) {
      val spark = Sessions.local()
      sparkProbeSecs(spark) // untimed codegen warm-up
      println((1 to 3).map(_ => f"${sparkProbeSecs(spark)}%.4f")
        .mkString("spark=", ",", ""))
      spark.stop()
    }
  }
}
