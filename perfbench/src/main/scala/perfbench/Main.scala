package perfbench

import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}

import org.apache.spark.sql.SparkSession

import graft.sources.{CatalogFs, LocalCatalogFs}

/** One benchmark run: a single process, `local[cpus]`, one client in a
  * closed loop (each op waits for the previous result). It sets up
  * [[Main.SetupRounds]] times (session, register, seeded inputs,
  * warm-up, store templates) and keeps the last session, then runs one
  * check pass whose outputs are verified, then timed passes for
  * `seconds`. With `--trace 1` it times the second half of the window
  * with the Spark listener and spans attached, and probes the
  * `functions` and `sources` layers directly.
  *
  * Usage: perfbench.Main --workload W --seed N --seconds S --trace 0|1
  *          --work DIR --out DIR [--cpus C]
  *        perfbench.Main --self-test --work DIR
  * Writes `<out>/result.json` (and `<out>/trace.json` when traced); the
  * script `run.py` adds the DuckDB oracle verdicts and the failure ratio.
  */
object Main {

  /** Set-up rounds per run; `setup_s` is their median. */
  val SetupRounds = 3

  final case class OpRun(op: String, build: Double, plan: Double, exec: Double,
      startMs: Long, endMs: Long, error: Option[String],
      catalog: Option[CatalogCommit.Result], cpuS: Double, stealS: Double) {
    def wall: Double = build + plan + exec
  }

  /** One set-up round's seconds; `total` runs from JVM start in the
    * first round and from the session build in the others.
    */
  final case class SetupRound(session: Double, register: Double, inputs: Double,
      warmup: Double, fixtures: Double, templates: Seq[(String, Double)], total: Double)

  private def secsSince(t0: Long): Double = (System.nanoTime() - t0) / 1e9

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]

  /** CPU seconds this process has used. */
  private def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** CPU seconds the hypervisor took from this machine's vCPUs (the
    * `steal` column of /proc/stat), or 0 where it is not reported.
    */
  private def stealS(): Double = scala.util.Try {
    val f = scala.io.Source.fromFile("/proc/stat")
    try f.getLines().next().trim.split("\\s+")(8).toDouble / 100 finally f.close()
  }.getOrElse(0.0)

  private def describe(e: Throwable): String =
    s"${e.getClass.getSimpleName}: ${Option(e.getMessage).getOrElse("").linesIterator.take(3).mkString(" ")}"

  def main(args: Array[String]): Unit = {
    val selfTest = args.contains("--self-test")
    val opts = args.filterNot(_ == "--self-test").grouped(2)
      .collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }.toMap
    val work = opts.getOrElse("work", sys.error("--work is required"))
    val cpus = opts.getOrElse("cpus", Runtime.getRuntime.availableProcessors.toString).toInt
    def session(): SparkSession = {
      val spark = SparkSession.builder()
        .master(s"local[$cpus]")
        .config("spark.sql.extensions", "graft.GraftExtensions")
        .config("spark.sql.shuffle.partitions", cpus.toString)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.ui.enabled", "false")
        .config("spark.local.dir", s"$work/spark-local")
        .config("spark.sql.warehouse.dir", s"$work/warehouse")
        .getOrCreate()
      spark.sparkContext.setLogLevel("ERROR")
      spark
    }
    val code =
      if (selfTest) {
        val spark = session()
        try SelfTest.run(spark, work) finally spark.stop()
      } else new Run(() => session(), opts("workload"), opts("seed").toLong, opts("seconds").toDouble,
        opts("trace") == "1", work, opts("out"), cpus).apply()
    sys.exit(code)
  }

  /** One run of one workload; see [[Main]]. */
  final class Run(newSession: () => SparkSession, workloadName: String, seed: Long, seconds: Double,
      traced: Boolean, work: String, out: String, cpus: Int) {
    private val trace = new Trace
    private val w = Workloads(workloadName, seed)
    private val verify = s"$work/verify"
    private val card = Gen.cardinalities(seed, Workloads.DistinctRows)
    private val entryNames = w.ops.collect { case EntryOp(n) => n }
    private val countInputs = w.ops.collect { case c: CountOp => c.name }.toSet
    // the session and inputs of the latest set-up round; the ops use the last
    private var spark: SparkSession = _
    private var inputs: String = _
    /** Failures of the run's checks that are not op executions (the
      * control op, the layer probes); an op's own failure is in its [[OpRun]].
      */
    private val checkErrors = scala.collection.mutable.ArrayBuffer.empty[String]

    private def fail(what: String): Unit = checkErrors += what

    private def timed[A](body: => A): (A, Double) = {
      val t0 = System.nanoTime(); val a = body; (a, secsSince(t0))
    }

    /** A new session (the previous one stopped), `Engine.register`, the
      * workload's seeded inputs written into a new directory, a warm-up
      * query and the store templates of the workload's queries.
      */
    private def setupRound(round: Int, jvmStartMs: Long): SetupRound = {
      if (spark != null) {
        spark.stop()
        SparkSession.clearActiveSession()
        SparkSession.clearDefaultSession()
        graft.Fs.deleteRecursively(inputs)
      }
      val t0 = System.nanoTime()
      spark = newSession()
      val sessionS = if (round == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else secsSince(t0)
      inputs = s"$work/inputs-$round"
      val (_, registerS) = timed(graft.Engine.register(spark))
      val (_, inputS) = timed(Gen.concurrently(
        Gen.distinctWrites(spark, inputs, seed, card, countInputs) ++ Gen.tableWrites(spark, inputs, seed, w.sf)))
      val (_, warmS) = timed(spark.range(1000000).selectExpr("count(distinct id % 100)").collect())
      val (templates, prewarmS) = timed(
        graft.operators.FixtureTemplates.prewarm(spark, inputs, Some(entryNames.toSet)))
      val total = if (round == 1) (System.currentTimeMillis() - jvmStartMs) / 1e3 else secsSince(t0)
      SetupRound(sessionS, registerS, inputS, warmS, prewarmS, templates, total)
    }

    /** Run one op; `check` writes gated-query results for the oracle. */
    private def runOp(op: Op, check: Boolean): OpRun = {
      // every op starts on a collected heap, so its time does not depend
      // on the garbage of the op the seeded order put before it
      System.gc()
      trace(s"op:${op.name}")(timeOp(op, check))
    }

    private def timeOp(op: Op, check: Boolean): OpRun = {
      val startMs = System.currentTimeMillis()
      val (cpu0, steal0) = (processCpuS(), stealS())
      var build, plan, exec = 0.0
      var catalog: Option[CatalogCommit.Result] = None
      val error: Option[String] =
        try op match {
          case EntryOp(name) =>
            val (df, b) = timed(trace("build")(graft.SparkEntry.queries(name)(spark, inputs)))
            val (_, p) = timed(trace("plan")(df.queryExecution.executedPlan))
            val (_, e) = timed(trace("exec") {
              if (check) df.write.mode("overwrite").parquet(s"$verify/$name")
              else df.write.format("noop").mode("overwrite").save()
            })
            build = b; plan = p; exec = e
            None
          case CountOp(name, cols, expected) =>
            val (df, b) = timed(trace("build")(spark.read.parquet(s"$inputs/$name")
              .selectExpr(cols.map(c => s"count300k($c)"): _*)))
            val (_, p) = timed(trace("plan")(df.queryExecution.executedPlan))
            val (rows, e) = timed(trace("exec")(df.collect()))
            build = b; plan = p; exec = e
            val got = rows.head.toSeq.map(v => String.valueOf(v))
            // the built-in count on the check pass (the control op already
            // counts distinct_highcard with it)
            val builtin =
              if (!check || name == "distinct_highcard") expected.map(_.toString)
              else spark.read.parquet(s"$inputs/$name")
                .selectExpr(cols.map(c => s"count(DISTINCT $c)"): _*).collect().head.toSeq.map(String.valueOf)
            if (got != expected.map(_.toString)) Some(s"count300k gave ${got.mkString(",")}, expected ${expected.mkString(",")}")
            else if (builtin != got) Some(s"count(DISTINCT) gave ${builtin.mkString(",")}, count300k ${got.mkString(",")}")
            else None
          case CatalogOp =>
            val fs: CatalogFs = if (trace.enabled) new CountingFs(LocalCatalogFs) else LocalCatalogFs
            val (r, e) = timed(trace("exec")(CatalogCommit.run(fs, s"$work/catalog", seed, trace)))
            exec = e
            catalog = Some(r)
            r.error
        } catch { case e: Throwable => Some(describe(e)) }
      spark.catalog.clearCache()
      OpRun(op.name, build, plan, exec, startMs, System.currentTimeMillis(), error, catalog,
        processCpuS() - cpu0, stealS() - steal0)
    }

    /** One pass. The check pass, where the JIT forms most of its
      * profile, runs the ops in declaration order, so every seed warms
      * the JVM alike; timed passes run them in the seed's order.
      */
    private def pass(i: Int, check: Boolean): Seq[OpRun] =
      trace(s"pass:$i")((if (check) w.declared else w.ops).map(runOp(_, check)))

    private def passS(p: Seq[OpRun]): Double = p.map(_.wall).sum

    /** Passes while another one fits in `budget` seconds of op time (at
      * least one). The heap collections between ops are left out, so
      * the pass count follows the ops' own times.
      */
    private def passes(budget: Double, first: Int): Seq[Seq[OpRun]] = {
      val done = scala.collection.mutable.ArrayBuffer.empty[Seq[OpRun]]
      while (done.isEmpty || done.map(passS).sum * (done.size + 1) / done.size <= budget)
        done += pass(first + done.size, check = false)
      done.toSeq
    }

    /** Per-op medians of the traced passes' layer counters. */
    private var tracedOps: Map[String, Map[String, Double]] = Map.empty

    def apply(): Int =
      try measure()
      finally if (spark != null) spark.stop()

    private def measure(): Int = {
      val jvmStartMs = ManagementFactory.getRuntimeMXBean.getStartTime
      Files.createDirectories(Paths.get(out))
      // --- set-up, several times; the last round's session and inputs stay
      val rounds = (1 to SetupRounds).map(setupRound(_, jvmStartMs))
      def roundMedian(f: SetupRound => Double) = Stats.median(rounds.map(f))
      val setupS = roundMedian(_.total)

      // --- window-health control: recorded, never acted on
      val (_, controlInputS) =
        if (countInputs("distinct_highcard")) ((), 0.0)
        else timed(Gen.concurrently(Gen.distinctWrites(spark, inputs, seed, card, Set("distinct_highcard"))))
      val probeBefore = graft.Probe.cpuProbeSecs()
      val (controlCount, controlS) = timed(spark.read.parquet(s"$inputs/distinct_highcard")
        .selectExpr("count(DISTINCT s)").collect().head.getLong(0))
      if (controlCount != card.highcard) fail(s"control: count(DISTINCT) gave $controlCount, expected ${card.highcard}")

      // --- check pass (also the warm-up of every op), then timed passes
      val checkPass = pass(0, check = true)
      Files.createDirectories(Paths.get(verify))
      Files.writeString(Paths.get(verify, "oracle_sql.json"),
        Stats.json(entryNames.map(n => n -> graft.SparkEntry.oracleSql(n)).toMap))
      val plain = passes(if (traced) seconds / 2 else seconds, 1)
      val listener = new SparkCounters
      val tracedPasses =
        if (!traced) Nil
        else {
          spark.sparkContext.addSparkListener(listener)
          trace.enable()
          trace("run")(trace(s"workload:${w.name}")(passes(seconds / 2, 1 + plain.size)))
        }
      val probeAfter = graft.Probe.cpuProbeSecs()

      // --- end-to-end figures (untraced passes only)
      val opMedian = w.ops.map(o => o.name -> Stats.median(plain.map(_.find(_.op == o.name).get.wall))).toMap
      val passes_ = plain.map(passS)
      val passMedian = Stats.median(passes_)
      val catalogRuns = plain.flatten.flatMap(_.catalog)
      val endToEnd: Map[String, (Double, String)] = Map(
        "setup_s" -> (setupS, "s"),
        "pass_s" -> (passMedian, "s"),
        "op_geomean_s" -> (Stats.geomean(opMedian.values.toSeq), "s")) ++
        (if (w.rowsFed > 0) Map("rows_per_s" -> (w.rowsFed / passMedian, "rows/s")) else Map.empty) ++
        (if (catalogRuns.isEmpty) Map.empty else {
          val commits = catalogRuns.flatMap(_.commitMs)
          Map("commit_p50_ms" -> (Stats.median(commits), "ms"),
            "commit_p99_ms" -> (Stats.quantile(commits, 0.99), "ms"),
            "resolve_p50_ms" -> (Stats.median(catalogRuns.flatMap(_.resolveMs)), "ms"))
        })

      // --- per-layer figures (traced run only)
      val layers: Map[String, Double] =
        if (!traced) Map.empty
        else layerMetrics(tracedPasses, listener, rounds, passMedian)
      if (traced) Files.writeString(Paths.get(out, "trace.json"), Stats.json(trace.rows))

      def opRecord(r: OpRun) = Map("op" -> r.op, "build_s" -> r.build, "plan_s" -> r.plan,
        "exec_s" -> r.exec, "cpu_s" -> r.cpuS, "steal_s" -> r.stealS, "error" -> r.error)
      def passRecord(p: Seq[OpRun]) = Map("pass_s" -> passS(p), "cpu_s" -> p.map(_.cpuS).sum,
        "steal_s" -> p.map(_.stealS).sum, "ops" -> p.map(opRecord))
      val report = Map(
        "workload" -> w.name, "seed" -> seed, "seconds" -> seconds, "traced" -> traced,
        "loop" -> s"closed loop, 1 client, local[$cpus]",
        "inputs" -> Map("sf" -> w.sf, "table_rows" -> Gen.tableRows(w.sf),
          "distinct_rows" -> card.rows, "highcard_distinct" -> card.highcard,
          "lowcard_distinct" -> card.lowcard),
        "op_order" -> w.ops.map(_.name),
        "setup" -> Map("setup_s" -> setupS,
          "session_s" -> roundMedian(_.session), "register_s" -> roundMedian(_.register),
          "input_write_s" -> roundMedian(_.inputs), "warmup_s" -> roundMedian(_.warmup),
          "fixture_build_s" -> roundMedian(_.fixtures),
          // every round's raw figures; the first is the cold one
          "rounds" -> rounds.map(r => Map("total_s" -> r.total, "session_s" -> r.session,
            "register_s" -> r.register, "input_write_s" -> r.inputs, "warmup_s" -> r.warmup,
            "fixture_build_s" -> r.fixtures, "templates" -> r.templates.toMap))),
        "check_pass" -> checkPass.map(r => Map("op" -> r.op, "wall_s" -> r.wall, "error" -> r.error)),
        // every pass's raw sample, never filtered or re-run
        "passes" -> plain.map(passRecord),
        "pass_s" -> Map("n" -> passes_.size, "median" -> passMedian, "max" -> passes_.max,
          "percentile_note" -> "p100 (max): fewer than ten passes, so no upper percentile has ten samples beyond it"),
        "op_median_s" -> opMedian,
        "window_health" -> Map("cpu_probe_before_s" -> probeBefore, "cpu_probe_after_s" -> probeAfter,
          "control_count_distinct_s" -> controlS, "control_input_write_s" -> controlInputS),
        "traced_passes" -> tracedPasses.map(passRecord),
        "traced_ops" -> tracedOps)
      // every op execution (pass 0 is the check pass); run.py counts the
      // failures among them and adds the oracle's verdicts
      val opRuns = (checkPass +: (plain ++ tracedPasses)).zipWithIndex.flatMap { case (p, i) =>
        p.map(r => Map("pass" -> i, "op" -> r.op, "error" -> r.error))
      }
      Files.writeString(Paths.get(out, "result.json"), Stats.json(Map(
        "metrics" -> (if (traced) layers else endToEnd.map { case (k, (v, _)) => k -> v }),
        "end_to_end" -> endToEnd.map { case (k, (v, u)) => k -> Map("value" -> v, "unit" -> u) },
        "op_runs" -> opRuns,
        "check_errors" -> checkErrors.toSeq,
        "oracle" -> Map("inputs" -> inputs, "verify" -> verify, "queries" -> entryNames),
        "report" -> report)))
      0
    }

    /** Per-layer metrics: medians over traced passes of each pass's
      * counters and over set-up rounds of the `engine` figures, plus the
      * direct `functions` and `sources` probes.
      */
    private def layerMetrics(tracedPasses: Seq[Seq[OpRun]], listener: SparkCounters,
        rounds: Seq[SetupRound], plainPassS: Double): Map[String, Double] = {
      org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
      val opWindows = tracedPasses.map(_.map(r => r -> listener.window(r.startMs, r.endMs)))
      tracedOps = w.ops.map { o =>
        val runs = opWindows.flatten.filter(_._1.op == o.name)
        o.name -> (runs.head._2.keys.map(k => k -> Stats.median(runs.map(_._2(k)))).toMap ++ Map(
          "operators.build_s" -> Stats.median(runs.map(_._1.build)),
          "operators.plan_s" -> Stats.median(runs.map(_._1.plan)),
          "operators.exec_s" -> Stats.median(runs.map(_._1.exec))))
      }.toMap
      val perPass = opWindows.map { windows =>
        val p = windows.map(_._1)
        val sums = windows.flatMap(_._2).groupMapReduce(_._1)(_._2)(_ + _)
        val wall = passS(p)
        sums - "spark.job_s" ++ Map(
          "spark.cpu_wall_ratio" -> sums("spark.task_cpu_s") / wall,
          "spark.driver_only_s" -> windows.map { case (r, m) => math.max(0.0, r.wall - m("spark.job_s")) }.sum,
          "operators.build_s" -> p.map(_.build).sum,
          "operators.plan_s" -> p.map(_.plan).sum,
          "operators.exec_s" -> p.map(_.exec).sum,
          "pass_s" -> wall)
      }
      val spark_ = perPass.head.keys.map(k => k -> Stats.median(perPass.map(_(k)))).toMap
      val functions = trace("layer:functions")(Functions.probe(spark, seed, card, cpus, trace)) match {
        case Right(m) => m
        case Left(err) => fail(s"functions probe: $err"); Map.empty[String, Double]
      }
      val sources = trace("layer:sources")(sourcesProbe(tracedPasses.flatten.flatMap(_.catalog)))
      (spark_ - "pass_s") ++ functions ++ sources ++ Map(
        "engine.session_s" -> Stats.median(rounds.map(_.session)),
        "engine.register_s" -> Stats.median(rounds.map(_.register)),
        "engine.fixture_build_s" -> Stats.median(rounds.map(_.fixtures)),
        "tracing.overhead_s" -> (spark_("pass_s") - plainPassS))
    }

    /** `catalog_commit` over a counting filesystem. Its counts must equal
      * those of every traced `catalog_commit` op of the run (the
      * self-test checks them across runs and seeds).
      */
    private def sourcesProbe(opRuns: Seq[CatalogCommit.Result]): Map[String, Double] = {
      val r = CatalogCommit.run(new CountingFs(LocalCatalogFs), s"$work/catalog", seed, trace)
      r.error.foreach(e => fail(s"sources probe: $e"))
      val calls = r.commitCalls
      opRuns.map(_.commitCalls).filter(_ != calls).foreach(c =>
        fail(s"sources probe: counts $calls differ from a catalog_commit op's $c"))
      val n = CatalogCommit.Commits.toDouble
      Seq("list", "read", "exists", "publish", "delete", "mkdirs")
        .map(k => s"sources.fs_calls_per_commit.$k" -> calls(k) / n).toMap ++ Map(
        "sources.manifest_bytes_per_commit" -> calls("manifest_bytes") / n,
        "sources.checkpoint_writes" -> calls("checkpoint_writes").toDouble,
        "sources.vacuum_ms" -> r.vacuumMs,
        "sources.commit_p50_ms" -> Stats.median(r.commitMs),
        "sources.commit_p99_ms" -> Stats.quantile(r.commitMs, 0.99),
        "sources.resolve_p50_ms" -> Stats.median(r.resolveMs))
    }
  }
}
