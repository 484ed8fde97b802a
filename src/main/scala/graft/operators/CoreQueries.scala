package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine

/** Core aggregation queries — the reference's own use case.
  *
  * The flagship mirrors the reference UDA's motivating query: several exact
  * distinct counts in one aggregation pass (`/root/reference/README.md:1`),
  * grouped, over a fact table. One shuffle total: partial hash-set
  * aggregation happens map-side, only the deduplicated sets cross the
  * exchange (SURVEY.md §3).
  */
object CoreQueries {

  /** Flagship: multiple count300k instances in one query block. */
  def qMultiDistinct(spark: SparkSession, dir: String): DataFrame = {
    Engine.register(spark)
    val li = Engine.table(spark, dir, "lineitem")
    li.groupBy(col("l_returnflag"))
      .agg(
        expr("count300k(cast(l_partkey as string))").as("distinct_parts"),
        expr("count300k(cast(l_suppkey as string))").as("distinct_supps"),
        expr("count300k(cast(l_orderkey as string))").as("distinct_orders"))
      .orderBy("l_returnflag")
  }

  /** Batch run of the streaming aggregation shape (tumbling 1h window +
    * count300k) — same code path `graft.streaming.StreamingDistinct`
    * runs incrementally; here it is oracle-checkable.
    */
  def qEventsHourly(spark: SparkSession, dir: String): DataFrame = {
    Engine.register(spark)
    graft.streaming.StreamingDistinct
      .hourlyDistinctUsers(Engine.table(spark, dir, "events"))
      .orderBy("window_start", "event_type")
  }

  /** The SAME aggregation executed as an actual Structured Streaming
    * query: file source over the events fixture → watermarked windowed
    * count300k → APPEND-mode parquet sink → distributed read-back. The
    * result a true incremental execution produces is oracle-compared
    * against the identical batch SQL — streaming correctness in the
    * hard signal, not just in specs.
    *
    * Append mode only emits a window once the watermark passes its
    * end, so (like `q_stream_sessionize`'s timeout flush) one
    * far-future sentinel file follows the fixture through the source
    * (`maxFilesPerTrigger=1`): the fixture batch ends with the
    * watermark at the fixture's tail, the sentinel batch jumps it,
    * and the engine's no-data micro-batch runs the state flush —
    * every REAL window is below the watermark and emits; the
    * sentinel's own far-future window stays in state and is cut by
    * the window_start filter on the sink side of the aggregation.
    * Sentinel rows carry user_id -1 and never share a window with
    * fixture events, so no real group is touched.
    *
    * Scale contract: output rides the file sink (capacity-bound, not
    * driver-bound) and the read-back is lazy over the sink files —
    * the memory-sink + driver-collect form this replaced (round-6
    * verdict #1) held every group on the driver and grew linearly
    * with the stream's time span. Dir lifetime: [[graft.Lease]].
    */
  def qStreamHourly(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.util.Try
    import org.apache.spark.sql.Row
    val ss = StreamingQueries.streamSession(spark)
    val inDir = Files.createTempDirectory("graft_sh_in").toString
    val outDir = Files.createTempDirectory("graft_sh_out").toString
    val ckpt = Files.createTempDirectory("graft_sh_ckpt").toString
    try {
      StreamingQueries.stageFixture(dir, inDir)
      StreamingQueries.writeSentinel(ss, inDir)
      val src = StreamingQueries.eventsSource(ss, inDir)
      val out = graft.streaming.StreamingDistinct.hourlyDistinctUsers(src)
        .filter(col("window_start") < lit("2099-01-01")) // cut sentinel windows
      StreamingQueries.runPass(out, outDir, ckpt)
      graft.Lease.lease("q_stream_hourly", Seq(inDir, outDir, ckpt))
      ss.read.schema(out.schema).parquet(outDir)
        .orderBy("window_start", "event_type")
    } catch {
      case e: Throwable =>
        Seq(inDir, outDir, ckpt).foreach(d => Try(graft.Fs.deleteRecursively(d)))
        throw e
    }
  }

  /** count300k's state as STORED partial aggregates — the mergeable-
    * sketch rollup the reference's serialize/merge machinery exists
    * for (`/root/reference/hashset-count.cc:195-461`), lifted to
    * warehouse shape: stage 1 writes one exact distinct-set sketch
    * per (day, event_type) to parquet (`sketch_agg` — a BINARY column
    * in the SketchWire format count300k's own shuffle uses); stage 2
    * reads ONLY the sketch rows and rolls day → month with
    * `sketch_merge` + `sketch_count`. The oracle is the direct
    * distinct count over the raw events — sketches are exact sets, so
    * rollup-of-partials must equal the one-pass answer bit-for-bit,
    * which is precisely the partition-invariance the reference's
    * Serialize/Merge contract promises.
    *
    * Scale shape: stage 1 is the usual keyed aggregate (map-side
    * combine; only deduplicated sets cross the exchange); stage 2's
    * input is one row per (day, type) — the raw fact table is never
    * rescanned, which is the entire point of materialized partial
    * state at 100 TB (daily ingest aggregates once; any later window
    * rolls up from sketches). Sketch size ∝ per-group distinct count
    * (the reference's own law); unbounded-cardinality groups take the
    * bounded HLL siblings (`hll_sketch_agg`/`hll_union_agg`), spec'd
    * in SketchSpec. Result stays lazy over the sketch store
    * ([[graft.Lease]] owns the dir lifetime), which is read back with
    * the schema it was written with, as the streaming rollups do.
    */
  def qSketchRollup(spark: SparkSession, dir: String): DataFrame = {
    Engine.register(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_sketch").toString
    val daily = Engine.table(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(expr("sketch_agg(cast(user_id as string))").as("sk"))
    try daily.write.mode("overwrite").parquet(base)
    catch {
      case e: Throwable =>
        scala.util.Try(graft.Fs.deleteRecursively(base)); throw e
    }
    graft.Lease.lease("q_sketch_rollup", Seq(base))
    // read back with the writer's schema: no schema-inference job
    spark.read.schema(daily.schema).parquet(base)
      .groupBy(trunc(col("day"), "month").as("month"), col("event_type"))
      .agg(expr("sketch_count(sketch_merge(sk))").as("distinct_users"),
        count(lit(1)).cast("long").as("n_days"))
      .orderBy("month", "event_type")
  }

  /** The bounded-state sibling of [[qSketchRollup]] in the hard signal:
    * the SAME day→month rollup over Spark's DataSketches HLL surface
    * (`hll_sketch_agg` build / `hll_union_agg` merge /
    * `hll_sketch_estimate` finalize) — the escape hatch the engine
    * documents for groups whose exact set state (∝ distinct count, the
    * reference's own law) is too large, at a FIXED ~2^lgK-register
    * cost per group instead.
    *
    * The estimate itself is engine-specific (no DuckDB analogue), so
    * the gate is split honestly: `distinct_users` and `n_days` are
    * exact and oracle-computed; `hll_ok` asserts Spark-side the two
    * properties that make a sketch column trustworthy — (a) MERGE
    * INVARIANCE, rollup-of-stored-day-sketches estimates within 1%
    * relative of the direct one-pass sketch. (Register maxima are
    * associative/commutative/idempotent, so the underlying STATE is
    * partition-invariant — but DataSketches finalizes a stream-built
    * sketch with the HIP estimator and a post-union sketch with the
    * composite estimator, so the two ESTIMATES are only bit-identical
    * while groups stay in exact coupon mode; in dense HLL mode they
    * legitimately differ by well under the sketch's own RSE, hence a
    * tolerance rather than exact equality.) And (b) the merged
    * estimate lands within 5% of the exact count (lgK=12 ⇒ ~1.6%
    * RSE). The oracle pins `hll_ok` to true: real drift in either
    * property breaks the row hash.
    *
    * Scale shape: identical to [[qSketchRollup]] (keyed aggregate,
    * sketch store, month rollup never rescans raw events) — but state
    * per group is bounded, which is what a 10^9-distinct-users group
    * needs; the exact-set sibling stays the choice when later EXACT
    * rollups matter.
    */
  def qHllRollup(spark: SparkSession, dir: String): DataFrame = {
    Engine.register(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_hll").toString
    val daily = Engine.table(spark, dir, "events")
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(expr("hll_sketch_agg(cast(user_id as string))").as("hs"))
    try daily.write.mode("overwrite").parquet(base)
    catch {
      case e: Throwable =>
        scala.util.Try(graft.Fs.deleteRecursively(base)); throw e
    }
    graft.Lease.lease("q_hll_rollup", Seq(base))
    // read back with the writer's schema: no schema-inference job
    hllGate(spark, dir, spark.read.schema(daily.schema).parquet(base))
  }

  /** The merged-vs-direct HLL gate, shared by the batch and streaming
    * rollups so the tolerances live in ONE place (the round-7 gate
    * hardening had to touch exactly this expression): month rollup of
    * the stored day sketches, joined against the direct one-pass
    * estimate + exact count, with `hll_ok` = merge-invariance within
    * 1% relative AND ≤5% of truth.
    */
  private def hllGate(
      spark: SparkSession, dir: String, store: DataFrame): DataFrame = {
    val merged = store
      .groupBy(trunc(col("day"), "month").as("month"), col("event_type"))
      .agg(expr("hll_sketch_estimate(hll_union_agg(hs))").as("est_merged"),
        count(lit(1)).cast("long").as("n_days"))
    val direct = Engine.table(spark, dir, "events")
      .groupBy(trunc(to_date(col("ts")), "month").as("month"), col("event_type"))
      .agg(
        expr("hll_sketch_estimate(hll_sketch_agg(cast(user_id as string)))")
          .as("est_direct"),
        countDistinct(col("user_id")).as("distinct_users"))
    merged.join(direct, Seq("month", "event_type"))
      .select(col("month"), col("event_type"), col("distinct_users"),
        col("n_days"),
        (abs(col("est_merged") - col("est_direct")) <=
          greatest(lit(1.0), col("est_direct") * 0.01) &&
          abs(col("est_merged") - col("distinct_users")) <=
            col("distinct_users") * 0.05).as("hll_ok"))
      .orderBy("month", "event_type")
  }

  /** SET ALGEBRA over stored sketches — the question segment rollups
    * exist to answer without rescanning the fact table: "how many
    * distinct users did BOTH X and Y this month?". The day×event_type
    * sketch table ([[qSketchRollup]]'s stage 1, here click/purchase
    * only) is the ONLY input to stage 2: per month, each arm's
    * cardinality is a conditional `sketch_merge` of its own segment
    * sketches, the union merges both arms, and the intersection falls
    * out EXACTLY by inclusion–exclusion (`|A∩B| = |A|+|B|-|A∪B|`) —
    * exact because the sketches are exact sets, the algebra the
    * reference's count300k state supports and an HLL cannot do
    * losslessly (HLL unions are lossless, intersections are not; the
    * exact-set sibling is precisely for downstream algebra like this).
    * The STRING finalize round-trips to BIGINT for the arithmetic;
    * empty arms coalesce to 0 so the identity holds on months where a
    * segment is silent.
    *
    * Scale shape: stage 2 never touches raw events — it aggregates
    * |days|×2 sketch rows whose state is ∝ the distinct sets being
    * counted (the reference's own memory law); the merge is
    * associative/commutative so partition layout is free.
    */
  def qSketchIntersect(spark: SparkSession, dir: String): DataFrame = {
    Engine.register(spark)
    val base = java.nio.file.Files.createTempDirectory("graft_skint").toString
    val daily = Engine.table(spark, dir, "events")
      .filter(col("event_type").isin("click", "purchase"))
      .groupBy(to_date(col("ts")).as("day"), col("event_type"))
      .agg(expr("sketch_agg(cast(user_id as string))").as("sk"))
    try daily.write.mode("overwrite").parquet(base)
    catch {
      case e: Throwable =>
        scala.util.Try(graft.Fs.deleteRecursively(base)); throw e
    }
    graft.Lease.lease("q_sketch_intersect", Seq(base))
    // read back with the writer's schema: no schema-inference job
    spark.read.schema(daily.schema).parquet(base)
      .groupBy(trunc(col("day"), "month").as("month"))
      .agg(
        expr("""coalesce(cast(sketch_count(sketch_merge(
                  CASE WHEN event_type = 'click' THEN sk END)) AS BIGINT), 0)""")
          .as("n_click"),
        expr("""coalesce(cast(sketch_count(sketch_merge(
                  CASE WHEN event_type = 'purchase' THEN sk END)) AS BIGINT), 0)""")
          .as("n_purchase"),
        expr("coalesce(cast(sketch_count(sketch_merge(sk)) AS BIGINT), 0)")
          .as("n_union"))
      .withColumn("n_both", col("n_click") + col("n_purchase") - col("n_union"))
      .orderBy("month")
  }

  /** [[qSketchRollup]]'s stage 1 as an actual STREAMING ingest — the
    * two marquee surfaces joined: `sketch_agg` maintained as windowed
    * streaming-aggregation state (the state store round-trips the
    * [[graft.functions.SketchWire]] buffer across micro-batches —
    * `maxFilesPerTrigger=1` forces multiple, so cross-batch
    * restore/merge genuinely runs) and flushed to the parquet sketch
    * STORE when the watermark closes each day window. The read-back
    * is stage 2 verbatim: day sketches roll up to month with
    * `sketch_merge` + `sketch_count`, and because sketches are exact
    * sets the result must equal the direct one-pass distinct count
    * bit-for-bit — the same oracle as the batch rollup. Sentinel
    * choreography follows [[qStreamHourly]] (one far-future file +
    * the no-data micro-batch close every real window; the sentinel's
    * own window is cut by the day filter on the aggregation's output
    * side).
    *
    * Scale shape: this is the 100 TB ingest posture for the sketch
    * store — the day's events aggregate ONCE, incrementally, as they
    * arrive (state per group ∝ its distinct count, the reference's
    * law; bounded-state sibling: `hll_sketch_agg` under the same
    * plan), and any later window rolls up from stored partials
    * without ever rescanning the raw stream.
    */
  def qStreamSketch(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.util.Try
    import org.apache.spark.sql.Row
    val ss = StreamingQueries.streamSession(spark)
    val inDir = Files.createTempDirectory("graft_sk_in").toString
    val storeDir = Files.createTempDirectory("graft_sk_store").toString
    val ckpt = Files.createTempDirectory("graft_sk_ckpt").toString
    try {
      StreamingQueries.stageFixture(dir, inDir)
      StreamingQueries.writeSentinel(ss, inDir)
      val src = StreamingQueries.eventsSource(ss, inDir)
      val daily = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(expr("sketch_agg(cast(user_id as string))").as("sk"))
        .select(to_date(col("w.start")).as("day"), col("event_type"),
          col("sk"))
        .filter(col("day") < lit("2099-01-01")) // cut sentinel windows
      StreamingQueries.runPass(daily, storeDir, ckpt)
      graft.Lease.lease("q_stream_sketch", Seq(inDir, storeDir, ckpt))
      ss.read.schema(daily.schema).parquet(storeDir)
        .groupBy(trunc(col("day"), "month").as("month"), col("event_type"))
        .agg(expr("sketch_count(sketch_merge(sk))").as("distinct_users"),
          count(lit(1)).cast("long").as("n_days"))
        .orderBy("month", "event_type")
    } catch {
      case e: Throwable =>
        Seq(inDir, storeDir, ckpt).foreach(d => Try(graft.Fs.deleteRecursively(d)))
        throw e
    }
  }

  /** [[qHllRollup]]'s stage 1 as a STREAMING ingest — the bounded-
    * state sibling of [[qStreamSketch]], completing the symmetry:
    * batch exact / batch HLL / streaming exact / streaming HLL all
    * share one store-and-rollup shape. Spark's DataSketches
    * `hll_sketch_agg` maintains fixed-size register state per open
    * (day, type) window in the streaming aggregation, flushes the
    * serialized sketch to the parquet store on window close, and the
    * read-back runs [[qHllRollup]]'s exact gate verbatim (merged
    * estimate within 1% of the direct estimate AND 5% of truth,
    * pinned true by the oracle). Sentinel choreography as in
    * [[qStreamSketch]].
    *
    * Scale shape: per-window streaming state is CONSTANT (~2^lgK
    * registers) regardless of per-window cardinality — the ingest
    * posture for groups whose exact set state (∝ distinct, the
    * reference's law) would blow the state store.
    */
  def qStreamHll(spark: SparkSession, dir: String): DataFrame = {
    import java.nio.file.{Files, Paths, StandardCopyOption}
    import scala.util.Try
    import org.apache.spark.sql.Row
    val ss = StreamingQueries.streamSession(spark)
    val inDir = Files.createTempDirectory("graft_shll_in").toString
    val storeDir = Files.createTempDirectory("graft_shll_store").toString
    val ckpt = Files.createTempDirectory("graft_shll_ckpt").toString
    try {
      StreamingQueries.stageFixture(dir, inDir)
      StreamingQueries.writeSentinel(ss, inDir)
      val src = StreamingQueries.eventsSource(ss, inDir)
      val daily = src
        .withWatermark("ts", "1 hour")
        .groupBy(window(col("ts"), "1 day").as("w"), col("event_type"))
        .agg(expr("hll_sketch_agg(cast(user_id as string))").as("hs"))
        .select(to_date(col("w.start")).as("day"), col("event_type"),
          col("hs"))
        .filter(col("day") < lit("2099-01-01")) // cut sentinel windows
      StreamingQueries.runPass(daily, storeDir, ckpt)
      graft.Lease.lease("q_stream_hll", Seq(inDir, storeDir, ckpt))
      // the batch rollup's gate verbatim — ONE definition of the
      // tolerances for both ingest postures
      hllGate(ss, dir, ss.read.schema(daily.schema).parquet(storeDir))
    } catch {
      case e: Throwable =>
        Seq(inDir, storeDir, ckpt).foreach(d => Try(graft.Fs.deleteRecursively(d)))
        throw e
    }
  }

  /** The SQL switch-over surface in the hard signal: the reference's
    * users queried it through plain SQL over installed functions and
    * warehouse tables (`/root/reference/README.md:26-37` — CREATE
    * AGGREGATE FUNCTION, then SELECT ... GROUP BY). This query is one
    * `spark.sql` TEXT over [[Engine.registerTables]]' views — star
    * join, WHERE, GROUP BY, HAVING, scalar functions, and `count300k`
    * itself resolved by name through the session registry — proving a
    * reference user's SQL workload runs verbatim-shaped against the
    * DuckDB oracle, not just the DataFrame DSL the other queries
    * exercise. (EngineSurfaceSpec covers this surface in specs; here
    * it is in the driver's hash-compared signal.)
    */
  def qSqlSurface(spark: SparkSession, dir: String): DataFrame = {
    Engine.registerTables(spark, dir)
    spark.sql(
      """SELECT n.n_name AS nation, c.c_mktsegment AS segment,
        |       count(*) AS n_orders,
        |       count300k(cast(o.o_custkey AS string)) AS distinct_customers,
        |       sum(cast(floor(o.o_totalprice * 100) AS BIGINT)) AS cents,
        |       min(upper(substring(c.c_name, 1, 10))) AS first_cust
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_totalprice > 1000
        |GROUP BY n.n_name, c.c_mktsegment
        |HAVING count(*) > 2
        |ORDER BY nation, segment""".stripMargin)
  }

  /** Reference hash parity in the hard signal: every part name hashed
    * with the codegen'd `fnv64` (bit-parity port of the reference's
    * FnvHash, `/root/reference/hashset-count.cc:49-59`) and bucketed
    * with the reference's unsigned `% 300000`
    * (`hashset-count.cc:67,123`), against a DuckDB oracle that
    * re-implements FNV-1a 64 from its constants in pure SQL
    * (list_reduce over code points, UHUGEINT mod 2^64). A single bit
    * of divergence in seed, prime, byte order, or signedness breaks
    * the hash compare on all 2,000 rows.
    */
  def qFnvBucket(spark: SparkSession, dir: String): DataFrame = {
    Engine.register(spark)
    Engine.table(spark, dir, "part")
      .select(col("p_partkey"), expr("fnv64(p_name)").as("h"))
      .withColumn("bucket", expr(
        """CAST((CAST(h AS DECIMAL(38,0)) +
          |      CASE WHEN h < 0 THEN CAST(18446744073709551616 AS DECIMAL(38,0))
          |           ELSE CAST(0 AS DECIMAL(38,0)) END) % 300000 AS BIGINT)""".stripMargin))
      .orderBy("p_partkey")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_multi_distinct" -> (qMultiDistinct _),
    "q_events_hourly" -> (qEventsHourly _),
    "q_stream_hourly" -> (qStreamHourly _),
    "q_sketch_rollup" -> (qSketchRollup _),
    "q_sketch_intersect" -> (qSketchIntersect _),
    "q_stream_sketch" -> (qStreamSketch _),
    "q_hll_rollup" -> (qHllRollup _),
    "q_stream_hll" -> (qStreamHll _),
    "q_sql_surface" -> (qSqlSurface _),
    "q_fnv_bucket" -> (qFnvBucket _)
  )

  private val hllRollupOracle: String =
    """SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
      |  CAST(count(DISTINCT user_id) AS BIGINT) AS distinct_users,
      |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days,
      |  true AS hll_ok
      |FROM events GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin

  private val sketchRollupOracle: String =
    """SELECT CAST(date_trunc('month', ts) AS DATE) AS month, event_type,
      |  CASE WHEN COUNT(user_id) = 0 THEN NULL
      |       ELSE CAST(COUNT(DISTINCT user_id) AS VARCHAR) END AS distinct_users,
      |  CAST(count(DISTINCT CAST(ts AS DATE)) AS BIGINT) AS n_days
      |FROM events GROUP BY 1, 2 ORDER BY month, event_type""".stripMargin

  /** NULL-for-empty-group + STRING return encoded per SURVEY.md §5.2. */
  val oracles: Map[String, String] = Map(
    "q_multi_distinct" ->
      """SELECT l_returnflag,
        |  CASE WHEN COUNT(l_partkey) = 0 THEN NULL
        |       ELSE CAST(COUNT(DISTINCT l_partkey) AS VARCHAR) END AS distinct_parts,
        |  CASE WHEN COUNT(l_suppkey) = 0 THEN NULL
        |       ELSE CAST(COUNT(DISTINCT l_suppkey) AS VARCHAR) END AS distinct_supps,
        |  CASE WHEN COUNT(l_orderkey) = 0 THEN NULL
        |       ELSE CAST(COUNT(DISTINCT l_orderkey) AS VARCHAR) END AS distinct_orders
        |FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag""".stripMargin,
    "q_events_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  CASE WHEN COUNT(user_id) = 0 THEN NULL
        |       ELSE CAST(COUNT(DISTINCT user_id) AS VARCHAR) END AS distinct_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    "q_stream_hourly" ->
      """SELECT date_trunc('hour', ts) AS window_start, event_type,
        |  CASE WHEN COUNT(user_id) = 0 THEN NULL
        |       ELSE CAST(COUNT(DISTINCT user_id) AS VARCHAR) END AS distinct_users,
        |  count(*) AS n_events
        |FROM events GROUP BY 1, 2 ORDER BY window_start, event_type""".stripMargin,
    // the rollup-of-stored-sketches must equal the direct one-pass
    // distinct count (sketches are exact sets, not estimators)
    "q_sketch_rollup" -> sketchRollupOracle,
    // inclusion–exclusion over the stored sketches is EXACT, so the
    // oracle is the plain distinct-count algebra on raw events
    "q_sketch_intersect" ->
      """SELECT CAST(date_trunc('month', ts) AS DATE) AS month,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'click'
        |                           THEN user_id END) AS BIGINT) AS n_click,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'purchase'
        |                           THEN user_id END) AS BIGINT) AS n_purchase,
        |  CAST(count(DISTINCT user_id) AS BIGINT) AS n_union,
        |  CAST(count(DISTINCT CASE WHEN event_type = 'click'
        |                           THEN user_id END)
        |     + count(DISTINCT CASE WHEN event_type = 'purchase'
        |                           THEN user_id END)
        |     - count(DISTINCT user_id) AS BIGINT) AS n_both
        |FROM events WHERE event_type IN ('click', 'purchase')
        |GROUP BY 1 ORDER BY month""".stripMargin,
    // the streaming-ingested store must roll up to the identical
    // matrix — one oracle text, batch and incremental ingest postures
    "q_stream_sketch" -> sketchRollupOracle,
    // exact columns oracle-computed; hll_ok pinned to true — the
    // Spark side computes it as merge-invariance AND a 5% error bound,
    // so any estimator drift breaks the row hash (the estimate itself
    // has no DuckDB analogue; see the qHllRollup scaladoc)
    "q_hll_rollup" -> hllRollupOracle,
    // the streaming-ingested HLL store must pass the identical gate
    "q_stream_hll" -> hllRollupOracle,
    "q_sql_surface" ->
      """SELECT n.n_name AS nation, c.c_mktsegment AS segment,
        |       count(*) AS n_orders,
        |       CASE WHEN count(o.o_custkey) = 0 THEN NULL
        |            ELSE CAST(count(DISTINCT o.o_custkey) AS VARCHAR)
        |       END AS distinct_customers,
        |       CAST(sum(CAST(floor(o.o_totalprice * 100) AS BIGINT)) AS BIGINT) AS cents,
        |       min(upper(substring(c.c_name, 1, 10))) AS first_cust
        |FROM orders o
        |JOIN customer c ON o.o_custkey = c.c_custkey
        |JOIN nation n ON c.c_nationkey = n.n_nationkey
        |WHERE o.o_totalprice > 1000
        |GROUP BY n.n_name, c.c_mktsegment
        |HAVING count(*) > 2
        |ORDER BY nation, segment""".stripMargin,
    "q_fnv_bucket" ->
      """WITH hh AS (
        |  SELECT p_partkey,
        |         list_reduce(
        |           list_prepend(CAST(14695981039346656037 AS UHUGEINT),
        |             list_transform(range(1, length(p_name)+1),
        |                            i -> CAST(ord(p_name[i]) AS UHUGEINT))),
        |           (acc, c) -> (xor(acc, c) * 1099511628211) % 18446744073709551616
        |         ) AS hu
        |  FROM part)
        |SELECT p_partkey,
        |       CAST(CASE WHEN hu >= 9223372036854775808
        |                 THEN CAST(hu AS HUGEINT) - 18446744073709551616
        |                 ELSE CAST(hu AS HUGEINT) END AS BIGINT) AS h,
        |       CAST(hu % 300000 AS BIGINT) AS bucket
        |FROM hh ORDER BY p_partkey""".stripMargin
  )
}
