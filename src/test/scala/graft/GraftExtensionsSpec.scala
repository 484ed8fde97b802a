package graft

import org.apache.spark.sql.{AnalysisException, SparkSession}
import org.apache.spark.sql.catalyst.FunctionIdentifier
import org.scalatest.funsuite.AnyFunSuite

import graft.functions.{HashSetCountDistinct, IntegralCountDistinct}

/** The spark.sql.extensions deployment path: a session built with only
  * the config (no Engine.register call) must expose graft's functions.
  */
class GraftExtensionsSpec extends AnyFunSuite {

  test("extensions-configured session resolves every injected function") {
    val shared = SparkSpec.session // materialize the shared context first
    SparkSession.clearActiveSession()
    SparkSession.clearDefaultSession()
    try {
      // .withExtensions is the same injection hook the static
      // spark.sql.extensions=graft.GraftExtensions conf invokes on a
      // fresh cluster; a shared-JVM test can only exercise the API form
      val s = SparkSession.builder()
        .master("local[2]")
        .appName("graft-ext-test")
        .withExtensions(new GraftExtensions()(_))
        .config("spark.sql.shuffle.partitions", "2")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
      val r = s.sql(
        """SELECT count300k(cast(id % 5 AS string)) AS c,
          |       vec_dot(array(1.0D, 2.0D), array(3.0D, 4.0D)) AS d
          |FROM range(100)""".stripMargin).collect()(0)
      assert(r.getString(0) == "5")
      assert(r.getDouble(1) == 11.0)
      val r2 = s.sql(
        """SELECT fnv64('chars') AS h,
          |       size(fnv_grams('abcdefgh', 3)) AS ng,
          |       sliding_min(fnv_grams('abcdefgh', 3), 2) AS mins,
          |       topk_agg(cast(id AS double), id, 2) AS tk,
          |       sorted_inter_count(array('a','b','d'), array('b','c','d')) AS ic
          |FROM range(10)""".stripMargin).collect()(0)
      assert(r2.getInt(1) == 6) // 8 chars -> 6 3-grams
      assert(r2.getSeq[Long](2).length == 5) // 6 grams -> 5 windows of 2
      assert(r2.getSeq[AnyRef](3).length == 2)
      assert(r2.getLong(4) == 2L)
      // sketch-column + runtime-filter surfaces injected too: both
      // halves carry all 7 residues, and every inserted key probes true
      val flat = s.sql(
        """SELECT sketch_count(sketch_merge(sk)) AS n
          |FROM (SELECT sketch_agg(cast(id % 7 AS string)) AS sk
          |      FROM range(100) GROUP BY id % 2)""".stripMargin).collect()(0)
      assert(flat.getString(0) == "7")
      val hh = s.sql(
        """SELECT mg_topk(cast(id % 3 AS string), 8) AS hh
          |FROM range(90)""".stripMargin).collect()(0)
      assert(hh.getSeq[AnyRef](0).length == 3) // exact regime: 3 items
      val bloomHit = s.sql(
        """SELECT count(*) FROM range(100)
          |WHERE bloom_contains(
          |  (SELECT bloom_agg(id, 100, 4096) FROM range(100)), id)""".stripMargin)
        .collect()(0)
      assert(bloomHit.getLong(0) == 100L) // no false negatives
    } finally {
      SparkSession.setDefaultSession(shared)
      SparkSession.setActiveSession(shared)
    }
  }

  test("registry parity: GraftExtensions and Engine.register expose the same functions") {
    import org.apache.spark.sql.catalyst.analysis.FunctionRegistry
    import org.apache.spark.sql.catalyst.expressions.aggregate.AggregateExpression
    val shared = SparkSpec.session
    def registry(s: SparkSession) = s.sessionState.functionRegistry
    def graftNames(s: SparkSession): Set[String] =
      registry(s).listFunction().filterNot(FunctionRegistry.builtin.functionExists).map(_.funcName).toSet
    // a new session of the shared context gets only the injected
    // functions (its context is configured with GraftExtensions)
    val viaExtensions = shared.newSession()
    // the same, with the injected functions dropped: Engine.register
    // then registers into a builtin-only registry
    val viaEngine = shared.newSession()
    graftNames(viaEngine).foreach(n => registry(viaEngine).dropFunction(FunctionIdentifier(n)))
    assert(graftNames(viaEngine).isEmpty)
    Engine.register(viaEngine)
    assert(graftNames(viaExtensions) == graftNames(viaEngine))
    assert(graftNames(viaEngine) == Engine.functions.map(_._1.funcName).toSet)
    assert(Set("count300k", "sketch_agg", "bloom_agg").subsetOf(graftNames(viaEngine)))
    // every function takes only its own argument counts and rejects the
    // rest as a built-in does, before its builder sees the arguments
    val arities = Map("count300k" -> Seq(1), "vec_dot" -> Seq(2), "fnv64" -> Seq(1),
      "topk_agg" -> Seq(3), "mg_topk" -> Seq(2), "fnv_grams" -> Seq(2), "sliding_min" -> Seq(2),
      "sorted_inter_count" -> Seq(2), "sorted_inter_atleast" -> Seq(4),
      "levenshtein_capped" -> Seq(3), "sketch_agg" -> Seq(1), "sketch_merge" -> Seq(1),
      "sketch_count" -> Seq(1), "bloom_agg" -> Seq(1, 3), "bloom_contains" -> Seq(2))
    assert(arities.keySet == graftNames(viaEngine))
    for (s <- Seq(viaExtensions, viaEngine); (name, ns) <- arities;
         n <- (ns.min - 1 to ns.max + 1).filterNot(ns.contains)) {
      val e = intercept[AnalysisException](s.sql(s"SELECT $name(${Seq.fill(n)("1").mkString(", ")})"))
      assert(e.getCondition == "WRONG_NUM_ARGS.WITHOUT_SUGGESTION", s"$name with $n arguments: ${e.getMessage}")
      assert(e.getMessage.contains(s"`$name` requires"), e.getMessage)
    }
    // both plan count300k to the same aggregate, by argument type
    def planned(s: SparkSession, arg: String): Seq[Class[_]] =
      s.range(10).selectExpr(s"count300k($arg)").queryExecution.optimizedPlan
        .flatMap(_.expressions.flatMap(_.collect { case a: AggregateExpression => a.aggregateFunction.getClass }))
    for ((arg, cls) <- Seq("id" -> classOf[IntegralCountDistinct],
        "concat('k', id)" -> classOf[HashSetCountDistinct])) {
      assert(planned(viaExtensions, arg) == Seq(cls), arg)
      assert(planned(viaEngine, arg) == Seq(cls), arg)
    }
  }

  // --- SQL maintenance-verb surface (MaintenanceSql via injectParser) ---

  import graft.operators.MaintenanceSql
  import graft.operators.MaintenanceSql._

  test("maintenance grammar: every verb form parses to its command") {
    assert(MaintenanceSql.parse("OPTIMIZE '/s'") ==
      Some(OptimizeCommand("/s", OptPlain)))
    assert(MaintenanceSql.parse("optimize '/s' recluster;") ==
      Some(OptimizeCommand("/s", OptRecluster)))
    assert(MaintenanceSql.parse("OPTIMIZE '/s' SORT BY vec_id") ==
      Some(OptimizeCommand("/s", OptSort(Seq("vec_id")))))
    assert(MaintenanceSql.parse("OPTIMIZE '/s' SORT BY a, b") ==
      Some(OptimizeCommand("/s", OptSort(Seq("a", "b")))))
    assert(MaintenanceSql.parse("OPTIMIZE '/s' ZORDER BY (ub, hr)") ==
      Some(OptimizeCommand("/s", OptZorder("ub", "hr"))))
    assert(MaintenanceSql.parse("OPTIMIZE '/s' WHERE bucket IN (3, 7)") ==
      Some(OptimizeCommand("/s", OptWhere(Seq(3L, 7L)))))
    assert(MaintenanceSql.parse("VACUUM '/s' RETAIN 3") ==
      Some(VacuumCommand("/s", 3)))
    assert(MaintenanceSql.parse("RESTORE '/s' TO VERSION 2") ==
      Some(RestoreCommand("/s", 2)))
    assert(MaintenanceSql.parse("DESCRIBE  HISTORY '/s'") ==
      Some(HistoryCommand("/s")))
    // non-maintenance statements delegate untouched — including plain
    // DESCRIBE (Spark's own verb) and verb-PREFIXED identifiers
    assert(MaintenanceSql.parse("SELECT 1").isEmpty)
    assert(MaintenanceSql.parse("DESCRIBE some_table").isEmpty)
    assert(MaintenanceSql.parse("SELECT * FROM vacuum_log").isEmpty)
    assert(MaintenanceSql.parse("VACUUM_TABLE('x')").isEmpty)
  }

  test("maintenance grammar: near-misses fail loudly with the grammar, not Spark's parser") {
    def err(sql: String): String =
      intercept[MaintenanceParseError](MaintenanceSql.parse(sql)).getMessage
    assert(err("VACUUM '/s' KEEP 3").contains("VACUUM '<base>' RETAIN n"))
    assert(err("OPTIMIZE '/s' ZORDER BY ub, hr").contains("ZORDER BY (cx, cy)"))
    assert(err("RESTORE '/s' VERSION 2").contains("TO VERSION"))
    assert(err("DESCRIBE HISTORY mystore").contains("DESCRIBE HISTORY '<base>'"))
    assert(err("OPTIMIZE mystore").contains("OPTIMIZE '<base>'"))
  }

  test("maintenance verbs drive a real store lifecycle through spark.sql") {
    val s = SparkSpec.session // extensions-configured (parser injected)
    import graft.sources.IndexCatalog
    val base = java.nio.file.Files.createTempDirectory("graft_sqlmaint").toString
    try {
      def gen(lo: Int, hi: Int, tags: Seq[String]): Unit = {
        val d = IndexCatalog.newGenDir(base)
        s.range(lo, hi).selectExpr("id", "id * 10 AS v")
          .coalesce(1).write.mode("overwrite").parquet(d)
        IndexCatalog.commitFiles(base, IndexCatalog.listDataFiles(d), tags)
      }
      gen(0, 4, Seq("build")) // v1
      gen(4, 8, Seq("append")) // v2
      val hist = s.sql(s"DESCRIBE HISTORY '$base'").collect()
      assert(hist.map(r => (r.getLong(0), r.getString(1))).toSeq ==
        Seq((1L, "build"), (2L, "append")))
      // flat store: SORT BY routes to the layout rewrite → v3
      val v3 = s.sql(s"OPTIMIZE '$base' SORT BY v").collect()(0).getLong(0)
      assert(v3 == 3L)
      assert(s.read.parquet(IndexCatalog.files(base, 3): _*).count() == 8)
      // rollback commit → v4 carrying v1's content
      val v4 = s.sql(s"RESTORE '$base' TO VERSION 1").collect()(0).getLong(0)
      assert(v4 == 4L)
      assert(s.read.parquet(IndexCatalog.latestFiles(base): _*).count() == 4)
      // retention: the live restore (v4) targets v1, which the naive
      // horizon (retain=2 → v3) would expire — the round-16 cap keeps
      // the target's lineage live instead (IndexCatalogSpec pins the
      // tag semantics; here the SQL surface observes the cap)
      val reclaimed =
        s.sql(s"VACUUM '$base' RETAIN 2").collect()(0).getLong(0)
      assert(reclaimed >= 0L)
      assert(IndexCatalog.liveVersions(base) == Seq(1, 2, 3, 4))
      assert(s.read.parquet(IndexCatalog.latestFiles(base): _*).count() == 4)
      // once the restore itself falls below the horizon it expires
      // whole (its lineage folds into the carried snapshot) and
      // retention reclaims the superseded files
      gen(8, 12, Seq("tail")) // v5 = restored content + 4 new rows
      val reclaimed2 =
        s.sql(s"VACUUM '$base' RETAIN 1").collect()(0).getLong(0)
      assert(reclaimed2 > 0L)
      assert(IndexCatalog.liveVersions(base) == Seq(5))
      assert(s.read.parquet(IndexCatalog.latestFiles(base): _*).count() == 8)
      // a near-miss through the FULL spark.sql path fails with OUR error
      val e = intercept[MaintenanceParseError](s.sql(s"VACUUM '$base' KEEP 1"))
      assert(e.getMessage.contains("RETAIN"))
    } finally graft.Fs.deleteRecursively(base)
  }

  test("store-kind mismatches raise MaintenanceExecutionError at run time, never a parse error") {
    val s = SparkSpec.session
    import graft.sources.IndexCatalog
    val base = java.nio.file.Files.createTempDirectory("graft_sqlkind").toString
    try {
      // a BUCKETED store (bucket= partition dirs), built minimally:
      // one committed generation under corpus/bucket=0
      val gen = IndexCatalog.newGenDir(base)
      s.range(0, 4).selectExpr("id AS vec_id", "CAST(0 AS BIGINT) AS bucket")
        .coalesce(1).write.mode("overwrite").partitionBy("bucket").parquet(gen)
      IndexCatalog.commit(base, gen)
      // the statements PARSE (valid grammar — spec above pins that);
      // execution rejects them for this store's kind with the
      // execution-error contract, not MaintenanceParseError
      val e1 = intercept[MaintenanceExecutionError](
        s.sql(s"OPTIMIZE '$base' ZORDER BY (a, b)"))
      assert(e1.getMessage.contains("bucketed store"))
      val e2 = intercept[MaintenanceExecutionError](
        s.sql(s"OPTIMIZE '$base' SORT BY other_col"))
      assert(e2.getMessage.contains("SORT BY vec_id"))
    } finally graft.Fs.deleteRecursively(base)
  }
}
