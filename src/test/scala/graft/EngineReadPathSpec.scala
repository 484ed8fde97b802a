package graft

import java.nio.file.{Files, Paths, StandardCopyOption}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.types.{TimestampNTZType, TimestampType}

/** `Engine.table` infers a single-file table's schema once per file
  * version: later reads of an unchanged file launch no Spark job, a
  * rewritten file is inferred afresh, and the schema read is the one
  * `spark.read.parquet` infers.
  */
class EngineReadPathSpec extends SparkSpec {
  import spark.implicits._

  /** The fixture tables (TESTDATA.md). */
  private val fixtures = "/root/testdata"

  /** Spark jobs `body` launches from this thread. A marker job run after
    * it is awaited on the listener bus, which delivers events in order,
    * so every job `body` started has been seen when it arrives.
    */
  private def jobsLaunchedBy(body: => Unit): Int = {
    val sc = spark.sparkContext
    val group = s"read-path-${java.util.UUID.randomUUID()}"
    val seen = new ConcurrentLinkedQueue[String]
    val listener = new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit =
        Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id"))).foreach(seen.add)
    }
    sc.addSparkListener(listener)
    try {
      sc.setJobGroup(group, "measured")
      try body finally sc.clearJobGroup()
      sc.setJobGroup(group + "-marker", "barrier")
      try sc.parallelize(Seq(1), 1).count() finally sc.clearJobGroup()
      val deadline = System.nanoTime() + 60L * 1000 * 1000 * 1000
      while (!seen.contains(group + "-marker") && System.nanoTime() < deadline) Thread.sleep(10)
      assert(seen.contains(group + "-marker"), "listener bus did not deliver the marker job")
      seen.asScala.count(_ == group)
    } finally sc.removeSparkListener(listener)
  }

  /** Write `df` as the single parquet file `<dir>/<name>.parquet`. */
  private def writeFile(df: DataFrame, dir: String, name: String): Unit = {
    val tmp = Files.createTempDirectory("graft_rp_w")
    df.coalesce(1).write.mode("overwrite").parquet(tmp.resolve("o").toString)
    val part = Files.list(tmp.resolve("o")).iterator().asScala
      .find(p => p.getFileName.toString.startsWith("part-")).get
    Files.move(part, Paths.get(dir, s"$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
    Fs.deleteRecursively(tmp.toString)
  }

  test("a second Engine.table on an unchanged file launches no Spark job") {
    val dir = Files.createTempDirectory("graft_rp").toString
    try {
      writeFile(Seq((1, "a"), (2, "b")).toDF("k", "v"), dir, "t")
      val first = jobsLaunchedBy(Engine.table(spark, dir, "t"))
      assert(first >= 1, "the first read infers the schema with a Spark job")
      var second: DataFrame = null
      assert(jobsLaunchedBy { second = Engine.table(spark, dir, "t") } == 0)
      assert(second.as[(Int, String)].collect().sorted.toSeq == Seq((1, "a"), (2, "b")))
    } finally Fs.deleteRecursively(dir)
  }

  test("a second registerTables launches no Spark job") {
    val dir = s"$fixtures/sf0.001"
    Engine.registerTables(spark, dir)
    assert(jobsLaunchedBy(Engine.registerTables(spark, dir)) == 0)
    assert(spark.table("orders").count() == Engine.table(spark, dir, "orders").count())
  }

  test("a file rewritten at the same path with another schema is inferred afresh") {
    val dir = Files.createTempDirectory("graft_rp").toString
    try {
      writeFile(Seq((1, "a")).toDF("k", "v"), dir, "t")
      assert(Engine.table(spark, dir, "t").columns.toSeq == Seq("k", "v"))
      writeFile(Seq((7L, 2.5, true), (8L, 3.5, false)).toDF("id", "score", "ok"), dir, "t")
      var df: DataFrame = null
      assert(jobsLaunchedBy { df = Engine.table(spark, dir, "t") } >= 1)
      assert(df.schema == spark.read.parquet(s"$dir/t.parquet").schema)
      assert(df.as[(Long, Double, Boolean)].collect().sorted.toSeq == Seq((7L, 2.5, true), (8L, 3.5, false)))
    } finally Fs.deleteRecursively(dir)
  }

  test("a session with other parquet inference settings is inferred afresh") {
    // events.ts is TIMESTAMP(isAdjustedToUTC=false), and the file carries
    // no Spark schema, so this setting alone decides its read type
    val path = s"$fixtures/sf0.001/events.parquet"
    val key = "spark.sql.parquet.inferTimestampNTZ.enabled"
    val saved = spark.conf.getOption(key)
    try {
      assert(Engine.readParquet(spark, path).schema("ts").dataType == TimestampNTZType)
      spark.conf.set(key, "false")
      var df: DataFrame = null
      assert(jobsLaunchedBy { df = Engine.readParquet(spark, path) } >= 1)
      assert(df.schema("ts").dataType == TimestampType)
    } finally saved.fold(spark.conf.unset(key))(spark.conf.set(key, _))
  }

  test("the remembered schema of every fixture table is the one Spark infers") {
    for (sf <- Seq("sf0.001", "sf0.01", "sf0.1"); name <- Engine.tableNames) {
      val path = s"$fixtures/$sf/$name.parquet"
      Engine.readParquet(spark, path)
      assert(Engine.readParquet(spark, path).schema == spark.read.parquet(path).schema, path)
    }
  }

  test("a directory keeps Spark's own read") {
    val dir = Files.createTempDirectory("graft_rp").toString
    try {
      Seq((1, "a"), (2, "b")).toDF("k", "v").write.mode("overwrite").parquet(s"$dir/t.parquet")
      assert(Engine.table(spark, dir, "t").count() == 2)
      assert(jobsLaunchedBy(Engine.table(spark, dir, "t")) >= 1)
    } finally Fs.deleteRecursively(dir)
  }
}
