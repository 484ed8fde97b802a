package perfbench

import org.apache.spark.sql.SparkSession

import graft.sources.LocalCatalogFs

/** Self-checks of the benchmark itself: a seed fixes the inputs and
  * nothing else about a workload's shape, and the `sources` counts
  * repeat exactly across runs and seeds. (`run.py --self-test` also
  * runs each gated workload on two seeds and compares their metric
  * names and ops per pass.)
  */
object SelfTest {
  def run(spark: SparkSession, work: String): Int = {
    val problems = scala.collection.mutable.ArrayBuffer.empty[String]
    def check(ok: Boolean, what: String): Unit = {
      println(s"${if (ok) "PASS" else "FAIL"} $what")
      if (!ok) problems += what
    }
    val tables = Gen.tableRows(0.001).keys.toSeq.sorted
    def inputs(seed: Long, dir: String): Map[String, (Long, Long)] = {
      Gen.concurrently(Gen.tableWrites(spark, dir, seed, 0.001) ++
        Gen.distinctWrites(spark, dir, seed, Gen.cardinalities(seed, 20000),
          Set("distinct_highcard", "distinct_lowcard")))
      (tables.map(t => t -> s"$dir/$t.parquet") ++
        Seq("distinct_highcard", "distinct_lowcard").map(t => t -> s"$dir/$t")).map { case (t, p) =>
        val r = spark.read.parquet(p).selectExpr("count(*)", "bit_xor(xxhash64(*))").head
        t -> (r.getLong(0), r.getLong(1))
      }.toMap
    }
    val a = inputs(1L, s"$work/selftest/a")
    val b = inputs(2L, s"$work/selftest/b")
    val a2 = inputs(1L, s"$work/selftest/a2")
    check(a == a2, "same seed writes identical inputs")
    check(a.keys.forall(t => a(t)._1 == b(t)._1), "two seeds write the same row counts")
    val moved = a.keys.filter(t => a(t)._2 != b(t)._2).toSet
    check(moved == a.keySet - "region", s"two seeds move every seeded table (moved: ${moved.toSeq.sorted.mkString(",")})")

    check(Gen.cardinalities(1L, 20000) != Gen.cardinalities(2L, 20000),
      "two seeds place the distinct cardinalities differently")
    Workloads.names.foreach { name =>
      val (w1, w2) = (Workloads(name, 1L), Workloads(name, 2L))
      check(w1.ops.map(_.name).sorted == w2.ops.map(_.name).sorted && w1.rowsFed == w2.rowsFed,
        s"$name: two seeds run the same ${w1.ops.size} ops (orders: ${w1.ops.map(_.name).mkString(",")} / ${w2.ops.map(_.name).mkString(",")})")
    }
    val counts = for (seed <- Seq(1L, 2L); _ <- 1 to 2) yield {
      val r = CatalogCommit.run(new CountingFs(LocalCatalogFs), s"$work/selftest/catalog", seed, new Trace)
      check(r.error.isEmpty, s"catalog_commit (seed $seed) ${r.error.getOrElse("checks hold")}")
      r.commitCalls
    }
    check(counts.distinct.size == 1, s"sources counts repeat across two runs and two seeds: ${counts.distinct.mkString(" | ")}")
    if (problems.isEmpty) 0 else 1
  }
}
