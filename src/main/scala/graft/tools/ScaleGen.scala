package graft.tools

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Deterministic fixture scaler: replicate the driver-generated sf0.1
  * tables `factor`× into a larger scale point (sf1.0) for the scale-
  * validation bench — every 100 TB design claim was otherwise
  * extrapolated from sf0.1 (round-5 verdict item 1).
  *
  * Replication must preserve each query's SCALING LAW, not just row
  * counts, so replica `i` is transformed, never copied verbatim:
  *
  *  - Every entity key (doc/vec/event/order/part/supp/cust ids) gets a
  *    per-replica offset — foreign-key joins stay consistent inside a
  *    replica and never match across replicas. `region`/`nation` are
  *    fixed-size dimensions and are NOT replicated (their cardinality
  *    does not grow with corpus size — replicating them would turn
  *    broadcast dims into fact tables and break the star-join shape).
  *  - `documents.text` gets a per-replica suffix on every word:
  *    within-replica near-dup structure (the thing the dedup family
  *    measures) is IDENTICAL to the original, while cross-replica
  *    similarity drops to zero — pair counts scale linearly (factor×),
  *    as on a real corpus. Verbatim copies would square them: every
  *    doc would gain factor−1 exact twins, and clusters would fuse
  *    across replicas.
  *  - `embeddings.embedding` gets a per-replica deterministic sign
  *    flip pattern: u'·v' = Σ uⱼvⱼsⱼ² = u·v within a replica (norms
  *    and all pairwise cosines EXACTLY preserved — the flip is an
  *    isometry), while cross-replica cosines decorrelate to ~0 — the
  *    near-dup pair count again scales linearly, and the kNN/IVF
  *    queries (whose query/centroid sets are vec_id-bounded, i.e.
  *    replica 0) rank a factor×-larger corpus.
  *
  * Each table is written as ONE parquet file named `<table>.parquet`,
  * matching the fixture layout (the streaming queries `Files.copy` the
  * bare events file). `events.ts` passes through as TIMESTAMP_NTZ —
  * Spark writes it back as TIMESTAMP(MICROS, isAdjustedToUTC=false),
  * the fixture's own encoding, so `Engine.table` reads both alike.
  *
  * Usage: runMain graft.tools.ScaleGen <srcDir> <dstDir> <factor>
  */
object ScaleGen {

  /** Key spacing between replicas — far above any base key at these
    * scale points (sf0.1 max key ~600k), far below Long overflow.
    */
  private val Off = 100000000L

  private def bump(df: DataFrame, keys: Seq[String], i: Int): DataFrame =
    keys.foldLeft(df)((d, k) => d.withColumn(k, col(k) + lit(Off * i)))

  private def replica(name: String, df: DataFrame, i: Int): DataFrame = name match {
    case "customer" => bump(df, Seq("c_custkey"), i)
    case "supplier" => bump(df, Seq("s_suppkey"), i)
    case "part"     => bump(df, Seq("p_partkey"), i)
    case "orders"   => bump(df, Seq("o_orderkey", "o_custkey"), i)
    case "lineitem" => bump(df, Seq("l_orderkey", "l_partkey", "l_suppkey"), i)
    case "events"   => bump(df, Seq("event_id", "user_id"), i)
    case "documents" =>
      val bumped = bump(df, Seq("doc_id"), i)
      if (i == 0) bumped
      else bumped
        .withColumn("text", regexp_replace(col("text"), "(\\S+)", s"$$1_$i"))
        .withColumn("n_chars", length(col("text")).cast("long"))
    case "embeddings" =>
      val bumped = bump(df, Seq("vec_id"), i)
      if (i == 0) bumped
      else bumped.withColumn("embedding",
        expr(s"transform(embedding, (x, j) -> if(pmod(hash(j, $i), 2) = 0, x, -x))"))
    case _ => df // region, nation: fixed dims, factor-independent
  }

  def main(args: Array[String]): Unit = {
    require(args.length == 3, "usage: ScaleGen <srcDir> <dstDir> <factor>")
    val Array(src, dst, factorS) = args
    val factor = factorS.toInt
    require(factor >= 1)
    val spark = graft.Sessions.local()
    Files.createDirectories(Paths.get(dst))
    graft.Engine.tableNames.foreach { name =>
      val base = spark.read.parquet(s"$src/$name.parquet")
      val reps =
        if (name == "region" || name == "nation") Seq(base)
        else (0 until factor).map(i => replica(name, base, i))
      val out = reps.reduce(_.unionByName(_))
      val tmp = s"$dst/_tmp_$name"
      out.coalesce(1).write.mode("overwrite").parquet(tmp)
      val part = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no part file written for $name"))
      Files.move(part.toPath, Paths.get(s"$dst/$name.parquet"),
        StandardCopyOption.REPLACE_EXISTING)
      graft.Fs.deleteRecursively(tmp)
      println(s"[scalegen] $name -> $dst/$name.parquet")
    }
    spark.stop()
  }
}
