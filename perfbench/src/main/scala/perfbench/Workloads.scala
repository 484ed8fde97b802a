package perfbench

/** One op of a pass. */
sealed trait Op { def name: String }

/** A gated query from `graft.SparkEntry`, checked against its DuckDB
  * oracle on the check pass.
  */
final case class EntryOp(name: String) extends Op

/** `count300k` over a seeded `distinct_*` input, checked against the
  * cardinalities known by construction every time it runs.
  */
final case class CountOp(name: String, columns: Seq[String], expected: Seq[Long]) extends Op

/** The catalog lifecycle of [[CatalogCommit]]. */
case object CatalogOp extends Op { val name = "catalog_commit" }

/** A workload: its table scale, the ops of one pass in declaration
  * order and in the seed's order, and the rows one pass feeds to
  * `count300k`/`sketch_agg` (0 where none are fed).
  */
final case class Workload(name: String, sf: Double, declared: Seq[Op], rowsFed: Long,
    ops: Seq[Op] = Nil)

object Workloads {
  /** Rows of each `distinct_*` input. */
  val DistinctRows = 2000000L

  val names: Seq[String] = Seq("distinct_agg", "store_lifecycle", "query_mix")

  /** The workload with its ops in the seed's order (one order per run). */
  def apply(name: String, seed: Long): Workload = {
    val card = Gen.cardinalities(seed, DistinctRows)
    val w = name match {
      case "distinct_agg" =>
        val rows = Gen.tableRows(0.1)
        Workload(name, 0.1,
          Seq("q_multi_distinct", "q_sketch_rollup", "q_lang_profile", "q_sql_surface").map(EntryOp) ++ Seq(
            CountOp("distinct_highcard", Seq("s"), Seq(card.highcard)),
            CountOp("distinct_lowcard", Seq("a", "b", "c"), card.lowcard)),
          // three count300k instances over lineitem, sketch_agg over
          // events, count300k over orders, then the distinct_* inputs
          3 * rows("lineitem") + rows("events") + rows("orders") + 4 * DistinctRows)
      case "store_lifecycle" =>
        // q_store_matview, q_neardup_append, q_dedup_star and
        // q_stream_cluster_append are left out: each adds 3-6 s to every
        // pass (and most a store template to set-up), which the
        // benchmark's run budget cannot carry
        Workload(name, 0.01,
          Seq("q_store_incremental", "q_stream_text_index").map(EntryOp) :+ CatalogOp, 0L)
      case "query_mix" =>
        Workload(name, 0.01,
          Seq("q_median", "q_quantiles", "q_minhash_lsh", "q_tfidf", "q_semdedup", "q_outliers",
            "q_repetition", "q_salted_join", "q_window", "q_agg_group", "q_bm25", "q_profile")
            .map(EntryOp), 0L)
      case other => throw new IllegalArgumentException(
        s"unknown workload '$other' (known: ${names.mkString(", ")})")
    }
    w.copy(ops = new scala.util.Random(seed).shuffle(w.declared))
  }
}
