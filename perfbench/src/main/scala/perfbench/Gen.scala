package perfbench

import java.nio.file.{Files, Paths, StandardCopyOption}

import org.apache.spark.sql.{DataFrame, SparkSession}

/** Seeded input generator. Every value is a pure function of
  * `(seed, row id, column salt)` through `xxhash64`, so the same seed
  * writes byte-identical inputs whatever the partitioning, and another
  * seed moves every value.
  *
  * The ten tables follow the fixture layout the engine's queries read
  * (`<dir>/<table>.parquet`, one file each, the schemas and value
  * domains of the TPC-H-like fixtures: 30-word document vocabulary with
  * 5% planted near-duplicates, unit 64-d embeddings, JSON `props`).
  * Row counts scale with `sf` the way the fixtures do.
  *
  * The two `distinct_*` inputs feed the paper's operator directly.
  * Their cardinalities are fixed by construction, v = (id * m + o) mod d
  * with gcd(m, d) = 1 over n >= d ids hits every residue, so the
  * expected counts are known without running an engine.
  */
object Gen {

  final case class Cardinalities(rows: Long, highcard: Long, lowcard: Seq[Long])

  private val Vocab = Seq("a", "the", "join", "hash", "row", "batch", "scan",
    "column", "customer", "filter", "small", "slow", "merge", "order",
    "vector", "line", "table", "data", "agg", "value", "key", "stream",
    "window", "spark", "part", "group", "big", "sort", "query", "fast")

  private def arr(xs: Seq[String]): String =
    xs.map(x => s"'$x'").mkString("array(", ",", ")")

  /** Expression: integer in [0, n) for column salt `salt`. */
  private def int(seed: Long, salt: Int, n: Long): String =
    s"pmod(xxhash64(id, ${seed}L, $salt), ${n}L)"

  /** Expression: uniform double in [0, 1). */
  private def unif(seed: Long, salt: Int): String =
    s"(pmod(xxhash64(id, ${seed}L, $salt), 1000000007L) / 1000000007.0D)"

  private def pick(seed: Long, salt: Int, xs: Seq[String]): String =
    s"element_at(${arr(xs)}, cast(${int(seed, salt, xs.size)} + 1 as int))"

  private def days(seed: Long, salt: Int, from: String, span: Int): String =
    s"cast(cast(date_add(date'$from', cast(${int(seed, salt, span)} as int)) as timestamp) as timestamp_ntz)"

  /** Rows per table at scale `sf` (documents and embeddings have floors,
    * as in the fixtures).
    */
  def tableRows(sf: Double): Map[String, Long] = {
    def n(base: Double) = math.max(1L, math.round(base * sf))
    Map("region" -> 5L, "nation" -> 25L, "customer" -> n(150000),
      "supplier" -> n(10000), "part" -> n(200000), "orders" -> n(1500000),
      "lineitem" -> n(6000000), "events" -> n(1000000),
      "documents" -> math.max(500L, n(50000)),
      "embeddings" -> math.max(500L, n(20000)))
  }

  private def frames(spark: SparkSession, seed: Long, sf: Double): Seq[(String, DataFrame)] = {
    val rows = tableRows(sf)
    def range(t: String, parts: Int = 4) = spark.range(0, rows(t), 1, parts)
    val users = math.max(15L, math.round(15000 * sf))
    val region = range("region", 1).selectExpr("cast(id as int) as r_regionkey",
      s"element_at(${arr(Seq("AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"))}, cast(id + 1 as int)) as r_name")
    val nation = range("nation", 1).selectExpr("cast(id as int) as n_nationkey",
      "concat('NATION_', id) as n_name", s"cast(${int(seed, 1, 5)} as int) as n_regionkey")
    val customer = range("customer").selectExpr("id as c_custkey",
      "concat('Customer#', lpad(cast(id as string), 9, '0')) as c_name",
      s"cast(${int(seed, 2, 25)} as int) as c_nationkey",
      s"round(-999.99D + ${unif(seed, 3)} * 10999.98D, 2) as c_acctbal",
      s"${pick(seed, 4, Seq("AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"))} as c_mktsegment")
    val supplier = range("supplier").selectExpr("id as s_suppkey",
      "concat('Supplier#', lpad(cast(id as string), 9, '0')) as s_name",
      s"cast(${int(seed, 5, 25)} as int) as s_nationkey",
      s"round(-999.99D + ${unif(seed, 6)} * 10999.98D, 2) as s_acctbal")
    val part = range("part").selectExpr("id as p_partkey",
      s"concat(${pick(seed, 7, Seq("small", "red", "blue", "hot", "old", "large", "new", "green"))}, ' ', " +
        s"${pick(seed, 8, Seq("ring", "widget", "bolt", "gear", "gizmo", "plate", "anvil", "spring"))}) as p_name",
      s"concat('Brand#', ${int(seed, 9, 25)} + 1) as p_brand",
      s"${pick(seed, 10, Seq("ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"))} as p_type",
      s"cast(${int(seed, 11, 50)} + 1 as int) as p_size",
      "round(900.0D + pmod(id, 1000L) / 10.0D, 1) as p_retailprice")
    val orders = range("orders").selectExpr("id as o_orderkey",
      s"${int(seed, 12, rows("customer"))} as o_custkey",
      s"${pick(seed, 13, Seq("F", "O", "P"))} as o_orderstatus",
      s"round(1000.0D + ${unif(seed, 14)} * 499000.0D, 2) as o_totalprice",
      s"${days(seed, 15, "1995-01-01", 2404)} as o_orderdate",
      s"${pick(seed, 16, Seq("1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"))} as o_orderpriority")
    val lineitem = range("lineitem").selectExpr(
      s"${int(seed, 17, rows("orders"))} as l_orderkey",
      s"${int(seed, 18, rows("part"))} as l_partkey",
      s"${int(seed, 19, rows("supplier"))} as l_suppkey",
      s"cast(${int(seed, 20, 7)} + 1 as int) as l_linenumber",
      s"cast(${int(seed, 21, 50)} + 1 as double) as l_quantity",
      s"${unif(seed, 22)} as u_price",
      s"round(${int(seed, 23, 11)} / 100.0D, 2) as l_discount",
      s"round(${int(seed, 24, 9)} / 100.0D, 2) as l_tax",
      s"${pick(seed, 25, Seq("A", "N", "R"))} as l_returnflag",
      s"${pick(seed, 26, Seq("F", "O"))} as l_linestatus",
      s"${days(seed, 27, "1995-01-02", 2498)} as l_shipdate")
      .selectExpr("l_orderkey", "l_partkey", "l_suppkey", "l_linenumber", "l_quantity",
        "round(l_quantity * (900.0D + u_price * 1200.0D), 2) as l_extendedprice",
        "l_discount", "l_tax", "l_returnflag", "l_linestatus", "l_shipdate")
    // monotone timestamps over 30 days, jittered within each slot
    val span = 30L * 24 * 3600 * 1000000
    val events = range("events").selectExpr("id as event_id",
      s"cast(timestamp_micros(1704067200000000L + cast((id + ${unif(seed, 28)}) * ${span}D / ${rows("events")}D as bigint)) as timestamp_ntz) as ts",
      s"${int(seed, 29, users)} as user_id",
      s"${pick(seed, 30, Seq("click", "error", "purchase", "signup", "view"))} as event_type",
      s"greatest(0.01D, round(-ln(1.0D - ${unif(seed, 31)}) * 50.0D, 2)) as value",
      s"concat('{\"k\": ', ${int(seed, 32, 100)}, '}') as props")
    val words = s"transform(sequence(1, cast(${int(seed, 33, 90)} + 10 as int)), " +
      s"j -> element_at(${arr(Vocab)}, cast(pmod(xxhash64(id, ${seed}L, 34, j), ${Vocab.size}L) + 1 as int)))"
    val docBase = range("documents").selectExpr("id",
      s"array_join($words, ' ') as text0",
      s"if(${unif(seed, 35)} < 0.44D, 'en', ${pick(seed, 36, Seq("de", "es", "fr", "zh"))}) as lang",
      "concat('src', pmod(id, 20L)) as source",
      // 5% of documents repeat an earlier document's text plus one word
      s"if(id > 0 and ${unif(seed, 37)} < 0.05D, pmod(xxhash64(id, ${seed}L, 38), id), -1L) as dup_of")
    val documents = docBase
      .join(docBase.selectExpr("id as src_id", "text0 as src_text"),
        org.apache.spark.sql.functions.expr("dup_of = src_id"), "left")
      .selectExpr("id as doc_id",
        "if(dup_of >= 0, concat(src_text, ' dup'), text0) as text", "lang", "source")
      .selectExpr("doc_id", "text", "lang", "source", "cast(length(text) as bigint) as n_chars")
      .repartition(1).sortWithinPartitions("doc_id")
    val gauss = s"sqrt(-2.0D * ln(1.0D - pmod(xxhash64(id, ${seed}L, 39, j), 1000000007L) / 1000000007.0D)) * " +
      s"cos(2.0D * pi() * pmod(xxhash64(id, ${seed}L, 40, j), 1000000007L) / 1000000007.0D)"
    val embeddings = range("embeddings").selectExpr("id as vec_id",
      s"transform(sequence(0, 63), j -> $gauss) as raw",
      s"cast(${int(seed, 41, 10)} as int) as label")
      .selectExpr("vec_id",
        "transform(raw, x -> cast(x / sqrt(aggregate(raw, 0.0D, (a, y) -> a + y * y)) as float)) as embedding",
        "label")
    Seq("region" -> region, "nation" -> nation, "customer" -> customer,
      "supplier" -> supplier, "part" -> part, "orders" -> orders,
      "lineitem" -> lineitem, "events" -> events, "documents" -> documents,
      "embeddings" -> embeddings)
  }

  /** Write `writes` concurrently (inputs are pure functions of the
    * seed, so the order of writing cannot change them).
    */
  def concurrently(writes: Seq[() => Unit]): Unit = {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    try writes.map(w => pool.submit(new Runnable { def run(): Unit = w() })).foreach(_.get())
    finally pool.shutdown()
  }

  /** The ten tables as writers into `dir`, one `<table>.parquet` file each. */
  def tableWrites(spark: SparkSession, dir: String, seed: Long, sf: Double): Seq[() => Unit] = {
    Files.createDirectories(Paths.get(dir))
    frames(spark, seed, sf).map { case (name, df) => () =>
      val tmp = s"$dir/_tmp_$name"
      df.coalesce(1).write.mode("overwrite").parquet(tmp)
      val file = new java.io.File(tmp).listFiles()
        .find(f => f.getName.startsWith("part-") && f.getName.endsWith(".parquet"))
        .getOrElse(sys.error(s"no parquet file written for $name"))
      Files.move(file.toPath, Paths.get(s"$dir/$name.parquet"), StandardCopyOption.REPLACE_EXISTING)
      graft.Fs.deleteRecursively(tmp)
    }
  }

  private def gcd(a: Long, b: Long): Long = if (b == 0) a else gcd(b, a % b)

  /** A multiplier coprime to `d`, so `id * m mod d` visits every residue. */
  private def coprime(d: Long, from: Long): Long =
    Iterator.iterate(from)(_ + 1).find(m => gcd(m, d) == 1).get

  /** Cardinalities for `rows` input rows: the seed places the high
    * cardinality within 2% of rows / 2 and each low one in [2900, 3000].
    */
  def cardinalities(seed: Long, rows: Long): Cardinalities = {
    val r = new java.util.SplittableRandom(seed)
    Cardinalities(rows,
      rows / 2 + r.nextLong(-rows / 100, rows / 100 + 1),
      Seq.fill(3)(2900L + r.nextLong(101)))
  }

  /** Expression for the string of residue `v` (an expression over `id`)
    * modulo `d`: a seed tag, the residue in hex, and a 0-15 byte tail.
    */
  private def valueExpr(seed: Long, prefix: String, d: Long, salt: Int): String = {
    val m = coprime(d, 1000003L + salt)
    val o = new java.util.SplittableRandom(seed * 31 + salt).nextLong(d)
    val tag = java.lang.Long.toString(seed & 0xffffffL, 36)
    val v = s"pmod(id * ${m}L + ${o}L, ${d}L)"
    s"concat('$prefix$tag-', hex($v), substr('abcdefghijklmnop', 1, cast(pmod($v, 16L) as int)))"
  }

  /** The `distinct_highcard` (one column `s`) and `distinct_lowcard`
    * (columns `a`, `b`, `c`) frames.
    */
  def distinctFrames(spark: SparkSession, seed: Long, c: Cardinalities): (DataFrame, DataFrame) = {
    val ids = spark.range(0, c.rows, 1, 8)
    (ids.selectExpr(s"${valueExpr(seed, "h", c.highcard, 1)} as s"),
      ids.selectExpr(Seq("a", "b", "c").zip(c.lowcard).zipWithIndex.map {
        case ((col, d), i) => s"${valueExpr(seed, col, d, 2 + i)} as $col"
      }: _*))
  }

  /** The distinct inputs named in `names` (of `distinct_highcard` and
    * `distinct_lowcard`) as writers of eight-file parquet directories.
    */
  def distinctWrites(spark: SparkSession, dir: String, seed: Long, c: Cardinalities,
      names: Set[String]): Seq[() => Unit] = {
    val (high, low) = distinctFrames(spark, seed, c)
    Seq("distinct_highcard" -> high, "distinct_lowcard" -> low).collect {
      case (name, df) if names(name) => () => df.write.mode("overwrite").parquet(s"$dir/$name")
    }
  }
}
