package graft.operators

import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.Engine

/** Near-duplicate detection over `documents`: MinHash+LSH, SimHash and
  * direct n-gram Jaccard. (Exact dedup lives in TextQueries.)
  *
  * Cross-engine determinism trick: every hash is a salted `md5` hex
  * string. Lexicographic MIN over fixed-length hex strings is a valid
  * min-hash (any total order over a uniform hash works), and md5 is
  * bit-identical in Spark and DuckDB — so the whole
  * shingle→minhash→band→bucket-join pipeline is oracle-checkable, which
  * a seeded xxhash64/murmur3 pipeline would not be. Thresholds use
  * integer cross-multiplication (10*inter >= 9*union), never FP ratios.
  *
  * Scale shape (the 100 TB story): tokenize/hash is embarrassingly
  * parallel map work; the only shuffles are (a) groupBy doc_id for
  * signatures — combines map-side, (b) the band-bucket self-join, whose
  * fan-out is bounded by bucket size, exactly why LSH beats the O(n²)
  * all-pairs join that qNgramJaccard demonstrates on small data.
  */
object DedupQueries {

  private val NumHashes = 16
  private val BandSize = 4 // 4 bands x 4 rows: P(cand | j=0.9) ~ 0.986
  private val NumBands = NumHashes / BandSize
  private val SimHashBits = 16

  /** doc_id + exploded DISTINCT word set (1-gram shingles). */
  private def wordSet(spark: SparkSession, dir: String): DataFrame =
    Engine.table(spark, dir, "documents")
      .select(col("doc_id"), explode(array_distinct(split(col("text"), " "))).as("w"))

  // --- MinHash + LSH -----------------------------------------------------
  //
  // Dedup-before-LSH: docs with identical word SETS have identical
  // signatures and collide in every band, so they are collapsed to one
  // representative (keyed by the sorted-set fingerprint) before any
  // quadratic step. LSH + exact verification run over unique sets only;
  // clique-internal pairs (Jaccard = 1 by construction) and cross-clique
  // doc pairs are expanded back afterwards. Output is provably identical
  // to the per-doc pipeline — identical sets <=> identical signatures —
  // while candidate and verification volume drop by the duplication
  // factor squared. On a web-scale corpus (duplication factors of 2-10x)
  // this is the difference between LSH working and not.

  /** One row per distinct word set: fingerprint, representative doc,
    * member count, and the set itself (exploded).
    */
  private def uniqueSets(spark: SparkSession, dir: String): DataFrame =
    Engine.table(spark, dir, "documents")
      .select(col("doc_id"),
        sort_array(array_distinct(split(col("text"), " "))).as("ws"))
      .withColumn("fp", md5(concat_ws(" ", col("ws"))))

  /** Vocabulary-size ceiling below which the hashed-vocab frame is
    * broadcast. One vocab row is `w` plus 16 md5 hex strings (~0.6 KB
    * in MEMORY_AND_DISK row format), so 2^20 words is ~600 MB of
    * executor heap at the very worst — within a big-executor budget,
    * and a web-scale vocabulary (>>1M distinct words) falls back to a
    * shuffle join instead of OOMing the driver.
    */
  private val BroadcastVocabMaxWords = 1L << 20

  /** Per-set signature h0..h15 = min(md5("<seed>|" || w)), over reps.
    * Hash-once-per-distinct-word, then join: the corpus vocabulary is
    * far smaller than token occurrences, so the seedwise md5s are
    * computed once per word and joined back instead of recomputed per
    * (set, word) row — same values, a fraction of the hash work.
    *
    * The vocab side carries an explicit size-guarded broadcast
    * (`nVocab` is a measured count, see [[qMinhashLsh]]'s guards).
    * Leaving the decision to AQE is not reliable here — over this
    * cached multi-branch lineage AQE was observed to pick a shuffle
    * join on a 31-word vocabulary, which turned the (token x vocab)
    * join into the whole bench's pathology (222s for this query in the
    * round-2 driver run vs ~20s with broadcast). A corpus-dependent
    * unbounded vocab still must not be force-broadcast, hence
    * measured, not assumed.
    */
  private def repSignatures(
      reps: DataFrame, vocab: DataFrame, nVocab: Long, ceiling: Long,
      key: String = "fp"): DataFrame = {
    val hashed0 = vocab.select(col("w") +:
      (0 until NumHashes).map(s => md5(concat(lit(s"$s|"), col("w"))).as(s"h$s")): _*)
    val hashed =
      if (nVocab <= ceiling) broadcast(hashed0) else hashed0
    val aggs = (0 until NumHashes).map(s => min(col(s"h$s")).as(s"h$s"))
    reps.select(col(key), explode(col("ws")).as("w"))
      .join(hashed, "w")
      .groupBy(col(key)).agg(aggs.head, aggs.tail: _*)
  }

  /** Row-count ceiling below which a small fingerprint-keyed frame
    * (unique-set reps with their word arrays, the band-bucket frame,
    * or the doc_id→fp member map) is broadcast into the verification /
    * expansion joins. The fattest case is a bucket row — fp, the short
    * sorted word set, NumBands band hashes plus its own key (~400 B),
    * and NumBands rows per rep — so the self-join build side at the
    * 2^20-row ceiling is ≤ ~400 MB of executor heap: inside a
    * big-executor budget, and the honest price of verifying collisions
    * inline instead of re-probing a rep table per collision row. A
    * web-scale corpus (millions of unique sets / billions of docs)
    * falls back to shuffle joins instead of OOMing, exactly like
    * [[BroadcastVocabMaxWords]].
    */
  private val BroadcastSideMaxRows = 1L << 20

  /** MinHash-LSH near-dup pairs, verified at word-Jaccard >= 0.9.
    * [[qMinhashLsh]] is the materializing form; [[qMinhashLshPlan]]
    * keeps the identical pipeline lazy for plan inspection.
    *
    * Building this frame runs EAGER JOBS: three small counts feed the
    * measured size guards (broadcast vs shuffle from real row counts,
    * not estimates — leaving the choice to AQE turned the vocab join
    * into a shuffle join over a 31-word vocabulary in the round-2
    * driver run, 222s vs ~20s broadcast), and the materializing form
    * additionally runs the pipeline itself through two staged
    * `localCheckpoint`s (see `cut` below).
    *
    * Shuffle inventory after the guards (the 100 TB shape): signature
    * groupBy and the final range-partitioned sort — nothing else. The
    * candidate blow-up (37% of all pairs on this fixture's 31-word
    * vocabulary) is never shuffled AND never leaves the collision
    * self-join's codegen loop: bucket rows carry (ws, n, all band
    * hashes), so the first-shared-band dedup, the length-ratio cut
    * and the early-exit `sorted_inter_atleast` verification all run
    * inline per probed row — a rejected candidate allocates nothing
    * and no rep table is re-probed per collision (round 7 paid two
    * broadcast probes per candidate; at 10× fixture scale that was
    * ~62M probes and the verify stage's dominant cost). Each pair is
    * verified exactly once and no post-verification distinct exists.
    * Candidate generation/verification and member expansion are
    * map-side broadcast joins while the bucket/member frames fit
    * [[BroadcastSideMaxRows]].
    *
    * Cache lifecycle — SELF-CONTAINED in the materializing form: the
    * driver bench hit 222.8s (r2) and 253.4s (r4) on runs the same
    * code reproduced at 16-20s, and the standing suspect is the peak
    * concurrent footprint (4 cached frames + 3 guarded broadcasts)
    * interacting with heap/GC state inherited from the rest of the
    * suite. `cut` therefore materializes each stage eagerly
    * (`localCheckpoint`, truncating lineage so the final sort's
    * range-partition sampling reads stored partitions instead of
    * re-running the expansion joins) and unpersists every cached
    * frame the moment its last consumer has run — construction
    * returns with NO caches resident and only the checkpointed
    * true-pair partitions alive. No reliance on the session owner's
    * `clearCache`, and repeated construction never stacks caches.
    *
    * Fault-tolerance tradeoff, stated explicitly: `localCheckpoint`
    * truncates lineage and keeps blocks in executor-local storage, so
    * on a multi-node cluster losing an executor after a cut makes
    * those partitions unrecoverable (the job fails and is resubmitted
    * from the source — acceptable for an idempotent batch dedup pass,
    * and exactly why the stage results are small true-pair sets, not
    * corpus-sized frames). A deployment that needs within-job
    * recovery swaps the cut lambda for reliable `checkpoint()` to
    * DFS, paying a replicated write per stage; the pipeline shape is
    * unchanged.
    */
  def qMinhashLsh(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir, (df, consumed) => {
      val ck = df.localCheckpoint() // eager: runs the stage now
      consumed.foreach(_.unpersist())
      ck
    })

  /** Identical pipeline, no checkpoints/unpersists: the executed plan
    * of the FULL query (joins, broadcasts, exchanges) stays
    * inspectable end to end — the plan-shape specs and PlanDump use
    * this form. Runs the three guard counts but no other jobs.
    */
  private[graft] def qMinhashLshPlan(spark: SparkSession, dir: String): DataFrame =
    lshPairs(spark, dir, (df, _) => df)

  /** The shared pipeline; `cut(stage, consumedCaches)` is
    * applied at the three stage boundaries (post-banding,
    * post-verification, post-expansion).
    */
  private def lshPairs(
      spark: SparkSession, dir: String,
      cut: (DataFrame, Seq[DataFrame]) => DataFrame): DataFrame = {
    Engine.register(spark) // sorted_inter_count on the verification path
    val docs = uniqueSets(spark, dir).cache()
    val reps = docs.groupBy(col("fp")).agg(
      min(col("doc_id")).as("rep_id"), count(lit(1)).as("n_members"),
      first(col("ws")).as("ws"), size(first(col("ws"))).as("n"))
      .cache()
    val nReps = reps.count() // materializes both caches; guards the hints
    val nDocs = docs.count() // cheap: docs is cached by the count above
    val vocab = reps.select(explode(col("ws")).as("w")).distinct().cache()
    val nVocab = vocab.count() // materializes the cache; guards the hint
    // Ceilings are session-conf-overridable so the shuffle-fallback
    // path is TESTABLE on real data without a >2^20-row fixture
    // (LshFallbackSpec forces both to 0 and asserts the no-hint plan
    // shape plus identical output). Production leaves the defaults.
    val vocabCeiling = spark.conf.getOption("graft.lsh.broadcastVocabMaxWords")
      .map(_.toLong).getOrElse(BroadcastVocabMaxWords)
    val sideCeiling = spark.conf.getOption("graft.lsh.broadcastSideMaxRows")
      .map(_.toLong).getOrElse(BroadcastSideMaxRows)
    def guard(df: DataFrame, rows: Long): DataFrame =
      if (rows <= sideCeiling) broadcast(df) else df

    // LSH over unique sets only
    val sigs = repSignatures(reps, vocab, nVocab, vocabCeiling)
    // Each bucket row carries the rep's word set `ws`, its size `n`,
    // and all NumBands band hashes as SCALAR columns bh0..bh{N-1}
    // alongside its own (band, bh) bucket key. Fattening the bucket
    // rows (~400 B with a short word set) is what lets the collision
    // self-join below verify ENTIRELY inline: no per-collision
    // broadcast probes to re-attach the arrays, no per-row array
    // allocation for the first-shared-band test. The (ws, n) attach
    // is one rep-frame-sized broadcast join here — once per REP, not
    // once per collision row; round 7 paid that probe twice per
    // collision (31M pairs at 10× fixture scale) and it dominated the
    // verify stage's measured cost.
    val (bandCols, bandNames) = bandColumns()
    // stage boundary: the band-bucket frame feeds BOTH sides of the
    // collision self-join — the streaming side and the broadcast-build
    // future would otherwise race to materialize the same signature
    // lineage concurrently (block-lock serialization, duplicate
    // broadcast pressure). Cut here so both sides read stored
    // partitions; the vocab cache's last consumer is the signature
    // aggregate inside this stage.
    val buckets = cut(
      sigs
        .join(guard(reps.select(col("fp"), col("ws"), col("n")), nReps), "fp")
        .select(col("fp") +: col("ws") +: col("n") +: bandCols: _*)
        .select(col("fp") +: col("ws") +: col("n") +: bandNames :+
          posexplode(array(bandNames: _*)).as(Seq("band", "bh")): _*),
      Seq(vocab))
    // One (l,r) join row per shared band; three inline kills keep the
    // pipeline allocation-free and exactly-once per pair, all inside
    // the join's codegen loop:
    //  1. FIRST-SHARED-BAND: a when-chain over the scalar bh columns
    //     finds the first index where the two rows' band hashes agree
    //     (no zip_with/array_position allocation); keeping only the
    //     row whose own `band` is that index dedups the ≤ NumBands
    //     rows per pair to exactly one, with no post-verification
    //     distinct — the candidate-set distinct that round 2 measured
    //     as the plan's biggest shuffle stays gone.
    //  2. LENGTH-RATIO CUT: Jaccard <= min(n)/max(n), so J >= 0.9
    //     needs 10*min(na,nb) >= 9*max(na,nb) — integer math on the
    //     carried sizes, killing the (measured) majority of colliding
    //     pairs before any array is touched.
    //  3. EARLY-EXIT MERGE-COUNT: `sorted_inter_atleast(a, b, 9, 10)`
    //     returns the exact intersection size iff the pair reaches
    //     J >= 0.9, else -1 the moment `n + min(remaining)` can no
    //     longer reach ceil(9*(na+nb)/19) — a failing like-sized pair
    //     aborts after ~5% of the smaller array. `inter >= 0` is
    //     exactly the old `inter*10 >= union_n*9` filter.
    // The oracle computes the same count via the join formulation.
    val firstSharedBand = (1 until NumBands).foldLeft(
      when(col("l.bh0") === col("r.bh0"), 0)) {
      (acc, b) => acc.when(col(s"l.bh$b") === col(s"r.bh$b"), b)
    }
    val bucketsB = guard(buckets, nReps * NumBands)
    val verified = buckets.as("l")
      .join(bucketsB.as("r"),
        col("l.band") === col("r.band") && col("l.bh") === col("r.bh") &&
          col("l.fp") < col("r.fp") &&
          col("l.n") * 10 >= col("r.n") * 9 &&
          col("r.n") * 10 >= col("l.n") * 9 &&
          firstSharedBand === col("l.band"))
      .withColumn("inter",
        graft.functions.dsl.sorted_inter_atleast(
          col("l.ws"), col("r.ws"), 9, 10))
      .filter(col("inter") >= 0)
      .withColumn("union_n", col("l.n") + col("r.n") - col("inter"))
      // drop the set arrays before the expansion — only the counts flow
      // on; rows are already one-per-pair (first-shared-band filter),
      // so no distinct is needed
      .select(col("l.fp").as("fp_a"), col("r.fp").as("fp_b"),
        col("inter"), col("union_n"))

    // stage boundary: the collision self-join is the engine's single
    // heaviest loop (tens of millions of candidate rows at 10×
    // fixture scale, all killed or verified inline above) — cut here
    // so the expansion stage starts from the small true-pair set. The
    // buckets checkpoint is dereferenced after this (its blocks fall
    // to the ContextCleaner); no cache()s to release.
    val verifiedM = cut(verified, Seq.empty)

    // expand cross-clique doc pairs (normalize to i < j); the member
    // map is one reused broadcast while it fits, so expansion is
    // map-side too
    val membersB = guard(
      docs.select(col("fp").as("m_fp"), col("doc_id")), nDocs)
    val cross = verifiedM
      .join(membersB.as("ma"), col("fp_a") === col("ma.m_fp"))
      .join(membersB.as("mb"), col("fp_b") === col("mb.m_fp"))
      .select(
        least(col("ma.doc_id"), col("mb.doc_id")).as("i"),
        greatest(col("ma.doc_id"), col("mb.doc_id")).as("j"),
        col("inter"), col("union_n"))

    // clique-internal pairs: identical sets, Jaccard = 1
    val intra = reps.filter(col("n_members") >= 2)
      .join(membersB.as("ma"), col("fp") === col("ma.m_fp"))
      .join(membersB.as("mb"), col("fp") === col("mb.m_fp"))
      .filter(col("ma.doc_id") < col("mb.doc_id"))
      .select(col("ma.doc_id").as("i"), col("mb.doc_id").as("j"),
        col("n").as("inter"), col("n").as("union_n"))

    // stage boundary before the global sort: range partitioning
    // samples its input, which would otherwise run the expansion
    // joins twice — the cut materializes the pair set once and
    // releases the last two caches (docs, reps)
    val pairs = cut(
      cross.unionByName(intra)
        .select(col("i"), col("j"), col("inter"), col("union_n"),
          floor(lit(100.0) * col("inter") / col("union_n")).cast("long").as("jac_pct")),
      Seq(docs, reps))
    pairs.orderBy("i", "j")
  }

  // --- SimHash -----------------------------------------------------------

  /** Per-doc SimHash fingerprint over the distinct word set, plus the
    * size of its identical-fingerprint cluster (the near-dup grouping).
    *
    * ONE md5 digest per token row: bit j is an unbiased coin read from
    * hex char j+1 of a single salted digest (>= '8' is 8 of 16
    * outcomes, and md5 hex chars are independent). The digest is
    * materialized as a projected column before the aggregate, so the
    * hash runs once per row — not once per (bit, token) as a per-bit
    * salt would (16x the hash work for identical statistics).
    */
  def qSimhash(spark: SparkSession, dir: String): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val sums = (0 until SimHashBits).map(j =>
      sum(when(substring(col("d"), j + 1, 1) >= "8", 1L).otherwise(-1L)).as(s"b$j"))
    val fp = (0 until SimHashBits)
      .map(j => when(col(s"b$j") >= 0, 1L << j).otherwise(0L))
      .reduce(_ + _)
    wordSet(spark, dir)
      .withColumn("d", md5(concat(lit("sh|"), col("w"))))
      .groupBy(col("doc_id")).agg(sums.head, sums.tail: _*)
      .select(col("doc_id"), fp.as("simhash"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("simhash"))))
      .orderBy("doc_id")
  }

  // --- direct n-gram (3-token shingle) Jaccard ---------------------------

  /** Distinct 3-token shingles per doc (docs under 3 tokens drop out). */
  private[operators] def shingles(docs: DataFrame): DataFrame =
    docs
      .withColumn("tk", split(col("text"), " "))
      .filter(size(col("tk")) >= 3)
      .select(col("doc_id"),
        explode(expr("array_distinct(transform(sequence(1, size(tk)-2), i -> concat_ws(' ', slice(tk, i, 3))))")).as("s"))

  /** Shared-shingle pair counts — the blocking self-join both Jaccard
    * variants run. `cap = Some(df)` drops shingles with document
    * frequency above `df` from blocking AND the similarity universe
    * before the join (the compile-time skew guard); `None` is the
    * exact all-pairs baseline. Exposed for the skew spec, which drives
    * both modes over a synthetic hot-shingle corpus.
    */
  /** The LSH band hashes `bh0..bh{NumBands-1}` — md5 over each band's
    * [[BandSize]] seed-hash columns — in ONE place for the inline
    * pipeline ([[lshPairs]]), the store writer ([[writeLshGen]]) and
    * the store probe ([[probeLshStore]]): persisted buckets are only
    * matchable while all three derive bit-identical band keys, and a
    * drifted copy would collapse probe recall silently (every batch
    * reads as "all new"). `prefix` renames the query side (`qbh`) so
    * the probe carries both sides' bands through its join. Returns
    * (aliased band expressions, the bare column refs).
    */
  private def bandColumns(
      prefix: String = "bh"): (Seq[Column], Seq[Column]) = {
    val cols = (0 until NumBands).map { b =>
      val parts = (0 until BandSize).map(r => col(s"h${b * BandSize + r}"))
      md5(concat(parts: _*)).as(s"$prefix$b")
    }
    (cols, (0 until NumBands).map(b => col(s"$prefix$b")))
  }

  private[operators] def shinglePairs(
      docs: DataFrame, cap: Option[Int]): DataFrame =
    cappedSelfJoin(shingles(docs), cap)._1

  /** The df-capped shingle self-join — census, cap filter, `<`-ordered
    * self-join, per-pair intersection count — shared by
    * [[shinglePairs]] (the spec driver) and [[cappedPairs]] (the
    * oracle-gated production path, which caches the frames): ONE
    * definition, so the blocking semantics (the cap comparison, the
    * join shape) cannot silently diverge between the path the spec
    * exercises and the path the oracle gates. Returns (pairs, kept
    * shingle universe) — the universe feeds the Jaccard size census.
    */
  private def cappedSelfJoin(
      sh: DataFrame, cap: Option[Int]): (DataFrame, DataFrame) = {
    val kept = cap.fold(sh) { c =>
      val rare = sh.groupBy(col("s")).agg(count(lit(1)).as("df"))
        .filter(col("df") <= c).select(col("s"))
      sh.join(rare, "s")
    }
    val pairs = kept.as("a")
      .join(kept.as("b"), col("a.s") === col("b.s") && col("a.doc_id") < col("b.doc_id"))
      .groupBy(col("a.doc_id").as("i"), col("b.doc_id").as("j"))
      .agg(count(lit(1)).as("inter"))
    (pairs, kept)
  }

  /** Jaccard filter + output shape shared by both variants. */
  private def jaccardOutput(pairs: DataFrame, universe: DataFrame): DataFrame = {
    val sizes = universe.groupBy(col("doc_id")).agg(count(lit(1)).as("n"))
    pairs
      .filter(col("inter") >= 2)
      .join(sizes.as("ci"), col("i") === col("ci.doc_id"))
      .join(sizes.as("cj"), col("j") === col("cj.doc_id"))
      .withColumn("union_n", col("ci.n") + col("cj.n") - col("inter"))
      .filter(col("inter") * 20 >= col("union_n"))
      .select(col("i"), col("j"), col("inter"), col("union_n"))
      .orderBy("i", "j")
  }

  /** All-pairs shingle Jaccard — the exact baseline LSH approximates.
    * O(pairs-sharing-a-shingle); the shared-shingle join IS the
    * blocking. Deliberately uncapped, and therefore SPEC-ONLY since
    * round 6: the uncapped shared-shingle self-join expands df² on a
    * hot shingle — the documented scale-killer its capped sibling
    * [[qNgramJaccardCapped]] guards against — so it serves as the
    * exact ground-truth baseline in DedupSpec (checked against an
    * independent in-memory computation) rather than sitting in the
    * gated bench/correctness surface, where it was the series' last
    * >3× flapper (3.6–36s on identical code; the fixture's 31-word
    * vocabulary makes every shingle hot). Residual runtime skew in
    * the capped production path falls to AQE's skew-join split,
    * exercised in AqeSkewSpec.
    */
  def qNgramJaccard(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(spark, dir, "documents")
    jaccardOutput(shinglePairs(docs, None), shingles(docs))
  }

  /** Document-frequency cap for the stop-shingle variant: shingles
    * shared by more than this many docs are excluded from blocking AND
    * from the similarity universe.
    */
  private val MaxShingleDf = 5

  /** Stop-shingle n-gram Jaccard: identical pipeline to
    * [[qNgramJaccard]], but shingles with document frequency >
    * `MaxShingleDf` are dropped BEFORE the self-join — the cap that
    * makes shared-shingle blocking survive web-scale data, where a hot
    * shingle ("click here to") would otherwise expand to df² join rows
    * on one key. Dropping stop-shingles from both the intersection and
    * the set sizes defines similarity over the informative-shingle
    * universe (the IDF intuition); the oracle applies the same cap, so
    * the semantics change is explicit and checked, not silent.
    */
  def qNgramJaccardCapped(spark: SparkSession, dir: String): DataFrame =
    cappedPairs(Engine.table(spark, dir, "documents"))

  /** The capped-Jaccard pair set (shared by [[qNgramJaccardCapped]]
    * and the cluster builder [[qDedupClusters]]).
    */
  private[operators] def cappedPairs(docs: DataFrame): DataFrame = {
    // cached: the shingle explode feeds the df census AND the kept
    // set, and kept feeds THREE consumers (both self-join sides and
    // the size census) — Spark shares no subplans across forks, so
    // uncached this plan re-tokenizes the corpus ~6×. Lazy; session
    // owners clearCache per query (the bm25Partials precedent).
    val sh = shingles(docs).cache()
    val (pairs, kept) = cappedSelfJoin(sh, Some(MaxShingleDf))
    // cache registration is by logical plan, so the pair plan built a
    // line above hits this cache at execution
    kept.cache()
    jaccardOutput(pairs, kept)
  }

  // --- near-dup clusters (connected components over the pair graph) ------

  /** Iteration cap for min-label propagation: propagation converges in
    * at most graph-diameter rounds; similarity graphs are
    * short-diameter (clusters are dense), and the fixture converges in
    * 2-3. A non-converged run THROWS rather than emitting a wrong
    * fixpoint.
    */
  private val MaxCcIters = 30

  /** Near-dup CLUSTERS from the capped-Jaccard pair graph — the
    * pipeline step after pair generation: connected components, a
    * canonical representative (min doc_id) per component, and the
    * keep/drop verdict per doc. This is what a dedup pass actually
    * ships: `is_kept = 1` rows form the deduplicated corpus, and
    * transitive chains (A~B, B~C) collapse into ONE cluster even
    * though A and C never paired directly.
    *
    * Algorithm: iterative min-label propagation — each round every
    * node takes the min of its own label and its neighbors' labels
    * (one join + one groupBy per round), with `localCheckpoint` per
    * iteration truncating the otherwise exponentially-nesting lineage
    * (THE classic iterative-DataFrame failure mode). The fixpoint
    * (every node labeled with its component's min id) is unique and
    * iteration-order independent, which is what makes the output
    * oracle-checkable: DuckDB computes the same fixpoint via a
    * recursive CTE. At 100 TB the same per-round shape (join +
    * min-aggregate, state = one (node, label) row per doc) runs the
    * large-star/small-star variant for O(log n) rounds; propagation
    * here is diameter-bounded, which dense near-dup clusters keep
    * small.
    */
  /** Release the storage blocks behind a `localCheckpoint()`ed frame
    * the moment its last consumer has run, instead of waiting for GC +
    * ContextCleaner to notice the dropped reference — the iterative
    * queries otherwise keep up to [[MaxCcIters]] label snapshots
    * simultaneously resident, cutting against the cache-hygiene
    * contract the minhash pipeline establishes. (A checkpointed frame
    * is a `LogicalRDD` leaf; unpersisting its RDD frees the blocks.)
    */
  private[operators] def freeLocalCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed.foreach {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Min-label propagation over an arbitrary edge list. `nodes` is one
    * `node` column (singletons must label themselves); `pairs` carries
    * undirected edges as (i, j). Returns (labels`(node, comp)`,
    * rounds). THROWS after `maxIters` non-converged rounds rather than
    * emitting a wrong fixpoint. Exposed for the spec's chain-graph
    * contrast with [[starComponents]].
    */
  private[operators] def propagationComponents(
      nodes: DataFrame, pairs: DataFrame, maxIters: Int): (DataFrame, Int) = {
    val edges = pairs
      .unionByName(pairs.select(col("j").as("i"), col("i").as("j")))
      .select(col("i").as("a"), col("j").as("b"))
      .localCheckpoint() // runs pair generation ONCE; frees its lineage
    var labels = nodes.select(col("node"), col("node").as("comp"))
      .localCheckpoint()
    var converged = false
    var iter = 0
    while (!converged && iter < maxIters) {
      iter += 1
      val nb = edges.join(labels, edges("b") === labels("node"))
        .groupBy(col("a")).agg(min(col("comp")).as("nb_comp"))
      // the change flag rides the same join that computes the new
      // label, so convergence is one filter over the checkpointed
      // round — not a second full node-set join per round
      val next = labels.join(nb, labels("node") === nb("a"), "left")
        .select(col("node"),
          least(col("comp"), coalesce(col("nb_comp"), col("comp"))).as("comp"),
          (col("nb_comp").isNotNull && col("nb_comp") < col("comp")).as("chg"))
        .localCheckpoint()
      converged = next.filter(col("chg")).isEmpty
      freeLocalCheckpoint(labels) // the label join was its last consumer
      labels = next.select(col("node"), col("comp"))
    }
    freeLocalCheckpoint(edges) // the final labels snapshot doesn't read it
    if (!converged)
      sys.error(s"connected components did not converge in $maxIters rounds")
    (labels, iter)
  }

  /** Round cap for star contraction: alternating large-star/small-star
    * needs O(log² n) rounds worst-case (typically far fewer — the
    * 1000-node chain in DedupSpec converges in ~10), independent of
    * graph DIAMETER, which is what bounds propagation. THROW rather
    * than emit a wrong fixpoint, as with [[MaxCcIters]].
    */
  private val MaxStarIters = 40

  /** Alternating large-star/small-star connected components (the
    * MapReduce CC construction of Kiveris et al., "Connected
    * Components in MapReduce and Beyond", SoCC'14) — the 100 TB
    * variant [[qDedupClusters]]'s doc promises: each star step is ONE
    * exchange of the edge list (the per-endpoint minimum is an
    * unbounded window frame over the key-partitioned stream, so the
    * min and the re-attachment read the same shuffle — a groupBy +
    * self-join form moves the edge list twice per step for the same
    * result), and the round count is O(log² n) worst-case
    * instead of O(diameter), so chain-shaped adversarial graphs
    * converge in ~10 rounds where propagation needs one round per hop
    * (DedupSpec measures exactly that contrast).
    *
    * Edges are kept canonical as (hi, lo), hi > lo:
    *  - large-star(u): m = min(Γ(u) ∪ u); every neighbor v > u
    *    re-attaches to m — emitted over the symmetrized edge list.
    *  - small-star(u): over canonical edges grouped by hi: m =
    *    min(lo); hi and each lo ≠ m re-attach to m.
    * Both preserve connectivity; their fixpoints are exactly star
    * graphs (every node linked directly to its component's min), so
    * convergence = "small-star round returned the identical edge
    * set", checked distributively (equal counts + one-sided
    * exceptAll, which for distinct sets of equal size is equality).
    * Labels then read straight off the final stars; `nodes` supplies
    * the singletons. Per-round `localCheckpoint` + immediate
    * [[freeLocalCheckpoint]] keep lineage flat and at most one
    * snapshot resident, as in the propagation loop.
    */
  private[operators] def starComponents(
      nodes: DataFrame, pairs: DataFrame): (DataFrame, Int) = {
    import org.apache.spark.sql.expressions.Window
    var edges = pairs
      .select(greatest(col("i"), col("j")).as("hi"),
        least(col("i"), col("j")).as("lo"))
      .filter(col("hi") =!= col("lo")).distinct()
      .localCheckpoint() // runs pair generation ONCE; frees its lineage
    // carried across rounds: this round's |small| is next round's
    // |edges|, so the convergence count check costs one job, not two
    var nEdges = edges.count()
    var rounds = 0
    var converged = false
    while (!converged && rounds < MaxStarIters) {
      rounds += 1
      // per-group minima as unbounded window frames over the already
      // key-partitioned edge stream: one exchange per star step,
      // where the groupBy + self-join form pays a second full-edge
      // exchange per step to move the same rows to the same keys
      val sym = edges.select(col("hi").as("u"), col("lo").as("v"))
        .unionByName(edges.select(col("lo").as("u"), col("hi").as("v")))
      // v > u >= m and m != v: emitted edges stay canonical (hi > lo)
      val large = sym
        .withColumn("m", least(min(col("v")).over(Window.partitionBy(col("u"))),
          col("u")))
        .filter(col("v") > col("u"))
        .select(col("v").as("hi"), col("m").as("lo")).distinct()
      val withM = large
        .withColumn("m", min(col("lo")).over(Window.partitionBy(col("hi"))))
      val small = withM.select(col("hi"), col("m").as("lo"))
        .unionByName(withM.filter(col("lo") =!= col("m"))
          .select(col("lo").as("hi"), col("m").as("lo")))
        .distinct()
        .localCheckpoint()
      val nSmall = small.count()
      converged = nSmall == nEdges && small.exceptAll(edges).isEmpty
      freeLocalCheckpoint(edges) // the equality check was its last read
      edges = small
      nEdges = nSmall
    }
    if (!converged)
      sys.error(s"star contraction did not converge in $MaxStarIters rounds")
    // at the fixpoint each non-center node carries exactly one edge
    // (node → component min); the groupBy is an identity safety net
    val star = edges.groupBy(col("hi")).agg(min(col("lo")).as("comp"))
    val labels = nodes
      .join(star, nodes("node") === star("hi"), "left")
      .select(col("node"), coalesce(col("comp"), col("node")).as("comp"))
    (labels, rounds)
  }

  /** Cluster verdict shape shared by both CC variants. */
  private[operators] def clusterVerdict(labels: DataFrame): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    labels
      .select(col("node").as("doc_id"), col("comp").as("cluster_rep"))
      .withColumn("cluster_size",
        count(lit(1)).over(Window.partitionBy(col("cluster_rep"))))
      .withColumn("is_kept",
        when(col("doc_id") === col("cluster_rep"), 1L).otherwise(0L))
      .orderBy("doc_id")
  }

  /** Result of [[incrementalComponents]]: the merged assignment, the
    * subset of rows whose assignment could have changed (touched
    * components' members + new nodes — O(batch + touched), what a
    * partition-level store commit writes), plus the two frames the
    * not-recomputed contract is asserted on (the active merge graph's
    * nodes and the stored components it touched).
    */
  private[operators] final case class IncrementalCc(
      labels: DataFrame, touchedLabels: DataFrame,
      activeNodes: DataFrame, touchedReps: DataFrame,
      ckpt: DataFrame)

  /** Merge NEW edges into a STORED cluster assignment, re-solving only
    * the touched subgraph — the 100 TB shape of cluster maintenance:
    * a full recluster is O(corpus) every ingest; this is O(batch +
    * touched components).
    *
    * Algebra: every stored endpoint of a new edge CONTRACTS to its
    * stored component representative (one join against the assignment
    * — reps are component minima, so contraction preserves the merged
    * component's min label). The merge graph's nodes are just the new
    * nodes plus the touched reps; [[starComponents]] solves it, and
    * the result stitches: untouched components pass through BY
    * REFERENCE (never scanned by the solver — IncrementalCcSpec
    * counts), touched stored nodes relabel through their old rep's new
    * label (join on the rep, not per-node recompute), new nodes take
    * their merge-graph label. Correct for any new-edge set that
    * touches at least one new node per edge, including merges of two
    * stored components through a purely-new path (both contract into
    * the same merge component).
    *
    * `newEdges` must carry every pair not already reflected in
    * `storedLabels` — pair DISCOVERY incrementality is the persisted
    * LSH store's job ([[qNeardupAppend]]); this operator owns
    * assignment maintenance given those pairs.
    */
  private[operators] def incrementalComponents(
      storedLabels: DataFrame, newNodes: DataFrame,
      newEdges: DataFrame): IncrementalCc = {
    val li = storedLabels.select(col("node").as("i"), col("comp").as("ci"))
    val lj = storedLabels.select(col("node").as("j"), col("comp").as("cj"))
    val e2 = newEdges.join(li, Seq("i"), "left").join(lj, Seq("j"), "left")
      .localCheckpoint() // two consumers below; pair generation runs once
    val touchedReps = e2.select(col("ci").as("r"))
      .unionByName(e2.select(col("cj").as("r")))
      .filter(col("r").isNotNull).distinct()
    val contracted = e2.select(
      coalesce(col("ci"), col("i")).as("i"),
      coalesce(col("cj"), col("j")).as("j"))
    val activeNodes = newNodes.select(col("node"))
      .unionByName(touchedReps.select(col("r").as("node"))).distinct()
    val (merged, _) = starComponents(activeNodes, contracted)
    // stitch: untouched stored comps unchanged; touched stored nodes
    // relabel via their rep; new nodes read their merge-graph label
    val untouched = storedLabels.join(
      touchedReps.select(col("r").as("comp")), Seq("comp"), "left_anti")
      .select(col("node"), col("comp"))
    val repMap = merged.select(col("node").as("comp"), col("comp").as("mc"))
    val relabeled = storedLabels
      .join(touchedReps.select(col("r").as("comp")), Seq("comp"), "left_semi")
      .join(repMap, Seq("comp"))
      .select(col("node"), col("mc").as("comp"))
    val newLabels = merged.join(newNodes, Seq("node"), "left_semi")
      .select(col("node"), col("comp"))
    val touchedLabels = relabeled.unionByName(newLabels)
    // e2's checkpoint rides out in `ckpt` so a caller that fully
    // materializes the result (e.g. the per-micro-batch store commit)
    // can free the blocks instead of accumulating one cached RDD per
    // call until session teardown
    IncrementalCc(
      untouched.unionByName(touchedLabels), touchedLabels,
      activeNodes, touchedReps, e2)
  }

  /** The gated incremental-clustering query — the cluster-store
    * LIFECYCLE: the even-id half's assignment is computed, COMMITTED
    * to a manifest-versioned store ([[graft.sources.IndexCatalog]],
    * same mechanism as the LSH/IVF stores), read back, and the odd-id
    * half arrives as an ingest batch whose pairs merge into the stored
    * assignment via [[incrementalComponents]] — full-corpus verdict,
    * identical to a from-scratch recluster (same recursive-CTE oracle
    * as q_dedup_clusters; IncrementalCcSpec additionally proves the
    * untouched components were never re-solved). The capped pair set
    * is computed over the full corpus ONCE and split by arrival half:
    * the df-cap is corpus-global, so at production scale the stored
    * pair graph reflects each ingest's cap — this query pins the
    * maintenance ALGEBRA, the cap's drift is a documented property of
    * df-capped similarity, not of the merge.
    */
  /** The even-corpus base cluster assignment, SOLVED AND COMMITTED
    * once per process ([[graft.sources.StoreFixtures]]): both
    * `q_cluster_append` and `q_stream_cluster_append` open on this
    * identical immutable store (pairs capped corpus-globally, evens
    * solved by star contraction, labels committed as v1) and spend
    * their proof value on the INCREMENTAL step that follows. The
    * solver itself stays exercised by the template build and by
    * `q_dedup_star`/`q_dedup_clusters`, which solve the full corpus
    * uncached every run.
    */
  private[operators] def cloneClusterBase(
      spark: SparkSession, dir: String, store: String): Unit =
    // ONE template serves both consumers: the store is written in the
    // part= layout q_stream_cluster_append's rebasing commits need,
    // and q_cluster_append's direct leaf-file read sees exactly the
    // (node, label) data columns — the partition value lives in the
    // directory names it doesn't read
    FixtureTemplates.cloneInto("cluster_base", spark, dir, store)

  /** The `cluster_base` template body: solve the even-id half's
    * connected components (pairs capped corpus-globally) and commit
    * the assignment as the store's v1.
    */
  private[operators] def buildClusterBaseTemplate(
      spark: SparkSession, dir: String, d: String): Unit = {
    val docs = Engine.table(spark, dir, "documents")
    val basePairs = cappedPairs(docs).select(col("i"), col("j"))
      .filter(col("i") % 2 === 0 && col("j") % 2 === 0)
    val (baseLabels, _) = starComponents(
      docs.filter(col("doc_id") % 2 === 0).select(col("doc_id").as("node")),
      basePairs)
    graft.operators.StreamingQueries.commitClusterBase(baseLabels, d)
    ()
  }

  def qClusterAppend(spark: SparkSession, dir: String): DataFrame = {
    // the arriving merge batch — odd-node arrivals (j IS NULL) plus
    // the odd-touching capped pairs — is the SAME feed
    // q_stream_cluster_append ingests, read from the feed registry:
    // input ARRIVAL, not merge work (the pair-discovery operators
    // proper, q_dedup_clusters / q_dedup_star, keep their in-band
    // cappedPairs pass — discovery IS their operator)
    val feed = spark.read.parquet(
      FixtureTemplates.readOnlyPath("feed_cluster", spark, dir))
    val newEdges = feed.filter(col("j").isNotNull).select(col("i"), col("j"))
      .localCheckpoint() // the incremental solver iterates over these
    // the base assignment comes from the committed store and is read
    // BACK — the incremental step consumes stored state, never the
    // in-memory lineage
    val store = java.nio.file.Files.createTempDirectory("graft_ccstore").toString
    try cloneClusterBase(spark, dir, store)
    catch {
      case e: Throwable =>
        scala.util.Try(graft.Fs.deleteRecursively(store)); throw e
    }
    graft.Lease.lease("q_cluster_append", Seq(store))
    val stored = spark.read
      .parquet(graft.sources.IndexCatalog.latestFiles(store): _*)
    val inc = incrementalComponents(stored,
      feed.filter(col("j").isNull).select(col("i").as("node")),
      newEdges)
    clusterVerdict(inc.labels)
  }

  def qDedupClusters(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(spark, dir, "documents")
    val pairs = cappedPairs(docs).select(col("i"), col("j"))
    val (labels, _) = propagationComponents(
      docs.select(col("doc_id").as("node")), pairs, MaxCcIters)
    clusterVerdict(labels)
  }

  /** The star-contraction form of [[qDedupClusters]]: identical output
    * contract (same fixpoint, same recursive-CTE oracle), O(log² n)
    * rounds instead of O(diameter) — the variant a 100 TB pair graph
    * with long chains runs.
    */
  def qDedupClustersStar(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(spark, dir, "documents")
    val pairs = cappedPairs(docs).select(col("i"), col("j"))
    val (labels, _) = starComponents(
      docs.select(col("doc_id").as("node")), pairs)
    clusterVerdict(labels)
  }

  // --- persisted LSH bucket store (incremental near-dup ingest) ----------

  /** Build the corpus's MinHash-LSH band-bucket STORE under `base` —
    * the near-dup analogue of [[SimilarityQueries.buildIvfIndex]]'s
    * write-once/probe-many posture: at 100 TB the corpus's shingle →
    * signature → band work runs ONCE at ingest, and every later batch
    * probes the stored buckets instead of re-hashing the corpus.
    * Stored rows are exactly the fattened bucket rows the inline
    * pipeline self-joins ([[lshPairs]]): fp, the sorted word set `ws`,
    * its size `n`, all band hashes as scalar columns (for the
    * first-shared-band dedup) and the exploded (band, bh) bucket key —
    * so a probe needs NO side lookups, the same
    * verify-inline-no-reprobe property the round-7 rework bought.
    * Unique-set dedup applies (one row set per distinct fp): a batch
    * doc matching a rep matches every member, and existence is all an
    * ingest verdict needs. The hash family is stateless
    * (`md5("<seed>|" || w)`), so index and probe agree with no shared
    * vocabulary table.
    *
    * The store commits through [[graft.sources.IndexCatalog]]: each
    * build/append writes a new GENERATION of immutable files and the
    * manifest rename publishes it — readers of the old version are
    * undisturbed, a crashed writer is invisible, and append never
    * touches a committed byte.
    */
  private[operators] def buildLshStore(
      spark: SparkSession, dir: String, base: String): Unit =
    writeLshGen(spark,
      Engine.table(spark, dir, "documents").filter(col("doc_id") % 2 === 0),
      base, excludeStored = false)

  /** Append an ingest batch's band rows INTO the store as a new
    * committed generation. Reps whose fingerprint is already stored
    * are skipped (an anti-join on the 32-char digest column — the only
    * store scan, no text, no signatures): the store keeps exactly one
    * row set per distinct word set, so append-then-probe is
    * rep-for-rep what a from-scratch rebuild over the grown corpus
    * produces, and repeated appends of overlapping batches cannot
    * balloon it. The signature/band work is batch-only — the corpus is
    * never re-hashed, which is the point of maintaining the index.
    */
  private[operators] def appendLshStore(
      spark: SparkSession, docs: DataFrame, base: String): Unit =
    writeLshGen(spark, docs, base, excludeStored = true)

  /** Shared generation writer for [[buildLshStore]]/[[appendLshStore]]:
    * distinct word sets of `docs` → rep rows (minus already-stored fps
    * when `excludeStored`) → signatures → fattened band rows, written
    * to a fresh generation dir and committed atomically.
    */
  private def writeLshGen(
      spark: SparkSession, docs: DataFrame, base: String,
      excludeStored: Boolean): Unit = {
    val sets = docs.select(col("doc_id"),
      sort_array(array_distinct(split(col("text"), " "))).as("ws"))
      .withColumn("fp", md5(concat_ws(" ", col("ws"))))
    val fresh = sets.groupBy(col("fp")).agg(
      first(col("ws")).as("ws"), size(first(col("ws"))).as("n"))
    val storedFiles =
      if (excludeStored) graft.sources.IndexCatalog.latestFiles(base)
      else Seq.empty
    val reps = (if (storedFiles.nonEmpty) {
      val storedFps = spark.read.schema(lshStoreSchema)
        .parquet(storedFiles: _*).select(col("fp")).distinct()
      fresh.join(storedFps, Seq("fp"), "left_anti")
    } else fresh).cache()
    val vocab = reps.select(explode(col("ws")).as("w")).distinct()
    val nVocab = vocab.count() // measured broadcast guard, as in lshPairs
    val sigs = repSignatures(reps, vocab, nVocab, BroadcastVocabMaxWords)
    val (bandCols, bandNames) = bandColumns()
    try {
      val gen = graft.sources.IndexCatalog.newGenDir(base)
      sigs.join(reps, "fp")
        .select(col("fp") +: col("ws") +: col("n") +: bandCols: _*)
        .select(col("fp") +: col("ws") +: col("n") +: bandNames :+
          posexplode(array(bandNames: _*)).as(Seq("band", "bh")): _*)
        .write.mode("overwrite").parquet(gen)
      // ride the optimistic-retry loop like every other store writer:
      // commit() re-reads currentVersion per attempt, so losing the
      // version CAS to a concurrent committer re-publishes against the
      // winner's state instead of aborting the ingest
      graft.sources.IndexCatalog.retryingCommit()(
        graft.sources.IndexCatalog.commit(base, gen))
      ()
    } finally reps.unpersist()
  }

  /** Probe the STORED buckets with an ingest batch (odd doc_ids): the
    * batch computes its own signatures directly (it is the small side
    * — per-word seed hashes, no vocabulary join needed), joins its
    * (band, bh) keys against the store, and verifies inline with the
    * inline pipeline's exact kill chain — first-shared-band dedup
    * (both sides carry their band hashes as scalars), the integer
    * length-ratio cut, and the early-exit `sorted_inter_atleast`
    * merge walk at Jaccard >= 0.9. Output: per-source ingest census
    * (incoming / near-dup-of-corpus / new). The corpus's text is
    * never touched at probe time — only stored bucket rows — and the
    * only shuffles are the batch's own signature groupBy, the
    * (band, bh) equi-join, and the census aggregate.
    */
  private[operators] def probeLshStore(
      spark: SparkSession, dir: String, base: String,
      batchFilter: Column = col("doc_id") % 2 === 1): DataFrame = {
    val (census, incoming, qreps) =
      probeLshStoreFrame(spark, dir, base, batchFilter)
    // Materialize the (source-count-sized) census eagerly, then release
    // both batch-sized cached inputs — without this, every probe call in
    // a long-lived session leaves two fresh cached frames resident until
    // teardown (the writeLshGen reps.unpersist() precedent). The
    // checkpointed census is a few rows; its blocks are freed by the
    // ContextCleaner once the caller drops the frame.
    try census.localCheckpoint()
    finally { incoming.unpersist(); qreps.unpersist() }
  }

  /** The probe's LAZY census frame plus its two cached inputs — the
    * plan-inspectable form (the [[qMinhashLshPlan]] precedent): the
    * spec asserts scan/join shape on the UNCUT plan, which the
    * materializing wrapper above necessarily truncates to a
    * `LogicalRDD` leaf. Callers own the two caches' release.
    */
  private[operators] def probeLshStoreFrame(
      spark: SparkSession, dir: String, base: String,
      batchFilter: Column): (DataFrame, DataFrame, DataFrame) = {
    Engine.register(spark) // sorted_inter_atleast on the verify path
    val store = spark.read.schema(lshStoreSchema)
      .parquet(graft.sources.IndexCatalog.latestFiles(base): _*)
    // cached: the batch tokenize+md5 frame feeds the rep groupBy AND
    // the final census join, and qreps below fans out to four
    // consumers (vocab explode, signature join, band attach, the
    // broadcast-guard count) — uncached, each consumer re-reads the
    // documents table and re-hashes the batch from scratch (the
    // writeLshGen `reps` precedent). Both frames are batch-sized;
    // they stay resident for the session like any cached probe input,
    // bounded by the two probe queries that build them.
    val incoming = Engine.table(spark, dir, "documents")
      .filter(batchFilter)
      .select(col("doc_id"), col("source"),
        sort_array(array_distinct(split(col("text"), " "))).as("dws"))
      .withColumn("qfp", md5(concat_ws(" ", col("dws"))))
      .cache()
    // Unique-set dedup on the batch side too — the inline pipeline's
    // founding trick ([[lshPairs]]): docs with identical word sets
    // have identical signatures and verdicts, so candidates and
    // verification run once per distinct set and the census joins
    // the verdict back by fingerprint. Without it the probe's
    // candidate volume multiplies by the batch's duplication factor
    // (measured 5x the whole query's wall at sf0.1). The seed-hash
    // work is also vocab-joined (hash once per distinct word), same
    // as the corpus build.
    val qreps = incoming.groupBy(col("qfp")).agg(
      first(col("dws")).as("ws"), size(first(col("dws"))).as("qn"))
      .cache() // populated by the broadcast-guard count below
    val bVocab = qreps.select(explode(col("ws")).as("w")).distinct()
    val nBVocab = bVocab.count()
    val sigs = repSignatures(
      qreps, bVocab, nBVocab, BroadcastVocabMaxWords, key = "qfp")
    val (bandCols, bandNames) = bandColumns(prefix = "qbh")
    val qb = sigs.join(qreps, "qfp")
      .select(col("qfp") +: col("ws").as("qws") +: col("qn") +: bandCols: _*)
      .select(col("qfp") +: col("qws") +: col("qn") +: bandNames :+
        posexplode(array(bandNames: _*)).as(Seq("band", "bh")): _*)
    // Measured broadcast guard on the BATCH side (it is the small
    // side by the ingest contract): broadcasting the batch's band
    // rows keeps the verify loop on the store scan's full
    // parallelism — the SMJ form shuffled both sides onto the
    // (band, bh) key space and AQE-coalesced the verify stage down
    // to a few tasks (sf1 standalone: ~23s probe wall at ~4 busy
    // threads vs ~9s at full width). Falls back to the shuffle join
    // when the batch outgrows the ceiling, like every guard in this
    // module.
    val firstSharedBand = (1 until NumBands).foldLeft(
      when(col("qbh0") === col("bh0"), 0)) {
      (acc, b) => acc.when(col(s"qbh$b") === col(s"bh$b"), b)
    }
    val nQb = qreps.count() * NumBands
    val qbB = if (nQb <= BroadcastSideMaxRows) broadcast(qb) else qb
    val hits = qbB.join(store,
        qbB("band") === store("band") && qbB("bh") === store("bh") &&
          col("qn") * 10 >= col("n") * 9 &&
          col("n") * 10 >= col("qn") * 9 &&
          firstSharedBand === qb("band"))
      // array_compact re-asserts the writer-guaranteed null-free
      // element type that file-source schema recovery drops (a read
      // schema is forced nullable for file sources, so declaring it
      // there cannot help); it runs only on rows that survived the
      // band + ratio cuts, one element-copy per verified candidate
      .withColumn("inter",
        graft.functions.dsl.sorted_inter_atleast(
          col("qws"), array_compact(col("ws")), 9, 10))
      .filter(col("inter") >= 0)
      .select(col("qfp")).distinct()
    val census = incoming
      .select(col("doc_id"), col("source"), col("qfp"))
      .join(hits.withColumn("hit", lit(1L)), Seq("qfp"), "left_outer")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_incoming"),
        sum(when(col("hit").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_neardup"),
        sum(when(col("hit").isNull, 1L).otherwise(0L))
          .cast("long").as("n_new"))
      .orderBy("source")
    (census, incoming, qreps)
  }

  /** The bucket store's declared read schema (stable column types
    * without an inference pass; file sources force it nullable, so
    * the null-free element contract is re-asserted at the verify
    * expression instead — see [[probeLshStore]]).
    */
  private val lshStoreSchema: org.apache.spark.sql.types.StructType = {
    import org.apache.spark.sql.types._
    StructType(
      Seq(
        StructField("fp", StringType),
        StructField("ws", ArrayType(StringType, containsNull = false)),
        StructField("n", IntegerType)) ++
      (0 until NumBands).map(b => StructField(s"bh$b", StringType)) ++
      Seq(StructField("band", IntegerType), StructField("bh", StringType)))
  }

  /** The gated ingest query: build the store once, answer the census
    * from it alone (the harness gives each invocation a fresh temp
    * dir; production builds at ingest and probes per batch —
    * [[graft.Lease]] owns the dir lifetime). Oracle: the identical
    * banded candidate + exact-verify pipeline in SQL, restricted to
    * (incoming odd) x (corpus even) pairs.
    */
  /** [[buildLshStore]] through the process-wide fixture cache
    * ([[graft.sources.StoreFixtures]]): qNeardupIngest and
    * qNeardupAppend both open with the identical even-corpus band
    * store; their proof value is the probe / append that follows.
    */
  private def buildLshStoreCached(
      spark: SparkSession, dir: String, base: String): Unit =
    FixtureTemplates.cloneInto("lsh_bands", spark, dir, base)

  def qNeardupIngest(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_lshstore").toString
    try buildLshStoreCached(spark, dir, base)
    catch {
      case e: Throwable =>
        scala.util.Try(graft.Fs.deleteRecursively(base)); throw e
    }
    graft.Lease.lease("q_neardup_ingest", Seq(base))
    probeLshStore(spark, dir, base)
  }

  /** [[qNeardupIngest]]'s LAZY probe plan over a fresh store clone —
    * the plan-inspectable form for PlanDump ([[qMinhashLshPlan]]
    * precedent): the gated query materializes through a
    * `localCheckpoint` (to release the probe caches), which truncates
    * its visible plan to a `LogicalRDD` leaf, so the store-scan /
    * equi-join / broadcast-guard evidence must be dumped from the
    * uncut frame. Caller owns the store lease and cache lifetime
    * (PlanDump's session is ephemeral).
    */
  private[graft] def qNeardupIngestPlan(
      spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_lshplan").toString
    buildLshStoreCached(spark, dir, base)
    graft.Lease.lease("q_neardup_ingest_plan", Seq(base))
    probeLshStoreFrame(spark, dir, base, col("doc_id") % 2 === 1)._1
  }

  /** The append-maintained form of [[qNeardupIngest]] — the full index
    * LIFECYCLE a 100 TB ingest pipeline runs: build the store from the
    * base corpus (even doc_ids), APPEND batch A (doc_id % 4 == 1) as a
    * new committed generation — old files byte-untouched, manifest
    * rename publishes — then answer batch B's (doc_id % 4 == 3) census
    * from the grown store alone. B's near-dup verdict is against
    * corpus ∪ A exactly as if the index had been rebuilt from scratch
    * (NeardupAppendSpec proves probe-equivalence and old-file
    * immutability; the oracle recomputes the same pipeline over the
    * widened corpus predicate). Only batch text is ever re-hashed;
    * append cost is proportional to the batch, probe cost to the
    * store scan — nothing is proportional to corpus re-processing.
    */
  def qNeardupAppend(spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_lshappend").toString
    try {
      buildLshStoreCached(spark, dir, base)
      appendLshStore(spark,
        Engine.table(spark, dir, "documents").filter(col("doc_id") % 4 === 1),
        base)
    } catch {
      case e: Throwable =>
        scala.util.Try(graft.Fs.deleteRecursively(base)); throw e
    }
    graft.Lease.lease("q_neardup_append", Seq(base))
    probeLshStore(spark, dir, base, col("doc_id") % 4 === 3)
  }

  /** [[qNeardupAppend]]'s LAZY probe plan over a grown store clone —
    * see [[qNeardupIngestPlan]] for why the plan form exists.
    */
  private[graft] def qNeardupAppendPlan(
      spark: SparkSession, dir: String): DataFrame = {
    val base = java.nio.file.Files.createTempDirectory("graft_lshplanA").toString
    buildLshStoreCached(spark, dir, base)
    appendLshStore(spark,
      Engine.table(spark, dir, "documents").filter(col("doc_id") % 4 === 1),
      base)
    graft.Lease.lease("q_neardup_append_plan", Seq(base))
    probeLshStoreFrame(spark, dir, base, col("doc_id") % 4 === 3)._1
  }

  // --- registry ----------------------------------------------------------

  /** Incremental (cross-corpus) dedup — the shape a pipeline runs on
    * every ingest batch: incoming documents (odd doc_ids here) check
    * their content hash against the EXISTING corpus (even doc_ids) and
    * only unseen content survives. The fixture has no natural exact
    * duplicates, so incoming docs with doc_id % 10 == 1 deterministically
    * carry the text of their (existing) predecessor — a join-produced
    * duplicate both engines construct identically. Scale shape: the
    * membership check is a semi-join on the content hash — broadcast
    * when the daily batch is small, shuffle otherwise — and NOTHING
    * rescans the existing corpus's text, only its hash column (at
    * production scale a stored fingerprint table). Output: per-source
    * ingest census (incoming / duplicate / new).
    */
  def qIncrementalDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(spark, dir, "documents")
    val existing = docs.filter(col("doc_id") % 2 === 0)
      .select(md5(col("text")).as("h_existing")).distinct()
    // hash BEFORE the join: only 32-char digests cross the exchange,
    // never document text — the shape the scaladoc promises
    val donors = docs.select(col("doc_id").as("b_id"), md5(col("text")).as("b_h"))
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id"), col("source"), md5(col("text")).as("own_h"),
        when(col("doc_id") % 10 === 1, col("doc_id") - 1).as("donor_id"))
      // LEFT join + fallback to the doc's own hash: a corpus whose
      // donor id is absent (doc_ids not starting at 0, filtered shard)
      // must not silently drop the doc from the census
      .join(donors, col("donor_id") === col("b_id"), "left_outer")
      .select(col("doc_id"), col("source"),
        coalesce(col("b_h"), col("own_h")).as("h"))
    incoming
      .join(existing, col("h") === col("h_existing"), "left_outer")
      .groupBy(col("source"))
      .agg(
        count(lit(1)).as("n_incoming"),
        sum(when(col("h_existing").isNotNull, 1L).otherwise(0L))
          .cast("long").as("n_dup"),
        sum(when(col("h_existing").isNull, 1L).otherwise(0L))
          .cast("long").as("n_new"))
      .orderBy("source")
  }

  /** Edit-distance threshold / blocking-key width / per-key df cap
    * for [[qEditDedup]] — shared verbatim with the oracle text.
    */
  private val EditD = 4
  private val EditBlock = 16
  private val EditCap = 64

  /** Blocked EDIT-DISTANCE near-dup — the typo/small-revision dedup
    * modality, orthogonal to every other family here: shingle Jaccard
    * and MinHash see a 3-character suffix edit as ~identical sets (no
    * discrimination below the shingle grain), while edit distance
    * measures exactly the character-level revision a re-crawled or
    * hand-touched page carries. All-pairs Levenshtein is O(N² · L²) —
    * never viable — so candidates come from TWO equi-join blocking
    * keys, the standard fuzzy-join shape: the first [[EditBlock]]
    * chars and the LAST [[EditBlock]] (via `reverse`), so an edit
    * near either end still matches on the other key; a pair escaping
    * both blocks is outside the operator's declared semantics (more
    * keys = more recall, each another equi-join). Keys hotter than
    * [[EditCap]] base docs are excluded from blocking — the same
    * df-cap guard as `q_ngram_capped`, bounding candidate fan-out per
    * incoming doc at 2·cap against boilerplate prefixes at 100 TB.
    * Candidates then verify exactly: length bands within [[EditD]]
    * first (a free O(1) cut), `levenshtein ≤ EditD` second. The
    * incoming (odd) half carries a deterministic injected revision —
    * `doc_id % 10 == 1` docs borrow their predecessor's text plus a
    * 3-char suffix (the same donor join as `q_incremental_dedup`, so
    * a missing donor falls back to the doc's own text) — and the
    * output is every verified (incoming, base) pair with its integer
    * distance.
    *
    * 100 TB shape: two hash-partitioned equi-joins on 16-char keys
    * (digests in production), candidate verification map-side after
    * the join, per-key fan-out df-capped; document text crosses the
    * exchange only for candidate rows, never corpus-wide.
    */
  /** The blocked-verify pipeline over arbitrary `(iid, itext)` /
    * `(bid, btext)` frames — separated so the spec can drive it with
    * constructed head-edits, hot keys, and threshold-boundary pairs.
    */
  private[operators] def editPairs(
      incoming: DataFrame, base: DataFrame): DataFrame = {
    def keyOf(t: Column, suffix: Boolean): Column =
      if (suffix) substring(reverse(t), 1, EditBlock)
      else substring(t, 1, EditBlock)
    // candidates: union of the two blocking joins, hot base keys
    // excluded per key; one verification per distinct (iid, bid)
    val cand = Seq(false, true).map { sfx =>
      val bk = base.withColumn("k", keyOf(col("btext"), sfx))
      val cool = bk.groupBy(col("k")).count()
        .filter(col("count") <= EditCap).select(col("k"))
      incoming.withColumn("k", keyOf(col("itext"), sfx))
        .join(bk.join(cool, Seq("k"), "left_semi"), Seq("k"))
        .select(col("iid"), col("bid"), col("itext"), col("btext"))
    }.reduce(_.unionByName(_)).distinct()
    graft.Engine.register(incoming.sparkSession) // levenshtein_capped
    cand
      .filter(abs(length(col("itext")) - length(col("btext"))) <= EditD)
      // CAPPED banded verify ([[graft.functions.LevenshteinCapped]]):
      // exact distance when <= EditD, EditD + 1 beyond — trim +
      // Ukkonen band make the per-pair cost O(EditD·L), not the full
      // O(L²) DP the built-in levenshtein pays, so verify cost grows
      // LINEARLY with document length (the term that made this
      // operator superlinear at 10× data: candidates share a 16-char
      // block but texts are ~10× longer). Computed once and filtered
      // on the materialized column — Catalyst does not CSE a repeated
      // call across the Filter/Project boundary
      .withColumn("dist",
        graft.functions.dsl.levenshtein_capped(
          col("itext"), col("btext"), EditD))
      .filter(col("dist") <= EditD)
      .select(col("iid").as("i"), col("bid").as("j"), col("dist"))
      .orderBy("i", "j")
  }

  def qEditDedup(spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(spark, dir, "documents")
    val donors = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    val incoming = docs.filter(col("doc_id") % 2 === 1)
      .select(col("doc_id").as("iid"), col("text").as("own_text"),
        when(col("doc_id") % 10 === 1, col("doc_id") - 1).as("donor_id"))
      .join(donors, col("donor_id") === col("b_id"), "left_outer")
      .select(col("iid"),
        coalesce(concat(col("b_text"), lit(" zq")), col("own_text"))
          .as("itext"))
    val base = docs.filter(col("doc_id") % 2 === 0)
      .select(col("doc_id").as("bid"), col("text").as("btext"))
    editPairs(incoming, base)
  }

  /** Window width (tokens), injected span length, and per-window-hash
    * doc-frequency cap for [[qSubstringDedup]] — shared verbatim with
    * the oracle text.
    */
  private[operators] val SubW = 8
  private[operators] val SubSpan = 12
  private[operators] val SubCap = 64

  /** EXACT SUBSTRING-level dedup — the token-window duplicate-span
    * census of Lee et al., "Deduplicating Training Data Makes Language
    * Models Better" (the suffix-array 50-token-window standard,
    * re-expressed relationally): every other dedup family here is
    * DOCUMENT-granular (shingle sets, MinHash bands, SimHash,
    * edit-distance blocks, embedding cells) and cannot find a long
    * VERBATIM span shared by two otherwise-different documents — the
    * dominant contamination/memorization vector in real corpora.
    *
    * Pipeline: tokenize → hash every [[SubW]]-token window (md5 of the
    * space-joined window, the same cross-engine-deterministic hash
    * trick as MinHash) → df-cap window hashes hotter than [[SubCap]]
    * docs (the boilerplate guard, as in `q_ngram_capped`) → cross-doc
    * equi-join on the window hash → collapse matched positions into
    * maximal shared runs per (i, j, diagonal) with the gaps-and-islands
    * window trick (`pa − row_number()` is constant exactly on
    * consecutive positions). A run of r windows is a shared span of
    * r + [[SubW]] − 1 tokens; output per (i, j): the longest shared
    * span and the total matched-window count.
    *
    * The fixture corpus has no natural [[SubW]]-token cross-doc
    * repeats (random-ish short texts), so `doc_id % 10 == 3` docs
    * deterministically carry a [[SubSpan]]-token span of their
    * predecessor's text appended to their own — a join-produced
    * verbatim overlap both engines construct identically (donors
    * shorter than [[SubSpan]] + 1 tokens inject nothing, so the slice
    * never clamps differently across engines).
    *
    * 100 TB shape: window hashing is map-side and linear (one row per
    * window, no all-pairs step anywhere); the only shuffles are the
    * df census (map-side combined) and the hash-equi self-join whose
    * per-key fan-out the df cap bounds — the suffix-array algorithm's
    * O(corpus) work distributed as a group-by, with the run collapse
    * a window function over per-(i,j,diagonal) frames whose size is
    * bounded by document length, never corpus size.
    */
  /** The fixture corpus with the deterministic injected donor spans
    * (`doc_id % 10 == 3` docs append tokens 2..{2+[[SubSpan]]−1} of
    * their predecessor) — shared by both substring operators and
    * constructed identically in the oracle texts.
    */
  private[operators] def substringCorpus(
      spark: SparkSession, dir: String): DataFrame = {
    val docs = Engine.table(spark, dir, "documents")
    val donors = docs.select(col("doc_id").as("b_id"), col("text").as("b_text"))
    docs
      .select(col("doc_id"), col("text"),
        when(col("doc_id") % 10 === 3, col("doc_id") - 1).as("donor_id"))
      .join(donors, col("donor_id") === col("b_id"), "left_outer")
      .select(col("doc_id"),
        when(col("b_text").isNotNull &&
            size(split(col("b_text"), " ")) >= SubSpan + 1,
          concat(col("text"), lit(" "),
            array_join(slice(split(col("b_text"), " "), 2, SubSpan), " ")))
          .otherwise(col("text")).as("text"))
  }

  def qSubstringDedup(spark: SparkSession, dir: String): DataFrame =
    substringSpansOf(storedKeptWindows(spark, subWindowsBase(spark, dir)))

  /** The duplicate-span census at the Lee-et-al W=50 production width,
    * probing the `sub_windows_w50` sibling store: identical probe
    * plan to [[qSubstringDedup]] (store-resolved kept windows →
    * cross-doc hash equi-join → gaps-and-islands run collapse), only
    * the indexed width differs — a run of r windows is now a shared
    * span of r+49 tokens. The 12-token injected donors are invisible
    * at this width BY DESIGN (they are below the span standard); what
    * survives is the fixture's natural ≥50-token verbatim overlaps,
    * exactly the spans a production scrub would act on.
    */
  def qSubstringDedupW50(spark: SparkSession, dir: String): DataFrame =
    substringSpansOf(
      storedKeptWindows(spark,
        FixtureTemplates.readOnlyPath("sub_windows_w50", spark, dir)),
      w = SubW50)

  /** The duplicate-span census over an arbitrary `(doc_id, text)`
    * frame — the INLINE (storeless) form, kept as the spec's driver
    * for planted verbatim spans, no-overlap controls, over-cap hot
    * windows, and the Lee-et-al W=50 standard (`w` parameterizes the
    * window width; the gated queries run the fixture default
    * [[SubW]], which fits the short-doc fixture).
    */
  private[operators] def substringSpans(
      corpus: DataFrame, w: Int = SubW): DataFrame =
    substringSpansOf(substringWindows(corpus, w), w)

  /** The run-collapse census over an already df-capped window frame
    * `(doc_id, p, wh)` — shared verbatim by the inline form and the
    * persisted window-store probe, so rewiring the gated query onto
    * the store cannot change its semantics.
    */
  private[operators] def substringSpansOf(
      kept0: DataFrame, w: Int = SubW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val kept = kept0.select(col("doc_id"), col("p"), col("wh"))
    val pairs = kept.as("a").join(kept.as("b"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"))
      .select(col("a.doc_id").as("i"), col("b.doc_id").as("j"),
        col("a.p").as("pa"), col("b.p").as("pb"))
      .distinct()
    val win = Window.partitionBy(col("i"), col("j"), col("dg")).orderBy(col("pa"))
    pairs.withColumn("dg", col("pa") - col("pb"))
      .withColumn("isl", col("pa") - row_number().over(win))
      .groupBy(col("i"), col("j"), col("dg"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("i"), col("j"))
      .agg((max(col("run")) + (w - 1)).cast("long").as("max_span"),
        sum(col("run")).cast("long").as("n_matches"))
      .orderBy("i", "j")
  }

  /** The raw window frame: one row per (doc_id, position, hash), plus
    * any `carry` columns threaded through (the store build carries
    * the split flag). slice/array_join/md5 are codegen'd builtins (no
    * interpreted HOF lambda in the per-window path). The hash is the
    * FULL 128-bit md5 hex: the census queries could tolerate a
    * truncated key (a collision only inflates a count), but the SCRUB
    * path REMOVES tokens on hash equality alone — at the documented
    * 100 TB shape (~1e13 windows) 64-bit birthday collisions arrive
    * in bulk and each one would delete legitimate text, so removal
    * keeps all 128 bits (collision odds ~1e-13 at 1e13 windows) and
    * every probe joins on the same key the store persists. The wider
    * key's shuffle cost lands once, in the untimed store build, not
    * per probe.
    */
  private def substringWindowFrame(corpus: DataFrame, w: Int,
      carry: Seq[String] = Nil): DataFrame = {
    val cs = carry.map(col)
    val toks = corpus
      .select((col("doc_id") +: cs :+ split(col("text"), " ").as("tk")): _*)
      .filter(size(col("tk")) >= w)
    toks
      .select((col("doc_id") +: cs :+ col("tk") :+
        explode(sequence(lit(1), size(col("tk")) - (w - 1))).as("p")): _*)
      .select((col("doc_id") +: cs :+ col("p") :+
        md5(array_join(slice(col("tk"), col("p"), lit(w)), " ")).as("wh")): _*)
  }

  /** The df-capped window frame, computed INLINE (spec paths; the
    * gated queries probe the persisted store instead): windows hotter
    * than [[SubCap]] docs excluded. The frame is stage-cut with a
    * `localCheckpoint` (the [[cappedPairs]] precedent): its consumers
    * reference it 2-3 times (the df census plus both sides of a
    * self-join), and without the cut the whole tokenize+hash pass
    * re-runs per reference — same executor-loss tradeoff as every
    * other cut in this file (the job is idempotent and
    * resubmittable; swap for reliable checkpoint() when within-job
    * recovery matters).
    */
  private[operators] def substringWindows(
      corpus: DataFrame, w: Int = SubW): DataFrame = {
    val wins = substringWindowFrame(corpus, w).localCheckpoint()
    val cool = wins.groupBy(col("wh"))
      .agg(countDistinct(col("doc_id")).as("df"))
      .filter(col("df") <= SubCap).select(col("wh"))
    wins.join(cool, Seq("wh"), "left_semi")
  }

  // --- persisted substring window store ----------------------------------
  //
  // The three substring queries share one expensive frame — tokenize →
  // window-hash → df census over the whole corpus — and a 100 TB
  // contamination gate cannot re-hash the train corpus per eval batch.
  // So the frame is a catalog-committed STORE, built once and probed
  // three ways (census / scrub / cross-split gate), exactly the
  // q_bm25_persisted pattern: immutable generations, incremental
  // append of NEW documents, manifest-resolved reads.

  /** The train/eval split coin — `q_train_split`'s content-hash rule
    * applied to the injected corpus, shared by the store build, the
    * inline contamination form, and the streaming gate's feed.
    */
  private[operators] def splitFlagged(corpus: DataFrame): DataFrame =
    corpus.withColumn("is_train",
      substring(md5(concat(lit("split1|"), col("text"))), 1, 1) < "d")

  /** One GENERATION of the substring window store: the batch's window
    * rows land hash-range-partitioned (`whb=` = first hex nibble of
    * the window hash, 16 buckets — the layout a cluster co-locates
    * the cross-doc hash join on), the batch's df PARTIALS land under
    * `dfp=1`, and the per-doc metadata (token count, split flag)
    * under `docs=1` — all three file sets on ONE atomic manifest
    * commit, so no reader ever sees windows without their census.
    *
    * Append contract (the text index's `assumeFresh` shape): batches
    * are NEW doc_ids. Window df is countDistinct(doc) WITHIN a batch,
    * and since batch doc-sets are disjoint the store-wide df is the
    * SUM of the generation partials — an append writes O(batch) rows
    * and never re-reads, re-hashes or rewrites the corpus. The df-cap
    * census is maintained AT WRITE TIME: each commit supersedes the
    * `hot=1` summary partition from the full partials on the same
    * atomic manifest, so probes READ the hot set and never aggregate
    * anything.
    *
    * 100 TB shape: the build is the same linear map-side hashing the
    * inline form pays, amortized over every later probe; the df
    * census and the partitioned write are the only shuffles. The
    * store is what makes a standing contamination firewall runnable —
    * probe cost is O(probe windows × capped fan-out), never O(train
    * corpus).
    */
  private[operators] def writeSubWindowsGen(
      spark: SparkSession, batch: DataFrame, base: String,
      fenceTag: Option[String] = None, w: Int = SubW): Boolean = {
    import graft.sources.{IndexCatalog, StagedWrite}
    // ONE width per store, declared by the `window_w=` governing tag
    // (vacuum-carried): window hashes of different widths share no
    // keys, so a mixed-width store would silently answer every probe
    // from a partial window set — a second width is a SIBLING store
    // family (the `sub_windows_w50` template), never a mixed commit.
    // Checked HERE as the cheap fast path and AGAIN inside prepare —
    // prepare re-runs on every CAS attempt, so two different-width
    // writers racing an empty store cannot both pass (the loser
    // re-prepares after the winner's tag is visible and fails loudly;
    // a check-then-act outside the loop would let both commit).
    def widthFence(): Unit =
      IndexCatalog.newestTag(base, "window_w=").foreach { t =>
        require(t == s"window_w=$w",
          s"store $base carries $t; refusing a w=$w generation")
      }
    widthFence()
    val docs = splitFlagged(batch.filter(col("text").isNotNull))
    // stage-cut: the window frame feeds the partitioned write AND the
    // df census; uncut, the tokenize+hash pass would run twice
    val wins = substringWindowFrame(
        docs.select(col("doc_id"), col("is_train"), col("text")),
        w, Seq("is_train"))
      .withColumn("whb", substring(col("wh"), 1, 1))
      .localCheckpoint()
    val winFiles = StagedWrite.partitioned(
      wins.repartition(col("whb"))
        .select(col("doc_id"), col("p"), col("wh"), col("is_train"), col("whb")),
      s"$base/windows", Seq("whb"))
    val dfFiles = StagedWrite.partitioned(
      wins.groupBy(col("wh"))
        .agg(countDistinct(col("doc_id")).cast("long").as("df"))
        .withColumn("dfp", lit(1)),
      s"$base/dfstats", Seq("dfp"))
    val docFiles = StagedWrite.partitioned(
      docs.select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens"),
          col("is_train"))
        .withColumn("docs", lit(1)).repartition(1),
      s"$base/docs", Seq("docs"))
    val batchFiles = winFiles ++ dfFiles ++ docFiles
    // an empty batch stages nothing and commits nothing — a total
    // no-op whose replay recomputes the same nothing, so it needs no
    // tag to be exactly-once
    if (batchFiles.isEmpty) return true
    // the HOT SET is maintained AT WRITE TIME as a superseding
    // `hot=1` partition (each commit replaces it on the same atomic
    // manifest): probes then never aggregate the df partials — at
    // 100 TB a gate must not re-census 10^10 partial rows per probe,
    // and commits (where the partials are already in hand) are the
    // rare side. Derived INSIDE prepare against the observed version,
    // so a lost CAS re-derives it over the winner's partials; a
    // loser's staged hot file is orphan debris for vacuum, the
    // deleteTextDocs precedent.
    def prepare(cur: Int): (Seq[String], Seq[String]) = {
      widthFence() // in-loop: re-checked against the CAS winner's tags
      val priorDfp =
        if (cur == 0) Seq.empty
        else IndexCatalog.files(base, cur).filter(f =>
          IndexCatalog.partitionKey(f).exists(_.startsWith("dfp=")))
      val dfAll = priorDfp ++ dfFiles
      // a store fed only sub-window-length docs has NO df partials yet
      // (windows/dfstats stage nothing; the doc metadata still
      // commits): zero paths is a valid prepare state, not a read
      val hotFiles =
        if (dfAll.isEmpty) Seq.empty
        else StagedWrite.partitioned(
          spark.read.option("basePath", s"$base/dfstats")
            .parquet(dfAll: _*)
            .groupBy(col("wh")).agg(sum(col("df")).as("df"))
            .filter(col("df") > SubCap).select(col("wh"))
            .withColumn("hot", lit(1)).repartition(1),
          s"$base/hotset", Seq("hot"))
      (batchFiles ++ hotFiles, Seq(s"window_w=$w"))
    }
    fenceTag match {
      // streamed ingest: the replay guard is the commit-layer fence —
      // re-checked inside the CAS loop, so a concurrent replay of the
      // same batch can never double-commit its df partials
      case Some(t) =>
        IndexCatalog.commitTaggedOnce(base, t,
          removeKeys = Set("hot=1"))(prepare).isDefined
      case None =>
        IndexCatalog.commitWithRetry(base,
          removeKeys = Set("hot=1"))(prepare)
        true
    }
  }

  /** One micro-batch of STREAMED window-store ingest — the live train
    * corpus half of the contamination firewall (a production train set
    * GROWS; its window index must grow with it): the batch's windows,
    * df partials and doc metadata commit as one generation under the
    * `ingest-batch=<id>` tag guard, exactly-once per batch — the same
    * cross-batch contract every other store family's streamed ingest
    * carries (`commitTextBatch`, `commitIngestBatch`). Because df
    * partials sum across disjoint-doc generations, a probe of the
    * streamed store is row-identical to a one-shot build over the
    * union corpus (SubWindowsStoreSpec pins it). Returns whether the
    * batch was fresh.
    */
  private[operators] def commitWindowBatch(
      spark: SparkSession, batch: DataFrame, base: String,
      batchId: Long): Boolean = {
    import graft.sources.IndexCatalog
    val tag = s"ingest-batch=$batchId"
    // cheap fast path only (no staging work on a sequential replay);
    // the AUTHORITATIVE guard is the fence inside the commit CAS loop
    // — two concurrent replays racing past this check still commit at
    // most once (commitTaggedOnce)
    if (IndexCatalog.committedTags(base).contains(tag)) return false
    writeSubWindowsGen(spark, batch, base, fenceTag = Some(tag))
  }

  /** The `sub_windows` template body: the full injected fixture
    * corpus as one generation.
    */
  private[operators] def buildSubWindowsTemplate(
      spark: SparkSession, dir: String, d: String): Unit =
    writeSubWindowsGen(spark, substringCorpus(spark, dir), d)

  /** The Lee-et-al standard window width (Deduplicating Training Data
    * Makes Language Models Better, 2022: 50-token windows). The
    * fixture default [[SubW]] = 8 fits the short-doc fixture; the W=50
    * family runs the PRODUCTION width over the same corpus — only
    * spans a real training-data pipeline would scrub (~54-token mean
    * docs keep it non-trivial: the fixture's natural long verbatim
    * overlaps survive, the 12-token injections correctly do not).
    */
  private[operators] val SubW50 = 50

  /** The `sub_windows_w50` template body: the SAME injected corpus
    * indexed at the Lee-et-al width — a sibling store family, one
    * width per store (the `window_w=` tag fences mixed commits).
    */
  private[operators] def buildSubWindows50Template(
      spark: SparkSession, dir: String, d: String): Unit = {
    writeSubWindowsGen(spark, substringCorpus(spark, dir), d, w = SubW50)
    ()
  }

  /** The fixture store for `dir`, built once per process and read IN
    * PLACE — all three gated probes are pure readers, so they share
    * the template under [[graft.sources.StoreFixtures.readOnlyTemplate]]'s
    * immutability contract instead of paying a byte-copy each.
    */
  private def subWindowsBase(spark: SparkSession, dir: String): String =
    FixtureTemplates.readOnlyPath("sub_windows", spark, dir)

  /** ONE store snapshot, resolved from ONE manifest read: the kept
    * (df-capped) window frame, the hot-window set, and the per-doc
    * metadata, all derived from the SAME version's file list. A probe
    * that resolved the manifest per frame could straddle a racing
    * streamed-ingest commit — e.g. windows from version N but df
    * partials from N+1, capping the two sides of a join against
    * DIFFERENT censuses — exactly the "windows without their census"
    * state [[writeSubWindowsGen]]'s atomic commit exists to prevent.
    * Resolving once makes every probe a consistent cut by
    * construction.
    */
  private[operators] final case class SubWindowsSnapshot(
      kept: DataFrame, hot: DataFrame, docs: DataFrame)

  private[operators] def storedSnapshot(
      spark: SparkSession, base: String): SubWindowsSnapshot = {
    import graft.sources.IndexCatalog
    import spark.implicits._
    val files = IndexCatalog.latestFiles(base) // the ONE resolution
    def part(prefix: String): Seq[String] =
      files.filter(f => IndexCatalog.partitionKey(f).exists(_.startsWith(prefix)))
    // hot = the write-time-maintained `hot=1` summary partition (each
    // commit supersedes it from the full df partials, so it is always
    // the store-wide census at THIS version) — a probe reads it, never
    // re-aggregates the partials. Boilerplate-sized, so the anti-join
    // against it broadcasts under AQE. An empty live hot set (no
    // window over the cap) is an empty file list, not an empty file.
    val hotF = part("hot=")
    val hot =
      if (hotF.isEmpty) Seq.empty[String].toDF("wh")
      else spark.read.option("basePath", s"$base/hotset").parquet(hotF: _*)
        .select(col("wh"))
    // zero-path partitions are VALID store states, not read errors: a
    // store fed only sub-window-length docs has doc metadata but no
    // window/df files (and an empty store asked for a snapshot has
    // neither) — each frame falls back to its empty typed shape
    val winF = part("whb=")
    val kept =
      if (winF.isEmpty)
        Seq.empty[(Long, Int, String, Boolean)]
          .toDF("doc_id", "p", "wh", "is_train")
      else spark.read.option("basePath", s"$base/windows")
        .parquet(winF: _*)
        .select(col("doc_id"), col("p"), col("wh"), col("is_train"))
        .join(hot, Seq("wh"), "left_anti")
    val docF = part("docs=")
    val docs =
      if (docF.isEmpty)
        Seq.empty[(Long, Long, Boolean)].toDF("doc_id", "n_tokens", "is_train")
      else spark.read.option("basePath", s"$base/docs")
        .parquet(docF: _*)
        .select(col("doc_id"), col("n_tokens"), col("is_train"))
    SubWindowsSnapshot(kept, hot, docs)
  }

  /** The df-capped window frame from one consistent snapshot — the
    * single-frame convenience the census/rewrite probes use.
    */
  private[operators] def storedKeptWindows(
      spark: SparkSession, base: String): DataFrame =
    storedSnapshot(spark, base).kept

  /** One micro-batch of the STREAMING contamination gate: the eval
    * batch's windows (hashed inline, df-capped by the STORE's census
    * — the gate's definition of boilerplate is the indexed corpus's)
    * probe the stored train windows, and the batch's leak-census rows
    * commit into `resBase` under the `ingest-batch=<id>` tag guard —
    * exactly-once per batch, replay is a no-op. Returns whether the
    * batch was fresh. Batches partition the eval docs, and the census
    * is per-eval-doc, so the union of batch results is row-identical
    * to `q_span_contamination`'s one-shot answer — one oracle text
    * gates both.
    */
  private[operators] def commitContamBatch(
      spark: SparkSession, batch: DataFrame, trainBase: String,
      resBase: String, batchId: Long): Boolean = {
    import graft.sources.{IndexCatalog, StagedWrite}
    val tag = s"ingest-batch=$batchId"
    if (IndexCatalog.committedTags(resBase).contains(tag)) return false
    // ONE snapshot: the eval-side cap and the train windows must come
    // from the SAME store version even while ingest appends concurrently
    val snap = storedSnapshot(spark, trainBase)
    val evalW = substringWindowFrame(
        batch.select(col("doc_id"), col("text")), SubW)
      .join(snap.hot, Seq("wh"), "left_anti")
      .select(col("doc_id").as("e_id"), col("p").as("pe"), col("wh"))
    val trainW = snap.kept
      .filter(col("is_train"))
      .select(col("doc_id").as("t_id"), col("p").as("pt"), col("wh"))
    val rows = spanLeakCensus(evalW, trainW,
      batch.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")))
    val files = StagedWrite.partitioned(
      rows.withColumn("res", lit(1)).repartition(1), s"$resBase/rows", Seq("res"))
    // a leak-free batch stages nothing and commits nothing — its
    // replay recomputes the same empty census, so the tag is not
    // needed for idempotence
    if (files.isEmpty) true
    // the fence re-checks the tag inside the CAS loop: concurrent
    // replays of the same eval batch commit their leak census once
    else IndexCatalog.commitTaggedOnce(resBase, tag)(_ => (files, Nil)).isDefined
  }

  /** The REMOVAL half of substring dedup — what a pipeline actually
    * APPLIES after [[qSubstringDedup]]'s census (Lee et al. keep one
    * copy of every duplicated span): a token of document j is REMOVED
    * iff some [[SubW]]-token window covering it also occurs in a
    * document with a smaller doc_id (first occurrence is the keeper —
    * the same min-id keeper rule as `q_dedup_exact`). Output: the
    * per-document scrub census (total/removed/kept token counts) for
    * every doc that lost at least one token; the injected donor spans
    * make `doc_id % 10 == 3` docs lose exactly their appended span
    * (the donor, being smaller-id, keeps its copy untouched).
    *
    * 100 TB shape: the duplicated-window test is ONE semi-join of the
    * df-capped window frame against itself (fan-out bounded by the
    * cap); coverage expansion is a per-doc position explode bounded
    * by document length, and the census is a keyed aggregate — no
    * all-pairs step, no per-pair state, same linear group-by shape as
    * the census query.
    */
  def qSubstringScrub(spark: SparkSession, dir: String): DataFrame = {
    val snap = storedSnapshot(spark, subWindowsBase(spark, dir))
    substringScrubCensusOf(snap.kept,
      snap.docs.select(col("doc_id"), col("n_tokens")))
  }

  /** The scrub census over an arbitrary `(doc_id, text)` frame — the
    * INLINE form, kept as the spec's driver for planted spans and
    * keeper-rule boundary cases.
    */
  private[operators] def substringScrubCensus(
      corpus: DataFrame, w: Int = SubW): DataFrame =
    substringScrubCensusOf(substringWindows(corpus, w),
      corpus.select(col("doc_id"),
        size(split(col("text"), " ")).cast("long").as("n_tokens")), w)

  /** The scrub census over an already df-capped window frame plus a
    * per-doc token-count frame — shared by the inline form and the
    * persisted-store probe. REMOVAL decisions ride the full 128-bit
    * window hash (see [[substringWindowFrame]]): a census can absorb
    * a hash collision, deleting someone's tokens cannot.
    */
  private[operators] def substringScrubCensusOf(
      kept0: DataFrame, docTokens: DataFrame, w: Int = SubW): DataFrame = {
    val kept = kept0.select(col("doc_id"), col("p"), col("wh"))
    // windows of doc j that ALSO occur in a smaller-id doc: the
    // semi-join keeps one row per (j, p) however many keepers exist
    val dup = kept.as("b").join(kept.as("a"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"),
        "left_semi")
      .select(col("doc_id"), col("p"))
    // covered token positions: union of [p, p + W - 1] per dup window
    val covered = dup
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (w - 1))).as("pos"))
      .distinct()
      .groupBy(col("doc_id")).agg(count(lit(1)).as("n_removed"))
    docTokens
      .join(covered, Seq("doc_id"))
      .select(col("doc_id"), col("n_tokens"),
        col("n_removed").cast("long").as("n_removed"),
        (col("n_tokens") - col("n_removed")).cast("long").as("n_kept"))
      .orderBy("doc_id")
  }

  /** The MATERIALIZED scrub — the text a pipeline actually ships after
    * [[qSubstringScrub]]'s census: per scrubbed document, the text
    * with every covered token REMOVED (first occurrence keeps its
    * copy, exactly the census's keeper rule). Duplicated-span
    * POSITIONS come from the persisted window store; the token text
    * comes from the corpus — the honest split: the index knows where
    * duplicates are, the rewrite step reads the text it rewrites.
    * The removal filter is an indexed array lambda over the doc's own
    * tokens (per-doc bounded — |covered| ≤ doc length), so the apply
    * pass is map-side after one positions join; identical indexed
    * lambda on the DuckDB side (1-based there, 0-based here, offset
    * in the predicate).
    */
  def qSubstringRewrite(spark: SparkSession, dir: String): DataFrame = {
    val base = subWindowsBase(spark, dir)
    substringRewrite(substringCorpus(spark, dir),
      storedKeptWindows(spark, base))
  }

  /** The rewrite over an arbitrary corpus + df-capped window frame —
    * separated so the spec can check the emitted text token-by-token
    * against planted spans.
    */
  private[operators] def substringRewrite(
      corpus: DataFrame, kept0: DataFrame, w: Int = SubW): DataFrame = {
    val kept = kept0.select(col("doc_id"), col("p"), col("wh"))
    val dup = kept.as("b").join(kept.as("a"),
        col("a.wh") === col("b.wh") && col("a.doc_id") < col("b.doc_id"),
        "left_semi")
      .select(col("doc_id"), col("p"))
    val covered = dup
      .select(col("doc_id"),
        explode(sequence(col("p"), col("p") + (w - 1))).as("pos"))
      .groupBy(col("doc_id"))
      .agg(sort_array(collect_set(col("pos"))).as("cov"))
    corpus.join(covered, Seq("doc_id"))
      .select(col("doc_id"), split(col("text"), " ").as("tk"), col("cov"))
      .select(col("doc_id"),
        size(col("tk")).cast("long").as("n_tokens"),
        size(col("cov")).cast("long").as("n_removed"),
        array_join(
          expr("filter(tk, (t, i) -> NOT array_contains(cov, i + 1))"),
          " ").as("scrubbed_text"))
      .orderBy("doc_id")
  }

  /** VERBATIM train→eval SPAN CONTAMINATION — the eval-benchmark leak
    * gate at the Lee-et-al token-window standard, completing the
    * substring family (census → removal → cross-split gate):
    * `q_contamination` measures SHINGLE-set overlap ratios (a
    * paraphrase-grade signal); this operator finds exact [[SubW]]-token
    * spans of an EVAL document that appear verbatim in any TRAIN
    * document — the signal that says "this benchmark item is in the
    * training set", which no overlap ratio pins. The split is the
    * same content-hash coin as `q_train_split` (applied to the
    * injected corpus so both engines agree on one corpus definition);
    * windows, df cap and run collapse are [[qSubstringDedup]]'s
    * machinery restricted to eval × train pairs. Output per leaked
    * EVAL doc: token count, distinct leaked token positions (union
    * coverage), the longest verbatim leak span, and how many train
    * docs it leaks from.
    *
    * 100 TB shape: identical to the census query — the split tag is
    * a map-side column, the eval×train restriction only SHRINKS the
    * window join's sides, and the per-eval-doc aggregates are keyed
    * group-bys over frames bounded by document length.
    */
  def qSpanContamination(spark: SparkSession, dir: String): DataFrame = {
    val snap = storedSnapshot(spark, subWindowsBase(spark, dir))
    spanLeakCensus(
      snap.kept.filter(!col("is_train"))
        .select(col("doc_id").as("e_id"), col("p").as("pe"), col("wh")),
      snap.kept.filter(col("is_train"))
        .select(col("doc_id").as("t_id"), col("p").as("pt"), col("wh")),
      snap.docs.filter(!col("is_train"))
        .select(col("doc_id"), col("n_tokens")))
  }

  /** The contamination gate at the Lee-et-al W=50 PRODUCTION width —
    * the family's production use at its production config, probing
    * the `sub_windows_w50` sibling store: identical machinery to
    * [[qSpanContamination]] (one consistent store snapshot, eval ×
    * train window hits, run collapse, union coverage), only the
    * indexed width differs. The 12-token injected donor spans are
    * invisible here BY DESIGN (below the span standard); what the
    * gate reports is the fixture's natural ≥50-token verbatim
    * overlaps that happen to cross the content-hash split — exactly
    * the leaks a production firewall quarantines
    * (`q_substring_dedup_w50` censuses the same spans split-blind).
    */
  def qSpanContaminationW50(spark: SparkSession, dir: String): DataFrame = {
    val snap = storedSnapshot(spark,
      FixtureTemplates.readOnlyPath("sub_windows_w50", spark, dir))
    spanLeakCensus(
      snap.kept.filter(!col("is_train"))
        .select(col("doc_id").as("e_id"), col("p").as("pe"), col("wh")),
      snap.kept.filter(col("is_train"))
        .select(col("doc_id").as("t_id"), col("p").as("pt"), col("wh")),
      snap.docs.filter(!col("is_train"))
        .select(col("doc_id"), col("n_tokens")),
      w = SubW50)
  }

  /** The INLINE contamination form over an arbitrary `(doc_id, text)`
    * corpus — the spec's driver; the gated query probes the persisted
    * window store with identical machinery.
    */
  private[operators] def spanContamination(
      corpus0: DataFrame, w: Int = SubW): DataFrame = {
    val corpus = splitFlagged(corpus0)
    val flags = corpus.select(col("doc_id"), col("is_train"))
    val kept = substringWindows(corpus.select(col("doc_id"), col("text")), w)
    spanLeakCensus(
      kept.join(flags.filter(!col("is_train")), Seq("doc_id"))
        .select(col("doc_id").as("e_id"), col("p").as("pe"), col("wh")),
      kept.join(flags.filter(col("is_train")), Seq("doc_id"))
        .select(col("doc_id").as("t_id"), col("p").as("pt"), col("wh")),
      corpus.filter(!col("is_train"))
        .select(col("doc_id"),
          size(split(col("text"), " ")).cast("long").as("n_tokens")), w)
  }

  /** The train→eval leak census over df-capped window frames: eval
    * windows `(e_id, pe, wh)` × train windows `(t_id, pt, wh)` →
    * per-leaked-eval-doc coverage, longest verbatim span and train
    * fan-out — shared by the batch query, the store probe, and the
    * streaming gate's per-micro-batch commits, so all three are
    * row-identical by construction (one oracle text gates them).
    */
  private[operators] def spanLeakCensus(
      evalW: DataFrame, trainW: DataFrame, evalDocs: DataFrame,
      w: Int = SubW): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val hits = evalW.join(trainW, Seq("wh"))
      .select(col("e_id"), col("t_id"), col("pe"), col("pt")).distinct()
    val win = Window.partitionBy(col("e_id"), col("t_id"), col("dg"))
      .orderBy(col("pe"))
    val spans = hits.withColumn("dg", col("pe") - col("pt"))
      .withColumn("isl", col("pe") - row_number().over(win))
      .groupBy(col("e_id"), col("t_id"), col("dg"), col("isl"))
      .agg(count(lit(1)).as("run"))
      .groupBy(col("e_id"))
      .agg((max(col("run")) + (w - 1)).cast("long").as("max_leak_span"),
        countDistinct(col("t_id")).cast("long").as("n_train_docs"))
    val coverage = hits
      .select(col("e_id"),
        explode(sequence(col("pe"), col("pe") + (w - 1))).as("pos"))
      .distinct()
      .groupBy(col("e_id")).agg(count(lit(1)).cast("long").as("leaked_tokens"))
    evalDocs
      .join(spans, col("doc_id") === col("e_id"))
      .join(coverage, Seq("e_id"))
      .select(col("doc_id"), col("n_tokens"), col("leaked_tokens"),
        col("max_leak_span"), col("n_train_docs"))
      .orderBy("doc_id")
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_span_contamination" -> (qSpanContamination _),
    "q_span_contamination_w50" -> (qSpanContaminationW50 _),
    "q_substring_dedup" -> (qSubstringDedup _),
    "q_substring_dedup_w50" -> (qSubstringDedupW50 _),
    "q_substring_scrub" -> (qSubstringScrub _),
    "q_substring_rewrite" -> (qSubstringRewrite _),
    "q_minhash_lsh" -> (qMinhashLsh _),
    "q_simhash" -> (qSimhash _),
    "q_edit_dedup" -> (qEditDedup _),
    "q_ngram_capped" -> (qNgramJaccardCapped _),
    "q_dedup_clusters" -> (qDedupClusters _),
    "q_dedup_star" -> (qDedupClustersStar _),
    "q_incremental_dedup" -> (qIncrementalDedup _),
    "q_neardup_ingest" -> (qNeardupIngest _),
    "q_neardup_append" -> (qNeardupAppend _),
    "q_cluster_append" -> (qClusterAppend _)
  )

  // Oracle SQL generated from the same constants as the Spark pipeline.

  /** Shared CTE chain producing the capped-Jaccard `inter`/`sizes`
    * relations (used by q_ngram_capped and q_dedup_clusters).
    */
  private val duckCappedCtes: String =
    s"""toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM documents
       |              WHERE len(string_split(text, ' ')) >= 3),
       |sh AS (SELECT DISTINCT doc_id, array_to_string(tk[i:i+2], ' ') AS s
       |       FROM toks, unnest(generate_series(1, len(tk)-2)) AS u(i)),
       |rare AS (SELECT s FROM sh GROUP BY s HAVING count(*) <= $MaxShingleDf),
       |kept AS (SELECT sh.doc_id, sh.s FROM sh JOIN rare USING (s)),
       |sizes AS (SELECT doc_id, count(*) AS n FROM kept GROUP BY doc_id),
       |inter AS (SELECT a.doc_id AS i, b.doc_id AS j, count(*) AS inter
       |          FROM kept a JOIN kept b ON a.s = b.s AND a.doc_id < b.doc_id
       |          GROUP BY 1, 2 HAVING count(*) >= 2)""".stripMargin

  private val duckSigCols: String = (0 until NumHashes)
    .map(s => s"min(md5('$s|' || w)) AS h$s").mkString(",\n         ")

  private val duckBandRows: String = (0 until NumBands).map { b =>
    val parts = (0 until BandSize).map(r => s"h${b * BandSize + r}").mkString(" || ")
    s"SELECT doc_id, $b AS band, md5($parts) AS bh FROM sigs"
  }.mkString("\n  UNION ALL\n  ")

  private val duckSimSums: String = (0 until SimHashBits)
    .map(j => s"sum(CASE WHEN substr(md5('sh|' || w), ${j + 1}, 1) >= '8' THEN 1 ELSE -1 END) AS b$j")
    .mkString(",\n         ")

  private val duckSimFp: String = (0 until SimHashBits)
    .map(j => s"(CASE WHEN b$j >= 0 THEN ${1L << j} ELSE 0 END)")
    .mkString(" + ")

  /** The substring span-census oracle parameterized by window width —
    * ONE text instantiated for the fixture width ([[SubW]]) and the
    * Lee-et-al production width ([[SubW50]]), mirroring how the Spark
    * side shares [[substringSpansOf]] across both gated probes.
    */
  private def duckSubstringDedupSql(w: Int): String =
    s"""WITH base AS (
       |  SELECT d.doc_id,
       |         CASE WHEN dn.b_text IS NOT NULL
       |                   AND len(string_split(dn.b_text, ' ')) >= ${SubSpan + 1}
       |              THEN d.text || ' ' ||
       |                   array_to_string(string_split(dn.b_text, ' ')[2:${SubSpan + 1}], ' ')
       |              ELSE d.text END AS text
       |  FROM documents d
       |  LEFT JOIN (SELECT doc_id AS b_id, text AS b_text FROM documents) dn
       |    ON d.doc_id % 10 = 3 AND d.doc_id - 1 = dn.b_id),
       |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM base
       |         WHERE len(string_split(text, ' ')) >= $w),
       |wins AS (SELECT doc_id, i AS p,
       |                md5(array_to_string(tk[i:i+${w - 1}], ' ')) AS wh
       |         FROM toks, unnest(generate_series(1, len(tk) - ${w - 1})) AS u(i)),
       |cool AS (SELECT wh FROM wins GROUP BY wh
       |         HAVING count(DISTINCT doc_id) <= $SubCap),
       |kept AS (SELECT w.doc_id, w.p, w.wh FROM wins w JOIN cool USING (wh)),
       |pairs AS (SELECT DISTINCT a.doc_id AS i, b.doc_id AS j, a.p AS pa, b.p AS pb
       |          FROM kept a JOIN kept b ON a.wh = b.wh AND a.doc_id < b.doc_id),
       |runs AS (SELECT i, j, pa - pb AS dg,
       |                pa - row_number() OVER (PARTITION BY i, j, pa - pb ORDER BY pa) AS isl
       |         FROM pairs),
       |rl AS (SELECT i, j, dg, isl, count(*) AS run FROM runs GROUP BY 1, 2, 3, 4)
       |SELECT i, j,
       |       CAST(max(run) + ${w - 1} AS BIGINT) AS max_span,
       |       CAST(sum(run) AS BIGINT) AS n_matches
       |FROM rl GROUP BY i, j ORDER BY i, j""".stripMargin

  /** The cross-split leak-census oracle parameterized by window width —
    * one text instantiated at the fixture width ([[SubW]]) and the
    * Lee-et-al production width ([[SubW50]]), mirroring how the Spark
    * side shares [[spanLeakCensus]] across both gated probes.
    */
  private def duckSpanContaminationSql(w: Int): String =
    s"""WITH base AS (
       |  SELECT d.doc_id,
       |         CASE WHEN dn.b_text IS NOT NULL
       |                   AND len(string_split(dn.b_text, ' ')) >= ${SubSpan + 1}
       |              THEN d.text || ' ' ||
       |                   array_to_string(string_split(dn.b_text, ' ')[2:${SubSpan + 1}], ' ')
       |              ELSE d.text END AS text
       |  FROM documents d
       |  LEFT JOIN (SELECT doc_id AS b_id, text AS b_text FROM documents) dn
       |    ON d.doc_id % 10 = 3 AND d.doc_id - 1 = dn.b_id),
       |sp AS (SELECT doc_id, text,
       |              substr(md5('split1|' || text), 1, 1) < 'd' AS is_train
       |       FROM base),
       |toks AS (SELECT doc_id, is_train, string_split(text, ' ') AS tk FROM sp
       |         WHERE len(string_split(text, ' ')) >= $w),
       |wins AS (SELECT doc_id, is_train, i AS p,
       |                md5(array_to_string(tk[i:i+${w - 1}], ' ')) AS wh
       |         FROM toks, unnest(generate_series(1, len(tk) - ${w - 1})) AS u(i)),
       |cool AS (SELECT wh FROM wins GROUP BY wh
       |         HAVING count(DISTINCT doc_id) <= $SubCap),
       |kept AS (SELECT w.doc_id, w.is_train, w.p, w.wh
       |         FROM wins w JOIN cool USING (wh)),
       |hits AS (SELECT DISTINCT e.doc_id AS e_id, t.doc_id AS t_id,
       |                e.p AS pe, t.p AS pt
       |         FROM kept e JOIN kept t ON e.wh = t.wh
       |         WHERE NOT e.is_train AND t.is_train),
       |runs AS (SELECT e_id, t_id, pe - pt AS dg,
       |                pe - row_number() OVER (PARTITION BY e_id, t_id, pe - pt
       |                                        ORDER BY pe) AS isl
       |         FROM hits),
       |rl AS (SELECT e_id, t_id, dg, isl, count(*) AS run
       |       FROM runs GROUP BY 1, 2, 3, 4),
       |spans AS (SELECT e_id,
       |                 CAST(max(run) + ${w - 1} AS BIGINT) AS max_leak_span,
       |                 CAST(count(DISTINCT t_id) AS BIGINT) AS n_train_docs
       |          FROM rl GROUP BY e_id),
       |cov AS (SELECT e_id, CAST(count(*) AS BIGINT) AS leaked_tokens
       |        FROM (SELECT DISTINCT e_id, pe + o AS pos
       |              FROM hits, unnest(generate_series(0, ${w - 1})) AS u(o)) c
       |        GROUP BY e_id)
       |SELECT sp.doc_id,
       |       CAST(len(string_split(sp.text, ' ')) AS BIGINT) AS n_tokens,
       |       cov.leaked_tokens, spans.max_leak_span, spans.n_train_docs
       |FROM sp JOIN spans ON sp.doc_id = spans.e_id
       |JOIN cov ON sp.doc_id = cov.e_id
       |WHERE NOT sp.is_train
       |ORDER BY sp.doc_id""".stripMargin

  val oracles: Map[String, String] = Map(
    // the identical window-hash construction: injected spans, md5'd
    // token windows, df cap, cross-doc join, gaps-and-islands runs
    "q_substring_dedup" -> duckSubstringDedupSql(SubW),
    "q_substring_dedup_w50" -> duckSubstringDedupSql(SubW50),
    // the cross-split gate: same base/wins/cool construction with the
    // q_train_split coin, eval x train window hits, run collapse and
    // union coverage per eval doc — one text, both gated widths
    "q_span_contamination" -> duckSpanContaminationSql(SubW),
    "q_span_contamination_w50" -> duckSpanContaminationSql(SubW50),
    // the removal half: same base/wins/cool construction, then the
    // smaller-id duplicated-window semi-join, coverage expansion, and
    // the per-doc scrub census
    "q_substring_scrub" ->
      s"""WITH base AS (
         |  SELECT d.doc_id,
         |         CASE WHEN dn.b_text IS NOT NULL
         |                   AND len(string_split(dn.b_text, ' ')) >= ${SubSpan + 1}
         |              THEN d.text || ' ' ||
         |                   array_to_string(string_split(dn.b_text, ' ')[2:${SubSpan + 1}], ' ')
         |              ELSE d.text END AS text
         |  FROM documents d
         |  LEFT JOIN (SELECT doc_id AS b_id, text AS b_text FROM documents) dn
         |    ON d.doc_id % 10 = 3 AND d.doc_id - 1 = dn.b_id),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM base
         |         WHERE len(string_split(text, ' ')) >= $SubW),
         |wins AS (SELECT doc_id, i AS p,
         |                md5(array_to_string(tk[i:i+${SubW - 1}], ' ')) AS wh
         |         FROM toks, unnest(generate_series(1, len(tk) - ${SubW - 1})) AS u(i)),
         |cool AS (SELECT wh FROM wins GROUP BY wh
         |         HAVING count(DISTINCT doc_id) <= $SubCap),
         |kept AS (SELECT w.doc_id, w.p, w.wh FROM wins w JOIN cool USING (wh)),
         |dup AS (SELECT DISTINCT b.doc_id, b.p FROM kept b
         |        WHERE EXISTS (SELECT 1 FROM kept a
         |                      WHERE a.wh = b.wh AND a.doc_id < b.doc_id)),
         |cov AS (SELECT DISTINCT doc_id, p + o AS pos
         |        FROM dup, unnest(generate_series(0, ${SubW - 1})) AS u(o)),
         |rm AS (SELECT doc_id, count(*) AS n_removed FROM cov GROUP BY doc_id)
         |SELECT b.doc_id,
         |       CAST(len(string_split(b.text, ' ')) AS BIGINT) AS n_tokens,
         |       CAST(rm.n_removed AS BIGINT) AS n_removed,
         |       CAST(len(string_split(b.text, ' ')) - rm.n_removed AS BIGINT) AS n_kept
         |FROM base b JOIN rm ON b.doc_id = rm.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    // the scrub APPLY: same base..cov chain, covered positions
    // collected per doc, tokens filtered by an indexed list lambda
    // (DuckDB's index is 1-based; Spark's is 0-based with +1 in the
    // predicate — same kept set)
    "q_substring_rewrite" ->
      s"""WITH base AS (
         |  SELECT d.doc_id,
         |         CASE WHEN dn.b_text IS NOT NULL
         |                   AND len(string_split(dn.b_text, ' ')) >= ${SubSpan + 1}
         |              THEN d.text || ' ' ||
         |                   array_to_string(string_split(dn.b_text, ' ')[2:${SubSpan + 1}], ' ')
         |              ELSE d.text END AS text
         |  FROM documents d
         |  LEFT JOIN (SELECT doc_id AS b_id, text AS b_text FROM documents) dn
         |    ON d.doc_id % 10 = 3 AND d.doc_id - 1 = dn.b_id),
         |toks AS (SELECT doc_id, string_split(text, ' ') AS tk FROM base
         |         WHERE len(string_split(text, ' ')) >= $SubW),
         |wins AS (SELECT doc_id, i AS p,
         |                md5(array_to_string(tk[i:i+${SubW - 1}], ' ')) AS wh
         |         FROM toks, unnest(generate_series(1, len(tk) - ${SubW - 1})) AS u(i)),
         |cool AS (SELECT wh FROM wins GROUP BY wh
         |         HAVING count(DISTINCT doc_id) <= $SubCap),
         |kept AS (SELECT w.doc_id, w.p, w.wh FROM wins w JOIN cool USING (wh)),
         |dup AS (SELECT DISTINCT b.doc_id, b.p FROM kept b
         |        WHERE EXISTS (SELECT 1 FROM kept a
         |                      WHERE a.wh = b.wh AND a.doc_id < b.doc_id)),
         |cov AS (SELECT DISTINCT doc_id, p + o AS pos
         |        FROM dup, unnest(generate_series(0, ${SubW - 1})) AS u(o)),
         |cl AS (SELECT doc_id, list_sort(list(pos)) AS cov FROM cov GROUP BY doc_id)
         |SELECT b.doc_id,
         |       CAST(len(string_split(b.text, ' ')) AS BIGINT) AS n_tokens,
         |       CAST(len(cl.cov) AS BIGINT) AS n_removed,
         |       coalesce(array_to_string(list_filter(string_split(b.text, ' '),
         |                                   (t, i) -> NOT list_contains(cl.cov, i)), ' '),
         |                '')
         |         AS scrubbed_text
         |FROM base b JOIN cl ON b.doc_id = cl.doc_id
         |ORDER BY b.doc_id""".stripMargin,
    "q_minhash_lsh" ->
      s"""WITH ws AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sigs AS (SELECT doc_id,
         |         $duckSigCols
         |         FROM ws GROUP BY doc_id),
         |buckets AS (
         |  $duckBandRows
         |),
         |cand AS (SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
         |         FROM buckets l JOIN buckets r
         |           ON l.band = r.band AND l.bh = r.bh AND l.doc_id < r.doc_id),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ws GROUP BY doc_id),
         |inter AS (SELECT i, j, count(*) AS inter FROM cand
         |          JOIN ws a ON a.doc_id = i JOIN ws b ON b.doc_id = j AND a.w = b.w
         |          GROUP BY i, j)
         |SELECT i, j, inter, ci.n + cj.n - inter AS union_n,
         |       CAST(floor(100.0 * inter / (ci.n + cj.n - inter)) AS BIGINT) AS jac_pct
         |FROM inter JOIN sizes ci ON i = ci.doc_id JOIN sizes cj ON j = cj.doc_id
         |WHERE inter * 10 >= (ci.n + cj.n - inter) * 9
         |ORDER BY i, j""".stripMargin,
    "q_simhash" ->
      s"""WITH ws AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |bits AS (SELECT doc_id,
         |         $duckSimSums
         |         FROM ws GROUP BY doc_id),
         |fp AS (SELECT doc_id, CAST($duckSimFp AS BIGINT) AS simhash FROM bits)
         |SELECT doc_id, simhash,
         |       count(*) OVER (PARTITION BY simhash) AS cluster_size
         |FROM fp ORDER BY doc_id""".stripMargin,
    "q_ngram_capped" ->
      s"""WITH $duckCappedCtes
         |SELECT i, j, inter, ci.n + cj.n - inter AS union_n
         |FROM inter JOIN sizes ci ON i = ci.doc_id JOIN sizes cj ON j = cj.doc_id
         |WHERE inter * 20 >= ci.n + cj.n - inter
         |ORDER BY i, j""".stripMargin,
    // The same capped pair set, closed into components by a recursive
    // CTE: `cc` enumerates every (node, reachable label) pair — the
    // UNION dedup terminates it — and min over reachable labels is the
    // component representative, the identical fixpoint BOTH Spark-side
    // variants (propagation and star contraction) compute — one oracle
    // text, two independent distributed algorithms checked against it.
    "q_dedup_clusters" -> duckClustersSql,
    "q_dedup_star" -> duckClustersSql,
    // incremental merge into the stored assignment — same full-corpus
    // fixpoint, so the same oracle: THREE independent algorithms
    // (propagation, star contraction, incremental merge) against one text
    "q_cluster_append" -> duckClustersSql,
    // the same banded-candidate + exact-verify pipeline, restricted to
    // (incoming odd) x (corpus even) pairs; rep-level verification on
    // the Spark side is census-equivalent because identical word sets
    // have identical signatures, buckets, and verdicts
    "q_neardup_ingest" ->
      duckIngestSql(batchPred = "doc_id % 2 = 1", corpusPred = "doc_id % 2 = 0"),
    // the lifecycle variant: after batch A (doc_id % 4 = 1) is appended
    // into the store, batch B's census runs against corpus ∪ A — the
    // oracle widens the corpus predicate accordingly
    "q_neardup_append" ->
      duckIngestSql(
        batchPred = "doc_id % 4 = 3",
        corpusPred = "(doc_id % 2 = 0 OR doc_id % 4 = 1)"),
    // the same two-key capped blocking + exact levenshtein verify,
    // CTE for CTE: injection (predecessor text + ' zq'), prefix and
    // reversed-prefix keys, per-key base df cap, length band, integer
    // distance — every constant shared with the Spark pipeline
    "q_edit_dedup" ->
      s"""WITH inc AS (
         |  SELECT i.doc_id AS iid,
         |         coalesce(b.text || ' zq', i.text) AS itext
         |  FROM documents i LEFT JOIN documents b
         |    ON i.doc_id % 10 = 1 AND b.doc_id = i.doc_id - 1
         |  WHERE i.doc_id % 2 = 1),
         |bse AS (SELECT doc_id AS bid, text AS btext FROM documents
         |        WHERE doc_id % 2 = 0),
         |bk1 AS (SELECT bid, btext, substr(btext, 1, $EditBlock) AS k FROM bse),
         |bk2 AS (SELECT bid, btext, substr(reverse(btext), 1, $EditBlock) AS k FROM bse),
         |cool1 AS (SELECT k FROM bk1 GROUP BY k HAVING count(*) <= $EditCap),
         |cool2 AS (SELECT k FROM bk2 GROUP BY k HAVING count(*) <= $EditCap),
         |cand AS (
         |  SELECT iid, bid, itext, btext
         |  FROM inc JOIN bk1 ON substr(itext, 1, $EditBlock) = bk1.k
         |  WHERE bk1.k IN (SELECT k FROM cool1)
         |  UNION
         |  SELECT iid, bid, itext, btext
         |  FROM inc JOIN bk2 ON substr(reverse(itext), 1, $EditBlock) = bk2.k
         |  WHERE bk2.k IN (SELECT k FROM cool2))
         |SELECT iid AS i, bid AS j,
         |       CAST(levenshtein(itext, btext) AS BIGINT) AS dist
         |FROM cand
         |WHERE abs(len(itext) - len(btext)) <= $EditD
         |  AND levenshtein(itext, btext) <= $EditD
         |ORDER BY i, j""".stripMargin,
    // the duplicate INJECTION (doc_id % 10 == 1 borrows the
    // predecessor's text) is the same join in both engines
    "q_incremental_dedup" ->
      """WITH existing AS (
        |  SELECT DISTINCT md5(text) AS h_existing FROM documents
        |  WHERE doc_id % 2 = 0),
        |incoming AS (
        |  SELECT i.doc_id, i.source,
        |         coalesce(md5(b.text), md5(i.text)) AS h
        |  FROM documents i LEFT JOIN documents b
        |    ON i.doc_id % 10 = 1 AND b.doc_id = i.doc_id - 1
        |  WHERE i.doc_id % 2 = 1)
        |SELECT source, count(*) AS n_incoming,
        |       CAST(sum(CASE WHEN h_existing IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_dup,
        |       CAST(sum(CASE WHEN h_existing IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
        |FROM incoming LEFT JOIN existing ON h = h_existing
        |GROUP BY source ORDER BY source""".stripMargin
  )

  /** The banded-candidate + exact-verify ingest census in SQL,
    * parametrized by which doc_ids form the probe batch and which the
    * indexed corpus (shared by q_neardup_ingest / q_neardup_append).
    */
  private def duckIngestSql(batchPred: String, corpusPred: String): String = {
    val lPred = batchPred.replace("doc_id", "l.doc_id")
    val rPred = corpusPred.replace("doc_id", "r.doc_id")
    s"""WITH ws AS (SELECT DISTINCT doc_id, unnest(string_split(text, ' ')) AS w FROM documents),
         |sigs AS (SELECT doc_id,
         |         $duckSigCols
         |         FROM ws GROUP BY doc_id),
         |buckets AS (
         |  $duckBandRows
         |),
         |cand AS (SELECT DISTINCT l.doc_id AS i, r.doc_id AS j
         |         FROM buckets l JOIN buckets r
         |           ON l.band = r.band AND l.bh = r.bh
         |          AND $lPred AND $rPred),
         |sizes AS (SELECT doc_id, count(*) AS n FROM ws GROUP BY doc_id),
         |inter AS (SELECT i, j, count(*) AS inter FROM cand
         |          JOIN ws a ON a.doc_id = i JOIN ws b ON b.doc_id = j AND a.w = b.w
         |          GROUP BY i, j),
         |hits AS (SELECT DISTINCT i AS doc_id FROM inter
         |         JOIN sizes ci ON i = ci.doc_id JOIN sizes cj ON j = cj.doc_id
         |         WHERE inter * 10 >= (ci.n + cj.n - inter) * 9)
         |SELECT source, count(*) AS n_incoming,
         |       CAST(sum(CASE WHEN h.doc_id IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_neardup,
         |       CAST(sum(CASE WHEN h.doc_id IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_new
         |FROM (SELECT doc_id, source FROM documents WHERE $batchPred) i
         |LEFT JOIN hits h ON i.doc_id = h.doc_id
         |GROUP BY source ORDER BY source""".stripMargin
  }

  private lazy val duckClustersSql: String =
      s"""WITH RECURSIVE $duckCappedCtes,
         |pairs AS (
         |  SELECT i, j FROM inter
         |  JOIN sizes ci ON i = ci.doc_id JOIN sizes cj ON j = cj.doc_id
         |  WHERE inter * 20 >= ci.n + cj.n - inter),
         |edges AS (SELECT i AS a, j AS b FROM pairs
         |          UNION ALL SELECT j AS a, i AS b FROM pairs),
         |cc(node, comp) AS (
         |  SELECT doc_id, doc_id FROM documents
         |  UNION
         |  SELECT e.a, cc.comp FROM cc JOIN edges e ON cc.node = e.b),
         |lab AS (SELECT node, min(comp) AS comp FROM cc GROUP BY node)
         |SELECT node AS doc_id, comp AS cluster_rep,
         |       count(*) OVER (PARTITION BY comp) AS cluster_size,
         |       CAST(CASE WHEN node = comp THEN 1 ELSE 0 END AS BIGINT) AS is_kept
         |FROM lab ORDER BY doc_id""".stripMargin
}
