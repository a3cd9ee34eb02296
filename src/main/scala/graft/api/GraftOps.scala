package graft.api

import graft.functions.{ScoredVec, TextFns, TopKByScore, VectorFns}
import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.graft.LoopSession
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** The public, table-agnostic operator API — what a user of the reference
  * engine calls after switching to this library. Every operator takes
  * caller DataFrames/Columns (never fixture paths); the registered gate
  * queries in graft.ops are thin bindings of these to the test fixtures.
  *
  * All operators are declarative DataFrame transforms: Catalyst owns
  * pushdown/pruning/join selection, AQE owns runtime re-planning, and
  * nothing here collects to the driver.
  */
object GraftOps {

  /** Idempotent persist: compositions (pipelineClean, pipelineFull, …)
    * rebuild subtrees their component operators already persisted, and
    * CacheManager matches cached plans by logical equality — so a blind
    * `.persist` on the rebuilt twin fires "Asked to cache already cached
    * data" and double-registers the entry. `Dataset.storageLevel` consults
    * the CacheManager by that same plan equality, making it a public-API
    * "already cached?" probe; persist only when it answers NONE.
    */
  private implicit class PersistOnceOps(private val df: DataFrame) {
    def persistOnce(): DataFrame =
      if (df.storageLevel == org.apache.spark.storage.StorageLevel.NONE)
        df.persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
      else df

    /** Lineage truncation for the iterative operators (clusterPairs,
      * pageRank, hits, kcore, labelPropagate, bfs/sssp, pca): every Nth
      * round the round table's plan must flatten to an RDD scan or the
      * logical plan grows without bound (doubling per round where the
      * round self-references). Two backends, same call sites:
      *
      *  - default: `localCheckpoint` — blocks live on executors only.
      *    Zero external I/O, the right trade in local mode (executor
      *    loss == JVM loss) and on clusters that prefer recompute-from-
      *    scratch over checkpoint I/O.
      *  - `GRAFT_CHECKPOINT_DIR` set (an HDFS/S3 path on a real
      *    cluster): reliable `checkpoint()` through `setCheckpointDir`
      *    (set once, lazily). Truncated round tables then survive
      *    executor loss — with `localCheckpoint` an executor death after
      *    truncation FAILS the job, because the lineage needed to
      *    recompute the lost blocks was discarded. Reliable mode pays
      *    one extra computation of each checkpointed round (Spark
      *    writes checkpoint files by re-running the RDD after the
      *    first action) — the standard durability/latency trade.
      */
    def truncateLineage(eager: Boolean = true): DataFrame =
      sys.env.get("GRAFT_CHECKPOINT_DIR") match {
        case Some(dir) if dir.nonEmpty =>
          val sc = df.sparkSession.sparkContext
          if (sc.getCheckpointDir.isEmpty) sc.setCheckpointDir(dir)
          df.checkpoint(eager)
        case _ => df.localCheckpoint(eager)
      }
  }

  /** Round-cache cadence for the bounded iterative loops (kcorePeel,
    * labelPropagate, bfs/ssspDistances): each round's table persists
    * LAZILY — it feeds two consumers, so an unmaterialized twin would
    * double execution per round, and an eager localCheckpoint per round
    * measured 3.0s -> 1.1s at sf0.1 across the graph tier (the per-round
    * job barriers dominated). Every 8th round an EAGER checkpoint
    * materializes the frontier and releases the accumulated round
    * caches: one amortized barrier bounds both plan depth and
    * CacheManager retention for long runs (releasing a LAZY round table
    * would re-expose its double reference and the exponential
    * twin-evaluation persist exists to prevent).
    */
  private final class RoundCaches {
    private val held = scala.collection.mutable.ListBuffer.empty[DataFrame]

    /** `df` persisted lazily, released at the next 8th-round barrier. */
    def hold(df: DataFrame): DataFrame = {
      val p = df.persistOnce(); held += p; p
    }

    /** Round `r`'s table under the cadence above. */
    def round(df: DataFrame, r: Int): DataFrame =
      if (r % 8 != 0) hold(df)
      else {
        val cp = df.truncateLineage()
        held.foreach(_.unpersist(false)); held.clear()
        cp
      }
  }

  /** Public form of the cache-idempotent persist, for query packs that
    * share an expensive subtree across several library calls (e.g. the
    * RFM base aggregate feeding three quantile passes + the scoring
    * join). Same guard as the internal one: a logically-equal plan that
    * is already cached is returned untouched, so repeated invocations in
    * a resident session never double-register CacheManager entries.
    */
  def cacheOnce(df: DataFrame): DataFrame = df.persistOnce()

  /** Bounded per-invocation cache for operators that persist a fresh
    * intermediate on EVERY call over changing inputs (the ranged
    * quantile/median walks): like [[cacheOnce]], but each persisted
    * frame is tracked in a small LRU registry, and once the registry
    * exceeds its cap the least-recently-used frame is unpersisted — so
    * a resident driver serving thousands of quantile calls cannot
    * accumulate CacheManager entries and disk blocks without bound.
    * Correctness is unaffected by eviction (a later action on an
    * evicted frame just recomputes); keyed by semantic hash so a
    * logically-equal re-invocation refreshes recency instead of
    * double-tracking, mirroring CacheManager's own plan-equality key.
    */
  private val TrackedCacheCap = 64
  private val trackedCaches =
    new java.util.LinkedHashMap[Int, DataFrame](16, 0.75f, true)
  private def trackedCache(df: DataFrame): DataFrame =
    trackedCaches.synchronized {
      val cached = cacheOnce(df)
      val prev =
        trackedCaches.put(df.queryExecution.logical.semanticHash(), cached)
      // the 32-bit semanticHash key can collide between DISTINCT plans;
      // a displaced entry that is not semantically the new plan would
      // otherwise stay persisted forever (orphaned from the registry —
      // the slow-leak case the cap exists to bound), so unpersist it now
      if (prev != null && !prev.queryExecution.logical
            .sameResult(cached.queryExecution.logical))
        prev.unpersist(blocking = false)
      while (trackedCaches.size > TrackedCacheCap) {
        val it = trackedCaches.entrySet().iterator()
        it.next().getValue.unpersist(blocking = false)
        it.remove()
      }
      cached
    }

  /** Scale-adaptive scan spread for CPU-heavy single-pass aggregates:
    * repartition the (already column-pruned) input across the cluster
    * ONLY when the scan itself yields fewer splits than the default
    * parallelism. The sf fixtures are one parquet file with one row
    * group — unsplittable below a row group — so a multi-distinct
    * Expand or a per-row scoring pass runs on ONE task while 31 cores
    * idle (guide §2.5 "input skew: one huge unsplittable file ...
    * repartition immediately after the read"). At 100 TB the same scan
    * has thousands of splits, the branch is not taken, and no shuffle
    * is added — the conditional IS the scale adaptivity (a blanket
    * repartition would tax every real-cluster scan with a full
    * shuffle). The split count is read off the planned scan RDD, not a
    * job; building that RDD still costs ~20 ms per call (sf0.1
    * documents parquet, 4-core box), so the probe uses the internal row
    * RDD (`df.rdd` also plans a row deserializer, ~10 ms more).
    * Row-level results are unchanged: callers aggregate globally or per
    * key downstream.
    *
    * The media tier's payload tables (LlmQueries.mediaPayloads) are
    * the sharpest case: the round-10 sf1 rehearsal measured
    * x_audio_decode 14x slower at 10x data while its codec map ran on
    * the single split. The count is EXPLICIT because user-pinned counts
    * are exempt from AQE coalescing: the shuffled bytes are 8-byte ids,
    * so size-based coalescing folded every decode back onto ONE task.
    */
  def spreadScan(df: DataFrame): DataFrame = {
    val p = df.sparkSession.sparkContext.defaultParallelism
    if (df.queryExecution.toRdd.getNumPartitions < p) df.repartition(p)
    else df
  }

  // ---------------------------------------------------------------- dedup

  /** Exact dedup by content fingerprint: one row per distinct fingerprint
    * with the canonical (minimum) key and the duplicate count.
    */
  def dedupExact(df: DataFrame, content: Column, key: Column): DataFrame =
    df.groupBy(sha2(content, 256).as("fp"))
      .agg(min(key).as("keep_id"), count(lit(1)).as("n_copies"))

  /** Canonical text form for "fuzzy-exact" dedup (the C4/CCNet trick):
    * lowercase, collapse every non-alphanumeric run to one space, trim.
    * One regex pass, fully codegen'd, and byte-replayable in DuckDB
    * (`lower` + RE2 `regexp_replace(..., 'g')` agree with Java regex on
    * this pattern because the class is pure ASCII).
    */
  def normalizeText(text: Column): Column =
    trim(regexp_replace(lower(text), "[^a-z0-9]+", " "))

  /** Normalized ("fuzzy-exact") dedup: documents that differ only in
    * case, punctuation or whitespace share a fingerprint. Same single
    * hash-shuffle shape as [[dedupExact]] — the normalization runs
    * map-side inside the scan projection — plus `n_raw_variants`
    * (distinct raw texts per group), the signal that separates true
    * byte-copies from near-copies the normalizer folded together.
    */
  def dedupNormalized(df: DataFrame, text: Column, key: Column): DataFrame =
    df.groupBy(sha2(normalizeText(text), 256).as("fp"))
      .agg(min(key).as("keep_id"), count(lit(1)).as("n_copies"),
        countDistinct(text).as("n_raw_variants"))

  /** The 3-word-shingle table a near-dup pipeline is built on: one row per
    * doc with its distinct shingle set. Exposed so composed pipelines can
    * share (or materialize) this subtree instead of re-deriving it.
    */
  def shingleTable(df: DataFrame, key: Column, text: Column): DataFrame =
    df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"), TextFns.shingles3(col("w")).as("shingles"))

  // MinHash permutation family: hv*(2p+1) mod 2^42 over the first 48 md5
  // bits per shingle — implemented in the native minhash_sig expression
  // (sparkext/TextSigs.scala, TextSigKernels), which documents the
  // no-overflow and oracle-replayability contract.

  /** MinHash/LSH near-duplicate pairs over a text column, verified with
    * exact Jaccard on 3-word shingles. Candidates come only from shared
    * LSH bands — never an all-pairs product. Deterministic: permutations
    * and band keys are md5-derived.
    *
    * The shingle table is persisted (memory-and-disk) because it feeds
    * both signature derivation and candidate verification; at cluster
    * scale a curation pipeline would materialize it to a table once —
    * recomputing the tokenize+shingle scan is the alternative trade.
    * The cache lives until the session drops it (Spark evicts LRU under
    * pressure); long-lived services calling these operators repeatedly
    * should `spark.catalog.clearCache()` between corpora or materialize
    * the shingle table themselves via [[shingleTable]].
    *
    * @param df        input table
    * @param key       unique document key column (orderable)
    * @param text      text column
    * @param perms     MinHash permutations (signature width, <= 20)
    * @param bands     LSH bands; rows per band = perms / bands
    * @param threshold exact-Jaccard acceptance threshold
    */
  def dedupNear(df: DataFrame, key: Column, text: Column,
                perms: Int = 16, bands: Int = 8,
                threshold: Double = 0.8): DataFrame =
    dedupNearOnShingles(shingleTable(df, key, text), perms, bands, threshold)

  /** [[dedupNear]] over a PREBUILT [[shingleTable]] — the subtree-sharing
    * entry point: a pipeline that needs both the LSH pairs and another
    * shingle consumer (e.g. [[jaccardJoinOnShingles]] in the recall
    * harness) builds and caches the (doc, shingles) table once and feeds
    * both, instead of each operator re-deriving the tokenize+shingle
    * scan. persistOnce is idempotent, so passing an already-cached table
    * never double-registers it.
    */
  def dedupNearOnShingles(shingles: DataFrame, perms: Int = 16,
                          bands: Int = 8,
                          threshold: Double = 0.8): DataFrame = {
    val sh = shingles.persistOnce()
    verifyJaccard(
      bucketPairs(bandTable(sh, perms, bands),
        Seq(col("band"), col("bkey"))),
      sh, threshold)
  }

  /** Adds a `sig_key` column: md5 over the "|"-joined `perms`-wide
    * MinHash signature — the STREAMABLE near-dup relation (agreeing on
    * all `perms` minimums means Jaccard ≈ 1 with overwhelming
    * probability, and unlike the banded pair join it is a plain per-row
    * key). Shared by [[dedupBySignature]] (batch, oracle-gated) and
    * StreamOps.dedupNearStream (dropDuplicatesWithinWatermark). A doc
    * with fewer than 3 tokens has no signature and gets a per-doc unique
    * `"nosig:"` key — never groupable, so sig-less docs always survive.
    *
    * Built as STAGED projections, not one nested Column: tokens,
    * signature and key each become an attribute before the next step
    * references them (twice, in the null guard). CollapseProject only
    * inlines single-use or cheap expressions, so nothing here is
    * evaluated more than once per row — the one-Column form re-ran the
    * whole tokenize+shingle+minhash pipeline per reference (measured
    * 3.3s vs 0.9s for x_dedup_sig at sf0.1).
    */
  def withSigKey(df: DataFrame, key: Column, text: Column,
                 perms: Int = 16): DataFrame =
    df.withColumn("_w", TextFns.tokens(text))
      .withColumn("_sig",
        call_function("minhash_sig", TextFns.shingles3(col("_w")), lit(perms)))
      .withColumn("sig_key",
        coalesce(
          when(col("_sig").isNotNull,
            md5(concat_ws("|", transform(col("_sig"), _.cast("string"))))),
          concat(lit("nosig:"), key.cast("string"))))
      .drop("_w", "_sig")

  /** Signature-class dedup — the batch twin of streaming near-dedup
    * (same [[withSigKey]] relation): group docs by their FULL MinHash
    * signature, elect the minimum doc_id per class as keeper, flag the
    * rest as drops. Deterministic (min, not arrival order), so the
    * DuckDB oracle replays it exactly. Docs with no signature (< 3
    * tokens) are their own keeper — too short to shingle is too short to
    * call a near-dup. Precision caveat at corpus scale: signature
    * equality is probabilistic — two docs sharing a fraction f of their
    * shingle sets collide with probability ~f^perms (all 16 minimums
    * drawn from the shared part), so a corpus of millions of docs
    * templated over a common scaffold WILL merge a few scaffold-
    * dominated classes (ScaleSpec demonstrates the rate). Raise `perms`
    * or fall back to [[dedupNear]]'s verified-Jaccard path when that
    * precision matters. Scale shape: one map-side signature pass, then
    * shuffles keyed by sig-key and doc id only (no pair expansion, no
    * array columns move) — the cheapest of the dedup family at 100 TB,
    * trading recall (signature-exact classes only) for a single-pass
    * plan; use [[dedupNear]] when banded-LSH recall is worth the pair
    * join.
    */
  def dedupBySignature(df: DataFrame, key: Column, text: Column,
                       perms: Int = 16): DataFrame = {
    // One signature pass, ONE shuffle: the min-keeper election is a
    // window over the signature key (sig-less docs carry unique
    // "nosig:" keys, so they partition alone and keep themselves — no
    // null-key skew partition exists). The earlier groupBy + join-back
    // shape branched the plan and recomputed the signature projection
    // per branch.
    val keyed = withSigKey(df.select(key.as("doc_id"), text.as("_text")),
      col("doc_id"), col("_text"), perms)
    keyed.select(col("doc_id"),
        min(col("doc_id"))
          .over(Window.partitionBy(col("sig_key"))).as("keeper_id"))
      .select(col("doc_id"), col("keeper_id"),
        (col("keeper_id") === col("doc_id")).cast("int").as("keep"))
  }

  /** (doc_id, band, bkey) LSH band table of a shingle table — the
    * candidate-generation key shared by [[dedupNear]] (self-dedup) and
    * [[dedupIncremental]] (delta-vs-corpus). The signature comes from the
    * native codegen'd `minhash_sig` expression (sparkext/TextSigs.scala):
    * one map-side pass per document, versus the earlier tall form that
    * exploded one row per shingle (corpus-scale at 100 TB) and paid a
    * `perms`-wide min hash-aggregate per doc. Bit-identical hashes
    * (TextSigsSpec pins parity against the exploded derivation), so the
    * DuckDB oracles that replay the tall SQL still hash-match — the swap
    * moved plan shape only: no explode, no signature Exchange, the whole
    * stage fuses into the scan's WholeStageCodegen span.
    */
  /** The (doc_id, band, bkey) LSH band-key relation over raw text —
    * [[bandTable]] over a fresh [[shingleTable]], exposed for consumers
    * that maintain a band table ACROSS invocations instead of inside
    * one plan (the streaming admit screen appends each batch's bands to
    * a persistent history). Same banding constants as [[dedupNear]], so
    * batch and streaming candidates can never disagree. Docs with < 3
    * tokens have no shingles and emit no rows — band-less means
    * screen-exempt, the [[withSigKey]] nosig discipline.
    */
  def bandKeyTable(df: DataFrame, key: Column, text: Column,
                   perms: Int = 16, bands: Int = 8): DataFrame =
    bandTable(shingleTable(df, key, text), perms, bands)

  private def bandTable(sh: DataFrame, perms: Int, bands: Int): DataFrame = {
    require(perms % bands == 0, "perms must be divisible by bands")
    require(perms <= 20, "multiplier 2p+1 <= 39 keeps hv*(2p+1) under 2^54 (no BIGINT overflow)")
    val rowsPerBand = perms / bands
    val sig = sh.select(col("doc_id"),
      expr(s"minhash_sig(shingles, $perms)").as("sig"))
    val bandStructs = (0 until bands).map { b =>
      struct(lit(b).as("band"),
        md5(concat_ws("|",
          (0 until rowsPerBand).map(r =>
            col("sig").getItem(b * rowsPerBand + r).cast("string")): _*))
          .as("bkey"))
    }
    sig.select(col("doc_id"), explode(array(bandStructs: _*)).as("bk"))
      .select(col("doc_id"), col("bk.band").as("band"), col("bk.bkey").as("bkey"))
  }

  /** Incremental dedup — the continuous-ingestion shape: flag each DELTA
    * document that duplicates the EXISTING corpus, exactly (fingerprint
    * match) or nearly (MinHash/LSH + exact-Jaccard >= threshold). The
    * candidate join is delta-bands × existing-bands only: delta-internal
    * duplicates are deliberately NOT flagged (run [[dedupNear]] on the
    * delta for that), and the existing corpus is never self-joined — at
    * 100 TB the corpus side contributes one band scan + one equi-join
    * probe, no quadratic term. Returns every delta doc with dup_exact /
    * dup_near / keep flags.
    */
  def dedupIncremental(existing: DataFrame, delta: DataFrame, key: Column,
                       text: Column, perms: Int = 16, bands: Int = 8,
                       threshold: Double = 0.8): DataFrame = {
    val exFp = existing.select(sha2(text, 256).as("fp")).distinct()
    val dupExact = delta.select(key.as("doc_id"), sha2(text, 256).as("fp"))
      .join(exFp, Seq("fp"), "left_semi")
      .select(col("doc_id"), lit(1L).as("de"))
    val shD = shingleTable(delta, key, text)
      .persistOnce()
    val shE = shingleTable(existing, key, text)
      .persistOnce()
    val cand = bandTable(shD, perms, bands)
      .join(bandTable(shE, perms, bands)
        .withColumnRenamed("doc_id", "exist_id"), Seq("band", "bkey"))
      .select(col("doc_id").as("doc_a"), col("exist_id").as("doc_b"))
      .distinct()
    val dupNear = cand
      .join(shD.select(col("doc_id").as("doc_a"), col("shingles").as("sa")),
        "doc_a")
      .join(shE.select(col("doc_id").as("doc_b"), col("shingles").as("sb")),
        "doc_b")
      .filter(size(array_intersect(col("sa"), col("sb"))).cast("double")
        / size(array_union(col("sa"), col("sb"))) >= threshold)
      .select(col("doc_a").as("doc_id")).distinct()
      .select(col("doc_id"), lit(1L).as("dn"))
    delta.select(key.as("doc_id"))
      .join(dupExact, Seq("doc_id"), "left")
      .join(dupNear, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("de"), lit(0L)).as("dup_exact"),
        coalesce(col("dn"), lit(0L)).as("dup_near"))
      .withColumn("keep",
        when(col("dup_exact") === 0 && col("dup_near") === 0, 1L)
          .otherwise(0L))
  }

  /** Unigram-LM perplexity scoring (the CCNet-style quality filter): the
    * corpus itself is the training set — add-one-smoothed unigram
    * probabilities p(w) = (c(w)+1)/(total+|V|), each doc scored by its
    * mean negative log-likelihood and perplexity exp(nll/n). Shapes: one
    * (doc,term) tf aggregate, one term-count aggregate over it (both
    * partial+final), the LM table equi-joined back on term (broadcast
    * when the vocabulary is bounded), corpus totals a 1-row broadcast.
    * High score = far from the corpus distribution = filter candidate.
    */
  def perplexity(df: DataFrame, key: Column, text: Column): DataFrame = {
    val d = df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) > 0)
    val tf = d.select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val tc = tf.groupBy(col("term")).agg(sum(col("tf")).as("c"))
    val st = tc.agg(sum(col("c")).as("total"), count(lit(1)).as("vocab"))
    tf.join(tc, "term")
      .crossJoin(broadcast(st))
      .withColumn("nlp",
        -log((col("c") + 1.0) / (col("total") + col("vocab"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        sum(col("nlp") * col("tf")).as("nll"))
      .select(col("doc_id"), col("n_tokens"),
        round(col("nll") / col("n_tokens"), 6).as("avg_nll"),
        round(exp(col("nll") / col("n_tokens")), 6).as("ppl"))
  }

  /** Bigram-LM perplexity — the higher-fidelity CCNet-style quality
    * filter next to the unigram [[perplexity]]: textbook Laplace bigram
    * p(b|a) = (C(ab)+1) / (C(a)+|V|) trained on the corpus itself, each
    * doc scored by its mean pairwise negative log-likelihood and
    * exp-perplexity. Unigram counts come from the SAME >= 2-token
    * population the pairs do, so the model and its scoring corpus agree.
    * Shapes: one pair shuffle to (doc,a,b) counts, a (a,b) aggregate over
    * it, the unigram table equi-joined on the context token (zipf skew
    * lands on AQE), corpus vocab a 1-row broadcast — work is O(total
    * pairs) with map-side combine everywhere, no stage superlinear in
    * corpus size.
    */
  def perplexityBigram(df: DataFrame, key: Column, text: Column): DataFrame = {
    val d = df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) >= 2)
      .persistOnce()
    val pairs = d.select(col("doc_id"),
        explode(TextFns.grams2(col("w"))).as("p"))
      .select(col("doc_id"), split(col("p"), " ").getItem(0).as("a"),
        split(col("p"), " ").getItem(1).as("b"))
      .groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("pf"))
      .persistOnce()
    val bc = pairs.groupBy(col("a"), col("b")).agg(sum(col("pf")).as("cab"))
    val uni = d.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("ca"))
    val v = uni.agg(count(lit(1)).as("vocab"))
    pairs.join(bc, Seq("a", "b"))
      .join(uni.withColumnRenamed("t", "a"), "a")
      .crossJoin(broadcast(v))
      .withColumn("nlp", -log((col("cab") + 1.0) / (col("ca") + col("vocab"))))
      .groupBy(col("doc_id"))
      .agg(sum(col("pf")).as("n_pairs"),
        sum(col("nlp") * col("pf")).as("nll"))
      .select(col("doc_id"), col("n_pairs"),
        round(col("nll") / col("n_pairs"), 6).as("avg_nll"),
        round(exp(col("nll") / col("n_pairs")), 6).as("ppl"))
  }

  /** Jelinek–Mercer interpolated bigram perplexity — the third smoothing
    * family next to add-one ([[perplexityBigram]]) and the unigram
    * [[perplexity]]: p(b|a) = λ·C(ab)/C(a) + (1−λ)·C(b)/N, the classic
    * fixed-weight interpolation (Jelinek & Mercer 1980) that backs off
    * smoothly to the unigram instead of flattening toward 1/|V|. Scored
    * pairs are corpus pairs (self-trained), so C(ab) ≥ 1 and the ML term
    * never zeroes the log. The λ/(1−λ) literals are printed into the
    * expression, so the oracle can replay the identical double
    * arithmetic — keep λ to a short decimal.
    *
    * Shapes are [[perplexityBigram]]'s plus one more unigram equi-join
    * (on the TARGET token) and a 1-row total broadcast — still O(total
    * pairs) with map-side combine everywhere.
    */
  def perplexityInterp(df: DataFrame, key: Column, text: Column,
                       lambda: Double = 0.75): DataFrame = {
    require(lambda > 0.0 && lambda < 1.0)
    val d = df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) >= 2)
      .persistOnce()
    val pairs = d.select(col("doc_id"),
        explode(TextFns.grams2(col("w"))).as("p"))
      .select(col("doc_id"), split(col("p"), " ").getItem(0).as("a"),
        split(col("p"), " ").getItem(1).as("b"))
      .groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("pf"))
      .persistOnce()
    val bc = pairs.groupBy(col("a"), col("b")).agg(sum(col("pf")).as("cab"))
    val uni = d.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("c"))
    val tot = uni.agg(sum(col("c")).as("n"))
    pairs.join(bc, Seq("a", "b"))
      .join(uni.select(col("t").as("a"), col("c").as("ca")), "a")
      .join(uni.select(col("t").as("b"), col("c").as("cb")), "b")
      .crossJoin(broadcast(tot))
      // CAST AS DOUBLE is load-bearing: Spark parses a bare 0.75 literal
      // as DECIMAL and would run the whole mixture in decimal(38,17)
      // while DuckDB promotes to DOUBLE — measurably different values
      // pre-round. Forcing double makes the arithmetic engine-identical.
      .withColumn("nlp",
        expr(s"-log(CAST($lambda AS DOUBLE) * cab / ca + " +
          s"CAST(${1.0 - lambda} AS DOUBLE) * cb / n)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("pf")).as("n_pairs"),
        sum(col("nlp") * col("pf")).as("nll"))
      .select(col("doc_id"), col("n_pairs"),
        round(col("nll") / col("n_pairs"), 6).as("avg_nll"),
        round(exp(col("nll") / col("n_pairs")), 6).as("ppl"))
  }

  /** Interpolated Kneser–Ney bigram perplexity (Kneser & Ney 1995) — the
    * fourth and strongest smoothing family in the LM-quality tier:
    *
    *   p(b|a) = (C(ab) − D)/C(a·) + D·N1+(a·)/C(a·) · N1+(·b)/N1+(··)
    *
    * with discount D = 0.75, context total C(a·) = Σ_b C(ab), fan-out
    * N1+(a·) = |{b : C(ab) > 0}|, continuation count N1+(·b) =
    * |{a : C(ab) > 0}| and bigram-type total N1+(··). The continuation
    * distribution scores a word by how many CONTEXTS it follows, not how
    * often — the fix for high-frequency-but-context-bound words
    * ("francisco") that add-one and JM both overrate. Scored pairs are
    * corpus pairs (self-trained), so C(ab) ≥ 1 > D and the discounted
    * term never goes negative (no max() needed — documented invariant,
    * kept out of both engines for expression parity).
    *
    * Shapes: [[perplexityBigram]]'s pair table, then all three KN
    * statistics come from ONE groupBy(a) over the distinct-bigram table
    * (sum + count per context) plus one groupBy(b) (continuation) and a
    * 1-row type total — every aggregate is map-side combinable and
    * vocabulary-bounded. The mixture expression is written with CAST AS
    * DOUBLE literals in identical token order both engines (the
    * [[perplexityInterp]] decimal-literal lesson).
    */
  def perplexityKneserNey(df: DataFrame, key: Column, text: Column): DataFrame = {
    val d = df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) >= 2)
      .persistOnce()
    val pairs = d.select(col("doc_id"),
        explode(TextFns.grams2(col("w"))).as("p"))
      .select(col("doc_id"), split(col("p"), " ").getItem(0).as("a"),
        split(col("p"), " ").getItem(1).as("b"))
      .groupBy(col("doc_id"), col("a"), col("b"))
      .agg(count(lit(1)).as("pf"))
      .persistOnce()
    val bc = pairs.groupBy(col("a"), col("b")).agg(sum(col("pf")).as("cab"))
      .persistOnce()
    val ctx = bc.groupBy(col("a"))
      .agg(sum(col("cab")).as("ctot"), count(lit(1)).as("n1a"))
    val contb = bc.groupBy(col("b")).agg(count(lit(1)).as("n1b"))
    val types = bc.agg(count(lit(1)).as("nbt"))
    pairs.join(bc, Seq("a", "b"))
      .join(ctx, "a")
      .join(contb, "b")
      .crossJoin(broadcast(types))
      .withColumn("nlp",
        expr("-log((cab - CAST(0.75 AS DOUBLE)) / ctot + " +
          "CAST(0.75 AS DOUBLE) * n1a / ctot * n1b / nbt)"))
      .groupBy(col("doc_id"))
      .agg(sum(col("pf")).as("n_pairs"),
        sum(col("nlp") * col("pf")).as("nll"))
      .select(col("doc_id"), col("n_pairs"),
        round(col("nll") / col("n_pairs"), 6).as("avg_nll"),
        round(exp(col("nll") / col("n_pairs")), 6).as("ppl"))
  }

  /** CCNet-style perplexity bucketing (Wenzek et al. 2020, public
    * paper): per-language head/middle/tail split over LM perplexity —
    * the curation gate that routes each language's cleanest slice to
    * training, the middle to review, the tail to the bin. Scoring is the
    * unigram [[perplexity]]; boundaries are exact interpolated QUARTILES
    * (head ≤ p25, middle ≤ p75) per language from
    * [[groupQuantileTable]]'s distribution walk (no per-group value
    * buffer), joined back as a language-sized broadcast. Quartiles
    * rather than the paper's tertiles deliberately: 0.25/0.75 positions
    * and fractions are binary-exact, so a quantile_cont oracle lands on
    * bit-identical boundaries — a tertile's (n−1)/3 position rounds in
    * float and can sit one ulp below a data point the walk hits exactly,
    * flipping the bucket of a doc AT the boundary. (The tertile variant
    * is a (num, den) change if oracle parity is not required.)
    */
  def ccnetBuckets(docs: DataFrame, key: Column, text: Column,
                   lang: Column): DataFrame = {
    val scored = perplexity(docs, key, text)
      .join(docs.select(key.as("doc_id"), lang.as("lang")), "doc_id")
      .persistOnce()
    val bounds = groupQuantileTable(scored, col("lang"), col("ppl"),
      Seq(("q1", 1, 4), ("q2", 3, 4)))
    scored.join(broadcast(bounds.withColumnRenamed("grp", "lang")), "lang")
      .select(col("doc_id"), col("lang"), col("n_tokens"), col("ppl"),
        when(col("ppl") <= col("q1"), lit("head"))
          .when(col("ppl") <= col("q2"), lit("middle"))
          .otherwise(lit("tail")).as("bucket"))
  }

  /** Candidate i<j pairs from a blocked/bucketed member table holding a
    * `doc_id` column: per-bucket member lists once (no self-join
    * re-execution), pairs expanded locally. Bucket lists must be small by
    * construction (LSH bands, simhash blocks, rare-first prefixes) — this
    * is the shape that keeps every candidate generator off the all-pairs
    * product at any scale. The expansion is two chained explodes (member,
    * then its remainder slice) rather than one flattened pair array, so
    * peak row size is O(bucket), never O(bucket²) — a degenerate bucket
    * (say a million byte-identical docs landing in one simhash block)
    * produces many candidate ROWS, which stream, instead of one
    * multi-gigabyte array value, which OOMs.
    */
  private def bucketPairs(member: DataFrame, buckets: Seq[Column]): DataFrame =
    member
      .groupBy(buckets: _*)
      .agg(sort_array(collect_list(col("doc_id"))).as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("ds"), posexplode(col("ds")))
      .select(col("col").as("doc_a"),
        explode(slice(col("ds"), col("pos") + lit(2), size(col("ds"))))
          .as("doc_b"))
      .distinct()

  /** [[bucketPairs]] with a scalar payload column carried through the pair
    * expansion (emitted as `pa`/`pb`), letting a verify step with a small
    * per-doc payload (a fingerprint long) run inline on the expanded pairs
    * instead of re-joining the source table. NOT deduplicated — callers
    * filter (cheap, codegen'd) and then distinct. Payloads must be
    * functionally determined by doc_id so duplicates collapse cleanly.
    */
  private def bucketPairsWith(member: DataFrame, buckets: Seq[Column],
                              payload: Column): DataFrame =
    member
      .groupBy(buckets: _*)
      .agg(sort_array(collect_list(struct(col("doc_id"), payload.as("pl"))))
        .as("ds"))
      .filter(size(col("ds")) > 1)
      .select(col("ds"), posexplode(col("ds")))
      .select(col("col").as("x"),
        explode(slice(col("ds"), col("pos") + lit(2), size(col("ds"))))
          .as("y"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.pl").as("pa"), col("y.pl").as("pb"))

  /** Exact-Jaccard verification of candidate pairs against a PERSISTED
    * shingle table: two plain equi-joins on the pair's ends, then local
    * array math. Both joins read the cache (every caller persists `sh`
    * before candidate generation, which is also what a 100-TB pipeline
    * does — the shingle table is materialized once and probed per stage),
    * so this is two hash joins and a codegen'd filter; the
    * join-once-melt-regroup alternative replaces one of those joins with a
    * pair-keyed aggregation over array columns, which Spark can only plan
    * as a SortAggregate — measured ~2x slower on the same candidates.
    * Threshold applies to the UNROUNDED ratio (the oracle does the same);
    * rounding happens only in the reported column, so a jaccard of
    * 0.7999995 can never pass on one side and fail on the other.
    */
  private def verifyJaccard(cand: DataFrame, sh: DataFrame,
                            threshold: Double): DataFrame =
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")),
        "doc_b")
      .withColumn("jaccard_raw",
        size(array_intersect(col("sa"), col("sb"))).cast("double")
          / size(array_union(col("sa"), col("sb"))))
      .filter(col("jaccard_raw") >= threshold)
      .select(col("doc_a"), col("doc_b"),
        round(col("jaccard_raw"), 6).as("jaccard"))

  /** SimHash near-duplicate pairs: one 60-bit tf-weighted fingerprint per
    * document (bit i is set iff more of the doc's md5 token hashes have
    * bit i set than clear), candidates from pigeonhole blocking — the
    * fingerprint splits into maxHamming+1 equal blocks, and any pair
    * within the hamming radius must agree exactly on at least one block —
    * then exact hamming distance on candidates only. Candidate generation
    * is a groupBy on (block, value), never the all-pairs product; the
    * blocking is LOSSLESS, which the oracle gate proves by comparing
    * against a brute-force all-pairs hamming filter. 60 bits = 15 md5 hex
    * chars, so the fingerprint fits a signed long in both engines and the
    * whole derivation is exact-integer, oracle-replayable math.
    */
  def dedupSimhash(df: DataFrame, key: Column, text: Column,
                   maxHamming: Int = 3): DataFrame = {
    val bits = 60
    val blocks = maxHamming + 1
    require(bits % blocks == 0, s"$bits bits must split into $blocks blocks")
    val blockBits = bits / blocks
    // Fingerprint from the native codegen'd simhash60 expression
    // (sparkext/TextSigs.scala): one map-side pass per document, versus
    // the earlier tall form that exploded one row per token and paid a
    // 60-column long-sum aggregate. Bit-identical (TextSigsSpec pins
    // parity against the exploded derivation, including the ties-to-0
    // majority rule), so the oracle's tall SQL still hash-matches; the
    // isNotNull filter replicates the exploded form's zero-token-doc
    // drop (no rows -> no group).
    val fp = df
      .select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .select(col("doc_id"), expr("simhash60(w)").as("fp"))
      .filter(col("fp").isNotNull)
    val blockStructs = (0 until blocks).map { b =>
      struct(lit(b).as("blk"),
        shiftright(col("fp"), b * blockBits)
          .bitwiseAND(lit((1L << blockBits) - 1)).as("bv"))
    }
    val blocked = fp
      .select(col("doc_id"), col("fp"), explode(array(blockStructs: _*)).as("bk"))
      .select(col("doc_id"), col("fp"), col("bk.blk").as("blk"), col("bk.bv").as("bv"))
    // The payload is ONE long, so the fingerprints ride along through the
    // pair expansion and hamming verifies inline — no re-join against the
    // fingerprint table. That join is the right shape when the verify
    // payload is a big array (see verifyJaccard); here it only re-shuffled
    // candidate pairs that low-entropy corpora (many near-identical docs →
    // colliding blocks) make numerous. Filter BEFORE distinct: the hamming
    // test is three codegen'd long ops, dedup is a shuffle.
    bucketPairsWith(blocked, Seq(col("blk"), col("bv")), col("fp"))
      .select(col("doc_a"), col("doc_b"),
        bit_count(col("pa").bitwiseXOR(col("pb"))).as("hamming"))
      .filter(col("hamming") <= maxHamming)
      .distinct()
  }

  /** Exact n-gram (3-word shingle) Jaccard similarity join: EVERY pair
    * with jaccard >= threshold, no approximation — the exact counterpart
    * to [[dedupNear]]'s probabilistic MinHash recall. Candidates come from
    * lossless prefix filtering (the AllPairs/PPJoin principle): order each
    * doc's shingles by global document frequency (rarest first, shingle
    * text as tiebreak), keep only the first s - ceil(t*s) + 1; any
    * qualifying pair must share a prefix shingle, so an inverted index
    * over prefixes alone yields a candidate superset — and prefix shingles
    * are the RARE ones, so inverted-index buckets stay small where a full
    * inverted index would put every doc of a 100-TB corpus in the
    * "the"-bucket. ceil(t*s) uses exact integer math (threshold as a ppm
    * ratio), so float rounding can never shrink a prefix and lose a pair.
    */
  def jaccardJoin(df: DataFrame, key: Column, text: Column,
                  threshold: Double): DataFrame =
    jaccardJoinOnShingles(shingleTable(df, key, text), threshold)

  /** [[jaccardJoin]] over a PREBUILT [[shingleTable]] — see
    * [[dedupNearOnShingles]] for the subtree-sharing rationale.
    */
  def jaccardJoinOnShingles(shingles: DataFrame,
                            threshold: Double): DataFrame = {
    val ppm = math.round(threshold * 1000000)
    val sh = shingles.persistOnce()
    // two consumers (df counts, prefix build) — persist like the
    // containment join's index, or each re-explodes the corpus
    val tall = sh.select(col("doc_id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("s"))
      .persistOnce()
    val dfreq = tall.groupBy(col("s")).agg(count(lit(1)).as("df"))
    // rarest-first rank via a per-doc array sort, not a
    // Window.partitionBy(doc_id): the groupBy shuffles each shingle row
    // once and sorts each doc's OWN list (s log s per array), where the
    // window form paid a partition-wide sort of the whole tall table
    // (the fuzzyJoin prefix discipline). Arrays are doc-bounded by
    // construction. struct(df, s) sorts exactly like (df asc, s asc).
    // BIGINT before multiplying in plen: sz is a 32-bit size() and ppm
    // is up to 10^6, so `sz * ppm` overflows Int at ~2.7k shingles — a
    // big but realistic document — and Spark 4's default ANSI mode turns
    // that wrap into a runtime ARITHMETIC_OVERFLOW.
    val prefix = tall.join(dfreq, "s")
      .groupBy(col("doc_id"), col("sz"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ss"))
      .withColumn("plen",
        expr(s"sz - ((CAST(sz AS BIGINT) * $ppm + 999999) div 1000000) + 1"))
      .select(col("doc_id"), col("sz"),
        posexplode(expr("slice(ss, 1, plen)")).as(Seq("p0", "e")))
      .select(col("doc_id"), col("sz"), col("e.s").as("s"),
        (col("p0") + 1).as("rnk"))
    // Pair expansion carries (size, prefix position) so the two other
    // lossless AllPairs/PPJoin prunes can run BEFORE the array-carrying
    // verification join — the verify shuffle moves two full shingle
    // arrays per pair, so every candidate pruned here is real bandwidth:
    //  - size filter: jaccard >= t forces min(sa,sb) >= t*max(sa,sb);
    //  - positional filter: for the FIRST shingle two prefixes share,
    //    overlap <= 1 + min(sa-pa, sb-pb), and jaccard >= t forces
    //    overlap >= ceil(t*(sa+sb)/(1+t)). OR-ing the test across every
    //    shared shingle includes the first one, so pruning keeps a
    //    superset of the answer. Exact ppm integer math throughout.
    val m = prefix.select(col("s"),
      struct(col("doc_id"), col("sz"), col("rnk")).as("m"))
    val cand = m.groupBy(col("s"))
      .agg(sort_array(collect_list(col("m"))).as("ms"))
      .filter(size(col("ms")) > 1)
      // two chained explodes, not one flattened pair array: peak row size
      // stays O(bucket) even when a prefix shingle's bucket is huge (see
      // bucketPairs for the full rationale).
      .select(col("ms"), posexplode(col("ms")))
      .select(col("col").as("x"),
        explode(slice(col("ms"), col("pos") + lit(2), size(col("ms"))))
          .as("y"))
      .select(col("x.doc_id").as("doc_a"), col("y.doc_id").as("doc_b"),
        col("x.sz").as("sa"), col("y.sz").as("sb"),
        col("x.rnk").as("pa"), col("y.rnk").as("pb"))
      .filter(least(col("sa"), col("sb")) * 1000000L >=
        greatest(col("sa"), col("sb")) * ppm)
      .filter(lit(1) + least(col("sa") - col("pa"), col("sb") - col("pb")) >=
        expr(s"(CAST($ppm AS BIGINT) * (sa + sb) + ${1000000L + ppm - 1})" +
          s" div ${1000000L + ppm}"))
      .select(col("doc_a"), col("doc_b"))
      // persisted like sh/tall: the pruned candidate set is pair-bounded
      // and the whole prefix pipeline's output — a resident pipeline
      // re-reads it instead of the collect/explode chain that derived it
      .persistOnce()
    // dedupe AFTER verification: a pair can reach here once per shared
    // prefix shingle (rarely more than twice), and verifying a duplicate
    // is two cached-hash-join probes — cheaper than a full shuffle of the
    // candidate stream. The distinct then runs on the tiny verified set,
    // where identical pairs carry bit-identical jaccard and collapse whole.
    verifyJaccard(cand, sh, threshold).distinct()
  }

  /** Asymmetric containment join — the near-dup relation Jaccard
    * structurally MISSES: a document whose shingle set sits inside a
    * larger one (quoted article + commentary, doc + boilerplate frame,
    * chunk re-shipped inside a bundle) has containment |A∩B|/|A| ≈ 1 but
    * Jaccard ≈ |A|/|B|, far below any dedup threshold when B is big.
    * Emits one DIRECTIONAL row per (contained, container) pair with
    * exact-ppm containment and Jaccard plus the `jaccard_misses` flag
    * (containment-caught, Jaccard-missed — the pairs this operator
    * exists for).
    *
    * Blocking is the containment form of the AllPairs prefix filter:
    * order each doc's shingles by global df (rarest first, shingle text
    * tiebreak), keep the first s - ceil(t·s) + 1 as the CONTAINED-side
    * prefix, and join it against the FULL inverted index — pigeonhole:
    * at most (1-t)·s of A's shingles are absent from any container, so
    * a prefix one longer must hit it. Unlike [[jaccardJoinOnShingles]]
    * the container side cannot be prefix-filtered (a tiny doc hides in
    * a huge one), but the prefix shingles are the globally RARE ones,
    * so each posting list the prefix probes stays small; a |B| ≥ t·|A|
    * size filter prunes before the array-carrying verify. Candidates
    * dedupe BEFORE verification here (a contained doc shares its whole
    * prefix with its container — every true pair would otherwise verify
    * plen times). Exact integer ppm math throughout.
    *
    * 100-TB practice: run this AFTER exact dedup. Byte-copies are all
    * mutually contained, so a duplicate-heavy corpus pays k² directional
    * pairs per k-copy class for a relation exact dedup reports in one
    * row (measured on the 10× duplicate-heavy rehearsal replica: output
    * grew 551× on 10× data, runtime staying sublinear IN THAT OUTPUT).
    * On a deduped corpus the output is just the asymmetric tails this
    * operator exists for.
    */
  def containmentJoin(df: DataFrame, key: Column, text: Column,
                      threshold: Double,
                      jaccardLine: Double = 0.8): DataFrame = {
    require(threshold > 0.5 && threshold <= 1.0,
      "containment threshold in (0.5, 1] — below that the prefix filter " +
        "degenerates toward the full inverted index")
    require(jaccardLine > 0.0 && jaccardLine <= 1.0,
      "jaccardLine is the caller's OWN dedup threshold — the " +
        "jaccard_misses flag marks pairs that dedup pass would miss")
    val jaccardPpm = math.round(jaccardLine * 1000000)
    val ppm = math.round(threshold * 1000000)
    // spreadScan: the verify stage at the bottom joins cand (tiny,
    // broadcast) against THIS cached table twice — with no exchange in
    // between, the whole array_intersect verification runs at the scan's
    // split count (2 tasks on the single-file local fixture, 1.9s of the
    // 3.3s warm wall). Spreading before the persist costs one bounded
    // round-robin exchange at cache build and is a no-op at scale.
    val sh = spreadScan(shingleTable(df, key, text)).persistOnce()
    // the tall (doc, shingle) index feeds THREE consumers here (df
    // counts, prefix build, container-side probe) — persist it like the
    // shingle table, or each consumer re-explodes the whole corpus
    val tall = sh.select(col("doc_id"), size(col("shingles")).as("sz"),
        explode(col("shingles")).as("s"))
      .persistOnce()
    val dfreq = tall.groupBy(col("s")).agg(count(lit(1)).as("df"))
    val prefix = tall.join(dfreq, "s")
      .groupBy(col("doc_id"), col("sz"))
      .agg(sort_array(collect_list(struct(col("df"), col("s")))).as("ss"))
      .withColumn("plen",
        expr(s"sz - ((CAST(sz AS BIGINT) * $ppm + 999999) div 1000000) + 1"))
      .select(col("doc_id").as("doc_a"), col("sz").as("na"),
        explode(expr("slice(ss, 1, plen)")).as("e"))
      .select(col("doc_a"), col("na"), col("e.s").as("s"))
    val cand = prefix
      .join(tall.select(col("doc_id").as("doc_b"), col("sz").as("nb"),
        col("s")), "s")
      .filter(col("doc_a") =!= col("doc_b"))
      // |A∩B| <= |B| and containment needs |A∩B| >= t|A|, so |B| >= t|A|
      .filter(col("nb").cast("bigint") * 1000000L >=
        col("na").cast("bigint") * ppm)
      .select(col("doc_a"), col("doc_b")).distinct()
      // persisted like the shingle/tall tables above it: the candidate
      // set is the whole prefix-filter pipeline's output (pair-bounded),
      // and a resident pipeline re-verifying thresholds reads it, not
      // the five-stage chain that derived it
      .persistOnce()
    cand
      .join(sh.select(col("doc_id").as("doc_a"), col("shingles").as("sa")),
        "doc_a")
      .join(sh.select(col("doc_id").as("doc_b"), col("shingles").as("sb")),
        "doc_b")
      .select(col("doc_a"), col("doc_b"),
        size(array_intersect(col("sa"), col("sb"))).as("i"),
        size(col("sa")).as("na"), size(col("sb")).as("nb"))
      .filter(col("i").cast("bigint") * 1000000L >=
        col("na").cast("bigint") * ppm)
      .select(col("doc_a").as("doc_contained"),
        col("doc_b").as("doc_container"),
        expr("CAST(i AS BIGINT) * 1000000 div na").as("containment_ppm"),
        expr("CAST(i AS BIGINT) * 1000000 div (na + nb - i)").as("jaccard_ppm"))
      .withColumn("jaccard_misses",
        (col("jaccard_ppm") < jaccardPpm).cast("int"))
  }

  /** Exact duplicate-SPAN detection — the substring-level dedup signal
    * (the "dedup at the span level, not the document level" move from the
    * train-data-dedup literature): slide a `window`-token window over
    * every document, hash each window, and flag the windows whose hash
    * occurs at least twice corpus-wide (cross-doc boilerplate AND
    * in-doc repetition both count — a span repeated inside one document
    * is just as memorizable). Reports per doc: total windows, duplicated
    * windows, the duplicated fraction, and a >= 20% `flagged` gate (exact
    * integer compare). Docs shorter than `window` tokens have no window
    * and are excluded — they cannot carry a duplicated span.
    *
    * Scale shape: windows never materialize as a corpus-wide string table
    * — each doc's windows collapse to (doc, hash) counts in one map-side-
    * combined aggregate, the corpus-wide occurrence total is a second agg
    * on the hash, and the dup set equi-joins back. Window construction is
    * per-row array math ([[graft.functions.TextFns.gramsN]]); total work
    * is O(tokens x window) with no shuffle bigger than one row per
    * distinct (doc, hash).
    */
  def dedupSubstrings(df: DataFrame, key: Column, text: Column,
                      window: Int): DataFrame = {
    // window hashes from the native gram_md5 expression: one digest pass
    // per window, versus window-1 chained interpreted zip_with passes
    // that built every window string before hashing it (TextSigsSpec
    // pins bit-parity with the composed explode(gramsN)+md5 form, so
    // the DuckDB oracle's list_slice replay still hash-matches)
    val perDoc = df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) >= window)
      .select(col("doc_id"),
        explode(call_function("gram_md5", col("w"), lit(window))).as("h"))
      .groupBy(col("doc_id"), col("h")).agg(count(lit(1)).as("c"))
      .persistOnce()
    val dupTotals = perDoc.groupBy(col("h")).agg(sum(col("c")).as("tot"))
      .filter(col("tot") >= 2)
    val dupPerDoc = perDoc.join(dupTotals, "h")
      .groupBy(col("doc_id")).agg(sum(col("c")).as("n_dup"))
    // n_windows = sum of window counts, recovered from the cached (doc,
    // hash) table — NOT a second tokenize+gram scan of the corpus (every
    // doc that survives the length filter has >= 1 window, so no doc is
    // lost to the aggregation).
    perDoc.groupBy(col("doc_id")).agg(sum(col("c")).as("n_windows"))
      .join(dupPerDoc, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_windows"),
        coalesce(col("n_dup"), lit(0L)).as("n_dup_windows"),
        round(coalesce(col("n_dup"), lit(0L)).cast("double")
          / col("n_windows"), 6).as("dup_frac"),
        (coalesce(col("n_dup"), lit(0L)) * 5 >= col("n_windows"))
          .cast("int").as("flagged"))
  }

  /** Distributed dense rank of an already-DISTINCT key table — the
    * driver-offset zipWithIndex ([[rangedQuantileTable]]'s phase-1
    * shape, generalized to any sort-key arity): range-partition on the
    * keys so partition boundaries respect global order, count each
    * partition (ONE bounded row per partition to the driver), broadcast
    * the exclusive prefix sums back, and add them to the per-partition
    * row_number. No single-partition window anywhere; ranks are global
    * sorted positions, so they are partitioning-independent even though
    * range boundaries come from sampling. Returns (keys + "rnk" column,
    * total key count).
    */
  private def globalDenseRank(keys: DataFrame,
                              partitions: Int): (DataFrame, Long) = {
    val cols = keys.columns.map(col(_))
    // cache the key table FIRST: repartitionByRange runs a separate
    // range-boundary SAMPLING job over its input, which would otherwise
    // recompute the whole distinct upstream twice per call
    val cached = trackedCache(keys)
    val ranged = trackedCache(cached
      .repartitionByRange(partitions, cols: _*)
      .sortWithinPartitions(cols: _*)
      .withColumn("pid", spark_partition_id()))
    val totals = ranged.groupBy(col("pid")).agg(count(lit(1)).as("c"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    // monotonically_increasing_id packs the within-partition index into
    // 33 low bits; a partition at/above 2^33 rows would silently bleed
    // into the partition-id bits and corrupt every rank — the counts are
    // already on the driver, so fail loudly instead (the fix is more
    // partitions, and the message says so)
    require(totals.forall(_._2 < (1L << 33)),
      "globalDenseRank: a partition holds >= 2^33 rows; raise `partitions`")
    val n = totals.map(_._2).sum
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _).init)
    val spark = keys.sparkSession
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("pid", "off"))
    // within-partition position WITHOUT a Window.partitionBy(pid) pass
    // (that window hash-shuffles the whole table a second time every
    // doubling round): monotonically_increasing_id over the already
    // range-sorted partitions is partitionIndex·2^33 + rowIndex, so the
    // low 33 bits ARE the sorted within-partition index — the broadcast
    // offset join is then the only post-sort work
    val ranked = ranged
      .withColumn("rn",
        monotonically_increasing_id().bitwiseAND(lit((1L << 33) - 1)))
      .join(offDf, "pid")
      .withColumn("rnk", col("rn") + col("off"))
      .drop("pid", "rn", "off")
    (ranked, n)
  }

  /** Suffix-array substring dedup — the exact maximal-span upgrade over
    * [[dedupSubstrings]]'s fixed windows (Lee et al. 2022, "Deduplicating
    * Training Data Makes Language Models Better"): for every token
    * position, dup_len(pos) = the longest prefix of the suffix starting
    * there that occurs ANYWHERE ELSE in the corpus (capped at `cap`),
    * from which each document reports its longest duplicated span, the
    * positions sitting inside a duplicated span of ≥ `minSpan` tokens,
    * and the exact fraction of its tokens covered by such spans — the
    * numbers a Lee-et-al substring dedup pass would actually remove.
    *
    * Construction is a DISTRIBUTED suffix array with a payload-decided
    * strategy pick. At cap ≤ 128 (the body's DirectSortCap), the capped
    * suffix strings are range-sorted and dense-ranked DIRECTLY via
    * [[globalDenseRank]] — one sort moving a few hundred bytes per row
    * replaces the whole doubling loop, whose every round moves ~16-byte
    * rank pairs through 3 shuffles + a doc-keyed window + a cache
    * materialization (measured 14.2s → 8.6s at sf0.1 for the default
    * cap=64). The direct pick is additionally bounded by the corpus's
    * max doc length (max_doc_tokens × cap ≤ 8M token slots, read off
    * the precondition aggregate for free): its seed builds each doc's
    * full gram array in one row before exploding, so a single
    * 100k-token document at cap=128 would otherwise stage tens of MB
    * in one row — past the bound the doubling path wins regardless of
    * cap. Above that, classic prefix doubling: ranks seed at block
    * length 8, then log2(cap)−3 doubling rounds, each one doc-keyed
    * lead() window + range-sort + dense-rank of the (rank,
    * rank-at-offset) pairs (bounded per-partition counts to the driver
    * — the [[rangedQuantileTable]] discipline, never a single-partition
    * window) — the payload-bounded path that keeps a 4096-token cap
    * (~20 KB of suffix string) off the wire. Both paths are LINEAR in
    * corpus tokens with a round count fixed by `cap`, never the corpus
    * — the O(log) bounded-rounds pattern this engine already proves in
    * q_bfs/x_dedup_cluster; measured on this box, 10× the corpus costs
    * ~1.7× wall, because at test scale the wall is stage-count × fixed
    * scheduling overhead, not data volume.
    * LCPs: on the direct path, dup_len is read PER POSITION straight
    * off the sorted position table — the textbook suffix-array
    * property that a suffix's longest prefix shared with any other
    * suffix is realized by one of its two sorted neighbors — with no
    * gram distinct, no rank join-back and no class-representative
    * machinery (round-15 restructure: ~23 AQE jobs → ~10 per run;
    * with the shared `marked` core persisted, min-of-two at sf0.1
    * dropped 4.3s → 1.2s direct / 7.2s → 2.0s doubling gate, cold
    * first-run cost flat). On the doubling path, adjacent-class LCPs
    * come from ONE ordered pairing of the final classes plus a
    * zip_with fold over each representative's ≤cap-token slice
    * (payload bounded by `cap` per row at any corpus size — cheaper
    * than the classic rank-table descent's log2(cap) extra join
    * rounds). A unique per-document sentinel token (containing ' ',
    * which the tokenizer can never emit) makes rank equality imply
    * REAL token equality — two distinct positions can never agree on a
    * block containing a sentinel — so the reported spans are exact,
    * not hash-approximate, and a class still tied at the cap provably
    * shares `cap` real tokens.
    */
  def dedupSuffix(df: DataFrame, key: Column, text: Column,
                  minSpan: Int = 10, cap: Int = 64,
                  partitions: Int = 32, seed: Int = 0): DataFrame = {
    val (marked, _) =
      suffixPositions(df, key, text, minSpan, cap, partitions, seed)
    marked
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(max(col("dup_len")).as("max_dup_span"),
        sum((col("dup_len") >= minSpan.toLong).cast("long"))
          .as("n_dup_positions"),
        // runend is NULL until the first marked position — coalesce so
        // a doc with no marked span reports 0, not NULL
        sum(coalesce((col("runend") > col("pos")).cast("long"), lit(0L)))
          .as("covered_tokens"))
      .select(col("doc_id"), col("n_tokens"), col("max_dup_span"),
        col("n_dup_positions"), col("covered_tokens"),
        round(col("covered_tokens").cast("double") / col("n_tokens"), 6)
          .as("dup_coverage"))
  }

  /** Onion (span-removal) dedup — the APPLY step of [[dedupSuffix]]:
    * Lee et al. 2022 don't just MEASURE duplicated spans, they cut them
    * out of the corpus. Every token covered by a duplicated span of ≥
    * `minSpan` tokens (the identical interval union dedupSuffix gates)
    * is removed; each doc reports its retained token count and the md5
    * of the retained text, so the downstream training run consumes a
    * corpus whose duplicated substrings appear ONCE... in first-
    * occurrence position (the first copy's positions are themselves
    * covered — onion removal drops every occurrence of a span that
    * appears anywhere else, the aggressive variant the paper's
    * dedup-both-copies setting uses). Cost on top of [[dedupSuffix]]:
    * one token-proportional posexplode equi-join (the token VALUES —
    * ranks alone cannot rebuild text) and the same per-doc aggregate.
    * A fully-covered doc keeps zero tokens and reports md5("") — the
    * row stays, so corpus accounting never loses a document.
    */
  def dedupOnion(df: DataFrame, key: Column, text: Column,
                 minSpan: Int = 10, cap: Int = 64,
                 partitions: Int = 32, seed: Int = 0): DataFrame = {
    val (marked, base) = suffixPositions(df, key, text, minSpan, cap,
      partitions, seed)
    val toks = base.select(col("doc_id"),
      posexplode(col("w")).as(Seq("pos", "tok")))
    marked
      .withColumn("kept", !coalesce(col("runend") > col("pos"), lit(false)))
      .join(toks, Seq("doc_id", "pos"))
      .groupBy(col("doc_id"), col("n_tokens"))
      .agg(sum(col("kept").cast("long")).as("kept_tokens"),
        md5(concat_ws(" ", transform(
          array_sort(collect_list(when(col("kept"),
            struct(col("pos"), col("tok"))))),
          x => x.getField("tok")))).as("kept_md5"))
      .select(col("doc_id"), col("n_tokens"), col("kept_tokens"),
        (col("n_tokens") - col("kept_tokens")).as("removed_tokens"),
        col("kept_md5"))
  }

  /** The shared suffix-array core of [[dedupSuffix]]/[[dedupOnion]]:
    * per-position dup_len plus the running interval-union end, and the
    * cached token-array base for consumers that need token values.
    */
  private def suffixPositions(df: DataFrame, key: Column, text: Column,
                              minSpan: Int, cap: Int, partitions: Int,
                              seed: Int): (DataFrame, DataFrame) = {
    require(minSpan >= 1 && cap >= minSpan && cap <= 4096 &&
      Integer.bitCount(cap) == 1,
      "dedupSuffix: need 1 <= minSpan <= cap <= 4096 with cap a power " +
        "of two (the doubling rounds tile exactly)")
    require(seed == 0 || (seed <= cap && Integer.bitCount(seed) == 1),
      "dedupSuffix: seed must be 0 (auto) or a power of two <= cap " +
        "(the doubling rounds tile exactly from the seed)")
    val base = trackedCache(df.select(key.as("doc_id"),
        TextFns.tokens(text).as("w"))
      .filter(size(col("w")) >= 1))
    // ENFORCED precondition, fused into ONE aggregate over the cached
    // base (this action also materializes the cache): duplicate keys
    // would silently multiply every per-doc window each round, break
    // the unique-sentinel exactness argument and inflate the coverage
    // stats — fail loudly per the documented-require() contract
    val pre = base.agg(count(lit(1)).as("n"),
      countDistinct(col("doc_id")).as("nd"),
      // coalesce: max()/sum() over an EMPTY corpus are NULL, and the
      // suffix array of zero documents is legal (empty output, direct
      // path)
      coalesce(max(size(col("w"))), lit(0)).as("maxn"),
      coalesce(sum(size(col("w")).cast("long")), lit(0L)).as("toks"))
      .head()
    require(pre.getLong(0) == pre.getLong(1),
      s"dedupSuffix: ${pre.getLong(0) - pre.getLong(1)} duplicate " +
        "document keys — the suffix array requires a unique key per " +
        "document")
    val maxDocLen = pre.getInt(2).toLong
    val docLen = base.select(col("doc_id"), size(col("w")).cast("long")
      .as("n_tokens"))
    // Strategy pick, decided by the per-row payload the sort would move.
    // The seed gram string joins the first `seedLen` tokens with ' ' —
    // tokens never contain a space and the per-doc sentinel STARTS with
    // one, so gram-string order and equality coincide exactly with
    // token-sequence order and equality (the separator acts as a low
    // sentinel) at ANY seed length. That makes the seed length a pure
    // cost knob:
    //  - cap <= DirectSortCap: seed AT the cap — ONE range sort of the
    //    capped suffix strings and the suffix array is done, zero
    //    doubling rounds. A cap-token gram is a few hundred bytes, so
    //    the direct sort moves about what a single doubling round moves
    //    (3 shuffles of 16-byte rank pairs + a doc-keyed window + a
    //    cache materialization each) while replacing EVERY round —
    //    measured 14.2s -> ~9s at sf0.1 against the 8-seed loop.
    //  - above DirectSortCap: prefix doubling, the payload-bounded path
    //    — rounds move fixed 16-byte rank pairs no matter the cap, which
    //    is the whole point of the doubling construction once cap-sized
    //    strings (4096 tokens ~ 20 KB/row) would dominate the wire.
    // The direct path's seed TRANSFORM materializes the whole per-doc
    // gram array in one row before posexplode — O(n_tokens × cap)
    // token slots — so it is additionally gated on the corpus's max
    // doc length (known free from the precondition aggregate): past
    // DirectRowTokens slots (~tens of MB per row at typical token
    // widths) a single long document would put row-sized memory
    // pressure on its task, and the doubling path's fixed 16-byte
    // rows are the right trade even at small caps.
    val DirectSortCap = 128
    val DirectRowTokens = 8L << 20
    // Doubling-path seed DEFAULTS small by a per-row wire-cost model,
    // not a wall-clock one: growing the seed to 128 would cut the
    // fixture wall 11.8s → 8.5s at sf0.1 (each absorbed round is ~10
    // scheduled stages), but a 128-token seed string moves ~2 KB/row
    // through the distinct + range sort while the four rounds it
    // replaces move ~400 B/row of fixed 16-byte rank pairs — at
    // cluster scale the wire dominates and the small seed wins; the
    // fixture-scale inversion is pure per-stage scheduling overhead,
    // which 10× rehearsals show amortizing away (sub-linear scaling
    // on exactly this query). `seed` (power of two ≤ cap) overrides
    // the default for callers that KNOW their wall is stage-count-
    // bound — e.g. a standing correctness gate on a small fixture,
    // where seed 8→64 at cap=256 absorbs three of five doubling
    // rounds (measured 5.6s → 3.2s warm at sf0.01, with the nSuffix
    // arithmetic below contributing) while every doubling-branch code
    // path (round loop, early stop, rank-pair dense rank, doubling-
    // side reps slice join) still executes. A side benefit when the
    // override matches a direct-path sibling's cap: the seed/termRank
    // subtrees become plan-identical and the persistOnce registry
    // shares them across the two calls in one session. Output is
    // seed-invariant — the oracle does not change.
    val direct = cap <= DirectSortCap && maxDocLen * cap <= DirectRowTokens
    val seedLen =
      if (direct) cap
      else math.min(if (seed > 0) seed else 8, cap)
    val toks = base
      .withColumn("ext", concat(col("w"),
        array(concat(lit(" "), col("doc_id").cast("string")))))
      .select(col("doc_id"), posexplode(expr(
        s"transform(sequence(1, size(ext)), i -> " +
          s"concat_ws(' ', slice(ext, i, $seedLen)))")))
      .toDF("doc_id", "pos", "term")
    // the running LCP fold shared by both strategies: zip_with pads the
    // shorter side with null, which stops the fold; a missing neighbor
    // array (left-join miss at the array ends) folds to 0
    def lcpFold(a: String, b: String): Column = coalesce(expr(
      s"""aggregate(zip_with($a, $b, (x, y) -> x = y),
         |  named_struct('n', 0L, 'go', true),
         |  (st, eq) -> if(st.go AND eq IS NOT NULL AND eq,
         |    named_struct('n', st.n + 1L, 'go', true),
         |    named_struct('n', st.n, 'go', false)),
         |  st -> st.n)""".stripMargin), lit(0L))
    // sentinel tokens cut BEFORE any comparison: the concat_ws seam in
    // front of the sentinel (which STARTS with ' ') is a double space —
    // everything from that seam on is sentinel, and a sentinel-only
    // gram compares as ["", id], which can only phantom-match another
    // sentinel-only gram (LCP 1 < any real minSpan; sentinel positions
    // never reach the output stats anyway)
    def realTokens(term: Column): Column =
      split(substring_index(term, "  ", 1), " ")
    // Lineage strategy for the doubling rounds: each round references
    // the previous level TWICE, so an unbounded round count needs
    // truncation (localCheckpoint / reliable checkpoint) or the plan
    // doubles per round. At <= 3 rounds the 2^rounds <= 8 plan copies
    // are trivial, and trackedCache is strictly better there: lineage
    // survives (an executor loss recomputes instead of failing the job,
    // the localCheckpoint caveat in truncateLineage's doc), and the
    // round plans stay DETERMINISTIC — logically equal across
    // re-invocations — so a resident session re-running the operator
    // (or its sibling consumer) hits CacheManager instead of rebuilding
    // every round. Past 3 rounds, truncation as before.
    val totalRounds =
      if (direct) 0
      else 63 - java.lang.Long.numberOfLeadingZeros(cap.toLong / seedLen)
    val fewRounds = totalRounds <= 3
    // The doubling strategy, for caps past the direct-sort bounds:
    // seed ranks at `seedLen`, log2(cap/seed) doubling rounds, then
    // per-CLASS adjacent LCPs via one representative slice per class.
    def doublingPerPos(): DataFrame = {
      // seed ranks: dense rank of the seed gram (gram-vocabulary-sized
      // sort). The rank joins back to positions on the 16-byte md5 of
      // the gram, not the gram string itself — the rank sort has to
      // move the full strings (they ARE the suffix comparison), but the
      // corpus-sized join-back doesn't: md5 equality is the same
      // content identity every dedup fingerprint in this file stands
      // on, and it cuts the join's shuffle payload several-fold
      val (termRank, _) =
        globalDenseRank(toks.select(col("term")).distinct(), partitions)
      def settle(df: DataFrame): DataFrame =
        if (fewRounds) trackedCache(df) else df.truncateLineage(eager = false)
      var level = settle(toks
        .select(col("doc_id"), col("pos").cast("long").as("pos"),
          md5(col("term")).as("fp"))
        .join(termRank.select(md5(col("term")).as("fp"), col("rnk")), "fp")
        .select(col("doc_id"), col("pos"), col("rnk").as("r")))
      // suffix count + size-derived round parallelism (the planesFor
      // discipline), paid only on the doubling path: each doubling
      // round is ~10 tiny stages, so a small working set at the
      // caller's full partition count pays pure task-scheduling
      // overhead; a large corpus derives right back to the caller's
      // count. The suffix count is ARITHMETIC off the precondition
      // aggregate (one explode position per token plus the per-doc
      // sentinel), not a level.count() — that count was a whole extra
      // corpus pass before the first round
      val nSuffix = pre.getLong(3) + pre.getLong(0)
      val p =
        math.max(1, math.min(partitions, (nSuffix / 50000L).toInt + 1))
      // prefix doubling: after the round with step 2^k, rank equality ==
      // equality of the first 2^(k+1) tokens; stop early once every
      // suffix is alone in its class (further rounds are the identity).
      // Lineage: each round references the previous level twice, so the
      // level is lineage-truncated per round (the pointer-jumping/bfs
      // discipline), lazily — the next round's rank action materializes
      // it
      var step = seedLen.toLong
      var allDistinct = false
      val wLead = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      while (step < cap && !allDistinct) {
        // the rank `step` positions ahead comes from ONE doc-keyed
        // window pass — positions are contiguous per doc (posexplode
        // over every array index), so lead(step) IS the suffix step
        // ahead; the alternative (doc_id, pos) left self-join shuffles
        // the level TWICE per round and merge-joins where this sorts
        // once. Cached: `paired` feeds BOTH globalDenseRank's distinct
        // and the rank equi-join below — uncached, the round's dominant
        // corpus-sized pass would run twice
        val paired = trackedCache(
          level.withColumn("r2",
            coalesce(lead(col("r"), step.toInt).over(wLead), lit(-1L))))
        val (pairRank, nDistinct) =
          globalDenseRank(paired.select(col("r"), col("r2")).distinct(), p)
        level = settle(paired.join(pairRank, Seq("r", "r2"))
          .select(col("doc_id"), col("pos"), col("rnk").as("r")))
        allDistinct = nDistinct == nSuffix
        step *= 2
      }
      // dense final ranks ARE the class order: class r is adjacent to
      // class r±1 in the suffix array, no further sort needed
      val cls = trackedCache(level.groupBy(col("r"))
        .agg(count(lit(1)).as("csize")))
      // adjacent-class LCP: all members of a class share the identical
      // capped prefix, so one representative per class carries the
      // class's LCP with the next class exactly — fetch each
      // representative's ≤cap-token slice off the token arrays
      val rep = level.groupBy(col("r"))
        .agg(min(struct(col("doc_id"), col("pos"))).as("rep"))
        .select(col("r").as("ci"), col("rep.doc_id").as("d"),
          col("rep.pos").cast("int").as("p"))
      val reps = rep.join(base, col("d") === col("doc_id"))
        .select(col("ci"), slice(col("w"), col("p") + 1, lit(cap)).as("sl"))
      val lcpNext = trackedCache(reps
        .join(reps.select((col("ci") - 1L).as("ci"), col("sl").as("slb")),
          Seq("ci"))
        .select(col("ci"), lcpFold("sl", "slb").as("acc")))
      val classDup = cls.withColumn("ci", col("r"))
        .join(lcpNext.select(col("ci"), col("acc").as("lcp_next")),
          Seq("ci"), "left")
        .join(lcpNext.select((col("ci") + 1L).as("ci"),
          col("acc").as("lcp_prev")), Seq("ci"), "left")
        .select(col("r"),
          when(col("csize") >= 2L, cap.toLong)
            .otherwise(greatest(coalesce(col("lcp_next"), lit(0L)),
              coalesce(col("lcp_prev"), lit(0L)))).as("dup_len"))
      level.join(classDup, "r")
        .join(docLen, "doc_id")
        .filter(col("pos") < col("n_tokens"))
    }
    // per-position dup_len over REAL tokens (sentinel positions out),
    // then the per-doc span stats: interval-union coverage via a
    // running max of marked span ends — docs bound the window size
    val perPos: DataFrame =
      if (direct) {
        // Direct path: ONE range sort of the capped suffix strings IS
        // the suffix array — global row rank in (term, doc_id, pos)
        // order is the suffix-array position, and the textbook LCP
        // property says the longest prefix a suffix shares with ANY
        // other suffix is realized by one of its two SORTED NEIGHBORS.
        // So dup_len(pos) = max(LCP(prev), LCP(next)) read straight
        // off the ranked position table: no gram distinct, no dense
        // rank + md5 join-back, no per-class representative fetch and
        // no class-table double join (the round-15 restructure; see
        // the measured numbers in the class Scaladoc). An equal-gram
        // neighbor folds LCP = cap, reproducing the old csize >= 2
        // class arm exactly: the per-doc sentinel makes any
        // shorter-than-cap gram unique, so equal grams are always cap
        // real tokens, and every member of a duplicated run has at
        // least one equal neighbor (equal grams are rank-contiguous).
        // Wire cost: the range sort moves each capped gram string once
        // (the same bytes the old distinct moved), the neighbor joins
        // move token arrays keyed by rank — corpus-linear throughout,
        // partitioned by the caller's `partitions`.
        val (posRank, _) = globalDenseRank(
          toks.select(col("term"), col("doc_id"), col("pos")), partitions)
        val sa = posRank.select(col("doc_id"), col("pos"), col("rnk"),
          realTokens(col("term")).as("sl"))
        val nbr = sa.select(col("rnk"), col("sl"))
        sa.join(nbr.select((col("rnk") + 1L).as("rnk"),
              col("sl").as("slp")), Seq("rnk"), "left")
          .join(nbr.select((col("rnk") - 1L).as("rnk"),
              col("sl").as("sln")), Seq("rnk"), "left")
          .select(col("doc_id"), col("pos"),
            greatest(lcpFold("sl", "slp"), lcpFold("sl", "sln"))
              .as("dup_len"))
          .join(docLen, "doc_id")
          .filter(col("pos") < col("n_tokens"))
      } else doublingPerPos()
    val wDoc = Window.partitionBy(col("doc_id")).orderBy(col("pos"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val marked = perPos
      .withColumn("runend", max(when(col("dup_len") >= minSpan.toLong,
        col("pos") + col("dup_len"))).over(wDoc))
    // The marked table IS the shared suffix core: dedupSuffix (the
    // measure) and dedupOnion (the apply) both aggregate it, and a
    // curation session that measures before it cuts would otherwise
    // rebuild the entire suffix array twice. Persist it whenever the
    // plan is deterministic (direct path, or few-round doubling whose
    // levels are trackedCached) — CacheManager's plan-equality match
    // then serves the sibling consumer and any re-invocation. On the
    // truncated many-round path the plan embeds per-invocation
    // checkpoint RDDs, so a cache could never be re-matched — skip it
    // rather than pay a write nobody can read.
    (if (direct || fewRounds) trackedCache(marked) else marked, base)
  }

  /** Hyperplane count for an LSH bucketing sized to the corpus: the
    * smallest p in [2, 30] with 2^p buckets of expected size <=
    * `targetBucket`. Exact integer math (no float log2), so any oracle can
    * replay the same derivation. A FIXED plane count is the classic LSH
    * scale bug — bucket size then grows linearly with the corpus and the
    * within-bucket self-join quietly becomes O(n^2); deriving p from n
    * keeps the per-bucket work bounded at any scale. (Recall at high p is
    * recovered in production by OR-ing several independent plane tables.)
    */
  def planesFor(n: Long, targetBucket: Int = 64): Int =
    (2 to 30).find(p => (1L << p) * targetBucket >= n).getOrElse(30)

  /** Embedding-cosine near-duplicate pairs behind a random-hyperplane
    * bucket: exact cosine runs only within buckets. Raise `planes` to
    * shrink buckets (higher precision, lower recall per table); size it
    * with [[planesFor]] so bucket cardinality tracks the corpus. `tables`
    * is the standard LSH recall lever: each extra table re-buckets with an
    * INDEPENDENT plane family (offset seed) and the pair sets are OR-ed —
    * recall grows per table while every within-bucket join stays bounded.
    * Identical pairs found by several tables collapse in one distinct
    * (same pair → bit-identical cosine, so whole rows dedupe).
    */
  def dedupEmbed(df: DataFrame, key: Column, embedding: Column,
                 planes: Int, dim: Int, threshold: Double,
                 tables: Int = 1): DataFrame = {
    val emb = df.select(key.as("vec_id"), VectorFns.toDoubles(embedding).as("v"))
    val perTable = (0 until tables).map { t =>
      val planeMatrix = VectorFns.planes(planes, dim, offset = t * 1024)
      val b = emb.withColumn("bucket", VectorFns.bucket(col("v"), planeMatrix))
      b.as("a").join(b.as("b"),
          col("a.bucket") === col("b.bucket") && col("a.vec_id") < col("b.vec_id"))
        .select(col("a.vec_id").as("vec_a"), col("b.vec_id").as("vec_b"),
          expr("cosine_sim(a.v, b.v)").as("cs_raw"))
        // threshold pre-rounding, report rounded — same discipline as
        // dedupNear, matching the oracle's WHERE-on-raw / SELECT-rounded.
        .filter(col("cs_raw") >= threshold)
        .select(col("vec_a"), col("vec_b"), round(col("cs_raw"), 6).as("cos_sim"))
    }
    // one table emits each pair at most once already (bucket is a function
    // of the vector) — skip the distinct shuffle unless tables were OR-ed.
    if (tables == 1) perTable.head
    else perTable.reduce(_ unionByName _).distinct()
  }

  /** Duplicate-cluster grouping: connected components over an undirected
    * near-dup pair table with `doc_a`/`doc_b` columns (the output shape of
    * [[dedupNear]] / [[dedupSimhash]] / [[jaccardJoin]]; [[dedupEmbed]]
    * emits `vec_a`/`vec_b` — rename before composing). Pairs only say
    * "a~b"; an actual dedup job needs the transitive closure — one cluster
    * id per duplicate class, a canonical survivor elected per cluster, and
    * everything else dropped. Min-label propagation with POINTER JUMPING:
    * each round first takes the min label over direct neighbors (one
    * groupBy), then contracts paths by looking the label's own label up
    * (one self-join), so label distance halves per round and convergence
    * is O(log diameter) rounds — a chain of 1M chained near-dups resolves
    * in ~20 rounds, where naive one-hop propagation would need 1M. Each
    * round is two shuffles on doc_id; the driver only ever sees ONE number
    * per round (the label-sum convergence check — labels are monotonically
    * non-increasing, so an unchanged sum IS the fixpoint, and no per-row
    * data reaches the driver). Each round's label table is
    * localCheckpoint-ed: the self-join references the previous round
    * TWICE, so without truncation the logical plan doubles per round —
    * exponential plan-object growth that kills the driver long before any
    * executor sees data trouble. Checkpointing flattens each round to a
    * LogicalRDD, keeping the plan O(1) deep regardless of rounds. (On a
    * real cluster a reliable `checkpoint` to HDFS would be the
    * fault-tolerant variant of the same move.)
    *
    * Output: one row per doc appearing in any pair — cluster_id (min doc
    * id of the component), cluster_size, is_canonical (doc == cluster_id).
    */
  def clusterPairs(pairs: DataFrame): DataFrame = {
    // both orientations + a self-loop per endpoint from ONE explode, not
    // a self-union: the pair table is usually the output of a whole
    // near-dup pipeline, and a union of two selects over it would
    // execute that pipeline twice. The self-loops make every node's
    // neighbor-min include its OWN label, so each round is one join +
    // one aggregate — the keep-own-label unionByName + second groupBy
    // the loop used to pay per round disappears (distinct collapses the
    // repeated self-loops).
    val edges = pairs
      .select(explode(array(
        struct(col("doc_a").as("es"), col("doc_b").as("ed")),
        struct(col("doc_b").as("es"), col("doc_a").as("ed")),
        struct(col("doc_a").as("es"), col("doc_a").as("ed")),
        struct(col("doc_b").as("es"), col("doc_b").as("ed")))).as("e"))
      .select(col("e.es").as("es"), col("e.ed").as("ed"))
      .distinct()
      // hash-partitioned on the per-round join key BEFORE the cache (the
      // pageRank discipline): every round joins edges(ed) ⇔ labels —
      // un-partitioned, the edge table (the big side) re-shuffled once
      // per round; partitioned, each round exchanges only the node-sized
      // label table
      .repartition(col("ed"))
      .persistOnce()
    // eager=false everywhere: the labelSum convergence check right below
    // is the materializing action anyway, so an eager checkpoint would
    // just spend one extra job per round on the same work.
    // Initial labels FUSE the first propagation round: label(v) =
    // min(v, direct neighbors) IS the neighbor-min over the self-looped
    // edge table, so the loop starts one hop ahead (identity labels
    // would make round 1's neighbor-min join a no-op lookup of exactly
    // this value).
    var labels = edges.groupBy(col("es")).agg(min(col("ed")).as("lbl"))
      .select(col("es").as("doc_id"), col("lbl"))
      .truncateLineage(eager = false)
    // coalesce: an empty pair table (nothing to cluster) must yield an
    // empty result, not a null-aggregate NPE
    def labelSum(df: DataFrame): Long =
      df.agg(coalesce(sum(col("lbl")), lit(0L))).head().getLong(0)
    var prevTotal = Long.MinValue
    var total = labelSum(labels)
    var rounds = 0
    // Loop rounds run stage-fused on a [[LoopSession]]: one driver job
    // per round instead of ~5 AQE stage jobs of node-sized exchanges,
    // sized by the round-0 label table (materialized by the labelSum
    // above, under the caller's AQE).
    val loop = LoopSession(labels)
    val loopEdges = LoopSession.bind(edges, loop)
    labels = LoopSession.bind(labels, loop)
    while (total != prevTotal && rounds < 60) {
      // self-loops put each node's own label in the min, so this single
      // join+aggregate is the whole hop. Lineage-truncated BEFORE the
      // pointer jump: the jump self-joins hopped, and an untruncated
      // plan executed the edge-join + aggregate once per side every
      // round (observed as duplicated per-round stages in the r15 warm
      // profile) — the checkpointed RDD materializes once and feeds
      // both sides.
      val hopped = loopEdges.join(labels, loopEdges("ed") === labels("doc_id"))
        .groupBy(col("es")).agg(min(col("lbl")).as("lbl"))
        .select(col("es").as("doc_id"), col("lbl"))
        .truncateLineage(eager = false)
      // pointer jump: lbl := label(lbl). Every label IS a node id, so
      // the lookup is a total inner join.
      val jump =
        hopped.select(col("doc_id").as("j_id"), col("lbl").as("j_lbl"))
      val next = hopped.join(jump, hopped("lbl") === jump("j_id"))
        .select(col("doc_id"), col("j_lbl").as("lbl"))
        .truncateLineage(eager = false)
      prevTotal = total
      total = labelSum(next)
      labels = next
      rounds += 1
    }
    edges.unpersist(blocking = false)
    val sizes = labels.groupBy(col("lbl")).agg(count(lit(1)).as("cluster_size"))
    LoopSession.bind(labels.join(sizes, "lbl")
      .select(col("doc_id"), col("lbl").as("cluster_id"), col("cluster_size"),
        (col("doc_id") === col("lbl")).cast("int").as("is_canonical")),
      pairs.sparkSession)
  }

  /** Benchmark decontamination — drop training documents that overlap a
    * held-out evaluation set. The contamination test is 3-word-shingle
    * overlap: a corpus doc is contaminated when at least half its distinct
    * shingles also occur somewhere in the benchmark set (exact integer
    * gate, no float boundary). Shape: the benchmark's distinct shingle set
    * is bounded by definition (eval sets are thousands of docs, not
    * billions), so it BROADCASTS; the corpus side is one explode + one
    * broadcast-hash semi-match + one doc_id groupBy — no shuffle touches
    * corpus text, and corpus size only enters linearly. Reports every
    * corpus doc with its overlap evidence, so the caller can pick a
    * different cut without rescanning.
    */
  def decontaminate(corpus: DataFrame, benchmark: DataFrame,
                    key: Column, text: Column): DataFrame = {
    // persisted because it feeds BOTH the overlap count and the
    // per-doc shingle-count projection — without it the full corpus
    // tokenize+shingle scan (the expensive side) runs twice.
    val c = shingleTable(corpus, key, text)
      .persistOnce()
    val bench = shingleTable(benchmark, key, text)
      .select(explode(col("shingles")).as("s")).distinct()
    val shared = c.select(col("doc_id"), explode(col("shingles")).as("s"))
      .join(broadcast(bench), "s")
      .groupBy(col("doc_id")).agg(count(lit(1)).as("shared_cnt"))
    c.select(col("doc_id"), size(col("shingles")).cast("long").as("n_shingles"))
      .join(shared, Seq("doc_id"), "left")
      .select(col("doc_id"), col("n_shingles"),
        coalesce(col("shared_cnt"), lit(0L)).as("n_shared"),
        round(coalesce(col("shared_cnt"), lit(0L)).cast("double")
          / col("n_shingles"), 6).as("shared_frac"),
        (coalesce(col("shared_cnt"), lit(0L)) * 2 >= col("n_shingles"))
          .cast("int").as("contaminated"))
  }

  /** Embedding-space benchmark decontamination — the semantic complement
    * of [[decontaminate]]'s shingle overlap: a corpus vector is
    * contaminated when its cosine against ANY benchmark vector reaches
    * the threshold, which catches paraphrase contamination that shares no
    * n-grams with the eval set. Shape: the benchmark side is bounded by
    * definition (eval suites are thousands of items, not billions), so it
    * BROADCASTS; the per-pair cosine is computed map-side and max-reduced
    * with a partial aggregate, so the only shuffle is one row per corpus
    * vector and the corpus embedding column itself never moves twice.
    * Reports every corpus vector with its max benchmark cosine, so the
    * cut can be re-tuned without rescanning the corpus. The threshold
    * compares the UNROUNDED cosine (the codegen'd expression is
    * bit-identical to the oracle's dot-product form — proven by the
    * dedupEmbed gates); rounding happens only in the reported column.
    */
  def decontaminateEmbed(corpus: DataFrame, benchmark: DataFrame,
                         threshold: Double): DataFrame = {
    val c = corpus.select(col("vec_id"), VectorFns.toDoubles(col("embedding")).as("v"))
    val b = benchmark.select(col("vec_id").as("bench_id"),
      VectorFns.toDoubles(col("embedding")).as("bv"))
    c.join(broadcast(b))
      .select(col("vec_id"), expr("cosine_sim(v, bv)").as("cs"))
      .groupBy(col("vec_id")).agg(max(col("cs")).as("mx"))
      .select(col("vec_id"), round(col("mx"), 6).as("max_bench_cos"),
        (col("mx") >= threshold).cast("int").as("contaminated"))
  }

  /** Deterministic multi-epoch training-order shuffle — every document
    * gets a pseudo-random position per epoch from a Knuth multiplicative
    * hash over (doc_id, epoch), in exact BIGINT math: the order is
    * (a) uniform, (b) independent across epochs, and (c) bit-replayable
    * on any engine, cluster size, or retry — the property a training run
    * needs for resumability. Shape: an E-way epoch explode (output is
    * linear in E·n, the honest size of E epoch orders), then ONE global
    * range sort on (epoch, ord); uniform hash keys give the range
    * partitioner balanced splits at any corpus size, and there is no
    * global row_number (a single-partition bottleneck) — the total order
    * IS the position, the same TotalOrderPartitioner contract as
    * q_sort_global. The multiplicative form keeps the oracle replay
    * exact; key spaces wider than ~2^31 should swap in xxhash64 (same
    * shape, no overflow) at the cost of oracle replayability.
    */
  def epochShuffle(df: DataFrame, key: Column, epochs: Int): DataFrame =
    df.select(key.as("doc_id"))
      .withColumn("epoch", explode(sequence(lit(0L), lit(epochs - 1L))))
      .withColumn("ord",
        pmod((col("doc_id") + col("epoch") * lit(1000003L)) * lit(2654435761L),
          lit(4294967296L)))
      .orderBy(col("epoch"), col("ord"), col("doc_id"))
      .select(col("epoch"), col("doc_id"), col("ord"))

  /** Curriculum ordering — the easy-to-hard training schedule: documents
    * are binned by quality score (descending, cleanest first) and
    * shuffled within each bin by the same multiplicative hash as
    * [[epochShuffle]], so the schedule is deterministic end-to-end.
    * Shape: [[qualityScore]]'s single codegen'd scan plus one global
    * range sort on (score, hash) — scores have few distinct values, but
    * the uniform hash key inside each bin keeps the range partitioner's
    * splits balanced, so the sort never sees a skewed partition.
    */
  def curriculumOrder(df: DataFrame, key: Column, text: Column): DataFrame =
    qualityScore(df, key, text)
      .select(col("doc_id"), col("quality_score"),
        pmod(col("doc_id") * lit(2654435761L), lit(4294967296L)).as("ord"))
      .orderBy(col("quality_score").desc, col("ord"), col("doc_id"))

  /** Per-document salient-term profile — tf-idf-shaped keyword extraction
    * with the idf log replaced by an exact integer rational: salience =
    * floor(tf·10^6 / df). The log is monotone in 1/df, so for a FIXED tf
    * the ranking is the log ranking; dropping it keeps every value and
    * tie exactly replayable across engines (a float ln can differ in the
    * last ulp and flip a rank at a 6-decimal boundary — the same reason
    * every ratio in this library rounds only in reported columns).
    * Shapes: one token shuffle to (doc, term) counts, one term-shuffle
    * for document frequencies, an equi-join on term (zipf skew lands on
    * AQE's skew-join handling at scale), top-k per doc via window.
    */
  def termSalience(df: DataFrame, key: Column, text: Column,
                   k: Int): DataFrame = {
    val tall = df.select(key.as("doc_id"), explode(TextFns.tokens(text)).as("term"))
    val tf = tall.groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("salience_ppm").desc, col("term").asc)
    tf.join(dfreq, "term")
      .withColumn("salience_ppm", expr("tf * 1000000 div df"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
      .select(col("doc_id"), col("term"), col("tf"), col("df"),
        col("salience_ppm"), col("rank"))
  }

  /** Per-document quality scoring — the C4/Gopher-style heuristic filter
    * a training-data pipeline runs before anything else. Four boolean
    * signals (token-count window, mean word length window, stopword floor,
    * symbol-ratio ceiling), each an exact integer/rational test; the score
    * is the fraction of signals passed (quarters are exact doubles, so the
    * score is bit-stable across engines) and `keep` is score == 1.
    * One scan, no shuffle, fully codegen'd — embarrassingly parallel at
    * any corpus size.
    */
  def qualityScore(df: DataFrame, key: Column, text: Column): DataFrame = {
    val lower_t = lower(text)
    val w = TextFns.tokens(text)
    val stops = Seq("the", "a", "of", "and", "to", "in", "is")
    df.select(key.as("doc_id"),
        size(w).as("n_tokens"),
        aggregate(w, lit(0L), (acc, x) => acc + length(x)).as("sum_len"),
        size(filter(w, x => x.isin(stops.map(lit): _*))).as("stop_hits"),
        size(regexp_extract_all(lower_t, lit("[^a-z0-9\\s]"), lit(0)))
          .as("sym_hits"),
        length(regexp_replace(lower_t, "\\s", "")).as("n_chars_nospace"))
      .filter(col("n_tokens") > 0)
      .select(col("doc_id"), col("n_tokens"),
        round(col("sum_len").cast("double") / col("n_tokens"), 6)
          .as("mean_word_len"),
        round(col("stop_hits").cast("double") / col("n_tokens"), 6)
          .as("stop_ratio"),
        round(col("sym_hits").cast("double") / col("n_chars_nospace"), 6)
          .as("sym_ratio"),
        // the four gates compare EXACT integers (hits*den vs bound*num),
        // so no float threshold can flake at a boundary.
        ((col("n_tokens") >= 20 && col("n_tokens") <= 100000).cast("int") +
          (col("sum_len") * 10 >= col("n_tokens") * 30 &&
            col("sum_len") * 10 <= col("n_tokens") * 100).cast("int") +
          (col("stop_hits") * 100 >= col("n_tokens")).cast("int") +
          (col("sym_hits") * 10 <= col("n_chars_nospace") * 3).cast("int"))
          .as("n_pass"))
      .select(col("doc_id"), col("n_tokens"), col("mean_word_len"),
        col("stop_ratio"), col("sym_ratio"),
        (col("n_pass").cast("double") / 4).as("quality_score"),
        (col("n_pass") === 4).cast("int").as("keep"))
  }

  /** Per-document repetition statistics — the Gopher-style repetitiousness
    * signals a curation pipeline filters on: fraction of 2-gram occurrences
    * claimed by the single most frequent 2-gram, and the fraction of 2-/
    * 3-gram occurrences whose gram appears more than once. Grams keep
    * duplicates (counts are the point — contrast the deduplicated shingle
    * set used for Jaccard). Shape: explode → count per (doc, gram) → agg
    * per doc; work is O(total grams) with map-side combine, and both
    * aggregations plus the final join share the doc_id hash partitioning,
    * so the whole operator costs one gram-shuffle per n-gram order at any
    * corpus size. All ratios divide exact integers and round at 6, the
    * established oracle-parity discipline.
    */
  def repetitionStats(df: DataFrame, key: Column, text: Column): DataFrame = {
    // Per-order gram counts from the native gram_stats expression
    // (sparkext/TextSigs.scala): the quantities are per-document, so the
    // old explode -> groupBy(doc, gram) -> groupBy(doc) chain (two
    // corpus-scale shuffles per gram order, plus a doc-keyed join to
    // marry the orders) collapses to one map-side projection.
    // Integer-only aggregates keep it bit-identical (TextSigsSpec).
    df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) >= 3)
      .select(col("doc_id"),
        call_function("gram_stats", col("w"), lit(2)).as("s2"),
        call_function("gram_stats", col("w"), lit(3)).as("s3"))
      // a null-bearing token array can zero out one gram order; the old
      // inner join dropped such docs — replicate
      .filter(col("s2").isNotNull && col("s3").isNotNull)
      .select(col("doc_id"),
        col("s2.tot").as("g2_tot"), col("s2.top").as("g2_top"),
        col("s2.dup").as("g2_dup"), col("s3.dup").as("g3_dup"),
        col("s3.tot").as("g3_tot"))
      .select(col("doc_id"),
        col("g2_tot").as("n_2grams"),
        round(col("g2_top").cast("double") / col("g2_tot"), 6)
          .as("top_2gram_frac"),
        round(col("g2_dup").cast("double") / col("g2_tot"), 6)
          .as("dup_2gram_frac"),
        round(col("g3_dup").cast("double") / col("g3_tot"), 6)
          .as("dup_3gram_frac"))
  }

  /** PII scrubbing — redact emails, NANP-style phone numbers, and IPv4
    * addresses, reporting per-document redaction counts next to the
    * cleaned text. Patterns are deliberately plain (char classes, bounded
    * quantifiers, \b) so they mean the same thing to Java regex and RE2 —
    * the portability a multi-engine pipeline needs anyway. Scrub order is
    * fixed (emails first: they contain dot-digit runs an IP pattern could
    * nibble at). Single scan, no shuffle, embarrassingly parallel.
    */
  private val EmailRe = "[a-z0-9._%+-]+@[a-z0-9.-]+\\.[a-z]{2,}"
  private val PhoneRe = "\\b[0-9]{3}-[0-9]{3}-[0-9]{4}\\b"
  private val Ipv4Re = "\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b"

  def scrubPii(df: DataFrame, key: Column, text: Column): DataFrame =
    df.select(key.as("doc_id"),
        text.as("t"),
        size(regexp_extract_all(text, lit(EmailRe), lit(0))).as("n_emails"))
      .withColumn("t", regexp_replace(col("t"), EmailRe, "<EMAIL>"))
      .withColumn("n_phones",
        size(regexp_extract_all(col("t"), lit(PhoneRe), lit(0))))
      .withColumn("t", regexp_replace(col("t"), PhoneRe, "<PHONE>"))
      .withColumn("n_ips",
        size(regexp_extract_all(col("t"), lit(Ipv4Re), lit(0))))
      .withColumn("t", regexp_replace(col("t"), Ipv4Re, "<IP>"))
      .select(col("doc_id"), col("n_emails"), col("n_phones"), col("n_ips"),
        md5(col("t")).as("clean_md5"))

  /** Deterministic stratified sampling — the domain-mixing primitive of a
    * training-data pipeline: keep each row with its stratum's rate, chosen
    * by a hash of the row key rather than an RNG, so the sample is
    * reproducible across runs, retries, and engines, and a document's
    * membership never depends on partitioning. `ratePct` is a per-row
    * integer-percent column (e.g. when(lang === "en", 50).otherwise(20));
    * the keep test compares exact integers (h*100 < pct*2^48, both under
    * 2^55 — no float boundary to flake on). Embarrassingly parallel: one
    * scan, no shuffle, filter pushes down around it. `weight` = 100/pct is
    * the Horvitz-Thompson reweight downstream token accounting multiplies
    * by.
    */
  def sampleStratified(df: DataFrame, key: Column, ratePct: Column): DataFrame = {
    val h = conv(substring(md5(key.cast("string")), 1, 12), 16, 10)
      .cast("long")
    df.filter(h * 100 < ratePct.cast("long") * (1L << 48))
      .withColumn("weight", round(lit(100.0) / ratePct, 6))
  }

  /** Deterministic train/validation/test split manifest — the dataset-
    * freeze step every training run starts from. Assignment is an
    * md5-keyed bucket of the doc key (98/1/1 by default), so the split
    * is disjoint-exhaustive BY CONSTRUCTION, content-independent, and
    * replays identically on any engine/partitioning/rerun — no RNG, no
    * global sort, one scan. The manifest row per split carries doc and
    * token totals plus an order-insensitive membership digest (sum of
    * md5-derived row hashes, the [[syncDiff]] trick): two manifests
    * agree iff the splits contain exactly the same documents, so a gate
    * on 3 rows certifies the full partition of the corpus.
    */
  def datasetSplit(df: DataFrame, key: Column, text: Column,
                   valPct: Int = 1, testPct: Int = 1): DataFrame = {
    require(valPct >= 1 && testPct >= 1 && valPct + testPct < 100)
    val bucket = pmod(
      conv(substring(md5(key.cast("string")), 1, 12), 16, 10).cast("long"),
      lit(100L))
    val split = when(bucket < lit(100L - valPct - testPct), lit("train"))
      .when(bucket < lit(100L - testPct), lit("val"))
      .otherwise(lit("test"))
    df.select(split.as("split"),
        size(TextFns.tokens(text)).cast("long").as("n_tokens"),
        conv(substring(md5(key.cast("string")), 5, 8), 16, 10)
          .cast("long").as("rh"))
      .groupBy(col("split"))
      .agg(count(lit(1)).as("n_docs"), sum(col("n_tokens")).as("total_tokens"),
        sum(col("rh")).as("membership_digest"))
  }

  /** Leakage-safe train/val/test split — the contamination audit on top
    * of [[datasetSplit]]: a doc-keyed split sends near-duplicate
    * documents to DIFFERENT splits (train/test leakage, the classic
    * eval-inflation bug), while keying the split hash on the near-dup
    * CLASS (the full-MinHash [[withSigKey]] signature) co-assigns every
    * member of a class by construction. This operator runs both
    * assignments and reports the straddle counts over the multi-member
    * classes: the doc-keyed count is the leakage a naive split would
    * ship; the class-keyed count is structurally zero — gated as such.
    * Scale shape: one signature pass (map-side), one sig-key shuffle,
    * one count aggregate — [[dedupBySignature]]'s cost plus a 1-row agg.
    */
  def splitLeakage(df: DataFrame, key: Column, text: Column,
                   valPct: Int = 25, testPct: Int = 25,
                   perms: Int = 16): DataFrame = {
    require(valPct >= 1 && testPct >= 1 && valPct + testPct < 100)
    val keyed = withSigKey(df.select(key.as("doc_id"), text.as("_text")),
      col("doc_id"), col("_text"), perms)
    def splitOf(c: Column): Column = {
      val bucket = pmod(
        conv(substring(md5(c), 1, 12), 16, 10).cast("long"), lit(100L))
      when(bucket < lit(100L - valPct - testPct), lit("train"))
        .when(bucket < lit(100L - testPct), lit("val"))
        .otherwise(lit("test"))
    }
    keyed.select(col("sig_key"),
        splitOf(col("doc_id").cast("string")).as("doc_split"),
        splitOf(col("sig_key")).as("class_split"))
      .groupBy(col("sig_key"))
      .agg(count(lit(1)).as("n_docs"),
        countDistinct(col("doc_split")).as("nsp_doc"),
        countDistinct(col("class_split")).as("nsp_class"))
      .filter(col("n_docs") >= 2)
      .agg(count(lit(1)).as("n_multi_classes"),
        sum((col("nsp_doc") > 1).cast("long")).as("n_straddle_dockeyed"),
        sum((col("nsp_class") > 1).cast("long")).as("n_straddle_classkeyed"))
  }

  /** Per-group token-distribution drift vs the whole corpus — the
    * monitoring readout a pipeline checks when a new crawl snapshot or
    * source lands: KL(P_group ‖ P_corpus) over unigram distributions,
    * plus Jensen-Shannon-style symmetry via the reverse component. Every
    * group term exists in the corpus by construction, so no smoothing is
    * needed and the divergence is exact. Algebra: with p = tf/ns and
    * q = ctf/n, Σ p·ln(p/q) = (Σ tf·ln(tf·n/ctf))/ns − ln(ns) since
    * Σ tf = ns — so the per-group total folds into ONE aggregate and no
    * per-group window pass exists. Shape: the only corpus-proportional
    * shuffle is the (group, term) tf aggregate; everything after is
    * vocabulary-sized (the term-total aggregate, the tf↔corpus-total
    * equi-join on term, the per-group fold) with corpus totals a 1-row
    * broadcast. Output one row per group. Follows the perplexity
    * family's float discipline (ln sums rounded at 6).
    */
  def klDrift(df: DataFrame, group: Column, text: Column): DataFrame = {
    val tf = df.select(group.as("grp"), explode(TextFns.tokens(text)).as("term"))
      .groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val corp = tf.groupBy(col("term")).agg(sum(col("tf")).as("ctf"))
    val tot = corp.agg(sum(col("ctf")).as("n"))
    tf.join(corp, "term")
      .crossJoin(broadcast(tot))
      // unnormalized term contribution tf·ln(tf·n/ctf); the /ns and
      // −ln(ns) factors apply once per group after the fold
      .withColumn("contrib",
        col("tf").cast("double") *
          log((col("tf").cast("double") * col("n")) /
            col("ctf").cast("double")))
      .groupBy(col("grp"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_terms"),
        sum(col("contrib")).as("s_"))
      .select(col("grp").as("source"), col("n_tokens"), col("n_terms"),
        round(col("s_") / col("n_tokens") -
          log(col("n_tokens").cast("double")), 6).as("kl_vs_corpus"))
  }

  /** Zipf-law fit per group — the corpus-health diagnostic next to
    * [[klDrift]]: natural language shows ln(freq) ≈ a + b·ln(rank) with
    * b ≈ −1 over the head of the vocabulary; machine-generated or
    * template-heavy slices bend away from it. Least-squares over the
    * top-`topK` terms (rank by tf desc, term asc — deterministic
    * tiebreak), closed-form slope and R², perplexity-family float
    * discipline (round 6). Shape: one (group, term) tf aggregate, a
    * bounded per-group top-k window, a per-group 1-row fit — two
    * shuffles, output one row per group, at any corpus size.
    */
  def zipfFit(df: DataFrame, group: Column, text: Column,
              topK: Int = 30): DataFrame = {
    require(topK >= 3, "a slope fit needs at least 3 rank points")
    val tf = df.select(group.as("grp"), explode(TextFns.tokens(text)).as("term"))
      .groupBy(col("grp"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val ranked = tf.withColumn("r", row_number().over(
        Window.partitionBy(col("grp"))
          .orderBy(col("tf").desc, col("term"))))
      .filter(col("r") <= topK)
      .select(col("grp"), col("tf"),
        log(col("r").cast("double")).as("x"),
        log(col("tf").cast("double")).as("y"))
    // degeneracy is decided on EXACT INTEGER facts (point count, tf
    // spread), never on a float variance term: n·Σx² − (Σx)² for an
    // all-equal series is a catastrophic cancellation whose residual is
    // ~1e-16-but-not-zero, and partial-aggregation order makes that
    // residual engine-dependent — an ==0.0 guard would emit garbage
    // exactly in the cases it documents as NULL
    ranked.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), min(col("tf")).as("tf_min"),
        max(col("tf")).as("tf_max"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("y") * col("y")).as("syy"), sum(col("x") * col("y")).as("sxy"))
      .select(col("grp").as("source"), col("n").as("n_terms_fit"),
        // ranks are distinct integers, so x varies whenever n >= 2:
        // the slope is undefined only for a 1-point group
        when(col("n") < 2, lit(null).cast("double"))
          .otherwise(round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6))
          .as("zipf_slope"),
        // r2 additionally needs y-variance: all-equal tf (a flat head)
        // has none — exact integer min/max compare
        when(col("n") < 2 || col("tf_min") === col("tf_max"),
          lit(null).cast("double"))
          .otherwise(round(
            pow(col("n") * col("sxy") - col("sx") * col("sy"), 2) /
              ((col("n") * col("sxx") - col("sx") * col("sx")) *
                (col("n") * col("syy") - col("sy") * col("sy"))), 6))
          .as("r2"))
  }

  /** Heaps-law fit per group — [[zipfFit]]'s companion: vocabulary
    * growth V(n) ≈ K·n^β across documents (each doc contributes one
    * (ln n_tokens, ln n_distinct) point; natural text sits near
    * β ≈ 0.5–0.8, template/degenerate slices collapse toward 0 and
    * random noise pushes toward 1). Same closed-form least squares,
    * same round(6) float discipline. Docs need ≥ 1 token; groups need
    * ≥ 3 docs with VARYING sizes or the slope is undefined (emitted as
    * null, never an error). One scan + one group aggregate — a single
    * shuffle, one row per group at any corpus size.
    */
  def heapsFit(df: DataFrame, group: Column, text: Column): DataFrame = {
    val pts = df.select(group.as("grp"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("grp"), size(col("w")).as("nt"),
        log(size(col("w")).cast("double")).as("x"),
        log(size(array_distinct(col("w"))).cast("double")).as("y"))
    // degeneracy on EXACT INTEGER facts (see zipfFit): a group whose
    // docs all have the same token count has zero x-variance, and the
    // float n·Σx² − (Σx)² residual of that case is engine-dependent
    // cancellation noise, not a reliable zero
    pts.groupBy(col("grp"))
      .agg(count(lit(1)).as("n"), min(col("nt")).as("nt_min"),
        max(col("nt")).as("nt_max"), sum(col("x")).as("sx"),
        sum(col("y")).as("sy"), sum(col("x") * col("x")).as("sxx"),
        sum(col("x") * col("y")).as("sxy"))
      .select(col("grp").as("source"), col("n").as("n_docs_fit"),
        when(col("n") < 2 || col("nt_min") === col("nt_max"),
          lit(null).cast("double"))
          .otherwise(round((col("n") * col("sxy") - col("sx") * col("sy")) /
            (col("n") * col("sxx") - col("sx") * col("sx")), 6))
          .as("heaps_beta"))
  }

  /** Fixed-size token chunking with overlap — the sequence-preparation
    * step between curation and training: each document's token stream
    * splits into windows of `chunkSize` tokens every `stride` tokens
    * (overlap = chunkSize - stride), the last window ragged. Pure per-row
    * array math (sequence → explode → slice): no shuffle, no state, and
    * the chunk count per doc is exact integer arithmetic the oracle
    * replays. Emits the chunk's md5 next to its bounds so downstream
    * exact-dedup of chunks (a common second dedup pass) gets its
    * fingerprint for free.
    */
  def chunkDocs(df: DataFrame, key: Column, text: Column,
                chunkSize: Int, stride: Int): DataFrame = {
    require(stride > 0 && stride <= chunkSize, "0 < stride <= chunkSize")
    df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"),
        posexplode(transform(
          sequence(lit(0),
            floor((size(col("w")) - 1) / lit(stride)).cast("int")),
          i => i * stride)))
      .select(col("doc_id"), col("pos").cast("long").as("chunk_idx"),
        col("col").cast("long").as("start_tok"),
        slice(col("w"), col("col") + 1, lit(chunkSize)).as("c"))
      .select(col("doc_id"), col("chunk_idx"), col("start_tok"),
        size(col("c")).cast("long").as("n_chunk_tokens"),
        md5(concat_ws(" ", col("c"))).as("chunk_md5"))
  }

  /** Sentence-aware chunking — the RAG-prep alternative to
    * [[chunkDocs]]' fixed token windows: text splits at sentence
    * boundaries ('. ' — the RE2-portable form, no lookbehind, so any
    * SQL oracle can replay the split), and sentences pack greedily into
    * `budget`-token chunks by cumulative offset: a sentence belongs to
    * the chunk its FIRST token falls in (the chunk-atomic contiguous
    * fill [[packChunks]] documents — a boundary-spanning sentence rides
    * with its start, chunks may slightly overshoot). Shapes: one scan,
    * one doc-partitioned cumulative window, one (doc, chunk) agg — no
    * shuffle beyond doc_id at any corpus size. Output per chunk:
    * sentence/token counts + an order-exact content md5.
    */
  def chunkSentences(df: DataFrame, key: Column, text: Column,
                     budget: Int): DataFrame = {
    require(budget > 0)
    val sents = df
      .select(key.as("doc_id"), posexplode(split(text, "\\. "))
        .as(Seq("idx", "sent")))
      .withColumn("nt", size(TextFns.tokens(col("sent"))).cast("long"))
      .filter(col("nt") > 0)
    val before = Window.partitionBy(col("doc_id")).orderBy(col("idx"))
      .rowsBetween(Window.unboundedPreceding, -1)
    sents
      .withColumn("cumb", coalesce(sum(col("nt")).over(before), lit(0L)))
      .withColumn("chunk_id", floor(col("cumb") / lit(budget)).cast("long"))
      .groupBy(col("doc_id"), col("chunk_id"))
      .agg(count(lit(1)).as("n_sents"), sum(col("nt")).as("n_tokens"),
        md5(concat_ws(" | ", transform(
          array_sort(collect_list(struct(col("idx"), col("sent")))),
          x => x.getField("sent")))).as("chunk_md5"))
  }

  /** Sequence packing — the step after [[chunkDocs]]: concatenate the
    * chunk stream in a deterministic shard-local order and cut it into
    * `budget`-token training sequences. Packing is chunk-atomic by start
    * offset (a chunk belongs to the pack its first token falls in), so a
    * pack can slightly overshoot the budget — the contiguous-fill
    * discipline pipelines use when they concat-then-split; splitting
    * chunks at pack boundaries would change only the slice arithmetic,
    * not the shape. Scale: one hash shuffle on the shard key + an
    * in-partition running sum — no global ordering, no single-partition
    * window; the shard count is the parallelism lever. Output one row per
    * pack: chunk count, token count, fill fraction.
    */
  def packChunks(chunks: DataFrame, budget: Int, shards: Int): DataFrame = {
    require(budget > 0 && shards > 0)
    val w = Window.partitionBy(col("shard"))
      .orderBy(col("doc_id").asc, col("chunk_idx").asc)
      .rowsBetween(Window.unboundedPreceding, -1)
    // md5-derived shard, not pmod(doc_id): type-agnostic (string/UUID keys
    // hash the same way), deterministic across engines, and immune to
    // pathological key spacings (all-even ids etc.) skewing the shards.
    chunks
      .select(pmod(conv(substring(md5(col("doc_id").cast("string")), 1, 12),
          16, 10).cast("long"), lit(shards.toLong)).as("shard"),
        col("doc_id"), col("chunk_idx"), col("n_chunk_tokens"))
      .withColumn("start_off",
        coalesce(sum(col("n_chunk_tokens")).over(w), lit(0L)))
      .groupBy(col("shard"),
        floor(col("start_off") / lit(budget.toLong)).as("pack_idx"))
      .agg(count(lit(1)).as("n_chunks"),
        sum(col("n_chunk_tokens")).as("n_tokens"))
      .select(col("shard"), col("pack_idx"), col("n_chunks"), col("n_tokens"),
        round(col("n_tokens").cast("double") / budget, 6).as("fill_frac"))
  }

  /** Paragraph-level boilerplate removal (CCNet/RefinedWeb-style): a
    * paragraph whose normalized hash appears in >= `minDocs` DISTINCT
    * documents is template boilerplate (site footers, navigation, license
    * blurbs) and is dropped from every document carrying it. `paras` is a
    * caller-supplied array<string> column — real pipelines split on blank
    * lines; the fixture binding uses fixed token windows because the test
    * corpus is single-line.
    *
    * Scale shape: explode -> one hash shuffle on the paragraph hash
    * (countDistinct doc per hash) -> equi-join the boilerplate set back ->
    * regroup per doc. The per-doc regroup collects only that doc's own
    * kept paragraphs (bounded by doc size) to rebuild the cleaned-content
    * md5 — the proof the two engines kept EXACTLY the same spans, not just
    * the same counts.
    */
  def dedupParagraphs(df: DataFrame, key: Column, paras: Column,
                      minDocs: Int): DataFrame = {
    val tall = df
      .select(key.as("doc_id"), posexplode(paras).as(Seq("para_idx", "para")))
      .withColumn("ph", md5(col("para")))
    val boiler = tall.groupBy(col("ph"))
      .agg(countDistinct(col("doc_id")).as("nd"))
      .filter(col("nd") >= minDocs)
      .select(col("ph"), lit(1L).as("boiler"))
    tall.join(boiler, Seq("ph"), "left")
      .groupBy(col("doc_id"))
      .agg(
        count(lit(1)).as("n_paras"),
        coalesce(sum(col("boiler")), lit(0L)).as("n_boiler"),
        coalesce(sum(when(col("boiler").isNull,
          size(TextFns.tokens(col("para"))).cast("long"))), lit(0L))
          .as("n_tokens_kept"),
        md5(concat_ws(" ", transform(
          sort_array(collect_list(when(col("boiler").isNull,
            struct(col("para_idx"), col("para"))))),
          s => s.getField("para")))).as("kept_md5"))
  }

  /** Token-budget domain mixing — the sampling-rate form used at corpus
    * scale: per domain, total the tokens, derive an exact-integer keep
    * rate rate_ppm = min(1e6, budget*1e6 div total), then hash-sample
    * documents at that rate ([[sampleStratified]] discipline: md5-keyed,
    * partition-independent, no RNG). `weight` = 1e6/rate_ppm is the
    * Horvitz-Thompson reweight for downstream token accounting.
    *
    * Deliberately NOT the greedy take-docs-until-budget form: that needs a
    * per-domain total-order running sum (one sort per domain, sequential
    * within it), while rate-based mixing is one tiny per-domain aggregate
    * (auto-broadcast back) plus an embarrassingly parallel filter — the
    * shape that survives a 1000-executor corpus. The hash test compares
    * exact integers (h32 * 1e6 < rate_ppm * 2^32, both < 2^53).
    */
  def mixDomains(df: DataFrame, key: Column, domain: Column,
                 nTokens: Column, budgetTokens: Column): DataFrame = {
    val tok = df.select(key.as("doc_id"), domain.as("domain"),
      nTokens.cast("long").as("n_tokens"),
      budgetTokens.cast("long").as("budget"))
    val rate = tok.groupBy(col("domain"))
      .agg(sum(col("n_tokens")).as("dt"), max(col("budget")).as("budget"))
      .select(col("domain"),
        least(lit(1000000L), expr("budget * 1000000 div dt")).as("rate_ppm"))
    htKeep(tok, rate)
  }

  /** The shared rate-based sampling tail of [[mixDomains]] and
    * [[mixTemperature]]: md5-keyed exact-integer keep test
    * (h32·10^6 < rate_ppm·2^32, both sides < 2^53) + the
    * Horvitz-Thompson weight. One place, so the two mixing ops can never
    * diverge on the sampling discipline.
    */
  private def htKeep(tok: DataFrame, rate: DataFrame): DataFrame = {
    val h32 = conv(substring(md5(col("doc_id").cast("string")), 1, 8), 16, 10)
      .cast("long")
    tok.join(rate, "domain")
      .filter(h32 * 1000000L < col("rate_ppm") * (1L << 32))
      .select(col("doc_id"), col("domain"), col("n_tokens"), col("rate_ppm"),
        round(lit(1000000.0) / col("rate_ppm"), 6).as("weight"))
  }

  /** Temperature-scaled domain mixing — the multilingual/domain-balance
    * sampler (α = 0.5, the XLM-style exponent): a domain's share of the
    * token budget is proportional to sqrt(its token count), which
    * up-samples tail domains without letting the head dominate. The
    * budget is scale-relative — a quarter of the corpus's total tokens —
    * so the operator is meaningful at every SF without retuning. All the
    * math an oracle must replay is exact: the per-domain weight is the
    * integer milliweight floor(sqrt(dt)·1000) (IEEE sqrt and one multiply
    * are correctly rounded in both engines, so the double is
    * bit-identical before the floor), and the keep rate is the
    * deterministic rational q·w div dt with q = (Σdt div 4)·10^6 div Σw
    * (the per-milliweight ppm quota), capped at 10^6 ppm. Dividing by Σw
    * BEFORE multiplying by w keeps every intermediate ≤ (Σdt/4)·10^6 —
    * under 2^63 to ~10^12-token (trillion-token) corpora, enforced by a
    * require tripwire; the quota floor loses < 1 ulp of rate at any
    * realistic Σw. Shapes: one bounded domain rollup, a 1-row (Σw, Σdt)
    * broadcast, the rate equi-joined back, one md5-keep-test scan — the
    * corpus never sorts or self-joins (same scale contract as
    * [[mixDomains]], whose sampling tail it shares via htKeep).
    */
  def mixTemperature(df: DataFrame, key: Column, domain: Column,
                     nTokens: Column): DataFrame = {
    val tok = df.select(key.as("doc_id"), domain.as("domain"),
      nTokens.cast("long").as("n_tokens"))
    val dom = tok.groupBy(col("domain")).agg(sum(col("n_tokens")).as("dt"))
      .select(col("domain"), col("dt"),
        floor(sqrt(col("dt").cast("double")) * 1000).cast("long")
          .as("w_milli"))
    val tot = dom.agg(sum(col("w_milli")).as("w_tot"),
      sum(col("dt")).as("t_tot"))
    // Overflow tripwire IN the plan (no driver-side action — a head()
    // here would cost an extra job per invocation, the planesOf lesson):
    // (t_tot div 4)·10^6 is the largest intermediate; past ~3e12 tokens
    // it nears 2^63, where Spark would silently wrap while the oracle
    // errors — fail loudly instead and point at decimal(38,0).
    val rate = dom.crossJoin(broadcast(tot))
      .select(col("domain"),
        least(lit(1000000L),
          expr("CASE WHEN t_tot > 3000000000000 THEN raise_error(" +
            "'mixTemperature: corpus exceeds the BIGINT-exact bound " +
            "(~3e12 tokens); move the quota math to decimal(38,0)') " +
            "ELSE ((t_tot div 4) * 1000000 div w_tot) * w_milli div dt END"))
          .as("rate_ppm"))
    htKeep(tok, rate)
  }

  /** Token-budget mixture planner — the allocation pass between a
    * mixture DESIGN (target weights, e.g. [[mixTemperature]]'s output)
    * and a training run with a fixed token budget: per source, grant
    * min(weight·budget, avail·maxEpochs) tokens — a source cannot
    * contribute more than its corpus repeated `maxEpochs` times (the
    * small-but-high-weight-source reality every mixture hits) — and
    * report the exact epochs_ppm the sampler must realize plus the
    * shortfall the designer has to rebalance. All arithmetic is exact
    * integer ppm; `budgetTokens` is bounded at 10^12 so the
    * budget×weight intermediate stays far from the BIGINT edge on both
    * engines (the [[mixTemperature]] overflow discipline, enforced
    * driver-side here because the knob IS driver-side). Sources in the
    * corpus but absent from the weight table fail loudly — silently
    * granting them zero would ship a mixture that quietly drops data.
    * The symmetric case is VISIBLE, not loud: a weighted source absent
    * from the corpus emits its row with avail = 0, granted = 0 and
    * shortfall = target (a designer planning for a source that has not
    * landed yet is a legitimate state — but its vanished share must
    * show up as shortfall, never as a missing row). Scale shape: ONE
    * per-source token aggregate over the corpus; the weight table is a
    * bounded driver literal; output is one row per planned-or-present
    * source.
    */
  def mixBudget(df: DataFrame, source: Column, text: Column,
                weightsPpm: Seq[(String, Long)], budgetTokens: Long,
                maxEpochsPpm: Long = 4000000L): DataFrame = {
    require(weightsPpm.nonEmpty && budgetTokens > 0 &&
      budgetTokens <= 1000000000000L && maxEpochsPpm > 0,
      "mixBudget: need weights, 0 < budget <= 1e12, maxEpochs > 0")
    // knob hygiene, all driver-side (the knobs ARE driver-side): a
    // duplicate source key would fan the left join out and GRANT THE
    // BUDGET TWICE with no error; a weight outside [0, 1e6] is not a
    // mixture share and (at the top end) would push budget·weight past
    // the BIGINT-exact bound the require above establishes
    require(weightsPpm.map(_._1).distinct.size == weightsPpm.size,
      "mixBudget: duplicate source keys in the weight table")
    require(weightsPpm.forall { case (_, w) => w >= 0 && w <= 1000000L },
      "mixBudget: weights are ppm shares and must sit in [0, 1000000]")
    val spark = df.sparkSession
    import spark.implicits._
    val avail = df.select(source.as("source"),
        size(TextFns.tokens(text)).cast("long").as("nt"))
      .groupBy(col("source")).agg(sum(col("nt")).as("avail_tokens"))
      .persistOnce()
    // FULL outer: a corpus source without a weight fails loudly below,
    // and — symmetrically — a WEIGHTED source absent from the corpus
    // must surface as a row (avail = 0, granted = 0, shortfall =
    // target), not vanish: a left join from the avail side would
    // silently evaporate its whole budget share, the one failure mode
    // a mixture designer cannot see in the output. (broadcast on the
    // weight side of a full outer degrades to a shuffle anyway — the
    // weight table is a bounded driver literal, so the tiny two-sided
    // shuffle is the honest plan.)
    val w = weightsPpm.toDF("source", "weight_ppm")
    val joined = avail.join(w, Seq("source"), "full")
      .withColumn("avail_tokens", coalesce(col("avail_tokens"), lit(0L)))
      .persistOnce()
    val nMissing = joined.filter(col("weight_ppm").isNull).count()
    require(nMissing == 0, s"mixBudget: $nMissing corpus sources have " +
      "no mixture weight — every source must be planned or explicitly " +
      "weighted zero")
    // Overflow tripwire IN the plan (the mixTemperature discipline):
    // avail·maxEpochsPpm is the one unbounded intermediate — a source
    // past ~9.2e18/maxEpochsPpm tokens would wrap silently while the
    // oracle promotes to HUGEINT. budget·weight is already bounded by
    // the driver-side require (1e12 · 1e6-scale < 2^63).
    val availBound = Long.MaxValue / maxEpochsPpm
    joined
      .withColumn("target_tokens",
        expr(s"$budgetTokens * weight_ppm div 1000000"))
      .withColumn("granted_tokens",
        least(col("target_tokens"),
          expr(s"CASE WHEN avail_tokens > $availBound THEN raise_error(" +
            "'mixBudget: a source exceeds the BIGINT-exact epoch-cap " +
            "bound; move the grant math to decimal(38,0)') " +
            s"ELSE avail_tokens * $maxEpochsPpm div 1000000 END")))
      .select(col("source"), col("avail_tokens"), col("weight_ppm"),
        col("target_tokens"), col("granted_tokens"),
        // an all-empty-text source has avail = 0 (and so granted = 0):
        // report 0 epochs instead of a runtime divide-by-zero under
        // ANSI mode
        expr("CASE WHEN avail_tokens = 0 THEN 0 " +
          "ELSE granted_tokens * 1000000 div avail_tokens END")
          .as("epochs_ppm"),
        (col("target_tokens") - col("granted_tokens"))
          .as("shortfall_tokens"))
  }

  /** BM25 (Okapi, Lucene idf variant) top-k retrieval for a bounded term
    * set. Shapes: one explode filtered to the query terms (the filter
    * prunes the tall table to |terms| rows per doc BEFORE any shuffle),
    * tf via hash aggregate, df over the tiny per-term table and the 1-row
    * corpus stats both broadcast back, then TakeOrderedAndProject for the
    * global top-k (never a full global sort). The final rank window runs
    * on k rows. Ranking uses the ROUNDED score on both engines so order
    * and rank agree wherever the hash gate can agree.
    */
  def bm25Rank(df: DataFrame, key: Column, text: Column, terms: Seq[String],
               k: Int, k1: Double = 1.2, b: Double = 0.75): DataFrame = {
    require(terms.nonEmpty && k > 0)
    val d = df.select(key.as("doc_id"), TextFns.tokens(text).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("doc_id"), col("w"), size(col("w")).cast("long").as("dl"))
    val st = d.agg(count(lit(1)).as("n"), sum(col("dl")).as("sdl"))
    val tf = d.select(col("doc_id"), col("dl"), explode(col("w")).as("term"))
      .filter(col("term").isin(terms: _*))
      .groupBy(col("doc_id"), col("dl"), col("term"))
      .agg(count(lit(1)).as("tf"))
    val dfreq = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    val avgdl = col("sdl").cast("double") / col("n")
    val idf = log(lit(1.0) + (col("n") - col("df") + 0.5) / (col("df") + 0.5))
    val tfn = col("tf") * (k1 + 1) /
      (col("tf") + lit(k1) * (lit(1 - b) + lit(b) * col("dl") / avgdl))
    val scored = tf.join(broadcast(dfreq), "term")
      .crossJoin(broadcast(st))
      .groupBy(col("doc_id"))
      .agg(round(sum(idf * tfn), 6).as("score"))
      .orderBy(col("score").desc, col("doc_id").asc)
      .limit(k)
    scored.withColumn("rank",
      row_number().over(Window.orderBy(col("score").desc, col("doc_id").asc))
        .cast("long"))
  }

  /** Nearest-centroid (Rocchio) classification over labeled embeddings —
    * the geometric sibling of [[naiveBayes]]: each label's centroid is
    * the per-label SUM direction (same direction as the mean, one
    * posexplode + (label, dim) partial-agg shuffle — the [[kmeansRefine]]
    * update shape), assembled into an array with a deterministic
    * dim-sorted collect and broadcast as the bounded model; every vector
    * then classifies map-side to its max-cosine centroid. Cosines round
    * at 6 before the argmax with the label as tie-break, so predictions
    * replay across engines and partitionings.
    */
  def centroidClassify(emb: DataFrame, key: Column, vec: Column,
                       label: Column): DataFrame = {
    val v = cacheOnce(emb.select(key.as("vec_id"),
      VectorFns.toDoubles(vec).as("v"), label.as("lbl")))
    val cents = v
      .select(col("lbl"), posexplode(col("v")).as(Seq("d", "x")))
      .groupBy(col("lbl"), col("d")).agg(sum(col("x")).as("s"))
      .groupBy(col("lbl"))
      .agg(transform(array_sort(collect_list(struct(col("d"), col("s")))),
        t => t.getField("s")).as("cv"))
      .select(col("lbl").as("clbl"), col("cv"))
    val scored = v.crossJoin(broadcast(cents))
      .select(col("vec_id"), col("lbl"), col("clbl"),
        round(expr("cosine_sim(v, cv)"), 6).as("cos"))
    scored.groupBy(col("vec_id"))
      .agg(max(col("lbl")).as("actual"),
        max(struct(col("cos"), col("clbl"))).getField("clbl").as("predicted"))
      .withColumn("correct", (col("actual") === col("predicted")).cast("int"))
  }

  /** Per-class precision/recall readout for any (actual, predicted)
    * table — the evaluation rollup that closes the train/apply loop of
    * [[naiveBayes]] / [[centroidClassify]]. One bounded (actual,
    * predicted) confusion shuffle; precision and recall are exact
    * integer ppm (NULL when a class is never predicted — both engines).
    */
  def evalMetrics(pred: DataFrame, actual: Column,
                  predicted: Column): DataFrame = {
    val p = cacheOnce(pred.select(actual.as("actual"),
      predicted.as("predicted")))
    val conf = cacheOnce(p.groupBy(col("actual"), col("predicted"))
      .agg(count(lit(1)).as("n")))
    val tp = conf.filter(col("actual") === col("predicted"))
      .select(col("actual").as("cls"), col("n").as("tp"))
    val act = conf.groupBy(col("actual")).agg(sum(col("n")).as("n_actual"))
      .withColumnRenamed("actual", "cls")
    val prd = conf.groupBy(col("predicted"))
      .agg(sum(col("n")).as("n_predicted"))
      .withColumnRenamed("predicted", "cls")
    act.join(prd, Seq("cls"), "full_outer")
      .join(tp, Seq("cls"), "left")
      .select(col("cls"),
        coalesce(col("n_actual"), lit(0L)).as("n_actual"),
        coalesce(col("n_predicted"), lit(0L)).as("n_predicted"),
        coalesce(col("tp"), lit(0L)).as("tp"))
      .withColumn("precision_ppm",
        when(col("n_predicted") === 0, lit(null).cast("long"))
          .otherwise(expr("(tp * 1000000) div n_predicted")))
      .withColumn("recall_ppm",
        when(col("n_actual") === 0, lit(null).cast("long"))
          .otherwise(expr("(tp * 1000000) div n_actual")))
  }

  /** Multinomial Naive Bayes text classifier — closed-form distributed
    * TRAINING (the per-class token counts ARE the model — one shuffle,
    * no iterations) plus corpus-wide APPLY and a correctness flag per
    * document: the classic supervised baseline a data pipeline trains
    * on its own labels (language, source, quality tier) to find
    * mislabeled slices. Add-one smoothing over the corpus vocabulary;
    * the per-class score decomposes as
    *   ln n_c − ln n − n_tok·ln(T_c + V) + Σ_t tf·ln(C_{c,t} + 1)
    * so only OBSERVED (class, term) pairs join (absent pairs contribute
    * ln 1 = 0) and the doc-level term is a bounded class-table cross.
    * Scores are doubles rounded at 6 before the argmax (the perplexity
    * sum-order discipline); ties break on the class label, so the
    * prediction replays deterministically.
    */
  def naiveBayes(df: DataFrame, key: Column, text: Column,
                 label: Column): DataFrame = {
    val base = cacheOnce(df.select(key.as("doc_id"), label.as("lbl"),
      TextFns.tokens(text).as("w")).filter(size(col("w")) > 0))
    val tall = cacheOnce(base
      .select(col("doc_id"), explode(col("w")).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf")))
    val docTot = tall.groupBy(col("doc_id")).agg(sum(col("tf")).as("n_tok"))
    val ct = cacheOnce(base
      .select(col("lbl"), explode(col("w")).as("term"))
      .groupBy(col("lbl"), col("term")).agg(count(lit(1)).as("c")))
    val classes = base.groupBy(col("lbl")).agg(count(lit(1)).as("n_docs_c"))
      .join(ct.groupBy(col("lbl")).agg(sum(col("c")).as("t_c")), "lbl")
    val totals = base.agg(count(lit(1)).as("n_docs"))
      .crossJoin(tall.select(col("term")).distinct()
        .agg(count(lit(1)).as("v")))
    // observed-pair contributions: one equi-join on term, partial-agg'd
    val pos = tall
      .join(ct.select(col("term"), col("lbl"), col("c")), "term")
      .groupBy(col("doc_id"), col("lbl"))
      .agg(sum(col("tf") * log(col("c") + lit(1.0))).as("possum"))
    val scored = docTot
      .crossJoin(broadcast(classes))
      .crossJoin(broadcast(totals))
      .join(pos, Seq("doc_id", "lbl"), "left")
      .select(col("doc_id"), col("lbl"),
        round(log(col("n_docs_c")) - log(col("n_docs"))
          - col("n_tok") * log(col("t_c") + col("v"))
          + coalesce(col("possum"), lit(0.0)), 6).as("score"))
    val pred = scored.groupBy(col("doc_id"))
      .agg(max(struct(col("score"), col("lbl"))).getField("lbl")
        .as("predicted"))
    base.select(col("doc_id"), col("lbl").as("actual"))
      .join(pred, "doc_id")
      .withColumn("correct", (col("actual") === col("predicted")).cast("int"))
  }

  /** Per-paragraph language segmentation — the mixed-page screen
    * between language ID and the per-language curation tiers
    * ([[GraftOps.naiveBayes]]'s model applied at PARAGRAPH grain):
    * whole-document language ID misroutes the common crawl case of a
    * page whose navigation, quotes or comment threads speak a
    * different language than its body, and a per-language quality
    * pipeline (the CCNet shape) needs to know WHICH pages are mixed
    * before its quartiles mean anything. Trains the multinomial NB
    * model on (trainText, label) exactly as [[naiveBayes]] does (same
    * smoothing, same 6dp-rounded scores, same max-label tie-break — an
    * oracle replays both from one derivation), then classifies every
    * newline-separated paragraph of `page` and rolls up per document:
    * classified paragraph count, distinct predicted languages, the
    * modal (dominant) language with its exact-ppm share, and the mixed
    * flag (>= 2 predicted languages). Blank paragraphs carry no signal
    * and are excluded from the counts; a document whose page has NO
    * classifiable paragraph (all blank, or NULL) stays VISIBLE as a
    * zeroed row with dominant_lang '' — never a lost document. The
    * dominant-language tie breaks on the label (max), the
    * [[naiveBayes]] argmax discipline.
    *
    * Scale shape: training is [[naiveBayes]]'s one count shuffle
    * (bounded model tables, broadcast); the paragraph table is one
    * posexplode ∝ corpus bytes; scoring is one term equi-join whose
    * fan-out is bounded by the class alphabet, then two doc-keyed
    * rollups — no shuffle wider than tokens × |classes| at any corpus
    * size.
    */
  def langSegment(df: DataFrame, key: Column, page: Column,
                  trainText: Column, label: Column): DataFrame = {
    val docs = cacheOnce(df.select(key.as("doc_id"), label.as("lbl"),
      trainText.as("txt"), coalesce(page, lit("")).as("pg")))
    val base = cacheOnce(docs.select(col("doc_id"), col("lbl"),
      TextFns.tokens(col("txt")).as("w")).filter(size(col("w")) > 0))
    val ct = cacheOnce(base
      .select(col("lbl"), explode(col("w")).as("term"))
      .groupBy(col("lbl"), col("term")).agg(count(lit(1)).as("c")))
    val classes = base.groupBy(col("lbl")).agg(count(lit(1)).as("n_docs_c"))
      .join(ct.groupBy(col("lbl")).agg(sum(col("c")).as("t_c")), "lbl")
    val totals = base.agg(count(lit(1)).as("n_docs"))
      .crossJoin(ct.select(col("term")).distinct()
        .agg(count(lit(1)).as("v")))
    // paragraph grain: one posexplode, blank paragraphs out
    val paras = docs.select(col("doc_id"),
        posexplode(split(col("pg"), "\n")).as(Seq("para_idx", "ptext")))
      .select(col("doc_id"), col("para_idx"),
        TextFns.tokens(col("ptext")).as("pw"))
      .filter(size(col("pw")) > 0)
    val ptall = cacheOnce(paras
      .select(col("doc_id"), col("para_idx"), explode(col("pw")).as("term"))
      .groupBy(col("doc_id"), col("para_idx"), col("term"))
      .agg(count(lit(1)).as("tf")))
    val pTot = ptall.groupBy(col("doc_id"), col("para_idx"))
      .agg(sum(col("tf")).as("n_tok"))
    val pos = ptall
      .join(ct.select(col("term"), col("lbl"), col("c")), "term")
      .groupBy(col("doc_id"), col("para_idx"), col("lbl"))
      .agg(sum(col("tf") * log(col("c") + lit(1.0))).as("possum"))
    val scored = pTot
      .crossJoin(broadcast(classes))
      .crossJoin(broadcast(totals))
      .join(pos, Seq("doc_id", "para_idx", "lbl"), "left")
      .select(col("doc_id"), col("para_idx"), col("lbl"),
        round(log(col("n_docs_c")) - log(col("n_docs"))
          - col("n_tok") * log(col("t_c") + col("v"))
          + coalesce(col("possum"), lit(0.0)), 6).as("score"))
    val pred = scored.groupBy(col("doc_id"), col("para_idx"))
      .agg(max(struct(col("score"), col("lbl"))).getField("lbl")
        .as("plang"))
    val rollup = pred.groupBy(col("doc_id"), col("plang"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("doc_id"))
      .agg(sum(col("n")).as("n_paras"),
        count(lit(1)).as("n_langs"),
        max(struct(col("n"), col("plang"))).getField("plang")
          .as("dominant_lang"),
        max(struct(col("n"), col("plang"))).getField("n")
          .as("n_dominant"))
    docs.select(col("doc_id")).join(rollup, Seq("doc_id"), "left")
      .select(col("doc_id"),
        coalesce(col("n_paras"), lit(0L)).as("n_paras"),
        coalesce(col("n_langs"), lit(0L)).as("n_langs"),
        coalesce(col("dominant_lang"), lit("")).as("dominant_lang"),
        coalesce(expr("(n_dominant * 1000000) div n_paras"), lit(0L))
          .as("dominant_ppm"),
        coalesce((col("n_langs") >= 2).cast("int"), lit(0))
          .as("mixed"))
  }

  /** Tokenizer out-of-vocabulary evaluation — per-document OOV token
    * counts against the corpus top-`vocabK` vocabulary (the readout that
    * sizes a tokenizer or flags domain-shifted documents). The vocab is
    * a bounded TakeOrderedAndProject (count desc, term asc — a total
    * deterministic order) broadcast back over the token table; rates
    * are exact integer ppm. Two shuffles total (token counts + per-doc
    * rollup) at any corpus size.
    */
  def oovRate(df: DataFrame, key: Column, text: Column,
              vocabK: Int): DataFrame = {
    require(vocabK > 0)
    val tall = df.select(key.as("doc_id"),
      explode(TextFns.tokens(text)).as("term")).persistOnce()
    val vocab = tall.groupBy(col("term")).agg(count(lit(1)).as("c"))
      .orderBy(col("c").desc, col("term").asc).limit(vocabK)
      .select(col("term"), lit(1).as("iv"))
    tall.join(broadcast(vocab), Seq("term"), "left")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_tokens"),
        sum(when(col("iv").isNull, 1L).otherwise(0L)).as("n_oov"))
      .withColumn("oov_ppm", expr("(n_oov * 1000000) div n_tokens"))
  }

  /** Sparse similarity search via the inverted index — the lexical
    * complement to dense retrieval ([[similarityTopK]]): probe documents
    * score against the corpus ONLY through shared terms (an equi-join on
    * term between the corpus postings and the bounded broadcast probe
    * postings), so total work is Σ_term df(term)·probe_tf — posting-list
    * bounded, never doc×doc. The dot product and both norms are EXACT
    * BIGINT sums of tf products (per-doc Σtf² is bounded by doclen², far
    * inside long range at any corpus size since docs are length-bounded);
    * the single final division runs in double over exactly-representable
    * integers, so the oracle replays every cosine bit-for-bit. An idf
    * weighting slots in by scaling tf to decimal weights — kept out here
    * to preserve the all-integer shuffle.
    */
  def sparseTopK(df: DataFrame, key: Column, text: Column,
                 probeMax: Long, k: Int): DataFrame = {
    require(k > 0)
    val tf = df.select(key.as("doc_id"), explode(TextFns.tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .persistOnce()
    val norms = tf.groupBy(col("doc_id"))
      .agg(sum(col("tf") * col("tf")).as("nrm"))
      .persistOnce()
    val probes = tf.filter(col("doc_id") < probeMax)
      .select(col("doc_id").as("probe_id"), col("term"), col("tf").as("ptf"))
    val dot = tf.join(broadcast(probes), "term")
      .filter(col("doc_id") =!= col("probe_id"))
      .groupBy(col("probe_id"), col("doc_id"))
      .agg(sum(col("tf") * col("ptf")).as("dot"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("doc_id").asc)
    dot.join(norms, "doc_id")
      .join(broadcast(norms.select(col("doc_id").as("probe_id"),
        col("nrm").as("pnrm"))), "probe_id")
      .select(col("probe_id"), col("doc_id"), col("dot"),
        round(col("dot").cast("double") /
          sqrt(col("nrm").cast("double") * col("pnrm").cast("double")), 6)
          .as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Tokenizer-prep pair statistics — the corpus scan behind a BPE
    * tokenizer's first merge decision: the frequency of every adjacent
    * character pair, weighted by word occurrence. The classic BPE-training
    * optimization is built in: pairs are enumerated over the DISTINCT word
    * table (bounded by vocabulary, not corpus size) and weighted by the
    * word's corpus frequency, so a 100-TB corpus costs one token shuffle
    * to word counts plus pair work proportional to the vocabulary only.
    * Top-k by weighted count with the pair string as the deterministic
    * tiebreak; the rank window runs on k rows after TakeOrderedAndProject.
    */
  def bpePairStats(df: DataFrame, text: Column, k: Int): DataFrame = {
    require(k > 0)
    val wf = df.select(explode(TextFns.tokens(text)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("wf"))
    val top = wf.filter(length(col("term")) >= 2)
      .select(col("wf"), explode(expr(
        "transform(sequence(1, length(term) - 1), i -> substring(term, i, 2))"))
        .as("pair"))
      .groupBy(col("pair")).agg(sum(col("wf")).as("n_occurrences"))
      .orderBy(col("n_occurrences").desc, col("pair").asc)
      .limit(k)
    top.withColumn("rank",
      row_number().over(
        Window.orderBy(col("n_occurrences").desc, col("pair").asc))
        .cast("long"))
  }

  /** Distributed BPE tokenizer TRAINING — `rounds` greedy merge decisions
    * (Sennrich et al. 2016), the step after [[bpePairStats]]'s one-round
    * readout. Vocabulary-bounded iteration: the corpus is scanned ONCE
    * (token → word-frequency shuffle, cached); each round then costs one
    * pair count over the distinct-word table plus a 1-row argmax — at
    * 100 TB the per-round work is proportional to the vocabulary, never
    * the corpus. Symbol sequences are tracked in a delimiter-wrapped
    * string form ("cat" → "<c><a><t>") where applying a merge (a,b)→ab
    * is a plain string `replace` of "<a><b>" with "<ab>": replace scans
    * left-to-right over non-overlapping occurrences in both Spark
    * (UTF8String) and DuckDB, which IS greedy BPE application order, so
    * the unrolled SQL oracle replays every round bit-for-bit. Ties on
    * pair count break lexicographically (lhs, rhs) — deterministic
    * across engines and partitionings. Precondition: the token alphabet
    * must not contain the delimiter characters '<' or '>' (true of
    * [[graft.functions.TextFns.tokens]] output over the fixtures; wider
    * alphabets need a caller-chosen delimiter pair). ENFORCED: a
    * delimiter char inside a token corrupts symbol parsing silently and
    * identically in both engines (the oracle replays the corruption, so
    * the gate cannot catch it) — the guard counts offenders on the
    * already-cached vocabulary table (one vocab-sized scan, never the
    * corpus) and fails loudly per the documented-require() contract.
    */
  def bpeTrain(df: DataFrame, text: Column, rounds: Int): DataFrame = {
    require(rounds >= 1 && rounds <= 32, "rounds must be in [1, 32]")
    val spark = df.sparkSession
    val wordFreq = cacheOnce(
      df.select(explode(TextFns.tokens(text)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val nBad = wordFreq
      .filter(col("word").contains("<") || col("word").contains(">")).count()
    require(nBad == 0, s"bpeTrain: $nBad vocabulary tokens contain the " +
      "'<'/'>' delimiter characters — symbol tracking would corrupt " +
      "silently; normalize the corpus or choose a disjoint alphabet")
    val base = cacheOnce(wordFreq.select(col("freq"),
      regexp_replace(col("word"), "(.)", "<$1>").as("syms")))
    // merge rounds run stage-fused on a [[LoopSession]] sized by the
    // already-materialized vocabulary cache: each round is one
    // vocab-bounded pair aggregate + a 1-row argmax collect, which under
    // AQE cost 2-3 stage jobs of scheduling latency apiece
    var words = LoopSession.bind(base, LoopSession(wordFreq))
    val merges =
      scala.collection.mutable.ArrayBuffer.empty[(Long, String, String, Long)]
    var r = 1
    var exhausted = false
    while (r <= rounds && !exhausted) {
      // adjacent symbol pairs weighted by word frequency; single-symbol
      // words drop out (size < 2 — the guard matters: Spark's
      // sequence(1, 0) is a DESCENDING range, not empty)
      val best = words
        .select(col("freq"),
          expr("split(substring(syms, 2, length(syms) - 2), '><')").as("t"))
        .filter(size(col("t")) >= 2)
        .select(col("freq"), explode(expr(
          """transform(sequence(1, size(t) - 1),
            |  i -> struct(element_at(t, i) AS lhs,
            |              element_at(t, i + 1) AS rhs))""".stripMargin))
          .as("p"))
        .groupBy(col("p.lhs").as("lhs"), col("p.rhs").as("rhs"))
        .agg(sum(col("freq")).as("cnt"))
        .orderBy(col("cnt").desc, col("lhs").asc, col("rhs").asc)
        .limit(1).collect()
      if (best.isEmpty) exhausted = true
      else {
        val row = best(0)
        val (l, rr, c) = (row.getString(0), row.getString(1), row.getLong(2))
        merges += ((r.toLong, l, rr, c))
        // call_function keeps the merge strings as bound literals — no
        // string interpolation into SQL, so corpus content can never
        // inject into the plan
        words = words.withColumn("syms",
          call_function("replace", col("syms"),
            lit(s"<$l><$rr>"), lit(s"<$l$rr>")))
        r += 1
      }
    }
    import spark.implicits._
    merges.toSeq.toDF("round", "lhs", "rhs", "pair_count")
  }

  /** Apply learned BPE merges corpus-wide — the tokenizer SERVE path:
    * wrap every non-space character of the normalized text, then fold
    * the merge list through chained `replace` calls (greedy left-to-
    * right, merge-order-faithful — same contract as [[bpeTrain]]).
    * Pure map stage: zero shuffle at any corpus size; the merge list
    * rides into the codegen'd plan as literals. Emits per-doc BPE token
    * count and an md5 of the full segmentation, so a gate must agree on
    * every merge boundary, not just the counts.
    */
  def bpeApply(df: DataFrame, key: Column, text: Column,
               merges: Seq[(String, String)]): DataFrame = {
    val wrapped = regexp_replace(trim(lower(text)), "(\\S)", "<$1>")
    val seg = merges.foldLeft(wrapped) { case (c, (l, r)) =>
      call_function("replace", c, lit(s"<$l><$r>"), lit(s"<$l$r>"))
    }
    df.select(key.as("doc_id"), seg.as("seg"))
      .select(col("doc_id"),
        (length(col("seg")) -
          length(call_function("replace", col("seg"), lit("<"), lit(""))))
          .cast("long").as("n_bpe_tokens"),
        md5(col("seg")).as("seg_md5"))
  }

  /** Tokenizer fertility report — the number every tokenizer evaluation
    * leads with: pieces emitted per word occurrence, per source
    * (training-token inflation: a source at fertility 2.4 costs 20%
    * more compute per word than one at 2.0 under the same budget), plus
    * the unsplit-word occurrence count (words the merge table already
    * covers whole — the vocabulary-fit signal). Segmentation is
    * [[bpeApply]]'s exact merge-fold, but run over the DISTINCT
    * (source, word) table and weighted back by occurrence counts — the
    * tokenizer-tier scale discipline: the per-word DP/fold cost is
    * vocabulary-bounded, never corpus-bounded, and the only
    * corpus-proportional work is the word-count aggregate. Fertility
    * ships as exact integer ppm (the perplexity family's parity rule).
    */
  def bpeFertility(df: DataFrame, source: Column, text: Column,
                   merges: Seq[(String, String)]): DataFrame = {
    val wf = df.select(source.as("source"),
        explode(TextFns.tokens(text)).as("word"))
      .groupBy(col("source"), col("word"))
      .agg(count(lit(1)).as("wf"))
    val wrapped = regexp_replace(col("word"), "(\\S)", "<$1>")
    val seg = merges.foldLeft(wrapped) { case (c, (l, r)) =>
      call_function("replace", c, lit(s"<$l><$r>"), lit(s"<$l$r>"))
    }
    wf.withColumn("pieces",
        (length(seg) - length(call_function("replace", seg, lit("<"),
          lit("")))).cast("long"))
      .groupBy(col("source"))
      .agg(sum(col("wf")).as("n_words"),
        sum(col("wf") * col("pieces")).as("n_pieces"),
        sum(when(col("pieces") === 1L, col("wf")).otherwise(lit(0L)))
          .as("n_unsplit"))
      .select(col("source"), col("n_words"), col("n_pieces"),
        // decimal(38,0) for the ×10^6: a dominant source past ~9.2e12
        // piece occurrences would wrap the bigint product where the
        // DuckDB oracle promotes to HUGEINT (the ngramNovelty
        // width-safety rule); div returns the exact bigint ppm
        expr("cast(n_pieces as decimal(38,0)) * 1000000 div n_words")
          .as("fertility_ppm"),
        col("n_unsplit"))
  }

  /** Integer micro-log: round(ln(x)·1e6) half-away-from-zero — the ONE
    * float operation in the unigram-LM tokenizer. Both engines round
    * the same way (BigDecimal HALF_UP == DuckDB round()), and
    * everything downstream of the resulting BIGINT weight — the Viterbi
    * DP sums, argmax, tie-breaks — is exact integer arithmetic, so the
    * segmentation can never flip on a float residual.
    */
  private def microLog(x: Double): Long =
    BigDecimal(math.log(x) * 1e6)
      .setScale(0, BigDecimal.RoundingMode.HALF_UP).toLong

  /** Viterbi segmentation of one word under an integer piece-weight
    * table, as a single Catalyst expression (no UDF): the classic
    * unigram-LM DP — best[i] = max over piece lengths k of
    * best[i−k] + w(word[i−k..i)) — folded left-to-right with
    * `aggregate`, the weight table riding in as a bounded map literal.
    * Scores are BIGINT micro-logs, so the argmax is exact; ties break
    * on the lexicographically GREATEST segmentation string (struct
    * comparison — the same rule a DuckDB list_sort-DESC replay applies,
    * so engine and oracle agree structurally, not by luck). Returns the
    * '<piece>' delimited segmentation, or NULL for a word containing a
    * character outside the piece alphabet.
    */
  private def viterbiSeg(word: Column, wts: Map[String, Long],
                         maxPieceLen: Int): Column = {
    val wmap = typedlit(wts)
    val stT = "struct<s:bigint,g:string>"
    aggregate(
      sequence(lit(1), length(word)),
      array(struct(lit(0L).as("s"), lit("").as("g"))),
      (acc, i) => array_append(acc,
        array_max(filter(
          transform(sequence(lit(1), least(lit(maxPieceLen), i)), { k =>
            val piece = call_function("substr", word, i - k + lit(1), k)
            val prev = element_at(acc, i - k + lit(1))
            when(element_at(wmap, piece).isNotNull &&
              prev.getField("s").isNotNull,
              struct(
                (prev.getField("s") + element_at(wmap, piece)).as("s"),
                concat(prev.getField("g"), lit("<"), piece, lit(">"))
                  .as("g")))
              .otherwise(lit(null).cast(stT))
          }),
          c => c.isNotNull))),
      acc => element_at(acc, length(word) + 1).getField("g"))
  }

  /** Split a '<p1><p2>…' segmentation back into its piece array — the
    * shared decoding step between the E-step counts and the serve path.
    */
  private def segPieces(seg: Column): Column =
    split(call_function("substr", seg, lit(2), length(seg) - 2), "><")

  /** Unigram-LM (SentencePiece-style) tokenizer TRAINING — the other
    * dominant tokenizer next to [[bpeTrain]]: seed a piece vocabulary
    * from substring counts, then `rounds` hard-EM (Viterbi) iterations
    * — E-step segments the distinct-word table under the current piece
    * weights and counts piece uses; M-step re-weights with add-one
    * smoothing — and finally prune to `targetSize` pieces (every
    * single character is always kept, so any corpus word stays
    * segmentable). Same scale discipline as BPE: the corpus is scanned
    * ONCE into the cached word-frequency table; each round costs one
    * Viterbi pass over DISTINCT words (a bounded map literal carries
    * the weights into codegen) plus a piece-count aggregate whose rows
    * are a subset of the current vocab. EVERY driver collect is
    * knob-bounded: the seed stage takes its `seedMultis` multi-char
    * pieces via a cluster-side orderBy+limit (TakeOrderedAndProject)
    * over the substring-count table and its singles via an
    * alphabet-bounded length-1 filter — the corpus-vocabulary-sized
    * substring table itself never reaches the driver — so at 100 TB
    * per-stage driver traffic is proportional to the vocabulary knobs,
    * never the corpus. All scores are integer
    * micro-logs ([[microLog]]), so segmentations are exact-arithmetic
    * reproducible and a statically-unrolled SQL oracle can replay every
    * round bit-for-bit. Preconditions (ENFORCED, one vocab-sized scan
    * each, per the documented-require() contract): tokens must not
    * contain the '<'/'>' delimiters and must be at most `maxWordLen`
    * characters (the oracle's DP unrolls one step per position).
    */
  def unigramTrain(df: DataFrame, text: Column, rounds: Int = 2,
                   maxPieceLen: Int = 4, seedMultis: Int = 24,
                   targetSize: Int = 48,
                   maxWordLen: Int = 10): DataFrame = {
    require(rounds >= 1 && rounds <= 8, "rounds must be in [1, 8]")
    require(maxPieceLen >= 2 && maxPieceLen <= 8 && seedMultis >= 1 &&
      targetSize >= 1 && maxWordLen >= maxPieceLen,
      "unigramTrain: need 2 <= maxPieceLen <= 8 <= sane seed/target sizes")
    val spark = df.sparkSession
    val wordFreq = cacheOnce(
      df.select(explode(TextFns.tokens(text)).as("word"))
        .groupBy(col("word")).agg(count(lit(1)).as("freq")))
    val nBad = wordFreq.filter(col("word").contains("<") ||
      col("word").contains(">") || length(col("word")) > maxWordLen).count()
    require(nBad == 0, s"unigramTrain: $nBad vocabulary tokens contain " +
      "the '<'/'>' delimiters or exceed maxWordLen — symbol tracking " +
      "or the unrolled oracle DP would corrupt; normalize the corpus")
    // seed counts: every substring occurrence of length 1..maxPieceLen,
    // weighted by word frequency (one vocabulary-sized expansion). The
    // substring-count TABLE is O(distinct_words × maxWordLen ×
    // maxPieceLen) — corpus-vocabulary-sized, so it must never reach
    // the driver whole. Both reads are knob-bounded instead: singles
    // are the character alphabet (≤ maxWordLen chars per distinct
    // word, in practice the script's alphabet), and multis go through
    // a cluster-side orderBy+limit (TakeOrderedAndProject — per-
    // partition top-k then a driver merge of seedMultis rows per
    // partition, the q_topk shape) BEFORE the collect. Tie-break
    // (cnt desc, piece asc) matches the prune stage so seeding is
    // deterministic under any partitioning.
    val seedCounts = cacheOnce(wordFreq.select(col("freq"), explode(expr(
        s"""flatten(transform(sequence(1, length(word)), i ->
           |  transform(sequence(i, least(length(word), i + $maxPieceLen - 1)),
           |    j -> substr(word, i, j - i + 1))))""".stripMargin)).as("piece"))
      .groupBy(col("piece")).agg(sum(col("freq")).as("cnt")))
    // ONE driver action for both knob-bounded reads (each was its own
    // collect = its own job round-trip): the alphabet slice unions the
    // cluster-side top-k slice before the single collect
    val seeded = seedCounts.filter(length(col("piece")) === 1)
      .unionAll(seedCounts.filter(length(col("piece")) > 1)
        .orderBy(col("cnt").desc, col("piece").asc).limit(seedMultis))
      .collect().map(r => (r.getString(0), r.getLong(1)))
    val (singles, multis) = seeded.partition(_._1.length == 1)
    // seedCounts stays cached (no unpersist): the two knob-bounded reads
    // above re-run on every invocation of a resident pipeline, and
    // re-deriving the vocabulary-sized expansion was the dominant
    // rebuild cost per invocation (~1 s at sf0.1). The cache is
    // vocabulary-bounded and evicts LRU under pressure like the shingle
    // tables; clearCache() between corpora reclaims it.
    val vocab = (singles ++ multis).map(_._1).sorted
    val seedCnt = (singles ++ multis).toMap
    val seedTotal = seedCnt.values.sum.toDouble
    var weights: Map[String, Long] =
      vocab.map(p => p -> microLog(seedCnt(p) / seedTotal)).toMap
    var counts: Map[String, Long] = Map.empty
    var r = 1
    while (r <= rounds) {
      // cached: the round's segmentation feeds BOTH the coverage guard
      // and the piece-count collect — uncached, the Viterbi expression
      // evaluated twice per round; and the round plans embed the weight
      // literals, so a repeated invocation cache-hits every round
      val seg = cacheOnce(wordFreq.select(col("freq"),
        viterbiSeg(col("word"), weights, maxPieceLen).as("seg")))
      // vocabulary-sized: pieces used ⊆ current vocab. explode_outer
      // keeps an uncoverable word visible as ONE (piece = NULL) group —
      // segPieces(NULL seg) is NULL — so the coverage guard rides the
      // same action instead of a separate count job per round.
      counts = seg.select(col("freq"), explode_outer(segPieces(col("seg")))
          .as("piece"))
        .groupBy(col("piece")).agg(sum(col("freq")).as("c"))
        .collect().map(x => (x.getString(0), x.getLong(1))).toMap
      require(!counts.contains(null),
        "unigramTrain: words not coverable by the piece alphabet " +
          "(single characters must all be in vocab)")
      val used = counts.values.sum.toDouble
      val v = vocab.size.toDouble
      weights = vocab.map(p =>
        p -> microLog((counts.getOrElse(p, 0L) + 1L) / (used + v))).toMap
      r += 1
    }
    // prune: all singles + the top multis by final-use count
    val keepMultis = math.max(0, targetSize - singles.length)
    val prunedMultis = multis.map(_._1)
      .map(p => (p, counts.getOrElse(p, 0L)))
      .sortBy { case (p, c) => (-c, p) }.take(keepMultis)
    val pruned = (singles.map(p => (p._1, counts.getOrElse(p._1, 0L)))
      ++ prunedMultis).sortBy { case (p, c) => (-c, p) }
    val pTotal = pruned.map(_._2).sum.toDouble
    val pV = pruned.size.toDouble
    import spark.implicits._
    pruned.zipWithIndex.map { case ((p, c), i) =>
      (p, c, microLog((c + 1L) / (pTotal + pV)), (i + 1).toLong)
    }.toSeq.toDF("piece", "n_uses", "wt_micro", "rank")
  }

  /** The serve path paired with [[unigramTrain]]: Viterbi-segment every
    * document under the LEARNED piece weights. The DP runs ONCE PER
    * DISTINCT WORD (vocabulary-bounded work at any corpus size), the
    * per-word segmentations equi-join back to token positions, and each
    * document reports its piece count plus an md5 of the full
    * positional segmentation — a gate must agree on every piece
    * boundary of every token, not just totals. Weights arrive as the
    * bounded learned table ([[bpeApply]]'s merge-list discipline).
    */
  def unigramApply(df: DataFrame, key: Column, text: Column,
                   pieces: Map[String, Long],
                   maxPieceLen: Int = 4): DataFrame = {
    require(pieces.nonEmpty, "unigramApply: empty piece table")
    val toks = df.select(key.as("doc_id"),
        posexplode(TextFns.tokens(text))).toDF("doc_id", "pos", "word")
      .persistOnce()
    val segs = cacheOnce(toks.select(col("word")).distinct()
      .withColumn("seg", viterbiSeg(col("word"), pieces, maxPieceLen)))
    // ENFORCED (one vocab-sized scan): a word not coverable by the
    // piece table yields a NULL segmentation, which sum()/array_join()
    // would silently SKIP — the output would pretend the word does not
    // exist. Same loud contract as unigramTrain's nNull guard.
    val nBad = segs.filter(col("seg").isNull).count()
    require(nBad == 0, s"unigramApply: $nBad corpus words not coverable " +
      "by the piece table (train and serve corpora must share the " +
      "single-character alphabet)")
    toks.join(segs, "word")
      .groupBy(col("doc_id"))
      .agg(
        sum((length(col("seg")) -
          length(call_function("replace", col("seg"), lit("<"), lit(""))))
          .cast("long")).as("n_pieces"),
        md5(array_join(transform(
          array_sort(collect_list(struct(col("pos"), col("seg")))),
          x => x.getField("seg")), "")).as("seg_md5"))
  }

  /** Windowed skip-gram co-occurrence counts — the corpus statistic a
    * word2vec/GloVe-style embedding pipeline builds first: every unordered
    * token pair co-occurring within ±`window` positions, counted over all
    * (position, offset) slots, thresholded and top-k ranked on the exact
    * count. The pair expansion is LOCAL (one zip-with-shifted-self per
    * offset, the [[graft.functions.TextFns.gramsN]] discipline), so a
    * 100-TB corpus pays window · tokens map-side rows into ONE partially-
    * aggregated count shuffle — never a positional self-join. Pairs are
    * canonicalized (least, greatest) before counting; a tail slot whose
    * right neighbor falls off the array yields null and is dropped BEFORE
    * canonicalization (least(a, null) = a would fabricate self-pairs).
    */
  def cooccurPairs(df: DataFrame, text: Column, window: Int, k: Int,
                   minCount: Int): DataFrame = {
    require(window >= 1 && k > 0 && minCount >= 1)
    // spreadScan: the window·tokens expansion below is the whole cost of
    // this operator and runs at the scan's split count — ONE ~1.1s task
    // on the single-file local fixture while 31 cores idle (guide §2.5
    // input skew); at scale the scan has enough splits and this no-ops.
    val ws = spreadScan(df.select(TextFns.tokens(text).as("w")))
    val top = ws.select(explode(expr(
        s"flatten(transform(sequence(1, $window), j -> " +
          "zip_with(w, slice(w, j + 1, size(w)), " +
          "(a, b) -> if(b IS NULL, NULL, " +
          "struct(least(a, b) AS x, greatest(a, b) AS y)))))")).as("p"))
      .filter(col("p").isNotNull)
      .groupBy(col("p.x").as("a"), col("p.y").as("b"))
      .agg(count(lit(1)).as("n_cooc"))
      .filter(col("n_cooc") >= minCount)
      .orderBy(col("n_cooc").desc, col("a").asc, col("b").asc)
      .limit(k)
    top.withColumn("rank", row_number().over(
        Window.orderBy(col("n_cooc").desc, col("a").asc, col("b").asc))
      .cast("long"))
  }

  /** Adjacent-pair PMI — the collocation statistic an embedding/phrase
    * pipeline computes before training (word2vec-style "new_york" phrase
    * merging): for the top-k most frequent adjacent token pairs (above a
    * noise floor), pointwise mutual information ln(p(ab) / (p(a)p(b)))
    * with p(ab) over adjacent-pair slots and p(a) over tokens. Counts are
    * exact integers; only the final reported pmi is float, rounded at 6
    * with ranking on the exact pair count — so order never rests on a
    * float. Shapes: one token shuffle (unigrams), one pair shuffle
    * (bigrams), then the bounded top-k list joins the unigram table twice
    * (k-row side broadcasts; the vocab-sized side streams) and the 1-row
    * totals broadcast.
    */
  def pmiPairs(df: DataFrame, text: Column, k: Int,
               minCount: Long = 5): DataFrame = {
    val toks = df.select(TextFns.tokens(text).as("w"))
      .persistOnce()
    val uni = toks.select(explode(col("w")).as("t"))
      .groupBy(col("t")).agg(count(lit(1)).as("uc"))
    val top = toks.select(explode(TextFns.grams2(col("w"))).as("p"))
      .groupBy(col("p")).agg(count(lit(1)).as("pc"))
      .filter(col("pc") >= minCount)
      .orderBy(col("pc").desc, col("p").asc)
      .limit(k)
      .select(col("p"), col("pc"),
        split(col("p"), " ").getItem(0).as("a"),
        split(col("p"), " ").getItem(1).as("b"))
    val totals = toks.agg(
      sum(size(col("w"))).cast("long").as("nt"),
      sum(greatest(size(col("w")) - 1, lit(0))).cast("long").as("np"))
    top
      .join(uni.select(col("t").as("a"), col("uc").as("ua")), "a")
      .join(uni.select(col("t").as("b"), col("uc").as("ub")), "b")
      .crossJoin(broadcast(totals))
      .select(col("p").as("pair"), col("pc").as("n_pair"),
        col("ua").as("n_a"), col("ub").as("n_b"),
        round(log((col("pc").cast("double") / col("np")) /
          ((col("ua").cast("double") / col("nt")) *
            (col("ub").cast("double") / col("nt")))), 6).as("pmi"))
      .withColumn("rank",
        row_number().over(Window.orderBy(col("n_pair").desc, col("pair").asc))
          .cast("long"))
  }

  /** Vocabulary coverage curve — the tokenizer-sizing statistic: the
    * top-k terms by corpus frequency with each prefix's cumulative share
    * of all token occurrences (exact ppm integer). One token shuffle to
    * term counts, TakeOrderedAndProject for the top-k, and the running
    * sum + rank windows operate on the bounded k-row list only.
    */
  def vocabCoverage(df: DataFrame, text: Column, k: Int): DataFrame = {
    val counts = df.select(explode(TextFns.tokens(text)).as("term"))
      .groupBy(col("term")).agg(count(lit(1)).as("cnt"))
    val tot = counts.agg(sum(col("cnt")).as("total"))
    val ord = Window.orderBy(col("cnt").desc, col("term").asc)
    counts.orderBy(col("cnt").desc, col("term").asc).limit(k)
      .crossJoin(broadcast(tot))
      .withColumn("rank", row_number().over(ord).cast("long"))
      .withColumn("cum",
        sum(col("cnt")).over(ord.rowsBetween(Window.unboundedPreceding, 0)))
      .select(col("term"), col("cnt"), col("rank"),
        expr("cum * 1000000 div total").as("coverage_ppm"))
  }

  /** Token-length histogram — the sequence-length distribution a training
    * pipeline reports before choosing context length and packing strategy.
    * Fixed-width buckets in exact integer math, per-bucket doc share in
    * ppm. One scan, one bounded groupBy (bucket count is range/width, not
    * corpus-sized), 1-row total broadcast back.
    */
  def lengthHistogram(df: DataFrame, text: Column, width: Int): DataFrame = {
    require(width > 0)
    val h = df.select(size(TextFns.tokens(text)).cast("long").as("n"))
    val tot = h.agg(count(lit(1)).as("nd"))
    h.groupBy(expr(s"(n div $width) * $width").as("bucket_lo"))
      .agg(count(lit(1)).as("n_docs"),
        min(col("n")).as("min_tokens"), max(col("n")).as("max_tokens"))
      .crossJoin(broadcast(tot))
      .select(col("bucket_lo"), col("n_docs"), col("min_tokens"),
        col("max_tokens"), expr("n_docs * 1000000 div nd").as("frac_ppm"))
  }

  /** Dense retrieval: exact cosine top-k of the corpus against ONE probe
    * vector (given by key). The probe row broadcasts; the corpus streams
    * through one map-side cosine + TakeOrderedAndProject — no shuffle
    * proportional to the corpus. Ranking uses the ROUNDED cosine with the
    * key tiebreak (the x_sim_* discipline), so rank order is replayable
    * wherever the similarity agrees to 6 decimals.
    */
  def denseTopK(emb: DataFrame, key: Column, vec: Column, probeKey: Long,
                k: Int): DataFrame = {
    val e = emb.select(key.as("vec_id"), VectorFns.toDoubles(vec).as("v"))
    val probe = e.filter(col("vec_id") === probeKey).select(col("v").as("pv"))
    val top = e.filter(col("vec_id") =!= probeKey)
      .crossJoin(broadcast(probe))
      .select(col("vec_id"), round(expr("cosine_sim(v, pv)"), 6).as("cos_sim"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
      .limit(k)
    top.withColumn("rank",
      row_number().over(Window.orderBy(col("cos_sim").desc, col("vec_id").asc))
        .cast("long"))
  }

  /** Reciprocal-rank fusion of a lexical and a dense ranking — the hybrid
    * retrieval combiner. Each list contributes floor(10^12 / (kRrf +
    * rank)) points per doc: the standard 1/(k+rank) RRF weight scaled to
    * an exact integer, so scores (and therefore the fused order) are
    * bit-identical across engines — no float reciprocal can diverge in
    * the last ulp and flip a rank. Inputs are top-k lists (bounded), so
    * every stage here is driver-safe at any corpus size; a doc missing
    * from one list simply contributes nothing and reports rank 0.
    */
  def rrfFuse(lex: DataFrame, dense: DataFrame, k: Int,
              kRrf: Int = 60): DataFrame = {
    val contrib = lex.select(col("doc_id"), lit("lex").as("src"), col("rank"))
      .unionByName(
        dense.select(col("doc_id"), lit("dense").as("src"), col("rank")))
      .withColumn("pts", expr(s"1000000000000 div ($kRrf + rank)"))
    val fused = contrib.groupBy(col("doc_id"))
      .agg(sum(col("pts")).as("rrf_score"),
        coalesce(max(when(col("src") === "lex", col("rank"))), lit(0L))
          .as("lex_rank"),
        coalesce(max(when(col("src") === "dense", col("rank"))), lit(0L))
          .as("dense_rank"))
      .orderBy(col("rrf_score").desc, col("doc_id").asc)
      .limit(k)
    fused.withColumn("fused_rank",
      row_number().over(Window.orderBy(col("rrf_score").desc, col("doc_id").asc))
        .cast("long"))
  }

  /** CDC / changelog merge (WALPlayer's batch analog): replay a stream of
    * keyed change records to final state — last write wins by the
    * (version, tiebreak) order, and a key whose LAST record is a delete
    * vanishes from the output. One partial+final aggregate (max_by on a
    * struct ordering key — Spark plans the struct buffer as SortAggregate,
    * i.e. a LOCAL per-partition sort feeding the partial), not a window
    * over the full changelog: the shuffle carries one row per key per
    * partition instead of every change record.
    */
  def cdcMerge(changes: DataFrame, key: Column, version: Column,
               tiebreak: Column, op: Column, value: Column,
               deleteOp: String): DataFrame =
    changes.groupBy(key.as("key"))
      .agg(count(lit(1)).as("n_changes"),
        max_by(struct(version.as("v"), op.as("op"), value.as("value")),
          struct(version, tiebreak)).as("m"))
      .filter(col("m.op") =!= deleteOp)
      .select(col("key"), col("n_changes"), col("m.v").as("last_version"),
        col("m.op").as("last_op"), col("m.value").as("last_value"))

  /** Deterministic frame sampling over a multimodal media table: every
    * `stride`-th frame index up to `maxFrames` samples per document, with
    * the millisecond timestamp at a fixed 25 fps. Pure per-row array math
    * (sequence → posexplode) — zero shuffles, the same shape as
    * [[chunkDocs]] — so it runs at scan speed on any corpus size. The
    * per-frame "decode" is the project's documented deterministic stub
    * (md5 of payload-fingerprint + frame index — this container has no
    * video libs); the Spark-side plumbing (metadata-driven index
    * generation, explode shape, per-frame keying) is the real, tested
    * part, exactly like [[MultimodalDecode]].
    */
  def sampleFrames(df: DataFrame, key: Column, fingerprint: Column,
                   nFrames: Column, stride: Int, maxFrames: Int): DataFrame = {
    require(stride > 0 && maxFrames > 0)
    df.select(key.as("doc_id"), fingerprint.as("fp"),
        nFrames.cast("long").as("nf"))
      .filter(col("nf") > 0)
      .select(col("doc_id"), col("fp"),
        posexplode(sequence(lit(0L),
          least(col("nf") - 1, lit(((maxFrames - 1) * stride).toLong)),
          lit(stride.toLong))))
      .select(col("doc_id"), col("pos").cast("long").as("sample_ord"),
        col("col").as("frame_idx"),
        (col("col") * 40L).as("ts_ms"),
        md5(concat(col("fp"), lit(":"), col("col").cast("string")))
          .as("frame_md5"))
  }

  // ----------------------------------------------------- similarity search

  /** Exact cosine top-k of every probe against the corpus. The probe set
    * is broadcast (caller guarantees it is bounded); per-probe top-k runs
    * as a typed partial+final Aggregator, so only k rows per probe per
    * partition cross the shuffle.
    */
  def similarityTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    val c = corpus.select(col("vec_id"), VectorFns.toDoubles(col("embedding")).as("v"))
    val p = probes.select(col("vec_id").as("probe_id"),
      VectorFns.toDoubles(col("embedding")).as("pv"))
    c.join(broadcast(p), col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("cosine_sim(pv, v)"), 6).as("cos_sim"))
      // a NULL cosine (NULL/corrupt vector on either side) is an
      // unscorable pair — dropped BEFORE the typed boundary, where the
      // primitive-Double encoder would otherwise throw
      .filter(col("cos_sim").isNotNull)
      .as[ScoredVec]
      .groupByKey(_.probe_id)
      .agg(new TopKByScore(k).toColumn.name("top"))
      .flatMap { case (pid, top) =>
        top.zipWithIndex.map { case (t, i) => (pid, t.vec_id, t.cos_sim, i + 1L) }
      }
      .toDF("probe_id", "vec_id", "cos_sim", "rank")
  }

  /** Two-stage truncated-dimension retrieval (the Matryoshka/MRL serving
    * pattern): a cheap coarse pass ranks by cosine over only the FIRST
    * `coarseDims` components, then exact full-dimension cosine re-ranks
    * the per-probe top-`coarseK` survivors. At 100 TB this is the
    * standard accuracy/cost lever when embeddings are trained
    * prefix-truncatable: the corpus-wide scan touches a coarseDims-wide
    * prefix (store it as its own column/file for real I/O savings — an
    * array column cannot prune a prefix at the parquet layer), and only
    * probes×coarseK rows ever load full vectors, via a bounded equi-join
    * back to the corpus. Both stages are deterministic (rank ties break
    * on vec_id), so recall loss from truncation is replayable, not
    * stochastic.
    */
  def truncatedRerank(corpus: DataFrame, probes: DataFrame,
                      coarseDims: Int, coarseK: Int, k: Int): DataFrame = {
    require(coarseDims >= 1 && coarseK >= k && k >= 1)
    val c = corpus.select(col("vec_id"),
      slice(VectorFns.toDoubles(col("embedding")), 1, coarseDims).as("vc"))
    val p = probes.select(col("vec_id").as("probe_id"),
      VectorFns.toDoubles(col("embedding")).as("pv"))
      .withColumn("pvc", slice(col("pv"), 1, coarseDims))
      .persistOnce()
    val wc = Window.partitionBy(col("probe_id"))
      .orderBy(col("coarse_sim").desc, col("vec_id").asc)
    val coarse = c
      .join(broadcast(p.select(col("probe_id"), col("pvc"))),
        col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("cosine_sim(pvc, vc)"), 6).as("coarse_sim"))
      .withColumn("crn", row_number().over(wc))
      .filter(col("crn") <= coarseK)
    // stage 2: bounded survivor set re-fetches full vectors by key
    val full = corpus.select(col("vec_id"),
      VectorFns.toDoubles(col("embedding")).as("v"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    coarse.join(full, "vec_id")
      .join(broadcast(p.select(col("probe_id"), col("pv"))), "probe_id")
      .select(col("probe_id"), col("vec_id"), col("coarse_sim"),
        round(expr("cosine_sim(pv, v)"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w).cast("long"))
      .filter(col("rank") <= k)
  }

  /** Symmetric per-vector int8 quantization — the memory lever that turns
    * a 100-TB float32 embedding store into ~25 TB of codes: scale each
    * vector by its own max |component| so every code lands in [-127, 127],
    * stored as longs for exact integer scoring downstream. Map-side only
    * (the max-abs reduce is per-row over the array, not an aggregation
    * across rows), so quantization adds zero shuffle to any plan it feeds.
    * All math runs in double (`float → double` once at the edge) and the
    * per-component `floor` is order-independent, so a DuckDB oracle
    * replays the codes bit-for-bit. A zero vector quantizes to all-zero
    * codes (scale guard).
    */
  def quantizeInt8(emb: DataFrame, key: Column, vec: Column): DataFrame = {
    val v = VectorFns.toDoubles(vec)
    // NaN/NULL components are stripped BEFORE the max-abs reduce: greatest
    // treats NaN as the largest double, so one NaN component would poison
    // maxabs and every OTHER component would compute floor(NaN) — which
    // Spark's long-typed floor folds to a garbage code while a
    // double-typed oracle keeps NaN (cross-engine divergence). With the
    // strip, maxabs reflects only the valid components and the per-
    // component NULL guard below stays the single NaN/NULL story.
    val maxabs = aggregate(transform(v,
        x => when(x.isNull || isnan(x), lit(0.0)).otherwise(abs(x))),
      lit(0.0), (a, x) => greatest(a, x))
    emb.select(key.as("vec_id"), v.as("v"), maxabs.as("maxabs"))
      .select(col("vec_id"),
        // the all-invalid/zero vector still preserves per-component NULLs
        // so both branches agree on the NULL story
        when(col("maxabs") === 0.0, transform(col("v"),
          x => when(x.isNull || isnan(x), lit(null).cast("long"))
            .otherwise(lit(0L))))
          .otherwise(transform(col("v"),
            // clamp: for float32-widened inputs the quotient is exact and
            // the clamp never fires, but a full-double component whose
            // 127·x/maxabs rounds past ±127 by one ulp would floor to
            // -128/126 without it — the [-127,127] contract is explicit.
            // NULL/NaN components stay NULL: least/greatest SKIP null
            // operands (they would silently clamp a missing value to
            // +127), so the guard must run before the clamp
            x => when(x.isNull || isnan(x), lit(null))
              .otherwise(greatest(least(floor(x * lit(127.0) / col("maxabs")),
                lit(127L)), lit(-127L)))))
          .as("qvec"),
        col("maxabs"))
  }

  /** Top-k retrieval over int8-quantized vectors ([[quantizeInt8]]):
    * score = integer dot product of the code arrays — exact int64 math
    * (|q| <= 127, so a 2^38-dimension vector would be needed to overflow),
    * which makes the ranking deterministic and oracle-replayable where
    * float cosine needs rounding discipline. Same 100-TB shape as
    * [[similarityTopK]]: bounded probe set broadcast, corpus streams
    * map-side, typed partial+final top-k Aggregator keeps the shuffle at
    * k rows per probe per partition.
    */
  def quantizedTopK(corpus: DataFrame, probes: DataFrame, k: Int): DataFrame = {
    val spark = corpus.sparkSession
    import spark.implicits._
    // NULL-code semantics when composed with [[quantizeInt8]]: a NULL
    // component (a NaN in the source vector) contributes 0 to the dot
    // product — "missing dimension scores nothing". Without the coalesce
    // one NULL product nulls the whole aggregate and the .as[ScoredVec]
    // encoder (primitive Double field) throws at runtime.
    val qdot = aggregate(
      zip_with(col("qvec"), col("pq"), (x, y) => coalesce(x * y, lit(0L))),
      lit(0L), (a, x) => a + x)
    corpus.join(
        broadcast(probes.select(col("vec_id").as("probe_id"),
          col("qvec").as("pq"))),
        col("vec_id") =!= col("probe_id"))
      // qdot <= dim * 127^2 (~1e6 at dim 64) — exact as a Double, so the
      // ScoredVec/TopKByScore machinery is reused loss-free.
      .select(col("probe_id"), col("vec_id"), qdot.cast("double").as("cos_sim"))
      // a whole-NULL code vector (corrupt source row) is unscorable —
      // dropped before the typed boundary (same contract as
      // [[similarityTopK]]); per-component NULLs are already coalesced
      .filter(col("cos_sim").isNotNull)
      .as[ScoredVec]
      .groupByKey(_.probe_id)
      .agg(new TopKByScore(k).toColumn.name("top"))
      .flatMap { case (pid, top) =>
        top.zipWithIndex.map { case (t, i) =>
          (pid, t.vec_id, t.cos_sim.toLong, i + 1L)
        }
      }
      .toDF("probe_id", "vec_id", "qdot", "rank")
  }

  /** Coarse-quantizer cell count for an IVF index sized to the corpus:
    * the smallest c with c*c >= n (≈ ceil(sqrt(n)), the standard nlist
    * heuristic), in exact integer math so an oracle replays it.
    */
  def nlistFor(n: Long): Int =
    (1 to 100000).find(c => c.toLong * c >= n).getOrElse(100000)

  /** IVF (inverted-file) approximate nearest neighbors — the second ANN
    * family next to [[annTopK]]'s hyperplane LSH. Coarse quantizer =
    * `nlist` deterministically sampled corpus vectors (the first nlist by
    * key — sampling-based centroid init, no iterative training; a k-means
    * refinement would slot in here unchanged). Every corpus vector joins
    * its nearest centroid's cell; a probe searches only its `nprobe`
    * nearest cells. All distributed shapes: centroids are a bounded
    * broadcast, cell assignment is one map-side broadcast join + a partial
    * max(struct) agg (ties broken by centroid id — deterministic), and the
    * probe→corpus search is an equi-join on cell_id. Shuffle volume is one
    * row per corpus vector, never n×nlist.
    */
  /** Nearest-centroid cell per corpus vector: broadcast centroids, then a
    * map-side cosine argmax — max(struct(cos, cid)) is a partial-aggregable
    * lexicographic argmax (ties to the higher centroid id), so map-side
    * combine leaves one row per vec_id per partition before the single
    * n-row shuffle. Shared by [[ivfTopK]] (index build) and
    * [[kmeansRefine]] (training), so their tie-breaks can never diverge.
    */
  private def assignCells(emb: DataFrame, cent: DataFrame): DataFrame =
    emb.join(broadcast(cent))
      .select(col("vec_id"), col("v"),
        struct(expr("cosine_sim(v, cv)").as("cs"), col("cid")).as("sc"))
      // group by the key ALONE: max(struct) plans as a SortAggregate
      // (struct buffers are not hash-aggregable), and with `v` in the
      // grouping key both the sort and the exchange compared a 64-double
      // array per row — measured as the dominant CPU of every IVF
      // assignment stage at sf0.1. Keyed by vec_id the sort compares
      // longs; `v` rides along via first() (vec_id is unique per the
      // corpus contract, so every group holds exactly one v and first()
      // is deterministic). Same argmax, same output columns.
      .groupBy(col("vec_id"))
      .agg(first(col("v")).as("v"), max(col("sc")).getField("cid").as("cell"))

  def ivfTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              nlist: Int, nprobe: Int): DataFrame = {
    val emb = corpus.select(col("vec_id"), VectorFns.toDoubles(col("embedding")).as("v"))
    // Sampling-based init: the first nlist vectors BY KEY — which requires
    // a dense 0-based vec_id space (true of the fixtures; the oracle
    // replays the same rule). Sparse/hashed/string key spaces need a
    // caller-provided centroid set (see kmeansRefine) — `vec_id < nlist`
    // over such keys would silently under-select or empty the quantizer.
    val cent = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val assigned = assignCells(emb, cent)
    // probes search their nprobe nearest cells (probe set is bounded, so
    // the rank window and the broadcast are driver-safe at any corpus SF).
    val pw = Window.partitionBy(col("probe_id"))
      .orderBy(col("pcs").desc, col("cid").desc)
    val probeCells = probes
      .select(col("vec_id").as("probe_id"), VectorFns.toDoubles(col("embedding")).as("pv"))
      .join(broadcast(cent))
      .select(col("probe_id"), col("pv"), col("cid"),
        expr("cosine_sim(pv, cv)").as("pcs"))
      .withColumn("prnk", row_number().over(pw))
      .filter(col("prnk") <= nprobe)
      .select(col("probe_id"), col("pv"), col("cid").as("cell"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    assigned.join(broadcast(probeCells), "cell")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("cosine_sim(pv, v)"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** One Lloyd refinement round for an IVF coarse quantizer — the
    * training step [[ivfTopK]]'s sampling-based init points at: re-assign
    * every corpus vector to its nearest centroid (cosine), then move each
    * centroid to the mean of its NORMALIZED members. Normalizing first is
    * what makes this the spherical-k-means update: for a fixed assignment
    * the summed cosine is maximized by the direction of sum(v/|v|), so the
    * objective is non-decreasing round over round (pinned in LlmOpsSpec) —
    * a raw mean would let one long vector drag the centroid and can
    * DECREASE it. Shapes: centroids broadcast (bounded ~sqrt n);
    * assignment is [[assignCells]], shared with ivfTopK; the update is
    * posexplode → (cid, pos) partial-agg sums → per-cid array rebuild —
    * shuffle volume O(n·dim) values with map-side combine, never n×nlist.
    * Cells that lose every member keep their previous centroid.
    * Corpus schema: (vec_id, embedding) like ivfTopK; centroid schema
    * in/out: (cid, cv) with cv Array[Double].
    */
  /** Nearest-centroid cluster assignment, public form: one (vec_id,
    * cell) row per corpus vector against a bounded broadcast centroid
    * set — the labeling half of [[kmeansRefine]] (identical tie-break:
    * max cosine, then higher centroid id), exposed so compositions like
    * cluster-topic reports can join cluster labels onto other tables.
    * Corpus schema (vec_id, embedding); centroids (cid, cv).
    */
  def clusterAssign(corpus: DataFrame, centroids: DataFrame): DataFrame =
    assignCells(corpus.select(col("vec_id"),
        VectorFns.toDoubles(col("embedding")).as("v")), centroids)
      .select(col("vec_id"), col("cell"))

  def kmeansRefine(corpus: DataFrame, centroids: DataFrame): DataFrame = {
    val emb = corpus.select(col("vec_id"), VectorFns.toDoubles(col("embedding")).as("v"))
    val refined = assignCells(emb, centroids)
      .select(col("cell").as("cid"),
        posexplode(transform(col("v"),
          x => x / sqrt(expr("dot_product(v, v)")))))
      .groupBy(col("cid"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("cid"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("m")))),
        x => x.getField("m")).as("rv"))
    centroids.join(refined, Seq("cid"), "left")
      .select(col("cid"), coalesce(col("rv"), col("cv")).as("cv"))
  }

  /** Margin-based bitext mining (Artetxe & Schwenk 2019, the RATIO
    * margin): mine translation-pair candidates between two labeled
    * embedding populations — the cross-lingual corpus-construction
    * operator (LASER/CCMatrix-style) that turns two monolingual crawls
    * into parallel training pairs. For each source vector a, the mined
    * target is argmax over candidates b of
    *   margin(a, b) = cos(a, b) / ((meanTopK(a) + meanTopK(b)) / 2)
    * where meanTopK(x) is the mean of x's k best candidate cosines into
    * the OTHER population — the neighborhood normalization that kills
    * the hub vectors a raw-cosine argmax drowns in (a "hubby" target
    * scoring high against EVERYTHING has a high meanTopK and its margin
    * deflates). Candidates are SYMMETRIC-IVF-bounded: each population
    * gets a coarse quantizer (its nlistFor(n) lowest-keyed vectors —
    * the [[ivfTopK]] sampling init), vectors join their own
    * population's cells map-side (broadcast centroids + the
    * [[assignCells]] argmax), and each side probes its `nprobe`
    * nearest foreign cells; the candidate set is the UNION of both
    * directions, so the b-side denominator sees b's own neighborhood,
    * not just the a's that happened to probe into b's cell. All
    * cosines are rounded to 6dp BEFORE ranking and margin arithmetic —
    * the bm25Rank discipline that lets any oracle replay order and
    * values bit-for-bit.
    *
    * `exhaustive = true` is the OFFLINE-EVAL leg ([[annRecall]]'s
    * ground-truth discipline): candidates are the full src × tgt
    * product via a broadcast of the src side, which the caller must
    * keep bounded (a probe sample / deterministic slice) — the
    * production path is the IVF leg, which never builds the product.
    *
    * Scale shape: two bounded-centroid broadcast joins, two cell-key
    * equi-joins (candidate volume ∝ nprobe × cell size, cells sized
    * n/nlist ≈ √n by construction), per-vector windows over candidate
    * lists, one row out per source vector. No all-pairs stage anywhere
    * on the production path. The two population counts are bounded
    * eager actions (they size the quantizers), timed inside Bench's
    * window like mixBudget's guard.
    */
  def mineBitext(src: DataFrame, tgt: DataFrame, k: Int = 4,
                 nprobe: Int = 3, exhaustive: Boolean = false): DataFrame = {
    require(k >= 1 && nprobe >= 1, "mineBitext: k >= 1, nprobe >= 1")
    // persisted: each population is referenced up to five times (the
    // quantizer-sizing count, its own centroid slice, cell assignment,
    // and both directions' probe side) — uncached, every reference
    // re-ran the scan + array-widening projection (r15 warm profile:
    // two extra full passes per leg)
    val a = src.select(col("vec_id").as("aid"),
      VectorFns.toDoubles(col("embedding")).as("av")).persistOnce()
    val b = tgt.select(col("vec_id").as("bid"),
      VectorFns.toDoubles(col("embedding")).as("bv")).persistOnce()
    val cand =
      if (exhaustive)
        b.join(broadcast(a))
          .select(col("aid"), col("bid"),
            round(expr("cosine_sim(av, bv)"), 6).as("cos"))
      else {
        // one direction of the symmetric-IVF candidate generation:
        // pool vectors sit in their own cells; probes rank the pool's
        // bounded centroid table and take their nprobe nearest cells
        def leg(probes: DataFrame, pid: String, pv: String,
                pool: DataFrame, qid: String, qv: String): DataFrame = {
          val nlist = nlistFor(pool.count())
          val cent = broadcast(pool.orderBy(col(qid)).limit(nlist)
            .select(col(qid).as("cid"), col(qv).as("cv")))
          // keyed by the id alone (the assignCells discipline): grouping
          // by the embedding array made the SortAggregate compare 64
          // doubles per row in both sort and exchange
          val assigned = pool.join(cent)
            .select(col(qid), col(qv),
              struct(round(expr(s"cosine_sim($qv, cv)"), 6).as("cs"),
                col("cid")).as("sc"))
            .groupBy(col(qid))
            .agg(first(col(qv)).as(qv),
              max(col("sc")).getField("cid").as("cell"))
          val pw = Window.partitionBy(col(pid))
            .orderBy(col("pcs").desc, col("cid").desc)
          val probeCells = probes.join(cent)
            .select(col(pid), col(pv), col("cid"),
              round(expr(s"cosine_sim($pv, cv)"), 6).as("pcs"))
            .withColumn("prnk", row_number().over(pw))
            .filter(col("prnk") <= nprobe)
            .select(col(pid), col(pv), col("cid").as("cell"))
          probeCells.join(assigned, "cell")
            .select(col("aid"), col("bid"),
              round(expr("cosine_sim(av, bv)"), 6).as("cos"))
        }
        leg(a, "aid", "av", b, "bid", "bv")
          .unionByName(leg(b, "bid", "bv", a, "aid", "av"))
          .distinct()
      }
    val c = cand.persistOnce() // feeds both denominators and the argmax
    val wa = Window.partitionBy(col("aid"))
      .orderBy(col("cos").desc, col("bid").asc)
    val denA = c.withColumn("r", row_number().over(wa))
      .filter(col("r") <= k).groupBy(col("aid"))
      .agg(sum(col("cos")).as("sa"), count(lit(1)).as("na"))
    val wb = Window.partitionBy(col("bid"))
      .orderBy(col("cos").desc, col("aid").asc)
    val denB = c.withColumn("r", row_number().over(wb))
      .filter(col("r") <= k).groupBy(col("bid"))
      .agg(sum(col("cos")).as("sb"), count(lit(1)).as("nb"))
    c.join(denA, "aid").join(denB, "bid")
      .withColumn("den",
        (col("sa") / col("na") + col("sb") / col("nb")) / 2.0)
      // a degenerate all-zero neighborhood cannot be margin-ranked —
      // the candidate is dropped BEFORE the argmax (never a
      // ±Infinity, and never a NULL whose sort position the two
      // engines could disagree on)
      .withColumn("margin",
        when(col("den") =!= 0.0, round(col("cos") / col("den"), 6)))
      .filter(col("margin").isNotNull)
      // per-source argmax as a lexicographic struct max — identical to
      // the old rank-1 window on (margin DESC, bid ASC): max compares
      // margin first, then -bid picks the SMALLEST bid among margin
      // ties ((aid, bid) is unique post-distinct, so the trailing cos
      // rides along uniquely determined). A hash aggregate replaces
      // exchange + two sorts + WindowGroupLimit, and its partial phase
      // reduces each map partition to one row per source BEFORE the
      // shuffle — strictly fewer bytes than the window's per-partition
      // top-1 stream at any scale.
      .groupBy(col("aid"))
      .agg(max(struct(col("margin"), (-col("bid")).as("nbid"),
        col("cos"))).as("top"))
      .select(col("aid").as("src_id"), (-col("top.nbid")).as("tgt_id"),
        col("top.cos").as("cos_sim"), col("top.margin").as("margin"))
  }

  /** Approximate nearest neighbors: md5-seeded random-hyperplane buckets,
    * probe joined to corpus on bucket equality, exact cosine within the
    * bucket only, top-k per probe.
    */
  def annTopK(corpus: DataFrame, probes: DataFrame, k: Int,
              planes: Int, dim: Int): DataFrame = {
    val planeMatrix = VectorFns.planes(planes, dim)
    def withBucket(df: DataFrame) =
      df.select(col("vec_id"), VectorFns.toDoubles(col("embedding")).as("v"))
        .withColumn("bucket", VectorFns.bucket(col("v"), planeMatrix))
    val c = withBucket(corpus)
    val p = withBucket(probes).select(col("vec_id").as("probe_id"),
      col("v").as("pv"), col("bucket"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("cos_sim").desc, col("vec_id").asc)
    c.join(broadcast(p), "bucket")
      .filter(col("vec_id") =!= col("probe_id"))
      .select(col("probe_id"), col("vec_id"),
        round(expr("cosine_sim(pv, v)"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("probe_id"), col("vec_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Product-quantization codebooks + sub-vector codes — the memory side
    * of billion-scale ANN (Jégou et al., "Product Quantization for
    * Nearest Neighbor Search", TPAMI 2011): each vector splits into `m`
    * contiguous sub-vectors of `subDim` dims, each sub-vector snaps to
    * its nearest of `ksub` codewords, and the stored index is m small
    * ints per vector — 64-dim floats (256 B) become 8 byte-codes, a 32×
    * compression that turns a 100-TB vector corpus into a few TB of
    * codes that fit an executor cache tier.
    *
    * Codebook init is sampling-based like [[ivfTopK]]'s coarse
    * quantizer: codeword j of EVERY subspace is vector j's sub-vector
    * (dense 0-based vec_id contract, oracle-replayable; production would
    * slot per-subspace k-means here unchanged). Distances are exact L2
    * written as an explicit left-to-right term sum, so both engines
    * fold identically and the (dist, code) argmin tie-break can never
    * diverge. Shapes: codebook is m·ksub rows (broadcast), assignment is
    * one map-side join + partial-agg argmin — shuffle is m rows of 3
    * ints per vector, never n×ksub.
    */
  def pqEncode(corpus: DataFrame, m: Int, subDim: Int, ksub: Int): DataFrame = {
    require(m > 0 && subDim > 0 && ksub > 0)
    val subs = pqSubs(corpus, m, subDim)
    pqAssign(subs, pqCodebook(subs, subDim, ksub), subDim)
  }

  /** Asymmetric-distance (ADC) top-k over PQ codes: each probe builds a
    * lookup table of exact sub-distances to every codeword (m·ksub
    * entries — broadcast-sized for any probe batch that fits a driver
    * anyway), and a corpus vector's approximate distance is the SUM of
    * its m table entries — the scan never touches a float vector, only
    * byte codes and an integer add. Sub-distances are floored to integer
    * micro-units BEFORE the sum so the aggregation is exact integer math
    * in any order — no float-summation-order divergence between engines
    * (or between two cluster runs) can reorder the ranking.
    */
  def pqSearch(corpus: DataFrame, probes: DataFrame, k: Int,
               m: Int, subDim: Int, ksub: Int): DataFrame = {
    require(k > 0 && m > 0 && subDim > 0 && ksub > 0)
    // ONE corpus sub-vector derivation serves both the code table and
    // the LUT's codebook side; the m·ksub codebook is persisted because
    // it feeds two separate subtrees (assignment + LUT) — without the
    // persist the corpus scan behind it plans twice
    val subs = pqSubs(corpus, m, subDim)
    val cb = pqCodebook(subs, subDim, ksub).persistOnce()
    val codes = pqAssign(subs, cb, subDim)
    val lut = pqSubs(probes, m, subDim)
      .select(col("vec_id").as("probe_id"), col("sub"), col("sv"))
      .join(broadcast(cb), Seq("sub"))
      .select(col("probe_id"), col("sub"), col("code"),
        floor(pqL2(subDim) * lit(1000000.0)).cast("long").as("ld"))
    val w = Window.partitionBy(col("probe_id"))
      .orderBy(col("adist_micro").asc, col("vec_id").asc)
    codes.join(broadcast(lut), Seq("sub", "code"))
      .groupBy(col("probe_id"), col("vec_id"))
      .agg(sum(col("ld")).as("adist_micro"))
      .withColumn("rnk", row_number().over(w))
      .filter(col("rnk") <= k)
      .select(col("probe_id"), col("vec_id"), col("adist_micro"),
        col("rnk").cast("long").as("rnk"))
  }

  /** (vec_id, sub, sv) sub-vector explode — `sv` keeps Doubles so
    * [[pqL2]] folds identically in both engines.
    */
  private def pqSubs(df: DataFrame, m: Int, subDim: Int): DataFrame =
    df.select(col("vec_id"), VectorFns.toDoubles(col("embedding")).as("v"))
      .select(col("vec_id"), posexplode(expr(
        s"transform(sequence(0, ${m - 1}), i -> slice(v, i*$subDim+1, $subDim))"))
        .as(Seq("sub", "sv")))

  /** Sampling-init codebook (sub, code, cv) from an exploded sub-vector
    * table. The size guard rides the m·ksub codebook rows, NOT the
    * corpus-sized hot path (the hits raise_error lesson): a vector
    * shorter than m·subDim slices short here and would otherwise
    * propagate NULL distances that min(struct) silently resolves.
    */
  private def pqCodebook(subs: DataFrame, subDim: Int, ksub: Int): DataFrame =
    subs.filter(col("vec_id") < ksub)
      .select(col("sub"), col("vec_id").as("code"),
        when(size(col("sv")) =!= subDim, raise_error(lit(
          s"pq: codeword sub-vector shorter than subDim=$subDim — " +
            "embedding dim must equal m*subDim")))
          .otherwise(col("sv")).as("cv"))

  /** Nearest-codeword assignment: broadcast codebook, partial-agg
    * (dist, code) argmin, id-typed (vec_id, sub, code) output.
    */
  private def pqAssign(subs: DataFrame, cb: DataFrame,
                       subDim: Int): DataFrame =
    subs.join(broadcast(cb), Seq("sub"))
      .select(col("vec_id"), col("sub"),
        struct(pqL2(subDim).as("d"), col("code")).as("dc"))
      .groupBy(col("vec_id"), col("sub"))
      .agg(min(col("dc")).getField("code").as("code"))
      .select(col("vec_id"), col("sub").cast("long").as("sub"), col("code"))

  /** Exact squared-L2 between `sv` and `cv` as an explicit left-to-right
    * term sum — ((t₀+t₁)+t₂)+… exactly, the same fold an unrolled SQL
    * `t1 + t2 + …` performs, so cross-engine double parity is by
    * construction, not by hoping two list-sum builtins share an order.
    */
  private def pqL2(subDim: Int): Column =
    expr((0 until subDim)
      .map(i => s"(sv[$i]-cv[$i])*(sv[$i]-cv[$i])").mkString(" + "))

  /** Semantic outlier detection — flag vectors pointing away from their
    * group's mean direction (a curation pass that catches mislabeled or
    * off-topic documents before training): per group, the spherical
    * centroid (mean of normalized members — the [[kmeansRefine]] update,
    * whose engine parity the x_kmeans gate already proves), then each
    * member's cosine to its own centroid, flagged below `threshold` on
    * the ROUNDED value so both engines flag identically. Shapes: one
    * posexplode → (group, dim) partial-agg sums → per-group array rebuild
    * (bounded by group count x dim), centroids equi-joined back on the
    * group key — O(n·dim) total, no pairwise stage at all.
    */
  def embedOutliers(emb: DataFrame, key: Column, vec: Column, group: Column,
                    threshold: Double): DataFrame = {
    val e = emb.select(key.as("vec_id"), group.as("grp"),
        VectorFns.toDoubles(vec).as("v"))
      .persistOnce()
    val cent = e.select(col("grp"),
        posexplode(transform(col("v"),
          x => x / sqrt(expr("dot_product(v, v)")))))
      .groupBy(col("grp"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("grp"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("m")))),
        x => x.getField("m")).as("cv"))
    e.join(cent, "grp")
      .select(col("vec_id"), col("grp"),
        round(expr("cosine_sim(v, cv)"), 6).as("cos_centroid"))
      .withColumn("outlier",
        (col("cos_centroid") < threshold).cast("int"))
  }

  /** k-NN GRAPH over the whole corpus — each vector's k nearest neighbors
    * by exact cosine, candidates restricted to the vector's own IVF cell
    * (the [[ivfTopK]] coarse quantizer, shared [[assignCells]] tie-break).
    * The graph every embedding-space pipeline builds before clustering /
    * graph-based dedup / diversity sampling. A brute-force k-NN graph is
    * an n x n self-join — the canonical embedding-scale killer; cell
    * restriction bounds the per-cell join at ~sqrt(n) rows (nlist ~
    * sqrt(n)), so total candidate work is O(n^1.5), shuffled once on the
    * cell id. Recall beyond the cell boundary is the standard IVF trade —
    * raise nlist-vs-nprobe or re-rank across neighboring cells when the
    * application needs it; the operator's contract (replayed exactly by
    * the oracle) is "exact top-k WITHIN the probed cells".
    *
    * `nprobe` is the recall lever: each vector searches its `nprobe`
    * nearest cells (the [[ivfTopK]] probe move, here applied to every
    * corpus vector) while neighbors are still found in their OWNER cell —
    * so candidates grow linearly in nprobe (O(nprobe·n^1.5) total, never
    * quadratic) and the pair set at nprobe+1 is a superset of the set at
    * nprobe (recall is monotone; pinned in LlmOpsSpec). nprobe=1
    * degenerates to exactly the owner-cell graph and keeps sharing the
    * persisted assignment on both join legs.
    *
    * Skew note: cell sizes are data-dependent. A corpus of near-PARALLEL
    * vectors argmaxes into few cells and the hot cell's self-join goes
    * quadratic — the sort-merge cell join lands on AQE's skew-join
    * splitting for the shuffle, but the pair count itself is the honest
    * cost (one giant neighborhood). k-means refinement ([[kmeansRefine]])
    * re-spreads the centroids into the occupied directions and is the
    * structural fix for such corpora.
    */
  def knnGraph(corpus: DataFrame, k: Int, nlist: Int,
               nprobe: Int = 1): DataFrame = {
    val emb = corpus.select(col("vec_id"),
      VectorFns.toDoubles(col("embedding")).as("v"))
    val cent = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    // Both the neighbor side (owner cell = rank 1) and the search side
    // (rank <= nprobe) come from ONE persisted subtree, so the dominant
    // O(n·nlist) cosine scan against the centroid set runs exactly once
    // regardless of nprobe. At nprobe=1 that subtree is the shared
    // assignCells argmax; above it, a rank window with the SAME
    // (cosine desc, cid desc) tiebreak assignCells uses — rank 1 IS the
    // owner cell, so the pair set only ever grows with nprobe.
    val (a, xs) =
      if (nprobe <= 1) {
        val owner = assignCells(emb, cent).persistOnce()
        (owner, owner)
      } else {
        val pw = Window.partitionBy(col("vec_id"))
          .orderBy(col("pcs").desc, col("cid").desc)
        val ranked = emb.join(broadcast(cent))
          .select(col("vec_id"), col("v"), col("cid"),
            expr("cosine_sim(v, cv)").as("pcs"))
          .withColumn("prnk", row_number().over(pw))
          .filter(col("prnk") <= nprobe)
          .select(col("vec_id"), col("v"), col("cid").as("cell"),
            col("prnk"))
          .persistOnce()
        (ranked.filter(col("prnk") === 1).drop("prnk"),
          ranked.drop("prnk"))
      }
    val w = Window.partitionBy(col("src_id"))
      .orderBy(col("cos_sim").desc, col("nbr_id").asc)
    xs.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") && col("x.vec_id") =!= col("y.vec_id"))
      .select(col("x.vec_id").as("src_id"), col("y.vec_id").as("nbr_id"),
        round(expr("cosine_sim(x.v, y.v)"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("src_id"), col("nbr_id"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  /** Diversity sampling (coreset selection): keep the `perCell` most
    * central vectors of every IVF cell — one representative per occupied
    * direction of embedding space instead of a uniform draw that
    * oversamples dense regions. The downsampling move a training-data
    * pipeline runs after dedup: coverage of the space at a fraction of
    * the tokens. Shapes: centroids broadcast (bounded), cell assignment
    * is the shared [[assignCells]] argmax, centrality is each member's
    * cosine to its OWN centroid (broadcast equi-join on the cell id), and
    * the per-cell rank window is partitioned by cell — O(n·dim) work, one
    * shuffle on the cell id, no pairwise stage.
    */
  def diverseSample(corpus: DataFrame, nlist: Int,
                    perCell: Int): DataFrame = {
    val emb = corpus.select(col("vec_id"),
      VectorFns.toDoubles(col("embedding")).as("v"))
    val cent = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val w = Window.partitionBy(col("cell"))
      .orderBy(col("cos_centroid").desc, col("vec_id").asc)
    assignCells(emb, cent)
      .join(broadcast(cent), col("cell") === col("cid"))
      .select(col("cell"), col("vec_id"),
        round(expr("cosine_sim(v, cv)"), 6).as("cos_centroid"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= perCell)
      .select(col("cell"), col("vec_id"), col("cos_centroid"),
        col("rank").cast("long").as("rank"))
  }

  /** Per-node top-k truncation of a canonical (sa < sb) scored pair
    * table — the bounded-output form of a similarity projection. A full
    * pair table is inherently Θ(pairs) OUTPUT (~n²/2 on a dense
    * projection) regardless of plan shape; real link-prediction serving
    * needs each node's k best neighbors, an n·k table. Symmetrize, then
    * rank per node by score descending with the neighbor id as the
    * deterministic tie-break. The rank-filter idiom compiles to
    * WindowGroupLimit (partial mode before the exchange), so each map
    * task forwards at most k rows per node and the truncation rides the
    * node shuffle instead of adding a stage.
    */
  def topKNeighbors(pairs: DataFrame, k: Int): DataFrame = {
    require(k >= 1, s"topKNeighbors k must be >= 1, got $k")
    // cache before the symmetrizing union: it references the scored-pair
    // subtree twice, and uncached that recomputes the whole upstream
    // expansion per branch (the uncached-self-reference trap basketPairs
    // documents; measured 4.3s -> 1.2s warm at sf0.1). Tracked, so a
    // resident driver serving changing inputs stays bounded.
    val p = trackedCache(pairs)
    val sym = p.select(col("sa").as("node"), col("sb").as("nbr"),
        col("common"), col("jac_ppm"))
      .unionByName(p.select(col("sb").as("node"), col("sa").as("nbr"),
        col("common"), col("jac_ppm")))
    val w = Window.partitionBy(col("node"))
      .orderBy(col("jac_ppm").desc, col("nbr").asc)
    sym.withColumn("rk", row_number().over(w))
      .filter(col("rk") <= k)
      .select(col("node"), col("nbr"), col("common"), col("jac_ppm"),
        col("rk").cast("long").as("rk"))
  }

  /** The classic one-shuffle cumulative walk: exact, partial-agg
    * friendly, and perfectly parallel when the distribution has MANY
    * groups (each group is one window partition). Its one flaw is the
    * few-huge-groups corner [[crossingRows]] exists for; measured at
    * fixture scale the windowed form wins by ~0.5-1s of fixed overhead
    * per call whenever the distribution is small (x_outlier_mad's
    * back-to-back medians regressed 5x on the ranged path), so callers
    * choose per shape via `parallelWalk`.
    */
  private def windowedCum(dist: DataFrame): DataFrame =
    dist
      .withColumn("cum", sum(col("c")).over(
        Window.partitionBy(col("grp")).orderBy(col("x"))
          .rowsBetween(Window.unboundedPreceding, 0)))
      .withColumn("n", sum(col("c")).over(Window.partitionBy(col("grp"))))

  /** The shared second phase of every exact per-group quantile walk:
    * given a (grp, x, c) distribution table and the 0-based POSITIONS
    * each caller needs (SQL exprs over the per-group total `n`), return
    * the distribution rows that can carry a position crossing, annotated
    * with their exact global-within-group cumulative count `cum` and
    * total `n` — WITHOUT ever pulling a whole group through one task.
    *
    * A cumulative window keyed on the group alone serializes each group
    * into a single partition: with a handful of groups over a billion-row
    * distribution that is a single-threaded sort of everything — the one
    * scale flaw of the classic distribution-walk shape. Here the
    * distribution is range-partitioned on (grp, x) so partition
    * boundaries respect per-group value order; per-slice subtotals (a
    * bounded partitions×groups table) yield each slice's exclusive
    * prefix `off` and the group total, tiny windows over THAT table
    * locate, per wanted position, the one slice whose cumulative end
    * first passes it, and only those slices' rows — broadcast-semi-joined
    * so the big table never reshuffles — pay the ordered walk. A row in
    * a later slice can also satisfy `cum > pos`, but it carries a larger
    * x, so the callers' min(when(cum > pos, x)) aggregates are unchanged
    * by the reduction; rows in earlier slices can never satisfy it.
    * Positions ≥ n select no slice and fall out as the same NULL the
    * full walk produced.
    */
  private def crossingRows(dist: DataFrame,
                           posExprs: Seq[String]): DataFrame = {
    val p = dist.sparkSession.sessionState.conf.numShufflePartitions
    val ranged = trackedCache(dist
      .repartitionByRange(p, col("grp"), col("x"))
      .sortWithinPartitions(col("grp"), col("x"))
      .withColumn("pid", spark_partition_id()))
    val slices = ranged.groupBy(col("pid"), col("grp"))
      .agg(sum(col("c")).as("pw"))
      .withColumn("cend", sum(col("pw")).over(
        Window.partitionBy(col("grp")).orderBy(col("pid"))))
      .withColumn("off", col("cend") - col("pw"))
      .withColumn("n", sum(col("pw")).over(Window.partitionBy(col("grp"))))
    // n is constant within a group, so exploding straight off `slices`
    // (p×groups rows) and deduping yields the same (grp, pos) set as the
    // old select-distinct-then-explode — one exchange fewer
    val positions = slices
      .select(col("grp").as("_pgrp"),
        explode(array(posExprs.map(e => expr(e).cast("long")): _*)).as("pos"))
      .distinct()
    // the slice whose [off, cend) interval CONTAINS the position holds
    // its crossing directly — cend is monotone in pid within a group and
    // pw=0 slices have empty intervals, so the containment join replaces
    // the old min-pid reduction (join → groupBy → join back), two
    // exchanges fewer per walk. A negative position (the all-zero-weight
    // wmedian sentinel, doc'd at [[weightedMedian]]) sits in no interval;
    // it matches every slice of its group instead, and the callers'
    // min(when(cum > pos, x)) then reads the group's true minimum — the
    // value the old form surfaced from the first slice alone.
    // positions derives from slices, so alias the join side to keep the
    // self-join unambiguous
    val sl = slices.select(col("pid").as("_spid"), col("grp").as("_sgrp"),
      col("cend"), col("off"), col("n"))
    val needed = positions.join(sl,
        col("_pgrp") <=> col("_sgrp") && col("cend") > col("pos") &&
          (col("off") <= col("pos") || col("pos") < 0))
      .select(col("_spid").as("_npid"), col("_pgrp"), col("off"), col("n"))
      .distinct()
    val localW = Window.partitionBy(col("pid"), col("grp"))
      .orderBy(col("x")).rowsBetween(Window.unboundedPreceding, 0)
    ranged.join(broadcast(needed),
        ranged("pid") === col("_npid") && ranged("grp") <=> col("_pgrp"))
      .withColumn("cum", sum(col("c")).over(localW) + col("off"))
      .select(col("grp"), col("x"), col("c"), col("cum"), col("n"))
  }

  /** Exact interpolated per-group median (percentile_cont(0.5) semantics)
    * computed from the (group, value) distribution table — the 100-TB
    * exact-median shape. Spark's `percentile` aggregate buffers every
    * distinct value per group inside ONE aggregation buffer; fine at
    * fixture scale, an OOM risk for a billion-row group. Here the buffer
    * never exists: groupBy (grp, x) counts (partial-agg friendly,
    * distribution-sized output), a cumulative-count walk locates the
    * two 0-based positions (n-1) div 2 and n div 2, and their values
    * average. Exact-integer positions; the value midpoint is the only
    * float op, so a quantile_cont oracle replays it bit-for-bit.
    * `parallelWalk` picks the few-huge-groups [[crossingRows]] phase
    * over the default [[windowedCum]] (see their docs for the trade).
    */
  def groupMedian(df: DataFrame, group: Column, value: Column,
                  parallelWalk: Boolean = false): DataFrame = {
    // NULLs are excluded like percentile_cont/quantile_cont exclude them —
    // an unfiltered NULL would sort first and shift every position. A
    // group with ONLY nulls must still emit its (grp, NULL) row (that is
    // percentile_cont's shape too), so the walk's output left-joins onto
    // the distinct group set rather than silently dropping such groups.
    val src = df.select(group.as("grp"), value.cast("double").as("x"))
    val dist = src.filter(col("x").isNotNull)
      .groupBy(col("grp"), col("x")).agg(count(lit(1)).as("c"))
    val withCum =
      if (parallelWalk) crossingRows(dist, Seq("(n - 1) div 2", "n div 2"))
      else windowedCum(dist)
    val walked = withCum
      // first row whose cumulative count exceeds position p covers p
      .groupBy(col("grp"))
      .agg(((min(when(col("cum") > expr("(n - 1) div 2"), col("x")))
        + min(when(col("cum") > expr("n div 2"), col("x")))) / 2.0).as("med"))
    joinOnGroupKey(src, walked)
  }

  /** Exact per-group WEIGHTED median (lower-median convention): the
    * smallest value v whose cumulative weight reaches half the group's
    * total — 2·cumw(v) ≥ totw, all in exact integer weight units, so
    * both engines locate the identical row with no interpolation float
    * to diverge on. The "median doc length weighted by tokens" /
    * "median price weighted by quantity" shape.
    *
    * Same 100-TB discipline as [[groupMedian]]: no per-group value
    * buffer — one (grp, value) partial-agg weight rollup
    * (distribution-sized), one cumulative window over it, one final min.
    * Weights must be non-negative; zero-weight rows cannot carry the
    * median (their cumw equals the previous row's, and the NEXT row
    * also satisfies the threshold with a larger cumw — min picks the
    * first positive-weight crossing only when a zero-weight value is
    * not tied at the crossing, so filter zero weights upstream when
    * that distinction matters).
    */
  def weightedMedian(df: DataFrame, group: Column, value: Column,
                     weight: Column,
                     parallelWalk: Boolean = false): DataFrame = {
    // floor() before the long conversion: a bare cast truncates in Spark
    // but ROUNDS in DuckDB's CAST — floor is the one conversion both
    // engines (and any SQL oracle) agree on for fractional weights
    val src = df.select(group.as("grp"), value.as("v"),
      floor(weight.cast("double")).cast("long").as("w"))
    // the weighted distribution IS a (grp, x, c) distribution with the
    // summed weight as the count, so both walk phases are shared with
    // the unweighted quantile family: the classic windowed walk by
    // default (many-groups shape, no fixed ranged-walk overhead), the
    // two-phase ranged [[crossingRows]] when one group's distribution
    // could swamp a single task. All threshold math stays in integer
    // weight units.
    val dist = src.filter(col("v").isNotNull)
      .groupBy(col("grp"), col("v").as("x")).agg(sum(col("w")).as("c"))
    // lower weighted median = first x with 2·cum ≥ n, i.e. the 0-based
    // weight position (n+1) div 2 - 1 crossed. Integer-only so the
    // expression replays identically in Spark and DuckDB; for an
    // all-zero-weight group the position is -1, every row satisfies
    // cum > -1, and min(x) keeps the previous smallest-value behavior.
    val pos = "(n + 1) div 2 - 1"
    val withCum =
      if (parallelWalk) crossingRows(dist, Seq(pos)) else windowedCum(dist)
    val walked = withCum.groupBy(col("grp"))
      .agg(min(when(col("cum") > expr(pos), col("x"))).as("wmedian"))
    // all-NULL groups keep their (grp, NULL) row — the groupMedian
    // contract, NULL-safe on the group key
    joinOnGroupKey(src, walked)
  }

  /** Re-attach a per-group computed table to the full distinct group set,
    * NULL-SAFELY: `Seq("grp")` equi-join semantics would drop the NULL
    * group's computed row (NULL never equals NULL), silently replacing a
    * NULL-keyed group's true median/quantiles with NULL — percentile_cont
    * (and the DuckDB oracle) keep the NULL group with its real values.
    * `<=>` matches NULL keys, preserving them.
    */
  private def joinOnGroupKey(src: DataFrame, walked: DataFrame): DataFrame = {
    val grps = src.select(col("grp")).distinct()
    grps.join(walked.withColumnRenamed("grp", "_wgrp"),
        grps("grp") <=> col("_wgrp"), "left")
      .drop("_wgrp")
  }

  /** Exact interpolated per-group quantiles (percentile_cont semantics)
    * from the (group, value) distribution table — [[groupMedian]]
    * generalized to any rational quantile num/den. Same 100-TB shape: no
    * per-group value buffer ever exists; the distribution table is
    * (group, distinct-value)-sized, the cum-count window locates each
    * quantile's bracketing positions, and one final agg emits a single
    * row per group. For quantile q = num/den the 0-based position is
    * p = (n-1)·num/den: lo = floor(p) and the fractional part rem/den
    * interpolate value[lo] + (value[lo+1] - value[lo])·rem/den — with
    * quarters/halves the fraction is binary-exact, so a quantile_cont
    * oracle replays bit-for-bit on integer-valued columns. Output: one
    * row per group with a column per requested (name, num, den) —
    * exposed so operators can join boundaries back on their own keys
    * (e.g. [[ccnetBuckets]]); [[groupQuantiles]] re-attaches them to the
    * DISTINCT group keys NULL-safely (still one row per group — the
    * left join exists to re-emit all-NULL groups, not to fan out).
    */
  def groupQuantileTable(df: DataFrame, group: Column, value: Column,
                         quantiles: Seq[(String, Int, Int)],
                         parallelWalk: Boolean = false): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall { case (_, num, den) => num >= 0 && num <= den && den > 0 })
    // NULL values are excluded, matching percentile_cont semantics (a
    // NULL would otherwise sort first and shift every located position);
    // all-NULL groups drop from THIS table but groupQuantiles' NULL-safe
    // left join re-emits their (grp, NULL...) row, as percentile_cont would
    val src = df.select(group.as("grp"), value.cast("double").as("x"))
    val dist = src.filter(col("x").isNotNull)
      .groupBy(col("grp"), col("x")).agg(count(lit(1)).as("c"))
    // each quantile needs its two bracketing positions lo and lo+1 —
    // with parallelWalk, crossingRows reduces the walk to the slices
    // that can carry them (see its doc for the few-huge-groups shape
    // it exists for; windowedCum for why it is not the default)
    val withCum =
      if (parallelWalk)
        crossingRows(dist, quantiles.flatMap { case ((_, num, den)) =>
          Seq(s"CAST(((n - 1) * $num) div $den AS BIGINT)",
            s"CAST(((n - 1) * $num) div $den + 1 AS BIGINT)")
        })
      else windowedCum(dist)
    // value[i] = min x whose cumulative count exceeds 0-based position i
    // CAST wrapper: a bare trailing `... div 4` inside expr() parses `div`
    // as a column ALIAS (singleExpression permits one) and errors on the
    // divisor; inside CAST the operator reading is the only valid one.
    val aggCols = quantiles.zipWithIndex.flatMap { case ((_, num, den), i) =>
      val lo = expr(s"CAST(((n - 1) * $num) div $den AS BIGINT)")
      Seq(min(when(col("cum") > lo, col("x"))).as(s"_vlo_$i"),
        min(when(col("cum") > lo + 1, col("x"))).as(s"_vhi_$i"))
    } :+ max(col("n")).as("_n")
    val outCols = quantiles.zipWithIndex.map { case ((name, num, den), i) =>
      val rem = expr(s"pmod((_n - 1) * $num, $den)")
      when(rem === 0, col(s"_vlo_$i"))
        .otherwise(col(s"_vlo_$i") +
          (col(s"_vhi_$i") - col(s"_vlo_$i")) * rem.cast("double") / lit(den))
        .as(name)
    }
    withCum.groupBy(col("grp")).agg(aggCols.head, aggCols.tail: _*)
      .select(col("grp") +: outCols: _*)
  }

  def groupQuantiles(df: DataFrame, group: Column, value: Column,
                     quantiles: Seq[(String, Int, Int)],
                     parallelWalk: Boolean = false): DataFrame = {
    val src = df.select(group.as("grp"), value.cast("double").as("x"))
    joinOnGroupKey(src,
      groupQuantileTable(df, group, value, quantiles, parallelWalk))
  }

  /** Exact GLOBAL quantiles for an unbounded value domain — the
    * driver-offset variant of the two-phase distributed prefix sum
    * ([[groupQuantileTable]]'s windowed walk would pull the whole
    * distribution through one partition here; its `parallelWalk` path
    * is the fully-distributed grouped generalization of this same
    * idea via [[crossingRows]]). Phase 1:
    * the (distinct value, weight) table is range-partitioned and sorted
    * on the value, so partition boundaries respect global order; the
    * per-partition weight totals (one bounded row per partition) come
    * to the driver and their exclusive prefix sums broadcast back as
    * offsets. Phase 2: a per-partition cumulative window plus the
    * offset yields every value's exact global rank, and each quantile's
    * bracketing values fall out of one conditional aggregate. The
    * interpolation expression is written IDENTICALLY to the walk's, so
    * both implementations (and the quantile_cont oracle) agree
    * bit-for-bit on integer-valued columns at dyadic fractions.
    * Determinism: values are distinct after the rollup, so global ranks
    * are partitioning-independent even though partition boundaries come
    * from range sampling.
    */
  def rangedQuantileTable(df: DataFrame, value: Column,
                          quantiles: Seq[(String, Int, Int)],
                          partitions: Int = 32): DataFrame = {
    require(quantiles.nonEmpty &&
      quantiles.forall { case (_, num, den) => num >= 0 && num <= den && den > 0 })
    val spark = df.sparkSession
    val dist = df.select(value.cast("double").as("x"))
      .filter(col("x").isNotNull)
      .groupBy(col("x")).agg(count(lit(1)).as("w"))
    val ranged = trackedCache(dist.repartitionByRange(partitions, col("x"))
      .sortWithinPartitions(col("x"))
      .withColumn("pid", spark_partition_id()))
    // bounded: one row per partition
    val totals = ranged.groupBy(col("pid")).agg(sum(col("w")).as("pw"))
      .collect().map(r => (r.getInt(0), r.getLong(1))).sortBy(_._1)
    val n = totals.map(_._2).sum
    require(n > 0, "rangedQuantileTable: no non-null values")
    val offsets = totals.map(_._1)
      .zip(totals.map(_._2).scanLeft(0L)(_ + _).init)
    import spark.implicits._
    val offDf = broadcast(offsets.toSeq.toDF("pid", "off"))
    val wcum = Window.partitionBy(col("pid")).orderBy(col("x"))
      .rowsBetween(Window.unboundedPreceding, 0)
    val cum = ranged
      .withColumn("cw", sum(col("w")).over(wcum))
      .join(offDf, "pid")
      .withColumn("cum", col("cw") + col("off"))
    val aggCols = quantiles.zipWithIndex.flatMap { case ((_, num, den), i) =>
      val lo = (n - 1) * num / den
      Seq(min(when(col("cum") > lo, col("x"))).as(s"_vlo_$i"),
        min(when(col("cum") > lo + 1, col("x"))).as(s"_vhi_$i"))
    }
    val outCols = quantiles.zipWithIndex.map { case ((name, num, den), i) =>
      val rem = ((n - 1) * num) % den
      if (rem == 0) col(s"_vlo_$i").as(name)
      else (col(s"_vlo_$i") +
        (col(s"_vhi_$i") - col(s"_vlo_$i")) * lit(rem).cast("double") / lit(den))
        .as(name)
    }
    cum.agg(aggCols.head, aggCols.tail: _*).select(outCols: _*)
  }

  /** Hub cap for the basket expansions ([[basketPairs]] and the
    * common-neighbors projection): baskets/anchors with more than this
    * many DISTINCT items are excluded before any per-key array is built.
    * A whale key is pathological for the projection twice over — its
    * collect_set aggregation buffer is a single unbounded multi-MB row,
    * and its Σsize² pair fan-out is pure projection artifact, not signal
    * (a customer touching 10⁶ items co-"occurs" with everything). The
    * pre-filter bounds per-key aggregation state by construction; the
    * exclusion is part of the operator's declared semantics and the
    * DuckDB oracles replay the identical HAVING filter, so engine and
    * oracle agree at ANY scale factor, not just the tested ones.
    */
  val MaxBasketSize = 4096

  /** Drop whale anchors (> maxAnchorSize distinct items) from an edge
    * table BEFORE any per-anchor array is built, and make the exclusion
    * observable: the returned plan carries an `observe()` node named
    * `graft_cap:<anchor>:<item>:<cap>` with `total_keys` / `capped_keys`
    * / `max_key_size`, so a production run records HOW MANY keys the cap
    * excluded (a QueryExecutionListener reads it from observedMetrics —
    * see CapMetricsSpec) instead of silently reshaping the output. The
    * metric name is DERIVED, not a fresh counter, so rebuilding the same
    * query yields plan-identical trees — Spark's CacheManager matches
    * persisted subtrees by analyzed-plan equality, and a per-invocation
    * unique name would silently turn every downstream persistOnce into a
    * cache miss (measured 3.5x on q_basket's warm path). Pass
    * `metricName` when one query composes the SAME capped expansion
    * twice (observe names must be unique within a plan). The
    * count_distinct degree pre-aggregate plans as a bounded-buffer
    * two-phase aggregate, so the whale dies in a counter, never in a
    * collect_set buffer; the semi-join back lands on the same hash
    * partitioning the downstream array groupBy needs. Shared by
    * [[basketPairs]] and the common-neighbors projection — one cap
    * implementation, one metric shape, per-call size.
    */
  def capAnchors(edges: DataFrame, anchor: String, item: String,
                 maxAnchorSize: Int = MaxBasketSize,
                 metricName: Option[String] = None): DataFrame = {
    val deg = edges.groupBy(col(anchor))
      .agg(count_distinct(col(item)).as("_asize"))
      .observe(
        metricName.getOrElse(s"graft_cap:$anchor:$item:$maxAnchorSize"),
        count(lit(1)).as("total_keys"),
        count(when(col("_asize") > maxAnchorSize, lit(1)))
          .as("capped_keys"),
        max(col("_asize")).as("max_key_size"))
    val kept = deg.filter(col("_asize") <= maxAnchorSize).select(col(anchor))
    edges.join(kept, anchor)
  }

  /** Market-basket co-occurrence with lift — which items sell together
    * (cols `basket`, `item`; the fixture binds order → part brand). The
    * classic association-rule support/lift statistic, shaped for scale:
    * a key-sized degree aggregate drops whale baskets (> maxBasketSize
    * distinct items — see [[MaxBasketSize]]) BEFORE the array build, so
    * the collect_set aggregation buffer is ≤ maxBasketSize per key by
    * construction; the semi-join back lands on the same hash
    * partitioning the array groupBy needs, so the bound costs one extra
    * key-sized exchange, not a second data-sized shuffle. Pairs expand
    * MAP-SIDE from each array (Σ basket_size² work per row, never a
    * corpus self-join — an earlier self-equi-join formulation recomputed
    * the expensive input subtree once per plan reference on the cold
    * path, measured 9.0s vs 1.5s warm). Per-item basket counts and the
    * 1-row total derive from the same persisted basket-array table
    * (post-filter, so support/lift statistics are coherent over exactly
    * the included baskets). Counts are exact integers; lift =
    * support·n_baskets / (n_a·n_b) is the only float, rounded at 6.
    */
  def basketPairs(baskets: DataFrame,
                  maxBasketSize: Int = MaxBasketSize): DataFrame = {
    // NULL basket keys are unknown baskets, not one shared basket —
    // excluded (the semantics an equi-join on the key would give)
    val pairs = baskets.select(col("basket"), col("item"))
      .filter(col("basket").isNotNull)
      .persistOnce()
    // capAnchors: whale keys die in a bounded count_distinct counter,
    // never reaching an array buffer; the cap count is observe()-metered
    val items = capAnchors(pairs, "basket", "item", maxBasketSize)
      .groupBy(col("basket"))
      .agg(sort_array(collect_set(col("item"))).as("items"))
      .persistOnce()
    val itemN = items.select(explode(col("items")).as("item"))
      .groupBy(col("item")).agg(count(lit(1)).as("n_item"))
    val tot = items.agg(count(lit(1)).as("n_baskets"))
    // two-step expansion (the bucketPairs discipline): posexplode the
    // anchor, then explode its suffix slice — a degenerate hot basket
    // produces many candidate ROWS, which stream, instead of one
    // O(basket²) flattened array value, which OOMs
    items.select(col("items"), posexplode(col("items")).as(Seq("i", "a")))
      .select(col("a"),
        explode(expr("slice(items, i + 2, size(items) - i - 1)")).as("b"))
      .groupBy(col("a").as("item_a"), col("b").as("item_b"))
      .agg(count(lit(1)).as("support"))
      .join(itemN.select(col("item").as("item_a"), col("n_item").as("n_a")),
        "item_a")
      .join(itemN.select(col("item").as("item_b"), col("n_item").as("n_b")),
        "item_b")
      .crossJoin(broadcast(tot))
      .select(col("item_a"), col("item_b"), col("support"),
        col("n_a"), col("n_b"),
        round(col("support").cast("double") * col("n_baskets") /
          (col("n_a") * col("n_b")), 6).as("lift"))
  }

  /** Robust per-group outlier flags: |x - median| > k · MAD (median
    * absolute deviation) — the length/quality anomaly screen a curation
    * pipeline runs where mean/stddev would let one 2-GB document drag the
    * threshold. Two [[groupMedian]] passes (value, then deviation), each
    * distribution-sized; the per-group median/MAD tables are
    * groups-bounded and broadcast back, so the doc-sized side never
    * shuffles after its first pass. All comparisons happen on exact
    * integer-or-half values (midpoint is the only division), so the flag
    * is deterministic and oracle-replayable.
    */
  def outlierMad(df: DataFrame, group: Column, key: Column, value: Column,
                 k: Double): DataFrame = {
    val base = df.select(group.as("grp"), key.as("doc_id"),
      value.cast("double").as("x"))
    val dev = base.join(groupMedian(base, col("grp"), col("x")), "grp")
      .withColumn("adev", abs(col("x") - col("med")))
    dev.join(groupMedian(dev, col("grp"), col("adev"))
        .withColumnRenamed("med", "mad"), "grp")
      .select(col("doc_id"), col("grp"), col("x"), col("med"), col("mad"),
        (col("adev") > lit(k) * col("mad")).cast("int").as("is_outlier"))
  }

  /** Poisson(1) cumulative CDF thresholds for k = 0..4 (k = 5 caps the
    * tail, P(>5) ≈ 6e-4 — deterministic and identical on both engines,
    * documented bias far below bootstrap noise). PUBLIC so the oracle
    * SQL interpolates the SAME printed literals the engine uses — parity
    * by construction, not by two exp() implementations agreeing.
    */
  val PoissonCum: Seq[Double] = {
    val e = math.exp(-1)
    Seq(e, 2 * e, 2 * e + e / 2, 2 * e + e / 2 + e / 6,
      2 * e + e / 2 + e / 6 + e / 24)
  }

  /** Inverse-CDF CASE over a uniform `u` → Poisson(1) weight, shared by
    * [[bootstrapCi]] and its oracle builder.
    */
  def poissonCase: String = PoissonCum.zipWithIndex
    .map { case (c, i) => s"WHEN u < $c THEN $i" }
    .mkString("CASE ", " ", " ELSE 5 END")

  /** Poisson-bootstrap confidence band for a per-group mean — the
    * bootstrap that actually runs at 100 TB (Chamandy et al., "Estimating
    * Uncertainty for Massive Data Streams", Google 2012; the classic
    * resample-n-rows bootstrap needs n draws per replica and a global
    * sample, the Poisson form needs ONE deterministic weight per
    * (row, replica)). Each row gets a Poisson(1) weight per replica from
    * an md5-seeded inverse CDF (replayable, auditable); replica means are
    * EXACT integer sums divided once (Σw·x / Σw — no float accumulation
    * to drift between engines); the band is the 2nd/(reps−1)th order
    * statistic of the replica means (exact selection, no float quantile
    * math). Shapes: one scan exploded ×reps of 4 narrow columns with
    * map-side partial aggregation absorbing into (group, replica) sums —
    * state is groups × reps rows, never a copy of the data.
    *
    * `value` must be integral (cast to long) — that is what keeps every
    * replica sum exact. An all-zero-weight replica (probability e^−n per
    * replica, so COMMON for 1-3-row groups) is filtered out BEFORE its
    * mean is computed — under ANSI mode its 0/0 is a runtime error, and
    * engines that return NULL/NaN instead rank it differently (Spark
    * NULLs first, SQL engines last), so the filter is both a crash
    * guard and a parity guard. A group keeps its (degenerate) band as
    * long as ≥2 replicas carried weight; below that it drops from the
    * output — a bootstrap band on such a group is meaningless anyway.
    */
  def bootstrapCi(df: DataFrame, group: Column, key: Column, value: Column,
                  reps: Int = 32): DataFrame = {
    require(reps >= 4)
    // read twice (replica expansion + point estimate) — persist once
    val base = df.select(group.as("grp"), key.as("k"),
      value.cast("long").as("x")).persistOnce()
    val repRows = base.select(col("grp"), col("k"), col("x"),
        explode(expr(s"sequence(0, ${reps - 1})")).as("b"))
      .withColumn("u",
        (conv(substring(md5(concat_ws("|", col("k"), col("b"))), 1, 12),
          16, 10).cast("long").cast("double") + 0.5) / lit(281474976710656.0))
      .withColumn("w", expr(poissonCase))
    // filter BEFORE dividing: under ANSI mode a zero-weight replica's
    // 0/0 is a runtime error, not a NULL
    val means = repRows.groupBy(col("grp"), col("b"))
      .agg(sum(col("w") * col("x")).as("swx"), sum(col("w")).as("sw"))
      .filter(col("sw") > 0)
      .select(col("grp"), col("b"), (col("swx") / col("sw")).as("m"))
    // hi = 2nd-from-the-TOP (not asc rank reps−1): for a full replica
    // set the two are the same element (the desc ordering fully
    // reverses the asc one, tiebreak included), but a small group whose
    // zero-weight replicas were filtered still gets a band instead of
    // silently failing the asc-rank-(reps−1) lookup
    val rwAsc = Window.partitionBy(col("grp"))
      .orderBy(col("m").asc, col("b").asc)
    val rwDesc = Window.partitionBy(col("grp"))
      .orderBy(col("m").desc, col("b").desc)
    val ranked = means
      .withColumn("rlo", row_number().over(rwAsc))
      .withColumn("rhi", row_number().over(rwDesc))
    val est = base.groupBy(col("grp"))
      .agg((sum(col("x")) / count(lit(1))).as("est"))
    est
      .join(ranked.filter(col("rlo") === 2)
        .select(col("grp"), col("m").as("lo")), "grp")
      .join(ranked.filter(col("rhi") === 2)
        .select(col("grp"), col("m").as("hi")), "grp")
      .select(col("grp"), round(col("est"), 6).as("est"),
        round(col("lo"), 6).as("boot_lo"), round(col("hi"), 6).as("boot_hi"))
  }

  /** Top principal direction by distributed power iteration — the
    * "what axis dominates my embedding space" diagnostic (isotropy /
    * mode-collapse checks) at any corpus size: v ← normalize(Σₓ x·(x·v)),
    * starting from the all-ones vector (deterministic, oracle-replayable
    * — a random init would flip signs between runs). Uncentered (the
    * Gram matrix's top eigenvector, not covariance PCA) — center
    * upstream when mean-removal matters; the iteration is identical.
    *
    * Scale shape per iteration: one broadcast of the 1-row direction,
    * one map-side dot product (the codegen'd `dot_product`), one
    * (dim)-sized partial-agg sum — the corpus never shuffles, state is
    * `dim` doubles. The per-dimension sums are float accumulations over
    * the corpus (order-dependent in the last bits) — outputs round at 6
    * with ~8 orders of margin, the [[kmeansRefine]] discipline.
    */
  def topComponent(corpus: DataFrame, dim: Int, iters: Int): DataFrame = {
    require(dim > 0 && iters >= 1)
    val emb = corpus
      .select(VectorFns.toDoubles(col("embedding")).as("x"))
      .persistOnce()
    var v = emb.sparkSession.range(1)
      .select(expr(s"transform(sequence(1, $dim), i -> 1.0D)").as("v"))
    for (_ <- 1 to iters) {
      val u = emb.crossJoin(broadcast(v))
        .select(expr("dot_product(x, v)").as("d"),
          posexplode(col("x")).as(Seq("pos", "c")))
        .groupBy(col("pos")).agg(sum(col("c") * col("d")).as("s"))
      v = u
        .agg(transform(array_sort(collect_list(struct(col("pos"), col("s")))),
          x => x.getField("s")).as("u"))
        .select(expr("transform(u, y -> y / sqrt(aggregate(" +
          "transform(u, z -> z*z), 0D, (a, b) -> a + b)))").as("v"))
        .truncateLineage()
    }
    v.select(posexplode(col("v")).as(Seq("pos", "comp")))
      .select(col("pos").cast("long").as("pos"),
        round(col("comp"), 6).as("pc"))
  }

  /** Per-group simple OLS fit (slope / intercept / R²) via the moment
    * aggregates — the distributed closed form: one partial+final
    * aggregation computes covar/var/avg per group, so a 100-TB regression
    * costs exactly one shuffle of 5 doubles per group (the "train a
    * linear probe over the whole corpus" shape). Degenerate groups
    * (zero variance in x or y) yield NULL coefficients on BOTH engines —
    * an explicit CASE, not engine-specific NaN behavior. Outputs round to
    * 6 (moment sums are order-sensitive in the last bits; inputs must be
    * elementwise-deterministic columns, not transcendentals).
    */
  def linearFit(df: DataFrame, group: Column, x: Column, y: Column): DataFrame =
    df.select(group.as("grp"), x.cast("double").as("x"),
        y.cast("double").as("y"))
      .groupBy(col("grp"))
      .agg(count(lit(1)).as("n"),
        covar_pop(col("y"), col("x")).as("cov"),
        var_pop(col("x")).as("vx"), var_pop(col("y")).as("vy"),
        avg(col("x")).as("mx"), avg(col("y")).as("my"))
      .select(col("grp"), col("n"),
        round(when(col("vx") > 0, col("cov") / col("vx")), 6).as("slope"),
        round(when(col("vx") > 0,
          col("my") - col("cov") / col("vx") * col("mx")), 6).as("intercept"),
        round(when(col("vx") > 0 && col("vy") > 0,
          col("cov") * col("cov") / (col("vx") * col("vy"))), 6).as("r2"))

  /** Fuzzy (edit-distance) self-join with provably lossless q-gram
    * blocking — the entity-resolution / master-data shape ("find the
    * records whose names differ by a typo"). Returns every unordered pair
    * with levenshtein(a, b) <= k, never comparing all pairs:
    *
    *  1. Indexed multiset q-grams per string (an occurrence counter makes
    *     repeated grams distinct, so set-joins count multiset overlap).
    *  2. Count filter (q-gram edit-distance bound, standard in the
    *     approximate-string-join literature): one edit operation destroys
    *     at most q grams, so ed(a,b) <= k implies the multiset overlap is
    *     >= max(G_a, G_b) - k·q (G = gram count).
    *  3. Prefix filter: order grams rare-globally-first; since
    *     G_s - T_pair + 1 <= k·q + 1 for both sides, two strings meeting
    *     the count bound MUST share a gram among their k·q + 1 rarest —
    *     so only those prefix grams are indexed, keeping inverted-index
    *     buckets rare-by-construction.
    *  4. Candidates equi-join on (gram, occ) within a ±k length band;
    *     exact levenshtein verifies.
    *
    * The losslessness contract requires length >= (k+1)·q — shorter
    * strings can sit within k edits yet share zero q-grams, so they are
    * excluded (documented; pick a smaller q for short-string corpora).
    * Scale: every stage is a bounded groupBy/equi-join on the gram
    * inverted index (the x_dedup_ngram discipline); a corpus of byte-
    * identical strings degenerates the prefix bucket to the true
    * duplicate class itself, the same worst case as any blocking scheme.
    * The brute-force oracle gate doubles as a losslessness proof at
    * fixture scale: a single pair missed by the blocking fails the hash.
    */
  def fuzzyJoin(df: DataFrame, key: Column, text: Column, k: Int,
                q: Int = 3): DataFrame = {
    require(k >= 1 && q >= 2)
    val names = df.select(key.as("id"), text.as("s"))
      .filter(length(col("s")) >= (k + 1) * q)
      .persistOnce()
    // Occurrence index computed LOCALLY per string (a repeated gram's
    // i-th copy gets occ = i) by the native gram_occ expression: one
    // O(L) hash-map pass per row. Lineage of this stage: a 900k-row
    // Window.partitionBy(id, gram) shuffle+sort (4.1s) → local
    // transform+slice+filter lambdas, O(L²) interpreted per string
    // (~2s) → gram_occ (stage probe: ~1s of the cold path removed;
    // TextSigsSpec pins bit-parity with the composed lambda form).
    val grams = names.select(col("id"), length(col("s")).as("len"),
        explode(expr(s"gram_occ(s, $q)")).as("go"))
      .select(col("id"), col("len"),
        col("go.gram").as("gram"), col("go.occ").as("occ"))
      // cheap to persist now that no window rides on it (the earlier
      // window form measured anti-productive to cache); one ~30-byte-row
      // materialization feeds both the frequency table and the prefix join
      .persistOnce()
    val freq = grams.groupBy(col("gram"), col("occ"))
      .agg(count(lit(1)).as("gf"))
    // Per-id prefix (the k·q+1 globally-rarest grams): a groupBy with a
    // local array_sort + slice over the ~L-element gram list, not a
    // Window.partitionBy(id) — the sort is per-array (L log L), never a
    // partition-wide sort, and the shuffle carries each gram row once.
    // freq is an equi-join side (AQE broadcasts it at fixture scale; at
    // corpus scale the q-gram vocabulary grows past broadcast range and
    // the shuffle-hash join is the right plan — no forced hint).
    // persisted: the candidate stage self-joins pref, and an uncached
    // plan executes the whole freq-join + collect_list + explode subtree
    // ONCE PER SIDE (observed in the r15 plan dump: the pref subtree
    // appeared twice, one side under a data-sized BroadcastExchange —
    // also a scale hazard, since pref is corpus-sized). One
    // materialization feeds both sides of the self-join.
    val pref = grams.join(freq, Seq("gram", "occ"))
      .groupBy(col("id"), col("len"))
      .agg(slice(array_sort(collect_list(
        struct(col("gf"), col("gram"), col("occ")))), 1, k * q + 1).as("top"))
      .select(col("id"), col("len"), explode(col("top")).as("t"))
      .select(col("id"), col("len"),
        col("t.gram").as("gram"), col("t.occ").as("occ"))
      .persistOnce()
    val cand = pref.as("fa").join(pref.as("fb"),
        col("fa.gram") === col("fb.gram") && col("fa.occ") === col("fb.occ")
          && col("fa.id") < col("fb.id")
          && abs(col("fa.len") - col("fb.len")) <= k)
      .select(col("fa.id").as("id_a"), col("fb.id").as("id_b"))
      .distinct()
      // pair-bounded candidate set, persisted for the same reason as
      // pref above: the verify stage is re-runnable from it without
      // re-executing the prefix self-join
      .persistOnce()
    cand
      .join(names.select(col("id").as("id_a"), col("s").as("s_a")), "id_a")
      .join(names.select(col("id").as("id_b"), col("s").as("s_b")), "id_b")
      // computed ONCE then filtered: Filter and Project are separate
      // physical operators, so a filter-side levenshtein would re-run
      // the DP for every surviving pair. The THRESHOLD form (Spark 3.5+)
      // runs the banded O(|s|·k) DP and returns -1 past the band instead
      // of filling the full O(|a|·|b|) table — candidates outnumber true
      // pairs ~100:1 here, so the reject path is the hot path (measured
      // ~1.4s → ~0.3s for the verify stage at sf0.1).
      .withColumn("edit_dist",
        levenshtein(col("s_a"), col("s_b"), k).cast("long"))
      .filter(col("edit_dist") >= 0)
      .select(col("id_a"), col("id_b"), col("edit_dist"))
  }

  // ------------------------------------------------------ graph analytics

  /** Damped PageRank in exact integer mass units — link analysis over an
    * edge table (cols `src`, `dst`), the companion to [[clusterPairs]]'
    * connected components. Every node starts with `initMass` units; each
    * iteration a node keeps nothing, ships `floor(85% · mass / outdeg)`
    * along every out-edge, and receives a constant `floor(15% · initMass)`
    * teleport. Integer floors make the fixpoint deterministic and
    * bit-replayable in a SQL oracle (float PageRank diverges across
    * summation orders); the ranking it induces is the standard one.
    *
    * Scale shape: each iteration is one edge-sized equi-join (edges ⋈
    * mass on src) plus one hash aggregation on dst — the textbook
    * distributed PageRank round, no driver-side state, and plan depth is
    * BOUNDED: every 8 rounds the mass table is localCheckpoint-ed (the
    * [[clusterPairs]] discipline), so a 20- or 50-iteration run keeps an
    * O(1)-deep Catalyst plan instead of an O(iters) nest the optimizer
    * re-traverses each round. The edge table (often an expensive
    * derivation — a join + distinct for the fixture trade graph) is
    * persisted FIRST so degree counting, the degree-annotated join, and
    * the initial mass table all read one materialization instead of
    * re-deriving it three times; the degree-annotated table is then
    * persisted too, since it alone feeds every iteration. The per-round
    * mass table is node-sized — orders of magnitude below the edges —
    * so AQE broadcast-joins it against the cached edges and each round
    * costs exactly one edge-sized shuffle (the dst aggregation).
    * Overflow bound: a node's
    * mass is < total mass = n·initMass, and the hottest intermediate is
    * mass·85 — keep initMass below Long.Max/(100·n) (at initMass = 1e12
    * that allows ~10^5 nodes; scale initMass down for bigger graphs).
    *
    * Node-set semantics: the result carries EVERY node appearing as a
    * src or dst. Each round the in-mass aggregation is left-joined back
    * onto that node set with a teleport-only default, so a source-only
    * node (out-edges but zero in-degree) keeps ranking instead of
    * vanishing after round 1, and a sink-only node (in-edges but no
    * out-edge) keeps receiving. Dangling mass is still NOT redistributed
    * — a sink node's mass leaks by design (standard simplification;
    * symmetric edge tables have no sinks and lose nothing).
    */
  def pageRank(edges: DataFrame, iters: Int, initMass: Long): DataFrame = {
    require(iters >= 1 && initMass > 0)
    val e = edges.select(col("src"), col("dst")).persistOnce()
    val deg = e.groupBy(col("src")).agg(count(lit(1)).as("outdeg"))
      .persistOnce()
    // hash-partitioned on the per-round join key before the cache: when
    // the mass table is too big to broadcast (true at web-graph node
    // counts), each round then shuffles only the node-sized mass — the
    // edge+degree table pays its shuffle once, not once per iteration
    val withDeg = e.join(deg, "src").repartition(col("src")).persistOnce()
    // src ∪ dst — node-sized, feeds every round's left join, so persist
    val nodes = e.select(col("src").as("node"))
      .unionByName(e.select(col("dst").as("node")))
      .distinct().persistOnce()
    val teleport = initMass * 15L / 100L
    var mass = nodes.select(col("node"), lit(initMass).as("mass"))
    for (i <- 1 to iters) {
      val inMass = withDeg.join(mass, col("src") === col("node"))
        .select(col("dst"), expr("mass * 85 div (outdeg * 100)").as("c"))
        .groupBy(col("dst"))
        .agg(sum(col("c")).as("inmass"))
        .select(col("dst").as("cnode"), col("inmass"))
      mass = nodes.join(inMass, col("node") === col("cnode"), "left")
        .select(col("node"),
          (coalesce(col("inmass"), lit(0L)) + lit(teleport)).as("mass"))
      // lineage cut (clusterPairs discipline): lazy is enough — the plan
      // is truncated to a LogicalRDD immediately; the RDD materializes
      // with the caller's first action
      if (i % 8 == 0 && i < iters) mass = mass.truncateLineage(eager = false)
    }
    mass
  }

  // ------------------------------------------------------ HBase-semantics

  /** V1 latest-version-per-cell (Scan#setMaxVersions(1) analog): keep the
    * newest row per (rowkey, qualifier), ordered by version desc with a
    * unique tiebreaker.
    */
  def latestVersion(df: DataFrame, rowkey: Column, qualifier: Column,
                    version: Column, tiebreak: Column): DataFrame =
    latestVersions(df, rowkey, qualifier, version, tiebreak, n = 1)

  /** Scan#setMaxVersions(N): the newest `n` cells per (rowkey,
    * qualifier) — [[latestVersion]] generalized. Same single shuffle +
    * sorted window pass; HBase's VERSIONS => N retention read.
    */
  def latestVersions(df: DataFrame, rowkey: Column, qualifier: Column,
                     version: Column, tiebreak: Column, n: Int): DataFrame = {
    require(n >= 1)
    val w = Window.partitionBy(rowkey, qualifier)
      .orderBy(version.desc, tiebreak.desc)
    df.withColumn("rn", row_number().over(w))
      .filter(col("rn") <= n)
      .drop("rn")
  }

  /** Delete-marker (tombstone) masking — the HBase Delete read path: a
    * tombstone (key, ts) masks every version of that key at or before
    * ts; rows with no tombstone, or newer than theirs, survive. The
    * tombstone table is key-sized (one max-ts marker per key after the
    * rollup), so the mask is one left join + filter — at 100 TB the
    * fact side shuffles once on its own key and the marker side is
    * usually broadcast by AQE.
    */
  def maskTombstones(df: DataFrame, key: Column, ts: Column,
                     tombstones: DataFrame,
                     tombKey: Column = col("k"),
                     tombTs: Column = col("tomb_ts")): DataFrame = {
    val t = tombstones.select(tombKey.as("_tk"), tombTs.as("_ts"))
      .groupBy(col("_tk")).agg(max(col("_ts")).as("_tts"))
    df.join(t, key === col("_tk"), "left")
      .filter(col("_tts").isNull || ts > col("_tts"))
      .drop("_tk", "_tts")
  }

  /** As-of join: for each right-side row, the latest left-side `ts` of the
    * same key at or before the right row's ts. One union + one shuffle on
    * the key + a sorted window pass — linear, no range join, no per-row
    * probe. With `tolerance` (an INTERVAL string, pandas merge_asof
    * semantics) a match older than `ts − tolerance` nulls out — sound
    * because the as-of match is the LATEST qualifying row: if it misses
    * the tolerance window, every earlier candidate misses it too, so the
    * post-window filter loses nothing.
    */
  def asofJoin(quotes: DataFrame, trades: DataFrame, key: String,
               ts: String, tradeId: String,
               tolerance: Option[String] = None): DataFrame = {
    val q = quotes.select(col(key), col(ts),
      lit(null).cast("long").as(tradeId), lit(0).as("tag"))
    val t = trades.select(col(key), col(ts), col(tradeId), lit(1).as("tag"))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).asc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val matched = q.unionByName(t)
      .withColumn("asof_ts",
        last(when(col("tag") === 0, col(ts)), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
    val bounded = tolerance.fold(matched) { tol =>
      matched.withColumn("asof_ts",
        when(col("asof_ts") >= col(ts) - expr(s"INTERVAL $tol"),
          col("asof_ts")))
    }
    bounded.select(col(tradeId), col(key), col("asof_ts"))
  }

  /** Nearest-direction as-of (pandas merge_asof direction='nearest'):
    * for each right-side row, whichever of the latest-at-or-before and
    * earliest-at-or-after left-side timestamps is closer — exact µs
    * distances, ties to the BACKWARD match (the deterministic convention,
    * documented). Two linear union+window passes (the [[asofJoin]] shape
    * and its ts-descending mirror) joined on the trade id — still no
    * range join, no per-row probe.
    */
  def asofJoinNearest(quotes: DataFrame, trades: DataFrame, key: String,
                      ts: String, tradeId: String): DataFrame = {
    val back = asofJoin(quotes, trades, key, ts, tradeId)
      .withColumnRenamed("asof_ts", "back_ts")
    val q = quotes.select(col(key), col(ts),
      lit(null).cast("long").as(tradeId), lit(0).as("tag"))
    val t = trades.select(col(key), col(ts), col(tradeId), lit(1).as("tag"))
    val w = Window.partitionBy(col(key))
      .orderBy(col(ts).desc, col("tag").asc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val fwd = q.unionByName(t)
      .withColumn("fwd_ts",
        last(when(col("tag") === 0, col(ts)), ignoreNulls = true).over(w))
      .filter(col("tag") === 1)
      .select(col(tradeId), col(ts).as("_t"), col("fwd_ts"))
    back.join(fwd, tradeId)
      .select(col(tradeId), col(key),
        when(col("back_ts").isNull, col("fwd_ts"))
          .when(col("fwd_ts").isNull, col("back_ts"))
          .when(expr("unix_micros(fwd_ts) - unix_micros(_t)")
            < expr("unix_micros(_t) - unix_micros(back_ts)"),
            col("fwd_ts"))
          .otherwise(col("back_ts")).as("asof_ts"))
  }

  /** SyncTable-style diff: compare two tables by range-bucket digests
    * (count + order-insensitive sum of md5-derived row hashes); returns
    * only the buckets whose digests disagree. Fingerprint columns must be
    * exactly-representable (strings/longs — no doubles).
    */
  def syncDiff(source: DataFrame, target: DataFrame, bucketKey: Column,
               fingerprint: Column, buckets: Int): DataFrame = {
    def digest(df: DataFrame, cnt: String, hsh: String): DataFrame =
      df.groupBy(pmod(bucketKey, lit(buckets.toLong)).as("bucket"))
        .agg(count(lit(1)).as(cnt),
          sum(conv(substring(md5(fingerprint), 1, 8), 16, 10).cast("long"))
            .as(hsh))
    // full_outer + coalesce-to-0: a bucket that exists on only one side
    // (a whole key range lost, or an empty table) must surface as a diff —
    // an inner join would silently drop exactly the worst divergence.
    digest(source, "src_count", "src_hash")
      .join(digest(target, "tgt_count", "tgt_hash"), Seq("bucket"), "full_outer")
      .select(col("bucket"),
        coalesce(col("src_count"), lit(0L)).as("src_count"),
        coalesce(col("tgt_count"), lit(0L)).as("tgt_count"),
        coalesce(col("src_hash"), lit(0L)).as("src_hash"),
        coalesce(col("tgt_hash"), lit(0L)).as("tgt_hash"))
      .filter(col("src_count") =!= col("tgt_count") ||
        col("src_hash") =!= col("tgt_hash"))
  }

  /** Bulk load: total-order write (range-partitioned by sampled key
    * quantiles + per-partition sort) — every output file is internally
    * sorted and files hold disjoint key ranges.
    */
  def bulkLoad(df: DataFrame, key: Column, numFiles: Int, path: String,
               maxRecordsPerFile: Long = 0L): Unit =
    // maxRecordsPerFile (0 = unbounded, Spark's own convention) is the
    // file-size governor: a skewed range partition otherwise writes one
    // arbitrarily large file (the HFile-split analog of a hot region).
    // The writer splits a sorted partition into SEQUENTIAL chunks, so
    // per-file internal sort and pairwise-disjoint ranges survive the
    // split — EtlSpec pins both plus the file-count envelope at 10x.
    df.repartitionByRange(numFiles, key)
      .sortWithinPartitions(key)
      .write.mode("overwrite")
      .option("maxRecordsPerFile", maxRecordsPerFile)
      .parquet(path)

  /** Write-audit-publish: the idempotent-publish pattern every 100-TB
    * pipeline ships — readers must NEVER observe a partial or
    * audit-failed table. Three phases:
    *
    *  1. STAGE: the frame writes (overwrite) to `root/v_<publishId>` —
    *     an unreferenced version directory no reader resolves, so a
    *     mid-write crash or a replay of the same publishId is invisible
    *     (the overwrite makes re-publication idempotent).
    *  2. AUDIT: the STAGED FILES are read back (what readers would see,
    *     not what the writer intended) and reduced to one bounded row —
    *     exact row count + an order-insensitive bit_xor(xxhash64(*))
    *     content fingerprint — which the caller's `audit` judges;
    *     `Some(reason)` rejects.
    *  3. PUBLISH: only on a clean audit, the `_current` manifest (one
    *     line naming the version directory) is swapped via write-temp +
    *     ATOMIC_MOVE rename, the POSIX atomic-pointer-flip. A reader
    *     resolving the manifest sees the OLD version until the instant
    *     it sees the new one; a failed audit never touches the
    *     manifest, so the previous publish stays readable forever
    *     (EtlSpec's law) and the rejected version directory sits
    *     unreferenced for a janitor pass to reclaim.
    *
    * The audit re-reads the staged bytes — one extra scan of the
    * published slice, the price of auditing what was actually written;
    * both metrics partial-aggregate, so the audit row is bounded at any
    * scale. This local-FS build swaps the manifest with
    * java.nio ATOMIC_MOVE; on an object store the same contract is a
    * conditional PUT of the manifest key (S3 If-None-Match / GCS
    * generation preconditions), everything else unchanged.
    */
  def publishAudited(df: DataFrame, root: String, publishId: String,
                     audit: (Long, Long) => Option[String])
      : PublishResult = {
    require(publishId.nonEmpty && publishId.forall(ch =>
      ch.isLetterOrDigit || ch == '-' || ch == '_'),
      "publishAudited: publishId must be [A-Za-z0-9_-]+ (it names a " +
        "directory)")
    val spark = df.sparkSession
    val version = s"v_$publishId"
    val stagePath = s"$root/$version"
    df.write.mode("overwrite").parquet(stagePath)
    // audit what READERS would see: the staged files, not the input plan
    val staged = spark.read.parquet(stagePath)
    val m = staged.agg(count(lit(1)).as("n"),
      coalesce(bit_xor(xxhash64(staged.columns.map(col): _*)), lit(0L))
        .as("fp")).head()
    val (rows, fp) = (m.getLong(0), m.getLong(1))
    audit(rows, fp) match {
      case Some(reason) =>
        PublishResult(published = false, version, rows, fp, reason)
      case None =>
        val dir = java.nio.file.Paths.get(root)
        val tmp = dir.resolve(s"_current.$publishId.tmp")
        java.nio.file.Files.writeString(tmp, version)
        java.nio.file.Files.move(tmp, dir.resolve("_current"),
          java.nio.file.StandardCopyOption.ATOMIC_MOVE,
          java.nio.file.StandardCopyOption.REPLACE_EXISTING)
        PublishResult(published = true, version, rows, fp, "")
    }
  }

  /** Resolve the current publish of a [[publishAudited]] root: one
    * manifest read, then the version directory it names. Loud when the
    * root has never had a successful publish — an empty table and "no
    * table" are different facts.
    */
  def readPublished(spark: org.apache.spark.sql.SparkSession,
                    root: String): DataFrame = {
    val manifest = java.nio.file.Paths.get(root, "_current")
    require(java.nio.file.Files.exists(manifest),
      s"readPublished: no successful publish at $root (no _current " +
        "manifest)")
    val version = java.nio.file.Files.readString(manifest).trim
    spark.read.parquet(s"$root/$version")
  }

  /** Top-N per group with a deterministic tiebreak. */
  def topKPerGroup(df: DataFrame, group: Column, order: Column,
                   tiebreak: Column, k: Int): DataFrame = {
    val w = Window.partitionBy(group).orderBy(order.desc, tiebreak.asc)
    df.withColumn("rnk", row_number().over(w)).filter(col("rnk") <= k)
  }

  /** Salted rowkey for hot-key mitigation: prefix = pmod(hash(key), S). */
  def saltKey(key: Column, salts: Int): Column =
    concat(pmod(xxhash64(key), lit(salts.toLong)).cast("string"),
      lit("#"), key.cast("string"))

  /** Two-phase salted aggregation for skewed keys: phase 1 aggregates on
    * (key, salt) so a hot key's rows spread over `salts` reducers; phase 2
    * merges the partials per key. Correct for any associative aggregate;
    * exposed here for count+sum. With AQE's skew handling this is rarely
    * needed for joins, but aggregation skew on a hot key still wants it.
    */
  def saltedAgg(df: DataFrame, key: Column, value: Column,
                salts: Int): DataFrame =
    // Salt from a row-unique id, NOT from the aggregated value: a hot key
    // whose values are constant/low-cardinality would hash to one salt and
    // silently degenerate to the unsalted plan. monotonically_increasing_id
    // is round-robin within each partition, so fan-out is guaranteed; the
    // aggregates are associative, so the result is independent of which
    // salt a row lands on (including across task retries).
    df.groupBy(key.as("k"),
        pmod(monotonically_increasing_id(), lit(salts.toLong)).as("graft_salt"))
      .agg(count(lit(1)).as("pc"), sum(value).as("ps"))
      .groupBy(col("k"))
      .agg(sum(col("pc")).as("n"), sum(col("ps")).as("sum_value"))

  // ------------------------------------------ contrastive-training mining

  /** Hard-negative mining for contrastive training: for every anchor
    * vector, the `k` most-cosine-similar vectors carrying a DIFFERENT
    * label — the pairs a bi-encoder must learn to push apart, mined from
    * the corpus rather than sampled at random (random negatives are
    * trivially easy; the informative ones are the near-misses).
    *
    * Scale shape is the [[knnGraph]] discipline: candidates come from the
    * anchor's IVF owner cell (centroids broadcast, one cell equi-self-join
    * with a label-inequality predicate — O(n²/nlist) expected candidates,
    * never n²), and the per-anchor rank window is partitioned by anchor.
    * The label rides through the assignment argmax as a group key, so no
    * second join re-attaches it. Within-cell mining is approximate in the
    * same sense as [[knnGraph]]: a hard negative sitting in a different
    * cell is missed; raise recall by raising nlist's probe count upstream
    * if needed. The oracle replays assignment + mining exactly.
    */
  def hardNegatives(corpus: DataFrame, k: Int, nlist: Int): DataFrame = {
    val emb = corpus.select(col("vec_id"), col("label"),
      VectorFns.toDoubles(col("embedding")).as("v"))
    val cent = emb.filter(col("vec_id") < nlist)
      .select(col("vec_id").as("cid"), col("v").as("cv"))
    val a = emb.join(broadcast(cent))
      .select(col("vec_id"), col("label"), col("v"),
        struct(expr("cosine_sim(v, cv)").as("cs"), col("cid")).as("sc"))
      .groupBy(col("vec_id"), col("label"), col("v"))
      .agg(max(col("sc")).getField("cid").as("cell"))
      .persistOnce()
    val w = Window.partitionBy(col("anchor_id"))
      .orderBy(col("cos_sim").desc, col("neg_id").asc)
    a.as("x").join(a.as("y"),
        col("x.cell") === col("y.cell") &&
          col("x.label") =!= col("y.label"))
      .select(col("x.vec_id").as("anchor_id"),
        col("x.label").as("anchor_label"),
        col("y.vec_id").as("neg_id"), col("y.label").as("neg_label"),
        round(expr("cosine_sim(x.v, y.v)"), 6).as("cos_sim"))
      .withColumn("rank", row_number().over(w))
      .filter(col("rank") <= k)
      .select(col("anchor_id"), col("anchor_label"), col("neg_id"),
        col("neg_label"), col("cos_sim"),
        col("rank").cast("long").as("rank"))
  }

  // --------------------------------------------------- data selection

  /** DSIR-style importance weighting (Data Selection via Importance
    * Resampling, Xie et al. 2023, public paper): score every raw document
    * by how target-like its hashed-token distribution is. Features are
    * md5-hashed tokens folded into `buckets` bins; with add-1 smoothing,
    * a doc's score is the mean over its token instances of
    * ln p_target(f) − ln p_raw(f). Positive = looks more like the target
    * slice than the raw corpus; `selected` marks those docs.
    *
    * 100-TB shape: the entire "model" is one `buckets`-row table (the
    * per-bin target/raw counts and their log-ratio), built by one hash
    * aggregation over the exploded tokens and broadcast back for the
    * per-doc scoring pass — no pairwise stage, no driver state. The
    * bounded bin table is persisted (pennies); the token explosion is
    * deliberately NOT cached — two codegen'd scans of the corpus beat
    * materializing tokens×docs at scale. ln is elementwise on rationals
    * and the per-doc mean rounds to 6, the perplexity queries' determinism
    * discipline the oracle replays.
    */
  def dsirWeights(docs: DataFrame, key: Column, text: Column,
                  isTarget: Column, buckets: Int = 1024): DataFrame = {
    require(buckets >= 2)
    val feats = docs.select(key.as("doc_id"), isTarget.as("tgt"),
        explode(TextFns.tokens(text)).as("tok"))
      .select(col("doc_id"), col("tgt"),
        (conv(substring(md5(col("tok")), 1, 12), 16, 10).cast("long")
          % buckets).as("f"))
    val counts = feats.groupBy(col("f"))
      .agg(count(lit(1)).as("ca"),
        sum(when(col("tgt"), 1L).otherwise(0L)).as("ct"))
      .persistOnce()
    val logRatio = counts
      .crossJoin(broadcast(counts.agg(sum(col("ca")).as("ta"),
        sum(col("ct")).as("tt"))))
      .select(col("f"),
        (log((col("ct") + 1).cast("double") / (col("tt") + buckets)) -
          log((col("ca") + 1).cast("double") / (col("ta") + buckets)))
          .as("lr"))
    feats.join(broadcast(logRatio), "f")
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_feats"),
        round(avg(col("lr")), 6).as("dsir_score"))
      .withColumn("selected", (col("dsir_score") > 0).cast("int"))
  }

  /** Per-source dataset card — the summary report a curation pipeline
    * publishes next to a shipped corpus slice: doc/token/char volumes,
    * exact-duplicate rate, language mix (dominant language + its share)
    * per source. All exact integers (ppm shares, integer mean) so the
    * report replays bit-for-bit. Shapes: one (source, fingerprint)
    * dedup aggregation, one (source, lang) rollup whose result is
    * bounded by sources×languages (the argmax is a max(struct) partial
    * agg over that bounded table), one per-source rollup — nothing
    * scales beyond the fingerprint shuffle the dedup tier already pays.
    */
  def datasetCard(docs: DataFrame, source: Column, lang: Column,
                  text: Column): DataFrame = {
    val base = docs.select(source.as("source"), lang.as("lang"),
        text.as("text"))
      .select(col("source"), col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("toks"),
        length(col("text")).cast("long").as("chars"),
        sha2(col("text"), 256).as("fp"))
      .persistOnce()
    val vol = base.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"), sum(col("toks")).as("n_tokens"),
        sum(col("chars")).as("n_chars"),
        count_distinct(col("fp")).as("n_distinct"))
    val langTop = base.groupBy(col("source"), col("lang"))
      .agg(count(lit(1)).as("nl"))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_langs"),
        max(struct(col("nl"), col("lang"))).as("top"))
      .select(col("source"), col("n_langs"),
        col("top.lang").as("top_lang"), col("top.nl").as("top_lang_docs"))
    vol.join(langTop, "source")
      .select(col("source"), col("n_docs"), col("n_tokens"), col("n_chars"),
        expr("n_tokens div n_docs").as("mean_doc_tokens"),
        expr("(n_docs - n_distinct) * 1000000 div n_docs").as("dup_ppm"),
        col("n_langs"), col("top_lang"),
        expr("top_lang_docs * 1000000 div n_docs").as("top_lang_ppm"))
  }

  /** Z-order (Morton) interleave of the low `bits` bits of two
    * non-negative integer columns — the multi-dimensional LAYOUT key for
    * data skipping: range-sorting by the interleaved key clusters rows
    * that are close in BOTH dimensions into the same files, so per-file
    * min/max statistics prune scans filtered on EITHER column (a plain
    * sort localizes only its leading column). The standard lakehouse
    * OPTIMIZE ZORDER BY technique, here as a pure expression: 2·bits
    * shift-and-mask terms summed, fully codegen'd, zero shuffle — the
    * sort that consumes it is the caller's one range partitioning.
    * `bits` must cover the key range (truncated high bits alias distant
    * rows); values must be non-negative and NORMALIZED to comparable
    * ranges first — interleaving a 13-bit key with an 8-bit key puts
    * the wide key's high bits alone at the top and degenerates to a
    * plain sort on it (measured: second-dimension file spans stayed at
    * 0.95 of global until min/max normalization landed both keys in
    * [0, 2^bits)). See q_etl_zorder for the normalization recipe.
    */
  def zorder2(a: Column, b: Column, bits: Int = 21): Column = {
    require(bits >= 1 && bits <= 31)
    (0 until bits).map { i =>
      shiftleft(shiftright(a.cast("long"), i).bitwiseAND(lit(1L)), 2 * i) +
        shiftleft(shiftright(b.cast("long"), i).bitwiseAND(lit(1L)),
          2 * i + 1)
    }.reduce(_ + _)
  }

  /** Per-doc token Shannon entropy (nats) + Pielou evenness — the
    * information-theoretic quality signal next to [[qualityScore]]'s
    * rule gates and [[repetitionStats]]' n-gram fractions: near-zero
    * entropy flags degenerate repetition, evenness ≈ 1 flags
    * suspiciously uniform token salad. H = ln(n) − (Σ tf·ln tf)/n from
    * the per-doc term-frequency table — one (doc, term) shuffle and one
    * per-doc aggregation, both map-side combined; ln is elementwise and
    * outputs round at 6 (the perplexity determinism discipline).
    * Evenness = H / ln(n_distinct), NULL for single-term docs (division
    * by ln(1) — both engines emit the explicit CASE, not a NaN).
    */
  def tokenEntropy(docs: DataFrame, key: Column, text: Column): DataFrame =
    docs.select(key.as("doc_id"), explode(TextFns.tokens(text)).as("term"))
      .groupBy(col("doc_id"), col("term")).agg(count(lit(1)).as("tf"))
      .groupBy(col("doc_id"))
      .agg(sum(col("tf")).as("n_tokens"),
        count(lit(1)).as("n_distinct"),
        sum(col("tf") * log(col("tf"))).as("slt"))
      .select(col("doc_id"), col("n_tokens"), col("n_distinct"),
        round(log(col("n_tokens")) - col("slt") / col("n_tokens"), 6)
          .as("token_entropy"),
        when(col("n_distinct") > 1,
          round((log(col("n_tokens")) - col("slt") / col("n_tokens"))
            / log(col("n_distinct")), 6)).as("evenness"))

  /** Count-Min Sketch heavy-hitter estimation (Cormode & Muthukrishnan
    * 2005, public paper): estimate term frequencies from a `depth`×`width`
    * counter matrix — O(d·w) state TOTAL regardless of corpus size, the
    * bounded-memory lever when the exact term table itself is too big to
    * shuffle. Hashes are md5-seeded per row (j || '#' || term), so the
    * sketch is bit-deterministic and an oracle replays every cell.
    * Output: the exact top-`topK` terms with their exact counts, CMS
    * estimates, and the overestimate in ppm — CMS never underestimates
    * (est = min over rows of the term's cell, each cell ≥ the true
    * count), an invariant the gate checks on every row.
    *
    * Scale shape: one token explode → (j, cell) hash aggregation whose
    * result is ≤ d·w rows (broadcast back); the exact top-k is a
    * TakeOrderedAndProject (bounded heap, no full sort). The exact side
    * exists here to gate the estimate; a pure-sketch deployment drops it
    * and keeps only the bounded matrix.
    */
  def cmsHeavyHitters(docs: DataFrame, text: Column, depth: Int = 4,
                      width: Int = 1024, topK: Int = 20): DataFrame = {
    require(depth >= 1 && width >= 2 && topK >= 1)
    def cellsOf(term: Column): Column =
      transform(sequence(lit(0), lit(depth - 1)), j =>
        pmod(conv(substring(md5(concat(j.cast("string"), lit("#"), term)),
          1, 12), 16, 10).cast("long"), lit(width.toLong)))
    val toks = docs.select(explode(TextFns.tokens(text)).as("term"))
    val exact = toks.groupBy(col("term")).agg(count(lit(1)).as("exact_count"))
      .persistOnce()
    // cell counts are additive, so hash the DISTINCT term table weighted
    // by its counts instead of re-exploding every token instance d times
    // — vocabulary ≪ token stream (measured 2.1s -> sub-second at
    // sf0.1). A pure-sketch deployment with no exact table hashes the
    // token stream directly; here the exact side exists for the gate.
    val sketch = exact
      .select(col("exact_count"),
        posexplode(cellsOf(col("term"))).as(Seq("j", "cell")))
      .groupBy(col("j"), col("cell"))
      .agg(sum(col("exact_count")).as("cms_cell"))
    val top = exact
      .orderBy(col("exact_count").desc, col("term").asc).limit(topK)
    top.select(col("term"), col("exact_count"),
        posexplode(cellsOf(col("term"))).as(Seq("j", "cell")))
      .join(broadcast(sketch), Seq("j", "cell"))
      .groupBy(col("term"), col("exact_count"))
      .agg(min(col("cms_cell")).as("cms_est"))
      .select(col("term"), col("exact_count"), col("cms_est"),
        expr("(cms_est - exact_count) * 1000000 div exact_count")
          .as("over_ppm"))
  }

  // ----------------------------------------------- winnowing fingerprints

  /** MOSS-style winnowing fingerprints (Schleimer, Wilkerson & Aiken,
    * SIGMOD 2003, public paper): hash every `gramN`-token gram, slide a
    * `window`-gram window, and in each window select the minimal hash
    * (rightmost on ties). The selected (hash, position) set is the doc's
    * fingerprint — guaranteed to share an entry with any doc containing a
    * sufficiently long common substring, at ~2/(window+1) the density of
    * the full gram set. This is the robust alternative to a whole-doc
    * content hash: local edits only perturb nearby fingerprints.
    *
    * The rightmost-min selection packs (hash, pos) into one long —
    * hash·2²⁰ + (2²⁰−1−pos) — so a single `min` window frame implements
    * "min hash, ties to the largest position" with no struct ordering
    * (portable to the SQL oracle bit-for-bit). Docs are capped at 2²⁰
    * grams by the packing (far beyond any real document; chunk upstream
    * if exceeded). Ragged tail windows (the last `window`−1 positions
    * start shrinking frames) are included — deterministic in both
    * engines, a superset of the paper's fixed windows. Scale shape: one
    * explode + one doc-partitioned window pass + one hash aggregation;
    * no shuffle beyond the doc_id partitioning, no pairwise stage.
    */
  def winnowFingerprints(docs: DataFrame, key: Column, text: Column,
                         gramN: Int = 3, window: Int = 4): DataFrame = {
    require(gramN >= 2 && window >= 1)
    val posCap = 1L << 20
    // The whole winnow derivation is per-document, so it runs inside the
    // native winnow_sels expression (sparkext/TextSigs.scala): one
    // map-side array pass per doc. The pipeline this replaces
    // posexploded one row per corpus gram and paid a doc-partitioned
    // window SORT plus a collect_set aggregate to reassemble what was
    // per-doc data all along — at 100 TB that was the operator's only
    // shuffle, and it is gone (TextSigsSpec pins bit-parity against the
    // exploded derivation; the DuckDB oracle replay is unchanged).
    val ws = docs.select(key.as("doc_id"),
        call_function("winnow_sels",
          TextFns.tokens(text), lit(gramN), lit(window)).as("wn"))
      .filter(col("wn").isNotNull) // no grams -> no row, as when the
      .select(col("doc_id"),       // exploded form emitted no group
        col("wn.n_grams").as("n_grams"), col("wn.sels").as("sels"))
    // packing-cap tripwire (the Tables.normalizeTs fail-loud
    // discipline): max pos = n_grams - 1, so a doc over the cap is
    // exactly n_grams > posCap — its fingerprints would be corrupt
    // (pos bleeds negative into the hash field).
    ws.select(col("doc_id"),
      when(col("n_grams") > posCap, raise_error(concat(
        lit("winnowFingerprints: doc "), col("doc_id").cast("string"),
        lit(s" exceeds $posCap grams — chunk upstream"))))
        .otherwise(col("n_grams")).as("n_grams"),
      size(col("sels")).cast("long").as("n_fp"),
      round(size(col("sels")).cast("double") / col("n_grams"), 6)
        .as("fp_density"),
      md5(concat_ws(" ",
        transform(col("sels"), x => x.cast("string")))).as("fp_sig"))
  }

  // --------------------------------------------------------------- HITS

  /** HITS hubs & authorities (Kleinberg 1999) in integer mass — the link-
    * analysis companion to [[pageRank]], natural on bipartite graphs
    * where PageRank's random walk just bounces (here: customers are hubs,
    * suppliers authorities). Each iteration: auth(v) = Σ hub over
    * in-edges, hub(u) = Σ auth over out-edges, each half-step rescaled to
    * `scale` by integer floor division by the current max — the
    * normalization that keeps values bounded forever (so iteration count
    * never overflows) while staying bit-replayable in a SQL oracle
    * (float L2 normalization diverges across summation orders).
    *
    * Scale shape: per half-step one edge-sized equi-join + one hash
    * aggregation (the [[pageRank]] round shape); the max is a 1-row
    * broadcast, not a collect. Every half-step's node-sized raw table is
    * PERSISTED (lazily): the rescale references `raw` twice (max subtree
    * + main) and the next half-step chains on the result, so an
    * unmaterialized twin would double execution per half-step. Lazy
    * persist beats an eager localCheckpoint here — the per-half-step job
    * barriers dominated (measured 3.4s -> 1.3s warm at sf0.1, iters=2;
    * the 1M-edge ScaleSpec stress still runs flat). For LARGE iteration
    * counts plan depth grows with intact lineage — the loop follows the
    * pageRank discipline and localCheckpoints every 4th iteration to
    * bound it. Overflow bound:
    * raw ≤ maxdeg·scale and the rescale multiplies by scale, so keep
    * maxdeg·scale² < Long.Max (scale 10⁶ allows maxdeg ≤ ~9·10⁶ —
    * rescale down for denser graphs). Nodes with no out-edge get no hub
    * score and sinks no auth update — the standard formulation on a
    * directed edge list.
    */
  def hits(edges: DataFrame, iters: Int, scale: Long): DataFrame = {
    require(iters >= 1 && scale > 0)
    val e = edges.select(col("src"), col("dst")).persistOnce()
    // Overflow tripwire on the node-sized OUTPUT, not the 1-row max: a
    // raw*scale wrap lands the floored score negative (raw, mx, scale
    // all positive), so "score >= 0" is the observable contract. Guarding
    // the broadcast max itself measured 3.3s -> 13s at sf0.1 — raise_error
    // inside the broadcast subtree degrades the whole plan; here the
    // check rides the final node-sized projection.
    val held = scala.collection.mutable.ListBuffer.empty[DataFrame]
    def rescaled(rawDf: DataFrame, key: String, out: String): DataFrame = {
      val raw = rawDf.persistOnce()
      held += raw
      // The half-step max is a bounded 1-row aggregate; fold it in as a
      // LITERAL rather than a broadcast crossJoin. The crossJoin form
      // referenced the persisted `raw` twice (max subtree + main), so
      // each half-step DOUBLED the physical plan nest — by iteration 2
      // the driver walked a 16.7M-char tree (capped at 32 KB only after
      // the walk) in every AQE plan-description post and SparkPlanInfo
      // build, ~2s of pure driver time per warm action at sf0.1. With
      // the literal each plan references `raw` once and the nest is
      // LINEAR in half-steps. The collect is a 1-row Long (the repo's
      // bounded-argmax discipline), and the half-step was already a
      // synchronous frontier — AQE materialized its stages sequentially
      // either way.
      val mxRow = raw.agg(max(col("raw")).as("mx")).head()
      // empty graph: no rows to rescale; any positive divisor works
      val mx = if (mxRow.isNullAt(0)) 1L else mxRow.getLong(0)
      raw.select(col(key),
        when(expr(s"(raw * $scale) div $mx") < 0, raise_error(lit(
          s"hits: score overflow at scale=$scale (maxdeg·scale² " +
            "exceeds Long.Max) — lower scale")))
          .otherwise(expr(s"(raw * $scale) div $mx")).as(out))
    }
    var hub = e.select(col("src")).distinct()
      .select(col("src"), lit(scale).as("hub"))
    var auth: DataFrame = null
    for (i <- 1 to iters) {
      auth = rescaled(
        e.join(hub, "src").groupBy(col("dst")).agg(sum(col("hub")).as("raw")),
        "dst", "auth")
      hub = rescaled(
        e.join(auth, "dst").groupBy(col("src")).agg(sum(col("auth")).as("raw")),
        "src", "hub")
      // depth + cache-retention backstop for long runs: eager checkpoint,
      // then release the accumulated half-step caches (amortized over 4
      // iterations); typical 2-3 iteration calls never hit it
      if (i % 4 == 0 && i < iters) {
        auth = auth.truncateLineage(); hub = hub.truncateLineage()
        held.foreach(_.unpersist(false)); held.clear()
      }
    }
    // final half-step outputs persisted: the union's action re-derived
    // both rescale projections (max-broadcast joins over the raw caches)
    // on every invocation; node-sized, same retention story as the
    // per-iteration raw caches
    hub.persistOnce().select(col("src").as("node"), lit("hub").as("kind"),
        col("hub").as("score"))
      .unionAll(auth.persistOnce()
        .select(col("dst").as("node"), lit("auth").as("kind"),
          col("auth").as("score")))
  }

  /** Bounded k-core peeling: `rounds` iterations of "drop every node
    * with degree < k, then re-derive degrees" over a SYMMETRIZED,
    * DISTINCT edge table (both directions present, so src-degree = full
    * degree; no parallel edges — a multigraph input would inflate
    * degrees by multiplicity and keep nodes below k in the simple-graph
    * core. Dedup upstream: callers usually derive edges via a distinct
    * already, so an unconditional re-distinct here would waste a full
    * edge shuffle). The
    * classic core-decomposition step that strips hangers-on from a graph
    * before community work; the true k-core is this peel's fixpoint, and
    * a bounded round count keeps the result exactly replayable in an
    * unrolled SQL oracle (the [[pageRank]] iteration discipline — at
    * fixture scale 3 rounds converge; production fixpoints loop until a
    * round removes nothing).
    *
    * Scale shape per round: one degree aggregation + two node-set
    * semi-joins. Survivor sets shrink monotonically, so round r's edge
    * set equals the ORIGINAL edges restricted to round r's survivors —
    * the edge table therefore materializes exactly once (persisted) and
    * each round filters it with the latest survivor set (node-sized; AQE
    * broadcasts it). The tiny survivor set is referenced by both
    * endpoint joins AND the next round's degree count, so it follows the
    * [[RoundCaches]] cadence. Output: every surviving node with its final
    * within-core degree.
    */
  def kcorePeel(edges: DataFrame, k: Int, rounds: Int): DataFrame = {
    require(k >= 1 && rounds >= 1)
    val e0 = edges.select(col("src"), col("dst")).persistOnce()
    var cur = e0
    val caches = new RoundCaches
    for (r <- 1 to rounds) {
      // survivor sets follow the [[RoundCaches]] cadence. (An r16
      // experiment replaced the per-round persists with lazy
      // localCheckpoints + stage fusing, the [[resolveRedirects]] move:
      // warm wall went 1.0s -> 6.1s because the peel re-executed 12
      // task-seconds of edge-sized double joins per pass — for
      // EDGE-sized round tables the cached nest is the right trade, the
      // flat-RDD rebuild only wins for node-sized state.)
      val keepB = caches.round(
        cur.groupBy(col("src")).agg(count(lit(1)).as("deg"))
          .filter(col("deg") >= k).select(col("src")), r)
      // the round's edge table is held too: round r+1's degree aggregate
      // and the final core-degree both re-reference it, and an
      // unmaterialized cur re-executed the whole e0 ⋈ keep₁ ⋈ … ⋈ keepᵣ
      // chain per reference — O(rounds²) edge joins overall (observed as
      // three identical edge-sized shuffle writes per warm run at sf0.1).
      // Persisted, each round's double-join runs exactly once and total
      // work is O(rounds).
      cur = caches.hold(e0.join(keepB, "src")
        .join(keepB.withColumnRenamed("src", "dst"), "dst")
        .select(col("src"), col("dst")))
    }
    cur.groupBy(col("src").as("node")).agg(count(lit(1)).as("core_deg"))
  }

  /** Per-node triangle counts over a simple undirected graph given as
    * DISTINCT canonical pairs `(a, b)` with `a < b` (one row per edge;
    * a multigraph input would double-count triangles per parallel
    * edge — dedup upstream, same contract as [[kcorePeel]]).
    *
    * Algorithm: degree-ordered orientation (the classic compact-forward
    * / Latapy scheme). Every edge is oriented from its lower-(degree,
    * id) endpoint to the higher one, wedges are enumerated by self-
    * joining the oriented list on the source, and a wedge closes iff
    * its two tips are themselves an edge. Each triangle is produced
    * exactly once (its unique lowest-ordered corner emits it).
    *
    * Why orientation matters at 100 TB: the naive wedge join fans out
    * Σ deg(v)² rows — a single 10M-degree hub yields 10¹⁴ wedges. After
    * orienting by total degree order, every out-degree is O(√m), so the
    * wedge count is bounded by O(m^1.5) REGARDLESS of skew — the skew
    * mitigation is structural, not a salting patch.
    *
    * Triangles close by PER-EDGE ADJACENCY INTERSECTION, not a wedge
    * self-join: triangles(u→v) = N⁺(u) ∩ N⁺(v), so each oriented edge
    * joins the out-adjacency arrays of its two endpoints and one
    * codegen'd array_intersect yields that edge's closing corners
    * directly. The O(m^1.5) wedge stream never materializes as rows —
    * intersect WORK is the same bound, but the only row streams are the
    * m edges and the actual triangles (13.2M vs 28.7M wedge rows on the
    * sf0.1 fixture, measured 3.7s -> 1.7s warm). Per-node counts: the
    * pivot and tip corners aggregate from the per-edge intersection
    * SIZE (edge-sized groupBys), only the third corner explodes one row
    * per triangle. Arrays are O(√m) by the orientation bound, so a row
    * is never pathological; the adjacency join is a plain equi-join —
    * broadcast at fixture scale, shuffled (array-duplicating, the same
    * m^1.5 bytes the wedge stream was) beyond; nothing is collected.
    */
  def triangleCounts(edges: DataFrame): DataFrame = {
    val e = edges.select(col("a"), col("b")).persistOnce()
    val und = e.select(col("a").as("n"), col("b").as("m"))
      .unionAll(e.select(col("b").as("n"), col("a").as("m")))
    val deg = und.groupBy(col("n")).agg(count(lit(1)).as("deg"))
    // (deg, id) lexicographic order via struct comparison — total and
    // strict because ids are distinct.
    val withDeg = e
      .join(deg.select(col("n").as("a"), col("deg").as("dega")), "a")
      .join(deg.select(col("n").as("b"), col("deg").as("degb")), "b")
    val oriented = withDeg.select(
      when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
        col("a")).otherwise(col("b")).as("u"),
      when(struct(col("dega"), col("a")) < struct(col("degb"), col("b")),
        col("b")).otherwise(col("a")).as("v"))
      .persistOnce()
    val adj = oriented.groupBy(col("u"))
      .agg(sort_array(collect_list(col("v"))).as("nu"))
    // The adjacency intersection is CPU-heavy per row but byte-light —
    // exactly the shape AQE's size-based coalescing (which now governs
    // cached plans too) mis-sizes: at fixture scale the paired stream
    // coalesces to ONE task and the whole O(m^1.5) intersection runs
    // serially (q_triangles 0.6s → 3.9s when the cached-plan coalescing
    // landed). Spread it explicitly when the graph is small enough for
    // coalescing to collapse it; at scale the stream is many advisory-
    // sized partitions already and the branch no-ops. The edge count is
    // one cheap aggregate over the persisted edge table.
    val spreadPairs = e.count() <
      2000000L * e.sparkSession.sparkContext.defaultParallelism / 32
    val paired = oriented
      .join(adj, "u")
      .join(adj.select(col("u").as("v"), col("nu").as("nv")), "v")
    val tri = (if (spreadPairs)
        paired.repartition(e.sparkSession.sparkContext.defaultParallelism)
      else paired)
      .select(col("u"), col("v"),
        array_intersect(col("nu"), col("nv")).as("ws"))
      .filter(size(col("ws")) > 0)
      .persistOnce()
    // every triangle (u, v, w) is emitted once, on its unique lowest-
    // ordered corner's edge (u, v); exploding ws and then fanning each
    // (u, v, w) row into its three corners counts every corner's
    // triangles with ONE count aggregate: u and v appear once per
    // element of ws (= the intersection size the old struct form
    // carried), w once per containing row. Still one pass over the
    // persisted tri cache like the r15 form, but plain value explodes
    // replace the per-row struct transform + struct array concat that
    // dominated the scan's CPU (~40% of the stage). tri stays
    // persisted: the adjacency-list intersections above it are the
    // expensive leg, and a resident pipeline reads them once.
    tri.select(col("u"), col("v"), explode(col("ws")).as("w"))
      .select(explode(array(col("u"), col("v"), col("w"))).as("node"))
      .groupBy(col("node")).agg(count(lit(1)).as("tri_cnt"))
  }

  /** Bounded synchronous min-label propagation over a SYMMETRIZED,
    * DISTINCT edge table: every node starts labeled with its own id,
    * and each round every node adopts the minimum of its own label and
    * its neighbors' labels. After r rounds, nodes ≤ r hops from a
    * component's minimum share its label — the fixpoint is exact
    * connected components (the pointer-jumping path `clusterPairs`
    * computes in O(log n) rounds); the bounded form is the streaming/
    * incremental-friendly variant whose every round an unrolled SQL
    * oracle can replay ([[pageRank]] discipline).
    *
    * Scale shape per round: one edge-sized join + min-aggregation
    * (map-side partial min makes the shuffle node-sized), then a
    * node-sized left join. The label frontier feeds both the next
    * round's neighbor join and its own-label fallback, so it follows the
    * [[RoundCaches]] cadence (lazy persist measured 2.3s -> 0.75s at
    * sf0.1 against an eager checkpoint per round).
    */
  def labelPropagate(edges: DataFrame, rounds: Int): DataFrame = {
    require(rounds >= 1)
    // hash-partition the edge table on the join key ONCE: the cached
    // scan's outputPartitioning satisfies every round's join requirement,
    // so each round shuffles only the node-sized frontier — r rounds cost
    // one edge shuffle total, not r
    val e = edges.select(col("src"), col("dst"))
      .repartition(col("src")).persistOnce()
    // symmetrized input: distinct src IS the node set
    var lab = e.select(col("src").as("node")).distinct()
      .select(col("node"), col("node").as("lab"))
      .persistOnce()
    val caches = new RoundCaches
    for (r <- 1 to rounds) {
      val nbr = e.join(lab, e("src") === lab("node"))
        .groupBy(col("dst")).agg(min(col("lab")).as("nlab"))
      lab = caches.round(lab.join(nbr, lab("node") === nbr("dst"), "left")
        .select(col("node"),
          least(col("lab"), coalesce(col("nlab"), col("lab"))).as("lab")), r)
    }
    lab
  }

  /** Bounded multi-source BFS hop distances over a SYMMETRIZED, DISTINCT
    * edge table: every node in `sources` starts at distance 0, and each
    * round every node adopts `min(own, min(neighbor) + 1)`. After r
    * rounds the table holds exact hop distances for every node within r
    * hops of a source (unreached nodes are absent — no sentinel row).
    * The fixpoint is single/multi-source shortest hop count; the bounded
    * form keeps every round replayable in an unrolled SQL oracle (the
    * [[pageRank]] discipline).
    *
    * Scale shape per round: one edge ⋈ frontier equi-join whose dst-side
    * min-aggregation partial-combines map-side (shuffle is node-sized),
    * then a node-sized outer merge. Only rows whose distance CHANGED last
    * round propagate (`frontier`), so a round's join touches the edges of
    * the expanding wavefront, not the whole reached set — on a 100-TB
    * graph the late rounds stay frontier-sized instead of rescanning
    * every settled node. Distance tables feed two consumers and follow
    * the [[RoundCaches]] cadence.
    */
  def bfsDistances(edges: DataFrame, sources: DataFrame,
                   rounds: Int): DataFrame =
    ssspDistances(edges.select(col("src"), col("dst"), lit(1L).as("w")),
      sources, rounds)

  /** Bounded Bellman–Ford single/multi-source shortest paths over a
    * weighted edge table (`src`, `dst`, integer `w` ≥ 0): [[bfsDistances]]
    * generalized from hop counts to weighted distance — each round every
    * node adopts `min(own, min over in-edges (neighbor + w))`. After r
    * rounds the table holds the exact shortest distance among paths of
    * ≤ r edges; the fixpoint (r = |V|−1) is true SSSP, and the bounded
    * form keeps each round replayable in an unrolled SQL oracle.
    *
    * Same frontier discipline as BFS — only rows whose distance IMPROVED
    * last round propagate, which is exactly the classic Bellman–Ford
    * queue optimization: an unchanged node's relaxations were all
    * delivered in the round it last improved, so re-propagating it adds
    * nothing. Integer weights keep min-merge deterministic (no float
    * summation-order ties).
    */
  def ssspDistances(edges: DataFrame, sources: DataFrame,
                    rounds: Int): DataFrame = {
    require(rounds >= 1)
    val e = edges.select(col("src"), col("dst"), col("w").cast("long").as("w"))
      .repartition(col("src")).persistOnce()
    var dist = sources.select(col("node")).distinct()
      .select(col("node"), lit(0L).as("dist"))
      .persistOnce()
    var frontier = dist
    val caches = new RoundCaches
    for (r <- 1 to rounds) {
      // rnode is an ALIAS (fresh attribute): dist's lineage already
      // contains e's dst, so an unaliased reach("dst") would be ambiguous
      // now that round tables keep lineage (persist, not localCheckpoint).
      val reach = e.join(frontier, e("src") === frontier("node"))
        .groupBy(col("dst")).agg(min(col("dist") + col("w")).as("nd"))
        .select(col("dst").as("rnode"), col("nd"))
      val merged = caches.round(
        dist.join(reach, dist("node") === reach("rnode"), "full")
          .select(coalesce(dist("node"), reach("rnode")).as("node"),
            least(col("dist"), col("nd")).as("newdist"), col("dist")), r)
      frontier = merged.filter(col("dist").isNull || col("newdist") < col("dist"))
        .select(col("node"), col("newdist").as("dist"))
      dist = merged.select(col("node"), col("newdist").as("dist"))
    }
    dist
  }

  /** Bloom-filter-pruned semi-join — the runtime-filter pattern for the
    * "fact ⋈ dim where the dim KEY SET is too big to broadcast raw but a
    * few megabits summarize it" regime. Classic two-phase plan:
    *
    *  1. BUILD: each dim key sets `numHashes` bits (xxhash64 seeded by
    *     the probe index) in a `numBits`-wide bitmap. The bitmap is built
    *     distributively — per-word `bit_or` aggregation with map-side
    *     partial combine, so the shuffle is ≤ numBits/64 words no matter
    *     how many dim keys stream in — then packed into ONE map row and
    *     broadcast.
    *  2. PROBE: the fact side tests all `numHashes` bits with a local
    *     `forall` against the broadcast bitmap — zero shuffle, zero
    *     fact-side expansion; a miss on ANY bit proves the key absent.
    *  3. VERIFY: survivors (true matches + Bloom false positives) run the
    *     EXACT semi-join, so the result is precisely `fact ⋉ dim` — the
    *     filter only shrinks the exact join's probe side (at ~1% fpp the
    *     shuffle carries the matching fraction instead of the full fact).
    *
    * Spark's AQE injects this same pattern automatically in narrow cases
    * (runtime bloom on shuffle joins); the explicit form works
    * mid-pipeline — under caches, checkpoints, or iterative plans where
    * the optimizer cannot see through — and sizes the filter from domain
    * knowledge. Sizing: fpp ≈ (1 - e^(-kn/m))^k; the default 2^20 bits /
    * 5 hashes holds ~100k keys at ~1% fpp. numBits must be a power of two
    * (bit positions come from a mask, not a modulo).
    */
  def bloomSemiJoin(fact: DataFrame, factKey: Column, dim: DataFrame,
                    dimKey: Column, numBits: Int = 1 << 20,
                    numHashes: Int = 5): DataFrame = {
    val (probed, keys) = bloomProbe(fact, factKey, dim, dimKey,
      numBits, numHashes)
    probed.filter(col("__might"))
      .join(keys, col("__bk") === keys("k"), "left_semi")
      .drop("__bk", "__might")
  }

  /** Bloom-accelerated ANTI join — the incremental-dedup scale shape
    * ("drop every new record whose key already exists in a history too
    * big to broadcast"). The Bloom filter's one-sided error works FOR the
    * anti-join: a bitmap MISS proves the key absent from the history, so
    * the miss fraction — nearly everything, when most records are new —
    * is emitted directly with ZERO shuffle; only bitmap HITS (true dups +
    * ~fpp false positives) run the exact anti-join that rescues the
    * false positives. Result is exactly `fact ▷ dim`; the anti-join's
    * shuffle carries the hit fraction instead of the whole delta.
    */
  def bloomAntiJoin(fact: DataFrame, factKey: Column, dim: DataFrame,
                    dimKey: Column, numBits: Int = 1 << 20,
                    numHashes: Int = 5): DataFrame = {
    val (probed, keys) = bloomProbe(fact, factKey, dim, dimKey,
      numBits, numHashes)
    // deliberately NOT persisted: the probe is pure map work over the
    // scan, so the union's two branches re-running it costs a second
    // codegen'd pass — materializing the whole fact to avoid that would
    // be the opposite of the operator's zero-materialization story.
    val definitelyNew = probed.filter(!col("__might")).drop("__bk", "__might")
    val rescued = probed.filter(col("__might"))
      .join(keys, col("__bk") === keys("k"), "left_anti")
      .drop("__bk", "__might")
    definitelyNew.unionAll(rescued)
  }

  /** Shared Bloom build + probe for [[bloomSemiJoin]]/[[bloomAntiJoin]]:
    * returns (fact + `__bk` key + `__might` bitmap verdict, dim key set).
    * `__might` = false proves the key is NOT in dim (no false negatives);
    * `__might` = true needs exact verification (~fpp false positives).
    * Package-private so the pruning property (few `__might` survivors on
    * disjoint key spaces) is directly testable.
    */
  private[graft] def bloomProbe(fact: DataFrame, factKey: Column,
                                dim: DataFrame, dimKey: Column, numBits: Int,
                                numHashes: Int): (DataFrame, DataFrame) = {
    // upper bound: the dense bitmap rides ONE broadcast row (numBits/64
    // longs) — 2^28 bits = 32 MB, the sane broadcast ceiling. Bigger key
    // sets want a coarser filter (higher fpp still prunes) or the plain
    // shuffle join, not a quarter-gigabyte row on every executor.
    require(numBits >= 128 && numBits <= (1 << 28) &&
      (numBits & (numBits - 1)) == 0,
      "numBits must be a power of two in [128, 2^28]")
    require(numHashes >= 1 && numHashes <= 16)
    val mask = numBits - 1
    val numWords = numBits / 64
    // HASH PARITY ACROSS TYPES: xxhash64 hashes an int and a long of the
    // same value differently, so a type-mismatched (but join-compatible)
    // key pair would set bits the probe never tests — Bloom false
    // NEGATIVES, i.e. silently dropped true matches. When the resolved
    // key dtypes differ, both sides hash a canonical string rendering;
    // same-typed keys keep the cheaper native hash.
    val ft = fact.select(factKey.as("k")).schema.head.dataType
    val dt = dim.select(dimKey.as("k")).schema.head.dataType
    val (fKey, dKey) =
      if (ft == dt) (factKey, dimKey)
      else (factKey.cast("string"), dimKey.cast("string"))
    val keys = dim.select(dimKey.as("k"), dKey.as("kh")).persistOnce()
    // (hash & mask) is non-negative for a positive mask regardless of the
    // hash sign — two's complement AND, no pmod needed. The bitmap packs
    // into a DENSE array (one long per 64-bit word, zero-filled words
    // union'd in so every index exists): array element_at is O(1) indexed
    // access, where a MAP bitmap's element_at linear-scans the entries on
    // EVERY probe — measured 82s vs sub-second for the probe pass at
    // sf0.1 with a 16k-word map.
    val zeroWords = dim.sparkSession.range(numWords)
      .select(col("id").as("wi"), lit(0L).as("word"))
    // hash positions UNROLLED (numHashes <= 16, bounded): the previous
    // transform/forall lambdas evaluated interpreted per element on
    // every probe row — higher-order functions do not participate in
    // whole-stage codegen — and the probe pass dominated the operator's
    // task CPU. The unrolled conjunction is plain codegen'd expressions
    // over the identical bit positions (bit-compatible bitmap).
    val hashSeeds = 0 until numHashes
    val bloom = keys
      .select(explode(array(hashSeeds.map(s =>
        expr(s"xxhash64(kh, $s) & $mask")): _*)).as("pos"))
      .select(expr("pos div 64").as("wi"),
        expr("shiftleft(1L, CAST(pos % 64 AS INT))").as("word"))
      .unionAll(zeroWords)
      .groupBy(col("wi")).agg(expr("bit_or(word)").as("word"))
      .groupBy()
      .agg(expr("transform(array_sort(collect_list(struct(wi, word))), " +
        "x -> x.word)").as("bf"))
      // 1-row bitmap: persisted so a resident pipeline's repeated probes
      // reuse the built filter instead of re-folding the key set
      .persistOnce()
    val mightTest = hashSeeds.map { s =>
      s"((element_at(bf, CAST(((xxhash64(__bkh, $s) & $mask)) div 64 AS INT) + 1) & " +
        s"shiftleft(1L, CAST((xxhash64(__bkh, $s) & $mask) % 64 AS INT))) != 0)"
    }.mkString(" AND ")
    val probed = fact.withColumn("__bk", factKey).withColumn("__bkh", fKey)
      .crossJoin(broadcast(bloom))
      .withColumn("__might", expr(mightTest))
      .drop("bf", "__bkh")
    (probed, keys.select(col("k")))
  }

  // ------------------------------------------------------- round-12 tier

  /** Content-defined chunking (CDC) dedup at token granularity — the
    * storage-dedup idiom (Gear/FastCDC family) applied to text: a chunk
    * boundary falls AFTER token i exactly when the `window`-token gram
    * ending at i hashes to 0 mod `modulus`, so boundaries are anchored to
    * CONTENT, not position. An insertion near a doc's head shifts every
    * fixed-window chunk after it, but CDC boundaries downstream of the
    * edit re-synchronize within ~`modulus` tokens — the property that
    * makes chunk-level dedup robust to the small edits a crawl's
    * re-scraped pages actually carry (contrast [[chunkDocs]]'s fixed
    * windows, which this operator exists to complement).
    *
    * A chunk OCCURRENCE is a duplicate when an identical chunk appears
    * earlier in the corpus — earlier = smaller (doc_id, start) under the
    * row_number tiebreak, so the first occurrence is deterministic and
    * the DuckDB oracle replays it exactly. Output one row per doc:
    * chunk count, duplicate-chunk count, exact integer dup ppm.
    *
    * Scale shape: posexplode is token-proportional (the same tall table
    * every tokenize op builds); the two windows are keyed per doc (doc-
    * sized partitions) and the occurrence ranking shuffles on the chunk
    * fingerprint — candidates never expand beyond the corpus's own chunk
    * occurrences, so there is no pair blowup anywhere. Expected chunk
    * length is `modulus` tokens; raise it for coarser chunks (fewer
    * rows, less dedup recall inside long spans).
    */
  def cdcChunks(df: DataFrame, key: Column, text: Column,
                window: Int = 4, modulus: Int = 8): DataFrame = {
    val toks = df.select(key.as("doc_id"),
      posexplode(TextFns.tokens(text)).as(Seq("pos0", "tok")))
    val byPos = Window.partitionBy(col("doc_id")).orderBy(col("pos0"))
    // the window-gram ending at this token; lag nulls at the doc head
    // would shorten the gram under concat_ws's null-skip, so the
    // boundary flag is gated on pos0 >= window-1 where every lag is real
    val gram = concat_ws(" ",
      ((window - 1) to 1 by -1).map(j => lag(col("tok"), j).over(byPos)) :+
        col("tok"): _*)
    val rolled = conv(substring(md5(gram), 1, 8), 16, 10).cast("long")
    val flagged = toks.withColumn("b",
      col("pos0") >= lit(window - 1) && rolled % lit(modulus) === 0)
    val chunks = flagged
      // a token's chunk = number of boundaries strictly before it
      .withColumn("cid", coalesce(
        sum(col("b").cast("long"))
          .over(byPos.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .groupBy(col("doc_id"), col("cid"))
      .agg(min(col("pos0")).as("st"),
        concat_ws(" ", transform(
          array_sort(collect_list(struct(col("pos0"), col("tok")))),
          x => x.getField("tok"))).as("ctext"))
      .withColumn("fp", md5(col("ctext")))
    val byFirst = Window.partitionBy(col("fp"))
      .orderBy(col("doc_id"), col("st"))
    chunks
      .withColumn("dup", (row_number().over(byFirst) > 1).cast("long"))
      .groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_chunks"), sum(col("dup")).as("n_dup_chunks"),
        expr("sum(dup) * 1000000 div count(1)").as("dup_ppm"))
  }

  /** Priority-aware duplicate resolution — when the same page reaches the
    * corpus through several sources, a real pipeline keeps the copy from
    * the most trusted one, NOT the one that happened to arrive first.
    * Duplicate classes are the full-MinHash signature classes of
    * [[withSigKey]] (the [[dedupSignature]] relation); within each class
    * the keeper is the minimum (priority, doc_id) under a row_number —
    * deterministic, so the oracle replays it. Output one row per source:
    * doc/kept/dropped counts plus `n_rescued`, the kept docs that the
    * naive min-doc_id rule would have discarded in favor of a lower-
    * priority copy — the exact benefit of priority resolution over
    * [[dedupSignature]], gated as a count.
    *
    * Scale shape: one map-side signature pass, then both windows share
    * ONE sig_key shuffle; no pair expansion, no text moves past the
    * signature projection. The cheapest dedup-family plan, same as
    * [[dedupSignature]], plus only the bounded per-source rollup.
    */
  def dedupPriority(df: DataFrame, key: Column, text: Column,
                    source: Column, priority: Column): DataFrame = {
    val keyed = withSigKey(
      df.select(key.as("doc_id"), source.as("source"), priority.as("prio"),
        text.as("_t")),
      col("doc_id"), col("_t")).drop("_t")
    val cls = Window.partitionBy(col("sig_key"))
    val ranked = keyed
      .withColumn("rn",
        row_number().over(cls.orderBy(col("prio"), col("doc_id"))))
      .withColumn("n", count(lit(1)).over(cls))
      .withColumn("min_id", min(col("doc_id")).over(cls))
    ranked.groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("rn") === 1).cast("long")).as("n_kept"),
        sum((col("rn") > 1).cast("long")).as("n_dropped"),
        sum((col("rn") === 1 && col("n") > 1 &&
          col("doc_id") =!= col("min_id")).cast("long")).as("n_rescued"))
  }

  /** Soft dedup — the weighting alternative to hard drops: instead of
    * discarding duplicates, every member of a near-dup class (the
    * [[withSigKey]] MinHash signature relation) gets sampling weight
    * 1/class_size, so each distinct CONTENT carries one unit of
    * training mass no matter how many copies crawled in. The per-source
    * rollup reports doc counts, duplicated-doc counts, and the exact
    * integer effective-document mass Σ⌊10^6/csize⌋ — the number a
    * mixture designer compares against raw doc counts to see how much
    * of a source is really there. One map-side signature pass and one
    * sig_key shuffle shared by both window aggregates ([[dedupPriority]]'s
    * shape), then the bounded per-source rollup.
    */
  def dedupSoft(df: DataFrame, key: Column, text: Column,
                source: Column): DataFrame = {
    val keyed = withSigKey(
      df.select(key.as("doc_id"), source.as("source"), text.as("_t")),
      col("doc_id"), col("_t")).drop("_t")
    keyed
      .withColumn("csize",
        count(lit(1)).over(Window.partitionBy(col("sig_key"))))
      .groupBy(col("source"))
      .agg(count(lit(1)).as("n_docs"),
        sum((col("csize") > 1).cast("long")).as("n_dup_docs"),
        sum(expr("1000000 div csize")).as("eff_docs_ppm"))
  }

  /** URL canonicalization — the first dedup a crawl pipeline runs,
    * BEFORE any content fetch: the same page arrives as
    * `HTTPS://WWW.Site.COM:443/path/?utm_source=feed#frag` and
    * `https://www.site.com/path`, and canonical-URL identity collapses
    * them without touching a byte of content. Steps (each a codegen'd
    * string/array expression, no UDF): lowercase the scheme and
    * host:port authority, strip the scheme's default port (:80 http /
    * :443 https), drop the fragment, drop tracking parameters
    * (`utm_*`, `ref`, `fbclid`, `gclid`), sort the surviving query
    * parameters (param ORDER is almost never semantic; sorting makes
    * `?a=1&b=2` and `?b=2&a=1` one key), and strip a trailing slash
    * from non-root paths. Path CASE is preserved — paths are
    * case-significant on most origins, so folding them would merge
    * distinct pages (precision loss), while everything stripped here
    * is spec-insignificant (RFC 3986 §6) or tracking noise. An input
    * with no `scheme://` at all canonicalizes to NULL — without this,
    * every malformed row would silently collapse into ONE shared junk
    * key and read as a giant duplicate class; NULL keeps bad rows
    * visible (one NULL-keyed group in [[dedupUrl]], never merged with
    * a real URL).
    */
  def canonicalizeUrl(url: Column): Column = {
    val scheme = lower(regexp_extract(url, "^([A-Za-z][A-Za-z0-9+.-]*)://", 1))
    val authRaw = lower(regexp_extract(url, "^[^:/?#]+://([^/?#]*)", 1))
    val auth = when(scheme === "https", regexp_replace(authRaw, ":443$", ""))
      .when(scheme === "http", regexp_replace(authRaw, ":80$", ""))
      .otherwise(authRaw)
    val pathRaw = regexp_extract(url, "^[^:/?#]+://[^/?#]*([^?#]*)", 1)
    val pathAbs = when(pathRaw === "", lit("/")).otherwise(pathRaw)
    val path = when(length(pathAbs) > 1, regexp_replace(pathAbs, "/$", ""))
      .otherwise(pathAbs)
    // anchor the query BEFORE the first '#': a bare '\?' would match a
    // question mark INSIDE the fragment and leak fragment content into
    // the canonical key ('/p#sec?b=2' must canonicalize like '/p')
    val query = regexp_extract(url, "^[^#?]*\\?([^#]*)", 1)
    // tracking params drop in both spellings: valued ('ref=x') AND
    // bare ('ref', '&fbclid&' — real crawls carry both); utm_* is a
    // prefix rule so it already catches bare 'utm_x'
    val params = array_join(
      array_sort(filter(split(query, "&"), p =>
        !(p.startsWith("utm_") ||
          p === "ref" || p.startsWith("ref=") ||
          p === "fbclid" || p.startsWith("fbclid=") ||
          p === "gclid" || p.startsWith("gclid=") ||
          p === ""))), "&")
    when(scheme === "", lit(null).cast("string"))
      .otherwise(concat(scheme, lit("://"), auth, path,
        when(params === "", lit("")).otherwise(concat(lit("?"), params))))
  }

  /** URL-identity dedup over [[canonicalizeUrl]] keys — one row per
    * canonical URL with its min-key representative, member count, and
    * the count of DISTINCT raw spellings that collapsed into it (the
    * crawl-frontier savings readout: raw forms minus canonical keys is
    * exactly the fetches canonicalization avoids). Scale shape: one
    * map-side canonicalization pass, one canonical-key shuffle — no
    * content column ever moves, which is the entire point of running
    * this stage before fetch/content dedup at 100 TB.
    */
  def dedupUrl(df: DataFrame, key: Column, url: Column): DataFrame =
    df.select(key.as("doc_id"), url.as("u"))
      .withColumn("canon_url", canonicalizeUrl(col("u")))
      .groupBy(col("canon_url"))
      .agg(min(col("doc_id")).as("cluster_rep"),
        count(lit(1)).as("n_members"),
        countDistinct(col("u")).as("n_raw_forms"))
      .select(col("canon_url"), col("cluster_rep"), col("n_members"),
        col("n_raw_forms"))

  /** URL blocklist filtering — the robots/policy screen next to
    * [[dedupUrl]] in a crawl pipeline: a SMALL rule table of
    * (host, path_prefix) disallow rules is broadcast against the URL
    * table (rules are thousands of rows; URLs are the corpus — the
    * join side choice is the whole design), each URL matching ANY rule
    * on its canonical host + path-prefix is dropped, and the per-host
    * rollup reports kept/dropped counts — the frontier-shrink readout.
    * Matching runs on [[canonicalizeUrl]] output so case/port/tracking
    * variants of a blocked URL cannot slip past the rule. Scale shape:
    * one map-side canonicalization, one BROADCAST left join against
    * the rule table, then a per-URL any-match aggregate (a URL hit by
    * SEVERAL rules must count blocked ONCE — the join multiplies, the
    * max() collapses) riding one (doc, host) shuffle, and the bounded
    * host rollup partial-aggregates on top of it; the corpus never
    * shuffles on anything but its own keys.
    */
  def filterUrls(df: DataFrame, key: Column, url: Column,
                 rules: Seq[(String, String)]): DataFrame = {
    require(rules.nonEmpty, "filterUrls: empty rule table")
    val spark = df.sparkSession
    import spark.implicits._
    val ruleDf = rules.toDF("r_host", "r_prefix")
    val canon = df.select(key.as("doc_id"), canonicalizeUrl(url).as("cu"))
      .withColumn("host", regexp_extract(col("cu"), "^[^:/?#]+://([^/?#]*)", 1))
      .withColumn("path", regexp_extract(col("cu"), "^[^:/?#]+://[^/?#]*([^?#]*)", 1))
    canon.join(broadcast(ruleDf),
        col("host") === col("r_host") &&
          col("path").startsWith(col("r_prefix")), "left")
      .groupBy(col("doc_id"), col("host"))
      .agg(max(col("r_host").isNotNull.cast("long")).as("b"))
      .groupBy(col("host"))
      .agg(count(lit(1)).as("n_urls"), sum(col("b")).as("n_blocked"))
      .select(col("host"), col("n_urls"), col("n_blocked"),
        (col("n_urls") - col("n_blocked")).as("n_kept"))
  }

  /** Anchor-text index — the link-graph signal extraction between
    * [[TextFns.stripHtml]] and ranking/quality scoring: what OTHER
    * pages' links say about a page is the classic relevance and
    * quality signal (anchor text routinely describes a target better
    * than the target describes itself), and the same extraction yields
    * the edge list every link-graph operator (PageRank/HITS) consumes.
    * Per page, `<a href="...">text</a>` anchors are extracted with one
    * codegen'd regexp pass per capture group (the two
    * `regexp_extract_all` runs enumerate the SAME match sequence, so
    * zipping them cannot misalign href and text); hrefs canonicalize
    * through [[canonicalizeUrl]] so spelling variants of one target
    * collapse (relative hrefs canonicalize to NULL and stay VISIBLE as
    * the one NULL-keyed group — the resolve-against-base step is a
    * separate stage, and losing them here would silently understate
    * the link volume). Output per canonical target: in-link count,
    * distinct linking documents, total anchor-text token volume, and
    * the modal anchor term (count-majority, ties to the
    * lexicographically LAST term — one deterministic argmax, same
    * discipline as [[naiveBayes]]).
    *
    * Scale shape: extraction is pure map regexp work ∝ page bytes;
    * the index is two dst-keyed shuffles (link grain + term grain)
    * joined on the bounded per-target rows — anchor tokens, not page
    * bytes, are the widest thing that moves.
    */
  def anchorIndex(df: DataFrame, key: Column, html: Column): DataFrame = {
    val anchorPat = "<a\\s+href=\"([^\"]*)\"[^>]*>([^<]*)</a>"
    val links = df.select(key.as("src_id"),
        arrays_zip(
          regexp_extract_all(html, lit(anchorPat), lit(1)),
          regexp_extract_all(html, lit(anchorPat), lit(2))).as("az"))
      .select(col("src_id"), explode(col("az")).as("a"))
      .select(col("src_id"),
        canonicalizeUrl(col("a.0")).as("dst_url"),
        TextFns.tokens(col("a.1")).as("toks"))
    val linksC = cacheOnce(links)
    val byDst = linksC.groupBy(col("dst_url"))
      .agg(count(lit(1)).as("n_links"),
        countDistinct(col("src_id")).as("n_srcs"),
        sum(size(col("toks"))).as("n_anchor_toks"))
    val topTerm = linksC
      .select(col("dst_url"), explode(col("toks")).as("term"))
      .groupBy(col("dst_url"), col("term"))
      .agg(count(lit(1)).as("n"))
      .groupBy(col("dst_url"))
      .agg(max(struct(col("n"), col("term"))).getField("term")
        .as("top_term"))
      .withColumnRenamed("dst_url", "tt_dst")
    // null-SAFE join: the relative-href group is keyed by NULL, and a
    // plain equi-join would silently blank its modal term
    byDst.join(topTerm, col("dst_url") <=> col("tt_dst"), "left")
      .select(col("dst_url"), col("n_links"), col("n_srcs"),
        col("n_anchor_toks"), coalesce(col("top_term"), lit(""))
          .as("top_term"))
  }

  /** sitemap.xml URL extraction — the frontier-DISCOVERY format next
    * to [[parseRobots]] (robots names the sitemaps; the sitemap names
    * the URLs): per `<url>` block, the required `<loc>` (canonicalized
    * through [[canonicalizeUrl]] so the frontier joins against
    * [[dedupUrl]]/[[filterUrls]] keys directly — a sitemap spelling
    * variant of a known URL must not look new), the optional
    * `<lastmod>` and `<priority>` VERBATIM ('' when absent — both are
    * downstream-interpreted strings, and parsing priority to a float
    * here would trade exact replay for nothing). A `<url>` block with
    * no `<loc>` is spec-invalid and stays VISIBLE as a ''-loc row
    * (never silently dropped — the count mismatch is the signal a
    * frontier audit needs).
    *
    * Fully declarative like [[parseRobots]]: one lazy-quantifier
    * regexp_extract_all pass splits the blocks, three regexp_extract
    * passes pull the fields — codegen'd expressions, zero UDF, pure
    * map work ∝ sitemap bytes (the SMALL side of a crawl), no shuffle
    * at all.
    */
  def parseSitemap(df: DataFrame, host: Column, xml: Column): DataFrame =
    df.select(host.as("host"),
        explode(regexp_extract_all(xml,
          lit("<url>(.*?)</url>"), lit(1))).as("b"))
      .select(col("host"),
        canonicalizeUrl(regexp_extract(col("b"),
          "<loc>([^<]*)</loc>", 1)).as("loc"),
        regexp_extract(col("b"), "<lastmod>([^<]*)</lastmod>", 1)
          .as("lastmod"),
        regexp_extract(col("b"), "<priority>([^<]*)</priority>", 1)
          .as("priority"))
      .select(col("host"), coalesce(col("loc"), lit("")).as("loc"),
        col("lastmod"), col("priority"))

  /** Redirect-chain resolution by pointer doubling — the
    * crawl-frontier stage between fetch and content processing: a
    * fetched URL's 3xx Location chain must resolve to its FINAL URL
    * before URL dedup means anything (the same page reached through
    * different entry redirects is one document), and at corpus scale
    * the chains form a functional graph (each URL has at most one
    * `next`) that per-row loops cannot walk without collect. `edges`
    * gives one row per URL: `next` is the redirect target, NULL for a
    * terminal (2xx/4xx) URL. Resolution runs ceil(log2(maxHops))
    * pointer-DOUBLING rounds — each round joins the state table with
    * itself so every pointer covers twice the hops ([[clusterPairs]]'
    * discipline) — then reports per URL: the final URL, the exact hop
    * count, and resolved=0 for chains that exceed `maxHops` or enter a
    * redirect CYCLE (both real crawl phenomena; an unresolved row
    * keeps final_url '' and hops 0 — visible, never dropped, never
    * spun on forever). Duplicate source URLs are a loud precondition
    * violation (the [[parseRobots]] duplicate-key discipline): a
    * functional graph with two `next` values for one URL would resolve
    * nondeterministically.
    *
    * Scale shape: the state table is one row per URL forever; each
    * round is one self-join shuffle keyed by the current pointer —
    * O(log maxHops) shuffles total (5 rounds for the HTTP-practical
    * 32-hop cap), zero driver-side iteration over data.
    */
  def resolveRedirects(edges: DataFrame, url: Column, next: Column,
                       maxHops: Int = 32): DataFrame = {
    require(maxHops >= 1 && maxHops <= 1024,
      "resolveRedirects: maxHops in [1, 1024]")
    val e = cacheOnce(edges.select(url.as("u"), next.as("nxt")))
    val dups = e.groupBy(col("u")).agg(count(lit(1)).as("c"))
      .filter(col("c") > 1).select(col("u")).limit(1).collect()
    require(dups.isEmpty,
      s"resolveRedirects: duplicate source URL '${dups.headOption
        .map(_.getString(0)).getOrElse("")}' — a redirect map must be " +
        "a FUNCTION (merge or dedup upstream first)")
    val rounds = (1 to 30).find(r => (1L << r) >= maxHops).get
    var state = e.select(col("u"),
      coalesce(col("nxt"), col("u")).as("cur"),
      when(col("nxt").isNull, lit(0L)).otherwise(lit(1L)).as("hops"),
      col("nxt").isNull.as("done"))
    // Rounds build LAZILY with per-round lineage truncation on a
    // [[LoopSession]] sized by the edge cache: each round's LogicalRDD
    // caches on first compute (so the self-join's two references cost
    // one evaluation, the job trackedCache used to do), the OUTER plan
    // stays a flat RDD scan instead of a rounds-deep InMemoryRelation
    // nest (whose per-stage AQE plan-description walk dominated the
    // warm pass: 0.8s wall at 0.04 task-sec), and the caller's single
    // action executes every round in one DAGScheduler-chained job.
    state = LoopSession.bind(state, LoopSession(e))
    (1 to rounds).foreach { _ =>
      val hop = state.select(col("u").as("j_u"), col("cur").as("j_cur"),
        col("hops").as("j_hops"), col("done").as("j_done"))
      state = state.join(hop, col("cur") === col("j_u"), "left")
        .select(col("u"),
          when(col("done") || col("j_u").isNull, col("cur"))
            .otherwise(col("j_cur")).as("cur"),
          when(col("done") || col("j_u").isNull, col("hops"))
            .otherwise(col("hops") + col("j_hops")).as("hops"),
          when(col("done"), lit(true))
            .otherwise(coalesce(col("j_done"), lit(false))).as("done"))
        .truncateLineage(eager = false)
    }
    LoopSession.bind(state.select(col("u").as("url"),
      when(col("done"), col("cur")).otherwise(lit("")).as("final_url"),
      when(col("done"), col("hops")).otherwise(lit(0L)).as("hops"),
      col("done").cast("int").as("resolved")), edges.sparkSession)
  }

  /** robots.txt group parse — the crawl-POLICY text format between the
    * WARC walk and [[filterUrls]]: per host, extract the Allow/Disallow
    * rules that apply to `agent` under the practical robots exclusion
    * semantics (RFC 9309's group model): `#` comments stripped, blank
    * lines ignored; CONSECUTIVE `User-agent:` lines form one group
    * header (a UA line preceded by a rule line starts a NEW group);
    * agent names match case-insensitively; a host that has any group
    * naming the agent EXACTLY uses those groups, otherwise its `*`
    * groups; an empty rule value ("Disallow:" alone = nothing
    * disallowed) emits no row. Output one (host, rule, path) row per
    * applicable rule — the rule table [[filterUrls]] consumes.
    *
    * The parse is fully DECLARATIVE — split/posexplode per line,
    * regexp directive extraction, and the group boundary as a lag() +
    * running-sum window keyed per host (the sessionize shape), so the
    * whole parser is codegen'd expressions + two host-keyed window
    * passes over the line table; zero UDF, and any oracle can replay
    * it. Scale shape: line volume ∝ total robots bytes (robots files
    * are KBs — this is the SMALL side of a crawl), shuffles keyed by
    * host only.
    */
  def parseRobots(df: DataFrame, host: Column, content: Column,
                  agent: String): DataFrame = {
    require(agent.nonEmpty && agent != "*",
      "parseRobots: agent must be a concrete (non-*) token")
    // one robots document per host is a PRECONDITION, not a convention:
    // the group-boundary windows order by the per-document line index,
    // so two documents sharing a host would interleave their lines on
    // colliding idx values and the lag/running-sum group detection
    // would go silently nondeterministic. Loud here (the dedupSuffix
    // duplicate-key discipline) — merge or dedup upstream first. Cost:
    // one count aggregate over the robots table, the SMALL side of a
    // crawl by construction.
    val dupHost = df.select(host.as("host")).groupBy(col("host"))
      .agg(count(lit(1)).as("n")).filter(col("n") > 1).limit(1)
      .collect()
    require(dupHost.isEmpty,
      s"parseRobots: host '${dupHost.headOption.map(_.getString(0)).getOrElse("")}' " +
        "has multiple robots documents — one document per host required")
    val lines = df.select(host.as("host"), posexplode(split(content, "\n"))
        .as(Seq("idx", "raw")))
      .select(col("host"), col("idx"),
        trim(regexp_replace(col("raw"), "#.*$", "")).as("line"))
      .filter(col("line") =!= "" && col("line").contains(":"))
      .select(col("host"), col("idx"),
        lower(trim(substring_index(col("line"), ":", 1))).as("directive"),
        trim(expr("substring(line, instr(line, ':') + 1)")).as("value"))
      .filter(col("directive").isin("user-agent", "allow", "disallow"))
    val wSeq = Window.partitionBy(col("host")).orderBy(col("idx"))
    val grouped = lines
      .withColumn("new_group",
        (col("directive") === "user-agent" &&
          coalesce(lag(col("directive"), 1).over(wSeq), lit("")) =!=
            "user-agent").cast("long"))
      .withColumn("gid", sum(col("new_group")).over(wSeq))
      .filter(col("gid") >= 1) // rules before any User-agent: orphaned
    val agents = grouped.filter(col("directive") === "user-agent")
      .groupBy(col("host"), col("gid"))
      .agg(max((lower(col("value")) === agent.toLowerCase).cast("int"))
          .as("exact"),
        max((col("value") === "*").cast("int")).as("star"))
    // host-level pick: exact groups when any exist, else the * groups —
    // decided from a bounded per-host aggregate broadcast-joined back
    val pick = agents.groupBy(col("host"))
      .agg(max(col("exact")).as("has_exact"))
    val rules = grouped
      .filter(col("directive").isin("allow", "disallow") &&
        col("value") =!= "")
      .join(agents, Seq("host", "gid"))
      .join(pick, Seq("host"))
      .filter(when(col("has_exact") === 1, col("exact") === 1)
        .otherwise(col("star") === 1))
      .select(col("host"), col("directive").as("rule"),
        col("value").as("path"))
      .distinct()
    rules
  }

  /** Line-density boilerplate removal (the jusText/Readability family,
    * context-free core) — the extraction-QUALITY stage between HTML
    * strip and the text filters: a crawl page is mostly nav menus,
    * footers and link farms, and a training corpus that keeps them
    * learns to emit "Home | About | Contact". Per LINE of the
    * html-ish input: a line is CONTENT iff it carries at least
    * `minWords` tag-stripped words AND its anchor-text share stays at
    * or under `maxLinkPpm` (characters inside `<a>…</a>` vs the
    * line's clean characters, exact integer ppm — the jusText link
    * density in oracle-replayable form). Per document: line counts,
    * retained clean characters, and the md5 of the IN-ORDER retained
    * clean text (the [[dedupOnion]] reassembly discipline) — a
    * no-content page reports md5("") and stays visible, never a lost
    * row.
    *
    * Scale shape: one posexplode to the line table (line volume ∝
    * corpus bytes), all metrics codegen'd expressions map-side, one
    * doc-keyed aggregate back — a single shuffle keyed by the corpus's
    * own document key. Context-free by design: jusText's
    * neighbor-smoothing pass would be one extra doc-keyed window over
    * the same line table, not a new shuffle class.
    */
  def boilerplateScreen(df: DataFrame, key: Column, html: Column,
                        minWords: Int = 8,
                        maxLinkPpm: Long = 350000L): DataFrame = {
    require(minWords >= 1 && maxLinkPpm >= 0 && maxLinkPpm <= 1000000L,
      "boilerplateScreen: minWords >= 1, maxLinkPpm a ppm in [0, 1e6]")
    // NULL html folds to "" BEFORE the split — split(NULL) would emit
    // zero lines and the document would vanish from the output,
    // breaking the "no-content page reports md5('') and stays
    // visible" contract (the same NULL routing captionConflict uses)
    val lines = df.select(key.as("doc_id"),
      posexplode(split(coalesce(html, lit("")), "\n")).as(Seq("idx", "raw")))
    val m = lines
      // anchor-text characters: contents of every <a …>…</a> pair
      // (case-insensitive tag letter — the stripHtml discipline)
      .withColumn("link_chars", expr(
        "aggregate(regexp_extract_all(raw, " +
          "'<[aA][^>]*>([^<]*)</[aA]>', 1), 0L, " +
          "(acc, x) -> acc + length(x))"))
      .withColumn("clean", trim(regexp_replace(
        regexp_replace(col("raw"), "<[^>]+>", " "), "\\s+", " ")))
      .withColumn("n_words", when(col("clean") === "", lit(0))
        .otherwise(size(split(col("clean"), " "))))
      .withColumn("n_chars", length(col("clean")).cast("long"))
      .withColumn("content",
        col("n_words") >= minWords &&
          col("link_chars") * 1000000L <= col("n_chars") * maxLinkPpm)
    m.groupBy(col("doc_id"))
      .agg(count(lit(1)).as("n_lines"),
        sum(col("content").cast("long")).as("n_content_lines"),
        coalesce(sum(when(col("content"), col("n_chars"))), lit(0L))
          .as("content_chars"),
        md5(concat_ws("\n", transform(array_sort(collect_list(
            when(col("content"), struct(col("idx"), col("clean"))))),
          x => x.getField("clean")))).as("content_md5"))
  }

  /** Cross-source duplication matrix — WHERE the duplicates come from:
    * for every ordered source pair (a, b) with a ≤ b, the number of
    * near-dup classes (the [[withSigKey]] MinHash relation) holding
    * members of BOTH sources (a = b counts classes with ≥ 2 members
    * inside one source). The readout that turns "8% duplicates" into
    * "srcX mirrors srcY" — which decides whether to drop a whole
    * source, not just per-doc survivors. A diagonal cell (a, a) counts
    * only classes with ≥ 2 docs OF THAT SOURCE — one srcA copy inside
    * an otherwise-srcB class is cross-source overlap, not srcA
    * self-duplication. Scale shape: one map-side signature pass, one
    * (sig_key, source) count aggregate, one per-class collect of the
    * (source, count) list — rows AND list entries bounded by the
    * source alphabet, never by class size (a million-copy class is one
    * row per source it touches) — then the ordered pair expansion runs
    * MAP-SIDE over that bounded list into the final ≤ |sources|²
    * rollup. No join anywhere; two key shuffles total.
    */
  def sourceOverlap(df: DataFrame, key: Column, text: Column,
                    source: Column): DataFrame = {
    val keyed = withSigKey(
      df.select(key.as("doc_id"), source.as("source"), text.as("_t")),
      col("doc_id"), col("_t")).drop("_t")
    val perSrc = keyed.groupBy(col("sig_key"), col("source"))
      .agg(count(lit(1)).as("c"))
    val cls = perSrc.groupBy(col("sig_key"))
      .agg(array_sort(collect_list(struct(col("source"), col("c"))))
        .as("sc"))
    // ordered pairs (a <= b) off the sorted per-class list; the slice
    // from position i+1 (1-based) starts AT element i, so the self pair
    // rides along and is kept only when that source holds >= 2 docs
    cls.select(explode(expr(
      """flatten(transform(sc, (a, i) ->
        |  filter(transform(slice(sc, i + 1, size(sc) - i),
        |    b -> struct(a.source AS src_a, b.source AS src_b,
        |                a.c AS ca)),
        |    p -> p.src_a != p.src_b OR p.ca >= 2)))""".stripMargin))
      .as("p"))
      .groupBy(col("p.src_a").as("src_a"), col("p.src_b").as("src_b"))
      .agg(count(lit(1)).as("n_shared_classes"))
  }

  /** Cross-modal caption-conflict report — the alignment screen an
    * image-text training set runs before contrastive training: per
    * IMAGE-identity class (any content key — a perceptual dHash, a
    * pixel md5), how many DISTINCT captions describe the same image
    * (same-image/different-caption: a conflicted positive that teaches
    * the contrastive loss two captions are interchangeable when they
    * may not be), and how many of the class's docs carry a caption that
    * ALSO appears under a different image (same-caption/different-image:
    * a false negative — the in-batch "negative" is actually described
    * by the anchor's own caption). Caption identity is the md5 of the
    * trim+lowercase text — byte-exact after case/edge-whitespace
    * folding, the same normalization tier [[dedupNormalized]] starts
    * from, so an oracle replays it verbatim. One row per image class:
    * its min-doc_id representative, member/caption counts, a 0/1
    * conflict flag, and the cross-image-caption doc count.
    *
    * Scale shape: the (doc, image_key, caption_key) projection is one
    * map pass (no text moves past the md5); the caption-spread
    * aggregate and its join-back shuffle on caption_key, the rollup
    * shuffles on image_key — three key shuffles of fingerprint-width
    * rows, no pair expansion anywhere (conflicts are COUNTED per class,
    * never enumerated as pairs — a hub caption shared by a million
    * images costs one aggregate row, not 10^12 pairs). Output is one
    * bounded row per image class.
    */
  def captionConflict(df: DataFrame, key: Column, imageKey: Column,
                      caption: Column): DataFrame = {
    // NULL and blank-after-trim captions get a per-doc key (the
    // withSigKey 'nosig:' discipline): an inner join on a NULL md5
    // would silently DROP the row from its image class — a crawl with
    // missing alt-text would quietly shrink the report — while a
    // shared "no caption" bucket would fabricate same-caption
    // conflicts between unrelated images. Blank strings matter as much
    // as NULLs here: crawls deliver missing alt-text as '' at least as
    // often as NULL, and '' trims to md5("") — ONE shared bucket that
    // would inflate n_crossimage_docs with exactly the false
    // same-caption/different-image conflicts this routing prevents.
    // The projection feeds both the spread aggregate and the join probe
    // side; persistOnce so the upstream (at 100 TB: the image decode +
    // fingerprint) runs ONCE, matching the one-map-pass claim above.
    val pairs = df.select(key.as("doc_id"), imageKey.as("ikey"),
        coalesce(when(length(trim(caption)) > 0,
            md5(trim(lower(caption)))),
          concat(lit("nocap:"), key.cast("string"))).as("ckey"))
      .persistOnce()
    val capSpread = pairs.groupBy(col("ckey"))
      .agg(countDistinct(col("ikey")).as("n_images"))
    pairs.join(capSpread, "ckey")
      .groupBy(col("ikey"))
      .agg(min(col("doc_id")).as("cluster_rep"),
        count(lit(1)).as("n_members"),
        countDistinct(col("ckey")).as("n_captions"),
        sum((col("n_images") > 1).cast("long")).as("n_crossimage_docs"))
      .select(col("cluster_rep"), col("n_members"), col("n_captions"),
        (col("n_captions") > 1).cast("int").as("caption_conflict"),
        col("n_crossimage_docs"))
  }

  /** Marginal-novelty curve — how much NEW content each slice of the
    * corpus contributes as it accumulates in doc_id (= arrival) order:
    * a 3-gram occurrence is novel iff its gram's first corpus occurrence
    * (min doc_id) is this doc. Docs bucket into `buckets` equal doc_id
    * ranges off a 1-row min/max broadcast (exact integer arithmetic —
    * never a global ntile window), and the readout is novel-occurrence
    * ppm per bucket: the curve a curation run consults to decide whether
    * the next crawl snapshot still adds anything. Note the first
    * occurrence itself counts novel even when the gram repeats inside
    * that same doc — novelty is "first seen HERE", per occurrence.
    *
    * Scale shape: the gram table is token-proportional and persisted
    * because it feeds both the first-occurrence aggregate and the probe
    * join (at cluster scale, materialize it once per corpus instead);
    * both passes shuffle on the gram only, output is `buckets` rows.
    */
  def ngramNovelty(df: DataFrame, key: Column, text: Column,
                   buckets: Int = 10): DataFrame = {
    val occ = df.select(key.as("doc_id"),
        explode(TextFns.grams3(TextFns.tokens(text))).as("gram"))
      .persistOnce()
    val first = occ.groupBy(col("gram")).agg(min(col("doc_id")).as("first_doc"))
    val span = df.agg(min(key).as("lo"), max(key).as("hi"))
    occ.join(first, "gram")
      .crossJoin(broadcast(span))
      .withColumn("bucket",
        // width-safe bucket arithmetic: hash-derived 64-bit keys can
        // put (doc_id - lo) * buckets past Long.MaxValue, where bigint
        // math would wrap silently while the DuckDB oracle promotes to
        // HUGEINT — compute in decimal(38,0) (plenty for 20-digit
        // spans × buckets) and let `div` return the bigint bucket
        least(lit(buckets - 1),
          expr(s"((cast(doc_id as decimal(38,0)) - lo) * $buckets) div " +
            "(cast(hi as decimal(38,0)) - lo + 1)")))
      .groupBy(col("bucket"))
      .agg(countDistinct(col("doc_id")).as("n_docs"),
        count(lit(1)).as("n_occ"),
        sum((col("first_doc") === col("doc_id")).cast("long")).as("n_novel"))
      .withColumn("novelty_ppm", expr("n_novel * 1000000 div n_occ"))
  }

  /** Shuffle-skew pre-flight — the histogram a 100-TB job reads BEFORE
    * keying a shuffle: rows hash into `parts` buckets (md5-derived, so
    * the oracle replays the placement exactly — a model of hash
    * partitioning, not Spark's internal Murmur3, which is a JVM
    * implementation detail) and each bucket reports its row count, key
    * count, and exact share_ppm (perfectly balanced = 10^6 / parts).
    * A bucket at many times that share means the planned key needs
    * salting ([[q_join_salted]]'s move) or AQE skew handling; a bucket
    * holding the share in ONE key means salting the join is the only
    * fix — no repartition can split a single key. Empty buckets emit no
    * row (both engines agree). One aggregate on the bucket id plus a
    * 1-row total broadcast; the projected key column is persisted so
    * the total and the bucket aggregate share ONE input scan (the
    * audited table is exactly the kind of 100-TB input you don't read
    * twice); output ≤ `parts` rows.
    */
  def skewAudit(df: DataFrame, key: Column, keyName: String,
                parts: Int = 32): DataFrame = {
    val k = df.select(key.cast("string").as("k")).filter(col("k").isNotNull)
      .persistOnce()
    val tot = k.agg(count(lit(1)).as("total"))
    k.withColumn("bucket",
        conv(substring(md5(col("k")), 1, 8), 16, 10).cast("long") % parts)
      .groupBy(col("bucket"))
      .agg(count(lit(1)).as("n_rows"), countDistinct(col("k")).as("n_keys"))
      .crossJoin(broadcast(tot))
      .select(lit(keyName).as("key_name"), col("bucket"), col("n_rows"),
        col("n_keys"), expr("n_rows * 1000000 div total").as("share_ppm"))
  }

  /** Embedding-corpus health report — the pre-flight every ANN/retrieval
    * pipeline runs before trusting its vectors: per label, the vector
    * count, dimensionality, norm spread (mean/min — a zero or wildly
    * off-scale norm is an ingestion bug), the RAW-vector centroid norm
    * (≈0 for an isotropic cloud; large = the anisotropy that sinks
    * cosine retrieval), and mean cosine to that centroid (cluster
    * concentration). Uses the corpus's native [[sparkext.CosineSim]]
    * kernels; float→double widening matches the PQ oracles' discipline
    * and every float readout rounds at 6 (the perplexity-family parity
    * rule). Scale shape: one posexplode centroid aggregate (dim-bounded
    * output), centroids broadcast back, one per-label rollup — output is
    * one row per label.
    */
  def embedHealth(emb: DataFrame, key: Column, vec: Column,
                  group: Column): DataFrame = {
    val e = emb.select(key.as("vec_id"), group.as("label"),
        VectorFns.toDoubles(vec).as("v"))
      .persistOnce()
    val cent = e.select(col("label"), posexplode(col("v")))
      .groupBy(col("label"), col("pos"))
      .agg(sum(col("col")).as("s"), count(lit(1)).as("n"))
      .groupBy(col("label"))
      .agg(transform(
        array_sort(collect_list(struct(col("pos"), (col("s") / col("n")).as("m")))),
        x => x.getField("m")).as("cv"))
    e.withColumn("nrm", sqrt(expr("dot_product(v, v)")))
      .join(broadcast(cent), "label")
      .groupBy(col("label"))
      .agg(count(lit(1)).as("n_vecs"),
        max(size(col("v"))).as("dim"),
        round(avg(col("nrm")), 6).as("mean_norm"),
        round(min(col("nrm")), 6).as("min_norm"),
        round(max(sqrt(expr("dot_product(cv, cv)"))), 6).as("centroid_norm"),
        round(avg(expr("cosine_sim(v, cv)")), 6).as("mean_cos_centroid"))
  }

  /** Per-entity daily spike detection — the traffic-anomaly monitor over
    * an event stream: daily counts per entity, each day compared against
    * its own trailing window (`trail` PRESENT days under ROWS framing —
    * both engines replay the identical frame, so day gaps cannot desync
    * the gate), flagged when cnt · trail_n > factor · trail_sum, i.e.
    * count above `factor`× the trailing mean in EXACT integer arithmetic
    * — no float z-score whose rounding could flip a boundary row between
    * engines. Days with an empty trailing frame (an entity's first day)
    * never flag. Scale shape: one (entity, day) count aggregate, then a
    * per-entity window over day-bounded partitions; output is the
    * (entity, day) grid with the flag — the downstream alert join feeds
    * off `spike = 1`.
    */
  def spikeDays(events: DataFrame, entity: Column, ts: Column,
                trail: Int = 7, factor: Int = 2): DataFrame = {
    val daily = events.select(entity.as("entity"), to_date(ts).as("day"))
      .groupBy(col("entity"), col("day"))
      .agg(count(lit(1)).as("cnt"))
    val w = Window.partitionBy(col("entity")).orderBy(col("day"))
      .rowsBetween(-trail, -1)
    daily
      .withColumn("trail_n", count(lit(1)).over(w))
      .withColumn("trail_sum", coalesce(sum(col("cnt")).over(w), lit(0L)))
      .withColumn("spike",
        (col("trail_n") > 0 &&
          col("cnt") * col("trail_n") > lit(factor.toLong) * col("trail_sum"))
          .cast("int"))
  }

  /** Seasonality-aware hourly anomaly detection — [[spikeDays]]'s
    * calendar-profile complement: Monday 9am is compared against the
    * baseline of ALL Monday-9am cells, not a trailing window, so a
    * weekly rhythm (weekend troughs, business-hour peaks) is part of
    * the expectation instead of a false alarm. Each (group, date, hour)
    * cell is flagged when cnt · n_base_cells > factor · base_total —
    * count above `factor`× its own (weekday, hour) mean in EXACT
    * integer arithmetic (the [[spikeDays]] discipline: no float
    * boundary an oracle could round differently). The baseline includes
    * the cell itself, which both engines replay identically and which
    * keeps single-occurrence (dow, hour) slots from dividing by zero.
    * Scale shape: one (group, date, hour) count aggregate is the only
    * corpus-proportional shuffle; the baseline is a second aggregate
    * OVER THE CELL TABLE (bounded by groups × calendar cells, never by
    * event volume) joined back broadcast-sized. Output is the full cell
    * grid with the flag — bounded by the time span, not the corpus.
    * `group` must be a bounded alphabet (an event type, a tenant) —
    * the baseline broadcast is groups × 168 slots, so a
    * high-cardinality key (user_id) belongs in [[spikeDays]], whose
    * per-entity window never materializes a global baseline.
    */
  def seasonalHours(events: DataFrame, group: Column, ts: Column,
                    factor: Int = 2): DataFrame = {
    val cells = events.select(group.as("grp"), to_date(ts).as("ev_date"),
        hour(ts).as("hod"), dayofweek(ts).as("dow"))
      .groupBy(col("grp"), col("ev_date"), col("hod"), col("dow"))
      .agg(count(lit(1)).as("n_events"))
      .persistOnce()
    val base = cells.groupBy(col("grp"), col("dow"), col("hod"))
      .agg(sum(col("n_events")).as("base_total"),
        count(lit(1)).as("n_base_cells"))
    cells.join(broadcast(base), Seq("grp", "dow", "hod"))
      .select(col("grp").as("event_type"),
        col("ev_date").cast("string").as("ev_date"), col("hod"),
        col("n_events"), col("base_total"), col("n_base_cells"),
        (col("n_events") * col("n_base_cells") >
          lit(factor.toLong) * col("base_total")).cast("int").as("flagged"))
  }
}

/** One [[GraftOps.publishAudited]] outcome: whether the manifest was
  * swapped, the version directory staged, the audited row count and
  * order-insensitive content fingerprint, and the audit's rejection
  * reason ('' on success).
  */
case class PublishResult(published: Boolean, version: String,
                         rows: Long, fingerprint: Long, reason: String)
