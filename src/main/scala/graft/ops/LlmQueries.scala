package graft.ops

import graft.{QueryPack, Tables}
import graft.api.GraftOps
import graft.functions.TextFns
import org.apache.spark.sql.{DataFrame, Dataset, SparkSession}
import org.apache.spark.sql.functions._

/** LLM-data-pipeline tier (SURVEY.md §2.9) — the north-star extension
  * surface: dedup (exact + MinHash/LSH near-dup), similarity search
  * (brute-force + LSH-bucketed ANN), text analysis, multimodal columns.
  *
  * 100-TB design notes, per operator:
  *  - exact dedup: one hash-shuffle on the 64-hex fingerprint; never
  *    compares full text across nodes.
  *  - near-dup: LSH banding turns candidate generation into a groupBy on
  *    (band, key) — work is O(n·bands + candidate pairs), never the O(n²)
  *    all-pairs product. Exact Jaccard runs only on candidates.
  *  - brute-force similarity: probe set is bounded (fixed predicate), so
  *    broadcasting it is scale-safe; the corpus streams map-side, and a
  *    typed top-k Aggregator keeps the shuffle at k rows/probe/partition.
  *  - ANN: a deterministic random-hyperplane bucket computed map-side, then
  *    a plain equi-join on the bucket id — within-bucket brute force only.
  *  - every hash/seed is md5-derived, so the DuckDB oracle replays the
  *    SAME algorithm bit-for-bit (no recall-based flakiness in the gate).
  */
object LlmQueries extends QueryPack {

  private val MinhashPerms = 16
  private val Bands = 8 // 2 rows/band; recall at j=0.8: 1-(1-0.8²)^8 ≈ 0.9997
  private val JaccardThreshold = 0.8
  private val Dim = 64
  private val TargetBucket = 64 // LSH bucket-size budget; planes derive from n

  /** Corpus-sized hyperplane count (GraftOps.planesFor): a parquet
    * metadata count at plan time — the same "read the stats, pick the
    * plan" move AQE makes. The oracle replays the identical integer
    * derivation from count(*). Memoized per (session, dir): the corpus
    * row count is a property of the fixture, and at 100 TB an extra
    * count job per plan build is a full metadata sweep — pay it once
    * per session, not once per query invocation.
    */
  private val planesCache =
    scala.collection.concurrent.TrieMap.empty[(SparkSession, String), Int]
  private[ops] def planesOf(s: SparkSession, d: String): Int = {
    // drop entries of stopped sessions (same hygiene as Tables.loaded)
    planesCache.filterInPlace((k, _) => !k._1.sparkContext.isStopped)
    planesCache.getOrElseUpdate((s, d),
      GraftOps.planesFor(Tables.embeddings(s, d).count(), TargetBucket))
  }

  /** x_dedup_exact: fingerprint-grouped exact dedup. Output one row per
    * distinct content hash with the canonical survivor (min doc_id) and
    * the duplicate count — the shape a 100-TB dedup job materializes.
    */
  def dedupExact(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupExact(Tables.documents(s, d), col("text"), col("doc_id"))

  /** x_dedup_norm: "fuzzy-exact" dedup on the C4-normalized text form
    * (lowercase, punctuation/whitespace runs collapsed) — catches the
    * reformatted copies byte-exact dedup misses, at the identical one-
    * hash-shuffle cost. n_raw_variants > 1 marks the groups where the
    * normalizer (not byte equality) did the folding.
    */
  def dedupNorm(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupNormalized(Tables.documents(s, d), col("text"), col("doc_id"))

  /** x_quality_lr: per-source linear probe — OLS fit of the heuristic
    * quality score against mean word length, via the one-shuffle moment
    * aggregates ([[GraftOps.linearFit]]). Both regressors are
    * elementwise-deterministic (exact quarters / rounded ratio), so the
    * only float drift is the moment summation order, absorbed by the
    * round-6 output discipline; DuckDB replays with regr_* aggregates.
    */
  def qualityLr(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val q = GraftOps.qualityScore(docs, col("doc_id"), col("text"))
    docs.select(col("doc_id"), col("source"))
      .join(q.select(col("doc_id"), col("mean_word_len"),
        col("quality_score")), "doc_id")
      .transform(j => GraftOps.linearFit(j, col("source"),
        col("mean_word_len"), col("quality_score")))
      .withColumnRenamed("grp", "source")
  }

  /** x_quality_apply: the train-then-apply half of [[qualityLr]] — fit
    * the per-source probe, broadcast the group-bounded model table back,
    * and score EVERY document with predicted quality and residual. The
    * residual is the per-doc "does this look like its source" signal a
    * curation pass ranks on. Precision discipline: `round(z, 6)` is NOT
    * engine-portable at half boundaries (Spark rounds the exact binary
    * value via BigDecimal, DuckDB multiplies by 10^6 first — observed
    * divergence: 0.923218 vs 0.923219), so the prediction is computed in
    * EXACT 1e-12 integer units — model and feature values are round-6,
    * hence exact in 1e-6 units; their products/sums are exact longs
    * (bound: |slope·x| < 9.2e6) — and converted to double by ONE
    * division, which IEEE evaluates identically on identical integers.
    * Shapes: the feature table is built once (cacheOnce) and feeds both
    * the fit and the scoring join; the model is one row per source.
    */
  def qualityApply(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val q = GraftOps.qualityScore(docs, col("doc_id"), col("text"))
    val feats = GraftOps.cacheOnce(docs.select(col("doc_id"), col("source"))
      .join(q.select(col("doc_id"), col("mean_word_len"),
        col("quality_score")), "doc_id"))
    val model = GraftOps.linearFit(feats, col("source"),
      col("mean_word_len"), col("quality_score"))
    // overflow guard: the p12 path is exact only while |slope·x| stays
    // under Long.Max/1e12 ≈ 9.2e6 (a near-zero-variance group can fit an
    // absurd slope); outside it Spark would wrap silently while DuckDB
    // errors — both engines NULL such predictions explicitly instead
    val rawP12 = round(col("intercept") * 1e6).cast("long") * lit(1000000L) +
      round(col("slope") * 1e6).cast("long") *
        round(col("mean_word_len") * 1e6).cast("long")
    val predP12 = when(abs(col("slope") * col("mean_word_len")) < 9e6 &&
      abs(col("intercept")) < 9e6, rawP12)
    feats.join(broadcast(model), col("source") === col("grp"))
      .select(col("doc_id"), col("source"), col("mean_word_len"),
        col("quality_score"),
        (predP12.cast("double") / 1e12).as("predicted"),
        ((round(col("quality_score") * 1e12).cast("long") - predP12)
          .cast("double") / 1e12).as("residual"))
  }

  /** x_outlier_mad: robust length-anomaly screen per source — exact
    * median/MAD from distribution tables (never a per-group value
    * buffer), flag at 3 MADs. The quantile_cont oracle proves the
    * distribution-walk median IS the textbook interpolated median.
    */
  def outlierMad(s: SparkSession, d: String): DataFrame =
    GraftOps.outlierMad(Tables.documents(s, d), col("source"),
      col("doc_id"), col("n_chars"), k = 3.0)
      .withColumnRenamed("grp", "source").withColumnRenamed("x", "n_chars")

  /** x_dedup_near: MinHash + LSH-banded near-duplicate pairs, verified by
    * exact Jaccard over 3-word shingles. Candidates come ONLY from shared
    * LSH bands (groupBy-joinable at any scale); the quadratic all-pairs
    * compare never happens.
    */
  def dedupNear(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupNear(Tables.documents(s, d), col("doc_id"), col("text"),
      perms = MinhashPerms, bands = Bands, threshold = JaccardThreshold)

  /** x_dedup_sig: signature-class dedup — group docs by their FULL
    * 16-perm MinHash signature (one map-side key per doc, no pair join
    * at all), keep the min doc_id per class. The batch twin of the
    * streaming near-dedup path (StreamOps.dedupNearStream shares the
    * identical sigKey relation), and the cheapest dedup at 100 TB: no
    * candidate expansion, shuffles carry only (doc_id, 32-char key).
    */
  def dedupSig(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupBySignature(Tables.documents(s, d), col("doc_id"),
      col("text"), perms = MinhashPerms)

  /** x_dedup_simhash: SimHash near-duplicate pairs — one 60-bit
    * fingerprint per doc, pigeonhole block candidates (hamming<=3 pairs
    * must agree on one of 4 fingerprint blocks), exact hamming verify.
    * The oracle is a brute-force all-pairs hamming filter, so the gate
    * itself proves the blocking is lossless.
    */
  def dedupSimhash(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupSimhash(Tables.documents(s, d), col("doc_id"), col("text"),
      maxHamming = 3)

  /** x_dedup_ngram: EXACT n-gram-Jaccard similarity join (AllPairs/PPJoin
    * prefix filtering) — every pair at jaccard>=0.8, deterministically,
    * where x_dedup_near answers the same question probabilistically. The
    * oracle is the naive all-pairs join, so the gate proves the prefix
    * filter loses nothing.
    */
  def dedupNgram(s: SparkSession, d: String): DataFrame =
    GraftOps.jaccardJoin(Tables.documents(s, d), col("doc_id"), col("text"),
      threshold = JaccardThreshold)

  /** x_dedup_cluster: duplicate-cluster grouping — connected components
    * over the MinHash near-dup pairs, min-label + pointer-jumping rounds
    * (O(log diameter) — a transitively chained duplicate class resolves
    * without ever materializing the closure). One row per clustered doc
    * with its cluster id, size, and canonical-survivor flag. The oracle
    * replays the same closure with a recursive CTE, so the gate proves
    * the distributed iteration reaches the exact fixpoint.
    */
  def dedupCluster(s: SparkSession, d: String): DataFrame =
    GraftOps.clusterPairs(
      GraftOps.dedupNear(Tables.documents(s, d), col("doc_id"), col("text"),
        perms = MinhashPerms, bands = Bands, threshold = JaccardThreshold))

  /** x_decontam: benchmark decontamination — flag corpus docs whose
    * distinct-3-shingle overlap with the held-out set (docs with
    * doc_id % 10 == 0 stand in for the benchmark) reaches 50%. The
    * benchmark shingle set broadcasts; corpus text never shuffles.
    */
  def decontam(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    GraftOps.decontaminate(
      docs.filter(col("doc_id") % 10 =!= 0),
      docs.filter(col("doc_id") % 10 === 0),
      col("doc_id"), col("text"))
  }

  /** x_decontam_embed: embedding-space decontamination — the semantic
    * sibling of x_decontam: corpus vectors (vec_id >= 8) are flagged when
    * their cosine against any benchmark vector (vec_id < 8, the same
    * bounded probe set the similarity gates use) reaches 0.4. Catches
    * paraphrase contamination the shingle test cannot see. Benchmark
    * broadcasts; shuffle is one max-cosine row per corpus vector.
    */
  def decontamEmbed(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    GraftOps.decontaminateEmbed(
      emb.filter(col("vec_id") >= 8),
      emb.filter(col("vec_id") < 8),
      threshold = 0.4)
  }

  /** x_dup_stats: the duplication report a curation run ends with — how
    * many near-dup clusters of each size exist and how many docs they
    * hold. Composition over the x_dedup_cluster connected components;
    * adds only a cluster_size groupBy (output is bounded by the largest
    * cluster, a handful of rows at any corpus size).
    */
  def dupStats(s: SparkSession, d: String): DataFrame =
    dedupCluster(s, d)
      .groupBy(col("cluster_size"))
      .agg(countDistinct(col("cluster_id")).as("n_clusters"),
        count(lit(1)).as("n_docs"))
      .orderBy(col("cluster_size"))

  /** x_chunk: fixed-size token chunking with overlap — 64-token windows
    * every 48 tokens (16-token overlap), the training-sequence prep step.
    * Pure per-row array math; chunk md5s feed a downstream chunk-level
    * exact dedup for free.
    */
  def chunk(s: SparkSession, d: String): DataFrame =
    GraftOps.chunkDocs(Tables.documents(s, d), col("doc_id"), col("text"),
      chunkSize = 64, stride = 48)

  /** x_chunk_sent: sentence-boundary chunking into 64-token budgets —
    * the RAG-prep companion to the fixed windows above.
    */
  def chunkSent(s: SparkSession, d: String): DataFrame =
    GraftOps.chunkSentences(Tables.documents(s, d), col("doc_id"),
      col("text"), budget = 64)

  /** x_pack: sequence packing — the 64/48 chunk stream concatenated
    * shard-locally (8 shards) and cut into 256-token training sequences.
    * Chunk-atomic contiguous fill; fill_frac ~1.0 except each shard's
    * ragged tail.
    */
  def pack(s: SparkSession, d: String): DataFrame =
    GraftOps.packChunks(
      GraftOps.chunkDocs(Tables.documents(s, d), col("doc_id"), col("text"),
        chunkSize = 64, stride = 48),
      budget = 256, shards = 8)

  /** x_tfidf: top-5 salient terms per doc — tf-idf-shaped ranking on the
    * exact rational tf/df (ppm), so both engines agree bit-for-bit
    * (see GraftOps.termSalience for why the idf log is dropped).
    */
  def tfidf(s: SparkSession, d: String): DataFrame =
    GraftOps.termSalience(Tables.documents(s, d), col("doc_id"), col("text"),
      k = 5)

  /** x_sim_brute: exact cosine top-5 per probe. Probes are a bounded set
    * (vec_id < 8 — fixed cardinality at every SF), hence broadcast; the
    * corpus is scanned once map-side and the typed TopKByScore Aggregator
    * (partial+final) keeps the shuffle at ≤5 rows per probe per partition.
    */
  def simBrute(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    GraftOps.similarityTopK(emb, emb.filter(col("vec_id") < 8), k = 5)
  }

  /** x_embed_quantize: int8-quantized retrieval — quantize every vector
    * to per-vector-scaled integer codes (map-side, no shuffle added),
    * then rank by EXACT integer dot product with the x_sim_brute probe/
    * corpus split and top-k shape. The integer scores make this the one
    * similarity gate with no float-rounding discipline at all.
    */
  def embedQuantize(s: SparkSession, d: String): DataFrame = {
    val q = GraftOps.quantizeInt8(Tables.embeddings(s, d),
      col("vec_id"), col("embedding"))
    GraftOps.quantizedTopK(q.filter(col("vec_id") >= 8),
      q.filter(col("vec_id") < 8), k = 5)
  }

  /** x_sim_lsh: ANN — deterministic random-hyperplane bucket (md5-seeded
    * sign matrix) computed map-side, probes joined to the corpus on bucket
    * equality only, exact cosine within the bucket, top-3 per probe.
    * Production scale-up path: more planes per table + OR over several
    * tables (union of bucket joins) for recall; the join stays equi.
    */
  def simLsh(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    GraftOps.annTopK(emb, emb.filter(col("vec_id") < 8), k = 3,
      planes = planesOf(s, d), dim = Dim)
  }

  /** x_dedup_embed: embedding-cosine near-duplicate pairs — semantic dedup.
    * Same LSH discipline as the text path: a corpus-sized hyperplane bucket
    * (2^planesOf buckets, so expected bucket size stays <= TargetBucket at
    * ANY corpus size — the within-bucket self-join never degenerates to
    * O(n^2)) restricts the pair search to same-bucket vectors; exact cosine
    * only inside buckets. The fixture corpus has no >0.55-cosine pairs, so
    * the demo threshold is 0.4. Production recall path: OR over several
    * independent plane sets.
    */
  def dedupEmbed(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupEmbed(Tables.embeddings(s, d), col("vec_id"),
      col("embedding"), planes = planesOf(s, d), dim = Dim, threshold = 0.4)

  /** x_dedup_embed_multi: the multi-table recall path of embedding LSH —
    * TWO independent md5-seeded plane families (offsets 0 and 1024)
    * bucket the corpus separately and the pair sets are OR-ed; pairs
    * found by both tables collapse in one distinct (bit-identical cosine).
    * This is the standard production lever for recall at high plane
    * counts, here gated so the oracle proves both families replay.
    */
  def dedupEmbedMulti(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupEmbed(Tables.embeddings(s, d), col("vec_id"),
      col("embedding"), planes = planesOf(s, d), dim = Dim, threshold = 0.4,
      tables = 2)

  /** x_pipeline: the end-to-end corpus-curation flow a training-data user
    * actually runs, composed from the library operators — exact dedup
    * (keep canonical doc), near-dup removal (drop the higher doc_id of
    * each LSH-confirmed pair), quality gate (length + token floor), then
    * per-language corpus accounting. Every stage is the same scale-safe
    * shape as its standalone operator; composition adds two semi/anti
    * joins, no new shuffles beyond them.
    */
  def pipeline(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keepExact = GraftOps.dedupExact(docs, col("text"), col("doc_id"))
      .select(col("keep_id"))
    val dropNear = GraftOps.dedupNear(docs, col("doc_id"), col("text"),
      perms = MinhashPerms, bands = Bands, threshold = JaccardThreshold)
      .select(col("doc_b")).distinct()
    docs
      .join(keepExact, col("doc_id") === col("keep_id"), "left_semi")
      .join(dropNear, col("doc_id") === col("doc_b"), "left_anti")
      .select(col("lang"), col("n_chars"),
        size(TextFns.tokens(col("text"))).as("n_tokens"))
      .filter(col("n_chars") >= 100 && col("n_tokens") >= 20)
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("total_tokens"),
        round(avg(col("n_chars")), 4).as("avg_chars"))
  }

  /** x_sim_ivf: IVF approximate nearest neighbors — the second ANN family
    * next to x_sim_lsh. nlist ≈ sqrt(n) sampled centroids (broadcast),
    * map-side nearest-centroid assignment, probes search their 3 nearest
    * cells, exact cosine + top-3 inside them. The two intentional
    * broadcast-nested-loop stages pair every vector with the BOUNDED
    * centroid set (nlist ~ sqrt(n)) — never vector×vector.
    */
  def simIvf(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    GraftOps.ivfTopK(emb, emb.filter(col("vec_id") < 8), k = 3,
      nlist = GraftOps.nlistFor(emb.count()), nprobe = 3)
  }

  /** x_mrl_topk: two-stage truncated-dimension retrieval — the
    * Matryoshka-representation serving pattern ([[GraftOps
    * .truncatedRerank]]): coarse cosine over the first 16 of 64 dims
    * prunes to top-20 per probe, exact full-dimension cosine re-ranks to
    * top-5. The corpus-wide work touches a quarter of each vector; full
    * vectors load only for the bounded survivor set.
    */
  def mrlTopK(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    GraftOps.truncatedRerank(emb, emb.filter(col("vec_id") < 8),
      coarseDims = 16, coarseK = 20, k = 5)
  }

  /** x_lsh_recall: MinHash-LSH recall against exact ground truth — the
    * dedup analog of [[annRecall]]: the probabilistically-blocked pair
    * set ([[GraftOps.dedupNear]], lossy by banding design) measured
    * against the provably-complete prefix-filtered exact join
    * ([[GraftOps.jaccardJoin]]). The tuning readout for perms/bands:
    * exact integer ppm recall over the full corpus, both legs already
    * scale-shaped and both replayed by the oracle.
    */
  def lshRecall(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    // ONE cached (doc, shingles) table feeds both legs — the exact leg
    // and the LSH leg each need it twice internally, so the shared cache
    // replaces four tokenize+shingle derivations with one
    val sh = GraftOps.cacheOnce(
      GraftOps.shingleTable(docs, col("doc_id"), col("text")))
    val exact = GraftOps.jaccardJoinOnShingles(sh,
        threshold = JaccardThreshold)
      .select(col("doc_a").as("ta"), col("doc_b").as("tb"))
    val lsh = GraftOps.dedupNearOnShingles(sh,
        perms = MinhashPerms, bands = Bands, threshold = JaccardThreshold)
      .select(col("doc_a"), col("doc_b"))
    exact.join(lsh,
        col("ta") === col("doc_a") && col("tb") === col("doc_b"), "left")
      .agg(count(lit(1)).as("n_true_pairs"), count(col("doc_a")).as("n_caught"))
      .select(col("n_true_pairs"), col("n_caught"),
        when(col("n_true_pairs") === 0, lit(null).cast("long"))
          .otherwise(expr("(n_caught * 1000000) div n_true_pairs"))
          .as("recall_ppm"))
  }

  /** x_centroid_classify: nearest-centroid (Rocchio) classification of
    * every embedding against the per-label sum directions
    * ([[GraftOps.centroidClassify]]) — the geometric mislabel screen
    * over the labeled vector fixture.
    */
  def centroidClassify(s: SparkSession, d: String): DataFrame =
    GraftOps.centroidClassify(Tables.embeddings(s, d), col("vec_id"),
      col("embedding"), col("label"))

  /** x_oov_rate: per-doc out-of-vocabulary token rate against the corpus
    * top-10 vocabulary ([[GraftOps.oovRate]]) — the tokenizer-sizing /
    * domain-shift readout. k=10 against the fixture's tiny vocabulary
    * so the rates are non-degenerate.
    */
  def oovRateQ(s: SparkSession, d: String): DataFrame =
    GraftOps.oovRate(Tables.documents(s, d), col("doc_id"), col("text"),
      vocabK = 10)

  /** x_sim_sparse: lexical doc-to-corpus similarity through the inverted
    * index ([[GraftOps.sparseTopK]]) — top-5 tf-cosine neighbors for the
    * 8 probe docs, exact-integer dot products, posting-list-bounded work.
    */
  def simSparse(s: SparkSession, d: String): DataFrame =
    GraftOps.sparseTopK(Tables.documents(s, d), col("doc_id"), col("text"),
      probeMax = 8L, k = 5)

  /** x_ann_recall: the ANN evaluation harness — recall@3 of the IVF index
    * ([[simIvf]]'s exact configuration) against brute-force ground truth
    * on the bounded probe sample. The offline quality readout every
    * vector-store deployment runs before trusting an index: ground truth
    * costs one exact corpus pass for the PROBE SAMPLE only (the bounded
    * broadcast-probe shape of [[simBrute]]), never per production query.
    * Both legs are deterministic, so recall is an exact integer fraction
    * and the oracle replays it bit-for-bit instead of asserting a
    * threshold.
    */
  def annRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val probes = emb.filter(col("vec_id") < 8)
    val truth = GraftOps.similarityTopK(emb, probes, k = 3)
      .select(col("probe_id"), col("vec_id"))
    val approx = GraftOps.ivfTopK(emb, probes, k = 3,
      nlist = GraftOps.nlistFor(emb.count()), nprobe = 3)
      .select(col("probe_id").as("a_probe"), col("vec_id").as("a_vec"))
    truth.join(approx,
        col("probe_id") === col("a_probe") && col("vec_id") === col("a_vec"),
        "left")
      .groupBy(col("probe_id"))
      .agg(count(col("a_vec")).as("n_hits"))
      .select(col("probe_id"), col("n_hits"),
        expr("(n_hits * 1000000) div 3").as("recall_ppm"))
  }

  /** Bitext-mining knobs, shared between the registrations and the
    * parameterized oracle generator (the Uni-/Suf-knob discipline):
    * margin neighborhood k, probed cells per side, and the bounded
    * probe sample the recall readout's exhaustive leg broadcasts.
    */
  private val BitextK = 4
  private val BitextNprobe = 3
  private val BitextSampleMax = 64L

  /** x_bitext_mine: margin-based cross-lingual pair mining
    * ([[GraftOps.mineBitext]], Artetxe & Schwenk 2019 ratio margin) —
    * the parallel-corpus construction operator: the fixture's even
    * labels play the source language, odd labels the target; per
    * source vector the argmax-margin target from symmetric-IVF-bounded
    * candidates, with the k-NN-mean denominators that deflate hub
    * vectors. The oracle replays the whole chain — per-population
    * quantizers, cell argmax, probe ranking, union candidates, top-k
    * denominators, margin argmax — in DuckDB, all on 6dp-rounded
    * cosines so both engines rank identical values.
    */
  def bitextMine(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    GraftOps.mineBitext(emb.filter(col("label") % 2 === 0),
      emb.filter(col("label") % 2 === 1),
      k = BitextK, nprobe = BitextNprobe)
  }

  /** x_bitext_recall: the mined-pair quality readout next to
    * x_bitext_mine ([[GraftOps.annRecall]]'s ground-truth discipline):
    * for a bounded source probe sample, run the IVF-bounded miner AND
    * the exhaustive miner (full candidate product via a broadcast of
    * the bounded sample — the offline-eval leg a production run never
    * pays corpus-wide) and report how many probes mined the same
    * target, as an exact integer ppm. Both legs are deterministic, so
    * the oracle replays the agreement bit-for-bit instead of asserting
    * a threshold.
    */
  def bitextRecall(s: SparkSession, d: String): DataFrame = {
    val emb = Tables.embeddings(s, d)
    val srcSample = emb.filter(col("label") % 2 === 0 &&
      col("vec_id") < BitextSampleMax)
    val tgt = emb.filter(col("label") % 2 === 1)
    val ivf = GraftOps.mineBitext(srcSample, tgt,
        k = BitextK, nprobe = BitextNprobe)
      .select(col("src_id"), col("tgt_id").as("ivf_tgt"))
    val brute = GraftOps.mineBitext(srcSample, tgt,
        k = BitextK, nprobe = BitextNprobe, exhaustive = true)
      .select(col("src_id"), col("tgt_id").as("true_tgt"))
    brute.join(ivf, Seq("src_id"), "left")
      .agg(count(lit(1)).as("n_probes"),
        sum(coalesce((col("ivf_tgt") === col("true_tgt")).cast("long"),
          lit(0L))).as("n_agree"))
      .select(col("n_probes"), col("n_agree"),
        // empty-input law: zero probes reads 0 ppm, never an ANSI
        // divide-by-zero (EmptyInputSpec runs every query on empty
        // tables)
        expr("CASE WHEN n_probes = 0 THEN 0 " +
          "ELSE n_agree * 1000000 div n_probes END").as("agree_ppm"))
  }

  /** x_quality: per-document C4/Gopher-style quality heuristics — exact
    * integer gates, score = fraction of gates passed. The pre-filter stage
    * of every curation pipeline.
    */
  def quality(s: SparkSession, d: String): DataFrame =
    GraftOps.qualityScore(Tables.documents(s, d), col("doc_id"), col("text"))

  /** x_repetition: Gopher-style per-doc repetition signals — top-2-gram
    * fraction and duplicate 2-/3-gram fractions. The repetitiousness
    * filter that runs next to x_quality in a curation pipeline.
    */
  def repetition(s: SparkSession, d: String): DataFrame =
    GraftOps.repetitionStats(Tables.documents(s, d), col("doc_id"), col("text"))

  /** x_sample_strat: deterministic hash-keyed stratified sampling — 50%
    * of English docs, 20% of everything else, with Horvitz-Thompson
    * weights. Reproducible across runs/engines (md5-keyed, no RNG).
    */
  def sampleStrat(s: SparkSession, d: String): DataFrame =
    GraftOps.sampleStratified(
      Tables.documents(s, d).select(col("doc_id"), col("lang")),
      col("doc_id"),
      when(col("lang") === "en", lit(50)).otherwise(lit(20)))

  /** x_pii_scrub: PII redaction — emails, phones, IPv4s replaced with
    * typed placeholder tokens, with per-doc redaction counts. The fixture
    * corpus carries no PII (no digits at all), so the binding plants a
    * deterministic doc-derived contact line first; the gate then compares
    * the md5 of the CLEANED text, so the two engines must agree on every
    * replacement span — a real regex-parity check, not a zero-count no-op.
    */
  def piiScrub(s: SparkSession, d: String): DataFrame = {
    val planted = Tables.documents(s, d).select(col("doc_id"),
      concat(col("text"),
        lit(" contact user"), col("doc_id"), lit("@example.com"),
        lit(" call 555-123-4567 from 10.0."),
        (col("doc_id") % 256).cast("string"), lit(".99")).as("text"))
    GraftOps.scrubPii(planted, col("doc_id"), col("text"))
  }

  /** x_pipeline_full: the COMPLETE curation pipeline, every stage from
    * this tier composed end-to-end — exact dedup (keep canonical), LSH
    * near-dup removal, C4/Gopher quality gate (all four signals), Gopher
    * repetition ceiling, deterministic stratified sampling, and
    * Horvitz-Thompson-weighted per-language token accounting. Weighted
    * totals stay in exact integer math (weight = 100/pct is integral for
    * the chosen rates), so the oracle's replay is bit-identical. Each
    * stage keeps its standalone scale shape; the composition adds only
    * doc_id semi/anti joins.
    */
  def pipelineFull(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keepExact = GraftOps.dedupExact(docs, col("text"), col("doc_id"))
      .select(col("keep_id"))
    val dropNear = GraftOps.dedupNear(docs, col("doc_id"), col("text"),
      perms = MinhashPerms, bands = Bands, threshold = JaccardThreshold)
      .select(col("doc_b")).distinct()
    val qualityKeep = GraftOps.qualityScore(docs, col("doc_id"), col("text"))
      .filter(col("keep") === 1).select(col("doc_id"))
    val calmKeep = GraftOps.repetitionStats(docs, col("doc_id"), col("text"))
      .filter(col("dup_2gram_frac") <= 0.2).select(col("doc_id"))
    val sampled = GraftOps.sampleStratified(
      docs.select(col("doc_id"), col("lang"), col("text")),
      col("doc_id"),
      when(col("lang") === "en", lit(50)).otherwise(lit(20)))
    sampled
      .join(keepExact, col("doc_id") === col("keep_id"), "left_semi")
      .join(dropNear, col("doc_id") === col("doc_b"), "left_anti")
      .join(qualityKeep, Seq("doc_id"), "left_semi")
      .join(calmKeep, Seq("doc_id"), "left_semi")
      .select(col("lang"),
        size(TextFns.tokens(col("text"))).cast("long").as("n_tokens"),
        (lit(100) / when(col("lang") === "en", lit(50)).otherwise(lit(20)))
          .cast("long").as("w"))
      .groupBy(col("lang"))
      .agg(count(lit(1)).as("n_docs"),
        sum(col("n_tokens")).as("sampled_tokens"),
        sum(col("n_tokens") * col("w")).as("est_total_tokens"))
  }

  /** x_pipeline_seq: docs → training sequences, end to end — exact dedup
    * (keep canonical), LSH near-dup removal, quality gate, then the kept
    * corpus chunked (64/48) and packed into 256-token sequences, reported
    * per shard. The last mile x_pipeline_full stops short of: what
    * actually ships to a trainer. mean_fill divides exact integer totals
    * (sum/(budget·count)) rather than averaging per-pack ratios, so the
    * float math is one division on both engines.
    */
  def pipelineSeq(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d)
    val keepExact = GraftOps.dedupExact(docs, col("text"), col("doc_id"))
      .select(col("keep_id"))
    val dropNear = GraftOps.dedupNear(docs, col("doc_id"), col("text"),
      perms = MinhashPerms, bands = Bands, threshold = JaccardThreshold)
      .select(col("doc_b")).distinct()
    val qualityKeep = GraftOps.qualityScore(docs, col("doc_id"), col("text"))
      .filter(col("keep") === 1).select(col("doc_id"))
    val kept = docs
      .join(keepExact, col("doc_id") === col("keep_id"), "left_semi")
      .join(dropNear, col("doc_id") === col("doc_b"), "left_anti")
      .join(qualityKeep, Seq("doc_id"), "left_semi")
    GraftOps.packChunks(
        GraftOps.chunkDocs(kept, col("doc_id"), col("text"),
          chunkSize = 64, stride = 48),
        budget = 256, shards = 8)
      .groupBy(col("shard"))
      .agg(count(lit(1)).as("n_packs"),
        sum(col("n_tokens")).as("total_tokens"))
      .select(col("shard"), col("n_packs"), col("total_tokens"),
        round(col("total_tokens").cast("double") / (col("n_packs") * 256), 6)
          .as("mean_fill"))
  }

  /** x_text_stats: corpus quality profile per language — doc counts, size,
    * token stats, type-token ratio, stopword ratio. One scan + one agg.
    */
  def textStats(s: SparkSession, d: String): DataFrame = {
    val perDoc = Tables.documents(s, d)
      .select(col("lang"), col("n_chars"), TextFns.tokens(col("text")).as("w"))
      .filter(size(col("w")) > 0)
      .select(col("lang"), col("n_chars"),
        size(col("w")).cast("double").as("nt"),
        size(array_distinct(col("w"))).cast("double").as("nu"),
        size(filter(col("w"), x => x.isin("the", "a"))).cast("double").as("sw"))
    perDoc.groupBy(col("lang"))
      .agg(
        count(lit(1)).as("n_docs"),
        round(avg(col("n_chars")), 4).as("avg_chars"),
        round(avg(col("nt")), 4).as("avg_tokens"),
        round(avg(col("nu") / col("nt")), 6).as("avg_ttr"),
        round(avg(col("sw") / col("nt")), 6).as("avg_stop_ratio"))
  }

  /** x_lang_id: n-gram/stopword language heuristic. The fixture corpus is
    * one synthetic vocabulary under rotating lang labels, so the detector
    * legitimately reads everything as English — the operator demonstrates
    * the shape (per-doc feature scores → argmax label → agreement flag),
    * which is what transfers to a real corpus.
    */
  def langId(s: SparkSession, d: String): DataFrame = {
    val w = TextFns.tokens(col("text"))
    Tables.documents(s, d)
      .select(col("doc_id"), col("lang"),
        size(filter(w, x => x.isin("the", "a", "of", "and"))).as("en_hits"),
        size(w).as("n_tokens"))
      .withColumn("pred_lang",
        when(col("en_hits") > 0, lit("en")).otherwise(lit("und")))
      .withColumn("agrees", (col("pred_lang") === col("lang")).cast("int"))
      .select(col("doc_id"), col("lang"), col("pred_lang"), col("en_hits"),
        col("n_tokens"), col("agrees"))
  }

  /** x_token_count: whitespace tokens vs BPE-ish regex tokens (word /
    * number / single-symbol pieces) vs non-space chars — the three token
    * budgets a training-data pipeline tracks per document.
    */
  def tokenCount(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        size(TextFns.tokens(col("text"))).as("n_ws_tokens"),
        size(regexp_extract_all(lower(col("text")),
          lit("[a-z]+|[0-9]+|[^a-z0-9\\s]"), lit(0))).as("n_bpe_tokens"),
        length(regexp_replace(col("text"), "\\s", "")).as("n_chars_nospace"))

  /** x_fingerprint: document fingerprints — md5 of the whitespace-
    * normalized text, its 60-bit integer form (rowkey/shard-friendly), and
    * a winnowing-style min-shingle-hash (stable under small edits).
    */
  def fingerprint(s: SparkSession, d: String): DataFrame = {
    val norm = trim(regexp_replace(lower(col("text")), "\\s+", " "))
    Tables.documents(s, d)
      .select(col("doc_id"), md5(norm).as("fp_md5"),
        TextFns.shingles3(TextFns.tokens(col("text"))).as("sh"))
      .withColumn("fp_int60",
        conv(substring(col("fp_md5"), 1, 15), 16, 10).cast("long"))
      .withColumn("fp_shingle_min",
        array_min(transform(col("sh"), x => md5(x))))
      .select(col("doc_id"), col("fp_md5"), col("fp_int60"), col("fp_shingle_min"))
  }

  /** The multimodal media table: opaque binary payload + typed metadata as
    * a struct column. The width/height here are a DETERMINISTIC
    * md5-derived stand-in (the payloads are text, not images — there is
    * nothing to decode); the REAL image-decode path lives in
    * [[mediaPngTable]]/[[mmDecode]], where genuine PNG payloads are
    * parsed by ImageIO. This table keeps the metadata-arithmetic queries
    * (resize planning, byte features) oracle-replayable over text.
    */
  def mediaTable(s: SparkSession, d: String): DataFrame =
    Tables.documents(s, d)
      .select(col("doc_id"),
        struct(
          col("text").cast("binary").as("content"),
          lit("text/plain").as("mime"),
          (conv(substring(md5(col("text")), 1, 4), 16, 10).cast("long") % 1024
            + 64).as("width"),
          (conv(substring(md5(col("text")), 5, 4), 16, 10).cast("long") % 1024
            + 64).as("height")).as("media"))

  /** x_multimodal: metadata extraction back out of the media struct. The
    * gated projection carries the payload only as n_bytes + sha256_hex —
    * the raw BLOB column stays out of the oracle-compared output (the
    * driver's pandas comparator cannot sort bytearray cells; the byte-level
    * round-trip is asserted in EtlSpec instead, where it belongs).
    */
  def multimodal(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d).select(
      col("doc_id"),
      col("media.mime").as("mime"),
      length(col("media.content")).cast("long").as("n_bytes"),
      sha2(col("media.content"), 256).as("sha256_hex"),
      col("media.width").as("width"),
      col("media.height").as("height"))

  /** x_mm_resize: aspect-preserving resize planning + payload transform
    * over the media struct. Target fit in a 256×256 box: scale_ppm =
    * min(1e6, 256e6 div max(w, h)) in EXACT integer ppm, new dims by
    * integer floor — the metadata side every image pipeline computes
    * before touching pixels. The payload transform is a deterministic
    * CROP to new_w·new_h bytes standing in for the pixel resample (the
    * payloads here are text, so a real resample has no meaning; the real
    * decode path is [[mmDecode]]); its md5 is gated, so the byte-level
    * transform is hash-verified, not just the arithmetic. Pure map work,
    * no shuffle.
    */
  def mmResize(s: SparkSession, d: String): DataFrame =
    mediaTable(s, d)
      .select(col("doc_id"), col("media.width").as("width"),
        col("media.height").as("height"),
        col("media.content").as("content"))
      .withColumn("scale_ppm",
        expr("least(1000000L, 256000000L div greatest(width, height))"))
      .withColumn("new_w", expr("width * scale_ppm div 1000000"))
      .withColumn("new_h", expr("height * scale_ppm div 1000000"))
      .select(col("doc_id"), col("width"), col("height"), col("scale_ppm"),
        col("new_w"), col("new_h"),
        least(length(col("content")).cast("long"),
          col("new_w") * col("new_h")).as("n_bytes_out"),
        md5(expr("substring(content, 1, " +
          "CAST(least(CAST(length(content) AS BIGINT), new_w * new_h) AS INT))"))
          .as("crop_md5"))

  /** x_mm_features: byte-histogram feature extraction through the typed
    * partition-at-a-time harness ([[graft.api.MultimodalDecode.features]])
    * — REAL byte counting in the position where an image/audio feature
    * model runs. Tall (doc_id, bin, cnt) output, all 16 bins per doc.
    * The oracle replays the histogram over characters — the fixture
    * corpus is ASCII, where bytes ≡ chars; a non-ASCII regeneration
    * would fail loud here, not silently drift.
    */
  def mmFeatures(s: SparkSession, d: String): DataFrame =
    graft.api.MultimodalDecode.featuresDF(
      mediaTable(s, d).select(col("doc_id"),
        col("media.content").as("content"), col("media.mime").as("mime")))

  /** Synthesized media payloads, one per document id. The id scan goes
    * through [[GraftOps.spreadScan]] before `encode` runs: the per-row
    * codec work, not the 8-byte ids, is what these stages cost.
    */
  private def mediaPayloads(s: SparkSession, d: String)(
      encode: Long => graft.api.MediaIn): Dataset[graft.api.MediaIn] = {
    import s.implicits._
    GraftOps.spreadScan(Tables.documents(s, d).select(col("doc_id")))
      .as[Long].map(encode)
  }

  /** The PNG media table: one GENUINE PNG payload per document
    * (ImageIO.write of a small deterministic raster), dims a pure
    * function of doc_id so the oracle can recompute them without
    * decoding. Rows with doc_id % 97 == 0 are truncated to the 8-byte
    * PNG signature — a corrupt feed row whose decode must fail loudly.
    */
  def mediaPngTable(s: SparkSession, d: String)
      : Dataset[graft.api.MediaIn] =
    mediaPayloads(s, d) { id =>
      val png = graft.api.MultimodalDecode.encodePng(
        4 + (id % 29).toInt, 4 + (id % 23).toInt, id)
      val content = if (id % 97 == 0) png.take(8) else png
      graft.api.MediaIn(id, content, "image/png")
    }

  /** x_mm_decode: REAL image decode through the batch harness — the
    * payloads are genuine PNGs ([[mediaPngTable]]) and width/height come
    * out of `javax.imageio.ImageIO` actually parsing the bytes, not from
    * any stand-in arithmetic. The oracle recomputes the dims from the
    * fixture's doc_id formula, so the hash gate proves the decoder
    * extracted the true dimensions (and failed loudly, ok=0 with zero
    * dims, on the truncated corrupt rows). Pure map work, no shuffle.
    */
  def mmDecode(s: SparkSession, d: String): DataFrame =
    graft.api.MultimodalDecode.decode(mediaPngTable(s, d)).toDF()
      .select(col("doc_id"), col("mime"), col("width"), col("height"),
        col("ok").cast("int").as("ok"))

  /** x_mm_decode_jpeg: REAL JPEG decode — the format most crawl images
    * actually arrive in. Payloads are genuine JPEGs (pooled ImageIO
    * writer over the deterministic raster), dims parsed back by the
    * pooled signature-sniffed JPEG reader; corrupt rows truncate to the
    * 3-byte SOI marker, so the POOLED path's failure handling (not just
    * the registry fallback's) is what the ok=0 rows prove. Dims survive
    * the lossy round-trip exactly, so the oracle replays the fixture's
    * dimension formula like [[mmDecode]].
    */
  def mmDecodeJpeg(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val jpg = graft.api.MultimodalDecode.encodeJpeg(
        8 + (id % 25).toInt, 8 + (id % 19).toInt, id)
      val content = if (id % 101 == 0) jpg.take(3) else jpg
      graft.api.MediaIn(id, content, "image/jpeg")
    }
    graft.api.MultimodalDecode.decode(payloads).toDF()
      .select(col("doc_id"), col("mime"), col("width"), col("height"),
        col("ok").cast("int").as("ok"))
  }

  /** x_mm_decode_multi: one decode gate across EVERY JDK-native image
    * format — each doc carries a genuine PNG/JPEG/GIF/BMP/TIFF payload
    * (format chosen by doc_id mod 5, all five via [[graft.api
    * .MultimodalDecode.encodeImage]]'s pooled writers) and dims come
    * back through the signature-sniffed pooled reader for THAT format,
    * so no fixture row ever touches the contended registry fallback.
    * GIF palette quantization and JPEG loss leave dims exact, which is
    * precisely what the oracle's formulas replay. Corrupt rows truncate
    * to 5 bytes (inside every format's header) and must fail loudly.
    */
  def mmDecodeMulti(s: SparkSession, d: String): DataFrame = {
    val fmts = Array("png", "jpeg", "gif", "bmp", "tiff")
    val payloads = mediaPayloads(s, d) { id =>
      val fmt = fmts((id % 5).toInt)
      val img = graft.api.MultimodalDecode.encodeImage(
        fmt, 8 + (id % 23).toInt, 8 + (id % 17).toInt, id)
      val content = if (id % 97 == 0) img.take(5) else img
      graft.api.MediaIn(id, content, s"image/$fmt")
    }
    graft.api.MultimodalDecode.decode(payloads).toDF()
      .select(col("doc_id"), col("mime"), col("width"), col("height"),
        col("ok").cast("int").as("ok"))
  }

  /** x_mm_resample: REAL pixel resample — each genuine PNG payload is
    * decoded, aspect-fit into a 16×16 box through Graphics2D, re-encoded
    * as PNG, and the OUTPUT bytes decoded again; the gated out_w/out_h
    * come from that re-decode, so the hash gate proves the full
    * decode→resample→encode→decode chain against the oracle's integer
    * dimension arithmetic (x_mm_resize's planning formula, now executed
    * on real pixels). Corrupt payloads fail loudly. Pure map work.
    */
  def mmResample(s: SparkSession, d: String): DataFrame =
    graft.api.MultimodalDecode.resample(mediaPngTable(s, d), box = 16).toDF()
      .select(col("doc_id"), col("src_w"), col("src_h"),
        col("out_w"), col("out_h"), col("ok").cast("int").as("ok"))

  /** x_mm_phash_dedup: image-content dedup by perceptual hash — every
    * payload is a genuine PNG whose (w, h, seed) triple derives from
    * doc_id mod three coprime bases, so ids congruent mod 140 carry
    * BYTE-IDENTICAL images (the planted duplicate classes). The engine
    * decodes real pixels, dHash-64s them ([[graft.api.MultimodalDecode
    * .dHash64]]), and groups by the hash; the oracle predicts the
    * cluster representatives and sizes purely arithmetically from
    * doc_id % 140. Hash equality proves (a) identical pixels hash
    * identically through the whole decode→resample→fingerprint chain
    * and (b) the 255 distinct pixel fields of the fixture never
    * collide — a real dedup-by-content gate with no pixel value ever
    * leaving the engine. Near-dup behavior (small edit → small hamming
    * distance) is pinned in MultimodalDecodeSpec, where a pixel-level
    * oracle is possible.
    */
  def mmPhashDedup(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      // 16+ px sources so the 9x8 fingerprint DOWNSCALES (averaging
      // mixes pixels, full comparison entropy); upscaled tiny images
      // duplicate rows/columns and share forced-zero hash bits
      val png = graft.api.MultimodalDecode.encodePng(
        16 + (id % 5).toInt, 16 + (id % 4).toInt, id % 140)
      graft.api.MediaIn(id, png, "image/png")
    }
    graft.api.MultimodalDecode.phash(payloads).toDF()
      .groupBy(col("phash"))
      .agg(min(col("doc_id")).as("cluster_rep"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_rep"), col("n_members"))
  }

  /** x_mm_phash_rot: ROTATION-INVARIANT image dedup — the
    * rotated-re-upload screen plain dHash misses: each payload stores
    * the same deterministic pixel FIELD in one of four quarter-turn
    * orientations (genuinely different PNG bytes, swapped dims on odd
    * turns), and the engine folds the four orientations of the REAL
    * decoded pixels into one canonical min-dHash
    * ([[graft.api.MultimodalDecode.dHashRot64]]). The oracle predicts
    * the base-field classes arithmetically (doc_id mod 105 fixes the
    * (w, h, seed) triple; doc_id div 105 picks the stored turn), so the
    * hash gate proves all four orientations of every class landed on
    * one canonical value and no two distinct fields collided.
    */
  def mmPhashRot(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val b = (id % 105).toInt
      val png = graft.api.MultimodalDecode.encodePngRotated(
        16 + b % 5, 16 + b % 3, b.toLong,
        turns = ((id / 105) % 4).toInt)
      graft.api.MediaIn(id, png, "image/png")
    }
    graft.api.MultimodalDecode.phashRot(payloads).toDF()
      .groupBy(col("phash"))
      .agg(min(col("doc_id")).as("cluster_rep"),
        count(lit(1)).as("n_members"))
      .select(col("cluster_rep"), col("n_members"))
  }

  /** x_mm_phash_orient: ORIENTATION-APPLIED image dedup — the
    * composition x_mm_exif proves is load-bearing: a JPEG/PNG stored
    * rotated-or-flipped WITH metadata (camera writes the sensor raster
    * + an Orientation tag instead of rotating pixels) must fingerprint
    * identically to its upright copy. Each payload stores the same
    * deterministic upright field inverted through one of ALL EIGHT
    * EXIF orientations (rotations AND flips/transposes — the tag tells
    * the transform, so no canonical fold is needed and the dihedral
    * half the rotation FOLD cannot catch is covered) with a real
    * CRC32'd PNG eXIf chunk carrying the TIFF/IFD0 structure;
    * orientation-1 rows omit the chunk, pinning the absence-default.
    * The engine reads the tag off the chunk walk and hashes the
    * DISPLAY pixels via index arithmetic on ONE decode
    * ([[graft.api.MultimodalDecode.dHashOriented64]]). The oracle
    * predicts the classes arithmetically (doc_id mod 105 fixes the
    * field; 1 + doc_id mod 8 picks the stored orientation), so the
    * gate proves every orientation of every class landed on the
    * upright fingerprint, with the tagged-member count visible per
    * class.
    */
  def mmPhashOrient(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val b = (id % 105).toInt
      val png = graft.api.MultimodalDecode.encodePngOriented(
        16 + b % 5, 16 + b % 3, b.toLong,
        orientation = 1 + (id % 8).toInt)
      graft.api.MediaIn(id, png, "image/png")
    }
    graft.api.MultimodalDecode.phashOriented(payloads).toDF()
      .groupBy(col("ohash"))
      .agg(min(col("doc_id")).as("cluster_rep"),
        count(lit(1)).as("n_members"),
        sum((col("orientation") =!= 1).cast("long")).as("n_oriented"))
      .select(col("cluster_rep"), col("n_members"), col("n_oriented"))
  }

  /** x_mm_phash_near: near-duplicate IMAGE detection at scale — the
    * banded-hash join ([[dedupSimhash]]'s shape) applied to the
    * perceptual dHash of real decoded pixels. The fixture is the
    * byte-dedup evasion case: ids congruent mod 140 carry
    * pixel-identical PNGs whose BYTES all differ (a unique per-id
    * trailer rides after the IEND chunk, which every decoder ignores),
    * so exact content hashing finds nothing while the pixel
    * fingerprint pairs them all. 4×16-bit bands bucket the candidates
    * (pigeonhole: hamming ≤ 3 leaves ≥ 1 band intact — never an
    * all-pairs join), exact bit_count verifies. The oracle predicts
    * the full within-class pair set arithmetically; every pair's
    * hamming is exactly 0 because the pixels are identical.
    */
  def mmPhashNear(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      // 16+ px sources so the 9x8 fingerprint DOWNSCALES (averaging
      // mixes pixels, full comparison entropy); upscaled tiny images
      // duplicate rows/columns and share forced-zero hash bits
      val png = graft.api.MultimodalDecode.encodePng(
        16 + (id % 5).toInt, 16 + (id % 4).toInt, id % 140)
      // unique post-IEND trailer: same pixels, different bytes
      val trailer = java.nio.ByteBuffer.allocate(8).putLong(id).array()
      graft.api.MediaIn(id, png ++ trailer, "image/png")
    }
    val hashed = GraftOps.cacheOnce(
      graft.api.MultimodalDecode.phash(payloads).toDF()
        .filter(col("ok")).select(col("doc_id"), col("phash")))
    val banded = hashed
      .select(col("doc_id"), col("phash"),
        explode(expr("sequence(0, 3)")).as("b"))
      .withColumn("bkey",
        expr("shiftright(phash, cast(b * 16 as int)) & 65535"))
    banded.select(col("doc_id").as("doc_a"), col("phash").as("ha"),
        col("b"), col("bkey"))
      .join(banded.select(col("doc_id").as("doc_b"),
        col("phash").as("hb"), col("b"), col("bkey")), Seq("b", "bkey"))
      .filter(col("doc_a") < col("doc_b"))
      .select(col("doc_a"), col("doc_b"),
        expr("cast(bit_count(ha ^ hb) as int)").as("hamming"))
      .distinct()
      .filter(col("hamming") <= 3)
  }

  /** x_mm_caption_conflict: the cross-modal alignment screen
    * ([[GraftOps.captionConflict]]) — x_mm_phash_dedup's pixel-identity
    * classes (REAL decode → dHash-64 of every payload) joined against
    * caption fingerprints (md5 of the doc's trim+lower caption),
    * reporting per image class the same-image/different-caption count
    * and the docs whose caption also appears under a DIFFERENT image —
    * the two label-noise modes a contrastive image-text run screens
    * for. The caption column plants NULL (mod 29) and blank/whitespace
    * (mod 23) alt-text rows, so the per-doc no-caption routing — the
    * rule that keeps missing alt-text from fabricating a shared blank
    * caption class — is itself under the hash gate. The oracle replays
    * the planted mod-140 pixel classes arithmetically (the identity
    * x_mm_phash_dedup's gate proves), the caption synthesis, and the
    * caption md5s, so the gate covers the whole
    * decode→fingerprint→two-sided-rollup chain.
    */
  def mmCaptionConflict(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      // same (w, h, seed) triple as x_mm_phash_dedup: ids congruent
      // mod 140 carry byte-identical pixels (16+ px so the 9x8
      // fingerprint downscales with full comparison entropy)
      val png = graft.api.MultimodalDecode.encodePng(
        16 + (id % 5).toInt, 16 + (id % 4).toInt, id % 140)
      graft.api.MediaIn(id, png, "image/png")
    }
    val imgKeys = graft.api.MultimodalDecode.phash(payloads).toDF()
      .filter(col("ok")).select(col("doc_id"), col("phash"))
    // caption synthesis plants the two degenerate forms a crawl
    // actually delivers — NULL alt-text (mod 29) and blank/whitespace-
    // only alt-text (mod 23 ∈ {0, 1}) — so the per-doc 'nocap:'
    // routing for BOTH is load-bearing in the hash gate, not spec-only
    // (a shared blank bucket would fabricate cross-image conflicts)
    val caption = when(col("doc_id") % 29 === 0, lit(null).cast("string"))
      .when(col("doc_id") % 23 === 0, lit(""))
      .when(col("doc_id") % 23 === 1, lit("   "))
      .otherwise(col("text"))
    val withCaptions = imgKeys.join(
      Tables.documents(s, d).select(col("doc_id"), caption.as("caption")),
      "doc_id")
    GraftOps.captionConflict(withCaptions, col("doc_id"), col("phash"),
      col("caption"))
  }

  /** The audio media table: one genuine 16-bit PCM payload per document
    * via javax.sound.sampled, frame count a pure function of doc_id.
    * Every 5th row is STEREO WAV (exercises the exact-integer per-frame
    * downmix) and every remaining 7th row is mono AIFF — big-endian by
    * spec, so the byte-order path is gated on a real file format, not a
    * hand-bent WAV. doc_id % 89 == 0 rows truncate to 8 bytes — a
    * corrupt feed row whose decode must fail loudly.
    */
  def mediaWavTable(s: SparkSession, d: String)
      : Dataset[graft.api.MediaIn] =
    mediaPayloads(s, d) { id =>
      val frames = 800 + (id % 1600).toInt
      val (bytes, mime) =
        if (id % 5 == 0)
          (graft.api.MultimodalDecode.encodeWav(frames, id, channels = 2),
            "audio/wav")
        else if (id % 7 == 0)
          (graft.api.MultimodalDecode.encodeAiff(frames, id),
            "audio/aiff")
        else
          (graft.api.MultimodalDecode.encodeWav(frames, id), "audio/wav")
      val content = if (id % 89 == 0) bytes.take(8) else bytes
      graft.api.MediaIn(id, content, mime)
    }

  /** x_audio_decode: REAL audio decode — sample rate / channels / frame
    * length parsed from the actual RIFF stream by the JDK's
    * javax.sound.sampled, gated against the fixture's frame formula.
    * The audio analog of [[mmDecode]]; video has its own real container
    * parse ([[videoProbe]]).
    */
  def audioDecode(s: SparkSession, d: String): DataFrame =
    graft.api.MultimodalDecode.decodeAudio(mediaWavTable(s, d)).toDF()
      .select(col("doc_id"), col("mime"), col("sample_rate"),
        col("channels"), col("n_frames"), col("ok").cast("int").as("ok"))

  /** x_audio_features: REAL PCM feature extraction — the engine decodes
    * each payload (mono WAV, stereo WAV, big-endian AIFF) and computes
    * frame count, energy (exact sum of squares) and zero-crossing count
    * from the ACTUAL payload body, downmixing stereo per frame in exact
    * integers, while the oracle replays the fixture's sample-generator
    * formula and the same downmix in SQL. Hash equality proves the
    * decoder returned every PCM byte bit-exactly in BOTH byte orders —
    * the gate [[audioDecode]] (header metadata only) cannot give.
    */
  def audioFeatures(s: SparkSession, d: String): DataFrame =
    graft.api.MultimodalDecode.audioFeatures(mediaWavTable(s, d)).toDF()
      .select(col("doc_id"), col("n_samples"), col("sum_sq"),
        col("n_zero_cross"), col("ok").cast("int").as("ok"))

  /** x_audio_vad: energy-gated voice-activity segmentation
    * ([[graft.api.MultimodalDecode.vadSegmentsOne]]) — the audio
    * curation stage before any GPU-tier ASR: decode the whole PCM body,
    * window it (160 frames = 20 ms at 8 kHz), gate windows on
    * exact-integer energy, merge runs into 1→N speech segments with
    * integer-floor millisecond bounds. Each payload is a REAL WAV whose
    * silence pattern is planted arithmetically ((id + 3·w) mod 11 < 4 —
    * varied 2/3/2 run lengths per period) with active samples forced
    * odd, so the oracle predicts every segment row — boundaries, the
    * clamped final partial window, counts — without regenerating a
    * sample; corrupt rows (8-byte truncation, every 89th doc) yield one
    * loud ok=0 row. Pure map 1→N work, no shuffle after the id
    * spread.
    */
  def audioVad(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val wav = graft.api.MultimodalDecode.encodeWavVad(
        frames = 800 + (id % 1600).toInt, seed = id)
      val content = if (id % 89 == 0) wav.take(8) else wav
      graft.api.MediaIn(id, content, "audio/wav")
    }
    graft.api.MultimodalDecode.vadSegments(payloads).toDF()
      .select(col("doc_id"), col("seg_idx"), col("start_ms"),
        col("end_ms"), col("n_windows"), col("ok").cast("int").as("ok"))
  }

  /** x_audio_probe_mp3: REAL MPEG frame-header probe — each payload is
    * a genuine MPEG-1 Layer III frame stream (every 4th behind a real
    * ID3v2 tag with synchsafe size), and frame count / bitrate / sample
    * rate / duration come out of an actual frame-by-frame byte walk
    * ([[graft.api.MultimodalDecode.probeMp3One]]), never a stand-in.
    * The oracle replays the fixture's header formulas INCLUDING the
    * n_bytes total (frames × floor(144000·kbps/rate) + tag), so the
    * gate proves the walk hopped every frame length exactly; corrupt
    * rows (7-byte truncation) fail loudly. Pure map work, no shuffle.
    */
  def audioProbeMp3(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val mp3 = graft.api.MultimodalDecode.encodeMp3(
        frames = 20 + (id % 30).toInt,
        bitrateIdx = 1 + (id % 14).toInt,
        rateIdx = (id % 3).toInt,
        seed = id,
        withId3 = id % 4 == 0)
      val content = if (id % 73 == 0) mp3.take(7) else mp3
      graft.api.MediaIn(id, content, "audio/mpeg")
    }
    graft.api.MultimodalDecode.probeMp3(payloads).toDF()
      .select(col("doc_id"), col("mime"), col("n_bytes"), col("n_frames"),
        col("bitrate_kbps"), col("sample_rate"), col("duration_ms"),
        col("ok").cast("int").as("ok"))
  }

  /** x_audio_probe_flac: REAL FLAC container probe — each payload is a
    * genuine FLAC byte layout ('fLaC' magic, metadata-block chain,
    * bit-packed STREAMINFO, frame-sync'd body) and sample rate /
    * channels / bit depth / total samples come out of an actual block
    * walk with exact shift arithmetic
    * ([[graft.api.MultimodalDecode.probeFlacOne]]). Every 4th payload
    * carries a PADDING block before STREAMINFO so the chain walk (not
    * just a fixed offset) is what the gate proves; the oracle replays
    * the field formulas INCLUDING n_bytes, and corrupt rows (9-byte
    * truncation) fail loudly. Completes the audio container family
    * next to WAV/AIFF decode and the MP3 frame walk. Pure map work.
    */
  def audioProbeFlac(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val flac = graft.api.MultimodalDecode.encodeFlac(
        sampleRate = Array(44100, 48000, 22050)((id % 3).toInt),
        channels = 1 + (id % 2).toInt,
        bitsPerSample = if (id % 5 == 0) 24 else 16,
        totalSamples = 10000L + id % 90000,
        seed = id,
        bodyLen = 64 + (id % 100).toInt,
        withPadding = id % 4 == 0)
      val content = if (id % 79 == 0) flac.take(9) else flac
      graft.api.MediaIn(id, content, "audio/flac")
    }
    graft.api.MultimodalDecode.probeFlac(payloads).toDF()
      .select(col("doc_id"), col("mime"), col("n_bytes"),
        col("sample_rate"), col("channels"), col("bits_per_sample"),
        col("total_samples"), col("duration_ms"),
        col("ok").cast("int").as("ok"))
  }

  /** x_mm_exif: REAL EXIF metadata parse — JPEG marker walk to APP1,
    * `Exif\0\0` signature, TIFF header in its own byte order (both
    * 'II' and 'MM' planted by doc_id parity, so BOTH endian decoders
    * are hash-gated), IFD0 entry iteration for
    * width/height/orientation ([[graft.api.MultimodalDecode
    * .probeExifOne]]). Orientation is the load-bearing field: a
    * pipeline that ignores it trains on sideways images. Every 3rd
    * payload carries a JFIF APP0 BEFORE the APP1 so the gate proves
    * the marker walk; every other payload has a 4th IFD entry so the
    * entry count is data, not a constant. 6-byte truncations fail
    * loudly. Pure map work, no shuffle.
    */
  def mmExif(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val jpg = graft.api.MultimodalDecode.encodeExif(
        width = 640 + (id % 7).toInt * 16,
        height = 480 + (id % 5).toInt * 16,
        orientation = 1 + (id % 8).toInt,
        littleEndian = id % 2 == 1,
        withJfif = id % 3 == 0,
        extraEntry = id % 2 == 0)
      val content = if (id % 103 == 0) jpg.take(6) else jpg
      graft.api.MediaIn(id, content, "image/jpeg")
    }
    graft.api.MultimodalDecode.probeExif(payloads).toDF()
      .select(col("doc_id"), col("byte_order"), col("orientation"),
        col("width"), col("height"), col("n_entries"),
        col("ok").cast("int").as("ok"))
  }

  /** x_subtitle_cues: REAL SubRip (SRT) subtitle parse — the aligned
    * caption track of a speech/video training pair, through the 1→N
    * generator shape (one row per cue). Each payload is a genuine SRT
    * byte stream (index line, strict HH:MM:SS,mmm --> HH:MM:SS,mmm
    * timestamps, multi-line bodies on every 3rd cue) and cue bounds /
    * text sizes come out of an actual block-chain parse
    * ([[graft.api.MultimodalDecode.parseSrtOne]]). The oracle replays
    * the fixture's cue formulas exactly; corrupt payloads (15-byte
    * truncation, every 101st doc) yield one loud ok=0 row. Pure map
    * work, no shuffle.
    */
  def subtitleCues(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val srt = graft.api.MultimodalDecode.encodeSrt(
        id, nCues = 3 + (id % 6).toInt)
      val content = if (id % 101 == 0) srt.take(15) else srt
      graft.api.MediaIn(id, content, "text/srt")
    }
    graft.api.MultimodalDecode.parseSrt(payloads).toDF()
      .select(col("doc_id"), col("cue_idx"), col("start_ms"),
        col("end_ms"), col("n_chars"), col("ok").cast("int").as("ok"))
  }

  /** x_warc: REAL WARC/1.x record walk
    * ([[graft.api.MultimodalDecode.parseWarcOne]]) — the byte format
    * crawls actually arrive in, completing the crawl story's front
    * door (WARC split → x_dedup_url canonicalization → x_html_strip →
    * the media container probes). Each payload is a genuine WARC byte
    * layout (version line, named headers, Content-Length hop,
    * CRLF CRLF framing) carrying 1–3 records — warcinfo first (no
    * Target-URI, pinning the ''-when-absent rule), then
    * response/request by parity — through the 1→N generator shape.
    * The oracle replays the fixture's record layout arithmetically
    * (type, target URI, content length, header count, all pure
    * functions of (doc_id, k)); corrupt payloads (6-byte truncation —
    * the final record loses its terminator, every 83rd doc) yield one
    * loud ok=0 row. Pure map work, no shuffle after the id
    * spread; at 100 TB this is the stage that runs WIDEST (one
    * task per WARC chunk), so zero-shuffle is the design.
    */
  def warcProbe(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      val warc = graft.api.MultimodalDecode.encodeWarc(
        id, nRecords = 1 + (id % 3).toInt)
      val content =
        if (id % 83 == 0) warc.take(warc.length - 6) else warc
      graft.api.MediaIn(id, content, "application/warc")
    }
    graft.api.MultimodalDecode.parseWarc(payloads).toDF()
      .select(col("doc_id"), col("rec_idx"), col("warc_type"),
        col("target_uri"), col("content_length"), col("n_headers"),
        col("ok").cast("int").as("ok"))
  }

  /** x_warc_gz: per-record-gzip WARC walk
    * ([[graft.api.MultimodalDecode.parseWarcGzOne]]) — the layout
    * crawls are actually STORED in (Common Crawl's .warc.gz compresses
    * each record as its own RFC 1952 gzip member so byte-range reads
    * can start at any member boundary). Each payload is the x_warc
    * record fixture re-rendered as concatenated gzip members (1–4
    * records), walked with full header-flag handling, Inflater
    * decompression, and CRC32 + ISIZE trailer verification; the gated
    * row carries the member's record fields PLUS the verified inflated
    * byte count, so the gzip inversion itself is hash-load-bearing
    * (the oracle recomputes plain_len from the record grammar's exact
    * string lengths). Three corruption arms — zeroed magic (% 89 = 5),
    * a flipped stored-CRC byte (% 89 = 23, the transport-flip case the
    * trailer exists for), a truncated trailer (% 89 = 47) — each
    * yield one loud ok=0 row. Pure map work, decode cost linear in
    * compressed bytes, no shuffle after the id spread.
    */
  def warcGzProbe(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      graft.api.MediaIn(id, graft.api.MultimodalDecode.encodeWarcGz(
        id, nRecords = 1 + (id % 4).toInt), "application/warc+gzip")
    }
    graft.api.MultimodalDecode.parseWarcGz(payloads).toDF()
      .select(col("doc_id"), col("member_idx"), col("warc_type"),
        col("target_uri"), col("content_length"), col("n_headers"),
        col("plain_len"), col("ok").cast("int").as("ok"))
  }

  /** x_charset: charset sniff + transcode screen
    * ([[graft.api.MultimodalDecode.sniffCharsetOne]]) — the front-door
    * stage between the WARC record split and every text operator:
    * real crawl bodies are ~15% legacy-encoded, and the fold verdict
    * (BOM > clean-UTF-8-with-multibyte > meta > windows-1252/latin-1
    * by C1 evidence) decides the transcode before tokenization. Each
    * payload is a planted encoding whose every reported count is a
    * pure function of doc_id (mode = doc_id % 7 — ASCII, BOM'd UTF-8,
    * lying meta, cp1252, latin-1, a UTF-8 fault zoo, UTF-16 LE/BE), so
    * the oracle replays the whole row arithmetically; the two corrupt
    * arms (BOM-contradicting truncated lead at doc_id % 35 = 8,
    * de-aligned UTF-16 at doc_id % 35 = 13) yield one loud zeroed
    * ok=0 row each. Pure map work, no shuffle after the id
    * spread — at 100 TB this runs as wide as the WARC split.
    */
  def charsetProbe(s: SparkSession, d: String): DataFrame = {
    val payloads = mediaPayloads(s, d) { id =>
      graft.api.MediaIn(id,
        graft.api.MultimodalDecode.encodeCharsetDoc(id), "text/html")
    }
    graft.api.MultimodalDecode.sniffCharset(payloads).toDF()
      .select(col("doc_id"), col("bom"), col("meta_charset"),
        col("detected"), col("n_bytes"), col("n_ascii"),
        col("n_valid_mb"), col("n_overlong"), col("n_surrogate"),
        col("n_truncated"), col("n_invalid"), col("n_c1"),
        col("ok").cast("int").as("ok"))
  }

  /** The MP4 media table: one genuine ISO-BMFF container per document
    * (real ftyp/moov/mvhd/trak/tkhd byte layout via
    * [[graft.api.MultimodalDecode.encodeMp4]]); duration, timescale and
    * track dims are pure functions of doc_id so the oracle replays them
    * without parsing. Every 11th row uses the version-1 (64-bit-time)
    * box variant, so BOTH parser paths are gated. doc_id % 83 == 0 rows
    * truncate to 12 bytes — a corrupt feed row whose parse must fail
    * loudly.
    */
  def mediaMp4Table(s: SparkSession, d: String)
      : Dataset[graft.api.MediaIn] =
    mediaPayloads(s, d) { id =>
      val mp4 = graft.api.MultimodalDecode.encodeMp4(
        durationUnits = 3000L + id % 9000,
        timescale = 600 + (id % 5).toInt * 150,
        width = 320 + (id % 8).toInt * 80,
        height = 240 + (id % 6).toInt * 60,
        version1 = id % 11 == 0,
        audioTrack = id % 3 == 0) // every 3rd container is two-track
      val content = if (id % 83 == 0) mp4.take(12) else mp4
      graft.api.MediaIn(id, content, "video/mp4")
    }

  /** x_video_probe: REAL video container metadata parse — each payload
    * is a genuine MP4/ISO-BMFF byte layout and duration_ms / timescale /
    * track dims come out of an actual moov/mvhd/trak/tkhd box walk
    * ([[graft.api.MultimodalDecode.probeVideoOne]]), not any stand-in
    * arithmetic; the oracle replays the fixture's field formulas
    * (including the integer-floor duration-to-ms conversion), so the
    * hash gate proves the parser extracted the true box values from
    * both the 32-bit and 64-bit (version 1) time layouts — and failed
    * loudly (ok=0, zeros) on the truncated corrupt rows. Completes the
    * media tier: images (ImageIO), audio (javax.sound.sampled) and now
    * video all parse real payload bytes. Pure map work, no shuffle.
    */
  def videoProbe(s: SparkSession, d: String): DataFrame =
    graft.api.MultimodalDecode.probeVideo(mediaMp4Table(s, d)).toDF()
      .select(col("doc_id"), col("mime"), col("duration_ms"),
        col("timescale"), col("width"), col("height"),
        col("ok").cast("int").as("ok"))

  /** x_video_tracks: per-TRACK container parse — one row per trak box
    * with its mdia/hdlr handler type ('vide'/'soun') and tkhd id/dims,
    * through the 1→N generator shape ([[graft.api.MultimodalDecode
    * .probeVideoTracks]]). Every 3rd fixture is a realistic two-track
    * container; corrupt containers yield one loud ok=0 row instead of
    * vanishing. The oracle replays the fixture's track layout exactly.
    */
  def videoTracks(s: SparkSession, d: String): DataFrame =
    graft.api.MultimodalDecode.probeVideoTracks(mediaMp4Table(s, d)).toDF()
      .select(col("doc_id"), col("track_id"), col("handler"),
        col("width"), col("height"), col("ok").cast("int").as("ok"))

  /** Filler tail for the planted containment supersets: tokens outside
    * the corpus vocabulary, so the extra shingles never cross-match.
    */
  private val ContainFiller =
    " qq0 qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9 qq10 qq11"

  /** x_dedup_contain: asymmetric containment dedup ([[GraftOps
    * .containmentJoin]]) — the doc-inside-a-bigger-doc relation Jaccard
    * structurally misses. The fixture plants it: every 11th document
    * gains a superset twin (its own text plus an out-of-vocabulary
    * filler tail), so the original's shingle set is fully contained in
    * the twin while their Jaccard sits far below the 0.8 dedup line —
    * the `jaccard_misses` rows are exactly those planted pairs, and the
    * exact-dup classes surface as mutual 1.0-containment pairs. Oracle
    * is a brute-force replay over the same augmented corpus, blocked on
    * shared shingles (lossless for any threshold > 0).
    */
  def dedupContain(s: SparkSession, d: String): DataFrame = {
    val docs = Tables.documents(s, d).select(col("doc_id"), col("text"))
    val sup = docs.filter(col("doc_id") % 11 === 0)
      .select((col("doc_id") + lit(10000000L)).as("doc_id"),
        concat(col("text"), lit(ContainFiller)).as("text"))
    GraftOps.containmentJoin(docs.unionByName(sup), col("doc_id"),
      col("text"), threshold = 0.9)
  }

  /** x_dsir: DSIR importance weights over the documents table — target
    * slice = English docs, features = md5-hashed tokens in 1024 bins.
    * The data-selection pass that upsamples target-like raw documents.
    */
  def dsir(s: SparkSession, d: String): DataFrame =
    GraftOps.dsirWeights(Tables.documents(s, d), col("doc_id"),
      col("text"), col("lang") === "en", buckets = 1024)

  /** x_winnow: MOSS winnowing fingerprints (3-token grams, window 4) —
    * the locally-robust dedup/plagiarism fingerprint set per document,
    * gated on count, density and the md5 of the sorted selection.
    */
  def winnow(s: SparkSession, d: String): DataFrame =
    GraftOps.winnowFingerprints(Tables.documents(s, d), col("doc_id"),
      col("text"), gramN = 3, window = 4)

  /** x_cms: Count-Min Sketch heavy hitters — the exact top-20 terms with
    * their 4×1024 sketch estimates and overestimate ppm; bounded-memory
    * frequency estimation, never-underestimates gated per row.
    */
  def cms(s: SparkSession, d: String): DataFrame =
    GraftOps.cmsHeavyHitters(Tables.documents(s, d), col("text"))

  /** x_entropy: per-doc token Shannon entropy + Pielou evenness — the
    * information-theoretic degenerate-text signal.
    */
  def entropy(s: SparkSession, d: String): DataFrame =
    GraftOps.tokenEntropy(Tables.documents(s, d), col("doc_id"),
      col("text"))

  /** x_dataset_card: the per-source corpus report — volumes, exact-dup
    * rate, language mix — every number an exact integer.
    */
  def datasetCard(s: SparkSession, d: String): DataFrame =
    GraftOps.datasetCard(Tables.documents(s, d), col("source"),
      col("lang"), col("text"))

  /** x_dedup_cdc: content-defined chunking dedup ([[GraftOps.cdcChunks]])
    * — Gear/FastCDC-style boundaries anchored to a rolling 4-gram hash
    * (mod 8), so chunk identity survives the insertions that shift every
    * fixed window; per-doc duplicate-chunk ppm against the whole corpus.
    */
  def dedupCdc(s: SparkSession, d: String): DataFrame =
    GraftOps.cdcChunks(Tables.documents(s, d), col("doc_id"), col("text"))

  /** x_dedup_priority: priority-aware duplicate resolution ([[GraftOps
    * .dedupPriority]]) — within each MinHash signature class keep the
    * copy from the most trusted source (here: the source's numeric rank,
    * src0 best), and gate `n_rescued`, the keeps the naive min-doc_id
    * rule would have discarded.
    */
  def dedupPriorityQ(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupPriority(Tables.documents(s, d), col("doc_id"),
      col("text"), col("source"),
      // slice to END of string, matching the oracle's substr(source, 4)
      // exactly — a capped length here would silently desync the gate
      // on a source label with a >10-char numeric suffix
      col("source").substr(lit(4), length(col("source"))).cast("int"))

  /** x_src_overlap: cross-source duplication matrix ([[GraftOps
    * .sourceOverlap]]) — per source pair, the near-dup classes holding
    * members of both (diagonal = within-source duplicate classes); the
    * readout that turns a duplicate rate into "srcX mirrors srcY".
    */
  def srcOverlap(s: SparkSession, d: String): DataFrame =
    GraftOps.sourceOverlap(Tables.documents(s, d), col("doc_id"),
      col("text"), col("source"))

  /** x_dedup_soft: soft dedup weighting ([[GraftOps.dedupSoft]]) — every
    * near-dup class member weighted 1/class_size instead of dropped;
    * per-source effective-document mass in exact integer ppm.
    */
  def dedupSoftQ(s: SparkSession, d: String): DataFrame =
    GraftOps.dedupSoft(Tables.documents(s, d), col("doc_id"), col("text"),
      col("source"))

  val queries = Map[String, (SparkSession, String) => DataFrame](
    "x_dedup_cdc" -> dedupCdc,
    "x_dedup_priority" -> dedupPriorityQ,
    "x_src_overlap" -> srcOverlap,
    "x_dedup_soft" -> dedupSoftQ,
    "x_dsir" -> dsir,
    "x_winnow" -> winnow,
    "x_cms" -> cms,
    "x_entropy" -> entropy,
    "x_dataset_card" -> datasetCard,
    "x_dedup_exact" -> dedupExact,
    "x_dedup_norm" -> dedupNorm,
    "x_outlier_mad" -> outlierMad,
    "x_quality_lr" -> qualityLr,
    "x_quality_apply" -> qualityApply,
    "x_dedup_near" -> dedupNear,
    "x_dedup_sig" -> dedupSig,
    "x_dedup_simhash" -> dedupSimhash,
    "x_dedup_ngram" -> dedupNgram,
    "x_dedup_embed" -> dedupEmbed,
    "x_dedup_embed_multi" -> dedupEmbedMulti,
    "x_dedup_cluster" -> dedupCluster,
    "x_decontam" -> decontam,
    "x_decontam_embed" -> decontamEmbed,
    "x_dup_stats" -> dupStats,
    "x_chunk" -> chunk,
    "x_chunk_sent" -> chunkSent,
    "x_pack" -> pack,
    "x_tfidf" -> tfidf,
    "x_pipeline" -> pipeline,
    "x_pipeline_seq" -> pipelineSeq,
    "x_sim_brute" -> simBrute,
    "x_embed_quantize" -> embedQuantize,
    "x_sim_lsh" -> simLsh,
    "x_sim_ivf" -> simIvf,
    "x_ann_recall" -> annRecall,
    "x_mrl_topk" -> mrlTopK,
    "x_sim_sparse" -> simSparse,
    "x_oov_rate" -> oovRateQ,
    "x_lsh_recall" -> lshRecall,
    "x_centroid_classify" -> centroidClassify,
    "x_quality" -> quality,
    "x_repetition" -> repetition,
    "x_sample_strat" -> sampleStrat,
    "x_pii_scrub" -> piiScrub,
    "x_pipeline_full" -> pipelineFull,
    "x_text_stats" -> textStats,
    "x_lang_id" -> langId,
    "x_token_count" -> tokenCount,
    "x_fingerprint" -> fingerprint,
    "x_multimodal" -> multimodal,
    "x_mm_resize" -> mmResize,
    "x_mm_features" -> mmFeatures,
    "x_mm_decode" -> mmDecode,
    "x_mm_resample" -> mmResample,
    "x_audio_decode" -> audioDecode,
    "x_mm_phash_dedup" -> mmPhashDedup,
    "x_mm_phash_near" -> mmPhashNear,
    "x_mm_phash_rot" -> mmPhashRot,
    "x_mm_caption_conflict" -> mmCaptionConflict,
    "x_audio_features" -> audioFeatures,
    "x_video_probe" -> videoProbe,
    "x_video_tracks" -> videoTracks,
    "x_dedup_contain" -> dedupContain,
    "x_mm_decode_jpeg" -> mmDecodeJpeg,
    "x_mm_decode_multi" -> mmDecodeMulti,
    "x_audio_probe_mp3" -> audioProbeMp3,
    "x_audio_probe_flac" -> audioProbeFlac,
    "x_subtitle_cues" -> subtitleCues,
    "x_mm_exif" -> mmExif,
    "x_warc" -> warcProbe,
    "x_warc_gz" -> warcGzProbe,
    "x_charset" -> charsetProbe,
    "x_mm_phash_orient" -> mmPhashOrient,
    "x_bitext_mine" -> bitextMine,
    "x_bitext_recall" -> bitextRecall,
    "x_audio_vad" -> audioVad
  )

  /** 6dp-rounded cosine between two DuckDB double lists — the one
    * formula every embedding oracle in this pack builds on.
    */
  private def cosSql(x: String, y: String): String =
    s"round(list_dot_product($x, $y) / (sqrt(list_dot_product($x, $x))" +
      s" * sqrt(list_dot_product($y, $y))), 6)"

  /** Parameterized bitext-mining CTE chain (the sufCommonFor
    * discipline): emits `p`-prefixed CTE definitions ending in
    * `${p}mined(src_id, tgt_id, cos_sim, margin)`, replaying
    * [[GraftOps.mineBitext]] — per-population √n quantizers (lowest
    * vec_ids), the cell argmax with the cid-DESC tiebreak, nprobe
    * probe cells per side, the symmetric candidate union (or the full
    * product on the exhaustive leg), top-k denominator windows and the
    * margin argmax — all on 6dp-rounded cosines. ONE copy feeds both
    * the x_bitext_mine oracle and both legs of x_bitext_recall's, so a
    * knob or tiebreak change cannot desync a gate. Assumes an `emb`
    * CTE (vec_id, label, v) is already in scope.
    */
  private def bitextSql(p: String, srcWhere: String,
                        exhaustive: Boolean): String = {
    val pops =
      s"""${p}a AS (
         |  SELECT vec_id aid, v av FROM emb
         |  WHERE label % 2 = 0 AND ($srcWhere)),
         |${p}b AS (SELECT vec_id bid, v bv FROM emb WHERE label % 2 = 1)"""
        .stripMargin
    val cand =
      if (exhaustive)
        s"""${p}cand AS (
           |  SELECT aid, bid, ${cosSql("av", "bv")} cos
           |  FROM ${p}a CROSS JOIN ${p}b)""".stripMargin
      else
        s"""${p}nla AS (SELECT min(c) c FROM range(1, 100000) t(c)
           |  WHERE c*c >= (SELECT count(*) FROM ${p}a)),
           |${p}nlb AS (SELECT min(c) c FROM range(1, 100000) t(c)
           |  WHERE c*c >= (SELECT count(*) FROM ${p}b)),
           |${p}ca AS (SELECT aid cid, av cv FROM ${p}a
           |  QUALIFY row_number() OVER (ORDER BY aid)
           |    <= (SELECT c FROM ${p}nla)),
           |${p}cb AS (SELECT bid cid, bv cv FROM ${p}b
           |  QUALIFY row_number() OVER (ORDER BY bid)
           |    <= (SELECT c FROM ${p}nlb)),
           |${p}asga AS (SELECT aid, av, cid cell FROM (
           |  SELECT x.aid, x.av, c.cid, row_number() OVER (
           |      PARTITION BY x.aid
           |      ORDER BY ${cosSql("x.av", "c.cv")} DESC, c.cid DESC) rn
           |  FROM ${p}a x CROSS JOIN ${p}ca c) WHERE rn = 1),
           |${p}asgb AS (SELECT bid, bv, cid cell FROM (
           |  SELECT x.bid, x.bv, c.cid, row_number() OVER (
           |      PARTITION BY x.bid
           |      ORDER BY ${cosSql("x.bv", "c.cv")} DESC, c.cid DESC) rn
           |  FROM ${p}b x CROSS JOIN ${p}cb c) WHERE rn = 1),
           |${p}pca AS (SELECT aid, av, cid cell FROM (
           |  SELECT x.aid, x.av, c.cid, row_number() OVER (
           |      PARTITION BY x.aid
           |      ORDER BY ${cosSql("x.av", "c.cv")} DESC, c.cid DESC) rn
           |  FROM ${p}a x CROSS JOIN ${p}cb c) WHERE rn <= $BitextNprobe),
           |${p}pcb AS (SELECT bid, bv, cid cell FROM (
           |  SELECT x.bid, x.bv, c.cid, row_number() OVER (
           |      PARTITION BY x.bid
           |      ORDER BY ${cosSql("x.bv", "c.cv")} DESC, c.cid DESC) rn
           |  FROM ${p}b x CROSS JOIN ${p}ca c) WHERE rn <= $BitextNprobe),
           |${p}cand AS (
           |  SELECT DISTINCT aid, bid, cos FROM (
           |    SELECT p.aid, s.bid, ${cosSql("p.av", "s.bv")} cos
           |    FROM ${p}pca p JOIN ${p}asgb s ON p.cell = s.cell
           |    UNION ALL
           |    SELECT s.aid, p.bid, ${cosSql("p.bv", "s.av")} cos
           |    FROM ${p}pcb p JOIN ${p}asga s ON p.cell = s.cell))"""
          .stripMargin
    val tail =
      s"""${p}dena AS (
         |  SELECT aid, sum(cos) sa, count(*) na FROM (
         |    SELECT aid, cos, row_number() OVER (
         |        PARTITION BY aid ORDER BY cos DESC, bid) r
         |    FROM ${p}cand) WHERE r <= $BitextK GROUP BY aid),
         |${p}denb AS (
         |  SELECT bid, sum(cos) sb, count(*) nb FROM (
         |    SELECT bid, cos, row_number() OVER (
         |        PARTITION BY bid ORDER BY cos DESC, aid) r
         |    FROM ${p}cand) WHERE r <= $BitextK GROUP BY bid),
         |${p}mined AS (
         |  SELECT aid src_id, bid tgt_id, cos cos_sim, margin FROM (
         |    SELECT aid, bid, cos,
         |      round(cos / ((sa/na + sb/nb) / 2), 6) margin,
         |      row_number() OVER (PARTITION BY aid
         |        ORDER BY round(cos / ((sa/na + sb/nb) / 2), 6) DESC,
         |          bid) mr
         |    FROM ${p}cand JOIN ${p}dena USING (aid)
         |      JOIN ${p}denb USING (bid)
         |    WHERE (sa/na + sb/nb) / 2 <> 0) WHERE mr = 1)""".stripMargin
    s"$pops,\n$cand,\n$tail"
  }

  /** Shared MinHash/LSH candidate CTE prefix (ws -> shingles -> md5 ->
    * 16-perm signatures -> 8 band keys -> id-ordered candidate pairs),
    * interpolated into every oracle that replays the engine's
    * dedupNear blocking — ONE copy, so a constant change (perms, bands,
    * band width) cannot silently desync a subset of gates. The numeric
    * literals mirror MinhashPerms/Bands/band hashing in GraftOps.
    */
  private val minhashCommon =
    """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)]) shingles
        |  FROM ws WHERE len(w) >= 3),
        |hs AS (
        |  SELECT doc_id, list_transform(shingles, s -> md5(s)) h FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    [list_aggregate(list_transform(h, x ->
        |       (CAST(('0x' || substr(x, 1, 12)) AS BIGINT) * (2*p+1)) % 4398046511104), 'min')
        |     for p in range(0, 16)] sig
        |  FROM hs),
        |bands AS (
        |  SELECT doc_id, b,
        |    md5(concat(CAST(sig[2*b+1] AS VARCHAR), '|', CAST(sig[2*b+2] AS VARCHAR))) bkey
        |  FROM sig CROSS JOIN range(0, 8) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id)""".stripMargin

  val oracle = Map(
    // CDC replay: same rolling 4-gram md5 boundary (first 8 hex digits
    // mod 8), same strictly-before boundary count for the chunk id, same
    // (doc_id, start) row_number first-occurrence tiebreak.
    "x_dedup_cdc" ->
      raw"""WITH ws AS (SELECT doc_id,
        |    [w for w in string_split_regex(trim(lower(text)), '\s+') if w != ''] w
        |  FROM documents),
        |t AS (SELECT doc_id, i - 1 AS pos0, w[i] AS tok,
        |    CASE WHEN i >= 4 THEN
        |      (CAST(('0x' || substr(md5(w[i-3] || ' ' || w[i-2] || ' ' ||
        |        w[i-1] || ' ' || w[i]), 1, 8)) AS BIGINT) % 8 = 0)
        |    ELSE false END AS b
        |  FROM ws, unnest(generate_series(1, len(w))) s(i)),
        |c AS (SELECT doc_id, pos0, tok,
        |    coalesce(sum(CASE WHEN b THEN 1 ELSE 0 END)
        |      OVER (PARTITION BY doc_id ORDER BY pos0
        |            ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cid
        |  FROM t),
        |ch AS (SELECT doc_id, cid, min(pos0) st,
        |    string_agg(tok, ' ' ORDER BY pos0) ctext
        |  FROM c GROUP BY 1, 2),
        |r AS (SELECT doc_id,
        |    row_number() OVER (PARTITION BY md5(ctext) ORDER BY doc_id, st) rn
        |  FROM ch)
        |SELECT doc_id, count(*) n_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dup_chunks,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) * 1000000 // count(*)
        |    AS BIGINT) dup_ppm
        |FROM r GROUP BY 1""".stripMargin,
    // Priority-resolution replay: the split_nodup sig_key chain (full
    // 16-perm MinHash signature + nosig fallback), then the identical
    // (prio, doc_id) row_number keep rule and per-source rollup.
    "x_dedup_priority" ->
      raw"""WITH ws AS (SELECT doc_id,
        |    [w for w in string_split_regex(trim(lower(text)), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2])
        |      for i in range(1, len(w) - 1)]) shingles
        |  FROM ws WHERE len(w) >= 3),
        |hs AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) h FROM sh),
        |sig AS (SELECT doc_id,
        |    [list_aggregate(list_transform(h, x ->
        |       (CAST(('0x' || substr(x, 1, 12)) AS BIGINT) * (2*p+1)) % 4398046511104), 'min')
        |     for p in range(0, 16)] sig
        |  FROM hs),
        |k AS (SELECT d.doc_id, d.source,
        |    coalesce(md5(array_to_string(list_transform(s.sig, x -> CAST(x AS VARCHAR)), '|')),
        |             'nosig:' || CAST(d.doc_id AS VARCHAR)) skey,
        |    CAST(substr(d.source, 4) AS INT) prio
        |  FROM documents d LEFT JOIN sig s USING (doc_id)),
        |r AS (SELECT *,
        |    row_number() OVER (PARTITION BY skey ORDER BY prio, doc_id) rn,
        |    count(*) OVER (PARTITION BY skey) n,
        |    min(doc_id) OVER (PARTITION BY skey) min_id
        |  FROM k)
        |SELECT source, count(*) n_docs,
        |  CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) n_kept,
        |  CAST(sum(CASE WHEN rn > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dropped,
        |  CAST(sum(CASE WHEN rn = 1 AND n > 1 AND doc_id <> min_id
        |    THEN 1 ELSE 0 END) AS BIGINT) n_rescued
        |FROM r GROUP BY 1""".stripMargin,
    // Source-overlap replay: the same sig_key chain, the same
    // per-(class, source) counts, the same ordered self-join — the
    // diagonal requires >= 2 docs OF THAT SOURCE.
    "x_src_overlap" ->
      raw"""WITH ws AS (SELECT doc_id,
        |    [w for w in string_split_regex(trim(lower(text)), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2])
        |      for i in range(1, len(w) - 1)]) shingles
        |  FROM ws WHERE len(w) >= 3),
        |hs AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) h FROM sh),
        |sig AS (SELECT doc_id,
        |    [list_aggregate(list_transform(h, x ->
        |       (CAST(('0x' || substr(x, 1, 12)) AS BIGINT) * (2*p+1)) % 4398046511104), 'min')
        |     for p in range(0, 16)] sig
        |  FROM hs),
        |k AS (SELECT d.doc_id, d.source,
        |    coalesce(md5(array_to_string(list_transform(s.sig, x -> CAST(x AS VARCHAR)), '|')),
        |             'nosig:' || CAST(d.doc_id AS VARCHAR)) skey
        |  FROM documents d LEFT JOIN sig s USING (doc_id)),
        |cl AS (SELECT skey, source, count(*) c FROM k GROUP BY 1, 2)
        |SELECT a.source AS src_a, b.source AS src_b,
        |  count(*) AS n_shared_classes
        |FROM cl a JOIN cl b USING (skey)
        |WHERE a.source < b.source OR (a.source = b.source AND a.c >= 2)
        |GROUP BY 1, 2""".stripMargin,
    // Soft-dedup replay: the sig_key chain, per-class sizes, exact
    // integer floor(1e6/csize) mass summed per source.
    "x_dedup_soft" ->
      raw"""WITH ws AS (SELECT doc_id,
        |    [w for w in string_split_regex(trim(lower(text)), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2])
        |      for i in range(1, len(w) - 1)]) shingles
        |  FROM ws WHERE len(w) >= 3),
        |hs AS (SELECT doc_id, list_transform(shingles, s -> md5(s)) h FROM sh),
        |sig AS (SELECT doc_id,
        |    [list_aggregate(list_transform(h, x ->
        |       (CAST(('0x' || substr(x, 1, 12)) AS BIGINT) * (2*p+1)) % 4398046511104), 'min')
        |     for p in range(0, 16)] sig
        |  FROM hs),
        |k AS (SELECT d.doc_id, d.source,
        |    coalesce(md5(array_to_string(list_transform(s.sig, x -> CAST(x AS VARCHAR)), '|')),
        |             'nosig:' || CAST(d.doc_id AS VARCHAR)) skey
        |  FROM documents d LEFT JOIN sig s USING (doc_id)),
        |c AS (SELECT *, count(*) OVER (PARTITION BY skey) csize FROM k)
        |SELECT source, count(*) n_docs,
        |  CAST(sum(CASE WHEN csize > 1 THEN 1 ELSE 0 END) AS BIGINT) n_dup_docs,
        |  CAST(sum(1000000 // csize) AS BIGINT) eff_docs_ppm
        |FROM c GROUP BY 1""".stripMargin,
    // Hashed-token DSIR replay: same md5 12-hex-digit fold into 1024
    // bins, add-1 smoothing, ln ratio averaged per doc, round(6) — the
    // perplexity queries' ln-parity discipline. sum(CASE) is HUGEINT in
    // DuckDB; the +1 / CAST AS DOUBLE sequence keeps the arithmetic
    // identical to Spark's long+int double division.
    "x_dsir" ->
      """WITH toks AS (SELECT doc_id, lang = 'en' AS tgt,
        |    unnest([w for w in string_split_regex(trim(lower(text)), '\s+')
        |            if w != '']) AS tok
        |  FROM documents),
        |f AS (SELECT doc_id, tgt,
        |    CAST(('0x' || substr(md5(tok), 1, 12)) AS BIGINT) % 1024 AS f
        |  FROM toks),
        |c AS (SELECT f, count(*) AS ca,
        |    CAST(sum(CASE WHEN tgt THEN 1 ELSE 0 END) AS BIGINT) AS ct
        |  FROM f GROUP BY f),
        |t AS (SELECT CAST(sum(ca) AS BIGINT) AS ta,
        |    CAST(sum(ct) AS BIGINT) AS tt FROM c),
        |lr AS (SELECT f,
        |    ln(CAST(ct + 1 AS DOUBLE) / (tt + 1024))
        |      - ln(CAST(ca + 1 AS DOUBLE) / (ta + 1024)) AS lr
        |  FROM c, t)
        |SELECT doc_id, count(*) AS n_feats,
        |  round(avg(lr), 6) AS dsir_score,
        |  CAST(round(avg(lr), 6) > 0 AS INT) AS selected
        |FROM f JOIN lr USING (f) GROUP BY doc_id""".stripMargin,
    // max(struct(nl, lang)) ties break to the lexicographically LARGEST
    // lang; the oracle replays it as ORDER BY nl DESC, lang DESC rn=1.
    "x_dataset_card" ->
      """WITH base AS (SELECT source, lang,
        |    len([w for w in string_split_regex(trim(lower(text)), '\s+')
        |         if w != '']) AS toks,
        |    length(text) AS chars, sha256(text) AS fp
        |  FROM documents),
        |vol AS (SELECT source, count(*) AS n_docs,
        |    CAST(sum(toks) AS BIGINT) AS n_tokens,
        |    CAST(sum(chars) AS BIGINT) AS n_chars,
        |    count(DISTINCT fp) AS n_distinct
        |  FROM base GROUP BY 1),
        |lc AS (SELECT source, lang, count(*) AS nl FROM base GROUP BY 1, 2),
        |lt AS (SELECT source, count(*) AS n_langs FROM lc GROUP BY 1),
        |tp AS (SELECT source, lang AS top_lang, nl AS top_docs FROM (
        |  SELECT source, lang, nl, row_number() OVER (PARTITION BY source
        |    ORDER BY nl DESC, lang DESC) AS rn FROM lc) WHERE rn = 1)
        |SELECT v.source, n_docs, n_tokens, n_chars,
        |  CAST(n_tokens // n_docs AS BIGINT) AS mean_doc_tokens,
        |  CAST((n_docs - n_distinct) * 1000000 // n_docs AS BIGINT) AS dup_ppm,
        |  n_langs, top_lang,
        |  CAST(top_docs * 1000000 // n_docs AS BIGINT) AS top_lang_ppm
        |FROM vol v JOIN lt USING (source) JOIN tp USING (source)""".stripMargin,
    "x_entropy" ->
      """WITH toks AS (SELECT doc_id, unnest([w for w in
        |    string_split_regex(trim(lower(text)), '\s+') if w != '']) AS term
        |  FROM documents),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY 1, 2),
        |a AS (SELECT doc_id, CAST(sum(tf) AS BIGINT) AS n_tokens,
        |    count(*) AS n_distinct, sum(tf * ln(tf)) AS slt
        |  FROM tf GROUP BY 1)
        |SELECT doc_id, n_tokens, n_distinct,
        |  round(ln(n_tokens) - slt / n_tokens, 6) AS token_entropy,
        |  CASE WHEN n_distinct > 1
        |    THEN round((ln(n_tokens) - slt / n_tokens) / ln(n_distinct), 6)
        |  END AS evenness
        |FROM a""".stripMargin,
    // CMS replay: same md5(j # term) % 1024 cells, 4 rows, min over
    // rows; top-20 by (count DESC, term) exactly as the Spark
    // TakeOrderedAndProject orders. over_ppm in exact integer math.
    "x_cms" ->
      """WITH toks AS (SELECT unnest([w for w in
        |    string_split_regex(trim(lower(text)), '\s+') if w != '']) AS term
        |  FROM documents),
        |exact AS (SELECT term, count(*) AS exact_count FROM toks GROUP BY 1),
        |cells AS (SELECT term, j,
        |    CAST(('0x' || substr(md5(CAST(j AS VARCHAR) || '#' || term), 1, 12))
        |      AS BIGINT) % 1024 AS cell
        |  FROM (SELECT DISTINCT term FROM toks), range(0, 4) t(j)),
        |sketch AS (SELECT c.j, c.cell, CAST(sum(e.exact_count) AS BIGINT) AS cms_cell
        |  FROM cells c JOIN exact e USING (term) GROUP BY 1, 2),
        |top AS (SELECT term, exact_count FROM exact
        |  ORDER BY exact_count DESC, term LIMIT 20),
        |est AS (SELECT t.term, t.exact_count, min(s.cms_cell) AS cms_est
        |  FROM top t JOIN cells c USING (term)
        |  JOIN sketch s ON s.j = c.j AND s.cell = c.cell
        |  GROUP BY 1, 2)
        |SELECT term, exact_count, cms_est,
        |  CAST((cms_est - exact_count) * 1000000 // exact_count AS BIGINT)
        |    AS over_ppm
        |FROM est""".stripMargin,
    // Winnowing replay: same (hash·2^20 + (2^20-1-pos)) packing, same
    // ragged-tail window frames, fingerprints = distinct window minima;
    // the signature orders numerically (string_agg ORDER BY sel).
    "x_winnow" ->
      """WITH toks AS (SELECT doc_id,
        |    [w for w in string_split_regex(trim(lower(text)), '\s+')
        |     if w != ''] AS w
        |  FROM documents),
        |g AS (SELECT doc_id, i - 1 AS pos,
        |    w[i] || ' ' || w[i + 1] || ' ' || w[i + 2] AS gram
        |  FROM toks, unnest(generate_series(1, len(w) - 2)) t(i)
        |  WHERE len(w) >= 3),
        |k AS (SELECT doc_id, pos,
        |    CAST(('0x' || substr(md5(gram), 1, 8)) AS BIGINT) * 1048576
        |      + (1048575 - pos) AS key
        |  FROM g),
        |s AS (SELECT doc_id,
        |    min(key) OVER (PARTITION BY doc_id ORDER BY pos
        |      ROWS BETWEEN CURRENT ROW AND 3 FOLLOWING) AS sel,
        |    count(*) OVER (PARTITION BY doc_id) AS n_grams
        |  FROM k),
        |d AS (SELECT DISTINCT doc_id, n_grams, sel FROM s)
        |SELECT doc_id, n_grams, count(*) AS n_fp,
        |  round(CAST(count(*) AS DOUBLE) / n_grams, 6) AS fp_density,
        |  md5(string_agg(CAST(sel AS VARCHAR), ' ' ORDER BY sel)) AS fp_sig
        |FROM d GROUP BY doc_id, n_grams""".stripMargin,
    "x_dedup_exact" ->
      """SELECT sha256(text) AS fp, min(doc_id) AS keep_id, count(*) AS n_copies
        |FROM documents GROUP BY 1""".stripMargin,
    "x_dedup_norm" ->
      """SELECT sha256(trim(regexp_replace(lower(text), '[^a-z0-9]+', ' ', 'g'))) AS fp,
        |  min(doc_id) AS keep_id, count(*) AS n_copies,
        |  count(DISTINCT text) AS n_raw_variants
        |FROM documents GROUP BY 1""".stripMargin,
    // Replays the quality CTE, then the OLS closed form in the same
    // CASE-guarded covar/var formulation (NOT regr_* — identical NULL
    // semantics for degenerate groups on both engines).
    "x_quality_lr" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    [w for w in string_split_regex(lower(text), '\s+') if w != ''] w,
        |    len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) sym_hits,
        |    length(regexp_replace(lower(text), '\s', '', 'g')) n_chars_nospace
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(w) n_tokens,
        |    list_aggregate(list_transform(w, x -> length(x)), 'sum') sum_len,
        |    len([x for x in w if list_contains(['the','a','of','and','to','in','is'], x)]) stop_hits,
        |    sym_hits, n_chars_nospace
        |  FROM base WHERE len(w) > 0),
        |g AS (
        |  SELECT doc_id,
        |    round(CAST(sum_len AS DOUBLE) / n_tokens, 6) AS x,
        |    CAST(CAST(n_tokens >= 20 AND n_tokens <= 100000 AS INT)
        |      + CAST(sum_len * 10 >= n_tokens * 30 AND sum_len * 10 <= n_tokens * 100 AS INT)
        |      + CAST(stop_hits * 100 >= n_tokens AS INT)
        |      + CAST(sym_hits * 10 <= n_chars_nospace * 3 AS INT) AS DOUBLE) / 4 AS y
        |  FROM m),
        |q AS (SELECT d.source, g.x, g.y FROM g JOIN documents d USING (doc_id))
        |SELECT source, count(*) AS n,
        |  round(CASE WHEN var_pop(x) > 0
        |    THEN covar_pop(y, x) / var_pop(x) END, 6) AS slope,
        |  round(CASE WHEN var_pop(x) > 0
        |    THEN avg(y) - covar_pop(y, x) / var_pop(x) * avg(x) END, 6) AS intercept,
        |  round(CASE WHEN var_pop(x) > 0 AND var_pop(y) > 0
        |    THEN covar_pop(y, x) * covar_pop(y, x) / (var_pop(x) * var_pop(y)) END, 6) AS r2
        |FROM q GROUP BY 1""".stripMargin,
    // Same feature CTEs as x_quality_lr, then the model joins back and
    // every doc scores in exact 1e-12 integer units (round(z,6) is not
    // engine-portable at half boundaries); one final division to double.
    "x_quality_apply" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    [w for w in string_split_regex(lower(text), '\s+') if w != ''] w,
        |    len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) sym_hits,
        |    length(regexp_replace(lower(text), '\s', '', 'g')) n_chars_nospace
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(w) n_tokens,
        |    list_aggregate(list_transform(w, x -> length(x)), 'sum') sum_len,
        |    len([x for x in w if list_contains(['the','a','of','and','to','in','is'], x)]) stop_hits,
        |    sym_hits, n_chars_nospace
        |  FROM base WHERE len(w) > 0),
        |g AS (
        |  SELECT doc_id,
        |    round(CAST(sum_len AS DOUBLE) / n_tokens, 6) AS x,
        |    CAST(CAST(n_tokens >= 20 AND n_tokens <= 100000 AS INT)
        |      + CAST(sum_len * 10 >= n_tokens * 30 AND sum_len * 10 <= n_tokens * 100 AS INT)
        |      + CAST(stop_hits * 100 >= n_tokens AS INT)
        |      + CAST(sym_hits * 10 <= n_chars_nospace * 3 AS INT) AS DOUBLE) / 4 AS y
        |  FROM m),
        |f AS (SELECT d.source, g.doc_id, g.x, g.y
        |  FROM g JOIN documents d USING (doc_id)),
        |mdl AS (
        |  SELECT source,
        |    CASE WHEN var_pop(x) > 0
        |      THEN round(covar_pop(y, x) / var_pop(x), 6) END AS slope,
        |    CASE WHEN var_pop(x) > 0
        |      THEN round(avg(y) - covar_pop(y, x) / var_pop(x) * avg(x), 6)
        |      END AS intercept
        |  FROM f GROUP BY 1),
        |p AS (
        |  SELECT doc_id, f.source, x, y,
        |    CASE WHEN abs(slope * x) < 9e6 AND abs(intercept) < 9e6
        |      THEN CAST(round(intercept * 1000000) AS BIGINT) * 1000000
        |        + CAST(round(slope * 1000000) AS BIGINT)
        |          * CAST(round(x * 1000000) AS BIGINT) END AS pred_p12
        |  FROM f JOIN mdl ON f.source = mdl.source)
        |SELECT doc_id, source, x AS mean_word_len, y AS quality_score,
        |  CAST(pred_p12 AS DOUBLE) / 1e12 AS predicted,
        |  CAST(CAST(round(y * 1e12) AS BIGINT) - pred_p12 AS DOUBLE) / 1e12
        |    AS residual
        |FROM p""".stripMargin,
    "x_outlier_mad" ->
      """WITH med AS (
        |  SELECT source, quantile_cont(CAST(n_chars AS DOUBLE), 0.5) AS med
        |  FROM documents GROUP BY 1),
        |dev AS (
        |  SELECT doc_id, d.source, CAST(n_chars AS DOUBLE) AS n_chars, med,
        |    abs(CAST(n_chars AS DOUBLE) - med) AS adev
        |  FROM documents d JOIN med USING (source)),
        |mad AS (SELECT source, quantile_cont(adev, 0.5) AS mad FROM dev GROUP BY 1)
        |SELECT doc_id, source, n_chars, med, mad,
        |  CAST(adev > 3 * mad AS INT) AS is_outlier
        |FROM dev JOIN mad USING (source)""".stripMargin,
    "x_dedup_near" ->
      raw"""$minhashCommon
        |SELECT doc_a, doc_b,
        |  round(CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |    / len(list_distinct(list_concat(x.shingles, y.shingles))), 6) AS jaccard
        |FROM cand
        |JOIN sh x ON x.doc_id = doc_a
        |JOIN sh y ON y.doc_id = doc_b
        |WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |    / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8""".stripMargin,
    // Replays the full-signature class key (same sig CTE as the banded
    // path) and the min-keeper election; sig-less docs keep themselves.
    "x_dedup_sig" ->
      raw"""$minhashCommon,
        |k AS (
        |  SELECT doc_id,
        |    md5(array_to_string(list_transform(sig, x -> CAST(x AS VARCHAR)), '|')) skey
        |  FROM sig),
        |cls AS (SELECT skey, min(doc_id) AS keeper FROM k GROUP BY 1)
        |SELECT d.doc_id,
        |  coalesce(cls.keeper, d.doc_id) AS keeper_id,
        |  CAST(coalesce(cls.keeper, d.doc_id) = d.doc_id AS INT) AS keep
        |FROM documents d
        |LEFT JOIN k ON k.doc_id = d.doc_id
        |LEFT JOIN cls ON cls.skey = k.skey""".stripMargin,
    // Both legs replayed: the banded-LSH pair set (minhashCommon) and
    // the brute-force exact threshold set; recall is their exact ratio.
    "x_lsh_recall" ->
      raw"""$minhashCommon,
        |lsh AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN sh x ON x.doc_id = doc_a
        |  JOIN sh y ON y.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8),
        |tru AS (
        |  SELECT a.doc_id AS ta, b.doc_id AS tb
        |  FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |  WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8)
        |SELECT CAST(count(*) AS BIGINT) AS n_true_pairs,
        |  CAST(count(l.doc_a) AS BIGINT) AS n_caught,
        |  CASE WHEN count(*) = 0 THEN NULL
        |       ELSE CAST((count(l.doc_a) * 1000000) // count(*) AS BIGINT)
        |  END AS recall_ppm
        |FROM tru LEFT JOIN lsh l ON tru.ta = l.doc_a AND tru.tb = l.doc_b""".stripMargin,
    // Brute-force all-pairs hamming: deliberately NOT the blocked plan —
    // matching it proves the engine's pigeonhole blocking is lossless.
    "x_dedup_simhash" ->
      """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |hs AS (
        |  SELECT doc_id, CAST(('0x' || substr(md5(t.w1), 1, 15)) AS BIGINT) h
        |  FROM ws, unnest(w) t(w1)),
        |bits AS (
        |  SELECT doc_id, i, sum((h >> i) & 1) v, count(*) c
        |  FROM hs CROSS JOIN range(0, 60) t(i) GROUP BY doc_id, i),
        |fp AS (
        |  SELECT doc_id,
        |    CAST(sum(CASE WHEN 2*v > c THEN (CAST(1 AS BIGINT) << i) ELSE 0 END) AS BIGINT) fp
        |  FROM bits GROUP BY doc_id)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(bit_count(xor(a.fp, b.fp)) AS INT) AS hamming
        |FROM fp a JOIN fp b ON a.doc_id < b.doc_id
        |WHERE bit_count(xor(a.fp, b.fp)) <= 3""".stripMargin,
    // Brute-force all-pairs jaccard: matching it proves the engine's
    // rare-first prefix filter (AllPairs/PPJoin) is lossless.
    "x_dedup_ngram" ->
      """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)]) shingles
        |  FROM ws WHERE len(w) >= 3)
        |SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
        |FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        |WHERE CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        |    / len(list_distinct(list_concat(a.shingles, b.shingles))) >= 0.8""".stripMargin,
    // Replays the minhash pair derivation, then closes it transitively
    // with a recursive CTE — matching it proves the engine's pointer-
    // jumping iteration reaches the exact connected-components fixpoint.
    "x_dedup_cluster" ->
      """WITH RECURSIVE ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)]) shingles
        |  FROM ws WHERE len(w) >= 3),
        |hs AS (
        |  SELECT doc_id, list_transform(shingles, s -> md5(s)) h FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    [list_aggregate(list_transform(h, x ->
        |       (CAST(('0x' || substr(x, 1, 12)) AS BIGINT) * (2*p+1)) % 4398046511104), 'min')
        |     for p in range(0, 16)] sig
        |  FROM hs),
        |bands AS (
        |  SELECT doc_id, b,
        |    md5(concat(CAST(sig[2*b+1] AS VARCHAR), '|', CAST(sig[2*b+2] AS VARCHAR))) bkey
        |  FROM sig CROSS JOIN range(0, 8) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN sh x ON x.doc_id = doc_a
        |  JOIN sh y ON y.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8),
        |edges AS (
        |  SELECT doc_a s, doc_b d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT s AS doc FROM edges),
        |reach(doc, lab) AS (
        |  SELECT doc, doc FROM nodes
        |  UNION
        |  SELECT e.s, r.lab FROM reach r JOIN edges e ON e.d = r.doc),
        |lbl AS (
        |  SELECT doc AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc)
        |SELECT l.doc_id, l.cluster_id,
        |  CAST(count(*) OVER (PARTITION BY l.cluster_id) AS BIGINT) AS cluster_size,
        |  CAST(l.doc_id = l.cluster_id AS INT) AS is_canonical
        |FROM lbl l""".stripMargin,
    "x_dup_stats" ->
      """WITH RECURSIVE ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)]) shingles
        |  FROM ws WHERE len(w) >= 3),
        |hs AS (
        |  SELECT doc_id, list_transform(shingles, s -> md5(s)) h FROM sh),
        |sig AS (
        |  SELECT doc_id,
        |    [list_aggregate(list_transform(h, x ->
        |       (CAST(('0x' || substr(x, 1, 12)) AS BIGINT) * (2*p+1)) % 4398046511104), 'min')
        |     for p in range(0, 16)] sig
        |  FROM hs),
        |bands AS (
        |  SELECT doc_id, b,
        |    md5(concat(CAST(sig[2*b+1] AS VARCHAR), '|', CAST(sig[2*b+2] AS VARCHAR))) bkey
        |  FROM sig CROSS JOIN range(0, 8) t(b)),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
        |  FROM bands a JOIN bands b
        |    ON a.b = b.b AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
        |pairs AS (
        |  SELECT doc_a, doc_b FROM cand
        |  JOIN sh x ON x.doc_id = doc_a
        |  JOIN sh y ON y.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8),
        |edges AS (
        |  SELECT doc_a s, doc_b d FROM pairs UNION SELECT doc_b, doc_a FROM pairs),
        |nodes AS (SELECT DISTINCT s AS doc FROM edges),
        |reach(doc, lab) AS (
        |  SELECT doc, doc FROM nodes
        |  UNION
        |  SELECT e.s, r.lab FROM reach r JOIN edges e ON e.d = r.doc),
        |lbl AS (
        |  SELECT doc AS doc_id, min(lab) AS cluster_id FROM reach GROUP BY doc),
        |sz AS (
        |  SELECT cluster_id, CAST(count(*) AS BIGINT) AS cluster_size
        |  FROM lbl GROUP BY cluster_id)
        |SELECT cluster_size, CAST(count(*) AS BIGINT) AS n_clusters,
        |  CAST(sum(cluster_size) AS BIGINT) AS n_docs
        |FROM sz GROUP BY cluster_size ORDER BY cluster_size""".stripMargin,
    // Sentence split on the same RE2-portable '\. ' pattern, token
    // counts via the tokens() definition, greedy chunk = floor(cum
    // tokens BEFORE the sentence / budget), order-exact md5 per chunk.
    "x_chunk_sent" ->
      """WITH ss AS (
        |  SELECT doc_id, string_split_regex(text, '\. ') AS sl
        |  FROM documents),
        |s0 AS (
        |  SELECT doc_id, i AS idx, sl[i] AS sent
        |  FROM ss, unnest(generate_series(1, len(sl))) t(i)),
        |st AS (
        |  SELECT doc_id, idx, sent,
        |    len([w for w in string_split_regex(lower(sent), '\s+') if w != '']) AS nt
        |  FROM s0),
        |f AS (SELECT * FROM st WHERE nt > 0),
        |c AS (
        |  SELECT doc_id, idx, sent, nt,
        |    coalesce(sum(nt) OVER (PARTITION BY doc_id ORDER BY idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cumb
        |  FROM f)
        |SELECT doc_id, CAST(floor(cumb / 64) AS BIGINT) AS chunk_id,
        |  count(*) AS n_sents, CAST(sum(nt) AS BIGINT) AS n_tokens,
        |  md5(string_agg(sent, ' | ' ORDER BY idx)) AS chunk_md5
        |FROM c GROUP BY 1, 2""".stripMargin,

    "x_chunk" ->
      """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest([i*48 for i in range(0, ((len(w)-1)//48)+1)]) AS start_tok,
        |    unnest(range(0, ((len(w)-1)//48)+1)) AS chunk_idx
        |  FROM ws WHERE len(w) > 0),
        |ck AS (
        |  SELECT doc_id, CAST(chunk_idx AS BIGINT) chunk_idx,
        |    CAST(start_tok AS BIGINT) start_tok,
        |    list_slice(w, start_tok+1, start_tok+64) c
        |  FROM st)
        |SELECT doc_id, chunk_idx, start_tok,
        |  CAST(len(c) AS BIGINT) AS n_chunk_tokens,
        |  md5(array_to_string(c, ' ')) AS chunk_md5
        |FROM ck""".stripMargin,
    "x_tfidf" ->
      """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |tall AS (SELECT doc_id, unnest(w) AS term FROM ws),
        |tf AS (SELECT doc_id, term, count(*) AS tf FROM tall GROUP BY 1, 2),
        |dfreq AS (SELECT term, count(*) AS df FROM tf GROUP BY 1),
        |j AS (
        |  SELECT doc_id, tf.term, tf, df, tf * 1000000 // df AS salience_ppm
        |  FROM tf JOIN dfreq USING (term)),
        |r AS (
        |  SELECT *, row_number() OVER (PARTITION BY doc_id ORDER BY salience_ppm DESC, term) rnk
        |  FROM j)
        |SELECT doc_id, term, CAST(tf AS BIGINT) AS tf, CAST(df AS BIGINT) AS df,
        |  CAST(salience_ppm AS BIGINT) AS salience_ppm, CAST(rnk AS BIGINT) AS rank
        |FROM r WHERE rnk <= 5""".stripMargin,
    "x_pack" ->
      """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest([i*48 for i in range(0, ((len(w)-1)//48)+1)]) AS start_tok,
        |    unnest(range(0, ((len(w)-1)//48)+1)) AS chunk_idx
        |  FROM ws WHERE len(w) > 0),
        |ck AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 8 AS shard,
        |    doc_id, CAST(chunk_idx AS BIGINT) chunk_idx,
        |    CAST(len(list_slice(w, start_tok+1, start_tok+64)) AS BIGINT) n_chunk_tokens
        |  FROM st),
        |off AS (
        |  SELECT shard, n_chunk_tokens,
        |    coalesce(sum(n_chunk_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM ck)
        |SELECT CAST(shard AS BIGINT) AS shard,
        |  CAST(start_off // 256 AS BIGINT) AS pack_idx,
        |  count(*) AS n_chunks, CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens,
        |  round(CAST(sum(n_chunk_tokens) AS DOUBLE) / 256, 6) AS fill_frac
        |FROM off GROUP BY 1, 2""".stripMargin,
    "x_decontam" ->
      """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)]) shingles
        |  FROM ws WHERE len(w) >= 3),
        |bench AS (
        |  SELECT DISTINCT unnest(shingles) AS s FROM sh WHERE doc_id % 10 = 0),
        |corpus AS (
        |  SELECT doc_id, unnest(shingles) AS s FROM sh WHERE doc_id % 10 <> 0),
        |shared AS (
        |  SELECT doc_id, count(*) AS shared_cnt
        |  FROM corpus JOIN bench USING (s) GROUP BY doc_id),
        |alldocs AS (
        |  SELECT doc_id, len(shingles) AS n_shingles FROM sh WHERE doc_id % 10 <> 0)
        |SELECT a.doc_id, CAST(a.n_shingles AS BIGINT) AS n_shingles,
        |  CAST(coalesce(shared_cnt, 0) AS BIGINT) AS n_shared,
        |  round(CAST(coalesce(shared_cnt, 0) AS DOUBLE) / a.n_shingles, 6) AS shared_frac,
        |  CAST(coalesce(shared_cnt, 0) * 2 >= a.n_shingles AS INT) AS contaminated
        |FROM alldocs a LEFT JOIN shared USING (doc_id)""".stripMargin,
    "x_decontam_embed" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |b AS (SELECT v AS bv FROM emb WHERE vec_id < 8),
        |c AS (SELECT vec_id, v FROM emb WHERE vec_id >= 8),
        |mx AS (
        |  SELECT c.vec_id,
        |    max(list_dot_product(v, bv)
        |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(bv, bv)))) AS m
        |  FROM c CROSS JOIN b GROUP BY c.vec_id)
        |SELECT vec_id, round(m, 6) AS max_bench_cos,
        |  CAST(m >= 0.4 AS INT) AS contaminated
        |FROM mx""".stripMargin,
    "x_pipeline" ->
      raw"""$minhashCommon,
        |dropnear AS (
        |  SELECT DISTINCT doc_b FROM cand
        |  JOIN sh x ON x.doc_id = doc_a
        |  JOIN sh y ON y.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8),
        |keepexact AS (
        |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY sha256(text)),
        |kept AS (
        |  SELECT d.lang, d.n_chars, len(ws.w) AS n_tokens
        |  FROM documents d JOIN ws ON ws.doc_id = d.doc_id
        |  WHERE d.doc_id IN (SELECT keep_id FROM keepexact)
        |    AND d.doc_id NOT IN (SELECT doc_b FROM dropnear)
        |    AND d.n_chars >= 100 AND len(ws.w) >= 20)
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(avg(n_chars), 4) AS avg_chars
        |FROM kept GROUP BY lang""".stripMargin,
    "x_dedup_embed_multi" ->
      """WITH np AS (
        |  SELECT coalesce(min(p), 30) p FROM range(2, 31) t(p)
        |  WHERE (CAST(1 AS BIGINT) << p) * 64 >= (SELECT count(*) FROM embeddings)),
        |planes AS (
        |  SELECT tbl, j,
        |    [CASE WHEN CAST(('0x' || substr(md5(concat(CAST(j + tbl * 1024 AS VARCHAR), ',', CAST(d AS VARCHAR))), 1, 1)) AS INT) % 2 = 0
        |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] h
        |  FROM range(0, 2) s(tbl), range(0, 31) t(j), np WHERE j < p),
        |emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |buck AS (
        |  SELECT tbl, vec_id, v,
        |    string_agg(CASE WHEN list_dot_product(v, h) >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) bucket
        |  FROM emb CROSS JOIN planes GROUP BY tbl, vec_id, v)
        |SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
        |FROM buck a JOIN buck b
        |  ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""".stripMargin,
    "x_dedup_embed" ->
      """WITH np AS (
        |  SELECT coalesce(min(p), 30) p FROM range(2, 31) t(p)
        |  WHERE (CAST(1 AS BIGINT) << p) * 64 >= (SELECT count(*) FROM embeddings)),
        |planes AS (
        |  SELECT j,
        |    [CASE WHEN CAST(('0x' || substr(md5(concat(CAST(j AS VARCHAR), ',', CAST(d AS VARCHAR))), 1, 1)) AS INT) % 2 = 0
        |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] h
        |  FROM range(0, 31) t(j), np WHERE j < p),
        |emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |buck AS (
        |  SELECT vec_id, v,
        |    string_agg(CASE WHEN list_dot_product(v, h) >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) bucket
        |  FROM emb CROSS JOIN planes GROUP BY vec_id, v)
        |SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
        |  round(list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6) AS cos_sim
        |FROM buck a JOIN buck b ON a.bucket = b.bucket AND a.vec_id < b.vec_id
        |WHERE list_dot_product(a.v, b.v)
        |    / (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))) >= 0.4""".stripMargin,
    "x_sim_brute" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM emb WHERE vec_id < 8),
        |pr AS (
        |  SELECT probe_id, vec_id,
        |    round(list_dot_product(pv, v)
        |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
        |  FROM p JOIN emb ON vec_id <> probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) rnk
        |  FROM pr)
        |SELECT probe_id, vec_id, cos_sim, CAST(rnk AS BIGINT) AS rank
        |FROM rk WHERE rnk <= 5""".stripMargin,
    // Replays the quantizer exactly: per-vector max|x| scale, floor to
    // int codes, integer dot product (list_dot_product over doubles is
    // exact here — |qdot| <= 64*127^2 ~ 1e6 << 2^53).
    "x_embed_quantize" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |mx AS (
        |  SELECT vec_id, v,
        |    list_aggregate(list_transform(v, x -> abs(x)), 'max') m
        |  FROM emb),
        |qv AS (
        |  SELECT vec_id,
        |    CASE WHEN m = 0 THEN list_transform(v, x -> CAST(0 AS DOUBLE))
        |         ELSE list_transform(v,
        |           x -> CASE WHEN x IS NULL OR isnan(x) THEN NULL
        |                ELSE greatest(least(floor(x * 127 / m), 127), -127)
        |                END) END q
        |  FROM mx),
        |p AS (SELECT vec_id AS probe_id, q AS pq FROM qv WHERE vec_id < 8),
        |c AS (SELECT vec_id, q FROM qv WHERE vec_id >= 8),
        |sc AS (
        |  SELECT probe_id, vec_id,
        |    CAST(list_dot_product(q, pq) AS BIGINT) AS qdot
        |  FROM c JOIN p ON vec_id <> probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, qdot,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY qdot DESC, vec_id) rnk
        |  FROM sc)
        |SELECT probe_id, vec_id, qdot, CAST(rnk AS BIGINT) AS rank
        |FROM rk WHERE rnk <= 5""".stripMargin,
    "x_sim_lsh" ->
      """WITH np AS (
        |  SELECT coalesce(min(p), 30) p FROM range(2, 31) t(p)
        |  WHERE (CAST(1 AS BIGINT) << p) * 64 >= (SELECT count(*) FROM embeddings)),
        |planes AS (
        |  SELECT j,
        |    [CASE WHEN CAST(('0x' || substr(md5(concat(CAST(j AS VARCHAR), ',', CAST(d AS VARCHAR))), 1, 1)) AS INT) % 2 = 0
        |          THEN 1.0 ELSE -1.0 END for d in range(0, 64)] h
        |  FROM range(0, 31) t(j), np WHERE j < p),
        |emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |buck AS (
        |  SELECT vec_id, v,
        |    string_agg(CASE WHEN list_dot_product(v, h) >= 0 THEN '1' ELSE '0' END, '' ORDER BY j) bucket
        |  FROM emb CROSS JOIN planes GROUP BY vec_id, v),
        |p AS (SELECT vec_id AS probe_id, v AS pv, bucket FROM buck WHERE vec_id < 8),
        |pr AS (
        |  SELECT probe_id, c.vec_id,
        |    round(list_dot_product(pv, c.v)
        |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(c.v, c.v))), 6) AS cos_sim
        |  FROM p JOIN buck c ON p.bucket = c.bucket AND c.vec_id <> p.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) rnk
        |  FROM pr)
        |SELECT probe_id, vec_id, cos_sim, CAST(rnk AS BIGINT) AS rank
        |FROM rk WHERE rnk <= 3""".stripMargin,
    // Replays the IVF algorithm exactly: same sampled centroids, same
    // argmax cell assignment (ties → higher centroid id), same nprobe
    // search — so the gate is deterministic, not recall-based.
    "x_sim_ivf" ->
      """WITH nl AS (
        |  SELECT min(c) c FROM range(1, 100000) t(c)
        |  WHERE c*c >= (SELECT count(*) FROM embeddings)),
        |emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |cent AS (SELECT vec_id cid, v cv FROM emb, nl WHERE vec_id < c),
        |asg AS (
        |  SELECT vec_id, v, cid AS cell FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv)
        |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |        c.cid DESC) rn
        |    FROM emb e CROSS JOIN cent c) WHERE rn = 1),
        |pc AS (
        |  SELECT probe_id, pv, cid AS cell FROM (
        |    SELECT p.vec_id probe_id, p.v pv, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_dot_product(p.v, c.cv)
        |          / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |        c.cid DESC) rn
        |    FROM emb p CROSS JOIN cent c WHERE p.vec_id < 8) WHERE rn <= 3),
        |pr AS (
        |  SELECT probe_id, a.vec_id,
        |    round(list_dot_product(pv, a.v)
        |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(a.v, a.v))), 6) cos_sim
        |  FROM pc JOIN asg a ON pc.cell = a.cell AND a.vec_id <> pc.probe_id),
        |rk AS (
        |  SELECT probe_id, vec_id, cos_sim,
        |    row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) rnk
        |  FROM pr)
        |SELECT probe_id, vec_id, cos_sim, CAST(rnk AS BIGINT) AS rank
        |FROM rk WHERE rnk <= 3""".stripMargin,
    // Centroid replay: same (label, dim) sum rollup, dim-ordered list
    // assembly, rounded cosine + label tie-break before the argmax.
    "x_centroid_classify" ->
      """WITH emb AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |sums AS (
        |  SELECT label, i AS d, sum(v[i]) s
        |  FROM emb, unnest(generate_series(1, len(v))) t(i)
        |  GROUP BY 1, 2),
        |cents AS (
        |  SELECT label AS clbl, list(s ORDER BY d) cv
        |  FROM sums GROUP BY 1),
        |sc AS (
        |  SELECT vec_id, label AS lbl, clbl,
        |    round(list_dot_product(v, cv)
        |      / (sqrt(list_dot_product(v, v)) * sqrt(list_dot_product(cv, cv))), 6)
        |      AS cos
        |  FROM emb CROSS JOIN cents),
        |pr AS (
        |  SELECT vec_id, lbl, clbl FROM (
        |    SELECT vec_id, lbl, clbl,
        |      row_number() OVER (PARTITION BY vec_id
        |        ORDER BY cos DESC, clbl DESC) rn
        |    FROM sc) WHERE rn = 1)
        |SELECT vec_id, lbl AS actual, clbl AS predicted,
        |  CAST(lbl = clbl AS INT) AS correct
        |FROM pr""".stripMargin,
    // Vocabulary = top-10 by (count desc, term) — a total deterministic
    // order both engines replay; rates are exact integer ppm.
    "x_oov_rate" ->
      """WITH tall AS (
        |  SELECT doc_id, unnest([w for w in
        |    string_split_regex(lower(text), '\s+') if w != '']) term
        |  FROM documents),
        |v AS (
        |  SELECT term FROM (
        |    SELECT term, count(*) c FROM tall GROUP BY 1
        |    ORDER BY c DESC, term LIMIT 10))
        |SELECT doc_id, count(*) AS n_tokens,
        |  CAST(sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_oov,
        |  CAST((sum(CASE WHEN v.term IS NULL THEN 1 ELSE 0 END) * 1000000)
        |    // count(*) AS BIGINT) AS oov_ppm
        |FROM tall LEFT JOIN v USING (term)
        |GROUP BY doc_id""".stripMargin,
    // Integer-exact sparse cosine: tf counts, dot and norms are BIGINT;
    // the one double division is over exactly-representable ints, so the
    // 6-decimal cosines replay bit-for-bit.
    "x_sim_sparse" ->
      """WITH tf AS (
        |  SELECT doc_id, term, count(*) tf FROM (
        |    SELECT doc_id, unnest([w for w in
        |      string_split_regex(lower(text), '\s+') if w != '']) term
        |    FROM documents) GROUP BY 1, 2),
        |nrm AS (SELECT doc_id, CAST(sum(tf * tf) AS BIGINT) nrm
        |  FROM tf GROUP BY 1),
        |p AS (SELECT doc_id AS probe_id, term, tf AS ptf
        |  FROM tf WHERE doc_id < 8),
        |dot AS (
        |  SELECT probe_id, tf.doc_id, CAST(sum(tf.tf * ptf) AS BIGINT) dot
        |  FROM tf JOIN p USING (term) WHERE tf.doc_id <> p.probe_id
        |  GROUP BY 1, 2),
        |sc AS (
        |  SELECT probe_id, dot.doc_id, dot,
        |    round(CAST(dot AS DOUBLE) /
        |      sqrt(CAST(n.nrm AS DOUBLE) * CAST(pn.nrm AS DOUBLE)), 6)
        |      AS cos_sim
        |  FROM dot JOIN nrm n ON dot.doc_id = n.doc_id
        |    JOIN nrm pn ON dot.probe_id = pn.doc_id)
        |SELECT probe_id, doc_id, dot, cos_sim, CAST(rnk AS BIGINT) AS rank
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cos_sim DESC, doc_id) rnk
        |  FROM sc) WHERE rnk <= 5""".stripMargin,
    // Two-stage replay: the coarse prefix ranking (v[1:16]) and the full
    // re-rank must both agree — a survivor admitted or dropped
    // differently at stage 1 changes the output set and fails the hash.
    "x_mrl_topk" ->
      """WITH emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |c AS (SELECT vec_id, v, v[1:16] vc FROM emb),
        |p AS (SELECT vec_id AS probe_id, v pv, v[1:16] pvc
        |  FROM emb WHERE vec_id < 8),
        |cs AS (
        |  SELECT probe_id, c.vec_id,
        |    round(list_dot_product(pvc, vc)
        |      / (sqrt(list_dot_product(pvc, pvc)) * sqrt(list_dot_product(vc, vc))), 6)
        |      AS coarse_sim
        |  FROM p JOIN c ON c.vec_id <> p.probe_id),
        |ck AS (
        |  SELECT probe_id, vec_id, coarse_sim FROM (
        |    SELECT probe_id, vec_id, coarse_sim,
        |      row_number() OVER (PARTITION BY probe_id
        |        ORDER BY coarse_sim DESC, vec_id) crn
        |    FROM cs) WHERE crn <= 20),
        |rr AS (
        |  SELECT ck.probe_id, ck.vec_id, ck.coarse_sim,
        |    round(list_dot_product(pv, e.v)
        |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(e.v, e.v))), 6)
        |      AS cos_sim
        |  FROM ck JOIN emb e ON ck.vec_id = e.vec_id
        |    JOIN p ON ck.probe_id = p.probe_id)
        |SELECT probe_id, vec_id, coarse_sim, cos_sim,
        |  CAST(rnk AS BIGINT) AS rank
        |FROM (
        |  SELECT *, row_number() OVER (PARTITION BY probe_id
        |    ORDER BY cos_sim DESC, vec_id) rnk
        |  FROM rr) WHERE rnk <= 5""".stripMargin,
    // Replays BOTH legs — the x_sim_ivf algorithm (top-3) and brute-force
    // top-3 ground truth — then counts the overlap, so the recall integers
    // must agree exactly, not just clear a threshold.
    // Bitext-mining replay: the full parameterized chain (quantizers,
    // cell argmax, probe cells, symmetric candidate union, top-k
    // denominators, margin argmax) from bitextSql — one copy shared
    // with both x_bitext_recall legs.
    "x_bitext_mine" ->
      ("""WITH emb AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |""".stripMargin + bitextSql("", "TRUE", exhaustive = false) +
        "\nSELECT src_id, tgt_id, cos_sim, margin FROM mined"),

    // Recall readout replay: both legs from the same generator (IVF
    // with i_, exhaustive with b_), then the identical left-join
    // agreement rollup in exact integer ppm.
    "x_bitext_recall" ->
      ("""WITH emb AS (
        |  SELECT vec_id, label,
        |    list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |""".stripMargin +
        bitextSql("i_", s"vec_id < $BitextSampleMax", exhaustive = false) +
        ",\n" +
        bitextSql("b_", s"vec_id < $BitextSampleMax", exhaustive = true) +
        s"""
        |SELECT CAST(count(*) AS BIGINT) AS n_probes,
        |  CAST(coalesce(sum(CASE WHEN i.tgt_id = bm.tgt_id THEN 1 END),
        |    0) AS BIGINT) AS n_agree,
        |  CAST(CASE WHEN count(*) = 0 THEN 0
        |    ELSE coalesce(sum(CASE WHEN i.tgt_id = bm.tgt_id THEN 1 END),
        |      0) * 1000000 // count(*) END AS BIGINT) AS agree_ppm
        |FROM b_mined bm LEFT JOIN i_mined i USING (src_id)""".stripMargin),

    "x_ann_recall" ->
      """WITH nl AS (
        |  SELECT min(c) c FROM range(1, 100000) t(c)
        |  WHERE c*c >= (SELECT count(*) FROM embeddings)),
        |emb AS (
        |  SELECT vec_id, list_transform(embedding, x -> CAST(x AS DOUBLE)) v
        |  FROM embeddings),
        |cent AS (SELECT vec_id cid, v cv FROM emb, nl WHERE vec_id < c),
        |asg AS (
        |  SELECT vec_id, v, cid AS cell FROM (
        |    SELECT e.vec_id, e.v, c.cid,
        |      row_number() OVER (PARTITION BY e.vec_id ORDER BY
        |        list_dot_product(e.v, c.cv)
        |          / (sqrt(list_dot_product(e.v, e.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |        c.cid DESC) rn
        |    FROM emb e CROSS JOIN cent c) WHERE rn = 1),
        |pc AS (
        |  SELECT probe_id, pv, cid AS cell FROM (
        |    SELECT p.vec_id probe_id, p.v pv, c.cid,
        |      row_number() OVER (PARTITION BY p.vec_id ORDER BY
        |        list_dot_product(p.v, c.cv)
        |          / (sqrt(list_dot_product(p.v, p.v)) * sqrt(list_dot_product(c.cv, c.cv))) DESC,
        |        c.cid DESC) rn
        |    FROM emb p CROSS JOIN cent c WHERE p.vec_id < 8) WHERE rn <= 3),
        |apr AS (
        |  SELECT probe_id, a.vec_id,
        |    round(list_dot_product(pv, a.v)
        |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(a.v, a.v))), 6) cos_sim
        |  FROM pc JOIN asg a ON pc.cell = a.cell AND a.vec_id <> pc.probe_id),
        |ark AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) rnk
        |    FROM apr) WHERE rnk <= 3),
        |p AS (SELECT vec_id AS probe_id, v AS pv FROM emb WHERE vec_id < 8),
        |bpr AS (
        |  SELECT probe_id, vec_id,
        |    round(list_dot_product(pv, v)
        |      / (sqrt(list_dot_product(pv, pv)) * sqrt(list_dot_product(v, v))), 6) AS cos_sim
        |  FROM p JOIN emb ON vec_id <> probe_id),
        |brk AS (
        |  SELECT probe_id, vec_id FROM (
        |    SELECT probe_id, vec_id,
        |      row_number() OVER (PARTITION BY probe_id ORDER BY cos_sim DESC, vec_id) rnk
        |    FROM bpr) WHERE rnk <= 3)
        |SELECT t.probe_id, CAST(count(a.vec_id) AS BIGINT) AS n_hits,
        |  CAST((count(a.vec_id) * 1000000) // 3 AS BIGINT) AS recall_ppm
        |FROM brk t LEFT JOIN ark a
        |  ON t.probe_id = a.probe_id AND t.vec_id = a.vec_id
        |GROUP BY t.probe_id""".stripMargin,
    "x_quality" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    [w for w in string_split_regex(lower(text), '\s+') if w != ''] w,
        |    len(regexp_extract_all(lower(text), '[^a-z0-9\s]')) sym_hits,
        |    length(regexp_replace(lower(text), '\s', '', 'g')) n_chars_nospace
        |  FROM documents),
        |m AS (
        |  SELECT doc_id, len(w) n_tokens,
        |    list_aggregate(list_transform(w, x -> length(x)), 'sum') sum_len,
        |    len([x for x in w if list_contains(['the','a','of','and','to','in','is'], x)]) stop_hits,
        |    sym_hits, n_chars_nospace
        |  FROM base WHERE len(w) > 0),
        |g AS (
        |  SELECT *,
        |    CAST(n_tokens >= 20 AND n_tokens <= 100000 AS INT)
        |      + CAST(sum_len * 10 >= n_tokens * 30 AND sum_len * 10 <= n_tokens * 100 AS INT)
        |      + CAST(stop_hits * 100 >= n_tokens AS INT)
        |      + CAST(sym_hits * 10 <= n_chars_nospace * 3 AS INT) AS n_pass
        |  FROM m)
        |SELECT doc_id, CAST(n_tokens AS INT) AS n_tokens,
        |  round(CAST(sum_len AS DOUBLE) / n_tokens, 6) AS mean_word_len,
        |  round(CAST(stop_hits AS DOUBLE) / n_tokens, 6) AS stop_ratio,
        |  round(CAST(sym_hits AS DOUBLE) / n_chars_nospace, 6) AS sym_ratio,
        |  CAST(n_pass AS DOUBLE) / 4 AS quality_score,
        |  CAST(n_pass = 4 AS INT) AS keep
        |FROM g""".stripMargin,
    "x_repetition" ->
      """WITH ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents),
        |g2 AS (
        |  SELECT doc_id, unnest([concat(w[i], ' ', w[i+1]) for i in range(1, len(w))]) g
        |  FROM ws WHERE len(w) >= 3),
        |g3 AS (
        |  SELECT doc_id, unnest([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)]) g
        |  FROM ws WHERE len(w) >= 3),
        |c2 AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY 1, 2),
        |c3 AS (SELECT doc_id, g, count(*) c FROM g3 GROUP BY 1, 2),
        |s2 AS (
        |  SELECT doc_id, CAST(sum(c) AS BIGINT) AS n_2grams,
        |    round(CAST(max(c) AS DOUBLE) / sum(c), 6) AS top_2gram_frac,
        |    round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_2gram_frac
        |  FROM c2 GROUP BY doc_id),
        |s3 AS (
        |  SELECT doc_id,
        |    round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) AS dup_3gram_frac
        |  FROM c3 GROUP BY doc_id)
        |SELECT s2.doc_id, n_2grams, top_2gram_frac, dup_2gram_frac, dup_3gram_frac
        |FROM s2 JOIN s3 ON s2.doc_id = s3.doc_id""".stripMargin,
    "x_sample_strat" ->
      """SELECT doc_id, lang, round(100.0 / pct, 6) AS weight FROM (
        |  SELECT doc_id, lang,
        |    CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS pct,
        |    CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) AS h
        |  FROM documents)
        |WHERE h * 100 < pct * (CAST(1 AS BIGINT) << 48)""".stripMargin,
    // The md5 of the CLEANED text is the real assertion: both engines must
    // agree on every replacement span, not just the redaction counts.
    "x_pii_scrub" ->
      """WITH planted AS (
        |  SELECT doc_id,
        |    concat(text, ' contact user', CAST(doc_id AS VARCHAR), '@example.com',
        |           ' call 555-123-4567 from 10.0.', CAST(doc_id % 256 AS VARCHAR), '.99') t
        |  FROM documents),
        |e AS (
        |  SELECT doc_id,
        |    len(regexp_extract_all(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}')) n_emails,
        |    regexp_replace(t, '[a-z0-9._%+-]+@[a-z0-9.-]+\.[a-z]{2,}', '<EMAIL>', 'g') t
        |  FROM planted),
        |p AS (
        |  SELECT doc_id, n_emails,
        |    len(regexp_extract_all(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b')) n_phones,
        |    regexp_replace(t, '\b[0-9]{3}-[0-9]{3}-[0-9]{4}\b', '<PHONE>', 'g') t
        |  FROM e),
        |i AS (
        |  SELECT doc_id, n_emails, n_phones,
        |    len(regexp_extract_all(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b')) n_ips,
        |    regexp_replace(t, '\b[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\.[0-9]{1,3}\b', '<IP>', 'g') t
        |  FROM p)
        |SELECT doc_id, CAST(n_emails AS INT) AS n_emails,
        |  CAST(n_phones AS INT) AS n_phones, CAST(n_ips AS INT) AS n_ips,
        |  md5(t) AS clean_md5
        |FROM i""".stripMargin,
    "x_pipeline_full" ->
      raw"""$minhashCommon,
        |dropnear AS (
        |  SELECT DISTINCT doc_b FROM cand
        |  JOIN sh x ON x.doc_id = doc_a
        |  JOIN sh y ON y.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8),
        |keepexact AS (
        |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY sha256(text)),
        |qm AS (
        |  SELECT d.doc_id, len(w) n_tokens,
        |    list_aggregate(list_transform(w, x -> length(x)), 'sum') sum_len,
        |    len([x for x in w if list_contains(['the','a','of','and','to','in','is'], x)]) stop_hits,
        |    len(regexp_extract_all(lower(d.text), '[^a-z0-9\s]')) sym_hits,
        |    length(regexp_replace(lower(d.text), '\s', '', 'g')) n_chars_nospace
        |  FROM documents d JOIN ws ON ws.doc_id = d.doc_id WHERE len(w) > 0),
        |qkeep AS (
        |  SELECT doc_id FROM qm
        |  WHERE n_tokens >= 20 AND n_tokens <= 100000
        |    AND sum_len * 10 >= n_tokens * 30 AND sum_len * 10 <= n_tokens * 100
        |    AND stop_hits * 100 >= n_tokens
        |    AND sym_hits * 10 <= n_chars_nospace * 3),
        |g2 AS (
        |  SELECT doc_id, unnest([concat(w[i], ' ', w[i+1]) for i in range(1, len(w))]) g
        |  FROM ws WHERE len(w) >= 3),
        |c2 AS (SELECT doc_id, g, count(*) c FROM g2 GROUP BY 1, 2),
        |calm AS (
        |  SELECT doc_id FROM c2 GROUP BY doc_id
        |  HAVING round(CAST(sum(CASE WHEN c > 1 THEN c ELSE 0 END) AS DOUBLE) / sum(c), 6) <= 0.2),
        |samp AS (
        |  SELECT doc_id, lang, CASE WHEN lang = 'en' THEN 50 ELSE 20 END AS pct
        |  FROM documents
        |  WHERE CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) * 100
        |        < CASE WHEN lang = 'en' THEN 50 ELSE 20 END * (CAST(1 AS BIGINT) << 48)),
        |kept AS (
        |  SELECT s.lang, len(ws.w) AS n_tokens, 100 // s.pct AS w
        |  FROM samp s JOIN ws ON ws.doc_id = s.doc_id
        |  WHERE s.doc_id IN (SELECT keep_id FROM keepexact)
        |    AND s.doc_id NOT IN (SELECT doc_b FROM dropnear)
        |    AND s.doc_id IN (SELECT doc_id FROM qkeep)
        |    AND s.doc_id IN (SELECT doc_id FROM calm))
        |SELECT lang, count(*) AS n_docs,
        |  CAST(sum(n_tokens) AS BIGINT) AS sampled_tokens,
        |  CAST(sum(n_tokens * w) AS BIGINT) AS est_total_tokens
        |FROM kept GROUP BY lang""".stripMargin,
    "x_pipeline_seq" ->
      raw"""$minhashCommon,
        |dropnear AS (
        |  SELECT DISTINCT doc_b FROM cand
        |  JOIN sh x ON x.doc_id = doc_a
        |  JOIN sh y ON y.doc_id = doc_b
        |  WHERE CAST(len(list_intersect(x.shingles, y.shingles)) AS DOUBLE)
        |      / len(list_distinct(list_concat(x.shingles, y.shingles))) >= 0.8),
        |keepexact AS (
        |  SELECT min(doc_id) AS keep_id FROM documents GROUP BY sha256(text)),
        |qm AS (
        |  SELECT d.doc_id, len(w) n_tokens,
        |    list_aggregate(list_transform(w, x -> length(x)), 'sum') sum_len,
        |    len([x for x in w if list_contains(['the','a','of','and','to','in','is'], x)]) stop_hits,
        |    len(regexp_extract_all(lower(d.text), '[^a-z0-9\s]')) sym_hits,
        |    length(regexp_replace(lower(d.text), '\s', '', 'g')) n_chars_nospace
        |  FROM documents d JOIN ws ON ws.doc_id = d.doc_id WHERE len(w) > 0),
        |qkeep AS (
        |  SELECT doc_id FROM qm
        |  WHERE n_tokens >= 20 AND n_tokens <= 100000
        |    AND sum_len * 10 >= n_tokens * 30 AND sum_len * 10 <= n_tokens * 100
        |    AND stop_hits * 100 >= n_tokens
        |    AND sym_hits * 10 <= n_chars_nospace * 3),
        |kept AS (
        |  SELECT d.doc_id, ws.w
        |  FROM documents d JOIN ws ON ws.doc_id = d.doc_id
        |  WHERE d.doc_id IN (SELECT keep_id FROM keepexact)
        |    AND d.doc_id NOT IN (SELECT doc_b FROM dropnear)
        |    AND d.doc_id IN (SELECT doc_id FROM qkeep)),
        |st AS (
        |  SELECT doc_id, w,
        |    unnest([i*48 for i in range(0, ((len(w)-1)//48)+1)]) AS start_tok,
        |    unnest(range(0, ((len(w)-1)//48)+1)) AS chunk_idx
        |  FROM kept WHERE len(w) > 0),
        |ck AS (
        |  SELECT CAST(('0x' || substr(md5(CAST(doc_id AS VARCHAR)), 1, 12)) AS BIGINT) % 8 AS shard,
        |    doc_id, CAST(chunk_idx AS BIGINT) chunk_idx,
        |    CAST(len(list_slice(w, start_tok+1, start_tok+64)) AS BIGINT) n_chunk_tokens
        |  FROM st),
        |off AS (
        |  SELECT shard, n_chunk_tokens,
        |    coalesce(sum(n_chunk_tokens) OVER (PARTITION BY shard ORDER BY doc_id, chunk_idx
        |      ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS start_off
        |  FROM ck),
        |packs AS (
        |  SELECT CAST(shard AS BIGINT) AS shard,
        |    CAST(start_off // 256 AS BIGINT) AS pack_idx,
        |    count(*) AS n_chunks, CAST(sum(n_chunk_tokens) AS BIGINT) AS n_tokens
        |  FROM off GROUP BY 1, 2)
        |SELECT shard, count(*) AS n_packs,
        |  CAST(sum(n_tokens) AS BIGINT) AS total_tokens,
        |  round(CAST(sum(n_tokens) AS DOUBLE) / (count(*) * 256), 6) AS mean_fill
        |FROM packs GROUP BY shard""".stripMargin,
    "x_text_stats" ->
      """WITH perdoc AS (
        |  SELECT lang, n_chars,
        |    CAST(len(w) AS DOUBLE) nt,
        |    CAST(len(list_distinct(w)) AS DOUBLE) nu,
        |    CAST(len([x for x in w if list_contains(['the', 'a'], x)]) AS DOUBLE) sw
        |  FROM (SELECT lang, n_chars,
        |          [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |        FROM documents)
        |  WHERE len(w) > 0)
        |SELECT lang, count(*) AS n_docs,
        |  round(avg(n_chars), 4) AS avg_chars,
        |  round(avg(nt), 4) AS avg_tokens,
        |  round(avg(nu / nt), 6) AS avg_ttr,
        |  round(avg(sw / nt), 6) AS avg_stop_ratio
        |FROM perdoc GROUP BY lang""".stripMargin,
    "x_lang_id" ->
      """SELECT doc_id, lang,
        |  CASE WHEN en_hits > 0 THEN 'en' ELSE 'und' END AS pred_lang,
        |  en_hits, n_tokens,
        |  CAST(CASE WHEN en_hits > 0 THEN 'en' ELSE 'und' END = lang AS INT) AS agrees
        |FROM (
        |  SELECT doc_id, lang,
        |    CAST(len([x for x in w if list_contains(['the', 'a', 'of', 'and'], x)]) AS INT) en_hits,
        |    CAST(len(w) AS INT) n_tokens
        |  FROM (SELECT doc_id, lang,
        |          [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |        FROM documents))""".stripMargin,
    "x_token_count" ->
      """SELECT doc_id,
        |  CAST(len([w for w in string_split_regex(lower(text), '\s+') if w != '']) AS INT) AS n_ws_tokens,
        |  CAST(len(regexp_extract_all(lower(text), '[a-z]+|[0-9]+|[^a-z0-9\s]')) AS INT) AS n_bpe_tokens,
        |  CAST(length(regexp_replace(text, '\s', '', 'g')) AS INT) AS n_chars_nospace
        |FROM documents""".stripMargin,
    "x_fingerprint" ->
      """WITH base AS (
        |  SELECT doc_id,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) fp_md5,
        |    [w for w in string_split_regex(lower(text), '\s+') if w != ''] w
        |  FROM documents)
        |SELECT doc_id, fp_md5,
        |  CAST(('0x' || substr(fp_md5, 1, 15)) AS BIGINT) AS fp_int60,
        |  list_aggregate(list_transform(
        |    CASE WHEN len(w) >= 3
        |         THEN list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)])
        |         ELSE [] END,
        |    x -> md5(x)), 'min') AS fp_shingle_min
        |FROM base""".stripMargin,
    "x_multimodal" ->
      """SELECT doc_id, 'text/plain' AS mime,
        |  CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
        |  sha256(text) AS sha256_hex,
        |  CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 1024 + 64 AS width,
        |  CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 1024 + 64 AS height
        |FROM documents""".stripMargin,

    // Exact-integer resize arithmetic + md5 of the cropped payload; the
    // fixture corpus is ASCII so substr-by-chars == crop-by-bytes.
    "x_mm_resize" ->
      """WITH m AS (
        |  SELECT doc_id, text,
        |    CAST(('0x' || substr(md5(text), 1, 4)) AS BIGINT) % 1024 + 64
        |      AS width,
        |    CAST(('0x' || substr(md5(text), 5, 4)) AS BIGINT) % 1024 + 64
        |      AS height
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, text, width, height,
        |    least(1000000, 256000000 // greatest(width, height)) AS scale_ppm
        |  FROM m),
        |r2 AS (
        |  SELECT doc_id, text, width, height, scale_ppm,
        |    width * scale_ppm // 1000000 AS new_w,
        |    height * scale_ppm // 1000000 AS new_h
        |  FROM r)
        |SELECT doc_id, width, height, scale_ppm, new_w, new_h,
        |  least(CAST(octet_length(encode(text)) AS BIGINT), new_w * new_h)
        |    AS n_bytes_out,
        |  md5(substr(text, 1,
        |    CAST(least(CAST(octet_length(encode(text)) AS BIGINT),
        |      new_w * new_h) AS INT))) AS crop_md5
        |FROM r2""".stripMargin,

    // Character-wise histogram replay of the engine's BYTE histogram —
    // equal on the ASCII fixture corpus (bytes == chars), loud on drift.
    "x_mm_features" ->
      """WITH chars AS (
        |  SELECT doc_id,
        |    unnest([ascii(substr(text, i, 1)) % 16
        |            for i in range(1, len(text) + 1)]) AS bin
        |  FROM documents),
        |bins AS (SELECT doc_id, unnest(range(16)) AS b FROM documents),
        |cnt AS (SELECT doc_id, bin, count(*) AS c FROM chars GROUP BY 1, 2)
        |SELECT b.doc_id, CAST(b.b AS INT) AS bin,
        |  CAST(coalesce(c.c, 0) AS BIGINT) AS cnt
        |FROM bins b
        |LEFT JOIN cnt c ON b.doc_id = c.doc_id AND b.b = c.bin""".stripMargin,

    // The engine DECODES real PNG bytes with ImageIO; the oracle replays
    // the fixture's dimension formula arithmetically. Hash equality =
    // the decoder extracted the true dims and failed loudly on the
    // truncated (doc_id % 97 == 0) corrupt rows.
    "x_mm_decode" ->
      """SELECT doc_id, 'image/png' AS mime,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN 0
        |            ELSE 4 + doc_id % 29 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN 0
        |            ELSE 4 + doc_id % 23 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END AS INT) AS ok
        |FROM documents""".stripMargin,

    // The engine resamples real pixels (decode -> Graphics2D aspect-fit
    // -> PNG encode -> re-decode); the oracle replays only the integer
    // dimension arithmetic over the fixture's doc_id formulas. Hash
    // equality = the re-decoded OUTPUT image carries exactly the planned
    // dimensions, for every payload, including the loud corrupt rows.
    "x_mm_resample" ->
      """WITH m AS (
        |  SELECT doc_id,
        |    CAST(4 + doc_id % 29 AS INT) AS w,
        |    CAST(4 + doc_id % 23 AS INT) AS h,
        |    doc_id % 97 = 0 AS corrupt
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, w, h, corrupt,
        |    least(1000000, 16000000 // greatest(w, h)) AS scale_ppm
        |  FROM m)
        |SELECT doc_id,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE w END AS INT) AS src_w,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE h END AS INT) AS src_h,
        |  CAST(CASE WHEN corrupt THEN 0
        |            ELSE greatest(1, w * scale_ppm // 1000000) END AS INT)
        |    AS out_w,
        |  CAST(CASE WHEN corrupt THEN 0
        |            ELSE greatest(1, h * scale_ppm // 1000000) END AS INT)
        |    AS out_h,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INT) AS ok
        |FROM r""".stripMargin,

    // Real RIFF parse vs the fixture's frame formula: 16-bit mono PCM at
    // 8 kHz with n_frames = 800 + doc_id % 1600; every 89th payload is
    // truncated and must fail loudly with zeroed format values.
    // Ids congruent mod 140 (= lcm of the coprime 5/4/7 dim-and-seed
    // bases) carry byte-identical PNGs; the oracle groups ids by that
    // class while the engine groups by the dHash of the real decoded
    // pixels — equality proves content-identical images fingerprint
    // together and the fixture's distinct pixel fields never collide.
    "x_mm_phash_dedup" ->
      """SELECT min(doc_id) AS cluster_rep,
        |  count(*) AS n_members
        |FROM documents GROUP BY doc_id % 140""".stripMargin,

    // Rotation-fold replay: the base pixel field is fixed by
    // doc_id % 105 (w = 16 + b%5, h = 16 + b%3, seed = b) and only the
    // STORED orientation varies with doc_id div 105 — the canonical
    // min-dHash must erase that, so classes are exactly the mod-105
    // residues.
    "x_mm_phash_rot" ->
      """SELECT min(doc_id) AS cluster_rep,
        |  count(*) AS n_members
        |FROM documents GROUP BY doc_id % 105""".stripMargin,

    // Orientation-applied dedup replay: classes are the mod-105 pixel
    // fields (every stored orientation of a field must land on the
    // upright fingerprint); n_oriented counts the members stored under
    // a non-1 tag (1 + doc_id % 8 = the fixture's orientation pick).
    "x_mm_phash_orient" ->
      """SELECT min(doc_id) AS cluster_rep,
        |  count(*) AS n_members,
        |  CAST(coalesce(sum(CASE WHEN doc_id % 8 <> 0 THEN 1 END), 0)
        |    AS BIGINT) AS n_oriented
        |FROM documents GROUP BY doc_id % 105""".stripMargin,

    // Pixel-identical payloads (same mod-140 class) with all-different
    // bytes must pair at hamming exactly 0; nothing else may pair.
    "x_mm_phash_near" ->
      """SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
        |  CAST(0 AS INT) AS hamming
        |FROM documents a JOIN documents b
        |  ON a.doc_id % 140 = b.doc_id % 140 AND a.doc_id < b.doc_id""".stripMargin,

    // Caption-conflict replay: image class = the planted mod-140 pixel
    // identity (x_mm_phash_dedup's gate proves the engine's dHash
    // classes ARE these classes on this fixture), caption = the same
    // planted NULL/blank/text synthesis, caption key = md5 of the
    // trim+lower caption with NULL and blank-after-trim routed to the
    // per-doc 'nocap:' key — then the identical two-sided rollup: the
    // caption-spread aggregate and the per-image-class report.
    "x_mm_caption_conflict" ->
      """WITH cap AS (
        |  SELECT doc_id,
        |    CASE WHEN doc_id % 29 = 0 THEN NULL
        |         WHEN doc_id % 23 = 0 THEN ''
        |         WHEN doc_id % 23 = 1 THEN '   '
        |         ELSE text END AS caption
        |  FROM documents),
        |p AS (
        |  SELECT doc_id, doc_id % 140 AS ikey,
        |    CASE WHEN caption IS NULL OR trim(caption) = ''
        |         THEN 'nocap:' || CAST(doc_id AS VARCHAR)
        |         ELSE md5(trim(lower(caption))) END AS ckey
        |  FROM cap),
        |cs AS (SELECT ckey, count(DISTINCT ikey) AS n_images
        |  FROM p GROUP BY 1)
        |SELECT min(doc_id) AS cluster_rep,
        |  count(*) AS n_members,
        |  count(DISTINCT ckey) AS n_captions,
        |  CAST(count(DISTINCT ckey) > 1 AS INT) AS caption_conflict,
        |  CAST(coalesce(sum(CASE WHEN n_images > 1 THEN 1 END), 0)
        |    AS BIGINT) AS n_crossimage_docs
        |FROM p JOIN cs USING (ckey)
        |GROUP BY ikey""".stripMargin,

    // The engine decodes the WHOLE PCM body and computes exact-integer
    // features; the oracle regenerates the waveform from the fixture's
    // sample formula s_i = (id*31 + i*2654435761) mod 2^16 as signed
    // int16. Equality proves every PCM byte round-tripped bit-exactly.
    // Replays the generator formula per interleaved slot j, then the
    // engine's exact-integer stereo downmix floorDiv(l + r, 2) as
    // floor((l + r) / 2.0) — exact in double for 17-bit sums. AIFF rows
    // carry the SAME sample values (byte order is the container's
    // concern), so only the channel count branches.
    "x_audio_features" ->
      """WITH f AS (
        |  SELECT doc_id, 800 + doc_id % 1600 AS n,
        |    doc_id % 89 = 0 AS corrupt,
        |    CASE WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS ch
        |  FROM documents),
        |raw AS (
        |  SELECT doc_id, n, corrupt, ch,
        |    [CASE WHEN (doc_id*31 + j*2654435761) % 65536 >= 32768
        |          THEN (doc_id*31 + j*2654435761) % 65536 - 65536
        |          ELSE (doc_id*31 + j*2654435761) % 65536 END
        |     for j in range(0, CAST(n*ch AS INT))] AS rs
        |  FROM f),
        |s AS (
        |  SELECT doc_id, n, corrupt,
        |    CASE WHEN ch = 1 THEN rs
        |         ELSE [CAST(floor((rs[2*i+1] + rs[2*i+2]) / 2.0) AS BIGINT)
        |               for i in range(0, CAST(n AS INT))] END AS smp
        |  FROM raw)
        |SELECT doc_id,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE n END AS BIGINT) AS n_samples,
        |  CAST(CASE WHEN corrupt THEN 0
        |       ELSE list_aggregate(list_transform(smp, x -> x*x), 'sum')
        |       END AS BIGINT) AS sum_sq,
        |  CAST(CASE WHEN corrupt THEN 0
        |       ELSE len([i for i in range(1, len(smp))
        |                 if (smp[i] < 0) <> (smp[i+1] < 0)])
        |       END AS BIGINT) AS n_zero_cross,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INT) AS ok
        |FROM s""".stripMargin,

    // Mime/channels replay the fixture's format rule: every 5th row is
    // stereo WAV, every remaining 7th row is mono (big-endian) AIFF.
    "x_audio_decode" ->
      """SELECT doc_id,
        |  CASE WHEN doc_id % 5 <> 0 AND doc_id % 7 = 0 THEN 'audio/aiff'
        |       ELSE 'audio/wav' END AS mime,
        |  CAST(CASE WHEN doc_id % 89 = 0 THEN 0 ELSE 8000 END AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN doc_id % 89 = 0 THEN 0
        |            WHEN doc_id % 5 = 0 THEN 2 ELSE 1 END AS INT)
        |    AS channels,
        |  CAST(CASE WHEN doc_id % 89 = 0 THEN 0
        |            ELSE 800 + doc_id % 1600 END AS BIGINT) AS n_frames,
        |  CAST(CASE WHEN doc_id % 89 = 0 THEN 0 ELSE 1 END AS INT) AS ok
        |FROM documents""".stripMargin,
    // Brute-force containment over the SAME augmented corpus (base docs
    // plus the planted filler-tail supersets), blocked on shared
    // shingles — lossless for any positive threshold, so this IS the
    // exhaustive answer, not an approximation.
    "x_dedup_contain" ->
      """WITH corpus AS (
        |  SELECT doc_id, text FROM documents
        |  UNION ALL
        |  SELECT doc_id + 10000000,
        |    text || ' qq0 qq1 qq2 qq3 qq4 qq5 qq6 qq7 qq8 qq9 qq10 qq11'
        |  FROM documents WHERE doc_id % 11 = 0),
        |ws AS (
        |  SELECT doc_id, [w for w in string_split_regex(trim(lower(text)), '\s+') if w != ''] w
        |  FROM corpus),
        |sh AS (
        |  SELECT doc_id,
        |    list_distinct([concat(w[i], ' ', w[i+1], ' ', w[i+2]) for i in range(1, len(w)-1)]) s
        |  FROM ws WHERE len(w) >= 3),
        |tall AS (SELECT doc_id, unnest(s) g FROM sh),
        |cand AS (
        |  SELECT DISTINCT a.doc_id AS da, b.doc_id AS db
        |  FROM tall a JOIN tall b ON a.g = b.g AND a.doc_id <> b.doc_id),
        |v AS (
        |  SELECT da, db, len(list_intersect(x.s, y.s)) AS i,
        |    len(x.s) AS na, len(y.s) AS nb
        |  FROM cand JOIN sh x ON x.doc_id = da JOIN sh y ON y.doc_id = db)
        |SELECT da AS doc_contained, db AS doc_container,
        |  CAST(i * 1000000 // na AS BIGINT) AS containment_ppm,
        |  CAST(i * 1000000 // (na + nb - i) AS BIGINT) AS jaccard_ppm,
        |  CAST(CASE WHEN i * 1000000 // (na + nb - i) < 800000
        |       THEN 1 ELSE 0 END AS INT) AS jaccard_misses
        |FROM v WHERE i * 1000000 >= 900000 * na""".stripMargin,
    // Dims survive the lossy JPEG round-trip exactly; corrupt rows are
    // the 3-byte SOI truncations.
    "x_mm_decode_jpeg" ->
      """SELECT doc_id, 'image/jpeg' AS mime,
        |  CAST(CASE WHEN doc_id % 101 = 0 THEN 0
        |            ELSE 8 + doc_id % 25 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 101 = 0 THEN 0
        |            ELSE 8 + doc_id % 19 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 101 = 0 THEN 0 ELSE 1 END AS INT) AS ok
        |FROM documents""".stripMargin,
    // Dims are exact across all five formats (GIF quantizes colors and
    // JPEG is lossy — neither touches dimensions); corrupt rows are the
    // 5-byte truncations.
    "x_mm_decode_multi" ->
      """SELECT doc_id,
        |  'image/' ||
        |    (['png', 'jpeg', 'gif', 'bmp', 'tiff'])
        |      [CAST(doc_id % 5 AS INT) + 1] AS mime,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN 0
        |            ELSE 8 + doc_id % 23 END AS INT) AS width,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN 0
        |            ELSE 8 + doc_id % 17 END AS INT) AS height,
        |  CAST(CASE WHEN doc_id % 97 = 0 THEN 0 ELSE 1 END AS INT) AS ok
        |FROM documents""".stripMargin,
    // Replays the MPEG header arithmetic end to end: bitrate/rate from
    // the fixture's index formulas, frame length floor(144000·kbps/rate),
    // n_bytes = frames·flen (+32-byte ID3v2 on every 4th row), duration
    // floor(frames·1152·1000/rate). Corrupt rows are the 7-byte
    // truncations (zeros except the observed byte count, ok=0).
    "x_audio_probe_mp3" ->
      """WITH f AS (
        |  SELECT doc_id, 20 + doc_id % 30 AS frames,
        |    CAST(1 + doc_id % 14 AS INT) AS bi,
        |    CAST(doc_id % 3 AS INT) AS ri,
        |    doc_id % 73 = 0 AS corrupt,
        |    CASE WHEN doc_id % 4 = 0 THEN 32 ELSE 0 END AS tag
        |  FROM documents),
        |t AS (
        |  SELECT doc_id, frames, corrupt, tag,
        |    ([0,32,40,48,56,64,80,96,112,128,160,192,224,256,320])[bi + 1]
        |      AS kbps,
        |    ([44100,48000,32000])[ri + 1] AS rate
        |  FROM f)
        |SELECT doc_id, 'audio/mpeg' AS mime,
        |  CAST(CASE WHEN corrupt THEN 7
        |       ELSE frames * (144000 * kbps // rate) + tag END AS BIGINT)
        |    AS n_bytes,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE frames END AS BIGINT)
        |    AS n_frames,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE kbps END AS INT)
        |    AS bitrate_kbps,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE rate END AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN corrupt THEN 0
        |       ELSE frames * 1152 * 1000 // rate END AS BIGINT)
        |    AS duration_ms,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INT) AS ok
        |FROM t""".stripMargin,
    // Replays the EXIF fixture's field formulas: byte order by id
    // parity, orientation 1 + id%8, dims from the id moduli, entry
    // count 3 (+1 on even ids); corrupt rows are the 6-byte
    // truncations (empty byte order, zeros, ok=0).
    "x_mm_exif" ->
      """WITH f AS (SELECT doc_id, doc_id % 103 = 0 AS corrupt
        |  FROM documents)
        |SELECT doc_id,
        |  CASE WHEN corrupt THEN ''
        |       WHEN doc_id % 2 = 1 THEN 'II' ELSE 'MM' END AS byte_order,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 + doc_id % 8 END AS INT)
        |    AS orientation,
        |  CAST(CASE WHEN corrupt THEN 0
        |       ELSE 640 + (doc_id % 7) * 16 END AS INT) AS width,
        |  CAST(CASE WHEN corrupt THEN 0
        |       ELSE 480 + (doc_id % 5) * 16 END AS INT) AS height,
        |  CAST(CASE WHEN corrupt THEN 0
        |       WHEN doc_id % 2 = 0 THEN 4 ELSE 3 END AS INT) AS n_entries,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INT) AS ok
        |FROM f""".stripMargin,
    // Replays the SRT cue formulas per (doc, cue): start i·4000 +
    // id%1000, end +1500 + (id%7)·250, text chars 10 + (id+3i)%25
    // (+5 on every 3rd cue's second line); corrupt docs (15-byte
    // truncation) emit ONE zeroed ok=0 row.
    // Replays the WARC fixture's record layout arithmetically: record
    // k of 1 + doc_id % 3 is warcinfo (k=1, no Target-URI, 4 headers)
    // or response/request by (doc_id + k) parity (5 headers, the
    // example{id%40}.com/pK URI); Content-Length is the body formula.
    // Corrupt payloads (doc_id % 83 = 0, lost final terminator) yield
    // the single zeroed ok=0 row.
    "x_warc" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 83 = 0 AS corrupt,
        |    CAST(1 + doc_id % 3 AS INT) AS n
        |  FROM documents)
        |SELECT doc_id, CAST(k AS BIGINT) AS rec_idx,
        |  CASE WHEN k = 1 THEN 'warcinfo'
        |       WHEN (doc_id + k) % 2 = 0 THEN 'response'
        |       ELSE 'request' END AS warc_type,
        |  CASE WHEN k = 1 THEN ''
        |       ELSE 'https://example' || CAST(doc_id % 40 AS VARCHAR)
        |            || '.com/p' || CAST(k AS VARCHAR) END AS target_uri,
        |  CAST(20 + (doc_id * 7 + k * 13) % 50 AS BIGINT)
        |    AS content_length,
        |  CAST(CASE WHEN k = 1 THEN 4 ELSE 5 END AS INT) AS n_headers,
        |  CAST(1 AS INT) AS ok
        |FROM f, unnest(generate_series(1, n)) t(k)
        |WHERE NOT corrupt
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), '', '', CAST(0 AS BIGINT),
        |  CAST(0 AS INT), CAST(0 AS INT)
        |FROM f WHERE corrupt""".stripMargin,
    // Replays the per-record-gzip WARC fixture: member k of
    // 1 + doc_id % 4 carries the x_warc record grammar's fields, and
    // plain_len is recomputed from the record's EXACT string lengths
    // (version line, each header line, blank line, body, terminator) —
    // so the walk's inflate + CRC + ISIZE verification is
    // hash-load-bearing. The three corruption arms (doc_id % 89 in
    // (5, 23, 47): zeroed magic, flipped stored CRC, truncated
    // trailer) are the single zeroed ok=0 branch.
    "x_warc_gz" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 89 IN (5, 23, 47) AS corrupt,
        |    CAST(1 + doc_id % 4 AS INT) AS n
        |  FROM documents),
        |r AS (
        |  SELECT doc_id, corrupt, k,
        |    CASE WHEN k = 1 THEN 'warcinfo'
        |         WHEN (doc_id + k) % 2 = 0 THEN 'response'
        |         ELSE 'request' END AS wt,
        |    20 + (doc_id * 7 + k * 13) % 50 AS cl
        |  FROM f, unnest(generate_series(1, n)) t(k))
        |SELECT doc_id, CAST(k AS BIGINT) AS member_idx,
        |  wt AS warc_type,
        |  CASE WHEN k = 1 THEN ''
        |       ELSE 'https://example' || CAST(doc_id % 40 AS VARCHAR)
        |            || '.com/p' || CAST(k AS VARCHAR) END AS target_uri,
        |  CAST(cl AS BIGINT) AS content_length,
        |  CAST(CASE WHEN k = 1 THEN 4 ELSE 5 END AS INT) AS n_headers,
        |  CAST(10
        |    + length('WARC-Type: ' || wt) + 2
        |    + length('WARC-Record-ID: <urn:uuid:'
        |        || CAST(doc_id AS VARCHAR) || '-' || CAST(k AS VARCHAR)
        |        || '>') + 2
        |    + 33
        |    + CASE WHEN k = 1 THEN 0
        |           ELSE length('WARC-Target-URI: https://example'
        |             || CAST(doc_id % 40 AS VARCHAR) || '.com/p'
        |             || CAST(k AS VARCHAR)) + 2 END
        |    + length('Content-Length: ' || CAST(cl AS VARCHAR)) + 2
        |    + 2 + cl + 4 AS BIGINT) AS plain_len,
        |  CAST(1 AS INT) AS ok
        |FROM r WHERE NOT corrupt
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), '', '', CAST(0 AS BIGINT),
        |  CAST(0 AS INT), CAST(0 AS BIGINT), CAST(0 AS INT)
        |FROM f WHERE corrupt""".stripMargin,
    // Replays the charset fixture arithmetically: mode = doc_id % 7
    // fixes the planted encoding, so BOM/meta/verdict and every walk
    // count are CASE arms over (mode, l, k, v, le); the two corrupt
    // arms (BOM-contradicting truncation, de-aligned UTF-16) are the
    // zeroed ok=0 branch.
    "x_charset" ->
      """WITH f AS (
        |  SELECT doc_id, CAST(doc_id % 7 AS INT) AS m,
        |    CAST(20 + (doc_id * 7) % 40 AS BIGINT) AS l,
        |    CAST(1 + doc_id % 5 AS BIGINT) AS k,
        |    CAST(1 + doc_id % 2 AS BIGINT) AS v,
        |    (doc_id // 7) % 2 = 0 AS le,
        |    doc_id % 35 = 8 OR doc_id % 35 = 13 AS corrupt
        |  FROM documents)
        |SELECT doc_id,
        |  CASE m WHEN 1 THEN 'utf-8'
        |         WHEN 6 THEN CASE WHEN le THEN 'utf-16le'
        |                          ELSE 'utf-16be' END
        |         ELSE '' END AS bom,
        |  CASE m WHEN 1 THEN 'utf-8' WHEN 2 THEN 'iso-8859-1'
        |         WHEN 3 THEN 'windows-1252' ELSE '' END AS meta_charset,
        |  CASE m WHEN 0 THEN 'ascii' WHEN 1 THEN 'utf-8'
        |         WHEN 2 THEN 'utf-8' WHEN 3 THEN 'windows-1252'
        |         WHEN 4 THEN 'iso-8859-1' WHEN 5 THEN 'windows-1252'
        |         WHEN 6 THEN CASE WHEN le THEN 'utf-16le'
        |                          ELSE 'utf-16be' END END AS detected,
        |  CAST(CASE m WHEN 0 THEN l WHEN 1 THEN 25 + l + 2 * k
        |              WHEN 2 THEN 27 + l + 3 * k WHEN 3 THEN 29 + l + 4 * k
        |              WHEN 4 THEN l + 2 * k WHEN 5 THEN l + 3 * v + 10
        |              WHEN 6 THEN 2 + 2 * l END AS BIGINT) AS n_bytes,
        |  CAST(CASE m WHEN 0 THEN l WHEN 1 THEN 22 + l
        |              WHEN 2 THEN 27 + l WHEN 3 THEN 29 + l + 2 * k
        |              WHEN 4 THEN l + k WHEN 5 THEN l + v + 3
        |              WHEN 6 THEN 0 END AS BIGINT) AS n_ascii,
        |  CAST(CASE WHEN m IN (1, 2) THEN k ELSE 0 END AS BIGINT)
        |    AS n_valid_mb,
        |  CAST(CASE WHEN m = 5 THEN v ELSE 0 END AS BIGINT) AS n_overlong,
        |  CAST(CASE WHEN m = 5 THEN 1 ELSE 0 END AS BIGINT) AS n_surrogate,
        |  CAST(CASE WHEN m IN (3, 4) THEN k WHEN m = 5 THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_truncated,
        |  CAST(CASE WHEN m = 3 THEN k WHEN m = 5 THEN 2 ELSE 0 END
        |    AS BIGINT) AS n_invalid,
        |  CAST(CASE WHEN m = 3 THEN k WHEN m = 5 THEN 1 ELSE 0 END
        |    AS BIGINT) AS n_c1,
        |  CAST(1 AS INT) AS ok
        |FROM f WHERE NOT corrupt
        |UNION ALL
        |SELECT doc_id, '', '', '', CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS INT)
        |FROM f WHERE corrupt""".stripMargin,
    "x_subtitle_cues" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 101 = 0 AS corrupt,
        |    CAST(3 + doc_id % 6 AS INT) AS n
        |  FROM documents)
        |SELECT doc_id, CAST(i + 1 AS BIGINT) AS cue_idx,
        |  CAST(i * 4000 + doc_id % 1000 AS BIGINT) AS start_ms,
        |  CAST(i * 4000 + doc_id % 1000 + 1500 + (doc_id % 7) * 250
        |    AS BIGINT) AS end_ms,
        |  CAST(10 + (doc_id + i * 3) % 25 +
        |    CASE WHEN i % 3 = 0 THEN 5 ELSE 0 END AS BIGINT) AS n_chars,
        |  CAST(1 AS INT) AS ok
        |FROM f, unnest(generate_series(0, n - 1)) t(i)
        |WHERE NOT corrupt
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS INT)
        |FROM f WHERE corrupt""".stripMargin,
    // Replays the FLAC fixture's field formulas end to end: n_bytes =
    // magic(4) + streaminfo(4+34) + optional padding block (4+16 on
    // every 4th row) + body; duration is the probe's integer-floor
    // total·1000//rate. Corrupt rows are the 9-byte truncations
    // (zeros except the observed byte count, ok=0).
    "x_audio_probe_flac" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 79 = 0 AS corrupt,
        |    ([44100,48000,22050])[CAST(doc_id % 3 AS INT) + 1] AS rate,
        |    CAST(1 + doc_id % 2 AS INT) AS ch,
        |    CAST(CASE WHEN doc_id % 5 = 0 THEN 24 ELSE 16 END AS INT)
        |      AS bps,
        |    10000 + doc_id % 90000 AS total,
        |    64 + doc_id % 100 AS blen,
        |    CASE WHEN doc_id % 4 = 0 THEN 20 ELSE 0 END AS pad
        |  FROM documents)
        |SELECT doc_id, 'audio/flac' AS mime,
        |  CAST(CASE WHEN corrupt THEN 9
        |       ELSE 4 + 38 + pad + blen END AS BIGINT) AS n_bytes,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE rate END AS INT)
        |    AS sample_rate,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE ch END AS INT) AS channels,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE bps END AS INT)
        |    AS bits_per_sample,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE total END AS BIGINT)
        |    AS total_samples,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE total * 1000 // rate END
        |    AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE 1 END AS INT) AS ok
        |FROM f""".stripMargin,
    // VAD replay: window w of doc is silent iff (doc_id + 3w) mod 11
    // < 4 (the planted pattern — active windows are provably energetic
    // by the forced-odd samples), so segments are run-length groups of
    // the arithmetic activity flag: lag-based run starts, running-sum
    // run ids, per-run min/max windows, 20 ms window arithmetic with
    // the final partial window clamped to the true frame count.
    "x_audio_vad" ->
      """WITH f AS (
        |  SELECT doc_id, doc_id % 89 = 0 AS corrupt,
        |    800 + doc_id % 1600 AS nf
        |  FROM documents),
        |w AS (
        |  SELECT doc_id, nf, i AS wi,
        |    NOT ((doc_id + 3 * i) % 11 < 4) AS active
        |  FROM f, unnest(generate_series(0, (nf + 159) // 160 - 1)) t(i)
        |  WHERE NOT corrupt),
        |r AS (
        |  SELECT *, CASE WHEN active AND NOT coalesce(lag(active) OVER
        |      (PARTITION BY doc_id ORDER BY wi), FALSE)
        |    THEN 1 ELSE 0 END AS st
        |  FROM w),
        |g AS (
        |  SELECT *, sum(st) OVER (PARTITION BY doc_id ORDER BY wi) run
        |  FROM r),
        |seg AS (
        |  SELECT doc_id, run, min(wi) w0, max(wi) w1, count(*) nw,
        |    any_value(nf) nf
        |  FROM g WHERE active GROUP BY doc_id, run)
        |SELECT doc_id,
        |  CAST(row_number() OVER (PARTITION BY doc_id ORDER BY w0)
        |    AS BIGINT) AS seg_idx,
        |  CAST(w0 * 160 * 1000 // 8000 AS BIGINT) AS start_ms,
        |  CAST(least(nf, (w1 + 1) * 160) * 1000 // 8000 AS BIGINT)
        |    AS end_ms,
        |  CAST(nw AS BIGINT) AS n_windows,
        |  CAST(1 AS INT) AS ok
        |FROM seg
        |UNION ALL
        |SELECT doc_id, CAST(0 AS BIGINT), CAST(0 AS BIGINT),
        |  CAST(0 AS BIGINT), CAST(0 AS BIGINT), CAST(0 AS INT)
        |FROM f WHERE corrupt""".stripMargin,

    // Replays the MP4 fixture's field formulas, including the parser's
    // integer-floor units→ms conversion (duration * 1000 // timescale).
    // Corrupt rows (doc_id % 83 = 0, truncated container) → zeros, ok=0.
    "x_video_probe" ->
      """WITH f AS (SELECT doc_id, doc_id % 83 = 0 AS corrupt,
        |    3000 + doc_id % 9000 AS dur_units,
        |    600 + (doc_id % 5) * 150 AS ts,
        |    320 + (doc_id % 8) * 80 AS w,
        |    240 + (doc_id % 6) * 60 AS h
        |  FROM documents)
        |SELECT doc_id, 'video/mp4' AS mime,
        |  CAST(CASE WHEN corrupt THEN 0
        |            ELSE dur_units * 1000 // ts END AS BIGINT) AS duration_ms,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE ts END AS INT) AS timescale,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE w END AS INT) AS width,
        |  CAST(CASE WHEN corrupt THEN 0 ELSE h END AS INT) AS height,
        |  CAST(NOT corrupt AS INT) AS ok
        |FROM f""".stripMargin,
    // Replays the per-track layout: track 1 'vide' with the dim formula
    // on every healthy container, track 2 'soun' (zero dims) on the
    // two-track (doc_id % 3 = 0) fixtures, one zeroed ok=0 row per
    // corrupt container.
    "x_video_tracks" ->
      """WITH f AS (SELECT doc_id, doc_id % 83 = 0 AS corrupt,
        |    320 + (doc_id % 8) * 80 AS w,
        |    240 + (doc_id % 6) * 60 AS h,
        |    doc_id % 3 = 0 AS has_audio
        |  FROM documents),
        |rows AS (
        |  SELECT doc_id, 0 AS track_id, '' AS handler, 0 AS w2, 0 AS h2,
        |    0 AS ok
        |  FROM f WHERE corrupt
        |  UNION ALL
        |  SELECT doc_id, 1, 'vide', w, h, 1 FROM f WHERE NOT corrupt
        |  UNION ALL
        |  SELECT doc_id, 2, 'soun', 0, 0, 1
        |  FROM f WHERE NOT corrupt AND has_audio)
        |SELECT doc_id, CAST(track_id AS BIGINT) AS track_id, handler,
        |  CAST(w2 AS INT) AS width, CAST(h2 AS INT) AS height,
        |  CAST(ok AS INT) AS ok
        |FROM rows""".stripMargin
  )
}
