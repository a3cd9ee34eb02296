package graft

import java.nio.file.{Files, Paths}

/** Regenerates PLANS.md: `explain("formatted")` output for the headline
  * queries, so the plan shapes (pushdown, pruning, join modes, partial
  * aggregation, no nested loops) are reviewable without running Spark.
  * Given a query list, prints those queries' formatted plans to stdout
  * instead (before/after plan diffs of an optimization).
  * Usage: sbt "runMain graft.PlanDump [sfDir] [q1,q2,...]"
  */
object PlanDump {
  private val headliners = Seq(
    "q_group_agg" -> "Flagship grouped aggregation — pushed filter, partial+final HashAggregate",
    "q_join_multi" -> "Star join — fact shuffled once, fixed dims broadcast, AQE decides the rest",
    "q_join_range" -> "Naive BETWEEN join auto-rewritten by BandedRangeJoinRule (no BNLJ)",
    "q_topk" -> "Top-N — TakeOrderedAndProject (bounded heap + driver merge)",
    "q_v1_latest" -> "HBase latest-version semantics — one shuffle + one window pass",
    "x_dedup_near" -> "MinHash/LSH near-dup — banded groupBy candidates, no all-pairs stage",
    "x_dedup_ngram" -> ("Exact n-gram Jaccard join — rare-first prefix " +
      "filter (AllPairs/PPJoin); inverted-index groupBy on prefix " +
      "shingles only, no all-pairs stage"),
    "x_dedup_simhash" -> "SimHash near-dup — pigeonhole block groupBy candidates, exact hamming verify",
    "x_sim_brute" -> ("Cosine top-k — broadcast probes, partial+final typed " +
      "Aggregator. The BroadcastNestedLoopJoin here is INTENTIONAL: " +
      "brute-force semantics require every corpus row to score against " +
      "every probe, and the broadcast side is the bounded 8-row probe set " +
      "— the corpus streams map-side exactly once. The scale path that " +
      "avoids exhaustive scoring is x_sim_lsh."),
    "x_sim_lsh" -> "ANN — map-side bucket + equi-join, within-bucket brute force only",
    "x_sim_ivf" -> ("IVF ANN — centroids broadcast (bounded sqrt(n) set; " +
      "the BNLJ against them is intentional), map-side argmax cell " +
      "assignment, probe searches nprobe cells via equi-join on cell"),
    "x_decontam" -> ("Benchmark decontamination — benchmark shingle set " +
      "broadcast (bounded by definition), corpus explode + broadcast-hash " +
      "match + doc_id groupBy; corpus text never shuffles"),
    "x_chunk" -> "Token chunking — sequence/posexplode/slice per row, zero shuffles",
    "x_pack" -> ("Sequence packing — one hash shuffle on the md5 shard key " +
      "+ in-partition running-sum window; never a single-partition sort"),
    "x_tfidf" -> ("Salient terms — (doc,term) tf counts, term df counts, " +
      "equi-join on term, per-doc top-k window; exact-integer salience"),
    "x_quality" -> "Per-doc quality gates — single scan, zero shuffles, fully codegen'd",
    "x_repetition" -> "Repetition signals — explode + two partial/final agg chains sharing the doc_id partitioning",
    "x_sample_strat" -> "Stratified sample — hash-keyed filter at the scan, zero shuffles",
    "x_dedup_para" -> ("Paragraph boilerplate removal — explode, one hash " +
      "shuffle on the paragraph hash (countDistinct docs), equi-join the " +
      "boilerplate set back, per-doc regroup; no all-pairs stage"),
    "x_mix_domain" -> ("Token-budget domain mixing — tiny per-domain " +
      "aggregate joined back (auto-broadcast) + an embarrassingly " +
      "parallel md5-keyed filter; rate-based, never a per-domain sort"),
    "x_bm25" -> ("BM25 top-k — explode filtered to the query terms before " +
      "any shuffle, partial+final tf aggregate, broadcast df/corpus-stats, " +
      "TakeOrderedAndProject for the global top-k (no full sort)"),
    "q_cdc_merge" -> ("CDC/changelog merge — partial+final max_by " +
      "aggregate on the (version, tiebreak) struct (SortAggregate: the " +
      "struct buffer sorts locally per partition before the partial); " +
      "the shuffle carries one row per key per partition, never the full " +
      "changelog through a window"),
    "x_dedup_substr" -> ("Substring-level exact dedup — sliding-window " +
      "hashes collapse to (doc, hash) counts map-side, one hash shuffle " +
      "for corpus totals, dup set equi-joins back; no all-pairs stage"),
    "x_bpe_stats" -> ("BPE pair statistics — pairs enumerated over the " +
      "DISTINCT word table (bounded by vocabulary) weighted by word " +
      "frequency; TakeOrderedAndProject top-k"),
    "x_rank_fusion" -> ("Hybrid retrieval RRF — BM25 and dense cosine " +
      "top-k lists (both TakeOrderedAndProject), exact-integer " +
      "reciprocal-rank fusion over the bounded union"),
    "x_knn_graph" -> ("Corpus k-NN graph — IVF cell assignment (bounded " +
      "centroid BNLJ is intentional), cell equi-self-join, per-vector " +
      "top-k window; O(n^1.5) candidates, never n^2"),
    "q_join_bucket" -> ("Bucketed co-located join — both sides written " +
      "bucketBy(key)+sortBy (one file per bucket); merge join + per-key " +
      "agg with ZERO Exchange in the plan. The pre-paid layout strategy " +
      "that eliminates the join shuffle at 100 TB"),
    "x_pipeline_clean" -> ("Cleaning composition — exact dedup, substring" +
      "-span drop, quality gate, per-source accounting; each stage keeps " +
      "its standalone shape, composition adds only doc_id equi/anti joins"),
    "q_etl_bulkload" -> "Bulk load — RangePartitioner sample + per-partition sort write",
    "s_tumbling" -> "Tumbling event-time window (same plan batch or streaming)",
    "q_tpch_q21" -> ("TPC-H Q21 waiting suppliers — EXISTS + NOT-EXISTS " +
      "double correlation on lineitem self-joins; both correlations are " +
      "hash semi/anti joins on the order key with the supplier-inequality " +
      "and lateness conditions as residuals inside the join, never a " +
      "post-cartesian filter"),
    "q_tpch_q20" -> ("TPC-H Q20 part promotion — nested semi-join chain " +
      "(part -> lineitem agg -> supplier -> nation); scale-relative " +
      "exact-BIGINT threshold via a broadcast 1-row aggregate (the only " +
      "permitted nested loop)"),
    "q_tpch_q9" -> ("TPC-H Q9 product-type profit — LIKE-filtered " +
      "5-table star, exact 1e-4-dollar BIGINT profit units, partial+final " +
      "aggregation on (nation, year)"),
    "q_tpch_q13" -> ("TPC-H Q13 order-count distribution — predicate on " +
      "the OUTER join itself (zero-order customers survive) feeding a " +
      "second-level aggregation"),
    "q_tpch_q19" -> ("TPC-H Q19 bracketed disjunction — three brand/size/" +
      "quantity OR-brackets evaluated as a residual over the p_partkey " +
      "hash equi-join; the join never degenerates to a nested loop"),
    "x_knn_graph_probe" -> ("k-NN graph at nprobe=2 — every vector also " +
      "searches its second-nearest IVF cell (probe ranking over the " +
      "bounded broadcast centroid set); neighbors stay in their owner " +
      "cell, so candidates grow linearly in nprobe"),
    "q_tpch_q2" -> ("TPC-H Q2 min-cost supplier — correlated scalar min " +
      "per part (partial+final agg) joined back on the exact-integer " +
      "(partkey, unit_mc) pair; deterministic LIMIT via a unique " +
      "sort-key tail"),
    "q_tpch_q16" -> ("TPC-H Q16 supplier-part counts — NOT-IN exclusion " +
      "as a hash anti-join feeding a count-distinct rollup"),
    "x_sample_diverse" -> ("Coreset diversity sampling — per-IVF-cell " +
      "most-central representatives; broadcast-argmax assignment + one " +
      "cell-partitioned window, O(n·dim), no pairwise stage"),
    "q_tpch_q11" -> ("TPC-H Q11 important stock — per-part value rollup " +
      "filtered against a broadcast 1-row global (total, count) scalar " +
      "in exact BIGINT cents"),
    "x_decontam_embed" -> ("Embedding-space decontamination — bounded " +
      "benchmark broadcast, map-side cosine + partial max-agg; the only " +
      "shuffle is one max-cos row per corpus vector"),
    "x_shuffle_epochs" -> ("Deterministic multi-epoch training shuffle — " +
      "exact-BIGINT multiplicative hash positions, epoch explode + ONE " +
      "balanced range sort; no global row_number bottleneck"),
    "q_window_range" -> ("Time-range window frame — trailing 5-minute " +
      "per-user aggregate on an exact-integer microsecond frame key, " +
      "riding the user_id hash partitioning"),
    "q_funnel" -> ("Strict sequential funnel — three stage windows and " +
      "the per-user rollup all reuse ONE user_id Exchange; events cross " +
      "the wire once at any scale"),
    "q_sessionize" -> ("Gap-based sessionization — lag, running-sum " +
      "session ids and the per-session rollup all ride ONE user_id " +
      "Exchange (groupBy(user, session) satisfied by the window's " +
      "clustering)"),
    "q_pagerank" -> ("Integer-mass PageRank — each iteration one " +
      "edges⋈mass equi-join + dst hash agg; degree-annotated edges " +
      "persisted once; no driver-side state"),
    "x_embed_quantize" -> ("Int8-quantized retrieval — map-side " +
      "quantization, bounded probe broadcast (intentional BNLJ, the " +
      "x_sim_brute contract), exact-integer scores through the typed " +
      "partial+final top-k Aggregator"),
    "x_outlier_mad" -> ("Robust median/MAD outlier screen — exact " +
      "interpolated medians from (group, value) distribution tables " +
      "(cum-count windows), never a per-group value buffer; med/MAD " +
      "join back broadcast-sized"),
    "q_gapfill" -> ("LOCF gap fill — max(struct) per-hour partial agg, " +
      "sequence-explode spine, left join, one last(ignoreNulls) window " +
      "on the user partitioning"),
    "q_rfm" -> ("RFM segmentation — distribution-walk quartiles (nation-" +
      "partitioned windows, no per-group value buffer), 25-row quartile " +
      "tables broadcast back onto one customer aggregation"),
    "q_basket" -> ("Market-basket lift — whale baskets capped out by a " +
      "key-sized degree pre-filter, then map-side pair expansion from " +
      "per-basket arrays; brand-domain side tables broadcast"),
    "q_sql_lateral" -> ("Correlated LIMIT lateral — decorrelated to a " +
      "window rank over one customer shuffle, no per-outer-row rescan"),
    "q_join_fuzzy" -> ("Edit-distance join — occurrence-indexed gram " +
      "inverted index, rare-first prefix equi-join candidates, exact " +
      "levenshtein verify; lossless blocking, no cross product"),
    "x_cluster_topics" -> ("Corpus topic report — bounded centroid " +
      "broadcast + map-side argmax labels, one (cell, term) count " +
      "shuffle, per-cell top-5 window on the vocab-bounded table"),
    "x_hard_neg" -> ("Contrastive hard-negative mining — IVF owner-cell " +
      "blocking (bounded centroid broadcast + argmax), cell equi-self-" +
      "join with the label-inequality residual, per-anchor top-k " +
      "window; O(n^2/nlist) candidates, never n^2"),
    "x_dsir" -> ("DSIR importance weighting — the whole model is one " +
      "1024-bin hashed-token table (one hash agg), broadcast back onto " +
      "a second codegen'd scan; no pairwise stage, no driver state"),
    "x_winnow" -> ("Winnowing fingerprints — explode + ONE doc-" +
      "partitioned window pass (packed rightmost-min frames) + per-doc " +
      "hash agg; no shuffle beyond doc_id, no pairwise stage"),
    "q_hits" -> ("Integer-mass HITS — per half-step one edge equi-join " +
      "+ hash agg, max-rescale via 1-row broadcast (never a collect); " +
      "edges persisted once, bipartite-native directed form"),
    "x_ccnet" -> ("CCNet perplexity split — unigram-LM scoring, per-" +
      "language quartile boundaries from the distribution walk (no " +
      "per-group value buffer), language-sized boundary broadcast"),
    "q_kcore" -> ("Bounded k-core peeling — per round one degree agg + " +
      "two node-set semi-joins (AQE broadcasts the survivor set); edge " +
      "table localCheckpoint-ed per round to keep the plan flat"),
    "x_cms" -> ("Count-Min heavy hitters — one token explode, (j, cell) " +
      "hash agg bounded at d×w rows broadcast back, exact top-k via " +
      "TakeOrderedAndProject; sketch state is O(d·w) at any corpus size"),
    "q_etl_zorder" -> ("Z-order layout key — 1-row min/max stats " +
      "broadcast, normalized Morton interleave as one codegen'd " +
      "projection, zero shuffle (the consuming range sort is the " +
      "writer's)"),
    "x_dataset_card" -> ("Per-source dataset card — fingerprint dedup " +
      "agg + bounded (source, lang) argmax rollup + per-source rollup; " +
      "exact ppm integers throughout"),
    "q_triangles" -> ("Triangle counting — degree-ordered orientation " +
      "(struct-compare projection) bounds every out-degree at O(√m), " +
      "wedge self-join + closing-edge equi-join; a 10M-degree hub " +
      "contributes ZERO wedges (ScaleSpec proof)"),
    "q_label_prop" -> ("Min-label propagation — edge table hash-" +
      "partitioned + cached once; per round one node-sized frontier " +
      "min-agg + left join, localCheckpoint-ed (r rounds = ONE edge " +
      "shuffle total)"),
    "q_join_salted" -> ("Skew-salted join — dim exploded ×salts, fact " +
      "salt from its own key, join on (key, salt) spreads each hot key " +
      "over salts tasks; post-join re-merge is key-sized after partial " +
      "agg"),
    "x_pq" -> ("PQ encode — sub-vector posexplode, m·ksub codebook " +
      "broadcast, partial-agg (dist, code) argmin; shuffle is m int " +
      "rows per vector, never n×ksub"),
    "x_pq_adc" -> ("PQ ADC search — 512-entry integer LUT broadcast " +
      "onto the code table, exact integer partial sums + rank window; " +
      "the scan never touches a float vector"),
    "x_sample_weighted" -> ("Weighted sampling (Efraimidis–Spirakis) — " +
      "one codegen'd scan computes md5-deterministic exponential keys, " +
      "per-group top-k window; no per-group state, no rejection loop"),
    "x_perplexity_interp" -> ("Jelinek–Mercer bigram LM — pair counts + " +
      "two unigram equi-joins + 1-row total broadcast; O(total pairs) " +
      "with map-side combine, no stage superlinear in corpus size"),
    "q_agg_wmedian" -> ("Weighted median — distribution-sized (grp, v) " +
      "rollup with partial agg, ONE cumulative window, integer " +
      "threshold; no per-group value buffer at any group size"),
    "q_join_bloom" -> ("Bloom-pruned semi-join — distributed bitmap " +
      "build (per-word bit_or, shuffle ≤ bits/64 words), dense " +
      "long-array broadcast (O(1) probes — a map bitmap linear-scans), " +
      "zero-shuffle forall probe, exact hash semi-join on survivors"),
    "q_bfs" -> ("Bounded BFS — frontier-only propagation; per round one " +
      "edges⋈frontier equi-join + node-sized min agg + full-merge; " +
      "edge table hash-partitioned and cached once"),
    "q_sssp" -> ("Bounded Bellman–Ford — the BFS loop with integer " +
      "edge-weight relaxation; changed-rows-only propagation keeps late " +
      "rounds frontier-sized"),
    "q_scan_partition" -> ("Partition-pruned scan — PartitionFilters " +
      "prunes directories at listing time; composes with row-group " +
      "pushdown below it"),
    "q_distinct_sketch" -> ("Mergeable HLL distinct — per-slice " +
      "hll_sketch_agg partials, binary sketch union agg, estimate; " +
      "sketch state is fixed-size per group at any cardinality"),
    "x_cooccur" -> ("Skip-gram co-occurrence — window·tokens LOCAL " +
      "zip-with-shifted slots, ONE partially-aggregated count shuffle, " +
      "TakeOrderedAndProject top-k; never a positional self-join"),
    "x_dedup_bloom" -> ("Bloom-accelerated incremental dedup — bitmap " +
      "misses (definitely-new) bypass the shuffle entirely; only hits " +
      "run the exact anti-join that rescues false positives"),
    "q_time_rollup" -> ("Multi-grain time cube — Expand feeds one " +
      "partial+final aggregate; year/month/day subtotals cost the " +
      "single finest-grain shuffle"),
    "q_analyze_stats" -> ("ANALYZE column stats — one multi-distinct " +
      "scan (single Expand), stack() unpivot; no per-column rescans"),
    "q_join_temporal" -> ("Temporal validity-interval join — hash " +
      "equi-join on the natural key, half-open interval residual; " +
      "composes the one-shuffle SCD2 dimension build"),
    "x_mm_features" -> ("Media byte-histogram features — typed " +
      "mapPartitions at the model position, zero shuffle, fixed-arity " +
      "tall output"),
    "q_skyline" -> ("Pareto frontier — per-(brand, price) collapse + " +
      "strictly-preceding prefix-max window; no quadratic dominance join"),
    "q_unpivot" -> "UNPIVOT — stack generator, single scan, zero shuffle",
    "x_bpe_apply" -> ("BPE tokenizer serve — chained literal replaces, " +
      "zero-shuffle map stage"),
    "s_distinct" -> ("Windowed exact distinct users — two CHAINED " +
      "stateful aggregations (user-grain pre-agg, then count of groups)"),
    "x_perplexity_kn" -> ("Kneser-Ney bigram LM — all three KN statistics " +
      "from the distinct-bigram table, vocab-bounded"),
    "q_histogram" -> ("Equi-depth histogram — distribution-walk octiles, " +
      "1-row boundary broadcast + comparison scan"),
    "q_join_asof_tol" -> ("As-of with staleness tolerance — same linear " +
      "union+window pass, post-window null-out"),
    "x_mrl_topk" -> ("Matryoshka two-stage retrieval — prefix-dim coarse " +
      "prune, bounded full-vector re-rank equi-join"),
    "q_cdc_diff" -> ("Row-level snapshot changelog — one full-outer " +
      "equi-join over key fingerprints"),
    "q_attribution" -> ("Multi-touch attribution — interval join + one " +
      "partial+final aggregate, struct-min/max touch selection"),
    "x_dataset_split" -> ("Train/val/test manifest — md5-bucket scan, " +
      "3-row aggregate with membership digest"),
    "x_sim_sparse" -> ("Sparse tf-cosine — inverted-index equi-join, " +
      "posting-bounded, exact BIGINT dots"),
    "q_quantile_ranged" -> ("Exact global quantiles — two-phase " +
      "repartitionByRange prefix sum, no single-partition walk"),
    "q_transitions" -> ("User-journey Markov matrix — lead window + " +
      "bounded count shuffle"),
    "x_oov_rate" -> ("Tokenizer OOV readout — bounded vocab " +
      "TakeOrderedAndProject broadcast"),
    "x_nb_langid" -> ("Naive Bayes train+apply — counts-as-model, " +
      "observed-pair equi-join, bounded class cross"),
    "x_centroid_classify" -> ("Nearest-centroid classify — sum-direction " +
      "centroids, bounded broadcast, map-side argmax"),
    "x_eval_metrics" -> ("Precision/recall rollup — bounded confusion " +
      "shuffle, exact ppm"),
    "q_trending" -> ("Half-over-half trend report — integer midpoint " +
      "broadcast + bounded (entity, half) aggregate"),
    "q_window_ratio" -> ("Ratio-to-report — unbounded-frame window sum, " +
      "exact cents/ppm"),
    "q_concurrency" -> ("Temporal overlap aggregation — map-side bucket " +
      "explode + one count shuffle"),
    "q_common_nbrs_topk" -> ("Bounded-output similarity serving — " +
      "partial WindowGroupLimit truncates to k rows per node BEFORE " +
      "the exchange; never materializes the quadratic pair table"),
    "x_mm_decode" -> ("REAL image decode — ImageIO parses genuine PNG " +
      "payloads; one id repartition parallelizes the single-split " +
      "fixture, decode itself map-only"),
    "q_variant_explode" -> ("Variant 1→N — lateral table-valued " +
      "generator inside whole-stage codegen, zero shuffle"),
    "x_mm_phash_near" -> ("Banded perceptual-hash near-dup join — " +
      "4-band bucket equi-join over the pixel fingerprints, exact " +
      "bit_count verify; never an all-pairs image comparison"),
    "x_video_probe" -> ("REAL MP4 container parse — pure map work over " +
      "genuine ISO-BMFF payloads; one id repartition parallelizes the " +
      "single-split fixture, the box walk itself never shuffles"),
    "x_dedup_contain" -> ("Asymmetric containment join — contained-side " +
      "rare-first prefix probes the full inverted index (pigeonhole-" +
      "complete), container size-pruned before the array verify; the " +
      "shared-tail \"the\"-bucket is never probed"),
    "x_kl_drift" -> ("Distribution-drift KL — (group, term) tf " +
      "aggregate is the only corpus-proportional shuffle; term totals " +
      "equi-joined, corpus totals a 1-row broadcast, per-group total " +
      "folded into the final aggregate (no window pass)"),
    "x_split_nodup" -> ("Leakage-safe split audit — map-side signature, " +
      "one sig-key shuffle, 1-row straddle aggregate; dedupBySignature's " +
      "cost plus a count"),
    "x_dedup_suffix" -> ("Suffix-array substring dedup — payload-decided " +
      "strategy: cap<=128 range-sorts the capped suffix strings " +
      "directly (one sort, zero rounds — the default path here); " +
      "larger caps run prefix doubling (doc-keyed lead window + range " +
      "sort + " +
      "driver-offset dense rank + equi-join, each LINEAR in tokens), " +
      "then one ordered class pairing with a bounded zip_with LCP per " +
      "pair; round count fixed by cap, never by corpus size, and no " +
      "single-partition window anywhere"),
    "x_unigram_train" -> ("Unigram-LM tokenizer training — one corpus " +
      "token scan into the cached word-frequency table, then per EM " +
      "round one Viterbi map over DISTINCT words (weights as a bounded " +
      "map literal inside codegen) + a vocab-sized count collect"),
    "x_unigram_apply" -> ("Unigram tokenizer serve — one DP per " +
      "DISTINCT word, segmentations equi-joined back to token " +
      "positions; corpus-proportional work is the tokenize + one " +
      "doc-key aggregate"),
    "x_mm_decode_multi" -> ("Five-format image decode — pure map work " +
      "through per-format pooled sniffed readers; one id repartition " +
      "parallelizes the single-split fixture"),
    "x_audio_probe_mp3" -> ("MPEG frame-header walk — pure map byte " +
      "arithmetic, no JDK codec, no shuffle after the id repartition"),
    "x_dedup_cdc" -> ("Content-defined chunking dedup — token-" +
      "proportional posexplode, two doc-keyed windows (boundary gram + " +
      "chunk id), one fingerprint-keyed rank; no pair expansion anywhere"),
    "x_dedup_priority" -> ("Priority duplicate resolution — map-side " +
      "MinHash signature, ONE sig-key shuffle shared by rank/count/min " +
      "windows, bounded per-source rollup"),
    "x_ngram_novelty" -> ("Marginal-novelty curve — persisted gram " +
      "table feeds the min-doc aggregate and the probe join (both " +
      "gram-keyed); buckets from a 1-row min/max broadcast, never a " +
      "global ntile window"),
    "x_skew_audit" -> ("Shuffle-skew pre-flight — one bucket-keyed " +
      "aggregate per audited key + a 1-row total broadcast; output " +
      "bounded by parts"),
    "x_embed_health" -> ("Embedding health report — posexplode centroid " +
      "aggregate (dim-bounded), centroids broadcast back, one per-label " +
      "rollup over the persisted double-widened vectors"),
    "x_dedup_onion" -> ("Onion span-removal — the suffix-array core " +
      "plus one token-proportional equi-join for the token values; " +
      "per-doc ordered reassembly, no new shuffle class"),
    "x_dedup_soft" -> ("Soft dedup weighting — map-side signature, " +
      "one sig-key shuffle for the class-size window, bounded " +
      "per-source rollup"),
    "q_ts_spike" -> ("Daily spike monitor — one (entity, day) count " +
      "aggregate, then a per-entity ROWS window over day-bounded " +
      "partitions; exact integer 2x-trailing-mean rule"),
    "x_dedup_suffix_deep" -> ("Suffix dedup via the prefix-doubling " +
      "branch (cap=256 > DirectSortCap): 64-token seed ranks (gate " +
      "override; production default 8 — the wire-optimal seed), then " +
      "doubling rounds of doc-keyed lead window + range sort + " +
      "driver-offset dense rank, early-stopped once every suffix is " +
      "alone in its class; rounds move fixed 16-byte rank pairs and " +
      "the seed subtree is persist-shared with x_dedup_suffix"),
    "x_mm_caption_conflict" -> ("Caption-conflict screen — map-side " +
      "decode + dHash + caption md5, caption-spread aggregate and " +
      "join-back on caption key, rollup on image key; three " +
      "fingerprint-width shuffles, conflicts counted never paired"),
    "x_audio_probe_flac" -> ("FLAC STREAMINFO probe — pure map byte " +
      "walk (block chain + bit unpack), no JDK codec, no shuffle " +
      "after the id repartition"),
    "x_subtitle_cues" -> ("SRT cue parse — pure map 1->N generator, " +
      "one row per cue, no shuffle after the id repartition"),
    "x_dedup_url" -> ("Canonical-URL dedup — map-side codegen'd " +
      "canonicalization chain, ONE canonical-key shuffle; content " +
      "never moves"),
    "q_ts_seasonal" -> ("Seasonal hourly anomaly — one (type, date, " +
      "hour) count aggregate is the only corpus shuffle; the " +
      "(type, dow, hour) baseline aggregates the calendar-bounded " +
      "cell table and broadcasts back"),
    "x_tok_fertility" -> ("Tokenizer fertility — corpus word-count " +
      "aggregate, then the merge fold over DISTINCT (source, word) " +
      "rows; vocabulary-bounded segmentation, bounded per-source rollup"),
    "x_mm_exif" -> ("EXIF probe — pure map marker walk + TIFF IFD " +
      "byte arithmetic, both endiannesses, no shuffle after the id " +
      "repartition"),
    "x_url_filter" -> ("URL blocklist — map-side canonicalization, " +
      "BROADCAST rule join, per-URL any-match aggregate on one " +
      "(doc, host) shuffle, bounded host rollup"),
    "x_mix_budget" -> ("Mixture-budget allocation — one per-source " +
      "token aggregate, broadcast weight literals, map-side integer " +
      "ppm grant math; one bounded row per source"),
    "x_mm_phash_rot" -> ("Rotation-invariant image dedup — pure map " +
      "decode + 4-orientation min-dHash over one grid, then one " +
      "hash-keyed aggregate"),
    "x_src_overlap" -> ("Cross-source duplication matrix — signature " +
      "pass, (sig_key, source) aggregate, per-class source-alphabet-" +
      "bounded list collect, MAP-SIDE pair expansion; no join, two " +
      "key shuffles, bounded sources^2 output"),
    "x_warc" -> ("WARC record walk — pure map 1->N generator " +
      "(version line, header fold, Content-Length hop, CRLF CRLF " +
      "framing), no shuffle after the id repartition; the " +
      "widest-running stage of a crawl ingest"),
    "x_mm_phash_orient" -> ("Orientation-applied image dedup — pure " +
      "map PNG chunk walk (CRC-verified eXIf -> shared TIFF/IFD0 " +
      "parse) + display-pixel dHash via index arithmetic on one " +
      "decode, then one hash-keyed aggregate"),
    "x_bitext_mine" -> ("Margin bitext mining — two bounded-centroid " +
      "broadcast joins + two cell-key equi-joins for symmetric IVF " +
      "candidates, per-vector top-k denominator windows, margin " +
      "argmax; one row per source vector, no all-pairs stage"),
    "x_bitext_recall" -> ("Bitext recall readout — IVF leg vs " +
      "exhaustive leg over a bounded broadcast probe sample, " +
      "left-join agreement rollup to one exact-ppm row"),
    "x_robots" -> ("robots.txt group parse — per-line posexplode + " +
      "regexp directives, lag/running-sum group window per host, " +
      "exact-shadows-star pick off a bounded per-host aggregate; " +
      "zero UDF, host-keyed shuffles only"),
    "x_boilerplate" -> ("Boilerplate removal — one posexplode to the " +
      "line table, codegen'd anchor-chars/word metrics map-side, one " +
      "doc-keyed aggregate with ordered md5 reassembly; single " +
      "doc-key shuffle"),
    "x_audio_vad" -> ("VAD segmentation — pure map 1->N: whole-PCM " +
      "decode, windowed exact-integer energy gate, run merge; no " +
      "shuffle after the id repartition"),
    "x_charset" -> ("Charset sniff + transcode screen — pure map byte " +
      "walk (BOM, meta prescan, strict RFC 3629 category counts, fold " +
      "verdict), no shuffle after the id repartition"),
    "x_lang_seg" -> ("Per-paragraph language segmentation — NB model " +
      "from one count shuffle broadcast over the paragraph posexplode, " +
      "term equi-join with class-bounded fan-out, two doc-keyed " +
      "rollups; visible zeroed rows for pageless docs"),
    "q_etl_wap" -> ("Write-audit-publish — stage write, one bounded " +
      "audit aggregate over the STAGED files, atomic manifest flip; " +
      "the gated read resolves the manifest then scans one version " +
      "dir"),
    "x_warc_gz" -> ("Per-record-gzip WARC walk — pure map member " +
      "decode (header flags, Inflater, CRC32/ISIZE verify, 64 MiB " +
      "bomb cap), no shuffle after the id repartition"),
    "x_anchor_text" -> ("Anchor-text index — two aligned regexp " +
      "passes + canonicalizeUrl map-side, then two dst-keyed " +
      "shuffles (link grain + modal-term argmax) joined null-safely"),
    "x_redirect_resolve" -> ("Redirect resolution by pointer " +
      "doubling — 5 self-join shuffles cover 32 hops at any corpus " +
      "size; unresolved rows visible, zero driver iteration"),
    "x_sitemap" -> ("sitemap.xml extraction — declarative lazy-regexp " +
      "block split + field pulls through the shared canonicalizer; " +
      "pure map, zero shuffle")
  )

  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.001")
    val only = args.lift(1).map(_.split(',').map(_.trim).filter(_.nonEmpty))
    only.foreach { names =>
      val unknown = names.filterNot(SparkEntry.queries.contains)
      require(unknown.isEmpty, s"unknown queries: ${unknown.mkString(", ")}")
    }
    val spark = Sessions.build()
    def plan(name: String): String =
      SparkEntry.queries(name)(spark, sfDir).queryExecution.explainString(
        org.apache.spark.sql.execution.FormattedMode)
    only match {
      case Some(names) =>
        names.foreach(name => print(s"== $name ==\n${plan(name)}\n"))
      case None =>
        val sb = new StringBuilder
        sb.append("# PLANS — formatted physical plans of the headline queries\n\n")
        sb.append(s"Auto-generated by `graft.PlanDump` at $sfDir. Regenerate: " +
          "`sbt \"runMain graft.PlanDump\"`.\n")
        headliners.foreach { case (name, note) =>
          sb.append(s"\n## $name\n\n$note\n\n```\n${plan(name)}```\n")
        }
        Files.writeString(Paths.get("PLANS.md"), sb.toString)
        println(s"PLANS.md written (${headliners.size} plans)")
    }
    spark.stop()
  }
}
