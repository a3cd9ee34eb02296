package graft

import org.apache.spark.sql.SparkSession

/** One place to build the project's SparkSession so every entry point
  * (Smoke/Verify/Bench/tests) gets identical, scale-conscious settings.
  *
  * - shuffle.partitions = cpus, not the 200 default: at local[32] over
  *   sf0.1 parquet, 200 partitions is pure scheduling overhead; on a real
  *   cluster AQE coalescing makes the initial number a ceiling, not a
  *   budget.
  * - AQE on: runtime re-planning (broadcast switch, skew-join splitting,
  *   partition coalescing) is the 100-TB safety net for every join here.
  * - nanosAsLong: kept as a guard for fixtures that encode events.ts as
  *   TIMESTAMP(NANOS), which Spark 4 rejects by default (delivered as a
  *   long of nanos instead); a no-op for µs-encoded fixtures. Ingest
  *   dispatches on the resolved dtype either way — see Tables.normalizeTs.
  */
object Sessions {
  def cpus: String = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")

  def build(master: String = s"local[$cpus]",
            shufflePartitions: String = cpus,
            extraConfigs: Map[String, String] = Map.empty): SparkSession = {
    val builder = SparkSession.builder()
      .master(master)
      .config("spark.sql.shuffle.partitions", shufflePartitions)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      // Partition-count hygiene (optimization guide §2.2): AQE's
      // coalescer stays at its DEFAULT "parallelism first" mode — the
      // target partition size is max(shuffleBytes/defaultParallelism,
      // minPartitionSize 1m), so KB-scale shuffles still collapse to one
      // task while byte-light-but-CPU-dense stages keep cluster-wide
      // fan-out. Round 15 had flipped this to pure advisory-size
      // coalescing (16 MB target); the round-16 10x rehearsal showed
      // that mode strangling every CPU-per-byte-heavy cached pipeline at
      // scale (x_dedup_contain 12s -> 41s at sf1, x_dedup_ngram /
      // x_knn_graph / x_lsh_recall all pushed superlinear), and the r15
      // latency win it bought at sf0.1 disappeared once the 24g heap
      // removed the per-task GC tax (interleaved A/B: flat-to-better at
      // sf0.1, 1.3-3.5x faster at sf1 with parallelism-first). Clusters
      // that want size-based targets (128-512 MB in production) override
      // both through `extraConfigs`.
      .config("spark.sql.adaptive.coalescePartitions.parallelismFirst",
        "true")
      .config("spark.sql.adaptive.advisoryPartitionSizeInBytes", "16m")
      // Let AQE coalesce CACHED plan output too (off by default): without
      // it every persisted aggregate/join is stored at the static
      // shuffle-partition count (32 here), and every warm consumer stage
      // launches 32 near-empty tasks per cache read — measured 7.2→0.6
      // taskSec and −0.3s wall on the connected-components family in an
      // interleaved A/B (both orders). Size-based coalescing then governs
      // cached plans by the same advisory byte target as live shuffles,
      // which is the scale-adaptive behavior; iterative caches that
      // pre-partition on a join key keep their hash semantics (only the
      // partition COUNT adapts), and q_pagerank measured flat in the
      // same A/B.
      .config(
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      // bucketed-table writes (q_join_bucket) go through the catalog's
      // warehouse; a fresh temp dir per session keeps it out of the repo
      // AND avoids LOCATION_ALREADY_EXISTS collisions with a previous
      // session's orphaned files (the in-memory catalog forgets tables at
      // session end, but their directories survive).
      .config("spark.sql.warehouse.dir",
        sys.env.getOrElse("SPARK_GRAFT_WAREHOUSE",
          java.nio.file.Files.createTempDirectory("graft_warehouse")
            .toString))
      // Recursive CTEs: keep the LEVEL limit (the loop-shaped safety
      // valve — every recursion here is depth-bounded by construction,
      // e.g. digit division depth <= 20 for a Long key) but lift the
      // TOTAL-ROW limit, whose 1M default scales with INPUT SIZE and so
      // fails any linear-in-n recursion the moment the data grows
      // (q_sql_recursive died at sf1 with RECURSION_ROW_LIMIT_EXCEEDED:
      // 150k anchors x ~11 digit levels > 1M rows — caught by the
      // round-9 10x rehearsal, invisible at sf0.1).
      .config("spark.sql.cteRecursionRowLimit", "-1")
      // Long-lived-driver hygiene: the status store retains per-execution
      // plan strings (default 1000 executions, unbounded string length)
      // even with the UI off. A driver that serves thousands of queries
      // in one session — Verify's 235-query sweep, the full test suite,
      // or a production endpoint — accumulates them until the heap dies
      // (observed: OOM inside AQE's onUpdatePlan explainString after
      // ~6000 stages at -Xmx8g). Keep a handful for debugging, cap any
      // single plan string at 1 MiB, and drop finished job/stage entries
      // sooner. Execution semantics are untouched.
      .config("spark.sql.ui.retainedExecutions", "8")
      .config("spark.sql.maxPlanStringLength", "32768")
      // NOTE on spark.sql.ui.explainMode: leave it at the 4.x default
      // ("formatted"). AQE posts a plan-description string per replanned
      // stage (AdaptiveSparkPlanExec.onUpdatePlan → qe.explainString)
      // even with the UI off, and an interleaved A/B measured "simple"
      // mode 2–20x SLOWER than formatted on plans that nest persisted
      // subtrees (x_dedup_suffix_deep warm 4.4–5.9s vs 2.0–2.1s; its
      // cold build 38s vs 1.7s): simple-mode treeString recurses into
      // every InMemoryRelation's embedded cached plan per reference,
      // where the formatted printer does not re-expand them. The 32 KB
      // string cap above still bounds the event payloads.
      .config("spark.ui.retainedJobs", "200")
      .config("spark.ui.retainedStages", "200")
      .config("spark.sql.extensions", "graft.GraftExtensions")
    // cluster-mode settings (executor classpath/JVM opts for
    // local-cluster runs) land here without widening the signature for
    // every caller — the defaults above stay the single source of truth
    val spark = extraConfigs
      .foldLeft(builder) { case (b, (k, v)) => b.config(k, v) }
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
