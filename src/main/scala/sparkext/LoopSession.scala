// `cloneSession` and `Dataset.ofRows` are private[sql], hence the
// org.apache.spark.sql namespace shared with the native expressions.
package org.apache.spark.sql.graft

import org.apache.spark.sql.{DataFrame, SparkSession, classic}

/** Stage-fused planning sessions for the ITERATIVE loops (connected
  * components, BPE merges, redirect doubling): under AQE every Exchange
  * in a round's plan materializes as its OWN driver job (~70–90 ms floor
  * each on the local box), so a 3-exchange round costs ~5 jobs of
  * almost pure scheduling latency per iteration — measured 22–33 jobs
  * per invocation on the cluster family with ≤1.2 task-seconds of
  * actual work. A loop session has AQE off and the static shuffle
  * partition count pinned, so each round's whole multi-stage plan runs
  * as ONE job with DAGScheduler-chained stages.
  *
  * Isolation is by construction: the conf writes land on a per-call
  * `cloneSession` of the caller's session, so a query planned on the
  * caller's session meanwhile (another thread, an overlapping loop)
  * still plans under the caller's AQE. The clone keeps the caller's
  * runtime conf, temp views and functions (`newSession` would drop
  * them) and shares its CacheManager, so persisted inputs still match.
  * Loop state is [[bind]]-ed into the clone for its rounds and the
  * result back to the caller's session, whose AQE plans the final
  * action.
  *
  * Scale adaptivity is preserved by HOW the partition count is picked:
  * the loop's round-0 table is materialized UNDER AQE first, and its
  * post-coalescing split count — AQE's own size-based choice for
  * exactly this data shape — is what the loop inherits (locally a
  * handful; at 100 TB, bytes/advisory partitions). Row-level results
  * are partitioning-independent (joins + aggregates only). The trade
  * deliberately given up inside a loop session is AQE's runtime
  * skew-split for the per-round joins; round tables here are node-sized
  * aggregates where per-key rows are already collapsed, which is the
  * shape skew-join exists to protect — revisit before reusing a loop
  * session on a payload-carrying loop.
  */
object LoopSession {

  /** A clone of `sizer`'s session with AQE off and `shuffle.partitions`
    * pinned to `sizer`'s split count (read off the planned row RDD, not
    * a job; `df.rdd` would also plan a row deserializer).
    */
  def apply(sizer: DataFrame): SparkSession = {
    val s = sizer.sparkSession.asInstanceOf[classic.SparkSession]
      .cloneSession()
    s.conf.set("spark.sql.adaptive.enabled", "false")
    s.conf.set("spark.sql.shuffle.partitions",
      math.max(1, sizer.queryExecution.toRdd.getNumPartitions).toString)
    s
  }

  /** `df`'s analyzed plan as a DataFrame of `session`. */
  def bind(df: DataFrame, session: SparkSession): DataFrame =
    classic.Dataset.ofRows(session.asInstanceOf[classic.SparkSession],
      df.queryExecution.analyzed)
}
