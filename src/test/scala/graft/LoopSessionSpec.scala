package graft

import graft.api.GraftOps
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanExec
import org.apache.spark.sql.functions._

/** The iterative loop operators plan their rounds on a per-call clone of
  * the caller's session (AQE off, partitions pinned on the clone only):
  * the caller's conf is never written, the result is bound back to the
  * caller's session, and a query planned on that session while a loop
  * runs still plans adaptively.
  */
class LoopSessionSpec extends SparkSpec {

  private val Aqe = "spark.sql.adaptive.enabled"
  private val Parts = "spark.sql.shuffle.partitions"

  private def rows(df: DataFrame): Seq[String] =
    df.collect().map(_.toString).toSeq.sorted

  test("loop operators leave the caller's conf untouched and return " +
    "frames bound to the caller's session") {
    // a caller that leaves AQE at its default: a scope that restored it
    // afterwards would still write it explicitly
    val caller = spark.newSession()
    caller.conf.unset(Aqe)
    import caller.implicits._
    val pairs = Seq((1L, 2L), (2L, 3L), (7L, 8L)).toDF("doc_a", "doc_b")
    val docs = Seq("low lower lowest", "new newer newest").toDF("text")
    val redirects = Seq(("a", "b"), ("b", "c"), ("c", null))
      .toDF("u", "nxt")
    def untouched(op: String)(call: => DataFrame): DataFrame = {
      val before = caller.conf.getAll
      val out = call
      assert(caller.conf.getAll === before, s"$op wrote the caller's conf")
      out
    }
    val clusters = untouched("clusterPairs")(GraftOps.clusterPairs(pairs))
    assert(clusters.sparkSession eq caller)
    assert(rows(clusters.select(col("doc_id"), col("cluster_id"))) ===
      Seq("[1,1]", "[2,1]", "[3,1]", "[7,7]", "[8,7]"))
    untouched("bpeTrain")(GraftOps.bpeTrain(docs, col("text"), rounds = 2))
    val resolved = untouched("resolveRedirects")(
      GraftOps.resolveRedirects(redirects, col("u"), col("nxt")))
    assert(resolved.sparkSession eq caller)
    assert(rows(resolved) ===
      Seq("[a,c,2,1]", "[b,c,1,1]", "[c,c,0,1]"))
    assert(!caller.conf.getAll.contains(Aqe))
  }

  test("a loop and a join-tier query share one session from two threads") {
    import spark.implicits._
    // a 1000-link chain needs 10 pointer-jump rounds to close; alone,
    // the loop answers one 1001-node cluster rooted at 0
    val chain = (0L until 1000L).map(i => (i, i + 1)).toDF("doc_a", "doc_b")
    val loopAlone = Seq(Row(0L, 1001L, 1001L))
    def loop(): Seq[Row] = GraftOps.clusterPairs(chain)
      .groupBy(col("cluster_id"), col("cluster_size")).count()
      .collect().toSeq
    def join(s: SparkSession): DataFrame =
      SparkEntry.queries("q_join_shuffle")(s, sf)
    val joinAlone = rows(join(spark))
    val aqe = spark.conf.get(Aqe)
    val parts = spark.conf.get(Parts)

    @volatile var loopDone = false
    var loopErr: Throwable = null
    val a = new Thread(() =>
      try (1 to 3).foreach(_ =>
        assert(loop() === loopAlone, "loop answer changed under concurrency"))
      catch { case t: Throwable => loopErr = t }
      finally loopDone = true)
    a.start()
    var joins = 0
    try {
      do {
        assert(spark.conf.get(Aqe) === aqe, "caller's AQE flipped mid-loop")
        assert(spark.conf.get(Parts) === parts,
          "caller's shuffle partitions pinned mid-loop")
        val df = join(spark)
        assert(df.queryExecution.executedPlan
          .isInstanceOf[AdaptiveSparkPlanExec],
          "join planned without AQE while a loop ran")
        assert(rows(df) === joinAlone)
        joins += 1
      } while (!loopDone)
    } finally a.join()
    if (loopErr != null) throw loopErr
    assert(joins >= 1)
    assert(spark.conf.get(Aqe) === aqe && spark.conf.get(Parts) === parts)
  }
}
