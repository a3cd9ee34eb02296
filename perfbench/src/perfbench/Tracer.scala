package perfbench

import java.io.{File, PrintWriter}

import scala.collection.mutable

import org.apache.spark.scheduler._
import org.apache.spark.sql.{PerfbenchAccess, SparkSession}
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.ui.{SparkListenerSQLExecutionEnd, SparkListenerSQLAdaptiveExecutionUpdate, SparkListenerSQLExecutionStart}

/** In-memory trace of the traced rounds, written out when the run ends.
  *
  * Spans come from two places, both outside the engine: the driver's own
  * calls (round, query, pass, build, action) and Spark's public listener
  * events (jobs and stages, tied to a pass by its job group; SQL
  * executions with their Catalyst phase times and AQE re-plans). Spans of
  * one query share its id, `<round>:<query>`.
  */
class Tracer(spark: SparkSession) {
  private val sc = spark.sparkContext
  private val json = new Json
  private val spans = mutable.ArrayBuffer.empty[String]
  private val jobs = mutable.ArrayBuffer.empty[String]
  private val stages = mutable.ArrayBuffer.empty[String]
  private val execs = mutable.ArrayBuffer.empty[String]
  private val jobGroup = mutable.Map.empty[Int, String]
  private val jobStart = mutable.Map.empty[Int, Long]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execGroup = mutable.Map.empty[Long, String]
  private val aqeUpdates = mutable.Map.empty[Long, Int].withDefaultValue(0)
  private var attached = false

  private def group(props: java.util.Properties): String =
    Option(props).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("")

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      jobGroup(e.jobId) = group(e.properties)
      jobStart(e.jobId) = e.time
      e.stageIds.foreach(s => stageJob.getOrElseUpdate(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      val g = jobGroup.getOrElse(e.jobId, "")
      jobs += json.obj("job" -> e.jobId, "group" -> g,
        "start_ms" -> jobStart.getOrElse(e.jobId, e.time).toDouble,
        "end_ms" -> e.time.toDouble)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
      synchronized {
        val i = e.stageInfo
        val m = i.taskMetrics
        val job = stageJob.getOrElse(i.stageId, -1)
        val sr = m.shuffleReadMetrics
        stages += json.obj("stage" -> i.stageId, "attempt" -> i.attemptNumber(),
          "job" -> job, "group" -> jobGroup.getOrElse(job, ""),
          "start_ms" -> i.submissionTime.getOrElse(0L).toDouble,
          "end_ms" -> i.completionTime.getOrElse(0L).toDouble,
          "tasks" -> i.numTasks,
          "run_ms" -> m.executorRunTime, "cpu_ns" -> m.executorCpuTime,
          "gc_ms" -> m.jvmGCTime,
          "in_bytes" -> m.inputMetrics.bytesRead,
          "in_rows" -> m.inputMetrics.recordsRead,
          "out_bytes" -> m.outputMetrics.bytesWritten,
          "out_rows" -> m.outputMetrics.recordsWritten,
          "shuffle_write_bytes" -> m.shuffleWriteMetrics.bytesWritten,
          "shuffle_read_bytes" -> (sr.remoteBytesRead + sr.localBytesRead),
          "fetch_wait_ms" -> sr.fetchWaitTime,
          "spill_bytes" -> (m.memoryBytesSpilled + m.diskBytesSpilled))
      }
    override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
      case s: SparkListenerSQLExecutionStart => synchronized {
        execGroup(s.executionId) = s.jobGroupId.getOrElse("")
      }
      case u: SparkListenerSQLAdaptiveExecutionUpdate => synchronized {
        aqeUpdates(u.executionId) += 1
      }
      case end: SparkListenerSQLExecutionEnd =>
        PerfbenchAccess.queryExecution(end).foreach { qe =>
          val nodes = try planNodes(qe.executedPlan) catch { case _: Throwable => 0 }
          synchronized {
            execs += json.obj("exec" -> end.executionId,
              "group" -> execGroup.getOrElse(end.executionId, ""),
              "analysis_ms" -> phaseMs(qe, "analysis"),
              "optimization_ms" -> phaseMs(qe, "optimization"),
              "planning_ms" -> phaseMs(qe, "planning"),
              "plan_nodes" -> nodes,
              "aqe_updates" -> aqeUpdates(end.executionId))
          }
        }
      case _ =>
    }
  }

  private def planNodes(p: SparkPlan): Int = p match {
    case a: AdaptiveSparkPlanExec => planNodes(a.executedPlan)
    case s: QueryStageExec => 1 + planNodes(s.plan)
    case other => 1 + other.children.map(planNodes).sum
  }

  private def phaseMs(qe: QueryExecution, phase: String): Long =
    qe.tracker.phases.get(phase).map(_.durationMs).getOrElse(0L)

  def attach(): Unit = if (!attached) {
    sc.addSparkListener(listener)
    attached = true
  }

  def detach(): Unit = if (attached) {
    PerfbenchAccess.drain(sc)
    sc.removeSparkListener(listener)
    attached = false
  }

  def span(trace: String, id: String, parent: String, kind: String,
           startMs: Double, endMs: Double): Unit = synchronized {
    spans += json.obj("trace" -> trace, "id" -> id, "parent" -> parent,
      "kind" -> kind, "start_ms" -> startMs, "end_ms" -> endMs)
  }

  def dump(file: File): Unit = synchronized {
    val w = new PrintWriter(file, "UTF-8")
    def arr(xs: Seq[String]) = json.raw(xs.mkString("[\n", ",\n", "]"))
    try w.write(json.obj("spans" -> arr(spans.toSeq), "jobs" -> arr(jobs.toSeq),
      "stages" -> arr(stages.toSeq), "execs" -> arr(execs.toSeq)))
    finally w.close()
  }
}

object Tracer {
  private val epoch0 = System.currentTimeMillis()
  private val nano0 = System.nanoTime()

  /** Wall-clock milliseconds with nanoTime resolution, on the same epoch
    * as Spark's listener timestamps. */
  def epochMs(): Double = epoch0 + (System.nanoTime() - nano0) / 1e6

  /** Median wall time of a trivial one-task job: the scheduler's floor
    * under every small query. */
  def jobFloor(spark: SparkSession, n: Int = 15): Double = {
    val sc = spark.sparkContext
    val times = (1 to n).map { _ =>
      val t0 = System.nanoTime()
      sc.parallelize(Seq(1), 1).count()
      (System.nanoTime() - t0) / 1e9
    }.sorted
    times(n / 2)
  }
}
