package perfbench

import java.io.{File, PrintWriter}
import java.lang.management.ManagementFactory
import java.nio.file.{Files, Paths}
import java.util.Properties

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import graft.{Sessions, SparkEntry}
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The benchmark's client JVM. It drives the engine from outside, through
  * `SparkEntry.queries`, and never changes engine state beyond what a
  * caller of those functions does.
  *
  * Usage: `Driver <config.properties>`; `perfbench/run.py` writes the
  * config and reads what this writes into `out`.
  *
  * Set-up builds the session and runs the warm-up query, then prints
  * READY; the launcher times JVM start to READY. Then come an untimed
  * prelude (each query once on the warm-up input) and `rounds` rounds
  * (neither for a set-up-only JVM). A round runs each query in
  * `queries` order: clearCache, a cold pass, then `warm_passes` warm
  * passes. A pass is the pack call (build) and an action that writes
  * every row and column of the result to parquet under `out/outputs`.
  * With trace=1 the odd rounds record spans and Spark listener events,
  * the even rounds are the untraced reference for the tracing overhead,
  * and the kernel microbenchmark follows the rounds.
  */
object Driver {

  private def now(): Long = System.nanoTime()
  private def secs(ns: Long): Double = ns / 1e9

  private def processCpuNs(): Long =
    ManagementFactory.getOperatingSystemMXBean
      .asInstanceOf[com.sun.management.OperatingSystemMXBean].getProcessCpuTime

  private def vmHwmKb(): Long =
    Files.readAllLines(Paths.get("/proc/self/status")).asScala
      .find(_.startsWith("VmHWM:"))
      .map(_.replaceAll("[^0-9]", "").toLong).getOrElse(0L)

  def main(args: Array[String]): Unit = {
    val conf = new Properties()
    val in = Files.newBufferedReader(Paths.get(args(0)))
    try conf.load(in) finally in.close()
    def get(k: String): String = Option(conf.getProperty(k))
      .getOrElse(throw new IllegalArgumentException(s"missing config key $k"))

    val out = new File(get("out"))
    out.mkdirs()
    val t0 = now()
    val spark = Sessions.build()
    val buildS = secs(now() - t0)
    val t1 = now()
    // the warm-up: the engine's flagship group-by over a tiny input, so
    // the first measured query does not absorb class loading and JIT
    graft.ops.AggQueries.groupAgg(spark, get("warm"))
      .write.format("noop").mode("overwrite").save()
    val warmupS = secs(now() - t1)
    println(s"READY $buildS $warmupS")
    System.out.flush()
    if (get("rounds").toInt > 0) {
      new Run(spark, out, get("data"), get("warm"),
        get("queries").split(',').filter(_.nonEmpty).toSeq,
        get("rounds").toInt, get("warm_passes").toInt, get("trace") == "1",
        get("timeout_s").toDouble).execute()
      if (get("trace") == "1")
        Kernels.run(spark, get("kernel_data"), out, get("kernel_reps").toInt)
    }
    spark.stop()
  }

  /** One measured run: rounds of cold and warm passes over the queries. */
  private class Run(spark: SparkSession, out: File, data: String, warm: String,
                    queries: Seq[String], rounds: Int, warmPasses: Int,
                    trace: Boolean, timeoutS: Double) {
    private val sc = spark.sparkContext
    private val registered = SparkEntry.queries
    private val json = new Json
    private val rows = mutable.ArrayBuffer.empty[String]
    private val roundRows = mutable.ArrayBuffer.empty[String]
    private var persistedMax = 0
    private var storedMbMax = 0.0
    private var leakedMax = 0

    /** Runs `body` on its own thread so a stuck pass can be cancelled:
      * after `timeoutS` its job groups are cancelled and it counts as a
      * timeout. Job groups are thread-local, so `body` sets them. */
    private def bounded(groups: Seq[String])(body: => Unit): String = {
      @volatile var status = "timeout"
      val th = new Thread(() => {
        status = try { body; "ok" } catch {
          case e: Throwable =>
            "error: " + String.valueOf(e.getMessage).linesIterator
              .take(1).mkString.take(300)
        }
      })
      th.setDaemon(true)
      th.start()
      th.join((timeoutS * 1000).toLong)
      if (th.isAlive) {
        groups.foreach(sc.cancelJobGroup)
        th.interrupt()
        th.join(20000)
        "timeout"
      } else status
    }

    private def samplePersisted(): Unit = {
      persistedMax = math.max(persistedMax, sc.getPersistentRDDs.size)
      val mb = sc.getRDDStorageInfo.map(i => i.memSize + i.diskSize).sum / 1e6
      storedMbMax = math.max(storedMbMax, mb)
    }

    /** Untimed: each query once on the tiny warm-up input, so class
      * loading and JIT land here and not on whichever query the seed
      * puts first. Nothing it caches survives: clearCache follows. */
    private def prelude(): Double = {
      val t0 = now()
      for (q <- queries) {
        val dst = new File(out, s"outputs/prelude/$q").getPath
        bounded(Seq(s"prelude:$q")) {
          sc.setJobGroup(s"prelude:$q", "prelude", interruptOnCancel = true)
          registered(q)(spark, warm).write.mode("overwrite").parquet(dst)
          sc.clearJobGroup()
        }
      }
      spark.catalog.clearCache()
      secs(now() - t0)
    }

    def execute(): Unit = {
      val missing = queries.filterNot(registered.contains)
      require(missing.isEmpty, s"unknown queries: ${missing.mkString(", ")}")
      val preludeS = prelude()
      val packOf = Packs.byQuery
      val tracer = if (trace) Some(new Tracer(spark)) else None
      val jobFloor = tracer.map(_ => Tracer.jobFloor(spark)).getOrElse(0.0)
      val runStart = Tracer.epochMs()
      for (r <- 1 to rounds) {
        val traced = trace && r % 2 == 1
        if (traced) tracer.get.attach() else tracer.foreach(_.detach())
        val roundStart = Tracer.epochMs()
        val cpu0 = processCpuNs()
        for (q <- queries) {
          spark.catalog.clearCache()
          if (traced) leakedMax = math.max(leakedMax, sc.getPersistentRDDs.size)
          val qStart = Tracer.epochMs()
          for (pass <- "cold" +: (1 to warmPasses).map(i => s"warm$i")) {
            val g = s"$r:$q:$pass"
            val dst = new File(out, s"outputs/r$r/$pass/$q").getPath
            var buildNs = 0L
            var actionNs = 0L
            var analysisMs = 0L
            var bStart, aStart = 0.0
            val p0 = now()
            val status = bounded(Seq(s"$g:build", s"$g:action")) {
              sc.setJobGroup(s"$g:build", g, interruptOnCancel = true)
              bStart = Tracer.epochMs()
              val b0 = now()
              val df: DataFrame = registered(q)(spark, data)
              buildNs = now() - b0
              // the result's own analysis ran eagerly inside the pack
              // call; the write below re-plans it under a new execution
              analysisMs = df.queryExecution.tracker.phases.get("analysis")
                .map(_.durationMs).getOrElse(0L)
              sc.setJobGroup(s"$g:action", g, interruptOnCancel = true)
              aStart = Tracer.epochMs()
              val a0 = now()
              df.write.mode("overwrite").parquet(dst)
              actionNs = now() - a0
              sc.clearJobGroup()
            }
            val wallS = secs(now() - p0)
            if (traced) {
              samplePersisted()
              tracer.get.span(s"$r:$q", s"$g:build", g, "build",
                bStart, bStart + buildNs / 1e6)
              if (actionNs > 0)
                tracer.get.span(s"$r:$q", s"$g:action", g, "action",
                  aStart, aStart + actionNs / 1e6)
              tracer.get.span(s"$r:$q", g, s"$r:$q", "pass",
                bStart, bStart + wallS * 1e3)
            }
            rows += json.obj("round" -> r, "query" -> q, "pass" -> pass,
              "pack" -> packOf.getOrElse(q, "?"), "traced" -> traced,
              "status" -> status, "wall_s" -> wallS,
              "build_s" -> secs(buildNs), "action_s" -> secs(actionNs),
              "analysis_s" -> analysisMs / 1e3,
              "output" -> dst)
          }
          if (traced)
            tracer.get.span(s"$r:$q", s"$r:$q", s"round$r", "query",
              qStart, Tracer.epochMs())
        }
        val cpuS = secs(processCpuNs() - cpu0)
        if (traced)
          tracer.get.span("", s"round$r", "workload", "round",
            roundStart, Tracer.epochMs())
        roundRows += json.obj("round" -> r, "traced" -> traced, "cpu_s" -> cpuS)
      }
      tracer.foreach { t =>
        t.detach()
        t.span("", "workload", "run", "workload", runStart, Tracer.epochMs())
        // the run span starts at JVM start, so it also covers set-up
        t.span("", "run", "", "run",
          ManagementFactory.getRuntimeMXBean.getStartTime.toDouble, Tracer.epochMs())
      }
      val oracle = SparkEntry.oracleSql
      val w = new PrintWriter(new File(out, "results.json"), "UTF-8")
      try w.write(json.obj(
        "cores" -> sc.defaultParallelism,
        "prelude_s" -> preludeS,
        "peak_rss_mb" -> vmHwmKb() / 1024.0,
        "rounds" -> json.raw(roundRows.mkString("[", ",", "]")),
        "passes" -> json.raw(rows.mkString("[", ",\n", "]")),
        "oracle_sql" -> json.raw(queries.flatMap(q =>
          oracle.get(q).map(s => json.str(q) + ":" + json.str(s)))
          .mkString("{", ",", "}")),
        "cache" -> json.raw(json.obj("persisted_max" -> persistedMax,
          "stored_mb_max" -> storedMbMax, "leaked_rdds" -> leakedMax)),
        "job_floor_s" -> jobFloor))
      finally w.close()
      tracer.foreach(_.dump(new File(out, "trace.json")))
    }
  }
}

/** Maps each registered query to the simple name of its query pack. */
object Packs {
  def byQuery: Map[String, String] = {
    // SparkEntry keeps its pack list private; reflection reads it without
    // the benchmark repeating the list
    val f = SparkEntry.getClass.getDeclaredField("packs")
    f.setAccessible(true)
    f.get(SparkEntry).asInstanceOf[Seq[graft.QueryPack]].flatMap { p =>
      val name = p.getClass.getSimpleName.stripSuffix("$")
      p.queries.keys.map(_ -> name)
    }.toMap
  }
}

/** Minimal JSON writer: the driver emits a few flat records. */
class Json {
  case class Raw(s: String)
  def raw(s: String): Raw = Raw(s)
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
  def value(v: Any): String = v match {
    case Raw(s) => s
    case s: String => str(s)
    case d: Double => if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => value(f.toDouble)
    case b: Boolean => b.toString
    case n: Int => n.toString
    case n: Long => n.toString
    case null => "null"
    case other => str(other.toString)
  }
  def obj(kv: (String, Any)*): String =
    kv.map { case (k, v) => str(k) + ":" + value(v) }.mkString("{", ",", "}")
}
