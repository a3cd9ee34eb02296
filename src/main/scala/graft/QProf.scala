package graft

/** Per-query profiling harness for the optimization rounds: runs one
  * registered query N times in a single session (clearCache before each
  * rep unless told otherwise) and prints per-rep wall seconds, so
  * cold-vs-warm splits and run-to-run variance are visible without the
  * full bench sweep.
  *
  * Usage: sbt "runMain graft.QProf <query> [reps] [sfDir] [keepcache]
  *   [k1=v1,k2=v2;k1=x1,k2=x2]"
  *
  * The optional 5th arg is an interleaved A/B conf experiment: two (or
  * more) '@'-separated runtime-conf sets (';' would be split by sbt). Reps alternate across the
  * sets inside ONE session, so box-speed drift hits every set equally
  * and the per-set medians are directly comparable.
  */
object QProf {
  def main(args: Array[String]): Unit = {
    require(args.nonEmpty, "usage: QProf <query> [reps] [sfDir] [keepcache] [confA@confB]")
    val names = args(0).split(',').map(_.trim).filter(_.nonEmpty)
    val reps = if (args.length > 1) args(1).toInt else 5
    val sfDir = if (args.length > 2) args(2) else "/root/testdata/sf0.1"
    // cache modes: "nocache" (default) clears before every rep;
    // "keepcache" never clears; "bench" clears once per QUERY then keeps
    // — the Bench sweep's per-query isolation (rep 1 cold funds the
    // caches, later reps are the adjudicated warm number).
    val keep = args.length > 3 && args(3) == "keepcache"
    val benchMode = args.length > 3 && args(3) == "bench"
    val confSets: Array[Map[String, String]] =
      if (args.length > 4)
        args(4).split('@').map(_.split(',').filter(_.contains("="))
          .map { kv => val Array(k, v) = kv.split("=", 2); k -> v }.toMap)
      else Array(Map.empty[String, String])
    names.foreach { n => require(SparkEntry.queries.contains(n),
      s"unknown query: $n") }
    val spark = Sessions.build()
    // Structural counters (noise-free, unlike wall seconds): jobs /
    // stages / tasks launched and summed task run time per rep.
    val jobs = new java.util.concurrent.atomic.AtomicLong
    val stages = new java.util.concurrent.atomic.AtomicLong
    val tasks = new java.util.concurrent.atomic.AtomicLong
    val taskMs = new java.util.concurrent.atomic.AtomicLong
    spark.sparkContext.addSparkListener(
      new org.apache.spark.scheduler.SparkListener {
        override def onJobStart(
            e: org.apache.spark.scheduler.SparkListenerJobStart): Unit =
          jobs.incrementAndGet()
        override def onStageCompleted(
            e: org.apache.spark.scheduler.SparkListenerStageCompleted): Unit = {
          stages.incrementAndGet()
          val si = e.stageInfo
          if (sys.env.contains("QPROF_STAGES"))
            println(f"  stage ${si.stageId}%d '${si.name.take(90)}' " +
              f"tasks=${si.numTasks}%d " +
              f"runSec=${si.taskMetrics.executorRunTime / 1e3}%.2f " +
              f"cpuSec=${si.taskMetrics.executorCpuTime / 1e9}%.2f " +
              f"shufRead=${si.taskMetrics.shuffleReadMetrics.totalBytesRead}%d " +
              f"shufWrite=${si.taskMetrics.shuffleWriteMetrics.bytesWritten}%d " +
              f"input=${si.taskMetrics.inputMetrics.bytesRead}%d")
        }
        override def onTaskEnd(
            e: org.apache.spark.scheduler.SparkListenerTaskEnd): Unit = {
          tasks.incrementAndGet()
          if (e.taskInfo != null) taskMs.addAndGet(e.taskInfo.duration)
        }
      })
    SparkEntry.entry(spark).count() // JVM warm-up, untimed
    // Job-latency floor: a trivial 1-task job and a 1-shuffle job, timed
    // after warm-up — the per-job fixed cost every query's stage chain
    // pays.
    for (i <- 1 to 5) {
      var t0 = System.nanoTime()
      spark.range(0L, 1000L, 1L, 1).count()
      val plain = (System.nanoTime() - t0) / 1e9
      t0 = System.nanoTime()
      spark.range(0L, 1000L, 1L, 4)
        .groupBy((org.apache.spark.sql.functions.col("id") % 7).as("k"))
        .count().count()
      val shuf = (System.nanoTime() - t0) / 1e9
      println(f"floor $i%d: plain $plain%.3f s  shuffle $shuf%.3f s")
    }
    for (name <- names) {
      val fn = SparkEntry.queries(name)
      val times = Array.fill(confSets.length)(
        scala.collection.mutable.ArrayBuffer.empty[Double])
      val cpu = Array.fill(confSets.length)(
        scala.collection.mutable.ArrayBuffer.empty[Double])
      if (benchMode) spark.catalog.clearCache()
      for (i <- 1 to reps; (cs, j) <- confSets.zipWithIndex) {
        cs.foreach { case (k, v) => spark.conf.set(k, v) }
        if (!keep && !benchMode) spark.catalog.clearCache()
        spark.sparkContext.setJobDescription(s"$name set$j rep $i")
        val (j0, s0, t0c, tm0) = (jobs.get, stages.get, tasks.get, taskMs.get)
        val t0 = System.nanoTime()
        val dfi = fn(spark, sfDir)
        val tBuild = (System.nanoTime() - t0) / 1e9
        dfi.count()
        if (i == reps && sys.env.contains("QPROF_FINAL_PLAN"))
          println(dfi.queryExecution.explainString(
            org.apache.spark.sql.execution.FormattedMode))
        val sec = (System.nanoTime() - t0) / 1e9
        // listener events drain asynchronously; a short settle keeps the
        // per-rep deltas attributable
        Thread.sleep(150)
        println(f"$name%s set $j%d rep $i%d: $sec%.3f s (build $tBuild%.3f) " +
          f"jobs ${jobs.get - j0}%d " +
          f"stages ${stages.get - s0}%d tasks ${tasks.get - t0c}%d " +
          f"taskSec ${(taskMs.get - tm0) / 1e3}%.2f")
        times(j) += sec
        cpu(j) += (taskMs.get - tm0) / 1e3
      }
      times.zipWithIndex.foreach { case (ts, j) =>
        val s = ts.sorted
        val c = cpu(j).sorted
        println(f"SUMMARY $name%s set $j%d: wallMin ${s.head}%.3f " +
          f"wallMed ${s(s.length / 2)}%.3f taskSecMed ${c(c.length / 2)}%.2f")
      }
    }
    spark.stop()
  }
}
