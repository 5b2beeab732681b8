package graft.tools

import graft.{GraftSession, Materialize, SparkEntry}
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerStageCompleted, SparkListenerTaskEnd}
import java.util.concurrent.atomic.{AtomicInteger, AtomicLong}

/** Fresh-JVM single-gate profiler: `runMain graft.tools.GateProf <name> [reps]`
  * against `SPARK_GRAFT_SF_DIR`. It reports, per rep: wall time, Spark job
  * count, stage count, task count, summed task time, summed shuffle
  * read/write bytes, and summed GC time — enough to decide
  * whether a gate's wall time is scheduling overhead (many tiny jobs/
  * stages), shuffle volume, or real compute (guide §1/§7 empirical loop).
  */
object GateProf {
  def main(args: Array[String]): Unit = {
    val name = args.headOption.getOrElse(sys.error("usage: GateProf <query> [reps]"))
    val reps = if (args.length > 1) args(1).toInt else 2
    val dir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val spark = GraftSession.get()
    // diagnosing needs INFO occasionally (e.g. Executor "Fetching <url>"
    // lines); default stays WARN
    sys.env.get("GRAFT_LOGLEVEL").foreach(spark.sparkContext.setLogLevel)
    val jobs = new AtomicInteger
    val stages = new AtomicInteger
    val tasks = new AtomicInteger
    val taskTimeMs = new AtomicLong
    val gcTimeMs = new AtomicLong
    val shufRead = new AtomicLong
    val shufWrite = new AtomicLong
    val input = new AtomicLong
    // job wall intervals: the union of [start, end] windows is the time at
    // least one job was running; wall − union = DRIVER-ONLY time (Catalyst
    // analysis/optimization, AQE stage re-planning between jobs, file
    // listing, action setup) — the quantity that decides whether a tiny
    // gate's floor is scheduling or planning (guide §7.3)
    val intervals = new java.util.concurrent.ConcurrentLinkedQueue[(Long, Long)]()
    val jobStartTs = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(j: SparkListenerJobStart): Unit = {
        jobs.incrementAndGet(); jobStartTs.put(j.jobId, j.time); ()
      }
      override def onJobEnd(j: org.apache.spark.scheduler.SparkListenerJobEnd): Unit = {
        val s = jobStartTs.getOrDefault(j.jobId, 0L)
        jobStartTs.remove(j.jobId)
        if (s != 0L) { intervals.add((s, j.time)); () }
      }
      override def onStageCompleted(s: SparkListenerStageCompleted): Unit = { stages.incrementAndGet(); () }
      override def onTaskEnd(t: SparkListenerTaskEnd): Unit = {
        tasks.incrementAndGet()
        val m = t.taskMetrics
        if (m != null) {
          taskTimeMs.addAndGet(m.executorRunTime)
          gcTimeMs.addAndGet(m.jvmGCTime)
          shufRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
          shufWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
          input.addAndGet(m.inputMetrics.bytesRead)
        }
      }
    })
    val fn = SparkEntry.queries(name)
    for (i <- 1 to reps) {
      Seq(jobs, stages, tasks).foreach(_.set(0))
      Seq(taskTimeMs, gcTimeMs, shufRead, shufWrite, input).foreach(_.set(0))
      intervals.clear(); jobStartTs.clear()
      val t0 = System.nanoTime()
      val n = fn(spark, dir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      // listener bus is async: drain it fully before reading counters (a
      // fixed sleep undercounted under load, and one rep's async sweep
      // events could bleed into the next rep's counters)
      org.apache.spark.sql.graftshims.GraftShims
        .waitListenerBusEmpty(spark, 10000)
      // union of job windows (sorted merge) → driver-only gap
      val ivs = {
        import scala.jdk.CollectionConverters._
        intervals.asScala.toSeq.sortBy(_._1)
      }
      var busyMs = 0L
      var curS = Long.MinValue; var curE = Long.MinValue
      ivs.foreach { case (s, e) =>
        if (s > curE) { if (curE > curS) busyMs += curE - curS; curS = s; curE = e }
        else if (e > curE) curE = e
      }
      if (curE > curS) busyMs += curE - curS
      val gap = wall - busyMs / 1e3
      println(f"PROF $name run$i: wall=$wall%.2fs rows=$n jobs=${jobs.get} " +
        f"stages=${stages.get} tasks=${tasks.get} taskTime=${taskTimeMs.get / 1e3}%.1fs " +
        f"gc=${gcTimeMs.get / 1e3}%.1fs input=${input.get / 1e6}%.1fMB " +
        f"shufR=${shufRead.get / 1e6}%.1fMB shufW=${shufWrite.get / 1e6}%.1fMB " +
        f"jobBusy=${busyMs / 1e3}%.2fs driverGap=$gap%.2fs")
      Materialize.sweep(spark)
      // the sweep's own async unpersist events must land before the next
      // rep resets the counters, or they'd be charged to that rep
      org.apache.spark.sql.graftshims.GraftShims
        .waitListenerBusEmpty(spark, 10000)
    }
    spark.stop()
  }
}
