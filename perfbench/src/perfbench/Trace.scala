package perfbench

import org.apache.spark.scheduler._
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong
import scala.jdk.CollectionConverters._

/** Percentiles and robust summaries used for every reported timing. */
object Stats {
  /** Nearest-rank percentile of an unsorted sample (p in 0..100). */
  def pct(xs: collection.Seq[Double], p: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      s(math.min(s.size - 1, math.max(0, math.ceil(p / 100.0 * s.size).toInt - 1)))
    }

  def median(xs: collection.Seq[Double]): Double = pct(xs, 50)
}

/** One span: a layer boundary crossing with its cause. Times are
  * System.nanoTime; `parent` is 0 for roots. */
final case class Span(id: Long, parent: Long, name: String, start: Long, end: Long)

/** In-memory span recorder, written out once when the run ends. A no-op
  * when tracing is off, so untraced runs pay one branch per call. */
final class Tracer(val on: Boolean) {
  private val ids = new AtomicLong(0)
  val spans = new ConcurrentLinkedQueue[Span]()

  def nextId(): Long = ids.incrementAndGet()

  def record(name: String, start: Long, end: Long, parent: Long = 0L, id: Long = 0L): Long =
    if (!on) 0L
    else {
      val sid = if (id != 0L) id else nextId()
      spans.add(Span(sid, parent, name, start, end))
      sid
    }

  /** Self time per span name: duration minus the part of the interval its
    * children cover (children merged so overlaps count once). */
  def selfTimesMs(): Map[String, (Long, Double)] = {
    val all = spans.asScala.toVector
    val kids = all.filter(_.parent != 0L).groupBy(_.parent)
    all.groupBy(_.name).map { case (name, ss) =>
      val self = ss.map { s =>
        val cs = kids.getOrElse(s.id, Vector.empty)
          .map(c => (math.max(c.start, s.start), math.min(c.end, s.end)))
          .filter { case (a, b) => b > a }.sortBy(_._1)
        var covered = 0L; var curA = -1L; var curB = -1L
        cs.foreach { case (a, b) =>
          if (a > curB) { if (curB > curA) covered += curB - curA; curA = a; curB = b }
          else curB = math.max(curB, b)
        }
        if (curB > curA) covered += curB - curA
        (s.end - s.start - covered).toDouble / 1e6
      }
      name -> (ss.size.toLong, self.sum)
    }
  }

  def write(path: java.nio.file.Path): Unit = {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.foreach { s =>
      w.write(s"""{"id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.start},"end_ns":${s.end}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Spark job accounting by cause. A job's cause is the `perfbench.cause`
  * local property of the thread that submitted it: the benchmark thread
  * tags gates, queries and the ladder, and Spark's local properties are
  * inherited by threads created while they are set, so tagging the thread
  * that constructs the coalescer tags its flusher ("flush"). The HTTP
  * server's handler threads inherit nothing, so an untagged job whose SQL
  * execution was started from `PolarHttpServer` is a "poll". Everything
  * else is "other". */
final class JobLedger(tracer: Tracer) extends SparkListener {
  final class Acc {
    val jobs, stages, tasks, taskMs, gcMs, shuffleRead, shuffleWrite = new AtomicLong
    val busyIntervals = new ConcurrentLinkedQueue[(Long, Long)]()
  }
  val byCause = new java.util.concurrent.ConcurrentHashMap[String, Acc]()
  private val stageCause = new java.util.concurrent.ConcurrentHashMap[Int, String]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (String, Long)]()

  def acc(cause: String): Acc = byCause.computeIfAbsent(cause, _ => new Acc)

  private val execSites = new java.util.concurrent.ConcurrentHashMap[Long, String]()

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart =>
      execSites.put(s.executionId, s.description + "\n" + s.details)
    case _ => ()
  }

  def reset(): Unit = byCause.clear()

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val props = Option(e.properties)
    def prop(k: String) = props.flatMap(p => Option(p.getProperty(k)))
    val cause = prop(JobLedger.TagKey).getOrElse {
      val exec = prop("spark.sql.execution.root.id").orElse(prop("spark.sql.execution.id"))
      val site = exec.flatMap(id => Option(execSites.get(id.toLong))).getOrElse("")
      if (site.contains("PolarHttpServer")) "poll" else "other"
    }
    acc(cause).jobs.incrementAndGet()
    e.stageIds.foreach(s => stageCause.put(s, cause))
    acc(cause).stages.addAndGet(e.stageIds.size.toLong)
    jobStart.put(e.jobId, (cause, System.nanoTime()))
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit =
    Option(jobStart.remove(e.jobId)).foreach { case (cause, t0) =>
      val t1 = System.nanoTime()
      acc(cause).busyIntervals.add((t0, t1))
      tracer.record(s"spark.job.$cause", t0, t1)
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val a = acc(Option(stageCause.get(e.stageId)).getOrElse("other"))
    a.tasks.incrementAndGet()
    a.taskMs.addAndGet(e.taskInfo.duration)
    Option(e.taskMetrics).foreach { m =>
      a.gcMs.addAndGet(m.jvmGCTime)
      a.shuffleRead.addAndGet(m.shuffleReadMetrics.totalBytesRead)
      a.shuffleWrite.addAndGet(m.shuffleWriteMetrics.bytesWritten)
    }
  }
}

object JobLedger {
  val TagKey = "perfbench.cause"
}

/** Planning time and rows decoded per executed query, from Spark's own
  * `QueryExecution` as the execution listener sees it: the planning
  * tracker's phases and the DSv2 scan's `polarRowsDecoded` metric. */
final class PlanLedger extends QueryExecutionListener
    with org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper {
  final case class Rec(planningMs: Double, rowsDecoded: Long)
  private val seen = new java.util.concurrent.ConcurrentHashMap[QueryExecution, Rec]()

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
    val planning = qe.tracker.phases.values.map(_.durationMs).sum.toDouble
    val decoded = collect(qe.executedPlan) { case p => p.metrics.get("polarRowsDecoded") }
      .flatten.map(_.value).sum
    seen.put(qe, Rec(planning, decoded))
  }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()

  /** The record of one finished action, once the listener bus drained. */
  def take(spark: org.apache.spark.sql.SparkSession, qe: QueryExecution): Rec = {
    org.apache.spark.PerfbenchAccess.drainListeners(spark.sparkContext)
    Option(seen.remove(qe)).getOrElse(Rec(0.0, 0L))
  }
}
