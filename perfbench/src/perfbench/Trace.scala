package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One request the workload issued: a trigger, a DML or read call, or a
  * query. `group` is the Spark job group its jobs should carry. */
final case class Request(id: Long, kind: String, name: String, start: Double, end: Double,
    group: Option[String]) {
  def wallMs: Double = end - start
}

/** A timed interval at a layer boundary. Spans are attributed to the
  * requests whose windows they fall in. */
final case class Span(layer: String, name: String, start: Double, end: Double)

final case class JobRec(id: Int, start: Double, var end: Double, group: Option[String],
    stages: Seq[Int])

final class StageAcc {
  var tasks = 0L
  var failedTasks = 0L
  var runMs = 0.0
  var cpuMs = 0.0
  var gcMs = 0.0
  var shuffleWrite = 0L
  var shuffleRead = 0L
  var spill = 0L
  val durations = mutable.ArrayBuffer.empty[Double]
}

/** In-memory span recorder. Requests are recorded in every run (they
  * are the end-to-end samples); spans and Spark listeners only when
  * tracing is on. Everything is written out after the run. */
final class Recorder(val tracing: Boolean) {
  private val nextId = new java.util.concurrent.atomic.AtomicLong(0)
  val requests = mutable.ArrayBuffer.empty[Request]
  val spans = mutable.ArrayBuffer.empty[Span]
  val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  val stageAcc = mutable.HashMap.empty[Int, StageAcc]
  private val seenPhases = mutable.HashSet.empty[(Int, String, Long, Long)]

  def addRequest(kind: String, name: String, start: Double, end: Double,
      group: Option[String] = None): Request = synchronized {
    val r = Request(nextId.getAndIncrement(), kind, name, start, end, group)
    requests += r
    r
  }

  def span(layer: String, name: String, start: Double, end: Double): Unit =
    if (tracing) synchronized { spans += Span(layer, name, start, end) }

  /** Time one closed-loop request on the calling thread. When tracing,
    * its Spark jobs carry a job group naming the request. */
  def timed[A](spark: SparkSession, kind: String, name: String)(f: => A): (A, Request) = {
    val group = if (tracing) Some(s"perfbench-${nextId.get()}-$kind") else None
    group.foreach(g => spark.sparkContext.setJobGroup(g, name))
    val t0 = Clock.nowMs()
    val out = try f finally if (tracing) spark.sparkContext.clearJobGroup()
    val r = addRequest(kind, name, t0, Clock.nowMs(), group)
    (out, r)
  }

  /** Spark-side listeners: jobs, tasks and Catalyst phases per action. */
  def install(spark: SparkSession): Unit = if (tracing) {
    val rec = this
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = rec.synchronized {
        val g = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
        jobs(e.jobId) = JobRec(e.jobId, e.time.toDouble, Double.NaN, g, e.stageIds)
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit = rec.synchronized {
        jobs.get(e.jobId).foreach(_.end = e.time.toDouble)
      }
      override def onTaskEnd(e: SparkListenerTaskEnd): Unit = rec.synchronized {
        val a = stageAcc.getOrElseUpdate(e.stageId, new StageAcc)
        a.tasks += 1
        if (e.reason != org.apache.spark.Success) a.failedTasks += 1
        Option(e.taskInfo).foreach(i => a.durations += i.duration.toDouble)
        Option(e.taskMetrics).foreach { m =>
          a.runMs += m.executorRunTime
          a.cpuMs += m.executorCpuTime / 1e6
          a.gcMs += m.jvmGCTime
          a.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
          a.shuffleRead += m.shuffleReadMetrics.remoteBytesRead + m.shuffleReadMetrics.localBytesRead
          a.spill += m.diskBytesSpilled
        }
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        phases(qe)
      override def onFailure(funcName: String, qe: QueryExecution, ex: Exception): Unit =
        phases(qe)
    })
  }

  /** One Catalyst action: its analysis/optimization/planning phases. A
    * QueryExecution reused by several actions reports the same phases
    * again, so phases are de-duplicated by identity and interval. */
  private def phases(qe: QueryExecution): Unit = synchronized {
    val id = System.identityHashCode(qe)
    qe.tracker.phases.foreach { case (phase, p) =>
      if (phase != "parsing" && seenPhases.add((id, phase, p.startTimeMs, p.endTimeMs)))
        spans += Span("catalyst", phase, p.startTimeMs.toDouble, p.endTimeMs.toDouble)
    }
  }

  /** Wait for every posted listener event to be delivered. */
  def drain(spark: SparkSession): Unit =
    org.apache.spark.perfbench.ListenerDrain.drain(spark.sparkContext)

  def dump(path: String): Unit = synchronized {
    val rows = requests.map(r => Map("kind" -> "request", "id" -> r.id, "layer" -> r.kind,
      "name" -> r.name, "start" -> r.start, "end" -> r.end)) ++
      spans.map(s => Map("kind" -> "span", "layer" -> s.layer, "name" -> s.name,
        "start" -> s.start, "end" -> s.end)) ++
      jobs.values.map(j => Map("kind" -> "span", "layer" -> "exec", "name" -> s"job-${j.id}",
        "start" -> j.start, "end" -> j.end, "group" -> j.group.getOrElse("")))
    Files.writeString(path, rows.map(Json(_)).mkString("\n") + "\n")
  }

  /** Per-request self time by layer. Every instant of a request's wall
    * goes to the highest-priority layer active then (exec, then
    * catalyst, then sources on the driver), and the rest is
    * driver.other, so the parts sum to the wall. Also the per-request
    * exec counters. Everything is a mean per request. */
  def layerMetrics(reqs: Seq[Request], cores: Int): Map[String, Double] = synchronized {
    val n = math.max(reqs.size, 1).toDouble
    val jobList = jobs.values.toSeq
    val jobIv = jobList.filter(!_.end.isNaN).map(j => (j.start, j.end))
    val catIv = spans.filter(_.layer == "catalyst").map(s => (s.start, s.end)).toSeq
    val srcIv = spans.filter(_.layer == "sources").map(s => (s.start, s.end)).toSeq
    var exec, cat, src, other, wall = 0.0
    var nJobs, nTasks, failedTasks, unattributed = 0L
    var runMs, cpuMs, gcMs = 0.0
    var shW, shR, spill = 0L
    val skews = mutable.ArrayBuffer.empty[Double]
    var actionsIn = 0L
    var analysis, optimization, planning = 0.0
    reqs.foreach { r =>
      val e = Stats.unionLength(Stats.clip(jobIv, r.start, r.end))
      val ec = Stats.unionLength(Stats.clip(jobIv ++ catIv, r.start, r.end))
      val ecs = Stats.unionLength(Stats.clip(jobIv ++ catIv ++ srcIv, r.start, r.end))
      exec += e; cat += ec - e; src += ecs - ec; other += r.wallMs - ecs; wall += r.wallMs
      spans.filter(s => s.layer == "catalyst" && s.start >= r.start && s.start < r.end).foreach { s =>
        s.name match {
          case "analysis" => analysis += s.end - s.start; actionsIn += 1
          case "optimization" => optimization += s.end - s.start
          case "planning" => planning += s.end - s.start
          case _ =>
        }
      }
      jobList.filter(j => j.start >= r.start && j.start < r.end).foreach { j =>
        nJobs += 1
        if (r.group.isDefined && j.group != r.group) unattributed += 1
        j.stages.flatMap(stageAcc.get).foreach { a =>
          nTasks += a.tasks; failedTasks += a.failedTasks
          runMs += a.runMs; cpuMs += a.cpuMs; gcMs += a.gcMs
          shW += a.shuffleWrite; shR += a.shuffleRead; spill += a.spill
          if (a.durations.size >= 2) {
            val med = Stats.median(a.durations.toSeq)
            if (med > 0) skews += a.durations.max / med
          }
        }
      }
    }
    val mb = 1024.0 * 1024.0
    val maxConcurrent = {
      val inReqs = jobIv.filter { case (s, _) => reqs.exists(r => s >= r.start && s < r.end) }
      val ev = inReqs.flatMap { case (s, e) => Seq((s, 1), (e, -1)) }.sortBy(x => (x._1, x._2))
      var cur, best = 0
      ev.foreach { case (_, d) => cur += d; best = math.max(best, cur) }
      best
    }
    Map(
      "catalyst.actions" -> actionsIn / n,
      "catalyst.analysis_ms" -> analysis / n,
      "catalyst.optimization_ms" -> optimization / n,
      "catalyst.planning_ms" -> planning / n,
      "exec.jobs" -> nJobs / n,
      "exec.tasks" -> nTasks / n,
      "exec.job_busy_ms" -> exec / n,
      "exec.task_run_ms" -> runMs / n,
      "exec.task_cpu_ms" -> cpuMs / n,
      "exec.gc_ms" -> gcMs / n,
      "exec.slot_utilization" -> (if (exec > 0) runMs / (exec * cores) else 0.0),
      "exec.concurrent_jobs_max" -> maxConcurrent.toDouble,
      "exec.shuffle_write_mb" -> shW / mb / n,
      "exec.shuffle_read_mb" -> shR / mb / n,
      "exec.spill_mb" -> spill / mb / n,
      "exec.stage_skew_p50" -> (if (skews.isEmpty) 0.0 else Stats.median(skews.toSeq)),
      "exec.task_failures" -> failedTasks / n,
      "exec.unattributed_jobs" -> unattributed / n,
      "selftime.wall_ms" -> wall / n,
      "selftime.exec_ms" -> exec / n,
      "selftime.catalyst_ms" -> cat / n,
      "selftime.sources_ms" -> src / n,
      "driver.other_ms" -> other / n)
  }
}
