package graft.perf

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart

import scala.collection.mutable

/** Counters of one Spark job. Times are epoch ms, the clock Spark stamps
  * its listener events with. `leg` labels the job by the plan of the SQL
  * execution that submitted it (see [[JobCounters]]). */
final class JobRec(val id: Int, val startMs: Long, val leg: Option[String]) {
  var endMs: Long = startMs
  var tasks = 0L
  var cpuNs = 0L
  var runMs = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** The benchmark's own `SparkListener`: per-job task count, task CPU,
  * executor run time, shuffle read + write bytes and spill, keyed to the
  * job that submitted each stage. It never touches the engine: it is added
  * to the context from outside while a traced call runs.
  *
  * `legOf` names the part of a call a job belongs to, read from the
  * physical plan of its SQL execution (e.g. the store a write targets).
  * Jobs the engine runs concurrently on pooled threads carry no other
  * reliable trace of their origin: their call site and job description
  * are inherited from whichever call created the thread. */
final class JobCounters(legOf: String => Option[String]) extends SparkListener {
  private val jobs = mutable.LinkedHashMap.empty[Int, JobRec]
  private val stageJob = mutable.Map.empty[Int, Int]
  private val execLeg = mutable.Map.empty[Long, String]

  override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
    case s: SparkListenerSQLExecutionStart => synchronized {
      legOf(s.physicalPlanDescription).foreach(execLeg(s.executionId) = _)
    }
    case _ =>
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val exec = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.sql.execution.id")))
    jobs(e.jobId) = new JobRec(e.jobId, e.time,
      exec.flatMap(id => execLeg.get(id.toLong)))
    e.stageIds.foreach(s => stageJob(s) = e.jobId)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach(_.endMs = e.time)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    for (j <- stageJob.get(e.stageId); r <- jobs.get(j); m <- Option(e.taskMetrics)) {
      r.tasks += 1
      r.cpuNs += m.executorCpuTime
      r.runMs += m.executorRunTime
      r.shuffleBytes += m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten
      r.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
    }
  }

  def snapshot: List[JobRec] = synchronized(jobs.values.toList)
}

/** One call into a layer, timed from outside. `op` is the operation it
  * belongs to (-1 during set-up); `attrs` carries values drained after the
  * call, such as the program's own phase timers. */
final case class Span(
    id: Int, parent: Int, name: String, op: Int,
    startMs: Long, endMs: Long, wallS: Double,
    attrs: Map[String, Double])

/** Outside-in tracer. Spans are kept in memory and written once at exit.
  * While recording, each span sets `spark.job.description` to
  * `workload/span` on the calling thread (so Spark's own logs name the
  * caller) and the [[JobCounters]] listener is attached. Jobs are
  * attributed to spans by time: the workloads are closed loops with one
  * client, so every job that starts inside a span's interval was caused by
  * that call, including jobs the engine runs on its own threads (stream
  * micro-batches, parallel ingest legs), whose inherited job description
  * would be stale. */
final class Tracer(spark: SparkSession, workload: String,
    legOf: String => Option[String]) {
  private val sc = spark.sparkContext
  private val counters = new JobCounters(legOf)
  private val spans = mutable.ArrayBuffer.empty[Span]
  private var stack: List[(Int, String)] = Nil
  private var nextId = 0
  private var recordingNow = false
  var op: Int = -1

  def recording: Boolean = recordingNow

  /** Run `f` with the listener attached and spans recorded iff `on`. */
  def recorded[A](on: Boolean)(f: => A): A =
    if (!on) f
    else {
      sc.addSparkListener(counters)
      recordingNow = true
      try f
      finally {
        recordingNow = false
        org.apache.spark.PerfbenchBus.drain(sc)
        sc.removeSparkListener(counters)
        sc.setJobDescription(null)
      }
    }

  /** Time `f` as span `name`; `attrs` computes values to attach after the
    * call. Outside a recorded region this is just `f`. */
  def span[A](name: String, attrs: => Map[String, Double] = Map.empty)(f: => A): A = {
    if (!recordingNow) return f
    val id = nextId
    nextId += 1
    val parent = stack.headOption.map(_._1).getOrElse(-1)
    stack = (id, name) :: stack
    sc.setJobDescription(s"$workload/$name")
    val t0 = System.nanoTime()
    val startMs = System.currentTimeMillis()
    try {
      val r = f
      spans += Span(id, parent, name, op, startMs, System.currentTimeMillis(),
        (System.nanoTime() - t0) / 1e9, attrs)
      r
    } finally {
      stack = stack.tail
      sc.setJobDescription(
        stack.headOption.map { case (_, n) => s"$workload/$n" }.orNull)
    }
  }

  /** Every recorded span with its Spark counters: the jobs that started
    * inside its interval (children included), their tasks, task CPU,
    * executor run time, shuffle and spill, the gap (wall minus the union
    * of job intervals: time spent outside any job) and self time (wall
    * minus child spans). */
  def report(cores: Int): Seq[Map[String, Any]] = {
    val jobs = counters.snapshot
    spans.sortBy(_.id).toSeq.map { s =>
      val in = jobs.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)
      val busyMs = unionMs(in.map(j => (j.startMs max s.startMs, j.endMs min s.endMs)))
      val childWall = spans.filter(_.parent == s.id).map(_.wallS).sum
      Map(
        "id" -> s.id, "parent" -> s.parent, "name" -> s.name, "op" -> s.op,
        "start_ms" -> s.startMs, "end_ms" -> s.endMs, "wall_s" -> s.wallS,
        "self_s" -> (s.wallS - childWall),
        "jobs" -> in.size,
        "tasks" -> in.map(_.tasks).sum,
        "task_cpu_s" -> in.map(_.cpuNs).sum / 1e9,
        "run_s" -> in.map(_.runMs).sum / 1e3,
        "shuffle_mb" -> in.map(_.shuffleBytes).sum / 1e6,
        "spill_mb" -> in.map(_.spillBytes).sum / 1e6,
        "gap_s" -> math.max(0.0, s.wallS - busyMs / 1e3),
        "core_busy_ratio" -> in.map(_.runMs).sum / 1e3 / (s.wallS * cores),
        "leg_jobs" -> in.groupBy(_.leg).collect { case (Some(l), js) => l -> js.size },
        "leg_task_cpu_s" -> in.groupBy(_.leg)
          .collect { case (Some(l), js) => l -> js.map(_.cpuNs).sum / 1e9 },
        "attrs" -> s.attrs)
    }
  }

  private def unionMs(iv: Seq[(Long, Long)]): Long = {
    var total = 0L
    var curS = Long.MinValue
    var curE = Long.MinValue
    for ((a, b) <- iv.filter { case (a, b) => b > a }.sortBy(_._1)) {
      if (a > curE) {
        if (curE > curS) total += curE - curS
        curS = a; curE = b
      } else curE = curE max b
    }
    if (curE > curS) total += curE - curS
    total
  }
}
