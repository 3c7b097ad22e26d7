package perfbench

import scala.collection.mutable

import org.apache.spark.scheduler._

/** Per-operation Spark counters for the traced window.
  *
  * Every job the benchmark starts carries the local property [[OpKey]]
  * (the id of the operation that started it); the listener folds job,
  * stage and task events into one [[Counters]] per id. Jobs whose call
  * site is in `graft.Tables` are the scan seam's parquet
  * schema-inference jobs and are also counted on their own.
  */
final class Trace extends SparkListener {
  import Trace._

  private val jobs = mutable.Map.empty[Int, JobSpan]
  private val stageOp = mutable.Map.empty[Int, String]
  private val counters = mutable.Map.empty[String, Counters]
  @volatile private var sentinelSeen = false

  private def acc(op: String): Counters = counters.getOrElseUpdate(op, new Counters)

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    val op = Option(e.properties).flatMap(p => Option(p.getProperty(OpKey))).getOrElse("")
    e.stageIds.foreach(stageOp.getOrElseUpdate(_, op))
    val site = if (e.stageInfos.isEmpty) "" else e.stageInfos.maxBy(_.stageId).name
    jobs(e.jobId) = JobSpan(op, e.time, Long.MaxValue, site.contains("Tables.scala"))
    acc(op).jobs += 1
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
    jobs.get(e.jobId).foreach { j =>
      jobs(e.jobId) = j.copy(end = e.time)
      if (j.op == Sentinel) sentinelSeen = true
    }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stageOp.get(e.stageInfo.stageId).foreach(acc(_).stages += 1)
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) stageOp.get(e.stageId).foreach { op =>
      val c = acc(op)
      c.tasks += 1
      c.taskRunMs += m.executorRunTime
      c.taskCpuNs += m.executorCpuTime
      c.gcMs += m.jvmGCTime
      c.shuffleWriteBytes += m.shuffleWriteMetrics.bytesWritten
      c.shuffleReadBytes += m.shuffleReadMetrics.totalBytesRead
      c.spillBytes += m.memoryBytesSpilled + m.diskBytesSpilled
      c.peakExecMemBytes = math.max(c.peakExecMemBytes, m.peakExecutionMemory)
    }
  }

  /** Blocks until every event posted before this call has been folded
    * in: runs a one-task sentinel job and waits for its end event,
    * which the listener bus delivers after all earlier events. */
  def drain(spark: org.apache.spark.sql.SparkSession): Unit = {
    val sc = spark.sparkContext
    sentinelSeen = false
    sc.setLocalProperty(OpKey, Sentinel)
    try sc.parallelize(Seq(1), 1).count()
    finally sc.setLocalProperty(OpKey, null)
    val deadline = System.nanoTime() + 30L * 1000 * 1000 * 1000
    while (!sentinelSeen) {
      if (System.nanoTime() > deadline) sys.error("listener bus did not drain within 30 s")
      Thread.sleep(5)
    }
  }

  /** Counters of one operation; `execFrom`/`execTo` bound its execute
    * phase (epoch ms) for the driver-gap computation. */
  def snapshot(op: String, execFrom: Long, execTo: Long): Counters = synchronized {
    val c = counters.getOrElse(op, new Counters).copy()
    val spans = jobs.values.filter(_.op == op).toSeq
    val tables = spans.filter(_.tablesJob)
    c.tablesJobs = tables.size
    c.tablesMs = tables.map(j => math.max(0L, j.end - j.start)).sum
    c.driverGapMs = (execTo - execFrom) - covered(spans, execFrom, execTo)
    c
  }
}

object Trace {
  val OpKey = "perfbench.op"
  val Sentinel = "perfbench.sentinel"

  final case class JobSpan(op: String, start: Long, end: Long, tablesJob: Boolean)

  final class Counters {
    var jobs, stages, tasks, taskRunMs, taskCpuNs, gcMs = 0L
    var shuffleWriteBytes, shuffleReadBytes, spillBytes, peakExecMemBytes = 0L
    var tablesJobs, tablesMs, driverGapMs = 0L

    def copy(): Counters = {
      val c = new Counters
      c.jobs = jobs; c.stages = stages; c.tasks = tasks; c.taskRunMs = taskRunMs
      c.taskCpuNs = taskCpuNs; c.gcMs = gcMs; c.shuffleWriteBytes = shuffleWriteBytes
      c.shuffleReadBytes = shuffleReadBytes; c.spillBytes = spillBytes
      c.peakExecMemBytes = peakExecMemBytes
      c
    }

    def fields: Seq[(String, Double)] = Seq(
      "tables_load_ms" -> tablesMs.toDouble, "tables_load_jobs" -> tablesJobs.toDouble,
      "driver_gap_ms" -> driverGapMs.toDouble, "jobs" -> jobs.toDouble,
      "stages" -> stages.toDouble, "tasks" -> tasks.toDouble,
      "task_run_ms" -> taskRunMs.toDouble, "task_cpu_ms" -> taskCpuNs / 1e6,
      "gc_ms" -> gcMs.toDouble, "shuffle_write_bytes" -> shuffleWriteBytes.toDouble,
      "shuffle_read_bytes" -> shuffleReadBytes.toDouble,
      "spill_bytes" -> spillBytes.toDouble,
      "peak_exec_mem_bytes" -> peakExecMemBytes.toDouble)
  }

  /** Length of the union of the job intervals, clipped to [from, to]. */
  def covered(spans: Seq[JobSpan], from: Long, to: Long): Long = {
    val clipped = spans.map(j => (math.max(j.start, from), math.min(j.end, to)))
      .filter { case (a, b) => b > a }.sortBy(_._1)
    var total = 0L
    var (curA, curB) = (Long.MinValue, Long.MinValue)
    clipped.foreach { case (a, b) =>
      if (a > curB) {
        if (curB > curA) total += curB - curA
        curA = a; curB = b
      } else curB = math.max(curB, b)
    }
    if (curB > curA) total += curB - curA
    total
  }
}
