package graft.perfbench

import scala.collection.mutable.ArrayBuffer
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

/** One timed region: a benchmark op, a layer call inside it, a Spark
  * action or a job. Times are epoch milliseconds, the clock Spark's own
  * listener events carry, so benchmark spans and engine events line up.
  */
final case class Span(id: Int, parent: Int, name: String, startMs: Long, endMs: Long) {
  def ms: Double = (endMs - startMs).toDouble
}

/** Work the engine reported for one job, summed over its tasks. */
final case class JobStats(jobId: Int, startMs: Long, var endMs: Long = -1L,
    var tasks: Long = 0L, var taskMs: Long = 0L, var cpuNs: Long = 0L,
    var scanBytes: Long = 0L, var scanRows: Long = 0L, var shuffleBytes: Long = 0L,
    var spillBytes: Long = 0L, var rowsWritten: Long = 0L, var singleTaskStageMs: Long = 0L)

/** One Dataset action as the QueryExecutionListener saw it. */
final case class ActionStats(func: String, startMs: Long, planningMs: Double, durationMs: Double)

/** Spans of the benchmark's own calls plus the engine events under them.
  * Disabled, it only runs the timed bodies: the untraced run pays one
  * clock read per op and attaches no listener.
  */
final class Tracer(val enabled: Boolean) {
  val spans = ArrayBuffer.empty[Span]
  private var stack = List(0)
  private var nextId = 1

  val jobs = scala.collection.concurrent.TrieMap.empty[Int, JobStats]
  private val stageJob = scala.collection.concurrent.TrieMap.empty[Int, Int]
  val actions = new java.util.concurrent.ConcurrentLinkedQueue[ActionStats]()
  @volatile private var lastEventNs = System.nanoTime()

  /** Times `body` as a span named `name`, child of the enclosing span. */
  def span[T](name: String)(body: => T): T = {
    if (!enabled) return body
    val id = nextId
    nextId += 1
    val parent = stack.head
    stack = id :: stack
    val t0 = System.currentTimeMillis()
    try body
    finally {
      stack = stack.tail
      spans += Span(id, parent, name, t0, System.currentTimeMillis())
    }
  }

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      lastEventNs = System.nanoTime()
      jobs.put(e.jobId, JobStats(e.jobId, e.time))
      e.stageIds.foreach(s => stageJob.put(s, e.jobId))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      lastEventNs = System.nanoTime()
      jobs.get(e.jobId).foreach(_.endMs = e.time)
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      lastEventNs = System.nanoTime()
      val i = e.stageInfo
      if (i.numTasks == 1) for (a <- i.submissionTime; b <- i.completionTime;
          jobId <- stageJob.get(i.stageId); j <- jobs.get(jobId)) j.synchronized {
        j.singleTaskStageMs += b - a
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      lastEventNs = System.nanoTime()
      val m = e.taskMetrics
      for (jobId <- stageJob.get(e.stageId); j <- jobs.get(jobId); if m != null) j.synchronized {
        j.tasks += 1
        j.taskMs += e.taskInfo.duration
        j.cpuNs += m.executorCpuTime
        j.scanBytes += m.inputMetrics.bytesRead
        j.scanRows += m.inputMetrics.recordsRead
        j.shuffleBytes += m.shuffleReadMetrics.totalBytesRead
        j.spillBytes += m.diskBytesSpilled
        j.rowsWritten += m.outputMetrics.recordsWritten
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    private def record(func: String, qe: QueryExecution, ns: Long): Unit = {
      lastEventNs = System.nanoTime()
      val phases = qe.tracker.phases
      val planning = Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(p => (p.endTimeMs - p.startTimeMs).toDouble).sum
      val start = phases.values.map(_.startTimeMs).foldLeft(Long.MaxValue)(math.min(_, _))
      actions.add(ActionStats(func, if (start == Long.MaxValue) 0L else start, planning, ns / 1e6))
    }
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      record(funcName, qe, durationNs)
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      record(funcName, qe, 0L)
  }

  def attach(spark: SparkSession): Unit = if (enabled) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
  }

  /** Waits until the listener buses have been quiet for half a second, so
    * every event of the last op has been counted, then detaches.
    */
  def drain(spark: SparkSession): Unit = if (enabled) {
    val deadline = System.nanoTime() + 20L * 1000000000L
    while (System.nanoTime() - lastEventNs < 500L * 1000000L && System.nanoTime() < deadline)
      Thread.sleep(50)
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
  }

  def spansNamed(p: String => Boolean): Seq[Span] = spans.toSeq.filter(s => p(s.name))

  /** The `spark` layer under the given op spans, per op where a count. */
  def sparkLayer(ops: Seq[Span]): Map[String, Double] = {
    val n = math.max(1, ops.size).toDouble
    val js = ops.flatMap(jobsIn)
    val wall = ops.map(_.ms).sum
    val inJob = ops.map(inJobMs).sum
    def perOp(f: JobStats => Long) = js.map(f).sum / n
    Map(
      "spark.driver_gap_share" -> (if (wall == 0) 0.0 else (wall - inJob) / wall),
      "spark.planning_ms" -> ops.flatMap(actionsIn).map(_.planningMs).sum / n,
      "spark.jobs_per_op" -> js.size / n,
      "spark.tasks_per_op" -> perOp(_.tasks),
      "spark.busy_cores" -> (if (inJob == 0) 0.0 else js.map(_.taskMs).sum / inJob),
      "spark.single_task_stage_s" -> perOp(_.singleTaskStageMs) / 1e3,
      "spark.task_cpu_s" -> perOp(_.cpuNs) / 1e9,
      "spark.scan_bytes" -> perOp(_.scanBytes),
      "spark.shuffle_bytes" -> perOp(_.shuffleBytes),
      "spark.spill_bytes" -> perOp(_.spillBytes))
  }

  /** Jobs submitted while `s` was open (the one client thread runs one op
    * at a time, so submission time attributes a job to its op).
    */
  def jobsIn(s: Span): Seq[JobStats] =
    jobs.values.toSeq.filter(j => j.startMs >= s.startMs && j.startMs <= s.endMs)

  def actionsIn(s: Span): Seq[ActionStats] = {
    import scala.jdk.CollectionConverters._
    actions.asScala.toSeq.filter(a => a.startMs >= s.startMs && a.startMs <= s.endMs)
  }

  /** Milliseconds of `s` during which at least one job was running. */
  def inJobMs(s: Span): Double = {
    val iv = jobsIn(s).map(j => (j.startMs.toDouble,
      (if (j.endMs < 0) s.endMs else math.min(j.endMs, s.endMs)).toDouble)).sortBy(_._1)
    var covered = 0.0
    var curS = Double.NaN
    var curE = Double.NaN
    iv.foreach { case (a, b) =>
      if (curS.isNaN || a > curE) {
        if (!curS.isNaN) covered += curE - curS
        curS = a; curE = b
      } else curE = math.max(curE, b)
    }
    if (!curS.isNaN) covered += curE - curS
    covered
  }

  /** Spans plus the jobs under them as JSON lines, child after parent. */
  def writeSpans(path: java.nio.file.Path): Unit = if (enabled) {
    val sb = new StringBuilder
    spans.sortBy(_.startMs).foreach { s =>
      sb ++= s"""{"id":${s.id},"parent":${s.parent},"name":${Json.str(s.name)},""" +
        s""""start_ms":${s.startMs},"end_ms":${s.endMs}}""" + "\n"
      jobsIn(s).sortBy(_.startMs).foreach { j =>
        if (!spans.exists(c => c.parent == s.id && j.startMs >= c.startMs && j.startMs <= c.endMs))
          sb ++= s"""{"id":"job-${j.jobId}","parent":${s.id},"name":"spark.job",""" +
            s""""start_ms":${j.startMs},"end_ms":${j.endMs},"tasks":${j.tasks}}""" + "\n"
      }
    }
    java.nio.file.Files.createDirectories(path.getParent)
    java.nio.file.Files.write(path, sb.toString.getBytes("UTF-8"))
  }
}
