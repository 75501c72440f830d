package perfbench

import org.apache.spark.{BenchBus, Success}
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener

import scala.collection.mutable

/** The `exec` and `plans` layers, seen from outside the engine: a
  * SparkListener for jobs, stages and tasks, and a QueryExecutionListener
  * for the planning tracker of every action. Counters accumulate between
  * `begin()` and `end()`; `end()` drains the listener bus first, so the
  * window holds every event of the actions run inside it.
  */
final class ExecStats(spark: SparkSession, cores: Int) extends SparkListener {
  @volatile var active = false
  private val jobs = mutable.Map.empty[Int, (Long, Long)] // jobId -> (start, end) ms
  private val taskTimes = mutable.Map.empty[Int, mutable.ArrayBuffer[Long]]
  private val sums = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  val queries = mutable.ArrayBuffer.empty[QueryExecution]

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      if (active) queries.synchronized(queries += qe)
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  spark.sparkContext.addSparkListener(this)
  spark.listenerManager.register(qeListener)

  override def onJobStart(e: SparkListenerJobStart): Unit = if (active) synchronized {
    jobs(e.jobId) = (e.time, -1L)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = if (active) synchronized {
    jobs.get(e.jobId).foreach { case (s, _) => jobs(e.jobId) = (s, e.time) }
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = if (active) synchronized {
    sums("stages") += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = if (active) synchronized {
    sums("tasks") += 1
    if (e.reason != Success) sums("failed_tasks") += 1
    taskTimes.getOrElseUpdate(e.stageId, mutable.ArrayBuffer.empty) += e.taskInfo.duration
    val m = e.taskMetrics
    if (m != null) {
      sums("task_busy_s") += m.executorRunTime / 1e3
      sums("task_cpu_s") += m.executorCpuTime / 1e9
      sums("gc_s") += m.jvmGCTime / 1e3
      sums("input_bytes") += m.inputMetrics.bytesRead.toDouble
      sums("output_bytes") += m.outputMetrics.bytesWritten.toDouble
      sums("shuffle_write_bytes") += m.shuffleWriteMetrics.bytesWritten.toDouble
      sums("spill_bytes") += (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble
    }
  }

  /** Jobs started so far in the open window. */
  def jobsSoFar: Int = {
    BenchBus.drain(spark.sparkContext)
    synchronized(jobs.size)
  }

  def begin(): Unit = {
    BenchBus.drain(spark.sparkContext)
    synchronized { jobs.clear(); taskTimes.clear(); sums.clear() }
    queries.synchronized(queries.clear())
    active = true
  }

  /** Close the window opened by `begin()`; `wallS` is the wall time of
    * the actions inside it.
    */
  def end(wallS: Double): Map[String, Double] = {
    BenchBus.drain(spark.sparkContext)
    active = false
    synchronized {
      val intervals = jobs.values.filter(_._2 >= 0).toSeq.sortBy(_._1)
      var covered = 0L
      var reach = Long.MinValue
      intervals.foreach { case (s, e) =>
        val from = math.max(s, reach)
        if (e > from) covered += e - from
        reach = math.max(reach, e)
      }
      val straggler = taskTimes.values.map { ts =>
        val sorted = ts.sorted
        (sorted.last - sorted(sorted.size / 2)) / 1e3
      }.sum
      val busy = sums("task_busy_s")
      Map(
        "action_s" -> wallS,
        "task_busy_s" -> busy,
        "task_cpu_s" -> sums("task_cpu_s"),
        "input_bytes" -> sums("input_bytes"),
        "output_bytes" -> sums("output_bytes"),
        "shuffle_write_bytes" -> sums("shuffle_write_bytes"),
        "straggler_s" -> straggler,
        "gc_s" -> sums("gc_s"),
        "spill_bytes" -> sums("spill_bytes"),
        "jobs" -> jobs.size.toDouble,
        "stages" -> sums("stages"),
        "tasks" -> sums("tasks"),
        "sched_gap_s" -> math.max(0.0, wallS - covered / 1e3),
        "core_idle_share" ->
          (if (wallS > 0) math.max(0.0, 1.0 - busy / (wallS * cores)) else 0.0),
        "failed_tasks" -> sums("failed_tasks"))
    }
  }
}

/** CPU time of the threads doing an operation's work: the calling
  * (driver) thread, which plans and runs the entry's driver-side code,
  * plus the executor CPU of every task the operation ran (from task
  * metrics). Unlike the process's CPU time it leaves out the JIT
  * compiler and GC threads, whose background work lands on whichever
  * operation happens to be running, and unlike wall time it leaves out
  * time stolen from the machine by other guests of its host.
  */
final class WorkCpu(spark: SparkSession) extends SparkListener {
  private val taskNs = new java.util.concurrent.atomic.AtomicLong
  private val threads = java.lang.management.ManagementFactory.getThreadMXBean

  spark.sparkContext.addSparkListener(this)

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m != null) taskNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
  }

  /** Runs `body` on the calling thread; returns its result and work CPU seconds. */
  def measure[T](body: => T): (T, Double) = {
    BenchBus.drain(spark.sparkContext)
    val k0 = taskNs.get
    val d0 = threads.getCurrentThreadCpuTime
    val r = body
    val d1 = threads.getCurrentThreadCpuTime
    BenchBus.drain(spark.sparkContext)
    (r, ((d1 - d0) + (taskNs.get - k0)) / 1e9)
  }
}
