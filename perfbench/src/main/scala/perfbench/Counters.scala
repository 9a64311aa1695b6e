package perfbench

import java.util.concurrent.atomic.AtomicLong

import org.apache.spark.PerfbenchShim
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.util.QueryExecutionListener

/** A point-in-time copy of [[Counters]]. */
final case class Tally(jobs: Long = 0, tasks: Long = 0, cpuNs: Long = 0,
    shuffleBytes: Long = 0, spillBytes: Long = 0, inputBytes: Long = 0,
    outputBytes: Long = 0, planningNs: Long = 0, scanRows: Long = 0) {
  def -(o: Tally): Tally = Tally(jobs - o.jobs, tasks - o.tasks, cpuNs - o.cpuNs,
    shuffleBytes - o.shuffleBytes, spillBytes - o.spillBytes,
    inputBytes - o.inputBytes, outputBytes - o.outputBytes,
    planningNs - o.planningNs, scanRows - o.scanRows)
}

/** The `spark` layer as the traced run sees it: counts from a
  * SparkListener (jobs, tasks, task CPU, shuffle, spill, I/O) and a
  * QueryExecutionListener (planning-phase time and the executed plan's
  * scan rows). Registered only for the traced run. The streaming
  * layer's per-batch `durationMs` buckets come from each query's
  * progress reports (see StreamIngest). */
final class Counters(spark: SparkSession) {
  private val jobs, tasks, cpuNs, shuffle, spill, input, output, planning,
    scanRows = new AtomicLong()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = jobs.incrementAndGet()
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks.incrementAndGet()
      val m = e.taskMetrics
      if (m != null) {
        cpuNs.addAndGet(m.executorCpuTime)
        shuffle.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        spill.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        input.addAndGet(m.inputMetrics.bytesRead)
        output.addAndGet(m.outputMetrics.bytesWritten)
      }
    }
  }

  private val queryListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit = {
      val phases = qe.tracker.phases
      planning.addAndGet(Seq("analysis", "optimization", "planning")
        .flatMap(phases.get).map(_.durationMs).sum * 1000000L)
      scanRows.addAndGet(Counters.leafRows(qe))
    }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(queryListener)
    Counters.active = Some(this)
  }

  def unregister(): Unit = {
    drain()
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(queryListener)
    Counters.active = None
  }

  /** Wait until every event posted so far has reached the listeners. */
  def drain(): Unit = PerfbenchShim.drainListenerBus(spark.sparkContext)

  def tally(): Tally = {
    drain()
    Tally(jobs.get, tasks.get, cpuNs.get, shuffle.get, spill.get, input.get,
      output.get, planning.get, scanRows.get)
  }
}

object Counters extends AdaptiveSparkPlanHelper {
  /** The registered counters while a traced window runs. */
  @volatile var active: Option[Counters] = None

  /** Rows produced by the executed plan's leaves — the scans. */
  def leafRows(qe: QueryExecution): Long =
    collect(qe.executedPlan) { case p if p.children.isEmpty => p }
      .flatMap(_.metrics.get("numOutputRows")).map(_.value).sum

  /** Per-op figures every workload reports for the `spark` layer. */
  def perOp(t: Tally, ops: Int): Map[String, Double] = {
    val n = math.max(ops, 1).toDouble
    Map(
      "spark.jobs_per_op" -> t.jobs / n,
      "spark.tasks_per_op" -> t.tasks / n,
      "spark.task_cpu_ms_per_op" -> t.cpuNs / 1e6 / n,
      "spark.shuffle_bytes_per_op" -> t.shuffleBytes / n,
      "spark.spill_bytes_per_op" -> t.spillBytes / n,
      "spark.planning_ms_per_op" -> t.planningNs / 1e6 / n)
  }
}
