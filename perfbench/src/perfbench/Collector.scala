package perfbench

import scala.collection.mutable
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import org.apache.spark.sql.util.QueryExecutionListener

/** Per-operation layer counters, measured from outside the engine: a
  * `SparkListener` for the scheduler, a `QueryExecutionListener` for the
  * SQL metrics of executed plans (the seamf connector's DSv2 scan metrics
  * and parquet partition counts). Registered only in traced runs.
  */
final class Collector(spark: SparkSession, cores: Int) {
  import Collector._

  private var cur = new Acc
  private val jobStart = mutable.Map.empty[Int, Long]

  private val listener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
      cur.jobs += 1; jobStart(e.jobId) = e.time
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      jobStart.remove(e.jobId).foreach(s => cur.jobSpans += ((s, e.time)))
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
      cur.stages += 1
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
      val m = e.taskMetrics
      cur.tasks += 1
      cur.taskMs.getOrElseUpdate((e.stageId, e.stageAttemptId),
        mutable.ArrayBuffer.empty[Double]) += e.taskInfo.duration.toDouble
      if (m != null) {
        cur.runMs += m.executorRunTime
        cur.cpuNs += m.executorCpuTime
        cur.gcMs += m.jvmGCTime
        cur.shuffleRead += m.shuffleReadMetrics.totalBytesRead
        cur.shuffleWrite += m.shuffleWriteMetrics.bytesWritten
        cur.spill += m.memoryBytesSpilled + m.diskBytesSpilled
        cur.input += m.inputMetrics.bytesRead
        cur.output += m.outputMetrics.bytesWritten
        cur.outputRows += m.outputMetrics.recordsWritten
      }
    }
  }

  private val qel = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      synchronized { walk(qe.executedPlan) }
    override def onFailure(funcName: String, qe: QueryExecution, e: Exception): Unit = ()
  }

  private def walk(p: SparkPlan): Unit = p match {
    case a: AdaptiveSparkPlanExec => walk(a.executedPlan)
    case q: QueryStageExec => walk(q.plan)
    case _: ReusedExchangeExec => ()
    case _ =>
      ScanMetrics.foreach { case (sqlName, key) =>
        p.metrics.get(sqlName).foreach(m => cur.scan(key) = cur.scan.getOrElse(key, 0L) + m.value)
      }
      if (p.nodeName.contains("Scan parquet"))
        p.metrics.get("numPartitions").foreach(m => cur.partitionsRead += m.value)
      p.children.foreach(walk)
      p.subqueries.foreach(walk)
  }

  def register(): Unit = {
    spark.sparkContext.addSparkListener(listener)
    spark.listenerManager.register(qel)
  }

  def unregister(): Unit = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    spark.sparkContext.removeSparkListener(listener)
    spark.listenerManager.unregister(qel)
  }

  def begin(): Unit = synchronized { cur = new Acc }

  /** Counters of the operation that just returned; waits for the listener
    * bus so that every event of the operation has been seen.
    */
  def end(wallS: Double, startMs: Long, endMs: Long): Map[String, Double] = {
    org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
    synchronized { cur.report(wallS, startMs, endMs, cores) }
  }
}

object Collector {
  /** seamf connector SQL metric name -> report key */
  val ScanMetrics: Seq[(String, String)] = Seq(
    "seamfDecodedFiles" -> "sources.seamf.decoded_files",
    "seamfMetaOnlyFiles" -> "sources.seamf.meta_only_files",
    "seamfPrunedFiles" -> "sources.seamf.pruned_files",
    "seamfSkippedFiles" -> "sources.seamf.skipped_files")

  private final class Acc {
    var jobs, stages, tasks = 0L
    var runMs, cpuNs, gcMs, shuffleRead, shuffleWrite, spill = 0L
    var input, output, outputRows, partitionsRead = 0L
    val jobSpans = mutable.ArrayBuffer.empty[(Long, Long)]
    val taskMs = mutable.Map.empty[(Int, Int), mutable.ArrayBuffer[Double]]
    val scan = mutable.Map.empty[String, Long]

    /** wall time inside [start, end] not covered by any running job */
    private def gapS(startMs: Long, endMs: Long): Double = {
      val spans = jobSpans.map { case (a, b) => (math.max(a, startMs), math.min(b, endMs)) }
        .filter { case (a, b) => b > a }.sortBy(_._1)
      var covered = 0L
      var reach = startMs
      spans.foreach { case (a, b) =>
        val from = math.max(a, reach)
        if (b > from) { covered += b - from; reach = b }
      }
      math.max(0L, endMs - startMs - covered) / 1e3
    }

    def report(wallS: Double, startMs: Long, endMs: Long, cores: Int): Map[String, Double] = {
      val skew = taskMs.values.filter(_.size > 1)
        .map(ts => ts.max / math.max(1.0, Stats.median(ts.toSeq))).maxOption.getOrElse(1.0)
      Map(
        "spark.jobs" -> jobs.toDouble,
        "spark.stages" -> stages.toDouble,
        "spark.tasks" -> tasks.toDouble,
        "spark.executor_run_s" -> runMs / 1e3,
        "spark.executor_cpu_s" -> cpuNs / 1e9,
        "spark.gc_s" -> gcMs / 1e3,
        "spark.shuffle_read_bytes" -> shuffleRead.toDouble,
        "spark.shuffle_write_bytes" -> shuffleWrite.toDouble,
        "spark.spill_bytes" -> spill.toDouble,
        "spark.input_bytes" -> input.toDouble,
        "spark.output_bytes" -> output.toDouble,
        "spark.output_rows" -> outputRows.toDouble,
        "spark.busy_frac" -> runMs / 1e3 / math.max(1e-9, wallS * cores),
        "spark.task_skew" -> skew,
        "spark.driver_gap_s" -> gapS(startMs, endMs),
        "lake.partitions_read" -> partitionsRead.toDouble) ++
        ScanMetrics.map { case (_, k) => k -> scan.getOrElse(k, 0L).toDouble }
    }
  }
}
