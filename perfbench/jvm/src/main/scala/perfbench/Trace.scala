package perfbench

import java.lang.management.ManagementFactory

import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerTaskEnd}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}

/** Process-wide counters that are cheap enough to read in untraced runs. */
object Probe {
  private val os = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  def cpuS: Double = os.getProcessCpuTime / 1e9
  def gcMs: Long = ManagementFactory.getGarbageCollectorMXBeans.asScala
    .map(_.getCollectionTime).sum
  /** (compiles, estimated compile ms): the count is exact; the time is
    * the histogram mean times the count, an estimate.
    */
  def codegen: (Long, Double) = {
    val h = CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getCount, h.getSnapshot.getMean * h.getCount)
  }
  def nowS: Double = System.nanoTime() / 1e9
}

/** The traced run's listener bundle: a StreamingQueryListener for the
  * engine's per-batch phases and a SparkListener for jobs, tasks, task
  * CPU, shuffle bytes and the driver time with no job running. Attached
  * only with `--trace 1`; [[attach]]/[[detach]] bound what it sees.
  */
final class Trace(spark: SparkSession) {
  private val progress = ArrayBuffer[StreamingQueryProgress]()
  private val jobStart = scala.collection.mutable.Map[Int, Long]()
  private val jobSpans = ArrayBuffer[(Long, Long)]()
  @volatile private var tasks = 0L
  @volatile private var taskCpuNs = 0L
  @volatile private var shuffleBytes = 0L

  private val streams = new StreamingQueryListener {
    override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
    override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
      progress.synchronized { progress += e.progress }
    override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  }
  private val scheduler = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit =
      jobStart.synchronized { jobStart(e.jobId) = System.nanoTime() }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = jobStart.synchronized {
      jobStart.remove(e.jobId).foreach(t0 => jobSpans += ((t0, System.nanoTime())))
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      tasks += 1
      Option(e.taskMetrics).foreach { m =>
        taskCpuNs += m.executorCpuTime
        shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      }
    }
  }

  def attach(): Unit = {
    spark.streams.addListener(streams)
    spark.sparkContext.addSparkListener(scheduler)
  }

  /** Detaches after the listener bus has delivered everything queued. */
  def detach(): Unit = {
    Trace.drainBus(spark)
    spark.streams.removeListener(streams)
    spark.sparkContext.removeSparkListener(scheduler)
  }

  /** Scheduler figures over a window of `wallS` seconds ending now. */
  def scheduler(wallS: Double): Map[String, Double] = jobStart.synchronized {
    // union of job spans: the driver is "gapped" when no job runs
    val merged = jobSpans.sortBy(_._1).foldLeft(List.empty[(Long, Long)]) {
      case ((s, e) :: rest, (s2, e2)) if s2 <= e => (s, math.max(e, e2)) :: rest
      case (acc, span) => span :: acc
    }
    val busyS = merged.map { case (s, e) => e - s }.sum / 1e9
    Map(
      "spark.jobs" -> jobSpans.size.toDouble,
      "spark.tasks" -> tasks.toDouble,
      "driver.gap_s" -> math.max(0.0, wallS - busyS),
      "spark.task_cpu_s" -> taskCpuNs / 1e9,
      "spark.shuffle_write_mb" -> shuffleBytes / 1048576.0)
  }

  /** Engine figures over the batches seen while attached: per-batch
    * medians of the engine phases, batch count, rows per batch, and the
    * growth of batch time from the first to the last quarter of the
    * query that ran the most batches.
    */
  def engine(): Map[String, Double] = progress.synchronized {
    val ran = progress.filter(_.durationMs.containsKey("addBatch")).toVector
    def phase(k: String): Double =
      Stats.median(ran.map(p => Option(p.durationMs.get(k)).map(_.toDouble).getOrElse(0.0)))
    val longest = ran.groupBy(_.runId).values.maxByOption(_.size).getOrElse(Vector.empty)
    Map(
      "engine.batches" -> ran.size.toDouble,
      "engine.rows_per_batch" -> Stats.median(ran.map(_.numInputRows.toDouble)),
      "engine.latestOffset_ms" -> phase("latestOffset"),
      "engine.queryPlanning_ms" -> phase("queryPlanning"),
      "engine.addBatch_ms" -> phase("addBatch"),
      "engine.walCommit_ms" -> phase("walCommit"),
      "engine.commitOffsets_ms" -> phase("commitOffsets"),
      "engine.batch_ms_growth" ->
        Stats.growth(longest.map(_.durationMs.get("triggerExecution").toDouble)))
  }
}

object Trace {
  /** Waits until the listener bus has delivered every queued event. */
  def drainBus(spark: SparkSession): Unit =
    org.apache.spark.PerfbenchListenerBus.drain(spark.sparkContext)
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  def mean(xs: Seq[Double]): Double = if (xs.isEmpty) 0.0 else xs.sum / xs.size
  /** Mean of the last quarter over mean of the first quarter of a series
    * (1 for fewer than four points).
    */
  def growth(xs: Seq[Double]): Double =
    if (xs.size < 4) 1.0
    else mean(xs.takeRight(xs.size / 4)) / mean(xs.take(xs.size / 4))
  /** Linear-interpolated quantile (numpy's default); 0 for no data. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) 0.0
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
}
