package graft.perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicLong

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{QueryExecution, SparkPlan}
import org.apache.spark.sql.execution.adaptive.AdaptiveSparkPlanHelper
import org.apache.spark.sql.execution.exchange.{BroadcastExchangeLike, ShuffleExchangeLike}
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.util.QueryExecutionListener
import org.apache.spark.storage.BlockId

/** One span: a call the benchmark made into a layer. Times are
  * nanoseconds since the run started; `parent` 0 is the root. */
final case class Span(id: Long, parent: Long, name: String, startNs: Long, endNs: Long)

/** In-memory span recorder. Disabled, `span` is a plain call, so the
  * untraced run pays nothing for it. Spans are written once, at the end. */
final class Tracer(val enabled: Boolean, val runId: String) {
  private val t0 = System.nanoTime()
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicLong(0)
  private val current = new ThreadLocal[java.lang.Long] {
    override def initialValue(): java.lang.Long = 0L
  }

  /** The innermost open span on this thread (0 when none). */
  def currentId: Long = current.get()

  /** Run `f` as a span; `parent` links spans that start on another
    * thread (the streaming batch thread, the executor task threads). */
  def span[A](name: String, parent: Long = -1L)(f: => A): A =
    if (!enabled) f
    else {
      val id = ids.incrementAndGet()
      val saved = current.get()
      current.set(id)
      val start = System.nanoTime()
      try f
      finally {
        spans.add(Span(id, if (parent >= 0) parent else saved, name,
          start - t0, System.nanoTime() - t0))
        current.set(saved)
      }
    }

  /** Record a span whose interval was measured elsewhere. */
  def record(name: String, parent: Long, startNs: Long, endNs: Long): Unit =
    if (enabled) spans.add(Span(ids.incrementAndGet(), parent, name, startNs - t0, endNs - t0))

  def count: Int = spans.size

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val w = java.nio.file.Files.newBufferedWriter(path)
    try spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      w.write(s"""{"run":"$runId","id":${s.id},"parent":${s.parent},"name":"${s.name}","start_ns":${s.startNs},"end_ns":${s.endNs}}""")
      w.newLine()
    } finally w.close()
  }
}

/** Per-layer counters collected from Spark's public listener interfaces
  * while the measured window runs: task metrics per stage (split into the
  * connector's map and result stages by a job property the benchmark sets
  * around `TopicSink.writeOrdered`), query phase times from
  * `QueryExecution.tracker`, exchange counts from the executed plans,
  * micro-batch progress, and cached block bytes. */
final class LayerListener extends SparkListener {
  import LayerListener._

  private val stageSubmit = mutable.Map.empty[Int, Long]
  private val connectorStages = mutable.Set.empty[Int]
  val exec = new TaskSums
  val connectorMap = new TaskSums
  val connectorResult = new TaskSums
  var jobs = 0L
  var stages = 0L
  private val blocks = mutable.Map.empty[BlockId, Long]
  private var cached = 0L
  var cachedPeak = 0L

  override def onJobStart(e: SparkListenerJobStart): Unit = synchronized {
    jobs += 1
    val layer = Option(e.properties).flatMap(p => Option(p.getProperty(LayerProperty)))
    if (layer.contains("connector")) connectorStages ++= e.stageIds
  }

  override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit = synchronized {
    stageSubmit(e.stageInfo.stageId) =
      e.stageInfo.submissionTime.getOrElse(System.currentTimeMillis())
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit = synchronized {
    stages += 1
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = synchronized {
    val m = e.taskMetrics
    if (m != null) {
      val wait = stageSubmit.get(e.stageId).map(s => (e.taskInfo.launchTime - s).max(0L)).getOrElse(0L)
      exec.add(m, wait)
      if (connectorStages.contains(e.stageId)) {
        if (e.taskType == "ResultTask") connectorResult.add(m, wait) else connectorMap.add(m, wait)
      }
    }
  }

  override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = synchronized {
    val info = e.blockUpdatedInfo
    val size = if (info.storageLevel.isValid) info.memSize + info.diskSize else 0L
    cached += size - blocks.getOrElse(info.blockId, 0L)
    if (size > 0) blocks(info.blockId) = size else blocks.remove(info.blockId)
    cachedPeak = cachedPeak.max(cached)
  }
}

object LayerListener {
  /** Job property naming the layer whose call submitted the job. */
  val LayerProperty = "perfbench.layer"

  final class TaskSums {
    var tasks, runMs, cpuNs, gcMs, waitMs, shuffleRead, shuffleWrite, spill = 0L
    def add(m: org.apache.spark.executor.TaskMetrics, wait: Long): Unit = {
      tasks += 1
      runMs += m.executorRunTime
      cpuNs += m.executorCpuTime
      gcMs += m.jvmGCTime
      waitMs += wait
      shuffleRead += m.shuffleReadMetrics.totalBytesRead
      shuffleWrite += m.shuffleWriteMetrics.bytesWritten
      spill += m.diskBytesSpilled
    }
  }
}

/** Query phase times and exchange counts for every query that runs. */
final class PhaseListener extends QueryExecutionListener with AdaptiveSparkPlanHelper {
  val phaseMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var executionNs = 0L
  var broadcasts = 0L
  var shuffles = 0L

  override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
    synchronized {
      qe.tracker.phases.foreach { case (phase, s) => phaseMs(phase) += s.durationMs }
      executionNs += durationNs
      val plan: SparkPlan = qe.executedPlan
      broadcasts += collectWithSubqueries(plan) { case b: BroadcastExchangeLike => b }.size
      shuffles += collectWithSubqueries(plan) { case s: ShuffleExchangeLike => s }.size
    }

  override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
}

/** Micro-batch progress of every streaming query: duration split, batch
  * count and input rows. */
final class ProgressListener extends StreamingQueryListener {
  val durationMs = mutable.Map.empty[String, Long].withDefaultValue(0L)
  var batches = 0L
  var rows = 0L

  override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
  override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
  override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit = synchronized {
    val p = e.progress
    if (p.numInputRows > 0) {
      batches += 1
      rows += p.numInputRows
      p.durationMs.asScala.foreach { case (k, v) => durationMs(k) += v.longValue }
    }
  }
}

/** The three listeners, attached for the measured window only. */
final class Listeners(spark: SparkSession) {
  val layer = new LayerListener
  val phases = new PhaseListener
  val progress = new ProgressListener
  spark.sparkContext.addSparkListener(layer)
  spark.listenerManager.register(phases)
  spark.streams.addListener(progress)

  /** Wait until every posted event reached the listeners. */
  def drain(): Unit = org.apache.spark.PerfbenchBus.drain(spark.sparkContext)
}
