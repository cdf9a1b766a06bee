package perfbench

import java.lang.management.ManagementFactory
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.Success
import org.apache.spark.metrics.source.CodegenMetrics
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.streaming.StreamingQueryListener
import org.apache.spark.sql.streaming.StreamingQueryListener._
import org.apache.spark.sql.util.QueryExecutionListener

/** The run's recorder. Every run keeps the harness's own spans (query →
  * build / plan / exec / check, set-up phases), which is how the untraced
  * run takes its timings. The traced run (`listen = true`) also registers
  * a SparkListener, a QueryExecutionListener and a StreamingQueryListener
  * on the session, from outside the program. Everything is kept in memory
  * and written out with the run record when the run ends; run.py links
  * jobs to spans, computes self times and sums the layers. */
final class Tracer(spark: SparkSession, val listen: Boolean) {
  private val t0Ns = System.nanoTime()
  private val t0Ms = System.currentTimeMillis()
  /** Wall-clock milliseconds on the harness's monotonic clock. */
  def nowMs: Double = t0Ms + (System.nanoTime() - t0Ns) / 1e6

  private val spans = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val nextId = new java.util.concurrent.atomic.AtomicLong(1)

  /** Records a span that was timed before the tracer existed. */
  def mark(name: String, layer: String, parent: Long, startMs: Double, endMs: Double): Long = {
    val id = nextId.getAndIncrement()
    spans.add(Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
      "start_ms" -> startMs, "end_ms" -> endMs))
    id
  }

  /** Runs `body` inside a span and returns its result; the span is kept
    * even when `body` throws. */
  def span[T](name: String, layer: String, parent: Long, attrs: Map[String, Any] = Map.empty)(
      body: Long => T): T = {
    val id = nextId.getAndIncrement()
    val start = nowMs
    try body(id)
    finally spans.add(Map("id" -> id, "parent" -> parent, "name" -> name, "layer" -> layer,
      "start_ms" -> start, "end_ms" -> nowMs) ++ attrs)
  }

  private val jobs = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stages = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val progress = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val streams = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val actions = new ConcurrentLinkedQueue[Map[String, Any]]()
  private val stageSubmit = new java.util.concurrent.ConcurrentHashMap[Int, Long]()
  private val jobStart = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String, Seq[Int])]()
  private val taskAgg = new java.util.concurrent.ConcurrentHashMap[Int, Array[Double]]()
  private val blockBytes = new java.util.concurrent.ConcurrentHashMap[String, Long]()
  @volatile private var persistBytes = 0L
  @volatile var persistPeakBytes = 0L
  private val persistedBlocks = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  private val sparkListener = new SparkListener {
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      val group = Option(e.properties).map(_.getProperty("spark.jobGroup.id")).orNull
      jobStart.put(e.jobId, (e.time, group, e.stageInfos.map(_.stageId)))
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = {
      val (start, group, stageIds) = jobStart.remove(e.jobId)
      jobs.add(Map("job" -> e.jobId, "group" -> group, "start_ms" -> start, "end_ms" -> e.time,
        "stages" -> stageIds, "ok" -> (e.jobResult == JobSucceeded)))
    }
    override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
      e.stageInfo.submissionTime.foreach(t => stageSubmit.put(e.stageInfo.stageId, t))
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      // [tasks, failed, sched wait ms]
      val a = taskAgg.computeIfAbsent(e.stageId, _ => new Array[Double](3))
      a.synchronized {
        a(0) += 1
        if (e.reason != Success) a(1) += 1
        val sub = stageSubmit.getOrDefault(e.stageId, e.taskInfo.launchTime)
        a(2) += math.max(0L, e.taskInfo.launchTime - sub)
      }
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      val s = e.stageInfo
      val m = s.taskMetrics
      val a = Option(taskAgg.remove(s.stageId)).getOrElse(new Array[Double](3))
      stages.add(Map("stage" -> s.stageId, "attempt" -> s.attemptNumber(),
        "start_ms" -> s.submissionTime.getOrElse(0L), "end_ms" -> s.completionTime.getOrElse(0L),
        "tasks" -> a(0), "tasks_failed" -> a(1), "sched_wait_ms" -> a(2),
        "run_ms" -> (if (m == null) 0L else m.executorRunTime),
        "cpu_ns" -> (if (m == null) 0L else m.executorCpuTime),
        "result_bytes" -> (if (m == null) 0L else m.resultSize),
        "shuffle_write_bytes" -> (if (m == null) 0L else m.shuffleWriteMetrics.bytesWritten),
        "shuffle_read_bytes" -> (if (m == null) 0L else m.shuffleReadMetrics.totalBytesRead),
        "fetch_wait_ms" -> (if (m == null) 0L else m.shuffleReadMetrics.fetchWaitTime),
        "spill_bytes" -> (if (m == null) 0L else m.memoryBytesSpilled + m.diskBytesSpilled),
        "input_bytes" -> (if (m == null) 0L else m.inputMetrics.bytesRead),
        "input_rows" -> (if (m == null) 0L else m.inputMetrics.recordsRead)))
    }
    override def onBlockUpdated(e: SparkListenerBlockUpdated): Unit = {
      val b = e.blockUpdatedInfo
      if (b.blockId.isRDD) Tracer.this.synchronized {
        val key = b.blockId.name
        val size = if (b.storageLevel.isValid) b.memSize + b.diskSize else 0L
        persistBytes += size - blockBytes.getOrDefault(key, 0L)
        if (size > 0) { blockBytes.put(key, size); persistedBlocks.add(key) }
        else blockBytes.remove(key)
        persistPeakBytes = math.max(persistPeakBytes, persistBytes)
      }
    }
  }

  private val qeListener = new QueryExecutionListener {
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      actions.add(Map("func" -> funcName, "end_ms" -> System.currentTimeMillis(),
        "dur_ms" -> durationNs / 1e6, "ok" -> true))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit =
      actions.add(Map("func" -> funcName, "end_ms" -> System.currentTimeMillis(),
        "dur_ms" -> 0.0, "ok" -> false))
  }

  private val streamListener = new StreamingQueryListener {
    override def onQueryStarted(e: QueryStartedEvent): Unit =
      streams.add(Map("run" -> e.runId.toString, "name" -> e.name,
        "start_ms" -> java.time.Instant.parse(e.timestamp).toEpochMilli))
    override def onQueryProgress(e: QueryProgressEvent): Unit = {
      val p = e.progress
      val d = p.durationMs.asScala.map { case (k, v) => k -> v.longValue }.toMap
      val ops = p.stateOperators.toSeq
      progress.add(Map("run" -> p.runId.toString, "batch" -> p.batchId,
        "start_ms" -> java.time.Instant.parse(p.timestamp).toEpochMilli,
        "input_rows" -> p.numInputRows, "duration_ms" -> d,
        "state_rows" -> ops.map(_.numRowsTotal).sum,
        "state_mem_bytes" -> ops.map(_.memoryUsedBytes).sum,
        "state_commit_ms" -> ops.map(_.commitTimeMs).sum,
        "watermark_dropped" -> ops.map(_.numRowsDroppedByWatermark).sum))
    }
    override def onQueryIdle(e: QueryIdleEvent): Unit = ()
    override def onQueryTerminated(e: QueryTerminatedEvent): Unit = ()
  }

  if (listen) {
    spark.sparkContext.addSparkListener(sparkListener)
    spark.listenerManager.register(qeListener)
    spark.streams.addListener(streamListener)
  }

  def drain(): Unit = if (listen) org.apache.spark.sql.perfbench.Internals.drain(spark.sparkContext)

  def record(): Map[String, Any] = {
    drain()
    Map("spans" -> spans.asScala.toSeq.sortBy(_("id").asInstanceOf[Long]), "jobs" -> jobs.asScala.toSeq,
      "stages" -> stages.asScala.toSeq, "progress" -> progress.asScala.toSeq,
      "streams" -> streams.asScala.toSeq, "actions" -> actions.asScala.toSeq,
      "persist_blocks" -> persistedBlocks.size, "persist_peak_bytes" -> persistPeakBytes)
  }

  def close(): Unit = if (listen) {
    spark.sparkContext.removeSparkListener(sparkListener)
    spark.listenerManager.unregister(qeListener)
    spark.streams.removeListener(streamListener)
  }
}

object Tracer {
  /** Cumulative process counters, read before and after each query. */
  def counters(): Map[String, Double] = {
    val gc = ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum
    val ct = CodegenMetrics.METRIC_COMPILATION_TIME
    // the histogram's reservoir keeps every sample until it holds 1028,
    // so the sum of its values is the exact total below that count
    Map("gc_ms" -> gc.toDouble, "compiles" -> ct.getCount.toDouble,
      "compile_ms" -> ct.getSnapshot.getValues.sum.toDouble)
  }
}
