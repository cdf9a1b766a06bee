package graft.obs

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}

import scala.jdk.CollectionConverters._

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.graft.GraftBridge
import org.apache.spark.sql.streaming.{StreamingQueryListener, StreamingQueryProgress}
import org.apache.spark.sql.util.QueryExecutionListener

/** What Spark reports about the work a body runs: its jobs, completed
  * stages, executed actions and streaming progress. Spark delivers
  * these events on an asynchronous listener bus some time after the
  * work that posted them; [[Recorder.apply]] drains that bus before and
  * after the body, so an event belongs to the body exactly when the
  * body posted it, however late it is delivered. */
private[graft] object Recorder {

  /** A job: its id, job group (`SparkContext.setJobGroup`), description
    * (else its final stage's call site), stage count, and the
    * scheduler's start and end times (epoch ms). */
  final case class Job(id: Int, group: Option[String], description: String,
      stages: Int, startMs: Long, endMs: Long) {
    def seconds: Double = (endMs - startMs) / 1e3
  }

  /** A completed stage and the shuffle bytes its tasks wrote and read. */
  final case class Stage(id: Int, shuffleWriteBytes: Long, shuffleReadBytes: Long)

  /** An executed action (`count`, `collect`, `localCheckpoint`, …) and
    * its query execution, analyzed through executed plan. */
  final case class Action(name: String, qe: QueryExecution)

  /** Everything one body ran, each kind in delivery order (jobs by id). */
  final case class Recording(jobs: Seq[Job], stages: Seq[Stage], actions: Seq[Action],
      progress: Seq[StreamingQueryProgress])

  private final class Window {
    val jobs = new ConcurrentHashMap[Int, Job]()
    val stages = new ConcurrentLinkedQueue[Stage]()
    val actions = new ConcurrentLinkedQueue[Action]()
    val progress = new ConcurrentLinkedQueue[StreamingQueryProgress]()
    def recording: Recording = Recording(jobs.values.asScala.toSeq.sortBy(_.id),
      stages.asScala.toSeq, actions.asScala.toSeq, progress.asScala.toSeq)
  }

  /** The open windows of each session, its listeners installed when
    * the entry is made; they add every event to each open window. */
  private val open = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, java.util.Set[Window]]())

  private def install(spark: SparkSession): java.util.Set[Window] = {
    val windows = ConcurrentHashMap.newKeySet[Window]()
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(e: SparkListenerJobStart): Unit = {
        def prop(k: String) = Option(e.properties).flatMap(p => Option(p.getProperty(k)))
        val callSite = e.stageInfos.maxByOption(_.stageId).fold("")(_.name)
        val job = Job(e.jobId, prop("spark.jobGroup.id"),
          prop("spark.job.description").getOrElse(callSite), e.stageInfos.size, e.time, e.time)
        windows.forEach(_.jobs.put(e.jobId, job))
      }
      override def onJobEnd(e: SparkListenerJobEnd): Unit =
        windows.forEach(_.jobs.computeIfPresent(e.jobId, (_, j) => j.copy(endMs = e.time)))
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
        val m = Option(e.stageInfo.taskMetrics)
        val stage = Stage(e.stageInfo.stageId,
          m.fold(0L)(_.shuffleWriteMetrics.bytesWritten),
          m.fold(0L)(_.shuffleReadMetrics.totalBytesRead))
        windows.forEach(_.stages.add(stage))
      }
    })
    spark.listenerManager.register(new QueryExecutionListener {
      override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
        windows.forEach(_.actions.add(Action(funcName, qe)))
      override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
    })
    spark.streams.addListener(new StreamingQueryListener {
      override def onQueryStarted(e: StreamingQueryListener.QueryStartedEvent): Unit = ()
      override def onQueryProgress(e: StreamingQueryListener.QueryProgressEvent): Unit =
        windows.forEach(_.progress.add(e.progress))
      override def onQueryTerminated(e: StreamingQueryListener.QueryTerminatedEvent): Unit = ()
    })
    windows
  }

  /** Runs `body` and returns its result with everything it ran. The
    * session's listeners are installed on its first recording. */
  def apply[T](spark: SparkSession)(body: => T): (T, Recording) = {
    val windows = open.computeIfAbsent(spark, install(_))
    val w = new Window
    GraftBridge.drainListenerBus(spark)
    windows.add(w)
    val out = try body finally {
      GraftBridge.drainListenerBus(spark)
      windows.remove(w)
    }
    (out, w.recording)
  }
}
