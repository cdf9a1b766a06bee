package graft

import org.apache.spark.sql.{ListenerBus, SparkSession}
import org.apache.spark.sql.execution.QueryExecution
import org.apache.spark.sql.util.QueryExecutionListener
import java.util.concurrent.ConcurrentLinkedQueue
import scala.jdk.CollectionConverters._

/** Every plan a body executes. An operator's final DataFrame shows only
  * what is still lazy; its eager actions (persist counts, collects, the
  * closing `localCheckpoint`) ran plans of their own that Spark reports
  * to each `QueryExecutionListener` and then forgets. */
object PlanCapture {

  /** One executed action: its name (`collect`, `localCheckpoint`, …)
    * and its query execution, analyzed through executed plan. */
  final case class Action(name: String, qe: QueryExecution)

  private final class Recorder extends QueryExecutionListener {
    @volatile var sink: Option[ConcurrentLinkedQueue[Action]] = None
    override def onSuccess(funcName: String, qe: QueryExecution, durationNs: Long): Unit =
      sink.foreach(_.add(Action(funcName, qe)))
    override def onFailure(funcName: String, qe: QueryExecution, exception: Exception): Unit = ()
  }

  private val recorders = scala.collection.mutable.Map.empty[SparkSession, Recorder]

  /** Runs `body` and returns its result with every action it executed,
    * in delivery order. The listener bus is drained before the body (so
    * earlier work is not attributed to it) and after (so its last
    * action has been delivered). */
  def apply[T](spark: SparkSession)(body: => T): (T, Seq[Action]) = synchronized {
    val rec = recorders.getOrElseUpdate(spark, {
      val r = new Recorder
      spark.listenerManager.register(r)
      r
    })
    val sink = new ConcurrentLinkedQueue[Action]()
    ListenerBus.drain(spark)
    rec.sink = Some(sink)
    val out = try body finally {
      ListenerBus.drain(spark)
      rec.sink = None
    }
    (out, sink.asScala.toSeq)
  }

  /** The plan of the last `localCheckpoint` a body ran — the operator's
    * pipeline before its result was pinned. */
  def lastCheckpoint[T](spark: SparkSession)(body: => T): (T, QueryExecution) = {
    val (out, actions) = apply(spark)(body)
    val cps = actions.filter(_.name == "localCheckpoint")
    assert(cps.nonEmpty, s"no localCheckpoint ran (actions: ${actions.map(_.name).mkString(", ")})")
    (out, cps.last.qe)
  }
}
