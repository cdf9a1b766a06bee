package graft

import graft.obs.Recorder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.QueryExecution

/** The plan an operator ran before it pinned its result. An operator's
  * final DataFrame shows only what is still lazy; its eager actions
  * (persist counts, collects, the closing `localCheckpoint`) ran plans
  * of their own that only a [[Recorder]] sees. */
object PlanCapture {

  /** The plan of the last `localCheckpoint` a body ran — the operator's
    * pipeline before its result was pinned. */
  def lastCheckpoint[T](spark: SparkSession)(body: => T): (T, QueryExecution) = {
    val (out, rec) = Recorder(spark)(body)
    val cps = rec.actions.filter(_.name == "localCheckpoint")
    assert(cps.nonEmpty, s"no localCheckpoint ran (actions: ${rec.actions.map(_.name).mkString(", ")})")
    (out, cps.last.qe)
  }
}
