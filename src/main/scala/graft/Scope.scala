package graft

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.sql.{Dataset, SparkSession}

/** The cache lifecycle of one operator. Relations registered through
  * [[persist]] are released when the enclosing [[Scope.apply]] body
  * returns or throws, so a failing operator never leaves its inputs
  * cached. An operator that returns data materializes it as the body's
  * last step (`localCheckpoint(true)`), which is why the release can
  * always come after: the result no longer reads the caches. */
private[graft] final class Scope private () {
  private val held = ArrayBuffer.empty[Dataset[_]]

  /** The lazy `ds.persist()` (default storage level), released when
    * the scope ends. */
  def persist[T](ds: Dataset[T]): Dataset[T] = { held += ds; ds.persist() }
}

private[graft] object Scope {

  /** Runs `body`, then unpersists (non-blocking) every relation it
    * registered, also when it throws. Release runs in reverse
    * registration order, so each dependent cache goes before its base. */
  def apply[A](body: Scope => A): A = {
    val s = new Scope
    try body(s) finally s.held.reverseIterator.foreach(_.unpersist())
  }

  /** Runs `body` with `overrides` on the session conf (None = unset)
    * and restores the prior explicit settings after, also on failure.
    * A streaming query runs on the session clone it takes in
    * `start()`, so wrapping just the start pins the stream without the
    * override staying on the session while its batches run. */
  def withConf[T](spark: SparkSession,
      overrides: Seq[(String, Option[String])])(body: => T): T = {
    def put(kv: (String, Option[String])): Unit =
      kv._2.fold(spark.conf.unset(kv._1))(spark.conf.set(kv._1, _))
    val prior = spark.conf.getAll
    overrides.foreach(put)
    try body finally overrides.foreach { case (k, _) => put(k -> prior.get(k)) }
  }
}
