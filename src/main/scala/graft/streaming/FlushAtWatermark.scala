package graft.streaming

import org.apache.spark.sql.Encoders
import org.apache.spark.sql.streaming.{ExpiredTimerInfo, OutputMode,
  StatefulProcessorWithInitialState, TTLConfig, TimeMode, TimerValues, ValueState}

/** The emission rule every `transformWithState` operator in [[Streaming]]
  * shares: a key's result is final once the watermark passes its last
  * event (plus `delayMs`), so each key carries ONE event-time timer at
  * `lastSeen + delayMs`, moved only forward as rows arrive, and on
  * firing the key emits its result exactly once and drops all its state.
  *
  * Subclasses supply the state and the fold:
  *   - [[declare]] registers their own state variables;
  *   - [[absorb]] folds a batch's rows into that state and returns the
  *     batch's latest event time (`Long.MinValue` for no rows);
  *   - [[emit]] reads the key's result (strictly: the state is cleared
  *     right after);
  *   - [[clearState]] drops their state.
  *
  * The timer's target lives in the `"tmr"` ValueState, which the base
  * declares after the subclass's variables. Processors that take an
  * initial state seed their own state in `handleInitialState` and set
  * the timer with [[arm]]; the others never receive one, which the
  * default `handleInitialState` enforces. */
private[graft] abstract class FlushAtWatermark[K, I, O, S](delayMs: Long)
    extends StatefulProcessorWithInitialState[K, I, O, S] {

  @transient private var tmr: ValueState[Long] = _

  protected def declare(): Unit
  protected def absorb(key: K, rows: Iterator[I]): Long
  protected def emit(key: K): Seq[O]
  protected def clearState(): Unit

  final override def init(outputMode: OutputMode, timeMode: TimeMode): Unit = {
    declare()
    tmr = getHandle.getValueState[Long]("tmr", Encoders.scalaLong, TTLConfig.NONE)
  }

  /** Moves the key's timer to `t` when that is later than the current
    * one — the only place a timer is registered or deleted. */
  protected final def arm(t: Long): Unit = {
    val prev = if (tmr.exists()) tmr.get() else Long.MinValue
    if (t > prev) {
      if (prev != Long.MinValue) getHandle.deleteTimer(prev)
      getHandle.registerTimer(t)
      tmr.update(t)
    }
  }

  final override def handleInputRows(key: K, rows: Iterator[I],
      timerValues: TimerValues): Iterator[O] = {
    val hi = absorb(key, rows)
    if (hi != Long.MinValue) arm(hi + delayMs)
    Iterator.empty
  }

  final override def handleExpiredTimer(key: K, timerValues: TimerValues,
      expiredTimerInfo: ExpiredTimerInfo): Iterator[O] = {
    val out = emit(key)
    clearState()
    tmr.clear()
    out.iterator
  }

  override def handleInitialState(key: K, initialState: S,
      timerValues: TimerValues): Unit =
    throw new UnsupportedOperationException(
      s"${getClass.getName} takes no initial state")
}

/** One running `Long` per key, merged with `merge` from 0 — the cell of
  * a mergeable sketch (count-min and histogram counters add, HyperLogLog
  * registers take the max). `cell` maps a row to its (event ms,
  * contribution); `out` builds the finalized row. The value lives in the
  * ValueState called `name`. */
private[graft] final class LongCell[K, I, O](name: String,
    merge: (Long, Long) => Long, cell: I => (Long, Long), out: (K, Long) => O)
    extends FlushAtWatermark[K, I, O, Nothing](1L) {

  @transient private var v: ValueState[Long] = _

  protected def declare(): Unit =
    v = getHandle.getValueState[Long](name, Encoders.scalaLong, TTLConfig.NONE)

  protected def absorb(key: K, rows: Iterator[I]): Long = {
    var hi = Long.MinValue
    var acc = if (v.exists()) v.get() else 0L
    rows.foreach { r =>
      val (t, x) = cell(r)
      acc = merge(acc, x); hi = math.max(hi, t)
    }
    v.update(acc)
    hi
  }

  protected def emit(key: K): Seq[O] =
    if (v.exists()) Seq(out(key, v.get())) else Nil

  protected def clearState(): Unit = v.clear()
}
