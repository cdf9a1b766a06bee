package graft.streaming

import graft.Scope
import graft.operators.{Reference, Transaction}
import org.apache.spark.sql.{DataFrame, Dataset, Encoders, SparkSession}
import org.apache.spark.sql.functions.{broadcast => _, _}
import org.apache.spark.sql.streaming.{GroupState, GroupStateTimeout, ListState, MapState,
  OutputMode, StreamingQuery, TTLConfig, TimeMode, TimerValues, ValueState}

/** Per-user fraud-rule state: in-window debit event times + amounts.
  * Top-level (public) so Spark's state-encoder codegen can reach it. */
final case class DebitState(times: Array[Long], amounts: Array[Double])

/** One [[Streaming.runningBalanceTtl]] output row: the balance after a
  * batch's updates, or the final balance as its state is TTL-evicted. */
final case class BalanceUpdate(user_id: Int, balance: Double, evicted: Boolean)

/** [[Streaming.runningBalanceTtl]] state: the balance plus the TTL
  * anchor (max event time ever seen for the user — monotone, so an
  * out-of-order batch can never SHORTEN an armed timeout). */
final case class BalanceState(balance: Double, lastSeen: Long)

/** [[Streaming.streamBalance]] state: integer running totals plus the
  * max event time seen (the event-time-timeout anchor). */
final case class ReplayAcc(n: Long, cents: Long, lastSeenMs: Long)

/** [[Streaming.streamRateLimit]] state: buffered (ts_ms, event_id)
  * arrivals awaiting their in-order admission replay, plus the timeout
  * anchor. Bounded by the watermark horizon, not stream length. */
final case class RateBufState(tsMs: Array[Long], ids: Array[Long], lastSeenMs: Long)

/** One [[Streaming.streamRateLimit]] verdict row per user. */
final case class RateVerdict(user_id: Long, n_events: Long, n_admitted: Long,
  n_throttled: Long, final_tokens_ms: Long)

/** One [[Streaming.streamBalance]] output row: a user's FINAL totals,
  * emitted exactly once when the watermark passes their last event. */
final case class ReplayBalance(user_id: Long, n: Long, cents: Long)

/** [[Streaming.streamFunnel]] state: buffered (ts_ms, stage-code)
  * arrivals awaiting the watermark-timeout finalization. Bounded by
  * the watermark horizon, not stream length. */
final case class FunnelBufState(tsMs: Array[Long], kind: Array[Int], lastSeenMs: Long)

/** One [[Streaming.streamFunnel]] verdict row per user: the strict
  * event-time funnel progression (−1 = stage not reached). */
final case class FunnelVerdict(user_id: Long, n_events: Long, stage: Long,
  view_ms: Long, click_ms: Long, purchase_ms: Long)

/** [[Streaming.streamSessionsTws]] buffered event: ONE ListState element
  * per in-flight event awaiting session finalization — the append-only
  * state shape (`appendList` is O(batch rows) per batch; the ValueState
  * alternative rewrites the whole growing buffer blob every batch). */
final case class SessEv(tsMs: Long, cents: Long)

/** One finalized session row per (user, gap-island) — the same schema
  * [[Streaming.streamSessions]]' session_window aggregation emits. */
final case class SessionRowTws(sess_start_ms: Long, user_id: Long, n: Long,
  cents: Long)

/** [[Streaming.streamLedgerTws]] running aggregate: one MapState entry
  * per (user, event_type) — point-updated in place per arriving row. */
final case class TypeAgg(n: Long, cents: Long)

/** One [[Streaming.streamLedgerTws]] row per (user, event_type), emitted
  * exactly once when the watermark passes the user's last event. */
final case class LedgerRowTws(user_id: Long, event_type: String, n: Long,
  cents: Long)

/** [[Streaming.streamKmv]] state: the k smallest distinct 60-bit user
  * hashes seen for an event type — a bottom-k (KMV) distinct sketch.
  * Bounded at k longs per key BY CONSTRUCTION, which is the whole
  * point: distinct-user state that never grows with distinct users. */
final case class KmvState(hs: Array[Long])

/** One [[Streaming.streamKmv]] row per event type, emitted exactly once
  * when the watermark passes the type's last event: the sketch size,
  * and the k-th minimum hash when the sketch filled (None ⇒ the sketch
  * holds EVERY distinct hash and the count is exact). */
final case class KmvRow(event_type: String, n_min: Long, kth_hash: Option[Long])

/** One finalized [[Streaming.streamCms]] counter cell, emitted exactly
  * once per (row, bucket) key when the watermark passes its last
  * update — together the cells ARE the count-min sketch. */
final case class CmsCell(i: Int, bucket: Long, c: Long)

/** One finalized [[Streaming.streamHll]] register, emitted exactly once
  * per (metric, register) key when the watermark passes its last
  * update — together the registers ARE the HyperLogLog sketch. */
final case class HllReg(metric: String, reg: Long, mx: Long)

/** One finalized [[Streaming.streamQuantile]] histogram cell, emitted
  * exactly once per value bin when the watermark passes its last
  * update — together the cells ARE the quantile histogram. */
final case class QBin(bin: Long, cnt: Long)

/** One (event_type → history totals) entry of a user's pre-cutoff
  * batch ledger, carried into [[Streaming.streamLedgerInit]]'s initial
  * state (sorted array, so the seed is deterministic). */
final case class LedgerInitEntry(t: String, n: Long, c: Long)

/** [[Streaming.streamLedgerInit]] initial state: one pre-aggregated
  * row per user — the batch history's per-type totals plus the
  * history's last event time (the timer anchor for history-only
  * users, who must still emit a ledger). */
final case class LedgerInitState(rows: Array[LedgerInitEntry], lastSeenMs: Long)

/** Structured Streaming realization of the reference's monitoring intent
  * (SURVEY.md §7 L3): the reference's unbounded in-memory `Vec` ingest
  * loop (`monitoring-service/src/main.rs:25,33-38`) becomes checkpointed,
  * watermark-evicted streaming state.
  *
  * Scale design: every aggregation here is keyed (currency / user_id /
  * transaction_id), so state partitions across executors; watermarks
  * bound state size; `flatMapGroupsWithState` state is per-key and
  * timeout-evicted — nothing grows with total stream length, unlike the
  * reference's `Vec` (its store grows without bound, `main.rs:25`).
  */
object Streaming {

  /** Schema-bound streaming JSON file source (the file-drop analog of
    * the reference's POST /transactions ingest, O5/O7). Output carries
    * both metadata forms (Reference.decode — SURVEY §1.3 duality). */
  def fileIngest(spark: SparkSession, dir: String): DataFrame =
    Reference.decode(spark.readStream.schema(Reference.wireSchema).json(dir))

  /** Kafka-shaped ingest: a stream of raw JSON `value` strings (what a
    * Kafka source emits) parsed against the wire schema. */
  def kafkaShapedIngest(raw: DataFrame): DataFrame =
    Reference.decode(
      raw.select(from_json(col("value"), Reference.wireSchema).as("t"))
        .select(col("t.*")))

  /** Source options for [[kafkaIngest]], factored out pure so they are
    * unit-testable without a broker or the connector jar. */
  def kafkaOptions(bootstrap: String, topic: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty): Map[String, String] =
    Map(
      "kafka.bootstrap.servers" -> bootstrap,
      "subscribe" -> topic,
      "startingOffsets" -> startingOffsets) ++ extra

  /** Real Kafka source: `readStream.format("kafka")` → byte `value` cast
    * to string → [[kafkaShapedIngest]] wire decode. This is the
    * production constructor for BASELINE.md's stated approach
    * ("Structured Streaming + Kafka source"). The spark-sql-kafka
    * connector is a RUNTIME (Provided-style) dependency — it is not
    * bundled here and no broker exists in the dev sandbox, so coverage
    * is compile-level plus unit tests on the option plumbing and on the
    * missing-connector error (see StreamingSpec and README). */
  def kafkaIngest(spark: SparkSession, bootstrap: String, topic: String,
      startingOffsets: String = "earliest",
      extra: Map[String, String] = Map.empty): DataFrame =
    kafkaShapedIngest(
      spark.readStream.format("kafka")
        .options(kafkaOptions(bootstrap, topic, startingOffsets, extra))
        .load()
        .selectExpr("CAST(value AS STRING) AS value"))

  /** Loopback TCP socket ingest — the wire-level end-to-end exercise of
    * the [[kafkaIngest]] decode path in environments without the
    * connector jar or a broker (this sandbox ships NEITHER: no kafka
    * artifact exists anywhere on the image, and there is no network
    * egress to fetch one, so an embedded-broker test cannot even
    * compile here). Spark's socket source emits the same
    * one-string-`value`-per-record relation a Kafka source does, so
    * everything downstream of the source — [[kafkaShapedIngest]]'s
    * from_json wire decode, the metadata duality, the timestamp parse,
    * the windowed aggregates — runs over a REAL network byte stream,
    * end-to-end (StreamingSpec drives the reference's own 20-row
    * `mock_transactions.json` fixture through it and asserts parity
    * with the batch file path).
    *
    * NOT a production source: the socket source has no offsets and no
    * replay (explicitly fault-intolerant in Spark's docs). Production
    * uses [[kafkaIngest]]; the two share every line after `.load()`. */
  def socketIngest(spark: SparkSession, host: String, port: Int): DataFrame =
    kafkaShapedIngest(
      spark.readStream.format("socket")
        .option("host", host).option("port", port).load())

  /** Tumbling/sliding per-currency volume with watermarked event time.
    * Late data beyond the watermark is dropped (vs the reference, which
    * has no notion of event time at all — timestamps are opaque strings,
    * `main.go:17`). */
  def windowedVolume(txns: DataFrame, watermark: String = "10 minutes",
      window_ : String = "5 minutes", slide: Option[String] = None): DataFrame = {
    val w = slide.map(s => window(col("timestamp"), window_, s))
      .getOrElse(window(col("timestamp"), window_))
    txns.withWatermark("timestamp", watermark)
      .groupBy(w.as("win"), col("currency"))
      .agg(count(lit(1)).as("n_txns"), sum(col("amount")).as("volume"))
      .select(col("win.start").as("win_start"), col("currency"),
        col("n_txns"), col("volume"))
  }

  /** Per-user session windows (5-minute inactivity gap). */
  def sessionVolume(txns: DataFrame, gap: String = "5 minutes",
      watermark: String = "10 minutes"): DataFrame =
    txns.withWatermark("timestamp", watermark)
      .groupBy(session_window(col("timestamp"), gap).as("sess"), col("user_id"))
      .agg(count(lit(1)).as("n_txns"), sum(col("amount")).as("volume"))
      .select(col("sess.start").as("sess_start"), col("sess.end").as("sess_end"),
        col("user_id"), col("n_txns"), col("volume"))

  /** Streaming exact dedup on transaction_id within the watermark — the
    * explicit opt-in the reference lacks (SURVEY.md §2.1.5).
    * `dropDuplicatesWithinWatermark` (not plain `dropDuplicates`, whose
    * state is only evicted when an EVENT-TIME column is among the keys
    * — an id-only key would grow state forever): state holds one entry
    * per id inside the watermark horizon and ids are re-admittable
    * after it expires. */
  def dedupStream(txns: DataFrame, watermark: String = "10 minutes"): DataFrame =
    txns.withWatermark("timestamp", watermark)
      .dropDuplicatesWithinWatermark("transaction_id")

  /** Double-submit guard: drop transactions whose PAYLOAD
    * (user/amount/currency/type) repeats within the watermark even
    * under a fresh transaction_id — the failure mode id-keyed dedup
    * cannot catch (a client retry that regenerates its id). The hash
    * goes through `to_json(struct(...))` so null fields serialize
    * explicitly — `concat_ws` would SKIP nulls and collide distinct
    * payloads (null currency vs null type). Watermark-bounded state,
    * same eviction mechanics as [[dedupStream]]; a genuine re-purchase
    * after the horizon is admitted again.
    *
    * FALSE-POSITIVE bound: with `bucketMs = 0` (default) TWO GENUINELY
    * DISTINCT transactions with identical payloads inside the watermark
    * horizon (e.g. two legitimate same-amount credits by one user
    * minutes apart) are dropped as double-submits — the guard cannot
    * distinguish them from a retry. Setting `bucketMs > 0` folds the
    * event-time bucket `floor(event_millis / bucketMs)` into the hash
    * so only near-instant repeats collide and a later legitimate
    * repeat (next bucket) is admitted; the residual caveat is a retry
    * that straddles a bucket boundary slips through (caught by the
    * id-keyed [[dedupStream]] when the client reuses its id). */
  def dedupPayloadStream(txns: DataFrame, watermark: String = "10 minutes",
      bucketMs: Long = 0L): DataFrame = {
    val payload = struct(col("user_id"), col("amount"), col("currency"), col("type"))
    val hashed =
      if (bucketMs > 0)
        struct(payload.as("p"),
          (unix_millis(col("timestamp")) / lit(bucketMs)).cast("long").as("bucket"))
      else payload
    txns.withWatermark("timestamp", watermark)
      .withColumn("payload_hash",
        md5(to_json(hashed, Map("ignoreNullFields" -> "false"))))
      .dropDuplicatesWithinWatermark("payload_hash")
  }

  /** Streaming sibling of `Monitoring.structuring` (AML smurfing):
    * raise a flag when one user books >= `minTxns` just-below-threshold
    * transactions inside one event-time window summing past `minTotal`.
    * Pure windowed aggregation — the band filter runs AFTER the
    * watermark declaration but BEFORE the stateful aggregation, so
    * EVERY event advances the watermark (a band filter below the
    * watermark node would let out-of-band-only traffic stall window
    * finalization and state eviction forever) while state still holds
    * only (window, user) partials for in-band traffic; flags finalize
    * (Append mode) once the watermark passes the window, i.e. a flag
    * is never retracted. */
  def structuringFlags(txns: DataFrame, lo: Double = 50.0, hi: Double = 100.0,
      minTxns: Long = 3L, minTotal: Double = 150.0,
      watermark: String = "1 hour", window_ : String = "1 day"): DataFrame =
    txns.withWatermark("timestamp", watermark)
      .filter(col("amount") >= lo && col("amount") < hi)
      .groupBy(window(col("timestamp"), window_).as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_sub"), round(sum(col("amount")), 2).as("sum_sub"))
      .filter(col("n_sub") >= minTxns && col("sum_sub") >= minTotal)
      .select(col("win.start").as("win_start"), col("user_id"),
        col("n_sub"), col("sum_sub"))

  /** Streaming count-min sketch maintenance: the d×w counter cells of
    * `Sketches.cmsHeavyHitters` as a windowed streaming aggregation.
    * Cells are plain sums, so Spark's incremental state update IS the
    * sketch merge — state is bounded at d×w cells per open window
    * (1024 here) no matter the stream rate, and a finalized window's
    * counters are IDENTICAL to the batch sketch over the same events
    * (spec-asserted). Probing amounts against the emitted counters is
    * the same equi-join as the batch path. */
  def cmsCounters(txns: DataFrame, depth: Int = 4, width: Int = 256,
      watermark: String = "10 minutes", window_ : String = "5 minutes"): DataFrame =
    txns.select(col("timestamp"), floor(col("amount")).cast("long").as("amt"))
      .select(col("timestamp"), col("amt"),
        explode(array((0 until depth).map(lit): _*)).as("i"))
      .withColumn("bucket", pmod(
        graft.functions.TextHash.hash60(
          concat(col("i").cast("string"), lit("|"), col("amt").cast("string"))),
        lit(width.toLong)))
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), window_).as("win"), col("i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
      .select(col("win.start").as("win_start"), col("i"), col("bucket"), col("c"))

  /** Streaming HyperLogLog register maintenance: the m registers of
    * `Sketches.hllDistinct` as a windowed streaming aggregation over
    * user ids. `max(rho)` is idempotent AND commutative, so replayed or
    * out-of-order rows can never corrupt a register — the property that
    * makes HLL (not exact distinct, whose state is O(distinct keys))
    * the streaming cardinality primitive. State is bounded at m
    * register cells per open window regardless of stream rate, and a
    * finalized window's registers are IDENTICAL to the batch sketch
    * over the same events (spec-asserted — same discipline as
    * [[cmsCounters]]). The estimate reconstructs downstream from the
    * emitted registers exactly as in the batch operator. */
  def hllRegisters(txns: DataFrame, m: Int = 64,
      watermark: String = "10 minutes", window_ : String = "5 minutes"): DataFrame =
    txns.select(col("timestamp"), col("user_id").cast("string").as("v"))
      .withColumn("h", graft.functions.TextHash.hash60(col("v")))
      .withColumn("reg", pmod(col("h"), lit(m.toLong)))
      .withColumn("rest", expr(s"h div $m"))
      .withColumn("rho", when(col("rest") === 0L, lit(53L))
        .otherwise(length(bin(expr("rest & -rest"))).cast("long")))
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), window_).as("win"), col("reg"))
      .agg(max(col("rho")).as("mx"))
      .select(col("win.start").as("win_start"), col("reg"), col("mx"))

  /** Streaming amount-histogram maintenance — the cent bins of
    * `Monitoring.psiDrift` as a windowed streaming aggregation. Bin
    * counts are plain sums, so the incremental state update IS the
    * histogram merge: state is bounded at `nBins` cells per open
    * window at any stream rate, and a finalized window's histogram is
    * IDENTICAL to batch-binning the same events (spec-asserted, the
    * [[cmsCounters]] discipline). [[psiVsReference]] turns the emitted
    * histograms into the drift gate. */
  def amountHistogram(txns: DataFrame, nBins: Int = 10, binCents: Long = 5000L,
      watermark: String = "10 minutes", window_ : String = "5 minutes"): DataFrame =
    txns.select(col("timestamp"),
        least(expr(s"cast(floor(amount * 100 + 0.5) as bigint) div $binCents"),
          lit(nBins - 1L)).as("bin"))
      .withWatermark("timestamp", watermark)
      .groupBy(window(col("timestamp"), window_).as("win"), col("bin"))
      .agg(count(lit(1)).as("n"))
      .select(col("win.start").as("win_start"), col("bin"), col("n"))

  /** PSI of each emitted window histogram against a reference
    * histogram (bin, n) — the batch post-processing of
    * [[amountHistogram]]'s sink that closes the streaming drift loop:
    * reference = last month's (or the training corpus's) amount
    * distribution, each closed window scores against it, and the
    * alert threshold (conventionally 0.2) is applied downstream.
    *
    * Same determinism discipline as `Monitoring.psiDrift`: both sides
    * densify to all `nBins` Laplace-smoothed bins, shares divide exact
    * integers, per-bin terms floor to 1e-8-scaled BIGINTs before the
    * per-window sum. The reference is tiny (nBins rows) and
    * broadcasts; the per-window work is a window over ≤ nBins rows. */
  def psiVsReference(hist: DataFrame, ref: DataFrame, nBins: Int = 10): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    def densify(df: DataFrame, keys: Seq[String]): DataFrame = {
      // the grid derives FROM df; aliased projections give it fresh
      // attribute ids so the left join back is not a conflicting self-join
      val grid = df.select(keys.map(k => col(k).as(s"g_$k")): _*).distinct()
        .withColumn("g_bin", explode(sequence(lit(0L), lit(nBins - 1L))))
      val cond = (keys.map(k => col(s"g_$k") === col(k)) :+
        (col("g_bin") === col("bin"))).reduce(_ && _)
      grid.join(df, cond, "left")
        .select((keys.map(k => col(s"g_$k").as(k)) :+ col("g_bin").as("bin") :+
          coalesce(col("n"), lit(0L)).as("n")): _*)
        .withColumn("n_tot", sum(col("n")).over(Window.partitionBy(keys.map(col): _*)))
        .withColumn("p", (col("n") + 1) / (col("n_tot") + nBins))
    }
    val cur = densify(hist.select(col("win_start"), col("bin"), col("n")), Seq("win_start"))
      .select(col("win_start"), col("bin"), col("p").as("p_cur"))
    val refP = densify(ref.select(lit(0).as("one"), col("bin"), col("n")), Seq("one"))
      .select(col("bin"), col("p").as("p_ref"))
    cur.join(org.apache.spark.sql.functions.broadcast(refP), "bin")
      .select(col("win_start"),
        floor((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref")) * 1e8)
          .cast("long").as("term_scaled"))
      .groupBy(col("win_start"))
      .agg(graft.functions.Portable.trunc4(sum(col("term_scaled")) / 1e8).as("psi"))
  }

  /** Per-user last-touch carry for [[attributionStream]]. */
  final case class TouchState(touchId: String, touchType: String, touchMs: Long)

  /** A streaming attribution credit. */
  final case class AttributionHit(user_id: Int, purchase_id: String,
      purchase_ms: Long, last_touch_id: String, last_touch_type: String,
      mins_since_last: Long)

  /** Streaming last-touch attribution — the L3 mirror of the batch
    * `SqlCoverage.attribution` window carry: per-user state holds ONLY
    * the latest touch (O(1) per user, unlike the fraud rule's window
    * arrays), each purchase emits a credit against it when inside the
    * lookback, and state evicts by event-time timeout once the
    * watermark passes the lookback horizon. Within a batch events
    * apply in (event-time, id) order; across batches the watermark
    * contract bounds disorder — a touch arriving later than the
    * watermark is dropped exactly like any late row. */
  def attributionStream(spark: SparkSession, txns: Dataset[Transaction],
      lookbackMs: Long = 7L * 86400000L,
      watermark: String = "10 minutes"): Dataset[AttributionHit] = {
    import spark.implicits._
    val kinds = Set("click", "view", "purchase")
    txns.filter(t => t.`type`.exists(kinds))
      .withWatermark("timestamp", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[TouchState, AttributionHit](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Int, rows: Iterator[Transaction], state: GroupState[TouchState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val incoming = rows.toList
              .sortBy(t => (t.timestamp.getTime, t.transaction_id))
            var st = state.getOption
            val hits = incoming.flatMap { t =>
              val ms = t.timestamp.getTime
              if (t.`type`.contains("purchase")) {
                st.filter(s => ms >= s.touchMs && ms - s.touchMs <= lookbackMs)
                  .map(s => AttributionHit(user, t.transaction_id, ms,
                    s.touchId, s.touchType, (ms - s.touchMs) / 60000L))
              } else {
                st = Some(TouchState(t.transaction_id, t.`type`.get, ms))
                None
              }
            }
            // evict once the watermark passes the touch's credit horizon
            // (touch event time + lookback) — NOT watermark+lookback,
            // which on the first batch (watermark 0) would expire the
            // state the moment the watermark advances
            st match {
              case Some(s) if s.touchMs + lookbackMs > state.getCurrentWatermarkMs() =>
                state.update(s)
                state.setTimeoutTimestamp(s.touchMs + lookbackMs + 1)
              case _ => if (state.exists) state.remove()
            }
            hits.iterator
          }
      }
  }

  /** A raised fraud flag. */
  final case class FraudFlag(user_id: Int, n_debits: Long, window_start: Long,
      window_end: Long, total_amount: Double)

  /** Stateful fraud rule: more than `maxDebits` debits from one user
    * within `windowMs` raises a flag. Implemented with
    * flatMapGroupsWithState: per-user state holds only the in-window
    * debit timestamps and is evicted via event-time timeout, so state is
    * O(users × window density), not O(stream). */
  def fraudFlags(spark: SparkSession, txns: Dataset[Transaction],
      maxDebits: Int = 3, windowMs: Long = 600000L): Dataset[FraudFlag] = {
    import spark.implicits._
    txns.filter(t => t.`type`.contains("debit"))
      .withWatermark("timestamp", "10 minutes")
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[DebitState, FraudFlag](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Int, rows: Iterator[Transaction], state: GroupState[DebitState]) =>
          if (state.hasTimedOut) {
            state.remove()
            Iterator.empty
          } else {
            val prev = state.getOption.getOrElse(DebitState(Array.empty, Array.empty))
            val incoming = rows.toList.sortBy(_.timestamp.getTime)
            var times = prev.times
            var amounts = prev.amounts
            val flags = incoming.flatMap { t =>
              val now = t.timestamp.getTime
              val keep = times.zip(amounts).filter(_._1 > now - windowMs)
              times = keep.map(_._1) :+ now
              amounts = keep.map(_._2) :+ t.amount
              if (times.length > maxDebits)
                Some(FraudFlag(user, times.length.toLong, times.min, now, amounts.sum))
              else None
            }
            state.update(DebitState(times, amounts))
            state.setTimeoutTimestamp(state.getCurrentWatermarkMs() + windowMs + 1)
            flags.iterator
          }
      }
  }

  /** Running per-user balance (credits − debits) via mapGroupsWithState:
    * the streaming sibling of Analytics.runningTotals.
    *
    * State bound: `NoTimeout` ⇒ state is **O(distinct users ever
    * seen)** — a running balance must remember every open account, and
    * that set grows with the user space (NOT with stream length). When
    * the user space itself is unbounded, or balances for dormant users
    * can be reloaded from a store on return, use [[runningBalanceTtl]]
    * — same arithmetic, state TTL-evicted on event-time. */
  def runningBalance(spark: SparkSession, txns: Dataset[Transaction]): Dataset[(Int, Double)] = {
    import spark.implicits._
    txns.groupByKey(_.user_id)
      .mapGroupsWithState[Double, (Int, Double)](GroupStateTimeout.NoTimeout()) {
        (user: Int, rows: Iterator[Transaction], state: GroupState[Double]) =>
          val delta = rows.map(t =>
            if (t.`type`.contains("debit")) -t.amount else t.amount).sum
          val bal = state.getOption.getOrElse(0.0) + delta
          state.update(bal)
          (user, bal)
      }
  }

  /** [[runningBalance]] with bounded state: per-user state is evicted
    * `ttlMs` of EVENT time after the user's last transaction, emitting a
    * final `evicted = true` row (the hook where production would flush
    * the balance to a store for reload on the user's return). State is
    * O(users active within the TTL horizon) instead of O(users ever
    * seen). */
  def runningBalanceTtl(spark: SparkSession, txns: Dataset[Transaction],
      ttlMs: Long = 3600000L, watermark: String = "10 minutes"): Dataset[BalanceUpdate] = {
    import spark.implicits._
    txns.withWatermark("timestamp", watermark)
      .groupByKey(_.user_id)
      .flatMapGroupsWithState[BalanceState, BalanceUpdate](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout()) {
        (user: Int, rows: Iterator[Transaction], state: GroupState[BalanceState]) =>
          if (state.hasTimedOut) {
            val bal = state.getOption.map(_.balance).getOrElse(0.0)
            state.remove()
            Iterator.single(BalanceUpdate(user, bal, evicted = true))
          } else {
            val incoming = rows.toList
            val delta = incoming.map(t =>
              if (t.`type`.contains("debit")) -t.amount else t.amount).sum
            val prev = state.getOption.getOrElse(BalanceState(0.0, Long.MinValue))
            // TTL anchors on the user's OWN max event time, kept in
            // state so an OUT-OF-ORDER (but non-late) event can never
            // shorten an armed timeout (the first batch's watermark is
            // still epoch-0, so anchoring on the watermark would arm an
            // already-expired one); the outer max() keeps the timestamp
            // legal when the anchor trails just above the watermark
            val lastSeen = math.max(prev.lastSeen,
              incoming.map(_.timestamp.getTime).max)
            state.update(BalanceState(prev.balance + delta, lastSeen))
            state.setTimeoutTimestamp(
              math.max(lastSeen + ttlMs, state.getCurrentWatermarkMs() + 1))
            Iterator.single(BalanceUpdate(user, prev.balance + delta, evicted = false))
          }
      }
  }

  /** Stream-static enrichment: the live transaction stream joined to a
    * static dimension (e.g. a user table). Static side broadcasts per
    * micro-batch; no streaming state needed. */
  def enrichWithStatic(txns: DataFrame, dim: DataFrame, key: String = "user_id"): DataFrame =
    txns.join(org.apache.spark.sql.functions.broadcast(dim), key)

  /** Stream-stream join: each debit matched to same-user credits within
    * the preceding hour. Both sides are watermarked and the join
    * condition bounds event time, so state for both streams is evicted
    * once the watermark passes — the canonical bounded-state
    * stream-stream join. */
  def debitCreditJoin(txns: DataFrame): DataFrame = {
    val debits = txns.filter(col("type") === "debit")
      .select(col("transaction_id").as("debit_id"), col("user_id"),
        col("amount").as("debit_amount"), col("timestamp").as("debit_ts"))
      .withWatermark("debit_ts", "10 minutes")
    val credits = txns.filter(col("type") === "credit")
      .select(col("transaction_id").as("credit_id"), col("user_id").as("c_user_id"),
        col("amount").as("credit_amount"), col("timestamp").as("credit_ts"))
      .withWatermark("credit_ts", "10 minutes")
    debits.join(credits,
      col("user_id") === col("c_user_id") &&
        col("credit_ts") <= col("debit_ts") &&
        col("credit_ts") >= col("debit_ts") - expr("INTERVAL 1 HOUR"))
      .select(col("debit_id"), col("credit_id"), col("user_id"),
        col("debit_amount"), col("credit_amount"), col("debit_ts"), col("credit_ts"))
  }

  /** Streaming CDC-apply: upsert each micro-batch into a keyed,
    * BUCKET-PARTITIONED parquet store, keeping the latest row per user.
    * The store is laid out as `kb=<bucket>` partitions (bucket = user
    * mod `buckets`); each batch (1) reads ONLY the `kb=` directories it
    * touches, with an explicit schema — driver cost is bounded by the
    * batch's key spread, never by store size or file count, (2) unions
    * store + batch and keeps the latest row per user (event time, then
    * transaction id as the deterministic tie-break), (3) writes back
    * with DYNAMIC partition overwrite so only the touched partitions
    * are replaced.
    *
    * Consistency contract: replaying a batch recomputes the same
    * partition contents (deterministic keep-latest), but the dynamic-
    * overwrite COMMIT itself is per-partition file moves, not atomic —
    * a crash inside the commit window can lose rows that were only in
    * the replaced files. That window is the reason production deploys
    * this pattern on a transactional table format (Delta/Iceberg
    * MERGE); the operator demonstrates the pruned-rewrite SHAPE — read
    * scoped to touched buckets, rewrite scoped to touched buckets —
    * which is exactly what those formats execute underneath. */
  def upsertSink(txns: DataFrame, storeDir: String, checkpoint: String,
      buckets: Int = 16,
      trigger: Option[org.apache.spark.sql.streaming.Trigger] = None): StreamingQuery = {
    val base = txns.writeStream.foreachBatch(upsertBatch(storeDir, buckets) _)
      .option("checkpointLocation", checkpoint)
    trigger.fold(base)(base.trigger).start()
  }

  /** [[upsertSink]]'s per-micro-batch keep-latest upsert into `storeDir`. */
  private def upsertBatch(storeDir: String, buckets: Int)(batch: DataFrame,
      batchId: Long): Unit = Scope { s =>
    val spark = batch.sparkSession
    val cols = Seq("transaction_id", "user_id", "amount", "currency", "type", "timestamp")
    // int kb regardless of the stream's user_id width (int or long);
    // released also on write failure: replay must not stack cached copies
    val b = s.persist(batch.select(cols.map(col): _*)
      .withColumn("kb", pmod(col("user_id"), lit(buckets)).cast("int")))
    // driver-side bucket list is bounded by `buckets`, never by data
    val touched = b.select("kb").distinct().collect().map(_.getInt(0))
    if (touched.nonEmpty) {
      // explicit existence probe per touched partition dir — never a
      // broad exception catch (which would conflate "store not born
      // yet" with "store unreadable" and clobber good partitions)
      val base = new org.apache.hadoop.fs.Path(storeDir)
      val fs = base.getFileSystem(spark.sparkContext.hadoopConfiguration)
      val liveDirs = touched.map(k => s"$storeDir/kb=$k")
        .filter(p => fs.exists(new org.apache.hadoop.fs.Path(p)))
      val existing =
        if (liveDirs.isEmpty)
          spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], b.schema)
        else spark.read.option("basePath", storeDir).schema(b.schema)
          .parquet(liveDirs.toSeq: _*)
      val w = org.apache.spark.sql.expressions.Window.partitionBy(col("user_id"))
        .orderBy(col("timestamp").desc, col("transaction_id").desc)
      existing.unionByName(b)
        .withColumn("rn", row_number().over(w))
        .filter(col("rn") === 1).drop("rn")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("kb")
        .parquet(storeDir)
    }
  }

  /** The CDC-apply path under the correctness gate: drive [[upsertSink]]
    * over the bounded corpus in REAL multi-file micro-batches
    * (`maxFilesPerTrigger` splits the corpus, so the keyed store goes
    * through several read-touched-buckets → keep-latest → dynamic-
    * overwrite cycles, not one), then read the final store back — the
    * materialized "current state" table a downstream consumer queries.
    * Deterministic under ANY batch split: keep-latest by (timestamp,
    * transaction_id) is an argmax over a total order (event ids are
    * unique), so the final store equals the batch argmax the oracle
    * computes, no matter how the files landed in batches. No watermark
    * or sentinel phases needed — foreachBatch applies every batch, and
    * `AvailableNow` terminates once the corpus drains. */
  def streamCdc(spark: SparkSession, dir: String, buckets: Int = 16): DataFrame =
    // same per-partition commit economics as [[replay]], paid once per
    // micro-batch — and this replay is deliberately multi-batch
    driveReplay(spark, ReplayCorpus.get(spark, dir)._1, in => in
        .select(col("event_id").as("transaction_id"), col("user_id"),
          // cents ride the double amount column exactly (integers < 2^53)
          col("cents").cast("double").as("amount"),
          col("event_type").as("currency"), lit("event").as("type"),
          col("timestamp")),
      BatchSink(OutputMode.Append(), out => upsertBatch(out, buckets)),
      maxFilesPerTrigger = Some(3), pinPartitions = true) { run =>
      spark.read.parquet(run.out)
        .filter(col("user_id") >= 0L) // sentinels live in their own key
        .select(col("user_id"), col("transaction_id").as("last_event_id"),
          unix_millis(col("timestamp")).as("last_ts_ms"),
          col("amount").cast("long").as("last_cents"))
        .localCheckpoint(true)
    }

  /** Driver-visible streaming correctness: replay the bounded `events`
    * table through the REAL streaming pipeline — file source →
    * watermark → tumbling windowed aggregation → Append-mode parquet
    * sink — with `Trigger.AvailableNow`, and return the finalized
    * windows as a batch DataFrame. Because every window finalizes
    * exactly once and the measures are integer (count + cent sum), the
    * result is deterministic and equals the batch GROUP BY over the
    * same rows — which is what the DuckDB oracle computes. This is the
    * one query that puts `Streaming`'s watermark/finalization semantics
    * inside the driver's CORRECTNESS gate instead of only ScalaTest.
    *
    * Finalization mechanics: Append mode only emits a window once the
    * watermark passes its end, and the watermark available to batch N
    * is computed from data seen through batch N−1 — so a bounded
    * replay needs LATER batches to flush the real windows. The shared
    * [[SentinelFlush]] runs TWO phases over one checkpoint
    * (data + far-future sentinel #1, then a restart that discovers
    * sentinel #2), so the flush is guaranteed by the checkpointed
    * restart path rather than the engine's optional no-data batch.
    * Sentinel groups are filtered on the BATCH read-back, deliberately
    * NOT inside the streaming plan: a filter on the grouping column
    * would be pushed below the aggregation AND the watermark node into
    * the scan (measured — the sentinel files then prune to 0 rows and
    * the watermark never advances), so the stream must carry the
    * sentinels and the final projection drops whichever of their
    * windows happened to flush. */
  def streamReplay(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, windowMin: Long = 5L): DataFrame =
    replay(spark, dir, in => in
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(window(col("timestamp"), s"$windowMin minutes").as("win"),
        col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("event_type"), col("n"), col("cents")))
      .filter(col("event_type") =!= "__sentinel__")

  /** Windowed ε-DP count release AS A STREAM —
    * [[graft.operators.Monitoring.dpHistogram]]'s Laplace mechanism
    * lifted onto watermark-FINALIZED hourly windows: the engine
    * maintains exact windowed counts as streaming state, and the
    * deterministic seeded noise (60-bit hash of the window start →
    * exact power-of-two uniform → inverse CDF) is applied as a
    * projection over the finalized rows — noise must land on the
    * FINAL count exactly once, never on incremental partials
    * (additive noise does not commute with state updates, and a
    * re-noised retraction would burn privacy budget). Windows are
    * tagged by sentinel-membership inside the grouping key so the
    * replay sentinels still advance the watermark without
    * contaminating any released window. */
  def streamDp(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, epsilon: Double = 0.5): DataFrame = {
    val b = 1.0 / epsilon
    replay(spark, dir, in => in
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(window(col("timestamp"), "60 minutes").as("win"),
        (col("event_type") === "__sentinel__").as("is_s"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("is_s"), col("n")))
      .filter(!col("is_s"))
      .withColumn("u",
        (graft.functions.TextHash.hash60(concat(lit("dpw|"),
          col("win_start_ms").cast("string"))).cast("double") + 0.5)
          / lit(1152921504606846976.0))
      .withColumn("lap",
        -lit(b) * signum(col("u") - 0.5) * log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
      .select(col("win_start_ms"), col("n"),
        floor(col("lap") * 1e6).cast("long").as("lap_scaled"),
        (col("n") + floor(col("lap") + lit(0.5)).cast("long")).as("released"))
  }

  /** [[streamReplay]] over SLIDING windows — every event lands in
    * windowLen/slide overlapping windows (2 here), so the streaming
    * engine maintains several concurrent window states per event and
    * the oracle replays the duplication explicitly (each event joined
    * to its k covering window starts). Finalization and sentinel
    * mechanics are [[streamReplay]]'s. */
  def streamSliding(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, windowMin: Long = 10L,
      slideMin: Long = 5L): DataFrame =
    replay(spark, dir, in => in
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(window(col("timestamp"), s"$windowMin minutes",
        s"$slideMin minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("event_type"), col("n"), col("cents")))
      .filter(col("event_type") =!= "__sentinel__")

  /** Hourly OHLC bars maintained AS STREAMING STATE — the streaming
    * sibling of [[graft.operators.Monitoring.ohlcBars]]: open/close
    * ride `min_by`/`max_by` over the same zero-padded
    * `lpad(ts_ms)‖lpad(event_id)` total-order key, which makes the
    * bar state a pair of (key, value) registers per window — Spark's
    * incremental state merge IS the bar update, commutative and
    * order-independent across micro-batches, so replaying the corpus
    * in any batch split lands identical bars. Grouping keeps
    * event_type IN the key (the purchase filter runs on the read-back
    * — an in-plan filter would push below the watermark node into the
    * scan and starve it, the [[streamDrift]] lesson), and sentinels
    * evaporate with the same read-back predicate. */
  def streamOhlc(spark: SparkSession, dir: String,
      watermarkMin: Long = 60L): DataFrame =
    replay(spark, dir, in => in
      .withColumn("k", concat(
        lpad(col("ts_ms").cast("string"), 14, "0"),
        lpad(col("event_id").cast("string"), 12, "0")))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(window(col("timestamp"), "60 minutes").as("win"), col("event_type"))
      .agg(expr("min_by(cents, k)").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        expr("max_by(cents, k)").as("close_cents"),
        count(lit(1)).as("n_trades"),
        sum(col("cents")).as("volume_cents"))
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("event_type"), col("open_cents"), col("high_cents"),
        col("low_cents"), col("close_cents"), col("n_trades"),
        col("volume_cents")))
      .filter(col("event_type") === "purchase")
      .drop("event_type")

  /** Streaming heavy hitters: per-hour per-user activity maintained as
    * windowed streaming STATE, with the top-k ranking applied on the
    * finalized read-back — the split every streaming top-k needs
    * (ranking is not incrementally maintainable in Append mode, and
    * doesn't have to be: state is the mergeable (window, user) count
    * registers, rank runs once per finalized window over ≤ |users|
    * rows). The batch answer to "who dominated each hour" therefore
    * equals the streaming one exactly — integer counts, deterministic
    * (n desc, user_id) tie-break — which is what the oracle replays.
    * Sentinel rows carry user_id −1 and evaporate on the read-back
    * predicate (not in-plan: the [[streamDrift]] pushdown lesson). */
  def streamTopK(spark: SparkSession, dir: String,
      watermarkMin: Long = 60L, k: Int = 3): DataFrame = {
    val counts = replay(spark, dir, in => in
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(window(col("timestamp"), "60 minutes").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("user_id"), col("n"), col("cents")))
      .filter(col("user_id") >= 0L)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("win_start_ms")).orderBy(col("n").desc, col("user_id"))
    counts.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Hourly UNIQUE users per event type as a CHAIN of two stateful
    * operators in one streaming query — `dropDuplicatesWithinWatermark`
    * on (type, user, hour) feeding a windowed count. This is the
    * streaming form of COUNT(DISTINCT …) (which streaming aggregation
    * does not support directly) and the one composition pattern the
    * other replays don't cover: watermark propagation THROUGH a
    * stateful operator into a second one (Spark 3.4+ multi-stateful
    * append support).
    *
    * Determinism: the corpus is time-ordered, every hour's rows span
    * less than the 60-min watermark, and the dedup key includes the
    * hour bucket — so a key can never be evicted and readmitted within
    * its own hour, and the deduped stream's windowed count equals the
    * batch COUNT(DISTINCT) exactly (the DuckDB oracle). Sentinels
    * survive to keep the watermark honest and evaporate on the
    * read-back predicate. */
  def streamUniqueUsers(spark: SparkSession, dir: String,
      watermarkMin: Long = 60L): DataFrame =
    replay(spark, dir, in => in
      .withColumn("hour_ms", expr("(ts_ms div 3600000) * 3600000"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .dropDuplicatesWithinWatermark("event_type", "user_id", "hour_ms")
      .groupBy(window(col("timestamp"), "60 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n_unique_users"))
      .select(unix_millis(col("win.start")).as("h_ms"), col("event_type"),
        col("n_unique_users")))
      .filter(col("event_type") =!= "__sentinel__")

  /** The burst pager ON the stream: hourly per-type counts maintained
    * as windowed streaming state, with the z-gate
    * ([[graft.operators.Monitoring.burstDetect]]'s densify + exact
    * Σn/Σn² statistics, SHARED code — `burstFromHours`) applied to the
    * finalized read-back. Stream output equals the batch detector
    * row-for-row (oracled by the identical SQL), which is the whole
    * point: the alerting rule is defined once and the transport
    * (micro-batch state vs batch scan) cannot change a flag. Sentinel
    * windows evaporate on the read-back predicate. */
  def streamBurst(spark: SparkSession, dir: String,
      watermarkMin: Long = 60L, z: Double = 3.0): DataFrame = {
    val hours = replay(spark, dir, in => in
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(window(col("timestamp"), "60 minutes").as("win"), col("event_type"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("win.start")).as("h_ms"), col("event_type"), col("n")))
      .filter(col("event_type") =!= "__sentinel__")
      .select(col("event_type"), (col("h_ms") / lit(3600000L)).cast("long").as("h"), col("n"))
    graft.operators.Monitoring.burstFromHours(hours, z)
  }

  /** The drift gate ON the stream: the per-day amount histogram is
    * maintained as windowed streaming state (bins are plain counts, so
    * Spark's incremental state update IS the histogram merge), and the
    * PSI of every finalized day against the FIRST day runs on the
    * read-back — a ≤ days×bins cell table, the same two-regime split
    * as the batch [[graft.operators.Monitoring.psiDrift]]: scan-bound
    * histogram maintenance (streaming, distributed, bounded state),
    * cell-bound divergence math (tiny, after finalization). Integer
    * discipline matches psiDrift exactly: Laplace-smoothed shares from
    * exact integer counts, per-bin terms floored to 1e-8-scaled
    * BIGINTs before the per-day sum. Sentinel rows are binned to −1
    * in-plan (a KEY remap, not a filter — a filter on the stream would
    * push below the watermark node into the scan and starve it) and
    * dropped on the read-back. */
  def streamDrift(spark: SparkSession, dir: String, nBins: Int = 10,
      binCents: Long = 5000L, watermarkMin: Long = 60L): DataFrame = {
    val hist = replay(spark, dir, in => in
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(window(col("timestamp"), "1 day").as("win"),
        when(col("event_type") === "__sentinel__", lit(-1L))
          .otherwise(least(expr(s"cents div $binCents"), lit(nBins - 1L)))
          .as("bin"))
      .agg(count(lit(1)).as("n"))
      .select(unix_millis(col("win.start")).as("day_ms"), col("bin"), col("n")))
      .filter(col("bin") >= 0L)
    val d0 = hist.agg(min(col("day_ms")).as("d0"))
    val grid = hist.select(col("day_ms")).distinct()
      .select(col("day_ms"), explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"))
    val full = grid.join(hist, Seq("day_ms", "bin"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_tot", sum(col("n"))
        .over(org.apache.spark.sql.expressions.Window.partitionBy(col("day_ms"))))
      .withColumn("p", (col("n") + 1) / (col("n_tot") + nBins))
    val ref = full.crossJoin(d0).filter(col("day_ms") === col("d0"))
      .select(col("bin"), col("p").as("p_ref"))
    full.join(ref, "bin")
      .select(col("day_ms"), col("n"),
        floor((col("p") - col("p_ref")) * log(col("p") / col("p_ref")) * 1e8)
          .cast("long").as("term_scaled"))
      .groupBy(col("day_ms"))
      .agg(sum(col("n")).as("n_day"),
        graft.functions.Portable.trunc4(sum(col("term_scaled")) / 1e8).as("psi"))
  }

  /** [[streamReplay]]'s sibling for SESSION windows — the state-MERGING
    * streaming aggregation (tumbling windows only ever accumulate;
    * session windows must coalesce as late-but-in-watermark events
    * bridge gaps) replayed over the bounded events table and oracled by
    * the gaps-and-islands SQL the batch `q_sessionize` already proved
    * out. Precision discipline: `session_window` compares event times
    * at MICROsecond precision while the oracle works in epoch-ms, so
    * the shaped stream truncates timestamps to the millisecond first —
    * both engines then see identical gaps. Spark starts a NEW session
    * when the gap EQUALS the timeout (the [ts, ts+gap) intervals no
    * longer overlap), so the oracle's new-session flag is `>= gap`,
    * not `> gap`. Sentinels ride user_id −1 and are dropped on the
    * batch read-back (same pushdown reasoning as [[streamReplay]]). */
  /** The session-window pipeline behind [[streamSessions]], shared
    * with StreamingSpec's state-bound probe so the probe measures the
    * EXACT oracled plan. */
  private[graft] def sessionsPipeline(watermarkMin: Long, gapMin: Long)(
      in: DataFrame): DataFrame = in
    .select(timestamp_millis(col("ts_ms")).as("timestamp"), col("user_id"),
      col("cents"))
    .withWatermark("timestamp", s"$watermarkMin minutes")
    .groupBy(session_window(col("timestamp"), s"$gapMin minutes").as("sess"),
      col("user_id"))
    .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    .select(unix_millis(col("sess.start")).as("sess_start_ms"),
      col("user_id"), col("n"), col("cents"))

  def streamSessions(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, gapMin: Long = 30L): DataFrame =
    replay(spark, dir, sessionsPipeline(watermarkMin, gapMin))
      .filter(col("user_id") =!= -1L)

  /** Exactly-once under at-least-once delivery, driver-verified: every
    * third event is delivered TWICE (identical redelivered rows — the
    * at-least-once failure mode a Kafka consumer restart produces),
    * `dropDuplicatesWithinWatermark` collapses the redeliveries by
    * event id, and the downstream tumbling aggregation counts each
    * event exactly once — so the oracle is the plain batch GROUP BY
    * over the UN-duplicated corpus, the same SQL that checks
    * [[streamReplay]]. Two stateful operators chained (dedup state →
    * window state), each keyed and watermark-evicted. Determinism:
    * redelivered rows are bit-identical, so whichever copy the dedup
    * state sees first yields the same surviving row. */
  /** The redeliver→dedup→window pipeline behind [[streamDedup]],
    * shared with the state-bound probe (exact oracled plan). */
  private[graft] def dedupPipeline(watermarkMin: Long, windowMin: Long)(
      in: DataFrame): DataFrame = in
    .select(col("timestamp"), col("event_id"), col("event_type"), col("cents"),
      explode(when(pmod(col("event_id"), lit(3)) === 0, array(lit(1), lit(2)))
        .otherwise(array(lit(1)))).as("delivery"))
    .drop("delivery")
    .withWatermark("timestamp", s"$watermarkMin minutes")
    .dropDuplicatesWithinWatermark("event_id")
    .groupBy(window(col("timestamp"), s"$windowMin minutes").as("win"),
      col("event_type"))
    .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
    .select(unix_millis(col("win.start")).as("win_start_ms"),
      col("event_type"), col("n"), col("cents"))

  def streamDedup(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, windowMin: Long = 5L): DataFrame =
    replay(spark, dir, dedupPipeline(watermarkMin, windowMin))
      .filter(col("event_type") =!= "__sentinel__")

  /** Stream-static enrichment — the streaming ETL shape that joins the
    * unbounded fact stream against a broadcast dimension inside each
    * micro-batch (the dim is re-read per batch, so a slowly-changing
    * dimension picks up updates without restarting the query), then
    * aggregates per (day window, nation). At 100 TB/day the stream side
    * never shuffles for the join — only the windowed aggregation
    * exchanges, on (window, nation). Sentinel rows ride user_id −1,
    * match no customer, and fall out of the inner join in-plan; the
    * watermark still advances because the watermark node sits on the
    * stream side BEFORE the join. */
  def streamEnrich(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L): DataFrame = {
    val dim = org.apache.spark.sql.functions.broadcast(
      graft.Tables.customer(spark, dir)
        .select(col("c_custkey"), col("c_nationkey")))
    replay(spark, dir, in => in
      .select(col("timestamp"), col("user_id"), col("cents"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .join(dim, col("user_id") === col("c_custkey"))
      .groupBy(window(col("timestamp"), "1 day").as("win"), col("c_nationkey"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("c_nationkey"), col("n"), col("cents")))
  }

  /** Stream-stream interval self-join, driver-verified: each purchase
    * joined to the same user's clicks in the preceding hour — the
    * attribution-candidate shape ([[debitCreditJoin]] is the same
    * operator on the transaction stream; this one is oracled). Both
    * sides carry watermarks and the join condition bounds event-time
    * distance, so Spark evicts join state beyond watermark+interval —
    * state is O(in-flight hour), not O(stream). Inner-join matches
    * emit eagerly (no finalization wait), so the replay's output is
    * the complete deterministic match set; sentinel rows fail the
    * event-type filters in-plan. */
  /** Why the join key carries a TIME BUCKET alongside the user id:
    * Spark's symmetric-hash stream-stream join scans EVERY state row
    * under the equi-key for each arriving row, applying the interval
    * bound only per scanned row — so a hot key turns the join
    * quadratic in its own traffic. Measured on the `ScaleUp --skew`
    * corpus (one user emitting ¼ of all events, ~200k rows): a single
    * state-scan task ran >10 minutes before being killed, the
    * signature straggler a 100 TB clickstream's power users would
    * produce daily. The fix is the textbook bucketed interval join:
    * key = (user, lookback-sized time bucket), with the click side
    * exploded into the TWO buckets its lookback window can serve
    * (`bkt(c)` and `bkt(c)+1`). Every qualifying pair satisfies
    * `bkt(p) ∈ {bkt(c), bkt(c)+1}` — covered exactly once, no dedup —
    * and the per-row state scan drops from O(all rows under the user)
    * to O(rows in one bucket): the hot user's 200k-row scan becomes
    * ~60. Output is provably identical (the interval predicate is
    * unchanged); eviction still rides the c_ts/p_ts range condition,
    * which bucketing does not touch. */
  def streamPairs(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, lookbackMin: Long = 60L): DataFrame =
    replay(spark, dir, in => {
      val bucketMs = lookbackMin * 60000L
      val p = in.filter(col("event_type") === "purchase")
        .select(col("event_id").as("purchase_id"), col("user_id"),
          col("timestamp").as("p_ts"), col("cents").as("p_cents"))
        .withWatermark("p_ts", s"$watermarkMin minutes")
        .withColumn("bkt", expr(s"unix_millis(p_ts) div $bucketMs"))
      val c = in.filter(col("event_type") === "click")
        .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
          col("timestamp").as("c_ts"))
        .withWatermark("c_ts", s"${watermarkMin + lookbackMin} minutes")
        .withColumn("c_bkt", explode(array(
          expr(s"unix_millis(c_ts) div $bucketMs"),
          expr(s"unix_millis(c_ts) div $bucketMs + 1"))))
      p.join(c, col("user_id") === col("c_uid") &&
          col("bkt") === col("c_bkt") &&
          col("c_ts") <= col("p_ts") &&
          col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackMin MINUTES"))
        .select(col("purchase_id"), col("click_id"), col("user_id"),
          unix_millis(col("p_ts")).as("p_ts_ms"),
          unix_millis(col("c_ts")).as("c_ts_ms"), col("p_cents"))
    })

  /** LEFT OUTER stream-stream interval join — [[streamPairs]]' shape,
    * but purchases with NO qualifying click in the lookback window
    * must still emit, null-extended. This is a genuinely different
    * engine mechanism from the inner join: an unmatched left row can
    * only be emitted when the WATERMARK proves no matching click can
    * still arrive, so the null-extended rows ride state EVICTION, not
    * batch matching — phase A leaves the watermark past all data, and
    * the phase-B restart evicts and emits every unmatched purchase
    * (the same finalization path the windowed replays use). Attribution
    * semantics: emit the conversion whether or not marketing gets
    * credit — the unmatched rows ARE the organic-conversion report.
    * Sentinel plumbing is load-bearing here, unlike in the inner
    * [[streamPairs]], precisely because the output rides eviction: if
    * no sentinel ever reaches an EventTimeWatermark node, the
    * watermark stops at maxEventTime − delay and every purchase
    * inside that final horizon sits in state forever, silently
    * missing from the organic report (measured: exactly the last 4
    * purchases of the sf0.01 corpus). A plain `event_type =
    * 'purchase'` pre-filter guarantees that failure no matter which
    * side of `withWatermark` it is written on: Catalyst pushes any
    * predicate not referencing the event-time column BELOW the
    * watermark node. So each side (a) lets `__sentinel__` rows
    * through its type filter, and (b) drops them with a predicate ON
    * THE WATERMARK COLUMN (`ts ≤ max real event time`, the corpus
    * bound the harness already tracks), which the pushdown rule must
    * keep above the node. Sentinels advance both watermarks, then die
    * before the join — join state never sees them. State at 100 TB:
    * both sides evict by event time (the join's time bound caps click
    * state at lookback+watermark minutes), so live state is
    * O(traffic in the bound), never O(stream). */
  /** The left-outer interval-join pipeline behind [[streamPairsOuter]],
    * shared with the state-bound probe (exact oracled plan; the probe
    * passes a far-future `maxTs` since it adds no sentinels). */
  private[graft] def pairsOuterPipeline(watermarkMin: Long, lookbackMin: Long,
      maxTs: java.sql.Timestamp, keepTs: Boolean = false)(in: DataFrame): DataFrame = {
    // same hot-key time-bucketed join key as [[streamPairs]] (see its
    // Scaladoc for the measured quadratic this prevents); the left side
    // is NOT exploded, so unmatched purchases still emit exactly once
    // on eviction
    val bucketMs = lookbackMin * 60000L
    val p = in.filter(col("event_type").isin("purchase", "__sentinel__"))
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("timestamp").as("p_ts"), col("cents").as("p_cents"))
      .withWatermark("p_ts", s"$watermarkMin minutes")
      .filter(col("p_ts") <= lit(maxTs)) // on the watermark column: stays above the node
      .withColumn("bkt", expr(s"unix_millis(p_ts) div $bucketMs"))
    val c = in.filter(col("event_type").isin("click", "__sentinel__"))
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("timestamp").as("c_ts"))
      .withWatermark("c_ts", s"${watermarkMin + lookbackMin} minutes")
      .filter(col("c_ts") <= lit(maxTs))
      .withColumn("c_bkt", explode(array(
        expr(s"unix_millis(c_ts) div $bucketMs"),
        expr(s"unix_millis(c_ts) div $bucketMs + 1"))))
    p.join(c, col("user_id") === col("c_uid") &&
        col("bkt") === col("c_bkt") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr(s"INTERVAL $lookbackMin MINUTES"),
        "left_outer")
      .select(Seq(col("purchase_id"), col("click_id"), col("user_id"),
        unix_millis(col("p_ts")).as("p_ts_ms"),
        unix_millis(col("c_ts")).as("c_ts_ms"), col("p_cents")) ++
        (if (keepTs) Seq(col("p_ts")) else Nil): _*)
  }

  def streamPairsOuter(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, lookbackMin: Long = 60L): DataFrame = {
    val maxTs = ReplayCorpus.get(spark, dir)._2
    replay(spark, dir, pairsOuterPipeline(watermarkMin, lookbackMin, maxTs))
  }

  /** Arbitrary per-key streaming state in the driver gate:
    * `flatMapGroupsWithState` accumulates each user's integer totals
    * and emits ONE final row per user when the event-time timeout
    * fires — i.e. when the watermark proves the user's stream is over.
    * This is the emit-on-session-close pattern (per-entity feature
    * vectors, final fraud scores, closing balances) that windowed
    * aggregation cannot express, driver-verified: data batches emit
    * nothing and only update state; the timeout branch emits and
    * removes. The replay's phase A processes every event and arms each
    * group's timeout at its own max event time; phase A's closing
    * watermark (far past all data, courtesy of sentinel #1) makes every
    * real group time out in phase B's batch. Determinism: the final
    * (n, cents) is a commutative integer fold — arrival order inside
    * the iterator cannot change it. The sentinel user's own timeout
    * sits beyond phase B's watermark, so it never emits; the read-back
    * filter would drop it regardless. State is per-key and removed on
    * emission — at 100 TB/day, live state is O(active users), not
    * O(stream). */
  def streamBalance(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L): DataFrame = {
    import spark.implicits._
    replay(spark, dir, in => in
      .select(col("timestamp"), col("user_id"), col("cents"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[ReplayAcc, ReplayBalance](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(ReplayBalance(uid, s.n, s.cents))
          } else {
            var acc = state.getOption.getOrElse(ReplayAcc(0L, 0L, 0L))
            rows.foreach { case (ts, _, c) =>
              acc = ReplayAcc(acc.n + 1L, acc.cents + c,
                math.max(acc.lastSeenMs, ts.getTime))
            }
            state.update(acc)
            // fire once the watermark passes the user's last event
            state.setTimeoutTimestamp(acc.lastSeenMs + 1L)
            Iterator.empty
          }
      }
      .toDF())
      .filter(col("user_id") >= 0L)
  }

  /** Per-user token-bucket rate limiting as stateful streaming — the
    * admission-control primitive every ingest edge runs (capacity
    * `cap` tokens, refill 1 token per `refillMs` — 6 h — of EVENT time; an
    * event is admitted when a whole token is available). Token-bucket
    * decisions are ORDER-dependent, and micro-batches deliver rows in
    * arbitrary order, so the operator does NOT decide at arrival: it
    * buffers (ts, id) pairs in keyed state and replays the bucket in
    * event-time order exactly once, when the event-time timeout fires
    * (watermark past the user's last event) — the buffered-sort-then-
    * emit pattern, state bounded by the watermark horizon. All bucket
    * arithmetic is integer (token = refillMs units, refill = Δms,
    * admission costs refillMs), so the verdict is engine-exact and the
    * DuckDB oracle replays the identical recursion per user (a
    * recursive CTE stepping rank i → i+1; depth = max events per user,
    * ~constant as the corpus grows since users scale with rows).
    *
    * Scale: state is per-user and watermark-evicted; the emission is
    * one row per user. At 100 TB the buffered arrivals per user stay
    * bounded by rate×horizon; a hot key that exceeds that is exactly
    * the key the limiter exists to throttle. */
  def streamRateLimit(spark: SparkSession, dir: String,
      cap: Long = 3L, refillMs: Long = 21600000L,
      watermarkMin: Long = 10L): DataFrame = {
    import spark.implicits._
    replay(spark, dir, in => in
      .select(col("timestamp"), col("user_id"), col("event_id"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long, Long)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[RateBufState, RateVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            val ordered = s.tsMs.zip(s.ids).sortBy(identity)
            var tokens = cap * refillMs
            var prevTs = ordered.headOption.map(_._1).getOrElse(0L)
            var admitted = 0L
            ordered.foreach { case (ts, _) =>
              tokens = math.min(cap * refillMs, tokens + (ts - prevTs))
              if (tokens >= refillMs) { tokens -= refillMs; admitted += 1 }
              prevTs = ts
            }
            Iterator.single(RateVerdict(uid, ordered.length.toLong, admitted,
              ordered.length - admitted, tokens))
          } else {
            val prev = state.getOption.getOrElse(RateBufState(Array.empty, Array.empty, 0L))
            val add = rows.map { case (ts, _, id) => (ts.getTime, id) }.toArray
            val acc = RateBufState(prev.tsMs ++ add.map(_._1),
              prev.ids ++ add.map(_._2),
              math.max(prev.lastSeenMs, add.map(_._1).max))
            state.update(acc)
            state.setTimeoutTimestamp(acc.lastSeenMs + 1L)
            Iterator.empty
          }
      }
      .toDF())
      .filter(col("user_id") >= 0L)
  }

  /** Per-user LIVE funnel progression (view → click → purchase) — the
    * streaming twin of the batch funnel family, kappa-style: the
    * verdict a growth dashboard wants per user as their journey
    * closes, computed from state, not a nightly batch. Stage
    * transitions are STRICT in event time (the first click strictly
    * after the first view; the first purchase strictly after that
    * click), which makes the verdict a pure composition of
    * conditional minima — deterministic under ANY arrival/equal-
    * timestamp order, so micro-batch nondeterminism can't leak in
    * (the buffered-replay discipline [[streamRateLimit]] needs for
    * its genuinely order-dependent bucket, needed here only for the
    * buffering itself). Events buffer in keyed state inside the
    * watermark horizon; the event-time timeout finalizes each user
    * exactly once. −1 marks an unreached stage.
    *
    * The driver oracle is three nested conditional mins per user in
    * plain SQL — no recursion needed, BECAUSE the semantics were
    * chosen order-free; contrast [[streamRateLimit]]'s recursive-CTE
    * oracle for the stateful-recursion alternative. */
  /** The strict-progression verdict from a user's buffered (ts, kind)
    * events — shared by BOTH funnel engines ([[funnelPipeline]]'s
    * fMGWS and [[funnelTwsPipeline]]'s transformWithState), so their
    * row-for-row parity is about the STATE MACHINERY, never drifting
    * verdict arithmetic. */
  private def funnelVerdict(uid: Long, tsMs: Array[Long],
      kind: Array[Int]): FunnelVerdict = {
    val ev = tsMs.zip(kind)
    def minAfter(code: Int, after: Long): Long = {
      val c = ev.collect { case (t, k) if k == code && t > after => t }
      if (c.isEmpty) -1L else c.min
    }
    val v = minAfter(1, Long.MinValue)
    val cl = if (v < 0) -1L else minAfter(2, v)
    val p = if (cl < 0) -1L else minAfter(3, cl)
    val stage = if (p >= 0) 3L else if (cl >= 0) 2L else if (v >= 0) 1L else 0L
    FunnelVerdict(uid, ev.length.toLong, stage, v, cl, p)
  }

  /** The fMGWS funnel behind [[streamFunnel]], factored so StreamBench
    * can drive the exact oracled pipeline over a sliced backfill. */
  private[graft] def funnelPipeline(watermarkMin: Long)(in: DataFrame): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    in.select(col("timestamp"), col("user_id"),
        when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).otherwise(0).as("kind"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long, Int)]
      .groupByKey(_._2)
      .flatMapGroupsWithState[FunnelBufState, FunnelVerdict](
        OutputMode.Append(), GroupStateTimeout.EventTimeTimeout) {
        (uid, rows, state) =>
          if (state.hasTimedOut) {
            val s = state.get
            state.remove()
            Iterator.single(funnelVerdict(uid, s.tsMs, s.kind))
          } else {
            val prev = state.getOption.getOrElse(FunnelBufState(Array.empty, Array.empty, 0L))
            val add = rows.map { case (ts, _, k) => (ts.getTime, k) }.toArray
            val acc = FunnelBufState(prev.tsMs ++ add.map(_._1),
              prev.kind ++ add.map(_._2),
              math.max(prev.lastSeenMs, add.map(_._1).max))
            state.update(acc)
            state.setTimeoutTimestamp(acc.lastSeenMs + 1L)
            Iterator.empty
          }
      }
      .toDF()
  }

  def streamFunnel(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L): DataFrame =
    replay(spark, dir, funnelPipeline(watermarkMin))
      .filter(col("user_id") >= 0L)

  /** The transformWithState funnel behind [[streamFunnelTws]], factored
    * for StreamBench's fMGWS-vs-TWS A/B (same verdict helper, same
    * buffering — only the state machinery differs). The caller must
    * run it on the RocksDB store ([[stateStoreConf]]). */
  private[graft] def funnelTwsPipeline(watermarkMin: Long)(in: DataFrame): DataFrame = {
    val spark = in.sparkSession
    import spark.implicits._
    in.select(col("timestamp"), col("user_id"),
        when(col("event_type") === "view", 1)
          .when(col("event_type") === "click", 2)
          .when(col("event_type") === "purchase", 3).otherwise(0).as("kind"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long, Int)]
      .groupByKey(_._2)
      .transformWithState(
        new FlushAtWatermark[Long, (java.sql.Timestamp, Long, Int), FunnelVerdict, Nothing](1L) {
          @transient private var buf: ValueState[FunnelBufState] = _
          protected def declare(): Unit =
            buf = getHandle.getValueState[FunnelBufState]("buf",
              Encoders.product[FunnelBufState], TTLConfig.NONE)
          protected def absorb(uid: Long, rows: Iterator[(java.sql.Timestamp, Long, Int)]): Long = {
            val add = rows.map { case (ts, _, k) => (ts.getTime, k) }.toArray
            if (add.isEmpty) return Long.MinValue
            val prev = if (buf.exists()) buf.get()
              else FunnelBufState(Array.empty, Array.empty, 0L)
            val acc = FunnelBufState(prev.tsMs ++ add.map(_._1),
              prev.kind ++ add.map(_._2),
              math.max(prev.lastSeenMs, add.map(_._1).max))
            buf.update(acc)
            acc.lastSeenMs
          }
          protected def emit(uid: Long): Seq[FunnelVerdict] =
            if (!buf.exists()) Nil
            else { val s = buf.get(); Seq(funnelVerdict(uid, s.tsMs, s.kind)) }
          protected def clearState(): Unit = buf.clear()
        },
        TimeMode.EventTime(), OutputMode.Append())
      .toDF()
  }

  /** The funnel verdict on Spark 4's `transformWithState` — the modern
    * arbitrary-stateful API ([[streamFunnel]]'s `flatMapGroupsWithState`
    * predecessor path kept alongside, SAME semantics, SAME oracle):
    * a [[FlushAtWatermark]] processor with two named state variables
    * (the event buffer as `ValueState[FunnelBufState]`, the registered
    * timer's timestamp as `ValueState[Long]`) and an EVENT-TIME timer
    * per user at lastSeen+1 — moved forward as events arrive (timers
    * don't overwrite the way `setTimeoutTimestamp` did), so exactly one
    * verdict emits per user when the watermark finally passes their
    * last event. This is the API surface a production funnel/ledger
    * migrates to: typed state variables with independent lifetimes
    * (TTL-capable), multiple timers, and state schema evolution — none
    * of which the single opaque fMGWS state value offers.
    *
    * `transformWithState` requires the RocksDB state-store provider;
    * the replay pins it for its stream only ([[stateStoreConf]]) —
    * which also makes the modern-API ports the board's standing
    * RocksDB coverage (every other oracled replay runs the session's
    * store). */
  def streamFunnelTws(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L): DataFrame =
    replay(spark, dir, funnelTwsPipeline(watermarkMin), rocksDb = true)
      .filter(col("user_id") >= 0L)

  /** Session windows on `transformWithState` with LIST state — the
    * third state shape of the modern arbitrary-stateful API, alongside
    * [[streamFunnelTws]]'s ValueState and [[streamLedgerTws]]'s
    * MapState. Each arriving event is `appendList`-ed as its OWN state
    * element, so a batch costs O(batch rows) state writes regardless of
    * how large the open buffer already is — the funnel's ValueState
    * blob by contrast is read-modify-rewritten in full every batch.
    * (The trade is in WRITE AMPLIFICATION, not in the state-row
    * metric: `StateOperatorProgress.numRowsTotal` counts grouping
    * keys per state variable — measured 3·users for this operator,
    * same as the funnel — because a key's list elements live inside
    * its column family; the spec pins that O(users) key count.)
    *
    * Finalization is watermark-driven: one event-time timer per user at
    * lastSeen + gap, re-registered forward as events arrive. When it
    * fires, no event that could EXTEND any buffered session can still
    * arrive (such an event has ts < lastSeen + gap ≤ watermark — late,
    * dropped), and any future event starts a new session by the
    * `>= gap` rule — so the whole buffer splits deterministically into
    * finished gap-islands: sort, cut where the step is ≥ gap, emit one
    * row per island, clear. Semantics (and the DuckDB oracle) are
    * VERBATIM [[streamSessions]]' session_window aggregation — the
    * gaps-and-islands SQL of the batch `q_sessionize`; the spec checks
    * the two streaming operators row-for-row against each other.
    *
    * Scale: state is per-user and watermark-bounded; the processor
    * never scans the buffer except at finalization. At 100 TB the state
    * partitions by user across executors exactly like the fMGWS ops. */
  def streamSessionsTws(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, gapMin: Long = 30L): DataFrame = {
    import spark.implicits._
    val gapMs = gapMin * 60000L
    replay(spark, dir, in => in
      .select(timestamp_millis(col("ts_ms")).as("timestamp"),
        col("user_id"), col("ts_ms"), col("cents"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long, Long, Long)]
      .groupByKey(_._2)
      .transformWithState(
        new FlushAtWatermark[Long, (java.sql.Timestamp, Long, Long, Long), SessionRowTws,
            Nothing](gapMs) {
          @transient private var buf: ListState[SessEv] = _
          protected def declare(): Unit =
            buf = getHandle.getListState[SessEv]("buf", Encoders.product[SessEv], TTLConfig.NONE)
          protected def absorb(uid: Long,
              rows: Iterator[(java.sql.Timestamp, Long, Long, Long)]): Long = {
            val add = rows.map { case (_, _, tsMs, cents) => SessEv(tsMs, cents) }.toArray
            if (add.isEmpty) return Long.MinValue
            buf.appendList(add)
            add.map(_.tsMs).max
          }
          protected def emit(uid: Long): Seq[SessionRowTws] = {
            val ev = buf.get().toArray.sortBy(_.tsMs)
            if (ev.isEmpty) return Nil
            val out = Vector.newBuilder[SessionRowTws]
            var start = ev(0).tsMs; var prevTs = ev(0).tsMs
            var n = 0L; var c = 0L
            ev.foreach { e =>
              if (n > 0L && e.tsMs - prevTs >= gapMs) {
                out += SessionRowTws(start, uid, n, c)
                start = e.tsMs; n = 0L; c = 0L
              }
              n += 1L; c += e.cents; prevTs = e.tsMs
            }
            out += SessionRowTws(start, uid, n, c)
            out.result()
          }
          protected def clearState(): Unit = buf.clear()
        },
        TimeMode.EventTime(), OutputMode.Append())
      .toDF(), rocksDb = true)
      .filter(col("user_id") =!= -1L)
  }

  /** The per-user MapState ledger behind [[streamLedgerTws]] and
    * [[streamLedgerInit]]: each row point-updates its (event_type →
    * running {n, cents}) entry; only [[streamLedgerInit]] hands it an
    * initial state, which seeds the entries and arms the timer at the
    * history's lastSeen + 1. */
  private final class LedgerTws extends FlushAtWatermark[Long,
      (java.sql.Timestamp, Long, String, Long), LedgerRowTws, LedgerInitState](1L) {
    @transient private var led: MapState[String, TypeAgg] = _
    protected def declare(): Unit =
      led = getHandle.getMapState[String, TypeAgg]("led", Encoders.STRING,
        Encoders.product[TypeAgg], TTLConfig.NONE)
    override def handleInitialState(uid: Long, st: LedgerInitState,
        timerValues: TimerValues): Unit = {
      st.rows.foreach(r => led.updateValue(r.t, TypeAgg(r.n, r.c)))
      arm(st.lastSeenMs + 1L)
    }
    protected def absorb(uid: Long,
        rows: Iterator[(java.sql.Timestamp, Long, String, Long)]): Long = {
      var hi = Long.MinValue
      rows.foreach { case (ts, _, typ, cents) =>
        val cur = if (led.containsKey(typ)) led.getValue(typ) else TypeAgg(0L, 0L)
        led.updateValue(typ, TypeAgg(cur.n + 1L, cur.cents + cents))
        hi = math.max(hi, ts.getTime)
      }
      hi
    }
    protected def emit(uid: Long): Seq[LedgerRowTws] =
      led.iterator().map { case (typ, agg) =>
        LedgerRowTws(uid, typ, agg.n, agg.cents)
      }.toSeq
    protected def clearState(): Unit = led.clear()
  }

  /** [[streamLedgerTws]] with INITIAL STATE — the batch→streaming
    * migration path every production stateful job eventually needs:
    * the ledger is warm-started from a batch aggregate of pre-cutoff
    * history (`handleInitialState`, one pre-aggregated row per user)
    * and the stream processes ONLY the post-cutoff tail; the emitted
    * ledgers must equal the full-corpus GROUP BY, proving the seam is
    * invisible. The cutoff splits the corpus at its time midpoint; the
    * `ts_ms >= cutoff` stream filter is pushdown-SAFE with sentinels
    * (they sit past the corpus max, so their files are never pruned
    * and the watermark still advances — contrast the stall mode
    * [[streamReplay]] documents for sentinel-excluding predicates).
    * `handleInitialState` also registers the user's timer at the
    * HISTORY's lastSeen+1, so a user with zero post-cutoff events
    * still emits; a stream arrival moves that timer forward through
    * the one [[FlushAtWatermark]] rule, as in [[streamLedgerTws]].
    *
    * Scale: the seed is one shuffle of the history aggregate (its own
    * keyed partitioning), loaded once into the state store at batch 0;
    * steady-state cost is identical to [[streamLedgerTws]]. */
  def streamLedgerInit(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L): DataFrame = {
    import spark.implicits._
    val ev = graft.Tables.events(spark, dir)
    val bounds = ev.agg(min(col("ts_ms")), max(col("ts_ms"))).head
    val cutoff = bounds.getLong(0) + (bounds.getLong(1) - bounds.getLong(0)) / 2
    val initState = ev.filter(col("ts_ms") < cutoff)
      .select(col("user_id"), col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"), col("ts_ms"))
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("c"),
        max(col("ts_ms")).as("mx"))
      .groupBy(col("user_id"))
      .agg(sort_array(collect_list(struct(col("event_type").as("t"),
        col("n"), col("c")))).as("rows"), max(col("mx")).as("lastSeenMs"))
      .as[(Long, Array[LedgerInitEntry], Long)]
      .map { case (uid, rows, last) => (uid, LedgerInitState(rows, last)) }
      .groupByKey(_._1).mapValues(_._2)
    replay(spark, dir, in => in
      .filter(col("ts_ms") >= cutoff)
      .select(col("timestamp"), col("user_id"), col("event_type"), col("cents"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long, String, Long)]
      .groupByKey(_._2)
      .transformWithState(new LedgerTws,
        TimeMode.EventTime(), OutputMode.Append(), initState)
      .toDF(), rocksDb = true)
      .filter(col("user_id") >= 0L)
  }

  /** Session windows CHAINED into a downstream tumbling aggregate —
    * the multiple-stateful-operators path for AGGREGATIONS (the as-of
    * join chains join→agg; this chains agg→agg): per-user session
    * windows first, then the finished sessions roll up into per-DAY
    * traffic rows (sessions started, events, cents). The event-time
    * column for the second aggregation is `window_time(sess)` — the
    * session's end − 1 µs, the documented idiom that lets the
    * watermark propagate through the first stateful operator into the
    * second — so a session lands in the day its activity ENDED (a
    * 23:50 + gap session belongs to the next day; the oracle replays
    * that µs arithmetic exactly: day((last_ts + gap)·1000 − 1 µs)).
    *
    * Sentinel discipline inverts here: the rollup aggregates user_id
    * away, so the read-back can't drop sentinel rows by key — and an
    * in-stream `user_id >= 0` filter is exactly the predicate that
    * gets pushed below the watermark node into the scan and prunes
    * the sentinel FILES (the watermark-stall failure [[streamReplay]]
    * documents). Instead the sentinels are dropped by TIME at the
    * read-back: they sit ≥ 2 days past the corpus max by
    * construction, so `day_ms ≤ day(corpus max + gap)` keeps every
    * real session's day and excludes both sentinel days.
    *
    * Scale: both aggregations are keyed and watermark-evicted —
    * session state is O(open sessions), day state O(open days);
    * state partitions across executors on each operator's own keys. */
  def streamSessRollup(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, gapMin: Long = 30L): DataFrame = {
    val gapMs = gapMin * 60000L
    val dayMs = 86400000L
    val maxMs = graft.Tables.events(spark, dir)
      .agg(max(col("ts_ms"))).head.getLong(0)
    val lastRealDay = ((maxMs + gapMs) * 1000L - 1L) / (dayMs * 1000L) * dayMs
    replay(spark, dir, in => in
      .select(timestamp_millis(col("ts_ms")).as("timestamp"),
        col("user_id"), col("cents"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .groupBy(session_window(col("timestamp"), s"$gapMin minutes").as("sess"),
        col("user_id"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"))
      .groupBy(window(window_time(col("sess")), "1 day").as("day"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
        sum(col("cents")).as("cents"))
      .select(unix_millis(col("day.start")).as("day_ms"),
        col("n_sessions"), col("n_events"), col("cents")))
      .filter(col("day_ms") <= lastRealDay)
  }

  /** The per-user spend ledger on `transformWithState` with MAP state —
    * the production keyed-sub-state pattern: each arriving row point-
    * updates exactly ONE (event_type → running {n, cents}) map entry,
    * never touching the user's other entries (a ValueState ledger would
    * re-serialize every type's totals on every row; a MapState write is
    * one state-store put of one entry). Update order within a user is
    * immaterial — addition commutes — so the operator is correct under
    * ANY arrival order, no buffering needed; the only other state is
    * the lastSeen+1 event-time timer of [[FlushAtWatermark]], which
    * emits the final ledger exactly once per user when the watermark
    * passes their last event. Oracle: the plain batch GROUP BY
    * user_id, event_type.
    *
    * Scale: state rows = live (user, type) pairs — O(users × |types|),
    * watermark-evicted on emission; partitions by user. */
  def streamLedgerTws(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L): DataFrame = {
    import spark.implicits._
    replay(spark, dir, in => in
      .select(col("timestamp"), col("user_id"), col("event_type"), col("cents"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long, String, Long)]
      .groupByKey(_._2)
      .transformWithState(new LedgerTws, TimeMode.EventTime(), OutputMode.Append())
      .toDF(), rocksDb = true)
      .filter(col("user_id") >= 0L)
  }

  /** Streaming KMV distinct-user sketch — the ONLINE half of
    * [[graft.operators.Sketches.kmvDistinct]], and the streaming
    * family's SUBLINEAR-STATE entry: per event type, the k smallest
    * distinct 60-bit user hashes are maintained as `transformWithState`
    * state, so the state is O(k) longs per key where
    * [[streamUniqueUsers]]' dropDuplicates path keeps one state row per
    * distinct (type, user, hour) — at 100 TB the difference between a
    * 64-long sketch and a state store the size of the user base.
    * Bottom-k is a MERGEABLE summary (min of mins), so per-batch merge
    * order cannot change the final sketch and the replay is exact.
    *
    * The hash rides the plan BEFORE the shuffle
    * ([[graft.functions.TextHash.hash60]] — the native codegen'd md5
    * digest, oracle-portable); the processor only merges longs. One
    * verdict per type on the watermark timer ([[FlushAtWatermark]]'s
    * emission rule); the estimate is computed on the read-back
    * with the SAME `(k−1)·2^60 / kth` expression the batch sketch uses,
    * exact-count branch when the sketch never filled. Sentinel keys
    * flow through (the watermark lesson) and drop at read-back. */
  def streamKmv(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, k: Int = 64): DataFrame = {
    import spark.implicits._
    val num = (k - 1).toDouble * (1L << 60).toDouble
    replay(spark, dir, in => in
      .select(col("timestamp"), col("event_type"),
        graft.functions.TextHash.hash60(col("user_id").cast("string")).as("h"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, String, Long)]
      .groupByKey(_._2)
      .transformWithState(
        new FlushAtWatermark[String, (java.sql.Timestamp, String, Long), KmvRow, Nothing](1L) {
          @transient private var st: ValueState[KmvState] = _
          protected def declare(): Unit =
            st = getHandle.getValueState[KmvState]("kmv", Encoders.product[KmvState],
              TTLConfig.NONE)
          protected def absorb(typ: String,
              rows: Iterator[(java.sql.Timestamp, String, Long)]): Long = {
            var hi = Long.MinValue
            val batch = scala.collection.mutable.ArrayBuffer.empty[Long]
            rows.foreach { case (ts, _, h) =>
              batch += h; hi = math.max(hi, ts.getTime)
            }
            val cur = if (st.exists()) st.get().hs else Array.empty[Long]
            // bottom-k merge: distinct ∪ state, k smallest survive —
            // O((k + batch)·log) per key per batch, state stays ≤ k
            st.update(KmvState((cur ++ batch).distinct.sorted.take(k)))
            hi
          }
          protected def emit(typ: String): Seq[KmvRow] =
            if (!st.exists()) Nil
            else {
              val hs = st.get().hs
              Seq(KmvRow(typ, hs.length.toLong, if (hs.length == k) Some(hs.last) else None))
            }
          protected def clearState(): Unit = st.clear()
        },
        TimeMode.EventTime(), OutputMode.Append())
      .toDF(), rocksDb = true)
      .filter(col("event_type") =!= "__sentinel__")
      .select(col("event_type"), col("n_min"), col("kth_hash"),
        when(col("n_min") === k,
          graft.functions.Portable.trunc4(lit(num) / col("kth_hash")))
          .otherwise(col("n_min").cast("double")).as("est"))
  }

  /** Streaming count-min sketch — the ONLINE half of
    * [[graft.operators.Sketches.cmsHeavyHitters]] and the second
    * sublinear-state entry next to [[streamKmv]], with the OTHER merge
    * shape: KMV merges by bottom-k min, CMS by counter ADDITION (both
    * mergeable, so micro-batch arrival order cannot change the final
    * sketch). The sketch state is keyed by (row, bucket) — depth×width
    * keys TOTAL, each holding one running count — so heavy-hitter
    * monitoring state is a fixed 4×256 grid no matter how many
    * distinct amounts or events flow through; the exact-count
    * alternative keys state by amount and grows with the value space.
    *
    * Each arriving event explodes to its `depth` (row, bucket) cells
    * in-plan (codegen'd native hash, before the shuffle); the
    * processor only increments a per-key `ValueState[Long]`. Sentinel
    * rows are KEY-REMAPPED to bucket −1 ([[streamDrift]]'s idiom — a
    * filter would push below the watermark node and starve it) and
    * dropped at read-back, so the finalized cells equal the batch
    * counters exactly. The read-back then runs the batch operator's
    * own evaluation harness — exact top-`topN` ranking with estimates
    * looked up from the STREAMED counters — so the stream result
    * equals [[graft.operators.Sketches.cmsHeavyHitters]] row-for-row
    * and the oracle is shared verbatim. (As in the batch operator,
    * the exact column is the eval harness, not the production path —
    * production serves estimates straight from the cells.) */
  def streamCms(spark: SparkSession, dir: String, watermarkMin: Long = 10L,
      depth: Int = 4, width: Int = 256, topN: Int = 20): DataFrame = {
    import spark.implicits._
    import graft.functions.TextHash.hash60
    def bucketOf(iCol: org.apache.spark.sql.Column, amtCol: org.apache.spark.sql.Column) =
      pmod(hash60(concat(iCol.cast("string"), lit("|"), amtCol.cast("string"))),
        lit(width.toLong))
    val counters = replay(spark, dir, in => in
      .select(col("timestamp"), col("event_type"), expr("cents div 100").as("amt"))
      .withColumn("i", explode(array((0 until depth).map(lit): _*)))
      .withColumn("bucket",
        when(col("event_type") === "__sentinel__", lit(-1L))
          .otherwise(bucketOf(col("i"), col("amt"))))
      .select(col("timestamp"), col("i"), col("bucket"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Int, Long)]
      .groupByKey(r => (r._2, r._3))
      .transformWithState(
        new LongCell[(Int, Long), (java.sql.Timestamp, Int, Long), CmsCell]("cnt",
          _ + _, r => (r._1.getTime, 1L), (key, c) => CmsCell(key._1, key._2, c)),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF(), rocksDb = true)
      .filter(col("bucket") >= 0L)
    // the batch operator's eval harness over the STREAMED counters
    val exact = graft.Tables.events(spark, dir)
      .select(floor(col("value")).cast("long").as("amt"))
      .groupBy(col("amt")).agg(count(lit(1)).as("n"))
    val probes = exact
      .withColumn("i", explode(array((0 until depth).map(lit): _*)))
      .withColumn("bucket", bucketOf(col("i"), col("amt")))
    val byCount = org.apache.spark.sql.expressions.Window
      .orderBy(col("n").desc, col("amt"))
    probes.join(counters, Seq("i", "bucket"))
      .groupBy(col("amt"), col("n")).agg(min(col("c")).as("est"))
      .withColumn("rnk", row_number().over(byCount).cast("long"))
      .filter(col("rnk") <= topN)
      .select(col("amt"), col("n"), col("est"), col("rnk"))
  }

  /** Streaming HyperLogLog — the ONLINE half of
    * [[graft.operators.Sketches.hllDistinct]], completing the classic
    * sketch trio's streaming family: KMV merges by bottom-k min, CMS
    * by counter addition, HLL by register MAX — the third mergeable
    * shape, so micro-batch arrival order cannot change the final
    * registers and the replay is exact. State is one `max(rho)` long
    * per (metric, register) key — 3·m keys TOTAL (768 at the default
    * m=256) no matter how many distinct ids flow through, where the
    * exact distinct path keys state per distinct value; at 100 TB
    * that is a fixed grid vs a state store the size of the id space.
    *
    * The (reg, rho) cell rides the plan codegen'd BEFORE the shuffle
    * via [[graft.operators.Sketches.hllCells]] — SHARED code with the
    * batch sketch, so both transports hash the identical value stream;
    * the processor only max-merges longs. Sentinel rows are KEY-
    * REMAPPED to metric "__sentinel__" ([[streamCms]]'s idiom — their
    * −1 ids would otherwise pollute real registers, and a filter would
    * push below the watermark node and starve it) and dropped at
    * read-back. The read-back then evaluates the STREAMED registers
    * through [[graft.operators.Sketches.hllEstimate]] — again the
    * batch operator's own code path — against exact counts from the
    * batch table (the eval harness, skipped at 100 TB), so the stream
    * result equals `q_hll_distinct` row-for-row and the oracle is
    * shared verbatim. */
  def streamHll(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, m: Int = 256): DataFrame = {
    import spark.implicits._
    val Sk = graft.operators.Sketches
    val regs = replay(spark, dir, in => Sk.hllCells(
        in.select(col("timestamp"), col("event_type"), explode(array(
            struct(lit("event_id").as("metric"), col("event_id").cast("string").as("v")),
            struct(lit("user_id").as("metric"), col("user_id").cast("string").as("v")),
            struct(lit("event_type").as("metric"), col("event_type").as("v")))).as("r"))
          .select(col("timestamp"),
            when(col("event_type") === "__sentinel__", lit("__sentinel__"))
              .otherwise(col("r.metric")).as("metric"),
            col("r.v").as("v"))
          .filter(col("v").isNotNull), m)
      .select(col("timestamp"), col("metric"), col("reg"), col("rho"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, String, Long, Long)]
      .groupByKey(r => (r._2, r._3))
      .transformWithState(
        new LongCell[(String, Long), (java.sql.Timestamp, String, Long, Long), HllReg]("mx",
          math.max(_, _), r => (r._1.getTime, r._4), (key, mx) => HllReg(key._1, key._2, mx)),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF(), rocksDb = true)
      .filter(col("metric") =!= "__sentinel__")
    // the batch operator's eval harness over the STREAMED registers
    val exact = Sk.hllTagged(graft.Tables.events(spark, dir))
      .groupBy(col("metric")).agg(countDistinct(col("v")).as("n_exact"))
    Sk.hllEstimate(regs, exact, m)
  }

  /** Streaming histogram-quantile sketch — the ONLINE half of
    * [[graft.operators.Sketches.approxQuantiles]]: per-bin counters
    * maintained as `transformWithState` state (counter ADDITION — the
    * CMS merge shape, so micro-batch arrival order cannot change the
    * final histogram), finalized cells evaluated through the batch
    * operator's own cumulative-window + in-bin-interpolation read-back
    * ([[graft.operators.Sketches.quantileFromBins]], SHARED code).
    * Unlike a streaming GK/KLL sketch, the fixed-width histogram is
    * merge-order-deterministic AND oracle-checkable bit-for-bit.
    *
    * State is one running count per OCCUPIED value bin — O(value
    * range / binW) keys, a property of the VALUE DISTRIBUTION, never
    * of stream length or distinct-event count (the per-event exact
    * percentile keeps the whole column; at 100 TB that is a global
    * sort vs a few-hundred-cell grid). The bin id is integer cent
    * math in-plan (`cents div` — codegen'd before the shuffle, and
    * exactly `floor(value/binW)` because the corpus defines cents =
    * floor(value·100 + 0.5)); sentinel rows KEY-REMAP to bin −1
    * (their mid-band cents would land in a real bin) and drop at
    * read-back. */
  def streamQuantile(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      binW: Double = 64.0): DataFrame = {
    import spark.implicits._
    val binWc = math.round(binW * 100) // cents per bin; 64.00 dollars
    val bins = replay(spark, dir, in => in
      .select(col("timestamp"),
        when(col("event_type") === "__sentinel__", lit(-1L))
          .otherwise(expr(s"cents div $binWc")).as("bin"))
      .withWatermark("timestamp", s"$watermarkMin minutes")
      .as[(java.sql.Timestamp, Long)]
      .groupByKey(_._2)
      .transformWithState(
        new LongCell[Long, (java.sql.Timestamp, Long), QBin]("cnt",
          _ + _, r => (r._1.getTime, 1L), QBin(_, _)),
        TimeMode.EventTime(), OutputMode.Append())
      .toDF(), rocksDb = true)
      .filter(col("bin") >= 0L)
      // merge the finalized cells per bin before the read-back — the
      // counter-addition merge (a no-op on this replay's one-row-per-bin
      // output, so the result is unchanged) and the aggregate the
      // cumulative window must sit on: quantileFromBins' global window
      // is only scale-legal over a collapsed (binned) relation, which
      // the batch sibling gets from its own groupBy and the streamed
      // read-back must re-establish (ScaleSpec's global-window sweep)
      .groupBy(col("bin")).agg(sum(col("cnt")).as("cnt"))
    graft.operators.Sketches.quantileFromBins(bins, qs, binW)
  }

  /** The batch AML structuring rule (`q_aml_structuring`) as a LIVE
    * streaming detector: sub-threshold band filter → per (user, day
    * window) count/sum → flag when both trip. Same thresholds, same
    * integer-cent measures, so the oracle is the batch rule's SQL —
    * the engine's monitoring semantics are proven identical batch vs
    * stream, which is the whole point of a kappa-style deployment.
    * Sentinel rows are IN the cent band by design (a sentinel outside
    * every downstream predicate gets pushed below the watermark node
    * into the scan and pruned file-wise — then the watermark never
    * advances and nothing flushes, the failure [[streamReplay]]'s
    * docstring documents); their 1-event windows fail `n_sub >= 3`,
    * and the read-back filter drops user −1 regardless. */
  def streamFlags(spark: SparkSession, dir: String,
      loCents: Long = 5000L, hiCents: Long = 10000L,
      minTxns: Long = 3L, minTotalCents: Long = 15000L): DataFrame =
    replay(spark, dir, in => in
      .select(col("timestamp"), col("user_id"), col("cents"))
      .withWatermark("timestamp", "1 hour")
      .filter(col("cents") >= loCents && col("cents") < hiCents)
      .groupBy(window(col("timestamp"), "1 day").as("win"), col("user_id"))
      .agg(count(lit(1)).as("n_sub"), sum(col("cents")).as("cents_sub"))
      .filter(col("n_sub") >= minTxns && col("cents_sub") >= minTotalCents)
      .select(unix_millis(col("win.start")).as("win_start_ms"),
        col("user_id"), col("n_sub"), col("cents_sub")))
      .filter(col("user_id") >= 0L)

  private[graft] def rmTree(f: java.io.File): Unit = {
    Option(f.listFiles()).foreach(_.foreach(rmTree))
    f.delete(); ()
  }

  /** The events → replay-shape projection: the superset row (timestamp
    * µs, ts_ms, event_id, user_id, event_type, cents) every replay
    * pipeline reads. */
  private[graft] def replayShape(events: DataFrame): DataFrame =
    events.select(col("ts").as("timestamp"), col("ts_ms"),
      col("event_id"), col("user_id"), col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))

  /** Shared replay corpus: ONE [[replayShape]]d copy of `events` per
    * sf-dir, written once and reused by EVERY replay query in the
    * session; the corpus write is the harness's dominant fixed cost,
    * and N streaming gate queries would otherwise each re-land the
    * whole fact table. Sentinel files accumulate in the corpus under
    * unique names across queries; that is sound because (a) each
    * pipeline drops foreign sentinels by key — the inner join /
    * event-type filter / read-back predicate that drops its OWN
    * sentinels drops all of them — and (b) extra far-future rows can
    * only advance phase A's watermark, which the query's own sentinel
    * #1 already advances past every real window. Deleted by a JVM
    * shutdown hook (queries can't know who runs last). */
  private object ReplayCorpus {
    private val cache =
      scala.collection.concurrent.TrieMap[String, (String, java.sql.Timestamp)]()
    def get(spark: SparkSession, dir: String): (String, java.sql.Timestamp) =
      cache.getOrElseUpdate(dir, {
        val shaped = replayShape(graft.Tables.events(spark, dir))
        val maxRow = shaped.agg(max(col("timestamp"))).head
        require(!maxRow.isNullAt(0),
          "replay: events corpus is empty (no event-time maximum)")
        val root = java.nio.file.Files.createTempDirectory("graft-replay-corpus")
        sys.addShutdownHook { rmTree(new java.io.File(root.toString)) }
        val inDir = s"$root/in"
        // 8 part files (deterministic hash split), so file-granular
        // triggers (streamCdc's maxFilesPerTrigger) get REAL multi-batch
        // replays instead of one batch per phase
        shaped.repartition(8, col("user_id")).write.parquet(inDir)
        (inDir, maxRow.getTimestamp(0))
      })

    /** The phase-A/B sentinel part-file, staged ONCE per (sf-dir,
      * phase): its CONTENT depends only on the corpus's maxTs and the
      * phase index, while the file-source only needs each query to see
      * a NEW FILE NAME — so the 1-row parquet write (two jobs per
      * replay query across ~28 gate queries) happens once and every
      * query copies the bytes under its own unique name. */
    private val sentinels =
      scala.collection.concurrent.TrieMap[(String, Int), java.nio.file.Path]()
    def sentinelFile(spark: SparkSession, dir: String, i: Int,
        maxTs: java.sql.Timestamp): java.nio.file.Path =
      sentinels.getOrElseUpdate((dir, i), {
        import spark.implicits._
        val ms = maxTs.getTime + i * 2L * 86400000L
        val root = java.nio.file.Files.createTempDirectory("graft-replay-sent")
        sys.addShutdownHook { rmTree(new java.io.File(root.toString)) }
        val scratch = s"$root/s$i"
        Seq((new java.sql.Timestamp(ms), ms, -i.toLong, -1L, "__sentinel__", 7500L))
          .toDF("timestamp", "ts_ms", "event_id", "user_id", "event_type", "cents")
          .coalesce(1).write.parquet(scratch)
        new java.io.File(scratch).listFiles()
          .filter(_.getName.endsWith(".parquet")).head.toPath
      })
  }

  /** Shared staged holdout-vector corpus (the [[ReplayCorpus]]
    * discipline for the embedding-stream queries): the 1-in-7 holdout
    * slice both [[streamDecontam]] and [[streamIvfIncr]] replay is the
    * IDENTICAL deterministic projection of `embeddings.parquet`
    * (vec_id, e, 4 hash-split files), so it is staged ONCE per sf-dir
    * and reused — input staging only, never computed results: training
    * (centroids, capped index) still runs per query from the parquet
    * inputs. Deleted by a JVM shutdown hook. */
  private object HoldoutCorpus {
    private val cache = scala.collection.concurrent.TrieMap[String, String]()
    def get(spark: SparkSession, dir: String): String =
      cache.getOrElseUpdate(dir, {
        val root = java.nio.file.Files.createTempDirectory("graft-ho-corpus")
        sys.addShutdownHook { rmTree(new java.io.File(root.toString)) }
        val inDir = s"$root/in"
        graft.operators.Similarity.withEmbD(graft.Tables.embeddings(spark, dir))
          .filter(pmod(col("vec_id"), lit(7L)) === 0)
          .select(col("vec_id"), col("e")).repartition(4).write.parquet(inDir)
        inDir
      })
  }

  /** Pinned state-layout width (`spark.sql.shuffle.partitions`) for
    * the stateful bounded replays and the probes that measure them.
    * Stateful micro-batches pay a per-PARTITION state-store commit
    * every batch independent of row count, so this is sized to the
    * BOUNDED gate corpus's state volume, not to the host's core count;
    * the checkpoint fixes it per query anyway, so the pin also makes
    * the replay layout host-independent (scan parallelism is
    * file-split-driven and unaffected). Measured at sf0.1, min-of-3 per
    * config (OPTIMIZATION_r11.md): the stream-stream join family read
    * 12.5 s at 32 partitions (r9), 7.1 s at 8, and 4.6/6.0 s at 8 vs
    * 3.8/5.2 s at 4 vs 4.4/5.5 s at 2 (pairs_outer/asof) — 4 is the
    * commit-cost floor before task-parallelism loss takes over. */
  private[graft] val ReplayPartitions = 4

  /** State-store provider pins: RocksDB (which `transformWithState`
    * requires) with changelog checkpointing — each batch commits its
    * changelog instead of a full snapshot zip per partition, a pure
    * checkpoint-format choice (state contents and results are
    * byte-identical; snapshots still happen in background maintenance)
    * — or the default HDFS-backed store. */
  private[graft] def stateStoreConf(rocksDb: Boolean): Seq[(String, Option[String])] = {
    val provider = "spark.sql.streaming.stateStore.providerClass"
    if (!rocksDb) Seq(provider -> None)
    else Seq(provider ->
      Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"),
      "spark.sql.streaming.stateStore.rocksdb.changelogCheckpointing.enabled" -> Some("true"))
  }

  /** Where a bounded replay's micro-batches go. */
  private[graft] sealed trait ReplaySink
  /** Append-mode parquet files in the run's output directory. */
  private[graft] case object ParquetSink extends ReplaySink
  /** Discarded output (Append-mode `noop`) — measurement runs. */
  private[graft] case object NoopSink extends ReplaySink
  /** `foreachBatch` in `mode`; `write(outDir)` is the batch function,
    * free to lay the run's output directory out as it likes. */
  private[graft] final case class BatchSink(mode: OutputMode,
      write: String => (DataFrame, Long) => Unit) extends ReplaySink

  /** How a bounded replay drains its input. */
  private[graft] sealed trait ReplayPhases
  /** One `AvailableNow` drain of whatever the input holds. */
  private[graft] case object SingleDrain extends ReplayPhases
  /** The two-phase flush over `sfDir`'s [[ReplayCorpus]], for
    * watermarked Append pipelines: Append mode only emits a window once
    * the watermark passes its end, and the watermark available to batch
    * N is computed from data seen through batch N−1. Phase A's batch
    * sees the data + a far-future sentinel row (flushes nothing: the
    * initial watermark is epoch 0) and leaves the watermark past every
    * real window; then sentinel #2 is added and the query RESTARTS from
    * the checkpoint, so phase B's batch sees exactly the new file and
    * emits every finalized window. Checkpointed offsets carry the
    * watermark across the restart — the exactly-once recovery path
    * (StreamingSpec pins it for the sink), reused here so correctness
    * never leans on the engine's OPTIONAL no-data flush batch, file
    * modification-time ordering, or per-trigger file limits. Sentinels
    * are superset rows (user −1, event_id −i, type "__sentinel__",
    * cents mid-band for [[streamFlags]]' pushdown reasoning) at
    * maxTs + i·2 days; they stay in the corpus (see [[ReplayCorpus]]). */
  private[graft] final case class SentinelFlush(sfDir: String) extends ReplayPhases

  /** A finished bounded run, handed to the read-back before
    * [[driveReplay]] removes its temp tree: the output directory and
    * the pipeline's output schema. */
  private[graft] final case class ReplayRun(out: String,
      schema: org.apache.spark.sql.types.StructType)

  /** The bounded-replay driver every file replay runs through: the
    * parquet files in `inDir` (at most `maxFilesPerTrigger` per
    * micro-batch) → `pipeline` → `sink`, drained with
    * `Trigger.AvailableNow` over one checkpoint in a fresh temp tree,
    * then `readBack` over the finished run. `pinPartitions` pins
    * [[ReplayPartitions]] and `rocksDb` the [[stateStoreConf]] — both
    * applied only around each `start()` ([[Scope.withConf]]), so the
    * session's own conf is untouched while batches run. The temp tree
    * is removed after the read-back, also when a batch or the
    * read-back fails; a read-back that outlives it must materialize
    * (`localCheckpoint`). */
  private[graft] def driveReplay[T](spark: SparkSession, inDir: String,
      pipeline: DataFrame => DataFrame, sink: ReplaySink,
      maxFilesPerTrigger: Option[Int] = None, phases: ReplayPhases = SingleDrain,
      pinPartitions: Boolean = false, rocksDb: Option[Boolean] = None)(
      readBack: ReplayRun => T): T = {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val inSchema = graft.Tables.schemaOf(spark, inDir)
    val pins = (if (pinPartitions)
        Seq("spark.sql.shuffle.partitions" -> Some(ReplayPartitions.toString))
      else Nil) ++ rocksDb.toSeq.flatMap(stateStoreConf)
    val root = Files.createTempDirectory("graft-replay-run")
    val out = s"$root/out"
    def drain(): org.apache.spark.sql.types.StructType = {
      val src = spark.readStream.schema(inSchema)
      val df = pipeline(maxFilesPerTrigger.fold(src)(src.option("maxFilesPerTrigger", _))
        .parquet(inDir))
      val w = df.writeStream.option("checkpointLocation", s"$root/ck")
        .trigger(Trigger.AvailableNow())
      val q = Scope.withConf(spark, pins)((sink match {
        case ParquetSink => w.format("parquet").option("path", out)
          .outputMode(OutputMode.Append())
        case NoopSink => w.format("noop").outputMode(OutputMode.Append())
        case BatchSink(mode, write) => w.outputMode(mode).foreachBatch(write(out))
      }).start())
      try q.awaitTermination() finally q.stop()
      df.schema
    }
    try {
      val schema = phases match {
        case SingleDrain => drain()
        case SentinelFlush(sfDir) =>
          val maxTs = ReplayCorpus.get(spark, sfDir)._2
          val uid = java.util.UUID.randomUUID().toString.take(8)
          (1 to 2).map { i =>
            // content staged once per (dir, phase) — see
            // ReplayCorpus.sentinelFile; only the NAME must be fresh per
            // query for the file source
            Files.copy(ReplayCorpus.sentinelFile(spark, sfDir, i, maxTs),
              new java.io.File(inDir, s"zz-sentinel-$uid-$i.parquet").toPath)
            drain()
          }.last
      }
      readBack(ReplayRun(out, schema))
    } finally rmTree(root.toFile)
  }

  /** The driver-oracled replay: `pipeline` over `dir`'s
    * [[ReplayCorpus]] through the [[SentinelFlush]] into an Append
    * parquet sink at the pinned state layout, read back materialized. */
  private def replay(spark: SparkSession, dir: String,
      pipeline: DataFrame => DataFrame, rocksDb: Boolean = false): DataFrame =
    driveReplay(spark, ReplayCorpus.get(spark, dir)._1, pipeline, ParquetSink,
      phases = SentinelFlush(dir), pinPartitions = true,
      rocksDb = Option.when(rocksDb)(true)) { run =>
      spark.read.schema(run.schema).parquet(run.out).localCheckpoint(true)
    }

  /** Streaming ingestion decontamination — the ONLINE half of
    * [[graft.operators.Similarity.simDecontam]]: candidate training
    * vectors arrive as micro-batches and every (candidate, benchmark)
    * pair with cosine ≥ τ is flagged in the batch the candidate
    * arrived in, BEFORE it can enter the training pool. The index side
    * is static and built once batch-side: coarse centroids trained on
    * the benchmark corpus (exact-arithmetic k-means, so the oracle
    * retrains them bit-identically), per-list membership hash-capped
    * at 64 (same cap + thinning order as the batch operator), pinned
    * with persist.
    *
    * The streaming probe is STATELESS by construction: the ≤ NList
    * centroids are collected (bounded driver round-trip — an ANN
    * router is driver-resident by design) and baked into a literal
    * expression — a 16-struct array of (trunc4 cosine, −cid), sorted
    * descending, sliced to NProbe, exploded — so per-row probing is
    * pure scalar compute: no window function, no aggregation, no
    * watermark, and the stream-static equi-join on list_id is
    * Append-legal. Flag latency is one micro-batch.
    *
    * Scale: per incoming vector the join touches NProbe/NList of the
    * pinned index; at 100 TB the index is the bucketed-by-list layout
    * of [[graft.operators.Similarity.writeBucketedByList]] and the
    * probe join prunes to the probed buckets at the scan. Streaming
    * state: none. */
  def streamDecontam(spark: SparkSession, dir: String,
      threshold: Double = 0.4): DataFrame = Scope { s =>
    import org.apache.spark.sql.expressions.Window
    val Sim = graft.operators.Similarity
    // a failing stream or read-back still releases the pinned index
    val v = s.persist(Sim.withEmbD(graft.Tables.embeddings(spark, dir)))
    val tr = v.filter(pmod(col("vec_id"), lit(7L)) =!= 0)
    val cents = Sim.trainedCentroids(tr).localCheckpoint(true) // ≤ NList rows
    val capped = s.persist(tr.join(Sim.assignTo(tr, cents), "vec_id")
      .withColumn("crnk", row_number().over(Window.partitionBy(col("list_id"))
        .orderBy(graft.functions.TextHash.hash60(concat(lit("dcap|"), col("vec_id"))),
          col("vec_id"))))
      .filter(col("crnk") <= 64)
      .select(col("vec_id").as("train_id"), col("e").as("te"), col("list_id")))
    capped.count() // pin the index BEFORE micro-batches start re-planning
    val cl = cents.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    // top-NProbe lists as a pure scalar expression over the literal
    // centroid set: (qcos, -cid) structs sort exactly like the batch
    // operator's (qcos DESC, cid) window rank
    def probedLists(e: org.apache.spark.sql.Column): org.apache.spark.sql.Column =
      slice(sort_array(array(cl.map {
      case (cid, ce) => struct(
        graft.functions.Portable.trunc4(
          graft.functions.NativeVector.cosine(e, typedLit(ce))).as("qcos"),
        lit(-cid).as("ncid"))
    }: _*), asc = false), 1, Sim.NProbe)
    // batch boundaries don't affect the (stateless) result; slicing is
    // only there to exercise real multi-batch execution — the staged
    // slice is shared with streamIvfIncr ([[HoldoutCorpus]])
    // Stateless pipeline — the ReplayPartitions state-commit pin never
    // applied here (r12: removed; the broadcast probe join leaves no
    // session-width exchange in the batch plan). A per-micro-batch
    // repartition to spread the probe compute was A/B-measured SLOWER
    // at sf0.1 (4.81 → 5.34 s warm min-of-3: four extra exchanges buy
    // nothing when each batch is thousands of rows); at 100 TB the
    // scan itself has thousands of splits and needs no spread.
    driveReplay(spark, HoldoutCorpus.get(spark, dir), in => in
        .select(col("vec_id").as("q_id"), col("e").as("qe"),
          explode(probedLists(col("e"))).as("p"))
        .select(col("q_id"), col("qe"), (-col("p.ncid")).as("list_id"))
        .join(capped, Seq("list_id"))
        .select(col("q_id"), col("train_id").as("train_match"),
          graft.functions.Portable.trunc4(
            graft.functions.NativeVector.cosine(col("qe"), col("te"))).as("cos"))
        .filter(col("cos") >= threshold),
      ParquetSink, maxFilesPerTrigger = Some(1)) { run =>
      spark.read.schema(run.schema).parquet(run.out)
        .localCheckpoint(true) // flagged pairs ≪ corpus
    }
  }

  /** Event-time temporal join (Flink's "temporal table join" /
    * SQL:2011 `FOR SYSTEM_TIME AS OF`, expressed Spark-first): each
    * streaming purchase is enriched with the SCD2 dimension version
    * that was valid AT THE PURCHASE'S EVENT TIME — `user_id` equality
    * plus `valid_from ≤ ts < valid_to` — not whatever version happens
    * to be current when the micro-batch runs. Processing-time lookup
    * joins silently rewrite history on replay; the event-time interval
    * predicate is what makes reprocessing idempotent.
    *
    * The dimension ([[graft.operators.Monitoring.scd2]] over the same
    * corpus) is built batch-side and pinned; the stream side is a
    * stateless stream-static join (equi on user_id, interval as a
    * post-predicate), so the pipeline is Append-legal with zero
    * streaming state, and SCD2 intervals being disjoint per user makes
    * each purchase match exactly one version. At 100 TB the dimension
    * is the bucketed/broadcast side and the probe stays an equi-join
    * on the user key. */
  def streamScdEnrich(spark: SparkSession, dir: String): DataFrame = Scope { s =>
    val dim = s.persist(graft.operators.Monitoring.scd2(graft.Tables.events(spark, dir))
      .select(col("user_id").as("d_user"), col("status"),
        col("valid_from"), col("valid_to")))
    dim.count() // pin the dimension before micro-batches start
    replay(spark, dir, in => in
      .filter(col("event_type") === "purchase")
      .join(dim, col("user_id") === col("d_user") &&
        col("ts_ms") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts_ms") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("status"), col("cents")))
  }

  /** Online IVF index maintenance — the streaming half of
    * [[graft.operators.Similarity.ivfIncr]], completing the
    * batch/online symmetry the decontam pair established: vectors
    * arrive as micro-batches, each is assigned to the FROZEN router
    * (the cheap incremental add), and a per-list drift ledger —
    * add counts + how many adds would land elsewhere under the
    * seed-aligned retrained centroids — accumulates ACROSS batches in
    * streaming state, emitting the retrain signal the moment a list's
    * would-move fraction crosses `moveFrac`. This is the nightly
    * retrain-or-not decision made continuously instead of on a cron.
    *
    * Both centroid sets (≤ NList rows each) are trained batch-side
    * and baked into literal argmax expressions (the
    * [[streamDecontam]] driver-resident-router idiom), so the per-row
    * assignment is pure scalar compute. The ONLY streaming state is
    * the groupBy(list_id) aggregation: ≤ NList rows BY CONSTRUCTION
    * regardless of stream length — the strongest bounded-state shape
    * an operator can have (StreamingSpec asserts the peak).
    * Complete-mode snapshots land via foreachBatch
    * overwrite — the compacted ledger table a production pipeline
    * serves the retrain dashboard from; replaying the stream
    * reproduces the identical final snapshot (batch boundaries only
    * change WHEN rows fold in, never the fold itself).
    *
    * Scale: per arriving vector the assignment costs 2·NList literal
    * cosines in the scan projection (no join, no shuffle before the
    * ≤ NList-group agg, which is map-side combined). At 100 TB the
    * ledger stays NList rows; the retrain signal is free. */
  def streamIvfIncr(spark: SparkSession, dir: String,
      moveFrac: Double = 0.25, minAdds: Long = 3L): DataFrame = Scope { s =>
    val Sim = graft.operators.Similarity
    val v = s.persist(Sim.withEmbD(graft.Tables.embeddings(spark, dir)))
    val tr = v.filter(pmod(col("vec_id"), lit(7L)) =!= 0)
    val frozen = Sim.trainedCentroids(tr).localCheckpoint(true) // ≤ NList rows
    val retrained = Sim.retrainedAlignedCentroids(v, tr) // ≤ NList rows
    def lits(df: DataFrame): Array[(Int, Seq[Double])] =
      df.collect().map(r => (r.getInt(0), r.getSeq[Double](1)))
    // argmax over a literal centroid set: top-1 of (trunc4 cosine,
    // −cid) sorted descending == the batch operator's row_number
    // ORDER BY ccos DESC, cid — pure scalar compute, no state
    def assignLit(e: org.apache.spark.sql.Column,
        cl: Array[(Int, Seq[Double])]): org.apache.spark.sql.Column =
      -sort_array(array(cl.map { case (cid, ce) => struct(
        graft.functions.Portable.trunc4(
          graft.functions.NativeVector.cosine(e, typedLit(ce))).as("qcos"),
        lit(-cid).as("ncid"))
      }: _*), asc = false)(0)("ncid")
    val (fl, rl) = (lits(frozen), lits(retrained))
    // batch boundaries don't affect the final ledger; slicing only
    // exercises real multi-batch accumulation through state — the
    // staged slice is shared with streamDecontam ([[HoldoutCorpus]])
    // The pin sizes the ≤ NList-group STATE layout; the heavy work is
    // the 2·NList literal cosines per row, which would otherwise run
    // inside the 1-file-per-trigger scan stage — ONE task per batch.
    // Spread each micro-batch first (r12, guide §2): the assignment +
    // map-side partial agg then run cluster-wide, and only ≤ NList
    // partial rows per partition reach the pinned state exchange.
    driveReplay(spark, HoldoutCorpus.get(spark, dir), in => in
      .repartition(spark.sparkContext.defaultParallelism, col("vec_id"))
      .select(assignLit(col("e"), fl).as("list_id"),
        assignLit(col("e"), rl).as("retrained_list"))
      .groupBy(col("list_id"))
      .agg(count(lit(1)).as("n_added"),
        sum(when(col("list_id") =!= col("retrained_list"), 1L)
          .otherwise(0L)).as("n_would_move"))
      .select(col("list_id"), col("n_added"), col("n_would_move"),
        graft.functions.Portable.trunc4(
          col("n_would_move").cast("double") / col("n_added")).as("move_frac"),
        (col("n_added") >= minAdds &&
          graft.functions.Portable.trunc4(
            col("n_would_move").cast("double") / col("n_added")) >= moveFrac)
          .as("retrain")),
      BatchSink(OutputMode.Complete(), snap => (df, _) =>
        df.write.mode("overwrite").parquet(snap)), // compacted ledger snapshot
      maxFilesPerTrigger = Some(1), pinPartitions = true) { run =>
      spark.read.parquet(run.out)
        .localCheckpoint(true) // ≤ NList rows; materialize before rmTree
    }
  }

  /** Streaming event-time AS-OF enrichment — Flink's event-time
    * temporal join between two STREAMS, Spark-first: each purchase is
    * enriched with its user's LATEST prior click within the lookback
    * window (ties on c_ts broken by the larger click id), or
    * null-extended if none — "which touchpoint gets last-click credit,
    * decided by EVENT time", idempotent on replay where a
    * processing-time lookup would rewrite history.
    *
    * Two chained stateful operators, the Spark-4 multi-stateful path:
    * the bucketed LEFT OUTER interval join ([[pairsOuterPipeline]],
    * hot-key-safe by construction) feeds a per-purchase windowed
    * argmax — `max(struct(c_ts_ms, click_id))` grouped by the
    * purchase's event-time window — and the engine's operator-wise
    * watermark propagation lets the aggregation accept the join's
    * eviction-emitted null rows (their event time is behind the GLOBAL
    * watermark by then; the per-operator output watermark is what
    * admits them downstream). Exactly one output row per purchase,
    * law-pinned. State at 100 TB: the join's state is time-bounded per
    * (user, bucket); the argmax holds one struct per open
    * purchase-window — both O(traffic in the watermark horizon). */
  /** The chained join→argmax pipeline behind [[streamAsof]], shared
    * with the state-bound probes (exact oracled plan; probes pass a
    * far-future `maxTs` since they add no sentinels). */
  private[graft] def asofPipeline(watermarkMin: Long, lookbackMin: Long,
      maxTs: java.sql.Timestamp)(in: DataFrame): DataFrame =
    pairsOuterPipeline(watermarkMin, lookbackMin, maxTs, keepTs = true)(in)
      .groupBy(window(col("p_ts"), "10 minutes"), col("purchase_id"),
        col("user_id"), col("p_ts_ms"), col("p_cents"))
      .agg(max(struct(col("c_ts_ms"), col("click_id"))).as("last"))
      .select(col("purchase_id"), col("user_id"), col("p_ts_ms"),
        col("last.click_id").as("click_id"),
        col("last.c_ts_ms").as("c_ts_ms"),
        (col("p_ts_ms") - col("last.c_ts_ms")).as("gap_ms"),
        col("p_cents"))

  def streamAsof(spark: SparkSession, dir: String,
      watermarkMin: Long = 10L, lookbackMin: Long = 60L): DataFrame = {
    val maxTs = ReplayCorpus.get(spark, dir)._2
    replay(spark, dir, asofPipeline(watermarkMin, lookbackMin, maxTs))
  }

  /** Streaming near-duplicate ingest — the ONLINE half of
    * [[graft.operators.Dedup.incrementalMinhash]], completing the
    * batch/online symmetry for the dedup family the way
    * `q_stream_decontam` did for embedding decontamination: the
    * registry's LSH band index is built ONCE batch-side and pinned
    * (the persistent index a crawl pipeline maintains), and each
    * arriving micro-batch of documents probes it — shingle → 16
    * minhashes → band keys → equi-join on (band, bkey) against the
    * index → exact shingle-Jaccard verification of candidates only —
    * so a near-dup of historical content is flagged IN ITS ARRIVAL
    * BATCH, before it can enter the training pool (exact-hash
    * `q_stream_dedup` provably misses these; the fixture's perturbed
    * docs are the proof).
    *
    * Stateless by construction: a batch's flags depend only on that
    * batch and the pinned index, so the pipeline runs as `foreachBatch`
    * over the SAME [[graft.operators.Dedup.probeRegistry]] method the
    * batch operator delegates to — zero streaming state, Append-legal,
    * micro-batch boundaries provably irrelevant (the parity spec
    * replays ≥ 4 batches and matches the whole-batch operator
    * row-for-row, and the oracle IS `q_dedup_incr_minhash`'s). At
    * 100 TB the index is the bucketed band table; the probe stays a
    * band-keyed equi-join, never batch×registry. */
  def streamNeardup(spark: SparkSession, dir: String,
      threshold: Double = 0.5): DataFrame = Scope { s =>
    val D = graft.operators.Dedup
    val docs = graft.Tables.documents(spark, dir)
    val registry = s.persist(D.incrRegistryOf(docs)) // verify arm re-shingles candidates
    val regBands = s.persist(D.bandIndex(registry))
    val root = java.nio.file.Files.createTempDirectory("graft-snd")
    try {
      regBands.count() // pin the LSH index BEFORE micro-batches start
      val inDir = s"$root/in"
      // batch boundaries don't affect the (stateless) result; slicing is
      // only there to exercise real multi-batch execution
      D.incrBatchOf(docs).repartition(4).write.parquet(inDir)
      // NO ReplayPartitions pin here (r12): that pin exists to bound
      // PER-PARTITION STATE-STORE COMMITS, and this foreachBatch probe is
      // stateless — no state store ever commits. Pinning it to 4 only
      // narrowed the probe's candidate/verify joins (the CPU-heavy exact-
      // Jaccard arm) to 4 tasks per micro-batch; the r11 board's 5.2→8.1 s
      // regression tracked exactly that change. The probe runs at the
      // session's shuffle width like every other stateless batch join.
      // idempotent per micro-batch (ADVICE r10): foreachBatch is
      // at-least-once — a batch retried from the checkpoint after a
      // partial/full write would DUPLICATE flagged pairs under a plain
      // append sink, breaking dedup semantics on that run. Each batch
      // owns a batchId-named subdirectory written in overwrite mode, so
      // a retry replaces its own output instead of appending beside it.
      driveReplay(spark, inDir, identity, BatchSink(OutputMode.Append(),
          out => (b, batchId) => D.probeRegistry(registry, regBands, b, threshold)
            .write.mode("overwrite").parquet(s"$out/b$batchId")),
        maxFilesPerTrigger = Some(1)) { run =>
        val outSchema = org.apache.spark.sql.types.StructType(Seq(
          org.apache.spark.sql.types.StructField("batch_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("reg_id", org.apache.spark.sql.types.LongType),
          org.apache.spark.sql.types.StructField("jaccard", org.apache.spark.sql.types.DoubleType)))
        spark.read.schema(outSchema).option("recursiveFileLookup", "true")
          .parquet(run.out)
          .localCheckpoint(true) // flagged pairs ≪ corpus; materialize before rmTree
      }
    } finally rmTree(new java.io.File(root.toString))
  }

  // ---- driver wiring ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_stream_neardup" -> ((s, d) => streamNeardup(s, d)),
    "q_stream_asof" -> ((s, d) => streamAsof(s, d)),
    "q_stream_replay" -> ((s, d) => streamReplay(s, d)),
    "q_stream_dp" -> ((s, d) => streamDp(s, d)),
    "q_stream_sessions" -> ((s, d) => streamSessions(s, d)),
    "q_stream_dedup" -> ((s, d) => streamDedup(s, d)),
    "q_stream_enrich" -> ((s, d) => streamEnrich(s, d)),
    "q_stream_pairs" -> ((s, d) => streamPairs(s, d)),
    "q_stream_pairs_outer" -> ((s, d) => streamPairsOuter(s, d)),
    "q_stream_flags" -> ((s, d) => streamFlags(s, d)),
    "q_stream_balance" -> ((s, d) => streamBalance(s, d)),
    "q_stream_cdc" -> ((s, d) => streamCdc(s, d)),
    "q_stream_sliding" -> ((s, d) => streamSliding(s, d)),
    "q_stream_drift" -> ((s, d) => streamDrift(s, d)),
    "q_stream_ohlc" -> ((s, d) => streamOhlc(s, d)),
    "q_stream_topk" -> ((s, d) => streamTopK(s, d)),
    "q_stream_unique" -> ((s, d) => streamUniqueUsers(s, d)),
    "q_stream_kmv" -> ((s, d) => streamKmv(s, d)),
    "q_stream_cms" -> ((s, d) => streamCms(s, d)),
    "q_stream_hll" -> ((s, d) => streamHll(s, d)),
    "q_stream_quantile" -> ((s, d) => streamQuantile(s, d)),
    "q_stream_rate_limit" -> ((s, d) => streamRateLimit(s, d)),
    "q_stream_funnel" -> ((s, d) => streamFunnel(s, d)),
    "q_stream_funnel_tws" -> ((s, d) => streamFunnelTws(s, d)),
    "q_stream_sessions_tws" -> ((s, d) => streamSessionsTws(s, d)),
    "q_stream_ledger_tws" -> ((s, d) => streamLedgerTws(s, d)),
    "q_stream_sess_rollup" -> ((s, d) => streamSessRollup(s, d)),
    "q_stream_ledger_init" -> ((s, d) => streamLedgerInit(s, d)),
    "q_stream_burst" -> ((s, d) => streamBurst(s, d)),
    "q_stream_decontam" -> ((s, d) => streamDecontam(s, d)),
    "q_stream_scd_enrich" -> ((s, d) => streamScdEnrich(s, d)),
    "q_stream_ivf_incr" -> ((s, d) => streamIvfIncr(s, d)))

  /** The tumbling-window batch equivalent — checks [[streamReplay]]
    * directly and [[streamDedup]] (exactly-once: the redelivered copies
    * must NOT show up in the counts). */
  private val tumblingOracle: String =
    "SELECT (epoch_ms(ts) // 300000) * 300000 AS win_start_ms, event_type, " +
      "count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
      "FROM events GROUP BY 1, 2"

  /** Shared by q_stream_funnel and its transformWithState port. */
  private val funnelOracleSql: String =
    "WITH ev AS (SELECT user_id, epoch_ms(ts)::BIGINT ts_ms, " +
      "CASE WHEN event_type = 'view' THEN 1 WHEN event_type = 'click' THEN 2 " +
      "WHEN event_type = 'purchase' THEN 3 ELSE 0 END kind FROM events), " +
      "nv AS (SELECT user_id, count(*)::BIGINT n_events, " +
      "coalesce(min(CASE WHEN kind = 1 THEN ts_ms END), -1)::BIGINT v FROM ev GROUP BY 1), " +
      "cl AS (SELECT nv.user_id, n_events, v, " +
      "coalesce(min(CASE WHEN kind = 2 AND ts_ms > v AND v >= 0 THEN ts_ms END), -1)::BIGINT c " +
      "FROM nv JOIN ev ON ev.user_id = nv.user_id GROUP BY 1, 2, 3), " +
      "pu AS (SELECT cl.user_id, n_events, v, c, " +
      "coalesce(min(CASE WHEN kind = 3 AND ts_ms > c AND c >= 0 THEN ts_ms END), -1)::BIGINT p " +
      "FROM cl JOIN ev ON ev.user_id = cl.user_id GROUP BY 1, 2, 3, 4) " +
      "SELECT user_id, n_events, " +
      "(CASE WHEN p >= 0 THEN 3 WHEN c >= 0 THEN 2 WHEN v >= 0 THEN 1 ELSE 0 END)::BIGINT stage, " +
      "v AS view_ms, c AS click_ms, p AS purchase_ms FROM pu"

  val oracleSql: Map[String, String] = Map(
    // the streaming near-dup probe is stateless and replays the exact
    // batch probe per micro-batch, so the oracle IS the batch
    // incremental-minhash oracle, verbatim
    "q_stream_neardup" ->
      graft.operators.Dedup.oracleSql("q_dedup_incr_minhash"),
    // streaming decontamination is stateless, so the batch equivalent
    // is exactly the shared scored-pair chain with no aggregation
    "q_stream_decontam" ->
      (graft.operators.Similarity.dcOraclePrefix +
        "SELECT q_id, vec_id AS train_match, cos FROM dc_sc WHERE cos >= 0.4"),
    // the streaming ledger is a pure cumulative aggregate, so the
    // batch equivalent is the frozen/retrained assignment pair of the
    // full held-out slice grouped by frozen list (ivfIncr's move half,
    // plus the trunc4 drift fraction and the retrain signal)
    "q_stream_ivf_incr" ->
      (graft.operators.Similarity.iiOraclePrefix +
        "SELECT f.frozen_list AS list_id, count(*) AS n_added, " +
        "sum(CASE WHEN f.frozen_list <> r.retrained_list THEN 1 ELSE 0 END)::BIGINT " +
        "AS n_would_move, " +
        "floor(sum(CASE WHEN f.frozen_list <> r.retrained_list THEN 1 ELSE 0 END)::DOUBLE " +
        "/ count(*) * 10000) / 10000 AS move_frac, " +
        "(count(*) >= 3 AND " +
        "floor(sum(CASE WHEN f.frozen_list <> r.retrained_list THEN 1 ELSE 0 END)::DOUBLE " +
        "/ count(*) * 10000) / 10000 >= 0.25) AS retrain " +
        "FROM ii_af f JOIN ii_ar r USING (vec_id) GROUP BY 1"),
    // the temporal join is stateless, so the batch equivalent is the
    // same SCD2 build + interval join over the full corpus
    "q_stream_scd_enrich" ->
      ("WITH ch AS (SELECT user_id, event_type, epoch_ms(ts)::BIGINT ts_ms, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) prev " +
        "FROM events), " +
        "iv AS (SELECT user_id, event_type status, ts_ms valid_from, " +
        "lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) valid_to " +
        "FROM ch WHERE prev IS NULL OR prev <> event_type), " +
        "p AS (SELECT event_id, user_id, epoch_ms(ts)::BIGINT ts_ms, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) cents FROM events " +
        "WHERE event_type = 'purchase') " +
        "SELECT p.event_id, p.user_id, p.ts_ms, iv.status, p.cents " +
        "FROM p JOIN iv ON p.user_id = iv.user_id AND p.ts_ms >= iv.valid_from " +
        "AND (iv.valid_to IS NULL OR p.ts_ms < iv.valid_to)"),
    // sequential token-bucket admission, replayed per user by a
    // recursive CTE stepping event rank i -> i+1 (depth = max events
    // per user); same integer units as the stateful operator
    "q_stream_rate_limit" ->
      ("WITH RECURSIVE ev AS (SELECT user_id, epoch_ms(ts)::BIGINT ts_ms, event_id, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) rk " +
        "FROM events), " +
        "rec AS (SELECT user_id, rk, ts_ms, 1::BIGINT adm, " +
        "(3 * 21600000 - 21600000)::BIGINT tokens FROM ev WHERE rk = 1 " +
        "UNION ALL SELECT e.user_id, e.rk, e.ts_ms, " +
        "r.adm + CASE WHEN least(64800000, r.tokens + (e.ts_ms - r.ts_ms)) >= 21600000 " +
        "THEN 1 ELSE 0 END, " +
        "least(64800000, r.tokens + (e.ts_ms - r.ts_ms)) - " +
        "CASE WHEN least(64800000, r.tokens + (e.ts_ms - r.ts_ms)) >= 21600000 " +
        "THEN 21600000 ELSE 0 END " +
        "FROM rec r JOIN ev e ON e.user_id = r.user_id AND e.rk = r.rk + 1), " +
        "fin AS (SELECT user_id, max(rk)::BIGINT mrk FROM ev GROUP BY 1) " +
        "SELECT r.user_id, f.mrk AS n_events, r.adm AS n_admitted, " +
        "(f.mrk - r.adm)::BIGINT AS n_throttled, r.tokens AS final_tokens_ms " +
        "FROM rec r JOIN fin f ON r.user_id = f.user_id AND r.rk = f.mrk"),
    "q_stream_funnel" -> funnelOracleSql,
    // the fMGWS funnel's oracle VERBATIM: the transformWithState port
    // must land identical rows — same buffers, same timers-by-watermark
    "q_stream_funnel_tws" -> funnelOracleSql,
    "q_stream_ohlc" ->
      ("WITH t AS (SELECT (epoch_ms(ts) // 3600000) * 3600000 AS win_start_ms, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "lpad(epoch_ms(ts)::VARCHAR, 14, '0') || lpad(event_id::VARCHAR, 12, '0') AS k " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT win_start_ms, arg_min(cents, k) AS open_cents, " +
        "max(cents) AS high_cents, min(cents) AS low_cents, " +
        "arg_max(cents, k) AS close_cents, count(*) AS n_trades, " +
        "sum(cents)::BIGINT AS volume_cents FROM t GROUP BY 1"),
    // the batch detector's oracle verbatim: stream state + shared
    // read-back must land the identical rows
    "q_stream_burst" -> graft.operators.Monitoring.oracleSql("q_burst_detect"),
    "q_stream_topk" ->
      ("WITH c AS (SELECT (epoch_ms(ts) // 3600000) * 3600000 AS win_start_ms, user_id, " +
        "count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2) " +
        "SELECT win_start_ms, user_id, n, cents, row_number() OVER " +
        "(PARTITION BY win_start_ms ORDER BY n DESC, user_id)::BIGINT AS rnk " +
        "FROM c QUALIFY rnk <= 3"),
    "q_stream_unique" ->
      ("SELECT (epoch_ms(ts) // 3600000) * 3600000 AS h_ms, event_type, " +
        "count(DISTINCT user_id) AS n_unique_users FROM events GROUP BY 1, 2"),
    "q_stream_kmv" ->
      ("WITH h AS (SELECT DISTINCT event_type, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM events), " +
        "r AS (SELECT event_type, h, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY h) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS nd FROM h) " +
        "SELECT event_type, LEAST(nd, 64)::BIGINT AS n_min, " +
        "CASE WHEN nd >= 64 THEN h END AS kth_hash, " +
        s"CASE WHEN nd >= 64 THEN floor(${63.0 * (1L << 60).toDouble}::DOUBLE / h * 10000) / 10000 " +
        "ELSE nd::DOUBLE END AS est " +
        "FROM r WHERE rn = CASE WHEN nd >= 64 THEN 64 ELSE nd END"),
    // shared VERBATIM with the batch operator: the streamed counters
    // must reconstruct the identical sketch
    "q_stream_cms" -> graft.operators.Sketches.oracleSql("q_cms_heavy_hitters"),
    "q_stream_hll" -> graft.operators.Sketches.oracleSql("q_hll_distinct"),
    // the batch quantile oracle's shape over the stream corpus's exact
    // cent bins (cents = floor(value·100 + 0.5), the ReplayCorpus law)
    "q_stream_quantile" ->
      ("WITH bins AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 6400 AS bin, " +
        "count(*) cnt FROM events GROUP BY 1), " +
        "c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin)::BIGINT cum, " +
        "sum(cnt) OVER ()::BIGINT total FROM bins), " +
        "p AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) p), " +
        "t AS (SELECT p, total, bin, cnt, cum, p * total target FROM c CROSS JOIN p) " +
        "SELECT p, total AS n_total, bin, " +
        "floor((bin * 64.0 + (target - (cum - cnt))::DOUBLE / cnt * 64.0) * 10000) / 10000 AS est " +
        "FROM t WHERE cum >= target AND (cum - cnt) < target"),
    "q_stream_replay" -> tumblingOracle,
    "q_stream_dp" ->
      ("WITH sdh AS (SELECT (epoch_ms(ts) // 3600000) * 3600000 AS win_start_ms, " +
        "count(*) AS n FROM events GROUP BY 1), " +
        "sdu AS (SELECT win_start_ms, n, " +
        "(('0x' || substr(md5('dpw|' || win_start_ms::VARCHAR), 1, 15))::BIGINT::DOUBLE + 0.5) " +
        "/ 1152921504606846976.0 AS u FROM sdh), " +
        "sdl AS (SELECT win_start_ms, n, " +
        "-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS lap FROM sdu) " +
        "SELECT win_start_ms, n, CAST(floor(lap * 1000000.0) AS BIGINT) AS lap_scaled, " +
        "n + CAST(floor(lap + 0.5) AS BIGINT) AS released FROM sdl"),
    "q_stream_dedup" -> tumblingOracle,
    "q_stream_enrich" ->
      ("SELECT (epoch_ms(ts) // 86400000) * 86400000 AS win_start_ms, c_nationkey, " +
        "count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events JOIN customer ON user_id = c_custkey GROUP BY 1, 2"),
    "q_stream_pairs" ->
      ("SELECT p.event_id AS purchase_id, c.event_id AS click_id, p.user_id, " +
        "epoch_ms(p.ts)::BIGINT AS p_ts_ms, epoch_ms(c.ts)::BIGINT AS c_ts_ms, " +
        "CAST(floor(p.value * 100 + 0.5) AS BIGINT) AS p_cents " +
        "FROM events p JOIN events c ON p.user_id = c.user_id " +
        "AND p.event_type = 'purchase' AND c.event_type = 'click' " +
        "AND c.ts <= p.ts AND c.ts >= p.ts - INTERVAL 60 MINUTES"),
    "q_stream_asof" ->
      ("WITH ap AS (SELECT event_id AS purchase_id, user_id, ts AS p_ts, " +
        "epoch_ms(ts)::BIGINT AS p_ts_ms, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS p_cents " +
        "FROM events WHERE event_type = 'purchase'), " +
        "ac AS (SELECT event_id AS click_id, user_id, ts AS c_ts, " +
        "epoch_ms(ts)::BIGINT AS c_ts_ms FROM events " +
        "WHERE event_type = 'click'), " +
        "aj AS (SELECT ap.purchase_id, ap.user_id, ap.p_ts_ms, ac.click_id, " +
        "ac.c_ts_ms, ap.p_cents, row_number() OVER (PARTITION BY ap.purchase_id " +
        "ORDER BY ac.c_ts_ms DESC NULLS LAST, ac.click_id DESC NULLS LAST) AS rn " +
        "FROM ap LEFT JOIN ac ON ap.user_id = ac.user_id AND ac.c_ts <= ap.p_ts " +
        "AND ac.c_ts >= ap.p_ts - INTERVAL 60 MINUTES) " +
        "SELECT purchase_id, user_id, p_ts_ms, click_id, c_ts_ms, " +
        "p_ts_ms - c_ts_ms AS gap_ms, p_cents FROM aj WHERE rn = 1"),
    "q_stream_pairs_outer" ->
      ("SELECT p.purchase_id, c.click_id, p.user_id, p.p_ts_ms, c.c_ts_ms, p.p_cents " +
        "FROM (SELECT event_id AS purchase_id, user_id, ts AS p_ts, " +
        "epoch_ms(ts)::BIGINT AS p_ts_ms, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS p_cents " +
        "FROM events WHERE event_type = 'purchase') p " +
        "LEFT JOIN (SELECT event_id AS click_id, user_id, ts AS c_ts, " +
        "epoch_ms(ts)::BIGINT AS c_ts_ms FROM events " +
        "WHERE event_type = 'click') c " +
        "ON p.user_id = c.user_id AND c.c_ts <= p.p_ts " +
        "AND c.c_ts >= p.p_ts - INTERVAL 60 MINUTES"),
    "q_stream_sliding" ->
      ("SELECT ((epoch_ms(ts) // 300000) - k) * 300000 AS win_start_ms, event_type, " +
        "count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events CROSS JOIN (SELECT unnest([0, 1]) AS k) GROUP BY 1, 2"),
    "q_stream_drift" ->
      ("WITH b AS (SELECT (epoch_ms(ts) // 86400000) * 86400000 AS day_ms, " +
        "least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 5000, 9) AS bin FROM events), " +
        "c AS (SELECT day_ms, bin, count(*) AS n FROM b GROUP BY 1, 2), " +
        "g AS (SELECT d.day_ms, unnest(range(0, 10)) AS bin " +
        "FROM (SELECT DISTINCT day_ms FROM b) d), " +
        "f AS (SELECT g.day_ms, g.bin, coalesce(c.n, 0) AS n FROM g " +
        "LEFT JOIN c ON g.day_ms = c.day_ms AND g.bin = c.bin), " +
        "t AS (SELECT *, sum(n) OVER (PARTITION BY day_ms) AS n_tot FROM f), " +
        "p AS (SELECT day_ms, bin, n, (n + 1)::DOUBLE / (n_tot + 10) AS p FROM t), " +
        "d0 AS (SELECT min(day_ms) AS d0 FROM b), " +
        "r AS (SELECT bin, p AS p_ref FROM p CROSS JOIN d0 WHERE day_ms = d0), " +
        "s AS (SELECT p.day_ms, p.n, " +
        "CAST(floor((p.p - r.p_ref) * ln(p.p / r.p_ref) * 100000000) AS BIGINT) " +
        "AS term_scaled FROM p JOIN r USING (bin)) " +
        "SELECT day_ms, sum(n)::BIGINT AS n_day, " +
        "floor(sum(term_scaled)::DOUBLE / 100000000 * 10000) / 10000 AS psi " +
        "FROM s GROUP BY 1"),
    "q_stream_cdc" ->
      ("WITH r AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "row_number() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) AS rn " +
        "FROM events) " +
        "SELECT user_id, event_id AS last_event_id, ts_ms::BIGINT AS last_ts_ms, " +
        "cents AS last_cents FROM r WHERE rn = 1"),
    "q_stream_balance" ->
      ("SELECT user_id, count(*) AS n, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1"),
    "q_stream_flags" ->
      ("WITH b AS (SELECT user_id, (epoch_ms(ts) // 86400000) * 86400000 AS win_start_ms, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events " +
        "WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) >= 5000 " +
        "AND CAST(floor(value * 100 + 0.5) AS BIGINT) < 10000) " +
        "SELECT win_start_ms, user_id, count(*) AS n_sub, sum(cents)::BIGINT AS cents_sub " +
        "FROM b GROUP BY 1, 2 HAVING count(*) >= 3 AND sum(cents) >= 15000"),
    "q_stream_sessions" -> sessionsOracleSql,
    // the session_window aggregation's oracle VERBATIM: the
    // transformWithState ListState port must land the identical
    // gaps-and-islands rows
    "q_stream_sessions_tws" -> sessionsOracleSql,
    // the MapState ledger emits exactly the batch per-(user, type)
    // totals — addition commutes, so arrival order can't matter
    "q_stream_ledger_tws" ->
      ("SELECT user_id, event_type, count(*) AS n, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2"),
    // the warm-started ledger must equal the SAME full-corpus totals:
    // pre-cutoff history enters via handleInitialState, the stream
    // carries only the tail, and the seam must be invisible
    "q_stream_ledger_init" ->
      ("SELECT user_id, event_type, count(*) AS n, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2"),
    // sessions (the shared gaps-and-islands CTE) rolled up to the day
    // their window_time (= last_ts + gap − 1 µs) lands in — the µs
    // arithmetic matches Spark's chained window(window_time(sess))
    "q_stream_sess_rollup" ->
      ("WITH flagged AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL " +
        "OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000 THEN 1 ELSE 0 END AS ns " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)), " +
        "s AS (SELECT user_id, ts_ms, cents, " +
        "sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
        "ROWS UNBOUNDED PRECEDING) AS sess_no FROM flagged), " +
        "sess AS (SELECT user_id, sess_no, count(*) AS n, sum(cents) AS cents, " +
        "max(ts_ms) AS last_ms FROM s GROUP BY 1, 2) " +
        "SELECT (((last_ms + 1800000) * 1000 - 1) // 86400000000 * 86400000)::BIGINT AS day_ms, " +
        "count(*) AS n_sessions, sum(n)::BIGINT AS n_events, " +
        "sum(cents)::BIGINT AS cents FROM sess GROUP BY 1"))

  /** Shared by q_stream_sessions and its transformWithState port
    * (a def: it is referenced above its definition in the object body,
    * and a forward-referenced val would still be null when the
    * oracleSql map initializes). */
  private def sessionsOracleSql: String =
    "WITH flagged AS (SELECT user_id, epoch_ms(ts) AS ts_ms, event_id, " +
      "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
      "CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL " +
      "OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w >= 1800000 THEN 1 ELSE 0 END AS ns " +
      "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)), " +
      "s AS (SELECT user_id, ts_ms, cents, " +
      "sum(ns) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
      "ROWS UNBOUNDED PRECEDING) AS sess_no FROM flagged) " +
      "SELECT min(ts_ms)::BIGINT AS sess_start_ms, user_id, count(*) AS n, " +
      "sum(cents)::BIGINT AS cents FROM s GROUP BY user_id, sess_no"

  /** Start a query into an in-memory sink (tests / interactive). */
  def toMemory(df: DataFrame, name: String, mode: OutputMode = OutputMode.Append()): StreamingQuery =
    df.writeStream.format("memory").queryName(name).outputMode(mode).start()

  /** Production-shaped sink: idempotent micro-batch parquet via
    * foreachBatch. mode("overwrite") on the per-batchId directory is the
    * idempotency guarantee: if a micro-batch fails after writing but
    * before the checkpoint commit, the restarted query re-runs the same
    * batchId and REPLACES the partial output instead of appending a
    * second copy — checkpointed offsets + batch-id-keyed overwrite ⇒
    * exactly-once in the sink. */
  def toParquetBatches(df: DataFrame, outDir: String, checkpoint: String): StreamingQuery =
    df.writeStream
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        batch.write.mode("overwrite").parquet(s"$outDir/batch=$batchId")
      }
      .option("checkpointLocation", checkpoint)
      .start()
}
