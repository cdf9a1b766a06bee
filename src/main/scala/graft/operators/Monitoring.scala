package graft.operators

import graft.{Scope, Tables}
import graft.functions.Portable.{trunc2, trunc4}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Transaction-monitoring analytics over the `events` stream table —
  * the batch siblings of the reference's monitoring intent
  * (`monitoring-service/src/main.rs` holds transactions to scan them
  * for patterns; SURVEY.md §0 frames the system as financial
  * transaction monitoring). Each operator is a single-pass declarative
  * plan: scan-level filters push into parquet, aggregations combine
  * map-side, and window operators shuffle once on their partition key.
  *
  * Engine-portability: every float comparison that decides ROW
  * MEMBERSHIP goes through a 2-decimal rounded sum (deterministic for
  * double sums at these magnitudes) or an integer, so the DuckDB
  * oracle reproduces membership exactly; emitted measures are
  * truncated (`trunc4`), never tie-rounded.
  */
object Monitoring {

  private def r2(c: Column): Column = round(c, 2)

  /** AML structuring (smurfing) detection: users who split what would
    * be one reportable transaction into several just-below-threshold
    * ones on the same day. Flags (user, day) groups with >= `minTxns`
    * events valued in [lo, hi) whose rounded sum >= `minTotal`.
    *
    * Scale: the value-band predicate pushes into the parquet scan
    * (min/max row-group skipping), then ONE hash aggregate on
    * (user_id, day) with map-side combine — no joins, no windows; the
    * HAVING runs post-agg on combined rows. At 100 TB this is a scan +
    * one narrow shuffle of per-(user, day) partials. */
  def structuring(ev: DataFrame, lo: Double = 50.0, hi: Double = 100.0,
      minTxns: Long = 3L, minTotal: Double = 150.0): DataFrame =
    ev.filter(col("value") >= lo && col("value") < hi)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n_sub"), r2(sum(col("value"))).as("sum_sub"))
      .filter(col("n_sub") >= minTxns && col("sum_sub") >= minTotal)

  /** Per-user amount outliers: events whose value sits more than
    * `zThresh` sample standard deviations above the user's own mean
    * (one-sided — unusually LARGE amounts are the monitoring signal).
    * Users with fewer than `minN` events are skipped (no stable
    * baseline).
    *
    * The mean/variance derive from 2-decimal ROUNDED sum and
    * sum-of-squares (not streaming `avg`/`stddev`) so both engines
    * compute the flag predicate from identical doubles — a raw
    * `stddev` disagrees across engines in the last ulp and a boundary
    * row would flip membership. One unbounded window over user_id =
    * one shuffle; no second pass, no join back. */
  def amountOutliers(ev: DataFrame, zThresh: Double = 3.0, minN: Long = 10L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    val stats = ev.select(col("event_id"), col("user_id"), col("value"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("s", r2(sum(col("value")).over(w)))
      .withColumn("sq", r2(sum(col("value") * col("value")).over(w)))
    val mean = col("s") / col("n")
    val variance = (col("sq") - col("s") * col("s") / col("n")) / (col("n") - 1)
    stats
      .filter(col("n") >= minN && variance > 0 &&
        (col("value") - mean) > lit(zThresh) * sqrt(variance))
      .select(col("event_id"), col("user_id"), col("value"),
        trunc4((col("value") - mean) / sqrt(variance)).as("z"))
  }

  /** Benford first-digit audit per event type: observed share of each
    * leading digit vs the Benford expectation log10(1 + 1/d). Fabricated
    * or structured amounts drift from the curve; the deviation column
    * is the per-digit audit signal.
    *
    * The digit comes from the DECIMAL STRING of floor(value) — integer
    * formatting is identical across engines, where float-log digit
    * extraction (`floor(value / 10^floor(log10 v))`) can flip at exact
    * powers of ten. Values < 1 carry no leading digit and are excluded.
    * One hash aggregate + a 45-row window — scan-bound at scale. */
  def benford(ev: DataFrame): DataFrame = {
    val byDigit = ev.filter(col("value") >= 1)
      .select(col("event_type"),
        substring(floor(col("value")).cast("long").cast("string"), 1, 1).as("digit"))
      .groupBy(col("event_type"), col("digit"))
      .agg(count(lit(1)).as("n"))
    val w = Window.partitionBy(col("event_type"))
    byDigit
      .withColumn("share", trunc4(col("n").cast("double") / sum(col("n")).over(w)))
      .withColumn("expected",
        trunc4(log10(lit(1.0) + lit(1.0) / col("digit").cast("double"))))
      .select(col("event_type"), col("digit"), col("n"), col("share"),
        col("expected"), trunc4(abs(col("share") - col("expected"))).as("abs_dev"))
  }

  /** SCD2 build from a change log: collapse each user's event stream
    * into status validity intervals — one row per status CHANGE with
    * [valid_from, valid_to) in epoch millis, `valid_to` null on the
    * open (current) interval. The standard dimension-building pattern
    * for incremental pipelines (CDC → SCD2).
    *
    * Two windows over the SAME (partition key, sort order): Catalyst
    * plans one exchange + one sort — the change-filter preserves both
    * the partitioning and the order, so `lead` reuses them. At scale:
    * a single shuffle on user_id, state bounded by per-user history. */
  def scd2(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNull || col("prev") =!= col("event_type"))
      .withColumn("valid_to", lead(col("ts_ms"), 1).over(w))
      .select(col("user_id"), col("event_type").as("status"),
        col("ts_ms").as("valid_from"), col("valid_to"),
        col("valid_to").isNull.as("is_current"))
  }

  /** Per-event trailing-window features — the feature-engineering pass
    * a model-training pipeline runs over raw history: trailing-7-day
    * event count and min/max amount (RANGE frame on epoch millis),
    * previous amount, and the gap to the previous event. Every output
    * is engine-exact (counts, min/max, lags — no frame SUMS, whose
    * accumulation order is engine-specific; see
    * SqlCoverage.windowRangeFrame's precedent). One shuffle: all four
    * windows share the (user_id, ts_ms) partitioning and sort. */
  def rollingFeatures(ev: DataFrame, windowMs: Long = 7L * 86400000L): DataFrame = {
    val byTime = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms")).rangeBetween(-windowMs, 0)
    val byRow = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
    ev.select(col("event_id"), col("user_id"), col("ts_ms"), col("value"))
      .withColumn("n_7d", count(lit(1)).over(byTime))
      .withColumn("min_7d", min(col("value")).over(byTime))
      .withColumn("max_7d", max(col("value")).over(byTime))
      .withColumn("prev_value", lag(col("value"), 1).over(byRow))
      .withColumn("gap_ms", col("ts_ms") - lag(col("ts_ms"), 1).over(byRow))
  }

  /** Per-type data-contract audit — the pre-ingest validation pass:
    * volume, null-metadata rate inputs, negative-amount violations,
    * observed time range, user cardinality. One hash aggregate; every
    * measure is an integer (engine-exact). */
  def dqAudit(ev: DataFrame): DataFrame =
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("props").isNull, 1L).otherwise(0L)).as("n_null_props"),
        sum(when(col("value") < 0, 1L).otherwise(0L)).as("n_negative"),
        min(col("ts_ms")).as("min_ts_ms"),
        max(col("ts_ms")).as("max_ts_ms"),
        countDistinct(col("user_id")).as("n_users"))

  /** Two-snapshot schema/profile drift audit — [[dqAudit]]'s
    * between-loads sibling and the check that catches what a
    * fingerprint mismatch ([[tableFingerprint]]) can only FLAG: per
    * column, HOW the new load differs — row count, null rate, distinct
    * cardinality — with truncated deltas and boolean drift verdicts
    * (null-rate shift ≥ 0.5 pp; distinct count outside 0.5–2× of the
    * baseline). The canonical first responder when a upstream team
    * "didn't change anything".
    *
    * The gate corpus ships only one load, so snapshot B is derived
    * deterministically (drop the 1-in-11 event_id slice, null `value`
    * on the 1-in-13 slice — the perturbed-corpus discipline the
    * lateness/incremental audits use; production passes two real
    * loads). Shape: ONE aggregate pass per snapshot — the per-column
    * null/distinct measures ride a single hash-agg (Spark expands the
    * multi-distinct internally), then `stack` reshapes the 1-row
    * profile into per-column rows and the A⋈B join runs on ≤|columns|
    * rows. */
  def schemaDrift(ev: DataFrame): DataFrame = {
    val cols = Seq("event_id", "user_id", "event_type", "value", "props")
    val a = ev.select(cols.map(col): _*)
    val b = a.filter(pmod(col("event_id"), lit(11)) =!= 0)
      .withColumn("value", when(pmod(col("event_id"), lit(13)) === 0,
        lit(null).cast("double")).otherwise(col("value")))
    def profile(df: DataFrame, tag: String): DataFrame = {
      val aggs = count(lit(1)).as("n_rows") +: cols.flatMap(c => Seq(
        sum(when(col(c).isNull, 1L).otherwise(0L)).as(s"${c}_nulls"),
        countDistinct(col(c)).as(s"${c}_distinct")))
      df.agg(aggs.head, aggs.tail: _*)
        .selectExpr(s"n_rows AS n_rows_$tag",
          s"stack(${cols.length}, " +
            cols.map(c => s"'$c', ${c}_nulls, ${c}_distinct").mkString(", ") +
            s") AS (column_name, n_nulls_$tag, n_distinct_$tag)")
    }
    profile(a, "a").join(profile(b, "b"), "column_name")
      .withColumn("null_rate_delta", trunc4(
        col("n_nulls_b") / col("n_rows_b") - col("n_nulls_a") / col("n_rows_a")))
      .withColumn("distinct_ratio", trunc4(col("n_distinct_b") / col("n_distinct_a")))
      .withColumn("null_drift", abs(col("null_rate_delta")) >= 0.005)
      .withColumn("distinct_drift",
        col("distinct_ratio") < 0.5 || col("distinct_ratio") > 2.0)
      .select(col("column_name"), col("n_rows_a"), col("n_rows_b"),
        col("n_nulls_a"), col("n_nulls_b"), col("n_distinct_a"), col("n_distinct_b"),
        col("null_rate_delta"), col("distinct_ratio"),
        col("null_drift"), col("distinct_drift"))
  }

  /** The monitoring capstone: both flag families over one input,
    * fused per user — the screening report a compliance pipeline
    * emits. Composition stays one lazy plan: both detectors read the
    * fact through `spread` on user_id, so their user-keyed aggregate
    * and window, the union of the narrow (user, kind, amount) flag
    * rows, and the final aggregate all run on that one partitioning
    * (the [[alertTriage]] shape). */
  def flagSummary(ev: DataFrame): DataFrame = {
    val u = graft.functions.Portable.spread(ev, col("user_id"))
    val s = structuring(u).select(col("user_id"),
      lit("structuring").as("flag"), col("sum_sub").as("amount"))
    val o = amountOutliers(u).select(col("user_id"),
      lit("outlier").as("flag"), col("value").as("amount"))
    s.unionByName(o)
      .groupBy(col("user_id"), col("flag"))
      .agg(count(lit(1)).as("n_flags"), r2(sum(col("amount"))).as("flagged_amount"))
  }

  /** Velocity rule: events whose user produced >= `minN` events inside
    * the trailing `windowMs` (the event itself included) — the burst /
    * card-testing signal every monitoring engine ships. One RANGE-frame
    * window (frame membership is by ts_ms VALUE, so timestamp ties are
    * handled identically in any engine) = one shuffle on user_id; the
    * count is an integer, so the flag predicate is engine-exact. At
    * 100 TB this is the cheapest possible sliding window: no self-join,
    * no bucket explosion, state bounded by per-window event density. */
  def velocityBursts(ev: DataFrame, windowMs: Long = 3600000L, minN: Long = 3L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms")).rangeBetween(-windowMs, 0)
    ev.select(col("event_id"), col("user_id"), col("ts_ms"))
      .withColumn("n_win", count(lit(1)).over(w))
      .filter(col("n_win") >= minN)
  }

  /** Dormancy awakening: an account quiet for >= `dormantMs` that
    * suddenly moves >= `minValue` — the reactivation-fraud signal
    * (takeover of a stale account). One `lag` over (user_id, ts_ms,
    * event_id) — the event_id tiebreak keeps the previous-event choice
    * deterministic under timestamp ties — then a pure row filter; the
    * gap is integer millis, the value threshold compares the stored
    * double directly, so membership is engine-exact. */
  def dormantAwakening(ev: DataFrame, dormantMs: Long = 2L * 86400000L,
      minValue: Double = 50.0): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.select(col("event_id"), col("user_id"), col("ts_ms"), col("value"))
      .withColumn("prev_ms", lag(col("ts_ms"), 1).over(w))
      .filter(col("prev_ms").isNotNull &&
        col("ts_ms") - col("prev_ms") >= dormantMs && col("value") >= minValue)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        (col("ts_ms") - col("prev_ms")).as("gap_ms"), col("value"))
  }

  /** Offsetting (wash / round-trip) pairs: two events of the SAME user
    * with the SAME integer-cent amount within `windowMs` of each other
    * — the in-and-out layering signal. The amount equality is PART OF
    * THE JOIN KEY (user_id, cents, time-bucket), so a hot user never
    * materializes its k² event pairs — candidates are bounded by
    * per-(user, cents, window) multiplicity, exactly the rapidPairs
    * bucket discipline (`Analytics.rapidPairs`). The earlier event is
    * the left row (ties broken by event_id), each pair lands in exactly
    * one right-bucket, so no dedup pass. Cents come from the portable
    * round idiom floor(v*100 + 0.5) — engine-exact membership. */
  def offsettingPairs(ev: DataFrame, windowMs: Long = 7L * 86400000L): DataFrame = {
    val base = ev.select(col("user_id"), col("event_id"), col("event_type"),
      col("ts_ms"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val a = base.select(col("user_id"), col("cents"),
        col("event_id").as("event_id_a"), col("event_type").as("type_a"),
        col("ts_ms").as("a_ms"))
      .withColumn("bkt", explode(array(
        expr(s"a_ms div ${windowMs}L"), expr(s"a_ms div ${windowMs}L + 1L"))))
    val b = base.select(col("user_id"), col("cents"),
      col("event_id").as("event_id_b"), col("event_type").as("type_b"),
      col("ts_ms").as("b_ms"), expr(s"ts_ms div ${windowMs}L").as("bkt"))
    a.join(b, Seq("user_id", "cents", "bkt"))
      .filter(col("b_ms") - col("a_ms") <= windowMs &&
        (col("a_ms") < col("b_ms") ||
          (col("a_ms") === col("b_ms") && col("event_id_a") < col("event_id_b"))))
      .select(col("user_id"), col("cents"), col("event_id_a"), col("event_id_b"),
        col("type_a"), col("type_b"), (col("b_ms") - col("a_ms")).as("dt_ms"))
  }

  /** Daily-volume EWMA per user, decay 1/2 per calendar day over a
    * trailing `horizon`-day window — the adaptive baseline a monitoring
    * engine compares today's volume against. INTEGER-EXACT smoothing:
    * daily volume is summed in cents, each day's term is weighted by
    * 2^d (d = days since the user's first active day), one RANGE-frame
    * cumulative sum collects the trailing window, and the final shift
    * renormalizes so the newest day always carries weight 2^horizon.
    * Every intermediate is a BIGINT — no float accumulation, so any
    * partial-aggregation merge order yields bit-identical results and
    * the oracle replays the textbook recurrence. Missing days simply
    * contribute nothing: decay follows CALENDAR time, not row count.
    *
    * Formulation (round-10): the recurrence form weighted each term by
    * 2^d with d = days since the user's FIRST day — correct on a
    * short-history corpus but an ANSI long-overflow the moment any
    * user's history passes ~47 days (the --skew corpus's hot user
    * spans 300+ days and crashed it; the old docstring promised
    * "epoch blocks at production" without implementing them). Since
    * only the trailing `horizon` days ever contribute, the exponent is
    * rebased per TARGET day instead: each active day EXPLODES its
    * k = 0..horizon forward contributions cents·2^(horizon−k), one
    * hash-agg sums them per (user, target day), and an equi-join back
    * to the active-day set keeps exactly the original rows. Exactly
    * equal to the recurrence (each of its terms is divisible by the
    * renormalizing power, so truncation never bit), with headroom now
    * 2^horizon · (window cents) — INDEPENDENT of history length. The
    * oracle intentionally keeps the recurrence form: two different
    * formulations hashing identically IS the test.
    *
    * Scale: explode is a fixed (horizon+1)× fan-out feeding a
    * map-side-combined agg; the join is an equi-join on
    * (user, day-index). No window over unbounded history. */
  def ewmaDaily(ev: DataFrame, horizon: Int = 14): DataFrame = {
    val daily = ev.groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val byUser = Window.partitionBy(col("user_id"))
    val withD = daily
      .withColumn("d", datediff(col("day"), min(col("day")).over(byUser)).cast("long"))
    val contrib = withD
      .select(col("user_id").as("c_user"), col("d"), col("cents"),
        explode(sequence(lit(0), lit(horizon))).as("k"))
      .select(col("c_user"), (col("d") + col("k")).as("td"),
        expr(s"cents * shiftleft(1L, cast($horizon - k as int))").as("term"))
      .groupBy(col("c_user"), col("td")).agg(sum(col("term")).as("ewma_scaled"))
    withD.join(contrib,
        col("user_id") === col("c_user") && col("d") === col("td"))
      .select(col("user_id"), col("day"), col("cents"), col("ewma_scaled"),
        trunc4(col("ewma_scaled").cast("double") / ((1L << horizon) * 100.0)).as("ewma"))
  }

  /** Weekly cohort retention — the product-analytics matrix every
    * monitoring/growth pipeline reports: users cohorted by their FIRST
    * active epoch week, then each (cohort, week-offset) cell counts how
    * many of them were active that many weeks later, as a share of the
    * cohort. Epoch weeks (`ts_ms div 604800000`) avoid any global
    * min-date pass — cohort keys are absolute, derivable row-locally.
    *
    * Scale: (user, week) hash-agg collapses events to at most
    * |users|·|weeks| narrow rows (map-side combined), the cohort min is
    * a window on user_id over THAT table (not the raw events), and the
    * final cells aggregate is tiny. The offset-0 cell IS the cohort
    * size (every user is active in their first week), so sizes come
    * from the cells table itself via ONE window over it — no self-join
    * branch that would recompute the event aggregation twice. All
    * counts integer ⇒ engine-exact; the retention share is a truncated
    * division of exact longs. */
  def cohortRetention(ev: DataFrame): DataFrame = {
    val active = ev
      .select(col("user_id"), expr("ts_ms div 604800000").as("week"))
      .distinct()
    val cells = active
      .withColumn("cohort_week", min(col("week")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("week_offset"))
      .agg(count(lit(1)).as("n_active"))
    cells
      .withColumn("n_cohort", max(when(col("week_offset") === 0, col("n_active")))
        .over(Window.partitionBy(col("cohort_week"))))
      .select(col("cohort_week"), col("week_offset"), col("n_active"), col("n_cohort"),
        trunc4(col("n_active") / col("n_cohort")).as("retention"))
  }

  /** Time-series gap fill + forward fill — the resampling pass that
    * turns an irregular event stream into a dense per-(type, day) grid
    * before any rolling model: missing days get an explicit zero-count
    * row, and the last known daily cents value carries forward
    * (`last(_, ignoreNulls)` over a rows frame — the SQL gap-fill
    * idiom). Day bounds come from the data (one-row aggregate,
    * broadcast into the spine build), the spine is |types| × |days|
    * rows — never event-scale. Daily sums are integer cents
    * (floor(v·100 + 0.5)), so every engine agrees on each carried
    * value; the carry itself picks a stored long, not an accumulation.
    *
    * Scale: one (type, day) hash-agg over events (map-side combined)
    * feeds spine, bounds, and the fill — persisted so the raw scan
    * happens once; the forward-fill window runs over the dense grid
    * (tiny), partitioned by type. */
  def gapFill(ev: DataFrame): DataFrame = Scope { s =>
    // feeds bounds, the type list, and the fill join
    val daily = s.persist(ev
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents")))
    val bounds = daily.agg(min(col("day")).as("d0"), max(col("day")).as("d1"))
    val spine = daily.select(col("event_type")).distinct()
      .crossJoin(bounds)
      .select(col("event_type"), explode(sequence(col("d0"), col("d1"))).as("day"))
    val carry = Window.partitionBy(col("event_type")).orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    spine.join(daily, Seq("event_type", "day"), "left")
      .select(col("event_type"), col("day"),
        coalesce(col("n"), lit(0L)).as("n"),
        col("n").isNull.as("filled"), col("cents"))
      .withColumn("carry_cents", last(col("cents"), ignoreNulls = true).over(carry))
      .drop("cents")
      .localCheckpoint(true) // |types|·|days| rows; releases the daily cache
  }

  /** Peak interval concurrency per status — the interval-overlap
    * question answered WITHOUT materializing pairs: overlap-pair joins
    * are Σn² per key, but "how many [[scd2]] validity intervals are
    * live at once, and when is the peak" is a SWEEP-LINE: +1 at each
    * interval start, −1 at each end, one cumulative sum per status over
    * the (status, ts) net deltas. [from, to) semantics fall out of
    * netting starts and ends at the same timestamp before accumulating
    * (a handoff at ts never counts as concurrent); open intervals close
    * at the global max start — an anchor, not a semantic claim.
    *
    * Scale: the interval build is the scd2 shuffle; the sweep is a
    * hash-agg to |changepoints| rows and a window over THAT — no pair
    * blow-up at any cardinality. Everything is integer millis and
    * counts — engine-exact. */
  def statusConcurrency(ev: DataFrame): DataFrame = Scope { s =>
    val iv = s.persist(scd2(ev)) // feeds the anchor, the sweep, and the counts
    val anchor = iv.agg(max(col("valid_from")).as("m"))
    val pts = iv.crossJoin(anchor)
      .select(col("status"), explode(array(
        struct(col("valid_from").as("ts"), lit(1L).as("delta")),
        struct(coalesce(col("valid_to"), col("m")).as("ts"), lit(-1L).as("delta")))).as("p"))
      .select(col("status"), col("p.ts").as("ts"), col("p.delta").as("delta"))
    val cum = pts.groupBy(col("status"), col("ts")).agg(sum(col("delta")).as("net"))
      .withColumn("conc",
        sum(col("net")).over(Window.partitionBy(col("status")).orderBy(col("ts"))))
    val peak = cum.withColumn("rn", row_number().over(
        Window.partitionBy(col("status")).orderBy(col("conc").desc, col("ts"))))
      .filter(col("rn") === 1)
    val ni = iv.groupBy(col("status")).agg(count(lit(1)).as("n_intervals"))
    peak.join(ni, Seq("status"))
      .select(col("status"), col("conc").as("peak_concurrency"),
        col("ts").as("at_ts"), col("n_intervals"))
      .localCheckpoint(true) // |statuses| rows; releases the interval cache
  }

  /** Robust per-user outliers via MAD (median absolute deviation) —
    * the robust sibling of [[amountOutliers]]: a z-score baseline is
    * itself corrupted by the outliers it hunts (masking), while the
    * median/MAD pair has a 50% breakdown point. Flags events where
    * |cents − median| > `thresh` · 1.4826 · MAD (1.4826 scales MAD to
    * σ under normality).
    *
    * Parity: medians are the interpolated exact percentile over
    * INTEGER cents (Spark `percentile` ≡ DuckDB `quantile_cont` on
    * identical stored values — the q_sql_percentiles precedent), so
    * every derived double and the membership predicate are
    * bit-identical across engines. Two Window nodes share one
    * user_id exchange (the second consumes the first's output —
    * same partitioning, no extra shuffle; plan-shape-pinned). */
  def madOutliers(ev: DataFrame, thresh: Double = 3.5, minN: Long = 10L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
    ev.select(col("event_id"), col("user_id"), col("value"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("med", expr("percentile(cents, 0.5)").over(w))
      .withColumn("dev", abs(col("cents") - col("med")))
      .withColumn("mad", expr("percentile(dev, 0.5)").over(w))
      .filter(col("n") >= minN && col("mad") > 0 &&
        col("dev") > lit(thresh) * (lit(1.4826) * col("mad")))
      .select(col("event_id"), col("user_id"), col("value"),
        trunc4(col("dev") / (lit(1.4826) * col("mad"))).as("rz"))
  }

  /** Interval-overlap join WITHOUT the quadratic blowup: which user
    * pairs had substantial `status` intervals live at the same time
    * (co-outage / coordinated-state detection over the [[scd2]]
    * timeline). [[statusConcurrency]] answers "how many at once";
    * this answers "who with whom, for how long" — and that needs
    * pairs.
    *
    * Scale shape — the classic bucketed interval join: each interval
    * explodes into the day buckets it touches, candidates come from a
    * bucket EQUI-join (never interval × interval), the true overlap
    * predicate rides as a residual, and each overlapping pair counts
    * exactly once — in the bucket holding the overlap START
    * (`greatest(f1,f2) div day == bucket`) — so no distinct pass. Work
    * is Σ|bucket|²/2; the `minDurMs` floor prunes intervals before the
    * explode. All integer millis — engine-exact.
    *
    * [from, to) semantics: handoff at a shared boundary is not an
    * overlap; a day-boundary end ((t−1) div D) does not occupy the
    * next bucket. Open intervals are excluded (no measurable
    * duration). */
  def intervalOverlaps(ev: DataFrame, status: String = "error",
      minDurMs: Long = 7200000L): DataFrame = Scope { s =>
    val D = 86400000L
    // both join arms read the slim 3-column relation
    val iv = s.persist(scd2(ev)
      .filter(col("status") === status && col("valid_to").isNotNull &&
        col("valid_to") - col("valid_from") >= minDurMs)
      .select(col("user_id"), col("valid_from"), col("valid_to")))
    def arm(i: Int) = iv
      .select(col("user_id").as(s"u$i"), col("valid_from").as(s"f$i"),
        col("valid_to").as(s"t$i"))
      .withColumn("day", explode(sequence(expr(s"f$i div $D"), expr(s"(t$i - 1) div $D"))))
    arm(1).join(arm(2), Seq("day"))
      .filter(col("u1") < col("u2") && col("f1") < col("t2") && col("f2") < col("t1") &&
        expr(s"greatest(f1, f2) div $D") === col("day"))
      .groupBy(col("u1"), col("u2"))
      .agg(count(lit(1)).as("n_overlaps"),
        sum(least(col("t1"), col("t2")) - greatest(col("f1"), col("f2"))).as("overlap_ms"))
      .localCheckpoint(true) // ≤ C(users,2) rows; releases iv
  }

  /** Day-of-week seasonal baseline — the seasonality sibling of
    * [[ewmaDaily]] (trend) and [[gapFill]] (density): each (type, day)
    * daily volume against the mean volume of the SAME weekday for that
    * type, the profile a monitoring engine divides by before flagging
    * "unusually quiet Sunday" as an anomaly. Epoch day 0 is a Thursday,
    * so dow = (day + 4) mod 7 puts Monday at 1 — derivable row-locally,
    * no calendar join.
    *
    * One (type, day) hash-agg over events (integer cents), then ONE
    * window over the tiny daily table for the (type, dow) profile —
    * counts and cent sums are exact BIGINTs, the mean and ratio divide
    * identical values in both engines (trunc4 output). */
  def seasonalBaseline(ev: DataFrame): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val wd = Window.partitionBy(col("event_type"), col("dow"))
    daily
      .withColumn("dow", pmod(col("day") + 4, lit(7L)))
      .withColumn("dow_days", count(lit(1)).over(wd))
      .withColumn("dow_cents", sum(col("cents")).over(wd))
      .select(col("event_type"), col("day"), col("dow"), col("cents"),
        trunc4(col("dow_cents") / col("dow_days")).as("dow_mean"),
        trunc4(col("cents") / (col("dow_cents") / col("dow_days"))).as("ratio"))
  }

  /** Population Stability Index of the amount distribution per event
    * type — first half of the observed window (reference) vs the
    * second (current). PSI = Σ_bins (p_cur − p_ref)·ln(p_cur/p_ref) is
    * THE drift gate production monitoring runs before trusting a model
    * trained on last month's amounts (>0.2 conventionally = retrain).
    *
    * Determinism discipline: counts come from one hash-agg over fixed
    * integer cent bins; the grid densifies to all (type, bin, period)
    * cells because Laplace-smoothed zero bins still contribute; shares
    * divide exact integers so both engines see identical doubles; each
    * bin's term is floored to a 1e-8-scaled BIGINT before the per-type
    * sum, so the final PSI never depends on float summation order
    * (the q_sim_rrf fixed-order rule, applied via integers). ln parity
    * across engines holds at this granularity (the q_benford log10
    * precedent).
    *
    * Scale: one events scan → map-side-combined agg to calendar-bounded
    * (type, day, bin) cells; d0 is a window over them, so no scalar is
    * computed ahead of the scan; everything after runs on tiny cells. */
  def psiDrift(ev: DataFrame, nBins: Int = 10, binCents: Long = 5000L,
      splitDays: Long = 15L): DataFrame = {
    val cells = ev.groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"),
        least(expr(s"cast(floor(value * 100 + 0.5) as bigint) div $binCents"),
          lit(nBins - 1L)).as("bin"))
      .agg(count(lit(1)).as("n"))
      .withColumn("d0", min(col("day")).over(Window.partitionBy()))
    val counts = cells.groupBy(col("event_type"),
        when(col("day") < col("d0") + splitDays, lit("ref")).otherwise(lit("cur")).as("period"),
        col("bin"))
      .agg(sum(col("n")).as("n"))
    val grid = cells.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(nBins - 1L))).as("bin"))
      .select(col("event_type"), col("bin"),
        explode(array(lit("ref"), lit("cur"))).as("period"))
    val full = grid.join(counts, Seq("event_type", "period", "bin"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("n_tot",
        sum(col("n")).over(Window.partitionBy(col("event_type"), col("period"))))
      .withColumn("p", (col("n") + 1) / (col("n_tot") + nBins))
    val wide = full.groupBy(col("event_type"), col("bin"))
      .agg(sum(when(col("period") === "ref", col("n"))).as("n_ref"),
        sum(when(col("period") === "cur", col("n"))).as("n_cur"),
        max(when(col("period") === "ref", col("p"))).as("p_ref"),
        max(when(col("period") === "cur", col("p"))).as("p_cur"))
    wide.select(col("event_type"), col("n_ref"), col("n_cur"),
        floor((col("p_cur") - col("p_ref")) * log(col("p_cur") / col("p_ref"))
          * 1e8).cast("long").as("term_scaled"))
      .groupBy(col("event_type"))
      .agg(sum(col("n_ref")).as("n_ref"), sum(col("n_cur")).as("n_cur"),
        trunc4(sum(col("term_scaled")) / 1e8).as("psi"))
  }

  /** CUSUM change-point detection on daily volume per event type: the
    * one-sided cumulative-sum statistic S_t = max(0, S_{t−1} + x_t − μ)
    * flags a SUSTAINED shift in daily cents that per-day thresholds
    * miss. The recursion looks inherently sequential, but
    * S_t = cum_t − min(0, min_{i≤t} cum_i) — a cumulative sum and a
    * running minimum, two window functions sharing one exchange+sort.
    *
    * Exactness: with x in cents and μ = total/n_days, the deviation
    * scales to the INTEGER cents·n_days − total, so cum, runmin, and
    * S are all BIGINTs — bit-identical under any partial-agg order.
    * The flag fires when S exceeds `threshMeanDays` mean-days of
    * cumulative excess (S/n > k·μ ⇔ S > k·total).
    *
    * Scale: one map-side-combined (type, day) agg over the scan, then
    * windows over the tiny daily table. */
  def cusumVolume(ev: DataFrame, threshMeanDays: Long = 1L): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = ev
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val wt = Window.partitionBy(col("event_type"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
    daily
      .withColumn("n_days", count(lit(1)).over(wt))
      .withColumn("total", sum(col("cents")).over(wt))
      // cents·n_days and its running sum reach total·n_days — corpus
      // cents × calendar days ≫ 2^63 at 1e9-row days — so the whole
      // CUSUM chain rides DECIMAL(38,0) (the abCuped widening rule)
      .withColumn("cum", sum(dec(col("cents")) * col("n_days") - col("total")).over(wo))
      .withColumn("runmin", min(col("cum")).over(wo))
      .select(col("event_type"), col("day"), col("cents"),
        (col("cum") - least(col("runmin"), lit(0L).cast("decimal(38,0)"))).as("s_scaled"),
        ((col("cum") - least(col("runmin"), lit(0L).cast("decimal(38,0)"))) >
          dec(col("total")) * threshMeanDays).as("shifted"))
  }

  /** Chi-square independence audit: is the amount band independent of
    * the event type? The contingency-table statistic
    * Σ (observed − expected)²/expected over the |types|×|bands| grid —
    * a dependence here means one event type drives a value band, the
    * data-understanding check before any per-type amount model.
    *
    * Observed counts are one integer hash-agg (grid densified — a zero
    * cell still contributes its expected count); row/column/grand
    * totals are windows over the tiny cell table; expected = rt·ct/N
    * divides exact integers. Per-cell terms floor to 1e-6-scaled
    * BIGINTs so the grand χ² is an exact integer sum (fixed-order
    * rule); both the per-cell audit rows and the repeated grand total
    * are emitted. */
  def chi2Audit(ev: DataFrame, nBands: Int = 5, bandCents: Long = 10000L): DataFrame = {
    val banded = ev.select(col("event_type"),
      least(expr(s"cast(floor(value * 100 + 0.5) as bigint) div $bandCents"),
        lit(nBands - 1L)).as("band"))
    val counts = banded.groupBy(col("event_type"), col("band"))
      .agg(count(lit(1)).as("n"))
    val grid = banded.select(col("event_type")).distinct()
      .select(col("event_type"),
        explode(sequence(lit(0L), lit(nBands - 1L))).as("band"))
    val cells = grid.join(counts, Seq("event_type", "band"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
      .withColumn("rt", sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .withColumn("ct", sum(col("n")).over(Window.partitionBy(col("band"))))
      .withColumn("grand", sum(col("n")).over(Window.partitionBy()))
    // rt·ct is corpus-count × corpus-count (≫ 2^63 at 1e9-row margins):
    // exact in DECIMAL(38,0), then ONE cast to double for the division
    // — the same double DuckDB produces from its HUGEINT product
    val e = (col("rt").cast("decimal(38,0)") * col("ct")).cast("double") / col("grand")
    // an all-empty band has e = 0 → 0/0; drop its contribution (the
    // standard empty-category convention) instead of emitting NaN
    val term = when(col("ct") > 0, (col("n") - e) * (col("n") - e) / e).otherwise(lit(0.0))
    cells
      .withColumn("term_scaled", floor(term * 1e6).cast("long"))
      .withColumn("chi2_scaled", sum(col("term_scaled")).over(Window.partitionBy()))
      .select(col("event_type"), col("band"), col("n"),
        trunc4(e).as("expected"), trunc4(col("term_scaled") / 1e6).as("term"),
        trunc4(col("chi2_scaled") / 1e6).as("chi2"))
  }

  /** Peer-group anomaly: users whose TOTAL spend in an event type sits
    * more than `z` standard deviations from their peer group's mean —
    * the group-relative screen next to [[amountOutliers]] (per-event
    * vs own history) and [[madOutliers]] (robust within-user). The
    * flag test is exact integer algebra on cent totals:
    * `(n·u − S)² > z²·(n·Q − S²)` multiplies the z-test through by
    * n²·σ² so no engine ever compares a float threshold. Every
    * product of aggregate-scale values (Q's u² terms, n·Q, S², dev²)
    * rides DECIMAL(38,0) — dev² alone reaches ~(n·u)² ≈ 10³⁰ at 10⁶
    * peers × 10⁹ cents, far past 2⁶³ (the abCuped widening rule; the
    * round-10 overflow sweep pins the whole class). The reported z
    * divides two exact integers after one sqrt.
    *
    * Scale: one map-side-combined (user, type) agg collapses the
    * events scan; peer stats are |types| rows computed FROM that
    * aggregate and broadcast back; nothing re-scans the fact. */
  def peerAnomaly(ev: DataFrame, z: Long = 3L, minPeers: Long = 10L): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val totals = ev.groupBy(col("event_type"), col("user_id"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("u"))
    val peers = totals.groupBy(col("event_type").as("pt"))
      .agg(count(lit(1)).as("n"), sum(col("u")).as("s"),
        sum(dec(col("u")) * col("u")).as("q"))
      .filter(col("n") >= minPeers)
    totals.join(broadcast(peers), col("event_type") === col("pt"))
      .withColumn("dev", dec(col("n")) * col("u") - col("s"))
      .withColumn("var_n2", dec(col("n")) * col("q") - dec(col("s")) * col("s"))
      .filter(col("dev") * col("dev") > dec(lit(z * z)) * col("var_n2") &&
        col("var_n2") > 0L)
      .select(col("event_type"), col("user_id"),
        graft.functions.Portable.trunc2(col("u") / 100.0).as("total"),
        graft.functions.Portable.trunc2(
          col("s") / (col("n") * lit(100.0))).as("peer_mean"),
        graft.functions.Portable.trunc2(
          col("dev") / sqrt(col("var_n2").cast("double"))).as("z_score"))
  }

  /** Daily-volume autocorrelation (ACF lags 1..`maxLag`) — the
    * periodicity diagnostic behind the seasonal baseline
    * ([[seasonalBaseline]] ASSUMES a weekly cycle; this measures it).
    * Exact to the last bit: volumes ride as whole-unit integers, the
    * mean is cleared by multiplying through by n (`dev_d = n·v_d − S`),
    * and numerator/denominator are BIGINT sums of integer products —
    * one double division per lag at the end. Calendar-lag join: a
    * missing day drops its pairs rather than sliding the series.
    *
    * Scale: the events scan collapses to ≤|days| rows in one agg;
    * everything after runs on that tiny relation (broadcast stats,
    * 7-way lag explode, hash join on day). */
  def acfDaily(ev: DataFrame, maxLag: Int = 7): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) DIV 100").as("v"))
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("v")).as("s"))
    // dev = n·v − S is day-count × corpus-volume; dev² ≫ 2^63 — the
    // whole moment chain rides DECIMAL(38,0) (abCuped widening rule)
    val dev = daily.crossJoin(broadcast(stats))
      .select(col("day"), (dec(col("n")) * col("v") - col("s")).as("dev"))
    val den = dev.agg(sum(col("dev") * col("dev")).as("den"))
    val lagged = dev.select(col("day"), col("dev"),
        explode(sequence(lit(1), lit(maxLag))).as("lag"))
      .withColumn("tday", date_add(col("day"), col("lag")))
      .join(dev.select(col("day").as("tday"), col("dev").as("tdev")), "tday")
    lagged.groupBy(col("lag").cast("long").as("lag"))
      .agg(count(lit(1)).as("n_pairs"), sum(col("dev") * col("tdev")).as("num"))
      .crossJoin(broadcast(den))
      .select(col("lag"), col("n_pairs"),
        graft.functions.Portable.trunc4(
          col("num").cast("double") / col("den")).as("acf"))
  }

  /** Daily-volume OLS trend: slope and intercept of whole-unit daily
    * volume regressed on the day index — the drift direction the CUSUM
    * gate ([[cusumVolume]]) alarms on, quantified. Normal equations on
    * exact integers: slope = (n·Σxy − Σx·Σy) / (n·Σxx − Σx²), every
    * sum a BIGINT over ≤|days| rows, so both engines divide the same
    * two integers; the intercept reuses the slope double with the
    * identical expression shape on both sides.
    *
    * Scale: the events scan collapses to |days| rows in one map-side
    * combined agg; the regression runs on that tiny relation. */
  def trendDaily(ev: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = ev.groupBy(to_date(col("ts")).as("day"))
      .agg(expr("sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) DIV 100").as("v"))
    val indexed = daily.select(col("v"),
      (row_number().over(Window.orderBy(col("day"))) - 1).cast("long").as("x"))
    // Σxy pairs day-index × corpus-scale daily volume and the normal
    // equations cross-multiply the sums — every product and moment
    // accumulator rides DECIMAL(38,0) (abCuped widening rule); the
    // slope/intercept divisions cast to double once, exactly where
    // DuckDB's HUGEINT moments do
    val num = dec(col("n")) * col("sxy") - dec(col("sx")) * col("sy")
    val den = dec(col("n")) * col("sxx") - dec(col("sx")) * col("sx")
    indexed.agg(count(lit(1)).as("n"), sum(col("x")).as("sx"),
        sum(col("v")).as("sy"), sum(dec(col("x")) * col("v")).as("sxy"),
        sum(dec(col("x")) * col("x")).as("sxx"))
      .select(col("n").as("n_days"),
        num.as("num"),
        den.as("den"),
        graft.functions.Portable.trunc4(
          num.cast("double") / den.cast("double")).as("slope"),
        graft.functions.Portable.trunc4(
          (col("sy") - num.cast("double") / den.cast("double") * col("sx")) /
            col("n")).as("intercept"))
  }

  /** Growth accounting: per day, how many active users are NEW (first
    * day ever), RETURNING, and how many churn right after (active
    * today, silent tomorrow) — the daily-active decomposition every
    * usage dashboard leads with. All integer counts over the distinct
    * (user, day) activity relation; the last observed day never counts
    * as churn (the stream just ends there).
    *
    * Scale: the fact collapses to distinct (user, day) in one shuffle;
    * the first-day and next-day windows share that relation's user
    * partitioning (one exchange for both); the per-day agg is
    * |days| groups. */
  def growthAccounting(ev: DataFrame): DataFrame = {
    val acts = ev.select(col("user_id"), to_date(col("ts")).as("day")).distinct()
    val byUser = Window.partitionBy(col("user_id"))
    val flagged = acts
      .withColumn("first_day", min(col("day")).over(byUser))
      .withColumn("next_day", lead(col("day"), 1).over(byUser.orderBy(col("day"))))
    val maxDay = acts.agg(max(col("day")).as("max_day"))
    flagged.crossJoin(broadcast(maxDay))
      .groupBy(col("day"))
      .agg(count(lit(1)).as("n_active"),
        sum(when(col("day") === col("first_day"), 1L).otherwise(0L)).as("n_new"),
        sum(when(col("day") =!= col("first_day"), 1L).otherwise(0L)).as("n_returning"),
        sum(when(col("day") =!= col("max_day") &&
          (col("next_day").isNull || datediff(col("next_day"), col("day")) > 1), 1L)
          .otherwise(0L)).as("n_churned_next"))
  }

  /** Two-sample Kolmogorov–Smirnov amount-drift statistic between the
    * window's two halves — the distribution-shape sibling of the
    * binned [[psiDrift]] (KS needs no binning choice and catches
    * shifts PSI's fixed bins smear). The ECDF gap is EXACT integer
    * algebra: at every distinct cent value, `|n2·c1 − n1·c2|` (the gap
    * cross-multiplied by both sample sizes) is a BIGINT, the max is an
    * integer max, and ONE division produces D.
    *
    * Scale: events collapse to one row per distinct cent value in a
    * map-side-combined agg; the cumulative window runs over that
    * value-domain table (bounded by the cent domain, not the fact —
    * same justification as the histogram-quantile sketch), and the
    * final max is a 1-row agg. */
  def ksDrift(ev: DataFrame, splitDay: String = "2024-01-16"): DataFrame = {
    val tagged = ev.select(
      floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      when(col("ts") < lit(splitDay).cast("timestamp"), 1L).otherwise(2L).as("s"))
    val perValue = tagged.groupBy(col("cents"))
      .agg(sum(when(col("s") === 1L, 1L).otherwise(0L)).as("a1"),
        sum(when(col("s") === 2L, 1L).otherwise(0L)).as("a2"))
    val cum = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gaps = perValue
      .withColumn("c1", sum(col("a1")).over(cum))
      .withColumn("c2", sum(col("a2")).over(cum))
    val ns = tagged.agg(
      sum(when(col("s") === 1L, 1L).otherwise(0L)).as("n1"),
      sum(when(col("s") === 2L, 1L).otherwise(0L)).as("n2"))
    // n₂·c₁ cross-multiplies two half-corpus counts (~(n/2)² ≫ 2^63 at
    // 1e9-row halves): exact in DECIMAL(38,0), one double division
    val dec = (c: Column) => c.cast("decimal(38,0)")
    gaps.crossJoin(broadcast(ns))
      .agg(max(abs(dec(col("n2")) * col("c1") - dec(col("n1")) * col("c2"))).as("d_scaled"),
        first(col("n1")).as("n1"), first(col("n2")).as("n2"))
      .select(col("n1"), col("n2"), col("d_scaled"),
        graft.functions.Portable.trunc4(
          col("d_scaled").cast("double") /
            (dec(col("n1")) * col("n2")).cast("double")).as("ks_d"))
  }

  /** Wasserstein-1 (earth-mover) amount drift between the window's
    * two halves, per event type — the MAGNITUDE sibling of
    * [[ksDrift]]: KS reports the worst ECDF gap (shape-sensitive,
    * scale-free), W₁ reports how many DOLLARS of probability mass
    * moved (⁠∫|F₁−F₂|dx⁠), which is what a spend-forecast owner
    * actually budgets against. The integral is exact integer algebra
    * on the merged cent support: at each distinct cent value the gap
    * cross-multiplied by both sample sizes `|c₁·n₂ − c₂·n₁|` times
    * the width to the next support point, summed in DECIMAL(38,0)
    * (gap ≤ n₁·n₂ ~ 10¹⁸ before the width multiplies it), with ONE
    * `div` at the end producing the 4-decimal dollar figure.
    *
    * Scale: events collapse to one row per (type, distinct cent) in a
    * map-side-combined agg; the cumulative window is PARTITIONED by
    * event type (never global), over the type's cent domain — the
    * same domain-bounded justification as [[ksDrift]], now also
    * parallel across types — and the per-type sizes are windows on
    * that same partitioning. */
  def w1Drift(ev: DataFrame, splitDay: String = "2024-01-16"): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val byCents = byType.orderBy(col("cents"))
    val cdf = byCents.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    ev.select(col("event_type"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("ts") < lit(splitDay).cast("timestamp"), 1L).otherwise(2L).as("s"))
      .groupBy(col("event_type"), col("cents"))
      .agg(sum(when(col("s") === 1L, 1L).otherwise(0L)).as("a1"),
        sum(when(col("s") === 2L, 1L).otherwise(0L)).as("a2"))
      .withColumn("c1", sum(col("a1")).over(cdf))
      .withColumn("c2", sum(col("a2")).over(cdf))
      .withColumn("width", lead(col("cents"), 1).over(byCents) - col("cents"))
      .withColumn("n1", sum(col("a1")).over(byType))
      .withColumn("n2", sum(col("a2")).over(byType))
      .filter(col("width").isNotNull)
      .groupBy(col("event_type"))
      .agg(first(col("n1")).as("n1"), first(col("n2")).as("n2"),
        sum(abs(col("c1").cast("decimal(38,0)") * col("n2") -
          col("c2").cast("decimal(38,0)") * col("n1")) * col("width")).as("w1_num"))
      .filter(col("n1") > 0 && col("n2") > 0)
      .withColumn("w1_scaled", expr(
        "cast((w1_num * 10000) div (cast(n1 as decimal(38,0)) * n2 * 100) as bigint)"))
      .select(col("event_type"), col("n1"), col("n2"), col("w1_scaled"),
        (col("w1_scaled") / 10000.0).as("w1_dollars"))
  }

  /** Benjamini–Hochberg FDR screen over merchant activity deviations
    * — the multiple-testing discipline every per-merchant anomaly
    * detector here lacks: testing 10⁴ merchants at α=0.05 hands you
    * ~500 false alarms/day; BH caps the FALSE DISCOVERY RATE instead.
    * The p-value is the exact-rational Chebyshev bound
    * p = min(1, N(M−1)/(n·M−N)²) under the uniform null (n expected
    * N/M, variance N(M−1)/M²) — deliberately distribution-free and
    * fully integer (a normal-tail p needs erf, which the two engines
    * round differently; an in-family empirical rank p would make BH
    * degenerate by construction, p₍ᵢ₎=i/M ≥ iα/M always). The BH step
    * function p₍ᵢ₎ ≤ i·α/M cross-multiplies to
    * `100·M·N·(M−1) ≤ α₁₀₀·i·dev²` in DECIMAL(38,0) — engine-exact.
    *
    * Scale: one hash-agg collapses events to |merchants| rows; the
    * rank/step windows run over that collapsed relation (same
    * collapsed-relation justification as [[giniSpend]]'s user rank —
    * route through ScaleOps.globalRank past ~10⁸ groups). */
  def fdrBh(ev: DataFrame, alpha100: Long = 5L): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    // NULL merchants (events without props.k) are excluded — keeping a
    // NULL group would hand the BH tie-break to engine NULL-ordering
    // (Spark and DuckDB can differ per version/collation), making
    // bh_rank engine-dependent exactly on dev ties with the NULL group
    // (same discipline as ebShrinkage's IS NOT NULL filter).
    val m = ev.select(get_json_object(col("props"), "$.k").as("merchant"))
      .filter(col("merchant").isNotNull)
      .groupBy(col("merchant")).agg(count(lit(1)).as("n_events"))
    val tot = m.agg(count(lit(1)).as("mm"), sum(col("n_events")).as("nn"))
    val scored = m.crossJoin(broadcast(tot))
      .withColumn("dev", abs(dec(col("n_events")) * col("mm") - col("nn")))
    val byP = Window.orderBy(col("dev").desc, col("merchant"))
    val stepped = scored
      .withColumn("i", row_number().over(byP).cast("long"))
      .withColumn("pass", // p_i <= i*alpha/M, p = min(1, N(M-1)/dev^2)
        col("dev") * col("dev") > dec(col("nn")) * (col("mm") - 1) && // uncapped
          dec(lit(100L)) * col("mm") * col("nn") * (col("mm") - 1) <=
            dec(lit(alpha100)) * col("i") * col("dev") * col("dev"))
      .withColumn("kmax", max(when(col("pass"), col("i")))
        .over(Window.partitionBy()))
    stepped.select(col("merchant"), col("n_events"), col("dev").cast("long").as("dev"),
      when(col("dev") * col("dev") > dec(col("nn")) * (col("mm") - 1),
        trunc4((dec(col("nn")) * (col("mm") - 1)).cast("double") /
          (col("dev") * col("dev")).cast("double")))
        .otherwise(1.0).as("p_cheb"),
      col("i").as("bh_rank"),
      (col("kmax").isNotNull && col("i") <= col("kmax")).as("flagged"))
  }

  /** HBOS — histogram-based outlier score (Goldstein & Dengel 2012),
    * the MULTI-FEATURE sibling of [[amountOutliers]]' single-axis
    * z-score: an event is anomalous when it sits in rare bins of
    * SEVERAL independent feature histograms at once (odd amount ×
    * odd hour × odd weekday), scored score = Σ_f ln(N/n_bin(f)) —
    * exactly the negative log of the naive-Bayes density estimate.
    * Each term is floored at 10⁻⁶ before summing ([[TextOps]]'
    * per-term-floor discipline), so the integer sum and the top-k
    * ranking are engine-exact. Emits the `k` highest-scoring events.
    *
    * Scale: the three DOMAIN-bounded histograms (amount bands, 24
    * hours, 7 weekdays) are ONE aggregate over feature-tagged bins,
    * broadcast as one row of bin → count maps plus the total; an event
    * with a NULL bin has no cell and is skipped. The global top-k is a
    * TakeOrdered, not a sort. */
  def hbos(ev: DataFrame, k: Int = 20): DataFrame = {
    val feats = Seq("b_amt", "b_hour", "b_dow")
    val base = ev.select(col("event_id"),
        floor(col("value") / 10).cast("long").as("b_amt"),
        hour(col("ts")).cast("long").as("b_hour"),
        dayofweek(col("ts")).cast("long").as("b_dow"))
    val hist = base
      .select(explode(array(feats.indices.map(f =>
        struct(lit(f).as("f"), col(feats(f)).as("bin"))): _*)).as("e"))
      .groupBy(col("e.f").as("f"), col("e.bin").as("bin")).agg(count(lit(1)).as("n"))
      .agg(sum(when(col("f") === 0, col("n"))).as("nn"), feats.indices.map(f =>
        map_from_entries(collect_list(when(col("f") === f && col("bin").isNotNull,
          struct(col("bin"), col("n"))))).as(s"h_${feats(f)}")): _*)
    def term(c: String): Column =
      floor(log(col("nn").cast("double") / element_at(col(s"h_$c"), col(c))) * 1e6)
        .cast("long")
    base.filter(feats.map(col(_).isNotNull).reduce(_ && _))
      .crossJoin(broadcast(hist))
      .select(col("event_id"), col("b_amt"), col("b_hour"), col("b_dow"),
        (term("b_amt") + term("b_hour") + term("b_dow")).as("score_scaled"))
      .orderBy(col("score_scaled").desc, col("event_id"))
      .limit(k)
  }

  /** Bivariate Mahalanobis outliers per event type — the COVARIANCE-
    * aware sibling of [[amountOutliers]] (1-D z) and [[hbos]]
    * (independence-assuming): an event is anomalous when its
    * (amount, hour-of-day) pair is far from the type's ellipse, which
    * catches "normal amount at an abnormal hour FOR THAT AMOUNT" —
    * invisible to any per-axis rule. d² = (v−μ)ᵀ Σ⁻¹ (v−μ) with the
    * 2×2 sample covariance inverted in closed form; flag at the
    * χ²₂ 0.999 quantile (13.8155).
    *
    * Engine-exactness follows the [[amountOutliers]] discipline: the
    * five moment sums are 2-decimal ROUNDED (deterministic doubles at
    * these magnitudes), and both engines then evaluate the SAME
    * closed-form expression tree over identical doubles — IEEE ops on
    * equal inputs are bit-equal, so the membership predicate cannot
    * flip between Spark and the oracle. Degenerate types (det ≤ 0,
    * n < minN) are skipped — no stable ellipse.
    *
    * Scale: ONE unbounded window over event_type (one shuffle, no
    * join-back); the moment sums combine map-side under AQE. |types|
    * is small, so the per-type frames are wide — at a 10⁹-row type
    * this is the same single-exchange shape amountOutliers survives. */
  def mahalanobis(ev: DataFrame, thresh: Double = 13.8155, minN: Long = 30L): DataFrame = {
    val w = Window.partitionBy(col("event_type"))
    val base = ev.select(col("event_id"), col("event_type"), col("value"),
        hour(col("ts")).cast("double").as("hr"))
      .withColumn("n", count(lit(1)).over(w))
      .withColumn("sx", r2(sum(col("value")).over(w)))
      .withColumn("sxx", r2(sum(col("value") * col("value")).over(w)))
      .withColumn("sy", sum(col("hr")).over(w))
      .withColumn("syy", sum(col("hr") * col("hr")).over(w))
      .withColumn("sxy", r2(sum(col("value") * col("hr")).over(w)))
    val dx = col("value") - col("sx") / col("n")
    val dy = col("hr") - col("sy") / col("n")
    val vxx = (col("sxx") - col("sx") * col("sx") / col("n")) / (col("n") - 1)
    val vyy = (col("syy") - col("sy") * col("sy") / col("n")) / (col("n") - 1)
    val vxy = (col("sxy") - col("sx") * col("sy") / col("n")) / (col("n") - 1)
    val det = vxx * vyy - vxy * vxy
    val d2 = (dx * dx * vyy - lit(2.0) * dx * dy * vxy + dy * dy * vxx) / det
    base.filter(col("n") >= minN && det > 0 && d2 > thresh)
      .select(col("event_id"), col("event_type"), col("value"),
        col("hr").cast("long").as("hr"), trunc4(d2).as("md2"))
  }

  /** Western Electric control-chart rules on daily volume per event
    * type — the SPC discipline behind "is the process drifting"
    * monitoring, complementary to [[cusumVolume]] (cumulative shift)
    * and [[ewmaDaily]] (smoothed baseline): four classic zone rules
    * over the day sequence —
    *   r1: a day beyond 3σ;   r2: ≥2 of the last 3 beyond 2σ, same side;
    *   r3: ≥4 of the last 5 beyond 1σ, same side;   r4: 8 consecutive
    *   days on one side of the mean.
    * Each fires on the day COMPLETING its pattern.
    *
    * FULLY INTEGER: with daily cents x, n days, S = Σx,
    * A = n·Σx² − S² (= n²(n−1)·var), the zone test |x−μ| > kσ
    * cross-multiplies to (n−1)·(n·x−S)² > k²·n·A — exact in
    * DECIMAL(38,0) (A ≤ n²·maxcents², ~10²² at 10⁹ daily cents), so
    * membership is bit-identical across engines with no float
    * anywhere. Side counts split into positive/negative columns so
    * the trailing-frame windows never reference the current row's
    * side inside the frame.
    *
    * Scale: one map-side-combined (type, day) agg collapses the scan
    * to |types|·|days| rows; ALL windows run over that collapsed
    * relation partitioned by type (the [[cusumVolume]] shape) — one
    * tiny exchange+sort, nothing global. */
  def spcRules(ev: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val daily = ev
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val wt = Window.partitionBy(col("event_type"))
    val wo = Window.partitionBy(col("event_type")).orderBy(col("day"))
    def trail(k: Int) = wo.rowsBetween(-(k - 1), 0)
    val scored = daily
      .withColumn("n", count(lit(1)).over(wt))
      .withColumn("s", sum(col("cents")).over(wt))
      .withColumn("aa", dec(col("n")) * sum(dec(col("cents")) * col("cents")).over(wt)
        - dec(col("s")) * col("s"))
      // cents·n is daily-corpus-cents × day-count — DECIMAL like the
      // rest of the chain (a hot day can carry ~the whole corpus)
      .withColumn("dev", dec(col("cents")) * col("n") - col("s"))
      .withColumn("d2", col("dev") * col("dev") * (col("n") - 1))
    def beyond(k: Int) = col("d2") > dec(lit(k.toLong * k)) * col("n") * col("aa")
    val flagged = scored
      .withColumn("p2", sum(when(beyond(2) && col("dev") > 0, 1L).otherwise(0L)).over(trail(3)))
      .withColumn("m2", sum(when(beyond(2) && col("dev") < 0, 1L).otherwise(0L)).over(trail(3)))
      .withColumn("p1", sum(when(beyond(1) && col("dev") > 0, 1L).otherwise(0L)).over(trail(5)))
      .withColumn("m1", sum(when(beyond(1) && col("dev") < 0, 1L).otherwise(0L)).over(trail(5)))
      .withColumn("pos", sum(when(col("dev") > 0, 1L).otherwise(0L)).over(trail(8)))
      .withColumn("neg", sum(when(col("dev") < 0, 1L).otherwise(0L)).over(trail(8)))
      .withColumn("rn", row_number().over(wo))
    flagged.select(col("event_type"), col("day"), col("cents"), col("dev"),
      beyond(3).as("r1"),
      (col("rn") >= 3 && (col("p2") >= 2 || col("m2") >= 2)).as("r2"),
      (col("rn") >= 5 && (col("p1") >= 4 || col("m1") >= 4)).as("r3"),
      (col("rn") >= 8 && (col("pos") === 8 || col("neg") === 8)).as("r4"))
      .withColumn("alarm", col("r1") || col("r2") || col("r3") || col("r4"))
  }

  /** Gini concentration of per-user spend — "how unequal is the
    * volume" in one number, the audit statistic behind heavy-hitter
    * monitoring. The rank formulation
    * `G = (2·Σ i·tᵢ − (n+1)·Σt) / (n·Σt)` on ascending cent totals is
    * exact integer algebra until the one final division; ties order
    * by user_id so both engines rank identically.
    *
    * Scale: the fact collapses to per-user totals in one shuffle; the
    * rank window runs over |users| rows. */
  def giniSpend(ev: DataFrame): DataFrame = {
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val totals = ev.groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("t"))
    val ranked = totals.withColumn("i",
      row_number().over(Window.orderBy(col("t"), col("user_id"))).cast("long"))
    // Σi·tᵢ pairs user-rank × user-cents (→ ~n·T ≫ 2^63) and the Gini
    // numerator/denominator cross-multiply user count × corpus cents:
    // all of it exact DECIMAL(38,0), one double division at the end
    val num = lit(2L).cast("decimal(38,0)") * col("rank_weighted") -
      (dec(col("n_users")) + 1L) * col("total_cents")
    ranked.agg(count(lit(1)).as("n_users"), sum(col("t")).as("total_cents"),
        sum(dec(col("i")) * col("t")).as("rank_weighted"))
      .select(col("n_users"), col("total_cents"),
        num.as("num"),
        graft.functions.Portable.trunc4(
          num.cast("double") /
            (dec(col("n_users")) * col("total_cents")).cast("double")).as("gini"))
  }

  /** Round-number bias — [[benford]]'s modulo sibling in the AML kit:
    * humans picking amounts overproduce exact multiples of $10/$50/
    * $100 (a structuring tell invisible to leading-digit tests). Per
    * type: the exact-multiple counts and their truncated shares — all
    * integer modulo tests in one scan + hash-agg, engine-exact. */
  def roundNumberBias(ev: DataFrame): DataFrame = {
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    ev.select(col("event_type"), cents.as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("c") % 1000L === 0, 1L).otherwise(0L)).as("n_r10"),
        sum(when(col("c") % 5000L === 0, 1L).otherwise(0L)).as("n_r50"),
        sum(when(col("c") % 10000L === 0, 1L).otherwise(0L)).as("n_r100"))
      .select(col("event_type"), col("n"), col("n_r10"), col("n_r50"),
        col("n_r100"),
        graft.functions.Portable.trunc4(
          col("n_r10").cast("double") / col("n")).as("share_r10"),
        graft.functions.Portable.trunc4(
          col("n_r100").cast("double") / col("n")).as("share_r100"))
  }

  /** Winsorization — the outlier-robust scaling step feature pipelines
    * run before any mean-based statistic: per type, amounts clip to the
    * exact discrete P1/P99 cut points (smallest value whose cumulative
    * count reaches ⌈pct·n/100⌉ — a RANK selection, not interpolation,
    * so the cut is an integer cent value both engines agree on
    * exactly). Output per type: the cut points, how many rows each
    * side clipped, and the winsorized total.
    *
    * Scale: the fact collapses to (type, cents) bins first; the two
    * cumulative windows and the cut points (per-type window minima over
    * the qualifying bins) run over that TINY bin table, on the
    * partitioning the rollup reuses — the no-global-sort percentile
    * path ([[Sketches]]' histogram-quantile discipline applied to
    * clipping). */
  def winsorize(ev: DataFrame, loPct: Long = 1L, hiPct: Long = 99L): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val cut = (pct: Long) =>
      min(when(col("cum") * 100 >= col("n") * pct, col("cents"))).over(byType)
    ev.select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(byType.orderBy(col("cents"))))
      .withColumn("n", sum(col("c")).over(byType))
      .withColumn("lo_cents", cut(loPct))
      .withColumn("hi_cents", cut(hiPct))
      .groupBy(col("event_type"))
      .agg(sum(col("c")).as("n"), min(col("lo_cents")).as("lo_cents"),
        min(col("hi_cents")).as("hi_cents"),
        sum(when(col("cents") < col("lo_cents"), col("c")).otherwise(0L))
          .as("n_clipped_lo"),
        sum(when(col("cents") > col("hi_cents"), col("c")).otherwise(0L))
          .as("n_clipped_hi"),
        // widened per term, BIGINT again at the end: raises, never wraps
        sum(greatest(col("lo_cents"), least(col("hi_cents"), col("cents")))
          .cast("decimal(38,0)") * col("c")).cast("long").as("winsorized_cents"))
  }

  /** Two-proportion A/B significance — the experimentation readout:
    * users hash into variants A/B (portable, reproducible), conversion
    * is "has a purchase event", and the pooled two-proportion z-test
    * reduces to z² = d²·N / (C·(N−C)·n_a·n_b) with d = c_a·n_b −
    * c_b·n_a. Every input to the final arithmetic is an exact BIGINT;
    * the single float expression is written with IDENTICAL shape in
    * the oracle, so the doubles agree bit-for-bit. d is cast to double
    * before squaring (d² would pass 2⁶³ once variants hold ~3M
    * converting users; the products that stay integral — C·(N−C),
    * n_a·n_b — are safe to 2⁶³ at any realistic user count). */
  def abTest(ev: DataFrame): DataFrame = {
    val perUser = ev.groupBy(col("user_id"))
      .agg(max(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("conv"))
      .withColumn("variant",
        when(pmod(graft.functions.TextHash.hash60(
          concat(lit("ab|"), col("user_id"))), lit(2L)) === 0, "A").otherwise("B"))
    val g = perUser.groupBy(col("variant"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("c"))
    val wide = g.agg(
      sum(when(col("variant") === "A", col("n")).otherwise(0L)).as("n_a"),
      sum(when(col("variant") === "A", col("c")).otherwise(0L)).as("c_a"),
      sum(when(col("variant") === "B", col("n")).otherwise(0L)).as("n_b"),
      sum(when(col("variant") === "B", col("c")).otherwise(0L)).as("c_b"))
    // the z² factors cross-multiply corpus-scale user/conversion
    // counts (c_a·n_b, cc·(nn−cc), n_a·n_b all ≫ 2^63 at 1e9 users):
    // each product is exact DECIMAL(38,0), cast to double only at the
    // assembled ratio — the same doubles DuckDB's HUGEINT products
    // yield
    val dec = (c: Column) => c.cast("decimal(38,0)")
    wide.select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        (dec(col("c_a")) * col("n_b") - dec(col("c_b")) * col("n_a")).as("d"),
        (col("n_a") + col("n_b")).as("nn"), (col("c_a") + col("c_b")).as("cc"))
      .select(col("n_a"), col("c_a"), col("n_b"), col("c_b"),
        // degenerate pools (nobody or everybody converts, or an empty
        // variant) have no variance — z² is undefined, NULL in both
        // engines (without the n_a/n_b guard an empty variant divides
        // 0/0: Spark's floor(NaN) collapses to 0 while DuckDB keeps
        // NaN and NaN > 3.8415 is TRUE in its total order)
        when(col("cc") > 0 && col("cc") < col("nn") &&
            col("n_a") > 0 && col("n_b") > 0,
          graft.functions.Portable.trunc4(
            col("d").cast("double") * col("d").cast("double") * col("nn").cast("double") /
              ((dec(col("cc")) * (col("nn") - col("cc"))).cast("double") *
                (dec(col("n_a")) * col("n_b")).cast("double")))).as("z2"))
      .withColumn("significant", coalesce(col("z2") > 3.8415, lit(false)))
  }

  /** Median imputation — the feature-prep step for missing numerics:
    * a deterministic 10% of amounts go missing (hash-keyed, so the
    * fixture is reproducible and oracle-replayable), and each type's
    * missing values are filled with that type's EXACT interpolated
    * median. Integer-exact throughout the doubled domain: with integer
    * cents, 2·median = x_lo + x_hi is an exact BIGINT, so the imputed
    * total rides as `2·Σpresent + n_missing·median_x2` — no float sum
    * ever forms, and the oracle matches bit-for-bit.
    *
    * Scale: one scan, one hash-agg per type + the per-type exact
    * percentile (Spark's `percentile` aggregates per group — the sort
    * is per-type, not global). */
  def imputeAmounts(ev: DataFrame): DataFrame = {
    val cents = floor(col("value") * 100 + 0.5).cast("long")
    val miss = pmod(graft.functions.TextHash.hash60(
      concat(lit("null|"), col("event_id"))), lit(10L)) === 0
    val t = ev.select(col("event_type"),
      when(miss, lit(null).cast("long")).otherwise(cents).as("cents"))
    t.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"),
        sum(when(col("cents").isNull, 1L).otherwise(0L)).as("n_missing"),
        (expr("percentile(cents, 0.5)") * 2).cast("long").as("median_x2"),
        (sum(col("cents")) * 2).as("present_sum_x2"))
      .select(col("event_type"), col("n_total"), col("n_missing"),
        col("median_x2"),
        // n_missing·median_x2 is corpus-count × cent-value (~10²⁰ at
        // 1e12 rows × $1M amounts) — DECIMAL(38,0) like every other
        // aggregate-scale product (round-10 overflow audit)
        (col("present_sum_x2").cast("decimal(38,0)") +
          col("n_missing").cast("decimal(38,0)") * col("median_x2"))
          .as("imputed_sum_x2"))
  }

  /** User-grouped train/val/test split — the leakage-correct sibling
    * of the document-level `q_train_split`: ALL of a user's events land
    * in one split (a user-level model evaluated on users it trained on
    * is leakage, even with disjoint events), keyed on the same portable
    * hash idiom so membership never migrates as the log grows. Output
    * is the per-split audit (users, events, cent volume). */
  def groupSplit(ev: DataFrame): DataFrame = {
    val bucket = pmod(graft.functions.TextHash.hash60(
      concat(lit("gsplit|"), col("user_id"))), lit(100L))
    ev.withColumn("split",
        when(bucket < 80, "train").when(bucket < 90, "val").otherwise("test"))
      .groupBy(col("split"))
      .agg(countDistinct(col("user_id")).as("n_users"),
        count(lit(1)).as("n_events"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
  }

  /** RFM segmentation — the classic customer-value grid: per user,
    * Recency (days since last activity, vs the corpus's last day),
    * Frequency (event count), Monetary (cent volume), each scored into
    * quintiles (1 = best: most recent / most frequent / highest spend)
    * and combined into the 3-digit segment code (111 = champions,
    * 555 = lost). The `user_id` tiebreak makes every quintile boundary
    * deterministic, so both engines bin identically.
    *
    * Scale shape: ONE hash-aggregate collapses the event log to a row
    * per user; each dimension's NTILE(5) then computes WITHOUT a
    * single-partition sort via [[ScaleOps.globalRank]] (two-phase
    * parallel rank over the persisted per-user relation) plus the
    * closed-form NTILE inverse [[ntileOf]] — exact SQL NTILE semantics
    * (first n mod 5 tiles hold ⌈n/5⌉ rows), bit-identical to the
    * oracle's `ntile(5) OVER (ORDER BY …)`, at 10⁹ users still
    * `parts`-way parallel where the window form drags every user
    * through one task. The three score branches join back on the
    * shared user_id partitioning. */
  def rfm(ev: DataFrame): DataFrame = Scope { s =>
    val per = ev.groupBy(col("user_id")).agg(
      max(to_date(col("ts"))).as("last_day"),
      count(lit(1)).as("freq"),
      sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val anchor = per.agg(max(col("last_day")).as("corpus_day"))
    val base = s.persist(per.crossJoin(broadcast(anchor))
      .withColumn("recency_days", datediff(col("corpus_day"), col("last_day")).cast("long"))
      .select(col("user_id"), col("recency_days"), col("freq"), col("cents")))
    val nUsers = base.agg(count(lit(1)).as("n_users"))
    def score(order: Seq[Column], as: String): DataFrame =
      ScaleOps.globalRank(s, base, order).crossJoin(broadcast(nUsers))
        .select(col("user_id"), ntileOf(col("pos"), col("n_users"), 5).as(as))
    val r = score(Seq(col("recency_days"), col("user_id")), "r")
    val f = score(Seq(col("freq").desc, col("user_id")), "f")
    val m = score(Seq(col("cents").desc, col("user_id")), "m")
    base.join(r, "user_id").join(f, "user_id").join(m, "user_id")
      .withColumn("segment", col("r") * 100L + col("f") * 10L + col("m"))
      // |users|-row result: the eager checkpoint stands in for the
      // production parquet sink and releases the cached relations
      .localCheckpoint(true)
  }

  /** Exact integer ⌊a/b⌋ via double division — exact while a < 2⁵²
    * (any realistic row count; the rational a/b is then closer to its
    * true floor than one ulp). */
  private def idiv(a: Column, b: Column): Column = floor(a / b).cast("long")

  /** Closed-form SQL NTILE inverse: the tile of global position `pos`
    * (1-based, from [[ScaleOps.globalRank]]) among `n` rows split into
    * `k` tiles — the first n mod k tiles hold ⌊n/k⌋+1 rows, the rest
    * ⌊n/k⌋ (exactly SQL NTILE's distribution). The otherwise-branch
    * division by ⌊n/k⌋ = 0 (n < k) is unreachable: every position then
    * falls inside the first-rem cut. */
  private def ntileOf(pos: Column, n: Column, k: Int): Column = {
    val b = idiv(n, lit(k))
    val r = n % k
    val cut = r * (b + 1)
    when(pos <= cut, idiv(pos - 1, b + 1) + 1)
      .otherwise(r + idiv(pos - cut - 1, b) + 1)
  }

  /** Hourly OHLC bars over the purchase flow — the classic financial
    * resampling operator: per (day, hour) the opening / highest /
    * lowest / closing amount plus trade count and cent volume.
    *
    * First/last are `min_by`/`max_by` over a TOTALLY ORDERED string
    * key `lpad(ts_ms)‖lpad(event_id)` — zero-padded so lexicographic
    * order equals (ts_ms, event_id) order, and unique because
    * event_id is. That keeps the whole bar a HASH aggregate
    * (map-side combinable, merge-order-independent) — the
    * row_number-per-bar alternative would sort every partition and,
    * at 100 TB where one hour is billions of rows, turn each bar
    * into a straggler sort group for no semantic gain. One narrow
    * shuffle of per-bar partials; the event-type filter pushes into
    * the parquet scan. */
  def ohlcBars(ev: DataFrame): DataFrame = {
    val key = concat(
      lpad(col("ts_ms").cast("string"), 14, "0"),
      lpad(col("event_id").cast("string"), 12, "0"))
    ev.filter(col("event_type") === "purchase")
      .select(to_date(col("ts")).as("day"), hour(col("ts")).cast("long").as("hh"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"), key.as("k"))
      .groupBy(col("day"), col("hh"))
      .agg(
        expr("min_by(cents, k)").as("open_cents"),
        max(col("cents")).as("high_cents"),
        min(col("cents")).as("low_cents"),
        expr("max_by(cents, k)").as("close_cents"),
        count(lit(1)).as("n_trades"),
        sum(col("cents")).as("volume_cents"))
  }

  /** Order-total reconciliation — the ledger-vs-detail break report
    * every financial system runs: per order, the STORED header total
    * vs the total RECOMPUTED from its lines, bucketed by relative
    * difference and rolled up per order status. Orders with no lines
    * land in their own bucket (the classic orphan-header break).
    *
    * All arithmetic is exact integers: line totals are
    * cents×(100−disc%)×(100+tax%) BIGINTs (unit cent·10⁻⁴ — the
    * house revenue discipline), the stored total is cents×10⁴, and
    * the ratio buckets compare via cross-multiplication
    * (`diff·1000 ≤ stored` ⇔ diff/stored ≤ 0.1%), so bucket
    * membership can never flip on a float ulp between engines.
    *
    * Scale: lineitem collapses to per-order partials map-side BEFORE
    * the orders join (agg-below-join — the shuffle carries one row
    * per order, not per line); the join is fact⋈fact on the order
    * key; the final rollup is a ≤ 3·5-cell hash aggregate. */
  def reconcile(orders: DataFrame, lineitem: DataFrame): DataFrame = {
    val li = lineitem.select(col("l_orderkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long")) *
          (lit(100L) + floor(col("l_tax") * 100 + 0.5).cast("long"))).as("u"))
      .groupBy(col("l_orderkey")).agg(sum(col("u")).as("computed_u"))
    val o = orders.select(col("o_orderkey"), col("o_orderstatus"),
      (floor(col("o_totalprice") * 100 + 0.5).cast("long") * 10000L).as("stored_u"))
    val diff = abs(col("stored_u") - col("computed_u"))
    o.join(li, col("o_orderkey") === col("l_orderkey"), "left")
      .withColumn("bucket",
        when(col("computed_u").isNull, "no_lines")
          .when(diff * 1000L <= col("stored_u"), "<=0.1%")
          .when(diff * 100L <= col("stored_u"), "<=1%")
          .when(diff * 20L <= col("stored_u"), "<=5%")
          .when(diff * 10L <= col("stored_u"), "<=10%")
          .otherwise(">10%"))
      .groupBy(col("o_orderstatus"), col("bucket"))
      .agg(count(lit(1)).as("n_orders"),
        sum(when(col("computed_u").isNotNull, diff).otherwise(0L)).as("abs_diff_u"))
  }

  /** First-order Markov transition matrix over each user's event
    * sequence: P(next event type | current event type), the behavioral
    * fingerprint behind "this account suddenly transitions
    * signup→purchase far more than the population does".
    *
    * The `lag` window is keyed on user_id (one shuffle, bounded
    * per-user partitions); the transition counts collapse to at most
    * |types|² rows, and the row-probability normalization window runs
    * over THAT 25-row relation — the global-window allowlist shape,
    * not a fact-relation sort. Order within a user is (ts_ms,
    * event_id) — total, so the matrix is engine-deterministic. */
  def markovTransitions(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val pairs = ev.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .withColumn("prev", lag(col("event_type"), 1).over(w))
      .filter(col("prev").isNotNull)
      .select(col("prev"), col("event_type").as("cur"))
    val counts = pairs.groupBy(col("prev"), col("cur")).agg(count(lit(1)).as("n"))
    counts
      .withColumn("p", trunc4(col("n") / sum(col("n")).over(Window.partitionBy(col("prev")))))
  }

  /** Rolling 7-day distinct active users per day (DAU / WAU /
    * stickiness) — the product-analytics staple that CANNOT ride a
    * running-window aggregate because `distinct` doesn't decompose
    * over sliding frames.
    *
    * The relational form: collapse to the distinct (day, user) grid
    * first (the fact table never leaves the first hash-agg), then
    * explode each grid row into the `windowDays` target days it
    * contributes to and re-aggregate with count(DISTINCT). Work is
    * windowDays × |day, user| — grid-bounded, not fact-bounded — and
    * both aggregates are hash-aggs with map-side partials. The DAU is
    * the same aggregate's count of offset-0 rows, and a target day
    * with none is a phantom post-corpus day (it would report a
    * partial window), so it is dropped.
    *
    * At 100 TB the same shape holds: the (day, user) grid is the
    * |users|-bounded relation a DAU pipeline materializes anyway, and
    * count(DISTINCT user_id) plans as two-level hash aggregation, so
    * no per-day sort or global window appears anywhere. */
  def rollingDau(ev: DataFrame, windowDays: Int = 7): DataFrame =
    ev.select(to_date(col("ts")).as("day"), col("user_id")).distinct()
      .select(explode(sequence(lit(0), lit(windowDays - 1))).as("off"),
        col("day"), col("user_id"))
      .groupBy(expr("date_add(day, off)").as("day"))
      .agg(count(when(col("off") === 0, lit(1))).as("dau"),
        countDistinct(col("user_id")).as("wau_7d"))
      .filter(col("day").isNotNull && col("dau") > 0)
      .withColumn("stickiness", trunc4(col("dau") / col("wau_7d")))

  /** Sequential-pattern support: which ordered event-type pairs a→b
    * (b within 24 h AFTER a) do users exhibit, with support (share of
    * all users) and confidence (share of users who do `a` at all) —
    * the sequence-mining sibling of [[markovTransitions]] (which sees
    * only IMMEDIATELY-consecutive pairs) and of basket lift (which
    * ignores order).
    *
    * The existence test never joins raw event pairs (per-user
    * quadratic): events collapse to a (user, type, day) grid carrying
    * min/max event time, and "∃ a-then-b within 24 h" reduces to two
    * grid checks — same day: latest b after earliest a (same calendar
    * day ⇒ gap < 24 h); adjacent day: earliest next-day b within 24 h
    * of latest a (b > a across the boundary by construction; if THIS
    * pair exceeds 24 h, every other cross-boundary pair does too).
    * Both are equi-joins on (user, day) with integer-ms predicates —
    * grid-bounded, engine-exact, no windows anywhere. */
  def seqPairs(ev: DataFrame): DataFrame = Scope { s =>
    // feeds both orientation arms of both joins
    val g = s.persist(ev.select(col("user_id"), col("event_type").as("t"),
        expr("ts_ms div 86400000").as("d"), col("ts_ms"))
      .groupBy(col("user_id"), col("t"), col("d"))
      .agg(min(col("ts_ms")).as("mn"), max(col("ts_ms")).as("mx")))
    val same = g.as("a").join(g.as("b"),
        col("a.user_id") === col("b.user_id") && col("a.d") === col("b.d") &&
          col("a.t") =!= col("b.t") && col("b.mx") > col("a.mn"))
      .select(col("a.user_id").as("user_id"), col("a.t").as("ta"), col("b.t").as("tb"))
    val adj = g.as("a").join(g.as("b"),
        col("a.user_id") === col("b.user_id") && col("b.d") === col("a.d") + 1L &&
          col("a.t") =!= col("b.t") && col("b.mn") - col("a.mx") <= 86400000L)
      .select(col("a.user_id").as("user_id"), col("a.t").as("ta"), col("b.t").as("tb"))
    val userPairs = same.unionAll(adj).distinct()
    val aUsers = g.select(col("t").as("ta"), col("user_id")).distinct()
      .groupBy(col("ta")).agg(count(lit(1)).as("n_a_users"))
    val total = ev.agg(countDistinct(col("user_id")).as("n_total"))
    userPairs.groupBy(col("ta"), col("tb")).agg(count(lit(1)).as("n_users"))
      .join(aUsers, "ta")
      .crossJoin(broadcast(total))
      .select(col("ta"), col("tb"), col("n_users"), col("n_a_users"),
        trunc4(col("n_users") / col("n_total")).as("support"),
        trunc4(col("n_users") / col("n_a_users")).as("confidence"))
      .localCheckpoint(true) // ≤ |types|² rows; releases the grid cache
  }

  /** Cohort LTV curve: cumulative spend per user by cohort age — the
    * money sibling of [[cohortRetention]]. Users are cohorted by the
    * epoch-week of their first event; each cohort's weekly cents then
    * accumulate over age and normalize by cohort size.
    *
    * Shape: `spread` keys the fact by user_id, so the per-(user, week)
    * cents aggregate and the first-touch window share that one exchange
    * (no fact⋈per-user join); one (cohort, age) hash-agg, where each
    * user has exactly one age-0 row, so the cohort size is that row's
    * count; then windows PARTITIONED BY COHORT over its ≤ corpus-weeks
    * age rows — the allowlisted bounded-relation window shape, nothing
    * global. Epoch-week buckets (day div 7) keep the cohort key
    * calendar-free and engine-portable. */
  def cohortLtv(ev: DataFrame): DataFrame = {
    val byCohort = Window.partitionBy(col("cohort_week"))
    graft.functions.Portable.spread(ev, col("user_id"))
      .groupBy(col("user_id"), expr("(ts_ms div 86400000) div 7").as("week"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .withColumn("cohort_week", min(col("week")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("cohort_week"), (col("week") - col("cohort_week")).as("age_week"))
      .agg(sum(col("cents")).as("cents_week"), count(lit(1)).as("n_age"))
      .withColumn("cum_cents", sum(col("cents_week")).over(byCohort.orderBy(col("age_week"))))
      .withColumn("n_users", max(when(col("age_week") === 0, col("n_age"))).over(byCohort))
      .select(col("cohort_week"), col("age_week"), col("n_users"),
        col("cents_week"), col("cum_cents"),
        trunc4(col("cum_cents") / col("n_users")).as("ltv_cents"))
  }

  /** Seasonal residual anomalies: days whose volume departs from
    * their day-of-week baseline by more than `k`× the per-type MAD of
    * residuals — the alerting layer ON TOP of [[seasonalBaseline]]
    * (which reports the decomposition; this flags the exceptions).
    * MAD, not stddev: a contaminated day should not widen its own
    * alert band.
    *
    * Every window here runs over the per-(type, day) DAILY relation —
    * |types|·|days| rows, collapsed by the first hash-agg — including
    * the MAD's rank window (lower median at row ⌈n/2⌉, day
    * tie-break). Residuals are trunc4'd before ranking and the
    * threshold compare runs the same IEEE multiply on both engines,
    * so flag membership never floats. */
  def seasonalAnomaly(ev: DataFrame, k: Double = 3.0): DataFrame = {
    val daily = ev.groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val wd = Window.partitionBy(col("event_type"), col("dow"))
    val withBase = daily.withColumn("dow", pmod(col("day") + 4, lit(7L)))
      .withColumn("dow_mean", trunc4(sum(col("cents")).over(wd) / count(lit(1)).over(wd)))
      .withColumn("resid", trunc4(col("cents") - col("dow_mean")))
    val byAbs = Window.partitionBy(col("event_type")).orderBy(abs(col("resid")), col("day"))
    val wType = Window.partitionBy(col("event_type"))
    val madRel = withBase
      .withColumn("rn", row_number().over(byAbs))
      .withColumn("n", count(lit(1)).over(wType))
      .filter(col("rn") === expr("(n + 1) div 2"))
      .select(col("event_type"), abs(col("resid")).as("mad"))
    withBase.join(madRel, "event_type")
      .filter(abs(col("resid")) > col("mad") * k)
      .select(col("event_type"), col("day"), col("cents"),
        col("dow_mean"), col("resid"), col("mad"))
  }

  /** Weekly survival curve — the churn view of the user base: S(w) =
    * share of users whose LAST activity falls in week ≥ w, over the
    * full corpus week spine (weeks where nobody churns still get a
    * row; the curve must be defined everywhere to read half-life off
    * it).
    *
    * One pass: `spread` keys the fact by user_id for the distinct
    * (user, week) grid and the last-week window; the per-week rollup
    * (each user counted at its last week) is the spine, and the
    * cumulative and total are windows over it. Weeks are epoch-day
    * div 7 (the [[cohortLtv]] convention). */
  def survivalCurve(ev: DataFrame): DataFrame =
    graft.functions.Portable.spread(ev, col("user_id"))
      .select(col("user_id"), expr("(ts_ms div 86400000) div 7").as("week"))
      .distinct()
      .withColumn("last", max(col("week")).over(Window.partitionBy(col("user_id"))))
      .groupBy(col("week"))
      .agg(count(when(col("week") === col("last"), lit(1))).as("n_churned"))
      .withColumn("survivors",
        sum(col("n_churned")).over(Window.orderBy(col("week").desc)))
      .withColumn("n_total", sum(col("n_churned")).over(Window.partitionBy()))
      .select(col("week"), col("n_churned"), col("survivors"),
        trunc4(col("survivors") / col("n_total")).as("share"))

  /** CUPED variance reduction for the A/B readout ([[abTest]]'s
    * sibling): user spend in the experiment period is adjusted by the
    * pre-period covariate, y′ = y − θ·(x − x̄), which removes the
    * between-user variance the pre-period already explains and shrinks
    * the confidence interval at zero cost (Deng et al., WSDM'13).
    *
    * Order-independence discipline: NO double is ever summed across
    * rows. One per-user hash-agg yields integer cent pairs; one
    * 5-sum aggregate (n, Σx, Σy, Σx², Σxy) per variant plus pooled;
    * θ, the adjusted means, and the adjusted variances all EXPAND
    * ALGEBRAICALLY over those sums (var_adj = var_y + θ²·var_x −
    * 2θ·cov), so both engines run the same scalar IEEE expression on
    * identical exact integers. The pre/post split day is the corpus
    * midpoint, broadcast from a scalar aggregate. The pooled sums are
    * whole-relation window sums over the two per-variant rows, so one
    * aggregate serves both.
    *
    * All sums and cross-products run in DECIMAL(38,0) (HUGEINT on the
    * oracle side): the first full-board sf1 run overflowed `n·Σx²` in
    * BIGINT (1.3e19 at just 15k users × month-long spend), and at
    * 10⁹-user scale even Σy crosses 2⁶³ — so every product widens and
    * only the final ratios cast to double (the weekDiscord/markov
    * discipline). Exactness bound: n·Σx² ≤ 10³⁸ holds to ~10⁹ users ×
    * ~10¹⁰ lifetime cents. */
  def abCuped(ev: DataFrame): DataFrame = {
    val base = ev.select(col("user_id"), expr("ts_ms div 86400000").as("day"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val mid = base.agg(expr("(min(day) + max(day) + 1) div 2").as("mid"))
    val per = base.crossJoin(broadcast(mid))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("mid"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
      .withColumn("variant",
        when(pmod(graft.functions.TextHash.hash60(
          concat(lit("ab|"), col("user_id").cast("string"))), lit(2L)) === 0, "A")
          .otherwise("B"))
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val pool = (c: String) => sum(col(c)).over(Window.partitionBy())
    per.groupBy(col("variant")).agg(
        count(lit(1)).as("n"), sum(dec(col("x"))).as("sx"), sum(dec(col("y"))).as("sy"),
        sum(dec(col("x")) * col("x")).as("sxx"), sum(dec(col("x")) * col("y")).as("sxy"),
        sum(dec(col("y")) * col("y")).as("syy"))
      .withColumn("theta",
        (dec(pool("n")) * pool("sxy") - pool("sx") * pool("sy")).cast("double") /
          (dec(pool("n")) * pool("sxx") - pool("sx") * pool("sx")).cast("double"))
      .withColumn("mean_x_pool", pool("sx").cast("double") / pool("n"))
      .withColumn("mean_y", col("sy").cast("double") / col("n"))
      .withColumn("mean_x", col("sx").cast("double") / col("n"))
      .withColumn("mean_adj",
        col("mean_y") - col("theta") * (col("mean_x") - col("mean_x_pool")))
      .withColumn("var_y", (dec(col("n")) * col("syy") - col("sy") * col("sy")).cast("double") /
        (col("n").cast("double") * col("n")))
      .withColumn("var_x", (dec(col("n")) * col("sxx") - col("sx") * col("sx")).cast("double") /
        (col("n").cast("double") * col("n")))
      .withColumn("cov_xy", (dec(col("n")) * col("sxy") - col("sx") * col("sy")).cast("double") /
        (col("n").cast("double") * col("n")))
      .withColumn("var_adj", col("var_y") + col("theta") * col("theta") * col("var_x") -
        lit(2.0) * col("theta") * col("cov_xy"))
      .select(col("variant"), col("n"), trunc4(col("theta")).as("theta"),
        trunc4(col("mean_y")).as("mean_post"), trunc4(col("mean_adj")).as("mean_adj"),
        trunc4(col("var_y")).as("var_post"), trunc4(col("var_adj")).as("var_adj"),
        trunc4((col("var_y") - col("var_adj")) / col("var_y") * 100).as("var_cut_pct"))
  }

  /** Right-to-erasure impact audit: given a deletion list (hash-picked
    * ~5% of users here; a real run joins the actual request table),
    * report per event type what leaves and what remains — the
    * reconciliation a data-governance pipeline records BEFORE it
    * rewrites partitions. The deletion predicate is a pure hash of the
    * user id, so membership is a per-row flag: the erased counts are
    * conditional aggregates beside the total, and kept = total − erased
    * row-for-row (a NULL user is never on the list, as it would never
    * match the erasure join).
    *
    * Scale: one map-side-combined per-type aggregate over the scan (the
    * distinct-user count adds one (type, user) partial level); no join,
    * nothing sorts. */
  def forgetAudit(ev: DataFrame, mod: Long = 20L): DataFrame = {
    val erased = pmod(graft.functions.TextHash.hash60(
      concat(lit("erase|"), col("user_id").cast("string"))), lit(mod)) === 0
    ev.groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_total"), count(when(erased, lit(1))).as("n_erased"),
        countDistinct(when(erased, col("user_id"))).as("n_erased_users"))
      .select(col("event_type"), col("n_total"), col("n_erased"),
        (col("n_total") - col("n_erased")).as("n_kept"), col("n_erased_users"))
  }

  /** Recurring-payment detection: per (user, merchant) purchase
    * series with ≥ `minN` transactions, the inter-payment gap profile
    * and a regularity verdict — the subscription/standing-order
    * signal (and its absence under a high transaction count is the
    * opposite flag). A series is `regular` when the gap spread stays
    * within 20% of the mean gap, tested by integer
    * cross-multiplication ((max−min)·5·n ≤ Σgap) so the verdict
    * can't float. The verdict is REPORTED, not filtered — the
    * irregular series are the interesting rows for monitoring.
    *
    * One keyed lag window on (user, merchant) — bounded per-series
    * partitions — then two hash-aggs joined on the series key; all
    * gap math is exact epoch-ms integers. */
  def recurringPayments(ev: DataFrame, minN: Long = 3L): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), get_json_object(col("props"), "$.k").as("merchant"),
        col("ts_ms"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val series = p.groupBy(col("user_id"), col("merchant"))
      .agg(count(lit(1)).as("n_txn"), sum(col("cents")).as("total_cents"))
      .filter(col("n_txn") >= minN)
    val w = Window.partitionBy(col("user_id"), col("merchant"))
      .orderBy(col("ts_ms"), col("event_id"))
    val gaps = p.withColumn("prev", lag(col("ts_ms"), 1).over(w))
      .filter(col("prev").isNotNull)
      .groupBy(col("user_id"), col("merchant"))
      .agg(count(lit(1)).as("n_gaps"), min(col("ts_ms") - col("prev")).as("min_gap_ms"),
        max(col("ts_ms") - col("prev")).as("max_gap_ms"),
        sum(col("ts_ms") - col("prev")).as("sum_gap"))
    series.join(gaps, Seq("user_id", "merchant"))
      .select(col("user_id"), col("merchant"), col("n_txn"), col("total_cents"),
        col("min_gap_ms"), col("max_gap_ms"),
        trunc4(col("sum_gap") / col("n_gaps") / lit(86400000.0)).as("period_days"),
        ((col("max_gap_ms") - col("min_gap_ms")) * lit(5L) * col("n_gaps") <=
          col("sum_gap")).as("regular"))
  }

  /** Merchant concentration per event type: Herfindahl–Hirschman
    * index plus top-1/top-3 volume shares — the market-structure /
    * single-point-of-failure readout ("one merchant carries 40% of
    * purchase volume" is an operational risk flag).
    *
    * HHI = Σᵢ (cᵢ/C)² is computed as Σcᵢ² / C² — the squared sum is
    * an EXACT DECIMAL(38,0) (a cell's cents squared passes 2⁶³ at
    * scale, the abCuped widening rule), so no
    * double is summed across merchants and the index is
    * merge-order-deterministic; the top-k shares ride a rank window
    * over the ≤ |types|·|merchants| cell relation, and the per-type
    * rollup of the sums and the top ranks runs on that window's own
    * partitioning. One fact scan, one hash-agg, everything after is
    * cell-bounded. */
  def concentration(ev: DataFrame): DataFrame = {
    val byC = Window.partitionBy(col("event_type"))
      .orderBy(col("c").desc, col("merchant"))
    ev.select(col("event_type"),
        get_json_object(col("props"), "$.k").as("merchant"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"), col("merchant"))
      .agg(sum(col("cents")).as("c"))
      .withColumn("rnk", row_number().over(byC))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_merchants"), sum(col("c")).as("total_cents"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("ssq"),
        max(when(col("rnk") === 1, col("c"))).as("top1_cents"),
        sum(when(col("rnk") <= 3, col("c"))).as("top3_cents"))
      .select(col("event_type"), col("n_merchants"), col("total_cents"),
        graft.functions.Portable.trunc6(col("ssq").cast("double") /
          (col("total_cents").cast("double") * col("total_cents"))).as("hhi"),
        trunc4(col("top1_cents") / col("total_cents")).as("top1_share"),
        trunc4(col("top3_cents") / col("total_cents")).as("top3_share"))
  }

  /** Per-user merchant-mix Shannon entropy — the account-takeover /
    * mule signal next to [[concentration]]'s market-level HHI: a
    * normal account spreads activity over its usual merchants (high
    * entropy for its merchant count); a pass-through mule funnels
    * everything to one counterparty (entropy ≈ 0 with many events).
    * Emitted per user: event/merchant counts, H = −Σ p·ln p, and H
    * normalized by ln(n_merchants) (1.0 = perfectly even mix).
    *
    * Engine-exact: each cell's −p·ln p floors to a 1e6-scaled BIGINT
    * (the [[TextOps]] DSIR trick) so the per-user entropy is an exact
    * integer sum. ONE exchange total: `spread` keys the fact by
    * user_id, and the (user, merchant) hash-agg, both windows, and the
    * final per-user rollup all reuse that partitioning (subset-keyed
    * ClusteredDistribution, the featureHash precedent). */
  def userEntropy(ev: DataFrame): DataFrame = {
    val wU = Window.partitionBy(col("user_id"))
    graft.functions.Portable.spread(ev, col("user_id"))
      .select(col("user_id"), get_json_object(col("props"), "$.k").as("merchant"))
      .groupBy(col("user_id"), col("merchant")).agg(count(lit(1)).as("n"))
      .withColumn("ne", sum(col("n")).over(wU))
      .withColumn("nm", count(lit(1)).over(wU))
      .select(col("user_id"), col("ne"), col("nm"),
        floor((col("n") / col("ne")) * log(col("n") / col("ne")) * lit(-1e6))
          .cast("long").as("t"))
      .groupBy(col("user_id"))
      .agg(max(col("ne")).as("n_events"), max(col("nm")).as("n_merchants"),
        sum(col("t")).as("ent_scaled"))
      .select(col("user_id"), col("n_events"), col("n_merchants"), col("ent_scaled"),
        trunc4(col("ent_scaled") / 1e6).as("entropy"),
        when(col("n_merchants") > 1,
          trunc4(col("ent_scaled") / 1e6 / log(col("n_merchants").cast("double"))))
          .otherwise(0.0).as("norm_entropy"))
  }

  /** Smoothed target encoding (Micci-Barreca 2001, the m-estimate
    * categorical encoder every tabular-ML pipeline ships): each
    * merchant's expected transaction value shrunk toward the global
    * mean by pseudo-count `m`, enc = (Σcents + m·ḡ)/(n + m) — rare
    * merchants ride the prior, busy ones their own mean, so the
    * feature never memorizes single-row categories (the leakage the
    * naive per-category mean bakes in).
    *
    * Exact-integer core: per-merchant sums are BIGINT cents; the only
    * doubles are the two final divisions, mirrored shape-for-shape by
    * the oracle. One hash-agg over the fact; the global totals are
    * whole-relation window sums over the |merchants|-row cells. */
  def targetEncode(ev: DataFrame, m: Int = 20): DataFrame = {
    val all = Window.partitionBy()
    ev.select(get_json_object(col("props"), "$.k").as("merchant"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("merchant"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("sum_cents"))
      .withColumn("tn", sum(col("n")).over(all))
      .withColumn("tc", sum(col("sum_cents")).over(all))
      .select(col("merchant"), col("n"), col("sum_cents"),
        trunc4(col("sum_cents") / col("n")).as("naive_cents"),
        trunc4((col("sum_cents") + lit(m) * (col("tc") / col("tn"))) / (col("n") + lit(m)))
          .as("enc_cents"))
  }

  /** Hourly burst detection: (event_type, hour) buckets whose count
    * sits more than `z`σ above that type's per-hour mean — the volume-
    * spike pager alert ([[velocityBursts]] flags per-USER velocity;
    * this flags the aggregate channel). The hour grid DENSIFIES over
    * the observed span (sequence + explode) so silent hours pull the
    * mean/σ down like they should — stats over only-active buckets
    * would under-flag a bursty-but-sparse channel.
    *
    * Exactness: per-bucket counts, Σn and Σn² are BIGINTs, so μ and σ
    * derive from exact integers and the z comparison is the identical
    * double expression on both engines. Scale: the dense grid is
    * |types|·|hours| — metadata-sized, grows with TIME not data; the
    * fact contributes one map-side-combining hash-agg. */
  def burstDetect(ev: DataFrame, z: Double = 3.0): DataFrame =
    burstFromHours(ev
      .select(col("event_type"), floor(col("ts_ms") / 3600000L).as("h"))
      .groupBy(col("event_type"), col("h")).agg(count(lit(1)).as("n")), z)

  /** [[burstDetect]]'s read-back half over an already-built
    * (event_type, h, n) hourly relation — shared with the streaming
    * replay ([[graft.streaming.Streaming]] `streamBurst`), so the
    * stream and batch z-gates can never diverge. */
  private[graft] def burstFromHours(hoursIn: DataFrame, z: Double): DataFrame = Scope { s =>
    // feeds the span, the type list, and the dense join
    val hours = s.persist(hoursIn)
    val span = hours.agg(min(col("h")).as("h0"), max(col("h")).as("h1"))
    val dense = hours.select(col("event_type")).distinct()
      .crossJoin(broadcast(span))
      .select(col("event_type"), explode(sequence(col("h0"), col("h1"))).as("h"))
      .join(hours, Seq("event_type", "h"), "left")
      .withColumn("n", coalesce(col("n"), lit(0L)))
    val stats = dense.groupBy(col("event_type"))
      .agg(count(lit(1)).as("k"), sum(col("n")).as("s"),
        sum(col("n").cast("decimal(38,0)") * col("n")).cast("long").as("s2"))
    dense.join(broadcast(stats), "event_type")
      .withColumn("mu", col("s") / col("k"))
      .withColumn("sd", sqrt(col("s2") / col("k") - (col("s") / col("k")) * (col("s") / col("k"))))
      .filter(col("sd") > 0 && (col("n") - col("mu")) > lit(z) * col("sd"))
      .select(col("event_type"), (col("h") * 3600000L).as("hour_ms"), col("n"),
        trunc4((col("n") - col("mu")) / col("sd")).as("z"))
      .localCheckpoint(true) // flagged buckets only; releases the cache
  }

  /** Pareto coverage: per event type, how many top merchants carry 80%
    * of the cent volume — the "how concentrated is this channel
    * really" readout behind [[concentration]]'s fixed top-1/top-3
    * shares (k80 = 3 of 40 merchants is a very different market from
    * k80 = 30 of 40). The 80% threshold is the exact integer
    * cross-multiplication 5·cum ≥ 4·total — no float share ever
    * decides membership.
    *
    * Scale: the rank/running-sum and per-type total windows run over
    * the COLLAPSED (type, merchant) relation — bounded by the merchant
    * catalog, not the fact — partitioned by type (never global), and
    * the rollup reuses that partitioning. */
  def paretoShare(ev: DataFrame): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val byC = byType.orderBy(col("c").desc, col("merchant"))
    ev.select(col("event_type"), get_json_object(col("props"), "$.k").as("merchant"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"), col("merchant")).agg(sum(col("cents")).as("c"))
      .withColumn("rnk", row_number().over(byC).cast("long"))
      .withColumn("cum", sum(col("c")).over(
        byC.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n_merchants", count(lit(1)).over(byType))
      .withColumn("total_cents", sum(col("c")).over(byType))
      .filter(col("cum") * 5 >= col("total_cents") * 4)
      .groupBy(col("event_type"))
      .agg(max(col("n_merchants")).as("n_merchants"), max(col("total_cents")).as("total_cents"),
        min(col("rnk")).as("k80"), min_by(col("cum"), col("rnk")).as("cum80"))
      .select(col("event_type"), col("n_merchants"), col("total_cents"),
        col("k80"), trunc4(col("cum80") / col("total_cents")).as("share80"))
  }

  /** Per-user inter-arrival profile: min/median/p90/max gap between a
    * user's consecutive events — the cadence fingerprint behind bot
    * detection ([[velocityBursts]] catches the burst; a near-constant
    * median gap catches the metronome) and the baseline
    * [[dormantAwakening]] compares its reawakening gap against.
    *
    * Gaps are exact BIGINT milliseconds from ONE lag window on the
    * (user, ts, id) sort; the quantiles run per user inside the same
    * partitioning (Spark `percentile` ≡ DuckDB `quantile_cont` over
    * identical integers — the q_sql_percentiles precedent). Output is
    * one row per user. */
  def interarrival(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    ev.select(col("user_id"), col("ts_ms"), col("event_id"))
      .withColumn("gap", col("ts_ms") - lag(col("ts_ms"), 1).over(w))
      .filter(col("gap").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_gaps"),
        min(col("gap")).as("min_gap_ms"), max(col("gap")).as("max_gap_ms"),
        trunc4(expr("percentile(gap, 0.5)")).as("p50_gap"),
        trunc4(expr("percentile(gap, 0.9)")).as("p90_gap"))
  }

  /** Weight-of-evidence encoding + information value — the
    * credit-scoring sibling of [[targetEncode]]: per merchant,
    * WOE = ln(good-share / bad-share) against the binary outcome
    * (here event_type = 'error' is "bad"), with the +0.5 Laplace
    * adjustment so empty cells can't blow up the log, and each
    * merchant's IV contribution (good% − bad%)·WOE — the standard
    * screen for whether the categorical carries signal at all
    * (Σ IV < 0.02 ⇒ drop the feature).
    *
    * Exactness: counts are BIGINTs; shares and the log run as the
    * identical double expression on both engines; emitted measures
    * truncate. One fact hash-agg; totals are whole-relation window sums
    * over the |merchants|-row cells. */
  def woeEncode(ev: DataFrame): DataFrame = {
    val all = Window.partitionBy()
    ev.select(get_json_object(col("props"), "$.k").as("merchant"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("bad"))
      .groupBy(col("merchant"))
      .agg(sum(col("bad")).as("n_bad"),
        sum(lit(1L) - col("bad")).as("n_good"))
      .withColumn("tb", sum(col("n_bad")).over(all))
      .withColumn("tg", sum(col("n_good")).over(all))
      .withColumn("gs", (col("n_good") + 0.5) / (col("tg") + 0.5))
      .withColumn("bs", (col("n_bad") + 0.5) / (col("tb") + 0.5))
      .select(col("merchant"), col("n_good"), col("n_bad"),
        trunc4(log(col("gs") / col("bs"))).as("woe"),
        trunc4((col("gs") - col("bs")) * log(col("gs") / col("bs"))).as("iv_term"))
  }

  /** Exact ROC AUC of a score against a binary outcome via the
    * Mann-Whitney rank-sum — "does transaction value separate error
    * events from the rest": AUC = P(score_pos > score_neg) +
    * ½P(tie). Ties are handled EXACTLY with midranks over the
    * collapsed per-cents bins, and every rank quantity is carried
    * doubled (2·cum + n + 1) so half-ranks stay integers — U2 =
    * 2·U is an exact BIGINT and the single division at the end is
    * the only double. The one global window runs over the collapsed
    * cents-bin relation — bounded by the VALUE DOMAIN (≤ 10⁴ bins
    * here), not the fact, the [[winsorize]] discipline.
    *
    * Output is the one-row eval readout: n_pos, n_neg, u2, auc. */
  def scoreAuc(ev: DataFrame): DataFrame = {
    val bins = ev
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("pos"))
      .groupBy(col("cents"))
      .agg(sum(col("pos")).as("n_pos"), sum(lit(1L) - col("pos")).as("n_neg"))
    val wO = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val ranked = bins
      .withColumn("cum", sum(col("n_pos") + col("n_neg")).over(wO))
      // midrank·2 of this bin = 2·(count before it) + (its count) + 1
      .withColumn("mr2",
        (col("cum") - (col("n_pos") + col("n_neg"))) * 2 + (col("n_pos") + col("n_neg")) + 1)
    // Σ n_pos·mr2 ≈ n_pos·2n and np·(np+1) are corpus-count products
    // (≫ 2^63 at 1e9-row classes): exact DECIMAL(38,0), one double
    // division for the AUC
    val dec = (c: Column) => c.cast("decimal(38,0)")
    ranked.agg(sum(col("n_pos")).as("np"), sum(col("n_neg")).as("nn"),
        sum(dec(col("n_pos")) * col("mr2")).as("r2"))
      .select(col("np").as("n_pos"), col("nn").as("n_neg"),
        (col("r2") - dec(col("np")) * (col("np") + 1)).as("u2"),
        trunc4((col("r2") - dec(col("np")) * (col("np") + 1)).cast("double") /
          (lit(2.0) * col("np") * col("nn"))).as("auc"))
  }

  /** Precision/recall/F1 threshold sweep — the operating-point table
    * next to [[scoreAuc]]'s single number: predict "bad" when cents ≥
    * t for ten fixed 1000-cent thresholds and report the confusion
    * measures at each. Everything is conditional integer sums over the
    * collapsed cents bins joined to the tiny broadcast threshold
    * relation; F1 computes directly from integer tp/fp/fn
    * (2tp/(2tp+fp+fn)) so it never compounds truncated ratios. */
  def prCurve(ev: DataFrame, stepCents: Long = 1000L, nT: Int = 10): DataFrame = {
    val bins = ev
      .select(floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("pos"))
      .groupBy(col("cents"))
      .agg(sum(col("pos")).as("n_pos"), sum(lit(1L) - col("pos")).as("n_neg"))
    val thresholds = bins.sparkSession.range(1, nT + 1)
      .select((col("id") * stepCents).as("t"))
    bins.crossJoin(broadcast(thresholds))
      .groupBy(col("t"))
      .agg(sum(when(col("cents") >= col("t"), col("n_pos")).otherwise(0L)).as("tp"),
        sum(when(col("cents") >= col("t"), col("n_neg")).otherwise(0L)).as("fp"),
        sum(when(col("cents") < col("t"), col("n_pos")).otherwise(0L)).as("fn"))
      .select(col("t"), col("tp"), col("fp"), col("fn"),
        // NULL when nothing predicts positive (both engines agree on
        // NULL; x/0 rendering would not be portable)
        when(col("tp") + col("fp") > 0,
          trunc4(col("tp") / (col("tp") + col("fp")))).as("precision"),
        trunc4(col("tp") / (col("tp") + col("fn"))).as("recall"),
        trunc4(lit(2.0) * col("tp") / (lit(2) * col("tp") + col("fp") + col("fn"))).as("f1"))
  }

  /** Daily log-return volatility per event type — the realized-vol
    * readout a monitoring desk keeps on every flow series: per-day
    * cent volume, day-over-day log return, and the trailing 7-day
    * return volatility. Returns floor to 1e6-scaled BIGINTs at the
    * moment they become floats (the one ln), so the rolling sums the
    * σ derives from are EXACT integers and the window's merge order
    * can't move a result.
    *
    * Scale: the fact contributes one (type, day) hash-agg; both
    * windows (lag, trailing frame) run per type over the collapsed
    * daily relation — bounded by the calendar, not the data. */
  def volatility(ev: DataFrame, win: Int = 7): DataFrame = {
    val daily = ev
      .select(col("event_type"),
        (floor(col("ts_ms") / 86400000L) * 86400000L).as("day_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day_ms")).agg(sum(col("cents")).as("c"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day_ms"))
    val rets = daily
      .withColumn("prev", lag(col("c"), 1).over(byDay))
      .filter(col("prev").isNotNull)
      .withColumn("r", floor(log(col("c") / col("prev")) * 1e6).cast("long"))
    val frame = byDay.rowsBetween(-(win - 1L), Window.currentRow)
    rets
      .withColumn("n_win", count(lit(1)).over(frame))
      .withColumn("s", sum(col("r")).over(frame))
      .withColumn("s2", sum(col("r") * col("r")).over(frame))
      .select(col("event_type"), col("day_ms"), col("c").as("cents"),
        trunc4(col("r") / 1e6).as("ret"), col("n_win"),
        // greatest(·, 0): float cancellation on an all-equal window can
        // land at −ε, and sqrt(−ε) is engine-divergent
        trunc4(sqrt(greatest(col("s2") / col("n_win") -
          (col("s") / col("n_win")) * (col("s") / col("n_win")), lit(0.0))) / 1e6).as("vol"))
  }

  /** Maximum drawdown of the daily volume series per event type: the
    * deepest drop from the running peak, with the day it bottomed —
    * "how far below its best day has this channel fallen" (a channel
    * whose volume never recovers toward its peak is dying or was
    * spiked by fraud). All integer: daily cents, running max, and the
    * drawdown are BIGINTs; the trough day is the FIRST day attaining
    * the max drawdown (min day over ties — deterministic).
    *
    * Scale: one fact hash-agg; the running-max window and the per-type
    * rollup both run over the collapsed (type, day) relation, on one
    * partitioning. The argmax is the max of (dd, −day): the deepest
    * drawdown, then the earliest day among its ties. */
  def drawdown(ev: DataFrame): DataFrame = {
    val daily = ev
      .select(col("event_type"),
        (floor(col("ts_ms") / 86400000L) * 86400000L).as("day_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"), col("day_ms")).agg(sum(col("cents")).as("c"))
    val byDay = Window.partitionBy(col("event_type")).orderBy(col("day_ms"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily
      .withColumn("dd", max(col("c")).over(byDay) - col("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_days"), max(col("c")).as("peak_cents"),
        max(struct(col("dd"), (-col("day_ms")).as("neg_day"))).as("arg"))
      .select(col("event_type"), col("n_days"), col("peak_cents"),
        col("arg.dd").as("max_dd_cents"), (-col("arg.neg_day")).as("trough_day_ms"),
        trunc4(col("arg.dd") / col("peak_cents")).as("dd_share"))
  }

  /** Mutual information between event type and merchant — the
    * feature-relevance readout beside [[woeEncode]]'s binary IV:
    * MI = Σ_cells p(t,m)·ln(p(t,m)/(p(t)·p(m))), decomposed per event
    * type so the reader sees WHICH channel's merchant mix carries
    * signal (a channel whose merchants are uniform contributes ≈ 0).
    * Per-cell terms floor to 1e8-scaled BIGINTs (the PSI discipline),
    * so per-type sums are exact; ln's argument is the exact integer
    * cross-ratio n·N/(nt·nm).
    *
    * Scale: one (type, merchant) hash-agg over the fact; both marginals
    * and the total are window sums over those ≤ |types|·|merchants|
    * cells, where the rollup runs too. */
  def mutualInfo(ev: DataFrame): DataFrame =
    ev.select(col("event_type"), get_json_object(col("props"), "$.k").as("merchant"))
      .groupBy(col("event_type"), col("merchant")).agg(count(lit(1)).as("n"))
      .withColumn("nt", sum(col("n")).over(Window.partitionBy(col("event_type"))))
      .withColumn("nm", sum(col("n")).over(Window.partitionBy(col("merchant"))))
      .withColumn("nn", sum(col("n")).over(Window.partitionBy()))
      .filter(col("merchant").isNotNull) // counted in the type and total marginals only
      .select(col("event_type"), col("nt"),
        // one operand of each count product cast to double BEFORE the
        // multiply: BIGINT n*nn wraps silently in Spark past ~3e9
        // events while DuckDB raises, so the engines would diverge
        // exactly at scale. double·long is exact up to 2^53 and both
        // engines round the same exact product once — bit-identical.
        floor((col("n") / col("nn")) *
            log((col("n").cast("double") * col("nn")) /
              (col("nt").cast("double") * col("nm"))) * 1e8)
          .cast("long").as("term_scaled"))
      .groupBy(col("event_type"))
      .agg(max(col("nt")).as("n_events"), count(lit(1)).as("n_cells"),
        sum(col("term_scaled")).as("mi_scaled"))
      .withColumn("mi_part", trunc4(col("mi_scaled") / 1e8))

  /** k-anonymity risk audit (Sweeney 2002) — the privacy screen next
    * to the [[TextOps]] PII redaction and the right-to-erasure audit:
    * treating (merchant, event type, $10 amount band) as the
    * quasi-identifier, how many QI groups contain fewer than k
    * distinct users (re-identification risk: an attacker who knows
    * someone's merchant/type/band can single them out), and how many
    * users sit in such groups — reported for k ∈ {2, 5, 10}.
    *
    * All counts are exact integers over the DISTINCT (QI, user) pair
    * relation: group size = pairs per group; affected users =
    * count-distinct of users in violating groups (a user in several
    * small groups counts once). The k thresholds broadcast; the one
    * fact-sized op is the distinct-pair hash-agg.
    *
    * Why it scales: everything downstream of `pairs` is grouped by the
    * QI key or k — bounded by the QI domain, and the violating-group
    * join back to pairs carries only small groups (< k·|violating|
    * rows by definition). */
  def kAnonymity(ev: DataFrame, ks: Seq[Long] = Seq(2L, 5L, 10L)): DataFrame = Scope { s =>
    val pairs = s.persist(ev
      .select(get_json_object(col("props"), "$.k").as("merchant"), col("event_type"),
        floor(col("value") / 10).cast("long").as("band"), col("user_id"))
      .distinct()) // feeds group sizes AND the affected-user join
    // feeds the total AND the per-k flags
    val gs = s.persist(pairs.groupBy(col("merchant"), col("event_type"), col("band"))
      .agg(count(lit(1)).as("g")))
    val tot = gs.agg(count(lit(1)).as("n_groups"))
    val kdf = pairs.sparkSession.createDataFrame(
      ks.map(Tuple1(_))).toDF("k")
    val flagged = gs.join(broadcast(kdf), col("g") < col("k"))
    val perK = flagged.groupBy(col("k"))
      .agg(count(lit(1)).as("n_violating"))
    val affected = flagged
      .join(pairs, Seq("merchant", "event_type", "band"))
      .groupBy(col("k")).agg(countDistinct(col("user_id")).as("n_affected_users"))
    perK.join(affected, Seq("k"), "left")
      .withColumn("n_affected_users", coalesce(col("n_affected_users"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("k"), col("n_groups"), col("n_violating"), col("n_affected_users"),
        trunc4(col("n_violating") / col("n_groups")).as("risk_share"))
      .localCheckpoint(true) // |ks| rows; releases both caches
  }

  /** Distinct l-diversity audit (Machanavajjhala et al. 2007) — the
    * k-anonymity successor: a quasi-identifier group can be large (so
    * k-anonymous) yet expose its members anyway when everyone in it
    * shares the SAME sensitive value (the homogeneity attack).
    * QI = (merchant, amount band), sensitive = event_type; a group
    * violates l-diversity when it carries < l distinct sensitive
    * values. Same collapsed-group machinery and report shape as
    * [[kAnonymity]] — group sizes come from one distinct-projection
    * aggregate, thresholds ride a literal frame, and the affected-user
    * count joins the violating groups back to the slim projection. */
  def lDiversity(ev: DataFrame, ls: Seq[Long] = Seq(2L, 3L)): DataFrame = Scope { s =>
    val rows = s.persist(ev
      .select(get_json_object(col("props"), "$.k").as("merchant"),
        floor(col("value") / 10).cast("long").as("band"),
        col("event_type"), col("user_id"))
      .distinct()) // feeds diversity counts AND the affected join
    val gs = s.persist(rows.groupBy(col("merchant"), col("band"))
      .agg(countDistinct(col("event_type")).as("ndist")))
    val tot = gs.agg(count(lit(1)).as("n_groups"))
    val ldf = rows.sparkSession.createDataFrame(ls.map(Tuple1(_))).toDF("l")
    val flagged = gs.join(broadcast(ldf), col("ndist") < col("l"))
    val perL = flagged.groupBy(col("l")).agg(count(lit(1)).as("n_violating"))
    val affected = flagged.join(rows, Seq("merchant", "band"))
      .groupBy(col("l")).agg(countDistinct(col("user_id")).as("n_affected_users"))
    perL.join(affected, Seq("l"), "left")
      .withColumn("n_affected_users", coalesce(col("n_affected_users"), lit(0L)))
      .crossJoin(broadcast(tot))
      .select(col("l"), col("n_groups"), col("n_violating"), col("n_affected_users"),
        trunc4(col("n_violating") / col("n_groups")).as("risk_share"))
      .localCheckpoint(true) // |ls| rows; releases both caches
  }

  /** Minimum-generalization search for k-anonymity — the
    * privacy-ENGINEERING step after [[kAnonymity]]'s audit says "not
    * anonymous": coarsen the amount quasi-identifier through a fixed
    * ladder (bands of 10 → 100 → 1000 → dropped) and report, per
    * level, the group profile and whether EVERY group reaches size k —
    * the first passing level is the minimum information loss that
    * satisfies the policy (Sweeney's domain-generalization hierarchy,
    * one attribute deep). All levels compute in ONE union-distinct +
    * one grouped aggregate; the chosen-level flag is a window over the
    * 4-row level relation. */
  def kAnonGeneralize(ev: DataFrame, k: Long = 5L): DataFrame = {
    val base = ev.select(get_json_object(col("props"), "$.k").as("merchant"),
      col("event_type"), col("value"), col("user_id"))
    val levels: Seq[(Long, Int)] = Seq(10L -> 0, 100L -> 1, 1000L -> 2, -1L -> 3)
    val perLevel = levels.map { case (d, i) =>
      base.select(lit(i.toLong).as("level"), col("merchant"), col("event_type"),
        (if (d < 0) lit(0L) else floor(col("value") / d).cast("long")).as("band"),
        col("user_id"))
    }.reduce(_ unionByName _).distinct()
    val gs = perLevel
      .groupBy(col("level"), col("merchant"), col("event_type"), col("band"))
      .agg(count(lit(1)).as("g"))
    val lv = gs.groupBy(col("level"))
      .agg(count(lit(1)).as("n_groups"), min(col("g")).as("min_group"))
      .withColumn("k_ok", col("min_group") >= k)
    lv.withColumn("first_ok",
        min(when(col("k_ok"), col("level"))).over(Window.partitionBy()))
      .select(col("level"), col("n_groups"), col("min_group"), col("k_ok"),
        (col("first_ok").isNotNull && col("level") === col("first_ok")).as("chosen"))
  }

  /** t-closeness audit (Li et al., ICDE 2007) — completes the privacy
    * triad after [[kAnonymity]] and [[lDiversity]]: a group can be
    * large AND diverse yet still leak when its sensitive-value
    * DISTRIBUTION differs sharply from the corpus-wide one (the
    * skewness/similarity attacks). Per QI group (merchant, amount
    * band) we compute the total-variation distance between the
    * group's event-type distribution and the overall distribution,
    * entirely in exact integer arithmetic over a common denominator:
    * TVD = Σ|c_gs·N − c_s·n_g| / (2·n_g·N), where the sum over
    * sensitive values ABSENT from the group collapses to the
    * closed-form remainder n_g·(N − Σ_present c_s) — the same trick
    * [[TextOps.sourceJsd]] uses, so the join only ever touches
    * existing (group, value) cells, never |groups|×|domain|. All
    * products ride DECIMAL(38,0) (c_gs·N overflows BIGINT at ~10⁹
    * users × 10⁹ rows) and the threshold test `tvd·10 > t₁₀·2·n_g·N`
    * and the reported 4-digit TVD (`div`, floor semantics) stay
    * engine-exact. Output: one row per t₁₀ ∈ ts (t = t₁₀/10). */
  def tCloseness(ev: DataFrame, ts: Seq[Long] = Seq(2L, 3L)): DataFrame = Scope { s =>
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val rows = s.persist(ev
      .select(get_json_object(col("props"), "$.k").as("merchant"),
        floor(col("value") / 10).cast("long").as("band"),
        col("event_type"), col("user_id"))
      .distinct()) // feeds the cell counts AND the affected join
    val cell = s.persist(rows.groupBy(col("merchant"), col("band"), col("event_type"))
      .agg(count(lit(1)).as("cgs"))) // feeds sens totals AND groups
    val sens = cell.groupBy(col("event_type")).agg(sum(col("cgs")).as("cs"))
    val tot = sens.agg(sum(col("cs")).as("bign"))
    val grp = cell.groupBy(col("merchant"), col("band")).agg(sum(col("cgs")).as("ng"))
    // feeds the total AND the per-t flags
    val gnum = s.persist(cell.join(sens, "event_type")
      .join(grp, Seq("merchant", "band"))
      .crossJoin(broadcast(tot)) // 1-row scalar
      .groupBy(col("merchant"), col("band"))
      .agg(max(col("ng")).as("ng"), max(col("bign")).as("bign"),
        (sum(abs(dec(col("cgs")) * col("bign") - dec(col("cs")) * col("ng"))) +
          dec(max(col("ng"))) * (max(col("bign")) - sum(col("cs")))).as("tvd_num"))
      .withColumn("den2", dec(col("ng")) * col("bign") * 2))
    val tot2 = gnum.agg(count(lit(1)).as("n_groups"))
    val tdf = rows.sparkSession.createDataFrame(ts.map(Tuple1(_))).toDF("t_scaled")
    val flagged = gnum.join(broadcast(tdf),
        col("tvd_num") * 10 > col("t_scaled") * col("den2"))
      .withColumn("tvd4", expr("cast((tvd_num * 10000) div den2 as bigint)"))
    val perT = flagged.groupBy(col("t_scaled"))
      .agg(count(lit(1)).as("n_violating"), max(col("tvd4")).as("max_tvd4"))
    val affected = flagged.join(rows, Seq("merchant", "band"))
      .groupBy(col("t_scaled")).agg(countDistinct(col("user_id")).as("n_affected_users"))
    tdf // |ts| rows; left side of an outer join is never broadcast
      .join(perT, Seq("t_scaled"), "left")
      .join(affected, Seq("t_scaled"), "left")
      .crossJoin(broadcast(tot2))
      .select(col("t_scaled"), col("n_groups"),
        coalesce(col("n_violating"), lit(0L)).as("n_violating"),
        coalesce(col("n_affected_users"), lit(0L)).as("n_affected_users"),
        (coalesce(col("max_tvd4"), lit(0L)) / 10000.0).as("max_tvd"),
        trunc4(coalesce(col("n_violating"), lit(0L)) / col("n_groups")).as("risk_share"))
      .localCheckpoint(true) // |ts| rows; releases all caches
  }

  /** Alert triage — the monitoring capstone over FOUR detector
    * families ([[flagSummary]] fuses two): per user, the flag counts
    * from [[structuring]], [[velocityBursts]], [[dormantAwakening]]
    * and [[amountOutliers]], the number of distinct families firing,
    * and an integer severity score (3·structuring + 2·outlier +
    * 2·dormant + 1·velocity — structuring is the deliberate-evasion
    * signal, velocity the noisiest), ranked into the top-`topN` queue
    * an analyst actually works. Every constituent flag is the EXACT
    * operator the driver already gates (membership predicates all
    * engine-exact), the fusion is integer arithmetic, and the final
    * rank is a global window over the collapsed per-user relation
    * behind rnk ≤ topN.
    *
    * Composition is the point: four independently-verified detectors
    * chain into one lazy plan — Catalyst sees all of it. The detectors
    * read the fact through `spread` on user_id, so every user-keyed
    * window and aggregate of the constituents, the union, and both
    * per-user rollups run on that one partitioning: no exchange
    * between the scan and the top-`topN` queue. */
  def alertTriage(ev: DataFrame, topN: Int = 50): DataFrame = {
    val u = graft.functions.Portable.spread(ev, col("user_id"))
    val s = structuring(u).select(col("user_id"), lit("structuring").as("family"))
    val v = velocityBursts(u).select(col("user_id"), lit("velocity").as("family"))
    val d = dormantAwakening(u).select(col("user_id"), lit("dormant").as("family"))
    val o = amountOutliers(u).select(col("user_id"), lit("outlier").as("family"))
    val per = s.unionByName(v).unionByName(d).unionByName(o)
      .groupBy(col("user_id"), col("family")).agg(count(lit(1)).as("n"))
      .groupBy(col("user_id"))
      .agg(sum(when(col("family") === "structuring", col("n")).otherwise(0L)).as("n_structuring"),
        sum(when(col("family") === "velocity", col("n")).otherwise(0L)).as("n_velocity"),
        sum(when(col("family") === "dormant", col("n")).otherwise(0L)).as("n_dormant"),
        sum(when(col("family") === "outlier", col("n")).otherwise(0L)).as("n_outlier"),
        count(lit(1)).as("n_families"))
      .withColumn("severity",
        col("n_structuring") * 3 + col("n_outlier") * 2 + col("n_dormant") * 2 + col("n_velocity"))
    val w = Window.orderBy(col("severity").desc, col("user_id"))
    per.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
  }

  /** Per-event lateness against the user's ARRIVAL order — the
    * disorder every watermark must absorb: an event whose timestamp
    * precedes the running max event time among its user's earlier
    * arrivals is late by that gap. The gate corpus is generated in
    * perfect time order, so arrival is simulated by delaying a
    * deterministic 1-in-11 slice of events by an md5-derived network
    * delay < 1 h (the [[TextOps]] perturbed-corpus discipline — the
    * oracle replays the identical jitter; a production deployment
    * passes its real arrival timestamp instead and drops the
    * simulation). Scoped per user so the running max is a
    * user-bounded window, never a global sort of the fact — which is
    * also the semantically right scope, because streaming state is
    * keyed. */
  private def latenessPerEvent(ev: DataFrame): DataFrame = {
    val delay = when(col("event_id") % 11 === 0,
      pmod(graft.functions.TextHash.hash60(
        concat(lit("delay|"), col("event_id").cast("string"))), lit(3600000L)))
      .otherwise(0L)
    val w = Window.partitionBy(col("user_id")).orderBy(col("arr_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.select(col("user_id"), col("event_id"), col("ts_ms"))
      .withColumn("arr_ms", col("ts_ms") + delay)
      .withColumn("runmax", max(col("ts_ms")).over(w))
      .withColumn("late",
        when(col("runmax") > col("ts_ms"), col("runmax") - col("ts_ms")).otherwise(0L))
  }

  /** Stream-disorder audit: the distribution of event lateness in
    * decimal-magnitude buckets (bucket = digit count of the ms gap —
    * an INTEGER magnitude class, so membership can't float the way a
    * log10 boundary can), plus the on-time mass at bucket 0. This is
    * the first chart an engineer reads before sizing a watermark:
    * where does the lateness tail actually end? */
  def disorderAudit(ev: DataFrame): DataFrame =
    latenessPerEvent(ev)
      .groupBy(when(col("late") === 0, 0L)
        .otherwise(length(col("late").cast("string")).cast("long")).as("magnitude"))
      .agg(count(lit(1)).as("n"), min(col("late")).as("min_late_ms"),
        max(col("late")).as("max_late_ms"))

  /** Watermark sizing: for candidate delays {1 min, 10 min, 1 h, 1 d},
    * how many events would arrive LATER than the watermark allows (and
    * so be dropped by an event-time streaming aggregation), as count
    * and share — the quantitative answer [[disorderAudit]]'s histogram
    * frames qualitatively. Candidates broadcast; one pass over the
    * lateness relation. */
  def watermarkSizing(ev: DataFrame): DataFrame = {
    val late = latenessPerEvent(ev)
    val cand = late.sparkSession.createDataFrame(
      Seq(60000L, 600000L, 3600000L, 86400000L).map(Tuple1(_))).toDF("wm_ms")
    late.crossJoin(broadcast(cand))
      .groupBy(col("wm_ms"))
      .agg(count(lit(1)).as("n_events"),
        sum(when(col("late") > col("wm_ms"), 1L).otherwise(0L)).as("n_dropped"))
      .withColumn("drop_share", trunc4(col("n_dropped") / col("n_events")))
  }

  /** Difference-in-differences readout — the quasi-experimental
    * sibling of [[abTest]] (post-only compare) and [[abCuped]]
    * (variance reduction): deterministic hash assignment to
    * treat/control, a fixed mid-window period split, and
    * DiD = (T_post − T_pre) − (C_post − C_pre) over per-cell mean
    * cents — the estimator that nets out both the group baseline and
    * the common time trend. All four cells are exact BIGINT
    * count/sum pairs from ONE hash-agg; the only doubles are the four
    * mirrored mean divisions and the final subtraction. */
  def didEstimate(ev: DataFrame, splitMs: Long = 1705363200000L): DataFrame = {
    val cells = ev
      .select(pmod(graft.functions.TextHash.hash60(
          concat(lit("did|"), col("user_id").cast("string"))), lit(2L)).as("treat"),
        when(col("ts_ms") >= splitMs, 1L).otherwise(0L).as("post"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("treat"), col("post"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"))
    def cell(t: Int, p: Int, c: String) =
      max(when(col("treat") === t && col("post") === p, col(c)))
    cells.agg(
        cell(1, 0, "n").as("n_t_pre"), cell(1, 1, "n").as("n_t_post"),
        cell(0, 0, "n").as("n_c_pre"), cell(0, 1, "n").as("n_c_post"),
        (cell(1, 0, "s") / cell(1, 0, "n")).as("m_t_pre"),
        (cell(1, 1, "s") / cell(1, 1, "n")).as("m_t_post"),
        (cell(0, 0, "s") / cell(0, 0, "n")).as("m_c_pre"),
        (cell(0, 1, "s") / cell(0, 1, "n")).as("m_c_post"))
      .select(col("n_t_pre"), col("n_t_post"), col("n_c_pre"), col("n_c_post"),
        trunc4(col("m_t_pre")).as("mean_t_pre"), trunc4(col("m_t_post")).as("mean_t_post"),
        trunc4(col("m_c_pre")).as("mean_c_pre"), trunc4(col("m_c_post")).as("mean_c_post"),
        trunc4((col("m_t_post") - col("m_t_pre")) - (col("m_c_post") - col("m_c_pre")))
          .as("did_cents"))
  }

  /** 2·(z_{α/2} + z_β)² for α = 0.05, power = 0.80, folded to ONE
    * Scala double (the Sketches alpha-constant trick) so the oracle
    * divides the identical bits. */
  private[graft] val PowerK: Double =
    2.0 * math.pow(1.959963984540054 + 0.8416212335729143, 2)

  /** A/B power sizing from observed variance — the pre-experiment
    * answer to "how many events per arm to detect a 1% lift": per
    * event type, n_required = ceil(K·s² / δ²) with δ = 1% of the
    * observed mean and K = 2(z_{α/2}+z_β)². Mean and sample variance
    * derive from exact BIGINT cent sums (the [[amountOutliers]]
    * discipline); one hash-agg over the fact. The s² corrector casts s
    * to double BEFORE squaring: BIGINT s·s wraps silently past
    * s ≈ 3e9 cents ($30M summed) where DuckDB raises instead; since
    * s itself is always < 2^53 the double product is the exact s²
    * rounded once — identical on both engines at any scale. The exact
    * BIGINT sq sum holds to ~9e4 rows·(1e7 cents)² per type ≈ 1e18;
    * beyond that lift sq to DECIMAL(38,0). */
  def abPower(ev: DataFrame): DataFrame = {
    val st = ev
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("s"),
        sum(col("cents") * col("cents")).as("sq"))
    val mean = col("s") / col("n")
    val variance = (col("sq") - col("s").cast("double") * col("s") / col("n")) / (col("n") - 1)
    val delta = mean * 0.01
    st.select(col("event_type"), col("n"),
      trunc4(mean).as("mean_cents"), trunc4(variance).as("var_cents"),
      ceil(lit(PowerK) * variance / (delta * delta)).cast("long").as("n_required"))
  }

  /** Schema-wide constraint audit — the cross-table contract screen
    * [[dqAudit]]'s per-table checks leave uncovered: every declared
    * primary key's uniqueness (violations = rows − distinct keys) and
    * every foreign-key edge's orphan count (child rows whose key finds
    * no parent), across the whole star schema plus the events→customer
    * bridge. A healthy pipeline reads all-zero violations; any nonzero
    * row names exactly which contract broke and how badly.
    *
    * Shape: each FK edge is ONE left join + conditional count (never a
    * separate anti-join pass); parents join on their distinct key
    * relation (dims broadcast; the one fact⋈fact edge —
    * lineitem→orders — shuffles on the key like every fact join). All
    * sixteen checks union into one lazy plan; output is one row per
    * constraint. */
  def riAudit(spark: SparkSession, dir: String): DataFrame = {
    def pk(name: String, df: DataFrame, key: String): DataFrame =
      df.agg(count(lit(1)).as("n_checked"),
          (count(lit(1)) - countDistinct(col(key))).as("n_violations"))
        .select(lit("pk").as("kind"), lit(name).as("constraint_name"),
          col("n_checked"), col("n_violations"))
    def fk(name: String, child: DataFrame, key: String,
        parent: DataFrame, pkey: String): DataFrame =
      child.select(col(key)).filter(col(key).isNotNull)
        .join(parent.select(col(pkey)).distinct(), col(key) === col(pkey), "left")
        .agg(count(lit(1)).as("n_checked"),
          sum(when(col(pkey).isNull, 1L).otherwise(0L)).as("n_violations"))
        .select(lit("fk").as("kind"), lit(name).as("constraint_name"),
          col("n_checked"), col("n_violations"))
    val t = (n: String) => Tables.read(spark, dir, n)
    val checks = Seq(
      pk("region.r_regionkey", t("region"), "r_regionkey"),
      pk("nation.n_nationkey", t("nation"), "n_nationkey"),
      pk("customer.c_custkey", t("customer"), "c_custkey"),
      pk("supplier.s_suppkey", t("supplier"), "s_suppkey"),
      pk("part.p_partkey", t("part"), "p_partkey"),
      pk("orders.o_orderkey", t("orders"), "o_orderkey"),
      pk("events.event_id", Tables.events(spark, dir), "event_id"),
      pk("documents.doc_id", t("documents"), "doc_id"),
      pk("embeddings.vec_id", t("embeddings"), "vec_id"),
      fk("lineitem->orders", t("lineitem"), "l_orderkey", t("orders"), "o_orderkey"),
      fk("lineitem->part", t("lineitem"), "l_partkey", t("part"), "p_partkey"),
      fk("lineitem->supplier", t("lineitem"), "l_suppkey", t("supplier"), "s_suppkey"),
      fk("orders->customer", t("orders"), "o_custkey", t("customer"), "c_custkey"),
      fk("customer->nation", t("customer"), "c_nationkey", t("nation"), "n_nationkey"),
      fk("supplier->nation", t("supplier"), "s_nationkey", t("nation"), "n_nationkey"),
      fk("nation->region", t("nation"), "n_regionkey", t("region"), "r_regionkey"),
      fk("events->customer", Tables.events(spark, dir), "user_id",
        t("customer"), "c_custkey"))
    checks.reduce(_ unionByName _)
      .withColumn("violation_share",
        trunc4(col("n_violations") / col("n_checked")))
  }

  /** Deterministic table fingerprints — the snapshot-diff primitive
    * behind "did anything change between these two loads": per table,
    * the row count and the XOR of every row's md5-derived 60-bit hash
    * over a CANONICAL projection (keys, strings, integer-cent money —
    * never raw doubles, whose decimal rendering is engine-specific).
    * XOR is commutative, idempotent-free and cannot overflow, so the
    * fingerprint is merge-order-proof, one scan per table, and any
    * single changed/added/dropped row flips it. Two snapshots are
    * compared fingerprint-to-fingerprint — no row shipping.
    *
    * The canonical rendering is the portable '|'-joined cast-to-string
    * form both engines produce byte-identically (integer casts carry
    * no padding; money goes through floor(v·100+0.5)). Every column is
    * coalesced to the sentinel '<NULL>' BEFORE joining: concat_ws
    * silently skips NULLs without a separator, so ('a', NULL, 'b') and
    * ('a', 'b', NULL) would otherwise collide — and DuckDB's '||'
    * chain nulls the whole row instead, dropping it from the XOR. The
    * sentinel renders NULLs canonically and identically on both
    * engines, preserving the any-single-row-change-flips-it guarantee. */
  def tableFingerprint(spark: SparkSession, dir: String): DataFrame = {
    def cents(c: String) = floor(col(c) * 100 + 0.5).cast("long").cast("string")
    def fp(name: String, df: DataFrame, cols: Column*): DataFrame =
      df.select(graft.functions.TextHash.hash60(
          concat_ws("|", cols.map(c => coalesce(c, lit("<NULL>"))): _*)).as("h"))
        .agg(count(lit(1)).as("n_rows"),
          expr("bit_xor(h)").as("fingerprint"))
        .select(lit(name).as("table_name"), col("n_rows"), col("fingerprint"))
    val t = (n: String) => Tables.read(spark, dir, n)
    val s = (c: String) => col(c).cast("string")
    Seq(
      fp("region", t("region"), s("r_regionkey"), s("r_name")),
      fp("nation", t("nation"), s("n_nationkey"), s("n_name"), s("n_regionkey")),
      fp("customer", t("customer"), s("c_custkey"), s("c_name"), s("c_nationkey"),
        cents("c_acctbal"), s("c_mktsegment")),
      fp("supplier", t("supplier"), s("s_suppkey"), s("s_name"), s("s_nationkey"),
        cents("s_acctbal")),
      fp("part", t("part"), s("p_partkey"), s("p_name"), s("p_brand"), s("p_type"),
        s("p_size"), cents("p_retailprice")),
      fp("orders", t("orders"), s("o_orderkey"), s("o_custkey"), s("o_orderstatus"),
        cents("o_totalprice"), s("o_orderpriority")),
      fp("events", Tables.events(spark, dir), s("event_id"), s("user_id"),
        s("event_type"), cents("value"), s("ts_ms")),
      fp("documents", t("documents"), s("doc_id"), col("text"), s("lang"),
        s("source"), s("n_chars")))
      .reduce(_ unionByName _)
  }

  /** Markov removal-effect attribution (Anderl et al. 2016, the
    * multi-touch model beside the last-touch [[attribution]]): build
    * the first-order user-day journey chain START → events → first purchase
    * (absorb) or DROP, then credit each channel by how much the
    * conversion probability FALLS when that channel is removed
    * (removal = the channel state becomes a dead end), shares
    * normalized over channels.
    *
    * Determinism discipline: conversion probabilities iterate in
    * 1e12-SCALED BIGINTs with per-term floor division
    * Σ (n_st·p_t) div n_s (the [[Graph]] HITS integer-scaling
    * pattern) — no float sum whose merge order could flip a digit —
    * for a FIXED `rounds` bounded iteration mirrored round-for-round
    * by the oracle. Removing a channel can only lower p, so removal
    * effects are non-negative by construction.
    *
    * Scale: journeys are per-user windows (one exchange); the chain
    * relation is ≤ (|types|+2)² rows and every iteration round runs
    * on the tiny (variant × state) grid — per-round checkpoints keep
    * the lineage flat, the [[Dedup]] components discipline. */
  /** The journey relation shared by [[markovAttribution]] and
    * [[shapleyAttribution]]: one journey per (user, day) — keyed
    * `jkey` — in (ts, id) order, truncated at the FIRST purchase
    * (inclusive). Day scope is what makes non-converting journeys
    * exist: over the whole month nearly every user purchases at least
    * once and every attribution model degenerates to v ≡ 1. */
  private def journeyCut(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("jkey")).orderBy(col("ts_ms"), col("event_id"))
    ev.select(col("user_id"), col("event_type"), col("ts_ms"), col("event_id"))
      .withColumn("jkey", concat(col("user_id").cast("string"), lit("|"),
        floor(col("ts_ms") / 86400000L).cast("string")))
      .withColumn("np_before", coalesce(
        sum(when(col("event_type") === "purchase", 1L).otherwise(0L))
          .over(w.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .filter(col("np_before") === 0)
  }

  /** The (src, dst) transitions of [[markovAttribution]]'s chain, one
    * pass over the journey steps: each step emits up to three optional
    * edges — START → first step, step → next step, and a non-purchase
    * last step → DROP — through one `explode`, so the steps are never
    * re-read per edge kind. */
  private[graft] def markovEdges(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("jkey")).orderBy(col("ts_ms"), col("event_id"))
    val edge = (cond: Column, src: Column, dst: Column) =>
      when(cond, struct(src.as("src"), dst.as("dst")))
    journeyCut(ev)
      .withColumn("rn", row_number().over(w))
      .withColumn("nxt", lead(col("event_type"), 1).over(w))
      .select(explode(array(
        edge(col("rn") === 1, lit("START"), col("event_type")),
        edge(col("nxt").isNotNull, col("event_type"), col("nxt")),
        edge(col("nxt").isNull && col("event_type") =!= "purchase",
          col("event_type"), lit("DROP")))).as("e"))
      .filter(col("e").isNotNull)
      .select(col("e.src").as("src"), col("e.dst").as("dst"))
  }

  def markovAttribution(ev: DataFrame, rounds: Int = 8): DataFrame = {
    val S = 1000000000000L // 1e12 probability scale
    // the LAST fact-sized work: the (src, dst) transition counts
    val counts = markovEdges(ev).groupBy(col("src"), col("dst")).agg(count(lit(1)).as("n"))
      .collect() // ≤ (|types|+2)² rows — bounded by the event-type DOMAIN
      .map(r => (r.getString(0), r.getString(1), r.getLong(2)))
    val nSrc = counts.groupMapReduce(_._1)(_._3)(_ + _)
    val tcnt = counts.map { case (src, dst, n) => (src, dst, n, nSrc(src)) }
    // The removal-effect iteration runs DRIVER-SIDE (r12): the chain
    // grid is a constant of the schema (event-type domain + START/DROP
    // ≤ 7 states × 5 variants), while the relational loop paid a join +
    // aggregate + one-row-ish localCheckpoint per round (8 rounds ≈ 25
    // jobs). Arithmetic is the IDENTICAL exact-integer sequence: per
    // term floor((n·p) / n_src) with the product widened (BigInt here,
    // DECIMAL(38,0) before — both exact far past any edge count), then
    // an order-independent integer sum — mirrored round-for-round by
    // the oracle's HUGEINT replay.
    val spark = ev.sparkSession
    import spark.implicits._
    val channels = Seq("click", "error", "signup", "view")
    val states = tcnt.flatMap(t => Seq(t._1, t._2)).distinct.toSeq
    val bySrc = tcnt.toSeq.groupBy(_._1)
    def trunc4d(x: Double): Double = math.floor(x * 10000).toLong.toDouble / 10000
    val rows: Seq[(String, Long, Long, Double, Double)] =
      if (!states.contains("START")) Seq.empty
      else {
        def pStart(variant: String): Long = {
          var p: Map[String, Long] =
            states.map(s => s -> (if (s == "purchase") S else 0L)).toMap
          for (_ <- 1 to rounds) {
            p = states.map { s =>
              s -> (if (s == "purchase") S
                else if (s == "DROP") 0L
                else if (s == variant) 0L
                else bySrc.getOrElse(s, Seq.empty).iterator
                  .map { case (_, d, n, nSrc) => ((BigInt(n) * p(d)) / nSrc).toLong }
                  .sum)
            }.toMap
          }
          p("START")
        }
        val pBase = pStart("none")
        val rem = channels.map(ch => ch -> (pBase - pStart(ch)))
        val reTot = rem.map(_._2).sum
        rem.map { case (ch, re) =>
          (ch, pBase, pBase - re,
            trunc4d(re.toDouble / pBase.toDouble),
            trunc4d(re.toDouble / reTot.toDouble))
        }
      }
    rows.toDF("channel", "p_base", "p_removed", "removal_effect",
      "attribution_share")
  }

  /** Shapley-value attribution (Shapley 1953 via the simplified
    * marketing form of Zhao et al. 2018) — the coalition-game sibling
    * of [[markovAttribution]]'s removal effects: per user-day journey, the SET
    * of channels touched before first purchase (a 4-bit mask) and a
    * conversion flag; v(S) = the observed conversion rate of exactly-
    * set-S journeys (0 for unobserved sets — the standard convention);
    * φ_c = Σ_{S∌c} |S|!·(|C|−|S|−1)!/|C|!·(v(S∪c) − v(S)).
    *
    * Everything stays exact integers until the end: rates scale to
    * 1e12 BIGINTs via (conv·1e12) div n, the factorial weights are the
    * exact rationals num(|S|)/24 applied as (num·Δv) div 24 per term
    * (floor — deterministic), and φ is an exact integer sum over the
    * 8 subsets. The whole computation after the per-user rollup runs
    * on the 16-row mask grid. */
  def shapleyAttribution(ev: DataFrame): DataFrame = {
    val S = 1000000000000L
    val chanBit = when(col("event_type") === "click", 1L)
      .when(col("event_type") === "error", 2L)
      .when(col("event_type") === "signup", 4L)
      .when(col("event_type") === "view", 8L).otherwise(0L)
    val perUser = journeyCut(ev)
      .select(col("jkey"), chanBit.as("cbit"),
        when(col("event_type") === "purchase", 1L).otherwise(0L).as("cv"))
      .groupBy(col("jkey"))
      .agg(expr("bit_or(cbit)").as("mask"), max(col("cv")).as("conv"))
    val vObs = perUser.groupBy(col("mask"))
      .agg(count(lit(1)).as("n"), sum(col("conv")).as("nc"))
    val grid = ev.sparkSession.range(0, 16).select(col("id").as("mask"))
    val v = grid.join(vObs, Seq("mask"), "left")
      .select(col("mask"),
        // v(∅) = 0 by the coalition-game definition — organic
        // (purchase-only) conversions are not attributable to any
        // channel and must not become a negative baseline
        when(col("mask") === 0, lit(0L))
          .when(coalesce(col("n"), lit(0L)) > 0,
            // nc·1e12 wraps BIGINT past ~9.2e6 converting journeys per
            // mask; DECIMAL(38,0) widen keeps it exact (mirrored by
            // HUGEINT in the oracle), div-on-non-negatives = floor
            expr(s"cast((cast(nc as decimal(38,0)) * ${S}L) div n as bigint)"))
          .otherwise(lit(0L)).as("vs"))
      .localCheckpoint(true) // 16 rows, joined twice per channel
    val channels = ev.sparkSession.createDataFrame(Seq(
      ("click", 1L), ("error", 2L), ("signup", 4L), ("view", 8L))).toDF("channel", "bit")
    // num(k) = k!(3-k)! over the shared /24 denominator
    val numW = when(expr("bit_count(mask)") === 0, 6L)
      .when(expr("bit_count(mask)") === 3, 6L).otherwise(2L)
    val terms2 = channels.crossJoin(v.select(col("mask"), col("vs").as("v0")))
      .filter((col("mask").bitwiseAND(col("bit"))) === 0)
      .join(v.select(col("mask").as("m1"), col("vs").as("v1")),
        (col("mask").bitwiseOR(col("bit"))) === col("m1"))
      .withColumn("num", numW)
      // floor over a double, NOT `div`: Spark's div truncates toward
      // zero while DuckDB's // floors, and Δv can be negative; the
      // numerator is ≤ 6e12 so the double carries it exactly
      .withColumn("term", expr("cast(floor((num * (v1 - v0)) / 24.0) as bigint)"))
    val phi = terms2.groupBy(col("channel")).agg(sum(col("term")).as("phi_scaled"))
    val tot = phi.agg(sum(col("phi_scaled")).as("phi_tot"))
    phi.crossJoin(broadcast(tot))
      .select(col("channel"), col("phi_scaled"),
        trunc4(col("phi_scaled") / lit(S.toDouble)).as("phi"),
        when(col("phi_tot") =!= 0,
          trunc4(col("phi_scaled") / col("phi_tot"))).as("attribution_share"))
  }

  /** Hill tail-index estimation (Hill 1975, the EVT staple behind
    * "how heavy is the loss tail"): per event type, over the top-k
    * order statistics of the cent amounts,
    * H = (1/k)·Σ ln(x_(i)/x_(k+1)) and the tail index α = 1/H —
    * α ≲ 2 means infinite variance, the regime where mean/σ monitoring
    * ([[amountOutliers]]) silently stops meaning anything.
    *
    * Order statistics WITHOUT a global sort: amounts collapse to
    * (type, cents, n) bins; one per-type window over the bins
    * assigns each bin its weight inside the top k and finds the
    * (k+1)-th value; per-bin log terms floor to 1e6-scaled BIGINTs and
    * the weighted sum is exact. The windows — the (k+1)-th value is
    * the one bin straddling rank k — run over the value-domain-bounded
    * bin relation — the [[winsorize]]/[[scoreAuc]] discipline. */
  def tailIndex(ev: DataFrame, k: Long = 100L): DataFrame = {
    val byType = Window.partitionBy(col("event_type"))
    val byDesc = byType.orderBy(col("cents").desc)
      .rowsBetween(Window.unboundedPreceding, -1)
    ev.select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .filter(col("cents") > 0)
      .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("n"))
      .withColumn("cum_before", coalesce(sum(col("n")).over(byDesc), lit(0L)))
      .withColumn("xk1", max(when(col("cum_before") <= k && col("cum_before") + col("n") > k,
        col("cents"))).over(byType))
      .filter(col("cum_before") < k && col("cents") > col("xk1"))
      .withColumn("w", least(col("n"), lit(k) - col("cum_before")))
      .withColumn("term", col("w") *
        floor(log(col("cents") / col("xk1")) * 1e6).cast("long"))
      .groupBy(col("event_type"))
      .agg(max(col("xk1")).as("xk1_cents"), sum(col("w")).as("k_used"),
        sum(col("term")).as("hill_scaled"))
      .select(col("event_type"), col("xk1_cents"), col("k_used"), col("hill_scaled"),
        trunc4(col("hill_scaled") / 1e6 / lit(k.toDouble)).as("hill"),
        when(col("hill_scaled") > 0,
          trunc4(lit(k.toDouble) * 1e6 / col("hill_scaled"))).as("alpha"))
  }

  /** Value-at-Risk + Expected Shortfall (Artzner et al. 1999; the
    * ES Basel moved to because VaR ignores how bad the tail IS) per
    * event type at `pNum/pDen` confidence: VaR = the k-th smallest
    * cent amount with k = ⌈p·n⌉ taken as the EXACT integer
    * (p·n + pDen−1) div pDen — never a float ceiling, whose 0.99·n
    * rounding differs from the rank definition — and ES = the mean of
    * the worst n−k+1 amounts. All exact on the collapsed (type, cents)
    * bin relation with ONE ascending cumulative window
    * ([[tailIndex]] discipline): the VaR bin straddles the cut, so the
    * tail takes cum_before+nb−(k−1) items from it and the full bins
    * above it via total−cumulative weighted sums — no second sort, no
    * raw-row quantile. Σ cents holds BIGINT to ~1e12 rows at $100
    * average; beyond that lift the weighted sums to DECIMAL(38,0). */
  def varEs(ev: DataFrame, pNum: Long = 99L, pDen: Long = 100L): DataFrame = {
    val bins = ev
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .groupBy(col("event_type"), col("cents")).agg(count(lit(1)).as("nb"))
    val wt = Window.partitionBy(col("event_type"))
    val asc = Window.partitionBy(col("event_type")).orderBy(col("cents"))
    val ranked = bins
      .withColumn("cum_before", coalesce(sum(col("nb")).over(
        asc.rowsBetween(Window.unboundedPreceding, -1)), lit(0L)))
      .withColumn("cum_w_incl", sum(col("cents") * col("nb")).over(
        asc.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("n", sum(col("nb")).over(wt))
      .withColumn("total_w", sum(col("cents") * col("nb")).over(wt))
      .withColumn("k", expr(s"($pNum * n + ${pDen - 1}) div $pDen"))
    ranked
      .filter(col("cum_before") < col("k") &&
        col("cum_before") + col("nb") >= col("k"))
      .select(col("event_type"), col("n"), col("k").as("k_pos"),
        col("cents").as("var_cents"),
        (col("n") - col("k") + 1).as("tail_n"),
        (col("total_w") - col("cum_w_incl") +
          col("cents") * (col("cum_before") + col("nb") - col("k") + 1)).as("tail_cents"),
        trunc4(col("cents") / 100.0).as("var_usd"),
        trunc4((col("total_w") - col("cum_w_incl") +
          col("cents") * (col("cum_before") + col("nb") - col("k") + 1)) /
          (col("n") - col("k") + 1) / 100.0).as("es_usd"))
  }

  /** Smurfing motif screen — the structuring sibling on the GRAPH
    * axis: per hour, users touching ≥ `minFan` DISTINCT merchants
    * ("scatter" — one source spraying funds) and merchants touched by
    * ≥ `minFan` distinct users ("gather" — a collection point). Two
    * hash aggregates over one narrow projection; fan counts exact, the
    * hour an integer epoch-ms bucket (no timestamp rendering at the
    * boundary). The classic layering topologies AML teams case first
    * (FATF's fan-out/fan-in indicators). */
  def smurfMotifs(ev: DataFrame, minFan: Long = 3L): DataFrame = {
    val um = ev
      .select(col("user_id"),
        get_json_object(col("props"), "$.k").cast("long").as("m"),
        (expr("ts_ms div 3600000") * 3600000).as("hour_ms"))
      .filter(col("m").isNotNull)
    val scatter = um.groupBy(col("user_id").as("id"), col("hour_ms"))
      .agg(countDistinct(col("m")).as("fan"))
      .filter(col("fan") >= minFan)
      .select(lit("scatter").as("motif"), col("id"), col("hour_ms"), col("fan"))
    val gather = um.groupBy(col("m").as("id"), col("hour_ms"))
      .agg(countDistinct(col("user_id")).as("fan"))
      .filter(col("fan") >= minFan)
      .select(lit("gather").as("motif"), col("id"), col("hour_ms"), col("fan"))
    scatter.unionByName(gather)
  }

  /** Sequential A/B: Wald's SPRT (1945) on daily conversion batches —
    * the early-stopping discipline [[abTest]]'s fixed-horizon z-test
    * lacks and [[abPower]] sizes around: H0 "B converts at A's rate
    * p0" vs H1 "B converts at 1.25·p0", α = β = 0.05. Users hash into
    * arms exactly like [[abTest]]; B-arm users enter the ledger on
    * their first-active day; each day contributes its exact batch LLR
    * c·ln(p1/p0) + (n−c)·ln((1−p1)/(1−p0)) as 1e6-scaled BIGINTs, the
    * running sum crosses ±ln(19) → accept/reject, else continue.
    *
    * Engine parity: p0 is an exact-count ratio (identical double),
    * both per-day weights AND both thresholds are floor-scaled from
    * identically-computed doubles — no literal constants to drift.
    * Conversion is FIRST-DAY activation (a purchase on the user's
    * first active day), not ever-purchased — at a month's horizon the
    * latter saturates to p0 = 1 and ln(1−p1)/(1−p0) is undefined; the
    * [1e-6, 0.998] clamp keeps the likelihood total even on a
    * degenerate corpus. Scale: everything after the per-user rollup
    * runs on the collapsed per-DAY relation (the [[cusumVolume]]
    * discipline — a per-observation ledger would be the global sort
    * that never finishes; daily peeking is also what a real
    * experiment does). */
  def abSprt(ev: DataFrame): DataFrame = {
    val perUser = ev.groupBy(col("user_id"))
      .agg(expr("min(ts_ms div 86400000)").as("day"),
        min(when(col("event_type") === "purchase",
          expr("ts_ms div 86400000"))).as("first_purchase_day"))
      .withColumn("conv",
        when(col("first_purchase_day").isNotNull &&
          col("first_purchase_day") === col("day"), 1L).otherwise(0L))
      .withColumn("variant",
        when(pmod(graft.functions.TextHash.hash60(
          concat(lit("ab|"), col("user_id"))), lit(2L)) === 0, "A").otherwise("B"))
    val aRate = perUser.filter(col("variant") === "A")
      .agg(count(lit(1)).as("n_a"), sum(col("conv")).as("c_a"))
      .select(least(greatest(col("c_a") / col("n_a"), lit(1e-6)), lit(0.998)).as("p0"))
      .select(col("p0"), least(col("p0") * 1.25, lit(0.999)).as("p1"))
      .select(
        floor(log(col("p1") / col("p0")) * 1e6).cast("long").as("w1"),
        floor(log((lit(1.0) - col("p1")) / (lit(1.0) - col("p0"))) * 1e6)
          .cast("long").as("w0"),
        floor(log(lit(19.0)) * 1e6).cast("long").as("thr_hi"),
        floor(-log(lit(19.0)) * 1e6).cast("long").as("thr_lo"))
    val daily = perUser.filter(col("variant") === "B")
      .groupBy(col("day")).agg(count(lit(1)).as("n_users"), sum(col("conv")).as("n_conv"))
    val wd = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    daily.crossJoin(broadcast(aRate))
      .withColumn("llr_scaled",
        col("n_conv") * col("w1") + (col("n_users") - col("n_conv")) * col("w0"))
      .withColumn("cum_llr_scaled", sum(col("llr_scaled")).over(wd))
      .select(col("day"), col("n_users"), col("n_conv"),
        col("llr_scaled"), col("cum_llr_scaled"),
        when(col("cum_llr_scaled") >= col("thr_hi"), "accept_h1")
          .when(col("cum_llr_scaled") <= col("thr_lo"), "accept_h0")
          .otherwise("continue").as("decision"))
  }

  /** GDPR subject-access export summary (the Art. 15 DSAR sibling of
    * the Art. 17 forget audit): for one data subject, what every
    * table holds — row count, integer-cent money total, and the
    * observed time range — the cover sheet a privacy office attaches
    * to the raw export. Three key-pruned scans (each filter pushes to
    * the parquet scan; at scale these are point lookups on the
    * key/partition layout), one tiny union. */
  def dsarExport(spark: SparkSession, dir: String, subject: Long = 7L): DataFrame = {
    val nulL = lit(null).cast("long")
    val e = Tables.events(spark, dir).filter(col("user_id") === subject)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(floor(col("value") * 100 + 0.5).cast("long")), lit(0L)).as("cents_total"),
        min(col("ts_ms")).as("min_ts_ms"), max(col("ts_ms")).as("max_ts_ms"))
      .select(lit("events").as("table_name"), col("n_rows"), col("cents_total"),
        col("min_ts_ms"), col("max_ts_ms"))
    val c = Tables.customer(spark, dir).filter(col("c_custkey") === subject)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(floor(col("c_acctbal") * 100 + 0.5).cast("long")), lit(0L)).as("cents_total"))
      .select(lit("customer").as("table_name"), col("n_rows"), col("cents_total"),
        nulL.as("min_ts_ms"), nulL.as("max_ts_ms"))
    val o = Tables.orders(spark, dir).filter(col("o_custkey") === subject)
      .agg(count(lit(1)).as("n_rows"),
        coalesce(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")), lit(0L)).as("cents_total"),
        // o_orderdate is TIMESTAMP_NTZ on disk; unix_micros needs the
        // tz-aware type (UTC session keeps the wall time)
        min(expr("unix_micros(cast(o_orderdate as timestamp)) div 1000")).as("min_ts_ms"),
        max(expr("unix_micros(cast(o_orderdate as timestamp)) div 1000")).as("max_ts_ms"))
      .select(lit("orders").as("table_name"), col("n_rows"), col("cents_total"),
        col("min_ts_ms"), col("max_ts_ms"))
    e.unionByName(c).unionByName(o)
  }

  /** 2-D skyline (Börzsönyi et al. 2001's "skyline operator") over the
    * merchant aggregate relation: merchants not DOMINATED on (cent
    * volume, distinct users) — no other merchant is ≥ on both and > on
    * one. The Pareto frontier every "top merchants" dashboard actually
    * wants when two axes disagree.
    *
    * Scale shape: the classic self-join dominance test is Θ(m²); for
    * 2-D the sort-based filter is exact and linear after the sort —
    * ORDER BY cents DESC, a running max of users over STRICTLY better
    * cents rows (RANGE frame, so the strict side never sees equal-cents
    * peers), keep rows whose users beat that max AND whose users equal
    * the max within their own cents-tie group: an equal-cents peer with
    * strictly more users dominates (≥ both, > one), while exact ties on
    * BOTH axes are mutually non-dominated and all stay, per the skyline
    * definition (PropertiesSpec's skyline law pins both cases). The
    * windows run over the COLLAPSED per-merchant relation, never the
    * fact. */
  def skylineMerchants(ev: DataFrame): DataFrame = {
    val agg = ev
      .select(get_json_object(col("props"), "$.k").cast("long").as("m"),
        col("user_id"), floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .filter(col("m").isNotNull)
      .groupBy(col("m"))
      .agg(sum(col("cents")).as("total_cents"), countDistinct(col("user_id")).as("n_users"))
    // rangeBetween on the DESC cents ordering: the frame holds rows
    // with strictly larger cents (never equal-cents peers); the
    // equal-cents dominance case is the partition max over the tie group
    val better = Window.orderBy(col("total_cents").desc)
      .rangeBetween(Window.unboundedPreceding, -1)
    val tieGroup = Window.partitionBy(col("total_cents"))
    agg
      .withColumn("max_users_above", max(col("n_users")).over(better))
      .withColumn("max_users_tie", max(col("n_users")).over(tieGroup))
      .filter((col("max_users_above").isNull ||
        col("n_users") > col("max_users_above")) &&
        col("n_users") === col("max_users_tie"))
      .select(col("m"), col("total_cents"), col("n_users"))
  }

  /** Time-weighted average balance (the interest-accrual / TWAP
    * primitive): per user, each running-balance level is weighted by
    * how long it HELD — Σ bal_i·(t_{i+1}−t_i) / (t_last − t_first) —
    * so a flash deposit cannot inflate an average the way a row-mean
    * would. Running balance = credits − debits in exact cents; the
    * level×duration products are BIGINT (cents ≤ 1e7 × span ≤ 2.6e9 ms
    * ⇒ term ≤ 2.6e16; a user's sum holds to ~350 such terms-at-max —
    * lift to DECIMAL for multi-year hot accounts). Users with one
    * event have no held interval and are excluded. One (user, time)
    * window pair sharing a single exchange. */
  def timeWeightedBalance(ev: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val run = ev
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        when(col("event_type") === "purchase",
          -floor(col("value") * 100 + 0.5).cast("long"))
          .otherwise(floor(col("value") * 100 + 0.5).cast("long")).as("delta"))
      .withColumn("bal", sum(col("delta")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .withColumn("held_ms", lead(col("ts_ms"), 1).over(w) - col("ts_ms"))
    run.filter(col("held_ms").isNotNull)
      .groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_intervals"),
        sum(col("held_ms")).as("span_ms"),
        sum(col("bal") * col("held_ms")).as("weighted_scaled"))
      .filter(col("span_ms") > 0)
      .select(col("user_id"), col("n_intervals"), col("span_ms"),
        col("weighted_scaled"),
        trunc4(col("weighted_scaled") / col("span_ms") / 100).as("twab_usd"))
  }

  /** Rolling 7-day Pearson correlation between two event types' daily
    * cent volumes — "do purchases and views move together this week?",
    * the co-movement readout next to [[volatility]]'s single-series
    * dispersion. The [[statsExact]] discipline applied to a rolling
    * frame: daily cents are exact integers, the six rolling sums
    * (n, Σx, Σy, Σx², Σy², Σxy) come from ONE RANGE window over the
    * collapsed per-day relation, and the correlation is the same
    * double formula on identical integers in both engines. Days where
    * either series is flat (zero variance) emit NULL. Integer bound:
    * the x·x products wrap BIGINT past ~$30M daily volume per type
    * (the abPower class) — lift the squares to DECIMAL beyond that. */
  def rollingCorr(ev: DataFrame, typeX: String = "purchase",
      typeY: String = "view", days: Int = 7): DataFrame = {
    val daily = ev
      .filter(col("event_type").isin(typeX, typeY))
      .groupBy(expr("ts_ms div 86400000").as("day"), col("event_type"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("c"))
    val two = daily.groupBy(col("day"))
      .agg(sum(when(col("event_type") === typeX, col("c")).otherwise(0L)).as("x"),
        sum(when(col("event_type") === typeY, col("c")).otherwise(0L)).as("y"))
    val wr = Window.orderBy(col("day")).rangeBetween(-(days - 1).toLong, 0)
    // x², y², x·y square daily corpus cents (~10²⁸ at 1e9-row days) —
    // the rolling moments accumulate in DECIMAL(38,0) (abCuped rule)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val s = two
      .withColumn("n", count(lit(1)).over(wr))
      .withColumn("sx", sum(col("x")).over(wr))
      .withColumn("sy", sum(col("y")).over(wr))
      .withColumn("sxx", sum(dec(col("x")) * col("x")).over(wr))
      .withColumn("syy", sum(dec(col("y")) * col("y")).over(wr))
      .withColumn("sxy", sum(dec(col("x")) * col("y")).over(wr))
    val nd = col("n").cast("double")
    val vx = col("sxx") - col("sx").cast("double") * col("sx") / nd
    val vy = col("syy") - col("sy").cast("double") * col("sy") / nd
    val cxy = col("sxy") - col("sx").cast("double") * col("sy") / nd
    s.filter(col("n") >= 3)
      .select(col("day"), col("n").as("n_days"), col("x").as("x_cents"),
        col("y").as("y_cents"),
        when(vx > 0 && vy > 0, trunc4(cxy / sqrt(vx * vy))).as("corr_7d"))
  }

  /** Data-freshness SLO audit — the "is anything stale" pager input:
    * per time-bearing table, the newest record's timestamp, its lag
    * behind the freshest table in the warehouse, and a staleness
    * verdict against a per-table SLO (events stream hourly; orders
    * batch daily — a stream 26 h behind the warehouse head is an
    * incident, a daily batch isn't). Scans prune to the timestamp
    * column (min/max ride parquet footer statistics); the comparison
    * runs on a 2-row relation. */
  def freshnessAudit(spark: SparkSession, dir: String): DataFrame = {
    val e = Tables.events(spark, dir)
      .agg(count(lit(1)).as("n_rows"), max(col("ts_ms")).as("last_ts_ms"))
      .select(lit("events").as("table_name"), col("n_rows"), col("last_ts_ms"),
        lit(3600000L).as("slo_ms")) // streamed: expected within the hour
    val o = Tables.orders(spark, dir)
      .agg(count(lit(1)).as("n_rows"),
        max(expr("unix_micros(cast(o_orderdate as timestamp)) div 1000")).as("last_ts_ms"))
      .select(lit("orders").as("table_name"), col("n_rows"), col("last_ts_ms"),
        lit(172800000L).as("slo_ms")) // daily batch: 2-day grace
    val both = e.unionByName(o)
    val head = both.agg(max(col("last_ts_ms")).as("head_ms"))
    both.crossJoin(broadcast(head))
      .select(col("table_name"), col("n_rows"), col("last_ts_ms"),
        (col("head_ms") - col("last_ts_ms")).as("lag_ms"), col("slo_ms"),
        (col("head_ms") - col("last_ts_ms") > col("slo_ms")).as("stale"))
  }

  /** Weekly discord detection (matrix-profile-lite, Yeh et al. 2016's
    * discord idea at week granularity): each (type, week) becomes its
    * 7-dim day-of-week cent vector, every week is compared to every
    * OTHER week of the same type, and a week whose NEAREST neighbor is
    * still far away is a discord — the "this week looked like nothing
    * we've seen" pager signal that point-wise z-scores miss (they flag
    * days, not shapes).
    *
    * Shape: the week vectors live on the collapsed (type, week, dow)
    * grid (dense via a broadcast 7-row dow spine, missing days = 0);
    * the week×week pair join and the min/rank windows all run on
    * ≤ |types|·|weeks| rows — weeks², not days², and never the fact.
    * Distances are EXACT integers end-to-end: (c1−c2)² is computed in
    * DECIMAL(38,0) (cents deltas to ~1e19 square safely under 10^38,
    * versus a double's 2^53 ≈ $940k daily-delta ceiling), the 7-term
    * sums and the min/rank windows run on the exact integer, so the
    * nearest-neighbor and discord verdicts cannot drift with
    * accumulation order — the floor-to-scaled-BIGINT discipline the
    * markov/attribution ops follow. The emitted nn_dist2 is the exact
    * integer cast to double once (same IEEE rounding both engines). */
  def weekDiscord(ev: DataFrame, topK: Int = 3): DataFrame = {
    val daily = ev
      .groupBy(col("event_type"), expr("ts_ms div 86400000").as("day"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("c"))
      .select(col("event_type"), expr("day div 7").as("week"),
        expr("day % 7").as("dow"), col("c"))
    val weeks = daily.select(col("event_type"), col("week")).distinct()
    val dows = ev.sparkSession.range(0, 7).select(col("id").as("dow"))
    val dense = weeks.crossJoin(broadcast(dows))
      .join(daily, Seq("event_type", "week", "dow"), "left")
      .withColumn("c", coalesce(col("c"), lit(0L)))
    val pairs = dense.as("a").join(dense.as("b"),
        col("a.event_type") === col("b.event_type") &&
          col("a.dow") === col("b.dow") && col("a.week") =!= col("b.week"))
      .select(col("a.event_type").as("event_type"), col("a.week").as("week"),
        col("b.week").as("other_week"),
        ((col("a.c") - col("b.c")).cast("decimal(19,0)") *
          (col("a.c") - col("b.c")).cast("decimal(19,0)")).as("d2"))
      .groupBy(col("event_type"), col("week"), col("other_week"))
      .agg(sum(col("d2")).cast("decimal(38,0)").as("dist2"))
    val wNn = Window.partitionBy(col("event_type"), col("week"))
      .orderBy(col("dist2"), col("other_week"))
    val nn = pairs.withColumn("r", row_number().over(wNn)).filter(col("r") === 1)
      .select(col("event_type"), col("week"), col("other_week").as("nn_week"),
        col("dist2").as("nn_dist2"))
    val wTop = Window.partitionBy(col("event_type"))
      .orderBy(col("nn_dist2").desc, col("week"))
    nn.withColumn("discord_rank", row_number().over(wTop).cast("long"))
      .filter(col("discord_rank") <= topK)
      .select(col("event_type"), col("week"), col("nn_week"),
        col("nn_dist2").cast("double").as("nn_dist2"), col("discord_rank"))
  }

  /** SLO error-budget burn rate with the multiwindow page rule
    * (Google SRE workbook ch. 5): per hour, the error-event share
    * against a 1% SLO as a burn-rate multiple, alongside the 6-hour
    * rolling burn; a page fires only when BOTH windows burn ≥ 14.4×
    * (the 2%-of-monthly-budget-in-an-hour policy) — the short window
    * proves it's happening NOW, the long one proves it's not a blip.
    * Counts are exact integers on the collapsed per-hour relation; the
    * rolling frame is a RANGE window over hour buckets (gaps count as
    * elapsed time, like real wall-clock burn); the two divisions are
    * identical doubles on both engines. */
  def sloBurn(ev: DataFrame, sloShare: Double = 0.01,
      pageBurn: Double = 14.4): DataFrame = {
    val hourly = ev
      .groupBy(expr("ts_ms div 3600000").as("h"))
      .agg(count(lit(1)).as("n"),
        sum(when(col("event_type") === "error", 1L).otherwise(0L)).as("n_err"))
    val w6 = Window.orderBy(col("h")).rangeBetween(-5L, 0L)
    hourly
      .withColumn("n6", sum(col("n")).over(w6))
      .withColumn("e6", sum(col("n_err")).over(w6))
      .select(col("h"), col("n"), col("n_err"),
        trunc4(col("n_err") / col("n") / sloShare).as("burn_1h"),
        trunc4(col("e6") / col("n6") / sloShare).as("burn_6h"),
        (col("n_err") / col("n") / sloShare >= pageBurn &&
          col("e6") / col("n6") / sloShare >= pageBurn).as("page"))
  }

  /** ε-differentially-private daily-count release (Dwork et al. 2006's
    * Laplace mechanism, sensitivity 1 for a count): released = n +
    * Lap(1/ε). The noise draw is DETERMINISTIC — u ∈ (0, 1) from the
    * portable 60-bit hash of the day ((h + 0.5)/2⁶⁰, an exact
    * power-of-two division, never 0 or 1) through the Laplace inverse
    * CDF −b·sgn(u−½)·ln(1−2|u−½|) — so the release is reproducible
    * across engines/runs/shards, the property a privacy ledger
    * actually needs from its noise (seeded, auditable draws; `rand()`
    * would be neither). Sits with [[kAnonymity]]/[[dsarExport]]/
    * forget-audit in the privacy family. Pure per-group arithmetic
    * over the collapsed per-day relation — no extra shuffle. */
  def dpHistogram(ev: DataFrame, epsilon: Double = 0.5): DataFrame = {
    val b = 1.0 / epsilon
    ev.groupBy(expr("ts_ms div 86400000").as("day"))
      .agg(count(lit(1)).as("n"))
      .withColumn("u",
        (graft.functions.TextHash.hash60(concat(lit("dp|"), col("day").cast("string")))
          .cast("double") + 0.5) / lit(1152921504606846976.0))
      .withColumn("lap",
        -lit(b) * signum(col("u") - 0.5) * log(lit(1.0) - lit(2.0) * abs(col("u") - 0.5)))
      .select(col("day"), col("n"),
        floor(col("lap") * 1e6).cast("long").as("lap_scaled"),
        (col("n") + floor(col("lap") + lit(0.5)).cast("long")).as("released"))
  }

  /** Exact cumulative Poisson(1) thresholds e⁻¹·Σ 1/k!, rendered to
    * the same plain-decimal literal text in the Spark plan and the
    * DuckDB oracle so both engines compare against bit-identical
    * doubles (the [[Similarity]] planeSql discipline). */
  private val poissonThresholds: Seq[Double] = {
    val e1 = math.exp(-1.0)
    var term = e1
    var cum = e1
    Seq.tabulate(8) { k =>
      if (k > 0) { term = term / k; cum = cum + term }
      cum
    }
  }
  private def plainD(v: Double): String = BigDecimal(v).underlying.toPlainString

  /** Poisson bootstrap confidence interval for the mean event value —
    * the resampling CI a metrics platform attaches to every topline
    * number, in the only form that scales: per-row Poisson(1) weights
    * (Chamandy et al., "Estimating Uncertainty for Massive Data
    * Streams" — the n→∞ limit of multinomial resampling) instead of
    * materializing B copies of the data. Weights are DETERMINISTIC:
    * u from the 60-bit hash of (event, replicate) through the exact
    * Poisson(1) inverse-CDF threshold ladder ([[poissonThresholds]]).
    * One explode(B)+map-side-combined aggregate: the shuffle carries
    * B·partitions partial rows, never the fact; the rank window runs
    * over the B-row resample relation. Integer accumulation (w ≤ 8,
    * cents exact) ⇒ identical means in both engines. */
  def bootstrapCi(ev: DataFrame, bReps: Int = 40): DataFrame = {
    val u = (graft.functions.TextHash.hash60(concat(lit("boot|"),
      col("event_id").cast("string"), lit("#"), col("b").cast("string")))
      .cast("double") + 0.5) / lit(1152921504606846976.0)
    val w = poissonThresholds.zipWithIndex
      .foldRight(lit(poissonThresholds.size.toLong)) { case ((t, k), acc) =>
        when(col("u") < lit(t), k.toLong).otherwise(acc)
      }
    ev.select(col("event_id"), floor(col("value") * 100 + 0.5).cast("long").as("cents"),
        explode(sequence(lit(1), lit(bReps))).as("b"))
      .withColumn("u", u)
      .withColumn("w", w)
      .groupBy(col("b"))
      .agg(sum(col("w")).as("n_eff"), sum(col("w") * col("cents")).as("wsum_cents"))
      .withColumn("mean_usd", trunc4(col("wsum_cents") / col("n_eff") / 100))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("wsum_cents") / col("n_eff"), col("b"))).cast("long"))
      .select(col("b").cast("long").as("b"), col("n_eff"), col("wsum_cents"),
        col("mean_usd"), col("rnk"))
  }

  /** Split-conformal prediction interval per event type (Vovk;
    * Papadopoulos et al. 2002): fit the center on the TRAIN half
    * (hash-split by event id), take the ⌈(n+1)(1−α)⌉-th smallest
    * absolute residual on the CALIBRATION half as q̂ — the
    * distribution-free interval with guaranteed ≥ 1−α coverage that a
    * monitoring stack wraps around every per-type expectation.
    * Exact-integer discipline: the center is the floor-scaled mean
    * cents·1e6 (DECIMAL widening for the product), residual scores
    * are BIGINTs, and q̂ is an exact order statistic via a per-type
    * rank window — both engines pick the identical row. Two shuffles
    * (per-type agg, per-type rank), both on the type key. */
  def conformalInterval(ev: DataFrame, alpha: Double = 0.1): DataFrame = {
    val base = ev.select(col("event_id"), col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"),
      pmod(col("event_id"), lit(2L)).as("half"))
    val mu = base.filter(col("half") === 0).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n_train"), sum(col("cents")).as("sc"))
      .select(col("event_type"), col("n_train"),
        expr("cast((cast(sc as decimal(38,0)) * 1000000) div n_train as bigint)")
          .as("mu_scaled"))
    val byType = Window.partitionBy(col("event_type"))
    val cal = base.filter(col("half") === 1)
      .join(mu, "event_type")
      .withColumn("score", abs(col("cents") * lit(1000000L) - col("mu_scaled")))
      .withColumn("rnk", row_number().over(byType.orderBy(col("score"), col("event_id"))))
      .withColumn("n_cal", count(lit(1)).over(byType))
    cal
      .filter(col("rnk") === least(
        ceil((col("n_cal") + 1) * lit(1.0 - alpha)).cast("long"), col("n_cal")))
      .select(col("event_type"), col("n_train"), col("n_cal").cast("long").as("n_cal"),
        col("mu_scaled"), col("score").as("qhat_scaled"),
        trunc4((col("mu_scaled") - col("score")) / 1e6 / 100).as("lo_usd"),
        trunc4((col("mu_scaled") + col("score")) / 1e6 / 100).as("hi_usd"))
  }

  /** Isotonic (monotone) score calibration via pool-adjacent-violators,
    * computed with the closed-form min-max characterization (Ayer et
    * al. 1955; Barlow et al. 1972 §1.2): the weighted-L2 isotonic fit
    * at bin j equals max_{i≤j} min_{k≥j} avg(y over bins i..k). PAVA
    * itself is a sequential pool-merge loop; the min-max form is a
    * RELATIONAL equivalent a distributed engine can execute — exactly
    * the trick used for the BPE learner (sequential algorithm, provably
    * equivalent declarative form).
    *
    * Setting: calibrate order total price (binned, width $12.5k) as a
    * predictor of fulfilment (`o_orderstatus = 'F'`). Empirical per-bin
    * rates are NOT monotone; the isotonic fit is the calibration a
    * scoring pipeline would serve.
    *
    * Scale: the only fact-sized work is the binned (n, pos) hash-agg —
    * map-side combined, ≤ 40 cells out. The O(B²) pair relation and
    * O(B³) min-max join run on the COLLAPSED histogram (40³ = 64k tiny
    * rows), never on facts — the same collapsed-relation discipline as
    * [[skylineMerchants]]. Bin averages are exact-integer ratios
    * divided once; min/max over those identical doubles is
    * engine-portable. */
  def isotonicCalibration(orders: DataFrame, binW: Double = 12500.0): DataFrame = {
    val hist = orders
      .select(floor(col("o_totalprice") / binW).cast("long").as("bin"),
        when(col("o_orderstatus") === "F", 1L).otherwise(0L).as("y"))
      .groupBy(col("bin")).agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      .localCheckpoint(true) // ≤ 40 rows; feeds three self-joins below
    val lo = hist.select(col("bin").as("i"))
    val hi = hist.select(col("bin").as("k"))
    // cumulative sums would make avg(i..k) a prefix-difference ratio;
    // over 40 bins the plain pair join is just as exact and simpler
    val pairs = lo.join(hi, col("i") <= col("k"))
      .join(hist.select(col("bin").as("m"), col("n").as("nm"), col("pos").as("pm")),
        col("m") >= col("i") && col("m") <= col("k"))
      .groupBy(col("i"), col("k"))
      .agg(sum(col("nm")).as("w"), sum(col("pm")).as("p"))
      .select(col("i"), col("k"), (col("p").cast("double") / col("w")).as("a"))
    val fit = pairs.join(hist.select(col("bin").as("j")),
        col("i") <= col("j") && col("k") >= col("j"))
      .groupBy(col("j"), col("i")).agg(min(col("a")).as("inner_min"))
      .groupBy(col("j")).agg(max(col("inner_min")).as("iso"))
    hist.join(fit, col("bin") === col("j"))
      .select(col("bin"), col("n"), col("pos"),
        trunc4(col("pos").cast("double") / col("n")).as("rate"),
        trunc4(col("iso")).as("iso_rate"))
  }

  /** Sinkhorn iteration count and entropic temperature (shared with the
    * generated oracle). */
  val SinkhornIters = 8
  val SinkhornEps = 4.0
  /** Gibbs kernel literals K_ij = ⌊exp(−|i−j|/ε)·2^20⌋/2^20 — folded to
    * Scala doubles ONCE so both engines parse the identical decimal
    * (Double.toString round-trips exactly; the hllDistinct alpha
    * discipline). */
  private[graft] def sinkhornK(i: Int, j: Int): Double =
    math.floor(math.exp(-math.abs(i - j) / SinkhornEps) * 1048576.0) / 1048576.0

  /** Entropic optimal transport between two spend distributions by the
    * SINKHORN-KNOPP iteration (Cuturi 2013) — the regularized OT
    * distance modern distribution-shift tooling uses where
    * [[w1Drift]]'s closed form stops working (W1's sorted-CDF trick is
    * 1-D only; Sinkhorn takes any cost matrix). Marginals: the 16-band
    * value histograms of purchase vs error events; cost |i−j| band
    * distance; ε = 4 bands.
    *
    * Engine-portability of an ITERATIVE FLOAT computation (a different
    * regime from the integer-exact loops elsewhere): the solver state
    * is ONE row of 32 columns (u₀..u₁₅, v₀..v₁₅), every update
    * u_i ← r_i / Σ_j K_ij·v_j writes the 16-term sum as an UNROLLED
    * left-fold expression — never a SUM aggregate — so both engines
    * add in the same textual order (Catalyst's ReorderAssociativeOperator
    * touches integral types only; float adds are not reassociated).
    * K_ij are shared decimal literals; marginals are exact-count
    * ratios. Each step lands on a localCheckpoint so projection
    * collapse cannot inline step t into step t+1 (16^2t expression
    * blow-up — the mmrRerank lineage lesson); the oracle mirrors with
    * MATERIALIZED CTEs.
    *
    * Output per band: both marginals, the transport plan's column mass
    * (row mass is exact by construction after a final u-update; the
    * column residual IS the convergence readout), and the entropic
    * cost. Scale: the only fact-sized work is one conditional-sum
    * histogram aggregate (map-side combined, 16 cells); the solver
    * never leaves a 1-row relation. */
  def sinkhornDrift(ev: DataFrame, bands: Int = 16): DataFrame = {
    val binCol = least(floor(col("value") / 32.0).cast("int"), lit(bands - 1))
    val aggs = (0 until bands).flatMap(i => Seq(
      sum(when(col("event_type") === "purchase" && col("bin") === i, 1L)
        .otherwise(0L)).as(s"rn$i"),
      sum(when(col("event_type") === "error" && col("bin") === i, 1L)
        .otherwise(0L)).as(s"cn$i")))
    // the ONLY fact-sized work: the map-side-combined histogram aggregate
    val hist = ev.filter(col("event_type").isin("purchase", "error"))
      .select(col("event_type"), binCol.as("bin"))
      .agg(aggs.head, aggs.tail: _*)
      .head() // 1 row of 2·bands exact counts
    // The solver runs DRIVER-SIDE (r12): its whole state is 32 doubles,
    // and the relational form paid 18 one-row localCheckpoints (one
    // Spark action + a fresh 16-term-unrolled codegen compile per step,
    // ~2 s of pure fixed cost). JVM doubles evaluate the IDENTICAL
    // left-fold term order the unrolled expressions used (Spark executes
    // double arithmetic as JVM doubles; no reassociation either way), so
    // every u/v/cost value is bit-identical to the expression form and
    // to the oracle's MATERIALIZED per-step CTEs — same division
    // sequence, same K_ij decimal literals, same fold parenthesization.
    val rn = (0 until bands).map(i => hist.getAs[Long](s"rn$i")).toArray
    val cn = (0 until bands).map(i => hist.getAs[Long](s"cn$i")).toArray
    val nr = rn.sum.toDouble
    val nc = cn.sum.toDouble
    val r = rn.map(_.toDouble / nr)
    val c = cn.map(_.toDouble / nc)
    var u = Array.fill(bands)(1.0)
    var v = Array.fill(bands)(1.0)
    def kv(i: Int, vv: Array[Double]): Double = {
      var s = sinkhornK(i, 0) * vv(0); var j = 1
      while (j < bands) { s += sinkhornK(i, j) * vv(j); j += 1 }; s
    }
    def ku(j: Int, uu: Array[Double]): Double = {
      var s = sinkhornK(0, j) * uu(0); var i = 1
      while (i < bands) { s += sinkhornK(i, j) * uu(i); i += 1 }; s
    }
    def uStep(vv: Array[Double]): Array[Double] =
      Array.tabulate(bands)(i => r(i) / kv(i, vv))
    def vStep(uu: Array[Double]): Array[Double] =
      Array.tabulate(bands)(j => c(j) / ku(j, uu))
    for (_ <- 0 until SinkhornIters) { u = uStep(v); v = vStep(u) }
    u = uStep(v) // final u-update: row marginals exact
    // cost folds per-i groups first, then across groups — the exact
    // parenthesization the oracle's generated SQL uses
    val cost = (0 until bands).map(i =>
      (0 until bands).filter(_ != i).map(j =>
        math.abs(i - j).toDouble * u(i) * sinkhornK(i, j) * v(j))
        .reduce(_ + _)).reduce(_ + _)
    def colMass(j: Int): Double = (0 until bands)
      .map(i => u(i) * sinkhornK(i, j) * v(j)).reduce(_ + _)
    def trunc6(x: Double): Double = math.floor(x * 1000000) / 1000000
    val spark = ev.sparkSession
    import spark.implicits._
    (0 until bands).map(j =>
        (j, trunc6(r(j)), trunc6(c(j)), trunc6(colMass(j)), trunc6(cost)))
      .toDF("bin", "r_p", "c_p", "plan_col_mass", "sinkhorn_cost")
  }

  /** The generated DuckDB mirror of [[sinkhornDrift]] — same K
    * literals, same textual fold order, MATERIALIZED per step. */
  private[graft] def sinkhornOracle(bands: Int = 16): String = {
    def k(i: Int, j: Int) = s"(${sinkhornK(i, j)}::DOUBLE)"
    val sums = (0 until bands).map(i =>
      s"sum(CASE WHEN event_type = 'purchase' AND bin = $i THEN 1 ELSE 0 END)::BIGINT rn$i, " +
        s"sum(CASE WHEN event_type = 'error' AND bin = $i THEN 1 ELSE 0 END)::BIGINT cn$i")
      .mkString(", ")
    val nr = (0 until bands).map(i => s"rn$i").mkString(" + ")
    val nc = (0 until bands).map(i => s"cn$i").mkString(" + ")
    val init = (0 until bands).map(i => s"rn$i::DOUBLE / ($nr) r$i").mkString(", ") + ", " +
      (0 until bands).map(i => s"cn$i::DOUBLE / ($nc) c$i").mkString(", ") + ", " +
      (0 until bands).map(i => s"1.0::DOUBLE u$i").mkString(", ") + ", " +
      (0 until bands).map(i => s"1.0::DOUBLE v$i").mkString(", ")
    val rc = (0 until bands).flatMap(i => Seq(s"r$i", s"c$i")).mkString(", ")
    def kvS(i: Int) = (0 until bands).map(j => s"${k(i, j)} * v$j").mkString(" + ")
    def kuS(j: Int) = (0 until bands).map(i => s"${k(i, j)} * u$i").mkString(" + ")
    def uSel = (0 until bands).map(i => s"r$i / (${kvS(i)}) u$i").mkString(", ")
    val us = (0 until bands).map(i => s"u$i").mkString(", ")
    val vs = (0 until bands).map(j => s"v$j").mkString(", ")
    def vSel = (0 until bands).map(j => s"c$j / (${kuS(j)}) v$j").mkString(", ")
    val steps = (1 to SinkhornIters).map { t =>
      val prev = if (t == 1) "s0" else s"sv${t - 1}"
      s"su$t AS MATERIALIZED (SELECT $rc, $uSel, $vs FROM $prev), " +
        s"sv$t AS MATERIALIZED (SELECT $rc, $us, $vSel FROM su$t)"
    }.mkString(", ")
    val cost = (0 until bands).map(i =>
      "(" + (0 until bands).filter(_ != i).map(j =>
        s"${math.abs(i - j).toDouble} * u$i * ${k(i, j)} * v$j").mkString(" + ") + ")")
      .mkString(" + ")
    def colMass(j: Int) = (0 until bands).map(i => s"u$i * ${k(i, j)} * v$j")
      .mkString(" + ")
    val outRows = (0 until bands).map(j =>
      s"($j, floor(r$j * 1000000) / 1000000, floor(c$j * 1000000) / 1000000, " +
        s"floor((${colMass(j)}) * 1000000) / 1000000)").mkString(", ")
    s"WITH b0 AS MATERIALIZED (SELECT event_type, " +
      s"least(CAST(floor(value / 32.0) AS INT), ${bands - 1}) bin FROM events " +
      "WHERE event_type IN ('purchase', 'error')), " +
      s"h AS MATERIALIZED (SELECT $sums FROM b0), " +
      s"s0 AS MATERIALIZED (SELECT $init FROM h), $steps, " +
      s"fin AS MATERIALIZED (SELECT $rc, $uSel, $vs FROM sv$SinkhornIters), " +
      s"rep AS MATERIALIZED (SELECT *, floor(($cost) * 1000000) / 1000000 sinkhorn_cost FROM fin) " +
      s"SELECT t.bin, t.r_p, t.c_p, t.plan_col_mass, rep.sinkhorn_cost " +
      s"FROM rep, LATERAL (VALUES $outRows) t(bin, r_p, c_p, plan_col_mass)"
  }

  /** Qini / uplift curve by targeting band (Radcliffe 2007) — the
    * incrementality readout an A/B-with-targeting pipeline publishes:
    * treatment = odd user_id (the deterministic holdout split the
    * abtest family uses), outcome = purchase count, targeting score =
    * the user's non-purchase activity. Users collapse into score BANDS
    * (score div 8, capped), bands rank best-first, and the cumulative
    * Qini at band k is
    *   Q(k) = Σ≤k purch_t − Σ≤k purch_c · (Σ≤k n_t / Σ≤k n_c)
    * — incremental conversions vs a scaled control. Per-band uplift
    * (rate_t − rate_c) is reported alongside.
    *
    * Scale: one per-user aggregate (map-side combined, |users| rows) →
    * one per-band aggregate (≤ 8 rows); the cumulative window runs
    * over the 8-row band relation, never users (the rfm two-phase
    * lesson: no global window over the per-user relation — bands are
    * the collapse). Counts stay exact BIGINTs; only the final Qini
    * scaling and rates divide, in one shared textual order. */
  def qiniCurve(ev: DataFrame, bandW: Int = 8, maxBand: Int = 7): DataFrame = {
    val perUser = ev.groupBy(col("user_id"))
      .agg(sum(when(col("event_type") === "purchase", 1L).otherwise(0L)).as("purch"),
        sum(when(col("event_type").isin("click", "view"), 1L).otherwise(0L)).as("activity"))
      .select(pmod(col("user_id"), lit(2L)).as("treated"),
        least(floor(col("activity") / bandW), lit(maxBand.toLong)).as("band"),
        col("purch"))
    val bands = perUser.groupBy(col("band"))
      .agg(sum(when(col("treated") === 1L, 1L).otherwise(0L)).as("n_t"),
        sum(when(col("treated") === 0L, 1L).otherwise(0L)).as("n_c"),
        sum(when(col("treated") === 1L, col("purch")).otherwise(0L)).as("purch_t"),
        sum(when(col("treated") === 0L, col("purch")).otherwise(0L)).as("purch_c"))
    val cum = Window.orderBy(col("band").desc)
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    bands
      .withColumn("cn_t", sum(col("n_t")).over(cum))
      .withColumn("cn_c", sum(col("n_c")).over(cum))
      .withColumn("cp_t", sum(col("purch_t")).over(cum))
      .withColumn("cp_c", sum(col("purch_c")).over(cum))
      .select(col("band"), col("n_t"), col("n_c"), col("purch_t"), col("purch_c"),
        when(col("n_t") > 0 && col("n_c") > 0,
          trunc4(col("purch_t") / col("n_t") - col("purch_c") / col("n_c")))
          .as("uplift"), // an empty arm has no uplift estimate (NULL, both engines)
        when(col("cn_c") > 0,
          trunc4(col("cp_t") - col("cp_c") * (col("cn_t") / col("cn_c"))))
          .as("qini"))
  }

  /** Single change-point detection by binary segmentation (Scott &
    * Knott 1974; the first split of every changepoint library): over
    * the daily revenue series, choose the boundary that minimizes
    * total within-segment squared error. With per-day sums S and
    * day counts n, SSE_L + SSE_R = ΣY² − (S_L²/n_L + S_R²/n_R), so the
    * argmin maximizes G = S_L²·n_R + S_R²·n_L over n_L·n_R — computed
    * from cumulative sums over the ~30-row daily relation. The report
    * is the split day, both segment means, and the variance-explained
    * share (the R² a monitoring rule thresholds before alerting
    * "the level shifted").
    *
    * Exactness: daily cent sums reach ~10¹¹ at bench scale, so S² and
    * the G products widen through DECIMAL(38,0)/HUGEINT (the abCuped
    * rule — a BIGINT S² overflows silently right where the series gets
    * interesting); candidates rank on the identical derived double,
    * ties to the earlier day.
    *
    * Scale: one (day) hash-agg over the facts; the candidate scan is a
    * cumulative window + rank over the COLLAPSED daily relation. */
  def changepoint(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("s"),
        sum(expr("cast(cast(floor(o_totalprice * 100 + 0.5) as decimal(38,0)) * " +
          "cast(floor(o_totalprice * 100 + 0.5) as bigint) as decimal(38,0))")).as("ss"))
    val byDay = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy()
    val cand = daily
      .withColumn("nl", sum(col("n")).over(byDay))
      .withColumn("sl", sum(col("s")).over(byDay))
      .withColumn("nt", sum(col("n")).over(tot))
      .withColumn("st", sum(col("s")).over(tot))
      .withColumn("sst", sum(col("ss")).over(tot))
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("sr", col("st") - col("sl"))
      .filter(col("nr") > 0)
      .withColumn("g",
        (expr("cast(sl as decimal(38,0)) * sl") * col("nr") +
          expr("cast(sr as decimal(38,0)) * sr") * col("nl")).cast("double") /
          // nl·nr is left-count × right-count (≫ 2^63 at 1e9-row
          // segments) — exact in DECIMAL, one cast into the division
          expr("cast(nl as decimal(38,0)) * nr").cast("double"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("g").desc, col("day"))))
      .filter(col("rnk") === 1)
    cand.select(col("day").as("split_day"), col("nl").as("n_left"),
      col("nr").as("n_right"),
      trunc2(col("sl").cast("double") / col("nl") / 100).as("mean_left"),
      trunc2(col("sr").cast("double") / col("nr") / 100).as("mean_right"),
      // variance explained: (G/n − S²/n) / (ΣY² − S²/n), all identical doubles
      trunc4((col("g") - expr("cast(st as decimal(38,0)) * st").cast("double") / col("nt")) /
        (col("sst").cast("double") -
          expr("cast(st as decimal(38,0)) * st").cast("double") / col("nt")))
        .as("var_explained"))
  }

  /** ε-DP median by the EXPONENTIAL MECHANISM (McSherry & Talwar 2007)
    * — the third leg of the privacy family next to [[dpHistogram]]'s
    * Laplace counts and the streaming release: counting queries take
    * additive noise, but a QUANTILE needs candidate selection, and the
    * exponential mechanism picks a candidate bin with probability
    * ∝ exp(ε·u/2) where u(b) = −|2·rank(b) − n| is the (sensitivity-2)
    * distance of the bin boundary from the median. Sampling uses the
    * Gumbel-max trick with the house SEEDED noise (md5-derived uniform
    * per bin → −ln(−ln U)), so the released bin is deterministic and
    * oracle-replayable while distributionally faithful. The report
    * carries the top-3 noisy candidates plus the exact median and the
    * release's absolute error — the privacy/utility readout.
    *
    * Scale: one binned hash-agg (≤ 99 cells however large the input);
    * rank/score/argmax run on the collapsed bin relation. The exact
    * median exists for the error column and would be skipped in a
    * production release. */
  def dpQuantile(ev: DataFrame, epsilon: Double = 0.5,
      binCents: Long = 500L, topN: Int = 3): DataFrame = {
    // NOT checkpointed: the global windows below must sit directly on
    // the aggregate so the plan itself shows they run over a collapsed
    // relation (the ScaleSpec sweep reads exactly that); the cheap
    // ≤99-cell agg recomputes once for the exact-median branch
    val bins = ev
      .select((floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .groupBy(expr(s"cents div $binCents").as("bin"))
      .agg(count(lit(1)).as("n"))
    val byBin = Window.orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val scored = bins
      .withColumn("cum", sum(col("n")).over(byBin))
      .withColumn("nt", sum(col("n")).over(Window.partitionBy()))
      .withColumn("u_util", -abs(lit(2L) * col("cum") - col("nt")))
      .withColumn("unif",
        (graft.functions.TextHash.hash60(concat(lit("dpq|"), col("bin").cast("string")))
          .cast("double") + 0.5) / lit(1152921504606846976.0))
      .withColumn("gumbel", -log(-log(col("unif"))))
      .withColumn("score_scaled",
        floor((lit(epsilon / 2) * col("u_util") + col("gumbel")) * 1e6).cast("long"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("score_scaled").desc, col("bin"))).cast("long"))
      .filter(col("rnk") <= topN)
    // exact median cents: the unique bin where cum passes nt/2, then the
    // bin midpoint stands in for the order statistic at bin granularity
    val exact = bins
      .withColumn("cum", sum(col("n")).over(byBin))
      .withColumn("nt", sum(col("n")).over(Window.partitionBy()))
      .filter(lit(2L) * col("cum") >= col("nt") &&
        lit(2L) * (col("cum") - col("n")) < col("nt"))
      .select(((col("bin") * binCents + binCents / 2)).as("true_mid_cents"))
    scored.crossJoin(broadcast(exact))
      .select(col("rnk"), col("bin"), col("n"), col("u_util"),
        col("score_scaled"),
        ((col("bin") * binCents + binCents / 2)).as("released_mid_cents"),
        col("true_mid_cents"),
        trunc2(abs(col("bin") * binCents + binCents / 2 - col("true_mid_cents"))
          / 100.0).as("abs_err_usd"))
  }

  /** V-optimal histogram construction (Jagadish et al. 1998) — the
    * bucket-boundary DP every cost-based optimizer runs when it builds
    * column statistics, and the third leg of the CBO family next to
    * q_zonemap (layout pruning) and q_join_card_est (join sizing):
    * partition the monthly revenue series into K=4 buckets minimizing
    * total within-bucket SSE,
    *   dp_k(j) = min_i dp_{k−1}(i) + SSE(i+1..j),
    * then read back the boundaries and compare against the equal-width
    * histogram (the win column is why engines pay for V-optimal).
    * Production engines run this DP over a PRE-AGGREGATED domain —
    * here days collapse to ~80 months first, exactly that discipline.
    *
    * Exactness & portability: prefix sums S/SS/n are exact
    * BIGINT/DECIMAL(38,0) (SS terms alone need the widening —
    * cents² ≈ 2.5e15/row); each SSE = (ΔSS) − (ΔS)²/Δn derives from
    * identical integers; dp values accumulate through at most K−1
    * BINARY adds (never an order-free float SUM), and every argmin is
    * a rank over candidates ordered by (value, i) — deterministic ties.
    *
    * Scale: one (month) hash-agg over the facts; prefix windows, the
    * O(N²) cost relation (~3.2k rows at N=80), K−1 tiny join rounds,
    * and a 3-step backtrack all run on collapsed relations. */
  def voptHistogram(orders: DataFrame, k: Int = 4): DataFrame = {
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("s"),
        sum(expr("cast(cast(floor(o_totalprice * 100 + 0.5) as decimal(38,0)) * " +
          "cast(floor(o_totalprice * 100 + 0.5) as bigint) as decimal(38,0))")).as("ss"))
    // The DP runs DRIVER-SIDE (r12): the collapsed month series is
    // bounded by the TIME DOMAIN (~N=80 rows), yet the relational DP
    // paid ~10 tiny localCheckpoints (cost relation, K−1 argmin rounds,
    // backtrack joins). Arithmetic is the IDENTICAL sequence — exact
    // BigInt prefix sums (the DECIMAL(38,0) widening), per-cost
    // double(ΔSS) − double(ΔS²)/Δn with the same correctly-rounded
    // decimal→double conversions, dp accumulation via the same ≤ K−1
    // binary adds, argmin ties to the smaller i — mirrored by the
    // oracle's materialized CTE replay.
    val monthRows = monthly.collect()
      .map(r => (r.getAs[java.sql.Timestamp]("month"), r.getAs[Long]("n"),
        r.getAs[Long]("s"), BigInt(r.getAs[java.math.BigDecimal]("ss").toBigInteger)))
      .sortBy(_._1.getTime)
    val nMon = monthRows.length
    // prefix rows t = 0..N (t=0 is the zero sentinel)
    val cn = new Array[Long](nMon + 1)
    val cs = new Array[Long](nMon + 1)
    val css = new Array[BigInt](nMon + 1)
    css(0) = BigInt(0)
    for (t <- 1 to nMon) {
      cn(t) = cn(t - 1) + monthRows(t - 1)._2
      cs(t) = cs(t - 1) + monthRows(t - 1)._3
      css(t) = css(t - 1) + monthRows(t - 1)._4
    }
    def bigToD(x: BigInt): Double = BigDecimal(x).toDouble
    def cost(i0: Int, j: Int): Double =
      bigToD(css(j) - css(i0)) -
        bigToD(BigInt(cs(j) - cs(i0)) * (cs(j) - cs(i0))) / (cn(j) - cn(i0))
    // dp1(j) = cost(1..j); dpk(j) = min_i dp_{k−1}(i) + cost(i+1..j),
    // argmin ties to the smaller i (the old rank's (v, i) order)
    val dpV = Array.ofDim[Double](k + 1, nMon + 1)
    val dpA = Array.ofDim[Int](k + 1, nMon + 1)
    for (j <- 1 to nMon) { dpV(1)(j) = cost(0, j); dpA(1)(j) = 0 }
    // dp_{kk−1}(i) exists only for i ≥ kk−1 (kk−1 non-empty buckets
    // need kk−1 months) — exactly the rows the old relational join had
    for (kk <- 2 to k; j <- kk to nMon) {
      var bestV = 0.0
      var bestI = -1
      for (i <- (kk - 1) until j) {
        val v = dpV(kk - 1)(i) + cost(i, j)
        if (bestI < 0 || v < bestV) { bestV = v; bestI = i }
      }
      dpV(kk)(j) = bestV; dpA(kk)(j) = bestI
    }
    // backtrack: e_k = N, a_k = arg_k(N), e_{k−1} = a_k, …, a_1 = 0
    val e = new Array[Int](k + 1)
    val a = new Array[Int](k + 1)
    e(k) = nMon; a(k) = dpA(k)(nMon)
    for (kk <- (k - 1) to 2 by -1) { e(kk) = a(kk + 1); a(kk) = dpA(kk)(e(kk)) }
    e(1) = a(2); a(1) = 0
    val bucketCost = (1 to k).map(kk => cost(a(kk), e(kk)))
    // both SSE totals fold k doubles in ONE textual order (the pivot's
    // c1+c2+c3+c4 — the sinkhorn rule), never an order-free float SUM
    val voptSse = bucketCost.reduce(_ + _)
    val eqSse = (1 to k).map { t =>
      val i0 = ((nMon.toLong * (t - 1)).toDouble / k).toLong.toInt
      val j = ((nMon.toLong * t).toDouble / k).toLong.toInt
      cost(i0, j)
    }.reduce(_ + _)
    def trunc4d(x: Double): Double = math.floor(x * 10000).toLong.toDouble / 10000
    val spark = orders.sparkSession
    import spark.implicits._
    (1 to k).map(kk => (kk.toLong, monthRows(a(kk))._1,
        monthRows(e(kk) - 1)._1, trunc4d(bucketCost(kk - 1) / 1e15),
        trunc4d(voptSse / 1e15), trunc4d(eqSse / 1e15)))
      .toDF("bucket", "month_lo", "month_hi", "sse_e15", "vopt_sse_e15",
        "equalw_sse_e15")
  }

  /** The generated DuckDB mirror of [[voptHistogram]] — same prefix
    * integers, same (value, i)-ranked argmins, same textual SSE folds;
    * MATERIALIZED per DP round (the pcaOracle rule). */
  private[graft] def voptOracle(k: Int = 4): String = {
    val cents = "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)"
    val dpSteps = (2 to k).map { kk =>
      s"dp$kk AS MATERIALIZED (SELECT j, v, arg FROM (SELECT c.j, d.v + c.c v, d.j arg, " +
        "row_number() OVER (PARTITION BY c.j ORDER BY d.v + c.c, d.j) rn " +
        s"FROM dp${kk - 1} d JOIN cost c ON c.i0 = d.j) WHERE rn = 1)"
    }.mkString(", ")
    val back = ((k - 1) to 2 by -1).map { kk =>
      s"b$kk AS (SELECT b${kk + 1}.*, d.arg a$kk FROM b${kk + 1} " +
        s"JOIN dp$kk d ON d.j = b${kk + 1}.a${kk + 1})"
    }.mkString(", ")
    val bktRows = (1 to k).map { kk =>
      val lo = if (kk == 1) "0 + 1" else s"a$kk + 1"
      val hi = if (kk == k) s"e$k" else s"a${kk + 1}"
      s"($kk, $lo, $hi)"
    }.mkString(", ")
    val eqRows = (1 to k).map(t => s"($t, (nn * ${t - 1}) // $k, (nn * $t) // $k)")
      .mkString(", ")
    val vcs = (1 to k).map(t => s"max(CASE WHEN bucket = $t THEN c END) vc$t").mkString(", ")
    val ecs = (1 to k).map(t => s"max(CASE WHEN eb = $t THEN c END) ec$t").mkString(", ")
    "WITH monthly AS MATERIALIZED (SELECT date_trunc('month', o_orderdate) mm, " +
      s"count(*)::BIGINT n, sum($cents)::BIGINT s, sum($cents::HUGEINT * $cents) ss " +
      "FROM orders GROUP BY 1), " +
      "pr0 AS MATERIALIZED (SELECT row_number() OVER (ORDER BY mm)::BIGINT t, mm, " +
      "sum(n) OVER (ORDER BY mm ROWS UNBOUNDED PRECEDING)::BIGINT cn, " +
      "sum(s) OVER (ORDER BY mm ROWS UNBOUNDED PRECEDING)::BIGINT cs, " +
      "sum(ss) OVER (ORDER BY mm ROWS UNBOUNDED PRECEDING) css FROM monthly), " +
      "pr AS MATERIALIZED (SELECT t, mm, cn, cs, css FROM pr0 " +
      "UNION ALL SELECT 0, TIMESTAMP '1970-01-01', 0, 0, 0::HUGEINT), " +
      "cost AS MATERIALIZED (SELECT a.t i0, b.t j, " +
      "(b.css - a.css)::DOUBLE - ((b.cs - a.cs)::HUGEINT * (b.cs - a.cs))::DOUBLE " +
      "/ (b.cn - a.cn) c FROM pr a JOIN pr b ON a.t < b.t), " +
      "dp1 AS MATERIALIZED (SELECT j, c v, 0::BIGINT arg FROM cost WHERE i0 = 0), " +
      s"$dpSteps, " +
      "nnr AS (SELECT max(t) nn FROM pr), " +
      s"b$k AS (SELECT nn, nn e$k, arg a$k FROM nnr JOIN dp$k ON j = nn), $back, " +
      s"bkts AS (SELECT bucket::BIGINT bucket, lo::BIGINT lo, hi::BIGINT hi FROM b2, " +
      s"LATERAL (VALUES $bktRows) t(bucket, lo, hi)), " +
      "wc AS MATERIALIZED (SELECT bucket, lo, hi, c FROM bkts " +
      "JOIN cost ON cost.i0 = lo - 1 AND cost.j = hi), " +
      s"vt AS (SELECT $vcs FROM wc), " +
      s"vs AS (SELECT ${(1 to k).map(t => s"vc$t").mkString(" + ")} vopt_sse FROM vt), " +
      s"eqb AS (SELECT eb, i0, j FROM nnr, LATERAL (VALUES $eqRows) t(eb, i0, j)), " +
      "eqc AS (SELECT eb, c FROM eqb JOIN cost USING (i0, j)), " +
      s"et AS (SELECT $ecs FROM eqc), " +
      s"es AS (SELECT ${(1 to k).map(t => s"ec$t").mkString(" + ")} eq_sse FROM et) " +
      "SELECT bucket, la.mm month_lo, lb.mm month_hi, " +
      "floor(c / 1e15 * 10000) / 10000 sse_e15, " +
      "floor(vopt_sse / 1e15 * 10000) / 10000 vopt_sse_e15, " +
      "floor(eq_sse / 1e15 * 10000) / 10000 equalw_sse_e15 " +
      "FROM wc CROSS JOIN vs CROSS JOIN es " +
      "JOIN pr la ON la.t = wc.lo JOIN pr lb ON lb.t = wc.hi"
  }

  /** Mann–Whitney U (Wilcoxon rank-sum, Mann & Whitney 1947) — the
    * NONPARAMETRIC A/B verdict the z/CUPED family can't give when
    * revenue is heavy-tailed (one whale in variant A swamps a mean
    * test; rank tests don't care). Same hash-bucketed variant
    * assignment as [[abTest]]; the measure is per-user purchase cents.
    *
    * Exactness: ranks come from the COLLAPSED distinct-cents relation
    * with midranks for ties kept in exact HALF-UNITS
    * (2·midrank = 2·|{cents below}| + t + 1, an integer), so
    * 2R_A = Σ t_a·(2·before + t + 1) and 2U_A = 2R_A − n_a(n_a+1) are
    * exact BIGINTs (products widened through DECIMAL(38,0) — n_a·n_b
    * alone hits 2^60 at 10⁹ users); the tie correction Σ(t³−t) is
    * exact the same way. Both engines then evaluate ONE textual float
    * expression z = (2U_A − n_a·n_b) / (2·√(n_a·n_b/12·((N+1) −
    * Σ(t³−t)/(N(N−1))))) over identical integers.
    *
    * Scale: one fact scan → per-user hash-agg → distinct-cents
    * hash-agg (≤ |distinct spend levels| cells); the rank window runs
    * over that collapsed relation (the decileStats rule). */
  def mannWhitney(ev: DataFrame): DataFrame = {
    val perUser = ev.filter(col("event_type") === "purchase")
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .withColumn("is_a", when(pmod(graft.functions.TextHash.hash60(
        concat(lit("ab|"), col("user_id"))), lit(2L)) === 0, 1L).otherwise(0L))
    val cells = perUser.groupBy(col("cents"))
      .agg(count(lit(1)).as("t"), sum(col("is_a")).as("t_a"))
    val below = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val ranked = cells
      .withColumn("before", coalesce(sum(col("t")).over(below), lit(0L)))
    val agg = ranked.agg(
      // r2a ≈ 2n² (~2e18 at 1e9 users) — widened through DECIMAL(38,0)
      // like tie3, so the docstring's exactness bound actually holds
      // (a plain BIGINT sum wraps silently past ~2e9 users while the
      // oracle's HUGEINT does not — divergent failure modes).
      sum(col("t_a").cast("decimal(38,0)") *
        (col("before") * 2 + col("t") + 1)).as("r2a"),
      sum(col("t_a")).as("n_a"), sum(col("t")).as("nn"),
      sum(col("t").cast("decimal(38,0)") * col("t") * col("t") - col("t"))
        .as("tie3"))
    agg.select(col("n_a"), (col("nn") - col("n_a")).as("n_b"), col("nn"),
        // u2_a ≤ n_a·n_b ≤ 2^60 at 1e9 users — safe to narrow at OUTPUT
        (col("r2a") - col("n_a").cast("decimal(38,0)") * (col("n_a") + 1))
          .cast("long").as("u2_a"),
        col("tie3"))
      .select(col("n_a"), col("n_b"),
        col("u2_a"),
        trunc4((col("u2_a").cast("decimal(38,0)") -
            col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double") /
          (lit(2.0) * sqrt(
            (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double") / 12.0 *
              ((col("nn") + 1).cast("double") -
                col("tie3").cast("double") /
                  (col("nn").cast("decimal(38,0)") * (col("nn") - 1)).cast("double")))))
          .as("z"))
      .withColumn("significant", abs(col("z")) > 1.96)
  }

  /** The generated DuckDB mirror of [[mannWhitney]] — identical
    * half-unit midrank integers, identical single float expression. */
  private[graft] val mannWhitneyOracle: String =
    "WITH pu AS (SELECT user_id, sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) cents, " +
      "CASE WHEN ('0x'||substr(md5('ab|'||user_id),1,15))::BIGINT % 2 = 0 " +
      "THEN 1 ELSE 0 END is_a FROM events WHERE event_type = 'purchase' GROUP BY user_id), " +
      "cells AS (SELECT cents, count(*)::BIGINT t, sum(is_a)::BIGINT t_a FROM pu GROUP BY 1), " +
      "rk AS (SELECT t, t_a, coalesce(sum(t) OVER (ORDER BY cents " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT bfr FROM cells), " +
      "ag AS (SELECT sum(t_a::HUGEINT * (bfr * 2 + t + 1)) r2a, sum(t_a)::BIGINT n_a, " +
      "sum(t)::BIGINT nn, sum(t::HUGEINT * t * t - t) tie3 FROM rk), " +
      "u AS (SELECT n_a, nn - n_a n_b, nn, " +
      "(r2a - n_a::HUGEINT * (n_a + 1))::BIGINT u2_a, tie3 FROM ag), " +
      "z AS (SELECT n_a, n_b, u2_a, floor((u2_a::HUGEINT - n_a::HUGEINT * n_b)::DOUBLE / " +
      "(2.0 * sqrt((n_a::HUGEINT * n_b)::DOUBLE / 12.0 * ((nn + 1)::DOUBLE - " +
      "tie3::DOUBLE / (nn::HUGEINT * (nn - 1))::DOUBLE))) * 10000) / 10000 z FROM u) " +
      "SELECT n_a, n_b, u2_a, z, abs(z) > 1.96 significant FROM z"

  /** Haar wavelet energy pyramid over the daily revenue series — the
    * multi-resolution screen next to [[changepoint]] (one split) and
    * [[voptHistogram]] (K buckets): which TIME SCALES carry the
    * series' structure, read off the top wavelet coefficients. The
    * series is the day-collapsed cents total, zero-padded to
    * P = 2^L ≥ n days; detail d(ℓ,b) = (left-half sum − right-half
    * sum) of block b at scale 2^ℓ.
    *
    * Exactness — Parseval IN INTEGERS: the orthonormal coefficient is
    * d/2^{ℓ/2} (energy d²/2^ℓ), so on the common ×2^L scale every
    * energy is the exact integer d²·2^{L−ℓ}; the approximation term is
    * S² (S = grand total) and Parseval reads
    * 2^L·Σx² = S² + Σ_{ℓ,b} d²·2^{L−ℓ} — EXACT in DECIMAL(38,0), no
    * float ever enters ranking (energy share divides the integers once
    * at the end). Top-`topN` by (energy, scale, block) via sort-limit.
    *
    * Scale: one (day) hash-agg over the facts; the pyramid explodes
    * each of the ~n day cells into L = log₂P sign rows (zero-padded
    * cells contribute nothing and need no rows) and one (ℓ, block)
    * hash-agg collapses them — never a per-level pass, never a global
    * window over facts. */
  def haarPyramid(orders: DataFrame, topN: Int = 8): DataFrame = {
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("cents"))
    val idx = daily
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long") - 1)
      .localCheckpoint(true) // collapsed daily relation; feeds n + pyramid
    val maxT = idx.agg(max(col("t")).as("mt"), count(lit(1)).as("nd"),
        sum(col("cents").cast("decimal(38,0)") * col("cents")).as("sx2"),
        sum(col("cents")).as("s"))
      .select(col("mt"), col("nd"), col("sx2"), col("s"),
        // ≥ 1: a 1-day series must not hand sequence(1, 0) to the
        // explode — Spark's sequence(1, 0) DESCENDS (the charEntropy
        // empty-doc class)
        greatest(lit(1), ceil(log2(col("mt") + 1)).cast("int")).as("lcap"))
    val levels = idx.crossJoin(broadcast(maxT.select(col("lcap"))))
      .select(col("t"), col("cents"),
        explode(sequence(lit(1), col("lcap"))).as("lev"))
      .select(col("lev"), (col("t") / pow(lit(2.0), col("lev"))).cast("long").as("blk"),
        (when(pmod(col("t"), pow(lit(2.0), col("lev")).cast("long")) <
          pow(lit(2.0), col("lev") - 1).cast("long"), lit(1L)).otherwise(lit(-1L)) *
          col("cents")).as("signed"))
    val coeffs = levels.groupBy(col("lev"), col("blk"))
      .agg(sum(col("signed")).as("d"))
    val scored = coeffs.crossJoin(broadcast(maxT))
      .select(col("lev"), col("blk"), col("d"),
        (col("d").cast("decimal(38,0)") * col("d") *
          pow(lit(2.0), col("lcap") - col("lev")).cast("long")).as("energy"),
        (col("sx2") * pow(lit(2.0), col("lcap")).cast("long")).as("tot_energy"),
        (col("s").cast("decimal(38,0)") * col("s")).as("approx_energy"))
    scored
      .orderBy(col("energy").desc, col("lev"), col("blk")).limit(topN)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("energy").desc, col("lev"), col("blk"))).cast("long"))
      .select(col("rnk"), col("lev").cast("long").as("lev"), col("blk"), col("d"),
        trunc4(col("energy").cast("double") / col("tot_energy").cast("double"))
          .as("energy_share"),
        trunc4(col("approx_energy").cast("double") / col("tot_energy").cast("double"))
          .as("approx_share"))
  }

  /** The generated DuckDB mirror of [[haarPyramid]] — same integer
    * pyramid via a generate_series level cross join. */
  private[graft] val haarOracle: String =
    "WITH daily AS (SELECT date_trunc('day', o_orderdate) dy, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT cents " +
      "FROM orders GROUP BY 1), " +
      "idx AS (SELECT row_number() OVER (ORDER BY dy)::BIGINT - 1 t, cents FROM daily), " +
      "mt AS (SELECT max(t) mt, sum(cents::HUGEINT * cents) sx2, sum(cents)::BIGINT s, " +
      "greatest(1, CAST(ceil(log2(max(t) + 1)) AS INT)) lcap FROM idx), " +
      // generate_series can't read a lateral column — overshoot to a
      // fixed 40 levels (2^40 days ≈ 3 Gyr) and filter to lcap
      "lv AS (SELECT t, cents, lev FROM idx, mt, generate_series(1, 40) g(lev) " +
      "WHERE lev <= lcap), " +
      "sg AS (SELECT lev, t // (1::BIGINT << lev) blk, " +
      "CASE WHEN t % (1::BIGINT << lev) < (1::BIGINT << (lev - 1)) " +
      "THEN cents ELSE -cents END signed FROM lv), " +
      "cf AS (SELECT lev, blk, sum(signed)::BIGINT d FROM sg GROUP BY 1, 2), " +
      "sc AS (SELECT lev, blk, d, d::HUGEINT * d * (1::HUGEINT << (lcap - lev)) energy, " +
      "sx2 * (1::HUGEINT << lcap) tot_energy, s::HUGEINT * s approx_energy " +
      "FROM cf, mt) " +
      "SELECT row_number() OVER (ORDER BY energy DESC, lev, blk)::BIGINT rnk, " +
      "lev::BIGINT lev, blk, d, " +
      "floor(energy::DOUBLE / tot_energy::DOUBLE * 10000) / 10000 energy_share, " +
      "floor(approx_energy::DOUBLE / tot_energy::DOUBLE * 10000) / 10000 approx_share " +
      "FROM sc ORDER BY energy DESC, lev, blk LIMIT 8"

  /** Empirical-Bayes shrinkage of per-merchant error rates under a
    * beta-binomial prior (Robbins 1956; the small-sample ranking fix
    * every fraud desk needs — a merchant with 1 error in 2 events must
    * not outrank one with 40 in 100). Prior (m, M) by method of
    * moments over the per-merchant rate spread; posterior mean
    * (pos + M·m)/(n + M) ranks merchants.
    *
    * Exactness: per-merchant rates enter the moment equations as
    * floor(10⁶·pos/n) BIGINTs, so A = Σr6, B = Σr6² are exact and the
    * MoM strength M = ⌊m(1−m)/s² − 1⌋ (one textual float expression
    * over those integers, clamped to ≥ 1) is an exact BIGINT; the
    * posterior mean is then the exact rational
    * (pos·Σn + M·Σpos) / (Σn·(n + M)), floored at 10⁻⁶ granularity —
    * both engines divide identical DECIMAL(38,0) integers once.
    *
    * Scale: one fact scan → per-merchant hash-agg; the prior is a
    * 1-row aggregate broadcast back (scalar plumbing); no windows. */
  def ebShrinkage(ev: DataFrame): DataFrame = {
    val perM = ev
      .select(get_json_object(col("props"), "$.k").cast("long").as("merchant"),
        when(col("event_type") === "error", 1L).otherwise(0L).as("err"))
      .filter(col("merchant").isNotNull)
      .groupBy(col("merchant"))
      .agg(count(lit(1)).as("n"), sum(col("err")).as("pos"))
      .withColumn("r6", expr("(pos * 1000000L) div n"))
    val prior = perM.agg(count(lit(1)).as("k"),
        sum(col("r6")).as("a6"),
        sum(col("r6").cast("decimal(38,0)") * col("r6")).as("b12"),
        sum(col("n")).as("tn"), sum(col("pos")).as("tpos"))
      .select(col("tn"), col("tpos"),
        greatest(lit(1L), floor(
          (col("a6").cast("double") / col("k") / 1e6) *
            (lit(1.0) - col("a6").cast("double") / col("k") / 1e6) /
            ((col("b12").cast("double") / col("k") -
              (col("a6").cast("double") / col("k")) *
                (col("a6").cast("double") / col("k"))) / 1e12) - 1).cast("long"))
          .as("mm"))
    perM.crossJoin(broadcast(prior))
      .withColumn("s_num", (col("pos").cast("decimal(38,0)") * col("tn") +
        col("mm").cast("decimal(38,0)") * col("tpos")) * 1000000)
      .withColumn("s_den", col("tn").cast("decimal(38,0)") * (col("n") + col("mm")))
      .select(col("merchant"), col("n"), col("pos"),
        trunc4(col("r6") / lit(1000000.0)).as("raw_rate"),
        col("mm").as("prior_strength"),
        (expr("s_num div s_den") / lit(1000000.0)).as("shrunk_rate"))
  }

  /** The generated DuckDB mirror of [[ebShrinkage]]. */
  private[graft] val ebShrinkageOracle: String =
    "WITH pm AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) merchant, " +
      "count(*)::BIGINT n, " +
      "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT pos " +
      "FROM events WHERE json_extract_string(props, '$.k') IS NOT NULL GROUP BY 1), " +
      "r AS (SELECT *, CAST((pos * 1000000) // n AS BIGINT) r6 FROM pm), " +
      "pr AS (SELECT count(*)::BIGINT k, sum(r6)::BIGINT a6, sum(r6::HUGEINT * r6) b12, " +
      "sum(n)::BIGINT tn, sum(pos)::BIGINT tpos FROM r), " +
      "st AS (SELECT tn, tpos, greatest(1, CAST(floor(" +
      "(a6::DOUBLE / k / 1e6) * (1.0 - a6::DOUBLE / k / 1e6) / " +
      "((b12::DOUBLE / k - (a6::DOUBLE / k) * (a6::DOUBLE / k)) / 1e12) - 1) " +
      "AS BIGINT)) mm FROM pr) " +
      "SELECT merchant, n, pos, floor(r6 / 1000000.0 * 10000) / 10000 raw_rate, " +
      "mm prior_strength, " +
      "CAST(((pos::HUGEINT * tn + mm::HUGEINT * tpos) * 1000000) // " +
      "(tn::HUGEINT * (n + mm)) AS BIGINT) / 1000000.0 shrunk_rate " +
      "FROM r, st"

  /** Mann–Kendall trend test (Mann 1945, Kendall 1975) — the
    * nonparametric "is revenue actually trending" verdict next to
    * [[acfDaily]]'s correlogram and the OLS line in `q_ts_trend`: no
    * distribution or linearity assumption, just the pairwise sign sum
    * S = Σ_{i<j} sign(y_j − y_i) over the month-collapsed series. The
    * monthly collapse is the production discipline (daily S at 10⁹
    * days would be a 10¹⁸-pair relation; months keep the pair
    * relation ~N²/2 ≈ 3.2k rows and the TEST is about the trend, not
    * the noise floor).
    *
    * Exactness: S is an exact BIGINT; the tie-corrected variance rides
    * as the exact integer var18 = N(N−1)(2N+5) − Σ_g t_g(t_g−1)(2t_g+5)
    * (18·Var); the continuity-corrected z = (S∓1)/√(var18/18) is one
    * shared float expression over those integers (S=0 → z=0 exactly,
    * both engines).
    *
    * Scale: one (month) hash-agg over the facts, a t<t' self-join on
    * the ~N-row collapsed relation, one tie agg — no windows over
    * facts, no float before the final expression. */
  def mannKendall(orders: DataFrame): DataFrame = {
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("month"))).cast("long"))
      .localCheckpoint(true) // collapsed ~N-month relation; feeds 3 passes
    val s = monthly.as("a").join(monthly.as("b"), col("a.t") < col("b.t"))
      .agg(sum(signum(col("b.y") - col("a.y")).cast("long")).as("s"),
        count(lit(1)).as("n_pairs"))
    // tg/nn are month counts (calendar-bounded in this series), but the
    // cubic tg·(tg−1)·(2tg+5) is the generic Kendall variance formula —
    // on a per-user or per-merchant series the group count IS
    // corpus-scale, so the cubes ride DECIMAL(38,0) uniformly (round-10
    // overflow audit: widen the class, not the instance)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val ties = monthly.groupBy(col("y")).agg(count(lit(1)).as("tg"))
      .agg(coalesce(sum(dec(col("tg")) * (col("tg") - 1) * (col("tg") * 2 + 5)),
        lit(0L).cast("decimal(38,0)")).as("tie_term"), count(lit(1)).as("n_levels"))
    val n = monthly.agg(count(lit(1)).as("nn"))
    s.crossJoin(broadcast(n)).crossJoin(broadcast(ties))
      .withColumn("var18",
        dec(col("nn")) * (col("nn") - 1) * (col("nn") * 2 + 5) - col("tie_term"))
      .select(col("nn"), col("n_pairs"), col("s"), col("var18"),
        trunc4(when(col("s") > 0, (col("s") - 1).cast("double"))
          .when(col("s") < 0, (col("s") + 1).cast("double"))
          .otherwise(lit(0.0)) /
          sqrt(col("var18").cast("double") / 18.0)).as("z"))
      .withColumn("trend",
        when(col("z") > 1.96, "increasing")
          .when(col("z") < -1.96, "decreasing").otherwise("none"))
  }

  /** The generated DuckDB mirror of [[mannKendall]]. */
  private[graft] val mannKendallOracle: String =
    "WITH monthly AS (SELECT date_trunc('month', o_orderdate) mm, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT y " +
      "FROM orders GROUP BY 1), " +
      "idx AS (SELECT row_number() OVER (ORDER BY mm)::BIGINT t, y FROM monthly), " +
      "sp AS (SELECT sum(sign(b.y - a.y))::BIGINT s, count(*)::BIGINT n_pairs " +
      "FROM idx a JOIN idx b ON a.t < b.t), " +
      "tie AS (SELECT coalesce(sum(tg * (tg - 1) * (2 * tg + 5)), 0)::BIGINT tie_term " +
      "FROM (SELECT count(*)::BIGINT tg FROM idx GROUP BY y)), " +
      "nr AS (SELECT count(*)::BIGINT nn FROM idx), " +
      "v AS (SELECT nn, n_pairs, s, nn * (nn - 1) * (2 * nn + 5) - tie_term var18 " +
      "FROM sp, nr, tie) " +
      "SELECT nn, n_pairs, s, var18, " +
      "floor((CASE WHEN s > 0 THEN (s - 1)::DOUBLE WHEN s < 0 THEN (s + 1)::DOUBLE " +
      "ELSE 0.0 END / sqrt(var18::DOUBLE / 18.0)) * 10000) / 10000 z, " +
      "CASE WHEN floor((CASE WHEN s > 0 THEN (s - 1)::DOUBLE WHEN s < 0 THEN (s + 1)::DOUBLE " +
      "ELSE 0.0 END / sqrt(var18::DOUBLE / 18.0)) * 10000) / 10000 > 1.96 THEN 'increasing' " +
      "WHEN floor((CASE WHEN s > 0 THEN (s - 1)::DOUBLE WHEN s < 0 THEN (s + 1)::DOUBLE " +
      "ELSE 0.0 END / sqrt(var18::DOUBLE / 18.0)) * 10000) / 10000 < -1.96 THEN 'decreasing' " +
      "ELSE 'none' END trend FROM v"

  /** Theil–Sen slope estimator (Theil 1950, Sen 1968) — the robust
    * trend LINE for the series [[mannKendall]] gives the verdict on
    * (the classic pairing: MK tests, Theil–Sen sizes): the median of
    * all pairwise slopes (y_j − y_i)/(t_j − t_i), immune to the
    * outlier months that drag an OLS fit. Same month-collapsed
    * series, same ~N²/2 pair relation.
    *
    * Determinism: every slope is the SAME double in both engines
    * (one division of exact integers); the median is the lower-median
    * element under the total order (slope, i, j) — rank ⌈M/2⌉ — so
    * float ties break identically. The intercept is the lower median
    * of y_t − slope·t under (value, t), the full Theil–Sen line.
    *
    * Scale: the pair relation and both rank windows live on collapsed
    * month rows; the chosen slope rides back as a 1-row broadcast. */
  def theilSen(orders: DataFrame): DataFrame = {
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("month"))).cast("long"))
      .localCheckpoint(true)
    val slopes = monthly.as("a").join(monthly.as("b"), col("a.t") < col("b.t"))
      .select(col("a.t").as("i"), col("b.t").as("j"),
        ((col("b.y") - col("a.y")).cast("double") /
          (col("b.t") - col("a.t"))).as("slope"))
    val m = slopes.agg(count(lit(1)).as("m"))
    val med = slopes.crossJoin(broadcast(m))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("slope"), col("i"), col("j"))))
      .filter(col("rnk") === expr("(m + 1) div 2"))
      .select(col("slope"), col("m"))
      .localCheckpoint(true) // 1 row
    val nr = monthly.agg(count(lit(1)).as("nn"))
    val resid = monthly.crossJoin(broadcast(med)).crossJoin(broadcast(nr))
      .select(col("m"), col("nn"), col("slope"),
        (col("y").cast("double") - col("slope") * col("t")).as("r"), col("t"))
    resid
      .withColumn("rnk", row_number().over(Window.orderBy(col("r"), col("t"))))
      .filter(col("rnk") === expr("(nn + 1) div 2"))
      .select(col("nn"), col("m").as("n_pairs"),
        trunc4(col("slope") / 100.0).as("slope_usd_per_month"),
        trunc4(col("r") / 100.0).as("intercept_usd"))
  }

  /** The generated DuckDB mirror of [[theilSen]]. */
  private[graft] val theilSenOracle: String =
    "WITH monthly AS (SELECT date_trunc('month', o_orderdate) mm, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT y " +
      "FROM orders GROUP BY 1), " +
      "idx AS (SELECT row_number() OVER (ORDER BY mm)::BIGINT t, y FROM monthly), " +
      "sl AS (SELECT a.t i, b.t j, (b.y - a.y)::DOUBLE / (b.t - a.t) slope " +
      "FROM idx a JOIN idx b ON a.t < b.t), " +
      "mr AS (SELECT count(*)::BIGINT m FROM sl), " +
      "med AS (SELECT slope, m FROM (SELECT slope, m, " +
      "row_number() OVER (ORDER BY slope, i, j) rnk FROM sl, mr) " +
      "WHERE rnk = (m + 1) // 2), " +
      "nr AS (SELECT count(*)::BIGINT nn FROM idx), " +
      "resid AS (SELECT m, nn, slope, y::DOUBLE - slope * t r, t " +
      "FROM idx, med, nr) " +
      "SELECT nn, m n_pairs, floor(slope / 100.0 * 10000) / 10000 slope_usd_per_month, " +
      "floor(r / 100.0 * 10000) / 10000 intercept_usd " +
      "FROM (SELECT *, row_number() OVER (ORDER BY r, t) rnk FROM resid) " +
      "WHERE rnk = (nn + 1) // 2"

  /** SAX symbolic motifs (Lin et al. 2003) — the daily revenue series
    * as a SYMBOL STRING: z-normalize, PAA-average into `segDays`-day
    * segments, map each segment mean to a 4-letter alphabet at the
    * standard N(0,1) quartile breakpoints (±0.6745, 0), then count
    * 3-symbol words. The top words are the series' recurring weekly
    * shapes — the motif counterpart of [[weekDiscord]]'s anomaly.
    *
    * Determinism: series mean/std come from ONE float expression over
    * exact integer (n, Σy, Σy²); each PAA z-score is one shared
    * division chain; breakpoint CASEs compare identical doubles; word
    * ranks break ties by (count DESC, word).
    *
    * Scale: one (day) hash-agg, one (segment) hash-agg (~n/7 rows),
    * lead windows + word counts on that collapsed relation. */
  def saxMotifs(orders: DataFrame, segDays: Int = 7, topN: Int = 5): DataFrame = {
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("day"))).cast("long"))
      .localCheckpoint(true)
    val stats = daily.agg(count(lit(1)).as("n"), sum(col("y")).as("s"),
      sum(col("y").cast("decimal(38,0)") * col("y")).as("sq"))
    val seg = daily.withColumn("seg", expr(s"(t - 1) div $segDays"))
      .groupBy(col("seg"))
      .agg(sum(col("y")).as("ss"), count(lit(1)).as("sn"))
      .crossJoin(broadcast(stats))
      .withColumn("z", (col("ss").cast("double") / col("sn") -
        col("s").cast("double") / col("n")) /
        sqrt((col("sq").cast("double") -
          col("s").cast("double") * col("s") / col("n")) / (col("n") - 1)))
      .withColumn("sym", when(col("z") < -0.6745, "a").when(col("z") < 0, "b")
        .when(col("z") < 0.6745, "c").otherwise("d"))
    val bySeg = Window.orderBy(col("seg"))
    val words = seg
      .withColumn("w", concat(col("sym"), lead(col("sym"), 1).over(bySeg),
        lead(col("sym"), 2).over(bySeg)))
      .filter(col("w").isNotNull)
      .groupBy(col("w")).agg(count(lit(1)).as("n_occur"))
    val tot = words.agg(sum(col("n_occur")).as("n_words"))
    words.crossJoin(broadcast(tot))
      .orderBy(col("n_occur").desc, col("w")).limit(topN)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n_occur").desc, col("w"))).cast("long"))
      .select(col("rnk"), col("w").as("word"), col("n_occur"), col("n_words"),
        trunc4(col("n_occur") / col("n_words")).as("share"))
  }

  /** The generated DuckDB mirror of [[saxMotifs]]. */
  private[graft] val saxOracle: String =
    "WITH daily AS (SELECT date_trunc('day', o_orderdate) dy, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT y " +
      "FROM orders GROUP BY 1), " +
      "idx AS (SELECT row_number() OVER (ORDER BY dy)::BIGINT t, y FROM daily), " +
      "st AS (SELECT count(*)::BIGINT n, sum(y)::BIGINT s, sum(y::HUGEINT * y) sq FROM idx), " +
      "seg AS (SELECT (t - 1) // 7 seg, sum(y)::BIGINT ss, count(*)::BIGINT sn " +
      "FROM idx GROUP BY 1), " +
      "zz AS (SELECT seg, (ss::DOUBLE / sn - s::DOUBLE / n) / " +
      "sqrt((sq::DOUBLE - s::DOUBLE * s / n) / (n - 1)) z FROM seg, st), " +
      "sym AS (SELECT seg, CASE WHEN z < -0.6745 THEN 'a' WHEN z < 0 THEN 'b' " +
      "WHEN z < 0.6745 THEN 'c' ELSE 'd' END sym FROM zz), " +
      "wd AS (SELECT sym || lead(sym, 1) OVER (ORDER BY seg) " +
      "|| lead(sym, 2) OVER (ORDER BY seg) AS w FROM sym), " +
      "wc AS (SELECT w, count(*)::BIGINT n_occur FROM wd WHERE w IS NOT NULL GROUP BY 1), " +
      "tt AS (SELECT sum(n_occur)::BIGINT n_words FROM wc) " +
      "SELECT row_number() OVER (ORDER BY n_occur DESC, w)::BIGINT AS rnk, w AS word, " +
      "n_occur, n_words, floor(n_occur::DOUBLE / n_words * 10000) / 10000 AS share " +
      "FROM wc, tt ORDER BY n_occur DESC, w LIMIT 5"

  /** Holt's linear exponential smoothing (Holt 1957) over the monthly
    * revenue series, with α = β = ½ — level/trend state folded through
    * the months IN ORDER, plus the h-step-ahead forecasts l + h·b. The
    * recursion is inherently sequential, and that is fine AT SCALE:
    * the engine's distributed work is collapsing the facts to the
    * ~N-month series; the fold itself is one higher-order `aggregate`
    * over a single collected row (never a driver loop, never a global
    * window over facts).
    *
    * Float parity (the sinkhorn rule, applied through a real
    * recursion): both engines step the IDENTICAL textual update —
    * l' = 0.5·x + 0.5·(l+b), b' = 0.5·(l'−l) + 0.5·b with l' spelled
    * out, sse' = sse + (x−(l+b))² — Spark in one `aggregate` lambda,
    * DuckDB in a recursive CTE, so every intermediate double is
    * bit-identical (α = β = ½ are exact binary fractions). */
  def holtSmoothing(orders: DataFrame, h: Int = 3): DataFrame = {
    val monthly = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("y"))
      .withColumn("t", row_number().over(Window.orderBy(col("month"))).cast("long"))
    val st = monthly
      .agg(expr("transform(sort_array(collect_list(struct(t, cast(y as double) as yd))), " +
        "s -> s.yd)").as("ys"))
      .select(expr("size(ys)").as("nn"), expr(
        "aggregate(slice(ys, 2, size(ys) - 1), " +
          "named_struct('l', ys[0], 'b', cast(0.0 as double), 'sse', cast(0.0 as double)), " +
          "(acc, x) -> named_struct(" +
          "'l', 0.5D * x + 0.5D * (acc.l + acc.b), " +
          "'b', 0.5D * ((0.5D * x + 0.5D * (acc.l + acc.b)) - acc.l) + 0.5D * acc.b, " +
          "'sse', acc.sse + (x - (acc.l + acc.b)) * (x - (acc.l + acc.b))))").as("st"))
      .select(col("nn"), col("st.l").as("l"), col("st.b").as("b"),
        col("st.sse").as("sse"))
    st.select(col("nn"), explode(sequence(lit(1L), lit(h.toLong))).as("horizon"),
        col("l"), col("b"), col("sse"))
      .select(col("horizon"), col("nn"),
        trunc4((col("l") + col("horizon") * col("b")) / 100.0).as("forecast_usd"),
        trunc4(col("l") / 100.0).as("level_usd"),
        trunc4(col("b") / 100.0).as("trend_usd"),
        trunc4(sqrt(col("sse") / (col("nn") - 1)) / 100.0).as("rmse_usd"))
  }

  /** The generated DuckDB mirror of [[holtSmoothing]] — the identical
    * textual recursion as a recursive CTE. */
  private[graft] def holtOracle(h: Int = 3): String =
    "WITH RECURSIVE monthly AS (SELECT date_trunc('month', o_orderdate) mm, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT y " +
      "FROM orders GROUP BY 1), " +
      "idx AS (SELECT row_number() OVER (ORDER BY mm)::BIGINT t, y::DOUBLE y FROM monthly), " +
      "nr AS (SELECT count(*)::BIGINT nn FROM idx), " +
      "fold AS (SELECT 1::BIGINT t, y l, 0::DOUBLE b, 0::DOUBLE sse " +
      "FROM idx WHERE t = 1 " +
      "UNION ALL SELECT i.t, " +
      "0.5 * i.y + 0.5 * (f.l + f.b), " +
      "0.5 * ((0.5 * i.y + 0.5 * (f.l + f.b)) - f.l) + 0.5 * f.b, " +
      "f.sse + (i.y - (f.l + f.b)) * (i.y - (f.l + f.b)) " +
      "FROM fold f JOIN idx i ON i.t = f.t + 1), " +
      "fin AS (SELECT l, b, sse FROM fold, nr WHERE t = nn) " +
      s"SELECT horizon, nn, " +
      "floor((l + horizon * b) / 100.0 * 10000) / 10000 forecast_usd, " +
      "floor(l / 100.0 * 10000) / 10000 level_usd, " +
      "floor(b / 100.0 * 10000) / 10000 trend_usd, " +
      "floor(sqrt(sse / (nn - 1)) / 100.0 * 10000) / 10000 rmse_usd " +
      s"FROM fin, nr, (SELECT unnest(range(1, ${h + 1}))::BIGINT horizon)"

  /** Exact Pearson correlation matrix over lineitem's four numeric
    * measures (quantity, price, discount, tax) — the feature-screen
    * pass every training pipeline runs before fitting anything, and
    * the matrix a CBO consults for correlated-column selectivity. Each
    * r = (nΣxy − ΣxΣy)/√((nΣx² − (Σx)²)(nΣy² − (Σy)²)) derives from
    * ONE scan's exact integer moments: measures enter as scaled
    * BIGINTs (qty ×1, price cents, discount/tax ×100), every cross
    * moment Σxy and the n-scaled products widen through DECIMAL(38,0)
    * (n·Σxy alone passes 2^63 at ~10⁷ rows), and both engines evaluate
    * the identical float expression over identical integers once per
    * pair.
    *
    * Scale: one map-side-combined aggregate over the facts produces
    * all 14 moments; the 6-row matrix assembles from that single row —
    * no joins, no windows, no second scan. */
  def corrMatrix(li: DataFrame): DataFrame = {
    val cols = Seq(
      "qty" -> floor(col("l_quantity") + 0.5).cast("long"),
      "price_cents" -> floor(col("l_extendedprice") * 100 + 0.5).cast("long"),
      "discount_pct" -> floor(col("l_discount") * 100 + 0.5).cast("long"),
      "tax_pct" -> floor(col("l_tax") * 100 + 0.5).cast("long"))
    val base = li.select(cols.map { case (n, c) => c.as(n) }: _*)
    val pairs = cols.map(_._1).combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val moments = base.agg(count(lit(1)).as("n"),
      cols.flatMap { case (n, _) => Seq(
        sum(col(n)).as(s"s_$n"),
        sum(col(n).cast("decimal(38,0)") * col(n)).as(s"q_$n")) } ++
      pairs.map { case (a, b) =>
        sum(col(a).cast("decimal(38,0)") * col(b)).as(s"x_${a}_$b") }: _*)
    val rows = pairs.map { case (a, b) =>
      struct(lit(a).as("x_col"), lit(b).as("y_col"),
        trunc4(
          (col("n").cast("decimal(38,0)") * col(s"x_${a}_$b") -
            col(s"s_$a").cast("decimal(38,0)") * col(s"s_$b")).cast("double") /
          sqrt((col("n").cast("decimal(38,0)") * col(s"q_$a") -
              col(s"s_$a").cast("decimal(38,0)") * col(s"s_$a")).cast("double") *
            (col("n").cast("decimal(38,0)") * col(s"q_$b") -
              col(s"s_$b").cast("decimal(38,0)") * col(s"s_$b")).cast("double")))
          .as("r"))
    }
    moments.select(explode(array(rows: _*)).as("p"), col("n"))
      .select(col("p.x_col").as("x_col"), col("p.y_col").as("y_col"),
        col("n"), col("p.r").as("r"))
  }

  /** The generated DuckDB mirror of [[corrMatrix]]. */
  private[graft] val corrMatrixOracle: String = {
    val defs = Seq("qty" -> "CAST(floor(l_quantity + 0.5) AS BIGINT)",
      "price_cents" -> "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)",
      "discount_pct" -> "CAST(floor(l_discount * 100 + 0.5) AS BIGINT)",
      "tax_pct" -> "CAST(floor(l_tax * 100 + 0.5) AS BIGINT)")
    val pairs = defs.map(_._1).combinations(2).map { case Seq(a, b) => (a, b) }.toSeq
    val m = defs.flatMap { case (n, _) =>
      Seq(s"sum($n)::BIGINT s_$n", s"sum($n::HUGEINT * $n) q_$n") } ++
      pairs.map { case (a, b) => s"sum($a::HUGEINT * $b) x_${a}_$b" }
    val sel = pairs.map { case (a, b) =>
      s"SELECT '$a' x_col, '$b' y_col, n, floor(" +
        s"(n::HUGEINT * x_${a}_$b - s_$a::HUGEINT * s_$b)::DOUBLE / " +
        s"sqrt((n::HUGEINT * q_$a - s_$a::HUGEINT * s_$a)::DOUBLE * " +
        s"(n::HUGEINT * q_$b - s_$b::HUGEINT * s_$b)::DOUBLE) * 10000) / 10000 r FROM m"
    }.mkString(" UNION ALL ")
    s"WITH b AS (SELECT ${defs.map { case (n, d) => s"$d $n" }.mkString(", ")} " +
      "FROM lineitem), " +
      s"m AS (SELECT count(*)::BIGINT n, ${m.mkString(", ")} FROM b) $sel"
  }

  /** Quantile normalization of per-type value distributions onto the
    * global distribution (the rank-map standard from expression-array
    * preprocessing, Bolstad et al. 2003 — here: make each event type's
    * spend comparable by replacing every value with the global value
    * at the same quantile). Ranks run over the COLLAPSED (type, cents)
    * cell relation with half-unit midranks (the [[mannWhitney]]
    * discipline); the target is the global order statistic at index
    * ⌈r_t · N_g / N_t⌉ — exact integer arithmetic end to end
    * (2·r index math stays in BIGINTs; ⌈a/b⌉ = (a + b − 1) div b).
    * Report: per type, n, mean before, mean after, and the max
    * |before − after| quantile gap in cents — the audit columns a
    * feature pipeline alerts on.
    *
    * Scale: two hash-aggs (type-cells, global-cells), rank windows
    * over those collapsed relations, one range-free equi-join from
    * type cell to global order statistic by index. */
  def quantileNorm(ev: DataFrame): DataFrame = {
    val vals = ev.select(col("event_type"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val tcells = vals.groupBy(col("event_type"), col("cents"))
      .agg(count(lit(1)).as("t"))
    val byT = Window.partitionBy(col("event_type")).orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val tot = Window.partitionBy(col("event_type"))
    val tranked = tcells
      .withColumn("before_n", coalesce(sum(col("t")).over(byT), lit(0L)))
      .withColumn("nt", sum(col("t")).over(tot))
      // half-unit midrank 2r = 2·before + t + 1
      .withColumn("r2", col("before_n") * 2 + col("t") + 1)
    val gcells = vals.groupBy(col("cents")).agg(count(lit(1)).as("g"))
    val byG = Window.orderBy(col("cents"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val gidx = gcells
      .withColumn("hi", sum(col("g")).over(byG))
      .withColumn("lo", col("hi") - col("g") + 1)
      .select(col("cents").as("g_cents"), col("lo"), col("hi"))
      .localCheckpoint(true) // collapsed distinct-cents relation
    val ng = gidx.agg(max(col("hi")).as("ng"))
    // target global index = ceil((r2/2) * ng / nt) in pure integers.
    // Resolving index → order statistic is an AS-OF lookup (largest
    // lo ≤ gi), done as union + carry-forward window over the merged
    // collapsed relations — a sort of C_t + C_g rows, NOT the
    // C_t × C_g nested-loop a range join plans (measured 5.1 s → 1.4 s
    // at sf0.1 on exactly this query; at a wide cents domain the BNLJ
    // is quadratic in distinct values)
    val probes = tranked.crossJoin(broadcast(ng))
      // r2·ng is midrank × global count (≫ 2^63 at 1e9-row types):
      // exact DECIMAL product, integral div back to a BIGINT index
      .withColumn("gi",
        expr("(cast(r2 as decimal(38,0)) * ng + 2 * nt - 1) div (2 * nt)"))
      .select(col("event_type"), col("cents"), col("t"), col("nt"),
        col("gi").as("k"), lit(1).as("isp"), lit(null).cast("long").as("gc"))
    val cellRows = gidx.select(lit(null).cast("string").as("event_type"),
      lit(null).cast("long").as("cents"), lit(null).cast("long").as("t"),
      lit(null).cast("long").as("nt"),
      col("lo").as("k"), lit(0).as("isp"), col("g_cents").as("gc"))
    val byIdx = Window.orderBy(col("k"), col("isp"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val mapped = probes.unionByName(cellRows)
      .withColumn("g_cents", last(col("gc"), ignoreNulls = true).over(byIdx))
      .filter(col("isp") === 1)
    mapped.groupBy(col("event_type"))
      // cents·t is cent-value × per-value count and the sums reach
      // corpus cents (~10²⁰) — DECIMAL(38,0) accumulators (round-10
      // overflow audit), one double division each for the means
      .agg(max(col("nt")).as("n"),
        sum(col("cents").cast("decimal(38,0)") * col("t")).as("sb"),
        sum(col("g_cents").cast("decimal(38,0)") * col("t")).as("sa"),
        max(abs(col("cents") - col("g_cents"))).as("max_shift_cents"))
      .select(col("event_type"), col("n"),
        trunc4(col("sb").cast("double") / col("n") / 100.0).as("mean_before_usd"),
        trunc4(col("sa").cast("double") / col("n") / 100.0).as("mean_after_usd"),
        col("max_shift_cents"))
  }

  /** The generated DuckDB mirror of [[quantileNorm]]. */
  private[graft] val quantileNormOracle: String =
    "WITH v AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) cents " +
      "FROM events), " +
      "tc AS (SELECT event_type, cents, count(*)::BIGINT t FROM v GROUP BY 1, 2), " +
      "tr AS (SELECT *, coalesce(sum(t) OVER (PARTITION BY event_type ORDER BY cents " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT bfr, " +
      "sum(t) OVER (PARTITION BY event_type)::BIGINT nt FROM tc), " +
      "t2 AS (SELECT *, bfr * 2 + t + 1 r2 FROM tr), " +
      "gc AS (SELECT cents, count(*)::BIGINT g FROM v GROUP BY 1), " +
      "gi AS (SELECT cents g_cents, sum(g) OVER (ORDER BY cents " +
      "ROWS UNBOUNDED PRECEDING)::BIGINT hi, " +
      "sum(g) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING)::BIGINT - g + 1 lo FROM gc), " +
      "ngr AS (SELECT max(hi) ng FROM gi), " +
      "tt AS (SELECT t2.*, ng FROM t2, ngr), " +
      "mp AS (SELECT tt.*, g_cents FROM tt JOIN gi " +
      "ON (r2 * ng + 2 * nt - 1) // (2 * nt) BETWEEN lo AND hi) " +
      "SELECT event_type, max(nt) AS n, " +
      "floor(sum(cents * t) / max(nt) / 100.0 * 10000) / 10000 AS mean_before_usd, " +
      "floor(sum(g_cents * t) / max(nt) / 100.0 * 10000) / 10000 AS mean_after_usd, " +
      "max(abs(cents - g_cents)) AS max_shift_cents " +
      "FROM mp GROUP BY 1"

  /** Gumbel fit of monthly revenue MAXIMA by method of moments — the
    * extreme-value-theory leg of the tail family ([[varEs]] reads the
    * empirical tail, `q_tail_index` its power-law slope; block maxima
    * answer "what does the worst ORDER of a month look like, and how
    * bad is the 10-year one"): per-month max order cents (exact
    * BIGINTs), Gumbel MoM β = s·√6/π and μ = x̄ − γ·β over the ~80
    * maxima's exact integer moments, and the T-month return level
    * μ − β·ln(−ln(1 − 1/T)).
    *
    * Exactness: the maxima and their (n, Σ, Σ²) are exact integers;
    * both engines evaluate one identical float chain (s² uses the
    * n−1 divisor spelled the same way). Scale: one (month) hash-agg
    * over the facts, one 1-row moment agg — nothing else. */
  def gumbelMaxima(orders: DataFrame, retMonths: Int = 120): DataFrame = {
    val gamma = 0.57721566490153286
    val maxima = orders
      .groupBy(date_trunc("month", col("o_orderdate")).as("month"))
      .agg(max(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("mx"))
    maxima.agg(count(lit(1)).as("n_months"), sum(col("mx")).as("s"),
        sum(col("mx").cast("decimal(38,0)") * col("mx")).as("sq"))
      .withColumn("beta_c", sqrt(lit(6.0) *
        ((col("sq").cast("double") - col("s").cast("double") * col("s") / col("n_months")) /
          (col("n_months") - 1))) / lit(math.Pi))
      .withColumn("mu_c",
        col("s").cast("double") / col("n_months") - lit(gamma) * col("beta_c"))
      .select(col("n_months"),
        trunc4(col("mu_c") / 100.0).as("mu_usd"),
        trunc4(col("beta_c") / 100.0).as("beta_usd"),
        trunc4((col("mu_c") - col("beta_c") *
          log(-log(lit(1.0) - lit(1.0) / retMonths))) / 100.0)
          .as(s"return_level_usd"))
  }

  /** The generated DuckDB mirror of [[gumbelMaxima]]. */
  private[graft] def gumbelOracle(retMonths: Int = 120): String =
    "WITH mx AS (SELECT date_trunc('month', o_orderdate) mm, " +
      "max(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT mx " +
      "FROM orders GROUP BY 1), " +
      "m AS (SELECT count(*)::BIGINT n_months, sum(mx)::BIGINT s, " +
      "sum(mx::HUGEINT * mx) sq FROM mx), " +
      "f AS (SELECT n_months, sqrt(6.0 * ((sq::DOUBLE - s::DOUBLE * s / n_months) / " +
      "(n_months - 1))) / pi() beta_c, " +
      "s::DOUBLE / n_months - 0.57721566490153286 * (sqrt(6.0 * ((sq::DOUBLE - " +
      "s::DOUBLE * s / n_months) / (n_months - 1))) / pi()) mu_c FROM m) " +
      "SELECT n_months, floor(mu_c / 100.0 * 10000) / 10000 AS mu_usd, " +
      "floor(beta_c / 100.0 * 10000) / 10000 AS beta_usd, " +
      s"floor((mu_c - beta_c * ln(-ln(1.0 - 1.0 / $retMonths))) / 100.0 * 10000) / 10000 " +
      "AS return_level_usd FROM f"

  /** Wald–Wolfowitz runs test on the daily revenue series vs its own
    * median — the randomness audit that catches regime persistence a
    * mean test can't (20 above-median days in a row is wildly
    * non-random even if the mean is fine); the verdict companion to
    * [[mannKendall]]'s monotone-trend test. Above = strictly greater
    * than the lower-median cents (exact order statistic); runs count
    * from lag transitions.
    *
    * Exactness: median by integer rank (⌈N/2⌉), n1/n0/R exact BIGINTs,
    * z = (R − (2n1n0/N + 1)) / √(2n1n0(2n1n0 − N)/(N²(N−1))) as one
    * shared float chain (2n1n0 widened — it passes 2^63 at ~3·10⁹
    * days of history, cheap insurance). Scale: one (day) hash-agg; the
    * rank and lag windows run over the collapsed ~N-day relation. */
  def runsTest(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("y"))
      .localCheckpoint(true)
    val n = daily.agg(count(lit(1)).as("nn"))
    val med = daily.crossJoin(broadcast(n))
      .withColumn("rnk", row_number().over(Window.orderBy(col("y"), col("day"))))
      .filter(col("rnk") === expr("(nn + 1) div 2"))
      .select(col("y").as("med"))
    val flagged = daily.crossJoin(broadcast(med))
      .withColumn("b", (col("y") > col("med")).cast("long"))
      .withColumn("prev", lag(col("b"), 1).over(Window.orderBy(col("day"))))
    flagged.agg(
        (sum(when(col("prev").isNull || col("b") =!= col("prev"), 1L)
          .otherwise(0L))).as("runs"),
        sum(col("b")).as("n1"),
        sum(lit(1L) - col("b")).as("n0"))
      .withColumn("nn", col("n1") + col("n0"))
      .withColumn("p2", (col("n1").cast("decimal(38,0)") * col("n0") * 2)
        .cast("double"))
      .select(col("nn"), col("n1"), col("n0"), col("runs"),
        trunc4((col("runs").cast("double") - (col("p2") / col("nn") + 1)) /
          sqrt(col("p2") * (col("p2") - col("nn")) /
            (col("nn").cast("double") * col("nn") * (col("nn") - 1)))).as("z"))
      .withColumn("random_walk_rejected", abs(col("z")) > 1.96)
  }

  /** The generated DuckDB mirror of [[runsTest]]. */
  private[graft] val runsTestOracle: String =
    "WITH daily AS (SELECT date_trunc('day', o_orderdate) dy, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT y " +
      "FROM orders GROUP BY 1), " +
      "nr AS (SELECT count(*)::BIGINT nn FROM daily), " +
      "med AS (SELECT y med FROM (SELECT y, row_number() OVER (ORDER BY y, dy) rnk " +
      "FROM daily), nr WHERE rnk = (nn + 1) // 2), " +
      "fl AS (SELECT CASE WHEN y > med THEN 1 ELSE 0 END::BIGINT b, " +
      "lag(CASE WHEN y > med THEN 1 ELSE 0 END::BIGINT, 1) " +
      "OVER (ORDER BY dy) prev FROM daily, med), " +
      "ag AS (SELECT sum(CASE WHEN prev IS NULL OR b <> prev THEN 1 ELSE 0 END)::BIGINT runs, " +
      "sum(b)::BIGINT n1, sum(1 - b)::BIGINT n0 FROM fl), " +
      "st AS (SELECT n1 + n0 nn, n1, n0, runs, " +
      "(n1::HUGEINT * n0 * 2)::DOUBLE p2 FROM ag) " +
      "SELECT nn, n1, n0, runs, " +
      "floor((runs::DOUBLE - (p2 / nn + 1)) / " +
      "sqrt(p2 * (p2 - nn) / (nn::DOUBLE * nn * (nn - 1))) * 10000) / 10000 AS z, " +
      "abs(floor((runs::DOUBLE - (p2 / nn + 1)) / " +
      "sqrt(p2 * (p2 - nn) / (nn::DOUBLE * nn * (nn - 1))) * 10000) / 10000) > 1.96 " +
      "AS random_walk_rejected FROM st"

  /** Spearman ρ and Kendall τ-b between daily revenue and daily order
    * count — the rank-correlation pair for "do busy days pay?", robust
    * where [[corrMatrix]]'s Pearson is whale-dominated. Both series
    * come from ONE (day) hash-agg; N = |days| is FIXED by the date
    * window, so the τ pair relation (~N²/2) does not grow with data
    * volume — the same argument as [[mannKendall]]'s month collapse,
    * one unit finer.
    *
    * Exactness: midranks in half-units (2r integers, the
    * [[mannWhitney]] discipline) make Spearman's Pearson-on-ranks
    * moments exact BIGINT/DECIMAL(38,0); Kendall's concordance sum
    * S = Σ sign(Δr)·sign(Δc) and the tie terms are exact; each
    * coefficient is one shared float division. */
  def rankCorr(orders: DataFrame): DataFrame = {
    val daily = orders
      .groupBy(date_trunc("day", col("o_orderdate")).as("day"))
      .agg(sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("r"),
        count(lit(1)).as("c"))
      .localCheckpoint(true)
    def r2Of(v: String) = {
      val cells = daily.groupBy(col(v)).agg(count(lit(1)).as("t"))
      val below = Window.orderBy(col(v)).rowsBetween(Window.unboundedPreceding, -1)
      cells.withColumn("bfr", coalesce(sum(col("t")).over(below), lit(0L)))
        .select(col(v), (col("bfr") * 2 + col("t") + 1).as(s"r2_$v"),
          col("t").as(s"t_$v"))
    }
    val ranked = daily.join(r2Of("r"), "r").join(r2Of("c"), "c")
    val mom = ranked.agg(count(lit(1)).as("nn"),
      sum(col("r2_r")).as("sa"), sum(col("r2_c")).as("sb"),
      sum(col("r2_r").cast("decimal(38,0)") * col("r2_r")).as("qa"),
      sum(col("r2_c").cast("decimal(38,0)") * col("r2_c")).as("qb"),
      sum(col("r2_r").cast("decimal(38,0)") * col("r2_c")).as("xab"))
    val spearman = mom.select(col("nn"),
      trunc4((col("nn").cast("decimal(38,0)") * col("xab") -
          col("sa").cast("decimal(38,0)") * col("sb")).cast("double") /
        sqrt((col("nn").cast("decimal(38,0)") * col("qa") -
            col("sa").cast("decimal(38,0)") * col("sa")).cast("double") *
          (col("nn").cast("decimal(38,0)") * col("qb") -
            col("sb").cast("decimal(38,0)") * col("sb")).cast("double")))
        .as("rho"))
    val s = daily.as("a").join(daily.as("b"), col("a.day") < col("b.day"))
      .agg(sum(signum(col("b.r") - col("a.r")) *
        signum(col("b.c") - col("a.c"))).cast("long").as("s"))
    // tie-pair terms t·(t−1) and n·(n−1) are count × count — DECIMAL
    // uniformly (calendar-bounded here, corpus-scale on a per-key
    // series; round-10 overflow audit widens the class)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val tr = daily.groupBy(col("r")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(dec(col("t")) * (col("t") - 1)),
        lit(0L).cast("decimal(38,0)")).as("tr2"))
    val tc = daily.groupBy(col("c")).agg(count(lit(1)).as("t"))
      .agg(coalesce(sum(dec(col("t")) * (col("t") - 1)),
        lit(0L).cast("decimal(38,0)")).as("tc2"))
    s.crossJoin(broadcast(spearman)).crossJoin(broadcast(tr))
      .crossJoin(broadcast(tc))
      .withColumn("p2", dec(col("nn")) * (col("nn") - 1))
      .select(col("nn"), col("rho"), col("s"),
        trunc4(col("s").cast("double") * 2 /
          sqrt((col("p2") - col("tr2")).cast("double") *
            (col("p2") - col("tc2")).cast("double"))).as("tau_b"))
  }

  /** The generated DuckDB mirror of [[rankCorr]]. */
  private[graft] val rankCorrOracle: String =
    "WITH daily AS (SELECT date_trunc('day', o_orderdate) dy, " +
      "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT r, " +
      "count(*)::BIGINT c FROM orders GROUP BY 1), " +
      "rr AS (SELECT r, bfr * 2 + t + 1 r2_r FROM (SELECT r, count(*)::BIGINT t, " +
      "coalesce(sum(count(*)) OVER (ORDER BY r ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND 1 PRECEDING), 0)::BIGINT bfr FROM daily GROUP BY r)), " +
      "rc AS (SELECT c, bfr * 2 + t + 1 r2_c FROM (SELECT c, count(*)::BIGINT t, " +
      "coalesce(sum(count(*)) OVER (ORDER BY c ROWS BETWEEN UNBOUNDED PRECEDING " +
      "AND 1 PRECEDING), 0)::BIGINT bfr FROM daily GROUP BY c)), " +
      "rk AS (SELECT daily.*, r2_r, r2_c FROM daily JOIN rr USING (r) JOIN rc USING (c)), " +
      "mom AS (SELECT count(*)::BIGINT nn, sum(r2_r)::BIGINT sa, sum(r2_c)::BIGINT sb, " +
      "sum(r2_r::HUGEINT * r2_r) qa, sum(r2_c::HUGEINT * r2_c) qb, " +
      "sum(r2_r::HUGEINT * r2_c) xab FROM rk), " +
      "sp AS (SELECT nn, floor((nn::HUGEINT * xab - sa::HUGEINT * sb)::DOUBLE / " +
      "sqrt((nn::HUGEINT * qa - sa::HUGEINT * sa)::DOUBLE * " +
      "(nn::HUGEINT * qb - sb::HUGEINT * sb)::DOUBLE) * 10000) / 10000 rho FROM mom), " +
      "sv AS (SELECT sum(sign(b.r - a.r) * sign(b.c - a.c))::BIGINT s " +
      "FROM daily a JOIN daily b ON a.dy < b.dy), " +
      "tr AS (SELECT coalesce(sum(t * (t - 1)), 0)::BIGINT tr2 " +
      "FROM (SELECT count(*)::BIGINT t FROM daily GROUP BY r)), " +
      "tc AS (SELECT coalesce(sum(t * (t - 1)), 0)::BIGINT tc2 " +
      "FROM (SELECT count(*)::BIGINT t FROM daily GROUP BY c)) " +
      "SELECT nn, rho, s, floor(s::DOUBLE * 2 / " +
      "sqrt((nn * (nn - 1) - tr2)::DOUBLE * (nn * (nn - 1) - tc2)::DOUBLE) " +
      "* 10000) / 10000 AS tau_b FROM sv, sp, tr, tc"

  /** Neyman optimal sample allocation (Neyman 1934) — the survey-
    * design answer to "how do I spend an eval budget of `budget` rows
    * across strata": n_h ∝ N_h·S_h (big AND volatile strata deserve
    * more samples), reported beside the proportional allocation a
    * naive splitter would use. This is the planning step in front of
    * `q_stratified_sample`'s executor.
    *
    * Exactness: per-stratum (N, ΣX, ΣX²) are exact integers; the one
    * float each stratum contributes is N_h·S_h, immediately floored to
    * the 1e-6-scaled BIGINT w6 — from there the largest-remainder
    * apportionment is PURE integer arithmetic (base = budget·w6 div W,
    * remainder rank by (budget·w6 mod W) desc, +1 to the top
    * `budget − Σbase`), so no float ever crosses an aggregation
    * boundary (the Σw6 total is an exact integer sum — the reason for
    * flooring BEFORE summing).
    *
    * Scale: one fact scan → per-stratum hash-agg; every window runs
    * over the ≤|strata| collapsed relation. */
  def neymanAlloc(ev: DataFrame, budget: Long = 1000L): DataFrame = {
    val strata = ev
      .select(col("event_type"), floor(col("value") * 100 + 0.5).cast("long").as("c"))
      .groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), sum(col("c")).as("s"),
        sum(col("c").cast("decimal(38,0)") * col("c")).as("sq"))
      .withColumn("sd", sqrt((col("sq").cast("double") -
        col("s").cast("double") * col("s") / col("n")) / (col("n") - 1)))
      .withColumn("w6", floor(col("n") * col("sd") * 1e6).cast("long"))
    val tot = strata.agg(sum(col("w6")).as("ww"), sum(col("n")).as("nt"))
    def apportion(df: DataFrame, wcol: String, wtot: String, out: String) = {
      val base = df
        .withColumn("base", expr(s"($budget * $wcol) div $wtot"))
        .withColumn("rem", expr(s"($budget * $wcol) % $wtot"))
      base
        .withColumn("deficit", lit(budget) - sum(col("base")).over(
          Window.rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)))
        .withColumn("rr", row_number().over(
          Window.orderBy(col("rem").desc, col("event_type"))))
        .withColumn(out,
          col("base") + when(col("rr") <= col("deficit"), 1L).otherwise(0L))
    }
    val withTot = strata.crossJoin(broadcast(tot))
      .withColumn("w6d", col("w6").cast("decimal(38,0)"))
    val ney = apportion(withTot, "w6d", "ww", "alloc_neyman")
    apportion(ney.select(col("event_type"), col("n"), col("sd"), col("nt"),
        col("alloc_neyman")), "n", "nt", "alloc_prop")
      .select(col("event_type"), col("n"),
        trunc4(col("sd") / 100.0).as("sd_usd"),
        col("alloc_neyman"), col("alloc_prop"))
  }

  /** The generated DuckDB mirror of [[neymanAlloc]]. */
  private[graft] def neymanOracle(budget: Long = 1000L): String =
    "WITH st AS (SELECT event_type, count(*)::BIGINT n, " +
      "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT s, " +
      "sum(CAST(floor(value * 100 + 0.5) AS BIGINT)::HUGEINT * " +
      "CAST(floor(value * 100 + 0.5) AS BIGINT)) sq " +
      "FROM events GROUP BY 1), " +
      "sd AS (SELECT *, sqrt((sq::DOUBLE - s::DOUBLE * s / n) / (n - 1)) sd FROM st), " +
      "w AS (SELECT *, CAST(floor(n * sd * 1e6) AS BIGINT) w6 FROM sd), " +
      "tt AS (SELECT sum(w6)::HUGEINT ww, sum(n)::BIGINT nt FROM w), " +
      s"b1 AS (SELECT w.*, ww, nt, ($budget * w6::HUGEINT) // ww base1, " +
      s"($budget * w6::HUGEINT) % ww rem1 FROM w, tt), " +
      "d1 AS (SELECT *, " + s"$budget - sum(base1) OVER () deficit1, " +
      "row_number() OVER (ORDER BY rem1 DESC, event_type) rr1 FROM b1), " +
      "a1 AS (SELECT *, (base1 + CASE WHEN rr1 <= deficit1 THEN 1 ELSE 0 END)::BIGINT " +
      "alloc_neyman FROM d1), " +
      s"b2 AS (SELECT a1.*, ($budget * n::HUGEINT) // nt base2, " +
      s"($budget * n::HUGEINT) % nt rem2 FROM a1), " +
      "d2 AS (SELECT *, " + s"$budget - sum(base2) OVER () deficit2, " +
      "row_number() OVER (ORDER BY rem2 DESC, event_type) rr2 FROM b2) " +
      "SELECT event_type, n, floor(sd / 100.0 * 10000) / 10000 AS sd_usd, " +
      "alloc_neyman, " +
      "(base2 + CASE WHEN rr2 <= deficit2 THEN 1 ELSE 0 END)::BIGINT AS alloc_prop " +
      "FROM d2"

  /** Chapman capture–recapture estimate (Chapman 1951) of the distinct
    * user population from TWO INDEPENDENT hash samples — the census
    * trick for "how many users does this log really have" when a full
    * COUNT(DISTINCT) is what you're trying to avoid (and the exact-vs-
    * estimate audit row when, as here at test scale, you can still
    * afford the truth): capture sample A (hash-salt `cr_a`, 10%),
    * recapture sample B (salt `cr_b`, 10%), overlap m, and
    * N̂ = (n₁+1)(n₂+1)/(m+1) − 1 — the bias-corrected form, finite
    * even at m = 0. The hash samples make the "captures" reproducible
    * and independent by salt; the same machinery estimates join sizes
    * from sampled sides.
    *
    * Exactness: n₁/n₂/m/D are exact; the estimate is floored integer
    * division of exact BIGINTs; rel_err divides the integers once.
    *
    * Scale: one distinct-user hash-agg (the thing being estimated
    * ALSO needs it here only for the audit column), one 1-row agg of
    * flag sums — no joins, no windows. */
  def captureRecapture(ev: DataFrame, pct: Long = 10L): DataFrame = {
    val users = ev.select(col("user_id")).distinct()
      .withColumn("in_a", (pmod(graft.functions.TextHash.hash60(
        concat(lit("cr_a|"), col("user_id"))), lit(pct)) === 0).cast("long"))
      .withColumn("in_b", (pmod(graft.functions.TextHash.hash60(
        concat(lit("cr_b|"), col("user_id"))), lit(pct)) === 0).cast("long"))
    users.agg(count(lit(1)).as("true_users"),
        sum(col("in_a")).as("n1"), sum(col("in_b")).as("n2"),
        sum(col("in_a") * col("in_b")).as("m"))
      // (n1+1)·(n2+1) is sample-count × sample-count (≫ 2^63 at 1e9+
      // users): exact DECIMAL product, integral div back to BIGINT
      .withColumn("chapman_est",
        expr("(cast(n1 + 1 as decimal(38,0)) * (n2 + 1)) div (m + 1) - 1"))
      .select(col("true_users"), col("n1"), col("n2"), col("m"),
        col("chapman_est"),
        trunc4(abs(col("chapman_est") - col("true_users")).cast("double") /
          col("true_users")).as("rel_err"))
  }

  /** The generated DuckDB mirror of [[captureRecapture]]. */
  private[graft] val captureRecaptureOracle: String =
    "WITH u AS (SELECT DISTINCT user_id FROM events), " +
      "f AS (SELECT user_id, " +
      "CASE WHEN ('0x'||substr(md5('cr_a|'||user_id),1,15))::BIGINT % 10 = 0 " +
      "THEN 1 ELSE 0 END::BIGINT in_a, " +
      "CASE WHEN ('0x'||substr(md5('cr_b|'||user_id),1,15))::BIGINT % 10 = 0 " +
      "THEN 1 ELSE 0 END::BIGINT in_b FROM u), " +
      "g AS (SELECT count(*)::BIGINT true_users, sum(in_a)::BIGINT n1, " +
      "sum(in_b)::BIGINT n2, sum(in_a * in_b)::BIGINT m FROM f), " +
      "e AS (SELECT *, ((n1 + 1) * (n2 + 1)) // (m + 1) - 1 chapman_est FROM g) " +
      "SELECT true_users, n1, n2, m, chapman_est, " +
      "floor(abs(chapman_est - true_users)::DOUBLE / true_users * 10000) / 10000 " +
      "AS rel_err FROM e"

  // ---- driver wiring ----

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_capture_recapture" -> ((s, d) => captureRecapture(Tables.events(s, d))),
    "q_neyman_alloc" -> ((s, d) => neymanAlloc(Tables.events(s, d))),
    "q_gumbel_maxima" -> ((s, d) => gumbelMaxima(Tables.orders(s, d))),
    "q_runs_test" -> ((s, d) => runsTest(Tables.orders(s, d))),
    "q_rank_corr" -> ((s, d) => rankCorr(Tables.orders(s, d))),
    "q_corr_matrix" -> ((s, d) => corrMatrix(Tables.lineitem(s, d))),
    "q_quantile_norm" -> ((s, d) => quantileNorm(Tables.events(s, d))),
    "q_sax_motifs" -> ((s, d) => saxMotifs(Tables.orders(s, d))),
    "q_holt" -> ((s, d) => holtSmoothing(Tables.orders(s, d))),
    "q_mann_kendall" -> ((s, d) => mannKendall(Tables.orders(s, d))),
    "q_theil_sen" -> ((s, d) => theilSen(Tables.orders(s, d))),
    "q_mannwhitney" -> ((s, d) => mannWhitney(Tables.events(s, d))),
    "q_haar" -> ((s, d) => haarPyramid(Tables.orders(s, d))),
    "q_eb_shrinkage" -> ((s, d) => ebShrinkage(Tables.events(s, d))),
    "q_vopt_histogram" -> ((s, d) => voptHistogram(Tables.orders(s, d))),
    "q_dp_quantile" -> ((s, d) => dpQuantile(Tables.events(s, d))),
    "q_changepoint" -> ((s, d) => changepoint(Tables.orders(s, d))),
    "q_qini" -> ((s, d) => qiniCurve(Tables.events(s, d))),
    "q_sinkhorn" -> ((s, d) => sinkhornDrift(Tables.events(s, d))),
    "q_isotonic" -> ((s, d) => isotonicCalibration(Tables.orders(s, d))),
    "q_tail_index" -> ((s, d) => tailIndex(Tables.events(s, d))),
    "q_shapley_attrib" -> ((s, d) => shapleyAttribution(Tables.events(s, d))),
    "q_markov_attrib" -> ((s, d) => markovAttribution(Tables.events(s, d))),
    "q_table_fingerprint" -> ((s, d) => tableFingerprint(s, d)),
    "q_ri_audit" -> ((s, d) => riAudit(s, d)),
    "q_did" -> ((s, d) => didEstimate(Tables.events(s, d))),
    "q_ab_power" -> ((s, d) => abPower(Tables.events(s, d))),
    "q_disorder_audit" -> ((s, d) => disorderAudit(Tables.events(s, d))),
    "q_watermark_sizing" -> ((s, d) => watermarkSizing(Tables.events(s, d))),
    "q_alert_triage" -> ((s, d) => alertTriage(Tables.events(s, d))),
    "q_k_anon" -> ((s, d) => kAnonymity(Tables.events(s, d))),
    "q_l_diversity" -> ((s, d) => lDiversity(Tables.events(s, d))),
    "q_t_closeness" -> ((s, d) => tCloseness(Tables.events(s, d))),
    "q_w1_drift" -> ((s, d) => w1Drift(Tables.events(s, d))),
    "q_fdr_bh" -> ((s, d) => fdrBh(Tables.events(s, d))),
    "q_hbos" -> ((s, d) => hbos(Tables.events(s, d))),
    "q_mahalanobis" -> ((s, d) => mahalanobis(Tables.events(s, d))),
    "q_spc_rules" -> ((s, d) => spcRules(Tables.events(s, d))),
    "q_k_generalize" -> ((s, d) => kAnonGeneralize(Tables.events(s, d))),
    "q_mutual_info" -> ((s, d) => mutualInfo(Tables.events(s, d))),
    "q_volatility" -> ((s, d) => volatility(Tables.events(s, d))),
    "q_drawdown" -> ((s, d) => drawdown(Tables.events(s, d))),
    "q_woe_encode" -> ((s, d) => woeEncode(Tables.events(s, d))),
    "q_score_auc" -> ((s, d) => scoreAuc(Tables.events(s, d))),
    "q_pr_curve" -> ((s, d) => prCurve(Tables.events(s, d))),
    "q_user_entropy" -> ((s, d) => userEntropy(Tables.events(s, d))),
    "q_target_encode" -> ((s, d) => targetEncode(Tables.events(s, d))),
    "q_burst_detect" -> ((s, d) => burstDetect(Tables.events(s, d))),
    "q_pareto_share" -> ((s, d) => paretoShare(Tables.events(s, d))),
    "q_interarrival" -> ((s, d) => interarrival(Tables.events(s, d))),
    "q_rfm" -> ((s, d) => rfm(Tables.events(s, d))),
    "q_winsorize" -> ((s, d) => winsorize(Tables.events(s, d))),
    "q_round_bias" -> ((s, d) => roundNumberBias(Tables.events(s, d))),
    "q_abtest" -> ((s, d) => abTest(Tables.events(s, d))),
    "q_impute" -> ((s, d) => imputeAmounts(Tables.events(s, d))),
    "q_group_split" -> ((s, d) => groupSplit(Tables.events(s, d))),
    "q_psi_drift" -> ((s, d) => psiDrift(Tables.events(s, d))),
    "q_cusum_volume" -> ((s, d) => cusumVolume(Tables.events(s, d))),
    "q_peer_anomaly" -> ((s, d) => peerAnomaly(Tables.events(s, d))),
    "q_ts_acf" -> ((s, d) => acfDaily(Tables.events(s, d))),
    "q_ts_trend" -> ((s, d) => trendDaily(Tables.events(s, d))),
    "q_growth_accounting" -> ((s, d) => growthAccounting(Tables.events(s, d))),
    "q_ks_drift" -> ((s, d) => ksDrift(Tables.events(s, d))),
    "q_gini_spend" -> ((s, d) => giniSpend(Tables.events(s, d))),
    "q_chi2_audit" -> ((s, d) => chi2Audit(Tables.events(s, d))),
    "q_cohort_retention" -> ((s, d) => cohortRetention(Tables.events(s, d))),
    "q_ts_gapfill" -> ((s, d) => gapFill(Tables.events(s, d))),
    "q_ts_seasonal" -> ((s, d) => seasonalBaseline(Tables.events(s, d))),
    "q_mad_outliers" -> ((s, d) => madOutliers(Tables.events(s, d))),
    "q_interval_concurrency" -> ((s, d) => statusConcurrency(Tables.events(s, d))),
    "q_interval_overlaps" -> ((s, d) => intervalOverlaps(Tables.events(s, d))),
    "q_aml_velocity" -> ((s, d) => velocityBursts(Tables.events(s, d))),
    "q_aml_dormant" -> ((s, d) => dormantAwakening(Tables.events(s, d))),
    "q_aml_offsetting" -> ((s, d) => offsettingPairs(Tables.events(s, d))),
    "q_ts_ewma" -> ((s, d) => ewmaDaily(Tables.events(s, d))),
    "q_aml_structuring" -> ((s, d) => structuring(Tables.events(s, d))),
    "q_amount_outliers" -> ((s, d) => amountOutliers(Tables.events(s, d))),
    "q_benford" -> ((s, d) => benford(Tables.events(s, d))),
    "q_scd2" -> ((s, d) => scd2(Tables.events(s, d))),
    "q_feature_rolling" -> ((s, d) => rollingFeatures(Tables.events(s, d))),
    "q_dq_audit" -> ((s, d) => dqAudit(Tables.events(s, d))),
    "q_schema_drift" -> ((s, d) => schemaDrift(Tables.events(s, d))),
    "q_var_es" -> ((s, d) => varEs(Tables.events(s, d))),
    "q_smurf_motifs" -> ((s, d) => smurfMotifs(Tables.events(s, d))),
    "q_ab_sprt" -> ((s, d) => abSprt(Tables.events(s, d))),
    "q_dsar_export" -> ((s, d) => dsarExport(s, d)),
    "q_skyline" -> ((s, d) => skylineMerchants(Tables.events(s, d))),
    "q_twab" -> ((s, d) => timeWeightedBalance(Tables.events(s, d))),
    "q_rolling_corr" -> ((s, d) => rollingCorr(Tables.events(s, d))),
    "q_freshness" -> ((s, d) => freshnessAudit(s, d)),
    "q_week_discord" -> ((s, d) => weekDiscord(Tables.events(s, d))),
    "q_slo_burn" -> ((s, d) => sloBurn(Tables.events(s, d))),
    "q_dp_histogram" -> ((s, d) => dpHistogram(Tables.events(s, d))),
    "q_bootstrap_ci" -> ((s, d) => bootstrapCi(Tables.events(s, d))),
    "q_conformal" -> ((s, d) => conformalInterval(Tables.events(s, d))),
    "q_flag_summary" -> ((s, d) => flagSummary(Tables.events(s, d))),
    "q_ohlc_bars" -> ((s, d) => ohlcBars(Tables.events(s, d))),
    "q_reconcile" -> ((s, d) => reconcile(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_markov_transitions" -> ((s, d) => markovTransitions(Tables.events(s, d))),
    "q_rolling_dau" -> ((s, d) => rollingDau(Tables.events(s, d))),
    "q_seq_pairs" -> ((s, d) => seqPairs(Tables.events(s, d))),
    "q_cohort_ltv" -> ((s, d) => cohortLtv(Tables.events(s, d))),
    "q_seasonal_anomaly" -> ((s, d) => seasonalAnomaly(Tables.events(s, d))),
    "q_survival" -> ((s, d) => survivalCurve(Tables.events(s, d))),
    "q_ab_cuped" -> ((s, d) => abCuped(Tables.events(s, d))),
    "q_forget_audit" -> ((s, d) => forgetAudit(Tables.events(s, d))),
    "q_recurring" -> ((s, d) => recurringPayments(Tables.events(s, d))),
    "q_concentration" -> ((s, d) => concentration(Tables.events(s, d))))

  private val didCellsCte =
    "dc AS (SELECT ('0x' || substr(md5('did|' || user_id), 1, 15))::BIGINT % 2 AS treat, " +
      "CASE WHEN epoch_ms(ts) >= 1705363200000 THEN 1 ELSE 0 END AS post, " +
      "count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS s " +
      "FROM events GROUP BY 1, 2)"

  private val latenessCte =
    "ld AS (SELECT user_id, event_id, epoch_ms(ts) AS ts_ms, " +
      "epoch_ms(ts) + CASE WHEN event_id % 11 = 0 THEN " +
      "('0x' || substr(md5('delay|' || event_id), 1, 15))::BIGINT % 3600000 " +
      "ELSE 0 END AS arr_ms FROM events), " +
      "lt AS (SELECT user_id, event_id, ts_ms, " +
      "max(ts_ms) OVER (PARTITION BY user_id ORDER BY arr_ms, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS runmax FROM ld), " +
      "lv AS (SELECT user_id, event_id, " +
      "CASE WHEN runmax > ts_ms THEN runmax - ts_ms ELSE 0 END AS late FROM lt)"

  /** Shared detector SQL fragments (the markovIterSql pattern): each
    * detector's filter body — with its literal defaults (value band
    * 50/100, minTxns 3, minTotal 150, 1 h velocity window, 2 d
    * dormancy, z = 3 / minN 10) — is written ONCE and parameterized
    * only by the select list, so the per-detector oracles and the
    * q_alert_triage fusion oracle can never silently desync when a
    * default or a fix changes. */
  private def structuringSql(select: String): String =
    s"SELECT $select FROM events WHERE value >= 50 AND value < 100 " +
      "GROUP BY user_id, CAST(ts AS DATE) " +
      "HAVING count(*) >= 3 AND round(sum(value), 2) >= 150"

  private def velocitySql(select: String): String =
    s"SELECT $select FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, " +
      "count(*) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts) " +
      "RANGE BETWEEN 3600000 PRECEDING AND CURRENT ROW) AS n_win FROM events) " +
      "WHERE n_win >= 3"

  private def dormantSql(select: String): String =
    s"SELECT $select FROM (SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value, " +
      "lag(epoch_ms(ts)) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev_ms " +
      "FROM events) " +
      "WHERE prev_ms IS NOT NULL AND ts_ms - prev_ms >= 172800000 AND value >= 50"

  private def outlierSql(select: String): String =
    s"SELECT $select FROM (SELECT event_id, user_id, value, count(*) OVER w AS n, " +
      "round(sum(value) OVER w, 2) AS s, round(sum(value * value) OVER w, 2) AS sq " +
      "FROM events WINDOW w AS (PARTITION BY user_id)) " +
      "WHERE n >= 10 AND (sq - s * s / n) / (n - 1) > 0 " +
      "AND (value - s / n) > 3 * sqrt((sq - s * s / n) / (n - 1))"

  /** One snapshot's per-column profile rows for the schema-drift
    * oracle (column_name, rows, nulls, distincts), tagged a/b. */
  private def driftProfSql(src: String, tag: String): String =
    Seq("event_id", "user_id", "event_type", "value", "props").map(c =>
      s"SELECT '$c' AS column_name, count(*) AS n_rows_$tag, " +
        s"sum(CASE WHEN $c IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_nulls_$tag, " +
        s"count(DISTINCT $c) AS n_distinct_$tag FROM $src").mkString(" UNION ALL ")

  private def pkSql(name: String, table: String, key: String): String =
    s"SELECT 'pk' AS kind, '$name' AS constraint_name, count(*) AS n_checked, " +
      s"(count(*) - count(DISTINCT $key))::BIGINT AS n_violations FROM $table"

  private def fkSql(name: String, child: String, key: String,
      parent: String, pkey: String): String =
    s"SELECT 'fk', '$name', count(*), " +
      s"sum(CASE WHEN p.$pkey IS NULL THEN 1 ELSE 0 END)::BIGINT " +
      s"FROM (SELECT $key FROM $child WHERE $key IS NOT NULL) c " +
      s"LEFT JOIN (SELECT DISTINCT $pkey FROM $parent) p ON c.$key = p.$pkey"

  /** One Markov power-iteration round unrolled as SQL CTEs
    * (mp(i-1) → mpr(i) → mp(i)) — integer-scaled per-term floor
    * division, mirroring the operator's round exactly (HUGEINT widen
    * mirrors the operator's DECIMAL(38,0): BIGINT n*p overflows past
    * ~9.2e6 edges per type). */
  private def markovIterSql(i: Int): String =
    s"mpr$i AS (SELECT p.variant, t.src AS state, " +
      s"sum(t.n::HUGEINT * p.p // t.n_src)::BIGINT AS praw FROM mtc t " +
      s"JOIN mp${i - 1} p ON t.dst = p.state GROUP BY 1, 2), " +
      s"mp$i AS (SELECT g.variant, g.state, " +
      "CASE WHEN g.state = 'purchase' THEN 1000000000000 " +
      "WHEN g.state = 'DROP' THEN 0 " +
      "WHEN g.state = g.variant THEN 0 " +
      s"ELSE coalesce(pr.praw, 0) END::BIGINT AS p FROM mgrid g " +
      s"LEFT JOIN mpr$i pr ON g.variant = pr.variant AND g.state = pr.state)"

  private lazy val markovOracle: String =
    "WITH mjb AS (SELECT user_id::VARCHAR || '|' || (epoch_ms(ts) // 86400000)::VARCHAR AS jkey, " +
      "event_type, epoch_ms(ts) AS ts_ms, event_id FROM events), " +
      "mcut AS (SELECT jkey, event_type, ts_ms, event_id, " +
      "coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY jkey ORDER BY ts_ms, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np_before FROM mjb " +
      "QUALIFY np_before = 0), " +
      "msteps AS (SELECT jkey, event_type, " +
      "row_number() OVER w AS rn, lead(event_type) OVER w AS nxt FROM mcut " +
      "WINDOW w AS (PARTITION BY jkey ORDER BY ts_ms, event_id)), " +
      "medges AS (SELECT 'START' AS src, event_type AS dst FROM msteps WHERE rn = 1 " +
      "UNION ALL SELECT event_type, nxt FROM msteps WHERE nxt IS NOT NULL " +
      "UNION ALL SELECT event_type, 'DROP' FROM msteps " +
      "WHERE nxt IS NULL AND event_type <> 'purchase'), " +
      "mtc AS (SELECT src, dst, count(*) AS n, " +
      "sum(count(*)) OVER (PARTITION BY src)::BIGINT AS n_src FROM medges GROUP BY 1, 2), " +
      "mva AS (SELECT unnest(['none', 'click', 'error', 'signup', 'view']) AS variant), " +
      "mst AS (SELECT DISTINCT src AS state FROM mtc " +
      "UNION SELECT DISTINCT dst FROM mtc), " +
      "mgrid AS (SELECT variant, state FROM mva CROSS JOIN mst), " +
      "mp0 AS (SELECT variant, state, CASE WHEN state = 'purchase' " +
      "THEN 1000000000000 ELSE 0 END::BIGINT AS p FROM mgrid), " +
      (1 to 8).map(markovIterSql).mkString(", ") + ", " +
      "mfin AS (SELECT variant, p FROM mp8 WHERE state = 'START'), " +
      "mbase AS (SELECT p AS p_base FROM mfin WHERE variant = 'none'), " +
      "mrem AS (SELECT variant, p, p_base, p_base - p AS re_scaled " +
      "FROM mfin CROSS JOIN mbase WHERE variant <> 'none'), " +
      "mtot AS (SELECT sum(re_scaled)::BIGINT AS re_tot FROM mrem) " +
      "SELECT variant AS channel, p_base, p AS p_removed, " +
      "floor(re_scaled / p_base * 10000) / 10000 AS removal_effect, " +
      "floor(re_scaled / re_tot * 10000) / 10000 AS attribution_share " +
      "FROM mrem CROSS JOIN mtot"

  /** Each element of `cols` is one column's SQL rendering; fpSql
    * coalesces every one to the '<NULL>' sentinel before '|'-joining,
    * mirroring the Spark side's concat_ws(coalesce…) exactly — a bare
    * '||' chain would null the whole md5 on any NULL column. */
  private def fpSql(name: String, table: String, cols: String*): String = {
    val rendered = cols.map(c => s"coalesce($c, '<NULL>')").mkString(" || '|' || ")
    s"SELECT '$name' AS table_name, count(*) AS n_rows, " +
      s"bit_xor(('0x' || substr(md5($rendered), 1, 15))::BIGINT)::BIGINT AS fingerprint " +
      s"FROM $table"
  }

  private def centsSql(c: String): String =
    s"CAST(floor($c * 100 + 0.5) AS BIGINT)::VARCHAR"

  private lazy val shapleyOracle: String =
    "WITH sbase AS (SELECT user_id::VARCHAR || '|' || (epoch_ms(ts) // 86400000)::VARCHAR AS jkey, " +
      "event_type, epoch_ms(ts) AS ts_ms, event_id FROM events), " +
      "scut AS (SELECT jkey, event_type FROM (SELECT jkey, event_type, " +
      "coalesce(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) OVER " +
      "(PARTITION BY jkey ORDER BY ts_ms, event_id " +
      "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS np_before FROM sbase) " +
      "WHERE np_before = 0), " +
      "spu AS (SELECT jkey, bit_or(CASE event_type WHEN 'click' THEN 1 " +
      "WHEN 'error' THEN 2 WHEN 'signup' THEN 4 WHEN 'view' THEN 8 ELSE 0 END)::BIGINT AS mask, " +
      "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv FROM scut GROUP BY 1), " +
      "svo AS (SELECT mask, count(*) AS n, sum(conv)::BIGINT AS nc FROM spu GROUP BY 1), " +
      "sg AS (SELECT unnest(range(0, 16)) AS mask), " +
      "sv AS (SELECT sg.mask, CASE WHEN sg.mask = 0 THEN 0 WHEN coalesce(n, 0) > 0 " +
      "THEN (nc::HUGEINT * 1000000000000) // n ELSE 0 END::BIGINT AS vs " +
      "FROM sg LEFT JOIN svo ON sg.mask = svo.mask), " +
      "sch AS (SELECT * FROM (VALUES ('click', 1), ('error', 2), " +
      "('signup', 4), ('view', 8)) AS t(channel, bit)), " +
      "st AS (SELECT c.channel, CAST(floor(((CASE WHEN bit_count(v0.mask) IN (0, 3) " +
      "THEN 6 ELSE 2 END) * (v1.vs - v0.vs)) / 24.0) AS BIGINT) AS term " +
      "FROM sch c JOIN sv v0 ON (v0.mask & c.bit) = 0 " +
      "JOIN sv v1 ON (v0.mask | c.bit) = v1.mask), " +
      "sp AS (SELECT channel, sum(term)::BIGINT AS phi_scaled FROM st GROUP BY 1), " +
      "stot AS (SELECT sum(phi_scaled)::BIGINT AS phi_tot FROM sp) " +
      "SELECT channel, phi_scaled, " +
      "floor(phi_scaled / 1000000000000.0 * 10000) / 10000 AS phi, " +
      "CASE WHEN phi_tot <> 0 THEN floor(phi_scaled / phi_tot * 10000) / 10000 END " +
      "AS attribution_share FROM sp CROSS JOIN stot"

  val oracleSql: Map[String, String] = Map(
    "q_vopt_histogram" -> voptOracle(),
    "q_mann_kendall" -> mannKendallOracle,
    "q_theil_sen" -> theilSenOracle,
    "q_sax_motifs" -> saxOracle,
    "q_holt" -> holtOracle(),
    "q_corr_matrix" -> corrMatrixOracle,
    "q_quantile_norm" -> quantileNormOracle,
    "q_gumbel_maxima" -> gumbelOracle(),
    "q_neyman_alloc" -> neymanOracle(),
    "q_capture_recapture" -> captureRecaptureOracle,
    "q_runs_test" -> runsTestOracle,
    "q_rank_corr" -> rankCorrOracle,
    "q_mannwhitney" -> mannWhitneyOracle,
    "q_haar" -> haarOracle,
    "q_eb_shrinkage" -> ebShrinkageOracle,
    "q_dp_quantile" ->
      ("WITH bins AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) // 500 bin, " +
        "count(*)::BIGINT n FROM events GROUP BY 1), " +
        "c AS (SELECT bin, n, " +
        "sum(n) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING)::BIGINT cum, " +
        "sum(n) OVER ()::BIGINT nt FROM bins), " +
        "sc AS (SELECT bin, n, -abs(2 * cum - nt)::BIGINT u_util, " +
        "-ln(-ln((('0x' || substr(md5('dpq|' || bin::VARCHAR), 1, 15))::BIGINT::DOUBLE + 0.5) " +
        "/ 1152921504606846976.0)) gumbel, cum, nt FROM c), " +
        "nsc AS (SELECT bin, n, u_util, " +
        "CAST(floor((0.25::DOUBLE * u_util + gumbel) * 1000000) AS BIGINT) score_scaled " +
        "FROM sc), " +
        "rk AS (SELECT *, row_number() OVER (ORDER BY score_scaled DESC, bin)::BIGINT rnk " +
        "FROM nsc), " +
        "ex AS (SELECT (bin * 500 + 250)::BIGINT true_mid_cents FROM c " +
        "WHERE 2 * cum >= nt AND 2 * (cum - n) < nt) " +
        "SELECT rnk, bin, n, u_util, score_scaled, " +
        "(bin * 500 + 250)::BIGINT released_mid_cents, true_mid_cents, " +
        "floor(abs(bin * 500 + 250 - true_mid_cents) / 100.0 * 100) / 100 abs_err_usd " +
        "FROM rk CROSS JOIN ex WHERE rnk <= 3"),
    "q_changepoint" ->
      ("WITH daily AS (SELECT date_trunc('day', o_orderdate) dday, count(*)::BIGINT n, " +
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT s, " +
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)::HUGEINT * " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)) ss FROM orders GROUP BY 1), " +
        "c AS (SELECT dday, " +
        "sum(n) OVER (ORDER BY dday ROWS UNBOUNDED PRECEDING)::BIGINT nl, " +
        "sum(s) OVER (ORDER BY dday ROWS UNBOUNDED PRECEDING)::BIGINT sl, " +
        "sum(n) OVER ()::BIGINT nt, sum(s) OVER ()::BIGINT st, " +
        "sum(ss) OVER () sst FROM daily), " +
        "g AS (SELECT *, nt - nl nr, st - sl sr FROM c WHERE nt - nl > 0), " +
        "sc AS (SELECT *, (sl::HUGEINT * sl * nr + sr::HUGEINT * sr * nl)::DOUBLE " +
        "/ (nl * nr) gg FROM g), " +
        "rk AS (SELECT *, row_number() OVER (ORDER BY gg DESC, dday) rnk FROM sc) " +
        "SELECT dday AS split_day, nl AS n_left, nr AS n_right, " +
        "floor(sl::DOUBLE / nl / 100 * 100) / 100 AS mean_left, " +
        "floor(sr::DOUBLE / nr / 100 * 100) / 100 AS mean_right, " +
        "floor((gg - (st::HUGEINT * st)::DOUBLE / nt) / " +
        "(sst::DOUBLE - (st::HUGEINT * st)::DOUBLE / nt) * 10000) / 10000 AS var_explained " +
        "FROM rk WHERE rnk = 1"),
    "q_qini" ->
      ("WITH pu AS (SELECT user_id, " +
        "sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT purch, " +
        "sum(CASE WHEN event_type IN ('click', 'view') THEN 1 ELSE 0 END)::BIGINT activity " +
        "FROM events GROUP BY 1), " +
        "bd AS (SELECT user_id % 2 treated, least(activity // 8, 7) band, purch FROM pu), " +
        "bands AS (SELECT band, " +
        "sum(CASE WHEN treated = 1 THEN 1 ELSE 0 END)::BIGINT n_t, " +
        "sum(CASE WHEN treated = 0 THEN 1 ELSE 0 END)::BIGINT n_c, " +
        "sum(CASE WHEN treated = 1 THEN purch ELSE 0 END)::BIGINT purch_t, " +
        "sum(CASE WHEN treated = 0 THEN purch ELSE 0 END)::BIGINT purch_c " +
        "FROM bd GROUP BY 1), " +
        "c AS (SELECT *, " +
        "sum(n_t) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)::BIGINT cn_t, " +
        "sum(n_c) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)::BIGINT cn_c, " +
        "sum(purch_t) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)::BIGINT cp_t, " +
        "sum(purch_c) OVER (ORDER BY band DESC ROWS UNBOUNDED PRECEDING)::BIGINT cp_c " +
        "FROM bands) " +
        "SELECT band, n_t, n_c, purch_t, purch_c, " +
        "CASE WHEN n_t > 0 AND n_c > 0 THEN " +
        "floor((purch_t / n_t - purch_c / n_c) * 10000) / 10000 END AS uplift, " +
        "CASE WHEN cn_c > 0 THEN " +
        "floor((cp_t - cp_c * (cn_t / cn_c)) * 10000) / 10000 END AS qini FROM c"),
    "q_sinkhorn" -> sinkhornOracle(),
    "q_isotonic" ->
      ("WITH hist AS (SELECT CAST(floor(o_totalprice / 12500.0) AS BIGINT) bin, " +
        "count(*)::BIGINT n, sum(CASE WHEN o_orderstatus = 'F' THEN 1 ELSE 0 END)::BIGINT pos " +
        "FROM orders GROUP BY 1), " +
        "pairs AS (SELECT l.bin i, h.bin k, sum(m.n)::BIGINT w, sum(m.pos)::BIGINT p " +
        "FROM hist l JOIN hist h ON l.bin <= h.bin " +
        "JOIN hist m ON m.bin >= l.bin AND m.bin <= h.bin GROUP BY 1, 2), " +
        "inner_min AS (SELECT j.bin j, pr.i, min(pr.p::DOUBLE / pr.w) mn " +
        "FROM pairs pr JOIN hist j ON pr.i <= j.bin AND pr.k >= j.bin GROUP BY 1, 2), " +
        "fit AS (SELECT j, max(mn) iso FROM inner_min GROUP BY 1) " +
        "SELECT bin, n, pos, floor(pos::DOUBLE / n * 10000) / 10000 AS rate, " +
        "floor(iso * 10000) / 10000 AS iso_rate " +
        "FROM hist JOIN fit ON bin = j"),
    "q_tail_index" ->
      ("WITH tb AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "count(*) AS n FROM events WHERE CAST(floor(value * 100 + 0.5) AS BIGINT) > 0 " +
        "GROUP BY 1, 2), " +
        "tr AS (SELECT *, coalesce(sum(n) OVER (PARTITION BY event_type ORDER BY cents DESC " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS cum_before FROM tb), " +
        "tt AS (SELECT event_type, cents AS xk1 FROM tr " +
        "WHERE cum_before <= 100 AND cum_before + n > 100), " +
        "tj AS (SELECT r.event_type, r.cents, r.n, t.xk1, " +
        "least(r.n, 100 - r.cum_before) AS w FROM tr r JOIN tt t USING (event_type) " +
        "WHERE r.cum_before < 100 AND r.cents > t.xk1), " +
        "tsx AS (SELECT event_type, max(xk1)::BIGINT AS xk1_cents, sum(w)::BIGINT AS k_used, " +
        "sum(w * CAST(floor(ln(cents / xk1) * 1000000) AS BIGINT))::BIGINT AS hill_scaled " +
        "FROM tj GROUP BY 1) " +
        "SELECT event_type, xk1_cents, k_used, hill_scaled, " +
        "floor(hill_scaled / 1000000.0 / 100.0 * 10000) / 10000 AS hill, " +
        "CASE WHEN hill_scaled > 0 THEN " +
        "floor(100.0 * 1000000 / hill_scaled * 10000) / 10000 END AS alpha FROM tsx"),
    "q_shapley_attrib" -> shapleyOracle,
    "q_markov_attrib" -> markovOracle,
    "q_table_fingerprint" ->
      (Seq(
        fpSql("region", "region", "r_regionkey::VARCHAR", "r_name"),
        fpSql("nation", "nation",
          "n_nationkey::VARCHAR", "n_name", "n_regionkey::VARCHAR"),
        fpSql("customer", "customer",
          "c_custkey::VARCHAR", "c_name", "c_nationkey::VARCHAR",
          centsSql("c_acctbal"), "c_mktsegment"),
        fpSql("supplier", "supplier",
          "s_suppkey::VARCHAR", "s_name", "s_nationkey::VARCHAR",
          centsSql("s_acctbal")),
        fpSql("part", "part",
          "p_partkey::VARCHAR", "p_name", "p_brand", "p_type",
          "p_size::VARCHAR", centsSql("p_retailprice")),
        fpSql("orders", "orders",
          "o_orderkey::VARCHAR", "o_custkey::VARCHAR", "o_orderstatus",
          centsSql("o_totalprice"), "o_orderpriority"),
        fpSql("events", "events",
          "event_id::VARCHAR", "user_id::VARCHAR", "event_type",
          centsSql("value"), "epoch_ms(ts)::VARCHAR"),
        fpSql("documents", "documents",
          "doc_id::VARCHAR", "text", "lang", "source",
          "n_chars::VARCHAR")).mkString(" UNION ALL ")),
    "q_ri_audit" ->
      ("WITH u AS (" + Seq(
        pkSql("region.r_regionkey", "region", "r_regionkey"),
        pkSql("nation.n_nationkey", "nation", "n_nationkey"),
        pkSql("customer.c_custkey", "customer", "c_custkey"),
        pkSql("supplier.s_suppkey", "supplier", "s_suppkey"),
        pkSql("part.p_partkey", "part", "p_partkey"),
        pkSql("orders.o_orderkey", "orders", "o_orderkey"),
        pkSql("events.event_id", "events", "event_id"),
        pkSql("documents.doc_id", "documents", "doc_id"),
        pkSql("embeddings.vec_id", "embeddings", "vec_id"),
        fkSql("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        fkSql("lineitem->part", "lineitem", "l_partkey", "part", "p_partkey"),
        fkSql("lineitem->supplier", "lineitem", "l_suppkey", "supplier", "s_suppkey"),
        fkSql("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        fkSql("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        fkSql("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        fkSql("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
        fkSql("events->customer", "events", "user_id", "customer", "c_custkey"))
        .mkString(" UNION ALL ") + ") " +
        "SELECT kind, constraint_name, n_checked, n_violations, " +
        "floor(n_violations / n_checked * 10000) / 10000 AS violation_share FROM u"),
    "q_did" ->
      (s"WITH $didCellsCte, " +
        "p AS (SELECT max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS n_t_pre, " +
        "max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS n_t_post, " +
        "max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS n_c_pre, " +
        "max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS n_c_post, " +
        "max(CASE WHEN treat = 1 AND post = 0 THEN s END) / " +
        "max(CASE WHEN treat = 1 AND post = 0 THEN n END) AS m_t_pre, " +
        "max(CASE WHEN treat = 1 AND post = 1 THEN s END) / " +
        "max(CASE WHEN treat = 1 AND post = 1 THEN n END) AS m_t_post, " +
        "max(CASE WHEN treat = 0 AND post = 0 THEN s END) / " +
        "max(CASE WHEN treat = 0 AND post = 0 THEN n END) AS m_c_pre, " +
        "max(CASE WHEN treat = 0 AND post = 1 THEN s END) / " +
        "max(CASE WHEN treat = 0 AND post = 1 THEN n END) AS m_c_post FROM dc) " +
        "SELECT n_t_pre, n_t_post, n_c_pre, n_c_post, " +
        "floor(m_t_pre * 10000) / 10000 AS mean_t_pre, " +
        "floor(m_t_post * 10000) / 10000 AS mean_t_post, " +
        "floor(m_c_pre * 10000) / 10000 AS mean_c_pre, " +
        "floor(m_c_post * 10000) / 10000 AS mean_c_post, " +
        "floor(((m_t_post - m_t_pre) - (m_c_post - m_c_pre)) * 10000) / 10000 AS did_cents " +
        "FROM p"),
    "q_ab_power" ->
      ("WITH st AS (SELECT event_type, count(*) AS n, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS s, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT) * " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS sq FROM events GROUP BY 1) " +
        "SELECT event_type, n, floor(s / n * 10000) / 10000 AS mean_cents, " +
        "floor((sq - s::DOUBLE * s / n) / (n - 1) * 10000) / 10000 AS var_cents, " +
        s"CAST(ceil($PowerK::DOUBLE * ((sq - s::DOUBLE * s / n) / (n - 1)) / " +
        "((s / n * 0.01) * (s / n * 0.01))) AS BIGINT) AS n_required FROM st"),
    "q_disorder_audit" ->
      (s"WITH $latenessCte " +
        "SELECT CASE WHEN late = 0 THEN 0 ELSE length(late::VARCHAR) END::BIGINT AS magnitude, " +
        "count(*) AS n, min(late)::BIGINT AS min_late_ms, max(late)::BIGINT AS max_late_ms " +
        "FROM lv GROUP BY 1"),
    "q_watermark_sizing" ->
      (s"WITH $latenessCte, " +
        "cand AS (SELECT unnest([60000, 600000, 3600000, 86400000]) AS wm_ms) " +
        "SELECT wm_ms::BIGINT AS wm_ms, count(*) AS n_events, " +
        "sum(CASE WHEN late > wm_ms THEN 1 ELSE 0 END)::BIGINT AS n_dropped, " +
        "floor(sum(CASE WHEN late > wm_ms THEN 1 ELSE 0 END)::BIGINT / count(*) * 10000) " +
        "/ 10000 AS drop_share FROM lv CROSS JOIN cand GROUP BY 1"),
    "q_alert_triage" ->
      ("WITH fs AS (" + structuringSql("user_id, 'structuring' AS family") + "), " +
        "fv AS (" + velocitySql("user_id, 'velocity' AS family") + "), " +
        "fd AS (" + dormantSql("user_id, 'dormant' AS family") + "), " +
        "fo AS (" + outlierSql("user_id, 'outlier' AS family") + "), " +
        "u AS (SELECT * FROM fs UNION ALL SELECT * FROM fv " +
        "UNION ALL SELECT * FROM fd UNION ALL SELECT * FROM fo), " +
        "cells AS (SELECT user_id, family, count(*) AS n FROM u GROUP BY 1, 2), " +
        "per AS (SELECT user_id, " +
        "sum(CASE WHEN family = 'structuring' THEN n ELSE 0 END)::BIGINT AS n_structuring, " +
        "sum(CASE WHEN family = 'velocity' THEN n ELSE 0 END)::BIGINT AS n_velocity, " +
        "sum(CASE WHEN family = 'dormant' THEN n ELSE 0 END)::BIGINT AS n_dormant, " +
        "sum(CASE WHEN family = 'outlier' THEN n ELSE 0 END)::BIGINT AS n_outlier, " +
        "count(*) AS n_families FROM cells GROUP BY 1), " +
        "r AS (SELECT *, (n_structuring * 3 + n_outlier * 2 + n_dormant * 2 + n_velocity)" +
        "::BIGINT AS severity FROM per) " +
        "SELECT user_id, n_structuring, n_velocity, n_dormant, n_outlier, n_families, " +
        "severity, row_number() OVER (ORDER BY severity DESC, user_id)::BIGINT AS rnk " +
        "FROM r QUALIFY rnk <= 50"),
    "q_k_anon" ->
      ("WITH pairs AS (SELECT DISTINCT json_extract_string(props, '$.k') AS merchant, " +
        "event_type, CAST(floor(value / 10) AS BIGINT) AS band, user_id FROM events), " +
        "gs AS (SELECT merchant, event_type, band, count(*) AS g FROM pairs GROUP BY 1, 2, 3), " +
        "tot AS (SELECT count(*) AS n_groups FROM gs), " +
        "kd AS (SELECT unnest([2, 5, 10]) AS k), " +
        "fl AS (SELECT * FROM gs CROSS JOIN kd WHERE g < k), " +
        "pk AS (SELECT k, count(*) AS n_violating FROM fl GROUP BY 1), " +
        "af AS (SELECT k, count(DISTINCT user_id) AS n_affected_users " +
        "FROM fl JOIN pairs USING (merchant, event_type, band) GROUP BY 1) " +
        "SELECT pk.k::BIGINT AS k, n_groups, n_violating, " +
        "coalesce(n_affected_users, 0)::BIGINT AS n_affected_users, " +
        "floor(n_violating / n_groups * 10000) / 10000 AS risk_share " +
        "FROM pk LEFT JOIN af USING (k) CROSS JOIN tot"),
    "q_l_diversity" ->
      ("WITH ldr AS (SELECT DISTINCT json_extract_string(props, '$.k') AS merchant, " +
        "CAST(floor(value / 10) AS BIGINT) AS band, event_type, user_id FROM events), " +
        "lgs AS (SELECT merchant, band, count(DISTINCT event_type) AS ndist " +
        "FROM ldr GROUP BY 1, 2), " +
        "ltot AS (SELECT count(*) AS n_groups FROM lgs), " +
        "ld AS (SELECT unnest([2, 3]) AS l), " +
        "lfl AS (SELECT * FROM lgs CROSS JOIN ld WHERE ndist < l), " +
        "lpk AS (SELECT l, count(*) AS n_violating FROM lfl GROUP BY 1), " +
        "laf AS (SELECT l, count(DISTINCT user_id) AS n_affected_users " +
        "FROM lfl JOIN ldr USING (merchant, band) GROUP BY 1) " +
        "SELECT lpk.l::BIGINT AS l, n_groups, n_violating, " +
        "coalesce(n_affected_users, 0)::BIGINT AS n_affected_users, " +
        "floor(n_violating / n_groups * 10000) / 10000 AS risk_share " +
        "FROM lpk LEFT JOIN laf USING (l) CROSS JOIN ltot"),
    "q_t_closeness" ->
      ("WITH tvr AS (SELECT DISTINCT json_extract_string(props, '$.k') AS merchant, " +
        "CAST(floor(value / 10) AS BIGINT) AS band, event_type, user_id FROM events), " +
        "tvc AS (SELECT merchant, band, event_type, count(*)::HUGEINT AS cgs " +
        "FROM tvr GROUP BY 1, 2, 3), " +
        "tvs AS (SELECT event_type, sum(cgs)::HUGEINT AS cs FROM tvc GROUP BY 1), " +
        "tvn AS (SELECT sum(cs)::HUGEINT AS bign FROM tvs), " +
        "tvg AS (SELECT merchant, band, sum(cgs)::HUGEINT AS ng FROM tvc GROUP BY 1, 2), " +
        "tvm AS (SELECT tvc.merchant, tvc.band, max(ng) AS ng, max(bign) AS bign, " +
        "sum(abs(cgs * bign - cs * ng)) + max(ng) * (max(bign) - sum(cs)) AS tvd_num, " +
        "2 * max(ng) * max(bign) AS den2 " +
        "FROM tvc JOIN tvs USING (event_type) " +
        "JOIN tvg ON tvc.merchant = tvg.merchant AND tvc.band = tvg.band " +
        "CROSS JOIN tvn GROUP BY 1, 2), " +
        "tvt AS (SELECT count(*) AS n_groups FROM tvm), " +
        "tvd AS (SELECT unnest([2, 3])::BIGINT AS t_scaled), " +
        "tvf AS (SELECT *, (tvd_num * 10000) // den2 AS tvd4 FROM tvm CROSS JOIN tvd " +
        "WHERE tvd_num * 10 > t_scaled * den2), " +
        "tvp AS (SELECT t_scaled, count(*) AS n_violating, max(tvd4) AS max_tvd4 " +
        "FROM tvf GROUP BY 1), " +
        "tva AS (SELECT t_scaled, count(DISTINCT user_id) AS n_affected_users " +
        "FROM tvf JOIN tvr USING (merchant, band) GROUP BY 1) " +
        "SELECT t_scaled, n_groups, coalesce(n_violating, 0)::BIGINT AS n_violating, " +
        "coalesce(n_affected_users, 0)::BIGINT AS n_affected_users, " +
        "coalesce(max_tvd4, 0)::DOUBLE / 10000.0 AS max_tvd, " +
        "floor(coalesce(n_violating, 0) / n_groups * 10000) / 10000 AS risk_share " +
        "FROM tvd LEFT JOIN tvp USING (t_scaled) LEFT JOIN tva USING (t_scaled) " +
        "CROSS JOIN tvt"),
    "q_k_generalize" ->
      ("WITH kgb AS (SELECT json_extract_string(props, '$.k') AS merchant, " +
        "event_type, value, user_id FROM events), " +
        "kgl AS (SELECT DISTINCT level, merchant, event_type, band, user_id FROM (" +
        "SELECT 0::BIGINT AS level, merchant, event_type, " +
        "CAST(floor(value / 10) AS BIGINT) AS band, user_id FROM kgb " +
        "UNION ALL SELECT 1, merchant, event_type, CAST(floor(value / 100) AS BIGINT), user_id FROM kgb " +
        "UNION ALL SELECT 2, merchant, event_type, CAST(floor(value / 1000) AS BIGINT), user_id FROM kgb " +
        "UNION ALL SELECT 3, merchant, event_type, 0, user_id FROM kgb)), " +
        "kgg AS (SELECT level, merchant, event_type, band, count(*) AS g " +
        "FROM kgl GROUP BY 1, 2, 3, 4), " +
        "kgv AS (SELECT level, count(*) AS n_groups, min(g)::BIGINT AS min_group, " +
        "min(g) >= 5 AS k_ok FROM kgg GROUP BY 1) " +
        "SELECT level, n_groups, min_group, k_ok, " +
        "(min(CASE WHEN k_ok THEN level END) OVER () IS NOT NULL AND " +
        "level = min(CASE WHEN k_ok THEN level END) OVER ()) AS chosen FROM kgv"),
    "q_mutual_info" ->
      ("WITH cells AS (SELECT event_type, json_extract_string(props, '$.k') AS merchant, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "tm AS (SELECT event_type, sum(n)::BIGINT AS nt FROM cells GROUP BY 1), " +
        "mm AS (SELECT merchant, sum(n)::BIGINT AS nm FROM cells GROUP BY 1), " +
        "tot AS (SELECT sum(n)::BIGINT AS nn FROM cells), " +
        "t AS (SELECT event_type, nt, " +
        "CAST(floor((n / nn) * ln((n::DOUBLE * nn) / (nt::DOUBLE * nm)) * 100000000) AS BIGINT) AS term_scaled " +
        "FROM cells JOIN tm USING (event_type) JOIN mm USING (merchant) CROSS JOIN tot) " +
        "SELECT event_type, max(nt)::BIGINT AS n_events, count(*) AS n_cells, " +
        "sum(term_scaled)::BIGINT AS mi_scaled, " +
        "floor(sum(term_scaled)::BIGINT / 100000000.0 * 10000) / 10000 AS mi_part " +
        "FROM t GROUP BY 1"),
    "q_volatility" ->
      ("WITH daily AS (SELECT event_type, (epoch_ms(ts) // 86400000) * 86400000 AS day_ms, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS c FROM events GROUP BY 1, 2), " +
        "rets AS (SELECT event_type, day_ms, c, " +
        "CAST(floor(ln(c / lag(c) OVER w) * 1000000) AS BIGINT) AS r FROM daily " +
        "WINDOW w AS (PARTITION BY event_type ORDER BY day_ms) " +
        "QUALIFY lag(c) OVER w IS NOT NULL), " +
        "v AS (SELECT event_type, day_ms, c, r, " +
        "count(*) OVER f AS n_win, sum(r) OVER f AS s, sum(r * r) OVER f AS s2 " +
        "FROM rets WINDOW f AS (PARTITION BY event_type ORDER BY day_ms " +
        "ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)) " +
        "SELECT event_type, day_ms, c AS cents, " +
        "floor(r / 1000000.0 * 10000) / 10000 AS ret, n_win, " +
        "floor(sqrt(greatest(s2 / n_win - (s / n_win) * (s / n_win), 0.0)) " +
        "/ 1000000 * 10000) / 10000 AS vol FROM v"),
    "q_drawdown" ->
      ("WITH daily AS (SELECT event_type, (epoch_ms(ts) // 86400000) * 86400000 AS day_ms, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS c FROM events GROUP BY 1, 2), " +
        "dd AS (SELECT event_type, day_ms, c, " +
        "max(c) OVER (PARTITION BY event_type ORDER BY day_ms " +
        "ROWS UNBOUNDED PRECEDING) - c AS dd FROM daily), " +
        "agg AS (SELECT event_type, count(*) AS n_days, max(c)::BIGINT AS peak_cents, " +
        "max(dd)::BIGINT AS max_dd_cents FROM dd GROUP BY 1), " +
        "tr AS (SELECT event_type, dd AS max_dd_cents, min(day_ms) AS trough_day_ms " +
        "FROM dd GROUP BY 1, 2) " +
        "SELECT event_type, n_days, peak_cents, max_dd_cents, trough_day_ms, " +
        "floor(max_dd_cents / peak_cents * 10000) / 10000 AS dd_share " +
        "FROM agg JOIN tr USING (event_type, max_dd_cents)"),
    "q_woe_encode" ->
      ("WITH cells AS (SELECT json_extract_string(props, '$.k') AS merchant, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_bad, " +
        "sum(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)::BIGINT AS n_good " +
        "FROM events GROUP BY 1), " +
        "g AS (SELECT sum(n_bad)::BIGINT AS tb, sum(n_good)::BIGINT AS tg FROM cells), " +
        "r AS (SELECT merchant, n_good, n_bad, " +
        "(n_good + 0.5) / (tg + 0.5) AS gs, (n_bad + 0.5) / (tb + 0.5) AS bs " +
        "FROM cells CROSS JOIN g) " +
        "SELECT merchant, n_good, n_bad, " +
        "floor(ln(gs / bs) * 10000) / 10000 AS woe, " +
        "floor((gs - bs) * ln(gs / bs) * 10000) / 10000 AS iv_term FROM r"),
    "q_score_auc" ->
      ("WITH bins AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_pos, " +
        "sum(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)::BIGINT AS n_neg " +
        "FROM events GROUP BY 1), " +
        "r AS (SELECT n_pos, n_neg, " +
        "(sum(n_pos + n_neg) OVER (ORDER BY cents ROWS UNBOUNDED PRECEDING) " +
        "- (n_pos + n_neg)) * 2 + (n_pos + n_neg) + 1 AS mr2 FROM bins), " +
        "a AS (SELECT sum(n_pos)::BIGINT AS np, sum(n_neg)::BIGINT AS nn, " +
        "sum(n_pos * mr2)::BIGINT AS r2 FROM r) " +
        "SELECT np AS n_pos, nn AS n_neg, (r2 - np * (np + 1))::BIGINT AS u2, " +
        "floor((r2 - np * (np + 1)) / (2.0 * np * nn) * 10000) / 10000 AS auc FROM a"),
    "q_pr_curve" ->
      ("WITH bins AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_pos, " +
        "sum(CASE WHEN event_type = 'error' THEN 0 ELSE 1 END)::BIGINT AS n_neg " +
        "FROM events GROUP BY 1), " +
        "th AS (SELECT unnest(range(1, 11)) * 1000 AS t), " +
        "cm AS (SELECT t, " +
        "sum(CASE WHEN cents >= t THEN n_pos ELSE 0 END)::BIGINT AS tp, " +
        "sum(CASE WHEN cents >= t THEN n_neg ELSE 0 END)::BIGINT AS fp, " +
        "sum(CASE WHEN cents < t THEN n_pos ELSE 0 END)::BIGINT AS fn " +
        "FROM bins CROSS JOIN th GROUP BY 1) " +
        "SELECT t, tp, fp, fn, " +
        "CASE WHEN tp + fp > 0 THEN floor(tp / (tp + fp) * 10000) / 10000 END AS precision, " +
        "floor(tp / (tp + fn) * 10000) / 10000 AS recall, " +
        "floor(2.0 * tp / (2 * tp + fp + fn) * 10000) / 10000 AS f1 FROM cm"),
    "q_user_entropy" ->
      ("WITH cells AS (SELECT user_id, json_extract_string(props, '$.k') AS merchant, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "w AS (SELECT user_id, n, sum(n) OVER (PARTITION BY user_id) AS ne, " +
        "count(*) OVER (PARTITION BY user_id) AS nm FROM cells), " +
        "t AS (SELECT user_id, ne, nm, " +
        "CAST(floor((n / ne) * ln(n / ne) * -1000000) AS BIGINT) AS t FROM w), " +
        "p AS (SELECT user_id, max(ne)::BIGINT AS n_events, max(nm)::BIGINT AS n_merchants, " +
        "sum(t)::BIGINT AS ent_scaled FROM t GROUP BY 1) " +
        "SELECT user_id, n_events, n_merchants, ent_scaled, " +
        "floor(ent_scaled / 1000000.0 * 10000) / 10000 AS entropy, " +
        "CASE WHEN n_merchants > 1 THEN " +
        "floor(ent_scaled / 1000000.0 / ln(n_merchants::DOUBLE) * 10000) / 10000 " +
        "ELSE 0.0 END AS norm_entropy FROM p"),
    "q_target_encode" ->
      ("WITH cells AS (SELECT json_extract_string(props, '$.k') AS merchant, " +
        "count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS sum_cents " +
        "FROM events GROUP BY 1), " +
        "g AS (SELECT sum(n)::BIGINT AS tn, sum(sum_cents)::BIGINT AS tc FROM cells) " +
        "SELECT merchant, n, sum_cents, " +
        "floor(sum_cents / n * 10000) / 10000 AS naive_cents, " +
        "floor((sum_cents + 20 * (tc / tn)) / (n + 20) * 10000) / 10000 AS enc_cents " +
        "FROM cells CROSS JOIN g"),
    "q_burst_detect" ->
      ("WITH hours AS (SELECT event_type, CAST(floor(epoch_ms(ts) / 3600000) AS BIGINT) AS h, " +
        "count(*) AS n FROM events GROUP BY 1, 2), " +
        "span AS (SELECT min(h) AS h0, max(h) AS h1 FROM hours), " +
        "grid AS (SELECT event_type, unnest(range(h0, h1 + 1)) AS h " +
        "FROM (SELECT DISTINCT event_type FROM hours) CROSS JOIN span), " +
        "dense AS (SELECT grid.event_type, grid.h, coalesce(n, 0)::BIGINT AS n " +
        "FROM grid LEFT JOIN hours ON grid.event_type = hours.event_type AND grid.h = hours.h), " +
        "st AS (SELECT event_type, count(*) AS k, sum(n)::BIGINT AS s, " +
        "sum(n * n)::BIGINT AS s2 FROM dense GROUP BY 1), " +
        "j AS (SELECT dense.event_type, h, n, s / k AS mu, " +
        "sqrt(s2 / k - (s / k) * (s / k)) AS sd FROM dense JOIN st USING (event_type)) " +
        "SELECT event_type, h * 3600000 AS hour_ms, n, " +
        "floor((n - mu) / sd * 10000) / 10000 AS z FROM j " +
        "WHERE sd > 0 AND (n - mu) > 3.0 * sd"),
    "q_pareto_share" ->
      ("WITH cells AS (SELECT event_type, json_extract_string(props, '$.k') AS merchant, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS c " +
        "FROM events GROUP BY 1, 2), " +
        "run AS (SELECT event_type, merchant, c, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY c DESC, merchant) AS rnk, " +
        "sum(c) OVER (PARTITION BY event_type ORDER BY c DESC, merchant " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum FROM cells), " +
        "tot AS (SELECT event_type, count(*) AS n_merchants, sum(c)::BIGINT AS total_cents " +
        "FROM cells GROUP BY 1), " +
        "k AS (SELECT run.event_type, min(rnk)::BIGINT AS k80, " +
        "min_by(cum, rnk)::BIGINT AS cum80 FROM run JOIN tot USING (event_type) " +
        "WHERE cum * 5 >= total_cents * 4 GROUP BY 1) " +
        "SELECT event_type, n_merchants, total_cents, k80, " +
        "floor(cum80 / total_cents * 10000) / 10000 AS share80 " +
        "FROM k JOIN tot USING (event_type)"),
    "q_interarrival" ->
      ("WITH s AS (SELECT user_id, epoch_ms(ts) AS ts_ms, " +
        "epoch_ms(ts) - lag(epoch_ms(ts)) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS gap FROM events) " +
        "SELECT user_id, count(*) AS n_gaps, min(gap) AS min_gap_ms, max(gap) AS max_gap_ms, " +
        "floor(quantile_cont(gap, 0.5) * 10000) / 10000 AS p50_gap, " +
        "floor(quantile_cont(gap, 0.9) * 10000) / 10000 AS p90_gap " +
        "FROM s WHERE gap IS NOT NULL GROUP BY 1"),
    "q_concentration" ->
      ("WITH cells AS (SELECT event_type, json_extract_string(props, '$.k') AS merchant, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS c " +
        "FROM events GROUP BY 1, 2), " +
        "a AS (SELECT event_type, count(*) AS n_merchants, sum(c)::BIGINT AS total_cents, " +
        "sum(c * c)::BIGINT AS ssq FROM cells GROUP BY 1), " +
        "r AS (SELECT event_type, merchant, c, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY c DESC, merchant) AS rnk FROM cells), " +
        "tk AS (SELECT event_type, max(CASE WHEN rnk = 1 THEN c END) AS top1_cents, " +
        "sum(c)::BIGINT AS top3_cents FROM r WHERE rnk <= 3 GROUP BY 1) " +
        "SELECT a.event_type, a.n_merchants, a.total_cents, " +
        "floor(a.ssq::DOUBLE / (a.total_cents::DOUBLE * a.total_cents) * 1000000) / 1000000 AS hhi, " +
        "floor(tk.top1_cents::DOUBLE / a.total_cents * 10000) / 10000 AS top1_share, " +
        "floor(tk.top3_cents::DOUBLE / a.total_cents * 10000) / 10000 AS top3_share " +
        "FROM a JOIN tk USING (event_type)"),
    "q_recurring" ->
      ("WITH p AS (SELECT user_id, json_extract_string(props, '$.k') AS merchant, " +
        "epoch_ms(ts) AS ts_ms, event_id, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events " +
        "WHERE event_type = 'purchase'), " +
        "s AS (SELECT user_id, merchant, count(*) AS n_txn, " +
        "sum(cents)::BIGINT AS total_cents FROM p GROUP BY 1, 2 HAVING count(*) >= 3), " +
        "l AS (SELECT user_id, merchant, ts_ms, lag(ts_ms) OVER " +
        "(PARTITION BY user_id, merchant ORDER BY ts_ms, event_id) AS prev FROM p), " +
        "g AS (SELECT user_id, merchant, count(*) AS n_gaps, " +
        "min(ts_ms - prev) AS min_gap_ms, max(ts_ms - prev) AS max_gap_ms, " +
        "sum(ts_ms - prev)::BIGINT AS sum_gap FROM l WHERE prev IS NOT NULL " +
        "GROUP BY 1, 2) " +
        "SELECT s.user_id, s.merchant, s.n_txn, s.total_cents, g.min_gap_ms, " +
        "g.max_gap_ms, floor(g.sum_gap / g.n_gaps / 86400000.0 * 10000) / 10000 " +
        "AS period_days, " +
        "(g.max_gap_ms - g.min_gap_ms) * 5 * g.n_gaps <= g.sum_gap AS regular " +
        "FROM s JOIN g ON s.user_id = g.user_id AND s.merchant = g.merchant"),
    "q_ab_cuped" ->
      ("WITH b AS (SELECT user_id, epoch_ms(ts) // 86400000 AS day, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events), " +
        "md AS (SELECT (min(day) + max(day) + 1) // 2 AS mid FROM b), " +
        "per AS (SELECT user_id, " +
        "sum(CASE WHEN day < mid THEN cents ELSE 0 END)::BIGINT AS x, " +
        "sum(CASE WHEN day >= mid THEN cents ELSE 0 END)::BIGINT AS y, " +
        "CASE WHEN ('0x'||substr(md5('ab|'||user_id),1,15))::BIGINT % 2 = 0 " +
        "THEN 'A' ELSE 'B' END AS variant FROM b CROSS JOIN md GROUP BY user_id), " +
        "pool AS (SELECT count(*) AS np, sum(x::HUGEINT) AS sxp, sum(y::HUGEINT) AS syp, " +
        "sum(x::HUGEINT * x) AS sxxp, sum(x::HUGEINT * y) AS sxyp FROM per), " +
        "th AS (SELECT np, sxp, " +
        "(np::HUGEINT * sxyp - sxp * syp)::DOUBLE / (np::HUGEINT * sxxp - sxp * sxp)::DOUBLE AS theta, " +
        "sxp::DOUBLE / np AS mean_x_pool FROM pool), " +
        "v AS (SELECT variant, count(*) AS n, sum(x::HUGEINT) AS sx, " +
        "sum(y::HUGEINT) AS sy, sum(x::HUGEINT * x) AS sxx, " +
        "sum(x::HUGEINT * y) AS sxy, sum(y::HUGEINT * y) AS syy FROM per GROUP BY 1), " +
        "ex AS (SELECT variant, n, theta, sy::DOUBLE / n AS mean_y, " +
        "sx::DOUBLE / n AS mean_x, mean_x_pool, " +
        "(n::HUGEINT * syy - sy * sy)::DOUBLE / (n::DOUBLE * n) AS var_y, " +
        "(n::HUGEINT * sxx - sx * sx)::DOUBLE / (n::DOUBLE * n) AS var_x, " +
        "(n::HUGEINT * sxy - sx * sy)::DOUBLE / (n::DOUBLE * n) AS cov_xy FROM v CROSS JOIN th), " +
        "f AS (SELECT variant, n, theta, mean_y, " +
        "mean_y - theta * (mean_x - mean_x_pool) AS mean_adj, var_y, " +
        "var_y + theta * theta * var_x - 2.0 * theta * cov_xy AS var_adj FROM ex) " +
        "SELECT variant, n, floor(theta * 10000) / 10000 AS theta, " +
        "floor(mean_y * 10000) / 10000 AS mean_post, " +
        "floor(mean_adj * 10000) / 10000 AS mean_adj, " +
        "floor(var_y * 10000) / 10000 AS var_post, " +
        "floor(var_adj * 10000) / 10000 AS var_adj, " +
        "floor((var_y - var_adj) / var_y * 100 * 10000) / 10000 AS var_cut_pct FROM f"),
    "q_forget_audit" ->
      ("WITH er AS (SELECT DISTINCT user_id FROM events " +
        "WHERE ('0x'||substr(md5('erase|'||user_id),1,15))::BIGINT % 20 = 0), " +
        "tot AS (SELECT event_type, count(*) AS n_total FROM events GROUP BY 1), " +
        "gone AS (SELECT event_type, count(*) AS n_erased, " +
        "count(DISTINCT user_id) AS n_erased_users FROM events " +
        "WHERE user_id IN (SELECT user_id FROM er) GROUP BY 1), " +
        "kept AS (SELECT event_type, count(*) AS n_kept FROM events " +
        "WHERE user_id NOT IN (SELECT user_id FROM er) GROUP BY 1) " +
        "SELECT tot.event_type, tot.n_total, " +
        "coalesce(gone.n_erased, 0)::BIGINT AS n_erased, " +
        "coalesce(kept.n_kept, 0)::BIGINT AS n_kept, " +
        "coalesce(gone.n_erased_users, 0)::BIGINT AS n_erased_users " +
        "FROM tot LEFT JOIN gone USING (event_type) LEFT JOIN kept USING (event_type)"),
    "q_seasonal_anomaly" ->
      ("WITH d AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2), " +
        "w AS (SELECT event_type, day, cents, (day + 4) % 7 AS dow FROM d), " +
        "b AS (SELECT event_type, day, cents, " +
        "floor(sum(cents) OVER (PARTITION BY event_type, dow) / " +
        "count(*) OVER (PARTITION BY event_type, dow) * 10000) / 10000 AS dow_mean " +
        "FROM w), " +
        "r AS (SELECT event_type, day, cents, dow_mean, " +
        "floor((cents - dow_mean) * 10000) / 10000 AS resid FROM b), " +
        "md AS (SELECT event_type, abs(resid) AS mad FROM " +
        "(SELECT event_type, resid, day, row_number() OVER " +
        "(PARTITION BY event_type ORDER BY abs(resid), day) AS rn, " +
        "count(*) OVER (PARTITION BY event_type) AS n FROM r) t " +
        "WHERE rn = (n + 1) // 2) " +
        "SELECT r.event_type, r.day, r.cents, r.dow_mean, r.resid, md.mad " +
        "FROM r JOIN md USING (event_type) WHERE abs(r.resid) > md.mad * 3.0"),
    "q_survival" ->
      ("WITH lw AS (SELECT user_id, max(epoch_ms(ts) // 86400000) // 7 AS week " +
        "FROM events GROUP BY 1), " +
        "tot AS (SELECT count(*) AS n_total FROM lw), " +
        "spine AS (SELECT DISTINCT (epoch_ms(ts) // 86400000) // 7 AS week FROM events), " +
        "bl AS (SELECT week, count(*) AS n_churned FROM lw GROUP BY 1), " +
        "c AS (SELECT spine.week, coalesce(bl.n_churned, 0)::BIGINT AS n_churned " +
        "FROM spine LEFT JOIN bl USING (week)), " +
        "s AS (SELECT week, n_churned, " +
        "sum(n_churned) OVER (ORDER BY week DESC)::BIGINT AS survivors FROM c) " +
        "SELECT s.week, s.n_churned, s.survivors, " +
        "floor(s.survivors::DOUBLE / tot.n_total * 10000) / 10000 AS share " +
        "FROM s CROSS JOIN tot"),
    "q_seq_pairs" ->
      ("WITH g AS (SELECT user_id, event_type AS t, epoch_ms(ts) // 86400000 AS d, " +
        "min(epoch_ms(ts)) AS mn, max(epoch_ms(ts)) AS mx FROM events GROUP BY 1, 2, 3), " +
        "same AS (SELECT a.user_id, a.t AS ta, b.t AS tb FROM g a JOIN g b " +
        "ON a.user_id = b.user_id AND a.d = b.d AND a.t <> b.t AND b.mx > a.mn), " +
        "adj AS (SELECT a.user_id, a.t AS ta, b.t AS tb FROM g a JOIN g b " +
        "ON a.user_id = b.user_id AND b.d = a.d + 1 AND a.t <> b.t " +
        "AND b.mn - a.mx <= 86400000), " +
        "up AS (SELECT DISTINCT user_id, ta, tb FROM " +
        "(SELECT * FROM same UNION ALL SELECT * FROM adj) x), " +
        "au AS (SELECT t AS ta, count(DISTINCT user_id) AS n_a_users FROM g GROUP BY 1), " +
        "tot AS (SELECT count(DISTINCT user_id) AS n_total FROM events), " +
        "c AS (SELECT ta, tb, count(*) AS n_users FROM up GROUP BY 1, 2) " +
        "SELECT c.ta, c.tb, c.n_users, au.n_a_users, " +
        "floor(c.n_users::DOUBLE / tot.n_total * 10000) / 10000 AS support, " +
        "floor(c.n_users::DOUBLE / au.n_a_users * 10000) / 10000 AS confidence " +
        "FROM c JOIN au USING (ta) CROSS JOIN tot"),
    "q_cohort_ltv" ->
      ("WITH f AS (SELECT user_id, min(epoch_ms(ts) // 86400000) // 7 AS cohort_week " +
        "FROM events GROUP BY 1), " +
        "sz AS (SELECT cohort_week, count(*) AS n_users FROM f GROUP BY 1), " +
        "w AS (SELECT f.cohort_week, " +
        "(epoch_ms(e.ts) // 86400000) // 7 - f.cohort_week AS age_week, " +
        "sum(CAST(floor(e.value * 100 + 0.5) AS BIGINT))::BIGINT AS cents_week " +
        "FROM events e JOIN f ON e.user_id = f.user_id GROUP BY 1, 2), " +
        "cw AS (SELECT cohort_week, age_week, cents_week, " +
        "sum(cents_week) OVER (PARTITION BY cohort_week ORDER BY age_week)::BIGINT AS cum_cents " +
        "FROM w) " +
        "SELECT cw.cohort_week, cw.age_week, sz.n_users, cw.cents_week, cw.cum_cents, " +
        "floor(cw.cum_cents::DOUBLE / sz.n_users * 10000) / 10000 AS ltv_cents " +
        "FROM cw JOIN sz USING (cohort_week)"),
    "q_rolling_dau" ->
      ("WITH du AS (SELECT DISTINCT ts::DATE AS day, user_id FROM events), " +
        "days AS (SELECT DISTINCT day FROM du), " +
        "c AS (SELECT (du.day + r.off::INTEGER)::DATE AS day, du.user_id " +
        "FROM du CROSS JOIN range(0, 7) r(off)), " +
        "wau AS (SELECT c.day, count(DISTINCT c.user_id) AS wau_7d " +
        "FROM c JOIN days USING (day) GROUP BY 1), " +
        "dau AS (SELECT day, count(*) AS dau FROM du GROUP BY 1) " +
        "SELECT dau.day, dau.dau, wau.wau_7d, " +
        "floor(dau.dau::DOUBLE / wau.wau_7d * 10000) / 10000 AS stickiness " +
        "FROM dau JOIN wau USING (day)"),
    "q_ohlc_bars" ->
      ("WITH t AS (SELECT ts::DATE AS day, hour(ts)::BIGINT AS hh, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "lpad(epoch_ms(ts)::VARCHAR, 14, '0') || lpad(event_id::VARCHAR, 12, '0') AS k " +
        "FROM events WHERE event_type = 'purchase') " +
        "SELECT day, hh, arg_min(cents, k) AS open_cents, max(cents) AS high_cents, " +
        "min(cents) AS low_cents, arg_max(cents, k) AS close_cents, " +
        "count(*) AS n_trades, sum(cents)::BIGINT AS volume_cents " +
        "FROM t GROUP BY 1, 2"),
    "q_reconcile" ->
      ("WITH li AS (SELECT l_orderkey, sum(" +
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
        "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) * " +
        "(100 + CAST(floor(l_tax * 100 + 0.5) AS BIGINT)))::BIGINT AS computed_u " +
        "FROM lineitem GROUP BY 1), " +
        "j AS (SELECT o_orderstatus, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000 AS stored_u, " +
        "computed_u, abs(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) * 10000 " +
        "- computed_u) AS d FROM orders o LEFT JOIN li ON o.o_orderkey = li.l_orderkey), " +
        "b AS (SELECT o_orderstatus, CASE " +
        "WHEN computed_u IS NULL THEN 'no_lines' " +
        "WHEN d * 1000 <= stored_u THEN '<=0.1%' " +
        "WHEN d * 100 <= stored_u THEN '<=1%' " +
        "WHEN d * 20 <= stored_u THEN '<=5%' " +
        "WHEN d * 10 <= stored_u THEN '<=10%' " +
        "ELSE '>10%' END AS bucket, " +
        "CASE WHEN computed_u IS NULL THEN 0 ELSE d END AS d2 FROM j) " +
        "SELECT o_orderstatus, bucket, count(*) AS n_orders, " +
        "sum(d2)::BIGINT AS abs_diff_u FROM b GROUP BY 1, 2"),
    "q_markov_transitions" ->
      ("WITH s AS (SELECT user_id, event_type, lag(event_type) OVER " +
        "(PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev FROM events), " +
        "c AS (SELECT prev, event_type AS cur, count(*) AS n FROM s " +
        "WHERE prev IS NOT NULL GROUP BY 1, 2) " +
        "SELECT prev, cur, n, floor(n::DOUBLE / " +
        "sum(n) OVER (PARTITION BY prev) * 10000) / 10000 AS p FROM c"),
    "q_round_bias" ->
      ("WITH t AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS c " +
        "FROM events), " +
        "g AS (SELECT event_type, count(*) AS n, " +
        "sum(CASE WHEN c % 1000 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_r10, " +
        "sum(CASE WHEN c % 5000 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_r50, " +
        "sum(CASE WHEN c % 10000 = 0 THEN 1 ELSE 0 END)::BIGINT AS n_r100 " +
        "FROM t GROUP BY 1) " +
        "SELECT event_type, n, n_r10, n_r50, n_r100, " +
        "floor(n_r10::DOUBLE / n * 10000) / 10000 AS share_r10, " +
        "floor(n_r100::DOUBLE / n * 10000) / 10000 AS share_r100 FROM g"),
    "q_winsorize" ->
      ("WITH t AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents " +
        "FROM events), " +
        "bins AS (SELECT event_type, cents, count(*) AS c FROM t GROUP BY 1, 2), " +
        "cum AS (SELECT event_type, cents, c, " +
        "sum(c) OVER (PARTITION BY event_type ORDER BY cents)::BIGINT AS cum, " +
        "sum(c) OVER (PARTITION BY event_type)::BIGINT AS n FROM bins), " +
        "lo AS (SELECT event_type, min(cents) AS lo_cents FROM cum " +
        "WHERE cum * 100 >= n * 1 GROUP BY 1), " +
        "hi AS (SELECT event_type, min(cents) AS hi_cents FROM cum " +
        "WHERE cum * 100 >= n * 99 GROUP BY 1) " +
        "SELECT b.event_type, sum(c)::BIGINT AS n, min(lo_cents) AS lo_cents, " +
        "min(hi_cents) AS hi_cents, " +
        "sum(CASE WHEN cents < lo_cents THEN c ELSE 0 END)::BIGINT AS n_clipped_lo, " +
        "sum(CASE WHEN cents > hi_cents THEN c ELSE 0 END)::BIGINT AS n_clipped_hi, " +
        "sum(greatest(lo_cents, least(hi_cents, cents)) * c)::BIGINT AS winsorized_cents " +
        "FROM bins b JOIN lo ON b.event_type = lo.event_type " +
        "JOIN hi ON b.event_type = hi.event_type GROUP BY 1"),
    "q_var_es" ->
      ("WITH vb AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) cents, " +
        "count(*) nb FROM events GROUP BY 1, 2), " +
        "vr AS (SELECT *, coalesce(sum(nb) OVER (PARTITION BY event_type ORDER BY cents " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) cum_before, " +
        "sum(cents * nb) OVER (PARTITION BY event_type ORDER BY cents " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) cum_w_incl, " +
        "sum(nb) OVER (PARTITION BY event_type) n, " +
        "sum(cents * nb) OVER (PARTITION BY event_type) total_w FROM vb), " +
        "vk AS (SELECT *, (99 * n + 99) // 100 AS k FROM vr) " +
        "SELECT event_type, n::BIGINT AS n, k::BIGINT AS k_pos, cents AS var_cents, " +
        "(n - k + 1)::BIGINT AS tail_n, " +
        "(total_w - cum_w_incl + cents * (cum_before + nb - k + 1))::BIGINT AS tail_cents, " +
        "floor(cents / 100.0 * 10000) / 10000 AS var_usd, " +
        "floor((total_w - cum_w_incl + cents * (cum_before + nb - k + 1)) / (n - k + 1) " +
        "/ 100.0 * 10000) / 10000 AS es_usd " +
        "FROM vk WHERE cum_before < k AND cum_before + nb >= k"),
    "q_smurf_motifs" ->
      ("WITH su AS (SELECT user_id, CAST(json_extract_string(props, '$.k') AS BIGINT) m, " +
        "(epoch_ms(ts) // 3600000) * 3600000 AS hour_ms FROM events), " +
        "sfl AS (SELECT * FROM su WHERE m IS NOT NULL), " +
        "ssc AS (SELECT 'scatter' AS motif, user_id AS id, hour_ms, " +
        "count(DISTINCT m) AS fan FROM sfl GROUP BY 2, 3 HAVING count(DISTINCT m) >= 3), " +
        "sga AS (SELECT 'gather' AS motif, m AS id, hour_ms, " +
        "count(DISTINCT user_id) AS fan FROM sfl GROUP BY 2, 3 " +
        "HAVING count(DISTINCT user_id) >= 3) " +
        "SELECT * FROM ssc UNION ALL SELECT * FROM sga"),
    "q_ab_sprt" ->
      ("WITH spu0 AS (SELECT user_id, min(epoch_ms(ts) // 86400000)::BIGINT AS day, " +
        "min(CASE WHEN event_type = 'purchase' THEN epoch_ms(ts) // 86400000 END)::BIGINT " +
        "AS fpd FROM events GROUP BY 1), " +
        "spu AS (SELECT user_id, day, CASE WHEN fpd IS NOT NULL AND fpd = day " +
        "THEN 1 ELSE 0 END::BIGINT AS conv FROM spu0), " +
        "spv AS (SELECT *, CASE WHEN ('0x'||substr(md5('ab|'||user_id),1,15))::BIGINT % 2 = 0 " +
        "THEN 'A' ELSE 'B' END AS variant FROM spu), " +
        "sp0 AS (SELECT least(greatest(sum(conv) / count(*), 0.000001), 0.998) AS p0 " +
        "FROM spv WHERE variant = 'A'), " +
        "sp1 AS (SELECT p0, least(p0 * 1.25, 0.999) AS p1 FROM sp0), " +
        "spw AS (SELECT CAST(floor(ln(p1 / p0) * 1000000) AS BIGINT) AS w1, " +
        "CAST(floor(ln((1 - p1) / (1 - p0)) * 1000000) AS BIGINT) AS w0, " +
        "CAST(floor(ln(19) * 1000000) AS BIGINT) AS thr_hi, " +
        "CAST(floor(-ln(19) * 1000000) AS BIGINT) AS thr_lo FROM sp1), " +
        "spd AS (SELECT day, count(*) AS n_users, sum(conv)::BIGINT AS n_conv " +
        "FROM spv WHERE variant = 'B' GROUP BY 1), " +
        "spl AS (SELECT day, n_users, n_conv, " +
        "n_conv * w1 + (n_users - n_conv) * w0 AS llr_scaled, thr_hi, thr_lo " +
        "FROM spd CROSS JOIN spw), " +
        "spc AS (SELECT *, sum(llr_scaled) OVER (ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT AS cum_llr_scaled " +
        "FROM spl) " +
        "SELECT day, n_users, n_conv, llr_scaled::BIGINT AS llr_scaled, cum_llr_scaled, " +
        "CASE WHEN cum_llr_scaled >= thr_hi THEN 'accept_h1' " +
        "WHEN cum_llr_scaled <= thr_lo THEN 'accept_h0' ELSE 'continue' END AS decision " +
        "FROM spc"),
    "q_skyline" ->
      ("WITH sk AS (SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) m, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT total_cents, " +
        "count(DISTINCT user_id) n_users FROM events " +
        "WHERE json_extract_string(props, '$.k') IS NOT NULL GROUP BY 1), " +
        "sr AS (SELECT *, max(n_users) OVER (ORDER BY total_cents DESC " +
        "RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS max_users_above, " +
        "max(n_users) OVER (PARTITION BY total_cents) AS max_users_tie FROM sk) " +
        "SELECT m, total_cents, n_users FROM sr " +
        "WHERE (max_users_above IS NULL OR n_users > max_users_above) " +
        "AND n_users = max_users_tie"),
    "q_twab" ->
      ("WITH tw AS (SELECT user_id, epoch_ms(ts) ts_ms, event_id, " +
        "CASE WHEN event_type = 'purchase' THEN -CAST(floor(value * 100 + 0.5) AS BIGINT) " +
        "ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS delta FROM events), " +
        "tb AS (SELECT user_id, ts_ms, " +
        "sum(delta) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)::BIGINT bal, " +
        "lead(ts_ms) OVER (PARTITION BY user_id ORDER BY ts_ms, event_id) - ts_ms " +
        "AS held_ms FROM tw), " +
        "tg AS (SELECT user_id, count(*) n_intervals, sum(held_ms)::BIGINT span_ms, " +
        "sum(bal * held_ms)::BIGINT weighted_scaled FROM tb " +
        "WHERE held_ms IS NOT NULL GROUP BY 1) " +
        "SELECT user_id, n_intervals, span_ms, weighted_scaled, " +
        "floor(weighted_scaled / span_ms / 100 * 10000) / 10000 AS twab_usd " +
        "FROM tg WHERE span_ms > 0"),
    "q_rolling_corr" ->
      ("WITH rd AS (SELECT epoch_ms(ts) // 86400000 AS day, event_type, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT c FROM events " +
        "WHERE event_type IN ('purchase', 'view') GROUP BY 1, 2), " +
        "rt AS (SELECT day, " +
        "sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END)::BIGINT x, " +
        "sum(CASE WHEN event_type = 'view' THEN c ELSE 0 END)::BIGINT y " +
        "FROM rd GROUP BY 1), " +
        "rw AS (SELECT day, x, y, count(*) OVER w n, sum(x) OVER w sx, sum(y) OVER w sy, " +
        "sum(x * x) OVER w sxx, sum(y * y) OVER w syy, sum(x * y) OVER w sxy " +
        "FROM rt WINDOW w AS (ORDER BY day RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)) " +
        "SELECT day, n::BIGINT AS n_days, x AS x_cents, y AS y_cents, " +
        "CASE WHEN (sxx - sx::DOUBLE * sx / n) > 0 AND (syy - sy::DOUBLE * sy / n) > 0 " +
        "THEN floor((sxy - sx::DOUBLE * sy / n) / " +
        "sqrt((sxx - sx::DOUBLE * sx / n) * (syy - sy::DOUBLE * sy / n)) * 10000) / 10000 " +
        "END AS corr_7d FROM rw WHERE n >= 3"),
    "q_slo_burn" ->
      ("WITH sb AS (SELECT epoch_ms(ts) // 3600000 AS h, count(*) AS n, " +
        "sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)::BIGINT AS n_err " +
        "FROM events GROUP BY 1), " +
        "sr AS (SELECT h, n, n_err, " +
        "sum(n) OVER w AS n6, sum(n_err) OVER w AS e6 FROM sb " +
        "WINDOW w AS (ORDER BY h RANGE BETWEEN 5 PRECEDING AND CURRENT ROW)) " +
        "SELECT h, n, n_err, " +
        "floor(n_err / n / 0.01 * 10000) / 10000 AS burn_1h, " +
        "floor(e6 / n6 / 0.01 * 10000) / 10000 AS burn_6h, " +
        "(n_err / n / 0.01 >= 14.4 AND e6 / n6 / 0.01 >= 14.4) AS page FROM sr"),
    "q_dp_histogram" ->
      ("WITH dph AS (SELECT epoch_ms(ts) // 86400000 AS day, count(*) AS n FROM events GROUP BY 1), " +
        "dpu AS (SELECT day, n, " +
        "(('0x' || substr(md5('dp|' || day::VARCHAR), 1, 15))::BIGINT::DOUBLE + 0.5) " +
        "/ 1152921504606846976.0 AS u FROM dph), " +
        "dpl AS (SELECT day, n, " +
        "-2.0 * sign(u - 0.5) * ln(1.0 - 2.0 * abs(u - 0.5)) AS lap FROM dpu) " +
        "SELECT day, n, CAST(floor(lap * 1000000.0) AS BIGINT) AS lap_scaled, " +
        "n + CAST(floor(lap + 0.5) AS BIGINT) AS released FROM dpl"),
    "q_bootstrap_ci" ->
      ("WITH bce AS (SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) cents, " +
        "unnest(range(1, 41)) b FROM events), " +
        "bcu AS (SELECT b, cents, " +
        "(('0x' || substr(md5('boot|' || event_id::VARCHAR || '#' || b::VARCHAR), 1, 15))::BIGINT::DOUBLE + 0.5) " +
        "/ 1152921504606846976.0 AS u FROM bce), " +
        "bcw AS (SELECT b, cents, CASE " +
        poissonThresholds.zipWithIndex
          .map { case (t, k) => s"WHEN u < ${plainD(t)} THEN $k " }.mkString +
        s"ELSE ${poissonThresholds.size} END AS w FROM bcu), " +
        "bcm AS (SELECT b::BIGINT b, sum(w)::BIGINT n_eff, sum(w * cents)::BIGINT wsum_cents " +
        "FROM bcw GROUP BY 1) " +
        "SELECT b, n_eff, wsum_cents, " +
        "floor(wsum_cents / n_eff / 100 * 10000) / 10000 AS mean_usd, " +
        "row_number() OVER (ORDER BY wsum_cents / n_eff, b)::BIGINT AS rnk FROM bcm"),
    "q_conformal" ->
      ("WITH cfb AS (SELECT event_id, event_type, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) cents, event_id % 2 AS half FROM events), " +
        "cfm AS (SELECT event_type, count(*)::BIGINT n_train, " +
        "CAST((sum(cents)::HUGEINT * 1000000) // count(*) AS BIGINT) mu_scaled " +
        "FROM cfb WHERE half = 0 GROUP BY 1), " +
        "cfc AS (SELECT c.event_type, m.n_train, m.mu_scaled, " +
        "abs(c.cents * 1000000 - m.mu_scaled) AS score, c.event_id " +
        "FROM cfb c JOIN cfm m USING (event_type) WHERE c.half = 1), " +
        "cfr AS (SELECT *, row_number() OVER (PARTITION BY event_type " +
        "ORDER BY score, event_id) rnk, count(*) OVER (PARTITION BY event_type) n_cal " +
        "FROM cfc) " +
        "SELECT event_type, n_train, n_cal::BIGINT AS n_cal, mu_scaled, " +
        "score AS qhat_scaled, " +
        "floor((mu_scaled - score) / 1000000.0 / 100 * 10000) / 10000 AS lo_usd, " +
        "floor((mu_scaled + score) / 1000000.0 / 100 * 10000) / 10000 AS hi_usd " +
        "FROM cfr WHERE rnk = least(CAST(ceil((n_cal + 1) * 0.9) AS BIGINT), n_cal)"),
    "q_week_discord" ->
      ("WITH wd AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT c FROM events GROUP BY 1, 2), " +
        "wv AS (SELECT event_type, day // 7 AS week, day % 7 AS dow, c FROM wd), " +
        "wk AS (SELECT DISTINCT event_type, week FROM wv), " +
        "dows AS (SELECT unnest(range(0, 7)) AS dow), " +
        "dense AS (SELECT wk.event_type, wk.week, dows.dow, coalesce(wv.c, 0)::BIGINT c " +
        "FROM wk CROSS JOIN dows LEFT JOIN wv ON wv.event_type = wk.event_type " +
        "AND wv.week = wk.week AND wv.dow = dows.dow), " +
        "pr AS (SELECT a.event_type, a.week, b.week AS other_week, " +
        "sum((a.c - b.c)::HUGEINT * (a.c - b.c)::HUGEINT) AS dist2 " +
        "FROM dense a JOIN dense b ON a.event_type = b.event_type " +
        "AND a.dow = b.dow AND a.week <> b.week GROUP BY 1, 2, 3), " +
        "nn AS (SELECT event_type, week, other_week AS nn_week, dist2 AS nnd, " +
        "row_number() OVER (PARTITION BY event_type, week ORDER BY dist2, other_week) r " +
        "FROM pr QUALIFY r = 1) " +
        "SELECT event_type, week, nn_week, nnd::DOUBLE AS nn_dist2, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY nnd DESC, week)::BIGINT " +
        "AS discord_rank FROM nn QUALIFY discord_rank <= 3"),
    "q_freshness" ->
      ("WITH f AS (SELECT 'events' AS table_name, count(*) AS n_rows, " +
        "max(epoch_ms(ts)) AS last_ts_ms, 3600000 AS slo_ms FROM events " +
        "UNION ALL SELECT 'orders', count(*), max(epoch_ms(o_orderdate)), " +
        "172800000 FROM orders), " +
        "h AS (SELECT max(last_ts_ms) AS head_ms FROM f) " +
        "SELECT table_name, n_rows, last_ts_ms, " +
        "(head_ms - last_ts_ms)::BIGINT AS lag_ms, slo_ms::BIGINT AS slo_ms, " +
        "(head_ms - last_ts_ms > slo_ms) AS stale FROM f CROSS JOIN h"),
    "q_dsar_export" ->
      ("SELECT 'events' AS table_name, count(*) AS n_rows, " +
        "coalesce(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)), 0)::BIGINT AS cents_total, " +
        "min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms " +
        "FROM events WHERE user_id = 7 " +
        "UNION ALL " +
        "SELECT 'customer', count(*), " +
        "coalesce(sum(CAST(floor(c_acctbal * 100 + 0.5) AS BIGINT)), 0)::BIGINT, " +
        "NULL::BIGINT, NULL::BIGINT FROM customer WHERE c_custkey = 7 " +
        "UNION ALL " +
        "SELECT 'orders', count(*), " +
        "coalesce(sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT)), 0)::BIGINT, " +
        "min(epoch_ms(o_orderdate)), max(epoch_ms(o_orderdate)) " +
        "FROM orders WHERE o_custkey = 7"),
    "q_abtest" ->
      ("WITH pu AS (SELECT user_id, " +
        "max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)::BIGINT AS conv, " +
        "CASE WHEN ('0x'||substr(md5('ab|'||user_id),1,15))::BIGINT % 2 = 0 " +
        "THEN 'A' ELSE 'B' END AS variant FROM events GROUP BY user_id), " +
        "g AS (SELECT " +
        "sum(CASE WHEN variant = 'A' THEN 1 ELSE 0 END)::BIGINT AS n_a, " +
        "sum(CASE WHEN variant = 'A' THEN conv ELSE 0 END)::BIGINT AS c_a, " +
        "sum(CASE WHEN variant = 'B' THEN 1 ELSE 0 END)::BIGINT AS n_b, " +
        "sum(CASE WHEN variant = 'B' THEN conv ELSE 0 END)::BIGINT AS c_b FROM pu), " +
        "e AS (SELECT n_a, c_a, n_b, c_b, c_a * n_b - c_b * n_a AS d, " +
        "n_a + n_b AS nn, c_a + c_b AS cc FROM g), " +
        "z AS (SELECT n_a, c_a, n_b, c_b, " +
        "CASE WHEN cc > 0 AND cc < nn AND n_a > 0 AND n_b > 0 THEN " +
        "floor(d::DOUBLE * d::DOUBLE * nn::DOUBLE / " +
        "((cc * (nn - cc))::DOUBLE * (n_a * n_b)::DOUBLE) * 10000) / 10000 " +
        "ELSE NULL END AS z2 FROM e) " +
        "SELECT n_a, c_a, n_b, c_b, z2, coalesce(z2 > 3.8415, FALSE) AS significant FROM z"),
    "q_impute" ->
      ("WITH t AS (SELECT event_type, CASE WHEN " +
        "('0x'||substr(md5('null|'||event_id),1,15))::BIGINT % 10 = 0 " +
        "THEN NULL ELSE CAST(floor(value * 100 + 0.5) AS BIGINT) END AS cents " +
        "FROM events), " +
        "g AS (SELECT event_type, count(*) AS n_total, " +
        "sum(CASE WHEN cents IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_missing, " +
        "CAST(quantile_cont(cents, 0.5) * 2 AS BIGINT) AS median_x2, " +
        "(sum(cents) * 2)::BIGINT AS present_sum_x2 FROM t GROUP BY 1) " +
        "SELECT event_type, n_total, n_missing, median_x2, " +
        "present_sum_x2 + n_missing * median_x2 AS imputed_sum_x2 FROM g"),
    "q_group_split" ->
      ("WITH t AS (SELECT user_id, value, CASE " +
        "WHEN ('0x'||substr(md5('gsplit|'||user_id),1,15))::BIGINT % 100 < 80 THEN 'train' " +
        "WHEN ('0x'||substr(md5('gsplit|'||user_id),1,15))::BIGINT % 100 < 90 THEN 'val' " +
        "ELSE 'test' END AS split FROM events) " +
        "SELECT split, count(DISTINCT user_id) AS n_users, count(*) AS n_events, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM t GROUP BY 1"),
    "q_rfm" ->
      ("WITH per AS (SELECT user_id, max(ts::DATE) AS last_day, count(*) AS freq, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1), " +
        "a AS (SELECT max(last_day) AS corpus_day FROM per), " +
        "s AS (SELECT user_id, (corpus_day - last_day)::BIGINT AS recency_days, " +
        "freq, cents, " +
        "ntile(5) OVER (ORDER BY corpus_day - last_day, user_id)::BIGINT AS r, " +
        "ntile(5) OVER (ORDER BY freq DESC, user_id)::BIGINT AS f, " +
        "ntile(5) OVER (ORDER BY cents DESC, user_id)::BIGINT AS m " +
        "FROM per CROSS JOIN a) " +
        "SELECT user_id, recency_days, freq, cents, r, f, m, " +
        "r * 100 + f * 10 + m AS segment FROM s"),
    "q_peer_anomaly" ->
      ("WITH t AS (SELECT event_type, user_id, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS u " +
        "FROM events GROUP BY 1, 2), " +
        "p AS (SELECT event_type AS pt, count(*) AS n, sum(u)::BIGINT AS s, " +
        "sum(u * u)::BIGINT AS q FROM t GROUP BY 1 HAVING count(*) >= 10) " +
        "SELECT event_type, user_id, " +
        "floor(u / 100.0 * 100) / 100 AS total, " +
        "floor(s / (n * 100.0) * 100) / 100 AS peer_mean, " +
        "floor((n * u - s) / sqrt((n * q - s * s)::DOUBLE) * 100) / 100 AS z_score " +
        "FROM t JOIN p ON event_type = pt " +
        "WHERE (n * u - s) * (n * u - s) > 9 * (n * q - s * s) " +
        "AND (n * q - s * s) > 0"),
    "q_w1_drift" ->
      ("WITH wtg AS (SELECT event_type, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 2 END AS s FROM events), " +
        "wpv AS (SELECT event_type, cents, " +
        "sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS a1, " +
        "sum(CASE WHEN s = 2 THEN 1 ELSE 0 END)::BIGINT AS a2 FROM wtg GROUP BY 1, 2), " +
        "wcm AS (SELECT event_type, cents, " +
        "sum(a1) OVER (PARTITION BY event_type ORDER BY cents ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS c1, " +
        "sum(a2) OVER (PARTITION BY event_type ORDER BY cents ROWS BETWEEN " +
        "UNBOUNDED PRECEDING AND CURRENT ROW) AS c2, " +
        "lead(cents) OVER (PARTITION BY event_type ORDER BY cents) - cents AS width " +
        "FROM wpv), " +
        "wns AS (SELECT event_type, sum(a1)::BIGINT AS n1, sum(a2)::BIGINT AS n2 " +
        "FROM wpv GROUP BY 1), " +
        "wag AS (SELECT wcm.event_type, max(n1) AS n1, max(n2) AS n2, " +
        "sum(abs(c1::HUGEINT * n2 - c2::HUGEINT * n1) * width) AS w1_num " +
        "FROM wcm JOIN wns USING (event_type) WHERE width IS NOT NULL GROUP BY 1) " +
        "SELECT event_type, n1, n2, " +
        "((w1_num * 10000) // (n1::HUGEINT * n2 * 100))::BIGINT AS w1_scaled, " +
        "((w1_num * 10000) // (n1::HUGEINT * n2 * 100))::DOUBLE / 10000.0 AS w1_dollars " +
        "FROM wag WHERE n1 > 0 AND n2 > 0"),
    "q_fdr_bh" ->
      ("WITH fm AS (SELECT json_extract_string(props, '$.k') AS merchant, " +
        "count(*)::BIGINT AS n_events FROM events " +
        "WHERE json_extract_string(props, '$.k') IS NOT NULL GROUP BY 1), " +
        "ft AS (SELECT count(*)::HUGEINT AS mm, sum(n_events)::HUGEINT AS nn FROM fm), " +
        "fs AS (SELECT merchant, n_events, abs(n_events::HUGEINT * mm - nn) AS dev, " +
        "mm, nn FROM fm CROSS JOIN ft), " +
        "fr AS (SELECT *, row_number() OVER (ORDER BY dev DESC, merchant) AS i FROM fs), " +
        "fp AS (SELECT *, (dev * dev > nn * (mm - 1) AND " +
        "100 * mm * nn * (mm - 1) <= 5 * i * dev * dev) AS pass FROM fr), " +
        "fk AS (SELECT *, max(CASE WHEN pass THEN i END) OVER () AS kmax FROM fp) " +
        "SELECT merchant, n_events, dev::BIGINT AS dev, " +
        "CASE WHEN dev * dev > nn * (mm - 1) THEN " +
        "floor((nn * (mm - 1))::DOUBLE / (dev * dev)::DOUBLE * 10000) / 10000 " +
        "ELSE 1.0 END AS p_cheb, i::BIGINT AS bh_rank, " +
        "(kmax IS NOT NULL AND i <= kmax) AS flagged FROM fk"),
    "q_hbos" ->
      ("WITH hb AS (SELECT event_id, CAST(floor(value / 10) AS BIGINT) AS b_amt, " +
        "hour(ts)::BIGINT AS b_hour, dayofweek(ts)::BIGINT + 1 AS b_dow FROM events), " +
        "ht AS (SELECT count(*)::BIGINT AS nn FROM hb), " +
        "h1 AS (SELECT b_amt, count(*)::BIGINT AS n_amt FROM hb GROUP BY 1), " +
        "h2 AS (SELECT b_hour, count(*)::BIGINT AS n_hour FROM hb GROUP BY 1), " +
        "h3 AS (SELECT b_dow, count(*)::BIGINT AS n_dow FROM hb GROUP BY 1) " +
        "SELECT event_id, b_amt, b_hour, b_dow, " +
        "CAST(floor(ln(nn::DOUBLE / n_amt) * 1000000) AS BIGINT) + " +
        "CAST(floor(ln(nn::DOUBLE / n_hour) * 1000000) AS BIGINT) + " +
        "CAST(floor(ln(nn::DOUBLE / n_dow) * 1000000) AS BIGINT) AS score_scaled " +
        "FROM hb JOIN h1 USING (b_amt) JOIN h2 USING (b_hour) " +
        "JOIN h3 USING (b_dow) CROSS JOIN ht " +
        "ORDER BY score_scaled DESC, event_id LIMIT 20"),
    "q_ks_drift" ->
      ("WITH tg AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "CASE WHEN ts < TIMESTAMP '2024-01-16' THEN 1 ELSE 2 END AS s FROM events), " +
        "pv AS (SELECT cents, " +
        "sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS a1, " +
        "sum(CASE WHEN s = 2 THEN 1 ELSE 0 END)::BIGINT AS a2 FROM tg GROUP BY 1), " +
        "cm AS (SELECT cents, " +
        "sum(a1) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS c1, " +
        "sum(a2) OVER (ORDER BY cents ROWS BETWEEN UNBOUNDED PRECEDING AND " +
        "CURRENT ROW) AS c2 FROM pv), " +
        "ns AS (SELECT sum(CASE WHEN s = 1 THEN 1 ELSE 0 END)::BIGINT AS n1, " +
        "sum(CASE WHEN s = 2 THEN 1 ELSE 0 END)::BIGINT AS n2 FROM tg) " +
        "SELECT n1, n2, max(abs(n2 * c1 - n1 * c2))::BIGINT AS d_scaled, " +
        "floor(max(abs(n2 * c1 - n1 * c2))::DOUBLE / (n1 * n2) * 10000) / 10000 " +
        "AS ks_d FROM cm CROSS JOIN ns GROUP BY 1, 2"),
    "q_gini_spend" ->
      ("WITH t AS (SELECT user_id, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS t FROM events " +
        "GROUP BY 1), " +
        "r AS (SELECT t, row_number() OVER (ORDER BY t, user_id) AS i FROM t), " +
        "st AS (SELECT count(*) AS n_users, sum(t)::BIGINT AS total_cents, " +
        "sum(i * t)::BIGINT AS rank_weighted FROM r) " +
        "SELECT n_users, total_cents, " +
        "(2 * rank_weighted - (n_users + 1) * total_cents)::BIGINT AS num, " +
        "floor((2 * rank_weighted - (n_users + 1) * total_cents)::DOUBLE / " +
        "(n_users * total_cents) * 10000) / 10000 AS gini FROM st"),
    "q_growth_accounting" ->
      ("WITH acts AS (SELECT DISTINCT user_id, ts::DATE AS day FROM events), " +
        "f AS (SELECT *, min(day) OVER (PARTITION BY user_id) AS first_day, " +
        "lead(day) OVER (PARTITION BY user_id ORDER BY day) AS next_day FROM acts), " +
        "m AS (SELECT max(day) AS max_day FROM acts) " +
        "SELECT day, count(*) AS n_active, " +
        "sum(CASE WHEN day = first_day THEN 1 ELSE 0 END)::BIGINT AS n_new, " +
        "sum(CASE WHEN day <> first_day THEN 1 ELSE 0 END)::BIGINT AS n_returning, " +
        "sum(CASE WHEN day <> max_day AND (next_day IS NULL OR next_day - day > 1) " +
        "THEN 1 ELSE 0 END)::BIGINT AS n_churned_next " +
        "FROM f CROSS JOIN m GROUP BY 1"),
    "q_ts_trend" ->
      ("WITH daily AS (SELECT ts::DATE AS day, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT // 100 AS v " +
        "FROM events GROUP BY 1), " +
        "ix AS (SELECT v, row_number() OVER (ORDER BY day) - 1 AS x FROM daily), " +
        "st AS (SELECT count(*) AS n, sum(x)::BIGINT AS sx, sum(v)::BIGINT AS sy, " +
        "sum(x * v)::BIGINT AS sxy, sum(x * x)::BIGINT AS sxx FROM ix) " +
        "SELECT n AS n_days, " +
        "(n * sxy - sx * sy)::BIGINT AS num, (n * sxx - sx * sx)::BIGINT AS den, " +
        "floor((n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx) * 10000) / 10000 " +
        "AS slope, " +
        "floor((sy - (n * sxy - sx * sy)::DOUBLE / (n * sxx - sx * sx) * sx) / n " +
        "* 10000) / 10000 AS intercept FROM st"),
    "q_ts_acf" ->
      ("WITH daily AS (SELECT ts::DATE AS day, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT // 100 AS v " +
        "FROM events GROUP BY 1), " +
        "st AS (SELECT count(*) AS n, sum(v)::BIGINT AS s FROM daily), " +
        "dv AS (SELECT day, n * v - s AS dev FROM daily CROSS JOIN st), " +
        "dn AS (SELECT sum(dev * dev)::BIGINT AS den FROM dv), " +
        "lg AS (SELECT l.lag, a.dev AS adev, b.dev AS bdev " +
        "FROM dv a CROSS JOIN (SELECT unnest(range(1, 8)) AS lag) l " +
        "JOIN dv b ON b.day = a.day + l.lag::INTEGER) " +
        "SELECT lag::BIGINT AS lag, count(*) AS n_pairs, " +
        "floor(sum(adev * bdev)::DOUBLE / any_value(den) * 10000) / 10000 AS acf " +
        "FROM lg CROSS JOIN dn GROUP BY 1"),
    "q_psi_drift" ->
      ("WITH d0 AS (SELECT min(epoch_ms(ts) // 86400000) AS d0 FROM events), " +
        "b AS (SELECT event_type, " +
        "CASE WHEN epoch_ms(ts) // 86400000 < d0 + 15 THEN 'ref' ELSE 'cur' END AS period, " +
        "least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 5000, 9) AS bin " +
        "FROM events CROSS JOIN d0), " +
        "c AS (SELECT event_type, period, bin, count(*) AS n FROM b GROUP BY 1, 2, 3), " +
        "g AS (SELECT event_type, unnest(range(0, 10)) AS bin " +
        "FROM (SELECT DISTINCT event_type FROM b)), " +
        "gp AS (SELECT g.event_type, g.bin, p.period FROM g " +
        "CROSS JOIN (SELECT unnest(['ref', 'cur']) AS period) p), " +
        "f AS (SELECT gp.event_type, gp.bin, gp.period, coalesce(c.n, 0) AS n " +
        "FROM gp LEFT JOIN c ON gp.event_type = c.event_type " +
        "AND gp.bin = c.bin AND gp.period = c.period), " +
        "t AS (SELECT *, sum(n) OVER (PARTITION BY event_type, period) AS n_tot FROM f), " +
        "w AS (SELECT event_type, bin, " +
        "sum(CASE WHEN period = 'ref' THEN n END)::BIGINT AS n_ref, " +
        "sum(CASE WHEN period = 'cur' THEN n END)::BIGINT AS n_cur, " +
        "max(CASE WHEN period = 'ref' THEN (n + 1)::DOUBLE / (n_tot + 10) END) AS p_ref, " +
        "max(CASE WHEN period = 'cur' THEN (n + 1)::DOUBLE / (n_tot + 10) END) AS p_cur " +
        "FROM t GROUP BY 1, 2), " +
        "s AS (SELECT event_type, n_ref, n_cur, " +
        "CAST(floor((p_cur - p_ref) * ln(p_cur / p_ref) * 100000000) AS BIGINT) " +
        "AS term_scaled FROM w) " +
        "SELECT event_type, sum(n_ref)::BIGINT AS n_ref, sum(n_cur)::BIGINT AS n_cur, " +
        "floor(sum(term_scaled)::DOUBLE / 100000000 * 10000) / 10000 AS psi " +
        "FROM s GROUP BY 1"),
    "q_mahalanobis" ->
      ("WITH mh AS (SELECT event_id, event_type, value, hour(ts)::DOUBLE AS hr " +
        "FROM events), " +
        "mw AS (SELECT *, count(*) OVER w AS n, round(sum(value) OVER w, 2) AS sx, " +
        "round(sum(value * value) OVER w, 2) AS sxx, sum(hr) OVER w AS sy, " +
        "sum(hr * hr) OVER w AS syy, round(sum(value * hr) OVER w, 2) AS sxy " +
        "FROM mh WINDOW w AS (PARTITION BY event_type)), " +
        "md AS (SELECT *, value - sx / n AS dx, hr - sy / n AS dy, " +
        "(sxx - sx * sx / n) / (n - 1) AS vxx, " +
        "(syy - sy * sy / n) / (n - 1) AS vyy, " +
        "(sxy - sx * sy / n) / (n - 1) AS vxy FROM mw), " +
        "mf AS (SELECT *, vxx * vyy - vxy * vxy AS det, " +
        "(dx * dx * vyy - 2.0 * dx * dy * vxy + dy * dy * vxx) / " +
        "(vxx * vyy - vxy * vxy) AS d2 FROM md) " +
        "SELECT event_id, event_type, value, hr::BIGINT AS hr, " +
        "floor(d2 * 10000) / 10000 AS md2 FROM mf " +
        "WHERE n >= 30 AND det > 0 AND d2 > 13.8155"),
    "q_spc_rules" ->
      ("WITH sd AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2), " +
        "st AS (SELECT *, count(*) OVER w AS n, (sum(cents) OVER w)::HUGEINT AS s, " +
        "n * (sum(cents::HUGEINT * cents) OVER w) - " +
        "(sum(cents) OVER w)::HUGEINT * (sum(cents) OVER w)::HUGEINT AS aa " +
        "FROM sd WINDOW w AS (PARTITION BY event_type)), " +
        "sv AS (SELECT *, cents * n - s AS dev, " +
        "(cents * n - s)::HUGEINT * (cents * n - s) * (n - 1) AS d2 FROM st), " +
        "sw AS (SELECT *, " +
        "sum(CASE WHEN d2 > 4 * n * aa AND dev > 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS p2, " +
        "sum(CASE WHEN d2 > 4 * n * aa AND dev < 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS m2, " +
        "sum(CASE WHEN d2 > 1 * n * aa AND dev > 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS p1, " +
        "sum(CASE WHEN d2 > 1 * n * aa AND dev < 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS m1, " +
        "sum(CASE WHEN dev > 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS pos, " +
        "sum(CASE WHEN dev < 0 THEN 1 ELSE 0 END) " +
        "OVER (PARTITION BY event_type ORDER BY day ROWS BETWEEN 7 PRECEDING AND CURRENT ROW) AS neg, " +
        "row_number() OVER (PARTITION BY event_type ORDER BY day) AS rn FROM sv) " +
        "SELECT event_type, day, cents, dev::BIGINT AS dev, " +
        "d2 > 9 * n * aa AS r1, " +
        "(rn >= 3 AND (p2 >= 2 OR m2 >= 2)) AS r2, " +
        "(rn >= 5 AND (p1 >= 4 OR m1 >= 4)) AS r3, " +
        "(rn >= 8 AND (pos = 8 OR neg = 8)) AS r4, " +
        "(d2 > 9 * n * aa OR (rn >= 3 AND (p2 >= 2 OR m2 >= 2)) OR " +
        "(rn >= 5 AND (p1 >= 4 OR m1 >= 4)) OR " +
        "(rn >= 8 AND (pos = 8 OR neg = 8))) AS alarm FROM sw"),
    "q_cusum_volume" ->
      ("WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2), " +
        "t AS (SELECT *, count(*) OVER (PARTITION BY event_type) AS n_days, " +
        "(sum(cents) OVER (PARTITION BY event_type))::BIGINT AS total FROM daily), " +
        "c AS (SELECT *, (sum(cents * n_days - total) OVER " +
        "(PARTITION BY event_type ORDER BY day))::BIGINT AS cum FROM t), " +
        "m AS (SELECT *, (min(cum) OVER " +
        "(PARTITION BY event_type ORDER BY day))::BIGINT AS runmin FROM c) " +
        "SELECT event_type, day, cents, cum - least(runmin, 0) AS s_scaled, " +
        "cum - least(runmin, 0) > total AS shifted FROM m"),
    "q_chi2_audit" ->
      ("WITH b AS (SELECT event_type, " +
        "least(CAST(floor(value * 100 + 0.5) AS BIGINT) // 10000, 4) AS band " +
        "FROM events), " +
        "c AS (SELECT event_type, band, count(*) AS n FROM b GROUP BY 1, 2), " +
        "g AS (SELECT event_type, unnest(range(0, 5)) AS band " +
        "FROM (SELECT DISTINCT event_type FROM b)), " +
        "f AS (SELECT g.event_type, g.band, coalesce(c.n, 0) AS n " +
        "FROM g LEFT JOIN c ON g.event_type = c.event_type AND g.band = c.band), " +
        "t AS (SELECT *, sum(n) OVER (PARTITION BY event_type) AS rt, " +
        "sum(n) OVER (PARTITION BY band) AS ct, sum(n) OVER () AS grand FROM f), " +
        "e AS (SELECT *, rt * ct / grand AS expected, " +
        "CASE WHEN ct = 0 THEN 0 ELSE " +
        "CAST(floor((n - rt * ct / grand) * (n - rt * ct / grand) " +
        "/ (rt * ct / grand) * 1000000) AS BIGINT) END AS term_scaled FROM t), " +
        "z AS (SELECT *, (sum(term_scaled) OVER ())::BIGINT AS chi2_scaled FROM e) " +
        "SELECT event_type, band, n, " +
        "floor(expected * 10000) / 10000 AS expected, " +
        "floor(term_scaled::DOUBLE / 1000000 * 10000) / 10000 AS term, " +
        "floor(chi2_scaled::DOUBLE / 1000000 * 10000) / 10000 AS chi2 FROM z"),
    "q_cohort_retention" ->
      ("WITH uw AS (SELECT DISTINCT user_id, epoch_ms(ts) // 604800000 AS week " +
        "FROM events), " +
        "o AS (SELECT user_id, week, " +
        "min(week) OVER (PARTITION BY user_id) AS cohort_week FROM uw), " +
        "cells AS (SELECT cohort_week, week - cohort_week AS week_offset, " +
        "count(*) AS n_active FROM o GROUP BY 1, 2), " +
        "sz AS (SELECT cohort_week, week_offset, n_active, " +
        "max(CASE WHEN week_offset = 0 THEN n_active END) " +
        "OVER (PARTITION BY cohort_week) AS n_cohort FROM cells) " +
        "SELECT cohort_week, week_offset, n_active, n_cohort, " +
        "floor(n_active / n_cohort * 10000) / 10000 AS retention FROM sz"),
    "q_ts_gapfill" ->
      ("WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
        "count(*) AS n, sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2), " +
        "b AS (SELECT min(day) AS d0, max(day) AS d1 FROM daily), " +
        "spine AS (SELECT event_type, unnest(range(d0, d1 + 1)) AS day " +
        "FROM (SELECT DISTINCT event_type FROM daily) CROSS JOIN b), " +
        "j AS (SELECT s.event_type, s.day, coalesce(d.n, 0)::BIGINT AS n, " +
        "d.n IS NULL AS filled, d.cents " +
        "FROM spine s LEFT JOIN daily d ON s.event_type = d.event_type AND s.day = d.day) " +
        "SELECT event_type, day, n, filled, " +
        "last_value(cents IGNORE NULLS) OVER (PARTITION BY event_type ORDER BY day " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS carry_cents FROM j"),
    "q_interval_concurrency" ->
      ("WITH ch AS (SELECT user_id, event_type, epoch_ms(ts) AS tms, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev " +
        "FROM events), " +
        "kept AS (SELECT user_id, event_type, tms, event_id FROM ch " +
        "WHERE prev IS NULL OR prev <> event_type), " +
        "iv AS (SELECT user_id, event_type AS status, tms AS valid_from, " +
        "lead(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS valid_to FROM kept), " +
        "mx AS (SELECT max(valid_from) AS m FROM iv), " +
        "pts AS (SELECT status, valid_from AS ts, 1 AS delta FROM iv " +
        "UNION ALL SELECT status, coalesce(valid_to, (SELECT m FROM mx)), -1 FROM iv), " +
        "net AS (SELECT status, ts, sum(delta)::BIGINT AS net FROM pts GROUP BY 1, 2), " +
        "cum AS (SELECT status, ts, " +
        "(sum(net) OVER (PARTITION BY status ORDER BY ts))::BIGINT AS conc FROM net), " +
        "pk AS (SELECT status, ts, conc, row_number() OVER " +
        "(PARTITION BY status ORDER BY conc DESC, ts) AS rn FROM cum), " +
        "ni AS (SELECT status, count(*) AS n_intervals FROM iv GROUP BY 1) " +
        "SELECT p.status, conc AS peak_concurrency, ts AS at_ts, n_intervals " +
        "FROM pk p JOIN ni USING (status) WHERE rn = 1"),
    "q_interval_overlaps" ->
      ("WITH ch AS (SELECT user_id, event_type, epoch_ms(ts) AS tms, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev " +
        "FROM events), " +
        "kept AS (SELECT user_id, event_type, tms, event_id FROM ch " +
        "WHERE prev IS NULL OR prev <> event_type), " +
        "iv AS (SELECT user_id, event_type AS status, tms AS valid_from, " +
        "lead(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS valid_to FROM kept), " +
        "e AS (SELECT user_id, valid_from, valid_to FROM iv WHERE status = 'error' " +
        "AND valid_to IS NOT NULL AND valid_to - valid_from >= 7200000) " +
        "SELECT a.user_id AS u1, b.user_id AS u2, count(*) AS n_overlaps, " +
        "sum(least(a.valid_to, b.valid_to) - greatest(a.valid_from, b.valid_from))::BIGINT " +
        "AS overlap_ms " +
        "FROM e a JOIN e b ON a.user_id < b.user_id " +
        "AND a.valid_from < b.valid_to AND b.valid_from < a.valid_to " +
        "GROUP BY 1, 2"),
    "q_mad_outliers" ->
      ("WITH s AS (SELECT event_id, user_id, value, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events), " +
        "m AS (SELECT event_id, user_id, value, cents, " +
        "count(*) OVER (PARTITION BY user_id) AS n, " +
        "quantile_cont(cents, 0.5) OVER (PARTITION BY user_id) AS med FROM s), " +
        "d AS (SELECT *, abs(cents - med) AS dev FROM m), " +
        "dd AS (SELECT *, quantile_cont(dev, 0.5) OVER (PARTITION BY user_id) AS mad FROM d) " +
        "SELECT event_id, user_id, value, " +
        "floor(dev / (1.4826::DOUBLE * mad) * 10000) / 10000 AS rz " +
        "FROM dd WHERE n >= 10 AND mad > 0 " +
        "AND dev > 3.5::DOUBLE * (1.4826::DOUBLE * mad)"),
    "q_ts_seasonal" ->
      ("WITH daily AS (SELECT event_type, epoch_ms(ts) // 86400000 AS day, " +
        "sum(CAST(floor(value * 100 + 0.5) AS BIGINT))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2), " +
        "d AS (SELECT event_type, day, (day + 4) % 7 AS dow, cents FROM daily), " +
        "w AS (SELECT event_type, day, dow, cents, " +
        "count(*) OVER (PARTITION BY event_type, dow) AS dow_days, " +
        "(sum(cents) OVER (PARTITION BY event_type, dow))::BIGINT AS dow_cents FROM d) " +
        "SELECT event_type, day, dow, cents, " +
        "floor(dow_cents / dow_days * 10000) / 10000 AS dow_mean, " +
        "floor(cents / (dow_cents / dow_days) * 10000) / 10000 AS ratio FROM w"),
    "q_aml_velocity" -> velocitySql("event_id, user_id, ts_ms, n_win"),
    "q_aml_dormant" ->
      dormantSql("event_id, user_id, ts_ms, ts_ms - prev_ms AS gap_ms, value"),
    "q_aml_offsetting" ->
      ("WITH s AS (SELECT user_id, event_id, event_type, epoch_ms(ts) AS tms, " +
        "CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents FROM events) " +
        "SELECT a.user_id, a.cents, a.event_id AS event_id_a, b.event_id AS event_id_b, " +
        "a.event_type AS type_a, b.event_type AS type_b, b.tms - a.tms AS dt_ms " +
        "FROM s a JOIN s b ON a.user_id = b.user_id AND a.cents = b.cents " +
        "AND b.tms - a.tms <= 604800000 " +
        "AND (a.tms < b.tms OR (a.tms = b.tms AND a.event_id < b.event_id))"),
    "q_ts_ewma" ->
      ("WITH daily AS (SELECT user_id, CAST(ts AS DATE) AS day, " +
        "(sum(CAST(floor(value * 100 + 0.5) AS BIGINT)))::BIGINT AS cents " +
        "FROM events GROUP BY 1, 2), " +
        "dd AS (SELECT user_id, day, cents, " +
        "date_diff('day', min(day) OVER (PARTITION BY user_id), day) AS d FROM daily), " +
        "nm AS (SELECT user_id, day, cents, d, " +
        "(sum(cents * (1::BIGINT << d)) OVER (PARTITION BY user_id ORDER BY d " +
        "RANGE BETWEEN 14 PRECEDING AND CURRENT ROW))::BIGINT AS num FROM dd), " +
        "sc AS (SELECT user_id, day, cents, " +
        "CASE WHEN d >= 14 THEN num // (1::BIGINT << (d - 14)) " +
        "ELSE num * (1::BIGINT << (14 - d)) END AS ewma_scaled FROM nm) " +
        "SELECT user_id, day, cents, ewma_scaled, " +
        "floor(ewma_scaled::DOUBLE / 1638400 * 10000) / 10000 AS ewma FROM sc"),
    "q_aml_structuring" ->
      structuringSql("user_id, CAST(ts AS DATE) AS day, count(*) AS n_sub, " +
        "round(sum(value), 2) AS sum_sub"),
    "q_amount_outliers" ->
      outlierSql("event_id, user_id, value, " +
        "floor((value - s / n) / sqrt((sq - s * s / n) / (n - 1)) * 10000) / 10000 AS z"),
    "q_benford" ->
      ("WITH d AS (SELECT event_type, " +
        "substr(CAST(CAST(floor(value) AS BIGINT) AS VARCHAR), 1, 1) AS digit, " +
        "count(*) AS n FROM events WHERE value >= 1 GROUP BY 1, 2), " +
        "sh AS (SELECT event_type, digit, n, " +
        "floor(n::DOUBLE / sum(n) OVER (PARTITION BY event_type) * 10000) / 10000 AS share, " +
        "floor(log10(1.0 + 1.0 / digit::DOUBLE) * 10000) / 10000 AS expected FROM d) " +
        "SELECT event_type, digit, n, share, expected, " +
        "floor(abs(share - expected) * 10000) / 10000 AS abs_dev FROM sh"),
    "q_scd2" ->
      ("WITH ch AS (SELECT user_id, event_type, epoch_ms(ts) AS tms, event_id, " +
        "lag(event_type) OVER (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS prev " +
        "FROM events), " +
        "kept AS (SELECT user_id, event_type, tms, event_id FROM ch " +
        "WHERE prev IS NULL OR prev <> event_type) " +
        "SELECT user_id, event_type AS status, tms AS valid_from, " +
        "lead(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) AS valid_to, " +
        "lead(tms) OVER (PARTITION BY user_id ORDER BY tms, event_id) IS NULL AS is_current " +
        "FROM kept"),
    "q_feature_rolling" ->
      ("SELECT event_id, user_id, epoch_ms(ts) AS ts_ms, value, " +
        "count(*) OVER w7 AS n_7d, min(value) OVER w7 AS min_7d, " +
        "max(value) OVER w7 AS max_7d, lag(value) OVER wr AS prev_value, " +
        "epoch_ms(ts) - lag(epoch_ms(ts)) OVER wr AS gap_ms FROM events " +
        "WINDOW w7 AS (PARTITION BY user_id ORDER BY epoch_ms(ts) " +
        "RANGE BETWEEN 604800000 PRECEDING AND CURRENT ROW), " +
        "wr AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)"),
    "q_dq_audit" ->
      ("SELECT event_type, count(*) AS n, " +
        "sum(CASE WHEN props IS NULL THEN 1 ELSE 0 END)::BIGINT AS n_null_props, " +
        "sum(CASE WHEN value < 0 THEN 1 ELSE 0 END)::BIGINT AS n_negative, " +
        "min(epoch_ms(ts)) AS min_ts_ms, max(epoch_ms(ts)) AS max_ts_ms, " +
        "count(DISTINCT user_id) AS n_users FROM events GROUP BY 1"),
    "q_schema_drift" ->
      ("WITH sda AS (SELECT event_id, user_id, event_type, value, props FROM events), " +
        "sdb AS (SELECT event_id, user_id, event_type, " +
        "CASE WHEN event_id % 13 = 0 THEN NULL ELSE value END AS value, props " +
        "FROM events WHERE event_id % 11 <> 0), " +
        "pa AS (" + driftProfSql("sda", "a") + "), " +
        "pb AS (" + driftProfSql("sdb", "b") + ") " +
        "SELECT column_name, n_rows_a, n_rows_b, n_nulls_a, n_nulls_b, " +
        "n_distinct_a, n_distinct_b, " +
        "floor((n_nulls_b / n_rows_b - n_nulls_a / n_rows_a) * 10000) / 10000 " +
        "AS null_rate_delta, " +
        "floor(n_distinct_b / n_distinct_a * 10000) / 10000 AS distinct_ratio, " +
        "abs(floor((n_nulls_b / n_rows_b - n_nulls_a / n_rows_a) * 10000) / 10000) " +
        ">= 0.005 AS null_drift, " +
        "(floor(n_distinct_b / n_distinct_a * 10000) / 10000 < 0.5 OR " +
        "floor(n_distinct_b / n_distinct_a * 10000) / 10000 > 2.0) AS distinct_drift " +
        "FROM pa JOIN pb USING (column_name)"),
    "q_flag_summary" ->
      ("WITH s AS (SELECT user_id, 'structuring' AS flag, " +
        "round(sum(value), 2) AS amount FROM events " +
        "WHERE value >= 50 AND value < 100 " +
        "GROUP BY user_id, CAST(ts AS DATE) " +
        "HAVING count(*) >= 3 AND round(sum(value), 2) >= 150), " +
        "st AS (SELECT user_id, value, count(*) OVER w AS n, " +
        "round(sum(value) OVER w, 2) AS sm, " +
        "round(sum(value * value) OVER w, 2) AS sq FROM events " +
        "WINDOW w AS (PARTITION BY user_id)), " +
        "o AS (SELECT user_id, 'outlier' AS flag, value AS amount FROM st " +
        "WHERE n >= 10 AND (sq - sm * sm / n) / (n - 1) > 0 " +
        "AND (value - sm / n) > 3 * sqrt((sq - sm * sm / n) / (n - 1))), " +
        "u AS (SELECT * FROM s UNION ALL SELECT * FROM o) " +
        "SELECT user_id, flag, count(*) AS n_flags, " +
        "round(sum(amount), 2) AS flagged_amount FROM u GROUP BY 1, 2"))
}
