package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Broad relational-surface coverage (SURVEY.md §7 L2 "string/date/math
  * scalar coverage" + the operator checklist): every family a user of a
  * general analytics engine reaches for — window-function zoo, scalar
  * function families, subquery shapes, pivot, sessionization,
  * outer/cross joins, statistical aggregates.
  *
  * Cross-engine parity conventions as in [[Analytics]]: truncation (not
  * rounding) for derived doubles, Long for derived integers, epoch-ms
  * arithmetic for event time, explicit ROWS frames where a RANGE default
  * could differ.
  */
object SqlCoverage {
  type Q = (SparkSession, String) => DataFrame

  import graft.functions.Portable.trunc4

  private def r2(c: Column): Column = round(c, 2)

  /** Window-function zoo over orders, one deterministic total order per
    * customer (o_orderdate, o_orderkey unique tiebreak). */
  def windowZoo(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_orderdate"), col("o_orderkey"))
    val wRows = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(col("o_custkey"), col("o_orderkey"),
      dense_rank().over(w).cast("long").as("drnk"),
      ntile(4).over(w).cast("long").as("quartile"),
      coalesce(lead(col("o_totalprice"), 1).over(w), lit(-1.0)).as("next_price"),
      first_value(col("o_orderkey")).over(wRows).as("first_key"),
      last_value(col("o_orderkey")).over(wRows).as("last_key"),
      nth_value(col("o_orderkey"), 2).over(wRows).as("second_key"),
      trunc4(percent_rank().over(w)).as("prnk"),
      trunc4(cume_dist().over(w)).as("cdist"))
  }

  /** RANGE frame with numeric bounds: count of same-customer orders
    * priced within ±5000 of each order (frame defined by values, so the
    * result is deterministic regardless of tie order). */
  def windowRangeFrame(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey")).orderBy(col("o_totalprice"))
      .rangeBetween(-5000L, 5000L)
    // count only: frame SUMs use engine-specific accumulation (segment
    // trees in some engines) and are not bit-portable even truncated
    orders.select(col("o_custkey"), col("o_orderkey"),
      count(lit(1)).over(w).as("n_near_price"))
  }

  /** Date/time scalar family over o_orderdate (timestamp-typed). */
  def dateFuncs(orders: DataFrame): DataFrame =
    orders.select(col("o_orderkey"),
      year(col("o_orderdate")).cast("long").as("yr"),
      quarter(col("o_orderdate")).cast("long").as("qtr"),
      month(col("o_orderdate")).cast("long").as("mon"),
      dayofmonth(col("o_orderdate")).cast("long").as("dom"),
      (dayofweek(col("o_orderdate")) - 1).cast("long").as("dow_sun0"),
      weekofyear(col("o_orderdate")).cast("long").as("iso_week"),
      date_trunc("month", col("o_orderdate")).as("month_start"),
      last_day(col("o_orderdate")).as("month_end"),
      date_add(col("o_orderdate").cast("date"), 30).as("plus_30d"),
      add_months(col("o_orderdate").cast("date"), 2).as("plus_2m"),
      datediff(col("o_orderdate").cast("date"), lit("1995-01-01").cast("date"))
        .cast("long").as("days_since_epoch0"))

  /** Math scalar family over lineitem prices/quantities. */
  def mathFuncs(li: DataFrame): DataFrame =
    li.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
      abs(col("l_extendedprice") * -1).as("abs_price"),
      ceil(col("l_quantity")).cast("long").as("ceil_qty"),
      floor(col("l_quantity")).cast("long").as("floor_qty"),
      trunc4(sqrt(col("l_extendedprice"))).as("sqrt_price"),
      trunc4(exp(col("l_discount"))).as("exp_disc"),
      trunc4(log(col("l_extendedprice") + 1)).as("ln_price"),
      trunc4(log(10.0, col("l_extendedprice") + 1)).as("log10_price"),
      trunc4(pow(col("l_quantity"), 2)).as("qty_sq"),
      signum(col("l_extendedprice") - 30000).cast("long").as("sign_vs_30k"),
      greatest(col("l_quantity"), col("l_discount") * 100).as("greatest_v"),
      least(col("l_tax"), col("l_discount")).as("least_v"),
      pmod(col("l_orderkey"), lit(97)).cast("long").as("key_mod"))

  /** String scalar family over customer names/segments. */
  def stringFuncs(customer: DataFrame): DataFrame =
    customer.select(col("c_custkey"),
      split_part(col("c_name"), lit("#"), lit(2)).as("name_num"),
      translate(col("c_mktsegment"), "AEIOU", "aeiou").as("seg_tr"),
      instr(col("c_name"), "Customer").cast("long").as("pos_cust"),
      repeat(lit("*"), (col("c_custkey") % 4 + 1).cast("int")).as("stars"),
      lpad(col("c_custkey").cast("string"), 10, "0").as("key_pad"),
      rpad(col("c_mktsegment"), 12, ".").as("seg_pad"),
      reverse(col("c_mktsegment")).as("seg_rev"),
      regexp_replace(col("c_name"), "[0-9]", "").as("name_nonum"),
      concat(substring(col("c_mktsegment"), 1, 1),
        lower(substring(col("c_mktsegment"), 2, 100))).as("seg_title"),
      ascii(col("c_mktsegment")).cast("long").as("seg_ascii"),
      col("c_mktsegment").startsWith("A").as("starts_a"),
      col("c_mktsegment").endsWith("RE").as("ends_re"),
      col("c_name").contains("00").as("has_00"),
      length(trim(lit("  x  "))).cast("long").as("trim_len"))

  /** EXISTS correlated subquery: suppliers with a max-quantity lineitem,
    * counted per nation. */
  def existsSubquery(supplier: DataFrame, li: DataFrame, nation: DataFrame): DataFrame = {
    val hot = li.filter(col("l_quantity") >= 49).select(col("l_suppkey")).distinct()
    supplier.join(hot, supplier("s_suppkey") === hot("l_suppkey"), "left_semi")
      .join(broadcast(nation), col("s_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name")).agg(count(lit(1)).as("n_suppliers"))
  }

  /** Scalar subquery: parts priced above 90% of the global max. */
  def scalarSubquery(part: DataFrame): DataFrame = {
    val cutoff = part.agg(max(col("p_retailprice")).as("mx"))
    part.crossJoin(broadcast(cutoff))
      .filter(col("p_retailprice") > col("mx") * 0.9)
      .groupBy(col("p_brand"))
      .agg(count(lit(1)).as("n"), r2(sum(col("p_retailprice"))).as("sum_price"))
  }

  /** GROUP BY ... HAVING. */
  def havingClause(li: DataFrame): DataFrame =
    li.groupBy(col("l_suppkey"))
      .agg(count(lit(1)).as("n_items"), r2(sum(col("l_quantity"))).as("sum_qty"))
      .filter(col("n_items") >= 70)

  /** Pivot: per-user value sums by event type (fixed pivot values — no
    * driver-side distinct scan at scale). */
  def pivotEvents(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"))
      .pivot("event_type", Seq("click", "error", "purchase", "signup", "view"))
      .agg(r2(sum(col("value"))))
      .select(col("user_id"),
        coalesce(col("click"), lit(0.0)).as("click"),
        coalesce(col("error"), lit(0.0)).as("error"),
        coalesce(col("purchase"), lit(0.0)).as("purchase"),
        coalesce(col("signup"), lit(0.0)).as("signup"),
        coalesce(col("view"), lit(0.0)).as("view"))

  /** Tumbling 5-minute event-time windows (epoch-ms arithmetic). */
  def tumblingWindows(ev: DataFrame): DataFrame =
    ev.groupBy(((col("ts_ms").cast("long") / 300000L).cast("long") * 300000L).as("win_start_ms"))
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))

  /** Sliding (hopping) 10-minute windows every 5 minutes: each event
    * lands in 2 windows — explode the window starts, then aggregate.
    * The batch sibling of `window(ts, "10 minutes", "5 minutes")`. */
  def slidingWindows(ev: DataFrame, sizeMs: Long = 600000L, slideMs: Long = 300000L): DataFrame = {
    val nWins = (sizeMs / slideMs).toInt
    ev.select(col("value"), col("ts_ms"),
        explode(sequence(lit(0), lit(nWins - 1))).as("i"))
      .withColumn("win_start_ms",
        ((col("ts_ms").cast("long") / slideMs).cast("long") - col("i")) * slideMs)
      .filter(col("ts_ms") >= col("win_start_ms") &&
        col("ts_ms") < col("win_start_ms") + sizeMs)
      .groupBy(col("win_start_ms"))
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))
  }

  /** Sessionization (batch gaps-and-islands): 30-minute inactivity gap
    * splits a user's events into sessions. One shuffle on user_id. */
  def sessionize(ev: DataFrame, gapMs: Long = 1800000L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val flagged = ev.select(col("user_id"), col("ts_ms"), col("event_id"), col("value"),
      when(col("ts_ms") - lag(col("ts_ms"), 1).over(w) > gapMs || lag(col("ts_ms"), 1).over(w).isNull, 1L)
        .otherwise(0L).as("new_session"))
    val sessioned = flagged.withColumn("session_no",
      sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    sessioned.groupBy(col("user_id"), col("session_no"))
      .agg(min(col("ts_ms")).as("session_start_ms"), max(col("ts_ms")).as("session_end_ms"),
        count(lit(1)).as("n_events"), r2(sum(col("value"))).as("sum_value"))
  }

  /** Session market-basket lift: which event-type PAIRS co-occur in a
    * session beyond what their independent rates predict — the
    * association-rule screen over sessionized behavior (the retail
    * "beer and diapers" query, here on event types). Same
    * gaps-and-islands numbering as [[sessionize]]/[[funnel]];
    * candidate pairs are bounded by the TYPE domain (k types ⇒ k²/2
    * pairs per session, never event²). Lift is the PMI-style exact
    * integer cross `N·c_ab / (n_a·n_b)` with one final division —
    * no transcendental, no float threshold.
    *
    * Scale: one user_id shuffle for the session windows; the distinct
    * (session, type) collapse is map-side combined; the pair self-join
    * runs on the collapsed relation with a `<` predicate. */
  def basketLift(ev: DataFrame, gapMs: Long = 1800000L): DataFrame = Scope { s =>
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val sessioned = ev.select(col("user_id"), col("ts_ms"), col("event_id"),
        col("event_type"),
        when(lag(col("ts_ms"), 1).over(w).isNull ||
          col("ts_ms") - lag(col("ts_ms"), 1).over(w) > gapMs, 1L)
          .otherwise(0L).as("new_session"))
      .withColumn("session_no",
        sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val st = s.persist(sessioned
      .select(col("user_id"), col("session_no"), col("event_type")).distinct())
    val perType = st.groupBy(col("event_type")).agg(count(lit(1)).as("n_t"))
    val total = st.select(col("user_id"), col("session_no")).distinct()
      .agg(count(lit(1)).as("n_sessions"))
    val pairs = st.as("a")
      .join(st.as("b"), col("a.user_id") === col("b.user_id") &&
        col("a.session_no") === col("b.session_no") &&
        col("a.event_type") < col("b.event_type"))
      .groupBy(col("a.event_type").as("type_a"), col("b.event_type").as("type_b"))
      .agg(count(lit(1)).as("c_ab"))
    pairs
      .join(broadcast(perType.select(col("event_type").as("type_a"), col("n_t").as("n_a"))), "type_a")
      .join(broadcast(perType.select(col("event_type").as("type_b"), col("n_t").as("n_b"))), "type_b")
      .crossJoin(broadcast(total))
      .select(col("type_a"), col("type_b"), col("c_ab"), col("n_a"), col("n_b"),
        graft.functions.Portable.trunc4(
          (col("n_sessions").cast("decimal(38,0)") * col("c_ab")).cast("double") /
            (col("n_a").cast("decimal(38,0)") * col("n_b")).cast("double")).as("lift"))
      .localCheckpoint(true) // |types|²/2 rows
  }

  /** Equi-depth decile profile of transaction amounts — NTILE(10)
    * semantics (cents order, event_id tiebreak) computed WITHOUT a
    * global sort of the fact: the [[Monitoring.winsorize]] bin-collapse
    * pattern. The fact collapses to (cents, count) bins (amount domains
    * are bounded — cents cardinality is fixed by the price grid, not
    * the row count), ONE cumulative window runs over that tiny bin
    * relation, and each bin's count then splits arithmetically across
    * the NTILE position ranges it overlaps (a bin occupying global
    * positions [cum−c+1, cum] contributes `overlap` rows to decile d's
    * range [lo_d, hi_d]) via a broadcast join against the 10-row decile
    * table. Because every decile aggregate (n / min / max / sum) only
    * depends on HOW MANY rows of each cent value land in each decile —
    * never on which event_id — the event_id tiebreak drops out and the
    * result is bit-identical to the oracle's NTILE(10).
    *
    * All measures are integer cent sums; shares divide two exact
    * integers. */
  def decileStats(ev: DataFrame): DataFrame = Scope { s =>
    val cents = ev.select(floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val bins = s.persist(cents.groupBy(col("cents")).agg(count(lit(1)).as("c")))
    // cumulative row positions over the BIN relation (the only global
    // window — |distinct cents| rows, the winsorize discipline)
    val cum = bins.withColumn("cum", sum(col("c")).over(Window.orderBy(col("cents"))))
    val tot = bins.agg(sum(col("c")).as("n_total"),
      sum(col("cents") * col("c")).as("total_cents"))
    // NTILE(10) position ranges: the first (n mod 10) deciles hold
    // ⌈n/10⌉ rows, the rest ⌊n/10⌋ — exact SQL NTILE arithmetic
    val deciles = tot.select(col("n_total"), col("total_cents"),
        explode(sequence(lit(1L), lit(10L))).as("decile"))
      .select(col("decile"), col("total_cents"),
        ((col("decile") - 1) * expr("n_total DIV 10") +
          least(col("decile") - 1, col("n_total") % 10) + 1).as("lo"),
        (col("decile") * expr("n_total DIV 10") +
          least(col("decile"), col("n_total") % 10)).as("hi"))
    cum
      .join(broadcast(deciles),
        col("cum") - col("c") + 1 <= col("hi") && col("cum") >= col("lo"))
      .select(col("decile"), col("cents"), col("total_cents"),
        (least(col("cum"), col("hi")) -
          greatest(col("cum") - col("c") + 1, col("lo")) + 1).as("k"))
      .groupBy(col("decile"))
      .agg(sum(col("k")).as("n"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"),
        sum(col("cents") * col("k")).as("sum_cents"),
        max(col("total_cents")).as("total_cents"))
      .select(col("decile"), col("n"), col("min_cents"), col("max_cents"),
        col("sum_cents"),
        graft.functions.Portable.trunc4(
          col("sum_cents").cast("double") / col("total_cents")).as("share"))
      .localCheckpoint(true) // 10 rows; releases bins
  }

  /** Marketing-attribution join: for every purchase, the user's most
    * recent PRIOR touch (click/view) within a lookback window
    * (last-touch credit) and their earliest touch ever (first-touch) —
    * the conversion-credit query every growth pipeline runs. Expressed
    * as IGNORE-NULLS window carries over ONE per-user ordered pass
    * (`last(touch) OVER (... ROWS ... 1 PRECEDING)`), never a
    * self-join: the textbook formulation as-of-joins purchases to
    * touches, which re-shuffles the fact twice; here the carry rides
    * the same (user, time) sort the stream already needs.
    *
    * Determinism: the window order (ts_ms, event_id) is a total order,
    * and the minutes-since arithmetic is integer ms division. One
    * shuffle on user_id. */
  def attribution(ev: DataFrame, lookbackMs: Long = 7L * 86400000L): DataFrame = {
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, -1)
    val touch = col("event_type").isin("click", "view")
    val stream = ev
      .filter(col("event_type").isin("click", "view", "purchase"))
      .select(col("event_id"), col("user_id"), col("event_type"), col("ts_ms"),
        when(touch, col("event_id")).as("t_id"),
        when(touch, col("event_type")).as("t_type"),
        when(touch, col("ts_ms")).as("t_ms"))
    stream
      .withColumn("last_touch_id", last(col("t_id"), ignoreNulls = true).over(w))
      .withColumn("last_touch_type", last(col("t_type"), ignoreNulls = true).over(w))
      .withColumn("last_touch_ms", last(col("t_ms"), ignoreNulls = true).over(w))
      .withColumn("first_touch_id", first(col("t_id"), ignoreNulls = true).over(w))
      .filter(col("event_type") === "purchase" &&
        col("last_touch_id").isNotNull &&
        col("ts_ms") - col("last_touch_ms") <= lookbackMs)
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        col("last_touch_id"), col("last_touch_type"),
        expr("(ts_ms - last_touch_ms) DIV 60000").as("mins_since_last"),
        col("first_touch_id"))
  }

  /** Session funnel: per user, how many sessions saw a `view` followed
    * (at-or-after, by event time) by a `purchase` — the conversion
    * measure a product/monitoring pipeline computes over sessionized
    * history. Same gaps-and-islands numbering as [[sessionize]];
    * conversion per session reduces to min(view ts) <= max(purchase
    * ts) — pure integer min/max, engine-exact. One shuffle on user_id:
    * the session windows and both aggregations share the partitioning. */
  def funnel(ev: DataFrame, gapMs: Long = 1800000L): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val flagged = ev.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"),
      when(col("ts_ms") - lag(col("ts_ms"), 1).over(w) > gapMs || lag(col("ts_ms"), 1).over(w).isNull, 1L)
        .otherwise(0L).as("new_session"))
    val sessioned = flagged.withColumn("session_no",
      sum(col("new_session")).over(w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val perSession = sessioned.groupBy(col("user_id"), col("session_no"))
      .agg(min(when(col("event_type") === "view", col("ts_ms"))).as("first_view"),
        max(when(col("event_type") === "purchase", col("ts_ms"))).as("last_purchase"))
    perSession.groupBy(col("user_id"))
      .agg(count(lit(1)).as("n_sessions"),
        sum(when(col("first_view").isNotNull, 1L).otherwise(0L)).as("n_with_view"),
        sum(when(col("last_purchase").isNotNull, 1L).otherwise(0L)).as("n_with_purchase"),
        sum(when(col("first_view").isNotNull && col("last_purchase").isNotNull &&
          col("first_view") <= col("last_purchase"), 1L).otherwise(0L)).as("n_converted"))
  }

  /** Top user paths — the path-analysis screen next to the funnel:
    * each user's first three events (time-ordered, event_id tiebreak)
    * concatenate into a path string, and the most common paths rank
    * out. The order inside the aggregate is pinned by sorting the
    * collected (rn, type) structs — `collect_list` alone has NO order
    * guarantee under parallel merge, the classic nondeterminism trap
    * this formulation avoids by construction.
    *
    * Scale: one user_id window pass (top-3 filter drops the rest
    * early), one path hash-agg, and a rank over the tiny path table. */
  def userPaths(ev: DataFrame, k: Int = 20): DataFrame = {
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val paths = ev.select(col("user_id"), col("ts_ms"), col("event_id"), col("event_type"))
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") <= 3)
      .groupBy(col("user_id"))
      .agg(array_join(transform(
        array_sort(collect_list(struct(col("rn"), col("event_type")))),
        x => x.getField("event_type")), ">").as("path"))
    paths.groupBy(col("path")).agg(count(lit(1)).as("n_users"))
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("n_users").desc, col("path"))).cast("long"))
      .filter(col("rnk") <= k)
  }

  /** Time-to-convert latency distribution — [[funnel]]'s companion
    * measure: from each user's FIRST signup to their first purchase at
    * or after it, bucketed into whole days — the histogram a growth
    * team reads as "how long does conversion take", and the funnel's
    * latency dimension that conversion RATES hide. Pure integer
    * min/max/difference on epoch millis, engine-exact.
    *
    * Scale: two filtered aggregates and one equi-join, all sharing the
    * user_id partitioning; output is |distinct latencies| rows. */
  def convertTime(ev: DataFrame): DataFrame = {
    val s = ev.filter(col("event_type") === "signup")
      .groupBy(col("user_id")).agg(min(col("ts_ms")).as("s_ms"))
    val firstPurchase = ev.filter(col("event_type") === "purchase")
      .select(col("user_id"), col("ts_ms"))
      .join(s, "user_id")
      .filter(col("ts_ms") >= col("s_ms"))
      .groupBy(col("user_id"), col("s_ms")).agg(min(col("ts_ms")).as("p_ms"))
    firstPurchase
      .select(col("user_id"), expr("(p_ms - s_ms) div 86400000").as("delta_days"))
      .groupBy(col("delta_days")).agg(count(lit(1)).as("n_users"))
  }

  /** Full outer join: per-nation customer vs supplier counts. */
  def fullOuterJoin(customer: DataFrame, supplier: DataFrame): DataFrame = {
    val c = customer.groupBy(col("c_nationkey").as("nk")).agg(count(lit(1)).as("n_cust"))
    val s = supplier.groupBy(col("s_nationkey").as("nk")).agg(count(lit(1)).as("n_supp"))
    c.join(s, Seq("nk"), "full_outer")
      .select(col("nk").cast("long").as("nationkey"),
        coalesce(col("n_cust"), lit(0L)).as("n_cust"),
        coalesce(col("n_supp"), lit(0L)).as("n_supp"))
  }

  /** Cross join of two small dims (the one place a cross join is OK). */
  def crossJoinDims(region: DataFrame, nation: DataFrame): DataFrame =
    region.crossJoin(nation)
      .select(col("r_name"), col("n_name"),
        (col("r_regionkey") === col("n_regionkey")).as("is_home"))

  /** LIKE / ILIKE / NOT LIKE filters. */
  def likeFilters(part: DataFrame): DataFrame =
    part.filter(col("p_name").like("%s%") && !col("p_name").like("%steel%"))
      .groupBy(col("p_brand")).agg(count(lit(1)).as("n"))

  /** NULL-handling family: nullif/coalesce/nvl2-shaped CASE. */
  def nullHandling(li: DataFrame): DataFrame =
    li.select(col("l_orderkey"), col("l_linenumber").cast("long").as("l_linenumber"),
        nullif(col("l_discount"), lit(0.0)).as("disc_or_null"))
      .select(col("l_orderkey"), col("l_linenumber"),
        coalesce(col("disc_or_null"), lit(-1.0)).as("disc_coalesced"),
        col("disc_or_null").isNull.as("was_zero"),
        when(col("disc_or_null").isNotNull, "discounted").otherwise("full-price").as("price_kind"))

  /** Statistical aggregates per order priority. */
  /** Streaming-accumulator stats with a BOUND VERDICT — fully oracled
    * despite corr/covar/stddev using engine-specific accumulation
    * order and percentile_approx being approximate by design. The
    * output carries the exact group count plus booleans asserting
    * (a) each streaming accumulator agrees with the exact-integer-sums
    * derivation (the [[statsExact]] discipline) within 1e-6 relative —
    * generous against partial-merge ulp noise, far below any real
    * accumulator bug — and (b) the approx median lands between the
    * exact 40th and 60th percentiles. The DuckDB oracle recomputes n
    * and pins the verdicts TRUE, so the hash compares the VERDICT, not
    * the accumulator: a drifting accumulator or mis-ranked sketch
    * flips a boolean into a red row. Hash-checked value sibling:
    * `q_stats_exact`. */
  def statsAgg(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = round(col("o_totalprice") * 100).cast(DecimalType(38, 0))
    val cust = col("o_custkey").cast(DecimalType(38, 0))
    val agg = orders
      .select(col("o_orderpriority"), col("o_totalprice"), col("o_custkey"),
        cents.as("x"), cust.as("y"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        corr(col("o_totalprice"), col("o_custkey")).as("c_s"),
        covar_samp(col("o_totalprice"), col("o_custkey")).as("cv_s"),
        stddev_samp(col("o_totalprice")).as("sd_s"),
        var_samp(col("o_totalprice")).as("v_s"),
        percentile_approx(col("o_totalprice"), lit(0.5), lit(1000000)).as("med_s"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"),
        expr("percentile(o_totalprice, 0.4)").as("p40"),
        expr("percentile(o_totalprice, 0.6)").as("p60"))
    val nd = col("n").cast("double")
    def ifN1(c: Column): Column = when(col("n") > 1, c)
    // exact sums are in cents (x) / raw key units (y); scale back:
    // var_price = var_cents/1e4, cov_price·key = cov_cents·key/100,
    // corr is scale-invariant
    val varXc = ifN1((col("sxx") - col("sx") * col("sx") / nd) / (nd - 1))
    val varY = ifN1((col("syy") - col("sy") * col("sy") / nd) / (nd - 1))
    val covXYc = ifN1((col("sxy") - col("sx") * col("sy") / nd) / (nd - 1))
    val corrE = when(varXc > 0 && varY > 0, covXYc / sqrt(varXc * varY))
    def ok(s: Column, e: Column): Column =
      when(s.isNull || e.isNull, s.isNull && e.isNull)
        .otherwise(abs(s - e) <= greatest(lit(1.0), abs(e)) * 1e-6)
    agg.select(col("o_orderpriority"), col("n"),
      ok(col("c_s"), corrE).as("corr_ok"),
      ok(col("cv_s"), covXYc / 100).as("covar_ok"),
      ok(col("sd_s"), sqrt(varXc) / 100).as("stddev_ok"),
      ok(col("v_s"), varXc / 10000).as("var_ok"),
      (col("med_s") >= col("p40") && col("med_s") <= col("p60")).as("median_ok"))
  }

  /** Oracle-checkable exact statistics: the hash-checked sibling of
    * [[statsAgg]] (whose corr/covar/stddev accumulators are
    * accumulation-order-sensitive and therefore rows-only).
    *
    * Portability design: prices become exact integer CENTS summed in
    * DECIMAL (Spark) / HUGEINT (DuckDB) — both exact, so n, Σx, Σx²,
    * Σy, Σy², Σxy are engine-identical regardless of partial-agg merge
    * order. Every derived stat is then the SAME sequence of IEEE double
    * ops on those exact sums (cast-to-double of an exact integer is
    * correctly rounded in both engines), so var/stddev/corr/covar match
    * bit-for-bit before the final trunc4. Map-side combine applies to
    * all six sums — one shuffle of 6 numbers per group at any scale. */
  def statsExact(orders: DataFrame): DataFrame = {
    import org.apache.spark.sql.types.DecimalType
    val cents = round(col("o_totalprice") * 100).cast(DecimalType(38, 0))
    val cust = col("o_custkey").cast(DecimalType(38, 0))
    val agg = orders
      .select(col("o_orderpriority"), cents.as("x"), cust.as("y"))
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n"),
        sum(col("x")).cast("double").as("sx"),
        sum(col("x") * col("x")).cast("double").as("sxx"),
        sum(col("y")).cast("double").as("sy"),
        sum(col("y") * col("y")).cast("double").as("syy"),
        sum(col("x") * col("y")).cast("double").as("sxy"))
    val nd = col("n").cast("double")
    // n=1 groups: (n-1)=0 would give 0/0=NaN, whose floor/division
    // semantics are NOT guaranteed to agree across engines — emit NULL
    // identically instead (and NULL corr when either variance is 0)
    def ifN1(c: Column): Column = when(col("n") > 1, c)
    val varX = ifN1((col("sxx") - col("sx") * col("sx") / nd) / (nd - 1)) // cents²
    val varY = ifN1((col("syy") - col("sy") * col("sy") / nd) / (nd - 1))
    val covXY = ifN1((col("sxy") - col("sx") * col("sy") / nd) / (nd - 1))
    agg.select(col("o_orderpriority"), col("n"),
      trunc4(col("sx") / nd / 100).as("mean_price"),
      trunc4(varX / 10000 / 1e9).as("var_b"),
      trunc4(sqrt(varX) / 100 / 1000).as("stddev_k"),
      trunc4(covXY / 100 / 1e6).as("covar_m"),
      trunc4(when(varX > 0 && varY > 0, covXY / sqrt(varX * varY))).as("corr_pc"))
  }

  /** Value histogram: fixed-width buckets via integer arithmetic (no
    * engine-specific width_bucket), capped top bucket. */
  def histogram(orders: DataFrame, width: Long = 60000L, buckets: Int = 10): DataFrame =
    orders.select(least(floor(col("o_totalprice") / width), lit(buckets - 1)).cast("long").as("bucket"))
      .groupBy(col("bucket")).agg(count(lit(1)).as("n"))

  /** Typed custom Aggregator: per-priority geometric mean of the order
    * price (truncated to cents; ulp noise from partial-merge order is
    * ~1e-8 against a 0.01 grid). */
  def geoMeanPrice(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg((floor(graft.functions.GeoMean.of(col("o_totalprice")) * 100) / 100).as("geo_price"),
        count(lit(1)).as("n"))

  /** Aggregate extras: min_by/max_by (deterministic on the unique order
    * key), count_if, bool aggs, bit aggs, ordered string_agg. */
  def aggExtras(orders: DataFrame): DataFrame =
    orders.groupBy(col("o_orderpriority"))
      .agg(
        expr("max_by(o_orderstatus, o_orderkey)").as("status_of_latest"),
        expr("min_by(o_orderstatus, o_orderkey)").as("status_of_first"),
        expr("count_if(o_totalprice > 300000)").as("n_big"),
        expr("bool_and(o_totalprice > 0)").as("all_positive"),
        expr("bool_or(o_orderstatus = 'F')").as("any_f"),
        expr("bit_and(o_orderkey % 256)").as("band"),
        expr("bit_or(o_orderkey % 256)").as("bor"),
        expr("bit_xor(o_orderkey % 256)").as("bxor"),
        concat_ws("|", sort_array(collect_set(col("o_orderstatus")))).as("statuses"))

  /** Multiset set ops (INTERSECT ALL / EXCEPT ALL). */
  def setOpsAll(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    val e = ev.filter(col("event_type") === "error").select(col("user_id"))
    p.intersectAll(e).groupBy(col("user_id")).agg(count(lit(1)).as("multiplicity"))
  }

  /** Multiset difference: EXCEPT ALL keeps multiplicity — a user with
    * three purchases and one error survives twice (plain EXCEPT, the
    * q_setop_except query, would drop them entirely). Spark plans this
    * as a single hash aggregate over tagged counts — no join. */
  def setOpsExceptAll(ev: DataFrame): DataFrame = {
    val p = ev.filter(col("event_type") === "purchase").select(col("user_id"))
    val e = ev.filter(col("event_type") === "error").select(col("user_id"))
    p.exceptAll(e).groupBy(col("user_id")).agg(count(lit(1)).as("multiplicity"))
  }

  /** Unpivot (wide → long): melt the per-user pivot back into
    * (user_id, metric, value) rows with `Dataset.unpivot` — the native
    * melt operator (a generate-style expansion, no shuffle beyond the
    * pivot's own aggregate). Round-tripping [[pivotEvents]] also pins
    * the pivot's zero-fill semantics: absent (user, type) combinations
    * come back as explicit 0.0 rows. */
  def unpivotEvents(ev: DataFrame): DataFrame =
    pivotEvents(ev).unpivot(
      Array(col("user_id")),
      Array(col("click"), col("error"), col("purchase"), col("signup"), col("view")),
      "metric", "value")

  /** Array-function family over tokenized part names (scalar outputs
    * only — array columns don't canonicalize across engines). */
  def arrayFuncs(part: DataFrame): DataFrame = {
    val toks = split(col("p_name"), " ")
    part.select(col("p_partkey"),
      size(toks).cast("long").as("n_tokens"),
      element_at(toks, 1).as("first_tok"),
      array_join(array_sort(toks), ",").as("sorted_toks"),
      array_contains(toks, "green").as("has_green"),
      array_position(toks, "green").cast("long").as("green_pos"),
      array_join(slice(toks, 1, 2), " ").as("head2"),
      size(array_distinct(toks)).cast("long").as("n_distinct"),
      array_join(array_remove(toks, element_at(toks, 1)), " ").as("without_first"))
  }

  /** posexplode: token positions via ordinal explode. */
  def posExplode(part: DataFrame): DataFrame =
    part.filter(col("p_partkey") <= 200)
      .select(col("p_partkey"), posexplode(split(col("p_name"), " ")))
      .select(col("p_partkey"), col("pos").cast("long").as("pos"), col("col").as("token"))

  /** from_json into a typed struct (the schema-bound sibling of
    * get_json_object). */
  def jsonStruct(ev: DataFrame): DataFrame =
    ev.select(expr("from_json(props, 'k BIGINT').k").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  // ---- driver wiring ----

  val queries: Map[String, Q] = Map(
    "q_window_zoo" -> ((s, d) => windowZoo(Tables.orders(s, d))),
    "q_date_funcs" -> ((s, d) => dateFuncs(Tables.orders(s, d))),
    "q_math_funcs" -> ((s, d) => mathFuncs(Tables.lineitem(s, d))),
    "q_string_funcs2" -> ((s, d) => stringFuncs(Tables.customer(s, d))),
    "q_exists_subquery" -> ((s, d) => existsSubquery(Tables.supplier(s, d), Tables.lineitem(s, d), Tables.nation(s, d))),
    "q_scalar_subquery" -> ((s, d) => scalarSubquery(Tables.part(s, d))),
    "q_having" -> ((s, d) => havingClause(Tables.lineitem(s, d))),
    "q_pivot" -> ((s, d) => pivotEvents(Tables.events(s, d))),
    "q_window_tumbling" -> ((s, d) => tumblingWindows(Tables.events(s, d))),
    "q_window_sliding" -> ((s, d) => slidingWindows(Tables.events(s, d))),
    "q_window_range_frame" -> ((s, d) => windowRangeFrame(Tables.orders(s, d))),
    "q_sessionize" -> ((s, d) => sessionize(Tables.events(s, d))),
    "q_funnel" -> ((s, d) => funnel(Tables.events(s, d))),
    "q_convert_time" -> ((s, d) => convertTime(Tables.events(s, d))),
    "q_user_paths" -> ((s, d) => userPaths(Tables.events(s, d))),
    "q_attribution" -> ((s, d) => attribution(Tables.events(s, d))),
    "q_basket_lift" -> ((s, d) => basketLift(Tables.events(s, d))),
    "q_decile_stats" -> ((s, d) => decileStats(Tables.events(s, d))),
    "q_full_outer_join" -> ((s, d) => fullOuterJoin(Tables.customer(s, d), Tables.supplier(s, d))),
    "q_cross_join" -> ((s, d) => crossJoinDims(Tables.region(s, d), Tables.nation(s, d))),
    "q_like_filter" -> ((s, d) => likeFilters(Tables.part(s, d))),
    "q_null_handling" -> ((s, d) => nullHandling(Tables.lineitem(s, d))),
    "q_stats_agg" -> ((s, d) => statsAgg(Tables.orders(s, d))),
    "q_stats_exact" -> ((s, d) => statsExact(Tables.orders(s, d))),
    "q_agg_extras" -> ((s, d) => aggExtras(Tables.orders(s, d))),
    "q_setop_intersect_all" -> ((s, d) => setOpsAll(Tables.events(s, d))),
    "q_setop_except_all" -> ((s, d) => setOpsExceptAll(Tables.events(s, d))),
    "q_unpivot" -> ((s, d) => unpivotEvents(Tables.events(s, d))),
    "q_array_funcs" -> ((s, d) => arrayFuncs(Tables.part(s, d))),
    "q_json_struct" -> ((s, d) => jsonStruct(Tables.events(s, d))),
    "q_posexplode" -> ((s, d) => posExplode(Tables.part(s, d))),
    "q_geomean_udaf" -> ((s, d) => geoMeanPrice(Tables.orders(s, d))),
    "q_histogram" -> ((s, d) => histogram(Tables.orders(s, d))))

  val oracleSql: Map[String, String] = Map(
    "q_stats_exact" ->
      ("WITH p AS (SELECT o_orderpriority, " +
        "CAST(round(o_totalprice * 100) AS HUGEINT) x, CAST(o_custkey AS HUGEINT) y FROM orders), " +
        "a AS (SELECT o_orderpriority, count(*) n, " +
        "sum(x)::DOUBLE sx, sum(x*x)::DOUBLE sxx, sum(y)::DOUBLE sy, " +
        "sum(y*y)::DOUBLE syy, sum(x*y)::DOUBLE sxy FROM p GROUP BY 1), " +
        "d AS (SELECT o_orderpriority, n, n::DOUBLE nd, sx, sxx, sy, syy, sxy, " +
        "CASE WHEN n > 1 THEN (sxx - sx * sx / n::DOUBLE) / (n::DOUBLE - 1) END vx, " +
        "CASE WHEN n > 1 THEN (syy - sy * sy / n::DOUBLE) / (n::DOUBLE - 1) END vy, " +
        "CASE WHEN n > 1 THEN (sxy - sx * sy / n::DOUBLE) / (n::DOUBLE - 1) END cxy FROM a) " +
        "SELECT o_orderpriority, n, " +
        "floor(sx / nd / 100 * 10000) / 10000 AS mean_price, " +
        "floor(vx / 10000 / 1e9 * 10000) / 10000 AS var_b, " +
        "floor(sqrt(vx) / 100 / 1000 * 10000) / 10000 AS stddev_k, " +
        "floor(cxy / 100 / 1e6 * 10000) / 10000 AS covar_m, " +
        "floor(CASE WHEN vx > 0 AND vy > 0 THEN cxy / sqrt(vx * vy) END * 10000) / 10000 AS corr_pc FROM d"),
    "q_window_zoo" ->
      ("SELECT o_custkey, o_orderkey, " +
        "dense_rank() OVER w AS drnk, ntile(4) OVER w AS quartile, " +
        "coalesce(lead(o_totalprice) OVER w, -1.0) AS next_price, " +
        "first_value(o_orderkey) OVER wr AS first_key, " +
        "last_value(o_orderkey) OVER wr AS last_key, " +
        "nth_value(o_orderkey, 2) OVER wr AS second_key, " +
        "floor(percent_rank() OVER w * 10000) / 10000 AS prnk, " +
        "floor(cume_dist() OVER w * 10000) / 10000 AS cdist " +
        "FROM orders WINDOW w AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
        "wr AS (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)"),
    "q_date_funcs" ->
      ("SELECT o_orderkey, year(o_orderdate)::BIGINT yr, quarter(o_orderdate)::BIGINT qtr, " +
        "month(o_orderdate)::BIGINT mon, dayofmonth(o_orderdate)::BIGINT dom, " +
        "dayofweek(o_orderdate)::BIGINT dow_sun0, weekofyear(o_orderdate)::BIGINT iso_week, " +
        "date_trunc('month', o_orderdate) month_start, last_day(o_orderdate) month_end, " +
        "(o_orderdate::DATE + 30) plus_30d, (o_orderdate::DATE + INTERVAL 2 MONTH)::DATE plus_2m, " +
        "datediff('day', DATE '1995-01-01', o_orderdate::DATE)::BIGINT days_since_epoch0 FROM orders"),
    "q_math_funcs" ->
      ("SELECT l_orderkey, l_linenumber::BIGINT l_linenumber, abs(l_extendedprice * -1) abs_price, " +
        "ceil(l_quantity)::BIGINT ceil_qty, floor(l_quantity)::BIGINT floor_qty, " +
        "floor(sqrt(l_extendedprice) * 10000) / 10000 sqrt_price, " +
        "floor(exp(l_discount) * 10000) / 10000 exp_disc, " +
        "floor(ln(l_extendedprice + 1) * 10000) / 10000 ln_price, " +
        "floor(log10(l_extendedprice + 1) * 10000) / 10000 log10_price, " +
        "floor(pow(l_quantity, 2) * 10000) / 10000 qty_sq, " +
        "sign(l_extendedprice - 30000)::BIGINT sign_vs_30k, " +
        "greatest(l_quantity, l_discount * 100) greatest_v, least(l_tax, l_discount) least_v, " +
        "(l_orderkey % 97)::BIGINT key_mod FROM lineitem"),
    "q_string_funcs2" ->
      ("SELECT c_custkey, split_part(c_name, '#', 2) name_num, " +
        "translate(c_mktsegment, 'AEIOU', 'aeiou') seg_tr, " +
        "instr(c_name, 'Customer')::BIGINT pos_cust, " +
        "repeat('*', (c_custkey % 4 + 1)::INT) stars, " +
        "lpad(c_custkey::VARCHAR, 10, '0') key_pad, rpad(c_mktsegment, 12, '.') seg_pad, " +
        "reverse(c_mktsegment) seg_rev, regexp_replace(c_name, '[0-9]', '', 'g') name_nonum, " +
        "substr(c_mktsegment, 1, 1) || lower(substr(c_mktsegment, 2, 100)) seg_title, " +
        "ascii(c_mktsegment)::BIGINT seg_ascii, " +
        "starts_with(c_mktsegment, 'A') starts_a, ends_with(c_mktsegment, 'RE') ends_re, " +
        "contains(c_name, '00') has_00, length(trim('  x  '))::BIGINT trim_len FROM customer"),
    "q_exists_subquery" ->
      ("SELECT n_name, count(*) AS n_suppliers FROM supplier JOIN nation ON s_nationkey = n_nationkey " +
        "WHERE EXISTS (SELECT 1 FROM lineitem WHERE l_suppkey = s_suppkey AND l_quantity >= 49) " +
        "GROUP BY n_name"),
    "q_scalar_subquery" ->
      ("SELECT p_brand, count(*) AS n, round(sum(p_retailprice), 2) AS sum_price FROM part " +
        "WHERE p_retailprice > (SELECT max(p_retailprice) FROM part) * 0.9 GROUP BY p_brand"),
    "q_having" ->
      ("SELECT l_suppkey, count(*) AS n_items, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY l_suppkey HAVING count(*) >= 70"),
    "q_pivot" ->
      ("SELECT user_id, " +
        "coalesce(round(sum(CASE WHEN event_type = 'click' THEN value END), 2), 0.0) AS click, " +
        "coalesce(round(sum(CASE WHEN event_type = 'error' THEN value END), 2), 0.0) AS error, " +
        "coalesce(round(sum(CASE WHEN event_type = 'purchase' THEN value END), 2), 0.0) AS purchase, " +
        "coalesce(round(sum(CASE WHEN event_type = 'signup' THEN value END), 2), 0.0) AS signup, " +
        "coalesce(round(sum(CASE WHEN event_type = 'view' THEN value END), 2), 0.0) AS view " +
        "FROM events GROUP BY user_id"),
    "q_window_tumbling" ->
      ("SELECT (epoch_ms(ts) // 300000) * 300000 AS win_start_ms, count(*) AS n, " +
        "round(sum(value), 2) AS sum_value FROM events GROUP BY 1"),
    "q_window_range_frame" ->
      ("SELECT o_custkey, o_orderkey, count(*) OVER (PARTITION BY o_custkey " +
        "ORDER BY o_totalprice RANGE BETWEEN 5000 PRECEDING AND 5000 FOLLOWING) " +
        "AS n_near_price FROM orders"),
    "q_window_sliding" ->
      ("WITH x AS (SELECT value, epoch_ms(ts) ts_ms, unnest(range(0, 2)) i FROM events), " +
        "w AS (SELECT value, ts_ms, ((ts_ms // 300000) - i) * 300000 win_start_ms FROM x) " +
        "SELECT win_start_ms, count(*) AS n, round(sum(value), 2) AS sum_value FROM w " +
        "WHERE ts_ms >= win_start_ms AND ts_ms < win_start_ms + 600000 GROUP BY 1"),
    "q_sessionize" ->
      ("WITH flagged AS (SELECT user_id, epoch_ms(ts) ts_ms, event_id, value, " +
        "CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 " +
        "OR lag(epoch_ms(ts)) OVER w IS NULL THEN 1 ELSE 0 END new_session " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)), " +
        "sessioned AS (SELECT *, (sum(new_session) OVER (PARTITION BY user_id " +
        "ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT session_no FROM flagged) " +
        "SELECT user_id, session_no, min(ts_ms) AS session_start_ms, max(ts_ms) AS session_end_ms, " +
        "count(*) AS n_events, round(sum(value), 2) AS sum_value FROM sessioned GROUP BY 1, 2"),
    "q_basket_lift" ->
      ("WITH flagged AS (SELECT user_id, epoch_ms(ts) ts_ms, event_id, event_type, " +
        "CASE WHEN lag(epoch_ms(ts)) OVER w IS NULL " +
        "OR epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 THEN 1 ELSE 0 END " +
        "AS new_session " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)), " +
        "sessioned AS (SELECT *, (sum(new_session) OVER (PARTITION BY user_id " +
        "ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))" +
        "::BIGINT AS session_no FROM flagged), " +
        "st AS (SELECT DISTINCT user_id, session_no, event_type FROM sessioned), " +
        "pt AS (SELECT event_type, count(*) AS n_t FROM st GROUP BY 1), " +
        "tt AS (SELECT count(*) AS n_sessions FROM " +
        "(SELECT DISTINCT user_id, session_no FROM st)), " +
        "pr AS (SELECT a.event_type AS type_a, b.event_type AS type_b, " +
        "count(*) AS c_ab FROM st a JOIN st b ON a.user_id = b.user_id " +
        "AND a.session_no = b.session_no AND a.event_type < b.event_type " +
        "GROUP BY 1, 2) " +
        "SELECT type_a, type_b, c_ab, pa.n_t AS n_a, pb.n_t AS n_b, " +
        "floor((n_sessions * c_ab)::DOUBLE / (pa.n_t * pb.n_t) * 10000) / 10000 " +
        "AS lift FROM pr JOIN pt pa ON type_a = pa.event_type " +
        "JOIN pt pb ON type_b = pb.event_type CROSS JOIN tt"),
    "q_decile_stats" ->
      ("WITH c AS (SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) " +
        "AS cents FROM events), " +
        "b AS (SELECT cents, ntile(10) OVER (ORDER BY cents, event_id)::BIGINT " +
        "AS decile FROM c), " +
        "tot AS (SELECT sum(cents)::BIGINT AS total_cents FROM c) " +
        "SELECT decile, count(*) AS n, min(cents) AS min_cents, " +
        "max(cents) AS max_cents, sum(cents)::BIGINT AS sum_cents, " +
        "floor(sum(cents)::DOUBLE / total_cents * 10000) / 10000 AS share " +
        "FROM b CROSS JOIN tot GROUP BY 1, total_cents"),
    "q_attribution" ->
      ("WITH stream AS (SELECT event_id, user_id, event_type, epoch_ms(ts) AS ts_ms, " +
        "CASE WHEN event_type IN ('click', 'view') THEN event_id END AS t_id, " +
        "CASE WHEN event_type IN ('click', 'view') THEN event_type END AS t_type, " +
        "CASE WHEN event_type IN ('click', 'view') THEN epoch_ms(ts) END AS t_ms " +
        "FROM events WHERE event_type IN ('click', 'view', 'purchase')), " +
        "carried AS (SELECT *, " +
        "last_value(t_id IGNORE NULLS) OVER w AS last_touch_id, " +
        "last_value(t_type IGNORE NULLS) OVER w AS last_touch_type, " +
        "last_value(t_ms IGNORE NULLS) OVER w AS last_touch_ms, " +
        "first_value(t_id IGNORE NULLS) OVER w AS first_touch_id " +
        "FROM stream WINDOW w AS (PARTITION BY user_id ORDER BY ts_ms, event_id " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)) " +
        "SELECT event_id, user_id, ts_ms, last_touch_id, last_touch_type, " +
        "(ts_ms - last_touch_ms) // 60000 AS mins_since_last, first_touch_id " +
        "FROM carried WHERE event_type = 'purchase' AND last_touch_id IS NOT NULL " +
        "AND ts_ms - last_touch_ms <= 604800000"),
    "q_user_paths" ->
      ("WITH r AS (SELECT user_id, event_type, row_number() OVER " +
        "(PARTITION BY user_id ORDER BY epoch_ms(ts), event_id) AS rn FROM events), " +
        "p AS (SELECT user_id, string_agg(event_type, '>' ORDER BY rn) AS path " +
        "FROM r WHERE rn <= 3 GROUP BY user_id), " +
        "c AS (SELECT path, count(*) AS n_users FROM p GROUP BY 1), " +
        "k AS (SELECT path, n_users, row_number() OVER " +
        "(ORDER BY n_users DESC, path)::BIGINT AS rnk FROM c) " +
        "SELECT path, n_users, rnk FROM k WHERE rnk <= 20"),
    "q_convert_time" ->
      ("WITH s AS (SELECT user_id, min(epoch_ms(ts)) AS s_ms FROM events " +
        "WHERE event_type = 'signup' GROUP BY 1), " +
        "fp AS (SELECT e.user_id, s_ms, min(epoch_ms(e.ts)) AS p_ms FROM events e " +
        "JOIN s ON e.user_id = s.user_id " +
        "WHERE e.event_type = 'purchase' AND epoch_ms(e.ts) >= s_ms GROUP BY 1, 2) " +
        "SELECT (p_ms - s_ms) // 86400000 AS delta_days, count(*) AS n_users " +
        "FROM fp GROUP BY 1"),
    "q_funnel" ->
      ("WITH flagged AS (SELECT user_id, epoch_ms(ts) ts_ms, event_id, event_type, " +
        "CASE WHEN epoch_ms(ts) - lag(epoch_ms(ts)) OVER w > 1800000 " +
        "OR lag(epoch_ms(ts)) OVER w IS NULL THEN 1 ELSE 0 END new_session " +
        "FROM events WINDOW w AS (PARTITION BY user_id ORDER BY epoch_ms(ts), event_id)), " +
        "sessioned AS (SELECT *, (sum(new_session) OVER (PARTITION BY user_id " +
        "ORDER BY ts_ms, event_id ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))::BIGINT session_no FROM flagged), " +
        "per_session AS (SELECT user_id, session_no, " +
        "min(CASE WHEN event_type = 'view' THEN ts_ms END) first_view, " +
        "max(CASE WHEN event_type = 'purchase' THEN ts_ms END) last_purchase " +
        "FROM sessioned GROUP BY 1, 2) " +
        "SELECT user_id, count(*) AS n_sessions, " +
        "sum(CASE WHEN first_view IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_view, " +
        "sum(CASE WHEN last_purchase IS NOT NULL THEN 1 ELSE 0 END)::BIGINT AS n_with_purchase, " +
        "sum(CASE WHEN first_view IS NOT NULL AND last_purchase IS NOT NULL " +
        "AND first_view <= last_purchase THEN 1 ELSE 0 END)::BIGINT AS n_converted " +
        "FROM per_session GROUP BY 1"),
    "q_full_outer_join" ->
      ("WITH c AS (SELECT c_nationkey nk, count(*) n_cust FROM customer GROUP BY 1), " +
        "s AS (SELECT s_nationkey nk, count(*) n_supp FROM supplier GROUP BY 1) " +
        "SELECT coalesce(c.nk, s.nk)::BIGINT nationkey, coalesce(n_cust, 0) n_cust, " +
        "coalesce(n_supp, 0) n_supp FROM c FULL OUTER JOIN s ON c.nk = s.nk"),
    "q_cross_join" ->
      ("SELECT r_name, n_name, r_regionkey = n_regionkey AS is_home FROM region CROSS JOIN nation"),
    "q_like_filter" ->
      ("SELECT p_brand, count(*) AS n FROM part " +
        "WHERE p_name LIKE '%s%' AND p_name NOT LIKE '%steel%' GROUP BY p_brand"),
    "q_null_handling" ->
      ("SELECT l_orderkey, l_linenumber::BIGINT l_linenumber, " +
        "coalesce(nullif(l_discount, 0.0), -1.0) disc_coalesced, " +
        "nullif(l_discount, 0.0) IS NULL was_zero, " +
        "CASE WHEN nullif(l_discount, 0.0) IS NOT NULL THEN 'discounted' ELSE 'full-price' END price_kind " +
        "FROM lineitem"),
    "q_agg_extras" ->
      ("SELECT o_orderpriority, arg_max(o_orderstatus, o_orderkey) status_of_latest, " +
        "arg_min(o_orderstatus, o_orderkey) status_of_first, " +
        "count(*) FILTER (o_totalprice > 300000) n_big, " +
        "bool_and(o_totalprice > 0) all_positive, bool_or(o_orderstatus = 'F') any_f, " +
        "bit_and(o_orderkey % 256) band, bit_or(o_orderkey % 256) bor, " +
        "bit_xor(o_orderkey % 256) bxor, " +
        "string_agg(DISTINCT o_orderstatus, '|' ORDER BY o_orderstatus) statuses " +
        "FROM orders GROUP BY o_orderpriority"),
    "q_setop_intersect_all" ->
      ("SELECT user_id, count(*) AS multiplicity FROM (" +
        "SELECT user_id FROM events WHERE event_type = 'purchase' " +
        "INTERSECT ALL SELECT user_id FROM events WHERE event_type = 'error') GROUP BY user_id"),
    "q_setop_except_all" ->
      ("SELECT user_id, count(*) AS multiplicity FROM (" +
        "SELECT user_id FROM events WHERE event_type = 'purchase' " +
        "EXCEPT ALL SELECT user_id FROM events WHERE event_type = 'error') GROUP BY user_id"),
    "q_unpivot" ->
      ("WITH s AS (SELECT user_id, event_type, round(sum(value), 2) v " +
        "FROM events GROUP BY 1, 2), " +
        "u AS (SELECT DISTINCT user_id FROM events), " +
        "t AS (SELECT unnest(['click','error','purchase','signup','view']) metric) " +
        "SELECT u.user_id, t.metric, coalesce(s.v, 0.0) AS value " +
        "FROM u CROSS JOIN t LEFT JOIN s ON s.user_id = u.user_id AND s.event_type = t.metric"),
    "q_array_funcs" ->
      ("WITH t AS (SELECT p_partkey, string_split(p_name, ' ') toks FROM part) " +
        "SELECT p_partkey, len(toks)::BIGINT n_tokens, toks[1] first_tok, " +
        "array_to_string(list_sort(toks), ',') sorted_toks, " +
        "list_contains(toks, 'green') has_green, " +
        "coalesce(list_position(toks, 'green'), 0)::BIGINT green_pos, " +
        "array_to_string(toks[1:2], ' ') head2, " +
        "len(list_distinct(toks))::BIGINT n_distinct, " +
        "array_to_string(list_filter(toks, x -> x <> toks[1]), ' ') without_first FROM t"),
    "q_json_struct" ->
      ("SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n " +
        "FROM events GROUP BY 1"),
    "q_posexplode" ->
      ("WITH t AS (SELECT p_partkey, string_split(p_name, ' ') toks FROM part WHERE p_partkey <= 200) " +
        "SELECT p_partkey, unnest(range(len(toks)))::BIGINT AS pos, " +
        "unnest(toks) AS token FROM t"),
    "q_geomean_udaf" ->
      ("SELECT o_orderpriority, floor(exp(sum(ln(o_totalprice)) / count(*)) * 100) / 100 " +
        "AS geo_price, count(*) AS n FROM orders GROUP BY o_orderpriority"),
    "q_histogram" ->
      ("SELECT least(floor(o_totalprice / 60000), 9)::BIGINT AS bucket, count(*) AS n " +
        "FROM orders GROUP BY 1"),
    // The oracle recomputes the exact group count and pins the bound
    // verdicts TRUE — the hash compares the VERDICT, never the
    // engine-specific streaming accumulators (see statsAgg docstring).
    "q_stats_agg" ->
      ("SELECT o_orderpriority, count(*) AS n, TRUE AS corr_ok, " +
        "TRUE AS covar_ok, TRUE AS stddev_ok, TRUE AS var_ok, " +
        "TRUE AS median_ok FROM orders GROUP BY 1"))
}
