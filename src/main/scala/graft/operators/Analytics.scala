package graft.operators

import graft.{Scope, Tables}
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** L1 (reference parity, run against the driver testdata) + L2
  * (monitoring analytics) batch operators — SURVEY.md §7.
  *
  * Conventions shared with the DuckDB oracles:
  *  - Double aggregates are wrapped in `round(x, 2)` (or 4/6 for
  *    averages) so accumulation-order ulps can't flip the hash compare.
  *  - Integral derived columns are cast to Long (DuckDB's natural
  *    BIGINT) so schemas line up.
  *  - Event-time arithmetic happens on `ts_ms` (epoch millis), the
  *    precision both engines see identically (parquet carries ns; Spark
  *    truncates to µs, so raw timestamps are not portable).
  *
  * Scale notes: all joins against `region`/`nation`/`part`/`customer`
  * dims are broadcast; fact-side aggregations are partial (map-side
  * combine) by construction; window functions shuffle once on their
  * partition keys. Nothing collects to the driver.
  */
object Analytics {
  type Q = (SparkSession, String) => DataFrame

  private def r2(c: Column): Column = round(c, 2)

  /** Engine-portable average, truncated to `avgScale` decimals:
    * `floor(round(sum, sumScale) * 10^avgScale / count) / 10^avgScale`.
    * A bare `round(avg(x), n)` is not portable: quotients like
    * sum=563.81/count=8 = 70.47625 sit exactly on a half boundary, and
    * Spark (BigDecimal of the shortest decimal repr, HALF_UP) and other
    * engines (exact-binary rounding) disagree on ties. Truncation is
    * tie-free: the rounded sum is the same double in both engines, IEEE
    * multiply/divide on identical inputs is bit-identical, and `floor`
    * only has decision boundaries at exact integers (deterministic). */
  private def avgOf(x: Column, sumScale: Int, avgScale: Int): Column = {
    val p = math.pow(10, avgScale)
    floor(round(sum(x), sumScale) * lit(p) / count(lit(1))) / lit(p)
  }

  // ---- L1 parity on testdata (events = the transaction stand-in) ----

  /** O2: full scan + projection (pruned at the parquet scan). */
  def scanProject(ev: DataFrame): DataFrame =
    ev.select(col("event_id"), col("user_id"), col("event_type"), col("value"))

  /** O3/O4: point lookup — predicate pushed down to the scan. */
  def pointLookup(ev: DataFrame, id: Long): DataFrame =
    ev.filter(col("event_id") === lit(id))
      .select(col("event_id"), col("user_id"), col("event_type"),
        col("value"), col("ts_ms"), col("props"))

  /** O5: append ingest as union + downstream agg. */
  def ingestUnion(ev: DataFrame): DataFrame = {
    val a = ev.filter(col("event_type") === "purchase")
    val b = ev.filter(col("event_type") === "error")
    a.unionByName(b).groupBy(col("event_type"))
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))
  }

  /** Exact row-level dedup (distinct). */
  def dedupDistinct(ev: DataFrame): DataFrame =
    ev.select(col("user_id"), col("event_type")).distinct()

  /** O7-adjacent: JSON field extraction from the props payload. */
  def jsonExtract(ev: DataFrame): DataFrame =
    ev.select(get_json_object(col("props"), "$.k").cast("long").as("k"))
      .groupBy(col("k")).agg(count(lit(1)).as("n"))

  /** SURVEY §1.3 metadata duality over testdata: the JSON payload kept
    * verbatim as `metadata_json` (the Rust `serde_json::Value` form,
    * `monitoring-service/src/main.rs:13`) AND read through the Go
    * `map[string]string` view (`user-service/main.go:16`) — both access
    * paths must agree. Pure per-row expressions, no shuffle. */
  def metadataDuality(ev: DataFrame): DataFrame =
    ev.select(col("event_id"),
      col("props").as("metadata_json"),
      get_json_object(col("props"), "$.k").cast("long").as("k_raw"),
      element_at(
        from_json(col("props"),
          org.apache.spark.sql.types.MapType(
            org.apache.spark.sql.types.StringType,
            org.apache.spark.sql.types.StringType)), "k")
        .cast("long").as("k_map"))

  /** Timestamp parsing → per-day counts. */
  def perDay(ev: DataFrame): DataFrame =
    ev.groupBy(to_date(col("ts")).as("day"))
      .agg(count(lit(1)).as("n"), r2(sum(col("value"))).as("sum_value"))

  // ---- L2 monitoring analytics ----

  /** TPC-H Q1-shaped pricing summary: the canonical grouped agg. */
  def pricingSummary(li: DataFrame): DataFrame =
    li.filter(expr("l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'"))
      .groupBy(col("l_returnflag"), col("l_linestatus"))
      .agg(
        r2(sum(col("l_quantity"))).as("sum_qty"),
        r2(sum(col("l_extendedprice"))).as("sum_base_price"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("sum_disc_price"),
        r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")) * (lit(1) + col("l_tax")))).as("sum_charge"),
        avgOf(col("l_quantity"), 2, 4).as("avg_qty"),
        avgOf(col("l_extendedprice"), 2, 4).as("avg_price"),
        avgOf(col("l_discount"), 4, 6).as("avg_disc"),
        count(lit(1)).as("count_order"))

  /** Per-user × event-type stats (per-user/currency/merchant analytics
    * of SURVEY.md §7 L2, over the testdata schema). */
  def userStats(ev: DataFrame): DataFrame =
    ev.groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        r2(sum(col("value"))).as("sum_value"),
        avgOf(col("value"), 2, 4).as("avg_value"),
        min(col("value")).as("min_value"),
        max(col("value")).as("max_value"))

  /** Top-k customers by order revenue: dim join + agg + top-k (the
    * planner broadcasts customer while it fits; no forced hint — at
    * 10⁹ customers a forced broadcast is the OOM, a shuffle join the
    * plan you want). */
  def topCustomers(orders: DataFrame, customer: DataFrame, k: Int): DataFrame =
    orders.join(customer, orders("o_custkey") === customer("c_custkey"))
      .groupBy(col("c_custkey"), col("c_name"))
      .agg(r2(sum(col("o_totalprice"))).as("revenue"),
        count(lit(1)).as("n_orders"))
      .orderBy(col("revenue").desc, col("c_custkey"))
      .limit(k)

  /** Revenue by part brand: fact→dim join, strategy left to the
    * planner (part grows with the corpus; only truly bounded dims keep
    * forced hints). */
  def brandRevenue(li: DataFrame, part: DataFrame): DataFrame =
    li.join(part, li("l_partkey") === part("p_partkey"))
      .groupBy(col("p_brand"))
      .agg(r2(sum(col("l_extendedprice") * (lit(1) - col("l_discount")))).as("revenue"),
        count(lit(1)).as("n_items"))

  /** Multi-join rollup: customer ⋈ nation ⋈ region ⋈ orders → per-region
    * revenue. The flagship `entry` query. */
  def regionRevenue(customer: DataFrame, nation: DataFrame, region: DataFrame,
                    orders: DataFrame): DataFrame =
    orders
      .join(customer, orders("o_custkey") === customer("c_custkey"))
      .join(broadcast(nation), customer("c_nationkey") === nation("n_nationkey"))
      .join(broadcast(region), nation("n_regionkey") === region("r_regionkey"))
      .groupBy(col("r_name"))
      .agg(r2(sum(col("o_totalprice"))).as("revenue"),
        count(lit(1)).as("n_orders"))

  /** TPC-H Q3-shaped shipping-priority report: top-k unshipped orders
    * of one market segment by discounted revenue — the classic
    * fact⋈fact⋈dim benchmark join. Revenue is EXACT integer
    * arithmetic: cents × (100 − discount%) summed as BIGINTs (a double
    * `sum(price·(1−disc))` has 4-decimal terms whose rounded sum can
    * tie at the half-cent across engines), ranked on the exact scaled
    * integer, displayed /10000 truncated.
    *
    * Scale: both date filters push into the parquet scans (row-group
    * skipping); the segment-filtered customer dim joins first (small
    * side — AQE broadcasts it at sandbox scale, hash-joins at TPC-H
    * scale); orders⋈lineitem shuffles on the order key; the top-k
    * window ranks the post-agg relation. */
  def shippingPriority(customer: DataFrame, orders: DataFrame, li: DataFrame,
      segment: String = "BUILDING", k: Int = 10): DataFrame = {
    val c = customer.filter(col("c_mktsegment") === segment).select(col("c_custkey"))
    val o = orders.filter(expr("o_orderdate < timestamp'1998-06-01'"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority"))
    val rev = li.filter(expr("l_shipdate > timestamp'1998-06-01'"))
      .select(col("l_orderkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))).as("term"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("l_orderkey"), col("o_orderdate"), col("o_orderpriority"))
      .agg(sum(col("term")).as("rev_scaled"))
    rev.withColumn("rnk", row_number().over(
        Window.orderBy(col("rev_scaled").desc, col("l_orderkey"))).cast("long"))
      .filter(col("rnk") <= k)
      .select(col("l_orderkey"),
        graft.functions.Portable.trunc2(col("rev_scaled") / 10000.0).as("revenue"),
        col("o_orderdate"), col("o_orderpriority"), col("rnk"))
  }

  /** TPC-H Q5-shaped local-supplier volume: revenue per nation from
    * orders where the customer and the line's supplier sit in the SAME
    * nation of one region, over one order-date year. The interesting
    * join is the non-key equality `s_nationkey = c_nationkey` riding
    * the l_suppkey equi-join — it forces the customer's nation through
    * the orders⋈lineitem shuffle as a 1-byte-ish payload column, never
    * the nation NAME (that joins back against the 25-row dim at the
    * end). Same exact-integer revenue discipline as
    * [[shippingPriority]].
    *
    * Scale: region→nation→customer prune as a broadcast chain before
    * touching facts; the date filter pushes into the orders scan
    * (row-group skipping); the only big shuffle is
    * lineitem⋈orders on the order key; supplier broadcasts (10k/SF
    * rows); the final agg is 25 groups, map-side combined. */
  def localSupplierVolume(region: DataFrame, nation: DataFrame,
      customer: DataFrame, supplier: DataFrame, orders: DataFrame,
      li: DataFrame, regionName: String = "ASIA"): DataFrame = {
    val r = region.filter(col("r_name") === regionName).select(col("r_regionkey"))
    val n = nation.join(broadcast(r), col("n_regionkey") === col("r_regionkey"))
      .select(col("n_nationkey"), col("n_name"))
    val c = customer.join(broadcast(n.select(col("n_nationkey"))),
        col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_nationkey"))
    val o = orders
      .filter(expr("o_orderdate >= timestamp'1996-01-01'") &&
        expr("o_orderdate < timestamp'1997-01-01'"))
      .join(c, col("o_custkey") === col("c_custkey"))
      .select(col("o_orderkey"), col("c_nationkey"))
    val s = supplier.select(col("s_suppkey"), col("s_nationkey"))
    li.select(col("l_orderkey"), col("l_suppkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))).as("term"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .join(s, col("l_suppkey") === col("s_suppkey") &&
        col("s_nationkey") === col("c_nationkey"))
      .join(broadcast(n), col("c_nationkey") === col("n_nationkey"))
      .groupBy(col("n_name"))
      .agg(sum(col("term")).as("rev_scaled"), count(lit(1)).as("n_lines"))
      .select(col("n_name"), col("rev_scaled"),
        graft.functions.Portable.trunc2(col("rev_scaled") / 10000.0).as("revenue"),
        col("n_lines"))
  }

  /** TPC-H Q10-shaped returned-item report: the top-k customers by
    * revenue lost to returned lineitems over one quarter, with their
    * nation. Same exact-integer revenue discipline as
    * [[shippingPriority]].
    *
    * Scale: the returnflag filter pushes into the lineitem scan and
    * the date filter into the orders scan; the one big shuffle is
    * lineitem⋈orders on the order key; the per-customer agg is
    * map-side combined. The top-k runs BEFORE any dim join as a
    * sort+limit — Catalyst plans TakeOrderedAndProject (per-partition
    * partial top-k, merged once), never a single-partition global
    * window — so customer (NOT broadcastable at 100 TB) joins against
    * k rows, not |customers|: the k-row side broadcasts and the
    * customer/nation lookups are scan-bound. */
  def returnedItems(customer: DataFrame, nation: DataFrame, orders: DataFrame,
      li: DataFrame, k: Int = 20): DataFrame = {
    val o = orders
      .filter(expr("o_orderdate >= timestamp'1997-01-01'") &&
        expr("o_orderdate < timestamp'1997-04-01'"))
      .select(col("o_orderkey"), col("o_custkey"))
    val rev = li.filter(col("l_returnflag") === "R")
      .select(col("l_orderkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))).as("term"))
      .join(o, col("l_orderkey") === col("o_orderkey"))
      .groupBy(col("o_custkey"))
      .agg(sum(col("term")).as("rev_scaled"), count(lit(1)).as("n_lines"))
    val top = rev.orderBy(col("rev_scaled").desc, col("o_custkey")).limit(k)
      .withColumn("rnk", row_number().over(
        Window.orderBy(col("rev_scaled").desc, col("o_custkey"))).cast("long"))
    top.join(customer, col("o_custkey") === col("c_custkey"))
      .join(broadcast(nation), col("c_nationkey") === col("n_nationkey"))
      .select(col("c_custkey"), col("c_name"), col("n_name"),
        graft.functions.Portable.trunc2(col("rev_scaled") / 10000.0).as("revenue"),
        col("n_lines"), col("rnk"))
  }

  /** TPC-H Q15-shaped top supplier: the supplier(s) with the maximum
    * shipped revenue over one quarter — the argmax-over-an-aggregate
    * pattern (view + scalar max in the reference query).
    *
    * Revenue is the exact integer cents×(100−disc%) sum, so the scalar
    * max and the equality against it are BIGINT comparisons — no float
    * ties at the top (the textbook Q15 footgun). Plan: date-pushed
    * lineitem scan → one map-side-combined agg per suppkey → 1-row max
    * broadcast back over the agg (no second scan) → broadcast supplier
    * lookup for the name. */
  def topSupplier(supplier: DataFrame, li: DataFrame): DataFrame = {
    val rev = li
      .filter(expr("l_shipdate >= timestamp'1996-01-01'") &&
        expr("l_shipdate < timestamp'1996-04-01'"))
      .select(col("l_suppkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") *
          (lit(100L) - floor(col("l_discount") * 100 + 0.5).cast("long"))).as("term"))
      .groupBy(col("l_suppkey"))
      .agg(sum(col("term")).as("rev_scaled"))
    val mx = rev.agg(max(col("rev_scaled")).as("mx"))
    rev.join(broadcast(mx), col("rev_scaled") === col("mx"))
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("s_suppkey"), col("s_name"), col("rev_scaled"),
        graft.functions.Portable.trunc2(col("rev_scaled") / 10000.0).as("revenue"))
  }

  /** TPC-H Q4-shaped late-order count: orders in one quarter that had
    * at least one lineitem shipped more than `graceDays` after the
    * order date, counted per priority — the EXISTS-over-a-fact shape
    * (the data has no commitdate/receiptdate pair, so "late" is
    * ship-vs-order lag; same semi-join plan as Q4's).
    *
    * Scale: the date window pushes into the orders scan; the semi join
    * is the one shuffle and carries only (orderkey, shipdate) on the
    * lineitem side — a left-semi HASH join (first match short-circuits,
    * no duplicate-row blowup, no distinct pass); the lag predicate
    * rides the join as a residual. Exact timestamp arithmetic — no
    * float anywhere. */
  def lateOrders(orders: DataFrame, li: DataFrame, graceDays: Int = 90): DataFrame =
    orders
      .filter(expr("o_orderdate >= timestamp'1996-01-01'") &&
        expr("o_orderdate < timestamp'1996-04-01'"))
      .join(li.select(col("l_orderkey"), col("l_shipdate")),
        col("o_orderkey") === col("l_orderkey") &&
          col("l_shipdate") > col("o_orderdate") + expr(s"interval $graceDays days"),
        "left_semi")
      .groupBy(col("o_orderpriority"))
      .agg(count(lit(1)).as("n_orders"))

  /** TPC-H Q2-shaped cheapest supplier per part: for every part, the
    * supplier(s) who shipped it at the lowest unit price — the
    * groupwise-argmin that Q2 writes as a correlated scalar subquery.
    * Here it DECORRELATES to a window minimum: the (part, supplier)
    * pre-aggregate and the per-part min share ONE partkey exchange,
    * where the textbook subquery plan would aggregate twice and join
    * the fact back to itself.
    *
    * Unit price divides exact integers (cents / integral quantity), so
    * both engines derive identical doubles and the argmin equality
    * never splits on a float tie; genuine ties keep every tied
    * supplier (deterministic row set). Supplier names come from a
    * broadcast at the end — k rows per part, never the fact. */
  def cheapestSupplier(supplier: DataFrame, li: DataFrame): DataFrame = {
    val perPair = li.filter(col("l_quantity") > 0)
      .select(col("l_partkey"), col("l_suppkey"),
        (floor(col("l_extendedprice") * 100 + 0.5).cast("long") /
          floor(col("l_quantity")).cast("long")).as("unit_price"))
      .groupBy(col("l_partkey"), col("l_suppkey"))
      .agg(min(col("unit_price")).as("pair_min"))
    perPair
      .withColumn("part_min", min(col("pair_min")).over(
        Window.partitionBy(col("l_partkey"))))
      .filter(col("pair_min") === col("part_min"))
      .join(supplier.select(col("s_suppkey"), col("s_name")),
        col("l_suppkey") === col("s_suppkey"))
      .select(col("l_partkey"), col("s_suppkey"), col("s_name"),
        graft.functions.Portable.trunc4(col("part_min")).as("unit_price"))
  }

  /** Semi join: customers that have orders, counted per segment. */
  def segmentsWithOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_semi")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))

  /** Anti join: customers with no orders. */
  def segmentsWithoutOrders(customer: DataFrame, orders: DataFrame): DataFrame =
    customer.join(orders, customer("c_custkey") === orders("o_custkey"), "left_anti")
      .groupBy(col("c_mktsegment")).agg(count(lit(1)).as("n_customers"))

  /** Running per-customer order total (single shuffle on o_custkey). */
  def runningTotals(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    orders.select(col("o_custkey"), col("o_orderkey"),
      r2(sum(col("o_totalprice")).over(w)).as("running_total"))
  }

  /** Inter-order gap in days (lag window). */
  def orderGaps(orders: DataFrame): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_orderdate"), col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_orderkey"),
      coalesce(datediff(col("o_orderdate"), lag(col("o_orderdate"), 1).over(w))
        .cast("long"), lit(-1L)).as("gap_days"))
  }

  /** Top-3 orders per customer (row_number ≤ k, deterministic tiebreak). */
  def topOrdersPerCustomer(orders: DataFrame, k: Int): DataFrame = {
    val w = Window.partitionBy(col("o_custkey"))
      .orderBy(col("o_totalprice").desc, col("o_orderkey"))
    orders.select(col("o_custkey"), col("o_orderkey"), col("o_totalprice"),
        row_number().over(w).cast("long").as("rnk"))
      .filter(col("rnk") <= k)
  }

  /** ROLLUP over (returnflag, linestatus). */
  def rollupFlags(li: DataFrame): DataFrame =
    li.rollup(col("l_returnflag"), col("l_linestatus"))
      .agg(count(lit(1)).as("n"), r2(sum(col("l_quantity"))).as("sum_qty"))

  /** CUBE over (orderstatus, orderpriority). */
  def cubeOrders(orders: DataFrame): DataFrame =
    orders.cube(col("o_orderstatus"), col("o_orderpriority"))
      .agg(count(lit(1)).as("n"), r2(sum(col("o_totalprice"))).as("sum_price"))

  /** Set ops over per-type user-id sets. */
  def usersIntersect(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
      .intersect(ev.filter(col("event_type") === "error").select(col("user_id")).distinct())

  def usersExcept(ev: DataFrame): DataFrame =
    ev.filter(col("event_type") === "purchase").select(col("user_id")).distinct()
      .except(ev.filter(col("event_type") === "error").select(col("user_id")).distinct())

  /** Scalar function coverage: string/math over `part`. */
  def scalarFuncs(part: DataFrame): DataFrame =
    part.select(
      col("p_partkey"),
      upper(col("p_brand")).as("brand_uc"),
      length(col("p_name")).cast("long").as("name_len"),
      substring(col("p_name"), 1, 5).as("name_head"),
      regexp_extract(col("p_type"), "^(\\w+)", 1).as("type_head"),
      r2(col("p_retailprice") * 1.1).as("price_taxed"),
      concat_ws("-", col("p_brand"), lit("x"), col("p_size").cast("string")).as("tag"),
      (col("p_size") % 7).cast("long").as("size_mod"),
      floor(col("p_retailprice")).cast("long").as("price_floor"))

  /** Range join: same-user event pairs within a 5-minute window, counted
    * per user. Time-bucketed equi-join: each left event joins only the
    * bucket `ts_ms div windowMs` it could pair into and the adjacent one
    * (any b with a_ms < b_ms ≤ a_ms+windowMs lands in one of the two),
    * so the join key is (user_id, bucket) and each sort-merge group is
    * bounded by per-WINDOW event density — a plain equi-join on user_id
    * alone makes one hot user with k events materialize k² pairs before
    * the range filter, which is quadratic at 100 TB. A pair matches in
    * exactly one bucket (b's bucket is a function of b_ms), so no
    * dedup step is needed. */
  def rapidPairs(ev: DataFrame, windowMs: Long = 300000L): DataFrame = {
    val a = ev.select(col("user_id"), col("ts_ms").as("a_ms"))
      .withColumn("bkt", explode(array(
        expr(s"a_ms div ${windowMs}L"), expr(s"a_ms div ${windowMs}L + 1L"))))
    val b = ev.select(col("user_id"), col("ts_ms").as("b_ms"),
      expr(s"ts_ms div ${windowMs}L").as("bkt"))
    a.join(b, Seq("user_id", "bkt"))
      .filter(col("b_ms") > col("a_ms") && col("b_ms") <= col("a_ms") + windowMs)
      .groupBy(col("user_id")).agg(count(lit(1)).as("n_pairs"))
  }

  /** As-of join: for every purchase, the latest view event of the same
    * user at-or-before the purchase. Spark-first realization: tag +
    * union + one window pass (single shuffle on user_id), instead of a
    * per-row subquery. */
  def asofPurchaseView(ev: DataFrame): DataFrame = {
    // event time compared at epoch-ms (the engine-portable unit, see
    // Tables) — the oracle's ASOF predicate uses epoch_ms identically
    val relevant = ev.filter(col("event_type").isin("view", "purchase"))
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        when(col("event_type") === "view", col("event_id")).as("view_id"),
        when(col("event_type") === "view", 0).otherwise(1).as("kind"))
    val w = Window.partitionBy(col("user_id"))
      .orderBy(col("ts_ms"), col("kind"), col("event_id"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    relevant
      .withColumn("last_view_id", last(col("view_id"), ignoreNulls = true).over(w))
      .filter(col("kind") === 1)
      .select(col("event_id"), col("last_view_id").as("view_id"))
  }

  /** Exact distinct counts (the oracle-checkable sibling of
    * approxDistinct below). */
  def distinctExact(li: DataFrame): DataFrame =
    li.agg(countDistinct(col("l_partkey")).as("n_parts"),
      countDistinct(col("l_suppkey")).as("n_supps"))

  /** HLL estimate with a BOUND VERDICT — fully oracled despite the
    * estimator being engine-specific: the output carries the exact
    * distinct counts (recomputable in any engine) plus booleans
    * asserting the HLL estimate (rsd 0.01) landed within ±5% of exact
    * (5× the configured rsd — far beyond any plausible HLL excursion).
    * The DuckDB oracle recomputes the exact side and pins the verdicts
    * TRUE, so the hash compares the VERDICT, not the engine-specific
    * estimate: an out-of-bounds estimator flips a boolean and reads as
    * a red row. (The raw estimate itself is pinned by ScalaTest; its
    * exact sibling is `q_distinct_exact`.) */
  def approxDistinct(li: DataFrame): DataFrame = {
    // each column pre-deduplicates in its own hash-agg (map-side
    // combined), then counts exactly AND sketches the deduped values —
    // an HLL is dedup-insensitive, so the estimate is identical to
    // sketching the raw column, while a single agg carrying two
    // countDistinct + two sketches would Expand the fact 4x (measured
    // 11 s vs ~1 s at sf0.1)
    def side(c: String, exactName: String, okName: String): DataFrame =
      li.select(col(c)).distinct()
        .agg(count(lit(1)).as(exactName),
          approx_count_distinct(col(c), 0.01).as("est"))
        .select(col(exactName),
          (abs(col("est") - col(exactName)) <= col(exactName) * 0.05).as(okName))
    side("l_partkey", "n_parts_exact", "parts_within_5pct")
      .crossJoin(side("l_orderkey", "n_orders_exact", "orders_within_5pct"))
      .select(col("n_parts_exact"), col("n_orders_exact"),
        col("parts_within_5pct"), col("orders_within_5pct"))
  }

  /** Order-to-ship lag distribution: per order priority, the histogram
    * of days between order placement and line shipment in 30-day
    * buckets, with each bucket's share of its priority — the
    * fulfillment-SLA readout ("are URGENT orders actually shipping
    * sooner?"). Lag is an integer day difference (date-cast on both
    * engines under the UTC session — no float time math); shares come
    * from an exact window sum over the collapsed (priority, bucket)
    * cells.
    *
    * Scale: the only fact-sized work is the orders⋈lineitem equi-join
    * (narrow projections both sides, AQE free to choose the side to
    * broadcast at small scale) feeding one hash-agg; the share window
    * runs over ≤ |priorities|·|buckets| cells. */
  def shipLag(orders: DataFrame, li: DataFrame): DataFrame = {
    val cells = li.select(col("l_orderkey"), col("l_shipdate"))
      .join(orders.select(col("o_orderkey"), col("o_orderdate"), col("o_orderpriority")),
        col("l_orderkey") === col("o_orderkey"))
      .select(col("o_orderpriority"),
        datediff(col("l_shipdate"), col("o_orderdate")).cast("long").as("lag"))
      .withColumn("bucket", floor(col("lag") / 30L))
      .groupBy(col("o_orderpriority"), col("bucket"))
      .agg(count(lit(1)).as("n"), min(col("lag")).as("min_days"),
        max(col("lag")).as("max_days"))
    val byPrio = org.apache.spark.sql.expressions.Window
      .partitionBy(col("o_orderpriority"))
    cells
      .withColumn("prio_n", sum(col("n")).over(byPrio))
      .select(col("o_orderpriority"), col("bucket"), col("n"),
        col("min_days"), col("max_days"),
        graft.functions.Portable.trunc4(col("n") / col("prio_n")).as("share"))
  }

  /** Histogram-based decision-stump split finding — the split-search
    * kernel of every distributed GBDT (LightGBM's histogram algorithm,
    * Ke et al. 2017 §2.1; XGBoost's approx mode): candidate thresholds
    * are HISTOGRAM BIN EDGES, not raw values, so split search costs one
    * binned aggregate over the facts plus an O(bins) scan over the
    * collapsed histogram — never a global sort of the feature column.
    * Label: `event_type = 'purchase'`; features: `value` (fixed-width
    * bins of 0.5) and the JSON `props.k` (already integral — bin = k).
    * For each feature the best boundary maximizes
    * S = (posL²+negL²)/nL + (posR²+negR²)/nR (equivalent to minimizing
    * weighted Gini: G = N − S), reported with the impurity before/after
    * and the gain.
    *
    * Determinism & exactness: S's numerator
    * (posL²+negL²)·nR + (posR²+negR²)·nL and denominator nL·nR are
    * exact BIGINTs (≲ n³ — fine to ~2M rows; widen to DECIMAL(38,0)
    * past that, the abCuped discipline); both engines divide the
    * identical integers once, and ties rank by (feature, bin).
    *
    * Scale: one fact scan → 2 narrow (feature, bin, y) rows per event →
    * map-side-combined hash-agg to ≤ |bins| cells per feature; the
    * cumulative window and the argmax run over the tiny histogram
    * relation, partitioned by feature (never global over facts). */
  def stumpSplit(ev: DataFrame): DataFrame = {
    val base = ev.select(
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
      explode(array(
        struct(lit("value").as("feature"), floor(col("value") / 0.5).cast("long").as("bin")),
        struct(lit("props_k").as("feature"),
          get_json_object(col("props"), "$.k").cast("long").as("bin")))).as("f"))
      .select(col("f.feature").as("feature"), col("f.bin").as("bin"), col("y"))
      .filter(col("bin").isNotNull)
    val hist = base.groupBy(col("feature"), col("bin"))
      .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
    val byF = Window.partitionBy(col("feature")).orderBy(col("bin"))
      .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    val tot = Window.partitionBy(col("feature"))
    val cum = hist
      .withColumn("nl", sum(col("n")).over(byF))
      .withColumn("posl", sum(col("pos")).over(byF))
      .withColumn("nt", sum(col("n")).over(tot))
      .withColumn("post", sum(col("pos")).over(tot))
      .withColumn("nr", col("nt") - col("nl"))
      .withColumn("posr", col("post") - col("posl"))
      .filter(col("nr") > 0) // the last edge splits nothing off
    // the Gini split score squares corpus-scale class counts
    // (posl² ≈ 10²⁴ at 1e12 rows) — every count product rides
    // DECIMAL(38,0), cast to double only at the two divisions
    // (round-10 overflow audit; s_num ≤ n²·n = 10³⁶ < 10³⁸)
    val dec = (c: Column) => c.cast("decimal(38,0)")
    val scored = cum
      .withColumn("negl", col("nl") - col("posl"))
      .withColumn("negr", col("nr") - col("posr"))
      .withColumn("s_num",
        (dec(col("posl")) * col("posl") + dec(col("negl")) * col("negl")) * col("nr") +
          (dec(col("posr")) * col("posr") + dec(col("negr")) * col("negr")) * col("nl"))
      .withColumn("s", col("s_num").cast("double") /
        (dec(col("nl")) * col("nr")).cast("double"))
      .withColumn("rnk", row_number().over(
        Window.partitionBy(col("feature")).orderBy(col("s").desc, col("bin"))))
      .filter(col("rnk") === 1)
    scored.select(col("feature"), col("bin").as("split_bin"),
      col("nl").as("n_left"), col("posl").as("pos_left"),
      col("nr").as("n_right"), col("posr").as("pos_right"),
      graft.functions.Portable.trunc4(lit(1.0) -
        (dec(col("post")) * col("post") +
          dec(col("nt") - col("post")) * (col("nt") - col("post")))
          .cast("double") / (dec(col("nt")) * col("nt")).cast("double")).as("gini_before"),
      graft.functions.Portable.trunc4(
        (col("nt").cast("double") - col("s")) / col("nt")).as("gini_after"))
  }

  /** Simpson's-paradox audit — the aggregation-reversal check a metrics
    * platform runs before publishing a segment comparison (Simpson
    * 1951; the classic Berkeley-admissions failure): compare BUILDING
    * vs MACHINERY customers' average order value POOLED and then
    * within every nation stratum, and flag nations whose gap sign
    * contradicts the pooled sign. Sign decisions use the exact integer
    * cross-product sum_a·n_b − sum_b·n_a widened through
    * DECIMAL(38,0) (cents × counts reaches ~1e19 > 2^63 at ~1e9
    * joined order rows — the abCuped widening rule) — a float average
    * can land on the wrong side of zero exactly where this audit
    * matters, and a silently wrapped BIGINT product flips it.
    *
    * Scale: orders⋈customer equi-join (dim side broadcast-eligible) →
    * one (nation) hash-agg with conditional sums; the pooled row is a
    * 1-row broadcast. No windows. */
  def simpsonAudit(orders: DataFrame, customer: DataFrame,
      segA: String = "BUILDING", segB: String = "MACHINERY"): DataFrame = {
    val base = orders.join(customer,
        col("o_custkey") === col("c_custkey"))
      .filter(col("c_mktsegment").isin(segA, segB))
      .select(col("c_nationkey").as("nation"),
        when(col("c_mktsegment") === segA, 1L).otherwise(0L).as("is_a"),
        floor(col("o_totalprice") * 100 + 0.5).cast("long").as("cents"))
    def cells(df: org.apache.spark.sql.RelationalGroupedDataset) = df
      .agg(sum(when(col("is_a") === 1L, 1L).otherwise(0L)).as("n_a"),
        sum(when(col("is_a") === 0L, 1L).otherwise(0L)).as("n_b"),
        sum(when(col("is_a") === 1L, col("cents")).otherwise(0L)).as("sum_a"),
        sum(when(col("is_a") === 0L, col("cents")).otherwise(0L)).as("sum_b"))
    def crossSign(sa: Column, nb: Column, sb: Column, na: Column): Column =
      signum(sa.cast("decimal(38,0)") * nb - sb.cast("decimal(38,0)") * na)
        .cast("long")
    val pooled = cells(base.groupBy())
      .select(crossSign(col("sum_a"), col("n_b"), col("sum_b"), col("n_a"))
        .as("pooled_sign"))
    cells(base.groupBy(col("nation")))
      .filter(col("n_a") > 0 && col("n_b") > 0)
      .crossJoin(broadcast(pooled))
      .select(col("nation"), col("n_a"), col("n_b"),
        graft.functions.Portable.trunc2(col("sum_a") / col("n_a") / 100).as("avg_a"),
        graft.functions.Portable.trunc2(col("sum_b") / col("n_b") / 100).as("avg_b"),
        crossSign(col("sum_a"), col("n_b"), col("sum_b"), col("n_a"))
          .as("stratum_sign"),
        col("pooled_sign"),
        (crossSign(col("sum_a"), col("n_b"), col("sum_b"), col("n_a"))
          * col("pooled_sign") < 0).as("reversed"))
  }

  /** One exact ALS half-step with k = 2 latent factors (Hu, Koren &
    * Volinsky 2008's alternating solve, the distributed-recommender
    * workhorse — Spark's own ml.recommendation.ALS runs this loop):
    * items are part BRANDS with FIXED deterministic factors
    * y_b = (1, hash-derived rational); each customer's factor vector
    * solves the 2×2 ridge normal equations over their purchase
    * quantities in CLOSED FORM,
    *   x_u = (YᵀY + λI)⁻¹ Yᵀ r_u,  [[a,b],[b,c]]⁻¹ = adj/(ac−b²),
    * and the report ranks each probe user's top-3 UNRATED brands by
    * x_u·y_b — the fold-in recommendation a serving tier computes.
    *
    * Exactness: y components are 1e-3 rationals (integers y1m, y2m),
    * ratings are integer quantities, so a,b,c (λ included, 1e6 scale)
    * and d1,d2 (1e-3 scale) accumulate as exact BIGINTs — merge-order-
    * free; each x component is ONE division of exact integers whose
    * products form in DECIMAL(38,0) (the abCuped rule).
    * Recommendation scores multiply identical doubles.
    *
    * Scale: ratings = one orders⋈lineitem⋈part chain into a (user,
    * brand) hash-agg; the solve is a per-user aggregate over ≤|brands|
    * rows (map-side combined); scoring cross-joins the broadcast
    * 5-user factor row set against the 25-brand LUT. The
    * item half-step (re-solving Y from X) is the same plan transposed;
    * production alternates the two to convergence. */
  def alsHalfStep(orders: DataFrame, li: DataFrame, part: DataFrame,
      lambda1e6: Long = 100000L, probeUsers: Seq[Long] = Seq(0L, 1L, 2L, 3L, 4L),
      topK: Int = 3): DataFrame = Scope { s =>
    import graft.functions.TextHash.hash60
    // fixed item factors: y1 = 1.000, y2 = hash-centered in [-0.5, 0.5)
    def y2m(brand: Column): Column =
      pmod(hash60(concat(lit("als|"), brand)), lit(1000L)) - 500L
    // the solve multiplies sums by sums: products form in DECIMAL(38,0)
    val dec = (c: String) => col(c).cast("decimal(38,0)")
    val det = (dec("a_s") * col("c_s") - dec("b_s") * col("b_s")).cast("double")
    // feeds the solve AND the rated-brand anti-join
    val ratings = s.persist(li.select(col("l_orderkey"), col("l_partkey"), col("l_quantity"))
      .join(orders.select(col("o_orderkey"), col("o_custkey")),
        col("l_orderkey") === col("o_orderkey"))
      .join(part.select(col("p_partkey"), col("p_brand")),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("o_custkey").as("u"), col("p_brand").as("brand"))
      .agg(sum(col("l_quantity").cast("long")).as("r")))
    val withY = ratings
      .withColumn("y1m", lit(1000L))
      .withColumn("y2m", y2m(col("brand")))
    val factors = withY.groupBy(col("u"))
      .agg((sum(col("y1m") * col("y1m")) + lambda1e6).as("a_s"),
        sum(col("y1m") * col("y2m")).as("b_s"),
        (sum(col("y2m") * col("y2m")) + lambda1e6).as("c_s"),
        sum(col("y1m") * col("r")).as("d1_s"),
        sum(col("y2m") * col("r")).as("d2_s"))
      .select(col("u"),
        ((dec("c_s") * col("d1_s") - dec("b_s") * col("d2_s")).cast("double") / det * 1000).as("x1"),
        ((dec("a_s") * col("d2_s") - dec("b_s") * col("d1_s")).cast("double") / det * 1000).as("x2"))
      .filter(col("u").isin(probeUsers: _*))
    val brands = part.select(col("p_brand").as("brand")).distinct()
      .withColumn("y2m", y2m(col("brand")))
    // the ≤ |probeUsers|-row factor side is the bounded one
    val scored = broadcast(factors).join(brands)
      .join(ratings.select(col("u"), col("brand")), Seq("u", "brand"), "left_anti")
      .select(col("u"), col("brand"),
        (col("x1") * 1.0 + col("x2") * (col("y2m").cast("double") / 1000)).as("score"))
    val w = Window.partitionBy(col("u")).orderBy(col("score").desc, col("brand"))
    scored.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topK)
      .select(col("u").as("user"), col("brand"),
        graft.functions.Portable.trunc4(col("score")).as("score"), col("rnk"))
      .localCheckpoint(true) // 15 rows; frees the ratings cache
  }

  /** Depth-2 greedy histogram tree — one boosting-tree layer past
    * [[stumpSplit]] (LightGBM grows exactly this way, Ke et al. 2017
    * §2.1: histogram split search at the root, then AGAIN inside each
    * child over the child's own rows): pick the globally best
    * (feature, bin) boundary, partition the facts by it, and re-run
    * the same search per side. Emits up to three node rows (root,
    * left, right) — a child with no splittable boundary emits none.
    *
    * Exactness: identical integer S-score discipline as the stump
    * (s_num/denominator exact BIGINTs, one float division, argmax
    * ranked by (s, feature, bin) — the root's rank runs across BOTH
    * features); the root boundary rides back as a 1-row broadcast
    * (scalar plumbing); events whose root feature is NULL leave both
    * children, in both engines alike.
    *
    * Scale: two fact scans (root pass, then the side-labeled child
    * pass — the broadcast-join adds no shuffle), each collapsing to
    * ≤ |side|·|bins| histogram cells per feature; every window runs
    * over those cells, never the facts. */
  def treeDepth2(ev: DataFrame): DataFrame = {
    val e = ev.select(
      when(col("event_type") === "purchase", 1L).otherwise(0L).as("y"),
      floor(col("value") / 0.5).cast("long").as("vbin"),
      get_json_object(col("props"), "$.k").cast("long").as("kbin"))
    def exploded(df: DataFrame): DataFrame = df
      .select(col("side"), col("y"), explode(array(
        struct(lit("value").as("feature"), col("vbin").as("bin")),
        struct(lit("props_k").as("feature"), col("kbin").as("bin")))).as("f"))
      .select(col("side"), col("f.feature").as("feature"),
        col("f.bin").as("bin"), col("y"))
      .filter(col("bin").isNotNull)
    def bestPerSide(rows: DataFrame): DataFrame = {
      val hist = rows.groupBy(col("side"), col("feature"), col("bin"))
        .agg(count(lit(1)).as("n"), sum(col("y")).as("pos"))
      val byF = Window.partitionBy(col("side"), col("feature"))
        .orderBy(col("bin"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val tot = Window.partitionBy(col("side"), col("feature"))
      hist
        .withColumn("nl", sum(col("n")).over(byF))
        .withColumn("posl", sum(col("pos")).over(byF))
        .withColumn("nt", sum(col("n")).over(tot))
        .withColumn("post", sum(col("pos")).over(tot))
        .withColumn("nr", col("nt") - col("nl"))
        .withColumn("posr", col("post") - col("posl"))
        .filter(col("nr") > 0)
        .withColumn("negl", col("nl") - col("posl"))
        .withColumn("negr", col("nr") - col("posr"))
        // same DECIMAL(38,0) widening as stumpSplit: count² × count
        // is ~10³⁶ at 1e12 rows, far past 2^63 (round-10 audit)
        .withColumn("s_num",
          (col("posl").cast("decimal(38,0)") * col("posl") +
            col("negl").cast("decimal(38,0)") * col("negl")) * col("nr") +
            (col("posr").cast("decimal(38,0)") * col("posr") +
              col("negr").cast("decimal(38,0)") * col("negr")) * col("nl"))
        .withColumn("s", col("s_num").cast("double") /
          (col("nl").cast("decimal(38,0)") * col("nr")).cast("double"))
        .withColumn("rnk", row_number().over(Window.partitionBy(col("side"))
          .orderBy(col("s").desc, col("feature"), col("bin"))))
        .filter(col("rnk") === 1)
    }
    val root = bestPerSide(exploded(e.withColumn("side", lit("root"))))
      .localCheckpoint(true) // 1 row — the boundary the child pass keys on
    val sided = e.crossJoin(broadcast(
        root.select(col("feature").as("rf"), col("bin").as("rb"))))
      .withColumn("fb",
        when(col("rf") === "value", col("vbin")).otherwise(col("kbin")))
      .filter(col("fb").isNotNull)
      .withColumn("side",
        when(col("fb") <= col("rb"), "left").otherwise("right"))
    val kids = bestPerSide(exploded(sided))
    def out(df: DataFrame) = df.select(col("side").as("node"), col("feature"),
      col("bin").as("split_bin"),
      col("nl").as("n_left"), col("posl").as("pos_left"),
      col("nr").as("n_right"), col("posr").as("pos_right"),
      graft.functions.Portable.trunc4(lit(1.0) -
        (col("post").cast("decimal(38,0)") * col("post") +
          (col("nt") - col("post")).cast("decimal(38,0)") *
            (col("nt") - col("post"))).cast("double") /
        (col("nt").cast("decimal(38,0)") * col("nt")).cast("double")).as("gini_before"),
      graft.functions.Portable.trunc4(
        (col("nt").cast("double") - col("s")) / col("nt")).as("gini_after"))
    out(root).unionByName(out(kids))
  }

  /** CTE chain scoring best splits per `side` over `(side, feature,
    * bin, y)` rows in `src` — shared by [[treeDepth2Oracle]]'s root
    * and child passes (prefix `p` keeps names unique). */
  private def sqlBestPerSide(p: String, src: String): String =
    s"${p}h AS (SELECT side, feature, bin, count(*)::BIGINT n, sum(y)::BIGINT pos " +
      s"FROM $src GROUP BY 1, 2, 3), " +
      s"${p}c AS (SELECT side, feature, bin, " +
      "sum(n) OVER (PARTITION BY side, feature ORDER BY bin ROWS UNBOUNDED PRECEDING)::BIGINT nl, " +
      "sum(pos) OVER (PARTITION BY side, feature ORDER BY bin ROWS UNBOUNDED PRECEDING)::BIGINT posl, " +
      "sum(n) OVER (PARTITION BY side, feature)::BIGINT nt, " +
      s"sum(pos) OVER (PARTITION BY side, feature)::BIGINT post FROM ${p}h), " +
      s"${p}x AS (SELECT *, nt - nl nr, post - posl posr, nl - posl negl, " +
      s"(nt - nl) - (post - posl) negr FROM ${p}c WHERE nt - nl > 0), " +
      s"${p}s AS (SELECT *, " +
      "((posl*posl + negl*negl) * nr + (posr*posr + negr*negr) * nl)::DOUBLE / (nl * nr) s, " +
      "row_number() OVER (PARTITION BY side ORDER BY " +
      "((posl*posl + negl*negl) * nr + (posr*posr + negr*negr) * nl)::DOUBLE / (nl * nr) DESC, " +
      s"feature, bin) rnk FROM ${p}x)"

  private[graft] def treeDepth2Oracle: String = {
    val out = (src: String, node: String) =>
      s"SELECT $node node, feature, bin split_bin, nl n_left, posl pos_left, " +
        "nr n_right, posr pos_right, " +
        "floor((1.0 - (post*post + (nt-post)*(nt-post))::DOUBLE / (nt*nt)) * 10000) / 10000 gini_before, " +
        s"floor((nt::DOUBLE - s) / nt * 10000) / 10000 gini_after FROM $src WHERE rnk = 1"
    "WITH e AS (SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END::BIGINT y, " +
      "CAST(floor(value / 0.5) AS BIGINT) vbin, " +
      "CAST(json_extract_string(props, '$.k') AS BIGINT) kbin FROM events), " +
      "b1 AS (SELECT 'root' side, feature, bin, y FROM e, " +
      "LATERAL (VALUES ('value', e.vbin), ('props_k', e.kbin)) t(feature, bin) " +
      "WHERE bin IS NOT NULL), " +
      sqlBestPerSide("r", "b1") + ", " +
      "root AS (SELECT feature rf, bin rb FROM rs WHERE rnk = 1), " +
      "sided AS (SELECT CASE WHEN fb <= rb THEN 'left' ELSE 'right' END side, y, vbin, kbin " +
      "FROM (SELECT e.*, rb, CASE WHEN rf = 'value' THEN vbin ELSE kbin END fb " +
      "FROM e, root) WHERE fb IS NOT NULL), " +
      "b2 AS (SELECT side, feature, bin, y FROM sided s2, " +
      "LATERAL (VALUES ('value', s2.vbin), ('props_k', s2.kbin)) t(feature, bin) " +
      "WHERE bin IS NOT NULL), " +
      sqlBestPerSide("k", "b2") + " " +
      out("rs", "'root'") + " UNION ALL " + out("ks", "side")
  }

  // ---- driver wiring ----

  val queries: Map[String, Q] = Map(
    "q_tree2" -> ((s, d) => treeDepth2(Tables.events(s, d))),
    "q_als2" -> ((s, d) => alsHalfStep(Tables.orders(s, d),
      Tables.lineitem(s, d), Tables.part(s, d))),
    "q_simpson" -> ((s, d) => simpsonAudit(Tables.orders(s, d), Tables.customer(s, d))),
    "q_stump" -> ((s, d) => stumpSplit(Tables.events(s, d))),
    "q_ship_lag" -> ((s, d) => shipLag(Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_scan_project" -> ((s, d) => scanProject(Tables.events(s, d))),
    "q_point_lookup" -> ((s, d) => pointLookup(Tables.events(s, d), 777L)),
    "q_ingest_union" -> ((s, d) => ingestUnion(Tables.events(s, d))),
    "q_dedup_distinct" -> ((s, d) => dedupDistinct(Tables.events(s, d))),
    "q_json_extract" -> ((s, d) => jsonExtract(Tables.events(s, d))),
    "q_metadata_json" -> ((s, d) => metadataDuality(Tables.events(s, d))),
    "q_per_day" -> ((s, d) => perDay(Tables.events(s, d))),
    "q1_pricing_summary" -> ((s, d) => pricingSummary(Tables.lineitem(s, d))),
    "q_user_stats" -> ((s, d) => userStats(Tables.events(s, d))),
    "q_top_customers" -> ((s, d) => topCustomers(Tables.orders(s, d), Tables.customer(s, d), 10)),
    "q_brand_revenue" -> ((s, d) => brandRevenue(Tables.lineitem(s, d), Tables.part(s, d))),
    "q_region_revenue" -> ((s, d) => regionRevenue(Tables.customer(s, d),
      Tables.nation(s, d), Tables.region(s, d), Tables.orders(s, d))),
    "q_top_supplier" -> ((s, d) => topSupplier(Tables.supplier(s, d),
      Tables.lineitem(s, d))),
    "q_late_orders" -> ((s, d) => lateOrders(Tables.orders(s, d),
      Tables.lineitem(s, d))),
    "q_cheapest_supplier" -> ((s, d) => cheapestSupplier(Tables.supplier(s, d),
      Tables.lineitem(s, d))),
    "q_returned_items" -> ((s, d) => returnedItems(Tables.customer(s, d),
      Tables.nation(s, d), Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_shipping_priority" -> ((s, d) => shippingPriority(Tables.customer(s, d),
      Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_local_supplier_volume" -> ((s, d) => localSupplierVolume(Tables.region(s, d),
      Tables.nation(s, d), Tables.customer(s, d), Tables.supplier(s, d),
      Tables.orders(s, d), Tables.lineitem(s, d))),
    "q_semi_join" -> ((s, d) => segmentsWithOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_anti_join" -> ((s, d) => segmentsWithoutOrders(Tables.customer(s, d), Tables.orders(s, d))),
    "q_window_running" -> ((s, d) => runningTotals(Tables.orders(s, d))),
    "q_window_gaps" -> ((s, d) => orderGaps(Tables.orders(s, d))),
    "q_window_topk" -> ((s, d) => topOrdersPerCustomer(Tables.orders(s, d), 3)),
    "q_rollup" -> ((s, d) => rollupFlags(Tables.lineitem(s, d))),
    "q_cube" -> ((s, d) => cubeOrders(Tables.orders(s, d))),
    "q_setop_intersect" -> ((s, d) => usersIntersect(Tables.events(s, d))),
    "q_setop_except" -> ((s, d) => usersExcept(Tables.events(s, d))),
    "q_scalar_funcs" -> ((s, d) => scalarFuncs(Tables.part(s, d))),
    "q_range_join" -> ((s, d) => rapidPairs(Tables.events(s, d))),
    "q_asof_join" -> ((s, d) => asofPurchaseView(Tables.events(s, d))),
    "q_distinct_exact" -> ((s, d) => distinctExact(Tables.lineitem(s, d))),
    "q_approx_distinct" -> ((s, d) => approxDistinct(Tables.lineitem(s, d))))

  val oracleSql: Map[String, String] = Map(
    "q_als2" ->
      ("WITH r0 AS (SELECT o_custkey u, p_brand brand, " +
        "sum(CAST(l_quantity AS BIGINT))::BIGINT r FROM lineitem " +
        "JOIN orders ON l_orderkey = o_orderkey " +
        "JOIN part ON l_partkey = p_partkey GROUP BY 1, 2), " +
        "wy AS (SELECT *, 1000::BIGINT y1m, " +
        "(('0x' || substr(md5('als|' || brand), 1, 15))::BIGINT % 1000) - 500 y2m FROM r0), " +
        "f AS (SELECT u, (sum(y1m * y1m) + 100000)::BIGINT a_s, " +
        "sum(y1m * y2m)::BIGINT b_s, (sum(y2m * y2m) + 100000)::BIGINT c_s, " +
        "sum(y1m * r)::BIGINT d1_s, sum(y2m * r)::BIGINT d2_s FROM wy GROUP BY 1), " +
        "x AS (SELECT u, (c_s * d1_s - b_s * d2_s)::DOUBLE / " +
        "(a_s * c_s - b_s * b_s) * 1000 x1, " +
        "(a_s * d2_s - b_s * d1_s)::DOUBLE / (a_s * c_s - b_s * b_s) * 1000 x2 " +
        "FROM f WHERE u IN (0, 1, 2, 3, 4)), " +
        "bw AS (SELECT brand, " +
        "(('0x' || substr(md5('als|' || brand), 1, 15))::BIGINT % 1000) - 500 y2m " +
        "FROM (SELECT DISTINCT p_brand brand FROM part)), " +
        "sc AS (SELECT u, brand, x1 * 1.0 + x2 * (y2m::DOUBLE / 1000) score " +
        "FROM x CROSS JOIN bw WHERE NOT EXISTS " +
        "(SELECT 1 FROM r0 WHERE r0.u = x.u AND r0.brand = bw.brand)), " +
        "rk AS (SELECT u, brand, floor(score * 10000) / 10000 score, " +
        "row_number() OVER (PARTITION BY u ORDER BY score DESC, brand)::BIGINT rnk FROM sc) " +
        "SELECT u AS \"user\", brand, score, rnk FROM rk WHERE rnk <= 3"),
    "q_simpson" ->
      ("WITH base AS (SELECT c_nationkey nation, " +
        "CASE WHEN c_mktsegment = 'BUILDING' THEN 1 ELSE 0 END::BIGINT is_a, " +
        "CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT) cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "WHERE c_mktsegment IN ('BUILDING', 'MACHINERY')), " +
        "cells AS (SELECT nation, " +
        "sum(CASE WHEN is_a = 1 THEN 1 ELSE 0 END)::BIGINT n_a, " +
        "sum(CASE WHEN is_a = 0 THEN 1 ELSE 0 END)::BIGINT n_b, " +
        "sum(CASE WHEN is_a = 1 THEN cents ELSE 0 END)::BIGINT sum_a, " +
        "sum(CASE WHEN is_a = 0 THEN cents ELSE 0 END)::BIGINT sum_b " +
        "FROM base GROUP BY 1), " +
        "pooled AS (SELECT sign(sum(CASE WHEN is_a = 1 THEN cents ELSE 0 END)::HUGEINT * " +
        "sum(CASE WHEN is_a = 0 THEN 1 ELSE 0 END)::HUGEINT - " +
        "sum(CASE WHEN is_a = 0 THEN cents ELSE 0 END)::HUGEINT * " +
        "sum(CASE WHEN is_a = 1 THEN 1 ELSE 0 END)::HUGEINT)::BIGINT pooled_sign FROM base) " +
        "SELECT nation, n_a, n_b, " +
        "floor(sum_a / n_a / 100 * 100) / 100 AS avg_a, " +
        "floor(sum_b / n_b / 100 * 100) / 100 AS avg_b, " +
        "sign(sum_a::HUGEINT * n_b - sum_b::HUGEINT * n_a)::BIGINT AS stratum_sign, pooled_sign, " +
        "(sign(sum_a::HUGEINT * n_b - sum_b::HUGEINT * n_a)::BIGINT * pooled_sign < 0) AS reversed " +
        "FROM cells CROSS JOIN pooled WHERE n_a > 0 AND n_b > 0"),
    "q_tree2" -> treeDepth2Oracle,
    "q_stump" ->
      ("WITH base AS (SELECT feature, bin, y FROM (" +
        "SELECT CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END::BIGINT y, " +
        "CAST(floor(value / 0.5) AS BIGINT) vbin, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) kbin FROM events) e, " +
        "LATERAL (VALUES ('value', e.vbin), ('props_k', e.kbin)) t(feature, bin) " +
        "WHERE bin IS NOT NULL), " +
        "hist AS (SELECT feature, bin, count(*)::BIGINT n, sum(y)::BIGINT pos " +
        "FROM base GROUP BY 1, 2), " +
        "cum AS (SELECT feature, bin, " +
        "sum(n) OVER (PARTITION BY feature ORDER BY bin ROWS UNBOUNDED PRECEDING)::BIGINT nl, " +
        "sum(pos) OVER (PARTITION BY feature ORDER BY bin ROWS UNBOUNDED PRECEDING)::BIGINT posl, " +
        "sum(n) OVER (PARTITION BY feature)::BIGINT nt, " +
        "sum(pos) OVER (PARTITION BY feature)::BIGINT post FROM hist), " +
        "sc AS (SELECT *, nt - nl AS nr, post - posl AS posr, nl - posl AS negl, " +
        "(nt - nl) - (post - posl) AS negr FROM cum WHERE nt - nl > 0), " +
        "scored AS (SELECT *, " +
        "((posl*posl + negl*negl) * nr + (posr*posr + negr*negr) * nl)::DOUBLE / (nl * nr) AS s, " +
        "row_number() OVER (PARTITION BY feature ORDER BY " +
        "((posl*posl + negl*negl) * nr + (posr*posr + negr*negr) * nl)::DOUBLE / (nl * nr) DESC, bin) rnk " +
        "FROM sc) " +
        "SELECT feature, bin AS split_bin, nl AS n_left, posl AS pos_left, " +
        "nr AS n_right, posr AS pos_right, " +
        "floor((1.0 - (post*post + (nt-post)*(nt-post))::DOUBLE / (nt*nt)) * 10000) / 10000 AS gini_before, " +
        "floor((nt::DOUBLE - s) / nt * 10000) / 10000 AS gini_after " +
        "FROM scored WHERE rnk = 1"),
    "q_ship_lag" ->
      ("WITH cells AS (SELECT o_orderpriority, " +
        "CAST(floor(datediff('day', o_orderdate, l_shipdate) / 30.0) AS BIGINT) AS bucket, " +
        "count(*) AS n, min(datediff('day', o_orderdate, l_shipdate))::BIGINT AS min_days, " +
        "max(datediff('day', o_orderdate, l_shipdate))::BIGINT AS max_days " +
        "FROM lineitem JOIN orders ON l_orderkey = o_orderkey GROUP BY 1, 2) " +
        "SELECT o_orderpriority, bucket, n, min_days, max_days, " +
        "floor(n / sum(n) OVER (PARTITION BY o_orderpriority) * 10000) / 10000 AS share " +
        "FROM cells"),
    "q_scan_project" ->
      "SELECT event_id, user_id, event_type, value FROM events",
    "q_point_lookup" ->
      ("SELECT event_id, user_id, event_type, value, epoch_ms(ts) AS ts_ms, props " +
        "FROM events WHERE event_id = 777"),
    "q_ingest_union" ->
      ("SELECT event_type, count(*) AS n, round(sum(value), 2) AS sum_value FROM (" +
        "SELECT * FROM events WHERE event_type = 'purchase' " +
        "UNION ALL SELECT * FROM events WHERE event_type = 'error') GROUP BY event_type"),
    "q_dedup_distinct" ->
      "SELECT DISTINCT user_id, event_type FROM events",
    "q_json_extract" ->
      ("SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) AS k, count(*) AS n " +
        "FROM events GROUP BY 1"),
    "q_metadata_json" ->
      ("SELECT event_id, props AS metadata_json, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_raw, " +
        "CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_map FROM events"),
    "q_per_day" ->
      ("SELECT CAST(ts AS DATE) AS day, count(*) AS n, round(sum(value), 2) AS sum_value " +
        "FROM events GROUP BY 1"),
    "q1_pricing_summary" ->
      ("SELECT l_returnflag, l_linestatus, round(sum(l_quantity), 2) AS sum_qty, " +
        "round(sum(l_extendedprice), 2) AS sum_base_price, " +
        "round(sum(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price, " +
        "round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 2) AS sum_charge, " +
        "floor(round(sum(l_quantity), 2) * 10000 / count(*)) / 10000 AS avg_qty, " +
        "floor(round(sum(l_extendedprice), 2) * 10000 / count(*)) / 10000 AS avg_price, " +
        "floor(round(sum(l_discount), 4) * 1000000 / count(*)) / 1000000 AS avg_disc, count(*) AS count_order " +
        "FROM lineitem WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00' " +
        "GROUP BY l_returnflag, l_linestatus"),
    "q_user_stats" ->
      ("SELECT user_id, event_type, count(*) AS n, round(sum(value), 2) AS sum_value, " +
        "floor(round(sum(value), 2) * 10000 / count(*)) / 10000 AS avg_value, " +
        "min(value) AS min_value, max(value) AS max_value " +
        "FROM events GROUP BY user_id, event_type"),
    "q_top_customers" ->
      ("SELECT c_custkey, c_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "GROUP BY c_custkey, c_name ORDER BY revenue DESC, c_custkey LIMIT 10"),
    "q_brand_revenue" ->
      ("SELECT p_brand, round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, " +
        "count(*) AS n_items FROM lineitem JOIN part ON l_partkey = p_partkey GROUP BY p_brand"),
    "q_region_revenue" ->
      ("SELECT r_name, round(sum(o_totalprice), 2) AS revenue, count(*) AS n_orders " +
        "FROM orders JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey " +
        "JOIN region ON n_regionkey = r_regionkey GROUP BY r_name"),
    "q_cheapest_supplier" ->
      ("WITH u AS (SELECT l_partkey, l_suppkey, " +
        "CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT)::DOUBLE / " +
        "CAST(floor(l_quantity) AS BIGINT) AS unit_price " +
        "FROM lineitem WHERE l_quantity > 0), " +
        "p AS (SELECT l_partkey, l_suppkey, min(unit_price) AS pair_min " +
        "FROM u GROUP BY 1, 2), " +
        "m AS (SELECT *, min(pair_min) OVER (PARTITION BY l_partkey) AS part_min FROM p) " +
        "SELECT l_partkey, s_suppkey, s_name, " +
        "floor(part_min * 10000) / 10000 AS unit_price " +
        "FROM m JOIN supplier ON l_suppkey = s_suppkey WHERE pair_min = part_min"),
    "q_late_orders" ->
      ("SELECT o_orderpriority, count(*) AS n_orders FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' " +
        "AND o_orderdate < TIMESTAMP '1996-04-01' " +
        "AND EXISTS (SELECT 1 FROM lineitem WHERE l_orderkey = o_orderkey " +
        "AND l_shipdate > o_orderdate + INTERVAL 90 DAY) " +
        "GROUP BY 1"),
    "q_top_supplier" ->
      ("WITH r AS (SELECT l_suppkey, " +
        "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
        "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))::BIGINT AS rev_scaled " +
        "FROM lineitem WHERE l_shipdate >= TIMESTAMP '1996-01-01' " +
        "AND l_shipdate < TIMESTAMP '1996-04-01' GROUP BY 1) " +
        "SELECT s_suppkey, s_name, rev_scaled, " +
        "floor(rev_scaled / 10000.0::DOUBLE * 100) / 100 AS revenue " +
        "FROM r JOIN supplier ON l_suppkey = s_suppkey " +
        "WHERE rev_scaled = (SELECT max(rev_scaled) FROM r)"),
    "q_returned_items" ->
      ("WITH o AS (SELECT o_orderkey, o_custkey FROM orders " +
        "WHERE o_orderdate >= TIMESTAMP '1997-01-01' " +
        "AND o_orderdate < TIMESTAMP '1997-04-01'), " +
        "r AS (SELECT o_custkey, " +
        "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
        "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))::BIGINT AS rev_scaled, " +
        "count(*) AS n_lines " +
        "FROM lineitem JOIN o ON l_orderkey = o_orderkey " +
        "WHERE l_returnflag = 'R' GROUP BY 1), " +
        "rk AS (SELECT *, row_number() OVER " +
        "(ORDER BY rev_scaled DESC, o_custkey) AS rnk FROM r) " +
        "SELECT c_custkey, c_name, n_name, " +
        "floor(rev_scaled / 10000.0::DOUBLE * 100) / 100 AS revenue, n_lines, rnk " +
        "FROM rk JOIN customer ON o_custkey = c_custkey " +
        "JOIN nation ON c_nationkey = n_nationkey WHERE rnk <= 20"),
    "q_shipping_priority" ->
      ("WITH c AS (SELECT c_custkey FROM customer WHERE c_mktsegment = 'BUILDING'), " +
        "o AS (SELECT o_orderkey, o_orderdate, o_orderpriority FROM orders " +
        "JOIN c ON o_custkey = c_custkey WHERE o_orderdate < TIMESTAMP '1998-06-01'), " +
        "r AS (SELECT l_orderkey, o_orderdate, o_orderpriority, " +
        "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
        "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)))::BIGINT AS rev_scaled " +
        "FROM lineitem JOIN o ON l_orderkey = o_orderkey " +
        "WHERE l_shipdate > TIMESTAMP '1998-06-01' GROUP BY 1, 2, 3), " +
        "rk AS (SELECT *, row_number() OVER (ORDER BY rev_scaled DESC, l_orderkey) AS rnk " +
        "FROM r) " +
        "SELECT l_orderkey, floor(rev_scaled / 10000.0::DOUBLE * 100) / 100 AS revenue, " +
        "o_orderdate, o_orderpriority, rnk FROM rk WHERE rnk <= 10"),
    "q_local_supplier_volume" ->
      ("WITH r AS (SELECT r_regionkey FROM region WHERE r_name = 'ASIA'), " +
        "n AS (SELECT n_nationkey, n_name FROM nation JOIN r ON n_regionkey = r_regionkey), " +
        "c AS (SELECT c_custkey, c_nationkey FROM customer JOIN n ON c_nationkey = n_nationkey), " +
        "o AS (SELECT o_orderkey, c_nationkey FROM orders JOIN c ON o_custkey = c_custkey " +
        "WHERE o_orderdate >= TIMESTAMP '1996-01-01' AND o_orderdate < TIMESTAMP '1997-01-01'), " +
        "l AS (SELECT l_orderkey, l_suppkey, CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT) * " +
        "(100 - CAST(floor(l_discount * 100 + 0.5) AS BIGINT)) AS term FROM lineitem), " +
        "s AS (SELECT s_suppkey, s_nationkey FROM supplier) " +
        "SELECT n_name, sum(term)::BIGINT AS rev_scaled, " +
        "floor(sum(term) / 10000.0::DOUBLE * 100) / 100 AS revenue, " +
        "count(*)::BIGINT AS n_lines " +
        "FROM l JOIN o ON l_orderkey = o_orderkey " +
        "JOIN s ON l_suppkey = s_suppkey AND s_nationkey = c_nationkey " +
        "JOIN n ON c_nationkey = n_nationkey GROUP BY n_name"),
    "q_semi_join" ->
      ("SELECT c_mktsegment, count(*) AS n_customers FROM customer " +
        "WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_mktsegment"),
    "q_anti_join" ->
      ("SELECT c_mktsegment, count(*) AS n_customers FROM customer " +
        "WHERE NOT EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey) " +
        "GROUP BY c_mktsegment"),
    "q_window_running" ->
      ("SELECT o_custkey, o_orderkey, round(sum(o_totalprice) OVER (" +
        "PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) AS running_total FROM orders"),
    "q_window_gaps" ->
      ("SELECT o_custkey, o_orderkey, coalesce(datediff('day', " +
        "lag(o_orderdate) OVER (PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey), " +
        "o_orderdate), -1) AS gap_days FROM orders"),
    "q_window_topk" ->
      ("SELECT * FROM (SELECT o_custkey, o_orderkey, o_totalprice, row_number() OVER (" +
        "PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey) AS rnk FROM orders) " +
        "WHERE rnk <= 3"),
    "q_rollup" ->
      ("SELECT l_returnflag, l_linestatus, count(*) AS n, round(sum(l_quantity), 2) AS sum_qty " +
        "FROM lineitem GROUP BY ROLLUP(l_returnflag, l_linestatus)"),
    "q_cube" ->
      ("SELECT o_orderstatus, o_orderpriority, count(*) AS n, " +
        "round(sum(o_totalprice), 2) AS sum_price " +
        "FROM orders GROUP BY CUBE(o_orderstatus, o_orderpriority)"),
    "q_setop_intersect" ->
      ("SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' " +
        "INTERSECT SELECT DISTINCT user_id FROM events WHERE event_type = 'error'"),
    "q_setop_except" ->
      ("SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase' " +
        "EXCEPT SELECT DISTINCT user_id FROM events WHERE event_type = 'error'"),
    "q_scalar_funcs" ->
      ("SELECT p_partkey, upper(p_brand) AS brand_uc, CAST(length(p_name) AS BIGINT) AS name_len, " +
        "substring(p_name, 1, 5) AS name_head, regexp_extract(p_type, '^(\\w+)', 1) AS type_head, " +
        "round(p_retailprice * 1.1, 2) AS price_taxed, " +
        "concat_ws('-', p_brand, 'x', CAST(p_size AS VARCHAR)) AS tag, " +
        "CAST(p_size % 7 AS BIGINT) AS size_mod, " +
        "CAST(floor(p_retailprice) AS BIGINT) AS price_floor FROM part"),
    "q_range_join" ->
      ("SELECT a.user_id, count(*) AS n_pairs FROM events a JOIN events b " +
        "ON a.user_id = b.user_id AND epoch_ms(b.ts) > epoch_ms(a.ts) " +
        "AND epoch_ms(b.ts) <= epoch_ms(a.ts) + 300000 GROUP BY a.user_id"),
    "q_asof_join" ->
      ("SELECT p.event_id, v.event_id AS view_id FROM " +
        "(SELECT event_id, user_id, epoch_ms(ts) tms FROM events WHERE event_type = 'purchase') p " +
        "ASOF LEFT JOIN " +
        "(SELECT event_id, user_id, epoch_ms(ts) tms FROM events WHERE event_type = 'view') v " +
        "ON p.user_id = v.user_id AND p.tms >= v.tms"),
    "q_distinct_exact" ->
      ("SELECT count(DISTINCT l_partkey) AS n_parts, count(DISTINCT l_suppkey) AS n_supps " +
        "FROM lineitem"),
    // The oracle recomputes the EXACT side and pins the bound verdicts
    // TRUE — the hash compares the verdict, never the engine-specific
    // HLL estimate (see approxDistinct's docstring).
    "q_approx_distinct" ->
      ("SELECT count(DISTINCT l_partkey) AS n_parts_exact, " +
        "count(DISTINCT l_orderkey) AS n_orders_exact, " +
        "TRUE AS parts_within_5pct, TRUE AS orders_within_5pct FROM lineitem"))
}
