package graft.operators

import graft.{Scope, Tables}
import graft.functions.Portable.trunc4
import graft.functions.TextHash.hash60
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Mergeable-sketch operators in RELATIONAL form. A count-min sketch is
  * a d×w counter matrix whose cells are plain sums — sums commute, so
  * the relational realization (explode d hash rows → hash-agg) is
  * exactly the map-side-combinable partial-aggregate Spark already
  * executes, and the estimates are DETERMINISTIC regardless of
  * partition/merge order (unlike Misra–Gries/SpaceSaving, whose
  * counters depend on merge order and cannot be oracle-checked). The
  * DuckDB oracle rebuilds the identical matrix from the same md5
  * bucket hashes and reproduces every estimate bit-for-bit.
  */
object Sketches {

  /** Count-min heavy hitters over integer-dollar transaction amounts:
    * the top-`topN` amounts by exact count, each with its CMS estimate
    * — the overestimate gap (est − n) is the collision signal a
    * monitoring pipeline watches when sizing d×w.
    *
    * Scale: the sketch is d×w cells (4×256 here) regardless of input
    * size — counter updates combine map-side, the shuffle carries at
    * most d×w partials per task. The exact pass exists to RANK the
    * report (at 100 TB you'd probe a fixed watchlist of amounts
    * against the counters instead and skip the exact agg entirely —
    * the probe join below is that path). */
  def cmsHeavyHitters(ev: DataFrame, depth: Int = 4, width: Int = 256,
      topN: Int = 20): DataFrame = Scope { s =>
    // base feeds BOTH the counter build and the exact ranking pass —
    // persist so the events scan happens once (house rule: persist
    // multi-consumer intermediates; one narrow long column per row)
    val base = s.persist(ev.select(floor(col("value")).cast("long").as("amt")))
    def bucketed(df: DataFrame) = df
      .select(df.columns.map(col) :+
        explode(array((0 until depth).map(lit): _*)).as("i"): _*)
      .withColumn("bucket", pmod(
        hash60(concat(col("i").cast("string"), lit("|"), col("amt").cast("string"))),
        lit(width.toLong)))
    val counters = bucketed(base).groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as("c"))
    val exact = base.groupBy(col("amt")).agg(count(lit(1)).as("n"))
    val est = bucketed(exact).join(counters, Seq("i", "bucket"))
      .groupBy(col("amt"), col("n")).agg(min(col("c")).as("est"))
    // the report is tiny post-agg; the global window ranks ~|distinct
    // amounts| rows, not the input
    val w = Window.orderBy(col("n").desc, col("amt"))
    est.withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .select(col("amt"), col("n"), col("est"), col("rnk"))
      .localCheckpoint(true) // topN rows; lets the base cache go
  }

  /** Histogram-sketch quantile estimation — the at-scale sibling of the
    * exact percentile (q_sql_percentiles): one fixed-width binned
    * aggregate (≤ a few thousand cells however large the input — the
    * shuffle carries bin partials, map-side combined), a cumulative
    * window over the TINY bin table, then linear interpolation inside
    * the target bin. An exact percentile needs a global sort of the
    * column at 100 TB; this needs one narrow hash-agg, which is why
    * every production engine (and Spark's own approx_percentile) ships
    * a sketch for it. Unlike approx_percentile's GK sketch, the
    * fixed-bin histogram is merge-order-DETERMINISTIC — every estimate
    * is oracle-checkable bit-for-bit.
    *
    * Membership/arithmetic parity: bin ids are integer floors; the
    * target rank q·total multiplies the same literal against the same
    * integer in both engines; the unique target bin satisfies
    * cum ≥ target AND cum − cnt < target (cnt > 0 makes it unique even
    * when the target lands exactly on a bin boundary); interpolation
    * divides identical doubles. Output truncated at 4 decimals. */
  def approxQuantiles(orders: DataFrame, qs: Seq[Double] = Seq(0.5, 0.9, 0.99),
      binW: Double = 64.0): DataFrame =
    quantileFromBins(orders
      .groupBy(floor(col("o_totalprice") / binW).cast("long").as("bin"))
      .agg(count(lit(1)).as("cnt")), qs, binW)

  /** The estimate read-back over a finalized (bin, cnt) histogram —
    * cumulative window, target rank, in-bin interpolation — factored
    * so the batch sketch and the streaming histogram state
    * ([[graft.streaming.Streaming.streamQuantile]]) evaluate through
    * ONE code path (the [[hllEstimate]] discipline). */
  private[graft] def quantileFromBins(bins: DataFrame, qs: Seq[Double],
      binW: Double): DataFrame = {
    // the cumulative window runs over |bins| rows (thousands), never the
    // input — a single-partition window over a post-agg relation
    val cum = bins
      .withColumn("cum", sum(col("cnt")).over(Window.orderBy(col("bin"))))
      .withColumn("total", sum(col("cnt")).over(Window.partitionBy()))
    val probes = explode(array(qs.map(lit): _*)).as("p")
    cum.select(col("bin"), col("cnt"), col("cum"), col("total"), probes)
      .withColumn("target", col("p") * col("total"))
      .filter(col("cum") >= col("target") && (col("cum") - col("cnt")) < col("target"))
      .select(col("p"), col("total").as("n_total"), col("bin"),
        graft.functions.Portable.trunc4(
          col("bin") * binW + (col("target") - (col("cum") - col("cnt")))
            / col("cnt") * binW).as("est"))
  }

  /** Relational HyperLogLog — the distinct-count sketch itself as a
    * declarative plan, fully DuckDB-oracle-checkable (unlike
    * `approx_count_distinct`, whose HLL++ register encoding is engine
    * internal — this is the oracled sibling of `q_approx_distinct`).
    * One sketch per `metric` (three cardinality regimes in one pass:
    * unique id ≈ row count, user id ≈ mid, event type ≈ tiny).
    *
    * Why every estimate is merge-order-DETERMINISTIC:
    *  - register value = max(rho) — max commutes, any partial-agg
    *    merge order gives the same register;
    *  - rho is pure integer bit-math: trailing zeros of the 52 bits
    *    above the register index via `length(bin(rest & -rest))`
    *    (rest & -rest isolates the lowest set bit; its binary string
    *    has exactly t+1 digits — no float log2 anywhere);
    *  - the harmonic sum Σ 2^-M_j is computed as the EXACT integer
    *    Σ 2^(53-M_j) (BIGINT, ≤ 256·2^53 < 2^62) — integer sums
    *    commute where a float Σ 2^-M_j would depend on merge order;
    *  - the estimate divides identical doubles from that exact
    *    integer, and the small-range linear-counting branch switches
    *    on the SAME derived doubles in both engines.
    *
    * Scale: one tagged-explode scan (3 narrow rows per event) →
    * hash-agg to ≤ 3·m register cells with map-side combine — the
    * shuffle carries at most 3·m partials per task regardless of
    * input size, the CMS discipline. The exact `count(distinct)`
    * exists to report the error and would be skipped at 100 TB. */
  def hllDistinct(ev: DataFrame, m: Int = 256): DataFrame = Scope { s =>
    val tagged = s.persist(hllTagged(ev)) // feeds the sketch AND the exact-error report
    val regs = hllCells(tagged, m)
      .groupBy(col("metric"), col("reg")).agg(max(col("rho")).as("mx"))
    val exact = tagged.groupBy(col("metric")).agg(countDistinct(col("v")).as("n_exact"))
    hllEstimate(regs, exact, m)
      .localCheckpoint(true) // 3 rows; releases the tagged cache
  }

  /** The 3-metric tagged explode the HLL sketch reads — one narrow
    * (metric, v) row per (event, metric). Shared with the streaming
    * sketch so both transports hash the identical value stream. */
  private[graft] def hllTagged(ev: DataFrame): DataFrame =
    ev.select(explode(array(
        struct(lit("event_id").as("metric"), col("event_id").cast("string").as("v")),
        struct(lit("user_id").as("metric"), col("user_id").cast("string").as("v")),
        struct(lit("event_type").as("metric"), col("event_type").as("v")))).as("r"))
      .select(col("r.metric").as("metric"), col("r.v").as("v"))
      .filter(col("v").isNotNull)

  /** Per-row HLL register cell — (reg, rho) appended to a (metric, v)
    * relation, all integer bit-math (see [[hllDistinct]]'s determinism
    * notes). The in-plan half shared by the batch sketch and the
    * streaming register state
    * ([[graft.streaming.Streaming.streamHll]]): the hash rides the
    * plan codegen'd BEFORE any shuffle in both transports. */
  private[graft] def hllCells(tagged: DataFrame, m: Int): DataFrame =
    tagged
      .withColumn("h", hash60(col("v")))
      .withColumn("reg", pmod(col("h"), lit(m.toLong)))
      .withColumn("rest", expr(s"h div $m"))
      .withColumn("rho", when(col("rest") === 0L, lit(53L))
        .otherwise(length(bin(expr("rest & -rest"))).cast("long")))

  /** Estimate read-back over finalized (metric, reg, mx) registers —
    * the exact-integer harmonic sum, linear-counting branch, and
    * error report of [[hllDistinct]], factored so the batch and
    * streaming sketches evaluate through ONE code path and the
    * estimate arithmetic cannot diverge between transports. */
  private[graft] def hllEstimate(regs: DataFrame, exact: DataFrame, m: Int): DataFrame = {
    val alphaM2: Double = hllAlphaM2(m)
    regs.groupBy(col("metric")).agg(
        sum(expr("shiftleft(1L, cast(53 - mx as int))")).as("s_hit"),
        count(lit(1)).as("n_hit"))
      .withColumn("v_empty", lit(m.toLong) - col("n_hit"))
      .withColumn("est_raw",
        lit(alphaM2) / expr("cast(s_hit + v_empty * shiftleft(1L, 53) as double)"))
      .withColumn("est", trunc4(
        when(col("est_raw") <= lit(2.5 * m) && col("v_empty") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty")))
          .otherwise(col("est_raw"))))
      .join(exact, Seq("metric"))
      .select(col("metric"), col("n_exact"), col("v_empty"), col("est"),
        trunc4(abs(col("est") - col("n_exact")) / col("n_exact")).as("rel_err"))
  }

  /** Relational Bloom filter + membership audit. The filter is ~130
    * 63-bit words built by `bit_or` — OR commutes and is idempotent, so
    * the build is map-side combinable and merge-order-deterministic
    * (the same reason the CMS/HLL relational forms oracle-check). The
    * member set is "users with any event ≥ `minValue`"; every user is
    * then probed and the confusion matrix reported — false negatives
    * are structurally impossible (property-spec'd), false positives are
    * the m/k/n trade the audit measures.
    *
    * Scale: ONE (user) hash-agg derives membership; build explodes
    * members ×k into (word, mask) rows that collapse to ≤ m/64 cells
    * (map-side combined); the probe joins those ≤ 128 rows broadcast —
    * at 100 TB the filter rides to every executor for pennies, which
    * is exactly why Bloom filters are the cross-stage pruning
    * primitive (see the runtime bloom-join ScaleSpec demo). */
  def bloomAudit(ev: DataFrame, minValue: Double = 250.0, mBits: Int = 8192,
      k: Int = 3): DataFrame = Scope { s =>
    // feeds both the build and the probe
    val users = s.persist(ev.groupBy(col("user_id"))
      .agg((max(when(col("value") >= minValue, 1L).otherwise(0L)) === 1L).as("is_member")))
    def hashed(df: DataFrame) = df
      .select(col("user_id"), col("is_member"),
        explode(array((0 until k).map(lit): _*)).as("j"))
      .withColumn("pos", pmod(hash60(
        concat(col("j").cast("string"), lit("|"), col("user_id").cast("string"))),
        lit(mBits.toLong)))
      // 63-bit packing: bit 63 would need `1 << 63`, which overflows a
      // checked signed shift (DuckDB errors where the JVM wraps) — one
      // unused bit per word buys engine-portable masks
      .withColumn("word", expr("pos div 63"))
      .withColumn("mask", expr("shiftleft(1L, cast(pos % 63 as int))"))
    val words = hashed(users.filter(col("is_member")))
      .groupBy(col("word")).agg(expr("bit_or(mask)").as("bits"))
    val probe = hashed(users)
      .join(broadcast(words), Seq("word"), "left")
      .withColumn("hit", coalesce(col("bits").bitwiseAND(col("mask")) =!= 0L, lit(false)))
      .groupBy(col("user_id"), col("is_member"))
      .agg((sum(when(col("hit"), 1L).otherwise(0L)) === k).as("bloom_maybe"))
    probe.groupBy(col("is_member"), col("bloom_maybe"))
      .agg(count(lit(1)).as("n"))
      .withColumn("share", trunc4(col("n") / sum(col("n")).over(Window.partitionBy())))
      .localCheckpoint(true) // ≤ 4 rows; releases the users cache
  }

  /** Weekly distinct-user estimates built by MERGING daily HLL
    * sketches — the property that makes sketches the 100 TB rollup
    * primitive: registers are `max(rho)` cells, and max is
    * commutative + idempotent, so a day's sketch computed ONCE can be
    * re-merged into any coarser period (week, month, all-time)
    * without touching the raw data again. This operator materializes
    * the daily register relation and derives the weekly sketch from
    * it (SketchSpec pins merged == direct-weekly register-for-
    * register); a warehouse stores exactly that daily relation —
    * ≤ m rows per day — instead of re-scanning the fact table per
    * rollup window.
    *
    * Same integer disciplines as [[hllDistinct]] (exact 2^(53−M)
    * harmonic sums, linear-counting branch on derived doubles); the
    * exact count exists for the error column and would be skipped at
    * scale. Weeks are epoch-day div 7 — calendar-free and
    * engine-portable. */
  def hllDailyRollup(ev: DataFrame, m: Int = 256): DataFrame = Scope { s =>
    // feeds the weekly merge AND the day count
    val daily = s.persist(ev.select(expr("ts_ms div 86400000").as("day_idx"),
        hash60(col("user_id").cast("string")).as("h"))
      .withColumn("week", expr("day_idx div 7"))
      .withColumn("reg", pmod(col("h"), lit(m.toLong)))
      .withColumn("rest", expr(s"h div $m"))
      .withColumn("rho", when(col("rest") === 0L, lit(53L))
        .otherwise(length(bin(expr("rest & -rest"))).cast("long")))
      .groupBy(col("week"), col("day_idx"), col("reg")).agg(max(col("rho")).as("mx")))
    val weekly = daily.groupBy(col("week"), col("reg")).agg(max(col("mx")).as("mx"))
    val sk = weekly.groupBy(col("week")).agg(
      sum(expr("shiftleft(1L, cast(53 - mx as int))")).as("s_hit"),
      count(lit(1)).as("n_hit"))
    val nDays = daily.select(col("week"), col("day_idx")).distinct()
      .groupBy(col("week")).agg(count(lit(1)).as("n_days"))
    val exact = ev.groupBy(expr("(ts_ms div 86400000) div 7").as("week"))
      .agg(countDistinct(col("user_id")).as("n_exact"))
    val alphaM2: Double = hllAlphaM2(m)
    sk
      .withColumn("v_empty", lit(m.toLong) - col("n_hit"))
      .withColumn("est_raw",
        lit(alphaM2) / expr("cast(s_hit + v_empty * shiftleft(1L, 53) as double)"))
      .withColumn("est", trunc4(
        when(col("est_raw") <= lit(2.5 * m) && col("v_empty") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty")))
          .otherwise(col("est_raw"))))
      .join(nDays, Seq("week")).join(exact, Seq("week"))
      .select(col("week"), col("n_days"), col("n_exact"), col("v_empty"),
        col("est"), trunc4(abs(col("est") - col("n_exact")) / col("n_exact")).as("rel_err"))
      .localCheckpoint(true) // one row per week; releases the daily cache
  }

  /** Mergeable equi-width histogram quantile sketch + its error audit
    * — the bin-count quantile estimator a warehouse keeps NEXT TO the
    * data (bin counts are plain sums, so per-partition/per-day
    * histograms merge by addition — the same re-rollup property as
    * [[hllDailyRollup]]'s registers), with the estimate checked
    * against the exact empirical quantile at the same rank.
    *
    * Rank selection is pure integers (r = ⌈n·p/100⌉ by integer
    * arithmetic, bin pick = min bin with cum ≥ r), so bucket
    * membership is engine-exact; only the within-bin linear
    * interpolation divides doubles, identically on both sides. The
    * two cumulative windows run over the BIN relations (≤ range/width
    * and ≤ distinct-cents rows — collapsed aggregates, never the
    * fact); at 100 TB only the coarse-bin path would run, which is
    * one map-side-combinable hash-agg. */
  def quantileSketch(ev: DataFrame, binCents: Long = 1000L,
      pcts: Seq[Int] = Seq(50, 90, 99)): DataFrame = Scope { s =>
    // feeds the sketch bins AND the exact bins
    val cents = s.persist(ev.select(floor(col("value") * 100 + 0.5).cast("long").as("cents")))
    val cum = cents.groupBy(expr(s"cents div $binCents").as("b"))
      .agg(count(lit(1)).as("c"))
      .withColumn("cum", sum(col("c")).over(Window.orderBy(col("b"))))
    val ecum = cents.groupBy(col("cents")).agg(count(lit(1)).as("ec"))
      .withColumn("ecum", sum(col("ec")).over(Window.orderBy(col("cents"))))
    val pRel = cents.agg(count(lit(1)).as("n"))
      .select(col("n"), explode(array(pcts.map(lit): _*)).as("p"))
      .withColumn("r", expr("(n * p + 99) div 100"))
    val pick = cum.crossJoin(broadcast(pRel)).filter(col("cum") >= col("r"))
      .groupBy(col("p"), col("n"), col("r")).agg(min(col("b")).as("b"))
      .join(cum, "b")
    val exact = ecum.crossJoin(broadcast(pRel.select(col("p"), col("r").as("er"))))
      .filter(col("ecum") >= col("er"))
      .groupBy(col("p")).agg(min(col("cents")).as("exact_cents"))
    pick
      .withColumn("est_cents", trunc4(col("b") * lit(binCents) +
        (col("r") - (col("cum") - col("c"))) * lit(binCents) / col("c")))
      .join(exact, "p")
      .select(col("p"), col("n"), col("r"), col("exact_cents"), col("est_cents"),
        trunc4(abs(col("est_cents") - col("exact_cents"))).as("abs_err"))
      .localCheckpoint(true) // |pcts| rows; releases the cents cache
  }

  /** Bitmap-index set intersection: first-week vs last-week active
    * users packed into 63-bit presence words (word = id div 63,
    * `bit_or` of single-bit masks — the roaring-style primitive OLAP
    * engines use for segment membership), intersected with ONE
    * bitwise AND + popcount pass. The retention question "how many of
    * the first week's users are still here in the last?" costs a
    * |users|/63-row equi-join instead of a distinct-set join — and
    * unlike the Bloom/HLL sketches the answer is EXACT, because ids
    * are dense enough to own a bit.
    *
    * Determinism is structural: bit_or and the AND/popcount are
    * commutative/idempotent integer ops (the [[bloomAudit]] 63-bit
    * packing rule keeps `1 << 62` the largest shift both engines
    * accept). At 10⁹ users the word relation is ~16M rows — the
    * bitmap rides a broadcast where the user set never could. */
  def bitmapRetention(ev: DataFrame): DataFrame = Scope { s =>
    val wk = ev.select(expr("(ts_ms div 86400000) div 7").as("week"), col("user_id"))
    val bounds = wk.agg(min(col("week")).as("w0"), max(col("week")).as("w1"))
    // feeds both period slices AND the intersection join
    val words = s.persist(wk.crossJoin(broadcast(bounds))
      .filter(col("week") === col("w0") || col("week") === col("w1"))
      .select(when(col("week") === col("w0"), "first").otherwise("last").as("period"),
        expr("user_id div 63").as("word"),
        expr("shiftleft(1L, cast(user_id % 63 as int))").as("mask"))
      .groupBy(col("period"), col("word")).agg(expr("bit_or(mask)").as("bits")))
    def side(p: String, as: String) =
      words.filter(col("period") === p).select(col("word"), col("bits").as(as))
    val counts = words.groupBy(col("period"))
      .agg(sum(expr("bit_count(bits)")).as("n"))
    val nFirst = counts.filter(col("period") === "first").select(col("n").as("n_first"))
    val nLast = counts.filter(col("period") === "last").select(col("n").as("n_last"))
    val nBoth = side("first", "fb").join(side("last", "lb"), "word")
      .agg(coalesce(sum(expr("bit_count(fb & lb)")), lit(0L)).as("n_both"))
    nFirst.crossJoin(nLast).crossJoin(nBoth)
      .withColumn("retention", trunc4(col("n_both") / col("n_first")))
      .localCheckpoint(true) // 1 row; releases the word cache
  }

  /** KMV (k-minimum-values / bottom-k) distinct estimator — the OTHER
    * classic cardinality sketch next to [[hllDistinct]]: with hashes
    * uniform on [0, 2^60), E[kth smallest] ≈ k/n · 2^60, so
    * n̂ = (k−1)·2^60 / h_(k). Everything is integer until the final
    * division, so the estimate oracle-checks bit-for-bit.
    *
    * Scale: the distinct-hash pass is one map-side-combinable hash-agg;
    * the bottom-k needs NO global sort of it — a per-bucket rank
    * (shuffle on pmod(h, parts), uniform by construction) keeps ≤ k
    * rows per bucket, and only those parts·k survivors meet the global
    * rank window. Returns empty when the input has < k distinct keys
    * (use a smaller k — spec covers it). */
  def kmvDistinct(ev: DataFrame, k: Int = 64, parts: Int = 32): DataFrame = Scope { s =>
    // one narrow persisted projection feeds the hash pass AND the exact
    // error report (house rule: persist multi-consumer intermediates)
    val ids = s.persist(ev.select(col("user_id")))
    val h = ids.select(hash60(col("user_id").cast("string")).as("h")).distinct()
    val local = Window.partitionBy(pmod(col("h"), lit(parts.toLong))).orderBy(col("h"))
    val cand = h.withColumn("lr", row_number().over(local)).filter(col("lr") <= k)
    val kth = cand.withColumn("r", row_number().over(Window.orderBy(col("h"))))
      .filter(col("r") === k)
    val exact = ids.agg(countDistinct(col("user_id")).as("n_exact"))
    val num: Double = (k - 1).toDouble * (1L << 60).toDouble
    val estRaw = lit(num) / col("h")
    kth.crossJoin(exact).select(col("h").as("kth_hash"), col("n_exact"),
        trunc4(estRaw).as("est"),
        trunc4(abs(estRaw - col("n_exact")) / col("n_exact")).as("rel_err"))
      .localCheckpoint(true) // one row; releases the ids cache
  }

  /** KMV set algebra: estimate the UNION and INTERSECTION cardinality
    * of two user sets (weekday-active vs weekend-active) from bottom-k
    * signatures — the sketch-merge operation a federated pipeline runs
    * when the raw sets live on different clusters ([[kmvDistinct]] is
    * the single-set base case). Union: (k−1)·2⁶⁰ / kth-smallest union
    * hash. Intersection: among the k smallest union hashes, the
    * fraction present in BOTH sets (an unbiased Jaccard estimate)
    * times the union estimate. Hashes are the portable md5-60; every
    * count is integer; the few divisions at the end run in the same
    * order in both engines. The exact intersection rides along as the
    * honesty audit, same as kmvDistinct's.
    *
    * Scale: per-set distinct-hash relations collapse the fact once
    * each; the bottom-k prune is the two-stage (partition-local then
    * global) row_number, so no global sort of the full hash set; the
    * membership joins touch k rows against the set relations. */
  def kmvIntersect(ev: DataFrame, k: Int = 64, parts: Int = 32): DataFrame = Scope { s =>
    val users = s.persist(ev.select(col("user_id"),
      expr("weekday(ts)").as("dow")))
    def hashSet(cond: Column): DataFrame = users.filter(cond)
      .select(hash60(col("user_id").cast("string")).as("h")).distinct()
    val a = s.persist(hashSet(col("dow") <= 4))
    val b = s.persist(hashSet(col("dow") >= 5))
    val u = a.union(b).distinct()
    val local = Window.partitionBy(pmod(col("h"), lit(parts.toLong))).orderBy(col("h"))
    val bottom = s.persist(u.withColumn("lr", row_number().over(local)).filter(col("lr") <= k)
      .withColumn("r", row_number().over(Window.orderBy(col("h"))))
      .filter(col("r") <= k).select(col("h"), col("r")))
    // fewer than k hashes ⇒ the sketch holds the whole set: count
    // exactly (the standard KMV small-set branch; sf0.001 has 15 users)
    val kth = bottom.agg(count(lit(1)).as("cnt"), expr("max_by(h, r)").as("kth"))
    val both = bottom
      .join(a.withColumn("fa", lit(1)), Seq("h"), "left_outer")
      .join(b.withColumn("fb", lit(1)), Seq("h"), "left_outer")
      .agg(sum(when(col("fa").isNotNull && col("fb").isNotNull, 1L)
        .otherwise(0L)).as("n_both"))
    val exact = users.filter(col("dow") <= 4).select(col("user_id")).distinct()
      .intersect(users.filter(col("dow") >= 5).select(col("user_id")).distinct())
      .agg(count(lit(1)).as("n_inter_exact"))
    val num: Double = (k - 1).toDouble * (1L << 60).toDouble
    val unionRaw = when(col("cnt") < k, col("cnt").cast("double"))
      .otherwise(lit(num) / col("kth"))
    kth.crossJoin(both).crossJoin(exact)
      .select(lit(k.toLong).as("k"), col("cnt"), col("n_both"),
        trunc4(unionRaw).as("union_est"),
        trunc4(col("n_both").cast("double") / col("cnt")).as("jaccard_est"),
        trunc4(unionRaw * col("n_both") / col("cnt")).as("inter_est"),
        col("n_inter_exact"))
      .localCheckpoint(true)
  }

  /** HLL set algebra + audit: estimate |purchase users ∩ click users|
    * by inclusion–exclusion over three sketches — A, B, and A∪B, where
    * the union sketch is the register-for-register MAX merge (the HLL
    * property [[hllDailyRollup]] pins) — against the exact
    * intersection. This is the sketch capability [[kmvIntersect]]
    * covers with bottom-k signatures, done the HLL way: at 100 TB the
    * per-set register relations are m rows each and the whole set
    * algebra runs on registers, never on user ids.
    *
    * Same estimator discipline as [[hllDistinct]]: exact BIGINT
    * register sums, the one shared alpha constant, small-range
    * correction mirrored; the only new arithmetic is
    * est_a + est_b − est_union over the already-truncated estimates. */
  def hllIntersect(ev: DataFrame, m: Int = 256): DataFrame = Scope { s =>
    // feeds the registers AND the exact intersection
    val base = s.persist(ev.filter(col("event_type").isin("purchase", "click"))
      .select(col("event_type").as("set_id"), col("user_id").cast("string").as("v")))
    // feeds the per-set sketches AND the union merge
    val regs = s.persist(base
      .withColumn("h", hash60(col("v")))
      .withColumn("reg", pmod(col("h"), lit(m.toLong)))
      .withColumn("rest", expr(s"h div $m"))
      .withColumn("rho", when(col("rest") === 0L, lit(53L))
        .otherwise(length(bin(expr("rest & -rest"))).cast("long")))
      .groupBy(col("set_id"), col("reg")).agg(max(col("rho")).as("mx")))
    val perSet = regs.groupBy(col("set_id"))
      .agg(sum(expr("shiftleft(1L, cast(53 - mx as int))")).as("s_hit"),
        count(lit(1)).as("n_hit"))
    val union = regs.groupBy(col("reg")).agg(max(col("mx")).as("mx"))
      .agg(sum(expr("shiftleft(1L, cast(53 - mx as int))")).as("s_hit"),
        count(lit(1)).as("n_hit"))
      .select(lit("union").as("set_id"), col("s_hit"), col("n_hit"))
    val alphaM2: Double = hllAlphaM2(m)
    val est = perSet.unionByName(union)
      .withColumn("v_empty", lit(m.toLong) - col("n_hit"))
      .withColumn("est_raw",
        lit(alphaM2) / expr("cast(s_hit + v_empty * shiftleft(1L, 53) as double)"))
      .withColumn("est", trunc4(
        when(col("est_raw") <= lit(2.5 * m) && col("v_empty") > 0,
          lit(m.toDouble) * log(lit(m.toDouble) / col("v_empty")))
          .otherwise(col("est_raw"))))
    val pivoted = est.agg(
      max(when(col("set_id") === "purchase", col("est"))).as("est_a"),
      max(when(col("set_id") === "click", col("est"))).as("est_b"),
      max(when(col("set_id") === "union", col("est"))).as("est_union"))
    val exact = base.distinct()
      .groupBy(col("v")).agg(count(lit(1)).as("ns"))
      .filter(col("ns") === 2).agg(count(lit(1)).as("n_exact"))
    pivoted.crossJoin(broadcast(exact))
      .withColumn("est_intersect", trunc4(col("est_a") + col("est_b") - col("est_union")))
      .select(col("est_a"), col("est_b"), col("est_union"), col("est_intersect"),
        col("n_exact"),
        when(col("n_exact") > 0,
          trunc4(abs(col("est_intersect") - col("n_exact")) / col("n_exact"))).as("rel_err"))
      .localCheckpoint(true) // 1 row; releases both caches
  }

  // ---- driver wiring ----

  /** Count-min join-cardinality estimation (the AGMS/CMS inner-product
    * estimator, Cormode & Muthukrishnan 2005 §4.2): |R ⋈ S| on key k is
    * Σ_k cntR(k)·cntS(k), and the CMS estimate is
    * min_i Σ_w cmsR[i][w]·cmsS[i][w] — the sketch a cost-based
    * optimizer probes BEFORE running a join it might need to reorder
    * (the "is this join 10⁶ or 10¹² rows" question asked at plan time,
    * answered without touching the fact tables again). Reported per
    * depth prefix (est_d1 ≥ est_d2 ≥ … — deeper sketches only remove
    * collision inflation) against the exact join size, with the
    * relative overestimate a planner would calibrate d×w against.
    *
    * Keys: `orders.o_custkey` vs `customer.c_custkey` — the natural
    * orders-per-customer join whose size varies per key.
    *
    * Determinism & scale: both sketches are d×w = 4×8192 SUM matrices —
    * merge-order-free, map-side combined, the shuffle carries ≤ d·w
    * partials per task however large either side is. The inner product
    * and the min-over-depths run on the 1024-cell relations; the exact
    * count (the verdict column) is one equi-join COUNT the oracle
    * reproduces. Products cntR·cntS stay ≪ 2^53 at any realistic
    * cell load (cells are ~n/w), and the sums are exact BIGINTs. */
  def joinCardEst(orders: DataFrame, customer: DataFrame,
      depth: Int = 4, width: Int = 8192): DataFrame = {
    def sketch(df: DataFrame, key: Column, side: String) = df
      .select(key.cast("long").as("k"),
        explode(array((0 until depth).map(lit): _*)).as("i"))
      .withColumn("bucket", pmod(
        hash60(concat(col("i").cast("string"), lit("|"), col("k").cast("string"))),
        lit(width.toLong)))
      .groupBy(col("i"), col("bucket"))
      .agg(count(lit(1)).as(s"c_$side"))
    // the inner product multiplies two per-bucket counts (each ~n/width
    // — corpus-scale) and sums `width` of them: exact DECIMAL(38,0)
    // accumulation (round-10 overflow audit; the estimate IS the
    // self-join cardinality, ~n²/width ≫ 2^63 at 1e9 rows)
    val prod = sketch(orders, col("o_custkey"), "r")
      .join(sketch(customer, col("c_custkey"), "s"), Seq("i", "bucket"))
      .groupBy(col("i"))
      .agg(sum(col("c_r").cast("decimal(38,0)") * col("c_s")).as("ip"))
    // prefix-min over depths: est with d=1..depth from ONE sketch build
    val prefix = prod.withColumn("est", min(col("ip")).over(
      Window.orderBy(col("i")).rowsBetween(Window.unboundedPreceding, Window.currentRow)))
    val exact = orders.join(customer,
        col("o_custkey") === col("c_custkey"))
      .agg(count(lit(1)).as("exact_rows"))
    prefix.crossJoin(broadcast(exact))
      .select((col("i") + 1).cast("long").as("depths_used"), col("est"),
        col("exact_rows"),
        // explicit double cast: est is DECIMAL now, and a decimal/long
        // Divide would round at decimal scale instead of the double
        // division both engines previously agreed on
        trunc4((col("est") - col("exact_rows")).cast("double") /
          col("exact_rows")).as("rel_over"))
  }

  /** AMS/tug-of-war second-moment sketch (Alon, Matias & Szegedy 1996):
    * F₂ = Σ_k f_k² of the user_id frequency vector — which is exactly
    * the SELF-join size on user_id, the quantity a planner needs
    * before a self-join the same way [[joinCardEst]]'s inner product
    * serves a two-table join. Each of `depth` estimators draws a ±1
    * sign per key from md5 and keeps one counter Z = Σ s(k) (a plain
    * sum — merge-order-free); Z² is an unbiased F₂ estimate, and the
    * report carries each estimator, their mean, and the exact F₂ with
    * relative error.
    *
    * Exactness & scale: Z is an exact BIGINT (|Z| ≤ n); Z² and F₂
    * form in DECIMAL(38,0) and report as BIGINT (exact to ~3·10⁹
    * rows, an error rather than a wrap beyond — in practice |Z|
    * concentrates near √F₂, far smaller). The sketch
    * pass explodes `depth` narrow rows per event into ONE map-side-
    * combined 8-cell aggregate; the exact pass is one (user) hash-agg
    * the 100 TB deployment would skip. */
  def amsF2(ev: DataFrame, depth: Int = 8): DataFrame = Scope { s =>
    val base = s.persist(ev.select(col("user_id").as("k")))
    val z = base
      .select(col("k"), explode(array((0 until depth).map(lit): _*)).as("i"))
      .withColumn("s", lit(1L) - lit(2L) * pmod(
        hash60(concat(lit("ams|"), col("i").cast("string"), lit("|"),
          col("k").cast("string"))), lit(2L)))
      .groupBy(col("i")).agg(sum(col("s")).as("z"))
    val exact = base.groupBy(col("k")).agg(count(lit(1)).as("f"))
      .agg(sum(col("f").cast("decimal(38,0)") * col("f")).cast("long").as("f2"))
    z.withColumn("est", (col("z").cast("decimal(38,0)") * col("z")).cast("long"))
      .withColumn("mean_est", avg(col("est")).over(Window.partitionBy()))
      .crossJoin(broadcast(exact))
      .select(col("i").cast("long").as("i"), col("z"), col("est"), col("f2"),
        trunc4((col("est") - col("f2")) / col("f2")).as("rel_err"),
        trunc4((col("mean_est") - col("f2")) / col("f2")).as("mean_rel_err"))
      .localCheckpoint(true) // 8 rows; frees the base cache
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_ams_f2" -> ((s, d) => amsF2(Tables.events(s, d))),
    "q_join_card_est" -> ((s, d) =>
      joinCardEst(Tables.orders(s, d), Tables.customer(s, d))),
    "q_hll_intersect" -> ((s, d) => hllIntersect(Tables.events(s, d))),
    "q_approx_quantile" -> ((s, d) => approxQuantiles(Tables.orders(s, d))),
    "q_hll_distinct" -> ((s, d) => hllDistinct(Tables.events(s, d))),
    "q_bloom_audit" -> ((s, d) => bloomAudit(Tables.events(s, d))),
    "q_hll_weekly" -> ((s, d) => hllDailyRollup(Tables.events(s, d))),
    "q_quantile_sketch" -> ((s, d) => quantileSketch(Tables.events(s, d))),
    "q_bitmap_retention" -> ((s, d) => bitmapRetention(Tables.events(s, d))),
    "q_kmv_distinct" -> ((s, d) => kmvDistinct(Tables.events(s, d))),
    "q_kmv_intersect" -> ((s, d) => kmvIntersect(Tables.events(s, d))),
    "q_cms_heavy_hitters" -> ((s, d) => cmsHeavyHitters(Tables.events(s, d))))

  /** alpha_m · m² · 2^53 folded to ONE Scala double so both engines
    * divide the identical constant (decimal literals parse as DECIMAL
    * in SQL and would silently switch the arithmetic to decimal); the
    * oracle interpolates Double.toString of the m=256 value, which
    * round-trips the exact bits — operator and oracle share THIS
    * definition, so the constant cannot drift between them. */
  private def hllAlphaM2(m: Int): Double =
    0.7213 / (1.0 + 1.079 / m) * m * m * 9007199254740992.0

  val oracleSql: Map[String, String] = Map(
    "q_hll_intersect" ->
      ("WITH base AS (SELECT event_type AS set_id, CAST(user_id AS VARCHAR) AS v " +
        "FROM events WHERE event_type IN ('purchase', 'click')), " +
        "t AS (SELECT set_id, v, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h FROM base), " +
        "rh AS (SELECT set_id, h % 256 AS reg, CASE WHEN h // 256 = 0 THEN 53 " +
        "ELSE length(bin((h // 256) & -(h // 256))) END AS rho FROM t), " +
        "regs AS (SELECT set_id, reg, max(rho) AS mx FROM rh GROUP BY 1, 2), " +
        "sets AS (SELECT set_id, sum(1::BIGINT << (53 - mx))::BIGINT AS s_hit, " +
        "count(*) AS n_hit FROM regs GROUP BY 1 " +
        "UNION ALL SELECT 'union', sum(1::BIGINT << (53 - mx))::BIGINT, count(*) " +
        "FROM (SELECT reg, max(mx) AS mx FROM regs GROUP BY 1)), " +
        "e AS (SELECT set_id, 256 - n_hit AS v_empty, " +
        s"${hllAlphaM2(256)}::DOUBLE / CAST(s_hit + (256 - n_hit) * (1::BIGINT << 53) AS DOUBLE) AS est_raw " +
        "FROM sets), " +
        "est AS (SELECT set_id, floor((CASE WHEN est_raw <= 640.0 AND v_empty > 0 " +
        "THEN 256.0::DOUBLE * ln(256.0::DOUBLE / v_empty) ELSE est_raw END) * 10000) " +
        "/ 10000 AS est, v_empty FROM e), " +
        "pv AS (SELECT max(CASE WHEN set_id = 'purchase' THEN est END) AS est_a, " +
        "max(CASE WHEN set_id = 'click' THEN est END) AS est_b, " +
        "max(CASE WHEN set_id = 'union' THEN est END) AS est_union FROM est), " +
        "ex AS (SELECT count(*) AS n_exact FROM (SELECT v FROM (SELECT DISTINCT set_id, v " +
        "FROM base) GROUP BY v HAVING count(*) = 2)), " +
        "r AS (SELECT est_a, est_b, est_union, " +
        "floor((est_a + est_b - est_union) * 10000) / 10000 AS est_intersect, n_exact " +
        "FROM pv CROSS JOIN ex) " +
        "SELECT est_a, est_b, est_union, est_intersect, n_exact, " +
        "CASE WHEN n_exact > 0 THEN " +
        "floor(abs(est_intersect - n_exact) / n_exact * 10000) / 10000 END AS rel_err FROM r"),
    "q_bloom_audit" ->
      ("WITH u AS (SELECT user_id, max(CASE WHEN value >= 250 THEN 1 ELSE 0 END) = 1 " +
        "AS is_member FROM events GROUP BY 1), " +
        "hx AS (SELECT user_id, is_member, " +
        "('0x' || substr(md5(j::VARCHAR || '|' || user_id::VARCHAR), 1, 15))::BIGINT % 8192 " +
        "AS pos FROM u CROSS JOIN (SELECT unnest(range(3)) j)), " +
        "hh AS (SELECT user_id, is_member, pos // 63 AS word, " +
        "(1::BIGINT << CAST(pos % 63 AS INT)) AS mask FROM hx), " +
        "words AS (SELECT word, bit_or(mask) AS bits FROM hh WHERE is_member GROUP BY 1), " +
        "probe AS (SELECT user_id, is_member, " +
        "sum(CASE WHEN (bits & mask) <> 0 THEN 1 ELSE 0 END) = 3 AS bloom_maybe " +
        "FROM hh LEFT JOIN words USING (word) GROUP BY 1, 2), " +
        "cells AS (SELECT is_member, bloom_maybe, count(*) AS n FROM probe GROUP BY 1, 2) " +
        "SELECT is_member, bloom_maybe, n, " +
        "floor(n / (sum(n) OVER ()) * 10000) / 10000 AS share FROM cells"),
    "q_kmv_intersect" ->
      ("WITH us AS (SELECT user_id, isodow(ts) - 1 AS dow FROM events), " +
        "sa AS (SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))" +
        "::BIGINT AS h FROM us WHERE dow <= 4), " +
        "sb AS (SELECT DISTINCT ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))" +
        "::BIGINT AS h FROM us WHERE dow >= 5), " +
        "su AS (SELECT h FROM sa UNION SELECT h FROM sb), " +
        "g AS (SELECT h, row_number() OVER (ORDER BY h) AS r FROM " +
        "(SELECT h, row_number() OVER (PARTITION BY h % 32 ORDER BY h) AS lr FROM su) " +
        "WHERE lr <= 64), " +
        "bk AS (SELECT h, r FROM g WHERE r <= 64), " +
        "kt AS (SELECT count(*) AS cnt, max_by(h, r) AS kth FROM bk), " +
        "bc AS (SELECT sum(CASE WHEN fa IS NOT NULL AND fb IS NOT NULL " +
        "THEN 1 ELSE 0 END)::BIGINT AS n_both FROM bk " +
        "LEFT JOIN (SELECT h, 1 AS fa FROM sa) USING (h) " +
        "LEFT JOIN (SELECT h, 1 AS fb FROM sb) USING (h)), " +
        "ex AS (SELECT count(*) AS n_inter_exact FROM " +
        "(SELECT DISTINCT user_id FROM us WHERE dow <= 4 " +
        "INTERSECT SELECT DISTINCT user_id FROM us WHERE dow >= 5)), " +
        "uest AS (SELECT cnt, kth, CASE WHEN cnt < 64 THEN cnt::DOUBLE ELSE " +
        s"${(64 - 1).toDouble * (1L << 60).toDouble}::DOUBLE / kth END AS uraw " +
        "FROM kt) " +
        "SELECT 64::BIGINT AS k, cnt, n_both, " +
        "floor(uraw * 10000) / 10000 AS union_est, " +
        "floor(n_both::DOUBLE / cnt * 10000) / 10000 AS jaccard_est, " +
        "floor(uraw * n_both / cnt * 10000) / 10000 AS inter_est, n_inter_exact " +
        "FROM uest CROSS JOIN bc CROSS JOIN ex"),
    "q_kmv_distinct" ->
      ("WITH h AS (SELECT DISTINCT " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h FROM events), " +
        "c AS (SELECT h, row_number() OVER (PARTITION BY h % 32 ORDER BY h) AS lr FROM h), " +
        "g AS (SELECT h, row_number() OVER (ORDER BY h) AS r FROM c WHERE lr <= 64), " +
        "ex AS (SELECT count(DISTINCT user_id) AS n_exact FROM events) " +
        s"SELECT h AS kth_hash, n_exact, " +
        s"floor(${(64 - 1).toDouble * (1L << 60).toDouble}::DOUBLE / h * 10000) / 10000 AS est, " +
        s"floor(abs(${(64 - 1).toDouble * (1L << 60).toDouble}::DOUBLE / h - n_exact) / n_exact * 10000) / 10000 AS rel_err " +
        "FROM g CROSS JOIN ex WHERE r = 64"),
    "q_bitmap_retention" ->
      ("WITH wk AS (SELECT (epoch_ms(ts) // 86400000) // 7 AS week, user_id FROM events), " +
        "bounds AS (SELECT min(week) AS w0, max(week) AS w1 FROM wk), " +
        "words AS (SELECT CASE WHEN week = w0 THEN 'first' ELSE 'last' END AS period, " +
        "user_id // 63 AS word, bit_or(1::BIGINT << CAST(user_id % 63 AS INT)) AS bits " +
        "FROM wk CROSS JOIN bounds WHERE week = w0 OR week = w1 GROUP BY 1, 2), " +
        "cnt AS (SELECT period, sum(bit_count(bits))::BIGINT AS n FROM words GROUP BY 1), " +
        "nb AS (SELECT coalesce(sum(bit_count(f.bits & l.bits)), 0)::BIGINT AS n_both " +
        "FROM (SELECT word, bits FROM words WHERE period = 'first') f " +
        "JOIN (SELECT word, bits FROM words WHERE period = 'last') l USING (word)) " +
        "SELECT nf.n AS n_first, nl.n AS n_last, nb.n_both, " +
        "floor(nb.n_both::DOUBLE / nf.n * 10000) / 10000 AS retention " +
        "FROM (SELECT n FROM cnt WHERE period = 'first') nf " +
        "CROSS JOIN (SELECT n FROM cnt WHERE period = 'last') nl CROSS JOIN nb"),
    "q_quantile_sketch" ->
      ("WITH cents AS (SELECT CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents " +
        "FROM events), " +
        "nn AS (SELECT count(*) AS n FROM cents), " +
        "pr AS (SELECT nn.n, r.p, (nn.n * r.p + 99) // 100 AS r " +
        "FROM nn CROSS JOIN (SELECT unnest([50, 90, 99]) AS p) r), " +
        "cum AS (SELECT b, c, sum(c) OVER (ORDER BY b)::BIGINT AS cum FROM " +
        "(SELECT cents // 1000 AS b, count(*) AS c FROM cents GROUP BY 1) x), " +
        "pick0 AS (SELECT pr.p, pr.n, pr.r, min(cum.b) AS b FROM cum " +
        "JOIN pr ON cum.cum >= pr.r GROUP BY 1, 2, 3), " +
        "pick AS (SELECT pick0.p, pick0.n, pick0.r, pick0.b, cum.c, cum.cum " +
        "FROM pick0 JOIN cum USING (b)), " +
        "ecum AS (SELECT cents, sum(ec) OVER (ORDER BY cents)::BIGINT AS ecum FROM " +
        "(SELECT cents, count(*) AS ec FROM cents GROUP BY 1) x), " +
        "ex AS (SELECT pr.p, min(ecum.cents) AS exact_cents FROM ecum " +
        "JOIN pr ON ecum.ecum >= pr.r GROUP BY 1), " +
        "est AS (SELECT p, n, r, floor((b * 1000 + " +
        "(r - (cum - c)) * 1000 / c) * 10000) / 10000 AS est_cents FROM pick) " +
        "SELECT est.p, est.n, est.r, ex.exact_cents, est.est_cents, " +
        "floor(abs(est.est_cents - ex.exact_cents) * 10000) / 10000 AS abs_err " +
        "FROM est JOIN ex USING (p)"),
    "q_hll_weekly" ->
      ("WITH t AS (SELECT (epoch_ms(ts) // 86400000) AS day_idx, " +
        "('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 15))::BIGINT AS h, " +
        "user_id FROM events), " +
        "r AS (SELECT day_idx // 7 AS week, day_idx, h % 256 AS reg, " +
        "h // 256 AS rest FROM t), " +
        "rh AS (SELECT week, day_idx, reg, CASE WHEN rest = 0 THEN 53 " +
        "ELSE length(bin(rest & -rest)) END AS rho FROM r), " +
        "daily AS (SELECT week, day_idx, reg, max(rho) AS mx FROM rh GROUP BY 1, 2, 3), " +
        "weekly AS (SELECT week, reg, max(mx) AS mx FROM daily GROUP BY 1, 2), " +
        "sk AS (SELECT week, sum(1::BIGINT << (53 - mx))::BIGINT AS s_hit, " +
        "count(*) AS n_hit FROM weekly GROUP BY 1), " +
        "nd AS (SELECT week, count(DISTINCT day_idx) AS n_days FROM daily GROUP BY 1), " +
        "ex AS (SELECT day_idx // 7 AS week, count(DISTINCT user_id) AS n_exact " +
        "FROM t GROUP BY 1), " +
        "e AS (SELECT week, 256 - n_hit AS v_empty, " +
        s"${hllAlphaM2(256)}::DOUBLE / CAST(s_hit + (256 - n_hit) * (1::BIGINT << 53) AS DOUBLE) AS est_raw " +
        "FROM sk), " +
        "est AS (SELECT week, v_empty, " +
        "floor((CASE WHEN est_raw <= 640.0 AND v_empty > 0 " +
        "THEN 256.0::DOUBLE * ln(256.0::DOUBLE / v_empty) ELSE est_raw END) * 10000) / 10000 AS est " +
        "FROM e) " +
        "SELECT est.week, nd.n_days, ex.n_exact, est.v_empty, est.est, " +
        "floor(abs(est.est - ex.n_exact) / ex.n_exact * 10000) / 10000 AS rel_err " +
        "FROM est JOIN nd USING (week) JOIN ex USING (week)"),
    "q_hll_distinct" ->
      ("WITH src AS (" +
        "SELECT 'event_id' AS metric, CAST(event_id AS VARCHAR) AS v FROM events " +
        "UNION ALL SELECT 'user_id', CAST(user_id AS VARCHAR) FROM events " +
        "UNION ALL SELECT 'event_type', event_type FROM events), " +
        "t AS (SELECT metric, v, ('0x' || substr(md5(v), 1, 15))::BIGINT AS h " +
        "FROM src WHERE v IS NOT NULL), " +
        "r AS (SELECT metric, v, h % 256 AS reg, h // 256 AS rest FROM t), " +
        "rh AS (SELECT metric, reg, CASE WHEN rest = 0 THEN 53 " +
        "ELSE length(bin(rest & -rest)) END AS rho FROM r), " +
        "regs AS (SELECT metric, reg, max(rho) AS mx FROM rh GROUP BY 1, 2), " +
        "sk AS (SELECT metric, sum(1::BIGINT << (53 - mx))::BIGINT AS s_hit, " +
        "count(*) AS n_hit FROM regs GROUP BY 1), " +
        "ex AS (SELECT metric, count(DISTINCT v) AS n_exact FROM t GROUP BY 1), " +
        "e AS (SELECT metric, 256 - n_hit AS v_empty, " +
        s"${hllAlphaM2(256)}::DOUBLE / CAST(s_hit + (256 - n_hit) * (1::BIGINT << 53) AS DOUBLE) AS est_raw " +
        "FROM sk), " +
        "est AS (SELECT metric, v_empty, " +
        "floor((CASE WHEN est_raw <= 640.0 AND v_empty > 0 " +
        "THEN 256.0::DOUBLE * ln(256.0::DOUBLE / v_empty) ELSE est_raw END) * 10000) / 10000 AS est " +
        "FROM e) " +
        "SELECT metric, n_exact, v_empty, est, " +
        "floor(abs(est - n_exact) / n_exact * 10000) / 10000 AS rel_err " +
        "FROM est JOIN ex USING (metric)"),
    "q_approx_quantile" ->
      ("WITH bins AS (SELECT CAST(floor(o_totalprice / 64.0) AS BIGINT) bin, count(*) cnt " +
        "FROM orders GROUP BY 1), " +
        "c AS (SELECT bin, cnt, sum(cnt) OVER (ORDER BY bin)::BIGINT cum, " +
        "sum(cnt) OVER ()::BIGINT total FROM bins), " +
        // ::DOUBLE[]: a bare decimal list would type as DECIMAL and
        // diverge from Spark's double p·total arithmetic
        "p AS (SELECT unnest([0.5, 0.9, 0.99]::DOUBLE[]) p), " +
        "t AS (SELECT p, total, bin, cnt, cum, p * total target FROM c CROSS JOIN p) " +
        "SELECT p, total AS n_total, bin, " +
        "floor((bin * 64.0 + (target - (cum - cnt))::DOUBLE / cnt * 64.0) * 10000) / 10000 AS est " +
        "FROM t WHERE cum >= target AND (cum - cnt) < target"),
    "q_ams_f2" ->
      ("WITH d AS (SELECT unnest(range(8)) i), " +
        "zs AS (SELECT i, sum(1 - 2 * (('0x' || substr(md5('ams|' || i::VARCHAR || '|' || " +
        "user_id::VARCHAR), 1, 15))::BIGINT % 2))::BIGINT z " +
        "FROM events CROSS JOIN d GROUP BY 1), " +
        "ex AS (SELECT sum(f * f)::BIGINT f2 FROM " +
        "(SELECT count(*)::BIGINT f FROM events GROUP BY user_id)), " +
        "w AS (SELECT i, z, z * z est, avg(z * z) OVER () mean_est FROM zs) " +
        "SELECT i::BIGINT i, z, est, f2, " +
        "floor((est - f2) / f2 * 10000) / 10000 AS rel_err, " +
        "floor((mean_est - f2) / f2 * 10000) / 10000 AS mean_rel_err " +
        "FROM w CROSS JOIN ex"),
    "q_join_card_est" ->
      ("WITH d AS (SELECT unnest(range(4)) i), " +
        "sr AS (SELECT i, ('0x' || substr(md5(i::VARCHAR || '|' || o_custkey::VARCHAR), 1, 15))::BIGINT % 8192 bucket, " +
        "count(*) c_r FROM orders CROSS JOIN d GROUP BY 1, 2), " +
        "ss AS (SELECT i, ('0x' || substr(md5(i::VARCHAR || '|' || c_custkey::VARCHAR), 1, 15))::BIGINT % 8192 bucket, " +
        "count(*) c_s FROM customer CROSS JOIN d GROUP BY 1, 2), " +
        "prod AS (SELECT i, sum(c_r * c_s)::BIGINT ip FROM sr JOIN ss USING (i, bucket) GROUP BY 1), " +
        "pref AS (SELECT i, min(ip) OVER (ORDER BY i ROWS UNBOUNDED PRECEDING)::BIGINT est FROM prod), " +
        "ex AS (SELECT count(*)::BIGINT exact_rows FROM orders JOIN customer ON o_custkey = c_custkey) " +
        "SELECT (i + 1)::BIGINT depths_used, est, exact_rows, " +
        "floor((est - exact_rows) / exact_rows * 10000) / 10000 AS rel_over " +
        "FROM pref CROSS JOIN ex"),
    "q_cms_heavy_hitters" ->
      ("WITH b AS (SELECT CAST(floor(value) AS BIGINT) amt FROM events), " +
        "d AS (SELECT unnest(range(4)) i), " +
        "h AS (SELECT amt, i, ('0x' || substr(md5(i::VARCHAR || '|' || amt::VARCHAR), 1, 15))::BIGINT % 256 bucket " +
        "FROM b CROSS JOIN d), " +
        "counters AS (SELECT i, bucket, count(*) c FROM h GROUP BY 1, 2), " +
        "exact AS (SELECT amt, count(*) n FROM b GROUP BY 1), " +
        "probes AS (SELECT amt, n, i, ('0x' || substr(md5(i::VARCHAR || '|' || amt::VARCHAR), 1, 15))::BIGINT % 256 bucket " +
        "FROM exact CROSS JOIN d), " +
        "est AS (SELECT amt, n, min(c) est FROM probes JOIN counters USING (i, bucket) GROUP BY 1, 2), " +
        "rk AS (SELECT amt, n, est, row_number() OVER (ORDER BY n DESC, amt) rnk FROM est) " +
        "SELECT amt, n, est, rnk FROM rk WHERE rnk <= 20"))
}
