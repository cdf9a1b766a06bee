package graft

import graft.operators.Monitoring
import org.apache.spark.sql.functions._

/** Monitoring analytics semantics (Monitoring.scala) on sf0.001. */
class MonitoringSpec extends SparkSpec {

  private def events = Tables.events(spark, sf)

  test("structuring: flagged groups satisfy band, count, and sum conditions") {
    val r = Monitoring.structuring(events).collect()
    assert(r.nonEmpty, "expected at least one structuring hit at sf0.001")
    r.foreach { row =>
      assert(row.getAs[Long]("n_sub") >= 3L)
      assert(row.getAs[Double]("sum_sub") >= 150.0)
    }
    // every flagged (user, day) group really has >= 3 in-band events
    val recount = events
      .filter(col("value") >= 50 && col("value") < 100)
      .groupBy(col("user_id"), to_date(col("ts")).as("day"))
      .count().filter(col("count") >= 3).count()
    assert(r.length <= recount)
  }

  test("amountOutliers: flags are one-sided, z > 3, and users have >= 10 events") {
    val r = Monitoring.amountOutliers(events).collect()
    assert(r.nonEmpty)
    r.foreach { row => assert(row.getAs[Double]("z") >= 3.0 - 1e-4) }
    val counts = events.groupBy("user_id").count()
      .collect().map(x => x.getLong(0) -> x.getLong(1)).toMap
    r.foreach { row => assert(counts(row.getAs[Long]("user_id")) >= 10L) }
    // one-sided: every flagged value exceeds its user's mean
    val means = events.groupBy("user_id").agg(avg("value").as("m"))
      .collect().map(x => x.getLong(0) -> x.getDouble(1)).toMap
    r.foreach { row =>
      assert(row.getAs[Double]("value") > means(row.getAs[Long]("user_id")))
    }
  }

  test("benford: shares sum to ~1 per type, digits are 1-9, expected matches log10") {
    val r = Monitoring.benford(events).collect()
    val types = r.map(_.getAs[String]("event_type")).distinct
    assert(types.length === 5)
    types.foreach { t =>
      val shares = r.filter(_.getAs[String]("event_type") == t).map(_.getAs[Double]("share"))
      // trunc4 loses at most 1e-4 per digit
      assert(math.abs(shares.sum - 1.0) < 1e-3, s"$t shares sum ${shares.sum}")
    }
    r.foreach { row =>
      val d = row.getAs[String]("digit")
      assert(d.length == 1 && d >= "1" && d <= "9")
      val expected = math.floor(math.log10(1.0 + 1.0 / d.toInt) * 10000) / 10000
      assert(row.getAs[Double]("expected") === expected)
    }
  }

  test("rollingFeatures: self always in the trailing frame; lags null only on first event") {
    val r = Monitoring.rollingFeatures(events).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("n_7d") >= 1L) // current row is in its own frame
      assert(x.getAs[Double]("min_7d") <= x.getAs[Double]("max_7d"))
      val gapIdx = x.fieldIndex("gap_ms")
      if (!x.isNullAt(gapIdx)) assert(x.getLong(gapIdx) >= 0L)
    }
    // exactly one null prev per user (the first event)
    val nullPrevPerUser = r.filter(_.isNullAt(r.head.fieldIndex("prev_value")))
      .groupBy(_.getAs[Long]("user_id")).view.mapValues(_.length)
    assert(nullPrevPerUser.values.forall(_ === 1))
  }

  test("dqAudit: per-type volumes reconcile with the table; time range is sane") {
    val r = Monitoring.dqAudit(events).collect()
    assert(r.map(_.getAs[String]("event_type")).distinct.length === r.length)
    assert(r.map(_.getAs[Long]("n")).sum === events.count())
    r.foreach { x =>
      assert(x.getAs[Long]("min_ts_ms") <= x.getAs[Long]("max_ts_ms"))
      assert(x.getAs[Long]("n_null_props") >= 0L)
      assert(x.getAs[Long]("n_users") >= 1L)
    }
  }

  test("flagSummary: per-user counts reconcile with the individual flag operators") {
    val r = Monitoring.flagSummary(events).collect()
    val byFlag = r.groupBy(_.getAs[String]("flag"))
    assert(byFlag.keySet.subsetOf(Set("structuring", "outlier")))
    val nStruct = byFlag.get("structuring").map(_.map(_.getAs[Long]("n_flags")).sum).getOrElse(0L)
    val nOut = byFlag.get("outlier").map(_.map(_.getAs[Long]("n_flags")).sum).getOrElse(0L)
    assert(nStruct === Monitoring.structuring(events).count())
    assert(nOut === Monitoring.amountOutliers(events).count())
  }

  test("scd2: intervals per user chain without overlap; exactly one open interval") {
    val r = Monitoring.scd2(events)
      .orderBy(col("user_id"), col("valid_from")).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("user_id")).foreach { case (_, rows) =>
      // exactly one current (open) interval per user
      assert(rows.count(_.getAs[Boolean]("is_current")) === 1)
      // each closed interval's valid_to equals the next interval's
      // valid_from; same-millisecond changes share valid_from, so
      // break the tie by valid_to (nulls last) to get interval order
      rows.sortBy(x => (x.getAs[Long]("valid_from"),
        Option(x.getAs[java.lang.Long]("valid_to")).map(_.longValue)
          .getOrElse(Long.MaxValue))).sliding(2).foreach {
        case Array(a, b) =>
          assert(a.getAs[Long]("valid_to") === b.getAs[Long]("valid_from"))
          // consecutive intervals carry different statuses (it's a change log)
          assert(a.getAs[String]("status") !== b.getAs[String]("status"))
        case _ => ()
      }
    }
  }

  test("velocityBursts: flags exactly the events with >= minN in the trailing hour") {
    import spark.implicits._
    // three events inside one hour: only the third sees n_win = 3; the
    // fourth arrives 2h later and restarts the count
    val ev = Seq(
      (1L, 1L, 0L), (2L, 1L, 1800000L), (3L, 1L, 3540000L),
      (4L, 1L, 10800000L))
      .toDF("event_id", "user_id", "ts_ms")
    val r = Monitoring.velocityBursts(ev).collect()
    assert(r.map(_.getAs[Long]("event_id")).toSet === Set(3L))
    assert(r.head.getAs[Long]("n_win") === 3L)
    // and on the corpus: every flag really carries n_win >= 3
    val c = Monitoring.velocityBursts(events).collect()
    assert(c.nonEmpty)
    c.foreach(x => assert(x.getAs[Long]("n_win") >= 3L))
  }

  test("dormantAwakening: gap and value thresholds are both required") {
    import spark.implicits._
    val day = 86400000L
    val ev = Seq(
      (1L, 1L, 0L, 100.0), (2L, 1L, 3 * day, 60.0),   // 3-day gap, big -> flag
      (3L, 2L, 0L, 100.0), (4L, 2L, 3 * day, 40.0),   // 3-day gap, small -> no
      (5L, 3L, 0L, 100.0), (6L, 3L, 1 * day, 500.0))  // short gap, big -> no
      .toDF("event_id", "user_id", "ts_ms", "value")
    val r = Monitoring.dormantAwakening(ev).collect()
    assert(r.map(_.getAs[Long]("event_id")).toSet === Set(2L))
    assert(r.head.getAs[Long]("gap_ms") === 3 * day)
    val c = Monitoring.dormantAwakening(events).collect()
    assert(c.nonEmpty)
    c.foreach { x =>
      assert(x.getAs[Long]("gap_ms") >= 2 * day)
      assert(x.getAs[Double]("value") >= 50.0)
    }
  }

  test("offsettingPairs: equal-cent pairs match within the window, including across buckets") {
    import spark.implicits._
    val day = 86400000L
    val ev = Seq(
      // user 1: e1/e2 same cents 1h apart -> pair; e3 is 8 days after e1
      // and 7.96 after e2 -> no pair with either
      (1L, 1L, 0L, "view", 12.34), (2L, 1L, 3600000L, "purchase", 12.34),
      (3L, 1L, 8 * day, "purchase", 12.34),
      // user 2: 6.5 days apart -> the pair straddles a 7-day bucket edge
      (4L, 2L, (6.5 * day).toLong, "click", 9.99), (5L, 2L, 13 * day, "error", 9.99),
      // user 3: same window, different cents -> no pair
      (6L, 3L, 0L, "view", 5.00), (7L, 3L, 3600000L, "view", 5.01))
      .toDF("event_id", "user_id", "ts_ms", "event_type", "value")
    val r = Monitoring.offsettingPairs(ev).collect()
    val pairs = r.map(x => (x.getAs[Long]("event_id_a"), x.getAs[Long]("event_id_b"))).toSet
    assert(pairs === Set((1L, 2L), (4L, 5L)))
    r.foreach(x => assert(x.getAs[Long]("dt_ms") <= 7 * day && x.getAs[Long]("dt_ms") >= 0))
  }

  test("ewmaDaily: integer-exact halving per calendar day, gaps decay through absent days") {
    import spark.implicits._
    // user 1: $1.00 on day 0, $2.00 on day 1, $4.00 on day 4 (2-day gap)
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 1.00),
      (2L, 1L, "2024-01-02 10:00:00", 2.00),
      (3L, 1L, "2024-01-05 10:00:00", 4.00))
      .toDF("event_id", "user_id", "ts_str", "value")
      .withColumn("ts", to_timestamp(col("ts_str")))
    val r = Monitoring.ewmaDaily(ev).collect()
      .map(x => x.getAs[java.sql.Date]("day").toString -> x.getAs[Double]("ewma")).toMap
    assert(r("2024-01-01") === 1.0)                   // just itself
    assert(r("2024-01-02") === 2.0 + 0.5 * 1.0)       // newest full, prior halved
    // 3 calendar days after day 1: 4 + 2/2^3 + 1/2^4 = 4.3125
    assert(r("2024-01-05") === 4.3125)
    // corpus sanity: the decayed baseline is never below the day's own volume... minus nothing:
    // newest day enters at weight 1, all other terms are non-negative
    val c = Monitoring.ewmaDaily(events).collect()
    assert(c.nonEmpty)
    c.foreach { x =>
      assert(x.getAs[Double]("ewma") >= x.getAs[Long]("cents") / 100.0 - 1e-4)
      assert(x.getAs[Long]("ewma_scaled") >= 0L)
    }
  }

  test("cohortRetention: offset 0 is full retention; cohorts partition the user base") {
    val r = Monitoring.cohortRetention(events).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("week_offset") >= 0L)
      assert(x.getAs[Long]("n_active") <= x.getAs[Long]("n_cohort"))
      val ret = x.getAs[Double]("retention")
      assert(ret > 0.0 && ret <= 1.0)
      if (x.getAs[Long]("week_offset") == 0L) assert(ret === 1.0)
    }
    // every user lands in exactly one cohort: offset-0 cells sum to |users|
    val users = events.select("user_id").distinct().count()
    val sum0 = r.filter(_.getAs[Long]("week_offset") == 0L)
      .map(_.getAs[Long]("n_active")).sum
    assert(sum0 === users)
  }

  test("cohortRetention: hand-built stream") {
    import spark.implicits._
    val wk = 604800000L
    val ev = Seq((1L, 0L), (1L, wk), (2L, 1000L), (3L, wk + 5L))
      .toDF("user_id", "ts_ms")
    val r = Monitoring.cohortRetention(ev).collect()
      .map(x => (x.getAs[Long]("cohort_week"), x.getAs[Long]("week_offset")) ->
        ((x.getAs[Long]("n_active"), x.getAs[Long]("n_cohort"), x.getAs[Double]("retention")))).toMap
    assert(r((0L, 0L)) === ((2L, 2L, 1.0))) // users 1 and 2
    assert(r((0L, 1L)) === ((1L, 2L, 0.5))) // user 1 returns
    assert(r((1L, 0L)) === ((1L, 1L, 1.0))) // user 3's own cohort
    assert(r.size === 3)
  }

  test("gapFill: dense grid, zero-filled gaps, forward-carried cents") {
    import spark.implicits._
    val day = 86400000L
    val ev = Seq(("a", 0L, 1.0), ("a", 2 * day, 2.0), ("b", day, 3.0))
      .toDF("event_type", "ts_ms", "value")
    val r = Monitoring.gapFill(ev).collect()
      .map(x => (x.getAs[String]("event_type"), x.getAs[Long]("day")) ->
        ((x.getAs[Long]("n"), x.getAs[Boolean]("filled"),
          Option(x.getAs[java.lang.Long]("carry_cents")).map(_.toLong)))).toMap
    assert(r.size === 6) // 2 types x days 0..2, gaps materialized
    assert(r(("a", 0L)) === ((1L, false, Some(100L))))
    assert(r(("a", 1L)) === ((0L, true, Some(100L)))) // gap: zero count, carried value
    assert(r(("a", 2L)) === ((1L, false, Some(200L))))
    assert(r(("b", 0L)) === ((0L, true, None))) // before first observation: nothing to carry
    assert(r(("b", 1L)) === ((1L, false, Some(300L))))
    assert(r(("b", 2L)) === ((0L, true, Some(300L))))
  }

  test("madOutliers: flags only the spike against a robust baseline; small users skipped") {
    import spark.implicits._
    // user 1: values 10..19 (median 15.00, MAD 3.00) plus one 100.00 spike
    // user 2: only 5 events — below the minN baseline requirement
    val ev = (((0 until 10).map(i => (i.toLong, 1L, 10.0 + i)) :+ ((10L, 1L, 100.0))) ++
      (11 to 15).map(i => (i.toLong, 2L, 500.0 + i))).toDF("event_id", "user_id", "value")
    val r = Monitoring.madOutliers(ev).collect()
    assert(r.length === 1)
    assert(r.head.getAs[Long]("event_id") === 10L)
    // rz = 8500 / (1.4826 * 300) ≈ 19.1103
    assert(math.abs(r.head.getAs[Double]("rz") - 19.1103) < 0.001)
    // corpus sanity: every flag clears the threshold
    Monitoring.madOutliers(events).collect()
      .foreach(x => assert(x.getAs[Double]("rz") > 3.5))
  }

  test("statusConcurrency: hand-built intervals — peak counts, handoff never concurrent") {
    import spark.implicits._
    // u1: a@[0,2000) then b@[2000, open); u2: a@[1000,3000) then b@[3000, open)
    val ev = Seq((0L, 1L, "a", 0L), (1L, 2L, "a", 1000L), (2L, 1L, "b", 2000L),
      (3L, 2L, "b", 3000L)).toDF("event_id", "user_id", "event_type", "ts_ms")
    val r = Monitoring.statusConcurrency(ev).collect()
      .map(x => x.getAs[String]("status") ->
        ((x.getAs[Long]("peak_concurrency"), x.getAs[Long]("at_ts"),
          x.getAs[Long]("n_intervals")))).toMap
    assert(r("a") === ((2L, 1000L, 2L))) // both users in 'a' during [1000,2000)
    // u1 enters b at 2000 (peak 1); u2's handoff at 3000 nets ±0 there —
    // a start and an end at the same instant are never concurrent
    assert(r("b") === ((1L, 2000L, 2L)))
  }

  test("statusConcurrency: corpus peaks bounded by interval counts") {
    val r = Monitoring.statusConcurrency(events).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("peak_concurrency") >= 1L)
      assert(x.getAs[Long]("peak_concurrency") <= x.getAs[Long]("n_intervals"))
    }
  }

  test("seasonalBaseline: uniform type has ratio 1; weekday profile averages its days") {
    import spark.implicits._
    val day = 86400000L
    // "u": 100 cents every day x14 → every dow mean = own cents → ratio 1
    // "v": two Thursdays (epoch day 0 and 7... day 7 is Wednesday+? dow math below)
    val ev = ((0L until 14L).map(d => ("u", d * day, 1.0)) ++
      Seq(("v", 0L, 1.0), ("v", 7L * day, 3.0))).toDF("event_type", "ts_ms", "value")
    val r = Monitoring.seasonalBaseline(ev).collect()
    r.filter(_.getAs[String]("event_type") == "u").foreach { x =>
      assert(x.getAs[Double]("dow_mean") === 100.0)
      assert(x.getAs[Double]("ratio") === 1.0)
    }
    val v = r.filter(_.getAs[String]("event_type") == "v")
      .map(x => x.getAs[Long]("day") -> x).toMap
    assert(v(0L).getAs[Long]("dow") === 4L) // epoch day 0 is a Thursday
    assert(v(7L).getAs[Long]("dow") === 4L) // same weekday one week on
    assert(v(0L).getAs[Double]("dow_mean") === 200.0)
    assert(v(0L).getAs[Double]("ratio") === 0.5)
    assert(v(7L).getAs[Double]("ratio") === 1.5)
  }

  test("gapFill: corpus grid is dense and filled rows are exactly the empty days") {
    val r = Monitoring.gapFill(events).collect()
    val types = r.map(_.getAs[String]("event_type")).distinct
    val days = r.map(_.getAs[Long]("day"))
    assert(r.length === types.length * (days.max - days.min + 1).toInt)
    r.foreach { x =>
      if (x.getAs[Boolean]("filled")) assert(x.getAs[Long]("n") === 0L)
      else assert(x.getAs[Long]("n") > 0L)
    }
  }

  test("gapFill: a failing checkpoint propagates and leaves no relation cached") {
    // q_ts_gapfill persists its daily aggregate before the eager
    // checkpoint; a value that raises on evaluation fails that checkpoint
    val sf001 = java.nio.file.Paths.get(sf).resolveSibling("sf0.01").toString
    val poisoned = Tables.events(spark, sf001)
      .withColumn("value", raise_error(lit("injected value fault")).cast("double"))
    val cached0 = org.apache.spark.sql.CachedRelations.count(spark)
    val e = intercept[Exception](Monitoring.gapFill(poisoned))
    val chain = Iterator.iterate[Throwable](e)(_.getCause).takeWhile(_ != null)
    assert(chain.exists(c => String.valueOf(c.getMessage).contains("injected value fault")), e)
    assert(org.apache.spark.sql.CachedRelations.count(spark) === cached0,
      "the failed operator left its daily aggregate cached")
  }

  test("intervalOverlaps: exact pair durations, handoffs excluded, multi-day pairs count once") {
    import spark.implicits._
    val H = 3600000L
    // (user, type, hour): u1 error 10h-14h; u2 error 11h-13h (2h overlap
    // with u1); u3 error 20h-23h (no overlap); u4/u5 error for 3 days
    // starting day 2, staggered by 2h (multi-day overlap, one count);
    // u6 error ends exactly when u7's begins (handoff, NOT an overlap)
    val ev = Seq(
      (1L, "error", 10 * H, 1L), (1L, "click", 14 * H, 2L),
      (2L, "error", 11 * H, 3L), (2L, "click", 13 * H, 4L),
      (3L, "error", 20 * H, 5L), (3L, "click", 23 * H, 6L),
      (4L, "error", 48 * H, 7L), (4L, "click", 120 * H, 8L),
      (5L, "error", 50 * H, 9L), (5L, "click", 122 * H, 10L),
      (6L, "error", 200 * H, 11L), (6L, "click", 210 * H, 12L),
      (7L, "error", 210 * H, 13L), (7L, "click", 220 * H, 14L)
    ).toDF("user_id", "event_type", "ts_ms", "event_id")
    val r = Monitoring.intervalOverlaps(ev).collect()
      .map(x => (x.getAs[Long]("u1"), x.getAs[Long]("u2")) ->
        (x.getAs[Long]("n_overlaps"), x.getAs[Long]("overlap_ms"))).toMap
    assert(r === Map((1L, 2L) -> (1L, 2 * H), (4L, 5L) -> (1L, 70 * H)))
    // corpus invariant: positive durations, ordered pairs
    Monitoring.intervalOverlaps(events).collect().foreach { x =>
      assert(x.getAs[Long]("u1") < x.getAs[Long]("u2"))
      assert(x.getAs[Long]("overlap_ms") > 0L)
      assert(x.getAs[Long]("n_overlaps") > 0L)
    }
  }

  test("psiDrift: zero for a stationary type, large for a shifted one; PSI >= 0 on the corpus") {
    import spark.implicits._
    // one event per day per type; 'shift' moves from bin 0 to bin 8 at day 15
    val ev = (0 until 30).flatMap { d =>
      Seq(("flat", 10.0, d.toLong * 86400000L),
        ("shift", if (d < 15) 10.0 else 400.0, d.toLong * 86400000L))
    }.toDF("event_type", "value", "ts_ms")
    val r = Monitoring.psiDrift(ev).collect()
      .map(x => x.getAs[String]("event_type") -> x).toMap
    assert(r("flat").getAs[Double]("psi") === 0.0) // identical halves, every term 0
    assert(r("shift").getAs[Double]("psi") > 1.0, "a full bin move is a huge PSI")
    r.values.foreach { x =>
      assert(x.getAs[Long]("n_ref") === 15L && x.getAs[Long]("n_cur") === 15L)
    }
    // corpus: PSI is a sum of nonnegative terms; every type reports
    val c = Monitoring.psiDrift(events).collect()
    assert(c.length === 5)
    c.foreach(x => assert(x.getAs[Double]("psi") >= 0.0))
  }

  test("cusumVolume: S >= 0, a flat series never flags, a sustained shift does") {
    import spark.implicits._
    val ev = (0 until 30).flatMap { d =>
      Seq(("flat", 10.0, d.toLong * 86400000L),
        ("shift", if (d < 20) 10.0 else 400.0, d.toLong * 86400000L))
    }.toDF("event_type", "value", "ts_ms")
    val r = Monitoring.cusumVolume(ev).collect()
    r.foreach(x => assert(decL(x, "s_scaled") >= 0L))
    // flat: every deviation is exactly 0 -> S stays 0, never flags
    r.filter(_.getAs[String]("event_type") == "flat").foreach { x =>
      assert(decL(x, "s_scaled") === 0L && !x.getAs[Boolean]("shifted"))
    }
    val shiftByDay = r.filter(_.getAs[String]("event_type") == "shift")
      .map(x => x.getAs[Long]("day") -> x).toMap
    assert(shiftByDay(29L).getAs[Boolean]("shifted"), "10 days at 40x volume must flag")
    assert(!shiftByDay(5L).getAs[Boolean]("shifted"), "pre-shift days stay quiet")
    // corpus: the statistic is well-defined everywhere
    Monitoring.cusumVolume(events).collect()
      .foreach(x => assert(decL(x, "s_scaled") >= 0L))
  }

  test("chi2Audit: exactly proportional tables score 0; corpus terms sum to the grand chi2") {
    import spark.implicits._
    // counts proportional across types -> observed == expected -> chi2 = 0
    val ev = (Seq.fill(10)(("a", 10.0)) ++ Seq.fill(10)(("a", 150.0)) ++
      Seq.fill(20)(("b", 10.0)) ++ Seq.fill(20)(("b", 150.0)))
      .toDF("event_type", "value")
    val indep = Monitoring.chi2Audit(ev).collect()
    indep.foreach { x =>
      assert(x.getAs[Double]("term") === 0.0)
      assert(x.getAs[Double]("chi2") === 0.0)
    }
    assert(indep.length === 2 * 5) // grid densified to all bands
    // corpus: one grand chi2 repeated on every cell; terms nonnegative
    val c = Monitoring.chi2Audit(events).collect()
    val chi2s = c.map(_.getAs[Double]("chi2")).distinct
    assert(chi2s.length === 1 && chi2s.head >= 0.0)
    c.foreach(x => assert(x.getAs[Double]("term") >= 0.0))
    val termSum = c.map(_.getAs[Double]("term")).sum
    assert(math.abs(termSum - chi2s.head) < 1e-3) // trunc4 slack per cell
  }

  test("peerAnomaly: every flagged user is >= z sigma from the peer mean") {
    // sf0.001 has too few peers to flag anyone beyond 3 sigma; use a
    // looser z to exercise the integer flag test here
    val r = Monitoring.peerAnomaly(Tables.events(spark, sf), z = 2L).collect()
    assert(r.nonEmpty, "2-sigma screen found nobody — data drifted?")
    r.foreach { x =>
      assert(math.abs(x.getAs[Double]("z_score")) >= 2.0 - 0.01,
        s"flagged below threshold: $x") // trunc2 slack
      assert(x.getAs[Double]("total") !== x.getAs[Double]("peer_mean"))
    }
  }

  test("trendDaily: slope matches an independently computed OLS fit") {
    val r = Monitoring.trendDaily(Tables.events(spark, sf)).collect().head
    val daily = Tables.events(spark, sf)
      .groupBy(to_date(col("ts")).as("day"))
      .agg(expr("sum(CAST(floor(value * 100 + 0.5) AS BIGINT)) DIV 100").as("v"))
      .orderBy(col("day")).collect().map(_.getAs[Long]("v"))
    val n = daily.length
    val xs = (0 until n).map(_.toLong)
    val (sx, sy) = (xs.sum, daily.sum)
    val sxy = xs.zip(daily).map { case (x, y) => x * y }.sum
    val sxx = xs.map(x => x * x).sum
    assert(decL(r, "num") === n * sxy - sx * sy)
    assert(decL(r, "den") === n * sxx - sx * sx)
    val slope = math.floor((n * sxy - sx * sy).toDouble /
      (n * sxx - sx * sx) * 10000) / 10000
    assert(r.getAs[Double]("slope") === slope)
  }

  test("kmvIntersect: the small-set branch is exact at smoke scale") {
    val s = graft.operators.Sketches.kmvIntersect(Tables.events(spark, sf))
      .collect().head
    // sf0.001 has 15 users < k=64: the whole set sits in the sketch,
    // so union is counted exactly and intersection estimate == exact
    assert(s.getAs[Long]("cnt") < 64L)
    assert(s.getAs[Double]("inter_est") === s.getAs[Long]("n_inter_exact").toDouble)
    assert(s.getAs[Double]("jaccard_est") >= 0.0 && s.getAs[Double]("jaccard_est") <= 1.0)
  }

  test("ksDrift: D bounded in [0,1]; identical halves give D near 0 on a self-split") {
    val r = Monitoring.ksDrift(Tables.events(spark, sf)).collect().head
    val d = r.getAs[Double]("ks_d")
    assert(d >= 0.0 && d <= 1.0)
    assert(decL(r, "d_scaled") <=
      r.getAs[Long]("n1") * r.getAs[Long]("n2"))
    // stationary generator: the two halves draw from one distribution,
    // so D should be small (well under the d=0.5 a real shift produces)
    assert(d < 0.2, s"suspiciously large drift on stationary data: $d")
  }

  test("w1Drift: hand-built halves produce the exact earth-mover dollars") {
    import spark.implicits._
    // type a: first half {1.00, 2.00}, second half {3.00}
    //   support: 100 (gap 1·1−0·2=1, width 100) + 200 (gap 2, width 100)
    //   → w1_num = 300, W1 = 300/(2·1·100) = 1.50 dollars (= |1.5 − 3|... the
    //   ECDF area between {1,2} and {3})
    val ev = Seq(("a", 1.00, "2024-01-10"), ("a", 2.00, "2024-01-10"),
      ("a", 3.00, "2024-01-20"))
      .toDF("event_type", "value", "d")
      .select(col("event_type"), col("value"), col("d").cast("timestamp").as("ts"))
    val r = Monitoring.w1Drift(ev).collect()
    assert(r.length === 1)
    val x = r.head
    assert(x.getAs[Long]("n1") === 2L && x.getAs[Long]("n2") === 1L)
    assert(x.getAs[Long]("w1_scaled") === 15000L)
    assert(x.getAs[Double]("w1_dollars") === 1.5)
  }

  test("w1Drift: stationary generator keeps the moved mass small; one-sided types dropped") {
    val r = Monitoring.w1Drift(Tables.events(spark, sf)).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("n1") > 0L && x.getAs[Long]("n2") > 0L)
      val w1 = x.getAs[Double]("w1_dollars")
      assert(w1 >= 0.0)
      assert(w1 < 50.0, s"suspiciously large drift on stationary data: $w1")
    }
  }

  test("fdrBh: a spiked merchant is flagged at rank 1, uniform peers stay unflagged") {
    import spark.implicits._
    // merchant 0: 90 events, merchants 1..10: 1 each → M=11, N=100
    //   dev_0 = |90·11−100| = 890, p = 1000/890² ≈ 0.0013 → BH i=1 passes
    //   (100·11·1000 = 1.1e6 ≤ 5·1·890² ≈ 3.96e6)
    //   peers: dev = 89, pass needs i ≥ 27.8 > M → never
    val rows = (1L to 90L).map(e => (e, "0")) ++ (1L to 10L).map(m => (90L + m, m.toString))
    val ev = rows.toDF("event_id", "m")
      .select(col("event_id"), concat(lit("{\"k\": \""), col("m"), lit("\"}")).as("props"))
    val r = Monitoring.fdrBh(ev).collect()
      .map(x => x.getAs[String]("merchant") ->
        ((x.getAs[Long]("n_events"), x.getAs[Long]("dev"), x.getAs[Double]("p_cheb"),
          x.getAs[Long]("bh_rank"), x.getAs[Boolean]("flagged")))).toMap
    assert(r.size === 11)
    assert(r("0") === ((90L, 890L, math.floor(1000.0 / 792100 * 10000) / 10000, 1L, true)))
    r.filterKeys(_ != "0").values.foreach { case (n, dev, p, i, flagged) =>
      assert(n === 1L && dev === 89L && !flagged)
      assert(p === math.floor(1000.0 / 7921 * 10000) / 10000)
      assert(i >= 2L && i <= 11L)
    }
  }

  test("hbos: an event in rare bins on every feature tops the ranking with the exact score") {
    import spark.implicits._
    // nine clones share all three bins; one event is alone in all three
    val rows = (1L to 9L).map(e => (e, 5.0, "2024-01-08 10:15:00")) :+
      ((10L, 95.0, "2024-01-09 03:15:00"))
    val ev = rows.toDF("event_id", "value", "d")
      .select(col("event_id"), col("value"), col("d").cast("timestamp").as("ts"))
    val r = Monitoring.hbos(ev).collect()
    assert(r.length === 10)
    val top = r.head
    assert(top.getAs[Long]("event_id") === 10L)
    assert(top.getAs[Long]("score_scaled") ===
      3 * math.floor(math.log(10.0) * 1e6).toLong) // three ln(10/1) terms
    r.tail.foreach(x => assert(x.getAs[Long]("score_scaled") ===
      3 * math.floor(math.log(10.0 / 9) * 1e6).toLong))
  }

  test("mahalanobis: a normal-amount-at-the-wrong-hour event is the only flag") {
    import spark.implicits._
    // two tight clusters on the correlation diagonal — (10, 9am) x20 and
    // (20, 5pm) x19 — plus ONE point off the diagonal (10, 5pm): per-axis
    // both its amount and hour are common (invisible to z/HBOS), only the
    // covariance-aware distance isolates it
    val rows = (1L to 20L).map(e => (e, 10.0, 9)) ++
      (21L to 39L).map(e => (e, 20.0, 17)) :+ ((40L, 10.0, 17))
    val ev = rows.toDF("event_id", "value", "h")
      .select(col("event_id"), lit("a").as("event_type"), col("value"),
        concat(lit("2024-01-08 "), format_string("%02d", col("h")), lit(":30:00"))
          .cast("timestamp").as("ts"))
    val r = Monitoring.mahalanobis(ev).collect()
    assert(r.map(_.getAs[Long]("event_id")).toSet === Set(40L))
    // mirror the closed form locally on the same rounded moments
    val xs = rows.map(_._2); val ys = rows.map(_._3.toDouble)
    val n = 40.0
    val sx = math.round(xs.sum * 100) / 100.0
    val sxx = math.round(xs.map(x => x * x).sum * 100) / 100.0
    val sy = ys.sum; val syy = ys.map(y => y * y).sum
    val sxy = math.round(xs.zip(ys).map { case (x, y) => x * y }.sum * 100) / 100.0
    val vxx = (sxx - sx * sx / n) / (n - 1); val vyy = (syy - sy * sy / n) / (n - 1)
    val vxy = (sxy - sx * sy / n) / (n - 1)
    val dx = 10.0 - sx / n; val dy = 17.0 - sy / n
    val d2 = (dx * dx * vyy - 2.0 * dx * dy * vxy + dy * dy * vxx) /
      (vxx * vyy - vxy * vxy)
    assert(d2 > 13.8155)
    assert(math.abs(r.head.getAs[Double]("md2") - math.floor(d2 * 10000) / 10000) <= 1e-4)
  }

  test("spcRules: a 3-sigma spike fires r1 on its day; the long low run fires r4") {
    import spark.implicits._
    // one event per day, days 0..29: flat 1000 cents, day 29 spikes to 5000
    //   dev_i<29 = 30*1000-34000 = -4000 (below mean but within 1 sigma)
    //   dev_29  = 30*5000-34000 = 116000 -> (n-1)*dev^2 = 3.9e11 > 9nA = 1.25e11
    val ev = (0L to 29L).map(d => (d + 1, d * 86400000L + 1000L,
        if (d == 29L) 50.0 else 10.0))
      .toDF("event_id", "ts_ms", "value")
      .withColumn("event_type", lit("a"))
    val r = Monitoring.spcRules(ev).collect()
      .map(x => x.getAs[Long]("day") -> x).toMap
    assert(r.size === 30)
    (0L to 29L).foreach { d =>
      val row = r(d)
      assert(row.getAs[Boolean]("r1") === (d == 29L), s"r1 day $d")
      assert(!row.getAs[Boolean]("r2"), s"r2 day $d")
      assert(!row.getAs[Boolean]("r3"), s"r3 day $d")
      // 8 consecutive negative devs complete at day 7 and persist through 28
      assert(row.getAs[Boolean]("r4") === (d >= 7L && d <= 28L), s"r4 day $d")
      assert(row.getAs[Boolean]("alarm") === (d == 29L || (d >= 7L && d <= 28L)))
    }
    assert(decL(r(29L), "dev") === 116000L)
  }

  test("roundNumberBias: exact multiples counted per band, nested bands ordered") {
    import spark.implicits._
    val ev = Seq(
      (1L, "pay", 10.00), (2L, "pay", 50.00), (3L, "pay", 100.00),
      (4L, "pay", 33.33), (5L, "pay", 20.00))
      .toDF("event_id", "event_type", "value")
    val r = Monitoring.roundNumberBias(ev).collect().head
    assert(r.getAs[Long]("n") === 5L)
    assert(r.getAs[Long]("n_r10") === 4L)   // 10, 50, 100, 20
    assert(r.getAs[Long]("n_r50") === 2L)   // 50, 100
    assert(r.getAs[Long]("n_r100") === 1L)  // 100
    // nested bands: every $100 multiple is a $50 multiple is a $10 multiple
    assert(r.getAs[Long]("n_r100") <= r.getAs[Long]("n_r50"))
    assert(r.getAs[Long]("n_r50") <= r.getAs[Long]("n_r10"))
    assert(r.getAs[Double]("share_r10") === 0.8)
  }

  test("winsorize: the planted outlier clips to the P99 cut, totals reconcile") {
    import spark.implicits._
    // 99 amounts of 1.00 plus one 1000.00 outlier: P1 = P99 = 100 cents,
    // so the outlier clips to 100 and the winsorized total is 100·100
    val ev = ((1 to 99).map(i => (i.toLong, "pay", 1.00)) :+ (100L, "pay", 1000.00))
      .toDF("event_id", "event_type", "value")
    val r = Monitoring.winsorize(ev).collect().head
    assert(r.getAs[Long]("n") === 100L)
    assert(r.getAs[Long]("lo_cents") === 100L)
    assert(r.getAs[Long]("hi_cents") === 100L)
    assert(r.getAs[Long]("n_clipped_hi") === 1L)
    assert(r.getAs[Long]("n_clipped_lo") === 0L)
    assert(r.getAs[Long]("winsorized_cents") === 100L * 100L)
  }

  test("abTest: z2 matches a local recompute; degenerate pool is insignificant NULL") {
    import spark.implicits._
    // conversion = has a purchase event; variant = md5 hash parity of user_id
    val ev = (1L to 40L).flatMap { u =>
      val events = Seq((u * 10, u, "view"))
      if (u % 4 == 0) events :+ ((u * 10 + 1, u, "purchase")) else events
    }.toDF("event_id", "user_id", "event_type")
    val r = Monitoring.abTest(ev).collect().head
    val (na, ca, nb, cb) = (r.getAs[Long]("n_a"), r.getAs[Long]("c_a"),
      r.getAs[Long]("n_b"), r.getAs[Long]("c_b"))
    assert(na + nb === 40L && ca + cb === 10L)
    val d = (ca * nb - cb * na).toDouble
    val nn = (na + nb).toDouble; val cc = (ca + cb).toDouble
    val expect = math.floor(d * d * nn /
      ((cc * (nn - cc)) * (na * nb).toDouble) * 10000) / 10000
    assert(r.getAs[Double]("z2") === expect)
    // degenerate: every user converts → no variance, NULL z2, not significant
    val allConv = (1L to 10L).map(u => (u, u, "purchase"))
      .toDF("event_id", "user_id", "event_type")
    val dRow = Monitoring.abTest(allConv).collect().head
    assert(dRow.isNullAt(dRow.fieldIndex("z2")))
    assert(dRow.getAs[Boolean]("significant") === false)
  }

  test("abTest: an empty variant yields NULL z2, never a NaN verdict") {
    import spark.implicits._
    // one user → the other variant is empty → n_a·n_b = 0 → no variance
    val ev = Seq((1L, 42L, "purchase"), (2L, 42L, "view"))
      .toDF("event_id", "user_id", "event_type")
    val r = Monitoring.abTest(ev).collect().head
    assert(r.isNullAt(r.fieldIndex("z2")))
    assert(r.getAs[Boolean]("significant") === false)
  }

  test("imputeAmounts: doubled-domain totals reconcile and the median is per-type") {
    val r = Monitoring.imputeAmounts(Tables.events(spark, sf)).collect()
    assert(r.length === 5)
    r.foreach { row =>
      val n = row.getAs[Long]("n_total"); val miss = row.getAs[Long]("n_missing")
      assert(miss >= 0 && miss < n)
      // imputed total = present part + median fill, exactly
      assert(decL(row, "imputed_sum_x2") >=
        row.getAs[Long]("median_x2") * miss)
      // median_x2 is an exact integer (x_lo + x_hi of cent values)
      assert(row.getAs[Long]("median_x2") > 0)
    }
    // ~10% hash-missing overall
    val totN = r.map(_.getAs[Long]("n_total")).sum.toDouble
    val totM = r.map(_.getAs[Long]("n_missing")).sum.toDouble
    assert(totM / totN > 0.05 && totM / totN < 0.15, s"missing rate ${totM / totN}")
  }

  test("groupSplit: splits partition the users and reconcile with direct totals") {
    val ev = Tables.events(spark, sf)
    val r = Monitoring.groupSplit(ev).collect()
    assert(r.map(_.getAs[Long]("n_events")).sum === ev.count())
    assert(r.map(_.getAs[Long]("n_users")).sum ===
      ev.select("user_id").distinct().count())
    // leakage check: no user appears under two splits (split is a pure
    // function of user_id, so distinct (user, split) pairs == users)
    val withSplit = ev.withColumn("b", pmod(graft.functions.TextHash.hash60(
        concat(lit("gsplit|"), col("user_id"))), lit(100L)))
      .withColumn("split", when(col("b") < 80, "train")
        .when(col("b") < 90, "val").otherwise("test"))
    assert(withSplit.select("user_id", "split").distinct().count() ===
      ev.select("user_id").distinct().count())
  }

  test("rfm: one row per user, balanced quintiles, best scores land on the extremes") {
    val rows = Monitoring.rfm(Tables.events(spark, sf)).collect()
    val nUsers = Tables.events(spark, sf).select("user_id").distinct().count()
    assert(rows.length.toLong === nUsers)
    rows.foreach { r =>
      Seq("r", "f", "m").foreach { c =>
        val v = r.getAs[Long](c); assert(v >= 1L && v <= 5L)
      }
      assert(r.getAs[Long]("segment") ===
        r.getAs[Long]("r") * 100 + r.getAs[Long]("f") * 10 + r.getAs[Long]("m"))
    }
    // ntile balance: group sizes differ by at most 1 per dimension
    Seq("r", "f", "m").foreach { c =>
      val sizes = rows.groupBy(_.getAs[Long](c)).values.map(_.length)
      assert(sizes.max - sizes.min <= 1, s"unbalanced $c quintiles: $sizes")
    }
    // the highest spender must be scored m=1, the top-frequency user f=1
    val topSpend = rows.maxBy(_.getAs[Long]("cents"))
    assert(topSpend.getAs[Long]("m") === 1L)
    val topFreq = rows.maxBy(_.getAs[Long]("freq"))
    assert(topFreq.getAs[Long]("f") === 1L)
  }

  test("giniSpend: bounds hold and the statistic matches a local recompute") {
    val r = Monitoring.giniSpend(Tables.events(spark, sf)).collect().head
    val g = r.getAs[Double]("gini")
    assert(g >= 0.0 && g < 1.0)
    val totals = Tables.events(spark, sf)
      .groupBy(col("user_id"))
      .agg(sum(floor(col("value") * 100 + 0.5).cast("long")).as("t"))
      .orderBy(col("t"), col("user_id")).collect().map(_.getAs[Long]("t"))
    val n = totals.length.toLong
    val tot = totals.sum
    val rw = totals.zipWithIndex.map { case (t, i) => (i + 1) * t }.sum
    val expect = math.floor((2 * rw - (n + 1) * tot).toDouble / (n * tot) * 10000) / 10000
    assert(g === expect)
  }

  test("growthAccounting: active splits into new+returning; new sums to the user count") {
    val r = Monitoring.growthAccounting(Tables.events(spark, sf)).collect()
    assert(r.nonEmpty)
    r.foreach(x => assert(x.getAs[Long]("n_active") ===
      x.getAs[Long]("n_new") + x.getAs[Long]("n_returning")))
    val users = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(r.map(_.getAs[Long]("n_new")).sum === users)
    val firstDay = r.minBy(_.getAs[java.sql.Date]("day").getTime)
    assert(firstDay.getAs[Long]("n_returning") === 0L)
  }

  test("ohlcBars: open/close follow event-time order, not value order") {
    import spark.implicits._
    // one hour, three trades arriving out of value order: open must be
    // the EARLIEST (30), close the LATEST (10), high/low the extremes
    val ev = Seq(
      (1L, "2024-01-01 10:05:00", "purchase", 0.30),
      (2L, "2024-01-01 10:10:00", "purchase", 0.99),
      (3L, "2024-01-01 10:20:00", "purchase", 0.10),
      (4L, "2024-01-01 10:15:00", "view", 5.00) // non-purchase: excluded
    ).toDF("event_id", "s", "event_type", "value")
      .withColumn("ts", col("s").cast("timestamp"))
      .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
    val r = Monitoring.ohlcBars(ev).collect()
    assert(r.length === 1)
    val bar = r.head
    assert(bar.getAs[Long]("open_cents") === 30L)
    assert(bar.getAs[Long]("close_cents") === 10L)
    assert(bar.getAs[Long]("high_cents") === 99L)
    assert(bar.getAs[Long]("low_cents") === 10L)
    assert(bar.getAs[Long]("n_trades") === 3L)
    assert(bar.getAs[Long]("volume_cents") === 139L)
    // real data: bar invariants hold everywhere
    val bars = Monitoring.ohlcBars(events).collect()
    assert(bars.nonEmpty)
    bars.foreach { b =>
      assert(b.getAs[Long]("low_cents") <= b.getAs[Long]("open_cents"))
      assert(b.getAs[Long]("low_cents") <= b.getAs[Long]("close_cents"))
      assert(b.getAs[Long]("high_cents") >= b.getAs[Long]("open_cents"))
      assert(b.getAs[Long]("high_cents") >= b.getAs[Long]("close_cents"))
    }
  }

  test("reconcile: buckets partition the orders and orphan headers are counted") {
    import spark.implicits._
    val orders = Seq(
      (1L, "O", 100.00), // exact match
      (2L, "F", 100.00), // 0.5% off -> <=1%
      (3L, "P", 200.00)  // no lines
    ).toDF("o_orderkey", "o_orderstatus", "o_totalprice")
    val li = Seq(
      (1L, 100.00, 0.0, 0.0),
      (2L, 99.50, 0.0, 0.0)
    ).toDF("l_orderkey", "l_extendedprice", "l_discount", "l_tax")
    val r = Monitoring.reconcile(orders, li)
      .collect().map(x => (x.getString(0), x.getString(1)) ->
        (x.getAs[Long]("n_orders"), x.getAs[Long]("abs_diff_u"))).toMap
    assert(r(("O", "<=0.1%")) === ((1L, 0L)))
    assert(r(("F", "<=1%")) === ((1L, 50L * 10000L)))
    assert(r(("P", "no_lines")) === ((1L, 0L)))
    // real data: bucket counts sum to the full order count
    val total = Monitoring.reconcile(
        Tables.orders(spark, sf), Tables.lineitem(spark, sf))
      .agg(sum("n_orders")).head.getLong(0)
    assert(total === Tables.orders(spark, sf).count())
  }

  test("markovTransitions: rows are per-user consecutive pairs and probabilities sum to 1") {
    import spark.implicits._
    val ev = Seq(
      (1L, 10L, 1000L, "view"), (1L, 11L, 2000L, "click"),
      (1L, 12L, 3000L, "purchase"),
      (2L, 20L, 1000L, "view"), (2L, 21L, 2000L, "click")
    ).toDF("user_id", "event_id", "ts_ms", "event_type")
    val r = Monitoring.markovTransitions(ev).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getAs[Long]("n")).toMap
    // transitions never cross users: no purchase->view edge from u1 to u2
    assert(r === Map(("view", "click") -> 2L, ("click", "purchase") -> 1L))
    // real data: outgoing probabilities sum to ~1 per source state
    val sums = Monitoring.markovTransitions(events)
      .groupBy("prev").agg(sum("p").as("sp")).collect()
    sums.foreach(x => assert(math.abs(x.getAs[Double]("sp") - 1.0) < 0.001))
  }

  test("rollingDau: window unions the trailing days and stops at the corpus edge") {
    import spark.implicits._
    // day 1: users {1,2}; day 5: users {2,3}; day 20: user {9}.
    // wau(day5) = |{1,2,3}| (day1 within 7); wau(day20) = 1 (gap > 7)
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00"), (2L, 2L, "2024-01-01 11:00:00"),
      (3L, 2L, "2024-01-05 10:00:00"), (4L, 3L, "2024-01-05 11:00:00"),
      (5L, 9L, "2024-01-20 10:00:00"))
      .toDF("event_id", "user_id", "s")
      .withColumn("ts", col("s").cast("timestamp"))
    val r = Monitoring.rollingDau(ev).collect()
      .map(x => x.getAs[java.sql.Date]("day").toString ->
        (x.getAs[Long]("dau"), x.getAs[Long]("wau_7d"))).toMap
    assert(r === Map(
      "2024-01-01" -> ((2L, 2L)),
      "2024-01-05" -> ((2L, 3L)),
      "2024-01-20" -> ((1L, 1L))))
    // real data: dau <= wau <= total users, stickiness in (0, 1]
    val corpus = Monitoring.rollingDau(events).collect()
    val users = events.select("user_id").distinct().count()
    corpus.foreach { x =>
      assert(x.getAs[Long]("dau") <= x.getAs[Long]("wau_7d"))
      assert(x.getAs[Long]("wau_7d") <= users)
      val s = x.getAs[Double]("stickiness")
      assert(s > 0.0 && s <= 1.0)
    }
  }

  test("seqPairs: order and the 24h bound decide membership; confidence normalizes by a-users") {
    import spark.implicits._
    // u1: view 10:00 -> purchase 11:00 (same day, in order) => view->purchase
    //     purchase NEVER before view => no purchase->view for u1
    // u2: view day1 23:00 -> purchase day2 22:00 (adjacent day, 23h) => counts
    // u3: view day1 10:00 -> purchase day3 (gap 2 days) => excluded
    val ev = Seq(
      (1L, 1L, "2024-01-01 10:00:00", "view"),
      (2L, 1L, "2024-01-01 11:00:00", "purchase"),
      (3L, 2L, "2024-01-01 23:00:00", "view"),
      (4L, 2L, "2024-01-02 22:00:00", "purchase"),
      (5L, 3L, "2024-01-01 10:00:00", "view"),
      (6L, 3L, "2024-01-03 10:00:00", "purchase"))
      .toDF("event_id", "user_id", "s", "event_type")
      .withColumn("ts", col("s").cast("timestamp"))
      .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
    val r = Monitoring.seqPairs(ev).collect()
      .map(x => (x.getString(0), x.getString(1)) -> x.getAs[Long]("n_users")).toMap
    assert(r === Map(("view", "purchase") -> 2L))
    // confidence: 2 of 3 view-users convert
    val row = Monitoring.seqPairs(ev).collect().head
    assert(row.getAs[Long]("n_a_users") === 3L)
    assert(math.abs(row.getAs[Double]("confidence") - 0.6666) < 1e-9)
  }

  test("cohortLtv: cumulative cents are monotone per cohort and reconcile with total spend") {
    val r = Monitoring.cohortLtv(events).collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("cohort_week")).values.foreach { rows =>
      val byAge = rows.sortBy(_.getAs[Long]("age_week"))
      // cumulative = running sum of weekly
      var acc = 0L
      byAge.foreach { x =>
        acc += x.getAs[Long]("cents_week")
        assert(x.getAs[Long]("cum_cents") === acc)
      }
    }
    // final cumulative across cohorts = corpus total cents
    val lastPerCohort = r.groupBy(_.getAs[Long]("cohort_week")).values
      .map(_.maxBy(_.getAs[Long]("age_week")).getAs[Long]("cum_cents")).sum
    val total = events.agg(sum(floor(col("value") * 100 + 0.5).cast("long"))).head.getLong(0)
    assert(lastPerCohort === total)
  }

  test("seasonalAnomaly: flags exceed 3x the per-type MAD and residuals reconcile") {
    val r = Monitoring.seasonalAnomaly(events).collect()
    r.foreach { x =>
      assert(math.abs(x.getAs[Double]("resid")) > 3.0 * x.getAs[Double]("mad"))
      // resid = trunc4(cents - dow_mean)
      val expect = math.floor(
        (x.getAs[Long]("cents") - x.getAs[Double]("dow_mean")) * 10000) / 10000
      assert(x.getAs[Double]("resid") === expect)
    }
    // threshold is effective: not every day is an anomaly
    val nDays = events.select(expr("ts_ms div 86400000")).distinct().count()
    val nTypes = events.select("event_type").distinct().count()
    assert(r.length < nDays * nTypes)
  }

  test("survivalCurve: starts at the full population and never increases") {
    val r = Monitoring.survivalCurve(events).collect().sortBy(_.getAs[Long]("week"))
    assert(r.nonEmpty)
    val users = events.select("user_id").distinct().count()
    assert(r.head.getAs[Long]("survivors") === users)
    r.sliding(2).foreach {
      case Array(a, b) =>
        assert(b.getAs[Long]("survivors") <= a.getAs[Long]("survivors"))
      case _ =>
    }
    assert(r.map(_.getAs[Long]("n_churned")).sum === users)
    r.foreach { x =>
      val s = x.getAs[Double]("share")
      assert(s > 0.0 && s <= 1.0)
    }
  }

  test("abCuped: pooled theta is shared, populations reconcile, post means match a recompute") {
    val r = Monitoring.abCuped(events).collect()
    assert(r.map(_.getAs[String]("variant")).sorted.toSeq === Seq("A", "B"))
    // one pooled theta
    assert(r.map(_.getAs[Double]("theta")).distinct.length === 1)
    // variants partition the users
    assert(r.map(_.getAs[Long]("n")).sum ===
      events.select("user_id").distinct().count())
    // mean_post matches a direct per-variant recompute of post-period spend
    val base = events.select(col("user_id"), expr("ts_ms div 86400000").as("day"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val Row2 = base.agg(expr("(min(day) + max(day) + 1) div 2")).head.getLong(0)
    val direct = base.filter(col("day") >= Row2)
      .groupBy(col("user_id")).agg(sum(col("cents")).as("y"))
    r.foreach { x =>
      assert(x.getAs[Double]("var_post") > 0.0)
      // adjusted variance is a variance: non-negative
      assert(x.getAs[Double]("var_adj") >= 0.0)
      // reported cut is exactly the var_post/var_adj identity
      val cut = (x.getAs[Double]("var_post") - x.getAs[Double]("var_adj")) /
        x.getAs[Double]("var_post") * 100
      assert(math.abs(x.getAs[Double]("var_cut_pct") - math.floor(cut * 10000) / 10000) < 1e-3)
    }
    // the POOLED guarantee: theta is the pooled OLS minimizer, so the
    // pooled adjusted variance can never exceed the pooled raw variance
    // (per-variant rows may go either way — theta is not per-variant)
    val sums = base.crossJoin(broadcast(base.agg(
        expr("(min(day) + max(day) + 1) div 2").as("mid"))))
      .groupBy(col("user_id"))
      .agg(sum(when(col("day") < col("mid"), col("cents")).otherwise(0L)).as("x"),
        sum(when(col("day") >= col("mid"), col("cents")).otherwise(0L)).as("y"))
      .agg(count(lit(1)).as("n"), sum("x").as("sx"), sum("y").as("sy"),
        sum(col("x") * col("x")).as("sxx"), sum(col("x") * col("y")).as("sxy"),
        sum(col("y") * col("y")).as("syy")).head
    val (n, sx, sy, sxx, sxy, syy) = (sums.getLong(0).toDouble, sums.getLong(1).toDouble,
      sums.getLong(2).toDouble, sums.getLong(3).toDouble, sums.getLong(4).toDouble,
      sums.getLong(5).toDouble)
    val varX = (n * sxx - sx * sx) / (n * n)
    val varY = (n * syy - sy * sy) / (n * n)
    val covXY = (n * sxy - sx * sy) / (n * n)
    val theta = covXY / varX
    val varAdjPooled = varY + theta * theta * varX - 2 * theta * covXY
    assert(varAdjPooled <= varY + 1e-9)
    assert(direct.count() > 0)
  }

  test("forgetAudit: kept + erased reconcile to totals and the erase rule is honored") {
    val r = Monitoring.forgetAudit(events).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      assert(x.getAs[Long]("n_kept") + x.getAs[Long]("n_erased") ===
        x.getAs[Long]("n_total"))
    }
    // the hash rule picks the same users the audit counts
    val erased = events.select("user_id").distinct().collect()
      .map(_.getLong(0)).filter { u =>
        val md = java.security.MessageDigest.getInstance("MD5")
        val hex = md.digest(s"erase|$u".getBytes("UTF-8"))
          .map("%02x".format(_)).mkString.take(15)
        java.lang.Long.parseLong(hex, 16) % 20 == 0
      }.toSet
    val direct = events.collect()
      .filter(e => erased.contains(e.getAs[Long]("user_id")))
    assert(r.map(_.getAs[Long]("n_erased")).sum === direct.length)
  }

  test("recurringPayments: hand-built regular and irregular series get the right verdicts") {
    import spark.implicits._
    // u1@m5: 4 purchases exactly 7 days apart -> regular
    // u2@m6: 3 purchases at gaps 1 day / 20 days -> irregular
    // u3@m7: only 2 purchases -> below minN, absent
    val rows = Seq(
      (1L, 1L, "2024-01-01 10:00:00", 5), (2L, 1L, "2024-01-08 10:00:00", 5),
      (3L, 1L, "2024-01-15 10:00:00", 5), (4L, 1L, "2024-01-22 10:00:00", 5),
      (5L, 2L, "2024-01-01 10:00:00", 6), (6L, 2L, "2024-01-02 10:00:00", 6),
      (7L, 2L, "2024-01-22 10:00:00", 6),
      (8L, 3L, "2024-01-01 10:00:00", 7), (9L, 3L, "2024-01-02 10:00:00", 7))
    val ev = rows.map { case (e, u, s, k) => (e, u, s, s"""{"k": $k}""") }
      .toDF("event_id", "user_id", "s", "props")
      .withColumn("ts", col("s").cast("timestamp"))
      .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
      .withColumn("event_type", lit("purchase"))
      .withColumn("value", lit(10.0))
    val r = Monitoring.recurringPayments(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        (x.getAs[Long]("n_txn"), x.getAs[Boolean]("regular"),
          x.getAs[Double]("period_days"))).toMap
    assert(r.keySet === Set(1L, 2L))
    assert(r(1L) === ((4L, true, 7.0)))
    assert(r(2L)._1 === 3L && !r(2L)._2)
    // corpus rows all meet the floor and reconcile period with gaps
    Monitoring.recurringPayments(Tables.events(spark, sf)).collect().foreach { x =>
      assert(x.getAs[Long]("n_txn") >= 3L)
      assert(x.getAs[Long]("min_gap_ms") <= x.getAs[Long]("max_gap_ms"))
    }
  }

  test("concentration: HHI and top shares are bounded and reconcile with the cell table") {
    val r = Monitoring.concentration(events).collect()
    assert(r.nonEmpty)
    r.foreach { x =>
      val n = x.getAs[Long]("n_merchants")
      val hhi = x.getAs[Double]("hhi")
      // HHI is bounded below by the uniform 1/n and above by monopoly 1
      assert(hhi >= 1.0 / n - 1e-6 && hhi <= 1.0)
      val t1 = x.getAs[Double]("top1_share")
      val t3 = x.getAs[Double]("top3_share")
      assert(t1 > 0.0 && t1 <= t3 && t3 <= 1.0)
      // top-3 of >= 3 merchants can't be less than 3x uniform... but CAN
      // be checked against top1: t3 < 3*t1 + slack
      assert(t3 <= 3 * t1 + 1e-4)
    }
    // totals reconcile with the corpus
    val total = events.agg(sum(floor(col("value") * 100 + 0.5).cast("long"))).head.getLong(0)
    assert(r.map(_.getAs[Long]("total_cents")).sum === total)
  }

  test("acfDaily: all lags present, coefficients bounded, pair counts consistent") {
    val r = Monitoring.acfDaily(Tables.events(spark, sf)).collect()
    assert(r.map(_.getAs[Long]("lag")).sorted.toSeq === (1L to 7L))
    val nDays = Tables.events(spark, sf)
      .select(to_date(col("ts"))).distinct().count()
    r.foreach { x =>
      // Cauchy-Schwarz bound (trunc4 slack)
      assert(math.abs(x.getAs[Double]("acf")) <= 1.0 + 1e-4)
      // consecutive-day data: every lagged pair exists
      assert(x.getAs[Long]("n_pairs") === nDays - x.getAs[Long]("lag"))
    }
  }

  test("tailIndex: exact weighted Hill sum on hand-built order statistics") {
    import spark.implicits._
    // cents: 800×2, 400×1, 200×1, then 100×4 — with k=4 the top-4 are
    // {800, 800, 400, 200} and x_(5) = 100
    val vals = Seq(8.0, 8.0, 4.0, 2.0) ++ Seq.fill(4)(1.0)
    val ev = vals.map(v => ("a", v)).toDF("event_type", "value")
    val r = Monitoring.tailIndex(ev, k = 4).collect().head
    assert(r.getAs[Long]("xk1_cents") === 100L)
    assert(r.getAs[Long]("k_used") === 4L)
    def t(x: Long) = math.floor(math.log(x / 100.0) * 1e6).toLong
    val hs = 2 * t(800) + t(400) + t(200)
    assert(r.getAs[Long]("hill_scaled") === hs)
    assert(r.getAs[Double]("hill") === math.floor(hs / 1e6 / 4.0 * 10000) / 10000)
    assert(r.getAs[Double]("alpha") === math.floor(4.0 * 1e6 / hs * 10000) / 10000)
  }

  test("markovAttribution: a channel on the only converting path gets all the credit") {
    import spark.implicits._
    // u1: click → purchase (converts); u2: view → drop.
    // START splits 50/50; removing click kills ALL conversion, removing
    // view changes nothing; absent channels (signup/error) get zero.
    val ev = Seq(
      (1L, 1000L, 1L, "click"), (1L, 2000L, 2L, "purchase"),
      (2L, 1000L, 3L, "view"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val r = Monitoring.markovAttribution(ev).collect()
      .map(x => x.getAs[String]("channel") ->
        ((x.getAs[Long]("p_base"), x.getAs[Long]("p_removed"),
          x.getAs[Double]("removal_effect"), x.getAs[Double]("attribution_share")))).toMap
    val S = 1000000000000L
    assert(r("click")._1 === S / 2) // p_base = 1/2, exactly, in scaled integers
    assert(r("click")._2 === 0L && r("click")._3 === 1.0 && r("click")._4 === 1.0)
    assert(r("view")._2 === S / 2 && r("view")._3 === 0.0 && r("view")._4 === 0.0)
    assert(r("signup")._3 === 0.0 && r("error")._3 === 0.0)
  }

  test("shapleyAttribution: exact scaled values on hand journeys; converting channel earns phi") {
    import spark.implicits._
    // journey A: click → purchase (converts, mask {click});
    // journey B: view only (mask {view}, no conversion)
    val ev = Seq(
      (1L, 1000L, 1L, "click"), (1L, 2000L, 2L, "purchase"),
      (2L, 1000L, 3L, "view"))
      .toDF("user_id", "ts_ms", "event_id", "event_type")
    val r = Monitoring.shapleyAttribution(ev).collect()
      .map(x => x.getAs[String]("channel") -> x.getAs[Long]("phi_scaled")).toMap
    val S = 1000000000000L
    // click: only the empty-coalition marginal fires: 6·v({click})/24
    assert(r("click") === S / 4)
    // every other channel's one nonzero marginal is v({click,·}) −
    // v({click}) = 0 − 1 (unobserved sets value 0), weighted 2/24,
    // floored — the sparse-observation artifact the docstring notes
    val neg = math.floor(2.0 * (0L - S) / 24.0).toLong
    assert(r("view") === neg && r("error") === neg && r("signup") === neg)
    // only the channel on the converting path earns positive credit
    assert(r.values.count(_ > 0L) === 1)
  }

  test("tableFingerprint: order-proof XOR matches a scalar recompute; any row change flips it") {
    val r = Monitoring.tableFingerprint(spark, sf).collect()
      .map(x => x.getAs[String]("table_name") ->
        ((x.getAs[Long]("n_rows"), x.getAs[Long]("fingerprint")))).toMap
    assert(r.size === 8)
    // scalar recompute of the region fingerprint from raw rows
    def h60(s: String): Long = {
      val hex = java.security.MessageDigest.getInstance("MD5")
        .digest(s.getBytes("UTF-8")).take(8).map("%02x".format(_)).mkString.substring(0, 15)
      java.lang.Long.parseLong(hex, 16)
    }
    val regions = Tables.region(spark, sf).collect()
      .map(x => s"${x.getAs[Int]("r_regionkey")}|${x.getAs[String]("r_name")}")
    assert(r("region")._1 === regions.length.toLong)
    assert(r("region")._2 === regions.map(h60).reduce(_ ^ _))
    // determinism: a second evaluation lands identical fingerprints
    val again = Monitoring.tableFingerprint(spark, sf).collect()
      .map(x => x.getAs[String]("table_name") -> x.getAs[Long]("fingerprint")).toMap
    r.foreach { case (t, (_, f)) => assert(again(t) === f) }
  }

  test("riAudit: the generated star schema passes every contract; all 17 constraints present") {
    val r = Monitoring.riAudit(spark, sf).collect()
    assert(r.length === 17)
    assert(r.count(_.getAs[String]("kind") == "pk") === 9)
    assert(r.count(_.getAs[String]("kind") == "fk") === 8)
    r.foreach { x =>
      assert(x.getAs[Long]("n_checked") > 0L,
        s"${x.getAs[String]("constraint_name")}: empty check")
      assert(x.getAs[Long]("n_violations") === 0L,
        s"${x.getAs[String]("constraint_name")}: unexpected violations")
      assert(x.getAs[Double]("violation_share") === 0.0)
    }
  }

  test("didEstimate: a planted treatment lift in the post period is recovered exactly") {
    import spark.implicits._
    // find hash-assigned treat/control user ids first
    val probe = (1L to 20L).map(u => (u, 0L, 1.0)).toDF("user_id", "ts_ms", "value")
    val assign = probe
      .select(col("user_id"), pmod(graft.functions.TextHash.hash60(
        concat(lit("did|"), col("user_id").cast("string"))), lit(2L)).as("t"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val tU = assign.collectFirst { case (u, 1L) => u }.get
    val cU = assign.collectFirst { case (u, 0L) => u }.get
    val split = 1705363200000L
    // both arms: $10 pre; post: control $12 (trend +2), treated $15 (trend + lift 3)
    val ev = Seq(
      (tU, split - 1000L, 10.0), (tU, split + 1000L, 15.0),
      (cU, split - 1000L, 10.0), (cU, split + 1000L, 12.0))
      .toDF("user_id", "ts_ms", "value")
    val r = Monitoring.didEstimate(ev).collect().head
    assert(r.getAs[Double]("mean_t_pre") === 1000.0 && r.getAs[Double]("mean_c_post") === 1200.0)
    assert(r.getAs[Double]("did_cents") === 300.0) // the planted lift, net of trend
  }

  test("abPower: quadruple the variance, quadruple the required sample; exact moments") {
    import spark.implicits._
    // type a: values 10/20 alternating; type b: 5/35 (same mean 15, 9x spread^2... use exact recompute)
    val a = (1L to 40L).map(i => ("a", if (i % 2 == 0) 10.0 else 20.0))
    val b = (1L to 40L).map(i => ("b", if (i % 2 == 0) 5.0 else 25.0))
    val r = Monitoring.abPower((a ++ b).toDF("event_type", "value")).collect()
      .map(x => x.getAs[String]("event_type") ->
        ((x.getAs[Long]("n"), x.getAs[Double]("mean_cents"), x.getAs[Double]("var_cents"),
          x.getAs[Long]("n_required")))).toMap
    // exact recompute for type a: cents 1000/2000, n=40
    def stats(vals: Seq[Double]) = {
      val c = vals.map(v => math.floor(v * 100 + 0.5).toLong)
      val n = c.size; val s = c.sum.toDouble; val sq = c.map(x => x * x).sum.toDouble
      val mean = s / n; val vr = (sq - s * s / n) / (n - 1)
      (mean, vr, math.ceil(Monitoring.PowerK * vr / ((mean * 0.01) * (mean * 0.01))).toLong)
    }
    val (ma, va, na) = stats(a.map(_._2))
    assert(r("a")._2 === math.floor(ma * 10000) / 10000)
    assert(r("a")._3 === math.floor(va * 10000) / 10000)
    assert(r("a")._4 === na)
    // same mean, 4x the deviation^2 → 4x the required n (both exact)
    val (_, vb, nb) = stats(b.map(_._2))
    assert(vb === 4 * va && nb === r("b")._4)
    assert(math.abs(r("b")._4.toDouble / r("a")._4 - 4.0) < 0.01)
  }

  test("disorderAudit/watermarkSizing: the simulated delay makes exactly the planted event late") {
    import spark.implicits._
    // event 11 (11 % 11 = 0) is delayed by md5("delay|11") % 3600000 =
    // 1051787 ms, so it arrives AFTER events 12 and 13 and is late by
    // max(2000, 3000) - 1000 = 2000 ms; events 12/13 arrive on time.
    val ev = Seq((1L, 11L, 1000L), (1L, 12L, 2000L), (1L, 13L, 3000L))
      .toDF("user_id", "event_id", "ts_ms")
    val audit = Monitoring.disorderAudit(ev).collect()
      .map(x => x.getAs[Long]("magnitude") ->
        ((x.getAs[Long]("n"), x.getAs[Long]("max_late_ms")))).toMap
    assert(audit(0L) === ((2L, 0L)))
    assert(audit(4L) === ((1L, 2000L))) // 2000 has 4 digits
    val wm = Monitoring.watermarkSizing(ev).collect()
      .map(x => x.getAs[Long]("wm_ms") -> x.getAs[Long]("n_dropped")).toMap
    assert(wm(60000L) === 0L) // 2 s lateness survives a 1-minute watermark
    assert(wm.values.forall(_ === 0L))
  }

  test("alertTriage: counts reconcile with the constituent detectors; severity orders the queue") {
    val ev = events
    val r = Monitoring.alertTriage(ev).collect()
    assert(r.nonEmpty && r.length <= 50)
    // ranks are dense from 1 and severity is non-increasing
    val byRnk = r.sortBy(_.getAs[Long]("rnk"))
    assert(byRnk.map(_.getAs[Long]("rnk")).toSeq === (1L to r.length).toSeq)
    val sev = byRnk.map(_.getAs[Long]("severity"))
    assert(sev.zip(sev.tail).forall { case (a, b) => a >= b })
    // per-family counts reconcile with the detectors for the top user
    val top = byRnk.head
    val uid = top.getAs[Long]("user_id")
    assert(top.getAs[Long]("n_structuring") ===
      Monitoring.structuring(ev).filter(col("user_id") === uid).count())
    assert(top.getAs[Long]("n_velocity") ===
      Monitoring.velocityBursts(ev).filter(col("user_id") === uid).count())
    assert(top.getAs[Long]("n_dormant") ===
      Monitoring.dormantAwakening(ev).filter(col("user_id") === uid).count())
    assert(top.getAs[Long]("n_outlier") ===
      Monitoring.amountOutliers(ev).filter(col("user_id") === uid).count())
    // severity is the documented weighting
    r.foreach { x =>
      assert(x.getAs[Long]("severity") ===
        3 * x.getAs[Long]("n_structuring") + 2 * x.getAs[Long]("n_outlier") +
          2 * x.getAs[Long]("n_dormant") + x.getAs[Long]("n_velocity"))
      assert(x.getAs[Long]("n_families") >= 1L && x.getAs[Long]("n_families") <= 4L)
    }
  }

  test("kAnonymity: violating groups and affected users counted exactly per k") {
    import spark.implicits._
    // QI groups by merchant: A = 1 user, B = 3 users, C = 12 users
    val rows = Seq((1L, "1")) ++ (2L to 4L).map(u => (u, "2")) ++
      (10L to 21L).map(u => (u, "3")) ++
      Seq((1L, "1")) // duplicate event: the DISTINCT pair relation ignores it
    val ev = rows.toDF("user_id", "m")
      .select(col("user_id"), concat(lit("{\"k\": "), col("m"), lit("}")).as("props"),
        lit("purchase").as("event_type"), lit(5.0).as("value"))
    val r = Monitoring.kAnonymity(ev).collect()
      .map(x => x.getAs[Long]("k") ->
        ((x.getAs[Long]("n_groups"), x.getAs[Long]("n_violating"),
          x.getAs[Long]("n_affected_users"), x.getAs[Double]("risk_share")))).toMap
    assert(r(2L) === ((3L, 1L, 1L, math.floor(1.0 / 3 * 10000) / 10000)))
    assert(r(5L) === ((3L, 2L, 4L, math.floor(2.0 / 3 * 10000) / 10000)))
    assert(r(10L) === ((3L, 2L, 4L, math.floor(2.0 / 3 * 10000) / 10000)))
  }

  test("lDiversity: homogeneous groups flagged per l with exact affected-user counts") {
    import spark.implicits._
    // band is floor(value/10)=0 everywhere; diversity varies by merchant:
    //   m=1 → 1 distinct type over users {1,2}  (violates l=2 and l=3)
    //   m=2 → 2 distinct types over user {3}    (violates l=3 only)
    //   m=3 → 3 distinct types over users {4,5} (violates neither)
    val rows = Seq((1L, "1", "x"), (2L, "1", "x"), (1L, "1", "x"), // dup event ignored
      (3L, "2", "x"), (3L, "2", "y"),
      (4L, "3", "x"), (4L, "3", "y"), (5L, "3", "z"))
    val ev = rows.toDF("user_id", "m", "event_type")
      .select(col("user_id"), concat(lit("{\"k\": "), col("m"), lit("}")).as("props"),
        col("event_type"), lit(5.0).as("value"))
    val r = Monitoring.lDiversity(ev).collect()
      .map(x => x.getAs[Long]("l") ->
        ((x.getAs[Long]("n_groups"), x.getAs[Long]("n_violating"),
          x.getAs[Long]("n_affected_users"), x.getAs[Double]("risk_share")))).toMap
    assert(r(2L) === ((3L, 1L, 2L, math.floor(1.0 / 3 * 10000) / 10000)))
    assert(r(3L) === ((3L, 2L, 3L, math.floor(2.0 / 3 * 10000) / 10000)))
  }

  test("tCloseness: hand-computed TVD per group, exact threshold and affected counts") {
    import spark.implicits._
    // distinct relation N=7: overall event-type counts x=4, y=2, z=1
    //   A (m=1, ng=2): {x,x}      → num = |2·7−4·2| + 2·(7−4)        = 12, TVD 12/28
    //   B (m=2, ng=2): {x,y}      → num = |7−8| + |7−4| + 2·(7−6)    = 6,  TVD 6/28
    //   C (m=3, ng=3): {x,y,z}    → num = |7−12| + |7−6| + |7−3| + 0 = 10, TVD 10/42
    val rows = Seq((1L, "1", "x"), (2L, "1", "x"),
      (3L, "2", "x"), (3L, "2", "y"),
      (4L, "3", "x"), (4L, "3", "y"), (5L, "3", "z"))
    val ev = rows.toDF("user_id", "m", "event_type")
      .select(col("user_id"), concat(lit("{\"k\": "), col("m"), lit("}")).as("props"),
        col("event_type"), lit(5.0).as("value"))
    val r = Monitoring.tCloseness(ev).collect()
      .map(x => x.getAs[Long]("t_scaled") ->
        ((x.getAs[Long]("n_groups"), x.getAs[Long]("n_violating"),
          x.getAs[Long]("n_affected_users"), x.getAs[Double]("max_tvd"),
          x.getAs[Double]("risk_share")))).toMap
    // t=0.2: all three violate (120>56, 60>56 barely, 100>84); t=0.3: only A (120>84)
    assert(r(2L) === ((3L, 3L, 5L, 0.4285, 1.0)))
    assert(r(3L) === ((3L, 1L, 2L, 0.4285, math.floor(1.0 / 3 * 10000) / 10000)))
  }

  test("kAnonGeneralize: first level where every group reaches k is chosen, later passes are not") {
    import spark.implicits._
    // values 50,150,...,450: singleton groups at band/10 AND band/100;
    // one 5-user group at band/1000 (k=5 first satisfied at level 2)
    val ev = (1L to 5L).map(u => (u, (u * 100 - 50).toDouble))
      .toDF("user_id", "value")
      .select(col("user_id"), lit("{\"k\": \"m\"}").as("props"),
        lit("purchase").as("event_type"), col("value"))
    val r = Monitoring.kAnonGeneralize(ev).collect()
      .map(x => x.getAs[Long]("level") ->
        ((x.getAs[Long]("n_groups"), x.getAs[Long]("min_group"),
          x.getAs[Boolean]("k_ok"), x.getAs[Boolean]("chosen")))).toMap
    assert(r(0L) === ((5L, 1L, false, false)))
    assert(r(1L) === ((5L, 1L, false, false)))
    assert(r(2L) === ((1L, 5L, true, true)))  // minimum generalization
    assert(r(3L) === ((1L, 5L, true, false))) // passes, but not minimal
  }

  test("mutualInfo: perfect dependence scores ln2 split per type, independence scores 0") {
    import spark.implicits._
    def ev(rows: Seq[(String, String)]) = rows.toDF("event_type", "m")
      .select(col("event_type"), concat(lit("{\"k\": "), col("m"), lit("}")).as("props"))
    // perfect dependence: type a ⇒ merchant 1, type b ⇒ merchant 2
    val dep = Monitoring.mutualInfo(ev(Seq(("a", "1"), ("a", "1"), ("b", "2"), ("b", "2"))))
      .collect().map(x => x.getAs[String]("event_type") -> x.getAs[Long]("mi_scaled")).toMap
    val half = math.floor(0.5 * math.log(2.0) * 1e8).toLong
    assert(dep("a") === half && dep("b") === half) // Σ = ln 2 exactly split
    // independence: both types hit both merchants uniformly → every term 0
    val ind = Monitoring.mutualInfo(ev(Seq(("a", "1"), ("a", "2"), ("b", "1"), ("b", "2"))))
      .collect().map(_.getAs[Long]("mi_scaled"))
    assert(ind.forall(_ === 0L))
  }

  test("volatility: hand-built daily series produces exact scaled returns and a zero-vol flat window") {
    import spark.implicits._
    val D = 86400000L
    // type a: volumes 1.00, 2.00, 1.00, 1.00 → returns ln2, −ln2, 0
    val rows = Seq((0L, 1.0), (1L, 2.0), (2L, 1.0), (3L, 1.0))
      .map { case (d, v) => ("a", d * D + 1, v) }
    val r = Monitoring.volatility(rows.toDF("event_type", "ts_ms", "value")).collect()
      .map(x => x.getAs[Long]("day_ms") / D ->
        ((x.getAs[Double]("ret"), x.getAs[Long]("n_win"), x.getAs[Double]("vol")))).toMap
    assert(r.keySet === Set(1L, 2L, 3L)) // first day has no return
    val ln2s = math.floor(math.log(2.0) * 1e6) // scaled return
    assert(r(1L)._1 === math.floor(ln2s / 1e6 * 10000) / 10000)
    assert(r(1L)._2 === 1L && r(1L)._3 === 0.0) // single-return window: σ = 0
    // window {ln2, −ln2, 0}: recompute σ from the exact scaled integers
    val rs = Seq(ln2s.toLong, math.floor(math.log(0.5) * 1e6).toLong, 0L)
    val n = rs.size.toDouble
    val sd = math.sqrt(rs.map(x => x * x).sum / n - math.pow(rs.sum / n, 2))
    assert(r(3L)._2 === 3L)
    assert(r(3L)._3 === math.floor(sd / 1e6 * 10000) / 10000)
  }

  test("drawdown: deepest drop from the running peak, first trough day on ties") {
    import spark.implicits._
    val D = 86400000L
    // daily volumes: 1.00, 3.00, 1.50, 2.00, 0.50 → dd: 0,0,150,100,250
    val rows = Seq((0L, 1.0), (1L, 3.0), (2L, 1.5), (3L, 2.0), (4L, 0.5))
      .map { case (d, v) => ("a", d * D, v) }
    val r = Monitoring.drawdown(rows.toDF("event_type", "ts_ms", "value")).collect().head
    assert(r.getAs[Long]("n_days") === 5L)
    assert(r.getAs[Long]("peak_cents") === 300L)
    assert(r.getAs[Long]("max_dd_cents") === 250L)
    assert(r.getAs[Long]("trough_day_ms") === 4L * D)
    assert(r.getAs[Double]("dd_share") === math.floor(250.0 / 300 * 10000) / 10000)
  }

  test("woeEncode: clean merchants score positive, bad ones negative, IV terms non-negative") {
    import spark.implicits._
    // merchant 1: 10 good; merchant 2: 1 good, 5 bad
    val ev = (Seq.fill(10)(("1", "view")) ++ Seq(("2", "view")) ++ Seq.fill(5)(("2", "error")))
      .toDF("m", "event_type")
      .select(concat(lit("{\"k\": "), col("m"), lit("}")).as("props"), col("event_type"))
    val r = Monitoring.woeEncode(ev).collect()
      .map(x => x.getAs[String]("merchant") ->
        ((x.getAs[Long]("n_good"), x.getAs[Long]("n_bad"),
          x.getAs[Double]("woe"), x.getAs[Double]("iv_term")))).toMap
    assert(r("1")._1 === 10L && r("1")._2 === 0L)
    assert(r("2")._1 === 1L && r("2")._2 === 5L)
    assert(r("1")._3 > 0 && r("2")._3 < 0) // sign encodes the odds direction
    // IV contribution is non-negative by construction ((gs-bs) and ln share sign)
    r.values.foreach(x => assert(x._4 >= 0.0))
    // exact recompute for merchant 1 (Laplace 0.5 on 11 good / 5 bad totals)
    val gs = 10.5 / 11.5; val bs = 0.5 / 5.5
    assert(r("1")._3 === math.floor(math.log(gs / bs) * 10000) / 10000)
  }

  test("scoreAuc: hand-built ties produce the exact midrank AUC") {
    import spark.implicits._
    // scores: pos {3.00, 2.00}, neg {1.00, 2.00} — one tied pair at 2.00
    // midranks over [100, 200, 200, 300]: 1, 2.5, 2.5, 4
    // U = (2.5 + 4) - 2*3/2 = 3.5 → AUC = 3.5 / 4 = 0.875
    val ev = Seq((3.0, "error"), (2.0, "error"), (1.0, "view"), (2.0, "view"))
      .toDF("value", "event_type")
    val r = Monitoring.scoreAuc(ev).collect().head
    assert(r.getAs[Long]("n_pos") === 2L && r.getAs[Long]("n_neg") === 2L)
    assert(decL(r, "u2") === 7L) // 2·U
    assert(r.getAs[Double]("auc") === 0.875)
  }

  test("prCurve: confusion counts are exact per threshold; empty-prediction rows go NULL") {
    import spark.implicits._
    // pos at $25 and $5; neg at $15 and $2 (cents: 2500, 500, 1500, 200)
    val ev = Seq((25.0, "error"), (5.0, "error"), (15.0, "view"), (2.0, "view"))
      .toDF("value", "event_type")
    val r = Monitoring.prCurve(ev).collect()
      .map(x => x.getAs[Long]("t") ->
        ((x.getAs[Long]("tp"), x.getAs[Long]("fp"), x.getAs[Long]("fn"),
          Option(x.getAs[java.lang.Double]("precision")),
          x.getAs[Double]("recall")))).toMap
    assert(r.size === 10)
    // t=1000: predicts {2500, 1500} → tp=1 fp=1 fn=1
    assert(r(1000L)._1 === 1L && r(1000L)._2 === 1L && r(1000L)._3 === 1L)
    assert(r(1000L)._4 === Some(0.5) && r(1000L)._5 === 0.5)
    // t=2000: predicts {2500} → perfect precision, half recall
    assert(r(2000L)._1 === 1L && r(2000L)._2 === 0L && r(2000L)._4 === Some(1.0))
    // t=3000..10000: nothing predicted → precision NULL, recall 0
    (3L to 10L).map(_ * 1000).foreach { t =>
      assert(r(t)._1 === 0L && r(t)._4 === None && r(t)._5 === 0.0)
    }
  }

  test("userEntropy: single-merchant mule scores 0, uniform mix scores ln(k) normalized to 1") {
    import spark.implicits._
    // user 1: 6 events all at one merchant; user 2: 2+2 over two merchants;
    // user 3: 3+1 skewed over two merchants
    val ev = (Seq.fill(6)((1L, "7")) ++ Seq((2L, "1"), (2L, "1"), (2L, "2"), (2L, "2")) ++
      Seq((3L, "1"), (3L, "1"), (3L, "1"), (3L, "2")))
      .toDF("user_id", "m")
      .select(col("user_id"), concat(lit("{\"k\": "), col("m"), lit("}")).as("props"))
    val r = Monitoring.userEntropy(ev).collect()
      .map(x => x.getAs[Long]("user_id") ->
        ((x.getAs[Long]("n_events"), x.getAs[Long]("n_merchants"),
          x.getAs[Long]("ent_scaled"), x.getAs[Double]("entropy"),
          x.getAs[Double]("norm_entropy")))).toMap
    assert(r(1L) === ((6L, 1L, 0L, 0.0, 0.0)))
    // uniform 2-way mix: H = ln 2, normalized exactly 1 (same scaled sums)
    val ln2t = math.floor(0.5 * math.log(0.5) * -1e6).toLong
    assert(r(2L)._3 === 2 * ln2t)
    assert(math.abs(r(2L)._5 - 1.0) < 1e-3)
    // skew strictly lowers entropy below the uniform mix
    assert(r(3L)._3 < r(2L)._3 && r(3L)._3 > 0)
  }

  test("targetEncode: smoothing shrinks rare merchants toward the global mean") {
    import spark.implicits._
    // busy merchant A: 100 events @ $1; rare merchant B: 1 event @ $100
    val ev = (Seq.fill(100)(("1", 1.0)) ++ Seq(("2", 100.0)))
      .toDF("m", "value")
      .select(concat(lit("{\"k\": "), col("m"), lit("}")).as("props"), col("value"))
    val r = Monitoring.targetEncode(ev).collect()
      .map(x => x.getAs[String]("m" + "erchant") ->
        ((x.getAs[Long]("n"), x.getAs[Long]("sum_cents"),
          x.getAs[Double]("naive_cents"), x.getAs[Double]("enc_cents")))).toMap
    val g = (100 * 100 + 10000).toDouble / 101 // global mean cents
    // rare merchant: encoded value sits strictly between prior and naive,
    // and lands near the prior (n=1 vs m=20)
    val (nB, sB, naiveB, encB) = r("2")
    assert(nB === 1L && sB === 10000L && naiveB === 10000.0)
    assert(encB < naiveB && encB > g)
    assert(math.abs(encB - (10000 + 20 * g) / 21) < 1e-3)
    // busy merchant: encoding barely moves it
    assert(math.abs(r("1")._4 - 100.0) < math.abs(encB - naiveB))
  }

  test("burstDetect: a spike over a flat series is flagged; silent hours count in the stats") {
    import spark.implicits._
    val H = 3600000L
    // type "a": 1 event/hour for 40 h, then a 30-event spike in hour 40
    val flat = (0 until 40).map(h => ("a", h * H + 5))
    val spike = Seq.fill(30)(("a", 40 * H + 5L))
    // type "b": active only in 2 of the 41 hours — the zero hours must
    // drag its mean DOWN so the two active hours flag
    val sparse = Seq.fill(8)(("b", 10 * H + 1L)) ++ Seq.fill(8)(("b", 20 * H + 1L))
    val ev = (flat ++ spike ++ sparse).toDF("event_type", "ts_ms")
    val r = Monitoring.burstDetect(ev).collect()
      .map(x => (x.getAs[String]("event_type"), x.getAs[Long]("hour_ms") / H,
        x.getAs[Long]("n"), x.getAs[Double]("z")))
    assert(r.contains(("a", 40L, 30L, r.find(x => x._1 == "a").get._4)))
    r.filter(_._1 == "a").foreach(x => assert(x._2 === 40L)) // only the spike
    // sparse type: both active hours flag (8 >> mean 16/41)
    assert(r.filter(_._1 == "b").map(_._2).sorted === Seq(10L, 20L))
    r.foreach(x => assert(x._4 > 3.0 - 1e-4))
  }

  test("paretoShare: hand-built shares produce the exact k80 and integer-threshold boundary") {
    import spark.implicits._
    // type a: 80/10/5/5 → top-1 holds exactly 80% (5*80 >= 4*100) → k80=1
    // type b: 50/30/20 → cum 50 (no), 80 (yes) → k80=2, share .8
    val rows = Seq(("a", "m1", 0.80), ("a", "m2", 0.10), ("a", "m3", 0.05), ("a", "m4", 0.05),
      ("b", "m1", 0.50), ("b", "m2", 0.30), ("b", "m3", 0.20))
    val ev = rows.toDF("event_type", "m", "value")
      .select(col("event_type"), concat(lit("{\"k\": \""), col("m"), lit("\"}")).as("props"),
        col("value"))
    val r = Monitoring.paretoShare(ev).collect()
      .map(x => x.getAs[String]("event_type") ->
        ((x.getAs[Long]("n_merchants"), x.getAs[Long]("total_cents"),
          x.getAs[Long]("k80"), x.getAs[Double]("share80")))).toMap
    assert(r("a") === ((4L, 100L, 1L, 0.8)))
    assert(r("b") === ((3L, 100L, 2L, 0.8)))
  }

  test("interarrival: exact gaps, quantiles, and one row per multi-event user") {
    import spark.implicits._
    // user 1 gaps: 100, 200, 400, 1000 ms; user 2: single event → no row
    val ev = Seq((1L, 0L, 1L), (1L, 100L, 2L), (1L, 300L, 3L), (1L, 700L, 4L),
      (1L, 1700L, 5L), (2L, 50L, 6L))
      .toDF("user_id", "ts_ms", "event_id")
    val r = Monitoring.interarrival(ev).collect()
    assert(r.length === 1)
    val x = r.head
    assert(x.getAs[Long]("user_id") === 1L)
    assert(x.getAs[Long]("n_gaps") === 4L)
    assert(x.getAs[Long]("min_gap_ms") === 100L)
    assert(x.getAs[Long]("max_gap_ms") === 1000L)
    // percentile over {100,200,400,1000}: p50 = 300 exactly (midpoint),
    // p90 = 400 + 0.7*(1000-400) = 820 before trunc4
    assert(x.getAs[Double]("p50_gap") === 300.0)
    assert(math.abs(x.getAs[Double]("p90_gap") - 820.0) < 0.01)
  }

  test("dpHistogram: deterministic seeded Laplace, noise matches the inverse CDF") {
    val ev = Tables.events(spark, sf)
    val a = Monitoring.dpHistogram(ev).collect().sortBy(_.getAs[Long]("day"))
    val b = Monitoring.dpHistogram(ev).collect().sortBy(_.getAs[Long]("day"))
    assert(a.map(_.toSeq).toSeq === b.map(_.toSeq).toSeq) // reproducible, not rand()
    // recompute the draw for every day in plain Scala
    val md = java.security.MessageDigest.getInstance("MD5")
    a.foreach { r =>
      val day = r.getAs[Long]("day")
      val hex = md.digest(s"dp|$day".getBytes("UTF-8"))
        .map("%02x".format(_)).mkString.take(15)
      val h = java.lang.Long.parseLong(hex, 16)
      val u = (h.toDouble + 0.5) / math.pow(2, 60)
      val lap = -2.0 * math.signum(u - 0.5) * math.log(1.0 - 2.0 * math.abs(u - 0.5))
      assert(r.getAs[Long]("lap_scaled") === math.floor(lap * 1e6).toLong)
      assert(r.getAs[Long]("released") === r.getAs[Long]("n") + math.floor(lap + 0.5).toLong)
    }
  }

  test("bootstrapCi: Poisson(1) weights conserve mass, ranks are a permutation") {
    val ev = Tables.events(spark, sf)
    val n = ev.count()
    val r = Monitoring.bootstrapCi(ev).collect()
    assert(r.length === 40)
    assert(r.map(_.getAs[Long]("rnk")).sorted.toSeq === (1L to 40L))
    // E[n_eff] = n, sd = sqrt(n): every replicate within 5 sd
    r.foreach { x =>
      val eff = x.getAs[Long]("n_eff")
      assert(math.abs(eff - n) <= 5 * math.sqrt(n.toDouble),
        s"replicate ${x.getAs[Long]("b")}: n_eff $eff vs n $n")
    }
  }

  test("conformalInterval: qhat covers >= ceil(0.9(n+1)) of the calibration scores") {
    import org.apache.spark.sql.functions._
    val ev = Tables.events(spark, sf)
    val out = Monitoring.conformalInterval(ev).collect()
    assert(out.nonEmpty)
    val base = ev.select(col("event_id"), col("event_type"),
      expr("cast(floor(value * 100 + 0.5) as long)").as("cents"),
      pmod(col("event_id"), lit(2L)).as("half"))
    out.foreach { r =>
      val t = r.getAs[String]("event_type")
      val mu = r.getAs[Long]("mu_scaled")
      val qhat = r.getAs[Long]("qhat_scaled")
      val scores = base.filter(col("half") === 1 && col("event_type") === t)
        .select(abs(col("cents") * 1000000L - mu).as("s")).collect().map(_.getLong(0))
      val k = math.min(math.ceil((scores.length + 1) * 0.9).toLong, scores.length.toLong)
      assert(scores.count(_ <= qhat) >= k, s"type $t: coverage below the conformal rank")
      assert(r.getAs[Double]("lo_usd") <= r.getAs[Double]("hi_usd"))
    }
  }
}
