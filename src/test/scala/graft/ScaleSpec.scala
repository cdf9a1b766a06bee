package graft

import graft.obs.Recorder
import graft.operators.{ScaleOps, Sketches}
import org.apache.spark.sql.functions._
import java.nio.file.Files

/** Scale-pattern guarantees: salted agg equivalence, bucketed joins
  * plan without shuffle exchanges, partitioned/format round-trips. */
class ScaleSpec extends SparkSpec {

  import org.apache.spark.sql.execution.SparkPlan
  import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
  import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
  import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
  import org.apache.spark.sql.execution.window.{WindowExec, WindowGroupLimitExec}
  import org.apache.spark.sql.execution.aggregate.BaseAggregateExec
  import org.apache.spark.sql.execution.{GlobalLimitExec, LocalLimitExec, TakeOrderedAndProjectExec}
  import org.apache.spark.sql.execution.{LocalTableScanExec, QueryExecution, RangeExec}

  /** Children for plan walks, descending through the wrappers that hide
    * subtrees: AQE roots/stages, cached relations, reused exchanges. */
  private def planKids(p: SparkPlan): Seq[SparkPlan] = p match {
    case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
    case s: QueryStageExec => Seq(s.plan)
    case i: InMemoryTableScanExec => Seq(i.relation.cachedPlan)
    case r: ReusedExchangeExec => Seq(r.child)
    case other => other.children
  }

  private def planNodes(p: SparkPlan): Seq[SparkPlan] =
    p +: planKids(p).flatMap(planNodes)

  /** True when the subtree contains a cardinality collapse — an
    * aggregate, a window-group limit, or a limit — or a literal-bounded
    * leaf (a range or an inline local relation), i.e. the relation
    * flowing OUT of it is bins/groups/top-k/LUT rows, not the raw fact. */
  private def collapsedBelow(p: SparkPlan): Boolean = planNodes(p).exists {
    case _: BaseAggregateExec | _: WindowGroupLimitExec |
         _: GlobalLimitExec | _: LocalLimitExec | _: TakeOrderedAndProjectExec => true
    case _: RangeExec | _: LocalTableScanExec => true
    case _ => false
  }

  /** Every `WindowExec` with an EMPTY partition spec (⇒ planned over
    * `Exchange SinglePartition`) whose input is NOT a collapsed
    * relation — the one-task-sorts-the-fact scale killer. */
  private def globalWindowOffenders(plan: SparkPlan): Seq[WindowExec] =
    planNodes(plan).collect {
      case w: WindowExec if w.partitionSpec.isEmpty && !collapsedBelow(w.child) => w
    }

  test("saltedUserStats equals the direct aggregation") {
    val ev = Tables.events(spark, sf)
    val direct = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"), round(sum(col("value")), 2).as("sum_value"))
    val salted = ScaleOps.saltedUserStats(ev)
    assert(salted.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(salted).count() === 0)
  }

  test("bucketed join plans with zero shuffle exchanges") {
    val wh = Files.createTempDirectory("graft-wh").toString
    ScaleOps.writeBucketed(spark, sf, wh)
    val joined = ScaleOps.bucketedJoin(spark)
    val plan = joined.queryExecution.executedPlan.toString
    // the join itself must not re-shuffle either bucketed side: the only
    // allowed exchange is the final small groupBy on c_mktsegment
    val joinPart = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1).mkString
    assert(!joinPart.contains("Exchange hashpartitioning(o_custkey") &&
      !joinPart.contains("Exchange hashpartitioning(c_custkey"),
      s"bucketed join re-shuffled:\n$plan")
    // and the result matches the unbucketed join
    val direct = Tables.orders(spark, sf)
      .join(Tables.customer(spark, sf), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), round(sum(col("o_totalprice")), 2).as("revenue"))
    assert(joined.exceptAll(direct).count() === 0)
  }

  test("q_bucketed_join: the driver query's merge join reads buckets with zero exchange") {
    val joined = ScaleOps.bucketedRevenue(spark, sf)
    val plan = joined.queryExecution.executedPlan.toString
    assert(plan.contains("SortMergeJoin"), s"merge hint lost:\n$plan")
    val joinPart = plan.split("SortMergeJoin|ShuffledHashJoin").drop(1).mkString
    assert(!joinPart.contains("Exchange hashpartitioning(o_custkey") &&
      !joinPart.contains("Exchange hashpartitioning(c_custkey"),
      s"driver bucketed join re-shuffled:\n$plan")
  }

  test("zorder: interleave round-trips both dimensions; equal-key locality") {
    val ev = Tables.events(spark, sf)
    val r = ScaleOps.zorderEvents(ev).join(
      ev.select(col("event_id"), col("user_id"), floor(col("value")).cast("long").as("amt")),
      "event_id").collect()
    assert(r.nonEmpty)
    // de-interleave the z-value and recover both coordinates exactly
    def unzip(z: Long, offset: Int): Long =
      (0 until 16).map(b => ((z >> (2 * b + offset)) & 1L) << b).reduce(_ | _)
    r.foreach { row =>
      val z = row.getAs[Long]("zval")
      assert(unzip(z, 0) === (row.getAs[Long]("user_id") & 65535L))
      assert(unzip(z, 1) === (row.getAs[Long]("amt") & 65535L))
    }
    // locality: same (user, amount) ⇒ same zval ⇒ same block
    val groups = r.groupBy(x => (x.getAs[Long]("user_id"), x.getAs[Long]("amt")))
    groups.values.foreach { rows =>
      assert(rows.map(_.getAs[Long]("zval")).distinct.length === 1)
    }
  }

  test("skewAudit: ranked by count desc, shares consistent with direct counts") {
    val li = Tables.lineitem(spark, sf)
    val r = ScaleOps.skewAudit(li).collect()
    assert(r.length === 5)
    assert(r.map(_.getAs[Long]("rnk")).sorted.toSeq === Seq(1L, 2L, 3L, 4L, 5L))
    val ns = r.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b }, "not count-descending")
    val top = li.groupBy(col("l_partkey")).count()
      .agg(max(col("count"))).head.getLong(0)
    assert(ns.head === top, "rank-1 key is not the hottest key")
    val total = li.count()
    r.foreach(x => assert(math.abs(
      x.getAs[Double]("share") - x.getAs[Long]("n").toDouble / total) < 1e-5))
  }

  test("incrAgg: state ⊎ delta equals the full recompute") {
    val ev = Tables.events(spark, sf)
    val merged = ScaleOps.incrAgg(ev)
    val direct = ev.groupBy(col("user_id"))
      .agg(count(lit(1)).cast("long").as("n"), round(sum(col("value")), 2).as("sum_value"))
    assert(merged.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(merged).count() === 0)
  }

  test("cmsHeavyHitters: estimate dominates the exact count (CMS never undercounts)") {
    val r = Sketches.cmsHeavyHitters(Tables.events(spark, sf)).collect()
    assert(r.length === 20)
    r.foreach { x =>
      assert(x.getAs[Long]("est") >= x.getAs[Long]("n"),
        s"CMS undercounted amt=${x.getAs[Long]("amt")}")
    }
    val ns = r.sortBy(_.getAs[Long]("rnk")).map(_.getAs[Long]("n"))
    assert(ns.zip(ns.tail).forall { case (a, b) => a >= b })
  }

  test("monitoring plan shapes: pushed band filter, single exchange for windows") {
    import graft.operators.Monitoring
    val ev = Tables.events(spark, sf)
    // structuring: the value band reaches the parquet scan, one exchange
    val sPlan = Monitoring.structuring(ev).queryExecution.executedPlan.toString
    assert(sPlan.contains("value") && (sPlan.contains(">= 50.0") || sPlan.contains("GreaterThanOrEqual(value,50.0)")),
      s"band filter not at the scan:\n$sPlan")
    assert("Exchange hashpartitioning".r.findAllIn(sPlan).length === 1, sPlan)
    // scd2: both windows + the change filter share ONE exchange
    val cPlan = Monitoring.scd2(ev).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(cPlan).length === 1, cPlan)
    // rolling features: all four windows share ONE exchange
    val rPlan = Monitoring.rollingFeatures(ev).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(rPlan).length === 1, rPlan)
    // velocity: one RANGE-frame window, one exchange, NO join (the
    // whole point over a self-join sliding window)
    val vPlan = Monitoring.velocityBursts(ev).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(vPlan).length === 1, vPlan)
    assert(!vPlan.contains("Join"), s"velocity must not join:\n$vPlan")
    // dormancy: same single-window discipline
    val dPlan = Monitoring.dormantAwakening(ev).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(dPlan).length === 1, dPlan)
    // ewma (round-10 overflow-safe formulation): the EVENT-scale scan
    // still shuffles exactly once — into the map-side-combined
    // (user, day) aggregate; the explode/contrib aggregate, the
    // first-day window and the equi-join back then re-exchange only
    // the DAILY-sized relation (3 more), so the bound is 4 total and
    // the invariant that matters is unchanged: raw events cross the
    // wire once. (The old 2-exchange recurrence form was an ANSI long
    // overflow past ~47 days of user history — the skew corpus's hot
    // user crashed it; see ewmaDaily's Scaladoc.)
    val ePlan = Monitoring.ewmaDaily(ev).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(ePlan).length <= 4, ePlan)
    // offsetting pairs: amount+bucket ride the join KEY — the plan must
    // be an equi-join (hash clauses), not a broadcast nested loop
    val oPlan = Monitoring.offsettingPairs(ev).queryExecution.executedPlan.toString
    assert(oPlan.contains("SortMergeJoin") || oPlan.contains("ShuffledHashJoin") ||
      oPlan.contains("BroadcastHashJoin"), s"offsetting must equi-join:\n$oPlan")
    assert(!oPlan.contains("NestedLoop"), oPlan)
  }

  test("round-5 batch plan shapes: stats on one agg, equi-joins, broadcast LUTs") {
    import graft.operators.{Monitoring, TextOps}
    val ev = Tables.events(spark, sf)
    // psi/chi2/cusum: the event scan aggregates BEFORE any join/window —
    // exactly one exchange partitions event-scale rows; later exchanges
    // run on the tiny cell tables
    val pPlan = Monitoring.psiDrift(ev).queryExecution.executedPlan.toString
    assert(!pPlan.contains("NestedLoop") || pPlan.contains("BroadcastNestedLoop"),
      s"psi cross joins must broadcast:\n$pPlan")
    val cPlan = Monitoring.cusumVolume(ev).queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(cPlan).length <= 2,
      s"cusum: one agg exchange + one window exchange on the daily table:\n$cPlan")
    // interval overlaps: candidates come from a hash EQUI-join on the
    // day bucket, never a nested-loop over intervals
    val iPlan = PlanCapture.lastCheckpoint(spark)(
      Monitoring.intervalOverlaps(ev, "error", 7200000L))._2.executedPlan.toString
    assert(iPlan.contains("SortMergeJoin") || iPlan.contains("ShuffledHashJoin") ||
      iPlan.contains("BroadcastHashJoin"), s"interval join must be hash-based:\n$iPlan")
    assert(!iPlan.contains("NestedLoop"), iPlan)
    // dsir: the bucket LUT reaches the doc side as a broadcast — the
    // corpus-scale bigram relation is never shuffled by bucket
    val dPlan = PlanCapture.lastCheckpoint(spark)(
      TextOps.dsirWeights(Tables.documents(spark, sf), 1024L, 97L))._2.executedPlan.toString
    assert(dPlan.contains("BroadcastHashJoin"), s"dsir LUT must broadcast:\n$dPlan")
  }

  test("sortedExport: each output file holds whole users in time order") {
    val out = Files.createTempDirectory("graft-sorted").toString + "/events_sorted"
    ScaleOps.sortedExport(Tables.events(spark, sf), out)
    val back = spark.read.parquet(out)
      .withColumn("file", input_file_name())
      .collect()
    assert(back.nonEmpty)
    // per-file: rows arrive in (user_id, ts_ms, event_id) order
    back.groupBy(_.getAs[String]("file")).foreach { case (_, rows) =>
      val keys = rows.map(r => (r.getAs[Long]("user_id"), r.getAs[Long]("ts_ms"),
        r.getAs[Long]("event_id")))
      assert(keys.zip(keys.tail).forall { case (a, b) =>
        implicitly[Ordering[(Long, Long, Long)]].lteq(a, b) }, "file not sorted")
    }
    // whole users: no user is split across files
    val filesPerUser = back.groupBy(_.getAs[Long]("user_id"))
      .view.mapValues(_.map(_.getAs[String]("file")).distinct.length)
    assert(filesPerUser.values.forall(_ === 1), "a user spans multiple files")
  }

  test("runtime bloom filter prunes the fact side of a selective shuffle join") {
    // the 100 TB lever behind AQE: when a shuffle join's build side is
    // small and selective, Spark injects a bloom-filter semi-filter on
    // the probe side so fact rows that can't match are dropped BEFORE
    // the exchange — shuffle bytes scale with matches, not scan size.
    // Broadcast joins are forced off because the bloom path only
    // applies to shuffle joins (a broadcast join already prunes).
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> "true",
      "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold" -> "100MB",
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" -> "0")
    val prior = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    try {
      confs.foreach { case (k, v) => spark.conf.set(k, v) }
      val li = Tables.lineitem(spark, sf)
      val sel = Tables.orders(spark, sf)
        .filter(col("o_orderpriority") === "1-URGENT")
        .select(col("o_orderkey"), col("o_totalprice"))
      val joined = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("s"))
      val opt = joined.queryExecution.optimizedPlan.toString
      assert(opt.contains("might_contain") || opt.contains("BloomFilter"),
        s"no runtime bloom filter injected:\n$opt")
      // and the result is identical with the filter off
      val r1 = joined.collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      spark.conf.set("spark.sql.optimizer.runtime.bloomFilter.enabled", "false")
      val r2 = li.join(sel, col("l_orderkey") === col("o_orderkey"))
        .groupBy(col("l_returnflag"))
        .agg(count(lit(1)).as("n"), round(sum(col("o_totalprice")), 2).as("s"))
        .collect().map(r => (r.getString(0), r.getLong(1), r.getDouble(2))).sortBy(_._1)
      assert(r1.toSeq === r2.toSeq)
    } finally prior.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None)    => spark.conf.unset(k)
    }
  }

  test("rapidPairs joins on the time bucket, not user_id alone (plan shape)") {
    val ev = Tables.events(spark, sf)
    val plan = graft.operators.Analytics.rapidPairs(ev).queryExecution.executedPlan.toString
    // the equi keys of the join must include the bucket column — a
    // user_id-only join is per-user quadratic before the range filter
    val joinLine = plan.linesIterator.find(l => l.contains("Join ") && l.contains("user_id"))
    assert(joinLine.exists(_.contains("bkt")), s"range join lost its bucket key:\n$plan")
  }

  test("tfidfTopK carries exactly one broadcast hint (the 1-row count, never the vocabulary)") {
    val docs = Tables.documents(spark, sf)
    val analyzed = graft.operators.TextOps.tfidfTopK(docs).queryExecution.analyzed.toString
    // the df (vocabulary) table grows with the corpus; a forced broadcast
    // there is a driver OOM at scale. AQE may still CHOOSE broadcast when
    // it fits — the guard is against the unconditional hint
    val hints = "ResolvedHint".r.findAllIn(analyzed).length
    assert(hints === 1, s"expected only the count(*) broadcast hint, got $hints:\n$analyzed")
  }

  test("fingerprints runs on a single exchange; all windows reuse the doc_id partitioning") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.operators.TextOps.fingerprints(docs).queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 exchange (the spread), got $exchanges:\n$plan")
  }

  test("featureHash: one exchange feeds both the slot aggregate and the top-k window") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.operators.TextOps.featureHash(docs).queryExecution.executedPlan.toString
    val exchanges = "Exchange ".r.findAllIn(plan).length
    assert(exchanges === 1, s"expected 1 exchange (the spread), got $exchanges:\n$plan")
    // the per-doc top-k prunes BEFORE the full window materializes
    assert(plan.contains("WindowGroupLimit"), plan)
  }

  test("IVF probe over list_id-bucketed embeddings prunes buckets at the scan") {
    import graft.operators.Similarity
    val wh = Files.createTempDirectory("graft-ivf-wh").toString
    val emb = Tables.embeddings(spark, sf)
    Similarity.writeBucketedByList(emb, wh)
    // the top-NProbe lists for query vector 0 (what ivfTopK's probe
    // stage produces) — collected test-side to build the probe filter
    val v = Similarity.withEmbD(emb)
    val cents = Similarity.trainedCentroids(v).localCheckpoint(true)
    val q0 = v.filter(col("vec_id") === 0).select(col("e"))
    val probeLists = cents.crossJoin(q0)
      .select(col("cid"), graft.functions.NativeVector.cosine(col("e"), col("ce")).as("c"))
      .orderBy(col("c").desc, col("cid")).limit(Similarity.NProbe)
      .collect().map(_.getAs[Int]("cid")).toSeq
    assert(probeLists.size === Similarity.NProbe)
    // probing = filtering the bucketed table on the probed lists: the
    // scan must read NProbe of NList buckets, not the whole table.
    // autoBucketedScan would drop the bucketed layout for a plan with
    // no downstream join/agg needing it — pin it on for the probe
    spark.conf.set("spark.sql.sources.bucketing.autoBucketedScan.enabled", "false")
    val plan = try {
      spark.table("embeddings_b")
        .filter(col("list_id").isin(probeLists: _*))
        .queryExecution.executedPlan.toString
    } finally spark.conf.unset("spark.sql.sources.bucketing.autoBucketedScan.enabled")
    // bucket ids are murmur3(list_id) % NList, so distinct probe lists
    // MAY collide into fewer buckets — assert pruning happened (≤ NProbe
    // of NList read), not an exact count that data changes could flip
    val selected = s"SelectedBucketsCount: (\\d+) out of ${Similarity.NList}".r
      .findFirstMatchIn(plan).map(_.group(1).toInt)
    assert(selected.exists(n => n >= 1 && n <= Similarity.NProbe),
      s"bucket pruning missing from scan (selected=$selected):\n$plan")
    // and a probe JOIN broadcasts the tiny probe set — the bucketed
    // vector side joins with no exchange of its own
    import spark.implicits._
    val probeDf = probeLists.map(c => (c, 0L)).toDF("list_id", "q_id")
    val joined = spark.table("embeddings_b").join(broadcast(probeDf), Seq("list_id"))
    joined.queryExecution.toRdd.count()
    val jplan = joined.queryExecution.executedPlan.toString
    assert(jplan.contains("BroadcastHashJoin") &&
      !jplan.contains("Exchange hashpartitioning(list_id"),
      s"probe join re-shuffled the vector side:\n$jplan")
  }

  test("AQE splits the skewed partition of a skewed join (skew=true)") {
    // 95% of the left rows share key 0 → one reducer would take ~all of
    // the join. With skew-join thresholds scaled to the test's data
    // volume, AQE must split that partition at runtime.
    val confs = Map(
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "65536",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "65536")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      val left = spark.range(0, 300000)
        .select(when(col("id") % 20 =!= 0, lit(0L)).otherwise(col("id")).as("k"),
          col("id").as("v"))
      val right = spark.range(0, 2000).select(col("id").as("k"), (col("id") * 2).as("w"))
      val joined = left.join(right, "k")
      joined.queryExecution.toRdd.count() // AQE re-plans during execution
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not mark the skewed join (no skew=true):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }
  }

  test("perturbed corpus plans ONE scan (explode, not a self-union of two scans)") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.operators.TextOps.normalized(docs)
      .queryExecution.executedPlan.toString
    val scans = "Scan parquet".r.findAllIn(plan).length
    assert(scans === 1, s"expected a single documents scan, got $scans:\n$plan")
  }

  test("seqPacking: corpus window is block-partitioned; base is scanned once") {
    val docs = Tables.documents(spark, sf)
    val plan = Scope { s =>
      graft.operators.TextOps.seqPackingPlan(s, docs, 2048, 1000L)
        .queryExecution.executedPlan.toString
    }
    // the per-doc running sum must be partitioned (blk) — a global
    // Window over the corpus would serialize 100 TB through one task
    assert(plan.contains("windowspecdefinition(blk"),
      s"corpus window lost its blk partitioning:\n$plan")
    // both consumers (cumsum branch + block-totals branch) must read
    // the persisted 24-byte/doc base, not re-scan + re-tokenize the file
    val cacheReads = "InMemoryTableScan".r.findAllIn(plan).length
    assert(cacheReads >= 2, s"base not cached for both branches:\n$plan")
  }

  test("decontaminate broadcasts the benchmark n-gram set (never shuffles the training side by gram)") {
    val docs = Tables.documents(spark, sf)
    val plan = graft.operators.TextOps.decontaminate(docs)
      .queryExecution.executedPlan.toString
    assert(plan.contains("BroadcastHashJoin"),
      s"bench overlap join is not broadcast:\n$plan")
    // the TRAINING-side gram rows (streamed side, printed before the
    // BroadcastExchange subtree) must never be exchanged on the gram
    // hash; the bench side's distinct may shuffle its fixed-size set
    val broadcastAt = plan.indexOf("BroadcastExchange")
    val ghExchangeAt = plan.indexOf("Exchange hashpartitioning(gh#")
    assert(broadcastAt >= 0 &&
      (ghExchangeAt == -1 || ghExchangeAt > broadcastAt),
      s"training grams shuffled by hash:\n$plan")
  }

  test("format round-trips: csv, json, orc, partitioned parquet") {
    val dir = Files.createTempDirectory("graft-fmt").toString
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "event_type", "value")
    ev.write.mode("overwrite").option("header", "true").csv(s"$dir/csv")
    ev.write.mode("overwrite").json(s"$dir/json")
    ev.write.mode("overwrite").orc(s"$dir/orc")
    ev.write.mode("overwrite").partitionBy("event_type").parquet(s"$dir/pq")
    val n = ev.count()
    assert(spark.read.option("header", "true").schema(ev.schema).csv(s"$dir/csv").count() === n)
    assert(spark.read.schema(ev.schema).json(s"$dir/json").count() === n)
    assert(spark.read.orc(s"$dir/orc").count() === n)
    val pq = spark.read.parquet(s"$dir/pq")
    assert(pq.count() === n)
    // partition pruning reaches the file listing: only one dir scanned
    val pruned = pq.filter(col("event_type") === "purchase")
    val scan = pruned.queryExecution.executedPlan.toString
    assert(scan.contains("PartitionFilters: [isnotnull(event_type"), scan)
  }

  test("schema evolution: mergeSchema unions column sets, old rows null-fill") {
    // a 100 TB lake never rewrites history when a column lands: new
    // files carry the new column, readers merge footers and null-fill
    val dir = Files.createTempDirectory("graft-evolve").toString
    val ev = Tables.events(spark, sf)
    ev.select(col("event_id"), col("user_id"), col("value"))
      .write.parquet(s"$dir/batch=1")
    ev.select(col("event_id"), col("user_id"), col("value"),
        col("event_type").as("channel"))
      .write.parquet(s"$dir/batch=2")
    val merged = spark.read.option("mergeSchema", "true").parquet(dir)
    assert(merged.columns.toSet === Set("event_id", "user_id", "value", "channel", "batch"))
    val n = ev.count()
    assert(merged.count() === 2 * n)
    assert(merged.filter(col("batch") === 1 && col("channel").isNotNull).count() === 0)
    assert(merged.filter(col("batch") === 2 && col("channel").isNull).count() === 0)
    // column pruning still reaches the scan on the merged relation
    val rs = merged.select(col("event_id")).queryExecution.executedPlan.toString
    assert(rs.contains("ReadSchema: struct<event_id:bigint>"), rs)
  }

  /** Spark jobs `body` starts on this thread, counted by job group. */
  private def jobsIn(body: => Unit): Int = {
    val group = s"graft-jobs-${java.util.UUID.randomUUID}"
    val sc = spark.sparkContext
    val (_, rec) = Recorder(spark) {
      sc.setJobGroup(group, "counted")
      try body finally sc.clearJobGroup()
    }
    rec.jobs.count(_.group.contains(group))
  }

  test("Tables schema memo: a second read of the same file starts no Spark job") {
    val dir = Files.createTempDirectory("graft-memo").toString
    Files.copy(java.nio.file.Paths.get(s"$sf/events.parquet"),
      java.nio.file.Paths.get(s"$dir/events.parquet"))
    assert(jobsIn(Tables.events(spark, dir)) >= 1, "the first read infers the schema")
    assert(jobsIn(Tables.events(spark, dir)) === 0)
    assert(Tables.events(spark, dir).count() === Tables.events(spark, sf).count())
  }

  test("Tables schema memo: a file rewritten at the same path is inferred again") {
    val dir = Files.createTempDirectory("graft-memo").toString
    spark.range(3).toDF("a").write.parquet(s"$dir/t.parquet")
    assert(Tables.read(spark, dir, "t").columns.toSeq === Seq("a"))
    spark.range(3).select(col("id").as("b"), lit("x").as("c"))
      .write.mode("overwrite").parquet(s"$dir/t.parquet")
    val again = Tables.read(spark, dir, "t")
    assert(again.columns.toSeq === Seq("b", "c"))
    assert(again.collect().map(_.getString(1)).toSeq === Seq("x", "x", "x"))
  }

  test("Tables schema memo: both events ts encodings still normalize") {
    import org.apache.spark.sql.types.{LongType, TimestampType}
    // the corpus file carries TIMESTAMP; a copy whose ts is raw epoch
    // nanoseconds takes the LongType branch that TIMESTAMP(NANOS) takes
    // under nanosAsLong
    val dir = Files.createTempDirectory("graft-memo").toString
    val ev = Tables.events(spark, sf)
    ev.withColumn("ts", col("ts_ns")).drop("ts_ns", "ts_ms")
      .write.parquet(s"$dir/events.parquet")
    assert(Tables.schemaOf(spark, s"$dir/events.parquet")("ts").dataType === LongType)
    val key = Seq(col("event_id"), col("ts"), col("ts_ns"), col("ts_ms"))
    val want = ev.select(key: _*).collect().map(_.toString).sorted.toSeq
    for (d <- Seq(sf, dir); _ <- 1 to 2) { // inferred or memoized, then memoized
      val norm = Tables.events(spark, d)
      assert(norm.schema("ts").dataType === TimestampType, d)
      assert(norm.select(key: _*).collect().map(_.toString).sorted.toSeq === want, d)
    }
  }

  test("round-5 plan shapes: semantic pairing is an equi-join, zipf fit adds no third exchange") {
    // semanticDedup's within-cluster pairing must plan as an EQUI-join
    // on list_id (shuffle or broadcast), never a cartesian product —
    // the difference between Σ|cluster|²/2 and n²/2 at corpus scale
    val sdPlan = PlanCapture.lastCheckpoint(spark)(graft.operators.Similarity
      .semanticDedup(Tables.embeddings(spark, sf), 0.4))._2.executedPlan.toString
    assert(!sdPlan.contains("CartesianProduct"), s"pairing cross-joined:\n$sdPlan")
    // simDecontam's held-out→train probe must be an EQUI-join on
    // list_id (probe side broadcast), never a cartesian product — the
    // difference between NProbe·maxPerList work per held-out vector
    // and |held|·|train| at corpus scale
    val dcPlan = PlanCapture.lastCheckpoint(spark)(graft.operators.Similarity
      .simDecontam(Tables.embeddings(spark, sf)))._2.executedPlan
    assert(!dcPlan.toString.contains("CartesianProduct"), s"decontam cross-joined:\n$dcPlan")
    assert(planNodes(dcPlan).exists(_.getClass.getSimpleName == "BroadcastHashJoinExec"),
      s"decontam probe join is not a broadcast equi-join:\n$dcPlan")
    // zipfFit: term agg + lang rank window = two exchanges; the final
    // per-lang regression agg must REUSE the window's lang partitioning
    val zf = graft.operators.TextOps.zipfFit(Tables.documents(spark, sf))
    val zfPlan = zf.queryExecution.executedPlan.toString
    val nEx = "Exchange hashpartitioning".r.findAllIn(zfPlan).length
    assert(nEx <= 2, s"zipfFit plans $nEx hash exchanges (expected ≤ 2):\n$zfPlan")
  }

  test("session-batch plan shapes: no explode in vectorDq, one exchange for tokenBudget, equi-join runs") {
    // vectorDq: the per-vector work is a HOF fold inside the scan
    // projection — the plan must carry NO Generate (explode) and no join
    val dqPlan = graft.operators.Similarity.vectorDq(Tables.embeddings(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!dqPlan.contains("Generate"), s"vectorDq exploded:\n$dqPlan")
    assert(!dqPlan.contains("SortMergeJoin") && !dqPlan.contains("ShuffledHashJoin"),
      s"vectorDq planned a shuffle join:\n$dqPlan")
    // tokenBudget: one scan projection + the per-source window — exactly
    // one hash exchange
    val tbPlan = graft.operators.TextOps.tokenBudget(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(tbPlan).length === 1, tbPlan)
    // substringRuns: the shingle bucket join must be an equi-join on the
    // hash, never a nested loop (the Σ df² bound depends on it)
    val srPlan = PlanCapture.lastCheckpoint(spark)(graft.operators.Dedup
      .substringRuns(Tables.documents(spark, sf), 10L, 50L))._2.executedPlan.toString
    assert(srPlan.contains("SortMergeJoin") || srPlan.contains("ShuffledHashJoin") ||
      srPlan.contains("BroadcastHashJoin"), s"substringRuns must equi-join:\n$srPlan")
    assert(!srPlan.contains("NestedLoop") && !srPlan.contains("CartesianProduct"), srPlan)
    // langIdEval: the label rides the prediction projection — one scan,
    // NO join anywhere in the plan
    val lePlan = graft.operators.TextOps.langIdEval(Tables.documents(spark, sf))
      .queryExecution.executedPlan.toString
    assert(!lePlan.contains("Join"), s"langIdEval must not join:\n$lePlan")
    assert("Scan parquet".r.findAllIn(lePlan).length === 1, lePlan)
  }

  test("fuzzy/cohort plan shapes: blocked equi-join with one scan; broadcast sizes join") {
    // fuzzyEditPairs: the block self-join is an EQUI-join on blk —
    // never a cartesian (Σ|block|²/2 vs n²/2, the blocking guarantee) —
    // and BOTH sides read the persisted capped projection, so the
    // corpus parquet is scanned once however the join is planned
    val fzPlan = PlanCapture.lastCheckpoint(spark)(graft.operators.Dedup
      .fuzzyEditPairs(Tables.documents(spark, sf)))._2.executedPlan
    assert(!fzPlan.toString.contains("CartesianProduct"), s"blocked join degenerated:\n$fzPlan")
    assert(planNodes(fzPlan).count(_.isInstanceOf[InMemoryTableScanExec]) === 2,
      s"both join sides should read the cached projection:\n$fzPlan")
    // cohortRetention: (user, week) agg → user window → cells agg →
    // cohort-size window = four hash exchanges, each over a SMALLER
    // relation, in ONE linear plan — a sizes self-join branch would
    // recompute the event aggregation twice (and did, before this pin)
    val co = graft.operators.Monitoring.cohortRetention(Tables.events(spark, sf))
    val coPlan = co.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(coPlan).length <= 4,
      s"cohortRetention plans extra exchanges:\n$coPlan")
    assert("Scan parquet".r.findAllIn(coPlan).length === 1,
      s"cohortRetention should scan events once:\n$coPlan")
    // madOutliers: both percentile windows (median, then MAD of the
    // first's output) share the user_id partitioning — ONE exchange
    val mad = graft.operators.Monitoring.madOutliers(Tables.events(spark, sf))
    val madPlan = mad.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(madPlan).length === 1,
      s"madOutliers should shuffle once on user_id:\n$madPlan")
  }

  test("compact: many small files collapse to the target count, rows preserved") {
    val dir = Files.createTempDirectory("graft-cpt").toString
    val ev = Tables.events(spark, sf).select("event_id", "user_id", "value")
    // force a small-file mess: ≤500 records per file
    ev.repartition(4).write.mode("overwrite")
      .option("maxRecordsPerFile", 500L).parquet(s"$dir/in")
    val n = ev.count()
    val (before, after) = ScaleOps.compact(spark, s"$dir/in", s"$dir/out", targetRecords = 2000L)
    assert(before > after, s"no compaction: $before -> $after")
    assert(after === (n + 1999L) / 2000L)
    assert(spark.read.parquet(s"$dir/out").count() === n)
  }

  test("dynamic partition pruning: a selective dim filter prunes fact partitions at the scan") {
    // The 100 TB star-join posture: the fact table is WRITTEN partitioned
    // by the join/filter dimension key, and a filter that lives on the
    // dim side still prunes fact partitions — Catalyst injects a runtime
    // dynamicpruning subquery (fed by the dim's broadcast) into the fact
    // scan's PartitionFilters, so the scan never lists the other
    // partitions' files. Without DPP this query reads the whole fact.
    val dir = Files.createTempDirectory("graft-dpp").toString
    Tables.orders(spark, sf).write.mode("overwrite")
      .partitionBy("o_orderpriority").parquet(dir)
    val fact = spark.read.parquet(dir)
    import spark.implicits._
    // the dim must be a real datasource: a filter over a local Seq folds
    // into the LocalTableScan at plan time, and DPP only fires when a
    // SELECTIVE predicate survives on the dim side
    Seq(("1-URGENT", "hot"), ("2-HIGH", "warm"), ("3-MEDIUM", "mid"),
      ("4-NOT SPECIFIED", "cold"), ("5-LOW", "cold")).toDF("prio", "tier")
      .write.mode("overwrite").parquet(s"$dir-dim")
    val dim = spark.read.parquet(s"$dir-dim")
    val q = fact.join(dim.filter(col("tier") === "hot"), col("o_orderpriority") === col("prio"))
      .groupBy(col("prio")).agg(count(lit(1)).as("n"))
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), s"no dynamic pruning in:\n$plan")
    val expected = Tables.orders(spark, sf)
      .filter(col("o_orderpriority") === "1-URGENT").count()
    val got = q.collect()
    assert(got.length === 1 && got.head.getAs[Long]("n") === expected)
  }

  test("q_dpp_prune: the driver query's fact scan carries a runtime dynamicpruning partition filter") {
    val q = ScaleOps.dppRevenue(spark, sf)
    val plan = q.queryExecution.executedPlan.toString
    assert(plan.toLowerCase.contains("dynamicpruning"), s"no dynamic pruning in:\n$plan")
    // the pruned result equals the unpartitioned recompute of the
    // top-3-months join (count-desc, month tie-break)
    val monthly = Tables.orders(spark, sf)
      .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
    val top3 = monthly.groupBy(col("o_month")).agg(count(lit(1)).as("n"))
      .orderBy(col("n").desc, col("o_month")).limit(3)
      .collect().map(_.getString(0)).toSet
    val expected = monthly.filter(col("o_month").isin(top3.toSeq: _*))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val got = q.collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.size === 3)
  }

  test("q_bloom_prune: the fact side carries an injected might_contain below its exchange; pruning changes no row") {
    // Inside the conf window (dim unbroadcastable, fact always worth
    // reducing — the 100 TB posture withBloomConfs models), Catalyst's
    // InjectRuntimeFilter must put a Bloom probe on the FACT side of
    // the join: bloom_filter_agg over the filtered dim's keys feeding a
    // might_contain predicate under the lineitem exchange.
    graft.operators.ScaleOps.withBloomConfs(spark) {
      val lazyQ = graft.operators.ScaleOps.bloomJoinLazy(spark, sf)
      val plan = lazyQ.queryExecution.executedPlan.toString.toLowerCase
      assert(plan.contains("might_contain"), s"no injected bloom probe in:\n$plan")
      assert(plan.contains("bloom_filter_agg"), s"no bloom build side in:\n$plan")
      // the probe sits on the lineitem branch BEFORE its exchange: the
      // scan-side filter subtree mentioning might_contain must also
      // mention the fact's join key, not the dim's
      val probeLine = plan.linesIterator.find(_.contains("might_contain")).get
      assert(probeLine.contains("l_partkey"), s"bloom probe not on the fact side: $probeLine")
    }
    // correctness: the eagerly-executed driver query equals the plain
    // unpinned join — the Bloom filter is a pure shuffle-volume
    // reducer, never a row-dropper (false positives rejoin to nothing)
    val got = graft.operators.ScaleOps.bloomRevenue(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    val expected = graft.operators.ScaleOps.bloomJoinLazy(spark, sf)
      .collect().map(r => (r.getString(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === expected)
    assert(got.nonEmpty)
  }

  test("q_sim_topk_rpt: tree leaves are near-balanced (the bound IVF lists can't promise); probe plans no cartesian") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val n = emb.count()
    val leaves = Similarity.rpTreeLeaves(emb)
    // every vector lands in exactly one leaf per tree
    assert(leaves.count() === n * Similarity.RptTrees)
    val sizes = leaves.groupBy(col("tree"), col("leaf"))
      .agg(count(lit(1)).as("sz")).collect()
    val nLeaves = 1 << Similarity.RptDepth
    sizes.groupBy(_.getLong(0)).foreach { case (t, rows) =>
      assert(rows.length <= nLeaves, s"tree $t has ${rows.length} leaves")
      // sampled-median splits keep every leaf within a small factor of
      // the perfect n/2^depth — the balance guarantee that makes
      // candidate work ≤ trees · maxLeaf by construction
      val maxSz = rows.map(_.getLong(2)).max
      assert(maxSz <= math.max(4L, (3L * n) / nLeaves),
        s"tree $t max leaf $maxSz vs n=$n — splits not balancing")
    }
    val q = Similarity.rptTopK(emb, Similarity.DefaultQueryIds)
    assert(!q.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "RP-tree probe planned a cartesian")
    val r = q.collect()
    assert(r.nonEmpty)
    r.groupBy(_.getAs[Long]("q_id")).foreach { case (qid, rows) =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ===
        (1L to rows.length).toSeq, s"query $qid ranks not dense")
    }
  }

  test("q_knn_refine: NN-descent closure is degree-capped and can only improve each ranked list") {
    import graft.operators.Similarity
    val emb = Tables.embeddings(spark, sf)
    val k = 5
    val refined = Similarity.knnRefine(emb, k)
    assert(!refined.queryExecution.executedPlan.toString.contains("CartesianProduct"),
      "NN-descent closure planned a cartesian")
    val r = refined.collect()
    assert(r.nonEmpty)
    // ranks are dense 1..deg per source
    r.groupBy(_.getAs[Long]("src_id")).foreach { case (s0, rows) =>
      assert(rows.map(_.getAs[Long]("rnk")).sorted.toSeq ===
        (1L to rows.length).toSeq, s"src $s0 ranks not dense")
    }
    // the refinement can only IMPROVE: at every (src, rank) the refined
    // cosine ≥ the round-0 cosine (the candidate set is a superset)
    val base = Similarity.knnTopK(emb, k).collect()
      .map(x => (x.getAs[Long]("src_id"), x.getAs[Long]("rnk")) -> x.getAs[Double]("cos"))
      .toMap
    r.foreach { row =>
      val key = (row.getAs[Long]("src_id"), row.getAs[Long]("rnk"))
      base.get(key).foreach { c0 =>
        assert(row.getAs[Double]("cos") >= c0, s"rank regressed at $key")
      }
    }
    // added edges are exactly the (src, dst) pairs absent from round 0
    val basePairs = base.keySet.map(_._1) // src ids (for coverage) — pair check below
    val basePairSet = Similarity.knnTopK(emb, k).collect()
      .map(x => (x.getAs[Long]("src_id"), x.getAs[Long]("dst_id"))).toSet
    r.foreach { row =>
      val p = (row.getAs[Long]("src_id"), row.getAs[Long]("dst_id"))
      assert(row.getAs[Boolean]("added") === !basePairSet.contains(p), s"added flag wrong at $p")
    }
    assert(basePairs.nonEmpty)
    // the closure candidate relation is bounded by n·(2k)² by
    // construction — measure it rather than trust the comment
    val n = emb.count()
    val baseDf = Similarity.knnTopK(emb, k)
    val rev = baseDf.select(col("dst_id").as("u"), col("src_id").as("nb"), col("cos"))
    val wR = org.apache.spark.sql.expressions.Window
      .partitionBy(col("u")).orderBy(col("cos").desc, col("nb"))
    val und = baseDf.select(col("src_id").as("u"), col("dst_id").as("nb"), col("cos"))
      .unionAll(rev.withColumn("rr", row_number().over(wR)).filter(col("rr") <= k).drop("rr"))
      .dropDuplicates("u", "nb")
    val maxDeg = und.groupBy("u").count().agg(max("count")).collect().head.getLong(0)
    assert(maxDeg <= 2L * k, s"general-neighborhood degree $maxDeg exceeds 2k")
    val candCount = und.as("l").join(und.as("r"), col("l.nb") === col("r.u"))
      .filter(col("l.u") < col("r.nb"))
      .select(col("l.u"), col("r.nb")).distinct().count()
    assert(candCount <= n * (2L * k) * (2L * k), s"closure $candCount exceeds n·(2k)²")
  }

  test("decileStats: bin-collapse equals the NTILE window form; no global window touches the fact") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
    val (res, qe) = PlanCapture.lastCheckpoint(spark)(graft.operators.SqlCoverage.decileStats(ev))
    // plan: the only global window runs over the (cents, count) bin
    // aggregate — never the raw event relation
    assert(globalWindowOffenders(qe.executedPlan).isEmpty,
      globalWindowOffenders(qe.executedPlan).map(_.treeString).mkString("\n"))
    // values: bit-identical to the direct NTILE(10) formulation
    val cents = ev.select(col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    val tot = cents.agg(sum(col("cents")).as("total_cents"))
    val direct = cents.withColumn("decile",
        ntile(10).over(Window.orderBy(col("cents"), col("event_id"))).cast("long"))
      .groupBy(col("decile"))
      .agg(count(lit(1)).as("n"), min(col("cents")).as("min_cents"),
        max(col("cents")).as("max_cents"), sum(col("cents")).as("sum_cents"))
      .crossJoin(broadcast(tot))
      .select(col("decile"), col("n"), col("min_cents"), col("max_cents"),
        col("sum_cents"), graft.functions.Portable.trunc4(
          col("sum_cents").cast("double") / col("total_cents")).as("share"))
    assert(res.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(res).count() === 0)
  }

  test("rfm: two-phase quintiles equal the NTILE window form; no global window over the per-user relation") {
    import org.apache.spark.sql.expressions.Window
    val ev = Tables.events(spark, sf)
    val (res, qe) = PlanCapture.lastCheckpoint(spark)(graft.operators.Monitoring.rfm(ev))
    // plan: the only single-partition windows left are the ≤parts-row
    // partition-count offsets inside globalRank (aggregates below)
    assert(globalWindowOffenders(qe.executedPlan).isEmpty,
      globalWindowOffenders(qe.executedPlan).map(_.treeString).mkString("\n"))
    // values: bit-identical to the direct three-NTILE-window form
    val per = ev.groupBy(col("user_id")).agg(
      max(to_date(col("ts"))).as("last_day"),
      count(lit(1)).as("freq"),
      sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    val anchor = per.agg(max(col("last_day")).as("corpus_day"))
    val direct = per.crossJoin(broadcast(anchor))
      .withColumn("recency_days",
        datediff(col("corpus_day"), col("last_day")).cast("long"))
      .select(col("user_id"), col("recency_days"), col("freq"), col("cents"),
        ntile(5).over(Window.orderBy(col("recency_days"), col("user_id")))
          .cast("long").as("r"),
        ntile(5).over(Window.orderBy(col("freq").desc, col("user_id")))
          .cast("long").as("f"),
        ntile(5).over(Window.orderBy(col("cents").desc, col("user_id")))
          .cast("long").as("m"))
      .withColumn("segment", col("r") * 100L + col("f") * 10L + col("m"))
    assert(res.exceptAll(direct).count() === 0)
    assert(direct.exceptAll(res).count() === 0)
  }

  test("bm25TopK: query terms via TakeOrderedAndProject, global rank behind a window-group limit") {
    val exec = PlanCapture.lastCheckpoint(spark)(graft.operators.TextOps
      .bm25TopK(Tables.documents(spark, sf), 10, 5))._2.executedPlan
    val nodes = planNodes(exec)
    // BOTH global orderings ride TakeOrderedAndProject — the nq=5
    // query-term selection AND the final k=10 rank (Spark pushes the
    // rank limit below the window itself): never a global sort
    assert(nodes.count(_.isInstanceOf[TakeOrderedAndProjectExec]) >= 2,
      exec.treeString)
    // and the global window therefore sits on a collapsed subtree
    nodes.collect { case w: WindowExec if w.partitionSpec.isEmpty => w }
      .foreach(w => assert(collapsedBelow(w.child), w.treeString))
  }

  test("forgetAudit is one aggregate over one events scan; markov edges explode, never union") {
    import org.apache.spark.sql.catalyst.plans.logical.{Aggregate, Union}
    val ev = Tables.events(spark, sf)
    val fa = graft.operators.Monitoring.forgetAudit(ev).queryExecution
    val plan = fa.executedPlan.toString
    assert(!plan.contains("Join"), plan)
    assert("FileScan parquet".r.findAllIn(plan).length === 1, plan)
    assert(fa.optimizedPlan.collect { case a: Aggregate => a }.length === 1, fa.optimizedPlan)
    val edges = graft.operators.Monitoring.markovEdges(ev).queryExecution
    assert(edges.optimizedPlan.collect { case u: Union => u }.isEmpty, edges.optimizedPlan)
    assert("FileScan parquet".r.findAllIn(edges.executedPlan.toString).length === 1,
      edges.executedPlan)
  }

  test("userEntropy: ONE fact exchange — aggregation and windows all reuse the spread partitioning") {
    val df = graft.operators.Monitoring.userEntropy(Tables.events(spark, sf))
    val s = df.queryExecution.executedPlan.toString
    assert("Exchange hashpartitioning".r.findAllIn(s).length === 1, s)
  }

  test("skew guard: a hot user splits under AQE, salts across reducers, and never quadratics the pair join") {
    // The no-global-window sweep covers one-task sorts; a SKEWED
    // EXCHANGE is the remaining 100 TB failure class. Synthesize one
    // user holding ~10% of all events (sf0.01 → 1000 of 10000 rows) and
    // pin each shipped mitigation by name:
    //  (a) AQE skew-join split activates on a plain user-keyed shuffle
    //      join against that distribution (skew=true in the final plan)
    //  (b) saltedUserStats really spreads the hot user across multiple
    //      salt cells before the per-user rollup — reducer input is
    //      bounded by |users|·salts, not the hot key's row count — and
    //      stays correct under the skew
    //  (c) offsettingPairs keys on (user, cents, bucket), so the hot
    //      user's candidate pairs stay bounded by per-cell sizes, far
    //      below the hotN² a user-only pair join would materialize.
    val hot = 424242L
    val ev = Tables.events(spark, "/root/testdata/sf0.01")
      .withColumn("user_id",
        when(pmod(col("event_id"), lit(10)) === 0, lit(hot))
          .otherwise(col("user_id")))
    val hotN = ev.filter(col("user_id") === hot).count()
    assert(hotN >= 900, s"hot-user synthesis broke: $hotN rows")

    // (a) AQE skew split, thresholds scaled to the test volume. Two
    // conditions discovered the hard way and worth recording: the
    // split unit is the MAPPER BLOCK (a single-mapper shuffle is
    // structurally unsplittable — hence the repartition(8) below), and
    // the skewed partition must exceed ~2x the non-skew median so the
    // splitter can form at least two target-sized chunks — with only 4
    // reducers a 10% key rides a partition only ~1.4x the median, so
    // the exchange runs at 16 partitions, where the hot reducer is
    // ~2.8x the median (exactly the production posture: thousands of
    // reducers make any hot key's partition >> median).
    val confs = Map(
      "spark.sql.shuffle.partitions" -> "16",
      "spark.sql.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.autoBroadcastJoinThreshold" -> "-1",
      "spark.sql.adaptive.skewJoin.enabled" -> "true",
      "spark.sql.adaptive.coalescePartitions.enabled" -> "false",
      "spark.sql.adaptive.skewJoin.skewedPartitionFactor" -> "1.2",
      "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes" -> "8192",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes" -> "4096")
    val saved = confs.keys.map(k => k -> spark.conf.getOption(k)).toMap
    confs.foreach { case (k, v) => spark.conf.set(k, v) }
    try {
      // dim side must be a PLAIN shuffled relation: OptimizeSkewedJoin
      // only matches sort+shuffle-stage children, so an aggregate on
      // the join key (whose exchange the agg consumes) would block the
      // split regardless of how skewed the fact side is
      val userIds = ev.select(col("user_id")).distinct()
        .collect().map(_.getLong(0))
      val dim = spark.createDataFrame(
        userIds.toSeq.map(u => (u, s"seg-${u % 4}"))).toDF("user_id", "segment")
      // carry the props payload so shuffle partitions are KB-scale even
      // compressed (a 2-long projection compresses below the advisory
      // size and AQE coalesces instead), and spread the scan over
      // several map tasks: AQE splits a skewed reduce partition at
      // MAPPER-BLOCK granularity, so a single-mapper shuffle (one small
      // parquet file = one input task) is structurally unsplittable —
      // at 100 TB the fact always has thousands of mappers
      val joined = ev.select(col("user_id"), col("event_id"), col("props"))
        .repartition(8)
        .join(dim, "user_id")
      joined.queryExecution.toRdd.count()
      val plan = joined.queryExecution.executedPlan.toString
      assert(plan.contains("skew=true"),
        s"AQE did not split the hot user's partition (no skew=true):\n$plan")
    } finally saved.foreach {
      case (k, Some(v)) => spark.conf.set(k, v)
      case (k, None) => spark.conf.unset(k)
    }

    // (b) salted pre-aggregation spreads the hot key and stays correct
    val saltCells = ev.filter(col("user_id") === hot)
      .select(pmod(col("event_id"), lit(16)).as("salt")).distinct().count()
    assert(saltCells >= 4,
      s"hot user concentrated in $saltCells salt cell(s) — salting ineffective")
    val saltedHot = ScaleOps.saltedUserStats(ev).filter(col("user_id") === hot).head()
    assert(saltedHot.getAs[Long]("n") === hotN)

    // (c) composite-key pair join stays far below quadratic on the hot key
    val hotPairs = graft.operators.Monitoring.offsettingPairs(ev)
      .filter(col("user_id") === hot).count()
    assert(hotPairs < hotN * hotN / 50,
      s"hot user produced $hotPairs pairs from $hotN events — quadratic blow-up")
  }

  test("iterative ops: round structure is scale-stable (job counts ~flat from sf0.001 to sf0.01)") {
    // The iterative operators (label propagation, pointer-jumping
    // components, Markov power iteration, MMR's greedy loop) run their
    // loops at OPERATOR-CONSTRUCTION time with per-round checkpoints,
    // so every round shows up as Spark jobs. If a loop's trip count
    // scaled with DATA SIZE (rows) instead of being a constant or a
    // log-diameter bound, 10x data would mean ~10x the jobs — the
    // pattern that never converges at 100 TB. Pin: job count at sf0.01
    // stays under 2x-plus-slack of sf0.001 — a rows-proportional loop
    // (10x) fails loudly, while the legitimate log(diameter) growth of
    // pointer jumping (measured: q_fraud_rings 20 -> 36 jobs as the
    // collusion rings get deeper) passes.
    val iterative = Seq("q_markov_attrib", "q_dedup_clusters",
      "q_graph_modularity", "q_fraud_rings", "q_sim_mmr")
    def jobsFor(name: String, dir: String): Int =
      try Recorder(spark)(SparkEntry.queries(name)(spark, dir).queryExecution.toRdd.count())
        ._2.jobs.size
      finally spark.sharedState.cacheManager.clearCache()
    for (name <- iterative) {
      val j001 = jobsFor(name, "/root/testdata/sf0.001")
      val j01 = jobsFor(name, "/root/testdata/sf0.01")
      assert(j01 <= 2 * j001 + 5,
        s"$name: $j001 jobs at sf0.001 but $j01 at sf0.01 — round count grows with data size")
    }
  }

  test("banded generators: exchange count is scale-invariant; candidate counters cover the operator output") {
    // VERDICT r10 directive 2: the decade probe read q_knn_graph at
    // 12.0x and q_dedup_minhash_lsh at 11.1x shuffle for 10x data,
    // attributed to candidate-pair growth on the clone generator — not
    // a plan-shape change. Two pins turn that attribution into CI:
    // (a) the executed plan's shuffle-exchange count is IDENTICAL at
    //     sf0.001 and sf0.01 — a join that switches strategy or grows
    //     extra exchanges with scale fails loudly;
    // (b) the counting helpers the probes use (knnCandidatePairs /
    //     lshCandidatePairs) are the operators' OWN candidate sets:
    //     every verified output pair appears among the counted
    //     candidates, so cand_pairs is an upper-bound instrument for
    //     the operator's pair volume, not a lookalike relation.
    import graft.operators.{Dedup, Similarity}
    def exchanges(name: String, dir: String): Int = {
      val q = SparkEntry.queries(name)(spark, dir).queryExecution
      q.toRdd.count()
      val n = planNodes(q.executedPlan).distinct
        .count(_.getClass.getSimpleName.contains("ShuffleExchange"))
      spark.sharedState.cacheManager.clearCache()
      n
    }
    for (name <- Seq("q_knn_graph", "q_dedup_minhash_lsh")) {
      val e001 = exchanges(name, "/root/testdata/sf0.001")
      val e01 = exchanges(name, "/root/testdata/sf0.01")
      assert(e001 === e01,
        s"$name: $e001 exchanges at sf0.001 but $e01 at sf0.01 — plan shape changed with scale")
    }
    // (b) output ⊆ candidates, both families, at sf0.001
    val dir = "/root/testdata/sf0.001"
    val emb = Tables.embeddings(spark, dir)
    val knnCand = Similarity.knnCandidatePairs(emb)
      .select(col("a_id"), col("b_id"))
    val knnOut = Similarity.knnGraph(emb)
      .select(least(col("src_id"), col("dst_id")).as("a_id"),
        greatest(col("src_id"), col("dst_id")).as("b_id")).distinct()
    assert(knnOut.join(knnCand, Seq("a_id", "b_id"), "left_anti").count() === 0,
      "knnGraph emitted an edge outside its counted candidate set")
    val docs = Tables.documents(spark, dir)
    val lshCand = Dedup.lshCandidatePairs(docs)
    val lshOut = Dedup.minhashLsh(docs).select(col("a_id"), col("b_id"))
    assert(lshOut.join(lshCand, Seq("a_id", "b_id"), "left_anti").count() === 0,
      "minhashLsh emitted a pair outside its counted candidate set")
    spark.sharedState.cacheManager.clearCache()
  }

  test("round-7 scale pins: skyline never self-joins, negatives stay O(n·k), keyphrases/hybrid keep k per key") {
    // q_skyline: the sort-based filter replaces the Θ(m²) dominance
    // self-join — the plan must contain NO join at all
    val sky = SparkEntry.queries("q_skyline")(spark, sf)
      .queryExecution.executedPlan.toString
    assert(!sky.contains("Join"), s"skyline plans a join:\n$sky")
    // q_graph_negative_edges: candidates are node-list picks, never
    // the n² non-edge space — output bounded by |nodes|·k
    val (negDf, neg) = PlanCapture.lastCheckpoint(spark)(
      graft.operators.Graph.negativeEdges(Tables.events(spark, sf)))
    val nNodes = Tables.events(spark, sf)
      .selectExpr("cast(get_json_object(props, '$.k') as long) m")
      .filter(col("m").isNotNull).select(col("m")).distinct().count()
    assert(negDf.count() <= nNodes * 5)
    // ... and the checkpointed pipeline forces NO broadcast of the
    // data-dependent node list (every ResolvedHint subtree is a
    // grouping-free scalar aggregate — the 1-row count; the planner/AQE
    // stays free to pick the join strategy by actual size) and plans no
    // one-task global window over an uncollapsed relation (the node
    // rank goes through the two-phase globalRank)
    val hints = neg.optimizedPlan.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    // optimizer may fold the hint into the join; check the ANALYZED
    // plan where every user-forced broadcast() is still visible
    val analyzedHints = neg.analyzed.collect {
      case h: org.apache.spark.sql.catalyst.plans.logical.ResolvedHint => h
    }
    (hints ++ analyzedHints).foreach { h =>
      val scalarAgg = h.child.collect {
        case a: org.apache.spark.sql.catalyst.plans.logical.Aggregate
          if a.groupingExpressions.isEmpty => a
      }
      assert(scalarAgg.nonEmpty,
        s"forced broadcast over a non-scalar (data-dependent) relation:\n${h.treeString}")
    }
    assert(globalWindowOffenders(neg.executedPlan).isEmpty,
      "negativeEdges plans a global window over an uncollapsed relation")
    // the k-per-key guards that keep downstream joins candidate-sized
    val kp = graft.operators.TextOps.keyphrases(Tables.documents(spark, sf))
      .groupBy(col("doc_id")).count().agg(max(col("count"))).head.getLong(0)
    assert(kp <= 3)
    val hy = SparkEntry.queries("q_hybrid_search")(spark, sf)
      .groupBy(col("q_id")).count().agg(max(col("count"))).head.getLong(0)
    assert(hy <= 10)
  }

  test("ScaleUp events: clones offset merchants and occupy disjoint months (no densification)") {
    val out = Files.createTempDirectory("graft-scaleup").toString
    ScaleUp.scaleAll(spark, sf, out, factor = 3)
    val ev = Tables.events(spark, out)
      .select(col("ts_ms"), col("user_id"),
        expr("cast(get_json_object(props, '$.k') as long)").as("m"))
    val src = Tables.events(spark, sf)
    // 3× rows, 3× distinct merchants (the key-offset rule now includes
    // the props merchant key)
    assert(ev.count() === 3 * src.count())
    val srcM = src.selectExpr("count(distinct get_json_object(props, '$.k'))").head.getLong(0)
    assert(ev.select(countDistinct(col("m"))).head.getLong(0) === 3 * srcM)
    // clone time ranges are pairwise disjoint — per-day/hour cell
    // density stays ORIGINAL (the q_graph_triangles 102× lesson)
    val ranges = ev.withColumn("clone", expr("user_id div 10000000"))
      .groupBy(col("clone")).agg(min(col("ts_ms")).as("lo"), max(col("ts_ms")).as("hi"))
      .collect().map(r => (r.getAs[Long]("clone"), r.getAs[Long]("lo"), r.getAs[Long]("hi")))
      .sortBy(_._1)
    assert(ranges.length === 3)
    ranges.zip(ranges.drop(1)).foreach { case ((_, _, hi1), (_, lo2, _)) =>
      assert(hi1 < lo2, "clone time ranges overlap — densification is back")
    }
    // intra-clone structure is byte-exact: clone 1's (user, merchant,
    // ts) triples are clone 0's shifted by the documented constants
    val c0 = ev.filter(col("user_id") < 10000000L)
      .select(col("user_id"), col("m"), col("ts_ms")).collect()
      .map(r => (r.getLong(0) + 10000000L, r.getLong(1) + 10000000L,
        r.getLong(2) + 35L * 86400000L)).toSet
    val c1 = ev.filter(col("user_id") >= 10000000L && col("user_id") < 20000000L)
      .select(col("user_id"), col("m"), col("ts_ms")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(c1 === c0)
  }

  test("ScaleUp --skew refuses factor >= 10 (HotKey would alias clone-offset keys)") {
    val e = intercept[IllegalArgumentException] {
      ScaleUp.scaleAll(spark, sf, "/tmp/never-written", factor = 10, skew = true)
    }
    assert(e.getMessage.contains("HotKey"))
  }

  test("ScaleUp --skew: hot keys at ~100x density; hub caps bound pair work and capAudit reports the truncation") {
    // sf0.01, not the suite's sf0.001: the skew contrast needs enough
    // users (150 vs 15) for "¼ of traffic on one user" to read as
    // ~100x average, and enough hot-merchant volume for the flash-sale
    // day to push (merchant, hour) cells past the default 64 cap
    val sfSkew = "/root/testdata/sf0.01"
    val clean = Files.createTempDirectory("graft-skew-clean").toString
    val skewed = Files.createTempDirectory("graft-skew-hot").toString
    ScaleUp.scaleAll(spark, sfSkew, clean, factor = 3)
    ScaleUp.scaleAll(spark, sfSkew, skewed, factor = 3, skew = true)
    val ev = Tables.events(spark, skewed).persist()
    try {
      // (1) the planted skew is real: hot merchant ≥ 50x an average
      // merchant (¼ share over ~300 merchants ≈ 100x; assert half that
      // so corpus drift can't flake the pin), hot user likewise
      val byM = ev.select(expr("cast(get_json_object(props, '$.k') as long)").as("m"))
        .groupBy(col("m")).count().persist()
      val hotM = byM.filter(col("m") === ScaleUp.HotKey).head.getLong(1)
      val avgM = byM.filter(col("m") =!= ScaleUp.HotKey)
        .agg(avg(col("count"))).head.getDouble(0)
      assert(hotM >= 50 * avgM, s"hot merchant $hotM vs avg $avgM")
      byM.unpersist()
      val byU = ev.groupBy(col("user_id")).count().persist()
      val hotU = byU.filter(col("user_id") === ScaleUp.HotKey).head.getLong(1)
      val avgU = byU.filter(col("user_id") =!= ScaleUp.HotKey)
        .agg(avg(col("count"))).head.getDouble(0)
      assert(hotU >= 50 * avgU, s"hot user $hotU vs avg $avgU")
      byU.unpersist()
      // (2) the flash-sale fold created genuinely hot (merchant, hour)
      // cells — above the default maxCell, where the clean corpus
      // peaks at ~9 distinct users — so the cap BINDS on this corpus
      val cells = ev.select(expr("get_json_object(props, '$.k')").as("m"),
          expr("date_trunc('hour', ts)").as("h"), col("user_id")).distinct()
        .groupBy(col("m"), col("h")).count()
      assert(cells.agg(max(col("count"))).head.getLong(0) > 64L,
        "skew corpus has no cell above the default cap — the pin tests nothing")
      // (3) work bound: the CAPPED pair generator's candidate volume on
      // the skewed corpus stays within 2x of the clean corpus (the hot
      // cells are dropped whole); UNCAPPED, the same generator explodes
      // — the cap is load-bearing, not decorative
      val cleanEv = Tables.events(spark, clean)
      val cleanEdges = graft.operators.Graph.coEdges(cleanEv, 64L).count()
      val skewEdges = graft.operators.Graph.coEdges(ev, 64L).count()
      assert(skewEdges <= 2 * cleanEdges,
        s"capped coEdges grew ${skewEdges.toDouble / cleanEdges}x under skew")
      val uncapped = graft.operators.Graph.coEdges(ev, Long.MaxValue).count()
      assert(uncapped > 5 * skewEdges,
        s"uncapped $uncapped vs capped $skewEdges — skew too weak to matter")
      // (4) wall bound: the capped operator end-to-end (triangles) on
      // the skewed corpus within 2x of the clean corpus — measured
      // back-to-back so host steal inflates both sides alike; one
      // retry absorbs a single steal spike
      def wall(dir: String): Double = {
        val t0 = System.nanoTime()
        graft.operators.Graph.triangles(Tables.events(spark, dir)).count()
        (System.nanoTime() - t0) / 1e9
      }
      wall(clean) // JIT/plan warmup
      val ok = (1 to 2).exists { _ => wall(skewed) <= 2.0 * wall(clean) }
      assert(ok, "triangles on the skewed corpus exceeded 2x clean wall twice")
      // (5) the truncation is REPORTED, not silent: capAudit's co_cells
      // guard row carries the dropped-cell and dropped-row counts
      val audit = graft.operators.ScaleOps
        .capAudit(ev, Tables.documents(spark, sfSkew)).collect()
        .map(r => r.getAs[String]("guard") -> r).toMap
      val cc = audit("co_cells")
      assert(cc.getAs[Long]("n_dropped_groups") > 0L, "hot cells not reported")
      assert(cc.getAs[Long]("n_dropped_rows") > 64L *
        cc.getAs[Long]("n_dropped_groups") / 2, "dropped-row accounting implausible")
      assert(cc.getAs[Long]("max_group") > 64L)
      // clean corpus: same audit reports ZERO drops (caps don't bind)
      val cleanAudit = graft.operators.ScaleOps
        .capAudit(cleanEv, Tables.documents(spark, sfSkew)).collect()
        .map(r => r.getAs[String]("guard") -> r.getAs[Long]("n_dropped_groups")).toMap
      assert(cleanAudit("co_cells") === 0L)
    } finally ev.unpersist()
  }

  test("charEntropy is a single-pass map-only plan: no shuffle, no per-character explode") {
    // the round-7 finding: the composed transform+explode form paid
    // O(L²) substring seeks AND shuffled one row per character; the
    // CharHist rewrite must keep the whole computation in the scan
    // projection (one repartition from Portable.spread is the only
    // exchange allowed — it moves doc rows, not characters)
    val plan = SparkEntry.queries("q_char_entropy")(spark, sf)
      .queryExecution.executedPlan
    val nodes = planNodes(plan).map(_.getClass.getSimpleName)
    assert(!nodes.exists(_.contains("Generate")),
      s"per-character explode is back:\n${plan.treeString}")
    assert(!nodes.exists(_.contains("HashAggregate")),
      s"histogram re-aggregation is back (CharHist already returns it):\n${plan.treeString}")
    val exchanges = nodes.count(_.contains("ShuffleExchange"))
    assert(exchanges <= 1, // the spread repartition only
      s"$exchanges shuffles in a map-only kernel:\n${plan.treeString}")
  }

  // ---- board-wide plan laws. Each law reads every plan a query runs:
  // its final plan AND every plan its construction executed (persist
  // counts, collects, replays, and above all the closing
  // `localCheckpoint`, whose pipeline the final plan shows only as a
  // bare LogicalRDD). Construction runs every operator's eager work,
  // ~250 s per pass at sf0.001 while the law checks are milliseconds,
  // so ONE captured pass over the board feeds all three law tests. ----

  import org.apache.spark.sql.catalyst.plans.logical.{LogicalPlan, ResolvedHint}

  /** One plan-law violation: the law, the query, and the offending node
    * rendered without expression ids (stable across runs), plus its
    * tree for the failure report. */
  private case class Offender(law: String, query: String, node: String, tree: String) {
    def key: (String, String, String) = (law, query, node)
  }
  private val Overflow = "overflow"
  private val Broadcast = "broadcast"
  private val GlobalWindow = "global-window"

  /** The overflow law: every LongType Multiply whose BOTH operands are
    * aggregate-scale. Rounds 8-9 fixed four BIGINT cross-product
    * overflows one at a time (abCuped, simpsonAudit, mannWhitney, the
    * cross-products commit): each was sum(x)*sum(y) or count*sum
    * evaluated in LongType, exact at sf0.1 and silently wrong at
    * 1e9-row sums (sum of cents ~1e16; the product ~1e32 >> 2^63) —
    * widen to decimal(38,0) like simpsonAudit.crossSign, or cast to
    * double when the downstream math is a ratio anyway. */
  private def unwidenedProducts(root: LogicalPlan): Seq[String] = {
    import org.apache.spark.sql.catalyst.expressions._
    import org.apache.spark.sql.catalyst.expressions.aggregate.{AggregateExpression, Sum, Count}
    import org.apache.spark.sql.types.LongType
    val offenders = scala.collection.mutable.ArrayBuffer.empty[String]
    def sweep(root: LogicalPlan): Unit = {
      val tainted = scala.collection.mutable.Set.empty[ExprId]
      // aggregate-scale = grows without bound as the corpus grows:
      //  - a long sum/count (plain or windowed);
      //  - a rank (row_number over a corpus-sized partition is just as
      //    unbounded as count, though it is not an AggregateExpression);
      //  - anything referencing one through alias chains.
      // Magnitude SANITIZERS break the taint: signum (±1), the log
      // family (log of anything < 2^63 is < 44) and a remainder by a
      // literal (|x % c| < |c|) bound their result regardless of input
      // scale, so products of their outputs are safe however large the
      // operand relation gets.
      def aggScale(e: Expression): Boolean = e match {
        case _: Signum | _: Log | _: Log10 | _: Log2 | _: Log1p => false
        case r: Remainder if r.right.foldable => false
        case p: Pmod if p.right.foldable => false
        case _: RowNumber | _: Rank | _: DenseRank => true
        case ae: AggregateExpression if ae.dataType == LongType &&
          (ae.aggregateFunction.isInstanceOf[Sum] ||
            ae.aggregateFunction.isInstanceOf[Count]) => true
        case a: AttributeReference => tainted(a.exprId)
        case other => other.children.exists(aggScale)
      }
      root.foreachUp { node =>
        // subquery plans (scalar subqueries inside expr strings) are
        // separate trees — sweep them with their own taint scope
        node.expressions.foreach(_.foreach {
          case sq: SubqueryExpression => sweep(sq.plan)
          case _ => ()
        })
        node.expressions.foreach(_.foreach {
          case m: Multiply if m.dataType == LongType &&
              aggScale(m.left) && aggScale(m.right) =>
            offenders += m.sql
          case _ => ()
        })
        node.expressions.foreach(_.foreach {
          case al: Alias if aggScale(al.child) => tainted += al.exprId
          case _ => ()
        })
      }
    }
    sweep(root)
    offenders.toSeq
  }

  /** The broadcast law: every user-forced broadcast over a relation not
    * provably bounded. Legitimate claims are (a) a collapsed relation —
    * aggregate / limit / window-group limit, (b) a literal inline
    * relation (LUTs), (c) a k-per-key or id-filtered slice (bounded by
    * literals), or (d) a scan of the bounded dimension tables. */
  private def unboundedBroadcasts(analyzed: LogicalPlan): Seq[ResolvedHint] = {
    import org.apache.spark.sql.catalyst.plans.logical._
    def bounded(p: LogicalPlan): Boolean = {
      val nodes = p.collect { case n => n }
      nodes.exists {
        case _: Aggregate | _: GlobalLimit | _: LocalLimit | _: WindowGroupLimit => true
        // literal LUT shapes: inline relations, ranges, driver-built
        // k-row frames (nDCG's weight LUT and friends)
        case _: LocalRelation | _: OneRowRelation | _: Range => true
        case r: LeafNode if r.getClass.getSimpleName == "LogicalRDD" => true
        case f: Filter =>
          // literal id-membership or equality slice (query vectors,
          // point lookups) — cardinality bound by the literal list
          val s = f.condition.sql.toLowerCase
          s.contains(" in (") || s.contains(" = ")
        case r: LeafNode
          // the bounded dimension tables (region/nation are the only
          // relations whose cardinality does not grow with the corpus;
          // recognized by their column namespace)
          if r.output.nonEmpty &&
            (r.output.forall(_.name.startsWith("n_")) ||
              r.output.forall(_.name.startsWith("r_"))) => true
        case _ => false
      }
    }
    analyzed.collect {
      // only broadcast-strategy hints force a size claim; merge/shuffle
      // hints (bucketed joins) are scale-safe by construction
      case h: ResolvedHint if h.hints.strategy.exists(
        _.toString.toUpperCase.contains("BROADCAST")) => h
    }.filterNot(h => bounded(h.child))
  }

  /** All three laws over the given plans of one query. */
  private def lawOffenders(query: String, plans: Seq[QueryExecution]): Seq[Offender] =
    plans.flatMap { qe =>
      unwidenedProducts(qe.analyzed).map(m => Offender(Overflow, query, m, m)) ++
        unboundedBroadcasts(qe.analyzed).map(h => Offender(Broadcast, query,
          h.child.output.map(_.name).mkString("broadcast(", ", ", ")"),
          h.child.treeString.take(800))) ++
        globalWindowOffenders(qe.executedPlan).map(w => Offender(GlobalWindow, query,
          w.windowExpression.map(_.sql).mkString(", "), w.treeString))
    }.distinctBy(_.key)

  /** Builds one query and sweeps its final plan plus every plan its
    * construction executed. */
  private def sweepQuery(query: String)(build: => org.apache.spark.sql.DataFrame): Seq[Offender] = {
    val (df, rec) = Recorder(spark)(build)
    lawOffenders(query, rec.actions.map(_.qe) :+ df.queryExecution)
  }

  private lazy val boardOffenders: Seq[Offender] =
    SparkEntry.queries.toSeq.sortBy(_._1).flatMap { case (name, mk) =>
      sweepQuery(name)(mk(spark, sf))
    }

  /** Offenders left standing because their only fix would change the
    * operator's output, each (law, query, node). A law test fails on an
    * offender outside this set AND on an entry here that no longer
    * offends, so the set always names exactly what is excepted.
    *
    * The RP-tree level-0 median (`Similarity.rpTreeLeavesOn`): the
    * first split's threshold is the median projection of the
    * 1-in-`RptSampleMod` sample, ranked by windows partitioned by the
    * leaf prefix, which is the constant 0 at level 0 — one partition
    * whose size grows with the corpus. */
  private val acceptedOffenders: Set[(String, String, String)] = (for {
    q <- Seq("q_sim_recall", "q_sim_topk_rpt")
    w <- Seq("row_number() OVER (ORDER BY proj ASC NULLS FIRST, vec_id ASC NULLS FIRST " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS rn",
      "count(1) OVER (ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS ns")
  } yield (GlobalWindow, q, w)).toSet

  private def checkLaw(law: String, what: String): Unit = {
    val (accepted, offenders) = boardOffenders.filter(_.law == law)
      .partition(o => acceptedOffenders(o.key))
    if (offenders.nonEmpty) fail(s"${offenders.length} $what:\n" +
      offenders.map(o => s"${o.query}: ${o.node}\n${o.tree}").mkString("\n\n"))
    assert(accepted.map(_.key).toSet === acceptedOffenders.filter(_._1 == law),
      "an accepted offender no longer offends; drop it from the exception set")
  }

  test("overflow law: no driver query multiplies two aggregate-scale BIGINTs without DECIMAL widening") {
    checkLaw(Overflow, "unwidened aggregate-scale BIGINT product(s)")
  }

  test("broadcast-hint sweep: every forced broadcast in every driver query is bounded") {
    // the negativeEdges lesson, board-wide: a user-forced broadcast()
    // is a claim that the relation is SMALL AT ANY SCALE (the region/
    // nation scans of (d) are the only tables whose cardinality does
    // not grow with the corpus). A forced broadcast of an unbounded
    // data-dependent relation is the 10⁹-row OOM the planner would
    // have avoided on its own.
    checkLaw(Broadcast, "unbounded forced broadcast(s)")
  }

  test("global-window sweep: no driver query plans a global window over an uncollapsed relation") {
    // the regression gate behind the decileStats/rfm rewrites: walk
    // every plan of every SparkEntry query (descending into AQE stages,
    // cached relations and reused exchanges) and require each
    // empty-partition-spec WindowExec to sit on a collapsed relation —
    // an aggregate (bins / groups / per-key rollup), a window-group
    // limit, a limit, or a literal-bounded leaf. A global window
    // directly over a fact-derived relation is the one-task sort that
    // never finishes at 100 TB.
    checkLaw(GlobalWindow, "global-window offender(s)")
  }

  test("plan laws see the pipeline behind an operator's closing localCheckpoint") {
    // a synthetic operator in the board's idiom: an unwidened count ×
    // sum product, pinned by an eager checkpoint — its final plan is a
    // bare LogicalRDD, so a final-plan sweep passes it
    import spark.implicits._
    def op() = Scope { s =>
      val base = s.persist(Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "v"))
      base.groupBy(col("k")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
        .select(col("k"), (col("sv") * col("n")).as("p"))
        .localCheckpoint(true)
    }
    assert(lawOffenders("synthetic", Seq(op().queryExecution)).isEmpty)
    assert(sweepQuery("synthetic")(op()).map(o => (o.law, o.node)) ===
      Seq(Overflow -> "(sv * n)"))
  }

  test("plan-law precision: a remainder by a literal bounds a product; a literal leaf is collapsed") {
    import spark.implicits._
    import org.apache.spark.sql.expressions.Window
    val agg = Seq((1L, 10L), (1L, 20L), (2L, 5L)).toDF("k", "v")
      .groupBy(col("k")).agg(sum(col("v")).as("sv"), count(lit(1)).as("n"))
    def products(c: org.apache.spark.sql.Column) =
      unwidenedProducts(agg.select(c.as("p")).queryExecution.analyzed)
    assert(products(col("sv") * col("n")).nonEmpty)
    assert(products(col("n") % 5 * col("sv")).isEmpty)
    assert(products(pmod(col("n"), lit(5L)) * col("sv")).isEmpty)
    assert(products(col("n") % col("k") * col("sv")).nonEmpty, "a data-dependent modulus is unbounded")
    val rank = row_number().over(Window.orderBy(col("id")))
    def windows(df: org.apache.spark.sql.DataFrame) =
      globalWindowOffenders(df.withColumn("rn", rank).queryExecution.executedPlan)
    assert(windows(spark.range(10).toDF()).isEmpty)
    assert(windows(Seq(3L, 1L, 2L).toDF("id")).isEmpty)
    assert(windows(Tables.events(spark, sf).select(col("event_id").as("id"))).nonEmpty)
  }

  test("IVF probe joins build on the capped INDEX side, never the query slice") {
    // the round-9 verdict finding: knnLabelEval/simDecontam plans hinted
    // broadcast(probes) — the held-out corpus slice × NProbe, which is
    // CORPUS-PROPORTIONAL — while the ≤ NList·maxPerList capped index
    // went unhinted. The broadcast law cannot catch this class (both
    // sides carry a WindowGroupLimit; k-per-key is bounded only when
    // the KEY set is — NList for the index, corpus-sized q_ids for the
    // probes), so this pin checks orientation directly on each
    // operator's checkpointed pipeline: no forced broadcast subtree may
    // output the query-slice columns (q_id/qe); exactly one must output
    // the capped index shape (vec_id, e, list_id).
    def checkOrientation(name: String, analyzed: LogicalPlan): Unit = {
      val hints = analyzed.collect {
        case h: ResolvedHint if h.hints.strategy.exists(
          _.toString.toUpperCase.contains("BROADCAST")) => h
      }
      val probeSideHints = hints.filter(_.child.output.exists(a =>
        a.name == "q_id" || a.name == "qe"))
      assert(probeSideHints.isEmpty,
        s"$name forces broadcast of the corpus-proportional probe side:\n" +
          probeSideHints.map(_.child.treeString.take(600)).mkString("\n"))
      val indexSideHints = hints.filter(h =>
        h.child.output.map(_.name).toSet == Set("vec_id", "e", "list_id"))
      assert(indexSideHints.length === 1,
        s"$name should hint exactly the capped index (got ${indexSideHints.length})")
    }
    val (_, dc) = PlanCapture.lastCheckpoint(spark)(
      graft.operators.Similarity.simDecontam(Tables.embeddings(spark, sf)))
    checkOrientation("simDecontam", dc.analyzed)
    // and the physical build really is the index: the BroadcastExchange
    // feeding the list_id join sits under the capped-index subtree
    assert(planNodes(dc.executedPlan).exists(_.getClass.getSimpleName == "BroadcastHashJoinExec"))
    val (_, kl) = PlanCapture.lastCheckpoint(spark)(
      graft.operators.Similarity.knnLabelEval(Tables.embeddings(spark, sf)))
    checkOrientation("knnLabelEval", kl.analyzed)
  }

  test("AQE scale profile: applies the 100TB posture and leaves query results untouched") {
    // the opt-in profile must (a) actually set the AQE knobs it
    // documents and (b) be a pure physical-strategy change — the same
    // query collects the same rows under either posture (the A/B in
    // PERF.md measures speed; this pins safety)
    val keys = Seq(
      "spark.sql.adaptive.enabled",
      "spark.sql.adaptive.coalescePartitions.enabled",
      "spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      "spark.sql.adaptive.skewJoin.enabled",
      "spark.sql.adaptive.advisoryPartitionSizeInBytes")
    val saved = keys.map(k => k -> spark.conf.getOption(k)).toMap
    def run() = operators.Analytics.perDay(Tables.events(spark, sf))
      .collect().map(_.toString).sorted.toSeq
    val before = run()
    try {
      Tables.aqeScaleProfile(spark)
      assert(spark.conf.get("spark.sql.adaptive.enabled") === "true")
      assert(spark.conf.get("spark.sql.adaptive.skewJoin.enabled") === "true")
      assert(spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum").toInt
        === 4 * spark.sparkContext.defaultParallelism)
      assert(run() === before)
    } finally saved.foreach { case (k, v) =>
      v.fold(spark.conf.unset(k))(spark.conf.set(k, _)) }
  }
}
