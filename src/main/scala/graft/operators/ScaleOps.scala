package graft.operators

import graft.{Scope, Tables}
import graft.streaming.Streaming
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Explicit scale patterns (SURVEY.md §7 L4 "100 TB posture"): skew
  * mitigation and shuffle-free co-located joins. These are the knobs a
  * 1000-executor deployment turns when AQE alone isn't enough.
  */
object ScaleOps {

  private def r2(c: Column): Column = round(c, 2)

  /** Skew-resistant two-phase aggregation: salt the hot key space so the
    * first shuffle fans a skewed key across `salts` reducers, then
    * combine the partials. Result is identical to a direct groupBy (the
    * oracle checks exactly that); the win is that no single reducer
    * receives a hot key's full volume. Salt derives from a data column
    * (not rand()) so the plan stays deterministic. */
  def saltedUserStats(ev: DataFrame, salts: Int = 16): DataFrame = {
    val partial = ev
      .withColumn("salt", pmod(col("event_id"), lit(salts)))
      .groupBy(col("user_id"), col("salt"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"))
    partial.groupBy(col("user_id"))
      .agg(sum(col("pn")).cast("long").as("n"), r2(sum(col("psum"))).as("sum_value"))
  }

  /** Write fact+dim bucketed by the join key: a later join of the two
    * tables is co-located — no shuffle exchange on either side (asserted
    * in ScaleSpec). This is how a 100 TB fact table joins a large dim
    * repeatedly without re-shuffling per query. */
  def writeBucketed(spark: SparkSession, dir: String, warehouse: String,
      buckets: Int = 8): Unit = {
    Tables.orders(spark, dir).write.mode("overwrite")
      .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
      .option("path", s"$warehouse/orders_b").saveAsTable("orders_b")
    Tables.customer(spark, dir).write.mode("overwrite")
      .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
      .option("path", s"$warehouse/customer_b").saveAsTable("customer_b")
  }

  /** The co-located join over the bucketed tables. */
  def bucketedJoin(spark: SparkSession): DataFrame =
    spark.table("orders_b")
      .join(spark.table("customer_b"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"), r2(sum(col("o_totalprice"))).as("revenue"))

  /** Per-(session, sf-dir) bucketed table pair, written once and reused
    * — the write is the amortized cost bucketing trades for shuffle-free
    * joins ever after, so the driver query must not re-pay it per call.
    * Keyed by session identity too: catalog registrations don't cross
    * SparkSessions. Warehouse dirs go through a shutdown hook. */
  private val bucketedPair =
    scala.collection.concurrent.TrieMap[(Int, String), (String, String)]()

  /** Driver-visible co-located join ([[writeBucketed]]/[[bucketedJoin]]
    * under the correctness gate): both sides land bucketed by the join
    * key, and the merge join reads bucket i against bucket i with ZERO
    * exchange on either side (ScaleSpec pins the plan) — the layout
    * lever that lets a 100 TB fact table join its dimensions repeatedly
    * without one shuffle per query. The merge hint keeps the join on
    * the sort-merge path so the bucketed layout is actually exercised
    * (AQE would otherwise broadcast the small-SF dimension and the pin
    * would prove nothing). Revenue is exact integer cents — a float
    * product-sum could tie at the half-cent across merge orders. */
  def bucketedRevenue(spark: SparkSession, dir: String, buckets: Int = 8): DataFrame = {
    val (ot, ct) = bucketedPair.getOrElseUpdate(
      (System.identityHashCode(spark), dir), {
        val wh = java.nio.file.Files.createTempDirectory("graft-bucketed-wh")
        sys.addShutdownHook(Streaming.rmTree(wh.toFile))
        val tag = s"b${bucketedPair.size}"
        val (ot, ct) = (s"orders_$tag", s"customer_$tag")
        Tables.orders(spark, dir).write.mode("overwrite")
          .bucketBy(buckets, "o_custkey").sortBy("o_custkey")
          .option("path", s"$wh/$ot").saveAsTable(ot)
        Tables.customer(spark, dir).write.mode("overwrite")
          .bucketBy(buckets, "c_custkey").sortBy("c_custkey")
          .option("path", s"$wh/$ct").saveAsTable(ct)
        (ot, ct)
      })
    spark.table(ot)
      .join(spark.table(ct).hint("merge"), col("o_custkey") === col("c_custkey"))
      .groupBy(col("c_mktsegment"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
  }

  /** Per-(session, sf-dir) partitioned-layout warehouse for
    * [[dppRevenue]], written once and reused ([[bucketedPair]]'s
    * amortization discipline — the partitioned write is the one-time
    * layout cost every later pruned scan trades against). */
  private val dppWarehouse =
    scala.collection.concurrent.TrieMap[(Int, String), String]()

  /** Dynamic partition pruning under the correctness gate: the fact
    * table lands PARTITIONED BY month (the hive-style layout a 100 TB
    * fact table ships in), the dimension is a separately-stored
    * month-rank relation with a selective `rnk <= 3` filter, and the
    * join key IS the partition column — so Catalyst injects the dim's
    * surviving keys into the fact scan as a runtime partition filter
    * (`dynamicpruningexpression` in the scan's PartitionFilters,
    * pinned in ScaleSpec). At 100 TB this is the difference between
    * scanning 3 months and scanning all of them: static pruning can't
    * see the top-3-by-volume predicate because it's data-dependent,
    * and a filter-after-scan pays the full read. The dim must be a
    * real source with a real Filter (not a subtree of the fact) for
    * the pruning rule to fire — which is why the ranks are written
    * out at setup rather than recomputed inline. Revenue is exact
    * integer cents. */
  def dppRevenue(spark: SparkSession, dir: String): DataFrame = {
    val wh = dppWarehouse.getOrElseUpdate(
      (System.identityHashCode(spark), dir), {
        val root = java.nio.file.Files.createTempDirectory("graft-dpp-wh")
        sys.addShutdownHook(Streaming.rmTree(root.toFile))
        val monthly = Tables.orders(spark, dir)
          .withColumn("o_month", date_format(col("o_orderdate"), "yyyy-MM"))
        monthly.write.mode("overwrite").partitionBy("o_month")
          .parquet(s"$root/orders_pt")
        // month dim: volume rank per month, deterministic tie-break on
        // the month itself; ≤ #months rows, so the unpartitioned
        // window is a bounded one-time setup cost
        spark.read.parquet(s"$root/orders_pt")
          .groupBy(col("o_month")).agg(count(lit(1)).as("n"))
          .withColumn("rnk", row_number().over(
            org.apache.spark.sql.expressions.Window
              .orderBy(col("n").desc, col("o_month"))).cast("long"))
          .select(col("o_month"), col("rnk"))
          .write.mode("overwrite").parquet(s"$root/month_dim")
        root.toString
      })
    val fact = spark.read.parquet(s"$wh/orders_pt")
    val dim = spark.read.parquet(s"$wh/month_dim").filter(col("rnk") <= 3)
    // no forced broadcast: the ≤ #months-row dim auto-broadcasts by
    // size, which is all reuseBroadcastOnly DPP needs — and a forced
    // hint on a materialized relation would assert a bound the plan
    // can't prove (the board-wide broadcast-hint sweep rejects it)
    fact.join(dim, Seq("o_month"))
      .groupBy(col("o_month"))
      .agg(count(lit(1)).as("n_orders"),
        sum(floor(col("o_totalprice") * 100 + 0.5).cast("long")).as("revenue_cents"))
      .select(col("o_month"), col("n_orders"), col("revenue_cents"))
  }

  /** Runs `body` with the session confs that make Catalyst's runtime
    * Bloom-filter injection observable at test scale, restoring every
    * touched conf after. The three pins model the 100 TB posture the
    * rule was built for: the dim is too big to broadcast
    * (`autoBroadcastJoinThreshold=-1` — at 100 TB a full `part`
    * dimension is), the fact scan is always worth reducing
    * (`applicationSideScanSizeThreshold=0` — a 100 TB fact always
    * clears the default 10 GB bar that test-scale parquet never
    * would), and the filtered dim side stays under the creation bound
    * (default). Injection happens when the OPTIMIZER runs, i.e. at
    * action time — which is why [[bloomRevenue]] executes eagerly
    * inside this window rather than returning a lazy plan that would
    * optimize after the confs are restored. */
  private[graft] def withBloomConfs[T](spark: SparkSession)(body: => T): T =
    Scope.withConf(spark, Seq(
      "spark.sql.autoBroadcastJoinThreshold" -> Some("-1"),
      "spark.sql.optimizer.runtime.bloomFilter.enabled" -> Some("true"),
      "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold" ->
        Some("0")))(body)

  /** The lazy join [[bloomRevenue]] executes: brand-filtered `part`
    * (1/25 of the dim) against the `lineitem` fact on partkey, rolled
    * up to per-type exact-cent revenue. Factored out so ScaleSpec can
    * pin the executed plan inside the conf window. */
  private[graft] def bloomJoinLazy(spark: SparkSession, dir: String,
      brand: String = "Brand#17"): DataFrame =
    Tables.lineitem(spark, dir)
      .join(Tables.part(spark, dir).filter(col("p_brand") === brand),
        col("l_partkey") === col("p_partkey"))
      .groupBy(col("p_type"))
      .agg(count(lit(1)).as("n_items"),
        sum(floor(col("l_extendedprice") * 100 + 0.5).cast("long"))
          .as("revenue_cents"))

  /** Runtime Bloom-filter join pruning under the correctness gate —
    * the SEMI-JOIN-REDUCTION sibling of [[dppRevenue]]: the selective
    * `p_brand` predicate lives on the dim side, the fact is NOT
    * partitioned by the join key (so DPP has nothing to prune), and
    * the dim is not broadcastable at the modeled scale — the worst
    * case for a 100 TB star join, where the naive plan shuffles the
    * ENTIRE fact table to probe a dim that discards 96% of it.
    * Catalyst's `InjectRuntimeFilter` rule closes it: a Bloom filter
    * built over the filtered dim's join keys is pushed into the fact
    * side as a `might_contain` predicate BELOW the fact's shuffle, so
    * ~24/25ths of the fact rows never enter the exchange. ScaleSpec
    * pins the injected filter in the executed plan; the gate pins that
    * pruning never changes a row (Bloom false positives are caught by
    * the join itself — the filter is a pure shuffle-volume reducer).
    * Executes eagerly inside [[withBloomConfs]] because injection is
    * an optimizer-time decision (see there). */
  def bloomRevenue(spark: SparkSession, dir: String): DataFrame =
    withBloomConfs(spark) {
      bloomJoinLazy(spark, dir).localCheckpoint(true)
    }

  /** 16-bit × 16-bit Morton (z-order) interleave. Wired to the native
    * magic-mask expression ([[graft.functions.NativeZOrder]]) —
    * bit-identical to the composed 32-term chain (spec-asserted). */
  private[graft] def interleave16(x: Column, y: Column): Column =
    graft.functions.NativeZOrder.zInterleave16(x, y)

  /** The composed built-ins-only reference form of [[interleave16]]:
    * one shift-and-or pair per bit — correct and codegen'd, but 32
    * expression nodes per row (equivalence spec). */
  private[graft] def interleave16Composed(x: Column, y: Column): Column =
    (0 until 16).map { b =>
      shiftleft(shiftright(x, b).bitwiseAND(lit(1L)), 2 * b)
        .bitwiseOR(shiftleft(shiftright(y, b).bitwiseAND(lit(1L)), 2 * b + 1))
    }.reduce(_ bitwiseOR _)

  /** Z-order clustering key over (user_id, dollar amount): sort/write
    * the fact table by `zval` and a 2-D range predicate (user range ×
    * amount range) touches a handful of contiguous z-ranges — parquet
    * row-group min/max on ONE column then skips for BOTH dimensions.
    * This is the data-layout lever for multi-dimension pruning at
    * 100 TB (one sort at write time, every later 2-D scan benefits);
    * `zblock` is the row-group-sized cluster id a writer would range-
    * partition on. */
  def zorderEvents(ev: DataFrame, blockSize: Long = 1024L): DataFrame =
    ev.select(col("event_id"),
      col("user_id").bitwiseAND(lit(65535L)).as("x"),
      floor(col("value")).cast("long").bitwiseAND(lit(65535L)).as("y"))
      .withColumn("zval", interleave16(col("x"), col("y")))
      .select(col("event_id"), col("zval"),
        expr(s"zval div $blockSize").as("zblock"))

  /** Join-key skew audit — the pre-flight a 100 TB join runs BEFORE
    * shuffling: per-key share of the fact table's join column, top-N
    * keys. A key above ~1/shuffle-partitions share predicts a straggler
    * reducer (the cue to salt or let AQE split). The global rank window
    * runs over the AGGREGATED key table, never the fact rows. */
  def skewAudit(fact: DataFrame, key: String = "l_partkey", topN: Int = 5): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val counts = fact.groupBy(col(key)).agg(count(lit(1)).as("n"))
    // the grand total comes from the aggregated counts (sum n over the
    // whole tiny key table) — a separate fact.count() would scan the
    // fact a second time; both windows share the one global partition
    val w = Window.orderBy(col("n").desc, col(key))
    counts
      .withColumn("share", graft.functions.Portable.trunc6(
        col("n").cast("double") / sum(col("n")).over(Window.partitionBy())))
      .withColumn("rnk", row_number().over(w).cast("long"))
      .filter(col("rnk") <= topN)
      .select(col(key), col("n"), col("share"), col("rnk"))
  }

  /** Exact global 1-based position of every row under `order` (which
    * must be a TOTAL order — include a unique tiebreak column) WITHOUT
    * an `Exchange SinglePartition` sort — the two-phase parallel rank.
    * Rows range-repartition on the full sort key so the `parts`
    * partitions tile the global order; each row numbers locally inside
    * its partition (a hash exchange on the partition id, same data
    * volume, never one task); the per-partition counts — a ≤`parts`-row
    * relation — prefix-sum into starting offsets that broadcast back.
    * `pos = offset + local rank` is then the exact global row_number:
    * at 10⁹ rows the sort runs `parts`-way parallel where a bare
    * `Window.orderBy` would drag every row through a single task. The
    * only single-partition window left runs over the ≤`parts`-row count
    * relation.
    *
    * Determinism: RangePartitioner's boundary sampling is seeded by
    * partition index (not a clock), and with a total order the SPLIT
    * cannot reorder rows — `pos` is defined by the order alone,
    * whatever boundaries the sampler picks.
    *
    * Returns the lazy ranked relation with `posCol`; its persisted
    * range-partitioned input belongs to `s`, so the caller materializes
    * the result inside that scope. */
  private[graft] def globalRank(s: Scope, df: DataFrame, order: Seq[Column],
      parts: Int = 0, posCol: String = "pos"): DataFrame =
    rankPartitioned(rangePartitioned(s, df, order, parts), order, posCol)

  /** [[globalRank]]'s first phase: `df` range-partitioned on `order`
    * with its partition id as `_gr_pid`, persisted in `s`. */
  private[graft] def rangePartitioned(s: Scope, df: DataFrame, order: Seq[Column],
      parts: Int = 0): DataFrame = {
    // Scale-adaptive range width (r11, guide §2): the old constant 32
    // was tuned for neither regime — 32 one-task-minimum partitions of
    // overhead on a megabyte corpus, and a catastrophic 32-way sort of
    // a 100 TB relation. Derive from the optimizer's size estimate at
    // ~64 MB per range partition, floored at 8 (parallelism for the
    // partition-local sorts) and capped at 4× the cluster parallelism
    // (the AQE-profile headroom rule); `pos` is partitioning-invariant
    // by the operator's own law, so the result is unchanged for any
    // width. Callers can still pin an explicit width.
    val nParts = if (parts > 0) parts else {
      val bytes = df.queryExecution.optimizedPlan.stats.sizeInBytes
      val byBytes = ((bytes + (64L << 20) - 1) / (64L << 20))
        .min(BigInt(Int.MaxValue)).toInt
      math.max(8, math.min(byBytes,
        4 * df.sparkSession.sparkContext.defaultParallelism))
    }
    // persisted: the ranked branch and the offsets branch both read it,
    // and WITHOUT the cache Catalyst column-prunes the two branches
    // differently below the range exchange, defeating exchange reuse —
    // the range shuffle would run twice (measured; AQE stage reuse
    // does not fire across the differently-pruned subtrees).
    s.persist(df.repartitionByRange(nParts, order: _*)
      .withColumn("_gr_pid", spark_partition_id()))
  }

  /** [[globalRank]]'s second phase over a [[rangePartitioned]] relation. */
  private[graft] def rankPartitioned(ranged: DataFrame, order: Seq[Column],
      posCol: String = "pos"): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val local = ranged.withColumn("_gr_lrn",
      row_number().over(
        Window.partitionBy(col("_gr_pid")).orderBy(order: _*)).cast("long"))
    val offsets = ranged.groupBy(col("_gr_pid")).agg(count(lit(1)).as("_gr_c"))
      .withColumn("_gr_off", coalesce(sum(col("_gr_c")).over(
        Window.orderBy(col("_gr_pid")).rowsBetween(Window.unboundedPreceding, -1)),
        lit(0L)))
      .select(col("_gr_pid"), col("_gr_off"))
    local.join(broadcast(offsets), "_gr_pid")
      .withColumn(posCol, col("_gr_off") + col("_gr_lrn"))
      .drop("_gr_pid", "_gr_lrn", "_gr_off")
  }

  /** Incremental aggregate maintenance: merge a pre-aggregated STATE
    * (everything before the new batch) with the DELTA batch's partials
    * instead of recomputing from raw history — count/sum are algebraic,
    * so state ⊎ delta re-aggregated equals the full recompute (the
    * oracle IS the full recompute). Rounding happens only at the final
    * merge, never on the partials, so the merged sum is the same
    * double either path. At 100 TB this is the difference between
    * scanning one day and scanning three years. */
  def incrAgg(ev: DataFrame, deltaMod: Long = 97L): DataFrame = {
    def partial(df: DataFrame) = df.groupBy(col("user_id"))
      .agg(count(lit(1)).as("pn"), sum(col("value")).as("psum"))
    val state = partial(ev.filter(col("event_id") % deltaMod =!= 0))
    val delta = partial(ev.filter(col("event_id") % deltaMod === 0))
    state.unionByName(delta)
      .groupBy(col("user_id"))
      .agg(sum(col("pn")).cast("long").as("n"), r2(sum(col("psum"))).as("sum_value"))
  }

  /** Incremental JOIN maintenance — [[incrAgg]]'s sibling for the
    * binary operator: with orders = O ⊎ ΔO and lineitem = L ⊎ ΔL, the
    * new join rows a refresh must append are exactly
    * ΔO⋈L ∪ O⋈ΔL ∪ ΔO⋈ΔL — the textbook delta decomposition every
    * IVM engine executes (ΔJ never touches O⋈L, so a 100 TB
    * materialized join refreshes at Δ-proportional cost, with the Δ
    * sides small enough to broadcast). Splits are deterministic key
    * mods; the emitted row is the delta's aggregate footprint
    * (exact count + cents).
    *
    * The oracle derives the SAME number the OTHER way — full-join
    * aggregate MINUS state-join aggregate (counts and integer sums
    * are additive) — so the gate checks the decomposition theorem
    * itself, not a replay of our plan (the [[graft.operators.TextOps
    * .bpeStatsOracle]] cross-derivation discipline). */
  def incrJoin(spark: SparkSession, dir: String, deltaMod: Long = 97L): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), (pmod(col("o_orderkey"), lit(deltaMod)) === 0).as("od"))
    val l = Tables.lineitem(spark, dir)
      .select(col("l_orderkey"),
        floor(col("l_extendedprice") * 100 + 0.5).cast("long").as("cents"),
        (pmod(col("l_orderkey") + col("l_linenumber"), lit(deltaMod)) === 0).as("ld"))
    def term(of: Column => Column, lf: Column => Column): DataFrame =
      o.filter(of(col("od"))).join(l.filter(lf(col("ld"))),
        col("o_orderkey") === col("l_orderkey"))
        .select(col("cents"))
    term(identity, !_).unionByName(term(!_, identity)).unionByName(term(identity, identity))
      .agg(count(lit(1)).as("n_delta_rows"),
        coalesce(sum(col("cents")), lit(0L)).as("delta_cents"))
  }

  /** Sorted sequence export: repartition by user then sort WITHIN each
    * partition by (user, time) before writing — every output file
    * holds whole users in time order, so a downstream sequence-training
    * reader streams each user's history without a sort, and parquet
    * gets long sorted runs (better encoding + tighter row-group
    * min/max). `sortWithinPartitions`, never a global `orderBy`: the
    * export needs per-file order, and a total order would funnel the
    * write through a single range-partitioned sort.
    *
    * The whole-users-per-file invariant requires one file per task —
    * `maxRecordsPerFile` is pinned to 0 on THIS writer so a
    * cluster-wide rollover default can't silently split a user's
    * history across files mid-stream. */
  def sortedExport(ev: DataFrame, outDir: String, parts: Int = 4): Unit =
    ev.select(col("event_id"), col("user_id"), col("ts_ms"), col("value"))
      .repartition(parts, col("user_id"))
      .sortWithinPartitions(col("user_id"), col("ts_ms"), col("event_id"))
      .write.mode("overwrite").option("maxRecordsPerFile", 0L).parquet(outDir)

  /** Small-file compaction: rewrite a parquet directory into
    * ~`targetRecords`-per-file outputs. The #1 operational disease of a
    * long-running ingest at scale — thousands of tiny files per
    * partition turn every scan into a metadata storm (one task + one
    * open per file) — and the fix is this one-liner rewrite run on a
    * schedule. File count derives from the actual row count (one
    * column-pruned count over the footers, essentially free on
    * parquet); `repartition` redistributes evenly so every output file
    * lands near the target. Returns (input files, output files). */
  def compact(spark: SparkSession, inDir: String, outDir: String,
      targetRecords: Long = 100000L): (Long, Long) = {
    val in = spark.read.parquet(inDir)
    val rows = in.count()
    val nFiles = math.max(1L, (rows + targetRecords - 1) / targetRecords)
    in.repartition(nFiles.toInt).write.mode("overwrite").parquet(outDir)
    // Hadoop FS, not java.io.File: the scheduled production run points at
    // hdfs:// or s3a:// paths, where local listing returns null
    def parquetCount(d: String): Long = {
      val p = new org.apache.hadoop.fs.Path(d)
      p.getFileSystem(spark.sparkContext.hadoopConfiguration)
        .listStatus(p).count(_.getPath.getName.endsWith(".parquet")).toLong
    }
    (parquetCount(inDir), parquetCount(outDir))
  }

  /** The training-mixture config: per-source target sampling rate.
    * A mixture is a LITERAL the pipeline owner writes down (e.g. "web
    * 10%, wiki 100%") — here one rate per synthetic source, spanning
    * keep-everything to heavy downsample. Unknown sources default to
    * [[MixtureDefaultRate]]. */
  val MixtureRates: Seq[(String, Double)] = Seq(
    "src0" -> 1.0, "src1" -> 0.8, "src2" -> 0.6, "src3" -> 0.5,
    "src4" -> 0.4, "src5" -> 0.3, "src6" -> 0.25, "src7" -> 0.2,
    "src8" -> 0.1, "src9" -> 0.05)
  val MixtureDefaultRate = 0.1

  /** Training-mixture construction: downsample each source to its
    * target rate with a deterministic per-doc Bernoulli coin (portable
    * 60-bit md5 hash mod 1e6 against an INTEGER threshold — stable
    * across runs, partitionings, and engines; `rand()` is none of
    * those), then report per-source totals, sampled counts, achieved
    * rate, and retained token volume. This is how a 100 TB corpus
    * becomes a weighted training mix in ONE scan: the keep decision is
    * a row predicate (no per-source pass, no global sort), and the
    * only shuffle is the final per-source aggregate — map-side
    * combined, ~|sources| rows. */
  def mixtureSample(docs: DataFrame): DataFrame = {
    val rate = MixtureRates.foldRight(lit(MixtureDefaultRate): Column) {
      case ((s, r), acc) => when(col("source") === s, lit(r)).otherwise(acc)
    }
    val coin = pmod(graft.functions.TextHash.hash60(
      concat(lit("mix|"), col("doc_id"))), lit(1000000L))
    docs
      .withColumn("target_rate", rate)
      .withColumn("kept", (coin < floor(col("target_rate") * 1000000).cast("long")).cast("int"))
      .groupBy(col("source")).agg(
        max(col("target_rate")).as("target_rate"),
        count(lit(1)).as("n_total"),
        sum(col("kept")).cast("long").as("n_sampled"),
        graft.functions.Portable.trunc4(
          sum(col("kept")).cast("double") / count(lit(1))).as("achieved_rate"),
        sum(col("kept") * col("n_chars")).cast("long").as("n_chars_sampled"))
  }

  // ---- driver wiring ----

  /** [[globalRank]] itself under the oracle gate: every event's
    * exact global position by (cents desc, event_id) — the DuckDB
    * `row_number() OVER (ORDER BY …)` computed WITHOUT the one-task
    * sort. The hash compare makes the two-phase rank's exactness a
    * driver-checked fact, not just a ScaleSpec property. */
  def globalRankEvents(ev: DataFrame): DataFrame = Scope { s =>
    val cents = ev.select(col("event_id"),
      floor(col("value") * 100 + 0.5).cast("long").as("cents"))
    globalRank(s, cents, Seq(col("cents").desc, col("event_id")))
      .select(col("event_id"), col("cents"), col("pos"))
      .localCheckpoint(true)
  }

  /** Zone-map pruning audit — the data-LAYOUT decision [[zorderEvents]]
    * computes keys for, measured: per-block min/max statistics (what
    * parquet row groups / Delta-Iceberg file stats store) under three
    * physical layouts, probed by a fixed range-predicate workload. A
    * block is SCANNED when its [min,max] envelope on every constrained
    * column overlaps the predicate box — the exact skip rule an engine
    * applies before touching a row group. The classic result this
    * reproduces: insertion order prunes nothing, single-key clustering
    * prunes only its own key's probes, z-order prunes BOTH dimensions
    * moderately — the number a 100 TB table owner reads before choosing
    * a sort spec.
    *
    * Layouts (block id rules, all integer bit-math / div):
    *  - `natural`: arrival order (event_id div 1024);
    *  - `userclust`: range-clustered on user_id (div 16);
    *  - `zorder`: [[interleave16]](user, ⌊value⌋) div 16384.
    *
    * Scale: one fact scan → 3 narrow (layout, block, u, v) rows per
    * event → min/max hash-agg (map-side combined) to ≤ |blocks| cells
    * per layout; the probe evaluation cross-joins the TINY stats
    * relation with a 12-row literal workload. No fact-sized join, no
    * window. */
  def zonemapAudit(ev: DataFrame): DataFrame = {
    val base = ev.select(col("event_id"), col("user_id").as("u"),
      floor(col("value")).cast("long").as("v"))
      .withColumn("zval", interleave16(
        col("u").bitwiseAND(lit(65535L)), col("v").bitwiseAND(lit(65535L))))
    val stats = base.select(col("u"), col("v"), explode(array(
        struct(lit("natural").as("layout"), expr("event_id div 1024").as("blk")),
        struct(lit("userclust").as("layout"), expr("u div 16").as("blk")),
        struct(lit("zorder").as("layout"), expr("zval div 16384").as("blk")))).as("l"))
      .groupBy(col("l.layout").as("layout"), col("l.blk").as("blk"))
      .agg(min(col("u")).as("min_u"), max(col("u")).as("max_u"),
        min(col("v")).as("min_v"), max(col("v")).as("max_v"))
    def optLit(v: Integer): Column =
      if (v == null) lit(null).cast("long") else lit(v.longValue)
    val probes = ZonemapProbes.map { case (kind, ulo, uhi, vlo, vhi) =>
      struct(lit(kind).as("kind"),
        optLit(ulo).as("ulo"), optLit(uhi).as("uhi"),
        optLit(vlo).as("vlo"), optLit(vhi).as("vhi")) }
    val probed = stats.select(col("layout"), col("blk"), col("min_u"),
        col("max_u"), col("min_v"), col("max_v"),
        explode(array(probes: _*)).as("p"))
      .withColumn("scanned",
        (col("p.ulo").isNull || (col("max_u") >= col("p.ulo") && col("min_u") <= col("p.uhi"))) &&
          (col("p.vlo").isNull || (col("max_v") >= col("p.vlo") && col("min_v") <= col("p.vhi"))))
    probed.groupBy(col("layout"), col("p.kind").as("kind"))
      .agg((count(lit(1)) / ZonemapProbes.count(_._1 == "u_range")).cast("long").as("n_blocks"),
        sum(when(col("scanned"), 1L).otherwise(0L)).as("blocks_scanned"))
      .select(col("layout"), col("kind"), col("n_blocks"), col("blocks_scanned"),
        graft.functions.Portable.trunc4(col("blocks_scanned") /
          (col("n_blocks") * lit(4))).as("scan_frac"))
  }

  /** The probe workload: 4 user-range, 4 value-range, 4 combined-box
    * predicates (null = unconstrained dimension). Literals shared with
    * the generated oracle. */
  private[graft] val ZonemapProbes: Seq[(String, Integer, Integer, Integer, Integer)] = Seq(
    ("u_range", 0, 9, null, null), ("u_range", 40, 49, null, null),
    ("u_range", 80, 89, null, null), ("u_range", 120, 129, null, null),
    ("v_range", null, null, 0, 24), ("v_range", null, null, 100, 124),
    ("v_range", null, null, 200, 224), ("v_range", null, null, 400, 424),
    ("box", 0, 19, 0, 49), ("box", 50, 69, 100, 149),
    ("box", 100, 119, 200, 249), ("box", 140, 159, 400, 449))
    .map { case (k, a, b, c, d) =>
      (k, a.asInstanceOf[Integer], b.asInstanceOf[Integer],
        c.asInstanceOf[Integer], d.asInstanceOf[Integer]) }

  /** Small-file compaction planner — the table-maintenance pass every
    * lake-format table service runs (Iceberg/Delta rewrite-data-files:
    * thousands of tiny commit files → read-amplification death; bin
    * them into target-size rewrite groups): per-day ingest "files"
    * (row count + byte mass from the payload column) are assigned to
    * compaction groups by CUMULATIVE QUOTA — group = ⌊prefix_bytes /
    * target⌋ over the day-ordered file list.
    *
    * Quota placement (not greedy first-fit) is the scale choice, the
    * [[graft.operators.Media.mediaShards]] argument one dimension up:
    * greedy packing is inherently sequential state; the prefix-sum
    * form is one window over the COLLAPSED per-file relation, any
    * worker can recompute any file's group, and groups stay
    * key-ordered so compacted files preserve the day clustering the
    * zonemap relies on. A file bigger than the target inflates its own
    * group (fill > 1) rather than splitting — rewrite units never cut
    * a source file in half.
    *
    * Exactness: bytes are exact BIGINTs (ASCII payload lengths + a
    * fixed 24-byte row-overhead constant); fill divides the integers
    * once at the end. */
  def compactionPlan(ev: DataFrame, targetBytes: Long = 16384L): DataFrame = {
    import org.apache.spark.sql.expressions.Window
    val files = ev.groupBy(date_trunc("day", col("ts")).as("day"))
      .agg(count(lit(1)).as("n_rows"),
        sum(length(col("props")).cast("long") + 24L).as("bytes"))
    val pre = Window.orderBy(col("day"))
      .rowsBetween(Window.unboundedPreceding, -1)
    files
      .withColumn("cum_before", coalesce(sum(col("bytes")).over(pre), lit(0L)))
      .withColumn("group_id", expr(s"cum_before div ${targetBytes}L"))
      .groupBy(col("group_id"))
      .agg(count(lit(1)).as("n_files"), sum(col("n_rows")).as("n_rows"),
        sum(col("bytes")).as("group_bytes"),
        min(col("day")).as("first_day"), max(col("day")).as("last_day"))
      .withColumn("fill", graft.functions.Portable.trunc4(
        col("group_bytes") / lit(targetBytes.toDouble)))
  }

  /** Hub-cap audit — every silent truncation the pair generators
    * perform, made VISIBLE as data: one row per hub guard
    * ([[Graph.coEdges]]' maxCell, [[Dedup.containmentPairs]]' and
    * [[Dedup.substringRuns]]' maxDf, [[Dedup.fuzzyEditPairs]]'
    * maxBlock) reporting how many groups the cap would drop and how
    * many member rows those groups carry. The caps are the right scale
    * trade (a stadium-sized cell / boilerplate shingle identifies
    * nothing while its Σn² pairs dominate the job), but at 100 TB a
    * cap that silently swallows 30% of the corpus is an incident — a
    * production pipeline publishes this audit next to every capped
    * run, and alerting keys off n_dropped_rows / n_groups drift.
    *
    * Each guard's grouping replicates its generator's key EXACTLY
    * (distinct (u, m, hour) cells; distinct (doc, shingle-hash) for
    * containment df; position-stamped occurrences for substring df;
    * normalized 12-char prefix blocks over the typo corpus), so the
    * audit counts are the generator's own group sizes, not an
    * approximation.
    *
    * Scale: four independent hash-aggs (one per guard), each collapsed
    * to a single row map-side — strictly cheaper than any generator it
    * audits; no windows, no joins. */
  def capAudit(ev: DataFrame, docs: DataFrame, maxCell: Long = 64L,
      maxDf: Long = 50L, maxBlock: Long = 64L): DataFrame = {
    import graft.functions.TextHash.{hash60, shingleRows}
    def summarize(guard: String, cap: Long, groups: DataFrame): DataFrame =
      groups.agg(count(lit(1)).as("n_groups"),
          sum(when(col("n") > cap, 1L).otherwise(0L)).as("n_dropped_groups"),
          sum(when(col("n") > cap, col("n")).otherwise(0L)).as("n_dropped_rows"),
          max(col("n")).as("max_group"))
        .select(lit(guard).as("guard"), lit(cap).as("cap"), col("n_groups"),
          col("n_dropped_groups"), col("n_dropped_rows"), col("max_group"))
    val coCells = Graph.userMerchant(ev)
      .select(col("user_id").as("u"), col("m"), date_trunc("hour", col("ts")).as("h"))
      .distinct()
      .groupBy(col("m"), col("h")).agg(count(lit(1)).as("n"))
    val sh = shingleRows(docs, n = 3).select(col("doc_id"), hash60(col("s")).as("sh"))
    val contShingles = sh.distinct()
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
    val substrShingles = sh
      .groupBy(col("sh")).agg(count(lit(1)).as("n"))
    val fuzzyBlocks = Dedup.typoCorpus(docs)
      .select(substring(col("nt"), 1, 12).as("blk"))
      .groupBy(col("blk")).agg(count(lit(1)).as("n"))
    summarize("co_cells", maxCell, coCells)
      .unionByName(summarize("containment_shingles", maxDf, contShingles))
      .unionByName(summarize("substring_shingles", maxDf, substrShingles))
      .unionByName(summarize("fuzzy_blocks", maxBlock, fuzzyBlocks))
  }

  /** Candidate-pair density audit — the banded pair generators' raw
    * candidate volume as DATA, next to [[capAudit]]'s truncation audit:
    * one row per generator family ([[Similarity.knnCandidatePairs]]'s
    * 8×8 sign-band self-join over embeddings,
    * [[Dedup.lshCandidatePairs]]' 4×4 MinHash band self-join over
    * documents) reporting corpus size, distinct candidate pairs, and
    * integer-exact pairs-per-1k-items density. This is the decade-probe
    * attribution instrument (VERDICT r10 directive 2): a super-linear
    * shuffle reading for q_knn_graph / q_dedup_minhash_lsh is explained
    * (or not) by running THIS query at both scales and comparing cand×
    * to shuf× — candidate growth is generator-density fact, plan-shape
    * change is a defect; the two were previously distinguishable only
    * by narrative.
    *
    * Scale: each arm is the generator's own banded equi-join collapsed
    * map-side to one count row — strictly cheaper than the generator
    * it audits (no verification, no payloads, ids only). */
  def candDensity(docs: DataFrame, emb: DataFrame): DataFrame = {
    def row(family: String, items: DataFrame, pairs: DataFrame): DataFrame =
      pairs.agg(count(lit(1)).as("n_cand"))
        .crossJoin(items.agg(count(lit(1)).as("n_items")))
        .select(lit(family).as("family"), col("n_items"), col("n_cand"),
          expr("n_cand * 1000 div n_items").as("cand_per_1k"))
    row("knn_bands", emb, Similarity.knnCandidatePairs(emb))
      .unionByName(row("minhash_lsh", docs, Dedup.lshCandidatePairs(docs)))
  }

  val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    "q_cand_density" -> ((s, d) =>
      candDensity(Tables.documents(s, d), Tables.embeddings(s, d))),
    "q_compaction_plan" -> ((s, d) => compactionPlan(Tables.events(s, d))),
    "q_zonemap" -> ((s, d) => zonemapAudit(Tables.events(s, d))),
    "q_mixture_sample" -> ((s, d) => mixtureSample(Tables.documents(s, d))),
    "q_salted_agg" -> ((s, d) => saltedUserStats(Tables.events(s, d))),
    "q_zorder" -> ((s, d) => zorderEvents(Tables.events(s, d))),
    "q_skew_audit" -> ((s, d) => skewAudit(Tables.lineitem(s, d))),
    "q_global_rank" -> ((s, d) => globalRankEvents(Tables.events(s, d))),
    "q_incr_agg" -> ((s, d) => incrAgg(Tables.events(s, d))),
    "q_incr_join" -> ((s, d) => incrJoin(s, d)),
    "q_cap_audit" -> ((s, d) => capAudit(Tables.events(s, d), Tables.documents(s, d))),
    "q_bucketed_join" -> ((s, d) => bucketedRevenue(s, d)),
    "q_dpp_prune" -> ((s, d) => dppRevenue(s, d)),
    "q_bloom_prune" -> ((s, d) => bloomRevenue(s, d)))

  /** The z-interleave as SQL, generated from the same bit positions the
    * Column form uses — one expression, two dialect renderings. */
  private def interleaveSql(x: String, y: String): String =
    (0 until 16).map(b =>
      s"((($x >> $b) & 1) << ${2 * b}) | ((($y >> $b) & 1) << ${2 * b + 1})")
      .mkString(" | ")

  /** The mixture config as a SQL CASE — same literals as [[MixtureRates]]. */
  private val mixtureRateSql: String =
    "CASE " + MixtureRates.map { case (s, r) => s"WHEN source = '$s' THEN $r" }
      .mkString(" ") + s" ELSE $MixtureDefaultRate END"

  /** [[ZonemapProbes]] as a VALUES list (null = unconstrained). */
  private def zonemapProbesSql: String = ZonemapProbes.map {
    case (k, a, b, c, d) =>
      def s(x: Integer) = if (x == null) "NULL" else x.toString
      s"('$k', ${s(a)}, ${s(b)}, ${s(c)}, ${s(d)})"
  }.mkString(", ")

  /** One guard row of the [[capAudit]] oracle. */
  private def capGuardSql(guard: String, cap: Long, rel: String): String =
    s"SELECT '$guard' AS guard, ${cap}::BIGINT AS cap, count(*)::BIGINT AS n_groups, " +
      s"sum(CASE WHEN n > $cap THEN 1 ELSE 0 END)::BIGINT AS n_dropped_groups, " +
      s"sum(CASE WHEN n > $cap THEN n ELSE 0 END)::BIGINT AS n_dropped_rows, " +
      s"max(n)::BIGINT AS max_group FROM $rel"

  val oracleSql: Map[String, String] = Map(
    "q_cand_density" ->
      ("SELECT 'knn_bands' AS family, n_items, n_cand, " +
        "(n_cand * 1000) // n_items AS cand_per_1k FROM " +
        "(WITH " + Similarity.kgCandPrefixSql +
        " SELECT (SELECT count(*) FROM embeddings)::BIGINT AS n_items, " +
        "count(*)::BIGINT AS n_cand FROM kg_pairs) " +
        "UNION ALL " +
        "SELECT 'minhash_lsh' AS family, n_items, n_cand, " +
        "(n_cand * 1000) // n_items AS cand_per_1k FROM " +
        "(" + Dedup.sigCte + Dedup.candCte +
        " SELECT (SELECT count(*) FROM documents)::BIGINT AS n_items, " +
        "count(*)::BIGINT AS n_cand FROM cand)"),
    "q_cap_audit" ->
      ("WITH um AS (SELECT DISTINCT user_id u, " +
        "CAST(json_extract_string(props, '$.k') AS INT) m, " +
        "date_trunc('hour', ts) h FROM events), " +
        "cc AS (SELECT m, h, count(*)::BIGINT n FROM um GROUP BY 1, 2), " +
        "t AS (SELECT doc_id, string_split(text, ' ') tok FROM documents), " +
        "gi AS (SELECT doc_id, tok, unnest(range(1, len(tok) - 1)) AS i FROM t), " +
        "shall AS (SELECT doc_id, ('0x' || substr(md5(" +
        "tok[i] || ' ' || tok[i + 1] || ' ' || tok[i + 2]), 1, 15))::BIGINT AS sh FROM gi), " +
        "cs AS (SELECT sh, count(*)::BIGINT n FROM " +
        "(SELECT DISTINCT doc_id, sh FROM shall) GROUP BY 1), " +
        "ss AS (SELECT sh, count(*)::BIGINT n FROM shall GROUP BY 1), " +
        "nrm AS (SELECT doc_id, trim(regexp_replace(regexp_replace(lower(text), " +
        "'[^a-z0-9 ]', '', 'g'), ' +', ' ', 'g')) nt FROM documents), " +
        "tc AS (SELECT doc_id, nt FROM nrm UNION ALL " +
        s"SELECT doc_id + ${TextOps.PerturbOffset}, " +
        "substr(nt, 1, CAST(13 + doc_id % 8 AS INT) - 1) || " +
        "substr(nt, CAST(13 + doc_id % 8 AS INT) + 1, 16777216) FROM nrm), " +
        "fb AS (SELECT substr(nt, 1, 12) blk, count(*)::BIGINT n FROM tc GROUP BY 1) " +
        capGuardSql("co_cells", 64L, "cc") + " UNION ALL " +
        capGuardSql("containment_shingles", 50L, "cs") + " UNION ALL " +
        capGuardSql("substring_shingles", 50L, "ss") + " UNION ALL " +
        capGuardSql("fuzzy_blocks", 64L, "fb")),
    "q_compaction_plan" ->
      ("WITH f AS (SELECT date_trunc('day', ts) dy, count(*)::BIGINT n_rows, " +
        "sum(length(props) + 24)::BIGINT bytes FROM events GROUP BY 1), " +
        "p AS (SELECT *, coalesce(sum(bytes) OVER (ORDER BY dy " +
        "ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)::BIGINT cb FROM f), " +
        "g AS (SELECT cb // 16384 group_id, count(*)::BIGINT n_files, " +
        "sum(n_rows)::BIGINT n_rows, sum(bytes)::BIGINT group_bytes, " +
        "min(dy) first_day, max(dy) last_day FROM p GROUP BY 1) " +
        "SELECT group_id, n_files, n_rows, group_bytes, first_day, last_day, " +
        "floor(group_bytes / 16384.0 * 10000) / 10000 fill FROM g"),
    "q_zonemap" ->
      ("WITH b AS (SELECT event_id, user_id u, CAST(floor(value) AS BIGINT) v, " +
        s"${interleaveSql("(user_id & 65535)", "(CAST(floor(value) AS BIGINT) & 65535)")} zval " +
        "FROM events), " +
        "lay AS (SELECT u, v, layout, blk FROM b, LATERAL (VALUES " +
        "('natural', event_id // 1024), ('userclust', u // 16), " +
        "('zorder', zval // 16384)) t(layout, blk)), " +
        "stats AS (SELECT layout, blk, min(u) min_u, max(u) max_u, " +
        "min(v) min_v, max(v) max_v FROM lay GROUP BY 1, 2), " +
        s"pr(kind, ulo, uhi, vlo, vhi) AS (VALUES $zonemapProbesSql), " +
        "probed AS (SELECT layout, kind, " +
        "CASE WHEN (ulo IS NULL OR (max_u >= ulo AND min_u <= uhi)) " +
        "AND (vlo IS NULL OR (max_v >= vlo AND min_v <= vhi)) THEN 1 ELSE 0 END sc " +
        "FROM stats CROSS JOIN pr) " +
        "SELECT layout, kind, (count(*) // 4)::BIGINT n_blocks, " +
        "sum(sc)::BIGINT blocks_scanned, " +
        "floor(sum(sc) / ((count(*) // 4) * 4) * 10000) / 10000 AS scan_frac " +
        "FROM probed GROUP BY 1, 2"),
    "q_bucketed_join" ->
      ("SELECT c_mktsegment, count(*) AS n_orders, " +
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS revenue_cents " +
        "FROM orders JOIN customer ON o_custkey = c_custkey GROUP BY 1"),
    "q_bloom_prune" ->
      ("SELECT p_type, count(*) AS n_items, " +
        "sum(CAST(floor(l_extendedprice * 100 + 0.5) AS BIGINT))::BIGINT AS revenue_cents " +
        "FROM lineitem JOIN part ON l_partkey = p_partkey " +
        "WHERE p_brand = 'Brand#17' GROUP BY 1"),
    "q_dpp_prune" ->
      ("WITH m AS (SELECT strftime(o_orderdate, '%Y-%m') om, count(*)::BIGINT n " +
        "FROM orders GROUP BY 1), " +
        "r AS (SELECT om, row_number() OVER (ORDER BY n DESC, om) rnk FROM m) " +
        "SELECT strftime(o_orderdate, '%Y-%m') AS o_month, " +
        "count(*) AS n_orders, " +
        "sum(CAST(floor(o_totalprice * 100 + 0.5) AS BIGINT))::BIGINT AS revenue_cents " +
        "FROM orders JOIN r ON strftime(o_orderdate, '%Y-%m') = r.om " +
        "WHERE r.rnk <= 3 GROUP BY 1"),
    "q_global_rank" ->
      ("SELECT event_id, CAST(floor(value * 100 + 0.5) AS BIGINT) AS cents, " +
        "row_number() OVER (ORDER BY CAST(floor(value * 100 + 0.5) AS BIGINT) DESC, " +
        "event_id)::BIGINT AS pos FROM events"),
    "q_mixture_sample" ->
      (s"WITH c AS (SELECT source, n_chars, $mixtureRateSql AS target_rate, " +
        "CASE WHEN ('0x'||substr(md5('mix|'||doc_id),1,15))::BIGINT % 1000000 " +
        s"< CAST(floor(($mixtureRateSql) * 1000000) AS BIGINT) THEN 1 ELSE 0 END AS kept " +
        "FROM documents) " +
        "SELECT source, max(target_rate) AS target_rate, count(*) AS n_total, " +
        "sum(kept)::BIGINT AS n_sampled, " +
        "floor(sum(kept)::DOUBLE / count(*) * 10000) / 10000 AS achieved_rate, " +
        "sum(kept * n_chars)::BIGINT AS n_chars_sampled FROM c GROUP BY 1"),
    // the oracle is the UNSALTED aggregation: salting must not change results
    "q_salted_agg" ->
      ("SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value " +
        "FROM events GROUP BY user_id"),
    "q_zorder" ->
      ("WITH b AS (SELECT event_id, user_id & 65535 AS x, " +
        "CAST(floor(value) AS BIGINT) & 65535 AS y FROM events), " +
        s"z AS (SELECT event_id, ${interleaveSql("x", "y")} AS zval FROM b) " +
        "SELECT event_id, zval, zval // 1024 AS zblock FROM z"),
    "q_skew_audit" ->
      ("WITH c AS (SELECT l_partkey, count(*) n FROM lineitem GROUP BY 1), " +
        "r AS (SELECT l_partkey, n, " +
        "floor(n::DOUBLE / sum(n) OVER () * 1000000) / 1000000 AS share, " +
        "row_number() OVER (ORDER BY n DESC, l_partkey) rnk FROM c) " +
        "SELECT l_partkey, n, share, rnk FROM r WHERE rnk <= 5"),
    // the oracle is the FULL recompute: state ⊎ delta must equal it
    "q_incr_agg" ->
      ("SELECT user_id, count(*) AS n, round(sum(value), 2) AS sum_value " +
        "FROM events GROUP BY user_id"),
    // cross-derivation: full-join totals minus state-join totals must
    // equal the three-term delta union the operator actually computes
    "q_incr_join" ->
      ("WITH ij AS (SELECT o.o_orderkey, o_orderkey % 97 = 0 AS od, " +
        "(l.l_orderkey + l.l_linenumber) % 97 = 0 AS ld, " +
        "CAST(floor(l.l_extendedprice * 100 + 0.5) AS BIGINT) cents " +
        "FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey), " +
        "f AS (SELECT count(*) n, coalesce(sum(cents), 0)::BIGINT c FROM ij), " +
        "s AS (SELECT count(*) n, coalesce(sum(cents), 0)::BIGINT c FROM ij " +
        "WHERE NOT od AND NOT ld) " +
        "SELECT (f.n - s.n)::BIGINT AS n_delta_rows, " +
        "(f.c - s.c)::BIGINT AS delta_cents FROM f, s"))
}
