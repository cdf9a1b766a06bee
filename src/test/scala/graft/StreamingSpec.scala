package graft

import graft.obs.Recorder
import graft.operators.Transaction
import graft.streaming.Streaming
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions.{col, concat, explode, array, element_at, floor, lit, pmod}
import org.apache.spark.sql.streaming.OutputMode
import java.sql.Timestamp

/** Structured Streaming semantics batch-by-batch over MemoryStream
  * (SURVEY.md §5.4): windows, watermark late-data drop, sessions,
  * streaming dedup, stateful fraud flags. */
class StreamingSpec extends SparkSpec {

  private def txn(id: String, user: Int, amount: Double, kind: String, ts: String,
      currency: String = "USD"): Transaction =
    Transaction(id, user, amount, currency, Some(kind),
      Some(Map("merchant" -> "m")), Some("""{"merchant":"m"}"""),
      Timestamp.valueOf(ts))

  private def withQuery[T](q: org.apache.spark.sql.streaming.StreamingQuery)(body: => T): T =
    try body finally q.stop()

  /** Runs `body` and returns its result with the total state rows of
    * each query progress it made that reports state operators, in
    * arrival order. */
  private def peakStateRows[T](body: => T): (T, Seq[Long]) = {
    val (out, rec) = Recorder(spark)(body)
    (out, StreamStateProbe.stateTotals(rec.progress).map(_._1))
  }

  test("batch PII redaction lifts onto a document stream unchanged") {
    // redactPii is a pure scan projection, so the SAME operator runs on
    // a streaming DataFrame with no adaptation — the batch/stream reuse
    // a declarative-first library buys. (Window-based L4 operators like
    // repetition() do not lift; they need the batch path or a
    // mapGroupsWithState restatement.)
    import spark.implicits._
    val in = MemoryStream[(Long, String)](spark)
    val streamed = graft.operators.TextOps.redactPii(
      in.toDF().toDF("doc_id", "text"))
    val q = Streaming.toMemory(streamed, "redact_s", OutputMode.Append())
    val docs = Seq(
      (0L, "call me maybe"), (1L, "some text"), (2L, "other text"), (4L, "plain"))
    withQuery(q) {
      in.addData(docs: _*)
      q.processAllAvailable()
      val got = spark.table("redact_s").collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_emails"),
          r.getAs[Long]("n_phones"), r.getAs[Long]("n_ips"), r.getAs[String]("redact_hash")))
        .sortBy(_._1)
      val batch = graft.operators.TextOps.redactPii(docs.toDF("doc_id", "text")).collect()
        .map(r => (r.getAs[Long]("doc_id"), r.getAs[Long]("n_emails"),
          r.getAs[Long]("n_phones"), r.getAs[Long]("n_ips"), r.getAs[String]("redact_hash")))
        .sortBy(_._1)
      assert(got.toSeq === batch.toSeq)
      assert(got.map(x => (x._2, x._3, x._4)).toSeq ===
        Seq((1L, 0L, 0L), (0L, 1L, 0L), (0L, 0L, 1L), (0L, 0L, 0L)))
    }
  }

  test("windowedVolume: tumbling windows finalize after the watermark passes") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val agg = Streaming.windowedVolume(in.toDF(), watermark = "1 minute", window_ = "5 minutes")
    val q = Streaming.toMemory(agg, "wv", OutputMode.Append())
    withQuery(q) {
      in.addData(
        txn("a", 1, 10.0, "credit", "2025-01-01 10:01:00"),
        txn("b", 1, 20.0, "credit", "2025-01-01 10:02:00"),
        txn("c", 2, 5.0, "debit", "2025-01-01 10:06:00", currency = "EUR"))
      q.processAllAvailable()
      // nothing finalized yet (watermark = 10:05 window [10:00,10:05) not < close? event max 10:06 → wm 10:05 ≥ window end 10:05 → closes)
      in.addData(txn("d", 3, 1.0, "credit", "2025-01-01 10:20:00"))
      q.processAllAvailable()
      val rows = spark.table("wv").collect()
        .map(r => (r.getAs[Timestamp]("win_start").toString, r.getAs[String]("currency"),
          r.getAs[Long]("n_txns"), r.getAs[Double]("volume")))
      assert(rows.contains(("2025-01-01 10:00:00.0", "USD", 2L, 30.0)))
      assert(rows.contains(("2025-01-01 10:05:00.0", "EUR", 1L, 5.0)))
    }
  }

  test("windowedVolume: late data beyond the watermark is dropped") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val agg = Streaming.windowedVolume(in.toDF(), watermark = "1 minute", window_ = "5 minutes")
    val q = Streaming.toMemory(agg, "late", OutputMode.Append())
    withQuery(q) {
      in.addData(txn("a", 1, 10.0, "credit", "2025-01-01 10:01:00"))
      q.processAllAvailable()
      in.addData(txn("b", 1, 99.0, "credit", "2025-01-01 12:00:00")) // advances wm to 11:59
      q.processAllAvailable()
      in.addData(txn("late", 1, 7.0, "credit", "2025-01-01 10:02:00")) // < wm → dropped
      q.processAllAvailable()
      in.addData(txn("c", 1, 1.0, "credit", "2025-01-01 14:00:00")) // close 12:00 window
      q.processAllAvailable()
      val vol = spark.table("late").collect()
        .map(r => r.getAs[Timestamp]("win_start").toString -> r.getAs[Double]("volume")).toMap
      assert(vol("2025-01-01 10:00:00.0") === 10.0) // late 7.0 NOT added
    }
  }

  test("windowedVolume sliding: one event lands in both overlapping windows") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val agg = Streaming.windowedVolume(in.toDF(), watermark = "1 minute",
      window_ = "10 minutes", slide = Some("5 minutes"))
    val q = Streaming.toMemory(agg, "slide", OutputMode.Append())
    withQuery(q) {
      in.addData(txn("a", 1, 10.0, "credit", "2025-01-01 10:07:00"))
      q.processAllAvailable()
      in.addData(txn("z", 9, 1.0, "credit", "2025-01-01 11:00:00")) // advance wm, close both
      q.processAllAvailable()
      val wins = spark.table("slide").collect()
        .filter(_.getAs[Double]("volume") == 10.0)
        .map(_.getAs[Timestamp]("win_start").toString).sorted
      assert(wins.toSeq === Seq("2025-01-01 10:00:00.0", "2025-01-01 10:05:00.0"))
    }
  }

  test("sessionVolume: inactivity gap splits sessions") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val agg = Streaming.sessionVolume(in.toDF(), gap = "5 minutes", watermark = "1 minute")
    val q = Streaming.toMemory(agg, "sess", OutputMode.Append())
    withQuery(q) {
      in.addData(
        txn("a", 1, 1.0, "credit", "2025-01-01 10:00:00"),
        txn("b", 1, 2.0, "credit", "2025-01-01 10:02:00"), // same session
        txn("c", 1, 4.0, "credit", "2025-01-01 10:30:00")) // new session
      q.processAllAvailable()
      in.addData(txn("z", 9, 0.1, "credit", "2025-01-01 11:00:00")) // advance wm
      q.processAllAvailable()
      val rows = spark.table("sess").collect()
        .filter(_.getAs[Int]("user_id") == 1)
        .map(r => r.getAs[Long]("n_txns") -> r.getAs[Double]("volume")).toSet
      assert(rows === Set(2L -> 3.0, 1L -> 4.0))
    }
  }

  test("dedupStream drops duplicate transaction ids across batches") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val q = Streaming.toMemory(Streaming.dedupStream(in.toDF(), watermark = "1 hour"), "dedup")
    withQuery(q) {
      in.addData(
        txn("dup-1", 1, 10.0, "credit", "2025-01-01 10:00:00"),
        txn("dup-1", 1, 10.0, "credit", "2025-01-01 10:00:30"),
        txn("uniq-2", 2, 5.0, "debit", "2025-01-01 10:01:00"))
      q.processAllAvailable()
      in.addData(txn("dup-1", 1, 10.0, "credit", "2025-01-01 10:02:00"))
      q.processAllAvailable()
      val ids = spark.table("dedup").collect().map(_.getAs[String]("transaction_id"))
      assert(ids.sorted.toSeq === Seq("dup-1", "uniq-2"))
    }
  }

  test("dedupPayloadStream: double-submits under fresh ids are dropped, distinct payloads pass") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val q = Streaming.toMemory(
      Streaming.dedupPayloadStream(in.toDF(), watermark = "1 hour"), "paydedup")
    withQuery(q) {
      in.addData(
        txn("id-1", 1, 10.0, "credit", "2025-01-01 10:00:00"),
        txn("id-2", 1, 10.0, "credit", "2025-01-01 10:00:05"), // retry, new id
        txn("id-3", 1, 10.5, "credit", "2025-01-01 10:00:10")) // different amount
      q.processAllAvailable()
      in.addData(txn("id-4", 1, 10.0, "credit", "2025-01-01 10:05:00")) // retry next batch
      q.processAllAvailable()
      val ids = spark.table("paydedup").collect().map(_.getAs[String]("transaction_id")).sorted
      assert(ids.toSeq === Seq("id-1", "id-3"),
        s"payload dedup kept wrong rows: ${ids.mkString(",")}")
    }
  }

  test("dedupPayloadStream bucketed: identical payloads in later bucket are admitted") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    // 1-minute buckets: only near-instant repeats collide; a genuine
    // same-payload purchase minutes later lands in another bucket
    val q = Streaming.toMemory(
      Streaming.dedupPayloadStream(in.toDF(), watermark = "1 hour",
        bucketMs = 60000L), "paydedup_bucketed")
    withQuery(q) {
      in.addData(
        txn("id-1", 1, 10.0, "credit", "2025-01-01 10:00:00"),
        txn("id-2", 1, 10.0, "credit", "2025-01-01 10:00:05"), // same bucket → retry, dropped
        txn("id-3", 1, 10.0, "credit", "2025-01-01 10:03:00")) // later bucket → legitimate, kept
      q.processAllAvailable()
      val ids = spark.table("paydedup_bucketed").collect()
        .map(_.getAs[String]("transaction_id")).sorted
      assert(ids.toSeq === Seq("id-1", "id-3"),
        s"bucketed payload dedup kept wrong rows: ${ids.mkString(",")}")
    }
  }

  test("structuringFlags: 3 in-band txns in one window flag; out-of-band and sparse don't") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val flags = Streaming.structuringFlags(in.toDF(),
      watermark = "1 minute", window_ = "1 hour")
    val q = Streaming.toMemory(flags, "structuring", OutputMode.Append())
    withQuery(q) {
      in.addData(
        // user 1: three sub-threshold txns in the 10:00 window → flag
        txn("s1", 1, 60.0, "debit", "2025-01-01 10:05:00"),
        txn("s2", 1, 70.0, "debit", "2025-01-01 10:15:00"),
        txn("s3", 1, 80.0, "debit", "2025-01-01 10:40:00"),
        // user 2: two in-band only → no flag
        txn("s4", 2, 60.0, "debit", "2025-01-01 10:10:00"),
        txn("s5", 2, 60.0, "debit", "2025-01-01 10:20:00"),
        // user 3: three txns but out of band (>= 100) → no flag
        txn("s6", 3, 150.0, "debit", "2025-01-01 10:10:00"),
        txn("s7", 3, 150.0, "debit", "2025-01-01 10:20:00"),
        txn("s8", 3, 150.0, "debit", "2025-01-01 10:30:00"))
      q.processAllAvailable()
      in.addData(txn("adv", 9, 60.0, "debit", "2025-01-01 12:30:00")) // advance watermark
      q.processAllAvailable()
      val rows = spark.table("structuring").collect()
        .map(r => (r.getAs[Int]("user_id"), r.getAs[Long]("n_sub"), r.getAs[Double]("sum_sub")))
      assert(rows.toSeq === Seq((1, 3L, 210.0)), s"got ${rows.mkString(",")}")
    }
  }

  test("upsertSink: keeps latest per user across batches; only touched buckets rewritten") {
    import spark.implicits._
    val dir = java.nio.file.Files.createTempDirectory("graft-upsert")
    val store = dir.toString + "/store"
    val ckpt = dir.toString + "/ckpt"
    val in = MemoryStream[Transaction](spark)
    val q = Streaming.upsertSink(in.toDF(), store, ckpt, buckets = 4)
    try {
      in.addData(
        txn("a1", 1, 10.0, "credit", "2025-01-01 10:00:00"),
        txn("b1", 2, 20.0, "credit", "2025-01-01 10:00:00"))
      q.processAllAvailable()
      val files1 = spark.read.parquet(store).inputFiles.toSet
      in.addData(
        txn("a2", 1, 11.0, "debit", "2025-01-01 11:00:00"), // update user 1 (kb=1)
        txn("c1", 7, 70.0, "credit", "2025-01-01 11:00:00")) // new user (kb=3)
      q.processAllAvailable()
      val state = spark.read.parquet(store).collect()
        .map(r => r.getAs[Int]("user_id") ->
          (r.getAs[String]("transaction_id"), r.getAs[Double]("amount"))).toMap
      assert(state === Map(1 -> ("a2", 11.0), 2 -> ("b1", 20.0), 7 -> ("c1", 70.0)))
      // user 2's bucket (kb=2) was untouched by batch 2 — its file survives
      val files2 = spark.read.parquet(store).inputFiles.toSet
      val kept = files1.filter(_.contains("kb=2"))
      assert(kept.nonEmpty && kept.subsetOf(files2),
        s"untouched bucket was rewritten: before=$files1 after=$files2")
    } finally q.stop()
  }

  test("amountHistogram + psiVsReference: finalized bins equal batch binning; drift fires") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val agg = Streaming.amountHistogram(in.toDF(), nBins = 4, binCents = 5000L,
      watermark = "1 minute", window_ = "5 minutes")
    val q = Streaming.toMemory(agg, "hist", OutputMode.Append())
    withQuery(q) {
      // window A (10:00): two bin-0 and two bin-1 amounts
      // window B (10:05): four bin-3 amounts — a full distribution shift
      in.addData(
        txn("a1", 1, 10.0, "debit", "2025-01-01 10:00:30"),
        txn("a2", 2, 12.0, "debit", "2025-01-01 10:01:00"),
        txn("a3", 3, 60.0, "debit", "2025-01-01 10:02:00"),
        txn("a4", 4, 61.0, "debit", "2025-01-01 10:03:00"),
        txn("b1", 5, 150.0, "debit", "2025-01-01 10:05:30"),
        txn("b2", 6, 151.0, "debit", "2025-01-01 10:06:00"),
        txn("b3", 7, 152.0, "debit", "2025-01-01 10:07:00"),
        txn("b4", 8, 153.0, "debit", "2025-01-01 10:08:00"))
      q.processAllAvailable()
      in.addData(txn("adv", 9, 1.0, "debit", "2025-01-01 10:30:00")) // close both windows
      q.processAllAvailable()
      val winA = java.sql.Timestamp.valueOf("2025-01-01 10:00:00")
      val winB = java.sql.Timestamp.valueOf("2025-01-01 10:05:00")
      val rows = spark.table("hist").collect()
      val histA = rows.filter(_.getAs[java.sql.Timestamp]("win_start") == winA)
        .map(r => r.getAs[Long]("bin") -> r.getAs[Long]("n")).toMap
      assert(histA === Map(0L -> 2L, 1L -> 2L), s"window A bins: $histA")
      // reference = window A's own distribution: A scores exactly 0,
      // B's full bin shift scores far past the 0.2 alert convention
      val ref = Seq((0L, 2L), (1L, 2L)).toDF("bin", "n")
      val psi = Streaming.psiVsReference(spark.table("hist"), ref, nBins = 4)
        .collect().map(r => r.getAs[java.sql.Timestamp]("win_start") -> r.getAs[Double]("psi"))
        .toMap
      assert(psi(winA) === 0.0)
      assert(psi(winB) > 1.0, s"shifted window PSI ${psi(winB)}")
    }
  }

  test("cmsCounters: finalized window's counters equal the batch sketch over the same events") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val agg = Streaming.cmsCounters(in.toDF(), depth = 2, width = 16,
      watermark = "1 minute", window_ = "5 minutes")
    val q = Streaming.toMemory(agg, "cms", OutputMode.Append())
    withQuery(q) {
      val txns = Seq(
        txn("c1", 1, 60.0, "debit", "2025-01-01 10:01:00"),
        txn("c2", 2, 60.9, "debit", "2025-01-01 10:02:00"), // same dollar bucket as c1
        txn("c3", 3, 75.0, "debit", "2025-01-01 10:03:00"),
        txn("c4", 4, 75.0, "debit", "2025-01-01 10:04:30"))
      in.addData(txns: _*)
      q.processAllAvailable()
      in.addData(txn("adv", 9, 1.0, "debit", "2025-01-01 10:30:00")) // close the window
      q.processAllAvailable()
      val streamed = spark.table("cms").collect()
        .map(r => (r.getAs[Int]("i").toLong, r.getAs[Long]("bucket")) -> r.getAs[Long]("c")).toMap
      // batch sketch over the same four events (via the operator's own hashing)
      val batch = txns.toDF()
        .select(floor(col("amount")).cast("long").as("amt"),
          explode(array(lit(0), lit(1))).as("i"))
        .withColumn("bucket", pmod(graft.functions.TextHash.hash60(
          concat(col("i").cast("string"), lit("|"), col("amt").cast("string"))), lit(16L)))
        .groupBy("i", "bucket").count().collect()
        .map(r => (r.getAs[Int]("i").toLong, r.getAs[Long]("bucket")) -> r.getAs[Long]("count")).toMap
      assert(streamed === batch, s"streamed=$streamed batch=$batch")
      // every row's total per hash row = number of events
      (0L to 1L).foreach { i =>
        assert(streamed.collect { case ((r, _), c) if r == i => c }.sum === 4L)
      }
    }
  }

  test("hllRegisters: finalized window's registers equal the batch sketch; repeats are idempotent") {
    import spark.implicits._
    import org.apache.spark.sql.functions.{bin, expr, length, max, when}
    val in = MemoryStream[Transaction](spark)
    val agg = Streaming.hllRegisters(in.toDF(), m = 16,
      watermark = "1 minute", window_ = "5 minutes")
    val q = Streaming.toMemory(agg, "hll", OutputMode.Append())
    withQuery(q) {
      val txns = Seq(
        txn("h1", 1, 10.0, "debit", "2025-01-01 10:01:00"),
        txn("h2", 2, 10.0, "debit", "2025-01-01 10:02:00"),
        txn("h3", 2, 10.0, "debit", "2025-01-01 10:03:00"), // repeat user: max is idempotent
        txn("h4", 7, 10.0, "debit", "2025-01-01 10:04:00"))
      in.addData(txns: _*)
      q.processAllAvailable()
      in.addData(txn("adv", 9, 1.0, "debit", "2025-01-01 10:30:00")) // close the window
      q.processAllAvailable()
      val streamed = spark.table("hll").collect()
        .map(r => r.getAs[Long]("reg") -> r.getAs[Long]("mx")).toMap
      // batch registers over the same users (the operator's own bit-math)
      val batch = txns.toDF()
        .select(col("user_id").cast("string").as("v"))
        .withColumn("h", graft.functions.TextHash.hash60(col("v")))
        .withColumn("reg", pmod(col("h"), lit(16L)))
        .withColumn("rest", expr("h div 16"))
        .withColumn("rho", when(col("rest") === 0L, lit(53L))
          .otherwise(length(bin(expr("rest & -rest"))).cast("long")))
        .groupBy("reg").agg(max("rho").as("mx")).collect()
        .map(r => r.getAs[Long]("reg") -> r.getAs[Long]("mx")).toMap
      assert(streamed === batch, s"streamed=$streamed batch=$batch")
      // 3 distinct users land in at most 3 registers
      assert(streamed.size <= 3)
    }
  }

  test("fraudFlags: 4th debit in window raises a flag; spread-out debits do not") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val flags = Streaming.fraudFlags(spark, in.toDS(), maxDebits = 3, windowMs = 600000L)
    val q = Streaming.toMemory(flags.toDF(), "fraud")
    withQuery(q) {
      in.addData(
        txn("d1", 7, 10.0, "debit", "2025-01-01 10:00:00"),
        txn("d2", 7, 20.0, "debit", "2025-01-01 10:02:00"),
        txn("d3", 7, 30.0, "debit", "2025-01-01 10:04:00"),
        txn("d4", 7, 40.0, "debit", "2025-01-01 10:06:00"), // 4 in 10 min → flag
        txn("s1", 8, 10.0, "debit", "2025-01-01 10:00:00"),
        txn("s2", 8, 10.0, "debit", "2025-01-01 10:20:00"),
        txn("c1", 7, 99.0, "credit", "2025-01-01 10:07:00")) // credits don't count
      q.processAllAvailable()
      val rows = spark.table("fraud").collect()
      assert(rows.length === 1)
      val f = rows.head
      assert(f.getAs[Int]("user_id") === 7 && f.getAs[Long]("n_debits") === 4L
        && f.getAs[Double]("total_amount") === 100.0)
    }
  }

  test("attributionStream: purchases credit the latest prior touch, lookback enforced") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val hits = Streaming.attributionStream(spark, in.toDS(),
      lookbackMs = 3600000L) // 1h lookback for the test
    val q = Streaming.toMemory(hits.toDF(), "attrib")
    withQuery(q) {
      in.addData(
        txn("c1", 1, 0.0, "click", "2025-01-01 10:00:00"),
        txn("v1", 1, 0.0, "view", "2025-01-01 10:10:00"),
        txn("p1", 1, 50.0, "purchase", "2025-01-01 10:30:00"), // credits v1
        txn("c2", 2, 0.0, "click", "2025-01-01 08:00:00"),
        txn("p2", 2, 10.0, "purchase", "2025-01-01 10:30:00"), // 2.5h later → no credit
        txn("p3", 3, 10.0, "purchase", "2025-01-01 10:30:00")) // no touch at all
      q.processAllAvailable()
      // state carries ACROSS batches: user 1 purchases again in batch 2
      in.addData(txn("p4", 1, 20.0, "purchase", "2025-01-01 10:40:00"))
      q.processAllAvailable()
      val rows = spark.table("attrib").collect()
      assert(rows.map(_.getAs[String]("purchase_id")).sorted.toSeq === Seq("p1", "p4"))
      rows.foreach { r =>
        assert(r.getAs[String]("last_touch_id") === "v1") // v1 is latest touch
        assert(r.getAs[String]("last_touch_type") === "view")
      }
      val p1 = rows.find(_.getAs[String]("purchase_id") == "p1").get
      assert(p1.getAs[Long]("mins_since_last") === 20L)
    }
  }

  test("runningBalance accumulates credits minus debits across batches") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val bal = Streaming.runningBalance(spark, in.toDS()).toDF("user_id", "balance")
    val q = Streaming.toMemory(bal, "bal", OutputMode.Update())
    withQuery(q) {
      in.addData(txn("a", 1, 100.0, "credit", "2025-01-01 10:00:00"))
      q.processAllAvailable()
      in.addData(txn("b", 1, 30.0, "debit", "2025-01-01 10:01:00"))
      q.processAllAvailable()
      val latest = spark.table("bal").collect()
        .map(r => r.getAs[Int]("user_id") -> r.getAs[Double]("balance"))
      assert(latest.contains(1 -> 70.0))
    }
  }

  test("runningBalanceTtl: accumulation, out-of-order events never shorten the TTL, eviction flushes") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val bal = Streaming.runningBalanceTtl(spark, in.toDS(),
      ttlMs = 3600000L, watermark = "10 minutes").toDF()
    val q = Streaming.toMemory(bal, "balttl", OutputMode.Append())
    withQuery(q) {
      in.addData(
        txn("a", 1, 100.0, "credit", "2025-01-01 10:00:00"),
        txn("b", 1, 30.0, "debit", "2025-01-01 10:01:00"),
        txn("c", 2, 5.0, "credit", "2025-01-01 10:02:00"))
      q.processAllAvailable()
      // OUT-OF-ORDER (but non-late) event: timestamp BEFORE the user's
      // anchor (10:01). Must add to the balance and must NOT re-arm the
      // TTL earlier (anchor stays 10:01 → timeout 11:01)
      in.addData(txn("ooo", 1, 10.0, "credit", "2025-01-01 09:55:00"))
      q.processAllAvailable()
      // advance the watermark to 10:58 — PAST the mis-armed timeout a
      // last-batch-only anchor would produce (09:55 + 1h = 10:55) but
      // BEFORE the true one (11:01); the next batch processes timeouts
      in.addData(txn("z1", 9, 1.0, "credit", "2025-01-01 11:08:00"))
      q.processAllAvailable()
      in.addData(txn("z2", 9, 1.0, "credit", "2025-01-01 11:09:00"))
      q.processAllAvailable()
      // user 1 must still be live: this accumulates onto 80, not onto a
      // freshly-evicted 0
      in.addData(txn("d", 1, 5.0, "credit", "2025-01-01 11:30:00"))
      q.processAllAvailable()
      // now genuinely exceed the TTL for everyone and flush
      in.addData(txn("z3", 9, 1.0, "credit", "2025-01-01 13:45:00"))
      q.processAllAvailable()
      in.addData(txn("z4", 9, 1.0, "credit", "2025-01-01 13:46:00"))
      q.processAllAvailable()
      val rows = spark.table("balttl").collect()
        .map(r => (r.getAs[Int]("user_id"), r.getAs[Double]("balance"),
          r.getAs[Boolean]("evicted")))
      assert(rows.contains((1, 70.0, false))) // 100 − 30 live update
      assert(rows.contains((1, 80.0, false))) // + out-of-order credit
      assert(rows.contains((1, 85.0, false)), // state survived wm 10:58
        s"balance restarted — early eviction bug: ${rows.sorted.mkString(",")}")
      assert(rows.contains((1, 85.0, true))) // final flush-on-evict row
      assert(!rows.contains((1, 80.0, true)), "user 1 evicted early")
      assert(rows.contains((2, 5.0, true)))
      // user 9 stayed within its TTL — must NOT be evicted
      assert(!rows.exists(r => r._1 == 9 && r._3))
    }
  }

  test("StreamBench.run reports sustained rows/s over a bounded window (honesty check)") {
    // 4 s wall-clock cap keeps the suite fast; the assertion is shape
    // (measured batches exist, positive rate), not a capacity claim —
    // capacity numbers live in PERF.md from the 20 s standalone run
    val (rps, batches) = StreamBench.run(spark, rocksDb = false,
      seconds = 4, rowsPerSecond = 100000L)
    assert(batches > 0, "no completed batches measured in the window")
    assert(rps > 0.0)
  }

  /** Runs `body` over a fresh 3-file parquet input (one micro-batch per
    * file at maxFilesPerTrigger = 1), removed after. */
  private def withThreeFileInput[T](body: String => T): T = {
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-drive-in")
    try {
      (0L until 3L).toDF("x").repartition(3).write.parquet(s"$root/in")
      body(s"$root/in")
    } finally Streaming.rmTree(root.toFile)
  }

  test("driveReplay: a failing batch propagates and leaks no temp dir, conf or cache") {
    withThreeFileInput { in =>
      val conf0 = spark.conf.getAll
      val cached0 = org.apache.spark.sql.CachedRelations.count(spark)
      // the run's temp tree, seen from inside (other forked suites share
      // java.io.tmpdir, so a before/after listing of it would race them)
      @volatile var runRoot: java.io.File = null
      val failing = Streaming.BatchSink(OutputMode.Append(), out => (_, batchId) => {
        runRoot = new java.io.File(out).getParentFile
        if (batchId == 1L) throw new IllegalStateException("injected batch-1 failure")
      })
      val err = intercept[org.apache.spark.sql.streaming.StreamingQueryException] {
        Streaming.driveReplay(spark, in, identity, failing, maxFilesPerTrigger = Some(1),
          pinPartitions = true, rocksDb = Some(true))(_ => ())
      }
      val causes = Iterator.iterate[Throwable](err)(_.getCause).takeWhile(_ != null)
      assert(causes.exists(c => String.valueOf(c.getMessage).contains("injected batch-1")),
        s"injected failure not propagated: $err")
      assert(runRoot.getName.startsWith("graft-") &&
        runRoot.getParentFile == new java.io.File(System.getProperty("java.io.tmpdir")))
      assert(!runRoot.exists(), s"driver left its temp tree $runRoot behind")
      assert(spark.conf.getAll === conf0, "driver left a conf override behind")
      assert(org.apache.spark.sql.CachedRelations.count(spark) === cached0,
        "driver left a cached relation behind")
    }
  }

  test("driveReplay pins conf on the stream's session only, never the caller's") {
    val sp = "spark.sql.shuffle.partitions"
    val provider = "spark.sql.streaming.stateStore.providerClass"
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[(String, String, String)]()
    withThreeFileInput { in =>
      // the caller's width differs from the pin, so a leak would show
      Scope.withConf(spark, Seq(sp -> Some("3"))) {
        val batches = Recorder(spark)(Streaming.driveReplay(spark, in, identity,
          Streaming.BatchSink(OutputMode.Append(), _ => (b, _) => {
            seen.add((spark.conf.get(sp), b.sparkSession.conf.get(sp),
              b.sparkSession.conf.get(provider)))
            ()
          }), maxFilesPerTrigger = Some(1), pinPartitions = true,
          rocksDb = Some(true))(_ => ()))._2.progress.size
        assert(batches === 3) // one per file, all recorded
        assert(spark.conf.get(sp) === "3")
      }
    }
    import scala.jdk.CollectionConverters._
    assert(seen.size === 3)
    assert(seen.asScala.toSeq.map(_._1).distinct === Seq("3"),
      "the caller's session carried the pin while batches ran")
    assert(seen.asScala.toSeq.map(t => (t._2, t._3)).distinct === Seq(
      (Streaming.ReplayPartitions.toString,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")))
  }

  test("stream-stream join: debit matches in-window same-user credits only") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val joined = Streaming.debitCreditJoin(in.toDF())
    val q = Streaming.toMemory(joined, "ssj", OutputMode.Append())
    withQuery(q) {
      in.addData(
        txn("c-old", 1, 5.0, "credit", "2025-01-01 08:00:00"),  // > 1h before → no match
        txn("c-in", 1, 7.0, "credit", "2025-01-01 09:30:00"),   // in window → match
        txn("c-other", 2, 9.0, "credit", "2025-01-01 09:45:00"), // other user → no match
        txn("d-1", 1, 50.0, "debit", "2025-01-01 10:00:00"))
      q.processAllAvailable()
      val rows = spark.table("ssj").collect()
        .map(r => (r.getAs[String]("debit_id"), r.getAs[String]("credit_id")))
      assert(rows.toSet === Set(("d-1", "c-in")))
    }
  }

  test("stream-static join enriches the stream from a dimension table") {
    import spark.implicits._
    val in = MemoryStream[Transaction](spark)
    val dim = Seq((1, "gold"), (2, "basic")).toDF("user_id", "tier")
    val q = Streaming.toMemory(Streaming.enrichWithStatic(in.toDF(), dim), "enrich")
    withQuery(q) {
      in.addData(txn("a", 1, 10.0, "credit", "2025-01-01 10:00:00"))
      q.processAllAvailable()
      val r = spark.table("enrich").collect().head
      assert(r.getAs[String]("tier") === "gold")
    }
  }

  test("checkpoint recovery: restart resumes from offsets, no batch reprocessed") {
    import java.nio.file.Files
    val inDir = Files.createTempDirectory("graft-ck-in").toString
    val outDir = Files.createTempDirectory("graft-ck-out").toString
    val ckDir = Files.createTempDirectory("graft-ck").toString
    def drop(name: String, id: String): Unit =
      Files.write(java.nio.file.Paths.get(s"$inDir/$name"),
        s"""{"transaction_id":"$id","user_id":1,"amount":1.0,"currency":"USD","type":"credit","metadata":{"merchant":"m"},"timestamp":"2025-08-27T10:00:00.000001Z"}"""
          .getBytes("UTF-8"))
    drop("f1.json", "t-1")
    val q1 = Streaming.toParquetBatches(
      Streaming.fileIngest(spark, inDir), outDir, ckDir)
    q1.processAllAvailable(); q1.stop()
    drop("f2.json", "t-2")
    val q2 = Streaming.toParquetBatches(
      Streaming.fileIngest(spark, inDir), outDir, ckDir)
    q2.processAllAvailable(); q2.stop()
    val all = spark.read.parquet(s"$outDir/batch=*")
      .select("transaction_id").collect().map(_.getString(0)).sorted
    // t-1 exactly once (batch 0), t-2 exactly once (batch 1 after restart)
    assert(all.toSeq === Seq("t-1", "t-2"))
  }

  test("exactly-once sink: a crash between sink write and checkpoint commit does not double-write") {
    import java.nio.file.{Files, Paths}
    val inDir = Files.createTempDirectory("graft-eo-in").toString
    val outDir = Files.createTempDirectory("graft-eo-out").toString
    val ckDir = Files.createTempDirectory("graft-eo-ck").toString
    def drop(name: String, id: String): Unit =
      Files.write(Paths.get(s"$inDir/$name"),
        s"""{"transaction_id":"$id","user_id":1,"amount":1.0,"currency":"USD","type":"credit","metadata":{"merchant":"m"},"timestamp":"2025-08-27T10:00:00.000001Z"}"""
          .getBytes("UTF-8"))
    drop("f1.json", "eo-1")
    val q1 = Streaming.toParquetBatches(
      Streaming.fileIngest(spark, inDir), outDir, ckDir)
    q1.processAllAvailable(); q1.stop()
    // Forge the exact crash window: batch 0's sink output is on disk but
    // its checkpoint commit marker never landed (foreachBatch completed,
    // process died mid-commit). On restart Spark MUST re-deliver
    // batchId 0 — the sink's batch-id-keyed overwrite is what turns that
    // at-least-once redelivery into exactly-once output.
    val commit0 = Paths.get(s"$ckDir/commits/0")
    assert(Files.exists(commit0), "test setup: commit marker for batch 0 missing")
    Files.delete(commit0)
    // local ChecksumFs keeps a .crc sidecar per marker — a real crash
    // loses both (they're written together); a stale sidecar would fail
    // the replayed rename instead of exercising the sink
    Files.deleteIfExists(Paths.get(s"$ckDir/commits/.0.crc"))
    // ... and make the double-write OBSERVABLE: plant a stray part file
    // in the batch-0 dir (the partial second attempt a crashed writer
    // leaves behind). An appending sink would keep it; the overwrite
    // must replace the directory wholesale.
    spark.read.parquet(s"$outDir/batch=0")
      .write.mode("append").parquet(s"$outDir/batch=0")
    assert(spark.read.parquet(s"$outDir/batch=0").count() === 2) // duplicated on disk
    drop("f2.json", "eo-2")
    val q2 = Streaming.toParquetBatches(
      Streaming.fileIngest(spark, inDir), outDir, ckDir)
    q2.processAllAvailable(); q2.stop()
    val all = spark.read.parquet(s"$outDir/batch=*")
      .select("transaction_id").collect().map(_.getString(0)).sorted
    // batch 0 was re-delivered (commit marker was gone) AND its replayed
    // write REPLACED the duplicated directory: every row exactly once
    assert(all.toSeq === Seq("eo-1", "eo-2"))
  }

  test("Trigger.AvailableNow drains the backlog and stops on its own") {
    import java.nio.file.Files
    import org.apache.spark.sql.streaming.Trigger
    val inDir = Files.createTempDirectory("graft-an-in").toString
    Files.write(java.nio.file.Paths.get(s"$inDir/a.json"),
      """{"transaction_id":"an-1","user_id":1,"amount":2.5,"currency":"USD","type":"credit","metadata":{"merchant":"m"},"timestamp":"2025-08-27T10:00:00.000001Z"}"""
        .getBytes("UTF-8"))
    val q = Streaming.fileIngest(spark, inDir).writeStream
      .format("memory").queryName("availnow")
      .trigger(Trigger.AvailableNow()).start()
    q.awaitTermination(60000) // AvailableNow terminates after the backlog
    assert(!q.isActive)
    assert(spark.table("availnow").count() === 1)
  }

  test("streamReplay: finalized windows equal the batch tumbling aggregation; no sentinel leaks") {
    import org.apache.spark.sql.functions._
    val got = Streaming.streamReplay(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy((floor(col("ts_ms") / 300000L) * 300000L).cast("long").as("win_start_ms"),
        col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
    // EVERY window finalized exactly once, values identical to batch
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.filter(col("event_type") === "__sentinel__").count() === 0)
  }

  test("streamTopK: per-window heavy hitters equal the batch ranking; no sentinel users") {
    import org.apache.spark.sql.functions._
    val got = Streaming.streamTopK(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy((floor(col("ts_ms") / 3600000L) * 3600000L).cast("long").as("win_start_ms"),
        col("user_id"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .withColumn("rnk", row_number().over(
        org.apache.spark.sql.expressions.Window
          .partitionBy(col("win_start_ms")).orderBy(col("n").desc, col("user_id"))).cast("long"))
      .filter(col("rnk") <= 3)
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.filter(col("user_id") < 0).count() === 0)
  }

  test("streamBurst: the streaming z-gate equals the batch detector row-for-row") {
    val got = Streaming.streamBurst(spark, sf)
    val batch = graft.operators.Monitoring.burstDetect(Tables.events(spark, sf))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
  }

  test("streamRateLimit: stateful token bucket equals a direct sequential replay per user") {
    import org.apache.spark.sql.functions._
    val got = Streaming.streamRateLimit(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val (cap, refill) = (3L, 21600000L)
    val expected = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ms"), col("event_id")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
      .groupBy(_._1).map { case (uid, evs) =>
        val ordered = evs.map(e => (e._2, e._3)).sortBy(identity)
        var tokens = cap * refill; var prev = ordered.head._1; var adm = 0L
        ordered.foreach { case (ts, _) =>
          tokens = math.min(cap * refill, tokens + (ts - prev))
          if (tokens >= refill) { tokens -= refill; adm += 1 }
          prev = ts
        }
        uid -> (ordered.length.toLong, adm, tokens)
      }
    assert(got.keySet === expected.keySet)
    expected.foreach { case (uid, (n, adm, tokens)) =>
      val r = got(uid)
      assert(r.getAs[Long]("n_events") === n, s"user $uid count")
      assert(r.getAs[Long]("n_admitted") === adm, s"user $uid admitted")
      assert(r.getAs[Long]("n_throttled") === n - adm, s"user $uid throttled")
      assert(r.getAs[Long]("final_tokens_ms") === tokens, s"user $uid tokens")
    }
    // the limiter actually bites on this corpus (otherwise the test is vacuous)
    assert(expected.values.map(_._2).sum < expected.values.map(_._1).sum,
      "no event was ever throttled - corpus too sparse for the law to mean anything")
  }

  test("streamFunnel: stage verdicts equal the strict-progression recompute; every stage value occurs") {
    import org.apache.spark.sql.functions._
    val got = Streaming.streamFunnel(spark, sf).collect()
      .map(r => r.getAs[Long]("user_id") -> r).toMap
    val expected = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ms"), col("event_type")).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2)))
      .groupBy(_._1).map { case (uid, evs) =>
        def minAfter(kind: String, after: Long): Long = {
          val c = evs.collect { case (_, t, k) if k == kind && t > after => t }
          if (c.isEmpty) -1L else c.min
        }
        val v = minAfter("view", Long.MinValue)
        val c = if (v < 0) -1L else minAfter("click", v)
        val p = if (c < 0) -1L else minAfter("purchase", c)
        val stage = if (p >= 0) 3L else if (c >= 0) 2L else if (v >= 0) 1L else 0L
        uid -> (evs.size.toLong, stage, v, c, p)
      }
    assert(got.keySet === expected.keySet)
    expected.foreach { case (uid, (n, stage, v, c, p)) =>
      val r = got(uid)
      assert(r.getAs[Long]("n_events") === n, s"user $uid count")
      assert(r.getAs[Long]("stage") === stage, s"user $uid stage")
      assert((r.getAs[Long]("view_ms"), r.getAs[Long]("click_ms"),
        r.getAs[Long]("purchase_ms")) === ((v, c, p)), s"user $uid stage times")
      // strict progression: each reached stage strictly after the prior
      if (stage >= 2) assert(c > v)
      if (stage >= 3) assert(p > c)
    }
    // non-vacuous: conversions occur (at sf0.001 every user has enough
    // events to fully convert — drop-off coverage rides on the strict
    // c>v/p>c checks above and the driver oracle at larger sfs)
    assert(expected.values.exists(_._2 == 3L), "no user ever converted")
    assert(expected.nonEmpty)
  }

  test("streamFunnelTws: transformWithState port equals the fMGWS funnel row-for-row; state bounded; provider restored") {
    import org.apache.spark.sql.functions._
    // parity: the modern-API port must land the EXACT verdict rows the
    // flatMapGroupsWithState operator produces (same buffers, same
    // timer-by-watermark finalization), through a real RocksDB replay
    val priorProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val ((tws, fmgws), peaks) = peakStateRows {
      (Streaming.streamFunnelTws(spark, sf), Streaming.streamFunnel(spark, sf))
    }
    assert(tws.exceptAll(fmgws).count() === 0)
    assert(fmgws.exceptAll(tws).count() === 0)
    assert(tws.count() > 0)
    // the query restores the session's provider choice on the way out
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      === priorProvider)
    // bounded state: the processor keeps ≤ 2 value-state rows per live
    // user (buffer + timer bookkeeping) plus one timer entry — peak
    // state across the replay stays within 3× the user count, never
    // O(events) (the buffered events live INSIDE one row per user)
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(peaks.nonEmpty, "listener saw no stateful progress")
    assert(peaks.max <= 3 * (nUsers + 1),
      s"peak state ${peaks.max} rows vs $nUsers users — state not O(users)")
  }

  test("streamSessionsTws: ListState port equals the session_window operator row-for-row; state keys O(users); provider restored") {
    import org.apache.spark.sql.functions._
    // parity: the modern-API ListState sessionizer must land the EXACT
    // rows the native session_window aggregation produces (same gap
    // rule, same watermark finalization) — two independent engines for
    // the same semantics, checked against each other
    val priorProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    // listener scoped to the tws replay only — the native session_window
    // run that follows keeps one state row per OPEN SESSION (all of them
    // at once under the one-batch backfill), which would drown the tws
    // operator's per-user key count
    val (tws, peaks) = peakStateRows(Streaming.streamSessionsTws(spark, sf))
    val native = Streaming.streamSessions(spark, sf)
    assert(tws.exceptAll(native).count() === 0)
    assert(native.exceptAll(tws).count() === 0)
    assert(tws.count() > 0)
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      === priorProvider)
    // numRowsTotal counts grouping KEYS per state variable (a key's
    // list elements live inside its column family), so the ListState
    // sessionizer reads exactly like the funnel: ≤ 3 rows per live
    // user (buf + tmr + timer), never a row per buffered event — the
    // append-efficiency trade shows in write amplification, not here
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(peaks.nonEmpty, "listener saw no stateful progress")
    assert(peaks.max <= 3 * (nUsers + 2),
      s"peak state ${peaks.max} rows vs $nUsers users — state not O(users)")
  }

  test("streamLedgerTws: MapState ledger equals the batch per-(user,type) totals; state O(users×types); provider restored") {
    import org.apache.spark.sql.functions._
    val priorProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val (got, peaks) = peakStateRows(Streaming.streamLedgerTws(spark, sf))
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .select(col("user_id"), col("event_type"), col("n"), col("cents"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.count() > 0)
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      === priorProvider)
    // MapState keeps ONE entry per live (user, type) pair plus the
    // timer bookkeeping — never O(events)
    val nPairs = Tables.events(spark, sf)
      .select(col("user_id"), col("event_type")).distinct().count()
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(peaks.nonEmpty, "listener saw no stateful progress")
    assert(peaks.max <= nPairs + 3 * (nUsers + 2),
      s"peak state ${peaks.max} rows vs $nPairs (user,type) pairs — state not O(users×types)")
  }

  test("streamKmv: bottom-k sketch equals the batch KMV per type; state O(k) per key, NOT O(distinct users); provider restored") {
    import org.apache.spark.sql.functions._
    import graft.functions.TextHash.hash60
    val k = 64
    val priorProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val (got, peaks) = peakStateRows(Streaming.streamKmv(spark, sf))
    // batch recompute of the same sketch: per type, the k smallest
    // distinct hashes; kth defined ⟺ the sketch filled
    val h = Tables.events(spark, sf)
      .select(col("event_type"), hash60(col("user_id").cast("string")).as("h"))
      .distinct()
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("event_type")).orderBy(col("h"))
    val ranked = h.withColumn("rn", row_number().over(w))
      .withColumn("nd", count(lit(1)).over(
        org.apache.spark.sql.expressions.Window.partitionBy(col("event_type"))))
    val batch = ranked
      .filter(col("rn") === least(col("nd"), lit(k)))
      .select(col("event_type"),
        least(col("nd"), lit(k)).cast("long").as("n_min"),
        when(col("nd") >= k, col("h")).as("kth_hash"),
        when(col("nd") >= k, graft.functions.Portable.trunc4(
          lit((k - 1).toDouble * (1L << 60).toDouble) / col("h")))
          .otherwise(least(col("nd"), lit(k)).cast("double")).as("est"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.count() > 0)
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      === priorProvider)
    // THE sketch claim: peak state rows are keyed per event type (one
    // sketch + one timer bookkeeping value per live key, each ≤ k longs
    // INSIDE its row) — nothing scales with distinct users, which is
    // what separates this from the dropDuplicates path
    val nTypes = Tables.events(spark, sf)
      .select(col("event_type")).distinct().count()
    val nUsers = Tables.events(spark, sf).select(col("user_id")).distinct().count()
    assert(peaks.nonEmpty, "listener saw no stateful progress")
    assert(peaks.max <= 3 * (nTypes + 2),
      s"peak state ${peaks.max} rows vs $nTypes types — state not O(types)")
    assert(nUsers > nTypes,
      "corpus degenerate: the sublinear-state claim needs users ≫ types")
  }

  test("streamCms: streamed counters reconstruct the batch sketch row-for-row; state O(depth*width), not O(distinct amounts)") {
    val priorProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val (got, peaks) = peakStateRows(Streaming.streamCms(spark, sf))
    // row-for-row parity with the BATCH operator — the two transports
    // must reconstruct the identical sketch and identical report
    val batch = graft.operators.Sketches.cmsHeavyHitters(Tables.events(spark, sf))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.count() > 0)
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      === priorProvider)
    // the sketch claim: state keys are (row, bucket) cells + the
    // sentinel remap keys — a fixed grid, never O(distinct amounts)
    val grid = 4L * (256L + 1L)
    assert(peaks.nonEmpty, "listener saw no stateful progress")
    assert(peaks.max <= 3L * grid,
      s"peak state ${peaks.max} rows vs depth*width grid $grid")
  }

  test("streamHll: streamed registers reconstruct the batch sketch row-for-row; state O(metrics*m), not O(distinct ids)") {
    val priorProvider = spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
    val (got, peaks) = peakStateRows(Streaming.streamHll(spark, sf))
    // row-for-row parity with the BATCH operator — the two transports
    // must reconstruct the identical registers and identical estimate
    val batch = graft.operators.Sketches.hllDistinct(Tables.events(spark, sf))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.count() === 3)
    assert(spark.conf.getOption("spark.sql.streaming.stateStore.providerClass")
      === priorProvider)
    // the sketch claim: state keys are (metric, register) cells + the
    // ≤3-reg sentinel remap keys — a fixed grid, never O(distinct ids)
    val grid = 3L * 256L + 16L
    assert(peaks.nonEmpty, "listener saw no stateful progress")
    assert(peaks.max <= 3L * grid,
      s"peak state ${peaks.max} rows vs metrics*m grid $grid")
  }

  test("streamQuantile: streamed histogram evaluates to the batch read-back; state O(occupied bins), not O(events)") {
    import org.apache.spark.sql.functions._
    val (got, peaks) = peakStateRows(Streaming.streamQuantile(spark, sf))
    // the streamed cells must evaluate exactly as a batch histogram
    // over the same cent bins through the SAME shared read-back
    val batchBins = Tables.events(spark, sf)
      .select((floor(col("value") * 100 + 0.5).cast("long") / 6400L)
        .cast("long").as("bin"))
      .groupBy(col("bin")).agg(count(lit(1)).as("cnt"))
    val want = graft.operators.Sketches.quantileFromBins(
      batchBins, Seq(0.5, 0.9, 0.99), 64.0)
    assert(got.exceptAll(want).count() === 0)
    assert(want.exceptAll(got).count() === 0)
    assert(got.count() === 3)
    // the histogram claim: state keys are occupied value bins (+
    // sentinel), a property of the value range — never O(events)
    val nBins = batchBins.count()
    assert(peaks.nonEmpty, "listener saw no stateful progress")
    assert(peaks.max <= 3L * (nBins + 1L),
      s"peak state ${peaks.max} rows vs ${nBins} occupied bins")
  }

  test("streamLedgerInit: warm-started ledger equals the full-corpus totals; the batch/stream seam is invisible") {
    import org.apache.spark.sql.functions._
    val got = Streaming.streamLedgerInit(spark, sf)
    val batch = Tables.events(spark, sf)
      .groupBy(col("user_id"), col("event_type"))
      .agg(count(lit(1)).as("n"),
        sum(floor(col("value") * 100 + 0.5).cast("long")).as("cents"))
      .select(col("user_id"), col("event_type"), col("n"), col("cents"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    // the test is non-vacuous only if BOTH halves carry data: rows on
    // each side of the midpoint cutoff (history seeds state, stream
    // updates it)
    val b = Tables.events(spark, sf).agg(min(col("ts_ms")), max(col("ts_ms"))).head
    val cutoff = b.getLong(0) + (b.getLong(1) - b.getLong(0)) / 2
    val ev = Tables.events(spark, sf)
    assert(ev.filter(col("ts_ms") < cutoff).count() > 0, "empty history half")
    assert(ev.filter(col("ts_ms") >= cutoff).count() > 0, "empty stream half")
    // the generated corpus has every user active on both sides of the
    // midpoint, so the HISTORY-ONLY emission path (timer registered in
    // handleInitialState, never superseded by a stream arrival) needs a
    // hand-built corpus: user 100's events all sit before the cutoff,
    // and their ledger may only reach the sink via the init timer
    val t0 = 1704067200000L // 2024-01-01T00:00Z
    val mini = Seq(
      (1L, t0 + 60000L, 100L, "view", 1.00, "{}"),
      (2L, t0 + 120000L, 100L, "click", 2.00, "{}"),
      (3L, t0 + 180000L, 100L, "view", 3.00, "{}"),
      (4L, t0 + 60000L, 200L, "view", 4.00, "{}"),
      (5L, t0 + 36000000L, 200L, "purchase", 5.00, "{}"),
      (6L, t0 + 32400000L, 300L, "click", 6.00, "{}"),
      (7L, t0 + 36000000L, 300L, "click", 7.00, "{}"))
    import spark.implicits._
    val root = java.nio.file.Files.createTempDirectory("graft-ledger-init")
    try {
      mini.toDF("event_id", "ts_ms_raw", "user_id", "event_type", "value", "props")
        .select(col("event_id"), timestamp_millis(col("ts_ms_raw")).as("ts"),
          col("user_id"), col("event_type"), col("value"), col("props"))
        .write.parquet(s"$root/events.parquet")
      val miniGot = Streaming.streamLedgerInit(spark, root.toString)
        .collect().map(r => (r.getLong(0), r.getString(1)) ->
          (r.getLong(2), r.getLong(3))).toMap
      // user 100 is entirely pre-cutoff (cutoff = min + span/2 ≈ t0+5h):
      // their rows exist ONLY because handleInitialState registered the
      // emission timer itself
      assert(miniGot((100L, "view")) === ((2L, 400L)))
      assert(miniGot((100L, "click")) === ((1L, 200L)))
      // user 200 spans the seam: history view + streamed purchase
      assert(miniGot((200L, "view")) === ((1L, 400L)))
      assert(miniGot((200L, "purchase")) === ((1L, 500L)))
      // user 300 is stream-only
      assert(miniGot((300L, "click")) === ((2L, 1300L)))
      assert(miniGot.size === 5)
    } finally Streaming.rmTree(root.toFile)
  }

  test("streamSessRollup: chained session→day aggregation equals the batch rollup; sentinel days excluded by time") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = Streaming.streamSessRollup(spark, sf)
    // batch replay: gaps-and-islands sessions, then day(window_time) =
    // day((last_ts + gap)·1000 − 1 µs) rollup — the same µs arithmetic
    // Spark's chained window(window_time(sess)) applies
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("ns", when(lag(col("ts_ms"), 1).over(w).isNull ||
        col("ts_ms") - lag(col("ts_ms"), 1).over(w) >= 1800000L, 1L).otherwise(0L))
      .withColumn("sess_no", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(count(lit(1)).as("n"), sum(col("cents")).as("cents"),
        max(col("ts_ms")).as("last_ms"))
      .withColumn("day_ms",
        expr("((last_ms + 1800000) * 1000 - 1) div 86400000000") * 86400000L)
      .groupBy(col("day_ms"))
      .agg(count(lit(1)).as("n_sessions"), sum(col("n")).as("n_events"),
        sum(col("cents")).as("cents"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.count() > 0)
    // no sentinel contamination: every emitted day is within the
    // corpus's own horizon (sentinels sit ≥ 2 days past it)
    val maxMs = Tables.events(spark, sf).agg(max(col("ts_ms"))).head.getLong(0)
    assert(got.agg(max(col("day_ms"))).head.getLong(0) <= maxMs + 86400000L + 1800000L)
  }

  test("streamSessions: merged session windows equal the batch gaps-and-islands; exact-gap starts a new session") {
    import org.apache.spark.sql.functions._
    import org.apache.spark.sql.expressions.Window
    val got = Streaming.streamSessions(spark, sf)
    val w = Window.partitionBy(col("user_id")).orderBy(col("ts_ms"), col("event_id"))
    val batch = Tables.events(spark, sf)
      .select(col("user_id"), col("ts_ms"), col("event_id"),
        floor(col("value") * 100 + 0.5).cast("long").as("cents"))
      .withColumn("ns", when(lag(col("ts_ms"), 1).over(w).isNull ||
        col("ts_ms") - lag(col("ts_ms"), 1).over(w) >= 1800000L, 1L).otherwise(0L))
      .withColumn("sess_no", sum(col("ns")).over(
        w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
      .groupBy(col("user_id"), col("sess_no"))
      .agg(min(col("ts_ms")).as("sess_start_ms"), count(lit(1)).as("n"),
        sum(col("cents")).as("cents"))
      .select(col("sess_start_ms"), col("user_id"), col("n"), col("cents"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    assert(got.filter(col("user_id") === -1L).count() === 0)
  }

  test("streamPairsOuter: equals the batch left join INCLUDING tail purchases inside the watermark horizon") {
    import org.apache.spark.sql.functions._
    val got = Streaming.streamPairsOuter(spark, sf)
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts_ms").as("p_ts_ms"),
        floor(col("value") * 100 + 0.5).cast("long").as("p_cents"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("ts_ms").as("c_ts_ms"))
    val batch = p.join(c, col("user_id") === col("c_uid") &&
        col("c_ts_ms") <= col("p_ts_ms") &&
        col("c_ts_ms") >= col("p_ts_ms") - 3600000L, "left_outer")
      .select(col("purchase_id"), col("click_id"), col("user_id"),
        col("p_ts_ms"), col("c_ts_ms"), col("p_cents"))
    assert(got.exceptAll(batch).count() === 0)
    assert(batch.exceptAll(got).count() === 0)
    // the regression this op guards against: the LAST purchase of the
    // corpus is inside the final watermark horizon, and only the
    // sentinel-through-the-watermark-node plumbing can finalize it
    val lastP = p.orderBy(col("p_ts_ms").desc).select(col("purchase_id")).head.getLong(0)
    assert(got.filter(col("purchase_id") === lastP).count() >= 1)
    assert(got.filter(col("user_id") === -1L).count() === 0)
  }

  test("kafkaOptions builds the connector option map (unit-level, no broker)") {
    val o = Streaming.kafkaOptions("broker:9092", "txns",
      extra = Map("maxOffsetsPerTrigger" -> "1000"))
    assert(o("kafka.bootstrap.servers") === "broker:9092")
    assert(o("subscribe") === "txns")
    assert(o("startingOffsets") === "earliest")
    assert(o("maxOffsetsPerTrigger") === "1000")
  }

  test("kafkaIngest wires the real kafka source: without the connector jar it fails naming kafka") {
    // the sandbox has no spark-sql-kafka jar and no broker; the right
    // observable is that the constructor resolves format("kafka") and
    // the failure is the missing data source, not a plan/analysis bug
    val e = intercept[Exception] { Streaming.kafkaIngest(spark, "broker:9092", "txns") }
    assert(e.getMessage.toLowerCase.contains("kafka"))
  }

  /** Pins the RocksDB state-store provider on the session conf. */
  private val rocksDbProvider = Seq("spark.sql.streaming.stateStore.providerClass" ->
    Some("org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"))

  test("windowedVolume on the RocksDB state store (production posture)") {
    import spark.implicits._
    import scala.jdk.CollectionConverters._
    Scope.withConf(spark, rocksDbProvider) {
      val in = MemoryStream[Transaction](spark)
      val agg = Streaming.windowedVolume(in.toDF(), watermark = "1 minute", window_ = "5 minutes")
      val q = Streaming.toMemory(agg, "wv_rocks", OutputMode.Append())
      withQuery(q) {
        in.addData(
          txn("a", 1, 10.0, "credit", "2025-01-01 10:01:00"),
          txn("b", 1, 20.0, "credit", "2025-01-01 10:02:00"))
        q.processAllAvailable()
        in.addData(txn("z", 9, 1.0, "credit", "2025-01-01 11:00:00")) // advance wm
        q.processAllAvailable()
        val vols = spark.table("wv_rocks").collect().map(_.getAs[Double]("volume"))
        assert(vols.contains(30.0))
        // prove the query really ran on RocksDB, not the default provider
        val usedRocks = q.recentProgress.exists(_.stateOperators.exists(
          _.customMetrics.keySet.asScala.exists(_.toLowerCase.contains("rocksdb"))))
        assert(usedRocks, "no rocksdb state-store metrics in query progress")
      }
    }
  }

  test("state soak: window-agg and TTL-balance state stays bounded across 30 batches, default AND RocksDB") {
    // The 100 TB failure class with no other explicit test: streaming
    // state that grows with STREAM LENGTH instead of with the open
    // horizon. 30 batches advance event time 1 min/batch with FRESH
    // users every batch — unbounded distinct keys overall — and the
    // max state-row count across all batches must stay pinned to the
    // horizon (open windows × currencies; users within TTL), nowhere
    // near the would-be-unbounded totals (120 window cells / 150 users).
    import spark.implicits._
    def soak(rocks: Boolean): (Long, Long) = {
      Scope.withConf(spark, if (rocks) rocksDbProvider else Nil) {
        val tag = if (rocks) "r" else "d"
        val inW = MemoryStream[Transaction](spark)
        val qW = Streaming.toMemory(
          Streaming.windowedVolume(inW.toDF(), watermark = "2 minutes",
            window_ = "1 minute"), s"soak_wv_$tag", OutputMode.Append())
        val inB = MemoryStream[Transaction](spark)
        val qB = Streaming.toMemory(
          Streaming.runningBalanceTtl(spark, inB.toDS(), ttlMs = 120000L,
            watermark = "1 minute").toDF(), s"soak_bal_$tag", OutputMode.Append())
        try {
          for (b <- 0 until 30) {
            val ts = f"2025-01-01 10:$b%02d:30"
            inW.addData((0 until 8).map(i =>
              txn(s"w$b-$i", b * 100 + i, 1.0, "credit", ts,
                currency = Seq("USD", "EUR", "GBP", "KES")(i % 4))): _*)
            qW.processAllAvailable()
            inB.addData((0 until 5).map(i =>
              txn(s"b$b-$i", b * 10 + i, 1.0, "credit", ts)): _*)
            qB.processAllAvailable()
          }
          def maxState(q: org.apache.spark.sql.streaming.StreamingQuery): Long =
            q.recentProgress.flatMap(_.stateOperators.map(_.numRowsTotal))
              .foldLeft(0L)(math.max)
          (maxState(qW), maxState(qB))
        } finally { qW.stop(); qB.stop() }
      }
    }
    for (rocks <- Seq(false, true)) {
      val (wv, bal) = soak(rocks)
      assert(wv > 0 && wv <= 40,
        s"windowed-agg state not horizon-bounded (rocksdb=$rocks): max $wv rows")
      assert(bal > 0 && bal <= 50,
        s"TTL-balance state not horizon-bounded (rocksdb=$rocks): max $bal rows")
    }
  }

  test("socketIngest: a loopback TCP round trip through the kafkaIngest decode path equals the batch reader") {
    // The closest feasible stand-in for a broker test without the kafka
    // connector jars: a 20-row wire-format fixture is produced over a
    // REAL loopback TCP connection and drained through the SAME
    // wire-decode path kafkaIngest uses, then compared row-for-row with
    // the batch file reader on every stable wire field. The fixture
    // (src/test/resources/wire_transactions.jsonl) holds seeded
    // synthetic rows in the reference fixture's schema and value
    // domains (FIXTURES.md §1): one compact JSON object per line, as a
    // producer puts it on the wire, metadata a NESTED object.
    val fixture = java.nio.file.Paths.get(
      getClass.getResource("/wire_transactions.jsonl").toURI)
    val fixturePath = fixture.toString
    val lines = new String(java.nio.file.Files.readAllBytes(fixture), "UTF-8")
      .split("\n").filter(_.nonEmpty)
    assert(lines.length === 20)
    val server = new java.net.ServerSocket(
      0, 1, java.net.InetAddress.getLoopbackAddress)
    @volatile var sendErr: Throwable = null
    val sender = new Thread(() => {
      try {
        val s = server.accept()
        val w = new java.io.PrintWriter(s.getOutputStream, true)
        lines.foreach(w.println)
        w.flush() // keep the socket open: the source owns the close
      } catch { case e: Throwable => sendErr = e }
    })
    sender.start()
    val decoded = Streaming.socketIngest(
      spark, "127.0.0.1", server.getLocalPort)
    val q = Streaming.toMemory(decoded, "socket_e2e", OutputMode.Append())
    try {
      // the socket source has no end-of-input marker: poll until all 20
      // rows land (bounded), then compare
      val deadline = System.currentTimeMillis() + 60000
      while (spark.table("socket_e2e").count() < 20 &&
          System.currentTimeMillis() < deadline) {
        q.processAllAvailable(); Thread.sleep(50)
      }
      assert(sendErr === null, s"producer thread failed: $sendErr")
      def key(df: org.apache.spark.sql.DataFrame) = df.select(
          col("transaction_id"), col("user_id"), col("amount"),
          col("currency"), col("type"),
          element_at(col("metadata"), "merchant").as("merchant"),
          col("timestamp"))
        .collect().map(_.toSeq).sortBy(_.head.toString)
      val viaSocket = key(spark.table("socket_e2e"))
      val viaFile = key(graft.operators.Reference.decode(
        spark.read.schema(graft.operators.Reference.wireSchema).json(fixturePath)))
      assert(viaSocket.length === 20)
      assert(viaSocket.toSeq === viaFile.toSeq)
    } finally { q.stop(); server.close() }
  }

  test("state bound, empirically: 2x history => ~same peak state for join/sessions/dedup (O(watermark window), not O(stream))") {
    // The one 100 TB claim that was Scaladoc rather than assertion:
    // stateful operators hold O(watermark/lookback window) rows, never
    // O(stream). Proof shape: replay the corpus in TIME-ORDERED
    // micro-batches (one 2-day slice per batch, so the watermark
    // advances between batches exactly as in production), read each
    // batch's StateOperatorProgress, and compare PEAK state between
    // the corpus and a DOUBLED corpus (same density, 2x history — the
    // ScaleUp contract: +35-day shift, fresh keys). If state were
    // O(stream), peak would double; bounded state plateaus.
    val sfDir = "/root/testdata/sf0.01" // 10k events / 30 days: real slices
    val shaped = Streaming.replayShape(Tables.events(spark, sfDir))
    val doubled = shaped.unionByName(shaped
      .withColumn("ts_ms", col("ts_ms") + 35L * 86400000L)
      .withColumn("timestamp", org.apache.spark.sql.functions
        .timestamp_millis(col("ts_ms")))
      .withColumn("event_id", col("event_id") + 10000000L)
      .withColumn("user_id", col("user_id") + 10000000L))
    val (dirA, _) = StreamStateProbe.writeSliced(shaped)
    val (dirB, _) = StreamStateProbe.writeSliced(doubled)
    case class Peak(input: Long, rows: Long, bytes: Long, batches: Int)
    def probe(dir: String, pipeline: org.apache.spark.sql.DataFrame =>
        org.apache.spark.sql.DataFrame): Peak = {
      val ps = StreamStateProbe.replaySliced(spark, dir, pipeline)
      val (rows, bytes) = StreamStateProbe.peakState(ps)
      Peak(ps.map(_.numInputRows).sum, rows, bytes, ps.count(_.numInputRows > 0))
    }
    val farFuture = new Timestamp(4102444800000L) // 2100: probe adds no sentinels
    val pipes = Seq[(String, org.apache.spark.sql.DataFrame => org.apache.spark.sql.DataFrame)](
      "pairs_outer" -> Streaming.pairsOuterPipeline(10L, 60L, farFuture),
      "sessions" -> Streaming.sessionsPipeline(10L, 30L),
      "dedup" -> Streaming.dedupPipeline(10L, 5L))
    try for ((name, pipe) <- pipes) {
      val a = probe(dirA, pipe)
      val b = probe(dirB, pipe)
      info(f"$name: input ${a.input}->${b.input}, peak state rows " +
        f"${a.rows}->${b.rows}, peak state bytes ${a.bytes}->${b.bytes}, " +
        f"batches ${a.batches}->${b.batches}")
      assert(b.input >= (1.9 * a.input).toLong, s"$name: doubled corpus not ~2x input")
      // THE BOUND: peak live state is O(watermark/lookback window) —
      // it must NOT scale with history length (2x history => ~same peak)
      assert(b.rows <= (1.5 * a.rows).toLong,
        s"$name: peak state grew ${b.rows.toDouble / a.rows}x on 2x history — state is O(stream), not O(window)")
      // and the peak is a fraction of the stream even on corpus A
      assert(a.rows <= a.input / 2,
        s"$name: peak state ${a.rows} vs input ${a.input} — never evicted?")
    } finally Seq(dirA, dirB).foreach(d => Streaming.rmTree(new java.io.File(d)))
  }

  test("kafkaShapedIngest parses raw JSON values against the wire schema") {
    import spark.implicits._
    val in = MemoryStream[String](spark)
    val parsed = Streaming.kafkaShapedIngest(in.toDF().toDF("value"))
    val q = Streaming.toMemory(parsed, "kshaped")
    withQuery(q) {
      in.addData("""{"transaction_id":"k-1","user_id":5,"amount":1.5,"currency":"KES","type":"credit","metadata":{"merchant":"M"},"timestamp":"2025-08-27T10:00:00.000001Z"}""")
      q.processAllAvailable()
      val r = spark.table("kshaped").collect().head
      assert(r.getAs[String]("transaction_id") === "k-1" && r.getAs[Int]("user_id") === 5)
    }
  }

  test("streamScdEnrich: every purchase gets the dimension version valid at ITS event time (batch parity)") {
    val ev = Tables.events(spark, sf)
    val dim = graft.operators.Monitoring.scd2(ev)
      .select(col("user_id").as("d_user"), col("status"),
        col("valid_from"), col("valid_to"))
    val expected = ev.filter(col("event_type") === "purchase")
      .select(col("event_id"), col("user_id"), col("ts_ms"),
        floor(col("value") * 100 + lit(0.5)).cast("long").as("cents"))
      .join(dim, col("user_id") === col("d_user") &&
        col("ts_ms") >= col("valid_from") &&
        (col("valid_to").isNull || col("ts_ms") < col("valid_to")))
      .select(col("event_id"), col("user_id"), col("ts_ms"), col("status"), col("cents"))
      .collect().map(_.toString).sorted.toSeq
    val got = Streaming.streamScdEnrich(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    // temporal-join law: exactly one dimension version per purchase —
    // output cardinality equals the purchase count, no fan-out
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(got.length === nPurch.toInt)
    assert(got === expected)
  }

  test("streamAsof: one row per purchase; the last-click choice matches the batch argmax") {
    import org.apache.spark.sql.functions.{col, expr, floor => ffloor, max => fmax, struct}
    val ev = Tables.events(spark, sf)
    val p = ev.filter(col("event_type") === "purchase")
      .select(col("event_id").as("purchase_id"), col("user_id"),
        col("ts").as("p_ts"), col("ts_ms").as("p_ts_ms"),
        ffloor(col("value") * 100 + 0.5).cast("long").as("p_cents"))
    val c = ev.filter(col("event_type") === "click")
      .select(col("event_id").as("click_id"), col("user_id").as("c_uid"),
        col("ts").as("c_ts"), col("ts_ms").as("c_ts_ms"))
    val expected = p.join(c, col("user_id") === col("c_uid") &&
        col("c_ts") <= col("p_ts") &&
        col("c_ts") >= col("p_ts") - expr("INTERVAL 60 MINUTES"), "left")
      .groupBy(col("purchase_id"), col("user_id"), col("p_ts_ms"), col("p_cents"))
      .agg(fmax(struct(col("c_ts_ms"), col("click_id"))).as("last"))
      .select(col("purchase_id"), col("user_id"), col("p_ts_ms"),
        col("last.click_id").as("click_id"), col("last.c_ts_ms").as("c_ts_ms"),
        (col("p_ts_ms") - col("last.c_ts_ms")).as("gap_ms"), col("p_cents"))
      .collect().map(_.toString).sorted.toSeq
    val got = Streaming.streamAsof(spark, sf).collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty)
    // temporal law: exactly one enriched row per purchase — the argmax
    // collapses the interval join's fan-out, the outer side keeps
    // organic purchases
    val nPurch = ev.filter(col("event_type") === "purchase").count()
    assert(got.length === nPurch.toInt)
    assert(got === expected)
  }

  test("streamNeardup flags exactly the batch incremental-minhash pairs across real micro-batches") {
    // batch reference: the SAME registry/batch fixture and the SAME
    // probeRegistry method — parity here proves micro-batch boundaries
    // are irrelevant (statelessness), not merely that two codepaths
    // happen to agree
    val expected = operators.Dedup.incrMinhashAudit(Tables.documents(spark, sf))
      .collect().map(_.toString).sorted.toSeq
    val (got, rec) = Recorder(spark)(Streaming.streamNeardup(spark, sf)
      .collect().map(_.toString).sorted.toSeq)
    val nBatches = rec.progress.count(_.numInputRows > 0)
    val nStateful = rec.progress.flatMap(_.stateOperators).length
    assert(got.nonEmpty, "no flagged near-dups at this sf — fixture too weak to test")
    assert(got === expected)
    assert(nBatches >= 2, s"parity must hold across real micro-batches (got $nBatches)")
    assert(nStateful === 0, "the probe is stateless by construction")
  }

  test("streamDecontam flags exactly the batch operator's scored pairs (stateless micro-batch parity)") {
    import org.apache.spark.sql.expressions.Window
    import org.apache.spark.sql.functions.{broadcast, row_number}
    val Sim = graft.operators.Similarity
    // batch reference: the SAME scored-pair chain the streaming probe
    // literalizes — split, capped index, windowed top-NProbe probe
    val v = Sim.withEmbD(Tables.embeddings(spark, sf))
    val tr = v.filter(pmod(col("vec_id"), lit(7L)) =!= 0)
    val ho = v.filter(pmod(col("vec_id"), lit(7L)) === 0)
    val cents = Sim.trainedCentroids(tr).localCheckpoint(true)
    val capped = tr.join(Sim.assignTo(tr, cents), "vec_id")
      .withColumn("crnk", row_number().over(Window.partitionBy(col("list_id"))
        .orderBy(graft.functions.TextHash.hash60(concat(lit("dcap|"), col("vec_id"))),
          col("vec_id"))))
      .filter(col("crnk") <= 64)
      .select(col("vec_id"), col("e"), col("list_id"))
    val probes = ho.select(col("vec_id").as("q_id"), col("e").as("qe"))
      .crossJoin(broadcast(cents))
      .select(col("q_id"), col("qe"), col("cid"),
        graft.functions.Portable.trunc4(
          graft.functions.NativeVector.cosine(col("qe"), col("ce"))).as("qcos"))
      .withColumn("prnk", row_number().over(
        Window.partitionBy(col("q_id")).orderBy(col("qcos").desc, col("cid"))))
      .filter(col("prnk") <= Sim.NProbe)
      .select(col("q_id"), col("qe"), col("cid").as("list_id"))
    val expected = capped.join(broadcast(probes), Seq("list_id"))
      .select(col("q_id"), col("vec_id").as("train_match"),
        graft.functions.Portable.trunc4(
          graft.functions.NativeVector.cosine(col("qe"), col("e"))).as("cos"))
      .filter(col("cos") >= 0.4)
      .collect().map(_.toString).sorted.toSeq
    val got = Streaming.streamDecontam(spark, sf)
      .collect().map(_.toString).sorted.toSeq
    assert(got.nonEmpty, "no flagged pairs at this sf — fixture too weak to test")
    assert(got === expected)
  }

  test("streamIvfIncr: ledger matches batch ivfIncr's move half; state bounded by NList") {
    val Sim = graft.operators.Similarity
    // batch reference: ivfIncr's incremental-add half (n_added /
    // n_would_move per frozen list), keyed on the same split
    val batch = Sim.ivfIncr(Tables.embeddings(spark, sf)).collect()
      .filter(_.getAs[Long]("n_added") > 0L)
      .map(r => r.getAs[Int]("list_id").toLong ->
        ((r.getAs[Long]("n_added"), r.getAs[Long]("n_would_move")))).toMap
    val (got, rec) = Recorder(spark)(Streaming.streamIvfIncr(spark, sf).collect())
    val peakState = StreamStateProbe.peakState(rec.progress)._1
    val nBatches = rec.progress.count(_.numInputRows > 0)
    assert(got.nonEmpty)
    val gotMap = got.map(r => r.getAs[Int]("list_id").toLong ->
      ((r.getAs[Long]("n_added"), r.getAs[Long]("n_would_move")))).toMap
    assert(gotMap === batch, "streaming ledger diverged from batch ivfIncr")
    // ledger arithmetic: move_frac and the retrain signal derive from
    // the integer counts exactly
    got.foreach { r =>
      val (a, m) = (r.getAs[Long]("n_added"), r.getAs[Long]("n_would_move"))
      val frac = math.floor(m.toDouble / a * 10000) / 10000
      assert(r.getAs[Double]("move_frac") === frac)
      assert(r.getAs[Boolean]("retrain") === (a >= 3L && frac >= 0.25))
    }
    // the 100 TB claim, asserted: the ONLY state is the per-list agg —
    // peak StateOperatorProgress rows ≤ NList however long the stream,
    // accumulated across real multi-batch execution
    assert(nBatches > 1, "single-batch replay exercises no accumulation")
    assert(peakState >= 0L && peakState <= Sim.NList.toLong,
      s"ledger state $peakState exceeds NList=${Sim.NList}")
  }
}
