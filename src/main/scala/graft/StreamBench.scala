package graft

import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress

/** Streaming throughput measurement: rate source → wire-shaped
  * transactions → [[Streaming.windowedVolume]] → noop sink, reporting
  * sustained rows/s for the default (HDFS-backed) and RocksDB state
  * stores. The rate source over-produces (`rowsPerSecond` far above
  * achievable) so the measured number is the ENGINE's capacity, not the
  * generator's. Rows/s is computed from the query's own progress
  * metrics (input rows ÷ trigger execution time), skipping the first
  * batch (plan/codegen warm-up).
  *
  * `main` prints one JSON line:
  * {"metric":"stream_rows_per_sec","default":N,"rocksdb":M,...}
  */
object StreamBench {

  private val currencies = array(Seq("USD", "EUR", "KES", "GBP", "JPY").map(lit): _*)

  /** Rate-source stream shaped like the transaction wire format. */
  def rateTxns(spark: SparkSession, rowsPerSecond: Long, partitions: Int): DataFrame =
    spark.readStream.format("rate")
      .option("rowsPerSecond", rowsPerSecond)
      .option("numPartitions", partitions)
      .load()
      .select(
        col("timestamp"),
        concat(lit("t-"), col("value")).as("transaction_id"),
        (col("value") % 1000).cast("int").as("user_id"),
        (col("value") % 100).cast("double").as("amount"),
        element_at(currencies, (col("value") % 5 + 1).cast("int")).as("currency"),
        when(col("value") % 2 === 0, "credit").otherwise("debit").as("type"))

  /** Run the windowed-volume pipeline for `seconds` and return
    * (rows/s, batches measured). The window opens at the first
    * committed batch (plan/codegen warm-up, excluded from the rate)
    * and, on a loaded host, stays open until a measured batch commits;
    * [[LoadCapMs]] bounds each wait. */
  def run(spark: SparkSession, rocksDb: Boolean, seconds: Int,
      rowsPerSecond: Long = 5000000L): (Double, Int) = {
    val txns = rateTxns(spark, rowsPerSecond, spark.sparkContext.defaultParallelism)
    val agg = Streaming.windowedVolume(txns,
      watermark = "10 seconds", window_ = "5 seconds")
    // the store is pinned for this query only — measures the default
    // store even when the session opts into RocksDB
    val q = Scope.withConf(spark, Streaming.stateStoreConf(rocksDb))(
      agg.writeStream.format("noop").outputMode("update").start())
    try {
      def awaitBatches(n: Int): Unit = {
        val cap = System.nanoTime() + LoadCapMs * 1000000L
        while (q.isActive && q.recentProgress.length < n && System.nanoTime() < cap)
          Thread.sleep(50)
      }
      awaitBatches(1)
      Thread.sleep(seconds * 1000L)
      awaitBatches(2)
    } finally q.stop()
    // skip the warm-up batch; guard against NaN/zero-duration entries
    val measured = q.recentProgress.toSeq.drop(1)
      .filter(p => p.numInputRows > 0 && triggerMs(p) > 0)
    (rowsPerSec(measured), measured.size)
  }

  /** Longest wait for one committed batch in [[run]]. */
  private val LoadCapMs = 120000L

  /** The measurement window of each [[run]] in `main`. */
  private val MeasureSecs = 20

  private def triggerMs(p: StreamingQueryProgress): Long =
    Option(p.durationMs.get("triggerExecution")).map(_.longValue).getOrElse(0L)

  /** Input rows ÷ trigger execution time over `ps`. */
  private def rowsPerSec(ps: Seq[StreamingQueryProgress]): Double = {
    val ms = ps.map(triggerMs).sum.toDouble
    if (ms > 0) ps.map(_.numInputRows).sum / (ms / 1000.0) else 0.0
  }

  /** Drive an oracled pipeline over a time-sliced bounded backfill
    * ([[StreamStateProbe.replaySliced]]: `maxFilesPerTrigger=1`, the
    * watermark advancing between batches, the replays' pinned state
    * layout) on the default or RocksDB store, and report (rows/s over
    * the batches after warm-up, their peak state rows, peak state bytes
    * as the provider reports them — in-memory map size for the default
    * store, native memory + pinned blocks for RocksDB — and measured
    * batches). Backs the fMGWS-vs-transformWithState A/B (same corpus,
    * slices and verdict arithmetic — only the state machinery differs)
    * and the skew-corpus state-store A/B for the bucketed join, where
    * one user carrying ~¼ of all events concentrates join state under
    * few keys (the round-10 hot-key fix in
    * [[Streaming.pairsOuterPipeline]] was gated for correctness and
    * wall; this measures the store choice where state size is the
    * stressor). */
  def runSliced(spark: SparkSession, rocksDb: Boolean, inDir: String,
      pipeline: DataFrame => DataFrame): (Double, Long, Long, Int) = {
    val ps = StreamStateProbe.replaySliced(spark, inDir, pipeline, Some(rocksDb))
      .drop(1) // skip plan/codegen warm-up
    val (peakRows, peakBytes) = StreamStateProbe.peakState(ps)
    (rowsPerSec(ps), peakRows, peakBytes, ps.size)
  }

  def main(args: Array[String]): Unit = {
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      // `run` reads its rate from recentProgress: keep its every batch
      .config("spark.sql.streaming.numRecentProgressUpdates", "2000")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    val (defRps, defBatches) = run(spark, rocksDb = false, MeasureSecs)
    val (rocksRps, rocksBatches) = run(spark, rocksDb = true, MeasureSecs)
    println(s"""{"metric":"stream_rows_per_sec","default":${defRps.round},""" +
      s""""rocksdb":${rocksRps.round},"batches_default":$defBatches,""" +
      s""""batches_rocksdb":$rocksBatches,"seconds_each":$MeasureSecs}""")
    // Skew-corpus state-store A/B for the bucketed join: runs only when
    // a skew corpus is present (SPARK_GRAFT_SKEW_DIR or target/sfskew —
    // generate with `runMain graft.ScaleUp <sf0.1> target/sfskew 5 --skew`).
    // fMGWS vs transformWithState A/B on the funnel: the same sliced
    // backfill through both engines — fMGWS on the default store AND
    // on RocksDB (isolating the store tax), TWS on RocksDB (its
    // mandatory provider; with the fMGWS@rocksdb leg, the remaining
    // difference is the API itself).
    val abDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    if (new java.io.File(s"$abDir/events.parquet").exists())
      StreamStateProbe.withSlicedEvents(spark, abDir) { (inDir, _) =>
        val (fmDef, sFmDef, _, bFm) = runSliced(spark, rocksDb = false, inDir,
          Streaming.funnelPipeline(10L))
        val (fmRocks, sFmRocks, _, _) = runSliced(spark, rocksDb = true, inDir,
          Streaming.funnelPipeline(10L))
        val (twsRocks, sTws, _, _) = runSliced(spark, rocksDb = true, inDir,
          Streaming.funnelTwsPipeline(10L))
        println(s"""{"metric":"stream_funnel_api_ab_rows_per_sec",""" +
          s""""fmgws_default":${fmDef.round},"fmgws_rocksdb":${fmRocks.round},""" +
          s""""tws_rocksdb":${twsRocks.round},"batches":$bFm,""" +
          s""""peak_state_rows_fmgws_default":$sFmDef,""" +
          s""""peak_state_rows_fmgws_rocksdb":$sFmRocks,""" +
          s""""peak_state_rows_tws":$sTws,"corpus":"$abDir"}""")
      }
    val skewDir = sys.env.getOrElse("SPARK_GRAFT_SKEW_DIR", "target/sfskew")
    if (new java.io.File(s"$skewDir/events.parquet").exists())
      StreamStateProbe.withSlicedEvents(spark, skewDir) { (inDir, _) =>
        val pairs = Streaming.pairsOuterPipeline(10L, 60L,
          new java.sql.Timestamp(4102444800000L)) _ // no sentinels: far-future guard
        val (dRps, dRows, dBytes, _) = runSliced(spark, rocksDb = false, inDir, pairs)
        val (rRps, rRows, rBytes, _) = runSliced(spark, rocksDb = true, inDir, pairs)
        println(s"""{"metric":"stream_pairs_skew_rows_per_sec","default":${dRps.round},""" +
          s""""rocksdb":${rRps.round},"peak_state_rows_default":$dRows,""" +
          s""""peak_state_rows_rocksdb":$rRows,"peak_state_bytes_default":$dBytes,""" +
          s""""peak_state_bytes_rocksdb":$rBytes,"corpus":"$skewDir"}""")
      }
    spark.stop()
  }
}
