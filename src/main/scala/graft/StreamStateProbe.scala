package graft

import graft.obs.Recorder
import graft.streaming.Streaming
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import java.nio.file.Files

/** Peak-state decade probe for the stateful streaming family — the
  * PRODUCTION-PACED counterpart of ScaleProbe's replay measurements.
  *
  * Why it exists: the driver-oracled `q_stream_*` replays use a
  * two-phase `Trigger.AvailableNow` harness, so phase A lands the
  * WHOLE corpus in essentially one micro-batch with the watermark
  * still at epoch 0 — every window in the timeline is simultaneously
  * live, and peak `StateOperatorProgress.numRowsTotal` is
  * corpus-proportional BY HARNESS DESIGN (measured: 10.0× state for
  * 10× events across the whole family). That is the well-known
  * backfill failure shape, not an operator property. A production
  * pipeline (or a disciplined backfill) feeds the same operators
  * time-ordered bounded batches, the watermark advances BETWEEN
  * batches, and live state is O(traffic in the watermark/lookback
  * horizon).
  *
  * This probe measures exactly that: the events corpus is written as
  * [[SliceMs]] time slices, replayed with
  * `maxFilesPerTrigger=1` in slice order (deterministic modification
  * times), and each oracled pipeline's peak state rows/bytes are read
  * from the engine's own `StateOperatorProgress`. Because ScaleUp
  * clones occupy DISJOINT MONTHS (the timeline extends; per-window
  * density is constant), a 10× corpus means 10× more batches — and an
  * operator whose state is truly horizon-bounded shows a FLAT peak
  * across the decade, while O(stream) state would grow 10×.
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> runMain graft.StreamStateProbe
  * One JSON line per pipeline: input rows, batches, wall seconds,
  * peak state rows/bytes.
  */
object StreamStateProbe {

  /** The time span of one sliced batch: 2 days. */
  private[graft] val SliceMs = 2L * 86400000L

  /** Write `shaped` as one parquet file per [[SliceMs]] time range, file
    * names and modification times in slice order so the file source's
    * modTime ordering replays them as a time-ordered bounded backfill.
    * Shared with [[StreamBench]]'s skew-corpus state-store A/B. */
  private[graft] def writeSliced(shaped: DataFrame): (String, Int) = {
    val dir = Files.createTempDirectory("graft-ssp").toString
    val bounds = shaped.agg(min(col("ts_ms")), max(col("ts_ms"))).head
    val (lo, hi) = (bounds.getLong(0), bounds.getLong(1))
    val n = ((hi - lo) / SliceMs + 1).toInt
    for (i <- 0 until n) {
      val scratch = s"$dir/tmp$i"
      shaped.filter(col("ts_ms") >= lo + i * SliceMs &&
          col("ts_ms") < lo + (i + 1) * SliceMs)
        .coalesce(1).write.parquet(scratch)
      val part = new java.io.File(scratch).listFiles()
        .filter(_.getName.endsWith(".parquet")).head
      val dst = new java.io.File(dir, f"slice-$i%04d.parquet")
      Files.move(part.toPath, dst.toPath)
      dst.setLastModified(1700000000000L + i * 60000L)
      Streaming.rmTree(new java.io.File(scratch))
    }
    (dir, n)
  }

  /** [[writeSliced]] over `sfDir`'s replay-shaped events, removed
    * after `body` (also on failure). */
  private[graft] def withSlicedEvents[T](spark: SparkSession, sfDir: String)(
      body: (String, Int) => T): T = {
    val (inDir, n) = writeSliced(Streaming.replayShape(Tables.events(spark, sfDir)))
    try body(inDir, n) finally Streaming.rmTree(new java.io.File(inDir))
  }

  /** `pipeline` over a [[writeSliced]] corpus through the replay
    * driver — one slice per trigger into a noop sink, at the oracled
    * replays' pinned state layout — returning every batch's progress.
    * `rocksDb` pins the state store (None keeps the session's). */
  private[graft] def replaySliced(spark: SparkSession, inDir: String,
      pipeline: DataFrame => DataFrame,
      rocksDb: Option[Boolean] = None): Seq[StreamingQueryProgress] =
    Recorder(spark)(Streaming.driveReplay(spark, inDir, pipeline, Streaming.NoopSink,
      maxFilesPerTrigger = Some(1), pinPartitions = true, rocksDb = rocksDb)(_ => ()))
      ._2.progress

  /** Total (rows, bytes) across the state operators of each batch that
    * has any, as the provider reports them. */
  private[graft] def stateTotals(ps: Seq[StreamingQueryProgress]): Seq[(Long, Long)] =
    ps.map(_.stateOperators).filter(_.nonEmpty)
      .map(ops => (ops.map(_.numRowsTotal).sum, ops.map(_.memoryUsedBytes).sum))

  /** Peak [[stateTotals]] (rows, bytes) of any one batch. */
  private[graft] def peakState(ps: Seq[StreamingQueryProgress]): (Long, Long) =
    stateTotals(ps).foldLeft((0L, 0L)) { case ((r, b), (r1, b1)) => (r max r1, b max b1) }

  def main(args: Array[String]): Unit = {
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    withSlicedEvents(spark, sfDir) { (inDir, nSlices) =>
      // 2100: the probe adds no sentinels, so the in-plan sentinel guard
      // predicates (`ts <= maxTs`) must never drop a real row
      val farFuture = new java.sql.Timestamp(4102444800000L)
      val pipes = Seq[(String, DataFrame => DataFrame)](
        "sessions" -> Streaming.sessionsPipeline(10L, 30L),
        "dedup" -> Streaming.dedupPipeline(10L, 5L),
        "pairs_outer" -> Streaming.pairsOuterPipeline(10L, 60L, farFuture),
        "asof" -> Streaming.asofPipeline(10L, 60L, farFuture))
      pipes.foreach { case (name, pipe) =>
        val t0 = System.nanoTime()
        val ps = replaySliced(spark, inDir, pipe)
        val wall = (System.nanoTime() - t0) / 1e9
        val (peakRows, peakBytes) = peakState(ps)
        println(f"""{"pipeline":"$name","input_rows":${ps.map(_.numInputRows).sum},""" +
          f""""batches":${ps.count(_.numInputRows > 0)},""" +
          f""""slices":$nSlices,"wall_s":$wall%.3f,"peak_state_rows":$peakRows,""" +
          s""""peak_state_bytes":$peakBytes,"slice_days":${SliceMs / 86400000L},"sf":"$sfDir"}""")
      }
    }
    spark.stop()
  }
}
