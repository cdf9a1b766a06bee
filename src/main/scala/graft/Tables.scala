package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver testdata (`/root/repo/TESTDATA.md`): TPC-H-ish
  * star schema + `events`/`documents`/`embeddings` extension tables.
  *
  * Design notes for 100 TB scale:
  *  - Plain `spark.read.parquet` — Catalyst handles column pruning and
  *    predicate pushdown into the scan; loaders never force columns.
  *  - `events.parquet` carries `TIMESTAMP(NANOS)` which Spark's parquet
  *    reader rejects; we read it as raw Long nanoseconds
  *    (`spark.sql.legacy.parquet.nanosAsLong`) and derive both a
  *    microsecond `TimestampType` column and an exact epoch-millis Long.
  *    Doing time arithmetic on the millis column keeps results engine-
  *    portable (no sub-millisecond truncation ambiguity).
  */
object Tables {

  /** Session settings every entry point applies (idempotent). The
    * RocksDB state store is pinned per stream, around its start
    * ([[graft.streaming.Streaming.stateStoreConf]]), never here. */
  def configure(spark: SparkSession): SparkSession = {
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    if (sys.env.get("GRAFT_AQE_PROFILE").exists(_.equalsIgnoreCase("scale")))
      aqeScaleProfile(spark)
    spark
  }

  /** Opt-in AQE posture for the 100 TB deployment (also via env
    * `GRAFT_AQE_PROFILE=scale`): instead of sizing
    * `spark.sql.shuffle.partitions` by hand per cluster, START WIDE
    * (4× parallelism — the headroom AQE needs to see real output sizes
    * before merging) and let runtime statistics coalesce small
    * partitions and split skewed join partitions. The sandbox default
    * stays fixed-width (= cpus) because at sf0.1 most shuffles carry
    * kilobytes and the extra initial partitions are pure scheduling
    * overhead — measured full-board at sf1 in PERF.md ("AQE profile
    * A/B"), which is how this recommendation was chosen rather than
    * inherited. At real scale the profile wins: a 100 TB shuffle's
    * per-partition size is unknowable at plan time, and AQE's
    * post-shuffle statistics are the only honest sizing input. */
  def aqeScaleProfile(spark: SparkSession): SparkSession = {
    val par = spark.sparkContext.defaultParallelism
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.initialPartitionNum",
      (4 * par).toString)
    spark.conf.set("spark.sql.adaptive.skewJoin.enabled", "true")
    spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "5.0")
    spark.conf.set("spark.sql.adaptive.advisoryPartitionSizeInBytes", "64m")
    spark
  }

  def read(spark: SparkSession, dir: String, name: String): DataFrame = {
    configure(spark)
    spark.read.parquet(s"$dir/$name.parquet")
  }

  def region(s: SparkSession, d: String): DataFrame   = read(s, d, "region")
  def nation(s: SparkSession, d: String): DataFrame   = read(s, d, "nation")
  def customer(s: SparkSession, d: String): DataFrame = read(s, d, "customer")
  def supplier(s: SparkSession, d: String): DataFrame = read(s, d, "supplier")
  def part(s: SparkSession, d: String): DataFrame     = read(s, d, "part")
  def orders(s: SparkSession, d: String): DataFrame   = read(s, d, "orders")
  def lineitem(s: SparkSession, d: String): DataFrame = read(s, d, "lineitem")
  def documents(s: SparkSession, d: String): DataFrame  = read(s, d, "documents")
  def embeddings(s: SparkSession, d: String): DataFrame = read(s, d, "embeddings")

  /** `events` with `ts` normalized: ts_ns (epoch nanos), ts
    * (TimestampType, µs), ts_ms (epoch millis, the engine-portable
    * comparison unit). Handles BOTH on-disk encodings the driver has
    * shipped: TIMESTAMP(NANOS) read as raw Long nanoseconds (the
    * `nanosAsLong` path) and a plain TIMESTAMP(MICROS)/NTZ column
    * (normalized through the UTC session so wall time is preserved). */
  def events(s: SparkSession, d: String): DataFrame = {
    val raw = read(s, d, "events")
    raw.schema("ts").dataType match {
      case org.apache.spark.sql.types.LongType =>
        raw.withColumnRenamed("ts", "ts_ns")
          .withColumn("ts", timestamp_micros(expr("ts_ns div 1000")))
          .withColumn("ts_ms", expr("ts_ns div 1000000"))
      case _ =>
        raw.withColumn("ts", col("ts").cast("timestamp"))
          .withColumn("ts_ns", unix_micros(col("ts")) * 1000L)
          .withColumn("ts_ms", expr("unix_micros(ts) div 1000"))
    }
  }
}
