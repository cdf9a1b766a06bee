package graft

import java.nio.file.{Files, Paths}
import java.nio.file.attribute.BasicFileAttributes
import java.util.concurrent.ConcurrentHashMap

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

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
    spark
  }

  /** Opt-in AQE posture for the 100 TB deployment, applied by an
    * explicit call on the session: instead of sizing
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
    val path = s"$dir/$name.parquet"
    spark.read.schema(schemaOf(spark, path)).parquet(path)
  }

  /** Inferred parquet schemas, per session and [[version]]. */
  private val schemas = java.util.Collections.synchronizedMap(
    new java.util.WeakHashMap[SparkSession, ConcurrentHashMap[Seq[Any], StructType]]())

  /** The schema Spark infers for the parquet file or directory at
    * `path` under [[configure]], inferred once per session and file
    * version: inference is a Spark job of its own, which would
    * otherwise run on every read. A non-local path is always inferred. */
  private[graft] def schemaOf(spark: SparkSession, path: String): StructType = {
    configure(spark)
    lazy val inferred = spark.read.parquet(path).schema
    version(path).fold(inferred)(schemas.computeIfAbsent(spark, _ => new ConcurrentHashMap())
      .computeIfAbsent(_, _ => inferred))
  }

  /** One version of a local file: its canonical path, NIO file key,
    * mtime and size; of a directory, those of every data file under it
    * (not named `_*` or `.*`, as in Spark's listing). */
  private def version(path: String): Option[Seq[Any]] =
    Some(Paths.get(path)).filter(p => !path.contains(":/") && Files.exists(p))
      .map(_.toRealPath()).map { root =>
        val walk = Files.walk(root)
        try root.toString +: walk.iterator.asScala.filter(p => Files.isRegularFile(p) &&
            !root.relativize(p).iterator.asScala.exists(_.toString.matches("[_.].*")))
          .map { p =>
            val a = Files.readAttributes(p, classOf[BasicFileAttributes])
            Seq(p.toString, a.fileKey, a.lastModifiedTime.toMillis, a.size)
          }.toSeq.sortBy(_.head.toString).flatten
        finally walk.close()
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
