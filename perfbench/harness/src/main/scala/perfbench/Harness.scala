package perfbench

import java.io.File
import java.nio.file.{Files, Paths}
import java.util.concurrent.ConcurrentLinkedQueue

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions.{col, element_at, lit}

import graft.SparkEntry
import graft.operators.Reference
import graft.streaming.Streaming

/** The JVM side of the benchmark (run.py drives it; see README.md).
  *
  * {{{
  * Harness --mode batch|live --data DIR --out DIR --cpus N --trace 0|1
  *         --warmup q_a,q_b [--queries FILE] [--live-in DIR]
  * }}}
  *
  * Set-up (session, warm-up queries, and for `live` the stream start and
  * its primer batch) runs first, in spans of its own, and ends with a
  * `READY` line on stdout. `batch` then runs the queries named in FILE, in
  * that order, one at a time: build (`SparkEntry.queries(name)(spark,
  * dir)`), plan (`queryExecution.executedPlan`), exec
  * (`queryExecution.toRdd.count()`), and, outside the timed spans, a
  * row-count and content digest of the result. `live` keeps the stream
  * `Streaming.fileIngest` → `Streaming.dedupStream` → a foreachBatch sink
  * running over `--live-in` until stdin reads `DONE`, then drains it. The
  * run record goes to `<out>/record.json`.
  */
object Harness {

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) if k.startsWith("--") => k.drop(2) -> v }
      .toMap
    val mode = opt("mode")
    val data = opt("data")
    val out = opt("out")
    val cpus = opt("cpus").toInt
    val traced = opt("trace") == "1"

    val jvmStart = java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime.toDouble
    val sessionStart = System.currentTimeMillis().toDouble
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName("perfbench")
      // the session graft.Bench builds for the board
      .config("spark.sql.shuffle.partitions", cpus.toString)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.maxPlanStringLength", "8192")
      .config("spark.sql.warehouse.dir", s"$out/warehouse")
      .config("spark.local.dir", s"$out/local")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val tracer = new Tracer(spark, traced)
    val sc = spark.sparkContext
    val liveIn = opt.get("live-in")
    val batches = new ConcurrentLinkedQueue[Map[String, Any]]()
    val warmup = opt.getOrElse("warmup", "").split(",").filter(_.nonEmpty).toSeq
    val setupStart = tracer.nowMs
    val live = tracer.span("setup", "setup", 0L) { sid =>
      tracer.mark("jvm", "setup", sid, jvmStart, sessionStart)
      tracer.mark("session", "setup", sid, sessionStart, setupStart)
      tracer.span("warmup", "setup", sid) { wid =>
        warmup.foreach { name =>
          tracer.span(name, "setup", wid) { _ =>
            SparkEntry.queries(name)(spark, data).queryExecution.toRdd.count()
            spark.sharedState.cacheManager.clearCache()
          }
        }
      }
      if (mode == "live") Some(startLive(spark, tracer, sid, liveIn.get, out, batches)) else None
    }

    println("READY")
    val result: Map[String, Any] = mode match {
      case "batch" =>
        val names = Files.readAllLines(Paths.get(opt("queries"))).asScala.map(_.trim).filter(_.nonEmpty)
        Map("queries" -> names.map(runQuery(spark, tracer, data, _)))
      case "live" =>
        val q = live.get
        val before = if (traced) Some(Tracer.counters()) else None
        tracer.span("live", "query", 0L) { lid =>
          val stdin = new java.io.BufferedReader(new java.io.InputStreamReader(System.in))
          Iterator.continually(stdin.readLine()).takeWhile(l => l != null && l.trim != "DONE")
            .foreach(_ => ())
          tracer.span("drain", "streaming", lid)(_ => q.processAllAvailable())
        }
        val counters = before.map(b => Tracer.counters().map { case (k, v) => k -> (v - b(k)) })
        q.stop()
        val decode = if (traced) Some(tracer.span("decode", "Reference", 0L) { _ =>
          Reference.readJson(spark, liveIn.get).queryExecution.toRdd.count()
        }) else None
        Map("batches" -> batches.asScala.toSeq, "decoded_rows" -> decode, "live_counters" -> counters)
    }

    val conf = sc.getConf
    val record = result ++ Map("jvm_start_ms" -> jvmStart,
      "host" -> Map(
        "nproc" -> Runtime.getRuntime.availableProcessors(),
        "master" -> sc.master,
        "heap_max_mb" -> Runtime.getRuntime.maxMemory / (1024 * 1024),
        "spark_version" -> spark.version,
        "java_version" -> System.getProperty("java.version"),
        "shuffle_partitions" -> conf.get("spark.sql.shuffle.partitions", "")),
      "trace" -> tracer.record())
    tracer.close()
    Files.write(Paths.get(out, "record.json"), Json(record).getBytes("UTF-8"))
    spark.stop()
    println("DONE")
  }

  /** One query: build, plan and exec in their own spans, then the output
    * check. The cache is cleared after every query, as graft.Bench does. */
  private def runQuery(spark: SparkSession, tracer: Tracer, data: String, name: String): Map[String, Any] = {
    val sc = spark.sparkContext
    val group = s"perfbench/$name"
    val before = if (tracer.listen) Some(state(spark)) else None
    var check: Map[String, Any] = Map.empty
    var error: String = null
    tracer.span(name, "query", 0L) { qid =>
      try {
        sc.setJobGroup(s"$group/build", name)
        val df = tracer.span("build", "operators", qid)(_ => SparkEntry.queries(name)(spark, data))
        sc.setJobGroup(s"$group/plan", name)
        val qe = df.queryExecution
        tracer.span("plan", "catalyst", qid)(_ => qe.executedPlan)
        sc.setJobGroup(s"$group/exec", name)
        tracer.span("exec", "exec", qid)(_ => qe.toRdd.count())
        tracer.drain()
        val after = before.map(_ => state(spark))
        sc.setJobGroup(s"$group/check", name)
        val (rows, digest) = tracer.span("check", "check", qid)(_ => Digest.of(qe))
        check = Map("rows" -> rows, "digest" -> digest) ++
          before.zip(after).map { case (b, a) => "counters" -> delta(b, a) }
      } catch {
        case e: Throwable =>
          error = s"${e.getClass.getSimpleName}: ${String.valueOf(e.getMessage).take(300)}"
          System.err.println(s"[perfbench] $name failed: $error")
      } finally {
        spark.sharedState.cacheManager.clearCache()
        sc.clearJobGroup()
      }
    }
    Map("name" -> name, "error" -> error) ++ check
  }

  /** What a query may leave behind, plus the process counters. */
  private def state(spark: SparkSession): Map[String, Any] = Map(
    "cached" -> org.apache.spark.sql.perfbench.Internals.cachedEntries(spark),
    "conf" -> spark.conf.getAll,
    "tmp_dirs" -> Option(new File(System.getProperty("java.io.tmpdir")).list()).toSeq.flatten
      .count(_.startsWith("graft-")),
    "counters" -> Tracer.counters())

  private def delta(b: Map[String, Any], a: Map[String, Any]): Map[String, Any] = {
    val cb = b("conf").asInstanceOf[Map[String, String]]
    val ca = a("conf").asInstanceOf[Map[String, String]]
    val cnt = (x: Map[String, Any]) => x("counters").asInstanceOf[Map[String, Double]]
    Map(
      "leaked_cached" -> a("cached"),
      "conf_drift" -> (cb.keySet ++ ca.keySet).count(k => cb.get(k) != ca.get(k)),
      "tmp_dirs_left" -> (a("tmp_dirs").asInstanceOf[Int] - b("tmp_dirs").asInstanceOf[Int])
    ) ++ cnt(a).map { case (k, v) => k -> (v - cnt(b)(k)) }
  }

  /** Starts the live pipeline and waits until the primer file run.py
    * writes before launch is committed, and then the no-data batch the
    * watermark's advance triggers: Spark drops late rows by the watermark
    * of the batch before, so only from the third batch on are rows beyond
    * the primer's watermark dropped. */
  private def startLive(spark: SparkSession, tracer: Tracer, parent: Long, in: String,
      out: String, batches: ConcurrentLinkedQueue[Map[String, Any]]) =
    tracer.span("stream_start", "setup", parent) { _ =>
      val sink: (DataFrame, Long) => Unit = (df, id) => {
        val start = tracer.nowMs
        val rows = df.select(col("transaction_id"), element_at(col("metadata"), lit("due_ms")))
          .collect()
        batches.add(Map("batch" -> id, "start_ms" -> start, "commit_ms" -> tracer.nowMs,
          "ids" -> rows.map(_.getString(0)).toSeq, "due_ms" -> rows.map(_.getString(1)).toSeq))
      }
      val q = Streaming.dedupStream(Streaming.fileIngest(spark, in))
        .writeStream.foreachBatch(sink)
        .option("checkpointLocation", s"$out/live-checkpoint")
        .start()
      val deadline = System.nanoTime() + 120L * 1000 * 1000 * 1000
      while (batches.size < 2 && q.isActive && System.nanoTime() < deadline) Thread.sleep(5)
      require(batches.size >= 2, s"live: the primer batches were not committed: ${q.exception}")
      q
    }
}
