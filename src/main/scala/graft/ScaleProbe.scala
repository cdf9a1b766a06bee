package graft

import graft.obs.Recorder
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.{FormattedMode, SparkPlan}
import org.apache.spark.sql.execution.adaptive.{AdaptiveSparkPlanExec, QueryStageExec}
import org.apache.spark.sql.execution.exchange.ReusedExchangeExec
import scala.jdk.CollectionConverters._

/** Per-query wall + shuffle-byte probe for the scale methodology
  * (PERF.md's "operator scale table"): runs a named subset of
  * [[SparkEntry.queries]] against `SPARK_GRAFT_SF_DIR` and prints one
  * JSON line per query with wall seconds, shuffle bytes written/read
  * and exchange count — the evidence that an iterative operator
  * family's per-hop shuffles stay LINEAR in rows as the corpus grows a
  * decade (a loop whose shuffle volume grows super-linearly is
  * invisible in a wall-only reading when fixed costs dominate, and
  * fatal at 100 TB).
  *
  * Usage:
  *   SPARK_GRAFT_SF_DIR=<dir> runMain graft.ScaleProbe q_a,q_b,... [planDir]
  *
  * Two shuffle readings per query, because they answer different
  * questions:
  *  - plan_*: the executed plan's own SQLMetrics (summed across AQE
  *    stages and reused exchanges) — per-query exact, but BLIND to
  *    sub-jobs whose plans detach (an iterative operator's per-hop
  *    localCheckpoint rounds);
  *  - total_*: every stage the query's build and run completed, as
  *    [[Recorder]] saw them — covers the checkpointed hops, which is
  *    exactly what the iterative graph family needs measured.
  *
  * A query's fixed cost lives in its sub-jobs: an operator may run
  * dozens of them (persists, eager checkpoints, convergence probes)
  * while it is built, which no plan dump shows. So each line also
  * carries the build time (`build_s`, the operator's eager work),
  * `jobs` and `gc_ms`, the slowest jobs go to stderr (id, seconds,
  * stages, description) to name the ACTION that eats the wall, and
  * with `planDir` the query's `.explain("formatted")` is written to
  * `<planDir>/<query>.txt`. */
object ScaleProbe {
  /** Candidate-pair counters for the banded generators whose decade
    * shuffle readings are attributed to candidate growth (VERDICT r10
    * directive 2): the probe line carries the MEASURED candidate count
    * (`cand_pairs`) next to the shuffle bytes, so cand× vs shuf× is a
    * recorded ratio, not a narrative. Counted outside the recorded
    * run — the counter's own stages never contaminate the reading. */
  private val candCounters: Map[String, (SparkSession, String) => Long] = Map(
    "q_knn_graph" -> ((s, d) =>
      graft.operators.Similarity.knnCandidatePairs(Tables.embeddings(s, d)).count()),
    "q_dedup_minhash_lsh" -> ((s, d) =>
      graft.operators.Dedup.lshCandidatePairs(Tables.documents(s, d)).count()),
    // the star-contraction input: covisit pair density grows with
    // per-(merchant, hour) cell occupancy², so the decade's shuffle
    // excess over 10× must track THIS count, not the row count
    "q_graph_cc" -> ((s, d) =>
      graft.operators.Graph.covisitEdges(Tables.events(s, d)).count()))

  /** Jobs listed per query, slowest first. */
  private val SlowJobs = 40

  /** All physical nodes, descending into AQE stages and reuse. */
  private def nodes(p: SparkPlan): Seq[SparkPlan] = {
    val kids = p match {
      case a: AdaptiveSparkPlanExec => Seq(a.executedPlan)
      case q: QueryStageExec => Seq(q.plan)
      case r: ReusedExchangeExec => Seq(r.child)
      case _ => p.children
    }
    p +: kids.flatMap(nodes)
  }

  private def gcMs: Long = java.lang.management.ManagementFactory
    .getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Builds and runs query `name` over `sfDir`, clears the session's
    * cache and returns the query's JSON line. */
  private[graft] def probe(spark: SparkSession, sfDir: String, name: String,
      planDir: Option[String] = None): String = {
    var build, wall = -1.0
    val gc0 = gcMs
    val (qe, rec) = Recorder(spark) {
      val t0 = System.nanoTime()
      try {
        val q = SparkEntry.queries(name)(spark, sfDir).queryExecution
        build = (System.nanoTime() - t0) / 1e9
        q.toRdd.count()
        Some(q)
      } catch { case e: Throwable =>
        System.err.println(s"[probe] $name failed: ${e.getMessage}"); None
      } finally wall = (System.nanoTime() - t0) / 1e9
    }
    val gc = gcMs - gc0
    val (w, r, ex) = qe.map { q =>
      val ns = nodes(q.executedPlan).distinct
      def sum(key: String): Long =
        ns.flatMap(_.metrics.get(key)).map(_.value).sum
      (sum("shuffleBytesWritten"),
        sum("localBytesRead") + sum("remoteBytesRead"),
        ns.count(_.getClass.getSimpleName.contains("ShuffleExchange")))
    }.getOrElse((-1L, -1L, -1))
    for (q <- qe; dir <- planDir) {
      java.nio.file.Files.createDirectories(java.nio.file.Paths.get(dir))
      java.nio.file.Files.writeString(java.nio.file.Paths.get(dir, s"$name.txt"),
        q.explainString(FormattedMode))
    }
    spark.sharedState.cacheManager.clearCache()
    rec.jobs.sortBy(-_.seconds).take(SlowJobs).foreach { j =>
      System.err.println(f"[probe] $name job=${j.id}%-5d ${j.seconds}%7.3f s " +
        f"stages=${j.stages}%-3d ${j.description.replaceAll("\\s+", " ").take(80)}")
    }
    val cand = candCounters.get(name).map { f =>
      try f(spark, sfDir) catch { case _: Throwable => -1L } }
    spark.sharedState.cacheManager.clearCache()
    val candField = cand.map(c => s""""cand_pairs":$c,""").getOrElse("")
    // Streaming state peaks: the q_stream_* replays run real streaming
    // queries on this session, so the recording holds every batch's
    // StateOperatorProgress. A query whose peak state grows with
    // CORPUS SIZE instead of the watermark horizon is the 100 TB
    // streaming killer this probe exists to catch.
    val stateOps = rec.progress.map(_.stateOperators.length).foldLeft(0)(math.max)
    val stateField = if (stateOps > 0)
      s""""peak_state_rows":${StreamStateProbe.peakState(rec.progress)._1},"state_ops":$stateOps,"""
    else ""
    f"""{"query":"$name","ok":${qe.isDefined},"wall_s":$wall%.3f,"build_s":$build%.3f,""" +
      s""""jobs":${rec.jobs.size},"gc_ms":$gc,""" +
      s""""plan_shuffle_write_bytes":$w,"plan_shuffle_read_bytes":$r,""" +
      s""""exchanges":$ex,"total_shuffle_write_bytes":${rec.stages.map(_.shuffleWriteBytes).sum},""" +
      s""""total_shuffle_read_bytes":${rec.stages.map(_.shuffleReadBytes).sum},""" +
      s""""stages":${rec.stages.size},$candField$stateField""" +
      s""""sf":"$sfDir"}"""
  }

  def main(args: Array[String]): Unit = {
    val names = args.headOption.map(_.split(",").toSeq)
      .getOrElse(sys.error("usage: ScaleProbe q_a,q_b,... [planDir]"))
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    val cpus = sys.env.getOrElse("SPARK_GRAFT_CPUS", "4")
    val spark = SparkSession.builder()
      .master(s"local[$cpus]")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    try SparkEntry.entry(spark).count() catch { case _: Throwable => } // warmup
    names.foreach(n => println(probe(spark, sfDir, n, args.lift(1))))
    spark.stop()
  }
}
