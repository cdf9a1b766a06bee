package graft

import graft.obs.Recorder
import graft.streaming.Streaming
import java.nio.file.Files

/** [[Recorder]]'s attribution and the probe main that reads it. */
class ObsSpec extends SparkSpec {

  test("Recorder: a body's jobs, shuffle stage and actions, none shared with the next body") {
    def body(): Long = {
      // one job of two stages, the first writing shuffle output
      spark.sparkContext.parallelize(1 to 1000, 4).map(i => (i % 10, i))
        .reduceByKey(_ + _).count()
      // one job, one stage: a single-partition range needs no exchange
      spark.range(0, 10, 1, 1).count()
    }
    val (_, a) = Recorder(spark)(body())
    val (_, b) = Recorder(spark)(body())
    for (r <- Seq(a, b)) {
      assert(r.jobs.map(_.stages) === Seq(2, 1))
      assert(r.jobs.forall(j => j.endMs >= j.startMs))
      assert(r.stages.size === 3)
      assert(r.stages.count(_.shuffleWriteBytes > 0) === 1)
      assert(r.stages.count(_.shuffleReadBytes > 0) === 1)
      assert(r.actions.map(_.name) === Seq("count"))
      assert(r.progress.isEmpty)
    }
    assert(a.jobs.map(_.id).intersect(b.jobs.map(_.id)).isEmpty)
    assert(a.stages.map(_.id).intersect(b.stages.map(_.id)).isEmpty)
  }

  test("Recorder: a sliced replay's progress, one batch per slice to the last") {
    val (ps, slices) = StreamStateProbe.withSlicedEvents(spark, sf) { (dir, n) =>
      (StreamStateProbe.replaySliced(spark, dir, Streaming.dedupPipeline(10L, 5L)), n)
    }
    assert(slices > 1)
    assert(ps.map(_.batchId) === (0L until ps.size))
    assert(ps.count(_.numInputRows > 0) === slices)
    assert(ps.map(_.numInputRows).sum === Tables.events(spark, sf).count())
  }

  test("ScaleProbe: one JSON line per query, and the formatted plan on request") {
    val plans = Files.createTempDirectory("graft-probe")
    val json = new com.fasterxml.jackson.databind.ObjectMapper
    try {
      val batch = json.readTree(ScaleProbe.probe(spark, sf, "q_dedup_distinct", Some(plans.toString)))
      val stream = json.readTree(ScaleProbe.probe(spark, sf, "q_stream_dedup"))
      for (line <- Seq(batch, stream)) {
        assert(line.get("ok").asBoolean, line)
        assert(line.get("jobs").asInt > 0, line)
        assert(line.get("stages").asInt > 0, line)
      }
      assert(stream.get("peak_state_rows").asLong > 0, stream)
      assert(!batch.has("peak_state_rows"), batch)
      assert(Files.readString(plans.resolve("q_dedup_distinct.txt")).contains("== Physical Plan =="))
      assert(!Files.exists(plans.resolve("q_stream_dedup.txt")))
    } finally Streaming.rmTree(plans.toFile)
  }
}
