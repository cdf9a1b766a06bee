package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guards for the shared lifecycles in `src/main/scala`: every
  * persisted relation is registered with a [[Scope]], which releases it
  * when the operator returns or throws; every `transformWithState`
  * processor moves its event-time timer through
  * [[graft.streaming.FlushAtWatermark]]; and, in the tests too, every
  * Spark listener is [[graft.obs.Recorder]]'s, which drains the
  * listener bus around what it records. */
class ScopeSpec extends AnyFunSuite {

  /** Top-level defs allowed to persist and release by hand, per file. */
  private val allowed = Map(
    // hands a checkpointed label generation from round to round and
    // releases the predecessor inside the loop
    "graft/operators/Dedup.scala" -> Set("components"))

  private val direct = """\.persist\(\s*(\)|StorageLevel)|\.unpersist\(|\.cache\(\)""".r
  private val member = """^  (?:(?:private|protected)(?:\[\w+\])? |override |final )*def (\w+)""".r

  /** The source with comments blanked, line structure kept. */
  private def code(src: String): Array[String] =
    """(?s)/\*.*?\*/""".r.replaceAllIn(src, m => m.matched.replaceAll("[^\n]", " "))
      .split("\n", -1).map(_.replaceAll("//.*$", ""))

  /** Every source under `dir`: (path under it, [[code]] lines). */
  private def sources(dir: String = "src/main/scala"): Seq[(String, Array[String])] = {
    val root = Paths.get(dir)
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
      .map((f: Path) => (root.relativize(f).toString,
        code(new String(Files.readAllBytes(f), "UTF-8"))))
  }

  test("no persist or unpersist outside Scope and the allow-list") {
    val offenders = for {
      (rel, lines) <- sources()
      if rel != "graft/Scope.scala"
      (line, i) <- lines.zipWithIndex
      if direct.findFirstIn(line).isDefined
      owner = lines.take(i + 1).reverseIterator
        .collectFirst { case l if member.findFirstIn(l).isDefined =>
          member.findFirstMatchIn(l).get.group(1) }.getOrElse("")
      if !allowed.getOrElse(rel, Set.empty[String]).contains(owner)
    } yield s"$rel:${i + 1} ($owner): ${line.trim}"
    assert(offenders.isEmpty,
      "cache calls outside Scope (use Scope { s => s.persist(...) }):\n" +
        offenders.mkString("\n"))
  }

  private val timerCall =
    """registerTimer\(|deleteTimer\(|(?:new|extends)\s+StatefulProcessor""".r

  test("no timer calls or StatefulProcessor outside FlushAtWatermark") {
    val offenders = for {
      (rel, lines) <- sources()
      if rel != "graft/streaming/FlushAtWatermark.scala"
      (line, i) <- lines.zipWithIndex
      if timerCall.findFirstIn(line).isDefined
    } yield s"$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "timer bookkeeping outside FlushAtWatermark (extend it and implement " +
        "absorb/emit/clearState):\n" + offenders.mkString("\n"))
  }

  private val listenerCode = ("""(?:new|extends|with)\s+[\w.]*""" +
    """(?:SparkListener|QueryExecutionListener|StreamingQueryListener)\b|""" +
    """addSparkListener\(|listenerManager\.register\(|streams\.addListener\(""").r

  test("no Spark listener outside graft/obs") {
    val offenders = for {
      dir <- Seq("src/main/scala", "src/test/scala")
      (rel, lines) <- sources(dir)
      if !rel.startsWith("graft/obs/")
      (line, i) <- lines.zipWithIndex
      if listenerCode.findFirstIn(line).isDefined
    } yield s"$dir/$rel:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "Spark listener outside graft/obs (record with graft.obs.Recorder):\n" +
        offenders.mkString("\n"))
  }
}
