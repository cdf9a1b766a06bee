package graft

import java.nio.file.{Files, Path, Paths}

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite

/** Source guard for the operators' cache lifecycle: every persisted
  * relation in `src/main/scala` is registered with a [[Scope]], which
  * releases it when the operator returns or throws. */
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

  test("no persist or unpersist outside Scope and the allow-list") {
    val root = Paths.get("src/main/scala")
    assert(Files.isDirectory(root), s"run from the repo root (no $root)")
    val files = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq
    val offenders = for {
      f: Path <- files
      rel = root.relativize(f).toString
      if rel != "graft/Scope.scala"
      lines = code(new String(Files.readAllBytes(f), "UTF-8"))
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
}
