package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Structural guard: scratch locations are decided in two places.
  * [[graft.operators.RunDirs]] places run-scoped scratch and
  * [[graft.operators.Artifacts]] places the session's built-once artifacts;
  * a source that picks its own temp dir, or names a fixed /tmp path, makes
  * files that nothing releases and that a later run can pick up.
  */
class ScratchGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private def offences(pattern: String, allowed: Set[String]): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    for {
      p <- sources if !allowed(p.getFileName.toString)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains(pattern)
    } yield s"${root.relativize(p)}:${i + 1}"
  }

  test("only RunDirs and Artifacts read java.io.tmpdir") {
    val found = offences("\"java.io.tmpdir\"", Set("RunDirs.scala", "Artifacts.scala"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no source names a /tmp/ literal") {
    val found = offences("\"/tmp/", Set.empty)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
