package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Structural guard: scratch locations are decided in two places.
  * [[graft.operators.RunDirs]] places run-scoped scratch and
  * [[graft.operators.Artifacts]] places the session's built-once artifacts;
  * a source that picks its own temp dir, or names a fixed /tmp path, makes
  * files that nothing releases and that a later run can pick up. In the
  * specs, [[SparkTestBase.tempDir]] is the one place that makes a temp dir,
  * and it deletes each one when its suite ends.
  */
class ScratchGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private def offences(root: Path, allowed: Set[String])(hit: String => Boolean): Seq[String] = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val sources: Seq[Path] = Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
    for {
      p <- sources if !allowed(p.getFileName.toString)
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if hit(line)
    } yield s"${root.relativize(p)}:${i + 1}"
  }

  private val main = Paths.get("src/main/scala")

  test("only RunDirs and Artifacts read java.io.tmpdir") {
    val found = offences(main, Set("RunDirs.scala", "Artifacts.scala"))(
      _.contains("\"java.io.tmpdir\""))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("no source names a /tmp/ literal") {
    val found = offences(main, Set.empty)(_.contains("\"/tmp/"))
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }

  test("only SparkTestBase creates temp dirs in the specs") {
    val tempCall = """createTemp(Directory|File)\(""".r
    // TarShardProps is a ScalaCheck Properties object, not a suite, so it
    // has no end to release a dir at: each case deletes the dir it made.
    val found = offences(Paths.get("src/test/scala"),
        Set("SparkTestBase.scala", "TarShardProps.scala"))(
      tempCall.findFirstIn(_).isDefined)
    assert(found.isEmpty, found.mkString("\n", "\n", ""))
  }
}
