package graft

import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Structural guard: [[GraftSession]] is the one place in the program that
  * builds a session, registers graft's SQL functions or reads the session
  * environment. A second builder is how the mains drifted apart before.
  * No source tunes the ContextCleaner either.
  */
class SessionGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  private val banned = Seq(
    "SparkSession.builder" -> "builds its own session",
    "GraftExtensions.register(" -> "registers graft's functions itself",
    "\"SPARK_GRAFT_CPUS\"" -> "reads SPARK_GRAFT_CPUS",
    "\"SPARK_MASTER\"" -> "reads SPARK_MASTER")

  private def sources = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    Files.walk(root).iterator().asScala
      .filter(p => p.toString.endsWith(".scala")).toSeq
  }

  test("only GraftSession builds a session, registers functions or reads the session env") {
    val offences = for {
      p <- sources if p.getFileName.toString != "GraftSession.scala"
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      (pattern, what) <- banned if line.contains(pattern)
    } yield s"${root.relativize(p)}:${i + 1} $what"
    assert(offences.isEmpty, offences.mkString("\n", "\n", ""))
    assert(sources.exists(_.getFileName.toString == "GraftSession.scala"))
  }

  // Blocks a query leaves are freed by QueryScope when it ends; a cleaner
  // setting (such as a periodic forced full GC) would tune the program
  // around blocks that no scope frees.
  test("no src/main source sets a spark.cleaner key") {
    val offences = for {
      p <- sources
      (line, i) <- Files.readAllLines(p).asScala.zipWithIndex
      if line.contains("\"spark.cleaner.")
    } yield s"${root.relativize(p)}:${i + 1} ${line.trim}"
    assert(offences.isEmpty, offences.mkString("\n", "\n", ""))
  }
}
