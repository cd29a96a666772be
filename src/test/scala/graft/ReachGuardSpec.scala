package graft

import java.nio.file.{Files, Path, Paths}
import scala.jdk.CollectionConverters._

/** Structural guard: every public def of a top-level object in `src/main`
  * is named somewhere else in `src/main`. A def that only its own specs
  * call is code that no declared query, main or `SparkEntry` entry point
  * reaches; the fatal unused lint cannot see it, because it is public.
  * Delete it with its specs, or move it to `src/test` if specs compare
  * against it.
  *
  * Comments and string literals are blanked first, so a name mentioned
  * only in a scaladoc link or a message does not count as a use; the
  * splices of interpolated strings stay code.
  *
  * Blind spot: it matches on names, not on symbols. Two defs with the same
  * name (an overload, or a def of the same name in another object or
  * class, private ones included) hide each other, and so does any other
  * identifier spelled like the def.
  */
class ReachGuardSpec extends org.scalatest.funsuite.AnyFunSuite {

  private val root = Paths.get("src/main/scala")

  /** `Object.name` of the defs kept although nothing in `src/main` names
    * them, each with the reason. */
  private val allowed: Map[String, String] = Map(
    "Ingest.readJdbc" ->
      "the reference's MySQL ingest; JdbcDocStoreSpec pins it",
    "DocumentStore.readCollections" ->
      "the reference's MongoDB ingest; JdbcDocStoreSpec pins it",
    "DuckDbDialect.ensureRegistered" ->
      "the second JDBC dialect of the reference's ingest parity; JdbcDocStoreSpec pins it",
    "SparkEntry.entry" ->
      "the flagship entry point SparkEntry exposes to external callers")

  /** `src` with comments, string literals and char literals blanked to
    * spaces (newlines kept, so line numbers survive). In an interpolated
    * string, `$x` keeps `x` and `${e}` keeps `e`. */
  private def stripped(src: String): String = {
    val n = src.length
    val out = new StringBuilder(n)
    def blank(i: Int): Unit = out.append(if (src(i) == '\n') '\n' else ' ')
    def at(i: Int, s: String) = src.startsWith(s, i)
    def idPart(c: Char) = c.isLetterOrDigit || c == '_'

    // One past the end of the char literal at i, or -1 if there is none.
    def charLiteralEnd(i: Int): Int = {
      val len = if (at(i, "'\\u")) 8 else if (at(i, "'\\")) 4 else 3
      if (i + len <= n && src(i + len - 1) == '\'' && src(i + 1) != '\n') i + len else -1
    }

    def comment(start: Int): Int = {
      var i = start
      var depth = 0
      while (i < n && (i == start || depth > 0)) {
        if (at(i, "/*")) { depth += 1; blank(i); blank(i + 1); i += 2 }
        else if (at(i, "*/")) { depth -= 1; blank(i); blank(i + 1); i += 2 }
        else { blank(i); i += 1 }
      }
      i
    }

    def string(start: Int): Int = {
      val interpolated = start > 0 && idPart(src(start - 1))
      val triple = at(start, "\"\"\"")
      var i = start + (if (triple) 3 else 1)
      (start until i).foreach(blank)
      var closed = false
      while (i < n && !closed) {
        if (triple && at(i, "\"\"\"")) {
          while (i < n && src(i) == '"') { blank(i); i += 1 }
          closed = true
        } else if (!triple && src(i) == '"') { blank(i); i += 1; closed = true }
        else if (!triple && src(i) == '\\' && i + 1 < n) { blank(i); blank(i + 1); i += 2 }
        else if (interpolated && at(i, "$$")) { blank(i); blank(i + 1); i += 2 }
        else if (interpolated && at(i, "${")) { blank(i); blank(i + 1); i = code(i + 2, splice = true) }
        else if (interpolated && src(i) == '$' && i + 1 < n && idPart(src(i + 1))) {
          blank(i); i += 1
          while (i < n && idPart(src(i))) { out.append(src(i)); i += 1 }
        } else { blank(i); i += 1 }
      }
      i
    }

    // Copies code from `start`; a splice ends after its closing brace.
    def code(start: Int, splice: Boolean): Int = {
      var i = start
      var depth = 0
      var closed = false
      while (i < n && !closed) {
        val c = src(i)
        if (at(i, "//")) while (i < n && src(i) != '\n') { blank(i); i += 1 }
        else if (at(i, "/*")) i = comment(i)
        else if (c == '"') i = string(i)
        else if (c == '\'' && charLiteralEnd(i) > 0) {
          val end = charLiteralEnd(i)
          while (i < end) { blank(i); i += 1 }
        } else if (splice && c == '}' && depth == 0) { blank(i); i += 1; closed = true }
        else {
          if (splice && c == '{') depth += 1
          if (splice && c == '}') depth -= 1
          out.append(c); i += 1
        }
      }
      i
    }

    code(0, splice = false)
    out.toString
  }

  private val identifier = """[A-Za-z_][A-Za-z0-9_]*""".r
  private val token = """\b(object|class|trait)\s+([A-Za-z_]\w*)|\bdef\s+([A-Za-z_]\w*)|[{}]""".r
  private val hiding = """\b(private|override)\b""".r

  /** (line, Object.name) of each def that is a direct member of a top-level
    * object and is neither private, override nor `main`. */
  private def memberDefs(code: String): Seq[(Int, String)] = {
    var depth = 0
    var obj: Option[String] = None
    for {
      (line, i) <- code.split("\n", -1).toSeq.zipWithIndex
      m <- token.findAllMatchIn(line).toSeq
      found <- m.matched match {
        case "{" => depth += 1; None
        case "}" => depth -= 1; None
        case _ if m.group(1) != null =>
          if (depth == 0) obj = if (m.group(1) == "object") Some(m.group(2)) else None
          None
        case _ =>
          val name = m.group(3)
          val hidden = hiding.findFirstIn(line.substring(0, m.start)).isDefined
          if (depth == 1 && !hidden && name != "main") obj.map(o => (i + 1, s"$o.$name"))
          else None
      }
    } yield found
  }

  /** `file:line Object.name` of every member def whose name appears
    * nowhere else in `src/main/scala`. */
  private def unreferenced(): Seq[(String, String)] = {
    assert(Files.isDirectory(root), s"run from the project root: no $root")
    val sources: Seq[(Path, String)] = Files.walk(root).iterator().asScala
      .filter(_.toString.endsWith(".scala")).toSeq.sorted
      .map(p => p -> stripped(new String(Files.readAllBytes(p), "UTF-8")))
    val uses = sources.flatMap { case (_, code) => identifier.findAllIn(code) }
      .groupMapReduce(identity)(_ => 1)(_ + _)
    for {
      (p, code) <- sources
      (line, qualified) <- memberDefs(code)
      if uses(qualified.substring(qualified.indexOf('.') + 1)) == 1
    } yield (qualified, s"${root.relativize(p)}:$line $qualified")
  }

  test("comments and string literals are blanked; splices stay code") {
    val src = "val a = f(\"g(x)\") // h()\n/* i /* j */ k */ val c = '\"'; s\"$l ${m(n)} $$o\""
    assert(identifier.findAllIn(stripped(src)).toSet ==
      Set("val", "a", "f", "c", "s", "l", "m", "n"))
    assert(stripped(src).count(_ == '\n') == 1)
  }

  test("every public def of a top-level object in src/main is named elsewhere in src/main") {
    val found = unreferenced()
    val offences = found.collect { case (q, where) if !allowed.contains(q) => where }
    if (offences.nonEmpty)
      fail(offences.mkString("not named elsewhere in src/main; delete each (or move it to src/test):\n", "\n", ""))
    val stale = allowed.keySet -- found.map(_._1)
    if (stale.nonEmpty)
      fail(s"allowlisted but named in src/main, or gone: ${stale.toSeq.sorted.mkString(", ")}")
  }
}
