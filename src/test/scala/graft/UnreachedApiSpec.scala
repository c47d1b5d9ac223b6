package graft

import java.io.File

import scala.io.Source

import org.scalatest.funsuite.AnyFunSuite

/** Guard against main-code API that only tests reach.
  *
  * Scans every `.scala` file under `src/main` and `perfbench/src` for `def`
  * declarations (overrides excluded: the framework calls those) and fails
  * on each name that no code outside its own body mentions. Comments do not
  * count as a mention; string literals do, being code. The check is by
  * name, so a name shared with anything else in main code passes — it
  * catches API that nothing reaches, not every dead overload.
  */
class UnreachedApiSpec extends AnyFunSuite {

  /** Names no main code calls that stay, each with its reason. */
  private val allowed = Map(
    "main" -> "program entry points, run by the JVM",
    "runChain" -> "the only reproduction of the reference's two-workflow DVC chain (EP3)",
    "status" -> "VersioningSpec's oracle for add/push/pull")

  private val repoRoot: File =
    Iterator.iterate(new File(sys.props("user.dir")).getAbsoluteFile)(_.getParentFile)
      .takeWhile(_ != null)
      .find(d => new File(d, "src/main/scala/graft").isDirectory)
      .getOrElse(fail("no src/main/scala/graft above the working directory"))

  private def scalaFiles(dir: File): Seq[File] =
    Option(dir.listFiles()).toSeq.flatten.sortBy(_.getName).flatMap { f =>
      if (f.isDirectory) scalaFiles(f)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    }

  /** `src` with its comments blanked out (newlines kept, so line numbers
    * hold); string and character literals are kept whole, so a `//` inside
    * a string does not start a comment.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    var i = 0
    val n = src.length
    def at(s: String) = src.startsWith(s, i)
    while (i < n) {
      if (at("//")) {
        while (i < n && src(i) != '\n') i += 1
      } else if (at("/*")) {
        var depth = 1
        i += 2
        while (i < n && depth > 0) {
          if (at("/*")) { depth += 1; i += 2 }
          else if (at("*/")) { depth -= 1; i += 2 }
          else { if (src(i) == '\n') out += '\n'; i += 1 }
        }
      } else if (at("\"\"\"")) {
        val close = src.indexOf("\"\"\"", i + 3)
        var j = if (close < 0) n else close + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j)
        i = j
      } else if (src(i) == '\'' && i + 2 < n && src(i + 1) != '\\' && src(i + 2) == '\'') {
        out ++= src.substring(i, i + 3)
        i += 3
      } else if (src(i) == '\'' && i + 3 < n && src(i + 1) == '\\' && src(i + 3) == '\'') {
        out ++= src.substring(i, i + 4)
        i += 4
      } else {
        out += src(i)
        i += 1
      }
    }
    out.toString
  }

  private val DefLine = """^(\s*)(.*?)\bdef\s+([A-Za-z_][A-Za-z0-9_]*).*""".r

  private def indent(line: String): Int = line.length - line.dropWhile(_ == ' ').length

  test("every main-code def is reached from main code, or allowed with a reason") {
    val files = Seq("src/main", "perfbench/src").flatMap(d => scalaFiles(new File(repoRoot, d)))
    assert(files.size > 50, s"scan found only ${files.size} files under $repoRoot")
    val lines: Map[String, IndexedSeq[String]] = files.map { f =>
      val src = Source.fromFile(f, "UTF-8")
      val text = try stripComments(src.mkString) finally src.close()
      repoRoot.toPath.relativize(f.toPath).toString -> text.split("\n", -1).toIndexedSeq
    }.toMap
    // name -> (file, first line, end line exclusive) of each definition body:
    // the body runs until the next non-blank line indented no deeper than
    // the `def` that does not close a bracket the def opened
    val defs = (for {
      (file, ls) <- lines.toSeq
      (line, i) <- ls.zipWithIndex
      m <- DefLine.findFirstMatchIn(line)
      if !m.group(2).contains("override")
    } yield {
      val k = m.group(1).length
      val end = ls.indices.drop(i + 1).find { j =>
        val t = ls(j).trim
        t.nonEmpty && indent(ls(j)) <= k && !t.startsWith("}") && !t.startsWith(")")
      }.getOrElse(ls.length)
      m.group(3) -> (file, i, end)
    }).groupMap(_._1)(_._2)
    // every identifier occurrence in main code, by name: (file, line)
    val Ident = "[A-Za-z_][A-Za-z0-9_]*".r
    val uses = (for {
      (file, ls) <- lines.toSeq
      (line, j) <- ls.zipWithIndex
      name <- Ident.findAllIn(line)
    } yield name -> (file, j)).groupMap(_._1)(_._2)
    val unreached = defs.filterNot { case (name, bodies) =>
      uses(name).exists { case (file, j) =>
        !bodies.exists { case (f, a, b) => f == file && j >= a && j < b }
      }
    }.map { case (name, bodies) => name -> bodies.map { case (f, a, _) => s"$f:${a + 1}" }.sorted }
    val report = (unreached -- allowed.keys).toSeq.sortBy(_._1)
      .map { case (name, at) => s"$name (${at.mkString(", ")})" }
    if (report.nonEmpty)
      fail("defs that no main code outside their own body reaches — delete them with their " +
        s"tests, or allow them with a reason:\n${report.mkString("\n")}")
    // an allowed name that main code reaches again no longer needs its entry
    val stale = allowed.keySet -- unreached.keySet
    assert(stale.isEmpty, s"allowed but reached from main code: ${stale.mkString(", ")}")
  }
}
