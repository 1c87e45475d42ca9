package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Every file under src/main/scala must be reached: it declares at least
  * one top-level `object`, `class` or `trait` that another file under
  * src/main/scala or perfbench/scala names outside comments. A
  * `DataSourceRegister` provider is also reached when another main file
  * uses its `shortName` string (`format("graft-snapshot")`). Code that
  * only its own spec calls fails here; the exceptions are the mains that
  * [[EntryPointsSpec]] pins.
  */
class ReachabilitySpec extends AnyFunSuite {

  private val PackageDecl = """(?m)^package\s+([\w.]+)""".r
  private val TopLevelDecl =
    """(?m)^(?:(?:private(?:\[\w+\])?|protected|final|sealed|abstract|case|implicit)\s+)*(?:object|class|trait)\s+(\w+)""".r
  private val ShortName = """def\s+shortName\s*\(\s*\)\s*:\s*String\s*=\s*("[^"]*")""".r

  /** Names relative to the `graft` package that no other file has to
    * reach: the mains.
    */
  private val allowed = Set("app.Jobs", "Bench", "Verify", "DumpPlans",
    "tools.PlanSnap", "tools.ScaleGen")

  /** `src` without its comments; string and char literals are kept, so a
    * `//` inside a URL string is not a comment and a `shortName` string
    * still counts.
    */
  private def stripComments(src: String): String = {
    val out = new StringBuilder
    val n = src.length
    var i = 0
    while (i < n) {
      if (src.startsWith("\"\"\"", i)) {
        var j = src.indexOf("\"\"\"", i + 3)
        j = if (j < 0) n else j + 3
        while (j < n && src(j) == '"') j += 1
        out ++= src.substring(i, j); i = j
      } else if (src(i) == '"') {
        var j = i + 1
        while (j < n && src(j) != '"' && src(j) != '\n') j += (if (src(j) == '\\') 2 else 1)
        j = math.min(j + 1, n)
        out ++= src.substring(i, j); i = j
      } else if (src.startsWith("//", i)) {
        val j = src.indexOf('\n', i)
        i = if (j < 0) n else j
      } else if (src.startsWith("/*", i)) {
        var depth = 1
        var j = i + 2
        while (j < n && depth > 0) {
          if (src.startsWith("/*", j)) { depth += 1; j += 2 }
          else if (src.startsWith("*/", j)) { depth -= 1; j += 2 }
          else j += 1
        }
        out += ' '; i = j
      } else if (src(i) == '\'' && i + 2 < n &&
          (src(i + 2) == '\'' || (src(i + 1) == '\\' && i + 3 < n && src(i + 3) == '\''))) {
        val j = if (src(i + 2) == '\'') i + 3 else i + 4
        out ++= src.substring(i, j); i = j
      } else { out += src(i); i += 1 }
    }
    out.toString
  }

  /** Comment-free source text of each `.scala` file under `root`. */
  private def sources(root: String): Map[String, String] =
    Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .map(f => f.toString -> stripComments(Files.readString(f))).toMap

  /** The src/main/scala files that nothing else reaches, outside [[allowed]]. */
  private def unreached(): Seq[String] = {
    val main = sources("src/main/scala")
    val all = main ++ sources("perfbench/scala")
    def others(files: Map[String, String], file: String) = (files - file).values
    main.keys.toSeq.sorted.filterNot { file =>
      val src = main(file)
      val pkg = PackageDecl.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
        .stripPrefix("graft").stripPrefix(".")
      val names = TopLevelDecl.findAllMatchIn(src).map(_.group(1)).toSeq.distinct
      names.exists(n => allowed(if (pkg.isEmpty) n else s"$pkg.$n")) ||
        names.exists(n => others(all, file).exists(("\\b" + n + "\\b").r.findFirstIn(_).isDefined)) ||
        ShortName.findAllMatchIn(src).exists(m => others(main, file).exists(_.contains(m.group(1))))
    }
  }

  test("comments do not count as a reference; string literals stay") {
    val src = "val u = \"http://x\" // Foo\n/* Bar /* nested */ Baz */ qux('\"')"
    assert(stripComments(src) == "val u = \"http://x\" \n  qux('\"')")
  }

  test("every file under src/main/scala is reached by another main or perfbench file") {
    val missed = unreached()
    assert(missed.isEmpty, s"declared but reached by no other main or perfbench file: $missed")
  }
}
