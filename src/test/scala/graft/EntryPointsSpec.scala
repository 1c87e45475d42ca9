package graft

import org.scalatest.funsuite.AnyFunSuite
import java.nio.file.{Files, Paths}
import scala.jdk.CollectionConverters._

/** Pins the program's entry points: every `object` under src/main/scala
  * that defines `main` (or extends `App`). A new main is a deliberate,
  * reviewed change to this list, not a dev probe left behind.
  */
class EntryPointsSpec extends AnyFunSuite {

  private val PackageDecl = """(?m)^package\s+([\w.]+)""".r
  private val ObjectDecl = """(?m)^\s*object\s+(\w+)""".r
  private val MainDecl = """def\s+main\s*\(|extends\s+App\b""".r

  /** Names relative to the `graft` package (`app.Jobs`) of the objects
    * that hold a main.
    */
  private def entryPoints(root: String): Set[String] =
    Files.walk(Paths.get(root)).iterator.asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap { f =>
        val src = Files.readString(f)
        val pkg = PackageDecl.findFirstMatchIn(src).map(_.group(1)).getOrElse("")
          .stripPrefix("graft").stripPrefix(".")
        val objects = ObjectDecl.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
        MainDecl.findAllMatchIn(src).flatMap { m =>
          objects.filter(_._1 < m.start).lastOption.map(_._2)
        }.map(o => if (pkg.isEmpty) o else s"$pkg.$o")
      }.toSet

  test("the mains under src/main/scala are exactly the jobs, contract drivers and tools") {
    assert(entryPoints("src/main/scala") == Set(
      "app.Jobs", "Bench", "Verify", "DumpPlans", "tools.PlanSnap", "tools.ScaleGen"))
  }
}
