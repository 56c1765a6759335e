package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Guards against probe regrowth: the objects under src/main that own a
  * `def main(` are exactly the eleven below, and the README's Mains
  * table lists the same eleven. Diagnostics go through graft.Profile; a
  * new main has to be added here and to the README on purpose.
  */
class MainClassesSpec extends AnyFunSuite with Matchers {
  private val Expected = Set(
    "graft.Bench", "graft.BenchDiff", "graft.InvarianceCheck", "graft.PriceAudit",
    "graft.Profile", "graft.operators.RefresherApp", "graft.ScaleBench",
    "graft.ScaleFixtureGen", "graft.ServeScaleBench", "graft.Verify",
    "graft.examples.ApiDemo")
  private val PackageRe = """(?m)^package\s+([\w.]+)""".r
  private val ObjectRe = """(?m)^(?:private\[\w+\]\s+)?object\s+(\w+)""".r

  /** Fully qualified owner of each `def main(` in one source file: the
    * last top-level object (declared at column 0) before it.
    */
  private def mainOwners(src: String): Seq[String] = {
    val pkg = PackageRe.findFirstMatchIn(src).map(_.group(1) + ".").getOrElse("")
    val objects = ObjectRe.findAllMatchIn(src).map(m => (m.start, m.group(1))).toSeq
    "def main\\(".r.findAllMatchIn(src).map { m =>
      val owner = objects.filter(_._1 < m.start).lastOption.map(_._2)
      pkg + owner.getOrElse(s"<no object before offset ${m.start}>")
    }.toSeq
  }

  test("the mains under src/main are exactly the listed eleven, and the README's Mains table agrees") {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    val found = Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .flatMap(p => mainOwners(new String(Files.readAllBytes(p), "UTF-8")))
      .toSet

    val readme = new String(Files.readAllBytes(new File("README.md").toPath), "UTF-8")
    val section = readme.split("(?m)^## ").find(_.startsWith("Mains"))
      .getOrElse(fail("README.md has no '## Mains' section"))
    val listed = """(?m)^\|\s*`([\w.]+)`""".r.findAllMatchIn(section).map(_.group(1)).toSet

    withClue(s"unlisted mains: ${found -- Expected}; listed but absent: ${Expected -- found}") {
      found shouldBe Expected
    }
    withClue("README Mains table: ") { listed shouldBe Expected }
  }

  test("owner detection: nested helper objects do not hide the main's owner") {
    mainOwners(
      """package a.b
        |object Outer { val y = 2 }
        |object Tool {
        |  object Helper { val x = 1 }
        |  def main(args: Array[String]): Unit = ()
        |}
        |""".stripMargin) shouldBe Seq("a.b.Tool")
  }
}
