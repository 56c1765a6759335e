package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.funsuite.AnyFunSuite
import org.scalatest.matchers.should.Matchers

/** Guards against regrowth of hand-rolled build-once guards: every
  * artifact derived from a scale dir — derived layouts and the serve
  * rows' maintained state alike — goes through `GraftFs.artifact` /
  * `GraftFs.persisted`, so the fingerprint (`scaleTag(`) and the commit
  * marker check (`hasSuccess(`) appear only in GraftFs itself and in
  * BucketedTables, whose layouts are also revalidated file by file.
  */
class ArtifactSitesSpec extends AnyFunSuite with Matchers {

  private def filesContaining(needle: String): Set[String] = {
    val root = new File("src/main/scala")
    assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
    Files.walk(root.toPath).iterator().asScala
      .filter(_.toString.endsWith(".scala"))
      .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
      .map(_.getFileName.toString)
      .toSet
  }

  test("hasSuccess( appears only in GraftFs and BucketedTables") {
    filesContaining("hasSuccess(") shouldBe Set("GraftFs.scala", "BucketedTables.scala")
  }

  test("scaleTag( appears only in GraftFs and BucketedTables") {
    filesContaining("scaleTag(") shouldBe Set("GraftFs.scala", "BucketedTables.scala")
  }

  test("the _SUCCESS marker path is spelled only in GraftFs") {
    filesContaining("/_SUCCESS\"") shouldBe Set("GraftFs.scala")
  }
}
