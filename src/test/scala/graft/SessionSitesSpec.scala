package graft

import java.io.File
import java.nio.file.Files

import scala.jdk.CollectionConverters._

import org.scalatest.matchers.should.Matchers

/** Guards against regrowth of hand-rolled session builders: every main
  * and test session builds through `GraftSession`, which alone reads
  * `SPARK_GRAFT_CPUS`. The engine's defaults are set there and nowhere
  * else — not in build.sbt's fork options — so the shared test session
  * must resolve them by itself.
  */
class SessionSitesSpec extends SparkTestBase with Matchers {

  // the needles are split so that this file does not match itself
  private val BuilderCall = "SparkSession." + "builder("
  private val CpusVar = "\"SPARK_GRAFT" + "_CPUS\""

  private def filesContaining(needle: String): Set[String] =
    Seq("src/main/scala", "src/test/scala").flatMap { dir =>
      val root = new File(dir)
      assert(root.isDirectory, s"run from the repo root: ${root.getAbsolutePath}")
      Files.walk(root.toPath).iterator().asScala
        .filter(_.toString.endsWith(".scala"))
        .filter(p => new String(Files.readAllBytes(p), "UTF-8").contains(needle))
        .map(_.getFileName.toString)
    }.toSet

  test("a SparkSession is built only in GraftSession") {
    filesContaining(BuilderCall) shouldBe Set("GraftSession.scala")
  }

  test("SPARK_GRAFT_CPUS is read only in GraftSession") {
    filesContaining(CpusVar) shouldBe Set("GraftSession.scala")
  }

  test("the shared test session resolves UTC, 4 shuffle partitions and no UI") {
    spark.sparkContext.master shouldBe "local[4]"
    spark.conf.get("spark.sql.session.timeZone") shouldBe "UTC"
    spark.conf.get("spark.sql.shuffle.partitions") shouldBe "4"
    spark.sparkContext.getConf.get("spark.ui.enabled") shouldBe "false"
    spark.sparkContext.uiWebUrl shouldBe None
    // rows that isolate conf overrides in newSession() inherit the zone
    spark.newSession().conf.get("spark.sql.session.timeZone") shouldBe "UTC"
  }
}
