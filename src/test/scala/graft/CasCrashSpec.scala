package graft

import java.nio.file.Files

import graft.streaming.{IncrementalDedup, IncrementalIndex, IncrementalSpan, IncrementalWinnow}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.scalatest.matchers.should.Matchers

/** Crash-injection proof for the log-record CAS/compaction protocol (r15
  * verdict carry, r17): every enumerated failure point — the ambiguous
  * CAS (rename landed, reported failure) on an ingest publish AND on a
  * compaction publish, a crash mid-publish (tmp create fails), a crash
  * after the CAS but before the _CURRENT hint, and a crash during the
  * deferred GC of folded segment dirs — must leave all four log-record
  * maintainers (index, winnow, span, dedup) serving EXACTLY what a
  * fault-free run over the same batches serves. Faults are injected by a
  * real FileSystem (FaultInjectingFileSystem, `graftfault` scheme), so
  * the production GraftFs code paths — FileContext CAS rename, readback
  * disambiguation, forward log walk past a stale hint — run unmodified.
  */
class CasCrashSpec extends SparkTestBase with Matchers {

  private case class Maintainer(
      name: String,
      ingest: (SparkSession, DataFrame, String, Option[Long]) => Unit,
      compact: (SparkSession, String) => Unit,
      serve: (SparkSession, String) => DataFrame)

  private def maintainers = Seq(
    Maintainer("index", IncrementalIndex.processBatch, IncrementalIndex.compactSegments,
      (s, b) => IncrementalIndex.readPostings(s, b)),
    Maintainer("winnow", (s, b, base, id) => IncrementalWinnow.processBatch(s, b, base, id),
      IncrementalWinnow.compactSegments,
      (s, b) => IncrementalWinnow.readFingerprints(s, b)),
    Maintainer("span", (s, b, base, id) => IncrementalSpan.processBatch(s, b, base, id),
      IncrementalSpan.compactSegments,
      (s, b) => IncrementalSpan.serveSpanSource(s, b)),
    Maintainer("dedup", (s, b, base, id) => IncrementalDedup.processBatch(s, b, base, id),
      IncrementalDedup.compactSegments,
      (s, b) => IncrementalDedup.readPairs(s, b)))

  private def batches: Seq[DataFrame] = {
    val docs = Tables.documents(spark, sfTiny)
    (0 until 3).map(i => docs.filter(col("doc_id") % 3 === i))
  }

  private def served(m: Maintainer, base: String): Seq[String] =
    m.serve(spark, base).collect().map(_.toString).sorted.toSeq

  test("all four maintainers converge bit-identically through every injected failure point") {
    FaultInjectingFileSystem.install(spark)
    for (m <- maintainers) withClue(s"maintainer=${m.name} ") {
      FaultInjectingFileSystem.reset()
      val cleanBase = Files.createTempDirectory(s"graft_cas_clean_${m.name}").toFile.getAbsolutePath
      val faultDir = Files.createTempDirectory(s"graft_cas_fault_${m.name}").toFile.getAbsolutePath
      val faultBase = s"graftfault://$faultDir"

      // ---- reference: fault-free run (same batches, compaction between
      // batch 1 and 2, final compaction)
      val bs = batches
      m.ingest(spark, bs(0), cleanBase, Some(0L))
      m.ingest(spark, bs(1), cleanBase, Some(1L))
      m.compact(spark, cleanBase)
      m.ingest(spark, bs(2), cleanBase, Some(2L))
      m.compact(spark, cleanBase)
      val want = served(m, cleanBase)
      want should not be empty

      // ---- faulted run, one failure point per step ----------------------
      // 1. batch 0: ambiguous CAS on the ingest publish — the log/v0
      //    record rename LANDS but reports failure; the readback
      //    disambiguation must claim the win, not crash and not duplicate
      FaultInjectingFileSystem.renameLieOnce("/log/v0")
      m.ingest(spark, bs(0), faultBase, Some(0L))
      FaultInjectingFileSystem.fired.map(_._1) should contain("renameLie")

      // 2. batch 1: crash mid-publish — the CAS tmp create throws BEFORE
      //    any record lands; processBatch surfaces typed, and the REPLAY
      //    of the same batch id must converge (orphan segment dirs from
      //    the failed attempt stay invisible to the record-driven reads)
      FaultInjectingFileSystem.reset()
      FaultInjectingFileSystem.failCreateOnce(".v1.tmp-")
      intercept[Exception] { m.ingest(spark, bs(1), faultBase, Some(1L)) }
      FaultInjectingFileSystem.fired.map(_._1) should contain("failCreate")
      m.ingest(spark, bs(1), faultBase, Some(1L)) // replay converges

      // 3. compaction: ambiguous CAS on the compaction publish — the
      //    uid-bearing record body is the proof of ownership
      FaultInjectingFileSystem.reset()
      FaultInjectingFileSystem.renameLieOnce("/log/v")
      m.compact(spark, faultBase)
      FaultInjectingFileSystem.fired.map(_._1) should contain("renameLie")

      // 4. batch 2: crash AFTER the CAS, before the _CURRENT hint swap —
      //    the hint goes stale and the forward log walk must recover
      FaultInjectingFileSystem.reset()
      FaultInjectingFileSystem.failCreateOnce("._CURRENT.tmp-")
      try m.ingest(spark, bs(2), faultBase, Some(2L))
      catch { case _: Exception => () } // crash-equivalent: record committed, hint not
      FaultInjectingFileSystem.fired.map(_._1) should contain("failCreate")
      // replay is either skipped (committed) or converges — both legal
      m.ingest(spark, bs(2), faultBase, Some(2L))

      // 5. final compaction: deferred GC delete of a folded dir throws —
      //    the published state must already be correct (deletes happen
      //    only after the CAS), and a later fault-free compaction or
      //    serve must not miss data
      FaultInjectingFileSystem.reset()
      FaultInjectingFileSystem.failDeleteOnce(faultDir)
      try m.compact(spark, faultBase)
      catch { case _: Exception => () } // crash-equivalent mid-GC
      FaultInjectingFileSystem.fired.map(_._1) should contain("failDelete")
      FaultInjectingFileSystem.reset()

      served(m, faultBase) shouldBe want
      // and the state stays fully operational: one more fault-free
      // compaction over whatever the crashes left behind
      m.compact(spark, faultBase)
      served(m, faultBase) shouldBe want
    }
  }
}
