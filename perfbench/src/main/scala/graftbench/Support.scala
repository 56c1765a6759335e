package graftbench

import java.nio.charset.StandardCharsets.UTF_8
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Generated inputs are linked into each set-up's own directory, so every
  * set-up resolves fresh table paths: graft's scan memo, scale tags and
  * artifacts all key on the directory and none carries over. Files are
  * hard links (nothing writes into an existing input file; landed files
  * are new files), so a set-up costs no copying.
  */
object Inputs {
  def link(from: String, to: String): String = {
    val src = Paths.get(from).toAbsolutePath
    val dst = Paths.get(to).toAbsolutePath
    val s = Files.walk(src)
    try s.iterator().asScala.foreach { p =>
      val q = dst.resolve(src.relativize(p).toString)
      if (Files.isDirectory(p)) Files.createDirectories(q) else Files.createLink(q, p)
    } finally s.close()
    dst.toString
  }

  /** Bytes and regular files under `p` (0 when absent). */
  def usage(p: String): (Long, Long) = {
    val root = Paths.get(p.stripPrefix("file:"))
    if (!Files.exists(root)) (0L, 0L)
    else {
      val s = Files.walk(root)
      try s.iterator().asScala.filter(Files.isRegularFile(_))
        .foldLeft((0L, 0L)) { case ((b, n), f) => (b + Files.size(f), n + 1) }
      finally s.close()
    }
  }
}

/** Recorded output digests: one `<workload>\t<key>\t<digest>` line each. */
object Expected {
  def load(file: String, workload: String): Map[String, String] = {
    val p = Paths.get(file)
    if (!Files.exists(p)) Map.empty
    else Files.readAllLines(p, UTF_8).asScala.toSeq.map(_.split("\t"))
      .collect { case Array(w, k, d) if w == workload => k -> d }.toMap
  }

  /** Replaces this workload's lines, keeping every other workload's. */
  def save(file: String, workload: String, entries: Seq[(String, String)]): Unit = {
    val p = Paths.get(file)
    val kept = if (Files.exists(p)) Files.readAllLines(p, UTF_8).asScala.toSeq
      .filterNot(_.startsWith(workload + "\t")) else Seq.empty
    val lines = kept ++ entries.map { case (k, d) => s"$workload\t$k\t$d" }
    Files.write(p, lines.sorted.mkString("", "\n", "\n").getBytes(UTF_8))
  }
}

/** Stage-execution metrics shared by every workload, per op. */
object Layers {
  def exec(t: Trace, phase: String => Boolean, ops: Double): Map[String, Double] = {
    val s = t.taskTotals(phase)
    val active = t.stageActiveSeconds(phase)
    Map(
      "exec.task_run_s" -> s.runMs / 1e3 / ops,
      "exec.task_cpu_s" -> s.cpuNs / 1e9 / ops,
      "exec.gc_s" -> s.gcMs / 1e3 / ops,
      "exec.tasks" -> t.taskCount(phase) / ops,
      "exec.cores_busy" -> (if (active > 0) s.runMs / 1e3 / active else 0.0),
      "exec.shuffle_write_bytes" -> s.shuffleWrite / ops,
      "exec.spill_bytes" -> s.spill / ops,
      "sources.input_bytes" -> s.input / ops)
  }
}
