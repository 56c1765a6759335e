package graft

import java.net.URI
import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicInteger

import org.apache.hadoop.fs.{Path, RawLocalFileSystem}

/** Test-only FileSystem (`graftfault` scheme) that injects the failure
  * modes the CAS/compaction protocol must survive (CasCrashSpec):
  *
  *   - renameLieOnce(substr): the next rename whose DESTINATION contains
  *     substr PHYSICALLY LANDS but reports failure — the ambiguous-CAS
  *     case (an RPC failure after the exclusive rename landed); through
  *     the FileContext delegate this surfaces to GraftFs as an
  *     IOException with the target existing, i.e. CAS-reports-lost.
  *   - failCreateOnce(substr): the next create whose path contains substr
  *     throws — a crash mid-publish (before or after the CAS, depending
  *     on the pattern).
  *   - failDeleteOnce(substr): the next delete whose path contains substr
  *     throws — a crash during deferred GC of folded segment dirs.
  *   - failListOnce(substr): the next listStatus whose path contains
  *     substr throws — a listing that fails for a reason other than a
  *     missing dir.
  *   - failOpen(substr, times): the next `times` opens whose path
  *     contains substr throw — a file that stays unreadable past the
  *     caller's retries.
  *
  * Schedules are counted (one-shot unless given a count) and recorded; a spec must assert `fired`, or it
  * silently tested nothing. Registered via `fs.graftfault.impl` +
  * `fs.AbstractFileSystem.graftfault.impl` (FileSystem instances are
  * cached per scheme, hence the static schedule).
  */
class FaultInjectingFileSystem extends RawLocalFileSystem {
  override def getScheme: String = "graftfault"
  override def getUri: URI = URI.create("graftfault:///")

  override def rename(src: Path, dst: Path): Boolean = {
    val r = super.rename(src, dst)
    if (r && FaultInjectingFileSystem.take("renameLie", dst.toUri.getPath)) false
    else r
  }

  // both create chains (with and without permission) — RawLocalFileSystem
  // routes FileSystem.create(Path, overwrite) through the latter
  override def create(f: Path, permission: org.apache.hadoop.fs.permission.FsPermission,
      overwrite: Boolean, bufferSize: Int, replication: Short, blockSize: Long,
      progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    if (FaultInjectingFileSystem.take("failCreate", f.toUri.getPath))
      throw new java.io.IOException(s"injected create failure at $f")
    super.create(f, permission, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def create(f: Path, overwrite: Boolean, bufferSize: Int, replication: Short,
      blockSize: Long, progress: org.apache.hadoop.util.Progressable): org.apache.hadoop.fs.FSDataOutputStream = {
    if (FaultInjectingFileSystem.take("failCreate", f.toUri.getPath))
      throw new java.io.IOException(s"injected create failure at $f")
    super.create(f, overwrite, bufferSize, replication, blockSize, progress)
  }

  override def listStatus(p: Path): Array[org.apache.hadoop.fs.FileStatus] = {
    if (FaultInjectingFileSystem.take("failList", p.toUri.getPath))
      throw new java.io.IOException(s"injected listing failure at $p")
    super.listStatus(p)
  }

  override def open(f: Path, bufferSize: Int): org.apache.hadoop.fs.FSDataInputStream = {
    if (FaultInjectingFileSystem.take("failOpen", f.toUri.getPath))
      throw new java.io.IOException(s"injected open failure at $f")
    super.open(f, bufferSize)
  }

  override def delete(p: Path, recursive: Boolean): Boolean = {
    if (FaultInjectingFileSystem.take("failDelete", p.toUri.getPath))
      throw new java.io.IOException(s"injected delete failure at $p")
    super.delete(p, recursive)
  }
}

/** FileContext-side binding (the CAS rename goes through FileContext). */
class FaultInjectingAbstractFs(uri: URI, conf: org.apache.hadoop.conf.Configuration)
  extends org.apache.hadoop.fs.DelegateToFileSystem(
    uri, new FaultInjectingFileSystem, conf, "graftfault", false)

object FaultInjectingFileSystem {
  /** Register the `graftfault` scheme on the session's Hadoop config. */
  def install(s: org.apache.spark.sql.SparkSession): Unit = {
    val conf = s.sparkContext.hadoopConfiguration
    conf.set("fs.graftfault.impl", classOf[FaultInjectingFileSystem].getName)
    conf.set("fs.AbstractFileSystem.graftfault.impl", classOf[FaultInjectingAbstractFs].getName)
  }

  private val scheduled = new ConcurrentHashMap[(String, String), AtomicInteger]()
  private val firedLog = scala.collection.mutable.ArrayBuffer.empty[(String, String)]

  private[graft] def take(kind: String, path: String): Boolean = {
    val it = scheduled.entrySet().iterator()
    while (it.hasNext) {
      val e = it.next()
      val (k, substr) = e.getKey
      if (k == kind && path.contains(substr) && e.getValue.getAndDecrement() > 0) {
        synchronized { firedLog += ((kind, path)); () }
        return true
      }
    }
    false
  }

  def renameLieOnce(substr: String): Unit =
    scheduled.put(("renameLie", substr), new AtomicInteger(1)): Unit
  def failCreateOnce(substr: String): Unit =
    scheduled.put(("failCreate", substr), new AtomicInteger(1)): Unit
  def failDeleteOnce(substr: String): Unit =
    scheduled.put(("failDelete", substr), new AtomicInteger(1)): Unit
  def failListOnce(substr: String): Unit =
    scheduled.put(("failList", substr), new AtomicInteger(1)): Unit
  def failOpen(substr: String, times: Int): Unit =
    scheduled.put(("failOpen", substr), new AtomicInteger(times)): Unit

  def reset(): Unit = { scheduled.clear(); synchronized { firedLog.clear() } }
  def fired: Seq[(String, String)] = synchronized { firedLog.toVector }
  def pending: Int = {
    var n = 0
    scheduled.values().forEach(v => n += math.max(0, v.get()))
    n
  }
}
