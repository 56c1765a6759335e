package graft.operators

import java.util.concurrent.{Executors, TimeUnit}
import scala.concurrent.{Await, ExecutionContext, Future, TimeoutException}
import scala.concurrent.duration._
import scala.util.control.NonFatal

import org.apache.spark.sql.{Dataset, SparkSession}
import org.apache.spark.sql.catalyst.{QualifiedTableName, TableIdentifier}
import org.apache.spark.sql.catalyst.catalog.{CatalogTable, CatalogTableType, CatalogUtils}

/** One refresh target (reference: `ImpalaNode.hostName`,
  * /root/reference/impala-refresher.go:28-40). The reference fans out over N
  * impalad hosts; a Spark driver has one catalog, so the engine fans out
  * over N tables (SURVEY.md §2.A R2 mapping).
  */
final case class RefreshTarget(name: String)

/** Per-target outcome (reference: `ImpalaNode` result fields,
  * /root/reference/impala-refresher.go:30-39). Documented deviations from
  * the reference (SURVEY.md §7.1 slice 1): the real error message is kept
  * (the reference discards it, impala-refresher.go:59) and duration is
  * recorded on the timeout path too (the reference leaves it zero,
  * impala-refresher.go:81-86).
  */
final case class RefreshResult(target: String, ok: Boolean, error: Option[String], durationNanos: Long)

/** Group A — catalog refresh orchestration (SURVEY.md §2.B Group A),
  * replicating /root/reference/impala-refresher.go semantics on Spark:
  * concurrent fan-out with a bounded window (ref R6, :108-135), per-target
  * timeout with job cancellation (ref R4, :66-87), per-target report (ref
  * R5/R13) and all-or-nothing exit code (ref R11, :173-180).
  */
object Refresh {

  /** E-R1: make the next scan of `table` see files added behind the
    * catalog's back (semantics of ref R2, impala-refresher.go:48-49 —
    * Impala `REFRESH <table>`, a metadata update, not a reload).
    *
    * For a table of the session catalog (a 1–2 part name while the
    * session catalog is current, or `spark_catalog.<db>.<t>`) it drops
    * the table's relation from the session's relation cache, so the next
    * read builds a new file index and lists the table once. If that
    * relation is in the cache, it is first re-listed in place: DataFrames
    * the caller already built share it and must see the new files too.
    * An uncached table is not listed at all; Spark's
    * `catalog.refreshTable` would build a relation for it, list it twice
    * and throw the relation away.
    *
    * Spark's `catalog.refreshTable` still runs when the name is a temp
    * view, a persisted view, not a session-catalog table (an unknown name
    * among them, so its error is Spark's `TABLE_OR_VIEW_NOT_FOUND`), or
    * when the session holds any cached data, whose `CACHE TABLE`
    * dependents Spark recaches.
    */
  def refreshTable(spark: SparkSession, table: String): Unit =
    sessionTable(spark, table) match {
      case Some(meta) if spark.sharedState.cacheManager.isEmpty => invalidate(spark, meta.identifier)
      case _ => spark.catalog.refreshTable(table)
    }

  /** E-R6: partition-scoped refresh — Impala's `REFRESH <table>
    * PARTITION (<spec>)` (reload one partition's file listing after
    * files changed behind the catalog's back) mapped onto Spark's
    * catalog. Impala parity kept: an unknown partition is an ERROR, not
    * a no-op, and — like Impala's form — this reloads an EXISTING
    * partition; discovering brand-new partition directories is
    * `ALTER TABLE ... RECOVER PARTITIONS` territory.
    *
    * The spec must name every partition column of a session-catalog
    * table, with the key case of the table's definition, and match one
    * partition exactly: a partial spec, a wrong-case or extra key, a
    * view, an unpartitioned table or an unknown value throws
    * `IllegalArgumentException`, an unknown table Spark's
    * `TABLE_OR_VIEW_NOT_FOUND`. Values are compared raw, as the catalog
    * stores them, so a value Hive path-escaping changes (`10:00`, `a=b`)
    * matches. Existence is one catalog probe; nothing is listed.
    *
    * Documented deviation (same class as SURVEY §7.1's): Spark's public
    * invalidation granularity is the TABLE, so the invalidation is the
    * table step of [[refreshTable]]. The partition-scoping that matters
    * at 100 TB — the RE-LIST COST — is preserved anyway: Spark's
    * CatalogFileIndex re-lists lazily and partition-pruned, so the next
    * query pays listing only for the partitions it actually scans, not
    * the 10k others (RefreshSpec proves this with a listStatus-counting
    * FileSystem). When the session holds cached data, Spark's
    * `catalog.refreshByPath` on the partition's location and
    * `catalog.refreshTable` run instead, recaching plans over its files.
    */
  def refreshPartition(spark: SparkSession, table: String, spec: Map[String, String]): Unit = {
    require(spec.nonEmpty, "empty partition spec")
    val meta = sessionTable(spark, table).getOrElse {
      spark.table(table) // an unknown name throws Spark's TABLE_OR_VIEW_NOT_FOUND here
      throw new IllegalArgumentException(s"$table is not a partitioned session-catalog table")
    }
    def missing = new IllegalArgumentException( // Impala errors on unknown partitions
      s"partition (${spec.map { case (k, v) => s"$k='$v'" }.mkString(", ")}) not found in $table")
    if (spec.keySet != meta.partitionColumnNames.toSet || spec.values.exists(v => v == null || v.isEmpty))
      throw missing
    val part = spark.sessionState.catalog.listPartitions(meta.identifier, Some(spec))
      .find(_.spec == spec).getOrElse(throw missing)
    if (spark.sharedState.cacheManager.isEmpty) invalidate(spark, meta.identifier)
    else {
      spark.catalog.refreshByPath(CatalogUtils.URIToString(part.location))
      spark.catalog.refreshTable(table)
    }
  }

  /** Spark's `CatalogManager.SESSION_CATALOG_NAME`, which is `private[sql]`. */
  private val SessionCatalogName = "spark_catalog"

  /** The existing session-catalog table `table` names: a 1–2 part name
    * while the session catalog is current, or `spark_catalog.<db>.<t>`.
    * None for a temp view, a persisted view, a name another catalog
    * resolves and an unknown name.
    */
  private def sessionTable(spark: SparkSession, table: String): Option[CatalogTable] = {
    val catalog = spark.sessionState.catalog
    val parts = spark.sessionState.sqlParser.parseMultipartIdentifier(table)
    def session(name: String) = name.equalsIgnoreCase(SessionCatalogName)
    val inSession = session(spark.sessionState.catalogManager.currentCatalog.name)
    val id = parts match {
      case Seq(t) if inSession => Some(TableIdentifier(t))
      case Seq(db, t) if inSession => Some(TableIdentifier(t, Some(db)))
      case Seq(c, db, t) if session(c) => Some(TableIdentifier(t, Some(db)))
      case _ => None
    }
    id.filter(i => !catalog.isTempView(parts) && catalog.tableExists(i)).map(catalog.getTableMetadata)
      .filter(_.tableType != CatalogTableType.VIEW)
  }

  /** Re-list the table's cached relation in place, if there is one, and
    * drop it from the relation cache.
    */
  private def invalidate(spark: SparkSession, id: TableIdentifier): Unit = {
    val catalog = spark.sessionState.catalog
    val q = catalog.qualifyIdentifier(id)
    val key = QualifiedTableName(q.catalog.get, q.database.get, q.table)
    Option(catalog.getCachedTable(key)).foreach(_.refresh())
    catalog.invalidateCachedTable(key)
  }

  /** R10: parse a comma-separated target list. Deviation from the reference
    * (impala-refresher.go:170-172): empty segments are rejected instead of
    * silently producing an empty hostname. A trailing empty segment
    * (`n1,`) is one too.
    */
  def parseTargets(arg: String): Seq[RefreshTarget] = {
    val names = arg.split(",", -1).map(_.trim).toSeq
    require(names.nonEmpty && names.forall(_.nonEmpty), s"empty refresh target in '$arg'")
    names.map(RefreshTarget)
  }

  /** E-R2 + E-R3: concurrent refresh of N targets on a bounded window
    * (`concurrency == 0` ⇒ unbounded, ref :122/:153), each with a deadline.
    * On timeout the target is marked failed and its Spark jobs are cancelled
    * via the job tag — the analogue of the reference's `Process.Kill()`
    * (impala-refresher.go:79-80). `action` refreshes one target by name:
    * [[refreshTable]] or [[refreshPartition]] in RefresherApp and the
    * benchmark, a probe in the specs.
    */
  def refreshAll(
      spark: SparkSession,
      targets: Seq[RefreshTarget],
      timeout: Duration = 60.seconds,
      concurrency: Int = 0,
      action: String => Unit,
      onDispatch: String => Unit = _ => (),
  ): Seq[RefreshResult] = {
    // Outer pool = the reference's sliding dispatch window (ref R6): at most
    // `concurrency` targets in flight. Inner pool runs the actual action so
    // the deadline is raced against completion from *dispatch* time — the
    // structural twin of the reference's goroutine + select (ref R3/R4).
    val window =
      if (concurrency <= 0) Executors.newCachedThreadPool()
      else Executors.newFixedThreadPool(concurrency)
    val workers = Executors.newCachedThreadPool()
    val windowEc = ExecutionContext.fromExecutorService(window)
    val workerEc = ExecutionContext.fromExecutorService(workers)
    try {
      val futures = targets.map { target =>
        val tag = s"graft-refresh-${target.name}"
        Future {
          // fires when the sliding window actually admits the target, not
          // at submission — the reference's dispatch-time progress line
          // "Refreshing X's metadata..." (ref R13, impala-refresher.go:115)
          onDispatch(target.name)
          val start = System.nanoTime()
          val run = Future {
            spark.sparkContext.addJobTag(tag)
            try action(target.name)
            finally spark.sparkContext.removeJobTag(tag)
          }(workerEc)
          try {
            Await.result(run, timeout)
            RefreshResult(target.name, ok = true, None, System.nanoTime() - start)
          } catch {
            case _: TimeoutException =>
              // analogue of the reference's Process.Kill() (ref :79-80)
              spark.sparkContext.cancelJobsWithTag(tag)
              RefreshResult(target.name, ok = false,
                Some(s"${target.name} timed out after $timeout"), System.nanoTime() - start)
            case NonFatal(e) =>
              RefreshResult(target.name, ok = false, Some(e.toString), System.nanoTime() - start)
          }
        }(windowEc)
      }
      futures.map(f => Await.result(f, Duration.Inf))
    } finally {
      window.shutdown()
      workers.shutdownNow() // interrupt any timed-out stragglers
      window.awaitTermination(1, TimeUnit.SECONDS)
      ()
    }
  }

  /** E-R4: results as a Dataset (the engine-native report; ref R5/R13 print
    * lines become rows).
    */
  def report(spark: SparkSession, results: Seq[RefreshResult]): Dataset[RefreshResult] = {
    import spark.implicits._
    spark.createDataset(results)
  }

  /** E-R5: AND-reduction to a process exit code (ref R11,
    * impala-refresher.go:173-180).
    */
  def exitCode(results: Seq[RefreshResult]): Int =
    if (results.nonEmpty && results.forall(_.ok)) 0 else 1
}

/** Parsed CLI invocation. `table` is Some for the reference-shaped
  * `-table` + `-nodes` form (refresh that one table once per node target,
  * reference impala-refresher.go:151-152) and None for the engine-native
  * `-targets` form (each target names a table in the one Spark catalog —
  * the SURVEY §2.A R2 mapping).
  */
final case class RefresherConfig(
    targets: Seq[RefreshTarget],
    table: Option[String],
    timeout: Duration,
    concurrency: Int)

/** CLI mirroring the reference's flags exactly (ref R8/R9,
  * impala-refresher.go:150-160): `-table <t> -nodes n1,n2,...` (BOTH
  * required, like ref :157-160's usage-and-exit-1), `-timeout` seconds
  * (default 60), `-concurrency` (default 0 = unlimited). The engine-native
  * `-targets t1,t2,...` form (N tables, one catalog) is accepted as an
  * alternative to `-table`/`-nodes`.
  */
object RefresherApp {
  private val usageText =
    """usage: RefresherApp -table <table> -nodes n1,n2,... [-timeout seconds] [-concurrency n]
      |       RefresherApp -targets t1,t2,... [-timeout seconds] [-concurrency n]""".stripMargin

  private val flags = Set("-table", "-nodes", "-targets", "-timeout", "-concurrency")

  /** R8/R9: flag parsing + required-argument validation, returned as data so
    * the validation rules are unit-testable (RefreshSpec). Like Go's `flag`
    * package, an unknown flag, a flag with no value and a non-integer
    * `-timeout`/`-concurrency` are usage errors, and so is an empty
    * target segment (`a,,b`, `n1,`), which [[Refresh.parseTargets]] rejects.
    */
  def parseArgs(args: Array[String]): Either[String, RefresherConfig] = {
    val pairs = args.grouped(2).toSeq
    if (!pairs.forall(p => p.length == 2 && flags(p(0)))) return Left(usageText)
    val opts = pairs.map(p => p(0) -> p(1)).toMap
    def int(flag: String, default: Int) =
      opts.get(flag).fold(Option(default))(_.toIntOption).toRight(usageText)
    def targets(arg: String) =
      scala.util.Try(Refresh.parseTargets(arg)).toOption.toRight(usageText)
    val table = opts.getOrElse("-table", "")
    val nodes = opts.getOrElse("-nodes", "")
    val targetsArg = opts.getOrElse("-targets", "")
    for {
      timeout <- int("-timeout", 60)
      concurrency <- int("-concurrency", 0)
      cfg <-
        if (table.nonEmpty || nodes.nonEmpty) {
          // reference shape: both -table and -nodes are required (ref :157-160)
          if (table.isEmpty || nodes.isEmpty) Left(usageText)
          else targets(nodes).map(RefresherConfig(_, Some(table), timeout.seconds, concurrency))
        } else if (targetsArg.nonEmpty)
          targets(targetsArg).map(RefresherConfig(_, None, timeout.seconds, concurrency))
        else Left(usageText)
    } yield cfg
  }

  def main(args: Array[String]): Unit = {
    val cfg = parseArgs(args) match {
      case Left(msg) => System.err.println(msg); sys.exit(1)
      case Right(c) => c
    }
    val spark = graft.GraftSession.builder(4).getOrCreate()
    try {
      // -table form: every node target runs a refresh of that one table
      // (the catalog is the node analogue); -targets form: each target IS
      // the table.
      val results = Refresh.refreshAll(spark, cfg.targets, cfg.timeout, cfg.concurrency,
        t => Refresh.refreshTable(spark, cfg.table.getOrElse(t)),
        onDispatch = t => println(s"Refreshing $t's metadata..."))
      results.foreach { r =>
        if (r.ok) println(s"${r.target} refreshed successfully! Took: ${r.durationNanos / 1e9}s")
        else println(s"${r.target} failed to refresh! (${r.error.getOrElse("")})")
      }
      sys.exit(Refresh.exitCode(results))
    } finally spark.stop()
  }
}
