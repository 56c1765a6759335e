package graft.streaming

import graft.multimodal.PackStore
import org.apache.spark.sql.{Dataset, SparkSession}

/** Changelog subscription over the pack store (Group L infra — the
  * s_pack_subscribe component, the READ twin of [[PackIngest]]).
  *
  * A downstream consumer (feature extraction, indexing, replication)
  * wants every ingested object exactly once, not repeated corpus scans.
  * The snapshot log already IS a changelog — each publish records its
  * component list and, since r7b, its KIND:
  *
  *   - `init` / `delta` snapshots carry NEW data: exactly the components
  *     added relative to the predecessor snapshot;
  *   - `compact` snapshots only REWRITE existing data into a fresh
  *     generation — a subscriber must emit nothing for them (the classic
  *     changelog-vs-storage distinction: compaction is not an event).
  *
  * `poll` reads forward from the caller's last-seen snapshot id to the
  * tip, unions the data-bearing component diffs, and returns the new tip
  * to persist as the caller's cursor. Exactly-once therefore reduces to
  * the caller persisting its cursor transactionally with its own output
  * — the Kafka-consumer contract, with snapshot ids as offsets.
  *
  * Lag discipline: vacuum's `retainSnapshots` window is the subscription
  * SLA. A subscriber lagging past it hits the typed expired-snapshot
  * failure (never a silent gap, never garbage reads) and must resync
  * with a full scan — exactly how log-retention overruns behave in any
  * produce/subscribe system.
  *
  * Scale shape: a poll reads only the small snapshot files in its window
  * plus the manifests of NEW components — cost tracks the new data,
  * never the corpus.
  */
object PackSubscribe {

  /** One poll's emissions: object ADDS (id, payload), id DELETES (the
    * changelog's retraction records, from tombstone publishes), and the
    * new cursor to persist. Apply DELETES BEFORE ADDS: an atomic upsert
    * publish carries both a retraction and the replacement version of
    * the same id in one poll, and delete-then-add converges to the new
    * version while the reverse order would drop it. Adds are NET of the
    * window — at most one (the newest live) version per id, and ids
    * added-then-deleted inside the window emit nothing — so
    * deletes-then-adds converges for ANY window split.
    */
  final case class Changes(adds: Dataset[(Long, Array[Byte])],
      deletes: Dataset[Long], tip: Long)

  /** Changes published in snapshots (`lastSeen`, tip], each exactly
    * once. `lastSeen = -1` subscribes from the beginning. Returns empty
    * datasets (cursor unchanged) when already caught up. `delete`
    * publishes emit their tombstone id set as retractions; `compact`
    * publishes emit nothing (they also physically drop previously
    * retracted ids — a subscriber that applied the retraction already
    * has nothing to do).
    */
  def poll(s: SparkSession, base: String, lastSeen: Long): Changes = {
    val tip = PackStore.latestSnapshotId(s, base).getOrElse(-1L)
    if (tip <= lastSeen) changesFor(s, base, Seq.empty).copy(tip = lastSeen)
    else changesFor(s, base, (lastSeen + 1) to tip)
  }

  /** Changes carried by an EXPLICIT snapshot-id set (each diffed against
    * its predecessor; compact snapshots contribute nothing). The
    * deterministic core shared by cursor-based [[poll]] and the
    * file-stream [[follow]] — a replayed id set always yields the same
    * Changes. `tip` is the max id (or -1 for an empty set).
    */
  def changesFor(s: SparkSession, base: String, ids: Seq[Long]): Changes = {
    import s.implicits._
    // each snapshot file is read once, even when it is both a member of
    // the set and the predecessor of the next member
    val read = scala.collection.mutable.Map.empty[Long, PackStore.Snapshot]
    def snap(k: Long) = read.getOrElseUpdate(k, PackStore.snapshotAt(s, base, k))
    val fresh = for {
      k <- ids.sorted
      cur = snap(k) if cur.kind != "compact"
      prev = if (k == 0) Set.empty[String] else snap(k - 1).comps.map(_.dir).toSet
      c <- cur.comps if !prev.contains(c.dir)
    } yield c
    val tombs = fresh.filter(_.dir.contains("/tombs/"))
    val deletes = tombs.map(c => s.read.parquet(c.dir).select("media_id").as[Long])
      .reduceOption(_.unionByName(_)).getOrElse(s.emptyDataset[Long]).distinct()
    // adds are NET of the window: the ordered fresh list (tombstones
    // included) goes through the same position-aware scan as the store
    // itself, so an id added then deleted inside one window emits no
    // add, and an id upserted emits only its newest version — without
    // this, deletes-before-adds would resurrect dead versions whenever
    // a poll window spans an add and its deletion
    Changes(PackStore.scanComponents(s, fresh), deletes, ids.maxOption.getOrElse(-1L))
  }

  /** PUSH-based changelog: a Structured Streaming query over the store's
    * snapshots directory. Every publish IS a new `snap-<k>` file, so the
    * file source's checkpointed listing is the cursor — no polling loop,
    * no cursor persistence for the caller. Each micro-batch delivers the
    * [[Changes]] for exactly the snapshot files it contains (computed by
    * the deterministic [[changesFor]]); on crash-replay the same files
    * re-deliver the same Changes, so the handler gets at-least-once and
    * an idempotent handler gets exactly-once (the same contract as any
    * foreachBatch sink). The retention/lag SLA is [[poll]]'s: a follower
    * resumed after its window expired fails typed on the vacuumed
    * snapshot.
    */
  def follow(s: SparkSession, base: String)(
      handler: Changes => Unit): org.apache.spark.sql.streaming.DataStreamWriter[org.apache.spark.sql.Row] = {
    import org.apache.spark.sql.functions.input_file_name
    s.readStream
      .option("pathGlobFilter", "snap-*")
      .text(s"$base/snapshots")
      .writeStream.foreachBatch { (batch: org.apache.spark.sql.DataFrame, _: Long) =>
        val ids = batch.select(input_file_name()).distinct().collect()
          .map(_.getString(0).split('/').last.stripPrefix("snap-").toLong).toSeq
        if (ids.nonEmpty) handler(changesFor(batch.sparkSession, base, ids))
      }
  }
}
