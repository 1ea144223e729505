package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.FactVersioned

/** Exactly-once Structured Streaming ingestion into a [[FactVersioned]]
  * table — the streaming twin of the reference's webhook→staging loop
  * (`lambda/zoom_webhook/handler.py:38-125`), landing in a versioned,
  * time-travelable, CDC-subscribable store instead of a flat snapshot.
  *
  * foreachBatch delivers micro-batches AT-LEAST-ONCE: after a crash
  * between the sink's side effect and the checkpoint commit, the same
  * (batchId, data) pair is redelivered. Exactly-once therefore needs the
  * applied batchId recorded ATOMICALLY with the data — here as a commit
  * property (`graft.stream.<sinkId>.batch`) written inside the same
  * generation metadata the commit marker makes visible, the
  * transactional-sink recipe Delta/Iceberg use (txnAppId/txnVersion).
  * On redelivery [[applyBatch]] sees the marker at or past the incoming
  * batchId and SKIPS — no new generation, and the change feed
  * ([[graft.operators.FactChangeFeed]]) sees zero rows.
  *
  * Defense in depth: if every marker-bearing generation has been
  * expired by retention (a sink that lagged many foreign commits), the
  * check finds no marker and re-applies — and because the commit is a
  * keyed UPSERT, a re-applied batch converges to byte-identical content
  * (its generation diff is empty), so the downstream contract degrades
  * to idempotent-replay rather than duplication. Size `retain` above
  * the worst-case number of commits between two sink batches to keep
  * the strict skip path.
  *
  * At 100 TB this inherits FactVersioned's scaling: each micro-batch
  * commit writes ∝ the batch's touched partitions (never the table),
  * and concurrent non-overlapping committers (e.g. a compaction job)
  * coexist through the store's optimistic concurrency.
  */
object FactStreamSink {

  /** The commit-property key carrying the last applied batchId for a
    * sink identity. `sinkId` distinguishes independent streams writing
    * the same table (Delta's txnAppId). */
  def batchProp(sinkId: String): String = s"graft.stream.$sinkId.batch"

  /** Highest batchId recorded by `sinkId` across retained committed
    * generations (newest-first scan, metadata-scale). None ⇒ no marker
    * retained: first run, or the marker aged out of retention. */
  def lastBatch(
      spark: SparkSession, tablePath: String, sinkId: String): Option[Long] = {
    val key = batchProp(sinkId)
    FactVersioned.generations(spark, tablePath).reverse.iterator
      .flatMap(g => FactVersioned.commitProperties(spark, tablePath, g)
        .get(key).flatMap(_.toLongOption))
      .nextOption()
  }

  /** Thrown by the in-commit marker re-check; caught by [[applyBatch]]
    * and surfaced as a SKIP. */
  private final class BatchAlreadyApplied extends RuntimeException(
    "batch marker advanced concurrently")

  /** Apply one micro-batch: keyed upsert committed with the batch
    * marker, or a SKIP (None) when the marker shows `batchId` already
    * applied. The skip compares with >= : foreachBatch batchIds are
    * monotonic per checkpoint, so an equal or lower id is always a
    * redelivery of work this table already holds.
    *
    * The marker check runs TWICE: once up front (the cheap fast path —
    * no staging work for an obvious redelivery), and again INSIDE the
    * commit protocol via the committer's `preCommit` hook, after this
    * commit's claim is linearized against every concurrent committer
    * (Delta's txnVersion-inside-the-retry-loop posture). The second
    * check closes the check-then-act window where a zombie driver of
    * the same sinkId passes the first check concurrently and
    * double-commits the batch — content would converge (the upsert is
    * keyed), but the change feed would see an extra empty-diff
    * generation, violating the "CDC sees zero rows on redelivery"
    * contract. The loser's commit aborts pre-publish and reports SKIP. */
  def applyBatch(
      spark: SparkSession,
      tablePath: String,
      batch: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      sinkId: String,
      batchId: Long,
      retain: Int = 10): Option[FactVersioned.Commit] =
    applyBatchBy(spark, tablePath, batch, keys, Seq(partitionCol),
      sinkId, batchId, retain)

  /** [[applyBatch]] for MULTI-COLUMN partitioned tables (nested leaf
    * dirs; same marker protocol, commit ∝ touched leaves). */
  def applyBatchBy(
      spark: SparkSession,
      tablePath: String,
      batch: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String],
      sinkId: String,
      batchId: Long,
      retain: Int = 10): Option[FactVersioned.Commit] = {
    if (lastBatch(spark, tablePath, sinkId).exists(_ >= batchId)) None
    else if (batch.isEmpty) None // empty batch: nothing to commit
    else try {
      Some(FactVersioned.upsertBy(spark, tablePath, batch, keys,
        partitionCols, retain = retain,
        properties = Map(batchProp(sinkId) -> batchId.toString),
        preCommit = () =>
          if (lastBatch(spark, tablePath, sinkId).exists(_ >= batchId))
            throw new BatchAlreadyApplied))
    } catch {
      case _: BatchAlreadyApplied => None
    }
  }

  /** Run a streaming DataFrame into the versioned table. `transform`
    * maps each raw micro-batch to the table's row shape (must contain
    * `keys` and `partitionCol`).
    *
    * @param maintainAnnCols non-empty ⇒ the table's
    *   [[graft.operators.FactAnnIndex]] sidecar over each (idCol =
    *   keys.head, vecCol) is refreshed after EVERY batch — applied or
    *   skipped — so downstream ANN queries never observe a generation
    *   the index hasn't caught up to. Refreshing on the skip path too
    *   is what makes the loop self-heal: a crash between a commit and
    *   its refresh leaves the head generation un-indexed, and the
    *   redelivered batch is (correctly) skipped by the marker — if the
    *   skip also skipped maintenance, that generation would stay
    *   un-indexed forever. `refreshIndex` is idempotent and costs ∝
    *   un-indexed files (a metadata listing when there are none), so
    *   the already-refreshed case is effectively free; when several
    *   generations await it (a batch's commit plus DML or compaction
    *   commits since the last batch), it catches all of them up with
    *   one scan and one write, so its job count stays that of a
    *   single generation. The index must
    *   have been built (`FactAnnIndex.writeIndex`) before the stream
    *   starts — the live maintenance loop never trains, matching the
    *   bloom/stats refresh posture. */
  def start(
      source: DataFrame,
      tablePath: String,
      keys: Seq[String],
      partitionCol: String,
      checkpointDir: String,
      sinkId: String = "default",
      retain: Int = 10,
      transform: DataFrame => DataFrame = identity,
      maintainAnnCols: Seq[String] = Nil): StreamingQuery =
    startBy(source, tablePath, keys, Seq(partitionCol), checkpointDir,
      sinkId, retain, transform, maintainAnnCols)

  /** [[start]] for MULTI-COLUMN partitioned tables. */
  def startBy(
      source: DataFrame,
      tablePath: String,
      keys: Seq[String],
      partitionCols: Seq[String],
      checkpointDir: String,
      sinkId: String = "default",
      retain: Int = 10,
      transform: DataFrame => DataFrame = identity,
      maintainAnnCols: Seq[String] = Nil): StreamingQuery =
    source.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, batchId: Long) =>
        val s = batch.sparkSession
        applyBatchBy(s, tablePath, transform(batch), keys,
          partitionCols, sinkId, batchId, retain)
        // unconditional (see @param maintainAnnCols): the skip path
        // must also catch up a generation whose refresh was lost to a
        // crash; no-op cost is a metadata listing
        if (graft.operators.FactVersioned.generations(s, tablePath).nonEmpty)
          maintainAnnCols.foreach(vc =>
            graft.operators.FactAnnIndex.refreshIndex(
              s, tablePath, keys.head, vc))
        ()
      }
      .start()
}
