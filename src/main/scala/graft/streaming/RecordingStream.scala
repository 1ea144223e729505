package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Normalize
import graft.model.Schemas
import graft.operators.{Constraints, Merge, PrioritySelect, Upsert}

/** The webhook path (SURVEY §3.2, ref lambda/zoom_webhook/handler.py:38-125)
  * as Structured Streaming:
  *
  *   readStream(json) → validate required fields (S9/T9, dead-letter the
  *   rest) → explode recording_files (T5/T7) → drop files without a
  *   download_url (handler.py:64-66) → R1 preferred-type top-1 per
  *   category → path-templated sink key (S10's
  *   `recordings/{host}/{topic}/{start}/{type}.{ext}`, handler.py:70)
  *   → foreachBatch idempotent upsert into the staging snapshot (K4).
  *
  * Late data follows the reference's design (§2.7): recordings landing
  * before their meeting stay parked in staging; a periodic batch
  * [[promote]] (J1+K5+J2) reconciles — a stream-static join would never
  * retry old misses, so the staging-table design is kept deliberately.
  */
object RecordingStream {

  /** The reference's preference lists (handler.py:18-24). */
  val preferenceLists: Map[String, Seq[String]] = Map(
    "video" -> Seq("shared_screen_with_speaker_view", "shared_screen",
      "active_speaker", "gallery_view"),
    "audio" -> Seq("audio_only"),
    "transcript" -> Seq("audio_transcript", "closed_caption"),
    "chat" -> Seq("chat_file"))

  /** Required webhook fields (handler.py:46-52). */
  val requiredFields: Seq[String] =
    Seq("uuid", "topic", "host_email", "start_time", "recording_files")

  /** Flatten one microbatch of webhook events into candidate recording
    * rows; returns (valid flattened rows, dead-lettered events). */
  def flattenEvents(events: DataFrame): (DataFrame, DataFrame) = {
    val objects = events
      .where(col("event") === "recording.completed")
      .select(col("event_ts"), col("payload.object.*"))
    val (valid, dead) = Constraints.requireFields(objects, requiredFields)
    val files = valid
      .select(col("event_ts"), col("uuid").as("meeting_uuid"),
        col("host_id"), col("host_email"),
        Normalize.sanitizeName(col("topic")).as("topic"),
        col("start_time"),
        posexplode(col("recording_files")).as(Seq("arrival", "f")))
      .where(col("f.download_url").isNotNull)
      .select(
        col("f.id").as("id"), col("meeting_uuid"), col("host_id"),
        col("host_email"), col("topic"),
        col("f.recording_type").as("recording_type"),
        col("f.file_type").as("file_type"),
        col("f.file_size").as("file_size"),
        col("f.file_extension").as("file_extension"),
        Normalize.parseTimestampUtc(col("f.recording_start"))
          .as("recording_start"),
        Normalize.parseTimestampUtc(col("f.recording_end"))
          .as("recording_end"),
        col("f.download_url").as("download_url"),
        col("event_ts"), col("arrival"))
    (files, dead)
  }

  /** R1 selection + S10 path templating over flattened file rows. Ties
    * within a preference rank go to the NEWEST event (`event_ts`), then
    * to the later position in `recording_files` (`arrival`), then to
    * the file `id`: two events for one meeting in one micro-batch share
    * their `arrival` positions, so without `event_ts` the winner would
    * depend on row order. */
  def selectPreferred(spark: SparkSession, files: DataFrame): DataFrame = {
    val prio = PrioritySelect.priorityTable(spark, preferenceLists)
    PrioritySelect
      .top1ByPriority(files, prio, "file_type", Seq("meeting_uuid"),
        Seq(col("event_ts").desc, col("arrival").desc, col("id")))
      .withColumn("s3_key", concat_ws("/", lit("recordings"),
        col("host_email"), col("topic"),
        date_format(col("recording_start"), "yyyyMMdd'T'HHmmss"),
        concat(col("file_type"), lit("."), col("file_extension"))))
  }

  /** Partition column added to the staging/main row in partitioned
    * mode: the recording's start date — immutable for a given
    * recording id (the key-to-partition stability contract of
    * [[Upsert.upsertPartitioned]]), and the natural pruning axis: a
    * micro-batch of webhooks touches the last day or two, so each
    * commit rewrites 1-2 date directories of a table that may span
    * years. A null `recording_start` (unparseable timestamp) lands in
    * the Hive default partition — still a single directory. */
  val PartitionCol = "part_date"

  /** Start the streaming query: JSON events under `inDir` → staging
    * parquet snapshot at `stagingPath` via idempotent upsert on id.
    *
    * @param partitionByStartDate false ⇒ flat snapshot, full rewrite
    *   per batch (gate-sized tables). true ⇒ the staging table is
    *   date-partitioned ([[PartitionCol]]) and each micro-batch
    *   rewrites only the partitions it touches — the at-scale posture
    *   (per-batch write cost ∝ batch, not table).
    * @param maintainStatsCols non-empty ⇒ (partitioned mode only) the
    *   staging table's [[graft.operators.DataSkipping]] manifest over
    *   these columns is kept LIVE across commits: the commit parks it,
    *   and the loop immediately refreshes it ∝ the touched partitions
    *   — downstream pruned scans never observe a stale or missing
    *   manifest between batches. Cost: one metadata-scale refresh per
    *   batch over the 1-2 dirs the batch rewrote. */
  def start(
      spark: SparkSession,
      inDir: String,
      stagingPath: String,
      checkpointDir: String,
      deadLetterDir: Option[String] = None,
      partitionByStartDate: Boolean = false,
      maintainStatsCols: Seq[String] = Nil): StreamingQuery = {
    require(maintainStatsCols.isEmpty || partitionByStartDate,
      "maintainStatsCols requires partitionByStartDate (a flat swap " +
        "replaces the whole dir — rebuild the manifest after promote)")
    val events = spark.readStream
      .schema(Schemas.webhookSchema)
      .json(inDir)
    events.writeStream
      .option("checkpointLocation", checkpointDir)
      .foreachBatch { (batch: DataFrame, _: Long) =>
        val s = batch.sparkSession
        val (files, dead) = flattenEvents(batch)
        val selected0 = selectPreferred(s, files)
          .drop("category") // one row per (meeting, category) winner
        deadLetterDir.foreach(d =>
          dead.write.mode("append").json(d))
        if (partitionByStartDate) {
          val selected = selected0
            .withColumn(PartitionCol, to_date(col("recording_start")))
          val commit = Upsert.upsertPartitioned(s, stagingPath, selected,
            Seq("id"), PartitionCol, orderBy = Some(col("event_ts")))
          if (maintainStatsCols.nonEmpty)
            // this loop is the single writer and refreshes after every
            // commit, so the serial fast path applies: refresh cost is
            // strictly ∝ the 1-2 dirs this batch rewrote, no listing
            graft.operators.DataSkipping.refreshManifestPartitioned(
              s, stagingPath, commit.rewritten ++ commit.deleted,
              maintainStatsCols, assumeSerialCommits = true)
        } else {
          val staging = readSnapshotOr(s, stagingPath, selected0)
          Upsert.writeSnapshot(
            Upsert.upsert(staging, selected0, Seq("id"),
              orderBy = Some(col("event_ts"))), stagingPath)
        }
        ()
      }
      .start()
  }

  /** Row schema of the partitioned staging/main tables, derived by
    * planning the transform over an empty frame (no job runs) — keeps
    * the partitioned read's schema pinned without a hand-maintained
    * duplicate of the transform's output shape. */
  def partitionedStagingSchema(
      spark: SparkSession): org.apache.spark.sql.types.StructType = {
    val empty = spark.createDataFrame(
      new java.util.ArrayList[org.apache.spark.sql.Row](),
      Schemas.webhookSchema)
    val (files, _) = flattenEvents(empty)
    selectPreferred(spark, files)
      .drop("category")
      .withColumn(PartitionCol, to_date(col("recording_start")))
      .schema
  }

  /** Periodic staging→main reconcile (the reference's merge_recordings
    * task): promote staged recordings whose meeting has arrived.
    * In partitioned mode ([[start]]'s `partitionByStartDate`) both
    * sides of the transaction rewrite only the date partitions holding
    * promoted rows. */
  def promote(
      spark: SparkSession,
      stagingPath: String,
      meetings: DataFrame,
      mainPath: String,
      partitionByStartDate: Boolean = false): Unit = {
    if (partitionByStartDate) {
      Merge.promotePartitioned(spark, stagingPath, meetings,
        "meeting_uuid", "uuid", mainPath, Seq("id"), PartitionCol,
        partitionedStagingSchema(spark))
      ()
    } else {
      val staging = Upsert.readSnapshot(spark, stagingPath)
        .getOrElse(sys.error(s"promote: no staging snapshot at $stagingPath"))
      val main = Upsert.readSnapshot(spark, mainPath)
        .getOrElse(staging.limit(0))
      val res = Merge.promote(staging, meetings, "meeting_uuid", "uuid",
        main, Seq("id"))
      // one transaction: both plans execute before either snapshot swaps
      // (the new staging's anti-join scans the old main's files)
      Upsert.writeSnapshots(Seq(res.main -> mainPath,
        res.staging -> stagingPath))
    }
  }

  // Crash-safe: falls back to the __prev generation mid-swap; only a
  // genuine first run (neither generation on disk) reads as empty —
  // corruption/permission errors propagate instead of reading as empty.
  private def readSnapshotOr(
      spark: SparkSession, path: String, like: DataFrame): DataFrame =
    Upsert.readSnapshot(spark, path).getOrElse(like.limit(0))
}
