package graft.streaming

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQuery

import graft.functions.Normalize
import graft.model.Schemas
import graft.operators.{Constraints, FactVersioned, Merge, PrioritySelect, Upsert}

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
    * [[FactVersioned.upsert]]), and the natural pruning axis: a
    * micro-batch of webhooks touches the last day or two, so each
    * commit rewrites 1-2 date partitions of a table that may span
    * years. A null `recording_start` (unparseable timestamp) lands in
    * the Hive default partition — still a single partition. */
  val PartitionCol = "part_date"

  /** Start the streaming query: JSON events under `inDir` → staging
    * table at `stagingPath` via idempotent upsert on id.
    *
    * @param partitionByStartDate false ⇒ flat parquet snapshot, full
    *   rewrite per batch (gate-sized tables). true ⇒ the staging table
    *   is a [[FactVersioned]] table partitioned by [[PartitionCol]],
    *   and each micro-batch commits only the partitions it touches —
    *   the at-scale posture (per-batch write cost ∝ batch, not table).
    *   Read it with `FactVersioned.read`.
    * @param maintainStatsCols non-empty ⇒ (partitioned mode only)
    *   every staging commit records per-file bounds of these columns
    *   in its manifest ([[FactVersioned.replacePartitions]]'s
    *   `statsCols`), so `FactVersioned.readWhere` prunes on them at
    *   every generation with no refresh step. */
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
        val selected = selectPreferred(s, files)
          .drop("category") // one row per (meeting, category) winner
        deadLetterDir.foreach(d =>
          dead.write.mode("append").json(d))
        if (partitionByStartDate)
          FactVersioned.upsertBatchBy(s, stagingPath,
            selected.withColumn(PartitionCol, to_date(col("recording_start"))),
            Seq("id"), Seq(PartitionCol), orderBy = Some(col("event_ts")),
            statsCols = maintainStatsCols)
        else {
          val staging = readSnapshotOr(s, stagingPath, selected)
          Upsert.writeSnapshot(
            Upsert.upsert(staging, selected, Seq("id"),
              orderBy = Some(col("event_ts"))), stagingPath)
        }
        ()
      }
      .start()
  }

  /** Periodic staging→main reconcile (the reference's merge_recordings
    * task): promote staged recordings whose meeting has arrived.
    * In partitioned mode ([[start]]'s `partitionByStartDate`) both
    * tables are [[FactVersioned]] tables and both commits touch only
    * the date partitions holding promoted rows
    * ([[Merge.promotePartitioned]]). */
  def promote(
      spark: SparkSession,
      stagingPath: String,
      meetings: DataFrame,
      mainPath: String,
      partitionByStartDate: Boolean = false): Unit = {
    if (partitionByStartDate) {
      Merge.promotePartitioned(spark, stagingPath, meetings,
        "meeting_uuid", "uuid", mainPath, Seq("id"), PartitionCol)
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
