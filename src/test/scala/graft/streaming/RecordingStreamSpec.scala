package graft.streaming

import java.nio.file.{Files, Paths => JPaths}

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** End-to-end streaming webhook path (SURVEY §3.2): JSON events →
  * validate/dead-letter → explode → R1 select → staged upsert →
  * late-meeting promote → redelivery idempotence. */
class RecordingStreamSpec extends SparkSpec {
  import spark.implicits._

  private def writeEvent(dir: String, name: String, json: String): Unit =
    Files.write(JPaths.get(dir, name), json.getBytes("UTF-8"))

  private def event(uuid: String, topic: String, files: String,
      eventTs: Long = 1626230691572L): String =
    s"""{"event":"recording.completed","event_ts":$eventTs,
       |"payload":{"account_id":"AAA","object":{
       |"id":98765,"uuid":"$uuid","host_id":"h1","topic":"$topic",
       |"type":4,"start_time":"2021-07-13T21:44:51Z",
       |"host_email":"host@x.com","duration":60,"total_size":3328371,
       |"recording_count":2,"recording_files":[$files]}}}"""
      .stripMargin.replace("\n", "")

  private def file(id: String, ftype: String, ext: String = "MP4",
      url: String = "\"https://dl/x\""): String =
    s"""{"id":"$id","meeting_id":"m","recording_start":"2021-07-13T21:44:51Z",
       |"recording_end":"2021-07-13T23:39:22Z","recording_type":"t",
       |"file_type":"$ftype","file_size":100,"file_extension":"$ext",
       |"play_url":"https://p/x","download_url":$url,"status":"completed"}"""
      .stripMargin.replace("\n", "")

  test("webhook stream end-to-end: select, sanitize, stage, promote") {
    val root = Files.createTempDirectory("graft_stream").toString
    val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
    val staging = s"$root/staging"; val main = s"$root/main"
    val dead = s"$root/dead"

    // meeting A: speaker view beats audio_only; chat present;
    // one file with no download_url must be skipped (handler.py:64-66)
    writeEvent(in, "e1.json", event("mA", "Weekly/Sync: Q3?", Seq(
      file("fA1", "shared_screen_with_speaker_view"),
      file("fA2", "audio_only", "M4A"),
      file("fA3", "chat_file", "TXT"),
      file("fA4", "gallery_view", "MP4", url = "null")).mkString(",")))
    // meeting B: only audio
    writeEvent(in, "e2.json", event("mB", "1:1", Seq(
      file("fB1", "audio_only", "M4A")).mkString(",")))
    // invalid event: missing topic/host_email → dead letter
    writeEvent(in, "e3.json",
      """{"event":"recording.completed","event_ts":1,"payload":{"account_id":"A",
        |"object":{"id":1,"uuid":"mC","start_time":"2021-07-13T21:44:51Z",
        |"recording_files":[]}}}""".stripMargin.replace("\n", ""))

    val q = RecordingStream.start(spark, in, staging, s"$root/ckpt",
      deadLetterDir = Some(dead))
    q.processAllAvailable(); q.stop()

    val staged = spark.read.parquet(staging)
    val ids = staged.select("id").as[String].collect().toSet
    assert(ids === Set("fA1", "fA2", "fA3", "fB1")) // fA4 skipped (no url)
    // sanitized topic in the templated S3 key (T2 + S10)
    val keyA = staged.where($"id" === "fA1").select("s3_key").as[String].head()
    assert(keyA.contains("Weekly_Sync_ Q3_"))
    assert(keyA.startsWith("recordings/host@x.com/"))
    // dead letter captured with diagnostics
    val dl = spark.read.json(dead)
    assert(dl.count() === 1)

    // promote with only meeting A arrived → B stays parked (late data)
    val meetings = Seq(("mA", "t")).toDF("uuid", "topic")
    RecordingStream.promote(spark, staging, meetings, main)
    assert(spark.read.parquet(main).select("id").as[String].collect().toSet
      === Set("fA1", "fA2", "fA3"))
    assert(spark.read.parquet(staging).select("id").as[String].collect().toSet
      === Set("fB1"))

    // redelivery of e2 (same ids) then meeting B arrives → idempotent
    writeEvent(in, "e2b.json", event("mB", "1:1", Seq(
      file("fB1", "audio_only", "M4A")).mkString(",")))
    val q2 = RecordingStream.start(spark, in, staging, s"$root/ckpt",
      deadLetterDir = Some(dead))
    q2.processAllAvailable(); q2.stop()
    val meetingsAll = Seq(("mA", "t"), ("mB", "t")).toDF("uuid", "topic")
    RecordingStream.promote(spark, staging, meetingsAll, main)
    assert(spark.read.parquet(main).count() === 4) // no duplicate fB1
    assert(spark.read.parquet(staging).count() === 0)
  }

  test("two events for one meeting in one micro-batch: the newer " +
      "event's file wins in either input order") {
    val older = event("mA", "Sync",
      file("fOld", "shared_screen_with_speaker_view"), eventTs = 1000L)
    val newer = event("mA", "Sync",
      file("fNew", "shared_screen_with_speaker_view"), eventTs = 2000L)
    Seq("older first" -> Seq(older, newer),
        "newer first" -> Seq(newer, older)).foreach { case (order, lines) =>
      val root = Files.createTempDirectory("graft_streamtie").toString
      val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
      // one file = one micro-batch holding both events
      writeEvent(in, "e.json", lines.mkString("\n"))
      val q = RecordingStream.start(spark, in, s"$root/staging",
        s"$root/ckpt")
      q.processAllAvailable(); q.stop()
      assert(spark.read.parquet(s"$root/staging").select("id")
        .as[String].collect().toSeq == Seq("fNew"),
        s"$order: the newer event's file must win")
    }
  }

  test("partitioned mode: date-scoped staging commits, null start date " +
      "lands in the default partition, promote scopes both tables") {
    val root = Files.createTempDirectory("graft_streamp").toString
    val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
    val staging = s"$root/staging"; val main = s"$root/main"

    writeEvent(in, "e1.json", event("mA", "Sync", Seq(
      file("fA1", "shared_screen_with_speaker_view")).mkString(",")))
    // unparseable recording_start → null part_date → Hive default dir
    writeEvent(in, "e2.json", event("mB", "1:1",
      s"""{"id":"fB1","meeting_id":"m","recording_start":"not-a-time",
         |"recording_end":"also-bad","recording_type":"t",
         |"file_type":"audio_only","file_size":1,"file_extension":"M4A",
         |"play_url":"p","download_url":"https://dl/b","status":"completed"}"""
        .stripMargin.replace("\n", "")))

    val q = RecordingStream.start(spark, in, staging, s"$root/ckpt",
      partitionByStartDate = true)
    q.processAllAvailable(); q.stop()

    val fs = new org.apache.hadoop.fs.Path(staging).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(staging))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(dirs.contains("part_date=2021-07-13"))
    assert(dirs.contains("part_date=__HIVE_DEFAULT_PARTITION__"))

    val schema = RecordingStream.partitionedStagingSchema(spark)
    val staged = graft.operators.Upsert
      .readPartitionedSnapshot(spark, staging, schema).get
    assert(staged.select("id").as[String].collect().toSet
      === Set("fA1", "fB1"))

    // promote: only mA arrived → its date partition empties from
    // staging and appears in main; fB1 (null date) stays parked
    val meetings = Seq(("mA", "t")).toDF("uuid", "topic")
    RecordingStream.promote(spark, staging, meetings, main,
      partitionByStartDate = true)
    val mainDf = graft.operators.Upsert
      .readPartitionedSnapshot(spark, main, schema).get
    assert(mainDf.select("id").as[String].collect().toSet === Set("fA1"))
    val parked = graft.operators.Upsert
      .readPartitionedSnapshot(spark, staging, schema).get
    assert(parked.select("id").as[String].collect().toSet === Set("fB1"))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(staging,
      "part_date=2021-07-13"))) // emptied partition dir removed
  }

  test("maintainStatsCols keeps the staging manifest live across commits") {
    import graft.operators.DataSkipping
    val root = Files.createTempDirectory("graft_streamm").toString
    val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
    val staging = s"$root/staging"

    writeEvent(in, "e1.json", event("mA", "Sync", Seq(
      file("fA1", "shared_screen_with_speaker_view")).mkString(",")))
    val q = RecordingStream.start(spark, in, staging, s"$root/ckpt",
      partitionByStartDate = true, maintainStatsCols = Seq("id"))
    q.processAllAvailable()

    assert(DataSkipping.hasManifest(spark, staging),
      "manifest must be live after the first commit")
    val before = DataSkipping.readManifest(spark, staging).count()
    assert(before >= 1)

    // a second batch (redelivery + a new meeting) commits again; the
    // manifest must STILL be live and cover every current file
    writeEvent(in, "e2.json", event("mC", "Retro", Seq(
      file("fC1", "audio_only")).mkString(",")))
    q.processAllAvailable(); q.stop()

    assert(DataSkipping.hasManifest(spark, staging),
      "manifest must be refreshed, not left parked, after every commit")
    val m = DataSkipping.readManifest(spark, staging)
    val files = m.select("file").collect().map(_.getString(0)).toSet
    val fs = new org.apache.hadoop.fs.Path(staging).getFileSystem(
      spark.sparkContext.hadoopConfiguration)
    val schema = RecordingStream.partitionedStagingSchema(spark)
    val live = graft.operators.Upsert
      .readPartitionedSnapshot(spark, staging, schema).get
      .select(org.apache.spark.sql.functions.col("_metadata.file_path"))
      .distinct().collect().map(_.getString(0)).toSet
    assert(files == live,
      s"manifest coverage drifted: manifest=$files live=$live")
  }
}
