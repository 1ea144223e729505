package graft.streaming

import java.nio.file.{Files, Paths => JPaths}

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FactVersioned

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

  test("a micro-batch scans its webhook file once: numInputRows equals " +
      "the file's event count, on the first batch and against a staged " +
      "snapshot") {
    val root = Files.createTempDirectory("graft_streamscan").toString
    val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
    val n = 15
    def batchFile(name: String, from: Int): Unit =
      writeEvent(in, name, (from until from + n).map(i => event(s"m$i",
        s"t$i", file(s"f$i", "audio_only", "M4A"), eventTs = 1000L + i))
        .mkString("\n"))
    val q = RecordingStream.start(spark, in, s"$root/staging",
      s"$root/ckpt")
    try {
      batchFile("e1.json", 0)
      q.processAllAvailable()
      batchFile("e2.json", n)
      q.processAllAvailable()
    } finally q.stop()
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.map(_.numInputRows).toSeq == Seq(n.toLong, n.toLong),
      "each event must be read once per micro-batch")
    assert(spark.read.parquet(s"$root/staging").count() == 2 * n)
  }

  private def table(path: String) = FactVersioned.read(spark, path)

  /** The table's ids, sorted; a NULL id reads as None. */
  private def ids(path: String): Seq[Option[String]] =
    table(path).select("id").collect().map(r => Option(r.getString(0)))
      .toSeq.sortBy(_.getOrElse(""))

  private def topics(path: String): Seq[String] =
    table(path).select("topic").as[String].collect().toSeq.sorted

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

    assert(FactVersioned.partitionDirs(spark, staging).toSet === Set(
      "part_date=2021-07-13", "part_date=__HIVE_DEFAULT_PARTITION__"))
    assert(ids(staging) === Seq(Some("fA1"), Some("fB1")))

    // promote: only mA arrived → its date partition empties from
    // staging and appears in main; fB1 (null date) stays parked
    val meetings = Seq(("mA", "t")).toDF("uuid", "topic")
    RecordingStream.promote(spark, staging, meetings, main,
      partitionByStartDate = true)
    assert(ids(main) === Seq(Some("fA1")))
    assert(ids(staging) === Seq(Some("fB1")))
    // the emptied partition leaves the staging head's manifest
    assert(FactVersioned.partitionDirs(spark, staging) ===
      Seq("part_date=__HIVE_DEFAULT_PARTITION__"))
  }

  test("partitioned mode: a same-batch redelivery stages each file " +
      "once, the newest event's values winning") {
    val root = Files.createTempDirectory("graft_streamr").toString
    val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
    val staging = s"$root/staging"; val main = s"$root/main"
    val e1 = event("mA", "Sync", file("fA1", "audio_only", "M4A"),
      eventTs = 1000L)
    val e2 = event("mA", "Sync Renamed", file("fA1", "audio_only", "M4A"),
      eventTs = 2000L)
    // one file = one micro-batch: the event, its redelivery, and a
    // newer event for the same recording file
    writeEvent(in, "e1.json", Seq(e1, e1, e2).mkString("\n"))
    val q = RecordingStream.start(spark, in, staging, s"$root/ckpt",
      partitionByStartDate = true)
    q.processAllAvailable()
    // the same batch redelivered as its own micro-batch
    writeEvent(in, "e2.json", Seq(e1, e1, e2).mkString("\n"))
    q.processAllAvailable(); q.stop()
    assert(ids(staging) === Seq(Some("fA1")))
    assert(topics(staging) === Seq("Sync Renamed"))
    RecordingStream.promote(spark, staging,
      Seq(("mA", "t")).toDF("uuid", "topic"), main,
      partitionByStartDate = true)
    assert(ids(main) === Seq(Some("fA1")))
    assert(topics(main) === Seq("Sync Renamed"))
    assert(ids(staging).isEmpty)
  }

  test("partitioned mode: a NULL-id file is a plain insert on every " +
      "delivery and stays parked through promote") {
    val root = Files.createTempDirectory("graft_streamn").toString
    val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
    val staging = s"$root/staging"; val main = s"$root/main"
    val nullFile =
      """{"id":null,"meeting_id":"m","recording_start":"2021-07-13T21:44:51Z",
        |"recording_end":"2021-07-13T23:39:22Z","recording_type":"t",
        |"file_type":"audio_only","file_size":7,"file_extension":"M4A",
        |"play_url":"p","download_url":"https://dl/n","status":"completed"}"""
        .stripMargin.replace("\n", "")
    val en = event("mN", "Guest", nullFile)
    val ek = event("mK", "Keyed", file("fK1", "audio_only", "M4A"))
    // batch 1 delivers the NULL-id event twice (R1 keeps one file per
    // meeting and category); batch 2 once more, beside a keyed event
    writeEvent(in, "e1.json", Seq(en, en).mkString("\n"))
    val q = RecordingStream.start(spark, in, staging, s"$root/ckpt",
      partitionByStartDate = true)
    q.processAllAvailable()
    assert(ids(staging) === Seq(None))
    writeEvent(in, "e2.json", Seq(en, ek).mkString("\n"))
    q.processAllAvailable(); q.stop()
    assert(ids(staging) === Seq(None, None, Some("fK1")))
    // NULL keys never match: both NULL rows are inserted into main and
    // stay parked, so every promote inserts them again
    val meetings = Seq(("mN", "t"), ("mK", "t")).toDF("uuid", "topic")
    RecordingStream.promote(spark, staging, meetings, main,
      partitionByStartDate = true)
    assert(ids(main) === Seq(None, None, Some("fK1")))
    assert(ids(staging) === Seq(None, None))
    RecordingStream.promote(spark, staging, meetings, main,
      partitionByStartDate = true)
    assert(ids(main) === Seq(None, None, None, None, Some("fK1")))
    assert(ids(staging) === Seq(None, None))
  }

  test("maintainStatsCols keeps the staging manifest live across commits") {
    import graft.operators.DataSkipping.ColRange
    val root = Files.createTempDirectory("graft_streamm").toString
    val in = s"$root/in"; Files.createDirectories(JPaths.get(in))
    val staging = s"$root/staging"

    writeEvent(in, "e1.json", event("mA", "Sync", Seq(
      file("fA1", "shared_screen_with_speaker_view")).mkString(",")))
    val q = RecordingStream.start(spark, in, staging, s"$root/ckpt",
      partitionByStartDate = true, maintainStatsCols = Seq("id"))
    q.processAllAvailable()
    // a second batch commits a recording of the next day
    writeEvent(in, "e2.json", event("mC", "Retro",
      file("fC1", "audio_only").replace("2021-07-13", "2021-07-14")))
    q.processAllAvailable(); q.stop()

    // the head's files all carry id bounds — the first commit's file
    // carried verbatim, the second's fresh — so a point range on either
    // id opens only that id's file, with no refresh step in between
    Seq("fA1", "fC1").foreach { id =>
      val scan = FactVersioned.readWhere(spark, staging, None,
        Seq(ColRange("id", lit(id), lit(id))))
      assert(scan.df.select("id").as[String].collect().toSeq === Seq(id))
      assert(scan.report.filesRead === 1 && scan.report.filesTotal >= 2,
        s"$id: ${scan.report}")
    }
  }
}
