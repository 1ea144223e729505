package perfbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths, StandardCopyOption}
import java.time.Instant

import scala.collection.mutable

import org.apache.spark.sql.Row
import org.apache.spark.sql.streaming.StreamingQuery

import graft.operators.Upsert
import graft.pipeline.BatchEtl
import graft.streaming.RecordingStream

/** The reference pipeline straight through on Zoom-shaped JSON: each
  * cycle drops [[WebhooksPerCycle]] batches of `recording.completed`
  * events into the `RecordingStream` file source (waiting on
  * `processAllAvailable`), runs `BatchEtl.run` over an increment of
  * users, meetings and participants, then runs each dashboard read
  * [[DashboardRepeats]] times over the loaded snapshots. Keys come from a
  * fixed universe, so the flat snapshots level off and every cycle costs
  * the same. The warm-up cycle runs each operation once. */
object ZoomEtl {
  val Users = 200
  val Meetings = 300
  val ParticipantsPerMeeting = 3
  /** Per ETL increment. */
  val UsersPerRun = 20
  val MeetingsPerRun = 30
  /** Per webhook batch; every event carries one file per category. */
  val EventsPerBatch = 15
  val WebhooksPerCycle = 4
  /** Times each dashboard statement runs per cycle. */
  val DashboardRepeats = 2
  val Depts = Seq("eng", "sales", "ops", "hr", "finance", "legal")
  val FileKinds = Seq(
    ("shared_screen_with_speaker_view", "MP4"), ("audio_only", "M4A"),
    ("audio_transcript", "VTT"), ("chat_file", "TXT"))
  /** Cycle c's ETL runs "at" Start + c hours; its meetings start in the
    * hour before, after the bookmark the previous run committed. */
  val Start: Instant = Instant.parse("2024-01-01T00:00:00Z")

  /** The dashboard statements, one read operation each. */
  val Dashboards: Seq[(String, String)] = Seq(
    "dept_activity" ->
      """SELECT u.dept, count(DISTINCT p.meeting_uuid) AS meetings,
        |  sum(p.duration) AS minutes
        |FROM participant p JOIN usr u ON p.user_id = u.id
        |  JOIN meeting m ON p.meeting_uuid = m.uuid
        |GROUP BY u.dept ORDER BY u.dept""".stripMargin,
    "recordings_by_type" ->
      """SELECT file_type, count(*) AS files, sum(file_size) AS bytes
        |FROM (SELECT id, file_type, file_size FROM rec_main
        |      UNION ALL SELECT id, file_type, file_size FROM rec_staging
        |      WHERE id NOT IN (SELECT id FROM rec_main)) r
        |GROUP BY file_type ORDER BY file_type""".stripMargin,
    "top_hosts" ->
      """SELECT m.host_id, count(*) AS meetings, sum(m.duration) AS minutes
        |FROM meeting m GROUP BY m.host_id
        |ORDER BY minutes DESC, m.host_id LIMIT 10""".stripMargin)

  final case class User(id: String, email: String, dept: String, first: String)
  final case class Meeting(uuid: String, id: Long, host: String, topic: String,
      startSec: Long, duration: Int)
  final case class Part(meeting: String, user: String, duration: Int)
  final case class RecFile(id: String, meeting: String, fileType: String,
      size: Long)
}

final class ZoomEtl(ctx: Ctx, dir: String, seed: Long) extends Workload {
  import ZoomEtl._
  private val spark = ctx.spark
  private val rnd = new scala.util.Random(seed)
  private val inbox = s"$dir/webhook_in"
  private val spool = s"$dir/webhook_spool"
  private val wh = s"$dir/warehouse"
  private val ckpt = s"$dir/stream_ckpt"
  private def paths(c: Int) = BatchEtl.Paths(s"$dir/inc/$c/users",
    s"$dir/inc/$c/meetings", s"$dir/inc/$c/participants", wh)

  // the model: what the snapshots must hold after the applied increments
  private val users = mutable.Map.empty[String, User]
  private val meetings = mutable.Map.empty[String, Meeting]
  private val parts = mutable.Map.empty[(String, String), Part]
  private val files = mutable.Map.empty[String, RecFile]
  private var cycleNo = 0
  private var eventTs = Start.toEpochMilli
  private var query: StreamingQuery = _
  private val lastReads = mutable.Map.empty[String, Seq[Row]]

  def storageDirs: Seq[String] = Seq(wh, ckpt)

  private def uid(i: Int) = f"u$i%04d"
  private def muuid(i: Int) = f"m$i%05d=="
  /** Meeting i's fixed attendees, so participant keys never grow. */
  private def attendees(i: Int) =
    (0 until ParticipantsPerMeeting).map(k => uid((i + k * 7) % Users))
  private def iso(sec: Long) = Instant.ofEpochSecond(sec).toString

  private def writeJson(path: String, lines: Seq[String]): Long = {
    val bytes = lines.mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    Files.createDirectories(Paths.get(path))
    Files.write(Paths.get(path, "part-0.json"), bytes)
    bytes.length.toLong
  }

  private def userJson(u: User) =
    s"""{"id":"${u.id}","email":"${u.email}","first_name":"${u.first}",""" +
      s""""last_name":"L","dept":"${u.dept}","role_name":"member",""" +
      s""""created_at":"2023-01-01T00:00:00Z","last_login_time":null,""" +
      s""""group_names":["g1"]}"""

  private def meetingJson(m: Meeting) =
    s"""{"id":${m.id},"uuid":"${m.uuid}","host_id":"${m.host}",""" +
      s""""topic":"${m.topic}","start_time":"${iso(m.startSec)}",""" +
      s""""end_time":"${iso(m.startSec + m.duration * 60L)}",""" +
      s""""duration":${m.duration},"participants_count":$ParticipantsPerMeeting,"type":2}"""

  private def partJson(p: Part, startSec: Long) =
    s"""{"meeting_uuid":"${p.meeting}","id":"${p.user}","user_id":"${p.user}",""" +
      s""""name":"N","user_email":"${p.user}@example.com",""" +
      s""""join_time":"${iso(startSec)}","leave_time":"${iso(startSec + p.duration * 60L)}",""" +
      s""""duration":${p.duration},"internal_user":true}"""

  /** One ETL increment: users, meetings starting after the bookmark,
    * and each meeting's participants. */
  private def increment(c: Int, nUsers: Int, nMeetings: Int): (Seq[User],
      Seq[Meeting], Seq[Part]) = {
    val us = rnd.shuffle((0 until Users).toIndexedSeq).take(nUsers).map { i =>
      User(uid(i), s"${uid(i)}.${rnd.nextInt(1000)}@example.com",
        Depts(rnd.nextInt(Depts.size)), s"F${rnd.nextInt(100)}")
    }
    val hourStart = Start.getEpochSecond + (c - 1) * 3600L
    val picked = rnd.shuffle((0 until Meetings).toIndexedSeq).take(nMeetings)
    val ms = picked.map { i =>
      Meeting(muuid(i), 1000000L + i, uid(rnd.nextInt(Users)), s"Topic $i/${c % 7}",
        hourStart + 1 + rnd.nextInt(3500), 10 + rnd.nextInt(80))
    }
    val ps = picked.zip(ms).flatMap { case (i, m) =>
      attendees(i).map(u => Part(m.uuid, u, 1 + rnd.nextInt(m.duration)))
    }
    (us, ms, ps)
  }

  private def runEtl(c: Int, inc: (Seq[User], Seq[Meeting], Seq[Part])): Unit = {
    val (us, ms, ps) = inc
    val p = paths(c)
    val bytes = writeJson(p.usersJson, us.map(userJson)) +
      writeJson(p.meetingsJson, ms.map(meetingJson)) +
      writeJson(p.participantsJson,
        ps.map(x => partJson(x, ms.find(_.uuid == x.meeting).get.startSec)))
    val now = Start.plusSeconds(c * 3600L)
    ctx.write("etl_run") {
      ctx.span("pipeline.etl_run") { BatchEtl.run(spark, p, now) }
    }.foreach { _ =>
      us.foreach(u => users(u.id) = u)
      ms.foreach(m => meetings(m.uuid) = m)
      ps.foreach(x => parts((x.meeting, x.user)) = x)
      ctx.committed(us.size + ms.size + ps.size, bytes)
    }
  }

  /** A meeting's recording files. A completed recording never changes,
    * so every event for a meeting (first delivery or redelivery) carries
    * the same files; only `event_ts` moves. */
  private def filesOf(i: Int): Seq[RecFile] = {
    val r = new scala.util.Random(seed * 31 + i)
    FileKinds.map { case (ft, _) =>
      RecFile(s"${muuid(i)}-$ft", muuid(i), ft, 1000L + r.nextInt(1000000))
    }
  }

  private def recStart(i: Int): Long =
    Start.getEpochSecond - 86400 + new scala.util.Random(seed * 37 + i).nextInt(86400)

  private def webhookBatch(n: Int): Unit = {
    val evs = (1 to EventsPerBatch).map { _ =>
      val i = rnd.nextInt(Meetings)
      eventTs += 1000
      val start = recStart(i)
      val fs = filesOf(i)
      val fj = fs.zip(FileKinds).map { case (f, (_, ext)) =>
        s"""{"id":"${f.id}","meeting_id":"${f.meeting}",""" +
          s""""recording_start":"${iso(start)}","recording_end":"${iso(start + 1800)}",""" +
          s""""recording_type":"${f.fileType}","file_type":"${f.fileType}",""" +
          s""""file_size":${f.size},"file_extension":"$ext","play_url":"https://p/${f.id}",""" +
          s""""download_url":"https://dl/${f.id}","status":"completed"}"""
      }
      val json =
        s"""{"event":"recording.completed","event_ts":$eventTs,"payload":{""" +
          s""""account_id":"acct","object":{"id":${1000000L + i},"uuid":"${muuid(i)}",""" +
          s""""host_id":"${uid(i % Users)}","topic":"Topic $i","type":2,""" +
          s""""start_time":"${iso(start)}","host_email":"${uid(i % Users)}@example.com",""" +
          s""""duration":30,"total_size":${fs.map(_.size).sum},""" +
          s""""recording_count":${fs.size},"recording_files":[${fj.mkString(",")}]}}}"""
      (fs, json)
    }
    // write outside the source dir, then move in whole: the file source
    // must never list a half-written file
    val body = evs.map(_._2).mkString("", "\n", "\n").getBytes(StandardCharsets.UTF_8)
    val name = s"ev-$cycleNo-$n.json"
    Files.createDirectories(Paths.get(spool))
    Files.write(Paths.get(spool, name), body)
    ctx.write("webhook_batch") {
      Files.move(Paths.get(spool, name), Paths.get(inbox, name),
        StandardCopyOption.ATOMIC_MOVE)
      ctx.span("streaming.webhook_batch") { query.processAllAvailable() }
    }.foreach { _ =>
      evs.flatMap(_._1).foreach(f => files(f.id) = f)
      ctx.committed(evs.size * FileKinds.size, body.length.toLong)
    }
  }

  private def dashboards(repeats: Int): Unit =
    (1 to repeats).foreach(_ => Dashboards.foreach { case (name, sql) =>
    ctx.read(name) {
      Seq("usr" -> "user", "meeting" -> "meeting", "participant" -> "participant",
        "rec_main" -> "recording", "rec_staging" -> "recording_staging")
        .foreach { case (view, t) =>
          Upsert.readSnapshot(spark, s"$wh/$t")
            .getOrElse(sys.error(s"no $t snapshot")).createOrReplaceTempView(view)
        }
      spark.sql(sql).collect().toSeq
    }.foreach(rows => lastReads(name) = rows)
  })

  def setup(): Unit = {
    Files.createDirectories(Paths.get(inbox))
    // the first run loads the whole universe, so tables start level
    runEtl(0, (
      (0 until Users).map(i => User(uid(i), s"${uid(i)}@example.com",
        Depts(i % Depts.size), "F")),
      (0 until Meetings).map(i => Meeting(muuid(i), 1000000L + i,
        uid(i % Users), s"Topic $i", Start.getEpochSecond - 3600 + i, 30)),
      (0 until Meetings).flatMap(i => attendees(i).map(Part(muuid(i), _, 20)))))
    query = RecordingStream.start(spark, inbox, s"$wh/recording_staging", ckpt)
  }

  def step(): Unit = cycle(WebhooksPerCycle, DashboardRepeats)

  def warmup(): Unit = cycle(1, 1)

  private def cycle(webhooks: Int, dashboardRepeats: Int): Unit = {
    cycleNo += 1
    (1 to webhooks).foreach(webhookBatch)
    runEtl(cycleNo, increment(cycleNo, UsersPerRun, MeetingsPerRun))
    dashboards(dashboardRepeats)
  }

  private def snapshotFiles(t: String): Seq[java.nio.file.Path] = {
    val p = Paths.get(wh, t)
    if (!Files.isDirectory(p)) Nil
    else {
      val s = Files.list(p)
      try s.toArray.toSeq.map(_.asInstanceOf[java.nio.file.Path])
        .filter(f => f.getFileName.toString.startsWith("part-"))
      finally s.close()
    }
  }

  def liveBytes(): Long =
    Seq("user", "meeting", "participant", "recording", "recording_staging")
      .flatMap(snapshotFiles).map(Files.size).sum

  def close(): Unit = if (query != null) query.stop()

  def check(): (Int, Seq[String]) = {
    val out = mutable.ArrayBuffer.empty[String]
    def read(t: String) = Upsert.readSnapshot(spark, s"$wh/$t")
      .getOrElse(sys.error(s"no $t snapshot"))
    def compare[K, V](what: String, got: Map[K, V], want: Map[K, V]): Unit = {
      val diff = (got.keySet ++ want.keySet).count(k => got.get(k) != want.get(k))
      if (diff > 0) out += s"$what: $diff keys differ (got ${got.size}, want ${want.size})"
    }
    compare("user", read("user").select("id", "email", "dept").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getString(2))).toMap,
      users.values.map(u => u.id -> (u.email, u.dept)).toMap)
    compare("meeting", read("meeting")
      .selectExpr("uuid", "topic", "duration", "unix_timestamp(start_time)").collect()
      .map(r => r.getString(0) -> (r.getString(1), r.getInt(2), r.getLong(3))).toMap,
      meetings.values.map(m => m.uuid -> (m.topic, m.duration, m.startSec)).toMap)
    compare("participant", read("participant")
      .select("meeting_uuid", "user_id", "duration").collect()
      .map(r => (r.getString(0), r.getString(1)) -> r.getInt(2)).toMap,
      parts.values.map(p => (p.meeting, p.user) -> p.duration).toMap)
    // a recording is effective in staging when parked there, else in main
    val staged = read("recording_staging").select("id", "file_size").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    val promoted = read("recording").select("id", "file_size").collect()
      .map(r => r.getString(0) -> r.getLong(1)).toMap
    compare("recording", promoted ++ staged,
      files.values.map(f => f.id -> f.size).toMap)
    // the last dashboard reads against the same model
    val deptOf = users.values.map(u => u.id -> u.dept).toMap
    val want = parts.values.filter(p => meetings.contains(p.meeting))
      .groupBy(p => deptOf(p.user)).toSeq.sortBy(_._1).map { case (d, ps) =>
        (d, ps.map(_.meeting).toSet.size.toLong, ps.map(_.duration.toLong).sum)
      }
    val got = lastReads.getOrElse("dept_activity", Nil)
      .map(r => (r.getString(0), r.getLong(1), r.getLong(2)))
    if (got != want) out += s"dept_activity read differs: got $got want $want"
    (5, out.toSeq)
  }

  def layerExtras(): Map[String, Double] = Map.empty
}
