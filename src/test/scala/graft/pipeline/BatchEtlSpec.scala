package graft.pipeline

import java.nio.file.{Files, Paths => JPaths}
import java.time.Instant

import org.apache.spark.sql.functions.col

import graft.SparkSpec
import graft.sources.{Bookmark, Fixtures}

/** Full batch DAG equivalent (SURVEY §3.1) over Zoom-shaped fixtures:
  * ordered loads, constraint reporting, watermark-after-success, and
  * at-least-once idempotence on overlapping reruns. */
class BatchEtlSpec extends SparkSpec {

  private def write(dir: String, name: String, lines: Seq[String]): String = {
    Files.createDirectories(JPaths.get(dir))
    val p = JPaths.get(dir, name)
    Files.write(p, lines.mkString("\n").getBytes("UTF-8"))
    dir
  }

  test("ordered load + rerun idempotence + watermark commit") {
    val root = Files.createTempDirectory("graft_etl").toString
    val paths = BatchEtl.Paths(
      usersJson = write(s"$root/users", "u.json", Seq(
        """{"id":"u1","email":"a@x.com","dept":"eng","created_at":"2025-01-01T01:20:50Z"}""",
        """{"id":"u2","email":"b@x.com","last_login_time":"bogus"}""")),
      meetingsJson = write(s"$root/meetings", "m.json", Seq(
        """{"id":11,"uuid":"m1","host_id":"u1","topic":"t1","start_time":"2025-02-01T10:00:00Z","duration":60,"type":2}""",
        """{"id":12,"host_id":"u2","topic":"webinar-no-uuid","start_time":"2025-02-02T10:00:00Z"}""")),
      participantsJson = write(s"$root/parts", "p.json", Seq(
        """{"meeting_uuid":"m1","user_id":"u1","name":"A","join_time":"2025-02-01T10:01:00Z","internal_user":true}""",
        """{"meeting_uuid":"m1","name":"Guest One"}""",
        """{"meeting_uuid":"m1","name":"Guest Two"}""",
        """{"meeting_uuid":"mX","user_id":"u2","name":"Orphan"}""")),
      warehouse = s"$root/wh")

    val t1 = Instant.parse("2025-03-01T00:00:00Z")
    val r1 = BatchEtl.run(spark, paths, now = t1)
    assert(r1.users === 2)
    assert(r1.meetings === 2)
    // webinar fallback: uuid injected from id (S6, extract.py:164-166)
    val m = spark.read.parquet(paths.meetings)
    assert(m.where(m("uuid") === "12").count() === 1)
    // invalid timestamp → null, not failure (T1)
    val u = spark.read.parquet(paths.users)
    assert(u.where(u("id") === "u2" && u("last_login_time").isNull).count() === 1)
    // group_names defaulted to [] (T3)
    assert(u.where(u("group_names").isNull).count() === 0)
    // both NULL-user_id guests kept (K3 NULL distinctness)
    val p = spark.read.parquet(paths.participants)
    assert(p.count() === 4)
    assert(p.where(p("user_id").isNull).count() === 2)
    // constraint report caught the orphan participant
    assert(r1.fkViolations === 1)
    // watermark committed
    assert(new Bookmark(spark, paths.bookmark).read() === t1)

    // rerun with same inputs (at-least-once replay): no duplicates.
    // NULL-keyed guests bypass the keyed upsert (Postgres would re-insert
    // them), so the participant load runs dedupNullKeyed — replay must
    // keep the two distinct guests without appending copies.
    val t2 = Instant.parse("2025-03-02T00:00:00Z")
    val r2 = BatchEtl.run(spark, paths, now = t2)
    assert(r2.users === 2)
    assert(r2.meetings === 2)
    assert(r2.participants === 4) // guests NOT re-appended
    val p2 = spark.read.parquet(paths.participants)
    assert(p2.where(p2("user_id").isNull).count() === 2)
    assert(new Bookmark(spark, paths.bookmark).read() === t2)
  }

  test("every LoadReport count equals a re-read count of its snapshot, " +
      "also when the meeting increment is empty after the bookmark filter") {
    val root = Files.createTempDirectory("graft_etl_counts").toString
    val paths = BatchEtl.Paths(
      usersJson = write(s"$root/users", "u.json", Seq(
        """{"id":"u1","email":"a@x.com"}""",
        """{"id":"u1","email":"a2@x.com"}""",
        """{"id":"u3","email":"c@x.com"}""")),
      meetingsJson = write(s"$root/meetings", "m.json", Seq(
        """{"id":21,"uuid":"m1","host_id":"u1","start_time":"2025-02-01T10:00:00Z"}""",
        """{"id":22,"uuid":"m2","host_id":"u3","start_time":"2025-02-03T10:00:00Z"}""")),
      participantsJson = write(s"$root/parts", "p.json", Seq(
        """{"meeting_uuid":"m1","user_id":"u1","name":"A"}""",
        """{"meeting_uuid":"m2","user_id":"u3","name":"C"}""",
        """{"meeting_uuid":"m2","name":"Guest"}""")),
      warehouse = s"$root/wh")
    def countsMatch(r: BatchEtl.LoadReport): Unit = {
      def reRead(path: String) = spark.read.parquet(path).count()
      assert(r.users === reRead(paths.users))
      assert(r.meetings === reRead(paths.meetings))
      assert(r.participants === reRead(paths.participants))
    }
    val t1 = Instant.parse("2025-03-01T00:00:00Z")
    val r1 = BatchEtl.run(spark, paths, now = t1)
    countsMatch(r1)
    assert((r1.users, r1.meetings, r1.participants) === ((2L, 2L, 3L)))
    assert(r1.uniqueViolations === 1) // u1 twice in the input
    // both meetings start before t1: the second run's meeting increment
    // is empty after the bookmark filter, so its meeting plan writes the
    // carried snapshot alone
    assert(Fixtures.readMeetings(spark, paths.meetingsJson)
      .where(col("start_time") >= java.sql.Timestamp.from(t1)).isEmpty)
    val r2 = BatchEtl.run(spark, paths,
      now = Instant.parse("2025-03-02T00:00:00Z"))
    countsMatch(r2)
    assert((r2.users, r2.meetings, r2.participants) === ((2L, 2L, 3L)))
    // a first run with no meeting input writes an empty meeting table
    val empty = paths.copy(
      meetingsJson = write(s"$root/no_meetings", "m.json", Nil),
      warehouse = s"$root/wh_empty")
    val r3 = BatchEtl.run(spark, empty, now = t1)
    assert(r3.meetings === 0)
    assert(r3.meetings === spark.read.parquet(empty.meetings).count())
    assert(r3.fkViolations === 3) // every keyed participant is an orphan
  }
}
