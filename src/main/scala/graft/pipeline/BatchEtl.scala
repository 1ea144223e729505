package graft.pipeline

import java.time.Instant

import scala.concurrent.Await

import org.apache.spark.sql.{DataFrame, Observation, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{CallSites, Constraints, Overlap, Upsert}
import graft.sources.{Bookmark, Fixtures}
import graft.streaming.RecordingStream

/** The reference's batch DAG (SURVEY §3.1, airflow/dags/etl_process.py:
  * 35-238) collapsed into one Spark driver program.
  *
  * The Airflow machinery dissolves by design: dynamic task mapping
  * (.expand over 1000-user/200-meeting chunks) IS Spark partition
  * parallelism; the XCom List[Dict] hops ARE DataFrames; the flatten
  * barrier IS a shuffle; Celery workers ARE executors. What remains is
  * the semantic ordering the reference enforces on its COMMITS
  * (etl_process.py:233-236):
  *
  *   users → meetings → participants → recording merge → bookmark commit
  *
  * (participants AFTER meetings because of the FK; the watermark commits
  * LAST so failures reprocess. Like the reference's fan-out, the work
  * behind the commits runs at once: the three table loads stage
  * concurrently, then swap in that order in one
  * [[graft.operators.Upsert.writeSnapshots]] call, so a failure while
  * staging leaves every table and the bookmark on the old generation.
  * Keyed rows are safe under replay — the upserts are idempotent on
  * their keys. NULL-keyed guest participants
  * would bypass the keyed upsert (Postgres NULL-distinctness, same as
  * the reference), so the participant load enables dedupNullKeyed:
  * replaying a batch after a mid-run failure does not re-append guests).
  */
object BatchEtl {

  final case class Paths(
      usersJson: String,
      meetingsJson: String,
      participantsJson: String,
      warehouse: String) {
    def users: String = s"$warehouse/user"
    def meetings: String = s"$warehouse/meeting"
    def participants: String = s"$warehouse/participant"
    def recordings: String = s"$warehouse/recording"
    def recordingStaging: String = s"$warehouse/recording_staging"
    def bookmark: String = s"$warehouse/_bookmark"
  }

  final case class LoadReport(
      users: Long, meetings: Long, participants: Long,
      uniqueViolations: Long, fkViolations: Long, watermark: Instant)

  /** One full incremental run. `since` filters source docs against the
    * bookmark (the reference pushes from/to into the API request; here
    * the predicate lands on the scan and is partition-prunable). */
  def run(spark: SparkSession, paths: Paths,
      now: Instant = Instant.now()): LoadReport =
    // one call site for every job of the run, AQE stage jobs included
    CallSites.withCallSite(spark, CallSites.callerSite())(load(spark, paths, now))

  private def load(spark: SparkSession, paths: Paths, now: Instant): LoadReport = {
    val bookmark = new Bookmark(spark, paths.bookmark)
    val since = bookmark.read(default = Instant.EPOCH)

    // ---- extract + normalize (S2-S7 offline analogs) ----
    val users = Fixtures.readUsers(spark, paths.usersJson)
    val meetings = Fixtures.readMeetings(spark, paths.meetingsJson)
      .where(col("start_time").isNull ||
        col("start_time") >= lit(java.sql.Timestamp.from(since)))
    val participants = Fixtures.readParticipants(spark, paths.participantsJson)

    // ---- constraint surface Postgres enforced declaratively, counted
    // beside the staging wave ----
    val userDupes = CallSites.overlapped(spark)(
      Constraints.uniqueViolations(users, Seq("id")).count())

    // ---- loads (K1-K3) as one transaction: the three upserts stage at
    // once against the current generations, then swap in FK order ----
    val loads = Seq(
      observedUpsert(spark, paths.users, users, Seq("id")),
      observedUpsert(spark, paths.meetings, meetings, Seq("uuid")),
      observedUpsert(spark, paths.participants, participants,
        Seq("meeting_uuid", "user_id"), dedupNullKeyed = true))
    try Upsert.writeSnapshots(loads.map { case (df, path, _) => df -> path })
    finally Await.ready(userDupes, Overlap.AwaitTimeout)
    val Seq(newUsers, newMeetings, newParts) =
      loads.map { case (_, _, rows) => rows.get(RowsMetric).asInstanceOf[Long] }

    // FK check runs against the MERGED meeting snapshot — checking the
    // since-filtered increment would flag every participant of a
    // previously-loaded meeting as an orphan on incremental runs. It is
    // counted beside the promote, which reads the same snapshot.
    val meetingsNow = snapshot(spark, paths.meetings)
    val orphanParts = CallSites.overlapped(spark)(
      Constraints.referentialViolations(
        participants, "meeting_uuid", meetingsNow, "uuid").count())

    // ---- staging→main recording merge (J1+K5+J2), after meetings ----
    try {
      if (Upsert.snapshotExists(spark, paths.recordingStaging))
        RecordingStream.promote(spark, paths.recordingStaging, meetingsNow,
          paths.recordings)
    } finally Await.ready(orphanParts, Overlap.AwaitTimeout)

    // ---- watermark commit LAST (S8 ordering) ----
    val dupes = Await.result(userDupes, Overlap.AwaitTimeout)
    val orphans = Await.result(orphanParts, Overlap.AwaitTimeout)
    bookmark.commit(now)
    LoadReport(newUsers, newMeetings, newParts, dupes, orphans, now)
  }

  private val RowsMetric = "rows"

  /** The upsert of `updates` into the snapshot at `path`, with the
    * observation that counts the rows its write commits (read it only
    * after the write has returned). */
  private def observedUpsert(spark: SparkSession, path: String,
      updates: DataFrame, keys: Seq[String],
      dedupNullKeyed: Boolean = false): (DataFrame, String, Observation) = {
    val target = Upsert.readSnapshot(spark, path).getOrElse(updates.limit(0))
    val rows = Observation()
    val merged = Upsert.upsert(target, updates, keys,
      dedupNullKeyed = dedupNullKeyed)
      .observe(rows, count(lit(1)).as(RowsMetric))
    (merged, path, rows)
  }

  /** The snapshot just committed at `path`, opened crash-safely. */
  private def snapshot(spark: SparkSession, path: String): DataFrame =
    Upsert.readSnapshot(spark, path)
      .getOrElse(sys.error(s"no snapshot at $path"))
}
