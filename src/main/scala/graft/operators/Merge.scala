package graft.operators

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Staging→main promote: the reference's only multi-statement relational
  * transaction (ref: src/db/load.py:193-235).
  *
  * The reference's merge is:
  *   1. J1 inner join: `recording_staging s JOIN meeting m ON
  *      s.meeting_uuid = m.uuid` — gate: promote only rows whose parent
  *      has arrived (load.py:203-208);
  *   2. K5 upsert of the joined rows into `recording` on `id`;
  *   3. J2 semi-join delete: remove from staging the rows now present in
  *      `recording` keyed `(id, meeting_uuid)` (load.py:222-228) —
  *      delete-via-EXISTS ≡ keep-via-left-anti.
  *
  * Rows whose parent hasn't arrived stay parked in staging and are retried
  * on the next cycle — the reference's late-data design (SURVEY §2.7).
  *
  * Scale posture: the gate is a left-semi join (Catalyst broadcasts the
  * projected parent-key side when small); no row of staging is ever
  * collected to the driver.
  */
object Merge {

  final case class PromoteResult(main: DataFrame, staging: DataFrame)

  /** @param staging  parked child rows (no FK enforced — ref
    *                 create_tables.sql:63-75)
    * @param parent   the gating parent table
    * @param fk       column in `staging` referencing `parentKey`
    * @param mainKeys upsert conflict keys in `main` (ref uses `id`; the
    *                 delete uses `(id, meeting_uuid)` — pass both to match)
    */
  def promote(
      staging: DataFrame,
      parent: DataFrame,
      fk: String,
      parentKey: String,
      main: DataFrame,
      mainKeys: Seq[String]): PromoteResult = {
    val parentKeys = parent.select(col(parentKey).as(fk))
    val promoted = staging.join(parentKeys, Seq(fk), "left_semi")
    val newMain = Upsert.upsert(main, promoted, mainKeys)
    // J2: staging rows that made it into main are dropped; unmatched rows
    // remain parked for the next cycle.
    val remaining = staging.join(
      newMain.select(mainKeys.map(col): _*), mainKeys, "left_anti")
    PromoteResult(newMain, remaining)
  }

  /** What a partition-scoped promote committed: the main upsert, then
    * the staging commit that dropped the promoted keys. */
  final case class PromotePartitionedResult(
      main: FactVersioned.Commit, staging: FactVersioned.Commit)

  /** [[promote]] over two [[FactVersioned]] tables partitioned by
    * `partitionCol`: both commits touch ONLY the partitions holding
    * promoted rows, so the cost per cycle is ∝ the promoted batch, not
    * the accumulated main table. Returns None when no staged row's
    * parent has arrived (nothing is written).
    *
    * Two commits, main first: an upsert of the promoted rows into main
    * ([[FactVersioned.upsertBatchBy]] — the winner rule of [[promote]]'s
    * [[Upsert.upsert]], NULL-keyed rows inserted), then a staging
    * commit pinned to the staging generation the promote read, whose
    * touched partitions keep only the rows whose key was not
    * promoted. A staging commit that lands on a touched partition in
    * between makes the second commit conflict
    * (ConcurrentModificationException); the promote then re-derives
    * both commits from the new staging head, at most `commitRetries`
    * times. A crash between the two commits leaves the promoted rows
    * in both tables; the next promote re-promotes them, idempotently
    * for keyed rows.
    *
    * Semantics note vs [[promote]]: the staging side drops THIS
    * CYCLE'S PROMOTED keys (not every key of the new main), so a
    * parked row whose key already sits in main but whose parent has
    * since vanished stays parked, and re-promotes when its parent
    * reappears. NULL-keyed rows never match a key: as in [[promote]],
    * they stay parked and are inserted into main again on every
    * promote. Keys must not move between partitions (see
    * [[FactVersioned.upsert]]).
    *
    * @param preCommit runs inside each of the two commits, after its
    *   claim is linearized, with that commit's table path (see
    *   [[FactVersioned.replacePartitions]]); a throw aborts that
    *   commit. */
  def promotePartitioned(
      spark: SparkSession,
      stagingPath: String,
      parent: DataFrame,
      fk: String,
      parentKey: String,
      mainPath: String,
      mainKeys: Seq[String],
      partitionCol: String,
      commitRetries: Int = 3,
      preCommit: String => Unit = _ => ())
      : Option[PromotePartitionedResult] = {
    val pcols = Seq(partitionCol)
    var attempt = 0
    while (true) {
      attempt += 1
      val basis = FactVersioned.generations(spark, stagingPath).lastOption
        .getOrElse(sys.error(
          s"promotePartitioned: no staging table at $stagingPath"))
      val staging = FactVersioned.read(spark, stagingPath, Some(basis))
      // the USING join leads with `fk`; main keeps staging's column order
      val promoted = staging
        .join(parent.select(col(parentKey).as(fk)), Seq(fk), "left_semi")
        .select(staging.columns.toIndexedSeq.map(col): _*)
      val touched = FactVersioned.touchedTuples(promoted, pcols, 10000,
        "promotePartitioned")
      if (touched.isEmpty) return None // nothing gated in this cycle
      try {
        val mainCommit = FactVersioned.upsertBatchBy(spark, mainPath,
          promoted, mainKeys, pcols, preCommit = () => preCommit(mainPath),
          touched = Some(touched))
        val physCols =
          FactVersioned.physicalPartitionColumns(spark, stagingPath, pcols)
        val remaining = FactVersioned.readDirs(spark, stagingPath,
          Some(basis), touched.map(FactVersioned.partitionDirPath(physCols, _)))
          .join(promoted.select(mainKeys.map(col): _*), mainKeys, "left_anti")
        val stagingCommit = FactVersioned.replacePartitionsBy(spark,
          stagingPath, remaining, pcols, touched, basisGen = Some(basis),
          preCommit = () => preCommit(stagingPath))
        return Some(PromotePartitionedResult(mainCommit, stagingCommit))
      } catch {
        case _: java.util.ConcurrentModificationException
            if attempt <= commitRetries => // re-derive from the new head
      }
    }
    sys.error("unreachable")
  }
}
