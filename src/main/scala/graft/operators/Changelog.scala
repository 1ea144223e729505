package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

/** Change-data-capture for the snapshot upsert model: the row-level
  * delta an upsert batch produces, as `insert` / `update_pre` /
  * `update_post` rows (the Delta-CDF shape). Downstream consumers at
  * 100 TB want the DELTA of each commit, not a re-read of the
  * snapshot — incremental aggregate maintenance
  * ([[IncrementalAgg]]), replication, and audit all consume this.
  *
  * Semantics vs [[Upsert.upsert]]: the SAME batch-winner rule
  * (last-row-wins per key under `orderBy`, NULL-keyed rows are plain
  * inserts — [[Upsert.batchWinners]] is shared code), but an update is
  * reported ONLY when a non-key column actually differs (null-safe
  * comparison). The upsert itself rewrites a matched row regardless;
  * a redelivered KEYED batch therefore produces an empty changelog —
  * the property that makes at-least-once delivery cheap for
  * downstream consumers (replayed batches produce no change volume).
  * NULL-keyed rows mirror Upsert's Postgres NULL-distinctness: they
  * re-emit as inserts on every delivery by default; pass
  * `dedupNullKeyed = true` (the changelog twin of the upsert flag) to
  * suppress null-keyed rows already present in `current` — then full
  * redeliveries are change-free for guests too, with the same caveat
  * that genuinely distinct all-column-identical rows collapse.
  *
  * Scale: one shuffle join of the (batch-sized) winners against
  * `current` on the keys. For partition-scoped tables, pass the
  * partition-pruned view of the target (the same pruned read the
  * commit itself uses) so the join touches only the batch's
  * partitions.
  */
object Changelog {

  val OpCol = "op"
  val OpInsert = "insert"
  val OpUpdatePre = "update_pre"
  val OpUpdatePost = "update_post"
  val OpDelete = "delete"

  /** The change rows that upserting `updates` into `current` (keyed by
    * `keys`, batch winner chosen by `orderBy`) produces. Output columns:
    * `op` plus `current`'s columns; `update_pre` carries the OLD image,
    * `update_post`/`insert` the new.
    *
    * @param emitDeletes false (default) for UPSERT deltas — an upsert
    *   never deletes, and a batch is a partial view of the table, so
    *   "key absent from the batch" means nothing. true when `updates`
    *   is a COMPLETE after-image ([[FactChangeFeed.window]]): keyed rows of
    *   `current` absent from it are emitted as `delete` rows carrying
    *   the old image, and NULL-keyed rows of `current` with no
    *   all-column match in the after-image delete likewise (pair with
    *   `dedupNullKeyed = true` so unchanged null-keyed rows emit
    *   nothing — identical after-images then diff to empty; identical
    *   all-column duplicates collapse, the usual null-key caveat). */
  def changeSet(
      current: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      orderBy: Option[Column] = None,
      dedupNullKeyed: Boolean = false,
      emitDeletes: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "changeSet requires at least one key column")
    val cols = current.columns.toSeq
    val nonKeys = cols.filterNot(keys.contains)
    val (winners, nullInserts0) =
      Upsert.batchWinners(updates, keys, orderBy, cols)
    val nullInserts =
      if (!dedupNullKeyed) nullInserts0
      else {
        // Upsert.upsert(dedupNullKeyed = true)'s rule: all-column
        // dedup within the batch, then null-safe anti-join against
        // current's null-keyed rows
        val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
        val nullCurrent = current.where(coalesce(anyNullKey, lit(false)))
        val dd = nullInserts0.dropDuplicates(cols)
        val cond = cols.map(c => dd(c) <=> nullCurrent(c)).reduce(_ && _)
        dd.join(nullCurrent, cond, "left_anti")
      }

    val curPrefixed = current.select(
      keys.map(col) ++ nonKeys.map(c => col(c).as(s"__cur_$c")): _*)

    val inserts = winners
      .join(curPrefixed.select(keys.map(col): _*), keys, "left_anti")
      .withColumn(OpCol, lit(OpInsert))

    val matched = winners.join(curPrefixed, keys)
    val differs = nonKeys
      .map(c => !(col(c) <=> col(s"__cur_$c")))
      .reduceOption(_ || _).getOrElse(lit(false))
    val changed = matched.where(differs)
    val pre = changed.select(
      keys.map(col) ++ nonKeys.map(c => col(s"__cur_$c").as(c)): _*)
      .withColumn(OpCol, lit(OpUpdatePre))
    val post = changed.select(cols.map(col): _*)
      .withColumn(OpCol, lit(OpUpdatePost))

    val base = inserts
      .unionByName(nullInserts.withColumn(OpCol, lit(OpInsert)))
      .unionByName(pre)
      .unionByName(post)
    val withDeletes =
      if (!emitDeletes) base
      else {
        val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
        val keyedDeletes = current
          .where(!coalesce(anyNullKey, lit(false)))
          .join(winners.select(keys.map(col): _*), keys, "left_anti")
          .withColumn(OpCol, lit(OpDelete))
        // null-keyed rows have no key identity — a row "survives" only
        // if the after-image holds an all-column match (null-safe)
        val nullCurrent = current.where(coalesce(anyNullKey, lit(false)))
        val nullAfter = updates
          .where(coalesce(keys.map(updates(_).isNull).reduce(_ || _),
            lit(false)))
        val nullCond = cols
          .map(c => nullCurrent(c) <=> nullAfter(c)).reduce(_ && _)
        val nullDeletes = nullCurrent
          .join(nullAfter, nullCond, "left_anti")
          .withColumn(OpCol, lit(OpDelete))
        base.unionByName(keyedDeletes).unionByName(nullDeletes)
      }
    withDeletes.select((OpCol +: cols).map(col): _*)
  }
}
