package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** MERGE/upsert semantics without a lakehouse format.
  *
  * Re-expresses the reference's Postgres `INSERT ... ON CONFLICT (keys) DO
  * UPDATE` batched upserts (ref: src/db/load.py:71-110 users on `id`,
  * :112-151 meetings on `uuid`, :153-191 participants on composite
  * `(user_id, meeting_uuid)`, lambda/zoom_webhook/utils.py:147-167 staging)
  * as a pure-DataFrame operator:
  *
  *   result = dedup(updates) ∪ (target ⟕anti updates-on-keys)
  *
  * Semantics replicated from Postgres:
  *  - last-write-wins among conflicting rows in one batch (Postgres takes
  *    the last conflicting row; the webhook's dict build handler.py:26 is
  *    the same idiom) — made explicit via a row_number window over an
  *    arrival-order column;
  *  - NULLs are distinct in unique constraints (ref K3, SURVEY §2.5): rows
  *    with any NULL key never conflict — they pass through as plain
  *    inserts, and null-keyed target rows are never overwritten.
  *
  * Scale posture: one shuffle. Target and updates are unioned, tagged
  * with their side, and ONE window partitioned by the keys picks each
  * key's rows — each input is scanned once, and no side is collected
  * to the driver or broadcast. Anti-joining the target against a
  * broadcast of the batch winners would scan the updates three times
  * (winners, NULL-keyed inserts, the broadcast build) for a saving
  * that does not exist here: a flat snapshot is rewritten whole, so
  * shuffling the target costs no more than the write that follows
  * it. The partition-scoped commit ([[FactVersioned]]'s
  * `mergeTouched`) rewrites only the touched partitions and keeps its
  * broadcast anti-join.
  */
object Upsert {

  private val OrdCol = "__graft_ord"
  private val SrcCol = "__graft_src"
  private val RowIdCol = "__graft_row"

  /** Upsert `updates` into `target` keyed by `keys`.
    *
    * @param orderBy winner selection among duplicate keys inside
    *   `updates`: a plain column ⇒ LARGEST value wins (newest-wins); an
    *   explicit `.asc`/`.desc` sort order ⇒ first row under that
    *   ordering wins. Defaults to input arrival order via
    *   monotonically_increasing_id (stable for a single narrow batch,
    *   mirroring the reference's "last row in the batch wins").
    * @param dedupNullKeyed NULL-keyed rows normally pass through as plain
    *   inserts every time (Postgres NULL-distinctness — re-running the
    *   same batch appends guests again, in the reference too). When true,
    *   null-keyed updates are deduplicated on ALL columns within the
    *   batch and against the target (null-safe equality), making replay
    *   of the same batch idempotent for guests as well. Caveat: two
    *   genuinely distinct rows identical in every column collapse.
    */
  def upsert(
      target: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      orderBy: Option[Column] = None,
      dedupNullKeyed: Boolean = false): DataFrame = {
    require(keys.nonEmpty, "upsert requires at least one key column")
    val cols = target.columns.toSeq
    val (ordValue, winnerFirst) = winnerOrder(orderBy)
    val both = target
      .select(cols.map(col) :+ lit(null).as(OrdCol) :+ lit(0).as(SrcCol): _*)
      .unionByName(updates
        .select(cols.map(col) :+ ordValue.as(OrdCol) :+ lit(1).as(SrcCol): _*))
    val nullKey = coalesce(keys.map(col(_).isNull).reduce(_ || _), lit(false))
    // a NULL-keyed row conflicts with nothing: it gets a partition of its
    // own, or under dedupNullKeyed one per distinct row. The row id is a
    // column, not a window expression: a nondeterministic partition
    // expression never matches the exchange below it, so each window
    // function would shuffle again.
    val (rows, discriminators) =
      if (dedupNullKeyed) (both, cols.map(c => when(nullKey, col(c))))
      else (both.withColumn(RowIdCol,
        when(nullKey, monotonically_increasing_id())), Seq(col(RowIdCol)))
    // an update sorts first in a keyed partition (it replaces the target
    // rows), a target row first in a NULL-keyed one (it suppresses the
    // update copies of itself)
    val side = when(nullKey, lit(1) - col(SrcCol)).otherwise(col(SrcCol))
    val w = Window.partitionBy(keys.map(col) ++ discriminators: _*)
      .orderBy(side.desc, winnerFirst)
    // keep the first row, plus every target row of a partition that a
    // target row leads: duplicate-key target rows with no update survive
    rows
      .select(cols.map(col) :+ col(SrcCol) :+
        row_number().over(w).as("__graft_rn") :+
        first(col(SrcCol)).over(w).as("__graft_lead"): _*)
      .where(col("__graft_rn") === 1 ||
        (col(SrcCol) === 0 && col("__graft_lead") === 0))
      .select(cols.map(col): _*)
  }

  /** Schema-evolving upsert (the `mergeSchema` MERGE story): columns
    * present only in `updates` are added to the result with NULL for
    * pre-existing rows; columns present only in `target` survive with
    * NULL on the update rows. Evolution is WIDENING-only by design —
    * a shared column whose type differs is a pipeline bug and fails
    * loudly rather than silently casting (the reference's Postgres
    * tables reject type drift the same way; `sql/create_tables.sql`).
    * After alignment the semantics are exactly [[upsert]]'s. */
  def upsertEvolve(
      target: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      orderBy: Option[Column] = None): DataFrame = {
    // column matching must follow the session's resolution rules:
    // under default case-INsensitive analysis, an updates column
    // `Flag` IS target's `flag` — treating it as new would null the
    // target's values via withColumn's case-insensitive replace and
    // dodge the type-drift guard
    val caseSensitive = target.sparkSession.conf
      .get("spark.sql.caseSensitive", "false").toBoolean
    def normName(n: String): String =
      if (caseSensitive) n else n.toLowerCase(java.util.Locale.ROOT)
    val tCols = target.columns.toSeq
    val tByNorm = tCols.map(c => normName(c) -> c).toMap
    require(tByNorm.size == tCols.size,
      "upsertEvolve: target columns collide under the session's " +
        "case-insensitive resolution")
    // canonicalize updates onto the target's spellings for shared cols
    val updatesAligned = updates.columns.foldLeft(updates) { (df, c) =>
      tByNorm.get(normName(c)).filter(_ != c)
        .map(tc => df.withColumnRenamed(c, tc)).getOrElse(df)
    }
    val uCols = updatesAligned.columns.toSeq
    require(uCols.map(normName).distinct.size == uCols.size,
      "upsertEvolve: updates columns collide under the session's " +
        "case-insensitive resolution")
    keys.foreach { k =>
      require(tCols.contains(k) && uCols.contains(k),
        s"upsertEvolve: key column $k must exist on both sides")
    }
    val tTypes = target.schema.map(f => f.name -> f.dataType).toMap
    val uTypes = updatesAligned.schema.map(f => f.name -> f.dataType).toMap
    val shared = tCols.filter(uTypes.contains)
    shared.foreach { c =>
      require(tTypes(c) == uTypes(c),
        s"upsertEvolve: column $c changes type " +
          s"${tTypes(c).catalogString} -> ${uTypes(c).catalogString} — " +
          "widening adds columns, it never rewrites types")
    }
    // evolved column order: target's columns, then new ones in the
    // updates' order — stable and append-only, the layout parquet
    // mergeSchema produces
    val newCols = uCols.filterNot(tTypes.contains)
    val alignedTarget = newCols.foldLeft(target) { (df, c) =>
      df.withColumn(c, lit(null).cast(uTypes(c)))
    }
    val missingInUpdates = tCols.filterNot(uTypes.contains)
    val alignedUpdates0 = missingInUpdates.foldLeft(updatesAligned) {
      (df, c) => df.withColumn(c, lit(null).cast(tTypes(c)))
    }
    val order = tCols ++ newCols
    upsert(alignedTarget.select(order.map(col): _*),
      alignedUpdates0.select(order.map(col): _*), keys, orderBy)
  }

  /** The batch-winner rule shared by [[upsert]] and
    * [[Changelog.changeSet]]: per non-null key, the row that wins under
    * `orderBy` (default: last in batch order — the reference's "last
    * row wins", load.py:77-92); NULL-keyed rows are plain inserts
    * (Postgres NULL-distinctness). Returns (keyedWinners, nullKeyed),
    * both projected to `cols`. */
  private[operators] def batchWinners(
      updates: DataFrame,
      keys: Seq[String],
      orderBy: Option[Column],
      cols: Seq[String]): (DataFrame, DataFrame) = {
    val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
    val (ordValue, winnerFirst) = winnerOrder(orderBy)
    val tagged = updates.withColumn(OrdCol, ordValue)
    val keyed = tagged.where(!coalesce(anyNullKey, lit(false)))
    val nullKeyed = tagged.where(coalesce(anyNullKey, lit(false)))

    val w = Window.partitionBy(keys.map(col): _*).orderBy(winnerFirst)
    val winners = keyed
      .withColumn("__graft_rn", row_number().over(w))
      .where(col("__graft_rn") === 1)
      .select(cols.map(col): _*)
    (winners, nullKeyed.select(cols.map(col): _*))
  }

  /** The winner rule of `orderBy`: the value each update is tagged with
    * (as [[OrdCol]]), and the ordering of that tag under which a key's
    * winner comes first. A plain column ⇒ largest wins; a sort order
    * (`.asc`/`.desc`) ⇒ first under it wins; none ⇒ last in arrival
    * order. A SortOrder cannot be projected as a value, so it is
    * stripped and its direction kept for the ordering. */
  private def winnerOrder(orderBy: Option[Column]): (Column, Column) = {
    import org.apache.spark.sql.GraftColumnBridge
    val (value, firstWinsAsc) = orderBy match {
      case Some(c) => GraftColumnBridge.unwrapSortOrder(c).getOrElse((c, false))
      case None => (monotonically_increasing_id(), false)
    }
    (value, if (firstWinsAsc) col(OrdCol).asc else col(OrdCol).desc)
  }

  /** Atomic snapshot write: write to `<path>__tmp`, then swap directories.
    * Crash-safe replacement for Postgres transactional commit
    * (ref load.py:41-50) given plain parquet storage. */
  def writeSnapshot(df: DataFrame, path: String): Unit =
    writeSnapshots(Seq(df -> path))

  /** Multi-table transactional snapshot write: ALL plans execute into
    * tmp dirs first, THEN all directories swap, in input order. Required
    * when the plans read each other's current snapshots (e.g. the
    * promote pair: the new staging is an anti-join against the new
    * main, whose plan still scans the old main files — swapping early
    * would yank files out from under the second plan). This is the
    * reference's single-transaction pair commit (load.py:230) for
    * plain-parquet storage.
    *
    * The plans stage concurrently, as [[CallSites.overlapped]] jobs
    * (one plan stages on the caller's thread); each plan's jobs carry
    * the caller's call site tagged with its table's dir name. A plan
    * that fails to stage swaps no table: every staging job resolves,
    * the tmp dirs are deleted, and the first failure (by input order)
    * is rethrown. Call it from outside the [[Overlap]] pool: the staging
    * futures queue for pool threads while the caller waits. */
  def writeSnapshots(dfsAndPaths: Seq[(DataFrame, String)]): Unit = {
    def stage(df: DataFrame, path: String): Unit = {
      val table = new org.apache.hadoop.fs.Path(path).getName
      CallSites.tagged(df.sparkSession, table) {
        df.write.mode("overwrite").parquet(path + "__tmp")
      }
    }
    try {
      dfsAndPaths match {
        case Seq((df, path)) => stage(df, path)
        case _ => Overlap.awaitAll(dfsAndPaths.map { case (df, path) =>
          CallSites.overlapped(df.sparkSession)(stage(df, path))
        })
      }
    } catch {
      case e: Throwable =>
        dfsAndPaths.foreach { case (df, path) =>
          val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
          tmp.getFileSystem(df.sparkSession.sparkContext.hadoopConfiguration)
            .delete(tmp, true)
        }
        throw e
    }
    dfsAndPaths.foreach { case (df, path) =>
      val hadoopConf = df.sparkSession.sparkContext.hadoopConfiguration
      val dst = new org.apache.hadoop.fs.Path(path)
      val fs = dst.getFileSystem(hadoopConf)
      val tmp = new org.apache.hadoop.fs.Path(path + "__tmp")
      val bak = new org.apache.hadoop.fs.Path(path + "__prev")
      if (fs.exists(dst)) {
        // normal swap: every crash point leaves a committed generation
        // readable (dst until the mid-swap rename, then __prev)
        if (fs.exists(bak)) fs.delete(bak, true)
        fs.rename(dst, bak)
        fs.rename(tmp, dst)
      } else {
        // recovery write (prior run crashed mid-swap; __prev holds the
        // only committed generation, which this plan was read FROM).
        // Commit the new primary FIRST, clean up after — deleting
        // __prev before tmp→dst lands would leave a crash window with
        // NO generation on disk, i.e. silent total loss.
        fs.rename(tmp, dst)
        if (fs.exists(bak)) fs.delete(bak, true)
      }
    }
  }

  /** Crash-safe snapshot read: the swap in [[writeSnapshots]] has a
    * window between rename(dst, __prev) and rename(__tmp, dst) where no
    * primary directory exists — a reader that treats "missing" as
    * "empty table" there would silently drop the whole snapshot. Fall
    * back to `<path>__prev` when the primary is absent (mirroring
    * Bookmark's `.bak` fallback); return None only when neither
    * generation exists (genuine first run). Read errors on an EXISTING
    * directory (corruption, permissions) propagate — they must fail
    * loudly, not read as empty. Opening a generation costs one listing
    * and one footer read on the driver
    * ([[DriverParquet.inferredSchema]]), not a schema-inference job. */
  def readSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      path: String): Option[DataFrame] = {
    val conf = spark.sparkContext.hadoopConfiguration
    def open(dir: String): Option[DataFrame] = {
      val p = new org.apache.hadoop.fs.Path(dir)
      val listing =
        try p.getFileSystem(conf).listStatus(p).toSeq
        catch { case _: java.io.FileNotFoundException => return None }
      val reader = DriverParquet.inferredSchema(spark, conf, listing)
        .fold(spark.read)(spark.read.schema)
      Some(reader.parquet(dir))
    }
    open(path).orElse(open(path + "__prev"))
  }

  /** True when a readable snapshot generation (primary or `__prev`)
    * exists at `path`. */
  def snapshotExists(
      spark: org.apache.spark.sql.SparkSession, path: String): Boolean = {
    val conf = spark.sparkContext.hadoopConfiguration
    val dst = new org.apache.hadoop.fs.Path(path)
    val fs = dst.getFileSystem(conf)
    fs.exists(dst) || fs.exists(new org.apache.hadoop.fs.Path(path + "__prev"))
  }
}
