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
  *    inserts, and null-keyed target rows are never overwritten (the
  *    left-anti join naturally keeps them since NULL never equals).
  *
  * Scale posture: the anti-join shuffles on the upsert keys only; with the
  * target bucketed/partitioned by key, Catalyst prunes and AQE handles
  * skew. No driver-side collection anywhere.
  */
object Upsert {

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
    val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
    val (winners, nullInserts0) = batchWinners(updates, keys, orderBy, cols)
    val nullInserts =
      if (!dedupNullKeyed) nullInserts0
      else {
        // replay-idempotent guests: all-column dedup within the batch,
        // then null-safe anti-join against rows already in the target
        val nullTarget = target.where(coalesce(anyNullKey, lit(false)))
        val dd = nullInserts0.dropDuplicates(cols)
        val cond = cols.map(c => dd(c) <=> nullTarget(c)).reduce(_ && _)
        dd.join(nullTarget, cond, "left_anti")
      }
    val untouched = target.join(winners, keys, "left_anti")
    winners
      .unionByName(nullInserts)
      .unionByName(untouched)
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
    // a SortOrder can't be projected as a value — strip it and keep its
    // direction for the window ordering instead
    import org.apache.spark.sql.GraftColumnBridge
    val (ordValue, firstWinsAsc) = orderBy match {
      case Some(c) => GraftColumnBridge.unwrapSortOrder(c) match {
        case Some((child, asc)) => (child, asc)
        case None => (c, false)
      }
      case None => (monotonically_increasing_id(), false)
    }
    val tagged = updates.withColumn("__graft_ord", ordValue)
    val keyed = tagged.where(!coalesce(anyNullKey, lit(false)))
    val nullKeyed = tagged.where(coalesce(anyNullKey, lit(false)))

    val winnerOrd =
      if (firstWinsAsc) col("__graft_ord").asc else col("__graft_ord").desc
    val w = Window.partitionBy(keys.map(col): _*).orderBy(winnerOrd)
    val winners = keyed
      .withColumn("__graft_rn", row_number().over(w))
      .where(col("__graft_rn") === 1)
      .select(cols.map(col): _*)
    (winners, nullKeyed.select(cols.map(col): _*))
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

  // ------------------------------------------------------------------
  // Partition-scoped snapshots
  //
  // The flat snapshot above rewrites the WHOLE table per commit — at
  // 100 TB with micro-batch cadence that is per-batch write
  // amplification proportional to table size, not batch size. The
  // partitioned layout below makes the swap unit a Hive-style
  // partition DIRECTORY (`<col>=<value>/`): an upsert derives the
  // partitions its updates touch, anti-joins only against those
  // partitions' data (partition-pruned scan), rewrites only those
  // directories, and atomically swaps each one. Untouched partitions
  // are never read, never rewritten — their files stay byte-identical.
  // This is the plain-parquet analog of the reference's row-scoped
  // Postgres `ON CONFLICT` upsert (src/db/load.py:77-92): Postgres
  // touches only conflicting rows; we touch only conflicting
  // partitions.
  //
  // CONTRACT — key-to-partition stability: a given key's partition
  // value must never change across updates. A key that "migrates"
  // partitions would leave its old row alive in the untouched old
  // partition (the scoped anti-join never sees it) → duplicate key.
  // This holds for the reference pipeline (a recording's start date
  // never changes) and is the standard contract of partition-scoped
  // merges (Hive dynamic-partition overwrite, Delta replaceWhere).
  //
  // Crash model (single writer, readers between commits): each
  // partition swap is rename(dst→"_prev.d"), rename(tmp→dst),
  // delete(_prev.d); an emptied partition is rename(dst→"_del.d"),
  // delete(_del.d). The "_"-prefixed names are invisible to Spark's
  // file listing (hidden-path filter), so a half-finished swap never
  // double-reads. [[repairPartitionedSnapshot]] (run before every
  // read and commit) restores a "_prev.d" whose primary is missing
  // (mid-swap crash) and clears completed-swap leftovers; the
  // interrupted batch then simply re-runs — the upsert is idempotent.
  // A crash mid-commit can leave SOME partitions on the new
  // generation and others on the old (same window the multi-table
  // flat swap has between tables); at-least-once redelivery + key
  // idempotence is the recovery contract, exactly as in the
  // reference's staging loop.
  // ------------------------------------------------------------------

  /** One table's worth of a partition-scoped commit.
    *
    * @param df      replacement rows for the touched partitions ONLY
    *                (never full-table)
    * @param path    table root (Hive-style `<partitionCol>=<value>/`
    *                subdirectories)
    * @param partitionCol partition column — must be string, integral,
    *                boolean, date or timestamp typed (directory-name
    *                derivation is pinned to Spark's own layout for
    *                those types)
    * @param touched every partition value the commit touches — values
    *                present in `df` plus values whose partitions the
    *                commit EMPTIES (their dirs are deleted) */
  final case class PartitionedWrite(
      df: DataFrame,
      path: String,
      partitionCol: String,
      touched: Seq[Any])

  /** What a partition-scoped commit did to one table. */
  final case class PartitionedCommit(
      path: String, rewritten: Seq[String], deleted: Seq[String])

  private[operators] val HiddenPrev = "_prev."
  private[operators] val HiddenDel = "_del."

  import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils

  /** Directory name for one partition value, matching Spark's own
    * partitioned-write layout (escaping included; null →
    * `__HIVE_DEFAULT_PARTITION__`). Restricted to the types whose
    * string form provably matches Spark's `Cast(v AS STRING)` path
    * layout — string, integral, boolean, java.sql.Date/LocalDate, and
    * (since r14) timestamps: TIMESTAMP renders through Spark's own
    * fraction formatter in the SESSION time zone (exactly the write
    * path's `Cast(ts AS STRING)`), TIMESTAMP_NTZ through the same
    * formatter at UTC (wall-clock micros, zone-free by definition).
    * Any mismatch with the staged layout is self-checking: the
    * committer's undeclared-partitions require compares these names
    * against the dirs Spark actually wrote. */
  private[graft] def partitionDirName(col: String, v: Any): String = {
    def tsFmt(zone: java.time.ZoneId) =
      org.apache.spark.sql.catalyst.util.TimestampFormatter
        .getFractionFormatter(zone)
    def sessionZone = org.apache.spark.sql.catalyst.util.DateTimeUtils
      .getZoneId(org.apache.spark.sql.internal.SQLConf.get
        .sessionLocalTimeZone)
    val s = v match {
      case null => null
      case d: java.sql.Date => d.toString
      case d: java.time.LocalDate => d.toString
      case s: String => s
      case i: java.lang.Integer => i.toString
      case l: java.lang.Long => l.toString
      case sh: java.lang.Short => sh.toString
      case b: java.lang.Byte => b.toString
      case b: java.lang.Boolean => b.toString
      case t: java.sql.Timestamp => tsFmt(sessionZone).format(
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .fromJavaTimestamp(t))
      case i: java.time.Instant => tsFmt(sessionZone).format(
        org.apache.spark.sql.catalyst.util.DateTimeUtils
          .instantToMicros(i))
      case ldt: java.time.LocalDateTime => // TIMESTAMP_NTZ
        tsFmt(java.time.ZoneOffset.UTC).format(
          org.apache.spark.sql.catalyst.util.DateTimeUtils
            .localDateTimeToMicros(ldt))
      case other => throw new IllegalArgumentException(
        s"unsupported partition value type for partition-scoped " +
          s"snapshots: ${other.getClass.getName} (use string/int/long/" +
          "boolean/date/timestamp partition columns)")
    }
    if (s == null)
      ExternalCatalogUtils.escapePathName(col) + "=" +
        ExternalCatalogUtils.DEFAULT_PARTITION_NAME
    else ExternalCatalogUtils.getPartitionPathString(col, s)
  }

  /** Restore invariants after a possible crash: a `_prev.<dir>` whose
    * primary is missing is a mid-swap casualty — restore it; one whose
    * primary exists is a completed swap's pending cleanup — delete it.
    * `_del.<dir>` residue is always deletable (post-commit cleanup).
    * Sibling `__ptmp_*` staging is deleted only once STALE (older than
    * [[CommitLock.StaleLockMs]]) — a fresh one may belong to a LIVE
    * concurrent committer still in its staging phase. Cheap (one
    * listing) and idempotent; run before every read and commit.
    *
    * `_prev.`/`_del.` repair runs under the table's [[CommitLock]]: the
    * `_prev.` window also exists transiently DURING a live writer's
    * swap, and an unlocked repair racing it could "restore" the old dir
    * over the new one — under the lock, a live swap finishes first and
    * the re-listing finds nothing to repair. */
  def repairPartitionedSnapshot(
      spark: org.apache.spark.sql.SparkSession, path: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // staging residue: legacy exact name always; unique-suffix staging
    // by TTL (live committers' staging is fresh)
    val parent = root.getParent
    if (parent != null && fs.exists(parent)) {
      val prefix = root.getName + "__ptmp"
      fs.listStatus(parent).filter(_.isDirectory)
        .filter(_.getPath.getName.startsWith(prefix))
        .foreach { st =>
          val stale = st.getPath.getName == prefix ||
            System.currentTimeMillis() -
              st.getModificationTime > CommitLock.StaleLockMs
          if (stale) fs.delete(st.getPath, true)
        }
    }
    if (!fs.exists(root)) return
    def needsRepair(): Boolean = fs.listStatus(root).exists(st =>
      st.isDirectory && (st.getPath.getName.startsWith(HiddenPrev) ||
        st.getPath.getName.startsWith(HiddenDel)))
    if (!needsRepair()) return
    CommitLock.withLocks(spark, Seq(path)) {
      // re-list under the lock: a live swap we raced has now finished
      fs.listStatus(root).foreach { st =>
        val name = st.getPath.getName
        if (st.isDirectory && name.startsWith(HiddenPrev)) {
          val primary = new org.apache.hadoop.fs.Path(
            root, name.substring(HiddenPrev.length))
          if (fs.exists(primary)) fs.delete(st.getPath, true)
          else fs.rename(st.getPath, primary)
        } else if (st.isDirectory && name.startsWith(HiddenDel)) {
          fs.delete(st.getPath, true)
        }
      }
    }
  }

  /** Crash-safe read of a partitioned snapshot table. Runs
    * [[repairPartitionedSnapshot]] first, then a partition-discovering
    * parquet read with the caller's schema pinned (partition-column
    * type inference off the directory names is NOT trusted — a string
    * partition value that happens to look numeric must stay a string).
    * Returns None only when the table has never been written. */
  def readPartitionedSnapshot(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      schema: org.apache.spark.sql.types.StructType): Option[DataFrame] = {
    repairPartitionedSnapshot(spark, path)
    val root = new org.apache.hadoop.fs.Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) None
    else {
      // partition discovery appends partition columns at the END of the
      // relation regardless of the provided schema's order — restore
      // the caller's order so downstream unions/compares line up
      import org.apache.spark.sql.functions.col
      Some(spark.read.schema(schema).parquet(path)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*))
    }
  }

  /** Multi-table partition-scoped commit with the same two-phase
    * ordering as [[writeSnapshots]]: ALL tables' plans execute into
    * sibling `__ptmp` staging first (the promote pair's second plan
    * scans the first table's CURRENT files), THEN all partition dirs
    * swap. Only `touched` partitions are rewritten or deleted; every
    * other partition directory is untouched on disk. */
  /** @param preSwapCheck runs AFTER the commit locks are held and
    *   before any directory swap — the optimistic-concurrency
    *   validation point. Throwing aborts the commit (staging is
    *   cleaned, no partition dir was touched); [[upsertPartitioned]]
    *   passes a fingerprint check here and retries on conflict. */
  def writeSnapshotsPartitioned(
      writes: Seq[PartitionedWrite],
      skipRepair: Boolean = false,
      preSwapCheck: () => Unit = () => ()): Seq[PartitionedCommit] = {
    import org.apache.spark.sql.functions.col
    // Phase 1 (UNLOCKED — concurrent committers overlap here): execute
    // every plan into per-table, PER-COMMIT staging; the unique suffix
    // keeps two writers' staging apart, and repair only reclaims
    // staging once stale.
    val stagings: Seq[(PartitionedWrite, org.apache.hadoop.fs.Path)] =
      writes.map { w =>
        val spark = w.df.sparkSession
        // skipRepair: callers that just went through
        // readPartitionedSnapshot (which repairs) can skip the second
        // listing — repair is idempotent, this is purely a listing saver
        if (!skipRepair) repairPartitionedSnapshot(spark, w.path)
        val tmpRoot = new org.apache.hadoop.fs.Path(
          w.path + "__ptmp_" + java.util.UUID.randomUUID().toString.take(8))
        // Cluster on the partition column first — without it every
        // upstream task writes a file into every partition dir it
        // touches (tasks × partitions fragmentation).
        w.df.repartition(col(w.partitionCol))
          .write.mode("overwrite")
          .partitionBy(w.partitionCol)
          .parquet(tmpRoot.toString)
        (w, tmpRoot)
      }
    val spark0 = writes.head.df.sparkSession
    def cleanupStaging(): Unit = stagings.foreach { case (w, tmpRoot) =>
      val fs = tmpRoot.getFileSystem(
        w.df.sparkSession.sparkContext.hadoopConfiguration)
      if (fs.exists(tmpRoot)) fs.delete(tmpRoot, true)
    }
    // Phase 2 (LOCKED per table, sorted acquisition): validate, then
    // swap touched partition dirs — rename-only, milliseconds.
    try {
      CommitLock.withLocks(spark0, writes.map(_.path)) {
        preSwapCheck()
        stagings.map { case (w, tmpRoot) =>
          val spark = w.df.sparkSession
          // A root-level DataSkipping manifest describes files this
          // commit is about to replace — park it BEFORE any dir swaps
          // so readers fail loudly (no manifest) rather than prune
          // against stale stats; refreshManifestPartitioned rebuilds
          // it ∝ touched dirs.
          DataSkipping.invalidateManifest(spark, w.path)
          val fs = new org.apache.hadoop.fs.Path(w.path)
            .getFileSystem(spark.sparkContext.hadoopConfiguration)
          val root = new org.apache.hadoop.fs.Path(w.path)
          if (!fs.exists(root)) fs.mkdirs(root)
          var rewritten = List.empty[String]
          var deleted = List.empty[String]
          val touchedDirs =
            w.touched.map(partitionDirName(w.partitionCol, _)).distinct
          // A successful phase-1 parquet write ALWAYS creates tmpRoot
          // (even an all-delete commit's empty partitioned write
          // creates the root + _SUCCESS). If it has VANISHED here, a
          // concurrent repairPartitionedSnapshot reclaimed it as stale
          // — plausible when a large phase-1 merge outlives the 1 h
          // staleness TTL. Proceeding would make every touched dir
          // match the src-missing/dst-present branch below and execute
          // a partition DELETE per dir: silent loss of live partitions.
          // Abort instead; upsertPartitioned's optimistic retry re-runs
          // the merge.
          if (!fs.exists(tmpRoot))
            throw new java.util.ConcurrentModificationException(
              s"writeSnapshotsPartitioned(${w.path}): staging dir " +
                s"$tmpRoot vanished before the swap (reclaimed as stale " +
                "by a concurrent repair?) — aborting this commit")
          // every partition the plan actually produced must be in the
          // declared touched set — otherwise its rows would be silently
          // dropped by the scoped swap (a stale/wrong touchedHint must
          // fail loudly, not lose data)
          locally {
            val produced = fs.listStatus(tmpRoot).filter(_.isDirectory)
              .map(_.getPath.getName).filterNot(_.startsWith("_")).toSet
            val undeclared = produced -- touchedDirs.toSet
            require(undeclared.isEmpty,
              s"writeSnapshotsPartitioned(${w.path}): plan wrote partitions " +
                s"outside the declared touched set: ${undeclared.mkString(", ")}")
          }
          touchedDirs.foreach { d =>
            val src = new org.apache.hadoop.fs.Path(tmpRoot, d)
            val dst = new org.apache.hadoop.fs.Path(root, d)
            val prev = new org.apache.hadoop.fs.Path(root, HiddenPrev + d)
            if (fs.exists(src)) {
              if (fs.exists(dst)) {
                if (fs.exists(prev)) fs.delete(prev, true)
                fs.rename(dst, prev)
                fs.rename(src, dst)
                fs.delete(prev, true)
              } else fs.rename(src, dst)
              rewritten ::= d
            } else if (fs.exists(dst)) {
              // the commit emptied this partition: an atomic rename
              // makes it vanish from readers in one step, then the
              // hidden dir is cleaned (a crash in between leaves only
              // invisible residue)
              val del = new org.apache.hadoop.fs.Path(root, HiddenDel + d)
              if (fs.exists(del)) fs.delete(del, true)
              fs.rename(dst, del)
              fs.delete(del, true)
              deleted ::= d
            }
          }
          fs.delete(tmpRoot, true)
          PartitionedCommit(w.path, rewritten.reverse, deleted.reverse)
        }
      }
    } catch {
      case e: Throwable =>
        cleanupStaging()
        throw e
    }
  }

  /** Partition-scoped upsert: MERGE `updates` into the partitioned
    * snapshot at `path` keyed by `keys`, rewriting ONLY the partition
    * directories the updates touch. Write (and target-scan) cost is
    * proportional to the touched partitions, not the table — the
    * at-scale replacement for [[writeSnapshot]]'s full rewrite.
    *
    * The touched-partition set is collected to the driver (one value
    * per touched partition — bounded by batch spread, e.g. a day's
    * micro-batch touches 1-2 date partitions; guarded by
    * `maxTouchedPartitions` so a mis-chosen partition column fails
    * loudly instead of collecting millions of values).
    *
    * See the key-to-partition stability contract in the section doc. */
  /** @param touchedHint partition values the updates may touch, when
    *   the CALLER knows them (a micro-batch's date range from source
    *   metadata — the `replaceWhere` idiom). Skips the distinct-scan
    *   job. Must be a SUPERSET of the updates' actual partition
    *   values; a hinted value with no surviving rows only triggers a
    *   no-op swap (its target dir, holding rows from prior commits,
    *   re-emerges from the anti-join unchanged and is rewritten, so a
    *   too-wide hint costs write volume, never correctness — but rows
    *   OUTSIDE the hint would be merged into the wrong partitions'
    *   rewrite set, so the superset requirement is enforced cheaply at
    *   write time by the pruned anti-join reading only hinted dirs). */
  /** @param commitRetries optimistic-concurrency retries: the merge
    *   and staging run UNLOCKED against a fingerprint of the touched
    *   partition dirs; under the swap-phase lock the fingerprint is
    *   re-checked, and a concurrent commit that landed on any touched
    *   dir aborts the swap and re-runs the merge from the new state
    *   (bounded; exhaustion throws ConcurrentModificationException).
    *   Writers on DISJOINT partitions never invalidate each other's
    *   fingerprints — they merge without retries, serializing only on
    *   the rename-phase lock. */
  def upsertPartitioned(
      spark: org.apache.spark.sql.SparkSession,
      path: String,
      updates: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      orderBy: Option[Column] = None,
      dedupNullKeyed: Boolean = false,
      maxTouchedPartitions: Int = 10000,
      touchedHint: Option[Seq[Any]] = None,
      commitRetries: Int = 3): PartitionedCommit = {
    import org.apache.spark.sql.functions.col
    require(updates.columns.contains(partitionCol),
      s"upsertPartitioned: updates lack partition column $partitionCol")
    val touched = touchedHint.getOrElse {
      updates.select(col(partitionCol)).distinct()
        .limit(maxTouchedPartitions + 1).collect().map(_.get(0)).toSeq
    }
    require(touched.size <= maxTouchedPartitions,
      s"upsertPartitioned: updates touch > $maxTouchedPartitions " +
        s"partitions of $partitionCol — wrong partition column, or raise " +
        "maxTouchedPartitions")
    val touchedDirs = touched.map(partitionDirName(partitionCol, _)).distinct
    var attempt = 0
    while (true) {
      attempt += 1
      // fingerprint BEFORE the read: a commit landing between the two
      // can only cause a conservative retry, never a stale merge
      val fp = CommitLock.fingerprint(spark, path, touchedDirs)
      val pruned = readPartitionedSnapshot(spark, path, updates.schema) match {
        case Some(target) => target.where(touchedFilter(partitionCol, touched))
        case None => updates.limit(0)
      }
      val result = upsert(pruned, updates, keys, orderBy, dedupNullKeyed)
      try {
        // the readPartitionedSnapshot above already repaired this path
        return writeSnapshotsPartitioned(
          Seq(PartitionedWrite(result, path, partitionCol, touched)),
          skipRepair = true,
          preSwapCheck = () => {
            val now = CommitLock.fingerprint(spark, path, touchedDirs)
            if (now != fp)
              throw new java.util.ConcurrentModificationException(
                s"upsertPartitioned($path): touched partitions " +
                  s"${touchedDirs.mkString(",")} changed since the merge " +
                  "was computed")
          }).head
      } catch {
        case e: java.util.ConcurrentModificationException =>
          if (attempt > commitRetries) throw e
          // re-run the merge against the new head
      }
    }
    sys.error("unreachable")
  }

  /** Partition-pruning predicate for a touched-value set (null-aware:
    * `isin` never matches null, so a null partition value needs an
    * explicit isNull disjunct). Resolves to static partition pruning
    * in the scan — untouched partitions' files are never listed. */
  private[graft] def touchedFilter(
      partitionCol: String, touched: Seq[Any]): Column = {
    import org.apache.spark.sql.functions.{col, lit}
    val nonNull = touched.filter(_ != null)
    val base =
      if (nonNull.isEmpty) lit(false)
      else col(partitionCol).isin(nonNull: _*)
    if (touched.contains(null)) base || col(partitionCol).isNull else base
  }
}
