package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

/** Table-maintenance operations for the snapshot storage model.
  *
  * Incremental upserts ([[Upsert.writeSnapshot]]) rewrite the snapshot
  * every batch; with many small batches (or many reducers) a table
  * accumulates files far below the healthy task size. At 100 TB that
  * is the classic small-file problem: scan parallelism explodes into
  * footer-reading overhead, and shuffle-map stages schedule tens of
  * thousands of sub-second tasks. The reference never faces this only
  * because Postgres compacts pages internally — a parquet-snapshot
  * engine must do it explicitly.
  */
object Maintenance {

  final case class CompactionReport(
      filesBefore: Long, filesAfter: Long, bytes: Long, compacted: Boolean)

  /** THE fragmentation test, shared by [[compactSnapshot]] and
    * [[healthReport]]: more than twice the ideal file count for the
    * byte volume (count-based — see [[compactSnapshot]]'s doc for why
    * a mean-size test lies). */
  private def fragmented(
      nFiles: Long, bytes: Long, targetFileBytes: Long): Boolean = {
    val idealFiles = math.max(1L,
      math.ceil(bytes.toDouble / targetFileBytes).toLong)
    nFiles > 1 && nFiles >= 2 * idealFiles
  }

  /** Rewrite the snapshot at `path` into ≈`targetFileBytes` files when
    * fragmented. "Fragmented" = the file count exceeds twice the ideal
    * count (`ceil(bytes / targetFileBytes)`) — a count-based test, not a
    * mean-size one, because one healthy 128 MB file plus hundreds of
    * 1 KB fragments averages fine while still scheduling hundreds of
    * footer-read tasks. The rewrite is a plain coalesce — no shuffle —
    * and commits through the same crash-safe swap as every other
    * snapshot write. No-op (and no job) on healthy tables, so it is
    * safe to run after every load.
    *
    * Flat snapshot tables only: a partitioned layout (subdirectories
    * from [[writePartitioned]]) makes this throw rather than silently
    * no-op — partitioned tables live in [[FactVersioned]], whose
    * [[FactVersioned.compactPartitionsBy]] compacts per partition. */
  def compactSnapshot(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024): CompactionReport = {
    val p = new Path(path)
    val fs = p.getFileSystem(spark.sparkContext.hadoopConfiguration)
    // No primary directory — genuine first run, or the mid-swap crash
    // window where only __prev exists. Either way compaction must not
    // throw (it is documented safe to run after every load) and must
    // not touch __prev: the next writeSnapshot/readSnapshot recovers it.
    if (!fs.exists(p)) return CompactionReport(0, 0, 0, false)
    val entries = fs.listStatus(p).toSeq
    require(!entries.exists(_.isDirectory),
      s"compactSnapshot: $path contains subdirectories — compact " +
        "partitioned tables with FactVersioned.compactPartitionsBy")
    val dataFiles = entries
      .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
    val bytes = dataFiles.map(_.getLen).sum
    val nFiles = dataFiles.size.toLong
    if (!fragmented(nFiles, bytes, targetFileBytes))
      return CompactionReport(nFiles, nFiles, bytes, false)

    val targetFiles = math.max(1, math.ceil(
      bytes.toDouble / targetFileBytes).toInt)
    val compacted = spark.read.parquet(path).coalesce(targetFiles)
    Upsert.writeSnapshot(compacted, path)
    val after = fs.listStatus(p).toSeq
      .count(f => f.isFile && f.getPath.getName.endsWith(".parquet")).toLong
    CompactionReport(nFiles, after, bytes, true)
  }

  final case class TableHealth(
      files: Long,
      bytes: Long,
      partitions: Long,
      smallFiles: Long,        // below smallFileBytes
      smallFileFraction: Double,
      maxFileBytes: Long,
      medianFileBytes: Long,
      recommendCompaction: Boolean)

  /** One-listing health diagnostic for a flat or partitioned snapshot
    * table — the operational question behind [[compactSnapshot]] and
    * the file-skipping indexes: is this table's layout still healthy,
    * or is it sliding into the small-file regime? Pure metadata (file
    * statuses only — no data read, no Spark job), so it is safe to
    * call on every maintenance tick even at 100 TB; the decision
    * thresholds mirror [[compactSnapshot]]'s fragmentation test. */
  def healthReport(
      spark: SparkSession,
      path: String,
      targetFileBytes: Long = 128L * 1024 * 1024,
      smallFileBytes: Long = 16L * 1024 * 1024): TableHealth = {
    val root = new Path(path)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root))
      return TableHealth(0, 0, 0, 0, 0.0, 0, 0, recommendCompaction = false)
    // recursive walk: multi-column partitioned layouts nest
    // (col1=X/col2=Y/...), so a one-level listing would report an
    // empty "healthy" table for exactly the fragmented cases this
    // diagnostic exists to catch. Leaf dirs (those holding data
    // files) are the partition count.
    var leafDirs = 0L
    def walk(p: Path, isRoot: Boolean): Array[Long] = {
      val entries = fs.listStatus(p)
      val files = entries.filter(f => f.isFile &&
        f.getPath.getName.endsWith(".parquet")).map(_.getLen)
      if (!isRoot && files.nonEmpty) leafDirs += 1
      files ++ entries
        .filter(s => s.isDirectory &&
          !s.getPath.getName.startsWith("_") &&
          !s.getPath.getName.startsWith("."))
        .flatMap(d => walk(d.getPath, isRoot = false))
    }
    val fileSizes: Array[Long] = walk(root, isRoot = true)
    if (fileSizes.isEmpty)
      return TableHealth(0, 0, leafDirs, 0, 0.0, 0, 0,
        recommendCompaction = false)
    val sorted = fileSizes.sorted
    val bytes = fileSizes.sum
    val small = fileSizes.count(_ < smallFileBytes).toLong
    TableHealth(
      files = fileSizes.length.toLong,
      bytes = bytes,
      partitions = leafDirs,
      smallFiles = small,
      smallFileFraction = small.toDouble / fileSizes.length,
      maxFileBytes = sorted.last,
      medianFileBytes = sorted(sorted.length / 2),
      recommendCompaction =
        fragmented(fileSizes.length.toLong, bytes, targetFileBytes))
  }

  /** Write `df` as a date/key-partitioned parquet table with rows
    * sorted inside each file — the layout that makes partition pruning
    * (the engine's replacement for the reference's B-tree indexes) and
    * min/max row-group skipping effective at scale. `sortCols` should
    * lead with the dominant point-lookup/join column. */
  /** @param filesPerPartition write parallelism per partition value.
    *   1 (default) → one task and one file per dir — right for many
    *   modest partitions. For a LARGE or skewed partition (one date
    *   holding hundreds of GB) a single task is a straggler/OOM: raise
    *   this and rows salt across up to `filesPerPartition` tasks per
    *   value (all-column hash — retry-deterministic and immune to
    *   sort-key skew; hash collisions make the per-dir file count
    *   approximate, but a fat partition never funnels through a
    *   single straggler task). */
  def writePartitioned(
      df: org.apache.spark.sql.DataFrame,
      path: String,
      partitionCols: Seq[String],
      sortCols: Seq[String],
      filesPerPartition: Int = 1): Unit = {
    import org.apache.spark.sql.functions.{col, lit, pmod, xxhash64}
    // Repartition on the partition columns FIRST: without it every
    // upstream task writes one file into every partition dir it
    // touches (tasks x partitions files — the exact fragmentation
    // compactSnapshot exists to undo). Hashing the partition cols
    // lands each partition value in `filesPerPartition` task(s).
    val clustered =
      if (partitionCols.isEmpty) df
      else if (filesPerPartition <= 1) df.repartition(partitionCols.map(col): _*)
      else {
        // Row-level salt = hash of ALL columns: deterministic under
        // stage retries — a nondeterministic salt (monotonic id /
        // rand) as a repartition key silently duplicates or drops rows
        // when a lost executor forces recomputation (the SPARK-23207
        // class of bug; Spark local-sorts only its own round-robin
        // repartition). Hashing every column also survives dominant-
        // sort-key skew: only full-row duplicates collapse to one
        // salt, and those carry no ordering information to lose. The
        // explicit partition count keeps AQE from coalescing the
        // spread away; hash repartition avoids repartitionByRange's
        // extra sampling pass.
        val salt = pmod(xxhash64(df.columns.toIndexedSeq.map(col): _*),
          lit(filesPerPartition.toLong))
        val n = math.max(
          df.sparkSession.sparkContext.defaultParallelism,
          filesPerPartition)
        df.repartition(n, partitionCols.map(col) :+ salt: _*)
      }
    val sorted =
      if (sortCols.isEmpty) clustered
      else clustered.sortWithinPartitions(
        (partitionCols ++ sortCols).map(col): _*)
    sorted.write
      .mode("overwrite")
      .partitionBy(partitionCols: _*)
      .parquet(path)
  }
}
