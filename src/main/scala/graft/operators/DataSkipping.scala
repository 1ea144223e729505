package graft.operators

import java.io.{ByteArrayInputStream, ByteArrayOutputStream}

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, Row, SparkSession}
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{BooleanType, DataType, StructType}
import org.apache.spark.util.sketch.BloomFilter

import graft.functions.expressions.NativeExpressions

/** File-level data skipping: a per-file min/max/rowcount manifest plus a
  * range-pruned scan — the parquet-snapshot engine's replacement for the
  * reference's secondary B-tree indexes (`sql/create_tables.sql:78-81`
  * indexes `meetings(start_time)` so range scans touch only matching
  * pages; here per-FILE statistics let a range scan open only matching
  * files).
  *
  * This is the Delta/Iceberg file-statistics idea re-expressed over
  * plain parquet directories: the manifest lives INSIDE the table dir
  * under an underscore-prefixed name, which Spark's file index (and
  * DuckDB's globber) already ignore, so the table keeps reading
  * normally with or without stats.
  *
  * Scale posture at 100 TB:
  *  - the manifest is metadata-scale — one row per data file (100 TB at
  *    healthy 512 MB files ≈ 200k rows, a few MB of parquet), built by
  *    one distributed pass over the table (`_metadata.file_path`
  *    group-by: partial aggregation per scan task, no fat shuffle);
  *  - pruning evaluates the range predicate ON THE MANIFEST and
  *    collects only the surviving file PATHS to the driver — the same
  *    cardinality every Spark file index already materializes
  *    driver-side, not data;
  *  - row-group/page skipping inside the surviving files still comes
  *    free from the parquet reader (the layout writers in
  *    [[Maintenance.writePartitioned]] / [[ZOrder.writeZOrdered]] sort
  *    within files precisely so both levels bite).
  *
  * Parquet footers already hold per-column min/max — but reading 200k
  * footers per query IS the small-metadata problem at scale (one round
  * trip per file from the driver); the manifest amortizes that into one
  * columnar read, exactly the argument Delta's stats collection makes.
  */
object DataSkipping {

  /** Manifest directory name under the table path. The leading
    * underscore makes every parquet reader skip it as a data source. */
  val ManifestDir = "_graft_stats"

  /** One range predicate for pruning: `lower <= col <= upper`
    * (inclusive both ends; pass the same bounds to the residual filter
    * so pruned-scan results are exactly `WHERE col BETWEEN lo AND hi`). */
  final case class ColRange(colName: String, lower: Column, upper: Column)

  final case class PruneReport(filesTotal: Long, filesRead: Long) {
    def filesSkipped: Long = filesTotal - filesRead
  }

  final case class PrunedScan(df: DataFrame, report: PruneReport)

  private def manifestPath(tablePath: String) =
    s"$tablePath/$ManifestDir"

  /** Compute the per-file stats manifest for `statsCols` as a DataFrame:
    * `(file, n_rows, min__<c>, max__<c>, nonnull__<c> ...)`. One
    * distributed scan; the group-by key is the hidden
    * `_metadata.file_path` column so the aggregation is partial-final
    * with at most one group per file per task. */
  def buildManifest(
      spark: SparkSession,
      tablePath: String,
      statsCols: Seq[String]): DataFrame =
    statsOf(spark.read.parquet(tablePath), statsCols)

  /** The per-file stats aggregation over an already-opened scan. Also
    * feeds [[FactVersioned]]'s manifest-embedded stats (same column
    * naming, so the pruning predicates are shared). */
  private[operators] def statsOf(df: DataFrame, statsCols: Seq[String]): DataFrame = {
    require(statsCols.nonEmpty, "buildManifest: statsCols must be non-empty")
    val aggs = count(lit(1)).as("n_rows") +:
      statsCols.flatMap { c =>
        Seq(min(col(c)).as(s"min__$c"),
          max(col(c)).as(s"max__$c"),
          count(col(c)).as(s"nonnull__$c"))
      }
    df.select(col("_metadata.file_path").as("file") +: statsCols.map(col): _*)
      .groupBy("file")
      .agg(aggs.head, aggs.tail: _*)
  }

  /** Build and persist the manifest under `<tablePath>/_graft_stats`.
    * Coalesced to one file — it is metadata-scale by construction. */
  def writeManifest(
      spark: SparkSession,
      tablePath: String,
      statsCols: Seq[String]): Unit = {
    buildManifest(spark, tablePath, statsCols)
      .coalesce(1)
      .write.mode("overwrite")
      .parquet(manifestPath(tablePath))
  }

  def readManifest(spark: SparkSession, tablePath: String): DataFrame =
    spark.read.parquet(manifestPath(tablePath))

  /** A file can contain a row matching `lo <= c <= hi` only if it has
    * any non-null value and its [min, max] intersects [lo, hi]. An
    * all-null file has NULL min/max — the three-valued comparison then
    * yields NULL and the file is (correctly) pruned. */
  private def mayMatch(r: ColRange): Column =
    col(s"nonnull__${r.colName}") > 0 &&
      col(s"max__${r.colName}") >= r.lower &&
      col(s"min__${r.colName}") <= r.upper

  /** Range-pruned scan of `tablePath`: open only files whose manifest
    * stats intersect EVERY range, then apply the exact row-level
    * residual filter — so the result equals
    * `SELECT * FROM table WHERE AND_i(col_i BETWEEN lo_i AND hi_i)`
    * regardless of how sharp the file pruning was. Requires
    * [[writeManifest]] to have covered every pruning column; stale
    * manifests (table rewritten after stats) would be silently wrong,
    * so callers that rewrite tables must re-run [[writeManifest]] —
    * the snapshot writers here commit whole directories, which drops
    * the manifest with the old generation. */
  def prunedScan(
      spark: SparkSession,
      tablePath: String,
      ranges: Seq[ColRange]): PrunedScan = {
    require(ranges.nonEmpty, "prunedScan: at least one range required")
    val m = readManifest(spark, tablePath)
    ranges.foreach { r =>
      require(m.columns.contains(s"min__${r.colName}"),
        s"prunedScan: manifest has no stats for column ${r.colName} — " +
          "rebuild with writeManifest including it")
    }
    val total = m.count()
    val files = m.where(ranges.map(mayMatch).reduce(_ && _))
      .select("file").collect().map(_.getString(0))
    val residual = ranges
      .map(r => col(r.colName) >= r.lower && col(r.colName) <= r.upper)
      .reduce(_ && _)
    val df =
      if (files.isEmpty) {
        // preserve the table schema for downstream plans; one footer read
        val schema: StructType = spark.read.parquet(tablePath).schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      } else
        // basePath keeps Hive-style partition columns resolvable even
        // though the read lists pruned LEAF files
        spark.read.option("basePath", tablePath)
          .parquet(files.toIndexedSeq: _*).where(residual)
    PrunedScan(df, PruneReport(total, files.length.toLong))
  }

  // ---- per-file bloom index: point-lookup skipping -----------------------
  //
  // Min/max stats only prune point lookups when the layout is SORTED by
  // the lookup column; a fact table laid out by date leaves its id
  // column scattered, and every file's [min,max] spans the id space.
  // A per-file bloom of the id column prunes those lookups anyway —
  // the engine's replacement for the reference's point-lookup B-trees
  // (`sql/create_tables.sql:78-81`; `get_meeting_by_id`-style access,
  // `src/api/client.py:141-166`), and the same construction as Delta's
  // bloom filter indexes. Sidecars live under `_graft_bloom__<col>`
  // (reader-ignored), one row per file: (file, n_keys, bloom bytes).
  // At 100 TB the index is read DISTRIBUTED and only surviving file
  // paths reach the driver; per-file blooms are sized from each file's
  // actual distinct-ish key count, so total index bytes ≈
  // 1.2 B/key·ln(1/fpp)/ln²2 — ~1.2 MB per 1M-key file at 1 %.

  private[operators] val BloomDirPrefix = "_graft_bloom__"

  private def bloomPath(tablePath: String, keyCol: String) =
    s"$tablePath/$BloomDirPrefix$keyCol"


  /** Build + persist the per-file bloom index for `keyCol` (integral or
    * string). One pass: cluster rows by file (hash repartition on the
    * file path — each task streams whole files), buffer each file's
    * keys once to size its filter exactly, emit (file, n_keys, bloom).
    * Memory bound per task ≈ one file's keys (8 B each) — the same
    * order as a shuffle buffer for that file. */
  def writeBloomIndex(
      spark: SparkSession,
      tablePath: String,
      keyCol: String,
      fpp: Double = 0.01): Unit = {
    bloomRowsOf(spark.read.parquet(tablePath), keyCol, fpp)
      .coalesce(1).write.mode("overwrite")
      .parquet(bloomPath(tablePath, keyCol))
  }

  /** The (file, n_keys, bloom) rows for an already-opened scan. */
  private def bloomRowsOf(
      scan: DataFrame, keyCol: String, fpp: Double): DataFrame = {
    val spark = scan.sparkSession
    val keyed = scan
      .select(col("_metadata.file_path").as("file"), col(keyCol).as("k"))
      .where(col("k").isNotNull)
      .repartition(col("file"))
      .sortWithinPartitions("file")
    import spark.implicits._
    val rows = keyed.mapPartitions { it =>
      // partitions are sorted by file: fold consecutive runs
      new Iterator[(String, Long, Array[Byte])] {
        private val buf = it.buffered
        def hasNext: Boolean = buf.hasNext
        def next(): (String, Long, Array[Byte]) = {
          val file = buf.head.getString(0)
          val keys = scala.collection.mutable.ArrayBuffer.empty[Any]
          while (buf.hasNext && buf.head.getString(0) == file)
            keys += buf.next().get(1)
          val bf = BloomFilter.create(math.max(keys.length, 1L), fpp)
          keys.foreach {
            case s: String => bf.putString(s)
            case n: Number => bf.putLong(n.longValue())
            case other => throw new IllegalArgumentException(
              s"bloom index does not support key ${other.getClass}")
          }
          val bos = new ByteArrayOutputStream()
          bf.writeTo(bos)
          (file, keys.length.toLong, bos.toByteArray)
        }
      }
    }.toDF("file", "n_keys", "bloom")
    rows
  }

  def hasBloomIndex(
      spark: SparkSession, tablePath: String, keyCol: String): Boolean = {
    val p = new Path(bloomPath(tablePath, keyCol))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Point-lookup scan: open only files whose bloom MIGHT contain one
    * of `values`, then apply the exact `isin` residual — result equals
    * `WHERE keyCol IN (values)` at any fpp (blooms have no false
    * negatives; false positives only open extra files whose rows the
    * residual drops). The index is filtered DISTRIBUTED (the probe is a
    * native expression over the bloom-bytes column); only surviving
    * paths reach the driver. */
  def pointLookupScan(
      spark: SparkSession,
      tablePath: String,
      keyCol: String,
      values: Seq[Any]): PrunedScan = {
    require(values.nonEmpty, "pointLookupScan: at least one value")
    val idx = spark.read.parquet(bloomPath(tablePath, keyCol))
    val total = idx.count()
    val probe = NativeExpressions.col(BloomAnyMightContain(
      NativeExpressions.expr(col("bloom")), values.toArray))
    val files = idx.where(probe).select("file").collect().map(_.getString(0))
    val df =
      if (files.isEmpty) {
        val schema: StructType = spark.read.parquet(tablePath).schema
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[Row], schema)
      } else
        spark.read.option("basePath", tablePath)
          .parquet(files.toIndexedSeq: _*)
          .where(col(keyCol).isin(values: _*))
    PrunedScan(df, PruneReport(total, files.length.toLong))
  }
}

/** True if the row's serialized bloom might contain ANY of `values`
  * (integral or string, matching what [[DataSkipping.writeBloomIndex]]
  * put). Deserializes one filter per INDEX row — index rows are files,
  * not data, so this is metadata-scale work. */
case class BloomAnyMightContain(child: Expression, values: Array[Any])
    extends UnaryExpression with CodegenFallback {
  override def dataType: DataType = BooleanType
  override def nullIntolerant: Boolean = true
  override def prettyName: String = "graft_bloom_any_might_contain"

  override def nullSafeEval(input: Any): Any = {
    val bf = BloomFilter.readFrom(
      new ByteArrayInputStream(input.asInstanceOf[Array[Byte]]))
    values.exists {
      case s: String => bf.mightContainString(s)
      case n: Number => bf.mightContainLong(n.longValue())
      case other => throw new IllegalArgumentException(
        s"bloom probe does not support ${other.getClass}")
    }
  }

  override protected def withNewChildInternal(c: Expression): BloomAnyMightContain =
    copy(child = c)
}
