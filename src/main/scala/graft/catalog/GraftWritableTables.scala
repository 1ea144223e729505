package graft.catalog

import java.util

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.connector.catalog.Table
import org.apache.spark.sql.connector.expressions.Transform
import org.apache.spark.sql.types.{LongType, StructType}
import org.apache.spark.sql.util.CaseInsensitiveStringMap

import graft.operators.FactVersioned

// ---- INSERT surface: append-only writes routed THROUGH the stores'
// own committers (claim/marker protocol intact) -----------------------

/** The writable head-generation table: reads pass straight to the
  * native `ParquetTable`; INSERT INTO lands via the
  * DSv2→V1 bridge ([[org.apache.spark.sql.connector.write.V1Write]]),
  * whose `InsertableRelation` hands the whole resolved input frame to
  * the store's committer — the one write shape these stores support
  * (a distributed per-task writer could not claim generations).
  * INSERT OVERWRITE (r16 — VERDICT r15 Next #5) routes through the
  * same bridge as an overwrite-by-filter write: a static `PARTITION
  * (p=v)` spec replaces exactly the named partitions
  * ([[FactVersioned.replacePartitionsBy]] — write-amp ∝ the spec'd
  * set, FS-asserted in gate q173), a spec-less overwrite replaces the
  * whole head (every current partition plus the data's) as ONE
  * versioned commit — time travel keeps the pre-overwrite head.
  * Dynamic partition-overwrite MODE
  * (`spark.sql.sources.partitionOverwriteMode=dynamic`, r17 — VERDICT
  * r16 Next #1) replaces EXACTLY the partitions the data holds rows
  * for: the touched set is data-derived (one partition-column-only
  * distinct over the input — never a table scan), capped at 10k
  * like every other partition-replacing statement, committed as ONE
  * `replacePartitionsBy` with the pinned `resolvedGen` basis so a
  * racing foreign commit conflicts retryably. Untouched partitions
  * carry byte-identical (gate q176 FS-asserts both).
  *
  * Top-level (not catalog-inner) so [[GraftDml]]'s resolution rule can
  * recognize a resolved `DataSourceV2Relation` over a graft table and
  * recover its path — the MERGE/DELETE routing needs exactly that.
  *
  * @param resolvedGen the head generation this resolution pinned —
  *   [[GraftDml]]'s UPDATE/DELETE/MERGE commands read THESE files and
  *   pass this as the commit's `basisGen`, so a foreign commit landing
  *   between statement analysis and execution is caught by the
  *   store's conflict detection instead of being silently overwritten
  *   from a stale read. */
private[catalog] class GraftWritableTable(
    inner: Table with org.apache.spark.sql.connector.catalog.SupportsRead,
    val graftTablePath: String,
    retain: () => Int,
    val resolvedGen: Long) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsRead
    with org.apache.spark.sql.connector.catalog.SupportsWrite
    with org.apache.spark.sql.connector.catalog.TruncatableTable {
  private def spark: SparkSession = SparkSession.active
  private def path: String = graftTablePath
  private def retention: Int = retain()
  /** Retention for the [[GraftDml]] MERGE/DELETE commands — the same
    * conf-or-preserve resolution INSERT uses. */
  private[catalog] def retentionForDml: Int = retain()
  /** The table's partition-transform spec, if transform-partitioned
    * (r17) — one probe per table handle; the file is immutable. */
  private[catalog] lazy val transformSpec
      : Option[PartitionTransforms.Spec] =
    PartitionTransforms.read(SparkSession.active, graftTablePath)
  /** True for the GENERATED partition column (commit-assigned like
    * provenance: writes derive it, input values are ignored). */
  private def isGeneratedCol(name: String): Boolean =
    transformSpec.exists(_.genCol.equalsIgnoreCase(name))
  override def name(): String = inner.name()
  /** The native schema, with [[FactVersioned.VGenCol]] carrying a NULL
    * column DEFAULT in its field
    * metadata: provenance is commit-assigned (input values ignored),
    * so a write that omits it must analyze — `INSERT ... BY NAME`
    * fills the default for the missing name — instead of demanding a
    * hand-written `CAST(NULL AS BIGINT) AS vgen`. Positional INSERT
    * can only default-fill TRAILING columns, and the partition columns
    * sort last in a discovered-partition table, so BY NAME is the
    * vgen-free door. */
  override def schema(): StructType = StructType(inner.schema.fields.map { f =>
    if (f.name.equalsIgnoreCase(FactVersioned.VGenCol) ||
        isGeneratedCol(f.name))
      f.copy(metadata = new org.apache.spark.sql.types.MetadataBuilder()
        .withMetadata(f.metadata)
        .putString("CURRENT_DEFAULT", "NULL")
        .putString("EXISTS_DEFAULT", "NULL")
        .build())
    else f
  })
  override def columns()
      : Array[org.apache.spark.sql.connector.catalog.Column] =
    inner.columns().map { c =>
      if (c.name.equalsIgnoreCase(FactVersioned.VGenCol))
        org.apache.spark.sql.connector.catalog.Column.create(
          c.name, c.dataType, true,
          "commit-assigned provenance (generation number); " +
            "input values are ignored",
          org.apache.spark.sql.GraftColumnBridge.nullColumnDefault(LongType),
          null)
      else if (isGeneratedCol(c.name))
        org.apache.spark.sql.connector.catalog.Column.create(
          c.name, c.dataType, true,
          s"generated partition column " +
            s"(${transformSpec.get.kind}(${transformSpec.get.source})); " +
            "derived at commit, input values are ignored",
          org.apache.spark.sql.GraftColumnBridge
            .nullColumnDefault(c.dataType),
          null)
      else c
    }
  override def partitioning(): Array[Transform] = inner.partitioning()
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] = {
    val caps = new util.HashSet(inner.capabilities())
    caps.add(org.apache.spark.sql.connector.catalog
      .TableCapability.V1_BATCH_WRITE)
    // INSERT OVERWRITE: TRUNCATE covers the spec-less static spelling
    // (delete-expr = true), OVERWRITE_BY_FILTER the static PARTITION
    // spec, OVERWRITE_DYNAMIC the partitionOverwriteMode=dynamic shape
    // (replace exactly the data's partitions — r17).
    caps.add(org.apache.spark.sql.connector.catalog
      .TableCapability.TRUNCATE)
    caps.add(org.apache.spark.sql.connector.catalog
      .TableCapability.OVERWRITE_BY_FILTER)
    caps.add(org.apache.spark.sql.connector.catalog
      .TableCapability.OVERWRITE_DYNAMIC)
    // `MERGE ... WITH SCHEMA EVOLUTION`: Spark's own
    // ResolveMergeIntoSchemaEvolution rule gates on this capability and
    // routes the widening through alterTable → the store's ADDITIVE
    // evolution commit (FactVersioned.addColumns — metadata-only,
    // carried rows null-fill, tombstoned names still reject). The
    // widening lands as its own
    // auditable generation at statement analysis, BEFORE the merge's
    // data commit — two commits, both through the claim/marker protocol.
    caps.add(org.apache.spark.sql.connector.catalog
      .TableCapability.AUTOMATIC_SCHEMA_EVOLUTION)
    caps
  }
  override def newScanBuilder(options: CaseInsensitiveStringMap)
      : org.apache.spark.sql.connector.read.ScanBuilder =
    inner.newScanBuilder(options)
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder
        with org.apache.spark.sql.connector.write.SupportsOverwrite
        with org.apache.spark.sql.connector.write.SupportsDynamicOverwrite {
      // SupportsOverwrite extends SupportsTruncate, so the spec-less
      // INSERT OVERWRITE (delete-expr = true) arrives here as
      // overwrite([AlwaysTrue]) via the default truncate()
      private var overwriteFilters
          : Option[Array[org.apache.spark.sql.sources.Filter]] = None
      private var dynamic = false
      override def overwrite(
          filters: Array[org.apache.spark.sql.sources.Filter])
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        overwriteFilters = Some(filters); this
      }
      override def overwriteDynamicPartitions()
          : org.apache.spark.sql.connector.write.WriteBuilder = {
        dynamic = true; this
      }
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          // the dynamic shape normally never reaches this Write: Spark
          // has no V1 exec for OverwritePartitionsDynamic, so
          // GraftDmlRule rewrites the plan to a whole-frame command at
          // analysis. A session WITHOUT the graft extensions falls
          // through to toBatch — turn the opaque "Batch write is not
          // supported" into guidance.
          override def toBatch
              : org.apache.spark.sql.connector.write.BatchWrite =
            if (dynamic)
              throw new UnsupportedOperationException(
                "GraftCatalog: dynamic INSERT OVERWRITE needs the graft " +
                  "SQL extensions (GraftDml.enable(spark) or " +
                  "spark.sql.extensions=graft.GraftExtensions) — the " +
                  "dynamic shape commits the whole frame through the " +
                  "versioned store, which plain DSv2 batch writers " +
                  "cannot express")
            else super.toBatch
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data: org.apache.spark.sql.DataFrame, _: Boolean) =>
              if (dynamic) overwriteDynamic(data)
              else overwriteFilters match {
                case Some(filters) => overwriteWhere(filters, data)
                case None => insert(data)
              }
        }
    }
  /** SHOW TBLPROPERTIES / DESCRIBE EXTENDED read the RESOLVED
    * generation's pinned record (per-era; SET/UNSET commits a new
    * generation) — pinned to `resolvedGen`, not re-read at call time,
    * so a handle always reports the era whose data it reads (ADVICE
    * r16 #4: a head re-read could show a NEWER era's record than the
    * resolution's file set). */
  override def properties(): util.Map[String, String] = {
    val m = new util.HashMap(inner.properties())
    FactVersioned.tableProperties(spark, path, Some(resolvedGen))
      .filterNot(_._1.startsWith(GraftCatalog.ConstraintKeyPrefix))
      .foreach { case (k, v) => m.put(k, v) }
    m
  }

  /** CHECK constraints of the resolved era ([[GraftCatalog
    * .ConstraintKeyPrefix]] record keys) — Spark's
    * ResolveTableConstraints reads these off every v2 write relation
    * and injects the CheckInvariant that makes a violating INSERT /
    * OVERWRITE fail loudly at runtime. */
  override def constraints()
      : Array[org.apache.spark.sql.connector.catalog.constraints
        .Constraint] =
    GraftCatalog.decodeConstraints(
      FactVersioned.tableProperties(spark, path, Some(resolvedGen)))
  /** Derive the generated partition column on transform-partitioned
    * tables (input values ignored — commit-assigned); identity tables
    * pass through. */
  private def derived(
      rows: org.apache.spark.sql.DataFrame): org.apache.spark.sql.DataFrame =
    transformSpec.fold(rows)(_.derive(rows))

  /** INSERT INTO: append via [[FactVersioned.appendBy]] (cost ∝
    * touched partitions). The resolved input carries the
    * [[FactVersioned.VGenCol]] provenance slot (it is part of the table
    * schema); its values are IGNORED — provenance is assigned by the
    * commit itself, like a generated column. */
  def insert(data: org.apache.spark.sql.DataFrame): Unit = {
    val rows = derived(data.drop(FactVersioned.VGenCol))
    FactVersioned.appendBy(spark, path, rows,
      FactVersioned.logicalPartitionColumns(spark, path),
      retain = retention,
      properties = Map("operation" -> "INSERT"))
    ()
  }

  /** `INSERT OVERWRITE` (static mode): one versioned
    * [[FactVersioned.replacePartitionsBy]] commit whose touched set is
    * the static spec's matching HEAD partitions plus whatever the data
    * introduces — write-amp ∝ the spec'd scope, never the table; the
    * spec-less spelling replaces every head partition (full-table
    * overwrite, still ONE commit, still time-travelable). The pinned
    * `resolvedGen` rides as the commit basis, so a foreign commit
    * landing between analysis and execution conflicts retryably
    * instead of being silently overwritten. */
  def overwriteWhere(
      filters: Array[org.apache.spark.sql.sources.Filter],
      data: org.apache.spark.sql.DataFrame): Unit = {
    import org.apache.spark.sql.functions.{col, lit}
    import org.apache.spark.sql.sources.{AlwaysTrue, And, EqualNullSafe,
      EqualTo, Filter}
    // materialize the source ONCE: the touched-set derivation, the
    // spec-containment guard and the commit itself all consume it — an
    // expensive SELECT must not run three times
    val rows = derived(data.drop(FactVersioned.VGenCol)).localCheckpoint()
    val pcols = FactVersioned.logicalPartitionColumns(spark, path)
    def flat(f: Filter): Seq[Filter] = f match {
      case And(l, r) => flat(l) ++ flat(r)
      case other => Seq(other)
    }
    // the static spec arrives as partition-column equalities; anything
    // else is a shape this door does not own (dynamic mode is rejected
    // at analysis by the absent OVERWRITE_DYNAMIC capability)
    val spec: Seq[(String, Any)] = filters.toSeq.flatMap(flat).flatMap {
      case _: AlwaysTrue => None
      case EqualTo(a, v) => Some(a -> v)
      case EqualNullSafe(a, v) => Some(a -> v)
      case other => throw new UnsupportedOperationException(
        "GraftCatalog: INSERT OVERWRITE supports a static PARTITION " +
          s"spec or a spec-less full overwrite; got filter $other")
    }
    spec.foreach { case (a, _) =>
      require(pcols.exists(_.equalsIgnoreCase(a)),
        s"GraftCatalog: INSERT OVERWRITE spec column '$a' is not a " +
          s"partition column (${pcols.mkString(", ")})")
    }
    val pred = spec.foldLeft(lit(true)) { case (p, (a, v)) =>
      p && (col(a) <=> lit(v))
    }
    // partition-column-only projection: the scan reads NO data columns
    // (partition values come from dir names) — the truncateTable cost
    // class, not a data scan
    val head = FactVersioned.read(spark, path)
    val headTouched = FactVersioned.touchedTuples(head.where(pred), pcols,
      10000, "GraftCatalog: INSERT OVERWRITE")
    val dataTouched = FactVersioned.touchedTuples(rows, pcols, 10000,
      "GraftCatalog: INSERT OVERWRITE")
    // every inserted row must live inside the spec'd scope — outside
    // rows would land in partitions the delete filter never cleared
    // (Spark injects static spec values as constants, so this only
    // trips hand-built plans)
    if (spec.nonEmpty)
      require(rows.where(!pred).isEmpty,
        "GraftCatalog: INSERT OVERWRITE data holds rows outside the " +
          "static PARTITION spec")
    FactVersioned.replacePartitionsBy(spark, path, rows, pcols,
      (headTouched ++ dataTouched).distinct, retain = retention,
      basisGen = Some(resolvedGen),
      properties = Map("operation" -> "INSERT OVERWRITE"))
    ()
  }

  /** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic` (r17):
    * ONE versioned commit replacing exactly the partitions the DATA
    * holds rows for — the touched set is a partition-column-only
    * distinct over the input (no table scan at all: partitions absent
    * from the data are untouched BY CONSTRUCTION, so unlike the static
    * door there is no head side to the derivation). Same 10k statement
    * cap, same pinned-basis conflict detection, untouched partitions
    * carried byte-identical (gate q176 FS-asserts). An empty input is
    * a no-op by the same contract (nothing to replace), matching
    * Spark's own dynamic-mode file-source semantics. */
  def overwriteDynamic(
      data: org.apache.spark.sql.DataFrame): Unit = {
    // materialize ONCE — the touched-set derivation and the commit
    // both consume the (possibly expensive) SELECT
    val rows = derived(data.drop(FactVersioned.VGenCol)).localCheckpoint()
    val pcols = FactVersioned.logicalPartitionColumns(spark, path)
    val touched = FactVersioned.touchedTuples(rows, pcols, 10000,
      "GraftCatalog: dynamic INSERT OVERWRITE")
    if (touched.nonEmpty)
      FactVersioned.replacePartitionsBy(spark, path, rows, pcols, touched,
        retain = retention, basisGen = Some(resolvedGen),
        properties = Map("operation" -> "INSERT OVERWRITE DYNAMIC"))
    ()
  }

  /** `TRUNCATE TABLE` — VERSIONED emptying: one commit that declares
    * every head partition touched (an unpartitioned table: its root)
    * and stages nothing, so the new head is empty while every retained
    * generation still time-travels (the inverse safety posture of
    * DROP: nothing is destroyed). Cost: one partition-column scan for
    * the touched tuples + a manifest write — never a data rewrite. */
  override def truncateTable(): Boolean = {
    // an already-empty head (no partition dirs in the manifest) has
    // nothing to truncate
    if (FactVersioned.partitionDirs(spark, path, None).isEmpty)
      return true
    val head = FactVersioned.read(spark, path)
    val pcols = FactVersioned.logicalPartitionColumns(spark, path)
    FactVersioned.replacePartitionsBy(spark, path,
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], head.schema),
      pcols, FactVersioned.touchedTuples(head, pcols, 10000,
        "GraftCatalog TRUNCATE"),
      retain = retention, basisGen = Some(resolvedGen),
      properties = Map("operation" -> "TRUNCATE"))
    true
  }
}

/** A table created by CREATE TABLE [AS SELECT] whose first commit has
  * not landed yet: write-only (Spark's CreateTableAsSelectExec writes
  * the query result through this object immediately after
  * createTable). The first insert commits generation 0 THROUGH the
  * store's committer (`replacePartitionsBy` on the declared partition
  * columns — none for an unpartitioned table, whose root is then the
  * one touched partition, even for an empty result) and clears the
  * pending marker; from then on the table resolves like any committed
  * graft table. */
private[catalog] class PendingGraftTable(
    tableName: String,
    path: String,
    ctasSchema: StructType,
    pcols: Seq[String],
    retain: () => Int) extends Table
    with org.apache.spark.sql.connector.catalog.SupportsWrite {
  private def spark: SparkSession = SparkSession.active
  override def name(): String = tableName
  override def schema(): StructType = ctasSchema
  override def partitioning(): Array[Transform] = pcols.map(c =>
    org.apache.spark.sql.connector.expressions.Expressions.identity(c))
    .toArray
  override def properties(): util.Map[String, String] =
    util.Collections.emptyMap()
  override def capabilities()
      : util.Set[org.apache.spark.sql.connector.catalog.TableCapability] = {
    val caps = new util.HashSet[
      org.apache.spark.sql.connector.catalog.TableCapability]()
    caps.add(org.apache.spark.sql.connector.catalog
      .TableCapability.V1_BATCH_WRITE)
    caps
  }
  override def newWriteBuilder(
      info: org.apache.spark.sql.connector.write.LogicalWriteInfo)
      : org.apache.spark.sql.connector.write.WriteBuilder =
    new org.apache.spark.sql.connector.write.WriteBuilder {
      override def build(): org.apache.spark.sql.connector.write.Write =
        new org.apache.spark.sql.connector.write.V1Write {
          override def toInsertableRelation
              : org.apache.spark.sql.sources.InsertableRelation =
            (data0: org.apache.spark.sql.DataFrame, _: Boolean) => {
              // transform-partitioned CTAS: the generated column is
              // derived here — the SELECT never names it
              val data = PartitionTransforms.read(spark, path)
                .fold(data0)(_.derive(data0))
              FactVersioned.replacePartitionsBy(spark, path, data, pcols,
                FactVersioned.touchedTuples(data, pcols, 10000,
                  "GraftCatalog CTAS"),
                retain = retain(),
                properties = Map("operation" -> "CREATE TABLE AS SELECT"))
              val marker = new Path(path, GraftCatalog.PendingMarkerName)
              marker.getFileSystem(spark.sparkContext.hadoopConfiguration)
                .delete(marker, false)
              ()
            }
        }
    }
}
