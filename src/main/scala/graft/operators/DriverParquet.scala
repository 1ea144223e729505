package graft.operators

import scala.util.control.NonFatal

import org.apache.hadoop.conf.Configuration
import org.apache.hadoop.fs.{FileStatus, FileSystem, Path}
import org.apache.parquet.HadoopReadOptions
import org.apache.parquet.example.data.Group
import org.apache.parquet.example.data.simple.SimpleGroup
import org.apache.parquet.format.converter.ParquetMetadataConverter
import org.apache.parquet.hadoop.{ParquetFileReader, ParquetFileWriter, ParquetWriter}
import org.apache.parquet.hadoop.example.ExampleParquetWriter
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.parquet.hadoop.util.{HadoopInputFile, HadoopOutputFile}
import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, Types}
import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.execution.datasources.parquet.GraftParquetBridge
import org.apache.spark.sql.types.StructType

/** Driver-side reads and writes of METADATA-SCALE parquet sidecars
  * (file lists, manifests, centroids, tiny registries) with
  * parquet-hadoop — zero Spark jobs where a
  * `spark.read.parquet(...).collect()` or a `coalesce(1).write` paid a
  * full job/stage-barrier for kilobytes (optimization guide §1.2 step
  * 1 / §5). Callers must always fall back to the Spark read or write
  * when a helper returns None or false: the driver path refuses
  * anything oversized or structurally surprising rather than
  * guessing. */
object DriverParquet {

  /** Sidecars above this total size read through Spark — the driver
    * must not copy large data single-threaded. */
  val MaxBytes: Long = 16L * 1024L * 1024L

  private[operators] def footerSchema(conf: Configuration, f: FileStatus): MessageType = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf))
    try r.getFooter.getFileMetaData.getSchema finally r.close()
  }

  /** `f`'s footer without its row-group metadata: the part Spark's
    * schema inference reads. */
  private def fileFooter(conf: Configuration, f: FileStatus): ParquetMetadata = {
    val r = ParquetFileReader.open(HadoopInputFile.fromStatus(f, conf),
      HadoopReadOptions.builder(conf)
        .withMetadataFilter(ParquetMetadataConverter.SKIP_ROW_GROUPS).build())
    try r.getFooter finally r.close()
  }

  /** The schema `spark.read.parquet(dir)` infers for the flat parquet
    * dir whose listing is `listing`, from ONE footer read on the driver
    * instead of a Spark job. The footer is the one Spark's inference
    * (`ParquetUtils.inferSchema`) reads — `_common_metadata`, else
    * `_metadata`, else the first data file in path order — and Spark's
    * own function turns it into the schema. None ⇒ the caller must let
    * Spark infer, so Spark's result or error stands: no data file, a
    * visible subdirectory (partition discovery), schema merging on, or
    * a footer the driver cannot read. */
  def inferredSchema(
      spark: SparkSession,
      conf: Configuration,
      listing: Seq[FileStatus]): Option[StructType] = {
    import ParquetFileWriter.{PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE}
    val visible = listing
      .filterNot(f => GraftParquetBridge.hiddenName(f.getPath.getName))
      .sortBy(_.getPath.toString)
    if (GraftParquetBridge.mergeSchemaEnabled(spark) ||
        visible.exists(_.isDirectory)) return None
    def named(n: String) = visible.find(_.getPath.getName == n)
    val summaries = Set(PARQUET_COMMON_METADATA_FILE, PARQUET_METADATA_FILE)
    visible.find(f => !summaries(f.getPath.getName)).flatMap { firstData =>
      val f = named(PARQUET_COMMON_METADATA_FILE)
        .orElse(named(PARQUET_METADATA_FILE)).getOrElse(firstData)
      try GraftParquetBridge.schemaOf(spark, f.getPath, fileFooter(conf, f))
      catch { case NonFatal(_) => None }
    }
  }

  private def parquetFilesUnder(
      fs: FileSystem, dir: Path): Option[Seq[FileStatus]] = {
    def walk(p: Path): Seq[FileStatus] =
      fs.listStatus(p).toSeq.flatMap { st =>
        if (st.isDirectory) walk(st.getPath)
        else if (st.getPath.getName.endsWith(".parquet")) Seq(st)
        else Seq.empty
      }
    try {
      val files = walk(dir)
      if (files.map(_.getLen).sum > MaxBytes) None else Some(files)
    } catch { case _: java.io.IOException => None }
  }

  /** Every value of string column `column` across the parquet files
    * under `dir` (recursing through hive-style partition subdirs),
    * read on the driver. None ⇒ caller must use the Spark read
    * (oversized, missing/non-string column, or any read surprise).
    * Null cells are skipped — the intended consumers' columns are
    * never-null by construction. */
  def readStringColumn(
      fs: FileSystem,
      conf: Configuration,
      dir: Path,
      column: String): Option[Seq[String]] = {
    import org.apache.parquet.hadoop.example.GroupReadSupport
    try {
      val files = parquetFilesUnder(fs, dir).getOrElse(return None)
      val out = Seq.newBuilder[String]
      files.foreach { f =>
        val footer = footerSchema(conf, f)
        if (!footer.containsField(column)) return None
        val idx = footer.getFieldIndex(column)
        val t = footer.getType(idx)
        if (!t.isPrimitive ||
            t.asPrimitiveType().getPrimitiveTypeName !=
              org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName.BINARY)
          return None
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new GroupReadSupport(), f.getPath).withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            if (g.getFieldRepetitionCount(idx) > 0)
              out += g.getString(idx, 0)
            g = reader.read()
          }
        } finally reader.close()
      }
      Some(out.result())
    } catch { case _: java.io.IOException => None }
  }

  /** Every row of int columns `keys` plus double-array column `column`
    * across the parquet files under `dir` (the layout Spark writes for
    * `(Int…, Seq[Double])` rows), read on the driver in file order.
    * None ⇒ caller must use the Spark read (oversized, other types, a
    * null cell or element, or any read surprise). */
  def readIntKeyedDoubles(
      fs: FileSystem,
      conf: Configuration,
      dir: Path,
      keys: Seq[String],
      column: String): Option[Seq[(Seq[Int], Array[Double])]] = {
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import PrimitiveTypeName.{DOUBLE, INT32}
    def isPrim(t: org.apache.parquet.schema.Type, p: PrimitiveTypeName) =
      t.isPrimitive && t.asPrimitiveType().getPrimitiveTypeName == p
    try {
      val files = parquetFilesUnder(fs, dir).getOrElse(return None)
      val out = Seq.newBuilder[(Seq[Int], Array[Double])]
      files.foreach { f =>
        val schema = footerSchema(conf, f)
        if (!(keys :+ column).forall(schema.containsField)) return None
        val keyIdx = keys.map(schema.getFieldIndex)
        if (!keyIdx.forall(i => isPrim(schema.getType(i), INT32))) return None
        // the standard three-level LIST: group (LIST) { repeated group
        // list { double element } }
        val arrIdx = schema.getFieldIndex(column)
        val arr = schema.getType(arrIdx)
        if (arr.isPrimitive ||
            !(arr.getLogicalTypeAnnotation
              .isInstanceOf[LogicalTypeAnnotation.ListLogicalTypeAnnotation]) ||
            arr.asGroupType().getFieldCount != 1) return None
        val rep = arr.asGroupType().getType(0)
        if (rep.isPrimitive || rep.asGroupType().getFieldCount != 1 ||
            !isPrim(rep.asGroupType().getType(0), DOUBLE)) return None
        val reader = org.apache.parquet.hadoop.ParquetReader
          .builder(new GroupReadSupport(), f.getPath).withConf(conf).build()
        try {
          var g = reader.read()
          while (g != null) {
            if (keyIdx.exists(g.getFieldRepetitionCount(_) == 0) ||
                g.getFieldRepetitionCount(arrIdx) == 0) return None
            val list = g.getGroup(arrIdx, 0)
            val values = Array.tabulate(list.getFieldRepetitionCount(0)) { i =>
              val e = list.getGroup(0, i)
              if (e.getFieldRepetitionCount(0) == 0) return None
              e.getDouble(0, 0)
            }
            out += ((keyIdx.map(g.getInteger(_, 0)), values))
            g = reader.read()
          }
        } finally reader.close()
      }
      Some(out.result())
    } catch { case _: java.io.IOException => None }
  }

  /** A writer of ONE snappy parquet file under `dir` (created when
    * absent), named like Spark's part-files, so Spark and the readers
    * above see an ordinary one-file parquet dir. For metadata-scale
    * rows only: everything goes through the driver. */
  def partFileWriter(
      fs: FileSystem,
      conf: Configuration,
      dir: Path,
      schema: MessageType): ParquetWriter[Group] = {
    fs.mkdirs(dir)
    ExampleParquetWriter
      .builder(HadoopOutputFile.fromPath(new Path(dir,
        s"part-00000-${java.util.UUID.randomUUID()}-c000.snappy.parquet"), conf))
      .withConf(conf)
      .withType(schema)
      .withCompressionCodec(
        org.apache.parquet.hadoop.metadata.CompressionCodecName.SNAPPY)
      .build()
  }

  /** Write `values` as the one string column `column` of a single
    * parquet file under `dir`, on the driver. False, with nothing
    * written, when the values exceed [[MaxBytes]]: the caller writes
    * through Spark instead. */
  def writeStringColumn(
      fs: FileSystem,
      conf: Configuration,
      dir: Path,
      column: String,
      values: Seq[String]): Boolean = {
    if (values.iterator.map(_.length.toLong).sum > MaxBytes) return false
    val schema = new MessageType("spark_schema",
      Types.optional(PrimitiveTypeName.BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(column))
    val w = partFileWriter(fs, conf, dir, schema)
    try values.foreach { v =>
      val g = new SimpleGroup(schema)
      g.add(0, v)
      w.write(g)
    } finally w.close()
    true
  }
}
