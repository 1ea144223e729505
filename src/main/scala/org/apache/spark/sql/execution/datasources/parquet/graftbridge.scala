package org.apache.spark.sql.execution.datasources.parquet

import org.apache.hadoop.fs.Path
import org.apache.parquet.hadoop.Footer
import org.apache.parquet.hadoop.metadata.ParquetMetadata
import org.apache.spark.sql.{SparkSession, classic}
import org.apache.spark.sql.catalyst.util.CharVarcharUtils
import org.apache.spark.sql.types.StructType
import org.apache.spark.util.HadoopFSUtils

/** Bridge to Spark's parquet schema inference for ONE footer read on
  * the driver (`ParquetFileFormat.readSchemaFromFooter` and the file
  * listing's hidden-name rule are package- or spark-private). Together
  * they give the schema `spark.read.parquet(dir)` would infer, without
  * the one-task job Spark schedules to read that footer. */
object GraftParquetBridge {

  /** Whether Spark's file listing skips a file or dir of this name
    * (`_`- and `.`-prefixed names except the parquet summary files). */
  def hiddenName(name: String): Boolean =
    HadoopFSUtils.shouldFilterOutPathName(name)

  /** Whether the session merges part-file schemas on read
    * (`spark.sql.parquet.mergeSchema`): inference then reads every
    * footer, not one. */
  def mergeSchemaEnabled(spark: SparkSession): Boolean =
    conf(spark).isParquetSchemaMergingEnabled

  /** The schema Spark's inference derives from the footer of `file`:
    * the Spark schema recorded in its metadata, else the parquet schema
    * converted under the session's SQL conf. None when the schema holds
    * CHAR/VARCHAR types, which `DataFrameReader.schema` refuses. */
  def schemaOf(
      spark: SparkSession, file: Path, footer: ParquetMetadata): Option[StructType] = {
    val s = ParquetFileFormat.readSchemaFromFooter(new Footer(file, footer),
      new ParquetToSparkSchemaConverter(conf(spark)))
    if (CharVarcharUtils.hasCharVarchar(s)) None else Some(s)
  }

  private def conf(spark: SparkSession) =
    spark.asInstanceOf[classic.SparkSession].sessionState.conf
}
