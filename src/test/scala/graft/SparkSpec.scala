package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.scalatest.BeforeAndAfterAll
import org.scalatest.funsuite.AnyFunSuite

import graft.operators.FactVersioned

/** Shared local SparkSession for specs (one per suite, local[4]). */
trait SparkSpec extends AnyFunSuite with BeforeAndAfterAll {
  lazy val spark: SparkSession = SparkSpec.session

  /** Commit `df` as the whole content of the UNPARTITIONED table at
    * `path`: its one partition, the root, is declared touched. */
  def commitWhole(
      df: DataFrame, path: String, retain: Int = 3): FactVersioned.Commit =
    FactVersioned.replacePartitionsBy(df.sparkSession, path, df, Nil,
      Seq(Nil), retain)

  override def afterAll(): Unit = () // keep the shared session alive
}

object SparkSpec {
  lazy val session: SparkSession = {
    val s = SparkSession.builder()
      .master("local[4]")
      .appName("graft-test")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.ui.enabled", "false")
      .getOrCreate()
    s.sparkContext.setLogLevel("WARN")
    s
  }
}
