package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[DataSkipping]]: manifest stats, pruning exactness (pruned scan ≡
  * full filter regardless of layout), all-null-file and empty-result
  * edges. */
class DataSkippingSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_skip_").toString

  test("manifest records per-file min/max/nonnull and row counts") {
    val path = tmp() + "/t"
    // two files with disjoint key ranges, written one partition each
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartitionByRange(2, col("k"))
      .write.parquet(path)
    DataSkipping.writeManifest(spark, path, Seq("k"))
    val m = DataSkipping.readManifest(spark, path).collect()
    assert(m.length == 2)
    assert(m.map(_.getAs[Long]("n_rows")).sum == 100L)
    val ranges = m.map(r =>
      (r.getAs[Long]("min__k"), r.getAs[Long]("max__k"))).sortBy(_._1)
    assert(ranges.head._2 < ranges.last._1, "file ranges should be disjoint")
    assert(m.forall(r => r.getAs[Long]("nonnull__k") == r.getAs[Long]("n_rows")))
  }

  test("pruned scan skips non-matching files and equals the full filter") {
    val path = tmp() + "/t"
    (1 to 1000).map(i => (i.toLong, i % 7)).toDF("k", "m")
      .repartitionByRange(10, col("k"))
      .sortWithinPartitions("k")
      .write.parquet(path)
    DataSkipping.writeManifest(spark, path, Seq("k"))
    val scan = DataSkipping.prunedScan(spark, path,
      Seq(DataSkipping.ColRange("k", lit(150L), lit(250L))))
    assert(scan.report.filesTotal == 10)
    assert(scan.report.filesRead <= 3, s"expected <=3 files, ${scan.report}")
    val expected = spark.read.parquet(path)
      .where(col("k") >= 150 && col("k") <= 250)
    assert(scan.df.count() == expected.count())
    assert(scan.df.except(expected).isEmpty && expected.except(scan.df).isEmpty)
  }

  test("residual filter drops in-file non-matches (unsorted layout)") {
    val path = tmp() + "/t"
    // round-robin layout: every file spans the whole key range, so
    // pruning opens everything and the residual does all the work
    (1 to 400).map(i => (i.toLong, i * 2L)).toDF("k", "w")
      .repartition(4)
      .write.parquet(path)
    DataSkipping.writeManifest(spark, path, Seq("k"))
    val scan = DataSkipping.prunedScan(spark, path,
      Seq(DataSkipping.ColRange("k", lit(100L), lit(120L))))
    assert(scan.report.filesRead == 4)
    assert(scan.df.count() == 21)
    assert(scan.df.agg(min("k"), max("k")).as[(Long, Long)].head() ==
      ((100L, 120L)))
  }

  test("all-null stats column prunes the file; empty result keeps schema") {
    val path = tmp() + "/t"
    val withVals = (1 to 50).map(i => (Some(i.toLong), s"a$i"))
    val allNull = (1 to 50).map(i => (Option.empty[Long], s"b$i"))
    withVals.toDF("k", "v").coalesce(1).write.parquet(path)
    allNull.toDF("k", "v").coalesce(1).write.mode("append").parquet(path)
    DataSkipping.writeManifest(spark, path, Seq("k"))
    val scan = DataSkipping.prunedScan(spark, path,
      Seq(DataSkipping.ColRange("k", lit(1L), lit(100L))))
    assert(scan.report.filesTotal == 2 && scan.report.filesRead == 1,
      s"all-null file must be pruned: ${scan.report}")
    assert(scan.df.count() == 50)

    val none = DataSkipping.prunedScan(spark, path,
      Seq(DataSkipping.ColRange("k", lit(1000L), lit(2000L))))
    assert(none.report.filesRead == 0)
    assert(none.df.isEmpty)
    assert(none.df.columns.toSeq == Seq("k", "v"))
  }

  test("multi-column conjunction prunes on every range") {
    val path = tmp() + "/t"
    // x ascending, y descending: a file matching x's low range has only
    // high y values, so the (low x, low y) box matches zero files
    (1 to 900).map(i => (i.toLong, 1000L - i)).toDF("x", "y")
      .repartitionByRange(9, col("x"))
      .write.parquet(path)
    DataSkipping.writeManifest(spark, path, Seq("x", "y"))
    val scan = DataSkipping.prunedScan(spark, path, Seq(
      DataSkipping.ColRange("x", lit(1L), lit(100L)),
      DataSkipping.ColRange("y", lit(1L), lit(100L))))
    assert(scan.report.filesRead == 0, s"contradictory box: ${scan.report}")
    assert(scan.df.isEmpty)
  }

  test("bloom index prunes point lookups on a scatter column") {
    val path = tmp() + "/t"
    // laid out by d; k is scattered, so min/max can't prune k-lookups
    (1 to 2000).map(i => (i.toLong, (i * 977 % 2000).toLong, s"v$i"))
      .toDF("d", "k", "v")
      .repartitionByRange(10, col("d"))
      .sortWithinPartitions("d")
      .write.parquet(path)
    DataSkipping.writeBloomIndex(spark, path, "k")
    assert(DataSkipping.hasBloomIndex(spark, path, "k"))

    val keys = Seq(3L, 977L, 1500L)
    val scan = DataSkipping.pointLookupScan(spark, path, "k", keys)
    assert(scan.report.filesTotal == 10)
    assert(scan.report.filesRead < 10,
      s"bloom sidecar should skip files: ${scan.report}")
    val got = scan.df.select("k").as[Long].collect().sorted.toSeq
    assert(got == keys.sorted, s"expected exactly $keys, got $got")

    // absent key: residual guarantees zero rows even through FP files
    val none = DataSkipping.pointLookupScan(spark, path, "k", Seq(999999L))
    assert(none.df.isEmpty)
  }

  test("bloom index supports string keys") {
    val path = tmp() + "/t"
    (1 to 500).map(i => (i.toLong, s"user_${i * 13 % 500}"))
      .toDF("seq", "uid")
      .repartitionByRange(5, col("seq"))
      .write.parquet(path)
    DataSkipping.writeBloomIndex(spark, path, "uid")
    val scan = DataSkipping.pointLookupScan(spark, path, "uid",
      Seq("user_7", "user_123"))
    assert(scan.df.count() == 2)
    assert(scan.report.filesRead < scan.report.filesTotal)
  }

  test("missing stats column fails loudly") {
    val path = tmp() + "/t"
    (1 to 10).map(i => (i.toLong, i.toString)).toDF("k", "v")
      .coalesce(1).write.parquet(path)
    DataSkipping.writeManifest(spark, path, Seq("k"))
    val e = intercept[IllegalArgumentException] {
      DataSkipping.prunedScan(spark, path,
        Seq(DataSkipping.ColRange("v", lit("a"), lit("z"))))
    }
    assert(e.getMessage.contains("no stats for column v"))
  }
}
