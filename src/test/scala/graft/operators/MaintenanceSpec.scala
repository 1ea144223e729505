package graft.operators

import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Snapshot compaction: fragmented tables collapse to the target file
  * count with identical data; healthy tables are left untouched. */
class MaintenanceSpec extends SparkSpec {
  import spark.implicits._

  test("compactSnapshot merges fragmented snapshots, preserves data") {
    val dir = java.nio.file.Files.createTempDirectory("graft_compact").toString
    val path = s"$dir/tbl"
    val df = (1 to 1000).map(i => (i.toLong, s"row$i")).toDF("id", "v")
    Upsert.writeSnapshot(df.repartition(20), path)

    val before = Maintenance.compactSnapshot(spark, path,
      targetFileBytes = 512L * 1024 * 1024)
    assert(before.compacted && before.filesBefore === 20)
    assert(before.filesAfter === 1)
    val after = spark.read.parquet(path)
    assert(after.count() === 1000)
    assert(after.exceptAll(df).isEmpty && df.exceptAll(after).isEmpty)
    // crash-safety preserved: previous fragmented generation in __prev
    assert(Upsert.readSnapshot(spark, path).isDefined)

    // second run: table is healthy now — no rewrite, report says so
    val again = Maintenance.compactSnapshot(spark, path,
      targetFileBytes = 512L * 1024 * 1024)
    assert(!again.compacted && again.filesBefore === 1)
  }

  test("compactSnapshot is a safe no-op when no primary directory exists") {
    val dir = java.nio.file.Files.createTempDirectory("graft_cnone").toString
    // never-written table
    val r = Maintenance.compactSnapshot(spark, s"$dir/none")
    assert(!r.compacted && r.filesBefore === 0)
    // mid-swap crash window: only __prev exists — must not throw and
    // must leave __prev untouched for readSnapshot to recover
    val path = s"$dir/tbl"
    Upsert.writeSnapshot(Seq((1, "a")).toDF("id", "v"), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__prev"))
    val r2 = Maintenance.compactSnapshot(spark, path)
    assert(!r2.compacted)
    assert(Upsert.readSnapshot(spark, path).get.count() === 1)
  }

  test("writePartitioned lays out partition dirs and prunes on read") {
    val dir = java.nio.file.Files.createTempDirectory("graft_part").toString
    val path = s"$dir/events"
    val df = Seq(
      ("2025-01-01", 1L, "a"), ("2025-01-01", 2L, "b"),
      ("2025-01-02", 3L, "c"))
      .toDF("day", "id", "v")
    Maintenance.writePartitioned(df, path, Seq("day"), Seq("id"))
    val back = spark.read.parquet(path)
    assert(back.count() === 3)
    // partition pruning: the day filter must not scan the other dir
    val pruned = back.where(col("day") === "2025-01-02")
    assert(pruned.count() === 1)
    val scan = pruned.queryExecution.executedPlan.toString
    assert(!scan.contains("2025-01-01"), scan.take(800))
  }

  test("writePartitioned filesPerPartition salts a large partition") {
    val dir = java.nio.file.Files.createTempDirectory("graft_salt").toString
    val path = s"$dir/fat"
    // one fat partition value: salt must spread it over multiple files
    val df = (1 to 4000).map(i => ("2025-01-01", i.toLong)).toDF("day", "id")
    Maintenance.writePartitioned(df, path, Seq("day"), Seq("id"),
      filesPerPartition = 4)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val files = fs.listStatus(
      new org.apache.hadoop.fs.Path(s"$path/day=2025-01-01"))
      .count(f => f.getPath.getName.endsWith(".parquet"))
    // hash collisions make the spread approximate (2..4 files) — the
    // property that matters is NOT one straggler task
    assert(files >= 2 && files <= 4, s"expected 2..4 salted files, got $files")
    assert(spark.read.parquet(path).count() === 4000)
  }

  test("healthReport: flags fragmentation, pure metadata, both layouts") {
    val dir = java.nio.file.Files.createTempDirectory("graft_health").toString
    // flat healthy: one file
    val flat = s"$dir/flat"
    (1 to 100).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .coalesce(1).write.parquet(flat)
    val h1 = Maintenance.healthReport(spark, flat)
    assert(h1.files == 1 && !h1.recommendCompaction)
    assert(h1.partitions == 0 && h1.bytes > 0)

    // flat fragmented: many tiny files vs a tiny target
    val frag = s"$dir/frag"
    (1 to 1000).map(i => (i.toLong, s"v$i")).toDF("k", "v")
      .repartition(20).write.parquet(frag)
    val h2 = Maintenance.healthReport(spark, frag,
      targetFileBytes = 1L << 30, smallFileBytes = 1L << 30)
    assert(h2.files == 20)
    assert(h2.smallFileFraction == 1.0)
    assert(h2.recommendCompaction, s"20 files vs 1 ideal: $h2")
    assert(h2.medianFileBytes <= h2.maxFileBytes)

    // partitioned layout counts dirs and their files
    val part = s"$dir/part"
    (1 to 200).map(i => (i.toLong, i % 4, s"v$i")).toDF("k", "p", "v")
      .write.partitionBy("p").parquet(part)
    val h3 = Maintenance.healthReport(spark, part)
    assert(h3.partitions == 4 && h3.files >= 4)

    // missing table: a friendly zero, not an exception
    val h4 = Maintenance.healthReport(spark, s"$dir/nope")
    assert(h4.files == 0 && !h4.recommendCompaction)
  }
}
