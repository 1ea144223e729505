package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** Partition-scoped upsert/promote over [[FactVersioned]] tables (the
  * at-scale write path): MERGE semantics must equal the flat
  * [[Upsert.upsert]] / [[Merge.promote]], while only the touched
  * partitions get new files — an untouched partition's manifest rows
  * and files carry over verbatim. */
class PartitionedUpsertSpec extends SparkSpec {
  import spark.implicits._

  private def tmpDir(): String =
    Files.createTempDirectory("graft_pupsert_").toString

  private def d(s: String) = java.sql.Date.valueOf(s)

  private def seed = Seq(
    (1L, d("2024-01-01"), "a", 10),
    (2L, d("2024-01-01"), "b", 20),
    (3L, d("2024-01-02"), "c", 30),
    (4L, d("2024-01-03"), "d", 40))
    .toDF("id", "p_date", "name", "v")

  private def writeSeed(path: String, df: DataFrame = seed): Unit = {
    FactVersioned.upsert(spark, path, df, Seq("id"), "p_date")
    ()
  }

  private def same(a: DataFrame, b: DataFrame): Boolean =
    a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty

  /** (file, length, mtime) of every head-manifest file under `dir` —
    * the carried-verbatim witness. */
  private def fileState(path: String, dir: String): Seq[(String, Long, Long)] = {
    val data = new Path(path, FactVersioned.DataDir)
    val fs = data.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val g = FactVersioned.generations(spark, path).max
    FactVersioned.manifestFiles(spark, path, g).filter(_._1 == dir)
      .map { case (_, f) =>
        val st = fs.getFileStatus(new Path(data, f))
        (f, st.getLen, st.getModificationTime)
      }.sortBy(_._1)
  }

  test("upsertBatchBy matches flat upsert semantics") {
    val path = tmpDir() + "/t"
    writeSeed(path)
    val batch = Seq(
      (Some(2L), d("2024-01-01"), "b1", 100), // update in a touched
      (Some(2L), d("2024-01-01"), "b2", 200), // partition, redelivered:
      (Some(9L), d("2024-01-02"), "i", 90),   // the last one wins; an
      (None, d("2024-01-02"), "n", 1),        // insert; two NULL keys,
      (None, d("2024-01-02"), "n", 1))        // both inserted
      .toDF("id", "p_date", "name", "v").coalesce(1)
    FactVersioned.upsertBatchBy(spark, path, batch, Seq("id"),
      Seq("p_date"))
    val got = FactVersioned.read(spark, path)
    assert(same(got, Upsert.upsert(seed, batch, Seq("id"))))
    assert(got.where($"id" === 2L).select("name").as[String].collect()
      .toSeq === Seq("b2"))
    assert(got.where($"id".isNull).count() === 2)
  }

  test("untouched partition dirs are byte-identical after an upsert") {
    val path = tmpDir() + "/t"
    writeSeed(path)
    val before02 = fileState(path, "p_date=2024-01-02")
    val before03 = fileState(path, "p_date=2024-01-03")
    assert(before02.nonEmpty && before03.nonEmpty)
    Thread.sleep(5) // make an accidental rewrite visible in mtimes
    val updates = Seq((1L, d("2024-01-01"), "a2", 11))
      .toDF("id", "p_date", "name", "v")
    val commit =
      FactVersioned.upsert(spark, path, updates, Seq("id"), "p_date")
    assert(commit.rewrittenDirs === Seq("p_date=2024-01-01"))
    // the new manifest carries the untouched partitions' files verbatim
    assert(fileState(path, "p_date=2024-01-02") === before02)
    assert(fileState(path, "p_date=2024-01-03") === before03)
    // and the touched partition DID change
    val got = FactVersioned.read(spark, path)
    assert(got.where($"id" === 1L).select("name").as[String].head() === "a2")
    assert(got.count() === 4)
  }

  test("partition-pruned scan: untouched partitions are not read") {
    val path = tmpDir() + "/t"
    writeSeed(path)
    val pruned = FactVersioned.readDirs(spark, path, None,
      Seq("p_date=2024-01-01"))
    // the manifest prunes before the scan: of the three partitions only
    // the touched one's file is opened (executed numFiles metric)
    assert(pruned.collect().length === 2) // ids 1,2 live there
    val scan = pruned.queryExecution.executedPlan.collectLeaves()
      .find(_.metrics.contains("numFiles")).get
    assert(scan.metrics("numFiles").value ===
      fileState(path, "p_date=2024-01-01").size)
  }

  test("emptied partitions are deleted; others untouched") {
    val path = tmpDir() + "/t"
    writeSeed(path)
    val before03 = fileState(path, "p_date=2024-01-03")
    // rewrite 01-01 (keep one row) and empty 01-02 entirely
    val replacement = Seq((1L, d("2024-01-01"), "only", 1))
      .toDF("id", "p_date", "name", "v")
    val commit = FactVersioned.replacePartitions(spark, path, replacement,
      "p_date", Seq(d("2024-01-01"), d("2024-01-02")))
    assert(commit.rewrittenDirs === Seq("p_date=2024-01-01"))
    assert(FactVersioned.partitionDirs(spark, path) ===
      Seq("p_date=2024-01-01", "p_date=2024-01-03"))
    assert(fileState(path, "p_date=2024-01-03") === before03)
    val got = FactVersioned.read(spark, path)
    assert(got.select("id").as[Long].collect().sorted === Array(1L, 4L))
  }

  test("string (escaped), int and null partition values round-trip") {
    val path = tmpDir() + "/t"
    val df = Seq(
      (1L, "plain", 1), (2L, "with space:colon", 2), (3L, null, 3))
      .toDF("id", "p", "v")
    FactVersioned.upsert(spark, path, df, Seq("id"), "p")
    assert(same(FactVersioned.read(spark, path), df))
    // dir-name derivation matches what Spark's writer actually produced:
    // rewriting the escaped-string partition must replace it in place,
    // not duplicate it under a differently-escaped name
    val up = Seq((2L, "with space:colon", 22)).toDF("id", "p", "v")
    val commit = FactVersioned.upsert(spark, path, up, Seq("id"), "p")
    assert(commit.rewrittenDirs.size === 1)
    assert(FactVersioned.partitionDirs(spark, path).size === 3)
    val after = FactVersioned.read(spark, path)
    assert(after.count() === 3)
    assert(after.where($"id" === 2L).select("v").as[Int].head() === 22)
    // null partition upsert lands in the Hive default partition
    val upNull = Seq((3L, null.asInstanceOf[String], 33)).toDF("id", "p", "v")
    assert(FactVersioned.upsert(spark, path, upNull, Seq("id"), "p")
      .rewrittenDirs === Seq("p=__HIVE_DEFAULT_PARTITION__"))
    val after2 = FactVersioned.read(spark, path)
    assert(after2.where($"p".isNull).select("v").as[Int].head() === 33)
    assert(after2.count() === 3)
    // an INT partition column reads back typed, not as a string
    val ints = tmpDir() + "/i"
    val byInt = Seq((1L, 7, "x"), (2L, -3, "y")).toDF("id", "p", "v")
    FactVersioned.upsert(spark, ints, byInt, Seq("id"), "p")
    val back = FactVersioned.read(spark, ints)
    assert(back.schema("p").dataType == org.apache.spark.sql.types.IntegerType)
    assert(same(back, byInt))
  }

  test("promotePartitioned: only promoted partitions rewritten, " +
      "semantics match flat promote within touched partitions") {
    val root = tmpDir()
    val stagingPath = s"$root/staging"
    val mainPath = s"$root/main"
    // staging: children across 3 date partitions; parents exist only
    // for ids 1 and 2 (both in 2024-01-01) — 01-02/01-03 stay parked
    val staging = Seq(
      (1L, d("2024-01-01"), 100L, "x"),
      (2L, d("2024-01-01"), 200L, "y"),
      (3L, d("2024-01-02"), 999L, "z"),
      (4L, d("2024-01-03"), 888L, "w"))
      .toDF("id", "p_date", "fk", "payload")
    writeSeed(stagingPath, staging)
    val before02 = fileState(stagingPath, "p_date=2024-01-02")
    val parent = Seq(100L, 200L).toDF("pk")
    val res = Merge.promotePartitioned(spark, stagingPath, parent,
      "fk", "pk", mainPath, Seq("id"), "p_date").get
    assert(res.main.rewrittenDirs === Seq("p_date=2024-01-01"))
    // staging's 01-01 partition emptied (both rows promoted)
    assert(res.staging.rewrittenDirs.isEmpty)
    assert(FactVersioned.partitionDirs(spark, stagingPath) ===
      Seq("p_date=2024-01-02", "p_date=2024-01-03"))
    assert(fileState(stagingPath, "p_date=2024-01-02") === before02)
    val flat = Merge.promote(staging, parent, "fk", "pk",
      staging.limit(0), Seq("id"))
    assert(same(FactVersioned.read(spark, mainPath), flat.main))
    assert(same(FactVersioned.read(spark, stagingPath), flat.staging))
    // nothing gated ⇒ no write at all
    val gens = FactVersioned.generations(spark, stagingPath)
    assert(Merge.promotePartitioned(spark, stagingPath,
      Seq(777L).toDF("pk"), "fk", "pk", mainPath, Seq("id"),
      "p_date").isEmpty)
    assert(FactVersioned.generations(spark, stagingPath) === gens)
  }

  test("promotePartitioned: a crash between the two commits re-promotes " +
      "idempotently") {
    val root = tmpDir()
    val stagingPath = s"$root/staging"
    val mainPath = s"$root/main"
    val staging = Seq(
      (1L, d("2024-01-01"), 100L, "x"),
      (2L, d("2024-01-02"), 100L, "y"),
      (3L, d("2024-01-02"), 999L, "z"))
      .toDF("id", "p_date", "fk", "payload")
    writeSeed(stagingPath, staging)
    val parent = Seq(100L).toDF("pk")
    // the staging commit dies inside its protocol, after main committed
    val boom = intercept[RuntimeException] {
      Merge.promotePartitioned(spark, stagingPath, parent, "fk", "pk",
        mainPath, Seq("id"), "p_date", preCommit = table =>
          if (table == stagingPath) throw new RuntimeException("crash"))
    }
    assert(boom.getMessage === "crash")
    assert(FactVersioned.read(spark, mainPath).count() === 2)
    assert(FactVersioned.read(spark, stagingPath).count() === 3)
    // the rerun promotes the same rows again: once each in main, and
    // gone from staging
    Merge.promotePartitioned(spark, stagingPath, parent, "fk", "pk",
      mainPath, Seq("id"), "p_date")
    assert(FactVersioned.read(spark, mainPath).select("id").as[Long]
      .collect().sorted.toSeq === Seq(1L, 2L))
    assert(FactVersioned.read(spark, stagingPath).select("id").as[Long]
      .collect().toSeq === Seq(3L))
  }

  test("promotePartitioned: a staging commit landing mid-promote on a " +
      "touched partition makes it retry, and the newer row reaches main") {
    val root = tmpDir()
    val stagingPath = s"$root/staging"
    val mainPath = s"$root/main"
    val staging = Seq(
      (1L, d("2024-01-01"), 100L, "old"),
      (2L, d("2024-01-02"), 999L, "parked"))
      .toDF("id", "p_date", "fk", "payload")
    writeSeed(stagingPath, staging)
    val newer = Seq((1L, d("2024-01-01"), 100L, "new"))
      .toDF("id", "p_date", "fk", "payload")
    // A staging commit cannot land inside the staging commit's own
    // hook (claims publish in number order, so it would wait on the
    // promote's claim); it lands inside the main commit instead —
    // after the promote read staging, before its staging commit.
    var landed = 0
    val res = Merge.promotePartitioned(spark, stagingPath,
      Seq(100L).toDF("pk"), "fk", "pk", mainPath, Seq("id"), "p_date",
      preCommit = table =>
        if (table == mainPath && landed == 0) {
          landed += 1
          FactVersioned.upsert(spark, stagingPath, newer, Seq("id"),
            "p_date")
        })
    assert(landed === 1 && res.nonEmpty)
    // main committed twice (the first attempt's "old", then the retry's
    // "new"); staging gained the foreign commit and the retry's drop
    assert(FactVersioned.generations(spark, mainPath).size === 2)
    assert(FactVersioned.read(spark, mainPath)
      .select("id", "payload").as[(Long, String)].collect().toSeq ===
      Seq((1L, "new")))
    assert(FactVersioned.read(spark, stagingPath).select("id").as[Long]
      .collect().toSeq === Seq(2L))
  }

  test("touched-partition guard fails loudly on a mis-chosen column") {
    val path = tmpDir() + "/t"
    val updates = (1 to 50).map(i => (i.toLong, i, "x"))
      .toDF("id", "p", "name")
    val e = intercept[IllegalArgumentException] {
      FactVersioned.upsert(spark, path, updates, Seq("id"), "p",
        maxTouchedPartitions = 10)
    }
    assert(e.getMessage.contains("partitions"))
    assert(FactVersioned.generations(spark, path).isEmpty)
  }
}
