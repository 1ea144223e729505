package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** K1-K4 upsert semantics (ref: src/db/load.py:71-191) — insert path,
  * update path, composite keys, Postgres NULL-distinctness, last-write-
  * wins within a batch, idempotence. */
class UpsertSpec extends SparkSpec {
  import spark.implicits._

  private def target = Seq(
    ("u1", "a@x.com", 1), ("u2", "b@x.com", 2), ("u3", "c@x.com", 3))
    .toDF("id", "email", "v")

  test("insert-new and update-existing in one batch") {
    val updates = Seq(("u2", "b2@x.com", 20), ("u9", "new@x.com", 9))
      .toDF("id", "email", "v")
    val out = Upsert.upsert(target, updates, Seq("id"))
      .as[(String, String, Int)].collect().sortBy(_._1)
    assert(out === Array(
      ("u1", "a@x.com", 1), ("u2", "b2@x.com", 20),
      ("u3", "c@x.com", 3), ("u9", "new@x.com", 9)))
  }

  test("last-write-wins among conflicting rows in one batch") {
    val updates = Seq(("u2", "first@x", 1), ("u2", "last@x", 2))
      .toDF("id", "email", "v")
    val out = Upsert.upsert(target, updates, Seq("id"),
      orderBy = Some(col("v")))
    val u2 = out.where($"id" === "u2").as[(String, String, Int)].collect()
    assert(u2 === Array(("u2", "last@x", 2)))
  }

  test("composite key upsert") {
    val t = Seq(("m1", "u1", 10), ("m1", "u2", 20)).toDF("muuid", "uid", "d")
    val u = Seq(("m1", "u2", 99), ("m2", "u1", 5)).toDF("muuid", "uid", "d")
    val out = Upsert.upsert(t, u, Seq("muuid", "uid"))
      .as[(String, String, Int)].collect().sortBy(r => (r._1, r._2))
    assert(out === Array(("m1", "u1", 10), ("m1", "u2", 99), ("m2", "u1", 5)))
  }

  test("NULL keys never conflict (Postgres distinct-NULL semantics, K3)") {
    // two guests (null uid) in one meeting must BOTH survive, and a
    // null-key update must not collapse an existing null-key row
    val t = Seq(("m1", null, 1), ("m1", "u1", 2))
      .toDF("muuid", "uid", "d")
    val u = Seq(("m1", null, 3), ("m1", null, 4)).toDF("muuid", "uid", "d")
    val out = Upsert.upsert(t, u, Seq("muuid", "uid"))
    assert(out.count() === 4) // u1 row + original null + two new nulls
    assert(out.where($"uid".isNull).count() === 3)
  }

  test("idempotence: upsert(upsert(t,b),b) == upsert(t,b)") {
    val b = Seq(("u2", "x@x", 7), ("u7", "y@y", 8)).toDF("id", "email", "v")
    val once = Upsert.upsert(target, b, Seq("id"), orderBy = Some(col("v")))
    val twice = Upsert.upsert(once, b, Seq("id"), orderBy = Some(col("v")))
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("dedupNullKeyed makes guest replay idempotent, keeps distinct guests") {
    // replaying the same batch must not re-append the null-keyed guest,
    // but a guest differing in any column is a genuine new row
    val t = Seq(("m1", null, 1), ("m1", "u1", 2)).toDF("muuid", "uid", "d")
    val b = Seq(("m1", null, 1), ("m1", null, 9)).toDF("muuid", "uid", "d")
    val once = Upsert.upsert(t, b, Seq("muuid", "uid"), dedupNullKeyed = true)
    // (m1,null,1) already in target → skipped; (m1,null,9) new → inserted
    assert(once.count() === 3)
    val twice = Upsert.upsert(once, b, Seq("muuid", "uid"),
      dedupNullKeyed = true)
    assert(twice.count() === 3)
    assert(once.exceptAll(twice).isEmpty && twice.exceptAll(once).isEmpty)
  }

  test("the one-window upsert writes with fewer Spark jobs than the " +
      "three-branch model, to the same rows") {
    val dir = java.nio.file.Files.createTempDirectory("graft_jobs").toString
    Upsert.writeSnapshot(Seq(("m1", null, 1), ("m1", "u1", 2),
      ("m2", "u2", 3)).toDF("muuid", "uid", "d"), s"$dir/t")
    val t = Upsert.readSnapshot(spark, s"$dir/t").get
    val u = Seq(("m1", "u1", 20), ("m1", "u1", 21), ("m3", null, 4),
      ("m3", "u3", 5)).toDF("muuid", "uid", "d")
    val keys = Seq("muuid", "uid")
    // one window over target ∪ updates, whichever way NULL keys go
    Seq(false, true).foreach { dedup =>
      val plan = Upsert.upsert(t, u, keys, Some(col("d")), dedup)
        .queryExecution.optimizedPlan
      assert(plan.collect { case w: org.apache.spark.sql.catalyst.plans
        .logical.Window => w }.size == 1, plan)
    }
    val fused = jobsOf(Upsert.writeSnapshot(
      Upsert.upsert(t, u, keys, Some(col("d"))), s"$dir/fused"))
    val model = jobsOf(Upsert.writeSnapshot(
      UpsertSpec.threeBranch(t, u, keys, Some(col("d"))), s"$dir/model"))
    assert(fused < model, s"one-window $fused jobs, three-branch $model")
    val (a, b) = (spark.read.parquet(s"$dir/fused"),
      spark.read.parquet(s"$dir/model"))
    assert(a.count() == 5 && a.exceptAll(b).isEmpty && b.exceptAll(a).isEmpty)
  }

  test("recovery write from a __prev-only state commits before cleanup") {
    // after a mid-swap crash only __prev exists; the next write must
    // land the new primary FIRST and delete __prev after — deleting
    // first would open a window with NO generation on disk
    val dir = java.nio.file.Files.createTempDirectory("graft_rec").toString
    val path = s"$dir/tbl"
    Upsert.writeSnapshot(Seq(("old", 1)).toDF("k", "v"), path)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__prev"))
    // recovery-cycle write (reads would have come from __prev)
    Upsert.writeSnapshot(Seq(("new", 2)).toDF("k", "v"), path)
    assert(spark.read.parquet(path).as[(String, Int)].collect()
      === Array(("new", 2)))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(path + "__prev")))
  }

  test("writeSnapshots stages its plans at once, tags their jobs with " +
      "the table, and swaps no table when one plan fails to stage") {
    val dir = java.nio.file.Files.createTempDirectory("graft_wave").toString
    val paths = Seq("ta", "tb", "tc").map(t => s"$dir/$t")
    paths.foreach(p => Upsert.writeSnapshot(Seq(("old", 0)).toDF("k", "v"), p))
    // healthy plans whose two tasks take a second each; the middle plan
    // fails at execution (the error depends on the row, so it cannot be
    // folded away at planning)
    val nap = udf { (i: Long) => Thread.sleep(1000); i.toInt }
    def healthy = spark.range(0, 2, 1, 2)
      .select(lit("new").as("k"), nap(col("id")).as("v"))
    val failing = spark.range(0, 2, 1, 2).select(lit("new").as("k"),
      raise_error(concat(lit("boom "), col("id"))).cast("int").as("v"))
    val jobs = jobsSeen {
      CallSites.withCallSite(spark, "spec site") {
        val e = intercept[Exception](Upsert.writeSnapshots(
          Seq(healthy -> paths(0), failing -> paths(1), healthy -> paths(2))))
        assert(e.getMessage.contains("boom"))
      }
    }
    def jobsOfTable(t: String) = jobs.filter(_.callSite == s"$t: spec site")
    val (a, c) = (jobsOfTable("ta"), jobsOfTable("tc"))
    assert(a.nonEmpty && c.nonEmpty, jobs.map(_.callSite))
    assert(a.exists(x => c.exists(x.overlaps)),
      s"no overlap: ${a.map(j => j.startMs -> j.endMs)} vs " +
        s"${c.map(j => j.startMs -> j.endMs)}")
    // no table swapped, no staging left behind
    val fs = new org.apache.hadoop.fs.Path(dir)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    paths.foreach { p =>
      assert(Upsert.readSnapshot(spark, p).get.as[(String, Int)].collect()
        === Array(("old", 0)), p)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(p + "__tmp")), p)
    }
  }

  test("readSnapshot falls back to __prev in the mid-swap crash window") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val path = s"$dir/tbl"
    Upsert.writeSnapshot(Seq(("a", 1)).toDF("k", "v"), path)
    Upsert.writeSnapshot(Seq(("b", 2)).toDF("k", "v"), path) // creates __prev
    // simulate a crash between rename(dst, __prev) and rename(tmp, dst):
    // the primary is gone and the last committed generation sits in __prev
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new org.apache.hadoop.fs.Path(path + "__prev"), true)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__prev"))
    assert(Upsert.snapshotExists(spark, path))
    val recovered = Upsert.readSnapshot(spark, path).get
      .as[(String, Int)].collect()
    assert(recovered === Array(("b", 2))) // old snapshot, not empty
    assert(Upsert.readSnapshot(spark, s"$dir/never_written").isEmpty)
  }

  test("readSnapshot opens a primary or __prev-only snapshot of nested, " +
      "timestamp and decimal columns with Spark's schema and no Spark job") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val path = s"$dir/tbl"
    val df = spark.sql("""SELECT id,
        named_struct('a', id, 'b', cast(id AS string)) AS st,
        array(id, id + 1) AS arr, map(cast(id AS string), id * 2) AS m,
        timestamp_seconds(id * 3600) AS ts,
        cast(id / 7 AS decimal(12, 3)) AS dec
      FROM range(5)""")
    Upsert.writeSnapshot(df, path)
    def same(p: String): Unit = {
      var opened: org.apache.spark.sql.DataFrame = null
      assert(jobsOf { opened = Upsert.readSnapshot(spark, path).get } == 0)
      val inferred = spark.read.parquet(p)
      assert(opened.schema == inferred.schema)
      assert(opened.collect().toSeq.map(_.toString).sorted ==
        inferred.collect().toSeq.map(_.toString).sorted)
    }
    same(path)
    // the mid-swap crash window: only __prev holds the snapshot
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.rename(new org.apache.hadoop.fs.Path(path),
      new org.apache.hadoop.fs.Path(path + "__prev"))
    same(path + "__prev")
  }

  test("readSnapshot infers from the first data file in path order, and " +
      "lets Spark infer when schemas merge or no data file exists") {
    val dir = java.nio.file.Files.createTempDirectory("graft_snap").toString
    val path = s"$dir/tbl"
    // part-files of different schemas: inference reads only the first
    (1 to 4).foreach { i =>
      spark.range(2).selectExpr("id", s"id * $i AS c$i")
        .write.mode("append").parquet(path)
    }
    assert(Upsert.readSnapshot(spark, path).get.schema ==
      spark.read.parquet(path).schema)
    spark.conf.set("spark.sql.parquet.mergeSchema", "true")
    try {
      val merged = Upsert.readSnapshot(spark, path).get.schema
      assert(merged == spark.read.parquet(path).schema)
      assert(merged.fieldNames.toSet == Set("id", "c1", "c2", "c3", "c4"))
    } finally spark.conf.unset("spark.sql.parquet.mergeSchema")
    // a snapshot dir with no data file fails as Spark's read does
    val empty = s"$dir/empty"
    new java.io.File(empty).mkdirs()
    new java.io.File(empty, "_SUCCESS").createNewFile()
    val want = intercept[Exception](spark.read.parquet(empty))
    val got = intercept[Exception](Upsert.readSnapshot(spark, empty))
    assert(got.getClass == want.getClass &&
      got.isInstanceOf[org.apache.spark.sql.AnalysisException])
  }

  test("upsertEvolve adds new columns, nulls old rows, rejects type drift") {
    val target = Seq((1L, "a", 10.0), (2L, "b", 20.0)).toDF("k", "s", "v")
    val updates = Seq((2L, "B", 25.0, "X"), (3L, "c", 30.0, "Y"))
      .toDF("k", "s", "v", "flag")
    val out = Upsert.upsertEvolve(target, updates, Seq("k"))
    assert(out.columns.toSeq == Seq("k", "s", "v", "flag"))
    val byKey = out.collect().map(r => r.getLong(0) ->
      (r.getString(1), r.getDouble(2), Option(r.getString(3)))).toMap
    assert(byKey(1L) == (("a", 10.0, None)), "old row gets NULL new col")
    assert(byKey(2L) == (("B", 25.0, Some("X"))))
    assert(byKey(3L) == (("c", 30.0, Some("Y"))))
    // a column the updates DROP survives as null on updated rows
    val narrow = Seq((2L, 99.0)).toDF("k", "v")
    val out2 = Upsert.upsertEvolve(target, narrow, Seq("k"))
    val r2 = out2.where(col("k") === 2).head()
    assert(r2.isNullAt(out2.columns.indexOf("s")) &&
      r2.getDouble(out2.columns.indexOf("v")) == 99.0)
    // shared-column type drift fails loudly
    val drift = Seq((2L, 5, 25.0)).toDF("k", "s", "v") // s: int, was string
    val e = intercept[IllegalArgumentException] {
      Upsert.upsertEvolve(target, drift, Seq("k"))
    }
    assert(e.getMessage.contains("changes type"))
  }

  test("partitionDirName renders TIMESTAMP values byte-identical to " +
      "Spark's own partitioned-write layout (fractions included)") {
    val vals = Seq(
      java.sql.Timestamp.valueOf("2024-01-03 07:30:00"),
      java.sql.Timestamp.valueOf("2024-01-03 07:30:00.123456"),
      java.sql.Timestamp.valueOf("2024-01-03 07:30:00.5"))
    val out = java.nio.file.Files
      .createTempDirectory("graft_tsdir_").toString + "/t"
    vals.zipWithIndex.map { case (t, i) => (i.toLong, t) }
      .toDF("k", "ts").write.partitionBy("ts").parquet(out)
    val fs = new org.apache.hadoop.fs.Path(out)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val written = fs.listStatus(new org.apache.hadoop.fs.Path(out))
      .filter(_.isDirectory).map(_.getPath.getName)
      .filter(_.startsWith("ts=")).toSet
    val derived = vals.map(FactVersioned.partitionDirName("ts", _)).toSet
    assert(derived == written,
      s"derived $derived must equal Spark's layout $written")
    // the java.time.Instant form (datetime.java8API sessions) agrees
    assert(FactVersioned.partitionDirName("ts", vals.head.toInstant) ==
      FactVersioned.partitionDirName("ts", vals.head))
    // TIMESTAMP_NTZ (LocalDateTime) renders the wall clock verbatim
    assert(FactVersioned.partitionDirName("ts",
        java.time.LocalDateTime.parse("2024-01-03T07:30:00"))
      .contains("2024-01-03 07%3A30%3A00"))
  }
}

object UpsertSpec {
  /** The three-branch upsert [[Upsert.upsert]] replaced, kept as its
    * reference model: the keyed batch winners, the NULL-keyed inserts
    * (under `dedupNullKeyed` deduplicated on all columns and anti-joined
    * null-safely against the target's NULL-keyed rows), and the target
    * anti-joined against the winners on the keys. */
  def threeBranch(
      target: DataFrame,
      updates: DataFrame,
      keys: Seq[String],
      orderBy: Option[Column] = None,
      dedupNullKeyed: Boolean = false): DataFrame = {
    val cols = target.columns.toSeq
    val anyNullKey = keys.map(col(_).isNull).reduce(_ || _)
    val (winners, nullInserts0) =
      Upsert.batchWinners(updates, keys, orderBy, cols)
    val nullInserts =
      if (!dedupNullKeyed) nullInserts0
      else {
        val nullTarget = target.where(coalesce(anyNullKey, lit(false)))
        val dd = nullInserts0.dropDuplicates(cols)
        val cond = cols.map(c => dd(c) <=> nullTarget(c)).reduce(_ && _)
        dd.join(nullTarget, cond, "left_anti")
      }
    val untouched = target.join(winners, keys, "left_anti")
    winners.unionByName(nullInserts).unionByName(untouched)
  }
}
