package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[FactVersioned]]: per-generation partition manifests — commits ∝
  * changed partitions, byte-exact time travel through file sharing,
  * GC that respects cross-generation references, and optimistic
  * concurrency (non-overlapping writers merge, overlapping abort). */
class FactVersionedSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_factver_").toString + "/t"

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def base(n: Int): DataFrame =
    (1 to n).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v")

  private def rows(df: DataFrame): Set[(Long, Int, Long)] =
    df.select(col("k"), col("p"), col("v"))
      .as[(Long, Int, Long)].collect().toSet

  test("upsert commits ∝ touched partitions; every generation reads back exactly") {
    val path = tmp()
    val v0 = base(90)
    FactVersioned.upsert(spark, path, v0, Seq("k"), "p")
    val updates = Seq((3L, 0, 999L), (91L, 0, 910L)).toDF("k", "p", "v")
    val c1 = FactVersioned.upsert(spark, path, updates, Seq("k"), "p")
    assert(c1.gen == 1L && c1.rewrittenDirs == Seq("p=0"))
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))

    assert(rows(FactVersioned.read(spark, path, Some(0L))) == rows(v0))
    val expect1 = rows(v0).filterNot(_._1 == 3L) + ((3L, 0, 999L)) + ((91L, 0, 910L))
    assert(rows(FactVersioned.read(spark, path)) == expect1)

    // commit 1 wrote ONLY the touched partition's files
    val fs = fsOf(path)
    val vg1 = new Path(s"$path/${FactVersioned.DataDir}/vgen=1")
    val dirs1 = fs.listStatus(vg1).filter(_.isDirectory).map(_.getPath.getName)
    assert(dirs1.toSeq == Seq("p=0"))
    // untouched partitions are SHARED: both manifests cite identical files
    def filesOf(g: Long, d: String): Set[String] =
      spark.read.parquet(s"$path/${FactVersioned.GensDir}/gen=$g/manifest")
        .where(col("dir") === d).select("file")
        .as[String].collect().toSet
    assert(filesOf(0L, "p=1") == filesOf(1L, "p=1"))
    assert(filesOf(0L, "p=2") == filesOf(1L, "p=2"))
    assert(filesOf(0L, "p=0").nonEmpty &&
      filesOf(0L, "p=0").intersect(filesOf(1L, "p=0")).isEmpty)
  }

  test("retention GCs only unreferenced files; shared gen-0 files survive") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(90), Seq("k"), "p", retain = 2)
    // five commits all touching ONLY p=0; p=1/p=2 stay on gen-0 files
    (1 to 5).foreach { i =>
      FactVersioned.upsert(spark, path,
        Seq((3L, 0, 1000L + i)).toDF("k", "p", "v"),
        Seq("k"), "p", retain = 2)
    }
    assert(FactVersioned.generations(spark, path) == Seq(4L, 5L))
    val fs = fsOf(path)
    // gen-0's p=1/p=2 files still referenced by the head → survive GC
    val vg0 = new Path(s"$path/${FactVersioned.DataDir}/vgen=0")
    val kept = fs.listStatus(vg0).filter(_.isDirectory).map(_.getPath.getName)
    assert(kept.toSet == Set("p=1", "p=2"),
      s"gen-0 shared partitions must survive, touched one GC'd: ${kept.toSeq}")
    // old intermediate commits' data (vgen=1..3, all superseded) is gone
    (1 to 3).foreach { g =>
      assert(!fs.exists(new Path(s"$path/${FactVersioned.DataDir}/vgen=$g")),
        s"vgen=$g files are unreferenced and must be GC'd")
    }
    // and the head still reads correctly
    val head = rows(FactVersioned.read(spark, path))
    assert(head.contains((3L, 0, 1005L)))
    assert(head.size == 90)
  }

  test("retention sweep never GCs a generation ABOVE the committing one; " +
      "a later commit still reclaims true debris") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p", retain = 10)
    val fs = fsOf(path)
    // Fabricate gen 5 with a claim the sweep cannot see as in-flight
    // (stale mtime). This is the exact view a post-publish sweep gets
    // when a HIGHER committer's CommitMarker lands between the sweep's
    // generations() listing and its data walk: `referenced` predates
    // the marker, `inFlight` is already false — without the
    // justCommitted ceiling the sweep GC'd the fresh generation's data
    // (the r17 TableRenameSpec storm loss).
    val meta5 = new Path(s"$path/${FactVersioned.GensDir}/gen=5")
    fs.mkdirs(meta5)
    val claim = new Path(meta5, Versioned.ClaimMarker)
    fs.create(claim, true).close()
    val staged = new Path(s"$path/${FactVersioned.DataDir}/vgen=5/p=0")
    fs.mkdirs(staged)
    val dataFile = new Path(staged, "part-00000.parquet")
    fs.create(dataFile, true).close()
    val old = System.currentTimeMillis() - Versioned.StaleClaimMs - 60000L
    new java.io.File(claim.toUri.getPath).setLastModified(old)
    // a sweep on behalf of commit 0 must leave generation 5 alone
    FactVersioned.retentionSweep(spark, path, retain = 10, justCommitted = 0L)
    assert(fs.exists(dataFile),
      "sweep for commit 0 must never GC a higher generation's data")
    // true debris IS reclaimed by a later commit (claims a higher gen)
    val c = FactVersioned.upsert(spark, path,
      Seq((1L, 0, 99L)).toDF("k", "p", "v"), Seq("k"), "p", retain = 10)
    assert(c.gen == 6L)
    assert(!fs.exists(dataFile),
      "stale debris below the committing generation must be reclaimed")
  }

  test("replacePartitions with absent content deletes a partition in the new gen only") {
    val path = tmp()
    val v0 = base(90)
    FactVersioned.upsert(spark, path, v0, Seq("k"), "p")
    FactVersioned.replacePartitions(spark, path,
      v0.where(col("p") === 99), // empty content for p=2
      "p", touched = Seq(2))
    assert(rows(FactVersioned.read(spark, path)) ==
      rows(v0.where(col("p") =!= 2)))
    assert(rows(FactVersioned.read(spark, path, Some(0L))) == rows(v0))
  }

  test("schema drift and undeclared partitions fail loudly") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p")
    intercept[IllegalArgumentException] {
      FactVersioned.replacePartitions(spark, path,
        base(30).withColumnRenamed("v", "w"), "p", Seq(0))
    }
    intercept[IllegalArgumentException] {
      FactVersioned.replacePartitions(spark, path,
        base(30), "p", touched = Seq(0)) // content also has p=1, p=2
    }
    // aborted claims leave no debris blocking the next commit
    val c = FactVersioned.upsert(spark, path,
      Seq((3L, 0, 7L)).toDF("k", "p", "v"), Seq("k"), "p")
    assert(c.gen > 0 && rows(FactVersioned.read(spark, path)).contains((3L, 0, 7L)))
  }

  test("an intervening partition DELETE conflicts a same-partition commit " +
      "from a stale basis (no silent resurrection)") {
    val path = tmp()
    val v0 = base(90)
    FactVersioned.upsert(spark, path, v0, Seq("k"), "p") // gen 0
    // intervener deletes p=1 entirely (gen 1): leaves NO manifest rows
    // under vgen=1/, so prefix inference would be blind to it
    FactVersioned.replacePartitions(spark, path,
      v0.where(col("p") === 99), "p", touched = Seq(1))
    // a writer whose merge was derived from gen 0 (still containing
    // p=1's rows) now commits p=1: silently resurrecting the deleted
    // rows is exactly what conflict detection must prevent
    intercept[java.util.ConcurrentModificationException] {
      FactVersioned.replacePartitions(spark, path,
        v0.where(col("p") === 1), "p", touched = Seq(1),
        basisGen = Some(0L))
    }
    // the delete survives; a DISJOINT stale-basis commit still lands
    assert(rows(FactVersioned.read(spark, path)) ==
      rows(v0.where(col("p") =!= 1)))
    FactVersioned.replacePartitions(spark, path,
      v0.where(col("p") === 0).withColumn("v", col("v") + 1), "p",
      touched = Seq(0), basisGen = Some(0L))
    assert(rows(FactVersioned.read(spark, path)) ==
      rows(v0.where(col("p") === 0).withColumn("v", col("v") + 1)
        .unionByName(v0.where(col("p") === 2))))
  }

  test("a column TYPE change is rejected when partitions carry over; " +
      "a full rewrite may retype") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p")
    val retyped = base(30).withColumn("v", col("v").cast("string"))
    // partial touch: p=1, p=2 would carry old-typed files → reject
    val e = intercept[IllegalArgumentException] {
      FactVersioned.replacePartitions(spark, path,
        retyped.where(col("p") === 0), "p", touched = Seq(0))
    }
    assert(e.getMessage.contains("retyping"),
      s"expected a type-compatibility error, got: ${e.getMessage}")
    // full rewrite: every parent partition touched → retype allowed,
    // old generation still reads under its own pinned schema
    FactVersioned.replacePartitions(spark, path, retyped, "p",
      touched = Seq(0, 1, 2))
    assert(FactVersioned.read(spark, path)
      .schema("v").dataType.typeName == "string")
    assert(FactVersioned.read(spark, path, Some(0L))
      .schema("v").dataType.typeName == "long")
  }

  test("upsertEvolve: additive column lands on touched partitions, " +
      "carried files null-fill, old generations keep their schema; " +
      "drops still need a full rewrite") {
    val path = tmp()
    val v0 = base(30)
    FactVersioned.upsert(spark, path, v0, Seq("k"), "p")
    // evolve: p=1 rows gain a tag column
    val upd = v0.where(col("p") === 1)
      .withColumn("v", col("v") + 1)
      .withColumn("tag", concat(lit("t"), col("k")))
    val c = FactVersioned.upsertEvolve(spark, path, upd, Seq("k"), "p")
    assert(c.rewrittenDirs == Seq("p=1"))
    val head = FactVersioned.read(spark, path)
    assert(head.columns.contains("tag"))
    val tags = head.select(col("p"), col("tag")).as[(Int, Option[String])]
      .collect().groupBy(_._1).view.mapValues(_.map(_._2).toSet).toMap
    assert(tags(1).forall(_.nonEmpty), "touched partition carries values")
    assert(tags(0) == Set(None) && tags(2) == Set(None),
      "carried partitions null-fill the added column")
    assert(!FactVersioned.read(spark, path, Some(0L))
      .columns.contains("tag"), "old generation keeps its pinned schema")
    // dropping a column on a partial touch is still rejected
    intercept[IllegalArgumentException] {
      FactVersioned.replacePartitions(spark, path,
        v0.where(col("p") === 0).drop("v")
          .withColumn("tag", lit("x")),
        "p", touched = Seq(0))
    }
  }

  test("compactPartitions: drip-committed partition coalesces to one file, " +
      "content and time travel unchanged") {
    val path = tmp()
    val v0 = base(90)
    FactVersioned.upsert(spark, path, v0, Seq("k"), "p")
    // three drip commits into p=1 accumulate files across generations
    (1 to 3).foreach { i =>
      FactVersioned.upsert(spark, path,
        Seq((i.toLong * 3 + 1, 1, 1000L + i)).toDF("k", "p", "v"),
        Seq("k"), "p", retain = 10)
    }
    val preHead = FactVersioned.generations(spark, path).max
    def filesOf(g: Long, d: String): Set[String] =
      spark.read.parquet(s"$path/${FactVersioned.GensDir}/gen=$g/manifest")
        .where(col("dir") === d).select("file").as[String].collect().toSet
    val before = rows(FactVersioned.read(spark, path))
    assert(filesOf(preHead, "p=1").size > 1, "sanity: drip files accumulated")

    val c = FactVersioned.compactPartitions(spark, path, Seq("p=1"), "p",
      retain = 10)
    assert(c.rewrittenDirs == Seq("p=1"))
    assert(filesOf(c.gen, "p=1").size == 1, "compacted to one file")
    // content identical; untouched partitions share the same files
    assert(rows(FactVersioned.read(spark, path)) == before)
    assert(filesOf(preHead, "p=0") == filesOf(c.gen, "p=0"))
    // time travel to the pre-compaction head still reads exactly
    assert(rows(FactVersioned.read(spark, path, Some(preHead))) == before)
  }

  test("concurrent disjoint committers both land; overlapping one aborts") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // disjoint: p=0 and p=1 in parallel — both must land, merged
      val path = tmp()
      FactVersioned.upsert(spark, path, base(90), Seq("k"), "p")
      val fa = Future(FactVersioned.upsert(spark, path,
        Seq((3L, 0, 111L)).toDF("k", "p", "v"), Seq("k"), "p"))
      val fb = Future(FactVersioned.upsert(spark, path,
        Seq((4L, 1, 222L)).toDF("k", "p", "v"), Seq("k"), "p"))
      Await.result(Future.sequence(Seq(fa, fb)), 2.minutes)
      val head = rows(FactVersioned.read(spark, path))
      assert(head.contains((3L, 0, 111L)) && head.contains((4L, 1, 222L)),
        s"non-overlapping concurrent commits must both survive")
      assert(head.size == 90)

      // overlapping: same partition — exactly one lands, or the loser
      // aborts with ConcurrentModificationException (never torn state)
      val path2 = tmp()
      FactVersioned.upsert(spark, path2, base(90), Seq("k"), "p")
      val g1 = Future(FactVersioned.upsert(spark, path2,
        Seq((3L, 0, 111L)).toDF("k", "p", "v"), Seq("k"), "p"))
      val g2 = Future(FactVersioned.upsert(spark, path2,
        Seq((6L, 0, 444L)).toDF("k", "p", "v"), Seq("k"), "p"))
      val results = Await.result(
        Future.sequence(Seq(g1, g2).map(_.map(Right(_)).recover {
          case e: java.util.ConcurrentModificationException => Left(e)
        })), 2.minutes)
      val landed = results.count(_.isRight)
      assert(landed >= 1, "at least one overlapping committer must land")
      val head2 = rows(FactVersioned.read(spark, path2))
      assert(head2.size == 90, s"no torn state: $landed landed")
      if (landed == 2)
        assert(head2.contains((3L, 0, 111L)) && head2.contains((6L, 0, 444L)))
      else
        assert(head2.contains((3L, 0, 111L)) || head2.contains((6L, 0, 444L)))
    } finally pool.shutdown()
  }

  test("DDL-loss guard: a metadata commit publishing against a stale " +
      "basis aborts instead of silently reverting the intervening DDL") {
    val path = tmp()
    FactVersioned.upsert(spark, path,
      (1 to 30).map(i => (i.toLong, i % 3, i * 10L, i * 2L))
        .toDF("k", "p", "v", "b"), Seq("k"), "p")
    FactVersioned.renameColumns(spark, path, Map("v" -> "amount"),
      retain = 10)
    // simulate a SECOND rename whose basis read predates the first
    // (the claim-window race): its colMap override and pinned schema
    // both derive from gen 0 — publishing would revert v→amount.
    // Before the guard this landed silently; now it must abort with
    // the retry contract.
    val staleSchema = org.apache.spark.sql.types.StructType(Seq(
      org.apache.spark.sql.types.StructField("k",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("p",
        org.apache.spark.sql.types.IntegerType),
      org.apache.spark.sql.types.StructField("v",
        org.apache.spark.sql.types.LongType),
      org.apache.spark.sql.types.StructField("c",
        org.apache.spark.sql.types.LongType)))
    val e = intercept[java.util.ConcurrentModificationException] {
      FactVersioned.replacePartitionsBy(spark, path,
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          staleSchema),
        Seq("p"), Nil, retain = 10, basisGen = Some(0L),
        colMap = Some(Map("c" -> "b")))
    }
    // since r15 the drift classifies at CLAIM time (before the
    // tombstone/compat checks — see the retry-contract spec below);
    // either message carries the same retry-against-head contract
    assert(e.getMessage.contains("retry the operation against the new head")
        || e.getMessage.contains("revert"), e.getMessage)
    // the first rename survives
    assert(FactVersioned.read(spark, path).columns.contains("amount"))
    // a rename racing an additive-evolution data commit aborts too
    // (its stale pinned schema would DROP the new column)
    FactVersioned.upsertEvolve(spark, path,
      Seq((1L, 0, 5L)).toDF("k", "p", "extra"), Seq("k"), "p",
      retain = 10)
    val e2 = intercept[java.util.ConcurrentModificationException] {
      FactVersioned.replacePartitionsBy(spark, path,
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
          org.apache.spark.sql.types.StructType(staleSchema.fields)),
        Seq("p"), Nil, retain = 10, basisGen = Some(0L),
        colMap = Some(Map("c" -> "b")))
    }
    assert(e2.getMessage.contains("retry against the new head")
        || e2.getMessage.contains("retry the operation against the new head"),
      e2.getMessage)
  }

  test("interleaved ALTER RENAME + concurrent upserts: the rename is " +
      "never lost, every surviving upsert's rows land") {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p")
    val pool = Executors.newFixedThreadPool(3)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    def upsertRetry(key: Long): Unit = {
      var attempts = 0
      var done = false
      while (!done && attempts < 30) {
        attempts += 1
        try {
          // the retry contract: re-resolve the CURRENT schema (the
          // rename may have landed) and rebuild the updates under it
          val vcol = FactVersioned.read(spark, path).columns
            .find(c => c == "v" || c == "amount").get
          FactVersioned.upsert(spark, path,
            Seq((key, 0, key * 100L)).toDF("k", "p", vcol),
            Seq("k"), "p", retain = 50)
          landed.add(key); done = true
        } catch {
          // the FULL retry contract: a transient race surfaces ONLY as
          // the retryable ConcurrentModificationException or as an
          // AnalysisException from a mid-read rename — any
          // IllegalArgumentException here ("previously DROPPED" /
          // "not compatible") is a misclassified race and fails the
          // spec (the r14 judge's 463/464 repro)
          case _: java.util.ConcurrentModificationException => // retry
          case _: org.apache.spark.sql.AnalysisException => // renamed mid-read
        }
      }
      assert(done, s"upsert $key starved after $attempts attempts")
    }
    def renameRetry(): Unit = {
      var attempts = 0
      var done = false
      while (!done && attempts < 30) {
        attempts += 1
        try {
          FactVersioned.renameColumns(spark, path, Map("v" -> "amount"),
            retain = 50)
          done = true
        } catch {
          case _: java.util.ConcurrentModificationException => // retry
        }
      }
      assert(done, s"rename starved after $attempts attempts")
    }
    try {
      val fa = Future { (101L to 106L).foreach(upsertRetry) }
      val fb = Future { (201L to 206L).foreach(upsertRetry) }
      val fr = Future { Thread.sleep(150); renameRetry() }
      Await.result(Future.sequence(Seq(fa, fb, fr)), 5.minutes)
    } finally pool.shutdown()
    // the rename must never be lost to a racing data commit
    val cols = FactVersioned.read(spark, path).columns.toSet
    assert(cols.contains("amount") && !cols.contains("v"),
      s"rename lost: head columns $cols")
    // and every upsert that reported success must be visible
    val now = FactVersioned.read(spark, path)
      .select(col("k"), col("amount")).as[(Long, Long)].collect().toMap
    landed.forEach { k =>
      assert(now.get(k).contains(k * 100L), s"upsert $k lost")
    }
    assert(landed.size == 12, s"only ${landed.size}/12 upserts landed")
  }

  test("a data commit racing a rename is classified as the retryable " +
      "ConcurrentModificationException, never a tombstone-resurrect IAE") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p", retain = 10)
    val g0 = FactVersioned.generations(spark, path).max
    // the exact interleave the randomized storm sometimes produces:
    // a writer derives its content from g0 (carrying `v`), a rename
    // lands (tombstoning `v`), THEN the writer publishes with its
    // stale basis — without claim-time drift classification the
    // shared committer's tombstone-resurrect check sees `v` as a
    // revived dropped column and throws a NON-retryable IAE
    FactVersioned.renameColumns(spark, path, Map("v" -> "amount"),
      retain = 10)
    val e = intercept[java.util.ConcurrentModificationException] {
      FactVersioned.replacePartitions(spark, path,
        Seq((1L, 0, 11L)).toDF("k", "p", "v"), "p", Seq(0),
        retain = 10, basisGen = Some(g0))
    }
    assert(e.getMessage.contains("retry the operation against the new head"),
      e.getMessage)
    // nothing of the aborted commit is visible; the rename holds
    val cols = FactVersioned.read(spark, path).columns.toSet
    assert(cols.contains("amount") && !cols.contains("v"))
    // the IAE is RESERVED for the genuine resurrect: same interleave
    // but with a CURRENT basis (head metadata == claim-time basis),
    // reviving the tombstoned name is a real error, not a race
    val head = FactVersioned.generations(spark, path).max
    val e2 = intercept[IllegalArgumentException] {
      FactVersioned.replacePartitions(spark, path,
        Seq((1L, 0, 11L, 5L)).toDF("k", "p", "amount", "v"), "p", Seq(0),
        retain = 10, basisGen = Some(head))
    }
    assert(e2.getMessage.contains("previously DROPPED"), e2.getMessage)
  }

  test("upsertBy over a source shaped before a rename raises the " +
      "retryable ConcurrentModificationException") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p", retain = 10)
    // the caller shapes its source under the head it saw; a rename
    // lands before the upsert resolves its basis
    val src = Seq((1L, 0, 11L)).toDF("k", "p", "v")
    FactVersioned.renameColumns(spark, path, Map("v" -> "amount"),
      retain = 10)
    val e = intercept[java.util.ConcurrentModificationException] {
      FactVersioned.upsertBy(spark, path, src, Seq("k"), Seq("p"),
        retain = 10)
    }
    assert(e.getMessage.contains("retry the operation against the new head"),
      e.getMessage)
    assert(FactVersioned.generations(spark, path).size == 2)
  }

  test("append (INSERT semantics) keeps existing rows and stays ∝ touched") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p")
    FactVersioned.append(spark, path,
      Seq((100L, 1, 999L), (101L, 1, 998L)).toDF("k", "p", "v"), "p")
    assert(rows(FactVersioned.read(spark, path)) ==
      rows(base(30)) ++ Set((100L, 1, 999L), (101L, 1, 998L)))
    // only p=1 staged by the append commit
    val fs = fsOf(path)
    val staged = fs.listStatus(new Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=1"))
    // unlike upsert, append does NOT dedup on any key
    FactVersioned.append(spark, path,
      Seq((100L, 1, 777L)).toDF("k", "p", "v"), "p")
    assert(FactVersioned.read(spark, path)
      .where(col("k") === 100L).count() == 2)
    assert(FactVersioned.partitionColumn(spark, path) == "p")
  }

  test("manifest-embedded stats prune files within a partition; " +
      "results equal the full filtered read; stats-less files are read") {
    val path = tmp()
    // 4 range-clustered files per partition: k ranges are disjoint
    // across files, so a narrow k range should prune most files
    val content = base(240).repartitionByRange(4, col("k"))
    FactVersioned.replacePartitions(spark, path, content, "p",
      Seq(0, 1, 2), statsCols = Seq("k"))
    val r = DataSkipping.ColRange("k", lit(10L), lit(40L))
    val pruned = FactVersioned.readWhere(spark, path, None, Seq(r))
    assert(rows(pruned.df) ==
      rows(FactVersioned.read(spark, path)
        .where(col("k") >= 10 && col("k") <= 40)))
    assert(pruned.df.count() == 31)
    assert(pruned.report.filesRead < pruned.report.filesTotal,
      s"expected pruning, read ${pruned.report.filesRead} of " +
        s"${pruned.report.filesTotal}")
    // a stats-less commit's files carry null stats → always read,
    // never wrongly pruned
    FactVersioned.upsert(spark, path,
      Seq((15L, 0, 1500L)).toDF("k", "p", "v"), Seq("k"), "p")
    val pruned2 = FactVersioned.readWhere(spark, path, None, Seq(r))
    assert(pruned2.df.where(col("k") === 15L)
      .as[(Long, Int, Long)].collect().toSet == Set((15L, 0, 1500L)))
    assert(rows(pruned2.df) ==
      rows(FactVersioned.read(spark, path)
        .where(col("k") >= 10 && col("k") <= 40)))
    // an incremental upsert WITH statsCols records bounds for its
    // fresh files: a new partition whose keys sit outside the range
    // adds files to the manifest but none of them is opened
    FactVersioned.upsert(spark, path,
      Seq((500L, 5, 5000L)).toDF("k", "p", "v"), Seq("k"), "p",
      statsCols = Seq("k"))
    val pruned3 = FactVersioned.readWhere(spark, path, None, Seq(r))
    assert(pruned3.report.filesTotal > pruned2.report.filesTotal)
    assert(pruned3.report.filesRead == pruned2.report.filesRead,
      s"out-of-range stats-recorded files must be skipped: " +
        s"${pruned3.report} vs ${pruned2.report}")
    assert(rows(pruned3.df) == rows(pruned2.df))
  }

  test("preCommit hook runs inside the commit and a throw aborts the " +
      "claim cleanly") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p")
    // the hook observes a linearized history: it must see the current
    // head as final, and its throw must leave no new generation, no
    // claim debris, and the table fully committable afterwards
    var sawGens: Seq[Long] = Nil
    val boom = intercept[RuntimeException] {
      FactVersioned.upsert(spark, path,
        Seq((2L, 0, 222L)).toDF("k", "p", "v"), Seq("k"), "p",
        preCommit = () => {
          sawGens = FactVersioned.generations(spark, path)
          throw new RuntimeException("validation says no")
        })
    }
    assert(boom.getMessage == "validation says no")
    assert(sawGens == Seq(0L))
    assert(FactVersioned.generations(spark, path) == Seq(0L))
    assert(rows(FactVersioned.read(spark, path)) == rows(base(30)))
    // no leaked claim: the next commit claims immediately (a leaked
    // fresh claim would stall it for the full resolve timeout)
    val t0 = System.nanoTime()
    val c = FactVersioned.upsert(spark, path,
      Seq((2L, 0, 333L)).toDF("k", "p", "v"), Seq("k"), "p")
    assert(c.gen == 1L)
    assert((System.nanoTime() - t0) / 1e9 < 20.0)
  }

  test("multi-column partitioning: upsertBy touches exactly the " +
      "updates' leaf dirs, time travel holds, GC prunes nested " +
      "subtrees, and the single-column accessor fails with guidance") {
    val path = tmp()
    // (y, s)-partitioned: 2 years × 2 statuses = 4 leaves
    def rows2(n: Int) = (1 to n).map(i =>
      (i.toLong, 2000 + i % 2, if (i % 4 < 2) "A" else "B", i * 10L))
      .toDF("k", "y", "s", "v")
    val v0 = rows2(80)
    val c0 = FactVersioned.upsertBy(spark, path, v0, Seq("k"), Seq("y", "s"))
    assert(c0.gen == 0L && c0.rewrittenDirs.toSet ==
      Set("y=2000/s=A", "y=2000/s=B", "y=2001/s=A", "y=2001/s=B"))
    assert(FactVersioned.partitionColumns(spark, path) == Seq("y", "s"))
    val e = intercept[IllegalArgumentException] {
      FactVersioned.partitionColumn(spark, path)
    }
    assert(e.getMessage.contains("partitionColumns"))
    // update ONE (y, s) tuple: write-amp = that leaf alone, on disk
    val upd = Seq((4L, 2000, "A", 999L), (100L, 2000, "A", 1L))
      .toDF("k", "y", "s", "v")
    val c1 = FactVersioned.upsertBy(spark, path, upd, Seq("k"), Seq("y", "s"))
    assert(c1.gen == 1L && c1.rewrittenDirs == Seq("y=2000/s=A"))
    val fs = fsOf(path)
    val staged = {
      val vd = new Path(s"$path/${FactVersioned.DataDir}/vgen=1")
      fs.listStatus(vd).filter(_.isDirectory).flatMap(y =>
        fs.listStatus(y.getPath).filter(_.isDirectory).map(s =>
          s"${y.getPath.getName}/${s.getPath.getName}")).toSet
    }
    assert(staged == Set("y=2000/s=A"), s"staged $staged")
    // content: head merged, generation 0 byte-exact
    def all(g: Option[Long]) = FactVersioned.read(spark, path, g)
      .select("k", "y", "s", "v").as[(Long, Int, String, Long)]
      .collect().toSet
    val expect0 = (1 to 80).map(i =>
      (i.toLong, 2000 + i % 2, if (i % 4 < 2) "A" else "B", i * 10L)).toSet
    assert(all(Some(0L)) == expect0)
    assert(all(None) ==
      expect0.filterNot(_._1 == 4L) + ((4L, 2000, "A", 999L)) +
        ((100L, 2000, "A", 1L)))
    // readDirs prunes to the nested leaf
    assert(FactVersioned.readDirs(spark, path, None, Seq("y=2000/s=A"))
      .select("k").as[Long].collect().toSet ==
      all(None).filter(r => r._2 == 2000 && r._3 == "A").map(_._1))
    // key-uniqueness enforced on this door too
    intercept[IllegalStateException] {
      FactVersioned.upsertBy(spark, path,
        Seq((7L, 2000, "A", 1L), (7L, 2000, "A", 2L))
          .toDF("k", "y", "s", "v"),
        Seq("k"), Seq("y", "s"))
    }
    // additive evolution through the multi-column door: new column
    // null-fills carried rows, touched leaf only
    val c2 = FactVersioned.upsertEvolveBy(spark, path,
      Seq((8L, 2000, "A", 80L, "x")).toDF("k", "y", "s", "v", "note"),
      Seq("k"), Seq("y", "s"))
    assert(c2.rewrittenDirs == Seq("y=2000/s=A"))
    val head = FactVersioned.read(spark, path)
    assert(head.columns.contains("note"))
    assert(head.where(col("k") === 8L).select("note")
      .as[String].head() == "x")
    assert(head.where(col("note").isNotNull).count() == 1)
    // vacuum to 1 generation: the superseded vgen=0/y=2000/s=A subtree
    // is GC'd (nested walk), the still-referenced leaves survive
    FactVersioned.vacuum(spark, path, 1)
    assert(!fs.exists(new Path(
      s"$path/${FactVersioned.DataDir}/vgen=0/y=2000/s=A")))
    assert(fs.exists(new Path(
      s"$path/${FactVersioned.DataDir}/vgen=0/y=2001/s=B")))
    assert(all(None).size == 81)
  }

  test("dropColumns narrows the pinned schema metadata-only: zero data " +
      "staged, carried files project the column away, history keeps " +
      "it, and the tombstone blocks an unsafe re-add") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p")
    val c = FactVersioned.dropColumns(spark, path, Seq("v"))
    assert(c.gen == 1L && c.rewrittenDirs.isEmpty)
    // zero data staged under the drop's vgen dir
    val fs = fsOf(path)
    val vd = new Path(s"$path/${FactVersioned.DataDir}/vgen=1")
    assert(!fs.exists(vd) || fs.listStatus(vd).forall(!_.isDirectory))
    // head reads the narrowed schema from CARRIED (pre-drop) files
    val head = FactVersioned.read(spark, path)
    assert(head.columns.toSeq == Seq("k", "p"))
    assert(head.count() == 30)
    // the pre-drop generation still reads the full schema, byte-exact
    assert(rows(FactVersioned.read(spark, path, Some(0L))) ==
      rows(base(30)))
    // commits against the narrowed schema work (carried + fresh mix)
    FactVersioned.upsert(spark, path,
      Seq((100L, 0)).toDF("k", "p"), Seq("k"), "p")
    assert(FactVersioned.read(spark, path).count() == 31)
    // re-adding the dropped name is rejected: carried files still hold
    // old physical values a re-add would silently resurrect
    val e = intercept[IllegalArgumentException] {
      FactVersioned.addColumns(spark, path,
        Seq(org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = true)))
    }
    assert(e.getMessage.contains("DROPPED") ||
      e.getMessage.contains("pinned"), e.getMessage)
    // partition columns cannot drop (they shape the physical layout)
    val e2 = intercept[IllegalArgumentException] {
      FactVersioned.dropColumns(spark, path, Seq("p"))
    }
    assert(e2.getMessage.contains("partition column"))
    // the tombstone binds EVERY widening door at the shared committer,
    // not just addColumns: an upsertEvolve whose updates re-introduce
    // the dropped name is rejected before anything commits
    val gensBefore = FactVersioned.generations(spark, path)
    val e3 = intercept[Exception] {
      FactVersioned.upsertEvolve(spark, path,
        Seq((1L, 0, 5L)).toDF("k", "p", "v"), Seq("k"), "p")
    }
    assert(e3.getMessage.contains("DROPPED"), e3.getMessage)
    assert(FactVersioned.generations(spark, path) == gensBefore,
      "a rejected revival must not commit")
    // a DIFFERENT new column still adds fine after the drop
    FactVersioned.addColumns(spark, path,
      Seq(org.apache.spark.sql.types.StructField("w",
        org.apache.spark.sql.types.LongType, nullable = true)))
    assert(FactVersioned.read(spark, path).columns.toSeq ==
      Seq("k", "p", "w"))
  }

  test("renameColumns is metadata-only column mapping: carried files " +
      "read their VALUES under the new name, later commits stage " +
      "physical, time travel keeps both sides") {
    val path = tmp()
    FactVersioned.upsert(spark, path, base(60), Seq("k"), "p")
    FactVersioned.upsert(spark, path,
      Seq((3L, 0, 333L)).toDF("k", "p", "v"), Seq("k"), "p")
    val before = rows(FactVersioned.read(spark, path))
    val c = FactVersioned.renameColumns(spark, path, Map("v" -> "amount"))
    assert(c.gen == 2L)
    // metadata-only: zero staged bytes
    assert(!fsOf(path).exists(
      new Path(s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2")),
      "a rename must stage no data files")
    // the POINT: carried files' values read under the new name
    val now = FactVersioned.read(spark, path)
    assert(now.columns.toSeq == Seq("k", "p", "amount"))
    assert(now.select(col("k"), col("p"), col("amount").as("v"))
      .as[(Long, Int, Long)].collect().toSet == before)
    // time travel reads the pre-rename name
    assert(FactVersioned.read(spark, path, Some(1L)).columns.toSeq ==
      Seq("k", "p", "v"))
    // a post-rename upsert works under the NEW name and stages the
    // files under the PHYSICAL (original) name
    FactVersioned.upsert(spark, path,
      Seq((4L, 1, 444L), (61L, 1, 610L)).toDF("k", "p", "amount"),
      Seq("k"), "p")
    val gen3files = spark.read.parquet(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=3")
    assert(gen3files.columns.contains("v") &&
      !gen3files.columns.contains("amount"),
      s"staged files must hold the physical name; got " +
        s"${gen3files.columns.mkString(",")}")
    val after = FactVersioned.read(spark, path)
    assert(after.where(col("k") === 4).select("amount")
      .as[Long].head() == 444L)
    assert(after.where(col("k") === 61).select("amount")
      .as[Long].head() == 610L)
    assert(after.count() == 61)
    // compaction after the rename preserves content
    FactVersioned.compactPartitions(spark, path,
      Seq("p=0", "p=1", "p=2"), "p", retain = 10)
    assert(FactVersioned.read(spark, path)
      .select(col("k"), col("p"), col("amount"))
      .as[(Long, Int, Long)].collect().length == 61)
    // the OLD name cannot come back: carried files still hold it
    // physically, and a re-add would resurrect the stale values
    val eAdd = intercept[Exception] {
      FactVersioned.addColumns(spark, path,
        Seq(org.apache.spark.sql.types.StructField("v",
          org.apache.spark.sql.types.LongType, nullable = true)))
    }
    assert(eAdd.getMessage.contains("DROPPED"), eAdd.getMessage)
    // restore to the pre-rename generation reads the old names again
    FactVersioned.restore(spark, path, 1L, retain = 10)
    assert(FactVersioned.read(spark, path).columns.toSeq ==
      Seq("k", "p", "v"))
    assert(rows(FactVersioned.read(spark, path)) == before)
  }

  test("renameColumns guards: existing/tombstoned targets, vgen, and " +
      "swaps are rejected (partition columns rename since r14 — " +
      "PartitionRenameSpec)") {
    val path = tmp()
    FactVersioned.upsert(spark, path,
      (1 to 30).map(i => (i.toLong, i % 3, i * 10L, s"n$i"))
        .toDF("k", "p", "v", "note"),
      Seq("k"), "p")
    def msg(body: => Any): String =
      intercept[Exception](body).getMessage
    assert(msg(FactVersioned.renameColumns(spark, path, Map("v" -> "note")))
      .contains("already exists"))
    assert(msg(FactVersioned.renameColumns(spark, path,
      Map("v" -> FactVersioned.VGenCol))).contains("reserved"))
    assert(msg(FactVersioned.renameColumns(spark, path,
      Map("v" -> "note2", "note" -> "note2")))
      .contains("same name"))
    // dropped name stays dead as a rename TARGET
    FactVersioned.dropColumns(spark, path, Seq("note"))
    assert(msg(FactVersioned.renameColumns(spark, path, Map("v" -> "note")))
      .contains("dropped or renamed away"))
    // a swap (target exists as a rename source in the same call)
    FactVersioned.renameColumns(spark, path, Map("v" -> "w"))
    assert(msg(FactVersioned.renameColumns(spark, path,
      Map("w" -> "v"))).contains("dropped or renamed away"))
    // renaming the RENAMED column again chains fine to a fresh name
    FactVersioned.renameColumns(spark, path, Map("w" -> "x"))
    val now = FactVersioned.read(spark, path)
    assert(now.columns.toSeq == Seq("k", "p", "x"))
    assert(now.where(col("k") === 5).select("x").as[Long].head() == 50L)
  }

  test("tombstone crash windows never lose entries: the bak rotation " +
      "is read as fallback when the live file is missing") {
    val path = tmp()
    FactVersioned.upsert(spark, path,
      (1 to 12).map(i => (i.toLong, i % 3, i * 10L, s"x$i"))
        .toDF("k", "p", "v", "w"),
      Seq("k"), "p")
    FactVersioned.dropColumns(spark, path, Seq("w"))
    FactVersioned.renameColumns(spark, path, Map("v" -> "amount"))
    assert(FactVersioned.droppedColumns(spark, path) == Set("w", "v"))
    // simulate the crash window between `dest → bak` and `tmp → dest`:
    // the live file is gone, the bak holds the pre-crash full set
    val fs = fsOf(path)
    val dest = new Path(s"$path/${FactVersioned.GensDir}/_dropped_columns")
    val bak = new Path(dest.getParent, dest.getName + ".bak")
    assert(fs.exists(dest))
    if (fs.exists(bak)) fs.delete(bak, false)
    assert(fs.rename(dest, bak))
    // fallback read: the (pre-"crash") full set is still visible, so
    // the widening doors stay closed
    assert(FactVersioned.droppedColumns(spark, path) == Set("w", "v"))
    val e = intercept[Exception] {
      FactVersioned.addColumns(spark, path,
        Seq(org.apache.spark.sql.types.StructField("w",
          org.apache.spark.sql.types.LongType, nullable = true)))
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    // the next tombstoning commit heals the rotation (writes a fresh
    // live file merging the bak's entries)
    FactVersioned.renameColumns(spark, path, Map("amount" -> "amt"))
    assert(fs.exists(dest))
    assert(FactVersioned.droppedColumns(spark, path) ==
      Set("w", "v", "amount"))
  }

  test("stats pruning (readWhere) keeps working across a rename: " +
      "stats live under physical names, lookups translate") {
    val path = tmp()
    // sorted layout so per-file bounds are tight; record stats on v
    val sorted = (1 to 400).map(i => (i.toLong, 0, i.toLong))
      .toDF("k", "p", "v").repartitionByRange(8, col("v"))
      .sortWithinPartitions(col("v"))
    FactVersioned.replacePartitions(spark, path, sorted, "p", Seq(0),
      statsCols = Seq("v"))
    FactVersioned.renameColumns(spark, path, Map("v" -> "amount"))
    val scan = FactVersioned.readWhere(spark, path, None,
      Seq(DataSkipping.ColRange("amount", lit(10L), lit(20L))))
    assert(scan.report.filesRead < scan.report.filesTotal,
      s"rename must not break stats pruning: ${scan.report}")
    assert(scan.df.select("amount").as[Long].collect().sorted.toSeq ==
      (10L to 20L))
    // and stats recorded AFTER the rename (under the logical name in
    // the caller's hands, physical on disk) still prune
    FactVersioned.compactPartitions(spark, path, Seq("p=0"), "p",
      retain = 10, zorderCols = Seq("amount"), statsCols = Seq("amount"))
    val scan2 = FactVersioned.readWhere(spark, path, None,
      Seq(DataSkipping.ColRange("amount", lit(50L), lit(60L))))
    assert(scan2.df.select("amount").as[Long].collect().sorted.toSeq ==
      (50L to 60L))
  }
}
