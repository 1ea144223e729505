package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FactVersioned

/** [[GraftDml]]: SQL MERGE/DELETE over catalog tables route through
  * the versioned committers — upsert semantics hash-equal to the API
  * twin, commit cost ∝ touched partitions, time travel intact, and
  * non-upsert shapes rejected loudly. */
class GraftDmlSpec extends SparkSpec {
  import spark.implicits._

  private def freshTable(): (SparkSession, String, String) = {
    val wh = Files.createTempDirectory("graft_dml_").toString
    val path = s"$wh/t"
    val rows = (1 to 90).map(i => (i.toLong, i % 3, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, rows, Seq("k"), "p")
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    (s, wh, path)
  }

  private def rows(df: DataFrame): Set[(Long, Int, Long)] =
    df.select(col("k"), col("p"), col("v"))
      .as[(Long, Int, Long)].collect().toSet

  test("MERGE INTO upserts through FactVersioned: one partition " +
      "touched, hash-equal to the API twin, old generation intact") {
    val (s, _, path) = freshTable()
    // fact-table sources carry the vgen provenance slot (ignored —
    // commit-assigned), the same contract as q125's INSERT shape
    s.range(0, 10).selectExpr("id * 3 + 3 AS k", "0 AS p",
        "id + 1000 AS v", "CAST(NULL AS BIGINT) AS vgen")
      .createOrReplaceTempView("src")
    s.sql(
      """MERGE INTO g.t AS t USING src AS s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    // API twin on a parallel table: content must match exactly
    val twinPath = path + "_twin"
    val base = (1 to 90).map(i => (i.toLong, i % 3, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, twinPath, base, Seq("k"), "p")
    val updates = spark.range(0, 10)
      .selectExpr("id * 3 + 3 AS k", "0 AS p", "id + 1000 AS v")
    FactVersioned.upsert(spark, twinPath, updates, Seq("k"), "p")
    assert(rows(FactVersioned.read(s, path)) ==
      rows(FactVersioned.read(spark, twinPath)))
    // write amplification: only p=0 staged under the merge's vgen dir
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=0"), s"staged $staged")
    // time travel: generation 0 still reads the pre-merge content
    assert(rows(FactVersioned.read(s, path, Some(0L))) == rows(base))
  }

  test("MERGE with explicit matching assignments works; diverging " +
      "update/insert expressions and extra actions are rejected") {
    val (s, _, path) = freshTable()
    s.range(0, 5).selectExpr("id + 200 AS k", "1 AS p", "id AS v",
        "CAST(NULL AS BIGINT) AS vgen")
      .createOrReplaceTempView("src2")
    s.sql(
      """MERGE INTO g.t t USING src2 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET k = s.k, p = s.p, v = s.v,
        |  vgen = s.vgen
        |WHEN NOT MATCHED THEN INSERT (k, p, v, vgen)
        |  VALUES (s.k, s.p, s.v, s.vgen)
        |""".stripMargin)
    assert(FactVersioned.read(s, path).where(col("k") >= 200).count() == 5)

    // diverging UPDATE vs INSERT expressions are a general merge (each
    // clause projects through ITS OWN assignments): matched keys get
    // v+1, unmatched insert v as-is
    s.range(0, 4).selectExpr("id + 203 AS k", "1 AS p", "id AS v",
        "CAST(NULL AS BIGINT) AS vgen")
      .createOrReplaceTempView("src3")
    s.sql(
      """MERGE INTO g.t t USING src3 s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET k = s.k, p = s.p, v = s.v + 1,
        |  vgen = s.vgen
        |WHEN NOT MATCHED THEN INSERT (k, p, v, vgen)
        |  VALUES (s.k, s.p, s.v, s.vgen)
        |""".stripMargin)
    val now = rows(FactVersioned.read(s, path))
    // 203,204 existed (from src2's insert): updated to s.v+1 = 1, 2
    assert(now.contains((203L, 1, 1L)) && now.contains((204L, 1, 2L)))
    // 205,206 were new: inserted with s.v as-is = 2, 3
    assert(now.contains((205L, 1, 2L)) && now.contains((206L, 1, 3L)))
    // non-equality ON condition
    val e3 = intercept[UnsupportedOperationException] {
      s.sql(
        """MERGE INTO g.t t USING src3 s ON t.k > s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(e3.getMessage.contains("conjunction"))
    // target-referencing NOT MATCHED conditions rejected (the row has
    // no target side) — Spark's own checkAnalysis catches the SQL-door
    // shape; the rule's guidance covers programmatic MergeIntoTable
    val e4 = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t t USING src3 s ON t.k = s.k
          |WHEN NOT MATCHED AND t.v > 5 THEN INSERT *""".stripMargin)
    }
    assert(messagesOf(e4).contains("SOURCE columns only") ||
      messagesOf(e4).contains("cannot be resolved"), messagesOf(e4))
    // a reference to a column on NEITHER side gets guidance, not a raw
    // missing-attribute failure (the assignment-validation hole)
    val e5 = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t t USING src3 s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = nope + 1""".stripMargin)
    }
    assert(messagesOf(e5).contains("cannot be resolved") ||
      messagesOf(e5).contains("neither"), messagesOf(e5))
  }

  test("partial-assignment UPDATE keeps unassigned columns' target " +
      "values; target-referencing conditions and values route per row") {
    val (s, _, path) = freshTable()
    // single-column-touch changelog: only v is assigned; k and p keep
    // their target values (the most common MERGE a user writes)
    s.createDataset(Seq((3L, 7L), (300L, 8L))).toDF("k", "d")
      .createOrReplaceTempView("pa_src")
    s.sql(
      """MERGE INTO g.t t USING pa_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET v = t.v + s.d""".stripMargin)
    val now = rows(FactVersioned.read(s, path))
    assert(now.contains((3L, 0, 37L)), "t.v + s.d with k, p carried")
    assert(!now.exists(_._1 == 300L), "unmatched row routes to no clause")
    assert(now.count(_._1 == 3L) == 1)
    // only the matched partition staged
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=0"), s"staged $staged")
    // target-guarded clause condition: only rows whose TARGET value
    // clears the guard update; the guard references t.v directly
    s.createDataset(Seq((6L, 1L), (9L, 1L))).toDF("k", "d")
      .createOrReplaceTempView("pa_src2")
    s.sql(
      """MERGE INTO g.t t USING pa_src2 s ON t.k = s.k
        |WHEN MATCHED AND t.v >= 90 THEN UPDATE SET v = 0""".stripMargin)
    val now2 = rows(FactVersioned.read(s, path))
    assert(now2.contains((9L, 0, 0L)), "t.v=90 clears the >= 90 guard")
    assert(now2.contains((6L, 0, 60L)), "t.v=60 fails the guard: no-op")
    // a target-guarded DELETE routes the same way: k=6 has t.v=60
    // (clears the guard), k=9 has t.v=0 after the update above (fails)
    s.sql(
      """MERGE INTO g.t t USING pa_src2 s ON t.k = s.k
        |WHEN MATCHED AND t.v >= 50 THEN DELETE""".stripMargin)
    val now3 = rows(FactVersioned.read(s, path))
    assert(!now3.exists(_._1 == 6L) && now3.exists(_._1 == 9L))
  }

  test("insert-only MERGE (insert-if-absent) commits the new keys and " +
      "carries every current row — fact and dim doors") {
    val (s, wh, path) = freshTable()
    s.createDataset(Seq((3L, 0, 111L), (400L, 0, 7L))).toDF("k", "p", "v")
      .createOrReplaceTempView("ioi_src")
    s.sql(
      """MERGE INTO g.t t USING ioi_src s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val now = rows(FactVersioned.read(s, path))
    assert(now.contains((3L, 0, 30L)), "existing key untouched")
    assert(now.contains((400L, 0, 7L)), "absent key inserted")
    assert(now.size == 91)
    // dim door
    val dimPath = s"$wh/dioi"
    commitWhole((1 to 5).map(i => (i.toLong, s"n$i")).toDF("k", "name"),
      dimPath)
    s.createDataset(Seq((1L, "one"), (9L, "nine"))).toDF("k", "name")
      .createOrReplaceTempView("ioi_dim")
    s.sql(
      """MERGE INTO g.dioi t USING ioi_dim s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val dn = FactVersioned.read(s, dimPath).as[(Long, String)].collect().toMap
    assert(dn(1L) == "n1" && dn(9L) == "nine" && dn.size == 6)
    // partial INSERT: unassigned columns are NULL (the Delta posture)
    s.createDataset(Seq(Tuple1(500L))).toDF("k")
      .createOrReplaceTempView("ioi_k")
    s.sql(
      """MERGE INTO g.t t USING ioi_k s ON t.k = s.k
        |WHEN NOT MATCHED THEN INSERT (k) VALUES (s.k)""".stripMargin)
    val r500 = FactVersioned.read(s, path).where(col("k") === 500)
      .select("p", "v").collect()
    assert(r500.length == 1 && r500.head.isNullAt(0) && r500.head.isNullAt(1))
  }

  test("WHEN NOT MATCHED BY SOURCE THEN DELETE: partition-scoped " +
      "full sync on facts, whole-table sync on dims, unscoped fact " +
      "shape rejected") {
    val (s, wh, path) = freshTable()
    // full sync of partition p=0: source holds the keys that should
    // remain; everything else in p=0 goes, other partitions untouched
    val keep = Seq(3L, 6L, 9L)
    s.createDataset(keep.map(k => (k, 0, k * 10L))).toDF("k", "p", "v")
      .createOrReplaceTempView("sync_src")
    s.sql(
      """MERGE INTO g.t t USING sync_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE AND t.p = 0 THEN DELETE""".stripMargin)
    val now = rows(FactVersioned.read(s, path))
    assert(now.filter(_._2 == 0).map(_._1) == keep.toSet,
      s"p=0 must hold exactly the source keys, got ${now.filter(_._2 == 0)}")
    assert(now.count(_._2 == 1) == 30 && now.count(_._2 == 2) == 30,
      "unscoped partitions untouched")
    // write amp: p=0 rewritten only (updates + the scoped deletions)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=0"), s"staged $staged")
    // API twin: replacePartitions of p=0 with the source content
    val twinPath = path + "_twin"
    FactVersioned.upsert(spark, twinPath,
      (1 to 90).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    FactVersioned.replacePartitions(spark, twinPath,
      keep.map(k => (k, 0, k * 10L)).toDF("k", "p", "v"), "p", Seq(0))
    assert(rows(FactVersioned.read(s, path)) ==
      rows(FactVersioned.read(spark, twinPath)))
    // the unscoped fact shape stays rejected with guidance
    val e = intercept[UnsupportedOperationException] {
      s.sql(
        """MERGE INTO g.t t USING sync_src s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    }
    assert(e.getMessage.contains("partition-scoping"))
    val e2 = intercept[UnsupportedOperationException] {
      s.sql(
        """MERGE INTO g.t t USING sync_src s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE AND t.v > 5 THEN DELETE""".stripMargin)
    }
    assert(e2.getMessage.contains("partition column"))
    // dim full sync: unmatched rows go, no scoping needed (one root
    // partition)
    val dimPath = s"$wh/dsync"
    commitWhole((1 to 10).map(i => (i.toLong, s"n$i")).toDF("k", "name"),
      dimPath)
    s.createDataset(Seq((2L, "two"), (11L, "eleven"))).toDF("k", "name")
      .createOrReplaceTempView("dim_sync")
    s.sql(
      """MERGE INTO g.dsync t USING dim_sync s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *
        |WHEN NOT MATCHED BY SOURCE THEN DELETE""".stripMargin)
    val dn = FactVersioned.read(s, dimPath).as[(Long, String)].collect().toMap
    assert(dn == Map(2L -> "two", 11L -> "eleven"))
  }

  test("MERGE applies a CDC changelog in one statement: conditional " +
      "DELETE + UPDATE + conditional INSERT, one partition touched") {
    val (s, _, path) = freshTable()
    // changelog over p=0: delete k=3, update k=6 (v=999), insert k=300;
    // a no-op row (op='X', unmatched) routes to no clause
    s.createDataset(Seq(
        ("D", 3L, 0, 0L), ("U", 6L, 0, 999L),
        ("I", 300L, 0, 7L), ("X", 301L, 0, 8L)))
      .toDF("op", "k", "p", "v")
      .withColumn("vgen", lit(null).cast("bigint"))
      .createOrReplaceTempView("cdc")
    s.sql(
      """MERGE INTO g.t t USING cdc s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE
        |WHEN MATCHED AND s.op = 'U' THEN UPDATE SET *
        |WHEN NOT MATCHED AND s.op = 'I' THEN INSERT *""".stripMargin)
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    val now = rows(FactVersioned.read(s, path))
    val expect = (1 to 90).filterNot(_ == 3)
      .map(i => (i.toLong, i % 3, if (i == 6) 999L else i * 10L))
      .toSet + ((300L, 0, 7L))
    assert(now == expect)
    // write amplification: only p=0 staged
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=0"), s"staged $staged")
    // a DELETE-only merge works (no insert clause required); the
    // delete's partition comes from the TARGET row, so the source
    // needs no partition value at all
    s.createDataset(Seq(Tuple1(6L))).toDF("k")
      .createOrReplaceTempView("cdc_d")
    s.sql(
      """MERGE INTO g.t t USING cdc_d s ON t.k = s.k
        |WHEN MATCHED THEN DELETE""".stripMargin)
    assert(!rows(FactVersioned.read(s, path)).exists(_._1 == 6L))
    // an all-no-op changelog commits nothing
    val gens = FactVersioned.generations(s, path)
    s.createDataset(Seq(("X", -1L))).toDF("op", "k")
      .createOrReplaceTempView("cdc_noop")
    s.sql(
      """MERGE INTO g.t t USING cdc_noop s ON t.k = s.k
        |WHEN MATCHED AND s.op = 'D' THEN DELETE""".stripMargin)
    assert(FactVersioned.generations(s, path) == gens)
  }

  test("DELETE FROM rewrites only partitions holding matches; empty " +
      "matches commit nothing; subquery predicates work") {
    val (s, _, path) = freshTable()
    // k in a subquery — the J2 semi-join delete shape. Keys 3,9,15…
    // all live in p=0 (k % 3 == 0) but only HALF of that partition:
    // the commit must rewrite p=0 without them, not drop the dir.
    s.range(0, 15).selectExpr("id * 6 + 3 AS kk")
      .createOrReplaceTempView("dead")
    s.sql("DELETE FROM g.t WHERE k IN (SELECT kk FROM dead)")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    val remaining = rows(FactVersioned.read(s, path))
    assert(remaining == (1 to 90).filter(i => i % 6 != 3)
      .map(i => (i.toLong, i % 3, i * 10L)).toSet)
    // only the matched partition (p=0) was rewritten
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=0"), s"staged $staged")
    // no matches → no new generation
    s.sql("DELETE FROM g.t WHERE k > 100000")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    // deleting a whole partition drops its dir (partition delete)
    s.sql("DELETE FROM g.t WHERE p = 1")
    val head = FactVersioned.generations(s, path).max
    assert(FactVersioned.read(s, path).where(col("p") === 1).count() == 0)
    assert(FactVersioned.read(s, path, Some(head - 1))
      .where(col("p") === 1).count() > 0)
  }

  test("UPDATE rewrites only partitions holding matches; NULL-predicate " +
      "rows untouched; partition-column and vgen assignments rejected") {
    val (s, _, path) = freshTable()
    s.sql("UPDATE g.t SET v = v + 1000 WHERE p = 1 AND k <= 10")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    val expect = (1 to 90).map { i =>
      val v = if (i % 3 == 1 && i <= 10) i * 10L + 1000L else i * 10L
      (i.toLong, i % 3, v)
    }.toSet
    assert(rows(FactVersioned.read(s, path)) == expect)
    // only p=1 rewritten
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=1"), s"staged $staged")
    // no matches → no commit
    s.sql("UPDATE g.t SET v = 0 WHERE k > 100000")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    // partition-moving update rejected
    val e1 = intercept[UnsupportedOperationException] {
      s.sql("UPDATE g.t SET p = 2 WHERE k = 1")
    }
    assert(e1.getMessage.contains("partition column"))
    val e2 = intercept[UnsupportedOperationException] {
      s.sql("UPDATE g.t SET vgen = 7 WHERE k = 1")
    }
    assert(e2.getMessage.contains("vgen"))
    // time travel: generation 0 still reads the pre-update content
    assert(rows(FactVersioned.read(s, path, Some(0L))) ==
      (1 to 90).map(i => (i.toLong, i % 3, i * 10L)).toSet)
  }

  test("a DELETE whose basis generation was overwritten by a foreign " +
      "commit aborts as a conflict instead of silently clobbering it") {
    val (s, _, path) = freshTable()
    // pin the resolution: the analyzed relation reads generation 0's
    // files and the command carries basisGen = 0
    val df = s.table("g.t").where(col("p") === 0 && col("k") <= 9)
    val analyzed = df.queryExecution.analyzed
    val filter = analyzed.collectFirst {
      case f: org.apache.spark.sql.catalyst.plans.logical.Filter => f
    }.get
    val cmd = GraftDeleteCommand(filter.child,
      new AnalyzedCondition(filter.condition), path,
      basisGen = 0L, retain = 3)
    // a foreign committer lands on the SAME partition after resolution
    FactVersioned.upsert(s, path,
      Seq((3L, 0, 777L)).toDF("k", "p", "v"), Seq("k"), "p")
    val boom = intercept[java.util.ConcurrentModificationException] {
      cmd.run(s)
    }
    assert(boom.getMessage.contains("committed concurrently"))
    // nothing of the stale delete landed; the foreign commit survives
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    assert(rows(FactVersioned.read(s, path)).contains((3L, 0, 777L)))

    // an UNPARTITIONED table: every data commit touches its one root
    // partition, so a statement resolved before a foreign INSERT
    // conflicts instead of committing a stale copy that drops the row
    val wh = Files.createTempDirectory("graft_dml_lost_").toString
    s.conf.set("spark.sql.catalog.gl", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gl.root", wh)
    s.createDataset(Seq((2L, "two"), (30L, "thirty"))).toDF("k", "name")
      .createOrReplaceTempView("lost_src")
    Seq(
      "UPDATE gl.d0 SET name = 'x' WHERE k = 1",
      """MERGE INTO gl.d1 t USING lost_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin,
      "DELETE FROM gl.d2 WHERE k = 3"
    ).zipWithIndex.foreach { case (stmt, i) =>
      val dpath = s"$wh/d$i"
      commitWhole((1 to 5).map(i => (i.toLong, s"n$i")).toDF("k", "name"),
        dpath)
      // analyzed, not run: the graft command pins basis generation 0
      val resolved = s.sessionState.executePlan(
        s.sessionState.sqlParser.parsePlan(stmt)).analyzed
      assert(resolved.isInstanceOf[
        org.apache.spark.sql.execution.command.LeafRunnableCommand],
        s"not routed to a graft command: $resolved")
      s.sql(s"INSERT INTO gl.d$i (k, name) VALUES (99, 'foreign')")
      intercept[java.util.ConcurrentModificationException] {
        resolved.asInstanceOf[
          org.apache.spark.sql.execution.command.LeafRunnableCommand].run(s)
      }
      assert(FactVersioned.generations(s, dpath) == Seq(0L, 1L), stmt)
      assert(FactVersioned.read(s, dpath).as[(Long, String)].collect()
        .toSet == (1 to 5).map(i => (i.toLong, s"n$i")).toSet +
          ((99L, "foreign")), stmt)
    }
  }

  test("DML over a dimension (full-copy) table: merge and delete " +
      "commit fresh generations with the expected content") {
    val wh = Files.createTempDirectory("graft_dml_dim_").toString
    val path = s"$wh/d"
    commitWhole((1 to 20).map(i => (i.toLong, s"n$i")).toDF("k", "name"),
      path)
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    s.createDataset(Seq((5L, "five"), (21L, "new")))
      .toDF("k", "name").createOrReplaceTempView("dsrc")
    s.sql(
      """MERGE INTO g.d t USING dsrc s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val now = FactVersioned.read(s, path)
      .as[(Long, String)].collect().toMap
    assert(now(5L) == "five" && now(21L) == "new" && now(6L) == "n6")
    s.sql("DELETE FROM g.d WHERE k <= 3")
    assert(FactVersioned.read(s, path).count() == 18)
    s.sql("UPDATE g.d SET name = concat(name, '!') WHERE k = 10")
    assert(FactVersioned.read(s, path).where(col("k") === 10)
      .select("name").as[String].head() == "n10!")
  }

  private def messagesOf(e: Throwable): String =
    Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")

  test("MERGE with duplicate source keys fails with the cardinality " +
      "message and commits nothing (fact and dim doors both closed)") {
    val (s, wh, path) = freshTable()
    // two source rows per key, same partition — would both survive the
    // anti-join and land duplicate keys if unchecked
    s.range(0, 5).selectExpr("id * 3 + 3 AS k", "0 AS p", "id AS v",
        "CAST(NULL AS BIGINT) AS vgen")
      .unionAll(s.range(0, 5).selectExpr("id * 3 + 3 AS k", "0 AS p",
        "id + 500 AS v", "CAST(NULL AS BIGINT) AS vgen"))
      .createOrReplaceTempView("dup_src")
    val e = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t t USING dup_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(messagesOf(e).contains("cardinality violation"), messagesOf(e))
    assert(FactVersioned.generations(s, path) == Seq(0L),
      "a rejected MERGE must not commit")
    // dim door: same source shape over an unpartitioned table
    val dimPath = s"$wh/ddup"
    commitWhole((1 to 10).map(i => (i.toLong, s"n$i")).toDF("k", "name"),
      dimPath)
    s.createDataset(Seq((5L, "a"), (5L, "b"))).toDF("k", "name")
      .createOrReplaceTempView("dup_dim_src")
    val e2 = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.ddup t USING dup_dim_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(messagesOf(e2).contains("cardinality violation"), messagesOf(e2))
    assert(FactVersioned.generations(s, dimPath).length == 1,
      "a rejected dim MERGE must not commit")
  }

  test("a keyed fact table cannot reach duplicate keys through the " +
      "operator door either: upsert and upsertEvolve enforce " +
      "key-uniqueness") {
    val wh = Files.createTempDirectory("graft_dml_dupop_").toString
    val path = s"$wh/t"
    FactVersioned.upsert(spark,
      path, (1 to 9).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    val dup = Seq((3L, 0, 1L), (3L, 0, 2L)).toDF("k", "p", "v")
    val e = intercept[IllegalStateException] {
      FactVersioned.upsert(spark, path, dup, Seq("k"), "p")
    }
    assert(e.getMessage.contains("cardinality violation"))
    val e2 = intercept[IllegalStateException] {
      FactVersioned.upsertEvolve(spark, path, dup, Seq("k"), "p")
    }
    assert(e2.getMessage.contains("cardinality violation"))
    assert(FactVersioned.generations(spark, path) == Seq(0L))
  }

  test("a partition-moving MERGE source is rejected loudly and " +
      "commits nothing (the stale-row hole)") {
    val (s, _, path) = freshTable()
    // key 3 lives in p=0; the source re-assigns it to p=1 — upsert
    // would insert (3, p=1) while leaving (3, p=0) stale
    s.createDataset(Seq((3L, 1, 999L))).toDF("k", "p", "v")
      .withColumn("vgen", lit(null).cast("bigint"))
      .createOrReplaceTempView("move_src")
    val e = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t t USING move_src s ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(messagesOf(e).contains("partition-moving"), messagesOf(e))
    assert(FactVersioned.generations(s, path) == Seq(0L),
      "a rejected partition-moving MERGE must not commit")
    // a NEW key landing in any partition is not a move — still accepted
    s.createDataset(Seq((500L, 1, 1L))).toDF("k", "p", "v")
      .withColumn("vgen", lit(null).cast("bigint"))
      .createOrReplaceTempView("new_src")
    s.sql(
      """MERGE INTO g.t t USING new_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
  }

  test("multi-column partitioned tables are first-class through every " +
      "SQL door: CTAS, INSERT, UPDATE, DELETE, CDC MERGE, OPTIMIZE, " +
      "DESCRIBE HISTORY, VACUUM") {
    val wh = Files.createTempDirectory("graft_dml_mc_").toString
    var s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    // pin retention above the statement count so the history assert
    // sees every commit (default conf-or-preserve would expire gen 0
    // once depth exceeds 3)
    s.conf.set("spark.sql.catalog.g.retain", "10")
    val path = s"$wh/mc"
    // CTAS with two identity partition columns
    s.range(1, 61).selectExpr("id AS k",
        "CAST(2000 + id % 2 AS INT) AS y",
        "CASE WHEN id % 4 < 2 THEN 'A' ELSE 'B' END AS st", "id * 10 AS v")
      .createOrReplaceTempView("mc_src")
    s.sql(
      """CREATE TABLE g.mc PARTITIONED BY (y, st)
        |AS SELECT k, v, y, st FROM mc_src""".stripMargin)
    assert(FactVersioned.generations(s, path) == Seq(0L))
    assert(FactVersioned.partitionColumns(s, path) == Seq("y", "st"))
    // INSERT appends through appendBy (cost ∝ touched leaves)
    s.sql(
      """INSERT INTO g.mc BY NAME
        |SELECT 100L AS k, 7L AS v, 2000 AS y, 'A' AS st,
        |  CAST(NULL AS BIGINT) AS vgen""".stripMargin)
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    def stagedLeaves(g: Long): Set[String] = {
      val vd = new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=$g")
      fs.listStatus(vd).filter(_.isDirectory).flatMap(a =>
        fs.listStatus(a.getPath).filter(_.isDirectory).map(b =>
          s"${a.getPath.getName}/${b.getPath.getName}")).toSet
    }
    assert(stagedLeaves(1L) == Set("y=2000/st=A"))
    // UPDATE rewrites only the leaves holding matches
    s.sql("UPDATE g.mc SET v = v + 1000 WHERE y = 2001 AND st = 'B' " +
      "AND k <= 20")
    assert(stagedLeaves(2L) == Set("y=2001/st=B"))
    // DELETE likewise
    s.sql("DELETE FROM g.mc WHERE y = 2000 AND st = 'B' AND k <= 10")
    assert(stagedLeaves(3L) == Set("y=2000/st=B"))
    // CDC MERGE: delete one key, update one, insert one — the delete
    // takes its leaf from the TARGET tuple
    s.createDataset(Seq(("D", 100L, 0, "X", 0L), ("U", 8L, 2000, "A", 888L),
        ("I", 200L, 2001, "A", 2L)))
      .toDF("op", "k", "y", "st", "v")
      .withColumn("vgen", lit(null).cast("bigint"))
      .createOrReplaceTempView("mc_cdc")
    s.sql(
      """MERGE INTO g.mc t USING mc_cdc src ON t.k = src.k
        |WHEN MATCHED AND src.op = 'D' THEN DELETE
        |WHEN MATCHED AND src.op = 'U' THEN UPDATE SET k = src.k,
        |  v = src.v, y = src.y, st = src.st, vgen = src.vgen
        |WHEN NOT MATCHED AND src.op = 'I' THEN INSERT (k, v, y, st, vgen)
        |  VALUES (src.k, src.v, src.y, src.st, src.vgen)""".stripMargin)
    assert(stagedLeaves(4L) == Set("y=2000/st=A", "y=2001/st=A"))
    val now = FactVersioned.read(s, path)
      .select("k", "y", "st", "v").as[(Long, Int, String, Long)]
      .collect().toSet
    assert(!now.exists(_._1 == 100L))
    assert(now.contains((8L, 2000, "A", 888L)))
    assert(now.contains((200L, 2001, "A", 2L)))
    // a partition-moving update on the (y, st) grid is rejected
    s.createDataset(Seq((8L, 2001, "B", 1L))).toDF("k", "y", "st", "v")
      .withColumn("vgen", lit(null).cast("bigint"))
      .createOrReplaceTempView("mc_move")
    val e = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.mc t USING mc_move src ON t.k = src.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(messagesOf(e).contains("partition-moving"), messagesOf(e))
    // maintenance statements over the multi-column table
    val hist = s.sql("DESCRIBE HISTORY g.mc").collect()
    assert(hist.map(_.getLong(0)).toSeq == Seq(4L, 3L, 2L, 1L, 0L))
    assert(hist.find(_.getLong(0) == 2L).get.getSeq[String](2) ==
      Seq("y=2001/st=B"))
    val cnt = FactVersioned.read(s, path).count()
    s.sql("OPTIMIZE g.mc ZORDER BY (k, v)")
    assert(FactVersioned.read(s, path).count() == cnt)
    assert(s.sql("VACUUM g.mc RETAIN 1 GENERATIONS").count() > 0)
    assert(FactVersioned.read(s, path).count() == cnt)
  }

  test("MERGE ON with differently-named key columns routes through " +
      "the mapping — even when the source carries an UNRELATED column " +
      "under the target key's name") {
    val (s, _, path) = freshTable()
    // kk is the real key; the source's own `k` column is a decoy the
    // probe/routing must never consult (same-name lookup would route
    // every row to key -1)
    s.createDataset(Seq((3L, -1L, 3000L), (91L, -1L, 9100L)))
      .toDF("kk", "k", "nv").createOrReplaceTempView("km_src")
    s.sql(
      """MERGE INTO g.t AS t USING km_src AS s ON t.k = s.kk
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.kk, 0, s.nv)
        |""".stripMargin)
    val now = rows(FactVersioned.read(s, path))
    assert(now.contains((3L, 0, 3000L)), "matched row must update")
    assert(now.contains((91L, 0, 9100L)), "unmatched key must insert")
    assert(!now.exists(_._1 == -1L), "the decoy column must never route")
    assert(now.size == 91)
    // a key-REASSIGNING update is rejected before anything commits
    val e = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t AS t USING km_src AS s ON t.k = s.kk
          |WHEN MATCHED THEN UPDATE SET k = s.kk + 1
          |""".stripMargin)
    }
    assert(messagesOf(e).contains("reassigns merge key"), messagesOf(e))
    // the no-op identity forms are accepted: SET k = s.kk / SET k = t.k
    s.sql(
      """MERGE INTO g.t AS t USING km_src AS s ON t.k = s.kk
        |WHEN MATCHED THEN UPDATE SET k = s.kk, v = s.nv + 1
        |""".stripMargin)
    s.sql(
      """MERGE INTO g.t AS t USING km_src AS s ON t.k = s.kk
        |WHEN MATCHED THEN UPDATE SET k = t.k, v = s.nv + 2
        |""".stripMargin)
    assert(rows(FactVersioned.read(s, path)).contains((3L, 0, 3002L)))
    // a target key named TWICE in ON is ambiguous routing — rejected
    val dup = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t AS t USING km_src AS s
          |ON t.k = s.kk AND t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.nv
          |""".stripMargin)
    }
    assert(messagesOf(dup).contains("more than once"), messagesOf(dup))
  }

  test("merge-key type coercion: an INT source key joins a BIGINT " +
      "target key and assignments cast to the target's pinned types " +
      "(store-assignment posture)") {
    val (s, _, path) = freshTable() // k: bigint, v: bigint
    s.createDataset(Seq((6, 7), (91, 8))).toDF("kk", "nv")
      .createOrReplaceTempView("ty_src") // kk, nv: INT
    s.sql(
      """MERGE INTO g.t AS t USING ty_src AS s ON t.k = s.kk
        |WHEN MATCHED THEN UPDATE SET v = s.nv
        |WHEN NOT MATCHED THEN INSERT (k, p, v) VALUES (s.kk, 0, 0)
        |""".stripMargin)
    val now = rows(FactVersioned.read(s, path))
    assert(now.contains((6L, 0, 7L)), "int-keyed update must land")
    assert(now.contains((91L, 0, 0L)),
      "int literal 0 must cast to the bigint column")
  }

  test("INSERT BY NAME auto-widening is conf-gated: off → the standard " +
      "extra-columns rejection; on → metadata-only addColumns + append, " +
      "carried rows null-fill, tombstoned names stay rejected") {
    val (s, _, path) = freshTable()
    // default posture: extra source columns are an analysis error
    intercept[Exception] {
      s.sql("INSERT INTO g.t BY NAME " +
        "SELECT 1000L AS k, 0 AS p, 1L AS v, 'x' AS note")
    }
    assert(FactVersioned.generations(s, path) == Seq(0L),
      "the rejected insert must not commit")
    s.conf.set(GraftDml.AutoMergeConf, "true")
    try {
      s.sql("INSERT INTO g.t BY NAME " +
        "SELECT 1000L AS k, 0 AS p, 1L AS v, 'x' AS note")
      // two commits: the metadata-only widening, then the append
      assert(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L))
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
        "the widening commit must stage no data")
      assert(s.sql("SELECT note FROM g.t WHERE k = 1000")
        .head().getString(0) == "x")
      assert(s.sql("SELECT note FROM g.t WHERE k = 5").head().isNullAt(0),
        "carried rows must null-fill the added column")
      // the tombstone survives the door: drop, then re-widen → rejected
      s.sql("ALTER TABLE g.t DROP COLUMN note")
      val e = intercept[Exception] {
        s.sql("INSERT INTO g.t BY NAME " +
          "SELECT 1001L AS k, 0 AS p, 1L AS v, 'y' AS note")
      }
      assert(messagesOf(e).contains("DROPPED"), messagesOf(e))
      // dimension tables widen through the same door (alterTable →
      // a metadata-only widening commit, then the append)
      commitWhole((1 to 5).map(i => (i.toLong, s"n$i"))
        .toDF("k", "name"), s"${path.stripSuffix("/t")}/d")
      s.sql("INSERT INTO g.d BY NAME " +
        "SELECT 6L AS k, 'n6' AS name, 'x' AS tag")
      assert(s.sql("SELECT tag FROM g.d WHERE k = 6")
        .head().getString(0) == "x")
      assert(s.sql("SELECT tag FROM g.d WHERE k = 1").head().isNullAt(0))
    } finally s.conf.unset(GraftDml.AutoMergeConf)
  }

  test("INSERT BY NAME auto-widening covers NESTED struct fields: a " +
      "source struct carrying an extra field evolves the table " +
      "(metadata-only) before the append; carried rows null-fill") {
    val wh = Files.createTempDirectory("graft_dml_nins_").toString
    val path = s"$wh/t"
    val rows0 = (1 to 9).map(i => (i.toLong, i % 3, s"s$i"))
      .toDF("k", "p", "src")
      .select(col("k"), col("p"), struct(col("src")).as("meta"))
    FactVersioned.upsert(spark, path, rows0, Seq("k"), "p")
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    // conf off: the wider struct is the standard resolution error
    intercept[Exception] {
      s.sql("INSERT INTO g.t BY NAME SELECT 100L AS k, 0 AS p, " +
        "named_struct('src', 'new', 'lang', 'en') AS meta")
    }
    assert(FactVersioned.generations(s, path) == Seq(0L))
    s.conf.set(GraftDml.AutoMergeConf, "true")
    try {
      s.sql("INSERT INTO g.t BY NAME SELECT 100L AS k, 0 AS p, " +
        "named_struct('src', 'new', 'lang', 'en') AS meta")
      assert(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
        "nested widening + append must land as two generations")
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
        "the nested widening commit must stage no data")
      assert(s.sql("SELECT meta.lang FROM g.t WHERE k = 100")
        .head().getString(0) == "en")
      assert(s.sql("SELECT meta.lang FROM g.t WHERE k = 5")
        .head().isNullAt(0), "carried rows must null-fill")
    } finally s.conf.unset(GraftDml.AutoMergeConf)
  }

  test("ON-clause cast see-through is limited to comparison coercion: " +
      "a user cast to STRING is rejected, not silently re-joined raw") {
    val (s, _, path) = freshTable()
    s.createDataset(Seq(("6", 7L), ("010", 8L))).toDF("txt", "nv")
      .createOrReplaceTempView("str_src")
    // canUpCast(bigint → string) holds, but seeing through it would
    // rebuild the probe as t.k = s.txt — NUMERIC coercion ('010' = 10
    // matches), not the user's string equality ('010' ≠ '10')
    val e = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t AS t USING str_src AS s
          |ON CAST(t.k AS STRING) = s.txt
          |WHEN MATCHED THEN UPDATE SET v = s.nv
          |""".stripMargin)
    }
    assert(messagesOf(e).contains("conjunction of target.col"),
      messagesOf(e))
    assert(FactVersioned.generations(s, path) == Seq(0L),
      "the rejected merge must not commit")
  }

  test("the reserved __graft_ source-namespace guard is case-" +
      "insensitive, like Spark name resolution") {
    val (s, _, _) = freshTable()
    s.createDataset(Seq((3L, 30L))).toDF("__GRAFT_K0", "nv")
      .createOrReplaceTempView("res_src")
    val e = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t AS t USING res_src AS s ON t.k = s.__GRAFT_K0
          |WHEN MATCHED THEN UPDATE SET v = s.nv
          |""".stripMargin)
    }
    assert(messagesOf(e).contains("reserved"), messagesOf(e))
  }

  test("WHEN NOT MATCHED BY SOURCE THEN UPDATE flags scoped stale " +
      "rows in place; key/partition assignments rejected") {
    val (s, _, path) = freshTable()
    // source names the even keys of partition 1; odd keys of 1 are
    // stale and get flagged v = -1 (other partitions untouched)
    s.sql(
      """CREATE OR REPLACE TEMPORARY VIEW bs_src AS
        |SELECT k, p, v FROM g.t WHERE p = 1 AND k % 2 = 0""".stripMargin)
    s.sql(
      """MERGE INTO g.t AS t USING bs_src AS s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE AND t.p = 1 THEN UPDATE SET v = -1
        |""".stripMargin)
    val now = rows(FactVersioned.read(s, path))
    assert(now.size == 90, "BY SOURCE UPDATE must not add or drop rows")
    now.foreach { case (k, p, v) =>
      if (p == 1 && k % 2 == 1) assert(v == -1L, s"stale ($k,$p) unflagged")
      else assert(v == k * 10, s"($k,$p) must carry verbatim, got $v")
    }
    // write amplification: only p=1 staged
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=1"), staged)
    val rekey = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t AS t USING bs_src AS s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE AND t.p = 1 THEN UPDATE SET k = 0
          |""".stripMargin)
    }
    assert(messagesOf(rekey).contains("reassigns merge key"),
      messagesOf(rekey))
    val move = intercept[Throwable] {
      s.sql(
        """MERGE INTO g.t AS t USING bs_src AS s ON t.k = s.k
          |WHEN NOT MATCHED BY SOURCE AND t.p = 1 THEN UPDATE SET p = 2
          |""".stripMargin)
    }
    assert(messagesOf(move).contains("partition column"), messagesOf(move))
  }

  test("BY SOURCE UPDATE over a dimension table flags every stale row " +
      "(full-copy commit, no scoping needed)") {
    val wh = Files.createTempDirectory("graft_dml_dimbs_").toString
    val path = s"$wh/d"
    commitWhole(
      (1 to 10).map(i => (i.toLong, s"n$i", 0)).toDF("k", "name", "stale"),
      path)
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    s.createDataset(Seq(1L, 2L, 3L)).toDF("k")
      .createOrReplaceTempView("dim_feed")
    s.sql(
      """MERGE INTO g.d t USING dim_feed s ON t.k = s.k
        |WHEN NOT MATCHED BY SOURCE THEN UPDATE SET stale = 1
        |""".stripMargin)
    val now = FactVersioned.read(s, path)
      .select("k", "stale").as[(Long, Int)].collect().toMap
    assert((1 to 3).forall(i => now(i.toLong) == 0))
    assert((4 to 10).forall(i => now(i.toLong) == 1))
  }

  test("MERGE WITH SCHEMA EVOLUTION widens NESTED struct fields: the " +
      "evolution lands as a metadata-only commit and carried rows " +
      "null-fill the new field") {
    val wh = Files.createTempDirectory("graft_dml_nevo_").toString
    val path = s"$wh/t"
    val rows0 = (1 to 12).map(i => (i.toLong, i % 3, s"s$i"))
      .toDF("k", "p", "src")
      .select(col("k"), col("p"), struct(col("src")).as("meta"))
    FactVersioned.upsert(spark, path, rows0, Seq("k"), "p")
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    s.createDataset(Seq((3L, 0))).toDF("k", "p")
      .select(col("k"), col("p"),
        struct(lit("new").as("src"), lit("en").as("lang")).as("meta"))
      .createOrReplaceTempView("nevo_src")
    s.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO g.t t USING nevo_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val now = FactVersioned.read(s, path)
    val meta = now.schema("meta").dataType
      .asInstanceOf[org.apache.spark.sql.types.StructType]
    assert(meta.fieldNames.toSeq == Seq("src", "lang"), meta.toString)
    val got = now.select(col("k"), col("meta.src"), col("meta.lang"))
      .as[(Long, String, Option[String])].collect()
      .map(r => r._1 -> (r._2, r._3)).toMap
    assert(got(3L) == ("new", Some("en")), got.toString)
    assert(got(4L) == ("s4", None), "carried rows must null-fill")
  }

  test("MERGE WITH SCHEMA EVOLUTION widens through addColumns — and a " +
      "tombstoned (previously dropped) name stays rejected") {
    val wh = Files.createTempDirectory("graft_dml_evo_").toString
    val path = s"$wh/t"
    val rows0 = (1 to 30).map(i => (i.toLong, i % 3, i * 10L, s"x$i"))
      .toDF("k", "p", "v", "note")
    FactVersioned.upsert(spark, path, rows0, Seq("k"), "p")
    FactVersioned.dropColumns(spark, path, Seq("note"))
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    // evolving a FRESH name widens (metadata-only) then merges
    s.createDataset(Seq((3L, 0, 33L, "t3"))).toDF("k", "p", "v", "tag")
      .createOrReplaceTempView("evo_src")
    s.sql(
      """MERGE WITH SCHEMA EVOLUTION INTO g.t t USING evo_src s
        |ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET *
        |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    val now = FactVersioned.read(s, path)
    assert(now.columns.contains("tag"))
    assert(now.where(col("k") === 3).select("tag").as[String].head() == "t3")
    assert(now.where(col("k") === 4).select("tag")
      .as[Option[String]].head().isEmpty, "carried rows must null-fill")
    // the dropped name must NOT come back through this door: carried
    // pre-drop files still physically hold `note`, and a re-add would
    // resurrect those stale values
    s.createDataset(Seq((5L, 1, 55L, "ghost")))
      .toDF("k", "p", "v", "note").createOrReplaceTempView("evo_bad")
    val e = intercept[Throwable] {
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO g.t t USING evo_bad s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
    }
    assert(messagesOf(e).contains("DROPPED"), messagesOf(e))
  }
}
