package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{FactVersioned, RetryContract, Upsert, Versioned}

/** [[GraftCatalog]]: named-table SQL must resolve to EXACTLY the same
  * rows as the path-based generation reads (latest and VERSION AS OF),
  * for both versioned stores, keep native pushdown, and stay
  * read-only. */
class GraftCatalogSpec extends SparkSpec {
  import spark.implicits._

  private def register(root: String): Unit = {
    spark.conf.set("spark.sql.catalog.graftt",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftt.root", root)
  }

  private def dim(n: Int) =
    (1 to n).map(i => (i.toLong, s"s$i", i * 10L)).toDF("id", "name", "v")

  test("Versioned: latest and VERSION AS OF resolve hash-equal to path reads") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/dims"
    val v0 = dim(50)
    Versioned.commit(v0, path)
    val v1 = Upsert.upsert(v0,
      dim(50).where($"id" % 2 === 0).withColumn("v", $"v" * 3), Seq("id"))
    Versioned.commit(v1, path)
    register(root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "name", "v").as[(Long, String, Long)].collect().toSet
    assert(rows(spark.sql("SELECT * FROM graftt.dims")) ==
      rows(Versioned.read(spark, path)))
    assert(rows(spark.sql("SELECT * FROM graftt.dims VERSION AS OF 0")) ==
      rows(Versioned.read(spark, path, Some(0L))))
    assert(rows(spark.sql("SELECT * FROM graftt.dims VERSION AS OF 0")) !=
      rows(spark.sql("SELECT * FROM graftt.dims")))
  }

  test("FactVersioned: manifest-resolved SQL reads match path reads; " +
      "vgen provenance column exposed") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/facts"
    val f0 = (1 to 60).map(i => (i.toLong, i % 3, i * 1.5)).toDF("k", "p", "x")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    val upd = f0.where($"p" === 1).withColumn("x", $"x" * 2)
    FactVersioned.upsert(spark, path, upd, Seq("k"), "p")
    register(root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("k", "p", "x").as[(Long, Int, Double)].collect().toSet
    assert(rows(spark.sql("SELECT * FROM graftt.facts")) ==
      rows(FactVersioned.read(spark, path)))
    assert(rows(spark.sql("SELECT * FROM graftt.facts VERSION AS OF 0")) ==
      rows(FactVersioned.read(spark, path, Some(0L))))
    // provenance: partition p=1's rows were rewritten by commit 1, the
    // others still come from commit 0's shared files
    val prov = spark.sql(
        "SELECT DISTINCT p, vgen FROM graftt.facts ORDER BY p")
      .as[(Int, Long)].collect().toSet
    assert(prov == Set((0, 0L), (1, 1L), (2, 0L)), s"got $prov")
  }

  test("predicate pushdown reaches the native parquet scan through the catalog") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/facts"
    val f0 = (1 to 40).map(i => (i.toLong, i % 2, i * 1.0)).toDF("k", "p", "x")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    register(root)
    val q = spark.sql("SELECT k, x FROM graftt.facts WHERE k > 35")
    assert(q.as[(Long, Double)].collect().toSet ==
      Set((36L, 36.0), (37L, 37.0), (38L, 38.0), (39L, 39.0), (40L, 40.0)))
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.contains("PushedFilters") && plan.contains("GreaterThan(k,35"),
      s"expected k > 35 pushed to the parquet scan:\n$plan")
  }

  test("TIMESTAMP AS OF resolves the newest generation committed at or " +
      "before the instant; pre-history timestamps fail loudly") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/dims"
    val v0 = dim(20)
    Versioned.commit(v0, path)
    Thread.sleep(1100) // marker mtimes are second-granular on some FS
    val between = java.time.Instant.now()
    Thread.sleep(1100)
    Versioned.commit(
      Upsert.upsert(v0, dim(20).withColumn("v", $"v" + 1), Seq("id")), path)
    register(root)
    def rows(df: org.apache.spark.sql.DataFrame) =
      df.select("id", "name", "v").as[(Long, String, Long)].collect().toSet
    val fmt = java.time.format.DateTimeFormatter
      .ofPattern("yyyy-MM-dd HH:mm:ss.SSS")
      .withZone(java.time.ZoneOffset.UTC)
    val asOf = spark.sql(
      s"SELECT * FROM graftt.dims TIMESTAMP AS OF '${fmt.format(between)}'")
    assert(rows(asOf) == rows(Versioned.read(spark, path, Some(0L))))
    val now = spark.sql(
      s"SELECT * FROM graftt.dims TIMESTAMP AS OF " +
        s"'${fmt.format(java.time.Instant.now())}'")
    assert(rows(now) == rows(Versioned.read(spark, path, Some(1L))))
    intercept[Exception] {
      spark.sql(
        "SELECT * FROM graftt.dims TIMESTAMP AS OF '1999-01-01 00:00:00'")
        .collect()
    }
  }

  test("an evolved fact table reads through the catalog: carried files " +
      "null-fill the added column; the old generation keeps its schema") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/facts"
    val f0 = (1 to 9).map(i => (i.toLong, i % 3, i * 1.0)).toDF("k", "p", "x")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    FactVersioned.upsertEvolve(spark, path,
      f0.where($"p" === 1).withColumn("tag", concat(lit("t"), $"k")),
      Seq("k"), "p")
    register(root)
    val head = spark.sql("SELECT p, tag FROM graftt.facts")
      .as[(Int, Option[String])].collect().toSet
    assert(head.filter(_._1 == 1).forall(_._2.nonEmpty))
    assert(head.filter(_._1 != 1).forall(_._2.isEmpty),
      "carried partitions must null-fill the added column through the catalog")
    assert(!spark.sql("SELECT * FROM graftt.facts VERSION AS OF 0")
      .columns.contains("tag"))
  }

  test("SHOW TABLES lists the versioned tables under the root") {
    val root = Files.createTempDirectory("graft_cat_").toString
    Versioned.commit(dim(5), s"$root/dtable")
    val f = (1 to 6).map(i => (i.toLong, i % 2, i * 1.0)).toDF("k", "p", "x")
    FactVersioned.upsert(spark, s"$root/ftable", f, Seq("k"), "p")
    // a non-table dir must not be listed
    new java.io.File(s"$root/not_a_table").mkdirs()
    register(root)
    val shown = spark.sql("SHOW TABLES IN graftt")
      .select("tableName").as[String].collect().toSet
    assert(shown == Set("dtable", "ftable"), s"got $shown")
  }

  test("catalog rejects destructive DDL; unknown tables fail loudly; " +
      "a data-less CREATE TABLE is a pending husk until written") {
    val root = Files.createTempDirectory("graft_cat_").toString
    register(root)
    intercept[Exception] {
      spark.sql("SELECT * FROM graftt.nope").collect()
    }
    // plain CREATE TABLE (no AS SELECT) leaves a PENDING table: reads
    // fail loudly with the CTAS guidance; DROP removes the husk (the
    // one drop the catalog allows — committed tables keep rejection)
    spark.sql("CREATE TABLE graftt.t2 (a INT) USING parquet").collect()
    val e = intercept[Exception] {
      spark.sql("SELECT * FROM graftt.t2").collect()
    }
    assert(e.getMessage.contains("pending"), e.getMessage)
    spark.sql("DROP TABLE graftt.t2")
    assert(!new java.io.File(s"$root/t2").exists())
    // mutation DDL on real tables still rejected (ADD/DROP COLUMN are
    // the allowed changes — metadata-scale evolution, tested
    // separately; DROP COLUMN on a dim commits a fresh full copy)
    Versioned.commit(dim(5), s"$root/dt")
    spark.sql("ALTER TABLE graftt.dt DROP COLUMN v").collect()
    assert(!spark.table("graftt.dt").columns.contains("v"),
      "dim DROP COLUMN must commit a narrowed full copy")
    // dim RENAME: a fresh full-copy generation under the new name
    spark.sql("ALTER TABLE graftt.dt RENAME COLUMN name TO nm").collect()
    assert(spark.table("graftt.dt").columns.contains("nm"))
    intercept[Exception] {
      spark.sql("DROP TABLE graftt.dt").collect()
    }
  }

  test("TRUNCATE TABLE is VERSIONED emptying: the new head is empty, " +
      "history still time-travels, nothing is staged or destroyed") {
    val root = Files.createTempDirectory("graft_cat_trunc_").toString
    register(root)
    val fpath = s"$root/tf"
    val rows = (1 to 30).map(i => (i.toLong, i % 3, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, fpath, rows, Seq("k"), "p", retain = 10)
    spark.conf.set("spark.sql.catalog.graftt.retain", "10")
    try {
      spark.sql("TRUNCATE TABLE graftt.tf")
      assert(spark.table("graftt.tf").count() == 0)
      assert(FactVersioned.generations(spark, fpath) == Seq(0L, 1L))
      // zero staged data: the truncate is a manifest-only commit
      val fs = new org.apache.hadoop.fs.Path(fpath)
        .getFileSystem(spark.sparkContext.hadoopConfiguration)
      assert(!fs.exists(new org.apache.hadoop.fs.Path(
        s"$fpath/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")))
      // the pre-truncate generation still reads exactly
      assert(spark.sql("SELECT * FROM graftt.tf VERSION AS OF 0")
        .count() == 30)
      // truncating the already-empty head is a no-op, not an error
      spark.sql("TRUNCATE TABLE graftt.tf")
      assert(spark.table("graftt.tf").count() == 0)
      // the table stays insertable after
      spark.sql("INSERT INTO graftt.tf BY NAME " +
        "SELECT 99L AS k, 0 AS p, 1L AS v")
      assert(spark.table("graftt.tf").count() == 1)
      // dimension tables truncate the same way
      Versioned.commit(dim(5), s"$root/td")
      spark.sql("TRUNCATE TABLE graftt.td")
      assert(spark.table("graftt.td").count() == 0)
      assert(spark.sql("SELECT * FROM graftt.td VERSION AS OF 0")
        .count() == 5)
    } finally spark.conf.unset("spark.sql.catalog.graftt.retain")
  }

  test("DROP TABLE ... PURGE destroys a committed table through the " +
      "claim protocol; bare DROP stays rejected; racing readers fail " +
      "loudly, never read a half-table") {
    val root = Files.createTempDirectory("graft_cat_purge_").toString
    register(root)
    // fact table
    val fpath = s"$root/pf"
    FactVersioned.upsert(spark,
      fpath, (1 to 30).map(i => (i.toLong, i % 3, i * 10L))
        .toDF("k", "p", "v"), Seq("k"), "p")
    // bare DROP: still the safety rejection, tree untouched
    val eBare = intercept[Exception] {
      spark.sql("DROP TABLE graftt.pf").collect()
    }
    assert(eBare.getMessage.contains("PURGE"), eBare.getMessage)
    assert(new java.io.File(fpath).exists())
    // a reader pins generation 0 BEFORE the purge
    val pinned = spark.sql("SELECT * FROM graftt.pf VERSION AS OF 0")
    spark.sql("DROP TABLE graftt.pf PURGE").collect()
    assert(!new java.io.File(fpath).exists(), "purge must remove the tree")
    assert(!spark.catalog.tableExists("graftt.pf"))
    // the pinned reader fails LOUDLY (files gone), never half-answers
    intercept[Exception] { pinned.collect() }
    // dimension table purges too
    Versioned.commit(dim(5), s"$root/pd")
    spark.sql("DROP TABLE graftt.pd PURGE").collect()
    assert(!new java.io.File(s"$root/pd").exists())
    // purging nothing fails loudly
    intercept[Exception] {
      spark.sql("DROP TABLE graftt.gone PURGE").collect()
    }
    // the name is reusable after a purge (fresh physical namespace)
    spark.sql(
      "CREATE TABLE graftt.pf AS SELECT 1L AS k, 2L AS v")
    assert(spark.table("graftt.pf").count() == 1)
  }

  test("ALTER TABLE ADD COLUMN widens the pinned schema with no data " +
      "rewrite; old generations keep their schema; new DML sees it") {
    val root = Files.createTempDirectory("graft_cat_alter_").toString
    val path = s"$root/fa"
    val f0 = (1 to 30).map(i => (i.toLong, i % 3, i * 1.5)).toDF("k", "p", "x")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    register(root)
    spark.sql("ALTER TABLE graftt.fa ADD COLUMN note STRING")
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    // metadata-scale: the evolution generation staged NO data files
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vdir = new org.apache.hadoop.fs.Path(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")
    assert(!fs.exists(vdir) ||
      fs.listStatus(vdir).forall(!_.isDirectory),
      "ADD COLUMN must not rewrite data")
    // head reads null-filled; VERSION AS OF 0 keeps the narrow schema
    val head = spark.sql("SELECT k, note FROM graftt.fa")
    assert(head.count() == 30 &&
      head.where(col("note").isNotNull).count() == 0)
    assert(!spark.sql("SELECT * FROM graftt.fa VERSION AS OF 0")
      .columns.contains("note"))
    // new writes see the widened schema
    spark.sql(
      """INSERT INTO graftt.fa BY NAME
        |SELECT 100L AS k, 0 AS p, 9.0 AS x, 'hello' AS note,
        |  CAST(NULL AS BIGINT) AS vgen""".stripMargin)
    assert(spark.sql(
        "SELECT note FROM graftt.fa WHERE k = 100").collect()
      .head.getString(0) == "hello")
    // rejected shapes: duplicate, non-appended, dim nested
    intercept[Exception] {
      spark.sql("ALTER TABLE graftt.fa ADD COLUMN note STRING").collect()
    }
    // dimensions evolve by full-copy commit
    Versioned.commit(dim(5), s"$root/da")
    spark.sql("ALTER TABLE graftt.da ADD COLUMN z INT")
    assert(Versioned.generations(spark, s"$root/da") == Seq(0L, 1L))
    assert(spark.sql("SELECT z FROM graftt.da")
      .collect().forall(_.isNullAt(0)))
    assert(!spark.sql("SELECT * FROM graftt.da VERSION AS OF 0")
      .columns.contains("z"))
  }

  test("INSERT INTO a fact table appends through FactVersioned.append: " +
      "new generation, touched partitions only, vgen input ignored") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/facts"
    val f0 = (1 to 30).map(i => (i.toLong, i % 3, i * 1.0)).toDF("k", "p", "x")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    register(root)
    // BY NAME sidesteps the resolved column order (partition columns
    // sort last in a discovered-partition table); the vgen provenance
    // slot rides as NULL — its value is ignored by the committer
    spark.sql(
      """INSERT INTO graftt.facts BY NAME
        |SELECT k + 100 AS k, CAST(1 AS INT) AS p, x + 0.5 AS x,
        |  CAST(NULL AS BIGINT) AS vgen
        |FROM graftt.facts WHERE p = 1 AND k <= 3""".stripMargin)
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    // only partition p=1 was touched by the append commit: commit 1's
    // vgen dir holds exactly that partition's fresh files
    val vdir = new java.io.File(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")
    assert(vdir.listFiles().filter(_.isDirectory).map(_.getName).toSet ==
      Set("p=1"))
    val rows = FactVersioned.read(spark, path)
      .select("k", "p", "x").as[(Long, Int, Double)].collect().toSet
    val expected = (1 to 30).map(i => (i.toLong, i % 3, i * 1.0)).toSet ++
      Set((101L, 1, 1.5))
    assert(rows == expected, s"got ${rows -- expected} extra")
    // SQL-visible immediately: the next resolution sees the new head
    assert(spark.sql("SELECT count(*) FROM graftt.facts")
      .as[Long].head() === 31L)
  }

  test("INSERT INTO a dimension table commits a fresh full-copy " +
      "generation; the old generation still time-travels") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/dims"
    Versioned.commit(dim(10), path)
    register(root)
    spark.sql(
      "INSERT INTO graftt.dims VALUES (100, 's100', 1000)")
    assert(Versioned.generations(spark, path) == Seq(0L, 1L))
    assert(spark.sql("SELECT count(*) FROM graftt.dims")
      .as[Long].head() === 11L)
    assert(spark.sql("SELECT count(*) FROM graftt.dims VERSION AS OF 0")
      .as[Long].head() === 10L)
  }

  test("INSERT OVERWRITE commits (r16 — full-head replace, versioned); " +
      "DYNAMIC partition-overwrite mode is rejected at analysis; " +
      "pinned-version resolutions are not insertable") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/facts"
    val f0 = (1 to 12).map(i => (i.toLong, i % 2, i * 1.0)).toDF("k", "p", "x")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    register(root)
    // spec-less static overwrite: ONE versioned commit replacing the
    // head; history keeps the old content (InsertOverwriteSpec covers
    // the partition-spec'd shapes and FS write-amp asserts)
    spark.sql(
      """INSERT OVERWRITE graftt.facts BY NAME
        |SELECT k, p, x * 10 AS x, CAST(NULL AS BIGINT) AS vgen
        |FROM graftt.facts WHERE k <= 3""".stripMargin)
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    assert(spark.sql("SELECT count(*) FROM graftt.facts")
      .as[Long].head() === 3L)
    assert(spark.sql(
        "SELECT count(*) FROM graftt.facts VERSION AS OF 0")
      .as[Long].head() === 12L)
    // dynamic mode: the OVERWRITE_DYNAMIC capability is deliberately
    // absent — Spark rejects at analysis, nothing commits
    val prevMode = spark.conf.get("spark.sql.sources.partitionOverwriteMode")
    try {
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      val e = intercept[Exception] {
        spark.sql(
          """INSERT OVERWRITE graftt.facts BY NAME
            |SELECT k, p, x, CAST(NULL AS BIGINT) AS vgen
            |FROM graftt.facts""".stripMargin)
      }
      assert(e.getMessage.toLowerCase.contains("dynamic") ||
        e.getMessage.toLowerCase.contains("overwrite"), e.getMessage)
      assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    } finally
      spark.conf.set("spark.sql.sources.partitionOverwriteMode", prevMode)
  }

  test("CTAS creates a fact table (PARTITIONED BY) or a dimension " +
      "(unpartitioned) whose first commit is the query result; " +
      "committed tables cannot be re-created or dropped") {
    val root = Files.createTempDirectory("graft_cat_ctas_").toString
    register(root)
    (1 to 60).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v")
      .createOrReplaceTempView("ctas_src")
    // fact CTAS: generation 0 = the SELECT result, committed through
    // replacePartitions (partition layout on disk, time travel live)
    spark.sql(
      """CREATE TABLE graftt.ctas_fact PARTITIONED BY (p)
        |AS SELECT k, p, v FROM ctas_src WHERE k <= 40""".stripMargin)
    val path = s"$root/ctas_fact"
    assert(FactVersioned.generations(spark, path) == Seq(0L))
    assert(spark.sql("SELECT COUNT(*) FROM graftt.ctas_fact")
      .head().getLong(0) == 40L)
    assert(FactVersioned.partitionColumn(spark, path) == "p")
    // the new table takes normal committed-table writes (INSERT)
    spark.sql(
      """INSERT INTO graftt.ctas_fact BY NAME
        |SELECT k + 100 AS k, p, v, CAST(NULL AS BIGINT) AS vgen
        |FROM ctas_src WHERE k > 40""".stripMargin)
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    assert(spark.sql("SELECT COUNT(*) FROM graftt.ctas_fact")
      .head().getLong(0) == 60L)
    // the pending marker is gone; re-creating the table is rejected
    assert(!new org.apache.hadoop.fs.Path(path,
        GraftCatalog.PendingMarkerName)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
      .exists(new org.apache.hadoop.fs.Path(path,
        GraftCatalog.PendingMarkerName)))
    intercept[org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException] {
      spark.sql(
        "CREATE TABLE graftt.ctas_fact AS SELECT * FROM ctas_src")
    }
    intercept[UnsupportedOperationException] {
      spark.sql("DROP TABLE graftt.ctas_fact")
    }
    // dimension CTAS: unpartitioned → full-copy Versioned store
    spark.sql(
      "CREATE TABLE graftt.ctas_dim AS SELECT k, v FROM ctas_src")
    assert(Versioned.generations(spark, s"$root/ctas_dim") == Seq(0L))
    assert(spark.sql("SELECT COUNT(*) FROM graftt.ctas_dim")
      .head().getLong(0) == 60L)
    // multi-column identity partitioning creates a nested-leaf fact
    // table (first-class since round 11)
    spark.sql(
      """CREATE TABLE graftt.ctas_mc PARTITIONED BY (p, k)
        |AS SELECT * FROM ctas_src""".stripMargin)
    assert(FactVersioned.partitionColumns(spark, s"$root/ctas_mc") ==
      Seq("p", "k"))
    // bucket/days/… transforms are first-class since r17
    // (TransformPartitionSpec); an UNSUPPORTED transform still fails
    // loudly
    val e2 = intercept[Exception] {
      spark.sql(
        """CREATE TABLE graftt.ctas_bad PARTITIONED BY (truncate(4, k))
          |AS SELECT * FROM ctas_src""".stripMargin)
    }
    assert(e2.getMessage.contains("identity") ||
      e2.getMessage.contains("partition"), e2.getMessage)
  }

  test("ALTER TABLE RENAME COLUMN: metadata-only column mapping — " +
      "carried VALUES read under the new name, pushdown and pruning " +
      "survive the rename, INSERT works, time travel keeps both sides") {
    val root = Files.createTempDirectory("graft_cat_ren_").toString
    val path = s"$root/facts_r"
    val f0 = (1 to 40).map(i => (i.toLong, i % 2, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    register(root)
    spark.sql("ALTER TABLE graftt.facts_r RENAME COLUMN v TO amount")
    // zero staged bytes: the rename is a manifest+mapping commit
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")))
    // carried files' VALUES under the new logical name
    val q = spark.sql(
      "SELECT k, amount FROM graftt.facts_r WHERE amount > 350")
    assert(q.as[(Long, Long)].collect().toSet ==
      (36 to 40).map(i => (i.toLong, i * 10L)).toSet)
    // pushdown still reaches the parquet scan, and the plan REPORTS it
    // under the user's LOGICAL name (physically it travels as `v`; the
    // display translation is GraftRenamingScan.logicalText)
    val plan = q.queryExecution.sparkPlan.toString
    assert(plan.contains("GreaterThan(amount,350"),
      s"expected amount > 350 pushed down and displayed logically:\n$plan")
    assert(!plan.contains("GreaterThan(v,350"),
      s"physical filter names must not leak into EXPLAIN:\n$plan")
    // column pruning: the scan must read only (k, amount-as-v) + pcols
    val pruned = q.queryExecution.executedPlan.collect {
      case b: org.apache.spark.sql.execution.datasources.v2.BatchScanExec =>
        b.scan.readSchema().fieldNames.toSet
    }.headOption.getOrElse(Set.empty[String])
    assert(!pruned.exists(_.equalsIgnoreCase("v")) || pruned.size <= 4,
      s"scan must stay pruned after the rename, got $pruned")
    // time travel reads the pre-rename schema (relation order puts
    // the discovered partition columns last)
    assert(spark.sql("SELECT * FROM graftt.facts_r VERSION AS OF 0")
      .columns.toSet == Set("k", "p", "v", "vgen"))
    // INSERT under the new name lands (staged physically as `v`)
    spark.sql(
      "INSERT INTO graftt.facts_r BY NAME " +
        "SELECT 41L AS k, 1 AS p, 999L AS amount")
    assert(spark.sql(
        "SELECT amount FROM graftt.facts_r WHERE k = 41")
      .as[Long].head() == 999L)
    // MERGE through the DML door over the mapped table
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.graftt", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftt.root", root)
    s.range(1, 4).selectExpr("id AS k", "CAST(id % 2 AS INT) AS p",
        "id * 1000 AS amount")
      .createOrReplaceTempView("ren_src")
    s.sql(
      """MERGE INTO graftt.facts_r t USING ren_src s ON t.k = s.k
        |WHEN MATCHED THEN UPDATE SET amount = s.amount
        |""".stripMargin)
    assert(s.sql("SELECT amount FROM graftt.facts_r WHERE k = 2")
      .as[Long].head() == 2000L)
    // the old name is gone from the SQL surface and cannot come back
    val eOld = intercept[Exception] {
      s.sql("SELECT v FROM graftt.facts_r").collect()
    }
    assert(eOld.getMessage.contains("v"), eOld.getMessage)
    val eAdd = intercept[Exception] {
      s.sql("ALTER TABLE graftt.facts_r ADD COLUMN v BIGINT")
    }
    assert(eAdd.getMessage.contains("DROPPED"), eAdd.getMessage)
  }

  test("parquet aggregate pushdown survives a rename: MIN/MAX/COUNT " +
      "over the renamed column answer from footer stats, translated " +
      "through the column mapping") {
    val root = Files.createTempDirectory("graft_cat_agg_").toString
    val path = s"$root/facts_ag"
    val f0 = (1 to 40).map(i => (i.toLong, i % 2, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p")
    register(root)
    spark.sql("ALTER TABLE graftt.facts_ag RENAME COLUMN v TO amount")
    spark.conf.set("spark.sql.parquet.aggregatePushDown", "true")
    try {
      val q = spark.sql(
        "SELECT MIN(amount) AS lo, MAX(amount) AS hi, COUNT(*) AS n " +
          "FROM graftt.facts_ag")
      val plan = q.queryExecution.executedPlan.toString
      // the forwarding seam (GraftRenamingScanBuilder.pushAggregation):
      // identity tables push footer-stats aggregation; the mapped
      // table must too
      assert(plan.contains("PushedAggregation"),
        s"aggregate pushdown must survive the rename:\n$plan")
      assert(q.as[(Long, Long, Long)].head() == ((10L, 400L, 40L)))
    } finally spark.conf.unset("spark.sql.parquet.aggregatePushDown")
  }

  test("namespace DDL: CREATE/SHOW/USE/DROP namespaces as marker dirs; " +
      "tables resolve under them; non-empty drop and CASCADE rejected " +
      "with guidance; RENAME TO moves across namespaces") {
    val root = Files.createTempDirectory("graft_cat_").toString
    register(root)
    spark.sql("CREATE NAMESPACE graftt.raw")
    spark.sql("CREATE NAMESPACE graftt.curated")
    val nss = spark.sql("SHOW NAMESPACES IN graftt")
      .select("namespace").as[String].collect().toSet
    assert(nss == Set("raw", "curated"), nss.toString)
    // CTAS into a namespace; reads resolve under the dotted name
    spark.sql("CREATE TABLE graftt.raw.ev AS SELECT 1L AS k, 10L AS v")
    assert(spark.sql("SELECT v FROM graftt.raw.ev").as[Long].head() == 10L)
    assert(spark.sql("SHOW TABLES IN graftt.raw").select("tableName")
      .as[String].collect().toSeq == Seq("ev"))
    // the flat root keeps working and does not list namespaced tables
    FactVersioned.upsert(spark, s"$root/flat",
      (1 to 6).map(i => (i.toLong, i % 2, i * 1.0)).toDF("k", "p", "x"),
      Seq("k"), "p")
    val flatTables = spark.sql("SHOW TABLES IN graftt")
      .select("tableName").as[String].collect().toSet
    assert(flatTables.contains("flat") && !flatTables.contains("ev"))
    // a missing namespace fails loudly; creating under it too
    intercept[Exception] {
      spark.sql("SELECT * FROM graftt.nope.ev").collect()
    }
    intercept[Exception] {
      spark.sql("CREATE TABLE graftt.nope.t AS SELECT 1 AS a")
    }
    // RENAME TO moves the NAME across namespaces (one pointer swap —
    // the tree stays in raw/ev)
    spark.sql("ALTER TABLE graftt.raw.ev RENAME TO curated.ev")
    assert(spark.sql("SELECT v FROM graftt.curated.ev")
      .as[Long].head() == 10L)
    intercept[Exception] {
      spark.sql("SELECT * FROM graftt.raw.ev").collect()
    }
    // neither namespace is empty (curated holds the name, raw the
    // tree): the drop is rejected with guidance; CASCADE too
    Seq("curated", "raw").foreach { ns =>
      val e = intercept[Exception] {
        spark.sql(s"DROP NAMESPACE graftt.$ns")
      }
      assert(e.getMessage.contains("PURGE") ||
        Option(e.getCause).exists(_.getMessage.contains("PURGE")),
        e.getMessage)
      intercept[Exception] {
        spark.sql(s"DROP NAMESPACE graftt.$ns CASCADE")
      }
    }
    // PURGE the table, then both namespaces drop cleanly
    spark.sql("DROP TABLE graftt.curated.ev PURGE")
    spark.sql("DROP NAMESPACE graftt.raw")
    assert(spark.sql("SHOW NAMESPACES IN graftt")
      .select("namespace").as[String].collect().toSet == Set("curated"))
    spark.sql("DROP NAMESPACE graftt.curated")
    assert(spark.sql("SHOW NAMESPACES IN graftt").count() == 0L)
    // a PENDING CTAS husk also blocks the drop — the emptiness check
    // is strict (nothing but the marker), never a recursive destroy
    spark.sql("CREATE NAMESPACE graftt.pend")
    spark.sql("CREATE TABLE graftt.pend.husk (a INT) USING parquet")
      .collect()
    intercept[Exception] { spark.sql("DROP NAMESPACE graftt.pend") }
    spark.sql("DROP TABLE graftt.pend.husk") // pending husks may drop bare
    spark.sql("DROP NAMESPACE graftt.pend")
    // unsafe table names never resolve outside the root (and RENAME TO
    // can never move a tree out of the warehouse)
    intercept[Exception] {
      spark.sql("SELECT * FROM graftt.`..`").collect()
    }
    FactVersioned.upsert(spark, s"$root/safe",
      (1 to 3).map(i => (i.toLong, i % 2, i * 1.0)).toDF("k", "p", "x"),
      Seq("k"), "p")
    intercept[Exception] {
      spark.sql("ALTER TABLE graftt.safe RENAME TO `../escaped`")
    }
    assert(FactVersioned.generations(spark, s"$root/safe").nonEmpty)
  }

  test("DROP NAMESPACE sees the pointer record: a namespace holding a " +
      "renamed table's NAME or its TREE refuses the drop, a namespace " +
      "holding only stale guidance drops with it, and no drop ever " +
      "deletes the renamed table's data") {
    val root = Files.createTempDirectory("graft_nsptr_").toString
    register(root)
    Seq("x", "y", "z").foreach(ns => spark.sql(s"CREATE NAMESPACE graftt.$ns"))
    val tree = s"$root/x/t"
    FactVersioned.upsert(spark, tree,
      (1 to 9).map(i => (i.toLong, i % 3, i * 1.0)).toDF("k", "p", "x"),
      Seq("k"), "p")
    def intact(name: String): Unit = {
      assert(FactVersioned.read(spark, tree).count() == 9L,
        "a drop touched the table's data")
      assert(spark.sql(s"SELECT count(*) FROM graftt.$name")
        .as[Long].head() == 9L)
    }
    def refused(ns: String): Unit = {
      val e = intercept[Exception] { spark.sql(s"DROP NAMESPACE graftt.$ns") }
      assert(RetryContract.messages(e).exists(_.contains("not empty")),
        RetryContract.messages(e))
    }
    spark.sql("ALTER TABLE graftt.x.t RENAME TO y.t")
    refused("y") // holds the name; the tree lives in x
    refused("x") // physically hosts the renamed table's tree
    intact("y.t")
    // y keeps only the stale guidance once the name moves on to z
    spark.sql("ALTER TABLE graftt.y.t RENAME TO z.t")
    spark.sql("DROP NAMESPACE graftt.y")
    assert(!TablePointers.read(spark, root).keys.exists(_.startsWith("y/")))
    intact("z.t")
    refused("z")
    refused("x")
    intact("z.t")
    // a rename into the dropped namespace fails; the name stays put
    intercept[Exception] {
      spark.sql("ALTER TABLE graftt.z.t RENAME TO y.t")
    }
    intact("z.t")
  }

  test("namespace properties: CREATE ... WITH PROPERTIES persists, " +
      "ALTER NAMESPACE SET/UNSET rewrites atomically, COMMENT ON " +
      "lands, DESCRIBE reads them back; existence probes never throw " +
      "on unsafe names") {
    val root = Files.createTempDirectory("graft_nsp_").toString
    spark.conf.set("spark.sql.catalog.graftnp",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftnp.root", root)
    spark.sql("CREATE NAMESPACE graftnp.lake WITH PROPERTIES " +
      "('team' = 'data', 'tier' = 'bronze')")
    def props(): Map[String, String] =
      spark.sql("DESCRIBE NAMESPACE EXTENDED graftnp.lake").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(props().get("Properties").exists(p =>
      p.contains("team") && p.contains("bronze")), props())
    spark.sql("ALTER NAMESPACE graftnp.lake SET PROPERTIES " +
      "('tier' = 'silver', 'retention' = '30d')")
    assert(props().get("Properties").exists(p =>
      p.contains("silver") && p.contains("30d") && !p.contains("bronze")))
    spark.sql("ALTER NAMESPACE graftnp.lake UNSET PROPERTIES " +
      "('retention')")
    assert(props().get("Properties").exists(p => !p.contains("30d")))
    spark.sql("COMMENT ON NAMESPACE graftnp.lake IS 'the lake'")
    assert(spark.sql("DESCRIBE NAMESPACE EXTENDED graftnp.lake")
      .collect().exists(r => r.getString(1).contains("the lake")))
    // tables keep resolving under a propertied namespace
    import spark.implicits._
    FactVersioned.upsert(spark, s"$root/lake/t",
      (1 to 3).map(i => (i.toLong, i % 2, i * 1.0)).toDF("k", "p", "x"),
      Seq("k"), "p")
    assert(spark.sql("SELECT count(*) FROM graftnp.lake.t")
      .head.getLong(0) == 3)
    // ADVICE r15 #5: an unsafe name is 'absent', not an exception, so
    // CREATE TABLE IF NOT EXISTS paths behave; explicit creates still
    // reject loudly at the create door
    val cat = spark.sessionState.catalogManager.catalog("graftnp")
      .asInstanceOf[GraftCatalog]
    assert(!cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "_underscored")))
    assert(!cat.tableExists(
      org.apache.spark.sql.connector.catalog.Identifier.of(
        Array.empty[String], "..")))
  }

  test("SET/UNSET TBLPROPERTIES + COMMENT ON TABLE: facts pin a " +
      "per-generation record (metadata-only commit, era-readable via " +
      "VERSION AS OF semantics), dims keep a table-root record; SHOW " +
      "TBLPROPERTIES reads them back; properties ride a TABLE RENAME") {
    val root = Files.createTempDirectory("graft_tbp_").toString
    spark.conf.set("spark.sql.catalog.grafttp",
      classOf[GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.grafttp.root", root)
    val fpath = s"$root/ft"
    FactVersioned.upsert(spark, fpath,
      (1 to 6).map(i => (i.toLong, i % 2, i * 1.0)).toDF("k", "p", "x"),
      Seq("k"), "p", retain = 10)
    spark.sql("ALTER TABLE grafttp.ft SET TBLPROPERTIES " +
      "('pipeline' = 'ingest-v2', 'tier' = 'gold')")
    // metadata-only: one generation, zero staged bytes
    val fs = new org.apache.hadoop.fs.Path(fpath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(FactVersioned.generations(spark, fpath) == Seq(0L, 1L))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$fpath/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")))
    def shown(): Map[String, String] =
      spark.sql("SHOW TBLPROPERTIES grafttp.ft").collect()
        .map(r => r.getString(0) -> r.getString(1)).toMap
    assert(shown().get("pipeline").contains("ingest-v2"))
    assert(shown().get("tier").contains("gold"))
    // era-readable: generation 0 pinned NO properties
    assert(FactVersioned.tableProperties(spark, fpath, Some(0L)).isEmpty)
    assert(FactVersioned.tableProperties(spark, fpath) ==
      Map("pipeline" -> "ingest-v2", "tier" -> "gold"))
    // UNSET retires a key; later data commits INHERIT the record
    spark.sql("ALTER TABLE grafttp.ft UNSET TBLPROPERTIES ('tier')")
    assert(!shown().contains("tier") &&
      shown().get("pipeline").contains("ingest-v2"))
    FactVersioned.upsert(spark, fpath,
      Seq((9L, 1, 9.0)).toDF("k", "p", "x"), Seq("k"), "p", retain = 10)
    assert(FactVersioned.tableProperties(spark, fpath) ==
      Map("pipeline" -> "ingest-v2"),
      "data commits must inherit the properties record")
    // COMMENT ON TABLE routes through the same door (SHOW
    // TBLPROPERTIES filters the reserved 'comment' key — read the
    // pinned record directly)
    spark.sql("COMMENT ON TABLE grafttp.ft IS 'the fact table'")
    assert(FactVersioned.tableProperties(spark, fpath)
      .get("comment").contains("the fact table"))
    // properties ride a TABLE RENAME (the record lives inside the tree)
    spark.sql("ALTER TABLE grafttp.ft RENAME TO ft2")
    assert(spark.sql("SHOW TBLPROPERTIES grafttp.ft2").collect()
      .exists(r => r.getString(0) == "pipeline" &&
        r.getString(1) == "ingest-v2"))
    // dims: table-root record
    val dpath = s"$root/dt"
    Versioned.commit(
      (1 to 4).map(i => (i.toLong, i * 10L)).toDF("k", "v"), dpath,
      retain = 5)
    spark.sql("ALTER TABLE grafttp.dt SET TBLPROPERTIES ('team' = 'ml')")
    assert(spark.sql("SHOW TBLPROPERTIES grafttp.dt").collect()
      .exists(r => r.getString(0) == "team" && r.getString(1) == "ml"))
    spark.sql("ALTER TABLE grafttp.dt UNSET TBLPROPERTIES ('team')")
    assert(!spark.sql("SHOW TBLPROPERTIES grafttp.dt").collect()
      .exists(r => r.getString(0) == "team"))
  }

  test("ALTER TABLE RENAME TO: reads under the new name match, the old " +
      "name fails with guidance, re-CREATE of the old name supersedes " +
      "the tombstone, and an existing destination is rejected") {
    val root = Files.createTempDirectory("graft_cat_").toString
    val path = s"$root/tr"
    val f0 = (1 to 30).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, f0, Seq("k"), "p", retain = 10)
    register(root)
    val before = spark.sql("SELECT * FROM graftt.tr")
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    spark.sql("ALTER TABLE graftt.tr RENAME TO tr2")
    assert(spark.sql("SELECT * FROM graftt.tr2")
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet ==
      before)
    // time travel follows the move
    assert(spark.sql("SELECT count(*) FROM graftt.tr2 VERSION AS OF 0")
      .as[Long].head() == 30L)
    // the old name rejects with guidance naming the new table
    val e = intercept[IllegalArgumentException] {
      spark.sql("SELECT * FROM graftt.tr").collect()
    }
    assert(e.getMessage.contains("RENAMED") && e.getMessage.contains("tr2"),
      e.getMessage)
    // SHOW TABLES lists only the new name; IF EXISTS probes agree
    val names = spark.sql("SHOW TABLES IN graftt").select("tableName")
      .as[String].collect().toSet
    assert(names.contains("tr2") && !names.contains("tr"), names.toString)
    // renaming onto an existing table is rejected
    FactVersioned.upsert(spark, s"$root/occupied", f0, Seq("k"), "p")
    intercept[org.apache.spark.sql.catalyst.analysis
        .TableAlreadyExistsException] {
      spark.sql("ALTER TABLE graftt.tr2 RENAME TO occupied")
    }
    // an explicit CREATE of the old name supersedes the tombstone
    spark.sql("CREATE TABLE graftt.tr AS SELECT 1L AS a, 2L AS b")
    assert(spark.sql("SELECT a FROM graftt.tr").as[Long].head() == 1L)
    // dimension tables rename through the same door
    Versioned.commit(dim(5), s"$root/dr")
    spark.sql("ALTER TABLE graftt.dr RENAME TO dr2")
    assert(spark.sql("SELECT count(*) FROM graftt.dr2").as[Long].head() == 5L)
  }
}
