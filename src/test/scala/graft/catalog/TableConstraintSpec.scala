package graft.catalog

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FactVersioned

/** `ALTER TABLE ADD/DROP CONSTRAINT ... CHECK` (r17 — VERDICT r16 Next
  * #4): constraints persist per generation (fact) / at the table root
  * (dim) inside the properties record under a reserved key prefix, the
  * ADD path validates EXISTING data (Spark's AddCheckConstraintExec
  * scans for a violating row before alterTable), and enforcement on
  * future writes rides Spark's own ResolveTableConstraints
  * (CheckInvariant over every v2 write) plus [[GraftDml.enforceChecks]]
  * on the custom MERGE/UPDATE command paths. */
class TableConstraintSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_cons_").toString

  private def causeMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      .flatMap(x => Option(x.getMessage)).toSeq

  private def catalogTo(name: String, wh: String): Unit = {
    spark.conf.set(s"spark.sql.catalog.$name",
      classOf[GraftCatalog].getName)
    spark.conf.set(s"spark.sql.catalog.$name.root", wh)
  }

  test("fact table: ADD CONSTRAINT validates existing data, rejects " +
      "violating INSERTs loudly, conforming INSERTs land, the record " +
      "is per-generation (era reads see each era's set), DROP lifts " +
      "the enforcement") {
    val wh = tmp()
    catalogTo("graftc", wh)
    val path = s"$wh/ft"
    val rows = (1 to 20).map(i => (i.toLong, i % 2, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, rows, Seq("k"), "p", retain = 10)
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.graftc",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftc.root", wh)
    // ADD over data that VIOLATES → rejected, nothing committed
    val bad = intercept[Throwable] {
      s.sql("ALTER TABLE graftc.ft ADD CONSTRAINT big CHECK (v > 100)")
    }
    assert(causeMessages(bad).exists(m =>
      m.contains("big") || m.toLowerCase.contains("check")),
      s"expected a check-violation error, got: ${causeMessages(bad)}")
    assert(FactVersioned.generations(s, path) == Seq(0L),
      "a failed ADD CONSTRAINT must not commit")
    // ADD over conforming data → ONE metadata-only commit
    s.sql("ALTER TABLE graftc.ft ADD CONSTRAINT positive CHECK (v > 0)")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L))
    val fs = new Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
      "ADD CONSTRAINT must stage no data")
    // era-readable: gen 0 has no constraint record, gen 1 does
    assert(GraftCatalog.decodeConstraints(
      FactVersioned.tableProperties(s, path, Some(0L))).isEmpty)
    val recorded = GraftCatalog.decodeConstraints(
      FactVersioned.tableProperties(s, path, Some(1L)))
    assert(recorded.length == 1 && recorded.head.name() == "positive")
    // SHOW TBLPROPERTIES must NOT leak the reserved record key
    val shown = s.sql("SHOW TBLPROPERTIES graftc.ft").collect()
      .map(_.getString(0))
    assert(!shown.exists(_.startsWith(GraftCatalog.ConstraintKeyPrefix)),
      s"reserved constraint keys leaked: ${shown.mkString(", ")}")
    // a violating INSERT fails loudly; nothing lands
    val viol = intercept[Throwable] {
      s.sql("INSERT INTO graftc.ft BY NAME SELECT 100L AS k, 0 AS p, " +
        "-5L AS v, CAST(NULL AS BIGINT) AS vgen")
    }
    assert(causeMessages(viol).exists(m =>
      m.contains("positive") || m.toLowerCase.contains("check")),
      s"expected a check violation, got: ${causeMessages(viol)}")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L),
      "a violating INSERT must not commit")
    // a conforming INSERT lands
    s.sql("INSERT INTO graftc.ft BY NAME SELECT 101L AS k, 1 AS p, " +
      "7L AS v, CAST(NULL AS BIGINT) AS vgen")
    assert(FactVersioned.read(s, path).where(col("k") === 101L)
      .count() == 1)
    // MERGE through the custom command path enforces too
    val mviol = intercept[Throwable] {
      s.sql(
        """MERGE INTO graftc.ft t USING (SELECT 5L AS k, -99L AS v) s
          |ON t.k = s.k
          |WHEN MATCHED THEN UPDATE SET v = s.v""".stripMargin)
    }
    assert(causeMessages(mviol).exists(m =>
      m.contains("positive") || m.toLowerCase.contains("check")),
      s"expected a MERGE check violation, got: ${causeMessages(mviol)}")
    assert(FactVersioned.read(s, path).where(col("v") === -99L).isEmpty,
      "a violating MERGE must not commit")
    // UPDATE path as well
    val uviol = intercept[Throwable] {
      s.sql("UPDATE graftc.ft SET v = -1 WHERE k = 6")
    }
    assert(causeMessages(uviol).exists(m =>
      m.contains("positive") || m.toLowerCase.contains("check")))
    // duplicate ADD rejected; raw SET of the reserved key rejected
    val dup = intercept[Throwable] {
      s.sql("ALTER TABLE graftc.ft ADD CONSTRAINT positive CHECK (v > 1)")
    }
    assert(causeMessages(dup).exists(_.contains("already exists")))
    val raw = intercept[Throwable] {
      s.sql("ALTER TABLE graftc.ft SET TBLPROPERTIES " +
        "('graft.constraint.evil' = 'x')")
    }
    assert(causeMessages(raw).exists(_.contains("reserved")))
    // DROP lifts enforcement (a new era; the old era keeps its record)
    s.sql("ALTER TABLE graftc.ft DROP CONSTRAINT positive")
    s.sql("INSERT INTO graftc.ft BY NAME SELECT 102L AS k, 0 AS p, " +
      "-1L AS v, CAST(NULL AS BIGINT) AS vgen")
    assert(FactVersioned.read(s, path).where(col("v") === -1L)
      .count() == 1)
    assert(GraftCatalog.decodeConstraints(
      FactVersioned.tableProperties(s, path)).isEmpty)
    // DROP of a missing name fails; IF EXISTS is silent
    val miss = intercept[Throwable] {
      s.sql("ALTER TABLE graftc.ft DROP CONSTRAINT nope")
    }
    assert(causeMessages(miss).exists(_.contains("nope")))
    s.sql("ALTER TABLE graftc.ft DROP CONSTRAINT IF EXISTS nope")
  }

  test("dimension table: CHECK constraints live in the table-root " +
      "record and enforce on INSERT and UPDATE") {
    val wh = tmp()
    val path = s"$wh/dim"
    commitWhole(
      Seq((1L, "a", 10L), (2L, "b", 20L)).toDF("id", "name", "score"),
      path, retain = 5)
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.graftcd",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftcd.root", wh)
    s.sql("ALTER TABLE graftcd.dim ADD CONSTRAINT pos CHECK (score > 0)")
    val recorded = GraftCatalog.decodeConstraints(
      FactVersioned.tableProperties(s, path))
    assert(recorded.length == 1 && recorded.head.name() == "pos")
    val viol = intercept[Throwable] {
      s.sql("INSERT INTO graftcd.dim VALUES (3, 'c', -1)")
    }
    assert(causeMessages(viol).exists(m =>
      m.contains("pos") || m.toLowerCase.contains("check")))
    assert(FactVersioned.read(s, path).count() == 2)
    val uviol = intercept[Throwable] {
      s.sql("UPDATE graftcd.dim SET score = -7 WHERE id = 1")
    }
    assert(causeMessages(uviol).exists(m =>
      m.contains("pos") || m.toLowerCase.contains("check")))
    s.sql("INSERT INTO graftcd.dim VALUES (3, 'c', 30)")
    assert(FactVersioned.read(s, path).count() == 3)
  }

  test("CREATE TABLE with an inline CONSTRAINT clause is rejected " +
      "with ADD-CONSTRAINT guidance (never silently dropped)") {
    val wh = tmp()
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.graftcc",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftcc.root", wh)
    val e = intercept[Throwable] {
      s.sql("CREATE TABLE graftcc.t (k BIGINT, v BIGINT, " +
        "CONSTRAINT pos CHECK (v > 0)) USING parquet")
    }
    assert(causeMessages(e).exists(_.contains("ADD CONSTRAINT")),
      s"got: ${causeMessages(e)}")
  }
}
