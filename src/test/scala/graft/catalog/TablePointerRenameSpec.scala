package graft.catalog

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{FactVersioned, MockConditionalPutFileSystem}

/** TABLE RENAME is a ONE-POINTER SWAP in the warehouse [[TablePointers]]
  * record on every store — the tree never moves, so a rename is O(1)
  * regardless of table size and needs no atomic directory rename. */
class TablePointerRenameSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ptr_").toString

  private def causeMessages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      .flatMap(x => Option(x.getMessage)).toSeq

  private def gensDir(path: String) = new Path(path, "_graft_gens")

  test("rename on local: the tree NEVER moves — the old " +
      "dir keeps the data, the new name resolves it, the old name " +
      "gives guidance, writes through the new name land in the same " +
      "physical dir; rename-back and chains work; SHOW TABLES lists " +
      "logical names") {
    val wh = tmp()
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.gptr", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gptr.root", wh)
    val path = s"$wh/t1"
    FactVersioned.upsert(spark, path,
      (1 to 20).map(i => (i.toLong, i % 2, i * 10L)).toDF("k", "p", "v"),
      Seq("k"), "p", retain = 10)
    val fs = new Path(wh)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    s.sql("ALTER TABLE gptr.t1 RENAME TO t2")
    // the tree did not move
    assert(fs.exists(gensDir(path)), "the physical tree must stay put")
    assert(!fs.exists(new Path(s"$wh/t2")),
      "no tree may appear at the new default path")
    // new name reads the data; old name fails with guidance
    assert(s.sql("SELECT count(*) FROM gptr.t2").head.getLong(0) == 20)
    val e = intercept[Throwable] {
      s.sql("SELECT * FROM gptr.t1").collect()
    }
    assert(causeMessages(e).exists(m =>
      m.contains("RENAMED") && m.contains("t2")),
      s"got: ${causeMessages(e)}")
    assert(graft.operators.RetryContract.retryable(e),
      "pointer-rename guidance must be inside the retry contract")
    // SHOW TABLES: logical names only
    val listed = s.sql("SHOW TABLES IN gptr").collect()
      .map(_.getString(1)).toSet
    assert(listed == Set("t2"), s"got $listed")
    // writes through the new name land in the SAME physical dir
    s.sql("INSERT INTO gptr.t2 BY NAME SELECT 100L AS k, 1 AS p, " +
      "999L AS v, CAST(NULL AS BIGINT) AS vgen")
    assert(FactVersioned.read(s, path).where(col("k") === 100L)
      .count() == 1)
    assert(s.sql("SELECT count(*) FROM gptr.t2").head.getLong(0) == 21)
    // chain: t2 -> t3; the stale t1 guidance follows in one hop
    s.sql("ALTER TABLE gptr.t2 RENAME TO t3")
    val e1 = intercept[Throwable] {
      s.sql("SELECT * FROM gptr.t1").collect()
    }
    assert(causeMessages(e1).exists(_.contains("t3")),
      s"stale guidance must re-target in one hop: ${causeMessages(e1)}")
    assert(s.sql("SELECT count(*) FROM gptr.t3").head.getLong(0) == 21)
    // rename BACK to the physical home drops the alias entirely
    s.sql("ALTER TABLE gptr.t3 RENAME TO t1")
    assert(s.sql("SELECT count(*) FROM gptr.t1").head.getLong(0) == 21)
    val map = TablePointers.read(s, wh)
    assert(!map.contains("t1"),
      s"rename-back must drop the alias, got $map")
    // CREATE TABLE of a renamed-away name supersedes the guidance
    s.sql("ALTER TABLE gptr.t1 RENAME TO t4")
    s.sql("CREATE TABLE gptr.t1 AS SELECT 1L AS a")
    assert(s.sql("SELECT count(*) FROM gptr.t1").head.getLong(0) == 1)
    assert(s.sql("SELECT count(*) FROM gptr.t4").head.getLong(0) == 21)
    // t1's default dir is t4's physical home, so the new t1 got a
    // FRESH physical dir via an alias entry
    val map2 = TablePointers.read(s, wh)
    assert(map2.get("t4") == Some(TablePointers.At("t1")))
    assert(map2.get("t1").exists {
      case TablePointers.At(d) => d.startsWith("t1__p")
      case _ => false
    }, s"got $map2")
    // DROP PURGE of the aliased table cleans its entries
    s.sql("DROP TABLE gptr.t4 PURGE")
    val map3 = TablePointers.read(s, wh)
    assert(!map3.contains("t4"), s"got $map3")
    assert(s.sql("SELECT count(*) FROM gptr.t1").head.getLong(0) == 1)
    // a name with no entry never resolves to the table whose physical
    // home is its default dir: x -> y, CREATE x, x -> z, PURGE z leaves
    // x without an entry while <wh>/x still holds y
    FactVersioned.upsert(spark, s"$wh/x",
      Seq((7L, 0, 70L)).toDF("k", "p", "v"), Seq("k"), "p")
    s.sql("ALTER TABLE gptr.x RENAME TO y")
    s.sql("CREATE TABLE gptr.x AS SELECT 1L AS a")
    s.sql("ALTER TABLE gptr.x RENAME TO z")
    s.sql("DROP TABLE gptr.z PURGE")
    assert(!TablePointers.read(s, wh).contains("x"))
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT * FROM gptr.x").collect()
    }
    assert(s.sql("SELECT count(*) FROM gptr.y").head.getLong(0) == 1)
    assert(!s.sql("SHOW TABLES IN gptr").collect()
      .map(_.getString(1)).contains("x"))
    // nor does it rename, or reach y's tree through maintenance: y stays
    // the only name for <wh>/x
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("ALTER TABLE gptr.x RENAME TO w")
    }
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("DESCRIBE HISTORY gptr.x").collect()
    }
    val names = TablePointers.read(s, wh)
      .collect { case (k, TablePointers.At("x")) => k }
    assert(names.toSet == Set("y"), s"got ${TablePointers.read(s, wh)}")
    assert(!TablePointers.read(s, wh).contains("w"))
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT * FROM gptr.w").collect()
    }
    assert(s.sql("SELECT count(*) FROM gptr.y").head.getLong(0) == 1)
  }

  test("rename on a conditional-PUT object store is the same pointer " +
      "swap (no tree move is ever attempted) and the table stays " +
      "fully usable under the new name") {
    val wh = tmp()
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockcps3.impl",
      classOf[MockConditionalPutFileSystem].getName)
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.gpob", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gpob.root", s"mockcps3://$wh")
    val path = s"mockcps3://$wh/ft"
    FactVersioned.upsert(spark, path,
      (1 to 12).map(i => (i.toLong, i % 3, i * 2L)).toDF("k", "p", "v"),
      Seq("k"), "p", retain = 5)
    val fs = new Path(s"mockcps3://$wh")
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    MockConditionalPutFileSystem.conditionalCreates.set(0)
    s.sql("ALTER TABLE gpob.ft RENAME TO ft2")
    // the pointer lock's claim CAS rode conditional-PUT creates
    assert(MockConditionalPutFileSystem.conditionalCreates.get() >= 2,
      "the pointer mutation must arbitrate through conditional PUTs")
    assert(fs.exists(gensDir(path)), "the tree must not move")
    assert(s.sql("SELECT count(*) FROM gpob.ft2").head.getLong(0) == 12)
    val e = intercept[Throwable] {
      s.sql("SELECT * FROM gpob.ft").collect()
    }
    assert(causeMessages(e).exists(_.contains("RENAMED")))
    // writes keep working through the new name
    s.sql("INSERT INTO gpob.ft2 BY NAME SELECT 50L AS k, 0 AS p, " +
      "7L AS v, CAST(NULL AS BIGINT) AS vgen")
    assert(s.sql("SELECT count(*) FROM gpob.ft2").head.getLong(0) == 13)
  }

  test("a name-based writer racing a pointer rename never loses a " +
      "commit: pre-rename resolutions keep writing the physical dir " +
      "(the tree IS the identity), post-rename resolutions of the old " +
      "name re-target through the guidance") {
    val wh = tmp()
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.gpw", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gpw.root", wh)
    val path = s"$wh/w1"
    FactVersioned.upsert(spark, path,
      Seq((0L, 0, 0L)).toDF("k", "p", "v"), Seq("k"), "p", retain = 50)
    val inserts = 8
    val writer = new Thread(() => {
      var name = "w1"
      (1 to inserts).foreach { i =>
        var landed = false
        var attempts = 0
        while (!landed && attempts < 30) {
          attempts += 1
          try {
            s.sql(s"INSERT INTO gpw.$name BY NAME SELECT ${i}L AS k, " +
              "0 AS p, 1L AS v, CAST(NULL AS BIGINT) AS vgen")
            landed = true
          } catch {
            case t: Throwable
                if graft.operators.RetryContract.retryable(t) =>
              // the guidance names the new table — re-target
              if (causeMessages(t).exists(_.contains("w2")))
                name = "w2"
              Thread.sleep(10)
          }
        }
        assert(landed, s"insert $i starved")
      }
    })
    writer.start()
    Thread.sleep(60) // land the rename mid-stream
    s.sql("ALTER TABLE gpw.w1 RENAME TO w2")
    writer.join()
    // every insert landed exactly once, all in the SAME physical dir
    assert(s.sql("SELECT count(*) FROM gpw.w2").head.getLong(0) ==
      1 + inserts)
    assert(FactVersioned.read(s, path).count() == 1 + inserts)
  }

  test("concurrent pointer renames and creates serialize on the " +
      "record lock: every interleave ends with each name resolving " +
      "exactly one table and no entry lost") {
    val wh = tmp()
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.gpc", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gpc.root", wh)
    (0 until 4).foreach { i =>
      FactVersioned.upsert(spark, s"$wh/s$i",
        Seq((i.toLong, 0, 1L)).toDF("k", "p", "v"),
        Seq("k"), "p", retain = 5)
    }
    val pool = java.util.concurrent.Executors.newFixedThreadPool(4)
    val errs = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]
    val done = new java.util.concurrent.CountDownLatch(4)
    (0 until 4).foreach { i =>
      pool.execute(() => {
        try {
          var attempts = 0
          var renamed = false
          while (!renamed && attempts < 20) {
            attempts += 1
            try {
              s.sql(s"ALTER TABLE gpc.s$i RENAME TO d$i")
              renamed = true
            } catch {
              case t: Throwable
                  if graft.operators.RetryContract.retryable(t) =>
                Thread.sleep(20)
            }
          }
          if (!renamed) errs.add(new IllegalStateException(
            s"s$i rename starved"))
        } catch { case t: Throwable => errs.add(t) }
        finally done.countDown()
      })
    }
    done.await()
    pool.shutdown()
    assert(errs.isEmpty, s"unexpected: ${errs.size} ${Option(
      errs.peek()).map(causeMessages).getOrElse(Nil)}")
    (0 until 4).foreach { i =>
      assert(s.sql(s"SELECT count(*) FROM gpc.d$i").head.getLong(0)
        == 1, s"d$i must resolve")
    }
    val listed = s.sql("SHOW TABLES IN gpc").collect()
      .map(_.getString(1)).toSet
    assert(listed == Set("d0", "d1", "d2", "d3"), s"got $listed")
  }
}
