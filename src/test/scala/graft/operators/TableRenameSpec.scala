package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.catalog.{GraftCatalog, GraftDml}

/** `ALTER TABLE ... RENAME TO` over both stores: ONE pointer swap in the
  * warehouse name record ([[graft.catalog.TablePointers]]). The table's
  * physical directory never moves, everything it owns resolves under
  * the new name, the old name fails loudly with re-target guidance, and
  * name-based writers racing the swap never lose a commit. */
class TableRenameSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_trename_").toString

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def base(n: Int) =
    (1 to n).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v")

  /** A DML-enabled session with catalog `cat` rooted at `root`. */
  private def catalog(cat: String, root: String): SparkSession = {
    val s = GraftDml.enable(spark)
    s.conf.set(s"spark.sql.catalog.$cat", classOf[GraftCatalog].getName)
    s.conf.set(s"spark.sql.catalog.$cat.root", root)
    s.conf.set(s"spark.sql.catalog.$cat.retain", "50")
    s
  }

  private def guidance(t: Throwable): Boolean =
    RetryContract.messages(t).exists(_.contains("RENAMED"))

  test("fact rename is one pointer swap: the tree stays put; rows, time " +
      "travel, colmap, tombstones and default keys resolve under the new " +
      "name; the old name rejects writes with guidance") {
    val root = tmp()
    val a = s"$root/ta"
    FactVersioned.upsert(spark, a, base(30), Seq("k"), "p", retain = 10)
    // give the table history worth carrying: a column rename (colmap +
    // tombstone) and a second data generation
    FactVersioned.renameColumns(spark, a, Map("v" -> "amount"), retain = 10)
    FactVersioned.upsert(spark, a,
      Seq((3L, 0, 999L)).toDF("k", "p", "amount"), Seq("k"), "p",
      retain = 10)
    val before = FactVersioned.read(spark, a)
      .select(col("k"), col("p"), col("amount"))
      .as[(Long, Int, Long)].collect().toSet
    val gensBefore = FactVersioned.generations(spark, a)
    val s = catalog("gtrf", root)

    s.sql("ALTER TABLE gtrf.ta RENAME TO tb")

    // the tree did not move and the swap committed no generation
    val fs = fsOf(a)
    assert(fs.exists(new Path(a, FactVersioned.GensDir)))
    assert(!fs.exists(new Path(s"$root/tb")),
      "no directory may appear at the new default path")
    assert(FactVersioned.generations(spark, a) == gensBefore)
    // identical table under the new name: rows and time travel
    assert(s.sql("SELECT k, p, amount FROM gtrf.tb")
      .as[(Long, Int, Long)].collect().toSet == before)
    assert(s.sql("SELECT * FROM gtrf.tb VERSION AS OF 0").columns
      .contains("v"), "time travel must keep the pre-column-rename era")
    // tombstones: re-adding the renamed-away column still fails
    val e = intercept[Exception] {
      s.sql("ALTER TABLE gtrf.tb ADD COLUMN v BIGINT")
    }
    assert(RetryContract.messages(e).exists(_.contains("DROPPED")),
      RetryContract.messages(e))
    // recorded default merge keys stay with the tree
    assert(FactVersioned.recordedMergeKeys(spark, a).contains(Seq("k")))
    // writes through the old name fail LOUDLY naming the new one
    val old = intercept[Exception] {
      s.sql("INSERT INTO gtrf.ta BY NAME SELECT 1L AS k, 0 AS p, " +
        "5L AS amount, CAST(NULL AS BIGINT) AS vgen")
    }
    assert(RetryContract.messages(old).exists(m =>
      m.contains("RENAMED") && m.contains("tb")), RetryContract.messages(old))
    assert(RetryContract.retryable(old), "guidance must be retryable")
    // the new name commits into the same physical tree
    s.sql("INSERT INTO gtrf.tb BY NAME SELECT 100L AS k, 1 AS p, " +
      "444L AS amount, CAST(NULL AS BIGINT) AS vgen")
    assert(FactVersioned.read(spark, a).where(col("k") === 100L)
      .select(col("amount")).as[Long].collect().toSeq == Seq(444L))
    // same-name and missing-source renames are rejected
    intercept[Exception] { s.sql("ALTER TABLE gtrf.tb RENAME TO tb") }
    intercept[Exception] { s.sql("ALTER TABLE gtrf.nope RENAME TO x") }
  }

  test("dimension rename: the full-copy store moves the same way") {
    val root = tmp()
    val a = s"$root/da"
    Versioned.commit(base(8), a, retain = 5)
    Versioned.commit(base(8).withColumn("v", col("v") + 1), a, retain = 5)
    val before = Versioned.read(spark, a)
      .as[(Long, Int, Long)].collect().toSet
    val s = catalog("gtrd", root)
    s.sql("ALTER TABLE gtrd.da RENAME TO db")
    assert(s.sql("SELECT k, p, v FROM gtrd.db")
      .as[(Long, Int, Long)].collect().toSet == before)
    assert(s.sql("SELECT count(*) FROM gtrd.db VERSION AS OF 0")
      .as[Long].head() == 8L)
    assert(Versioned.generations(spark, a) == Seq(0L, 1L))
    assert(!fsOf(a).exists(new Path(s"$root/db")))
    val e = intercept[Exception] {
      s.sql("INSERT INTO gtrd.da SELECT 9L AS k, 0 AS p, 90L AS v")
    }
    assert(guidance(e), RetryContract.messages(e))
  }

  /** One seeded storm round: two writer threads upserting new keys
    * through name-based SQL `MERGE` and one rewriting existing keys
    * through `MERGE ... UPDATE`, racing a chain of two catalog renames
    * (`ta → tb → tc`). A writer resolves the name it last knew and,
    * on RENAMED guidance, re-targets to the name the guidance gives.
    * EVERY thrown error must be inside the ONE normative
    * [[RetryContract]] (shared with ConcurrencyMatrixSpec); anything
    * outside it fails the round with the full cause chain. */
  private def stormRound(seed: Long): Unit = {
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val root = tmp()
    val a = s"$root/ta"
    FactVersioned.upsert(spark, a, base(30), Seq("k"), "p", retain = 50)
    val s = catalog("gts", root)
    val rnd = new scala.util.Random(seed)
    val delays = Seq.fill(2)(rnd.nextInt(400))
    val pool = Executors.newFixedThreadPool(4)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    val Guided = """RENAMED to '(\w+)'""".r.unanchored
    def retried(what: String)(op: String => Unit): Unit = {
      var name = "ta"
      var attempts = 0
      var done = false
      while (!done && attempts < 60) {
        attempts += 1
        try { op(name); done = true }
        catch {
          case t: Throwable if RetryContract.retryable(t) =>
            RetryContract.messages(t).collectFirst {
              case Guided(to) => to
            }.foreach(name = _)
            Thread.sleep(10)
          case t: Throwable =>
            fail(s"[seed=$seed] $what hit a NON-retryable " +
              s"${t.getClass.getName}: " +
              RetryContract.messages(t).mkString(" | "))
        }
      }
      assert(done, s"[seed=$seed] $what starved after $attempts attempts")
    }
    def upsert(key: Long): Unit = retried(s"upsert $key") { name =>
      s.sql(
        s"""MERGE INTO gts.$name t USING (SELECT ${key}L AS k, 0 AS p,
           |  ${key * 100}L AS v, CAST(NULL AS BIGINT) AS vgen) src
           |ON t.k = src.k
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      landed.add(key)
    }
    def update(key: Long): Unit = retried(s"merge $key") { name =>
      s.sql(
        s"""MERGE INTO gts.$name t USING (SELECT ${key}L AS k) src
           |ON t.k = src.k
           |WHEN MATCHED THEN UPDATE SET v = ${key * 1000}L""".stripMargin)
    }
    def rename(from: String, to: String): Unit =
      retried(s"rename $from") { _ =>
        s.sql(s"ALTER TABLE gts.$from RENAME TO $to")
      }
    try {
      val fa = Future { (101L to 106L).foreach(upsert) }
      val fb = Future { (201L to 206L).foreach(upsert) }
      val fm = Future { (1L to 6L).foreach(update) }
      val fr = Future {
        Thread.sleep(delays(0)); rename("ta", "tb")
        Thread.sleep(delays(1)); rename("tb", "tc")
      }
      Await.result(Future.sequence(Seq(fa, fb, fm, fr)), 5.minutes)
    } finally pool.shutdown()
    // every write that reported success is visible exactly once under
    // the final name, and the final name reads the physical tree
    val now = s.sql("SELECT k, v FROM gts.tc").as[(Long, Long)].collect()
    assert(now.map(_._1).distinct.length == now.length,
      s"[seed=$seed] duplicate keys under the final name")
    val byKey = now.toMap
    assert(landed.size == 12,
      s"[seed=$seed] only ${landed.size}/12 upserts landed")
    landed.forEach { k =>
      assert(byKey.get(k).contains(k * 100L), s"[seed=$seed] upsert $k lost")
    }
    (1L to 6L).foreach { k =>
      assert(byKey.get(k).contains(k * 1000L), s"[seed=$seed] merge $k lost")
    }
    assert(FactVersioned.read(spark, a).count() == now.length)
    // the tree never moved; no directory appeared under either new name
    val fs = fsOf(a)
    assert(fs.exists(new Path(a, FactVersioned.GensDir)))
    Seq("tb", "tc").foreach { n =>
      assert(!fs.exists(new Path(s"$root/$n")),
        s"[seed=$seed] a directory appeared at the default path of $n")
    }
    // both old names re-target to the final one in one hop
    Seq("ta", "tb").foreach { n =>
      val e = intercept[Exception] { s.sql(s"SELECT * FROM gts.$n").collect() }
      assert(RetryContract.messages(e).exists(m =>
        m.contains("RENAMED") && m.contains("'tc'")),
        s"[seed=$seed] $n: ${RetryContract.messages(e)}")
    }
  }

  // seeded repeats: `GRAFT_STORM_REPEATS=N` (env — sbt forks test JVMs,
  // so a -D on the sbt command line would not arrive) scales the
  // campaign; the default keeps the suite fast while still exercising
  // three distinct interleaves
  private val stormRepeats =
    sys.env.get("GRAFT_STORM_REPEATS")
      .orElse(sys.props.get("graft.storm.repeats"))
      .flatMap(_.toIntOption).getOrElse(3)

  test("interleaved TABLE RENAME + concurrent upserts: the move is " +
      "atomic, every surviving upsert lands exactly once at the final " +
      "path, old-path writers fail only inside the shared retry " +
      s"contract ($stormRepeats seeded rounds)") {
    (1 to stormRepeats).foreach(i => stormRound(i * 7919L + 13L))
  }
}
