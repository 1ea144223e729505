package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path

import graft.SparkSpec

/** The generation protocol on an UNPARTITIONED [[FactVersioned]] table
  * (zero partition columns — every commit restages the root): generation
  * numbering, time-travel reads, retention, and the commit-marker crash
  * contract (uncommitted generation dirs are invisible and never
  * reused), with the [[Versioned]] claim/commit markers. */
class VersionedSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ver_").toString + "/t"

  /** A generation's metadata dir. */
  private def meta(path: String, g: Long) =
    s"$path/${FactVersioned.GensDir}/gen=$g"

  test("commits number sequentially; any generation reads back exactly") {
    val path = tmp()
    val v0 = Seq((1L, "a"), (2L, "b")).toDF("k", "s")
    val v1 = Seq((1L, "A"), (2L, "b"), (3L, "c")).toDF("k", "s")
    assert(commitWhole(v0, path).gen == 0)
    assert(commitWhole(v1, path).gen == 1)
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    assert(FactVersioned.read(spark, path, Some(0)).collect().toSet ==
      v0.collect().toSet)
    assert(FactVersioned.read(spark, path).collect().toSet ==
      v1.collect().toSet)
  }

  test("retention keeps the newest N committed generations") {
    val path = tmp()
    (0 until 5).foreach { i =>
      commitWhole(Seq((i.toLong, s"v$i")).toDF("k", "s"),
        path, retain = 2)
    }
    assert(FactVersioned.generations(spark, path) == Seq(3L, 4L))
    intercept[IllegalArgumentException] {
      FactVersioned.read(spark, path, Some(1L))
    }
    assert(FactVersioned.read(spark, path).as[(Long, String)].head() ==
      ((4L, "v4")))
  }

  test("uncommitted directories are invisible and their numbers skipped") {
    val path = tmp()
    commitWhole(Seq((1L, "a")).toDF("k", "s"), path)
    // simulate a crashed writer: gen=1 exists with data, no marker
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    Seq((9L, "torn")).toDF("k", "s")
      .write.parquet(s"${meta(path, 1)}/manifest")
    assert(FactVersioned.generations(spark, path) == Seq(0L),
      "uncommitted generation must not resolve")
    assert(FactVersioned.read(spark, path).as[(Long, String)].head() ==
      ((1L, "a")))
    intercept[IllegalArgumentException] {
      FactVersioned.read(spark, path, Some(1L))
    }
    // the next commit does not overwrite the torn dir's number
    val c = commitWhole(Seq((2L, "b")).toDF("k", "s"), path)
    assert(c.gen == 2)
    assert(FactVersioned.generations(spark, path) == Seq(0L, 2L))
    assert(fs.exists(new Path(meta(path, 1))),
      "torn dir left for floor cleanup")
  }

  test("claimed in-flight generation is skipped and survives retention") {
    val path = tmp()
    commitWhole(Seq((1L, "a")).toDF("k", "s"), path)
    // simulate a concurrent writer mid-commit: gen=1 holds a fresh
    // claim, no data, no commit marker
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new Path(s"${meta(path, 1)}/${Versioned.ClaimMarker}")
    fs.create(claim, false).close()
    // the next committer claims PAST it and waits for it to resolve
    // (publication is linearized by generation number)
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    val f = Future(commitWhole(Seq((2L, "b")).toDF("k", "s"), path,
      retain = 1))(scala.concurrent.ExecutionContext.global)
    val claim2 = new Path(s"${meta(path, 2)}/${Versioned.ClaimMarker}")
    val deadline = System.currentTimeMillis() + 60000L
    while (!fs.exists(claim2) && System.currentTimeMillis() < deadline)
      Thread.sleep(20)
    assert(fs.exists(claim2) && !f.isCompleted,
      "the committer must claim past the in-flight number and wait on it")
    fs.delete(new Path(meta(path, 1)), true) // the writer abandons
    val c = Await.result(f, 2.minutes)
    assert(c.gen == 2, "claimed number must not be reused")
    assert(FactVersioned.generations(spark, path) == Seq(2L))
    assert(!fs.exists(new Path(meta(path, 0))),
      "committed dir below the floor is retired")
    // a retention sweep never removes a fresh in-flight claim, even
    // below its floor
    fs.create(claim, false).close()
    FactVersioned.retentionSweep(spark, path, retain = 1, justCommitted = 2L)
    assert(fs.exists(claim),
      "in-flight claimed dir below the floor must survive retention")
  }

  test("stale claim debris below the floor is reclaimed") {
    val path = tmp()
    commitWhole(Seq((1L, "a")).toDF("k", "s"), path)
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val claim = new Path(s"${meta(path, 1)}/${Versioned.ClaimMarker}")
    fs.create(claim, false).close()
    val old = System.currentTimeMillis() - Versioned.StaleClaimMs - 1000L
    fs.setTimes(claim, old, old)
    commitWhole(Seq((2L, "b")).toDF("k", "s"), path, retain = 1)
    assert(!fs.exists(new Path(meta(path, 1))),
      "crashed writer's stale claim is reclaimed once below the floor")
  }

  test("concurrent committers land on distinct generations, none lost") {
    val path = tmp()
    val threads = 4
    import java.util.concurrent.Executors
    import scala.concurrent.{Await, ExecutionContext, Future}
    import scala.concurrent.duration._
    val pool = Executors.newFixedThreadPool(threads)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    try {
      // racing whole-table commits conflict retryably on the one root
      // partition — each writer takes the retry loop until it lands
      def landed(i: Int): FactVersioned.Commit = {
        var attempts = 0
        while (true) {
          attempts += 1
          try return commitWhole(
            Seq((i.toLong, s"writer$i")).toDF("k", "s"), path, retain = 100)
          catch {
            case t: Throwable
                if RetryContract.retryable(t) && attempts < 50 =>
              Thread.sleep(10)
          }
        }
        throw new IllegalStateException("unreachable")
      }
      val commits = Await.result(
        Future.sequence((0 until threads).map(i => Future(landed(i)))),
        2.minutes)
      assert(commits.map(_.gen).distinct.size == threads,
        "every committer must claim a distinct generation")
      assert(FactVersioned.generations(spark, path).size == threads)
      // every writer's payload is readable back, intact, at its gen
      commits.foreach { c =>
        val row = FactVersioned.read(spark, path, Some(c.gen))
          .as[(Long, String)].head()
        assert(row._2.startsWith("writer"), s"gen ${c.gen} torn: $row")
      }
    } finally pool.shutdown()
  }

  test("never-committed table fails loudly") {
    val e = intercept[IllegalArgumentException] {
      FactVersioned.read(spark, tmp())
    }
    assert(e.getMessage.contains("no committed generations"))
  }
}
