package graft.operators

import java.nio.file.Files

import graft.SparkSpec

/** Every retryable guidance spelling in [[RetryContract]] is produced by
  * a door that still exists — PURGE, VACUUM, or the catalog's rename
  * guidance — and is classified retryable where it surfaces. */
class RetryContractSpec extends SparkSpec {
  import spark.implicits._

  private def guidance(t: Throwable, phrase: String): Unit = {
    assert(RetryContract.messages(t).exists(_.contains(phrase)),
      RetryContract.messages(t))
    assert(RetryContract.retryable(t), s"'$phrase' must be retryable")
  }

  private def table(path: String, retain: Int): Unit =
    (1 to 3).foreach { i =>
      FactVersioned.upsert(spark, path,
        Seq((i.toLong, 0, i * 10L)).toDF("k", "p", "v"), Seq("k"), "p",
        retain = retain)
    }

  test("guidance spellings come from live doors: PURGE, VACUUM, " +
      "the catalog's RENAMED guidance, and a PURGE racing a scan") {
    val root = Files.createTempDirectory("graft_retry_").toString
    // VACUUM expired generation 0: a basis pinned to it is stale
    val kept = s"$root/kept"
    table(kept, retain = 1)
    FactVersioned.vacuum(spark, kept, retain = 1)
    guidance(intercept[IllegalArgumentException] {
      FactVersioned.read(spark, kept, Some(0L))
    }, "is not committed")
    // PURGE: reads of the purged table, and a second PURGE racing it
    val gone = s"$root/gone"
    table(gone, retain = 3)
    FactVersioned.destroy(spark, gone)
    guidance(intercept[IllegalArgumentException] {
      FactVersioned.read(spark, gone)
    }, "no committed generations")
    guidance(intercept[IllegalArgumentException] {
      FactVersioned.destroy(spark, gone)
    }, "no versioned table")
    // a PURGE landing between a store scan's file listing and its
    // partition discovery: the scan passes basePath = <table>/_graft_vdata,
    // whose probe at discovery finds the tree gone
    val raced = s"$root/raced"
    table(raced, retain = 3)
    spark.sparkContext.hadoopConfiguration
      .set("fs.purgerace.impl", classOf[PurgeRaceFileSystem].getName)
    PurgeRaceFileSystem.arm(s"$raced/${FactVersioned.DataDir}") {
      FactVersioned.destroy(spark, raced)
    }
    guidance(intercept[IllegalArgumentException] {
      FactVersioned.read(spark, s"purgerace://$raced").collect()
    }, "Option 'basePath' not found")
    assert(!new java.io.File(raced).exists(), "the PURGE must have run")
    // RENAMED: the catalog's pointer guidance for a renamed-away name
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.grc",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.grc.root", root)
    s.sql("ALTER TABLE grc.kept RENAME TO kept2")
    guidance(intercept[Exception] {
      s.sql("SELECT * FROM grc.kept").collect()
    }, "RENAMED")
  }
}

/** A local filesystem under its own scheme whose first `getFileStatus`
  * of an armed path runs a hook before answering. A store scan lists
  * its files first and probes its `basePath` dir only at partition
  * discovery, so a PURGE hooked to that probe lands exactly in the
  * window between the two. */
class PurgeRaceFileSystem extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "purgerace"
  override def getUri: java.net.URI = java.net.URI.create("purgerace:///")
  override def getFileStatus(
      p: org.apache.hadoop.fs.Path): org.apache.hadoop.fs.FileStatus = {
    PurgeRaceFileSystem.fire(p.toUri.getPath)
    super.getFileStatus(p)
  }
}

object PurgeRaceFileSystem {
  private val armed =
    new java.util.concurrent.atomic.AtomicReference[(String, () => Unit)]()

  def arm(path: String)(hook: => Unit): Unit = armed.set((path, () => hook))

  private[operators] def fire(path: String): Unit = {
    val a = armed.get
    if (a != null && a._1 == path && armed.compareAndSet(a, null)) a._2()
  }
}
