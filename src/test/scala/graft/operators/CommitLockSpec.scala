package graft.operators

import java.io.File
import java.nio.file.Files
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}
import java.util.concurrent.atomic.AtomicInteger

import graft.SparkSpec

/** Commit-lock semantics: mutual exclusion, stale-claim handling under
  * races (the delete-then-create TOCTOU of fixed-name lock breaking —
  * impossible here by never-reused claim names), and claim cleanup. */
class CommitLockSpec extends SparkSpec {

  private def tmpDir(): File =
    Files.createTempDirectory("graft-commitlock").toFile

  /** Plant a claim file (a crashed holder's leftover) whose modtime is
    * past the stale TTL. Its timestamp component is old, so it sorts
    * FIRST — without staleness handling it would hold the lock forever. */
  private def plantStaleLock(table: File): File = {
    table.mkdirs()
    val lock = new File(table,
      CommitLock.LockName + ".claim." + f"${1L}%020d." +
        java.util.UUID.randomUUID().toString)
    assert(lock.createNewFile())
    assert(lock.setLastModified(
      System.currentTimeMillis() - CommitLock.StaleLockMs - 60000L))
    lock
  }

  test("withLocks is mutually exclusive across racing threads") {
    val table = tmpDir()
    val inside = new AtomicInteger(0)
    val maxInside = new AtomicInteger(0)
    val done = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(8)
    (1 to 8).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          CommitLock.withLocks(spark, Seq(table.getAbsolutePath)) {
            val n = inside.incrementAndGet()
            maxInside.updateAndGet(m => math.max(m, n))
            Thread.sleep(20)
            inside.decrementAndGet()
          }
          done.incrementAndGet()
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(done.get() === 8, "every racer must eventually acquire")
    assert(maxInside.get() === 1, "two holders observed inside the lock")
  }

  test("racing a stale lock: exactly one thread holds at a time and " +
    "every thread eventually acquires") {
    val table = tmpDir()
    plantStaleLock(table)
    val inside = new AtomicInteger(0)
    val maxInside = new AtomicInteger(0)
    val acquisitions = new AtomicInteger(0)
    val start = new CountDownLatch(1)
    val pool = Executors.newFixedThreadPool(2)
    (1 to 2).foreach { _ =>
      pool.submit(new Runnable {
        def run(): Unit = {
          start.await()
          CommitLock.withLocks(spark, Seq(table.getAbsolutePath)) {
            val n = inside.incrementAndGet()
            maxInside.updateAndGet(m => math.max(m, n))
            acquisitions.incrementAndGet()
            Thread.sleep(50)
            inside.decrementAndGet()
          }
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(acquisitions.get() === 2)
    assert(maxInside.get() === 1,
      "stale-claim handling raced into two simultaneous holders")
    // Break leaves no tombstone litter and the lock is released.
    val leftovers = table.listFiles().map(_.getName)
      .filter(_.startsWith(CommitLock.LockName))
    assert(leftovers.isEmpty, s"leftover lock artifacts: ${leftovers.toSeq}")
  }

  test("a stale claim never lets a late contender evict a FRESH holder") {
    // The fixed-name TOCTOU shape: a contender with a stale view of the
    // lock state must not remove the live holder's claim. Plant a stale
    // claim, let one withLocks GC it and hold; while held, a second
    // contender must queue behind the live claim, not break it.
    val table = tmpDir()
    plantStaleLock(table)
    val holderIn = new CountDownLatch(1)
    val release = new CountDownLatch(1)
    val overlap = new AtomicInteger(0)
    val pool = Executors.newFixedThreadPool(2)
    pool.submit(new Runnable {
      def run(): Unit =
        CommitLock.withLocks(spark, Seq(table.getAbsolutePath)) {
          holderIn.countDown()
          release.await(30, TimeUnit.SECONDS)
          ()
        }
    })
    assert(holderIn.await(30, TimeUnit.SECONDS))
    // Holder broke the stale lock and now holds a FRESH one. A second
    // contender arriving with (conceptually) a stale view must not
    // acquire while the fresh lock is live.
    val second = pool.submit(new Runnable {
      def run(): Unit =
        CommitLock.withLocks(spark, Seq(table.getAbsolutePath)) {
          overlap.incrementAndGet(); ()
        }
    })
    Thread.sleep(500)
    assert(overlap.get() === 0, "second contender acquired a live lock")
    release.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60, TimeUnit.SECONDS))
    assert(overlap.get() === 1, "second contender must acquire after release")
    assert(second.isDone)
  }

  test("the filesystem contract rejects non-atomic stores at table " +
      "creation, loudly; the assume-atomic opt-in and existing tables " +
      "pass; HDFS-class schemes pass") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mocks3.impl", classOf[MockObjectStoreFileSystem].getName)
    conf.setBoolean(CommitLock.AssumeAtomicKey, false)
    val root = "mocks3:" +
      Files.createTempDirectory("graft_mockfs_").toString
    import spark.implicits._
    val df = Seq((1L, 0, 10L)).toDF("k", "p", "v")
    // fact-store creation rejects with the contract message
    val e = intercept[UnsupportedOperationException] {
      FactVersioned.upsert(spark, s"$root/t", df, Seq("k"), "p")
    }
    assert(e.getMessage.contains("mocks3") &&
      e.getMessage.contains("ATOMIC") &&
      e.getMessage.contains(CommitLock.AssumeAtomicKey), e.getMessage)
    // dim-store creation rejects identically
    intercept[UnsupportedOperationException] {
      commitWhole(df, s"$root/d")
    }
    try {
      // the documented opt-in unlocks the store
      conf.setBoolean(CommitLock.AssumeAtomicKey, true)
      FactVersioned.upsert(spark, s"$root/t", df, Seq("k"), "p")
      assert(FactVersioned.read(spark, s"$root/t")
        .select(col("v")).as[Long].head() == 10L)
      // EXISTING tables are never re-probed: flip the conf back off —
      // commits against the already-created table still land
      conf.setBoolean(CommitLock.AssumeAtomicKey, false)
      FactVersioned.upsert(spark, s"$root/t",
        Seq((2L, 0, 20L)).toDF("k", "p", "v"), Seq("k"), "p")
      assert(FactVersioned.read(spark, s"$root/t").count() == 2)
    } finally conf.setBoolean(CommitLock.AssumeAtomicKey, false)
    // local-filesystem tables (the known-good list) are untouched
    val local = Files.createTempDirectory("graft_localfs_").toString
    FactVersioned.upsert(spark, s"$local/t", df, Seq("k"), "p")
    assert(FactVersioned.read(spark, s"$local/t").count() == 1)
  }

  test("conditional-PUT stores: the capability probe accepts table " +
      "creation without the manual vouch, the claim CAS wins/loses " +
      "arbitration through the conditional create, and TABLE RENAME " +
      "succeeds as a pointer swap (the tree never moves)") {
    import org.apache.spark.sql.functions.col
    val conf = spark.sparkContext.hadoopConfiguration
    conf.set("fs.mockcps3.impl",
      classOf[MockConditionalPutFileSystem].getName)
    conf.setBoolean(CommitLock.AssumeAtomicKey, false)
    val root = "mockcps3:" +
      Files.createTempDirectory("graft_cpfs_").toString
    import spark.implicits._
    val df = Seq((1L, 0, 10L)).toDF("k", "p", "v")
    // creation passes on the capability alone (no assume.atomic)
    FactVersioned.upsert(spark, s"$root/t", df, Seq("k"), "p")
    assert(FactVersioned.read(spark, s"$root/t")
      .select(col("v")).as[Long].head() == 10L)
    // the CAS: N racing creators of ONE path — exactly one wins, and
    // every attempt flowed through the conditional-create builder
    val fs = new org.apache.hadoop.fs.Path(s"$root/t").getFileSystem(conf)
    MockConditionalPutFileSystem.conditionalCreates.set(0)
    val target = new org.apache.hadoop.fs.Path(s"$root/claim_race/${Versioned.ClaimMarker}")
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    val wins = new java.util.concurrent.atomic.AtomicInteger(0)
    val start = new java.util.concurrent.CountDownLatch(1)
    (1 to 8).foreach { _ =>
      pool.execute(new Runnable {
        def run(): Unit = {
          start.await()
          if (CommitLock.atomicCreate(fs, target)) wins.incrementAndGet()
        }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(60,
      java.util.concurrent.TimeUnit.SECONDS))
    assert(wins.get() == 1, s"exactly one CAS winner, got ${wins.get()}")
    assert(MockConditionalPutFileSystem.conditionalCreates.get() >= 8,
      "every attempt must flow through the conditional-create builder")
    // commits keep landing through the conditional CAS (claims route
    // through the builder path on every generation)
    (1 to 2).foreach { i =>
      FactVersioned.upsert(spark, s"$root/t",
        Seq((i + 10L, 0, i * 100L)).toDF("k", "p", "v"),
        Seq("k"), "p", retain = 10)
    }
    assert(FactVersioned.read(spark, s"$root/t").count() == 3)
    // TABLE RENAME needs no atomic directory move: it swaps the
    // catalog's name record, and the tree stays where it is
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.gcps",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcps.root", root)
    s.sql("ALTER TABLE gcps.t RENAME TO t2")
    assert(fs.exists(new org.apache.hadoop.fs.Path(
      s"$root/t/${FactVersioned.GensDir}")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(s"$root/t2")))
    assert(s.sql("SELECT count(*) FROM gcps.t2").head.getLong(0) == 3L)
  }
}

/** A RawLocalFileSystem wearing an object-store scheme — the mock the
  * contract check is spec'd against. */
class MockObjectStoreFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mocks3"
  override def getUri: java.net.URI = java.net.URI.create("mocks3:///")
}

object MockConditionalPutFileSystem {
  /** Observability for the spec: how many creates flowed through the
    * conditional builder (vs the plain create path). */
  val conditionalCreates = new java.util.concurrent.atomic.AtomicInteger(0)
}

/** An object-store-schemed filesystem that models Hadoop 3.4.2+
  * CONDITIONAL-PUT creates (HADOOP-19256): plain
  * `create(overwrite=false)` stays check-then-act (the S3 reality),
  * but a `createFile` builder carrying the
  * `fs.option.create.conditional.overwrite` must-option arbitrates
  * exclusively (POSIX O_EXCL stands in for the store's
  * `If-None-Match: *`), and `hasPathCapability` advertises it. This is
  * what [[CommitLock.atomicCreate]]'s conditional path and
  * [[CommitLock.requireAtomicCommitContract]]'s acceptance are spec'd
  * against. */
class MockConditionalPutFileSystem
    extends org.apache.hadoop.fs.RawLocalFileSystem {
  override def getScheme: String = "mockcps3"
  override def getUri: java.net.URI = java.net.URI.create("mockcps3:///")
  override def hasPathCapability(
      path: org.apache.hadoop.fs.Path, capability: String): Boolean =
    capability == CommitLock.ConditionalCreateCapability ||
      super.hasPathCapability(path, capability)
  override def createFile(path: org.apache.hadoop.fs.Path)
      : org.apache.hadoop.fs.FSDataOutputStreamBuilder[_, _] =
    new MockConditionalBuilder(this, path)
}

private class MockConditionalBuilder(
    fs: MockConditionalPutFileSystem, p: org.apache.hadoop.fs.Path)
    extends org.apache.hadoop.fs.FSDataOutputStreamBuilder[
      org.apache.hadoop.fs.FSDataOutputStream, MockConditionalBuilder](
      fs, p) {
  override def getThisBuilder: MockConditionalBuilder = this
  override def build(): org.apache.hadoop.fs.FSDataOutputStream = {
    val conditional = getMandatoryKeys
      .contains(CommitLock.ConditionalCreateCapability) ||
      getOptions.getBoolean(CommitLock.ConditionalCreateCapability, false)
    val f = new java.io.File(getPath.toUri.getPath)
    Option(f.getParentFile).foreach(_.mkdirs())
    if (conditional) {
      MockConditionalPutFileSystem.conditionalCreates.incrementAndGet()
      // the store-side CAS: atomic exclusive create, never check-then-act
      if (!f.createNewFile())
        throw new org.apache.hadoop.fs.FileAlreadyExistsException(
          s"mockcps3: conditional PUT lost arbitration at $getPath")
      new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.FileOutputStream(f), null)
    } else {
      new org.apache.hadoop.fs.FSDataOutputStream(
        new java.io.FileOutputStream(f), null)
    }
  }
}
