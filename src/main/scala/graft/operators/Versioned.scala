package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}

/** Generational snapshot tables with time travel: every commit writes a
  * NEW `gen=<k>` directory and old generations stay readable until
  * retention removes them — the lakehouse version-travel idea
  * (Delta/Iceberg snapshots) on plain parquet directories. Where
  * [[Upsert.writeSnapshot]] keeps exactly one current generation
  * (atomic swap, minimal storage), this keeps `retain` of them:
  * debugging a pipeline regression, reproducing a training run against
  * the exact corpus version it saw, and auditing "what changed" all
  * need yesterday's table, which a swap destroys.
  *
  * Crash safety via commit markers, not pointer files: a generation
  * directory is visible ONLY once its `_graft_committed` marker exists,
  * and the marker is written LAST — a crash mid-write leaves an
  * uncommitted dir that readers never resolve (and the next commit
  * reuses the next free number; stray uncommitted dirs are cleaned by
  * retention). Resolving "latest" = max committed generation needs one
  * root listing plus one marker probe per candidate — metadata-scale,
  * no rename races, no shared pointer FILE to read-modify-write.
  *
  * CONCURRENT COMMITTERS are arbitrated by an atomic claim: before
  * writing any data, a committer reserves its generation number by
  * exclusively creating `gen=<n>/_graft_claim` (`fs.create` with
  * overwrite=false — the same exclusive-create primitive HDFS lease
  * recovery and object-store if-none-match puts provide). A loser of
  * the race gets FileAlreadyExists and retries the next number, so two
  * committers never write into the same directory and a committed
  * generation can never be overwritten by a racer (the pre-claim
  * list-then-write design could silently lose a committed generation
  * when both writers picked the same number). Retention never removes
  * a claimed-but-uncommitted directory until it is older than
  * [[StaleClaimMs]], so an in-flight writer's directory survives a
  * concurrent committer's cleanup; a crashed writer's debris is
  * reclaimed after the TTL. Readers are always safe: they only ever
  * resolve fully-committed generations.
  *
  * Scale: each commit writes the FULL dataframe — this is the
  * versioned analog of the flat snapshot, sized for dimension/curated
  * tables. Fact tables at 100 TB version per PARTITION instead
  * (partition-scoped commits already leave untouched dirs
  * byte-identical; pair them with a manifest per generation if full
  * fact-table travel is ever needed). */
object Versioned {

  val CommitMarker = "_graft_committed"

  /** Exclusive-create reservation file: claiming `gen=<n>/_graft_claim`
    * with overwrite=false is the CAS that serializes concurrent
    * committers onto distinct generation numbers. */
  val ClaimMarker = "_graft_claim"

  /** A claimed-but-uncommitted generation younger than this is treated
    * as an in-flight concurrent writer and protected from retention;
    * older ones are crashed-writer debris and reclaimed. */
  val StaleClaimMs: Long = 60L * 60L * 1000L

  /** Contents of a small record file; None when it is absent (or
    * vanishes mid-probe — records are rewritten and deleted
    * concurrently, so the exists→open gap MUST tolerate a concurrent
    * delete). */
  private[graft] def readSmall(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Option[String] =
    try {
      if (!fs.exists(p)) None
      else {
        val in = fs.open(p)
        try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
          Some(new String(out.toByteArray,
            java.nio.charset.StandardCharsets.UTF_8))
        } finally in.close()
      }
    } catch { case _: java.io.FileNotFoundException => None }

  /** A small `key\tvalue`-per-line record file as a map; empty when
    * absent (or deleted mid-probe). The one parse for every tab-record
    * reader (namespace/table properties). */
  private[graft] def readKv(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): Map[String, String] =
    readSmall(fs, p).map { text =>
      text.split("\n").filter(_.contains("\t")).map { line =>
        val i = line.indexOf('\t')
        line.substring(0, i) -> line.substring(i + 1)
      }.toMap
    }.getOrElse(Map.empty)

  /** Write `content` to `dest` with atomic visibility: tmp file in the
    * same directory, then ONE overwrite-capable rename — `dest` is
    * either the old content or the new, never absent and never torn
    * (ADVICE r16 #3: the earlier delete-then-rename had a transient-
    * absent window on rewrites, and a racing recreate inside it made
    * the rename fail spuriously on HDFS). `file://` goes through POSIX
    * rename(2) (`ATOMIC_MOVE` + `REPLACE_EXISTING`); HDFS-class stores
    * through `FileContext.rename(OVERWRITE)`; stores supporting
    * neither fall back to delete+rename with one retry (their object
    * PUTs are whole-object-atomic anyway, so the tmp degrades safely). */
  private[graft] def atomicWriteFile(
      fs: org.apache.hadoop.fs.FileSystem,
      dest: Path, content: String): Unit = {
    val tmp = new Path(dest.getParent,
      "." + dest.getName + ".tmp." + java.util.UUID.randomUUID().toString)
    val out = fs.create(tmp, true)
    try out.write(content.getBytes(java.nio.charset.StandardCharsets.UTF_8))
    finally out.close()
    val q = fs.makeQualified(dest)
    if (q.toUri.getScheme == "file") {
      java.nio.file.Files.move(
        java.nio.file.Paths.get(fs.makeQualified(tmp).toUri.getPath),
        java.nio.file.Paths.get(q.toUri.getPath),
        java.nio.file.StandardCopyOption.ATOMIC_MOVE,
        java.nio.file.StandardCopyOption.REPLACE_EXISTING)
    } else {
      val overwriteRenamed =
        try {
          org.apache.hadoop.fs.FileContext
            .getFileContext(q.toUri, fs.getConf)
            .rename(fs.makeQualified(tmp), q,
              org.apache.hadoop.fs.Options.Rename.OVERWRITE)
          true
        } catch {
          // scheme has no AbstractFileSystem binding (mock/test
          // stores) — fall through to delete+rename
          case _: org.apache.hadoop.fs.UnsupportedFileSystemException =>
            false
          case _: UnsupportedOperationException => false
        }
      if (!overwriteRenamed) {
        if (fs.exists(dest)) fs.delete(dest, false)
        val ok = fs.rename(tmp, dest) || {
          // a racing recreate landed between delete and rename — the
          // retry makes THIS write win (last-writer-wins is the
          // contract for rewritable records; both contents are valid)
          if (fs.exists(dest)) fs.delete(dest, false)
          fs.rename(tmp, dest)
        }
        require(ok,
          s"Versioned: atomic marker write failed renaming into $dest")
      }
    }
  }

  final case class Commit(gen: Long, path: String)

  private def genDir(root: Path, g: Long) = new Path(root, s"gen=$g")

  /** CAS-claim the next free generation number under `root` — the one
    * claim loop [[commit]] and [[destroy]] share: start past every dir
    * present (committed or not), then exclusively create the claim
    * marker; a loser takes the next number. */
  private def claimNextGen(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, who: String): Long = {
    val present = fs.listStatus(root).filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(n => if (n.startsWith("gen="))
        n.stripPrefix("gen=").toLongOption else None)
    var next = if (present.isEmpty) 0L else present.max + 1L
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000,
        s"$who: could not claim a generation at $root after $attempts " +
          "attempts — runaway concurrent committers?")
      // atomicCreate, not bare fs.create(overwrite=false): the latter is
      // check-then-act on LocalFileSystem, so same-instant racers could
      // both claim one number (atomic on HDFS, but the CAS must hold
      // everywhere the tests run too)
      if (CommitLock.atomicCreate(fs, new Path(genDir(root, next), ClaimMarker)))
        return next
      next += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** True iff `gen=g` under `root` is a LIVE in-flight claim: claimed,
    * uncommitted, younger than the stale lease. */
  private def inFlightClaim(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, g: Long): Boolean = {
    val dir = genDir(root, g)
    !fs.exists(new Path(dir, CommitMarker)) &&
      fs.exists(new Path(dir, ClaimMarker)) &&
      System.currentTimeMillis() -
        fs.getFileStatus(new Path(dir, ClaimMarker))
          .getModificationTime < StaleClaimMs
  }

  /** Wait (up to 60 s) for every claim BELOW `next` to resolve —
    * publish, vanish, or go stale — the linearization step of
    * [[destroy]]; throws the retryable conflict on timeout (the caller
    * rolls its own claim back). */
  private def awaitLowerResolved(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, next: Long,
      who: String): Unit = {
    val deadline = System.currentTimeMillis() + 60L * 1000L
    var g = 0L
    while (g < next) {
      if (!inFlightClaim(fs, root, g)) g += 1
      else if (System.currentTimeMillis() > deadline)
        throw new java.util.ConcurrentModificationException(
          s"$who: generation $g is still being written at $root — " +
            "retry once the writer resolves")
      else Thread.sleep(50)
    }
  }

  /** Committed generation numbers, ascending. */
  def generations(spark: SparkSession, tablePath: String): Seq[Long] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root)
      .filter(_.isDirectory)
      .map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (!n.startsWith("gen=")) None
        else n.stripPrefix("gen=").toLongOption
          .filter(_ => fs.exists(new Path(p, CommitMarker)))
      }
      .sorted.toSeq
  }

  /** Write `df` as the next generation; visible to readers only after
    * the commit marker lands. Old generations beyond `retain` (and any
    * uncommitted leftovers below the retention floor) are removed. */
  def commit(df: DataFrame, tablePath: String, retain: Int = 3): Commit = {
    require(retain >= 1, "retain must keep at least the new generation")
    val spark = df.sparkSession
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    if (!fs.exists(root)) {
      // first commit = table creation: enforce the filesystem contract
      // ONCE, loudly (see CommitLock.requireAtomicCommitContract)
      CommitLock.requireAtomicCommitContract(fs, root, "Versioned")
      fs.mkdirs(root)
    }
    // CAS-claim the number BEFORE any data write: exclusive create of
    // the claim file arbitrates racing committers onto distinct dirs
    val next = claimNextGen(fs, root, "Versioned.commit")
    val dir = genDir(root, next)
    // append, not overwrite: the directory (holding our claim file)
    // already exists and is exclusively ours; overwrite would delete
    // the claim and reopen the race window
    df.write.mode("append").parquet(dir.toString)
    fs.create(new Path(dir, CommitMarker), true).close()
    // retention: committed gens beyond the window, and uncommitted
    // debris older than the retention floor — but NEVER an in-flight
    // concurrent writer's claimed dir (younger than StaleClaimMs)
    val committed = generations(spark, tablePath)
    val floor = committed.takeRight(retain).headOption.getOrElse(next)
    sweepBelow(fs, root, floor)
    Commit(next, dir.toString)
  }

  /** PURGE — irreversibly delete the whole table tree, claiming the
    * next generation first and then WAITING for every lower-numbered
    * in-flight claim to resolve (publish, vanish, or go stale) before
    * deleting: a committer that claimed BEFORE the purge publishes
    * first and its generation is deleted with the table — the purge's
    * explicit intent — rather than re-creating the tree by writing
    * AFTER the delete. A writer claiming AFTER the purge's claim may
    * still re-create the table as a fresh, COMPLETE generation once
    * the purge's claim vanishes with the tree — semantically the same
    * as re-creating the table after the purge, never a torn read
    * (resolution requires the commit marker, written last). Exposed
    * only behind the catalog's explicit `DROP TABLE ... PURGE` door. */
  def destroy(spark: SparkSession, tablePath: String): Unit = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    require(fs.exists(root), s"Versioned.destroy: no table at $tablePath")
    val next = claimNextGen(fs, root, "Versioned.destroy")
    // linearize: a lower claim still writing would re-create the tree
    // AFTER our delete (its parquet write mkdirs) — wait it out like
    // any committer (FactVersioned.awaitLowerClaims' contract)
    try awaitLowerResolved(fs, root, next, "Versioned.destroy")
    catch {
      case e: Throwable =>
        fs.delete(genDir(root, next), true) // roll our claim back
        throw e
    }
    fs.delete(root, true)
  }

  /** Delete every `gen=` dir below `floor` except in-flight claims. */
  private def sweepBelow(
      fs: org.apache.hadoop.fs.FileSystem, root: Path, floor: Long): Unit =
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .filter(_.getName.startsWith("gen=")) // NEVER delete foreign dirs
      .foreach { p =>
        p.getName.stripPrefix("gen=").toLongOption.foreach { g =>
          if (g < floor && !inFlightClaim(fs, root, g)) fs.delete(p, true)
        }
      }

  /** Expire generations beyond `retain` — the retention sweep every
    * [[commit]] already runs, exposed for on-demand maintenance (the
    * SQL `VACUUM` statement routes here; full-copy generations ARE
    * their data, so expiring the metadata dir reclaims the bytes).
    * Returns the expired generation numbers, ascending. */
  def vacuum(
      spark: SparkSession, tablePath: String, retain: Int): Seq[Long] = {
    require(retain >= 1, "vacuum must retain at least the head generation")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val committed = generations(spark, tablePath)
    require(committed.nonEmpty,
      s"Versioned.vacuum: no committed generations at $tablePath")
    val floor = committed.takeRight(retain).head
    val dropped = committed.filter(_ < floor)
    sweepBelow(fs, root, floor)
    dropped
  }

  /** (generation, commit-marker mtime millis) per committed generation,
    * ascending — the record `TIMESTAMP AS OF` resolution binds to (the
    * marker is written LAST, so its mtime IS the commit's visibility
    * instant). */
  def generationCommitTimes(
      spark: SparkSession, tablePath: String): Seq[(Long, Long)] = {
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    generations(spark, tablePath).map { g =>
      g -> fs.getFileStatus(new Path(genDir(root, g), CommitMarker))
        .getModificationTime
    }
  }

  /** A committed generation's directory path — the SQL catalog surface
    * ([[graft.catalog.GraftCatalog]]) points its native parquet table
    * here. Same committed-only resolution as [[read]]. */
  def generationPath(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long] = None): String = {
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"no committed generations at $tablePath")
    val g = gen.getOrElse(gens.max)
    require(gens.contains(g),
      s"generation $g is not committed at $tablePath (have ${gens.mkString(",")})")
    genDir(new Path(tablePath), g).toString
  }

  /** Restore to generation `gen` by committing its content as a fresh
    * full-copy generation (dimension generations ARE their data — no
    * manifest to re-point, so a dim restore is a copy by design). */
  def restore(
      spark: SparkSession,
      tablePath: String,
      gen: Long,
      retain: Int = 3): Commit =
    commit(read(spark, tablePath, Some(gen)), tablePath, retain)

  /** Read a specific generation (must be committed) or, with None, the
    * latest committed one. Fails loudly on a never-committed table or
    * an uncommitted/evicted generation — never resolves half-written
    * data. */
  def read(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long] = None): DataFrame = {
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"no committed generations at $tablePath")
    val g = gen.getOrElse(gens.max)
    require(gens.contains(g),
      s"generation $g is not committed at $tablePath (have ${gens.mkString(",")})")
    spark.read.parquet(genDir(new Path(tablePath), g).toString)
  }
}
