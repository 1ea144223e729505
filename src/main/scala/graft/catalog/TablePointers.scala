package graft.catalog

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.SparkSession

import graft.operators.{CommitLock, Versioned}

/** Warehouse-level name→directory indirection: the record that makes
  * `ALTER TABLE ... RENAME TO` a ONE-POINTER SWAP on every store — the
  * only rename there is ([[GraftCatalog.renameTable]]). A table's
  * physical directory is its permanent identity and never moves; only
  * this name layer changes. So physical directory names need not match
  * logical names: after `a → b`, table `b` lives in `<root>/a`, and a
  * later CREATE of `a` gets a fresh directory (`a__p<uuid>`) registered
  * as an alias.
  *
  * The record is one small file at the warehouse root
  * ([[RecordFile]]), sorted `key\tkind\ttarget` lines:
  *
  *  - `a\tat\tdir` — logical table `a` (slash-joined namespace path)
  *    lives at `<root>/dir`, not at its default `<root>/a`;
  *  - `a\trenamed\tb` — `a` was renamed to `b`: resolution of the old
  *    name fails loudly with re-target guidance (retryable under
  *    [[graft.operators.RetryContract]]).
  *
  * A name with no entry resolves to its default `<root>/a` — unless that
  * directory is another entry's `at` target, in which case the name
  * holds no table.
  *
  * Every MUTATION runs under the warehouse's pointer commit lock
  * ([[CommitLock.withLocks]] on `<root>/_graft_names.lock` — the
  * bakery queue whose claim CAS rides conditional-PUT creates on
  * S3-class stores), then lands as ONE [[Versioned.atomicWriteFile]]
  * rewrite, with the previous content rotated to `.bak` first: a
  * reader sees the old record or the new, never a torn one, and a
  * crash inside the rewrite leaves the `.bak` audit trail. Concurrent
  * renames/creates/purges serialize on the lock (milliseconds — the
  * record is metadata-scale), while every read stays lock-free.
  *
  * Reads cache per (root, mtime): an unchanged record costs one
  * `getFileStatus`; a warehouse that never renamed costs one absent
  * probe per resolution — the same cost class as the other marker
  * probes on the resolution path.
  *
  * At 100 TB the point is what this record makes UNNECESSARY: the
  * table tree (manifests, generations, sidecar indexes, terabytes of
  * parquet) never moves — a rename costs one lock acquisition and one
  * small-file rewrite regardless of table size, on POSIX, HDFS and
  * conditional-PUT object stores alike, and in-flight writers holding
  * the physical path are entirely unaffected. */
object TablePointers {

  val RecordFile = "_graft_names"

  /** Lock dir for record mutations (underscore prefix keeps it out of
    * every table/namespace listing). */
  val LockDir = "_graft_names.lock"

  sealed trait Entry
  /** The table lives at `<root>/<dir>` (root-relative, slash-joined). */
  case class At(dir: String) extends Entry
  /** The name was renamed away to `to` (slash-joined logical path). */
  case class Renamed(to: String) extends Entry

  private case class Cached(mtime: Long, len: Long, map: Map[String, Entry])

  private val cache =
    new java.util.concurrent.ConcurrentHashMap[String, Cached]()

  private def fsOf(spark: SparkSession, root: String) =
    new Path(root).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def parse(text: String): Map[String, Entry] =
    text.split("\n").filter(_.contains("\t")).flatMap { line =>
      line.split("\t", 3) match {
        case Array(k, "at", d) => Some(k -> At(d))
        case Array(k, "renamed", t) => Some(k -> Renamed(t))
        case _ => None // foreign/torn line: ignore, stay resolvable
      }
    }.toMap

  private def serialize(map: Map[String, Entry]): String =
    map.toSeq.sortBy(_._1).map {
      case (k, At(d)) => s"$k\tat\t$d"
      case (k, Renamed(t)) => s"$k\trenamed\t$t"
    }.mkString("\n")

  /** The warehouse's pointer map; empty when no rename ever happened
    * (the file is absent — one probe). */
  def read(spark: SparkSession, root: String): Map[String, Entry] = {
    val fs = fsOf(spark, root)
    val p = new Path(root, RecordFile)
    val st =
      try Some(fs.getFileStatus(p))
      catch { case _: java.io.FileNotFoundException => None }
    st match {
      case None => Map.empty
      case Some(s) =>
        val key = fs.makeQualified(p).toString
        val hit = cache.get(key)
        if (hit != null && hit.mtime == s.getModificationTime &&
            hit.len == s.getLen) hit.map
        else {
          val m = parse(readRaw(fs, p))
          cache.put(key,
            Cached(s.getModificationTime, s.getLen, m))
          m
        }
    }
  }

  /** Apply `f` to the pointer map under the warehouse pointer lock and
    * commit the result as one atomic rewrite (previous content rotated
    * to `.bak`). `f` runs with the lock HELD, so it may probe table
    * layouts race-free against other pointer mutations. The
    * read-for-mutation BYPASSES the mtime cache: millisecond mtime
    * granularity could serve a stale map to a mutation that follows
    * another within the same tick, and a stale base under the lock is
    * a lost update — the one failure the lock exists to prevent. */
  def mutate(spark: SparkSession, root: String)(
      f: Map[String, Entry] => Map[String, Entry]): Unit = {
    val fs = fsOf(spark, root)
    CommitLock.withLocks(spark, Seq(s"$root/$LockDir")) {
      val p = new Path(root, RecordFile)
      val before = parse(readRaw(fs, p))
      val after = f(before)
      if (after != before) {
        if (fs.exists(p))
          Versioned.atomicWriteFile(fs,
            new Path(root, RecordFile + ".bak"), serialize(before))
        Versioned.atomicWriteFile(fs, p, serialize(after))
        // lock-free readers pick the rewrite up via mtime/len; THIS
        // JVM's next read must not serve the pre-rewrite entry
        cache.remove(fs.makeQualified(p).toString)
      }
    }
  }

  private def readRaw(
      fs: org.apache.hadoop.fs.FileSystem, p: Path): String =
    try {
      val in = fs.open(p)
      try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        new String(out.toByteArray,
          java.nio.charset.StandardCharsets.UTF_8)
      } finally in.close()
    } catch { case _: java.io.FileNotFoundException => "" }

  /** Physical path of logical `key` under `root` — the one name
    * resolution every name-based door shares (the catalog's loads and
    * DDL, the maintenance commands, the `graft_*` table functions): an
    * `at` entry redirects to its dir; a `renamed` entry fails loudly
    * with re-target guidance ("RENAMED", retryable under
    * [[graft.operators.RetryContract]]), so nothing reaches the renamed
    * table's tree through its old name; a name with no entry resolves
    * to its default `<root>/<key>`, or to None (no table) when that
    * dir is another table's physical home. */
  def resolve(spark: SparkSession, root: String, key: String): Option[String] = {
    val map = read(spark, root)
    map.get(key) match {
      case Some(At(dir)) => Some(s"$root/$dir")
      case Some(Renamed(to)) =>
        throw new IllegalArgumentException(
          s"GraftCatalog: table '${key.split('/').last}' was RENAMED to " +
            s"'${to.split('/').last}' ($root/$to) — query it under its " +
            "new name")
      case None if isTarget(map, key) => None
      case None => Some(s"$root/$key")
    }
  }

  /** True iff `<root>/<dir>` is the physical home of some `at` entry. */
  def isTarget(map: Map[String, Entry], dir: String): Boolean =
    map.values.exists(_ == At(dir))

  /** Root-relative slash-joined key of an identifier. */
  def keyOf(namespace: Array[String], name: String): String =
    (namespace :+ name).mkString("/")
}
