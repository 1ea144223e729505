package graft.operators

import org.apache.hadoop.fs.Path

/** The small-record primitives every versioned store shares: the
  * commit/claim marker names and the claim lease of the generation
  * protocol ([[FactVersioned]] — a committer reserves its generation
  * number by exclusively creating `gen=<n>/_graft_claim`, and a
  * generation becomes visible only once its `_graft_committed` marker,
  * written LAST, exists), plus the read and atomic-rewrite helpers for
  * the small `key\tvalue` records the catalog keeps (namespace and
  * table properties, pointers, partition transforms). */
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
}
