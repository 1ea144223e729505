package graft.operators

/** THE retry contract — the one normative definition of which errors a
  * production writer/reader treats as a transient conflict (re-resolve
  * the current table head/path and retry) versus a real failure
  * (VERDICT r15 Next #2: the two shipped storm specs had drifted into
  * two DIFFERENT contracts; both now import this object, and SCALING.md
  * §"Concurrency and the retry contract" states it in prose).
  *
  * Retryable shapes, and where each comes from:
  *
  *  - `ConcurrentModificationException` — every claim/lock conflict the
  *    committers throw (basis drift, in-flight lower claims, lock
  *    acquisition timeouts). Retry against the new head.
  *  - `AnalysisException` carrying a RESOLUTION-DRIFT error condition
  *    (`TABLE_OR_VIEW_NOT_FOUND`, the `UNRESOLVED_COLUMN`/`_FIELD`
  *    families, `FIELD_NOT_FOUND`/`COLUMN_NOT_FOUND`,
  *    `PATH_NOT_FOUND`, `PARTITIONS_NOT_FOUND`) — the name the plan
  *    resolved against moved mid-statement (a DDL landed between plan
  *    and execution). Re-resolve and retry. Every OTHER analysis
  *    failure — parse errors, type mismatches, duplicate columns,
  *    unsupported operations — is PERMANENT: no amount of retrying
  *    reanalyzes a genuinely-wrong statement into a right one (ADVICE
  *    r16 #2: the earlier any-AnalysisException classification would
  *    retry those to exhaustion).
  *  - `FileNotFoundException` ANYWHERE in the cause chain, and
  *    `FAILED_READ_FILE` in ANY flavor (Spark wraps a scan's failure
  *    as `SparkException[FAILED_READ_FILE.*]`; the FILE_NOT_EXIST
  *    flavor carries an FNF cause, but a file vanishing MID-read —
  *    open succeeded, the file was deleted under it — surfaces as
  *    NO_HINT with a generic IO cause) — an in-flight scan raced a
  *    PURGE, a vacuum, or a compaction swap; the standard
  *    snapshot-store reader shape. Re-resolve and retry (a genuinely
  *    corrupt file keeps failing and exhausts the caller's bounded
  *    retries).
  *  - loud GUIDANCE `IllegalArgumentException`s whose message names
  *    what happened — "RENAMED" (the catalog's pointer record names
  *    the table's new name: re-target, [[graft.catalog.TablePointers]]),
  *    "no committed generations" / "no versioned table" (the table
  *    vanished at resolve: a PURGE — re-resolve; a caller that KNOWS
  *    the table should exist bounds its retries), "is not committed"
  *    (the basis generation expired under a retention sweep
  *    mid-plan), and Spark's "Option 'basePath' not found" (a PURGE
  *    deleted the tree between a scan's file listing and its
  *    partition discovery).
  *
  * Anything else — "previously DROPPED", "not compatible", raw
  * field-missing — is a REAL error: retrying cannot succeed, and a
  * concurrency storm surfacing one is a misclassified race (a bug). */
object RetryContract {

  /** Every message down the cause chain (self first). */
  def messages(t: Throwable): Seq[String] =
    Iterator.iterate(t)(_.getCause).takeWhile(_ != null).take(16)
      .flatMap(x => Option(x.getMessage)).toSeq

  private val GuidancePhrases = Seq(
    "RENAMED",
    "no committed generations",
    "no versioned table",
    "is not committed",
    // Spark's PartitioningAwareFileIndex swallows the FileNotFound
    // from `option("basePath", ...)` resolution and rethrows a bare
    // IllegalArgumentException with exactly this spelling — the shape
    // a scan shows when a PURGE deletes the table tree after the scan
    // listed its files but before partition discovery (every store
    // read passes basePath = <table>/_graft_vdata). Same drift
    // semantics as PATH_NOT_FOUND.
    "Option 'basePath' not found")

  /** Error conditions (SQLSTATE-backed class names, prefix-matched so
    * sub-conditions like `UNRESOLVED_COLUMN.WITH_SUGGESTION` match)
    * that mean THE NAME MOVED, not the statement is wrong. */
  private val ResolutionDriftConditions = Seq(
    "TABLE_OR_VIEW_NOT_FOUND",
    "UNRESOLVED_COLUMN",
    "UNRESOLVED_FIELD",
    "UNRESOLVED_ATTRIBUTE",
    "FIELD_NOT_FOUND",
    "COLUMN_NOT_FOUND",
    "PATH_NOT_FOUND",
    "PARTITIONS_NOT_FOUND")

  /** Legacy spellings of the same drift shapes — matched in ADDITION
    * to the condition check: legacy errors carry `_LEGACY_ERROR_TEMP_*`
    * conditions (non-null but meaningless), e.g. `Dataset.resolve`'s
    * "Cannot resolve column name \"amount\" among (k, p, v, meta)",
    * the exact shape a rename racing an upsert surfaces (caught by the
    * r17 storm campaign after the first narrowing matched phrases only
    * when the condition was null). */
  private val ResolutionDriftPhrases = Seq(
    "cannot be resolved",
    "cannot resolve",
    "Cannot resolve column name",
    "Table or view not found",
    "Path does not exist",
    "No such struct field")

  /** True iff `t` (or a cause) is a transient-conflict shape a caller
    * should retry after re-resolving the table. */
  def retryable(t: Throwable): Boolean = {
    val chain = Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
      .take(16).toSeq
    chain.exists {
      case _: java.util.ConcurrentModificationException => true
      case e: org.apache.spark.sql.AnalysisException =>
        // resolution drift ONLY (ADVICE r16 #2) — a permanent analysis
        // error (parse/type/duplicate/unsupported) must surface, not
        // retry to exhaustion. Conditions and phrases BOTH match:
        // legacy errors carry `_LEGACY_ERROR_TEMP_*` conditions, so a
        // condition-only gate would miss their drift spellings.
        Option(e.getCondition).exists(c =>
          ResolutionDriftConditions.exists(c.startsWith)) ||
          Option(e.getMessage).exists(m =>
            ResolutionDriftPhrases.exists(m.contains))
      case _: java.io.FileNotFoundException => true
      case e: org.apache.spark.SparkException =>
        Option(e.getMessage).exists(_.contains("FAILED_READ_FILE"))
      case e: IllegalArgumentException =>
        val m = Option(e.getMessage).getOrElse("")
        GuidancePhrases.exists(m.contains)
      case _ => false
    }
  }
}
