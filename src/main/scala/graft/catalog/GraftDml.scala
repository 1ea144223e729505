package graft.catalog

import org.apache.spark.sql.{Column, DataFrame, GraftColumnBridge, Row, SparkSession, SparkSessionExtensions}
import org.apache.spark.sql.catalyst.analysis.UnresolvedAttribute
import org.apache.spark.sql.catalyst.expressions.{And, Attribute, AttributeReference, EqualTo, Expression, Literal}
import org.apache.spark.sql.catalyst.plans.logical.{Assignment, DeleteAction, DeleteFromTable, InsertAction, InsertStarAction, LogicalPlan, MergeAction, MergeIntoTable, SubqueryAlias, UpdateAction, UpdateStarAction, UpdateTable}
import org.apache.spark.sql.catalyst.rules.Rule
import org.apache.spark.sql.execution.command.LeafRunnableCommand
import org.apache.spark.sql.execution.datasources.v2.DataSourceV2Relation
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, DateType, NumericType, TimestampNTZType, TimestampType}

import graft.operators.FactVersioned

/** SQL DML — `MERGE INTO` / `DELETE FROM` — over [[GraftCatalog]]
  * tables, routed THROUGH the stores' own committers. The reference's
  * load lifecycle is MERGE semantics end to end
  * (`src/db/load.py:77-92,203-228`: staging upsert, promote, semi-join
  * delete), and its analytic users speak SQL (`README.md:12`) — this
  * completes that surface on the versioned store: its committers
  * ([[FactVersioned.upsert]]/[[FactVersioned.replacePartitionsBy]])
  * already implement the semantics with commit cost ∝ touched
  * partitions (an unpartitioned table's one partition is its root);
  * only statement ROUTING was missing.
  *
  * Spark's native MERGE/DELETE planning requires
  * `SupportsRowLevelOperations` — a distributed per-task write
  * protocol these stores deliberately don't implement (a task cannot
  * claim generations; commits are driver-orchestrated partition
  * swaps), and whose group-based copy-on-write rewrites the WHOLE
  * table unless the scan also implements runtime group filtering. The
  * routing here is instead a POST-HOC analyzer resolution rule (the
  * lakehouse-engine precedent: Delta's DeltaAnalysis → MergeInto
  * command): a resolved `MergeIntoTable`/`DeleteFromTable` whose
  * target is a graft table becomes a runnable command that evaluates
  * the statement with DataFrame operators and commits through the
  * store — claim/marker protocol, conflict detection, retention, and
  * the ∝-touched write contract all apply unchanged.
  *
  * Supported shapes (everything else fails loudly with guidance):
  *  - `MERGE INTO g.t USING src ON t.k = src.k [AND ...]` with any mix
  *    of `WHEN MATCHED [AND cond] THEN UPDATE` (star, or explicit
  *    assignments — PARTIAL allowed: unassigned columns keep the
  *    target row's values, the Delta/Postgres posture), `WHEN MATCHED
  *    [AND cond] THEN DELETE`, and `WHEN NOT MATCHED [AND cond] THEN
  *    INSERT` clauses — applied first-match-wins per SOURCE row (the
  *    CDC-apply shape: `AND src.op = 'D' THEN DELETE`). MATCHED-clause
  *    conditions and UPDATE assignment values may reference source AND
  *    target columns (`WHEN MATCHED AND t.status = 'open'`, `SET v =
  *    t.v + s.d`): the match probe carries exactly the referenced
  *    target columns, so routing still happens per source row and the
  *    commit stays ∝ touched partitions. NOT-MATCHED clauses are
  *    source-only (the row has no target side); unassigned INSERT
  *    columns are NULL. ON must be a conjunction of target-column =
  *    source-column equalities (the merge keys) — the two sides need
  *    NOT share a name (`ON t.id = s.customer_id`, the common CDC-feed
  *    shape; the probe and every key rewrite route through the
  *    target→source mapping). Enforced before anything commits:
  *    source key-uniqueness (the Postgres/Delta cardinality posture),
  *    partition stability (an UPDATE that would move a key between
  *    partitions is rejected — the stale-row hole), and KEY stability
  *    (an UPDATE that reassigns a merge key is rejected — the probe
  *    routed the row by its old key, so the reassignment would strand
  *    the matched row and add a second one).
  *  - `MERGE ... WITH SCHEMA EVOLUTION` — a source carrying NEW
  *    columns widens the target THROUGH the door: the tables
  *    advertise `TableCapability.AUTOMATIC_SCHEMA_EVOLUTION`, so
  *    Spark's own `ResolveMergeIntoSchemaEvolution` routes the widening
  *    through [[GraftCatalog.alterTable]] → [[FactVersioned.addColumns]]
  *    (metadata-only commit; carried rows null-fill; a DROPPED name
  *    stays tombstone-rejected) before this rule plans the merge.
  *  - `WHEN NOT MATCHED BY SOURCE THEN DELETE` / `THEN UPDATE SET ...`
  *    — the full-sync shapes, accepted with a PARTITION-SCOPING
  *    condition on partitioned tables (`AND t.p = <literal> [AND ...]`):
  *    scoped target rows whose key the source never names are deleted
  *    (or rewritten in place through target-side assignments — the
  *    flag-stale-rows shape; key/partition-column assignments
  *    rejected), and the rewrite stays ∝ the scoped partitions that
  *    actually hold sync rows. The unscoped partitioned-table shape
  *    stays rejected (whole-table rewrite; operator API covers it);
  *    unpartitioned tables (one partition — every data commit
  *    rewrites it) accept any target-only condition or none.
  *  - `DELETE FROM g.t WHERE <any predicate, subqueries included>` —
  *    deleted rows' partitions are rewritten without them; a partition
  *    deleted empty is dropped (the J2 semi-join delete at partition
  *    scale). Commit ∝ partitions holding matches.
  *  - `UPDATE g.t SET col = expr, ... WHERE <predicate>` — matched
  *    rows' partitions are rewritten with the assignments applied;
  *    partition-column (partition-moving) and `vgen` assignments are
  *    rejected. Commit ∝ partitions holding matches.
  * Multi-column partitioned tables are first-class through every
  * statement (touched sets are leaf-dir TUPLES); the maintenance
  * statements (OPTIMIZE/VACUUM/DESCRIBE HISTORY/RESTORE/DESCRIBE
  * DETAIL) live in [[GraftMaintenance]], installed together with this
  * rule.
  *
  * Session wiring: analyzer rule sets are snapshotted when a session's
  * state materializes, so [[enable]] injects the rule into the
  * (shared, mutable) `SparkSessionExtensions` and returns a NEW
  * session — same SparkContext, shared tables/catalogs — whose fresh
  * analyzer carries it. `spark.sql.catalog.*` confs are copied over.
  * Config-time users get the rule from `graft.GraftExtensions`
  * directly. */
object GraftDml {

  private val injected = new java.util.WeakHashMap[
    SparkSessionExtensions, java.lang.Boolean]()

  /** Install the DML rule and return a session whose analyzer has it.
    * Idempotent per underlying extensions instance. */
  def enable(spark: SparkSession): SparkSession = {
    val ext = GraftColumnBridge.extensionsOf(spark)
    injected.synchronized {
      if (!injected.containsKey(ext)) {
        install(ext)
        injected.put(ext, java.lang.Boolean.TRUE)
      }
    }
    val fresh = spark.newSession()
    spark.conf.getAll
      .filter { case (k, _) => k.startsWith("spark.sql.catalog.") }
      .foreach { case (k, v) => fresh.conf.set(k, v) }
    fresh
  }

  /** Register on a SparkSessionExtensions (config-time entry —
    * composed into [[graft.GraftExtensions]]). Installs the DML
    * resolution rules AND the maintenance-statement parser
    * ([[GraftSqlParser]]) — the full SQL write-and-lifecycle surface
    * turns on together. */
  def install(ext: SparkSessionExtensions): Unit = {
    ext.injectResolutionRule(s => GraftMergeVgenRule(s))
    ext.injectResolutionRule(s => GraftInsertVgenRule(s))
    ext.injectResolutionRule(s => GraftInsertEvolveRule(s))
    ext.injectPostHocResolutionRule(s => GraftDmlRule(s))
    // hidden-partitioning predicate mapping (r17): filters on a
    // transform source column gain the partition-pruning conjunct
    ext.injectOptimizerRule(s => GraftTransformPruneRule(s))
    ext.injectParser((_, delegate) => new GraftSqlParser(delegate))
  }

  /** Conf gating INSERT-door schema widening (default off — the Delta
    * `schema.autoMerge.enabled` posture): when true, an
    * `INSERT INTO <fact> BY NAME` with extra source columns widens the
    * table via a metadata-only addColumns commit instead of failing.
    * See [[GraftInsertEvolveRule]]. */
  val AutoMergeConf = "spark.graft.schema.autoMerge.enabled"

  /** The match-probe flag and carried-target-column naming shared by
    * resolution (which plants references to them) and execution (which
    * rides them on the probe). */
  private[catalog] val MatchFlag = "__graft_m"
  private[catalog] def tpName(i: Int) = s"__graft_tp$i"
  private[catalog] def carriedName(n: String) = s"__graft_t_${n.toLowerCase}"

  /** Conf capping the MERGE probe's broadcast hint (bytes, catalyst
    * size estimate; ≤ 0 disables the hint entirely). Under the cap the
    * probe frames are hinted broadcast (the fast small-batch path —
    * skipping AQE's shuffle-then-convert detour); above it they join
    * plain and AQE picks the strategy at runtime, so a production CDC
    * source of hundreds of millions of keys never rides an
    * unconditional broadcast into the 8 GB / driver-memory wall. */
  private[catalog] val ProbeBroadcastConf = "spark.graft.dml.probeBroadcastThreshold"
  private[catalog] val ProbeBroadcastDefault: Long = 64L * 1024 * 1024

  /** Hint `df` broadcast only when its catalyst size estimate sits
    * under the threshold — the size-conditional probe posture. The
    * conf accepts Spark's byte-suffix forms (`256m`, `1g`, bare
    * bytes); an unparseable value FAILS instead of silently reverting
    * to the default (an operator who raised the cap must not get
    * surprise broadcasts). */
  private[catalog] def maybeBroadcast(
      spark: SparkSession, df: DataFrame): DataFrame = {
    val threshold = spark.conf.getOption(ProbeBroadcastConf)
      .map { s =>
        try org.apache.spark.network.util.JavaUtils.byteStringAsBytes(s)
        catch {
          case e: NumberFormatException => throw new IllegalArgumentException(
            s"$ProbeBroadcastConf must be a byte size ('67108864', " +
              s"'64m', '1g'; <= 0 disables the hint), got '$s'", e)
        }
      }
      .getOrElse(ProbeBroadcastDefault)
    if (threshold > 0 &&
        df.queryExecution.optimizedPlan.stats.sizeInBytes <= threshold)
      broadcast(df)
    else df
  }

  /** Release the executor blocks behind an eager `localCheckpoint`ed
    * frame (checkpoint blocks are invisible to the CacheManager, so
    * `Dataset.unpersist` cannot release them — the exact RDD handle
    * must be unpersisted instead). Matches only a bare LogicalRDD
    * root, never one buried inside a larger plan. */
  private[catalog] def releaseCheckpoint(df: DataFrame): Unit =
    df.queryExecution.analyzed match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.unpersist(blocking = false)
      case _ => ()
    }

  /** Enforced-CHECK validation for the custom DML write paths (r17).
    * Spark's own ResolveTableConstraints covers every V2WriteCommand
    * (INSERT / OVERWRITE / streaming appends) by injecting a
    * CheckInvariant; MERGE and UPDATE route through graft commands
    * instead, so the NEW-OR-MODIFIED rows are validated here before
    * the commit — the Delta posture (constraints hold on every write
    * path or they are decoration). One aggregate pass over the
    * modified rows ONLY (carried rows were valid when written), and
    * zero extra jobs when the table has no enforced constraint (the
    * record read is metadata-cached). ANSI semantics: a CHECK passes
    * on TRUE and UNKNOWN, fails only on FALSE. */
  private[catalog] def enforceChecks(
      spark: SparkSession,
      path: String,
      basisGen: Long,
      rows: Option[DataFrame],
      op: String): Unit = {
    val props = FactVersioned.tableProperties(spark, path, Some(basisGen))
    val checks = GraftCatalog.decodeConstraints(props).toSeq.collect {
      case c: org.apache.spark.sql.connector.catalog.constraints.Check
          if c.enforced() => c
    }
    if (checks.isEmpty) return
    rows.foreach { df =>
      val cols = df.columns.toSeq
        .filterNot(_.equalsIgnoreCase(
          graft.operators.FactVersioned.VGenCol))
      val aggs = checks.flatMap { ch =>
        val violated = !coalesce(expr(ch.predicateSql()), lit(true))
        Seq(
          sum(when(violated, 1L).otherwise(0L)),
          first(when(violated,
            to_json(struct(cols.map(col): _*))), ignoreNulls = true))
      }
      val r = df.agg(aggs.head, aggs.tail: _*).head()
      checks.zipWithIndex.foreach { case (ch, i) =>
        val n = if (r.isNullAt(2 * i)) 0L else r.getLong(2 * i)
        if (n > 0)
          throw new IllegalStateException(
            s"GraftDml: $op violates CHECK constraint " +
              s"'${ch.name()}' (${ch.predicateSql()}) on $n row(s); " +
              s"first violating row: ${r.getString(2 * i + 1)} — " +
              "nothing was committed")
      }
    }
  }

  /** The writable graft table under alias wrappers, with its relation. */
  private[catalog] def graftTarget(
      plan: LogicalPlan): Option[(DataSourceV2Relation, GraftWritableTable)] =
    plan match {
      case SubqueryAlias(_, child) => graftTarget(child)
      case r: DataSourceV2Relation => r.table match {
        case t: GraftWritableTable => Some((r, t))
        case _ => None
      }
      case _ => None
    }

  /** The distinct partition tuples `rows` holds (in `pcols` order, at
    * most 10000 — `stmt` names the statement in the cap error); empty
    * when `rows` is. An unpartitioned table's one tuple is the empty
    * one, touched exactly when `rows` holds a row. */
  private[catalog] def touchedRowsOf(
      rows: DataFrame, pcols: Seq[String], stmt: String): IndexedSeq[Seq[Any]] =
    if (pcols.isEmpty && rows.isEmpty) IndexedSeq.empty
    else FactVersioned.touchedTuples(rows, pcols, 10000, s"GraftDml: $stmt")

  private[catalog] def unsupported(msg: String): Nothing =
    throw new UnsupportedOperationException(s"GraftDml: $msg")

  private def conjuncts(e: Expression): Seq[Expression] = e match {
    case And(l, r) => conjuncts(l) ++ conjuncts(r)
    case other => Seq(other)
  }

  /** Upsert keys from the ON condition: a conjunction of
    * target-attribute = source-attribute equalities. The two sides
    * need NOT share a name (`ON t.id = s.customer_id` — the common
    * CDC-feed shape): each conjunct yields a
    * (target column → source column) pair; the probe joins, the
    * clause program's key rewrites, and the commit's key anti-joins
    * all route through the mapping. Validated here so failures carry
    * guidance: the source side must be an UNAMBIGUOUS source column
    * name (string lookups downstream — alias a source with duplicate
    * names first), and a target key column may be named only once. */
  private[catalog] def keysOf(
      cond: Expression,
      target: DataSourceV2Relation,
      source: LogicalPlan): Seq[(String, String)] = {
    val tSet = target.outputSet
    val sSet = source.outputSet
    def pair(t: AttributeReference, s: AttributeReference): (String, String) = {
      if (source.output.count(_.name.equalsIgnoreCase(s.name)) != 1)
        unsupported(
          s"MERGE ON references source column '${s.name}', which is " +
            "ambiguous in the source (several columns share the name) " +
            "— alias the source to unique column names first")
      (t.name, s.name)
    }
    // see through the comparison coercion the analyzer inserts when
    // the two sides' types differ (`t.k = s.kk` with bigint vs int
    // arrives as `t.k = CAST(s.kk AS BIGINT)`) — but ONLY the cast
    // SHAPES that coercion itself plants (numeric/decimal widening,
    // date→timestamp): the rebuilt probe join re-derives the identical
    // coercion for those. `canUpCast` alone is too permissive — it
    // admits atomic→STRING (`ON CAST(t.k AS STRING) = s.txt`), where
    // the raw-column probe would re-derive bigint-vs-string NUMERIC
    // coercion instead of the user's string equality ('010' ≠ 10),
    // silently changing which rows match. Those stay rejected, as do
    // user-written narrowing casts.
    def coercionCast(from: DataType, to: DataType): Boolean =
      (from, to) match {
        case (f: NumericType, t: NumericType) =>
          org.apache.spark.sql.catalyst.expressions.Cast.canUpCast(f, t)
        case (DateType, TimestampType) => true
        case (DateType, TimestampNTZType) => true
        case _ => false
      }
    def keyAttr(e: Expression): Option[AttributeReference] = e match {
      case a: AttributeReference => Some(a)
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        c.child match {
          case a: AttributeReference
              if coercionCast(a.dataType, c.dataType) => Some(a)
          case _ => None
        }
      case _ => None
    }
    val pairs = conjuncts(cond).map {
      case EqualTo(l, r) =>
        (keyAttr(l), keyAttr(r)) match {
          case (Some(a), Some(b))
              if tSet.contains(a) && sSet.contains(b) => pair(a, b)
          case (Some(b), Some(a))
              if tSet.contains(a) && sSet.contains(b) => pair(a, b)
          case _ => unsupported(
            s"MERGE ON must be a conjunction of target.col = source.col " +
              s"equalities (the upsert keys; differently-named sides are " +
              s"fine: ON t.id = s.customer_id); got: ${EqualTo(l, r).sql}")
        }
      case other => unsupported(
        s"MERGE ON must be a conjunction of target.col = source.col " +
          s"equalities (the upsert keys; differently-named sides are " +
          s"fine: ON t.id = s.customer_id); got: ${other.sql}")
    }
    val dup = pairs.groupBy(_._1.toLowerCase)
      .collect { case (n, ps) if ps.length > 1 => n }
    if (dup.nonEmpty) unsupported(
      s"MERGE ON names target key column(s) ${dup.mkString(", ")} more " +
        "than once — give each target key exactly one source column")
    pairs
  }

  /** The merge's validated clause program. Each WHEN clause becomes
    * (condition, assignments); `vgen` (commit-assigned provenance) is
    * skipped everywhere.
    *
    * Reference semantics, per clause family:
    *  - MATCHED clauses see the source row AND its matched target row:
    *    conditions and UPDATE values may reference both. Target
    *    references are rewritten at resolution — a key column to the
    *    ON-mapped source attribute (equal by the ON condition,
    *    whatever its name), a partition column to the probe's
    *    target-partition slot, any other column to a carried probe
    *    column — so routing stays
    *    per-SOURCE-row and the probe carries exactly the referenced
    *    columns. Partial UPDATE assignments keep unassigned columns'
    *    target values through the same carried slots.
    *  - NOT MATCHED (insert) clauses have no target side: target
    *    references are rejected with guidance; unassigned columns
    *    insert NULL (the Delta posture).
    *  - NOT MATCHED BY SOURCE accepts exactly one DELETE clause;
    *    partitioned tables require a partition-scoping condition
    *    (rewrite ∝ scoped partitions), unpartitioned ones accept any
    *    target-only condition or none. */
  private[catalog] def mergeProgram(
      m: MergeIntoTable,
      target: DataSourceV2Relation,
      source: LogicalPlan,
      keys: Seq[(String, String)],
      pcols: Seq[String]): MergeProgram = {
    val dataCols = target.output
      .filterNot(_.name.equalsIgnoreCase(FactVersioned.VGenCol))
    val carried = scala.collection.mutable.LinkedHashSet[String]()

    def nameOf(asg: Assignment): String = asg.key match {
      case a: AttributeReference => a.name.toLowerCase
      case other => unsupported(s"cannot assign to ${other.sql}")
    }
    def srcAttr(name: String): Option[Attribute] =
      source.output.filter(_.name.equalsIgnoreCase(name)) match {
        case Seq(one) => Some(one)
        case _ => None
      }
    def isKey(name: String): Boolean =
      keys.exists(_._1.equalsIgnoreCase(name))
    /** Align an assignment value to the target column's type (the
      * Spark/Delta store-assignment posture — `SET price = 0` on a
      * double column casts the int literal). ALSO the armor against a
      * Spark 4.1 analyzer quirk: `ResolveMergeIntoSchemaEvolution`
      * rebuilds the target relation with fresh attribute ids AFTER
      * star expansion already aligned the assignments, and with this
      * store's partition-columns-last relation ordering the stale
      * assignment KEYS end up mis-typed (name/value pairs stay
      * correct; the alignment cast's TYPE comes from the wrong
      * positional slot — e.g. `CAST(p_year AS BIGINT)` from vgen's
      * slot). Re-casting to the CURRENT target attribute's type makes
      * the projection authoritative regardless of what alignment
      * planted — and the stale alignment cast is STRIPPED, not
      * wrapped: resolved assignments always arrive aligned to the
      * target type, so a resolved value whose outermost type differs
      * can only be the mis-zipped alignment cast, and it may be
      * NARROWER than the real column (e.g. `CAST(bigint_col AS INT)`
      * typed from an int slot) — Cast-over-Cast would truncate through
      * the inner cast before the outer re-widened. A user-written cast
      * sits BELOW the alignment cast (alignment wraps it at analysis),
      * so one-level stripping never removes user intent. */
    def typed(tc: Attribute, e: Expression): Expression = e match {
      case _ if e.resolved && e.dataType == tc.dataType => e
      case c: org.apache.spark.sql.catalyst.expressions.Cast
          if c.resolved && c.dataType != tc.dataType =>
        org.apache.spark.sql.catalyst.expressions.Cast(c.child, tc.dataType)
      // not-yet-resolved trees (probe-carried slots) can't report a
      // type here — cast unconditionally; a same-type cast collapses
      // in the optimizer (SimplifyCasts), so this costs nothing
      case _ => org.apache.spark.sql.catalyst.expressions.Cast(e, tc.dataType)
    }
    /** Alignment casts wrap even identity assignments (`SET k = s.k`
      * arrives as `CAST(s.k AS <target type>)` when the source key is
      * narrower) — unwrap before identity checks. */
    def stripCast(e: Expression): Expression = e match {
      case c: org.apache.spark.sql.catalyst.expressions.Cast =>
        stripCast(c.child)
      case other => other
    }
    /** The source attribute the ON condition equates with target key
      * column `tname` (unambiguous — [[keysOf]] validated). */
    def srcKeyAttr(tname: String): Attribute = {
      val sname = keys.find(_._1.equalsIgnoreCase(tname)).get._2
      source.output.find(_.name.equalsIgnoreCase(sname)).get
    }
    /** The matched target row's value of non-key column `name`: a
      * reference to the probe-carried slot (partition columns already
      * ride as tp columns). */
    def carriedRef(name: String): Expression = {
      val i = pcols.indexWhere(_.equalsIgnoreCase(name))
      if (i >= 0) UnresolvedAttribute(Seq(tpName(i)))
      else {
        carried += dataCols.find(_.name.equalsIgnoreCase(name)).get.name
        UnresolvedAttribute(Seq(carriedName(name)))
      }
    }
    /** Rewrite a MATCHED-clause expression: target references become
      * probe-carried slots (keys: the equal source attribute); any
      * reference to neither side is rejected with guidance instead of
      * a raw missing-attribute failure at run time. */
    def matchedExpr(e: Expression, clause: String): Expression = {
      val r = e.transform {
        case a: AttributeReference if target.outputSet.contains(a) =>
          if (a.name.equalsIgnoreCase(FactVersioned.VGenCol))
            unsupported(s"'${FactVersioned.VGenCol}' is commit-assigned " +
              "provenance and cannot be referenced in MERGE clauses")
          else if (isKey(a.name)) srcKeyAttr(a.name)
          else carriedRef(a.name)
      }
      r.foreach {
        case a: AttributeReference if !source.outputSet.contains(a) =>
          unsupported(s"$clause references column '${a.name}', which is " +
            "neither a MERGE source column nor a target column")
        case _ => ()
      }
      r
    }
    /** NOT-MATCHED clauses have no target row: source columns only. */
    def sourceOnlyExpr(e: Expression, clause: String): Expression = {
      e.foreach {
        case a: AttributeReference if target.outputSet.contains(a) =>
          unsupported(s"$clause may reference SOURCE columns only — a " +
            s"NOT MATCHED row has no target side; got: ${a.name}")
        case a: AttributeReference if !source.outputSet.contains(a) =>
          unsupported(s"$clause references column '${a.name}', which is " +
            "neither a MERGE source column nor a target column")
        case _ => ()
      }
      e
    }
    def resolveStar(clause: String): Seq[(String, Expression)] =
      dataCols.map { tc =>
        // a key column's star slot is the ON-equal source key column
        // (value-identical for matched rows by the ON condition) —
        // NEVER a same-name lookup: with differently-named keys the
        // name may not exist, or worse, the source may carry an
        // UNRELATED column under the target key's name, and assigning
        // it would reassign the key and strand the old row
        if (isKey(tc.name)) tc.name -> typed(tc, srcKeyAttr(tc.name))
        else tc.name -> typed(tc, srcAttr(tc.name).getOrElse(unsupported(
          s"$clause SET */INSERT *: source has no unambiguous column " +
            s"'${tc.name}'")))
      }
    /** UPDATE assignments — PARTIAL allowed: unassigned columns keep
      * the matched target row's value (carried slot / equal key). An
      * explicit assignment to a MERGE KEY column must resolve to the
      * ON-equal source key attribute (`SET k = s.k` / `SET k = t.k`,
      * both no-ops): any other value would re-key the row while the
      * probe routed it by the OLD key — the matched target row stays
      * in place and the projection adds a SECOND row under the new
      * key. Rejected with delete+insert guidance (the key-space twin
      * of the partition-stability moveCheck). */
    def updateAssigns(
        assignments: Seq[Assignment]): Seq[(String, Expression)] = {
      val byName = assignments.map(asg => nameOf(asg) -> asg.value).toMap
      dataCols.map { tc =>
        byName.get(tc.name.toLowerCase) match {
          case Some(e) if isKey(tc.name) =>
            val expected = srcKeyAttr(tc.name)
            val ok = stripCast(matchedExpr(e, "WHEN MATCHED ... UPDATE")) match {
              case a: AttributeReference => a.semanticEquals(expected)
              case _ => false
            }
            if (!ok) unsupported(
              s"WHEN MATCHED ... UPDATE reassigns merge key " +
                s"'${tc.name}' — the probe routed this row by its OLD " +
                "key, so the matched target row would stay in place " +
                "and the update would land as a SECOND row under the " +
                "new key. DELETE the old key and INSERT the new one " +
                s"instead (an assignment of the key to itself — SET " +
                s"${tc.name} = ${expected.name} — is the supported " +
                "no-op form)")
            tc.name -> typed(tc, expected)
          case Some(e) =>
            tc.name -> typed(tc, matchedExpr(e, "WHEN MATCHED ... UPDATE"))
          case None if isKey(tc.name) =>
            tc.name -> typed(tc, srcKeyAttr(tc.name))
          case None => tc.name -> carriedRef(tc.name)
        }
      }
    }
    /** INSERT assignments — unassigned columns are NULL. */
    def insertAssigns(
        assignments: Seq[Assignment]): Seq[(String, Expression)] = {
      val byName = assignments.map(asg => nameOf(asg) -> asg.value).toMap
      dataCols.map { tc =>
        byName.get(tc.name.toLowerCase) match {
          case Some(e) =>
            tc.name -> typed(tc,
              sourceOnlyExpr(e, "WHEN NOT MATCHED ... INSERT"))
          case None => tc.name -> (Literal(null, tc.dataType): Expression)
        }
      }
    }

    val matched = m.matchedActions.map {
      case u: UpdateAction =>
        (u.condition.map(matchedExpr(_, "WHEN MATCHED")),
          Some(updateAssigns(u.assignments)))
      case UpdateStarAction(cond) =>
        (cond.map(matchedExpr(_, "WHEN MATCHED")),
          Some(resolveStar("WHEN MATCHED ... UPDATE")))
      case DeleteAction(cond) =>
        (cond.map(matchedExpr(_, "WHEN MATCHED ... DELETE")),
          None: Option[Seq[(String, Expression)]])
      case other => unsupported(s"unsupported WHEN MATCHED action: $other")
    }
    val notMatched = m.notMatchedActions.map {
      case i: InsertAction =>
        (i.condition.map(sourceOnlyExpr(_, "WHEN NOT MATCHED")),
          insertAssigns(i.assignments))
      case InsertStarAction(cond) =>
        (cond.map(sourceOnlyExpr(_, "WHEN NOT MATCHED")),
          resolveStar("WHEN NOT MATCHED ... INSERT"))
      case other => unsupported(s"unsupported WHEN NOT MATCHED action: $other")
    }

    /** BY SOURCE: one DELETE or UPDATE clause; target-only expressions
      * rewritten to plain names (they are evaluated on target-side
      * frames — the row has no source side). */
    def bySourceCond(e: Expression): Expression = {
      val r = e.transform {
        case a: AttributeReference if target.outputSet.contains(a) =>
          if (a.name.equalsIgnoreCase(FactVersioned.VGenCol))
            unsupported(s"'${FactVersioned.VGenCol}' is commit-assigned " +
              "provenance and cannot be referenced in MERGE clauses")
          else UnresolvedAttribute(Seq(a.name))
      }
      r.foreach {
        case a: AttributeReference =>
          unsupported("WHEN NOT MATCHED BY SOURCE conditions may " +
            "reference TARGET columns only — the row has no source " +
            s"side; got: ${a.name}")
        case _ => ()
      }
      r
    }
    /** The scoped target-only BY SOURCE condition: partitioned tables
      * demand a partition-scoping conjunction (rewrite ∝ scoped
      * partitions), unpartitioned ones accept any target-only
      * condition or none. */
    def bySourceScope(cond: Option[Expression], verb: String): Expression =
      if (pcols.isEmpty) cond.map(bySourceCond).getOrElse(Literal.TrueLiteral)
      else {
        val c = cond.getOrElse(unsupported(
          s"WHEN NOT MATCHED BY SOURCE THEN $verb on a partitioned table " +
            "needs a partition-scoping condition (AND t.<pcol> = " +
            "<literal> [AND ...]) — the unscoped clause rewrites the " +
            "whole table; scope it, or use " +
            "FactVersioned.replacePartitions"))
        conjuncts(c).map {
          case eq @ EqualTo(a: AttributeReference, _: Literal)
              if target.outputSet.contains(a) &&
                pcols.exists(_.equalsIgnoreCase(a.name)) => bySourceCond(eq)
          case eq @ EqualTo(_: Literal, a: AttributeReference)
              if target.outputSet.contains(a) &&
                pcols.exists(_.equalsIgnoreCase(a.name)) => bySourceCond(eq)
          // IS NULL scopes the null partition — the one leaf an
          // equality literal can never name (same closure as
          // OPTIMIZE WHERE's IS NULL arm)
          case n @ org.apache.spark.sql.catalyst.expressions
              .IsNull(a: AttributeReference)
              if target.outputSet.contains(a) &&
                pcols.exists(_.equalsIgnoreCase(a.name)) => bySourceCond(n)
          case other => unsupported(
            "WHEN NOT MATCHED BY SOURCE conditions on a partitioned table " +
              "must be conjunctions of <target partition column> = <literal> " +
              s"or <target partition column> IS NULL (the rewrite " +
              s"scope); got: ${other.sql}")
        }.reduce(And)
      }
    /** BY SOURCE UPDATE assignments — evaluated on the TARGET side
      * (the row has no source side): values are target-only
      * expressions, unassigned columns keep their values; merge-key
      * and partition-column assignments are rejected (re-keying /
      * partition-moving has no in-place rewrite shape). */
    def bySourceAssigns(
        assignments: Seq[Assignment]): Seq[(String, Expression)] = {
      val byName = assignments.map(asg => nameOf(asg) -> asg.value).toMap
      dataCols.map { tc =>
        byName.get(tc.name.toLowerCase) match {
          case Some(e) =>
            if (isKey(tc.name)) unsupported(
              s"WHEN NOT MATCHED BY SOURCE ... UPDATE reassigns merge " +
                s"key '${tc.name}' — re-keying rows the source never " +
                "names would collide with routed rows; DELETE + INSERT " +
                "instead")
            if (pcols.exists(_.equalsIgnoreCase(tc.name))) unsupported(
              s"WHEN NOT MATCHED BY SOURCE ... UPDATE assigns partition " +
                s"column '${tc.name}' — a partition-moving update has " +
                "no single-partition rewrite shape")
            tc.name -> typed(tc, bySourceCond(e))
          case None => tc.name -> (UnresolvedAttribute(Seq(tc.name))
            : Expression)
        }
      }
    }
    val bySource: Option[BySourceClause] = m.notMatchedBySourceActions match {
      case Seq() => None
      case Seq(DeleteAction(cond)) =>
        Some(new BySourceClause(bySourceScope(cond, "DELETE"), None))
      case Seq(u: UpdateAction) =>
        Some(new BySourceClause(bySourceScope(u.condition, "UPDATE"),
          Some(bySourceAssigns(u.assignments))))
      case Seq(UpdateStarAction(_)) => unsupported(
        "WHEN NOT MATCHED BY SOURCE ... UPDATE SET * has no source row " +
          "to read from — assign explicit target-side expressions")
      case _ => unsupported(
        "WHEN NOT MATCHED BY SOURCE supports exactly one THEN DELETE " +
          "or THEN UPDATE clause (the full-sync shapes); for anything " +
          "richer use the operator API (FactVersioned.replacePartitions)")
    }

    require(matched.nonEmpty || notMatched.nonEmpty || bySource.nonEmpty,
      "GraftDml: MERGE needs at least one WHEN clause")
    new MergeProgram(matched, notMatched, bySource, carried.toSeq)
  }

  /** Restrict `t` to exactly the touched partition tuples: per-column
    * NULL-SAFE membership tests (literal, partition-prunable — a
    * superset cross product for multi-column tables) tightened to the
    * exact tuple set by a broadcast null-safe semi-join when more than
    * one column partitions the table. The store supports null
    * partition values (`__HIVE_DEFAULT_PARTITION__` dirs), and SQL
    * 3VL `isin` would silently drop every keeper row of the null
    * partition — each column's test therefore adds an explicit
    * `IS NULL` arm when null is among its touched values. `touchedRows`
    * carry the tuples in `pcols` order with `tupSchema` (≤ 10000 rows
    * by the caller's cap). An unpartitioned table's scope is all of
    * `t`. */
  private[catalog] def scopedTo(
      spark: SparkSession,
      t: DataFrame,
      pcols: Seq[String],
      touchedRows: Seq[Seq[Any]],
      tupSchema: org.apache.spark.sql.types.StructType): DataFrame = {
    if (pcols.isEmpty) return t
    val perCol = pcols.zipWithIndex.map { case (p, i) =>
      val vals = touchedRows.map(_(i)).distinct
      val nonNull = vals.filter(_ != null)
      val base =
        if (nonNull.nonEmpty) col(p).isin(nonNull: _*) else lit(false)
      if (vals.contains(null)) base || col(p).isNull else base
    }.reduce(_ && _)
    if (pcols.length == 1) t.where(perCol)
    else {
      val tupDf = spark.createDataFrame(
          spark.sparkContext.parallelize(touchedRows.map(Row.fromSeq), 1),
          tupSchema)
        .select(pcols.zipWithIndex.map { case (p, i) =>
          col(p).as(s"__graft_pv$i") }: _*)
      val cond = pcols.zipWithIndex
        .map { case (p, i) => col(p) <=> col(s"__graft_pv$i") }
        .reduce(_ && _)
      t.where(perCol).join(broadcast(tupDf), cond, "left_semi")
    }
  }

  /** Null-safe anti-join on `cols`: rows of `left` whose `cols` tuple
    * appears in `right` are dropped, with NULLs comparing EQUAL (`<=>`)
    * — a plain `===` anti-join would KEEP null-keyed rows it was meant
    * to remove (SQL 3VL). */
  private[catalog] def antiNullSafe(
      left: DataFrame, right: DataFrame, cols: Seq[String]): DataFrame = {
    val r = right.select(cols.zipWithIndex.map { case (c, i) =>
      col(c).as(s"__graft_r$i") }: _*)
    val cond = cols.zipWithIndex
      .map { case (c, i) => left(c) <=> r(s"__graft_r$i") }
      .reduce(_ && _)
    left.join(r, cond, "left_anti")
  }
}

/** A merge's validated clause program — opaque (like
  * [[AnalyzedCondition]]) so checkAnalysis never traverses the
  * already-resolved expressions. Matched clauses: (condition,
  * Some(assignments) = UPDATE / None = DELETE), applied
  * first-match-wins in statement order; not-matched clauses:
  * (condition, insert assignments), same ordering. `bySource`: the
  * WHEN NOT MATCHED BY SOURCE clause, if any. `carried`: the target
  * data columns matched clauses reference (beyond keys and partition
  * columns), which the match probe must carry. */
final class MergeProgram(
    val matched: Seq[(Option[Expression], Option[Seq[(String, Expression)]])],
    val notMatched: Seq[(Option[Expression], Seq[(String, Expression)])],
    val bySource: Option[BySourceClause],
    val carried: Seq[String])
  extends Serializable

/** One WHEN NOT MATCHED BY SOURCE clause: `cond` is the target-only
  * (partition-scoping on a partitioned table) condition selecting the
  * sync scope;
  * `assigns` is None for THEN DELETE (scoped rows whose key the source
  * never names are dropped) or the full per-column projection for THEN
  * UPDATE (the flag-stale-rows shape: same scoped rows are rewritten
  * in place, unassigned columns keep their values — all expressions
  * target-side plain-name references, the row has no source half). */
final class BySourceClause(
    val cond: Expression,
    val assigns: Option[Seq[(String, Expression)]])
  extends Serializable

/** Opaque wrapper keeping an already-analyzed expression OUT of the
  * command plan's expression traversal: checkAnalysis restricts where
  * IN/EXISTS subqueries may appear (Filter/Join/DML nodes — not a
  * custom command), but the condition was fully resolved INSIDE the
  * original DeleteFromTable (an allowed context) before the rule
  * swapped the node; at run time it re-enters an allowed context as a
  * DataFrame filter. */
final class AnalyzedCondition(val expr: Expression) extends Serializable

/** Same opacity for the merge's validated per-column expressions. */
final class AnalyzedColumns(val cols: Seq[(String, Expression)])
  extends Serializable

/** Parse-time wrapper around a MERGE's source or a positional
  * INSERT's query ([[GraftSqlParser]] plants it): reports
  * `resolved = false` so the analyzer's MERGE star expansion (which
  * resolves EVERY target column — the reserved `vgen` provenance slot
  * included — against same-named source columns, throwing on a miss)
  * and its INSERT arity check wait until [[GraftMergeVgenRule]] or
  * [[GraftInsertVgenRule]] has decided whether the query needs a NULL
  * `vgen`. Unwrapped verbatim otherwise — one extra analyzer
  * iteration, zero semantic change. */
case class VgenWiden(child: LogicalPlan)
    extends org.apache.spark.sql.catalyst.plans.logical.UnaryNode {
  override def output: Seq[Attribute] = child.output
  override lazy val resolved: Boolean = false
  override protected def withNewChildInternal(
      newChild: LogicalPlan): VgenWiden = copy(child = newChild)
}

/** Parse-time marker holding an `INSERT INTO ... BY NAME` query back
  * from the analyzer's output resolution (which throws on extra source
  * columns BEFORE an injected rule could widen the table) until
  * [[GraftInsertEvolveRule]] decides whether auto-widening applies —
  * the same timing trick as [[VgenWiden]]. Unwrapped verbatim whenever
  * widening does not apply: one extra analyzer iteration, zero
  * semantic change. */
case class GraftInsertWiden(child: LogicalPlan)
    extends org.apache.spark.sql.catalyst.plans.logical.UnaryNode {
  override def output: Seq[Attribute] = child.output
  override lazy val resolved: Boolean = false
  override protected def withNewChildInternal(
      newChild: LogicalPlan): GraftInsertWiden = copy(child = newChild)
}

/** Resolution-time source widening: a MERGE into a graft table that
  * shows [[FactVersioned.VGenCol]] (a partitioned one) gets a NULL
  * `vgen` appended to its source when the source lacks one — the
  * reserved provenance column is commit-assigned (its input values
  * are ignored), so star expansion
  * must not force users to hand-write `CAST(NULL AS BIGINT) AS vgen`
  * into every MERGE source. The [[VgenWiden]] marker (parse-time)
  * holds expansion off until this rule runs; the widening Project goes
  * INSIDE the source's alias so qualified references (`s.vgen`) keep
  * resolving. */
case class GraftMergeVgenRule(session: SparkSession) extends Rule[LogicalPlan] {
  private def widen(p: LogicalPlan): LogicalPlan = p match {
    case SubqueryAlias(id, child) => SubqueryAlias(id, widen(child))
    case other =>
      org.apache.spark.sql.catalyst.plans.logical.Project(
        other.output :+
          org.apache.spark.sql.catalyst.expressions.Alias(
            Literal(null, org.apache.spark.sql.types.LongType),
            FactVersioned.VGenCol)(),
        other)
  }

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case m @ MergeIntoTable(t, w: VgenWiden, _, _, _, _, _)
          if t.resolved && w.child.resolved =>
        val needs = GraftDml.graftTarget(t).nonEmpty &&
          t.output.exists(_.name.equalsIgnoreCase(FactVersioned.VGenCol)) &&
          !w.child.output.exists(
            _.name.equalsIgnoreCase(FactVersioned.VGenCol))
        m.copy(sourceTable = if (needs) widen(w.child) else w.child)
    }
}

/** The positional-INSERT twin of [[GraftMergeVgenRule]]: an
  * `INSERT INTO <graft table> VALUES (...)` (or `SELECT`) without a
  * column list that supplies every column but `vgen` gets a NULL
  * `vgen` placed at its slot. Spark fills a column default only for
  * TRAILING omitted columns, and `vgen` sorts before the partition
  * columns of a partitioned table, so this insert otherwise fails
  * with INSERT_COLUMN_ARITY_MISMATCH. Columns a static
  * `PARTITION (p = v)` spec supplies are not expected from the query.
  * Any other arity is unwrapped verbatim for Spark to judge. */
case class GraftInsertVgenRule(session: SparkSession) extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.expressions.Alias
  import org.apache.spark.sql.catalyst.plans.logical.{InsertIntoStatement, Project}
  import org.apache.spark.sql.types.LongType

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case i @ InsertIntoStatement(t, spec, cols, w: VgenWiden, _, _, false)
          if cols.isEmpty && t.resolved && w.child.resolved =>
        val static = spec.collect { case (c, Some(_)) => c }
        val expected = t.output.filterNot(a =>
          static.exists(_.equalsIgnoreCase(a.name)))
        val slot = expected.indexWhere(
          _.name.equalsIgnoreCase(FactVersioned.VGenCol))
        val q = w.child
        val pad = slot >= 0 && q.output.size == expected.size - 1 &&
          GraftDml.graftTarget(t).nonEmpty
        i.copy(query = if (!pad) q else Project(
          q.output.take(slot) ++ (Alias(Literal(null, LongType),
            FactVersioned.VGenCol)() +: q.output.drop(slot)), q))
    }
}

/** INSERT-door schema widening (Delta's `mergeSchema` append posture,
  * conf-gated like Delta's `schema.autoMerge.enabled`): an
  * `INSERT INTO <fact> BY NAME` whose source carries columns the table
  * lacks WIDENS the table first — a metadata-only
  * [[FactVersioned.addColumns]] commit at ANALYSIS time (the posture
  * of Spark's own `ResolveMergeIntoSchemaEvolution`, which alterTables
  * during analysis) — then re-resolves the insert against the reloaded
  * relation; carried files null-fill the new columns on read. The
  * committer's tombstone checks apply unchanged: a previously-dropped
  * name stays rejected, loudly, at the addColumns door. With the conf
  * off (default) the [[GraftInsertWiden]] marker unwraps verbatim and
  * the analyzer produces its standard extra-columns error.
  *
  * Like the analyzer's native evolution, the widening side effect runs
  * when the statement is ANALYZED (an EXPLAIN widens too) — the
  * documented q156 trade for resolving the insert's output against the
  * post-DDL schema in one pass. */
case class GraftInsertEvolveRule(session: SparkSession)
    extends Rule[LogicalPlan] {
  import org.apache.spark.sql.catalyst.plans.logical.InsertIntoStatement

  private def enabled: Boolean = session.conf
    .getOption(GraftDml.AutoMergeConf).exists(_.toBoolean)

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case i: InsertIntoStatement
          if i.query.isInstanceOf[GraftInsertWiden] &&
            i.query.asInstanceOf[GraftInsertWiden].child.resolved &&
            i.table.resolved =>
        val child = i.query.asInstanceOf[GraftInsertWiden].child
        val unwrapped = i.copy(query = child)
        GraftDml.graftTarget(i.table) match {
          case Some((rel, _)) if enabled =>
            val extra = child.output.filterNot(a =>
              rel.output.exists(_.name.equalsIgnoreCase(a.name)))
            // NESTED widening under a shared column name: the source's
            // struct carries fields the table's doesn't — each becomes
            // its own nested ADD (metadata-only, tombstones enforced at
            // the addNestedColumn door). Non-widening type conflicts
            // contribute nothing here and surface as the standard
            // resolution error after the unwrap.
            val nested = child.output.flatMap { a =>
              rel.output.find(_.name.equalsIgnoreCase(a.name)).toSeq
                .flatMap(t => graft.operators.FactVersioned
                  .addedNestedFields(t.dataType, a.dataType, Seq(t.name)))
            }
            if (extra.isEmpty && nested.isEmpty) unwrapped
            else {
              // route through the catalog's own ALTER path — the
              // metadata-only addColumns commit (tombstones enforced),
              // under the catalog's retention conf
              val cat = rel.catalog.map(_.asInstanceOf[
                  org.apache.spark.sql.connector.catalog.TableCatalog])
                .getOrElse(GraftDml.unsupported(
                  "INSERT widening needs a catalog-resolved table"))
              // ONE alterTable call for the whole widening — top-level
              // and nested adds land as one atomic metadata commit
              // (FactVersioned.addFields), so a failed validation
              // (e.g. a tombstoned nested name) can never leave the
              // table half-evolved by a failed INSERT
              cat.alterTable(rel.identifier.get,
                (extra.map(a => org.apache.spark.sql.connector.catalog
                    .TableChange.addColumn(Array(a.name), a.dataType)) ++
                  nested.map { case (p, dt) =>
                    org.apache.spark.sql.connector.catalog
                      .TableChange.addColumn(p.toArray, dt) }): _*)
              val reloaded = DataSourceV2Relation.create(
                cat.loadTable(rel.identifier.get),
                rel.catalog, rel.identifier)
              unwrapped.copy(table = i.table.transform {
                case r: DataSourceV2Relation if r.eq(rel) => reloaded
              })
            }
          case _ => unwrapped
        }
    }
}

/** The post-hoc resolution rule: resolved MERGE/DELETE over a graft
  * table → runnable command through the store's committer. */
case class GraftDmlRule(session: SparkSession) extends Rule[LogicalPlan] {
  import GraftDml._

  override def apply(plan: LogicalPlan): LogicalPlan =
    plan.transformDown {
      case d @ DeleteFromTable(t, cond) if d.resolved =>
        graftTarget(t) match {
          case Some((_, table)) =>
            GraftDeleteCommand(t, new AnalyzedCondition(cond),
              table.graftTablePath,
              table.resolvedGen, table.retentionForDml)
          case None => d
        }
      case u @ UpdateTable(t, assignments, cond) if u.resolved =>
        graftTarget(t) match {
          case Some((rel, table)) =>
            val pcols = FactVersioned.logicalPartitionColumns(
              session, table.graftTablePath)
            assignments.foreach { asg =>
              val name = asg.key match {
                case a: AttributeReference => a.name
                case other => unsupported(s"cannot assign to ${other.sql}")
              }
              if (pcols.exists(_.equalsIgnoreCase(name)))
                unsupported(s"UPDATE of the partition column '$name' " +
                  "moves rows between partitions, which has no " +
                  "single-partition rewrite shape — DELETE the rows " +
                  "from their current partition and re-INSERT them " +
                  "with the new value (or rewrite both partitions " +
                  "with FactVersioned.replacePartitions)")
              // transform tables: the SOURCE column determines the
              // generated partition column — assigning it either moves
              // the row (unsupported above) or desyncs the derivation
              if (table.transformSpec.exists(_.source.equalsIgnoreCase(name)))
                unsupported(s"UPDATE of '$name' — the source of this " +
                  "table's partition transform — would move rows " +
                  "between generated partitions; DELETE and re-INSERT " +
                  "instead")
              if (name.equalsIgnoreCase(FactVersioned.VGenCol))
                unsupported(s"'${FactVersioned.VGenCol}' is " +
                  "commit-assigned provenance and cannot be updated")
            }
            GraftUpdateCommand(t,
              new AnalyzedColumns(assignments.map(asg =>
                asg.key.asInstanceOf[AttributeReference].name -> asg.value)),
              new AnalyzedCondition(cond.getOrElse(
                org.apache.spark.sql.catalyst.expressions.Literal.TrueLiteral)),
              table.graftTablePath,
              table.resolvedGen, table.retentionForDml)
          case None => u
        }
      // dynamic INSERT OVERWRITE (r17): Spark has NO V1-write exec for
      // OverwritePartitionsDynamic (unlike append/overwrite-by-filter,
      // which bridge through InsertableRelation), so the dynamic shape
      // routes like MERGE — a command handing the WHOLE resolved frame
      // to the store's committer. By the time the plan is resolved the
      // analyzer has aligned the query to the table schema
      // (outputResolved), so the frame's names are the table's.
      case o: org.apache.spark.sql.catalyst.plans.logical
          .OverwritePartitionsDynamic if o.resolved =>
        graftTarget(o.table) match {
          case Some((_, table)) =>
            GraftDynamicOverwriteCommand(o.query, table)
          case None => o
        }
      case m: MergeIntoTable if m.resolved =>
        graftTarget(m.targetTable) match {
          case Some((rel, table)) =>
            // the probe rides internal __graft_-prefixed slots (key,
            // tp, carried) on the enriched frame — a source column in
            // that namespace would collide with them. Case-INsensitive
            // like Spark's own name resolution: a '__GRAFT_K0' source
            // column is the same name to the enriched-frame join/drop.
            m.sourceTable.output.filter(_.name
                .toLowerCase(java.util.Locale.ROOT).startsWith("__graft_"))
              .foreach(a => unsupported(
                s"MERGE source column '${a.name}' uses the reserved " +
                  "'__graft_' prefix — rename it"))
            val keys = keysOf(m.mergeCondition, rel, m.sourceTable)
            require(keys.nonEmpty, "GraftDml: MERGE ON yielded no keys")
            val pcols = FactVersioned.logicalPartitionColumns(
              session, table.graftTablePath)
            val program = mergeProgram(m, rel, m.sourceTable, keys, pcols)
            GraftMergeCommand(m.sourceTable, program, keys,
              table.graftTablePath,
              table.resolvedGen, table.retentionForDml)
          case None => m
        }
    }
}

/** `MERGE INTO` through the store committer, evaluating the validated
  * clause program per SOURCE row:
  *
  *  1. the source's keys are probed against the target's (keys, pcols,
  *     referenced-columns) projection — column-pruned, SIZE-ADAPTIVE:
  *     the broadcast hint applies only under a size-estimate cap
  *     ([[GraftDml.maybeBroadcast]], conf
  *     `spark.graft.dml.probeBroadcastThreshold`), so a small batch
  *     takes the fast broadcast path while a production CDC batch of
  *     hundreds of millions of keys joins plain — AQE picks the
  *     runtime strategy — instead of hitting the 8 GB broadcast /
  *     driver-memory wall (Delta's probe is a shuffle join for exactly
  *     this reason; same cost class, paid only on this door);
  *  2. each source row routes to its first true clause — matched rows
  *     walk the WHEN MATCHED clauses (UPDATE projects the row through
  *     that clause's assignments, with unassigned columns keeping the
  *     probe-carried target values; DELETE records the key), unmatched
  *     rows walk the WHEN NOT MATCHED inserts; rows matching no clause
  *     are no-ops (their target rows carry over verbatim);
  *  3. a WHEN NOT MATCHED BY SOURCE clause (partition-scoped on a
  *     partitioned table)
  *     deletes — or, THEN UPDATE, rewrites in place through
  *     target-side assignments — scoped target rows whose key the
  *     source never names; cost ∝ scoped partitions that actually
  *     hold sync rows;
  *  4. one commit rewrites exactly the touched partitions: current
  *     rows minus updated/deleted keys, plus the projected updates and
  *     inserts. Deleted rows' partitions come from the TARGET's
  *     partition value (authoritative — a delete needs no source
  *     pcol); the commit pins the resolution-time basis so foreign
  *     commits conflict instead of silently losing.
  *
  * Two SQL-MERGE invariants are enforced before anything commits:
  *  - cardinality — a source with >1 row per key errors (Postgres /
  *    Delta posture); sequenced changelogs must be newest-wins
  *    deduplicated first ([[graft.operators.Upsert.batchWinners]]);
  *  - partition stability — an UPDATE-routed source row whose key
  *    lives in a different target partition would strand the stale
  *    row there; rejected with delete+insert guidance. */
case class GraftMergeCommand(
    source: LogicalPlan,
    program: MergeProgram,
    keys: Seq[(String, String)], // target key column -> source column
    path: String,
    basisGen: Long, // the resolution-pinned head
    retain: Int) extends LeafRunnableCommand {
  import GraftDml.{MatchFlag, antiNullSafe, carriedName, tpName}

  /** Target-side / source-side key column names. The two sides may be
    * named differently (`ON t.id = s.customer_id`): the probe joins
    * on internal `__graft_k<i>` slots so neither side's name needs to
    * exist — or mean the same thing — on the other. */
  private def tNames: Seq[String] = keys.map(_._1)
  private def sNames: Seq[String] = keys.map(_._2)
  private def kTmp: Seq[String] = keys.indices.map(i => s"__graft_k$i")

  private def condCol(c: Option[Expression]): Column =
    c.map(GraftColumnBridge.column).getOrElse(lit(true))

  private def project(
      df: DataFrame, assigns: Seq[(String, Expression)]): DataFrame =
    df.select(assigns.map { case (n, e) =>
      GraftColumnBridge.column(e).as(n) }: _*)

  /** Route `enriched` (source + match flag/carried target cols)
    * through the program: (update/insert frames, delete rows with
    * their target partition tuple). First-match-wins with SQL 3VL (a
    * NULL condition routes past the clause). `onUpdateHit` sees each
    * UPDATE clause's routed rows BEFORE projection (the
    * partition-stability check). Delete frames carry the keys under
    * their TARGET names (selected from the source-side columns — for
    * a matched row they are equal by the ON condition). */
  private def route(
      enriched: DataFrame,
      tpNames: Seq[String],
      onUpdateHit: (DataFrame, Seq[(String, Expression)]) => Unit =
        (_, _) => ())
      : (Seq[DataFrame], Seq[DataFrame], Option[DataFrame]) = {
    val isMatched = col(MatchFlag) === 1
    var skip: Column = lit(true)
    val updates = Seq.newBuilder[DataFrame]
    var deletes: Option[DataFrame] = None
    program.matched.foreach { case (c, assigns) =>
      val cc = coalesce(condCol(c), lit(false))
      val hit = enriched.where(isMatched && skip && cc)
      assigns match {
        case Some(a) =>
          onUpdateHit(hit, a)
          updates += project(hit, a)
        case None =>
          val d = hit.select(keys.map { case (t, s) =>
            col(s).as(t) } ++ tpNames.map(col): _*)
          deletes = Some(deletes.map(_.unionByName(d)).getOrElse(d))
      }
      skip = skip && !cc
    }
    var skipI: Column = lit(true)
    val inserts = Seq.newBuilder[DataFrame]
    program.notMatched.foreach { case (c, a) =>
      val cc = coalesce(condCol(c), lit(false))
      inserts += project(
        enriched.where(col(MatchFlag).isNull && skipI && cc), a)
      skipI = skipI && !cc
    }
    (updates.result(), inserts.result(), deletes)
  }

  override def run(spark: SparkSession): Seq[Row] = {
    val src = GraftColumnBridge.ofRows(spark, source)
    // distinct: two target keys may map to ONE source column
    // (ON t.a = s.x AND t.b = s.x) — uniqueness over the distinct
    // source columns is the same predicate without the duplicate ref.
    // The probe runs CONCURRENTLY with the routing reads (guide §2.6 —
    // it touches only the source plan, they touch the enriched probe):
    // every exit, including the nothing-routed early return, awaits it
    // before finishing, so a duplicate-keyed source still ALWAYS fails
    // with the cardinality error and never commits (the await sits
    // before the publish call in runRouted).
    // Error-ordering note: with the probe concurrent, a duplicate-keyed
    // source may surface a ROUTING error (computed over dup-inflated
    // rows) before the cardinality error — both are non-retryable
    // statement failures and the retry contract matches neither, so
    // the ordering is not load-bearing; the guarantee kept is that a
    // duplicate-keyed MERGE never commits (awaitUnique precedes every
    // publish) and never exits cleanly (the finally below rethrows).
    import scala.concurrent.Await
    import graft.operators.{CallSites, Overlap}
    val dupF = CallSites.overlapped(spark) {
      FactVersioned.requireKeyUnique(src, sNames.distinct, "GraftDml MERGE")
    }
    def awaitUnique(): Unit = Await.result(dupF, Overlap.AwaitTimeout)
    var bodyFailed = false
    try runProbed(spark, src, awaitUnique)
    catch { case t: Throwable => bodyFailed = true; throw t
    } finally {
      // a routing error must not leak the probe (resolve it before the
      // body's failure propagates); when the body SUCCEEDED, a failed
      // probe must still fail the statement — Await.ready never
      // rethrows, so surface dupF's failure explicitly
      Await.ready(dupF, Overlap.AwaitTimeout)
      if (!bodyFailed) dupF.value.get.get // ready ⇒ Some; .get rethrows
    }
    Seq.empty
  }

  /** The source's distinct key tuples under the TARGET key names —
    * the frame target-side reads anti-join against (BY SOURCE sync). */
  private def srcKeysAsTarget(src: DataFrame): DataFrame =
    src.select(keys.map { case (t, s) => col(s).as(t) }: _*).distinct()

  /** Left-join `src` against the match probe on the key mapping. The
    * probe's key slots ride internal `__graft_k<i>` names (built from
    * the TARGET side's columns, matched against the SOURCE side's) so
    * a source column that happens to share a target key's name can
    * never collide; the slots are dropped after the join. */
  private def enrichedOf(
      spark: SparkSession,
      src: DataFrame,
      matchedKeys: DataFrame): DataFrame = {
    val mk = GraftDml.maybeBroadcast(spark, matchedKeys)
    val cond = keys.zip(kTmp)
      .map { case ((_, s), kn) => src(s) === mk(kn) }
      .reduce(_ && _)
    src.join(mk, cond, "left").drop(kTmp: _*)
  }

  private def runProbed(
      spark: SparkSession, src: DataFrame,
      awaitUnique: () => Unit): Unit = {
    val pcols = FactVersioned.logicalPartitionColumns(spark, path)
    val tpNames = pcols.indices.map(tpName)
    val srcProbe = src.select(keys.zip(kTmp).map { case ((_, s), kn) =>
      col(s).as(kn) }: _*).distinct()
    val probeCols = keys.zip(kTmp).map { case ((t, _), kn) =>
      col(t).as(kn) } ++
      pcols.zip(tpNames).map { case (p, tp) => col(p).as(tp) } ++
      program.carried.map(c => col(c).as(carriedName(c)))
    // size-adaptive probe: the broadcast hint applies ONLY under the
    // size-estimate cap (GraftDml.maybeBroadcast) — a small CDC batch
    // takes the fast broadcast path, a huge one joins plain and AQE
    // picks the strategy at runtime (Delta's probe posture)
    val matchedKeys = FactVersioned.read(spark, path, Some(basisGen))
      .select(probeCols: _*)
      .join(GraftDml.maybeBroadcast(spark, srcProbe), kTmp, "left_semi")
      .withColumn(MatchFlag, lit(1))
    // the enriched source feeds every clause filter, the move check,
    // the touched collect and the final union — materialize it ONCE
    // (spill-safe; bounded by the source) so each consumer doesn't
    // re-run the source plan AND the full-target key probe. EAGER
    // localCheckpoint, not persist: a persist keeps the full logical
    // plan, so EVERY downstream frame (clause routes, moveChecks,
    // touched set, staged content) re-carried the source plan + probe
    // join through analysis/optimization/AQE planning — measured as
    // multi-second zero-job driver gaps on the composed merge gates
    // (guide §7.3 "very large plans: planning time itself becomes the
    // bottleneck; truncate the plan"). The checkpoint turns it into a
    // LogicalRDD leaf. Same materialized rows, same spill posture;
    // on executor loss the statement fails and retries instead of
    // recomputing lineage — the store's existing retry contract.
    val enriched = enrichedOf(spark, src, matchedKeys).localCheckpoint(true)
    try runRouted(spark, enriched, srcKeysAsTarget(src), pcols,
      tpNames, awaitUnique)
    finally GraftDml.releaseCheckpoint(enriched)
  }

  private def runRouted(
      spark: SparkSession,
      enriched: DataFrame,
      srcKeysT: DataFrame,
      pcols: Seq[String],
      tpNames: Seq[String],
      awaitUnique: () => Unit): Unit = {
    // partition stability: only UPDATE-routed rows can strand a stale
    // target row (deletes use the target's own partition; inserts have
    // no target row) — each update clause's hits are checked against
    // the CLAUSE'S OWN assigned partition expressions, pre-projection.
    // The probes (one limit(1) per update clause) run CONCURRENTLY on
    // the Overlap pool and with the touched-set collect below (guide
    // §2.6): each was a full sequential stage-barrier action over the
    // checkpointed source for ~1 surviving row. Violations are checked
    // in clause order before anything can commit, with the exact
    // pre-overlap error text.
    import scala.concurrent.{Await, Future}
    import graft.operators.{CallSites, Overlap}
    val movedProbes = Seq.newBuilder[Future[Array[Row]]]
    val moveCheck = (hit: DataFrame, a: Seq[(String, Expression)]) => {
      val pExprs = pcols.map { p =>
        a.find(_._1.equalsIgnoreCase(p))
          .map(x => GraftColumnBridge.column(x._2))
          .getOrElse(throw new IllegalStateException(
            s"GraftDml: MERGE update clause lacks partition column $p"))
      }
      val movedCond = pExprs.zip(tpNames)
        .map { case (e, tp) => !(e <=> col(tp)) }.reduce(_ || _)
      val m = hit.where(movedCond)
        .select(sNames.map(col) ++ tpNames.map(col) ++
          pExprs.zipWithIndex.map { case (e, i) => e.as(s"__graft_sp$i") }: _*)
        .limit(1)
      movedProbes += CallSites.overlapped(spark)(m.collect())
      ()
    }
    def requireUnmoved(m: Array[Row]): Unit =
      if (m.nonEmpty) {
        val r = m.head
        val ex = tNames.zipWithIndex
          .map { case (k, i) => s"$k=${r.get(i)}" }.mkString(", ")
        val fromP = pcols.zipWithIndex.map { case (p, i) =>
          s"$p=${r.get(keys.length + i)}" }.mkString("/")
        val toP = pcols.zipWithIndex.map { case (p, i) =>
          s"$p=${r.get(keys.length + pcols.length + i)}" }.mkString("/")
        throw new IllegalStateException(
          s"GraftDml: MERGE moves key ($ex) from partition '$fromP' to " +
            s"'$toP' — a partition-moving MERGE would leave the stale " +
            "row in its untouched partition. DELETE the key from its " +
            "current partition first, then MERGE (or rewrite both " +
            "partitions with FactVersioned.replacePartitions).")
      }
    // an unpartitioned table's rows have no partition to move between
    val (updates0, inserts0, deletes) =
      if (pcols.isEmpty) route(enriched, tpNames)
      else route(enriched, tpNames, moveCheck)
    // transform-partitioned target (r17): EVERY new-or-modified row
    // gets the generated partition column RE-DERIVED from the source
    // column (clause values for it are ignored — commit-assigned), so
    // it can never drift from its definition. An update whose
    // re-derivation leaves the target's partition is the
    // partition-moving shape moveCheck rejects for identity tables —
    // same loud error, checked here because the move is only visible
    // AFTER derivation.
    val (updates, inserts) = PartitionTransforms.read(spark, path) match {
      case Some(sp) =>
        val tpOfGen = pcols.zip(tpNames).collectFirst {
          case (p, tp) if p.equalsIgnoreCase(sp.genCol) => tp
        }.getOrElse(throw new IllegalStateException(
          s"GraftDml: transform column ${sp.genCol} is not a partition " +
            s"column of $path"))
        val checkedUpdates = updates0.map { u =>
          val d = sp.derive(u)
          val probe = d.where(!(col(sp.genCol) <=> col(tpOfGen))).limit(1)
          movedProbes += CallSites.overlapped(spark) {
            if (probe.collect().nonEmpty)
              throw new IllegalStateException(
                s"GraftDml: MERGE updates ${sp.source} across " +
                  s"${sp.kind}-partitions (re-derived ${sp.genCol} " +
                  "leaves the row's current partition) — a " +
                  "partition-moving update would leave the stale row " +
                  "behind. DELETE the key and re-INSERT it instead.")
            Array.empty[Row]
          }
          d
        }
        (checkedUpdates, inserts0.map(sp.derive))
      case None => (updates0, inserts0)
    }
    // BY SOURCE sync: scoped target rows whose key the source never
    // names — dropped (DELETE) or rewritten in place through the
    // clause's target-side assignments (UPDATE). Cost ∝ the scoped
    // partitions (partition-pruned read); only leaves actually
    // holding sync rows enter the touched set.
    val bySrcRows: Option[DataFrame] = program.bySource.map { bs =>
      FactVersioned.read(spark, path, Some(basisGen))
        .where(GraftColumnBridge.column(bs.cond))
        .join(srcKeysT, tNames, "left_anti")
        .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    }
    try {
      val newRows = (updates ++ inserts).reduceOption(_ unionByName _)
      val touched = (newRows.map(_.select(pcols.map(col): _*)).toSeq ++
          deletes.map(_.select(tpNames.zip(pcols).map {
            case (tp, p) => col(tp).as(p) }: _*)).toSeq ++
          bySrcRows.map(_.select(pcols.map(col): _*)).toSeq)
        .reduceOption(_ unionByName _)
        .map(GraftDml.touchedRowsOf(_, pcols, "MERGE"))
        .getOrElse(IndexedSeq.empty)
      // surface the overlapped partition-stability probes in CLAUSE
      // order — the same error precedence as the sequential checks
      // they replace, and always before anything can commit
      movedProbes.result().foreach(f =>
        requireUnmoved(Await.result(f, Overlap.AwaitTimeout)))
      // the cardinality contract holds on EVERY path out of the MERGE:
      // surface a duplicate-keyed source here whether or not anything
      // was routed, and always before the commit below can land
      awaitUnique()
      if (touched.isEmpty) return // nothing routed: no commit
      // one metadata read, hoisted out of the per-partition loop
      val physPcols =
        FactVersioned.physicalPartitionColumns(spark, path, pcols)
      val touchedDirs =
        touched.map(v => FactVersioned.partitionDirPath(physPcols, v))
      val current =
        FactVersioned.readDirs(spark, path, Some(basisGen), touchedDirs)
      // reduceOption: an insert-only MERGE (the insert-if-absent idiom)
      // has no UPDATE and no DELETE clause — nothing to anti-join away
      val changedKeys = (updates.map(_.select(tNames.map(col): _*)) ++
          deletes.map(_.select(tNames.map(col): _*)).toSeq)
        .reduceOption(_ unionByName _).map(_.distinct())
      var result = changedKeys
        .fold(current)(ck => current.join(ck, tNames, "left_anti"))
      bySrcRows.foreach { d =>
        // distinct: a partition column can ALSO be an ON key (the
        // pruning idiom `ON t.k = s.k AND t.p = s.p`) — a duplicated
        // name in the select would make the anti-join's by-name
        // lookups ambiguous at run time
        val removalCols = (tNames ++ pcols).distinct
        result = antiNullSafe(result,
          d.select(removalCols.map(col): _*), removalCols)
      }
      // BY SOURCE UPDATE re-adds the sync rows projected through the
      // clause's assignments (unassigned columns carry verbatim)
      val bySrcNew = program.bySource.flatMap(bs =>
        bs.assigns.map(a => project(bySrcRows.get, a)))
      val content = (Seq(result) ++ newRows.toSeq ++ bySrcNew.toSeq)
        .reduce(_ unionByName _)
      // enforced CHECKs validate the new-or-modified rows only —
      // carried rows (`result`) were valid when their commit landed
      GraftDml.enforceChecks(spark, path, basisGen,
        (newRows.toSeq ++ bySrcNew.toSeq).reduceOption(_ unionByName _),
        "MERGE")
      FactVersioned.replacePartitionsBy(spark, path, content, pcols, touched,
        retain = retain, basisGen = Some(basisGen),
        properties = Map("operation" -> "MERGE"))
      // a CTAS'd table whose first keyed write is a MERGE records its
      // default keys here (upsert-door tables record at first upsert)
      FactVersioned.recordMergeKeys(spark, path, tNames)
      ()
    } finally {
      // no probe may outlive this call: the caller's finally releases
      // the enriched checkpoint, and a straggler probe job would race
      // the block removal (failures here surfaced at the ordered await
      // above when they mattered; on an earlier error they are moot)
      movedProbes.result().foreach(f =>
        try Await.ready(f, Overlap.AwaitTimeout)
        catch { case _: Throwable => () })
      bySrcRows.foreach(_.unpersist(blocking = false))
    }
  }
}

/** `INSERT OVERWRITE` under `partitionOverwriteMode=dynamic`, routed
  * at analysis (see [[GraftDmlRule]]): one whole-frame call into the
  * table's dynamic-overwrite committer — the data-derived touched set,
  * 10k cap, pinned-basis conflict detection and byte-identical carry
  * all live in [[GraftWritableTable.overwriteDynamic]]. */
case class GraftDynamicOverwriteCommand(
    query: LogicalPlan,
    table: GraftWritableTable) extends LeafRunnableCommand {
  override def run(spark: SparkSession): Seq[Row] = {
    table.overwriteDynamic(GraftColumnBridge.ofRows(spark, query))
    Seq.empty
  }
}

/** `UPDATE ... SET ... WHERE cond` as a partition rewrite: only
  * partitions holding matching rows are read and rewritten, with the
  * assignments applied to matching rows and every other row carried
  * verbatim (`CASE WHEN cond THEN expr ELSE col END` per assigned
  * column — rows where `cond` is NULL are NOT updated, SQL
  * three-valued logic). Partition-column and `vgen` assignments were
  * rejected at resolution (a partition-moving update has no
  * single-partition rewrite shape). An unpartitioned table rewrites
  * its one root partition. */
case class GraftUpdateCommand(
    relation: LogicalPlan,
    assignments: AnalyzedColumns,
    cond: AnalyzedCondition,
    path: String,
    basisGen: Long, // the resolution-pinned head
    retain: Int) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftColumnBridge.ofRows(spark, relation)
    val c: Column = GraftColumnBridge.column(cond.expr)
    val assigned: Map[String, Column] = assignments.cols.map {
      case (n, e) => n.toLowerCase -> GraftColumnBridge.column(e)
    }.toMap
    def updatedCols(df: DataFrame): Seq[Column] = df.columns.toSeq.map { n =>
      assigned.get(n.toLowerCase) match {
        case Some(expr) => when(c, expr).otherwise(col(n)).as(n)
        case None => col(n)
      }
    }
    val pcols = FactVersioned.logicalPartitionColumns(spark, path)
    val sel = t.where(c).select(pcols.map(col): _*)
    val touched = GraftDml.touchedRowsOf(sel, pcols, "UPDATE")
    if (touched.isEmpty) return Seq.empty // no matches: no commit
    val scoped = GraftDml.scopedTo(spark, t, pcols, touched,
      sel.schema)
    val content = scoped.select(updatedCols(scoped): _*)
      .drop(FactVersioned.VGenCol)
    // enforced CHECKs validate the MODIFIED rows — filter on the
    // PRE-assignment cond, then project through the assignments
    // (filtering post-assignment would miss rows whose update
    // falsifies the cond); carried rows were valid when written
    GraftDml.enforceChecks(spark, path, basisGen,
      Some(scoped.where(c).select(updatedCols(scoped): _*)), "UPDATE")
    // basis = the resolution-time head (see GraftDeleteCommand)
    FactVersioned.replacePartitionsBy(spark, path, content, pcols,
      touched, retain = retain, basisGen = Some(basisGen),
      properties = Map("operation" -> "UPDATE"))
    Seq.empty
  }
}

/** `DELETE FROM ... WHERE cond` as a partition rewrite: only
  * partitions holding matching rows are read and rewritten (without
  * the matches); a partition deleted empty is dropped from the new
  * generation (partition-delete semantics, conflict-detected like any
  * touched dir). SQL three-valued logic: rows where `cond` is NULL are
  * KEPT (only true deletes). An unpartitioned table rewrites its one
  * root partition. */
case class GraftDeleteCommand(
    relation: LogicalPlan,
    cond: AnalyzedCondition,
    path: String,
    basisGen: Long, // the resolution-pinned head
    retain: Int) extends LeafRunnableCommand {

  override def run(spark: SparkSession): Seq[Row] = {
    val t = GraftColumnBridge.ofRows(spark, relation)
    val c: Column = GraftColumnBridge.column(cond.expr)
    val keepCond = coalesce(c, lit(false)) === lit(false)
    val pcols = FactVersioned.logicalPartitionColumns(spark, path)
    val sel = t.where(c).select(pcols.map(col): _*)
    val touched = GraftDml.touchedRowsOf(sel, pcols, "DELETE")
    if (touched.isEmpty) return Seq.empty // no matches: no commit
    val keep = GraftDml.scopedTo(spark, t.where(keepCond), pcols,
        touched, sel.schema)
      .drop(FactVersioned.VGenCol)
    // basis = the RESOLUTION-time head whose files this command read:
    // an intervening foreign commit is then a detected conflict, not
    // a silent overwrite from a stale read
    FactVersioned.replacePartitionsBy(spark, path, keep, pcols, touched,
      retain = retain, basisGen = Some(basisGen),
      properties = Map("operation" -> "DELETE"))
    Seq.empty
  }
}
