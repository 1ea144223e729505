package graft.queries

import java.nio.file.Files

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.operators.{BloomPrune, Bucketing, CallSites, Changelog, DataSkipping, FactChangeFeed, FactVersioned, Merge, Skew, Upsert, ZOrder}

/** Driver gates for the SCALE-POSTURE operators (SURVEY §4) that were
  * previously covered only by unit tests (VERDICT r6 "What's missing" #3
  * and "Next" #1/#2): the correctness of each now flows through the
  * DuckDB hash gate, and the scale property each exists for is asserted
  * INSIDE the gated query — a plan regression fails the gate loudly
  * rather than silently shipping a shuffle.
  *
  *  - q83: star-join aggregate over bucketed tables — the whole plan
  *    (scan → join → agg on the bucket key) must contain ZERO shuffle
  *    exchanges, enforced via [[Bucketing.isShuffleFree]].
  *  - q84: [[Skew.saltedJoin]] ≡ plain equi-join — the salt scatter /
  *    replicate / join pipeline must be value-transparent.
  *  - q85: partition-scoped upsert ([[FactVersioned.upsert]]) — MERGE
  *    semantics through the versioned store, with the commit report
  *    asserting only the touched year was rewritten.
  *  - q86: partition-scoped promote ([[Merge.promotePartitioned]]) —
  *    both sides of the staging→main promote read back from DISK
  *    after their commits.
  *  - q91: [[DataSkipping]] file-stats pruning — a range scan over a
  *    sorted layout must SKIP files (asserted in-gate) and still return
  *    exactly the DuckDB filter result via the residual predicate.
  *  - q92: [[ZOrder]] Morton layout — a 2-D box scan over the z-ordered
  *    table must skip files while returning exactly the box contents.
  *  - q93: [[BloomPrune]] — the fact side must shrink at the bloom
  *    probe (asserted in-gate) and the pruned join must still equal the
  *    plain join under the oracle (no false negatives).
  *  - q97: [[DataSkipping.pointLookupScan]] — per-file bloom sidecars
  *    must skip files for point lookups on a column the layout is NOT
  *    sorted by (where min/max stats are useless), returning exactly
  *    the IN-list rows.
  *  - q98: [[Changelog.changeSet]] — the CDC delta of an upsert batch
  *    (insert / update_pre / update_post), value-mirrored in DuckDB;
  *    the idempotent-redelivery half of the batch must produce NO
  *    change rows (asserted by the mirror's row count).
  */
object ScaleQueries extends QueryPack {

  /** Every message down a throwable's cause chain — gates asserting on
    * nested analysis/commit failures share this one walker. */
  private def causeMessages(t: Throwable): Seq[String] =
    Option(t).toSeq.flatMap(x =>
      Option(x.getMessage).toSeq ++
        Option(x.getCause).toSeq.flatMap(causeMessages))

  /** Column names physically present in a generation's staged files
    * (q160: the post-rename staging contract). */
  private def stagedFileColumns(
      s: SparkSession, path: String, gen: Long): Set[String] =
    s.read.parquet(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=$gen")
      .columns.toSet

  /** Commit `df` as the whole content of the UNPARTITIONED table at
    * `path` (its one partition, the root, declared touched) — q104 /
    * q109's version-per-commit tables. */
  private def commitWhole(
      s: SparkSession, df: DataFrame, path: String): FactVersioned.Commit =
    FactVersioned.replacePartitionsBy(s, path, df, Nil, Seq(Nil))

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // Bucketed fact-fact join + aggregation on the bucket key: bucketed
    // writes pre-shuffle both sides, so join AND agg need no exchange.
    "q83_bucketed_join" -> ((s, dir) => {
      val l = t(s, dir, "lineitem").select("l_orderkey", "l_quantity",
        "l_extendedprice")
      val o = t(s, dir, "orders").select("o_orderkey", "o_orderstatus",
        "o_totalprice")
      Bucketing.writeBucketed(l, "graft_q83_lineitem", Seq("l_orderkey"), 8)
      Bucketing.writeBucketed(o, "graft_q83_orders", Seq("o_orderkey"), 8)
      val res = s.table("graft_q83_lineitem")
        .join(s.table("graft_q83_orders"),
          col("l_orderkey") === col("o_orderkey"))
        .where(col("o_orderstatus") === "F")
        .groupBy(col("l_orderkey"))
        .agg(count(lit(1)).as("n_items"),
          sum(dec(col("l_quantity"))).cast("double").as("sum_qty"),
          max(dec(col("o_totalprice"))).cast("double").as("o_total"))
      // the scale property IS the gate: bucketed join + bucket-key agg
      // must be exchange-free end to end
      require(Bucketing.isShuffleFree(res),
        "q83: bucketed star join plan contains a shuffle exchange")
      res
    }),

    // Salted skew join must be value-transparent vs the plain join.
    "q84_salted_join" -> ((s, dir) => {
      val ev = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100, 0).as("cents"))
      val cust = t(s, dir, "customer")
        .select(col("c_custkey").as("user_id"), col("c_mktsegment"))
      Skew.saltedJoin(ev, cust, "user_id", salt = 8)
        .groupBy(col("c_mktsegment"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).cast("long").as("total_cents"))
    }),

    // Partition-scoped upsert: orders committed by order year; the
    // update batch touches ONE of the seven year partitions; the other
    // six keep their files (PartitionedUpsertSpec proves the manifest
    // carries them verbatim; here the commit report is asserted and the
    // merged VALUES are hash-gated).
    "q85_upsert_partitioned" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q85_").toString
      val path = s"$wh/orders_by_year"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s, path, o, Seq("o_orderkey"), "p_year")
      val updates = o.where(col("p_year") === 1995 &&
          col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val commit =
        FactVersioned.upsert(s, path, updates, Seq("o_orderkey"), "p_year")
      require(commit.rewrittenDirs == Seq("p_year=1995"),
        s"q85: expected exactly p_year=1995 rewritten, got $commit")
      val out = FactVersioned.read(s, path)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Partition-scoped promote: the J1+K5+J2 promote over
    // year-partitioned staging/main tables, read back from disk.
    "q86_promote_partitioned" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q86_").toString
      val stagingPath = s"$wh/staging"
      val mainPath = s"$wh/main"
      val staged = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s, stagingPath, staged, Seq("o_orderkey"), "p_year")
      val parent = t(s, dir, "customer")
        .where(col("c_mktsegment") === "BUILDING")
      val res = Merge.promotePartitioned(s, stagingPath, parent,
        "o_custkey", "c_custkey", mainPath, Seq("o_orderkey"), "p_year")
      require(res.exists(_.main.rewrittenDirs.nonEmpty),
        "q86: promote wrote nothing to main")
      val main = FactVersioned.read(s, mainPath)
      val parked = FactVersioned.read(s, stagingPath)
      val out = main.withColumn("side", lit("main"))
        .unionByName(parked.withColumn("side", lit("staging")))
        .select("side", "o_orderkey", "o_custkey", "o_totalprice")
        .localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // File-stats data skipping: lineitem laid out sorted by ship date,
    // per-file min/max manifest built, then a one-year range scan must
    // OPEN fewer files than the table holds (the skip is the gate) and
    // still aggregate to exactly the DuckDB full-filter result — the
    // residual predicate guarantees value equality no matter how the
    // range partitioner cut the files.
    "q91_filestats_pruning" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q91_").toString
      val path = s"$wh/lineitem_by_shipdate"
      t(s, dir, "lineitem")
        .select("l_returnflag", "l_shipdate", "l_quantity", "l_extendedprice")
        .repartitionByRange(8, col("l_shipdate"))
        .sortWithinPartitions("l_shipdate")
        .write.mode("overwrite").parquet(path)
      DataSkipping.writeManifest(s, path, Seq("l_shipdate"))
      val scan = DataSkipping.prunedScan(s, path, Seq(DataSkipping.ColRange(
        "l_shipdate",
        ts("1997-01-01"), ts("1997-12-31"))))
      require(scan.report.filesSkipped > 0,
        s"q91: manifest pruning opened every file (${scan.report})")
      val out = scan.df.groupBy("l_returnflag")
        .agg(count(lit(1)).as("n_rows"),
          dsum(col("l_quantity")).as("sum_qty"),
          dsum(col("l_extendedprice")).as("sum_price"))
        .localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Z-order layout: orders clustered along the Morton curve of
    // (o_custkey, o_orderdate); a box selective in BOTH dimensions must
    // skip files (asserted) and return exactly the box rows. The
    // custkey bound derives from the data with integer-only arithmetic
    // (max*2 div 5) so Spark and DuckDB compute the identical cutoff.
    "q92_zorder_scan" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q92_").toString
      val path = s"$wh/orders_zorder"
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_totalprice")
      ZOrder.writeZOrdered(o, path, Seq("o_custkey", "o_orderdate"),
        targetFiles = 16)
      DataSkipping.writeManifest(s, path, Seq("o_custkey", "o_orderdate"))
      val maxCust = o.agg(max(col("o_custkey"))).head().getLong(0)
      val custHi = maxCust * 2 / 5
      val scan = DataSkipping.prunedScan(s, path, Seq(
        DataSkipping.ColRange("o_custkey", lit(1L), lit(custHi)),
        DataSkipping.ColRange("o_orderdate",
          ts("1995-01-01"), ts("1995-12-31"))))
      require(scan.report.filesSkipped > 0,
        s"q92: z-order box scan opened every file (${scan.report})")
      val out = scan.df
        .select(col("o_orderkey"), col("o_custkey"),
          date_format(col("o_orderdate"), "yyyy-MM-dd").as("o_date"),
          col("o_totalprice"))
        .localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Bloom-pruned join: the MACHINERY customer segment's key sketch
    // must reject most event rows BEFORE the join shuffle (asserted
    // in-gate), and the pruned join must aggregate to exactly the plain
    // join's result — bloom filters have no false negatives, so pruning
    // is value-transparent for inner joins at any fpp.
    "q93_bloom_pruned_join" -> ((s, dir) => {
      val dim = t(s, dir, "customer")
        .where(col("c_mktsegment") === "MACHINERY")
        .select(col("c_custkey"), col("c_mktsegment"))
      val fact = t(s, dir, "events")
        .select(col("event_id"), col("user_id"),
          round(col("value") * 100, 0).as("cents"))
      val bf = BloomPrune.keyFilter(dim, "c_custkey")
      val kept = fact
        .where(BloomPrune.mightContain(col("user_id"), bf)).count()
      val total = fact.count()
      require(kept < total,
        s"q93: bloom probe pruned nothing ($kept of $total fact rows kept)")
      BloomPrune.bloomPrunedJoin(fact, dim, "user_id", "c_custkey")
        .groupBy((col("user_id") % 10).as("user_bucket"))
        .agg(count(lit(1)).as("n_events"),
          sum(col("cents")).cast("long").as("total_cents"),
          countDistinct(col("user_id")).as("n_users"))
    }),

    // Point-lookup file skipping: orders laid out by DATE, so orderkey
    // is scattered and every file's [min,max] spans the whole key
    // space — min/max stats cannot prune these lookups, the per-file
    // bloom sidecar can (the engine's point-lookup B-tree analog). The
    // 5 probed keys are chosen by md5 hash order, which DuckDB mirrors
    // exactly; the gate asserts files were skipped AND all keys found.
    "q97_bloom_point_lookup" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q97_").toString
      val path = s"$wh/orders_by_date"
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice", "o_orderdate")
      o.repartitionByRange(8, col("o_orderdate"))
        .sortWithinPartitions("o_orderdate")
        .write.mode("overwrite").parquet(path)
      DataSkipping.writeBloomIndex(s, path, "o_orderkey")
      val keys = o.select(col("o_orderkey"))
        .orderBy(md5(col("o_orderkey").cast("string")), col("o_orderkey"))
        .limit(5).collect().map(_.getLong(0)).toSeq
      val scan = DataSkipping.pointLookupScan(s, path, "o_orderkey", keys)
      require(scan.report.filesSkipped > 0,
        s"q97: bloom sidecar pruned nothing (${scan.report})")
      val out = scan.df
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .localCheckpoint()
      require(out.count() == 5, s"q97: expected 5 lookup rows")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // CDC change set of an upsert batch. The batch mixes three cases:
    // genuinely modified 1995 rows (→ update_pre + update_post), brand
    // new keys shifted past max (→ insert), and UNCHANGED 1996 rows
    // redelivered verbatim — which must contribute ZERO change rows
    // (the idempotent-redelivery property; the DuckDB mirror simply
    // doesn't include them, so extra rows would hash-mismatch).
    "q98_upsert_changelog" -> ((s, dir) => {
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"))
      val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
      val modified = o.where(col("o_year") === 1995 &&
          col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val fresh = o.where(col("o_year") === 1996 &&
          col("o_orderkey") % 3 === 0)
        .withColumn("o_orderkey", col("o_orderkey") + maxKey)
      val redelivered = o.where(col("o_year") === 1996 &&
        col("o_orderkey") % 3 === 1)
      val updates = modified.unionByName(fresh).unionByName(redelivered)
      Changelog.changeSet(o, updates, Seq("o_orderkey"))
        .select("op", "o_orderkey", "o_orderstatus", "o_totalprice", "o_year")
    }),

    // Retraction-aware incremental view maintenance: a grouped
    // count/sum view is maintained through an UPDATE-carrying
    // changelog — update_pre rows RETRACT (rows migrate between
    // status groups, including into a group that did not exist), and
    // the maintained view must equal a from-scratch recompute over
    // the upserted table (the DuckDB mirror). Exact decimal sums keep
    // the comparison deterministic.
    "q108_incremental_view" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"))
      def withDec(df: DataFrame) = df.withColumn("price_dec",
        col("o_totalprice").cast(DecimalType(18, 2)))
      val cur = withDec(base)
      val updates = withDec(base
        .where(col("o_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2))
      val stats = Seq(graft.operators.IncrementalAgg.Stat(
        "price_dec", min = false, max = false))
      val state0 = graft.operators.IncrementalAgg.aggregateBatch(
        cur, Seq("o_orderstatus"), stats, trackRows = true)
      val changes = Changelog.changeSet(cur, updates, Seq("o_orderkey"))
      graft.operators.IncrementalAgg.applyChangeSet(
        state0, changes, Seq("o_orderstatus"), stats)
        .select(col("o_orderstatus"),
          col("price_dec__count").as("n_orders"),
          col("price_dec__sum").cast("double").as("total_price"))
    }),

    // CDC subscription COMPOSED, through the REUSABLE primitive: the
    // downstream aggregate view is built ENTIRELY from
    // FactChangeFeed.poll windows — the initial snapshot arrives as
    // the first window's inserts, the published batch as the second
    // window's change rows (diff restricted to the touched
    // partitions), and a REDELIVERED batch's commit as a third window
    // that must be EMPTY (in-gate require: same values rewrite to a
    // new generation, value-diff sees nothing). History is never
    // re-read; the crash-safe bookmark advances only after each apply.
    // Both phases are emitted, so the zero-delta property is also
    // value-gated (a redelivery leak would diverge phase 1 from phase
    // 0 and hash-mismatch the DuckDB mirror).
    "q114_cdc_subscription" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      import graft.operators.IncrementalAgg
      val wh = Files.createTempDirectory("graft_q114_").toString
      val path = s"$wh/orders_fact"
      val bm = s"$wh/feed.bookmark"
      // the cycle only ever touches 1995/1996 — keep the table to those
      // partitions so the gate times the CYCLE, not an initial bulk
      // load of five bystander years (semantics unchanged; the oracle
      // mirrors the same restriction)
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      def withDec(df: DataFrame) = df.withColumn("price_dec",
        col("o_totalprice").cast(DecimalType(18, 2)))
      val stats = Seq(IncrementalAgg.Stat(
        "price_dec", min = false, max = false))
      // per-window applies stay LAZY: every window's change set reads
      // immutable committed generations, so the 3-window chain can
      // materialize ONCE at the final localCheckpoint (before the
      // temp-warehouse delete) instead of paying one eager checkpoint
      // job per window — 2 fewer full stage-barrier chains, identical
      // values (guide §1.2: remove passes/actions before tuning them)
      def applyWindow(state: DataFrame, w: FactChangeFeed.Polled) =
        IncrementalAgg.applyChangeSet(state, withDec(w.changes),
          Seq("o_orderstatus"), stats)
      // the batch's key shift is independent of window 1's consumption
      // — overlap the max-key aggregation with the first poll (§2.6)
      val maxKeyF = CallSites.overlapped(s)(
        o.agg(max(col("o_orderkey"))).head().getLong(0))
      FactVersioned.upsert(s, path, o, Seq("o_orderkey"), "p_year")
      // window 1: the initial snapshot as inserts, applied to an
      // empty-but-shaped state
      var view = IncrementalAgg.aggregateBatch(withDec(o.limit(0)),
        Seq("o_orderstatus"), stats, trackRows = true)
      FactChangeFeed.poll(s, path, Seq("o_orderkey"), bm) { w =>
        view = applyWindow(view, w)
      }
      // q98's batch: modified 1995 rows, fresh shifted keys, and 1996
      // rows redelivered verbatim (zero change rows from the start)
      val maxKey = scala.concurrent.Await.result(maxKeyF,
        graft.operators.Overlap.AwaitTimeout)
      val batch = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(o.where(col("p_year") === 1996 && col("o_orderkey") % 3 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey))
        .unionByName(o.where(col("p_year") === 1996 && col("o_orderkey") % 3 === 1))
      // window 2: publish the batch, then consume its change rows
      FactVersioned.upsert(s, path, batch, Seq("o_orderkey"), "p_year")
      FactChangeFeed.poll(s, path, Seq("o_orderkey"), bm) { w =>
        view = applyWindow(view, w)
      }
      val view1 = view
      // window 3: REDELIVER the same batch — a new generation lands
      // (same values, fresh files), and its feed window must be empty
      FactVersioned.upsert(s, path, batch, Seq("o_orderkey"), "p_year")
      val w3 = FactChangeFeed.poll(s, path, Seq("o_orderkey"), bm) { w =>
        require(w.changes.isEmpty,
          "q114: a redelivered batch must contribute ZERO change rows")
        view = applyWindow(view, w)
      }
      require(w3.nonEmpty, "q114: the redelivery commit must produce a window")
      val view2 = view
      def shape(df: DataFrame, phase: Int) = df.select(
        lit(phase).as("phase"), col("o_orderstatus"),
        col("price_dec__count").as("n_orders"),
        col("price_dec__sum").cast("double").as("total_price"))
      val out = shape(view1, 0).unionByName(shape(view2, 1))
        .localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Named-table SQL surface: the q115 aggregation re-run as PLAIN SQL
    // against the graft catalog — `graft.<table>` resolves the latest
    // committed generation, `VERSION AS OF 0` the first — and the
    // result must be hash-equal to the path-based twin (required
    // in-gate against FactVersioned.read, then value-verified by the
    // same DuckDB mirror as q115). The catalog hands Spark its native
    // parquet table over the manifest's file list, so the SQL path
    // keeps pushdown/pruning/codegen — resolution is the only thing
    // the catalog adds.
    "q113_sql_catalog" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q113_").toString
      val path = s"$wh/orders_versioned"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s, path, o, Seq("o_orderkey"), "p_year")
      val updates = o
        .where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      FactVersioned.upsert(s, path, updates, Seq("o_orderkey"), "p_year")
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      def sqlAgg(g: Long, src: String) = s.sql(
        s"""SELECT CAST($g AS INT) AS gen, p_year,
           |  COUNT(*) AS n_orders,
           |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE)
           |    AS total_price
           |FROM $src GROUP BY p_year""".stripMargin)
      val out = sqlAgg(0L, "graft.orders_versioned VERSION AS OF 0")
        .unionByName(sqlAgg(1L, "graft.orders_versioned"))
        .localCheckpoint()
      // hash-equal to the path-based twin, in-gate
      def pathAgg(g: Long) = FactVersioned.read(s, path, Some(g))
        .groupBy(col("p_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_price"))
        .withColumn("gen", lit(g).cast("int"))
        .select("gen", "p_year", "n_orders", "total_price")
      val twin = pathAgg(0L).unionByName(pathAgg(1L))
      require(out.collect().toSet == twin.collect().toSet,
        "q113: named-catalog SQL must be hash-equal to the path-based twin")
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // SQL WRITE surface: `INSERT INTO graft.<t>` lands through
    // FactVersioned.append via the catalog's DSv2→V1 bridge — the
    // reference's warehouse-load shape (etl_process.py INSERTs into
    // RDS) as native Spark SQL over the versioned store. The gate
    // inserts derived rows (1995 even keys re-keyed +10M, status 'I',
    // doubled price) BY NAME through plain SQL, then requires in-gate:
    // exactly one new generation, whose vgen dir holds ONLY the 1995
    // partition (append cost ∝ touched partitions — the same
    // write-amplification assert as q115), and VERSION AS OF 0 still
    // reads the pre-insert content. Output: the head read back THROUGH
    // SQL, value-gated against the union mirror.
    "q125_sql_insert" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q125_").toString
      val path = s"$wh/orders_ins"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s, path, o, Seq("o_orderkey"), "p_year")
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      val before = s.sql("SELECT COUNT(*) FROM graft.orders_ins")
        .collect().head.getLong(0)
      s.sql(
        """INSERT INTO graft.orders_ins BY NAME
          |SELECT o_orderkey + 10000000 AS o_orderkey,
          |  'I' AS o_orderstatus,
          |  o_totalprice * 2 AS o_totalprice,
          |  p_year
          |FROM graft.orders_ins
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q125: the INSERT must commit exactly one new generation")
      // write amplification ∝ touched partitions: commit 1 staged only
      // the 1995 partition's files
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val vdir = new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")
      val staged = fs.listStatus(vdir).filter(_.isDirectory)
        .map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q125: INSERT must stage only the touched partition, got $staged")
      require(s.sql(
          "SELECT COUNT(*) FROM graft.orders_ins VERSION AS OF 0")
        .collect().head.getLong(0) == before,
        "q125: generation 0 must still read the pre-insert content")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_ins""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL MERGE surface: `MERGE INTO graft.<t>` routes through
    // FactVersioned.upsert via the GraftDml post-hoc rule — the
    // reference's K1-K5 load semantics (src/db/load.py upserts) as
    // native Spark SQL. The source updates existing 1995 even keys
    // (status 'M', doubled price) AND inserts re-keyed new rows into
    // the same partition; in-gate: exactly one new generation, whose
    // vgen dir holds ONLY the 1995 partition (commit ∝ touched — the
    // q125 write-amp assert, now for MERGE), VERSION AS OF 0 reads the
    // pre-merge content, and the head is hash-equal to the API twin
    // (FactVersioned.upsert of the same source). Output value-gated
    // against the DuckDB merge mirror.
    "q132_sql_merge" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q132_").toString
      val path = s"$wh/orders_m"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      // API twin (its own table; the same source through
      // FactVersioned.upsert): fully independent of the SQL path until
      // the hash-equality compare — build it CONCURRENTLY so its two
      // commits back-fill the merge's stage tails (guide §2.6)
      val twin = s"$wh/orders_twin"
      val twinF = CallSites.overlapped(s0) {
        FactVersioned.upsert(s0, twin, o, Seq("o_orderkey"), "p_year")
        val src = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("M"))
          .withColumn("o_totalprice", col("o_totalprice") * 2)
          .unionByName(
            o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 1)
              .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
              .withColumn("o_orderstatus", lit("N")))
        FactVersioned.upsert(s0, twin, src, Seq("o_orderkey"), "p_year")
      }
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW m_src AS
          |SELECT o_orderkey, 'M' AS o_orderstatus,
          |  o_totalprice * 2 AS o_totalprice, p_year
          |FROM graft.orders_m WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |UNION ALL
          |SELECT o_orderkey + 10000000, 'N', o_totalprice, p_year
          |FROM graft.orders_m WHERE p_year = 1995 AND o_orderkey % 2 = 1
          |""".stripMargin)
      s.sql(
        """MERGE INTO graft.orders_m AS t USING m_src AS src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q132: the MERGE must commit exactly one new generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q132: MERGE must stage only the touched partition, got $staged")
      scala.concurrent.Await.result(twinF, graft.operators.Overlap.AwaitTimeout)
      def content(p: String, sess: SparkSession) =
        FactVersioned.read(sess, p)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      require(content(path, s).collect().toSet ==
        content(twin, s0).collect().toSet,
        "q132: SQL MERGE must be hash-equal to the API twin")
      require(s.sql(
          "SELECT COUNT(*) FROM graft.orders_m VERSION AS OF 0")
        .collect().head.getLong(0) == o.count(),
        "q132: generation 0 must still read the pre-merge content")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_m""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL DELETE surface: `DELETE FROM graft.<t> WHERE k IN (subquery)`
    // — the reference's J2 semi-join delete (load.py's staging cleanup)
    // as native SQL, routed to a partition rewrite: only partitions
    // holding matches are read or written, rows whose predicate is
    // true are dropped. In-gate: one new generation staging ONLY the
    // matched partition, VERSION AS OF 0 intact, and a no-match DELETE
    // commits nothing. Output: the remaining table, value-gated
    // against the DuckDB anti-join mirror.
    "q133_sql_delete" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q133_").toString
      val path = s"$wh/orders_d"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val before = o.count()
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """DELETE FROM graft.orders_d
          |WHERE o_orderkey IN (
          |  SELECT o_orderkey FROM graft.orders_d
          |  WHERE p_year = 1995 AND o_orderkey % 2 = 0)""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q133: the DELETE must commit exactly one new generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q133: DELETE must stage only the matched partition, got $staged")
      require(s.sql(
          "SELECT COUNT(*) FROM graft.orders_d VERSION AS OF 0")
        .collect().head.getLong(0) == before,
        "q133: generation 0 must still read the pre-delete content")
      s.sql("DELETE FROM graft.orders_d WHERE o_orderkey < 0")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q133: a no-match DELETE must not commit a generation")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_d""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL UPDATE surface: matched rows' partitions rewritten with the
    // assignments applied (CASE WHEN cond per assigned column — rows
    // where the predicate is NULL stay untouched), completing the DML
    // triad (q132 MERGE, q133 DELETE). In-gate: one new generation
    // staging ONLY the matched partition, VERSION AS OF 0 intact, a
    // no-match UPDATE commits nothing. Output value-gated against the
    // DuckDB CASE mirror.
    "q136_sql_update" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q136_").toString
      val path = s"$wh/orders_u"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val before = o.count()
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """UPDATE graft.orders_u
          |SET o_orderstatus = 'U', o_totalprice = o_totalprice * 2
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q136: the UPDATE must commit exactly one new generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q136: UPDATE must stage only the matched partition, got $staged")
      require(s.sql(
          "SELECT COUNT(*) FROM graft.orders_u VERSION AS OF 0")
        .collect().head.getLong(0) == before,
        "q136: generation 0 must still read the pre-update content")
      s.sql("UPDATE graft.orders_u SET o_totalprice = 0 WHERE o_orderkey < 0")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q136: a no-match UPDATE must not commit a generation")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_u""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL CTAS surface: CREATE TABLE ... PARTITIONED BY ... AS SELECT
    // creates a FactVersioned table whose generation 0 IS the query
    // result, committed through replacePartitions (partition layout on
    // disk, time travel and INSERT live from birth) — the
    // warehouse-bootstrap shape (the reference creates its tables with
    // DDL + loads, sql/create.sql). In-gate: generation 0 exists, the
    // store recovered the declared partition column, the data landed
    // Hive-partitioned, and a follow-up INSERT commits generation 1.
    // Output: the head read back through SQL, value-gated against the
    // SELECT's mirror.
    "q137_sql_ctas" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q137_").toString
      val s = s0
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      t(s, dir, "orders").createOrReplaceTempView("q137_orders")
      s.sql(
        """CREATE TABLE graft.orders_c PARTITIONED BY (p_year)
          |AS SELECT o_orderkey, o_orderstatus, o_totalprice,
          |  year(o_orderdate) AS p_year
          |FROM q137_orders WHERE o_orderkey % 3 = 0""".stripMargin)
      val path = s"$wh/orders_c"
      require(FactVersioned.generations(s, path) == Seq(0L),
        "q137: CTAS must commit exactly generation 0")
      require(FactVersioned.partitionColumn(s, path) == "p_year",
        "q137: the declared partition column must drive the store")
      s.sql(
        """INSERT INTO graft.orders_c BY NAME
          |SELECT o_orderkey, o_orderstatus, o_totalprice,
          |  year(o_orderdate) AS p_year
          |FROM q137_orders WHERE o_orderkey % 3 = 1""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q137: INSERT into the CTAS table must commit generation 1")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_c""".stripMargin)
        .localCheckpoint()
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL MERGE invariants (VERDICT r10 "What's wrong" #1 + ADVICE
    // #1/#2): the two doors through which a keyed table could reach
    // duplicate keys are both closed LOUDLY, before anything commits —
    //  (a) a dup-keyed source (Postgres "cannot affect row a second
    //      time" / Delta multiple-source-matches posture) errors with
    //      a MERGE-cardinality message;
    //  (b) a source row that moves an existing key to a different
    //      partition (which would leave the stale row in its untouched
    //      partition — two rows, one key) errors with delete+insert
    //      guidance.
    // In-gate: both rejections name their cause and commit NOTHING
    // (generations unchanged); a key-unique, partition-stable MERGE
    // then commits normally and the head is value-gated against the
    // DuckDB CASE mirror.
    "q139_sql_merge_cardinality" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q139_").toString
      val path = s"$wh/orders_k"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      def messagesOf(e: Throwable): String =
        Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
          .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
      // (a) duplicate source keys
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW k_dup AS
          |SELECT o_orderkey, 'A' AS o_orderstatus, o_totalprice, p_year
          |FROM graft.orders_k WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |UNION ALL
          |SELECT o_orderkey, 'B', o_totalprice * 2, p_year
          |FROM graft.orders_k WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |""".stripMargin)
      val dupErr =
        try {
          s.sql(
            """MERGE INTO graft.orders_k AS t USING k_dup AS src
              |ON t.o_orderkey = src.o_orderkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ""
        } catch { case e: Throwable => messagesOf(e) }
      require(dupErr.contains("cardinality violation"),
        s"q139: a dup-keyed MERGE source must fail with the " +
          s"MERGE-cardinality message, got: $dupErr")
      require(FactVersioned.generations(s, path) == Seq(0L),
        "q139: the rejected dup-key MERGE must not commit")
      // (b) partition-moving source: existing 1995 even keys re-labeled
      // into 1994 — the stale-row hole
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW k_move AS
          |SELECT o_orderkey, o_orderstatus, o_totalprice,
          |  1994 AS p_year
          |FROM graft.orders_k WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |""".stripMargin)
      val moveErr =
        try {
          s.sql(
            """MERGE INTO graft.orders_k AS t USING k_move AS src
              |ON t.o_orderkey = src.o_orderkey
              |WHEN MATCHED THEN UPDATE SET *
              |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
          ""
        } catch { case e: Throwable => messagesOf(e) }
      require(moveErr.contains("partition-moving"),
        s"q139: a partition-moving MERGE must fail loudly, got: $moveErr")
      require(FactVersioned.generations(s, path) == Seq(0L),
        "q139: the rejected partition-moving MERGE must not commit")
      // a key-unique, partition-stable merge commits normally
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW k_ok AS
          |SELECT o_orderkey, 'W' AS o_orderstatus,
          |  o_totalprice * 3 AS o_totalprice, p_year
          |FROM graft.orders_k WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |""".stripMargin)
      s.sql(
        """MERGE INTO graft.orders_k AS t USING k_ok AS src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q139: the valid MERGE must commit exactly one generation")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_k""".stripMargin)
        .localCheckpoint()
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL maintenance surface, part 1 (VERDICT r10 Next #2): DESCRIBE
    // HISTORY surfaces the commit log (generations newest-first,
    // declared touched partitions — the conflict-detection record) and
    // OPTIMIZE ... ZORDER BY commits a CONTENT-PRESERVING re-clustered
    // generation through FactVersioned.compactPartitions. In-gate:
    // history matches the store's own generations/touched records;
    // OPTIMIZE adds exactly one generation, preserves the head content
    // (count + checksum-by-sum), and time travel to the pre-compaction
    // generation still answers. Output: the optimized head, value-gated
    // against the DuckDB CASE mirror — proving the rewrite changed
    // LAYOUT, not content.
    "q140_sql_optimize" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q140_").toString
      val path = s"$wh/orders_o"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val upd = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("Z"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      FactVersioned.upsert(s0, path, upd, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      val hist = s.sql("DESCRIBE HISTORY graft.orders_o").collect()
      require(hist.map(_.getLong(0)).toSeq == Seq(1L, 0L),
        "q140: DESCRIBE HISTORY must list generations newest-first")
      require(hist.head.getSeq[String](2).toSet == Set("p_year=1995"),
        "q140: the upsert generation's touched set must be its one " +
          s"partition, got ${hist.head.getSeq[String](2)}")
      require(hist.last.getSeq[String](2).toSet ==
        FactVersioned.touchedPartitions(s, path, 0L).toSet,
        "q140: history touched must match the store record")
      val preCount = FactVersioned.read(s, path).count()
      val preSum = FactVersioned.read(s, path)
        .agg(sum(col("o_orderkey") * col("o_totalprice"))).head.getDouble(0)
      val rep = s.sql(
        "OPTIMIZE graft.orders_o ZORDER BY (o_custkey, o_orderkey)")
        .collect()
      require(rep.length == 1 && rep.head.getLong(0) == 2L,
        "q140: OPTIMIZE must commit exactly generation 2")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
        "q140: OPTIMIZE must add one generation and expire nothing " +
          "(depth-preserving retention)")
      require(FactVersioned.read(s, path).count() == preCount,
        "q140: OPTIMIZE must preserve the row count")
      val postSum = FactVersioned.read(s, path)
        .agg(sum(col("o_orderkey") * col("o_totalprice"))).head.getDouble(0)
      require(math.abs(postSum - preSum) <= math.abs(preSum) * 1e-12,
        "q140: OPTIMIZE must preserve content")
      require(FactVersioned.read(s, path, Some(1L)).count() == preCount,
        "q140: the pre-compaction generation must still time-travel")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_o""".stripMargin)
        .localCheckpoint()
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL maintenance surface, part 2: VACUUM expires generations
    // beyond the declared window and GCs EXACTLY the data files no
    // retained manifest references — asserted at the file-system
    // level: the superseded 1995/1996 subtrees of vgen=0 are gone,
    // while vgen=0 files the head still references (every other year)
    // survive untouched (shared-file GC precision). Time travel to the
    // expired generations fails loudly; the head keeps answering.
    "q141_sql_vacuum" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q141_").toString
      val path = s"$wh/orders_v"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val u1 = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("V1"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      FactVersioned.upsert(s0, path, u1, Seq("o_orderkey"), "p_year")
      val u2 = o.where(col("p_year") === 1996 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("V2"))
        .withColumn("o_totalprice", col("o_totalprice") * 3)
      FactVersioned.upsert(s0, path, u2, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      val dropped = s.sql("VACUUM graft.orders_v RETAIN 1 GENERATIONS")
        .collect().map(_.getLong(0)).toSeq
      require(dropped == Seq(0L, 1L),
        s"q141: VACUUM must report the expired generations, got $dropped")
      require(FactVersioned.generations(s, path) == Seq(2L),
        "q141: only the head generation survives RETAIN 1")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      def exists(rel: String) = fs.exists(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/$rel"))
      require(!exists(s"${FactVersioned.VGenCol}=0/p_year=1995") &&
        !exists(s"${FactVersioned.VGenCol}=0/p_year=1996"),
        "q141: superseded vgen=0 subtrees must be GC'd")
      require(exists(s"${FactVersioned.VGenCol}=0/p_year=1997"),
        "q141: vgen=0 files the head still references must survive")
      // gen1's 1995 rewrite is CARRIED by the head manifest (1996 was
      // gen2's only touched dir) — expiring gen1's METADATA must not
      // GC data files the head still shares
      require(exists(s"${FactVersioned.VGenCol}=1/p_year=1995"),
        "q141: carried vgen=1 files the head references must survive")
      val err = try { FactVersioned.read(s, path, Some(0L)).count(); "" }
        catch { case e: Exception => Option(e.getMessage).getOrElse("?") }
      require(err.nonEmpty,
        "q141: time travel to an expired generation must fail loudly")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_v""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL schema evolution (VERDICT r10 Next #3): ALTER TABLE ADD
    // COLUMN routes to FactVersioned.addColumns — a METADATA-SCALE
    // commit (every parent file carried verbatim, zero data staged —
    // asserted on disk) pinning the widened schema; VERSION AS OF the
    // pre-evolution generation still reads the narrow schema, and
    // follow-up DML sees (and fills) the new column. Output: the
    // widened head — old rows null-filled, inserted rows carrying
    // values — value-gated against the DuckDB mirror.
    "q142_sql_alter_add_column" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q142_").toString
      val path = s"$wh/orders_a"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql("ALTER TABLE graft.orders_a ADD COLUMN o_note STRING")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q142: ADD COLUMN must commit exactly one generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val vdir = new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")
      require(!fs.exists(vdir) ||
        fs.listStatus(vdir).forall(!_.isDirectory),
        "q142: ADD COLUMN must stage ZERO data files (metadata-scale)")
      require(!s.sql("SELECT * FROM graft.orders_a VERSION AS OF 0")
        .columns.contains("o_note"),
        "q142: the pre-evolution generation must keep its own schema")
      s.sql(
        """INSERT INTO graft.orders_a BY NAME
          |SELECT o_orderkey + 10000000 AS o_orderkey, 'E' AS o_orderstatus,
          |  o_totalprice, p_year, 'NEW' AS o_note
          |FROM graft.orders_a
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |  AND o_orderkey < 10000000""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
        "q142: the INSERT after evolution must commit generation 2")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice, o_note
          |FROM graft.orders_a""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // CDC-apply MERGE (VERDICT r10 Next #4): one statement applies an
    // insert/update/delete changelog — `WHEN MATCHED AND src.op='D'
    // THEN DELETE` alongside conditional UPDATE and INSERT clauses,
    // first-match-wins per SOURCE row (conditions are source-only,
    // which is what keeps the commit ∝ touched partitions). No-op rows
    // (op matching no clause) carry their target rows verbatim.
    // In-gate: exactly one new generation whose vgen dir stages ONLY
    // the touched partition (write-amp unchanged by the richer clause
    // set), VERSION AS OF 0 intact. Output: the applied head,
    // value-gated against the DuckDB changelog mirror.
    "q143_sql_merge_cdc" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q143_").toString
      val path = s"$wh/orders_cc"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val before = o.count()
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW cdc_log AS
          |SELECT 'D' AS op, o_orderkey, o_orderstatus, o_totalprice,
          |  p_year
          |FROM graft.orders_cc WHERE p_year = 1995 AND o_orderkey % 4 = 1
          |UNION ALL
          |SELECT 'U', o_orderkey, 'C', o_totalprice * 2, p_year
          |FROM graft.orders_cc WHERE p_year = 1995 AND o_orderkey % 4 = 2
          |UNION ALL
          |SELECT 'I', o_orderkey + 10000000, 'I', o_totalprice, p_year
          |FROM graft.orders_cc WHERE p_year = 1995 AND o_orderkey % 4 = 0
          |UNION ALL
          |SELECT 'X', o_orderkey + 20000000, o_orderstatus, o_totalprice,
          |  p_year
          |FROM graft.orders_cc WHERE p_year = 1995 AND o_orderkey % 4 = 3
          |""".stripMargin)
      s.sql(
        """MERGE INTO graft.orders_cc AS t USING cdc_log AS src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED AND src.op = 'D' THEN DELETE
          |WHEN MATCHED AND src.op = 'U' THEN UPDATE SET *
          |WHEN NOT MATCHED AND src.op = 'I' THEN INSERT *""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q143: the CDC MERGE must commit exactly one new generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q143: CDC MERGE must stage only the touched partition, got " +
          s"$staged")
      require(s.sql(
          "SELECT COUNT(*) FROM graft.orders_cc VERSION AS OF 0")
        .collect().head.getLong(0) == before,
        "q143: generation 0 must still read the pre-merge content")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_cc""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Multi-column partitioning (VERDICT r10 Next #7): a fact table
    // partitioned by (p_year, o_orderstatus) — the (date, source)
    // shape 100 TB fact tables actually use — committed through
    // FactVersioned.upsertBy. In-gate: the update of ONE (year,
    // status) tuple stages exactly that nested leaf dir on disk
    // (write-amp = touched LEAVES, not whole years), the commit
    // declares the same leaf, generation 0 time-travels intact, and
    // nested readDirs pruning answers from the one leaf. Output: the
    // merged head, value-gated against the DuckDB CASE mirror.
    "q144_fact_multicol_partition" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q144_").toString
      val path = s"$wh/orders_mc"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"), col("o_orderstatus"))
      FactVersioned.upsertBy(s, path, o, Seq("o_orderkey"),
        Seq("p_year", "o_orderstatus"))
      val before = o.count()
      val upd = o.where(col("p_year") === 1995 &&
          col("o_orderstatus") === "O" && col("o_orderkey") % 2 === 0)
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val c = FactVersioned.upsertBy(s, path, upd, Seq("o_orderkey"),
        Seq("p_year", "o_orderstatus"))
      require(c.gen == 1L &&
        c.rewrittenDirs == Seq("p_year=1995/o_orderstatus=O"),
        s"q144: the commit must declare exactly the touched leaf, got " +
          s"${c.rewrittenDirs}")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val vd = new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")
      val staged = fs.listStatus(vd).filter(_.isDirectory).flatMap(y =>
        fs.listStatus(y.getPath).filter(_.isDirectory).map(st =>
          s"${y.getPath.getName}/${st.getPath.getName}")).toSet
      require(staged == Set("p_year=1995/o_orderstatus=O"),
        s"q144: write-amp must be the one touched LEAF dir, got $staged")
      require(FactVersioned.read(s, path, Some(0L)).count() == before,
        "q144: generation 0 must still read the pre-upsert content")
      val leaf = FactVersioned.readDirs(s, path, None,
        Seq("p_year=1995/o_orderstatus=O"))
      require(leaf.where(col("p_year") =!= 1995 ||
          col("o_orderstatus") =!= "O").count() == 0 &&
        leaf.count() > 0,
        "q144: nested readDirs must answer from exactly the one leaf")
      val out = FactVersioned.read(s, path)
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // SQL RESTORE (round 11): roll the head back to a prior generation
    // as a NEW commit — METADATA-ONLY for fact tables (the new
    // generation's manifest and pinned schema are verbatim copies;
    // zero data files staged, asserted on disk — the Delta RESTORE
    // posture). History is preserved (the pre-restore head still
    // time-travels; the restore generation carries
    // operation=RESTORE/restored_from provenance), and the restored
    // content flows through the ORIGINAL files (asserted by reading
    // the head after the restore). Output: the restored head ≡ the
    // original table, value-gated against the identity mirror.
    "q148_sql_restore" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q148_").toString
      val path = s"$wh/orders_rs"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year",
        retain = 10)
      val before = o.count()
      // two destructive commits to roll back: an update and a delete
      FactVersioned.upsert(s0, path,
        o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("R"))
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"), "p_year", retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      s.sql("""DELETE FROM graft.orders_rs
        |WHERE p_year = 1996 AND o_orderkey % 2 = 0""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
        "q148: setup must leave three generations")
      val rep = s.sql(
        "RESTORE TABLE graft.orders_rs TO VERSION AS OF 0").collect()
      require(rep.length == 1 && rep.head.getLong(0) == 3L &&
        rep.head.getLong(1) == 0L,
        s"q148: RESTORE must report (3, 0), got ${rep.mkString}")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=3")),
        "q148: RESTORE must stage ZERO data files (metadata-only)")
      require(s.sql("SELECT COUNT(*) FROM graft.orders_rs")
        .collect().head.getLong(0) == before,
        "q148: the restored head must hold the original row count")
      require(s.sql("SELECT COUNT(*) FROM graft.orders_rs VERSION AS OF 2")
        .collect().head.getLong(0) < before,
        "q148: the pre-restore head must still time-travel")
      val hist = s.sql("DESCRIBE HISTORY graft.orders_rs").collect()
      require(hist.head.getLong(0) == 3L &&
        hist.head.getMap[String, String](3).get("restored_from")
          .contains("0"),
        "q148: the restore generation must carry its provenance")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_rs""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // DESCRIBE DETAIL (round 11): the one-row table summary — store
    // kind, partition columns, generation counts, head partition
    // count — value-gated against the DuckDB mirror (the partition
    // count IS the distinct-year count of the data; the statement must
    // report physical truth, not cached metadata). num_files /
    // size_bytes are asserted positive in-gate (layout-dependent, not
    // mirrorable).
    "q149_sql_describe_detail" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q149_").toString
      val path = s"$wh/orders_dd"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      val d = s.sql("DESCRIBE DETAIL graft.orders_dd").collect().head
      require(d.getLong(5) > 0 && d.getLong(6) > 0,
        "q149: the head footprint (files, bytes) must be positive")
      val out = s.createDataFrame(java.util.Arrays.asList(
        org.apache.spark.sql.Row(
          d.getString(0), d.getSeq[String](2).mkString(","),
          d.getLong(3), d.getLong(4), d.getLong(7))),
        org.apache.spark.sql.types.StructType.fromDDL(
          "kind STRING, partition_columns STRING, num_generations " +
            "BIGINT, head_generation BIGINT, num_partitions BIGINT"))
        .localCheckpoint()
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // ALTER TABLE DROP COLUMN (VERDICT r11 missing #6): metadata-scale
    // column removal — the new generation pins the NARROWED schema and
    // carries every parent file verbatim (zero data staged, asserted
    // in-gate); reads under the narrowed schema never project the
    // dropped column out of carried files. VERSION AS OF still reads
    // the pre-drop schema (the column's history survives until
    // retention), post-drop INSERTs work against the narrowed schema,
    // and re-ADDING the dropped name is rejected (tombstone: carried
    // files still physically hold old values a re-add would silently
    // resurrect). Output value-gated against the narrowed mirror.
    "q153_sql_alter_drop_column" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q153_").toString
      val path = s"$wh/orders_dc"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql("ALTER TABLE graft.orders_dc DROP COLUMN o_orderstatus")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q153: DROP COLUMN must commit exactly one generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val vdir = new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")
      require(!fs.exists(vdir) ||
        fs.listStatus(vdir).forall(!_.isDirectory),
        "q153: DROP COLUMN must stage ZERO data files (metadata-scale)")
      require(!s.table("graft.orders_dc").columns.contains("o_orderstatus"),
        "q153: the head schema must not hold the dropped column")
      require(s.sql("SELECT * FROM graft.orders_dc VERSION AS OF 0")
        .columns.contains("o_orderstatus"),
        "q153: the pre-drop generation must keep its own schema")
      // post-drop INSERT works against the narrowed schema
      s.sql(
        """INSERT INTO graft.orders_dc BY NAME
          |SELECT o_orderkey + 10000000 AS o_orderkey,
          |  o_totalprice * 2 AS o_totalprice, p_year
          |FROM graft.orders_dc
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |  AND o_orderkey < 10000000""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
        "q153: the INSERT after the drop must commit generation 2")
      // re-adding the dropped name is rejected (stale-value hazard)
      val readd =
        try {
          s.sql("ALTER TABLE graft.orders_dc ADD COLUMN o_orderstatus STRING")
          ""
        } catch { case e: Throwable => Option(e.getMessage).getOrElse("") }
      require(readd.contains("DROPPED") || readd.contains("pinned"),
        s"q153: re-adding a dropped column must be rejected, got: $readd")
      val out = s.sql(
        """SELECT o_orderkey, o_totalprice FROM graft.orders_dc""")
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Partial-assignment MERGE (VERDICT r11 Next #3+#4): the
    // single-column-touch changelog — `UPDATE SET one_col = expr` with
    // a TARGET-guarded clause condition and a target-referencing
    // assignment value. The match probe carries exactly the referenced
    // target columns, so routing stays per source row and the commit
    // stays ∝ touched partitions (in-gate write-amp assert). Unassigned
    // columns keep the target row's values — gated by the full DuckDB
    // changelog mirror (hash): 1995 even keys whose TARGET status is
    // 'F' gain s.d = 10% of their own price; everything else verbatim.
    "q150_sql_merge_partial" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q150_").toString
      val path = s"$wh/orders_pm"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      // the source carries ONLY (key, delta) — no status, no price, no
      // partition column: everything unassigned must come from the
      // target through the probe
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW pm_src AS
          |SELECT o_orderkey, o_totalprice * 0.1 AS d
          |FROM graft.orders_pm
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft.orders_pm AS t USING pm_src AS src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED AND t.o_orderstatus = 'F'
          |  THEN UPDATE SET o_totalprice = t.o_totalprice + src.d
          |""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q150: the partial MERGE must commit exactly one new generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q150: write-amp must stay the one touched partition, got $staged")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_pm""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Scoped full-sync MERGE (VERDICT r11 missing #3): `WHEN NOT
    // MATCHED BY SOURCE THEN DELETE` with a partition-scoping condition
    // — the Delta full-sync shape kept ∝ the scoped partition. The
    // source holds exactly the rows partition 1995 SHOULD contain
    // (even keys, re-statused 'S'); matched keys update, absent keys
    // insert (none here), and scoped rows the source never names are
    // deleted. In-gate: hash-equal to the API twin
    // (replacePartitions of the scoped partition), write-amp = the one
    // scoped leaf, other partitions untouched.
    "q151_sql_merge_sync" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q151_").toString
      val path = s"$wh/orders_sy"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      // API twin on its own table — independent of the SQL path until
      // the compare; built concurrently so its commits back-fill the
      // merge's stage tails (guide §2.6)
      val twin = s"$wh/orders_sy_twin"
      val twinF = CallSites.overlapped(s0) {
        FactVersioned.upsert(s0, twin, o, Seq("o_orderkey"), "p_year")
        FactVersioned.replacePartitions(s0, twin,
          o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
            .withColumn("o_orderstatus", lit("S")),
          "p_year", Seq(1995))
      }
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW sy_src AS
          |SELECT o_orderkey, 'S' AS o_orderstatus, o_totalprice, p_year
          |FROM graft.orders_sy
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft.orders_sy AS t USING sy_src AS src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |WHEN NOT MATCHED BY SOURCE AND t.p_year = 1995 THEN DELETE
          |""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q151: the sync MERGE must commit exactly one new generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q151: write-amp must be the scoped partition only, got $staged")
      scala.concurrent.Await.result(twinF, graft.operators.Overlap.AwaitTimeout)
      def content(p: String, sess: SparkSession) =
        FactVersioned.read(sess, p)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      require(content(path, s).collect().toSet ==
        content(twin, s0).collect().toSet,
        "q151: scoped sync MERGE must be hash-equal to the API twin")
      require(s.sql(
          "SELECT COUNT(*) FROM graft.orders_sy VERSION AS OF 0")
        .collect().head.getLong(0) == o.count(),
        "q151: generation 0 must still read the pre-sync content")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_sy""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Range-scoped OPTIMIZE (VERDICT r11 missing #5 + ADVICE): `WHERE
    // p_year >= lit` compacts exactly the TYPED-matching leaves — the
    // natural compaction scope at 100 TB is a date/year range, and the
    // comparison runs through the partition column's pinned type, not
    // rendered strings. In-gate: the compaction generation stages
    // exactly the years ≥ 1996 (each accumulated two commits' files),
    // the reported leaf count matches, content is preserved, and a
    // zero-match WHERE fails loudly instead of reading as "already
    // optimized". Output value-gated against the update mirror.
    "q152_sql_optimize_range" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q152_").toString
      val path = s"$wh/orders_r"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      // second commit → the 1996+ partitions hold two commits' files
      FactVersioned.upsert(s0, path,
        o.where(col("p_year") >= 1996 && col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("R"))
          .withColumn("o_totalprice", col("o_totalprice") * 2),
        Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      val expectYears = o.where(col("p_year") >= 1996)
        .select("p_year").distinct().collect().map(_.getInt(0)).toSet
      val rep = s.sql("OPTIMIZE graft.orders_r WHERE p_year >= 1996")
        .collect().head
      require(rep.getLong(1) == expectYears.size.toLong,
        s"q152: OPTIMIZE must report exactly the ${expectYears.size} " +
          s"matching leaves, got ${rep.getLong(1)}")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/" +
            s"${FactVersioned.VGenCol}=${rep.getLong(0)}"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == expectYears.map(y => s"p_year=$y"),
        s"q152: compaction must stage exactly the matching leaves, " +
          s"got $staged")
      // a zero-match range fails loudly (the silent-no-op hole)
      val miss =
        try { s.sql("OPTIMIZE graft.orders_r WHERE p_year >= 3000"); "" }
        catch { case e: Throwable => Option(e.getMessage).getOrElse("") }
      require(miss.contains("matched no partitions"),
        s"q152: a zero-match OPTIMIZE WHERE must fail loudly, got: $miss")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_r""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // MERGE with DIFFERENTLY-NAMED key columns (VERDICT r12 Next #1):
    // `ON t.o_orderkey = src.src_key` — the most common real CDC MERGE
    // (feeds rarely share the target's key name). The probe joins on
    // internal key slots built from the (target → source) mapping, so
    // neither name needs to exist on the other side; explicit UPDATE /
    // INSERT assignments reference the source's own names. In-gate:
    // one generation, write-amp = the touched partition, hash-equal to
    // the API twin (the same source upserted with its key aliased),
    // and a key-REASSIGNING update is rejected before anything commits
    // (the stranded-row hole — ADVICE r12 medium).
    "q154_sql_merge_keymap" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q154_").toString
      val path = s"$wh/orders_km"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      // API twin (own table, aliased-source upsert) — independent of
      // the SQL path until the compare; built concurrently (guide §2.6)
      val twin = s"$wh/orders_km_twin"
      val twinF = CallSites.overlapped(s0) {
        FactVersioned.upsert(s0, twin, o, Seq("o_orderkey"), "p_year")
        val src = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
          .withColumn("o_orderstatus", lit("K"))
          .withColumn("o_totalprice", col("o_totalprice") * 3)
          .unionByName(
            o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 1)
              .withColumn("o_orderkey", col("o_orderkey") + 10000000L)
              .withColumn("o_orderstatus", lit("L")))
        FactVersioned.upsert(s0, twin, src, Seq("o_orderkey"), "p_year")
      }
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW km_src AS
          |SELECT o_orderkey AS src_key, 'K' AS new_status,
          |  o_totalprice * 3 AS new_price, p_year
          |FROM graft.orders_km WHERE p_year = 1995 AND o_orderkey % 2 = 0
          |UNION ALL
          |SELECT o_orderkey + 10000000 AS src_key, 'L' AS new_status,
          |  o_totalprice AS new_price, p_year
          |FROM graft.orders_km WHERE p_year = 1995 AND o_orderkey % 2 = 1
          |""".stripMargin)
      s.sql(
        """MERGE INTO graft.orders_km AS t USING km_src AS src
          |ON t.o_orderkey = src.src_key
          |WHEN MATCHED THEN UPDATE SET o_orderstatus = src.new_status,
          |  o_totalprice = src.new_price
          |WHEN NOT MATCHED THEN INSERT
          |  (o_orderkey, o_orderstatus, o_totalprice, p_year)
          |  VALUES (src.src_key, src.new_status, src.new_price, src.p_year)
          |""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q154: the key-mapped MERGE must commit exactly one generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q154: write-amp must stay the touched partition, got $staged")
      scala.concurrent.Await.result(twinF, graft.operators.Overlap.AwaitTimeout)
      def content(p: String, sess: SparkSession) =
        FactVersioned.read(sess, p)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      require(content(path, s).collect().toSet ==
        content(twin, s0).collect().toSet,
        "q154: key-mapped SQL MERGE must be hash-equal to the " +
          "aliased-source API twin")
      // a key-REASSIGNING update must be rejected pre-commit
      val rekey =
        try {
          s.sql(
            """MERGE INTO graft.orders_km AS t USING km_src AS src
              |ON t.o_orderkey = src.src_key
              |WHEN MATCHED THEN UPDATE SET o_orderkey = src.src_key + 1
              |""".stripMargin)
          ""
        } catch { case e: Throwable => Option(e.getMessage).getOrElse("") }
      require(rekey.contains("reassigns merge key"),
        s"q154: a key-reassigning MERGE must be rejected, got: $rekey")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q154: the rejected re-key MERGE must leave no commit behind")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_km""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Scoped `WHEN NOT MATCHED BY SOURCE THEN UPDATE` (VERDICT r12
    // Next #5): the flag-stale-rows sync — scoped target rows the
    // source never names are rewritten IN PLACE through target-side
    // assignments (here: status 'X'; unassigned columns carry
    // verbatim), same partition-scoping contract as q151's DELETE.
    // In-gate: write-amp = the scoped partition, hash-equal to the
    // composed API twin, and key / partition-column assignments in
    // the BY SOURCE clause are rejected.
    "q155_sql_merge_sync_update" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q155_").toString
      val path = s"$wh/orders_su"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      // API twin (own table): replacePartitions of 1995 with evens
      // re-statused 'S' and stale odds flagged 'X' — independent of
      // the SQL path until the compare; built concurrently (§2.6)
      val twin = s"$wh/orders_su_twin"
      val twinF = CallSites.overlapped(s0) {
        FactVersioned.upsert(s0, twin, o, Seq("o_orderkey"), "p_year")
        val in95 = o.where(col("p_year") === 1995)
        FactVersioned.replacePartitions(s0, twin,
          in95.where(col("o_orderkey") % 2 === 0)
            .withColumn("o_orderstatus", lit("S"))
            .unionByName(in95.where(col("o_orderkey") % 2 =!= 0)
              .withColumn("o_orderstatus", lit("X"))),
          "p_year", Seq(1995))
      }
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW su_src AS
          |SELECT o_orderkey, 'S' AS o_orderstatus, o_totalprice, p_year
          |FROM graft.orders_su
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
      s.sql(
        """MERGE INTO graft.orders_su AS t USING su_src AS src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED BY SOURCE AND t.p_year = 1995
          |  THEN UPDATE SET o_orderstatus = 'X'
          |""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q155: the sync-update MERGE must commit exactly one generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q155: write-amp must be the scoped partition only, got $staged")
      scala.concurrent.Await.result(twinF, graft.operators.Overlap.AwaitTimeout)
      def content(p: String, sess: SparkSession) =
        FactVersioned.read(sess, p)
          .select("o_orderkey", "o_orderstatus", "o_totalprice")
      require(content(path, s).collect().toSet ==
        content(twin, s0).collect().toSet,
        "q155: scoped sync-update MERGE must be hash-equal to the " +
          "API twin")
      // key / partition-column assignments in BY SOURCE are rejected
      val rekey =
        try {
          s.sql(
            """MERGE INTO graft.orders_su AS t USING su_src AS src
              |ON t.o_orderkey = src.o_orderkey
              |WHEN NOT MATCHED BY SOURCE AND t.p_year = 1995
              |  THEN UPDATE SET o_orderkey = 0
              |""".stripMargin)
          ""
        } catch { case e: Throwable => Option(e.getMessage).getOrElse("") }
      require(rekey.contains("reassigns merge key"),
        s"q155: BY SOURCE re-key must be rejected, got: $rekey")
      val move =
        try {
          s.sql(
            """MERGE INTO graft.orders_su AS t USING su_src AS src
              |ON t.o_orderkey = src.o_orderkey
              |WHEN NOT MATCHED BY SOURCE AND t.p_year = 1995
              |  THEN UPDATE SET p_year = 1994
              |""".stripMargin)
          ""
        } catch { case e: Throwable => Option(e.getMessage).getOrElse("") }
      require(move.contains("partition column"),
        s"q155: BY SOURCE partition move must be rejected, got: $move")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q155: rejected statements must leave no commit behind")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice
          |FROM graft.orders_su""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // `MERGE ... WITH SCHEMA EVOLUTION` (VERDICT r12 Next #2): a
    // source carrying a NEW column widens the target THROUGH the SQL
    // door. The tables advertise AUTOMATIC_SCHEMA_EVOLUTION, so
    // Spark's own ResolveMergeIntoSchemaEvolution routes the widening
    // through alterTable → FactVersioned.addColumns — a METADATA-ONLY
    // generation (carried rows null-fill on read) committed before the
    // merge's data generation; both through the claim/marker protocol.
    // In-gate: the widening + merge land as generations 1 and 2,
    // carried rows read NULL for the new column, VERSION AS OF 0 still
    // reads the pre-evolution schema, write-amp of the DATA commit =
    // the touched partition, and the head is hash-equal to the
    // upsertEvolve API twin. (A DROPPED name staying rejected through
    // this door is pinned by GraftDmlSpec — the tombstone lives in
    // addColumns, which this path routes through.)
    "q156_sql_merge_evolve" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q156_").toString
      val path = s"$wh/orders_ev"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      // API twin (own table, upsertEvolve of the widened source) —
      // independent of the SQL path until the compare; built
      // concurrently (guide §2.6)
      val twin = s"$wh/orders_ev_twin"
      val twinF = CallSites.overlapped(s0) {
        FactVersioned.upsert(s0, twin, o, Seq("o_orderkey"), "p_year")
        FactVersioned.upsertEvolve(s0, twin,
          o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
            .withColumn("o_orderstatus", lit("E"))
            .withColumn("note",
              concat(lit("note-"), col("o_orderkey").cast("string"))),
          Seq("o_orderkey"), "p_year")
      }
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql(
        """CREATE OR REPLACE TEMPORARY VIEW ev_src AS
          |SELECT o_orderkey, 'E' AS o_orderstatus, o_totalprice, p_year,
          |  CONCAT('note-', CAST(o_orderkey AS STRING)) AS note
          |FROM graft.orders_ev
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
      s.sql(
        """MERGE WITH SCHEMA EVOLUTION INTO graft.orders_ev AS t
          |USING ev_src AS src
          |ON t.o_orderkey = src.o_orderkey
          |WHEN MATCHED THEN UPDATE SET *
          |WHEN NOT MATCHED THEN INSERT *
          |""".stripMargin)
      require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
        "q156: evolution (metadata) + merge (data) must land as two " +
          "generations")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      // generation 1 is the widening: metadata-only, ZERO staged bytes
      require(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
        "q156: the evolution commit must stage no data files")
      val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      require(staged == Set("p_year=1995"),
        s"q156: the data commit must stage only the touched partition, " +
          s"got $staged")
      // pre-evolution generation still reads the NARROW schema
      require(!s.sql("SELECT * FROM graft.orders_ev VERSION AS OF 0")
        .columns.exists(_.equalsIgnoreCase("note")),
        "q156: VERSION AS OF 0 must still read the pre-evolution schema")
      scala.concurrent.Await.result(twinF, graft.operators.Overlap.AwaitTimeout)
      def content(p: String, sess: SparkSession) =
        FactVersioned.read(sess, p)
          .select("o_orderkey", "o_orderstatus", "o_totalprice", "note")
      require(content(path, s).collect().toSet ==
        content(twin, s0).collect().toSet,
        "q156: SQL schema-evolution MERGE must be hash-equal to the " +
          "upsertEvolve API twin")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, o_totalprice, note
          |FROM graft.orders_ev""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Destructive-lifecycle doors (VERDICT r13 missing #2): TRUNCATE
    // TABLE as VERSIONED emptying — one commit declaring every head
    // partition touched, staging nothing (zero bytes, FS-asserted);
    // the head reads empty while VERSION AS OF still time-travels the
    // full pre-truncate content (the oracle-compared output — the
    // point is that truncation destroys NOTHING until retention). And
    // DROP TABLE ... PURGE: explicit-opt-in destruction through the
    // claim protocol — the tree is gone, the name reusable; bare DROP
    // keeps the safety rejection.
    "q165_sql_truncate_purge" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q165_").toString
      val path = s"$wh/orders_tp"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        s.sql("TRUNCATE TABLE graft.orders_tp")
        require(s.table("graft.orders_tp").count() == 0,
          "q165: the truncated head must read empty")
        require(FactVersioned.generations(s, path) == Seq(0L, 1L),
          "q165: truncate must commit exactly one generation")
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        require(!fs.exists(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
          "q165: truncate must stage no data files")
        // PURGE: a scratch table destroyed through the claim protocol
        s.sql("CREATE TABLE graft.scratch_tp AS SELECT 1L AS k, 2L AS v")
        s.sql("DROP TABLE graft.scratch_tp PURGE")
        require(!fs.exists(new org.apache.hadoop.fs.Path(s"$wh/scratch_tp")),
          "q165: purge must remove the table tree")
        // bare DROP keeps the rejection
        val bare = try { s.sql("DROP TABLE graft.orders_tp"); None }
          catch { case t: Throwable => Some(t) }
        require(bare.exists(t =>
            Option(t.getMessage).exists(_.contains("PURGE"))),
          "q165: bare DROP must reject with the PURGE guidance")
        // oracle-compared output: the PRE-truncate content, intact
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus, o_totalprice
            |FROM graft.orders_tp VERSION AS OF 0""".stripMargin)
          .localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // Cross-rename CDC windows: a `graft_table_changes` window
    // SPANNING an ALTER RENAME commit is exact — the from side reads
    // its own era's logical names and translates through the column
    // mappings to the window-end naming (physical names are pinned
    // forever, so the identity is exact). Before this, a spanning
    // window null-filled the renamed column on the from side and
    // surfaced EVERY carried row as an update with its old value
    // erased. In-gate: the pure-rename window is empty (a rename moves
    // no data), the keyless door resolves the recorded keys across the
    // rename, and the spanning window is hash-equal to the
    // explicit-keys twin. Output value-gated against the DuckDB
    // change-set mirror, under the post-rename name.
    "q166_sql_table_changes_rename" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q166_").toString
      val path = s"$wh/orders_cr"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      // gen 0: base (records o_orderkey as the default merge key)
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year",
        retain = 10)
      // gen 1: metadata-only rename o_totalprice → amount
      FactVersioned.renameColumns(s0, path,
        Map("o_totalprice" -> "amount"), retain = 10)
      // gen 2: the q157 change batch, staged under the NEW name
      val renamedBase = o.withColumnRenamed("o_totalprice", "amount")
      val batch = renamedBase
        .where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("amount", col("amount") * 2)
        .unionByName(renamedBase
          .where(col("p_year") === 1996 && col("o_orderkey") % 3 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      FactVersioned.upsert(s0, path, batch, Seq("o_orderkey"), "p_year",
        retain = 10)
      val s = s0
      graft.GraftFunctions.register(s)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      // the pure-rename window moves no rows
      require(s.sql(
          "SELECT * FROM graft_table_changes('graft.orders_cr', 0, 1)")
          .count() == 0L,
        "q166: a metadata-only rename window must be empty")
      // the spanning window, keyless (recorded keys cross the rename)
      val out = s.sql(
        """SELECT op, o_orderkey, o_orderstatus, amount
          |FROM graft_table_changes('graft.orders_cr', 0, 2)
          |""".stripMargin).localCheckpoint()
      // hash-equal to the explicit-keys twin
      val twin = s.sql(
        """SELECT op, o_orderkey, o_orderstatus, amount
          |FROM graft_table_changes('graft.orders_cr', 'o_orderkey', 0, 2)
          |""".stripMargin)
      require(out.collect().toSet == twin.collect().toSet,
        "q166: the keyless spanning window must be hash-equal to the " +
          "explicit-keys twin")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // NESTED struct-field evolution (the last schema-evolution limit
    // carried from r13: "nested struct fields can't evolve"): `ALTER
    // TABLE ADD/DROP COLUMN s.f` commits a metadata-only generation
    // whose pinned schema reshapes the struct — parquet schema
    // clipping null-fills an added field in carried files and never
    // projects a dropped one; `VERSION AS OF` reads every era's own
    // shape. In-gate: both DDLs stage ZERO bytes (FS-asserted), a
    // post-evolution upsert lands real nested values, the dropped
    // path is tombstoned against re-adds, and history still reads the
    // dropped field. Output is FLAT (struct fields projected out) and
    // value-gated against the DuckDB mirror.
    "q167_sql_nested_evolution" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q167_").toString
      val path = s"$wh/orders_ns"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").as("price")).as("meta"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year",
        retain = 10)
      val s = s0
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // gen 1: nested ADD — metadata-only, zero staged bytes
        s.sql("ALTER TABLE graft.orders_ns ADD COLUMN meta.note STRING")
        require(FactVersioned.generations(s, path) == Seq(0L, 1L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
          "q167: nested ADD must be one zero-staged-bytes commit")
        // carried rows null-fill the new field
        require(s.sql(
            "SELECT count(*) FROM graft.orders_ns WHERE meta.note IS NOT NULL")
            .head().getLong(0) == 0L,
          "q167: carried rows must read the added nested field as null")
        // gen 2: new rows stage real nested values (full struct)
        val adds = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
          .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
            struct(lit("N").as("status"), col("meta.price").as("price"),
              concat(lit("n-"), col("o_orderkey").cast("string")).as("note"))
              .as("meta"),
            col("p_year"))
        FactVersioned.upsert(s, path, adds, Seq("o_orderkey"), "p_year",
          retain = 10)
        // gen 3: nested DROP — metadata-only; history keeps the field
        s.sql("ALTER TABLE graft.orders_ns DROP COLUMN meta.price")
        require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L, 3L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=3")),
          "q167: nested DROP must be one zero-staged-bytes commit")
        require(s.sql("SELECT meta.price FROM graft.orders_ns VERSION AS OF 0")
            .head().get(0) != null,
          "q167: history must still read the dropped nested field")
        // the dropped path is tombstoned against re-adds
        val readd = try {
          s.sql("ALTER TABLE graft.orders_ns ADD COLUMN meta.price DOUBLE")
          None
        } catch { case t: Throwable => Some(t) }
        require(readd.exists(t =>
            causeMessages(t).exists(_.contains("DROPPED"))),
          s"q167: re-adding the dropped nested path must reject with " +
            s"the tombstone guidance, got ${readd.map(causeMessages)}")
        val out = s.sql(
          """SELECT o_orderkey, meta.status AS status, meta.note AS note
            |FROM graft.orders_ns""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // PARTITION-COLUMN rename (the last rejected ALTER shape): the
    // on-disk dir tree and manifest `dir` strings keep the PHYSICAL
    // spelling forever — the rename is the same metadata-only column-
    // mapping commit as a data column's, and every later door (MERGE
    // scoping, OPTIMIZE WHERE, upsert write-amp, pruning, TRUNCATE)
    // speaks the new logical name and translates at the dir-derivation
    // seam. In-gate: the rename stages zero bytes AND the partition
    // tree is untouched (FS-asserted — no new-name dir ever exists),
    // a MERGE under the new name stages ONLY the scoped physical dir
    // (write-amp assert), OPTIMIZE WHERE under the new name compacts
    // exactly that partition, and the old name fails loudly. Output
    // value-gated against the DuckDB mirror under the new name.
    "q168_sql_partition_rename" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q168_").toString
      val path = s"$wh/orders_pr"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql("ALTER TABLE graft.orders_pr RENAME COLUMN p_year TO fiscal_year")
        // metadata-only AND the tree is untouched: nothing staged, the
        // physical dirs keep their spelling, no new-name dir exists
        require(FactVersioned.generations(s, path) == Seq(0L, 1L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
          "q168: the partition rename must stage no data")
        val dirs0 = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=0"))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
        require(dirs0 == Set("p_year=1995", "p_year=1996"),
          s"q168: the physical partition tree must keep its spelling: $dirs0")
        // MERGE under the NEW name: write-amp = the one scoped
        // (physical) partition
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW q168_src AS
            |SELECT o_orderkey, fiscal_year, 'U' AS o_orderstatus,
            |  o_totalprice * 2 AS o_totalprice
            |FROM graft.orders_pr
            |WHERE fiscal_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
        s.sql(
          """MERGE INTO graft.orders_pr t USING q168_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET
            |  o_orderstatus = s.o_orderstatus,
            |  o_totalprice = s.o_totalprice""".stripMargin)
        val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2"))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
        require(staged == Set("p_year=1995"),
          s"q168: MERGE under the renamed partition column must stage " +
            s"only the scoped physical dir, got $staged")
        // OPTIMIZE WHERE speaks the new name; the old one fails loudly
        val opt = s.sql(
          "OPTIMIZE graft.orders_pr WHERE fiscal_year = 1995").collect()
        require(opt.head.getLong(1) == 1L,
          "q168: OPTIMIZE WHERE fiscal_year must compact exactly one " +
            "partition")
        val old = try {
          s.sql("OPTIMIZE graft.orders_pr WHERE p_year = 1995").collect()
          None
        } catch { case t: Throwable => Some(t) }
        require(old.exists(t => causeMessages(t)
            .exists(_.contains("not a partition column"))),
          s"q168: the old partition name must fail loudly, got " +
            s"${old.map(causeMessages)}")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus, o_totalprice, fiscal_year
            |FROM graft.orders_pr""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // ADD COLUMN ... DEFAULT (VERDICT r14 Next #6 — the Delta
    // default-value posture): the ALTER is the same metadata-only
    // addColumns commit; the folded default rides a table-level record
    // and applies AT READ via Spark's own existence-default machinery
    // (EXISTS_DEFAULT field metadata — the parquet reader fills it
    // only for files physically lacking the column). In-gate asserts:
    // zero staged bytes, every carried row reads the default, a
    // post-add INSERT persists real values (and an explicit NULL stays
    // NULL), time travel keeps the pre-add shape. Output value-gated
    // against the DuckDB mirror.
    // SET/UNSET TBLPROPERTIES + COMMENT ON TABLE (r16): a fact table's
    // properties are a PER-GENERATION pinned record (the colmap/
    // defaults posture) — SET/UNSET commits metadata-only, data
    // commits inherit the record verbatim, earlier generations keep
    // their own (era-readable), and the record rides a TABLE RENAME
    // inside the tree. In-gate asserts: zero staged bytes, gen-0 record
    // empty, inheritance across a data commit, survival across RENAME
    // TO. Output = the surviving property rows via SHOW TBLPROPERTIES,
    // value-gated against a DuckDB literal mirror.
    // ALTER TABLE ADD CONSTRAINT ... CHECK (VERDICT r16 Next #4): the
    // ADD validates existing data (a violating ADD is rejected with
    // nothing committed), the record is a metadata-only per-generation
    // commit (era-readable like q175's properties), a violating INSERT
    // is rejected loudly with nothing committed, a conforming INSERT
    // lands, and DROP CONSTRAINT lifts enforcement for later writes
    // while the old era keeps its record. Output value-gated against
    // the DuckDB from-scratch recomputation.
    "q177_sql_add_constraint" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q177_").toString
      val path = s"$wh/orders_ck"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // an ADD the existing data VIOLATES is rejected, no commit
        val bad = try {
          s.sql("ALTER TABLE graft.orders_ck ADD CONSTRAINT pricey " +
            "CHECK (o_totalprice > 1e9)"); None
        } catch { case t: Throwable => Some(t) }
        require(bad.nonEmpty &&
            FactVersioned.generations(s, path) == Seq(0L),
          "q177: a violating ADD CONSTRAINT must fail with no commit")
        // a conforming ADD is ONE metadata-only commit
        s.sql("ALTER TABLE graft.orders_ck ADD CONSTRAINT price_pos " +
          "CHECK (o_totalprice > 0)")
        require(FactVersioned.generations(s, path) == Seq(0L, 1L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
          "q177: ADD CONSTRAINT must be one metadata-only commit")
        // era-readable: gen 0 pins no constraint, gen 1 pins it
        require(graft.catalog.GraftCatalog.decodeConstraints(
            FactVersioned.tableProperties(s, path, Some(0L))).isEmpty &&
          graft.catalog.GraftCatalog.decodeConstraints(
            FactVersioned.tableProperties(s, path, Some(1L)))
            .exists(_.name() == "price_pos"),
          "q177: the constraint record must be per-generation")
        // a violating INSERT fails loudly; nothing lands
        val viol = try {
          s.sql(
            """INSERT INTO graft.orders_ck BY NAME
              |SELECT 999999999L AS o_orderkey, 'X' AS o_orderstatus,
              |  -1.0 AS o_totalprice, 1995 AS y,
              |  CAST(NULL AS BIGINT) AS vgen""".stripMargin); None
        } catch { case t: Throwable => Some(t) }
        require(viol.nonEmpty &&
            FactVersioned.generations(s, path) == Seq(0L, 1L),
          "q177: a violating INSERT must fail with no commit")
        // a conforming INSERT lands (doubled 1995 sample, flagged 'C')
        s.sql(
          """INSERT INTO graft.orders_ck BY NAME
            |SELECT o_orderkey + 60000000 AS o_orderkey, 'C' AS
            |  o_orderstatus, o_totalprice * 2 AS o_totalprice, y,
            |  CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_ck
            |WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin)
        // a violating MERGE through the custom command path fails too
        val mviol = try {
          s.sql(
            """MERGE INTO graft.orders_ck t
              |USING (SELECT min(o_orderkey) AS k FROM graft.orders_ck
              |       WHERE y = 1995) s
              |ON t.o_orderkey = s.k
              |WHEN MATCHED THEN UPDATE SET o_totalprice = -5.0""".stripMargin)
          None
        } catch { case t: Throwable => Some(t) }
        require(mviol.exists(t => causeMessages(t)
            .exists(_.contains("price_pos"))),
          "q177: a violating MERGE must name the constraint")
        // DROP lifts enforcement for later writes
        s.sql("ALTER TABLE graft.orders_ck DROP CONSTRAINT price_pos")
        require(graft.catalog.GraftCatalog.decodeConstraints(
            FactVersioned.tableProperties(s, path)).isEmpty,
          "q177: DROP CONSTRAINT must clear the head record")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus,
            |  round(o_totalprice, 2) AS o_totalprice, y
            |FROM graft.orders_ck""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // Pointer-based TABLE RENAME (the object-store endgame, now the
    // only rename): the statement is ONE record swap in the warehouse
    // _graft_names file — FS-asserted:
    // the table tree NEVER moves (the physical dir keeps its
    // _graft_gens; no tree appears at the new default path), the new
    // name resolves and accepts writes into the SAME physical dir, the
    // old name fails with re-target guidance, and an explicit CREATE
    // of the old name supersedes it at a fresh physical dir. Output
    // value-gated against the DuckDB from-scratch recomputation.
    "q179_sql_pointer_rename" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q179_").toString
      val path = s"$wh/orders_pr"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql("ALTER TABLE graft.orders_pr RENAME TO orders_pr2")
        // the tree NEVER moved: one pointer swap, zero data-path cost
        require(fs.exists(new org.apache.hadoop.fs.Path(
            s"$path/_graft_gens")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(s"$wh/orders_pr2")),
          "q179: the pointer rename must not move the tree")
        // the old name fails with re-target guidance
        val stale = try { s.sql("SELECT * FROM graft.orders_pr")
          .collect(); None } catch { case t: Throwable => Some(t) }
        require(stale.exists(t => causeMessages(t)
            .exists(m => m.contains("RENAMED") &&
              m.contains("orders_pr2"))),
          "q179: the old name must re-target loudly")
        // a write through the NEW name lands in the SAME physical dir
        s.sql(
          """INSERT INTO graft.orders_pr2 BY NAME
            |SELECT o_orderkey + 80000000 AS o_orderkey, 'P' AS
            |  o_orderstatus, o_totalprice, y,
            |  CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_pr2
            |WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin)
        require(FactVersioned.generations(s, path) == Seq(0L, 1L),
          "q179: the new-name INSERT must commit into the old tree")
        // an explicit CREATE of the old name supersedes the guidance
        // at a FRESH physical dir (the default one holds the renamed
        // table's data)
        s.sql("CREATE TABLE graft.orders_pr AS SELECT 1L AS marker")
        require(s.sql("SELECT count(*) FROM graft.orders_pr")
            .head.getLong(0) == 1 &&
            s.sql("SELECT count(*) FROM graft.orders_pr2")
              .head.getLong(0) > 1,
          "q179: the superseding CREATE and the renamed table must " +
            "coexist")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus,
            |  round(o_totalprice, 2) AS o_totalprice, y
            |FROM graft.orders_pr2""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    "q175_sql_tblproperties" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q175_").toString
      val path = s"$wh/orders_tp"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql("ALTER TABLE graft.orders_tp SET TBLPROPERTIES " +
          "('pipeline' = 'ingest-v2', 'tier' = 'gold', " +
          "'retention.days' = '30')")
        s.sql("ALTER TABLE graft.orders_tp UNSET TBLPROPERTIES ('tier')")
        // both property commits are metadata-only
        require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2")),
          "q175: property commits must stage no data")
        // era-readable: the pre-SET generation pinned no properties
        require(FactVersioned.tableProperties(s, path, Some(0L)).isEmpty,
          "q175: generation 0 must pin no properties")
        // a data commit INHERITS the record verbatim
        s.sql(
          """INSERT INTO graft.orders_tp BY NAME
            |SELECT o_orderkey + 70000000 AS o_orderkey, 'T' AS
            |  o_orderstatus, y, CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_tp
            |WHERE y = 1995 AND o_orderkey % 500 = 0""".stripMargin)
        require(FactVersioned.tableProperties(s, path) ==
            Map("pipeline" -> "ingest-v2", "retention.days" -> "30"),
          "q175: data commits must inherit the properties record")
        // the record rides a TABLE RENAME (it lives inside the tree)
        s.sql("ALTER TABLE graft.orders_tp RENAME TO orders_tp2")
        val out = s.sql("SHOW TBLPROPERTIES graft.orders_tp2")
          .where(col("key").isin("pipeline", "tier", "retention.days"))
          .select(col("key"), col("value"))
          .localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // ADD COLUMN FIRST/AFTER + DEFAULT in one lifecycle (r16 — the last
    // rejected ALTER shape): position is purely presentational (the
    // pinned schema's order IS the presented order; reads stay
    // by-name), so the commit is the same metadata-only shape as any
    // add. In-gate asserts: zero staged bytes, presented column order,
    // carried rows read the default, post-add INSERT persists real
    // values. Output value-gated against the DuckDB mirror (the
    // driver's compare sorts columns by name, so the VALUE gate is
    // order-blind — the order assert lives in-gate).
    "q174_sql_column_position" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q174_").toString
      val path = s"$wh/orders_pos"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql("ALTER TABLE graft.orders_pos ADD COLUMN flag STRING " +
          "DEFAULT 'n' AFTER o_orderkey")
        s.sql("ALTER TABLE graft.orders_pos ADD COLUMN grp INT FIRST")
        // metadata-only: neither positioned add staged data
        require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2")),
          "q174: positioned adds must stage no data")
        // the pinned order presents (partition column and vgen keep
        // their discovery/provenance slots)
        val cols = s.sql("SELECT * FROM graft.orders_pos").columns.toSeq
          .filterNot(c => c == FactVersioned.VGenCol || c == "y")
        require(cols == Seq("grp", "o_orderkey", "flag",
            "o_orderstatus", "o_totalprice"),
          s"q174: pinned order must present, got $cols")
        // carried rows read the default through the positioned slot
        require(s.sql("SELECT count(*) FROM graft.orders_pos " +
            "WHERE flag = 'n' AND grp IS NULL").head.getLong(0) ==
            o.count(),
          "q174: carried rows must read the default and null-fill")
        s.sql(
          """INSERT INTO graft.orders_pos BY NAME
            |SELECT 7 AS grp, o_orderkey + 60000000 AS o_orderkey,
            |  'y' AS flag, 'P' AS o_orderstatus, o_totalprice, y,
            |  CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_pos
            |WHERE y = 1996 AND o_orderkey % 100 = 0""".stripMargin)
        val out = s.sql(
          """SELECT grp, o_orderkey, flag, o_orderstatus,
            |  round(o_totalprice, 2) AS o_totalprice, y
            |FROM graft.orders_pos""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // `ALTER COLUMN ... TYPE` safe widenings (VERDICT r15 Next #4):
    // int->bigint and float->double commit METADATA-ONLY — carried
    // files stay narrow on disk and the parquet reader fills the wider
    // pinned schema in place (verified against Spark 4.1's vectorized
    // reader); new writes stage wide (a post-widen INSERT lands values
    // above int range); time travel keeps the narrow era; narrowings
    // are rejected. In-gate asserts: zero staged bytes for the ALTERs,
    // pre/post-widen types, an above-int-range value round-trips.
    // Output value-gated against the DuckDB mirror (same widening
    // casts applied to the raw table).
    "q172_sql_widen_types" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q172_").toString
      val path = s"$wh/orders_w"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_custkey").cast("int").as("cust"),
          col("o_totalprice").cast("float").as("pricef"),
          year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql("ALTER TABLE graft.orders_w ALTER COLUMN cust TYPE BIGINT")
        s.sql("ALTER TABLE graft.orders_w ALTER COLUMN pricef TYPE DOUBLE")
        require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2")),
          "q172: the widenings must stage no data")
        val head = s.sql("SELECT * FROM graft.orders_w")
        require(head.schema("cust").dataType ==
            org.apache.spark.sql.types.LongType &&
            head.schema("pricef").dataType ==
              org.apache.spark.sql.types.DoubleType,
          "q172: the head must present the widened types")
        // time travel keeps the narrow era
        val v0 = s.sql("SELECT * FROM graft.orders_w VERSION AS OF 0")
        require(v0.schema("cust").dataType ==
            org.apache.spark.sql.types.IntegerType &&
            v0.schema("pricef").dataType ==
              org.apache.spark.sql.types.FloatType,
          "q172: VERSION AS OF 0 must keep the narrow types")
        // a post-widen INSERT stages values ABOVE the int range
        s.sql(
          """INSERT INTO graft.orders_w BY NAME
            |SELECT o_orderkey + 50000000 AS o_orderkey, 'W' AS
            |  o_orderstatus, cust + 3000000000 AS cust,
            |  pricef * 2 AS pricef, y, CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_w
            |WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin)
        require(s.sql("SELECT count(*) FROM graft.orders_w " +
            "WHERE cust > 3000000000").head.getLong(0) > 0,
          "q172: post-widen writes must hold above-int-range values")
        // narrowing back is rejected (Spark pre-rejects non-up-casts;
        // our leafWidens rejects the lossy up-casts Spark allows)
        val lossy = try {
          s.sql("ALTER TABLE graft.orders_w ALTER COLUMN cust " +
            "TYPE DOUBLE"); None
        } catch { case t: Throwable => Some(t) }
        require(lossy.exists(t => causeMessages(t)
            .exists(_.contains("not a safe widening"))),
          "q172: long -> double must be rejected as lossy")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus, cust, pricef, y
            |FROM graft.orders_w""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // SQL `INSERT OVERWRITE` (VERDICT r15 Next #5 — the spelling every
    // Spark user types first): a static PARTITION spec routes to ONE
    // versioned replace-partitions commit scoped to exactly the spec'd
    // set — write-amp ∝ the spec, untouched partitions carried
    // byte-identical (FS-asserted: only y=1995 staged, y=1996 files
    // identical), time travel keeps the pre-overwrite head. Output
    // value-gated against the DuckDB from-scratch recomputation.
    "q173_sql_insert_overwrite" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q173_").toString
      val path = s"$wh/orders_ow"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val dataRoot = s"$path/${FactVersioned.DataDir}"
        def files(d: String): Set[String] =
          fs.listStatus(new org.apache.hadoop.fs.Path(d))
            .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
        val carriedBefore = files(
          s"$dataRoot/${FactVersioned.VGenCol}=0/y=1996")
        s.sql(
          """INSERT OVERWRITE graft.orders_ow PARTITION (y = 1995)
            |SELECT o_orderkey, 'K' AS o_orderstatus,
            |  o_totalprice * 3 AS o_totalprice,
            |  CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_ow
            |WHERE y = 1995 AND o_orderkey % 2 = 0""".stripMargin)
        // ONE commit; only the spec'd partition staged under it
        require(FactVersioned.generations(s, path) == Seq(0L, 1L),
          "q173: the overwrite must be one commit")
        val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$dataRoot/${FactVersioned.VGenCol}=1"))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
        require(staged == Set("y=1995"),
          s"q173: only the spec'd partition may stage, got $staged")
        // the untouched partition carried byte-identical
        require(files(s"$dataRoot/${FactVersioned.VGenCol}=0/y=1996") ==
            carriedBefore,
          "q173: untouched partitions must carry byte-identical")
        // time travel keeps the pre-overwrite head
        require(s.sql(
            "SELECT count(*) FROM graft.orders_ow VERSION AS OF 0")
          .head.getLong(0) == o.count(),
          "q173: VERSION AS OF 0 must read the pre-overwrite content")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus,
            |  round(o_totalprice, 2) AS o_totalprice, y
            |FROM graft.orders_ow""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // SQL `INSERT OVERWRITE` under partitionOverwriteMode=dynamic
    // (VERDICT r16 Next #1 — the spelling every Spark ETL job that
    // overwrites "whatever partitions the data touches" uses): the
    // touched set is DATA-derived — the statement carries no spec, yet
    // exactly the two partitions the SELECT produces rows for stage
    // (FS-asserted), the other two carry byte-identical, ONE versioned
    // commit, time travel keeps the pre-overwrite head. Output
    // value-gated against the DuckDB from-scratch recomputation.
    "q176_sql_insert_overwrite_dynamic" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q176_").toString
      val path = s"$wh/orders_dyn"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996, 1997, 1998))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      val prevMode =
        s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
      s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val dataRoot = s"$path/${FactVersioned.DataDir}"
        def files(d: String): Set[String] =
          fs.listStatus(new org.apache.hadoop.fs.Path(d))
            .map(_.getPath.getName).filter(_.endsWith(".parquet")).toSet
        val carried97 = files(
          s"$dataRoot/${FactVersioned.VGenCol}=0/y=1997")
        val carried98 = files(
          s"$dataRoot/${FactVersioned.VGenCol}=0/y=1998")
        // NO PARTITION clause — dynamic mode derives the touched set
        // from the data, which only holds y ∈ {1995, 1996}
        s.sql(
          """INSERT OVERWRITE graft.orders_dyn
            |SELECT o_orderkey, 'D' AS o_orderstatus,
            |  o_totalprice * 2 AS o_totalprice,
            |  CAST(NULL AS BIGINT) AS vgen, y
            |FROM graft.orders_dyn
            |WHERE y IN (1995, 1996) AND o_orderkey % 2 = 1""".stripMargin)
        // ONE commit; exactly the data's partitions staged under it
        require(FactVersioned.generations(s, path) == Seq(0L, 1L),
          "q176: the dynamic overwrite must be one commit")
        val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$dataRoot/${FactVersioned.VGenCol}=1"))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
        require(staged == Set("y=1995", "y=1996"),
          s"q176: exactly the data's partitions may stage, got $staged")
        // the untouched partitions carried byte-identical
        require(files(s"$dataRoot/${FactVersioned.VGenCol}=0/y=1997") ==
            carried97 &&
            files(s"$dataRoot/${FactVersioned.VGenCol}=0/y=1998") ==
              carried98,
          "q176: untouched partitions must carry byte-identical")
        // time travel keeps the pre-overwrite head
        require(s.sql(
            "SELECT count(*) FROM graft.orders_dyn VERSION AS OF 0")
          .head.getLong(0) == o.count(),
          "q176: VERSION AS OF 0 must read the pre-overwrite content")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus,
            |  round(o_totalprice, 2) AS o_totalprice, y
            |FROM graft.orders_dyn""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally {
        s.conf.unset("spark.sql.catalog.graft.retain")
        prevMode match {
          case Some(m) =>
            s.conf.set("spark.sql.sources.partitionOverwriteMode", m)
          case None =>
            s.conf.unset("spark.sql.sources.partitionOverwriteMode")
        }
      }
    }),

    "q171_sql_add_default" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q171_").toString
      val path = s"$wh/orders_def"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"),
          col("o_totalprice"), year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val baseN = o.count()
        s.sql("ALTER TABLE graft.orders_def ADD COLUMN tier STRING " +
          "DEFAULT 'std'")
        require(FactVersioned.generations(s, path) == Seq(0L, 1L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
          "q171: ADD COLUMN DEFAULT must stage no data")
        // every carried row reads the default — never null
        require(s.sql("SELECT count(*) FROM graft.orders_def " +
            "WHERE tier = 'std'").head.getLong(0) == baseN,
          "q171: carried rows must read the default")
        // new writes persist REAL values; an explicit NULL stays NULL
        s.sql(
          """INSERT INTO graft.orders_def BY NAME
            |SELECT o_orderkey + 40000000 AS o_orderkey, 'V' AS
            |  o_orderstatus, o_totalprice, y,
            |  CASE WHEN o_orderkey % 200 = 0 THEN CAST(NULL AS STRING)
            |       ELSE 'vip' END AS tier,
            |  CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_def
            |WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin)
        require(s.sql("SELECT count(*) FROM graft.orders_def " +
            "WHERE o_orderkey > 40000000 AND tier IS NULL")
          .head.getLong(0) > 0 ||
          s.sql("SELECT count(*) FROM graft.orders_def " +
            "WHERE o_orderkey > 40000000 AND o_orderkey % 200 <> 0 " +
            "AND tier = 'vip'").head.getLong(0) > 0,
          "q171: post-add writes must persist their own values")
        // time travel keeps the pre-add shape
        require(!s.sql("SELECT * FROM graft.orders_def VERSION AS OF 0")
          .columns.contains("tier"),
          "q171: VERSION AS OF 0 must keep the pre-add schema")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus,
            |  round(o_totalprice, 2) AS o_totalprice, y, tier
            |FROM graft.orders_def""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // NESTED struct-field rename (`ALTER TABLE ... RENAME COLUMN s.f`,
    // VERDICT r14 Next #5 — the last rejected ALTER shape): the field
    // keeps its PHYSICAL on-file leaf name; the commit is the same
    // metadata-only column-mapping shape as a top-level rename (dotted
    // colmap entry), reads rebind the struct positionally at the scan
    // seam, later DML stages physical at every depth, and the old
    // spelling is tombstoned. In-gate asserts: zero staged bytes,
    // carried VALUES readable under the new field name via SQL
    // (projection + filter through the rename shim), post-rename
    // INSERT stages the physical leaf, the old spelling fails loudly,
    // time travel keeps both sides, and the CDC window spanning the
    // rename is exact. Output value-gated against the DuckDB mirror
    // (flat projection).
    "q170_sql_nested_rename" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q170_").toString
      val path = s"$wh/orders_nr"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"),
          struct(col("o_orderstatus").as("status"),
            col("o_totalprice").as("price")).as("meta"),
          year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql("ALTER TABLE graft.orders_nr RENAME COLUMN meta.price " +
          "TO amount")
        // metadata-only: one generation, zero staged bytes
        require(FactVersioned.generations(s, path) == Seq(0L, 1L) &&
            !fs.exists(new org.apache.hadoop.fs.Path(
              s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
          "q170: the nested rename must stage no data")
        // carried values read under the new spelling; old fails loudly
        val sum0 = s.sql(
          "SELECT round(sum(meta.amount), 2) FROM graft.orders_nr")
          .head.getDouble(0)
        val old = try {
          s.sql("SELECT meta.price FROM graft.orders_nr").collect(); None
        } catch { case t: Throwable => Some(t) }
        require(old.nonEmpty,
          "q170: the old nested spelling must fail after the rename")
        // time travel keeps the pre-rename era
        require(s.sql(
            "SELECT round(sum(meta.price), 2) FROM graft.orders_nr " +
              "VERSION AS OF 0").head.getDouble(0) == sum0,
          "q170: VERSION AS OF 0 must read the old spelling, same values")
        // post-rename INSERT: stages the PHYSICAL leaf name
        s.sql(
          """INSERT INTO graft.orders_nr BY NAME
            |SELECT o_orderkey + 30000000 AS o_orderkey,
            |  named_struct('status', 'N', 'amount', meta.amount * 2)
            |    AS meta,
            |  y, CAST(NULL AS BIGINT) AS vgen
            |FROM graft.orders_nr
            |WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin)
        val stagedMeta = s.read.parquet(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2")
          .schema("meta").dataType
          .asInstanceOf[org.apache.spark.sql.types.StructType]
        require(stagedMeta.fieldNames.toSeq == Seq("status", "price"),
          s"q170: staged files must keep the physical leaf, got " +
            s"${stagedMeta.fieldNames.toSeq}")
        // the CDC window spanning the rename is exact: only the
        // inserted rows surface, carried rows emit NOTHING
        val w = graft.operators.FactChangeFeed.window(
          s, path, Seq("o_orderkey"), Some(0L), 2L)
        val ops = w.groupBy(col("op")).count().collect()
          .map(r => r.getString(0) -> r.getLong(1)).toMap
        require(ops.keySet == Set("insert"),
          s"q170: the spanning window must hold only inserts, got $ops")
        val out = s.sql(
          """SELECT o_orderkey, meta.status AS status,
            |  round(meta.amount, 2) AS amount, y
            |FROM graft.orders_nr""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // TABLE rename (`ALTER TABLE ... RENAME TO`): ONE pointer swap in
    // the warehouse name record — O(1) at any table size, because the
    // tree (generations, manifests, colmaps, tombstones, sidecars,
    // default merge keys) never moves. In-gate asserts: the tree stays
    // put, no directory appears at the new default path, the rename
    // adds no generation and stages no data, the old name fails loudly
    // naming the new one, full DML (MERGE with its write-amp contract)
    // and time travel continue under the new name. Output value-gated
    // against the DuckDB from-scratch recomputation.
    "q169_sql_table_rename" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q169_").toString
      val path = s"$wh/orders_tr"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("y"))
        .where(col("y").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "y",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        s.sql("ALTER TABLE graft.orders_tr RENAME TO orders_moved")
        require(fs.exists(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.GensDir}")) &&
            !fs.exists(new org.apache.hadoop.fs.Path(s"$wh/orders_moved")),
          "q169: the rename must not move the tree")
        require(FactVersioned.generations(s, path) == Seq(0L),
          "q169: the rename must add no generation and stage no data")
        val old = try {
          s.sql("SELECT * FROM graft.orders_tr").collect(); None
        } catch { case t: Throwable => Some(t) }
        require(old.exists(t => causeMessages(t)
            .exists(m => m.contains("RENAMED") &&
              m.contains("orders_moved"))),
          s"q169: the old name must fail naming the new table, got " +
            s"${old.map(causeMessages)}")
        // full DML under the new name: MERGE doubles 1995 evens, and
        // its write-amp contract holds across the rename (only the
        // scoped partition stages, in the table's own tree)
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW q169_src AS
            |SELECT o_orderkey, y, 'U' AS o_orderstatus,
            |  o_totalprice * 2 AS o_totalprice
            |FROM graft.orders_moved
            |WHERE y = 1995 AND o_orderkey % 2 = 0""".stripMargin)
        s.sql(
          """MERGE INTO graft.orders_moved t USING q169_src s
            |ON t.o_orderkey = s.o_orderkey
            |WHEN MATCHED THEN UPDATE SET
            |  o_orderstatus = s.o_orderstatus,
            |  o_totalprice = s.o_totalprice""".stripMargin)
        val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
        require(staged == Set("y=1995"),
          s"q169: MERGE after the rename must stage only the scoped " +
            s"partition, got $staged")
        // time travel crossed the rename intact
        require(s.sql(
            "SELECT count(*) FROM graft.orders_moved VERSION AS OF 0")
          .head.getLong(0) == o.count(),
          "q169: VERSION AS OF 0 must read the pre-rename content")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus, o_totalprice, y
            |FROM graft.orders_moved""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // TIMESTAMP-typed partition columns (VERDICT r13 Next #8 — the
    // last carried type limit; hour/day-partitioned event tables are
    // the 100 TB norm): the full lifecycle over a fact table
    // partitioned by a TIMESTAMP column — upsert (dir names derive
    // through Spark's own cast-to-string layout,
    // FactVersioned.partitionDirName), SQL MERGE (probe carries the
    // timestamp partition slot; write-amp = the one touched day,
    // FS-asserted), and OPTIMIZE WHERE over a TIMESTAMP literal range (typed
    // comparison, never string compare). Output value-gated against
    // the DuckDB mirror; timestamps leave the output as strings (the
    // oracle-compare dtype contract).
    // Transform partitioning (VERDICT r16 Next #3 — the Iceberg
    // `PARTITIONED BY (days(ts))` spelling): the generated column is
    // derived at write (CTAS + INSERT; supplied values ignored), dirs
    // are readable day strings, and a plain `WHERE ts` range reads
    // ONLY the matching day dirs (hidden partitioning, FS-asserted via
    // the files the scan actually opened). Output value-gated against
    // the DuckDB from-scratch recomputation.
    "q178_sql_transform_partitioning" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q178_").toString
      val path = s"$wh/ev_days"
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        t(s, dir, "events")
          .select(col("event_id"), col("user_id"), col("value"), col("ts"))
          .createOrReplaceTempView("q178_src")
        s.sql(
          """CREATE TABLE graft.ev_days PARTITIONED BY (days(ts)) AS
            |SELECT event_id, user_id, value, ts FROM q178_src""".stripMargin)
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        // dirs are readable day strings under the GENERATED column
        val dirs = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=0"))
          .filter(_.isDirectory).map(_.getPath.getName).toSet
        require(dirs.nonEmpty && dirs.forall(_.matches(
            "ts_day=\\d{4}-\\d{2}-\\d{2}")),
          s"q178: partition dirs must be day strings, got $dirs")
        // INSERT derives ts_day — the supplied value is ignored
        s.sql(
          """INSERT INTO graft.ev_days BY NAME
            |SELECT 900000001L AS event_id, 1L AS user_id,
            |  2.5 AS value, TIMESTAMP '2024-01-03 12:34:56' AS ts,
            |  '1999-01-01' AS ts_day,
            |  CAST(NULL AS BIGINT) AS vgen""".stripMargin)
        require(s.sql("SELECT ts_day FROM graft.ev_days " +
            "WHERE event_id = 900000001").head.getString(0) ==
            "2024-01-03",
          "q178: the generated column must be derived, not taken " +
            "from input")
        // HIDDEN PARTITIONING: a plain ts range reads only the two
        // matching day dirs — asserted from the files the scan
        // actually opened
        val q = s.sql(
          """SELECT event_id FROM graft.ev_days
            |WHERE ts >= TIMESTAMP '2024-01-03 00:00:00'
            |  AND ts < TIMESTAMP '2024-01-05 00:00:00'""".stripMargin)
        val readDays = q.select(input_file_name()).distinct().collect()
          .map(_.getString(0))
          .flatMap(f => "ts_day=[0-9-]+".r.findFirstIn(f)).toSet
        require(readDays == Set("ts_day=2024-01-03", "ts_day=2024-01-04"),
          s"q178: the ts range must prune to its two days, read " +
            s"$readDays")
        val out = s.sql(
          """SELECT event_id, ts_day, round(value, 4) AS value
            |FROM graft.ev_days""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    "q164_sql_timestamp_partitions" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q164_").toString
      val path = s"$wh/events_ts"
      val ev = t(s0, dir, "events")
        .select(col("event_id"), col("user_id"), col("value"),
          date_trunc("DAY", col("ts")).as("p_ts"))
      FactVersioned.upsert(s0, path, ev, Seq("event_id"), "p_ts",
        retain = 10)
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      try {
        // MERGE scoped to one day: even event_ids double their value
        s.sql(
          """CREATE OR REPLACE TEMPORARY VIEW q164_src AS
            |SELECT event_id, p_ts, value * 2 AS value
            |FROM graft.events_ts
            |WHERE p_ts = TIMESTAMP '2024-01-03 00:00:00'
            |  AND event_id % 2 = 0""".stripMargin)
        s.sql(
          """MERGE INTO graft.events_ts t USING q164_src s
            |ON t.event_id = s.event_id
            |WHEN MATCHED THEN UPDATE SET value = s.value
            |""".stripMargin)
        // write amplification: exactly the one touched day staged
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
          .filter(_.isDirectory).map(_.getPath.getName).toSeq
        require(staged.length == 1 &&
          staged.head.startsWith("p_ts=2024-01-03"),
          s"q164: the merge must stage exactly the touched day, " +
            s"got $staged")
        // OPTIMIZE over a TIMESTAMP range: typed comparison scopes two
        // days
        val compacted = s.sql(
          """OPTIMIZE graft.events_ts
            |WHERE p_ts >= TIMESTAMP '2024-01-10 00:00:00'
            |  AND p_ts < TIMESTAMP '2024-01-12 00:00:00'""".stripMargin)
          .collect().head.getLong(1)
        require(compacted == 2,
          s"q164: the TIMESTAMP range must scope exactly 2 day " +
            s"partitions, got $compacted")
        val out = s.sql(
          """SELECT event_id,
            |  date_format(p_ts, 'yyyy-MM-dd HH:mm:ss') AS p_day,
            |  round(value, 4) AS value
            |FROM graft.events_ts""".stripMargin).localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally s.conf.unset("spark.sql.catalog.graft.retain")
    }),

    // `table_changes()` SQL door (VERDICT r12 Next #3): the CDC change
    // feed in FROM-clause position — a TABLE-VALUED function over
    // [[FactChangeFeed.window]], so analysts read generation deltas in
    // plain SQL (the Delta `table_changes` shape; diff keys passed
    // explicitly since this store computes CDC from immutable
    // generation diffs instead of persisting change rows). In-gate:
    // hash-equal to the operator twin, and the from-empty window
    // (-1 → 0) is all-inserts with the base cardinality. Output
    // value-gated against the DuckDB change-set mirror.
    "q157_sql_table_changes" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q157_").toString
      val path = s"$wh/orders_tc"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val batch = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(
          o.where(col("p_year") === 1996 && col("o_orderkey") % 3 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      FactVersioned.upsert(s0, path, batch, Seq("o_orderkey"), "p_year")
      val s = s0
      graft.GraftFunctions.register(s)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      val out = s.sql(
        """SELECT op, o_orderkey, o_orderstatus, o_totalprice
          |FROM graft_table_changes('graft.orders_tc', 'o_orderkey', 0, 1)
          |""".stripMargin).localCheckpoint()
      // hash-equal to the operator twin — the twin's full window diff
      // runs overlapped with the seed-window probe below (guide §2.6)
      val twin = graft.operators.FactChangeFeed
        .window(s, path, Seq("o_orderkey"), Some(0L), 1L)
        .select("op", "o_orderkey", "o_orderstatus", "o_totalprice")
      val twinF = CallSites.overlapped(s)(twin.collect().toSet)
      // the from-empty window is the full initial snapshot as inserts
      val seed = s.sql(
        """SELECT op FROM
          |graft_table_changes('graft.orders_tc', 'o_orderkey', -1, 0)
          |""".stripMargin).collect()
      require(seed.length == o.count() && seed.forall(_.getString(0) == "insert"),
        "q157: the from-empty window must be the all-inserts snapshot")
      require(out.collect().toSet == scala.concurrent.Await.result(twinF,
          graft.operators.Overlap.AwaitTimeout),
        "q157: SQL table_changes must be hash-equal to the " +
          "FactChangeFeed.window operator twin")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // KEYLESS `table_changes()` (VERDICT r13 Next #2 — Delta's
    // `table_changes('t', from, to)` needs no key argument): the diff
    // keys resolve from the table's RECORDED default merge keys,
    // written at its first upsert. In-gate: hash-equal to the
    // explicit-keys twin, and a table with NO recorded keys (a raw
    // parquet-dir append) fails with the pass-keys-explicitly
    // guidance. Same DuckDB change-set mirror as q157 — the upsert
    // history is identical.
    "q162_sql_table_changes_keyless" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q162_").toString
      val path = s"$wh/orders_kl"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      // first upsert records o_orderkey as the default merge key
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      require(FactVersioned.recordedMergeKeys(s0, path)
          .contains(Seq("o_orderkey")),
        "q162: the first upsert must record the default merge keys")
      val batch = o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
        .unionByName(
          o.where(col("p_year") === 1996 && col("o_orderkey") % 3 === 0)
            .withColumn("o_orderkey", col("o_orderkey") + 10000000L))
      FactVersioned.upsert(s0, path, batch, Seq("o_orderkey"), "p_year")
      val s = s0
      graft.GraftFunctions.register(s)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      val out = s.sql(
        """SELECT op, o_orderkey, o_orderstatus, o_totalprice
          |FROM graft_table_changes('graft.orders_kl', 0, 1)
          |""".stripMargin).localCheckpoint()
      // hash-equal to the explicit-keys twin — its full window diff
      // overlaps the bare-table guidance probe below (guide §2.6)
      val twin = s.sql(
        """SELECT op, o_orderkey, o_orderstatus, o_totalprice
          |FROM graft_table_changes('graft.orders_kl', 'o_orderkey', 0, 1)
          |""".stripMargin)
      val twinF = CallSites.overlapped(s)(twin.collect().toSet)
      // a table with no recorded keys fails with guidance
      val bare = s"$wh/bare"
      o.limit(10).write.parquet(bare)
      val e = try {
        s.sql(s"SELECT * FROM graft_table_changes('$bare', 0, 0)")
          .collect()
        None
      } catch { case t: Throwable => Some(t) }
      require(e.exists(t =>
          causeMessages(t).exists(_.contains("explicitly"))),
        s"q162: a keyless call over an unrecorded table must carry " +
          s"the pass-keys-explicitly guidance, got ${e.map(causeMessages)}")
      require(out.collect().toSet == scala.concurrent.Await.result(twinF,
          graft.operators.Overlap.AwaitTimeout),
        "q162: the keyless form must be hash-equal to the " +
          "explicit-keys twin")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // INSERT-door schema widening (VERDICT r13 missing #6 — Delta's
    // conf-gated `mergeSchema` append posture): with
    // spark.graft.schema.autoMerge.enabled, an INSERT BY NAME whose
    // source carries an extra column WIDENS the table first (a
    // metadata-only addColumns commit — zero staged bytes, asserted)
    // and then appends; carried rows null-fill on read. In-gate:
    // hash-equal to the addColumns+append API twin, conf-off posture
    // still rejects, and a TOMBSTONED (previously dropped) name stays
    // rejected at the widening door. Output value-gated against the
    // DuckDB mirror.
    "q163_sql_insert_evolve" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q163_").toString
      val path = s"$wh/orders_ie"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = graft.catalog.GraftDml.enable(s0)
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      // deep retention: the tombstone re-attempt below reads
      // VERSION AS OF 0 after four commits
      s.conf.set("spark.sql.catalog.graft.retain", "10")
      val widening =
        """INSERT INTO graft.orders_ie BY NAME
          |SELECT o_orderkey + 20000000 AS o_orderkey,
          |  'W' AS o_orderstatus, o_totalprice, p_year,
          |  concat('n-', CAST(o_orderkey AS STRING)) AS note
          |FROM graft.orders_ie VERSION AS OF 0
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin
      // conf OFF: the standard extra-columns rejection, nothing commits
      val off = try { s.sql(widening); None }
        catch { case t: Throwable => Some(t) }
      require(off.nonEmpty && FactVersioned.generations(s, path) == Seq(0L),
        "q163: with autoMerge off the widening INSERT must reject " +
          "without committing")
      s.conf.set(graft.catalog.GraftDml.AutoMergeConf, "true")
      try {
        s.sql(widening)
        require(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
          "q163: expected a metadata-only widening commit + an append")
        val fs = new org.apache.hadoop.fs.Path(wh)
          .getFileSystem(s.sparkContext.hadoopConfiguration)
        require(!fs.exists(new org.apache.hadoop.fs.Path(
            s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
          "q163: the widening commit must stage no data files")
        // API twin: addColumns + append produce identical content
        val twinPath = s"$wh/orders_ie_twin"
        FactVersioned.upsert(s0, twinPath, o, Seq("o_orderkey"), "p_year")
        FactVersioned.addColumns(s0, twinPath, Seq(
          org.apache.spark.sql.types.StructField("note",
            org.apache.spark.sql.types.StringType)))
        FactVersioned.append(s0, twinPath,
          o.where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
            .select((col("o_orderkey") + 20000000L).as("o_orderkey"),
              lit("W").as("o_orderstatus"), col("o_totalprice"),
              col("p_year"),
              concat(lit("n-"), col("o_orderkey").cast("string"))
                .as("note")),
          "p_year")
        val cols = Seq("o_orderkey", "o_orderstatus", "o_totalprice", "note")
        require(s.table("graft.orders_ie")
            .select(cols.map(col): _*).collect().toSet ==
          FactVersioned.read(s0, twinPath)
            .select(cols.map(col): _*).collect().toSet,
          "q163: the widening INSERT must be hash-equal to the " +
            "addColumns+append API twin")
        // tombstoned names stay rejected at the widening door
        s.sql("ALTER TABLE graft.orders_ie DROP COLUMN note")
        val dead = try { s.sql(widening); None }
          catch { case t: Throwable => Some(t) }
        require(dead.exists(t =>
            causeMessages(t).exists(_.contains("DROPPED"))),
          "q163: re-widening a tombstoned name must reject loudly")
        val out = s.sql(
          """SELECT o_orderkey, o_orderstatus, o_totalprice, note
            |FROM graft.orders_ie VERSION AS OF 2""".stripMargin)
          .localCheckpoint()
        fs.delete(new org.apache.hadoop.fs.Path(wh), true)
        out
      } finally {
        s.conf.unset(graft.catalog.GraftDml.AutoMergeConf)
        s.conf.unset("spark.sql.catalog.graft.retain")
      }
    }),

    // ALTER TABLE RENAME COLUMN (VERDICT r12 missing #6): metadata-only
    // rename via COLUMN MAPPING — the renamed column keeps its PHYSICAL
    // on-file name (data files are immutable and shared across
    // generations), the new generation's colmap records
    // logical→physical, reads alias back, and later commits stage under
    // physical names. In-gate: zero staged bytes (manifest+mapping
    // commit), carried VALUES read under the new name (the whole point
    // — oracle-verified against the raw data), VERSION AS OF keeps the
    // pre-rename schema, a post-rename INSERT lands under the new name,
    // and re-ADDing the old name is tombstone-rejected (carried files
    // still hold it physically — a re-add would resurrect stale values).
    "q160_sql_alter_rename_column" -> ((s0, dir) => {
      val wh = Files.createTempDirectory("graft_q160_").toString
      val path = s"$wh/orders_rn"
      val o = t(s0, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s0, path, o, Seq("o_orderkey"), "p_year")
      val s = s0
      s.conf.set("spark.sql.catalog.graft",
        classOf[graft.catalog.GraftCatalog].getName)
      s.conf.set("spark.sql.catalog.graft.root", wh)
      s.sql("ALTER TABLE graft.orders_rn RENAME COLUMN o_totalprice " +
        "TO amount")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L),
        "q160: the rename must commit exactly one generation")
      val fs = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      require(!fs.exists(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
        "q160: the rename must stage no data files")
      require(s.sql("SELECT * FROM graft.orders_rn VERSION AS OF 0")
        .columns.exists(_.equalsIgnoreCase("o_totalprice")),
        "q160: VERSION AS OF 0 must keep the pre-rename schema")
      // post-rename INSERT lands under the new name (staged physically
      // under the ORIGINAL name — one physical namespace per table)
      s.sql(
        """INSERT INTO graft.orders_rn BY NAME
          |SELECT o_orderkey + 10000000 AS o_orderkey,
          |  'R' AS o_orderstatus, o_totalprice * 2 AS amount, p_year
          |FROM graft.orders_rn VERSION AS OF 0
          |WHERE p_year = 1995 AND o_orderkey % 2 = 0""".stripMargin)
      val staged = stagedFileColumns(s, path, 2L)
      require(staged.contains("o_totalprice") && !staged.contains("amount"),
        s"q160: post-rename staging must use the physical name, " +
          s"got $staged")
      // the old name cannot come back over carried files
      val readd =
        try { s.sql(
          "ALTER TABLE graft.orders_rn ADD COLUMN o_totalprice DOUBLE"); "" }
        catch { case e: Throwable => Option(e.getMessage).getOrElse("") }
      require(readd.contains("DROPPED"),
        s"q160: re-adding the renamed-away name must be rejected, " +
          s"got: $readd")
      val out = s.sql(
        """SELECT o_orderkey, o_orderstatus, amount
          |FROM graft.orders_rn""".stripMargin)
        .localCheckpoint()
      fs.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // OPTIMIZE ZORDER BY on the versioned store: compactPartitions
    // re-clusters every partition along the Morton curve of
    // (o_custkey, o_orderkey) and records per-file bounds, so a 2-D
    // box — which a single-column sort can only serve on its leading
    // column — prunes files in BOTH dimensions through readWhere.
    // In-gate: the z-ordered layout must skip ≥ half the files for
    // the box, and time travel to the pre-compaction generation must
    // still hold the same row count (content preservation). Output
    // value-gated against the raw box filter.
    "q129_zorder_compaction" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q129_").toString
      val path = s"$wh/orders_z"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_custkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      val years = o.select("p_year").distinct().collect()
        .map(_.get(0)).toIndexedSeq
      FactVersioned.replacePartitions(s, path, o, "p_year", years)
      val dirs = years.map(y => s"p_year=$y")
      FactVersioned.compactPartitions(s, path, dirs, "p_year",
        zorderCols = Seq("o_custkey", "o_orderkey"),
        statsCols = Seq("o_custkey", "o_orderkey"))
      val mc = o.agg(max("o_custkey")).head.get(0)
        .asInstanceOf[Number].longValue
      val mk = o.agg(max("o_orderkey")).head.get(0)
        .asInstanceOf[Number].longValue
      val pruned = FactVersioned.readWhere(s, path, None, Seq(
        DataSkipping.ColRange("o_custkey", lit(mc / 8), lit(mc / 4)),
        DataSkipping.ColRange("o_orderkey", lit(mk / 8), lit(mk / 4))))
      require(pruned.report.filesRead * 2 <= pruned.report.filesTotal,
        s"q129: z-order box should skip >=half the files, read " +
          s"${pruned.report.filesRead}/${pruned.report.filesTotal}")
      require(FactVersioned.read(s, path, Some(0L)).count() ==
        FactVersioned.read(s, path, Some(1L)).count(),
        "q129: compaction must preserve content")
      val out = pruned.df
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .localCheckpoint()
      val fsQ = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fsQ.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Min/max view maintenance under retraction — the path q108's
    // count/sum algebra cannot express: deletes remove group F's price
    // extremes and updates retract rows out of their 1995 groups, so
    // min/max recompute from the post-change table for EXACTLY the
    // dirty groups (literal null-safe predicate → partition-prunable),
    // while group 'U' (insert/update_post only) rides the append-only
    // min/max merge. The maintained view must equal the from-scratch
    // recompute (the DuckDB mirror).
    "q112_minmax_retraction" -> ((s, dir) => {
      import org.apache.spark.sql.types.DecimalType
      val base = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("o_year"))
      def withDec(df: DataFrame) = df.withColumn("price_dec",
        col("o_totalprice").cast(DecimalType(18, 2)))
      val cur = withDec(base)
      // after-image: drop every 7th 'F' row (deletes dirty F), move
      // even-keyed 1995 rows to status U at 2× price (update_pre
      // dirties their old groups; U itself stays clean — insert-only)
      val next = withDec(base
        .where(!(col("o_orderstatus") === "F" && col("o_orderkey") % 7 === 0))
        .withColumn("o_orderstatus",
          when(col("o_year") === 1995 && col("o_orderkey") % 2 === 0, "U")
            .otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(col("o_year") === 1995 && col("o_orderkey") % 2 === 0,
            col("o_totalprice") * 2).otherwise(col("o_totalprice"))))
      val stats = Seq(graft.operators.IncrementalAgg.Stat("price_dec"))
      val state0 = graft.operators.IncrementalAgg.aggregateBatch(
        cur, Seq("o_orderstatus"), stats, trackRows = true)
      val changes = Changelog.changeSet(cur, next, Seq("o_orderkey"),
        dedupNullKeyed = true, emitDeletes = true)
      graft.operators.IncrementalAgg.applyChangeSetWithRecompute(
        state0, changes, next, Seq("o_orderstatus"), stats)
        .select(col("o_orderstatus"),
          col("price_dec__count").as("n_orders"),
          col("price_dec__sum").cast("double").as("total_price"),
          col("price_dec__min").cast("double").as("min_price"),
          col("price_dec__max").cast("double").as("max_price"))
    }),

    // Small-file compaction with time travel intact: three drip
    // commits accumulate files in the 1995 partition; compactPartitions
    // rewrites it as ONE file in a fresh generation with content
    // unchanged. In-gate: >1 file before, exactly 1 after, and the
    // pre-compaction head still reads (time travel). Value gate: the
    // aggregate over the pre-compaction head (phase 0) and over the
    // compacted head (phase 1) must be IDENTICAL rows — any content
    // drift from the rewrite hash-mismatches the mirror.
    "q117_fact_compaction" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q117_").toString
      val path = s"$wh/orders_fact"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
        .where(col("p_year").isin(1995, 1996))
      FactVersioned.upsert(s, path, o, Seq("o_orderkey"), "p_year")
      (1 to 3).foreach { i =>
        val upd = o.where(col("p_year") === 1995 && col("o_orderkey") % 7 === i)
          .withColumn("o_totalprice", col("o_totalprice") + i)
        FactVersioned.upsert(s, path, upd, Seq("o_orderkey"), "p_year",
          retain = 10)
      }
      val preHead = FactVersioned.generations(s, path).max
      // memoized manifest rows (zero Spark jobs) — was a per-call
      // spark.read of the manifest, one job per probe
      def filesOf(g: Long): Long =
        FactVersioned.manifestFiles(s, path, g)
          .count(_._1 == "p_year=1995").toLong
      require(filesOf(preHead) > 1,
        s"q117: drip commits must accumulate files, got ${filesOf(preHead)}")
      val c = FactVersioned.compactPartitions(s, path, Seq("p_year=1995"),
        "p_year", retain = 10)
      require(filesOf(c.gen) == 1,
        s"q117: compaction must coalesce to one file, got ${filesOf(c.gen)}")
      def agg(g: Long, phase: Int) = FactVersioned.read(s, path, Some(g))
        .groupBy(col("p_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_price"))
        .select(lit(phase).as("phase"), col("p_year"),
          col("n_orders"), col("total_price"))
      val out = agg(preHead, 0).unionByName(agg(c.gen, 1)).localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Generation diff: the row-level delta between two committed
    // versions of a table — deletes (keys absent from the after-image),
    // updates (pre+post), inserts — the audit question time travel
    // exists to answer, read as the change feed's (0, 1] window and
    // value-mirrored in full.
    "q109_generation_diff" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q109_").toString
      val path = s"$wh/orders_gen"
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val maxKey = o.agg(max(col("o_orderkey"))).head().getLong(0)
      commitWhole(s, o, path)
      val isUpd = col("o_orderkey") % 2 === 0
      val next = o.where(col("o_orderkey") % 3 =!= 0)
        .withColumn("o_orderstatus",
          when(isUpd, lit("U")).otherwise(col("o_orderstatus")))
        .withColumn("o_totalprice",
          when(isUpd, col("o_totalprice") * 2).otherwise(col("o_totalprice")))
        .unionByName(o.where(col("o_orderkey") % 5 === 0)
          .withColumn("o_orderkey", col("o_orderkey") + maxKey + 1))
      commitWhole(s, next, path)
      val out = FactChangeFeed.window(s, path, Seq("o_orderkey"), Some(0L), 1L)
        .localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // Time travel over generational snapshots: commit the base table as
    // gen 0 of an UNPARTITIONED table, commit the upserted table as gen
    // 1 (each a whole-table commit of its one root partition), then
    // read BOTH back
    // from disk — gen 0 must still be exactly the original rows after
    // the second commit (the property a swap destroys), latest must be
    // the merged view. Both generations are value-gated in one output.
    "q104_time_travel" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q104_").toString
      val path = s"$wh/orders_versioned"
      val o = t(s, dir, "orders")
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
      val c0 = commitWhole(s, o, path)
      val updates = o.where(col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val c1 = commitWhole(s, Upsert.upsert(o, updates, Seq("o_orderkey")),
        path)
      require(c0.gen == 0 && c1.gen == 1,
        s"q104: unexpected generation numbers ($c0, $c1)")
      require(FactVersioned.generations(s, path) == Seq(0L, 1L))
      val out = FactVersioned.read(s, path, Some(0L))
        .withColumn("gen", lit(0))
        .unionByName(FactVersioned.read(s, path).withColumn("gen", lit(1)))
        .localCheckpoint()
      val p = new org.apache.hadoop.fs.Path(wh)
      p.getFileSystem(s.sparkContext.hadoopConfiguration).delete(p, true)
      out
    }),

    // PARTITIONED time travel (q104 is the unpartitioned whole-table
    // path): generations are manifests of (partition dir → file list),
    // so a commit writes ONLY the touched partition's files — asserted
    // in-gate by listing the commit's vgen dir — and gen 0 stays
    // readable byte-exact off the SHARED untouched files. Both
    // generations aggregate from disk under the value gate.
    "q115_fact_time_travel" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q115_").toString
      val path = s"$wh/orders_versioned"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      FactVersioned.upsert(s, path, o, Seq("o_orderkey"), "p_year")
      val updates = o
        .where(col("p_year") === 1995 && col("o_orderkey") % 2 === 0)
        .withColumn("o_orderstatus", lit("U"))
        .withColumn("o_totalprice", col("o_totalprice") * 2)
      val commit = FactVersioned.upsert(s, path, updates,
        Seq("o_orderkey"), "p_year")
      require(commit.gen == 1L && commit.rewrittenDirs == Seq("p_year=1995"),
        s"q115: expected only p_year=1995 rewritten, got $commit")
      // storage ∝ changed partitions: commit 1's data dir holds ONLY
      // the touched partition
      val fsQ = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      val wrote = fsQ.listStatus(new org.apache.hadoop.fs.Path(
          s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSeq
      require(wrote == Seq("p_year=1995"),
        s"q115: commit 1 wrote partitions $wrote")
      def agg(g: Long) = FactVersioned.read(s, path, Some(g))
        .groupBy(col("p_year"))
        .agg(count(lit(1)).as("n_orders"),
          sum(col("o_totalprice")
              .cast(org.apache.spark.sql.types.DecimalType(18, 2)))
            .cast("double").as("total_price"))
        .withColumn("gen", lit(g).cast("int"))
      val out = agg(0L).unionByName(agg(1L))
        .select("gen", "p_year", "n_orders", "total_price")
        .localCheckpoint()
      fsQ.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }),

    // Manifest-embedded file stats — Iceberg's column-bounds-in-the-
    // manifest posture on the versioned store: the commit records
    // per-file min/max for o_orderkey (the content is range-clustered
    // into 8 key ranges per partition, so files have disjoint key
    // spans), and readWhere prunes files WITHIN partitions before any
    // data scan. In-gate: at least half the files must be skipped for
    // a narrow key range, and the pruned read must equal the full
    // filtered read (the oracle re-derives it from raw orders).
    "q128_fact_stats_prune" -> ((s, dir) => {
      val wh = Files.createTempDirectory("graft_q128_").toString
      val path = s"$wh/orders_stats"
      val o = t(s, dir, "orders")
        .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"),
          year(col("o_orderdate")).as("p_year"))
      val years = o.select("p_year").distinct().collect()
        .map(_.get(0)).toIndexedSeq
      FactVersioned.replacePartitions(s, path,
        o.repartitionByRange(8, col("o_orderkey")), "p_year", years,
        statsCols = Seq("o_orderkey"))
      val maxKey = o.agg(max("o_orderkey")).head.getLong(0)
      val (lo, hi) = (maxKey / 12, maxKey / 6)
      val pruned = FactVersioned.readWhere(s, path, None,
        Seq(DataSkipping.ColRange("o_orderkey", lit(lo), lit(hi))))
      require(pruned.report.filesRead * 2 <= pruned.report.filesTotal,
        s"q128: expected >=half the files skipped, read " +
          s"${pruned.report.filesRead}/${pruned.report.filesTotal}")
      val out = pruned.df
        .select("o_orderkey", "o_orderstatus", "o_totalprice")
        .localCheckpoint()
      val fsQ = new org.apache.hadoop.fs.Path(wh)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fsQ.delete(new org.apache.hadoop.fs.Path(wh), true)
      out
    }))

  override val oracles: Map[String, String] = Map(
    // the pruned read must equal the plain filtered table — pruning
    // may only change which files open, never the rows
    // the z-ordered pruned read must equal the plain 2-D box filter
    "q129_zorder_compaction" ->
      """WITH mx AS (SELECT max(o_custkey) AS mc, max(o_orderkey) AS mk
        |           FROM orders)
        |SELECT o_orderkey, o_custkey, o_totalprice
        |FROM orders, mx
        |WHERE o_custkey >= mc // 8 AND o_custkey <= mc // 4
        |  AND o_orderkey >= mk // 8 AND o_orderkey <= mk // 4""".stripMargin,
    "q128_fact_stats_prune" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders, mx
        |WHERE o_orderkey >= m // 12 AND o_orderkey <= m // 6""".stripMargin,
    "q83_bucketed_join" ->
      """SELECT l_orderkey, COUNT(*) AS n_items,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(MAX(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS o_total
        |FROM lineitem JOIN orders ON l_orderkey = o_orderkey
        |WHERE o_orderstatus = 'F'
        |GROUP BY l_orderkey""".stripMargin,
    "q84_salted_join" ->
      """SELECT c_mktsegment, COUNT(*) AS n_events,
        |  CAST(SUM(round(value * 100)) AS BIGINT) AS total_cents
        |FROM events JOIN customer ON user_id = c_custkey
        |GROUP BY c_mktsegment""".stripMargin,
    "q85_upsert_partitioned" ->
      """SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 0 AND year(o_orderdate) = 1995
        |       THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN o_orderkey % 2 = 0 AND year(o_orderdate) = 1995
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    "q86_promote_partitioned" ->
      """SELECT 'main' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE EXISTS (SELECT 1 FROM customer c
        |              WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')
        |UNION ALL
        |SELECT 'staging' AS side, o_orderkey, o_custkey, o_totalprice
        |FROM orders o
        |WHERE NOT EXISTS (SELECT 1 FROM customer c
        |                  WHERE c.c_custkey = o.o_custkey AND c.c_mktsegment = 'BUILDING')""".stripMargin,
    "q91_filestats_pruning" ->
      """SELECT l_returnflag, COUNT(*) AS n_rows,
        |  CAST(SUM(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
        |  CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_price
        |FROM lineitem
        |WHERE l_shipdate BETWEEN TIMESTAMP '1997-01-01 00:00:00'
        |                     AND TIMESTAMP '1997-12-31 00:00:00'
        |GROUP BY l_returnflag""".stripMargin,
    "q92_zorder_scan" ->
      """SELECT o_orderkey, o_custkey,
        |  strftime(o_orderdate, '%Y-%m-%d') AS o_date, o_totalprice
        |FROM orders
        |WHERE o_custkey BETWEEN 1
        |      AND (SELECT (max(o_custkey) * 2) // 5 FROM orders)
        |  AND o_orderdate BETWEEN TIMESTAMP '1995-01-01 00:00:00'
        |                      AND TIMESTAMP '1995-12-31 00:00:00'""".stripMargin,
    "q93_bloom_pruned_join" ->
      """SELECT user_id % 10 AS user_bucket, COUNT(*) AS n_events,
        |  CAST(SUM(round(value * 100)) AS BIGINT) AS total_cents,
        |  COUNT(DISTINCT user_id) AS n_users
        |FROM events JOIN customer ON user_id = c_custkey
        |WHERE c_mktsegment = 'MACHINERY'
        |GROUP BY user_id % 10""".stripMargin,
    "q97_bloom_point_lookup" ->
      """SELECT o_orderkey, o_custkey, o_totalprice FROM orders
        |WHERE o_orderkey IN (
        |  SELECT o_orderkey FROM orders
        |  ORDER BY md5(CAST(o_orderkey AS VARCHAR)), o_orderkey
        |  LIMIT 5)""".stripMargin,
    "q98_upsert_changelog" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT 'insert' AS op, o_orderkey + m AS o_orderkey,
        |  o_orderstatus, o_totalprice, year(o_orderdate) AS o_year
        |FROM orders, mx
        |WHERE year(o_orderdate) = 1996 AND o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'update_pre', o_orderkey, o_orderstatus, o_totalprice,
        |  year(o_orderdate)
        |FROM orders WHERE year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'update_post', o_orderkey, 'U', o_totalprice * 2,
        |  year(o_orderdate)
        |FROM orders WHERE year(o_orderdate) = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    "q108_incremental_view" ->
      """WITH up AS (SELECT
        |    CASE WHEN o_orderkey % 2 = 0 AND year(o_orderdate) = 1995
        |         THEN 'U' ELSE o_orderstatus END AS st,
        |    CAST(CASE WHEN o_orderkey % 2 = 0 AND year(o_orderdate) = 1995
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(18,2)) AS p
        |  FROM orders)
        |SELECT st AS o_orderstatus, COUNT(p) AS n_orders,
        |  CAST(SUM(p) AS DOUBLE) AS total_price
        |FROM up GROUP BY st""".stripMargin,
    "q117_fact_compaction" ->
      """WITH base AS (
        |  SELECT o_orderkey AS k, o_totalprice AS p,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)),
        |upd AS (
        |  SELECT y, CASE WHEN y = 1995 AND k % 7 IN (1, 2, 3)
        |    THEN p + (k % 7) ELSE p END AS p
        |  FROM base),
        |agg AS (
        |  SELECT y AS p_year, COUNT(*) AS n_orders,
        |    CAST(SUM(CAST(p AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |  FROM upd GROUP BY y)
        |SELECT 0 AS phase, * FROM agg
        |UNION ALL
        |SELECT 1 AS phase, * FROM agg""".stripMargin,
    // composes q98's batch with q108's view algebra: the view after the
    // real batch equals the from-scratch recompute over the upserted
    // table (q108 shape + the fresh 1996 inserts), and phase 1 repeats
    // the SAME rows — any redelivery leakage diverges phase 1
    "q114_cdc_subscription" ->
      """WITH up AS (
        |  SELECT CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |           THEN 'U' ELSE o_orderstatus END AS st,
        |    CAST(CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |           THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(18,2)) AS p
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996)
        |  UNION ALL
        |  SELECT o_orderstatus, CAST(o_totalprice AS DECIMAL(18,2))
        |  FROM orders WHERE year(o_orderdate) = 1996 AND o_orderkey % 3 = 0),
        |agg AS (
        |  SELECT st AS o_orderstatus, COUNT(p) AS n_orders,
        |    CAST(SUM(p) AS DOUBLE) AS total_price
        |  FROM up GROUP BY st)
        |SELECT 0 AS phase, * FROM agg
        |UNION ALL
        |SELECT 1 AS phase, * FROM agg""".stripMargin,
    // same mirror as q115 — the catalog changes HOW the table is
    // addressed, never what is read
    "q113_sql_catalog" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS p_year
        |  FROM orders),
        |upd AS (
        |  SELECT p_year,
        |    CASE WHEN p_year = 1995 AND o_orderkey % 2 = 0
        |         THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |  FROM base)
        |SELECT 0 AS gen, p_year, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM base GROUP BY p_year
        |UNION ALL
        |SELECT 1 AS gen, p_year, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM upd GROUP BY p_year""".stripMargin,
    // head content after the SQL INSERT: the original orders plus the
    // derived re-keyed rows (appended, not merged — INSERT semantics)
    "q125_sql_insert" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, 'I', o_totalprice * 2
        |FROM orders
        |WHERE year(o_orderdate) = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // full merge mirror: base rows whose key has no update + the
    // updated/inserted source rows (upsert semantics)
    "q132_sql_merge" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS p_year
        |  FROM orders),
        |src AS (
        |  SELECT o_orderkey, 'M' AS o_orderstatus,
        |    o_totalprice * 2 AS o_totalprice, p_year
        |  FROM base WHERE p_year = 1995 AND o_orderkey % 2 = 0
        |  UNION ALL
        |  SELECT o_orderkey + 10000000, 'N', o_totalprice, p_year
        |  FROM base WHERE p_year = 1995 AND o_orderkey % 2 = 1)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
        |WHERE o_orderkey NOT IN (SELECT o_orderkey FROM src)
        |UNION ALL
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM src""".stripMargin,
    // anti-join mirror of the semi-join delete
    "q133_sql_delete" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE NOT (year(o_orderdate) = 1995 AND o_orderkey % 2 = 0)""".stripMargin,
    // the CTAS SELECT plus the follow-up INSERT's rows
    "q137_sql_ctas" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders
        |WHERE o_orderkey % 3 = 0 OR o_orderkey % 3 = 1""".stripMargin,
    // CASE mirror of the one merge that was allowed to commit (the
    // dup-keyed and partition-moving sources were rejected pre-commit,
    // so they leave no trace in the head)
    "q139_sql_merge_cardinality" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN 'W' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    // the optimized head ≡ the upserted content (OPTIMIZE rewrites
    // layout, never content)
    "q140_sql_optimize" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN 'Z' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    // the vacuumed head ≡ the fully upserted content (VACUUM reclaims
    // history, never the head)
    "q141_sql_vacuum" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN 'V1'
        |       WHEN year(o_orderdate) = 1996 AND o_orderkey % 2 = 0
        |       THEN 'V2' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 2
        |       WHEN year(o_orderdate) = 1996 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    // old rows null-fill the evolved column; the post-evolution INSERT
    // carries values
    "q142_sql_alter_add_column" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS o_note
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, 'E', o_totalprice, 'NEW'
        |FROM orders
        |WHERE year(o_orderdate) = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // changelog mirror: deletes anti-joined away, updates CASE'd,
    // inserts appended; the op='X' rows route to no clause (their
    // +20000000 keys are unmatched and fail the INSERT condition)
    "q143_sql_merge_cdc" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders)
        |SELECT o_orderkey,
        |  CASE WHEN y = 1995 AND o_orderkey % 4 = 2
        |       THEN 'C' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN y = 1995 AND o_orderkey % 4 = 2
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM base WHERE NOT (y = 1995 AND o_orderkey % 4 = 1)
        |UNION ALL
        |SELECT o_orderkey + 10000000, 'I', o_totalprice
        |FROM base WHERE y = 1995 AND o_orderkey % 4 = 0""".stripMargin,
    // CASE mirror of the one-leaf upsert over the (year, status) grid
    "q144_fact_multicol_partition" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderstatus = 'O'
        |            AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    // the restored head ≡ the original table (the update and delete
    // rolled back metadata-only)
    "q148_sql_restore" ->
      "SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
    // the table summary's mirrorable slice: one fact generation whose
    // partition count is the data's distinct-year count
    "q149_sql_describe_detail" ->
      """SELECT 'fact' AS kind, 'p_year' AS partition_columns,
        |  CAST(1 AS BIGINT) AS num_generations,
        |  CAST(0 AS BIGINT) AS head_generation,
        |  CAST(COUNT(DISTINCT year(o_orderdate)) AS BIGINT)
        |    AS num_partitions
        |FROM orders""".stripMargin,
    // the narrowed head: original rows without the dropped column,
    // plus the post-drop INSERT's rows
    "q153_sql_alter_drop_column" ->
      """SELECT o_orderkey, o_totalprice FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, o_totalprice * 2
        |FROM orders
        |WHERE year(o_orderdate) = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // partial-assignment changelog mirror: only 1995 even keys whose
    // TARGET status is 'F' gain 10% of their own price; every other
    // column and row carries verbatim
    "q150_sql_merge_partial" ->
      """SELECT o_orderkey, o_orderstatus,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |            AND o_orderstatus = 'F'
        |       THEN o_totalprice + o_totalprice * 0.1
        |       ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    // scoped full-sync mirror: partition 1995 holds exactly the
    // source rows (even keys, status 'S'); other partitions verbatim
    "q151_sql_merge_sync" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders)
        |SELECT o_orderkey, o_orderstatus, o_totalprice FROM base
        |WHERE y <> 1995
        |UNION ALL
        |SELECT o_orderkey, 'S', o_totalprice FROM base
        |WHERE y = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // key-mapped merge mirror: matched evens of 1995 take the source's
    // renamed-column values; odds insert under shifted keys
    "q154_sql_merge_keymap" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders)
        |SELECT o_orderkey,
        |  CASE WHEN y = 1995 AND o_orderkey % 2 = 0
        |       THEN 'K' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN y = 1995 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 3 ELSE o_totalprice END AS o_totalprice
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 10000000, 'L', o_totalprice FROM base
        |WHERE y = 1995 AND o_orderkey % 2 = 1""".stripMargin,
    // scoped sync-update mirror: evens of 1995 re-status 'S' (matched
    // update), stale odds of 1995 flag 'X' keeping their price, every
    // other partition verbatim
    "q155_sql_merge_sync_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |         THEN 'S'
        |       WHEN year(o_orderdate) = 1995 THEN 'X'
        |       ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice
        |FROM orders""".stripMargin,
    // rename mirror: every original row reads its o_totalprice VALUE
    // under the new name (the column-mapping point), plus the
    // post-rename insert's shifted rows
    "q160_sql_alter_rename_column" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice AS amount
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey + 10000000, 'R', o_totalprice * 2
        |FROM orders
        |WHERE year(o_orderdate) = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // schema-evolution mirror: matched evens of 1995 re-status 'E' and
    // gain a note; every carried row null-fills the new column
    "q156_sql_merge_evolve" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN 'E' ELSE o_orderstatus END AS o_orderstatus,
        |  o_totalprice,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN CONCAT('note-', CAST(o_orderkey AS VARCHAR))
        |       ELSE NULL END AS note
        |FROM orders""".stripMargin,
    // change-set mirror of the (0 → 1] window: evens of 1995 emit an
    // update pair (old row pre, new row post), shifted 1996 keys emit
    // inserts; unchanged rows emit nothing
    "q157_sql_table_changes" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT 'update_pre' AS op, o_orderkey, o_orderstatus, o_totalprice
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'update_post', o_orderkey, 'U', o_totalprice * 2
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'insert', o_orderkey + 10000000, o_orderstatus, o_totalprice
        |FROM base WHERE y = 1996 AND o_orderkey % 3 = 0""".stripMargin,
    // identical upsert history to q157 — the keyless door must produce
    // the identical change set
    "q162_sql_table_changes_keyless" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT 'update_pre' AS op, o_orderkey, o_orderstatus, o_totalprice
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'update_post', o_orderkey, 'U', o_totalprice * 2
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'insert', o_orderkey + 10000000, o_orderstatus, o_totalprice
        |FROM base WHERE y = 1996 AND o_orderkey % 3 = 0""".stripMargin,
    // the q157 change set under the POST-RENAME column name: the
    // spanning window translates the from side through the colmaps, so
    // only genuinely-changed rows surface — update_pre carries the
    // TRUE old value, never a null-filled phantom
    "q166_sql_table_changes_rename" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT 'update_pre' AS op, o_orderkey, o_orderstatus,
        |  o_totalprice AS amount
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'update_post', o_orderkey, 'U', o_totalprice * 2
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'insert', o_orderkey + 10000000, o_orderstatus, o_totalprice
        |FROM base WHERE y = 1996 AND o_orderkey % 3 = 0""".stripMargin,
    // head after the nested lifecycle ≡ base rows (note null-filled)
    // + the inserted rows with their notes; the dropped price never
    // appears — DuckDB mirrors the FLAT projection
    "q167_sql_nested_evolution" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus AS status,
        |  CAST(NULL AS VARCHAR) AS note
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 20000000, 'N',
        |  CONCAT('n-', CAST(o_orderkey AS VARCHAR))
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // the head after ADD COLUMN DEFAULT ≡ base rows reading the
    // default + the inserted rows with their own values (NULL where
    // explicitly written) — the ALTER moved no data
    // the head after the widenings ≡ base rows under the widening
    // CASTS (identical bit-exact: int->bigint and float->double are
    // value-preserving) + the inserted above-int-range rows — the
    // ALTERs moved no data
    // the surviving TBLPROPERTIES after SET+UNSET+inherit+rename ≡ the
    // literal set (UNSET retired 'tier'; the rename moved the record)
    // the renamed head ≡ base rows + the flagged insert — the pointer
    // swap moves no data, so values match the recomputation exactly
    "q179_sql_pointer_rename" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, y
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 80000000, 'P', round(o_totalprice, 2), y
        |FROM base WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin,
    // the head after the constraint lifecycle ≡ base rows + the
    // doubled conforming inserts — every rejected statement committed
    // nothing, so values match the from-scratch recomputation exactly
    "q177_sql_add_constraint" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, y
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 60000000, 'C', round(o_totalprice * 2, 2), y
        |FROM base WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin,
    "q175_sql_tblproperties" ->
      """SELECT 'pipeline' AS key, 'ingest-v2' AS value
        |UNION ALL
        |SELECT 'retention.days', '30'""".stripMargin,
    // the head after the positioned-add lifecycle ≡ base rows with the
    // default + null grp, plus the inserted rows with real values —
    // position never touches data (the driver compare is order-blind;
    // the order assert lives in-gate)
    "q174_sql_column_position" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT CAST(NULL AS INTEGER) AS grp, o_orderkey, 'n' AS flag,
        |  o_orderstatus, round(o_totalprice, 2) AS o_totalprice, y
        |FROM base
        |UNION ALL
        |SELECT 7, o_orderkey + 60000000, 'y', 'P',
        |  round(o_totalprice, 2), y
        |FROM base WHERE y = 1996 AND o_orderkey % 100 = 0""".stripMargin,
    "q172_sql_widen_types" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus,
        |    CAST(o_custkey AS INTEGER) AS cust,
        |    CAST(o_totalprice AS REAL) AS pricef,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus, CAST(cust AS BIGINT) AS cust,
        |  CAST(pricef AS DOUBLE) AS pricef, y
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 50000000, 'W',
        |  CAST(cust AS BIGINT) + 3000000000,
        |  CAST(pricef AS DOUBLE) * 2, y
        |FROM base WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin,
    // the head after the spec'd overwrite ≡ 1995 replaced by its even
    // keys tripled and flagged, 1996 carried untouched — the overwrite
    // scoped exactly one partition
    "q173_sql_insert_overwrite" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, y
        |FROM base WHERE y = 1996
        |UNION ALL
        |SELECT o_orderkey, 'K', round(o_totalprice * 3, 2), y
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // the head after the DYNAMIC overwrite ≡ 1995/1996 replaced by
    // their odd keys doubled and flagged, 1997/1998 carried untouched —
    // the data-derived touched set scoped exactly two partitions
    "q176_sql_insert_overwrite_dynamic" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996, 1997, 1998))
        |SELECT o_orderkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, y
        |FROM base WHERE y IN (1997, 1998)
        |UNION ALL
        |SELECT o_orderkey, 'D', round(o_totalprice * 2, 2), y
        |FROM base WHERE y IN (1995, 1996) AND o_orderkey % 2 = 1""".stripMargin,
    "q171_sql_add_default" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus,
        |  round(o_totalprice, 2) AS o_totalprice, y, 'std' AS tier
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 40000000, 'V', round(o_totalprice, 2), y,
        |  CASE WHEN o_orderkey % 200 = 0 THEN CAST(NULL AS VARCHAR)
        |       ELSE 'vip' END
        |FROM base WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin,
    // the head after the NESTED rename lifecycle ≡ base rows under the
    // new field spelling + the doubled inserts — the rename moved no
    // data, so values match the from-scratch recomputation exactly
    "q170_sql_nested_rename" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus AS status,
        |  round(o_totalprice, 2) AS amount, y
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 30000000, 'N', round(o_totalprice * 2, 2), y
        |FROM base WHERE y = 1995 AND o_orderkey % 100 = 0""".stripMargin,
    // the merged head after the TABLE rename ≡ 1995 evens doubled and
    // flagged, everything else carried — the move itself changes no
    // row, so values match the from-scratch recomputation exactly
    "q169_sql_table_rename" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey,
        |  CASE WHEN y = 1995 AND o_orderkey % 2 = 0
        |       THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN y = 1995 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |  y
        |FROM base""".stripMargin,
    // the merged head under the RENAMED partition column ≡ 1995 evens
    // doubled and flagged, everything else carried — the rename moved
    // no data, so values match the from-scratch recomputation exactly
    "q168_sql_partition_rename" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey,
        |  CASE WHEN y = 1995 AND o_orderkey % 2 = 0
        |       THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN y = 1995 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice,
        |  y AS fiscal_year
        |FROM base""".stripMargin,
    // VERSION AS OF 0 after the truncate ≡ the untouched base slice —
    // truncation destroys nothing until retention
    "q165_sql_truncate_purge" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE year(o_orderdate) IN (1995, 1996)""".stripMargin,
    // the merged head ≡ events with day-3 evens doubled (OPTIMIZE
    // rewrites layout, never content)
    // the transform-partitioned head ≡ base events (day-derived) + the
    // one conforming insert — derivation moves no values
    "q178_sql_transform_partitioning" ->
      """SELECT event_id, strftime(ts, '%Y-%m-%d') AS ts_day,
        |  round(value, 4) AS value
        |FROM events
        |UNION ALL
        |SELECT 900000001, '2024-01-03', 2.5""".stripMargin,
    "q164_sql_timestamp_partitions" ->
      """SELECT event_id,
        |  strftime(date_trunc('day', ts), '%Y-%m-%d %H:%M:%S') AS p_day,
        |  round(CASE WHEN date_trunc('day', ts) =
        |      TIMESTAMP '2024-01-03 00:00:00' AND event_id % 2 = 0
        |    THEN value * 2 ELSE value END, 4) AS value
        |FROM events""".stripMargin,
    // the widened head ≡ base rows null-filled + the widening insert's
    // rows with their note values
    "q163_sql_insert_evolve" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_orderstatus, o_totalprice,
        |    year(o_orderdate) AS y
        |  FROM orders WHERE year(o_orderdate) IN (1995, 1996))
        |SELECT o_orderkey, o_orderstatus, o_totalprice,
        |  CAST(NULL AS VARCHAR) AS note
        |FROM base
        |UNION ALL
        |SELECT o_orderkey + 20000000, 'W', o_totalprice,
        |  concat('n-', CAST(o_orderkey AS VARCHAR))
        |FROM base WHERE y = 1995 AND o_orderkey % 2 = 0""".stripMargin,
    // the range-compacted head ≡ the twice-upserted content (OPTIMIZE
    // rewrites layout, never content)
    "q152_sql_optimize_range" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) >= 1996 AND o_orderkey % 2 = 0
        |       THEN 'R' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN year(o_orderdate) >= 1996 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    // CASE mirror of the conditional update
    "q136_sql_update" ->
      """SELECT o_orderkey,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN 'U' ELSE o_orderstatus END AS o_orderstatus,
        |  CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |       THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |FROM orders""".stripMargin,
    "q112_minmax_retraction" ->
      """WITH up AS (SELECT
        |    CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |         THEN 'U' ELSE o_orderstatus END AS st,
        |    CAST(CASE WHEN year(o_orderdate) = 1995 AND o_orderkey % 2 = 0
        |         THEN o_totalprice * 2 ELSE o_totalprice END
        |      AS DECIMAL(18,2)) AS p
        |  FROM orders
        |  WHERE NOT (o_orderstatus = 'F' AND o_orderkey % 7 = 0))
        |SELECT st AS o_orderstatus, COUNT(p) AS n_orders,
        |  CAST(SUM(p) AS DOUBLE) AS total_price,
        |  CAST(MIN(p) AS DOUBLE) AS min_price,
        |  CAST(MAX(p) AS DOUBLE) AS max_price
        |FROM up GROUP BY st""".stripMargin,
    "q109_generation_diff" ->
      """WITH mx AS (SELECT max(o_orderkey) AS m FROM orders)
        |SELECT 'delete' AS op, o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 3 = 0
        |UNION ALL
        |SELECT 'update_pre', o_orderkey, o_orderstatus, o_totalprice
        |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'update_post', o_orderkey, 'U', o_totalprice * 2
        |FROM orders WHERE o_orderkey % 3 <> 0 AND o_orderkey % 2 = 0
        |UNION ALL
        |SELECT 'insert', o_orderkey + m + 1, o_orderstatus, o_totalprice
        |FROM orders, mx WHERE o_orderkey % 5 = 0""".stripMargin,
    "q104_time_travel" ->
      """SELECT o_orderkey, o_orderstatus, o_totalprice, 0 AS gen
        |FROM orders
        |UNION ALL
        |SELECT o_orderkey,
        |  CASE WHEN o_orderkey % 2 = 0 THEN 'U' ELSE o_orderstatus END,
        |  CASE WHEN o_orderkey % 2 = 0 THEN o_totalprice * 2
        |       ELSE o_totalprice END,
        |  1 AS gen
        |FROM orders""".stripMargin,
    "q115_fact_time_travel" ->
      """WITH base AS (
        |  SELECT o_orderkey, o_totalprice, year(o_orderdate) AS p_year
        |  FROM orders),
        |upd AS (
        |  SELECT p_year,
        |    CASE WHEN p_year = 1995 AND o_orderkey % 2 = 0
        |         THEN o_totalprice * 2 ELSE o_totalprice END AS o_totalprice
        |  FROM base)
        |SELECT 0 AS gen, p_year, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM base GROUP BY p_year
        |UNION ALL
        |SELECT 1 AS gen, p_year, COUNT(*) AS n_orders,
        |  CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
        |FROM upd GROUP BY p_year""".stripMargin)
}
