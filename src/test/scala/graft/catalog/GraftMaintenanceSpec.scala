package graft.catalog

import java.nio.file.Files

import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.{FactVersioned, Versioned}

/** SQL maintenance statements (OPTIMIZE / VACUUM / DESCRIBE HISTORY)
  * route through the stores' maintenance APIs; everything else still
  * parses through Spark's own parser unchanged. */
class GraftMaintenanceSpec extends SparkSpec {
  import spark.implicits._

  private def factTable(): (SparkSession, String, String) = {
    val wh = Files.createTempDirectory("graft_maint_").toString
    val path = s"$wh/t"
    // three commits → three generations, multiple files per partition
    FactVersioned.upsert(spark,
      path, (1 to 60).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    FactVersioned.upsert(spark,
      path, (1 to 20).map(i => (i.toLong, i % 3, i * 11L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    FactVersioned.upsert(spark,
      path, (61 to 80).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    (s, wh, path)
  }

  test("OPTIMIZE commits one content-identical generation; ZORDER BY " +
      "records stats; time travel to the pre-compaction head holds") {
    val (s, _, path) = factTable()
    val before = FactVersioned.read(s, path)
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    val out = s.sql("OPTIMIZE g.t ZORDER BY (k, v)").collect()
    assert(out.length == 1 && out.head.getLong(0) == 3L &&
      out.head.getLong(1) == 3L, out.mkString)
    // conf-or-preserve retention: depth was 3, so the commit keeps the
    // newest 3 (the INSERT posture — never silently widen either)
    assert(FactVersioned.generations(s, path) == Seq(1L, 2L, 3L))
    val after = FactVersioned.read(s, path)
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    assert(after == before, "OPTIMIZE must preserve content exactly")
    // pre-compaction generation still readable and identical
    val prev = FactVersioned.read(s, path, Some(2L))
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    assert(prev == before)
  }

  test("VACUUM RETAIN n expires exactly the generations beyond the " +
      "window and GCs their unshared vgen subtrees") {
    val (s, _, path) = factTable()
    val out = s.sql("VACUUM g.t RETAIN 1 GENERATIONS").collect()
    assert(out.map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(FactVersioned.generations(s, path) == Seq(2L))
    // the expired generations' metadata is gone; head still reads
    assert(FactVersioned.read(s, path).count() == 80)
    intercept[Exception] { FactVersioned.read(s, path, Some(0L)).count() }
    // a VACUUM with nothing to expire returns no rows
    assert(s.sql("VACUUM g.t RETAIN 3 GENERATIONS").collect().isEmpty)
  }

  test("DESCRIBE HISTORY lists the commit log newest-first with " +
      "touched partitions matching the store's own record") {
    val (s, _, path) = factTable()
    val h = s.sql("DESCRIBE HISTORY g.t").collect()
    assert(h.map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L))
    val touched1 = h.find(_.getLong(0) == 1L).get.getSeq[String](2)
    assert(touched1.toSet ==
      FactVersioned.touchedPartitions(s, path, 1L).toSet)
    assert(touched1.toSet == Set("p=0", "p=1", "p=2"))
    // timestamps ascend with generation
    val ts = h.map(_.getTimestamp(1).getTime).toSeq
    assert(ts == ts.sorted.reverse)
  }

  test("dimension tables: OPTIMIZE commits a content-identical " +
      "full-copy generation, VACUUM expires, HISTORY lists") {
    val wh = Files.createTempDirectory("graft_maint_dim_").toString
    val path = s"$wh/d"
    Versioned.commit((1 to 50).map(i => (i.toLong, s"n$i")).toDF("k", "name")
      .repartition(8), path)
    Versioned.commit((1 to 50).map(i => (i.toLong, s"m$i")).toDF("k", "name")
      .repartition(8), path)
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    val before = Versioned.read(s, path)
      .as[(Long, String)].collect().toSet
    s.sql("OPTIMIZE g.d")
    assert(Versioned.generations(s, path) == Seq(0L, 1L, 2L))
    assert(Versioned.read(s, path).as[(Long, String)].collect().toSet
      == before)
    assert(s.sql("DESCRIBE HISTORY g.d").collect()
      .map(_.getLong(0)).toSeq == Seq(2L, 1L, 0L))
    assert(s.sql("VACUUM g.d RETAIN 1 GENERATIONS").collect()
      .map(_.getLong(0)).toSeq == Seq(0L, 1L))
    assert(Versioned.generations(s, path) == Seq(2L))
  }

  test("OPTIMIZE WHERE scopes the compaction to matching partitions " +
      "only; non-partition predicates fail with guidance") {
    val (s, _, path) = factTable()
    val preFiles = {
      val fs = new org.apache.hadoop.fs.Path(path)
        .getFileSystem(s.sparkContext.hadoopConfiguration)
      fs
    }
    val out = s.sql("OPTIMIZE g.t WHERE p = 1").collect()
    assert(out.length == 1 && out.head.getLong(1) == 1L,
      s"must compact exactly the one matching partition, got " +
        s"${out.mkString}")
    // the compaction generation staged ONLY p=1
    val vd = new org.apache.hadoop.fs.Path(
      s"$path/${FactVersioned.DataDir}/vgen=${out.head.getLong(0)}")
    val staged = preFiles.listStatus(vd).filter(_.isDirectory)
      .map(_.getPath.getName).toSet
    assert(staged == Set("p=1"), s"staged $staged")
    // content preserved
    assert(FactVersioned.read(s, path).count() == 80)
    // out-of-scope restriction: zero matches FAILS with the available
    // values (a silent no-op would read as "already optimized")
    val gens = FactVersioned.generations(s, path)
    val e0 = intercept[Exception] { s.sql("OPTIMIZE g.t WHERE p = 99") }
    assert(e0.getMessage.contains("matched no partitions") &&
      e0.getMessage.contains("p=0"), e0.getMessage)
    assert(FactVersioned.generations(s, path) == gens)
    // non-partition predicate fails loudly
    val e = intercept[Exception] { s.sql("OPTIMIZE g.t WHERE k = 3") }
    assert(e.getMessage.contains("not a partition column"), e.getMessage)
    // WHERE composes with ZORDER BY
    s.sql("OPTIMIZE g.t WHERE p = 0 ZORDER BY (k, v)")
    assert(FactVersioned.read(s, path).count() == 80)
    // RANGE predicates scope by typed comparison: p ∈ {0,1,2}
    val outR = s.sql("OPTIMIZE g.t WHERE p >= 1").collect()
    assert(outR.head.getLong(1) == 2L, "p >= 1 must hit p=1 and p=2")
    val outB = s.sql("OPTIMIZE g.t WHERE p BETWEEN 0 AND 1").collect()
    assert(outB.head.getLong(1) == 2L, "BETWEEN must hit p=0 and p=1")
    assert(FactVersioned.read(s, path).count() == 80)
  }

  test("OPTIMIZE WHERE compares through the partition column's pinned " +
      "type: integer literals match double-rendered dirs, DATE ranges " +
      "scope date partitions") {
    val wh = Files.createTempDirectory("graft_maint_typed_").toString
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    // typed numeric compare: a literal whose RENDERED form differs
    // from the dir value ('5.0', '05') still matches the int dir p=5
    val dpath = s"$wh/ints"
    FactVersioned.upsert(spark, dpath,
      (1 to 20).map(i => (i.toLong, 5 + i % 2, i * 1L))
        .toDF("k", "p", "v"),
      Seq("k"), "p")
    val out = s.sql("OPTIMIZE g.ints WHERE p = 5.0").collect()
    assert(out.head.getLong(1) == 1L,
      "WHERE p = 5.0 must match the p=5 dir through the INT type")
    val out0 = s.sql("OPTIMIZE g.ints WHERE p = 06").collect()
    assert(out0.head.getLong(1) == 1L,
      "WHERE p = 06 must match the p=6 dir through the INT type")
    // date partition column: range scoping with DATE literals
    val tpath = s"$wh/dated"
    FactVersioned.upsert(spark, tpath,
      (1 to 30).map(i => (i.toLong,
        java.sql.Date.valueOf(f"2024-01-${i % 3 + 1}%02d"), i * 1L))
        .toDF("k", "d", "v"),
      Seq("k"), "d")
    val out2 = s.sql(
      "OPTIMIZE g.dated WHERE d >= DATE '2024-01-02'").collect()
    assert(out2.head.getLong(1) == 2L,
      "d >= 2024-01-02 must hit the 01-02 and 01-03 partitions")
    val out3 = s.sql(
      "OPTIMIZE g.dated WHERE d BETWEEN '2024-01-01' AND '2024-01-02'")
      .collect()
    assert(out3.head.getLong(1) == 2L)
  }

  test("unscoped plain OPTIMIZE compacts only FRAGMENTED partitions " +
      "and no-ops when the table is already compact") {
    val wh = Files.createTempDirectory("graft_maint_frag_").toString
    val path = s"$wh/t"
    FactVersioned.upsert(spark, path,
      (1 to 30).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    s.conf.set("spark.sql.catalog.g.retain", "10")
    // compact everything once (multi-task writes fragment every dir),
    // then fragment ONLY p=0 with a one-row upsert
    s.sql("OPTIMIZE g.t").collect()
    FactVersioned.upsert(spark, path,
      Seq((33L, 0, 1L)).toDF("k", "p", "v"), Seq("k"), "p",
      retain = 10)
    val out = s.sql("OPTIMIZE g.t").collect()
    assert(out.length == 1 && out.head.getLong(1) == 1L,
      s"only the fragmented p=0 must compact, got ${out.mkString}")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/vgen=${out.head.getLong(0)}"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=0"), s"staged $staged")
    assert(FactVersioned.read(s, path).count() == 31)
    // second pass: everything single-file now → no commit at all
    val gens = FactVersioned.generations(s, path)
    assert(s.sql("OPTIMIZE g.t").collect().isEmpty)
    assert(FactVersioned.generations(s, path) == gens,
      "an already-compact table must not commit")
    // ZORDER BY still takes every partition (re-clustering is the point)
    val z = s.sql("OPTIMIZE g.t ZORDER BY (k)").collect()
    assert(z.head.getLong(1) == 3L)
  }

  test("DESCRIBE DETAIL answers sizes from the manifest — no per-file " +
      "status calls for manifest-recorded commits") {
    val (s, _, path) = factTable()
    val d0 = s.sql("DESCRIBE DETAIL g.t").collect().head
    val files = FactVersioned.manifestFiles(s, path)
    assert(files.nonEmpty && files.forall(_._2.isDefined),
      "commits must record per-file sizes in the manifest")
    assert(d0.getLong(6) == files.flatMap(_._2).sum,
      "size_bytes must equal the manifest-recorded sum")
    // behavioral proof of no per-file FS call: move the head's data
    // files away; DESCRIBE DETAIL still answers (a getFileStatus loop
    // would throw FileNotFoundException)
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val data = new org.apache.hadoop.fs.Path(
      s"$path/${FactVersioned.DataDir}")
    val hidden = new org.apache.hadoop.fs.Path(s"$path/_hidden_data")
    assert(fs.rename(data, hidden))
    try {
      val d1 = s.sql("DESCRIBE DETAIL g.t").collect().head
      assert(d1.getLong(6) == d0.getLong(6) &&
        d1.getLong(5) == d0.getLong(5),
        "DESCRIBE DETAIL must answer from the manifest alone")
    } finally assert(fs.rename(hidden, data))
  }

  test("RESTORE TO VERSION AS OF rolls the head back metadata-only: " +
      "zero data staged, old files re-referenced, history preserved") {
    val (s, _, path) = factTable()
    s.conf.set("spark.sql.catalog.g.retain", "10")
    val gen0 = FactVersioned.read(s, path, Some(0L))
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    val preHead = FactVersioned.read(s, path)
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    assert(preHead != gen0)
    val out = s.sql("RESTORE TABLE g.t TO VERSION AS OF 0").collect()
    assert(out.length == 1 && out.head.getLong(0) == 3L &&
      out.head.getLong(1) == 0L)
    // metadata-only: the restore generation staged NO data files
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/${FactVersioned.DataDir}/vgen=3")),
      "RESTORE must stage zero data files")
    // head now reads generation 0's exact content via the OLD files
    val restored = FactVersioned.read(s, path)
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    assert(restored == gen0)
    // the pre-restore head is still time-travelable; history shows
    // the restore with its provenance property
    assert(FactVersioned.read(s, path, Some(2L))
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
      == preHead)
    val hist = s.sql("DESCRIBE HISTORY g.t").collect()
    assert(hist.head.getLong(0) == 3L)
    val props = hist.head.getMap[String, String](3)
    assert(props.get("restored_from").contains("0") &&
      props.get("operation").contains("RESTORE"), props)
    // a VACUUM that expires gen 0's METADATA keeps the head answering
    // (the restore manifest re-references gen 0's files, and GC keeps
    // any file a retained manifest points at)
    s.sql("VACUUM g.t RETAIN 1 GENERATIONS")
    assert(FactVersioned.generations(s, path) == Seq(3L))
    assert(FactVersioned.read(s, path)
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
      == gen0)
    // DML continues normally against the restored head: the copied
    // manifest is a first-class generation (basis pinning, touched
    // declaration, carried files all work)
    val s3 = GraftDml.enable(spark)
    s3.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s3.conf.set("spark.sql.catalog.g.root",
      new java.io.File(path).getParent)
    s3.conf.set("spark.sql.catalog.g.retain", "10")
    s3.sql("UPDATE g.t SET v = v + 5 WHERE p = 1 AND k <= 4")
    val afterDml = FactVersioned.read(s3, path)
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    assert(afterDml == gen0.map { case (k, p, v) =>
      (k, p, if (p == 1 && k <= 4) v + 5 else v) })
    // dims restore by full copy
    val wh2 = Files.createTempDirectory("graft_maint_restore_dim_").toString
    Versioned.commit((1 to 5).map(i => (i.toLong, s"a$i")).toDF("k", "n"),
      s"$wh2/d")
    Versioned.commit((1 to 5).map(i => (i.toLong, s"b$i")).toDF("k", "n"),
      s"$wh2/d")
    val s2 = GraftDml.enable(spark)
    s2.conf.set("spark.sql.catalog.g2", classOf[GraftCatalog].getName)
    s2.conf.set("spark.sql.catalog.g2.root", wh2)
    s2.sql("RESTORE g2.d TO VERSION AS OF 0")
    assert(Versioned.read(s2, s"$wh2/d").select("n").as[String]
      .collect().toSet == (1 to 5).map(i => s"a$i").toSet)
  }

  test("DESCRIBE DETAIL summarizes kind, partition columns, " +
      "generations and the head's physical footprint") {
    val (s, wh, path) = factTable()
    val d = s.sql("DESCRIBE DETAIL g.t").collect()
    assert(d.length == 1)
    val r = d.head
    assert(r.getString(0) == "fact" && r.getString(1) == path)
    assert(r.getSeq[String](2) == Seq("p"))
    assert(r.getLong(3) == 3L && r.getLong(4) == 2L)
    assert(r.getLong(5) > 0L && r.getLong(6) > 0L && r.getLong(7) == 3L)
    // dims
    Versioned.commit((1 to 5).map(i => (i.toLong, s"n$i")).toDF("k", "n"),
      s"$wh/dd")
    val dd = s.sql("DESCRIBE DETAIL g.dd").collect().head
    assert(dd.getString(0) == "dim" && dd.getLong(3) == 1L &&
      dd.getLong(5) > 0L && dd.getLong(6) > 0L)
  }

  test("non-maintenance SQL still parses through Spark's parser; " +
      "maintenance over a non-graft catalog fails with guidance") {
    val (s, _, _) = factTable()
    assert(s.sql("SELECT 1 AS one").collect().head.getInt(0) == 1)
    assert(s.sql("SELECT k FROM g.t WHERE k <= 2").count() == 2)
    // parameter binding must survive the delegating parser (the
    // interface default would drop the ParameterContext)
    assert(s.sql("SELECT ? + 1 AS r", Array(41)).collect()
      .head.getInt(0) == 42)
    assert(s.sql("SELECT k FROM g.t WHERE k <= :m", Map("m" -> 3))
      .count() == 3)
    val e = intercept[Exception] { s.sql("OPTIMIZE spark_catalog.x") }
    assert(e.getMessage.contains("not a GraftCatalog"))
    val e2 = intercept[Exception] { s.sql("VACUUM g.nosuch") }
    assert(e2.getMessage.toLowerCase.contains("nosuch"))
  }

  test("VACUUM DRY RUN reports exactly what the real statement would " +
      "expire, and expires nothing") {
    val (s, _, path) = factTable() // three generations
    val preview = s.sql("VACUUM g.t RETAIN 1 GENERATIONS DRY RUN")
      .collect().map(_.getLong(0)).toSeq
    assert(preview == Seq(0L, 1L), preview)
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
      "DRY RUN must not expire anything")
    val real = s.sql("VACUUM g.t RETAIN 1 GENERATIONS")
      .collect().map(_.getLong(0)).toSeq
    assert(real == preview, "the real VACUUM must expire the preview set")
    assert(FactVersioned.generations(s, path) == Seq(2L))
  }

  test("OPTIMIZE WHERE p IS NULL compacts exactly the null partition " +
      "— the one leaf no typed comparison can name") {
    val wh = Files.createTempDirectory("graft_maint_null_").toString
    val path = s"$wh/t"
    def batch(r: Range) = r.map(i =>
      (i.toLong, if (i % 3 == 0) None else Some(i % 3), i * 10L))
      .toDF("k", "p", "v")
    // two commits → the null leaf (and the others) hold two files
    FactVersioned.upsert(spark, path, batch(1 to 30), Seq("k"), "p")
    FactVersioned.upsert(spark, path, batch(31 to 60), Seq("k"), "p")
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.g", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g.root", wh)
    val before = FactVersioned.read(s, path)
      .select("k", "p", "v").as[(Long, Option[Int], Long)].collect().toSet
    val out = s.sql("OPTIMIZE g.t WHERE p IS NULL").collect()
    assert(out.length == 1 && out.head.getLong(1) == 1L,
      s"exactly the null leaf must compact, got ${out.mkString}")
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(s.sparkContext.hadoopConfiguration)
    val staged = fs.listStatus(new org.apache.hadoop.fs.Path(
        s"$path/${FactVersioned.DataDir}/" +
          s"${FactVersioned.VGenCol}=${out.head.getLong(0)}"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=__HIVE_DEFAULT_PARTITION__"), staged)
    val after = FactVersioned.read(s, path)
      .select("k", "p", "v").as[(Long, Option[Int], Long)].collect().toSet
    assert(after == before, "compaction must preserve content exactly")
    // composes with typed conjuncts: a range + IS NULL conjunction can
    // never match (a leaf is either null or typed) — fails loudly
    // instead of silently compacting nothing
    val e = intercept[Exception] {
      s.sql("OPTIMIZE g.t WHERE p >= 1 AND p IS NULL")
    }
    assert(e.getMessage.contains("matched no partitions"), e.getMessage)
  }

  test("after a table rename the maintenance commands and graft_* " +
      "table functions reach the unmoved tree under the NEW name and " +
      "refuse the OLD name with RENAMED guidance") {
    val (s, wh, path) = factTable()
    s.conf.set("spark.sql.catalog.g.retain", "10")
    graft.GraftFunctions.register(s)
    val gen0 = FactVersioned.read(s, path, Some(0L))
      .select("k", "p", "v").as[(Long, Int, Long)].collect().toSet
    val changes01 = s.sql(
      s"SELECT op, k, v FROM graft_table_changes('$path', 'k', 0, 1)")
      .collect().toSet
    s.sql("ALTER TABLE g.t RENAME TO t2")
    def messages(t: Throwable): Seq[String] =
      Iterator.iterate(t)(_.getCause).takeWhile(_ != null)
        .flatMap(x => Option(x.getMessage)).toSeq
    Seq("OPTIMIZE g.t", "VACUUM g.t RETAIN 1 GENERATIONS",
      "RESTORE TABLE g.t TO VERSION AS OF 0", "DESCRIBE HISTORY g.t",
      "DESCRIBE DETAIL g.t",
      "SELECT * FROM graft_table_changes('g.t', 'k', 0, 1)").foreach { q =>
      val e = intercept[Throwable](s.sql(q).collect())
      assert(messages(e).exists(m => m.contains("RENAMED") &&
        m.contains("t2")), s"$q: ${messages(e)}")
    }
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L),
      "nothing under the old name may touch the renamed table's tree")
    // the new name reaches the same tree; nothing appears at <wh>/t2
    assert(s.sql(
      "SELECT op, k, v FROM graft_table_changes('g.t2', 'k', 0, 1)")
      .collect().toSet == changes01)
    assert(s.sql("DESCRIBE HISTORY g.t2").collect().map(_.getLong(0))
      .toSeq == Seq(2L, 1L, 0L))
    assert(s.sql("DESCRIBE DETAIL g.t2").collect().head.getString(1)
      == path)
    s.sql("OPTIMIZE g.t2")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L, 3L))
    s.sql("RESTORE TABLE g.t2 TO VERSION AS OF 0")
    s.sql("VACUUM g.t2 RETAIN 1 GENERATIONS")
    assert(FactVersioned.generations(s, path) == Seq(4L))
    assert(s.sql("SELECT k, p, v FROM g.t2").as[(Long, Int, Long)]
      .collect().toSet == gen0)
    assert(!new java.io.File(s"$wh/t2").exists())
  }
}
