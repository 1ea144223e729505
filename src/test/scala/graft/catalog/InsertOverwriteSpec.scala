package graft.catalog

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._

import graft.SparkSpec
import graft.operators.FactVersioned

/** SQL `INSERT OVERWRITE` (VERDICT r15 Next #5): static PARTITION
  * specs replace exactly the named partitions through
  * [[FactVersioned.replacePartitionsBy]] (write-amp ∝ the spec, other
  * partitions carried byte-identical), the spec-less spelling replaces
  * the whole head as one versioned commit (an unpartitioned table's
  * one root partition) — and time travel keeps the pre-overwrite
  * content in every case. */
class InsertOverwriteSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_iow_").toString

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def base(n: Int) =
    (1 to n).map(i => (i.toLong, i % 3, i * 10L)).toDF("k", "p", "v")

  test("static PARTITION spec: only the spec'd partition is replaced " +
      "and staged; untouched partitions carry byte-identical; time " +
      "travel keeps the old head; out-of-spec rows are rejected") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.graftow",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftow.root", wh)
    val path = s"$wh/ft"
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p", retain = 10)
    val fs = fsOf(path)
    val dataRoot = s"$path/${FactVersioned.DataDir}"
    def files(dir: String): Set[String] =
      fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    val p1Before = files(s"$dataRoot/${FactVersioned.VGenCol}=0/p=1")
    s.sql(
      """INSERT OVERWRITE graftow.ft PARTITION (p = 0)
        |SELECT k + 1000 AS k, k * 7 AS v, CAST(NULL AS BIGINT) AS vgen
        |FROM graftow.ft WHERE p = 1 LIMIT 3""".stripMargin)
    // one new generation; ONLY p=0 staged under it
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    val staged = fs.listStatus(new Path(
        s"$dataRoot/${FactVersioned.VGenCol}=1"))
      .filter(_.isDirectory).map(_.getPath.getName).toSet
    assert(staged == Set("p=0"),
      s"spec'd overwrite must stage only p=0, got $staged")
    // untouched partitions carried byte-identical (same files)
    assert(files(s"$dataRoot/${FactVersioned.VGenCol}=0/p=1") == p1Before)
    // the head: p=0 holds exactly the 3 inserted rows; p=1/p=2 intact
    val head = FactVersioned.read(spark, path)
    assert(head.where(col("p") === 0).count() == 3)
    assert(head.where(col("p") === 0 && col("k") > 1000L).count() == 3)
    assert(head.where(col("p") =!= 0).count() == 20)
    // time travel: the pre-overwrite head is intact
    assert(FactVersioned.read(spark, path, Some(0L)).count() == 30)
    // a second spec'd overwrite of an EMPTY result truncates just p=0
    s.sql(
      """INSERT OVERWRITE graftow.ft PARTITION (p = 0)
        |SELECT k, v, CAST(NULL AS BIGINT) AS vgen
        |FROM graftow.ft WHERE p = 0 AND k < 0""".stripMargin)
    assert(FactVersioned.read(spark, path).where(col("p") === 0).count() == 0)
    assert(FactVersioned.read(spark, path).count() == 20)
  }

  test("dynamic mode (partitionOverwriteMode=dynamic): a spec-less " +
      "overwrite replaces exactly the partitions the DATA holds — " +
      "others carried byte-identical; a static spec under dynamic conf " +
      "routes dynamic too; an empty input is a no-op") {
    val wh = tmp()
    // dynamic mode routes through the graft SQL extensions (no V1 exec
    // exists for OverwritePartitionsDynamic)
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.graftdyn",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftdyn.root", wh)
    val path = s"$wh/ft"
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p", retain = 10)
    val fs = fsOf(path)
    val dataRoot = s"$path/${FactVersioned.DataDir}"
    def files(dir: String): Set[String] =
      fs.listStatus(new Path(dir)).map(_.getPath.getName)
        .filter(_.endsWith(".parquet")).toSet
    val p2Before = files(s"$dataRoot/${FactVersioned.VGenCol}=0/p=2")
    val prev = s.conf.getOption("spark.sql.sources.partitionOverwriteMode")
    s.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try {
      // data touches p ∈ {0, 1} only — p=2 must survive untouched
      s.sql(
        """INSERT OVERWRITE graftdyn.ft
          |SELECT k + 500 AS k, v * 3 AS v, CAST(NULL AS BIGINT) AS vgen,
          |  p
          |FROM graftdyn.ft WHERE p IN (0, 1) AND k % 2 = 0""".stripMargin)
      assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
      val staged = fs.listStatus(new Path(
          s"$dataRoot/${FactVersioned.VGenCol}=1"))
        .filter(_.isDirectory).map(_.getPath.getName).toSet
      assert(staged == Set("p=0", "p=1"),
        s"dynamic overwrite must stage exactly the data's partitions, " +
          s"got $staged")
      assert(files(s"$dataRoot/${FactVersioned.VGenCol}=0/p=2") == p2Before,
        "the untouched partition must carry byte-identical")
      val head = FactVersioned.read(spark, path)
      assert(head.where(col("p") === 2).count() == 10)
      assert(head.where(col("p").isin(0, 1)).count() ==
        head.where(col("p").isin(0, 1) && col("k") > 500L).count())
      // time travel keeps the pre-overwrite head
      assert(FactVersioned.read(spark, path, Some(0L)).count() == 30)
      // an EMPTY dynamic overwrite replaces nothing and commits nothing
      s.sql(
        """INSERT OVERWRITE graftdyn.ft
          |SELECT k, v, CAST(NULL AS BIGINT) AS vgen, p
          |FROM graftdyn.ft WHERE k < 0""".stripMargin)
      assert(FactVersioned.generations(spark, path) == Seq(0L, 1L),
        "an empty dynamic overwrite must be a no-op")
      // a static spec under dynamic conf ALSO routes dynamic (Spark
      // injects the spec values as constants into the query): the
      // touched set is still data-derived — exactly p=2, replaced by
      // the 3 rows
      s.sql(
        """INSERT OVERWRITE graftdyn.ft PARTITION (p = 2)
          |SELECT k + 900 AS k, v, CAST(NULL AS BIGINT) AS vgen
          |FROM graftdyn.ft WHERE p = 2 AND k <= 6""".stripMargin)
      // p=2 held k ∈ {2,5,8,...}; k<=6 selects {2,5} — two rows
      // replace the partition
      assert(FactVersioned.read(spark, path).where(col("p") === 2)
        .count() == 2)
      assert(FactVersioned.read(spark, path).where(col("p") =!= 2)
        .count() > 0)
    } finally prev match {
      case Some(m) =>
        s.conf.set("spark.sql.sources.partitionOverwriteMode", m)
      case None =>
        s.conf.unset("spark.sql.sources.partitionOverwriteMode")
    }
  }

  test("spec-less INSERT OVERWRITE replaces the WHOLE head as one " +
      "versioned commit — new partitions land, vanished ones empty, " +
      "history keeps the old content") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.graftow2",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftow2.root", wh)
    val path = s"$wh/ft"
    FactVersioned.upsert(spark, path, base(30), Seq("k"), "p", retain = 10)
    // positional: the table presents (k, v, vgen, p) — partition
    // columns sort last, the provenance slot rides explicit-NULL
    s.sql(
      """INSERT OVERWRITE graftow2.ft
        |SELECT k, v * 2 AS v, CAST(NULL AS BIGINT) AS vgen, 5 AS p
        |FROM graftow2.ft WHERE p = 1
        |""".stripMargin)
    val head = FactVersioned.read(spark, path)
    assert(head.count() == 10)
    assert(head.select(col("p")).distinct().as[Int].collect().toSeq ==
      Seq(5), "old partitions must be emptied by the full overwrite")
    assert(FactVersioned.read(spark, path, Some(0L)).count() == 30,
      "time travel must keep the pre-overwrite head")
  }

  test("dimension INSERT OVERWRITE commits the data as the fresh " +
      "full-copy head; history time-travels") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.graftow3",
      classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftow3.root", wh)
    val path = s"$wh/dt"
    commitWhole(base(8), path, retain = 5)
    s.sql(
      """INSERT OVERWRITE graftow3.dt
        |SELECT k + 100 AS k, p, v FROM graftow3.dt WHERE p = 2
        |""".stripMargin)
    val now = FactVersioned.read(spark, path)
    assert(now.count() == base(8).where(col("p") === 2).count())
    assert(now.where(col("k") <= 100).count() == 0)
    assert(FactVersioned.read(spark, path, Some(0L)).count() == 8)
  }
}
