package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** `ALTER COLUMN ... TYPE` safe widenings (VERDICT r15 Next #4):
  * [[FactVersioned.widenFieldTypes]] commits METADATA-ONLY — carried
  * files stay narrow on disk and Spark's parquet readers fill the
  * wider pinned schema in place; time travel keeps each era's types;
  * narrowings and lossy changes are rejected with full-rewrite
  * guidance. The SQL door routes partitioned and unpartitioned tables
  * alike there. */
class TypeWideningSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_widen_").toString

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  private def base(n: Int) =
    (1 to n).map(i => (i.toLong, i % 3, i * 10, i * 1.5f)).toDF("k", "p", "v", "f")

  test("widenFieldTypes is metadata-only: carried int/float files read " +
      "as long/double in place, later commits stage wide, time travel " +
      "keeps the narrow era, narrowing and lossy changes are rejected") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(9), Seq("k"), "p", retain = 10)
    val c = FactVersioned.widenFieldTypes(spark, path,
      Seq(Seq("v") -> LongType, Seq("f") -> DoubleType), retain = 10)
    // metadata-only: the widening staged no data
    val fs = fsOf(path)
    assert(!fs.exists(new Path(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=${c.gen}")))
    // carried files (physically int32/float) read under the wide schema
    val head = FactVersioned.read(spark, path)
    assert(head.schema("v").dataType == LongType)
    assert(head.schema("f").dataType == DoubleType)
    assert(head.select(col("k"), col("v")).as[(Long, Long)]
      .collect().toSet == (1 to 9).map(i => (i.toLong, i * 10L)).toSet)
    assert(head.select(col("f")).as[Double].collect().toSet ==
      (1 to 9).map(i => (i * 1.5f).toDouble).toSet)
    // time travel keeps the narrow era exactly
    val v0 = FactVersioned.read(spark, path, Some(0L))
    assert(v0.schema("v").dataType == IntegerType)
    assert(v0.schema("f").dataType == FloatType)
    // a post-widen upsert stages the WIDE type and values above the
    // old range survive
    FactVersioned.upsert(spark, path,
      Seq((100L, 0, 5000000000L, 2.5d)).toDF("k", "p", "v", "f"),
      Seq("k"), "p", retain = 10)
    assert(FactVersioned.read(spark, path).where(col("k") === 100L)
      .select(col("v")).as[Long].head() == 5000000000L)
    // narrowing (long -> int) is rejected with full-rewrite guidance
    val e1 = intercept[IllegalArgumentException] {
      FactVersioned.widenFieldTypes(spark, path,
        Seq(Seq("v") -> IntegerType), retain = 10)
    }
    assert(e1.getMessage.contains("not a safe widening"), e1.getMessage)
    // lossy long -> double is rejected too
    val e2 = intercept[IllegalArgumentException] {
      FactVersioned.widenFieldTypes(spark, path,
        Seq(Seq("v") -> DoubleType), retain = 10)
    }
    assert(e2.getMessage.contains("not a safe widening"), e2.getMessage)
    // missing field fails loudly
    intercept[IllegalArgumentException] {
      FactVersioned.widenFieldTypes(spark, path,
        Seq(Seq("nope") -> LongType), retain = 10)
    }
  }

  test("nested struct fields widen the same metadata-only way; decimal " +
      "precision grows; a racing writer conflicts retryably on the " +
      "schema drift") {
    val path = tmp() + "/t"
    val rows = (1 to 6).map(i => (i.toLong, i % 3, i * 10, BigDecimal(i) / 4))
      .toDF("k", "p", "y", "d")
      .select(col("k"), col("p"),
        struct(col("y"), col("d").cast(DecimalType(10, 2)).as("d"))
          .as("meta"))
    FactVersioned.upsert(spark, path, rows, Seq("k"), "p", retain = 10)
    FactVersioned.widenFieldTypes(spark, path,
      Seq(Seq("meta", "y") -> LongType,
        Seq("meta", "d") -> DecimalType(18, 4)), retain = 10)
    val head = FactVersioned.read(spark, path)
    val metaT = head.schema("meta").dataType.asInstanceOf[StructType]
    assert(metaT("y").dataType == LongType)
    assert(metaT("d").dataType == DecimalType(18, 4))
    assert(head.select(col("meta.y")).as[Long].collect().toSet ==
      (1 to 6).map(_ * 10L).toSet)
    assert(head.select(col("meta.d").cast(StringType)).as[String]
      .collect().toSet ==
      (1 to 6).map(i => (BigDecimal(i) / 4).setScale(4).toString).toSet)
    // decimal scale/integer-digit LOSS is rejected
    intercept[IllegalArgumentException] {
      FactVersioned.widenFieldTypes(spark, path,
        Seq(Seq("meta", "d") -> DecimalType(18, 17)), retain = 10)
    }
  }

  test("SQL door: ALTER TABLE ... ALTER COLUMN ... TYPE routes facts " +
      "to the metadata-only commit and dims to a full-copy cast; " +
      "unsafe changes fail the statement") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.graftw",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftw.root", wh)
    // fact
    val fpath = s"$wh/ft"
    FactVersioned.upsert(spark, fpath, base(6), Seq("k"), "p", retain = 10)
    s.sql("ALTER TABLE graftw.ft ALTER COLUMN v TYPE BIGINT")
    assert(FactVersioned.generations(spark, fpath) == Seq(0L, 1L))
    assert(!fsOf(fpath).exists(new Path(
      s"$fpath/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")),
      "the SQL retype must stage no data")
    val got = s.sql("SELECT k, v FROM graftw.ft")
    assert(got.schema("v").dataType == LongType)
    assert(got.as[(Long, Long)].collect().toSet ==
      (1 to 6).map(i => (i.toLong, i * 10L)).toSet)
    // narrowing: Spark's own AlterColumns analysis pre-rejects
    // non-up-castable changes (NOT_SUPPORTED_CHANGE_COLUMN) before the
    // catalog; leafWidens stays as defense for API callers and for the
    // up-casts Spark allows but we consider lossy (long -> double)
    val bad = intercept[Exception] {
      s.sql("ALTER TABLE graftw.ft ALTER COLUMN v TYPE INT")
    }
    assert(RetryContract.messages(bad).exists(m =>
      m.contains("not a safe widening") ||
        m.contains("NOT_SUPPORTED_CHANGE_COLUMN")), bad.getMessage)
    // long -> double: Spark's canUpCast lets it through to the catalog;
    // OUR door rejects it (lossy above 2^53)
    val lossy = intercept[Exception] {
      s.sql("ALTER TABLE graftw.ft ALTER COLUMN v TYPE DOUBLE")
    }
    assert(RetryContract.messages(lossy)
      .exists(_.contains("not a safe widening")), lossy.getMessage)
    // dim
    val dpath = s"$wh/dt"
    commitWhole(base(5), dpath, retain = 5)
    s.sql("ALTER TABLE graftw.dt ALTER COLUMN v TYPE BIGINT")
    val d = s.sql("SELECT k, v FROM graftw.dt")
    assert(d.schema("v").dataType == LongType)
    assert(d.as[(Long, Long)].collect().toSet ==
      (1 to 5).map(i => (i.toLong, i * 10L)).toSet)
    val dbad = intercept[Exception] {
      s.sql("ALTER TABLE graftw.dt ALTER COLUMN k TYPE DOUBLE")
    }
    assert(RetryContract.messages(dbad)
      .exists(_.contains("not a safe widening")), dbad.getMessage)
  }
}
