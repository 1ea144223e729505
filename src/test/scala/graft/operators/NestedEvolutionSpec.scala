package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** Nested struct-field evolution ([[FactVersioned.addNestedColumn]] /
  * [[FactVersioned.dropNestedColumn]] + the `GraftCatalog.alterTable`
  * routing): metadata-only commits reshape a struct inside the pinned
  * schema; parquet schema clipping makes carried files null-fill an
  * added field (arrays of structs included) and never project a
  * dropped one. Every generation keeps its own shape — `VERSION AS OF`
  * reads both sides. */
class NestedEvolutionSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_nested_").toString

  /** k, p, meta: struct<src string, score long> */
  private def base(n: Int) =
    (1 to n).map(i => (i.toLong, i % 3, s"s$i", i * 10L))
      .toDF("k", "p", "src", "score")
      .select(col("k"), col("p"),
        struct(col("src"), col("score")).as("meta"))

  test("addNestedColumn: carried files null-fill the new field; a " +
      "post-evolution upsert stages real values; VERSION AS OF reads " +
      "both shapes") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(9), Seq("k"), "p", retain = 5)
    FactVersioned.addNestedColumn(spark, path, Seq("meta", "lang"),
      StringType, retain = 5)
    // carried rows: the field exists in the head schema and reads null
    val head = FactVersioned.read(spark, path)
    assert(head.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("src", "score", "lang"))
    assert(head.select(col("meta.lang")).as[Option[String]]
      .collect().forall(_.isEmpty))
    assert(head.count() == 9)
    // pre-evolution generation keeps its narrow shape
    val v0 = FactVersioned.read(spark, path, Some(0L))
    assert(v0.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("src", "score"))
    // a post-evolution upsert stages the FULL reshaped struct
    val batch = Seq((100L, 1)).toDF("k", "p")
      .select(col("k"), col("p"),
        struct(lit("new").as("src"), lit(7L).as("score"),
          lit("en").as("lang")).as("meta"))
    FactVersioned.upsert(spark, path, batch, Seq("k"), "p", retain = 5)
    val got = FactVersioned.read(spark, path)
      .select(col("k"), col("meta.src"), col("meta.lang"))
      .as[(Long, String, Option[String])].collect().toSet
    assert(got.contains((100L, "new", Some("en"))))
    assert(got.contains((1L, "s1", None)))
    assert(got.size == 10)
  }

  test("nested fields inside ARRAYS of structs evolve: carried rows " +
      "null-fill the field in every element") {
    val path = tmp() + "/t"
    val df = (1 to 6).map(i => (i.toLong, i % 2)).toDF("k", "p")
      .select(col("k"), col("p"),
        array(struct(col("k").as("a")),
          struct((col("k") * 2).as("a"))).as("tags"))
    FactVersioned.upsert(spark, path, df, Seq("k"), "p", retain = 5)
    // the SQL spelling (tags.element.b) and the API spelling (tags.b)
    // resolve identically
    FactVersioned.addNestedColumn(spark, path,
      Seq("tags", "element", "b"), StringType, retain = 5)
    val head = FactVersioned.read(spark, path)
    val elem = head.schema("tags").dataType.asInstanceOf[ArrayType]
      .elementType.asInstanceOf[StructType]
    assert(elem.fieldNames.toSeq == Seq("a", "b"))
    val got = head.where(col("k") === 3)
      .select(explode(col("tags")).as("t"))
      .select(col("t.a"), col("t.b"))
      .as[(Long, Option[String])].collect().toSet
    assert(got == Set((3L, None), (6L, None)), got.toString)
  }

  test("dropNestedColumn: the field vanishes from the head, history " +
      "keeps it, and a re-add of the dropped path is rejected " +
      "(tombstone, both spellings)") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(6), Seq("k"), "p", retain = 5)
    FactVersioned.dropNestedColumn(spark, path, Seq("meta", "score"),
      retain = 5)
    val head = FactVersioned.read(spark, path)
    assert(head.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("src"))
    assert(head.select(col("meta.src")).as[String].collect().toSet ==
      (1 to 6).map(i => s"s$i").toSet)
    // history still reads the full struct
    assert(FactVersioned.read(spark, path, Some(0L))
      .select(col("meta.score")).as[Long].collect().toSet ==
      (1 to 6).map(_ * 10L).toSet)
    // the dropped path cannot re-add — carried files still hold it
    val e = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path, Seq("meta", "score"),
        LongType, retain = 5)
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    // the last remaining field cannot drop — guidance names the column
    val last = intercept[IllegalArgumentException] {
      FactVersioned.dropNestedColumn(spark, path, Seq("meta", "src"))
    }
    assert(last.getMessage.contains("drop the whole column"),
      last.getMessage)
  }

  test("path validation fails loudly: non-struct parent, missing " +
      "segment, top-level path") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(3), Seq("k"), "p")
    val nonStruct = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path, Seq("k", "x"), StringType)
    }
    assert(nonStruct.getMessage.contains("not a struct"),
      nonStruct.getMessage)
    val missing = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path, Seq("nope", "x"),
        StringType)
    }
    assert(missing.getMessage.contains("does not exist"),
      missing.getMessage)
    val topLevel = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path, Seq("x"), StringType)
    }
    assert(topLevel.getMessage.contains("addColumns"), topLevel.getMessage)
  }

  test("a MIXED ADD (top-level + nested in one statement) lands as ONE " +
      "atomic commit; a failing validation commits nothing") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(6), Seq("k"), "p", retain = 5)
    FactVersioned.addFields(spark, path,
      Seq(Seq("extra") -> LongType, Seq("meta", "lang") -> StringType),
      retain = 5)
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L),
      "a mixed add must be exactly one commit")
    val head = FactVersioned.read(spark, path)
    assert(head.columns.contains("extra"))
    assert(head.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.contains("lang"))
    // atomicity: one valid + one invalid field — NOTHING commits
    val e = intercept[IllegalArgumentException] {
      FactVersioned.addFields(spark, path,
        Seq(Seq("extra2") -> LongType, Seq("k", "x") -> StringType))
    }
    assert(e.getMessage.contains("not a struct"), e.getMessage)
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L),
      "a failed mixed add must commit nothing")
    assert(!FactVersioned.read(spark, path).columns.contains("extra2"))
  }

  test("fields inside MAP VALUES evolve (m.value.f and the step-less " +
      "API form); map KEYS are rejected loudly") {
    val path = tmp() + "/t"
    val df = (1 to 6).map(i => (i.toLong, i % 2)).toDF("k", "p")
      .select(col("k"), col("p"),
        map(lit("a"), struct(col("k").as("x"))).as("m"))
    FactVersioned.upsert(spark, path, df, Seq("k"), "p", retain = 5)
    FactVersioned.addNestedColumn(spark, path,
      Seq("m", "value", "y"), StringType, retain = 5)
    val vt = FactVersioned.read(spark, path).schema("m").dataType
      .asInstanceOf[MapType].valueType.asInstanceOf[StructType]
    assert(vt.fieldNames.toSeq == Seq("x", "y"))
    // carried rows null-fill inside the map value
    val got = FactVersioned.read(spark, path).where(col("k") === 3)
      .select(col("m")("a")("y")).as[Option[String]].head()
    assert(got.isEmpty)
    // the step-less API spelling resolves to the same field — its
    // tombstone blocks BOTH spellings after a drop
    FactVersioned.dropNestedColumn(spark, path, Seq("m", "y"), retain = 5)
    val re = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path,
        Seq("m", "value", "y"), StringType)
    }
    assert(re.getMessage.contains("DROPPED"), re.getMessage)
    // map keys can never evolve
    val key = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path,
        Seq("m", "key", "z"), StringType)
    }
    assert(key.getMessage.contains("KEY"), key.getMessage)
  }

  test("nested tombstones SURVIVE a rename of the containing column: " +
      "the dropped field cannot re-add under the new top name (carried " +
      "files still hold it physically under the same top column)") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(6), Seq("k"), "p", retain = 10)
    FactVersioned.dropNestedColumn(spark, path, Seq("meta", "score"),
      retain = 10)
    FactVersioned.renameColumns(spark, path, Map("meta" -> "info"),
      retain = 10)
    // the head reads the renamed struct without the dropped field
    assert(FactVersioned.read(spark, path).schema("info").dataType
      .asInstanceOf[StructType].fieldNames.toSeq == Seq("src"))
    // re-adding under the NEW top name must hit the tombstone — the
    // physical top column is the same, and carried files still hold
    // the dropped field's stale values
    val e = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path, Seq("info", "score"),
        LongType, retain = 10)
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    // dropping ANOTHER field post-rename tombstones under the physical
    // top too: drop info.src would empty the struct, so add one first
    FactVersioned.addNestedColumn(spark, path, Seq("info", "lang"),
      StringType, retain = 10)
    FactVersioned.dropNestedColumn(spark, path, Seq("info", "lang"),
      retain = 10)
    val e2 = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path, Seq("info", "lang"),
        StringType, retain = 10)
    }
    assert(e2.getMessage.contains("DROPPED"), e2.getMessage)
  }

  test("ADD COLUMN FIRST/AFTER orders the pinned schema (purely " +
      "presentational — reads stay by-name): facts metadata-only, dims " +
      "full-copy; AFTER a missing column fails loudly") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.graftpos",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graftpos.root", wh)
    // fact: base columns (k, p, meta); add FIRST and AFTER
    val fpath = s"$wh/ft"
    FactVersioned.upsert(spark, fpath, base(6), Seq("k"), "p", retain = 10)
    s.sql("ALTER TABLE graftpos.ft ADD COLUMN lead STRING FIRST")
    s.sql("ALTER TABLE graftpos.ft ADD COLUMN midway LONG AFTER k")
    // metadata-only: no data staged by either ALTER
    val fs = new org.apache.hadoop.fs.Path(fpath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$fpath/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=1")))
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$fpath/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2")))
    // presented order: data columns follow the pinned order (partition
    // column and vgen keep their discovery/provenance slots)
    val cols = s.sql("SELECT * FROM graftpos.ft").columns.toSeq
      .filterNot(c => c == FactVersioned.VGenCol || c == "p")
    assert(cols == Seq("lead", "k", "midway", "meta"),
      s"pinned order must present, got $cols")
    // carried rows null-fill; by-name reads are untouched by the order
    assert(s.sql("SELECT count(*) FROM graftpos.ft WHERE lead IS NULL " +
      "AND midway IS NULL").head.getLong(0) == 6)
    assert(s.sql("SELECT sum(meta.score) FROM graftpos.ft")
      .head.getLong(0) == (1 to 6).map(_ * 10L).sum)
    // AFTER a missing column fails the statement, commits nothing
    val gensBefore = FactVersioned.generations(spark, fpath)
    intercept[Exception] {
      s.sql("ALTER TABLE graftpos.ft ADD COLUMN x INT AFTER nope")
    }
    assert(FactVersioned.generations(spark, fpath) == gensBefore)
    // MULTI-column positioned ADD applies in STATEMENT order (a later
    // add may reference an earlier one's slot — hash-order application
    // would scramble it)
    s.sql("ALTER TABLE graftpos.ft ADD COLUMNS " +
      "(c1 INT AFTER k, c2 INT AFTER c1)")
    val cols2 = s.sql("SELECT * FROM graftpos.ft").columns.toSeq
      .filterNot(c => c == FactVersioned.VGenCol || c == "p")
    assert(cols2 == Seq("lead", "k", "c1", "c2", "midway", "meta"),
      s"statement-order positioning must hold, got $cols2")
    // dim (unpartitioned): same surface, same metadata-only commit
    val dpath = s"$wh/dt"
    commitWhole((1 to 4).map(i => (i.toLong, i * 10L)).toDF("k", "v"),
      dpath, retain = 5)
    s.sql("ALTER TABLE graftpos.dt ADD COLUMN tag STRING FIRST")
    assert(s.sql("SELECT * FROM graftpos.dt").columns.toSeq ==
      Seq("tag", "k", "v"))
  }

  test("SQL door: ALTER TABLE ADD/DROP COLUMN of a nested field " +
      "routes to the metadata-only commits on a FACT table and a " +
      "full-copy generation on a DIMENSION") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.g2",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g2.root", wh)
    FactVersioned.upsert(s, s"$wh/f", base(6), Seq("k"), "p", retain = 5)
    s.sql("ALTER TABLE g2.f ADD COLUMN meta.lang STRING")
    assert(FactVersioned.generations(s, s"$wh/f") == Seq(0L, 1L),
      "nested ADD on a fact must be one metadata-only generation")
    // a MIXED statement (top-level + nested) is ONE commit
    s.sql("ALTER TABLE g2.f ADD COLUMNS (extra BIGINT, meta.tag STRING)")
    assert(FactVersioned.generations(s, s"$wh/f") == Seq(0L, 1L, 2L),
      "a mixed ADD statement must land as one atomic commit")
    assert(s.table("g2.f").columns.contains("extra"))
    s.sql("ALTER TABLE g2.f DROP COLUMNS (extra, meta.tag)")
    // retention (3) expires gen 0 at this fourth commit — the max is
    // what proves ONE commit landed
    assert(FactVersioned.generations(s, s"$wh/f").max == 3L,
      "a mixed DROP statement must land as one atomic commit")
    assert(!s.table("g2.f").columns.contains("extra"))
    assert(s.table("g2.f").select(col("meta.lang"))
      .as[Option[String]].collect().forall(_.isEmpty))
    s.sql("ALTER TABLE g2.f DROP COLUMN meta.score")
    assert(s.table("g2.f").schema("meta").dataType
      .asInstanceOf[StructType].fieldNames.toSeq == Seq("src", "lang"))
    // dimension (unpartitioned): the same metadata-only reshape
    commitWhole(base(4), s"$wh/d")
    s.sql("ALTER TABLE g2.d ADD COLUMN meta.lang STRING")
    assert(s.table("g2.d").schema("meta").dataType
      .asInstanceOf[StructType].fieldNames.toSeq ==
      Seq("src", "score", "lang"))
    s.sql("ALTER TABLE g2.d DROP COLUMN meta.score")
    assert(s.table("g2.d").select(col("meta.src")).as[String]
      .collect().toSet == (1 to 4).map(i => s"s$i").toSet)
    // the dimension path resolves the top segment case-insensitively,
    // like the fact path's fieldAt: 'META.tag' on column 'meta' must
    // evolve, not throw a raw field-does-not-exist after passing the
    // existence check
    s.sql("ALTER TABLE g2.d ADD COLUMN META.tag STRING")
    assert(s.table("g2.d").schema("meta").dataType
      .asInstanceOf[StructType].fieldNames.contains("tag"))
    s.sql("ALTER TABLE g2.d DROP COLUMN Meta.TAG")
    assert(!s.table("g2.d").schema("meta").dataType
      .asInstanceOf[StructType].fieldNames.contains("tag"))
  }

  test("renameNestedColumn is metadata-only column mapping: carried " +
      "files read their VALUES under the new field name, later commits " +
      "stage physical, time travel keeps both sides, tombstones block " +
      "both spellings") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(6), Seq("k"), "p", retain = 10)
    val c = FactVersioned.renameNestedColumn(spark, path,
      Seq("meta", "score"), "points", retain = 10)
    // metadata-only: no data staged by the rename commit
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=${c.gen}")))
    // carried rows read their true values under the NEW name
    val head = FactVersioned.read(spark, path)
    assert(head.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("src", "points"))
    assert(head.select(col("k"), col("meta.points"))
      .as[(Long, Long)].collect().toSet ==
      (1 to 6).map(i => (i.toLong, i * 10L)).toSet)
    // time travel keeps the old spelling
    assert(FactVersioned.read(spark, path, Some(0L))
      .select(col("meta.score")).as[Long].collect().toSet ==
      (1 to 6).map(_ * 10L).toSet)
    // a post-rename upsert stages under the PHYSICAL field name
    val batch = Seq((100L, 1)).toDF("k", "p")
      .select(col("k"), col("p"),
        struct(lit("new").as("src"), lit(7L).as("points")).as("meta"))
    FactVersioned.upsert(spark, path, batch, Seq("k"), "p", retain = 10)
    val staged = spark.read.parquet(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=2")
    assert(staged.schema("meta").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("src", "score"),
      "staged files must keep the physical leaf name")
    assert(FactVersioned.read(spark, path).where(col("k") === 100L)
      .select(col("meta.points")).as[Long].head() == 7L)
    // the OLD spelling is tombstoned: re-adding it would resurrect the
    // carried files' stale values
    val e = intercept[IllegalArgumentException] {
      FactVersioned.addNestedColumn(spark, path, Seq("meta", "score"),
        LongType, retain = 10)
    }
    assert(e.getMessage.contains("DROPPED"), e.getMessage)
    // renaming BACK onto the physical spelling is equally rejected
    val e2 = intercept[IllegalArgumentException] {
      FactVersioned.renameNestedColumn(spark, path,
        Seq("meta", "points"), "score", retain = 10)
    }
    assert(e2.getMessage.contains("dropped or renamed away"), e2.getMessage)
    // a SECOND rename chains (points → pts), keeping the same physical
    FactVersioned.renameNestedColumn(spark, path, Seq("meta", "points"),
      "pts", retain = 10)
    assert(FactVersioned.read(spark, path)
      .select(col("meta.pts")).as[Long].collect().toSet ==
      ((1 to 6).map(_ * 10L).toSet + 7L))
    // and a TOP-LEVEL rename of the container re-keys the nested map
    FactVersioned.renameColumns(spark, path, Map("meta" -> "info"),
      retain = 10)
    assert(FactVersioned.read(spark, path)
      .select(col("info.pts")).as[Long].collect().toSet ==
      ((1 to 6).map(_ * 10L).toSet + 7L))
    // guards: missing field, sibling collision, top-level path
    intercept[IllegalArgumentException] {
      FactVersioned.renameNestedColumn(spark, path, Seq("info", "nope"),
        "x")
    }
    intercept[IllegalArgumentException] {
      FactVersioned.renameNestedColumn(spark, path, Seq("info", "pts"),
        "src")
    }
    intercept[IllegalArgumentException] {
      FactVersioned.renameNestedColumn(spark, path, Seq("info"), "x")
    }
  }

  test("renaming an INTERMEDIATE struct field re-keys mapped " +
      "descendants (descendant rename THEN ancestor rename): carried " +
      "values keep reading, later commits stage the original physical " +
      "leaf — never a silent null-fill or a physical-name fork") {
    // ADVICE r15 #1: meta.inner.y -> x leaves colmap 'meta.inner.x'->'y';
    // renaming meta.inner -> core must re-key it to 'meta.core.x'->'y'
    // or reads resolve 'meta.core.x' with no entry (silent null-fill)
    // and commits stage the wrong physical leaf
    val path = tmp() + "/t"
    val rows = (1 to 6).map(i => (i.toLong, i % 3, i * 10L, s"s$i"))
      .toDF("k", "p", "y", "src")
      .select(col("k"), col("p"),
        struct(struct(col("y")).as("inner"), col("src")).as("meta"))
    FactVersioned.upsert(spark, path, rows, Seq("k"), "p", retain = 10)
    FactVersioned.renameNestedColumn(spark, path,
      Seq("meta", "inner", "y"), "x", retain = 10)
    FactVersioned.renameNestedColumn(spark, path,
      Seq("meta", "inner"), "core", retain = 10)
    // carried values read under the fully-renamed path
    assert(FactVersioned.read(spark, path)
      .select(col("k"), col("meta.core.x")).as[(Long, Long)]
      .collect().toSet == (1 to 6).map(i => (i.toLong, i * 10L)).toSet,
      "descendant colmap entry was orphaned by the ancestor rename")
    // a post-rename upsert stages the ORIGINAL physical leaf names
    val batch = Seq((100L, 1)).toDF("k", "p")
      .select(col("k"), col("p"),
        struct(struct(lit(777L).as("x")).as("core"),
          lit("new").as("src")).as("meta"))
    FactVersioned.upsert(spark, path, batch, Seq("k"), "p", retain = 10)
    val staged = spark.read.parquet(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=3")
    val metaT = staged.schema("meta").dataType.asInstanceOf[StructType]
    assert(metaT.fieldNames.toSeq == Seq("inner", "src"),
      s"staged container must keep physical name: ${metaT.fieldNames.toSeq}")
    assert(metaT("inner").dataType.asInstanceOf[StructType]
      .fieldNames.toSeq == Seq("y"),
      "staged leaf must keep the ORIGINAL physical name, not fork")
    // both carried and fresh rows read together under the logical path
    assert(FactVersioned.read(spark, path)
      .select(col("meta.core.x")).as[Long].collect().toSet ==
      ((1 to 6).map(_ * 10L).toSet + 777L))
    // time travel keeps every era's spelling
    assert(FactVersioned.read(spark, path, Some(0L))
      .select(col("meta.inner.y")).as[Long].collect().toSet ==
      (1 to 6).map(_ * 10L).toSet)
    assert(FactVersioned.read(spark, path, Some(1L))
      .select(col("meta.inner.x")).as[Long].collect().toSet ==
      (1 to 6).map(_ * 10L).toSet)
  }

  test("SQL door: ALTER TABLE RENAME COLUMN of a NESTED field — fact " +
      "tables map metadata-only and SQL reads translate at the scan " +
      "seam (projection, filter, aggregate); dimensions full-copy") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.g3",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g3.root", wh)
    FactVersioned.upsert(s, s"$wh/f", base(9), Seq("k"), "p", retain = 10)
    s.sql("ALTER TABLE g3.f RENAME COLUMN meta.score TO points")
    assert(FactVersioned.generations(s, s"$wh/f") == Seq(0L, 1L),
      "nested RENAME on a fact must be one metadata-only generation")
    // pruned nested projection reads the carried VALUES under the new
    // name (the shim must hand the parquet reader the PHYSICAL leaf)
    assert(s.sql("SELECT meta.points FROM g3.f").as[Long]
      .collect().toSet == (1 to 9).map(_ * 10L).toSet)
    // filters and aggregates over the renamed field
    assert(s.sql("SELECT count(*) FROM g3.f WHERE meta.points > 50")
      .as[Long].head() == 4L)
    assert(s.sql("SELECT sum(meta.points) AS t FROM g3.f")
      .as[Long].head() == (1 to 9).map(_ * 10L).sum)
    // the whole row still reads, struct intact
    assert(s.sql("SELECT meta FROM g3.f").select(col("meta.src"))
      .as[String].collect().toSet == (1 to 9).map(i => s"s$i").toSet)
    // the old spelling is gone from the head and VERSION AS OF keeps it
    intercept[org.apache.spark.sql.AnalysisException] {
      s.sql("SELECT meta.score FROM g3.f").collect()
    }
    assert(s.sql("SELECT meta.score FROM g3.f VERSION AS OF 0")
      .as[Long].collect().toSet == (1 to 9).map(_ * 10L).toSet)
    // SQL INSERT after the rename stages physical and reads back
    s.sql(
      """INSERT INTO g3.f BY NAME
        |SELECT 100L AS k, 1 AS p,
        |  named_struct('src', 'ins', 'points', 77L) AS meta,
        |  CAST(NULL AS BIGINT) AS vgen""".stripMargin)
    assert(s.sql("SELECT meta.points FROM g3.f WHERE k = 100")
      .as[Long].head() == 77L)
    // dimension (unpartitioned): the same statement, same commit
    commitWhole(base(4), s"$wh/d")
    s.sql("ALTER TABLE g3.d RENAME COLUMN meta.score TO points")
    assert(s.sql("SELECT meta.points FROM g3.d").as[Long]
      .collect().toSet == (1 to 4).map(_ * 10L).toSet)
  }

  test("ADD COLUMN ... DEFAULT: carried files read the default at " +
      "read time (metadata-only, zero rewrite); files holding the " +
      "column — explicit NULLs included — read their own values; the " +
      "default survives renames and retires on drop") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, base(6), Seq("k"), "p", retain = 10)
    val c = FactVersioned.addColumns(spark, path,
      Seq(org.apache.spark.sql.types.StructField("tier", StringType)),
      retain = 10, defaults = Map("tier" -> "'bronze'"))
    // metadata-only: nothing staged
    val fs = new org.apache.hadoop.fs.Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(new org.apache.hadoop.fs.Path(
      s"$path/${FactVersioned.DataDir}/${FactVersioned.VGenCol}=${c.gen}")))
    // every carried row reads the default, not null
    assert(FactVersioned.read(spark, path).select(col("tier"))
      .as[String].collect().toSeq == Seq.fill(6)("bronze"))
    // a post-add write persists REAL values — explicit null included —
    // and only genuinely-absent files fill the default
    FactVersioned.upsert(spark, path,
      Seq((1L, 1, "gold"), (100L, 0, null)).toDF("k", "p", "tier")
        .select(col("k"), col("p"),
          struct(lit("x").as("src"), lit(0L).as("score")).as("meta"),
          col("tier")),
      Seq("k"), "p", retain = 10)
    val got = FactVersioned.read(spark, path)
      .select(col("k"), col("tier"))
      .as[(Long, Option[String])].collect().toMap
    assert(got(1L).contains("gold"))
    assert(got(100L).isEmpty, "an explicit NULL must stay NULL")
    assert(got(2L).contains("bronze"), "carried rows keep the default")
    // time travel to the pre-add generation is unaffected
    assert(!FactVersioned.read(spark, path, Some(0L))
      .columns.contains("tier"))
    // the default follows a rename of its column — and each ERA keeps
    // its own record: VERSION AS OF a post-add generation still reads
    // the default under that era's name after later renames/drops
    val preRenameGen = FactVersioned.generations(spark, path).max
    FactVersioned.renameColumns(spark, path, Map("tier" -> "grade"),
      retain = 10)
    assert(FactVersioned.read(spark, path).where(col("k") === 2L)
      .select(col("grade")).as[String].head() == "bronze")
    assert(FactVersioned.read(spark, path, Some(preRenameGen))
      .where(col("k") === 2L).select(col("tier")).as[String]
      .head() == "bronze",
      "time travel must read the era's own defaults under its own name")
    // and retires with a drop (the head record; history keeps its own)
    FactVersioned.dropColumns(spark, path, Seq("grade"), retain = 10)
    assert(FactVersioned.columnDefaults(spark, path).isEmpty)
    assert(FactVersioned.columnDefaults(spark, path,
      Some(preRenameGen)).nonEmpty)
    // a non-constant / ill-typed default fails loudly, commits nothing
    val gensBefore = FactVersioned.generations(spark, path)
    intercept[IllegalArgumentException] {
      FactVersioned.addColumns(spark, path,
        Seq(org.apache.spark.sql.types.StructField("bad", LongType)),
        retain = 10, defaults = Map("bad" -> "not_a_column + 1"))
    }
    assert(FactVersioned.generations(spark, path) == gensBefore)
  }

  test("SQL door: ADD COLUMN ... DEFAULT routes through the catalog — " +
      "facts metadata-only with read-time defaults, dims materialize") {
    val wh = tmp()
    val s = spark
    s.conf.set("spark.sql.catalog.g4",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.g4.root", wh)
    FactVersioned.upsert(s, s"$wh/f", base(6), Seq("k"), "p", retain = 10)
    s.sql("ALTER TABLE g4.f ADD COLUMN tier STRING DEFAULT 'bronze'")
    assert(FactVersioned.generations(s, s"$wh/f") == Seq(0L, 1L),
      "fact ADD DEFAULT must be one metadata-only generation")
    assert(s.sql("SELECT tier FROM g4.f").as[String]
      .collect().toSeq == Seq.fill(6)("bronze"))
    assert(s.sql("SELECT count(*) FROM g4.f WHERE tier = 'bronze'")
      .as[Long].head() == 6L)
    // new SQL writes persist real values
    s.sql(
      """INSERT INTO g4.f BY NAME
        |SELECT 100L AS k, 1 AS p,
        |  named_struct('src', 'i', 'score', 1L) AS meta,
        |  'gold' AS tier, CAST(NULL AS BIGINT) AS vgen""".stripMargin)
    assert(s.sql("SELECT tier FROM g4.f WHERE k = 100")
      .as[String].head() == "gold")
    // dimension (unpartitioned): the default fills carried files
    commitWhole(base(4), s"$wh/d")
    s.sql("ALTER TABLE g4.d ADD COLUMN tier STRING DEFAULT 'dim'")
    assert(s.sql("SELECT tier FROM g4.d").as[String]
      .collect().toSeq == Seq.fill(4)("dim"))
  }

  test("dropFieldPaths rejects two spellings of one field (container " +
      "steps, or a literal duplicate) as duplicates instead of failing " +
      "the fold with a confusing missing-segment error") {
    val path = tmp() + "/t"
    val df = (1 to 6).map(i => (i.toLong, i % 2)).toDF("k", "p")
      .select(col("k"), col("p"),
        array(struct(col("k").as("a"), col("k").as("b"))).as("tags"))
    FactVersioned.upsert(spark, path, df, Seq("k"), "p", retain = 5)
    val e = intercept[IllegalArgumentException] {
      FactVersioned.dropFieldPaths(spark, path,
        Seq(Seq("tags", "b"), Seq("tags", "element", "b")))
    }
    assert(e.getMessage.contains("more than once"), e.getMessage)
    val e2 = intercept[IllegalArgumentException] {
      FactVersioned.dropFieldPaths(spark, path,
        Seq(Seq("tags", "b"), Seq("tags", "b")))
    }
    assert(e2.getMessage.contains("more than once"), e2.getMessage)
    // nothing committed by either rejection
    assert(FactVersioned.generations(spark, path) == Seq(0L))
  }

  test("a raw data commit cannot evolve a map KEY struct — keys define " +
      "lookup identity, so the committer agrees with the DDL doors; " +
      "map VALUE structs stay additively evolvable") {
    val path = tmp() + "/t"
    val df = (1 to 4).map(i => (i.toLong, i % 2)).toDF("k", "p")
      .select(col("k"), col("p"),
        map_from_arrays(array(struct(col("k").as("a"))),
          array(struct((col("k") * 10).as("x")))).as("m"))
    FactVersioned.upsert(spark, path, df, Seq("k"), "p", retain = 5)
    val head = FactVersioned.generations(spark, path).max
    // key struct gains a field: NOT additive — carried files would
    // read key structs with null-filled fields, changing identity
    val keyWidened = Seq((9L, 0)).toDF("k", "p")
      .select(col("k"), col("p"),
        map_from_arrays(
          array(struct(lit(9L).as("a"), lit("x").as("extra"))),
          array(struct(lit(90L).as("x")))).as("m"))
    val e = intercept[IllegalArgumentException] {
      FactVersioned.replacePartitions(spark, path, keyWidened, "p",
        Seq(0), retain = 5, basisGen = Some(head))
    }
    assert(e.getMessage.contains("not compatible"), e.getMessage)
    // value struct gains a field: additive as before
    val valWidened = Seq((9L, 0)).toDF("k", "p")
      .select(col("k"), col("p"),
        map_from_arrays(array(struct(lit(9L).as("a"))),
          array(struct(lit(90L).as("x"), lit("y").as("extra")))).as("m"))
    FactVersioned.replacePartitions(spark, path,
      FactVersioned.read(spark, path).where(col("p") === 0)
        .select(col("k"), col("p"),
          org.apache.spark.sql.functions.transform_values(col("m"),
            (_, v) => struct(v("x").as("x"),
              lit(null).cast(StringType).as("extra"))).as("m"))
        .unionByName(valWidened),
      "p", Seq(0), retain = 5, basisGen = Some(head))
    val vt = FactVersioned.read(spark, path).schema("m").dataType
      .asInstanceOf[MapType].valueType.asInstanceOf[StructType]
    assert(vt.fieldNames.toSeq == Seq("x", "extra"))
  }
}
