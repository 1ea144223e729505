package graft

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.operators.{FactAnnIndex, FactChangeFeed, FactVersioned}

/** [[GraftFunctions.tableBuilders]]: the SQL table-valued functions
  * resolve to EXACTLY their operators' plans — every TVF result is
  * hash-equal to the operator twin (the gates q157–q159 re-verify the
  * headline forms against DuckDB; this spec covers the forms without
  * a gate and the argument validation surface). */
class GraftTableFunctionsSpec extends SparkSpec {
  import spark.implicits._

  GraftFunctions.register(spark)

  private def tmp(): String =
    Files.createTempDirectory("graft_tvf_").toString

  /** The AnnIndexSpec corpus: deterministic vectors of dim 8 with a
    * partition column p ∈ {0,1,2}, clustered around 4 rough directions. */
  private def corpus(n: Int): DataFrame =
    (1 to n).map { i =>
      val g = i % 4
      val v = (0 until 8).map { j =>
        val bias = if (j % 4 == g) 4.0 else 0.0
        bias + math.sin(i * 31 + j * 7)
      }
      (i.toLong, i % 3, v)
    }.toDF("id", "p", "vec")

  test("graft_ann_topk_for (external query batch) is hash-equal to " +
      "FactAnnIndex.topKFor") {
    val path = tmp() + "/t"
    FactVersioned.replacePartitions(spark, path, corpus(180), "p",
      Seq(0, 1, 2))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    corpus(180).where(col("id") % 10 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("tvf_queries")
    val out = spark.sql(
      s"""SELECT * FROM graft_ann_topk_for('$path', 'vec',
         |  'tvf_queries', 'qid', 'qvec', 3, 2)""".stripMargin)
      .as[(Long, Long, Int, Double)].collect().toSet
    val twin = FactAnnIndex.topKFor(spark, path, "vec",
        spark.table("tvf_queries"), "qid", "qvec", k = 3, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(out == twin && out.nonEmpty)
  }

  test("the ANN doors accept a catalog reference: an unpartitioned " +
      "catalog table answers hash-equal to its operator twins") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graftann",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftann.root", root)
    corpus(180).createOrReplaceTempView("tvf_corpus")
    spark.sql("CREATE TABLE graftann.vecs AS " +
      "SELECT id, vec FROM tvf_corpus WHERE id <= 120")
    spark.sql("INSERT INTO graftann.vecs " +
      "SELECT id, vec FROM tvf_corpus WHERE id > 120")
    val path = graft.catalog.GraftMaintenance
      .resolveRef(spark, "graftann.vecs", "test").path
    assert(FactVersioned.generations(spark, path) == Seq(0L, 1L))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)

    val self = spark.sql(
      "SELECT * FROM graft_ann_topk('graftann.vecs', 'vec', 3, 2)")
      .as[(Long, Long, Int, Double)].collect().toSet
    val selfTwin = FactAnnIndex.topKIvf(spark, path, "vec", k = 3,
        nProbe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(self == selfTwin)
    assert(self.map(_._1).size == 180) // every row of both generations

    corpus(180).where(col("id") % 10 === 0)
      .select(col("id").as("qid"), col("vec").as("qvec"))
      .createOrReplaceTempView("tvf_cat_queries")
    val batch = spark.sql(
      """SELECT * FROM graft_ann_topk_for('graftann.vecs', 'vec',
        |  'tvf_cat_queries', 'qid', 'qvec', 3, 2)""".stripMargin)
      .as[(Long, Long, Int, Double)].collect().toSet
    val batchTwin = FactAnnIndex.topKFor(spark, path, "vec",
        spark.table("tvf_cat_queries"), "qid", "qvec", k = 3, nProbe = 2)
      .as[(Long, Long, Int, Double)].collect().toSet
    assert(batch == batchTwin && batch.map(_._1).size == 18)
  }

  test("graft_table_changes accepts a direct PATH argument and " +
      "replays an exact window") {
    val path = tmp() + "/t"
    val base = (1 to 30).map(i => (i.toLong, i % 3, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, base, Seq("k"), "p")
    FactVersioned.upsert(spark, path,
      Seq((3L, 0, 999L), (31L, 1, 310L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    val out = spark.sql(
      s"SELECT * FROM graft_table_changes('$path', 'k', 0, 1)")
      .select("op", "k", "p", "v")
      .as[(String, Long, Int, Long)].collect().toSet
    val twin = FactChangeFeed.window(spark, path, Seq("k"), Some(0L), 1L)
      .select("op", "k", "p", "v")
      .as[(String, Long, Int, Long)].collect().toSet
    assert(out == twin)
    assert(out.contains(("insert", 31L, 1, 310L)))
    assert(out.contains(("update_post", 3L, 0, 999L)))
    // from-empty: -1 reads the full snapshot as inserts
    val seed = spark.sql(
      s"SELECT op FROM graft_table_changes('$path', 'k', -1, 0)")
      .as[String].collect()
    assert(seed.length == 30 && seed.forall(_ == "insert"))
  }

  test("graft_table_changes end generation defaults to the HEAD " +
      "(Delta's optional end version): the 2-arg keyless and 3-arg " +
      "keyed forms are hash-equal to their explicit-to twins") {
    val path = tmp() + "/t"
    val base = (1 to 30).map(i => (i.toLong, i % 3, i * 10L))
      .toDF("k", "p", "v")
    // first upsert records k as the default merge key
    FactVersioned.upsert(spark, path, base, Seq("k"), "p")
    FactVersioned.upsert(spark, path,
      Seq((3L, 0, 999L), (31L, 1, 310L)).toDF("k", "p", "v"),
      Seq("k"), "p")
    val explicit = spark.sql(
      s"SELECT op, k, v FROM graft_table_changes('$path', 'k', 0, 1)")
      .as[(String, Long, Long)].collect().toSet
    assert(explicit.nonEmpty)
    // keyed, to-gen omitted → head
    val keyed = spark.sql(
      s"SELECT op, k, v FROM graft_table_changes('$path', 'k', 0)")
      .as[(String, Long, Long)].collect().toSet
    assert(keyed == explicit)
    // keyless AND to-gen omitted → recorded keys, head window
    val minimal = spark.sql(
      s"SELECT op, k, v FROM graft_table_changes('$path', 0)")
      .as[(String, Long, Long)].collect().toSet
    assert(minimal == explicit)
  }

  test("TVF argument validation fails loudly: non-literal args, wrong " +
      "arity, unknown catalog ref") {
    def messageOf(body: => Any): String =
      Iterator.iterate(intercept[Throwable](body))(_.getCause)
        .takeWhile(_ != null)
        .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    val arity = messageOf(
      spark.sql("SELECT * FROM graft_table_changes('x', 'k')"))
    assert(arity.contains("usage:"), arity)
    // non-FOLDABLE args stay rejected (foldable expressions are
    // accepted since r14 — see the folding test below)
    val nonLit = messageOf(spark.sql(
      "SELECT * FROM graft_ann_topk(CAST(rand() AS STRING), 'vec', 3, 2)"))
    assert(nonLit.contains("string literal"), nonLit)
    val badRef = messageOf(spark.sql(
      "SELECT * FROM graft_table_changes('nocat.tbl', 'k', 0, 1)"))
    assert(badRef.toLowerCase.contains("graftcatalog") ||
      badRef.toLowerCase.contains("catalog"), badRef)
  }

  test("a namespaced catalog table answers graft_table_changes and " +
      "OPTIMIZE; a bad segment or a missing namespace still fails") {
    val root = tmp()
    spark.conf.set("spark.sql.catalog.graftns",
      classOf[graft.catalog.GraftCatalog].getName)
    spark.conf.set("spark.sql.catalog.graftns.root", root)
    val s = graft.catalog.GraftDml.enable(spark)
    GraftFunctions.register(s)
    s.sql("CREATE NAMESPACE graftns.raw")
    s.sql("CREATE TABLE graftns.raw.ev AS SELECT 1L AS k, 10L AS v")
    s.sql("INSERT INTO graftns.raw.ev VALUES (2L, 20L)")
    val path = graft.catalog.GraftMaintenance
      .resolveRef(s, "graftns.raw.ev", "test").path
    assert(path == s"$root/raw/ev")
    val changes = s.sql("SELECT op, k, v FROM " +
        "graft_table_changes('graftns.raw.ev', 'k', 0, 1)")
      .as[(String, Long, Long)].collect().toSet
    assert(changes == Set(("insert", 2L, 20L)))
    s.sql("OPTIMIZE graftns.raw.ev")
    assert(FactVersioned.generations(s, path) == Seq(0L, 1L, 2L))
    assert(s.table("graftns.raw.ev").as[(Long, Long)].collect().toSet ==
      Set((1L, 10L), (2L, 20L)))
    // a missing namespace and an unsafe segment are no table
    def noTable(body: => Any): Boolean =
      Iterator.iterate(intercept[Throwable](body))(_.getCause)
        .takeWhile(_ != null).exists {
          case t: org.apache.spark.SparkThrowable =>
            t.getCondition == "TABLE_OR_VIEW_NOT_FOUND"
          case _ => false
        }
    Seq("graftns.nope.ev", "graftns.`_raw`.ev", "graftns.raw.`..`")
      .foreach { ref =>
        assert(noTable(s.sql(s"OPTIMIZE $ref")), ref)
        assert(noTable(s.sql(
          s"SELECT * FROM graft_table_changes('$ref', 'k', 0, 1)")), ref)
      }
  }

  test("TVF scalar arguments constant-fold: arithmetic over literals " +
      "and concatenated strings are accepted") {
    val path = tmp() + "/t"
    val base = (1 to 30).map(i => (i.toLong, i % 3, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, base, Seq("k"), "p")
    FactVersioned.upsert(spark, path,
      Seq((3L, 0, 999L)).toDF("k", "p", "v"), Seq("k"), "p")
    // `0 + 0`, `2 - 1`, and a concat'd path all fold to constants
    val out = spark.sql(
      s"""SELECT * FROM graft_table_changes(
         |  concat('${path.dropRight(1)}', '${path.last}'),
         |  'k', 0 + 0, 2 - 1)""".stripMargin)
      .select("op", "k").as[(String, Long)].collect().toSet
    val twin = spark.sql(
      s"SELECT op, k FROM graft_table_changes('$path', 'k', 0, 1)")
      .as[(String, Long)].collect().toSet
    assert(out == twin && out.nonEmpty)
  }

  test("keyless graft_table_changes resolves the recorded default " +
      "merge keys; DDL keeps the record honest (rename translates, " +
      "drop retires)") {
    val path = tmp() + "/t"
    val base = (1 to 30).map(i => (i.toLong, i % 3, i * 10L))
      .toDF("k", "p", "v")
    FactVersioned.upsert(spark, path, base, Seq("k"), "p", retain = 10)
    assert(FactVersioned.recordedMergeKeys(spark, path)
      .contains(Seq("k")))
    FactVersioned.upsert(spark, path,
      Seq((3L, 0, 999L), (31L, 1, 310L)).toDF("k", "p", "v"),
      Seq("k"), "p", retain = 10)
    val out = spark.sql(
      s"SELECT op, k, v FROM graft_table_changes('$path', 0, 1)")
      .as[(String, Long, Long)].collect().toSet
    val twin = spark.sql(
      s"SELECT op, k, v FROM graft_table_changes('$path', 'k', 0, 1)")
      .as[(String, Long, Long)].collect().toSet
    assert(out == twin && out.nonEmpty)
    // a rename of the key column translates the record — the keyless
    // door keeps working under the new name
    FactVersioned.renameColumns(spark, path, Map("v" -> "amount"), retain = 10)
    assert(FactVersioned.recordedMergeKeys(spark, path)
      .contains(Seq("k")))
    FactVersioned.renameColumns(spark, path, Map("k" -> "id"), retain = 10)
    assert(FactVersioned.recordedMergeKeys(spark, path)
      .contains(Seq("id")))
    // the recorded key "id" translates back through the colmap to the
    // window generations' own naming — the (0,1] window predates the
    // rename, so its output carries the era's name `k` (the VERSION AS
    // OF posture: history keeps its own schema)
    val renamed = spark.sql(
      s"SELECT op, k FROM graft_table_changes('$path', 0, 1)")
      .as[(String, Long)].collect().toSet
    assert(renamed == twin.map(t => (t._1, t._2)))
    // dropping the recorded key retires the record: keyless calls now
    // fail with the explicit-keys guidance (never a phantom column)
    FactVersioned.dropColumns(spark, path, Seq("id"), retain = 10)
    val e = intercept[Throwable] {
      spark.sql(s"SELECT * FROM graft_table_changes('$path', 0, 1)")
        .collect()
    }
    val msgs = Iterator.iterate(e)(_.getCause).takeWhile(_ != null)
      .map(t => Option(t.getMessage).getOrElse("")).mkString(" | ")
    assert(msgs.contains("explicitly"), msgs)
  }
}
