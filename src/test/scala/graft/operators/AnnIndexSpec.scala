package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[AnnIndex]]'s query plans over a persisted index must change WHEN
  * work happens, never WHAT is computed: run through [[FactAnnIndex]]
  * over a one-generation unpartitioned table, each tier is
  * bit-identical to its per-call counterpart and reads only the index.
  * Case names keep the tier names: `ivfTopKIndexed` is
  * [[FactAnnIndex.topKIvf]], `sq8TopKIndexed` / `pqTopKIndexed` are
  * [[FactAnnIndex.topK]] / [[FactAnnIndex.topKPq]] probing every cell,
  * `ivfSq8TopKIndexed{,For,Where}` are `topK{,For,Where}` and
  * `ivfPqTopKIndexed` is `topKPq`. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ann_").toString

  /** Deterministic synthetic corpus: `n` vectors of dim 8, clustered
    * around 4 rough directions so IVF cells are meaningful. */
  private def corpus(n: Int): DataFrame =
    (1 to n).map { i =>
      val g = i % 4
      val v = (0 until 8).map { j =>
        val bias = if (j % 4 == g) 4.0 else 0.0
        bias + math.sin(i * 31 + j * 7) // deterministic jitter
      }
      (i.toLong, i % 3, v)
    }.toDF("id", "p", "vec")

  /** Commit `df` as the one generation of an unpartitioned table and
    * index it with 4 lists (PQ: m = 4, ksub = 16); returns the path. */
  private def indexed(df: DataFrame): String = {
    val path = tmp() + "/t"
    FactVersioned.replacePartitionsBy(spark, path, df, Nil, Seq(Nil))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4,
      pqM = 4, pqKsub = 16)
    path
  }

  private def resultSet(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .as[(Long, Long, Int, Double)].collect().toSet

  private def percallPq(path: String): Set[(Long, Long, Int, Double)] =
    resultSet(Similarity.pqTopK(FactVersioned.read(spark, path), "id",
      "vec", k = 3, m = 4, ksub = 16, overFetch = 4))

  private def percallSq8(path: String): Set[(Long, Long, Int, Double)] =
    resultSet(Similarity.sq8TopK(FactVersioned.read(spark, path), "id",
      "vec", k = 3, overFetch = 4))

  /** Candidates come from a cell-keyed JOIN (size-adaptive), not a
    * collected broadcast array. */
  private def assertCellJoin(out: DataFrame): Unit = {
    val joinKeys = out.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        (j.leftKeys ++ j.rightKeys).map(_.sql.toLowerCase)
    }
    assert(joinKeys.exists(_.exists(_.contains("cell"))),
      s"candidate stage must join on cell, got: $joinKeys")
  }

  test("ivfTopKIndexed is bit-identical to per-call ivfTopK") {
    val path = indexed(corpus(180))
    val got = resultSet(
      FactAnnIndex.topKIvf(spark, path, "vec", k = 3, nProbe = 2))
    val percall = resultSet(Similarity.ivfTopK(
      FactVersioned.read(spark, path), "id", "vec", k = 3, nLists = 4,
      nProbe = 2))
    assert(got == percall)
    assert(got.nonEmpty)
  }

  test("sq8TopKIndexed is bit-identical to per-call sq8TopK") {
    val path = indexed(corpus(150))
    val got = resultSet(FactAnnIndex.topK(spark, path, "vec", k = 3,
      nProbe = 4, overFetch = 4))
    assert(got == percallSq8(path))
    assert(got.nonEmpty)
  }

  test("pqTopKIndexed is bit-identical to per-call pqTopK") {
    val path = indexed(corpus(150))
    val got = resultSet(FactAnnIndex.topKPq(spark, path, "vec", k = 3,
      nProbe = 4, overFetch = 4))
    assert(got == percallPq(path))
    assert(got.nonEmpty)
  }

  test("ivfSq8TopKIndexed probing all cells is bit-identical to sq8TopK " +
      "(full pair universe) and never collects the corpus") {
    val path = indexed(corpus(150))
    // nProbe = nLists ⇒ every query probes every cell ⇒ the candidate
    // universe equals the full scan ⇒ bit-parity with the broadcast path
    val combined = FactAnnIndex.topK(spark, path, "vec", k = 3,
      nProbe = 4, overFetch = 4)
    val percall = percallSq8(path)
    assert(resultSet(combined) == percall)
    assert(percall.nonEmpty)
    assertCellJoin(combined)
  }

  test("ivfPqTopKIndexed probing all cells is bit-identical to pqTopK " +
      "(full pair universe) and never collects the corpus") {
    val path = indexed(corpus(150))
    // nProbe = nLists ⇒ candidate universe equals the full scan, and
    // the ADC join scoring is bit-identical to pqCandidateScan's LUT
    // scoring ⇒ bit-parity with the collected-broadcast path
    val combined = FactAnnIndex.topKPq(spark, path, "vec", k = 3,
      nProbe = 4, overFetch = 4)
    val percall = percallPq(path)
    assert(resultSet(combined) == percall)
    assert(percall.nonEmpty)
    assertCellJoin(combined)
  }

  test("topKPqFor answers an external batch: parity with the " +
      "self-join restricted to its ids") {
    val data = corpus(150)
    val path = indexed(data)
    val batch = data.where(col("id") % 5 === 0)
    val got = resultSet(FactAnnIndex.topKPqFor(spark, path, "vec",
      batch, "id", "vec", k = 3, nProbe = 4, overFetch = 4))
    assert(got == percallPq(path).filter(_._1 % 5 == 0))
    assert(got.nonEmpty)
  }

  test("ivfPqTopKIndexed with restricted probes keeps IVF-grade recall") {
    val path = indexed(corpus(180))
    val combined = FactAnnIndex.topKPq(spark, path, "vec", k = 3,
        nProbe = 2, overFetch = 4)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(
        FactVersioned.read(spark, path), "id", "vec", k = 3)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = combined.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.75, s"IVF+PQ recall $recall below floor")
  }

  test("ivfSq8TopKIndexedFor answers an external query batch: parity " +
      "with the self-join restricted to the batch; novel ids get full " +
      "neighbor lists from the corpus") {
    val data = corpus(150)
    val path = indexed(data)
    // batch drawn from the corpus: probing all cells must reproduce
    // the self-join results for exactly those keys (same codes, same
    // candidate universe, id-equality self-exclusion)
    val batch = data.where(col("id") % 5 === 0)
    val got = resultSet(FactAnnIndex.topKFor(spark, path, "vec",
      batch, "id", "vec", k = 3, nProbe = 4, overFetch = 4))
    assert(got == percallSq8(path).filter(_._1 % 5 == 0))
    assert(got.nonEmpty)
    // genuinely-new items (ids outside the corpus key space): every
    // query gets k corpus neighbors, none of them itself
    val novel = data.where(col("id") % 7 === 1)
      .withColumn("id", col("id") + 100000L)
    val got2 = resultSet(FactAnnIndex.topKFor(spark, path, "vec",
      novel, "id", "vec", k = 3, nProbe = 4, overFetch = 4))
    val novelIds = novel.select("id").as[Long].collect().toSet
    assert(got2.map(_._1) == novelIds)
    assert(got2.groupBy(_._1).forall(_._2.size == 3))
    val corpusIds = data.select("id").as[Long].collect().toSet
    assert(got2.forall(r => corpusIds.contains(r._2)))
  }

  test("ivfSq8TopKIndexedWhere restricts neighbors to the allowed set: " +
      "with all cells probed and ample over-fetch it is EXACTLY the " +
      "brute-force cosine top-k over the allowed subset") {
    val data = corpus(150)
    val path = indexed(data)
    val allowed = data.where(col("id") % 3 === 0).select("id")
    val got = resultSet(FactAnnIndex.topKWhere(spark, path, "vec",
      allowed, "id", k = 3, nProbe = 4, overFetch = 100))
    // brute-force filtered truth with the engine's own arithmetic:
    // unit-normalize, round(dot,4), rank by (sim desc, id asc)
    val nrm = FactVersioned.read(spark, path)
      .select(col("id"), Similarity.normalized(col("vec")).as("u"))
      .where(col("u").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val want = nrm.as("a")
      .crossJoin(nrm.as("b").join(allowed.select(col("id")), Seq("id")))
      .where(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(
          col("a.u"), col("b.u")), 4).as("sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
    assert(got == resultSet(want.select(
      col("query_id"), col("neighbor_id"), col("rank"), col("sim"))))
    assert(got.nonEmpty)
    assert(got.forall(r => r._2 % 3 == 0)) // every neighbor allowed
  }

  test("ivfSq8TopKIndexed with restricted probes keeps IVF-grade recall") {
    val path = indexed(corpus(180))
    val combined = FactAnnIndex.topK(spark, path, "vec", k = 3,
        nProbe = 2, overFetch = 4)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(
        FactVersioned.read(spark, path), "id", "vec", k = 3)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = combined.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.75, s"IVF+SQ8 recall $recall below floor")
  }

  test("indexed query plans scan ONLY the sidecar, never the base table") {
    val path = indexed(corpus(120))
    Seq(
      FactAnnIndex.topKIvf(spark, path, "vec", k = 3, nProbe = 2),
      FactAnnIndex.topK(spark, path, "vec", k = 3, nProbe = 2),
      FactAnnIndex.topKPq(spark, path, "vec", k = 3, nProbe = 2)
    ).foreach { out =>
      val scans = out.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(scans.nonEmpty)
      scans.foreach { p =>
        assert(p.contains(FactAnnIndex.DirPrefix + "vec"),
          s"query phase scanned outside the index: $p")
      }
    }
  }
}
