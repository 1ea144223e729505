package graft.operators

import java.nio.file.Files

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[AnnIndex]]: the persisted IVF/SQ8 sidecar must change WHEN work
  * happens, never WHAT is computed — indexed queries are bit-identical
  * to their per-call counterparts and read only the sidecar. */
class AnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_ann_").toString

  /** Deterministic synthetic corpus: `n` vectors of dim 8 in 3
    * partitions, clustered around 4 rough directions so IVF cells are
    * meaningful. */
  private def corpus(n: Int): DataFrame =
    (1 to n).map { i =>
      val g = i % 4
      val v = (0 until 8).map { j =>
        val bias = if (j % 4 == g) 4.0 else 0.0
        bias + math.sin(i * 31 + j * 7) // deterministic jitter
      }
      (i.toLong, i % 3, v)
    }.toDF("id", "p", "vec")

  private def writePartitioned(df: DataFrame, path: String): Unit =
    Maintenance.writePartitioned(df, path, Seq("p"), Nil)

  private def resultSet(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .as[(Long, Long, Int, Double)].collect().toSet

  test("ivfTopKIndexed is bit-identical to per-call ivfTopK") {
    val path = tmp() + "/t"
    writePartitioned(corpus(180), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val indexed = resultSet(
      AnnIndex.ivfTopKIndexed(spark, path, "vec", k = 3, nProbe = 2))
    val percall = resultSet(Similarity.ivfTopK(
      spark.read.parquet(path), "id", "vec", k = 3, nLists = 4, nProbe = 2))
    assert(indexed == percall)
    assert(indexed.nonEmpty)
  }

  test("sq8TopKIndexed is bit-identical to per-call sq8TopK") {
    val path = tmp() + "/t"
    writePartitioned(corpus(150), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val indexed = resultSet(
      AnnIndex.sq8TopKIndexed(spark, path, "vec", k = 3, overFetch = 4))
    val percall = resultSet(Similarity.sq8TopK(
      spark.read.parquet(path), "id", "vec", k = 3, overFetch = 4))
    assert(indexed == percall)
    assert(indexed.nonEmpty)
  }

  test("pqTopKIndexed is bit-identical to per-call pqTopK") {
    val path = tmp() + "/t"
    writePartitioned(corpus(150), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4,
      pqM = 4, pqKsub = 16)
    val indexed = resultSet(
      AnnIndex.pqTopKIndexed(spark, path, "vec", k = 3, overFetch = 4))
    val percall = resultSet(Similarity.pqTopK(
      spark.read.parquet(path), "id", "vec", k = 3, m = 4, ksub = 16,
      overFetch = 4))
    assert(indexed == percall)
    assert(indexed.nonEmpty)
  }

  test("ivfSq8TopKIndexed probing all cells is bit-identical to sq8TopK " +
      "(full pair universe) and never collects the corpus") {
    val path = tmp() + "/t"
    writePartitioned(corpus(150), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    // nProbe = nLists ⇒ every query probes every cell ⇒ the candidate
    // universe equals the full scan ⇒ bit-parity with the broadcast path
    val combined = AnnIndex.ivfSq8TopKIndexed(spark, path, "vec",
      k = 3, nProbe = 4, overFetch = 4)
    val percall = resultSet(Similarity.sq8TopK(
      spark.read.parquet(path), "id", "vec", k = 3, overFetch = 4))
    assert(resultSet(combined) == percall)
    assert(percall.nonEmpty)
    // structural no-corpus-collect check: candidates come from a
    // cell-keyed JOIN (size-adaptive), not a collected broadcast array
    val joinKeys = combined.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        (j.leftKeys ++ j.rightKeys).map(_.sql.toLowerCase)
    }
    assert(joinKeys.exists(_.exists(_.contains("cell"))),
      s"candidate stage must join on cell, got: $joinKeys")
  }

  test("ivfPqTopKIndexed probing all cells is bit-identical to pqTopK " +
      "(full pair universe) and never collects the corpus") {
    val path = tmp() + "/t"
    writePartitioned(corpus(150), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4,
      pqM = 4, pqKsub = 16)
    // nProbe = nLists ⇒ candidate universe equals the full scan, and
    // the ADC join scoring is bit-identical to pqCandidateScan's LUT
    // scoring ⇒ bit-parity with the collected-broadcast path
    val combined = AnnIndex.ivfPqTopKIndexed(spark, path, "vec",
      k = 3, nProbe = 4, overFetch = 4)
    val percall = resultSet(Similarity.pqTopK(
      spark.read.parquet(path), "id", "vec", k = 3, m = 4, ksub = 16,
      overFetch = 4))
    assert(resultSet(combined) == percall)
    assert(percall.nonEmpty)
    // structural no-corpus-collect check, as q116's
    val joinKeys = combined.queryExecution.sparkPlan.collect {
      case j: org.apache.spark.sql.execution.joins.BaseJoinExec =>
        (j.leftKeys ++ j.rightKeys).map(_.sql.toLowerCase)
    }
    assert(joinKeys.exists(_.exists(_.contains("cell"))),
      s"candidate stage must join on cell, got: $joinKeys")
  }

  test("ivfPq external batch and filtered variants: batch parity with " +
      "the self-join restricted to its ids; filtered neighbors all " +
      "allowed") {
    val path = tmp() + "/t"
    val data = corpus(150)
    writePartitioned(data, path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4,
      pqM = 4, pqKsub = 16)
    val batch = data.where(col("id") % 5 === 0)
    val got = resultSet(AnnIndex.ivfPqTopKIndexedFor(spark, path, "vec",
      batch, "id", "vec", k = 3, nProbe = 4, overFetch = 4))
    val full = resultSet(AnnIndex.ivfPqTopKIndexed(spark, path, "vec",
      k = 3, nProbe = 4, overFetch = 4))
    assert(got == full.filter(_._1 % 5 == 0))
    assert(got.nonEmpty)
    val allowed = data.where(col("id") % 3 === 0).select("id")
    val filtered = resultSet(AnnIndex.ivfPqTopKIndexedWhere(spark, path,
      "vec", allowed, "id", k = 3, nProbe = 4, overFetch = 100))
    assert(filtered.nonEmpty)
    assert(filtered.forall(_._2 % 3 == 0)) // every neighbor allowed
    assert(filtered.groupBy(_._1).forall(_._2.size <= 3))
  }

  test("ivfPqTopKIndexed with restricted probes keeps IVF-grade recall") {
    val path = tmp() + "/t"
    writePartitioned(corpus(180), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4,
      pqM = 4, pqKsub = 16)
    val combined = AnnIndex.ivfPqTopKIndexed(spark, path, "vec",
        k = 3, nProbe = 2, overFetch = 4)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(
        spark.read.parquet(path), "id", "vec", k = 3)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = combined.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.75, s"IVF+PQ recall $recall below floor")
  }

  test("ivfSq8TopKIndexedFor answers an external query batch: parity " +
      "with the self-join restricted to the batch; novel ids get full " +
      "neighbor lists from the corpus") {
    val path = tmp() + "/t"
    val data = corpus(150)
    writePartitioned(data, path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    // batch drawn from the corpus: probing all cells must reproduce
    // the self-join results for exactly those keys (same codes, same
    // candidate universe, id-equality self-exclusion)
    val batch = data.where(col("id") % 5 === 0)
    val got = resultSet(AnnIndex.ivfSq8TopKIndexedFor(spark, path, "vec",
      batch, "id", "vec", k = 3, nProbe = 4, overFetch = 4))
    val full = resultSet(Similarity.sq8TopK(
      spark.read.parquet(path), "id", "vec", k = 3, overFetch = 4))
    assert(got == full.filter(_._1 % 5 == 0))
    assert(got.nonEmpty)
    // genuinely-new items (ids outside the corpus key space): every
    // query gets k corpus neighbors, none of them itself
    val novel = data.where(col("id") % 7 === 1)
      .withColumn("id", col("id") + 100000L)
    val got2 = resultSet(AnnIndex.ivfSq8TopKIndexedFor(spark, path, "vec",
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
    val path = tmp() + "/t"
    val data = corpus(150)
    writePartitioned(data, path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val allowed = data.where(col("id") % 3 === 0).select("id")
    val got = resultSet(AnnIndex.ivfSq8TopKIndexedWhere(spark, path,
      "vec", allowed, "id", k = 3, nProbe = 4, overFetch = 100))
    // brute-force filtered truth with the engine's own arithmetic:
    // unit-normalize, round(dot,4), rank by (sim desc, id asc)
    val nrm = spark.read.parquet(path)
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
    val path = tmp() + "/t"
    writePartitioned(corpus(180), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val combined = AnnIndex.ivfSq8TopKIndexed(spark, path, "vec",
        k = 3, nProbe = 2, overFetch = 4)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val exact = Similarity.bruteForceTopK(
        spark.read.parquet(path), "id", "vec", k = 3)
      .select(col("query_id"), col("neighbor_id"))
      .as[(Long, Long)].collect().toSet
    val recall = combined.intersect(exact).size.toDouble / exact.size
    assert(recall >= 0.75, s"IVF+SQ8 recall $recall below floor")
  }

  test("indexed query plans scan ONLY the sidecar, never the base table") {
    val path = tmp() + "/t"
    writePartitioned(corpus(120), path)
    AnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    Seq(
      AnnIndex.ivfTopKIndexed(spark, path, "vec", k = 3, nProbe = 2),
      AnnIndex.sq8TopKIndexed(spark, path, "vec", k = 3),
      AnnIndex.ivfSq8TopKIndexed(spark, path, "vec", k = 3, nProbe = 2),
      AnnIndex.ivfPqTopKIndexed(spark, path, "vec", k = 3, nProbe = 2)
    ).foreach { out =>
      val scans = out.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten
      assert(scans.nonEmpty)
      scans.foreach { p =>
        assert(p.contains(AnnIndex.DirPrefix + "vec"),
          s"query phase scanned outside the sidecar: $p")
      }
    }
  }
}
