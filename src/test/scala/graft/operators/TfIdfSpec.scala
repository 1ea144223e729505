package graft.operators

import graft.SparkSpec

class TfIdfSpec extends SparkSpec {
  import spark.implicits._

  private val docs = Seq(
    (1L, "apple banana apple"),
    (2L, "banana cherry"),
    (3L, "cherry cherry durian")).toDF("doc_id", "text")

  test("tf, df, and score computed per definition") {
    val s = TfIdf.scores(docs, "doc_id", "text")
      .as[(String, Long, Long, Long, Double)].collect()
      .map(r => (r._2, r._1) -> ((r._3, r._4, r._5))).toMap
    // apple: tf=2 in doc1, df=1 → 2·ln(3)
    val (tfA, dfA, scoreA) = s((1L, "apple"))
    assert(tfA === 2 && dfA === 1)
    assert(math.abs(scoreA - 2 * math.log(3.0)) < 1e-12)
    // banana: df=2 → ln(3/2)
    assert(math.abs(s((2L, "banana"))._3 - math.log(1.5)) < 1e-12)
  }

  test("topTerms ranks rare terms above common ones") {
    val top = TfIdf.topTerms(docs, "doc_id", "text", k = 1)
      .select("doc_id", "term").as[(Long, String)].collect().toMap
    assert(top(1L) === "apple")  // rare + frequent in doc
    // cherry: 2·ln(3/2)=0.811 < durian: 1·ln(3)=1.099 → rarity wins
    assert(top(3L) === "durian")
  }

  test("bm25TopK matches the hand-computed Okapi formula") {
    val queries = Seq((100L, "apple")).toDF("qid", "qtext")
    val out = TfIdf.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 3)
      .as[(Long, Long, Double, Int)].collect()
    // only doc 1 contains "apple": tf=2, len=3, N=3, df=1, avgdl=8/3
    assert(out.length === 1)
    val (qid, did, score, rank) = out.head
    assert(qid === 100L && did === 1L && rank === 1)
    val idf = math.log(1 + (3 - 1 + 0.5) / (1 + 0.5))
    val denom = 2 + 1.2 * (1 - 0.75 + 0.75 * 3 / (8.0 / 3))
    val expected = BigDecimal(idf * ((2 * 2.2) / denom))
      .setScale(6, BigDecimal.RoundingMode.HALF_UP).toDouble
    assert(math.abs(score - expected) < 1e-9, s"got $score want $expected")
  }

  test("bm25TopK: ranked self-retrieval properties hold; " +
      "layout-invariant") {
    val corpus = graft.Tables
      .load(spark, "/root/testdata/sf0.001", "documents")
    val queries = corpus.where($"doc_id" % 10 === 0)
      .select($"doc_id".as("qid"), $"text".as("qtext"))
    val out = TfIdf.bm25TopK(corpus, "doc_id", "text",
      queries, "qid", "qtext", k = 3)
    val rows = out.as[(Long, Long, Double, Int)].collect()
    val byQuery = rows.groupBy(_._1)
    assert(byQuery.nonEmpty)
    byQuery.foreach { case (q, rs) =>
      val sorted = rs.sortBy(_._4)
      // ranks contiguous from 1, scores non-increasing along them
      assert(sorted.map(_._4).toSeq == (1 to sorted.length),
        s"query $q ranks not contiguous")
      assert(sorted.map(_._3).toSeq == sorted.map(_._3).sortBy(-_).toSeq,
        s"query $q scores not monotone")
    }
    // BM25's length normalization can rank a denser doc above the
    // query's own text, but never below it when both are listed — and
    // the self match should still surface in the top-3 for most
    // queries on this corpus
    val selfScores = rows.filter(r => r._1 == r._2)
      .map(r => r._1 -> r._3).toMap
    selfScores.foreach { case (q, s) =>
      val top1 = byQuery(q).find(_._4 == 1).get._3
      assert(top1 >= s, s"query $q: top-1 $top1 below self $s")
    }
    assert(selfScores.size * 2 >= byQuery.size,
      s"self doc in top-3 for only ${selfScores.size}/${byQuery.size}")
    val repart = TfIdf.bm25TopK(corpus.repartition(7), "doc_id", "text",
        queries, "qid", "qtext", k = 3)
      .as[(Long, Long, Double, Int)].collect().toSet
    assert(repart === out.as[(Long, Long, Double, Int)].collect().toSet)
  }

  private def partitionedCorpus(n: Int) =
    (1 to n).map { i =>
      val words = (0 until (i % 7) + 1).map(j => s"w${(i + j) % 23}")
      (i.toLong, i % 3, words.mkString(" "))
    }.toDF("doc_id", "p", "text")

  test("bm25TopKIndexed is bit-identical to per-call bm25TopK; query " +
      "plan scans only the sidecar") {
    val path = java.nio.file.Files
      .createTempDirectory("graft_text_").toString + "/t"
    val corpus = partitionedCorpus(120)
    Maintenance.writePartitioned(corpus, path, Seq("p"), Nil)
    TfIdf.writeTextIndex(spark, path, "doc_id", "text")
    val queries = corpus.where($"doc_id" % 10 === 0)
      .select($"doc_id".as("qid"), $"text".as("qtext"))
    val indexed = TfIdf.bm25TopKIndexed(spark, path, "text",
      queries, "qid", "qtext", k = 3)
    val percall = TfIdf.bm25TopK(spark.read.parquet(path),
      "doc_id", "text", queries, "qid", "qtext", k = 3)
    assert(indexed.as[(Long, Long, Double, Int)].collect().toSet ===
      percall.as[(Long, Long, Double, Int)].collect().toSet)
    assert(indexed.count() > 0)
    val scans = indexed.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten.filter(_.contains(path))
    assert(scans.nonEmpty && scans.forall(_.contains(TfIdf.DirPrefix)),
      s"query phase must scan only the text sidecar, got: $scans")
  }
}
