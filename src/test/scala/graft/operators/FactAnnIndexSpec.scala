package graft.operators

import java.nio.file.Files

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.SparkSpec

/** [[FactAnnIndex]]: the generation-aware ANN sidecar must answer any
  * retained generation with exactly its committed content (index rows
  * are file-keyed over immutable shared files), refresh ∝ a commit's
  * new files, fail loudly on un-indexed generations, survive a crashed
  * refresh, and GC only whole-dead subtrees. */
class FactAnnIndexSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_fann_").toString

  /** Deterministic corpus: dim-8 vectors around 4 rough directions,
    * partitions p ∈ {0,1,2}. `shift` perturbs the jitter so updated
    * generations carry genuinely different vectors. */
  private def corpus(n: Int, shift: Int = 0): DataFrame =
    (1 to n).map { i =>
      val g = i % 4
      val v = (0 until 8).map { j =>
        val bias = if (j % 4 == g) 4.0 else 0.0
        bias + math.sin(i * 31 + j * 7 + shift)
      }
      (i.toLong, i % 3, v)
    }.toDF("id", "p", "vec")

  private def resultSet(df: DataFrame): Set[(Long, Long, Int, Double)] =
    df.select(col("query_id"), col("neighbor_id"), col("rank"), col("sim"))
      .as[(Long, Long, Int, Double)].collect().toSet

  /** Per-call truth for one generation's content: nProbe = nLists ⇒
    * the combined path's pair universe equals the full scan, so it
    * must be bit-identical to sq8TopK over the materialized read. */
  private def truth(path: String, gen: Long): Set[(Long, Long, Int, Double)] =
    resultSet(Similarity.sq8TopK(
      FactVersioned.read(spark, path, Some(gen)), "id", "vec",
      k = 3, overFetch = 4))

  private def fannTopK(path: String, gen: Option[Long] = None) =
    FactAnnIndex.topK(spark, path, "vec", k = 3, gen = gen,
      nProbe = 4, overFetch = 4)

  test("topK probing all cells is bit-identical to per-call sq8TopK " +
      "for every retained generation (time travel over the index)") {
    val path = tmp() + "/t"
    val full = corpus(180)
    FactVersioned.replacePartitions(spark, path,
      full.where(col("p") =!= 2), "p", Seq(0, 1))
    FactVersioned.upsert(spark, path,
      full.where(col("p") === 2), Seq("id"), "p")
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)

    assert(resultSet(fannTopK(path, Some(1))) == truth(path, 1))
    assert(resultSet(fannTopK(path, Some(0))) == truth(path, 0))
    assert(truth(path, 0) != truth(path, 1)) // gen 0 lacks p=2 rows
    assert(truth(path, 1).nonEmpty)
  }

  test("topKFor answers an external batch against any retained " +
      "generation: parity with the self-join restricted to the batch") {
    val path = tmp() + "/t"
    val full = corpus(150)
    FactVersioned.replacePartitions(spark, path,
      full.where(col("p") =!= 2), "p", Seq(0, 1))
    FactVersioned.upsert(spark, path,
      full.where(col("p") === 2), Seq("id"), "p")
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    // per-generation batch: a query id absent from a generation's
    // corpus is a NOVEL item there (it still gets neighbors), so the
    // restricted-parity check uses only ids the generation contains
    val batches = Map(
      0L -> full.where(col("p") =!= 2).where(col("id") % 5 === 0),
      1L -> full.where(col("id") % 5 === 0))
    batches.foreach { case (g, batch) =>
      val got = resultSet(FactAnnIndex.topKFor(spark, path, "vec",
        batch, "id", "vec", k = 3, gen = Some(g), nProbe = 4,
        overFetch = 4))
      assert(got == truth(path, g).filter(_._1 % 5 == 0), s"gen $g")
      assert(got.nonEmpty)
    }
  }

  test("topKPq: head-generation bit-parity with per-call pqTopK at " +
      "full probes; time travel keeps PQ-grade recall; refreshed rows' " +
      "codes re-encode under the PERSISTED codebooks") {
    val path = tmp() + "/t"
    val full = corpus(150)
    FactVersioned.replacePartitions(spark, path,
      full.where(col("p") =!= 2), "p", Seq(0, 1))
    FactVersioned.upsert(spark, path,
      full.where(col("p") === 2), Seq("id"), "p")
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4,
      pqM = 4, pqKsub = 16)
    // head: codebooks trained on the head sample = pqTopK's own sample
    // (n < trainCap), so full probes ⇒ bit-parity
    val head = resultSet(FactAnnIndex.topKPq(spark, path, "vec", k = 3,
      nProbe = 4, overFetch = 4))
    val percall = resultSet(Similarity.pqTopK(
      FactVersioned.read(spark, path, Some(1L)), "id", "vec",
      k = 3, m = 4, ksub = 16, overFetch = 4))
    assert(head == percall)
    assert(head.nonEmpty)
    // time travel: gen 0 answers with ITS content at PQ-grade recall
    // (head-trained codebooks cost at most a little recall there —
    // per-call parity is impossible by design, pqTopK would retrain)
    val g0 = FactAnnIndex.topKPq(spark, path, "vec", k = 3,
        gen = Some(0L), nProbe = 4, overFetch = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact0 = Similarity.bruteForceTopK(
        FactVersioned.read(spark, path, Some(0L)), "id", "vec", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(g0.intersect(exact0).size.toDouble / exact0.size >= 0.75)
    assert(g0.forall { case (q, n) => // gen 0 lacks p=2 rows entirely
      q % 3 != 2 && n % 3 != 2 })
    // refresh: a new commit's rows must carry codes identical to a
    // fresh pqEncode under the PERSISTED codebooks (never retrained)
    FactVersioned.upsert(spark, path,
      corpus(150, shift = 5).where(col("p") === 1), Seq("id"), "p")
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    val idxDir = FactAnnIndex.indexDir(path, "vec")
    val books = spark.read.parquet(s"$idxDir/codebooks")
      .orderBy("subspace", "code").select("subspace", "centroid").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Double](1).toArray)).toArray
    val bounds = Similarity.pqBounds(8, 4)
    val newRows = spark.read
      .parquet(s"$idxDir/rows/${FactVersioned.VGenCol}=2")
      .select(col("u"), col("pq"))
      .as[(Seq[Double], Array[Byte])].collect()
    assert(newRows.nonEmpty)
    newRows.foreach { case (u, pq) =>
      assert(pq.toSeq ==
        Similarity.pqEncode(u.toArray, books, bounds).toSeq)
    }
    // and the new head answers at PQ-grade recall
    val h2 = FactAnnIndex.topKPq(spark, path, "vec", k = 3,
        nProbe = 4, overFetch = 4)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    val exact2 = Similarity.bruteForceTopK(
        FactVersioned.read(spark, path), "id", "vec", k = 3)
      .select("query_id", "neighbor_id").as[(Long, Long)].collect().toSet
    assert(h2.intersect(exact2).size.toDouble / exact2.size >= 0.75)
  }

  test("topKWhere restricts neighbors to the allowed set over the " +
      "requested generation") {
    val path = tmp() + "/t"
    FactVersioned.replacePartitions(spark, path, corpus(120), "p",
      Seq(0, 1, 2))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val allowed = corpus(120).where(col("id") % 3 === 0).select("id")
    val got = resultSet(FactAnnIndex.topKWhere(spark, path, "vec",
      allowed, "id", k = 3, nProbe = 4, overFetch = 100))
    val nrm = FactVersioned.read(spark, path)
      .select(col("id"), Similarity.normalized(col("vec")).as("u"))
      .where(col("u").isNotNull)
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy(col("query_id"))
      .orderBy(col("sim").desc, col("neighbor_id").asc)
    val want = nrm.as("a")
      .crossJoin(nrm.as("b").join(allowed, Seq("id")))
      .where(col("a.id") =!= col("b.id"))
      .select(col("a.id").as("query_id"), col("b.id").as("neighbor_id"),
        round(graft.functions.VectorFunctions.dot(
          col("a.u"), col("b.u")), 4).as("sim"))
      .withColumn("rank", row_number().over(w))
      .where(col("rank") <= 3)
    assert(got == resultSet(want.select(
      col("query_id"), col("neighbor_id"), col("rank"), col("sim"))))
    assert(got.nonEmpty && got.forall(_._2 % 3 == 0))
  }

  test("topK reads only the sidecar — never _graft_vdata") {
    val path = tmp() + "/t"
    FactVersioned.replacePartitions(spark, path, corpus(120), "p",
      Seq(0, 1, 2))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val out = fannTopK(path)
    val scans = out.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    assert(scans.nonEmpty &&
      scans.forall(_.contains(FactAnnIndex.DirPrefix)), scans)
  }

  test("refresh indexes only the new generation's files; stale head " +
      "fails loudly; older generations stay queryable meanwhile") {
    val path = tmp() + "/t"
    val full = corpus(150)
    FactVersioned.replacePartitions(spark, path,
      full.where(col("p") =!= 2), "p", Seq(0, 1))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val gen0 = resultSet(fannTopK(path, Some(0)))

    FactVersioned.upsert(spark, path,
      full.where(col("p") === 2), Seq("id"), "p")
    // head references vgen=1 files the index has never seen
    val ex = intercept[IllegalArgumentException](fannTopK(path, Some(1)))
    assert(ex.getMessage.contains("refreshIndex"))
    // ...but the indexed generation still answers, bit-identically
    assert(resultSet(fannTopK(path, Some(0))) == gen0)

    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    val vgen0 = new Path(s"$path/${FactAnnIndex.DirPrefix}vec/rows/vgen=0")
    val before = fs.listStatus(vgen0)
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    val after = fs.listStatus(vgen0)
      .map(f => (f.getPath.getName, f.getModificationTime, f.getLen)).toSet
    assert(after == before) // untouched subtree is byte-identical
    assert(fs.exists(
      new Path(s"$path/${FactAnnIndex.DirPrefix}vec/rows/vgen=1")))
    assert(resultSet(fannTopK(path, Some(1))) == truth(path, 1))
    assert(resultSet(fannTopK(path, Some(0))) == gen0)
  }

  test("updated rows are re-indexed under their new file; prior " +
      "generations keep their exact pre-update answers") {
    val path = tmp() + "/t"
    FactVersioned.replacePartitions(spark, path, corpus(150), "p",
      Seq(0, 1, 2))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val gen0 = resultSet(fannTopK(path, Some(0)))

    // rewrite partition 0 with perturbed vectors
    FactVersioned.upsert(spark, path,
      corpus(150, shift = 5).where(col("p") === 0), Seq("id"), "p")
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    assert(resultSet(fannTopK(path, Some(1))) == truth(path, 1))
    assert(resultSet(fannTopK(path, Some(0))) == gen0)
    assert(truth(path, 1) != gen0) // the update moved real vectors
  }

  test("a crashed refresh (rows landed, file list lost) is rebuilt") {
    val path = tmp() + "/t"
    val full = corpus(120)
    FactVersioned.replacePartitions(spark, path,
      full.where(col("p") =!= 2), "p", Seq(0, 1))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    FactVersioned.upsert(spark, path,
      full.where(col("p") === 2), Seq("id"), "p")
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    // simulate the crash window: rows/vgen=1 exists, files/vgen=1 lost
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    fs.delete(new Path(s"$path/${FactAnnIndex.DirPrefix}vec/files/vgen=1"),
      true)
    // coverage no longer trusts vgen=1 ⇒ loud, then refresh rebuilds
    val ex = intercept[IllegalArgumentException](fannTopK(path, Some(1)))
    assert(ex.getMessage.contains("refreshIndex"))
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    assert(resultSet(fannTopK(path, Some(1))) == truth(path, 1))
  }

  test("an UNPARTITIONED table indexes, refreshes and answers: full " +
      "probes give sq8TopK and pqTopK of the head's content") {
    val path = tmp() + "/t"
    val full = corpus(150)
    FactVersioned.replacePartitionsBy(spark, path, full, Nil, Seq(Nil))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4,
      trainCap = 60, pqM = 4, pqKsub = 16)
    // rewrite rows outside the 60-row training sample (the lowest-hash
    // ids), so a per-call pqTopK over the head trains the codebooks
    // the index persisted at gen 0
    val sample = full.orderBy(xxhash64(col("id")), col("id")).limit(60)
      .select("id")
    val updates = corpus(150, shift = 5).join(sample, Seq("id"), "left_anti")
      .where(col("id") % 4 === 0)
    FactVersioned.upsertBy(spark, path, updates, Seq("id"), Nil)
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")

    val sq8 = resultSet(fannTopK(path))
    assert(sq8 == truth(path, 1))
    assert(sq8.nonEmpty && sq8 != truth(path, 0))
    val pq = resultSet(FactAnnIndex.topKPq(spark, path, "vec", k = 3,
      nProbe = 4, overFetch = 4))
    assert(pq == resultSet(Similarity.pqTopK(
      FactVersioned.read(spark, path, Some(1L)), "id", "vec", k = 3,
      m = 4, ksub = 16, overFetch = 4, trainCap = 60)))
    assert(pq.nonEmpty)
  }

  test("gcIndex drops whole-dead vgen subtrees only; survivors still " +
      "answer bit-identically") {
    val path = tmp() + "/t"
    FactVersioned.replacePartitions(spark, path, corpus(120), "p",
      Seq(0, 1, 2), retain = 1)
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    // full rewrite with retain=1: every vgen=0 file goes unreferenced
    FactVersioned.upsert(spark, path, corpus(120, shift = 3), Seq("id"),
      "p", retain = 1)
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    FactAnnIndex.gcIndex(spark, path, "vec")
    val fs = new Path(path)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    assert(!fs.exists(
      new Path(s"$path/${FactAnnIndex.DirPrefix}vec/rows/vgen=0")))
    assert(!fs.exists(
      new Path(s"$path/${FactAnnIndex.DirPrefix}vec/files/vgen=0")))
    val head = FactVersioned.generations(spark, path).max
    assert(resultSet(fannTopK(path, Some(head))) == truth(path, head))
  }

  test("randomized commit/refresh/gc interleavings keep the shared " +
      "index exact: every retained generation ≡ per-call truth") {
    // seeded fuzz of the versioned lifecycle: partition upserts,
    // whole-partition deletes, content-preserving compaction, and
    // retention expiry (retain=3 default), with gcIndex sprinkled in.
    // After every step the head AND a random retained generation must
    // answer bit-identically to sq8TopK over their materialized reads
    // (centroids deliberately never retrained — the index changes WHEN
    // work happens, never WHAT is computed).
    val rnd = new scala.util.Random(417L)
    val path = tmp() + "/t"
    val initial = corpus(150)
    def jitter(df: org.apache.spark.sql.DataFrame, salt: Int) =
      df.withColumn("vec", transform(col("vec"),
        x => x + lit(math.sin(salt) * 0.37)))
    FactVersioned.replacePartitions(spark, path, initial, "p",
      Seq(0, 1, 2))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    var present = Set(0, 1, 2)
    (1 to 6).foreach { step =>
      val p = rnd.nextInt(3)
      rnd.nextInt(5) match {
        case 0 if present.contains(p) && present.size > 1 =>
          // whole-partition DELETE: touched p, no content for it
          present -= p
          FactVersioned.replacePartitions(spark, path,
            initial.where(lit(false)), "p", Seq(p))
        case 1 if present.contains(p) =>
          FactVersioned.compactPartitions(spark, path,
            Seq(FactVersioned.partitionDirName("p", p)), "p")
        case _ =>
          present += p
          FactVersioned.upsert(spark, path,
            jitter(initial.where(col("p") === p), step), Seq("id"), "p")
      }
      FactAnnIndex.refreshIndex(spark, path, "id", "vec")
      if (rnd.nextBoolean()) FactAnnIndex.gcIndex(spark, path, "vec")
      val gens = FactVersioned.generations(spark, path)
      val checkGens =
        Set(gens.max, gens(rnd.nextInt(gens.size))).toSeq.sorted
      checkGens.foreach { g =>
        assert(resultSet(fannTopK(path, Some(g))) == truth(path, g),
          s"step $step: generation $g diverged from per-call truth")
      }
    }
    assert(present.nonEmpty)
  }

  test("hostile partition names (spaces, percent escapes) round-trip " +
      "between manifest entries and scanned file paths") {
    val path = tmp() + "/t"
    val df = (1 to 90).map { i =>
      val v = (0 until 8).map(j => math.sin(i * 17 + j * 5) +
        (if (j % 3 == i % 3) 3.0 else 0.0))
      val p = (i % 3) match {
        case 0 => "plain"; case 1 => "has space"; case _ => "pct%3Aval"
      }
      (i.toLong, p, v)
    }.toDF("id", "p", "vec")
    FactVersioned.replacePartitions(spark, path, df, "p",
      Seq("plain", "has space", "pct%3Aval"))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    assert(resultSet(fannTopK(path)) == truth(path, 0))
    assert(truth(path, 0).nonEmpty)
  }

  test("the ANN sidecar works over MULTI-COLUMN partitioned tables: " +
      "index rows key on the full nested leaf path, refresh ∝ the " +
      "commit's files, every retained generation answers exactly") {
    val path = tmp() + "/t"
    val full = corpus(160)
      .withColumn("s", when(col("id") % 2 === 0, "A").otherwise("B"))
    FactVersioned.upsertBy(spark, path,
      full.where(col("p") =!= 2), Seq("id"), Seq("p", "s"))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    // a one-leaf upsert, then refresh indexes only its new files
    FactVersioned.upsertBy(spark, path,
      full.where(col("p") === 2 && col("s") === "A"),
      Seq("id"), Seq("p", "s"))
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    assert(resultSet(fannTopK(path, Some(1))) == truth(path, 1))
    assert(resultSet(fannTopK(path, Some(0))) == truth(path, 0))
    assert(truth(path, 0) != truth(path, 1))
    assert(truth(path, 1).nonEmpty)
  }

  test("ALTER RENAME carries the ANN sidecar: the indexed query " +
      "answers under the NEW column name, sidecar-only, hash-equal " +
      "to the pre-rename result; the old name fails loudly") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, corpus(180), Seq("id"), "p")
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val before = resultSet(fannTopK(path))
    assert(before.nonEmpty)
    FactVersioned.renameColumns(spark, path, Map("vec" -> "embedding"))
    val out = FactAnnIndex.topK(spark, path, "embedding", k = 3,
      nProbe = 4, overFetch = 4)
    // sidecar-only: no scan outside the _graft_fann__ dir except the
    // generation manifest (file-list metadata, not table data)
    val scans = out.queryExecution.sparkPlan.collect {
      case f: org.apache.spark.sql.execution.FileSourceScanExec =>
        f.relation.location.rootPaths.map(_.toString)
    }.flatten
    val offending = scans.filterNot(p =>
      p.contains(FactAnnIndex.DirPrefix) ||
        p.contains(FactVersioned.GensDir))
    assert(scans.exists(_.contains(FactAnnIndex.DirPrefix)) &&
      offending.isEmpty,
      s"post-rename indexed query must stay sidecar-only, got $scans")
    assert(resultSet(out) == before,
      "the carried index must answer hash-equal to pre-rename")
    // the renamed-away name no longer resolves an index
    val e = intercept[Throwable] {
      fannTopK(path).collect()
    }
    assert(Option(e.getMessage).getOrElse("").toLowerCase
      .contains("index"), e.toString)
  }

  test("sidecar carry matches the column CASE-INSENSITIVELY: renaming " +
      "'VEC' carries an index built as 'vec'") {
    val path = tmp() + "/t"
    FactVersioned.upsert(spark, path, corpus(120), Seq("id"), "p")
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val before = resultSet(fannTopK(path))
    assert(before.nonEmpty)
    // Spark name resolution is case-insensitive — the DDL may spell
    // the column differently from the index build
    FactVersioned.renameColumns(spark, path, Map("VEC" -> "embedding"))
    val out = FactAnnIndex.topK(spark, path, "embedding", k = 3,
      nProbe = 4, overFetch = 4)
    assert(resultSet(out) == before,
      "a case-mismatched rename must still carry the sidecar")
  }

  private def fsOf(path: String) =
    new Path(path).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** `rows/vgen=<g>/part=<dir>` children of the index, as names. */
  private def rowsChildren(path: String): Set[String] = {
    val fs = fsOf(path)
    val rr = new Path(s"${FactAnnIndex.indexDir(path, "vec")}/rows")
    fs.listStatus(rr).filter(_.isDirectory).flatMap { v =>
      fs.listStatus(v.getPath).filter(_.isDirectory)
        .map(c => s"${v.getPath.getName}/${c.getPath.getName}")
    }.toSet
  }

  /** Per owning vgen, the file list the index published. */
  private def fileLists(path: String): Map[String, Set[String]] = {
    val fs = fsOf(path)
    val fr = new Path(s"${FactAnnIndex.indexDir(path, "vec")}/files")
    fs.listStatus(fr).filter(_.isDirectory).map { v =>
      v.getPath.getName -> spark.read.parquet(v.getPath.toString)
        .as[String].collect().toSet
    }.toMap
  }

  /** Per owning vgen, the files some retained generation references. */
  private def referencedByVgen(path: String): Map[String, Set[String]] =
    FactVersioned.generations(spark, path).flatMap { g =>
      val (abs, _, root) =
        FactVersioned.generationHandle(spark, path, Some(g))
      abs.map(_.stripPrefix(root + "/"))
    }.toSet.groupBy((r: String) => r.takeWhile(_ != '/'))

  /** Index rows per vgen without the (table-specific) file name. */
  private def rowsByVgen(path: String): Set[(Int, String, Long, Int, Seq[Byte])] =
    spark.read.parquet(s"${FactAnnIndex.indexDir(path, "vec")}/rows")
      .select(col("vgen").cast("int"), col("part"), col("id"), col("cell"),
        col("q"))
      .as[(Int, String, Long, Int, Array[Byte])].collect()
      .map { case (g, p, id, c, q) => (g, p, id, c, q.toSeq) }.toSet

  /** Commits after the index build, each adding fresh files except the
    * whole-partition delete: five fresh generations in all. */
  private def lifecycle(path: String): Seq[() => Unit] = Seq(
    () => FactVersioned.upsert(spark, path,
      corpus(150, shift = 5).where(col("p") === 0), Seq("id"), "p",
      retain = 10),
    () => FactVersioned.compactPartitions(spark, path,
      Seq(FactVersioned.partitionDirName("p", 1)), "p", retain = 10),
    () => FactVersioned.replacePartitions(spark, path,
      corpus(150).where(lit(false)), "p", Seq(2), retain = 10),
    () => FactVersioned.upsert(spark, path,
      corpus(150, shift = 9).where(col("id") === 3L), Seq("id"), "p",
      retain = 10),
    () => FactVersioned.upsert(spark, path,
      corpus(150, shift = 2).where(col("p") === 2), Seq("id"), "p",
      retain = 10),
    () => FactVersioned.upsert(spark, path,
      corpus(150, shift = 7).where(col("p") === 1), Seq("id"), "p",
      retain = 10))

  test("ONE refresh over several generations equals refreshing after " +
      "each commit; its job count does not grow with the generations " +
      "it catches up") {
    val each = tmp() + "/t"
    val once = tmp() + "/t"
    Seq(each, once).foreach { path =>
      FactVersioned.replacePartitions(spark, path, corpus(150), "p",
        Seq(0, 1, 2), retain = 10)
      FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    }
    lifecycle(each).foreach { commit =>
      commit()
      FactAnnIndex.refreshIndex(spark, each, "id", "vec")
    }
    lifecycle(once).foreach(_())
    // the per-row window path of cell assignment (literalCellThreshold
    // 0) must also key rows by (vgen, id): ids recur across generations
    val catchUpJobs = jobsOf(FactAnnIndex.refreshIndex(spark, once, "id",
      "vec", literalCellThreshold = 0))

    val gens = FactVersioned.generations(spark, once)
    assert(gens == FactVersioned.generations(spark, each) && gens.size == 7)
    gens.foreach { g =>
      assert(resultSet(fannTopK(once, Some(g))) == truth(once, g),
        s"generation $g diverged from per-call truth")
    }
    assert(rowsChildren(once) == rowsChildren(each))
    assert(rowsByVgen(once) == rowsByVgen(each))
    // file names differ between the two tables; each list must be
    // exactly its vgen's referenced files, and the vgens must agree
    assert(fileLists(once) == referencedByVgen(once))
    assert(fileLists(each) == referencedByVgen(each))
    assert(fileLists(once).keySet == fileLists(each).keySet &&
      fileLists(once).keySet.size == 6)

    val one = tmp() + "/t"
    FactVersioned.replacePartitions(spark, one, corpus(150), "p",
      Seq(0, 1, 2), retain = 10)
    FactAnnIndex.writeIndex(spark, one, "id", "vec", nLists = 4)
    lifecycle(one).head()
    val oneGenJobs = jobsOf(FactAnnIndex.refreshIndex(spark, one, "id",
      "vec", literalCellThreshold = 0))
    assert(oneGenJobs > 0 && catchUpJobs == oneGenJobs,
      s"1-generation refresh ran $oneGenJobs jobs, 5-generation $catchUpJobs")
  }

  test("a duplicate id in one of several fresh generations fails the " +
      "refresh naming that generation and id; none of them publishes a " +
      "file list; older generations still answer") {
    val path = tmp() + "/t"
    FactVersioned.replacePartitions(spark, path, corpus(120), "p",
      Seq(0, 1, 2), retain = 10)
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    val gen0 = resultSet(fannTopK(path, Some(0)))
    FactVersioned.upsert(spark, path,
      corpus(120, shift = 5).where(col("p") === 0), Seq("id"), "p",
      retain = 10)
    val twice = corpus(120).where(col("id") === 7L)
      .withColumn("id", lit(500L))
    FactVersioned.append(spark, path, twice.union(twice), "p", retain = 10)
    FactVersioned.upsert(spark, path,
      corpus(120, shift = 3).where(col("p") === 2), Seq("id"), "p",
      retain = 10)
    val ex = intercept[IllegalArgumentException](
      FactAnnIndex.refreshIndex(spark, path, "id", "vec"))
    assert(ex.getMessage.contains("generation 2 repeats id=500"),
      ex.getMessage)
    val fs = fsOf(path)
    val idx = FactAnnIndex.indexDir(path, "vec")
    Seq(1, 2, 3).foreach { g =>
      assert(!fs.exists(new Path(s"$idx/files/vgen=$g")), s"vgen=$g")
    }
    assert(fs.listStatus(new Path(s"$idx/_staging")).isEmpty)
    assert(resultSet(fannTopK(path, Some(0))) == gen0)
    val stale = intercept[IllegalArgumentException](fannTopK(path, Some(1)))
    assert(stale.getMessage.contains("refreshIndex"))
  }

  test("a crash after a multi-generation refresh's renames (rows landed " +
      "for two generations, both file lists lost) is rebuilt for both") {
    val path = tmp() + "/t"
    val full = corpus(120)
    FactVersioned.replacePartitions(spark, path,
      full.where(col("p") =!= 2), "p", Seq(0, 1))
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    FactVersioned.upsert(spark, path,
      corpus(120, shift = 4).where(col("p") === 0), Seq("id"), "p")
    FactVersioned.upsert(spark, path,
      full.where(col("p") === 2), Seq("id"), "p")
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    val fs = fsOf(path)
    val idx = FactAnnIndex.indexDir(path, "vec")
    Seq(1, 2).foreach(g => fs.delete(new Path(s"$idx/files/vgen=$g"), true))
    Seq(1L, 2L).foreach { g =>
      val ex = intercept[IllegalArgumentException](fannTopK(path, Some(g)))
      assert(ex.getMessage.contains("refreshIndex"))
    }
    FactAnnIndex.refreshIndex(spark, path, "id", "vec")
    assert(fileLists(path) == referencedByVgen(path))
    Seq(0L, 1L, 2L).foreach { g =>
      assert(resultSet(fannTopK(path, Some(g))) == truth(path, g), s"gen $g")
    }
    // a crash mid-stage leaves a staging dir: gcIndex drops it once
    // older than the claim lease, never a live refresh's
    val (old, live) = (new Path(s"$idx/_staging/old"),
      new Path(s"$idx/_staging/live"))
    Seq(old, live).foreach(fs.mkdirs)
    fs.setTimes(old,
      System.currentTimeMillis() - Versioned.StaleClaimMs - 60000L, -1L)
    FactAnnIndex.gcIndex(spark, path, "vec")
    assert(!fs.exists(old) && fs.exists(live))
  }

  test("two racing refreshes of one table both return and leave the " +
      "index exact") {
    import scala.concurrent.{Await, Future}
    import scala.concurrent.duration._
    import scala.concurrent.ExecutionContext.Implicits.global
    val path = tmp() + "/t"
    FactVersioned.replacePartitions(spark, path, corpus(150), "p",
      Seq(0, 1, 2), retain = 10)
    FactAnnIndex.writeIndex(spark, path, "id", "vec", nLists = 4)
    lifecycle(path).grouped(2).foreach { commits =>
      commits.foreach(_())
      val racers = Seq.fill(2)(Future(
        FactAnnIndex.refreshIndex(spark, path, "id", "vec")))
      racers.foreach(Await.result(_, 5.minutes))
      assert(fileLists(path) == referencedByVgen(path))
      val gens = FactVersioned.generations(spark, path)
      gens.foreach { g =>
        assert(resultSet(fannTopK(path, Some(g))) == truth(path, g),
          s"generation $g diverged from per-call truth")
      }
    }
  }
}
