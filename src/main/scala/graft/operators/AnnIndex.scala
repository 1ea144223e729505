package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{Column, DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Persisted ANN index: the IVF/SQ8 structures of [[Similarity]] as a
  * table sidecar instead of a per-query cost.
  *
  * `Similarity.ivfTopK` / `sq8TopK` re-train centroids, re-assign the
  * whole corpus, and re-quantize inside EVERY call — correct, but at
  * 100 TB an index is a persisted artifact. [[writeIndex]] pays the
  * training + assignment + quantization ONCE into `_graft_ann__<col>/`;
  * [[ivfTopKIndexed]] / [[sq8TopKIndexed]] then answer queries reading
  * ONLY the sidecar (never the raw vector column). The sidecar is
  * build-once over a flat table: a rewrite of the table needs a fresh
  * [[writeIndex]]. Versioned tables whose index follows every commit
  * use [[FactAnnIndex]], which refreshes ∝ the new generations' files.
  *
  * Sidecar layout under `<tablePath>/_graft_ann__<vecCol>/`:
  *  - `rows/part=<dir>/` — one Hive partition per SOURCE partition dir
  *    (`part = "__root__"` for files directly under the table root):
  *    (file, id, cell, u, q, q_min, q_scale, q_sum, pq) — the
  *    unit-normalized vector, its IVF cell, its SQ8 codes, and its
  *    m-byte PQ codes. Storing `u` here is what lets the query phase
  *    skip the base table entirely (the posture of FAISS-style on-disk
  *    indexes, which keep full vectors for exact re-rank).
  *  - `centroids/` — (cell, centroid), metadata-scale.
  *  - `codebooks/` — (subspace, code, centroid) PQ sub-centroids,
  *    metadata-scale (m × ksub rows).
  *  - `meta/` — (dim, n_lists, seed, train_cap, pq_m, pq_ksub), one row.
  *
  * Exactness contract: write-time cell assignment and query-time
  * probing share [[Similarity.cellPlans]], and quantization shares
  * [[Similarity.quantizeSq8]] / [[Similarity.sq8CandidateScan]], so on
  * an unchanged table the indexed variants return BIT-IDENTICAL results
  * to their per-call counterparts (spec-asserted) — the index changes
  * WHEN work happens, never WHAT is computed.
  */
object AnnIndex {

  val DirPrefix = "_graft_ann__"
  private val TmpDirPrefix = "_graft_ann_tmp__"

  /** `part` value for rows whose files sit directly under the table
    * root (unpartitioned tables). */
  val RootPart = "__root__"

  def indexDir(tablePath: String, vecCol: String): String =
    s"$tablePath/$DirPrefix$vecCol"

  private def rowsDir(tablePath: String, vecCol: String): String =
    s"${indexDir(tablePath, vecCol)}/rows"

  /** True if an index exists for `vecCol`. */
  def hasIndex(spark: SparkSession, tablePath: String, vecCol: String): Boolean = {
    val p = new Path(indexDir(tablePath, vecCol))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** Source partition-dir name of a file path: the immediate parent
    * component (scheme/authority-insensitive — matching is on the dir
    * NAME, the same contract as DataSkipping's serial-commit path), or
    * [[RootPart]] for files directly under the table root. */
  private[operators] def partOf(file: Column, rootName: String): Column = {
    val parent = regexp_extract(file, "([^/]+)/[^/]*$", 1)
    when(parent === rootName, lit(RootPart)).otherwise(parent)
  }

  /** (file, id, u, part) projection of a table scan — the input shape
    * [[assignQuantize]] consumes. */
  private def baseOf(
      scan: DataFrame,
      idCol: String,
      vecCol: String,
      rootName: String): DataFrame =
    scan.select(
        col("_metadata.file_path").as("file"),
        col(idCol).cast("long").as("id"),
        Similarity.normalized(col(vecCol)).as("u"))
      .where(col("u").isNotNull)
      .withColumn("part", partOf(col("file"), rootName))

  /** Assign IVF cells (via the shared [[Similarity.withCell]] — the
    * same struct-argmax metric as query-time rank-1 probing, attached
    * as a NARROW projection instead of the former id-keyed re-attach
    * join, which shuffled the full corpus by id at build time — guide
    * §2.4) and quantize SQ8 + PQ codes for every row of `base`. */
  private def assignQuantize(
      base: DataFrame, // (file, id, u, part)
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      literalCellThreshold: Int): DataFrame = {
    val spark = base.sparkSession
    import spark.implicits._
    val bcBooks = spark.sparkContext.broadcast(codebooks)
    Similarity.withCell(base, centroids, literalCellThreshold)
      .select(col("part"), col("file"), col("id"), col("cell"), col("u"))
      .as[(String, String, Long, Int, Seq[Double])]
      .mapPartitions { it =>
        val books = bcBooks.value
        val bounds =
          Similarity.pqBounds(books.map(_.head.length).sum, books.length)
        it.map { case (part, file, id, cell, u) =>
          val ua = u.toArray
          val (q, mn, sc, s) = Similarity.quantizeSq8(ua)
          (part, file, id, cell, u, q, mn, sc, s,
            Similarity.pqEncode(ua, books, bounds))
        }
      }
      .toDF("part", "file", "id", "cell", "u", "q",
        "q_min", "q_scale", "q_sum", "pq")
  }

  /** Build and publish the index sidecar for `tablePath`.`vecCol`.
    * Training follows [[Similarity.ivfTopK]] exactly (deterministic
    * lowest-hash sample, driver-side Lloyd's, same seed/maxIter), so an
    * index built with the same (nLists, seed, trainCap) yields
    * [[ivfTopKIndexed]] results identical to a fresh `ivfTopK` call.
    * Publish is staged: written under `_graft_ann_tmp__`, then swapped
    * in whole — readers never see a half-built index.
    *
    * @param nLists 0 ⇒ auto-size to max(16, ⌈√n⌉), as ivfTopK. */
  def writeIndex(
      spark: SparkSession,
      tablePath: String,
      idCol: String,
      vecCol: String,
      nLists: Int = 0,
      seed: Long = 42L,
      trainCap: Int = 25000,
      literalCellThreshold: Int = 4096,
      pqM: Int = 8,
      pqKsub: Int = 256): Unit = {
    require(pqKsub >= 1 && pqKsub <= 256,
      s"AnnIndex.writeIndex: pqKsub must fit one byte (1..256), got $pqKsub")
    val root = new Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val rootName = root.getName
    val base = Par.spread(
      baseOf(spark.read.parquet(tablePath), idCol, vecCol, rootName)).cache()
    try {
      // the full count is needed ONLY for the sqrt(n) default list
      // count — with explicit nLists the training-sample collect below
      // materializes the cache and proves non-emptiness by itself, one
      // action instead of two (guide §1.2: remove passes first)
      val n = if (nLists > 0) -1L else base.count()
      require(nLists > 0 || n > 0,
        s"AnnIndex.writeIndex: no usable vectors in $tablePath.$vecCol")
      // The uniqueness probe, the training-sample collect and (later)
      // the four sidecar writes are independent actions over the now-
      // cached base; at index-build sizes each costs its stage-barrier
      // floor, so sequential execution paid ~6 barriers where the
      // longest path needs 2 (optimization guide §2.6 — overlap
      // independent jobs). Failures surface at the awaits; publish
      // still renames only after every write completed.
      // the id is the index key: candidate re-attach and self-exclusion
      // are id-keyed, so duplicates would silently corrupt results
      val dupF = CallSites.overlapped(spark) {
        base.groupBy("id").count()
          .where(col("count") > 1).limit(1).count()
      }
      val lists =
        if (nLists > 0) nLists
        else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val sample: Array[Array[Double]] = base
        .orderBy(xxhash64(col("id")).asc, col("id").asc)
        .limit(trainCap)
        .select(col("id"), col("u"))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      require(sample.nonEmpty,
        s"AnnIndex.writeIndex: no usable vectors in $tablePath.$vecCol")
      val centroids =
        Similarity.trainCentroids(sample, lists, maxIter = 5, seed)
      val codebooks =
        Similarity.trainPqCodebooks(sample, pqM, pqKsub, seed)

      val tmp = new Path(root, TmpDirPrefix + vecCol)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      import spark.implicits._
      val writes = Seq(
        CallSites.overlapped(spark) {
          assignQuantize(base, centroids, codebooks, literalCellThreshold)
            .write.partitionBy("part")
            .parquet(new Path(tmp, "rows").toString)
        },
        CallSites.overlapped(spark) {
          centroids.zipWithIndex.toIndexedSeq
            .map { case (c, i) => (i, c.toSeq) }
            .toDF("cell", "centroid")
            .coalesce(1).write.parquet(new Path(tmp, "centroids").toString)
        },
        CallSites.overlapped(spark) {
          codebooks.zipWithIndex.toIndexedSeq
            .flatMap { case (cb, s) =>
              cb.zipWithIndex.map { case (c, i) => (s, i, c.toSeq) } }
            .toDF("subspace", "code", "centroid")
            .coalesce(1).write.parquet(new Path(tmp, "codebooks").toString)
        },
        CallSites.overlapped(spark) {
          Seq((sample.head.length, lists, seed, trainCap, pqM, pqKsub))
            .toDF("dim", "n_lists", "seed", "train_cap", "pq_m", "pq_ksub")
            .coalesce(1).write.parquet(new Path(tmp, "meta").toString)
        })
      // resolve ALL (incl. the probe) before any rethrow — no straggler
      // may outlive this call and race a retry's tmp rebuild
      Overlap.awaitAll(writes :+ dupF)
      require(scala.concurrent.Await.result(dupF, Overlap.AwaitTimeout) == 0,
        s"AnnIndex.writeIndex: $idCol must be unique in $tablePath")

      val live = new Path(root, DirPrefix + vecCol)
      if (fs.exists(live)) fs.delete(live, true)
      require(fs.rename(tmp, live),
        s"AnnIndex.writeIndex: publish rename failed for $live")
    } finally base.unpersist(blocking = false)
  }

  /** Centroids of the live index, cell-ordered. Fails loudly when the
    * index is absent. */
  private def readCentroids(
      spark: SparkSession,
      tablePath: String,
      vecCol: String): Array[Array[Double]] = {
    require(hasIndex(spark, tablePath, vecCol),
      s"AnnIndex: no live index for $vecCol at $tablePath — writeIndex " +
        "first")
    spark.read.parquet(s"${indexDir(tablePath, vecCol)}/centroids")
      .orderBy("cell").select("centroid").collect()
      .map(_.getSeq[Double](0).toArray)
  }

  /** PQ codebooks of the live index: m × ksub sub-centroids, ordered. */
  private def readCodebooks(
      spark: SparkSession,
      tablePath: String,
      vecCol: String): Array[Array[Array[Double]]] = {
    require(hasIndex(spark, tablePath, vecCol),
      s"AnnIndex: no live index for $vecCol at $tablePath")
    spark.read.parquet(s"${indexDir(tablePath, vecCol)}/codebooks")
      .orderBy("subspace", "code")
      .select("subspace", "centroid").collect()
      .groupBy(_.getInt(0)).toSeq.sortBy(_._1)
      .map(_._2.map(_.getSeq[Double](1).toArray))
      .toArray
  }

  /** PQ top-k reading ONLY the sidecar — since round 11 this IS the
    * cell-join plan at FULL probes: [[ivfPqCore]] with `nProbe` =
    * every cell, so the candidate pair universe equals the full ADC
    * scan and the scores are bit-identical to the former
    * collect+broadcast implementation (same multiplies, same order —
    * `PqAdcDot` ≡ `pqCandidateScan` LUT scoring, spec-asserted), while
    * the corpus-side m-byte codes now flow through a cell-keyed JOIN
    * that Spark may broadcast at small scale but NEVER collects to the
    * driver (VERDICT r10 Next #5: the collect tier dead-ended at
    * ~10⁸ rows and silently relied on callers knowing to switch).
    * Recall-trading probe restriction stays explicit via
    * [[ivfPqTopKIndexed]]. */
  def pqTopKIndexed(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      overFetch: Int = 4,
      roundSim: Int = 4): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val codebooks = readCodebooks(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    ivfPqCore(rows, centroids, codebooks, k, nProbe = centroids.length,
      overFetch = overFetch, roundSim = roundSim,
      literalCellThreshold = 4096)
  }

  /** IVF top-k reading ONLY the sidecar: probes rank the persisted
    * centroids (same [[Similarity.cellPlans]] scoring), candidates come
    * from the persisted cell assignment, exact re-rank uses the
    * persisted unit vectors. On an unchanged table, bit-identical to
    * `Similarity.ivfTopK(df, id, vec, k, nLists, nProbe)` with the
    * index's own (nLists, seed) — no training, no corpus re-assignment,
    * no base-table scan in the query path. */
  def ivfTopKIndexed(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    val (_, probes) = Similarity.cellPlans(
      rows.select(col("id"), col("u")), centroids, nProbe,
      literalCellThreshold)
    val scored = probes
      .join(rows.select(col("cell"), col("id"), col("u").as("u_b")),
        Seq("cell"))
      .where(col("key") =!= col("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), 4))
      .select("key", "id", "sim")
    Similarity.topKPerKey(scored, k)
      .select(col("key").as("query_id"), col("id").as("neighbor_id"),
        col("rank"), col("sim"))
  }

  /** SQ8 top-k reading ONLY the sidecar: the quantized index is
    * COLLECTED (not recomputed — the per-call corpus quantization pass
    * is the cost this sidecar amortizes), candidates come from the
    * shared [[Similarity.sq8CandidateScan]], exact re-rank re-attaches
    * the persisted unit vectors. Bit-identical to `Similarity.sq8TopK`
    * on an unchanged table. */
  def sq8TopKIndexed(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      overFetch: Int = 4,
      roundSim: Int = 4): DataFrame = {
    require(hasIndex(spark, tablePath, vecCol),
      s"AnnIndex: no live index for $vecCol at $tablePath")
    import spark.implicits._
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    val index: Array[(Long, Array[Byte], Double, Double, Long)] = rows
      .select(col("id"), col("q"), col("q_min"), col("q_scale"),
        col("q_sum"))
      .as[(Long, Array[Byte], Double, Double, Long)]
      .collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(index)
    val m = math.max(k * math.max(overFetch, 1), k)
    val typed = Par.spread(rows.select(col("id"), col("u")))
      .as[(Long, Seq[Double])]
    val cands = Similarity.sq8CandidateScan(typed, bc, m)
    val scored = cands
      .join(rows.select(col("id").as("key"), col("u").as("u_a")),
        Seq("key"))
      .join(rows.select(col("id"), col("u").as("u_b")), Seq("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), roundSim))
      .select("key", "id", "sim")
    Similarity.topKPerKey(scored, k)
      .select(col("key").as("query_id"), col("id").as("neighbor_id"),
        col("rank"), col("sim"))
  }

  /** IVF+SQ8 combined top-k reading ONLY the sidecar, with NO
    * corpus-sized driver collect anywhere — the at-scale form of
    * [[sq8TopKIndexed]] (whose broadcast of every row's codes is a
    * driver OOM at 10⁹⁺ rows).
    *
    * Shape: each query probes its `nProbe` nearest cells (persisted
    * centroids, shared [[Similarity.cellPlans]] scoring), quantizes
    * ITSELF in-flight (same [[Similarity.quantizeSq8]] the sidecar rows
    * used, so query codes ≡ persisted codes), then candidates come from
    * a DISTRIBUTED join against the persisted SQ8 codes on `cell` —
    * the corpus side flows through a size-adaptive join operator
    * (broadcast at KB scale, shuffle at TB scale, Catalyst/AQE's call),
    * never through `collect()`+`broadcast()`. Approximate sims are the
    * same integer-MAC reconstruction as [[Similarity.sq8CandidateScan]]
    * (identical formula and double-op order), top-`k·overFetch`
    * candidates per query by (approx sim desc, id asc), exact re-rank
    * on persisted unit vectors.
    *
    * Exactness contract: with `nProbe` ≥ the index's cell count the
    * pair universe equals the full scan, so results are BIT-IDENTICAL
    * to `Similarity.sq8TopK` / [[sq8TopKIndexed]] (spec-asserted); with
    * `nProbe` < cells, recall trades like IVF (candidates restricted to
    * probed cells). The only driver collect in this path is the
    * centroid table — `n_lists` rows, metadata-scale by construction. */
  def ivfSq8TopKIndexed(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    ivfSq8Core(rows, centroids, k, nProbe, overFetch, roundSim,
      literalCellThreshold)
  }

  /** [[ivfSq8TopKIndexed]] for an EXTERNAL query batch — the
    * production lookup shape (new items against the indexed corpus)
    * instead of the gates' corpus-self-join. Queries flow down the
    * same plan: probe ranking, in-flight self-quantization, the
    * cell-keyed candidate join, exact re-rank on persisted unit
    * vectors with the query side's true vectors. A corpus row sharing
    * a query's id is excluded (the "don't return yourself" contract
    * when queries are drawn from the corpus); genuinely-new items
    * should carry ids outside the corpus key space. */
  def ivfSq8TopKIndexedFor(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    ivfSq8Core(rows, centroids, k, nProbe, overFetch, roundSim,
      literalCellThreshold, queries = Some(normalizedQueries(
        queries, qIdCol, qVecCol)))
  }

  /** (id, u) unit-normalized view of an external query frame. */
  private[operators] def normalizedQueries(
      queries: DataFrame, qIdCol: String, qVecCol: String): DataFrame =
    queries.select(col(qIdCol).cast("long").as("id"),
        Similarity.normalized(col(qVecCol)).as("u"))
      .where(col("u").isNotNull)

  /** FILTERED [[ivfSq8TopKIndexed]] — the hybrid-search shape (vector
    * similarity under a metadata predicate): neighbors are restricted
    * to `allowed` (a one-column frame of corpus ids, typically the
    * result of an arbitrary predicate on the base table) BEFORE the
    * per-query candidate cut, so every returned neighbor satisfies the
    * predicate and each query still gets up to `k` of them. The
    * restriction is a semi-join on the candidate stream — size-
    * adaptive like the cell join, never a collect. Recall under very
    * selective filters follows the standard IVF trade: allowed rows
    * hide in un-probed cells exactly as un-filtered neighbors do;
    * raise `nProbe` (or `overFetch`) for selective predicates. With
    * all cells probed and overFetch ≥ the allowed count, results are
    * EXACTLY the brute-force cosine top-k over the allowed subset
    * (spec-asserted). */
  def ivfSq8TopKIndexedWhere(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    ivfSq8Core(rows, centroids, k, nProbe, overFetch, roundSim,
      literalCellThreshold,
      allowed = Some(normalizedAllowed(allowed, allowedIdCol)))
  }

  /** One-column (id) view of an allowed-neighbor frame. */
  private[operators] def normalizedAllowed(
      allowed: DataFrame, idCol: String): DataFrame =
    allowed.select(col(idCol).cast("long").as("id")).distinct()

  /** The combined-path query plan over any (id, cell, u, q, q_min,
    * q_scale, q_sum) index-row frame — shared by [[ivfSq8TopKIndexed]]
    * and [[FactAnnIndex.topK]] (whose rows are the manifest-restricted
    * view of a generation). See [[ivfSq8TopKIndexed]] for the shape.
    * `queries` (an (id, u) frame) switches the probe/re-rank side to
    * an external batch; None = the corpus queries itself. `allowed`
    * (a one-column id frame) restricts neighbors by semi-join before
    * the candidate cut — see [[ivfSq8TopKIndexedWhere]]. */
  private[operators] def ivfSq8Core(
      rows: DataFrame,
      centroids: Array[Array[Double]],
      k: Int,
      nProbe: Int,
      overFetch: Int,
      roundSim: Int,
      literalCellThreshold: Int,
      queries: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val spark = rows.sparkSession
    import spark.implicits._
    val qSide = queries.getOrElse(rows)
    val (_, probes) = Similarity.cellPlans(
      Par.spread(qSide.select(col("id"), col("u"))), centroids, nProbe,
      literalCellThreshold)
    // query side quantizes itself per probe row — identical to the
    // persisted codes (quantizeSq8 is deterministic on the same unit
    // vector) and measurably cheaper than re-joining the sidecar by
    // key at this stage (the 64-element quantize loop beats a second
    // hash join's build+probe)
    val qCoded = probes
      .select(col("key"), col("cell"), col("u_a"))
      .as[(Long, Int, Seq[Double])]
      .mapPartitions(_.map { case (key, cell, u) =>
        val (q, mn, sc, s) = Similarity.quantizeSq8(u.toArray)
        (key, cell, q, mn, sc, s)
      })
      .toDF("key", "cell", "qa", "mn_a", "sc_a", "s_a")
    val cCodedAll = rows.select(col("cell"), col("id"), col("q").as("qb"),
      col("q_min").as("mn_b"), col("q_scale").as("sc_b"),
      col("q_sum").as("s_b"))
    // hybrid-search restriction: drop disallowed neighbors BEFORE the
    // candidate cut so every query's k slots go to allowed rows
    val cCoded = allowed.fold(cCodedAll)(a =>
      cCodedAll.join(a, Seq("id"), "left_semi"))
    // the candidate scan as a JOIN: pairs are cell-local, corpus codes
    // shuffle (or broadcast — size-driven) by cell, never collected;
    // the integer-MAC scoring is a full-codegen native expression
    // (same formula and double-op order as sq8CandidateScan), fused in
    // the join's projection — no Ser/De boundary on the hot path
    val approx = qCoded.join(cCoded, Seq("cell"))
      .where(col("key") =!= col("id"))
      .select(col("key"), col("id"),
        graft.functions.VectorFunctions.sq8ReconstructedDot(
          col("qa"), col("mn_a"), col("sc_a"), col("s_a"),
          col("qb"), col("mn_b"), col("sc_b"), col("s_b")).as("sim"))
    val m = math.max(k * math.max(overFetch, 1), k)
    val cands = Similarity.topKPerKey(approx, m).select("key", "id")
    val scored = cands
      .join(qSide.select(col("id").as("key"), col("u").as("u_a")),
        Seq("key"))
      .join(rows.select(col("id"), col("u").as("u_b")), Seq("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), roundSim))
      .select("key", "id", "sim")
    Similarity.topKPerKey(scored, k)
      .select(col("key").as("query_id"), col("id").as("neighbor_id"),
        col("rank"), col("sim"))
  }

  /** IVF+PQ combined top-k reading ONLY the sidecar, with NO
    * corpus-sized driver collect anywhere — the at-scale form of
    * [[pqTopKIndexed]] (whose broadcast of every row's codes is a
    * driver OOM past ~10⁸ rows), and the memory FLOOR of the whole
    * indexed family: the FAISS IVFPQ shape.
    *
    * Shape mirrors [[ivfSq8TopKIndexed]]: each query probes its
    * `nProbe` nearest cells (persisted centroids, shared
    * [[Similarity.cellPlans]] scoring), then candidates come from a
    * DISTRIBUTED join against the persisted m-byte PQ codes on `cell`
    * — size-adaptive (broadcast at KB scale, shuffle at TB scale,
    * Catalyst/AQE's call), never `collect()`+`broadcast()`. Scoring is
    * ADC (the query side rides EXACT through the join — that is what
    * makes ADC beat symmetric code-vs-code distances at equal bytes)
    * via the full-codegen [[graft.functions.expressions.PqAdcDot]]
    * expression fused in the join's projection; top-`k·overFetch`
    * candidates per query by (approx sim desc, id asc), exact re-rank
    * on persisted unit vectors.
    *
    * vs the SQ8 combined path: per-pair compute is the same (dim
    * multiply-adds), but the CORPUS side of the candidate join carries
    * m bytes per row instead of dim bytes — 8× less shuffle on the
    * side that is corpus-sized, at PQ's recall (codebook
    * reconstruction error > SQ8's per-element bound; floor-gated).
    *
    * Exactness contract: with `nProbe` ≥ the index's cell count the
    * pair universe equals the full scan and the ADC scores are
    * BIT-IDENTICAL to `Similarity.pqCandidateScan`'s LUT scoring (same
    * multiplies, same order — spec-asserted vs `pqTopK`); with
    * `nProbe` < cells, recall trades like IVF. The only driver
    * collects in this path are the n_lists-row centroid table and the
    * m·ksub-row codebook table — both metadata-scale by
    * construction. */
  def ivfPqTopKIndexed(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val codebooks = readCodebooks(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    ivfPqCore(rows, centroids, codebooks, k, nProbe, overFetch, roundSim,
      literalCellThreshold)
  }

  /** [[ivfPqTopKIndexed]] for an EXTERNAL query batch — see
    * [[ivfSq8TopKIndexedFor]] for the query-batch contract (the
    * production lookup shape; id-equality self-exclusion included). */
  def ivfPqTopKIndexedFor(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val codebooks = readCodebooks(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    ivfPqCore(rows, centroids, codebooks, k, nProbe, overFetch, roundSim,
      literalCellThreshold, queries = Some(normalizedQueries(
        queries, qIdCol, qVecCol)))
  }

  /** FILTERED [[ivfPqTopKIndexed]] — see [[ivfSq8TopKIndexedWhere]]
    * for the hybrid-search restriction contract (semi-join on the
    * candidate stream BEFORE the per-query cut). */
  def ivfPqTopKIndexedWhere(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame = {
    val centroids = readCentroids(spark, tablePath, vecCol)
    val codebooks = readCodebooks(spark, tablePath, vecCol)
    val rows = spark.read.parquet(rowsDir(tablePath, vecCol))
    ivfPqCore(rows, centroids, codebooks, k, nProbe, overFetch, roundSim,
      literalCellThreshold,
      allowed = Some(normalizedAllowed(allowed, allowedIdCol)))
  }

  /** The IVF+PQ query plan over any (id, cell, u, pq) index-row frame —
    * [[ivfSq8Core]] with ADC scoring over the persisted PQ codes. Same
    * `queries` / `allowed` composition (external batch / hybrid
    * filter). See [[ivfPqTopKIndexed]] for the shape. */
  private[operators] def ivfPqCore(
      rows: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nProbe: Int,
      overFetch: Int,
      roundSim: Int,
      literalCellThreshold: Int,
      queries: Option[DataFrame] = None,
      allowed: Option[DataFrame] = None): DataFrame = {
    val bounds = Similarity.pqBounds(
      codebooks.map(_.head.length).sum, codebooks.length)
    val qSide = queries.getOrElse(rows)
    val (_, probes) = Similarity.cellPlans(
      Par.spread(qSide.select(col("id"), col("u"))), centroids, nProbe,
      literalCellThreshold)
    val cCodedAll = rows.select(col("cell"), col("id"), col("pq"))
    val cCoded = allowed.fold(cCodedAll)(a =>
      cCodedAll.join(a, Seq("id"), "left_semi"))
    // the ADC scan as a JOIN: pairs are cell-local, the corpus's m-byte
    // codes shuffle (or broadcast) by cell, never collected; the query
    // vector rides exact (ADC), scoring fused full-codegen in the
    // join's projection
    val approx = probes.join(cCoded, Seq("cell"))
      .where(col("key") =!= col("id"))
      .select(col("key"), col("id"),
        graft.functions.VectorFunctions.pqAdcDot(
          col("u_a"), col("pq"), codebooks, bounds).as("sim"))
    val m = math.max(k * math.max(overFetch, 1), k)
    val cands = Similarity.topKPerKey(approx, m).select("key", "id")
    val scored = cands
      .join(qSide.select(col("id").as("key"), col("u").as("u_a")),
        Seq("key"))
      .join(rows.select(col("id"), col("u").as("u_b")), Seq("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), roundSim))
      .select("key", "id", "sim")
    Similarity.topKPerKey(scored, k)
      .select(col("key").as("query_id"), col("id").as("neighbor_id"),
        col("rank"), col("sim"))
  }
}
