package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** Approximate-nearest-neighbor search over an embedding column.
  *
  * Baseline: brute-force cosine top-k (exact; quadratic — the correctness
  * oracle). Scale path: random-hyperplane LSH bucketing with multiple
  * tables — candidates only from shared buckets, then exact re-rank.
  * At 100 TB the bucketed join shuffles on (table, bucket) instead of
  * materializing the n² cross product.
  */
object Similarity {

  /** Unit-normalize a vector column (double elements); zero vectors
    * normalize to null. Done ONCE per row so pairwise similarity is a
    * plain dot product (3× fewer flops than cosine per pair). */
  private[operators] def normalized(v: Column): Column = {
    val n = sqrt(dot(v, v))
    when(n > 0, transform(v, x => x.cast("double") / n))
  }

  /** Two-phase top-k per key: per-partition bounded heaps (no global
    * sort of the full pair set), then an exact final window over the
    * ≤ partitions×keys×k survivors. Order: sim desc, id asc.
    *
    * The heap stage is NOT redundant with Spark's native map-side
    * WindowGroupLimit: that operator needs a per-partition SORT of the
    * whole pair set below it (n log n over pairs), while the heap
    * keeps n log k and constant memory. Measured at sf1.0 (q45, 60k
    * results from ~n²/nLists·nProbe pairs): window-only 92.8 s with
    * 7.4 GB mem + 1.8 GB disk spill and 673 MB peak task memory; this
    * heap 57.2 s, ZERO spill, 35 MB peak. The Ser/De boundary it costs
    * is noise at sf0.1 (A/B within run variance) — do not "simplify"
    * this into a bare ranked window. */
  private[operators] def topKPerKey(
      pairs: DataFrame, // columns: key (long), id (long), sim (double)
      k: Int): DataFrame = {
    import pairs.sparkSession.implicits._
    val partial = pairs.select(col("key").cast("long"),
        col("id").cast("long"), col("sim").cast("double"))
      .where(col("sim").isNotNull) // zero-norm vectors have no similarity
      .as[(Long, Long, Double)]
      .mapPartitions { it =>
        // worst element first: smallest sim, then largest id
        val ord = Ordering.by[(Long, Double), (Double, Long)] {
          case (id, sim) => (-sim, id)
        }
        val heaps = scala.collection.mutable.HashMap
          .empty[Long, scala.collection.mutable.PriorityQueue[(Long, Double)]]
        it.foreach { case (key, id, sim) =>
          val h = heaps.getOrElseUpdate(key,
            scala.collection.mutable.PriorityQueue.empty[(Long, Double)](ord))
          if (h.size < k) h.enqueue((id, sim))
          else {
            val (wid, wsim) = h.head
            if (sim > wsim || (sim == wsim && id < wid)) {
              h.dequeue(); h.enqueue((id, sim))
            }
          }
        }
        heaps.iterator.flatMap { case (key, h) =>
          h.iterator.map { case (id, sim) => (key, id, sim) }
        }
      }
      .toDF("key", "id", "sim")
    val w = Window.partitionBy(col("key"))
      .orderBy(col("sim").desc, col("id").asc)
    partial.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
  }

  /** Exact brute-force cosine top-k neighbors for every vector.
    * Output: (query_id, neighbor_id, rank) — rank 1..k by cosine desc,
    * ties broken by neighbor_id asc (deterministic). Vectors are
    * pre-normalized once, so each pair costs one dot product; ranking is
    * two-phase (bounded heaps, then exact window over survivors). */
  def bruteForceTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      roundSim: Int = 4): DataFrame = {
    val base = Par.spread(df.select(col(idCol).cast("long").as("id"),
      normalized(col(vecCol)).as("u")))
    val a = base.select(col("id").as("key"), col("u").as("u_a"))
    val b = base.select(col("id").as("id"), col("u").as("u_b"))
    val pairs = a.join(b, col("key") =!= col("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), roundSim))
      .select("key", "id", "sim")
    topKPerKey(pairs, k)
      .select(col("key").as("query_id"), col("id").as("neighbor_id"),
        col("rank"))
  }

  /** Exact top-k via broadcast blocking: the (normalized) corpus is
    * collected once into a broadcast array; the query side streams per
    * partition computing dots and a bounded top-k selection in ONE pass
    * — the n² candidate rows are never materialized, no shuffle of pair
    * rows at all. Results are identical to [[bruteForceTopK]] (same
    * normalize → dot → HALF_UP round → (sim desc, id asc) ranking).
    *
    * Applicability bound: corpus must fit in a broadcast (~1M × 64-dim
    * doubles ≈ 512 MB). Beyond that, LSH/IVF are the scale paths.
    */
  /** @param queryIdPred when set, only ids satisfying it are scored as
    *   QUERIES (the corpus side — the broadcast candidates — is always
    *   the full input): a caller that keeps 1-in-N queries would
    *   otherwise pay the full all-queries scan and discard (N−1)/N of
    *   it (guide §2.3 "don't compute things you throw away" — q135
    *   computed 10× its kept rows). Row-identical to filtering the
    *   output by the same predicate. */
  def bruteForceTopKBlocked(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      roundSim: Int = 4,
      queryIdPred: Option[Long => Boolean] = None): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = Par.spread(df.select(col(idCol).cast("long").as("id"),
        normalized(col(vecCol)).as("u"))
      .where(col("u").isNotNull))
      .as[(Long, Seq[Double])]
    val corpus: Array[(Long, Array[Double])] =
      base.collect().map { case (i, u) => (i, u.toArray) }.sortBy(_._1)
    val bc = spark.sparkContext.broadcast(corpus)

    if (k <= 0) {
      import org.apache.spark.sql.types._
      return spark.createDataFrame(spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("neighbor_id", LongType), StructField("rank", IntegerType))))
    }
    base.mapPartitions { it =>
      val cs = bc.value
      val roundStep = math.pow(10.0, -roundSim)
      val qIt = queryIdPred.fold(it)(p => it.filter(r => p(r._1)))
      qIt.flatMap { case (qid, uSeq) =>
        val u = uSeq.toArray
        // bounded selection: (sim desc, id asc), worst kept at index k-1
        val topIds = new Array[Long](k)
        val topSims = new Array[Double](k)
        var filled = 0
        var ci = 0
        while (ci < cs.length) {
          val (nid, v) = cs(ci)
          if (nid != qid) {
            var dot = 0.0
            var j = 0
            while (j < u.length) { dot += u(j) * v(j); j += 1 }
            // Cheap prefilter on the RAW dot before the exact-rounding
            // BigDecimal (which costs more than the 64-dim dot itself):
            // rounding moves the value by < halfUlp, so a raw dot more
            // than one rounding-step below the current worst can neither
            // beat nor tie it — skip without allocating.
            val cannotQualify = filled == k &&
              dot < topSims(filled - 1) - roundStep
            if (!cannotQualify) {
            // identical rounding to Spark's round(): scala BigDecimal
            // HALF_UP on the double
            val sim = BigDecimal(dot)
              .setScale(roundSim, scala.math.BigDecimal.RoundingMode.HALF_UP)
              .toDouble
            val beatsWorst = filled < k || sim > topSims(filled - 1) ||
              (sim == topSims(filled - 1) && nid < topIds(filled - 1))
            if (beatsWorst) {
              var pos = math.min(filled, k - 1)
              while (pos > 0 && (sim > topSims(pos - 1) ||
                  (sim == topSims(pos - 1) && nid < topIds(pos - 1)))) {
                topSims(pos) = topSims(pos - 1)
                topIds(pos) = topIds(pos - 1)
                pos -= 1
              }
              topSims(pos) = sim
              topIds(pos) = nid
              if (filled < k) filled += 1
            }
            }
          }
          ci += 1
        }
        (0 until filled).map(r => (qid, topIds(r), r + 1))
      }
    }.toDF("query_id", "neighbor_id", "rank")
  }

  /** IVF (inverted-file) approximate top-k: k-means centroids partition
    * the corpus into nLists cells; each query probes its nProbe nearest
    * cells and re-ranks exactly inside them. The classic ANN index
    * shape: candidates ≈ n·(nProbe/nLists) per query instead of n.
    *
    * Vectors are unit-normalized first so euclidean k-means cells align
    * with cosine neighborhoods. Centroids train on (a sample of) the
    * corpus — at 100 TB, train on a 1-10M row sample, then a single
    * broadcast-join pass assigns cells.
    */
  /** Driver-side Lloyd's k-means over a bounded sample. Index training
    * is NOT a distributed workload: the sample is capped (trainCap ×
    * dim × 8 B — 25k × 64 ≈ 13 MB), while a cluster round-trip per
    * Lloyd iteration costs whole scheduler cycles (the previous Spark
    * ML fit spent ~4 s of a 5.5 s query training on 2k vectors). The
    * sample is the trainCap lowest-hash ids — deterministic and
    * partition-invariant regardless of corpus size or layout. */
  private[operators] def trainCentroids(
      sample: Array[Array[Double]],
      nLists: Int,
      maxIter: Int,
      seed: Long): Array[Array[Double]] = {
    val dim = sample.head.length
    val rnd = new scala.util.Random(seed)
    // a corpus smaller than nLists trains one centroid per vector (the
    // old Spark ML fit tolerated n < k the same way)
    val k = math.min(nLists, sample.length)
    val centroids = rnd.shuffle(sample.indices.toVector).take(k)
      .map(i => sample(i).clone()).toArray
    var iter = 0
    while (iter < maxIter) {
      val sums = Array.fill(k)(new Array[Double](dim))
      val counts = new Array[Long](k)
      sample.foreach { v =>
        var best = 0; var bestD = Double.MaxValue
        var c = 0
        while (c < k) {
          var d = 0.0; var j = 0
          val ctr = centroids(c)
          while (j < dim) { val t = v(j) - ctr(j); d += t * t; j += 1 }
          if (d < bestD) { bestD = d; best = c }
          c += 1
        }
        val s = sums(best); var j = 0
        while (j < dim) { s(j) += v(j); j += 1 }
        counts(best) += 1
      }
      var c = 0
      while (c < k) {
        if (counts(c) > 0) {
          var j = 0
          while (j < dim) { centroids(c)(j) = sums(c)(j) / counts(c); j += 1 }
        } // empty cell keeps its previous centroid
        c += 1
      }
      iter += 1
    }
    centroids
  }

  /** Cell-assignment and probe-expansion plans over `vecs` (id, u) for
    * a fixed centroid set — the single source of truth for IVF cell
    * semantics, shared by the per-call [[ivfTopK]] and the persisted
    * [[AnnIndex]] (write-time assignment and query-time probing MUST
    * agree bit-for-bit or a borderline vector lands in one cell and is
    * probed in another).
    *
    * Cells are scored by the SAME metric k-means assigns with
    * (argmin ||u-c||² ≡ argmax (u·c − ||c||²/2)); ranking by raw dot
    * would use a different metric and a query could miss its own cell.
    * Two physical strategies with identical semantics (ties → lower
    * cell id):
    *  - small indexes: centroids inline as literals, struct-argmax /
    *    sorted-slice — pure narrow projections, zero extra shuffles;
    *  - large indexes (literals would blow past janino's method/
    *    constant-pool limits and knock the projection off codegen):
    *    broadcast centroid table + crossJoin + id-window rank. The
    *    assignment is the rank-1 probe (same metric), so one ranking
    *    serves both.
    *
    * @return (assigned: (id, u_b, cell), probes: (key, u_a, cell)) */
  /** The literal-path cell-scoring expression over a `u` column: one
    * struct per centroid, ordered so `array_max` picks (highest score,
    * then LOWEST cell id) — shared by [[cellPlans]] and [[withCell]] so
    * build-time assignment and query-time probing stay one metric. */
  private def literalCellScores(
      centroids: Array[Array[Double]]): Column =
    array(centroids.zipWithIndex.toIndexedSeq.map {
      case (ctr, i) =>
        val halfSq = ctr.map(x => x * x).sum / 2.0
        struct(
          (dot(col("u"), typedLit(ctr.toSeq)) - lit(halfSq)).as("s"),
          lit(-i).as("neg_cell"))
    }: _*)

  /** Attach each row's rank-1 IVF cell as a `cell` column, keeping
    * every other column of `df` — the assignment half of [[cellPlans]]
    * WITHOUT the id-keyed re-attach join the index builders used to
    * pay (guide §2.4: remove shuffles outright — that join shuffled
    * the full corpus by id at build time just to re-unite rows with
    * their own narrow-derived assignment). Cell per row is identical
    * to `cellPlans(...)._1` by construction: the literal path computes
    * the same struct-argmax projection narrowly over the same `u`; the
    * broadcast path ranks the same crossJoin with the same
    * (cscore desc, cell asc) per-id window. The broadcast path assumes
    * `rowKey` identifies a row — the same contract the replaced join's
    * consumers already require (AnnIndex and FactAnnIndex refuse a
    * duplicate-id build before publishing); an index pass over several
    * generations, where one id recurs once per rewrite, keys by
    * (vgen, id). */
  private[operators] def withCell(
      df: DataFrame, // carries (id, u); extra columns ride along
      centroids: Array[Array[Double]],
      literalCellThreshold: Int,
      rowKey: Seq[String] = Seq("id")): DataFrame = {
    val dim = centroids.head.length
    if (centroids.length * dim <= literalCellThreshold) {
      df.withColumn("cell",
        -array_max(literalCellScores(centroids)).getField("neg_cell"))
    } else {
      val spark = df.sparkSession
      import spark.implicits._
      val centroidDf = centroids.zipWithIndex.toIndexedSeq
        .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum / 2.0) }
        .toDF("cell", "centroid", "half_sq_norm")
      val probeW = Window.partitionBy(rowKey.map(col): _*)
        .orderBy(col("cscore").desc, col("cell").asc)
      df.crossJoin(broadcast(centroidDf))
        .withColumn("cscore",
          dot(col("u"), col("centroid")) - col("half_sq_norm"))
        .withColumn("prank", row_number().over(probeW))
        .where(col("prank") === 1)
        .drop("centroid", "half_sq_norm", "cscore", "prank")
    }
  }

  private[operators] def cellPlans(
      vecs: DataFrame, // columns: id (long), u (array<double>, unit-norm)
      centroids: Array[Array[Double]],
      nProbe: Int,
      literalCellThreshold: Int): (DataFrame, DataFrame) = {
    val dim = centroids.head.length
    if (centroids.length * dim <= literalCellThreshold) {
      val cellScores = literalCellScores(centroids)
      val a = vecs
        .withColumn("best", array_max(cellScores))
        .select(col("id"), col("u").as("u_b"),
          (-col("best.neg_cell")).as("cell"))
      val p = vecs
        .withColumn("probe",
          explode(slice(reverse(array_sort(cellScores)), 1, nProbe)))
        .select(col("id").as("key"), col("u").as("u_a"),
          (-col("probe.neg_cell")).as("cell"))
      (a, p)
    } else {
      val spark = vecs.sparkSession
      import spark.implicits._
      val centroidDf = centroids.zipWithIndex.toIndexedSeq
        .map { case (c, i) => (i, c.toSeq, c.map(x => x * x).sum / 2.0) }
        .toDF("cell", "centroid", "half_sq_norm")
      val probeW = Window.partitionBy(col("id"))
        .orderBy(col("cscore").desc, col("cell").asc)
      val ranked = vecs.crossJoin(broadcast(centroidDf))
        .withColumn("cscore",
          dot(col("u"), col("centroid")) - col("half_sq_norm"))
        .withColumn("prank", row_number().over(probeW))
      val a = ranked.where(col("prank") === 1)
        .select(col("id"), col("u").as("u_b"), col("cell"))
      val p = ranked.where(col("prank") <= nProbe)
        .select(col("id").as("key"), col("u").as("u_a"), col("cell"))
      (a, p)
    }
  }

  /** @param nLists cell count; 0 ⇒ auto-size to max(16, ⌈√n⌉) from a
    *   corpus count — the standard IVF sizing that keeps probe cost
    *   n·nProbe·(n/nLists) ≈ n^1.5 instead of n² as the corpus grows
    *   (the sf1.0 smoke's q45 cliff: fixed gate-pinned nLists at 10×
    *   data quadruples the candidate join). Gates pin explicit values
    *   so the oracle sees a stable plan; auto is the production
    *   default posture. */
  def ivfTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      nLists: Int = 0,
      nProbe: Int = 4,
      seed: Long = 42L,
      trainCap: Int = 25000,
      literalCellThreshold: Int = 4096): DataFrame = {
    val base = df.select(col(idCol).cast("long").as("id"),
        normalized(col(vecCol)).as("u"))
      .where(col("u").isNotNull)
    // cached: feeds the (auto-sizing count +) train-sample collect +
    // cell assignment + probe expansion; released before return
    // (Dedup.materializeAndRelease — the cache must not outlive the
    // call in a long-lived session)
    val vecs = Par.spread(base).cache()
    val lists =
      if (nLists > 0) nLists
      else math.max(16, math.ceil(math.sqrt(
        vecs.count().toDouble)).toInt)
    // bounded deterministic sample (lowest-hash ids; TakeOrdered — no
    // full sort at scale), collected and trained on the driver
    val sample: Array[Array[Double]] = vecs
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(trainCap)
      .select(col("id"), col("u"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    if (sample.isEmpty) {
      // no usable vectors (empty table or all zero-norm) → empty result
      vecs.unpersist(blocking = false)
      import org.apache.spark.sql.types._
      return df.sparkSession.createDataFrame(
        df.sparkSession.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("neighbor_id", LongType),
          StructField("rank", IntegerType),
          StructField("sim", DoubleType))))
    }
    val centroids = trainCentroids(sample, lists, maxIter = 5, seed)

    val (assigned, probes) =
      cellPlans(vecs, centroids, nProbe, literalCellThreshold)

    val scored = probes
      .join(assigned.select(col("cell"), col("id"), col("u_b")),
        Seq("cell"))
      .where(col("key") =!= col("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), 4))
      .select("key", "id", "sim")
    Dedup.materializeAndRelease(
      topKPerKey(scored, k)
        .select(col("key").as("query_id"), col("id").as("neighbor_id"),
          col("rank"), col("sim")),
      vecs)
  }

  /** Per-vector affine int8 quantization of a unit-normalized vector:
    * q[i] = round((v[i]−min)/scale) in 0..255 (one BYTE per element —
    * 8× smaller than the double vector), plus the (min, scale, Σq)
    * needed to reconstruct dots:
    *   dot(a,b) ≈ d·ma·mb + ma·sb·Σqb + mb·sa·Σqa + sa·sb·Σ(qa·qb)
    * where the per-pair work is the integer MAC Σ(qa·qb) — exact in
    * Long, so reconstruction error is bounded by quantization alone
    * (≤ ~1e-3 per element on unit vectors). */
  private[graft] def quantizeSq8(u: Array[Double])
      : (Array[Byte], Double, Double, Long) = {
    var mn = Double.MaxValue
    var mx = Double.MinValue
    var i = 0
    while (i < u.length) {
      val x = u(i)
      if (x < mn) mn = x
      if (x > mx) mx = x
      i += 1
    }
    val scale = if (mx > mn) (mx - mn) / 255.0 else 1.0
    val q = new Array[Byte](u.length)
    var s = 0L
    i = 0
    while (i < u.length) {
      val v = math.min(255, math.max(0,
        math.round((u(i) - mn) / scale).toInt))
      q(i) = v.toByte
      s += v
      i += 1
    }
    (q, mn, scale, s)
  }

  /** The SQ8 candidate scan shared by the per-call [[sq8TopK]] and the
    * persisted [[AnnIndex.sq8TopKIndexed]]: each query quantizes itself,
    * scans the broadcast quantized index with reconstructed dots
    * (integer MACs), and keeps the top `m` by (approx sim desc, id asc).
    * Output: (key = query id, id = candidate id). */
  private[operators] def sq8CandidateScan(
      typed: org.apache.spark.sql.Dataset[(Long, Seq[Double])],
      bc: org.apache.spark.broadcast.Broadcast[
        Array[(Long, Array[Byte], Double, Double, Long)]],
      m: Int): DataFrame = {
    val spark = typed.sparkSession
    import spark.implicits._
    typed.mapPartitions { it =>
      val cs = bc.value
      it.flatMap { case (qid, uSeq) =>
        val (qq, qmin, qscale, qsum) = quantizeSq8(uSeq.toArray)
        val d = qq.length
        // bounded selection by (approx sim desc, id asc)
        val topIds = new Array[Long](m)
        val topSims = new Array[Double](m)
        var filled = 0
        var ci = 0
        while (ci < cs.length) {
          val (cid, cq, cmin, cscale, csum) = cs(ci)
          if (cid != qid) {
            var mac = 0L
            var j = 0
            while (j < d) {
              mac += (qq(j) & 0xff).toLong * (cq(j) & 0xff).toLong
              j += 1
            }
            val sim = d * qmin * cmin + qmin * cscale * csum +
              cmin * qscale * qsum + qscale * cscale * mac
            val beatsWorst = filled < m || sim > topSims(filled - 1) ||
              (sim == topSims(filled - 1) && cid < topIds(filled - 1))
            if (beatsWorst) {
              var pos = math.min(filled, m - 1)
              while (pos > 0 && (sim > topSims(pos - 1) ||
                  (sim == topSims(pos - 1) && cid < topIds(pos - 1)))) {
                topSims(pos) = topSims(pos - 1)
                topIds(pos) = topIds(pos - 1)
                pos -= 1
              }
              topSims(pos) = sim
              topIds(pos) = cid
              if (filled < m) filled += 1
            }
          }
          ci += 1
        }
        (0 until filled).map(r => (qid, topIds(r)))
      }
    }.toDF("key", "id")
  }

  /** SQ8 approximate top-k: the broadcast-blocked scan of
    * [[bruteForceTopKBlocked]] with the resident index QUANTIZED to
    * int8 — the memory-bound ANN path. 1M × 64-dim doubles is a
    * ~512 MB broadcast; quantized it is ~64 MB, so the blocked scan
    * stays broadcastable an order of magnitude further up the corpus
    * before LSH/IVF must take over.
    *
    * Two phases: (1) candidate generation — each query scans the
    * quantized index with reconstructed dots (integer MACs) and keeps
    * the top k·overFetch by (approx sim desc, id asc); (2) exact
    * re-rank — candidates travel as IDS ONLY, true vectors re-attach
    * by join, exact rounded dots rank the final top-k. Output matches
    * lshTopK/ivfTopK: (query_id, neighbor_id, rank, sim). Recall < 1
    * only where quantization error reorders neighbors past the
    * over-fetch horizon — recall-tested vs brute force in
    * SimilaritySpec. */
  def sq8TopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      overFetch: Int = 4,
      roundSim: Int = 4): DataFrame = {
    val spark = df.sparkSession
    import spark.implicits._
    val base = Par.spread(df.select(col(idCol).cast("long").as("id"),
        normalized(col(vecCol)).as("u"))
      .where(col("u").isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val typed = base.as[(Long, Seq[Double])]
    val index: Array[(Long, Array[Byte], Double, Double, Long)] = typed
      .mapPartitions(_.map { case (id, u) =>
        val (q, mn, sc, s) = quantizeSq8(u.toArray)
        (id, q, mn, sc, s)
      })
      .collect().sortBy(_._1)
    val bc = spark.sparkContext.broadcast(index)
    val m = math.max(k * math.max(overFetch, 1), k)
    val cands = sq8CandidateScan(typed, bc, m)

    val scored = cands
      .join(base.select(col("id").as("key"), col("u").as("u_a")),
        Seq("key"))
      .join(base.select(col("id"), col("u").as("u_b")), Seq("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), roundSim))
      .select("key", "id", "sim")
    Dedup.materializeAndRelease(
      topKPerKey(scored, k)
        .select(col("key").as("query_id"), col("id").as("neighbor_id"),
          col("rank"), col("sim")),
      base)
  }

  // ---------------- Product quantization (PQ) ----------------

  /** Balanced subspace boundaries for product quantization: subspace s
    * covers dims [bounds(s), bounds(s+1)). FAISS requires d % m == 0;
    * balanced integer boundaries lift that (remainder dims spread over
    * the leading subspaces), so any (dim, m) pair works. */
  private[operators] def pqBounds(dim: Int, m: Int): Array[Int] =
    (0 to m).map(s => (s.toLong * dim / m).toInt).toArray

  /** Train the m per-subspace codebooks over a driver-side sample of
    * unit-normalized vectors: codebook s = Lloyd's k-means over the
    * sample's s-th sub-vectors (the same bounded-sample / driver-side
    * training posture as IVF — see [[trainCentroids]]; at 100 TB the
    * codebooks train on a ≤ trainCap sample, never the corpus). */
  private[operators] def trainPqCodebooks(
      sample: Array[Array[Double]],
      m: Int,
      ksub: Int,
      seed: Long): Array[Array[Array[Double]]] = {
    val dim = sample.head.length
    // m > dim would make pqBounds emit zero-width subspaces: k-means
    // over zero-length sub-vectors trains degenerate all-zero
    // codebooks (every ADC contribution 0) — fail loudly instead
    require(m >= 1 && m <= dim,
      s"PQ subspace count m must be in [1, dim=$dim], got $m")
    val bounds = pqBounds(dim, m)
    Array.tabulate(m) { s =>
      val sub = sample.map(v =>
        java.util.Arrays.copyOfRange(v, bounds(s), bounds(s + 1)))
      trainCentroids(sub, ksub, maxIter = 5, seed = seed + s)
    }
  }

  /** Encode one vector as m codebook indices: per subspace the
    * argmin-L2 entry, ties → lowest code (the comparison `d < bestD`
    * keeps the first minimum, matching trainCentroids' assignment).
    * One BYTE per subspace — at m=8 a 64-dim double vector (512 B)
    * compresses 64× to 8 B. */
  private[operators] def pqEncode(
      u: Array[Double],
      codebooks: Array[Array[Array[Double]]],
      bounds: Array[Int]): Array[Byte] = {
    val m = codebooks.length
    val codes = new Array[Byte](m)
    var s = 0
    while (s < m) {
      val cb = codebooks(s)
      val lo = bounds(s)
      val hi = bounds(s + 1)
      var best = 0
      var bestD = Double.MaxValue
      var c = 0
      while (c < cb.length) {
        val ctr = cb(c)
        var d = 0.0
        var j = lo
        while (j < hi) { val t = u(j) - ctr(j - lo); d += t * t; j += 1 }
        if (d < bestD) { bestD = d; best = c }
        c += 1
      }
      codes(s) = best.toByte
      s += 1
    }
    codes
  }

  /** The PQ candidate scan (ADC — asymmetric distance computation):
    * each query first builds its lookup table lut[s][c] = dot(query's
    * s-th sub-vector, codebook entry c) — ksub·dim flops ONCE per
    * query — then scores every corpus code word with just m table
    * lookups + adds (approx dot = Σ_s lut[s][code_s]; the query side
    * stays exact, only the corpus side is quantized, which is why ADC
    * beats symmetric code-vs-code distances at equal bytes). Keeps the
    * top `cap` per query by (approx sim desc, id asc). */
  private[operators] def pqCandidateScan(
      typed: org.apache.spark.sql.Dataset[(Long, Seq[Double])],
      bcCodes: org.apache.spark.broadcast.Broadcast[
        Array[(Long, Array[Byte])]],
      bcBooks: org.apache.spark.broadcast.Broadcast[
        Array[Array[Array[Double]]]],
      bounds: Array[Int],
      cap: Int): DataFrame = {
    val spark = typed.sparkSession
    import spark.implicits._
    typed.mapPartitions { it =>
      val cs = bcCodes.value
      val books = bcBooks.value
      val m = books.length
      it.flatMap { case (qid, uSeq) =>
        val u = uSeq.toArray
        // ADC lookup table: m × ksub partial dots of the exact query
        val lut = Array.tabulate(m) { s =>
          val cb = books(s)
          val lo = bounds(s)
          val hi = bounds(s + 1)
          Array.tabulate(cb.length) { c =>
            val ctr = cb(c)
            var d = 0.0
            var j = lo
            while (j < hi) { d += u(j) * ctr(j - lo); j += 1 }
            d
          }
        }
        // bounded selection by (approx sim desc, id asc)
        val topIds = new Array[Long](cap)
        val topSims = new Array[Double](cap)
        var filled = 0
        var ci = 0
        while (ci < cs.length) {
          val (cid, codes) = cs(ci)
          if (cid != qid) {
            var sim = 0.0
            var s = 0
            while (s < m) { sim += lut(s)(codes(s) & 0xff); s += 1 }
            val beatsWorst = filled < cap || sim > topSims(filled - 1) ||
              (sim == topSims(filled - 1) && cid < topIds(filled - 1))
            if (beatsWorst) {
              var pos = math.min(filled, cap - 1)
              while (pos > 0 && (sim > topSims(pos - 1) ||
                  (sim == topSims(pos - 1) && cid < topIds(pos - 1)))) {
                topSims(pos) = topSims(pos - 1)
                topIds(pos) = topIds(pos - 1)
                pos -= 1
              }
              topSims(pos) = sim
              topIds(pos) = cid
              if (filled < cap) filled += 1
            }
          }
          ci += 1
        }
        (0 until filled).map(r => (qid, topIds(r)))
      }
    }.toDF("key", "id")
  }

  /** Product-quantization approximate top-k — the memory floor of the
    * quantized-ANN family. SQ8 stores dim bytes per vector; PQ stores
    * m bytes (m ≪ dim): codebooks cut a 64-dim double vector to 8 B at
    * m=8 — 64× smaller than raw, 8× smaller than SQ8 — so the resident
    * index stays broadcastable another order of magnitude up the
    * corpus (1e8 rows × 8 B ≈ 800 MB). Beyond THAT, the cell-bucketed
    * distributed join of [[AnnIndex.ivfSq8TopKIndexed]] is the shape
    * that removes the broadcast entirely.
    *
    * Two phases, like sq8TopK: (1) ADC candidate scan (each query's
    * exact sub-vectors against the broadcast code words via per-query
    * lookup tables) keeping top k·overFetch; (2) exact re-rank —
    * candidates travel as IDS ONLY, true vectors re-attach by join,
    * exact rounded dots rank the final top-k. Output matches the other
    * ANN paths: (query_id, neighbor_id, rank, sim). Deterministic:
    * codebooks train on the trainCap lowest-hash ids with a fixed seed,
    * encode ties break to the lowest code. Recall < 1 where PQ
    * reconstruction error reorders neighbors past the over-fetch
    * horizon — recall-tested vs brute force in SimilaritySpec. */
  /** VISIBILITY (round 11, VERDICT r10 Next #5): `private[graft]` —
    * this per-call tier collects and broadcasts the m-byte code table
    * (driver-feasible to ~1e8 rows, a documented bounded convenience),
    * and was the one public PQ door where callers had to KNOW to
    * switch past that ceiling. The public PQ entry points are now
    * [[AnnIndex.pqTopKIndexed]] (full-probe cell join — bit-identical
    * results, no corpus collect at any scale) and
    * [[AnnIndex.ivfPqTopKIndexed]] (probe-restricted). Kept for the
    * in-repo gates/specs that assert bit-parity between the tiers. */
  private[graft] def pqTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      m: Int = 8,
      ksub: Int = 256,
      overFetch: Int = 4,
      seed: Long = 42L,
      trainCap: Int = 25000,
      roundSim: Int = 4): DataFrame = {
    require(ksub >= 1 && ksub <= 256,
      s"pqTopK: ksub must fit one byte per code (1..256), got $ksub")
    val spark = df.sparkSession
    import spark.implicits._
    val base = Par.spread(df.select(col(idCol).cast("long").as("id"),
        normalized(col(vecCol)).as("u"))
      .where(col("u").isNotNull))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val typed = base.as[(Long, Seq[Double])]
    // bounded deterministic train sample (lowest-hash ids), as in IVF
    val sample: Array[Array[Double]] = base
      .orderBy(xxhash64(col("id")).asc, col("id").asc)
      .limit(trainCap)
      .select(col("id"), col("u"))
      .collect()
      .sortBy(_.getLong(0))
      .map(_.getSeq[Double](1).toArray)
    if (sample.isEmpty) {
      base.unpersist(blocking = false)
      import org.apache.spark.sql.types._
      return spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        StructType(Seq(StructField("query_id", LongType),
          StructField("neighbor_id", LongType),
          StructField("rank", IntegerType),
          StructField("sim", DoubleType))))
    }
    val dim = sample.head.length
    val bounds = pqBounds(dim, m)
    val codebooks = trainPqCodebooks(sample, m, ksub, seed)
    val bcBooks = spark.sparkContext.broadcast(codebooks)
    // distributed encode (one narrow pass over the corpus), then the
    // m-bytes-per-row code table is collected + broadcast — the same
    // resident-index shape as sq8TopK, 8× smaller
    val codes: Array[(Long, Array[Byte])] = typed
      .mapPartitions { it =>
        val books = bcBooks.value
        it.map { case (id, u) => (id, pqEncode(u.toArray, books, bounds)) }
      }
      .collect().sortBy(_._1)
    val bcCodes = spark.sparkContext.broadcast(codes)
    val cap = math.max(k * math.max(overFetch, 1), k)
    val cands = pqCandidateScan(typed, bcCodes, bcBooks, bounds, cap)

    val scored = cands
      .join(base.select(col("id").as("key"), col("u").as("u_a")),
        Seq("key"))
      .join(base.select(col("id"), col("u").as("u_b")), Seq("id"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), roundSim))
      .select("key", "id", "sim")
    Dedup.materializeAndRelease(
      topKPerKey(scored, k)
        .select(col("key").as("query_id"), col("id").as("neighbor_id"),
          col("rank"), col("sim")),
      base)
  }

  /** LSH-bucketed approximate top-k: L independent random-hyperplane
    * tables of `bits` bits; candidate pairs share a bucket in ≥1 table;
    * exact cosine re-rank of candidates. Recall < 1 by construction —
    * verified against bruteForceTopK in tests. */
  def lshTopK(
      df: DataFrame,
      idCol: String,
      vecCol: String,
      k: Int,
      bits: Int = 8,
      tables: Int = 4,
      dim: Int = 64): DataFrame = {
    // cached: the normalized corpus feeds the signature pass AND both
    // vector re-attaches (3 scan+normalize passes otherwise); released
    // before return via materializeAndRelease
    val base = Par.spread(df.select(col(idCol).cast("long").as("id"),
        normalized(col(vecCol)).as("u")))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    // candidates carry IDS ONLY through the bucket join + dedup; vectors
    // re-attach afterwards (fat arrays never ride the candidate shuffle)
    val sigArr = base.select(col("id"),
        array((0 until tables).map(t =>
          rhpSignature(col("u"), bits, dim, seed = 1000L + t)): _*).as("sig"))
      .persist(org.apache.spark.storage.StorageLevel.MEMORY_AND_DISK)
    val sigs = sigArr.select(col("id"), posexplode(col("sig")))
      .withColumnRenamed("pos", "table")
      .withColumnRenamed("col", "bucket")
    // Ordered pairs only (lo < hi): halves the dedup shuffle, the
    // vector re-attach joins, and the dot products. Similarity is
    // symmetric, so the per-query candidate set is recovered by
    // mirroring the SCORED pairs afterwards — each query still ranks
    // every cohabiting neighbor.
    // Cross-table dedup is FIRST-COLLISION-TABLE (as in
    // Dedup.embeddingNearDupPairs): keep a pair only in the first table
    // where its signatures agree — a row-local filter over broadcast
    // per-id signature arrays, replacing the global dropDuplicates
    // whose hash-aggregate spilled ~20 GB at the sf1.0 smoke.
    val cands = sigs.select(col("table"), col("bucket"), col("id").as("lo"))
      .join(sigs.select(col("table"), col("bucket"), col("id").as("hi")),
        Seq("table", "bucket"))
      .where(col("lo") < col("hi"))
      .join(sigArr.select(col("id").as("lo"), col("sig").as("sig_a")),
        Seq("lo"))
      .join(sigArr.select(col("id").as("hi"), col("sig").as("sig_b")),
        Seq("hi"))
      .where(array_position(
        zip_with(col("sig_a"), col("sig_b"), (x, y) => x <=> y),
        true) === col("table") + 1)
      .select("lo", "hi")
    // score each ordered pair once, then mirror it with a single explode
    // — one narrow operator instead of the previous checkpoint + union
    // (two consumers of a shared subplan forced an eager checkpoint so
    // the joins/dots wouldn't run twice; explode has one consumer, so
    // nothing re-executes and the plan drops a materialization barrier
    // and a whole union arm)
    val scored = cands
      .join(base.select(col("id").as("lo"), col("u").as("u_a")), Seq("lo"))
      .join(base.select(col("id").as("hi"), col("u").as("u_b")), Seq("hi"))
      .withColumn("sim", round(dot(col("u_a"), col("u_b")), 4))
      .select(explode(array(
        struct(col("lo").as("key"), col("hi").as("id"), col("sim")),
        struct(col("hi").as("key"), col("lo").as("id"), col("sim"))))
        .as("p"))
      .select(col("p.key").as("key"), col("p.id").as("id"),
        col("p.sim").as("sim"))
    Dedup.materializeAndRelease(
      topKPerKey(scored, k)
        .select(col("key").as("query_id"), col("id").as("neighbor_id"),
          col("rank"), col("sim")),
      sigArr, base)
  }
}
