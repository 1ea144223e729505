package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

import graft.functions.VectorFunctions._

/** The stateless ANN query plans over an index-row frame — the
  * IVF/SQ8/PQ structures of [[Similarity]] read from persisted rows
  * instead of recomputed per call. [[FactAnnIndex]] owns the one
  * persisted index (its rows, centroids and codebooks, kept current
  * across [[FactVersioned]] commits) and runs these plans over the
  * manifest-restricted rows of one generation.
  *
  * Index rows carry (id, cell, u, q, q_min, q_scale, q_sum, pq): the
  * unit-normalized vector, its IVF cell, its SQ8 codes, and its m-byte
  * PQ codes. Storing `u` is what lets the query phase skip the base
  * table entirely (the posture of FAISS-style on-disk indexes, which
  * keep full vectors for exact re-rank).
  *
  * Exactness contract: write-time cell assignment and query-time
  * probing share [[Similarity.cellPlans]], and quantization shares
  * [[Similarity.quantizeSq8]] / [[Similarity.pqEncode]], so over a
  * generation's rows the plans return BIT-IDENTICAL results to their
  * per-call counterparts (spec-asserted): [[ivfCore]] ≡
  * `Similarity.ivfTopK` with the index's (nLists, seed); [[ivfSq8Core]]
  * with every cell probed ≡ `Similarity.sq8TopK`; [[ivfPqCore]] with
  * every cell probed ≡ `Similarity.pqTopK` — the index changes WHEN
  * work happens, never WHAT is computed.
  */
object AnnIndex {

  /** IVF top-k over any (id, cell, u) index-row frame: probes rank the
    * persisted centroids (same [[Similarity.cellPlans]] scoring),
    * candidates come from the persisted cell assignment, exact re-rank
    * uses the persisted unit vectors. No training, no corpus
    * re-assignment, no base-table scan in the query path. */
  private[operators] def ivfCore(
      rows: DataFrame,
      centroids: Array[Array[Double]],
      k: Int,
      nProbe: Int,
      literalCellThreshold: Int): DataFrame = {
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

  /** (id, u) unit-normalized view of an external query frame. */
  private[operators] def normalizedQueries(
      queries: DataFrame, qIdCol: String, qVecCol: String): DataFrame =
    queries.select(col(qIdCol).cast("long").as("id"),
        Similarity.normalized(col(qVecCol)).as("u"))
      .where(col("u").isNotNull)

  /** One-column (id) view of an allowed-neighbor frame. */
  private[operators] def normalizedAllowed(
      allowed: DataFrame, idCol: String): DataFrame =
    allowed.select(col(idCol).cast("long").as("id")).distinct()

  /** IVF+SQ8 combined top-k over any (id, cell, u, q, q_min, q_scale,
    * q_sum) index-row frame, with NO corpus-sized driver collect
    * anywhere. Each query probes its `nProbe` nearest cells (shared
    * [[Similarity.cellPlans]] scoring), quantizes ITSELF in-flight
    * (same [[Similarity.quantizeSq8]] the index rows used, so query
    * codes ≡ persisted codes), then candidates come from a DISTRIBUTED
    * join against the persisted SQ8 codes on `cell` — broadcast at KB
    * scale, shuffle at TB scale (Catalyst/AQE's call), never
    * `collect()`+`broadcast()`. Approximate sims are the integer-MAC
    * reconstruction of [[Similarity.sq8CandidateScan]] (identical
    * formula and double-op order), top-`k·overFetch` candidates per
    * query by (approx sim desc, id asc), exact re-rank on persisted
    * unit vectors. With `nProbe` ≥ the cell count the pair universe
    * equals the full scan; with fewer, recall trades like IVF.
    *
    * `queries` (an (id, u) frame) switches the probe/re-rank side to
    * an external batch; None = the corpus queries itself. A corpus row
    * sharing a query's id is excluded (the "don't return yourself"
    * contract when queries are drawn from the corpus); genuinely-new
    * items should carry ids outside the corpus key space. `allowed` (a
    * one-column id frame) restricts neighbors by semi-join BEFORE the
    * per-query candidate cut — the hybrid-search shape — so every
    * returned neighbor is allowed and each query still gets up to `k`
    * of them; allowed rows hide in un-probed cells exactly as
    * un-filtered neighbors do, so raise `nProbe` (or `overFetch`) for
    * selective predicates. With all cells probed and overFetch ≥ the
    * allowed count, results are EXACTLY the brute-force cosine top-k
    * over the allowed subset (spec-asserted). */
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

  /** The IVF+PQ query plan over any (id, cell, u, pq) index-row frame —
    * [[ivfSq8Core]] with ADC scoring over the persisted m-byte PQ codes
    * (the FAISS IVFPQ shape, the memory floor of the family): the query
    * side rides EXACT through the cell join, scored by the full-codegen
    * [[graft.functions.expressions.PqAdcDot]] expression fused in the
    * join's projection. Per-pair compute matches SQ8's, but the corpus
    * side of the candidate join carries m bytes per row instead of dim
    * bytes — 8× less shuffle at PQ's recall. With every cell probed
    * the ADC scores are bit-identical to `Similarity.pqCandidateScan`'s
    * LUT scoring. Same `queries` composition (an external batch). */
  private[operators] def ivfPqCore(
      rows: DataFrame,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      k: Int,
      nProbe: Int,
      overFetch: Int,
      roundSim: Int,
      literalCellThreshold: Int,
      queries: Option[DataFrame] = None): DataFrame = {
    val bounds = Similarity.pqBounds(
      codebooks.map(_.head.length).sum, codebooks.length)
    val qSide = queries.getOrElse(rows)
    val (_, probes) = Similarity.cellPlans(
      Par.spread(qSide.select(col("id"), col("u"))), centroids, nProbe,
      literalCellThreshold)
    val cCoded = rows.select(col("cell"), col("id"), col("pq"))
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
