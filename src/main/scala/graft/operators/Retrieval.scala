package graft.operators

import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** Hybrid retrieval fusion — combining a lexical ranking (BM25,
  * [[TfIdf.bm25TopK]]) with a vector ranking (ANN,
  * [[FactAnnIndex.topKFor]] / [[Similarity]]) into one
  * result list per query: the shape production retrieval pipelines
  * actually run (sparse+dense hybrid search).
  *
  * Method: reciprocal-rank fusion (RRF, Cormack et al., SIGIR'09) —
  * score(d) = Σ_lists 1/(k0 + rank_list(d)) — fused on RANKS, not raw
  * scores, so the two lists' incomparable score scales (BM25 sums vs
  * cosine) never need calibration; k0 = 60 is the paper's constant.
  *
  * Scale shape: one `unionByName` (no shuffle) + one keyed aggregation
  * + one per-query window over ≤ (lists × per-list k) rows per query —
  * input size is ranked-list-scale (queries × k), never corpus-scale;
  * the heavy lifting already happened in the input retrievals.
  *
  * Exactness: restricted to TWO lists so the fused score is a single
  * IEEE addition — commutative, so aggregation order cannot move the
  * result and an external oracle computes bit-identical doubles. (An
  * N-list generalization needs a deterministic fold order — sort by
  * list tag inside each group — before widening this signature.)
  */
object Retrieval {

  /** Fuse two ranked lists by RRF. Inputs carry (queryCol, itemCol,
    * rankCol) with unique (query, item) pairs per list; ranks are
    * 1-based. Output: (query_id, doc_id, rrf, rank) — top `k` per
    * query by (rrf desc, doc_id asc), `rrf` rounded AFTER ranking. */
  def fuseTopK(
      lexical: DataFrame,
      vector: DataFrame,
      queryCol: String,
      itemCol: String,
      k: Int,
      rankCol: String = "rank",
      k0: Int = 60,
      roundTo: Int = 6): DataFrame = {
    require(k >= 1, s"fuseTopK: k must be >= 1, got $k")
    require(k0 >= 0, s"fuseTopK: k0 must be >= 0, got $k0")
    def contrib(df: DataFrame): DataFrame = df.select(
      col(queryCol).cast("long").as("query_id"),
      col(itemCol).cast("long").as("doc_id"),
      (lit(1.0) / (lit(k0).cast("double") + col(rankCol).cast("double")))
        .as("c"))
    val scored = contrib(lexical).unionByName(contrib(vector))
      .groupBy(col("query_id"), col("doc_id"))
      .agg(sum(col("c")).as("rrf"), count(lit(1)).as("n_lists"))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("rrf").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select(col("query_id"), col("doc_id"),
        round(col("rrf"), roundTo).as("rrf"), col("rank"),
        col("n_lists"))
  }
}
