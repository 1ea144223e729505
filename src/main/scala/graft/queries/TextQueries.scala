package graft.queries

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions._
import graft.operators.Dedup

/** Text-analysis + deduplication surface over the `documents` table —
  * the training-data-pipeline operators (langid, quality scoring, token
  * counting, fingerprinting, exact/fuzzy dedup). Every query is driver-
  * gated: most via full DuckDB mirrors; the xxhash64-seeded signature
  * queries (minhash/simhash) via derived-invariant oracles that re-read
  * the engine's dump and recompute every verifiable column (exact
  * Jaccards, thresholds, ordering, completeness floors). Golden-value
  * unit tests in DedupSpec/TextFunctionsSpec cover the hash internals.
  */
object TextQueries extends QueryPack {

  /** q90's decomposed test prefix: e + COMBINING ACUTE (U+0301), the
    * U+FB01 ligature, U+212B ANGSTROM SIGN — NFC must compose the
    * first, keep the second, map the third to U+00C5. Shared between
    * the Spark literal and the DuckDB oracle so both see identical
    * bytes. */
  private val NfcPrefix = "Cafe\u0301 \uFB01lter \u212B "

  /** Full BM25 mirror shared by q127 (per-call) and q134 (sidecar):
    * identical tokenization, formula associativity
    * (idf * ((tf*2.2) / denom)), per-term score scaled by 1e10 and
    * rounded to BIGINT (the engine's exact-long-fold representation)
    * \u2192 exact integer sum \u2192 /1e10 \u2192 6-dp final round. The mirror uses
    * the classic postings-join formulation \u2014 DuckDB picks its own
    * plan; the engine sums the same scaled longs. */
  private val bm25Mirror: String = bm25MirrorSql(3)

  /** @param queryPred membership predicate over `tk.doc_id` choosing
    *   the query set (the pinned gates use every-10th-doc; the
    *   production twin derives the set from the engine's own dump via
    *   a `leadCte`-provided `out`).
    * @param leadCte extra leading CTE text (must end with a comma).
    * @param guardExpr boolean SQL (may reference `out`) that EMPTIES
    *   the oracle when false — batch-size checks for fixed-size
    *   external query batches. */
  private[queries] def bm25MirrorSql(
      k: Int,
      queryPred: String = "doc_id % 10 = 0",
      leadCte: String = "",
      guardExpr: String = ""): String = {
    val guardCte = if (guardExpr.isEmpty) ""
      else s""", guard AS (SELECT 1 AS ok WHERE $guardExpr)
              |""".stripMargin
    val guardJoin = if (guardExpr.isEmpty) "" else " CROSS JOIN guard"
    s"""WITH $leadCte tk AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'),
      |      x -> len(x) > 0) AS t
      |  FROM documents
      |), terms AS (
      |  SELECT doc_id, unnest(t) AS term FROM tk
      |), tf AS (
      |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2
      |), lens AS (
      |  SELECT doc_id, SUM(tf) AS len FROM tf GROUP BY 1
      |), stats AS (
      |  SELECT (SELECT CAST(COUNT(*) AS DOUBLE) FROM documents) AS n,
      |    (SELECT CAST(SUM(len) AS DOUBLE) FROM lens)
      |      / (SELECT COUNT(*) FROM documents) AS avgdl
      |), dfreq AS (
      |  SELECT term, COUNT(*) AS df FROM tf GROUP BY 1
      |), qt AS (
      |  SELECT doc_id AS query_id, unnest(list_distinct(t)) AS term
      |  FROM tk WHERE $queryPred
      |), ts AS (
      |  SELECT qt.query_id, tf.doc_id,
      |    CAST(round(
      |      ln(1.0 + (stats.n - dfreq.df + 0.5) / (dfreq.df + 0.5))
      |        * ((tf.tf * 2.2)
      |           / (tf.tf + 1.2 * (1.0 - 0.75
      |                              + 0.75 * lens.len / stats.avgdl)))
      |      * 1e10) AS BIGINT) AS s
      |  FROM qt
      |  JOIN tf USING (term)
      |  JOIN dfreq USING (term)
      |  JOIN lens ON lens.doc_id = tf.doc_id
      |  CROSS JOIN stats
      |), agg AS (
      |  SELECT query_id, doc_id,
      |    round(CAST(SUM(s) AS DOUBLE) / 1e10, 6) AS score
      |  FROM ts GROUP BY 1, 2
      |)$guardCte
      |SELECT query_id, doc_id, score, rank FROM (
      |  SELECT query_id, doc_id, score,
      |    row_number() OVER (PARTITION BY query_id
      |      ORDER BY score DESC, doc_id ASC) AS rank
      |  FROM agg)$guardJoin WHERE rank <= $k""".stripMargin
  }

  override val queries: Map[String, (SparkSession, String) => DataFrame] = Map(
    // T5 explode + word count over the corpus.
    "q30_explode_wordcount" -> ((s, dir) => {
      t(s, dir, "documents")
        .select(explode(tokens(col("text"))).as("token"))
        .groupBy(col("token"))
        .agg(count(lit(1)).as("n"))
    }),

    // Per-doc token statistics (whitespace tokenizer).
    "q31_token_stats" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        tokenCount(col("text")).as("n_tokens"),
        length(col("text")).as("n_chars_actual"),
        round(meanTokenLen(col("text")), 4).as("mean_token_len"))
    }),

    // Quality ratios + composite score.
    "q32_quality" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"),
        round(punctRatio(col("text")), 6).as("punct_ratio"),
        round(digitRatio(col("text")), 6).as("digit_ratio"),
        round(upperRatio(col("text")), 6).as("upper_ratio"),
        round(stopwordRatio(col("text")), 6).as("stopword_ratio"),
        qualityScore(col("text")).as("quality"))
    }),

    // Language ID: stopword-lexicon arg-max heuristic.
    "q33_langid" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      d.select(col("doc_id"), col("lang").as("lang_declared"),
        langId(col("text")).as("lang_pred"))
    }),

    // Exact dedup groups: keeper id + copy count per distinct text.
    "q34_dedup_exact" -> ((s, dir) =>
      Dedup.exactGroups(t(s, dir, "documents"), "text", "doc_id")
        .select("keeper_id", "n_copies")),

    // Unigram-set Jaccard between consecutive doc pairs (n-gram Jaccard
    // verification primitive with a SQL-expressible pairing).
    "q35_jaccard_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val pairs = d.select(col("doc_id").as("id_a"))
        .withColumn("id_b", col("id_a") + 1)
        .join(d.select(col("doc_id").as("id_b")), Seq("id_b"), "left_semi")
      Dedup.ngramJaccardPairs(pairs, d, "doc_id", "text", n = 1)
        .select(col("id_a"), col("id_b"),
          round(col("jaccard"), 4).as("jaccard"))
    }),

    // Rolling-hash fingerprint (full DuckDB mirror: the hash is plain
    // modular arithmetic, foldable with list_reduce).
    // Routed through the SQL SURFACE on purpose: graft_fingerprint
    // resolves via GraftFunctions' registered builder to the same
    // native Fingerprint64 expression the Column API builds, so this
    // gate covers the SQL resolution path end-to-end — a registry or
    // builder bug would hash-mismatch here, not hide behind an
    // untested registration (it builds the identical expression tree,
    // so the physical plan is unchanged).
    "q36_fingerprint" -> ((s, dir) => {
      graft.GraftFunctions.register(s)
      t(s, dir, "documents").createOrReplaceTempView("g36_documents")
      s.sql(
        "SELECT doc_id, graft_fingerprint(text) AS fp FROM g36_documents")
    }),

    // BPE-ish token counting (alternation regex — RE2-compatible, so
    // DuckDB can mirror it exactly).
    "q37_bpeish_tokens" -> ((s, dir) =>
      t(s, dir, "documents")
        .select(col("doc_id"),
          bpeishTokenCount(col("text")).as("n_bpeish"))),

    // MinHash+LSH near-dup pairs (derived-invariant oracle: exact
    // Jaccard re-check + completeness; recall covered in DedupSpec).
    "q38_minhash_pairs" -> ((s, dir) =>
      Dedup.minHashPairs(t(s, dir, "documents"), "doc_id", "text",
          shingle = 3, numHashes = 32, rowsPerBand = 4, threshold = 0.5)
        .select(col("id_a"), col("id_b"), round(col("jaccard"), 4).as("jaccard"))),

    // SimHash near-dup pairs, each verified with the exact unigram-set
    // Jaccard of the pair — the hamming column is engine-specific
    // (xxhash64 simhash), but the jaccard column lets the DuckDB oracle
    // recompute and hash-check the verification values.
    "q39_simhash_pairs" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      // materialize once: `pairs` feeds both the join's left side and
      // the Jaccard-verify candidate list — without the checkpoint the
      // banded self-join subplan executes twice (projections differ, so
      // no exchange reuse)
      val pairs = Dedup.simHashPairs(d, "doc_id", "text", maxHamming = 8)
        .localCheckpoint()
      pairs
        .join(Dedup.ngramJaccardPairs(pairs.select("id_a", "id_b"), d,
          "doc_id", "text", n = 1), Seq("id_a", "id_b"))
        .select(col("id_a"), col("id_b"), col("hamming"),
          round(col("jaccard"), 4).as("jaccard"))
    }),

    // Full MinHash dedup: pairs → connected-component clusters → keep
    // one doc per cluster (derived-invariant oracle: keeper uniqueness +
    // every drop justified by a true near-dup partner).
    "q46_minhash_dedup" -> ((s, dir) =>
      Dedup.dedupByMinHash(t(s, dir, "documents"), "doc_id", "text",
          threshold = 0.5)
        .select("doc_id", "source", "n_chars")),

    // TF-IDF top-3 keywords per document (ln-based idf; score rounded
    // so libm ulp differences can't flip the oracle compare).
    "q52_tfidf_top_terms" -> ((s, dir) =>
      graft.operators.TfIdf.topTerms(t(s, dir, "documents"), "doc_id",
        "text", k = 3)),

    // Okapi BM25 retrieval: every 10th document's text as a query
    // against the corpus, top-3 per query — document-at-a-time
    // scoring (per-doc term maps against a broadcast query batch, no
    // term-keyed shuffle to skew on zipfian df). Per-term scores ride
    // as scaled longs so the summed score is summation-order-free;
    // the oracle replays the formula with the same operator
    // associativity and rounding.
    "q127_bm25_topk" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      graft.operators.TfIdf.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 3)
    }),

    // BM25 from the persisted text-retrieval sidecar — the lifecycle
    // q127 lacks: writeTextIndex pays tokenize + tf/df aggregation
    // ONCE into _graft_text__/, then the query answers reading ONLY
    // the sidecar (doc term-maps from rows/, df re-aggregated from
    // per-partition partials, N/avgdl from counts/ — no corpus scan,
    // no tokenization in the query path; asserted in-gate). Shares
    // bm25Core with the per-call path, so it is hash-identical to q127
    // (spec-asserted bit-parity) and carries the same full formula
    // mirror — the AnnIndex amortization posture for text.
    "q134_bm25_indexed" -> ((s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q134_").toString + "/documents"
      val docs = t(s, dir, "documents")
      docs.write.parquet(path)
      graft.operators.TfIdf.writeTextIndex(s, path, "doc_id", "text")
      val queries = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val out = graft.operators.TfIdf.bm25TopKIndexed(s, path, "text",
        queries, "qid", "qtext", k = 3)
      val scans = out.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten.filter(_.contains(path))
      require(scans.nonEmpty &&
        scans.forall(_.contains(graft.operators.TfIdf.DirPrefix)),
        s"q134: corpus side must be answered from the text sidecar, " +
          s"got $scans")
      out
    }),

    // The SQL door for indexed BM25 (VERDICT r12 Next #4): the q134
    // lookup as a TABLE-VALUED function over the persisted text
    // sidecar — `graft_bm25_topk(table, text_col, query_view, qid,
    // qtext, k)`. In-gate: corpus side answered from the sidecar
    // alone (same scan assert as q134) and hash-equal to the
    // bm25TopKIndexed operator twin; the full-formula DuckDB mirror
    // re-verifies every score.
    "q159_sql_bm25_topk" -> ((s, dir) => {
      val path = java.nio.file.Files
        .createTempDirectory("graft_q159_").toString + "/documents"
      val docs = t(s, dir, "documents")
      docs.write.parquet(path)
      graft.operators.TfIdf.writeTextIndex(s, path, "doc_id", "text")
      docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
        .createOrReplaceTempView("q159_queries")
      graft.GraftFunctions.register(s)
      val out = s.sql(
        s"""SELECT * FROM graft_bm25_topk('$path', 'text',
           |  'q159_queries', 'qid', 'qtext', 3)""".stripMargin)
      val scans = out.queryExecution.sparkPlan.collect {
        case f: org.apache.spark.sql.execution.FileSourceScanExec =>
          f.relation.location.rootPaths.map(_.toString)
      }.flatten.filter(_.contains(path))
      require(scans.nonEmpty &&
        scans.forall(_.contains(graft.operators.TfIdf.DirPrefix)),
        s"q159: corpus side must be answered from the text sidecar, " +
          s"got $scans")
      // execute once, overlapped with the twin (guide §2.6) — was 3
      // full executions (compare ×2 + the bench count)
      val outF = graft.operators.CallSites.overlapped(s)(out.collect())
      val twin = graft.operators.TfIdf.bm25TopKIndexed(s, path, "text",
        s.table("q159_queries"), "qid", "qtext", k = 3)
      val twinRows = twin.collect()
      val outRows = scala.concurrent.Await.result(outF,
        graft.operators.Overlap.AwaitTimeout)
      require(outRows.toSet == twinRows.toSet,
        "q159: SQL graft_bm25_topk must be hash-equal to the " +
          "bm25TopKIndexed operator twin")
      s.createDataFrame(java.util.Arrays.asList(outRows: _*), out.schema)
    }),

    // Hybrid lexical+vector retrieval fusion — the production
    // retrieval shape: BM25 (top-10) and exact cosine top-10 over the
    // SAME query set (every 10th doc; embeddings.vec_id aligns with
    // documents.doc_id) fused by reciprocal rank (RRF, k0=60). Fusing
    // on RANKS sidesteps the incomparable score scales; both input
    // lists are independently gated formulations (q127's BM25, q40's
    // exact cosine), so the oracle is a FULL DuckDB mirror: both lists
    // + the RRF sum replayed exactly (one IEEE addition per fused
    // pair — commutative, bit-equal across engines). At scale the
    // vector list would come from the ANN index (q120's external
    // batch); the exact list here keeps the mirror total.
    "q135_hybrid_rrf" -> ((s, dir) => {
      val docs = t(s, dir, "documents")
      val queries = docs.where(col("doc_id") % 10 === 0)
        .select(col("doc_id").as("qid"), col("text").as("qtext"))
      val lex = graft.operators.TfIdf.bm25TopK(docs, "doc_id", "text",
        queries, "qid", "qtext", k = 10)
      // queryIdPred prunes the blocked scan to the kept 1-in-10 query
      // set up front (row-identical; the residual where() is a no-op
      // guard) — computing all-queries top-10 and discarding 90% cost
      // 10× the kept work (OPTIMIZATION_r17.md, guide §2.3)
      val vec = graft.operators.Similarity.bruteForceTopKBlocked(
          t(s, dir, "embeddings"), "vec_id", "embedding", k = 10,
          queryIdPred = Some(id => id % 10 == 0))
        .where(col("query_id") % 10 === 0)
        .select(col("query_id"), col("neighbor_id").as("doc_id"),
          col("rank"))
      graft.operators.Retrieval.fuseTopK(lex, vec,
        "query_id", "doc_id", k = 5)
    }),

    // Cross-source corpus overlap via the MinHashUnionAgg typed
    // Aggregator: one union-signature per source, pairwise Jaccard
    // estimate WITHOUT joining documents (derived-invariant oracle:
    // estimate within 4σ of the true source Jaccard; accuracy also
    // asserted in MinHashUnionAggSpec).
    "q54_source_overlap" -> ((s, dir) => {
      import s.implicits._
      val k = 64
      val agg = new graft.functions.MinHashUnionAgg(k)
      val sigs = t(s, dir, "documents")
        .select(col("source"),
          Dedup.minHashSignature(col("text"), 3, k).as("sig"))
        .as[(String, Seq[Long])]
        .groupByKey(_._1)
        .mapValues(_._2)
        .agg(agg.toColumn.name("usig"))
        .toDF("source", "usig")
      val a = sigs.select(col("source").as("src_a"), col("usig").as("ua"))
      val b = sigs.select(col("source").as("src_b"), col("usig").as("ub"))
      a.join(b, col("src_a") < col("src_b"))
        .withColumn("est_jaccard", round(
          aggregate(zip_with(col("ua"), col("ub"),
            (x, y) => when(x === y, 1).otherwise(0)),
            lit(0), (acc, v) => acc + v).cast("double") / k, 4))
        .select("src_a", "src_b", "est_jaccard")
    }),

    // Deterministic hash-based train/val/test split counts (derived-
    // invariant oracle: per-lang conservation + binomial size bounds;
    // determinism + partitioning invariance asserted in SamplingSpec).
    "q50_train_split" -> ((s, dir) =>
      graft.operators.Sampling.assignSplits(t(s, dir, "documents"),
          "doc_id", Seq("train" -> 0.8, "val" -> 0.1, "test" -> 0.1))
        .groupBy(col("split"), col("lang"))
        .agg(count(lit(1)).as("n_docs"))),

    // Incremental exact dedup: the second half of the corpus arrives
    // as a batch and dedups against the already-ingested first half —
    // refresh cost ∝ batch; corpus bodies never ride the shuffle.
    "q88_incremental_dedup" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val corpus = d.where(col("doc_id") % 2 === 0) // already ingested
      val batch = d.where(col("doc_id") % 2 === 1)  // arriving increment
      Dedup.incrementalExact(batch, corpus, "text", "doc_id")
        .select(col("doc_id"), col("n_chars"))
    }),

    // Unicode NFC normalization — the normalize-before-hash dedup step,
    // value-gated against DuckDB's nfc_normalize. Each doc's text gets
    // a deterministic DECOMPOSED prefix ("e"+U+0301, the U+FB01
    // ligature, U+212B Angstrom sign): NFC must compose é, preserve
    // the ligature (NFC, not NFKC) and map U+212B → U+00C5, and the
    // changed flag proves normalization actually fired per row.
    "q90_nfc_normalize" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val decorated = concat(lit(NfcPrefix),
        substring(col("text"), 1, 40))
      d.select(col("doc_id"),
        nfcNormalize(decorated).as("norm_text"),
        (decorated =!= nfcNormalize(decorated)).cast("int").as("changed"))
    }),

    // Count-min-sketch heavy hitters: exact top-20 tokens priced by the
    // 64 KB sketch; derived-invariant oracle re-derives the exact
    // counts + ranking and enforces the CMS one-sided error bound
    // (est ≥ exact always; ≤ exact + 8N/width here — generous vs the
    // e/width·N theoretical bound so the gate is deterministic).
    "q89_cms_heavy_hitters" -> ((s, dir) => {
      val d = t(s, dir, "documents")
      val toks = d.select(explode(tokens(col("text"))).as("token"))
      val exact = toks.groupBy("token").agg(count(lit(1)).as("exact_n"))
      val w = org.apache.spark.sql.expressions.Window
        .orderBy(col("exact_n").desc, col("token").asc)
      val top = exact
        .orderBy(col("exact_n").desc, col("token").asc).limit(20)
        .withColumn("rnk", row_number().over(w))
      val sk = graft.operators.Sketches.buildSketch(toks, "token")
      val est = graft.operators.Sketches
        .estimateCounts(s, top.select("token"), "token", sk)
      top.join(est, "token")
        .select(col("rnk"), col("token"), col("exact_n"), col("est_n"))
    }),

    // SQL-REGISTRY parity gate. Coverage across gates: q36 gates
    // graft_fingerprint and q42 graft_norm through the SQL surface;
    // THIS query gates the other eleven registered builders —
    // quality/langid/token_count/shingles/nfc/sanitize/tokens value-
    // mirrored in DuckDB, cosine/dot on constant vectors against the
    // identical SQL arithmetic, simhash/minhash (not expressible in
    // DuckDB) as registry ≡ Column-API equality booleans (the API
    // path's VALUES are gated by q38/q39). A resolution bug in any
    // registered builder flips a column here and hash-mismatches. The
    // registry builds the IDENTICAL expression trees, so the physical
    // plan matches the Column-API plan (plan_fp-visible).
    "q87_sql_registry" -> ((s, dir) => {
      graft.GraftFunctions.register(s)
      t(s, dir, "documents")
        .withColumn("api_simhash", simHash(col("text")))
        .withColumn("api_minhash",
          Dedup.minHashSignature(col("text"), shingle = 3, numHashes = 32))
        .createOrReplaceTempView("g87_documents")
      s.sql(s"""SELECT doc_id,
        |  graft_quality(text) AS quality,
        |  graft_langid(text) AS lang_pred,
        |  graft_token_count(text) AS n_tokens,
        |  CAST(size(graft_shingles(text, 3)) AS BIGINT) AS n_shingles,
        |  CAST(graft_simhash(text) = api_simhash AS INT) AS simhash_registry_ok,
        |  CAST(graft_minhash(text) = api_minhash AS INT) AS minhash_registry_ok,
        |  graft_nfc('$NfcPrefix' || substring(text, 1, 20)) AS nfc_text,
        |  graft_sanitize(source || '/' || CAST(doc_id AS STRING)) AS safe_name,
        |  CAST(size(graft_tokens(text)) AS BIGINT) AS n_tok2,
        |  round(graft_cosine(array(1.0D, 2.0D, 2.0D), array(2.0D, 1.0D, 2.0D)), 10) AS cos_const,
        |  round(graft_dot(array(1.0D, 2.0D, 2.0D), array(2.0D, 1.0D, 2.0D)), 10) AS dot_const
        |FROM g87_documents""".stripMargin)
    }),

    // Corpus-trained bigram LM scoring (the perplexity-filter step of
    // an LLM data pipeline): add-k smoothed conditional, per-doc mean
    // -log2 P over its bigrams. Derived-invariant oracle recomputes
    // the model and scores in DuckDB and admits a row only when
    // n_bigrams matches exactly and the score agrees within 1e-6
    // (double summation order differs across engines at the ulp
    // level; a broken count/smoothing/vocab would blow the tolerance).
    "q99_bigram_lm_score" -> ((s, dir) => {
      graft.operators.LanguageModel.bigramNll(
        t(s, dir, "documents"), "doc_id", "text")
        .select(col("doc_id"), col("n_bigrams"),
          col("avg_nll"))
    }),

    // End-to-end training-data pipeline: quality filter → language
    // filter → exact dedup (keep smallest id per text) → 64/48 token
    // chunking — the composition a real corpus run executes, value-
    // gated as ONE query so a semantics drift in any stage (or in how
    // stages compose) breaks the hash even though each stage's own
    // gate still passes. Every stage is the already-gated operator:
    // q32's quality, q33's langid, q34's dedup rule, q81's window
    // math; the DuckDB mirror composes those oracles' expressions
    // verbatim. The filter threshold compares ROUNDED quality (6 dp,
    // like q32's gated output) so the cross-engine ulp band cannot
    // flip a boundary doc.
    "q100_pipeline_e2e" -> ((s, dir) => {
      val filtered = t(s, dir, "documents")
        .where(round(qualityScore(col("text")), 6) >= 0.5 &&
          langId(col("text")) === "en")
      val deduped = Dedup.exact(filtered, Seq("text"), col("doc_id"))
      graft.operators.Chunking.chunkTokens(
        deduped, "doc_id", "text", chunkSize = 64, overlap = 16)
    }),

    // q100 extended through the LAST prep stage: the composed pipeline's
    // chunks are greedily packed into 256-token training sequences
    // (capacity = 4 chunks), so the entire quality → langid → dedup →
    // chunk → pack chain is value-gated as ONE query — the DuckDB
    // mirror threads q100's composed CTEs into q82's recursive greedy
    // fold. Chunk ids = doc_id·1000 + chunk_idx (chunk counts are
    // < 1000 by construction at any doc length the tokenizer yields).
    "q118_training_pack" -> ((s, dir) => {
      val filtered = t(s, dir, "documents")
        .where(round(qualityScore(col("text")), 6) >= 0.5 &&
          langId(col("text")) === "en")
      val deduped = Dedup.exact(filtered, Seq("text"), col("doc_id"))
      val chunks = graft.operators.Chunking.chunkTokens(
          deduped, "doc_id", "text", chunkSize = 64, overlap = 16)
        .withColumn("cid", col("doc_id") * 1000 + col("chunk_idx"))
      graft.operators.Packing.packGreedy(chunks, "cid", "chunk_text",
          capacity = 256, nBuckets = 8)
        .select(col("bucket"), col("seq_id"), col("doc_id").as("cid"),
          col("n_tokens"))
    }))

  /** DuckDB mirror of [[graft.functions.TextFunctions.tokens]]. */
  private val toks =
    "list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0)"
  private val toksLower =
    "list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), x -> len(x) > 0)"

  private def hits(words: Seq[String]): String =
    s"len(list_filter($toksLower, x -> list_contains(${words.mkString("['", "', '", "']")}, x)))"

  override val oracles: Map[String, String] = Map(
    "q30_explode_wordcount" ->
      s"""SELECT token, COUNT(*) AS n FROM (
         |  SELECT unnest($toks) AS token FROM documents
         |) GROUP BY token""".stripMargin,
    "q31_token_stats" ->
      s"""SELECT doc_id,
         |  len($toks) AS n_tokens,
         |  length(text) AS n_chars_actual,
         |  round(CASE WHEN len($toks) > 0
         |    THEN CAST(list_sum(list_transform($toks, x -> len(x))) AS DOUBLE) / len($toks)
         |    ELSE 0.0 END, 4) AS mean_token_len
         |FROM documents""".stripMargin,
    "q32_quality" -> {
      val nonSpace = "regexp_replace(text, '\\s', '', 'g')"
      val punct = s"length(regexp_replace($nonSpace, '[a-zA-Z0-9]', '', 'g'))"
      val nsLen = s"length($nonSpace)"
      val digits = s"($nsLen - length(regexp_replace($nonSpace, '[0-9]', '', 'g')))"
      val letters = "regexp_replace(text, '[^a-zA-Z]', '', 'g')"
      val uppers = s"(length($letters) - length(regexp_replace($letters, '[A-Z]', '', 'g')))"
      val swHits = s"len(list_filter($toksLower, x -> list_contains(${enStopwords.mkString("['", "', '", "']")}, x)))"
      val nToks = s"len($toks)"
      val punctR = s"CASE WHEN $nsLen > 0 THEN CAST($punct AS DOUBLE) / $nsLen ELSE 0.0 END"
      val digitR = s"CASE WHEN $nsLen > 0 THEN CAST($digits AS DOUBLE) / $nsLen ELSE 0.0 END"
      val upperR = s"CASE WHEN length($letters) > 0 THEN CAST($uppers AS DOUBLE) / length($letters) ELSE 0.0 END"
      val swR = s"CASE WHEN $nToks > 0 THEN CAST($swHits AS DOUBLE) / $nToks ELSE 0.0 END"
      s"""SELECT doc_id,
         |  round($punctR, 6) AS punct_ratio,
         |  round($digitR, 6) AS digit_ratio,
         |  round($upperR, 6) AS upper_ratio,
         |  round($swR, 6) AS stopword_ratio,
         |  round(least(CAST($nToks AS DOUBLE) / 50.0, 1.0) * 0.25
         |      + (1.0 - least(($punctR) * 4.0, 1.0)) * 0.25
         |      + (1.0 - least(($digitR) * 4.0, 1.0)) * 0.25
         |      + least(($swR) * 4.0, 1.0) * 0.25, 6) AS quality
         |FROM documents""".stripMargin
    },
    "q33_langid" -> {
      val Seq(en, de, fr, es) = langMarkers.map(m => hits(m._2))
      s"""SELECT doc_id, lang AS lang_declared,
         |  CASE
         |    WHEN $en > 0 AND $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
         |    WHEN $de > 0 AND $de > $en AND $de >= $fr AND $de >= $es THEN 'de'
         |    WHEN $fr > 0 AND $fr > $en AND $fr > $de AND $fr >= $es THEN 'fr'
         |    WHEN $es > 0 AND $es > $en AND $es > $de AND $es > $fr THEN 'es'
         |    ELSE 'und' END AS lang_pred
         |FROM documents""".stripMargin
    },
    "q37_bpeish_tokens" ->
      """SELECT doc_id,
        |  len(regexp_extract_all(text, '[a-zA-Z0-9]+|[^a-zA-Z0-9\s]')) AS n_bpeish
        |FROM documents""".stripMargin,
    "q52_tfidf_top_terms" ->
      """WITH terms AS (
        |  SELECT doc_id,
        |    unnest(list_filter(regexp_split_to_array(trim(lower(text)), '\s+'),
        |           x -> len(x) > 0)) AS term
        |  FROM documents
        |), tf AS (
        |  SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY doc_id, term
        |), dfreq AS (
        |  SELECT term, COUNT(*) AS df FROM tf GROUP BY term
        |), corpus AS (SELECT COUNT(*) AS n FROM documents)
        |SELECT doc_id, term, score, rnk FROM (
        |  SELECT tf.doc_id, tf.term,
        |    round(tf.tf * ln(CAST(corpus.n AS DOUBLE) / dfreq.df), 6) AS score,
        |    row_number() OVER (PARTITION BY tf.doc_id
        |      ORDER BY round(tf.tf * ln(CAST(corpus.n AS DOUBLE) / dfreq.df), 6) DESC,
        |               tf.term ASC) AS rnk
        |  FROM tf JOIN dfreq USING (term) CROSS JOIN corpus
        |) WHERE rnk <= 3""".stripMargin,
    // Full mirror of bm25TopK (k1=1.2, b=0.75, exact — no stop-term
    // cut): identical tokenization, formula associativity
    // (idf * ((tf*2.2) / denom)), per-term score scaled by 1e10 and
    // rounded to BIGINT (the engine's exact-long-fold representation)
    // → exact integer sum → /1e10 → 6-dp final round. The mirror uses
    // the classic postings-join formulation — DuckDB picks its own
    // plan; the engine's DAAT fold sums the same scaled longs.
    "q127_bm25_topk" -> bm25Mirror,
    // the sidecar-backed path computes the SAME values (shared scoring
    // core; per-partition-additive stats) — same full mirror
    "q134_bm25_indexed" -> bm25Mirror,
    // the SQL door runs the identical indexed plan — same full mirror
    "q159_sql_bm25_topk" -> bm25Mirror,
    // full RRF mirror: both ranked lists (BM25 k=10, exact cosine
    // k=10 over the filtered queries) + the reciprocal-rank sum; a
    // fused pair's score is one commutative IEEE addition, so the
    // hash must match exactly
    "q135_hybrid_rrf" -> {
      val dotAB = "list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[]))"
      val normA = "sqrt(list_dot_product(CAST(a.embedding AS DOUBLE[]), CAST(a.embedding AS DOUBLE[])))"
      val normB = "sqrt(list_dot_product(CAST(b.embedding AS DOUBLE[]), CAST(b.embedding AS DOUBLE[])))"
      s"""WITH lex AS (
         |${bm25MirrorSql(10)}
         |), vsims AS (
         |  SELECT a.vec_id AS query_id, b.vec_id AS neighbor_id,
         |    round(CASE WHEN $normA * $normB > 0
         |      THEN $dotAB / ($normA * $normB) END, 4) AS sim
         |  FROM embeddings a JOIN embeddings b ON a.vec_id <> b.vec_id
         |  WHERE a.vec_id % 10 = 0
         |), vec AS (
         |  SELECT query_id, neighbor_id, rank FROM (
         |    SELECT query_id, neighbor_id,
         |      row_number() OVER (PARTITION BY query_id
         |        ORDER BY sim DESC, neighbor_id ASC) AS rank
         |    FROM vsims) WHERE rank <= 10
         |), u AS (
         |  SELECT query_id, doc_id, 1.0 / (60 + rank) AS c FROM lex
         |  UNION ALL
         |  SELECT query_id, neighbor_id, 1.0 / (60 + rank) FROM vec
         |), sc AS (
         |  SELECT query_id, doc_id, SUM(c) AS rrf,
         |    COUNT(*) AS n_lists
         |  FROM u GROUP BY 1, 2
         |)
         |SELECT query_id, doc_id, round(rrf, 6) AS rrf, rank, n_lists
         |FROM (
         |  SELECT query_id, doc_id, rrf, n_lists,
         |    row_number() OVER (PARTITION BY query_id
         |      ORDER BY rrf DESC, doc_id ASC) AS rank
         |  FROM sc) WHERE rank <= 5""".stripMargin
    },
    "q34_dedup_exact" ->
      """SELECT MIN(doc_id) AS keeper_id, COUNT(*) AS n_copies
        |FROM documents GROUP BY text""".stripMargin,
    "q35_jaccard_pairs" -> {
      val g = (c: String) => s"list_distinct(list_filter(regexp_split_to_array(trim($c), '\\s+'), x -> len(x) > 0))"
      s"""WITH grams AS (SELECT doc_id, ${g("text")} AS g FROM documents)
         |SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         |  round(CASE WHEN len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) > 0
         |    THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
         |       / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
         |    ELSE 0.0 END, 4) AS jaccard
         |FROM grams a JOIN grams b ON b.doc_id = a.doc_id + 1""".stripMargin
    },

    // ----- round-3 additions: full mirror for the fingerprint, and
    // derived-invariant oracles (DuckDB re-reads the engine's own dump
    // via {{GRAFT_OUT}} and recomputes every verifiable column; guards
    // collapse the result to zero rows on any invariant violation, so
    // the driver's row/hash compare fails loudly). The xxhash64-seeded
    // signatures themselves stay engine-specific — what IS checked:
    // every reported pair's exact Jaccard (bit-for-bit), thresholds,
    // pair ordering, and completeness floors.

    // Full independent mirror: the rolling hash is plain modular
    // arithmetic over code points, foldable with list_reduce. The
    // whitespace normalization is an explicit class + collapse-then-
    // strip, byte-identical to Fingerprint64 (DuckDB trim() strips
    // spaces only and RE2's \s lacks \x0B — neither matches Java).
    "q36_fingerprint" ->
      """WITH norm AS (
        |  SELECT doc_id,
        |    regexp_replace(regexp_replace(text, '[ \t\n\r\f]+', ' ', 'g'),
        |                   '^ | $', '', 'g') AS s
        |  FROM documents
        |)
        |SELECT doc_id,
        |  CASE WHEN s = '' THEN CAST(0 AS BIGINT) ELSE
        |    list_reduce(list_prepend(CAST(0 AS BIGINT),
        |      list_transform(regexp_split_to_array(s, ''),
        |                     c -> CAST(unicode(c) AS BIGINT))),
        |      (acc, cp) -> (acc * 31 + cp) % 1000000007)
        |  END AS fp
        |FROM norm""".stripMargin,

    // Derived invariant: every reported pair's 3-shingle Jaccard is
    // recomputed exactly and must be >= the 0.5 threshold with
    // id_a < id_b; completeness guard: identical-text pairs can never
    // be missed (identical signatures always share every band bucket).
    "q38_minhash_pairs" ->
      s"""WITH out AS (SELECT * FROM ${outGlob("q38_minhash_pairs")}),
         |$grams3Cte,
         |truth AS (
         |  SELECT o.id_a, o.id_b, round($jacAB, 4) AS jaccard
         |  FROM out o
         |  JOIN grams a ON a.doc_id = o.id_a
         |  JOIN grams b ON b.doc_id = o.id_b
         |  WHERE o.id_a < o.id_b AND $jacAB >= 0.5
         |),
         |missed AS (
         |  SELECT 1 FROM documents x JOIN documents y
         |    ON x.doc_id < y.doc_id AND x.text = y.text
         |  LEFT JOIN out o ON o.id_a = x.doc_id AND o.id_b = y.doc_id
         |  WHERE o.id_a IS NULL
         |),
         |guard AS (SELECT 1 AS ok WHERE NOT EXISTS (SELECT * FROM missed))
         |SELECT t.id_a, t.id_b, t.jaccard FROM truth t CROSS JOIN guard""".stripMargin,

    // Derived invariant: hamming is engine-specific but range-checked;
    // the unigram Jaccard column is recomputed exactly; identical-text
    // pairs (simhash-identical, hamming 0) must all be present.
    "q39_simhash_pairs" -> {
      val g = "list_distinct(list_filter(regexp_split_to_array(trim(text), '\\s+'), x -> len(x) > 0))"
      s"""WITH out AS (SELECT * FROM ${outGlob("q39_simhash_pairs")}),
         |grams AS (SELECT doc_id, $g AS g FROM documents),
         |truth AS (
         |  SELECT o.id_a, o.id_b, o.hamming, round($jacAB, 4) AS jaccard
         |  FROM out o
         |  JOIN grams a ON a.doc_id = o.id_a
         |  JOIN grams b ON b.doc_id = o.id_b
         |  WHERE o.id_a < o.id_b AND o.hamming BETWEEN 0 AND 8
         |),
         |missed AS (
         |  SELECT 1 FROM documents x JOIN documents y
         |    ON x.doc_id < y.doc_id AND x.text = y.text
         |  LEFT JOIN out o ON o.id_a = x.doc_id AND o.id_b = y.doc_id
         |  WHERE o.id_a IS NULL
         |),
         |guard AS (SELECT 1 AS ok WHERE NOT EXISTS (SELECT * FROM missed))
         |SELECT t.id_a, t.id_b, t.hamming, t.jaccard
         |FROM truth t CROSS JOIN guard""".stripMargin
    },

    // Derived invariant for keep-one-per-cluster dedup: keepers must
    // exist in `documents` with matching payload columns, be unique,
    // include at most one doc per exact text, and every DROPPED doc
    // must have a genuine 3-shingle near-duplicate partner (>= 0.5) —
    // a doc may only be dropped after a verified pair put it in a
    // cluster. (Two keepers MAY be true near-dups: LSH recall < 1.)
    "q46_minhash_dedup" ->
      s"""WITH out AS (SELECT * FROM ${outGlob("q46_minhash_dedup")}),
         |$grams3Cte,
         |dropped AS (
         |  SELECT d.doc_id FROM documents d
         |  LEFT JOIN out o ON o.doc_id = d.doc_id WHERE o.doc_id IS NULL
         |),
         |orphan_drop AS (
         |  SELECT 1 FROM dropped dr JOIN grams a ON a.doc_id = dr.doc_id
         |  WHERE NOT EXISTS (
         |    SELECT 1 FROM grams b WHERE b.doc_id <> a.doc_id
         |      AND $jacAB >= 0.5)
         |),
         |dup_keeper AS (
         |  SELECT 1 FROM out x JOIN documents dx ON dx.doc_id = x.doc_id
         |  JOIN out y ON x.doc_id < y.doc_id
         |  JOIN documents dy ON dy.doc_id = y.doc_id
         |  WHERE dx.text = dy.text
         |),
         |guard AS (SELECT 1 AS ok
         |  WHERE NOT EXISTS (SELECT * FROM orphan_drop)
         |    AND NOT EXISTS (SELECT * FROM dup_keeper)
         |    AND (SELECT count(*) FROM out)
         |        = (SELECT count(DISTINCT doc_id) FROM out))
         |SELECT d.doc_id, d.source, d.n_chars
         |FROM documents d JOIN out o ON o.doc_id = d.doc_id
         |CROSS JOIN guard""".stripMargin,

    // Derived invariant: per-(split,lang) counts must sum to the exact
    // per-lang totals, split labels are constrained to the weight set,
    // and each split's global size sits within 4 sigma + rounding slack
    // of its 0.8/0.1/0.1 target.
    "q50_train_split" ->
      s"""WITH out AS (SELECT * FROM ${outGlob("q50_train_split")}),
         |lang_tot AS (SELECT lang, count(*) AS n FROM documents GROUP BY lang),
         |lang_sum AS (SELECT lang, sum(n_docs) AS s FROM out GROUP BY lang),
         |lang_bad AS (
         |  SELECT 1 FROM lang_tot t
         |  LEFT JOIN lang_sum s ON s.lang = t.lang
         |  WHERE s.s IS NULL OR s.s <> t.n
         |),
         |n_total AS (SELECT count(*) AS n FROM documents),
         |split_tot AS (SELECT split, sum(n_docs) AS s FROM out GROUP BY split),
         |split_bad AS (
         |  SELECT 1 FROM split_tot st CROSS JOIN n_total
         |  JOIN (VALUES ('train', 0.8), ('val', 0.1), ('test', 0.1)) w(split, p)
         |    ON w.split = st.split
         |  WHERE abs(st.s - w.p * n_total.n)
         |        > 4 * sqrt(n_total.n * w.p * (1 - w.p)) + 2
         |),
         |guard AS (SELECT 1 AS ok
         |  WHERE NOT EXISTS (SELECT * FROM lang_bad)
         |    AND NOT EXISTS (SELECT * FROM split_bad))
         |SELECT o.split, o.lang, o.n_docs FROM out o CROSS JOIN guard
         |WHERE o.split IN ('train', 'val', 'test')""".stripMargin,

    // Derived invariant: the MinHash union-sketch estimate must sit
    // within 0.25 of the true source-level 3-shingle Jaccard (k=64 =>
    // sigma <= 0.0625; bound is 4 sigma), every source pair must be
    // present exactly once (DISTINCT-counted, so a duplicated pair
    // cannot mask a missing one), ordered src_a < src_b.
    "q54_source_overlap" ->
      s"""WITH out AS (SELECT * FROM ${outGlob("q54_source_overlap")}),
         |$grams3Cte,
         |srcset AS (
         |  SELECT d.source, list(DISTINCT s.s) AS gs
         |  FROM (SELECT doc_id, unnest(g) AS s FROM grams) s
         |  JOIN documents d ON d.doc_id = s.doc_id
         |  GROUP BY d.source
         |),
         |true_j AS (
         |  SELECT a.source AS src_a, b.source AS src_b,
         |    CAST(len(list_intersect(a.gs, b.gs)) AS DOUBLE)
         |      / (len(a.gs) + len(b.gs) - len(list_intersect(a.gs, b.gs))) AS tj
         |  FROM srcset a JOIN srcset b ON a.source < b.source
         |),
         |n_src AS (SELECT count(DISTINCT source) AS n FROM documents),
         |guard AS (SELECT 1 AS ok FROM n_src
         |  WHERE (SELECT count(*) FROM out) = n * (n - 1) / 2
         |    AND (SELECT count(DISTINCT src_a || '|' || src_b) FROM out)
         |        = n * (n - 1) / 2)
         |SELECT o.src_a, o.src_b, o.est_jaccard
         |FROM out o JOIN true_j t ON t.src_a = o.src_a AND t.src_b = o.src_b
         |CROSS JOIN guard
         |WHERE abs(o.est_jaccard - t.tj) <= 0.25""".stripMargin,

    // Same decomposed prefix, DuckDB's own nfc_normalize — engine and
    // oracle must agree byte-for-byte on the composed result.
    "q90_nfc_normalize" ->
      s"""SELECT doc_id,
         |  nfc_normalize('$NfcPrefix' || substr(text, 1, 40)) AS norm_text,
         |  CAST(('$NfcPrefix' || substr(text, 1, 40)) !=
         |    nfc_normalize('$NfcPrefix' || substr(text, 1, 40)) AS INT) AS changed
         |FROM documents""".stripMargin,

    // Re-derives exact token counts + ranking and keeps an engine row
    // only when its exact count matches and its estimate sits inside
    // the CMS one-sided bound — any violation drops rows and fails the
    // hash compare.
    "q89_cms_heavy_hitters" ->
      s"""WITH out AS (SELECT * FROM ${outGlob("q89_cms_heavy_hitters")}),
         |tok AS (SELECT unnest($toks) AS token FROM documents),
         |exact AS (SELECT token, COUNT(*) AS n FROM tok GROUP BY token),
         |ranked AS (SELECT token, n,
         |    row_number() OVER (ORDER BY n DESC, token) AS rnk
         |  FROM exact),
         |total AS (SELECT COUNT(*) AS n_total FROM tok)
         |SELECT o.rnk, o.token, o.exact_n, o.est_n
         |FROM out o JOIN ranked r ON o.token = r.token CROSS JOIN total t
         |WHERE o.rnk = r.rnk AND o.exact_n = r.n
         |  AND o.est_n >= r.n
         |  AND o.est_n <= r.n + CAST(ceil(8.0 * t.n_total / 2048) AS BIGINT)""".stripMargin,

    // Survivors = odd-id docs whose text is not among even-id docs'
    // texts, lowest odd id per text.
    "q88_incremental_dedup" ->
      """SELECT b.doc_id, b.n_chars FROM documents b
        |WHERE b.doc_id % 2 = 1
        |  AND NOT EXISTS (SELECT 1 FROM documents c
        |                  WHERE c.doc_id % 2 = 0 AND c.text = b.text)
        |  AND b.doc_id = (SELECT min(b2.doc_id) FROM documents b2
        |                  WHERE b2.doc_id % 2 = 1 AND b2.text = b.text)""".stripMargin,

    // Registry-path mirror: quality/langid/token-count/shingle-count
    // recomputed in full; the two signature functions are equality
    // booleans (registry ≡ API) — TRUE here by construction, and any
    // registry resolution drift flips them.
    "q87_sql_registry" -> {
      val nonSpace = "regexp_replace(text, '\\s', '', 'g')"
      val punct = s"length(regexp_replace($nonSpace, '[a-zA-Z0-9]', '', 'g'))"
      val nsLen = s"length($nonSpace)"
      val digits = s"($nsLen - length(regexp_replace($nonSpace, '[0-9]', '', 'g')))"
      val swHits = s"len(list_filter($toksLower, x -> list_contains(${enStopwords.mkString("['", "', '", "']")}, x)))"
      val nToks = s"len($toks)"
      val punctR = s"CASE WHEN $nsLen > 0 THEN CAST($punct AS DOUBLE) / $nsLen ELSE 0.0 END"
      val digitR = s"CASE WHEN $nsLen > 0 THEN CAST($digits AS DOUBLE) / $nsLen ELSE 0.0 END"
      val swR = s"CASE WHEN $nToks > 0 THEN CAST($swHits AS DOUBLE) / $nToks ELSE 0.0 END"
      val Seq(en, de, fr, es) = langMarkers.map(m => hits(m._2))
      s"""SELECT doc_id,
         |  round(least(CAST($nToks AS DOUBLE) / 50.0, 1.0) * 0.25
         |      + (1.0 - least(($punctR) * 4.0, 1.0)) * 0.25
         |      + (1.0 - least(($digitR) * 4.0, 1.0)) * 0.25
         |      + least(($swR) * 4.0, 1.0) * 0.25, 6) AS quality,
         |  CASE
         |    WHEN $en > 0 AND $en >= $de AND $en >= $fr AND $en >= $es THEN 'en'
         |    WHEN $de > 0 AND $de > $en AND $de >= $fr AND $de >= $es THEN 'de'
         |    WHEN $fr > 0 AND $fr > $en AND $fr > $de AND $fr >= $es THEN 'fr'
         |    WHEN $es > 0 AND $es > $en AND $es > $de AND $es > $fr THEN 'es'
         |    ELSE 'und' END AS lang_pred,
         |  $nToks AS n_tokens,
         |  CAST(greatest($nToks - 2, 1) AS BIGINT) AS n_shingles,
         |  CAST(1 AS INTEGER) AS simhash_registry_ok,
         |  CAST(1 AS INTEGER) AS minhash_registry_ok,
         |  nfc_normalize('$NfcPrefix' || substr(text, 1, 20)) AS nfc_text,
         |  substr(regexp_replace(source || '/' || CAST(doc_id AS VARCHAR),
         |    '[\\/:*?"<>|]', '_', 'g'), 1, 255) AS safe_name,
         |  $nToks AS n_tok2,
         |  round((1.0*2.0 + 2.0*1.0 + 2.0*2.0) /
         |    (sqrt(1.0+4.0+4.0) * sqrt(4.0+1.0+4.0)), 10) AS cos_const,
         |  round(1.0*2.0 + 2.0*1.0 + 2.0*2.0, 10) AS dot_const
         |FROM documents""".stripMargin
    },
    "q99_bigram_lm_score" -> q99Oracle,
    "q100_pipeline_e2e" -> q100Oracle,
    "q118_training_pack" -> q118Oracle)

  /** DuckDB mirror of `array_distinct(wordShingles(text, 3))` as a CTE
    * named `grams` (column `g`): non-empty whitespace tokens, 3-token
    * windows (short docs collapse to one whole-doc shingle), distinct.
    * Bit-for-bit parity with WordShinglesExpr is relied on by the
    * q38/q46/q54 invariant oracles. */
  private def grams3Cte: String =
    """tok AS (
      |  SELECT doc_id,
      |    list_filter(regexp_split_to_array(trim(text), '\s+'),
      |                x -> len(x) > 0) AS toks
      |  FROM documents
      |),
      |grams AS (
      |  SELECT doc_id,
      |    list_distinct([array_to_string(toks[i:i+2], ' ')
      |      for i in range(1, greatest(len(toks) - 2, 1) + 1)]) AS g
      |  FROM tok
      |)""".stripMargin

  /** Exact Jaccard between `a.g` and `b.g` gram lists. */
  private def jacAB: String =
    """CASE WHEN len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)) > 0
      |  THEN CAST(len(list_intersect(a.g, b.g)) AS DOUBLE)
      |     / (len(a.g) + len(b.g) - len(list_intersect(a.g, b.g)))
      |  ELSE 0.0 END""".stripMargin

  /** q99's oracle, defined here to keep the oracles map readable. */
  private def q99Oracle: String =
    s"""WITH out AS (SELECT * FROM ${outGlob("q99_bigram_lm_score")}),
       |tokarr AS (SELECT doc_id, $toks AS l FROM documents),
       |bi0 AS (SELECT doc_id,
       |          unnest([{'p': l[i-1], 't': l[i]}
       |                  for i in range(2, len(l) + 1)]) AS s
       |        FROM tokarr),
       |bi AS (SELECT doc_id, s.p AS prev, s.t AS tok FROM bi0),
       |ctx AS (SELECT prev, COUNT(*) AS c_n FROM bi GROUP BY prev),
       |big AS (SELECT prev, tok, COUNT(*) AS b_n FROM bi GROUP BY prev, tok),
       |v AS (SELECT COUNT(DISTINCT tok) AS vc
       |      FROM (SELECT unnest(l) AS tok FROM tokarr)),
       |scored AS (SELECT b.doc_id,
       |    -log2((g.b_n + 0.5) / (c.c_n + 0.5 * v.vc)) AS nll
       |  FROM bi b JOIN big g ON b.prev = g.prev AND b.tok = g.tok
       |  JOIN ctx c ON b.prev = c.prev CROSS JOIN v),
       |agg AS (SELECT doc_id, COUNT(*) AS n, AVG(nll) AS nll
       |        FROM scored GROUP BY doc_id)
       |SELECT o.doc_id, o.n_bigrams, o.avg_nll
       |FROM out o JOIN agg a ON o.doc_id = a.doc_id
       |WHERE o.n_bigrams = a.n AND abs(o.avg_nll - a.nll) < 1e-6""".stripMargin

  /** q100's oracle: q32's quality expression + q33's langid CASE +
    * q34's keep-min dedup + q81's window math, composed verbatim. */
  /** The composed filter→dedup→chunk CTE chain shared by q100 (final
    * chunk SELECT) and q118 (further threaded into the packing fold):
    * `idx` ends the chain with (doc_id, toks, n, chunk_idx). */
  private def pipelineCtes: String = {
    val nonSpace = "regexp_replace(text, '\\s', '', 'g')"
    val punct = s"length(regexp_replace($nonSpace, '[a-zA-Z0-9]', '', 'g'))"
    val nsLen = s"length($nonSpace)"
    val digits = s"($nsLen - length(regexp_replace($nonSpace, '[0-9]', '', 'g')))"
    val swHits = s"len(list_filter($toksLower, x -> list_contains(${enStopwords.mkString("['", "', '", "']")}, x)))"
    val nToks = s"len($toks)"
    val punctR = s"CASE WHEN $nsLen > 0 THEN CAST($punct AS DOUBLE) / $nsLen ELSE 0.0 END"
    val digitR = s"CASE WHEN $nsLen > 0 THEN CAST($digits AS DOUBLE) / $nsLen ELSE 0.0 END"
    val swR = s"CASE WHEN $nToks > 0 THEN CAST($swHits AS DOUBLE) / $nToks ELSE 0.0 END"
    val quality =
      s"""round(least(CAST($nToks AS DOUBLE) / 50.0, 1.0) * 0.25
         |      + (1.0 - least(($punctR) * 4.0, 1.0)) * 0.25
         |      + (1.0 - least(($digitR) * 4.0, 1.0)) * 0.25
         |      + least(($swR) * 4.0, 1.0) * 0.25, 6)""".stripMargin
    val Seq(en, de, fr, es) = langMarkers.map(m => hits(m._2))
    val langEn =
      s"($en > 0 AND $en >= $de AND $en >= $fr AND $en >= $es)"
    s"""f AS (
       |  SELECT doc_id, text FROM documents
       |  WHERE $quality >= 0.5 AND $langEn
       |), d AS (
       |  SELECT MIN(doc_id) AS doc_id, text FROM f GROUP BY text
       |), tk AS (
       |  SELECT doc_id,
       |    list_filter(regexp_split_to_array(trim(text), '\\s+'),
       |      x -> len(x) > 0) AS toks
       |  FROM d
       |), c AS (
       |  SELECT doc_id, toks, len(toks) AS n FROM tk WHERE len(toks) > 0
       |), idx AS (
       |  SELECT doc_id, toks, n,
       |    unnest(range(0, CAST(CASE WHEN n <= 64 THEN 1
       |      ELSE ceil((n - 64) / 48.0) + 1 END AS BIGINT))) AS chunk_idx
       |  FROM c
       |)""".stripMargin
  }

  private def q100Oracle: String =
    s"""WITH $pipelineCtes
       |SELECT doc_id, chunk_idx,
       |  array_to_string(toks[chunk_idx * 48 + 1 : chunk_idx * 48 + 64],
       |    ' ') AS chunk_text,
       |  least(64, n - chunk_idx * 48) AS n_tokens
       |FROM idx""".stripMargin

  /** q118: the composed chunk set threaded through q82's recursive
    * greedy fold at capacity 256, bucket = cid % 8, ordered by cid. */
  private def q118Oracle: String =
    s"""WITH RECURSIVE $pipelineCtes, chunks AS (
       |  SELECT doc_id * 1000 + chunk_idx AS cid,
       |    least(64, n - chunk_idx * 48) AS n
       |  FROM idx
       |), docs AS (
       |  SELECT CAST(cid % 8 AS INTEGER) AS bucket, cid, n,
       |    row_number() OVER (PARTITION BY cid % 8 ORDER BY cid) AS rn
       |  FROM chunks
       |), pack AS (
       |  SELECT bucket, rn, cid, n, n AS fill,
       |    CAST(0 AS BIGINT) AS seq_id
       |  FROM docs WHERE rn = 1
       |  UNION ALL
       |  SELECT d.bucket, d.rn, d.cid, d.n,
       |    CASE WHEN p.fill + d.n <= 256 THEN p.fill + d.n ELSE d.n END,
       |    CASE WHEN p.fill + d.n <= 256 THEN p.seq_id ELSE p.seq_id + 1
       |      END
       |  FROM docs d JOIN pack p
       |    ON d.bucket = p.bucket AND d.rn = p.rn + 1
       |)
       |SELECT bucket, seq_id, cid, n AS n_tokens FROM pack""".stripMargin
}
