package graft.operators

import org.apache.spark.sql.{Column, DataFrame}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

import graft.functions.TextFunctions

/** TF-IDF keyword scoring over a document corpus — the classic
  * text-relevance primitive, built from two aggregations and a join
  * (all partial-aggregatable; the doc-frequency table is tiny relative
  * to the corpus and broadcasts).
  *
  *   tf(t,d)  = count of t in d
  *   idf(t)   = ln(N / df(t))        (natural log, no smoothing — keeps
  *                                    the oracle formulation trivial)
  *   score    = tf · idf
  */
object TfIdf {

  /** Round a POSITIVE double to the nearest long, ties away from zero
    * — bit-identical to both Spark's `round()` (BigDecimal HALF_UP on
    * the exact binary expansion) and DuckDB's `round()` (half away
    * from zero) for 0 ≤ x < 2⁵², where `x - floor(x)` is exact.
    * `Math.round` is floor(x+0.5) — NOT this function (it rounds
    * 0.49999999999999994 up). */
  private def roundHalfUpPos(x: Double): Long = {
    val f = math.floor(x)
    if (x - f >= 0.5) f.toLong + 1L else f.toLong
  }

  /** Per-(doc, term) TF-IDF scores. */
  def scores(docs: DataFrame, idCol: String, textCol: String): DataFrame = {
    val terms = Par.spread(docs).select(col(idCol).as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    // tf feeds both the df aggregation and the final join — materialize
    // the tokenization once instead of three corpus scans
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val df = tf.groupBy(col("term"))
      .agg(count(lit(1)).as("df"))
    // N = ALL documents (incl. zero-token ones) per the tf-idf
    // definition; parquet count() is metadata-cheap
    val n = docs.count()
    tf.join(broadcast(df), Seq("term"))
      .withColumn("tfidf",
        col("tf") * log(lit(n.toDouble) / col("df")))
  }

  /** Top-k highest-scoring terms per document (ties by term asc). */
  def topTerms(docs: DataFrame, idCol: String, textCol: String,
      k: Int, roundTo: Int = 6): DataFrame = {
    val w = Window.partitionBy(col("doc_id"))
      .orderBy(col("score").desc, col("term").asc)
    scores(docs, idCol, textCol)
      .withColumn("score", round(col("tfidf"), roundTo))
      .withColumn("rnk", row_number().over(w))
      .where(col("rnk") <= k)
      .select("doc_id", "term", "score", "rnk")
  }

  /** Okapi BM25 retrieval: rank corpus documents for each query — the
    * standard lexical-retrieval primitive a curation pipeline uses for
    * targeted sourcing and contamination triage (the exact-overlap
    * sweep q56 covers membership; BM25 covers RANKED relevance).
    *
    *   idf(t)     = ln(1 + (N − df + 0.5) / (df + 0.5))
    *   score(q,d) = Σ_{t ∈ q ∩ d} idf·(tf·(k1+1)) / (tf + k1·(1 − b + b·len_d/avgdl))
    *
    * Shape is the inverted-index join, never query×corpus: postings
    * (term, doc, tf) shuffle by term, each query's DISTINCT terms
    * probe them, partial scores aggregate by (query, doc) — candidate
    * rows ∝ matching postings. The doc-frequency table broadcasts
    * (vocabulary-sized); doc lengths join by id. Per-term scores are
    * rounded to 10 dp and summed as DECIMAL(28,10), so the score is
    * summation-order-free (partition-layout-invariant and mirrorable
    * exactly — same posture as q60's decimal power sums).
    *
    * Output: (query_id, doc_id, score, rank), rank 1..k per query by
    * (score desc, doc_id asc). */
  /** Evaluation strategy is DOCUMENT-AT-A-TIME with a broadcast query
    * batch: each document carries its term→tf map (one keyed agg over
    * the corpus), the query batch rides as a broadcast of per-query
    * (term, df) arrays, and scoring is a narrow higher-order-function
    * pass over docs × queries — map lookups and a decimal fold, fully
    * codegen, NO term-keyed shuffle. The classic inverted-index join
    * (postings shuffled by term) is the wrong distributed shape here:
    * natural-language df is zipfian, so the highest-df terms
    * concentrate corpus-sized posting lists on single join keys — on
    * the gate corpus (31-term vocabulary) that skew made the join
    * formulation 25× slower than this scan. DAAT keeps the corpus
    * side embarrassingly parallel; the broadcast is query-batch-scale
    * (terms of the batch only), never corpus-scale.
    *
    * Exactness representation: each per-term score is rounded at 1e-10
    * and carried as a SCALED LONG (score·10¹⁰) — the fold is then pure
    * long addition: exact, summation-order-free, and integer-cheap
    * (the first cut used DECIMAL(28,10) per term; ~70M BigDecimal
    * roundings made the scoring pass 40× slower than the long fold).
    * Headroom: |term score| ≤ idf·(k1+1) ≈ 2.2·ln N — even 10⁵ query
    * terms stay 5 orders below Long.MaxValue.
    *
    * @param maxDfFraction terms above this df fraction are dropped
    *   (the standard stop-term cut; their idf ≈ 0). 1.0 = exact
    *   classic BM25 — the default, since DAAT's cost per stop term is
    *   one map lookup, not a posting-list explosion. */
  def bm25TopK(
      docs: DataFrame, idCol: String, textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      roundTo: Int = 6,
      maxDfFraction: Double = 1.0): DataFrame = {
    val terms = Par.spread(docs).select(col(idCol).cast("long").as("doc_id"),
      explode(TextFunctions.tokens(lower(col(textCol)))).as("term"))
    // one tokenization pass feeds tf, df, lengths, and the doc vectors
    val tf = terms.groupBy(col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    val n = docs.count()
    val lens = tf.groupBy(col("doc_id")).agg(sum(col("tf")).as("len"))
    val totalLen = lens.agg(sum(col("len"))).head.getLong(0)
    val docVecs = tf.groupBy(col("doc_id"))
      .agg(map_from_entries(
        collect_list(struct(col("term"), col("tf")))).as("tfm"))
      .join(lens, Seq("doc_id"))
    val dfT = tf.groupBy(col("term")).agg(count(lit(1)).as("df"))
    bm25Core(docVecs, dfT, n, totalLen, queries, qIdCol, qTextCol,
      k, k1, b, roundTo, maxDfFraction)
  }

  /** The DAAT scoring core shared by the per-call [[bm25TopK]] and the
    * sidecar-backed [[bm25TopKIndexed]] — identical arithmetic over
    * (doc term-maps, document-frequency table, corpus counts), however
    * those were obtained, so the indexed path is bit-identical to the
    * per-call path by construction (spec-asserted). */
  private def bm25Core(
      docVecs: DataFrame, // (doc_id, tfm map<string,long>, len)
      dfT: DataFrame, // (term, df) — unfiltered corpus df
      n: Long,
      totalLen: Long,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int,
      k1: Double,
      b: Double,
      roundTo: Int,
      maxDfFraction: Double): DataFrame = {
    val avgdl = totalLen.toDouble / n
    // per-query (term, df) arrays — idf is per (term, corpus), so it
    // rides the broadcast precomputed; absent-from-corpus terms drop
    val dfKept = dfT.where(col("df") <= lit(maxDfFraction) * n)
    val idfOfDf = log(lit(1.0) +
      (lit(n.toDouble) - col("df") + lit(0.5)) / (col("df") + lit(0.5)))
    val qArr = queries
      .select(col(qIdCol).cast("long").as("query_id"),
        explode(array_distinct(
          TextFunctions.tokens(lower(col(qTextCol))))).as("term"))
      .join(dfKept, Seq("term"))
      .groupBy(col("query_id"))
      .agg(collect_list(
        struct(col("term"), idfOfDf.as("idf"))).as("qts"))
    // narrow scoring pass: every doc against every broadcast query in
    // a tight JVM loop (mapPartitions, the ANN-candidate-scan
    // precedent). A declarative `aggregate` HOF fold computes the same
    // thing but Spark's higher-order functions are CodegenFallback —
    // per-element interpreted expression trees made the fold 4×
    // slower than even the skewed join it replaced (221 s vs 55 s at
    // sf0.1); this loop runs the same scoring in 7 s. Absent terms
    // contribute 0, so a pair with no shared term folds to 0 and
    // drops (every real contribution is strictly positive).
    val spark = docVecs.sparkSession
    import spark.implicits._
    val qData: Array[(Long, Array[(String, Double)])] = qArr
      .as[(Long, Seq[(String, Double)])]
      .collect().map { case (q, ts) => (q, ts.toArray) }.sortBy(_._1)
    // Query terms re-keyed to dense int ids (query-batch-scale, rides
    // the same broadcast): the scoring loop's per-(doc,query,term) map
    // probe was a String hash+equals on every step — r17 profile: the
    // scoring stage burned ~45 task-seconds at sf0.1 and, worse, AQE
    // coalesces the tiny docVecs shuffle to ONE partition so all of it
    // ran single-threaded (7+ s wall). With ids, each doc loads its
    // term→tf entries into a flat long array ONCE (|tfm| dictionary
    // probes), and the per-query inner loop is an int-indexed array
    // read — arithmetic, order and rounding unchanged, so the scaled
    // score is bit-identical.
    val termIdOf = new java.util.HashMap[String, Integer]()
    qData.foreach(_._2.foreach { case (t, _) =>
      if (!termIdOf.containsKey(t)) termIdOf.put(t, termIdOf.size()) })
    val nTerms = termIdOf.size()
    val qTermIds: Array[Array[Int]] =
      qData.map(_._2.map(ts => termIdOf.get(ts._1).intValue()))
    val qIdfs: Array[Array[Double]] = qData.map(_._2.map(_._2))
    val bcQ = spark.sparkContext.broadcast(
      (qData.map(_._1), qTermIds, qIdfs, termIdOf))
    val k1p1 = k1 + 1.0
    val scored = docVecs
      .as[(Long, Map[String, Long], Long)]
      .mapPartitions { it =>
        val (qids, qTerms, idfs, dict) = bcQ.value
        val nq = qids.length
        val tfOf = new Array[Long](math.max(nTerms, 1))
        val touched = new Array[Int](math.max(nTerms, 1))
        // Per-query bounded top-k selection (same total order as the
        // final window: rounded score desc, doc_id asc), so only each
        // partition's possible top-k rows enter the exchange — the
        // global top-k per query is a subset of every partition-local
        // top-k, and the ordering key below is computed exactly like
        // the plan's `round(s/1e10, roundTo)` (Spark's Round on a
        // double is BigDecimal HALF_UP — the Similarity.scala
        // precedent), so the surviving row set is identical.
        val topDoc = Array.fill(nq)(new Array[Long](k))
        val topS = Array.fill(nq)(new Array[Long](k))
        val topR = Array.fill(nq)(new Array[Double](k))
        val filled = new Array[Int](nq)
        // one rounding step at `roundTo`, in scaled-long units: a raw
        // score more than one step below the worst kept ROUNDED value
        // can neither beat nor tie it (rounding moves a value < 1 step)
        val stepScaled = math.pow(10.0, 10 - roundTo)
        def roundedOf(s: Long): Double = BigDecimal(s.toDouble / 1e10)
          .setScale(roundTo, scala.math.BigDecimal.RoundingMode.HALF_UP)
          .toDouble
        it.foreach { case (did, tfm, len) =>
          var nt = 0
          tfm.foreach { case (t, v) =>
            val id = dict.get(t)
            if (id ne null) {
              tfOf(id.intValue()) = v
              touched(nt) = id.intValue()
              nt += 1
            }
          }
          // identical double-op order to the declarative formula:
          // (1-b) + ((b*len)/avgdl), then k1*norm inside the denom
          val normTail = (1.0 - b) + ((b * len) / avgdl)
          var qi = 0
          while (qi < nq) {
            val terms = qTerms(qi)
            val tIdfs = idfs(qi)
            var s = 0L
            var i = 0
            while (i < terms.length) {
              val tfv = tfOf(terms(i))
              if (tfv != 0L) {
                val denom = tfv + k1 * normTail
                val x = tIdfs(i) * ((tfv * k1p1) / denom) * 1e10
                s += roundHalfUpPos(x)
              }
              i += 1
            }
            if (s > 0L) {
              val f = filled(qi)
              val worstR = if (f == k) topR(qi)(k - 1) else 0.0
              val cannotQualify = f == k &&
                s.toDouble < worstR * 1e10 - stepScaled
              if (!cannotQualify) {
                val r = roundedOf(s)
                val ds = topDoc(qi)
                val ss = topS(qi)
                val rs = topR(qi)
                val beatsWorst = f < k || r > rs(f - 1) ||
                  (r == rs(f - 1) && did < ds(f - 1))
                if (beatsWorst) {
                  var pos = math.min(f, k - 1)
                  while (pos > 0 && (r > rs(pos - 1) ||
                      (r == rs(pos - 1) && did < ds(pos - 1)))) {
                    ds(pos) = ds(pos - 1); ss(pos) = ss(pos - 1)
                    rs(pos) = rs(pos - 1)
                    pos -= 1
                  }
                  ds(pos) = did; ss(pos) = s; rs(pos) = r
                  if (f < k) filled(qi) = f + 1
                }
              }
            }
            qi += 1
          }
          var j = 0
          while (j < nt) { tfOf(touched(j)) = 0L; j += 1 }
        }
        (0 until nq).iterator.flatMap { qi =>
          (0 until filled(qi)).map { r =>
            (qids(qi), topDoc(qi)(r), topS(qi)(r))
          }
        }
      }
      .toDF("query_id", "doc_id", "s_scaled")
      .withColumn("score",
        round(col("s_scaled").cast("double") / lit(1e10), roundTo))
    val w = Window.partitionBy(col("query_id"))
      .orderBy(col("score").desc, col("doc_id").asc)
    scored.withColumn("rank", row_number().over(w))
      .where(col("rank") <= k)
      .select("query_id", "doc_id", "score", "rank")
  }

  // ---------------- persisted text-retrieval sidecar ----------------
  //
  // bm25TopK re-tokenizes the corpus and recomputes df/avgdl on EVERY
  // call — correct, but at 100 TB retrieval stats are a persisted
  // artifact, exactly the AnnIndex posture. writeTextIndex pays
  // tokenize + tf/df aggregation ONCE into `_graft_text__<col>/`;
  // bm25TopKIndexed answers queries reading ONLY the sidecar. The
  // sidecar is build-once: a rewrite of the table needs a fresh
  // writeTextIndex.
  //
  // Sidecar layout under `<tablePath>/_graft_text__<textCol>/`:
  //  - `rows/part=<dir>/`  — (file, doc_id, tfm map<term,tf>, len):
  //    each tokenized document's term map + length, clustered by
  //    SOURCE partition dir;
  //  - `stats/part=<dir>/` — (term, df): PER-PARTITION document
  //    frequencies. Global df = Σ over partitions (df is additive), so
  //    the corpus-global table is re-aggregated at query time — a
  //    vocabulary-scale agg, never a corpus scan;
  //  - `counts/part=<dir>/` — (n_docs, total_len): partition doc
  //    counts (INCLUDING zero-token docs — BM25's N counts all
  //    documents) and token-length sums; n and avgdl derive by
  //    summation the same way.
  //
  // Exactness contract: query-time scoring shares bm25Core with the
  // per-call path, and the sidecar's (tfm, len, df, n, totalLen) are
  // the same aggregations computed per-partition-additively, so on an
  // unchanged table bm25TopKIndexed is BIT-IDENTICAL to bm25TopK
  // (spec-asserted).

  val DirPrefix = "_graft_text__"
  private val TmpDirPrefix = "_graft_text_tmp__"

  def indexDir(tablePath: String, textCol: String): String =
    s"$tablePath/$DirPrefix$textCol"

  /** `part` value for rows whose files sit directly under the table
    * root (unpartitioned tables). */
  private val RootPart = "__root__"

  /** Source partition-dir name of a file path: the immediate parent
    * component (scheme/authority-insensitive — matching is on the dir
    * NAME), or [[RootPart]] for files directly under the table root. */
  private def partOf(file: Column, rootName: String): Column = {
    val parent = regexp_extract(file, "([^/]+)/[^/]*$", 1)
    when(parent === rootName, lit(RootPart)).otherwise(parent)
  }

  /** True if a text index exists for `textCol`. */
  def hasIndex(spark: org.apache.spark.sql.SparkSession,
      tablePath: String, textCol: String): Boolean = {
    val p = new org.apache.hadoop.fs.Path(indexDir(tablePath, textCol))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  /** The per-partition sidecar content for one scan: (rows, stats,
    * counts) as described in the layout note. */
  private def sidecarOf(
      scan: DataFrame,
      idCol: String,
      textCol: String,
      rootName: String): (DataFrame, DataFrame, DataFrame) = {
    val base = scan.select(
        col("_metadata.file_path").as("file"),
        col(idCol).cast("long").as("doc_id"),
        col(textCol).as("text"))
      .withColumn("part", partOf(col("file"), rootName))
    val terms = base.select(col("part"), col("file"), col("doc_id"),
      explode(TextFunctions.tokens(lower(col("text")))).as("term"))
    val tf = terms
      .groupBy(col("part"), col("file"), col("doc_id"), col("term"))
      .agg(count(lit(1)).as("tf"))
      .localCheckpoint(true)
    // tfm and len share the (part, file, doc_id) grouping — ONE
    // aggregation computes both (guide §2.4: the former separate lens
    // agg + re-join paid a second shuffle and a join over the same
    // keyed data for values derivable in the same pass; len =
    // sum(tf) per doc either way, row-identical)
    val rows = tf.groupBy(col("part"), col("file"), col("doc_id"))
      .agg(map_from_entries(
          collect_list(struct(col("term"), col("tf")))).as("tfm"),
        sum(col("tf")).as("len"))
      .select("part", "file", "doc_id", "tfm", "len")
    val stats = tf.groupBy(col("part"), col("term"))
      .agg(count(lit(1)).as("df"))
    // total_len per part = Σ len over its docs = Σ tf over the part —
    // aggregate the checkpointed tf directly instead of re-grouping a
    // derived frame (same value by associativity of the sum)
    val counts = base.groupBy(col("part"))
      .agg(count(lit(1)).as("n_docs"))
      .join(tf.groupBy(col("part"))
          .agg(sum(col("tf")).as("total_len")),
        Seq("part"), "left")
      .withColumn("total_len", coalesce(col("total_len"), lit(0L)))
    (rows, stats, counts)
  }

  /** Build and publish the text-retrieval sidecar for
    * `tablePath`.`textCol`. Publish is staged (tmp → rename), so
    * readers never see a half-built index. Doc ids must be unique —
    * duplicate ids would double-count df and corrupt the per-doc
    * term maps. */
  def writeTextIndex(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      idCol: String,
      textCol: String): Unit = {
    val root = new org.apache.hadoop.fs.Path(tablePath)
    val fs = root.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val scan = Par.spread(spark.read.parquet(tablePath))
    // The uniqueness guard and the three sidecar writes are four
    // INDEPENDENT actions (rows/stats/counts all read the one
    // localCheckpointed tf pass; the dup probe reads only idCol) —
    // at index-build sizes each action's cost is its stage-barrier
    // floor, so running them sequentially paid 4 barriers for 1
    // (optimization guide §2.6, overlap independent jobs). Failures
    // surface at the joins below; the publish rename still happens
    // only after every write completed.
    val dupF = CallSites.overlapped(spark) {
      scan.groupBy(col(idCol)).count()
        .where(col("count") > 1).limit(1).count()
    }
    val (rows, stats, counts) =
      sidecarOf(scan, idCol, textCol, root.getName)
    val tmp = new org.apache.hadoop.fs.Path(root, TmpDirPrefix + textCol)
    if (fs.exists(tmp)) fs.delete(tmp, true)
    val writes = Seq(
      ("rows", rows), ("stats", stats), ("counts", counts)).map {
      case (sub, df) => CallSites.overlapped(spark) {
        df.write.partitionBy("part")
          .parquet(new org.apache.hadoop.fs.Path(tmp, sub).toString)
      }
    }
    // resolve ALL (incl. the probe) before any rethrow — no straggler
    // may outlive this call and race a retry's tmp rebuild
    Overlap.awaitAll(writes :+ dupF)
    require(scala.concurrent.Await.result(dupF, Overlap.AwaitTimeout) == 0,
      s"TfIdf.writeTextIndex: $idCol must be unique in $tablePath")
    val live = new org.apache.hadoop.fs.Path(root, DirPrefix + textCol)
    if (fs.exists(live)) fs.delete(live, true)
    require(fs.rename(tmp, live),
      s"TfIdf.writeTextIndex: publish rename failed for $live")
  }

  /** BM25 top-k reading ONLY the sidecar: doc term-maps and lengths
    * come from `rows/`, the document-frequency table re-aggregates the
    * per-partition `stats/` partials (vocabulary-scale), N and avgdl
    * sum the `counts/` rows (partition-count-scale). No scan of the
    * base table, no tokenization, anywhere in the query path —
    * bit-identical to [[bm25TopK]] on an unchanged table. */
  def bm25TopKIndexed(
      spark: org.apache.spark.sql.SparkSession,
      tablePath: String,
      textCol: String,
      queries: DataFrame, qIdCol: String, qTextCol: String,
      k: Int,
      k1: Double = 1.2,
      b: Double = 0.75,
      roundTo: Int = 6,
      maxDfFraction: Double = 1.0): DataFrame = {
    require(hasIndex(spark, tablePath, textCol),
      s"TfIdf: no live text index for $textCol at $tablePath — " +
        "writeTextIndex first")
    val dir = indexDir(tablePath, textCol)
    val docVecs = spark.read.parquet(s"$dir/rows")
      .select("doc_id", "tfm", "len")
    val dfT = spark.read.parquet(s"$dir/stats")
      .groupBy(col("term")).agg(sum(col("df")).as("df"))
    val tots = spark.read.parquet(s"$dir/counts")
      .agg(sum(col("n_docs")).as("n"), sum(col("total_len")).as("tl"))
      .head()
    val n = tots.getLong(0)
    val totalLen = tots.getLong(1)
    bm25Core(Par.spread(docVecs), dfT, n, totalLen,
      queries, qIdCol, qTextCol, k, k1, b, roundTo, maxDfFraction)
  }
}
