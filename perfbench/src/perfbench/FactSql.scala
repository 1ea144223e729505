package perfbench

import scala.collection.mutable
import scala.jdk.CollectionConverters._

import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.catalog.{GraftCatalog, GraftDml}
import graft.operators.{FactAnnIndex, FactChangeFeed, FactVersioned}
import graft.streaming.FactStreamSink

/** Versioned ingest with the analyst's SQL beside it, on one
  * `FactVersioned` table with a vector column. Each cycle:
  *  - applies a keyed micro-batch of new keys and updates in two
  *    adjacent partitions through `FactStreamSink.applyBatch`, compacts
  *    the touched partitions and
  *    vacuums every [[CompactEvery]] batches, and refreshes the ANN index
  *    as the sink's `maintainAnnCols` loop does; now and then the batch
  *    id is redelivered, and the sink must skip it;
  *  - polls a `FactChangeFeed` subscriber;
  *  - runs the [[SqlTemplates]] statements through `GraftCatalog` (point
  *    lookups, partition-pruned aggregates, `VERSION AS OF` over every
  *    retained generation, `graft_table_changes` windows) and one
  *    `FactAnnIndex.topKFor` call;
  *  - runs the [[DmlKinds]] statements through `GraftDml` (UPDATE,
  *    DELETE, INSERT, MERGE), so reads see a moving head; the next sink
  *    write's refresh indexes their files.
  * Every cycle has the same mix of operations, so the percentiles of a
  * short run are order statistics of a fixed set. 
  * Generator knobs below. */
object FactSql {
  /** Keys written by set-up, before the first micro-batch. */
  val InitialKeys = 3000
  /** Rows per micro-batch. */
  val BatchRows = 150
  /** Share of a batch's rows that are new keys; the rest update. */
  val NewShare = 0.25
  /** Chance that a cycle also redelivers its batch id (a separate write
    * that the sink must skip). */
  val RedeliverShare = 0.05
  val Partitions = 8
  val Dim = 16
  val Clusters = 16
  /** Compaction of the touched partitions and a vacuum run inside every
    * [[CompactEvery]]-th applied batch's write. */
  val CompactEvery = 1
  val Retain = 10
  /** The SQL reads of one cycle, in order; the seed picks parameters. */
  val CheapTemplates = Seq("point", "partition_agg", "version_as_of")
  val SqlTemplates: Seq[String] =
    Seq.fill(8)(CheapTemplates).flatten :+ "table_changes"
  /** The DML statements of one cycle, in order: mostly single-row
    * statements, so their median is an order statistic of many. */
  val DmlKinds = Seq("update", "delete", "insert", "update", "merge",
    "update")
  /** Rows in a MERGE source: updates of existing keys plus new keys. */
  val MergeRows = 6
  /** ANN: queries per top-k call, k, and the recall floor of the check. */
  val TopKQueries = 4
  val RecallQueries = 12
  val RecallK = 10
  val RecallFloor = 0.8
  /** Sampled SQL reads re-run over a plain-parquet twin at the end. */
  val TwinChecks = 2

  val schema: StructType = StructType(Seq(
    StructField("id", LongType, nullable = false),
    StructField("day", IntegerType, nullable = false),
    StructField("v", LongType, nullable = false),
    StructField("name", StringType, nullable = false),
    StructField("vec", ArrayType(DoubleType, containsNull = false), nullable = false)))

  final case class Rec(id: Long, v: Long, name: String, vec: Vector[Double]) {
    def day: Int = (id % Partitions).toInt
    def row: Row = Row(id, day, v, name, vec)
    def bytes: Long = Json.rowBytes(Seq("id" -> id, "day" -> day, "v" -> v,
      "name" -> name, "vec" -> vec))
  }

  /** A SQL read as run: template, text, the generation it resolved to,
    * and its collected rows. */
  final case class SqlRead(template: String, sql: String, gen: Long,
      from: Long, rows: Seq[Row])
}

final class FactSql(ctx: Ctx, dir: String, seed: Long) extends Workload {
  import FactSql._
  private val spark = ctx.spark
  private val rnd = new scala.util.Random(seed)
  private val table = s"$dir/events"
  private val bookmark = s"$dir/_cdc_bookmark"
  private val centers = Vector.fill(Clusters, Dim)(rnd.nextGaussian() * 3)
  private val sql: SparkSession = {
    val s = GraftDml.enable(spark)
    s.conf.set("spark.sql.catalog.graft", classOf[GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.graft.root", dir)
    s.conf.set("spark.sql.catalog.graft.retain", Retain.toString)
    graft.GraftFunctions.register(s)
    s
  }

  // the model: table content after every generation still retained
  private var state = Map.empty[Long, Rec]
  private var polledState = Map.empty[Long, Rec]
  private val byGen = mutable.LinkedHashMap.empty[Long, Map[Long, Rec]]
  private var head = -1L
  private var nextKey = 0L
  private var batchId = 0L
  private var applied = 0
  private val touched = mutable.LinkedHashSet.empty[String]
  private val expected = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val seen = mutable.Map.empty[String, Long].withDefaultValue(0L)
  private val problems = mutable.ArrayBuffer.empty[String]
  private val reads = mutable.ArrayBuffer.empty[SqlRead]
  private var redelivered = 0
  private var skipped = 0
  private var polls = 0
  private var polledRows = 0L
  private var recall = 0.0
  /** The generation the latest index build or refresh covered. */
  private var indexedGen = -1L

  def storageDirs: Seq[String] = Seq(table, bookmark)
  def close(): Unit = ()

  private def vector(): Vector[Double] =
    centers(rnd.nextInt(Clusters)).map(x => x + rnd.nextGaussian() * 0.6)

  private def rec(id: Long): Rec =
    Rec(id, rnd.nextInt(1000000000).toLong, s"n${rnd.nextInt(1000000)}", vector())

  private def frame(rs: Seq[Rec]): DataFrame =
    spark.createDataFrame(rs.map(_.row).asJava, schema)

  /** A fresh key whose partition (`id % Partitions`) is `day`. */
  private def newKey(day: Int = rnd.nextInt(Partitions)): Long = {
    nextKey += 1
    nextKey * Partitions + day
  }

  /** Record a commit in the model: the content of the new generation. */
  private def commit(upserts: Seq[Rec], deletes: Seq[Long] = Nil): Unit = {
    state = state ++ upserts.map(r => r.id -> r) -- deletes
    advance()
  }

  /** Change rows a window from content `a` to content `b` must hold: the
    * feed is the net difference between two generations. */
  private def diff(a: Map[Long, Rec], b: Map[Long, Rec]): Map[String, Long] = {
    val ups = b.count { case (k, v) => a.get(k).exists(_ != v) }.toLong
    Map("insert" -> b.keySet.diff(a.keySet).size.toLong,
      "delete" -> a.keySet.diff(b.keySet).size.toLong,
      "update_pre" -> ups, "update_post" -> ups).filter(_._2 > 0)
  }


  private def advance(): Unit = {
    head += 1
    byGen(head) = state
    byGen.keys.filter(_ <= head - Retain).toList.foreach(byGen.remove)
  }

  /** The table's real head must be the model's after every write. */
  private def verifyHead(after: String): Unit = {
    val real = FactVersioned.generations(spark, table).max
    if (real != head) {
      problems += s"after $after: head generation $real, model $head"
      head = real
    }
  }

  def setup(): Unit = {
    val rs = (0 until InitialKeys).map(i => rec(newKey(i % Partitions)))
    FactVersioned.upsert(spark, table, frame(rs), Seq("id"), "day",
      retain = Retain)
    state = rs.map(r => r.id -> r).toMap
    polledState = state
    advance()
    FactAnnIndex.writeIndex(spark, table, "id", "vec", nLists = Clusters)
    indexedGen = head
    // the subscriber starts caught up with the set-up generation
    FactChangeFeed.poll(spark, table, Seq("id"), bookmark)(_ => ())
  }

  /** A batch lands in two adjacent partitions, as a stream's recent
    * days do, so its commit, compaction and index refresh stay ∝ them. */
  private def nextBatch(): Seq[Rec] = {
    val days = Seq(0, 1).map(i => ((batchId + i) % Partitions).toInt)
    val fresh = (1 to (BatchRows * NewShare).toInt)
      .map(i => rec(newKey(days(i % 2))))
    val keys = state.keys.filter(k => days.contains((k % Partitions).toInt))
      .toIndexedSeq
    val upd = mutable.LinkedHashSet.empty[Long]
    while (upd.size < BatchRows - fresh.size) upd += keys(rnd.nextInt(keys.size))
    fresh ++ upd.toSeq.map(rec)
  }

  private def refresh(): Unit = ctx.span("index.refresh") {
    FactAnnIndex.refreshIndex(spark, table, "id", "vec")
  }

  private def sinkBatch(id: Long, rows: Seq[Rec], redelivery: Boolean): Unit = {
    val compact = !redelivery && (applied + 1) % CompactEvery == 0
    ctx.write(if (redelivery) "sink_redelivery" else "sink_batch") {
      val c = ctx.span("streaming.apply_batch") {
        FactStreamSink.applyBatch(spark, table, frame(rows), Seq("id"), "day",
          "bench", id, retain = Retain)
      }
      c.foreach(x => touched ++= x.rewrittenDirs)
      val compacted = c.nonEmpty && compact
      if (compacted) {
        ctx.span("fact.compact") {
          FactVersioned.compactPartitions(spark, table, touched.toSeq.sorted,
            "day", retain = Retain)
        }
        ctx.span("fact.vacuum") { FactVersioned.vacuum(spark, table, Retain) }
      }
      refresh()
      (c, compacted)
    }.foreach { case (c, compacted) =>
      if (redelivery) {
        // counted in warm-up too, which always redelivers once
        redelivered += 1
        if (c.isEmpty) skipped += 1
        else problems += s"redelivered batch $id committed generation ${c.get.gen}"
      } else if (c.isEmpty) problems += s"batch $id was skipped"
      else {
        applied += 1
        commit(rows)
        ctx.committed(rows.size, rows.map(_.bytes).sum)
        if (compacted) { advance(); touched.clear() }
      }
    }
    verifyHead(s"batch $id")
    indexedGen = head
  }

  /** One subscriber poll; its change rows are counted against the model's
    * difference since the previous poll. */
  private def poll(): Unit = ctx.read("cdc_poll") {
    ctx.span("changefeed.poll") {
      FactChangeFeed.poll(spark, table, Seq("id"), bookmark) { w =>
        val ops = w.changes.groupBy(col("op")).count().collect()
        ops.foreach(r => seen(r.getString(0)) += r.getLong(1))
        diff(polledState, state).foreach { case (op, n) => expected(op) += n }
        polledState = state
        if (ctx.measuring) { polls += 1; polledRows += ops.map(_.getLong(1)).sum }
      }
    }
  }

  private def sqlRead(name: String): Unit = {
    val gens = byGen.keys.toIndexedSeq
    val k = state.keys.toIndexedSeq(rnd.nextInt(state.size))
    val d = rnd.nextInt(Partitions)
    val g = gens(rnd.nextInt(gens.size))
    val (template, text, resolved, from) =
        (if (gens.size < 2 && name == "table_changes") "point" else name) match {
      case "point" => ("point", s"SELECT id, day, v, name FROM graft.events WHERE id = $k",
        head, -1L)
      case "partition_agg" => ("partition_agg",
        s"SELECT count(*) AS n, sum(v) AS s, max(name) AS m FROM graft.events WHERE day = $d",
        head, -1L)
      case "version_as_of" => ("version_as_of",
        s"SELECT count(*) AS n, sum(v) AS s FROM graft.events VERSION AS OF $g WHERE day = $d",
        g, -1L)
      case _ =>
        val from = gens(rnd.nextInt(gens.size - 1))
        val to = gens.filter(_ > from)(rnd.nextInt(gens.count(_ > from)))
        ("table_changes",
          s"SELECT op, count(*) AS n FROM graft_table_changes('graft.events', 'id', $from, $to) " +
            "GROUP BY op ORDER BY op", to, from)
    }
    ctx.read(template) {
      val df = ctx.span("catalog.plan") {
        val df = sql.sql(text)
        df.queryExecution.executedPlan
        df
      }
      ctx.span("catalog.exec") { df.collect().toSeq }
    }.foreach(rows => reads += SqlRead(template, text, resolved, from, rows))
  }

  private def topK(): Unit = {
    val qs = (1 to TopKQueries).map(i => Row(i.toLong, vector()))
    val qdf = spark.createDataFrame(qs.asJava, StructType(Seq(
      StructField("qid", LongType), StructField("qvec", ArrayType(DoubleType)))))
    ctx.read("ann_topk") {
      ctx.span("index.topk") {
        FactAnnIndex.topKFor(spark, table, "vec", qdf, "qid", "qvec", RecallK)
          .collect()
      }
    }
  }

  private def dml(kind: String): Unit = {
    val keys = state.keys.toIndexedSeq
    def pick() = keys(rnd.nextInt(keys.size))
    def vecSql(v: Seq[Double]) = v.map(x => s"${x}D").mkString("array(", ", ", ")")
    val (text, ups, dels): (String, Seq[Rec], Seq[Long]) = kind match {
      case "update" =>
        val r = state(pick()).copy(v = rnd.nextInt(1000000000).toLong)
        (s"UPDATE graft.events SET v = ${r.v} WHERE id = ${r.id}", Seq(r), Nil)
      case "delete" =>
        val k = pick()
        (s"DELETE FROM graft.events WHERE id = $k", Nil, Seq(k))
      case "insert" =>
        val r = rec(newKey())
        (s"INSERT INTO graft.events BY NAME SELECT ${r.id}L AS id, ${r.day} AS day, " +
          s"${r.v}L AS v, '${r.name}' AS name, ${vecSql(r.vec)} AS vec, " +
          "CAST(NULL AS BIGINT) AS vgen", Seq(r), Nil)
      case _ =>
        val existing = mutable.LinkedHashSet.empty[Long]
        while (existing.size < MergeRows / 2) existing += pick()
        val rs = existing.toSeq.map(rec) ++ (1 to MergeRows / 2).map(_ => rec(newKey()))
        sql.createDataFrame(rs.map(_.row).asJava, schema)
          .withColumn("vgen", lit(null).cast(LongType))
          .createOrReplaceTempView("merge_src")
        ("""MERGE INTO graft.events AS t USING merge_src AS s ON t.id = s.id
           |WHEN MATCHED THEN UPDATE SET *
           |WHEN NOT MATCHED THEN INSERT *""".stripMargin, rs, Nil)
    }
    // the index catches up in the next sink write, before the next top-k
    ctx.write(s"dml_$kind") {
      ctx.span(s"catalog.dml.$kind") { sql.sql(text) }
    }.foreach { _ =>
      commit(ups, dels)
      ctx.committed(ups.size + dels.size,
        ups.map(_.bytes).sum + dels.map(k => Json.rowBytes(Seq("id" -> k))).sum)
    }
    verifyHead(s"dml $kind")
  }

  def step(): Unit = cycle(SqlTemplates, DmlKinds,
    rnd.nextDouble() < RedeliverShare)

  def warmup(): Unit = cycle(CheapTemplates :+ "table_changes", DmlKinds.distinct,
    redeliver = true)

  private def cycle(templates: Seq[String], dmls: Seq[String],
      redeliver: Boolean): Unit = {
    batchId += 1
    val rows = nextBatch()
    sinkBatch(batchId, rows, redelivery = false)
    if (redeliver) sinkBatch(batchId, rows, redelivery = true)
    poll()
    templates.foreach(sqlRead)
    topK()
    dmls.foreach(dml)
  }

  def liveBytes(): Long = {
    val data = s"$table/${FactVersioned.DataDir}"
    val fs = new org.apache.hadoop.fs.Path(table)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)
    FactVersioned.manifestFiles(spark, table).map { case (f, b) =>
      b.getOrElse(fs.getFileStatus(new org.apache.hadoop.fs.Path(s"$data/$f")).getLen)
    }.sum
  }

  /** A generation's model content as a plain parquet table. */
  private def twin(g: Long): String = {
    val p = s"$dir/twin/gen=$g"
    if (!new java.io.File(p).exists())
      frame(byGen(g).values.toSeq).write.parquet(p)
    p
  }

  private def sameRows(a: Seq[Row], b: Seq[Row]): Boolean =
    a.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|")) ==
      b.map(_.toSeq.map(String.valueOf)).sortBy(_.mkString("|"))

  def check(): (Int, Seq[String]) = {
    val out = mutable.ArrayBuffer.empty[String] ++ problems
    // 1. head = last-write-wins over every applied batch and statement
    val headRows = FactVersioned.read(spark, table)
      .select("id", "day", "v", "name", "vec").collect()
      .map(r => r.getLong(0) -> r).toMap
    if (headRows.size != state.size)
      out += s"head has ${headRows.size} rows, model ${state.size}"
    val wrong = state.values.count { m =>
      headRows.get(m.id).forall { r =>
        r.getInt(1) != m.day || r.getLong(2) != m.v || r.getString(3) != m.name ||
          r.getSeq[Double](4).zip(m.vec).exists { case (a, b) => math.abs(a - b) > 1e-9 }
      }
    }
    if (wrong > 0) out += s"$wrong head rows differ from last-write-wins"
    // 2. change-feed row totals over every poll
    Seq("insert", "update_pre", "update_post", "delete").foreach { op =>
      if (seen(op) != expected(op))
        out += s"change feed $op rows ${seen(op)}, expected ${expected(op)}"
    }
    // 3. sampled SQL reads against the same SQL over a plain-parquet twin
    //    of the generation they read (change windows against the model)
    val sample = reads.filter(r => r.template != "table_changes" &&
      byGen.contains(r.gen)).takeRight(TwinChecks)
    sample.foreach { r =>
      spark.read.parquet(twin(r.gen)).createOrReplaceTempView("events_twin")
      val twinSql = r.sql.replaceAll("graft\\.events( VERSION AS OF \\d+)?", "events_twin")
      val want = spark.sql(twinSql).collect().toSeq
      if (!sameRows(r.rows, want))
        out += s"${r.template} differs from its twin: ${r.sql} got ${r.rows} want $want"
    }
    reads.filter(_.template == "table_changes").takeRight(TwinChecks).foreach { r =>
      (byGen.get(r.from), byGen.get(r.gen)) match {
        case (Some(a), Some(b)) =>
          val want = diff(a, b)
          val got = r.rows.map(x => x.getString(0) -> x.getLong(1)).toMap
          if (got != want) out += s"${r.sql}: got $got want $want"
        case _ => ()
      }
    }
    // 4. ANN recall against exact top-k over the model, at the generation
    //    the last sink write's refresh indexed; the statements after it
    //    wait for the next sink write's refresh
    val indexed = byGen.getOrElse(indexedGen, {
      out += s"indexed generation $indexedGen is no longer retained"
      Map.empty[Long, Rec]
    })
    val qs = (1 to RecallQueries).map(i => (i.toLong, vector()))
    val qdf = spark.createDataFrame(qs.map { case (i, v) => Row(i, v) }.asJava,
      StructType(Seq(StructField("qid", LongType),
        StructField("qvec", ArrayType(DoubleType)))))
    val got = FactAnnIndex.topKFor(spark, table, "vec", qdf, "qid", "qvec",
      RecallK, gen = Some(indexedGen)).collect().groupBy(_.getLong(0))
      .map { case (q, rs) => q -> rs.map(_.getLong(1)).toSet }
    val hits = qs.map { case (q, v) =>
      val exact = Exact.topK(indexed.values.map(r => r.id -> r.vec), v, RecallK)
      (got.getOrElse(q, Set.empty[Long]) intersect exact).size
    }.sum
    recall = hits.toDouble / (RecallQueries * RecallK)
    if (recall < RecallFloor)
      out += f"ANN recall@$RecallK $recall%.3f below floor $RecallFloor"
    (3 + sample.size + reads.count(_.template == "table_changes").min(TwinChecks),
      out.toSeq)
  }

  def layerExtras(): Map[String, Double] = Map(
    "streaming.redelivery_skip_ratio" -> skipped.toDouble / math.max(1, redelivered),
    "changefeed.rows_per_poll" -> polledRows.toDouble / math.max(1, polls),
    "index.recall_at_k" -> recall)
}

/** Exact cosine top-k on the driver, the reference for recall. */
object Exact {
  def cosine(a: Seq[Double], b: Seq[Double]): Double = {
    var dot = 0.0; var na = 0.0; var nb = 0.0
    var i = 0
    while (i < a.length) {
      dot += a(i) * b(i); na += a(i) * a(i); nb += b(i) * b(i); i += 1
    }
    dot / math.sqrt(na * nb)
  }

  def topK(corpus: Iterable[(Long, Seq[Double])], q: Seq[Double],
      k: Int): Set[Long] =
    corpus.toSeq.map { case (id, v) => (id, cosine(q, v)) }
      .sortBy { case (id, s) => (-s, id) }.take(k).map(_._1).toSet
}
