package graft.operators

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.StructType

import CallSites.{callerSite, overlapped, withCallSite}

/** The persisted ANN index: IVF/SQ8/PQ index rows over a
  * [[FactVersioned]] table, kept current across its commits and queried
  * through [[AnnIndex]]'s stateless plans. Every catalog table is a
  * FactVersioned table (an unpartitioned one is a single root
  * partition), so this one index serves catalog tables, the SQL doors
  * and the ANN gates alike.
  *
  * The key design fact: FactVersioned data files are IMMUTABLE and
  * shared across generations (a commit writes only its touched
  * partitions under `_graft_vdata/vgen=<g>/`; everything else is
  * carried by manifest reference). So index rows keyed by FILE are
  * valid forever, and a generation's index is nothing more than the
  * manifest-restricted view of one shared file-keyed index:
  *
  *  - `rows/vgen=<g>/part=<dir>/` — index rows (file, id, cell, u, q,
  *    q_min, q_scale, q_sum, pq) for the data files generation `g`
  *    WROTE (`vgen=g/<dir>/...` manifest paths), sub-partitioned by
  *    source partition dir. A refresh indexes every un-indexed `vgen=`
  *    subtree — however many generations committed since the last one
  *    — with one scan and one write, so its cost is ∝ those commits'
  *    touched partitions, never the table, and its job count does not
  *    grow with the number of generations. `pq` is the m-byte
  *    product-quantized code ([[topKPq]]'s 8×-smaller candidate tier);
  *    `codebooks/` persists the sub-centroids. Files directly under
  *    `vgen=<g>/` (an unpartitioned table) have the empty dir, which
  *    lands under Spark's empty-value name `part=__HIVE_DEFAULT_PARTITION__`.
  *  - `files/vgen=<g>/` — the indexed file names (metadata-scale),
  *    published only AFTER every generation's rows of the same refresh
  *    landed, so coverage checks and crash recovery never trust
  *    half-built rows.
  *  - `centroids/`, `meta/` — IVF centroids (cell, centroid) trained
  *    once (head generation at [[writeIndex]] time); refresh assigns
  *    new files against the EXISTING centroids (standard IVF posture —
  *    retrain by re-running writeIndex on recall-monitoring cadence).
  *
  * Query ([[topK]]): resolve the requested generation, restrict the
  * index rows to its manifest — which is PURE partition pruning, no
  * join and no per-row predicate, because manifests reference files
  * all-or-nothing at (vgen, dir) granularity: a commit's fresh rows
  * enter the manifest as the COMPLETE file set of `vgen=g/<dir>` for
  * each touched dir, and carries copy a parent dir's entries
  * verbatim, so by induction every generation's view of a partition
  * dir is exactly one whole `vgen=g/<dir>` subtree. The restricted
  * rows then run one of [[AnnIndex]]'s plans — IVF+SQ8 ([[topK]]),
  * IVF+PQ ([[topKPq]]) or plain IVF ([[topKIvf]]) — with no
  * corpus-sized driver collect anywhere. Because restriction is by
  * manifest, TIME TRAVEL falls out for free: any retained generation
  * is queryable with the exact content it committed, including
  * generations older than the index.
  *
  * Staleness is intrinsic: a generation whose manifest references
  * un-indexed files fails loudly at [[topK]] ("refreshIndex first"),
  * while older generations REMAIN queryable as the head awaits
  * refresh — the right posture for a versioned store.
  *
  * Uniqueness contract: ids must be unique WITHIN each commit's content
  * (the invariant [[FactVersioned.upsert]] maintains for key-unique
  * updates). Across generations the same id legitimately recurs (one
  * row per rewrite); queries restrict to one generation before any
  * id-keyed step, so no global uniqueness is needed.
  */
object FactAnnIndex {

  val DirPrefix = "_graft_fann__"
  private val TmpDirPrefix = "_graft_fann_tmp__"

  /** Under the index dir: one private dir per in-flight refresh, which
    * stages its rows and file lists before the publish renames them. */
  private val StagingDir = "_staging"

  def indexDir(tablePath: String, vecCol: String): String =
    s"$tablePath/$DirPrefix$vecCol"

  private def rowsRoot(tablePath: String, vecCol: String) =
    new Path(indexDir(tablePath, vecCol), "rows")
  private def filesRoot(tablePath: String, vecCol: String) =
    new Path(indexDir(tablePath, vecCol), "files")

  def hasIndex(spark: SparkSession, tablePath: String, vecCol: String): Boolean = {
    val p = new Path(indexDir(tablePath, vecCol))
    p.getFileSystem(spark.sparkContext.hadoopConfiguration).exists(p)
  }

  private def fsOf(spark: SparkSession, tablePath: String) =
    new Path(tablePath)
      .getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Manifest-relative file paths (`vgen=<g>/<dir>/<file>`) of a
    * committed generation, via the public [[FactVersioned]] handle. */
  private def relFiles(
      spark: SparkSession, tablePath: String, gen: Long): Seq[String] = {
    val (abs, _, dataRoot) =
      FactVersioned.generationHandle(spark, tablePath, Some(gen))
    abs.map(_.stripPrefix(dataRoot + "/"))
  }

  /** The owning generation of a manifest-relative path — the `vgen=`
    * prefix every FactVersioned data file carries by construction. */
  private def vgenOf(rel: String): Long = {
    require(rel.startsWith(s"${FactVersioned.VGenCol}="),
      s"not a FactVersioned data path: $rel")
    rel.drop(FactVersioned.VGenCol.length + 1).takeWhile(_ != '/').toLong
  }

  /** The source partition-dir component (on-disk, Hive-escaped name)
    * of a manifest-relative path `vgen=g/<dir…>/<file>` — everything
    * between the vgen prefix and the file name, so multi-column
    * (nested-leaf) tables key their index rows by the FULL leaf
    * path. */
  private def dirOf(rel: String): String =
    rel.split('/').drop(1).dropRight(1).mkString("/")

  /** The `rows/vgen=g/part=…` child a (vgen, dir) pair lives under —
    * Spark's partitionBy escapes the `part` VALUE (which is itself an
    * on-disk dir name, `=` and `%` included) once more, so the child
    * name is the symmetric single escape of it. A root file's dir is
    * `""`, which partitionBy writes as Spark's empty-value partition
    * name (`__HIVE_DEFAULT_PARTITION__`). */
  private def rowsChild(rowsRoot: Path, g: Long, dir: String): Path = {
    import org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    val part =
      if (dir.isEmpty) ExternalCatalogUtils.DEFAULT_PARTITION_NAME
      else ExternalCatalogUtils.escapePathName(dir)
    new Path(rowsRoot, s"${FactVersioned.VGenCol}=$g/part=$part")
  }

  /** Manifest-relative path (`vgen=g/dir/file`, last three components)
    * of a scan's `_metadata.file_path`, DECODED back to the on-disk
    * names the manifest records: file_path is a URI rendering, so a
    * raw `%` or space in a Hive-escaped dir name would differ from the
    * listing-derived manifest entry if compared as strings (the
    * URI-vs-name mismatch class DataSkipping hit in r7). */
  private def relOfUri(raw: String): String = {
    val path =
      try Option(new java.net.URI(raw).getPath).getOrElse(raw)
      catch { case _: java.net.URISyntaxException => raw }
    // anchor on the vgen segment (not a fixed component count): a
    // multi-column table's relative path nests one level per column
    val segs = path.split('/')
    val i = segs.lastIndexWhere(_.startsWith(s"${FactVersioned.VGenCol}="))
    require(i >= 0, s"not a FactVersioned data path: $raw")
    segs.drop(i).mkString("/")
  }

  /** (vgen, part, file, id, cell, u, q, q_min, q_scale, q_sum, pq)
    * index rows for a file set of any mix of owning generations: read
    * ONLY (idCol, vecCol) of the given files under the head's pinned
    * types (additive evolution keeps shared column types stable; files
    * predating an added vecCol null-fill and drop out), derive the
    * manifest-relative path and its owning `vgen` from
    * `_metadata.file_path` by NAME (anchored on the `vgen=` segment,
    * so scheme/authority renderings can never break the match), assign
    * cells against the given centroids and quantize with the SAME
    * kernels the query path uses. The future yields one (vgen, id)
    * pair that repeats within its generation's content, if any. */
  private def indexRowsFor(
      spark: SparkSession,
      dataRoot: String,
      rels: Seq[String],
      pinned: StructType,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      literalCellThreshold: Int)
      : (DataFrame, scala.concurrent.Future[Option[(Long, Long)]]) = {
    import spark.implicits._
    val VGen = FactVersioned.VGenCol
    val bcBooks = spark.sparkContext.broadcast(codebooks)
    val narrow = StructType(Seq(pinned(idCol), pinned(vecCol)))
    val vgenOfUri = udf((uri: String) => vgenOf(relOfUri(uri)))
    val base = spark.read.schema(narrow)
      .parquet(rels.map(r => s"$dataRoot/$r"): _*)
      .select(
        col("_metadata.file_path").as("file_uri"),
        col(idCol).cast("long").as("id"),
        Similarity.normalized(col(vecCol)).as("u"))
      .where(col("u").isNotNull)
      .withColumn(VGen, vgenOfUri(col("file_uri")))
    // ids are unique within one commit's content (see class doc) —
    // consumers key candidate re-attach and self-exclusion on id, so
    // verify loudly, per owning generation (the same id legitimately
    // recurs across generations). The probe job runs CONCURRENT with
    // the rows write (guide §2.6): [[stageIndex]] awaits it before
    // staging any file list, so a duplicate-id build never becomes
    // queryable.
    val dupF = overlapped(spark) {
      base.groupBy(VGen, "id").count()
        .where(col("count") > 1)
        .select(col(VGen), col("id"))
        .orderBy(VGen, "id").limit(1)
        .as[(Long, Long)].collect().headOption
    }
    val rows = Similarity.withCell(base, centroids, literalCellThreshold,
        rowKey = Seq(VGen, "id"))
      .select(col("file_uri"), col(VGen), col("id"), col("cell"), col("u"))
      .as[(String, Long, Long, Int, Seq[Double])]
      .mapPartitions { it =>
        val books = bcBooks.value
        val bounds =
          Similarity.pqBounds(books.map(_.head.length).sum, books.length)
        it.map { case (uri, g, id, cell, u) =>
          val ua = u.toArray
          val (q, mn, sc, s) = Similarity.quantizeSq8(ua)
          val rel = relOfUri(uri)
          (g, dirOf(rel), rel, id, cell, u, q, mn, sc, s,
            Similarity.pqEncode(ua, books, bounds))
        }
      }
      .toDF(VGen, "part", "file", "id", "cell", "u", "q", "q_min",
        "q_scale", "q_sum", "pq")
    (rows, dupF)
  }

  /** Index `rels` — the files of any mix of owning generations — in
    * ONE pass into `stage`, in the live layout: rows under
    * `stage/rows/vgen=<g>/part=<dir>/` (a `vgen=<g>` dir for every
    * generation, empty when none of its vectors is usable) and each
    * generation's file list under `stage/files/vgen=<g>/`. One scan,
    * one duplicate-id probe keyed by (vgen, id) and one rows write,
    * however many generations `rels` spans. Fails before staging any
    * file list when a generation's content repeats an id. Returns each
    * staged generation with its files. */
  private def stageIndex(
      spark: SparkSession,
      stage: Path,
      rels: Seq[String],
      dataRoot: String,
      pinned: StructType,
      idCol: String,
      vecCol: String,
      centroids: Array[Array[Double]],
      codebooks: Array[Array[Array[Double]]],
      literalCellThreshold: Int): Seq[(Long, Seq[String])] = {
    val (rows, dupF) = indexRowsFor(spark, dataRoot, rels, pinned, idCol,
      vecCol, centroids, codebooks, literalCellThreshold)
    // no job may outlive this call even when the write fails (a retry
    // could rebuild the dir under the straggler) — resolve the probe
    // before any rethrow
    try rows.write.partitionBy(FactVersioned.VGenCol, "part")
      .parquet(new Path(stage, "rows").toString)
    finally scala.concurrent.Await.ready(dupF, Overlap.AwaitTimeout)
    scala.concurrent.Await.result(dupF, Overlap.AwaitTimeout)
      .foreach { case (g, id) =>
        throw new IllegalArgumentException(
          s"FactAnnIndex: $idCol must be unique within a generation's " +
            s"content (generation $g repeats $idCol=$id)")
      }
    val fs = stage.getFileSystem(spark.sparkContext.hadoopConfiguration)
    val conf = spark.sparkContext.hadoopConfiguration
    import spark.implicits._
    rels.groupBy(vgenOf).toSeq.sortBy(_._1).map { case (g, rs) =>
      val sorted = rs.sorted
      fs.mkdirs(new Path(stage, s"rows/${FactVersioned.VGenCol}=$g"))
      val files = new Path(stage, s"files/${FactVersioned.VGenCol}=$g")
      // metadata-scale: one driver-written file, no Spark job; an
      // oversized list takes the distributed write
      if (!DriverParquet.writeStringColumn(fs, conf, files, "file", sorted))
        sorted.toDF("file").coalesce(1).write.parquet(files.toString)
      (g, sorted)
    }
  }

  /** Build and publish the index: centroids trained on the HEAD
    * generation (deterministic lowest-hash sample, driver Lloyd's —
    * the [[Similarity.ivfTopK]] recipe), then index rows for EVERY
    * file any committed generation references, in the one pass
    * [[refreshIndex]] uses. Staged under a tmp dir and swapped in
    * whole.
    *
    * @param nLists 0 ⇒ auto-size to max(16, ⌈√n⌉) of the head count. */
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
      pqKsub: Int = 256): Unit = withCallSite(spark, callerSite()) {
    require(pqKsub >= 1 && pqKsub <= 256,
      s"FactAnnIndex.writeIndex: pqKsub must fit one byte (1..256), got $pqKsub")
    val gens = FactVersioned.generations(spark, tablePath)
    require(gens.nonEmpty,
      s"FactAnnIndex.writeIndex: no committed generations at $tablePath")
    val head = gens.max
    val (_, pinned, dataRoot) =
      FactVersioned.generationHandle(spark, tablePath, Some(head))
    require(pinned.fieldNames.contains(idCol) &&
      pinned.fieldNames.contains(vecCol),
      s"FactAnnIndex.writeIndex: head schema lacks $idCol/$vecCol")
    val fs = fsOf(spark, tablePath)

    // train on the head's committed content — the freshest corpus
    val headVecs = FactVersioned.read(spark, tablePath, Some(head))
      .select(col(idCol).cast("long").as("id"),
        Similarity.normalized(col(vecCol)).as("u"))
      .where(col("u").isNotNull)
      .cache()
    try {
      // the full count is needed ONLY for the sqrt(n) default list
      // count — with explicit nLists the training-sample collect below
      // materializes the cache and proves non-emptiness by itself, one
      // action instead of two (guide §1.2: remove passes first)
      val n = if (nLists > 0) -1L else headVecs.count()
      require(nLists > 0 || n > 0,
        s"FactAnnIndex.writeIndex: no usable vectors in $tablePath.$vecCol")
      val lists =
        if (nLists > 0) nLists
        else math.max(16, math.ceil(math.sqrt(n.toDouble)).toInt)
      val sample: Array[Array[Double]] = headVecs
        .orderBy(xxhash64(col("id")).asc, col("id").asc)
        .limit(trainCap)
        .select(col("id"), col("u"))
        .collect()
        .sortBy(_.getLong(0))
        .map(_.getSeq[Double](1).toArray)
      require(sample.nonEmpty,
        s"FactAnnIndex.writeIndex: no usable vectors in $tablePath.$vecCol")
      val centroids =
        Similarity.trainCentroids(sample, lists, maxIter = 5, seed)
      val codebooks =
        Similarity.trainPqCodebooks(sample, pqM, pqKsub, seed)

      val tmp = new Path(tablePath, TmpDirPrefix + vecCol)
      if (fs.exists(tmp)) fs.delete(tmp, true)
      val rels = gens.flatMap(g => relFiles(spark, tablePath, g))
        .distinct.sorted
      // the three tiny metadata writes are independent of the rows
      // pass — overlap them with it (guide §2.6) instead of paying one
      // stage barrier each, sequentially; publish still renames only
      // after every write completed
      import spark.implicits._
      val metaWrites = Seq(
        overlapped(spark) {
          centroids.zipWithIndex.toIndexedSeq
            .map { case (c, i) => (i, c.toSeq) }
            .toDF("cell", "centroid")
            .coalesce(1).write
            .parquet(new Path(tmp, "centroids").toString)
        },
        overlapped(spark) {
          codebooks.zipWithIndex.toIndexedSeq
            .flatMap { case (cb, sub) =>
              cb.zipWithIndex.map { case (c, i) => (sub, i, c.toSeq) } }
            .toDF("subspace", "code", "centroid")
            .coalesce(1).write
            .parquet(new Path(tmp, "codebooks").toString)
        },
        overlapped(spark) {
          Seq((sample.head.length, lists, seed, trainCap, pqM, pqKsub))
            .toDF("dim", "n_lists", "seed", "train_cap", "pq_m", "pq_ksub")
            .coalesce(1).write.parquet(new Path(tmp, "meta").toString)
        })
      // resolve ALL before any rethrow — no straggler may outlive this
      // call and race a retry's tmp rebuild
      try stageIndex(spark, tmp, rels, dataRoot, pinned, idCol, vecCol,
        centroids, codebooks, literalCellThreshold)
      finally metaWrites.foreach(
        scala.concurrent.Await.ready(_, Overlap.AwaitTimeout))
      Overlap.awaitAll(metaWrites)

      val live = new Path(indexDir(tablePath, vecCol))
      if (fs.exists(live)) fs.delete(live, true)
      require(fs.rename(tmp, live),
        s"FactAnnIndex.writeIndex: publish rename failed for $live")
    } finally headVecs.unpersist(blocking = false)
  }

  /** The indexed file set — reading the metadata-scale `files/`
    * sidecar, never the rows. Empty when the index is absent. */
  private def indexedFiles(
      spark: SparkSession, tablePath: String, vecCol: String): Set[String] = {
    val fr = filesRoot(tablePath, vecCol)
    val fs = fsOf(spark, tablePath)
    if (!fs.exists(fr)) Set.empty
    // metadata-scale string sidecar: read it on the driver (zero Spark
    // jobs — this runs on EVERY refresh, including the streaming
    // sink's per-batch maintenance); oversized/odd layouts fall back
    else DriverParquet.readStringColumn(fs,
        spark.sparkContext.hadoopConfiguration, fr, "file")
      .map(_.toSet)
      .getOrElse(spark.read.parquet(fr.toString)
        .select("file").collect().map(_.getString(0)).toSet)
  }

  /** IVF centroids of the live index, read on the driver (zero Spark
    * jobs — refresh and every query need them); an oversized or odd
    * sidecar falls back to the Spark read. */
  private def readCentroids(
      spark: SparkSession,
      tablePath: String,
      vecCol: String): Array[Array[Double]] = {
    require(hasIndex(spark, tablePath, vecCol),
      s"FactAnnIndex: no index for $vecCol at $tablePath — writeIndex first")
    val dir = new Path(indexDir(tablePath, vecCol), "centroids")
    DriverParquet.readIntKeyedDoubles(fsOf(spark, tablePath),
        spark.sparkContext.hadoopConfiguration, dir, Seq("cell"), "centroid")
      .map(_.sortBy(_._1.head).map(_._2).toArray)
      .getOrElse(spark.read.parquet(dir.toString)
        .orderBy("cell").select("centroid").collect()
        .map(_.getSeq[Double](0).toArray))
  }

  /** PQ codebooks of the live index (m × ksub sub-centroids), read on
    * the driver like [[readCentroids]]. An index written before the PQ
    * tier landed has no `codebooks/`
    * sidecar (and its `rows/` carry no `pq` column) — detected here so
    * every consumer (refresh, including [[graft.streaming.FactStreamSink]]'s
    * per-batch maintenance loop, and the pq query paths) fails with
    * rebuild guidance instead of a raw parquet path-not-found. */
  private def readCodebooks(
      spark: SparkSession,
      tablePath: String,
      vecCol: String): Array[Array[Array[Double]]] = {
    require(hasIndex(spark, tablePath, vecCol),
      s"FactAnnIndex: no index for $vecCol at $tablePath — writeIndex first")
    val cb = new Path(indexDir(tablePath, vecCol), "codebooks")
    require(fsOf(spark, tablePath).exists(cb),
      s"FactAnnIndex: the index for $vecCol at $tablePath predates the " +
        "PQ tier (no codebooks/ sidecar) — re-run writeIndex to rebuild " +
        "it with PQ codes")
    val bySubspace: Seq[(Int, Seq[Array[Double]])] =
      DriverParquet.readIntKeyedDoubles(fsOf(spark, tablePath),
          spark.sparkContext.hadoopConfiguration, cb,
          Seq("subspace", "code"), "centroid")
        .map(_.groupBy(_._1.head).toSeq.map { case (sub, rows) =>
          (sub, rows.sortBy(_._1(1)).map(_._2)) })
        .getOrElse(spark.read.parquet(cb.toString)
          .orderBy("subspace", "code")
          .select("subspace", "centroid").collect().toSeq
          .groupBy(_.getInt(0)).toSeq
          .map { case (sub, rows) =>
            (sub, rows.map(_.getSeq[Double](1).toArray)) })
    bySubspace.sortBy(_._1).map(_._2.toArray).toArray
  }

  /** Index every referenced-but-unindexed file — the `vgen=<g>/`
    * subtrees of every generation committed since the last refresh —
    * with ONE scan, one duplicate-id probe and one rows write however
    * many generations that is, so cost is ∝ those commits' touched
    * partitions and the job count is constant. New files are assigned
    * against the EXISTING centroids. The pass stages into a private
    * dir; the publish then runs under the index's [[CommitLock]]: it
    * moves each generation's rows into `rows/` with one rename, and
    * only then its file list into `files/`, so a duplicate id in any
    * generation publishes nothing, and a crash leaves at most rows
    * without a file list. Such an orphaned `rows/vgen=` subtree is
    * detected by its missing file list, discarded, and rebuilt. A
    * generation that a concurrent refresh published meanwhile is
    * left as that refresh wrote it. */
  def refreshIndex(
      spark: SparkSession,
      tablePath: String,
      idCol: String,
      vecCol: String,
      literalCellThreshold: Int = 4096): Unit =
    withCallSite(spark, callerSite()) {
    require(hasIndex(spark, tablePath, vecCol),
      s"FactAnnIndex: no index for $vecCol at $tablePath — writeIndex first")
    val gens = FactVersioned.generations(spark, tablePath)
    require(gens.nonEmpty,
      s"FactAnnIndex.refreshIndex: no committed generations at $tablePath")
    val head = gens.max
    val (_, pinned, dataRoot) =
      FactVersioned.generationHandle(spark, tablePath, Some(head))
    val referenced = gens.flatMap(g => relFiles(spark, tablePath, g)).distinct
    val fresh = referenced.toSet -- indexedFiles(spark, tablePath, vecCol)
    // centroid/codebook reads only when there is something to index —
    // this runs after EVERY streaming micro-batch (the self-healing
    // maintenance loop), where the common case is already-caught-up
    if (fresh.nonEmpty) {
      val centroids = readCentroids(spark, tablePath, vecCol)
      val codebooks = readCodebooks(spark, tablePath, vecCol)
      val fs = fsOf(spark, tablePath)
      val live = new Path(indexDir(tablePath, vecCol))
      val (rowsLive, filesLive) =
        (rowsRoot(tablePath, vecCol), filesRoot(tablePath, vecCol))
      val stage = new Path(live, s"$StagingDir/${java.util.UUID.randomUUID()}")
      val vg = FactVersioned.VGenCol
      try {
        val staged = stageIndex(spark, stage, fresh.toSeq.sorted, dataRoot,
          pinned, idCol, vecCol, centroids, codebooks, literalCellThreshold)
        // deleting an orphan is safe only while no other refresh sits
        // between its renames and its file lists — that window reads
        // exactly like an orphan — hence the lock
        CommitLock.withLocks(spark, Seq(live.toString)) {
          val covered = indexedFiles(spark, tablePath, vecCol)
          val todo = staged.filterNot(_._2.forall(covered)).map(_._1)
          fs.mkdirs(rowsLive)
          fs.mkdirs(filesLive)
          todo.foreach { g =>
            val rows = new Path(rowsLive, s"$vg=$g")
            // rows (or a stale list) without full coverage: never
            // trusted by coverage, safe to rebuild
            fs.delete(rows, true)
            fs.delete(new Path(filesLive, s"$vg=$g"), true)
            require(fs.rename(new Path(stage, s"rows/$vg=$g"), rows),
              s"FactAnnIndex.refreshIndex: could not publish $rows")
          }
          // coverage last, once every generation's rows are in place
          todo.foreach { g =>
            val files = new Path(filesLive, s"$vg=$g")
            require(fs.rename(new Path(stage, s"files/$vg=$g"), files),
              s"FactAnnIndex.refreshIndex: could not publish $files")
          }
        }
      } finally fs.delete(stage, true)
    }
  }

  /** Combined IVF+SQ8 top-k over one generation's committed content
    * (default: head), reading ONLY the sidecar — the
    * [[AnnIndex.ivfSq8Core]] plan over the manifest-restricted rows.
    * The restriction is the list of the generation's owning `rows/`
    * subtrees, so the query plan's file scans touch the index alone —
    * never `_graft_vdata`. Fails loudly when the generation references
    * un-indexed files. With `nProbe` ≥ the index's cell count the
    * answer is bit-identical to `Similarity.sq8TopK` over the
    * generation's content. */
  def topK(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      gen: Option[Long] = None,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame =
    topKImpl(spark, tablePath, vecCol, gen) { (rows, centroids) =>
      AnnIndex.ivfSq8Core(rows, centroids, k, nProbe, overFetch, roundSim,
        literalCellThreshold)
    }

  /** [[topK]] for an EXTERNAL query batch against one generation's
    * committed content — the production lookup shape; see
    * [[AnnIndex.ivfSq8Core]] for the query-batch contract (id-equality
    * self-exclusion included). */
  def topKFor(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      gen: Option[Long] = None,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame =
    topKImpl(spark, tablePath, vecCol, gen) { (rows, centroids) =>
      AnnIndex.ivfSq8Core(rows, centroids, k, nProbe, overFetch, roundSim,
        literalCellThreshold,
        queries = Some(AnnIndex.normalizedQueries(queries, qIdCol, qVecCol)))
    }

  /** FILTERED [[topK]] — hybrid search over one generation's content:
    * neighbors restricted to `allowed` ids (see
    * [[AnnIndex.ivfSq8Core]] for the recall contract). */
  def topKWhere(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      allowed: DataFrame,
      allowedIdCol: String,
      k: Int,
      gen: Option[Long] = None,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame =
    topKImpl(spark, tablePath, vecCol, gen) { (rows, centroids) =>
      AnnIndex.ivfSq8Core(rows, centroids, k, nProbe, overFetch, roundSim,
        literalCellThreshold,
        allowed = Some(AnnIndex.normalizedAllowed(allowed, allowedIdCol)))
    }

  /** [[topK]] over the PQ tier: the same generation-restricted rows
    * scored by the IVF+PQ cell-join plan ([[AnnIndex.ivfPqCore]] — ADC
    * over the persisted m-byte codes, full-codegen `PqAdcDot`, no
    * corpus collect). The 8×-smaller candidate shuffle, with time
    * travel: any retained generation queryable at PQ's recall. With
    * `nProbe` ≥ the cell count, bit-identical to `Similarity.pqTopK`
    * over the generation's content (codebooks trained on its sample). */
  def topKPq(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      gen: Option[Long] = None,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame =
    topKImpl(spark, tablePath, vecCol, gen) { (rows, centroids) =>
      AnnIndex.ivfPqCore(rows, centroids,
        readCodebooks(spark, tablePath, vecCol), k, nProbe, overFetch,
        roundSim, literalCellThreshold)
    }

  /** [[topKPq]] for an external query batch (see [[topKFor]]). */
  def topKPqFor(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      queries: DataFrame,
      qIdCol: String,
      qVecCol: String,
      k: Int,
      gen: Option[Long] = None,
      nProbe: Int = 4,
      overFetch: Int = 4,
      roundSim: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame =
    topKImpl(spark, tablePath, vecCol, gen) { (rows, centroids) =>
      AnnIndex.ivfPqCore(rows, centroids,
        readCodebooks(spark, tablePath, vecCol), k, nProbe, overFetch,
        roundSim, literalCellThreshold,
        queries = Some(AnnIndex.normalizedQueries(queries, qIdCol, qVecCol)))
    }

  /** Plain IVF top-k over one generation's content: candidates from the
    * persisted cell assignment, exact re-rank on the persisted unit
    * vectors, no quantized tier ([[AnnIndex.ivfCore]]). With an index
    * written from the head's content, bit-identical to
    * `Similarity.ivfTopK` with the index's (nLists, seed) and the same
    * `nProbe`. */
  def topKIvf(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      k: Int,
      gen: Option[Long] = None,
      nProbe: Int = 4,
      literalCellThreshold: Int = 4096): DataFrame =
    topKImpl(spark, tablePath, vecCol, gen) { (rows, centroids) =>
      AnnIndex.ivfCore(rows, centroids, k, nProbe, literalCellThreshold)
    }

  /** Resolve generation `gen` (default: head), check the index covers
    * every file it references, and run `plan` over its index rows and
    * the index's centroids. */
  private def topKImpl(
      spark: SparkSession,
      tablePath: String,
      vecCol: String,
      gen: Option[Long])(
      plan: (DataFrame, Array[Array[Double]]) => DataFrame): DataFrame =
    withCallSite(spark, callerSite()) {
    val gens = FactVersioned.generations(spark, tablePath)
    require(gens.nonEmpty, s"no committed generations at $tablePath")
    val g = gen.getOrElse(gens.max)
    require(gens.contains(g),
      s"generation $g is not committed at $tablePath")
    val rels = relFiles(spark, tablePath, g)
    val missing = rels.toSet -- indexedFiles(spark, tablePath, vecCol)
    require(missing.isEmpty,
      s"FactAnnIndex: generation $g references ${missing.size} " +
        s"un-indexed file(s) at $tablePath.$vecCol — run refreshIndex " +
        s"first (e.g. ${missing.toSeq.sorted.headOption.getOrElse("")})")
    val centroids = readCentroids(spark, tablePath, vecCol)
    // restriction IS the path list: manifests reference files
    // all-or-nothing per (vgen, dir) (see class doc), so listing
    // exactly the generation's owning subtrees restricts the index
    // with zero per-row work — no join, no predicate
    val rr = rowsRoot(tablePath, vecCol)
    val fs = fsOf(spark, tablePath)
    // a child can be legitimately absent: a dir whose rows all carried
    // null/unusable vectors indexes to zero rows (its files are still
    // listed in `files/`, so coverage holds)
    val children = rels.map(r => (vgenOf(r), dirOf(r))).distinct
      .sortBy(identity)
      .map { case (g, d) => rowsChild(rr, g, d) }
      .filter(fs.exists).map(_.toString)
    if (children.isEmpty)
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row],
        org.apache.spark.sql.types.StructType.fromDDL(
          "query_id BIGINT, neighbor_id BIGINT, rank INT, sim DOUBLE"))
    else plan(
      spark.read.option("basePath", rr.toString).parquet(children: _*),
      centroids)
  }

  /** Drop index subtrees whose owning generation's files are ALL
    * unreferenced (expired by [[FactVersioned]] retention) — whole-
    * subdir granularity, mirroring the data GC's sharing rule: a
    * subtree survives while ANY retained manifest still references one
    * of its files (partially-dead subtrees keep their dead rows, which
    * the manifest restriction filters out of every query — space traded
    * for never rewriting shared index files). Also drops the staging
    * dirs crashed refreshes left behind, once older than the claim
    * lease. */
  def gcIndex(
      spark: SparkSession, tablePath: String, vecCol: String): Unit = {
    if (!hasIndex(spark, tablePath, vecCol)) return
    val fs = fsOf(spark, tablePath)
    // a crashed refresh's staging dir: past the claim lease no live
    // refresh can still own it
    val staging = new Path(indexDir(tablePath, vecCol), StagingDir)
    if (fs.exists(staging)) fs.listStatus(staging)
      .filter(st => System.currentTimeMillis() - st.getModificationTime >
        Versioned.StaleClaimMs)
      .foreach(st => fs.delete(st.getPath, true))
    val gens = FactVersioned.generations(spark, tablePath)
    val referencedVgens: Set[Long] = gens
      .flatMap(g => relFiles(spark, tablePath, g)).distinct
      .map(vgenOf).toSet
    val rr = rowsRoot(tablePath, vecCol)
    if (!fs.exists(rr)) return
    fs.listStatus(rr).filter(_.isDirectory).map(_.getPath).foreach { vd =>
      vd.getName.stripPrefix(s"${FactVersioned.VGenCol}=").toLongOption
        .foreach { g =>
          if (!referencedVgens.contains(g)) {
            fs.delete(vd, true)
            fs.delete(new Path(filesRoot(tablePath, vecCol),
              s"${FactVersioned.VGenCol}=$g"), true)
          }
        }
    }
  }
}
