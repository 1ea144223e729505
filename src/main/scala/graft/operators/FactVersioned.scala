package graft.operators

import java.nio.charset.StandardCharsets

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.{DataFrame, Row, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types.{DataType, LongType, StructField, StructType}

/** Time travel for PARTITIONED fact tables: a generation is a MANIFEST
  * of (partition dir → file list), and a commit writes only the
  * changed partitions' files plus one manifest — the design
  * [[Versioned]]'s own doc names for the fact-table scale
  * (`Versioned.scala`: full-copy generations are dimension-scope; facts
  * version per partition). This is the lakehouse snapshot idea
  * (Iceberg manifests / Delta log) on plain parquet + parquet
  * manifests: data files are IMMUTABLE and SHARED across generations —
  * an untouched partition's manifest rows carry over verbatim, so
  * storage and write cost are ∝ changed partitions, not table size,
  * while every retained generation stays readable byte-exact.
  *
  * Layout under `tablePath/`:
  *  - `_graft_vdata/vgen=<n>/<pcol>=<val>/part-*.parquet` — the data
  *    files COMMIT `n` wrote (Hive layout, so one pinned-schema read
  *    over any file set restores the partition column AND the
  *    originating commit via path discovery; a generation's read is ONE
  *    scan, never a union per source commit).
  *  - `_graft_gens/gen=<n>/manifest/` — (dir, file) rows; `file` is
  *    relative to `_graft_vdata`. `schema.ddl` pins the generation's
  *    schema (partition-column types are never trusted to dir-name
  *    inference — same posture as [[Upsert.readPartitionedSnapshot]]).
  *    `_graft_claim` / `_graft_committed` as in [[Versioned]]: the
  *    claim's exclusive create serializes concurrent committers onto
  *    distinct numbers, the marker (written LAST) makes a generation
  *    visible, and retention never touches a fresh claimed-uncommitted
  *    generation.
  *
  * Retention deletes expired generations' MANIFESTS, then
  * garbage-collects data files no retained manifest references —
  * cross-generation sharing is respected by construction (a gen-0 file
  * still referenced by the head generation's manifest survives any
  * number of retention cycles).
  *
  * Readers go through [[read]]/[[readDirs]] (a plain
  * `spark.read.parquet(tablePath)` sees nothing — all state lives under
  * underscore dirs, exactly like the index sidecars), and only ever see
  * fully-committed generations.
  */
object FactVersioned {

  val GensDir = "_graft_gens"
  val DataDir = "_graft_vdata"

  /** Path-discovered commit column in `_graft_vdata` (dropped on read).
    * Not underscore-prefixed: partition discovery must parse it. */
  val VGenCol = "vgen"

  /** See [[Versioned.StaleClaimMs]] — same in-flight protection, and
    * the publication lease: a committer must publish within this of
    * claiming or concurrent committers may treat it as abandoned. */
  val StaleClaimMs: Long = Versioned.StaleClaimMs

  /** How long a committer waits for lower-numbered in-flight claims to
    * resolve before aborting its own commit. */
  val ResolveTimeoutMs: Long = 60L * 1000L

  final case class Commit(gen: Long, rewrittenDirs: Seq[String])

  /** Roll back an unpublished claim: its metadata dir and staged data. */
  private def abortClaim(
      fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String,
      g: Long,
      genData: Path): Unit = {
    if (fs.exists(genData)) fs.delete(genData, true)
    val meta = genMeta(tablePath, g)
    if (fs.exists(meta)) fs.delete(meta, true)
  }

  private def gensRoot(t: String) = new Path(t, GensDir)
  private def dataRoot(t: String) = new Path(t, DataDir)
  private def genMeta(t: String, g: Long) = new Path(gensRoot(t), s"gen=$g")
  private def manifestDir(t: String, g: Long) = new Path(genMeta(t, g), "manifest")

  /** Order-insensitive (name, type) view of a schema — the equality
    * BOTH schema checks in [[publishClaimed]] compare on (compat vs
    * parent, DDL-loss guard vs head): nullability is not load-bearing
    * (write paths flip it freely), field order is presentation. One
    * definition so the two notions can never silently diverge. */
  private def schemaShape(st: StructType): Seq[(String, DataType)] =
    st.fields.map(f => (f.name, f.dataType)).sortBy(_._1).toSeq

  /** `dt` normalized for exact-identity comparison: nullability forced
    * and struct field names lower-cased at every depth (neither is
    * load-bearing — see [[schemaShape]]); everything else kept. The
    * comparison [[widens]] uses where NO structural relaxation is
    * allowed (map keys). */
  private def typeShape(dt: DataType): DataType = dt match {
    case s: StructType => StructType(s.fields.map(f =>
      org.apache.spark.sql.types.StructField(
        f.name.toLowerCase, typeShape(f.dataType))))
    case a: org.apache.spark.sql.types.ArrayType =>
      org.apache.spark.sql.types.ArrayType(typeShape(a.elementType))
    case m: org.apache.spark.sql.types.MapType =>
      org.apache.spark.sql.types.MapType(
        typeShape(m.keyType), typeShape(m.valueType))
    case other => other
  }

  /** Structural type widening, `wide ⊇ narrow`: every field of
    * `narrow` is present in `wide` with a (recursively) widened type;
    * `wide` may carry extra struct fields at any depth — the nested
    * twin of the top-level additive-evolution relaxation. Arrays and
    * maps widen element-/value-wise; leaves compare per `leafOk` —
    * exact equality for every data commit ([[widens]]), plus the safe
    * TYPE widenings ([[leafWidens]]) only for the explicit `ALTER
    * COLUMN TYPE` door ([[widenFieldTypes]] — a raw data commit must
    * never retype the table implicitly). Nullability lives on fields,
    * not leaf types, and field nullability is not load-bearing here —
    * see [[schemaShape]]. */
  private def widensWith(
      narrow: DataType, wide: DataType,
      leafOk: (DataType, DataType) => Boolean): Boolean =
    (narrow, wide) match {
      case (n: StructType, w: StructType) =>
        n.fields.forall(nf =>
          w.fields.find(_.name.equalsIgnoreCase(nf.name))
            .exists(wf => widensWith(nf.dataType, wf.dataType, leafOk)))
      case (n: org.apache.spark.sql.types.ArrayType,
          w: org.apache.spark.sql.types.ArrayType) =>
        widensWith(n.elementType, w.elementType, leafOk)
      case (n: org.apache.spark.sql.types.MapType,
          w: org.apache.spark.sql.types.MapType) =>
        // keys compare EXACTLY (up to nullability and field-name case,
        // which are not load-bearing — see [[schemaShape]]): a map-key
        // struct gaining a field is not additive — carried files would
        // read key structs with null-filled fields, silently changing
        // lookup identity. The committer's structural relaxation must
        // agree with the DDL doors' rejectMapKeyStep ("keys define
        // lookup identity"), or a raw data commit could evolve what
        // ALTER explicitly rejects. Key types never widen either —
        // widened key values could collide where the narrow ones did
        // not (lookup identity again).
        typeShape(n.keyType) == typeShape(w.keyType) &&
          widensWith(n.valueType, w.valueType, leafOk)
      case (n, w) => n == w || leafOk(n, w)
    }

  private def widens(narrow: DataType, wide: DataType): Boolean =
    widensWith(narrow, wide, (_, _) => false)

  /** The SAFE leaf-type widenings (`ALTER COLUMN ... TYPE`): every
    * narrow value is exactly representable in the wide type AND
    * Spark's parquet readers fill the wide read schema from narrow
    * files directly (verified against the 4.1 vectorized reader) — so
    * the retype is METADATA-ONLY, like Delta/Iceberg type widening:
    * integral up-chain (byte→short→int→long), byte/short/int→double,
    * float→double, integrals→decimal with enough integer digits, and
    * decimal growth that loses neither integer digits nor scale.
    * long→double and int→float are EXCLUDED (lossy above 2^53 / 2^24);
    * narrowings and everything else keep their explicit full-rewrite
    * surfaces. */
  private[graft] def leafWidens(from: DataType, to: DataType): Boolean = {
    import org.apache.spark.sql.types._
    def intDigits(dt: DataType): Option[Int] = dt match {
      case ByteType => Some(3)
      case ShortType => Some(5)
      case IntegerType => Some(10)
      case LongType => Some(19)
      case _ => None
    }
    (from, to) match {
      case (ByteType, ShortType | IntegerType | LongType) => true
      case (ShortType, IntegerType | LongType) => true
      case (IntegerType, LongType) => true
      case (ByteType | ShortType | IntegerType | FloatType, DoubleType) =>
        true
      case (f, d: DecimalType) if intDigits(f).nonEmpty =>
        d.precision - d.scale >= intDigits(f).get
      case (f: DecimalType, t: DecimalType) =>
        (t.precision - t.scale >= f.precision - f.scale) &&
          t.scale >= f.scale && (t != f)
      case _ => false
    }
  }

  /** (path, dataType) of every NESTED field `content` carries beyond
    * `parent` under a shared column — the TableChanges an evolving
    * writer (INSERT BY NAME widening) needs to issue before its
    * append resolves. Only depth ≥ 2 paths: top-level extras are the
    * caller's plain addColumns. Arrays and maps are looked through;
    * shapes that do not match structurally contribute nothing (the
    * caller's standard resolution error then names the conflict). */
  def addedNestedFields(
      parent: org.apache.spark.sql.types.DataType,
      content: org.apache.spark.sql.types.DataType,
      prefix: Seq[String]): Seq[(Seq[String],
        org.apache.spark.sql.types.DataType)] =
    (parent, content) match {
      case (p: StructType, c: StructType) =>
        c.fields.toSeq.flatMap { cf =>
          p.fields.find(_.name.equalsIgnoreCase(cf.name)) match {
            case Some(pf) =>
              addedNestedFields(pf.dataType, cf.dataType, prefix :+ cf.name)
            case None if prefix.nonEmpty =>
              Seq((prefix :+ cf.name) -> cf.dataType)
            case None => Seq.empty
          }
        }
      case (p: org.apache.spark.sql.types.ArrayType,
          c: org.apache.spark.sql.types.ArrayType) =>
        addedNestedFields(p.elementType, c.elementType, prefix)
      case (p: org.apache.spark.sql.types.MapType,
          c: org.apache.spark.sql.types.MapType) =>
        addedNestedFields(p.valueType, c.valueType, prefix)
      case _ => Seq.empty
    }

  /** Tombstone keys (lower-cased dotted paths) of every field present
    * in `content` but absent from `parent`, at ANY depth — the names a
    * widening commit is ADDING, checked against the dropped-columns
    * tombstone on the shared committer so no widening door can
    * resurrect physically-carried values. */
  private def addedFieldKeys(
      parent: DataType, content: DataType,
      prefix: Seq[String]): Seq[String] = (parent, content) match {
    case (p: StructType, c: StructType) =>
      c.fields.toSeq.flatMap { cf =>
        p.fields.find(_.name.equalsIgnoreCase(cf.name)) match {
          case Some(pf) =>
            addedFieldKeys(pf.dataType, cf.dataType, prefix :+ cf.name)
          case None => Seq((prefix :+ cf.name).mkString(".").toLowerCase)
        }
      }
    case (p: org.apache.spark.sql.types.ArrayType,
        c: org.apache.spark.sql.types.ArrayType) =>
      addedFieldKeys(p.elementType, c.elementType, prefix)
    case (p: org.apache.spark.sql.types.MapType,
        c: org.apache.spark.sql.types.MapType) =>
      addedFieldKeys(p.valueType, c.valueType, prefix)
    case _ => Seq.empty
  }

  /** The properties contract every committing entry point enforces:
    * the file is newline-delimited `key\tvalue` lines, so keys must be
    * newline- and tab-free and values newline-free or the NEXT reader's
    * parse silently corrupts. */
  private def requireCleanProperties(properties: Map[String, String]): Unit =
    properties.foreach { case (k, v) =>
      require(!k.exists(c => c == '\n' || c == '\t') && !v.contains('\n'),
        s"commit property keys/values must be newline- and tab-free: $k")
    }

  /** CAS-claim the next generation number: the claim marker's
    * exclusive create serializes concurrent committers onto distinct
    * numbers (see [[Versioned.commit]]). Shared by every committing
    * entry point so the protocol cannot drift between them. */
  private def claimNext(
      fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String,
      who: String): Long = {
    val gRoot = gensRoot(tablePath)
    val present = fs.listStatus(gRoot).filter(_.isDirectory)
      .map(_.getPath.getName)
      .flatMap(n => if (n.startsWith("gen="))
        n.stripPrefix("gen=").toLongOption else None)
    var next = if (present.isEmpty) 0L else present.max + 1L
    var attempts = 0
    while (true) {
      attempts += 1
      require(attempts <= 1000,
        s"$who: could not claim a generation at $tablePath")
      // atomicCreate: bare create(overwrite=false) is check-then-act on
      // LocalFileSystem — same-instant racers could both claim a number
      if (CommitLock.atomicCreate(fs,
          new Path(genMeta(tablePath, next), Versioned.ClaimMarker)))
        return next
      next += 1
    }
    throw new IllegalStateException("unreachable")
  }

  /** Linearize publication by generation number: every lower-numbered
    * claim must RESOLVE (commit, abandon, or go stale) before `next`
    * publishes, so the head it rebases onto is final. Lease contract:
    * a committer must publish within [[StaleClaimMs]] of claiming or
    * it may be treated as abandoned. Shared by every committing entry
    * point; throws [[java.util.ConcurrentModificationException]] when
    * a lower claim stays in flight past [[ResolveTimeoutMs]]. */
  private def awaitLowerClaims(
      fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String,
      next: Long,
      who: String): Unit = {
    val gRoot = gensRoot(tablePath)
    val deadline = System.currentTimeMillis() + ResolveTimeoutMs
    def unresolvedBelow(): Seq[Long] =
      fs.listStatus(gRoot).filter(_.isDirectory).map(_.getPath)
        .flatMap { p =>
          p.getName.stripPrefix("gen=").toLongOption.filter { g =>
            g < next &&
              !fs.exists(new Path(p, Versioned.CommitMarker)) && {
                val claim = new Path(p, Versioned.ClaimMarker)
                fs.exists(claim) &&
                  System.currentTimeMillis() -
                    fs.getFileStatus(claim).getModificationTime < StaleClaimMs
              }
          }
        }.toSeq
    var pending = unresolvedBelow()
    while (pending.nonEmpty && System.currentTimeMillis() < deadline) {
      Thread.sleep(100)
      pending = unresolvedBelow()
    }
    if (pending.nonEmpty)
      throw new java.util.ConcurrentModificationException(
        s"$who: generations ${pending.mkString(",")} at $tablePath " +
          s"stayed in flight past ${ResolveTimeoutMs} ms — aborting commit " +
          s"$next (retry)")
  }

  private def fsOf(spark: SparkSession, t: String) =
    new Path(t).getFileSystem(spark.sparkContext.hadoopConfiguration)

  /** Committed generation numbers, ascending. */
  def generations(spark: SparkSession, tablePath: String): Seq[Long] = {
    val fs = fsOf(spark, tablePath)
    val root = gensRoot(tablePath)
    if (!fs.exists(root)) return Seq.empty
    fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
      .flatMap { p =>
        val n = p.getName
        if (!n.startsWith("gen=")) None
        else n.stripPrefix("gen=").toLongOption
          .filter(_ => fs.exists(new Path(p, Versioned.CommitMarker)))
      }.sorted.toSeq
  }

  private def resolveGen(
      spark: SparkSession, tablePath: String, gen: Option[Long]): Long = {
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"no committed generations at $tablePath")
    val g = gen.getOrElse(gens.max)
    require(gens.contains(g),
      s"generation $g is not committed at $tablePath " +
        s"(have ${gens.mkString(",")})")
    g
  }

  /** Per-generation record of the DECLARED touched dirs (including
    * partition deletes, which leave no manifest trace) — the conflict
    * fingerprint concurrent committers check overlap against. */
  val TouchedFile = "touched"

  /** Per-generation application-level properties (Iceberg's snapshot
    * summary posture): small provenance key/values a committer attaches
    * atomically with the commit — written before the marker, so a
    * visible generation always carries its properties. The streaming
    * sink's exactly-once batch marker rides here. */
  val PropertiesFile = "properties"

  /** A committed generation's properties (empty for generations written
    * without any). */
  def commitProperties(
      spark: SparkSession, tablePath: String, gen: Long): Map[String, String] = {
    val fs = fsOf(spark, tablePath)
    val p = new Path(genMeta(tablePath, gen), PropertiesFile)
    if (!fs.exists(p)) return Map.empty
    val in = fs.open(p)
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    text.split("\n").filter(_.nonEmpty).map { line =>
      val i = line.indexOf('\t')
      require(i > 0, s"malformed properties line at $tablePath gen=$gen")
      line.substring(0, i) -> line.substring(i + 1)
    }.toMap
  }

  /** A committed generation's declared touched-dir set. Falls back to
    * manifest-prefix inference for generations written before the
    * touched file existed — that inference cannot see partition
    * DELETES, which is exactly why the file is now written. */
  private[operators] def readTouched(
      spark: SparkSession, tablePath: String, g: Long): Set[String] =
    MetaCache.get(metaKey(spark, tablePath, g, "touched")) {
    val fs = fsOf(spark, tablePath)
    val p = new Path(genMeta(tablePath, g), TouchedFile)
    if (fs.exists(p)) {
      val in = fs.open(p)
      val text = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        new String(out.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
      text.split("\n").filter(_.nonEmpty).toSet
    } else {
      // legacy fallback (pre-touched-file generations): infer from the
      // memoized manifest rows — same result, zero Spark jobs
      manifestRows(spark, tablePath, g)
        .collect { case (d, f) if f != null && f.startsWith(s"$VGenCol=$g/") => d }
        .toSet
    }
  }

  /** Session-wide memo of IMMUTABLE per-generation metadata (VERDICT
    * r14 Next #7 — the DML-lifecycle metadata shave): a committed
    * generation's manifest file list, pinned schema, colmap and
    * touched set never change, so re-reading them on EVERY SQL
    * statement's table resolution re-ran a small Spark job (the
    * manifest) plus several file opens per statement for nothing.
    * Keyed by (table, gen, COMMIT-MARKER MTIME): the mtime pins table
    * identity across a purge/re-create reusing the same path and
    * generation numbers — one getFileStatus probe per lookup, orders
    * of magnitude cheaper than the reads it saves. Entries never need
    * invalidation (immutability); the LRU bound caps driver memory;
    * over-sized manifest lists read through uncached. A generation
    * whose marker is missing (mid-commit, or expired by retention)
    * bypasses the cache entirely. Identity assumption: marker mtime
    * at millisecond resolution — a purge + re-create + first commit
    * landing inside ONE millisecond is physically excluded by the
    * write path (the re-create's staging write alone takes longer). */
  private object MetaCache {
    private val MaxEntries = 256
    /** Manifest lists above this many files read through uncached —
      * at 100 TB a manifest can hold millions of rows and the LRU
      * must not pin gigabytes on the driver. */
    val MaxCachedFiles = 200000
    private val map = java.util.Collections.synchronizedMap(
      new java.util.LinkedHashMap[String, AnyRef](64, 0.75f, true) {
        override protected def removeEldestEntry(
            e: java.util.Map.Entry[String, AnyRef]): Boolean =
          size() > MaxEntries
      })
    def get[T <: AnyRef](key: Option[String])(compute: => T): T =
      key match {
        case None => compute
        case Some(k) =>
          val hit = map.get(k)
          if (hit != null) hit.asInstanceOf[T]
          else {
            val v = compute
            map.put(k, v)
            v
          }
      }
    def put(key: Option[String], v: AnyRef): Unit =
      key.foreach(map.put(_, v))
    def getFiltered[T <: AnyRef](key: Option[String])(compute: => T)(
        cacheable: T => Boolean): T =
      key match {
        case None => compute
        case Some(k) =>
          val hit = map.get(k)
          if (hit != null) hit.asInstanceOf[T]
          else {
            val v = compute
            if (cacheable(v)) map.put(k, v)
            v
          }
      }
  }

  /** The memo key of (kind, table, gen) — None when the generation's
    * commit marker is unreadable (mid-commit or expired), which makes
    * the lookup a plain uncached read. */
  private def metaKey(
      spark: SparkSession, tablePath: String, g: Long,
      kind: String): Option[String] =
    metaKeyFs(fsOf(spark, tablePath), tablePath, g, kind)

  private def metaKeyFs(
      fs: org.apache.hadoop.fs.FileSystem, tablePath: String, g: Long,
      kind: String): Option[String] =
    try {
      val st = fs.getFileStatus(
        new Path(genMeta(tablePath, g), Versioned.CommitMarker))
      Some(s"$kind|$tablePath|$g|${st.getModificationTime}")
    } catch { case _: java.io.IOException => None }

  private def readSchema(
      spark: SparkSession, tablePath: String, g: Long): StructType =
    MetaCache.get(metaKey(spark, tablePath, g, "schema")) {
      val fs = fsOf(spark, tablePath)
      val in = fs.open(new Path(genMeta(tablePath, g), "schema.ddl"))
      val ddl = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        new String(out.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
      StructType.fromDDL(ddl)
    }

  /** Public twin of [[manifestRows]] for callers that only need the
    * (dir, file) list — answers from the MetaCache memo (zero Spark
    * jobs on the common path) instead of a per-call manifest read. */
  def manifestFiles(
      spark: SparkSession, tablePath: String,
      gen: Long): IndexedSeq[(String, String)] =
    manifestRows(spark, tablePath, gen)

  /** A generation's (dir, file) manifest rows — memoized (immutable
    * once committed; see [[MetaCache]]). */
  private def manifestRows(
      spark: SparkSession, tablePath: String,
      g: Long): IndexedSeq[(String, String)] =
    MetaCache.getFiltered(metaKey(spark, tablePath, g, "manifest")) {
      spark.read.parquet(manifestDir(tablePath, g).toString)
        .select("dir", "file").collect()
        .map(r => (r.getString(0), r.getString(1))).toIndexedSeq
    }(_.length <= MetaCache.MaxCachedFiles)

  // ---- column mapping (ALTER TABLE RENAME COLUMN) --------------------
  //
  // A renamed column keeps its PHYSICAL name forever: data files are
  // immutable and shared across generations, so a metadata-only rename
  // cannot touch them — instead each generation may carry a `colmap`
  // file of `logical<TAB>physical` lines (the Delta column-mapping
  // idea, name-based). Reads open files under the physical schema and
  // alias to logical; writes stage under physical names, so ALL of a
  // table's files stay physically consistent regardless of when they
  // were written. An absent/empty colmap is the identity — tables that
  // never renamed take exactly the unmapped code paths.

  private def colMapPath(t: String, g: Long) = new Path(genMeta(t, g), "colmap")

  /** Generation `gen`'s logical→physical column mapping (lower-cased
    * logical keys; identity entries omitted). Empty = never renamed. */
  def generationColMap(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long] = None): Map[String, String] =
    readColMap(fsOf(spark, tablePath), tablePath,
      resolveGen(spark, tablePath, gen))

  private def readColMap(
      fs: org.apache.hadoop.fs.FileSystem,
      t: String,
      g: Long): Map[String, String] =
    MetaCache.get(metaKeyFs(fs, t, g, "colmap")) {
    val p = colMapPath(t, g)
    if (fs.exists(p)) {
    val in = fs.open(p)
    val text = try {
      val out = new java.io.ByteArrayOutputStream()
      org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
      new String(out.toByteArray, StandardCharsets.UTF_8)
    } finally in.close()
    text.split("\n").filter(_.contains("\t")).map { line =>
      val i = line.indexOf('\t')
      line.substring(0, i).toLowerCase -> line.substring(i + 1)
    }.toMap
    } else Map.empty[String, String]
  }

  /** The physical (on-file) name of logical column `name` under `cmap`. */
  private[graft] def physOf(cmap: Map[String, String], name: String): String =
    cmap.getOrElse(name.toLowerCase, name)

  /** The colmap's NESTED entries: lower-cased dotted LOGICAL path
    * (canonical walk form — container steps stripped) → physical LEAF
    * segment name. Top-level entries (no dot) stay the plain
    * logical→physical column map every earlier consumer reads; dotted
    * keys never collide with top-level lookups, so the format is
    * strictly additive (r15, nested RENAME COLUMN). */
  private def nestedMapEntries(
      cmap: Map[String, String]): Map[Seq[String], String] =
    cmap.collect { case (k, v) if k.contains('.') =>
      k.split('.').toSeq -> v }

  /** `schema` (logical) rewritten to its PHYSICAL shape under `cmap`:
    * top-level names via [[physOf]], nested struct-field LEAF names via
    * the dotted colmap entries — positions and types untouched, so a
    * positional rebind (struct cast / DSv2 batch binding) is exact.
    * Walks through arrays and map values like [[fieldAt]]. */
  private[graft] def physSchemaOf(
      schema: StructType, cmap: Map[String, String]): StructType = {
    val nested = nestedMapEntries(cmap)
    if (nested.isEmpty)
      return StructType(schema.fields.map(f =>
        f.copy(name = physOf(cmap, f.name))))
    def walk(dt: DataType, path: Seq[String]): DataType = dt match {
      case s: StructType => StructType(s.fields.map { f =>
        val p = path :+ f.name.toLowerCase
        val leaf = nested.getOrElse(p, f.name)
        f.copy(name = if (path.isEmpty) physOf(cmap, f.name) else leaf,
          dataType = walk(f.dataType, p))
      })
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = walk(a.elementType, path))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType = walk(m.valueType, path)) // keys never evolve
      case other => other
    }
    walk(schema, Nil).asInstanceOf[StructType]
  }

  /** `src` with field NAMES taken positionally from `names` at every
    * depth, and every field/container forced NULLABLE — types stay
    * `src`'s. Nullability is not load-bearing ([[schemaShape]]) and
    * the runtime frame's nullability may differ from the statically
    * pinned one (parquet reads widen to nullable), so a rename-only
    * cast must never be rejected over it. */
  private def withNamesOf(src: DataType, names: DataType): DataType =
    (src, names) match {
      case (s: StructType, n: StructType) =>
        StructType(s.fields.zip(n.fields).map { case (sf, nf) =>
          sf.copy(name = nf.name, nullable = true,
            dataType = withNamesOf(sf.dataType, nf.dataType))
        })
      case (s: org.apache.spark.sql.types.ArrayType,
          n: org.apache.spark.sql.types.ArrayType) =>
        s.copy(elementType = withNamesOf(s.elementType, n.elementType),
          containsNull = true)
      case (s: org.apache.spark.sql.types.MapType,
          n: org.apache.spark.sql.types.MapType) =>
        s.copy(valueType = withNamesOf(s.valueType, n.valueType),
          valueContainsNull = true)
      case (s, _) => s
    }

  /** Logical column `name` of `schema` as a read/stage expression over
    * its physical twin: a plain alias when only the top-level name
    * differs; a positional struct CAST (field names from the target
    * type, positions/types/nullability identical) when nested renames
    * reshape the column. Direction is chosen by the caller via
    * (fromName, toField). */
  private def bindColumn(
      fromName: String,
      toField: org.apache.spark.sql.types.StructField,
      fromType: DataType): org.apache.spark.sql.Column = {
    val c = col(fromName)
    val target = withNamesOf(fromType, toField.dataType)
    // skip the cast when no NAME actually changes (compare against the
    // same-nullability-normalized identity) — unmapped columns bind as
    // plain aliases exactly as before
    (if (target == withNamesOf(fromType, fromType)) c else c.cast(target))
      .as(toField.name)
  }

  /** One pinned-schema scan assembling a generation from its manifest's
    * file list; `dirs` (None = all) prunes at the FILE level before any
    * scan — the manifest is the skipping index. */
  private def readFiles(
      spark: SparkSession,
      tablePath: String,
      g: Long,
      dirs: Option[Seq[String]]): DataFrame = {
    val all = manifestRows(spark, tablePath, g)
    val pruned = dirs match {
      case Some(ds) if ds.nonEmpty =>
        val keep = ds.toSet; all.filter(r => keep(r._1))
      case Some(_) => IndexedSeq.empty
      case None => all
    }
    val data = dataRoot(tablePath).toString
    val files = pruned.map(r => s"$data/${r._2}")
    val schema = readSchema(spark, tablePath, g)
    val cmap = readColMap(fsOf(spark, tablePath), tablePath, g)
    // ADD COLUMN defaults apply via the read schema's field metadata:
    // the parquet reader fills them for files physically lacking the
    // column (carried pre-add files) and reads real values elsewhere.
    // Per-GENERATION record — each era reads under its own defaults.
    val defaults = readDefaults(fsOf(spark, tablePath), tablePath, g)
    if (files.isEmpty) {
      spark.createDataFrame(
        spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
    } else if (cmap.isEmpty)
      spark.read
        .schema(attachDefaults(schema, schema, defaults)
          .add(VGenCol, LongType))
        .option("basePath", data)
        .parquet(files.toIndexedSeq: _*)
        .select(schema.fieldNames.toIndexedSeq.map(col): _*)
    else {
      // renamed table: files hold PHYSICAL names — read under the
      // physical schema and bind each column back to its logical name
      // (alias for top-level renames; positional struct cast when
      // nested fields renamed — both prune/push down like projections)
      val phys = physSchemaOf(schema, cmap)
      spark.read
        .schema(attachDefaults(phys, schema, defaults)
          .add(VGenCol, LongType))
        .option("basePath", data)
        .parquet(files.toIndexedSeq: _*)
        .select(schema.fields.toIndexedSeq.zip(phys.fields).map {
          case (lf, pf) => bindColumn(pf.name, lf, pf.dataType)
        }: _*)
    }
  }

  /** (generation, commit-marker mtime millis) per committed generation,
    * ascending — see [[Versioned.generationCommitTimes]]. */
  def generationCommitTimes(
      spark: SparkSession, tablePath: String): Seq[(Long, Long)] = {
    val fs = fsOf(spark, tablePath)
    generations(spark, tablePath).map { g =>
      g -> fs.getFileStatus(
        new Path(genMeta(tablePath, g), Versioned.CommitMarker))
        .getModificationTime
    }
  }

  /** A committed generation's declared touched-dir set (Hive
    * `pcol=value` names, sorted) — the conflict-detection record,
    * surfaced publicly for `DESCRIBE HISTORY`. */
  def touchedPartitions(
      spark: SparkSession, tablePath: String, gen: Long): Seq[String] =
    readTouched(spark, tablePath, gen).toSeq.sorted

  /** A generation's partition dirs (Hive `pcol=value` names) from its
    * manifest — metadata-scale (one manifest read, no data scan). */
  def partitionDirs(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long] = None): Seq[String] = {
    val g = resolveGen(spark, tablePath, gen)
    manifestRows(spark, tablePath, g).map(_._1).distinct.sorted
  }

  /** [[upsertEvolve]] for MULTI-COLUMN partitioned tables — additive
    * schema evolution per nested leaf (same posture: new columns
    * append and null-fill; shared columns never change type). */
  def upsertEvolveBy(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String],
      retain: Int = 3,
      maxTouchedPartitions: Int = 10000): Commit = {
    require(partitionCols.nonEmpty, "no partition columns given")
    val gens = generations(spark, tablePath)
    if (gens.isEmpty)
      return upsertBy(spark, tablePath, updates, keys, partitionCols,
        retain, maxTouchedPartitions)
    val touchedRows = updates.select(partitionCols.map(col): _*)
      .distinct().limit(maxTouchedPartitions + 1).collect()
    require(touchedRows.length <= maxTouchedPartitions,
      s"upsertEvolveBy touches more than $maxTouchedPartitions partitions")
    requireKeyUnique(updates, keys, "FactVersioned.upsertEvolveBy")
    val touched: Seq[Seq[Any]] = touchedRows.toIndexedSeq
      .map(r => partitionCols.indices.map(r.get))
    val basis = gens.max
    val physCols = physicalPartitionColumns(spark, tablePath, partitionCols)
    val touchedDirs = touched.map(v => partitionDirPath(physCols, v))
    val current = readDirs(spark, tablePath, Some(basis), touchedDirs)
    replacePartitionsBy(spark, tablePath,
      Upsert.upsertEvolve(current, updates, keys),
      partitionCols, touched, retain, basisGen = Some(basis))
  }

  /** Expire generation metadata beyond `retain` and GC data files no
    * retained manifest references — the lakehouse `VACUUM`, exposing
    * the retention sweep every commit already runs for on-demand
    * maintenance (the SQL `VACUUM` statement routes here). In-flight
    * claimed generations are never touched. Returns the expired
    * generation numbers, ascending. */
  def vacuum(
      spark: SparkSession, tablePath: String, retain: Int): Seq[Long] = {
    require(retain >= 1, "vacuum must retain at least the head generation")
    val committed = generations(spark, tablePath)
    require(committed.nonEmpty,
      s"FactVersioned.vacuum: no committed generations at $tablePath")
    val floor = committed.takeRight(retain).head
    val dropped = committed.filter(_ < floor)
    retentionSweep(spark, tablePath, retain, committed.max)
    dropped
  }

  /** A committed generation's physical handle: (absolute data-file
    * paths, pinned schema WITHOUT [[VGenCol]], data-root path for
    * `basePath`-style partition discovery). The SQL catalog surface
    * ([[graft.catalog.GraftCatalog]]) builds its native parquet table
    * from exactly this, so SQL reads see the same file set and pinned
    * types as [[read]]. */
  def generationHandle(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long]): (Seq[String], StructType, String) = {
    val g = resolveGen(spark, tablePath, gen)
    val data = dataRoot(tablePath).toString
    val files = manifestRows(spark, tablePath, g).map(r => s"$data/${r._2}")
    (files, readSchema(spark, tablePath, g), data)
  }

  /** (vgen-relative file path, recorded byte size) per file of a
    * generation, straight from its manifest — metadata-scale (one
    * manifest read, NO per-file namenode calls). Sizes are recorded at
    * commit time for freshly staged files and carried verbatim with
    * their manifest rows; files written by commits predating size
    * recording read as None (callers fall back to a file-status call
    * for exactly those). */
  def manifestFiles(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long] = None): Seq[(String, Option[Long])] = {
    val g = resolveGen(spark, tablePath, gen)
    val m = spark.read.parquet(manifestDir(tablePath, g).toString)
    val sel =
      if (m.columns.contains("bytes"))
        m.select(col("file"), col("bytes").cast(LongType))
      else m.select(col("file"), lit(null).cast(LongType).as("bytes"))
    sel.collect().toIndexedSeq.map(r =>
      (r.getString(0), if (r.isNullAt(1)) None else Some(r.getLong(1))))
  }

  /** Per-leaf-dir manifest file counts of a generation — the
    * fragmentation signal the unscoped `OPTIMIZE` selects on.
    * Metadata-scale: one manifest read, grouped on the recorded `dir`
    * column (never re-parsed from file paths). */
  def manifestFileCounts(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long] = None): Map[String, Long] = {
    val g = resolveGen(spark, tablePath, gen)
    spark.read.parquet(manifestDir(tablePath, g).toString)
      .groupBy(col("dir")).agg(count(lit(1)).as("n"))
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
  }

  /** Read a generation (default: latest committed). */
  def read(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long] = None): DataFrame =
    readFiles(spark, tablePath, resolveGen(spark, tablePath, gen), None)

  /** Read only `dirs` of a generation — file-pruned via the manifest. */
  def readDirs(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long],
      dirs: Seq[String]): DataFrame =
    readFiles(spark, tablePath, resolveGen(spark, tablePath, gen), Some(dirs))

  /** Stats-pruned generation read: open only the files whose
    * manifest-embedded column bounds (recorded by commits passing
    * `statsCols` — see [[replacePartitions]]) intersect EVERY range,
    * then apply the exact row-level residual, so the result equals
    * `read(...).where(AND_i(col_i BETWEEN lo_i AND hi_i))` regardless
    * of pruning sharpness. Conservative on missing stats: a file
    * carried from a stats-less commit (null stat cells) is always
    * read; a recorded all-null column (nonnull == 0) is skipped — its
    * rows cannot satisfy a range predicate. This is the manifest
    * doing Iceberg's job: file-level skipping WITHIN a partition, on
    * top of the partition-level pruning [[readDirs]] already does. */
  def readWhere(
      spark: SparkSession,
      tablePath: String,
      gen: Option[Long],
      ranges: Seq[DataSkipping.ColRange],
      dirs: Option[Seq[String]] = None): DataSkipping.PrunedScan = {
    require(ranges.nonEmpty, "readWhere: at least one range required")
    val g = resolveGen(spark, tablePath, gen)
    val m0 = spark.read.parquet(manifestDir(tablePath, g).toString)
    val m = dirs match {
      case Some(ds) if ds.nonEmpty => m0.where(col("dir").isin(ds: _*))
      case Some(_) => m0.where(lit(false))
      case None => m0
    }
    // manifest stats are recorded under PHYSICAL names (they travel
    // with the files, which never rename) — translate range lookups
    val cmap = readColMap(fsOf(spark, tablePath), tablePath, g)
    def statName(c: String) = physOf(cmap, c)
    val keep = ranges.map { r =>
      if (!m.columns.contains(s"min__${statName(r.colName)}")) lit(true)
      else col(s"nonnull__${statName(r.colName)}").isNull ||
        (col(s"nonnull__${statName(r.colName)}") > 0 &&
          col(s"max__${statName(r.colName)}") >= r.lower &&
          col(s"min__${statName(r.colName)}") <= r.upper)
    }.reduce(_ && _)
    val total = m.count()
    val files = m.where(keep).select("file").collect().map(_.getString(0))
    val data = dataRoot(tablePath).toString
    val schema = readSchema(spark, tablePath, g)
    val residual = ranges
      .map(r => col(r.colName) >= r.lower && col(r.colName) <= r.upper)
      .reduce(_ && _)
    val defaults = readDefaults(fsOf(spark, tablePath), tablePath, g)
    val df =
      if (files.isEmpty)
        spark.createDataFrame(
          spark.sparkContext.emptyRDD[org.apache.spark.sql.Row], schema)
      else if (cmap.isEmpty)
        spark.read
          .schema(attachDefaults(schema, schema, defaults)
            .add(VGenCol, LongType))
          .option("basePath", data)
          .parquet(files.map(f => s"$data/$f").toIndexedSeq: _*)
          .where(residual)
          .select(schema.fieldNames.toIndexedSeq.map(col): _*)
      else {
        val phys = physSchemaOf(schema, cmap)
        // bind to logical FIRST, then the logical-name residual applies
        spark.read
          .schema(attachDefaults(phys, schema, defaults)
            .add(VGenCol, LongType))
          .option("basePath", data)
          .parquet(files.map(f => s"$data/$f").toIndexedSeq: _*)
          .select(schema.fields.toIndexedSeq.zip(phys.fields).map {
            case (lf, pf) => bindColumn(pf.name, lf, pf.dataType)
          }: _*)
          .where(residual)
      }
    DataSkipping.PrunedScan(df,
      DataSkipping.PruneReport(total, files.length.toLong))
  }

  /** Commit a new generation whose `touched` partitions' content is
    * exactly `content` (a touched value absent from `content` is a
    * partition DELETE); every other partition's manifest rows carry
    * over verbatim — no data file outside the touched set is written,
    * read, or copied. */
  /** @param basisGen the generation `content` was DERIVED from, when it
    *   was (upsert's read-merge); conflict detection runs against this
    *   basis, so an intervener committing between the read and the
    *   claim is caught even when it lands before our claim. None =
    *   content is independent of prior state (pure replace) — the
    *   claim-time head is the basis. */
  /** @param preCommit invoked INSIDE the commit protocol — after this
    *   commit's claim is linearized (every lower-numbered claim
    *   resolved, so the committed history below it is final) and the
    *   overlap check passed, before anything becomes visible. A throw
    *   aborts the claim cleanly. This is the transactional-validation
    *   hook (Delta's txnVersion re-check inside the commit retry loop):
    *   a check-then-act caller (read marker → commit) re-validates its
    *   read here, where a concurrent committer can no longer slip
    *   between check and publish. */
  def replacePartitions(
      spark: SparkSession,
      tablePath: String,
      content: DataFrame,
      partitionCol: String,
      touched: Seq[Any],
      retain: Int = 3,
      basisGen: Option[Long] = None,
      properties: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      preCommit: () => Unit = () => ()): Commit =
    replacePartitionsBy(spark, tablePath, content, Seq(partitionCol),
      touched.map(Seq(_)), retain, basisGen, properties, statsCols,
      preCommit)

  /** The Hive leaf-dir path of one partition tuple:
    * `c1=v1/c2=v2/...` (escaped per segment). */
  def partitionDirPath(cols: Seq[String], vals: Seq[Any]): String = {
    require(cols.length == vals.length,
      s"partition tuple arity ${vals.length} != columns ${cols.length}")
    cols.zip(vals).map { case (c, v) =>
      Upsert.partitionDirName(c, v) }.mkString("/")
  }

  /** [[replacePartitions]] for MULTI-COLUMN partitioning (VERDICT r10
    * Next #7 — 100 TB fact tables usually partition by (date, source)):
    * `touched` is a list of partition TUPLES in `partitionCols` order,
    * each naming one nested Hive leaf dir `c1=v1/c2=v2/...`; the
    * manifest, touched-set conflict record, write-amp contract and
    * retention GC all key on those leaf-dir path strings, so every
    * single-column property (∝-touched commits, shared carried files,
    * overlap detection, time travel) holds per LEAF. Single-column
    * tables are the `Seq(col)` special case — [[replacePartitions]]
    * delegates here. */
  def replacePartitionsBy(
      spark: SparkSession,
      tablePath: String,
      content: DataFrame,
      partitionCols: Seq[String],
      touched: Seq[Seq[Any]],
      retain: Int = 3,
      basisGen: Option[Long] = None,
      properties: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      preCommit: () => Unit = () => (),
      colMap: Option[Map[String, String]] = None,
      defaults: Option[Map[String, String]] = None,
      typeWiden: Boolean = false,
      tblProps: Option[Map[String, String]] = None): Commit = {
    require(retain >= 1, "retain must keep at least the new generation")
    require(partitionCols.nonEmpty, "no partition columns given")
    requireCleanProperties(properties)
    partitionCols.foreach { pc =>
      require(content.columns.contains(pc),
        s"content lacks partition column $pc")
      require(pc != VGenCol, s"column name $VGenCol is reserved")
    }
    require(!content.columns.contains(VGenCol),
      s"column name $VGenCol is reserved by FactVersioned")
    val fs = fsOf(spark, tablePath)
    val gRoot = gensRoot(tablePath)
    if (!fs.exists(gRoot)) {
      // first commit = table creation: enforce the filesystem contract
      // ONCE, loudly (atomic exclusive-create + rename — see
      // CommitLock.requireAtomicCommitContract); existing tables are
      // never re-probed
      CommitLock.requireAtomicCommitContract(fs, gRoot, "FactVersioned")
      fs.mkdirs(gRoot)
    }

    val next = claimNext(fs, tablePath, "FactVersioned")
    // From here to the commit marker, ANY failure must roll the claim
    // back — a leaked fresh claim would make later committers wait out
    // the full resolve timeout for a writer that is already dead.
    val genData = new Path(dataRoot(tablePath), s"$VGenCol=$next")
    val commit = try {
      publishClaimed(spark, tablePath, content, partitionCols, touched,
        basisGen, properties, statsCols, fs, gRoot, next, genData,
        preCommit, colMap, defaults, typeWiden, tblProps)
    } catch {
      case e: Throwable =>
        abortClaim(fs, tablePath, next, genData)
        throw e
    }
    retentionSweep(spark, tablePath, retain, next)
    commit
  }

  /** The post-claim commit body (staging → linearize → conflict check →
    * manifest → marker); see [[replacePartitions]]. */
  private def publishClaimed(
      spark: SparkSession,
      tablePath: String,
      content: DataFrame,
      partitionCols: Seq[String],
      touched: Seq[Seq[Any]],
      basisGen: Option[Long],
      properties: Map[String, String],
      statsCols: Seq[String],
      fs: org.apache.hadoop.fs.FileSystem,
      gRoot: Path,
      next: Long,
      genData: Path,
      preCommit: () => Unit,
      colMapOverride: Option[Map[String, String]] = None,
      defaultsOverride: Option[Map[String, String]] = None,
      typeWiden: Boolean = false,
      tblPropsOverride: Option[Map[String, String]] = None): Commit = {
    val parentAtClaim = generations(spark, tablePath).lastOption
    val presentCols = content.columns.map(_.toLowerCase).toSet

    // the generation's logical→physical mapping: a rename commit pins
    // its own ([[renameColumns]]); every other commit INHERITS the
    // parent's, restricted to the columns still present (a dropped
    // mapped column takes its entry with it). Empty = identity — the
    // staging/read paths below are byte-for-byte the unmapped code.
    val cmap: Map[String, String] = colMapOverride.getOrElse {
      val parentMap = parentAtClaim
        .map(readColMap(fs, tablePath, _)).getOrElse(Map.empty)
      // nested entries (dotted keys) ride with their top column — a
      // stale dotted entry for a since-dropped nested field is inert
      // (every consumer walks the pinned schema, never the map alone)
      parentMap.filter { case (l, _) =>
        presentCols(l.takeWhile(_ != '.')) }
    }
    // ADD COLUMN defaults travel with the generation exactly like the
    // colmap: inherited (restricted to columns still present — a drop
    // retires its default), or pinned by the DDL door that changes them
    val defs: Map[String, String] = defaultsOverride.getOrElse {
      parentAtClaim.map(readDefaults(fs, tablePath, _))
        .getOrElse(Map.empty)
        .filter { case (c, _) => presentCols(c) }
    }
    // TABLE PROPERTIES inherit verbatim (they name no columns) unless
    // the SET/UNSET door pins its own record
    val tprops: Map[String, String] = tblPropsOverride.getOrElse {
      parentAtClaim.map(readTblProps(fs, tablePath, _))
        .getOrElse(Map.empty)
    }

    // the on-disk tree and the manifest `dir` strings are keyed by the
    // PHYSICAL partition column names (column mapping pins them at
    // first write, exactly like data columns' on-file names) — callers
    // pass logical names; never-renamed tables take the identity
    val physPartitionCols = partitionCols.map(c => physOf(cmap, c))
    val touchedDirs =
      touched.map(v => partitionDirPath(physPartitionCols, v)).distinct
    // a commit PINNING its own mapping is the metadata-only rename door
    // ([[renameColumns]] — which validated the bijective shape); data
    // must never stage under a hand-picked map
    require(colMapOverride.isEmpty || touchedDirs.isEmpty,
      "FactVersioned: a column-mapping override is metadata-only — " +
        "data commits inherit the parent generation's mapping")
    // the retype relaxation belongs to the metadata-only ALTER door
    // exclusively — a data commit under it could stage wide values
    // while carrying incompatible dirs unchecked
    require(!typeWiden || touchedDirs.isEmpty,
      "FactVersioned: type widening is metadata-only — data commits " +
        "never retype the table")

    // RETRY-CONTRACT CLASSIFICATION (claim-time twin of the DDL-loss
    // guard at the linearization point below): when DDL (rename/add/
    // drop) landed between this commit's BASIS read and its claim, the
    // compat + tombstone checks below would run the basis-derived
    // content against the POST-DDL head schema and throw a
    // NON-retryable IllegalArgumentException whose message
    // ("previously DROPPED" / "not compatible") misdescribes a
    // transient race — e.g. a rename tombstones `v` while an upsert
    // carrying `v` is in flight, and the upsert dies instead of
    // retrying. Detect the basis-vs-claim-head metadata drift FIRST
    // and classify it as the retryable ConcurrentModificationException
    // — the same retry-against-head contract as a partition conflict.
    // The IAEs below then fire only when the claim-time head still
    // equals the basis (a genuine resurrect / incompatibility). Fast
    // path (basis == head at claim, the no-race common case): zero
    // extra reads. Same carries-nothing exemption as the
    // linearization-point guard: a commit that touches every head
    // partition binds no carried file to its metadata.
    for (b <- basisGen; pg <- parentAtClaim if pg > b) {
      val drift =
        schemaShape(readSchema(spark, tablePath, b)) !=
          schemaShape(readSchema(spark, tablePath, pg)) ||
          readColMap(fs, tablePath, b) != readColMap(fs, tablePath, pg)
      if (drift) {
        val parentDirs = manifestRows(spark, tablePath, pg)
          .map(_._1).toSet
        if ((parentDirs -- touchedDirs.toSet).nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"FactVersioned: the schema or column mapping of $tablePath " +
              s"changed after this commit's basis generation $b (a " +
              s"rename/add/drop landed concurrently, by generation $pg) " +
              "— the content was derived under the old metadata; retry " +
              "the operation against the new head")
      }
    }
    parentAtClaim.filter(_ => colMapOverride.isEmpty).foreach { pg =>
      val ps = readSchema(spark, tablePath, pg)
      // full compatibility, not field-name sets: a silent TYPE change
      // would pin a schema.ddl that CARRIED-OVER parent files were not
      // written under, failing late (or mis-reading) on generation
      // reads. Order-insensitive; nullability is not load-bearing here
      // (write paths flip it freely). Three relaxations:
      //  - strictly ADDITIVE evolution (every parent column present
      //    with its type; new columns appended) is always allowed —
      //    carried files read under the new pinned schema null-fill
      //    the added columns (Spark's absent-parquet-column semantics),
      //    the lakehouse add-column posture ([[upsertEvolve]]);
      //  - strictly NARROWING evolution (every content column present
      //    in the parent with its type) is allowed for PURE-METADATA
      //    commits only (touched empty — [[dropColumns]]): explicit-
      //    schema parquet reads simply never project the dropped
      //    column out of carried files. A data-staging commit with a
      //    missing column stays rejected — accepting it would let any
      //    upsert silently narrow the table schema;
      //  - a commit that carries NOTHING (touched ⊇ every parent
      //    partition) may change anything: no old file enters the new
      //    manifest, and prior generations keep their own schemas.
      if (schemaShape(ps) != schemaShape(content.schema)) {
        // additive/narrowing are STRUCTURAL (see [[widens]]): a struct
        // gaining a nested field is additive exactly like a table
        // gaining a column — carried files null-fill the field on read
        // (parquet schema clipping, arrays of structs included); a
        // struct losing one is narrowing — reads under the narrowed
        // pinned schema simply never request the field
        // the explicit retype door ([[widenFieldTypes]]) relaxes the
        // leaf comparison to the SAFE widenings; every data commit
        // keeps exact leaves — an INSERT can never retype the table
        val additive =
          if (typeWiden) widensWith(ps, content.schema, leafWidens)
          else widens(ps, content.schema)
        val narrowing = touchedDirs.isEmpty && widens(content.schema, ps)
        lazy val carriedDirs =
          manifestRows(spark, tablePath, pg).map(_._1).toSet --
            touchedDirs.toSet
        // the dropped-column tombstone is enforced HERE, on the shared
        // committer, so EVERY widening door (addColumns, upsertEvolve,
        // upsertEvolveBy, raw replacePartitionsBy) hits it — a revived
        // name over carried files would silently resurrect the stale
        // physical values those files still hold. Nested fields are
        // checked by their dotted tombstone keys, which anchor on the
        // PHYSICAL top-segment name (see canonicalKey — the key must
        // survive a rename of the containing column).
        val revived = addedFieldKeys(ps, content.schema, Nil)
          .map { k =>
            val dot = k.indexOf('.')
            if (dot < 0) k
            else physOf(cmap, k.substring(0, dot)).toLowerCase +
              k.substring(dot)
          }
          .filter(droppedColumns(spark, tablePath).contains)
        require(revived.isEmpty || carriedDirs.isEmpty,
          s"FactVersioned: column(s) ${revived.mkString(", ")} were " +
            "previously DROPPED — carried data files still physically " +
            "hold their old values, which this widening commit would " +
            "silently resurrect. Rewrite every partition (full touch) " +
            "or use a fresh table path to reuse the name.")
        if (!additive && !narrowing) {
          require(carriedDirs.isEmpty,
            s"FactVersioned: content schema ${content.schema.toDDL} is " +
              s"not compatible with generation $pg schema ${ps.toDDL} — " +
              "dropping or retyping columns must touch every partition " +
              "(full rewrite); partitions " +
              s"${carriedDirs.toSeq.sorted.mkString(",")} would carry " +
              "incompatible files under the new pinned schema")
        }
      }
    }

    // stage this commit's data files under their own vgen dir; leaf
    // dirs nest one level per partition column. Mapped tables stage
    // under PHYSICAL names — column values in files AND partition dir
    // names alike — so every file of the table shares one physical
    // namespace regardless of when (or under which logical schema) it
    // was written.
    if (fs.exists(genData)) fs.delete(genData, true) // stale-claim debris
    // Metadata-only doors (rename/add/drop/widen/properties/restore)
    // pass a statically-empty frame (createDataFrame over an emptyRDD —
    // zero partitions); its write job stages nothing and creates no dir
    // (the q156/q165 gates assert the dir's ABSENCE), yet still paid a
    // full write-job + committer cycle per DDL. Detect the zero-
    // partition shape statically (no job) and skip the write — on-disk
    // result identical. Any plan this can't prove empty writes as
    // before.
    val staticallyEmpty = content.queryExecution.logical match {
      case l: org.apache.spark.sql.execution.LogicalRDD =>
        l.rdd.getNumPartitions == 0
      case lr: org.apache.spark.sql.catalyst.plans.logical.LocalRelation =>
        lr.data.isEmpty
      case _ => false
    }
    if (!staticallyEmpty) {
      val toStage =
        if (cmap.isEmpty) content
        else {
          // stage under PHYSICAL names at every depth: alias the top
          // name; a positional struct cast renames nested fields
          val physStage = physSchemaOf(
            StructType(content.schema.fields), cmap)
          content.select(content.schema.fields.toIndexedSeq
            .zip(physStage.fields).map { case (lf, pf) =>
              bindColumn(lf.name, pf, lf.dataType)
            }: _*)
        }
      toStage.write.partitionBy(physPartitionCols: _*)
        .parquet(genData.toString)
    }
    def leafDirs(base: Path, depth: Int): Array[String] =
      if (!fs.exists(base)) Array.empty
      else if (depth == 1)
        fs.listStatus(base).filter(_.isDirectory).map(_.getPath.getName)
      else fs.listStatus(base).filter(_.isDirectory).flatMap(d =>
        leafDirs(d.getPath, depth - 1).map(n => s"${d.getPath.getName}/$n"))
    val stagedDirs = leafDirs(genData, partitionCols.length)
    val undeclared = stagedDirs.toSet -- touchedDirs.toSet
    require(undeclared.isEmpty,
      s"FactVersioned: content contains partitions not declared touched: " +
        s"${undeclared.toSeq.sorted.mkString(",")}")

    // non-overlapping concurrent writers all land (each rebases its
    // carried rows over the real new head); overlapping ones abort
    awaitLowerClaims(fs, tablePath, next, "FactVersioned")

    val head = generations(spark, tablePath).lastOption
    val parentGen = basisGen.orElse(parentAtClaim).getOrElse(-1L)
    if (head.exists(_ > parentGen)) {
      // someone committed since our basis: overlap is computed from each
      // intervener's PERSISTED touched set — inferring it from manifest
      // file prefixes is blind to partition DELETEs (a deleted dir
      // leaves no `vgen=<g>/` rows at all), which would let a
      // concurrent upsert of the same partition silently resurrect the
      // deleted rows from its stale basis read
      val interveners = generations(spark, tablePath).filter(_ > parentGen)
      val theirTouched =
        interveners.flatMap(readTouched(spark, tablePath, _)).toSet
      val overlap = theirTouched.intersect(touchedDirs.toSet)
      if (overlap.nonEmpty)
        throw new java.util.ConcurrentModificationException(
          s"FactVersioned: partitions ${overlap.toSeq.sorted.mkString(",")} " +
            s"were committed concurrently at $tablePath — retry the upsert " +
            "against the new head")
    }

    // DDL-LOSS GUARD: metadata commits (rename/add/drop/restore)
    // declare an EMPTY touched set, so the partition-overlap check
    // above is blind to them — yet this commit is about to pin a
    // schema + column mapping DERIVED FROM ITS BASIS generation. If an
    // intervener changed either since that basis, publishing would
    // silently REVERT the DDL (the r13 documented race: an ALTER
    // RENAME during an in-flight MERGE became a no-op with no error).
    // Re-validate at the linearization point, where interveners are
    // final, and fail with the same retry-against-head contract as a
    // partition conflict. Exemptions, both structural: a commit that
    // carries NOTHING (touches every head partition) binds no head
    // file to its metadata — the "full rewrite may change anything"
    // relaxation; a basis-less commit (parentGen -1, concurrent first
    // writers) compares its own content schema instead. Fast path
    // (head == basis): zero extra reads.
    head.filter(_ > parentGen).foreach { hg =>
      val headSchema = schemaShape(readSchema(spark, tablePath, hg))
      val headMap = readColMap(fs, tablePath, hg)
      val (basisSchema, basisMap) =
        if (parentGen < 0)
          (schemaShape(content.schema), Map.empty[String, String])
        else (schemaShape(readSchema(spark, tablePath, parentGen)),
          readColMap(fs, tablePath, parentGen))
      if (basisSchema != headSchema || basisMap != headMap) {
        val headDirs = manifestRows(spark, tablePath, hg)
          .map(_._1).toSet
        if ((headDirs -- touchedDirs.toSet).nonEmpty)
          throw new java.util.ConcurrentModificationException(
            s"FactVersioned: the schema or column mapping of $tablePath " +
              s"changed after this commit's basis generation $parentGen " +
              s"(a rename/add/drop landed concurrently, by generation " +
              s"$hg) — publishing would silently revert that DDL; " +
              "retry against the new head")
      }
    }

    // linearized-history validation point: all generations below `next`
    // are final, nothing of `next` is visible yet (see replacePartitions
    // scaladoc) — a throw here rolls the claim back
    preCommit()

    import spark.implicits._
    // per-file byte sizes ride the manifest (free: the listing already
    // has them), so DESCRIBE DETAIL / future file-skipping stats answer
    // from the manifest instead of an O(files) driver getFileStatus
    // loop; carried rows keep the sizes their own commit recorded
    val fresh: Seq[(String, String, Long)] = stagedDirs.toIndexedSeq.flatMap { d =>
      fs.listStatus(new Path(genData, d))
        .filter(f => f.isFile && f.getPath.getName.endsWith(".parquet"))
        .map(f => (d, s"$VGenCol=$next/$d/${f.getPath.getName}", f.getLen))
    }
    // DRIVER-SIDE MANIFEST PUBLISH (optimization guide §1.2 step 1 +
    // §5 "the driver should do almost no data work" — and a manifest
    // at metadata scale is no data work): the per-commit manifest job
    // (read parent manifest → filter touched dirs → union fresh rows →
    // coalesce(1) write) moves only KBs yet paid a full Spark
    // job/stage-barrier on EVERY commit — pure scheduling floor for
    // the ~60 DML/DDL gates. When no stats aggregation is needed and
    // the parent manifest is metadata-scale (≤ DriverManifestMaxBytes,
    // all-primitive columns), the same rows are copied and written on
    // the driver with parquet-hadoop — zero Spark jobs — and the
    // (dir,file) list is seeded into MetaCache so the post-commit
    // retention sweep doesn't pay a first-read job either. Ineligible
    // commits (stats columns over fresh files, an oversized or exotic
    // parent manifest) take the Spark job exactly as before — at
    // 100 TB a million-file manifest stays a distributed write.
    val driverManifest: Option[IndexedSeq[(String, String)]] =
      if (statsCols.nonEmpty && fresh.nonEmpty) None
      else writeManifestDriverSide(spark, fs, tablePath, head,
        touchedDirs.toSet, fresh, manifestDir(tablePath, next))
    val manifestSchema: StructType = driverManifest match {
      case Some(_) =>
        val base: Seq[org.apache.spark.sql.types.StructField] = head match {
          case None => Seq.empty
          case Some(pg) =>
            val mdir = manifestDir(tablePath, pg).toString
            MetaCache.get(metaKey(spark, tablePath, pg, "mschema")) {
              spark.read.parquet(mdir).schema
            }.fields.toSeq
        }
        val have = base.map(_.name).toSet
        StructType((base ++ Seq(
          org.apache.spark.sql.types.StructField("dir",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("file",
            org.apache.spark.sql.types.StringType),
          org.apache.spark.sql.types.StructField("bytes",
            org.apache.spark.sql.types.LongType))
          .filterNot(f => have(f.name))).map(_.copy(nullable = true)))
      case None =>
        // manifest-embedded per-file stats (the Iceberg manifest
        // posture: column bounds travel WITH the file list, so a
        // generation read prunes files before any data scan — see
        // readWhere). One extra aggregation pass over the freshly
        // staged files only; carried rows keep whatever stats their
        // own commit recorded (or nulls, read conservatively).
        val freshDf = {
          val baseRows = fresh.toDF("dir", "file", "bytes")
          if (statsCols.isEmpty || fresh.isEmpty) baseRows
          else {
            val staged = spark.read
              .option("basePath", genData.toString).parquet(genData.toString)
            // stats `file` is absolute (scheme-qualified): recover the
            // vgen-relative (leaf-dir path, file name) by anchoring on
            // this commit's own `vgen=N/` segment — depth-agnostic, so
            // multi-column (nested-dir) partitions match too
            val marker = java.util.regex.Pattern.quote(genData.getName)
            // staged files hold physical names; stats are recorded
            // under them (readWhere translates its lookups), so stat
            // columns stay name-consistent across every generation's
            // carried rows
            val stats = DataSkipping.statsOf(staged,
              statsCols.map(physOf(cmap, _)))
              .withColumn("s_fname", element_at(split(col("file"), "/"), -1))
              .withColumn("s_fdir",
                regexp_extract(col("file"), s"$marker/(.*)/[^/]+$$", 1))
              .drop("file")
            baseRows
              .withColumn("fname", element_at(split(col("file"), "/"), -1))
              .join(stats, col("dir") === col("s_fdir") &&
                col("fname") === col("s_fname"), "left")
              .drop("fname", "s_fname", "s_fdir")
          }
        }
        // rebase: carry from the RESOLVED head, not the claim-time
        // parent — a non-overlapping intervener's changes are thereby
        // preserved. The parent manifest's schema is memoized
        // (immutable once committed, like its rows): passing it to the
        // read skips the footer-inference job that otherwise ran on
        // EVERY commit.
        val carried = head match {
          case None => spark.emptyDataset[(String, String)].toDF("dir", "file")
          case Some(pg) =>
            val mdir = manifestDir(tablePath, pg).toString
            val ms = MetaCache.get(metaKey(spark, tablePath, pg, "mschema")) {
              spark.read.parquet(mdir).schema
            }
            spark.read.schema(ms).parquet(mdir)
              .where(!col("dir").isin(touchedDirs: _*))
        }
        val manifestOut = carried.unionByName(freshDf, allowMissingColumns = true)
        manifestOut.coalesce(1).write
          .parquet(manifestDir(tablePath, next).toString)
        StructType(manifestOut.schema.fields.map(_.copy(nullable = true)))
    }
    // pin the schema METADATA-FREE: toDDL renders CURRENT_DEFAULT
    // metadata as a DEFAULT clause that fromDDL cannot parse back
    // (defaults live in their own table-level record), and content
    // read back from this very store carries read-side metadata
    val ddl = stripFieldMetadata(content.schema).toDDL
      .getBytes(StandardCharsets.UTF_8)
    val out = fs.create(new Path(genMeta(tablePath, next), "schema.ddl"), true)
    try out.write(ddl) finally out.close()
    if (cmap.nonEmpty) {
      val cm = fs.create(colMapPath(tablePath, next), true)
      try cm.write(cmap.toSeq.sorted
        .map { case (l, p) => s"$l\t$p" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally cm.close()
    }
    if (defs.nonEmpty) {
      val df0 = fs.create(defaultsPath(tablePath, next), true)
      try df0.write(defs.toSeq.sorted
        .map { case (c, v) => s"$c\t$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally df0.close()
    }
    if (tprops.nonEmpty) {
      val tp = fs.create(tblPropsPath(tablePath, next), true)
      try tp.write(tprops.toSeq.sorted
        .map { case (k, v) => s"$k\t$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally tp.close()
    }
    // the DECLARED touched set (staged dirs ∪ partition deletes) — the
    // conflict-detection record later committers check overlap against.
    // Hive-escaped dir names (newline-safe), one per line, before the
    // marker so a visible generation always carries it.
    val tf = fs.create(new Path(genMeta(tablePath, next), TouchedFile), true)
    try tf.write(touchedDirs.sorted.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally tf.close()
    if (properties.nonEmpty) {
      val pf = fs.create(
        new Path(genMeta(tablePath, next), PropertiesFile), true)
      try pf.write(properties.toSeq.sorted
        .map { case (k, v) => s"$k\t$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally pf.close()
    }
    fs.create(new Path(genMeta(tablePath, next), Versioned.CommitMarker),
      true).close()
    // seed the manifest-schema memo for this generation (readable only
    // now that the marker exists — metaKey pins identity on its mtime);
    // a driver-written manifest also seeds the (dir, file) row memo, so
    // the retention sweep below and the next resolution never pay a
    // first-read job for it
    MetaCache.put(metaKey(spark, tablePath, next, "mschema"), manifestSchema)
    driverManifest.foreach { rows =>
      if (rows.length <= MetaCache.MaxCachedFiles)
        MetaCache.put(metaKey(spark, tablePath, next, "manifest"), rows)
    }
    Commit(next, stagedDirs.toIndexedSeq.sorted)
  }

  /** Parent manifests above this size take the distributed write —
    * at 100 TB a manifest can hold millions of rows and the driver
    * must not copy it single-threaded. */
  private val DriverManifestMaxBytes = 8L * 1024L * 1024L

  /** Copy the parent manifest minus `touchedDirs` plus `fresh` rows
    * into ONE parquet file at `outDir`, entirely on the driver
    * (parquet-hadoop Group API — zero Spark jobs). Returns the new
    * manifest's (dir, file) rows for the MetaCache seed, or None when
    * ineligible (oversized / multi-schema / non-primitive parent), in
    * which case the caller runs the distributed write unchanged. Row
    * semantics are exactly the Spark path's: carried rows keep every
    * column verbatim, rows whose `dir` is touched (or null) drop out,
    * fresh rows null-fill any stats columns. */
  private def writeManifestDriverSide(
      spark: SparkSession,
      fs: org.apache.hadoop.fs.FileSystem,
      tablePath: String,
      head: Option[Long],
      touchedDirs: Set[String],
      fresh: Seq[(String, String, Long)],
      outDir: Path): Option[IndexedSeq[(String, String)]] = {
    import scala.jdk.CollectionConverters._
    import org.apache.parquet.example.data.simple.SimpleGroup
    import org.apache.parquet.hadoop.example.GroupReadSupport
    import org.apache.parquet.schema.{LogicalTypeAnnotation, MessageType, PrimitiveType, Type, Types}
    import org.apache.parquet.schema.PrimitiveType.PrimitiveTypeName._
    val conf = spark.sparkContext.hadoopConfiguration
    try {
      val parentFiles = head match {
        case None => Seq.empty[org.apache.hadoop.fs.FileStatus]
        case Some(pg) =>
          val fl = fs.listStatus(manifestDir(tablePath, pg)).filter(f =>
            f.isFile && f.getPath.getName.endsWith(".parquet")).toSeq
          if (fl.isEmpty || fl.map(_.getLen).sum > DriverManifestMaxBytes)
            return None
          fl.sortBy(_.getPath.getName)
      }
      val parentType: Option[MessageType] = parentFiles.headOption.map { f0 =>
        val mt = DriverParquet.footerSchema(conf, f0)
        // every other part-file must agree exactly (coalesce(1) writes
        // one; be robust to more, bail on disagreement)
        if (parentFiles.tail.exists(f =>
            DriverParquet.footerSchema(conf, f) != mt)) return None
        mt
      }
      // copyable = flat optional/required primitives we have typed
      // getters for; anything else (groups, repeated, INT96, fixed)
      // reads through the Spark path
      def copyable(t: Type): Boolean = t.isPrimitive &&
        !t.isRepetition(Type.Repetition.REPEATED) &&
        (t.asPrimitiveType().getPrimitiveTypeName match {
          case BINARY | INT32 | INT64 | DOUBLE | FLOAT | BOOLEAN => true
          case _ => false
        })
      parentType.foreach { mt =>
        if (!mt.getFields.asScala.forall(copyable)) return None
      }
      def strField(n: String) = Types.optional(BINARY)
        .as(LogicalTypeAnnotation.stringType()).named(n)
      def longField(n: String) = Types.optional(INT64).named(n)
      val baseFields: Seq[Type] =
        parentType.map(_.getFields.asScala.toSeq).getOrElse(Seq.empty)
      val names = baseFields.map(_.getName).toSet
      val outType = new MessageType("spark_schema",
        (baseFields ++ Seq(strField("dir"), strField("file"),
          longField("bytes")).filterNot(f => names(f.getName))).asJava)
      // dir/file/bytes must carry the expected physical types for the
      // fresh-row adds below
      def primOf(n: String) =
        outType.getType(outType.getFieldIndex(n)).asPrimitiveType()
          .getPrimitiveTypeName
      if (primOf("dir") != BINARY || primOf("file") != BINARY ||
          primOf("bytes") != INT64) return None
      val dirIdx = outType.getFieldIndex("dir")
      val fileIdx = outType.getFieldIndex("file")
      val bytesIdx = outType.getFieldIndex("bytes")

      val rows = IndexedSeq.newBuilder[(String, String)]
      val writer = DriverParquet.partFileWriter(fs, conf, outDir, outType)
      try {
        parentType.foreach { pt =>
          val pDirIdx = pt.getFieldIndex("dir")
          val pFileIdx = pt.getFieldIndex("file")
          val pFields = pt.getFields.asScala.toIndexedSeq
          parentFiles.foreach { f =>
            val reader = org.apache.parquet.hadoop.ParquetReader
              .builder(new GroupReadSupport(), f.getPath)
              .withConf(conf).build()
            try {
              var g = reader.read()
              while (g != null) {
                // a null dir is dropped by the Spark path's
                // !isin(...) too (three-valued logic)
                if (g.getFieldRepetitionCount(pDirIdx) > 0) {
                  val dirVal = g.getString(pDirIdx, 0)
                  if (!touchedDirs.contains(dirVal)) {
                    val ng = new SimpleGroup(outType)
                    pFields.zipWithIndex.foreach { case (ft, i) =>
                      if (g.getFieldRepetitionCount(i) > 0) {
                        val oi = outType.getFieldIndex(ft.getName)
                        ft.asPrimitiveType().getPrimitiveTypeName match {
                          case BINARY => ng.add(oi, g.getBinary(i, 0))
                          case INT32 => ng.add(oi, g.getInteger(i, 0))
                          case INT64 => ng.add(oi, g.getLong(i, 0))
                          case DOUBLE => ng.add(oi, g.getDouble(i, 0))
                          case FLOAT => ng.add(oi, g.getFloat(i, 0))
                          case BOOLEAN => ng.add(oi, g.getBoolean(i, 0))
                          case other => throw new IllegalStateException(
                            s"unreachable: $other passed copyable()")
                        }
                      }
                    }
                    writer.write(ng)
                    rows += ((dirVal,
                      if (g.getFieldRepetitionCount(pFileIdx) > 0)
                        g.getString(pFileIdx, 0) else null))
                  }
                }
                g = reader.read()
              }
            } finally reader.close()
          }
        }
        fresh.foreach { case (d, fl, b) =>
          val ng = new SimpleGroup(outType)
          ng.add(dirIdx, d)
          ng.add(fileIdx, fl)
          ng.add(bytesIdx, b)
          writer.write(ng)
          rows += ((d, fl))
        }
      } finally writer.close()
      Some(rows.result())
    } catch {
      // never fail the commit from here: any surprise (listing race,
      // odd footer, write error) falls back to the Spark write. The
      // fallback REQUIRES a clean slate — Spark's ErrorIfExists mode
      // rejects an existing output dir, and a torn part-file would
      // corrupt later manifest reads — so drop whatever this attempt
      // created before reading through.
      case _: java.io.IOException =>
        try fs.delete(outDir, true)
        catch { case _: java.io.IOException => () }
        None
    }
  }

  /** Fail when `updates` carries more than one row per key — the
    * MERGE-cardinality validation (Postgres: "ON CONFLICT DO UPDATE
    * command cannot affect row a second time"; Delta: the
    * multiple-source-matches error). One map-side-combining count over
    * the updates — noise next to the partition rewrite it guards. */
  private[graft] def requireKeyUnique(
      updates: DataFrame, keys: Seq[String], who: String): Unit = {
    val dupe = updates.groupBy(keys.map(col): _*)
      .agg(count(lit(1)).as("__graft_n"))
      .where(col("__graft_n") > 1)
      .limit(1).collect()
    if (dupe.nonEmpty) {
      val ex = keys.zipWithIndex
        .map { case (k, i) => s"$k=${dupe.head.get(i)}" }.mkString(", ")
      throw new IllegalStateException(
        s"$who: MERGE cardinality violation — updates are not key-unique " +
          s"on (${keys.mkString(", ")}): key ($ex) has " +
          s"${dupe.head.getLong(keys.length)} source rows, each of which " +
          "would modify the same target row. Deduplicate the source " +
          "first (Upsert.batchWinners newest-wins) or fix the source " +
          "query.")
    }
  }

  /** Did a schema/column-mapping DDL land after `basis`? True only when
    * a NEWER committed generation exists whose schema shape or column
    * mapping differs from the basis generation's — the precondition for
    * reclassifying a derive-time AnalysisException as the retryable
    * concurrent-DDL drift (see the catch in [[upsert]]). Metadata-scale
    * reads only (MetaCache-memoized schema/colmap sidecars). */
  private def metadataDriftedSince(
      spark: SparkSession, tablePath: String, basis: Long): Boolean = {
    val head = generations(spark, tablePath) match {
      case gs if gs.nonEmpty => gs.max
      case _ => return false
    }
    if (head <= basis) return false
    val fs = fsOf(spark, tablePath)
    schemaShape(readSchema(spark, tablePath, basis)) !=
      schemaShape(readSchema(spark, tablePath, head)) ||
      readColMap(fs, tablePath, basis) != readColMap(fs, tablePath, head)
  }

  /** True when `src`'s shape equals a RETAINED generation's schema
    * OLDER than `basis` while differing from the basis's: the caller
    * derived its source frame under metadata that a concurrent DDL has
    * since replaced — the stale-source twin of [[metadataDriftedSince]]
    * for races that land BEFORE the basis resolves (door reads head,
    * DDL commits, upsert resolves post-DDL basis). Such a source is
    * re-derivable: retrying against the new head succeeds, exactly the
    * Delta/Iceberg MetadataChangedException posture. Shape comparison
    * normalizes nullability and nested-name case away (neither is
    * load-bearing — see [[schemaShape]]/[[typeShape]]); a source that
    * matches NO committed generation (e.g. legitimate additive
    * evolution, or a genuinely wrong frame) never matches here and
    * keeps its original error. */
  private def staleSourceShape(
      spark: SparkSession, tablePath: String, basis: Long,
      src: StructType): Boolean = {
    def shape(st: StructType): Seq[(String, DataType)] =
      st.fields.map(f => (f.name.toLowerCase, typeShape(f.dataType)))
        .sortBy(_._1).toSeq
    val olders = generations(spark, tablePath).filter(_ < basis)
    if (olders.isEmpty) return false
    val srcShape = shape(src)
    srcShape != shape(readSchema(spark, tablePath, basis)) &&
      olders.exists(g => shape(readSchema(spark, tablePath, g)) == srcShape)
  }

  /** Upsert into the latest generation: touched partitions' new content
    * = current rows whose key has no update + the updates; commits via
    * [[replacePartitions]], so only touched partitions are read
    * (manifest-pruned) or written.
    *
    * Updates must be key-unique — ENFORCED via [[requireKeyUnique]]
    * (not just documented): two source rows sharing a key would both
    * survive the anti-join and commit duplicate keys, the silent
    * corruption Postgres and Delta both reject. Dedup deliberately
    * first ([[Upsert.batchWinners]] newest-wins) when the source
    * carries versions.
    *
    * Keys are assumed partition-stable: an update row whose key
    * currently lives in a DIFFERENT (hence untouched) partition does
    * not remove that old row — the commit only rewrites the updates'
    * own partitions. Partition-moving changes must be an explicit
    * DELETE (old partition) + upsert, or a [[replacePartitions]] over
    * both partitions. [[graft.catalog.GraftDml]]'s SQL MERGE detects
    * and rejects this shape. */
  def upsert(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      retain: Int = 3,
      maxTouchedPartitions: Int = 10000,
      properties: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      preCommit: () => Unit = () => ()): Commit = {
    val touchedRows = updates.select(partitionCol).distinct()
      .limit(maxTouchedPartitions + 1).collect()
    require(touchedRows.length <= maxTouchedPartitions,
      s"upsert touches more than $maxTouchedPartitions partitions — " +
        "this is a rewrite, not an incremental commit")
    requireKeyUnique(updates, keys, "FactVersioned.upsert")
    val touched = touchedRows.map(_.get(0)).toIndexedSeq
    val gens = generations(spark, tablePath)
    val commit =
      if (gens.isEmpty)
        replacePartitions(spark, tablePath, updates, partitionCol,
          touched, retain, properties = properties, statsCols = statsCols,
          preCommit = preCommit)
      else {
        val basis = gens.max // the head this merge is derived from
        try {
          val physCol = physicalPartitionColumns(
            spark, tablePath, Seq(partitionCol)).head
          val touchedDirs =
            touched.map(v => Upsert.partitionDirName(physCol, v))
          val current = readDirs(spark, tablePath, Some(basis), touchedDirs)
          val keep = current.join(
            updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
          replacePartitions(spark, tablePath, keep.unionByName(updates),
            partitionCol, touched, retain, basisGen = Some(basis),
            properties = properties, statsCols = statsCols,
            preCommit = preCommit)
        } catch {
          // The carry/union above ANALYZES eagerly, and parts of the
          // derive (column-mapping resolution, nested-struct alignment)
          // read the table's CURRENT metadata — a rename/add/drop
          // landing between `basis` and here can make that analysis
          // fail (e.g. UNION INCOMPATIBLE_COLUMN_TYPE) before the
          // claim-time drift guard can classify it. That is the same
          // retryable race, not a caller error: reclassify it as the
          // standard drift ConcurrentModificationException — but ONLY
          // when the head's schema/colmap really moved past the basis;
          // a genuinely malformed source (metadata unchanged) keeps
          // its original analysis error. Two drift directions: the DDL
          // landed AFTER the basis resolved (metadataDriftedSince), or
          // BEFORE it — the caller built `updates` against the head it
          // saw, a DDL committed, and this upsert resolved the
          // post-DDL basis, so the source's shape matches an OLDER
          // generation (staleSourceShape). Both are re-derivable races,
          // not statement errors.
          case e: org.apache.spark.sql.AnalysisException
              if metadataDriftedSince(spark, tablePath, basis) ||
                staleSourceShape(spark, tablePath, basis, updates.schema) =>
            throw new java.util.ConcurrentModificationException(
              s"FactVersioned: the schema or column mapping of $tablePath " +
                s"changed after this commit's basis generation $basis (a " +
                "rename/add/drop landed concurrently; the upsert's " +
                "content was derived under the old metadata: " +
                s"${e.getClass.getSimpleName}) — retry the operation " +
                "against the new head")
        }
      }
    recordMergeKeys(spark, tablePath, keys)
    commit
  }

  /** The table's partition column name, recovered from the head
    * generation's manifest dir names (Hive `pcol=value` forms,
    * unescaped). Fails loudly on a table whose head holds no
    * partitions (nothing to recover from — callers that know the
    * column should pass it instead). */
  def partitionColumn(spark: SparkSession, tablePath: String): String =
    partitionColumns(spark, tablePath) match {
      case Seq(one) => one
      case many => throw new IllegalArgumentException(
        s"FactVersioned.partitionColumn: $tablePath is partitioned by " +
          s"(${many.mkString(", ")}) — use partitionColumns / the *By " +
          "entry points for multi-column tables")
    }

  /** The table's partition column names in nesting order, recovered
    * from the newest retained generation whose manifest holds
    * partitions (nested Hive `c1=v1/c2=v2` forms, unescaped) — the
    * layout is a table constant, so an EMPTY head (a TRUNCATE commit)
    * recovers it from history. Fails loudly only when no retained
    * generation holds a partition (callers that know the columns
    * should pass them instead). */
  /** [[partitionColumns]] translated to the head generation's LOGICAL
    * names through the column mapping — the names SQL and API users
    * see. Dir names (and [[partitionColumns]]) stay PHYSICAL forever:
    * a renamed partition column keeps its on-disk dir spelling exactly
    * like a renamed data column keeps its on-file name, so renames
    * never move or rewrite a partition tree. Never-renamed tables
    * return [[partitionColumns]] verbatim. */
  def logicalPartitionColumns(
      spark: SparkSession, tablePath: String): Seq[String] = {
    val phys = partitionColumns(spark, tablePath)
    val cmap = generationColMap(spark, tablePath)
    if (cmap.isEmpty) return phys
    // TOP-LEVEL entries only: a dotted NESTED entry whose physical leaf
    // happens to equal a partition column's physical name (struct field
    // physically 'y' on a table partitioned by 'y') must not hijack the
    // reverse lookup (ADVICE r15 #2 — the same fix as GraftFunctions'
    // and FactChangeFeed's reverse maps)
    val rev = cmap.filterNot(_._1.contains("."))
      .map { case (l, p) => p.toLowerCase -> l }
    val schema = readSchema(spark, tablePath,
      generations(spark, tablePath).max)
    phys.map { p =>
      val logical = rev.getOrElse(p.toLowerCase, p)
      // the colmap stores lower-cased logical keys — recover the
      // pinned schema's actual spelling
      schema.fieldNames.find(_.equalsIgnoreCase(logical)).getOrElse(logical)
    }
  }

  /** The head generation's PHYSICAL spellings of (logical or physical)
    * partition column names — the dir-derivation seam every pre-commit
    * partition pruning shares. Identity when the table never renamed.
    * ONE metadata read — callers hoist it outside per-value loops. */
  private[graft] def physicalPartitionColumns(
      spark: SparkSession, tablePath: String,
      cols: Seq[String]): Seq[String] = {
    val cmap = generationColMap(spark, tablePath)
    if (cmap.isEmpty) cols else cols.map(c => physOf(cmap, c))
  }

  def partitionColumns(spark: SparkSession, tablePath: String): Seq[String] = {
    val g = resolveGen(spark, tablePath, None)
    val dir = generations(spark, tablePath).reverse.iterator
      .map(gg => manifestRows(spark, tablePath, gg).headOption.map(_._1))
      .find(_.nonEmpty).flatten
    require(dir.nonEmpty,
      s"FactVersioned.partitionColumns: generation $g of $tablePath has " +
        "no partitions (nor does any retained generation) — pass the " +
        "partition columns explicitly")
    dir.get.split("/").toSeq.map { seg =>
      val eq = seg.indexOf('=')
      require(eq > 0,
        s"FactVersioned.partitionColumns: malformed partition dir '$seg'")
      org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .unescapePathName(seg.substring(0, eq))
    }
  }

  /** [[upsert]] for MULTI-COLUMN partitioned tables: the touched set
    * is the updates' distinct partition TUPLES, each naming one nested
    * leaf dir — write-amp is exactly those leaves (the q144 gate
    * asserts it on disk). Same key-uniqueness enforcement and
    * partition-stability contract as [[upsert]], per tuple. */
  def upsertBy(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keys: Seq[String],
      partitionCols: Seq[String],
      retain: Int = 3,
      maxTouchedPartitions: Int = 10000,
      properties: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil,
      preCommit: () => Unit = () => ()): Commit = {
    require(partitionCols.nonEmpty, "no partition columns given")
    val touchedRows = updates.select(partitionCols.map(col): _*)
      .distinct().limit(maxTouchedPartitions + 1).collect()
    require(touchedRows.length <= maxTouchedPartitions,
      s"upsertBy touches more than $maxTouchedPartitions partitions — " +
        "this is a rewrite, not an incremental commit")
    requireKeyUnique(updates, keys, "FactVersioned.upsertBy")
    val touched: Seq[Seq[Any]] = touchedRows.toIndexedSeq
      .map(r => partitionCols.indices.map(r.get))
    val gens = generations(spark, tablePath)
    val commit =
      if (gens.isEmpty)
        replacePartitionsBy(spark, tablePath, updates, partitionCols,
          touched, retain, properties = properties, statsCols = statsCols,
          preCommit = preCommit)
      else {
        val basis = gens.max
        val physCols =
          physicalPartitionColumns(spark, tablePath, partitionCols)
        val touchedDirs = touched.map(v => partitionDirPath(physCols, v))
        val current = readDirs(spark, tablePath, Some(basis), touchedDirs)
        val keep = current.join(
          updates.select(keys.map(col): _*).distinct(), keys, "left_anti")
        replacePartitionsBy(spark, tablePath, keep.unionByName(updates),
          partitionCols, touched, retain, basisGen = Some(basis),
          properties = properties, statsCols = statsCols,
          preCommit = preCommit)
      }
    recordMergeKeys(spark, tablePath, keys)
    commit
  }

  /** [[append]] for MULTI-COLUMN partitioned tables — INSERT INTO
    * semantics over nested leaf dirs; cost ∝ touched leaves. */
  def appendBy(
      spark: SparkSession,
      tablePath: String,
      rows: DataFrame,
      partitionCols: Seq[String],
      retain: Int = 3,
      maxTouchedPartitions: Int = 10000,
      properties: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Commit = {
    require(partitionCols.nonEmpty, "no partition columns given")
    val touchedRows = rows.select(partitionCols.map(col): _*)
      .distinct().limit(maxTouchedPartitions + 1).collect()
    require(touchedRows.length <= maxTouchedPartitions,
      s"appendBy touches more than $maxTouchedPartitions partitions — " +
        "this is a rewrite, not an incremental commit")
    val touched: Seq[Seq[Any]] = touchedRows.toIndexedSeq
      .map(r => partitionCols.indices.map(r.get))
    val gens = generations(spark, tablePath)
    if (gens.isEmpty)
      return replacePartitionsBy(spark, tablePath, rows, partitionCols,
        touched, retain, properties = properties, statsCols = statsCols)
    val basis = gens.max
    val physCols = physicalPartitionColumns(spark, tablePath, partitionCols)
    val touchedDirs = touched.map(v => partitionDirPath(physCols, v))
    val current = readDirs(spark, tablePath, Some(basis), touchedDirs)
    replacePartitionsBy(spark, tablePath, current.unionByName(rows),
      partitionCols, touched, retain, basisGen = Some(basis),
      properties = properties, statsCols = statsCols)
  }

  /** Append `rows` to the latest generation (INSERT INTO semantics —
    * no key dedup): each touched partition's new content = its current
    * rows ∪ the appended rows; commits via [[replacePartitions]], so
    * cost ∝ touched partitions. */
  def append(
      spark: SparkSession,
      tablePath: String,
      rows: DataFrame,
      partitionCol: String,
      retain: Int = 3,
      maxTouchedPartitions: Int = 10000,
      properties: Map[String, String] = Map.empty,
      statsCols: Seq[String] = Nil): Commit = {
    val touchedRows = rows.select(partitionCol).distinct()
      .limit(maxTouchedPartitions + 1).collect()
    require(touchedRows.length <= maxTouchedPartitions,
      s"append touches more than $maxTouchedPartitions partitions — " +
        "this is a rewrite, not an incremental commit")
    val touched = touchedRows.map(_.get(0)).toIndexedSeq
    val gens = generations(spark, tablePath)
    if (gens.isEmpty)
      return replacePartitions(spark, tablePath, rows, partitionCol,
        touched, retain, properties = properties, statsCols = statsCols)
    val basis = gens.max
    val physCol = physicalPartitionColumns(
      spark, tablePath, Seq(partitionCol)).head
    val touchedDirs =
      touched.map(v => Upsert.partitionDirName(physCol, v))
    val current = readDirs(spark, tablePath, Some(basis), touchedDirs)
    replacePartitions(spark, tablePath, current.unionByName(rows),
      partitionCol, touched, retain, basisGen = Some(basis),
      properties = properties, statsCols = statsCols)
  }

  /** Compact `dirs` of the head generation: rewrite each listed
    * partition's (possibly many, accumulated-across-commits) files as
    * one fresh commit whose CONTENT is unchanged — the
    * `rewrite_data_files` maintenance action of the lakehouse stores,
    * here just a content-preserving [[replacePartitions]]. Untouched
    * partitions keep sharing their existing files; older generations
    * still reference the pre-compaction files until retention expires
    * them (compaction never breaks time travel). Each compacted
    * partition lands as ONE file (`repartition` on the partition
    * column clusters a partition's rows into a single task). */
  /** @param zorderCols non-empty ⇒ the rewrite CLUSTERS each
    *   partition's rows along the Morton curve of these columns
    *   (Delta/Iceberg `OPTIMIZE ZORDER BY`), writing
    *   `filesPerPartition` z-contiguous files per partition instead of
    *   one — per-file raw-column envelopes come out tight in EVERY
    *   z-dimension, which is what makes `statsCols` + [[readWhere]]
    *   prune multi-column boxes.
    * @param statsCols manifest-embedded per-file bounds recorded by
    *   the compaction commit (see [[replacePartitions]]). */
  def compactPartitions(
      spark: SparkSession,
      tablePath: String,
      dirs: Seq[String],
      partitionCol: String,
      retain: Int = 3,
      zorderCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      zorderBits: Int = 12,
      filesPerPartition: Int = 8): Commit = {
    require(dirs.nonEmpty, "compactPartitions: no dirs given")
    val head = resolveGen(spark, tablePath, None)
    val raw = readFiles(spark, tablePath, head, Some(dirs))
    val content =
      if (zorderCols.isEmpty)
        raw.repartition(math.max(dirs.size, 1), col(partitionCol))
      else {
        val z = ZOrder.zValue(raw, zorderCols, zorderBits)
        raw.withColumn("__graft_z", z)
          .repartitionByRange(
            math.max(dirs.size * math.max(filesPerPartition, 1), 1),
            col(partitionCol), col("__graft_z"))
          .sortWithinPartitions(col(partitionCol), col("__graft_z"))
          .drop("__graft_z")
      }
    // touched values are recovered from the content itself: dir names
    // are Hive-escaped `pcol=value` forms, and replacePartitions
    // re-derives the same names, so declaring the read rows' distinct
    // partition values is exact
    val touched = raw.select(partitionCol).distinct().collect()
      .map(_.get(0)).toIndexedSeq
    replacePartitions(spark, tablePath, content, partitionCol, touched,
      retain, basisGen = Some(head), statsCols = statsCols)
  }

  /** [[compactPartitions]] for MULTI-COLUMN partitioned tables: `dirs`
    * name nested leaf-dir paths (`c1=v1/c2=v2`); each listed leaf's
    * accumulated files rewrite as one content-preserving commit,
    * optionally z-clustered. The touched tuple set is recovered from
    * the read rows' distinct partition values (exact — the same
    * values the dirs decode to). */
  def compactPartitionsBy(
      spark: SparkSession,
      tablePath: String,
      dirs: Seq[String],
      partitionCols: Seq[String],
      retain: Int = 3,
      zorderCols: Seq[String] = Nil,
      statsCols: Seq[String] = Nil,
      zorderBits: Int = 12,
      filesPerPartition: Int = 8,
      properties: Map[String, String] = Map.empty): Commit = {
    require(dirs.nonEmpty, "compactPartitionsBy: no dirs given")
    require(partitionCols.nonEmpty, "no partition columns given")
    val head = resolveGen(spark, tablePath, None)
    val raw = readFiles(spark, tablePath, head, Some(dirs))
    val pcols = partitionCols.map(col)
    val content =
      if (zorderCols.isEmpty)
        raw.repartition(math.max(dirs.size, 1), pcols: _*)
      else {
        val z = ZOrder.zValue(raw, zorderCols, zorderBits)
        raw.withColumn("__graft_z", z)
          .repartitionByRange(
            math.max(dirs.size * math.max(filesPerPartition, 1), 1),
            pcols :+ col("__graft_z"): _*)
          .sortWithinPartitions(pcols :+ col("__graft_z"): _*)
          .drop("__graft_z")
      }
    val touched: Seq[Seq[Any]] = raw.select(pcols: _*).distinct().collect()
      .toIndexedSeq.map(r => partitionCols.indices.map(r.get))
    replacePartitionsBy(spark, tablePath, content, partitionCols, touched,
      retain, basisGen = Some(head), statsCols = statsCols,
      properties = properties)
  }

  /** [[upsert]] with ADDITIVE schema evolution — the fact-store twin of
    * [[Upsert.upsertEvolve]] (same posture: new columns append and
    * null-fill the other side; shared columns never change type). The
    * new generation pins the widened schema; carried partitions'
    * files null-fill the added columns on read, and earlier
    * generations keep their own pinned schemas. */
  def upsertEvolve(
      spark: SparkSession,
      tablePath: String,
      updates: DataFrame,
      keys: Seq[String],
      partitionCol: String,
      retain: Int = 3,
      maxTouchedPartitions: Int = 10000): Commit = {
    val gens = generations(spark, tablePath)
    if (gens.isEmpty)
      return upsert(spark, tablePath, updates, keys, partitionCol, retain,
        maxTouchedPartitions)
    val touchedRows = updates.select(partitionCol).distinct()
      .limit(maxTouchedPartitions + 1).collect()
    require(touchedRows.length <= maxTouchedPartitions,
      s"upsertEvolve touches more than $maxTouchedPartitions partitions")
    requireKeyUnique(updates, keys, "FactVersioned.upsertEvolve")
    val touched = touchedRows.map(_.get(0)).toIndexedSeq
    val basis = gens.max
    val physCol = physicalPartitionColumns(
      spark, tablePath, Seq(partitionCol)).head
    val touchedDirs =
      touched.map(v => Upsert.partitionDirName(physCol, v))
    val current = readDirs(spark, tablePath, Some(basis), touchedDirs)
    replacePartitions(spark, tablePath,
      Upsert.upsertEvolve(current, updates, keys),
      partitionCol, touched, retain, basisGen = Some(basis))
  }

  /** Commit a new generation whose pinned schema is widened by `added`
    * (nullable, appended) columns with NO data rewrite — pure
    * metadata-scale additive evolution (`ALTER TABLE ADD COLUMN`): the
    * new manifest carries EVERY parent file verbatim (touched set
    * empty), and reads under the widened pinned schema null-fill the
    * added columns (Spark's absent-parquet-column semantics, the same
    * contract [[upsertEvolve]]'s carried partitions rely on). Earlier
    * generations keep their own pinned schemas — `VERSION AS OF` reads
    * both sides of the evolution. At 100 TB this commit costs one
    * manifest copy + marker, independent of table size. */
  def addColumns(
      spark: SparkSession,
      tablePath: String,
      added: Seq[StructField],
      retain: Int = 3,
      properties: Map[String, String] = Map.empty,
      defaults: Map[String, String] = Map.empty): Commit = {
    require(added.nonEmpty, "addColumns: no columns given")
    added.foreach { f =>
      require(f.nullable,
        s"addColumns: '${f.name}' must be nullable — carried files have " +
          "no values for it (additive evolution null-fills; a DEFAULT " +
          "is applied at read for carried files)")
    }
    // one validation codepath for every widening shape — the atomic
    // [[addFields]] door (top-level and nested adds share it)
    addFields(spark, tablePath,
      added.map(f => Seq(f.name) -> f.dataType), retain, properties,
      defaults)
  }

  /** Table-level record of the merge keys the table was FIRST upserted
    * under — the Delta `table_changes` convenience (VERDICT r13 Next
    * #2): `graft_table_changes('t', from, to)` can omit the keys
    * argument when this record exists. Written once (write-if-absent —
    * a table has one key discipline; callers that change keys pass
    * them explicitly), translated by [[renameColumns]], and DELETED by
    * [[dropColumns]] when a recorded key is dropped (a stale record
    * must fail loudly at the keyless door, not resolve a phantom
    * column). Advisory metadata only: every keyed door still takes
    * explicit keys, and losing this file costs convenience, never
    * correctness. */
  private def defaultKeysPath(t: String) =
    new Path(gensRoot(t), "_default_keys")

  /** The recorded default merge keys, if any (lower-cased, in recorded
    * order). */
  def recordedMergeKeys(
      spark: SparkSession, tablePath: String): Option[Seq[String]] = {
    val fs = fsOf(spark, tablePath)
    val p = defaultKeysPath(tablePath)
    if (!fs.exists(p)) None
    else {
      val in = fs.open(p)
      val text = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        new String(out.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
      Some(text.split("\n").filter(_.nonEmpty).toSeq).filter(_.nonEmpty)
    }
  }

  /** Record `keys` as the table's default merge keys if none are
    * recorded yet. Post-commit best-effort: a crash before the write
    * just means the NEXT upsert records it. First writer wins via
    * write-tmp-then-RENAME — bare `create(overwrite = false)` is
    * check-then-act on LocalFileSystem (the same reason claimNext
    * rides [[CommitLock.atomicCreate]]), and rename additionally makes
    * the CONTENT atomic: no reader ever sees a half-written record. */
  private[graft] def recordMergeKeys(
      spark: SparkSession, tablePath: String, keys: Seq[String]): Unit = {
    val fs = fsOf(spark, tablePath)
    val p = defaultKeysPath(tablePath)
    if (fs.exists(p)) return
    val tmp = new Path(p.getParent,
      s"${p.getName}.tmp.${java.util.UUID.randomUUID().toString.take(8)}")
    val out = fs.create(tmp, true)
    try out.write(keys.map(_.toLowerCase).mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    // rename-to-existing fails (returns false) on Hadoop filesystems —
    // the loser just cleans its tmp up
    if (!fs.rename(tmp, p)) fs.delete(tmp, false)
  }

  /** Rewrite (or drop) the default-keys record after a DDL: `f` maps
    * the recorded keys to their new form — None deletes the record. */
  private def remapMergeKeys(
      spark: SparkSession, tablePath: String,
      f: Seq[String] => Option[Seq[String]]): Unit = {
    recordedMergeKeys(spark, tablePath).foreach { keys =>
      val fs = fsOf(spark, tablePath)
      f(keys) match {
        case None => fs.delete(defaultKeysPath(tablePath), false)
        case Some(nu) if nu == keys => ()
        case Some(nu) =>
          val out = fs.create(defaultKeysPath(tablePath), true)
          try out.write(nu.map(_.toLowerCase).mkString("\n")
            .getBytes(StandardCharsets.UTF_8))
          finally out.close()
      }
    }
  }

  /** `schema` with every field's metadata cleared, at every depth —
    * the pinned schema.ddl must stay `fromDDL`-parseable, and field
    * metadata (read-side EXISTS_DEFAULT and whatever callers attach)
    * is never part of the pinned contract. */
  private def stripFieldMetadata(schema: StructType): StructType = {
    def strip(dt: DataType): DataType = dt match {
      case s: StructType => StructType(s.fields.map(f =>
        f.copy(dataType = strip(f.dataType),
          metadata = org.apache.spark.sql.types.Metadata.empty)))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType = strip(a.elementType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(keyType = strip(m.keyType), valueType = strip(m.valueType))
      case other => other
    }
    strip(schema).asInstanceOf[StructType]
  }

  /** PER-GENERATION record of `ADD COLUMN ... DEFAULT` values (the
    * Delta default-value posture, VERDICT r14 Next #6): lower-cased
    * LOGICAL column name → constant-FOLDED SQL literal. Applied AT
    * READ via Spark's own existence-default machinery — the read
    * schema's field carries `EXISTS_DEFAULT` metadata, so the parquet
    * reader fills the default ONLY for files that physically lack the
    * column (carried pre-add files); files holding the column —
    * explicit NULLs included — read their own values. Zero data
    * rewrite at any table size, zero custom reader code. The record
    * travels WITH the generation exactly like the colmap (inherited by
    * every commit, re-keyed by a rename's own commit, gone when the
    * column drops out of the content), so `VERSION AS OF` reads every
    * era under ITS OWN defaults — a later rename or drop can never
    * change what a committed generation returns. */
  private def defaultsPath(t: String, g: Long) =
    new Path(genMeta(t, g), "defaults")

  /** Generation `gen`'s (default: head's) ADD COLUMN defaults
    * (lower-cased logical column → folded SQL literal). Memoized —
    * immutable once committed, like the colmap. */
  def columnDefaults(
      spark: SparkSession, tablePath: String,
      gen: Option[Long] = None): Map[String, String] = {
    val gens = generations(spark, tablePath)
    if (gens.isEmpty) return Map.empty
    val g = gen.getOrElse(gens.max)
    if (!gens.contains(g)) return Map.empty
    readDefaults(fsOf(spark, tablePath), tablePath, g)
  }

  private def readDefaults(
      fs: org.apache.hadoop.fs.FileSystem,
      t: String, g: Long): Map[String, String] =
    MetaCache.get(metaKeyFs(fs, t, g, "defaults")) {
      val p = defaultsPath(t, g)
      if (!fs.exists(p)) Map.empty[String, String]
      else {
        val in = fs.open(p)
        val text = try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
          new String(out.toByteArray, StandardCharsets.UTF_8)
        } finally in.close()
        text.split("\n").filter(_.contains("\t")).map { line =>
          val i = line.indexOf('\t')
          line.substring(0, i) -> line.substring(i + 1)
        }.toMap
      }
    }

  /** Per-generation TABLE PROPERTIES record (`ALTER TABLE SET/UNSET
    * TBLPROPERTIES`, r16) — the colmap/defaults posture: each
    * generation pins ITS OWN properties (inherited verbatim from the
    * parent unless a DDL commit overrides them), so `VERSION AS OF`
    * reads each era's properties and a later SET can never rewrite
    * what a committed generation reported. Distinct from
    * [[PropertiesFile]] (per-COMMIT provenance: who/what wrote this
    * generation); tblprops are the user's durable table metadata. */
  private def tblPropsPath(t: String, g: Long) =
    new Path(genMeta(t, g), "tblprops")

  /** Generation `gen`'s (default: head's) table properties. */
  def tableProperties(
      spark: SparkSession, tablePath: String,
      gen: Option[Long] = None): Map[String, String] = {
    val gens = generations(spark, tablePath)
    if (gens.isEmpty) return Map.empty
    val g = gen.getOrElse(gens.max)
    if (!gens.contains(g)) return Map.empty
    readTblProps(fsOf(spark, tablePath), tablePath, g)
  }

  private def readTblProps(
      fs: org.apache.hadoop.fs.FileSystem,
      t: String, g: Long): Map[String, String] =
    MetaCache.get(metaKeyFs(fs, t, g, "tblprops")) {
      Versioned.readKv(fs, tblPropsPath(t, g))
    }

  /** `ALTER TABLE ... SET TBLPROPERTIES (set) / UNSET TBLPROPERTIES
    * (unset)` — ONE metadata-only commit pinning the updated record;
    * carried files untouched, earlier generations keep their own
    * properties. */
  def setTableProperties(
      spark: SparkSession,
      tablePath: String,
      set: Map[String, String],
      unset: Seq[String] = Nil,
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(set.nonEmpty || unset.nonEmpty,
      "setTableProperties: no changes given")
    requireCleanProperties(set)
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"setTableProperties: no committed " +
      s"generations at $tablePath — create the table first")
    val head = gens.max
    val updated =
      (readTblProps(fsOf(spark, tablePath), tablePath, head) ++ set) --
        unset
    val schema = readSchema(spark, tablePath, head)
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], schema)
    replacePartitionsBy(spark, tablePath, empty,
      logicalPartitionColumns(spark, tablePath), Nil, retain,
      basisGen = Some(head), properties = properties,
      tblProps = Some(updated))
  }

  /** `schema` with `EXISTS_DEFAULT`/`CURRENT_DEFAULT` metadata attached
    * to each top-level field whose LOGICAL name (taken positionally
    * from `logical`) has a recorded default — works on the logical
    * schema itself (logical == schema) and on its physical twin. */
  private[graft] def attachDefaults(
      schema: StructType,
      logical: StructType,
      defaults: Map[String, String]): StructType =
    if (defaults.isEmpty) schema
    else StructType(schema.fields.zip(logical.fields).map {
      case (f, lf) => defaults.get(lf.name.toLowerCase) match {
        case Some(sql) => f.copy(metadata =
          new org.apache.spark.sql.types.MetadataBuilder()
            .withMetadata(f.metadata)
            .putString("EXISTS_DEFAULT", sql)
            .putString("CURRENT_DEFAULT", sql)
            .build())
        case None => f
      }
    })

  /** Table-level tombstone record of every column name ever dropped
    * ([[dropColumns]]): carried data files from pre-drop commits still
    * physically hold the column, so the name must never be re-added
    * over them ([[addColumns]] rejects tombstoned names). Never
    * cleaned — deliberately conservative; reusing a dropped name
    * requires a fresh table path. */
  private def tombstonePath(t: String) =
    new Path(gensRoot(t), "_dropped_columns")

  /** Lower-cased names of columns ever dropped from the table. Falls
    * back to the `.bak` rotation copy when the live file is absent (a
    * crash mid-rotate in [[dropColumns]]' preCommit — the bak holds
    * the pre-crash full set, and the crashed drop never committed). */
  def droppedColumns(spark: SparkSession, tablePath: String): Set[String] = {
    val fs = fsOf(spark, tablePath)
    def readSet(p: Path): Option[Set[String]] = {
      if (!fs.exists(p)) return None
      val in = fs.open(p)
      val text = try {
        val out = new java.io.ByteArrayOutputStream()
        org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
        new String(out.toByteArray, StandardCharsets.UTF_8)
      } finally in.close()
      Some(text.split("\n").filter(_.nonEmpty).map(_.toLowerCase).toSet)
    }
    val p = tombstonePath(tablePath)
    readSet(p)
      .orElse(readSet(new Path(p.getParent, p.getName + ".bak")))
      .getOrElse(Set.empty)
  }

  /** Commit a new generation whose pinned schema DROPS `names` with NO
    * data rewrite — metadata-scale column removal (`ALTER TABLE DROP
    * COLUMN`): the new manifest carries EVERY parent file verbatim
    * (touched set empty), and reads under the narrowed pinned schema
    * simply never project the dropped column out of carried files
    * (explicit-schema parquet semantics — the inverse of
    * [[addColumns]]' null-fill). Earlier generations keep their own
    * pinned schemas, so `VERSION AS OF` still reads the column's full
    * history until retention. At 100 TB this commit costs one manifest
    * copy + marker, independent of table size.
    *
    * Partition columns cannot drop (they shape the physical layout).
    * Merge keys are per-STATEMENT properties of later MERGE/upsert
    * calls, so the store cannot reject a key drop outright — but when
    * the dropped column is a RECORDED default merge key
    * ([[recordedMergeKeys]]) the drop WARNS and retires the record;
    * any other consumer naming it later fails at that statement's
    * resolution with a missing-column error. The dropped name is
    * TOMBSTONED so a later
    * add cannot silently resurrect stale physical values from carried
    * files (the hazard Delta's column-mapping IDs exist for — this
    * store takes the conservative posture instead). */
  def dropColumns(
      spark: SparkSession,
      tablePath: String,
      names: Seq[String],
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(names.nonEmpty, "dropColumns: no columns given")
    // one validation codepath for every narrowing shape — the atomic
    // [[dropFieldPaths]] door (top-level and nested drops share it)
    dropFieldPaths(spark, tablePath, names.map(Seq(_)), retain, properties)
  }

  // ---- nested-field evolution ---------------------------------------
  //
  // Top-level and STRUCT-FIELD evolution share two ATOMIC doors
  // ([[addFields]]/[[dropFieldPaths]] — `ALTER TABLE t ADD COLUMNS
  // (x INT, s.f STRING)` is ONE commit, so a failed validation can
  // never leave the table half-evolved). Identical commit shape: a
  // metadata-only generation pinning the reshaped schema, every parent
  // file carried verbatim. Reads make it correct for free — the pinned
  // explicit schema clips against each parquet file's own schema, so a
  // nested field absent from a carried file reads as null (including
  // inside arrays of structs and map values), and a dropped nested
  // field is simply never requested from files that still hold it.
  // Tombstones record the full DOTTED path (`s.f`, lower-cased) in the
  // same `_dropped_columns` file — dotted entries can never collide
  // with top-level names, and the same resurrect-protection reasoning
  // applies segment-for-segment.

  /** Strip the optional container step Spark's SQL paths use to
    * address array elements / map values (`tags.element.z`,
    * `m.value.z`) — the API form may omit it; both resolve
    * identically here. Only consumed AT the matching container
    * position, so a struct field genuinely named `element` or `value`
    * keeps its segment. */
  private def dropStep(path: Seq[String], step: String): Seq[String] =
    if (path.nonEmpty && path.head.equalsIgnoreCase(step)) path.tail
    else path

  private def rejectMapKeyStep(path: Seq[String], full: String): Unit =
    require(!(path.nonEmpty && path.head.equalsIgnoreCase("key")),
      s"'$full': map KEY types cannot evolve — keys define lookup " +
        "identity; rewrite the table under a new map type instead")

  /** The tombstone key of a field path: lower-cased, dotted, with
    * container steps (`element`/`value`) stripped exactly where the
    * SCHEMA WALK consumes them — so the key derivation is the same
    * function as [[addedFieldKeys]]' walk, and the SQL spelling
    * (`tags.element.z`), the API spelling (`tags.z`), and the
    * committer's schema diff can never disagree on a field's key.
    * NESTED keys (length ≥ 2) anchor on the PHYSICAL top-segment name
    * (`cmap`) — physical names are pinned forever, so a tombstone
    * written as `meta.score` still blocks `info.score` after `meta`
    * renames to `info`: the carried files physically hold the dropped
    * field under the SAME top column either way, and a re-add under
    * any spelling would resurrect the stale values. Top-level keys
    * stay logical: renames tombstone the old logical name and reject
    * tombstoned targets, so that scheme is already rename-closed. */
  private def canonicalKey(
      schema: org.apache.spark.sql.types.DataType,
      path: Seq[String],
      cmap: Map[String, String]): String = {
    def walk(dt: org.apache.spark.sql.types.DataType,
        p: Seq[String]): Seq[String] = dt match {
      case s: StructType if p.nonEmpty =>
        s.fields.find(_.name.equalsIgnoreCase(p.head)) match {
          case Some(f) if p.length > 1 => p.head +: walk(f.dataType, p.tail)
          case _ => p // terminal segment (existing leaf or a new name)
        }
      case a: org.apache.spark.sql.types.ArrayType =>
        walk(a.elementType, dropStep(p, "element"))
      case m: org.apache.spark.sql.types.MapType =>
        walk(m.valueType, dropStep(p, "value"))
      case _ => p
    }
    val walked = walk(schema, path)
    (if (walked.length >= 2) physOf(cmap, walked.head) +: walked.tail
     else walked).mkString(".").toLowerCase
  }

  /** The field at dotted `path` inside `dt`, if it resolves — descends
    * structs by case-insensitive name and looks THROUGH array element
    * and map value types (a field inside an array of structs evolves
    * like any other). */
  private[graft] def fieldAt(
      dt: DataType, path: Seq[String]): Option[StructField] =
    dt match {
      case s: StructType if path.nonEmpty =>
        s.fields.find(_.name.equalsIgnoreCase(path.head)).flatMap { f =>
          if (path.length == 1) Some(f) else fieldAt(f.dataType, path.tail)
        }
      case a: org.apache.spark.sql.types.ArrayType =>
        fieldAt(a.elementType, dropStep(path, "element"))
      case m: org.apache.spark.sql.types.MapType
          if !path.headOption.exists(_.equalsIgnoreCase("key")) =>
        fieldAt(m.valueType, dropStep(path, "value"))
      case _ => None
    }

  /** `dt` with nullable `add` appended to the struct at `parent`
    * (empty = `dt` itself); every step validated loudly. */
  private def addFieldAt(
      dt: DataType, parent: Seq[String], add: StructField,
      full: String): DataType = dt match {
    case s: StructType if parent.isEmpty =>
      require(!s.fieldNames.exists(_.equalsIgnoreCase(add.name)),
        s"addFields: field '$full' already exists")
      s.add(add)
    case s: StructType =>
      val idx = s.fields.indexWhere(_.name.equalsIgnoreCase(parent.head))
      require(idx >= 0,
        s"addFields: '$full' — segment '${parent.head}' does not " +
          s"exist (have ${s.fieldNames.mkString(", ")})")
      val f = s.fields(idx)
      StructType(s.fields.updated(idx,
        f.copy(dataType = addFieldAt(f.dataType, parent.tail, add, full))))
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType =
        addFieldAt(a.elementType, dropStep(parent, "element"), add, full))
    case m: org.apache.spark.sql.types.MapType =>
      rejectMapKeyStep(parent, full)
      m.copy(valueType =
        addFieldAt(m.valueType, dropStep(parent, "value"), add, full))
    case other => throw new IllegalArgumentException(
      s"addFields: '$full' — parent segment is not a struct " +
        s"(got ${other.simpleString})")
  }

  /** `dt` with the field at `path` removed; the emptied-struct case is
    * rejected with drop-the-column guidance. */
  private def dropFieldAt(
      dt: DataType, path: Seq[String], full: String): DataType = dt match {
    case s: StructType =>
      val idx = s.fields.indexWhere(_.name.equalsIgnoreCase(path.head))
      require(idx >= 0,
        s"dropFieldPaths: '$full' — segment '${path.head}' does not " +
          s"exist (have ${s.fieldNames.mkString(", ")})")
      if (path.length == 1) {
        require(s.fields.length > 1,
          s"dropFieldPaths: '$full' is the struct's last field — " +
            "drop the whole column instead")
        StructType(s.fields.patch(idx, Nil, 1))
      } else {
        val f = s.fields(idx)
        StructType(s.fields.updated(idx,
          f.copy(dataType = dropFieldAt(f.dataType, path.tail, full))))
      }
    case a: org.apache.spark.sql.types.ArrayType =>
      a.copy(elementType =
        dropFieldAt(a.elementType, dropStep(path, "element"), full))
    case m: org.apache.spark.sql.types.MapType =>
      rejectMapKeyStep(path, full)
      m.copy(valueType =
        dropFieldAt(m.valueType, dropStep(path, "value"), full))
    case other => throw new IllegalArgumentException(
      s"dropFieldPaths: '$full' — parent segment is not a struct " +
        s"(got ${other.simpleString})")
  }

  /** ONE metadata-only commit widening the pinned schema by `adds` —
    * each a (path, type): length-1 paths append nullable top-level
    * columns, longer paths insert nullable nested struct fields
    * (`Seq("s", "f")` adds `s.f`; arrays of structs and map values
    * evolve through their `element`/`value` steps, which the API form
    * may omit). ALL validations (existence, tombstones, retained-
    * generation pins) run BEFORE the commit, so a multi-field ALTER
    * lands atomically or not at all — never half-evolved. Carried
    * files null-fill every added field on read (parquet schema
    * clipping); earlier generations keep their own pinned schemas; the
    * commit costs one manifest copy + marker at any table size. Later
    * writes must stage the FULL reshaped struct (missing nested fields
    * do not coerce — the same loud posture as a missing top-level
    * column). */
  def addFields(
      spark: SparkSession,
      tablePath: String,
      adds: Seq[(Seq[String], org.apache.spark.sql.types.DataType)],
      retain: Int = 3,
      properties: Map[String, String] = Map.empty,
      defaults: Map[String, String] = Map.empty,
      positions: Seq[(String, String)] = Nil): Commit = {
    require(adds.nonEmpty, "addFields: no fields given")
    adds.foreach { case (path, _) =>
      require(path.nonEmpty, "addFields: empty field path") }
    // ADD COLUMN FIRST/AFTER (r16): purely presentational — the pinned
    // schema's field order IS the presented column order (reads
    // project by NAME at every layer, so position never touches data).
    // Entries are (top-level column name from this statement, "") for
    // FIRST or (name, afterColumn) for AFTER, in STATEMENT order —
    // positions apply sequentially, so a later add may reference an
    // earlier one's final slot. Top-level columns only: nested
    // positioning would thread ordinals through every struct-rebuild
    // seam for zero semantic gain.
    require(positions.map(_._1.toLowerCase).distinct.length ==
        positions.length,
      "addFields: a column may carry at most one position")
    positions.foreach { case (c, ref) =>
      require(adds.exists(a => a._1.length == 1 &&
          a._1.head.equalsIgnoreCase(c)),
        s"addFields: position given for '$c', which is not a top-level " +
          "column in this ADD statement")
      require(ref.isEmpty || !ref.equalsIgnoreCase(c),
        s"addFields: column '$c' cannot be positioned AFTER itself")
    }
    // ADD COLUMN ... DEFAULT: top-level adds only (nested defaults
    // would need per-file nested existence handling Spark's reader
    // doesn't provide). The expression is constant-FOLDED here — a
    // non-constant or ill-typed default fails the statement before
    // anything commits — and stored as a plain literal.
    val foldedDefaults: Map[String, String] = defaults.map { case (c, sql) =>
      val add = adds.find(a => a._1.length == 1 &&
        a._1.head.equalsIgnoreCase(c)).getOrElse(
        throw new IllegalArgumentException(
          s"addFields: DEFAULT given for '$c', which is not a " +
            "top-level column in this ADD statement"))
      val dt = add._2
      val folded = try spark.sql(
        s"SELECT CAST(($sql) AS ${dt.sql})").head.get(0)
      catch { case e: Exception =>
        throw new IllegalArgumentException(
          s"addFields: DEFAULT for '$c' must be a constant expression " +
            s"castable to ${dt.sql}: ${e.getMessage}")
      }
      val lit = org.apache.spark.sql.catalyst.expressions.Literal
        .create(folded, dt).sql
      // the record is newline-delimited/tab-separated — a literal that
      // renders control characters would corrupt it (same contract as
      // commit properties)
      require(!lit.exists(ch => ch == '\n' || ch == '\r' || ch == '\t'),
        s"addFields: DEFAULT for '$c' renders a literal containing " +
          "newline/tab characters — not supported")
      c.toLowerCase -> lit
    }
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"addFields: no committed generations " +
      s"at $tablePath — create the table first")
    val head = gens.max
    val schema = readSchema(spark, tablePath, head)
    val cmap = readColMap(fsOf(spark, tablePath), tablePath, head)
    val dead = droppedColumns(spark, tablePath)
    lazy val retained = gens.filter(_ != head).map(g =>
      (g, readSchema(spark, tablePath, g),
        readColMap(fsOf(spark, tablePath), tablePath, g)))
    adds.foreach { case (path, _) =>
      val full = path.mkString(".")
      if (path.length == 1) {
        val name = path.head
        require(!name.equalsIgnoreCase(VGenCol),
          s"column name $VGenCol is reserved by FactVersioned")
        require(!schema.fieldNames.exists(_.equalsIgnoreCase(name)),
          s"addFields: column '$name' already exists")
      } else {
        // HEAD existence FIRST for nested paths too — without this, a
        // field present in the head trips the retained-generation pin
        // check below (the head's predecessor pins it) and reports a
        // misleading "still pinned" instead of "already exists" (the
        // signal an idempotent DDL retrier keys on)
        require(fieldAt(schema, path).isEmpty,
          s"addFields: field '$full' already exists")
      }
      require(!dead.contains(canonicalKey(schema, path, cmap)),
        s"addFields: field '$full' was previously DROPPED — files " +
          "carried from pre-drop commits still physically hold its old " +
          "values, which a re-add would silently RESURRECT (or, under " +
          "a new type, fail to read). Rewrite the table under a fresh " +
          "path to reuse the name.")
      // belt and braces with the tombstone: any RETAINED generation
      // still pinning the path means physically-carried files may hold
      // it (conservative — also trips briefly after a full rewrite,
      // until the old generations expire)
      retained.foreach { case (g, gs, gcmap) =>
        // resolve the path under generation g's OWN naming: the head
        // logical top translates through the head colmap to physical
        // (pinned forever) and back through g's colmap — without this
        // a rename between g and head hides g's pinned field
        val genPath =
          if (path.length == 1) path
          else {
            val phys = physOf(cmap, path.head)
            // TOP-LEVEL entries only: a dotted nested-rename entry
            // whose physical LEAF matches this physical top name would
            // produce an unresolvable dotted genPath and silently
            // neutralize the pin check
            gcmap.collectFirst { case (l, p)
                if !l.contains('.') && p.equalsIgnoreCase(phys) => l }
              .getOrElse(phys) +: path.tail
          }
        require(fieldAt(gs, genPath).isEmpty &&
            !(path.length == 1 &&
              gs.fieldNames.exists(_.equalsIgnoreCase(path.head))),
          s"addFields: field '$full' is still pinned by retained " +
            s"generation $g — carried data files may physically hold " +
            "its old values; let retention expire it or rewrite the " +
            "table under a fresh path")
      }
    }
    val keys = adds.map { case (p, _) => canonicalKey(schema, p, cmap) }
    require(keys.distinct.length == keys.length,
      s"addFields: duplicate field in one statement " +
        s"(${adds.map(_._1.mkString(".")).mkString(", ")})")
    val appended = adds.foldLeft(schema) { case (sch, (path, dt)) =>
      addFieldAt(sch, path.init,
        org.apache.spark.sql.types.StructField(path.last, dt,
          nullable = true), path.mkString(".")).asInstanceOf[StructType]
    }
    // apply FIRST/AFTER ordering over the appended shape, sequentially
    // (a later add may position AFTER an earlier one in the same
    // statement)
    val widened = positions.foldLeft(appended) { case (sch, (c, ref)) =>
      val fields = sch.fields.toBuffer
      val idx = fields.indexWhere(_.name.equalsIgnoreCase(c))
      val moved = fields.remove(idx)
      val at =
        if (ref.isEmpty) 0
        else {
          val r = fields.indexWhere(_.name.equalsIgnoreCase(ref))
          require(r >= 0,
            s"addFields: AFTER column '$ref' does not exist " +
              s"(have ${sch.fieldNames.mkString(", ")})")
          r + 1
        }
      fields.insert(at, moved)
      StructType(fields.toSeq)
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], widened)
    replacePartitionsBy(spark, tablePath, empty,
      logicalPartitionColumns(spark, tablePath), Nil, retain,
      basisGen = Some(head), properties = properties,
      // the widened generation pins ITS defaults (inherited + added);
      // earlier generations keep their own records — time travel is
      // never rewritten by a later rename/drop of a defaulted column
      defaults =
        if (foldedDefaults.isEmpty) None
        else Some(columnDefaults(spark, tablePath) ++ foldedDefaults))
  }

  /** `ALTER TABLE ... ALTER COLUMN ... TYPE` for the SAFE widenings
    * ([[leafWidens]]) — ONE metadata-only commit pinning the widened
    * schema, zero data rewrite (VERDICT r15 Next #4, the Delta/Iceberg
    * type-widening posture): data files are immutable and shared
    * across generations, and Spark's parquet readers fill a WIDER read
    * schema from narrow files directly (int32 pages read as long,
    * float as double, decimal rescaled — verified against the 4.1
    * vectorized reader), so carried files need no touch. New commits
    * stage the wide type; earlier generations keep their own pinned
    * types, so `VERSION AS OF` reads each era's schema unchanged.
    * Narrowings (and lossy changes like long→double) are REJECTED with
    * full-rewrite guidance — values would silently clip. Paths address
    * nested struct fields too (arrays/maps looked through, map KEYS
    * refused — widened keys could collide where narrow ones did not).
    * A column carrying an index sidecar (ANN/BM25/bloom) refuses the
    * retype: the sidecar was built over the narrow values' bit
    * patterns — drop the index first and rebuild after. */
  def widenFieldTypes(
      spark: SparkSession,
      tablePath: String,
      widenings: Seq[(Seq[String], DataType)],
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(widenings.nonEmpty, "widenFieldTypes: no columns given")
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"widenFieldTypes: no committed generations " +
      s"at $tablePath — create the table first")
    val head = gens.max
    val schema = readSchema(spark, tablePath, head)
    val fs = fsOf(spark, tablePath)
    val widened = widenings.foldLeft(schema) { case (sch, (path, to)) =>
      val full = path.mkString(".")
      require(path.nonEmpty && !path.head.equalsIgnoreCase(VGenCol),
        s"widenFieldTypes: invalid path '$full'")
      // walkActual refuses explicit map-KEY steps (keys define lookup
      // identity and never retype — they resolve as "does not exist")
      rejectMapKeyStep(path.tail, full)
      val actual = walkActual(sch, path).getOrElse(
        throw new IllegalArgumentException(
          s"widenFieldTypes: field '$full' does not exist"))
      val from = fieldAt(sch, path).getOrElse(
        throw new IllegalArgumentException(
          s"widenFieldTypes: field '$full' does not resolve")).dataType
      require(leafWidens(from, to),
        s"widenFieldTypes: ${from.sql} -> ${to.sql} on '$full' is not " +
          "a safe widening (values must stay exactly representable and " +
          "parquet-readable in place) — narrowings and lossy changes " +
          "rewrite data and keep their explicit full-rewrite surfaces " +
          "(read, cast, write a fresh table)")
      // an index sidecar on this column was built over the NARROW
      // values; a silent retype would desync it (sidecars index
      // top-level columns only)
      val topActual = actual.head
      val sidecars = fs.listStatus(new Path(tablePath))
        .filter(_.isDirectory).map(_.getPath.getName)
        .filter(n => SidecarPrefixes.exists(pre =>
          n.startsWith(pre) &&
            n.stripPrefix(pre).equalsIgnoreCase(topActual)))
      require(path.length > 1 || sidecars.isEmpty,
        s"widenFieldTypes: column '$topActual' carries index sidecar(s) " +
          s"${sidecars.mkString(", ")} built over the narrow values — " +
          "drop the index, retype, then rebuild")
      setTypeAt(sch, actual, to).asInstanceOf[StructType]
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], widened)
    replacePartitionsBy(spark, tablePath, empty,
      logicalPartitionColumns(spark, tablePath), Nil, retain,
      basisGen = Some(head), properties = properties,
      typeWiden = true)
  }

  /** ONE metadata-only commit DROPPING the fields at `paths` (length-1
    * = top-level columns, longer = nested struct fields) — the
    * narrowing twin of [[addFields]], same atomicity: all validations
    * run before the commit. Carried files keep every dropped field
    * physically; reads under the narrowed pinned schema never request
    * them; every dropped path is tombstoned against unsafe re-adds
    * (preCommit — a crash after preCommit aborts the claim and leaves
    * a conservative-safe spurious tombstone). Dropping a RECORDED
    * default merge key retires the keyless-CDC record with a warning. */
  def dropFieldPaths(
      spark: SparkSession,
      tablePath: String,
      paths: Seq[Seq[String]],
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(paths.nonEmpty, "dropFieldPaths: no fields given")
    paths.foreach(p => require(p.nonEmpty, "dropFieldPaths: empty path"))
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"dropFieldPaths: no committed generations " +
      s"at $tablePath — create the table first")
    val head = gens.max
    val schema = readSchema(spark, tablePath, head)
    val cmap = readColMap(fsOf(spark, tablePath), tablePath, head)
    val pcolsPhys = partitionColumns(spark, tablePath)
    val pcolsLogical = logicalPartitionColumns(spark, tablePath)
    paths.foreach { path =>
      val full = path.mkString(".")
      if (path.length == 1) {
        val n = path.head
        require(schema.fieldNames.exists(_.equalsIgnoreCase(n)),
          s"dropFieldPaths: column '$n' does not exist " +
            s"(have ${schema.fieldNames.mkString(", ")})")
        require(!pcolsPhys.exists(_.equalsIgnoreCase(n)) &&
            !pcolsLogical.exists(_.equalsIgnoreCase(n)),
          s"dropFieldPaths: '$n' is a partition column — it shapes " +
            "the physical layout; repartition through " +
            "replacePartitions under a new column set instead")
        require(!n.equalsIgnoreCase(VGenCol),
          s"column name $VGenCol is reserved by FactVersioned")
      } else {
        require(fieldAt(schema, path).nonEmpty,
          s"dropFieldPaths: field '$full' does not exist")
      }
    }
    // overlapping or duplicate paths in one call (drop s AND s.f, or
    // the same field twice) would make the fold order-dependent —
    // reject. Compared on canonicalKey-NORMALIZED paths (the same walk
    // the tombstones use), so two spellings of one field through
    // container steps ('m.y' vs 'm.value.y', 'tags.b' vs
    // 'tags.element.b') are rejected with the intended message here
    // instead of failing the fold below with a confusing
    // "segment does not exist"
    val lowered = paths.map(p =>
      canonicalKey(schema, p, cmap).split('.').toSeq)
    lowered.foreach { a =>
      require(lowered.count(_ == a) == 1,
        s"dropFieldPaths: '${a.mkString(".")}' is given more than " +
          "once (two spellings of the same field)")
      require(!lowered.exists(b => b != a && b.startsWith(a)),
        s"dropFieldPaths: '${a.mkString(".")}' contains another " +
          "dropped path — drop the outer field alone")
    }
    require(paths.filter(_.length == 1).map(_.head.toLowerCase)
        .toSet.size < schema.fields.length,
      "dropFieldPaths: cannot drop every column")
    val narrowed = paths.foldLeft(schema) { (sch, path) =>
      dropFieldAt(sch, path, path.mkString(".")).asInstanceOf[StructType]
    }
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], narrowed)
    val tombs = paths.map(p => canonicalKey(schema, p, cmap))
    val commit = replacePartitionsBy(spark, tablePath, empty,
      pcolsLogical, Nil, retain,
      basisGen = Some(head), properties = properties,
      preCommit = () => tombstoneNames(spark, tablePath, tombs))
    // dropping a RECORDED default merge key: warn (later keyed upserts
    // against this column fail at their own resolution) and retire the
    // record — a stale default must fail loudly at the keyless
    // table_changes door, not resolve a phantom column
    // (a dropped column's default retires automatically: the drop
    // commit's content lacks the column, so the per-generation
    // inheritance filter drops the entry with it)
    val topDropped = paths.filter(_.length == 1).map(_.head)
    if (topDropped.nonEmpty) remapMergeKeys(spark, tablePath, keys => {
      val droppedKeys = keys.filter(k =>
        topDropped.exists(_.equalsIgnoreCase(k)))
      if (droppedKeys.isEmpty) Some(keys)
      else {
        org.slf4j.LoggerFactory.getLogger(getClass).warn(
          s"dropFieldPaths($tablePath): column(s) " +
            s"${droppedKeys.mkString(", ")} are the table's recorded " +
            "default merge keys — retiring the record; keyless " +
            "graft_table_changes calls now require explicit keys")
        None
      }
    })
    commit
  }

  /** Single nested add — delegates to the atomic [[addFields]] door. */
  def addNestedColumn(
      spark: SparkSession,
      tablePath: String,
      path: Seq[String],
      dataType: org.apache.spark.sql.types.DataType,
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(path.length >= 2,
      "addNestedColumn: path must name a struct field " +
        "(top-level columns use addColumns)")
    addFields(spark, tablePath, Seq(path -> dataType), retain, properties)
  }

  /** Single nested drop — delegates to the atomic [[dropFieldPaths]]
    * door. */
  def dropNestedColumn(
      spark: SparkSession,
      tablePath: String,
      path: Seq[String],
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(path.length >= 2,
      "dropNestedColumn: path must name a struct field " +
        "(top-level columns use dropColumns)")
    dropFieldPaths(spark, tablePath, Seq(path), retain, properties)
  }

  /** The path's segments with the SCHEMA's actual spellings, container
    * steps stripped exactly like [[fieldAt]]'s walk; None when the
    * path does not resolve. */
  private def walkActual(
      dt: DataType, p: Seq[String]): Option[Seq[String]] = dt match {
    case s: StructType if p.nonEmpty =>
      s.fields.find(_.name.equalsIgnoreCase(p.head)).flatMap { f =>
        if (p.length == 1) Some(Seq(f.name))
        else walkActual(f.dataType, p.tail).map(f.name +: _)
      }
    case a: org.apache.spark.sql.types.ArrayType =>
      walkActual(a.elementType, dropStep(p, "element"))
    case m: org.apache.spark.sql.types.MapType
        if !p.headOption.exists(_.equalsIgnoreCase("key")) =>
      walkActual(m.valueType, dropStep(p, "value"))
    case _ => None
  }

  /** `dt` with the field at `path` retyped to `newType` — names,
    * positions and everything else untouched ([[widenFieldTypes]]'s
    * schema transformer; the renameFieldAt walk, applied to the type). */
  private[graft] def setTypeAt(
      dt: DataType, path: Seq[String], newType: DataType): DataType =
    dt match {
      case s: StructType =>
        val idx = s.fields.indexWhere(_.name.equalsIgnoreCase(path.head))
        val f = s.fields(idx)
        if (path.length == 1)
          StructType(s.fields.updated(idx, f.copy(dataType = newType)))
        else StructType(s.fields.updated(idx,
          f.copy(dataType = setTypeAt(f.dataType, path.tail, newType))))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType =
          setTypeAt(a.elementType, dropStep(path, "element"), newType))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType =
          setTypeAt(m.valueType, dropStep(path, "value"), newType))
      case other => other
    }

  /** `dt` with the struct field at `path` renamed to `newLeaf` —
    * positions and types untouched. */
  private[graft] def renameFieldAt(
      dt: DataType, path: Seq[String], newLeaf: String): DataType =
    dt match {
      case s: StructType =>
        val idx = s.fields.indexWhere(_.name.equalsIgnoreCase(path.head))
        val f = s.fields(idx)
        if (path.length == 1)
          StructType(s.fields.updated(idx, f.copy(name = newLeaf)))
        else StructType(s.fields.updated(idx,
          f.copy(dataType = renameFieldAt(f.dataType, path.tail, newLeaf))))
      case a: org.apache.spark.sql.types.ArrayType =>
        a.copy(elementType =
          renameFieldAt(a.elementType, dropStep(path, "element"), newLeaf))
      case m: org.apache.spark.sql.types.MapType =>
        m.copy(valueType =
          renameFieldAt(m.valueType, dropStep(path, "value"), newLeaf))
      case other => other
    }

  /** Rename the NESTED struct field at dotted `path` to `newLeaf` with
    * NO data rewrite — the nested twin of [[renameColumns]] (VERDICT
    * r14 Next #5). The field keeps its PHYSICAL on-file leaf name
    * forever; the new generation's colmap records the rename as a
    * dotted entry (lower-cased logical path → physical leaf), reads
    * rebind the struct positionally ([[physSchemaOf]] + a struct
    * cast), later commits stage under physical names at every depth,
    * and the OLD logical path is tombstoned so a later re-add cannot
    * resurrect the carried files' stale values (the same inductive
    * chain as top-level renames: every era's old spelling is
    * tombstoned when it goes away, and the first spelling IS the
    * physical one). One manifest copy + two small files at any table
    * size; `VERSION AS OF` reads both sides. */
  def renameNestedColumn(
      spark: SparkSession,
      tablePath: String,
      path: Seq[String],
      newLeaf: String,
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(path.length >= 2,
      "renameNestedColumn: path must name a struct field " +
        "(top-level columns use renameColumns)")
    require(newLeaf.nonEmpty && !newLeaf.contains('.'),
      "renameNestedColumn: the new name is a single field name " +
        "(fields cannot move between structs)")
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"renameNestedColumn: no committed " +
      s"generations at $tablePath — create the table first")
    val head = gens.max
    val schema = readSchema(spark, tablePath, head)
    val fs = fsOf(spark, tablePath)
    val cmap = readColMap(fs, tablePath, head)
    val full = path.mkString(".")
    val actual = walkActual(schema, path).getOrElse(
      throw new IllegalArgumentException(
        s"renameNestedColumn: field '$full' does not exist"))
    val parent = actual.init
    val oldLeaf = actual.last
    require(!newLeaf.equalsIgnoreCase(oldLeaf),
      s"renameNestedColumn: '$full' already spells $newLeaf")
    // sibling freshness: the containing struct must not already hold
    // the target name
    require(walkActual(schema, parent :+ newLeaf).isEmpty,
      s"renameNestedColumn: target '${(parent :+ newLeaf).mkString(".")}' " +
        "already exists (swaps are not supported — rename through a " +
        "fresh intermediate name)")
    // the target path must not be tombstoned — a dropped/renamed-away
    // nested name may still live PHYSICALLY in carried files
    val dead = droppedColumns(spark, tablePath)
    require(!dead.contains(canonicalKey(schema, parent :+ newLeaf, cmap)),
      s"renameNestedColumn: target name '$newLeaf' was previously " +
        "dropped or renamed away under " +
        s"'${parent.mkString(".")}' — carried data files may still " +
        "physically hold it; choose a fresh name")
    // the colmap's dotted keys are LOGICAL paths; the physical leaf is
    // the old entry's value, or (first rename) the old spelling itself
    val keyOld = actual.map(_.toLowerCase).mkString(".")
    val physLeaf = cmap.getOrElse(keyOld, oldLeaf)
    val keyNew = (parent.map(_.toLowerCase) :+ newLeaf.toLowerCase)
      .mkString(".")
    // descendant entries are keyed by LOGICAL dotted paths — renaming
    // an intermediate STRUCT field must re-key everything under it
    // (mirroring renameColumns' top-level re-keying; ADVICE r15 #1),
    // or a prior descendant rename's entry is orphaned: reads would
    // resolve the new logical path with no entry and silently
    // null-fill, and later commits would stage under the wrong
    // physical leaf, permanently forking physical names
    val rekeyed = cmap.map { case (k, v) =>
      if (k.startsWith(keyOld + "."))
        (keyNew + k.substring(keyOld.length)) -> v
      else k -> v
    }
    val newMap = (rekeyed - keyOld) + (keyNew -> physLeaf)
    val renamed = renameFieldAt(schema, actual, newLeaf)
      .asInstanceOf[StructType]
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], renamed)
    replacePartitionsBy(spark, tablePath, empty,
      logicalPartitionColumns(spark, tablePath), Nil, retain,
      basisGen = Some(head), properties = properties,
      colMap = Some(newMap),
      preCommit = () => tombstoneNames(spark, tablePath,
        Seq(canonicalKey(schema, actual, cmap))))
  }

  /** Merge `names` into the dropped/renamed-away tombstone, tmp-write +
    * bak-rotate (the Bookmark pattern): an in-place overwrite could
    * crash between truncation and close and LOSE earlier entries — and
    * once pre-drop generations expire, the tombstone is the ONLY thing
    * blocking a stale-value-resurrecting re-add. Every crash window
    * leaves either the old full set (at `.bak`, which
    * [[droppedColumns]] falls back to) or the new full set visible;
    * the new entries only need to be visible if the calling commit's
    * marker lands (callers run this in preCommit), so "old set
    * survives, commit aborts" is safe. */
  private def tombstoneNames(
      spark: SparkSession, tablePath: String, names: Seq[String]): Unit = {
    val fs = fsOf(spark, tablePath)
    val all = droppedColumns(spark, tablePath) ++ names.map(_.toLowerCase)
    val dest = tombstonePath(tablePath)
    val tmp = new Path(dest.getParent, dest.getName + ".tmp")
    val bak = new Path(dest.getParent, dest.getName + ".bak")
    val out = fs.create(tmp, true)
    try out.write(all.toSeq.sorted.mkString("\n")
      .getBytes(StandardCharsets.UTF_8))
    finally out.close()
    if (fs.exists(bak)) fs.delete(bak, false)
    if (fs.exists(dest)) fs.rename(dest, bak)
    require(fs.rename(tmp, dest),
      s"FactVersioned: tombstone rename failed at $dest")
  }

  /** Commit a new generation whose pinned schema RENAMES `renames`'
    * keys to their values with NO data rewrite — metadata-scale
    * `ALTER TABLE RENAME COLUMN` via column mapping (the Delta
    * column-mapping idea, name-keyed): data files are immutable and
    * shared across generations, so the renamed column keeps its
    * PHYSICAL on-file name forever; the new generation's `colmap`
    * records logical→physical, reads alias physical→logical, and
    * later commits stage under physical names. The manifest carries
    * every parent file verbatim (touched set empty) — at 100 TB this
    * commit costs one manifest copy + two small files, independent of
    * table size. Earlier generations keep their own pinned schemas and
    * mappings, so `VERSION AS OF` reads both sides of the rename.
    *
    * PARTITION columns rename too (r14): the on-disk dir tree and the
    * manifest `dir` strings keep the PHYSICAL spelling forever (the
    * same pinning as data columns' on-file names) — renames never move
    * a partition tree; reads alias the partition value column at the
    * scan seam, writes and partition pruning translate logical →
    * physical at the dir-derivation seams
    * ([[physicalPartitionColumns]] / the committer's own staging).
    *
    * Constraints (each fails loudly):
    *  - `vgen` is reserved on both sides;
    *  - the new name must be FRESH: not a current column, not
    *    tombstoned (a dropped or renamed-away name may still exist
    *    PHYSICALLY in carried files — reusing it would mis-bind reads);
    *  - the OLD name is tombstoned (its physical values live on in
    *    carried files under that name — a later ADD COLUMN of it would
    *    resurrect them for the re-added column);
    *  - column-keyed sidecars (ANN/text/bloom indexes) are CARRIED
    *    across the rename ([[carrySidecars]] — one dir rename each;
    *    their contents are name-agnostic): an indexed query under the
    *    new name keeps answering sidecar-only with the pre-rename
    *    results. Only a crash between the commit marker and the carry
    *    leaves a sidecar under the old name, where the indexed query
    *    fails loudly with the no-index message until a rebuild;
    *  - like every metadata-only commit (add/drop/restore), a rename
    *    declares an EMPTY touched set, so the partition-overlap check
    *    never fires against it — instead the shared committer's
    *    DDL-LOSS GUARD ([[publishClaimed]]) re-validates at publish
    *    time that the schema + column mapping still match each
    *    commit's basis: a data commit racing this rename (or this
    *    rename racing a concurrent evolution) aborts with the
    *    retry-against-head contract rather than silently reverting
    *    the other's metadata. Concurrent renames serialize through
    *    the claim protocol like any committers. */
  def renameColumns(
      spark: SparkSession,
      tablePath: String,
      renames: Map[String, String],
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(renames.nonEmpty, "renameColumns: no renames given")
    val gens = generations(spark, tablePath)
    require(gens.nonEmpty, s"renameColumns: no committed generations at " +
      s"$tablePath — create the table first")
    val head = gens.max
    val schema = readSchema(spark, tablePath, head)
    val dead = droppedColumns(spark, tablePath)
    val targetsLower = renames.values.map(_.toLowerCase).toSeq
    require(targetsLower.distinct.length == targetsLower.length,
      "renameColumns: two columns cannot rename to the same name")
    renames.foreach { case (old, nu) =>
      require(schema.fieldNames.exists(_.equalsIgnoreCase(old)),
        s"renameColumns: column '$old' does not exist " +
          s"(have ${schema.fieldNames.mkString(", ")})")
      require(!old.equalsIgnoreCase(VGenCol) && !nu.equalsIgnoreCase(VGenCol),
        s"column name $VGenCol is reserved by FactVersioned")
      require(!schema.fieldNames.exists(_.equalsIgnoreCase(nu)),
        s"renameColumns: target name '$nu' already exists " +
          "(swaps are not supported — rename through a fresh " +
          "intermediate name)")
      require(!dead.contains(nu.toLowerCase),
        s"renameColumns: target name '$nu' was previously dropped or " +
          "renamed away — carried data files may still physically hold " +
          "it; choose a fresh name")
      require(!renames.keys.exists(_.equalsIgnoreCase(nu)),
        s"renameColumns: '$nu' is both a rename source and target in " +
          "one call — split into two statements via a fresh " +
          "intermediate name")
    }
    val parentMap = readColMap(fsOf(spark, tablePath), tablePath, head)
    val newMap = renames.foldLeft(parentMap) { case (m, (old, nu)) =>
      val phys = m.getOrElse(old.toLowerCase,
        schema.fieldNames.find(_.equalsIgnoreCase(old)).get)
      // nested entries are keyed by LOGICAL dotted paths — re-key the
      // ones living under the renamed top column so they keep
      // resolving (their physical LEAF values are untouched)
      val rekeyed = m.map { case (k, v) =>
        val dot = k.indexOf('.')
        if (dot > 0 && k.substring(0, dot) == old.toLowerCase)
          (nu.toLowerCase + k.substring(dot)) -> v
        else k -> v
      }
      (rekeyed - old.toLowerCase) + (nu.toLowerCase -> phys)
    }
    val renamed = StructType(schema.fields.map { f =>
      renames.find(_._1.equalsIgnoreCase(f.name)) match {
        case Some((_, nu)) => f.copy(name = nu)
        case None => f
      }
    })
    val empty = spark.createDataFrame(
      spark.sparkContext.emptyRDD[Row], renamed)
    // the empty frame carries the POST-rename logical names — pass the
    // partition columns under the same naming (a renamed partition
    // column's dir spelling stays physical; the committer translates)
    val pcolsLogical = logicalPartitionColumns(spark, tablePath).map { pc =>
      renames.find(_._1.equalsIgnoreCase(pc)).map(_._2).getOrElse(pc)
    }
    // ADD COLUMN defaults are keyed by logical name too — the rename
    // commit pins its own RE-KEYED record (earlier generations keep
    // theirs, so VERSION AS OF reads each era's defaults unchanged)
    val rekeyedDefaults = columnDefaults(spark, tablePath).map {
      case (k, v) => renames.find(_._1.toLowerCase == k)
        .map(_._2.toLowerCase -> v).getOrElse(k -> v)
    }
    val commit = replacePartitionsBy(spark, tablePath, empty, pcolsLogical,
      Nil, retain, basisGen = Some(head), properties = properties,
      colMap = Some(newMap),
      defaults = Some(rekeyedDefaults),
      preCommit = () =>
        tombstoneNames(spark, tablePath, renames.keys.toSeq))
    // the default-merge-keys record follows the rename (it names
    // LOGICAL columns, like every user-facing surface)
    remapMergeKeys(spark, tablePath, keys => Some(keys.map { k =>
      renames.find(_._1.equalsIgnoreCase(k))
        .map(_._2.toLowerCase).getOrElse(k)
    }))
    // column-keyed index sidecars (ANN/text/bloom) carry their LOGICAL
    // column name only in the DIRECTORY name — their contents are
    // name-agnostic fixed schemas ((file, id, cell, u, q…) rows,
    // centroids, codebooks), so carrying an index across a rename is
    // one dir rename per sidecar (VERDICT r13 Next #3). Crash-safe by
    // fallback: a crash between the commit marker and this carry just
    // leaves the sidecar under the old name, and the indexed query
    // fails with the documented no-index message until a rebuild —
    // never a wrong answer.
    carrySidecars(spark, tablePath, renames)
    commit
  }

  /** Directory-name prefixes of every column-keyed sidecar family
    * (live + parked-stale forms; transient `*_tmp__` staging is owned
    * by in-flight builders and deliberately not carried). */
  private val SidecarPrefixes: Seq[String] = Seq(
    AnnIndex.DirPrefix, AnnIndex.StaleDirPrefix,
    TfIdf.DirPrefix, TfIdf.StaleDirPrefix,
    FactAnnIndex.DirPrefix,
    DataSkipping.BloomDirPrefix, DataSkipping.StaleBloomDirPrefix)

  /** Rename each `<prefix><old>` sidecar dir to `<prefix><new>` after
    * a column rename — see [[renameColumns]]. The column segment
    * matches CASE-INSENSITIVELY (Spark name resolution is — a rename
    * of `VEC` must carry an index built as `vec`), and the carried dir
    * adopts the rename's target spelling, which is how index lookups
    * resolve the sidecar afterwards. */
  private def carrySidecars(
      spark: SparkSession, tablePath: String,
      renames: Map[String, String]): Unit = {
    val fs = fsOf(spark, tablePath)
    val root = new Path(tablePath)
    if (!fs.exists(root)) return
    val dirs = fs.listStatus(root).filter(_.isDirectory).map(_.getPath)
    renames.foreach { case (old, nu) =>
      SidecarPrefixes.foreach { pre =>
        dirs.filter { p =>
          p.getName.startsWith(pre) &&
            p.getName.stripPrefix(pre).equalsIgnoreCase(old)
        }.foreach { from =>
          val to = new Path(tablePath, pre + nu)
          if (!fs.exists(to)) fs.rename(from, to)
        }
      }
    }
  }

  /** Restore the table to generation `gen`, METADATA-ONLY (the Delta
    * RESTORE posture): commit a new generation whose manifest and
    * pinned schema are verbatim COPIES of generation `gen`'s — zero
    * data files staged, the restored rows are re-REFERENCED (GC keeps
    * any file a retained manifest points at, so the old files stay
    * alive under the new head). The declared touched set is every dir
    * present in the pre-restore head OR in `gen` — everything whose
    * visible content may change — so concurrent writers conflict
    * instead of silently losing, exactly like a data commit. At 100 TB
    * this is one manifest read+write plus markers, independent of
    * table size.
    *
    * Same claim/linearize/conflict protocol as [[replacePartitionsBy]]
    * — literally SHARED ([[claimNext]]/[[awaitLowerClaims]]), so a
    * protocol fix lands on every committing door at once: the one
    * difference is that nothing stages — the manifest is copied, not
    * rebuilt from staged dirs + carried head rows. */
  def restore(
      spark: SparkSession,
      tablePath: String,
      gen: Long,
      retain: Int = 3,
      properties: Map[String, String] = Map.empty): Commit = {
    require(retain >= 1, "retain must keep at least the new generation")
    requireCleanProperties(properties)
    val gens = generations(spark, tablePath)
    require(gens.contains(gen),
      s"FactVersioned.restore: generation $gen is not committed at " +
        s"$tablePath (have ${gens.mkString(",")})")
    val basis = gens.max
    val fs = fsOf(spark, tablePath)
    // same claim/linearize protocol as replacePartitionsBy — shared
    // helpers, so a protocol fix lands on every committing door at once
    val next = claimNext(fs, tablePath, "FactVersioned.restore")
    try {
      awaitLowerClaims(fs, tablePath, next, "FactVersioned.restore")
      // a restore redefines every dir of (pre-restore head ∪ gen): any
      // commit landing after our basis conflicts
      val headNow = generations(spark, tablePath).max
      if (headNow > basis)
        throw new java.util.ConcurrentModificationException(
          s"FactVersioned.restore: generation $headNow committed at " +
            s"$tablePath after the restore's basis $basis — retry " +
            "against the new head")
      val touchedDirs =
        (partitionDirs(spark, tablePath, Some(basis)) ++
          partitionDirs(spark, tablePath, Some(gen))).distinct.sorted
      // manifest + schema: verbatim copies of gen's (stats included)
      spark.read.parquet(manifestDir(tablePath, gen).toString)
        .coalesce(1).write.parquet(manifestDir(tablePath, next).toString)
      val schemaBytes = {
        val in = fs.open(new Path(genMeta(tablePath, gen), "schema.ddl"))
        try {
          val out = new java.io.ByteArrayOutputStream()
          org.apache.hadoop.io.IOUtils.copyBytes(in, out, 8192, false)
          out.toByteArray
        } finally in.close()
      }
      val so = fs.create(new Path(genMeta(tablePath, next), "schema.ddl"),
        true)
      try so.write(schemaBytes) finally so.close()
      // the column mapping travels with the schema it names: a restore
      // ACROSS a rename must read gen's files under gen's own mapping
      val srcMap = colMapPath(tablePath, gen)
      if (fs.exists(srcMap))
        org.apache.hadoop.fs.FileUtil.copy(fs, srcMap, fs,
          colMapPath(tablePath, next), false,
          spark.sparkContext.hadoopConfiguration)
      // ADD COLUMN defaults travel with the schema too
      val srcDefs = defaultsPath(tablePath, gen)
      if (fs.exists(srcDefs))
        org.apache.hadoop.fs.FileUtil.copy(fs, srcDefs, fs,
          defaultsPath(tablePath, next), false,
          spark.sparkContext.hadoopConfiguration)
      val tf = fs.create(new Path(genMeta(tablePath, next), TouchedFile),
        true)
      try tf.write(touchedDirs.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally tf.close()
      val props = properties ++ Map("restored_from" -> gen.toString)
      val pf = fs.create(
        new Path(genMeta(tablePath, next), PropertiesFile), true)
      try pf.write(props.toSeq.sorted
        .map { case (k, v) => s"$k\t$v" }.mkString("\n")
        .getBytes(StandardCharsets.UTF_8))
      finally pf.close()
      fs.create(new Path(genMeta(tablePath, next), Versioned.CommitMarker),
        true).close()
    } catch {
      case e: Throwable =>
        abortClaim(fs, tablePath, next,
          new Path(dataRoot(tablePath), s"$VGenCol=$next"))
        throw e
    }
    retentionSweep(spark, tablePath, retain, next)
    Commit(next, Nil)
  }

  /** PURGE — irreversibly delete the whole table tree, SERIALIZED
    * through the claim protocol like any committer: claim the next
    * generation, await every lower in-flight claim (a concurrent
    * committer either publishes first — and its work is deleted with
    * the table, the purge's explicit intent — or aborts on its own
    * conflict), then delete the tree. Readers racing the purge fail
    * LOUDLY, never wrongly: generation resolution requires the commit
    * marker and the manifest, both gone with the tree — a half-read
    * surfaces as missing files, not as a plausible half-table. A
    * writer claiming AFTER the purge's claim may re-create the table
    * as a fresh, COMPLETE first generation once the purge's claim
    * vanishes with the tree — semantically a re-create after the
    * purge, never a torn state. Exposed only behind the catalog's
    * explicit `DROP TABLE ... PURGE` door; bare `DROP TABLE` keeps
    * the safety rejection. */
  def destroy(spark: SparkSession, tablePath: String): Unit = {
    val fs = fsOf(spark, tablePath)
    require(fs.exists(gensRoot(tablePath)),
      s"FactVersioned.destroy: no versioned table at $tablePath")
    val next = claimNext(fs, tablePath, "FactVersioned.destroy")
    try awaitLowerClaims(fs, tablePath, next, "FactVersioned.destroy")
    catch {
      case e: Throwable =>
        abortClaim(fs, tablePath, next,
          new Path(dataRoot(tablePath), s"$VGenCol=$next"))
        throw e
    }
    fs.delete(new Path(tablePath), true)
  }

  /** Expire old generations' metadata, then GC data files no retained
    * manifest references. In-flight claimed generations (fresh claim,
    * no marker) are never touched; stale claim debris is reclaimed.
    * Generations ABOVE `justCommitted` are never touched either: this
    * sweep runs after its own commit published, so a higher claim can
    * publish concurrently — its files would look unreferenced here
    * (the `referenced` set predates its marker) while `inFlight` flips
    * false the instant the marker lands, and the sweep would GC a
    * just-committed generation. Debris above `justCommitted` is
    * reclaimed by a later commit's sweep, which necessarily claims a
    * still-higher number. (package-visible for the race-pinning spec) */
  private[operators] def retentionSweep(
      spark: SparkSession,
      tablePath: String,
      retain: Int,
      justCommitted: Long): Unit = {
    val fs = fsOf(spark, tablePath)
    val committed = generations(spark, tablePath)
    val floor = committed.takeRight(retain).headOption.getOrElse(justCommitted)
    val retained = committed.filter(_ >= floor)

    def inFlight(g: Long): Boolean = {
      val claim = new Path(genMeta(tablePath, g), Versioned.ClaimMarker)
      !fs.exists(new Path(genMeta(tablePath, g), Versioned.CommitMarker)) &&
        fs.exists(claim) &&
        System.currentTimeMillis() -
          fs.getFileStatus(claim).getModificationTime < StaleClaimMs
    }

    // expire generation metadata below the floor (committed or debris)
    fs.listStatus(gensRoot(tablePath)).filter(_.isDirectory).map(_.getPath)
      .foreach { p =>
        p.getName.stripPrefix("gen=").toLongOption.foreach { g =>
          if (g < floor && !inFlight(g)) fs.delete(p, true)
        }
      }

    // GC: any data file not referenced by a retained manifest is dead
    val dRoot = dataRoot(tablePath)
    if (!fs.exists(dRoot)) return
    // manifestRows is the MetaCache-memoized (dir, file) list — on the
    // common post-commit sweep every retained generation is already
    // cached, so this is zero Spark jobs instead of one combined
    // manifest read per commit; uncached (or over-sized) generations
    // read through exactly as before, one small job each.
    val referenced: Set[String] =
      retained.flatMap(g =>
        manifestRows(spark, tablePath, g).map(_._2)).toSet
    // recursive walk: partition dirs may nest (multi-column layouts),
    // so GC keys on the file's full vgen-relative path and prunes
    // emptied dirs bottom-up. A dir may VANISH mid-walk — a concurrent
    // committer's abortClaim rolls its claim back first and then
    // deletes its staging tree, so between this sweep's dRoot listing
    // and the visit the not-in-flight debris can already be gone
    // (both parties want it deleted); treat a vanished dir as empty
    // instead of failing the whole commit's sweep.
    def listOrEmpty(p: Path): Array[org.apache.hadoop.fs.FileStatus] =
      try fs.listStatus(p)
      catch { case _: java.io.FileNotFoundException =>
        Array.empty[org.apache.hadoop.fs.FileStatus] }
    def sweep(p: Path, rel: String): Unit = {
      listOrEmpty(p).foreach { st =>
        if (st.isDirectory) sweep(st.getPath, s"$rel/${st.getPath.getName}")
        else {
          val r = s"$rel/${st.getPath.getName}"
          if (st.getPath.getName.endsWith(".parquet") &&
              !referenced.contains(r))
            fs.delete(st.getPath, false)
        }
      }
      val residue = listOrEmpty(p)
      if (fs.exists(p) && residue.forall(st =>
          !st.isDirectory && !st.getPath.getName.endsWith(".parquet")))
        fs.delete(p, true) // only _SUCCESS-style residue left
    }
    listOrEmpty(dRoot).filter(_.isDirectory).map(_.getPath).foreach { vd =>
      val g = vd.getName.stripPrefix(s"$VGenCol=").toLongOption
      if (!g.exists(x => x > justCommitted || inFlight(x)))
        sweep(vd, vd.getName)
    }
  }
}
