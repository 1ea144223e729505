package graft.operators

import java.nio.file.Files
import java.util.concurrent.Executors

import scala.concurrent.duration._
import scala.concurrent.{Await, ExecutionContext, Future}
import scala.util.Random

import org.apache.hadoop.fs.Path
import org.apache.spark.sql.functions._
import org.apache.spark.sql.types._

import graft.SparkSpec

/** The cross-door concurrency matrix (VERDICT r14 Next #2): every
  * {DDL door} × {DML/maintenance op} pairwise interleave must either
  * COMMIT or throw a RETRYABLE conflict — never a misclassified
  * non-retryable error, never a torn table. Each case runs with a
  * FIXED per-case seed driving the interleave delays, so a failing
  * schedule reproduces.
  *
  * The retry contract a production writer follows (and this spec
  * enforces by catching NOTHING else):
  *  - `ConcurrentModificationException` — transient conflict, retry
  *    against the new head;
  *  - `AnalysisException` — the schema moved mid-read, re-resolve;
  *  - loud GUIDANCE errors (renamed-away name, destroyed table) whose
  *    message names what happened — re-target and retry.
  * Any other IllegalArgumentException ("previously DROPPED",
  * "not compatible", raw field-missing) is a misclassified race and
  * fails the case. */
class ConcurrencyMatrixSpec extends SparkSpec {
  import spark.implicits._

  private def tmp(): String =
    Files.createTempDirectory("graft_cmatrix_").toString + "/t"

  /** k, p, v, meta<src,score> — one shape for every case so each DDL
    * door has something to chew on. */
  private def base(n: Int) =
    (1 to n).map(i => (i.toLong, i % 3, i * 10L, s"s$i", i * 2L))
      .toDF("k", "p", "v", "src", "score")
      .select(col("k"), col("p"), col("v"),
        struct(col("src"), col("score")).as("meta"))

  /** THE shared normative retry set ([[RetryContract]] — one
    * definition for every storm spec AND production callers; VERDICT
    * r15 Next #2). Anything outside it fails the case. */
  private def retryable(t: Throwable): Boolean = RetryContract.retryable(t)

  private def messages(t: Throwable): Seq[String] = RetryContract.messages(t)

  /** A session whose catalog `gcm` is rooted at `root`. */
  private def catalogOn(root: String) = {
    val s = spark.newSession()
    s.conf.set("spark.sql.catalog.gcm",
      classOf[graft.catalog.GraftCatalog].getName)
    s.conf.set("spark.sql.catalog.gcm.root", root)
    s
  }

  /** One row matching the CURRENT head schema: key/partition filled,
    * the value column (v or amount) = key*100, everything else null —
    * conforms to any evolved shape without knowing the DDL applied. */
  private def rowFor(path: String, key: Long) = {
    val head = FactVersioned.read(spark, path)
    val pcol = FactVersioned.logicalPartitionColumns(spark, path).head
    val cols = head.schema.fields
      .filterNot(_.name == FactVersioned.VGenCol).map { f =>
        f.name match {
          case "k" => lit(key).as("k")
          case n if n == pcol => lit(0).cast(f.dataType).as(n)
          case n if n == "v" || n == "amount" =>
            lit(key * 100L).cast(f.dataType).as(n)
          case n => lit(null).cast(f.dataType).as(n)
        }
      }
    (spark.range(1).select(cols.toIndexedSeq: _*), pcol)
  }

  // ---- DML/maintenance ops (each: one attempt; thrown errors are
  // classified by the harness) ----------------------------------------

  private val dmls: Seq[(String, String => Unit)] = Seq(
    "upsert" -> { p: String =>
      val (row, pcol) = rowFor(p, 101L)
      FactVersioned.upsert(spark, p, row, Seq("k"), pcol, retain = 50)
    },
    "merge" -> { p: String =>
      // the MERGE shape without the SQL door (the same committer SQL
      // MERGE lands on): read the scoped partition at a basis, apply
      // update + delete, replacePartitions against that basis — the
      // read-modify-write path the claim-time drift classification
      // exists for
      val gens = FactVersioned.generations(spark, p)
      if (gens.nonEmpty) {
        val basis = gens.max
        val pcol = FactVersioned.logicalPartitionColumns(spark, p).head
        val head = FactVersioned.read(spark, p, Some(basis))
          .drop(FactVersioned.VGenCol)
        val vcol = head.columns.find(c => c == "v" || c == "amount").get
        val scoped = head.where(col(pcol) === 0)
          .where(col("k") =!= 5L) // WHEN MATCHED ... DELETE
          .withColumn(vcol, // WHEN MATCHED ... UPDATE
            when(col("k") === 2L, col(vcol) * 2).otherwise(col(vcol)))
        FactVersioned.replacePartitionsBy(spark, p, scoped, Seq(pcol),
          Seq(Seq(0)), retain = 50, basisGen = Some(basis))
      }
      ()
    },
    "optimize" -> { p: String =>
      val dirs = FactVersioned.partitionDirs(spark, p).take(1)
      if (dirs.nonEmpty) {
        val pcol = FactVersioned.logicalPartitionColumns(spark, p).head
        FactVersioned.compactPartitions(spark, p, dirs, pcol, retain = 50)
        ()
      }
    },
    "vacuum" -> { a: String =>
      FactVersioned.vacuum(spark, a, retain = 3)
      ()
    })

  // ---- DDL doors (each: one logical change, retried on conflicts by
  // the harness) -------------------------------------------------------

  private val ddls: Seq[(String, String => Unit)] = Seq(
    "rename_column" -> { a: String =>
      FactVersioned.renameColumns(spark, a, Map("v" -> "amount"),
        retain = 50)
    },
    // composite DDL retried as a WHOLE must be IDEMPOTENT — the real
    // retry contract ("retry against the new head") means re-checking
    // whether each step is still needed, not blindly re-issuing it
    "nested_add_drop" -> { p: String =>
      def meta = FactVersioned.read(spark, p).schema("meta")
        .dataType.asInstanceOf[StructType].fieldNames.toSet
      if (!meta.contains("lang"))
        FactVersioned.addNestedColumn(spark, p, Seq("meta", "lang"),
          StringType, retain = 50)
      if (meta.contains("score"))
        FactVersioned.dropNestedColumn(spark, p, Seq("meta", "score"),
          retain = 50)
      ()
    },
    "nested_rename" -> { p: String =>
      val meta = FactVersioned.read(spark, p).schema("meta")
        .dataType.asInstanceOf[StructType].fieldNames.toSet
      if (meta.contains("score"))
        FactVersioned.renameNestedColumn(spark, p,
          Seq("meta", "score"), "points", retain = 50)
      ()
    },
    "partition_rename" -> { a: String =>
      FactVersioned.renameColumns(spark, a, Map("p" -> "pp"),
        retain = 50)
    },
    "truncate" -> { p: String =>
      val head = FactVersioned.read(spark, p)
      val pcols = FactVersioned.logicalPartitionColumns(spark, p)
      val touched = head.select(pcols.map(col): _*).distinct().collect()
      if (touched.nonEmpty)
        FactVersioned.replacePartitionsBy(spark, p,
          head.drop(FactVersioned.VGenCol).limit(0), pcols,
          touched.toIndexedSeq.map(r => pcols.indices.map(r.get)),
          retain = 50,
          basisGen = Some(FactVersioned.generations(spark, p).max))
      ()
    },
    "purge" -> { a: String =>
      FactVersioned.destroy(spark, a)
    },
    // TABLE RENAME as a first-class matrix door: a catalog pointer swap
    // racing each DML on the physical path, which never moves. Retried
    // as a whole, so idempotent: once the swap landed the record holds
    // the old name's guidance and the door is done.
    "table_rename" -> { a: String =>
      val root = new Path(a).getParent.toString
      if (!graft.catalog.TablePointers.read(spark, root).contains("t"))
        catalogOn(root).sql("ALTER TABLE gcm.t RENAME TO t_mv")
      ()
    })

  private def runCase(
      caseIdx: Int, ddlName: String, ddl: String => Unit,
      dmlName: String, dml: String => Unit): Unit = {
    val a = tmp()
    FactVersioned.upsert(spark, a, base(30), Seq("k"), "p", retain = 50)
    val rnd = new Random(caseIdx * 1009L + 17L) // fixed seed per case
    val d1 = rnd.nextInt(250)
    val d2 = rnd.nextInt(250)
    val d3 = rnd.nextInt(250)
    val pool = Executors.newFixedThreadPool(2)
    implicit val ec: ExecutionContext = ExecutionContext.fromExecutor(pool)
    def retried(who: String, delayMs: Int, op: String => Unit): Unit = {
      Thread.sleep(delayMs)
      var attempts = 0
      var done = false
      var last: Throwable = null
      while (!done && attempts < 40) {
        attempts += 1
        try { op(a); done = true }
        catch {
          case t: Throwable if retryable(t) =>
            // visible in storm logs: the interleave's conflict trail
            println(s"[cmatrix $ddlName x $dmlName] $who retry " +
              s"#$attempts: ${t.getClass.getSimpleName}: " +
              s"${Option(t.getMessage).getOrElse("").take(160)}")
            last = t; Thread.sleep(20)
          case t: Throwable =>
            val gens = FactVersioned.generations(spark, a)
            val shapes = gens.map(g => s"g$g=${FactVersioned
              .read(spark, a, Some(g)).schema.simpleString.take(120)}")
            fail(s"[$ddlName x $dmlName] $who hit a NON-retryable " +
              s"${t.getClass.getSimpleName}: " +
              s"${messages(t).mkString(" | ")}\n  gens=$gens\n  " +
              shapes.mkString("\n  "))
        }
      }
      // starvation is a liveness failure, except a DML whose table was
      // purged under it may legitimately keep losing the race — the
      // purge case asserts on the DDL side instead
      if (!done && ddlName != "purge")
        fail(s"[$ddlName x $dmlName] $who starved after $attempts " +
          s"attempts; last: ${Option(last).map(_.getMessage)}")
    }
    try {
      val fDml = Future { (1 to 3).foreach { i =>
        retried(s"dml#$i", if (i == 1) d1 else d3, dml) } }
      val fDdl = Future { retried("ddl", d2, ddl) }
      Await.result(Future.sequence(Seq(fDml, fDdl)), 4.minutes)
    } finally pool.shutdown()
    // never torn: the surviving table (the purge case may leave none)
    // still resolves and reads cleanly
    if (FactVersioned.generations(spark, a).nonEmpty) {
      val head = FactVersioned.read(spark, a)
      head.count() // full scan must not throw
      // the DDL's effect is never silently lost (purge may be followed
      // by a re-creating upsert — then the fresh table is post-DDL-free
      // by design, so only non-destructive doors assert)
      val colsNow = head.columns.toSet
      ddlName match {
        case "rename_column" =>
          assert(colsNow.contains("amount") && !colsNow.contains("v"),
            s"[$ddlName x $dmlName] rename lost: $colsNow")
        case "partition_rename" =>
          assert(
            FactVersioned.logicalPartitionColumns(spark, a) == Seq("pp"),
            s"[$ddlName x $dmlName] partition rename lost")
        case "nested_add_drop" =>
          val meta = head.schema("meta").dataType.asInstanceOf[StructType]
          assert(meta.fieldNames.contains("lang") &&
              !meta.fieldNames.contains("score"),
            s"[$ddlName x $dmlName] nested evolution lost: " +
              meta.fieldNames.toSeq)
        case "nested_rename" =>
          val meta = head.schema("meta").dataType.asInstanceOf[StructType]
          assert(meta.fieldNames.contains("points") &&
              !meta.fieldNames.contains("score"),
            s"[$ddlName x $dmlName] nested rename lost: " +
              meta.fieldNames.toSeq)
        case "table_rename" =>
          // the new name reads the physical tree, no directory appeared
          // at its default path, and the old name gives guidance
          val root = new Path(a).getParent.toString
          val s = catalogOn(root)
          assert(s.sql("SELECT count(*) FROM gcm.t_mv").head.getLong(0) ==
            head.count(), s"[$ddlName x $dmlName] table rename lost")
          val fs = new Path(a).getFileSystem(
            spark.sparkContext.hadoopConfiguration)
          assert(!fs.exists(new Path(s"$root/t_mv")),
            s"[$ddlName x $dmlName] a directory appeared at the new name")
          val e = intercept[Exception] {
            s.sql("SELECT * FROM gcm.t").collect()
          }
          assert(messages(e).exists(m =>
            m.contains("RENAMED") && m.contains("t_mv")),
            s"[$ddlName x $dmlName] old name: ${messages(e)}")
        case _ => ()
      }
    }
  }

  private var idx = 0
  for ((ddlName, ddl) <- ddls; (dmlName, dml) <- dmls) {
    idx += 1
    val i = idx
    test(s"matrix[$i]: $ddlName x $dmlName — every interleave commits " +
        "or retries, never a misclassified error, never a torn table") {
      runCase(i, ddlName, ddl, dmlName, dml)
    }
  }
}
