package perfbench

import java.io.File
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

import org.apache.spark.sql.SparkSession

/** One workload: a closed loop of operations by a single client over
  * tables it builds itself in `dir` from `seed`. */
trait Workload {
  /** Build the tables and indexes the loop runs against. */
  def setup(): Unit
  /** One cycle of the loop; issues its operations through the [[Ctx]]. */
  def step(): Unit
  /** The untimed warm-up pass: every operation of a cycle at least once,
    * counted in set-up time. */
  def warmup(): Unit
  /** Live data bytes: the files the current table heads reference. */
  def liveBytes(): Long
  /** Directories whose whole size counts as stored bytes. */
  def storageDirs: Seq[String]
  /** Untimed correctness checks over the finished run: (checks made,
    * mismatch descriptions). */
  def check(): (Int, Seq[String])
  /** Per-layer ratios only the workload can compute (recall, skips). */
  def layerExtras(): Map[String, Double]
  /** Stop anything the workload left running (streaming queries). */
  def close(): Unit
}

object Main {
  val Workloads: Map[String, (Ctx, String, Long) => Workload] = Map(
    "zoom_etl" -> ((c, d, s) => new ZoomEtl(c, d, s)),
    "fact_sql" -> ((c, d, s) => new FactSql(c, d, s)))

  /** Table and index builds per run; setup_s takes their median. */
  val SetupReps = 3

  final case class Opts(workload: String, seed: Long, seconds: Int,
      trace: Boolean, work: String, spawnMs: Long, cores: Int)

  private def parse(args: Array[String]): Opts = {
    val m = args.grouped(2).collect { case Array(k, v) => k -> v }.toMap
    def need(k: String) = m.getOrElse(k, sys.error(s"missing $k"))
    Opts(need("--workload"), need("--seed").toLong, need("--seconds").toInt,
      need("--trace") == "1", need("--work"), need("--spawn-ms").toLong,
      need("--cores").toInt)
  }

  def session(cores: Int, catalogRoot: String): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .appName("perfbench")
      .config("spark.sql.shuffle.partitions", cores.toString)
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
      .config("spark.sql.adaptive.enabled", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$catalogRoot/_spark_warehouse")
      .config("spark.driver.host", "localhost")
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }

  def median(xs: Seq[Double]): Double = {
    val s = xs.sorted
    if (s.isEmpty) 0.0
    else if (s.size % 2 == 1) s(s.size / 2)
    else (s(s.size / 2 - 1) + s(s.size / 2)) / 2
  }

  def deleteTree(dir: String): Unit = {
    val p = Paths.get(dir)
    if (Files.exists(p))
      Files.walk(p).sorted(java.util.Comparator.reverseOrder())
        .forEach(f => Files.delete(f))
  }

  def treeBytes(dir: String): Long = {
    val p = Paths.get(dir)
    if (!Files.exists(p)) 0L
    else Files.walk(p).iterator.asScala
      .filter(Files.isRegularFile(_)).map(Files.size).sum
  }

  def main(args: Array[String]): Unit = {
    val o = parse(args)
    val make = Workloads.getOrElse(o.workload,
      sys.error(s"unknown workload ${o.workload}"))
    val mainMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    deleteTree(o.work)
    new File(o.work).mkdirs()
    val spark = session(o.cores, o.work)
    val sessionS = (System.nanoTime() - t0) / 1e9
    val jvmS = (mainMs - o.spawnMs) / 1e3
    val ctx = new Ctx(spark)
    if (o.trace) require(
      org.apache.hadoop.fs.FileSystem.getLocal(
        spark.sparkContext.hadoopConfiguration).isInstanceOf[CountingFs],
      "traced run: file:// is not the counting file system")

    // ---- set-up: SetupReps fresh builds; the last one is warmed up and
    // measured. setup_s = JVM + session + median build + warm-up pass.
    var live: Workload = null
    val buildTimes = (0 until SetupReps).map { r =>
      val dir = s"${o.work}/rep$r"
      val ts = System.nanoTime()
      val w = make(ctx, dir, o.seed * 7919L + r)
      w.setup()
      val dt = (System.nanoTime() - ts) / 1e9
      if (r < SetupReps - 1) { w.close(); deleteTree(dir) } else live = w
      dt
    }
    val tw = System.nanoTime()
    live.warmup()
    val warmS = (System.nanoTime() - tw) / 1e9
    val setupS = jvmS + sessionS + median(buildTimes) + warmS

    // ---- timed window ----
    val recorder = new Recorder
    ctx.measuring = true
    val bytes0 = FsCounters.bytesWritten()
    val steal0 = Steal.sample()
    val start = System.nanoTime()
    val deadline = start + o.seconds * 1000000000L
    // closed loop, whole cycles only: a cycle starts while the run would
    // end nearer the deadline with it than without it. Traced runs
    // alternate untraced and traced cycles, at least three, so the
    // tracing overhead is measured inside one process on one table
    // without the first cycle, which still carries warm-up.
    var cycles = 0
    def meanCycle = if (cycles == 0) 0L else (System.nanoTime() - start) / cycles
    while (cycles < (if (o.trace) 3 else 1) ||
        System.nanoTime() + meanCycle / 2 < deadline) {
      ctx.cycle = cycles
      ctx.tracing = o.trace && cycles % 2 == 1
      if (ctx.tracing) spark.sparkContext.addSparkListener(recorder)
      live.step()
      if (ctx.tracing) {
        org.apache.spark.PerfbenchBridge.drainListenerBus(spark.sparkContext)
        spark.sparkContext.removeSparkListener(recorder)
        recorder.rethrow()
      }
      cycles += 1
    }
    val end = System.nanoTime()
    val timedS = (end - start) / 1e9
    val bytesW = FsCounters.bytesWritten() - bytes0
    val stealPct = Steal.pct(steal0, Steal.sample())
    ctx.measuring = false
    ctx.tracing = false
    def phase(s: String) = System.err.println(
      f"[perfbench] ${(System.nanoTime() - t0) / 1e9}%.1f s: $s")
    phase("timed window done")
    // background work (the streaming query's polling) stops before the
    // heap is sampled
    live.close()
    val heapMb = Heap.liveMb()
    val stored = live.storageDirs.map(treeBytes).sum
    val liveB = live.liveBytes()

    // ---- correctness (untimed) ----
    phase("heap and storage sampled")
    val (checks, mismatches) = live.check()
    phase("checks done")
    val failedOps = ctx.ops.count(!_.ok)
    val attempted = ctx.ops.size
    val failed = failedOps + mismatches.size
    ctx.errors.foreach(e => System.err.println(s"ERROR $e"))
    mismatches.foreach(m => System.err.println(s"MISMATCH $m"))

    val ok = ctx.ops.filter(_.ok).toSeq
    val report = new StringBuilder
    def line(s: String): Unit = report ++= s"$s\n"
    line(s"workload=${o.workload} seed=${o.seed} spark_threads=${o.cores} " +
      s"timed_s=${"%.2f".format(timedS)} cycles=$cycles ops=$attempted " +
      s"checks=$checks mismatches=${mismatches.size} failed_ops=$failedOps")
    line(s"fail_ratio=${Json.num(failed.toDouble / math.max(1, attempted))} " +
      s"(failed or wrong / attempted)")
    line(f"cpu steal during the timed window: $stealPct%.1f %% (from /proc/stat; " +
      "other tenants of the host slow every latency)")
    line(s"set-up builds s: ${buildTimes.map("%.3f".format(_)).mkString(" ")} " +
      s"warm-up_s=${"%.3f".format(warmS)} jvm_s=${"%.3f".format(jvmS)} " +
      s"session_s=${"%.3f".format(sessionS)}")
    ok.groupBy(op => s"${op.kind}.${op.name}").toSeq.sortBy(_._1)
      .foreach { case (k, xs) =>
        line(f"  $k%-28s n=${xs.size}%4d p50_ms=${median(xs.map(_.ms))}%.1f")
      }

    val metrics: Seq[(String, Double, String)] =
      if (!o.trace) {
        val writes = ok.filter(_.kind == "write").map(_.ms)
        val reads = ok.filter(_.kind == "read").map(_.ms)
        val (wt, wp, wn) = Stats.tail(writes)
        val (rt, rp, rn) = Stats.tail(reads)
        line(f"write_tail = p$wp%.1f of ${writes.size} samples ($wn beyond)")
        line(f"read_tail = p$rp%.1f of ${reads.size} samples ($rn beyond)")
        Seq(
          ("setup_s", setupS, "s"),
          ("write_p50_ms", median(writes), "ms"),
          ("write_tail_ms", wt, "ms"),
          ("read_p50_ms", median(reads), "ms"),
          ("read_tail_ms", rt, "ms"),
          ("ops_per_s", ok.size / timedS, "1/s"),
          ("rows_per_s", ctx.userRows / timedS, "1/s"),
          ("write_amp", bytesW.toDouble / math.max(1L, ctx.userBytes), "ratio"),
          ("space_amp", stored.toDouble / math.max(1L, liveB), "ratio"),
          ("heap_live_mb", heapMb, "MiB"))
      } else {
        val layers = Layers.compute(ctx, recorder, live.layerExtras(),
          Layers.programFiles(new File("src/main/scala")))
        layers.report.foreach(line)
        Layers.writeTrace(ctx, recorder,
          s"perfbench/out/trace-${o.workload}-${o.seed}.json")
        layers.metrics
      }
    print(report)

    val expected = if (o.trace) Layers.Names.map(_._1) else Stats.EndToEnd
    val got = metrics.map(_._1)
    require(got.toSet == expected.toSet && got.size == expected.size,
      s"metric set mismatch: missing ${expected.diff(got)}, extra ${got.diff(expected)}")
    val correct = failed == 0 && attempted > 0
    val body = metrics.map { case (n, v, u) =>
      s"${Json.str(n)}: {\"value\": ${Json.num(v)}, \"unit\": ${Json.str(u)}}"
    }.mkString(", ")
    println(s"RESULT {\"correct\": $correct, \"attempted\": ${math.max(1, attempted)}, " +
      s"\"failed\": $failed, \"metrics\": {$body}}")
    spark.stop()
    phase("session stopped")
    deleteTree(o.work)
    System.exit(if (correct) 0 else 3)
  }
}

object Stats {
  val EndToEnd: Seq[String] = Seq("setup_s", "write_p50_ms", "write_tail_ms",
    "read_p50_ms", "read_tail_ms", "ops_per_s", "rows_per_s", "write_amp",
    "space_amp", "heap_live_mb")

  /** The highest percentile with at least ten samples beyond it (the
    * 11th-largest value) when that percentile is at or above the median;
    * with fewer than 21 samples, the maximum. Returns (value,
    * percentile, samples beyond). */
  def tail(xs: Seq[Double]): (Double, Double, Int) = {
    val s = xs.sorted
    val n = s.size
    if (n == 0) (0.0, 0.0, 0)
    else if (n < 21) (s.last, 100.0, 0)
    else (s(n - 11), 100.0 * (n - 10) / n, 10)
  }
}
