package perfbench

import java.io.File
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Paths}

import scala.jdk.CollectionConverters._

/** Per-layer metrics of a traced run, measured from outside: span
  * durations around the calls into each layer, Spark listener counters
  * and FS call counts attributed to the enclosing operation by time
  * window (one client, so the match is unambiguous). */
object Layers {

  /** Layers whose self time is reported, by span-name prefix. `client`
    * is the operation's root span: time spent in the benchmark's own
    * code and in calls it does not wrap. */
  val SelfLayers: Seq[String] = Seq("client", "pipeline", "streaming",
    "fact", "changefeed", "index", "catalog")

  /** Spans timed as their own metric: span name → metric name. */
  val TimedSpans: Seq[(String, String)] = Seq(
    "pipeline.etl_run" -> "pipeline.etl_run_ms",
    "streaming.webhook_batch" -> "streaming.webhook_batch_ms",
    "streaming.apply_batch" -> "streaming.apply_batch_ms",
    "fact.compact" -> "fact.compact_ms",
    "fact.vacuum" -> "fact.vacuum_ms",
    "changefeed.poll" -> "changefeed.poll_ms",
    "index.refresh" -> "index.refresh_ms",
    "index.topk" -> "index.topk_ms",
    "catalog.plan" -> "catalog.plan_ms",
    "catalog.exec" -> "catalog.exec_ms",
    "catalog.dml.merge" -> "catalog.dml_ms.merge",
    "catalog.dml.update" -> "catalog.dml_ms.update",
    "catalog.dml.delete" -> "catalog.dml_ms.delete",
    "catalog.dml.insert" -> "catalog.dml_ms.insert")

  /** Program files whose Spark jobs are timed by call site; jobs from
    * other program files fold into `other`. */
  val CallSiteFiles: Seq[String] = Seq("Upsert.scala", "Merge.scala",
    "CommitLock.scala", "Constraints.scala", "BatchEtl.scala",
    "RecordingStream.scala")

  val SparkPerOp: Seq[(String, String)] = Seq(
    "jobs_per_op" -> "count", "stages_per_op" -> "count",
    "tasks_per_op" -> "count", "task_cpu_ms_per_op" -> "ms",
    "sched_delay_ms_per_op" -> "ms", "driver_idle_ms_per_op" -> "ms",
    "shuffle_bytes_per_op" -> "bytes", "spill_bytes_per_op" -> "bytes")

  val FsPerOp: Seq[(String, String)] =
    FsCounters.Kinds.map(k => k -> s"${k}_per_op") :+
      ("bytes_written" -> "bytes_written_per_op")

  val Extras: Seq[(String, String)] = Seq(
    "streaming.redelivery_skip_ratio" -> "ratio",
    "changefeed.rows_per_poll" -> "count",
    "index.recall_at_k" -> "ratio")

  /** Every per-layer metric with its unit, in report order. */
  val Names: Seq[(String, String)] =
    TimedSpans.map(_._2 -> "ms") ++ Extras ++
      (CallSiteFiles ++ Seq("other", "client", "no_callsite"))
        .map(f => s"spark.job_ms.$f" -> "ms") ++
      Seq("spark.jobs_no_callsite_share" -> "ratio") ++
      Seq("read", "write").flatMap(k =>
        SparkPerOp.map { case (n, u) => s"spark.$n.$k" -> u } ++
          FsPerOp.map { case (_, n) =>
            s"fs.$n.$k" -> (if (n.startsWith("bytes")) "bytes" else "count")
          }) ++
      SelfLayers.map(l => s"self_ms.$l" -> "ms") ++
      Seq("trace.overhead_pct" -> "%")

  final case class Result(metrics: Seq[(String, Double, String)],
      report: Seq[String])

  /** Names of the program's own source files. */
  def programFiles(root: File): Set[String] =
    if (!root.isDirectory) Set.empty
    else Files.walk(root.toPath).iterator.asScala
      .map(_.getFileName.toString).filter(_.endsWith(".scala")).toSet

  private val CallSiteRe = """ at ([^\s:]+):\d+""".r

  def callSiteFile(cs: String): Option[String] =
    CallSiteRe.findFirstMatchIn(cs).map(_.group(1))

  private def mean(xs: Seq[Double]): Double =
    if (xs.isEmpty) 0.0 else xs.sum / xs.size

  /** Length of the union of intervals clipped to [lo, hi]. */
  private def covered(iv: Seq[(Long, Long)], lo: Long, hi: Long): Long = {
    var total = 0L
    var cur = lo
    iv.map { case (a, b) => (math.max(a, lo), math.min(b, hi)) }
      .filter { case (a, b) => b > a }.sortBy(_._1).foreach { case (a, b) =>
        val s = math.max(a, cur)
        if (b > s) { total += b - s; cur = b }
      }
    total
  }

  def compute(ctx: Ctx, rec: Recorder, extras: Map[String, Double],
      progFiles: Set[String]): Result = {
    val traced = ctx.ops.filter(o => o.traced && o.ok).toSeq
    // the first timed cycle still carries warm-up: not a fair baseline
    val untraced = ctx.ops.filter(o => !o.traced && o.ok && o.cycle > 0).toSeq
    val jobs = rec.jobs.asScala.toSeq.filter(_.endMs >= 0)
    val benchFiles = Set("ZoomEtl.scala", "FactSql.scala", "Ctx.scala",
      "Main.scala")
    // job → operation, by the op window that holds the job's start
    val opJobs: Map[Int, Seq[JobRec]] = traced.map { o =>
      o.id -> jobs.filter(j => j.startMs >= o.wallStart && j.startMs <= o.wallEnd)
    }.toMap
    val out = Seq.newBuilder[(String, Double)]
    val report = Seq.newBuilder[String]

    // span timings, mean per call
    val spans = ctx.spans.toSeq
    TimedSpans.foreach { case (s, m) =>
      out += m -> mean(spans.filter(_.name == s).map(x => (x.endNs - x.startNs) / 1e6))
    }
    Extras.foreach { case (n, _) => out += n -> extras.getOrElse(n, 0.0) }

    // job time by call-site file
    val opsN = math.max(1, traced.size)
    val attributed = traced.flatMap(o => opJobs(o.id))
    def fileClass(j: JobRec): String = callSiteFile(j.callSite) match {
      case Some(f) if CallSiteFiles.contains(f) => f
      case Some(f) if benchFiles.contains(f) => "client"
      case Some(f) if progFiles.contains(f) => "other"
      case _ => "no_callsite"
    }
    val byFile = attributed.groupBy(fileClass)
    (CallSiteFiles ++ Seq("other", "client", "no_callsite")).foreach { f =>
      out += s"spark.job_ms.$f" ->
        byFile.getOrElse(f, Nil).map(j => (j.endMs - j.startMs).toDouble).sum / opsN
    }
    out += "spark.jobs_no_callsite_share" ->
      byFile.getOrElse("no_callsite", Nil).size.toDouble / math.max(1, attributed.size)
    attributed.groupBy(j => callSiteFile(j.callSite).getOrElse(j.callSite))
      .toSeq.sortBy(-_._2.size).take(12).foreach { case (f, js) =>
        report += f"  jobs by call site: $f%-36s n=${js.size}%5d " +
          f"ms=${js.map(j => j.endMs - j.startMs).sum}%7d"
      }

    // Spark and FS counters per operation, split by read/write
    Seq("read", "write").foreach { kind =>
      val os = traced.filter(_.kind == kind)
      val n = math.max(1, os.size)
      def perOp(f: JobRec => Double): Double =
        os.map(o => opJobs(o.id).map(f).sum).sum / n
      out += s"spark.jobs_per_op.$kind" -> perOp(_ => 1.0)
      out += s"spark.stages_per_op.$kind" -> perOp(_.stages.get.toDouble)
      out += s"spark.tasks_per_op.$kind" -> perOp(_.tasks.get.toDouble)
      out += s"spark.task_cpu_ms_per_op.$kind" -> perOp(_.cpuNs.get / 1e6)
      out += s"spark.sched_delay_ms_per_op.$kind" -> perOp(_.schedDelayMs.get.toDouble)
      out += s"spark.driver_idle_ms_per_op.$kind" -> os.map { o =>
        val busy = covered(opJobs(o.id).map(j => (j.startMs, j.endMs)),
          o.wallStart, o.wallEnd)
        math.max(0.0, o.ms - busy)
      }.sum / n
      out += s"spark.shuffle_bytes_per_op.$kind" -> perOp(_.shuffleBytes.get.toDouble)
      out += s"spark.spill_bytes_per_op.$kind" -> perOp(_.spillBytes.get.toDouble)
      FsPerOp.foreach { case (k, name) =>
        out += s"fs.$name.$kind" -> os.map(_.fs.getOrElse(k, 0L).toDouble).sum / n
      }
      report += s"  traced $kind ops: ${os.size}"
    }

    // self time: span duration minus the part its children cover
    val children = spans.groupBy(_.parent)
    val selfBy = spans.groupBy(s =>
      if (s.parent < 0) "client" else s.name.takeWhile(_ != '.'))
      .map { case (layer, ss) =>
        layer -> ss.map { s =>
          val kids = children.getOrElse(s.id, Nil).map(c => (c.startNs, c.endNs))
          (s.endNs - s.startNs - covered(kids, s.startNs, s.endNs)) / 1e6
        }.sum
      }
    SelfLayers.foreach(l => out += s"self_ms.$l" -> selfBy.getOrElse(l, 0.0) / opsN)

    val tracedMean = mean(traced.map(_.ms))
    val untracedMean = mean(untraced.map(_.ms))
    out += "trace.overhead_pct" ->
      (if (untracedMean > 0) 100.0 * (tracedMean - untracedMean) / untracedMean else 0.0)
    report += f"  tracing overhead: mean op ${untracedMean}%.1f ms untraced " +
      f"(n=${untraced.size}) vs ${tracedMean}%.1f ms traced (n=${traced.size})"

    val values = out.result().toMap
    Result(Names.map { case (n, u) => (n, values(n), u) }, report.result())
  }

  /** Spans and attributed jobs, written once at the end of the run. */
  def writeTrace(ctx: Ctx, rec: Recorder, path: String): Unit = {
    val sb = new StringBuilder("{\"spans\": [\n")
    sb ++= ctx.spans.map { s =>
      s"""{"id": ${s.id}, "parent": ${s.parent}, "op": ${s.op}, """ +
        s""""name": ${Json.str(s.name)}, "start_ns": ${s.startNs}, "end_ns": ${s.endNs}}"""
    }.mkString(",\n")
    sb ++= "],\n\"ops\": [\n"
    sb ++= ctx.ops.map { o =>
      s"""{"id": ${o.id}, "kind": ${Json.str(o.kind)}, "name": ${Json.str(o.name)}, """ +
        s""""start_ms": ${o.wallStart}, "end_ms": ${o.wallEnd}, "ms": ${Json.num(o.ms)}, """ +
        s""""traced": ${o.traced}, "ok": ${o.ok}}"""
    }.mkString(",\n")
    sb ++= "],\n\"jobs\": [\n"
    sb ++= rec.jobs.asScala.map { j =>
      s"""{"id": ${j.id}, "start_ms": ${j.startMs}, "end_ms": ${j.endMs}, """ +
        s""""call_site": ${Json.str(j.callSite)}, "stages": ${j.stages.get}, "tasks": ${j.tasks.get}}"""
    }.mkString(",\n")
    sb ++= "]}\n"
    val p = Paths.get(path)
    Files.createDirectories(p.getParent)
    Files.write(p, sb.toString.getBytes(StandardCharsets.UTF_8))
  }
}
