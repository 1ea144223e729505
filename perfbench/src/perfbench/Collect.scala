package perfbench

import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.{AtomicLong, AtomicReference}

import scala.jdk.CollectionConverters._

import org.apache.hadoop.fs.{FSDataOutputStream, FileStatus, FileSystem, LocalFileSystem, Path}
import org.apache.hadoop.fs.permission.FsPermission
import org.apache.hadoop.util.Progressable
import org.apache.spark.scheduler._

/** Hadoop FS call counters, bumped by [[CountingFs]]. */
object FsCounters {
  val Kinds: Seq[String] =
    Seq("list", "stat", "open", "create", "rename", "delete")
  private val counters: Map[String, AtomicLong] =
    Kinds.map(_ -> new AtomicLong).toMap
  def bump(kind: String): Unit = counters(kind).incrementAndGet()

  /** Bytes written through every Hadoop file system in this JVM, from
    * Hadoop's own global storage statistics. */
  def bytesWritten(): Long =
    FileSystem.getGlobalStorageStatistics.iterator.asScala
      .map(s => Option(s.getLong("bytesWritten")).map(_.longValue).getOrElse(0L))
      .sum

  /** Call counts plus bytes written, as one vector. */
  def snapshot(): Map[String, Long] =
    Kinds.map(k => k -> counters(k).get).toMap +
      ("bytes_written" -> bytesWritten())

  def delta(a: Map[String, Long], b: Map[String, Long]): Map[String, Long] =
    b.map { case (k, v) => k -> (v - a.getOrElse(k, 0L)) }
}

/** The stock local file system, counting the metadata and data calls a
  * commit or a scan makes. Installed for `file://` by the traced run's
  * `core-site.xml`; behaviour is otherwise unchanged. */
class CountingFs extends LocalFileSystem {
  import FsCounters.bump
  override def listStatus(p: Path): Array[FileStatus] = {
    bump("list"); super.listStatus(p)
  }
  override def getFileStatus(p: Path): FileStatus = {
    bump("stat"); super.getFileStatus(p)
  }
  override def open(p: Path, bufferSize: Int) = {
    bump("open"); super.open(p, bufferSize)
  }
  override def create(p: Path, perm: FsPermission, overwrite: Boolean,
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.create(p, perm, overwrite, bufferSize, replication, blockSize,
      progress)
  }
  override def createNonRecursive(p: Path, perm: FsPermission,
      flags: java.util.EnumSet[org.apache.hadoop.fs.CreateFlag],
      bufferSize: Int, replication: Short, blockSize: Long,
      progress: Progressable): FSDataOutputStream = {
    bump("create")
    super.createNonRecursive(p, perm, flags, bufferSize, replication,
      blockSize, progress)
  }
  override def rename(src: Path, dst: Path): Boolean = {
    bump("rename"); super.rename(src, dst)
  }
  override def delete(p: Path, recursive: Boolean): Boolean = {
    bump("delete"); super.delete(p, recursive)
  }
}

/** One Spark job as the listener saw it, with its tasks folded in. */
final class JobRec(val id: Int, val startMs: Long, val callSite: String) {
  @volatile var endMs: Long = -1L
  val stages = new AtomicLong
  val tasks = new AtomicLong
  val cpuNs = new AtomicLong
  val schedDelayMs = new AtomicLong
  val shuffleBytes = new AtomicLong
  val spillBytes = new AtomicLong
}

/** Outside-in Spark counters: a listener that records every job with
  * its call site, stage and task counts, executor CPU, scheduler delay,
  * shuffle and spill. Attribution to operations happens afterwards, by
  * time window. Any exception inside a callback is kept and re-thrown by
  * [[rethrow]], so a broken listener fails the run instead of silently
  * dropping attribution (Spark's bus would only log it). */
final class Recorder extends SparkListener {
  val jobs = new ConcurrentLinkedQueue[JobRec]()
  private val byJob = new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val stageJob =
    new java.util.concurrent.ConcurrentHashMap[Int, JobRec]()
  private val failure = new AtomicReference[Throwable]()

  private def guarded(body: => Unit): Unit =
    try body catch { case t: Throwable => failure.compareAndSet(null, t) }

  def rethrow(): Unit = Option(failure.get).foreach { t =>
    throw new IllegalStateException("benchmark SparkListener failed", t)
  }

  override def onJobStart(e: SparkListenerJobStart): Unit = guarded {
    // properties may legitimately be null (no local properties set)
    val fromProps = Option(e.properties)
      .flatMap(p => Option(p.getProperty("callSite.short")))
    val fromStage = e.stageInfos.sortBy(-_.stageId).headOption.map(_.name)
    val j = new JobRec(e.jobId, e.time,
      fromProps.orElse(fromStage).getOrElse(""))
    byJob.put(e.jobId, j)
    e.stageIds.foreach(s => stageJob.put(s, j))
    jobs.add(j)
  }

  override def onJobEnd(e: SparkListenerJobEnd): Unit = guarded {
    Option(byJob.get(e.jobId)).foreach(_.endMs = e.time)
  }

  override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
    guarded {
      Option(stageJob.get(e.stageInfo.stageId)).foreach(_.stages.incrementAndGet())
    }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = guarded {
    Option(stageJob.get(e.stageId)).foreach { j =>
      j.tasks.incrementAndGet()
      val m = e.taskMetrics
      val info = e.taskInfo
      if (m != null) {
        j.cpuNs.addAndGet(m.executorCpuTime + m.executorDeserializeCpuTime)
        j.shuffleBytes.addAndGet(m.shuffleWriteMetrics.bytesWritten)
        j.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
        if (info != null) {
          val delay = info.duration - m.executorRunTime -
            m.executorDeserializeTime - m.resultSerializationTime -
            info.gettingResultTime
          j.schedDelayMs.addAndGet(math.max(0L, delay))
        }
      }
    }
  }
}

object Heap {
  /** Driver heap in MiB after a full collection: the least used heap
    * seen after each of three, so a collection that overlapped a
    * background allocation does not count. */
  def liveMb(): Double = {
    val mem = java.lang.management.ManagementFactory.getMemoryMXBean
    (1 to 3).map { _ =>
      System.gc()
      Thread.sleep(50)
      mem.getHeapMemoryUsage.getUsed / (1024.0 * 1024.0)
    }.min
  }
}

/** CPU time the hypervisor gave to other tenants, from /proc/stat's
  * aggregate line; reported beside the metrics, since it slows every
  * latency the run measures. Empty where /proc/stat is absent. */
object Steal {
  def sample(): Option[(Long, Long)] = {
    val f = java.nio.file.Paths.get("/proc/stat")
    if (!java.nio.file.Files.isReadable(f)) None
    else {
      val cpu = java.nio.file.Files.readAllLines(f).get(0).trim.split("\\s+")
        .drop(1).map(_.toLong)
      Some((cpu.sum, if (cpu.length > 7) cpu(7) else 0L))
    }
  }

  def pct(a: Option[(Long, Long)], b: Option[(Long, Long)]): Double =
    (a, b) match {
      case (Some((t0, s0)), Some((t1, s1))) if t1 > t0 =>
        100.0 * (s1 - s0) / (t1 - t0)
      case _ => 0.0
    }
}
