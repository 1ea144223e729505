package perfbench

import scala.collection.mutable.ArrayBuffer
import scala.util.control.NonFatal

import org.apache.spark.sql.SparkSession

/** A span around one call into a layer's public function. `op` is the
  * id of the client operation it belongs to; `parent` is -1 for the
  * operation's own root span. Times are wall-clock nanoseconds. */
final case class Span(id: Int, parent: Int, op: Int, name: String,
    startNs: Long, endNs: Long)

/** One timed client operation. `wall*` are epoch milliseconds (the clock
  * Spark stamps its listener events with); `fs` is the FS counter delta
  * over the operation, traced runs only. */
final case class OpRec(id: Int, kind: String, name: String,
    wallStart: Long, wallEnd: Long, ms: Double, ok: Boolean,
    traced: Boolean, cycle: Int, fs: Map[String, Long])

/** The single client. Every workload issues its operations through
  * [[write]] and [[read]], which time them from the call until the
  * result is readable (writes) or collected (reads), and wraps its
  * calls into the program's layers in [[span]]. Operations issued while
  * [[measuring]] is false (set-up and warm-up) are run, not recorded. */
final class Ctx(val spark: SparkSession) {
  var measuring = false
  /** Spans and per-operation FS deltas are recorded only while set. */
  var tracing = false
  /** The timed cycle the client is in, recorded with each operation. */
  var cycle = 0

  val ops = ArrayBuffer.empty[OpRec]
  val spans = ArrayBuffer.empty[Span]
  val errors = ArrayBuffer.empty[String]
  var userRows = 0L
  var userBytes = 0L

  private var nextOp = 0
  private var nextSpan = 0
  private var curOp = -1
  private var stack: List[Int] = Nil

  def write[T](name: String)(body: => T): Option[T] = op("write", name)(body)
  def read[T](name: String)(body: => T): Option[T] = op("read", name)(body)

  /** Count committed user rows and their JSON-encoded size. */
  def committed(rows: Long, bytes: Long): Unit =
    if (measuring) { userRows += rows; userBytes += bytes }

  private def op[T](kind: String, name: String)(body: => T): Option[T] = {
    val traced = measuring && tracing
    val fs0 = if (traced) FsCounters.snapshot() else Map.empty[String, Long]
    val id = nextOp
    nextOp += 1
    curOp = id
    val w0 = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val res =
      try Some(span(s"op.$kind.$name")(body))
      catch {
        case NonFatal(e) =>
          val sw = new java.io.StringWriter
          e.printStackTrace(new java.io.PrintWriter(sw))
          errors += s"$kind $name failed: $sw"
          if (!measuring) throw e
          None
      }
    val t1 = System.nanoTime()
    val w1 = System.currentTimeMillis()
    curOp = -1
    if (measuring) {
      val fs = if (traced) FsCounters.delta(fs0, FsCounters.snapshot())
        else Map.empty[String, Long]
      ops += OpRec(id, kind, name, w0, w1, (t1 - t0) / 1e6, res.isDefined,
        traced, cycle, fs)
    }
    res
  }

  /** Time `body` as a span named `name` under the innermost open span. */
  def span[T](name: String)(body: => T): T =
    if (!(measuring && tracing)) body
    else {
      val id = nextSpan
      nextSpan += 1
      val parent = stack.headOption.getOrElse(-1)
      stack = id :: stack
      val t0 = System.nanoTime()
      try body
      finally {
        val t1 = System.nanoTime()
        stack = stack.tail
        spans += Span(id, parent, curOp, name, t0, t1)
      }
    }
}

object Json {
  def str(s: String): String = {
    val b = new StringBuilder("\"")
    s.foreach {
      case '"' => b ++= "\\\""
      case '\\' => b ++= "\\\\"
      case '\n' => b ++= "\\n"
      case c if c < ' ' => b ++= f"\\u${c.toInt}%04x"
      case c => b += c
    }
    b += '"'
    b.toString
  }

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "0" else java.lang.Double.toString(d)

  /** The UTF-8 size of a flat record encoded as a JSON object — the
    * benchmark's measure of "user data" for write amplification. */
  def rowBytes(fields: Seq[(String, Any)]): Long =
    fields.map { case (k, v) =>
      val vs = v match {
        case null => "null"
        case s: String => str(s)
        case xs: Seq[_] => xs.mkString("[", ",", "]")
        case o => o.toString
      }
      str(k).length + 1 + vs.getBytes("UTF-8").length
    }.sum + fields.size + 1
}
