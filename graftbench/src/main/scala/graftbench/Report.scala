package graftbench

import scala.collection.mutable

object Json {
  def str(s: String): String = {
    val sb = new StringBuilder("\"")
    s.foreach {
      case '"' => sb ++= "\\\""
      case '\\' => sb ++= "\\\\"
      case '\n' => sb ++= "\\n"
      case c if c < ' ' => sb ++= f"\\u${c.toInt}%04x"
      case c => sb += c
    }
    sb += '"'
    sb.toString
  }
  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else java.lang.Double.toString(d)
}

object Stats {
  /** Linear-interpolated quantile (q in [0, 1]) of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.size - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.size - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set size of this process (Linux `VmHWM`), in MB. */
  def peakRssMb(): Double = {
    val f = java.nio.file.Paths.get("/proc/self/status")
    if (!java.nio.file.Files.exists(f)) -1.0
    else {
      import scala.jdk.CollectionConverters._
      java.nio.file.Files.readAllLines(f).asScala
        .find(_.startsWith("VmHWM:"))
        .map(_.split("\\s+")(1).toDouble / 1024.0).getOrElse(-1.0)
    }
  }
}

final case class Metric(name: String, value: Double, unit: String, samples: Int)

/** Checks made on the output of one operation. */
final class OpCtx(report: Report, label: String) {
  @volatile var ok = true
  def check(cond: Boolean, msg: => String): Boolean = {
    if (!cond) { ok = false; report.note(s"$label: $msg") }
    cond
  }
}

/** Everything one run reports: metrics, attempted and failed operation
  * counts, and the failure messages. An operation fails when it throws
  * or when any check on its output fails; each failure is printed at
  * once. Thread-safe. */
final class Report {
  private val metrics = mutable.LinkedHashMap.empty[String, Metric]
  private val notes = mutable.ArrayBuffer.empty[String]
  private var attempted = 0L
  private var failed = 0L
  val info = mutable.LinkedHashMap.empty[String, String]

  def put(name: String, value: Double, unit: String, samples: Int = 1): Unit =
    synchronized { metrics(name) = Metric(name, value, unit, samples) }

  def note(msg: String): Unit = synchronized {
    notes += msg
    System.out.println(s"FAILED $msg")
    System.out.flush()
  }

  /** Run one operation; returns its result unless it threw. */
  def op[T](label: String)(body: OpCtx => T): Option[T] = {
    synchronized { attempted += 1 }
    val ctx = new OpCtx(this, label)
    val r =
      try Some(body(ctx))
      catch {
        case scala.util.control.NonFatal(e) =>
          ctx.ok = false
          note(s"$label threw ${e.getClass.getName}: ${e.getMessage}")
          None
      }
    if (!ctx.ok) synchronized { failed += 1 }
    r
  }

  /** Mark an operation whose output was checked after the fact. */
  def failOp(msg: String): Unit = { note(msg); synchronized { failed += 1 } }

  def nAttempted: Long = synchronized { attempted }
  def nFailed: Long = synchronized { failed }
  def all: Seq[Metric] = synchronized { metrics.values.toVector }

  def toJson(header: Seq[(String, String)]): String = synchronized {
    val ms = metrics.values.map { m =>
      s"${Json.str(m.name)}:{\"value\":${Json.num(m.value)},\"unit\":${Json.str(m.unit)},\"samples\":${m.samples}}"
    }.mkString(",")
    val inf = info.map { case (k, v) => s"${Json.str(k)}:${Json.str(v)}" }.mkString(",")
    val hdr = header.map { case (k, v) => s"${Json.str(k)}:$v" }.mkString(",")
    s"""{$hdr,"correct":${failed == 0 && notes.isEmpty},"attempted":$attempted,"failed":$failed,""" +
      s""""failures":[${notes.map(Json.str).mkString(",")}],"info":{$inf},"metrics":{$ms}}"""
  }
}
