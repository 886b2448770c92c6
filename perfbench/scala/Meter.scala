package perfbench

import java.util.Properties
import java.util.concurrent.ConcurrentHashMap

import scala.collection.mutable.ArrayBuffer

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobStart, SparkListenerTaskEnd}

/** Task counters of one unit of work. */
final class Counts {
  var jobs = 0L
  var tasks = 0L
  var taskMs = 0L
  var bytesWritten = 0L
  var bytesRead = 0L
  var recordsRead = 0L
  var shuffleBytes = 0L
  var spillBytes = 0L
}

/** SparkListener that sums job and task counters per unit of work. A job
  * belongs to the unit named by its `streaming.sql.batchId` local property
  * (set by the micro-batch engine; prefixed `batch:`) or else by its job
  * group, which the benchmark sets around every unit it drives. Listener
  * events arrive on one bus thread; readers call [[drained]] first. */
final class Meter extends SparkListener {
  private val byUnit = new ConcurrentHashMap[String, Counts]()
  private val stageUnit = new ConcurrentHashMap[Int, String]()

  private def unitOf(p: Properties): String =
    if (p == null) "none"
    else Option(p.getProperty("streaming.sql.batchId")).map("batch:" + _)
      .orElse(Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")

  private def counts(unit: String): Counts =
    byUnit.computeIfAbsent(unit, _ => new Counts)

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    val unit = unitOf(e.properties)
    e.stageIds.foreach(stageUnit.put(_, unit))
    val c = counts(unit)
    c.synchronized { c.jobs += 1 }
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    val m = e.taskMetrics
    if (m == null) return
    val c = counts(stageUnit.getOrDefault(e.stageId, "none"))
    c.synchronized {
      c.tasks += 1
      c.taskMs += m.executorRunTime
      c.bytesWritten += m.outputMetrics.bytesWritten
      c.bytesRead += m.inputMetrics.bytesRead
      c.recordsRead += m.inputMetrics.recordsRead
      c.shuffleBytes += m.shuffleWriteMetrics.bytesWritten
      c.spillBytes += m.diskBytesSpilled
    }
  }

  /** Counters of `unit` once every event posted so far is delivered. */
  def drained(sc: org.apache.spark.SparkContext, unit: String): Counts = {
    org.apache.spark.BenchBridge.drainListeners(sc)
    val c = counts(unit)
    c.synchronized {
      val out = new Counts
      out.jobs = c.jobs; out.tasks = c.tasks; out.taskMs = c.taskMs
      out.bytesWritten = c.bytesWritten; out.bytesRead = c.bytesRead
      out.recordsRead = c.recordsRead; out.shuffleBytes = c.shuffleBytes
      out.spillBytes = c.spillBytes
      out
    }
  }
}

/** One traced interval. Spans of one unit of work share `unit`. */
final case class Span(id: Int, parent: Int, unit: String, name: String,
    startNs: Long, endNs: Long)

/** In-memory span log, written out once at the end of the run. Disabled
  * (records nothing, costs one branch) in untraced runs. */
final class Tracer(val enabled: Boolean) {
  private val spans = ArrayBuffer.empty[Span]
  private var open = List.empty[Int]
  private var unit = ""

  def inUnit[T](u: String)(body: => T): T = {
    val prev = unit
    unit = u
    try span(u)(body) finally unit = prev
  }

  def span[T](name: String)(body: => T): T =
    if (!enabled) body
    else {
      val id = spans.size
      val parent = open.headOption.getOrElse(-1)
      spans += Span(id, parent, unit, name, System.nanoTime(), 0L)
      open = id :: open
      try body
      finally {
        open = open.tail
        spans(id) = spans(id).copy(endNs = System.nanoTime())
      }
    }

  /** A child interval measured by the program itself (known duration, no
    * start time), recorded under the innermost open span. */
  def reported(name: String, ms: Long): Unit =
    if (enabled) {
      val parent = open.headOption.getOrElse(-1)
      spans += Span(spans.size, parent, unit, name, -1L, ms * 1000000L)
    }

  def write(path: java.nio.file.Path): Unit = if (enabled) {
    val lines = spans.iterator.map { s =>
      val (start, end) = if (s.startNs < 0) ("null", "null") else
        (s.startNs.toString, s.endNs.toString)
      val dur = if (s.startNs < 0) s.endNs / 1e6 else (s.endNs - s.startNs) / 1e6
      s"""{"id":${s.id},"parent":${s.parent},"unit":${Json.str(s.unit)},""" +
        s""""name":${Json.str(s.name)},"start_ns":$start,"end_ns":$end,""" +
        s""""ms":$dur}"""
    }
    java.nio.file.Files.write(path,
      lines.mkString("", "\n", "\n").getBytes("UTF-8"))
  }
}

object Json {
  def str(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""

  def num(d: Double): String =
    if (d.isNaN || d.isInfinite) "null" else d.toString

  def obj(kv: Iterable[(String, String)]): String =
    kv.map { case (k, v) => s"${str(k)}:$v" }.mkString("{", ",", "}")

  def arr(vs: Iterable[String]): String = vs.mkString("[", ",", "]")
}
