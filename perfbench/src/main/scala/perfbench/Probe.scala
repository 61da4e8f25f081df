package perfbench

import java.util.concurrent.ConcurrentHashMap
import java.util.concurrent.atomic.AtomicLong
import org.apache.spark.SparkContext
import org.apache.spark.scheduler._
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** Spark work counted per job group: jobs, tasks, task CPU and run time,
  * input, shuffle and spill bytes. Each benchmark boundary runs under its
  * own job group, so counts land where the work happened even though the
  * listener bus delivers them late. */
final class Counts {
  val jobs, tasks, cpuNs, runMs, inBytes, inRecords, shuffleBytes,
    spillBytes = new AtomicLong()
  def toMap: Map[String, Double] = Map(
    "jobs" -> jobs.get.toDouble, "tasks" -> tasks.get.toDouble,
    "task_cpu_s" -> cpuNs.get / 1e9, "task_run_s" -> runMs.get / 1e3,
    "bytes_read" -> inBytes.get.toDouble,
    "rows_read" -> inRecords.get.toDouble,
    "shuffle_bytes" -> shuffleBytes.get.toDouble,
    "spill_bytes" -> spillBytes.get.toDouble)
}

final class WorkListener extends SparkListener {
  val byGroup = new ConcurrentHashMap[String, Counts]()
  private val stageGroup = new ConcurrentHashMap[Int, String]()
  private val lastEvent = new AtomicLong(System.nanoTime())

  def counts(group: String): Counts =
    byGroup.computeIfAbsent(group, _ => new Counts)

  /** Sum over every group whose name starts with `prefix`. */
  def total(prefix: String): Map[String, Double] =
    byGroup.asScala.filter(_._1.startsWith(prefix)).values
      .map(_.toMap).foldLeft(Map.empty[String, Double]) { (a, b) =>
        b.map { case (k, v) => k -> (a.getOrElse(k, 0.0) + v) }
      }

  override def onJobStart(e: SparkListenerJobStart): Unit = {
    lastEvent.set(System.nanoTime())
    val g = Option(e.properties)
      .flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      .getOrElse("none")
    counts(g).jobs.incrementAndGet()
    e.stageIds.foreach(stageGroup.put(_, g))
  }

  override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
    lastEvent.set(System.nanoTime())
    val c = counts(stageGroup.getOrDefault(e.stageId, "none"))
    c.tasks.incrementAndGet()
    Option(e.taskMetrics).foreach { m =>
      c.cpuNs.addAndGet(m.executorCpuTime)
      c.runMs.addAndGet(m.executorRunTime)
      c.inBytes.addAndGet(m.inputMetrics.bytesRead)
      c.inRecords.addAndGet(m.inputMetrics.recordsRead)
      c.shuffleBytes.addAndGet(m.shuffleReadMetrics.totalBytesRead +
        m.shuffleWriteMetrics.bytesWritten)
      c.spillBytes.addAndGet(m.memoryBytesSpilled + m.diskBytesSpilled)
    }
  }

  /** Wait until the listener bus has been quiet for 300 ms (at most 10 s),
    * so late task events are counted before totals are read. */
  def settle(): Unit = {
    val deadline = System.nanoTime() + 10000000000L
    while (System.nanoTime() - lastEvent.get < 300000000L &&
      System.nanoTime() < deadline) Thread.sleep(50)
  }
}

/** One traced interval at a layer boundary the benchmark calls. */
final case class TSpan(id: Int, parent: Int, name: String, req: Long,
    startNs: Long, var endNs: Long)

/** In-memory span recorder. With tracing off, `span` only runs the body
  * under its job group; with tracing on it also records the interval and
  * its parent, and everything is written to one file at the end. */
final class Tracer(var on: Boolean, sc: SparkContext) {
  val spans = new ArrayBuffer[TSpan]()
  private var stack: List[TSpan] = Nil

  def span[T](name: String, req: Long = -1L, group: String = null)(
      body: => T): T = {
    if (group != null) sc.setJobGroup(group, name)
    if (!on) {
      try body finally { if (group != null) sc.clearJobGroup() }
    } else {
      val s = TSpan(spans.size, stack.headOption.map(_.id).getOrElse(-1),
        name, req, System.nanoTime(), 0L)
      spans += s
      stack = s :: stack
      try body finally {
        s.endNs = System.nanoTime()
        stack = stack.tail
        if (group != null) sc.clearJobGroup()
      }
    }
  }

  /** Self time per span name: duration minus the part its children cover. */
  def selfSeconds: Map[String, Double] = {
    val childNs = new Array[Long](spans.size)
    spans.foreach(s => if (s.parent >= 0)
      childNs(s.parent) += s.endNs - s.startNs)
    spans.groupBy(_.name).map { case (n, ss) =>
      n -> ss.map(s => s.endNs - s.startNs - childNs(s.id)).sum / 1e9
    }
  }

  def write(path: String): Unit = {
    val t0 = spans.headOption.map(_.startNs).getOrElse(0L)
    val lines = spans.map { s =>
      Json.render(Map("id" -> s.id, "parent" -> s.parent, "name" -> s.name,
        "req" -> s.req, "start_s" -> (s.startNs - t0) / 1e9,
        "end_s" -> (s.endNs - t0) / 1e9))
    }
    java.nio.file.Files.write(java.nio.file.Paths.get(path),
      lines.asJava)
  }
}

/** Minimal JSON writer for maps, sequences, numbers and strings. */
object Json {
  def render(v: Any): String = v match {
    case null => "null"
    case s: String => quote(s)
    case b: Boolean => b.toString
    case d: Double =>
      if (d.isNaN || d.isInfinite) "null" else d.toString
    case f: Float => render(f.toDouble)
    case n: Int => n.toString
    case n: Long => n.toString
    case m: scala.collection.Map[_, _] =>
      m.map { case (k, x) => quote(k.toString) + ":" + render(x) }
        .mkString("{", ",", "}")
    case o: Option[_] => o.map(render).getOrElse("null")
    case xs: Iterable[_] => xs.map(render).mkString("[", ",", "]")
    case xs: Array[_] => render(xs.toSeq)
    case x => quote(x.toString)
  }

  def quote(s: String): String = "\"" + s.flatMap {
    case '"' => "\\\""
    case '\\' => "\\\\"
    case '\n' => "\\n"
    case '\r' => "\\r"
    case '\t' => "\\t"
    case c if c < ' ' => f"\\u${c.toInt}%04x"
    case c => c.toString
  } + "\""
}

/** Percentiles, medians and process figures. */
object Stats {
  /** Linear-interpolated quantile (q in [0,1]); NaN when empty. */
  def quantile(xs: Seq[Double], q: Double): Double =
    if (xs.isEmpty) Double.NaN
    else {
      val s = xs.sorted
      val pos = q * (s.size - 1)
      val lo = math.floor(pos).toInt
      val hi = math.min(lo + 1, s.size - 1)
      s(lo) + (s(hi) - s(lo)) * (pos - lo)
    }
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)

  /** Peak resident set (VmHWM) of this process, in MB. */
  def peakRssMb(): Double = {
    val line = scala.io.Source.fromFile("/proc/self/status").getLines()
      .find(_.startsWith("VmHWM:")).getOrElse("VmHWM: 0 kB")
    line.split("\\s+")(1).toDouble / 1024.0
  }

  def loadAvg(): Double =
    scala.io.Source.fromFile("/proc/loadavg").mkString.split(" ")(0).toDouble
}
