package perfbench

import org.apache.spark.sql.SparkSession
import scala.collection.mutable

/** A workload: untimed set-up, then one measuring pass (two when traced:
  * pass 0 untraced, pass 1 traced). */
trait Workload {
  def setup(): Unit
  def measure(pass: Int): Unit
}

/** Everything one workload run shares: the session, the tracer, the Spark
  * work listener, its scratch directory and the result it fills in. */
final class Ctx(val spark: SparkSession, val seed: Long,
    val seconds: Double, val runDir: String, val dataDir: String,
    val tracer: Tracer, val work: WorkListener) {
  val jvmStartMs: Long =
    java.lang.management.ManagementFactory.getRuntimeMXBean.getStartTime
  /** name -> (value, unit, sample count). */
  val metrics = mutable.LinkedHashMap[String, (Double, String, Int)]()
  val info = mutable.LinkedHashMap[String, Any]()
  val errors = mutable.ArrayBuffer[String]()
  var attempted = 0L
  var failed = 0L

  def metric(name: String, value: Double, unit: String, n: Int = 1): Unit =
    metrics(name) = (value, unit, n)

  /** Marks the end of set-up: the first timed operation starts now. */
  def startTiming(): Unit =
    metric("setup_s", (System.currentTimeMillis() - jvmStartMs) / 1e3, "s")

  def fail(msg: String, ops: Long = 1): Unit = {
    failed += ops
    if (errors.size < 50) errors += msg
    System.err.println(s"[perfbench] FAIL $msg")
  }

  /** Progress note on stderr, stamped with seconds since JVM start. */
  def log(msg: String): Unit = System.err.println(
    f"[perfbench] ${(System.currentTimeMillis() - jvmStartMs) / 1e3}%7.2f $msg")

  def dir(name: String): String = {
    val d = new java.io.File(runDir, name)
    d.mkdirs()
    d.getPath
  }

  def span[T](name: String, req: Long = -1L, group: String = null)(
      body: => T): T = tracer.span(name, req, group)(body)
}

/** Runs one workload and writes its raw result as JSON.
  *
  * Usage: perfbench.Main --workload ingest|query --seed N --seconds S
  *   --trace 0|1 --run-dir DIR --data-dir DIR --out FILE --trace-out FILE */
object Main {
  /** End-to-end name -> the workload's own metric it reports. */
  val Aliases: Map[String, Seq[(String, String)]] = Map(
    "ingest" -> Seq("latency_p50_s" -> "ingest.freshness_p50_s",
      "latency_p90_s" -> "ingest.freshness_p90_s",
      "throughput_per_s" -> "ingest.drain_spans_per_s"),
    "query" -> Seq("latency_p50_s" -> "query.latency_p50_s",
      "latency_p90_s" -> "query.latency_p90_s",
      "throughput_per_s" -> "query.requests_per_s"))

  def main(args: Array[String]): Unit = {
    val opt = args.grouped(2).collect { case Array(k, v) =>
      k.stripPrefix("--") -> v }.toMap
    val workload = opt("workload")
    val traced = opt.getOrElse("trace", "0") == "1"
    val runDir = opt("run-dir")
    val cpus = opt.getOrElse("cpus", "4")
    val loadStart = Stats.loadAvg()
    val builder = SparkSession.builder()
      .master(s"local[$cpus]")
      .appName(s"perfbench-$workload")
      .config("spark.sql.shuffle.partitions", cpus)
      .config("spark.ui.enabled", "false")
      .config("spark.sql.warehouse.dir", s"$runDir/warehouse")
    graft.GraftSession.requiredConfs.foreach { case (k, v) =>
      builder.config(k, v) }
    // all Spark scratch stays inside the run directory
    builder.config("spark.local.dir", s"$runDir/spark-local")
    val spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("ERROR")
    val work = new WorkListener
    spark.sparkContext.addSparkListener(work)
    val ctx = new Ctx(spark, opt("seed").toLong, opt("seconds").toDouble,
      runDir, opt.getOrElse("data-dir", ""),
      new Tracer(false, spark.sparkContext), work)
    val wallStart = System.nanoTime()
    // end-to-end name -> the workload's own metric
    def aliased: Map[String, (Double, String, Int)] =
      Aliases(workload).flatMap { case (g, named) =>
        ctx.metrics.get(named).map(g -> _) }.toMap
    try {
      val w: Workload = workload match {
        case "ingest" => new Ingest(ctx)
        case "query" => new Query(ctx)
        case x => throw new IllegalArgumentException(s"unknown workload $x")
      }
      w.setup()
      ctx.startTiming()
      w.measure(0)
      val plain = aliased
      ctx.metrics ++= plain
      if (traced) {
        // the same measurement again with tracing on; the difference in
        // the end-to-end figures is the tracing overhead
        ctx.tracer.on = true
        w.measure(1)
        aliased.foreach { case (g, (v, u, n)) =>
          ctx.metric(s"overhead.$g", v - plain(g)._1, u, n) }
        // the curation slice's layers are measured here, in the read-side
        // workload's traced run: its cold start does not fit every run
        if (workload == "query") {
          val c = new Curation(ctx)
          c.setup()
          c.measure(0)
        }
      }
    } catch {
      case e: Throwable =>
        e.printStackTrace()
        ctx.attempted = math.max(1L, ctx.attempted)
        ctx.fail(s"workload aborted: $e", ctx.attempted)
    }
    work.settle()
    val wall = (System.nanoTime() - wallStart) / 1e9
    val all = work.total("")
    // contention self-label: a contended run must read as contended
    ctx.metric("host.nproc", Runtime.getRuntime.availableProcessors(), "count")
    ctx.metric("host.load_start", loadStart, "ratio")
    ctx.metric("host.load_end", Stats.loadAvg(), "ratio")
    ctx.metric("host.task_cpu_per_wall", all.getOrElse("task_cpu_s", 0.0) /
      wall, "ratio")
    ctx.info("cpus") = cpus.toInt
    ctx.metric("peak_rss_mb", Stats.peakRssMb(), "MB")
    if (traced) {
      ctx.tracer.write(opt("trace-out"))
      ctx.info("self_s") = ctx.tracer.selfSeconds
    }
    val out = Map(
      "attempted" -> ctx.attempted, "failed" -> ctx.failed,
      "errors" -> ctx.errors.toSeq,
      "metrics" -> ctx.metrics.map { case (k, (v, u, n)) =>
        k -> Map("value" -> v, "unit" -> u, "n" -> n) },
      "info" -> ctx.info)
    java.nio.file.Files.writeString(java.nio.file.Paths.get(opt("out")),
      Json.render(out))
    spark.stop()
  }
}
