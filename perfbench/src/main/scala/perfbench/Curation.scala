package perfbench

import graft.SparkEntry
import graft.util.{BuildCounters, Force}
import java.nio.file.{Files, Paths}

/** The LLM-data curation batch path: registry entries over a fixed table
  * set, one at a time, each timed as construction (`fn(spark, dir)`),
  * planning (`executedPlan`) and execution (`Force.rows`). The seed only
  * orders the entries. An untimed first pass fills JIT, the in-process
  * memos and the artifact catalog, dumps each result for the oracle
  * check, and fixes the row counts the timed pass must reproduce. It runs
  * in the query workload's traced run, for per-layer figures only. */
object Curation {
  /** The roadmap's costliest targets: the range join, the span scrub,
    * the k-NN join with its recall witness, and the curation DAG. */
  val Entries: Seq[String] = Seq("w2_range_join", "v67_span_scrub",
    "v3c_knn_join", "v3c2_knn_recall", "v66b_curation_dag_fixedbench")

  final case class Timing(construct: Double, plan: Double, exec: Double) {
    def total: Double = construct + plan + exec
  }
}

final class Curation(ctx: Ctx) extends Workload {
  import Curation._
  private val spark = ctx.spark
  private val registry = SparkEntry.queries
  private val order = new scala.util.Random(ctx.seed).shuffle(Entries)
  private var expected = Map.empty[String, Long]

  def setup(): Unit = {
    val catalog = new java.io.File(
      s"${sys.props("java.io.tmpdir")}/graft_artifact_catalog")
    ctx.info("catalog_warm_at_start") =
      Option(catalog.list()).exists(_.nonEmpty)
    // untimed pass: warm everything, dump results, fix row counts
    val dumpDir = ctx.dir("curation/dump")
    expected = order.map { e =>
      registry(e)(spark, ctx.dataDir).coalesce(1).write.parquet(s"$dumpDir/$e")
      val n = spark.read.parquet(s"$dumpDir/$e").count()
      ctx.log(s"curation: warm $e rows=$n")
      e -> n
    }.toMap
    val oracle = SparkEntry.oracleSql.filter { case (k, _) =>
      Entries.contains(k) }
    Files.writeString(Paths.get(dumpDir, "oracle_sql.json"), Json.render(oracle))
    ctx.info("setup_rows") = expected
  }

  /** One timed pass over the entries, traced per phase. */
  def measure(pass: Int): Unit = {
    val builds0 = BuildCounters.snapshot.values.sum
    val timings = order.map { e =>
      def timed[T](phase: String)(body: => T): (T, Double) = {
        val s = System.nanoTime()
        val r = ctx.span(s"curation.$phase", pass.toLong,
          s"cur.$e.$phase")(body)
        (r, (System.nanoTime() - s) / 1e9)
      }
      val (df, c) = ctx.span("curation.entry", pass.toLong) {
        timed("construct")(registry(e)(spark, ctx.dataDir))
      }
      val (_, pl) = timed("plan")(df.queryExecution.executedPlan)
      val (n, x) = timed("exec")(Force.rows(df))
      ctx.attempted += 1
      if (n != expected(e))
        ctx.fail(s"$e: timed pass returned $n rows, set-up pass ${expected(e)}")
      e -> Timing(c, pl, x)
    }.toMap
    ctx.metric("curation.total_s", timings.values.map(_.total).sum, "s")
    ctx.metric("curation.artifact_builds",
      (BuildCounters.snapshot.values.sum - builds0).toDouble, "count")
    ctx.metric("curation.construct_s", timings.values.map(_.construct).sum, "s")
    ctx.metric("curation.plan_s", timings.values.map(_.plan).sum, "s")
    ctx.metric("curation.exec_s", timings.values.map(_.exec).sum, "s")
    ctx.work.settle()
    def counts(phase: String, k: String): Double =
      Entries.map(e => ctx.work.counts(s"cur.$e.$phase").toMap(k)).sum
    ctx.metric("curation.construct_jobs", counts("construct", "jobs"), "count")
    ctx.metric("curation.exec_jobs", counts("exec", "jobs"), "count")
    ctx.metric("curation.task_cpu_s", Seq("construct", "plan", "exec")
      .map(counts(_, "task_cpu_s")).sum, "s")
    ctx.metric("curation.shuffle_bytes", counts("exec", "shuffle_bytes"),
      "bytes")
    ctx.metric("curation.spill_bytes", counts("exec", "spill_bytes"), "bytes")
    timings.foreach { case (e, t) =>
      ctx.metric(s"curation.$e.construct_s", t.construct, "s")
      ctx.metric(s"curation.$e.exec_s", t.exec, "s")
    }
  }
}
