package perfbench

import graft.sinks.ParquetSpanSink
import graft.spans.{OtlpIngest, SearchRequest, TraceService}
import org.apache.spark.sql.{DataFrame, Row}
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** One dashboard user in a closed loop over a seven-day span store.
  *
  * The store is built in set-up through `ParquetSpanSink.writeBatch` in
  * [[Appends]] appends, the file layout live ingest produces. Each request
  * resolves the store with `OtlpIngest.readSpans`, calls one
  * `TraceService` method and collects the bounded result. The request
  * deck is weighted like the reference UI pages (search, monitoring,
  * analytics, trace details); the seed draws its parameters and order.
  * Every answer must equal the set-up answer of the same request, which
  * is itself checked against DuckDB after the run. */
object Query {
  val Traces = 6000
  /** Fewest whole passes over the request deck an untraced run times. */
  val MinPasses = 2
  val Appends = 6
  /** Share of the store's requests in the legacy
    * `instrumentationLibrarySpans` form, as in the live ingest traffic. */
  val LegacyShare = 0.25
  val DayNs = 86400L * 1000000000L
  val EndNs: Long = Gen.BaseNs + 7 * DayNs

  /** One distinct request: its type and parameters. */
  final case class Req(id: Int, kind: String, params: Map[String, Any])

  /** One timed request: wall and per-boundary seconds, and its answer. */
  final case class Done(wall: Double, read: Double, build: Double,
      plan: Double, exec: Double, rows: Seq[Row], cols: Seq[String])

  /** Deck of request kinds per UI page, with their counts. */
  private val Deck: Seq[(String, Int)] = Seq(
    // search
    "t09_search" -> 2,
    // monitoring
    "t10_trace_counts" -> 1, "t14_percentile_series" -> 1,
    "t16_error_counts" -> 1, "t17_search_metrics" -> 1,
    "t11_service_metrics" -> 1, "t12_endpoint_metrics" -> 1,
    // analytics
    "t01_top_slow" -> 1, "t04_endpoint_latencies" -> 1,
    "t05_service_dependencies" -> 1, "t06_trace_heatmap" -> 1,
    "t18_services" -> 1,
    // trace details
    "t03_trace_details" -> 1, "t07_span_details" -> 1, "u1_waterfall" -> 1)

  private val Predicates = Seq("scope=svc00", "http.status_code=500",
    "name=GET /api/r04", "scope=svc07,http.status_code=500",
    "service.name=svc03", "http.method!=GET,scope=svc00")

  /** Windows ending at the store's end, recent ones weighted up. */
  private val Windows = Seq(3600L, 6 * 3600L, 6 * 3600L, 24 * 3600L,
    24 * 3600L, 3 * 86400L, 7 * 86400L).map(_ * 1000000000L)

  /** Trace `i` of the store: its own generator, so executors can build
    * the store in parallel and the deck can regenerate any trace. */
  def traceAt(seed: Long, i: Int): Seq[GSpan] =
    new Gen(seed * 1000003L + i).trace(Gen.BaseNs + i * (7 * DayNs / Traces))

  def deck(rng: scala.util.Random, seed: Long): Seq[Req] = {
    def pick[T](xs: Seq[T]): T = xs(rng.nextInt(xs.size))
    def window: Map[String, Any] = {
      val w = pick(Windows)
      Map("startNs" -> (EndNs - w), "endNs" -> EndNs)
    }
    val kinds = Deck.flatMap { case (k, n) => Seq.fill(n)(k) }
    rng.shuffle(kinds).zipWithIndex.map { case (k, i) =>
      val t = traceAt(seed, rng.nextInt(Traces))
      val s = t(rng.nextInt(t.size))
      val p: Map[String, Any] = k match {
        case "t09_search" => window ++ Map("query" -> pick(Predicates),
          "rootOnly" -> rng.nextBoolean(),
          "sortField" -> pick(Seq("start_time_unix_nano", "duration_ns")),
          "page" -> (1 + rng.nextInt(3)), "pageSize" -> 10)
        case "t14_percentile_series" => window ++
          Map("p" -> pick(Seq(50.0, 95.0, 99.0)))
        case "t17_search_metrics" => window ++
          Map("query" -> pick(Predicates), "p" -> pick(Seq(50.0, 95.0)))
        case "t10_trace_counts" | "t16_error_counts" => window
        case "t03_trace_details" | "u1_waterfall" =>
          Map("traceId" -> s.traceB64)
        case "t07_span_details" => Map("spanId" -> s.spanB64)
        case _ => Map.empty
      }
      Req(i, k, p)
    }
  }

  def call(svc: TraceService, r: Req): DataFrame = {
    def l(k: String) = r.params(k).asInstanceOf[Long]
    def d(k: String) = r.params(k).asInstanceOf[Double]
    def s(k: String) = r.params(k).asInstanceOf[String]
    r.kind match {
      case "t01_top_slow" => svc.topSlowTraces()
      case "t03_trace_details" => svc.traceDetails(s("traceId"))
      case "t04_endpoint_latencies" => svc.endpointLatencies()
      case "t05_service_dependencies" => svc.serviceDependencies()
      case "t06_trace_heatmap" => svc.traceHeatmap()
      case "t07_span_details" => svc.spanDetails(s("spanId"))
      case "t09_search" => svc.search(SearchRequest(query = s("query"),
        startNs = l("startNs"), endNs = l("endNs"),
        rootOnly = r.params("rootOnly").asInstanceOf[Boolean],
        sortField = s("sortField"), page = r.params("page").asInstanceOf[Int],
        pageSize = r.params("pageSize").asInstanceOf[Int]))
      case "t10_trace_counts" => svc.traceCounts(l("startNs"), l("endNs"))
      case "t11_service_metrics" => svc.serviceMetrics()
      case "t12_endpoint_metrics" => svc.endpointMetrics()
      case "t14_percentile_series" =>
        svc.percentileSeries(d("p"), l("startNs"), l("endNs"))
      case "t16_error_counts" => svc.errorCounts(l("startNs"), l("endNs"))
      case "t17_search_metrics" =>
        svc.searchMetrics(s("query"), d("p"), l("startNs"), l("endNs"))
      case "t18_services" => svc.services()
      case "u1_waterfall" => svc.waterfall(s("traceId"))
    }
  }

  /** A collected value in the canonical JSON form the DuckDB check uses:
    * maps as sorted [key, value] pairs, structs as value lists. */
  def canon(v: Any): Any = v match {
    case null => null
    case m: scala.collection.Map[_, _] =>
      m.toSeq.map { case (k, x) => Seq(k.toString, canon(x)) }
        .sortBy(_.head.toString)
    case r: Row => r.toSeq.map(canon)
    case xs: scala.collection.Seq[_] => xs.map(canon)
    case d: java.sql.Date => d.toString
    case d: java.time.LocalDate => d.toString
    case b: java.math.BigDecimal => b.doubleValue
    case x => x
  }

  /** Append `k` of the store: the OTLP/JSON requests of its traces, one
    * trace each and a [[LegacyShare]] of them in the legacy form,
    * rendered on the executors and decoded by `OtlpIngest.fromJson`, as
    * live ingest decodes them. */
  private def append(ctx: Ctx, k: Int): DataFrame = {
    import ctx.spark.implicits._
    val seed = ctx.seed
    val per = Traces / Appends
    OtlpIngest.fromJson(ctx.spark.range(k * per, (k + 1) * per, 1, 4)
      .as[Long].map { i =>
        val legacy = new java.util.SplittableRandom(~(seed * 1000003L + i))
          .nextDouble() < LegacyShare
        Gen.json(traceAt(seed, i.toInt), legacy)
      })
  }
}

final class Query(ctx: Ctx) extends Workload {
  import Query._
  private val spark = ctx.spark
  private val store = s"${ctx.runDir}/query/store"
  private var reqs: Seq[Req] = Nil
  private var answers = Map.empty[Int, String]
  private val timed = scala.collection.mutable.Map[Int, Int]().withDefaultValue(0)

  def setup(): Unit = {
    val stored = ctx.span("query.store_build") {
      (0 until Appends).foreach { k =>
        new ParquetSpanSink(store).writeBatch(append(ctx, k), k.toLong)
      }
      Checks.storeSummary(spark, store)
    }
    val spans = (0 until Traces).flatMap(traceAt(ctx.seed, _))
    val want = (spans.size.toLong, Gen.checksum(spans))
    ctx.attempted += 1
    if (stored != want)
      ctx.fail(s"query store: (count, checksum) $stored != $want")
    ctx.log(s"query: store of ${stored._1} spans built")
    reqs = deck(new scala.util.Random(ctx.seed), ctx.seed)
    // set-up pass: warm every request and keep its answer
    val warm = reqs.map(r => r.id -> request(r, s"warm.${r.id}")).toMap
    answers = warm.map { case (k, d) => k -> Json.render(d.rows.map(canon)) }
    java.nio.file.Files.write(
      java.nio.file.Paths.get(ctx.runDir, "query", "answers.jsonl"),
      reqs.map(r => s"""{"id":${r.id},"kind":${Json.quote(r.kind)},""" +
        s""""params":${Json.render(r.params)},""" +
        s""""columns":${Json.render(warm(r.id).cols)},""" +
        s""""rows":${answers(r.id)}}""").asJava)
    ctx.info("distinct_requests") = reqs.size
    ctx.info("store_spans") = stored._1
  }

  // one request through the public entry points, timed per boundary
  private def request(r: Req, tag: String): Done = {
    val t0 = System.nanoTime()
    def phase[T](name: String)(body: => T): (T, Double) = {
      val s = System.nanoTime()
      val out = ctx.span(s"query.$name", r.id.toLong, s"$tag.$name")(body)
      (out, (System.nanoTime() - s) / 1e9)
    }
    ctx.span("query.request", r.id.toLong) {
      val (df, read) = phase("read")(OtlpIngest.readSpans(spark, store))
      val (q, build) = phase("build")(call(new TraceService(df), r))
      val (_, plan) = phase("plan")(q.queryExecution.executedPlan)
      val (rows, exec) = phase("exec")(q.collect().toSeq)
      Done((System.nanoTime() - t0) / 1e9, read, build, plan, exec, rows,
        q.columns.toSeq)
    }
  }

  def measure(pass: Int): Unit = {
    val t0 = System.nanoTime()
    val done = ArrayBuffer[(Req, Done)]()
    var i = 0
    // whole passes over the deck only, so every run times the same mix, and
    // at least MinPasses of them, so a pass that takes about the run's
    // seconds does not halve the sample count on a slower host; the traced
    // pass times one, which keeps a traced run inside its time limit
    val minRequests = (if (ctx.tracer.on) 1 else MinPasses) * reqs.size
    while (i < minRequests || i % reqs.size != 0 ||
        (!ctx.tracer.on && (System.nanoTime() - t0) / 1e9 < ctx.seconds)) {
      val r = reqs(i % reqs.size)
      ctx.attempted += 1
      timed(r.id) += 1
      try {
        val d = request(r, s"q$pass.$i")
        if (Json.render(d.rows.map(canon)) != answers(r.id))
          ctx.fail(s"request ${r.id} (${r.kind}): answer differs from set-up")
        done += r -> d
      } catch {
        case e: Exception => ctx.fail(s"request ${r.id} (${r.kind}): $e")
      }
      i += 1
    }
    val elapsed = (System.nanoTime() - t0) / 1e9
    val walls = done.map(_._2.wall).toSeq
    ctx.metric("query.latency_p50_s", Stats.quantile(walls, 0.5), "s",
      walls.size)
    ctx.metric("query.latency_p90_s", Stats.quantile(walls, 0.9), "s",
      walls.size)
    ctx.metric("query.requests_per_s", done.size / elapsed, "1/s", done.size)
    ctx.info("timed_per_request") = timed.map { case (k, v) => k.toString -> v }

    if (ctx.tracer.on) {
      ctx.work.settle()
      val n = done.size
      def med(f: Done => Double) = Stats.median(done.map(x => f(x._2)).toSeq)
      ctx.metric("query.read_s", med(_.read), "s", n)
      ctx.metric("query.build_s", med(_.build), "s", n)
      ctx.metric("query.plan_s", med(_.plan), "s", n)
      ctx.metric("query.exec_s", med(_.exec), "s", n)
      ctx.metric("query.request_accounted_share",
        med(d => (d.read + d.build + d.plan + d.exec) / d.wall), "ratio", n)
      val w = ctx.work.total(s"q$pass.")
      val rowsOut = done.map(_._2.rows.size).sum.max(1)
      ctx.metric("query.bytes_read_per_request", w("bytes_read") / n, "bytes", n)
      ctx.metric("query.rows_read_per_row_returned", w("rows_read") / rowsOut,
        "ratio", n)
      ctx.metric("query.jobs_per_request", w("jobs") / n, "count", n)
      ctx.metric("query.tasks_per_request", w("tasks") / n, "count", n)
      ctx.metric("query.latency_n", n.toDouble, "count")
      done.groupBy(_._1.kind).foreach { case (k, ds) =>
        ctx.metric(s"query.${k}_s", Stats.median(ds.map(_._2.wall).toSeq), "s",
          ds.size)
      }
    }
  }
}
