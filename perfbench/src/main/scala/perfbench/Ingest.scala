package perfbench

import graft.sinks.ParquetSpanSink
import graft.spans.{OtlpIngest, OtlpProto}
import graft.streaming.StreamingOps
import graft.util.Force
import java.nio.file.{Files, Paths, StandardCopyOption}
import org.apache.spark.sql.SparkSession
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.StreamingQueryProgress
import scala.collection.mutable.ArrayBuffer
import scala.jdk.CollectionConverters._

/** The collector path: OTLP request files → the shipped stream entry
  * points → `writeToSpanStore` → the parquet span store.
  *
  *  - Drain: a fixed backlog of exporter-sized requests (JSON of both
  *    generations in one dir, protobuf in another) goes through one
  *    stream run each, into a fresh store. The backlog is large enough
  *    that per-span decode and write cost outweighs the two runs' fixed
  *    cost.
  *  - Live: an open-loop thread lands JSON request files at
  *    [[Ingest.LiveRate]] files/s; the ingest loop re-runs
  *    `writeToSpanStore` on one checkpoint whenever the previous run ends
  *    (`SpanSinks.streamTo` uses `Trigger.AvailableNow`). Freshness is due
  *    time → end of the run that committed the file. Fixed per-run cost
  *    dominates. */
final class Ingest(ctx: Ctx) extends Workload {
  import Ingest._
  private val spark = ctx.spark
  private val gen = new Gen(ctx.seed)
  private val drain = gen.requests(DrainRequests, DrainTraces,
    Gen.BaseNs + 3600L * 1000000000L, StepNs, 0.2, 0.2, firstId = 1000000)
  private val drainSpans = drain.flatMap(_.spans)
  private val drainIn = (ctx.dir("drain/json"), ctx.dir("drain/pb"))
  /** Live requests per measuring pass, rendered ahead of time. */
  private val liveMax = (LiveRate * ctx.seconds).toInt + 10
  private val live = (0 until 2).map(p => gen.requests(liveMax, 1,
    Gen.BaseNs + (2 + p) * 3600L * 1000000000L, StepNs, 0.0, 0.25,
    firstId = 2000000 + p * liveMax))
  private val livePayloads = live.map(_.map(_.payload))

  def setup(): Unit = {
    land(drain, drainIn._1, drainIn._2)
    // warm-up: the first stream runs of a process pay JIT and codegen, so
    // a drain of a third of the backlog and one live-sized round run
    // untimed
    ctx.span("ingest.warm") {
      val (wj, wp) = (ctx.dir("warm/json"), ctx.dir("warm/pb"))
      val warm = drain.take(DrainRequests / 3)
      land(warm, wj, wp)
      drainOnce("warm", warm, (wj, wp))
      val lj = ctx.dir("warm/live")
      land(gen.requests(WarmRequests, 1, Gen.BaseNs, StepNs, 0.0, 0.25), lj,
        lj)
      round(lj, proto = false, s"${ctx.runDir}/warm/store",
        s"${ctx.runDir}/warm/ckpt_live")
    }
  }

  /** addBatch share of each timed drain's wall: the part that grows with
    * the backlog's spans. */
  private val addBatchShare = ArrayBuffer[Double]()

  /** One drain of `reqs`, landed in `in`, into a fresh store; returns
    * spans/s. */
  private def drainOnce(tag: String, reqs: Seq[Req] = drain,
      in: (String, String) = drainIn): Double = {
    val store = s"${ctx.runDir}/drain/store.$tag"
    val (a, b) = ctx.span("ingest.drain") {
      (round(in._1, proto = false, store,
          s"${ctx.runDir}/drain/ckpt_json.$tag"),
        round(in._2, proto = true, store,
          s"${ctx.runDir}/drain/ckpt_pb.$tag"))
    }
    val wall = (b.endNs - a.startNs) / 1e9
    ctx.attempted += reqs.size
    val spans = reqs.flatMap(_.spans)
    val want = (spans.size.toLong, Gen.checksum(spans))
    val got = ctx.span("ingest.check", -1L, "check")(
      Checks.storeSummary(spark, store))
    if (got != want)
      ctx.fail(s"drain store $tag: (count, checksum) $got != $want",
        reqs.size.toLong)
    val addBatch = phase("addBatch")(a) + phase("addBatch")(b)
    if (ctx.tracer.on) addBatchShare += addBatch / wall
    ctx.log(f"ingest: drain $tag took $wall%.2f s, addBatch $addBatch%.2f s")
    spans.size / wall
  }

  def measure(pass: Int): Unit = {
    // ---- live phase ----
    // each phase starts from a collected heap, not the previous one's
    // garbage
    System.gc()
    val reqs = live(pass)
    val payloads = livePayloads(pass)
    val liveIn = ctx.dir(s"live$pass/in")
    val staging = ctx.dir(s"live$pass/staging")
    val liveStore = s"${ctx.runDir}/live$pass/store"
    val liveCkpt = s"${ctx.runDir}/live$pass/ckpt"
    // file name -> (due, landed) nanoTime stamps, in the producer's log
    val due = new java.util.concurrent.ConcurrentHashMap[String, (Long, Long)]()
    val landed = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    val liveStart = System.nanoTime() + 50000000L
    val liveEnd = liveStart + (ctx.seconds * 1e9).toLong
    val producer = new Thread(() => {
      var i = 0
      var dueNs = liveStart
      while (i < liveMax && dueNs < liveEnd) {
        val wait = dueNs - System.nanoTime()
        if (wait > 0) Thread.sleep(wait / 1000000, (wait % 1000000).toInt)
        val name = f"req-${reqs(i).id}%07d.json"
        val tmp = Paths.get(staging, name)
        Files.write(tmp, payloads(i))
        Files.move(tmp, Paths.get(liveIn, name), StandardCopyOption.ATOMIC_MOVE)
        due.put(name, (dueNs, System.nanoTime()))
        landed.add(i)
        i += 1
        dueNs = liveStart + (i * 1e9 / LiveRate).toLong
      }
    }, "perfbench-producer")
    producer.start()
    val rounds = ArrayBuffer[Round]()
    val filesPerRound = ArrayBuffer[Int]()
    val freshness = ArrayBuffer[Double]()
    var committed = Set.empty[String]
    var backlogMax = 0
    var parquetSeen = 0
    def liveRound(): Unit = {
      backlogMax = math.max(backlogMax, due.size - committed.size)
      val r = ctx.span("ingest.live.round", rounds.size.toLong)(
        round(liveIn, proto = false, liveStore, liveCkpt))
      val now = committedFiles(liveCkpt)
      (now -- committed).foreach { f =>
        freshness += (r.endNs - due.get(f)._1) / 1e9
      }
      committed = now
      rounds += r
      if (ctx.tracer.on) {
        val n = parquetFiles(liveStore).size
        filesPerRound += n - parquetSeen
        parquetSeen = n
      }
    }
    while (System.nanoTime() < liveEnd) liveRound()
    producer.join()
    var extra = 0
    while (committed.size < due.size && extra < 5) { liveRound(); extra += 1 }
    ctx.log(s"ingest: live pass $pass: ${due.size} files in ${rounds.size} " +
      s"rounds, backlog max $backlogMax")
    ctx.metric("ingest.freshness_p50_s", Stats.quantile(freshness.toSeq, 0.5),
      "s", freshness.size)
    ctx.metric("ingest.freshness_p90_s", Stats.quantile(freshness.toSeq, 0.9),
      "s", freshness.size)

    val landedReqs = landed.asScala.toSeq.map(reqs)
    ctx.attempted += landedReqs.size
    val liveSpans = landedReqs.flatMap(_.spans)
    val want = (liveSpans.size.toLong, Gen.checksum(liveSpans))
    val got = ctx.span("ingest.check", -1L, "check")(
      Checks.storeSummary(spark, liveStore))
    if (committed.size != landedReqs.size)
      ctx.fail(s"live: ${landedReqs.size - committed.size} landed files " +
        "never committed", (landedReqs.size - committed.size).toLong)
    else if (got != want)
      ctx.fail(s"live store: (count, checksum) $got != $want",
        landedReqs.size.toLong)
    ctx.info ++= Seq("live_rate_files_per_s" -> LiveRate,
      "live_files" -> landedReqs.size, "live_rounds" -> rounds.size,
      "drain_requests" -> drain.size, "drain_spans" -> drainSpans.size)

    // ---- drain phase ----
    System.gc()
    val rates = (0 until DrainReps).map(k => drainOnce(s"p$pass.$k"))
    ctx.metric("ingest.drain_spans_per_s", Stats.median(rates), "1/s",
      rates.size)

    if (ctx.tracer.on) {
      traceMetrics(rounds.toSeq, filesPerRound.toSeq, due, backlogMax,
        freshness.size, liveStore,
        landed.asScala.toSeq.map(i => payloads(i).length.toLong).sum)
      layerRates()
    }
  }

  /** One run of the shipped ingest loop over `in`, to completion. */
  private def round(in: String, proto: Boolean, store: String,
      ckpt: String): Round = {
    val callMs = System.currentTimeMillis()
    val t0 = System.nanoTime()
    val q = ctx.span(if (proto) "streaming.round.proto" else
        "streaming.round.json") {
      val spans =
        if (proto) StreamingOps.streamOtlpProtobuf(spark, in)
        else StreamingOps.streamOtlpJson(spark, in)
      val q = StreamingOps.writeToSpanStore(spans, store, ckpt)
      q.awaitTermination()
      q
    }
    q.exception.foreach(e => throw e)
    Round(callMs, System.currentTimeMillis(), t0, System.nanoTime(),
      q.runId.toString, q.recentProgress.toSeq)
  }

  private def traceMetrics(rounds: Seq[Round], files: Seq[Int],
      due: java.util.concurrent.ConcurrentHashMap[String, (Long, Long)],
      backlogMax: Int, freshN: Int, store: String, inputBytes: Long): Unit = {
    ctx.work.settle()
    // rounds that committed data; empty runs are pure fixed cost
    val data = rounds.zipWithIndex.filter(_._1.progress.exists(
      _.numInputRows > 0))
    def med(f: Round => Double): Double = Stats.median(data.map(x => f(x._1)))
    def startS(r: Round): Double = r.progress.headOption.map(p =>
      (java.time.Instant.parse(p.timestamp).toEpochMilli - r.callMs) / 1e3)
      .getOrElse(0.0)
    val n = data.size
    ctx.metric("streaming.round_start_s", med(startS), "s", n)
    Seq("queryPlanning" -> "query_planning", "latestOffset" -> "latest_offset",
      "getBatch" -> "get_batch", "walCommit" -> "wal_commit",
      "commitOffsets" -> "commit_offsets", "addBatch" -> "add_batch",
      "triggerExecution" -> "trigger").foreach { case (k, name) =>
      ctx.metric(s"streaming.${name}_s", med(phase(k)), "s", n)
    }
    ctx.metric("streaming.drain_add_batch_share",
      Stats.median(addBatchShare.toSeq), "ratio", addBatchShare.size)
    ctx.metric("streaming.rounds", rounds.size.toDouble, "count")
    ctx.metric("streaming.rows_per_round",
      med(_.progress.map(_.numInputRows.toDouble).sum), "count", n)
    ctx.metric("streaming.round_accounted_share",
      med(r => (startS(r) + phase("triggerExecution")(r)) /
        ((r.endMs - r.callMs) / 1e3)), "ratio", n)
    ctx.metric("sinks.files_per_round",
      Stats.median(data.map(x => files(x._2).toDouble)), "count", n)
    ctx.metric("store.bytes_per_input_byte",
      parquetFiles(store).map(_.length).sum.toDouble / inputBytes, "ratio")
    def perRound(k: String): Double = med(r =>
      ctx.work.counts(r.runId).toMap.getOrElse(k, 0.0))
    ctx.metric("spark.jobs_per_round", perRound("jobs"), "count", n)
    ctx.metric("spark.tasks_per_round", perRound("tasks"), "count", n)
    ctx.metric("spark.task_cpu_s_per_round", perRound("task_cpu_s"), "s", n)
    val late = due.values().asScala.map { case (d, l) => (l - d) / 1e6 }.toSeq
    ctx.metric("gen.late_p90_ms", Stats.quantile(late, 0.9), "ms", late.size)
    ctx.metric("ingest.backlog_files_max", backlogMax.toDouble, "count")
    ctx.metric("ingest.freshness_n", freshN.toDouble, "count")
  }

  /** Stand-alone layer throughput on the drain payloads: JSON decode,
    * protobuf decode and the parquet sink, each the median of 3. */
  private def layerRates(): Unit = {
    import spark.implicits._
    val (pbReqs, jsonReqs) = drain.partition(_.wire == Protobuf)
    val json = spark.createDataset(jsonReqs.map(r =>
      new String(r.payload, "UTF-8"))).cache()
    val pb = spark.createDataset(pbReqs.map(_.payload)).cache()
    json.count(); pb.count()
    val nJson = jsonReqs.map(_.spans.size).sum
    def rate(name: String, n: Int)(body: => Unit): Double =
      Stats.median((0 until 3).map { i =>
        val t = System.nanoTime()
        ctx.span(name, i.toLong, name)(body)
        n / ((System.nanoTime() - t) / 1e9)
      })
    ctx.metric("spans.decode_json_spans_per_s", rate("spans.decode_json",
      nJson)(Force.rows(OtlpIngest.fromJson(json))), "1/s", 3)
    ctx.metric("spans.decode_proto_spans_per_s", rate("spans.decode_proto",
      drainSpans.size - nJson)(Force.rows(OtlpProto.fromProtobuf(pb))),
      "1/s", 3)
    val rows = OtlpIngest.fromJson(json).localCheckpoint()
    var k = 0
    ctx.metric("sinks.parquet_write_spans_per_s", rate("sinks.parquet_write",
      nJson) {
      k += 1
      new ParquetSpanSink(s"${ctx.runDir}/layer/store$k").writeBatch(rows, 0L)
    }, "1/s", 3)
  }
}

object Ingest {
  /** Request files in the live-sized warm round. */
  val WarmRequests = 30
  /** Drain backlog: request files, and traces per request (about 1.2k
    * spans, an exporter's batch); about 120k spans in all. */
  val DrainRequests = 100
  val DrainTraces = 120
  val DrainReps = 2
  /** Offered rate of the live phase, one-trace request files per second:
    * a quarter of the loop's capacity. Measured on a 4-core host, the
    * backlog held steady at 64 files/s and grew every round at 96 files/s,
    * where commits peaked at about 80 files/s. A round's length is its
    * fixed cost / (1 - per-file cost x rate): at half capacity that is
    * twice the fixed cost, and host speed noise reaches freshness doubled,
    * at a quarter 1.33 times. */
  val LiveRate = 20.0
  private val StepNs = 5000000L

  final case class Round(callMs: Long, endMs: Long, startNs: Long,
      endNs: Long, runId: String, progress: Seq[StreamingQueryProgress])

  /** Seconds a round spent in trigger phase `k`, over all its batches. */
  def phase(k: String)(r: Round): Double =
    r.progress.map(p => Option(p.durationMs.get(k)).map(_.doubleValue)
      .getOrElse(0.0)).sum / 1e3

  /** Lands each request's payload in `jsonDir` or `pbDir`. */
  private def land(reqs: Seq[Req], jsonDir: String, pbDir: String): Unit =
    reqs.foreach { r =>
      val (d, ext) =
        if (r.wire == Protobuf) (pbDir, "pb") else (jsonDir, "json")
      Files.write(Paths.get(d, f"req-${r.id}%07d.$ext"), r.payload)
    }

  /** File names the stream has committed, from its source log. */
  private def committedFiles(ckpt: String): Set[String] =
    Option(new java.io.File(s"$ckpt/sources/0").listFiles()).toSeq.flatten
      .filter(f => f.isFile && !f.getName.startsWith("."))
      .flatMap { f =>
        "\"path\":\"([^\"]+)\"".r.findAllMatchIn(
          new String(Files.readAllBytes(f.toPath), "UTF-8"))
          .map(m => m.group(1).split('/').last)
      }.toSet

  private def parquetFiles(path: String): Seq[java.io.File] = {
    val root = Paths.get(path)
    if (!Files.exists(root)) Seq.empty
    else Files.walk(root).iterator().asScala.map(_.toFile)
      .filter(f => f.isFile && f.getName.endsWith(".parquet")).toSeq
  }
}

/** Independent checks on what the program stored. */
object Checks {
  /** (span count, checksum) of a span store, the same sum as
    * [[Gen.checksum]]. */
  def storeSummary(spark: SparkSession, path: String): (Long, Long) = {
    val r = spark.read.parquet(path).agg(count(lit(1)),
      coalesce(sum(crc32(concat_ws("/", col("trace_id"), col("span_id"))) +
        col("duration_ns") + size(col("events")) * 1000003L), lit(0L)))
      .head()
    (r.getLong(0), r.getLong(1))
  }
}
