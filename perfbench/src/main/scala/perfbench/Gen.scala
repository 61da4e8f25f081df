package perfbench

import java.util.Base64
import java.util.SplittableRandom
import scala.collection.mutable.ArrayBuffer

/** One generated span, in the shape the span store will hold it. */
final case class GSpan(traceId: Array[Byte], spanId: Array[Byte],
    parentId: Array[Byte], service: String, name: String, startNs: Long,
    durNs: Long, status: Int, exception: Boolean) {
  def traceB64: String = Gen.b64(traceId)
  def spanB64: String = Gen.b64(spanId)
  def parentB64: String = Gen.b64(parentId)
}

sealed trait Wire
case object JsonCurrent extends Wire // `scopeSpans`
case object JsonLegacy extends Wire  // `instrumentationLibrarySpans`
case object Protobuf extends Wire

/** One OTLP ExportTraceServiceRequest: the spans of one or more traces,
  * as an exporter's batch carries them. */
final case class Req(id: Int, wire: Wire, spans: Seq[GSpan]) {
  def payload: Array[Byte] = wire match {
    case Protobuf => Gen.protobuf(spans)
    case w => Gen.json(spans, legacy = w == JsonLegacy)
      .getBytes(java.nio.charset.StandardCharsets.UTF_8)
  }
}

/** Seeded OTLP traffic: traces of 4-16 spans over 20 services (one hot
  * service carries ~30% of spans) and 40 endpoints, Pareto-tailed
  * durations, ~5% `http.status_code=500` and ~2% `exception` events.
  * The same seed gives the same requests. */
final class Gen(seed: Long) {
  private val rng = new SplittableRandom(seed)

  private def bytes(n: Int): Array[Byte] = {
    val b = new Array[Byte](n)
    var i = 0
    while (i < n) { b(i) = rng.nextInt(256).toByte; i += 1 }
    b
  }

  private def service(): String =
    if (rng.nextDouble() < Gen.HotShare) Gen.Services(0)
    else Gen.Services(1 + rng.nextInt(Gen.Services.length - 1))

  private def durationNs(): Long = {
    // Pareto(alpha 1.3) from 50 us, capped at 30 s
    val us = 50.0 * math.pow(1.0 - rng.nextDouble(), -1.0 / 1.3)
    (math.min(us, 3.0e7) * 1000).toLong
  }

  /** One trace starting at `startNs`. */
  def trace(startNs: Long): Seq[GSpan] = {
    val n = 4 + rng.nextInt(13)
    val tid = bytes(16)
    val out = new ArrayBuffer[GSpan](n)
    var i = 0
    while (i < n) {
      val (parent, start) =
        if (i == 0) (Array.emptyByteArray, startNs)
        else {
          val p = out(rng.nextInt(i))
          (p.spanId, p.startNs + rng.nextLong(math.max(1L, p.durNs)))
        }
      out += GSpan(tid, bytes(8), parent, service(),
        Gen.Endpoints(rng.nextInt(Gen.Endpoints.length)), start,
        durationNs(), if (rng.nextDouble() < 0.05) 500 else 200,
        rng.nextDouble() < 0.02)
      i += 1
    }
    out.toSeq
  }

  /** `n` requests of `traces` traces each, the traces starting at
    * `startNs` and spaced `stepNs` apart; `protoShare`/`legacyShare` pick
    * the wire form. */
  def requests(n: Int, traces: Int, startNs: Long, stepNs: Long,
      protoShare: Double, legacyShare: Double,
      firstId: Int = 0): IndexedSeq[Req] =
    (0 until n).map { i =>
      val u = rng.nextDouble()
      val wire =
        if (u < protoShare) Protobuf
        else if (u < protoShare + legacyShare) JsonLegacy
        else JsonCurrent
      Req(firstId + i, wire, (0 until traces).flatMap(j =>
        trace(startNs + (i.toLong * traces + j) * stepNs)))
    }
}

object Gen {
  val Services: IndexedSeq[String] = (0 until 20).map(i => f"svc$i%02d")
  val HotShare = 0.3
  val Endpoints: IndexedSeq[String] = (0 until 40).map { i =>
    val verb = Seq("GET", "POST", "PUT", "DELETE")(i % 4)
    f"$verb /api/r$i%02d"
  }
  /** 2026-01-05T00:00:00Z. */
  val BaseNs: Long = 1767571200L * 1000000000L

  def b64(b: Array[Byte]): String =
    if (b.isEmpty) "" else Base64.getEncoder.encodeToString(b)
  def hex(b: Array[Byte]): String = b.map("%02x".format(_)).mkString

  // ---- order-independent checksum, mirrored by Checks.storeSummary ----

  /** crc32("trace/span") + duration + 1000003 x event count, summed. */
  def checksum(spans: Iterable[GSpan]): Long = spans.iterator.map { s =>
    val c = new java.util.zip.CRC32()
    c.update(s"${s.traceB64}/${s.spanB64}".getBytes("UTF-8"))
    c.getValue + s.durNs + (if (s.exception) 1000003L else 0L)
  }.sum

  // ---- OTLP/JSON ----

  private def kv(sb: StringBuilder, key: String, v: String, int: Boolean,
      legacy: Boolean): Unit = {
    sb.append("{\"key\":\"").append(key).append("\",\"value\":")
    if (legacy)
      sb.append(if (int) "{\"Value\":{\"IntValue\":\"" else
        "{\"Value\":{\"StringValue\":\"").append(v).append("\"}}}")
    else
      sb.append(if (int) "{\"intValue\":\"" else "{\"stringValue\":\"")
        .append(v).append("\"}}")
  }

  def json(spans: Seq[GSpan], legacy: Boolean): String = {
    val sb = new StringBuilder(4096)
    sb.append("{\"resourceSpans\":[")
    spans.groupBy(_.service).toSeq.sortBy(_._1).zipWithIndex.foreach {
      case ((svc, ss), gi) =>
        if (gi > 0) sb.append(',')
        sb.append("{\"resource\":{\"attributes\":[")
        kv(sb, "service.name", svc, int = false, legacy)
        sb.append("]},")
        sb.append(if (legacy) "\"instrumentationLibrarySpans\":[{" +
          "\"instrumentationLibrary\":{\"name\":\"" else
          "\"scopeSpans\":[{\"scope\":{\"name\":\"")
        sb.append(svc).append("\"},\"spans\":[")
        ss.zipWithIndex.foreach { case (s, si) =>
          if (si > 0) sb.append(',')
          sb.append("{\"traceId\":\"").append(hex(s.traceId))
            .append("\",\"spanId\":\"").append(hex(s.spanId))
            .append("\",\"parentSpanId\":\"").append(hex(s.parentId))
            .append("\",\"name\":\"").append(s.name)
            .append("\",\"startTimeUnixNano\":\"").append(s.startNs)
            .append("\",\"endTimeUnixNano\":\"").append(s.startNs + s.durNs)
            .append("\",\"attributes\":[")
          kv(sb, "http.status_code", s.status.toString, int = true, legacy)
          sb.append(',')
          kv(sb, "http.method", s.name.takeWhile(_ != ' '), int = false,
            legacy)
          sb.append("],\"events\":[")
          if (s.exception) {
            sb.append("{\"timeUnixNano\":\"").append(s.startNs + 1)
              .append("\",\"name\":\"exception\",\"attributes\":[")
            kv(sb, "exception.type", "TimeoutError", int = false, legacy)
            sb.append("]}")
          }
          sb.append("]}")
        }
        sb.append("]}]}")
    }
    sb.append("]}")
    sb.toString
  }

  // ---- OTLP/protobuf (ExportTraceServiceRequest wire format) ----

  private final class Pb {
    val out = new java.io.ByteArrayOutputStream(2048)
    def varint(v0: Long): Unit = {
      var v = v0
      while ((v & ~0x7FL) != 0) { out.write(((v & 0x7F) | 0x80).toInt); v >>>= 7 }
      out.write(v.toInt)
    }
    def tag(f: Int, w: Int): Unit = varint((f << 3 | w).toLong)
    def bytes(f: Int, b: Array[Byte]): Unit = {
      tag(f, 2); varint(b.length.toLong); out.write(b, 0, b.length)
    }
    def string(f: Int, s: String): Unit = bytes(f, s.getBytes("UTF-8"))
    def fixed64(f: Int, v: Long): Unit = {
      tag(f, 1)
      var i = 0
      while (i < 8) { out.write(((v >>> (8 * i)) & 0xFF).toInt); i += 1 }
    }
    def msg(f: Int)(body: Pb => Unit): Unit = {
      val p = new Pb; body(p); bytes(f, p.out.toByteArray)
    }
  }

  private def pbKv(p: Pb, f: Int, key: String, v: String,
      int: Boolean): Unit =
    p.msg(f) { k =>
      k.string(1, key)
      k.msg(2) { a =>
        if (int) { a.tag(3, 0); a.varint(v.toLong) } else a.string(1, v)
      }
    }

  def protobuf(spans: Seq[GSpan]): Array[Byte] = {
    val req = new Pb
    spans.groupBy(_.service).toSeq.sortBy(_._1).foreach { case (svc, ss) =>
      req.msg(1) { rs =>
        rs.msg(1)(r => pbKv(r, 1, "service.name", svc, int = false))
        rs.msg(2) { sc =>
          sc.msg(1)(_.string(1, svc))
          ss.foreach { s =>
            sc.msg(2) { sp =>
              sp.bytes(1, s.traceId)
              sp.bytes(2, s.spanId)
              if (s.parentId.nonEmpty) sp.bytes(4, s.parentId)
              sp.string(5, s.name)
              sp.fixed64(7, s.startNs)
              sp.fixed64(8, s.startNs + s.durNs)
              pbKv(sp, 9, "http.status_code", s.status.toString, int = true)
              pbKv(sp, 9, "http.method", s.name.takeWhile(_ != ' '),
                int = false)
              if (s.exception) sp.msg(11) { e =>
                e.fixed64(1, s.startNs + 1)
                e.string(2, "exception")
                pbKv(e, 3, "exception.type", "TimeoutError", int = false)
              }
            }
          }
        }
      }
    }
    req.out.toByteArray
  }
}
