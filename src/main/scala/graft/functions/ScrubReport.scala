package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.InternalRow
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{BinaryExpression, Expression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** The whole st19/st25 in-row span scrub as ONE JVM pass per document:
  * hash every [[graft.dedup.DedupOps.ScrubWindow]]-word window (md5 of
  * the space-joined slice — byte-identical to Spark's
  * `md5(array_join(slice(w, s, W), " "))` spelling), probe the
  * duplicated-window ledger, union the covered positions of windows
  * whose first holder precedes this doc, and emit
  * (n_words, n_removed, clean_hash) with clean_hash the md5 of the
  * surviving words re-joined.
  *
  * Exists because the composable spelling — `transform` for the window
  * md5s, then `filter`/`exists` probing a bucketed one-row ledger map
  * per window — ran INTERPRETED (higher-order functions are
  * CodegenFallback) at ~200 µs per window, the super-linear term the
  * ×10 scale measurement exposed in st19 (SCALING.md). The ledger
  * travels as a Spark BROADCAST captured by the expression, NOT as a
  * column: the earlier column form (crossJoin of a one-row ledger
  * frame) dragged the multi-MB array through every joined row, and the
  * fallback row materialization re-copied it per document — measured
  * as ~200 µs/doc of pure memcpy. Each executor fetches the broadcast
  * once, builds the java HashMap lazily, and a probe is one hash
  * lookup; window hashing is a tight MessageDigest loop. Output is
  * bit-identical to the composable form (FunctionsSpec pins it against
  * the SQL spelling), so st19/st25 keep sharing v67's oracle.
  *
  * [[CodegenFallback]] by the [[MinHashSig]] argument: one compiled
  * call per row with primitive loops beats per-element interpreted
  * trees; the loop body would not codegen better. */
case class ScrubReport(words: Expression, docId: Expression,
    ledger: Broadcast[Array[(String, Long)]], window: Int)
    extends BinaryExpression with CodegenFallback {

  override def left: Expression = words
  override def right: Expression = docId

  override def dataType: DataType = StructType(Seq(
    StructField("n_words", IntegerType, nullable = false),
    StructField("n_removed", LongType, nullable = false),
    StructField("clean_hash", StringType, nullable = false)))

  override def checkInputDataTypes(): TypeCheckResult =
    (words.dataType, docId.dataType) match {
      case (ArrayType(StringType, _), LongType) =>
        TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"scrub_report expects (ARRAY<STRING>, LONG), got $other")
    }

  // per-BROADCAST-ID shared map (round-9 review): a @transient lazy
  // val on the expression alone rebuilds once per DESERIALIZED TASK
  // (32 × O(|ledger|) builds per drive at the repartition width); the
  // companion cache keys on the broadcast id so every task of every
  // query over one ledger shares a single build per JVM.
  @transient private lazy val ledgerMap:
      java.util.HashMap[String, java.lang.Long] =
    ScrubReport.mapFor(ledger)

  override def nullSafeEval(wAny: Any, idAny: Any): Any = {
    val w = wAny.asInstanceOf[ArrayData]
    val id = idAny.asInstanceOf[Long]
    val led = ledgerMap
    val n = w.numElements()
    val wordBytes = new Array[Array[Byte]](n)
    var i = 0
    while (i < n) {
      // null words cannot come out of split(); treat one defensively
      // as empty to keep the join spelling ("" contributes 0 bytes)
      val u = w.getUTF8String(i)
      wordBytes(i) = if (u == null) Array.emptyByteArray else u.getBytes
      i += 1
    }
    val removed = new Array[Boolean](n)
    val md = ScrubReport.digest.get()
    if (n >= window) {
      var s = 0 // 0-based window start
      while (s <= n - window) {
        md.reset()
        var k = 0
        while (k < window) {
          if (k > 0) md.update(' '.toByte)
          md.update(wordBytes(s + k))
          k += 1
        }
        val h = ScrubReport.hex(md.digest())
        val keep = led.get(h)
        if (keep != null && keep.longValue() < id) {
          var k2 = 0
          while (k2 < window) { removed(s + k2) = true; k2 += 1 }
        }
        s += 1
      }
    }
    var nRemoved = 0L
    i = 0
    while (i < n) { if (removed(i)) nRemoved += 1; i += 1 }
    // clean_hash = md5 of the surviving words joined by " "
    md.reset()
    var firstWord = true
    i = 0
    while (i < n) {
      if (!removed(i)) {
        if (!firstWord) md.update(' '.toByte)
        md.update(wordBytes(i))
        firstWord = false
      }
      i += 1
    }
    val cleanHash = UTF8String.fromString(ScrubReport.hex(md.digest()))
    InternalRow(n, nRemoved, cleanHash)
  }

  override protected def withNewChildrenInternal(newLeft: Expression,
      newRight: Expression): Expression =
    copy(words = newLeft, docId = newRight)
}

object ScrubReport {
  private val maps =
    new graft.util.PerBroadcast[java.util.HashMap[String, java.lang.Long]]

  /** The flattened ledger map for a broadcast, built once per JVM per
    * broadcast id. */
  private[functions] def mapFor(
      bc: Broadcast[Array[(String, Long)]]):
      java.util.HashMap[String, java.lang.Long] =
    maps(bc) { entries =>
      val m = new java.util.HashMap[String, java.lang.Long](
        entries.length * 2)
      entries.foreach { case (h, keep) => m.put(h, keep) }
      m
    }

  private val digest = new ThreadLocal[java.security.MessageDigest] {
    override def initialValue(): java.security.MessageDigest =
      java.security.MessageDigest.getInstance("MD5")
  }

  private val hexChars = "0123456789abcdef".toCharArray
  private[functions] def hex(b: Array[Byte]): String = {
    val out = new Array[Char](b.length * 2)
    var i = 0
    while (i < b.length) {
      out(2 * i) = hexChars((b(i) >> 4) & 0xf)
      out(2 * i + 1) = hexChars(b(i) & 0xf)
      i += 1
    }
    new String(out)
  }
}

object ScrubFunctions {
  /** Column API: the full per-document span-scrub report against the
    * broadcast (window-hash → first-holder) ledger, in one pass. */
  def scrub_report(words: Column, docId: Column,
      ledger: Broadcast[Array[(String, Long)]], window: Int): Column =
    ColumnBridge.column(ScrubReport(ColumnBridge.expression(words),
      ColumnBridge.expression(docId), ledger, window))
}
