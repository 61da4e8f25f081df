package graft.functions

import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.Column
import org.apache.spark.sql.catalyst.analysis.TypeCheckResult
import org.apache.spark.sql.catalyst.expressions.{Expression, UnaryExpression}
import org.apache.spark.sql.catalyst.expressions.codegen.CodegenFallback
import org.apache.spark.sql.catalyst.util.ArrayData
import org.apache.spark.sql.graftshim.ColumnBridge
import org.apache.spark.sql.types._
import org.apache.spark.unsafe.types.UTF8String

/** `|arr ∩ bench|` with the bench set shipped as a Spark BROADCAST and
  * hashed ONCE per JVM — the ScrubReport in-row-probe convention
  * applied to benchmark-containment scoring.
  *
  * Why this exists (round-11 ScaleBench finding): the previous shape
  * `crossJoin(broadcast(1-row bench array)) + array_intersect` rebuilds
  * the bench-side hash set PER ROW — O(|bench|) per document. The
  * benchmark slice is a modulus fixture that CO-GROWS with the corpus,
  * so per-doc cost × docs compounded quadratically: st25 measured 587×
  * wall at ×100 with executor threads pinned inside
  * `OpenHashSet.rehash` under `ArrayIntersect.evalIntersect`. Here the
  * set is built once per (JVM, broadcast) and each row pays O(|arr|).
  *
  * Value-identical to `size(array_intersect(arr, bench))` for any
  * input: matches are counted DISTINCT (array_intersect dedups), null
  * elements never match (array_intersect keeps a null only when BOTH
  * sides hold one — the bench builder's `explode(...).distinct()`
  * never emits null, so the old spelling also never counted it). */
case class SetHitCount(arr: Expression, bench: Broadcast[Array[String]])
    extends UnaryExpression with CodegenFallback {

  override def child: Expression = arr

  override def dataType: DataType = IntegerType

  override def checkInputDataTypes(): TypeCheckResult =
    arr.dataType match {
      case ArrayType(StringType, _) => TypeCheckResult.TypeCheckSuccess
      case other => TypeCheckResult.TypeCheckFailure(
        s"set_hit_count expects ARRAY<STRING>, got ${other.simpleString}")
    }

  @transient private lazy val set: java.util.HashSet[UTF8String] =
    SetHitCount.setFor(bench)

  override def nullSafeEval(aAny: Any): Any = {
    val a = aAny.asInstanceOf[ArrayData]
    val n = a.numElements()
    var hits = 0
    var seen: java.util.HashSet[UTF8String] = null
    var i = 0
    while (i < n) {
      if (!a.isNullAt(i)) {
        val s = a.getUTF8String(i)
        if (set.contains(s)) {
          // distinct-match semantics (array_intersect's): the seen set
          // is allocated lazily and holds matches only, so the common
          // zero/low-hit row pays nothing beyond the membership probes
          if (seen == null) seen = new java.util.HashSet[UTF8String]()
          if (seen.add(s)) hits += 1
        }
      }
      i += 1
    }
    hits
  }

  override protected def withNewChildInternal(newChild: Expression): Expression =
    copy(arr = newChild)
}

object SetHitCount {
  private val sets =
    new graft.util.PerBroadcast[java.util.HashSet[UTF8String]]

  /** The bench set for a broadcast, built once per JVM per broadcast
    * id. */
  private[functions] def setFor(
      bc: Broadcast[Array[String]]): java.util.HashSet[UTF8String] =
    sets(bc) { entries =>
      val s = new java.util.HashSet[UTF8String](entries.length * 2)
      entries.foreach(e => s.add(UTF8String.fromString(e)): Unit)
      s
    }

  def set_hit_count(arr: Column,
      bench: Broadcast[Array[String]]): Column =
    ColumnBridge.column(SetHitCount(ColumnBridge.expression(arr), bench))
}
