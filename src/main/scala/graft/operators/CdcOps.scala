package graft.operators

import graft._
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.expressions.Window
import org.apache.spark.sql.functions._

/** W3: CDC merge / upsert — apply a keyed change feed (inserts, updates,
  * deletes, each carrying a sequence number) onto a base snapshot: the
  * MERGE INTO / upsert-compaction step every incrementally maintained
  * table needs, and the batch twin of the reference's "latest state per
  * span" reads. The change feed here is DERIVED deterministically from
  * the orders table itself (updates for key%10, deletes for key%17,
  * inserts at key+1e8 for key%23) so the oracle can state the identical
  * construction.
  *
  * Scale design: union the snapshot with the feed, tag each row with its
  * sequence, and keep the highest-sequence row per key via ONE
  * (key)-partitioned window — one shuffle of narrow rows on the
  * high-cardinality key, no join, no driver state. Keys hit by both an
  * update and a delete resolve by sequence (delete wins here),
  * demonstrating the ordering semantics a real CDC apply must honor.
  * At 100 TB this is exactly the Delta/Iceberg merge dataflow minus the
  * file-rewrite bookkeeping.
  */
object CdcOps extends QueryModule {

  /** The derived change feed shared by W3 and W6: snapshot rows at
    * seq 0, inserts (−key−1: negative, so collision-free against ANY
    * base keyspace — the v31 convention) at 1, updates at 2, deletes
    * at 3 — ≤1 row per (key, op-family), so seq is unique per key. */
  private def changeFeed(spark: SparkSession, dir: String): DataFrame = {
    val o = Tables.orders(spark, dir)
      .select(col("o_orderkey"), col("o_orderstatus"), col("o_totalprice"))
    val base = o.select(col("o_orderkey").as("k"), lit("base").as("op"),
      lit(0L).as("seq"), col("o_orderstatus").as("status"),
      col("o_totalprice").as("price"))
    val ins = o.filter(col("o_orderkey") % 23 === 0)
      .select((-col("o_orderkey") - 1L).as("k"),
        lit("insert").as("op"), lit(1L).as("seq"), lit("N").as("status"),
        col("o_totalprice").as("price"))
    val upd = o.filter(col("o_orderkey") % 10 === 0)
      .select(col("o_orderkey").as("k"), lit("update").as("op"),
        lit(2L).as("seq"), lit("U").as("status"),
        (col("o_totalprice") + lit(1000.0)).as("price"))
    val del = o.filter(col("o_orderkey") % 17 === 0)
      .select(col("o_orderkey").as("k"), lit("delete").as("op"),
        lit(3L).as("seq"), lit(null).cast("string").as("status"),
        lit(null).cast("double").as("price"))
    base.unionByName(ins).unionByName(upd).unionByName(del)
  }

  def mergeUpsert(spark: SparkSession, dir: String): DataFrame = {
    // seq is unique per key, so the row_number tie-break never fires
    val w = Window.partitionBy(col("k")).orderBy(col("seq").desc)
    changeFeed(spark, dir)
      .withColumn("rn", row_number().over(w))
      .filter(col("rn") === 1 && col("op") =!= "delete")
      .select(col("k").as("o_orderkey"), col("op"), col("status"),
        round(col("price"), 6).as("price"))
      .orderBy(col("o_orderkey"))
  }

  /** W6: SCD Type-2 history — the other half of the lakehouse CDC
    * pattern: instead of keeping only the latest state (W3), keep
    * EVERY version with its validity interval [seq, next seq) via one
    * `lead` over the same (key)-window shuffle W3 uses; the open
    * interval (valid_to NULL) marks the current version unless it is
    * a delete tombstone. Same single high-cardinality-key shuffle —
    * no join, no driver state. */
  def scd2History(spark: SparkSession, dir: String): DataFrame = {
    val w = Window.partitionBy(col("k")).orderBy(col("seq"))
    changeFeed(spark, dir)
      .withColumn("valid_to", lead(col("seq"), 1).over(w))
      .select(col("k").as("o_orderkey"), col("op"),
        col("seq").as("valid_from"), col("valid_to"), col("status"),
        round(col("price"), 6).as("price"),
        (col("valid_to").isNull && col("op") =!= "delete")
          .as("is_current"))
      .orderBy(col("o_orderkey"), col("valid_from"))
  }

  /** W7: point-in-time (time-travel) lookup — the query the SCD2
    * history exists to answer: the table's state AS OF a sequence
    * point, via the interval-containment predicate
    * valid_from ≤ s < valid_to. Two probe points (s=1: after inserts,
    * before updates/deletes; s=3: final state) summarized per
    * (as_of, op, status). Scale: the 2-row probe frame broadcasts, so
    * the history scans once with no shuffle beyond the tiny aggregate;
    * a probe STREAM joins the same way — key-partitioned with the
    * containment filter as residual, linear while versions-per-key
    * stays bounded (it is: one per feed op). */
  def pitLookup(spark: SparkSession, dir: String): DataFrame = {
    import spark.implicits._
    val probes = Seq(1L, 3L).toDF("as_of")
    scd2History(spark, dir)
      .crossJoin(broadcast(probes))
      .filter(col("valid_from") <= col("as_of") &&
        (col("valid_to").isNull || col("valid_to") > col("as_of")))
      .groupBy(col("as_of"), col("op"), col("status"))
      .agg(count(lit(1)).as("n"),
        round(Exact.sumExact(col("price")), 6).as("price_sum"))
      .orderBy(col("as_of"), col("op"), coalesce(col("status"), lit("")))
  }

  private val pitSql: String =
    s"""WITH ch AS (
       |  SELECT o_orderkey AS k, 'base' AS op, 0 AS seq,
       |         o_orderstatus AS status, o_totalprice AS price FROM orders
       |  UNION ALL
       |  SELECT -o_orderkey - 1, 'insert', 1, 'N', o_totalprice
       |  FROM orders WHERE o_orderkey % 23 = 0
       |  UNION ALL
       |  SELECT o_orderkey, 'update', 2, 'U', o_totalprice + 1000.0
       |  FROM orders WHERE o_orderkey % 10 = 0
       |  UNION ALL
       |  SELECT o_orderkey, 'delete', 3, NULL, NULL
       |  FROM orders WHERE o_orderkey % 17 = 0),
       | h AS (SELECT *, round(price, 6) AS price6,
       |        lead(seq) OVER (PARTITION BY k ORDER BY seq) AS valid_to
       |       FROM ch),
       | p AS (SELECT CAST(unnest([1, 3]) AS BIGINT) AS as_of)
       |SELECT as_of, op, status, CAST(count(*) AS BIGINT) AS n,
       | round(${OracleSql.sumExact("price6")}, 6) AS price_sum
       |FROM h CROSS JOIN p
       |WHERE seq <= as_of AND (valid_to IS NULL OR valid_to > as_of)
       |GROUP BY 1, 2, 3
       |ORDER BY as_of, op, coalesce(status, '')""".stripMargin

  private val scd2Sql: String =
    """WITH ch AS (
      |  SELECT o_orderkey AS k, 'base' AS op, 0 AS seq,
      |         o_orderstatus AS status, o_totalprice AS price FROM orders
      |  UNION ALL
      |  SELECT -o_orderkey - 1, 'insert', 1, 'N', o_totalprice
      |  FROM orders WHERE o_orderkey % 23 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'update', 2, 'U', o_totalprice + 1000.0
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'delete', 3, NULL, NULL
      |  FROM orders WHERE o_orderkey % 17 = 0),
      | h AS (SELECT *, lead(seq) OVER (PARTITION BY k ORDER BY seq)
      |         AS valid_to FROM ch)
      |SELECT k AS o_orderkey, op, CAST(seq AS BIGINT) AS valid_from,
      | CAST(valid_to AS BIGINT) AS valid_to, status,
      | round(price, 6) AS price,
      | (valid_to IS NULL AND op <> 'delete') AS is_current
      |FROM h ORDER BY o_orderkey, valid_from""".stripMargin

  private val mergeSql: String =
    """WITH ch AS (
      |  SELECT o_orderkey AS k, 'base' AS op, 0 AS seq,
      |         o_orderstatus AS status, o_totalprice AS price FROM orders
      |  UNION ALL
      |  SELECT -o_orderkey - 1, 'insert', 1, 'N', o_totalprice
      |  FROM orders WHERE o_orderkey % 23 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'update', 2, 'U', o_totalprice + 1000.0
      |  FROM orders WHERE o_orderkey % 10 = 0
      |  UNION ALL
      |  SELECT o_orderkey, 'delete', 3, NULL, NULL
      |  FROM orders WHERE o_orderkey % 17 = 0),
      | r AS (SELECT *, row_number() OVER (PARTITION BY k ORDER BY seq DESC) AS rn
      |       FROM ch)
      |SELECT k AS o_orderkey, op, status, round(price, 6) AS price
      |FROM r WHERE rn = 1 AND op <> 'delete'
      |ORDER BY o_orderkey""".stripMargin

  /** V31: snapshot diff — the audit/regression twin of the W3 merge:
    * given two table versions, report added / removed / changed /
    * unchanged. The "new" snapshot is DERIVED deterministically from
    * documents (drop key%13, uppercase text for key%7, add fresh
    * negative keys for key%17 — w3's convention) so the oracle states
    * the identical construction. Presence is tracked with marker
    * columns, NOT value-nullness (a genuinely NULL text must not read
    * as "row absent"), and change detection is null-safe (`<=>`).
    *
    * Scale: ONE full-outer shuffle join on the high-cardinality key +
    * a keyed count aggregate — the canonical two-snapshot diff; at
    * 100 TB both sides shuffle once and nothing else moves. */
  def snapshotDiff(spark: SparkSession, dir: String): DataFrame = {
    val old = Tables.documents(spark, dir).select(col("doc_id"), col("text"))
    val neu = old.filter(pmod(col("doc_id"), lit(13)) =!= 0)
      .select(col("doc_id"),
        when(pmod(col("doc_id"), lit(7)) === 0, upper(col("text")))
          .otherwise(col("text")).as("text"))
      .unionAll(old.filter(pmod(col("doc_id"), lit(17)) === 0)
        .select((-col("doc_id") - 1).as("doc_id"), col("text")))
    old.select(col("doc_id"), col("text").as("old_text"),
        lit(1).as("in_old"))
      .join(neu.select(col("doc_id"), col("text").as("new_text"),
        lit(1).as("in_new")), Seq("doc_id"), "full_outer")
      .withColumn("status",
        when(col("in_old").isNull, "added")
          .when(col("in_new").isNull, "removed")
          .when(!(col("old_text") <=> col("new_text")), "changed")
          .otherwise("unchanged"))
      .groupBy(col("status"))
      .agg(count(lit(1)).as("n"),
        min(col("doc_id")).as("min_doc"), max(col("doc_id")).as("max_doc"))
      .orderBy(col("status"))
  }

  private val diffSql: String =
    """WITH o AS (SELECT doc_id, text FROM documents),
      | n AS (
      |  SELECT doc_id,
      |   CASE WHEN doc_id % 7 = 0 THEN upper(text) ELSE text END AS text
      |  FROM o WHERE doc_id % 13 <> 0
      |  UNION ALL
      |  SELECT -doc_id - 1 AS doc_id, text FROM o WHERE doc_id % 17 = 0),
      | j AS (
      |  SELECT coalesce(o.doc_id, n.doc_id) AS doc_id,
      |   o.doc_id IS NOT NULL AS in_old, n.doc_id IS NOT NULL AS in_new,
      |   o.text AS old_text, n.text AS new_text
      |  FROM o FULL OUTER JOIN n ON o.doc_id = n.doc_id)
      |SELECT CASE WHEN NOT in_old THEN 'added'
      |            WHEN NOT in_new THEN 'removed'
      |            WHEN old_text IS DISTINCT FROM new_text THEN 'changed'
      |            ELSE 'unchanged' END AS status,
      | CAST(count(*) AS BIGINT) AS n,
      | CAST(min(doc_id) AS BIGINT) AS min_doc,
      | CAST(max(doc_id) AS BIGINT) AS max_doc
      |FROM j GROUP BY 1 ORDER BY 1""".stripMargin

  /** Cutoff splitting the "already materialized" base period from the
    * delta: MID-DAY 2024-01-24T12:00Z, deliberately not a day boundary,
    * so the boundary day's aggregate must MERGE contributions from the
    * stored view and the delta scan (the interesting case of view
    * maintenance; a day-aligned cutoff would reduce the merge to a
    * disjoint union). */
  val IncAggCutoffS: Long = EventWindow.StartS + 23L * 86400L + 43200L

  /** THE daily (day, event_type) rollup — count + exact value
    * micro-sum. ONE spelling shared by w19's stored base aggregate,
    * its delta, and v70's downdate (review finding, round 8: three
    * independent spellings let a day-bucketing change desynchronize
    * the view v70 claims to refresh). DuckDB side: [[dailySelectSql]]. */
  private[graft] def dailyRollup(df: DataFrame): DataFrame = df
    .groupBy(Exact.intDiv(col("ts_s") - EventWindow.StartS, lit(86400L))
      .as("day"), col("event_type"))
    .agg(count(lit(1)).as("n"), Exact.microSum(col("value"))
      .as("value_micro"))

  /** Materialize the BASE aggregate (events before the cutoff, rolled up
    * to (day, event_type) with count + exact value micro-sum) once per
    * (process, dir) — the stored materialized view a production pipeline
    * maintains instead of re-scanning history. Goes through
    * [[graft.util.ArtifactCache.cached]] — this method carried its own
    * pre-ArtifactCache FutureTask copy, which cached a FAILED build's
    * exception forever (no evict-on-failure) and rethrew the wrapper
    * instead of the cause (round-10 review; ArtifactCache was created
    * to absorb exactly these private copies). */
  def writeBaseAgg(spark: SparkSession, dir: String): String =
    graft.util.ArtifactCache.cached("incagg", dir) { path =>
      dailyRollup(Tables.eventsUntil(spark, dir, IncAggCutoffS))
        .write.mode("overwrite").parquet(path)
    }

  /** W19: incremental aggregation maintenance — the materialized-view
    * refresh dataflow: the result equals a full recompute (the oracle
    * IS the full recompute), but the engine reads the STORED base
    * aggregate plus ONLY the delta rows (the cutoff filter pushes into
    * the events scan — PlanSpec-pinned), then merges algebraically
    * (counts and micro-sums re-sum; both are decomposable aggregates).
    * At 100 TB: refresh cost is O(delta) + O(aggregate frame), never
    * O(history). Non-decomposable stats would ride a mergeable sketch
    * (the v10b/st5 machinery) under the same dataflow. */
  def incrementalAgg(spark: SparkSession, dir: String): DataFrame = {
    val base = spark.read.parquet(writeBaseAgg(spark, dir))
    val delta = dailyRollup(Tables.eventsFrom(spark, dir, IncAggCutoffS))
    base.unionByName(delta)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("value_micro")).as("value_micro"))
      .orderBy(col("day"), col("event_type"))
  }

  /** Erasure-request slice for [[erasureDowndate]]: every 53rd user
    * stands in for the right-to-be-forgotten queue. */
  val EraseModulus = 53

  /** V70: targeted erasure with aggregate DOWNDATE — the
    * right-to-be-forgotten dataflow w19 is missing: deletion requests
    * must propagate into DERIVED tables, and recomputing a year of
    * history because 0.1% of users left is the O(history) cost this
    * operator avoids. The stored daily (day, event_type) rollup (w19's
    * materialized-view shape over the full window, memoized once per
    * process as the stored artifact it is in production) is refreshed
    * by SUBTRACTING only the erased users' own contributions: one scan
    * of the delete set's rows (at 100 TB this scan is keyed — the
    * erasure queue joins against a user-bucketed/Z-ordered layout, the
    * v12/v17 machinery — never a full pass), negated, merged
    * algebraically, groups erased to zero dropped. Counts and micro
    * sums are decomposable in BOTH directions — adding and subtracting
    * — which is exactly what makes the downdate lossless; the oracle
    * IS the full recompute over the surviving users, so the hash match
    * proves no trace of the erased users survives in the view. */
  def erasureDowndate(spark: SparkSession, dir: String): DataFrame = {
    val base = graft.util.Memo.frame(spark, "v70_full_agg", dir)(
      dailyRollup(Tables.events(spark, dir)))
    val erased = dailyRollup(Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(EraseModulus)) === 0))
      .select(col("day"), col("event_type"),
        (-col("n")).as("n"), (-col("value_micro")).as("value_micro"))
    base.unionByName(erased)
      .groupBy(col("day"), col("event_type"))
      .agg(sum(col("n")).as("n"), sum(col("value_micro")).as("value_micro"))
      .filter(col("n") > 0)
      .orderBy(col("day"), col("event_type"))
  }

  /** ST23: streaming erasure gate — v70's other half: the downdate
    * cleans HISTORY, this gate keeps erased users from re-entering the
    * derived view at ingest time. The erasure queue (v70's delete set,
    * standing in for the right-to-be-forgotten table) is one bounded
    * localCheckpointed frame broadcast against the arriving stream as
    * a left_anti stream-static join — stateless per row, no state
    * store growth from the gate itself; surviving events roll up into
    * the SAME daily (day, type) aggregate ([[dailyRollup]], one
    * spelling). Counts and micro-sums are algebraic, so the finite
    * stream equals the batch recompute over surviving users — st23
    * shares v70's oracle, and together they prove the erasure
    * invariant end-to-end: gate the feed, downdate the view, and no
    * trace of the erased users exists in either. At 100 TB the queue
    * is ≪ the user domain (it is a request log), so the broadcast
    * holds; a queue outgrowing memory shifts to the v20b Bloom
    * prefilter + keyed residual anti-join with no semantic change. */
  def streamingErasureGate(spark: SparkSession, dir: String): DataFrame = {
    val deleteSet = Tables.events(spark, dir)
      .filter(pmod(col("user_id"), lit(EraseModulus.toLong)) === 0)
      .select(col("user_id")).distinct()
      .localCheckpoint()
    val gated = graft.streaming.StreamingOps.eventsStream(spark, dir)
      .join(broadcast(deleteSet), Seq("user_id"), "left_anti")
    graft.streaming.StreamingOps.runToBatch(spark, dailyRollup(gated),
        s"st23_erasure_${System.nanoTime()}")
      .orderBy(col("day"), col("event_type"))
  }

  private[graft] lazy val erasureSql: String =
    s"""$dailySelectSql
       |FROM events WHERE user_id % $EraseModulus <> 0
       |GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  /** DuckDB spelling of [[dailyRollup]]'s select list. */
  private val dailySelectSql: String =
    s"""SELECT (epoch_us(ts)//1000000 - ${EventWindow.StartS}) // 86400 AS day,
       | event_type, CAST(count(*) AS BIGINT) AS n,
       | CAST(sum(CAST(CAST(value AS DECIMAL(18,6)) * 1000000 AS BIGINT))
       |      AS BIGINT) AS value_micro""".stripMargin

  private lazy val incAggSql: String =
    s"""$dailySelectSql
       |FROM events GROUP BY 1, 2 ORDER BY day, event_type""".stripMargin

  val queries: Seq[GraftQuery] = Seq(
    GraftQuery("v31_snapshot_diff",
      "V31 snapshot diff: added/removed/changed/unchanged between two " +
        "table versions via ONE full-outer keyed join (presence " +
        "markers, null-safe change compare)",
      snapshotDiff, Some(diffSql)),
    GraftQuery("w3_merge_upsert",
      "W3 CDC merge/upsert: apply an insert/update/delete feed onto a " +
        "snapshot via union + ONE key-window (last-sequence-wins, " +
        "delete-beats-update) — the MERGE INTO dataflow, no join",
      mergeUpsert, Some(mergeSql)),
    GraftQuery("w6_scd2_history",
      "W6 SCD Type-2 history: every version with its validity interval " +
        "[seq, next seq) via lead over the same key-window shuffle; " +
        "open interval = current unless delete tombstone",
      scd2History, Some(scd2Sql)),
    GraftQuery("w7_pit_lookup",
      "W7 point-in-time lookup over the SCD2 history: state AS OF " +
        "seq 1 and 3 via the interval-containment predicate, " +
        "broadcast probes — time travel, no extra shuffle",
      pitLookup, Some(pitSql)),
    GraftQuery("v70_erasure_downdate",
      "V70 right-to-be-forgotten propagation: the stored daily rollup " +
        "refreshed by SUBTRACTING only the erased users' (user_id%53) " +
        "own contributions — algebraic downdate, O(delete-set) not " +
        "O(history); oracle is the full surviving-user recompute the " +
        "downdate must equal, so the hash proves no trace survives",
      erasureDowndate, Some(erasureSql)),
    GraftQuery("st23_streaming_erasure_gate",
      "ST23 streaming erasure gate: the arriving event stream " +
        "anti-joined against the broadcast erasure queue (stateless " +
        "stream-static left_anti), survivors rolled up into the same " +
        "daily aggregate — shares v70's full-recompute oracle, " +
        "closing the right-to-be-forgotten loop at ingest",
      streamingErasureGate, Some(erasureSql)),
    GraftQuery("w19_incremental_agg",
      "W19 incremental aggregation maintenance: stored base aggregate " +
        "+ delta-only scan (cutoff filter pushed to the events read) " +
        "merged algebraically — the materialized-view refresh; oracle " +
        "is the full recompute the merge must equal",
      incrementalAgg, Some(incAggSql)))
}
