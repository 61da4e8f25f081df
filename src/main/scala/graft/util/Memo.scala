package graft.util

import java.util.concurrent.{ConcurrentHashMap, ExecutionException, FutureTask}
import org.apache.spark.broadcast.Broadcast
import org.apache.spark.sql.{DataFrame, SparkSession}

/** The ONE memo core for shared artifacts: every value an operator
  * computes once and reuses — a materialized exact plan, a stored index
  * path, a corpus count, a driver collect + broadcast, a Bloom sketch —
  * lives here under one identity rule, (scope, kind, key).
  *
  *  - Single flight: `computeIfAbsent` only ALLOCATES an inert
  *    FutureTask; the build runs outside the map's bin lock via
  *    `run()` (a no-op for every caller but the first) and every
  *    concurrent caller waits on that one build, so a lost race never
  *    runs a second Spark job. A build may call the memo for a
  *    DIFFERENT key (codes → codebooks); only a cycle of memo
  *    dependencies could deadlock, and the dependency graph is a DAG
  *    by construction.
  *  - Failure: a failed build must not poison its key for the process's
  *    lifetime — it is evicted so a later caller retries, and the
  *    caller sees the build's own exception, not the wrapper.
  *  - Scope: a SparkSession for values that reference the session
  *    (plans, broadcasts, counts over its reads) — a recreated session
  *    rebuilds rather than trusting values it didn't make, and keys of
  *    STOPPED sessions are swept on entry so a dead session (and all it
  *    transitively holds) is not pinned for the JVM's lifetime; or
  *    [[Process]] for stored-artifact paths that outlive any session.
  *  - Counting: every build increments [[BuildCounters]] under
  *    "kind:key" from inside the task, so a hit never counts and a
  *    double build (in any memo) shows up as a count of 2.
  *
  * Every memoized value is deterministic in its inputs, so reusing it
  * is bit-identical to recomputing it; no caller rewrites a memo input
  * in-process.
  */
object Memo {
  /** Scope of values that outlive any one session. */
  object Process

  private final case class Id(scope: AnyRef, kind: String, key: String)
  private val tasks = new ConcurrentHashMap[Id, FutureTask[Any]]()

  /** The value of `build` for (scope, kind, key), built at most once
    * while it succeeds. `counted = false` leaves the counting to the
    * build itself (the persistent catalog counts only real builds, not
    * adoptions of a prior process's artifact). */
  def apply[V](scope: AnyRef, kind: String, key: String,
      counted: Boolean = true)(build: => V): V = {
    tasks.keySet.removeIf(_.scope match {
      case s: SparkSession => s.sparkContext.isStopped
      case _ => false
    })
    val id = Id(scope, kind, key)
    val task = tasks.computeIfAbsent(id, _ => new FutureTask[Any](() => {
      if (counted) BuildCounters.inc(s"$kind:$key")
      build
    }))
    task.run()
    try task.get().asInstanceOf[V]
    catch {
      case e: ExecutionException =>
        tasks.remove(id, task)
        throw e.getCause
    }
  }

  /** The memoized result of `build` as a DataFrame read back from its
    * materialized parquet; `build` runs at most once per (session,
    * name, dir). The memo hands over a PATH, never a live/persisted
    * frame: cache hygiene between bench entries deletes blocks, not
    * files. NOTE: parquet round-trips drop sort order — callers that
    * promise an ordered result re-apply their ORDER BY on the (small)
    * read side. */
  def frame(spark: SparkSession, name: String, dir: String)(
      build: => DataFrame): DataFrame =
    spark.read.parquet(apply(spark, "memo", s"$name:$dir") {
      val p = TempArtifacts.fresh(s"memo_$name")
      build.write.mode("overwrite").parquet(p)
      p
    })

  /** TEST-ONLY seam: forget every key of `kind` starting with
    * `keyPrefix`, so a spec can prove the disk catalog alone satisfies a
    * "cold process" lookup (prefix-scoped so the spec never evicts other
    * suites' live artifacts mid-JVM). */
  private[graft] def forget(kind: String, keyPrefix: String): Unit =
    tasks.keySet.removeIf(id =>
      id.kind == kind && id.key.startsWith(keyPrefix)): Unit
}

/** Executor-side value derived from a broadcast (a ledger's hash map, a
  * benchmark's shingle set), built once per JVM per broadcast id.
  * Bounded: past 8 ids the map is cleared wholesale — a process
  * touches a handful of (dir, ledger) broadcasts. */
final class PerBroadcast[V] {
  private val Bound = 8
  private val values = new ConcurrentHashMap[Long, V]()

  def apply[T](bc: Broadcast[T])(build: T => V): V = {
    // evict BEFORE computeIfAbsent: the mapping function must not mutate
    // the map; a racy double clear is harmless for a pure cache
    if (values.size() > Bound && !values.containsKey(bc.id)) values.clear()
    values.computeIfAbsent(bc.id, _ => build(bc.value))
  }
}
