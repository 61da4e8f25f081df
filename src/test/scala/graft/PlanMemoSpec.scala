package graft

import graft.util.Memo

/** The frame memo's contract ([[graft.util.Memo.frame]], the
  * materialize-then-read layer on the memo core): builds run exactly
  * once per key under concurrency, nested memo calls (a build that
  * calls memo for a DIFFERENT key — the codes→codebooks shape) neither
  * deadlock nor throw ConcurrentHashMap's 'recursive update', and
  * every caller reads the same materialized rows. */
class PlanMemoSpec extends SparkSpec {

  test("concurrent callers build once and all read the same rows") {
    val built = new java.util.concurrent.atomic.AtomicInteger(0)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long =
            Memo.frame(spark, "pmspec_conc", "k1") {
              built.incrementAndGet()
              spark.range(100).toDF("v")
            }.count()
        })
      }
      tasks.foreach(t => assert(t.get(
        60, java.util.concurrent.TimeUnit.SECONDS) === 100L))
      assert(built.get() === 1, s"build ran ${built.get()} times")
    } finally pool.shutdownNow()
  }

  test("nested memo (build lambda calling memo for another key) " +
    "completes under concurrency — no bin-lock deadlock") {
    val pool = java.util.concurrent.Executors.newFixedThreadPool(8)
    try {
      val tasks = (1 to 16).map { i =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            // half the threads race the inner key directly while the
            // other half reach it through an outer build lambda
            if (i % 2 == 0)
              Memo.frame(spark, "pmspec_inner", "k2")(
                spark.range(7).toDF("v")).count()
            else
              Memo.frame(spark, "pmspec_outer", "k2") {
                val inner = Memo.frame(spark, "pmspec_inner", "k2")(
                  spark.range(7).toDF("v"))
                inner.selectExpr("v * 2 AS v")
              }.count()
          }
        })
      }
      tasks.foreach(t => assert(t.get(
        60, java.util.concurrent.TimeUnit.SECONDS) === 7L))
    } finally pool.shutdownNow()
  }

  test("distinct dirs memoize separately; same dir re-reads the file") {
    val a = Memo.frame(spark, "pmspec_dir", "dirA")(
      spark.range(3).toDF("v"))
    val b = Memo.frame(spark, "pmspec_dir", "dirB")(
      spark.range(5).toDF("v"))
    assert(a.count() === 3 && b.count() === 5)
    // a second call must serve the stored result, not rebuild
    val a2 = Memo.frame(spark, "pmspec_dir", "dirA")(
      sys.error("rebuild attempted"))
    assert(a2.count() === 3)
  }
}
