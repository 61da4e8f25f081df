package graft

import graft.util.{BuildCounters, Memo}

/** The memo core's own contract, beyond the frame (PlanMemoSpec) and
  * stored-artifact (ArtifactCacheSpec) layers built on it: a
  * session-scoped VALUE (a count, a collect + broadcast) is single
  * flight — concurrent callers wait on one build instead of each
  * racing its own Spark job — and operator code keeps no memo map of
  * its own. */
class MemoSpec extends SparkSpec {

  test("16 concurrent callers of one session-scoped value run its " +
    "build exactly once") {
    val builds = new java.util.concurrent.atomic.AtomicInteger()
    val key = s"k${System.nanoTime()}"
    val start = new java.util.concurrent.CountDownLatch(1)
    val pool = java.util.concurrent.Executors.newFixedThreadPool(16)
    try {
      val calls = (1 to 16).map { _ =>
        pool.submit(new java.util.concurrent.Callable[Long] {
          override def call(): Long = {
            start.await()
            Memo(spark, "memospec_count", key) {
              builds.incrementAndGet()
              // a real Spark job, slow enough that every caller arrives
              // while the first build is still running
              Thread.sleep(200)
              spark.range(1000).count()
            }
          }
        })
      }
      start.countDown()
      calls.foreach(c => assert(c.get(
        60, java.util.concurrent.TimeUnit.SECONDS) === 1000L))
      assert(builds.get() === 1, s"build ran ${builds.get()} times")
      assert(BuildCounters.count(s"memospec_count:$key") === 1)
    } finally pool.shutdownNow()
  }

  test("a failed session-scoped build is evicted and rethrown as " +
    "itself; process and session scopes never share a key") {
    val key = s"k${System.nanoTime()}"
    val e = intercept[IllegalStateException] {
      Memo(spark, "memospec_fail", key)(throw new IllegalStateException("x"))
    }
    assert(e.getMessage === "x")
    assert(Memo(spark, "memospec_fail", key)(7) === 7)
    assert(Memo(spark, "memospec_fail", key)(8) === 7)
    assert(Memo(Memo.Process, "memospec_fail", key)(9) === 9)
  }

  test("no ConcurrentHashMap or FutureTask is constructed in " +
    "src/main/scala outside graft/util") {
    val root = new java.io.File(sys.props("user.dir"), "src/main/scala")
    assert(root.isDirectory, s"source tree not found at $root")
    val util = new java.io.File(root, "graft/util").getCanonicalPath +
      java.io.File.separator
    val construct = ("""new\s+(java\.util\.concurrent\.)?""" +
      """(ConcurrentHashMap|FutureTask)\b|ConcurrentHashMap\s*\.\s*newKeySet""").r
    def sources(f: java.io.File): Seq[java.io.File] =
      if (f.isDirectory)
        Option(f.listFiles()).toSeq.flatten.flatMap(sources)
      else if (f.getName.endsWith(".scala")) Seq(f)
      else Nil
    val files = sources(root)
    assert(files.size > 50 && files.exists(_.getName == "Memo.scala"),
      s"only ${files.size} sources under $root")
    val offenders = for {
      f <- files if !f.getCanonicalPath.startsWith(util)
      (line, i) <- java.nio.file.Files.readAllLines(f.toPath)
        .toArray(Array.empty[String]).toSeq.zipWithIndex
      if construct.findFirstIn(line).isDefined
    } yield s"${f.getPath}:${i + 1}: ${line.trim}"
    assert(offenders.isEmpty,
      "memo maps belong on graft.util.Memo:\n" + offenders.mkString("\n"))
  }
}
