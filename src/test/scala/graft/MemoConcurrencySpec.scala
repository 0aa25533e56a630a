package graft

import java.util.concurrent.atomic.AtomicInteger
import java.util.concurrent.{CountDownLatch, Executors, TimeUnit}

import graft.util.CorpusMemo
import org.apache.spark.sql.catalyst.plans.logical.LocalRelation
import org.apache.spark.storage.StorageLevel

/** The concurrency contract the concurrent Verify loop depends on:
  * one build per key no matter how many threads race the same key, no
  * cross-key serialization through a shared bin lock, and the capped-rows
  * over-cap / failure paths behaving under contention. These are the
  * exact defect classes a review pass found in the first memo
  * implementation (duplicate builds via get-then-put; multi-second
  * builds inside computeIfAbsent holding a bin lock). Each test keys on
  * a fresh empty corpus dir of its own. */
class MemoConcurrencySpec extends SparkSpec {

  private def corpus(): String = {
    val dir = java.nio.file.Files.createTempDirectory("graft-memo").toFile
    dir.deleteOnExit()
    dir.toString
  }

  private def inParallel(n: Int)(body: Int => Unit): Unit = {
    val pool = Executors.newFixedThreadPool(n)
    val start = new CountDownLatch(1)
    val failures = new java.util.concurrent.ConcurrentLinkedQueue[Throwable]()
    (0 until n).foreach { i =>
      pool.execute(() => {
        start.await()
        try body(i) catch { case t: Throwable => failures.add(t) }
      })
    }
    start.countDown()
    pool.shutdown()
    assert(pool.awaitTermination(120, TimeUnit.SECONDS), "workers timed out")
    assert(failures.isEmpty, s"worker failures: ${failures.peek()}")
  }

  test("CorpusMemo.get: 8 threads racing one key run the build exactly once " +
      "and all observe its value") {
    val dir = corpus()
    val builds = new AtomicInteger(0)
    val seen = new java.util.concurrent.ConcurrentLinkedQueue[Int]()
    inParallel(8) { _ =>
      seen.add(CorpusMemo.get(spark, dir, "k") { Thread.sleep(50); builds.incrementAndGet(); 42 })
    }
    assert(builds.get() === 1, "the build must run exactly once per key")
    assert(seen.size === 8)
    seen.forEach(v => assert(v === 42))
  }

  test("CorpusMemo.get: a slow build does not gate an unrelated key") {
    val dir = corpus()
    val slowStarted = new CountDownLatch(1)
    val fastDone = new CountDownLatch(1)
    inParallel(2) {
      case 0 =>
        CorpusMemo.get(spark, dir, "slow") {
          slowStarted.countDown()
          // the slow build completes ONLY once the fast key finished:
          // if builds serialized through a shared lock this deadlocks
          // (and the suite's 120 s timeout fails the test)
          assert(fastDone.await(60, TimeUnit.SECONDS),
            "fast key never completed while slow build held its cell")
          "slow-done"
        }
      case _ =>
        assert(slowStarted.await(60, TimeUnit.SECONDS))
        CorpusMemo.get(spark, dir, "fast")("fast-done")
        fastDone.countDown()
    }
  }

  test("CorpusMemo.rows: racing threads on one key build the distributed set " +
      "once; all get local relations") {
    import spark.implicits._
    val dir = corpus()
    val builds = new AtomicInteger(0)
    val counts = new java.util.concurrent.ConcurrentLinkedQueue[Long]()
    inParallel(6) { _ =>
      val df = CorpusMemo.rows(spark, dir, "edges") {
        builds.incrementAndGet()
        Seq((1L, 2L), (2L, 3L), (3L, 4L)).toDF("a", "b")
      }
      assert(df.queryExecution.analyzed.isInstanceOf[LocalRelation])
      counts.add(df.count())
    }
    assert(builds.get() === 1)
    counts.forEach(c => assert(c === 3L))
  }

  test("CorpusMemo.rows: over the cap every caller shares ONE persisted frame, " +
      "persisted again after a clear") {
    val dir = corpus()
    val builds = new AtomicInteger(0)
    def dist = { builds.incrementAndGet(); spark.range(CorpusMemo.MaxRows + 1).toDF("v") }
    val first = CorpusMemo.rows(spark, dir, "big")(dist)
    assert(first.count() === CorpusMemo.MaxRows + 1)
    val probeBuilds = builds.get()
    val second = CorpusMemo.rows(spark, dir, "big")(dist)
    // the over-cap probe's frame IS the memo: later callers get the
    // SAME DataFrame (one CacheManager registration per key), so no
    // further plan constructions
    assert(builds.get() === probeBuilds,
      "an over-cap hit must not rebuild the distributed plan")
    assert(second eq first, "all over-cap callers must share one frame")
    // the shared frame reads the probe's materialized blocks
    assert(second.queryExecution.executedPlan.toString.contains("InMemoryTableScan"))
    // an external clearCache (Verify's periodic clear) must degrade to
    // a recompute + re-registration, never a permanently-uncached plan
    // (storageLevel asks the live CacheManager — the executedPlan lazy
    // val on the shared Dataset would show the stale pre-clear plan)
    spark.catalog.clearCache()
    assert(first.storageLevel === StorageLevel.NONE,
      "precondition: the clear evicted the memo's entry")
    val third = CorpusMemo.rows(spark, dir, "big")(dist)
    assert(third eq first)
    assert(third.storageLevel !== StorageLevel.NONE,
      "rows must re-register the evicted cache entry")
    spark.catalog.clearCache()
  }

  test("CorpusMemo: a failing build leaves no entry — the next caller " +
      "retries and succeeds") {
    import spark.implicits._
    val dir = corpus()
    val attempts = new AtomicInteger(0)
    def flaky = {
      if (attempts.incrementAndGet() == 1) sys.error("transient build failure")
      Seq(7L).toDF("v")
    }
    intercept[RuntimeException] { CorpusMemo.rows(spark, dir, "flaky")(flaky) }
    assert(!CorpusMemo.tags(spark, dir).contains("flaky"))
    val ok = CorpusMemo.rows(spark, dir, "flaky")(flaky)
    assert(ok.count() === 1)
    assert(attempts.get() === 2)
    assert(CorpusMemo.tags(spark, dir) === Set("flaky"))
  }
}
