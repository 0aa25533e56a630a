package graft
import java.lang.management.ManagementFactory
import org.apache.spark.sql.SparkSession
import scala.jdk.CollectionConverters._

/** Headline benchmark. Prints ONE compact JSON line as the FINAL stdout
  * line (the driver parses the last line of the run log; sbt's
  * "[success]" trailer is suppressed in build.sbt so nothing follows).
  *
  * Robustness against a driver wall-clock timeout (round 4's artifact
  * was rc=124 with zero data):
  *  - per-query progress lines + BENCH_LOCAL.json rewritten after EVERY
  *    query, so even a killed run leaves all completed measurements;
  *  - SPARK_GRAFT_TIME_BUDGET (seconds, default 240) is allocated
  *    COVERAGE-FIRST: pass 1 runs every query exactly once (so the
  *    artifact is complete even when the suite outgrows the budget —
  *    BENCH_r05 skipped 10 streaming queries under the old
  *    reps-first order), then remaining budget funds extra reps for
  *    median stability, batch queries first;
  *  - streaming entries (s*) run 1 rep: their variance is the
  *    micro-batch harness floor (state-store setup + drain), not plan
  *    quality, so median-of-3 buys nothing there (BENCH_NOTES.md).
  */
object Bench {
  private def gcMillis: Long =
    ManagementFactory.getGarbageCollectorMXBeans.asScala.map(_.getCollectionTime).sum

  /** Exact count of Janino compilations so far in this JVM (Spark's own
    * CodegenMetrics histogram; its count is host-noise-free). Published
    * split warm/measured (r13): with the default 100-entry compiled-
    * class cache a 185-plan suite evicts every warmed class before its
    * measured run, so recompilation lands INSIDE the timed region —
    * the measured-phase count is the direct evidence for sizing
    * GraftSession.CodegenCacheEntries. */
  private def janinoCount: Long =
    org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount

  /** Approximate total Janino compile milliseconds so far (reservoir
    * mean × exact count — the histogram keeps a sample, so this is an
    * estimate; the count above is exact). */
  private def janinoMs: Long = {
    val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
    (h.getSnapshot.getMean * h.getCount).toLong
  }

  /** Peak usage of the JIT code heaps + metaspace, in MB — the r10
    * diagnosis channel: a 185-plan suite compiles enough generated
    * classes to exhaust the default 240 MB code cache, and the sweeper
    * thrash that follows looks exactly like host noise (1.5-3x uniform
    * slowdown, no GC growth, no warning). Publishing the peak makes
    * that failure mode visible in the artifact instead of mysterious. */
  private def codeMemJson: String = {
    val pools = ManagementFactory.getMemoryPoolMXBeans.asScala
    def peakMb(prefix: String): Long =
      pools.filter(_.getName.startsWith(prefix))
        .map(p => Option(p.getPeakUsage).map(_.getUsed).getOrElse(0L))
        .sum / (1024 * 1024)
    s""""codeheap_peak_mb":${peakMb("CodeHeap")},"metaspace_peak_mb":${peakMb("Metaspace")}"""
  }

  /** Pass-1 measurement order over (family-ranked, name-sorted) input.
    * Degrade PROPORTIONALLY, never family-at-a-time (r10: the contiguous
    * q→e→d→s tail meant the 232 s deadline landing at entry 134 erased
    * ALL 29 streaming entries plus a 22-entry d-block from the artifact):
    *  - a one-entry-per-family sampler measures FIRST, so even a
    *    pathologically short budget records every SURVEY family;
    *  - the d-tail and the s-family are interleaved at their proportional
    *    positions, so a shortfall of X seconds costs a MIX of d and s
    *    entries instead of whichever family sorted last. */
  private[graft] def measurementOrder[A](byName: Seq[(String, A)]): Seq[(String, A)] = {
    val sampler = byName.map(_._1.head).distinct
      .flatMap(f => byName.find(_._1.head == f))
    val rest = byName.filterNot(p => sampler.exists(_._1 == p._1))
    def interleave(a: Seq[(String, A)], b: Seq[(String, A)]): Seq[(String, A)] = {
      val pa = a.zipWithIndex.map { case (x, i) => ((i + 0.5) / a.size, x) }
      val pb = b.zipWithIndex.map { case (x, i) => ((i + 0.5) / b.size, x) }
      (pa ++ pb).sortBy(_._1).map(_._2)
    }
    val (dsTail, qeHead) = rest.partition(p => "ds".contains(p._1.head))
    val (dPart, sPart) = dsTail.partition(_._1.head == 'd')
    sampler ++ qeHead ++ interleave(dPart, sPart)
  }

  /** Validated env-int parse: a malformed override must degrade to the
    * default with a visible bench_note, not crash the bench after
    * JVM+Spark startup (that costs the round its artifact). */
  private def envInt(name: String, default: Int, min: Int = 1): Int =
    sys.env.get(name) match {
      case None => default
      case Some(v) => v.trim.toIntOption.filter(_ >= min).getOrElse {
        println(s"""{"bench_note":"ignored $name='$v' (not an int >= $min); using $default"}""")
        default
      }
    }

  private def envDouble(name: String, default: Double): Double =
    sys.env.get(name) match {
      case None => default
      case Some(v) => v.trim.toDoubleOption.filter(_ > 0).getOrElse {
        println(s"""{"bench_note":"ignored $name='$v' (not a positive number); using $default"}""")
        default
      }
    }

  def main(args: Array[String]): Unit = {
    val t0Wall = System.nanoTime()
    def elapsed: Double = (System.nanoTime() - t0Wall) / 1e9
    val budget = envDouble("SPARK_GRAFT_TIME_BUDGET", 240)
    val sfDir = sys.env.getOrElse("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    // planner confs (AQE off, partitions = cores, ...) and their
    // measured reasons live in GraftSession, shared with Verify; the
    // s-family's drain shape (its cost is state-store commits ×
    // micro-batches) is fixed next to `queries.Streaming.drain`, so Bench
    // times the drains Verify checks
    val spark = GraftSession.local(envInt("SPARK_GRAFT_CPUS", 4))
    // Optional comma-separated subset for targeted local timing.
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    // Deterministic family-ranked name order feeds measurementOrder
    // (sampler + q→e→interleaved d/s — see its scaladoc). The q-e-first
    // rationale survives from r8: whatever JIT/codegen cold start the
    // warmup doesn't cover lands on the FIRST measured entries, so the
    // cheap relational/event families absorb it at ~0.2 s each and the
    // heavy d-family measures warm (d-first once recorded d13 at 5.6 s
    // cold vs 2.3 s warm). The old "streaming runs last" rule is GONE:
    // r10 proved a contiguous family tail is what a deadline shortfall
    // erases, so the s-family now interleaves with the d-tail.
    val familyRank = Map('q' -> 0, 'e' -> 1, 'd' -> 2, 's' -> 3)
    val byName = only.fold(SparkEntry.queries)(ks =>
      SparkEntry.queries.view.filterKeys(ks).toMap).toSeq
      .sortBy { case (n, _) => (familyRank.getOrElse(n.head, 4), n) }
    val selected = measurementOrder(byName)
    // Warm-up pass at the smallest SF: steady-state timing, not a
    // measurement of JVM/JIT/codegen cold start (which otherwise lands
    // arbitrarily on whichever queries run first). Capped at 7.5% of
    // the time budget (r8
    // measured the alternative: halving the warmup to 5% saved 12 s of
    // wall and cost ~18 s of cold-JIT inflation in the measured sum,
    // wherever the first ~25 measured entries happened to live — the
    // warmup absorbs cold start strictly cheaper than measurement
    // time does) — JIT/
    // codegen warmup is dominated by shared infrastructure (parquet
    // reader, codegen, shuffle), so a prefix of the suite warms nearly
    // all of it, and coverage (pass 1 must finish: at 129 queries a
    // single rep of everything is ~155 s at sf0.1, so a 30% warmup
    // starved the last pass-1 entries — BENCH_LOCAL r6) outranks
    // per-query steady-state polish.
    locally {
      val warmDir = "/root/testdata/sf0.001"
      // NEVER warm at the measured dir: util.CorpusMemo (BPE merges,
      // centroids, edge/pair sets) keys on (session, corpus dir), and
      // warmup runs in the measured session, so a warmup pass over sfDir
      // itself would pre-train exactly the artifacts pass 1 is supposed
      // to measure — d45/d46 (single-rep builders)
      // would record memo hits as their training cost. Distinct dirs
      // keep warmup JIT-only, which is its entire job.
      val warmIsMeasured =
        new java.io.File(warmDir).getCanonicalPath ==
          new java.io.File(sfDir).getCanonicalPath
      if (warmIsMeasured)
        println(s"""{"bench_note":"warmup skipped: warm dir equals measured dir (memo keys would collide)"}""")
      if (!warmIsMeasured && new java.io.File(warmDir).isDirectory) {
        // streaming entries excluded: their cost is state-store/drain
        // harness floor, which warmup neither measures nor improves —
        // and at ~1-2 s each they'd eat half the warmup window.
        // EIGHT warmup workers (r10; four through r9): each sf0.001
        // warm entry is dominated by driver-side planning on the
        // calling thread, not execution, so workers beyond the 4 task
        // slots still raise coverage by overlapping planning with
        // execution — at 185 entries the 4-worker warmup truncated
        // ~every draw (JIT state is process-global; every entry reads
        // the same warmDir, so the fixed-name temp views some SQL
        // entries register resolve to identical definitions and the
        // races are benign). Cache is
        // cleared once at the end — sf0.001 persists are tiny, and a
        // per-query clear from one worker would yank a concurrent
        // worker's cache mid-flight.
        // ONE pass (r8 measured a two-pass variant and rejected it:
        // both two-pass runs regressed ~7% and overran the pass-1
        // deadline — every warmup execution plans a FRESH query, so a
        // second pass doubles the generated-class load on the JIT code
        // cache without re-warming anything plan-specific)
        // SAMPLER FIRST, then the REVERSE of the measurement order
        // (after the s filter): the one-per-family sampler measures in
        // positions 1-4 before any cold-absorbing q/e prefix, and the
        // warmup truncates on ~every full draw — a pure reverse order
        // reached the sampler last and left exactly the first-measured
        // entries cold (its d entry pays seconds of cold JIT). After
        // the sampler, reverse order keeps the r10 rationale: truncation
        // drops the CHEAP q-family warmups (cold penalty ~0.2 s each)
        // rather than the expensive late-measured d-family ones (d13
        // measured 5.6 s cold vs 2.3 s warm).
        val famCount = selected.map(_._1.head).distinct.size
        val samplerS = selected.take(famCount).find(_._1.startsWith("s"))
        val it = (selected.take(famCount) ++ selected.drop(famCount).reverse)
          .iterator.filterNot(_._1.startsWith("s"))
        // FIRST-SUCCESS-ANCHORED deadline (r13): the fixed 7.5% window
        // measured out the door exactly when a slow host finally became
        // productive — the first warm entry completes only after a
        // 25-30 s process-global cold-start stall (classload +
        // interpreted Catalyst + C2), and the absolute deadline killed
        // the workers right as the 8-way parallel warm rate took off
        // (draw E: first success ~20 s, 13 entries warmed in the
        // remaining grace seconds). Anchor the deadline on the first
        // SUCCESS instead: base window after first success, hard-capped
        // at 15% of budget so a pathological host can't starve pass 1.
        // Fast hosts are unchanged (first success lands in ~1-5 s, so
        // firstOkAt + base ≈ the old absolute window). Every second the
        // extension spends pulls ~8 workers' worth of serial Janino
        // compile OUT of pass-1's timed region — parallel and untimed
        // here, single-threaded and timed there.
        val warmBase = budget * 0.075
        // cap at 15% (not 20%): when the first success itself lands very
        // late (draw I: ~39 s), an 18 s extension past it warmed only 11
        // entries while eating pass-1 coverage 1:1 — the 15% cap keeps
        // the productive case (first success ~20 s → window ~36 s, 34
        // entries warmed in draw H) and zeroes the pathological one
        val warmCap = budget * 0.15
        // BUDGET-AWARE abandonment (r14, VERDICT r13 #2): the anchored
        // window was budget-blind — a first success at 30+ s could still
        // claim its full base extension, spending up to 15% of budget
        // + grace before pass 1 starts, on exactly the hosts where
        // pass 1 needs every second (r13 driver draw: 73/185 skipped).
        // A first success landing past 10% of budget signals the
        // cold-collapse regime where extension eats pass-1 coverage
        // ~1:1 (draw I) — abandon the extension outright there:
        // completion of pass 1 outranks warm coverage.
        val warmLateThresh = budget * 0.10
        @volatile var firstOkAt = -1.0
        def warmDeadline: Double =
          if (firstOkAt < 0) warmBase
          else if (firstOkAt <= warmLateThresh)
            math.min(firstOkAt + warmBase, warmCap)
          else math.max(firstOkAt, warmBase) // late success: no extension
        // Set (under `it`'s lock) once the main thread leaves the grace
        // loop: no warm entry starts after that, whatever a late first
        // success does to warmDeadline — otherwise a late worker released
        // by it could run warm work over pass 1.
        @volatile var warmClosed = false
        // workers that took an entry; only these can be in flight
        val startedWorkers = java.util.concurrent.ConcurrentHashMap.newKeySet[Thread]()
        def nextWarm(): Option[(SparkSession, String) => org.apache.spark.sql.DataFrame] =
          it.synchronized {
            if (!warmClosed && it.hasNext && elapsed < warmDeadline) {
              startedWorkers.add(Thread.currentThread())
              Some(it.next()._2)
            } else None
          }
        // Swallowed warmup failures are COUNTED and surfaced below: the
        // concurrent workers tolerate a racy temp-view loss, but an
        // entry that silently lost its warmup absorbs cold-JIT cost in
        // its first measured rep — that must be visible in the
        // artifact, not hidden by the catch-all.
        val warmFailures = new java.util.concurrent.atomic.AtomicInteger(0)
        val warmed = new java.util.concurrent.atomic.AtomicInteger(0)
        val nWorkers = 8
        // STAGGERED start (r13): on a cold JVM the first warm entry is
        // dominated by process-global work (classloading, interpreted
        // Catalyst, C2 queue) — launching all 8 workers into that stall
        // just multiplies it (measured on a slow host: 8-way start
        // warmed 0-10 entries in the window with ~8 in-flight casualties
        // at the grace cancel; a 2-worker probe warmed 7). Two scouts
        // start immediately; the rest are released the moment the first
        // entry COMPLETES (the JVM is then warm and parallel planning
        // pays off — the r10 8-worker rationale). On a fast host the
        // first entry lands in ~1 s, so the stagger costs nothing.
        val firstDone = new java.util.concurrent.CountDownLatch(1)
        val workers = (1 to nWorkers).map { i =>
          val t = new Thread(() => {
            if (i > 2) {
              // late workers wait for the scouts' first success; bound
              // the wait on the last instant a success could still open
              // an extension (warmLateThresh; ADVICE r13: the old
              // warmBase+10 bound made them exit permanently when the
              // first success landed between warmBase+10 and the cap,
              // leaving only the 2 scouts to use the reopened window)
              while (!warmClosed && firstDone.getCount > 0 &&
                     elapsed < math.max(warmBase, warmLateThresh) + 10.0)
                firstDone.await(200, java.util.concurrent.TimeUnit.MILLISECONDS)
            }
            var cur = nextWarm()
            while (cur.isDefined) {
              try {
                cur.get(spark, warmDir).count(); warmed.incrementAndGet()
                if (firstOkAt < 0) firstOkAt = elapsed // benign race: near-equal values
                firstDone.countDown()
              }
              catch { case _: Throwable => warmFailures.incrementAndGet() }
              cur = nextWarm()
            }
          })
          t.setDaemon(true); t.start(); t
        }
        // The deadline is only checked BEFORE an entry starts, so one
        // slow warm entry picked up at deadline-ε can overrun without
        // bound on a degraded host (r10 observed a full draw lose 22 s
        // of pass-1 window this way). Grant a short grace past the
        // deadline, then cancel the in-flight warm jobs — the workers'
        // catch-all counts them as swallowed (measured-cold) entries.
        // graceEnd re-evaluates: a first success landing mid-wait
        // extends the window (the anchored deadline above)
        def graceEnd: Double = warmDeadline + 10.0
        // a worker still parked on firstDone never started an entry: only
        // started ones can be in flight. With none in flight, the loop
        // ends once the deadline has passed (no entry can start or
        // succeed) or the queue is empty (none is left to start, e.g. an
        // s-only run, whose queue is empty from the start); parked late
        // workers exit once warmClosed is set. Otherwise it would idle
        // until graceEnd or warmDeadline.
        def inFlight: Boolean = workers.exists(t => t.isAlive && startedWorkers.contains(t))
        def queueEmpty: Boolean = it.synchronized(!it.hasNext)
        while (workers.exists(_.isAlive) && elapsed < graceEnd &&
               (inFlight || (elapsed < warmDeadline && !queueEmpty)))
          workers.find(_.isAlive).foreach(_.join(250))
        it.synchronized { warmClosed = true }
        if (inFlight) {
          println(s"""{"bench_note":"warmup cancelled at ${"%.0f".format(elapsed)}s (grace exceeded)"}""")
          // cancelAllJobs only kills currently-ACTIVE jobs: a warm entry
          // mid-flight can launch its next internal job after one cancel
          // and keep running into pass-1, silently contaminating measured
          // timings. Loop cancel+join until the workers actually exit,
          // and if one still survives the bound, record the contamination
          // risk in the artifact rather than measuring over it silently.
          var tries = 0
          while (inFlight && tries < 5) {
            spark.sparkContext.cancelAllJobs()
            workers.foreach(_.join(2000))
            tries += 1
          }
          if (inFlight)
            println(s"""{"bench_note":"warmup worker survived cancellation — pass-1 timings may be contaminated"}""")
        }
        // The sampler puts ONE s-entry in the first four measured
        // positions, but the warm workers exclude the s-family (drain
        // cost is harness floor, and at 1-2 s each they'd eat the
        // window) — so that single entry was measured FULLY COLD with
        // repsStream=1, absorbing the streaming harness's JIT/codegen
        // cold start that every other s entry (measured after the warm
        // d-tail) avoids. One throwaway drain of exactly that entry at
        // the warm SF (~1 s) keeps its recorded figure comparable
        // round-over-round instead of systematically inflated.
        // Gated on the same grace bound as the workers (ADVICE r12): an
        // unguarded drain here had no deadline or cancellation, so one
        // hung streaming drain could eat the pass-1 window unbounded.
        // Run it on a bounded daemon thread and reuse the cancelAllJobs
        // loop; a cancelled/slow drain degrades to a cold-measured
        // s entry like every other truncated warmup.
        samplerS.foreach { case (_, fn) =>
          if (elapsed < graceEnd) {
            val t = new Thread(() => {
              try { fn(spark, warmDir).count(); warmed.incrementAndGet() }
              catch { case _: Throwable => warmFailures.incrementAndGet() }
            })
            t.setDaemon(true); t.start()
            t.join((((graceEnd - elapsed) * 1000).toLong + 2000).max(1L))
            var tries = 0
            while (t.isAlive && tries < 5) {
              spark.sparkContext.cancelAllJobs()
              t.join(2000)
              tries += 1
            }
            if (t.isAlive)
              println(s"""{"bench_note":"sampler-s warm drain survived cancellation — its pass-1 timing may be contaminated"}""")
          } else warmFailures.incrementAndGet()
        }
        spark.catalog.clearCache()
        if (it.hasNext) println(s"""{"bench_note":"warmup truncated at ${"%.0f".format(elapsed)}s after ${warmed.get} entries (budget $budget)"}""")
        if (warmFailures.get > 0) println(s"""{"bench_note":"warmup swallowed ${warmFailures.get} failures (entries measured cold)"}""")
      }
    }
    val gc0 = gcMillis
    // compiles before this point happened in the (untimed) warmup;
    // compiles after it happen inside measured reps
    val cg0 = janinoCount
    // Median-of-3 per query: a single-shot in-suite number
    // can swing 5x under co-tenant load (r3's d20 artifact: 20.9 s
    // recorded vs 3.7 s isolated), so the recorded figure is the median
    // and the min/max band is published alongside as the noise bound.
    // LOWER median: for an even rep count the smaller middle value is
    // recorded — host-steal noise is strictly additive, so of two shots
    // the lower one is closer to true plan cost (a 2-rep entry would
    // otherwise record its WORSE shot).
    val repsBatch = 3
    val repsStream = 1
    // Entries whose FIRST run memoizes a deterministic driver-side
    // artifact for the session (d45: the BPE merge sequence, shared with
    // d47; d46: the Lloyd centroid rounds, shared with d68 — train once,
    // apply many): a second rep would time the memo hit, not the
    // training, so the honest recorded figure is the single pass-1
    // measurement. Consumers of the artifacts (d47, d68, and the shared
    // C=16 IVF index under d11/d44) rep normally — query-with-prebuilt-
    // index IS their steady-state cost; whichever of d11/d44 runs first
    // carries the build in pass 1.
    val repsOnce = Set("d45_bpe_train", "d46_kmeans_embed")
    def fmt(v: Double) = if (v < 0) "-1" else f"$v%.3f"
    // lower median over SUCCESSFUL reps only: timeOnce's -1 failure
    // sentinel sorts first and must not shadow a real measurement when
    // the rep count is even
    def med(ts: Seq[Double]): Double = {
      val ok = ts.filter(_ >= 0)
      if (ok.isEmpty) -1.0 else ok((ok.length - 1) / 2)
    }
    val results = scala.collection.mutable.LinkedHashMap[String, Seq[Double]]()
    val skipped = scala.collection.mutable.ArrayBuffer[String]()

    def queriesJson(sel: Seq[Double] => Double): String =
      results.map { case (k, ts) => "\"" + k + "\":" + fmt(sel(ts)) }
        .mkString("{", ",", "}")
    // The driver records the LAST 2000 chars of the run log and
    // json-parses the last LINE within them. One line holding a
    // 185-entry per-query map is ~2.4k chars even with short ids and a
    // count+histogram skip field — which is why every full-suite round
    // since r6 (142 entries, the last fit) landed parsed:null. So:
    // when the one-line form fits the window with margin, print it
    // (the contract's own shape, and what subset runs produce);
    // otherwise print the per-query map as its OWN stdout line and make
    // the final line a compact summary that ALWAYS parses — the map
    // line sits directly above it, so its tail is still visible in the
    // recorded window, and full precision lives in BENCH_LOCAL.json.
    //
    // r14 (VERDICT r13 #3): on a COMPLETE draw that single bench_queries
    // line is itself ~2.4k chars, so the 2000-char tail clipped its
    // front and PERF recovered totals only (n_common 0 for every
    // complete round). Between the map line and the final summary the
    // bench now emits SELF-CONTAINED recovery lines, newest-last so
    // tail truncation cuts oldest first:
    //  - per-family chunk lines {"bench_fam":"q","part":1,"queries":
    //    {"q1":0.37,...}} at 2-decimal precision, each well under 1500
    //    chars (the d-family splits into parts of <=45 entries);
    //  - ONE compact line {"bench_cs":{"q":[...],...}} with every
    //    median in integer CENTISECONDS, family arrays indexed so
    //    element i is entry <fam><i+1> (ids are contiguous 1..N per
    //    family), -1 = skipped/failed. This line (~850 chars) plus the
    //    final summary always fit the 2000-char tail TOGETHER, so all
    //    185 medians are recoverable from the tail alone even when the
    //    dict chunks above are clipped.
    def shortId(name: String): String = name.takeWhile(_ != '_')
    def fmt2(v: Double): String = if (v < 0) "-1" else f"$v%.2f"
    def famChunkLines: Seq[String] = {
      val byFam = results.toSeq.groupBy(_._1.head)
      Seq('q', 'e', 'd', 's').filter(byFam.contains).flatMap { f =>
        val entries = byFam(f)
          .sortBy(p => shortId(p._1).drop(1).toInt)
          .map { case (k, ts) => "\"" + shortId(k) + "\":" + fmt2(med(ts)) }
        entries.grouped(45).zipWithIndex.map { case (chunk, i) =>
          s"""{"bench_fam":"$f","part":${i + 1},"queries":${chunk.mkString("{", ",", "}")}}"""
        }
      }
    }
    def csLine: String = {
      val famMax = selected.map(_._1).groupBy(_.head)
        .map { case (f, ns) => f -> ns.map(n => shortId(n).drop(1).toInt).max }
      val parts = Seq('q', 'e', 'd', 's').filter(famMax.contains).map { f =>
        val arr = Array.fill(famMax(f))(-1L)
        results.foreach { case (k, ts) =>
          if (k.head == f) {
            val idx = shortId(k).drop(1).toInt - 1
            val m = med(ts)
            if (idx >= 0 && idx < arr.length && m >= 0)
              arr(idx) = math.round(m * 100)
          }
        }
        "\"" + f + "\":" + arr.mkString("[", ",", "]")
      }
      s"""{"bench_cs":${parts.mkString("{", ",", "}")},"unit":"centisec","idx":"i = fam(i+1)","na":-1}"""
    }
    def summaryJson(complete: Boolean): (Seq[String], String) = {
      // Short ids ("d13" for "d13_dedup_clusters", per the contract's
      // own example); full names live in BENCH_LOCAL.json.
      val medJson = results.map { case (k, ts) =>
        "\"" + k.takeWhile(_ != '_') + "\":" + fmt(med(ts))
      }.mkString("{", ",", "}")
      val total = results.values.map(med).filter(_ >= 0).sum
      val gcSec = (gcMillis - gc0) / 1e3
      // Skipped entries as a count + per-family histogram, NOT the full
      // name list (BENCH_r10's 51-name list alone ate ~900 chars of the
      // window); full names live in BENCH_LOCAL.json.
      val skipFam = skipped.groupBy(_.head).toSeq.sortBy(_._1)
        .map { case (f, ns) => "\"" + f + "\":" + ns.length }.mkString("{", ",", "}")
      def line(queriesField: String) =
        s"""{"metric":"total","value":${fmt(total)},"unit":"sec",$queriesField""" +
          s""""complete":$complete,"skipped_n":${skipped.length},"skipped_fam":$skipFam,""" +
          s""""gc_sec":${fmt(gcSec)},$codeMemJson,""" +
          s""""cg_warm":$cg0,"cg_meas":${janinoCount - cg0},"cg_ms":$janinoMs,""" +
          s""""wall_sec":${fmt(elapsed)},"sf":"$sfDir"}"""
      val oneLine = line(s""""queries":$medJson,""")
      if (oneLine.length <= 1900) (Nil, oneLine)
      else (Seq(s"""{"bench_queries":$medJson}""") ++ famChunkLines :+ csLine,
        line(s""""queries_at":"bench_fam/bench_cs lines above; full detail in BENCH_LOCAL.json","""))
    }
    // Full-detail artifact (median + min/max noise band), rewritten after
    // every query so a timeout-killed run still leaves the data on disk.
    def writeLocal(complete: Boolean): Unit = {
      // min over SUCCESSFUL reps only: the -1 failure sentinel sorts
      // first and would otherwise corrupt the published noise band
      val body = s"""{"metric":"total","queries":${queriesJson(med)},""" +
        s""""queries_min":${queriesJson(ts => ts.filter(_ >= 0).headOption.getOrElse(-1.0))},"queries_max":${queriesJson(_.last)},""" +
        s""""reps_batch":$repsBatch,"reps_stream":$repsStream,"complete":$complete,""" +
        s""""skipped":${skipped.map("\"" + _ + "\"").mkString("[", ",", "]")},""" +
        s""""gc_sec":${fmt((gcMillis - gc0) / 1e3)},$codeMemJson,""" +
        s""""cg_warm":$cg0,"cg_meas":${janinoCount - cg0},"cg_ms":$janinoMs,""" +
        s""""wall_sec":${fmt(elapsed)},"sf":"$sfDir"}"""
      try java.nio.file.Files.writeString(
        java.nio.file.Paths.get("BENCH_LOCAL.json"), body + "\n")
      catch { case _: Throwable => () }
    }

    // Pass-1 cutoff: the margin below the budget only has to absorb
    // ONE entry's overshoot (the deadline is checked before each
    // entry starts; the worst single entry observed across r8/r9
    // five-run bands is ~7 s) plus the summary write. The previous
    // 0.95 factor left 12 s — 4 s of pure coverage window thrown
    // away, which at 185 entries is one-to-two skipped streaming
    // entries on an unlucky host-noise draw.
    val deadline = budget - 8.0
    def timeOnce(fn: (SparkSession, String) => org.apache.spark.sql.DataFrame): Double = {
      val t0 = System.nanoTime()
      val ok = try { fn(spark, sfDir).count(); true }
               catch { case _: Throwable => false }
      val dt = (System.nanoTime() - t0) / 1e9
      // free caches a query may have persisted so later timings are clean
      spark.catalog.clearCache()
      if (ok) dt else -1.0
    }
    def record(name: String, dt: Double): Unit = {
      val times = (results.getOrElse(name, Seq.empty) :+ dt).sorted
      results(name) = times
      println(s"""{"bench_progress":{"q":"$name","med":${fmt(med(times))},"reps":${times.length},"elapsed":${fmt(elapsed)}}}""")
      writeLocal(complete = false)
    }
    // Pass 1 — coverage: every selected query exactly once. The suite
    // outgrew reps-first budgeting at 115 queries (BENCH_r05 skipped
    // the whole streaming family); one rep of everything is ~60 s at
    // sf0.1, so coverage always lands even on a contended host.
    for ((name, fn) <- selected) {
      if (elapsed >= deadline) skipped += name
      else record(name, timeOnce(fn))
    }
    // Passes 2..N — precision: spend what's left on extra reps toward
    // the per-family rep target so the recorded figure is a median, not
    // a single co-tenant-noise-exposed shot. HEAVY-FIRST: within each
    // sweep, entries are revisited in descending observed time, because
    // a 3 s entry's single-shot noise dwarfs a 0.15 s entry's whole
    // cost — the heavy family must earn its median before the cheap
    // tail does. Reps stop at the SOFT deadline (80% of budget): the
    // artifact should land with wall headroom, not pad to the wire;
    // only pass-1 coverage may use the full window.
    val softDeadline = budget * 0.8
    // Heavy-head reserve past the soft deadline (r11: the driver draw's
    // warmup+pass-1 ended past the 80% mark on a non-quiet phase, so
    // ZERO precision reps ran and all 185 recorded figures were
    // single noise-exposed shots — min==max across the artifact, the
    // exact failure mode the median design exists for). The ~20
    // heaviest entries by observed time may rep up to 25 s past the
    // soft deadline: that is where single-shot noise actually moves
    // the sum (a 3 s entry swinging 2x costs 3 s of artifact error; a
    // 0.2 s entry costs nothing). The cheap tail still stops at the
    // soft deadline, so the artifact keeps its wall headroom and the
    // hard pass-1 deadline still bounds everything.
    // only rep-ELIGIBLE entries count toward the heavy set: an s-entry
    // at repsStream=1 or a repsOnce trainer can never use the reserve,
    // and letting them occupy top-20 slots strands reserve seconds
    // (first reserve draw: only 7 of the top-20 were eligible, and the
    // rep loop went idle with ~8 s of reserve unspent)
    def repTarget(name: String): Int =
      if (repsOnce(name)) 1
      else if (name.startsWith("s")) repsStream
      else repsBatch
    val heavy = results.toSeq
      .filter { case (n, _) => repTarget(n) > 1 }
      .sortBy { case (_, ts) => -ts.max }
      .take(20).map(_._1).toSet
    val heavyDeadline = math.min(softDeadline + 25.0, deadline)
    var madeProgress = true
    while (madeProgress && elapsed < heavyDeadline) {
      madeProgress = false
      val order = selected.filter(p => results.contains(p._1))
        .sortBy { case (n, _) => -results(n).max }
      for ((name, fn) <- order) {
        val target = repTarget(name)
        val have = results(name)
        val soft = if (heavy(name)) heavyDeadline else softDeadline
        if (have.length < target && have.nonEmpty && elapsed < soft &&
            elapsed + have.last.max(0.0) < deadline) {
          record(name, timeOnce(fn))
          madeProgress = true
        }
      }
    }
    writeLocal(complete = skipped.isEmpty)
    val (preLines, json) = summaryJson(complete = skipped.isEmpty)
    // The driver parses the LAST stdout line: silence Spark's shutdown
    // chatter, stop (failures swallowed — a throwing stop() must not
    // push shutdown noise after the summary), then print the recovery
    // lines and the summary, summary as the genuinely final line
    // (build.sbt suppresses sbt's "[success]" trailer and un-prefixes
    // forked output).
    spark.sparkContext.setLogLevel("OFF")
    try spark.stop() catch { case _: Throwable => () }
    preLines.foreach(println)
    println(json)
  }
}
