package graft
import org.apache.spark.sql.SparkSession
import java.nio.file.{Files, Paths}
/** Driver-run correctness dump: each SparkEntry.queries result → parquet,
  * plus oracle_sql.json, for the driver's DuckDB compare. */
object Verify {
  def main(args: Array[String]): Unit = {
    val Array(sfDir, outDir) = args
    val cpus = sys.env.get("SPARK_GRAFT_CPUS")
      .flatMap(_.trim.toIntOption).getOrElse(4).max(1)
    val spark = GraftSession.local(cpus)
    new java.io.File(outDir).mkdirs()
    // dev loop: SPARK_GRAFT_QUERIES=d25_vocab_stats,d26_source_mix limits
    // the dump to a comma-separated subset (same knob as Bench).
    val only = sys.env.get("SPARK_GRAFT_QUERIES")
      .map(_.split(",").map(_.trim).toSet)
    val chosen = only match {
      case Some(names) => SparkEntry.queries.filter(q => names(q._1))
      case None => SparkEntry.queries
    }
    // Oracle-SQL entries first (r14, VERDICT r13 #1a): the round driver
    // kills Verify on a wall budget, and SparkEntry.queries is a hash
    // map — under the old arbitrary order a kill left a RANDOM subset
    // dumped, so the oracle compare lost hash-PASS entries it could
    // have had. With the hash-gated entries (those carrying oracle SQL)
    // dumped first, a truncated run still yields a maximal comparable
    // prefix; the rows-only tail (no SQL oracle) goes last. Name-sorted
    // within each group so partial runs are comparable across rounds.
    val oracleSql = SparkEntry.oracleSql
    val selected = chosen.toSeq.sortBy { case (name, _) =>
      (if (oracleSql.contains(name)) 0 else 1, name)
    }
    // JSON string escape: backslash, quote, and ALL control chars (<0x20)
    // — a tab or CR in builder-authored SQL would otherwise make the
    // driver's json.load fail and silently zero the round's correctness.
    def q(s: String): String = "\"" + s.flatMap {
      case '"'  => "\\\""
      case '\\' => "\\\\"
      case '\n' => "\\n"
      case '\r' => "\\r"
      case '\t' => "\\t"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
    // oracle_sql.json is written BEFORE the dump loop: it depends only on
    // SparkEntry.oracleSql, and writing it last meant a driver wall-budget
    // kill anywhere in the ~12-min 185-query loop zeroed the ENTIRE round's
    // correctness artifact (CORRECTNESS_r10.json was {} for exactly this
    // reason). With the file first and the per-query parquet writes
    // incremental, a killed Verify yields a partial-but-real table.
    val json = oracleSql
      .map { case (k, v) => s"${q(k)}: ${q(v)}" }.mkString("{", ",", "}")
    Files.writeString(Paths.get(s"$outDir/oracle_sql.json"), json)
    // The dump loop runs entries CONCURRENTLY by default: correctness
    // does not need clean per-entry timing (that's Bench's job), every
    // entry's result is partition/scheduling-invariant by the suite's
    // own oracle design, and wall time is survival — the round driver
    // kills Verify on a wall budget, and a ~3x shorter loop turns a
    // slow-phase kill into a non-event (with oracle_sql.json written
    // first, a kill already only costs the unfinished tail).
    // Four workers; persisted intermediates are left to Spark's LRU
    // storage eviction plus the periodic clear below (a per-entry clear
    // from one worker would yank a concurrent entry's cache mid-job).
    val nThreads = 4
    val done = new java.util.concurrent.atomic.AtomicInteger(0)
    val it = selected.iterator
    def nextEntry(): Option[(String, (SparkSession, String) => org.apache.spark.sql.DataFrame)] =
      it.synchronized { if (it.hasNext) Some(it.next()) else None }
    // Bounded cache accumulation: the suite's entries persist dozens
    // of anonymous intermediates they never unpersist. A periodic clear
    // bounds storage growth over the run; it may yank a concurrent
    // entry's persist mid-job, which only costs that entry a recompute,
    // and the blast radius is the <= nThreads in-flight entries. Two
    // contracts make the clear safe: (1) NO entry may lean on persist()
    // for CORRECTNESS — materializations whose recompute could differ
    // (nondeterminism like spark_partition_id; e26's pid↔offset
    // pairing) must use localCheckpoint, which this clear cannot touch;
    // (2) the clear may evict util.CorpusMemo's over-cap frame, which
    // lives as long as its corpus (CorpusMemo.rows persists it again
    // for the next consumer, so the cost is one recompute, never a
    // permanently uncached plan).
    // If the clear cadence ever tightens, re-check both.
    val processed = new java.util.concurrent.atomic.AtomicInteger(0)
    val workers = (1 to nThreads).map { _ =>
      val t = new Thread(() => {
        var cur = nextEntry()
        while (cur.isDefined) {
          val (name, fn) = cur.get
          val t0 = System.nanoTime()
          try {
            fn(spark, sfDir).coalesce(1).write.mode("overwrite")
              .parquet(s"$outDir/$name")
            // per-query done-line so a partial (killed) run is diagnosable
            // from the log: which entry was in flight, how far the loop got.
            println(f"[verify] $name done ${(System.nanoTime() - t0) / 1e9}%.1fs (${done.incrementAndGet()}/${selected.size})")
          } catch { case e: Throwable =>
            System.err.println(s"[verify] $name failed: ${e.getMessage}")
          }
          if (processed.incrementAndGet() % 32 == 0) spark.catalog.clearCache()
          cur = nextEntry()
        }
      })
      t.start(); t
    }
    workers.foreach(_.join())
    spark.stop()
  }
}
