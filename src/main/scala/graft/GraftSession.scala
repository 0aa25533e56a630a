package graft

import org.apache.spark.sql.SparkSession

/** The one way graft builds a session. Bench, Verify, PlanDump,
  * ProfileEntry and the specs all plan under these confs, so the plan
  * Bench times is the plan Verify checks. A session graft did not build
  * still works: `Tables.load` sets the parquet flag and registers the
  * native functions on whatever session it is given, and memoizes its
  * relations per session (`util.CorpusMemo`). */
object GraftSession {

  /** Compiled-class cache size. Spark's CodeGenerator caches compiled
    * generated classes keyed on source text, but holds only 100 by
    * default; one suite pass generates thousands (whole-stage spans,
    * projections, predicates, orderings), so by the time an entry is
    * re-run its classes were evicted and every rep re-paid Janino inside
    * the timed region. 8192 holds the whole suite; the cost is metaspace
    * for the retained classes (Bench publishes `metaspace_peak_mb`).
    * OPTIMIZATION_r13.md has the measurement. */
  val CodegenCacheEntries = 8192

  /** Generated-class names without the per-query codegen stage id. The
    * class cache is keyed on source text, and with the id in the name two
    * queries sharing a subplan shape miss the cache whenever the shape
    * lands at a different stage position. Without it, identical fragments
    * compile once per JVM: a complete draw's Janino compiles fell from
    * 2129 to 1059 (OPTIMIZATION_r14.md). Plans and results are untouched;
    * the flag only names classes. */
  val CodegenIdInClassName = false

  /** A `local[cores]` session (or the JVM's existing one) with:
    *  - UTC: Tables' TIMESTAMP_NTZ→Timestamp cast depends on the session
    *    time zone, so an unpinned session reads shifted instants on a
    *    non-UTC host;
    *  - one shuffle partition per core;
    *  - AQE off. At this scale AQE buys nothing the static planner does
    *    not already do, while it re-plans and re-compiles every stage at
    *    run time, so a warmup pass stops covering codegen. Measured on
    *    full 185-entry driver-config draws, same day: quiet-phase best
    *    175.5 s AQE-off vs 188.2 s AQE-on, slow phase 212.7 vs 214.6 s,
    *    gc 0.97 vs 2.0-2.7 s. Its bytes-based coalescing (8 MB advisory)
    *    was also measured net-negative: the doc-pipeline operators are
    *    CPU-per-byte heavy, so coalescing serializes the stages that need
    *    the cores (BENCH_NOTES.md, r8). A 100 TB deployment wants AQE's
    *    skew and coalesce machinery; graft's operators never touch the
    *    flag;
    *  - `nanosAsLong`, so events.parquet's TIMESTAMP(NANOS) reads as long
    *    (SPARK-40819);
    *  - a fixed 4 MB Tungsten page. Left to its heuristic the page scales
    *    with execution memory: under a many-GB heap tasks allocate up to
    *    64 MB pages, humongous allocations in G1, measured as a 6-15x
    *    wall inflation on shuffle- and aggregate-heavy entries (the
    *    similarity join: 9 s at -Xmx8g vs 65 s at -Xmx64g; 10 s at any
    *    heap with 4m);
    *  - the two codegen settings above, and no UI;
    *  - [[GraftExtensions]]: native functions, the as-of join strategy and
    *    its pruning rule. */
  def local(cores: Int): SparkSession = {
    val spark = SparkSession.builder()
      .master(s"local[$cores]")
      .withExtensions(new GraftExtensions())
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.shuffle.partitions", cores.toLong)
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.sql.legacy.parquet.nanosAsLong", "true")
      .config("spark.ui.enabled", "false")
      .config("spark.buffer.pageSize", "4m")
      .config("spark.sql.codegen.cache.maxEntries", CodegenCacheEntries.toLong)
      .config("spark.sql.codegen.useIdInClassName", CodegenIdInClassName)
      .getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    spark
  }
}
