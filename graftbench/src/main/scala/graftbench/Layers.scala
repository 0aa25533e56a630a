package graftbench

import org.apache.spark.sql.streaming.StreamingQueryProgress

/** The per-layer metrics, by name, and how the workloads' own tallies
  * and Spark's streaming progress turn into them. Every value is per
  * measured unit unless its name says otherwise (a ratio, a median, a
  * decile mean, or a level such as state rows). */
object Layers {
  val MixEntries: Seq[String] = Seq(
    "e24_asof_exec", "d4_quality_score", "d45_bpe_train", "d47_bpe_apply")

  /** Short entry ids used in metric names (`queries.q1.wall_ms`). */
  def shortId(entry: String): String = entry.takeWhile(_ != '_')

  val names: Seq[String] =
    Seq("sink.flushes", "sink.records", "sink.requeued", "sink.dead_letter", "sink.backoff_ms",
      "sink.put_yield",
      "transport.put_calls", "transport.put_ms", "transport.put_ms_first_decile",
      "transport.put_ms_last_decile", "transport.files", "transport.log_bytes",
      "transport.describe_calls", "transport.describe_ms", "transport.read_calls",
      "transport.read_ms", "transport.read_records",
      "source.batches", "source.trigger_ms_p50", "source.latest_offset_ms", "source.planning_ms",
      "source.add_batch_ms", "source.wal_commit_ms", "source.commit_offsets_ms",
      "state.commit_ms", "state.rows", "state.bytes") ++
      MixEntries.flatMap(e => Seq(s"queries.${shortId(e)}.wall_ms", s"queries.${shortId(e)}.task_cpu_ms")) ++
      Seq("engine.jobs", "engine.stages", "engine.tasks", "engine.task_cpu_ms",
        "engine.shuffle_write_bytes", "engine.shuffle_read_bytes", "engine.spill_bytes",
        "engine.driver_gap_ms",
        "codegen.compiles", "codegen.compile_ms",
        "jvm.gc_ms", "jvm.alloc_mb", "jvm.jit_ms", "jvm.warm_s",
        "live.gen_late_ms_p99", "live.backlog_max")

  /** Every named metric, reading 0 for a layer the workload leaves idle;
    * counters that only feed a derived metric (`sink.acked`) are dropped. */
  def complete(got: Seq[(String, Double)]): Seq[(String, Double)] = {
    val m = got.toMap
    val records = m.getOrElse("sink.records", 0.0)
    val derived = m + ("sink.put_yield" ->
      (if (records > 0) m.getOrElse("sink.acked", 0.0) / records else 0.0))
    names.map(n => n -> derived.getOrElse(n, 0.0))
  }

  /** Log files and bytes per unit, and the mean put duration over the
    * first and the last tenth of the measured put calls. */
  def logSize(files: Double, bytes: Double): Seq[(String, Double)] = {
    val puts = Trace.seriesOf("transport.put_ms")
    val d = math.max(1, puts.length / 10)
    def mean(xs: Seq[Double]) = if (xs.isEmpty) 0.0 else xs.sum / xs.length
    Seq("transport.files" -> files, "transport.log_bytes" -> bytes,
      "transport.put_ms_first_decile" -> mean(puts.take(d)),
      "transport.put_ms_last_decile" -> mean(puts.takeRight(d)))
  }

  def source(ps: Seq[StreamingQueryProgress], units: Double): Seq[(String, Double)] = {
    def dur(p: StreamingQueryProgress, k: String): Double =
      Option(p.durationMs.get(k)).map(_.doubleValue).getOrElse(0.0)
    def total(k: String) = ps.map(dur(_, k)).sum / units
    val triggers = ps.map(dur(_, "triggerExecution"))
    Seq("source.batches" -> ps.count(_.numInputRows > 0) / units,
      "source.trigger_ms_p50" -> (if (triggers.isEmpty) 0.0 else Stats.median(triggers)),
      "source.latest_offset_ms" -> total("latestOffset"),
      "source.planning_ms" -> total("queryPlanning"),
      "source.add_batch_ms" -> total("addBatch"),
      "source.wal_commit_ms" -> total("walCommit"),
      "source.commit_offsets_ms" -> total("commitOffsets"))
  }

  def state(ps: Seq[StreamingQueryProgress], units: Double): Seq[(String, Double)] = {
    val ops = ps.flatMap(_.stateOperators)
    val last = ps.lastOption.toSeq.flatMap(_.stateOperators)
    Seq("state.commit_ms" -> ops.map(_.commitTimeMs.toDouble).sum / units,
      "state.rows" -> last.map(_.numRowsTotal.toDouble).sum,
      "state.bytes" -> last.map(_.memoryUsedBytes.toDouble).sum)
  }
}
