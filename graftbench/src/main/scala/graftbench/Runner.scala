package graftbench

import org.apache.spark.sql.SparkSession

/** Minimal JSON writer for the result and trace files. */
object Json {
  def str(s: String): String =
    "\"" + s.flatMap {
      case '"' => "\\\""
      case '\\' => "\\\\"
      case c if c < ' ' => f"\\u${c.toInt}%04x"
      case c => c.toString
    } + "\""
  def num(v: Double): String =
    if (v.isNaN || v.isInfinite) "null"
    else if (v == math.rint(v) && math.abs(v) < 1e15) v.toLong.toString
    else v.toString
  def num(v: Long): String = v.toString
  def arr(xs: Seq[String]): String = xs.mkString("[", ",", "]")
  def obj(fields: (String, String)*): String =
    fields.map { case (k, v) => str(k) + ":" + v }.mkString("{", ",", "}")
}

object Stats {
  def median(xs: Seq[Double]): Double = quantile(xs, 0.5)
  /** Linear-interpolated quantile of a non-empty sample. */
  def quantile(xs: Seq[Double], q: Double): Double = {
    require(xs.nonEmpty, "quantile of an empty sample")
    val s = xs.sorted
    val pos = q * (s.length - 1)
    val lo = math.floor(pos).toInt
    val hi = math.min(lo + 1, s.length - 1)
    s(lo) + (s(hi) - s(lo)) * (pos - lo)
  }
}

/** Outcome of checking a workload's outputs. `attempted` and `failed`
  * count the operations of the measured units; `problems` describes
  * every failed operation (also those of warm units) for the log. */
final case class Check(attempted: Long, failed: Long, warmFailed: Long, problems: Seq[String])

/** One workload: a fixed amount of work split into units. */
trait Workload {
  /** Inputs opened (and, for a streaming workload, the query started). */
  def open(): Unit
  /** Runs unit `i` to its end. */
  def unit(i: Int, measured: Boolean): Unit
  /** Ends the work after the last unit (stops generators, drains). */
  def finish(): Unit = ()
  /** Checks every output against computations made apart from graft. */
  def check(): Check
  /** Wall latencies, in ms, of what a user waits for in measured units. */
  def latenciesMs: Seq[Double]
  /** The workload's own per-layer metrics, per measured unit. */
  def layerMetrics(measuredUnits: Int): Seq[(String, Double)]
  /** The per-unit CPU charge of a run: the median over the measured
    * units, which are independent in a closed loop. */
  def perUnit(unitCpu: Seq[Double]): Double = Stats.median(unitCpu)
  /** Workload-specific fields of the result. */
  def extra: Seq[(String, String)] = Nil
  def close(): Unit = ()
}

/** Runs a fixed number of warm units, then the measured units, and
  * gathers every metric. The warm count is fixed, not adaptive, so that
  * every run measures from the same point of the JVM's warm-up. */
object Runner {
  final case class Result(fields: Seq[(String, String)])

  def run(spark: SparkSession, w: Workload, args: Main.Args): Result = {
    var i = 0
    val warmT0 = System.nanoTime()
    while (i < args.warm) {
      val c0 = Trace.processCpuS()
      Trace.span(s"warm_unit.$i")(w.unit(i, measured = false))
      System.err.println(f"warm unit $i: cpu ${Trace.processCpuS() - c0}%.2f s")
      i += 1
    }
    val warmS = (System.nanoTime() - warmT0) / 1e9

    val unitCpu = scala.collection.mutable.ArrayBuffer.empty[Double]
    val deltas = scala.collection.mutable.Map.empty[String, Double].withDefaultValue(0.0)
    var measuredWallMs = 0.0
    (0 until args.units).foreach { k =>
      Trace.drain(spark)
      val before = if (args.trace) Trace.snapshot() else Map.empty[String, Double]
      val c0 = Trace.processCpuS()
      val t0 = System.nanoTime()
      Trace.measuring = true
      Trace.span(s"unit.$k")(w.unit(i, measured = true))
      Trace.measuring = false
      unitCpu += Trace.processCpuS() - c0
      measuredWallMs += (System.nanoTime() - t0) / 1e6
      if (args.trace) {
        Trace.drain(spark)
        Trace.snapshot().foreach { case (name, v) => deltas(name) += v - before.getOrElse(name, 0.0) }
      }
      i += 1
    }
    Trace.span("finish")(w.finish())
    val heapMb = Trace.retainedHeapMb()
    val check = Trace.span("check")(w.check())
    check.problems.take(20).foreach(p => System.err.println(s"check: $p"))

    val lat = w.latenciesMs
    val endToEnd = Seq(
      "work_cpu_s" -> Json.num(w.perUnit(unitCpu.toSeq)),
      "lat_p50_ms" -> Json.num(Stats.median(lat)),
      "retained_heap_mb" -> Json.num(heapMb))
    val perLayer: Seq[(String, Double)] =
      if (!args.trace) Nil
      else {
        val u = args.units.toDouble
        val fromSnap = deltas.toSeq.filter(_._1 != "engine.busy_ms").map { case (k, v) => k -> v / u }
        val gap = (measuredWallMs - deltas("engine.busy_ms")) / u
        Layers.complete(w.layerMetrics(args.units) ++ fromSnap ++
          Seq("engine.driver_gap_ms" -> math.max(0.0, gap), "jvm.warm_s" -> warmS))
      }
    if (args.trace) Trace.writeJsonl(args.work.resolve("trace.jsonl"), perLayer)
    Result(endToEnd ++ Seq(
      "attempted" -> Json.num(check.attempted),
      "failed" -> Json.num(check.failed),
      "warm_failed" -> Json.num(check.warmFailed),
      "warm_units" -> Json.num(args.warm.toLong),
      "unit_cpu_s" -> Json.arr(unitCpu.toSeq.map(Json.num)),
      "per_layer" -> Json.obj(perLayer.map { case (k, v) => k -> Json.num(v) }: _*)) ++ w.extra)
  }
}
