package graftbench

import graft.functions.Text
import graft.streaming.{BatchingSink, FileRecordWriter, FileShardReader, ShardedLog, StreamOps, ToRecord, TransportRegistry}
import java.nio.file.Files
import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._
import org.apache.spark.sql.streaming.{StreamingQuery, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** ingest_live: an open loop at one fixed arrival rate. One client
  * thread writes records on a fixed schedule through BatchingSink into
  * the file log, redelivering a seeded share; one streaming query (the
  * shape of s17) reads the log on a fixed processing-time trigger,
  * joins the catalog, drops redeliveries within the watermark, applies
  * the quality gate and writes survivors through BatchingSink. A unit
  * is one slice of the schedule; an operation is one unique record.
  */
object Live {
  val RatePerS = 100
  val SliceS = 4
  val TickMs = 50
  val TriggerMs = 1000
  val RedeliveryShare = 0.05
  val ThrottleShare = 0.03
  val ClientErrorShare = 0.02
  val CatalogDocs = 2000
  val Horizon = "30 seconds"
  val Markers = Seq("the", "a")
  val Vocab: Vector[String] = ("join hash row batch scan column customer filter small slow merge " +
    "order vector line table data agg value key stream window a spark part group big sort " +
    "query fast the").split(" ").toVector
  val Langs = Vector("en", "zh", "de", "fr", "es")

  def perSlice: Int = RatePerS * SliceS

  /** Catalog document `d`: 3 to 40 vocabulary tokens, some capitalised,
    * some separated by two spaces. */
  def docText(seed: Long, d: Int): String = {
    val n = 3 + (Rng.long(seed, 0xD0C, d) & 0xffff).toInt % 38
    val sb = new StringBuilder
    (0 until n).foreach { j =>
      if (j > 0) sb.append(if (Rng.unit(seed, 0x5BC + j, d) < 0.05) "  " else " ")
      val w = Vocab((Rng.long(seed, 0x70C + j, d) & 0xffff).toInt % Vocab.length)
      sb.append(if (Rng.unit(seed, 0xCA9 + j, d) < 0.1) w.capitalize else w)
    }
    sb.toString
  }

  def docOf(seed: Long, id: Long): Int = ((Rng.long(seed, 0xD1D, id) & 0x7fffffffL) % CatalogDocs).toInt

  /** The quality gate, re-implemented on plain strings: at least 10
    * whitespace tokens, and at least one marker token after lower-casing
    * and collapsing whitespace. */
  def passesGate(text: String): Boolean = {
    val tokens = text.trim.split("\\s+").length
    val norm = text.toLowerCase.replaceAll("\\s+", " ").trim
    tokens >= 10 && norm.split(" ").count(Markers.contains) >= 1
  }
}

final class Live(spark: SparkSession, args: Main.Args) extends Workload {
  import Live._
  import spark.implicits._

  private val base = args.work.resolve("live")
  private val inRoot = base.resolve("in")
  private val outRoot = base.resolve("out")
  private val genInj = Injection(args.seed ^ 0x6E6, 0.0, ThrottleShare)
  private val outInj = Injection(args.seed, ClientErrorShare, ThrottleShare)
  private val readerName = "graftbench-live"

  /** id -> outcomes (status, emission nanoTime) as the query emits them. */
  private val outcomes = new ConcurrentHashMap[Long, List[(String, Long)]]()
  /** id -> nanoTime at which the generator started writing it. */
  private val written = new ConcurrentHashMap[Long, Long]()
  private var query: StreamingQuery = _
  private var t0 = 0L
  /** The generator stops once it has written every id below this. */
  @volatile private var stopAt = Long.MaxValue
  private var generator: Thread = _
  @volatile private var backlogMax = 0L
  private val measuredSlices = mutable.ArrayBuffer.empty[Int]
  private var progressFrom = -1
  private var progressTo = 0
  private var logAtStart = (0L, 0L)
  private var logAtEnd = (0L, 0L)

  def due(id: Long): Long = t0 + id * 1000000000L / RatePerS

  override def open(): Unit = {
    Files.createDirectories(inRoot)
    val seed = args.seed
    val catalog = (0 until CatalogDocs)
      .map(d => (d.toLong, Langs(d % Langs.length), docText(seed, d))).toDF("doc_id", "lang", "text")
    val reader = spark.readStream.format(ShardedLog.Format).option("startingPosition", "trim_horizon")
    val src = if (Trace.on) {
      TransportRegistry.register(readerName, new TimedReader(new FileShardReader(inRoot.toString)))
      reader.option("transport", readerName).load()
    } else reader.option("path", inRoot.toString).load()
    val parts = split($"value", "\\|")
    val enriched = src
      .select(parts(0).cast("long").as("id"), parts(1).cast("long").as("doc_id"),
        timestamp_micros(parts(2).cast("long")).as("ts"))
      .join(broadcast(catalog), "doc_id")
      .select($"id", $"ts", $"lang", Text.wsTokenCount($"text").as("n_tok"),
        Text.markerCount($"text", Markers).as("sc"))
    val deduped = StreamOps.dedupWithinWatermark(enriched, "ts", Horizon, Seq("id"))
    val outStr = outRoot.toString
    val inj = outInj
    val trace = Trace.on
    val statuses = deduped.select($"id", $"lang", $"n_tok", $"sc").as[(Long, String, Long, Long)]
      .mapPartitions { it =>
        val rows = it.toVector
        val (good, rejected) = rows.partition(r => r._3 >= 10 && r._4 >= 1)
        implicit val rec: ToRecord[(Long, String)] = ToRecord.instance(r => r._1.toString,
          r => Bytes.utf8(s"${r._1}|${r._2}"))
        val writer = new InjectingWriter(
          TimedWriter.wrap(new FileRecordWriter(outStr, 4), trace), "live-out", inj)
        val sunk = BatchingSink.over[(Long, String)](writer, sleeper = Tally.sleeper)
          .run(good.iterator.map(r => (r._1, r._2)))
          .map {
            case Right((id, _)) => (id, "ok")
            case Left(BatchingSink.PutError((id, _), _)) => (id, "err")
          }
        rejected.iterator.map(r => (r._1, "rejected_quality")) ++ sunk
      }.toDF("id", "status")
    query = statuses.writeStream
      .trigger(Trigger.ProcessingTime(TriggerMs.toLong))
      .option("checkpointLocation", base.resolve("ckpt").toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        val rows = df.as[(Long, String)].collect()
        val now = System.nanoTime()
        rows.foreach { case (id, st) =>
          outcomes.merge(id, List((st, now)), (a, b) => a ++ b)
        }
      }
      .start()
    // set-up ends once the query has run its first trigger
    val deadline = System.nanoTime() + 60000000000L
    while (query.lastProgress == null && System.nanoTime() < deadline) Thread.sleep(10)
  }

  private def startGenerator(): Unit = {
    t0 = System.nanoTime() + 50000000L
    val t0EpochUs = Main.epochNs() / 1000 + 50000L
    val seed = args.seed
    implicit val rec: ToRecord[(Long, String)] =
      ToRecord.instance(r => "k" + (r._1 % 97), r => Bytes.utf8(r._2))
    val sink = BatchingSink.over[(Long, String)](
      new InjectingWriter(TimedWriter.wrap(new FileRecordWriter(inRoot.toString, 4), Trace.on),
        "live-gen", genInj),
      sleeper = Tally.sleeper)
    def payload(id: Long) =
      s"$id|${docOf(seed, id)}|${t0EpochUs + id * 1000000L / RatePerS}|"
    generator = new Thread(() => {
      var next = 0L
      var redeliver = Vector.empty[Long]
      while (next < stopAt) {
        val now = System.nanoTime()
        val upTo = if (now < t0) 0L else (now - t0) * RatePerS / 1000000000L + 1
        if (upTo > next || redeliver.nonEmpty) {
          val fresh = next until upTo
          fresh.foreach(id => written.put(id, now))
          val batch = (fresh ++ redeliver).map(id => (id, payload(id)))
          sink.run(batch.iterator).foreach { r =>
            if (r.isLeft) throw new IllegalStateException(s"generator put failed: $r")
          }
          redeliver = fresh.filter(id => Rng.unit(seed, 0xDE1, id) < RedeliveryShare).toVector
          next = upTo
        }
        if (Trace.measuring) backlogMax = math.max(backlogMax, next - outcomes.size)
        val sleepNs = t0 + ((System.nanoTime() - t0) / (TickMs * 1000000L) + 1) * TickMs * 1000000L -
          System.nanoTime()
        if (sleepNs > 0) Thread.sleep(sleepNs / 1000000L, (sleepNs % 1000000L).toInt)
      }
    }, "graftbench-live-generator")
    generator.setDaemon(true)
    generator.start()
  }

  override def unit(i: Int, measured: Boolean): Unit = {
    if (i == 0) startGenerator()
    if (measured) {
      if (progressFrom < 0) {
        progressFrom = query.recentProgress.length
        if (Trace.on) logAtStart = sizes()
      }
      measuredSlices += i
    }
    val end = t0 + (i + 1).toLong * SliceS * 1000000000L
    while (System.nanoTime() < end) {
      val ms = (end - System.nanoTime()) / 1000000L
      if (ms > 0) Thread.sleep(ms)
    }
    if (measured) {
      progressTo = query.recentProgress.length
      if (Trace.on) logAtEnd = sizes()
    }
  }

  private def sizes(): (Long, Long) = {
    val (a, b) = LogSize(inRoot)
    val (c, d) = LogSize(outRoot)
    (a + c, b + d)
  }

  private def lastId: Long = (measuredSlices.max + 1).toLong * perSlice

  override def finish(): Unit = {
    stopAt = lastId
    generator.join()
    // every record due up to the end of the last measured slice gets its
    // outcome; a bounded wait, then the check reports what is missing
    val deadline = System.nanoTime() + 30000000000L
    def pending = (0L until lastId).exists(id => !outcomes.containsKey(id))
    while (pending && System.nanoTime() < deadline) Thread.sleep(100)
    Thread.sleep(2L * TriggerMs)
    query.stop()
    // a stopped query's state stores stay loaded until a maintenance pass
    // happens to unload them; unload now, so the retained heap does not
    // depend on that timing (state size is in state.rows and state.bytes)
    org.apache.spark.GraftbenchAccess.unloadStateStores()
  }

  override def check(): Check = {
    val seed = args.seed
    val got: Map[Long, List[String]] = {
      val m = outcomes.asScala.map { case (k, v) => k -> v.map(_._1) }.toMap
      val first = measuredSlices.min.toLong * perSlice
      args.fault match {
        case Some("lost") => m - first
        case Some("dupout") => m.updated(first, m(first) ++ m(first))
        case _ => m
      }
    }
    val firstMeasured = measuredSlices.min.toLong * perSlice
    val bad = (0L until lastId).filter { id =>
      val expected =
        if (!passesGate(docText(seed, docOf(seed, id)))) "rejected_quality"
        else if (outInj.clientError(id)) "err"
        else "ok"
      got.getOrElse(id, Nil) != List(expected)
    }
    val (warm, measured) = bad.partition(_ < firstMeasured)
    Check(attempted = lastId - firstMeasured, failed = measured.length.toLong,
      warmFailed = warm.length.toLong,
      problems = bad.take(20).map(id => s"record $id: outcomes ${got.getOrElse(id, Nil)}"))
  }

  private def measuredIds: Range = {
    val first = measuredSlices.min * perSlice
    first until (measuredSlices.max + 1) * perSlice
  }

  /** Slices of an open loop are not independent (a batch can straddle
    * two), so the charge is the mean over the measured slices. */
  override def perUnit(unitCpu: Seq[Double]): Double = unitCpu.sum / unitCpu.length

  override def latenciesMs: Seq[Double] =
    measuredIds.flatMap(id => Option(outcomes.get(id.toLong)).map(o => (o.head._2 - due(id)) / 1e6))

  override def layerMetrics(units: Int): Seq[(String, Double)] = {
    val ps = query.recentProgress.toSeq.slice(progressFrom, progressTo)
    val late = measuredIds.flatMap(id => Option(written.get(id.toLong)).map(w => (w - due(id)) / 1e6))
    val u = units.toDouble
    Layers.logSize((logAtEnd._1 - logAtStart._1) / u, (logAtEnd._2 - logAtStart._2) / u) ++
      Layers.source(ps, u) ++ Layers.state(ps, u) ++
      Seq("live.gen_late_ms_p99" -> (if (late.isEmpty) 0.0 else Stats.quantile(late, 0.99)),
        "live.backlog_max" -> backlogMax.toDouble)
  }

  override def close(): Unit = TransportRegistry.unregister(readerName)
}
