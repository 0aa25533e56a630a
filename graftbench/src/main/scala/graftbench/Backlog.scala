package graftbench

import graft.streaming.{BatchingSink, FileRecordWriter, FileShardReader, ShardedLog, ToRecord, TransportRegistry}
import java.nio.file.{Files, Path}
import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.streaming.{StreamingQueryProgress, Trigger}
import scala.collection.mutable
import scala.jdk.CollectionConverters._

/** ingest_backlog: a closed loop. Each round writes a fixed backlog
  * through BatchingSink over the file transport (one sink per partition
  * of a Spark job), splits every shard halfway, and drains the round
  * from trim_horizon through the ShardedLog source under
  * Trigger.AvailableNow. A unit is one round; an operation is one
  * record.
  */
object Backlog {
  val Records = 3000
  val Keys = 64
  val KeySkew = 1.2
  val PadMean = 120
  val WritePartitions = 4
  val ShardsBefore = 4
  val ShardsAfter = 8
  val MaxFilesPerTrigger = 4
  val ThrottleShare = 0.03
  val ClientErrorShare = 0.01

  /** One generated record: `phase` 0 is written before the split, 1 after. */
  final case class Rec(id: Long, key: String, kseq: Int, payload: String, phase: Int)

  /** Zipf-skewed key choice: key k has weight 1 / (k + 1)^KeySkew. */
  private val keyCdf: Array[Double] = {
    val w = (0 until Keys).map(k => 1.0 / math.pow(k + 1, KeySkew))
    w.scanLeft(0.0)(_ + _).tail.map(_ / w.sum).toArray
  }

  def pad(seed: Long, id: Long): String = {
    val len = PadMean / 2 + (Rng.long(seed, 0x9AD, id) & 0x7fffffffL).toInt % PadMean
    val sb = new StringBuilder(len)
    var i = 0
    while (i < len) { sb.append(('a' + (Rng.long(seed, 0xC4A + i, id) & 0x7fffffffL) % 26).toChar); i += 1 }
    sb.toString
  }

  def round(seed: Long, r: Int): Vector[Rec] = {
    val kseq = mutable.Map.empty[String, Int].withDefaultValue(0)
    (0 until Records).map { i =>
      val id = r.toLong * Records + i
      val u = Rng.unit(seed, 0x7E7, id)
      val pos = java.util.Arrays.binarySearch(keyCdf, u)
      val k = "k" + math.min(if (pos >= 0) pos else -pos - 1, Keys - 1)
      val q = kseq(k) + 1
      kseq(k) = q
      Rec(id, k, q, s"$id|$k|$q|${pad(seed, id)}", if (i < Records / 2) 0 else 1)
    }.toVector
  }

  def shardOf(key: String, shards: Int): String = "shard-" + math.floorMod(key.hashCode, shards)

  /** What one round left for the checks: the sink's results, the
    * acknowledged order, the drained (shard, payload) pairs. */
  final case class RoundOut(
      recs: Vector[Rec], left: Vector[Long], right: Vector[Long], acked: Vector[Long],
      delivered: Vector[(String, String)], latencyMs: Double, measured: Boolean,
      progress: Seq[StreamingQueryProgress], files: Long, bytes: Long)
}

final class Backlog(spark: SparkSession, args: Main.Args) extends Workload {
  import Backlog._
  import spark.implicits._

  private val inj = Injection(args.seed, ClientErrorShare, ThrottleShare)
  private val base = args.work.resolve("backlog")

  private val rounds = mutable.ArrayBuffer.empty[RoundOut]
  private var firstRound: Vector[Rec] = _

  override def open(): Unit = {
    Files.createDirectories(base)
    firstRound = round(args.seed, 0)
  }

  private def write(root: Path, recs: Seq[Rec], shards: Int, tallyKey: String): Seq[(Long, Boolean)] = {
    val rootStr = root.toString
    val inj = this.inj
    val trace = Trace.on
    spark.sparkContext.parallelize(recs.map(r => (r.key, r.payload)), WritePartitions)
      .mapPartitions { it =>
        implicit val rec: ToRecord[(String, String)] = ToRecord.instance(_._1, p => Bytes.utf8(p._2))
        val file = new FileRecordWriter(rootStr, shards)
        val writer = new InjectingWriter(TimedWriter.wrap(file, trace), tallyKey, inj)
        BatchingSink.over[(String, String)](writer, sleeper = Tally.sleeper)
          .run(it)
          .map {
            case Right((_, p)) => (Tally.idOf(Bytes.utf8(p)), true)
            case Left(BatchingSink.PutError((_, p), _)) => (Tally.idOf(Bytes.utf8(p)), false)
          }
      }.collect().toSeq
  }

  private def drain(root: Path, ckpt: Path): (Vector[(String, String)], Long, Seq[StreamingQueryProgress]) = {
    val got = mutable.ArrayBuffer.empty[(String, String)]
    var lastNs = 0L
    val reader = spark.readStream.format(ShardedLog.Format)
      .option("startingPosition", "trim_horizon")
      .option("maxFilesPerTrigger", MaxFilesPerTrigger.toString)
    val src = if (Trace.on) {
      val name = "graftbench-" + root.getFileName
      TransportRegistry.register(name, new TimedReader(new FileShardReader(root.toString)))
      reader.option("transport", name).load()
    } else reader.option("path", root.toString).load()
    val q = src.select($"shard", $"value").writeStream
      .trigger(Trigger.AvailableNow())
      .option("checkpointLocation", ckpt.toString)
      .foreachBatch { (df: DataFrame, _: Long) =>
        got ++= df.as[(String, String)].collect()
        lastNs = System.nanoTime()
      }
      .start()
    q.awaitTermination()
    (got.toVector, lastNs, q.recentProgress.toSeq)
  }

  override def unit(i: Int, measured: Boolean): Unit = {
    val recs = if (i == 0) firstRound else round(args.seed, i)
    val dir = base.resolve(s"round-$i")
    val root = dir.resolve("log")
    val keys = Seq(s"bl-$i-a", s"bl-$i-b")
    val t0 = System.nanoTime()
    val (before, after) = recs.partition(_.phase == 0)
    val res1 = Trace.span("write.before_split")(write(root, before, ShardsBefore, keys(0)))
    Trace.span("split") {
      (0 until ShardsBefore).foreach(p =>
        ShardedLog.declareParent(root, s"shard-${p + ShardsBefore}", s"shard-$p"))
    }
    val res2 = Trace.span("write.after_split")(write(root, after, ShardsAfter, keys(1)))
    val (delivered, lastNs, progress) = Trace.span("drain")(drain(root, dir.resolve("ckpt")))
    val latencyMs = (lastNs - t0) / 1e6
    val (files, bytes) = if (Trace.on) LogSize(root) else (0L, 0L)
    val res = res1 ++ res2
    rounds += RoundOut(recs, res.filterNot(_._2).map(_._1).toVector, res.filter(_._2).map(_._1).toVector,
      keys.flatMap(k => Tally(k).acked.asScala.map(_.longValue)).toVector, delivered, latencyMs,
      measured, progress, files, bytes)
    keys.foreach(Tally.drop)
    TransportRegistry.unregister("graftbench-" + root.getFileName)
    deleteTree(dir)
  }

  private def deleteTree(p: Path): Unit =
    if (Files.exists(p)) {
      val s = Files.walk(p)
      try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
      finally s.close()
    }

  /** Applies an injected fault to the delivered records (fault mode). */
  private def faulted(d: Vector[(String, String)], measured: Boolean): Vector[(String, String)] =
    if (!measured) d else args.fault match {
    case Some("drop") => d.tail
    case Some("dup") => d :+ d.head
    case Some("reorder") =>
      val byKey = d.zipWithIndex.groupBy(_._1._2.split('|')(1)).values.find(_.length >= 2).get
      val (a, b) = (byKey(0)._2, byKey(1)._2)
      d.updated(a, d(b)).updated(b, d(a))
    case _ => d
  }

  /** Failed record ids of one round, checked against the generator's tally. */
  private def failures(r: RoundOut): Set[Long] = {
    val bad = mutable.Set.empty[Long]
    val byId = r.recs.map(x => x.id -> x).toMap
    // Left holds exactly the client-error ids
    val expectLeft = r.recs.filter(x => inj.clientError(x.id)).map(_.id).toSet
    bad ++= (r.left.toSet diff expectLeft) ++ (expectLeft diff r.left.toSet)
    // every other id is acknowledged once, throttled ids after their requeue
    val rightCount = r.right.groupBy(identity).map { case (k, v) => k -> v.size }
    val ackCount = r.acked.groupBy(identity).map { case (k, v) => k -> v.size }
    r.recs.filterNot(x => expectLeft(x.id)).foreach { x =>
      if (rightCount.getOrElse(x.id, 0) != 1 || ackCount.getOrElse(x.id, 0) != 1) bad += x.id
    }
    // the drained multiset equals the acknowledged ids
    val delivered = faulted(r.delivered, r.measured).map { case (shard, v) => (shard, Tally.idOf(Bytes.utf8(v)), v) }
    val dCount = delivered.groupBy(_._2).map { case (k, v) => k -> v.size }
    ackCount.foreach { case (id, n) => if (dCount.getOrElse(id, 0) != n) bad += id }
    dCount.keys.foreach(id => if (!ackCount.contains(id)) bad += id)
    // each record sits in the shard its key hashed to, with its payload intact
    delivered.foreach { case (shard, id, v) =>
      byId.get(id) match {
        case Some(x) =>
          val shards = if (x.phase == 0) ShardsBefore else ShardsAfter
          if (shard != shardOf(x.key, shards) || v != x.payload) bad += id
        case None => bad += id
      }
    }
    // each key's records arrive in written (acknowledged) order across the split
    val ackPos = r.acked.zipWithIndex.toMap
    delivered.filter(d => byId.contains(d._2) && ackPos.contains(d._2))
      .groupBy(d => byId(d._2).key).values.foreach { ds =>
        var last = -1
        ds.foreach { case (_, id, _) =>
          val p = ackPos(id)
          if (p < last) bad += id
          last = math.max(last, p)
        }
      }
    bad.toSet
  }

  override def check(): Check = {
    val perRound = rounds.map(r => r -> failures(r))
    val measured = perRound.filter(_._1.measured)
    Check(
      attempted = measured.map(_._1.recs.length.toLong).sum,
      failed = measured.map(_._2.size.toLong).sum,
      warmFailed = perRound.filterNot(_._1.measured).map(_._2.size.toLong).sum,
      problems = perRound.flatMap { case (r, bad) =>
        bad.toSeq.sorted.take(5).map(id => s"round of ${r.recs.head.id}: record $id failed")
      }.toSeq)
  }

  override def latenciesMs: Seq[Double] = rounds.filter(_.measured).map(_.latencyMs).toSeq

  override def layerMetrics(units: Int): Seq[(String, Double)] = {
    val m = rounds.filter(_.measured).toSeq
    val u = units.toDouble
    Layers.logSize(m.map(_.files).sum / u, m.map(_.bytes).sum / u) ++
      Layers.source(m.flatMap(_.progress), u)
  }
}
