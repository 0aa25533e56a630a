package graftbench

import graft.streaming.{BatchingSink, RecordWriter, ShardReader, Transport}
import java.nio.charset.StandardCharsets
import java.util.concurrent.ConcurrentLinkedQueue
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Seeded, per-record pseudo-randomness: a value depends only on
  * (seed, salt, index), never on call order. */
object Rng {
  private def mix(z0: Long): Long = {
    var z = z0 + 0x9E3779B97F4A7C15L
    z = (z ^ (z >>> 30)) * 0xBF58476D1CE4E5B9L
    z = (z ^ (z >>> 27)) * 0x94D049BB133111EBL
    z ^ (z >>> 31)
  }
  def long(seed: Long, salt: Long, i: Long): Long = mix(mix(seed * 31 + salt) + i)
  def unit(seed: Long, salt: Long, i: Long): Double =
    (long(seed, salt, i) >>> 11) * (1.0 / (1L << 53))
}

/** What the injecting writer answers for each record. Decided by the
  * record id alone, so a requeued record meets the same decision rule. */
final case class Injection(seed: Long, clientErrorShare: Double, throttleShare: Double) {
  private def u(id: Long) = Rng.unit(seed, 0x1AB, id)
  def clientError(id: Long): Boolean = u(id) < clientErrorShare
  def throttled(id: Long): Boolean = {
    val x = u(id)
    x >= clientErrorShare && x < clientErrorShare + throttleShare
  }
}

/** The sink-side tally of one write phase: the records answered with a
  * throttle, and the order in which records were acknowledged. */
final class Tally {
  val throttledOnce: java.util.Set[Long] = java.util.concurrent.ConcurrentHashMap.newKeySet[Long]()
  val acked = new ConcurrentLinkedQueue[java.lang.Long]()
}

object Tally {
  private val tallies = TrieMap.empty[String, Tally]
  def apply(key: String): Tally = tallies.getOrElseUpdate(key, new Tally)
  def drop(key: String): Unit = tallies.remove(key)
  /** The sleeper handed to BatchingSink: it adds up requested pauses
    * and never sleeps. */
  val sleeper: Long => Unit = ms => Trace.add("sink.backoff_ms", ms.toDouble)
  /** Every payload starts with its record id and a '|'. */
  def idOf(payload: Array[Byte]): Long = {
    var i = 0
    var v = 0L
    while (payload(i) != '|') { v = v * 10 + (payload(i) - '0'); i += 1 }
    v
  }
}

/** A [[RecordWriter]] that answers a seeded share of records with a
  * client error and a seeded share with the throttle code (once per
  * record), and passes the rest to `inner`. It is the sink layer's
  * measuring point and the source of the generator's tally. */
final class InjectingWriter(inner: RecordWriter, tallyKey: String, inj: Injection)
    extends RecordWriter {
  override def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] = {
    val t = Tally(tallyKey)
    Trace.add("sink.flushes", 1)
    Trace.add("sink.records", records.length)
    val codes = records.map { case (_, p) =>
      val id = Tally.idOf(p)
      if (inj.clientError(id)) Some("InvalidArgumentException")
      else if (inj.throttled(id) && t.throttledOnce.add(id)) Some(BatchingSink.ThrottledCode)
      else None
    }
    val pass = records.zip(codes).collect { case (r, None) => r }
    if (pass.nonEmpty) {
      val res = inner.putRecords(pass)
      require(res.forall(_.errorCode.isEmpty), s"inner writer failed: $res")
      pass.foreach { case (_, p) => t.acked.add(Tally.idOf(p)) }
      Trace.add("sink.acked", pass.length)
    }
    codes.foreach {
      case Some(BatchingSink.ThrottledCode) => Trace.add("sink.requeued", 1)
      case Some(_) => Trace.add("sink.dead_letter", 1)
      case None =>
    }
    codes.map(BatchingSink.PutResult(_))
  }
}

/** Transport-layer timing around a [[RecordWriter]] (traced runs only):
  * every put call's duration, in call order. */
final class TimedWriter(inner: RecordWriter) extends RecordWriter {
  override def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] =
    Trace.span("transport.put") {
      val t0 = System.nanoTime()
      val r = inner.putRecords(records)
      val ms = (System.nanoTime() - t0) / 1e6
      Trace.add("transport.put_calls", 1)
      Trace.add("transport.put_ms", ms)
      if (Trace.measuring) Trace.record("transport.put_ms", ms)
      r
    }
}

object TimedWriter {
  /** The writer itself, or timed when tracing is on. */
  def wrap(w: RecordWriter, trace: Boolean): RecordWriter = if (trace) new TimedWriter(w) else w
}

/** Transport-layer timing around a [[ShardReader]] (traced runs only),
  * registered with graft's TransportRegistry so the source reads
  * through it. Reads are timed over the call and the iteration. */
final class TimedReader(inner: ShardReader) extends ShardReader {
  override def describeShards(): Seq[Transport.ShardInfo] = Trace.span("transport.describe") {
    val t0 = System.nanoTime()
    val r = inner.describeShards()
    Trace.add("transport.describe_calls", 1)
    Trace.add("transport.describe_ms", (System.nanoTime() - t0) / 1e6)
    r
  }
  override def maxSequence(shard: String): Long = inner.maxSequence(shard)
  override def sequenceAtTimestamp(shard: String, tsUs: Long): Long =
    inner.sequenceAtTimestamp(shard, tsUs)
  override def read(shard: String, afterSeq: Long, toSeq: Long): Iterator[Transport.Rec] = {
    Trace.add("transport.read_calls", 1)
    val t0 = System.nanoTime()
    val it = inner.read(shard, afterSeq, toSeq)
    Trace.add("transport.read_ms", (System.nanoTime() - t0) / 1e6)
    new Iterator[Transport.Rec] {
      override def hasNext: Boolean = {
        val t = System.nanoTime()
        val r = it.hasNext
        Trace.add("transport.read_ms", (System.nanoTime() - t) / 1e6)
        r
      }
      override def next(): Transport.Rec = {
        val t = System.nanoTime()
        val r = it.next()
        Trace.add("transport.read_ms", (System.nanoTime() - t) / 1e6)
        Trace.add("transport.read_records", 1)
        r
      }
    }
  }
}

/** Record files and bytes of a sharded log (`<root>/<shard>/<seq>.rec`).
  * Safe while a writer runs: temporary files are skipped. */
object LogSize {
  private def list(dir: java.nio.file.Path): Seq[java.nio.file.Path] = {
    val s = java.nio.file.Files.list(dir)
    try s.iterator().asScala.toVector finally s.close()
  }
  def apply(root: java.nio.file.Path): (Long, Long) =
    if (!java.nio.file.Files.isDirectory(root)) (0L, 0L)
    else {
      val files = list(root).filter(java.nio.file.Files.isDirectory(_)).flatMap(list)
        .filter { p =>
          val n = p.getFileName.toString
          !n.startsWith(".") && (n.endsWith(".rec") || n.endsWith(".recb"))
        }
      (files.length.toLong, files.map(java.nio.file.Files.size).sum)
    }
}

object Bytes {
  def utf8(s: String): Array[Byte] = s.getBytes(StandardCharsets.UTF_8)
}
