package graft.streaming

import java.nio.charset.StandardCharsets
import java.nio.file.{FileAlreadyExistsException, Files, Path, Paths}
import java.util.concurrent.ConcurrentHashMap
import scala.collection.concurrent.TrieMap

/** The injectable client seam — "bring your own transport".
  *
  * The reference makes its AWS client pluggable on both sides: the sink
  * takes a bare function (`type PutRecords = PutRecordsRequest =>
  * PutRecordsResult`, reference KinesisGraphStage.scala:20, injected at
  * KinesisGraphStage.scala:28-30 via `client.putRecords`), and the
  * source drives a three-call client surface — describeStream (shard
  * list with parent/adjacent-parent links, KinesisSource.scala:115-141),
  * getShardIterator (position → cursor, KinesisSource.scala:85-109) and
  * getRecords (cursor-bounded fetch, KinesisSource.scala:255-258).
  *
  * graft mirrors that seam so a user can swap the local sharded-log
  * transport for a real client without touching any operator:
  *
  *   - [[RecordWriter]] is the sink-side function surface; an AWS
  *     adapter is one line (`recs => client.putRecords(toRequest(recs))
  *     .getRecords.asScala.map(r => PutResult(Option(r.getErrorCode)))`),
  *     and [[BatchingSink.over]] runs the full buffer/flush/requeue/
  *     backoff machinery against it unchanged.
  *   - [[ShardReader]] is the source-side surface, re-keyed from opaque
  *     string iterators to explicit per-shard sequence numbers because
  *     that is what a replayable Spark offset must serialize anyway
  *     (the reference's iterator-reissue dance, KinesisSource.scala:
  *     43-65, exists precisely to recover a resumable position — a
  *     sequence range IS that position, checkpoint-durable). An AWS
  *     adapter maps describeShards → DescribeStream,
  *     sequenceAtTimestamp → GetShardIterator(AT_TIMESTAMP),
  *     read → GetShardIterator(AFTER_SEQUENCE_NUMBER) + GetRecords loop.
  *   - [[FileShardReader]] (the sharded-log layout) and
  *     [[InMemoryTransport]] (both sides, for tests) are the built-in
  *     implementations; `ShardedLogMicroBatchStream` itself compiles
  *     against the trait only.
  *
  * Implementations must be Serializable: the reader instance rides into
  * executor tasks inside the input partition. A real-client adapter
  * should hold its client `@transient lazy` and reconstruct it per JVM —
  * the same discipline as any DSv2 source.
  */
object Transport {

  /** One delivered record: per-shard sequence + arrival timestamp — the
    * fields the reference reads off its Record (sequence number,
    * KinesisSource.scala:59-63; ApproximateArrivalTimestamp analog,
    * see ShardedLog's at_timestamp note).
    *
    * Payload fidelity: the reference is "serialisation format agnostic"
    * and delivers raw ByteBuffers (reference KinesisSource.scala:68-70),
    * so a record IS its payload bytes. [[value]] is the UTF-8 text view
    * derived from them — lossy for non-UTF-8 bytes, the convenient
    * column for the overwhelmingly-text pipelines. */
  final case class Rec(shard: String, seq: Long, payload: Array[Byte], tsUs: Long) {
    def value: String = new String(payload, StandardCharsets.UTF_8)

    // The synthesized case-class equals/hashCode would compare `payload`
    // by ARRAY REFERENCE — two Recs with identical payloads would be
    // unequal, a silent trap for any equality/dedup use. Compare payload
    // CONTENT instead.
    override def equals(other: Any): Boolean = other match {
      case r: Rec =>
        shard == r.shard && seq == r.seq && tsUs == r.tsUs &&
          java.util.Arrays.equals(payload, r.payload)
      case _ => false
    }
    override def hashCode(): Int =
      java.util.Objects.hash(shard, Long.box(seq), Long.box(tsUs),
        Int.box(java.util.Arrays.hashCode(payload)))
  }

  /** Shard identity with reshard parentage — the reference's
    * parentShardId + adjacentParentShardId pair
    * (KinesisSource.scala:135-141): one parent = split child, two
    * parents = merge child, none = original shard — and `maxSeq`, the
    * shard's frontier (highest sequence present, 0 when empty) as of
    * this describeShards call. Every reader fills it, so the driver
    * admits a micro-batch from ONE client call per trigger, as the
    * reference gets shard metadata from a single describeStream, never
    * one maxSequence call per shard (the N+1 that multiplies API
    * traffic for a remote client at high shard counts). */
  final case class ShardInfo(shardId: String, parents: Seq[String], maxSeq: Long)
}

/** Source-side client surface (see [[Transport]]). All methods are
  * driver-side except [[ShardReader.read]], which runs in executor
  * tasks. */
trait ShardReader extends Serializable {

  /** Current shards with their declared reshard parents — the
    * describeStream call (reference KinesisSource.scala:115-141). Called
    * once per trigger, from the source's `latestOffset` (its
    * `reportLatestOffset` reuses that answer), so discovery of
    * split/merge children is continuous, as in the reference's
    * handleReshard (KinesisSource.scala:229-235); plus once at query
    * start. A Trigger.AvailableNow run describes once for its snapshot,
    * then once per batch until the snapshot is drained. */
  def describeShards(): Seq[Transport.ShardInfo]

  /** Highest sequence currently present in `shard` (0 when empty): one
    * shard's frontier on its own. The source takes every frontier from
    * [[describeShards]] (`ShardInfo.maxSeq`) instead. */
  def maxSequence(shard: String): Long

  /** Highest sequence whose record arrived strictly before `tsUs`
    * (0 if none) — GetShardIterator(AT_TIMESTAMP)
    * (reference KinesisSource.scala:99-102). */
  def sequenceAtTimestamp(shard: String, tsUs: Long): Long

  /** Records with `afterSeq < seq <= toSeq`, in ascending sequence
    * order — the per-shard ordering guarantee. The AFTER_SEQUENCE_NUMBER
    * + GetRecords loop (reference KinesisSource.scala:55-65, 255-258). */
  def read(shard: String, afterSeq: Long, toSeq: Long): Iterator[Transport.Rec]

  /** Everything at or below `upTo` is committed — a reader holding
    * per-position state (the Kinesis adapter's sequence ledger) may
    * release it, KEEPING position `upTo` itself as the resume anchor.
    * Called from the stream's `commit(end)`; default no-op for readers
    * whose positions are self-describing (files, in-memory log). */
  def prune(shard: String, upTo: Long): Unit = ()
}

/** Sink-side client surface — the reference's injectable
  * `PutRecordsRequest => PutRecordsResult` (KinesisGraphStage.scala:20)
  * with the request/response flattened to (partitionKey, payload) pairs
  * and per-record [[BatchingSink.PutResult]]s (errorCode None = ok;
  * [[BatchingSink.ThrottledCode]] triggers the sink's requeue +
  * self-throttle path). Must return exactly one result per record, in
  * order, as the AWS API does. */
trait RecordWriter extends Serializable {
  def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult]
}

/** Name → reader registry so a transport can be injected through DSv2's
  * string-only options map: `readStream.format(ShardedLog.Format)
  * .option("transport", name)`. Driver-side resolution only (the
  * resolved instance then travels inside partitions). */
object TransportRegistry {
  private val readers = TrieMap.empty[String, ShardReader]
  def register(name: String, reader: ShardReader): Unit = readers.put(name, reader)
  def unregister(name: String): Unit = readers.remove(name)
  private[streaming] def get(name: String): ShardReader =
    readers.getOrElse(name, throw new IllegalArgumentException(
      s"no transport registered under '$name' — call TransportRegistry.register first"))
}

/** [[ShardReader]] over the sharded-log file layout
  * (`<root>/<shard>/<seq>.recb`, [[ShardedLog]]) — the local, durable,
  * default transport. Serializable: carries only the root path string;
  * all IO goes through ShardedLog's retrying, taxonomy-aware readers. */
final class FileShardReader(rootStr: String) extends ShardReader {
  private def root: Path = Paths.get(rootStr)

  override def describeShards(): Seq[Transport.ShardInfo] =
    ShardedLog.listShards(root).map { d =>
      val name = d.getFileName.toString
      Transport.ShardInfo(name, ShardedLog.parentsOf(root, name),
        maxSeq = ShardedLog.maxSeq(d))
    }

  override def maxSequence(shard: String): Long = ShardedLog.maxSeq(root.resolve(shard))

  override def sequenceAtTimestamp(shard: String, tsUs: Long): Long = {
    val dir = root.resolve(shard)
    if (!Files.isDirectory(dir)) 0L
    // takeWhile over the seq-ascending listing: file mtimes are
    // monotone with seq in an append-only log, and stopping at the
    // first at-or-after match mirrors the reference's "read from the
    // first record at or after the timestamp"
    else ShardedLog.listFiles(dir).takeWhile(_._3 < tsUs)
      .lastOption.map(_._1).getOrElse(0L)
  }

  /** One names-only listing of the shard; only the files in the range
    * are stat'ed, for the arrival timestamp (`ts`). */
  override def read(shard: String, afterSeq: Long, toSeq: Long): Iterator[Transport.Rec] =
    ShardedLog.listSeqs(root.resolve(shard)).iterator
      .filter { case (seq, _) => seq > afterSeq && seq <= toSeq }
      .flatMap { case (seq, p) =>
        val mtUs = ShardedLog.mtimeUs(p)
        ShardedLog.readRecPayloads(p).map(Transport.Rec(shard, seq, _, mtUs))
      }
}

/** Sink-side [[RecordWriter]] over the sharded-log file layout — the
  * durable local counterpart of [[FileShardReader]]: hash-routes each
  * partition key to one of `numShards` shard directories (the same
  * key→shard affinity contract as Kinesis partition keys) and appends
  * one record file per flush per shard (written under a temp name, then
  * published whole, so a concurrently tailing reader never observes a
  * torn file). With [[BatchingSink.over]] on top this is the full
  * reference sink semantics against local durable storage.
  *
  * Concurrency: each instance allocates sequences per shard from its
  * own counter, seeded once from a names-only listing of the shard, so
  * a put costs O(records) and never lists. Under the shard's lock the
  * flush is published at `last + 1` with a hard link, which fails on an
  * existing name instead of replacing it ([[ShardedLog.link]]). A
  * collision means another writer (another instance, another JVM
  * sharing the root, or a direct [[ShardedLog.append]]) took that
  * sequence: the counter is re-seeded from a listing and the publish
  * retried. Nothing is overwritten, and since a writer publishes `n+1`
  * only once `n` exists, a reader that admits up to `n+1` never skips
  * `n`. Payload contract: each payload is written as one length-prefixed
  * frame of its exact bytes, whatever they hold (the writer never looks
  * at them) — the reference's format-agnostic ByteBuffer contract
  * (reference KinesisSource.scala:68-70). */
final class FileRecordWriter(rootStr: String, numShards: Int = 4) extends RecordWriter {
  /** Per shard: the last sequence this instance published or saw (-1
    * until seeded). The slot is also the shard's lock. */
  @transient private lazy val slots = new ConcurrentHashMap[String, FileRecordWriter.Slot]()

  override def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] = {
    val root = Paths.get(rootStr)
    records.groupBy { case (k, _) => "shard-" + math.floorMod(k.hashCode, numShards) }
      .foreach { case (shard, recs) =>
        val slot = slots.computeIfAbsent(shard, _ => new FileRecordWriter.Slot)
        // the lock spans staging too, so one instance's files keep
        // mtimes monotone with their sequence (at_timestamp relies on it)
        slot.synchronized {
          ShardedLog.staged(root, shard, ShardedLog.writeFrames(recs.map(_._2))) { (dir, tmp) =>
            if (slot.last < 0) slot.last = ShardedLog.maxSeq(dir)
            var published = false
            while (!published) {
              try { ShardedLog.link(dir, tmp, slot.last + 1); published = true }
              catch {
                case _: FileAlreadyExistsException => slot.last = ShardedLog.maxSeq(dir)
              }
            }
            slot.last += 1
          }
        }
      }
    records.map(_ => BatchingSink.PutResult(None))
  }
}

object FileRecordWriter {
  private final class Slot { var last: Long = -1L }
}

/** Both transport sides over a JVM-local in-memory log — the test fake
  * that proves the adapter path end-to-end: records written through
  * [[BatchingSink.over]] become readable by a real Structured Streaming
  * query via `option("transport", id)`, no filesystem involved.
  *
  * Data lives in a JVM-static registry keyed by `id`, so a copy
  * deserialized into a local-mode task re-attaches to the same log —
  * the in-memory stand-in for how a real adapter reconstructs its
  * client per JVM (single-JVM test transport; a distributed deploy
  * needs a reader whose backing store is reachable from executors,
  * which a real client adapter is by construction).
  *
  * @param clock arrival-timestamp source in micros, injectable so specs
  *              are deterministic (the server-side
  *              ApproximateArrivalTimestamp analog). */
final class InMemoryTransport(
    val id: String,
    numShards: Int = 4,
    clock: () => Long = () => System.currentTimeMillis() * 1000L)
  extends ShardReader with RecordWriter {
  import InMemoryTransport._

  register(id)

  /** Append directly to a named shard, bypassing hash routing — for
    * reshard tests, where a split/merge child needs records of its own. */
  def append(shard: String, value: String): Unit = {
    val log = logs(id)
    log.synchronized {
      val cur = log.shards.getOrElse(shard, Vector.empty)
      log.shards(shard) = cur :+ Transport.Rec(
        shard, cur.length + 1L, value.getBytes(StandardCharsets.UTF_8), clock())
    }
  }

  /** Reshard declaration, mirroring ShardedLog.declareParents. */
  def declareParents(child: String, parents: Seq[String]): Unit = {
    require(parents.nonEmpty, "declareParents needs at least one parent")
    val log = logs(id)
    log.synchronized {
      log.shards.getOrElseUpdate(child, Vector.empty)
      log.parents(child) = parents.toVector
    }
  }

  override def putRecords(records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] = {
    val log = logs(id)
    log.synchronized {
      records.foreach { case (key, payload) =>
        val shard = "shard-" + math.floorMod(key.hashCode, numShards)
        val cur = log.shards.getOrElse(shard, Vector.empty)
        log.shards(shard) = cur :+ Transport.Rec(shard, cur.length + 1L, payload, clock())
      }
    }
    records.map(_ => BatchingSink.PutResult(None))
  }

  override def describeShards(): Seq[Transport.ShardInfo] = {
    val log = logs(id)
    log.synchronized {
      log.shards.keys.toSeq.sorted.map(s =>
        Transport.ShardInfo(s, log.parents.getOrElse(s, Vector.empty),
          maxSeq = log.shards(s).length.toLong))
    }
  }

  override def maxSequence(shard: String): Long = {
    val log = logs(id)
    log.synchronized(log.shards.getOrElse(shard, Vector.empty).length.toLong)
  }

  override def sequenceAtTimestamp(shard: String, tsUs: Long): Long = {
    val log = logs(id)
    log.synchronized(log.shards.getOrElse(shard, Vector.empty)
      .takeWhile(_.tsUs < tsUs).lastOption.map(_.seq).getOrElse(0L))
  }

  override def read(shard: String, afterSeq: Long, toSeq: Long): Iterator[Transport.Rec] = {
    val log = logs(id)
    // snapshot under the lock; the iterator itself then needs no lock
    log.synchronized(log.shards.getOrElse(shard, Vector.empty)
      .filter(r => r.seq > afterSeq && r.seq <= toSeq)).iterator
  }
}

object InMemoryTransport {
  private final class Log {
    val shards = scala.collection.mutable.Map.empty[String, Vector[Transport.Rec]]
    val parents = scala.collection.mutable.Map.empty[String, Vector[String]]
  }
  private val logs = TrieMap.empty[String, Log]
  private def register(id: String): Unit = logs.getOrElseUpdate(id, new Log)
  /** Drop a fake's backing log (test cleanup). */
  def drop(id: String): Unit = logs.remove(id)
}
