package graft.streaming

import graft.util.Retry
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** Kinesis adapter sample on the [[Transport]] seam — the mapping the
  * reference implements natively (KinesisSource.scala, KinesisGraphStage
  * .scala), expressed against graft's injectable client surface:
  *
  *   - describeStream → [[ShardReader.describeShards]] (shard topology
  *     with parentShardId + adjacentParentShardId, reference
  *     KinesisSource.scala:115-141 — one parent = split child, two =
  *     merge child; the reshard gate in ShardedLogMicroBatchStream then
  *     orders parents before children exactly as the reference's
  *     ancestor walk does);
  *   - getShardIterator/getRecords → [[ShardReader.read]] (the
  *     AFTER_SEQUENCE_NUMBER + GetRecords loop, reference
  *     KinesisSource.scala:55-65, 255-258, with the reference's error
  *     taxonomy at :290-302: expired iterators reissued, throttling and
  *     service errors retried with backoff, client errors thrown — they
  *     are bugs in the caller);
  *   - putRecords → [[RecordWriter.putRecords]] (per-record error codes
  *     pass straight into [[BatchingSink]]'s requeue/dead-letter
  *     routing, reference KinesisGraphStage.scala:110-125).
  *
  * The AWS SDK is NOT a dependency: [[KinesisPort]] states the client
  * surface in plain data, and [[ReflectiveKinesisPort]] binds it to an
  * SDK-v1-shaped client instance by reflection at runtime — a user with
  * `aws-java-sdk-kinesis` on the classpath passes
  * `() => AmazonKinesisClientBuilder.defaultClient()` and nothing here
  * recompiles; the offline suite binds the identical plumbing to stub
  * classes with the SDK's method surface, so the mapping itself is
  * tested without network or SDK jars.
  *
  * Sequence-number bridge: Kinesis sequence numbers are opaque ~56-digit
  * decimal strings, while the seam's replayable offsets are dense Longs.
  * [[KinesisShardReader]] maintains a per-shard LEDGER mapping dense
  * position → (sequence string, arrival µs): the driver's per-trigger
  * frontier poll appends to it (sequence metadata only — payloads are
  * not retained driver-side), executor tasks use it to anchor their
  * AFTER_SEQUENCE_NUMBER fetch, and [[ShardReader.prune]] (called on
  * micro-batch commit) releases everything below the committed frontier,
  * so the ledger is bounded by the unconsumed backlog, not the stream's
  * history. On a fresh driver the ledger rebuilds from TRIM_HORIZON
  * (positions are reproducible because per-shard order is stable);
  * records aged out of the retention window shift the dense positions —
  * the same trim caveat as any replayable source, which a production
  * deployment closes by persisting the ledger base next to the
  * checkpoint.
  */
object KinesisPort {
  /** Shard topology row — the reference's Shard fields
    * (KinesisSource.scala:135-141). */
  final case class ShardDesc(
      shardId: String,
      parentShardId: Option[String],
      adjacentParentShardId: Option[String])

  /** One delivered record: opaque sequence string, partition key,
    * payload, server arrival time (ApproximateArrivalTimestamp). */
  final case class KRec(
      sequenceNumber: String,
      partitionKey: String,
      payload: Array[Byte],
      arrivalUs: Long)

  /** One GetRecords page. `nextIterator` None = shard closed (a
    * resharded-away parent); `millisBehindLatest` 0 = caught up. */
  final case class RecordsPage(
      records: Seq[KRec],
      nextIterator: Option[String],
      millisBehindLatest: Long)

  /** Reference error taxonomy (KinesisSource.scala:290-302). Client
    * errors use [[BatchingSink.ClientException]] — the shared fail-fast
    * arm. */
  final class ExpiredIteratorException(message: String)
    extends RuntimeException(message)
  final class ThrottledException(message: String)
    extends RuntimeException(message)
  final class ServiceException(message: String)
    extends RuntimeException(message)
}

/** The Kinesis client surface in plain data — implement directly (tests,
  * alternative SDKs) or bind reflectively ([[ReflectiveKinesisPort]]).
  * Implementations must be Serializable: the port rides inside
  * [[KinesisShardReader]] into executor tasks; hold any real client
  * `@transient lazy` and rebuild per JVM. */
trait KinesisPort extends Serializable {
  def describeStream(stream: String): Seq[KinesisPort.ShardDesc]

  /** iteratorType: TRIM_HORIZON | LATEST | AFTER_SEQUENCE_NUMBER (with
    * `startSeq`) | AT_TIMESTAMP (with `timestampUs`). */
  def getShardIterator(
      stream: String, shard: String, iteratorType: String,
      startSeq: Option[String], timestampUs: Option[Long]): String

  def getRecords(iterator: String, limit: Int): KinesisPort.RecordsPage

  /** One error-code per record, in order (None = success), exactly as
    * PutRecords responds. */
  def putRecords(
      stream: String, records: Seq[(String, Array[Byte])]): Seq[Option[String]]
}

/** Sink-side adapter: PutRecords behind the [[RecordWriter]] seam.
  * Per-record error codes (including
  * `ProvisionedThroughputExceededException`) flow untouched into
  * [[BatchingSink]]'s requeue/Left-channel routing; a wholesale
  * throttle/service throw is retried by the sink's bounded backoff
  * (its `retryable` excludes only ClientException — the taxonomy). */
final class KinesisRecordWriter(stream: String, port: KinesisPort)
    extends RecordWriter {
  override def putRecords(
      records: Seq[(String, Array[Byte])]): Seq[BatchingSink.PutResult] =
    port.putRecords(stream, records).map(BatchingSink.PutResult)
}

/** Source-side adapter: the reference's describeStream /
  * getShardIterator / getRecords client loop behind the [[ShardReader]]
  * seam, with the dense-position sequence ledger (see [[KinesisPort]]
  * object docs for the design and its bounds).
  *
  * One reader instance serves ONE streaming query: the ledger is
  * pruned by that query's commits, so a second concurrent query
  * sharing the instance could see positions below its own frontier
  * pruned away — it fails loudly on read()'s position check, never
  * silently. Register a fresh instance per query (they share the
  * port/client). */
final class KinesisShardReader(
    stream: String,
    port: KinesisPort,
    pollLimit: Int = 10000,
    maxTries: Int = 7,
    sleeper: Long => Unit = Thread.sleep,
    pollParallelism: Int = 8) extends ShardReader {
  import KinesisPort._

  /** entries(i) = (sequence string, arrival µs) of dense position
    * base+i+1. Driver-appended, executor-read (a serialized snapshot
    * rides in each input partition), commit-pruned. */
  private final case class ShardLedger(base: Long, entries: Vector[(String, Long)]) {
    def end: Long = base + entries.length
    def at(pos: Long): (String, Long) = entries((pos - base - 1).toInt)
  }
  private val ledger = TrieMap.empty[String, ShardLedger]

  /** Driver-side tail cursors (iterator strings are connection state,
    * not position state — never checkpointed, never serialized). */
  @transient private lazy val tailIters = TrieMap.empty[String, String]

  /** Shards observed closed (getRecords returned no next iterator):
    * their frontier is final, so advance() short-circuits. Driver-side
    * cache only — safe to lose on restart (one re-poll rediscovers). */
  @transient private lazy val closedShards =
    java.util.concurrent.ConcurrentHashMap.newKeySet[String]()

  /** Per-shard mutual exclusion for ledger/cursor mutation: shards are
    * independent streams, so locking the whole reader (as advance once
    * did) would serialize the per-trigger frontier poll — the N-shard
    * linear planning latency the reference avoids by pumping each shard
    * concurrently (one stage per shard, KinesisSource.scala:255-258). */
  @transient private lazy val shardLocks = TrieMap.empty[String, Object]
  private def lockFor(shard: String): Object =
    shardLocks.getOrElseUpdate(shard, new Object)

  /** Driver-side frontier-poll pool (daemon threads — the reader has no
    * close() in its lifecycle, so threads must reclaim THEMSELVES:
    * core-thread idle timeout lets every worker die 60 s after the last
    * poll, leaving a reader that is no longer triggered holding zero
    * parked threads — N query restarts accumulate only the empty pool
    * objects, not N × pollParallelism stacks). Only describeShards fans
    * out on it; executor-side read() paths never touch it. */
  @transient private lazy val pollPool = {
    val n = math.max(1, pollParallelism)
    val p = new java.util.concurrent.ThreadPoolExecutor(
      n, n, 60L, java.util.concurrent.TimeUnit.SECONDS,
      new java.util.concurrent.LinkedBlockingQueue[Runnable](),
      (r: Runnable) => {
        val t = new Thread(r, "graft-kinesis-poll")
        t.setDaemon(true)
        t
      })
    p.allowCoreThreadTimeOut(true)
    p
  }

  /** The retryable arm of the taxonomy, shared by getRecords AND
    * getShardIterator — the latter has its own 5-calls/s/shard service
    * cap, so an unretried throttle there would kill a trigger or task
    * on a routine, transient condition. Expired is HANDLED (reissue,
    * reference KinesisSource.scala:293-294), client errors are bugs. */
  private def withTaxonomyRetry[A](body: => A): A =
    Retry.withRetries(
      tries = maxTries,
      onError = Retry.expBackoff(sleeper),
      retryable = t => !t.isInstanceOf[BatchingSink.ClientException] &&
        !t.isInstanceOf[ExpiredIteratorException]) {
      body
    }

  private def getPage(it: String): RecordsPage =
    withTaxonomyRetry(port.getRecords(it, pollLimit))

  /** One page from `it`; an expired iterator is reissued once, by
    * `reissue` (positioned after the caller's last delivered record),
    * and the page is fetched from the fresh one. The caller continues
    * from the page's `nextIterator`, never from the reissued cursor. */
  private def pageOrReissue(it: String)(reissue: => String): RecordsPage =
    try getPage(it)
    catch { case _: ExpiredIteratorException => getPage(reissue) }

  private def getIterator(shard: String, typ: String,
                          startSeq: Option[String],
                          tsUs: Option[Long] = None): String =
    withTaxonomyRetry(port.getShardIterator(stream, shard, typ, startSeq, tsUs))

  private def iteratorAfter(shard: String, lastSeq: Option[String]): String =
    lastSeq match {
      case Some(seq) =>
        getIterator(shard, "AFTER_SEQUENCE_NUMBER", Some(seq))
      case None =>
        getIterator(shard, "TRIM_HORIZON", None)
    }

  /** Poll the shard's tail into the ledger (sequence metadata only) and
    * return the dense frontier. One getRecords loop per trigger per
    * shard, resumed from the cached cursor — the reference's continuous
    * getRecords pump (KinesisSource.scala:255-258) in pull form.
    * Locked PER SHARD, so concurrent polls of different shards (the
    * describeShards fan-out) never serialize. */
  private def advance(shard: String): Long = lockFor(shard).synchronized {
    // a closed shard can never grow: remember closure and stop paying
    // GetShardIterator + GetRecords for it on every trigger (closed
    // parents linger in DescribeStream for the whole retention period —
    // hundreds of shards × every trigger is real throttle budget)
    if (closedShards.contains(shard))
      return ledger.get(shard).map(_.end).getOrElse(0L)
    var led = ledger.getOrElse(shard, ShardLedger(0L, Vector.empty))
    var it = tailIters.getOrElse(shard,
      iteratorAfter(shard, led.entries.lastOption.map(_._1)))
    var open = true
    var caughtUp = false
    while (!caughtUp) {
      val page = pageOrReissue(it)(iteratorAfter(shard, led.entries.lastOption.map(_._1)))
      led = led.copy(entries = led.entries ++
        page.records.map(r => (r.sequenceNumber, r.arrivalUs)))
      page.nextIterator match {
        case Some(n) =>
          it = n
          caughtUp = page.records.isEmpty && page.millisBehindLatest <= 0L
        case None => open = false; caughtUp = true // shard closed
      }
    }
    if (open) tailIters.put(shard, it)
    else { tailIters.remove(shard); closedShards.add(shard): Unit }
    ledger.put(shard, led)
    led.end
  }

  /** One topology call, then the per-shard frontier polls fan out over
    * [[pollPool]]: at hundreds of shards a serial poll makes per-trigger
    * planning latency linear in shard count (and the adapter's former
    * whole-reader lock pinned it there); the reference instead pumps
    * every shard concurrently (KinesisSource.scala:255-258). Order of
    * completion is irrelevant — each shard's frontier is independent. */
  override def describeShards(): Seq[Transport.ShardInfo] = {
    val descs = port.describeStream(stream)
    val futures = descs.map { d =>
      d.shardId -> pollPool.submit(new java.util.concurrent.Callable[Long] {
        override def call(): Long = advance(d.shardId)
      })
    }.toMap
    descs.map { d =>
      val frontier =
        try futures(d.shardId).get()
        catch {
          // surface the poll's own failure type (the taxonomy), not the
          // executor wrapper
          case e: java.util.concurrent.ExecutionException => throw e.getCause
        }
      Transport.ShardInfo(d.shardId,
        (d.parentShardId.toSeq ++ d.adjacentParentShardId).distinct,
        maxSeq = frontier)
    }
  }

  override def maxSequence(shard: String): Long = advance(shard)

  /** Cached (shard, tsUs) → anchor position: per-shard arrival is
    * monotone, so once the stream has reached tsUs (the source caps the
    * timestamp at "now" before asking, reference KinesisSource.scala:
    * 99-102) the leading run of arrivals < tsUs is FINAL — re-scanning
    * sequence metadata from TRIM_HORIZON on every call made the anchor
    * O(retained history) per call at long retention. */
  /** Bounded: ONE (tsUs → anchor) entry per shard. A query's starting
    * timestamp is fixed, so planning re-asks the same tsUs for the
    * life of the stream; a (shard, tsUs)-keyed map would instead grow
    * one permanent entry per distinct timestamp — a slow leak for a
    * long-lived driver whose ad-hoc callers probe moving timestamps.
    * A different tsUs simply evicts the shard's previous anchor. */
  @transient private lazy val tsAnchors = TrieMap.empty[String, (Long, Long)]

  /** The anchor caches ONLY when the scan proved it final — i.e. it
    * saw a record stamped at/after tsUs, which (per-shard arrival
    * stamps are monotone) pins every later record at/after tsUs too.
    * A caught-up scan that ran out of records BEFORE crossing tsUs is
    * NOT final: tsUs is capped at the DRIVER's clock, so under
    * driver-ahead-of-transport clock skew later records can still
    * arrive stamped below it, and a frozen anchor would admit them as
    * if they preceded the timestamp. Those scans are re-run on the
    * next call (cheap while caught up — the scan is O(history) only
    * once; the cache exists for the repeated planning calls a long
    * retention makes expensive). */
  override def sequenceAtTimestamp(shard: String, tsUs: Long): Long =
    tsAnchors.get(shard) match {
      case Some((cachedTs, v)) if cachedTs == tsUs => v
      case _ =>
        val (count, isFinal) = scanAtTimestamp(shard, tsUs)
        if (isFinal) tsAnchors.put(shard, (tsUs, count))
        count
    }

  private def scanAtTimestamp(shard: String, tsUs: Long): (Long, Boolean) = {
    // independent sequence-metadata scan from the trim horizon, so the
    // answer is correct whatever the ledger's prune state (a reader
    // that has already served commits keeps only the unconsumed
    // suffix). Dense positions count from TRIM_HORIZON and per-shard
    // arrival is monotone, so the leading run of arrivals < tsUs IS
    // the position (the same takeWhile semantics as FileShardReader).
    var it: Option[String] =
      Some(getIterator(shard, "TRIM_HORIZON", None))
    var lastSeq: Option[String] = None
    var count = 0L
    var done = false
    var sawAtOrAfter = false // a record >= tsUs makes the anchor final
    while (!done && it.isDefined) {
      val page = pageOrReissue(it.get)(iteratorAfter(shard, lastSeq))
      page.records.foreach { r =>
        if (!done) {
          if (r.arrivalUs < tsUs) count += 1
          else { done = true; sawAtOrAfter = true }
        }
        lastSeq = Some(r.sequenceNumber)
      }
      if (page.records.isEmpty && page.millisBehindLatest <= 0L) done = true
      if (page.nextIterator.isEmpty) done = true else it = page.nextIterator
    }
    (count, sawAtOrAfter)
  }

  /** Executor-side: anchor at `afterSeq`'s sequence string, then pull
    * exactly `toSeq - afterSeq` records (per-shard order is stable, so
    * the count IS the range). Expired iterators reissue from the last
    * delivered record — no record is skipped or re-emitted. */
  override def read(
      shard: String, afterSeq: Long, toSeq: Long): Iterator[Transport.Rec] = {
    if (toSeq <= afterSeq) return Iterator.empty
    val led = ledger.getOrElse(shard, ShardLedger(0L, Vector.empty))
    val anchor: Option[String] =
      if (afterSeq == 0L) None
      else {
        require(afterSeq > led.base && afterSeq <= led.end,
          s"position $afterSeq of $shard outside ledger (${led.base}, ${led.end}]")
        Some(led.at(afterSeq)._1)
      }
    // capture outside the anonymous class: inside it, `toSeq` would
    // resolve to Iterator.toSeq
    val endPos = toSeq
    new Iterator[Transport.Rec] {
      private var remaining = endPos - afterSeq
      private var pos = afterSeq
      private var lastSeq = anchor
      private var cursor: Option[String] = Some(iteratorAfter(shard, anchor))
      private val buf = scala.collection.mutable.Queue.empty[KRec]

      private def fill(): Unit =
        while (buf.isEmpty && remaining > 0 && cursor.isDefined) {
          val page = pageOrReissue(cursor.get)(iteratorAfter(shard, lastSeq))
          buf ++= page.records
          cursor = page.nextIterator
          if (page.records.isEmpty && page.millisBehindLatest <= 0L &&
              remaining > 0 && cursor.isDefined) {
            // admitted range must already exist; an empty caught-up page
            // here means the stream trimmed beneath the checkpoint
            throw new IllegalStateException(
              s"$shard drained at position $pos before reaching $endPos " +
                "(records trimmed beneath the committed offset?)")
          }
        }

      override def hasNext: Boolean = {
        if (remaining <= 0) return false // never emit past the admitted range
        fill()
        // an admitted range that cannot be served must fail LOUDLY —
        // this arm catches the closed-shard case (nextIterator ran out
        // mid-range), which the in-loop guard cannot see
        if (buf.isEmpty) {
          throw new IllegalStateException(
            s"$shard ended at position $pos before reaching $endPos " +
              "(shard closed or records trimmed beneath the committed offset)")
        }
        true
      }
      override def next(): Transport.Rec = {
        if (!hasNext) throw new NoSuchElementException
        val r = buf.dequeue()
        pos += 1; remaining -= 1; lastSeq = Some(r.sequenceNumber)
        // byte-preserving: the reference delivers raw ByteBuffers
        // (KinesisSource.scala:68-70), and a Rec is its exact bytes
        Transport.Rec(shard, pos, r.payload, r.arrivalUs)
      }
    }
  }

  override def prune(shard: String, upTo: Long): Unit = lockFor(shard).synchronized {
    ledger.get(shard).foreach { led =>
      if (upTo > led.base + 1) {
        val keepFrom = math.min(upTo, led.end) // keep `upTo` as the anchor
        ledger.put(shard, ShardLedger(keepFrom - 1L,
          led.entries.drop((keepFrom - 1L - led.base).toInt)))
      }
    }
  }
}

/** [[KinesisPort]] over an AWS-SDK-v1-shaped client, bound by
  * reflection: request/response model classes are resolved by simple
  * name under `modelPackage` in the client's own classloader, methods by
  * name + compatible arity. SDK exceptions are translated into the
  * taxonomy by class-name shape (`ExpiredIterator*`,
  * `ProvisionedThroughput*`) and, for the rest, the SDK's own
  * `getErrorType` discriminator — Client → fail-fast ClientException,
  * Service → retryable ServiceException (reference
  * KinesisSource.scala:296-302).
  *
  * `clientFactory` must be a serializable closure (capture credentials
  * config, not the client); the client itself is `@transient lazy`,
  * rebuilt once per JVM — the standard DSv2 discipline. */
final class ReflectiveKinesisPort(
    clientFactory: () => AnyRef,
    modelPackage: String = "com.amazonaws.services.kinesis.model")
    extends KinesisPort {
  import KinesisPort._

  @transient private lazy val client: AnyRef = clientFactory()

  private def modelClass(name: String): Class[_] =
    Class.forName(s"$modelPackage.$name", true, client.getClass.getClassLoader)
  private def newModel(name: String): AnyRef =
    modelClass(name).getDeclaredConstructor().newInstance().asInstanceOf[AnyRef]

  private def compatible(param: Class[_], arg: AnyRef): Boolean =
    arg == null || param.isInstance(arg) ||
      (param.isPrimitive && (param.getName match {
        case "int" => arg.isInstanceOf[java.lang.Integer]
        case "long" => arg.isInstanceOf[java.lang.Long]
        case "boolean" => arg.isInstanceOf[java.lang.Boolean]
        case "double" => arg.isInstanceOf[java.lang.Double]
        case _ => false
      }))

  private def invoke(target: AnyRef, name: String, args: AnyRef*): AnyRef = {
    val m = target.getClass.getMethods
      .filter(m => m.getName == name && m.getParameterCount == args.length)
      .find(m => m.getParameterTypes.lazyZip(args).forall(compatible))
      .getOrElse(throw new NoSuchMethodException(
        s"${target.getClass.getName}.$name/${args.length} (compatible overload)"))
    try m.invoke(target, args: _*)
    catch {
      case e: java.lang.reflect.InvocationTargetException =>
        throw translate(e.getCause)
    }
  }

  private def translate(t: Throwable): Throwable = {
    val n = t.getClass.getSimpleName
    if (n.contains("ExpiredIterator"))
      new ExpiredIteratorException(t.getMessage)
    else if (n.contains("ProvisionedThroughput"))
      new ThrottledException(t.getMessage)
    else {
      val errorType =
        try Option(t.getClass.getMethod("getErrorType").invoke(t)).map(_.toString)
        catch { case _: NoSuchMethodException => None }
      errorType match {
        case Some(et) if et.equalsIgnoreCase("Client") =>
          new BatchingSink.ClientException(s"$n: ${t.getMessage}")
        case Some(_) => new ServiceException(s"$n: ${t.getMessage}")
        case None => t
      }
    }
  }

  override def describeStream(stream: String): Seq[ShardDesc] = {
    // DescribeStream pages at ~100 shards; a single call would silently
    // truncate the topology (and every shard beyond the page would
    // never be read). Follow HasMoreShards with ExclusiveStartShardId
    // until the listing is complete — closed shards count against the
    // page too, so moderately-resharded streams hit this early.
    val out = scala.collection.mutable.ListBuffer.empty[ShardDesc]
    var startAfter: Option[String] = None
    var more = true
    while (more) {
      val req = newModel("DescribeStreamRequest")
      invoke(req, "setStreamName", stream)
      startAfter.foreach(s => invoke(req, "setExclusiveStartShardId", s))
      val res = invoke(client, "describeStream", req)
      val desc = invoke(res, "getStreamDescription")
      val page = invoke(desc, "getShards")
        .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
        .map { s =>
          ShardDesc(
            invoke(s, "getShardId").asInstanceOf[String],
            Option(invoke(s, "getParentShardId").asInstanceOf[String]),
            Option(invoke(s, "getAdjacentParentShardId").asInstanceOf[String]))
        }
      out ++= page
      val hasMore = invoke(desc, "getHasMoreShards") match {
        case b: java.lang.Boolean => b.booleanValue()
        case _ => false
      }
      more = hasMore && page.nonEmpty
      startAfter = page.lastOption.map(_.shardId)
    }
    out.toSeq
  }

  override def getShardIterator(
      stream: String, shard: String, iteratorType: String,
      startSeq: Option[String], timestampUs: Option[Long]): String = {
    val req = newModel("GetShardIteratorRequest")
    invoke(req, "setStreamName", stream)
    invoke(req, "setShardId", shard)
    invoke(req, "setShardIteratorType", iteratorType)
    startSeq.foreach(s => invoke(req, "setStartingSequenceNumber", s))
    timestampUs.foreach(t =>
      invoke(req, "setTimestamp", new java.util.Date(t / 1000L)))
    val res = invoke(client, "getShardIterator", req)
    invoke(res, "getShardIterator").asInstanceOf[String]
  }

  override def getRecords(iterator: String, limit: Int): RecordsPage = {
    val req = newModel("GetRecordsRequest")
    invoke(req, "setShardIterator", iterator)
    invoke(req, "setLimit", Integer.valueOf(limit))
    val res = invoke(client, "getRecords", req)
    val recs = invoke(res, "getRecords")
      .asInstanceOf[java.util.List[AnyRef]].asScala.toSeq.map { r =>
        val bb = invoke(r, "getData").asInstanceOf[java.nio.ByteBuffer].duplicate()
        val bytes = new Array[Byte](bb.remaining()); bb.get(bytes)
        KRec(
          invoke(r, "getSequenceNumber").asInstanceOf[String],
          invoke(r, "getPartitionKey").asInstanceOf[String],
          bytes,
          Option(invoke(r, "getApproximateArrivalTimestamp")
            .asInstanceOf[java.util.Date]).map(_.getTime * 1000L).getOrElse(0L))
      }
    RecordsPage(
      recs,
      Option(invoke(res, "getNextShardIterator").asInstanceOf[String]),
      Option(invoke(res, "getMillisBehindLatest").asInstanceOf[java.lang.Long])
        .map(_.longValue).getOrElse(0L))
  }

  override def putRecords(
      stream: String, records: Seq[(String, Array[Byte])]): Seq[Option[String]] = {
    val entries = new java.util.ArrayList[AnyRef](records.length)
    records.foreach { case (key, payload) =>
      val e = newModel("PutRecordsRequestEntry")
      invoke(e, "setPartitionKey", key)
      invoke(e, "setData", java.nio.ByteBuffer.wrap(payload))
      entries.add(e)
    }
    val req = newModel("PutRecordsRequest")
    invoke(req, "setStreamName", stream)
    invoke(req, "setRecords", entries)
    val res = invoke(client, "putRecords", req)
    invoke(res, "getRecords").asInstanceOf[java.util.List[AnyRef]].asScala.toSeq
      .map(r => Option(invoke(r, "getErrorCode").asInstanceOf[String]))
  }
}
