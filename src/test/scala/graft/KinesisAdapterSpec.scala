package graft

import graft.streaming._
import org.scalatest.funsuite.AnyFunSuite
import scala.collection.mutable

/** Kinesis-adapter internals beyond the shared conformance kit: the
  * reference's error taxonomy (KinesisSource.scala:290-302) on both
  * call paths, the dense-position ledger's bounds, and the reflective
  * SDK binding exercised against stub classes with the SDK's exact
  * method surface. */
class KinesisAdapterSpec extends AnyFunSuite {

  private var n = 0
  private def freshCore(): (String, FakeKinesis) = {
    n += 1
    val id = s"kin-adapter-$n"
    (id, FakeKinesis.create(id, numShards = 2))
  }

  private def reader(id: String, sleeps: mutable.Buffer[Long] = mutable.Buffer.empty,
      pollLimit: Int = 3): KinesisShardReader =
    new KinesisShardReader("stream", new FakeKinesisPort(id),
      pollLimit = pollLimit, sleeper = sleeps += _)

  test("property: random append/read/commit/expiry interleavings lose and double nothing") {
    import org.scalacheck.Gen
    import org.scalacheck.rng.Seed
    // ops: 0 = producer appends 1-5 records, 1 = the query advances and
    // reads the new frontier range, 2 = a commit prunes somewhere at or
    // below the read frontier, 3 = the service expires every iterator
    val genOps = Gen.listOfN(60,
      Gen.frequency(4 -> Gen.const(0), 3 -> Gen.const(1),
        2 -> Gen.const(2), 1 -> Gen.const(3)))
    var seed = Seed(31L)
    val params = Gen.Parameters.default
    (0 until 25).foreach { round =>
      genOps.apply(params, seed).foreach { ops =>
        val (id, core) = freshCore()
        try {
          val r = reader(id)
          val shard = core.shardName(0)
          var produced = 0
          var readTo = 0L
          var pruned = 0L
          val consumed = mutable.Buffer.empty[String]
          var die = 7L
          def roll(n: Long): Long = { die = (die * 48271) % 2147483647L; die % n }
          ops.foreach {
            case 0 =>
              (1 to (1 + roll(5)).toInt).foreach { _ =>
                produced += 1
                core.append(shard, s"k$produced", s"v$produced".getBytes)
              }
            case 1 =>
              val frontier = r.maxSequence(shard)
              consumed ++= r.read(shard, readTo, frontier).map(_.value)
              readTo = frontier
            case 2 =>
              if (readTo > pruned) {
                pruned += 1 + roll(readTo - pruned)
                r.prune(shard, pruned)
              }
            case _ => core.expireIterators()
          }
          val frontier = r.maxSequence(shard)
          consumed ++= r.read(shard, readTo, frontier).map(_.value)
          assert(consumed.toSeq === (1 to produced).map(i => s"v$i"),
            s"round $round: transport lost or doubled records under ${ops.mkString(",")}")
        } finally FakeKinesis.drop(id)
      }
      seed = seed.next
    }
  }

  test("expired iterators are reissued, not retried blindly (taxonomy: reissue arm)") {
    val (id, core) = freshCore()
    try {
      val r = reader(id)
      (1 to 5).foreach(i => core.append(core.shardName(0), s"k$i", s"v$i".getBytes))
      assert(r.maxSequence(core.shardName(0)) === 5)
      // expire all outstanding iterators, then append more: the next
      // poll's cached cursor is dead and must be reissued from the
      // last ledgered sequence — no loss, no duplicates
      core.expireIterators()
      (6 to 8).foreach(i => core.append(core.shardName(0), s"k$i", s"v$i".getBytes))
      assert(r.maxSequence(core.shardName(0)) === 8)
      val recs = r.read(core.shardName(0), 0L, 8L).toSeq
      assert(recs.map(_.value) === (1 to 8).map(i => s"v$i"))
      assert(recs.map(_.seq) === (1L to 8L))
    } finally FakeKinesis.drop(id)
  }

  test("expiry mid-read reissues from the last delivered record") {
    val (id, core) = freshCore()
    try {
      val r = reader(id, pollLimit = 2)
      (1 to 6).foreach(i => core.append(core.shardName(0), s"k$i", s"v$i".getBytes))
      r.maxSequence(core.shardName(0))
      val it = r.read(core.shardName(0), 0L, 6L)
      val first = it.next()
      assert(first.value === "v1")
      core.expireIterators() // kills the read's cursor between pages
      val rest = it.toSeq
      assert((first +: rest).map(_.value) === (1 to 6).map(i => s"v$i"),
        "reissue must resume exactly after the last delivered record")
    } finally FakeKinesis.drop(id)
  }

  test("throttled getRecords retries with exponential backoff (taxonomy: retry arm)") {
    val (id, core) = freshCore()
    try {
      val sleeps = mutable.Buffer.empty[Long]
      val r = reader(id, sleeps)
      core.append(core.shardName(0), "k", "v".getBytes)
      core.throttleNextGets = 2
      assert(r.maxSequence(core.shardName(0)) === 1)
      assert(sleeps.size >= 2, "each throttle costs one backoff sleep")
    } finally FakeKinesis.drop(id)
  }

  test("client errors fail fast through reader and writer (taxonomy: bug arm)") {
    val (id, core) = freshCore()
    try {
      val r = reader(id)
      // unknown sequence anchor = caller bug = ClientException, no retry
      val before = core.getCalls
      intercept[IllegalArgumentException] {
        // position outside the (empty) ledger
        r.read(core.shardName(0), 3L, 5L).toSeq
      }
      assert(core.getCalls === before, "no transport call for a bad position")
    } finally FakeKinesis.drop(id)
  }

  test("commit-time prune bounds the ledger to the unconsumed backlog, keeping the anchor") {
    val (id, core) = freshCore()
    try {
      val r = reader(id)
      (1 to 10).foreach(i => core.append(core.shardName(0), s"k$i", s"v$i".getBytes))
      assert(r.maxSequence(core.shardName(0)) === 10)
      r.prune(core.shardName(0), 7L)
      // positions <= 6 are gone; 7 is the anchor; (7, 10] still readable
      intercept[IllegalArgumentException] { r.read(core.shardName(0), 5L, 10L).toSeq }
      val recs = r.read(core.shardName(0), 7L, 10L).toSeq
      assert(recs.map(_.value) === Seq("v8", "v9", "v10"))
      // re-polling after prune keeps appending at the dense tail
      core.append(core.shardName(0), "k11", "v11".getBytes)
      assert(r.maxSequence(core.shardName(0)) === 11)
      assert(r.read(core.shardName(0), 10L, 11L).toSeq.map(_.value) === Seq("v11"))
    } finally FakeKinesis.drop(id)
  }

  test("an admitted range that cannot be served fails loudly, open or closed shard") {
    val (id, core) = freshCore()
    try {
      val r = reader(id)
      (1 to 5).foreach(i => core.append(core.shardName(0), s"k$i", s"v$i".getBytes))
      assert(r.maxSequence(core.shardName(0)) === 5)
      // shard closes AND loses records beneath the admitted range
      core.truncateShard(core.shardName(0), keep = 1)
      core.closeShard(core.shardName(0))
      core.expireIterators() // force re-anchor from the ledger
      intercept[IllegalStateException] {
        r.read(core.shardName(0), 0L, 5L).toSeq
      }
      // and a served prefix must never silently double or truncate:
      // the failure mode is an exception, not a wrong row count
    } finally FakeKinesis.drop(id)
  }

  test("read never emits past the admitted range even when a page overshoots") {
    val (id, core) = freshCore()
    try {
      val r = reader(id, pollLimit = 100) // one page far wider than the range
      (1 to 9).foreach(i => core.append(core.shardName(0), s"k$i", s"v$i".getBytes))
      r.maxSequence(core.shardName(0))
      val out = r.read(core.shardName(0), 2L, 5L).toSeq
      assert(out.map(_.value) === Seq("v3", "v4", "v5"))
      assert(out.map(_.seq) === (3L to 5L))
    } finally FakeKinesis.drop(id)
  }

  test("reflective binding drives the SDK-shaped stub client end-to-end") {
    val (id, core) = freshCore()
    try {
      val port = new ReflectiveKinesisPort(
        () => new graft.fakesdk.StubKinesisClient(id),
        modelPackage = "graft.fakesdk")
      // sink side: ByteBuffer marshalling + Collection-typed setRecords
      val w = new KinesisRecordWriter("stream", port)
      val results = w.putRecords(Seq(("a", "pay-a".getBytes), ("b", "pay-b".getBytes)))
      assert(results.forall(_.errorCode.isEmpty))
      // source side: topology, iterators, Date round-trip, paging
      core.declareChild("child", Some(core.shardName(0)), Some(core.shardName(1)))
      val r = new KinesisShardReader("stream", port, pollLimit = 1, sleeper = _ => ())
      val infos = r.describeShards()
      assert(infos.map(_.shardId).contains("child"))
      assert(infos.find(_.shardId == "child").get.parents.toSet ===
        Set(core.shardName(0), core.shardName(1)))
      val shardOfA = core.shardOfKey("a")
      val seqs = r.maxSequence(shardOfA)
      val recs = r.read(shardOfA, 0L, seqs).toSeq
      assert(recs.map(_.value).contains("pay-a"))
      assert(recs.forall(_.tsUs === core.nowUs / 1000L * 1000L),
        "arrival timestamps survive the Date round-trip (ms precision)")
    } finally FakeKinesis.drop(id)
  }

  test("reflective describeStream follows HasMoreShards pagination to the full topology") {
    val id = "kin-adapter-paging"
    val core = FakeKinesis.create(id, numShards = 5)
    try {
      val port = new ReflectiveKinesisPort(
        () => new graft.fakesdk.StubKinesisClient(id),
        modelPackage = "graft.fakesdk")
      // the stub pages at TWO shards per DescribeStream call: a
      // single-call port would return 2 of the 5 and silently never
      // read the rest (the real service pages at ~100 shards)
      val ids = port.describeStream("stream").map(_.shardId)
      assert(ids.toSet === (0 until 5).map(core.shardName).toSet)
      assert(ids.size === 5)
    } finally FakeKinesis.drop(id)
  }

  test("closed shards stop costing iterator/record calls once discovered") {
    val (id, core) = freshCore()
    try {
      core.append(core.shardName(0), "k", "v".getBytes)
      core.closeShard(core.shardName(0))
      var iters = 0
      var gets = 0
      val counting = new KinesisPort {
        private val inner = new FakeKinesisPort(id)
        override def describeStream(s: String) = inner.describeStream(s)
        override def getShardIterator(s: String, sh: String, t: String,
            sq: Option[String], ts: Option[Long]) = {
          iters += 1; inner.getShardIterator(s, sh, t, sq, ts)
        }
        override def getRecords(it: String, limit: Int) = {
          gets += 1; inner.getRecords(it, limit)
        }
        override def putRecords(s: String, rs: Seq[(String, Array[Byte])]) =
          inner.putRecords(s, rs)
      }
      val r = new KinesisShardReader("stream", counting, sleeper = _ => ())
      assert(r.maxSequence(core.shardName(0)) === 1)
      val (i0, g0) = (iters, gets)
      (1 to 5).foreach(_ => assert(r.maxSequence(core.shardName(0)) === 1))
      assert(iters === i0 && gets === g0,
        "every trigger re-polled a shard that can never grow")
    } finally FakeKinesis.drop(id)
  }

  test("reflective binding translates SDK-shaped exceptions into the taxonomy") {
    val (id, core) = freshCore()
    try {
      val port = new ReflectiveKinesisPort(
        () => new graft.fakesdk.StubKinesisClient(id),
        modelPackage = "graft.fakesdk")
      core.append(core.shardName(0), "k", "v".getBytes)
      val it = port.getShardIterator("stream", core.shardName(0),
        "TRIM_HORIZON", None, None)
      core.throttleNextGets = 1
      intercept[KinesisPort.ThrottledException] { port.getRecords(it, 10) }
      core.expireIterators()
      intercept[KinesisPort.ExpiredIteratorException] { port.getRecords(it, 10) }
      // a ClientException surfacing directly passes through untranslated
      intercept[BatchingSink.ClientException] {
        port.getShardIterator("stream", core.shardName(0),
          "AFTER_SEQUENCE_NUMBER", Some("no-such-seq"), None)
      }
      // the SDK's own getErrorType=Client discriminator → fail-fast arm
      intercept[BatchingSink.ClientException] {
        port.getRecords("force-client-error", 10)
      }
    } finally FakeKinesis.drop(id)
  }

  test("describeShards polls shard frontiers concurrently, not serially") {
    val id = "kin-parallel-poll"
    val shardCount = 4
    val core = FakeKinesis.create(id, numShards = shardCount)
    try {
      (0 until shardCount).foreach(i =>
        core.append(core.shardName(i), "k", s"v$i".getBytes))
      // every shard's FIRST getRecords blocks on a barrier sized to the
      // shard count: a serial poll (the old whole-reader lock) would
      // park the first caller alone until the 10 s timeout broke the
      // barrier — only a genuinely concurrent fan-out can trip it
      val barrier = new java.util.concurrent.CyclicBarrier(shardCount)
      val seenFirst = java.util.concurrent.ConcurrentHashMap.newKeySet[String]()
      val inner = new FakeKinesisPort(id)
      val gating = new KinesisPort {
        override def describeStream(s: String) = inner.describeStream(s)
        override def getShardIterator(s: String, sh: String, t: String,
            q: Option[String], ts: Option[Long]) =
          inner.getShardIterator(s, sh, t, q, ts)
        override def putRecords(s: String, r: Seq[(String, Array[Byte])]) =
          inner.putRecords(s, r)
        override def getRecords(it: String, limit: Int) = {
          val shard = it.split('|')(2)
          if (seenFirst.add(shard))
            barrier.await(10, java.util.concurrent.TimeUnit.SECONDS)
          inner.getRecords(it, limit)
        }
      }
      val r = new KinesisShardReader("stream", gating, sleeper = _ => (),
        pollParallelism = shardCount)
      val infos = r.describeShards()
      assert(infos.size === shardCount)
      assert(infos.map(_.maxSeq).sum === shardCount.toLong,
        "every shard's frontier was polled to its one record")
    } finally FakeKinesis.drop(id)
  }

  test("sequenceAtTimestamp caches the anchor instead of re-scanning history") {
    val (id, core) = freshCore()
    try {
      core.nowUs = 1000L
      (1 to 5).foreach(i => core.append(core.shardName(0), "k", s"a$i".getBytes))
      core.nowUs = 9000L
      (1 to 3).foreach(i => core.append(core.shardName(0), "k", s"b$i".getBytes))
      val r = reader(id)
      val calls0 = core.getCalls
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 5L)
      val callsAfterFirst = core.getCalls
      assert(callsAfterFirst > calls0, "first call scans")
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 5L)
      assert(core.getCalls === callsAfterFirst,
        "second call is served from the anchor cache — zero client calls")
    } finally FakeKinesis.drop(id)
  }

  test("sequenceAtTimestamp does not freeze a caught-up anchor under clock skew") {
    // tsUs is capped at the DRIVER's clock; if the scan runs out of
    // records before crossing tsUs, records can still arrive later
    // stamped below it (transport clock behind the driver's). The
    // anchor must only cache once a record AT/AFTER tsUs proves it
    // final — a frozen caught-up anchor would admit the late records
    // as if they preceded the timestamp.
    val (id, core) = freshCore()
    try {
      core.nowUs = 1000L
      (1 to 4).foreach(i => core.append(core.shardName(0), "k", s"a$i".getBytes))
      val r = reader(id)
      // caught up below tsUs = 5000: position after all 4, NOT final
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 4L)
      // transport clock still behind the driver: two more records land
      // stamped below the requested timestamp
      core.nowUs = 2000L
      (1 to 2).foreach(i => core.append(core.shardName(0), "k", s"b$i".getBytes))
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 6L,
        "a caught-up anchor was frozen and hid late records below tsUs")
      // once a record at/after tsUs exists the anchor IS final and caches
      core.nowUs = 9000L
      core.append(core.shardName(0), "k", "c".getBytes)
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 6L)
      val calls = core.getCalls
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 6L)
      assert(core.getCalls === calls, "final anchor must be cached")
    } finally FakeKinesis.drop(id)
  }

  test("anchor cache holds ONE entry per shard: a new timestamp evicts the old") {
    // Planning only ever re-asks the query's fixed starting timestamp,
    // so the cache is bounded per shard instead of growing one
    // permanent entry per distinct tsUs (a slow leak for a long-lived
    // driver probing moving timestamps). Correctness is unchanged — an
    // evicted timestamp is simply re-scanned.
    val (id, core) = freshCore()
    try {
      core.nowUs = 1000L
      (1 to 5).foreach(i => core.append(core.shardName(0), "k", s"a$i".getBytes))
      core.nowUs = 9000L
      (1 to 3).foreach(i => core.append(core.shardName(0), "k", s"b$i".getBytes))
      val r = reader(id)
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 5L)
      val cached = core.getCalls
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 5L)
      assert(core.getCalls === cached, "fixed timestamp stays cached")
      // a different timestamp replaces the shard's anchor...
      assert(r.sequenceAtTimestamp(core.shardName(0), 8000L) === 5L)
      val afterNew = core.getCalls
      assert(afterNew > cached, "new timestamp must scan")
      assert(r.sequenceAtTimestamp(core.shardName(0), 8000L) === 5L)
      assert(core.getCalls === afterNew, "and is itself cached")
      // ...so the ORIGINAL timestamp re-scans (evicted, still correct)
      assert(r.sequenceAtTimestamp(core.shardName(0), 5000L) === 5L)
      assert(core.getCalls > afterNew, "evicted timestamp re-scans")
    } finally FakeKinesis.drop(id)
  }
}
