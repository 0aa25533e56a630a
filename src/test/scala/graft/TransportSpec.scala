package graft

import graft.streaming.{BatchingSink, InMemoryTransport, ShardedLog, ToRecord, TransportRegistry}
import java.nio.file.Files
import org.apache.spark.sql.DataFrame

/** Seam-specific extras on top of the TransportConformance kit (which
  * owns the shared ordering/resume/reshard/throttle/at_timestamp
  * contract for every transport): the N+1 frontier guard and
  * registry failure modes.
  *
  * The injectable client seam (graft.streaming.Transport): both the
  * source and the sink compile against traits, so a user swaps the local
  * sharded-log transport for a real client adapter without touching
  * operator code (the reference's own pattern: the sink takes a bare
  * `PutRecordsRequest => PutRecordsResult`, KinesisGraphStage.scala:20,
  * the source drives describeStream/getShardIterator/getRecords,
  * KinesisSource.scala:115-163). The in-memory fake proves the path
  * end-to-end: records written through BatchingSink.over become visible
  * to a real Structured Streaming query, no filesystem involved. */
class TransportSpec extends SparkSpec {
  import spark.implicits._

  private var n = 0
  private def freshId(): String = { n += 1; s"transport-spec-$n" }

  private def drain(id: String, extra: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format(ShardedLog.Format).option("transport", id)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val name = "tr_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = r.load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("a reader carrying the frontier in describeShards never gets per-shard maxSequence calls") {
    // The N+1 guard: a remote client pays one API call per trigger when
    // ShardInfo.maxSeq is populated (the reference's single
    // describeStream); maxSequence must then never be consulted for
    // batch admission.
    val id = freshId()
    val inner = new InMemoryTransport(id, numShards = 3)
    val counting = new graft.streaming.ShardReader {
      val maxSeqCalls = new java.util.concurrent.atomic.AtomicInteger(0)
      override def describeShards() = inner.describeShards()
      override def maxSequence(shard: String) = {
        maxSeqCalls.incrementAndGet(); inner.maxSequence(shard)
      }
      override def sequenceAtTimestamp(shard: String, tsUs: Long) =
        inner.sequenceAtTimestamp(shard, tsUs)
      override def read(shard: String, afterSeq: Long, toSeq: Long) =
        inner.read(shard, afterSeq, toSeq)
    }
    TransportRegistry.register(id, counting)
    try {
      (1 to 9).foreach(i => inner.putRecords(Seq((s"k$i", s"v$i".getBytes))))
      val rows = drain(id).collect()
      assert(rows.length === 9)
      assert(counting.maxSeqCalls.get === 0)
    } finally { TransportRegistry.unregister(id); InMemoryTransport.drop(id) }
  }

  test("FileRecordWriter: concurrent writers never replace each other's flushes") {
    import graft.streaming.{FileRecordWriter, FileShardReader}
    val root = Files.createTempDirectory("fw-conc")
    val w = new FileRecordWriter(root.toString, numShards = 1)
    // 4 sink instances (one per partition in a real job) hammer one
    // shard: sequence allocation must serialize, or flushes replace
    // each other silently (same seq + REPLACE_EXISTING move)
    val threads = (1 to 4).map { t =>
      new Thread(() => (1 to 50).foreach(i =>
        w.putRecords(Seq(("k", s"t$t-$i".getBytes("UTF-8"))))))
    }
    threads.foreach(_.start()); threads.foreach(_.join())
    val id = freshId()
    TransportRegistry.register(id, new FileShardReader(root.toString))
    try {
      val rows = drain(id).collect()
      assert(rows.length === 200, "every concurrent flush must survive")
      assert(rows.map(_.getString(2)).toSet.size === 200)
    } finally TransportRegistry.unregister(id)
  }

  test("one describeShards per trigger: an N-batch maxFilesPerTrigger drain describes at most N + 2 times") {
    // One describe serves a trigger's latestOffset and its
    // reportLatestOffset; the extra calls allowed are query start
    // (initialOffset) and the AvailableNow snapshot.
    import graft.streaming.{FileShardReader, ShardReader}
    import org.apache.spark.sql.streaming.Trigger
    val root = Files.createTempDirectory("fr-describe")
    (1 to 3).foreach(s => (1 to 16).foreach(i => ShardedLog.append(root, s"s$s", i, Seq(s"s$s-$i"))))
    val inner = new FileShardReader(root.toString)
    val counting = new ShardReader {
      val describes = new java.util.concurrent.atomic.AtomicInteger(0)
      override def describeShards() = { describes.incrementAndGet(); inner.describeShards() }
      override def maxSequence(shard: String) = inner.maxSequence(shard)
      override def sequenceAtTimestamp(shard: String, tsUs: Long) =
        inner.sequenceAtTimestamp(shard, tsUs)
      override def read(shard: String, afterSeq: Long, toSeq: Long) =
        inner.read(shard, afterSeq, toSeq)
    }
    val id = freshId()
    TransportRegistry.register(id, counting)
    def run(availableNow: Boolean): (Int, Int, Int) = {
      counting.describes.set(0)
      val w = spark.readStream.format(ShardedLog.Format).option("transport", id)
        .option("maxFilesPerTrigger", "2").load()
        .writeStream.format("memory")
        .queryName("tr_" + java.util.UUID.randomUUID().toString.replace("-", ""))
        .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      val q =
        if (availableNow) {
          val q = w.trigger(Trigger.AvailableNow()).start()
          assert(q.awaitTermination(60000), "AvailableNow drain did not terminate")
          q
        } else {
          val q = w.start(); q.processAllAvailable(); q.stop(); q
        }
      val batches = q.recentProgress.filter(_.numInputRows > 0)
      (batches.length, batches.map(_.numInputRows.toInt).sum, counting.describes.get)
    }
    try {
      val (n, rows, describes) = run(availableNow = true)
      assert((n, rows) === ((8, 48)))
      assert(describes <= n + 2, s"AvailableNow: $describes describes for $n batches")
      val (n2, rows2, describes2) = run(availableNow = false)
      assert((n2, rows2) === ((8, 48)))
      // idle triggers (the one processAllAvailable waits for, and any
      // that start before stop) add a describe each, so bound the
      // per-batch rate: two describes per trigger would be >= 2N
      assert(describes2 < 2 * n2, s"processAllAvailable: $describes2 describes for $n2 batches")
    } finally TransportRegistry.unregister(id)
  }

  test("FileRecordWriter instances on one root never overwrite or lose a flush, and keep their order") {
    import graft.streaming.{FileRecordWriter, FileShardReader}
    import scala.jdk.CollectionConverters._
    val root = Files.createTempDirectory("fw-two")
    val shardDir = root.resolve("shard-0")
    val ws = Seq.fill(2)(new FileRecordWriter(root.toString, numShards = 1))
    def put(w: Int, tag: String): Unit =
      ws(w).putRecords(Seq(("k", tag.getBytes("UTF-8"))))
    // a binary payload: a 0xFF lead byte (never valid UTF-8) before the tag
    def putBin(w: Int, tag: String): Unit =
      ws(w).putRecords(Seq(("k", (-1).toByte +: tag.getBytes("UTF-8"))))
    def recFiles(): Map[String, Seq[Byte]] =
      if (!Files.isDirectory(shardDir)) Map.empty
      else {
        val s = Files.list(shardDir)
        try s.iterator().asScala.map(_.getFileName.toString)
          .filter(n => !n.startsWith(".") && n.endsWith(".recb")).toVector
          .flatMap(n => scala.util.Try(Files.readAllBytes(shardDir.resolve(n)).toSeq)
            .toOption.map(n -> _)).toMap
        finally s.close()
      }
    // a watcher records each file's content the first time it sees it;
    // a published file must never read differently later
    val firstSeen = new java.util.concurrent.ConcurrentHashMap[String, Seq[Byte]]()
    @volatile var watching = true
    val watcher = new Thread(() => while (watching) recFiles().foreach { case (n, c) =>
      firstSeen.putIfAbsent(n, c) })
    watcher.start()
    // 1. the two instances alternate: each one's cached sequence is
    //    stale on every put
    (1 to 10).foreach { i => put(0, s"w0-alt-$i"); put(1, s"w1-alt-$i") }
    // 2. a direct append takes the sequence instance 0 would use next
    put(0, "w0-before-direct")
    val next = new FileShardReader(root.toString).maxSequence("shard-0") + 1
    ShardedLog.append(root, "shard-0", next, Seq("direct"))
    put(0, "w0-after-direct")
    // 3. 4 threads x 2 instances hammer the shard
    val threads = for (w <- 0 to 1; t <- 1 to 4) yield new Thread(() =>
      (1 to 25).foreach(i => put(w, s"w$w-t$t-$i")))
    threads.foreach(_.start()); threads.foreach(_.join())
    // 4. on one shard, one instance puts text while the other puts binary
    val mixed = Seq(
      new Thread(() => (1 to 25).foreach(i => put(0, s"w0-text-$i"))),
      new Thread(() => (1 to 25).foreach(i => putBin(1, s"w1-bin-$i"))))
    mixed.foreach(_.start()); mixed.foreach(_.join())
    watching = false; watcher.join()
    val id = freshId()
    TransportRegistry.register(id, new FileShardReader(root.toString))
    try {
      // a binary record reads back as "bin:" + the tag after its 0xFF byte
      val rows = drain(id).select($"seq", $"value", $"value_bin")
        .as[(Long, String, Array[Byte])].collect().toSeq.map { case (seq, v, b) =>
          (seq, if (b.headOption.contains((-1).toByte)) "bin:" + new String(b.tail, "UTF-8") else v)
        }
      val expected = (1 to 10).flatMap(i => Seq(s"w0-alt-$i", s"w1-alt-$i")) ++
        Seq("w0-before-direct", "direct", "w0-after-direct") ++
        (for (w <- 0 to 1; t <- 1 to 4; i <- 1 to 25) yield s"w$w-t$t-$i") ++
        (1 to 25).flatMap(i => Seq(s"w0-text-$i", s"bin:w1-bin-$i"))
      assert(rows.map(_._2).sorted === expected.sorted, "every record exactly once")
      assert(rows.map(_._1).distinct.length === rows.length, "one record per sequence")
      val seqOf = rows.map(_.swap).toMap
      assert(seqOf("w0-before-direct") < seqOf("direct") && seqOf("direct") < seqOf("w0-after-direct"))
      // each writer's puts land in the order it made them
      def ordered(tags: Seq[String]): Boolean = tags.map(seqOf).sliding(2).forall(p => p(0) < p(1))
      (0 to 1).foreach(w => assert(ordered((1 to 10).map(i => s"w$w-alt-$i"))))
      for (w <- 0 to 1; t <- 1 to 4) assert(ordered((1 to 25).map(i => s"w$w-t$t-$i")))
      assert(ordered((1 to 25).map(i => s"w0-text-$i")) && ordered((1 to 25).map(i => s"bin:w1-bin-$i")))
      val finalFiles = recFiles()
      assert(firstSeen.size > 0)
      firstSeen.asScala.foreach { case (n, c) =>
        assert(finalFiles.get(n) === Some(c), s"$n changed after it was published")
      }
    } finally TransportRegistry.unregister(id)
  }

  test("FileRecordWriter carries line-breaking payloads via the binary layout, byte-exact") {
    // The writer is serialization-format agnostic (the reference
    // streams raw ByteBuffers, KinesisSource.scala:68-70): every flush
    // is length-prefixed `.recb` frames, so payloads that are not
    // newline-free UTF-8 must round-trip their exact bytes.
    import graft.streaming.{FileRecordWriter, FileShardReader}
    val root = Files.createTempDirectory("fw-bin")
    val w = new FileRecordWriter(root.toString, numShards = 1)
    val payloads = Seq(
      "a\nb".getBytes("UTF-8"),      // embedded newline
      Array[Byte](-1, -2, -3))       // not UTF-8
    w.putRecords(payloads.map(("k", _)))
    val id = freshId()
    TransportRegistry.register(id, new FileShardReader(root.toString))
    try {
      val got = drain(id).select("value_bin").collect().map(_.getAs[Array[Byte]](0))
      assert(got.map(_.toSeq).sorted(Ordering.Implicits.seqOrdering[Seq, Byte]) ===
        payloads.map(_.toSeq).sorted(Ordering.Implicits.seqOrdering[Seq, Byte]))
    } finally TransportRegistry.unregister(id)
  }

  test("unregistered transport name fails fast with a clear error") {
    val err = intercept[Exception] { drain("no-such-transport") }
    def chain(t: Throwable): Seq[Throwable] =
      if (t == null) Nil else t +: chain(t.getCause)
    assert(chain(err).exists(_.getMessage != null) &&
      chain(err).exists(t => Option(t.getMessage).exists(_.contains("no transport registered"))))
  }

  test("Rec equality compares binary payload content, not array identity") {
    import graft.streaming.Transport.Rec
    val bytes = Array[Byte](-1, 0, 42)
    val a = Rec("s-0", 1L, bytes, 100L)
    val b = Rec("s-0", 1L, bytes.clone(), 100L)
    assert(a === b, "identical payload bytes in fresh arrays must be equal")
    assert(a.hashCode === b.hashCode)
    assert(a !== Rec("s-0", 1L, Array[Byte](-1, 0, 43), 100L))
    // text records are their UTF-8 bytes: the same content compare
    assert(Rec("s-0", 2L, "x".getBytes("UTF-8"), 5L) === Rec("s-0", 2L, "x".getBytes("UTF-8"), 5L))
    assert(Rec("s-0", 2L, "x".getBytes("UTF-8"), 5L) !== a)
  }
}
