package graft

import graft.streaming.ShardedLog
import java.nio.file.{Files, Path}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.functions._

/** Semantics of the sharded-log DSv2 source: iterator types, reshard
  * tolerance, per-shard resume, ordering, and trigger rate limiting
  * (SURVEY.md §2.1 s1/s3). */
class ShardedLogSpec extends SparkSpec {
  import spark.implicits._

  private def tmpRoot(): Path = Files.createTempDirectory("graft-slspec-")

  private def readAll(root: Path, extra: Map[String, String] = Map.empty): DataFrame = {
    var r = spark.readStream.format(ShardedLog.Format).option("path", root.toString)
    extra.foreach { case (k, v) => r = r.option(k, v) }
    val name = "sl_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = r.load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    spark.table(name)
  }

  test("trim_horizon reads every record of every shard, in per-shard order") {
    val root = tmpRoot()
    ShardedLog.append(root, "a", 1, Seq("a1", "a2"))
    ShardedLog.append(root, "a", 2, Seq("a3"))
    ShardedLog.append(root, "b", 1, Seq("b1"))
    val rows = readAll(root).collect()
    assert(rows.length === 4)
    val aVals = rows.filter(_.getString(0) == "a").sortBy(_.getLong(1)).map(_.getString(2)).toSeq
    assert(aVals === Seq("a1", "a2", "a3"))
  }

  test("latest skips records present at query start but sees new ones (incl. new shards)") {
    val root = tmpRoot()
    ShardedLog.append(root, "a", 1, Seq("old1", "old2"))
    val name = "sl_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format(ShardedLog.Format)
      .option("path", root.toString).option("startingPosition", "latest")
      .load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable()
    ShardedLog.append(root, "a", 2, Seq("new1"))
    // reshard mid-query: child shard appears, must be read from ITS trim
    // horizon (reference iteratorForReshard: Latest -> TrimHorizon)
    ShardedLog.append(root, "a-child", 1, Seq("child1"))
    q.processAllAvailable(); q.stop()
    val got = spark.table(name).select($"value").collect().map(_.getString(0)).toSet
    assert(got === Set("new1", "child1"))
  }

  test("at_timestamp starts at the given time, capped at now") {
    val root = tmpRoot()
    ShardedLog.append(root, "a", 1, Seq("before"))
    val cut = System.currentTimeMillis() + 60000 // future: capped to now
    Thread.sleep(20)
    ShardedLog.append(root, "a", 2, Seq("after"))
    // timestamp far in the past: everything
    val all = readAll(root, Map("startingPosition" -> "at_timestamp", "timestampMs" -> "0"))
    assert(all.count() === 2)
    // future timestamp is capped at "now" (reference KinesisSource.scala:99-102):
    // files written before the query started are all consumed -> nothing
    val capped = readAll(root,
      Map("startingPosition" -> "at_timestamp", "timestampMs" -> cut.toString))
    assert(capped.count() === 0)
  }

  test("s3 backpressure: maxFilesPerTrigger bounds every micro-batch") {
    val root = tmpRoot()
    (1 to 6).foreach(i => ShardedLog.append(root, "a", i, Seq(s"r$i", s"r$i-b")))
    val name = "sl_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format(ShardedLog.Format)
      .option("path", root.toString).option("maxFilesPerTrigger", "2")
      .load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    assert(spark.table(name).count() === 12) // nothing lost
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, s"expected >=3 rate-limited batches, got ${batches.length}")
    assert(batches.forall(_.numInputRows <= 4), // 2 files x 2 lines
      s"a batch exceeded the trigger cap: ${batches.map(_.numInputRows).mkString(",")}")
  }

  test("reshard: a declared child shard is admitted only after its parent drains") {
    val root = tmpRoot()
    (1 to 3).foreach(i => ShardedLog.append(root, "p", i, Seq(s"p$i")))
    ShardedLog.declareParent(root, "c", "p")
    ShardedLog.append(root, "c", 1, Seq("c1"))
    // maxFilesPerTrigger=1 forces the parent across 3 micro-batches; the
    // child's record must land in a strictly later batch than all of them
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format(ShardedLog.Format)
      .option("path", root.toString).option("maxFilesPerTrigger", "1")
      .load().writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val shards = df.select($"shard").collect().map(_.getString(0))
        seen.synchronized { shards.foreach(s => seen += id -> s) }
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    assert(seen.count(_._2 == "p") === 3, "all parent records delivered")
    assert(seen.count(_._2 == "c") === 1, "child record delivered (no loss)")
    val lastParent = seen.filter(_._2 == "p").map(_._1).max
    val firstChild = seen.filter(_._2 == "c").map(_._1).min
    assert(lastParent < firstChild,
      s"child admitted at batch $firstChild before parent drained at $lastParent")
  }

  test("merge reshard: a child with TWO declared parents waits for BOTH to drain") {
    val root = tmpRoot()
    // p1 drains in 2 batches, p2 in 4 (maxFilesPerTrigger=1): the merged
    // child must wait for the SLOWER parent — gating on just one parent
    // (the pre-r4 declareParent) would admit it at batch 3
    (1 to 2).foreach(i => ShardedLog.append(root, "p1", i, Seq(s"p1-$i")))
    (1 to 4).foreach(i => ShardedLog.append(root, "p2", i, Seq(s"p2-$i")))
    ShardedLog.declareParents(root, "m", Seq("p1", "p2"))
    ShardedLog.append(root, "m", 1, Seq("m1"))
    val seen = scala.collection.mutable.ArrayBuffer.empty[(Long, String)]
    val q = spark.readStream.format(ShardedLog.Format)
      .option("path", root.toString).option("maxFilesPerTrigger", "1")
      .load().writeStream
      .foreachBatch { (df: DataFrame, id: Long) =>
        val shards = df.select($"shard").collect().map(_.getString(0))
        seen.synchronized { shards.foreach(s => seen += id -> s) }
        ()
      }
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    assert(seen.count(_._2 == "p1") === 2, "all p1 records delivered")
    assert(seen.count(_._2 == "p2") === 4, "all p2 records delivered")
    assert(seen.count(_._2 == "m") === 1, "merged child delivered (no loss)")
    val lastParent = seen.filter(r => r._2 == "p1" || r._2 == "p2").map(_._1).max
    val firstChild = seen.filter(_._2 == "m").map(_._1).min
    assert(lastParent < firstChild,
      s"merge child admitted at batch $firstChild before both parents drained at $lastParent")
  }

  test("Trigger.AvailableNow drains everything in rate-limited batches, then stops") {
    import org.apache.spark.sql.streaming.Trigger
    val root = tmpRoot()
    (1 to 5).foreach(i => ShardedLog.append(root, "a", i, Seq(s"a$i")))
    ShardedLog.append(root, "b", 1, Seq("b1"))
    val name = "sl_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format(ShardedLog.Format)
      .option("path", root.toString).option("maxFilesPerTrigger", "2")
      .load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .trigger(Trigger.AvailableNow())
      .start()
    // AvailableNow must terminate BY ITSELF once the snapshot is drained
    assert(q.awaitTermination(60000), "AvailableNow query did not self-terminate")
    val got = spark.table(name).select($"value").collect().map(_.getString(0)).toSet
    assert(got === Set("a1", "a2", "a3", "a4", "a5", "b1"))
    val batches = q.recentProgress.filter(_.numInputRows > 0)
    assert(batches.length >= 3, s"cap ignored under AvailableNow: ${batches.length} batches")
  }

  test("read-path taxonomy: transient IO errors retry, client errors fail fast") {
    // transient-class: reading a directory as a record file raises an
    // IOException outside the client classes → retried to exhaustion
    val dir = Files.createTempDirectory("rec-as-dir")
    var retries = 0
    intercept[java.io.IOException] {
      ShardedLog.readRecPayloads(dir, tries = 3, onError = (_, _) => retries += 1)
    }
    assert(retries === 3, "transient error must consume the whole retry budget")
    // client-class: a missing file can never succeed on retry → fail fast
    var fastRetries = 0
    intercept[java.nio.file.NoSuchFileException] {
      ShardedLog.readRecPayloads(dir.resolve("missing.recb"), tries = 3,
        onError = (_, _) => fastRetries += 1)
    }
    assert(fastRetries === 0, "client error must not retry")
  }

  test("a .rec file of the older line layout makes describe and read fail fast") {
    // skipping it would silently lose its records
    val root = tmpRoot()
    ShardedLog.append(root, "a", 1, Seq("a1"))
    Files.write(root.resolve("a").resolve("00000002.rec"), "a2\n".getBytes("UTF-8"))
    val reader = new graft.streaming.FileShardReader(root.toString)
    val described = intercept[IllegalStateException](reader.describeShards())
    assert(described.getMessage.contains("00000002.rec"))
    // even a range below the legacy file's sequence fails
    intercept[IllegalStateException](reader.read("a", 0L, 1L).toList)
    def chain(t: Throwable): Seq[Throwable] = if (t == null) Nil else t +: chain(t.getCause)
    val err = intercept[Exception](readAll(root))
    assert(chain(err).exists(t => Option(t.getMessage).exists(_.contains("00000002.rec"))))
  }

  test("resume: a restarted query continues from the committed per-shard offset") {
    val root = tmpRoot()
    val ckpt = Files.createTempDirectory("ckpt").toString
    val out = Files.createTempDirectory("out").toString
    ShardedLog.append(root, "a", 1, Seq("one"))
    def run(): Unit = {
      val q = spark.readStream.format(ShardedLog.Format).option("path", root.toString)
        .load().writeStream.format("parquet")
        .option("path", out).option("checkpointLocation", ckpt).start()
      q.processAllAvailable(); q.stop()
    }
    run()
    assert(spark.read.parquet(out).count() === 1)
    ShardedLog.append(root, "a", 2, Seq("two"))
    run()
    // same checkpoint -> the offset log resumes after seq 1: record "two"
    // appears exactly once, "one" is not re-read
    val got = spark.read.parquet(out).select($"value").collect().map(_.getString(0)).sorted.toSeq
    assert(got === Seq("one", "two"))
  }

  test("write path round-trip: foreachBatch writer -> source reads back exactly") {
    import graft.streaming.ShardedLogWriter
    import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
    val root = tmpRoot()
    val in = MemoryStream[(String, String)](spark)
    val q = in.toDF().toDF("shard", "value").writeStream
      .foreachBatch(ShardedLogWriter.foreachBatchWriter(root))
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    in.addData(("a", "a1"), ("a", "a2"), ("b", "b1"))
    q.processAllAvailable()
    in.addData(("a", "a3"), ("c", "c1")) // new shard mid-stream
    q.processAllAvailable(); q.stop()

    val back = readAll(root).collect()
    assert(back.map(r => (r.getString(0), r.getString(2))).toSet ===
      Set(("a", "a1"), ("a", "a2"), ("a", "a3"), ("b", "b1"), ("c", "c1")))
    // per-shard sequence monotonicity: a3 (epoch 2) has a higher seq than a1/a2
    val aRows = back.filter(_.getString(0) == "a").sortBy(_.getLong(1))
    assert(aRows.last.getString(2) === "a3")
  }

  test("the one writer: per-shard files of chunk rows in order from each firstSeq, replaced on rewrite") {
    import graft.streaming.ShardedLogWriter
    import scala.jdk.CollectionConverters._
    val root = tmpRoot()
    // (shard, order, payload), scattered over partitions out of order
    val rows = Seq(("a", 5L, "a5"), ("b", 2L, "b2"), ("a", 1L, "a1"), ("a", 4L, "a4"),
      ("b", 1L, "b1"), ("a", 3L, "a3"), ("a", 2L, "a2")).toDF("shard", "k", "payload")
      .repartition(3)
    def layout(root: java.nio.file.Path = root): Map[String, Seq[(String, Seq[String])]] =
      Seq("a", "b").map { shard =>
        val files = Files.list(root.resolve(shard)).iterator().asScala.toSeq
          .map(_.getFileName.toString).sorted
        shard -> files.map(f => f -> ShardedLog.readRecPayloads(root.resolve(shard).resolve(f))
          .map(new String(_, "UTF-8")))
      }.toMap
    val expected = Map(
      "a" -> Seq("00000003.recb" -> Seq("a1", "a2"), "00000004.recb" -> Seq("a3", "a4"),
        "00000005.recb" -> Seq("a5")),
      "b" -> Seq("00000003.recb" -> Seq("b1", "b2")))
    ShardedLogWriter.write(root, rows, chunk = 2, firstSeqs = Seq(3L))
    assert(layout() === expected)
    // a second write at the same sequences replaces its files, no duplicates
    ShardedLogWriter.write(root, rows, chunk = 2, firstSeqs = Seq(3L))
    assert(layout() === expected)
    assert(readAll(root).count() === 7)
    // a second firstSeq publishes the whole layout again from there
    val twice = tmpRoot()
    ShardedLogWriter.write(twice, rows, chunk = 2, firstSeqs = Seq(3L, 10L))
    assert(layout(twice) === expected.map { case (shard, files) =>
      shard -> (files ++ files.map { case (f, recs) =>
        f"${f.take(8).toLong + 7}%08d.recb" -> recs })
    })

    // one file per trigger: each micro-batch reads one file, in order
    val one = tmpRoot()
    ShardedLogWriter.write(one, rows.filter($"shard" === "a"), chunk = 2)
    val name = "sl_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = spark.readStream.format(ShardedLog.Format)
      .option("path", one.toString).option("maxFilesPerTrigger", "1")
      .load().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    assert(q.recentProgress.map(_.numInputRows).filter(_ > 0).toSeq === Seq(2L, 2L, 1L))
    assert(spark.table(name).select($"value").as[String].collect().toSeq ===
      Seq("a1", "a2", "a3", "a4", "a5"))
  }

  test("RowBytes carries every value of a row bit for bit") {
    import graft.streaming.RowBytes
    val in = spark.sql("""SELECT * FROM VALUES
      (1L, TIMESTAMP'2024-01-02 03:04:05.123456', array(1.5f, -0.0f, float('NaN')),
        'ünï', CAST(12.34 AS DECIMAL(18, 2)), NULL),
      (2L, NULL, array(), '', NULL, 'x') AS t(id, ts, v, s, d, n)""")
    val back = in.select(RowBytes.encode(in.columns.map(in.col).toSeq: _*).as("b"))
      .select(RowBytes.decode($"b", in.schema).as("r")).select("r.*")
    assert(back.schema === in.schema)
    assert(back.collect().map(_.toString).toSeq === in.collect().map(_.toString).toSeq)
  }

  test("latestOffset preserves committed positions for shards absent from a listing") {
    import graft.streaming.{InMemoryTransport, ShardedLogMicroBatchStream,
      ShardedLogOffset, Transport, TransportRegistry, ShardReader}
    import org.apache.spark.sql.connector.read.streaming.ReadLimit
    import org.apache.spark.sql.util.CaseInsensitiveStringMap
    val mem = new InMemoryTransport("flaky-mem", numShards = 2)
    mem.append("a", "a1"); mem.append("a", "a2"); mem.append("b", "b1")
    // a wrapper that can transiently hide a shard from the listing —
    // the partial-listing failure mode (unmounted dir, truncated page)
    object Flaky extends ShardReader {
      @volatile var hide: Set[String] = Set.empty
      override def describeShards(): Seq[Transport.ShardInfo] =
        mem.describeShards().filterNot(si => hide(si.shardId))
      override def maxSequence(shard: String): Long = mem.maxSequence(shard)
      override def sequenceAtTimestamp(shard: String, tsUs: Long): Long =
        mem.sequenceAtTimestamp(shard, tsUs)
      override def read(shard: String, afterSeq: Long, toSeq: Long) =
        mem.read(shard, afterSeq, toSeq)
    }
    TransportRegistry.register("flaky-listing", Flaky)
    val stream = new ShardedLogMicroBatchStream(new CaseInsensitiveStringMap(
      java.util.Map.of("transport", "flaky-listing")))
    val committed = ShardedLogOffset(Map("a" -> 2L, "b" -> 1L))
    Flaky.hide = Set("b")
    val next = stream.latestOffset(committed, ReadLimit.allAvailable())
      .asInstanceOf[ShardedLogOffset].consumed
    assert(next("b") === 1L,
      "shard b's committed position must survive its absence from one listing")
    Flaky.hide = Set.empty
    val back = stream.latestOffset(ShardedLogOffset(next), ReadLimit.allAvailable())
      .asInstanceOf[ShardedLogOffset].consumed
    assert(back === Map("a" -> 2L, "b" -> 1L),
      "reappearing shard resumes from its committed position, not the trim horizon")
  }

  test("offset JSON round-trips shard names containing quotes and backslashes") {
    import graft.streaming.ShardedLogOffset
    val names = Map("plain" -> 3L, "qu\"ote" -> 5L, "back\\slash" -> 7L,
      "b\"o\\th\"" -> 9L)
    val parsed = ShardedLogOffset.fromJson(ShardedLogOffset(names).json())
    assert(parsed.consumed === names)
  }
}
