package graft.queries

import graft.Tables
import graft.streaming.{BatchingSink, FileRecordWriter, ShardedLog, StreamOps, ToRecord}
import java.util.UUID
import org.apache.spark.sql.{DataFrame, GraftSqlBridge, SparkSession}
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
import org.apache.spark.sql.functions._
import org.apache.spark.sql.internal.SQLConf
import org.apache.spark.sql.streaming.StreamingQuery

/** Streaming transport operators (SURVEY.md §2.1) run end-to-end as real
  * Structured Streaming queries against driver testdata, then surfaced
  * as bounded DataFrames so the DuckDB oracle can hash-check them like
  * any batch query: the stream is drained with processAllAvailable over
  * a memory sink, so the result is exact, not a sample.
  *
  * s3 (trigger rate limits) appears twice: per-batch cap enforcement is
  * asserted in ShardedLogSpec (where progress is observable), and
  * s3_rate_limited_drain below proves end-to-end that admission control
  * loses and duplicates nothing.
  */
object Streaming {

  /** Shared oracle prelude (events.ts normalized ns→µs, as in Events). */
  private val evCte =
    "WITH ev AS (SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, user_id, event_type, value FROM events)"

  /** Checkpoint scratch for the bounded drains. State-store commits are
    * many tiny fsynced files; on a disk-backed java.io.tmpdir they pay
    * flush latency that is pure harness floor (a real deployment's
    * checkpoint cadence is amortized over a long-running query, not a
    * 2-batch drain). Prefer the tmpfs when one is present; durability
    * is irrelevant here — the drain is re-runnable, each query gets a
    * FRESH dir (a reused checkpoint would resume prior state), and the
    * per-process parent is deleted at JVM exit. */
  private def ckptDir(): String =
    graft.util.TempDirs.freshUnder("/dev/shm", "graft-ckpt")

  /** The one drain shape every caller runs (Bench, Verify, PlanDump, the
    * specs). An s-entry costs its micro-batches times the state-store
    * commits in each, and its table does not depend on how its input was
    * split (the stream/batch parity its oracle pins). Against 4 feeds /
    * 8 partitions / 8 batches this shape took the s-family from 45.6 to
    * 31.7 s at sf0.1 on 32 cores (BENCH_NOTES "Round 7"):
    *  - `DrainChunks` feeds per chunked drain, the fewest that still run
    *    every cross-batch merge path;
    *  - `DrainParts` state partitions (the drain session's
    *    `shuffle.partitions`): drain cost is per-partition state-store
    *    checkpointing, not data volume; a deployment sizes this to key
    *    cardinality and executors;
    *  - `DrainBatches` rate-limited micro-batches for s3. */
  private val DrainChunks = 2
  private[graft] val DrainParts = 4
  private val DrainBatches = 4

  /** Runs one bounded drain in its own session, a clone of the caller's
    * (the isolation Spark's StreamExecution itself takes at query start):
    * only the clone gets the drain confs, so concurrent drains and batch
    * entries never see each other's `shuffle.partitions`. The drain confs
    * are `DrainParts` state partitions and the state-store PROVIDER
    * selected by the caller's `graft.stream.stateStore`: the default
    * HDFS-backed in-memory store, or `rocksdb` for Spark's RocksDB
    * provider — the store a 100 TB deployment runs, where per-key state
    * must spill beyond executor heap; StreamingSpec pins
    * provider-identical results on the stateful operators. The streaming
    * plan is re-homed in the clone, and the memory-sink table back in the
    * caller's session, by their analyzed plans. Both the clone and the
    * session Spark clones again for the query's run are detached from the
    * context's listener bus afterwards. */
  private def drain(spark: SparkSession, df: DataFrame, outputMode: String)(
      feed: StreamingQuery => Unit): DataFrame = {
    val session = GraftSqlBridge.cloneSession(spark)
    session.conf.set(SQLConf.SHUFFLE_PARTITIONS.key, DrainParts.toString)
    if (spark.conf.get("graft.stream.stateStore", "hdfs") == "rocksdb")
      session.conf.set(SQLConf.STATE_STORE_PROVIDER_CLASS.key,
        "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider")
    val name = "g_" + UUID.randomUUID().toString.replace("-", "")
    try {
      val q = GraftSqlBridge.ofRows(session, df.queryExecution.analyzed)
        .writeStream
        .format("memory")
        .queryName(name)
        .outputMode(outputMode)
        .option("checkpointLocation", ckptDir())
        .start()
      try feed(q) finally {
        q.stop()
        GraftSqlBridge.detachStreams(GraftSqlBridge.runSession(q))
      }
      GraftSqlBridge.ofRows(spark, session.table(name).queryExecution.analyzed)
    } finally GraftSqlBridge.detachStreams(session)
  }

  private def drainToTable(spark: SparkSession, df: DataFrame,
                           outputMode: String): DataFrame =
    drain(spark, df, outputMode)(_.processAllAvailable())

  /** Like drainToTable, but the query STARTS BEFORE any data exists and
    * each chunk is fed between processAllAvailable calls — so every
    * chunk is a real, separate micro-batch and cross-batch state
    * continuity (GroupState folds, complete-mode re-aggregation,
    * within-watermark dedup across a redelivery batch) actually
    * executes. addData-all-then-start would collapse the feed into ONE
    * micro-batch and silently skip the merge path (ADVICE r4). */
  private def drainChunksToTable[A](spark: SparkSession, df: DataFrame,
                                    outputMode: String, in: MemoryStream[A],
                                    chunks: Seq[Seq[A]]): DataFrame =
    drain(spark, df, outputMode) { q =>
      chunks.foreach { c => in.addData(c); q.processAllAvailable() }
    }

  /** Splits `rows` into `DrainChunks` successive feeds (a 0/1-row feed
    * cannot split and runs a single batch). */
  private def mbChunks[A](rows: Seq[A]): Seq[Seq[A]] =
    rows.grouped(math.max(1, rows.size / DrainChunks)).toSeq

  /** Materialize events as a 4-shard append-only log (shard = user_id
    * mod 4, `chunk` ids per file), harness setup for s1/s3. */
  private def materializeLog(s: SparkSession, dir: String,
                             chunk: Int): java.nio.file.Path = {
    import s.implicits._
    val root = java.nio.file.Paths.get(
      graft.util.TempDirs.freshUnder("/dev/shm", "graft-shardedlog"))
    Tables.events(s, dir)
      .select($"event_id", pmod($"user_id", lit(4)).as("shard"))
      .collect()
      .groupBy(_.getLong(1))
      .foreach { case (shard, rows) =>
        rows.map(_.getLong(0)).sorted.toSeq.grouped(chunk).zipWithIndex.foreach {
          case (ids, i) =>
            ShardedLog.append(root, s"s$shard", i + 1L, ids.map(_.toString))
        }
      }
    root
  }

  /** The batch twin's oracle string, shared VERBATIM: stream/batch
    * parity means ONE oracle — a fix to the batch entry's oracle must
    * reach its streaming twin, never drift past a stale byte-copy
    * (the d62/s23 and d73/s25 sharing rule, applied to every twin). */
  private def batchOracle(name: String): String =
    (Events.queries ++ Docs.queries).find(_.name == name)
      .flatMap(_.oracle)
      .getOrElse(throw new IllegalArgumentException(s"no batch oracle: $name"))

  val queries: Seq[GraftQuery] = Seq(

    // ---- s1: the sharded source end-to-end. events are materialized as
    // a 4-shard append-only log (files of 2000 records), read back
    // through the DSv2 micro-batch source from the trim horizon, and
    // aggregated per shard. The oracle recomputes the same from the raw
    // table — dropping or duplicating any record in any shard breaks
    // the hash.
    GraftQuery.sql("s1_sharded_source",
      s"""$evCte
         |SELECT 's' || CAST(user_id % 4 AS VARCHAR) AS shard, COUNT(*) AS n,
         |  MIN(event_id) AS min_id, MAX(event_id) AS max_id
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = materializeLog(s, dir, chunk = 2000)
      try {
        val stream = s.readStream.format(ShardedLog.Format)
          .option("path", root.toString)
          .option("startingPosition", "trim_horizon")
          .load()
          .select($"shard", $"value".cast("long").as("event_id"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n"),
            min($"event_id").as("min_id"), max($"event_id").as("max_id"))
        drainToTable(s, stream, "complete").orderBy($"shard")
        // the drain is complete and the memory sink holds the result —
        // free the tmpfs log now, not at JVM exit
      } finally graft.util.TempDirs.delete(root.toString)
    },

    // ---- s3: backpressured drain — same log, but admission control caps
    // every micro-batch at ONE file per shard (files of 500 records), so
    // the drain takes many rate-limited batches. The per-shard count and
    // order-insensitive id checksum against the raw table prove the cap
    // rejects throughput, never records: nothing lost, nothing doubled.
    // (Per-batch cap enforcement itself is asserted in ShardedLogSpec.)
    GraftQuery.sql("s3_rate_limited_drain",
      s"""$evCte
         |SELECT 's' || CAST(user_id % 4 AS VARCHAR) AS shard, COUNT(*) AS n,
         |  CAST(SUM(event_id) AS BIGINT) AS id_sum
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      // chunk sized so the drain is always about DrainBatches
      // rate-limited batches, independent of SF (a fixed chunk would
      // mean O(rows) micro-batches at larger scale factors — harness
      // time, not operator work)
      val total = Tables.events(s, dir).count()
      val chunk = math.max(500L, total / 4 / DrainBatches + 1).toInt
      val root = materializeLog(s, dir, chunk)
      try {
        val stream = s.readStream.format(ShardedLog.Format)
          .option("path", root.toString)
          .option("startingPosition", "trim_horizon")
          .option("maxFilesPerTrigger", "1")
          .load()
          .select($"shard", $"value".cast("long").as("event_id"))
          .groupBy($"shard")
          .agg(count(lit(1)).as("n"), sum($"event_id").as("id_sum"))
        drainToTable(s, stream, "complete").orderBy($"shard")
      } finally graft.util.TempDirs.delete(root.toString)
    },

    // ---- s2: the batching sink end-to-end, distributed: every partition
    // drains through its own BatchingSink against a transport that
    // deterministically hard-fails event_id % 97 == 0 and throttles
    // event_id % 50 == 0 on first attempt (throttled records must be
    // re-queued and eventually succeed — so only the hard failures may
    // reach the Left channel, which is exactly what the oracle counts).
    GraftQuery.sql("s2_batching_sink",
      s"""$evCte
         |SELECT CASE WHEN event_id % 97 = 0 THEN 'err' ELSE 'ok' END AS status,
         |  COUNT(*) AS n
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val statuses = Tables.events(s, dir)
        .select($"event_id").as[Long]
        .mapPartitions { it =>
          val throttledOnce = scala.collection.mutable.Set.empty[Long]
          val put: Seq[Long] => Seq[BatchingSink.PutResult] = batch =>
            batch.map { id =>
              if (id % 97 == 0)
                BatchingSink.PutResult(Some("InternalFailure"))
              else if (id % 50 == 0 && throttledOnce.add(id))
                BatchingSink.PutResult(Some(BatchingSink.ThrottledCode))
              else BatchingSink.PutResult(None)
            }
          new BatchingSink[Long](put, sleeper = _ => ())
            .run(it)
            .map(e => if (e.isRight) "ok" else "err")
        }
      statuses.toDF("status").groupBy($"status")
        .agg(count(lit(1)).as("n")).orderBy($"status")
    },

    // ---- s4: watermarked dedup — every event is delivered twice in two
    // separate micro-batches (at-least-once redelivery); the watermarked
    // key dedup must collapse them exactly back to the original table.
    GraftQuery.sql("s4_watermark_dedup",
      s"""$evCte
         |SELECT event_type, COUNT(*) AS n
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.events(s, dir)
        .select($"event_id", $"event_type", $"ts")
        .as[(Long, String, java.sql.Timestamp)]
        .collect().toSeq
      val in = MemoryStream[(Long, String, java.sql.Timestamp)](s)
      val deduped = StreamOps.dedupWithinWatermark(
        in.toDF().toDF("event_id", "event_type", "ts"),
        tsCol = "ts", horizon = "3650 days", keys = Seq("event_id"))
      // original delivery, then a FULL redelivery as a separate real
      // micro-batch — the dedup state must survive the batch boundary
      drainChunksToTable(s, deduped, "append", in, Seq(rows, rows))
        .groupBy($"event_type").agg(count(lit(1)).as("n"))
        .orderBy($"event_type")
    },

    // ---- s5: streaming tumbling-window aggregate (twin of batch e1,
    // minus the distinct-user count, which streaming aggregation forbids).
    GraftQuery.sql("s5_stream_window_agg",
      s"""$evCte
         |SELECT CAST(date_trunc('day', ts) AS DATE) AS wday, COUNT(*) AS n,
         |  CAST(SUM(CAST(value AS DECIMAL(30,6))) AS DOUBLE) AS total_value
         |FROM ev GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // time-ordered ingest (the transport's per-shard order): chunk
      // boundaries are then exact time splits, so no row of a later
      // micro-batch can fall below the 1-hour watermark and be dropped
      val rows = Tables.events(s, dir)
        .select($"ts", $"value")
        .as[(java.sql.Timestamp, Double)]
        .collect().sortBy(_._1.getTime).toSeq
      val in = MemoryStream[(java.sql.Timestamp, Double)](s)
      val agg = StreamOps.tumblingCounts(
        in.toDF().toDF("ts", "value"),
        tsCol = "ts", width = "1 day", horizon = "1 hour")
      drainChunksToTable(s, agg, "complete", in, mbChunks(rows))
        // daily windows start at midnight, so the date IS the window
        .select($"wstart".cast("date").as("wday"), $"n", $"total_value")
        .orderBy($"wday")
    },

    // ---- s8: the document quality gate run ON THE STREAM — the batch
    // d-series scoring expressions applied verbatim to a readStream of
    // documents (they are stateless projections, so the same Column
    // trees compose; StreamingSpec pins exact stream/batch parity).
    // Delivered across several micro-batches, aggregated per language.
    GraftQuery.sql("s8_stream_quality_gate",
      """WITH nd AS (SELECT doc_id, lang,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm, text
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(CASE WHEN len(regexp_split_to_array(trim(text), '\s+')) >= 50
        |    THEN 1 ELSE 0 END) AS BIGINT) AS n_long,
        |  CAST(SUM(CASE WHEN 10 * length(regexp_replace(norm, '[a-z0-9 ]', '', 'g'))
        |    <= length(replace(norm, ' ', '')) THEN 1 ELSE 0 END) AS BIGINT) AS n_clean
        |FROM nd GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"text")
        .as[(Long, String, String)].collect().toSeq
      val in = MemoryStream[(Long, String, String)](s)
      val gated = in.toDF().toDF("doc_id", "lang", "text")
        .select($"lang",
          (Text.wsTokenCount($"text") >= 50L).cast("long").as("is_long"),
          (Text.punctCount($"text") * 10 <=
            length(regexp_replace(Text.normalize($"text"), " ", ""))).cast("long").as("is_clean"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"is_long").as("n_long"), sum($"is_clean").as("n_clean"))
      drainChunksToTable(s, gated, "complete", in, mbChunks(rows)).orderBy($"lang")
    },

    // ---- s9: streaming content dedup — the ingest-side twin of d1:
    // documents arrive twice (at-least-once delivery), and the stream
    // drops duplicates BY CONTENT FINGERPRINT (md5 of normalized text)
    // within the watermark, so the corpus never stores a byte twice.
    // State is keyed on the 128-bit fingerprint, never the text. The
    // oracle counts distinct-fingerprint documents per language.
    GraftQuery.sql("s9_stream_content_dedup",
      """WITH nd AS (SELECT lang,
        |    md5(trim(regexp_replace(lower(text), '\s+', ' ', 'g'))) AS fp
        |  FROM documents)
        |SELECT lang, COUNT(DISTINCT fp) AS n_unique
        |FROM nd GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.load(s, dir, "documents")
        .select($"lang", $"text")
        .as[(String, String)].collect().toSeq
      val in = MemoryStream[(String, String, java.sql.Timestamp)](s)
      val t0 = new java.sql.Timestamp(86400000L)
      val stamped = rows.map { case (l, t) => (l, t, t0) }
      val deduped = StreamOps.dedupWithinWatermark(
        in.toDF().toDF("lang", "text", "ts")
          .withColumn("fp", Text.fingerprint($"text")),
        tsCol = "ts", horizon = "3650 days", keys = Seq("lang", "fp"))
      // delivery 1, then a full redelivery in its own real micro-batch
      drainChunksToTable(s, deduped, "append", in, Seq(stamped, stamped))
        .groupBy($"lang").agg(count(lit(1)).as("n_unique"))
        .orderBy($"lang")
    },

    // ---- s10: decontamination ON THE INGEST STREAM — d20's eval-set
    // 8-gram probe applied as documents arrive, so contaminated docs are
    // flagged before they ever land in the corpus. The eval side is
    // static-by-construction (a held-out benchmark set), so it
    // broadcasts into every micro-batch and the stream side is a
    // stateless projection + stream-static hash join — no watermark, no
    // state store growth from the join itself; only the tiny
    // (doc, eval_doc) pair aggregate is stateful. Same oracle as batch
    // d20; exact stream/batch parity is asserted in StreamingSpec.
    GraftQuery.sql("s10_stream_decontaminate",
      batchOracle("d20_decontaminate")) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      // static (batch) eval side: hashed 8-grams of the held-out docs.
      // persisted — a stream-static broadcast re-executes the static
      // BUILD every micro-batch otherwise (the s28 lesson: cache the
      // model, not just reference it)
      val evalGrams = Tables.load(s, dir, "documents")
        .filter($"doc_id" < 25)
        .select(explode(Text.shingleHashes($"text", 8)).as("g"),
          $"doc_id".as("eval_id"))
        .persist()
      // the corpus arrives on the stream across several micro-batches
      val rows = Tables.load(s, dir, "documents")
        .filter($"doc_id" >= 25)
        .select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq
      val in = MemoryStream[(Long, String)](s)
      val pairs = in.toDF().toDF("doc_id", "text")
        .select($"doc_id", explode(Text.shingleHashes($"text", 8)).as("g"))
        .join(broadcast(evalGrams), "g")
        // streaming forbids countDistinct: group to distinct (doc, eval)
        // pairs on the stream, count them per doc after the drain
        .groupBy($"doc_id", $"eval_id")
        .agg(count(lit(1)).as("n_hits"))
      drainChunksToTable(s, pairs, "complete", in, mbChunks(rows))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_eval_docs"))
        .orderBy($"doc_id")
    },

    // ---- s11: near-dup gate ON THE INGEST STREAM — d6's MinHash-LSH
    // band probe applied as documents arrive, against a STATIC already-
    // ingested reference corpus: an incoming doc that shares any LSH
    // band bucket with a reference doc is flagged as a near-dup
    // candidate before it lands. The reference band table is built once
    // (batch side, degenerate buckets wider than the d6 cap dropped —
    // boilerplate bands carry no near-dup signal and would fan a single
    // stream row into thousands of pairs); the stream side is a
    // stateless projection (shingle→signature→band hashes) + a
    // stream-static equi-join on the 12-byte (band_idx, band_hash) key,
    // so there is no watermark and no state growth from the join; only
    // the tiny (doc, ref) pair aggregate is stateful. LSH is
    // probabilistic only about recall — the oracle replays the whole
    // deterministic pipeline in DuckDB (OracleHash: xxh64 shingles,
    // fmix64 minhash, murmur3 band hashes) with s11's split: reference
    // bands from doc_id < 250 (cap-filtered), stream side >= 250,
    // distinct-ref counts per streamed doc. Stream/batch parity stays
    // separately pinned in StreamingSpec.
    GraftQuery.sql("s11_stream_neardup_gate",
      "WITH " + OracleHash.shingleCte(3) + ",\n" +
        OracleHash.minhashCte(LshParams.Perms, LshParams.Seed) + ",\n" +
        OracleHash.bandsCte(LshParams.Rows) + ",\n" +
        s"""refb AS (SELECT doc_id AS ref_id, band_idx, band_hash
          |  FROM bh WHERE doc_id < 250),
          |kept AS (SELECT band_idx, band_hash FROM refb
          |  GROUP BY 1, 2 HAVING count(*) <= ${LshParams.MaxBucket}),
          |ref AS (SELECT refb.ref_id, refb.band_idx, refb.band_hash
          |  FROM refb JOIN kept USING (band_idx, band_hash)),
          |strm AS (SELECT doc_id, band_idx, band_hash FROM bh WHERE doc_id >= 250),
          |pairs AS (SELECT strm.doc_id, ref.ref_id
          |  FROM strm JOIN ref USING (band_idx, band_hash) GROUP BY 1, 2)
          |SELECT doc_id, COUNT(*) AS n_ref_candidates FROM pairs
          |GROUP BY doc_id ORDER BY doc_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val (perms, bands, rows, seed) =
        (LshParams.Perms, LshParams.Bands, LshParams.Rows, LshParams.Seed)
      val maxBucket = LshParams.MaxBucket
      def bandHashes(df: DataFrame): DataFrame = {
        val sig = df.select($"doc_id",
          call_function("minhash_sig", Text.shingleHashes($"text", 3),
            lit(perms), lit(seed)).as("sig"))
        val bandCols = (0 until bands).map { b =>
          hash(slice($"sig", b * rows + 1, rows)).cast("long")
        }
        sig.select($"doc_id", posexplode(array(bandCols: _*)))
          .toDF("doc_id", "band_idx", "band_hash")
      }
      val refBands = bandHashes(
        Tables.load(s, dir, "documents").filter($"doc_id" < 250))
        .withColumnRenamed("doc_id", "ref_id")
        .persist()
      val keptBuckets = refBands.groupBy($"band_idx", $"band_hash")
        .agg(count(lit(1)).as("bn")).filter($"bn" <= maxBucket)
        .select($"band_idx", $"band_hash")
      val ref = refBands.join(keptBuckets, Seq("band_idx", "band_hash"))
      val docRows = Tables.load(s, dir, "documents")
        .filter($"doc_id" >= 250)
        .select($"doc_id", $"text")
        .as[(Long, String)].collect().toSeq
      val in = MemoryStream[(Long, String)](s)
      val pairs = bandHashes(in.toDF().toDF("doc_id", "text"))
        .join(ref, Seq("band_idx", "band_hash"))
        .groupBy($"doc_id", $"ref_id")
        .agg(count(lit(1)).as("n_bands"))
      drainChunksToTable(s, pairs, "complete", in, mbChunks(docRows))
        .groupBy($"doc_id")
        .agg(count(lit(1)).as("n_ref_candidates"))
        .orderBy($"doc_id")
    },

    // ---- s12: per-source admission QUOTA on the ingest stream — the
    // stateful front-door cap (StreamOps.quotaGate): every source
    // admits its first 15 documents and rejects the rest, the running
    // count carried in GroupState across the micro-batches. Batches
    // are fed in doc_id order, so the admitted set is deterministically
    // "first 15 per source by doc_id" and the DuckDB row_number oracle
    // hash-checks the drain — including the order-insensitive id
    // checksum of exactly which docs were admitted.
    GraftQuery.sql("s12_stream_source_quota",
      """WITH r AS (SELECT doc_id, source,
        |    ROW_NUMBER() OVER (PARTITION BY source ORDER BY doc_id) AS rk
        |  FROM documents)
        |SELECT source, COUNT(*) AS n_seen,
        |  CAST(SUM(CASE WHEN rk <= 15 THEN 1 ELSE 0 END) AS BIGINT) AS n_admitted,
        |  CAST(SUM(CASE WHEN rk <= 15 THEN doc_id ELSE 0 END) AS BIGINT) AS admitted_id_sum
        |FROM r GROUP BY source ORDER BY source""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docRows = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source")
        .as[StreamOps.QuotaDoc].collect().toSeq.sortBy(_.doc_id)
      val in = MemoryStream[StreamOps.QuotaDoc](s)
      val gated = StreamOps.quotaGate(in.toDS(), cap = 15L)
      // real micro-batches in doc_id order: the per-source running
      // count must carry across the batch boundaries in GroupState
      drainChunksToTable(s, gated.toDF(), "append", in, mbChunks(docRows))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_seen"),
          sum($"admitted".cast("long")).as("n_admitted"),
          sum(when($"admitted", $"doc_id").otherwise(0L)).as("admitted_id_sum"))
        .orderBy($"source")
    },

    // ---- s13: the e15 histogram, built INCREMENTALLY on the stream —
    // the demonstration that a fixed-bin histogram is a mergeable
    // summary: per-(day, bin) counts aggregate across micro-batches in
    // complete mode (constant state per day: 50 bins), and the
    // quantile read-off happens once on the drained summary. Identical
    // oracle to e15 — if the stream drops, double-counts, or
    // mis-merges any batch, the quantile thresholds shift and the hash
    // breaks.
    GraftQuery.sql("s13_stream_histogram_quantiles",
      batchOracle("e15_mergeable_quantiles")) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.expressions.Window
      val rows = Tables.events(s, dir)
        .select($"ts", $"value")
        .as[(java.sql.Timestamp, Double)].collect().toSeq
      val in = MemoryStream[(java.sql.Timestamp, Double)](s)
      val binned = in.toDF().toDF("ts", "value")
        .groupBy(date_trunc("day", $"ts").cast("date").as("day"),
          floor($"value" / 10).cast("long").as("bin"))
        .agg(count(lit(1)).as("c"))
      val wCum = Window.partitionBy($"day").orderBy($"bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
      val wAll = Window.partitionBy($"day")
      drainChunksToTable(s, binned, "complete", in, mbChunks(rows))
        .withColumn("cum", sum($"c").over(wCum))
        .withColumn("n", sum($"c").over(wAll))
        .groupBy($"day")
        .agg(max($"n").as("n"),
          min(when($"cum" * 2 >= $"n", $"bin" * 10)).as("p50_lo"),
          min(when($"cum" * 20 >= $"n" * 19, $"bin" * 10)).as("p95_lo"))
        .orderBy($"day")
    },

    // ---- s14: ONLINE anomaly detection — e18's running 3-sigma test
    // as a stateful stream op: each user's exact (n, Σv, Σv²) prefix
    // statistics live in GroupState (three longs per user, constant
    // size forever) and every arriving event is flagged against the
    // history SO FAR, then folded in. The harness feeds
    // event-time-ordered micro-batches (an in-order ingest — the
    // transport's per-shard resume guarantees order within a shard), so
    // the drain is bit-identical to e18's batch prefix window: same
    // integer-cents algebra, same oracle; StreamingSpec asserts the
    // stream/batch parity row for row.
    GraftQuery.sql("s14_stream_running_outliers",
      batchOracle("e18_running_outliers")) { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamOps.StatEvent
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.events(s, dir)
        .select($"user_id", $"event_id", unix_micros($"ts").as("tsUs"),
          ($"value".cast("decimal(18,2)") * 100).cast("long").as("vi"),
          $"value")
        .as[StatEvent]
        .collect().sortBy(e => (e.tsUs, e.event_id)).toSeq
      val in = MemoryStream[StatEvent](s)
      val flagged = StreamOps.runningOutlierGate(in.toDS(), minPrior = 30L)
      // real time-split micro-batches: each user's (n, Σv, Σv²) must
      // fold across the batch boundaries in GroupState
      drainChunksToTable(s, flagged.toDF(), "append", in, mbChunks(rows))
        .select($"user_id", $"event_id", $"value", $"n_prior")
        .orderBy($"user_id", $"event_id")
    },

    // ---- s15: OHLC bars built INCREMENTALLY — e16's downsample as a
    // mergeable streaming summary: open/close are min_by/max_by on the
    // deterministic (ts, event_id) total order, which merge
    // associatively across micro-batches exactly like high/low/count
    // (argmin/argmax summaries, constant state per bar). Identical
    // oracle to e16 — a mis-merge of any component breaks the hash.
    GraftQuery.sql("s15_stream_ohlc_bars",
      batchOracle("e16_ohlc_bars")) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.events(s, dir)
        .select($"user_id", $"ts", $"event_id", $"value")
        .as[(Long, java.sql.Timestamp, Long, Double)].collect().toSeq
      val in = MemoryStream[(Long, java.sql.Timestamp, Long, Double)](s)
      val bars = in.toDF().toDF("user_id", "ts", "event_id", "value")
        .groupBy($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
        .agg(min_by($"value", struct($"ts", $"event_id")).as("open"),
          max($"value").as("high"), min($"value").as("low"),
          max_by($"value", struct($"ts", $"event_id")).as("close"),
          count(lit(1)).as("n"))
      drainChunksToTable(s, bars, "complete", in, mbChunks(rows))
        .orderBy($"user_id", $"day")
    },

    // ---- s16: week-over-week drift on the stream — e19's per-(user,
    // week) aggregates are plain mergeable sums, so they build
    // incrementally in complete mode across micro-batches; the lag
    // comparison runs on the DRAINED summary table (weeks × users,
    // three orders smaller than the event stream), exactly as e19's
    // batch window does. Identical oracle to e19 — a mis-merged week
    // cell breaks the hash.
    GraftQuery.sql("s16_stream_weekly_drift",
      batchOracle("e19_weekly_drift")) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import org.apache.spark.sql.expressions.Window
      val rows = Tables.events(s, dir)
        .select($"user_id", $"ts", $"value")
        .as[(Long, java.sql.Timestamp, Double)].collect().toSeq
      val in = MemoryStream[(Long, java.sql.Timestamp, Double)](s)
      val wk = in.toDF().toDF("user_id", "ts", "value")
        .groupBy($"user_id", date_trunc("week", $"ts").cast("date").as("week"))
        .agg(count(lit(1)).as("n"),
          sum(($"value".cast("decimal(18,2)") * 100).cast("long")).as("s"))
      val w = Window.partitionBy($"user_id").orderBy($"week")
      drainChunksToTable(s, wk, "complete", in, mbChunks(rows))
        .withColumn("pn", lag($"n", 1).over(w))
        .withColumn("ps", lag($"s", 1).over(w))
        .select($"user_id", $"week", $"n".as("n_events"), $"s".as("sum_cents"),
          ($"pn".isNotNull &&
            abs($"s" * $"pn" - $"ps" * $"n") * 2 > $"ps" * $"n")
            .cast("long").as("drifted"))
        .orderBy($"user_id", $"week")
    },

    // ---- s17: THE REFERENCE PIPELINE END TO END — one query running
    // the whole ingestion path the reference exists to serve: documents
    // land on a 4-shard append-only log (the transport), the DSv2
    // source reads them back, payloads join in from the catalog
    // (broadcast, stream-static), content dedup collapses duplicates
    // within the watermark, a quality gate rejects fragments, and
    // survivors drain through BatchingSink with the reference's
    // buffer/retry/requeue semantics into the Either channel. Every
    // per-record decision is CONTENT-keyed (fingerprint-derived), so
    // the funnel counts are deterministic regardless of which copy of
    // a duplicate survives or how records partition across sink
    // instances: the sink hard-fails fingerprints starting "00" (the
    // dead-letter arm) and throttles-once those with third hex digit
    // '0' (requeued and retried — exercised, but status-invisible,
    // exactly the reference's requeue contract).
    GraftQuery.sql("s17_pipeline_end_to_end",
      """WITH nd AS (SELECT doc_id, lang,
        |    trim(regexp_replace(lower(text), '\s+', ' ', 'g')) AS norm, text
        |  FROM documents),
        |g AS (SELECT DISTINCT lang, md5(norm) AS f,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok,
        |    CAST(len(list_filter(string_split(norm, ' '), t -> t IN ('the', 'a'))) AS BIGINT) AS sc
        |  FROM nd)
        |SELECT lang,
        |  CASE WHEN n_tok < 10 OR sc < 1 THEN 'rejected_quality'
        |       WHEN substr(f, 1, 2) = '00' THEN 'err'
        |       ELSE 'ok' END AS status,
        |  COUNT(*) AS n
        |FROM g GROUP BY 1, 2 ORDER BY 1, 2""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      // at-least-once transport: every record is delivered TWICE (a
      // full redelivery pass follows the original), so the dedup stage
      // is load-bearing — without it every count downstream doubles
      // and the hash breaks
      val root = java.nio.file.Paths.get(
        graft.util.TempDirs.freshUnder("/dev/shm", "graft-pipeline-log"))
      try {
      Tables.load(s, dir, "documents")
        .select($"doc_id", pmod($"doc_id", lit(4)).as("shard"))
        .collect().groupBy(_.getLong(1))
        .foreach { case (shard, rows) =>
          val chunks = rows.map(_.getLong(0)).sorted.toSeq.grouped(2000).zipWithIndex.toSeq
          chunks.foreach { case (ds, i) =>
            ShardedLog.append(root, s"s$shard", i + 1L, ds.map(_.toString))
          }
          chunks.foreach { case (ds, i) => // redelivery
            ShardedLog.append(root, s"s$shard", i + 1000L, ds.map(_.toString))
          }
        }
      val catalog = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"text")
      val t0 = new java.sql.Timestamp(86400000L)
      val enriched = s.readStream.format(ShardedLog.Format)
        .option("path", root.toString)
        .option("startingPosition", "trim_horizon")
        .load()
        .select($"value".cast("long").as("doc_id"))
        .join(broadcast(catalog), "doc_id")
        .select($"lang", Text.fingerprint($"text").as("f"),
          Text.wsTokenCount($"text").as("n_tok"),
          Text.markerCount($"text", Seq("the", "a")).as("sc"),
          lit(t0).as("ts"))
      val deduped = StreamOps.dedupWithinWatermark(
        enriched, tsCol = "ts", horizon = "3650 days", keys = Seq("lang", "f"))
      val statuses = deduped
        .select($"lang", $"f", $"n_tok", $"sc")
        .as[(String, String, Long, Long)]
        .mapPartitions { it =>
          val rows = it.toVector
          val (good, rejected) = rows.partition(r => r._3 >= 10 && r._4 >= 1)
          val throttledOnce = scala.collection.mutable.Set.empty[String]
          val put: Seq[(String, String)] => Seq[BatchingSink.PutResult] = batch =>
            batch.map { case (_, f) =>
              if (f.startsWith("00"))
                BatchingSink.PutResult(Some("InternalFailure"))
              else if (f.charAt(2) == '0' && throttledOnce.add(f))
                BatchingSink.PutResult(Some(BatchingSink.ThrottledCode))
              else BatchingSink.PutResult(None)
            }
          val sunk = new BatchingSink[(String, String)](put, sleeper = _ => ())
            .run(good.iterator.map(r => (r._1, r._2)))
            .map {
              case Right((lang, _)) => (lang, "ok")
              case Left(BatchingSink.PutError((lang, _), _)) => (lang, "err")
            }
          rejected.iterator.map(r => (r._1, "rejected_quality")) ++ sunk
        }
      drainToTable(s, statuses.toDF("lang", "status"), "append")
        .groupBy($"lang", $"status")
        .agg(count(lit(1)).as("n"))
        .orderBy($"lang", $"status")
      } finally graft.util.TempDirs.delete(root.toString)
    },

    // ---- s18: PII gate ON THE INGEST STREAM — d49's detection /
    // redaction expressions (Text.PiiPatterns, applied verbatim: the
    // same Column trees, so batch and stream scrubbing cannot drift)
    // run as a stateless projection over arriving documents, aggregated
    // per language: docs seen, total pattern hits, docs flagged, and
    // the order-insensitive id checksum of exactly which docs were
    // flagged. Raw corpus text (no synthetic contact suffix here): the
    // blocklisted entity term is the live signal, the email/phone/IP
    // patterns prove the no-match path costs nothing and drops nothing.
    // Delivered across real micro-batches.
    GraftQuery.sql("s18_stream_pii_gate",
      """WITH r AS (SELECT doc_id, lang,
        |    len(regexp_extract_all(text, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
        |    + len(regexp_extract_all(text, '\b\d{3}-\d{3}-\d{4}\b'))
        |    + len(regexp_extract_all(text, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b'))
        |    + len(regexp_extract_all(text, '\bcustomer\b')) AS n_pii
        |  FROM documents)
        |SELECT lang, COUNT(*) AS n_docs,
        |  CAST(SUM(n_pii) AS BIGINT) AS n_hits,
        |  CAST(SUM(CASE WHEN n_pii > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_flagged,
        |  CAST(SUM(CASE WHEN n_pii > 0 THEN doc_id ELSE 0 END) AS BIGINT) AS flagged_id_sum
        |FROM r GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val piiRows = Tables.load(s, dir, "documents")
        .select($"doc_id", $"lang", $"text")
        .as[(Long, String, String)].collect().toSeq
      val in = MemoryStream[(Long, String, String)](s)
      val nPii = Text.PiiPatterns
        .map { case (_, pat, _) => Text.piiCount($"text", pat) }
        .reduce(_ + _)
      val gated = in.toDF().toDF("doc_id", "lang", "text")
        .select($"doc_id", $"lang", nPii.as("n_pii"))
        .groupBy($"lang")
        .agg(count(lit(1)).as("n_docs"),
          sum($"n_pii").as("n_hits"),
          sum(($"n_pii" > 0).cast("long")).as("n_flagged"),
          sum(when($"n_pii" > 0, $"doc_id").otherwise(0L)).as("flagged_id_sum"))
      drainChunksToTable(s, gated, "complete", in, mbChunks(piiRows)).orderBy($"lang")
    },

    // ---- s19: per-source TOKEN budget on the doc stream — s12's quota
    // weighted by content (a mix builder caps sources by tokens, not doc
    // counts). Truncation semantics: the source closes once its running
    // token total crosses the budget; admitted iff the prefix sum incl.
    // this doc <= 800. State = one long per source in GroupState,
    // carried across real micro-batch boundaries; the oracle is the
    // same decision as one batch window over the prefix sum.
    GraftQuery.sql("s19_stream_token_quota",
      """WITH r AS (SELECT doc_id, source,
        |    CAST(len(regexp_split_to_array(trim(text), '\s+')) AS BIGINT) AS n_tok
        |  FROM documents),
        |w AS (SELECT doc_id, source, n_tok,
        |    SUM(n_tok) OVER (PARTITION BY source ORDER BY doc_id) AS run_tok
        |  FROM r)
        |SELECT source, COUNT(*) AS n_seen,
        |  CAST(SUM(CASE WHEN run_tok <= 800 THEN 1 ELSE 0 END) AS BIGINT)
        |    AS n_admitted,
        |  CAST(SUM(CASE WHEN run_tok <= 800 THEN n_tok ELSE 0 END) AS BIGINT)
        |    AS admitted_tokens,
        |  CAST(SUM(CASE WHEN run_tok <= 800 THEN doc_id ELSE 0 END) AS BIGINT)
        |    AS admitted_id_sum
        |FROM w GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docRows = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", Text.wsTokenCount($"text").as("n_tok"))
        .as[StreamOps.TokDoc].collect().toSeq.sortBy(_.doc_id)
      val in = MemoryStream[StreamOps.TokDoc](s)
      val gated = StreamOps.tokenQuotaGate(in.toDS(), budget = 800L)
      drainChunksToTable(s, gated.toDF(), "append", in, mbChunks(docRows))
        .groupBy($"source")
        .agg(count(lit(1)).as("n_seen"),
          sum($"admitted".cast("long")).as("n_admitted"),
          sum(when($"admitted", $"n_tok").otherwise(0L)).as("admitted_tokens"),
          sum(when($"admitted", $"doc_id").otherwise(0L)).as("admitted_id_sum"))
        .orderBy($"source")
    },

    // ---- s20: EWMA smoothing ON THE STREAM — e22's 8-tap truncated
    // kernel (α = 1/2, integer cents × weights 128…1) as a stateful
    // op: the seven most recent values per user live in GroupState
    // (seven longs, constant forever), each arriving event emits its
    // smoothed value immediately. The kernel truncation is what makes
    // the op streamable at all — the textbook EWMA recursion carries
    // float state and unbounded history; this one is bit-identical to
    // the e22 batch window under in-order per-user delivery (the
    // transport's per-shard order), which the time-split harness feeds
    // and the shared oracle hash-checks.
    GraftQuery.sql("s20_stream_ewma",
      batchOracle("e22_ewma_smooth")) { (s, dir) =>
      import s.implicits._
      import graft.streaming.StreamOps.StatEvent
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.events(s, dir)
        .select($"user_id", $"event_id", unix_micros($"ts").as("tsUs"),
          ($"value".cast("decimal(18,2)") * 100).cast("long").as("vi"),
          $"value")
        .as[StatEvent]
        .collect().sortBy(e => (e.tsUs, e.event_id)).toSeq
      val in = MemoryStream[StatEvent](s)
      val smoothed = StreamOps.ewmaGate(in.toDS())
      // time-split micro-batches: each user's 7-tap ring must fold
      // across the batch boundaries in GroupState
      drainChunksToTable(s, smoothed.toDF(), "append", in, mbChunks(rows))
        .select($"user_id", $"event_id", $"ewma_x256")
        .orderBy($"user_id", $"event_id")
    },

    // ---- s21: heavy hitters ON THE INGEST STREAM — d55's two-pass
    // pattern split across stream and batch the way a 100 TB ingest
    // would run it: the Misra-Gries candidate sketch folds per source
    // in GroupState (≤ 31 counters + one long per source, constant
    // forever — the same HeavyHitters.add update d55's batch
    // Aggregator runs, so the paths cannot drift), each micro-batch
    // emits the source's snapshot, and the LAST snapshot's candidates
    // (superset guarantee over the whole stream) are exactly recounted
    // against the corpus — so the final output equals the plain
    // per-source GROUP BY … HAVING cnt·32 > n and hash-checks, while
    // the stream side never holds more than the sketch.
    GraftQuery.sql("s21_stream_heavy_hitters",
      s"""WITH nd AS (SELECT source,
         |    trim(regexp_replace(lower(text), '\\s+', ' ', 'g')) AS norm FROM documents),
         |tk AS (SELECT source, unnest(string_split(norm, ' ')) AS token FROM nd),
         |tok AS (SELECT source, token FROM tk WHERE token <> ''),
         |tot AS (SELECT source, COUNT(*) AS n FROM tok GROUP BY 1)
         |SELECT t.source, t.token, CAST(COUNT(*) AS BIGINT) AS cnt
         |FROM tok t JOIN tot USING (source)
         |GROUP BY t.source, t.token, tot.n HAVING COUNT(*) * 32 > tot.n
         |ORDER BY source, cnt DESC, token""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Text
      import graft.streaming.StreamOps.HHDoc
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val docRows = Tables.load(s, dir, "documents")
        .select($"doc_id", $"source", Text.tokens($"text").as("toks"))
        .as[HHDoc].collect().toSeq.sortBy(_.doc_id)
        .map(d => d.copy(toks = d.toks.filter(_.nonEmpty)))
      val in = MemoryStream[HHDoc](s)
      val sketched = StreamOps.heavyHitterGate(in.toDS(), capacity = 31)
      val snaps = drainChunksToTable(s, sketched.toDF(), "append", in, mbChunks(docRows))
      // last snapshot per source = the full-stream sketch
      val wLast = org.apache.spark.sql.expressions.Window
        .partitionBy($"source").orderBy($"n".desc)
      val cands = snaps
        .withColumn("rn", row_number().over(wLast)).filter($"rn" === 1)
        .select($"source", $"n".as("n_total"),
          explode(map_keys($"counters")).as("token"))
      // exact recount of candidates only (batch side)
      val tok = Tables.load(s, dir, "documents")
        .select($"source", explode(Text.tokens($"text")).as("token"))
        .filter($"token" =!= "")
      tok.join(cands, Seq("source", "token"))
        .groupBy($"source", $"token", $"n_total")
        .agg(count(lit(1)).as("cnt"))
        .filter($"cnt" * 32 > $"n_total")
        .select($"source", $"token", $"cnt")
        .orderBy($"source", $"cnt".desc, $"token")
    },

    // ---- s22: SEMANTIC decontamination on the ingest stream — the
    // embedding analog of s10's lexical 8-gram gate: arriving vectors
    // are cosine-checked against a static reference set (eval set /
    // blocklist — broadcast into every micro-batch, the realistic
    // plan when the reference is benchmark-sized) with the native
    // codegen'd cosine; the join is stateless stream-static, so no
    // watermark and no state growth, and per-arrival fanout is
    // bounded by that vector's reference matches. A corpus-sized
    // reference swaps the broadcast for d44's IVF bucket join — same
    // verify expression, candidate generation changes. Exact (no ANN
    // on the gate path), so the brute-force SQL cosine is the oracle.
    GraftQuery.sql("s22_stream_semantic_gate",
      """WITH nv AS (SELECT vec_id, embedding,
        |    sqrt(list_sum(list_transform(range(len(embedding)),
        |      i -> CAST(embedding[i+1] AS DOUBLE) * CAST(embedding[i+1] AS DOUBLE)))) AS nrm
        |  FROM embeddings),
        |r AS (SELECT * FROM nv WHERE vec_id % 5 = 0),
        |c AS (SELECT * FROM nv WHERE vec_id % 5 <> 0)
        |SELECT c.vec_id, COUNT(*) AS n_ref_matches,
        |  ROUND(MAX(list_sum(list_transform(range(len(c.embedding)),
        |    i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(r.embedding[i+1] AS DOUBLE)))
        |    / (c.nrm * r.nrm)), 6) AS max_cos
        |FROM c JOIN r ON list_sum(list_transform(range(len(c.embedding)),
        |    i -> CAST(c.embedding[i+1] AS DOUBLE) * CAST(r.embedding[i+1] AS DOUBLE)))
        |    / (c.nrm * r.nrm) >= 0.4
        |GROUP BY c.vec_id ORDER BY c.vec_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import graft.functions.Vectors
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      graft.functions.GraftFunctions.register(s)
      val nv = Tables.load(s, dir, "embeddings")
        .select($"vec_id", $"embedding", Vectors.norm($"embedding").as("nrm"))
      val ref = nv.filter($"vec_id" % 5 === 0)
        .select($"vec_id".as("r_id"), $"embedding".as("r_emb"), $"nrm".as("r_nrm"))
        .persist() // rebuilt per micro-batch otherwise (the s28 lesson)
      val streamRows = nv.filter($"vec_id" % 5 =!= 0)
        .as[(Long, Seq[Float], Double)].collect().toSeq.sortBy(_._1)
      val in = MemoryStream[(Long, Seq[Float], Double)](s)
      val flagged = in.toDF().toDF("vec_id", "emb", "nrm")
        .join(broadcast(ref),
          Vectors.cosineWithNorms($"emb", $"r_emb", $"nrm", $"r_nrm") >= 0.4)
        .select($"vec_id", $"r_id",
          Vectors.cosineWithNorms($"emb", $"r_emb", $"nrm", $"r_nrm").as("cos"))
      drainChunksToTable(s, flagged, "append", in, mbChunks(streamRows))
        .groupBy($"vec_id")
        .agg(count(lit(1)).as("n_ref_matches"), round(max($"cos"), 6).as("max_cos"))
        .orderBy($"vec_id")
    },

    // ---- s7: stream-stream join — clicks joined to purchases of the
    // same user within the following hour, both sides watermarked so
    // join state is bounded by the time-range condition. Inner joins
    // emit every match as it arrives, so the drained result is exact
    // and the batch oracle hash-checks it.
    GraftQuery.sql("s7_stream_stream_join",
      s"""$evCte
         |SELECT c.user_id, COUNT(*) AS n_pairs
         |FROM ev c JOIN ev p ON c.user_id = p.user_id
         |  AND c.event_type = 'click' AND p.event_type = 'purchase'
         |  AND p.ts >= c.ts AND p.ts <= c.ts + INTERVAL 1 HOUR
         |GROUP BY c.user_id ORDER BY c.user_id""".stripMargin) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_type", $"ts")
        .as[(Long, String, java.sql.Timestamp)]
        .collect().toSeq
      val clicks = MemoryStream[(Long, java.sql.Timestamp)](s)
      val purchases = MemoryStream[(Long, java.sql.Timestamp)](s)
      clicks.addData(ev.collect { case (u, "click", t) => (u, t) })
      purchases.addData(ev.collect { case (u, "purchase", t) => (u, t) })
      val c = clicks.toDF().toDF("c_user", "c_ts").withWatermark("c_ts", "2 hours")
      val p = purchases.toDF().toDF("p_user", "p_ts").withWatermark("p_ts", "2 hours")
      val joined = c.join(p,
        $"c_user" === $"p_user" &&
          $"p_ts" >= $"c_ts" && $"p_ts" <= $"c_ts" + expr("INTERVAL 1 HOUR"))
      drainToTable(s, joined, "append")
        .groupBy($"c_user".as("user_id"))
        .agg(count(lit(1)).as("n_pairs"))
        .orderBy($"user_id")
    },

    // ---- s6: stateful gap sessionization through flatMapGroupsWithState
    // (batch execution of the same operator the stream runs; incremental
    // multi-batch state is exercised in StreamingSpec). Oracle identical
    // to e3's session_window reconstruction.
    GraftQuery.sql("s6_stateful_session",
      batchOracle("e3_session_window")) { (s, dir) =>
      import s.implicits._
      val ev = Tables.events(s, dir)
        .select($"user_id", $"event_id", $"ts")
        .as[StreamOps.SessEvent]
      StreamOps.sessionizeBatch(ev, gapMinutes = 30)
        .toDF()
        .orderBy($"user_id", $"session_start_us")
    },

    // ---- s23: the Bloom decontamination gate ON THE STREAM — d62's
    // join-free membership probe as a purely STATELESS streaming
    // projection: the filter's serialized bits ride the plan as one
    // literal into every micro-batch, and each arriving document is
    // flagged map-side by folding the codegen probe over its own
    // shingle-hash array (`size(filter(sh, bloom_contains_long))`) —
    // no explode, no aggregate, NO STREAMING STATE AT ALL. This is the
    // strongest form of the 100 TB claim: ingest-time decontamination
    // whose cost is exactly the projection, in append mode, immune to
    // skew and to state-store growth alike. Bloom insertion is
    // commutative, so the filter built here is bit-identical to d62's
    // and StreamingSpec pins exact stream/batch parity; the oracle is
    // d62's VERBATIM (DecontaminationFilter.oracleSql rebuilds the
    // filter's bits and probe sequence in DuckDB), so the drained
    // stream must hash-match the independent DuckDB replay too.
    GraftQuery.sql("s23_stream_bloom_gate",
      DecontaminationFilter.oracleSql) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      import graft.functions.Text
      graft.functions.GraftFunctions.register(s)
      val docs = Tables.load(s, dir, "documents")
      val bfBytes = DecontaminationFilter.bytes(docs)
      val rows = docs.filter($"doc_id" >= 25)
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().toSeq.sortBy(_._1)
      val in = MemoryStream[(Long, String)](s)
      val gate = in.toDF().toDF("doc_id", "text")
        .select($"doc_id", Text.shingleHashes($"text", 8).as("sh"))
        .select($"doc_id", size($"sh").cast("long").as("n_grams"),
          size(filter($"sh",
            g => call_function("bloom_contains_long", g, lit(bfBytes))))
            .cast("long").as("n_hits"))
        .filter($"n_hits" > 0)
      drainChunksToTable(s, gate, "append", in, mbChunks(rows))
        .orderBy($"doc_id")
    },

    // ---- s24: ONLINE transition counting — e27's Markov edge
    // extraction as a stateful stream op: the per-user state is ONE
    // string (the last event type seen), folded across micro-batches
    // in GroupState; each arriving event emits its (prev → next) edge
    // and the drained edge log aggregates to the identical transition
    // matrix (counts + integer-bps row probabilities) e27 computes
    // with a corpus-wide lag window. Same oracle, so a state mis-fold
    // at any batch boundary breaks the hash; StreamingSpec pins the
    // edge-level stream/batch parity besides.
    GraftQuery.sql("s24_stream_transitions",
      batchOracle("e27_transition_matrix")) { (s, dir) =>
      import s.implicits._
      import StreamOps.TypedEvent
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.events(s, dir)
        .select($"user_id", $"event_id", unix_micros($"ts").as("tsUs"),
          $"event_type")
        .as[TypedEvent]
        .collect().sortBy(e => (e.tsUs, e.event_id)).toSeq
      val in = MemoryStream[TypedEvent](s)
      val edges = StreamOps.transitionGate(in.toDS())
      drainChunksToTable(s, edges.toDF(), "append", in, mbChunks(rows))
        .groupBy($"prev_type", $"next_type")
        .agg(count(lit(1)).as("n"))
        .withColumn("p_bps",
          expr("(n * 10000) div sum(n) over (partition by prev_type)"))
        .orderBy($"prev_type", $"next_type")
    },

    // ---- s25: multimodal VAD ON THE STREAM — d73's signal
    // segmentation as a stateless append-mode pass: each micro-batch's
    // audio payloads run through the SAME codec-stub mapPartitions
    // (Multimodal.detectVoice on the streaming Dataset), emitting five
    // longs per clip with NO streaming state — ingest-time media
    // triage whose cost is exactly the projection, the binary-payload
    // twin of s23's stateless text gate. The projection commutes with
    // micro-batching, so the drain shares d73's oracle verbatim: any
    // batch-boundary effect would break the hash.
    GraftQuery.sql("s25_stream_vad", Docs.vadOracleSql) { (s, dir) =>
      import s.implicits._
      import org.apache.spark.sql.execution.streaming.runtime.MemoryStream
      val rows = Tables.load(s, dir, "documents")
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().toSeq.sortBy(_._1)
      val in = MemoryStream[(Long, String)](s)
      val media = graft.operators.Multimodal.mediaFromDocuments(
        s, in.toDF().toDF("doc_id", "text"))
      val vad = graft.operators.Multimodal
        .detectVoice(media, frame = 160, meanSqThresh = 900L)
      drainChunksToTable(s, vad.toDF(), "append", in, mbChunks(rows))
        .orderBy($"doc_id")
    },

    // ---- s26: binary payload fidelity END-TO-END through the
    // transport — the reference is serialization-format agnostic and
    // streams raw ByteBuffers (reference KinesisSource.scala:68-70).
    // Every document becomes a NON-UTF-8 17-byte payload (0xFF guard
    // byte + its raw md5 digest — 0xFF is never a valid UTF-8 lead, so
    // the text line layout cannot carry it), pushed DISTRIBUTED through
    // the real batching sink into the file transport's binary layout
    // (.recb), then drained back through the DSv2 source's value_bin
    // column. The oracle recomputes base64(0xFF || md5) per document
    // straight from the table: one flipped, dropped, or re-encoded BYTE
    // anywhere in sink → log → source breaks the hash, and duplicate
    // texts must come back with exact multiplicity.
    GraftQuery.sql("s26_binary_roundtrip",
      """SELECT to_base64(unhex('ff' || md5(text))) AS b64,
        |  CAST(COUNT(*) AS BIGINT) AS n
        |FROM documents GROUP BY 1 ORDER BY 1""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Paths.get(
        graft.util.TempDirs.freshUnder("/dev/shm", "graft-binlog"))
      try {
        val writerRoot = root.toString
        Tables.load(s, dir, "documents")
          .select($"doc_id".cast("string").as("k"),
            concat(lit(Array(0xFF.toByte)), unhex(md5($"text"))).as("p"))
          .as[(String, Array[Byte])]
          .foreachPartition { (it: Iterator[(String, Array[Byte])]) =>
            implicit val rec: ToRecord[(String, Array[Byte])] =
              ToRecord.instance(_._1, _._2)
            val sink = BatchingSink.over[(String, Array[Byte])](
              new FileRecordWriter(writerRoot, 4), sleeper = _ => ())
            sink.run(it).foreach { r =>
              if (r.isLeft)
                throw new IllegalStateException(s"binary put failed: $r")
            }
          }
        val stream = s.readStream.format(ShardedLog.Format)
          .option("path", writerRoot)
          .option("startingPosition", "trim_horizon")
          .load()
          .select(base64($"value_bin").as("b64"))
          .groupBy($"b64").agg(count(lit(1)).as("n"))
        drainToTable(s, stream, "complete").orderBy($"b64")
      } finally graft.util.TempDirs.delete(root.toString)
    },

    // ---- s27: shard-skew monitor — the transport-operations twin of
    // the s12/s21 per-source gates: records drain from the sharded log
    // carrying (event_id | epoch_µs) payloads, and the STREAM maintains
    // per (shard, event-day) counts under a 1-hour watermark (ingest is
    // per-shard time-ordered — the transport's own order guarantee, the
    // s5 argument). The hot-shard report — each shard's share of its
    // day in exact basis points, flagged when it exceeds 2× fair share
    // of the 4 shards — is a batch projection over the TINY
    // (days × shards) drained table, so the skew math never touches
    // the stream's state. This is the reshard-decision input a real
    // deployment derives from per-shard throughput (the reference's
    // operational concern in shard discovery/resharding,
    // KinesisSource.scala:175-258, re-expressed as a query).
    GraftQuery.sql("s27_shard_skew",
      s"""$evCte,
         |d AS (SELECT 's' || CAST(user_id % 4 AS VARCHAR) AS shard,
         |    CAST(date_trunc('day', ts) AS DATE) AS wday FROM ev),
         |g AS (SELECT wday, shard, COUNT(*) AS n FROM d GROUP BY 1, 2)
         |SELECT wday, shard, n,
         |  CAST(n * 10000 // SUM(n) OVER (PARTITION BY wday) AS BIGINT) AS share_bp,
         |  CAST(CASE WHEN n * 10000 > 5000 * SUM(n) OVER (PARTITION BY wday)
         |    THEN 1 ELSE 0 END AS BIGINT) AS hot
         |FROM g ORDER BY wday, shard""".stripMargin) { (s, dir) =>
      import s.implicits._
      val root = java.nio.file.Paths.get(
        graft.util.TempDirs.freshUnder("/dev/shm", "graft-skewlog"))
      try {
        // the s1 harness layout with the event time riding in the
        // payload: per-shard files in (event_id ≡ time) order
        Tables.events(s, dir)
          .select($"event_id", unix_micros($"ts").as("us"),
            pmod($"user_id", lit(4)).as("shard"))
          .collect()
          .groupBy(_.getLong(2))
          .foreach { case (shard, rows) =>
            rows.sortBy(_.getLong(0)).toSeq.grouped(2000).zipWithIndex.foreach {
              case (rs, i) =>
                ShardedLog.append(root, s"s$shard", i + 1L,
                  rs.map(r => s"${r.getLong(0)}|${r.getLong(1)}"))
            }
          }
        val counts = s.readStream.format(ShardedLog.Format)
          .option("path", root.toString)
          .option("startingPosition", "trim_horizon")
          .load()
          .select($"shard",
            timestamp_micros(split($"value", "\\|")(1).cast("long")).as("ts"))
          .withWatermark("ts", "1 hour")
          .groupBy(window($"ts", "1 day").as("w"), $"shard")
          .agg(count(lit(1)).as("n"))
        val wDay = org.apache.spark.sql.expressions.Window.partitionBy($"wday")
        drainToTable(s, counts, "complete")
          .select($"w.start".cast("date").as("wday"), $"shard", $"n")
          .withColumn("tot", sum($"n").over(wDay))
          .select($"wday", $"shard", $"n",
            expr("n * 10000 div tot").as("share_bp"),
            ($"n" * 10000 > $"tot" * 5000).cast("long").as("hot"))
          .orderBy($"wday", $"shard")
      } finally graft.util.TempDirs.delete(root.toString)
    },

    // ---- s28: the trigram-LM fluency gate run ON THE STREAM — d82's
    // scorer as an ingest filter: the model (unigram/bigram/trigram
    // counts, Docs.lmCounts — ONE definition with the batch entry)
    // trains batch-side on the static doc_id ≥ 100 slice, and incoming
    // docs score against it in-stream. Trigram positions come from a
    // STATELESS projection (arrays_zip of three shifted slices — the
    // stream-legal form of d82's lag windows; identical triples),
    // stream-static joins attach the counts by gram key, and the
    // per-doc rollup + exact inverse-probability arithmetic is
    // Docs.lmScore VERBATIM — the d62/s23 sharing rule: batch and
    // stream cannot drift, and both replay against the SAME oracle
    // string. Scale shape: the scorer is a projection + gram-keyed
    // joins per micro-batch; per-doc state lives only within the
    // batch that carries the doc.
    GraftQuery.sql("s28_stream_lm_gate",
      batchOracle("d82_trigram_lm")) { (s, dir) =>
      import s.implicits._
      // materialize = true: persist + eagerly count the MODEL tables
      // and free the corpus-sized training intermediates before the
      // drain starts — a stream-static join re-executes the static
      // plan every micro-batch, so without this each batch re-runs
      // the training aggregations (the count tables are vocab-bounded
      // — exactly what belongs in cache; the 100 TB analog is writing
      // the trained model table once and joining micro-batches
      // against it)
      val (c1, big, tri, st) = Docs.lmCounts(s, dir, materialize = true)
      val rows = Tables.load(s, dir, "documents")
        .filter($"doc_id" < 100)
        .select($"doc_id", $"text").as[(Long, String)]
        .collect().sortBy(_._1).toSeq
      val in = MemoryStream[(Long, String)](s)
      // Docs.lmPositions VERBATIM (stream-legal: pure projection) —
      // the same triple derivation d82's eval side and the training
      // counts run, so batch and stream cannot drift
      val positions = Docs.lmPositions(in.toDF().toDF("doc_id", "text"))
      val scored = Docs.lmScore(positions, c1, big, tri, st)
      drainChunksToTable(s, scored, "complete", in, mbChunks(rows))
        .orderBy($"doc_id")
    },

    // ---- s29: the burst monitor ON THE STREAM — e34's daily per-type
    // counts maintained incrementally across micro-batches (the s16
    // weekly-drift pattern: the STREAM owns the count cells, whose
    // state is bounded by the type alphabet × day span, never the
    // event count), then the alerting tail — densify, trailing
    // 7-calendar-day window, cross-multiplied burst flag — runs as a
    // batch projection over the drained grid via Events.burstFromDaily
    // VERBATIM (the d62/s23 sharing rule): stream and batch replay the
    // SAME oracle string, so the alerting rule cannot drift.
    GraftQuery.sql("s29_stream_burst", batchOracle("e34_burst_days")) {
      (s, dir) =>
      import s.implicits._
      val rows = Tables.events(s, dir)
        .select($"ts", $"event_type")
        .as[(java.sql.Timestamp, String)]
        .collect().sortBy(_._1.getTime).toSeq
      val in = MemoryStream[(java.sql.Timestamp, String)](s)
      val counts = in.toDF().toDF("ts", "event_type")
        .withWatermark("ts", "1 hour")
        .groupBy($"event_type", window($"ts", "1 day").as("w"))
        .agg(count(lit(1)).as("n"))
      // localCheckpoint: burstFromDaily reads the drained grid three
      // ways (type alphabet, day bounds, the left join) — self-joining
      // the memory-sink view trips conflicting-reference resolution,
      // and the grid is alphabet × span tiny anyway
      val g = drainChunksToTable(s, counts, "complete", in, mbChunks(rows))
        .select($"event_type", $"w.start".cast("date").as("wday"), $"n")
        .localCheckpoint(true)
      Events.burstFromDaily(g).orderBy($"event_type", $"wday")
    }
  )
}
