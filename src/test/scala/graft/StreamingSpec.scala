package graft

import graft.streaming.StreamOps
import graft.streaming.StreamOps.SessEvent
import java.nio.file.Files
import java.sql.Timestamp
import org.apache.spark.sql.execution.streaming.runtime.MemoryStream

/** Incremental (multi-batch) behavior of the stateful streaming
  * operators (SURVEY.md §2.1 s4/s6): state must carry across
  * micro-batches and event-time timeouts must drive emission. */
class StreamingSpec extends SparkSpec {
  import spark.implicits._

  // Base offset keeps test events strictly above the initial watermark
  // (epoch 0): an event AT the watermark is dropped as late.
  private val BaseMin = 1000
  private def ts(minute: Int): Timestamp = new Timestamp((BaseMin + minute) * 60000L)

  private def drain[A](df: org.apache.spark.sql.DataFrame): Seq[org.apache.spark.sql.Row] = {
    val name = "st_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable(); q.stop()
    spark.table(name).collect().toSeq
  }

  test("text-pipeline operators compose on a stream: streamed quality gate equals batch") {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    // The d-series scoring/fingerprint ops are stateless projections, so
    // a user can run the SAME column expressions on readStream — this
    // pins that contract (and that none secretly needs a batch-only
    // feature), delivered across multiple micro-batches.
    val docs = Tables.load(spark, Sf0001, "documents")
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    def gate(df: org.apache.spark.sql.DataFrame) = df.select(
      $"doc_id",
      Text.fingerprint($"text").as("fp"),
      Text.wsTokenCount($"text").as("n_words"),
      Text.qualityScore($"text", Seq("the", "a")).as("quality"))
    val in = MemoryStream[(Long, String)](spark)
    docs.grouped(math.max(1, docs.size / 3)).foreach(in.addData(_))
    val streamed = drain(gate(in.toDF().toDF("doc_id", "text")))
      .map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    val batch = gate(Tables.load(spark, Sf0001, "documents"))
      .collect().map(r => r.getLong(0) -> (r.getString(1), r.getLong(2), r.getDouble(3))).toMap
    assert(streamed === batch)
  }

  test("s10 streamed decontamination equals batch d20 exactly (sf0.001)") {
    // the stream-side 8-gram probe must flag the same (doc, count) set
    // as the batch operator — contamination decisions can't depend on
    // how the corpus was micro-batched
    val streamed = SparkEntry.queries("s10_stream_decontaminate")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batch = SparkEntry.queries("d20_decontaminate")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("s14 online outlier gate equals the e18 batch prefix window exactly (sf0.001)") {
    // the stateful stream folds (n, Σv, Σv²) per user across
    // micro-batches; with time-ordered ingest the flag set must be
    // bit-identical to the batch window formulation — state continuity
    // across the 4 harness batches is exactly what's being proven
    val streamed = SparkEntry.queries("s14_stream_running_outliers")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    val batch = SparkEntry.queries("e18_running_outliers")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2), r.getLong(3)))
    assert(streamed.nonEmpty, "sf0.001 should contain running outliers")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s15 incremental OHLC equals the e16 batch downsample exactly (sf0.001)") {
    // open/close via min_by/max_by must merge across the 4 harness
    // micro-batches to the same bars as the batch window formulation
    val streamed = SparkEntry.queries("s15_stream_ohlc_bars")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    val batch = SparkEntry.queries("e16_ohlc_bars")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getDate(1).toString, r.getDouble(2),
        r.getDouble(3), r.getDouble(4), r.getDouble(5), r.getLong(6)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s20 streamed EWMA equals the e22 batch lag window exactly (sf0.001)") {
    // the 7-tap ring in GroupState must fold across the 4 harness
    // micro-batches: a lost or reordered tap shifts every subsequent
    // smoothed value, so full equality proves state continuity
    val streamed = SparkEntry.queries("s20_stream_ewma")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    val batch = SparkEntry.queries("e22_ewma_smooth")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2)))
    assert(streamed.nonEmpty)
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s22 streamed semantic gate equals the identically-parameterized batch join (sf0.001)") {
    import graft.functions.Vectors
    import org.apache.spark.sql.functions._
    graft.functions.GraftFunctions.register(spark)
    val streamed = SparkEntry.queries("s22_stream_semantic_gate")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    val nv = Tables.load(spark, Sf0001, "embeddings")
      .select($"vec_id", $"embedding", Vectors.norm($"embedding").as("nrm"))
    val ref = nv.filter($"vec_id" % 5 === 0)
      .select($"vec_id".as("r_id"), $"embedding".as("r_emb"), $"nrm".as("r_nrm"))
    val batch = nv.filter($"vec_id" % 5 =!= 0)
      .join(broadcast(ref),
        Vectors.cosineWithNorms($"embedding", $"r_emb", $"nrm", $"r_nrm") >= 0.4)
      .groupBy($"vec_id")
      .agg(count(lit(1)).as("n"),
        round(max(Vectors.cosineWithNorms($"embedding", $"r_emb", $"nrm", $"r_nrm")), 6))
      .orderBy($"vec_id")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getDouble(2)))
    assert(streamed.nonEmpty, "sf0.001 should contain cross-half semantic matches")
    assert(streamed.toSeq === batch.toSeq)
  }

  test("s11 streamed near-dup gate equals the identically-parameterized batch plan (sf0.001)") {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    // the LSH band probe must flag the same (incoming doc → n reference
    // candidates) set however the stream was micro-batched: the gate is
    // a stream-static join, so its output is a pure function of the data
    val streamed = SparkEntry.queries("s11_stream_neardup_gate")(spark, Sf0001)
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed.nonEmpty, "gate found no candidates — harness split broken")
    // batch twin, same params as the query (64 perms, 16x4 bands, k=3)
    def bandHashes(df: org.apache.spark.sql.DataFrame) = {
      val sig = df.select($"doc_id",
        call_function("minhash_sig", Text.shingleHashes($"text", 3),
          lit(64), lit(42L)).as("sig"))
      val bandCols = (0 until 16).map(b => hash(slice($"sig", b * 4 + 1, 4)).cast("long"))
      sig.select($"doc_id", posexplode(array(bandCols: _*)))
        .toDF("doc_id", "band_idx", "band_hash")
    }
    val all = Tables.load(spark, Sf0001, "documents")
    val ref = bandHashes(all.filter($"doc_id" < 250)).withColumnRenamed("doc_id", "ref_id")
    val batch = bandHashes(all.filter($"doc_id" >= 250))
      .join(ref, Seq("band_idx", "band_hash"))
      .groupBy($"doc_id").agg(countDistinct($"ref_id").as("n"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamed === batch)
  }

  test("native codegen expressions run under streaming execution: minhash/simhash parity") {
    import org.apache.spark.sql.functions._
    import graft.functions.Text
    // the custom Catalyst expressions must behave identically inside a
    // streaming plan (incremental execution wraps them in a different
    // codegen context than batch) — signature drift here would silently
    // desync an ingest-side LSH index from a batch-built one
    val docs = Tables.load(spark, Sf0001, "documents")
      .filter($"doc_id" < 100)
      .select($"doc_id", $"text").as[(Long, String)].collect().toSeq
    def sigs(df: org.apache.spark.sql.DataFrame) = df.select(
      $"doc_id",
      call_function("minhash_sig", Text.hashed(Text.wordShingles($"text", 3)),
        lit(64), lit(42L)).as("sig"),
      call_function("simhash64", Text.hashed(Text.wordShingles($"text", 3))).as("sim"))
    val in = MemoryStream[(Long, String)](spark)
    docs.grouped(40).foreach(in.addData(_))
    val streamed = drain(sigs(in.toDF().toDF("doc_id", "text")))
      .map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    val batch = sigs(Tables.load(spark, Sf0001, "documents").filter($"doc_id" < 100))
      .collect().map(r => r.getLong(0) -> (r.getSeq[Long](1), r.getLong(2))).toMap
    assert(streamed.keySet === batch.keySet)
    streamed.foreach { case (id, (sig, sim)) =>
      assert(sig === batch(id)._1, s"minhash signature drift for doc $id")
      assert(sim === batch(id)._2, s"simhash drift for doc $id")
    }

    // same guarantee for the vector expression: streamed LSH bucket
    // codes (vec_dot against the literal hyperplanes) must equal batch
    import graft.operators.AnnLsh
    val vecs = Tables.load(spark, Sf0001, "embeddings")
      .filter($"vec_id" < 100).select($"vec_id", $"embedding")
      .as[(Long, Array[Float])].collect().toSeq
    val vin = MemoryStream[(Long, Array[Float])](spark)
    vecs.grouped(40).foreach(vin.addData(_))
    val streamedCodes = drain(vin.toDF().toDF("vec_id", "embedding")
      .select($"vec_id", AnnLsh.bucketCode($"embedding").as("code")))
      .map(r => r.getLong(0) -> r.getLong(1)).toMap
    val batchCodes = Tables.load(spark, Sf0001, "embeddings")
      .filter($"vec_id" < 100)
      .select($"vec_id", AnnLsh.bucketCode($"embedding").as("code"))
      .collect().map(r => r.getLong(0) -> r.getLong(1)).toMap
    assert(streamedCodes === batchCodes, "LSH bucket-code drift between stream and batch")
  }

  test("s6 streaming sessionization: state spans micro-batches, timeout emits") {
    val in = MemoryStream[SessEvent](spark)
    val sessions = StreamOps.sessionizeStream(in.toDS(), gapMinutes = 30, horizon = "0 seconds")

    // batch 1: user 1 events at t=0..10; batch 2 EXTENDS the same session
    // at t=20 — a session split here would betray lost state — then a gap
    // to t=120 opens a new session; the sentinel at t=1000 advances the
    // watermark far enough to time out and flush everything real.
    in.addData(SessEvent(1, 1, ts(0)), SessEvent(1, 2, ts(10)))
    val name = "st_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = sessions.toDF().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    q.processAllAvailable()
    in.addData(SessEvent(1, 3, ts(20)), SessEvent(1, 4, ts(120)))
    q.processAllAvailable()
    in.addData(SessEvent(99, 9, ts(1000))) // watermark sentinel
    q.processAllAvailable(); q.stop()

    val got = spark.table(name)
      .filter($"user_id" === 1)
      .collect().map(r => (r.getLong(1) / 60000000L - BaseMin, r.getLong(2))).toSet
    // one 3-event session starting t=0 (extended across batches), one
    // 1-event session starting t=120
    assert(got === Set((0L, 3L), (120L, 1L)))
  }

  test("s12 quota gate: the admission count survives micro-batch boundaries") {
    import graft.streaming.StreamOps.QuotaDoc
    val in = MemoryStream[QuotaDoc](spark)
    val gated = StreamOps.quotaGate(in.toDS(), cap = 2L)

    val name = "st_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = gated.toDF().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    // batch 1 fills source A's quota of 2; batch 2's A-doc must be
    // REJECTED (a reset-per-batch counter would admit it) while source
    // B, first seen in batch 2, still admits.
    in.addData(QuotaDoc(1, "A"), QuotaDoc(2, "A"))
    q.processAllAvailable()
    in.addData(QuotaDoc(3, "A"), QuotaDoc(4, "B"))
    q.processAllAvailable(); q.stop()

    val got = spark.table(name).collect()
      .map(r => r.getLong(0) -> (r.getLong(2), r.getBoolean(3))).toMap
    assert(got === Map(
      1L -> (1L, true), 2L -> (2L, true), 3L -> (3L, false), 4L -> (1L, true)))
  }

  test("s19 token budget: the running total survives batches; a too-big doc closes the source") {
    import graft.streaming.StreamOps.TokDoc
    val in = MemoryStream[TokDoc](spark)
    val gated = StreamOps.tokenQuotaGate(in.toDS(), budget = 10L)

    val name = "st_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = gated.toDF().writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    // batch 1 spends 7 of A's 10-token budget; batch 2's 5-token A-doc
    // crosses it (7+5=12 > 10) and must be REJECTED even though A has
    // budget "left" — truncation semantics — and everything after stays
    // rejected. B's running total is independent.
    in.addData(TokDoc(1, "A", 3), TokDoc(2, "A", 4))
    q.processAllAvailable()
    in.addData(TokDoc(3, "A", 5), TokDoc(4, "A", 1), TokDoc(5, "B", 9))
    q.processAllAvailable(); q.stop()

    val got = spark.table(name).collect()
      .map(r => r.getLong(0) -> (r.getLong(3), r.getBoolean(4))).toMap
    assert(got === Map(
      1L -> (3L, true), 2L -> (7L, true), 3L -> (12L, false),
      4L -> (13L, false), 5L -> (9L, true)))
  }

  test("s6 batch and streaming sessionization agree on real data (sf0.001)") {
    val ev = Tables.events(spark, Sf0001)
      .select($"user_id", $"event_id", $"ts").as[SessEvent]
    val batch = StreamOps.sessionizeBatch(ev, 30).collect()
      .map(s => (s.user_id, s.session_start_us, s.n_events)).toSet

    val rows = ev.collect().sortBy(e => e.ts.getTime).toSeq
    val in = MemoryStream[SessEvent](spark)
    // split on a distinct-timestamp boundary: the watermark after batch 1
    // sits at its max event time, and events <= watermark are dropped, so
    // a timestamp tie across the split would silently lose events
    val cut = rows(rows.size / 2).ts.getTime
    val (first, second) = rows.partition(_.ts.getTime <= cut)
    val sentinel = SessEvent(-1L, -1L, new Timestamp(rows.map(_.ts.getTime).max + 86400000L))
    val streamed = StreamOps.sessionizeStream(in.toDS(), 30, "0 seconds")
    in.addData(first)
    in.addData(second)
    in.addData(sentinel)
    val got = drain(streamed.toDF())
      .filter(_.getLong(0) >= 0)
      .map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).toSet
    assert(got === batch)
  }

  // ---- state BOUNDS, not just results: the 100 TB claim for the
  // complete-mode summary entries is "state scales with the summary,
  // not the stream". These guards read the engine's own state-store
  // accounting (StreamingQueryProgress.stateOperators.numRowsTotal)
  // after every micro-batch, so a regression that silently starts
  // keying state by event (or leaking evicted groups) fails here even
  // while results stay correct.

  /** Drain `chunks` as real micro-batches, recording the state-store
    * row total after each one. */
  private def drainWithStateTotals[A](df: org.apache.spark.sql.DataFrame,
      outputMode: String, in: MemoryStream[A],
      chunks: Seq[Seq[A]]): (Seq[org.apache.spark.sql.Row], Seq[Long]) = {
    val name = "st_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = df.writeStream.format("memory").queryName(name)
      .outputMode(outputMode)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try {
      val totals = chunks.map { c =>
        in.addData(c); q.processAllAvailable()
        // latest progress entry that actually carries state accounting
        // (a trailing no-data batch can report none)
        q.recentProgress.reverse.find(_.stateOperators.nonEmpty)
          .map(_.stateOperators.map(_.numRowsTotal).sum).getOrElse(0L)
      }
      (spark.table(name).collect().toSeq, totals)
    } finally q.stop()
  }

  test("s13/s15/s16 shapes: complete-mode state cardinality equals the summary, not the stream") {
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, Sf0001)
      .select($"user_id", $"ts", $"event_id", $"value")
      .as[(Long, Timestamp, Long, Double)].collect().sortBy(_._2.getTime).toSeq
    val nEvents = rows.size
    def chunks = rows.grouped(math.max(1, nEvents / 4)).toSeq

    // s15 shape: per-(user, day) OHLC — state rows == bars
    val in15 = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val bars = in15.toDF().toDF("user_id", "ts", "event_id", "value")
      .groupBy($"user_id", date_trunc("day", $"ts").cast("date").as("day"))
      .agg(min_by($"value", struct($"ts", $"event_id")).as("open"),
        max($"value").as("high"), min($"value").as("low"),
        max_by($"value", struct($"ts", $"event_id")).as("close"),
        count(lit(1)).as("n"))
    val (barRows, barState) = drainWithStateTotals(bars, "complete", in15, chunks)
    assert(barState === barState.sorted, "state totals must be monotone under complete mode")
    assert(barState.last === barRows.size.toLong,
      s"s15 state ${barState.last} != ${barRows.size} (user, day) bars")
    assert(barState.last < nEvents, "state must be summary-sized, not stream-sized")

    // s13 shape: per-(day, value-bin) histogram — state rows == cells
    val in13 = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val binned = in13.toDF().toDF("user_id", "ts", "event_id", "value")
      .groupBy(date_trunc("day", $"ts").cast("date").as("day"),
        floor($"value" / 10).cast("long").as("bin"))
      .agg(count(lit(1)).as("c"))
    val (binRows, binState) = drainWithStateTotals(binned, "complete", in13, chunks)
    assert(binState.last === binRows.size.toLong,
      s"s13 state ${binState.last} != ${binRows.size} day-bins")
    assert(binState.last < nEvents)

    // s16 shape: per-(user, week) drift cells — state rows == user-weeks
    val in16 = MemoryStream[(Long, Timestamp, Long, Double)](spark)
    val weekly = in16.toDF().toDF("user_id", "ts", "event_id", "value")
      .groupBy($"user_id", date_trunc("week", $"ts").cast("date").as("week"))
      .agg(count(lit(1)).as("n"))
    val (wkRows, wkState) = drainWithStateTotals(weekly, "complete", in16, chunks)
    assert(wkState.last === wkRows.size.toLong,
      s"s16 state ${wkState.last} != ${wkRows.size} user-weeks")
    assert(wkState.last < nEvents)
  }

  test("s14: GroupState is one RunStats row per user — three longs, flat in events") {
    import graft.streaming.StreamOps.StatEvent
    import org.apache.spark.sql.functions._
    val rows = Tables.events(spark, Sf0001)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tsUs"),
        ($"value".cast("decimal(18,2)") * 100).cast("long").as("vi"), $"value")
      .as[StatEvent].collect().sortBy(e => (e.tsUs, e.event_id)).toSeq
    val nUsers = rows.map(_.user_id).distinct.size
    val in = MemoryStream[StatEvent](spark)
    val flagged = StreamOps.runningOutlierGate(in.toDS(), minPrior = 30L)
    val (_, totals) = drainWithStateTotals(flagged.toDF(), "append", in,
      rows.grouped(math.max(1, rows.size / 4)).toSeq)
    // RunStats is (n: Long, s: Long, q: Long) — the row count is the
    // whole state story: one row per user, never per event
    assert(totals.last === nUsers.toLong,
      s"s14 state ${totals.last} != $nUsers users")
    assert(totals.max === nUsers.toLong, "state never exceeds the user count")
  }

  test("s4 watermarked dedup drops redeliveries across batches but keeps state bounded") {
    val in = MemoryStream[(Long, Timestamp)](spark)
    val deduped = StreamOps.dedupWithinWatermark(
      in.toDF().toDF("id", "ts"), "ts", "10 minutes", Seq("id"))
    val name = "st_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = deduped.writeStream.format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    in.addData((1L, ts(0)), (2L, ts(1)))
    q.processAllAvailable()
    in.addData((1L, ts(2))) // redelivery within horizon -> dropped
    q.processAllAvailable()
    in.addData((3L, ts(60))) // advances watermark past id=1's horizon
    q.processAllAvailable()
    in.addData((1L, ts(61))) // same key, far outside horizon -> state evicted, passes
    q.processAllAvailable(); q.stop()
    val ids = spark.table(name).collect().map(_.getLong(0)).toSeq
    assert(ids.count(_ == 1L) === 2, "dup within horizon dropped; post-eviction kept")
    assert(ids.toSet === Set(1L, 2L, 3L))
  }

  test("s13/s16 at the one drain shape equal their batch twins e15/e19 (sf0.001)") {
    // a drained table must not depend on how its input was split into
    // micro-batches: the mergeable histogram (complete-mode re-agg) and
    // the per-week sums under a lag equal, row for row, the batch entries
    // whose oracle they share
    Seq("s13_stream_histogram_quantiles" -> "e15_mergeable_quantiles",
      "s16_stream_weekly_drift" -> "e19_weekly_drift").foreach { case (s, e) =>
      val streamed = SparkEntry.queries(s)(spark, Sf0001).collect().toSeq
      val batch = SparkEntry.queries(e)(spark, Sf0001).collect().toSeq
      assert(streamed.nonEmpty, s"$s drained empty")
      assert(streamed === batch, s"$s differs from $e")
    }
  }

  test("s23 stream Bloom gate: bit-identical to the d62 batch gate, zero streaming state") {
    // Bloom insertion is commutative, so the stream-built filter equals
    // d62's batch-built one and the flags must match EXACTLY, false
    // positives included
    val stream = SparkEntry.queries("s23_stream_bloom_gate")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    val batch = SparkEntry.queries("d62_bloom_decontaminate")(spark, Sf0001)
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getLong(2))).sorted
    assert(stream.nonEmpty)
    assert(stream.toSeq === batch.toSeq)
  }

  test("s24: GroupState is ONE row per user — flat in events, equal to user count") {
    import org.apache.spark.sql.functions._
    import StreamOps.TypedEvent
    val rows = Tables.events(spark, Sf0001)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tsUs"), $"event_type")
      .as[TypedEvent].collect().sortBy(e => (e.tsUs, e.event_id)).toSeq
    val nUsers = rows.map(_.user_id).distinct.size.toLong
    val in = MemoryStream[TypedEvent](spark)
    val (_, totals) = drainWithStateTotals(
      StreamOps.transitionGate(in.toDS()).toDF(), "append", in,
      rows.grouped(math.max(1, rows.size / 4)).toSeq)
    // after every batch the state is exactly one TransState per user
    // seen so far — it never grows with event history
    assert(totals.last === nUsers,
      s"state rows ${totals.last} != users $nUsers")
    assert(totals === totals.sorted, "state must only grow with new users")
  }

  test("s24 edge stream equals the batch lag edges, state folded across batches (sf0.001)") {
    // EDGE-level parity (stronger than the s24 entry's aggregated
    // matrix): every (user, event, prev → next) attribution must match
    // the batch lag window, so a state mis-fold at a batch boundary
    // that happens to preserve pair COUNTS still fails here.
    import org.apache.spark.sql.functions._
    import StreamOps.TypedEvent
    val rows = Tables.events(spark, Sf0001)
      .select($"user_id", $"event_id", unix_micros($"ts").as("tsUs"), $"event_type")
      .as[TypedEvent].collect().sortBy(e => (e.tsUs, e.event_id)).toSeq
    val in = MemoryStream[TypedEvent](spark)
    val name = "st_" + java.util.UUID.randomUUID().toString.replace("-", "")
    val q = StreamOps.transitionGate(in.toDS()).toDF().writeStream
      .format("memory").queryName(name)
      .option("checkpointLocation", Files.createTempDirectory("ckpt").toString)
      .start()
    try rows.grouped(math.max(1, rows.size / 4)).foreach { c =>
      in.addData(c); q.processAllAvailable()
    } finally q.stop()
    val streamed = spark.table(name).collect()
      .map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    val w = org.apache.spark.sql.expressions.Window
      .partitionBy($"user_id").orderBy($"tsUs", $"event_id")
    val batch = rows.toDF()
      .withColumn("prev_type", lag($"event_type", 1).over(w))
      .filter($"prev_type".isNotNull)
      .select($"user_id", $"event_id", $"prev_type", $"event_type")
      .collect().map(r => (r.getLong(0), r.getLong(1), r.getString(2), r.getString(3)))
    assert(streamed.nonEmpty)
    assert(streamed.length === batch.length)
    assert(streamed.toSet === batch.toSet)
  }

  test("state-store providers are interchangeable: RocksDB equals the default store") {
    // the drain harness honors graft.stream.stateStore=rocksdb — the
    // provider a 100 TB deployment runs (per-key state spills beyond
    // executor heap). Run the suite's three state-shape archetypes —
    // GroupState fold (s14), watermarked dedup (s9), complete-mode
    // re-aggregation (s15) — under both providers; results must be
    // row-identical. This is the guard that no operator depends on
    // HDFSBackedStateStore quirks (e.g. in-JVM object identity).
    def run(name: String): Set[org.apache.spark.sql.Row] =
      SparkEntry.queries(name)(spark, Sf0001).collect().toSet
    for (entry <- Seq("s14_stream_running_outliers", "s9_stream_content_dedup",
        "s15_stream_ohlc_bars")) {
      val default = run(entry)
      spark.conf.set("graft.stream.stateStore", "rocksdb")
      val rocks = try run(entry)
        finally spark.conf.unset("graft.stream.stateStore")
      assert(default.nonEmpty, s"$entry drained empty")
      assert(rocks === default, s"$entry differs across state-store providers")
    }
  }
}
