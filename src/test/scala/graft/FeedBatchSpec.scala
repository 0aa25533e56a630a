package graft

import java.util.concurrent.ConcurrentHashMap
import org.apache.spark.scheduler.{SparkListener, SparkListenerEvent, SparkListenerStageCompleted,
  SparkListenerStageSubmitted}
import org.apache.spark.sql.execution.ui.SparkListenerSQLExecutionStart
import scala.jdk.CollectionConverters._

/** A fed s-entry's micro-batches are its drain's feeds: a chunked entry
  * runs `Streaming.DrainChunks` non-empty batches, and a redelivery
  * entry's second copy of its input arrives in a batch of its own.
  * Results cannot show this (s4 deduplicates the same whether the
  * redelivery shares the first batch or not), so the batches are counted
  * from the drain's jobs: each stage a streaming query submits carries
  * the query id and batch id, and the stage that reads the source
  * records how many rows it read. Every feed is read through the
  * sharded-log source, which the drains' physical plans name. */
class FeedBatchSpec extends SparkSpec {

  /** Runs `entry` with `listener` on the context's bus, until the bus
    * has delivered every event the run posted. */
  private def observe(entry: String)(listener: SparkListener): Unit = {
    val sc = spark.sparkContext
    sc.addSparkListener(listener)
    try {
      SparkEntry.queries(entry)(spark, Sf0001).collect()
      // events arrive asynchronously; `listenerBus` is Spark-private
      val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
      bus.getClass.getMethod("waitUntilEmpty").invoke(bus)
    } finally sc.removeSparkListener(listener)
  }

  /** Rows read by each non-empty batch, in batch order, per drain the
    * entry runs. */
  private def batchInputs(entry: String): Seq[Seq[Long]] = {
    val batchOf = new ConcurrentHashMap[Int, (String, Long)]()
    val read = new ConcurrentHashMap[(String, Long), java.lang.Long]()
    observe(entry)(new SparkListener {
      override def onStageSubmitted(e: SparkListenerStageSubmitted): Unit =
        Option(e.properties).foreach { p =>
          val query = p.getProperty("sql.streaming.queryId")
          val batch = p.getProperty("streaming.sql.batchId")
          if (query != null && batch != null)
            batchOf.put(e.stageInfo.stageId, (query, batch.toLong))
        }
      override def onStageCompleted(e: SparkListenerStageCompleted): Unit =
        for {
          key <- Option(batchOf.get(e.stageInfo.stageId))
          metrics <- Option(e.stageInfo.taskMetrics)
        } read.merge(key, metrics.inputMetrics.recordsRead, (a, b) => a + b)
    })
    read.asScala.toSeq.filter(_._2 > 0)
      .groupBy { case ((query, _), _) => query }.values
      .map(_.sortBy { case ((_, batch), _) => batch }.map(_._2.longValue)).toSeq
  }

  test("a chunked entry runs DrainChunks non-empty batches") {
    val docs = Tables.load(spark, Sf0001, "documents").count()
    val Seq(batches) = batchInputs("s8_stream_quality_gate")
    assert(batches.size === graft.queries.Streaming.DrainChunks, s"batch rows $batches")
    assert(batches.sum === docs)
  }

  test("s4's redelivery arrives in its own batch") {
    val events = Tables.events(spark, Sf0001).count()
    assert(batchInputs("s4_watermark_dedup") === Seq(Seq(events, events)))
  }

  /** The description of every streaming scan in the physical plans the
    * entry's executions report, one per scan node per micro-batch. */
  private def streamingScans(entry: String): Seq[String] = {
    val plans = new java.util.concurrent.ConcurrentLinkedQueue[String]()
    observe(entry)(new SparkListener {
      override def onOtherEvent(e: SparkListenerEvent): Unit = e match {
        case s: SparkListenerSQLExecutionStart => plans.add(s.physicalPlanDescription)
        case _ =>
      }
    })
    // formatted mode: "(n) MicroBatchScan", its Output line, then the scan
    val scan = """\(\d+\) MicroBatchScan\n[^\n]*\n([^\n]*)""".r
    plans.asScala.toSeq.flatMap(p => scan.findAllMatchIn(p).map(_.group(1)))
  }

  test("every feed reads the sharded log: s4, s7 and s8 scan ShardedLogTable, not MemoryStream") {
    for (entry <- Seq("s4_watermark_dedup", "s7_stream_stream_join", "s8_stream_quality_gate")) {
      val scans = streamingScans(entry)
      assert(scans.nonEmpty, s"$entry: no streaming scan in its plans")
      assert(scans.forall(_.startsWith("class graft.streaming.ShardedLogTable")),
        s"$entry scans ${scans.distinct}")
    }
  }
}
