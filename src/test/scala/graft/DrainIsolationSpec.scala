package graft

import java.util.concurrent.{ConcurrentHashMap, ConcurrentLinkedQueue}
import org.apache.spark.scheduler.{SparkListener, SparkListenerStageSubmitted}
import org.apache.spark.sql.DataFrame
import org.apache.spark.sql.execution.exchange.ShuffleExchangeExec
import org.apache.spark.sql.execution.columnar.InMemoryTableScanExec
import org.apache.spark.sql.execution.SparkPlan
import scala.jdk.CollectionConverters._

/** Streaming drains run in their own cloned session, so under the
  * concurrent Verify loop they and batch entries never see each other's
  * confs: two s-family drains (RocksDB state, their own partition count)
  * and two batch entries that size their plans from the caller's
  * `spark.sql.shuffle.partitions` run on four threads at once. The
  * caller is a session of its own with 7 shuffle partitions, so the
  * batch plans' 7 and the drains' `Streaming.DrainParts` differ. */
class DrainIsolationSpec extends SparkSpec {

  private val drains = Seq("s9_stream_content_dedup", "s14_stream_running_outliers")
  private val batches = Seq("d9_embedding_neardup", "d38_semdedup")
  private val providerKey = "spark.sql.streaming.stateStore.providerClass"
  private val callerParts = 7

  private def exchanges(plan: SparkPlan): Seq[ShuffleExchangeExec] =
    plan.collect {
      case e: ShuffleExchangeExec => Seq(e)
      case m: InMemoryTableScanExec => exchanges(m.relation.cachedPlan)
    }.flatten

  private def rows(df: DataFrame): Seq[String] = df.collect().map(_.toString).toSeq.sorted

  test("concurrent drains leave the caller's conf and batch plans alone") {
    val caller = spark.newSession()
    caller.conf.set("spark.sql.shuffle.partitions", callerParts.toLong)
    caller.conf.set("graft.stream.stateStore", "rocksdb")
    val callerProvider = caller.conf.getOption(providerKey)
    val drainParts = graft.queries.Streaming.DrainParts
    // task counts of the stages the drains' streaming queries submit
    val stageTasks = new ConcurrentLinkedQueue[Int]()
    val listener = new SparkListener {
      override def onStageSubmitted(s: SparkListenerStageSubmitted): Unit =
        if (Option(s.properties).exists(_.getProperty("sql.streaming.queryId") != null))
          stageTasks.add(s.stageInfo.numTasks)
    }
    spark.sparkContext.addSparkListener(listener)
    try {
      val names = drains ++ batches
      val sequential = names.map(n => n -> rows(SparkEntry.queries(n)(caller, Sf0001))).toMap

      val results = new ConcurrentHashMap[String, Seq[String]]()
      val exchangeParts = new ConcurrentLinkedQueue[(String, Int)]()
      val errors = new ConcurrentLinkedQueue[Throwable]()
      val threads = names.map { n =>
        new Thread(() => {
          try {
            val df = SparkEntry.queries(n)(caller, Sf0001)
            if (batches.contains(n))
              exchanges(df.queryExecution.executedPlan)
                .foreach(e => exchangeParts.add(n -> e.outputPartitioning.numPartitions))
            results.put(n, rows(df))
          } catch { case t: Throwable => errors.add(t) }
        })
      }
      threads.foreach(_.start())
      val seenParts = scala.collection.mutable.Set[String]()
      val seenProvider = scala.collection.mutable.Set[Option[String]]()
      while (threads.exists(_.isAlive)) {
        seenParts += caller.conf.get("spark.sql.shuffle.partitions")
        seenProvider += caller.conf.getOption(providerKey)
        Thread.sleep(2)
      }
      threads.foreach(_.join())
      assert(errors.isEmpty, errors.asScala.map(_.toString).mkString("\n"))

      assert(seenParts === Set(callerParts.toString), "a drain changed the caller's shuffle.partitions")
      assert(seenProvider === Set(callerProvider), "a drain changed the caller's state-store provider")
      assert(caller.conf.get("spark.sql.shuffle.partitions") === callerParts.toString)
      assert(caller.conf.getOption(providerKey) === callerProvider)

      batches.foreach { n =>
        val parts = exchangeParts.asScala.filter(_._1 == n).map(_._2).filter(_ > 1).toSet
        assert(parts === Set(callerParts), s"$n planned exchanges with $parts partitions")
      }
      assert(stageTasks.asScala.toSet.contains(drainParts),
        s"no stage ran with the drains' $drainParts state partitions")
      assert(!stageTasks.asScala.toSet.contains(callerParts),
        s"a drain stage ran with the caller's $callerParts partitions")

      names.foreach { n =>
        assert(results.get(n).nonEmpty, s"$n is empty")
        assert(results.get(n) === sequential(n), s"$n differs from its sequential run")
      }
    } finally spark.sparkContext.removeSparkListener(listener)
  }

  /** Streaming listener buses on the context's event bus. Every session
    * that runs a query adds one; `listenerBus` is Spark-private, so it is
    * read by reflection. */
  private def queryBuses(): Int = {
    val sc = spark.sparkContext
    val bus = sc.getClass.getMethod("listenerBus").invoke(sc)
    bus.getClass.getMethod("listeners").invoke(bus)
      .asInstanceOf[java.util.List[AnyRef]].asScala
      .count(_.getClass.getSimpleName == "StreamingQueryListenerBus")
  }

  test("drains leave no streaming listener bus on the context") {
    val entry = SparkEntry.queries("s4_watermark_dedup")
    entry(spark, Sf0001).collect()
    val before = queryBuses()
    (1 to 25).foreach(_ => entry(spark, Sf0001).collect())
    assert(queryBuses() === before, "each drain left a listener bus behind")
  }
}
