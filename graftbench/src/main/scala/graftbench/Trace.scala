package graftbench

import java.lang.management.ManagementFactory
import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path}
import java.util.concurrent.ConcurrentLinkedQueue
import java.util.concurrent.atomic.AtomicInteger
import org.apache.spark.scheduler._
import org.apache.spark.sql.SparkSession
import scala.collection.concurrent.TrieMap
import scala.jdk.CollectionConverters._

/** The benchmark's own tracing, timed from outside the program: spans
  * around every wrapped call, unit, entry and phase, and counters taken
  * at the same points. Spans stay in memory and are written as JSONL
  * when the run ends. With tracing off, [[span]] runs its body and
  * records nothing, and no listener or wrapper is installed.
  */
object Trace {
  @volatile var on = false
  /** True while a measured unit runs. */
  @volatile var measuring = false

  final case class Span(id: Int, parent: Int, name: String, startNs: Long, endNs: Long)
  private val spans = new ConcurrentLinkedQueue[Span]()
  private val ids = new AtomicInteger(0)
  private val current = new ThreadLocal[Integer] { override def initialValue(): Integer = 0 }

  def span[T](name: String)(body: => T): T =
    if (!on) body
    else {
      val id = ids.incrementAndGet()
      val parent = current.get()
      current.set(id)
      val t0 = System.nanoTime()
      try body
      finally {
        spans.add(Span(id, parent, name, t0, System.nanoTime()))
        current.set(parent)
      }
    }

  /** Counters named `layer.metric`, summed across threads. */
  private val counters = TrieMap.empty[String, java.util.concurrent.atomic.DoubleAdder]
  def add(name: String, v: Double): Unit =
    counters.getOrElseUpdate(name, new java.util.concurrent.atomic.DoubleAdder).add(v)

  /** Per-call durations kept in call order (the transport's put calls). */
  private val series = TrieMap.empty[String, ConcurrentLinkedQueue[java.lang.Double]]
  def record(name: String, v: Double): Unit =
    series.getOrElseUpdate(name, new ConcurrentLinkedQueue[java.lang.Double]()).add(v)
  def seriesOf(name: String): Vector[Double] =
    series.get(name).map(_.asScala.map(_.doubleValue).toVector).getOrElse(Vector.empty)

  def writeJsonl(path: Path, counterLines: Seq[(String, Double)]): Unit = {
    val sb = new StringBuilder
    spans.asScala.toSeq.sortBy(_.startNs).foreach { s =>
      sb.append(Json.obj("span" -> Json.str(s.name), "id" -> Json.num(s.id),
        "parent" -> Json.num(s.parent), "start_ns" -> Json.num(s.startNs),
        "end_ns" -> Json.num(s.endNs))).append('\n')
    }
    counterLines.foreach { case (k, v) =>
      sb.append(Json.obj("counter" -> Json.str(k), "value" -> Json.num(v))).append('\n')
    }
    Files.write(path, sb.toString.getBytes(StandardCharsets.UTF_8))
  }

  // ---- engine: Spark execution of operators, functions and plans ----

  /** Aggregates Spark's scheduler events: jobs, stages, tasks, task CPU,
    * shuffle and spill bytes, busy wall time (some job running), and
    * task CPU per job group (one group per registry entry). */
  final class EngineListener extends SparkListener {
    private val stageGroup = TrieMap.empty[Int, String]
    private var running = 0
    private var busySince = 0L
    @volatile var busyMs = 0L
    def busyNow(nowMs: Long): Long = synchronized {
      busyMs + (if (running > 0) nowMs - busySince else 0L)
    }
    override def onJobStart(e: SparkListenerJobStart): Unit = {
      add("engine.jobs", 1)
      val group = Option(e.properties).flatMap(p => Option(p.getProperty("spark.jobGroup.id")))
      group.foreach(g => e.stageIds.foreach(id => stageGroup.put(id, g)))
      synchronized { if (running == 0) busySince = e.time; running += 1 }
    }
    override def onJobEnd(e: SparkListenerJobEnd): Unit = synchronized {
      running -= 1
      if (running == 0) busyMs += e.time - busySince
    }
    override def onStageCompleted(e: SparkListenerStageCompleted): Unit = {
      add("engine.stages", 1)
      val m = e.stageInfo.taskMetrics
      if (m != null) {
        add("engine.shuffle_write_bytes", m.shuffleWriteMetrics.bytesWritten.toDouble)
        add("engine.shuffle_read_bytes", m.shuffleReadMetrics.totalBytesRead.toDouble)
        add("engine.spill_bytes", (m.memoryBytesSpilled + m.diskBytesSpilled).toDouble)
      }
    }
    override def onTaskEnd(e: SparkListenerTaskEnd): Unit = {
      add("engine.tasks", 1)
      val m = e.taskMetrics
      if (m != null) {
        val cpuMs = m.executorCpuTime / 1e6
        add("engine.task_cpu_ms", cpuMs)
        stageGroup.get(e.stageId).foreach(g => add(s"queries.$g.task_cpu_ms", cpuMs))
      }
    }
  }

  @volatile private var engine: EngineListener = _

  def install(spark: SparkSession): Unit = {
    engine = new EngineListener
    spark.sparkContext.addSparkListener(engine)
  }

  /** Waits until the listener bus has delivered every event posted so
    * far, so counters read after a unit include that unit's work. */
  def drain(spark: SparkSession): Unit =
    if (on) org.apache.spark.GraftbenchAccess.drainListenerBus(spark.sparkContext)

  // ---- snapshots of whole-JVM and engine counters ----

  private val osBean = ManagementFactory.getOperatingSystemMXBean
    .asInstanceOf[com.sun.management.OperatingSystemMXBean]
  private val threadBean = ManagementFactory.getThreadMXBean
    .asInstanceOf[com.sun.management.ThreadMXBean]

  def processCpuS(): Double = osBean.getProcessCpuTime / 1e9

  /** Counters whose per-unit delta is a per-layer metric. */
  def snapshot(): Map[String, Double] = {
    val base = Map(
      "jvm.gc_ms" -> ManagementFactory.getGarbageCollectorMXBeans.asScala
        .map(_.getCollectionTime.toDouble).sum,
      "jvm.alloc_mb" -> threadBean.getTotalThreadAllocatedBytes / 1048576.0,
      "jvm.jit_ms" -> ManagementFactory.getCompilationMXBean.getTotalCompilationTime.toDouble,
      "codegen.compiles" ->
        org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME.getCount.toDouble,
      "codegen.compile_ms" -> {
        val h = org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME
        h.getSnapshot.getMean * h.getCount
      })
    val busy = if (engine == null) 0.0 else engine.busyNow(System.currentTimeMillis()).toDouble
    base ++ counters.map { case (k, v) => k -> v.sum() } + ("engine.busy_ms" -> busy)
  }

  /** Heap in use after forced full collections. The pauses let Spark's
    * ContextCleaner drop the blocks of broadcasts and shuffles whose
    * driver-side handles the previous collection freed. */
  def retainedHeapMb(): Double = {
    val mem = ManagementFactory.getMemoryMXBean
    (1 to 3).foreach { _ => mem.gc(); Thread.sleep(300) }
    mem.getHeapMemoryUsage.getUsed / 1048576.0
  }
}
