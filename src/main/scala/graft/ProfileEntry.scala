package graft

import org.apache.spark.scheduler.{SparkListener, SparkListenerJobEnd, SparkListenerJobStart, SparkListenerStageCompleted}

/** Dev profiling main (not part of the contract): run one entry N times
  * in one session and attribute wall time to Spark JOBS via a listener —
  * submit→complete per job, plus the GAPS between jobs (driver-side
  * planning/analysis/collect work no job accounts for). Built for the
  * r13 finding that iterative multi-job entries inflate 3-6x on hosts
  * with slow single-thread driver work; this tells us whether an
  * entry's seconds live in tasks or in the driver.
  *
  * Usage: runMain graft.ProfileEntry <sfDir> <name> [reps=3]
  */
object ProfileEntry {
  def main(args: Array[String]): Unit = {
    val sfDir = args.headOption.getOrElse("/root/testdata/sf0.1")
    val name = args(1)
    val reps = args.lift(2).map(_.toInt).getOrElse(3)
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)

    val jobs = new java.util.concurrent.ConcurrentHashMap[Int, (Long, String)]()
    val done = new java.util.concurrent.ConcurrentLinkedQueue[(Int, Long, Long, String, Int)]()
    val stageTasks = new java.util.concurrent.atomic.AtomicLong(0)
    spark.sparkContext.addSparkListener(new SparkListener {
      override def onJobStart(js: SparkListenerJobStart): Unit =
        jobs.put(js.jobId, (js.time,
          Option(js.properties).flatMap(p => Option(p.getProperty("spark.job.description"))).getOrElse("")))
      override def onJobEnd(je: SparkListenerJobEnd): Unit = {
        val (t0, desc) = jobs.getOrDefault(je.jobId, (je.time, "?"))
        done.add((je.jobId, t0, je.time, desc, 0))
      }
      override def onStageCompleted(sc: SparkListenerStageCompleted): Unit =
        stageTasks.addAndGet(sc.stageInfo.numTasks.toLong)
    })

    val fn = SparkEntry.queries(name)
    for (rep <- 1 to reps) {
      done.clear()
      val t0 = System.nanoTime()
      val cnt = fn(spark, sfDir).count()
      val wall = (System.nanoTime() - t0) / 1e9
      spark.catalog.clearCache()
      Thread.sleep(300) // let listener events drain
      val evs = done.toArray(Array.empty[(Int, Long, Long, String, Int)]).sortBy(_._2)
      val jobSec = evs.map(e => (e._3 - e._2) / 1e3).sum
      println(f"== $name rep $rep: wall $wall%.2f s, rows $cnt, jobs ${evs.length}, in-job $jobSec%.2f s, driver-gap ${wall - jobSec}%.2f s")
      var prevEnd = 0L
      evs.foreach { case (id, s, e, desc, _) =>
        val gap = if (prevEnd == 0) 0.0 else (s - prevEnd) / 1e3
        prevEnd = math.max(prevEnd, e)
        println(f"  job $id%3d ${(e - s) / 1e3}%6.2f s  (gap before: $gap%5.2f s)  ${desc.take(60)}")
      }
    }
    spark.stop()
  }
}
