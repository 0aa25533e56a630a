package graft

import org.apache.spark.sql.execution.FormattedMode

/** Dev main (not part of the contract): dump `.explain("formatted")`
  * for declared queries to files, for the optimization-round plan
  * evidence (`plans/rNN/<query>_{before,after}.txt`). Builds each
  * query's DataFrame against the given data dir and writes the
  * formatted plan WITHOUT executing it — plan shape, join strategy,
  * Exchange count, PushedFilters/ReadSchema are all visible pre-run
  * (AQE is off in GraftSession). Time a subset with Bench and
  * `SPARK_GRAFT_QUERIES`.
  *
  * Usage: runMain graft.PlanDump <outDir> <suffix> [sfDir] [q1,q2,...]
  *   suffix: appended as _<suffix>.txt (e.g. "before", "after")
  *   queries: comma list; default = all declared entries
  */
object PlanDump {
  def main(args: Array[String]): Unit = {
    val outDir = args(0)
    val suffix = args(1)
    val sfDir = args.lift(2).getOrElse("/root/testdata/sf0.1")
    val names = args.lift(3).map(_.split(",").map(_.trim).toSet)
    // the bench session, so the dumped plans are the measured ones
    val spark = GraftSession.local(sys.env.getOrElse("SPARK_GRAFT_CPUS", "32").toInt)
    spark.sparkContext.setLogLevel("ERROR")
    java.nio.file.Files.createDirectories(java.nio.file.Paths.get(outDir))
    val sel = SparkEntry.queries.toSeq.sortBy(_._1)
      .filter { case (n, _) => names.forall(_.contains(n)) }
    for ((name, fn) <- sel) {
      try {
        val df = fn(spark, sfDir)
        val plan = df.queryExecution.explainString(FormattedMode)
        java.nio.file.Files.writeString(
          java.nio.file.Paths.get(outDir, s"${name}_$suffix.txt"), plan)
        println(s"[plandump] $name -> ${name}_$suffix.txt (${plan.length} chars)")
      } catch {
        case e: Throwable =>
          println(s"[plandump] $name FAILED: ${e.getClass.getSimpleName}: ${e.getMessage}")
      }
    }
    spark.stop()
  }
}
