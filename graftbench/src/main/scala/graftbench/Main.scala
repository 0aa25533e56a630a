package graftbench

import java.nio.charset.StandardCharsets
import java.nio.file.{Files, Path, Paths}
import org.apache.spark.sql.SparkSession

/** One benchmark run in one JVM: set up, warm, measure a fixed number of
  * units of one workload, check every output, write the result as JSON.
  *
  * Usage (run.py passes these):
  *   graftbench.Main --workload W --seed N --warm W --units U --work DIR
  *     --out FILE --launch-ns EPOCH_NS [--trace 0|1]
  *     [--fault NAME] [--tables DIR]
  *
  * The launch time is the wall clock (epoch nanoseconds) at which the
  * caller started this JVM, so set-up time covers JVM start-up as well.
  */
object Main {
  final case class Args(
      workload: String, seed: Long, units: Int, work: Path, out: Path,
      launchNs: Long, trace: Boolean,
      fault: Option[String], tables: Option[String], warm: Int)

  def parse(a: Array[String]): Args = {
    val m = a.grouped(2).collect { case Array(k, v) => k.stripPrefix("--") -> v }.toMap
    Args(
      workload = m("workload"), seed = m("seed").toLong,
      units = m("units").toInt,
      work = Paths.get(m("work")).toAbsolutePath, out = Paths.get(m("out")),
      launchNs = m("launch-ns").toLong,
      trace = m.get("trace").contains("1"),
      fault = m.get("fault"), tables = m.get("tables"),
      warm = m("warm").toInt)
  }

  def epochNs(): Long = {
    val i = java.time.Instant.now()
    i.getEpochSecond * 1000000000L + i.getNano
  }

  def session(work: Path): SparkSession = {
    val s = SparkSession.builder()
      .master("local[1]")
      .appName("graftbench")
      .config("spark.sql.extensions", "graft.GraftExtensions")
      .config("spark.sql.shuffle.partitions", "4")
      .config("spark.sql.session.timeZone", "UTC")
      .config("spark.sql.adaptive.enabled", "false")
      .config("spark.ui.enabled", "false")
      .config("spark.local.dir", work.resolve("spark-local").toString)
      .config("spark.sql.warehouse.dir", work.resolve("warehouse").toString)
      .config("spark.sql.streaming.numRecentProgressUpdates", "100000")
      .getOrCreate()
    s.sparkContext.setLogLevel("ERROR")
    s
  }

  def main(argv: Array[String]): Unit = {
    val args = parse(argv)
    Files.createDirectories(args.work)
    Trace.on = args.trace
    val spark = session(args.work)
    val workload: Workload = args.workload match {
      case "ingest_backlog" => new Backlog(spark, args)
      case "ingest_live" => new Live(spark, args)
      case "analytics_mix" => new Mix(spark, args)
      case other => throw new IllegalArgumentException(s"unknown workload '$other'")
    }
    if (args.trace) Trace.install(spark)
    workload.open()
    val setupWallS = (epochNs() - args.launchNs) / 1e9
    val setupCpuS = Trace.processCpuS()
    val r = Runner.run(spark, workload, args)
    val result = Json.obj(r.fields ++ Seq("setup_s" -> Json.num(setupCpuS),
      "setup_wall_s" -> Json.num(setupWallS)): _*)
    workload.close()
    Files.write(args.out, result.getBytes(StandardCharsets.UTF_8))
    spark.stop()
  }
}
