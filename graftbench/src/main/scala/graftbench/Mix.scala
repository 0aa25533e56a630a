package graftbench

import graft.SparkEntry
import java.nio.file.{Files, Path, StandardCopyOption}
import org.apache.spark.sql.{DataFrame, SparkSession}
import scala.collection.mutable

/** analytics_mix: a closed loop with one client. A unit is one pass over
  * a fixed list of registry entries, on a fresh copy of the generated
  * tables; every output column is materialised through Spark's `noop`
  * writer. An operation is one entry execution. The first warm pass is
  * the check pass: it writes every entry's output as parquet, with the
  * entries' oracle SQL, for the DuckDB comparison made by run.py. It is
  * the first so that the classes the parquet writer loads are compiled
  * in the warm passes after it, not charged to the first measured pass.
  */
final class Mix(spark: SparkSession, args: Main.Args) extends Workload {
  private val tables: Path = java.nio.file.Paths.get(args.tables.getOrElse(
    throw new IllegalArgumentException("analytics_mix needs --tables")))
  private val base = args.work.resolve("mix")
  private val checkDir = base.resolve("check")
  private lazy val registry = SparkEntry.queries
  private val entries = Layers.MixEntries
  private val passWallMs = mutable.ArrayBuffer.empty[Double]
  private val entryWallMs = mutable.Map.empty[String, Double].withDefaultValue(0.0)
  private val throws = mutable.Map.empty[String, Int].withDefaultValue(0)
  private var warmThrows = 0
  private var measuredPasses = 0

  /** A fresh copy of the generated tables: new files, so every memo keyed
    * by corpus identity is rebuilt, as for a new day's corpus. */
  private def freshCopy(name: String): Path = {
    val dir = base.resolve(name)
    Files.createDirectories(dir)
    val s = Files.list(tables)
    try s.forEach(f => Files.copy(f, dir.resolve(f.getFileName), StandardCopyOption.REPLACE_EXISTING))
    finally s.close()
    dir
  }

  private def delete(p: Path): Unit = if (Files.exists(p)) {
    val s = Files.walk(p)
    try s.sorted(java.util.Comparator.reverseOrder()).forEach(f => Files.delete(f))
    finally s.close()
  }

  override def open(): Unit = {
    val dir = freshCopy("pass-0")
    graft.Tables.all.filter(t => Files.exists(dir.resolve(s"$t.parquet")))
      .foreach(t => graft.Tables.load(spark, dir.toString, t))
    entries.foreach(e => require(registry.contains(e), s"no registry entry $e"))
  }

  private def runEntry(entry: String, dir: Path)(materialise: DataFrame => Unit): Unit = {
    spark.sparkContext.setJobGroup(Layers.shortId(entry), entry)
    try materialise(registry(entry)(spark, dir.toString))
    finally spark.sparkContext.clearJobGroup()
  }

  override def unit(i: Int, measured: Boolean): Unit = {
    val dir = if (i == 0) base.resolve("pass-0") else freshCopy(s"pass-$i")
    val checkPass = i == 0
    val t0 = System.nanoTime()
    entries.foreach { e =>
      val e0 = System.nanoTime()
      try Trace.span(s"entry.$e")(runEntry(e, dir) { df =>
        if (checkPass) df.write.mode("overwrite").parquet(checkDir.resolve(e).toString)
        else df.write.format("noop").mode("overwrite").save()
      })
      catch {
        case t: Throwable if scala.util.control.NonFatal(t) =>
          System.err.println(s"entry $e threw: $t")
          if (measured) throws(e) += 1 else warmThrows += 1
      }
      if (measured) entryWallMs(e) += (System.nanoTime() - e0) / 1e6
    }
    if (checkPass) {
      val oracles = entries.flatMap(e => SparkEntry.oracleSql.get(e).map(e -> Json.str(_)))
      Files.write(checkDir.resolve("oracle_sql.json"), Json.obj(oracles: _*).getBytes("UTF-8"))
    }
    if (measured) { passWallMs += (System.nanoTime() - t0) / 1e6; measuredPasses += 1 }
    delete(dir)
  }

  override def check(): Check =
    Check(attempted = measuredPasses.toLong * entries.length,
      failed = throws.values.sum.toLong, warmFailed = warmThrows.toLong,
      problems = throws.toSeq.map { case (e, n) => s"$e threw $n times" })

  override def latenciesMs: Seq[Double] = passWallMs.toSeq

  override def extra: Seq[(String, String)] = Seq(
    "measured_passes" -> Json.num(measuredPasses.toLong),
    "entry_throws" -> Json.obj(throws.toSeq.map { case (e, n) => e -> Json.num(n.toLong) }: _*))

  override def layerMetrics(units: Int): Seq[(String, Double)] =
    entries.map(e => s"queries.${Layers.shortId(e)}.wall_ms" -> entryWallMs(e) / units)
}
