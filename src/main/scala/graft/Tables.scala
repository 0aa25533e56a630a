package graft

import org.apache.spark.sql.{DataFrame, SparkSession}
import org.apache.spark.sql.functions._

/** Loaders for the driver-generated parquet tables (TESTDATA.md).
  *
  * Each table is a single parquet file per scale-factor directory; at
  * cluster scale the same call reads a partitioned directory — Spark's
  * parquet source handles both, with filter/column pushdown intact.
  */
object Tables {
  val all: Seq[String] = Seq(
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings")

  /** The analyzed DataFrame of `dir`'s table `name`, memoized per
    * (session, dir, table) in [[graft.util.CorpusMemo]]: `spark.read.parquet`
    * re-lists the path and re-reads a parquet footer on every call,
    * driver-side single-threaded work that each of the ~400 load() calls
    * of a full 185-entry pass would re-pay for the same ten tables. A
    * DataFrame is a plan, not data: every execution still scans the
    * parquet, so the memo only dedups metadata resolution, as the
    * temp-view path (registerAll) does for SQL entries. An in-place
    * rewrite of `dir` changes its fingerprint, so the next load()
    * resolves the table again. */
  def load(spark: SparkSession, dir: String, name: String): DataFrame = {
    // events.parquet carries TIMESTAMP(NANOS); Spark only reads those as
    // long when this legacy flag is on (SPARK-40819). Harmless elsewhere.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    // Every query path goes through here, so the session always has the
    // graft native functions available (Column API and spark.sql alike).
    graft.functions.GraftFunctions.register(spark)
    graft.util.CorpusMemo.get(spark, dir, s"table/$name")(spark.read.parquet(s"$dir/$name.parquet"))
  }

  /** events with `ts` as a proper TimestampType (µs), whatever physical
    * type the generated parquet carries for it:
    *  - TIMESTAMP(NANOS) arrives as long (nanosAsLong) → floor to micros,
    *    exactly what DuckDB's TIMESTAMP_NS→TIMESTAMP cast does;
    *  - TIMESTAMP(MICROS, isAdjustedToUTC=false) arrives as
    *    TIMESTAMP_NTZ → cast to TimestampType (sessions run in UTC, so
    *    wall times and instants coincide, matching DuckDB's naive read);
    *  - TimestampType passes through. */
  def events(spark: SparkSession, dir: String): DataFrame = {
    val raw = load(spark, dir, "events")
    import org.apache.spark.sql.types._
    raw.schema("ts").dataType match {
      case LongType => raw.withColumn("ts", timestamp_micros(expr("ts div 1000")))
      case TimestampNTZType => raw.withColumn("ts", col("ts").cast(TimestampType))
      case _ => raw
    }
  }

  /** Register every table as a temp view so spark.sql(...) works too. */
  def registerAll(spark: SparkSession, dir: String): Unit = {
    all.filterNot(_ == "events")
      .foreach(n => load(spark, dir, n).createOrReplaceTempView(n))
    events(spark, dir).createOrReplaceTempView("events")
  }
}
