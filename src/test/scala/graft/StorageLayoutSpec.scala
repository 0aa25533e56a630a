package graft

import java.nio.file.Files
import org.apache.spark.sql.functions._

/** Storage-layout levers for 100 TB (SURVEY.md §4): bucketed tables
  * co-locate joins (no exchange), partitioned layouts prune scans.
  * Verified against the actual physical plans, not just asserted. */
class StorageLayoutSpec extends SparkSpec {
  import spark.implicits._

  private def plan(df: org.apache.spark.sql.DataFrame): String =
    df.queryExecution.executedPlan.toString

  test("bucketed tables join with zero exchanges") {
    val orders = Tables.load(spark, Sf0001, "orders")
    val lineitem = Tables.load(spark, Sf0001, "lineitem")
    orders.write.mode("overwrite")
      .bucketBy(8, "o_orderkey").sortBy("o_orderkey")
      .saveAsTable("orders_b")
    lineitem.write.mode("overwrite")
      .bucketBy(8, "l_orderkey").sortBy("l_orderkey")
      .saveAsTable("lineitem_b")
    // disable broadcast so the join would otherwise need a shuffle
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try {
      // the JOIN must read bucket-aligned scans with no exchange below it
      // (the aggregate after it shuffles its few groups, which is fine)
      val joined = spark.table("lineitem_b")
        .join(spark.table("orders_b"),
          $"l_orderkey" === $"o_orderkey")
        .select($"l_orderkey", $"o_orderstatus")
      joined.collect() // the final plan, also under AQE
      val p = plan(joined)
      assert(p.contains("SortMergeJoin"), s"expected a sort-merge join:\n$p")
      assert(!p.contains("Exchange hashpartitioning"),
        s"bucketed join still shuffles:\n$p")
      // cross-check the result against the plain-table join
      val expect = lineitem.join(orders, $"l_orderkey" === $"o_orderkey")
        .groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      val got = joined.groupBy($"o_orderstatus").agg(count(lit(1)).as("n"))
        .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
      assert(got === expect)
    } finally {
      spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10485760")
      spark.sql("DROP TABLE IF EXISTS orders_b")
      spark.sql("DROP TABLE IF EXISTS lineitem_b")
    }
  }

  test("dedup pipeline materializes a partitioned kept-corpus; lang scans prune") {
    import graft.functions.Text
    import graft.operators.{DedupClusters, SimilarityJoin}
    // the d13->d17 decision, carried through to the actual artifact a
    // training pipeline ships: the kept corpus written partitioned by
    // lang, so downstream per-language jobs scan only their slice
    val d = Tables.load(spark, Sf0001, "documents")
    val sets = d.select($"doc_id", Text.wordShingles($"text", 3).as("sh"))
    val edges = SimilarityJoin.jaccard(sets, "doc_id", "sh", 0.5)
      .select($"a_id", $"b_id")
    val labels = DedupClusters.assign(d.select($"doc_id"), edges)
    val kept = d.join(labels, "doc_id").filter($"doc_id" === $"cluster_id")
    val out = Files.createTempDirectory("graft-kept-").toString
    kept.write.mode("overwrite").partitionBy("lang").parquet(out)

    // the artifact must agree with d17's accounting, per language
    val back = spark.read.parquet(out)
    val gotPerLang = back.groupBy($"lang").count()
      .collect().map(r => r.getString(0) -> r.getLong(1)).toMap
    val d17PerLang = SparkEntry.queries("d17_dedup_corpus")(spark, Sf0001)
      .collect().map(r => r.getString(0) -> r.getLong(2)).toMap
    assert(gotPerLang === d17PerLang)

    // and a single-language read must prune at the partition level
    val one = back.filter($"lang" === "en")
    one.collect()
    val p = plan(one)
    assert(p.contains("PartitionFilters") && p.contains("en"),
      s"no partition pruning on lang:\n$p")
  }

  test("partitioned layout prunes partitions at the scan") {
    val out = Files.createTempDirectory("graft-part-").toString
    Tables.events(spark, Sf0001)
      .withColumn("day", date_format($"ts", "yyyy-MM-dd"))
      .write.mode("overwrite").partitionBy("day").parquet(out)
    val days = spark.read.parquet(out).select($"day").distinct().count()
    assert(days > 3, "need multiple partitions for a pruning test")
    val one = spark.read.parquet(out).filter($"day" === "2024-01-02")
    one.collect()
    val p = one.queryExecution.executedPlan.toString
    // the day filter must become a partition filter, not a data filter
    assert(p.contains("PartitionFilters") && p.contains("2024-01-02"),
      s"no partition pruning visible:\n$p")
    val scanned = one.queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    val total = spark.read.parquet(out).queryExecution.executedPlan.collectLeaves()
      .map(_.metrics.get("numFiles").map(_.value).getOrElse(0L)).sum
    assert(scanned < math.max(total, days), s"scanned $scanned files of $total")
  }
}
